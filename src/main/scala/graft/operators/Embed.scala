package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Native text→vector embedding — the stage that closes the
  * documents→embeddings loop: until round 9 the ANN stack consumed the
  * `embeddings` table as a driver fixture; with this operator a corpus of
  * raw text feeds the six index layouts end-to-end (crawl → curate →
  * embed → index → retrieve, the `cur_pretrain_index` flagship).
  *
  * The embedder is the HASHING TRICK (feature hashing, Weinberger et al.
  * 2009, "Feature Hashing for Large Scale Multitask Learning"): features
  * are unigrams + bigrams (the [[Curation.dsirWeights]] feature set), each
  * occurrence lands in bucket `md5(f) mod dim` with sign ± from an
  * independent md5 digit, and a document's vector is the per-bucket signed
  * occurrence count. Deterministic, engine-portable (the same md5-prefix
  * primitive every sampler here uses — DuckDB replays it verbatim), and
  * MODEL-FREE: there is nothing to train, so the "frozen model" problems
  * the ANN lifecycle machinery solves for trained quantizers don't exist —
  * any two workers embed the same document identically forever, and
  * incremental corpus growth embeds new documents with zero coordination.
  *
  * Values are signed integer counts stored as float — exactly
  * representable, so SQL twins reproduce them bit-for-bit, and downstream
  * cosine (scale-invariant) needs no normalization pass. Norms are
  * integer-valued doubles, so even unordered SUM accumulation of dots is
  * exact (≪ 2^53) — the one embedding family whose brute-force oracle
  * needs no term-chain trick.
  *
  * Scale: one linear explode of the corpus, one partial-aggregated
  * (doc, bucket) count (map-side combine eats the duplicate tokens), one
  * per-doc assembly bounded by `dim` entries. No driver state, no
  * collect, no shuffle wider than the (doc, bucket) pairs.
  */
object Embed {

  /** Signed hashed-TF document vectors: (vec_id, embedding array<float>).
    *
    * `vec_id` is the input's `doc_id` so the result drops straight into
    * every `embeddings`-shaped consumer ([[Similarity]], [[Ivf]], [[Pq]],
    * …). Documents with text (all of them — even empty text yields one
    * empty-string token) each emit exactly one row.
    */
  def hashedTf(documents: DataFrame, dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim=$dim must be positive")
    // fused unigram+bigram feature pass (graft.plans.TokenBigramFeats):
    // the concat(tokens, bigrams) spelling re-evaluated the split child per
    // reference and built bigrams via interpreted HOF closures
    val feats = graft.plans.TokenizerKernels.tokenBigramFeats(col("text"))
    // ONE dense aggregation replaces sum-by-(doc,bucket) → collect_list →
    // per-grid map lookups: same long sums, one Exchange instead of two
    // (see graft.plans.DenseSignedSum; the long→float cast spelling is the
    // old grid assembly's, unchanged)
    documents
      .select(col("doc_id"), explode(feats).as("f"))
      .select(col("doc_id"),
        Curation.hashBucket(col("f"), dim).as("b"),
        signOf(col("f")).as("sgn"))
      .groupBy("doc_id")
      .agg(graft.plans.Aggregates.denseSignedSum(col("b"), col("sgn"), dim)
        .as("cs"))
      .select(col("doc_id").as("vec_id"),
        transform(col("cs"), c => c.cast("float")).as("embedding"))
  }

  /** IDF-weighted [[hashedTf]] — the textbook retrieval upgrade: each
    * occurrence contributes ±idf(f) instead of ±1, so ubiquitous tokens
    * (stopwords, boilerplate) stop dominating the cosine and rare
    * discriminative tokens drive it (the measured hashed-TF pair histogram
    * sat at 0.5–0.7 for generic same-language pairs — idf weighting is
    * what separates that mass from true near-dups).
    *
    * Exactness contract: idf is quantized to the 1e-3 integer grid
    * (idf_q = ⌊ln(N/df)·1000 + 0.5⌋, a long), bucket values are exact
    * integer sums of ±idf_q, and the float storage stays exact while
    * |Σ| < 2²⁴ — with idf_q ≤ ~15 000 at any realistic corpus that allows
    * ~1 000 same-bucket high-idf occurrences per document; degenerate
    * inputs beyond it would lose float exactness, not correctness.
    * The df table is vocabulary-sized (one distinct + keyed count), the
    * idf join is feature-keyed — both linear; N is one metadata count()
    * (the [[graft.operators.Similarity.autoNlist]] discipline).
    *
    * `downscaleBits > 0` rescales every element by 2^-downscaleBits — an
    * EXACT exponent shift (float keeps the significand while |c| < 2²⁴,
    * the same envelope as the unscaled form) that leaves every cosine
    * bit-identical (numerator and denominator scale by the same power of
    * two, and IEEE rounding commutes with powers of two). Use it when the
    * vectors feed the integer-grid IVF machinery: raw idf-weighted counts
    * reach ~5·10⁴ even at sf0.01, and the quantized coarse-score term
    * v·cq·10³ (cq = v-scale · 10⁶) would overflow 2⁶³ in the 64-term sum
    * past ~10⁴-scale elements; 2⁻¹⁰ brings a 10⁷-count envelope down to
    * ~10⁴, keeping the worst-case sum below 10¹⁷.
    */
  def hashedTfIdf(documents: DataFrame, dim: Int = 64,
                  scope: graft.CacheScope = graft.CacheScope.global,
                  downscaleBits: Int = 0): DataFrame = {
    require(dim > 0, s"dim=$dim must be positive")
    require(downscaleBits >= 0 && downscaleBits < 30,
      s"downscaleBits=$downscaleBits out of [0, 30)")
    val n = documents.count()
    // fused unigram+bigram feature pass (graft.plans.TokenBigramFeats):
    // the concat(tokens, bigrams) spelling re-evaluated the split child per
    // reference and built bigrams via interpreted HOF closures
    val feats = graft.plans.TokenizerKernels.tokenBigramFeats(col("text"))
    // pre-aggregate occurrences to (doc, f, tf) FIRST: one map-side-
    // combined shuffle replaces both the (doc,f) distinct pass and a join
    // against the full per-occurrence stream (measured 7.1 → ~5 s at
    // sf0.1); df then falls out of the same table (its rows ARE the
    // distinct (doc, f) pairs), and tf multiplies the signed idf weight
    val tf = scope.persist(documents
      .select(col("doc_id"), explode(feats).as("f"))
      .groupBy("doc_id", "f").agg(count(lit(1)).as("tf")))
    val idf = tf.groupBy("f").agg(count(lit(1)).as("df"))
      .select(col("f"),
        floor(log(lit(n.toDouble) / col("df")) * 1000.0 + 0.5)
          .cast("long").as("idf_q"))
    tf.join(idf, "f")
      .select(col("doc_id"),
        Curation.hashBucket(col("f"), dim).as("b"),
        (signOf(col("f")) * col("idf_q") * col("tf")).as("w"))
      .groupBy("doc_id")
      .agg(graft.plans.Aggregates.denseSignedSum(col("b"), col("w"), dim)
        .as("cs"))
      .select(col("doc_id").as("vec_id"),
        transform(col("cs"),
          c => (c.cast("double") / math.pow(2.0, downscaleBits))
            .cast("float"))
          .as("embedding"))
  }

  /** The (f, idf_q) vocabulary table [[hashedTfIdf]] derives internally,
    * exposed as a standalone artifact so it can be FROZEN: idf is
    * corpus-global model state — embedding a grown corpus with a freshly
    * recomputed idf changes every UNCHANGED document's vector (df shifts),
    * which would break any incremental contract built on "unchanged text ⇒
    * unchanged vector" (pair carry-over, frozen-quantizer appends). The
    * incremental corpus→index refresh therefore freezes this table like it
    * freezes the coarse quantizer, and re-embeds with
    * [[hashedTfIdfFrozen]]. Same 1e-3-grid law as [[hashedTfIdf]].
    */
  def idfTable(documents: DataFrame): DataFrame = {
    val n = documents.count()
    // fused unigram+bigram feature pass (graft.plans.TokenBigramFeats):
    // the concat(tokens, bigrams) spelling re-evaluated the split child per
    // reference and built bigrams via interpreted HOF closures
    val feats = graft.plans.TokenizerKernels.tokenBigramFeats(col("text"))
    documents
      .select(col("doc_id"), explode(feats).as("f"))
      .groupBy("doc_id", "f").agg(count(lit(1)).as("tf"))
      .groupBy("f").agg(count(lit(1)).as("df"))
      .select(col("f"),
        floor(log(lit(n.toDouble) / col("df")) * 1000.0 + 0.5)
          .cast("long").as("idf_q"))
  }

  /** [[hashedTfIdf]] against a FROZEN idf table (the deployment/serving
    * form — see [[idfTable]]): each occurrence contributes ±idf_q(f)·tf
    * from the GIVEN vocabulary; features absent from it carry no weight
    * (inner join — the standard frozen-model treatment of unseen terms,
    * deterministic and twin-able). With `idf = idfTable(documents)` this
    * equals [[hashedTfIdf]] exactly (asserted in EmbedSpec).
    */
  def hashedTfIdfFrozen(documents: DataFrame, idf: DataFrame, dim: Int = 64,
                        downscaleBits: Int = 0): DataFrame = {
    require(dim > 0, s"dim=$dim must be positive")
    require(downscaleBits >= 0 && downscaleBits < 30,
      s"downscaleBits=$downscaleBits out of [0, 30)")
    // fused unigram+bigram feature pass (graft.plans.TokenBigramFeats):
    // the concat(tokens, bigrams) spelling re-evaluated the split child per
    // reference and built bigrams via interpreted HOF closures
    val feats = graft.plans.TokenizerKernels.tokenBigramFeats(col("text"))
    documents
      .select(col("doc_id"), explode(feats).as("f"))
      .groupBy("doc_id", "f").agg(count(lit(1)).as("tf"))
      .join(idf, "f")
      .select(col("doc_id"),
        Curation.hashBucket(col("f"), dim).as("b"),
        (signOf(col("f")) * col("idf_q") * col("tf")).as("w"))
      .groupBy("doc_id")
      .agg(graft.plans.Aggregates.denseSignedSum(col("b"), col("w"), dim)
        .as("cs"))
      .select(col("doc_id").as("vec_id"),
        transform(col("cs"),
          c => (c.cast("double") / math.pow(2.0, downscaleBits))
            .cast("float"))
          .as("embedding"))
  }

  /** Embed ONE query text to a dense double vector — the raw-text serving
    * entry point's first hop (text in, neighbors out; no vec_id into the
    * embedding table required). Runs [[hashedTf]] on a one-row frame so
    * the query embeds through EXACTLY the corpus embedder (bit-parity
    * with the stored vector of an identical corpus text — asserted in
    * EmbedSpec), then collects the single bounded row. hashedTf is
    * model-free, so query embedding needs zero coordination with the
    * corpus — the property that makes text-in serving one expression.
    */
  def embedTextVec(spark: org.apache.spark.sql.SparkSession, text: String,
                   dim: Int = 64): Array[Double] = {
    import spark.implicits._
    hashedTf(Seq((0L, text)).toDF("doc_id", "text"), dim)
      .select(transform(col("embedding"), _.cast("double")).as("e"))
      .collect()(0).getSeq[Double](0).toArray
  }

  /** Materialized embedding store — embed once, retrieve many: the
    * documents→vectors analog of the materialized IVF lists. A 100 TB
    * deployment never re-embeds its corpus per query; the embedding table
    * is a first-class artifact written once and served to every retrieval
    * consumer (brute-force anchors, index builds, fusion legs). Memoized
    * per (storeKey, corpus content, dim) within a process
    * ([[graft.Artifacts]]); a fresh process rewrites. The embedder is
    * deterministic, so materialization changes COST only, never results —
    * consumers keep their existing compute-twin oracles.
    */
  def materializedHashedTf(storeKey: String, documents: DataFrame,
                           dim: Int = 64): DataFrame = {
    val spark = documents.sparkSession
    val path = graft.Artifacts.dir("embstore", storeKey, Seq(documents), dim) { p =>
      hashedTf(documents, dim).write.mode("overwrite").parquet(p)
    }
    spark.read.parquet(path)
  }

  /** ±1 from md5 hex digit 9 of the feature — independent of the bucket
    * digits (chars 1–8), per the hashing-trick construction (the sign hash
    * makes the bucketed inner product an unbiased estimator of the true
    * one). DuckDB twin: `('0x' || substring(md5(f), 9, 1))::BIGINT % 2`.
    */
  private def signOf(f: Column): Column =
    when(conv(substring(md5(f.cast("string")), 9, 1), 16, 10)
      .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))
}
