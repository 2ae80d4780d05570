package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps

/** BM25 lexical retrieval + hybrid (reciprocal-rank) fusion — the text-side
  * retrieval twin of the ANN stack, closing the standard hybrid-RAG pair:
  * sparse lexical ranking for exact-term intent, dense cosine for
  * paraphrase, fused by reciprocal rank (Cormack et al. 2009, the
  * score-free fusion that needs no cross-model calibration).
  *
  * Scoring is Robertson/Spärck-Jones BM25 with Lucene's non-negative idf,
  * at the standard k1 = 1.2, b = 0.75 (the derived constants 2.2 / 0.3 /
  * 0.9 are literals on BOTH engine sides — computing k1+1 at runtime can
  * land a half-ulp off the literal and flip a floor):
  *
  *   score(D, Q) = Σ_{t ∈ Q} idf(t) · tf·2.2 / (tf + 0.3 + 0.9·dl/avgdl)
  *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
  *
  * DETERMINISM — the repo's integer-grid discipline: idf is quantized to
  * the 1e-3 grid (⌊ln(·)·1000 + 0.5⌋, one transcendental absorbed by the
  * grid — the [[Embed.hashedTfIdf]] law), each (doc, term) contribution is
  * quantized to a long on the 1e-3 score grid (every floor input is a
  * fixed tree of IEEE ops over exact integers — tf, dl, df are counts,
  * avgdl is one double division of two exact longs — identical in any
  * IEEE-754 engine), and the document score is an exact integer sum of
  * those longs. DuckDB replays the whole chain (TextQueries.bm25Ctes).
  *
  * Scale: postings = one explode + one map-side-combined (doc, term)
  * count; df/dl fall out of the same table; N and Σdl are one metadata
  * aggregate; scoring joins postings against the (broadcast-small) query
  * term set, so candidate work is Σ_t df(t) over QUERY terms only — the
  * inverted-index access pattern, never a corpus×query scan. The ranking
  * window is query-keyed (WindowGroupLimit: ≤ k rows per query per
  * partition survive the shuffle).
  */
object Bm25 {

  /** Materialized postings — the inverted index as a first-class artifact
    * (the lexical analog of [[Embed.materializedHashedTf]]): the
    * (doc_id, t, tf) table written once per corpus key and read by every
    * BM25 consumer (df, dl and the scoring join all derive from it).
    * Memoized per (storeKey, corpus content) ([[graft.Artifacts]]).
    * Deterministic, so materialization changes cost only, never results.
    */
  def materializedPostings(storeKey: String,
                           documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val path = graft.Artifacts.dir("postings", storeKey, Seq(documents)) { p =>
      documents.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
        .write.mode("overwrite").parquet(p)
    }
    spark.read.parquet(path)
  }

  /** Resolved store path of a materialized postings key: the latest
    * [[materializedPostings]] build under it in this JVM, if any.
    */
  def storePath(storeKey: String): Option[String] =
    graft.Artifacts.latest[String]("postings", storeKey)

  /** Append-only postings maintenance — the lexical analog of the ANN
    * frozen-model append: the inverted index grows by tokenizing ONLY the
    * new batch (one explode + map-side-combined partial agg over the
    * batch, cost ∝ batch never corpus), landed as a deterministic
    * per-batch file so crash replays no-op. df/dl/idf derive from the
    * postings TABLE at probe time, so a probe over the appended store
    * scores exactly as a from-scratch build over the union corpus — there
    * is no frozen model to drift (the `text_bm25_incr` oracle proves the
    * equality cross-engine).
    */
  def appendPostings(storeKey: String, newDocs: DataFrame, batchId: Long): Unit = {
    val path = storePath(storeKey).orNull
    require(path != null, s"no materialized postings store under key " +
      s"'$storeKey' — build the base with materializedPostings first")
    graft.MutationGuard.claim(path)
    val batch = newDocs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    graft.sources.Sinks.appendBatchFileIdempotent(
      batch, path, s"ingest-$batchId.parquet")
  }

  /** Positional postings — (doc_id, pos, t), the phrase-query artifact
    * next to the (doc_id, t, tf) frequency postings: one posexplode, never
    * re-tokenized per probe when materialized
    * ([[materializedPositionalPostings]]).
    */
  def positionalPostings(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "t")))

  /** Materialized positional postings — the phrase index as a write-once
    * artifact (the [[materializedPostings]] treatment for the positional
    * table): at 100 TB the corpus is tokenized ONCE and every phrase
    * probe reads (doc_id, pos, t) rows keyed by the probe terms, never
    * the corpus text. Deterministic, so materialization changes cost
    * only, never results.
    */
  def materializedPositionalPostings(storeKey: String,
                                     documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val path = graft.Artifacts.dir("pospostings", storeKey, Seq(documents)) { p =>
      positionalPostings(documents).write.mode("overwrite").parquet(p)
    }
    spark.read.parquet(path)
  }

  /** Resolved store path of a materialized positional-postings key: the
    * latest [[materializedPositionalPostings]] build under it in this JVM,
    * if any.
    */
  def posStorePath(storeKey: String): Option[String] =
    graft.Artifacts.latest[String]("pospostings", storeKey)

  /** Append-only positional-postings maintenance — the [[appendPostings]]
    * law carried over: positions are PER-DOCUMENT offsets, so tokenizing
    * only the new batch and landing it as a deterministic per-batch file
    * yields a table identical to a from-scratch build over the union
    * corpus (append ≡ rebuild — the `text_phrase_incr` oracle proves it
    * cross-engine). Cost ∝ batch, crash replays no-op.
    */
  def appendPositionalPostings(storeKey: String, newDocs: DataFrame,
                               batchId: Long): Unit = {
    val path = posStorePath(storeKey).orNull
    require(path != null, s"no materialized positional-postings store under " +
      s"key '$storeKey' — build the base with materializedPositionalPostings first")
    graft.MutationGuard.claim(path)
    graft.sources.Sinks.appendBatchFileIdempotent(
      positionalPostings(newDocs), path, s"ingest-$batchId.parquet")
  }

  /** Exact phrase retrieval over positional postings — the lexical
    * operator BM25's bag-of-words scoring structurally cannot express
    * ("data processing engine" as a phrase, not three independent terms).
    * Set-oriented like every probe in this engine: `phrases` is a
    * (phrase_id, ppos, term, plen) table; a document position `start`
    * matches a phrase when ALL plen of its offsets hit — the classic
    * positional-index intersection, computed as ONE keyed join
    * (postings ⋈ phrase terms on the term) + a (phrase, doc, start)
    * count-equals-length gate. Emits (phrase_id, doc_id, n_occurrences,
    * rn ≤ k) ranked by (occurrences desc, doc_id).
    *
    * Scale: candidate work is Σ_t df(t) over the PHRASE terms only (the
    * inverted-index law); the gate and counts are keyed partial aggs; the
    * rank window is phrase-keyed (WindowGroupLimit). Nothing scans the
    * corpus text.
    */
  def phraseTopKAll(postings: DataFrame, phrases: DataFrame, k: Int): DataFrame = {
    val hits = postings.join(phrases, postings("t") === phrases("term"))
      .select(col("phrase_id"), col("plen"), col("doc_id"),
        (col("pos") - col("ppos")).as("start"))
    val occs = hits
      .groupBy("phrase_id", "plen", "doc_id", "start")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") === col("plen"))
      .groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
    val w = Window.partitionBy("phrase_id")
      .orderBy(desc("n_occurrences"), col("doc_id"))
    occs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** The corpus' top-`n` trigrams as a phrase table (phrase_id, ppos,
    * term, plen) — the deterministic probe set for [[phraseTopKAll]]'s
    * oracle gate (count desc, lexicographic tie). Trigram discovery is
    * ONE per-document window (positions are dense per-doc offsets by the
    * posexplode construction, so lead(1)/lead(2) over pos ARE the +1/+2
    * neighbors) + one map-side-combined count — the previous two
    * (doc_id, pos) self-joins re-shuffled the postings three times for
    * adjacency the window reads off one sort (guide §2.4).
    */
  def topTrigramPhrases(postings: DataFrame, n: Int): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    // recipe-sized collect (n rows, TakeOrdered — total order): ranks the
    // phrases WITHOUT a partitionless window, the one plan shape the
    // PlansSpec sweep bans
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tri = postings.select(col("doc_id"), col("pos"), col("t").as("t0"))
      .withColumn("t1", lead("t0", 1).over(w))
      .withColumn("t2", lead("t0", 2).over(w))
      .filter(col("t1").isNotNull && col("t2").isNotNull)
      .groupBy("t0", "t1", "t2").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("t0"), col("t1"), col("t2")).limit(n)
      .select("t0", "t1", "t2").as[(String, String, String)].collect()
    tri.zipWithIndex.toSeq.flatMap { case ((a, b, c), i) =>
      Seq((i + 1L, 0L, a), (i + 1L, 1L, b), (i + 1L, 2L, c))
    }.toDF("phrase_id", "ppos", "term").withColumn("plen", lit(3L))
  }


  /** (dl, idf, nDocs, avgdl) derived from a postings table — the scoring
    * constants every BM25 probe needs. These are corpus-version artifacts
    * exactly like the postings themselves (they derive from nothing else),
    * yet every probe in the serving family re-ran both corpus-wide
    * aggregations AND an eager stats action per call. With `share = true`
    * (store-served postings) they are written once as parquet keyed by the
    * postings frame's content token and read back by every consumer — the
    * materialized-store discipline. The compute gate stays honest the
    * dedup_minhash way: `text_bm25_topk` passes shareStats = false and
    * derives them fresh on every bench pass, so the derivation cost keeps
    * its own bench row. Deterministic either way — cost only, never
    * results.
    */
  private def bm25Stats(tf: DataFrame, scope: graft.CacheScope,
                        share: Boolean): (DataFrame, DataFrame, Long, Double) = {
    def derive(): (DataFrame, DataFrame, Long, Double) = {
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val st = dl.agg(count(lit(1)).as("n"), sum("dl").as("sdl")).head()
      val nDocs = st.getLong(0)
      val avgdl = st.getLong(1).toDouble / nDocs
      val idf = tf.groupBy("t").agg(count(lit(1)).as("df"))
        .select(col("t"), floor(
          log(lit(1.0) + (lit(nDocs.toDouble) - col("df").cast("double")
            + lit(0.5)) / (col("df").cast("double") + lit(0.5)))
            * 1000.0 + 0.5).cast("long").as("idf_q"))
      (dl, idf, nDocs, avgdl)
    }
    if (!share) {
      val (dl, idf, n, a) = derive()
      // persist idf: the RM3 variants score two rounds against it
      (dl, scope.persist(idf), n, a)
    } else {
      val spark = tf.sparkSession
      val (dlP, idfP, n, a) = graft.Artifacts.withDir("bm25stats", "", Seq(tf)) { dir =>
        val (dl, idf, n0, a0) = derive()
        dl.write.mode("overwrite").parquet(dir + "/dl")
        idf.write.mode("overwrite").parquet(dir + "/idf")
        (dir + "/dl", dir + "/idf", n0, a0)
      }
      (spark.read.parquet(dlP), spark.read.parquet(idfP), n, a)
    }
  }

  /** Per-(query, document) BM25 top-k over whitespace tokens: queries are
    * corpus documents named by `queryIds` (query_id), their DISTINCT
    * tokens form Q, and every other document containing ≥ 1 query term is
    * ranked. Emits (query_id, doc_id, score_q, rn) — score_q on the 1e-3
    * integer grid, ties toward the lower doc_id. Pass a
    * [[materializedPostings]] frame to serve from the prebuilt inverted
    * index instead of re-tokenizing the corpus per probe.
    */
  def topKAll(documents: DataFrame, queryIds: DataFrame, k: Int,
              scope: graft.CacheScope = graft.CacheScope.global,
              postings: Option[DataFrame] = None,
              shareStats: Boolean = true): DataFrame = {
    val toks = split(col("text"), " ")
    // the postings table — reused by df, dl and the scoring join
    val tf = postings.getOrElse(scope.persist(documents
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))))
    val (dl, idf, nDocs, avgdl) =
      bm25Stats(tf, scope, share = postings.isDefined && shareStats)
    val qterms = documents
      .select(col("doc_id").as("query_id"), explode(toks).as("t"))
      .join(queryIds.select("query_id"), "query_id")
      .select("query_id", "t").distinct()
    val scored = tf.join(qterms, "t")
      .filter(col("doc_id") =!= col("query_id"))
      .join(idf, "t")
      .join(dl, "doc_id")
      .withColumn("term_q", floor(
        (col("idf_q") * col("tf")).cast("double") * lit(2.2)
          / (col("tf").cast("double") + lit(0.3)
            + lit(0.9) * (col("dl").cast("double") / lit(avgdl))) + 0.5)
        .cast("long"))
      .groupBy("query_id", "doc_id").agg(sum("term_q").as("score_q"))
    val w = Window.partitionBy("query_id").orderBy(desc("score_q"), col("doc_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "doc_id", "score_q", "rn")
  }

  /** RAW-TEXT BM25 — the query arrives as TEXT (its distinct whitespace
    * tokens form Q) instead of naming a corpus document: the serving
    * entry point's sparse leg. Same scoring law, grid, and tie-break as
    * [[topKAll]]; no self-exclusion (the query is not a corpus member).
    * Emits (doc_id, score_q, rn ≤ k). Candidate work is Σ_t df(t) over
    * the query's terms — the inverted-index law; the term set is a
    * driver-side literal pushed into the postings scan.
    */
  def topKText(documents: DataFrame, queryText: String, k: Int,
               scope: graft.CacheScope = graft.CacheScope.global,
               postings: Option[DataFrame] = None,
               shareStats: Boolean = true): DataFrame = {
    val terms = queryText.split(" ").filter(_.nonEmpty).distinct.toSeq
    val toks = split(col("text"), " ")
    val tf = postings.getOrElse(scope.persist(documents
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))))
    val (dl, idf, nDocs, avgdl) =
      bm25Stats(tf, scope, share = postings.isDefined && shareStats)
    val scored = tf.filter(col("t").isin(terms: _*))
      .join(idf, "t")
      .join(dl, "doc_id")
      .withColumn("term_q", floor(
        (col("idf_q") * col("tf")).cast("double") * lit(2.2)
          / (col("tf").cast("double") + lit(0.3)
            + lit(0.9) * (col("dl").cast("double") / lit(avgdl))) + 0.5)
        .cast("long"))
      .groupBy("doc_id").agg(sum("term_q").as("score_q"))
    // rank over the k-bounded cut by the broadcast self-join (a single
    // text query has no key to window on; partitionless windows are the
    // banned plan shape)
    Similarity.rankBounded(
      scored.orderBy(desc("score_q"), col("doc_id")).limit(k),
      "score_q", "doc_id", "rn")
  }

  /** RAW-TEXT hybrid serving — [[hybridTopKIvf]] with a text query: the
    * sparse leg ranks by the text's terms ([[topKText]]), the dense leg
    * embeds the SAME text ([[Embed.embedTextVec]]) and probes the doc
    * IVF index, RRF fuses. Emits (doc_id, rrf, rn ≤ k) — no query_id
    * column: the query is the text itself.
    */
  def hybridTopKIvfText(documents: DataFrame, docModel: Ivf.IvfModel,
                        queryText: String, k: Int, poolK: Int = 20,
                        nprobe: Int = 4,
                        scope: graft.CacheScope = graft.CacheScope.global,
                        postings: Option[DataFrame] = None,
                        dim: Int = 64): DataFrame = {
    val spark = documents.sparkSession
    val bm = topKText(documents, queryText, poolK, scope, postings)
      .select(col("doc_id"), col("rn").as("brn"))
    val qVec = Embed.embedTextVec(spark, queryText, dim)
    val vec = Similarity.rankBounded(
        Ivf.probeWithVec(docModel, spark, qVec, poolK, nprobe),
        "cosine", "vec_id", "vrn")
      .select(col("vec_id").as("doc_id"), col("vrn"))
    val fused = vec.join(bm, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("vrn")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("brn")), lit(0.0)))
      .select("doc_id", "rrf")
    Similarity.rankBounded(fused, "rrf", "doc_id", "rn")
      .filter(col("rn") <= k)
      .select("doc_id", "rrf", "rn")
  }

  /** Hybrid retrieval — reciprocal-rank fusion of the BM25 top-`poolK`
    * and the dense-cosine top-`poolK` (over [[Embed.hashedTf]] vectors of
    * the same corpus): rrf = Σ_side 1/(60 + rank), a document absent from
    * a side contributing 0 (the standard RRF with the canonical k = 60).
    * Emits (query_id, doc_id, rrf, rn). Both rank lists are deterministic
    * (score/cosine desc, doc_id ties; zero-norm cosine → NULL, ranked
    * last — the Similarity.topK law), and rrf is a sum of two
    * exactly-reproducible doubles, so the fusion itself is oracle-stable.
    *
    * Scale: the fused window input is ≤ 2·poolK rows per query; the heavy
    * legs are the two retrievals, each with its own scale path (pruned
    * index probes for dense, postings join for sparse) — fusion adds one
    * k-bounded join, nothing corpus-sized.
    */
  /** [[hybridTopKAll]] with the dense leg SERVED THROUGH the doc-level IVF
    * index — the 100×-scale hybrid plan: the sparse leg is already the
    * inverted-index join (work = Σ df over query terms), and this replaces
    * the dense leg's exact corpus scan with [[Ivf.probeAll]] (nprobe/nlist
    * of the materialized lists per query). Fusion is unchanged — RRF over
    * the two k-bounded rank lists. At exhaustive nprobe the dense leg
    * equals the exact scan, so the two forms share their law; pruned, the
    * recall trade is the IVF one, priced by the nprobe curve.
    */
  def hybridTopKIvf(documents: DataFrame, docModel: Ivf.IvfModel,
                    docEmb: DataFrame, queryIds: DataFrame, k: Int,
                    poolK: Int = 20, nprobe: Int = 4,
                    scope: graft.CacheScope = graft.CacheScope.global,
                    postings: Option[DataFrame] = None): DataFrame = {
    val bm = topKAll(documents, queryIds, poolK, scope, postings)
      .select(col("query_id"), col("doc_id"), col("rn").as("brn"))
    val qVecs = docEmb.join(queryIds.select(col("query_id").as("vec_id")),
      Seq("vec_id"), "left_semi")
    val vec = Ivf.probeAll(docModel, qVecs, poolK, nprobe)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rn").as("vrn"))
    val w = Window.partitionBy("query_id").orderBy(desc("rrf"), col("doc_id"))
    vec.join(bm, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("vrn")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("brn")), lit(0.0)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "doc_id", "rrf", "rn")
  }

  /** PSEUDO-RELEVANCE-FEEDBACK query expansion (the RM3 recipe, exact
    * integer form) — the classic lexical fix for vocabulary mismatch: a
    * query about "vector scan" should also surface docs that say "index
    * probe". Round 1 ranks by plain BM25; the top-`fbDocs` feedback docs
    * nominate expansion terms weighted by Σ_d tf(t, d) · idf_q(t) (an
    * exact long — high-idf terms concentrated in the feedback set), the
    * top-`fbTerms` of them (excluding the original query's terms) join
    * the query, and round 2 re-scores with the EXPANDED term set. Same
    * grid, tie, and exclusion laws as [[topKAll]]; emits
    * (doc_id, score_q, rn ≤ k).
    *
    * Scale: both rounds are postings joins (work = Σ df over the term
    * set — the inverted-index law; expansion adds ≤ fbTerms terms); the
    * feedback cut and term cut are k-bounded. Nothing scans the corpus
    * text.
    */
  def topKRm3(documents: DataFrame, queryDocId: Long, k: Int,
              fbDocs: Int = 5, fbTerms: Int = 10,
              scope: graft.CacheScope = graft.CacheScope.global,
              postings: Option[DataFrame] = None,
              shareStats: Boolean = true): DataFrame = {
    val toks = split(col("text"), " ")
    val tf = postings.getOrElse(scope.persist(documents
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))))
    val (dl, idf, nDocs, avgdl) =
      bm25Stats(tf, scope, share = postings.isDefined && shareStats)
    val qterms = scope.persist(documents
      .filter(col("doc_id") === queryDocId)
      .select(explode(toks).as("t")).distinct())
    def scoreWith(terms: DataFrame): DataFrame = tf
      .join(terms, "t")
      .filter(col("doc_id") =!= queryDocId)
      .join(idf, "t")
      .join(dl, "doc_id")
      .withColumn("term_q", floor(
        (col("idf_q") * col("tf")).cast("double") * lit(2.2)
          / (col("tf").cast("double") + lit(0.3)
            + lit(0.9) * (col("dl").cast("double") / lit(avgdl))) + 0.5)
        .cast("long"))
      .groupBy("doc_id").agg(sum("term_q").as("score_q"))
    val fb = scoreWith(qterms)
      .orderBy(desc("score_q"), col("doc_id")).limit(fbDocs)
      .select("doc_id")
    val exp = tf.join(fb, Seq("doc_id"), "left_semi")
      .join(idf, "t")
      .join(qterms, Seq("t"), "left_anti")
      .groupBy("t").agg(sum(col("tf") * col("idf_q")).as("w"))
      .orderBy(desc("w"), col("t")).limit(fbTerms)
      .select("t")
    val expanded = qterms.unionByName(exp).distinct()
    Similarity.rankBounded(
      scoreWith(expanded).orderBy(desc("score_q"), col("doc_id")).limit(k),
      "score_q", "doc_id", "rn")
  }

  /** LATE-INTERACTION MaxSim reranking (the ColBERT serving shape,
    * Khattab & Zaharia 2020, with the repo's model-free embedder): every
    * token POSITION gets its own vector — the hashed-TF embedding of its
    * 3-word context window (prev, token, next; tokens + bigrams, the
    * corpus feature law) — and a candidate document scores
    * Σ_{q pos} max_{d pos} cosine(q vec, d vec): each query position
    * finds its best-matching document position, so local phrasing aligns
    * where one pooled document vector would blur it. Deployed exactly as
    * late interaction is in production: a cheap first stage
    * ([[topKAll]] — the postings join) nominates `firstStageK`
    * candidates, MaxSim reranks ONLY those.
    *
    * Determinism: window counts are exact integers, cosines exact-value
    * doubles (zero-norm → NULL, ignored by the max), per-position maxes
    * are CLAMPED AT 0 (a query position with no positive match
    * contributes nothing — which also makes the twin's sparse
    * shared-bucket join equal to the dense max: absent pairs are 0), each
    * max quantizes to the 1e-6 long grid, and the document score is an
    * exact integer sum. Emits (doc_id, score_ms, rn ≤ k).
    *
    * Scale: cost is firstStageK × |q positions| × |d positions| pairwise
    * sims — the late-interaction rerank budget, independent of corpus
    * size; the query-position vectors broadcast (one document's worth).
    */
  def maxSimRerank(documents: DataFrame, queryDocId: Long, k: Int,
                   firstStageK: Int = 10, dim: Int = 64,
                   scope: graft.CacheScope = graft.CacheScope.global,
                   postings: Option[DataFrame] = None): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val cand = scope.persist(
      topKAll(documents, Seq(queryDocId).toDF("query_id"), firstStageK,
          scope, postings)
        .select("doc_id"))
    val qv = Embed.hashedTf(
        positionWindows(documents.filter(col("doc_id") === queryDocId)), dim)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    maxSimRerankFrom(documents, cand, qv, k, dim)
  }

  /** The late-interaction scoring core shared by the doc-query and
    * raw-text MaxSim forms: `cand(doc_id)` is the first-stage nominee
    * set, `qv(q_id, q_emb)` the query's per-position window vectors;
    * candidates embed their windows, every (q pos, d pos) pair scores
    * the exact cosine, per-q-position maxes clamp at 0 and quantize to
    * the 1e-6 long grid, and candidates rank by the exact integer sum
    * (zero-overlap candidates anchor at score 0 — the sparse twin's
    * left-join law).
    */
  private def maxSimRerankFrom(documents: DataFrame, cand: DataFrame,
                               qv: DataFrame, k: Int,
                               dim: Int): DataFrame = {
    val dv = Embed.hashedTf(
        positionWindows(documents.join(cand, Seq("doc_id"), "left_semi")), dim)
      .select(col("vec_id").as("d_key"), col("embedding").as("d_emb"))
    val scored = dv.crossJoin(broadcast(qv))
      .withColumn("cos",
        nanvl(VectorOps.cosine(col("d_emb"), col("q_emb")),
          lit(null).cast("double")))
      .withColumn("doc_id", shiftright(col("d_key"), 20))
      .groupBy("doc_id", "q_id")
      .agg(greatest(coalesce(max(col("cos")), lit(0.0)), lit(0.0)).as("ms"))
      .withColumn("msq", floor(col("ms") * 1000000.0 + 0.5).cast("long"))
      .groupBy("doc_id").agg(sum("msq").as("score_ms"))
    val anchored = cand.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("score_ms"), lit(0L)).as("score_ms"))
    Similarity.rankBounded(
      anchored.orderBy(desc("score_ms"), col("doc_id")).limit(k),
      "score_ms", "doc_id", "rn")
  }

  /** RAW-TEXT late-interaction rerank — [[maxSimRerank]] with the query
    * arriving as TEXT: the first stage is the text-terms BM25 cut
    * ([[topKText]] — no self-exclusion, the query is not a corpus
    * member), the query-side position vectors embed the literal's own
    * 3-word context windows under the sentinel doc id −1 (the packed
    * (−1, pos) keys never collide with corpus keys), and the scoring
    * core is shared. Emits (doc_id, score_ms, rn ≤ k).
    */
  def maxSimRerankText(documents: DataFrame, queryText: String, k: Int,
                       firstStageK: Int = 10, dim: Int = 64,
                       scope: graft.CacheScope = graft.CacheScope.global,
                       postings: Option[DataFrame] = None): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val cand = scope.persist(
      topKText(documents, queryText, firstStageK, scope, postings)
        .select("doc_id"))
    val qv = Embed.hashedTf(
        positionWindows(Seq((-1L, queryText)).toDF("doc_id", "text")), dim)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    maxSimRerankFrom(documents, cand, qv, k, dim)
  }

  /** RAW-TEXT RM3 — [[topKRm3]] with the query arriving as TEXT: Q = the
    * literal's distinct whitespace tokens, round 1 is the text-terms
    * scoring chain (no self-exclusion anywhere — the query is not a
    * corpus member), the top-`fbDocs` feedback docs nominate
    * `fbTerms` expansion terms by exact Σ tf·idf_q (the literal's own
    * terms excluded), and round 2 re-scores with the expanded set. Same
    * grids and ties as the doc-query form. Emits (doc_id, score_q,
    * rn ≤ k).
    */
  def topKRm3Text(documents: DataFrame, queryText: String, k: Int,
                  fbDocs: Int = 5, fbTerms: Int = 10,
                  scope: graft.CacheScope = graft.CacheScope.global,
                  postings: Option[DataFrame] = None,
                  shareStats: Boolean = true): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val terms = queryText.split(" ").filter(_.nonEmpty).distinct.toSeq
    val toks = split(col("text"), " ")
    val tf = postings.getOrElse(scope.persist(documents
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))))
    val (dl, idf, nDocs, avgdl) =
      bm25Stats(tf, scope, share = postings.isDefined && shareStats)
    def scoreWith(termsDf: DataFrame): DataFrame = tf
      .join(broadcast(termsDf), "t")
      .join(idf, "t")
      .join(dl, "doc_id")
      .withColumn("term_q", floor(
        (col("idf_q") * col("tf")).cast("double") * lit(2.2)
          / (col("tf").cast("double") + lit(0.3)
            + lit(0.9) * (col("dl").cast("double") / lit(avgdl))) + 0.5)
        .cast("long"))
      .groupBy("doc_id").agg(sum("term_q").as("score_q"))
    val qterms = terms.toDF("t")
    val fb = scoreWith(qterms)
      .orderBy(desc("score_q"), col("doc_id")).limit(fbDocs)
      .select("doc_id")
    val exp = tf.join(fb, Seq("doc_id"), "left_semi")
      .filter(!col("t").isin(terms: _*))
      .join(idf, "t")
      .groupBy("t").agg(sum(col("tf") * col("idf_q")).as("w"))
      .orderBy(desc("w"), col("t")).limit(fbTerms)
      .select("t")
    val expanded = qterms.unionByName(exp).distinct()
    Similarity.rankBounded(
      scoreWith(expanded).orderBy(desc("score_q"), col("doc_id")).limit(k),
      "score_q", "doc_id", "rn")
  }

  /** (packed (doc, pos) key, 3-word window text) for every token
    * position — the late-interaction vector unit shared by the single
    * and set rerank forms: each position's text is its (prev, token,
    * next) context window, keyed by [[CorpusIndex.chunkKey]] so the
    * owning doc recovers by a shift.
    */
  private def positionWindows(src: DataFrame): DataFrame = {
    val pp = src.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "t")))
    val prev = pp.select(col("doc_id"), (col("pos") + 1).as("pos"),
      col("t").as("tp"))
    val next = pp.select(col("doc_id"), (col("pos") - 1).as("pos"),
      col("t").as("tn"))
    pp.join(prev, Seq("doc_id", "pos"), "left")
      .join(next, Seq("doc_id", "pos"), "left")
      .select(CorpusIndex.chunkKey(col("doc_id"), col("pos")).as("doc_id"),
        concat_ws(" ", col("tp"), col("t"), col("tn")).as("text"))
  }

  /** SET-oriented [[maxSimRerank]] — every query in `queryIds` reranks
    * its own BM25 top-`firstStageK` in ONE plan: the first stage is the
    * batch postings join ([[topKAll]]), candidate doc windows embed once
    * per DISTINCT candidate doc (shared across queries that nominate
    * it), query windows broadcast (a few documents' worth of
    * positions), and the pairwise-sim work runs as keyed joins — never
    * a per-query driver round-trip. Same grids, clamps, and ties as the
    * single form (which it equals per query — spec-proven). Emits
    * (query_id, doc_id, score_ms, rn ≤ k).
    *
    * Scale: Σ_q firstStageK × |q positions| × |d positions| pairwise
    * sims — the rerank budget scales with the QUERY SET, not the
    * corpus; the ranking window is query-keyed.
    */
  def maxSimRerankAll(documents: DataFrame, queryIds: DataFrame, k: Int,
                      firstStageK: Int = 10, dim: Int = 64,
                      scope: graft.CacheScope = graft.CacheScope.global,
                      postings: Option[DataFrame] = None): DataFrame = {
    val cand = scope.persist(
      topKAll(documents, queryIds, firstStageK, scope, postings)
        .select("query_id", "doc_id"))
    val qv = Embed.hashedTf(
        positionWindows(documents
          .join(queryIds.select(col("query_id").as("doc_id")),
            Seq("doc_id"), "left_semi")), dim)
      .select(shiftright(col("vec_id"), 20).as("query_id"),
        col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val dv = Embed.hashedTf(
        positionWindows(documents
          .join(cand.select("doc_id").distinct(), Seq("doc_id"),
            "left_semi")), dim)
      .select(shiftright(col("vec_id"), 20).as("doc_id"),
        col("vec_id").as("d_key"), col("embedding").as("d_emb"))
    val scored = cand
      .join(dv, Seq("doc_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos",
        nanvl(VectorOps.cosine(col("d_emb"), col("q_emb")),
          lit(null).cast("double")))
      .groupBy("query_id", "doc_id", "q_id")
      .agg(greatest(coalesce(max(col("cos")), lit(0.0)), lit(0.0)).as("ms"))
      .withColumn("msq", floor(col("ms") * 1000000.0 + 0.5).cast("long"))
      .groupBy("query_id", "doc_id").agg(sum("msq").as("score_ms"))
    val anchored = cand.join(scored, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("score_ms"), lit(0L)).as("score_ms"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score_ms"), col("doc_id"))
    anchored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "doc_id", "score_ms", "rn")
  }

  /** SET-oriented [[topKRm3]] — pseudo-relevance feedback for every
    * query in `queryIds` in ONE plan: the shared postings/idf/dl tables
    * feed a query-keyed round 1, per-query feedback and expansion-term
    * cuts are query-keyed windows, and round 2 re-scores each query
    * with ITS OWN expanded term set through the same keyed join. Same
    * grids and ties as the single form (which it equals per query).
    * Emits (query_id, doc_id, score_q, rn ≤ k).
    *
    * Scale: candidate work stays Σ_t df(t) over each query's (expanded)
    * term set — the inverted-index law, amortized across the set; both
    * ranking windows are query-keyed.
    */
  def topKRm3All(documents: DataFrame, queryIds: DataFrame, k: Int,
                 fbDocs: Int = 5, fbTerms: Int = 10,
                 scope: graft.CacheScope = graft.CacheScope.global,
                 postings: Option[DataFrame] = None,
                 shareStats: Boolean = true): DataFrame = {
    val toks = split(col("text"), " ")
    val tf = postings.getOrElse(scope.persist(documents
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))))
    val (dl, idf, nDocs, avgdl) =
      bm25Stats(tf, scope, share = postings.isDefined && shareStats)
    val qterms = scope.persist(documents
      .select(col("doc_id").as("query_id"), explode(toks).as("t"))
      .join(queryIds.select("query_id"), "query_id")
      .select("query_id", "t").distinct())
    def scoreWith(terms: DataFrame): DataFrame = tf
      .join(terms, "t")
      .filter(col("doc_id") =!= col("query_id"))
      .join(idf, "t")
      .join(dl, "doc_id")
      .withColumn("term_q", floor(
        (col("idf_q") * col("tf")).cast("double") * lit(2.2)
          / (col("tf").cast("double") + lit(0.3)
            + lit(0.9) * (col("dl").cast("double") / lit(avgdl))) + 0.5)
        .cast("long"))
      .groupBy("query_id", "doc_id").agg(sum("term_q").as("score_q"))
    val wq = Window.partitionBy("query_id")
      .orderBy(desc("score_q"), col("doc_id"))
    val fb = scoreWith(qterms)
      .withColumn("frn", row_number().over(wq))
      .filter(col("frn") <= fbDocs)
      .select("query_id", "doc_id")
    val wt = Window.partitionBy("query_id")
      .orderBy(desc("w"), col("t"))
    val exp = tf.join(fb, Seq("doc_id"))
      .join(idf, "t")
      .join(qterms, Seq("query_id", "t"), "left_anti")
      .groupBy("query_id", "t").agg(sum(col("tf") * col("idf_q")).as("w"))
      .withColumn("trn", row_number().over(wt))
      .filter(col("trn") <= fbTerms)
      .select("query_id", "t")
    val expanded = qterms.unionByName(exp).distinct()
    scoreWith(expanded)
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select("query_id", "doc_id", "score_q", "rn")
  }

  /** END-TO-END HYBRID RAG serving — the fused-retrieval form of
    * [[graft.operators.Similarity.ragContextIvf]]: the DOC stage is the
    * hybrid RRF fusion ([[hybridTopKIvf]] — BM25 postings join + doc-IVF
    * probe, both over the live corpus), its top-`coarseK` docs by rrf
    * become the coarse parents, the CHUNK index refines within them
    * (same pruned probe, same parent restriction), and the pool packs
    * under the token budget. This closes the serving composition matrix:
    * every retrieval leg a production RAG stack fuses — lexical, dense,
    * two-stage — now feeds one packing law.
    */
  def ragContextHybrid(documents: DataFrame, docModel: Ivf.IvfModel,
                       docEmb: DataFrame, chunkModel: Ivf.IvfModel,
                       chunkTexts: DataFrame, queryVecId: Long,
                       coarseK: Int, poolK: Int, tokenBudget: Long,
                       nprobeDoc: Int = 4, nprobeChunk: Int = 4,
                       rrfPoolK: Int = 20, chunkShift: Int = 20,
                       scope: graft.CacheScope = graft.CacheScope.global,
                       postings: Option[DataFrame] = None): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val topDocs = hybridTopKIvf(documents, docModel, docEmb,
        Seq(queryVecId).toDF("query_id"), coarseK, rrfPoolK, nprobeDoc,
        scope, postings)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val qVec = Ivf.queryVec(docEmb, queryVecId)
    Similarity.ragContextFrom(
      Ivf.probeWithVec(chunkModel, spark, qVec, poolK, nprobeChunk,
          indexFilter = Some(shiftright(col("vec_id"), chunkShift)
            .isin(topDocs: _*)))
        .withColumn("parent_id", shiftright(col("vec_id"), chunkShift))
        .select("vec_id", "parent_id", "cosine"),
      chunkTexts, tokenBudget)
  }

  /** SET-oriented [[ragContextHybrid]] — hybrid-RAG context assembly for
    * every query in `queryIds` in ONE plan, with ZERO driver
    * round-trips: the doc stage is the batch hybrid fusion
    * ([[hybridTopKIvf]] — already set-oriented), its per-query fused
    * top-`coarseK` become the parents as a KEYED semi-join (where the
    * single form collects them to the driver), the chunk stage is the
    * pruned keyed probe ([[graft.operators.Similarity.topKTwoStageIvfAll]]'s
    * shape with the hybrid parents swapped in), and packing is the
    * query-keyed running-sum window. Per-query rows equal
    * [[ragContextHybrid]]'s bit-for-bit (IvfSpec).
    */
  def ragContextHybridAll(documents: DataFrame, docModel: Ivf.IvfModel,
                          docEmb: DataFrame, chunkModel: Ivf.IvfModel,
                          chunkTexts: DataFrame, queryIds: DataFrame,
                          coarseK: Int, poolK: Int, tokenBudget: Long,
                          nprobeDoc: Int = 4, nprobeChunk: Int = 4,
                          rrfPoolK: Int = 20, chunkShift: Int = 20,
                          scope: graft.CacheScope = graft.CacheScope.global,
                          postings: Option[DataFrame] = None): DataFrame = {
    val spark = documents.sparkSession
    val topDocs = hybridTopKIvf(documents, docModel, docEmb, queryIds,
        coarseK, rrfPoolK, nprobeDoc, scope, postings)
      .select(col("query_id"), col("doc_id").as("parent_id"))
    val q = docEmb
      .join(queryIds.select(col("query_id").as("vec_id")), Seq("vec_id"),
        "left_semi")
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("list", explode(
        Ivf.probeListsExpr(col("q_emb"), chunkModel.coarse.get.centroids, nprobeChunk)))
    val idx = CodesIndex.liveRows(spark, chunkModel, None)
      .select(col("list"), col("vec_id"), col("embedding"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), col("vec_id"))
    val pool = idx.join(q, "list")
      .withColumn("parent_id", shiftright(col("vec_id"), chunkShift))
      .join(topDocs, Seq("query_id", "parent_id"), "left_semi")
      .withColumn("cosine",
        nanvl(VectorOps.cosine(col("embedding"), col("q_emb")),
          lit(null).cast("double")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= poolK)
      .select("query_id", "vec_id", "parent_id", "cosine", "rn")
    Similarity.ragContextAll(pool, chunkTexts, tokenBudget)
  }

  def hybridTopKAll(documents: DataFrame, queryIds: DataFrame, k: Int,
                    poolK: Int = 20,
                    scope: graft.CacheScope = graft.CacheScope.global,
                    embeddings: Option[DataFrame] = None,
                    postings: Option[DataFrame] = None): DataFrame = {
    val bm = topKAll(documents, queryIds, poolK, scope, postings)
      .select(col("query_id"), col("doc_id"), col("rn").as("brn"))
    // the dense leg serves from a precomputed store when the caller has
    // one (Embed.materializedHashedTf — identical values, so the twin is
    // unchanged); falls back to embedding in-flight
    val emb = scope.persist(
      embeddings.getOrElse(Embed.hashedTf(documents)))
    val q = emb
      .join(queryIds.select(col("query_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wv = Window.partitionBy("query_id").orderBy(desc("cosine"), col("doc_id"))
    val vec = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("cosine",
        nanvl(VectorOps.cosine(col("embedding"), col("q_emb")),
          lit(null).cast("double")))
      .withColumn("vrn", row_number().over(wv))
      .filter(col("vrn") <= poolK)
      .select("query_id", "doc_id", "vrn")
    val w = Window.partitionBy("query_id").orderBy(desc("rrf"), col("doc_id"))
    vec.join(bm, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("vrn")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60) + col("brn")), lit(0.0)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "doc_id", "rrf", "rn")
  }
}
