package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Deduplication operators for LLM-data pipelines, in increasing
  * sophistication: exact (hash groupBy), n-gram-shingle Jaccard (exact
  * pairwise ground truth), MinHash+LSH (the 100 TB path), SimHash banding,
  * and embedding-cosine near-dup.
  *
  * Scale design notes:
  *  - exact dedup is a single hash shuffle on the content key;
  *  - the exact Jaccard pair join shuffles on *shingle* — correct but
  *    O(docs²) within hot shingles, so it's the small-scale oracle only;
  *  - MinHash/LSH replaces that with a shuffle on (band, bucket): cost is
  *    linear in corpus size × band count, the textbook web-dedup layout;
  *  - candidate verification re-checks true Jaccard inside buckets only.
  */
object Dedup {

  /** Exact dedup on a derived content key: keeps the smallest doc_id per
    * distinct key (deterministic winner, unlike dropDuplicates whose
    * survivor is partition-order dependent).
    */
  def exactByKey(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.groupBy(key.as("content_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Line-level exact dedup (the CCNet recipe, Wenzek et al. 2020 §3.1):
    * across the whole corpus, every LINE occurring more than once keeps
    * only its first occurrence in (doc_id, line_no) order — the dedup
    * granularity that removes navigation bars, cookie banners and footer
    * boilerplate which document-level dedup can't touch (the documents
    * differ) and n-gram coverage only down-weights.
    *
    * Input is a (doc_id, line_no, ws: array<string>) line table; output is
    * one row per document: kept line count, dropped count, and the
    * document reassembled from its surviving lines in position order (a
    * document whose every line was seen earlier comes back empty — that IS
    * the CCNet behavior for pure-boilerplate pages).
    *
    * Scale: lines hash to md5 keys; first occurrence = one (hash)-keyed
    * partial-agg min of the packed (doc_id, line_no) position, joined back
    * keyed — never a window over the corpus. Reassembly aggregates lines
    * per doc (collect bounded by document length, the same bound every
    * per-doc transform carries). Positions pack as doc_id·2²⁰ + line_no+2,
    * loudly guarded, so the argmin is a single long min.
    */
  def dedupLines(lines: DataFrame): DataFrame = {
    val keyed = lineKeyed(lines)
    val firsts = keyed.groupBy("h").agg(min("pos").as("first_pos"))
    reassembleLines(keyed.join(firsts, "h")
      .withColumn("kept", col("pos") === col("first_pos")))
  }

  /** Stream-static form of [[dedupLines]] — the CCNet gate at INGEST time:
    * a line of the new batch is kept iff its hash is absent from the
    * standing corpus line table (the corpus precedes the batch by
    * definition) AND it is the first (doc_id, line_no) occurrence within
    * the batch itself. Per-document output depends only on the static
    * corpus and the batch, so the streaming sink built on this is
    * stateless (the [[graft.streaming.Streams]] span-decontamination
    * contract).
    *
    * Scale: the corpus side reduces to its DISTINCT line-hash column
    * before the join — 16 bytes per distinct corpus line, joined keyed
    * against the batch (batch-sized work, never corpus×batch lines).
    */
  def dedupLinesAgainst(newLines: DataFrame, corpusLines: DataFrame): DataFrame =
    dedupLinesAgainstHashes(newLines, corpusLineHashes(corpusLines))

  /** The standing corpus reduced to its DISTINCT line-hash table — the
    * artifact a long-lived ingest gate builds ONCE and joins every batch
    * against (16 bytes per distinct corpus line). [[lineDedupSink]]
    * persists this, not the raw line table.
    */
  def corpusLineHashes(corpusLines: DataFrame): DataFrame =
    corpusLines.select(md5(array_join(col("ws"), " ")).as("h")).distinct()

  /** [[dedupLinesAgainst]] with the corpus side already reduced to its
    * distinct hash table ([[corpusLineHashes]]) — per-batch work is then
    * batch-sized plus one keyed join against the prebuilt hashes, with no
    * per-batch corpus re-hash.
    */
  def dedupLinesAgainstHashes(newLines: DataFrame,
                              corpusHashes: DataFrame): DataFrame = {
    val keyed = lineKeyed(newLines)
    val firsts = keyed.groupBy("h").agg(min("pos").as("first_pos"))
    reassembleLines(keyed.join(firsts, "h")
      .join(corpusHashes.select("h").withColumn("in_corpus", lit(true)),
        Seq("h"), "left")
      .withColumn("kept",
        col("pos") === col("first_pos") && col("in_corpus").isNull)
      .drop("in_corpus"))
  }

  /** Lines + md5 hash + packed (doc_id, line_no) position (loudly guarded
    * range) — the shared head of both line-dedup forms.
    */
  private def lineKeyed(lines: DataFrame): DataFrame = {
    // both halves of the packed key are guarded loudly (the chunkKey law):
    // a negative doc_id — or one past 2⁴³ — would silently alias positions
    // across documents and corrupt the keep-first argmin
    val guarded = when(col("line_no") >= (1 << 20) - 2 || col("line_no") < -2,
      raise_error(concat(lit("line_no out of packed range: "),
        col("line_no").cast("string"))))
      .when(col("doc_id") < 0 || col("doc_id") >= (1L << 43),
        raise_error(concat(lit("doc_id out of packed range [0, 2^43): "),
          col("doc_id").cast("string"))))
      .otherwise(col("doc_id") * (1L << 20) + col("line_no") + 2L)
    lines.select(col("doc_id"), col("line_no"), col("ws"),
      md5(array_join(col("ws"), " ")).as("h"), guarded.as("pos"))
  }

  /** Per-document reassembly of a kept-marked line table — the shared tail
    * of both line-dedup forms.
    */
  private def reassembleLines(marked: DataFrame): DataFrame =
    marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_lines"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
      array_join(flatten(transform(
        sort_array(collect_list(when(col("kept"),
          struct(col("line_no"), col("ws"))))),
        s => s.getField("ws"))), " ").as("kept_text"))

  /** Distinct n-gram word shingles of `text` (default n=3), the unit of
    * near-dup comparison.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    // guard: sequence(0, x) with x<0 counts DOWN in Spark — short docs
    // (< n tokens) must yield an empty shingle set, not a reversed range
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Hashed distinct shingles (array<long>) straight from `text` — the
    * native fused kernel (split once, hash each n-gram window, dedupe).
    * Same set as xxhash64 over [[shingles]] strings; see
    * [[graft.plans.HashedShingles]].
    */
  def hashedShingles(text: Column, n: Int = 3): Column =
    graft.plans.NativeKernels.hashedShingles(split(text, " "), n)

  /** Exact shingle-Jaccard near-dup pairs (ground truth): inverted-index
    * self-join on shingle, count common shingles per pair, then
    * |A∩B| / (|A|+|B|−|A∩B|) ≥ threshold. Emits (doc_a < doc_b, jaccard).
    *
    * The join key is xxhash64(shingle), not the shingle string: the shuffle
    * carries 8-byte longs instead of ~20-byte strings and the join compares
    * longs — same jaccard values unless two distinct shingles collide in
    * 64-bit space (P ≈ m²/2⁶⁴, negligible at any realistic vocabulary).
    */
  def jaccardPairs(documents: DataFrame, threshold: Double, n: Int = 3,
                   scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val docs = documents.select(col("doc_id"),
      hashedShingles(col("text"), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    // persist: both join sides consume the inverted index — without it the
    // scan + shingle kernels (the expensive part) run twice. Held by the
    // caller's CacheScope; release() it after materializing the result.
    val inv = scope.persist(
      docs.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s")))
    val a = inv.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("s"))
    val b = inv.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("s"))
    a.join(b, "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact shingle-CONTAINMENT pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥
    * threshold. Catches SUBSET duplication — excerpts, quoted inclusions,
    * chunk overlap — that Jaccard structurally misses: a 40-token excerpt
    * of a 400-token document has jaccard ≈ 0.1 but containment 1.0, and a
    * training corpus keeping both trains twice on the excerpt's content.
    * Same inverted-index layout (and scale contract) as [[jaccardPairs]]:
    * this is the ground-truth verification op; at corpus scale generate
    * candidates with the LSH bands first and verify containment on
    * candidates only. Documents with fewer than n tokens have no shingles
    * and never pair.
    */
  def containmentPairs(documents: DataFrame, threshold: Double, n: Int = 3,
                       scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val docs = documents.select(col("doc_id"),
      hashedShingles(col("text"), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    // persist: both join sides consume the inverted index (see jaccardPairs)
    val inv = scope.persist(
      docs.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("s")))
    val a = inv.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("s"))
    val b = inv.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("s"))
    a.join(b, "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("common"))
      .withColumn("containment",
        col("common").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Bottom-k sketch containment — the SCALE path for [[containmentPairs]]
    * (MinHash bands cannot serve here: they approximate JACCARD, so a
    * subset excerpt at jaccard ≈ 0.1 never collides in any band).
    *
    * Candidate generation: every document emits its k SMALLEST hashed
    * shingles — its bottom-k sketch, a uniform sample of its own shingle
    * set — and joins them against the full inverted index. A true subset's
    * sketch is covered entirely by its superset, so exact-containment pairs
    * are ALWAYS candidates; a pair at containment c survives the
    * `hits ≥ candFrac·|sketch|` gate with P = P(Binom(k, c) ≥ candFrac·k)
    * (≈ 1 − 1e-4 at c = 0.9, k = 32, candFrac = 0.7). Verification then
    * computes EXACT containment on candidates only, so output rows are
    * identical to [[containmentPairs]] whenever no true pair is gated out —
    * which is why the registered query shares the exact op's oracle.
    *
    * Scale: sketches are k rows/doc; the candidate join shuffles
    * k·docs + the inverted index (linear, bounded by shingle document
    * frequency exactly like the LSH bucket join); verification is per-pair
    * array intersection on the bounded candidate set. Never all-pairs.
    */
  def containmentPairsSketch(documents: DataFrame, threshold: Double,
                             n: Int = 3, k: Int = 32, candFrac: Double = 0.7,
                             scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // persist: the shingle table feeds the sketch side, the inverted index
    // AND the verification joins — without it the shingle kernel runs 4×
    val docs = scope.persist(documents.select(col("doc_id"),
      hashedShingles(col("text"), n).as("sh"))
      .withColumn("n_sh", size(col("sh"))))
    val sketch = docs.select(col("doc_id").as("doc_s"),
      least(lit(k), col("n_sh")).as("sk"),
      explode(slice(array_sort(col("sh")), 1, k)).as("s"))
    val inv = docs.select(col("doc_id").as("doc_f"), explode(col("sh")).as("s"))
    val cands = sketch.join(inv, "s")
      .filter(col("doc_s") =!= col("doc_f"))
      .groupBy("doc_s", "doc_f", "sk")
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= col("sk") * candFrac)
      .select(least(col("doc_s"), col("doc_f")).as("doc_a"),
        greatest(col("doc_s"), col("doc_f")).as("doc_b"))
      .distinct()
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
      col("n_sh").as("n_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
      col("n_sh").as("n_b"))
    cands.join(a, "doc_a").join(b, "doc_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  // ---- MinHash + LSH ----

  /** Deterministic (a, b) parameters for the k permutation hashes
    * h_i(x) = (a_i·x + b_i) mod p, p = 2^31−1. Seeded so signatures are
    * stable across runs and sessions.
    */
  private[graft] def hashParams(k: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42)
    val p = 2147483647L
    val a = Array.fill(k)(1L + (rnd.nextLong().abs % (p - 1)))
    val b = Array.fill(k)(rnd.nextLong().abs % p)
    (a, b)
  }

  private val P31 = 2147483647L

  /** MinHash signature (length k) of a shingle array column: for each of k
    * seeded linear permutations, the min over shingles of
    * (a_i·xxhash64(s) + b_i) mod p. Pure per-row expression, fused into a
    * native codegen loop ([[graft.plans.MinHashSig]]) — the interpreted HOF
    * formulation was ~40× slower at k=128.
    */
  def minhashSignature(sh: Column, k: Int = 128): Column =
    minhashSignatureFromHashes(transform(sh, s => xxhash64(s)), k)

  /** Same, over pre-hashed shingles (array<long>) — used when the caller
    * already hashed shingles for the verification set-ops.
    */
  def minhashSignatureFromHashes(hs: Column, k: Int = 128): Column = {
    val (as, bs) = hashParams(k)
    graft.plans.NativeKernels.minhashSig(hs, as, bs)
  }

  /** LSH banding: split the signature into `bands` bands of r rows, hash
    * each band to a bucket key. Returns (doc_id, band, bucket) rows —
    * `bands × docs` rows total; the downstream groupBy shuffles on
    * (band, bucket), which is the linear-cost step that replaces the
    * quadratic pair join at scale.
    */
  /** Array of `bands` bucket keys for a signature column (band j's key is
    * the xxhash64 fold of its r = k/bands signature positions, seeded with
    * j so identical sub-signatures in different bands never collide).
    * Shared by the batch [[lshBuckets]] and the streaming near-dup path.
    */
  def bandBucketsCol(sigCol: Column, bands: Int, k: Int = 128): Column = {
    require(bands > 0 && k % bands == 0,
      s"bands=$bands must divide signature length k=$k exactly; otherwise " +
        s"the trailing ${if (bands > 0) k % bands else k} signature " +
        "positions would be silently ignored, lowering recall")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      j => aggregate(slice(sigCol, j * r + 1, lit(r)),
        j.cast("long"), (acc, x) => xxhash64(acc, x)))
  }

  def lshBuckets(docs: DataFrame, idCol: String, sigCol: String,
                 bands: Int, k: Int = 128): DataFrame =
    docs.select(col(idCol),
      posexplode(bandBucketsCol(col(sigCol), bands, k)).as(Seq("band", "bucket")))

  /** Candidate pairs from LSH buckets: docs sharing any (band, bucket).
    * Pairs are generated inside each bucket via index-windowed transforms
    * (sorted ids, i<j), then deduped across bands.
    */
  def lshCandidatePairs(buckets: DataFrame, idCol: String): DataFrame = {
    val ids = col("ids")
    buckets.groupBy("band", "bucket")
      .agg(array_sort(collect_list(col(idCol))).as("ids"))
      .filter(size(ids) > 1)
      .select(explode(flatten(
        transform(ids, (x, i) =>
          transform(slice(ids, i + 2, size(ids)),
            y => struct(x.as("doc_a"), y.as("doc_b")))))).as("pair"))
      .select(col("pair.doc_a"), col("pair.doc_b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: signature → bands → candidate
    * pairs → exact Jaccard verification (computed only on candidates).
    */
  def minhashPairs(documents: DataFrame, threshold: Double,
                   n: Int = 3, k: Int = 128, bands: Int = 32,
                   scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // shingles hashed to longs once; both the signature kernel and the
    // verification set-ops run on array<long> (same jaccard as on strings
    // modulo 64-bit collisions — see jaccardPairs scaladoc).
    // Shingle-less docs (< n tokens) are dropped: their signature is the
    // constant all-P31 vector, so they would all collide in every band and
    // then "verify" at jaccard 0/0 = NaN, which Spark compares as GREATER
    // than any threshold — a quadratic blow-up of NaN pairs on crawls full
    // of near-empty documents (and an oracle mismatch: SQL drops them).
    // persist: this subtree feeds three consumers (bucketing + both sides of
    // the verification join) — without it Spark recomputes shingles 3×. At
    // warehouse scale this is the materialized signature table. Held by the
    // caller's CacheScope; release() it after materializing the result.
    val docs = scope.persist(documents
      .select(col("doc_id"), hashedShingles(col("text"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignatureFromHashes(col("sh"), k)))
    val cands = lshCandidatePairs(
      lshBuckets(docs.select("doc_id", "sig"), "doc_id", "sig", bands, k), "doc_id")
    val sh = docs.select(col("doc_id"), col("sh"))
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  private val pairStores =
    new java.util.concurrent.ConcurrentHashMap[(String, Double), String]()

  /** [[minhashPairs]] as a write-once store — the "materialized signature
    * table" the scaladoc above names, promoted to a first-class artifact
    * (the [[Embed.materializedHashedTf]] / postings-store discipline): a
    * warehouse deployment computes its near-dup pair table once per corpus
    * version and serves every clustering/collapse/split consumer from it,
    * instead of re-hashing + re-banding the corpus per consumer (three
    * registered queries ran the identical pair build back to back).
    * Memoized per (storeKey, corpus content token, threshold) within a
    * process; a fresh process rewrites. The content token
    * ([[Ivf.contentToken]]) keeps a changed corpus from being served a
    * stale pair table under a reused key, and the per-process directory
    * token keeps two concurrent JVMs on the same key from racing
    * overwrite-vs-read on one path. Deterministic, so materialization
    * changes COST only, never results — consumers keep their compute twins.
    */
  def materializedMinhashPairs(storeKey: String, documents: DataFrame,
                               threshold: Double,
                               scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val spark = documents.sparkSession
    val vkey = storeKey + "#" + Ivf.contentToken(documents)
    val path = pairStores.computeIfAbsent((vkey, threshold), _ => {
      val p = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft-pairstore-" + Ivf.dirToken(f"$vkey%s#$threshold%.3f") +
          "-" + Ivf.pidToken)
        .getAbsolutePath
      minhashPairs(documents, threshold, scope = scope)
        .write.mode("overwrite").parquet(p)
      p
    })
    spark.read.parquet(path)
  }

  /** Incremental near-dup check: a NEW batch against the EXISTING corpus —
    * the production dedup shape. When a crawl lands you don't re-pair the
    * corpus with itself; you ask "which of these new documents already
    * exist". Candidates come from joining the new batch's (band, bucket)
    * keys against the corpus's — cost is new×bands plus the matched
    * buckets, NEVER corpus×corpus (at warehouse scale the corpus side is
    * the persisted signature/bucket table maintained across batches — the
    * same artifact [[minhashPairs]] persists, written out; the streaming
    * twin of this op is `Streams.nearDupNovelStream`). Verification is
    * exact Jaccard on candidates only, as everywhere in this family.
    * Emits (new_id, corpus_id, jaccard ≥ threshold); a new doc with no row
    * is genuinely novel. Ids may collide across the two inputs (they are
    * different tables); pairs are cross-set by construction.
    */
  def minhashPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
                          threshold: Double, n: Int = 3, k: Int = 128,
                          bands: Int = 32,
                          scope: graft.CacheScope = graft.CacheScope.global): DataFrame =
    minhashPairsAgainstSigs(
      scope.persist(shingleSigs(newDocs, n, k)),
      scope.persist(shingleSigs(corpus, n, k)),
      threshold, k, bands)

  /** The (doc_id, sh, sig) table both batch and incremental near-dup paths
    * hash from text — exposed so a refresh can MAINTAIN it like the
    * pretrain postings (drop departed/changed rows, re-hash only the diff)
    * instead of re-shingling the corpus per refresh. Deterministic per
    * document, so carried-over rows are bit-identical to recomputation.
    * Shingle-less docs dropped for the same NaN-pair reason as
    * [[minhashPairs]].
    */
  def shingleSigs(docs: DataFrame, n: Int = 3, k: Int = 128): DataFrame =
    docs.select(col("doc_id"), hashedShingles(col("text"), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignatureFromHashes(col("sh"), k))

  /** [[minhashPairsAgainst]] on pre-hashed [[shingleSigs]] tables: band
    * bucketing is sig-array arithmetic and the verify join reads stored
    * shingle sets — no text is touched, which is what makes a maintained
    * signature table turn the refresh's pair probe into scans + a
    * diff-sized bucket join.
    */
  def minhashPairsAgainstSigs(newSigs: DataFrame, corpusSigs: DataFrame,
                              threshold: Double, k: Int = 128,
                              bands: Int = 32): DataFrame = {
    val bN = lshBuckets(newSigs.select("doc_id", "sig"), "doc_id", "sig", bands, k)
      .withColumnRenamed("doc_id", "new_id")
    val bC = lshBuckets(corpusSigs.select("doc_id", "sig"), "doc_id", "sig", bands, k)
      .withColumnRenamed("doc_id", "corpus_id")
    val cands = bN.join(bC, Seq("band", "bucket"))
      .select("new_id", "corpus_id").distinct()
    cands
      .join(newSigs.select(col("doc_id").as("new_id"), col("sh").as("sh_n")), "new_id")
      .join(corpusSigs.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c")), "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_n"), col("sh_c"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_c"))))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "corpus_id", "jaccard")
  }

  /** LSH banding planner: the closed-form detection-probability curve
    * P(candidate | jaccard = s) = 1 − (1 − s^r)^b for a (bands, rows)
    * MinHash configuration — the table read BEFORE picking `bands`/`k`
    * for [[minhashPairs]] (where is the S-curve's knee? what leaks at the
    * target threshold?). Emits one row per s ∈ {0.05 … 0.95}.
    *
    * No corpus input — the curve is pure math — but it is still an
    * oracled query: both powers are spelled as LEFT-ASSOCIATIVE repeated
    * multiplication (never `pow(double, double)`, whose last-ulp rounding
    * is engine-dependent), so the DuckDB twin reproduces every point
    * bit-for-bit, 6-dp-rounded.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession,
              bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands > 0 && rowsPerBand > 0, "bands and rowsPerBand must be > 0")
    val s = col("i").cast("double") / 20.0
    val sr = (1 to rowsPerBand).foldLeft(lit(1.0))((acc, _) => acc * s)
    val qb = (1 to bands).foldLeft(lit(1.0))((acc, _) => acc * (lit(1.0) - sr))
    spark.range(1, 20).select(col("id").cast("int").as("i"))
      .select(col("i"), s.as("jaccard_s"),
        (floor((lit(1.0) - qb) * 1000000.0 + 0.5) / 1000000.0)
          .as("p_detect_6dp"))
      .orderBy("i")
  }

  // ---- Near-dup clustering ----

  /** Connected components over a near-dup pair graph — the step between
    * pair detection and "keep one document per duplicate cluster": pairs
    * only say A~B and B~C; the cluster {A,B,C} is their transitive
    * closure. Returns (doc_id, cluster_id) for every document appearing in
    * `pairs`, with cluster_id = the smallest doc_id in the component (the
    * deterministic survivor, matching [[exactByKey]]'s min-id rule).
    *
    * Algorithm: iterative min-label propagation — each round, every node
    * takes min(own label, neighbors' labels); converges in at most the
    * component diameter rounds. Each round is one shuffle join + keyed agg
    * (no global ordering anywhere); the driver loop's only action is the
    * convergence count, and near-dup clusters in real corpora have tiny
    * diameters (clones of a common source), so rounds ≈ 2-3. Fails loudly
    * if maxIter rounds don't converge rather than returning partial labels.
    *
    * Lineage note: every round's labels are `localCheckpoint`ed (eager) —
    * without the truncation, round N's logical plan nests all N−1
    * predecessors and Catalyst re-optimizes the whole chain on every
    * action, so per-round driver cost GROWS superlinearly (measured at
    * sf0.1: 0.8 s round 0 → 5.2 s round 4) and every downstream consumer
    * of the labels re-pays the full chain. The checkpoint pins each
    * round's 2-column label table as the new lineage root (content
    * identical — truncation changes cost, never results). localCheckpoint
    * is executor-local; on a real cluster where executor loss must not
    * kill the job, set `spark.sparkContext.setCheckpointDir` and swap in
    * reliable `checkpoint()` — same contract.
    */
  def nearDupClusters(pairs: DataFrame, idA: String = "doc_a",
                      idB: String = "doc_b", maxIter: Int = 20,
                      scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // persist the pair table FIRST: the two union branches below would each
    // re-evaluate the (possibly expensive) pair-producing subtree otherwise
    val p = scope.persist(
      pairs.select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b")))
    // both directions: propagation is symmetric. persist: rescanned every round
    val edges = scope.persist(
      p.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(p.select(col("b").as("src"), col("a").as("dst"))))
    // each round: eager localCheckpoint truncates lineage; the superseded
    // round's RDD blocks are released via CacheScope.releaseCheckpoint
    // (Dataset.unpersist can't see them), so at most two label tables are
    // ever materialized
    var labels = edges.select(col("src").as("id"))
      .distinct().withColumn("label", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"nearDupClusters did not converge in $maxIter rounds — component " +
            "diameter exceeds the bound; raise maxIter")
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy("src").agg(min("dlabel").as("nmin"))
        .withColumnRenamed("src", "id")
      val next = labels.withColumnRenamed("label", "old")
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("label"))
        .localCheckpoint(true)
      changed = next.filter(col("label") =!= col("old")).count()
      graft.CacheScope.releaseCheckpoint(labels)
      labels = next.select("id", "label") // reads next's checkpoint; drop `old`
      iter += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** ADAPTIVE connected components — the default collapse engine since
    * round 12: min-label propagation's cheap rounds when the graph is
    * shallow (the common corpus shape — near-dup clusters are small
    * clone sets, diameter 2–3, where [[ccStars]]' fixed ~6-round cost
    * buys nothing: the measured ~1.4 s tax the round-11 verdict flagged),
    * star contraction's diameter-robustness when it isn't (mirror-farm
    * duplication CHAINS — the shape that made stars the round-11
    * default).
    *
    * Method: run propagation for up to `cutover` rounds; converged →
    * done at pure propagation cost. Otherwise CONTRACT the graph by the
    * current labels and finish with [[ccStars]] on the contracted edge
    * table, composing labels through the contraction — the propagation
    * rounds are never wasted work.
    *
    * Soundness of the contraction (why all three engines share one
    * oracle): propagation labels are node ids within the component, an
    * edge (u, v) maps to (l(u), l(v)), and any original path maps to a
    * label path — so the label graph has exactly the original component
    * partition; the component's min node m always keeps l(m) = m (min
    * of own-and-neighbors can never drop below the component min), so
    * the contracted component min IS the original component min and the
    * composed cluster ids are unchanged. Bit-parity with both parents is
    * asserted in DedupSpec on bushy AND chain graphs.
    */
  def ccAuto(pairs: DataFrame, idA: String = "doc_a", idB: String = "doc_b",
             cutover: Int = 3, maxIter: Int = 30,
             scope: graft.CacheScope = graft.CacheScope.global,
             smallGraphPairs: Long = 100000L): DataFrame = {
    val p = scope.persist(
      pairs.select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b")))
    // Runtime-adaptive small-graph path (guide §1.2 step 1 — the job's
    // SHAPE before its internals): near-dup pair tables are usually tiny
    // relative to the corpus (sf0.1 flagship: 369 pairs), yet every
    // propagation round costs two driver actions and two keyed shuffles of
    // fixed overhead — the dominant cost of the collapse boundary in
    // cur_pretrain/_incr at small SF. When the already-persisted pair
    // table is at most `smallGraphPairs` rows (the count is one cheap
    // action on the cached frame — the AQE broadcast-decision discipline:
    // size measured at runtime, distributed fallback above the bound), a
    // driver union-find with min-id roots produces the exact same
    // (doc_id, min component id) labels in one collect. Union by smaller
    // root ⇒ the final root of every set is the component's min id —
    // bit-identical to propagation's fixpoint (DedupSpec parity suites
    // cover both paths). Graphs above the bound — the 100 TB regime —
    // take the unchanged propagation/star path.
    val nPairs = p.count()
    if (nPairs <= smallGraphPairs) {
      val parent = new java.util.HashMap[Long, java.lang.Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      p.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val ids = parent.keySet().toArray(Array.empty[java.lang.Long])
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
      ids.foreach(id => rows.add(
        org.apache.spark.sql.Row(id.longValue(), find(id.longValue()))))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return pairs.sparkSession.createDataFrame(rows, schema)
    }
    val edges = scope.persist(
      p.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(p.select(col("b").as("src"), col("a").as("dst"))))
    var labels = scope.checkpoint(edges.select(col("src").as("id"))
      .distinct().withColumn("label", col("id")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < cutover) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy("src").agg(min("dlabel").as("nmin"))
        .withColumnRenamed("src", "id")
      val next = scope.checkpoint(labels.withColumnRenamed("label", "old")
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nmin"), col("old"))).as("label")))
      changed = next.filter(col("label") =!= col("old")).count()
      graft.CacheScope.releaseCheckpoint(labels)
      labels = next.select("id", "label")
      iter += 1
    }
    val out = labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
    if (changed == 0) out
    else {
      // frontier survived the cutover: contract by the current labels and
      // let star contraction finish — the contracted table is one label
      // edge per surviving frontier pair, already ≤ cutover hops shallower
      val contracted = edges
        .join(labels.select(col("id").as("src"), col("label").as("la")), "src")
        .join(labels.select(col("id").as("dst"), col("label").as("lb")), "dst")
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("a"), col("lb").as("b"))
      val starred = ccStars(contracted, "a", "b", maxIter, scope)
        .withColumnRenamed("doc_id", "label")
      out.withColumnRenamed("cluster_id", "label")
        .join(starred, Seq("label"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("label")).as("cluster_id"))
    }
  }

  /** Connected components by alternating large-star/small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the scale path next to [[nearDupClusters]]'s min-label
    * propagation. Label propagation needs O(component diameter) rounds: a
    * duplication CHAIN (v1≈v2≈…≈vk, the shape versioned/boilerplate
    * corpora actually produce) pays one full edge-table shuffle per hop.
    * Star contraction converges in O(log² n) rounds REGARDLESS of
    * diameter: large-star points every above-center neighbor at the
    * neighborhood minimum (halving long paths), small-star then folds each
    * node's below-it neighborhood onto its minimum. Same contract and
    * output as [[nearDupClusters]] — (doc_id, cluster_id = component min)
    * for every node in `pairs` — so the two share an oracle and the spec
    * proves bit-parity.
    *
    * Scale: each round is two keyed partial-agg mins + keyed joins over
    * the CURRENT edge table, which only shrinks toward one edge per
    * non-root node; no window, no driver-side state beyond the round
    * counter, each round's table eagerly lineage-cut (the iterative-DP
    * discipline). Convergence = zero MOVED edges in the round: each star
    * step carries a per-edge "did the target change" flag computed inside
    * its own join (large-star: the neighborhood min differs from the old
    * center; small-star: the below-neighbor re-points at a smaller min),
    * so termination costs two filter-counts over the already-materialized
    * round tables instead of two exceptAll set-difference shuffles. A
    * round with zero moves reproduces its input edge set exactly (every
    * center is already its neighborhood min), so this criterion stops at
    * the same fixed point the set-difference check did.
    */
  def ccStars(pairs: DataFrame, idA: String = "doc_a", idB: String = "doc_b",
              maxIter: Int = 30,
              scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val p0 = pairs.select(col(idA).cast("long").as("a"),
        col(idB).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    // canonical directed form: u > v throughout. Registered with the
    // caller's scope (round-11 advice): the initial edges are released by
    // the first round's own release, but the NODE pin and the final round's
    // edge table outlive the loop — scope.release() reclaims them once the
    // caller has materialized the labels, instead of leaking until RDD GC.
    var edges = scope.checkpoint(
      p0.select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .distinct())
    // node set pinned EAGERLY off the initial edge checkpoint (one pair
    // scan total, and no lazy re-read of the pair subtree at result time —
    // callers like CorpusIndex.refresh mutate the tables the pairs came
    // from between clustering and consuming the labels)
    val nodes = scope.checkpoint(
      edges.select(col("u").as("id"))
        .unionByName(edges.select(col("v").as("id")))
        .distinct())
    var iter = 0
    var changed = 1L
    while (changed > 0) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"ccStars did not converge in $maxIter rounds; raise maxIter")
      // large-star: center x, m = min(Γ(x) ∪ {x}); every neighbor above x
      // re-points at m — (y, m) keeps u > v since m ≤ x < y. The per-edge
      // moved flag (m ≠ x: the target actually changed) rides the same
      // groupBy that dedups the output, so convergence needs no extra
      // shuffle — just a filter-count over the checkpointed round table.
      val und = edges.select(col("u").as("x"), col("v").as("y"))
        .unionByName(edges.select(col("v").as("x"), col("u").as("y")))
      val lmin = und.groupBy("x").agg(min("y").as("ny"))
        .select(col("x"), least(col("x"), col("ny")).as("m"))
      val large = und.join(lmin, "x")
        .filter(col("y") > col("x"))
        .groupBy(col("y").as("u"), col("m").as("v"))
        .agg(max(col("m") =!= col("x")).as("moved"))
        .localCheckpoint(true)
      // small-star: center u over its below-it neighborhood, m = min(Γ⁻(u));
      // every below-neighbor and u itself fold onto m. Moved = a
      // below-neighbor re-pointed (v ≠ m); the (u, m) branch keeps an edge
      // large already had, so it never counts as a move.
      val smin = large.groupBy("u").agg(min("v").as("m"))
      // scope-registered like the initial edges: superseded rounds are
      // released eagerly below, the LAST round's table (the fixed point the
      // result reads) by the caller's scope.release() — double-release of
      // the in-loop rounds is a no-op (RDD unpersist is idempotent)
      val next = scope.checkpoint(large.join(smin, "u")
        .select(col("v").as("nu"), col("m").as("nv"),
          (col("v") =!= col("m")).as("mv"))
        .filter(col("nu") =!= col("nv"))
        .unionByName(smin.select(col("u").as("nu"), col("m").as("nv"),
          lit(false).as("mv")))
        .groupBy(col("nu").as("u"), col("nv").as("v"))
        .agg(max("mv").as("moved")))
      changed = large.filter(col("moved")).count() +
        next.filter(col("moved")).count()
      graft.CacheScope.releaseCheckpoint(edges)
      graft.CacheScope.releaseCheckpoint(large)
      edges = next.select("u", "v")
      iter += 1
    }
    // fixed point: every non-root points only at its component min
    val labeled = edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
    val roots = nodes.join(edges.select(col("u").as("id")), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"), col("id").as("cluster_id"))
    labeled.unionByName(roots)
  }

  /** End-to-end near-dup collapse: given the corpus and its near-dup
    * pairs, keep ONE document per duplicate cluster — the best by `rank`
    * (ties → smallest doc_id) — and every unclustered document unchanged.
    * This is the full "dedup the corpus" operation: pair detection
    * ([[minhashPairs]] at scale) → clustering ([[ccStars]] — the
    * diameter-robust default: a mirror-farm duplication CHAIN pays
    * O(log² n) star rounds instead of one edge shuffle per hop;
    * bit-parity with [[nearDupClusters]] is proven in DedupSpec) →
    * survivor selection, returning the deduplicated corpus.
    *
    * Scale: one left join of the corpus against the (pair-sized) cluster
    * table, then a window keyed by cluster — unclustered docs form
    * singleton clusters via coalesce, so the window never sees a giant
    * partition unless a genuinely giant duplicate cluster exists.
    */
  def collapseNearDups(documents: DataFrame, pairs: DataFrame, rank: Column,
                       scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    require(!documents.columns.exists(Set("_cl", "_rn")),
      "collapseNearDups reserves the internal column names _cl and _rn")
    val clusters = ccAuto(pairs, scope = scope)
      .withColumnRenamed("doc_id", "_cdoc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_cl").orderBy(rank.desc, col("doc_id").asc)
    documents
      .join(clusters, col("doc_id") === col("_cdoc"), "left")
      .withColumn("_cl", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("_rn") === 1)
      .select(documents.columns.toSeq.map(col): _*)
  }

  // ---- SimHash ----

  /** Adds `simhash: long` computed from whitespace tokens of `text`
    * (native codegen kernel [[graft.plans.SimHash64]]).
    */
  def withSimhash(documents: DataFrame): DataFrame =
    documents.withColumn("simhash",
      graft.plans.NativeKernels.simhash64(
        transform(split(col("text"), " "), t => xxhash64(t))))

  /** Engine-portable 64-bit token hash from md5: two 32-bit halves of the
    * digest recombined into a signed long — the HOF reference form of the
    * [[graft.plans.Md5Hash64]] kernel (bit-parity asserted in
    * NativeKernelsSpec; production callers use the kernel, which computes
    * one digest per token instead of one per half). The arithmetic stays in
    * signed-64 range by construction: (h1 − 2³²·[h1 ≥ 2³¹])·2³² ∈
    * [−2⁶³, 2⁶³−2³²], plus h2 ∈ [0, 2³²) never overflows.
    */
  def md5Hash64(t: Column): Column = {
    val h1 = conv(substring(md5(t), 1, 8), 16, 10).cast("long")
    val h2 = conv(substring(md5(t), 9, 8), 16, 10).cast("long")
    (h1 - when(h1 >= 2147483648L, 4294967296L).otherwise(0L)) * 4294967296L + h2
  }

  /** [[withSimhash]] over the md5-derived portable token hash — identical
    * banding/verification semantics, but reproducible in any engine with
    * md5 (DuckDB oracle in DedupQueries). xxhash64 remains the faster
    * production default; this variant is the cross-engine-checkable one.
    */
  def withSimhashPortable(documents: DataFrame): DataFrame =
    documents.withColumn("simhash",
      graft.plans.NativeKernels.simhash64(
        graft.plans.NativeKernels.md5Hash64(split(col("text"), " "))))

  /** All pairs within Hamming distance ≤ maxDist over a 64-bit signature
    * column — the banding engine shared by [[simhashPairs]] and the
    * perceptual-hash dedup in Multimodal. Pigeonhole banding: the key is
    * split into 4 16-bit chunks — any pair within distance 3 agrees on at
    * least one chunk, so the join on (chunk index, chunk value) finds all
    * of them with linear shuffle cost; bit_count(xor) verifies exactly.
    * Emits (doc_a < doc_b, hamming).
    */
  def hammingPairs64(sigs: DataFrame, idCol: String, hashCol: String,
                     maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist=$maxDist out of range: 4-chunk pigeonhole banding is only " +
        "complete for Hamming distance <= 3 (a distance-4 pair can differ " +
        "in every chunk and never share a join key)")
    val sh = sigs.select(col(idCol).as("_id"), col(hashCol).as("_h"))
    // 16-bit chunks, shifted down so values stay small positive longs
    val chunks = array((0 until 4).map(j =>
      shiftright(col("_h"), 16 * j).bitwiseAND(lit(65535L))): _*)
    val chunked = sh.select(col("_id"), col("_h"),
      posexplode(chunks).as(Seq("chunk", "cval")))
    val a = chunked.select(col("_id").as("doc_a"), col("_h").as("h_a"),
      col("chunk"), col("cval"))
    val b = chunked.select(col("_id").as("doc_b"), col("_h").as("h_b"),
      col("chunk"), col("cval"))
    a.join(b, Seq("chunk", "cval"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(expr("h_a ^ h_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist (≤ 3 by
    * default) — [[hammingPairs64]] over the [[withSimhash]] signature.
    */
  def simhashPairs(documents: DataFrame, maxDist: Int = 3,
                   portable: Boolean = false): DataFrame = {
    val withSig = if (portable) withSimhashPortable(documents) else withSimhash(documents)
    hammingPairs64(withSig.select("doc_id", "simhash"), "doc_id", "simhash", maxDist)
  }

  // ---- Embedding near-dup ----

  /** SemDeDup — semantic near-dup pairs at corpus scale: cluster the
    * embeddings with the IVF coarse quantizer ([[Ivf.buildIndex]] — the
    * k-means step of the SemDeDup recipe), then compute EXACT cosine only
    * WITHIN each cluster. Near-identical embeddings land in the same
    * cluster (they argmax the same centroid except on tie edges at cluster
    * boundaries), so this replaces [[embeddingPairs]]' O(n²) cross join
    * with Σ|cluster|² work — the same cost law as the LSH bucket join,
    * with nlist as the documented knob. Emits (vec_a < vec_b, cosine),
    * a subset of [[embeddingPairs]] restricted to co-clustered pairs (the
    * SemDeDup contract — asserted in DedupSpec; with nlist = 1 the two are
    * identical).
    *
    * Reuses the materialized `list`-partitioned index: the self-join reads
    * the reorganized corpus and shuffles on `list` only. Training is the
    * deterministic integer-grid Lloyd, so the pair set is reproducible —
    * the DuckDB twin replays it (DedupQueries.semanticSql).
    */
  def semanticDupPairs(embeddings: DataFrame, threshold: Double,
                       indexKey: String, nlist: Int = 16): DataFrame = {
    val model = Ivf.buildIndex(indexKey, embeddings, nlist)
    val v = CodesIndex.readIndex(embeddings.sparkSession, model)
      .select(col("list"), col("vec_id"), col("embedding"),
        VectorOps.norm(col("embedding")).as("nrm"))
    val a = v.select(col("list"), col("vec_id").as("vec_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = v.select(col("list"), col("vec_id").as("vec_b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    a.join(b, "list")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", VectorOps.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  // ---- Bloom-prefiltered incremental exact dedup ----

  /** Serialized Bloom filter over the corpus's exact-content fingerprints —
    * the reusable membership index for incremental exact dedup ("which of
    * these new docs already exist?"). Built distributed (per-partition
    * filters, driver-merged by `stat.bloomFilter`), held as one byte array.
    * Size law: ~1.2 MB per million keys at fpp 0.01 — at 100 TB you bloom
    * the dedup WINDOW (the recent partitions a crawl batch is checked
    * against), or shard filters by key range; `expectedItems` is that
    * window's cardinality knob. Memoized per (indexKey, expectedItems,
    * fpp) like the ANN indexes: build once per corpus, probe per batch.
    */
  private val blooms = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Double), Array[Byte]]

  def bloomIndex(indexKey: String, corpus: DataFrame, key: Column,
                 expectedItems: Long, fpp: Double = 0.01): Array[Byte] =
    blooms.computeIfAbsent((indexKey, expectedItems, fpp), _ => {
      val bf = corpus.select(xxhash64(key).as("fp"))
        .stat.bloomFilter("fp", expectedItems, fpp)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    })

  /** Codegen'd membership probe against a serialized [[bloomIndex]]:
    * true = the key MIGHT be in the corpus (verify exactly), false = the
    * key is DEFINITELY new (Bloom filters have no false negatives —
    * spec-asserted). Uses Catalyst's own BloomFilterMightContain (the
    * runtime-filter kernel), so the per-row test stays inside whole-stage
    * codegen instead of a closure UDF.
    *
    * SIZE CAVEAT: the filter rides in the expression as a literal — part
    * of every task binary, deserialized per TASK. Fine up to a few MB
    * (Spark's own runtime filters cap at 8 MB for the same reason); a
    * window-sized filter × 32 concurrent tasks is an executor OOM
    * (measured: 12 MB × 32 threads killed a 1 GiB scaling run). For
    * big filters use [[bloomMightContainBroadcast]] — [[bloomNovel]]
    * switches automatically at [[BloomLiteralMaxBytes]].
    */
  def bloomMightContain(filter: Array[Byte], key: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnBridge.expression(lit(filter)),
        ColumnBridge.expression(xxhash64(key))))
  }

  /** Literal-vs-broadcast switchover for [[bloomNovel]]: 4 MB, under
    * Spark's own 8 MB runtime-filter default with headroom for multiple
    * operator branches holding per-task copies concurrently.
    */
  val BloomLiteralMaxBytes: Int = 4 << 20

  // per-JVM deserialized-filter cache for the broadcast probe path: the
  // broadcast ships the BYTES once per executor; this map makes the
  // deserialization (the 12-MB-per-task trap above) once per JVM too,
  // keyed by broadcast id so distinct filters never collide
  @transient private lazy val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[
      Long, org.apache.spark.util.sketch.BloomFilter]

  private def bloomFor(
      bc: org.apache.spark.broadcast.Broadcast[Array[Byte]]) =
    bloomCache.computeIfAbsent(bc.id, _ =>
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bc.value)))

  /** Broadcast membership probe — the window-sized-filter path: the
    * serialized filter is an executor-shared broadcast (one copy per JVM,
    * torrent-distributed) and the probe is a closure over the per-JVM
    * deserialized instance. Costs a non-codegen UDF call per row, buys
    * O(1 per executor) memory instead of O(1 per task) — the right trade
    * once the filter outgrows a task binary.
    */
  def bloomMightContainBroadcast(filter: Array[Byte], key: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    val bc = spark.sparkContext.broadcast(filter)
    val probe = udf((h: Long) => bloomFor(bc).mightContainLong(h))
    probe(xxhash64(key))
  }

  /** The size-appropriate probe for a serialized filter: codegen'd literal
    * under [[BloomLiteralMaxBytes]], executor-shared broadcast above it.
    */
  def bloomProbe(filter: Array[Byte], key: Column): Column =
    if (filter.length <= BloomLiteralMaxBytes) bloomMightContain(filter, key)
    else bloomMightContainBroadcast(filter, key)

  /** Rows of `newDocs` whose `keyCol` does not appear in `corpus` — exact
    * anti-join semantics (Bloom false positives are re-verified, and hash
    * collisions resolved, by an exact anti-join on the key itself), but
    * with the fresh-crawl fast path: rows the Bloom filter rejects skip
    * the join entirely as a narrow filter. On a typical crawl batch where
    * almost everything is new, the verification join's probe side shrinks
    * from |batch| to |true dups| + fpp·|batch| rows; only those pay the
    * shuffle against the corpus keys. Small filters ride codegen'd in the
    * task binary; big ones switch to the broadcast probe (see
    * [[bloomMightContain]]'s size caveat).
    */
  def bloomNovel(newDocs: DataFrame, corpus: DataFrame, keyCol: String,
                 indexKey: String, expectedItems: Long,
                 fpp: Double = 0.01): DataFrame = {
    val filter = bloomIndex(indexKey, corpus, col(keyCol), expectedItems, fpp)
    val might = bloomProbe(filter, col(keyCol))
    val definite = newDocs.filter(!might)
    val maybe = newDocs.filter(might)
      .join(corpus.select(keyCol), Seq(keyCol), "left_anti")
    definite.unionByName(maybe)
  }

  // ---- Exact-substring dedup (Lee et al. 2021, "Deduplicating Training
  // Data Makes Language Models Better" — the span-level modality) ----

  /** Maximal shared token spans of length ≥ minLen between document pairs —
    * exact-substring duplication, the modality the set-based ops above
    * structurally miss: two documents sharing one verbatim 30-token
    * paragraph inside otherwise-different text sit far below any Jaccard /
    * containment / SimHash threshold, yet a model trains on that paragraph
    * twice. Emits (doc_a < doc_b, a_start, b_start, span_len) with 0-based
    * token positions, one row per MAXIMAL shared run.
    *
    * Method: positioned minLen-gram hashes (one (doc, pos, h) row per start
    * position) self-join on the 8-byte hash; a shared span of S ≥ minLen
    * tokens appears as exactly S−minLen+1 matches at consecutive positions
    * with constant offset d = pos_a − pos_b, so runs are recovered with the
    * gaps-and-islands trick (pos_a − row_number within (doc_a, doc_b, d))
    * and each island reports span_len = matches + minLen − 1. Within one
    * (doc_a, doc_b, d) partition pos_b is pos_a − d, so pos_a values are
    * unique and the island arithmetic is exact.
    *
    * Scale: the occurrence table is one linear pass (same fused shape as
    * the boilerplate detector); the self-join shuffles on the gram hash,
    * and its fan-out per gram is bounded by dropping HOT grams — any gram
    * occurring in more than maxDf distinct documents is excluded from
    * matching (those are boilerplate, the business of stripBoilerplate,
    * not pairwise spans; the cap is deterministic so the oracle replays
    * it). The islands window is keyed by (doc_a, doc_b, d) — never global.
    * Dropping a hot gram can split a longer span into two islands; both
    * report, truncated at the excluded positions — the documented,
    * engine-portable semantics.
    */
  /** Rolling `minLen`-token gram hashes of `text` (one xxhash64 per token
    * window) — the occurrence primitive shared by the span family and the
    * incremental-pretrain frontier computation in [[Pretrain]].
    */
  private[operators] def gramHashes(textCol: Column, minLen: Int): Column =
    graft.plans.NativeKernels.gramHashes(split(textCol, " "), minLen)

  def exactSubstrSpans(documents: DataFrame, minLen: Int = 10,
                       maxDf: Int = 20,
                       scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // persist: the occurrence table feeds the hot-gram count AND both join
    // sides — without it the scan + gram hashing runs three times
    val occ = scope.persist(documents
      .select(col("doc_id"),
        posexplode(gramHashes(col("text"), minLen)).as(Seq("pos", "h"))))
    // persist: the (tiny) hot-gram set anti-joins BOTH sides of the match
    // join — uncached, the df-count aggregation over occ runs twice
    val hot = scope.persist(occ.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h"))
    val cold = occ.join(hot, Seq("h"), "left_anti")
    val a = cold.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("h"))
    val b = cold.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "d").orderBy("pos_a")
    a.join(b, "h")
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("d", col("pos_a") - col("pos_b"))
      .withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "d", "isl")
      .agg(min("pos_a").cast("long").as("a_start"),
        min("pos_b").cast("long").as("b_start"),
        (count(lit(1)) + (minLen - 1)).as("span_len"))
      .select("doc_a", "doc_b", "a_start", "b_start", "span_len")
  }

  /** Per-pair exact-substring duplication report: collapse
    * [[exactSubstrSpans]] to (doc_a, doc_b, n_spans, max_span,
    * span_tokens) — the ranking view ("which pairs share the most verbatim
    * text") read before span-level removal. span_tokens sums span lengths
    * over maximal runs at distinct offsets, so overlapping echoes (a span
    * repeated at several alignments) count once per alignment — a
    * sharing-volume metric, not a deduped position count. One keyed
    * partial agg over the span table.
    */
  def exactSubstrReport(documents: DataFrame, minLen: Int = 10,
                        maxDf: Int = 20,
                        scope: graft.CacheScope = graft.CacheScope.global): DataFrame =
    exactSubstrSpans(documents, minLen, maxDf, scope)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_spans"),
        max("span_len").as("max_span"),
        sum("span_len").as("span_tokens"))

  /** Exact-substring REMOVAL — the step that makes [[exactSubstrSpans]] an
    * actual dedup (Lee et al.'s algorithm deletes the duplicated text, it
    * doesn't just report it): every token position covered by a shared
    * span in the HIGHER-id document of a pair is cut, and each document's
    * surviving tokens are reassembled in position order. Keep-first
    * semantics compose transitively: for span content shared by documents
    * d₁<d₂<…<dₖ every ordered pair reports, so every copy except d₁'s is
    * cut — exactly one survives, without any cluster-building step.
    * Returns (doc_id, clean_text) with a row for EVERY input document
    * (clean documents pass through verbatim; a fully-duplicated lower-rank
    * document yields '').
    *
    * Scale: the span table is [[exactSubstrSpans]]'s bounded self-join;
    * cut positions explode one row per covered token — output-sized, at
    * most the corpus token count; the anti-join is keyed (doc_id, p) and
    * reassembly is the per-doc-bounded collect of
    * [[TextAnalysis.stripBoilerplate]] (array_sort makes collect order
    * deterministic). DedupSpec asserts the fixed point: re-running span
    * detection on the stripped corpus finds nothing ≥ minLen.
    */
  def cutSubstrSpans(documents: DataFrame, minLen: Int = 10, maxDf: Int = 20,
                     scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val cut = exactSubstrSpans(documents, minLen, maxDf, scope)
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_start"),
          col("b_start") + col("span_len") - 1)).as("pl"))
      .select(col("doc_id"), col("pl").cast("int").as("p"))
      .distinct()
    // touched-only fused rebuild; untouched docs pass through verbatim
    TextAnalysis.rebuildWithoutPositions(documents, cut, scope)
  }

  /** [[cutSubstrSpans]] restricted to a TARGET doc set — the incremental
    * recompute primitive: spans are cut from the HIGHER-id (doc_b) side of
    * a pair, so a target doc's clean text depends only on spans where IT
    * is doc_b; the doc_a partner side must stay unrestricted (any corpus
    * doc can donate a span), and the hot-gram df cap must stay CORPUS-
    * global (a df computed inside the target subset would resurrect grams
    * the full run capped). Returns (doc_id, clean_text) for every TARGET
    * document, equal row-for-row to the full [[cutSubstrSpans]] output
    * filtered to the targets (asserted in DedupSpec).
    *
    * Scale: the b-side of the match join is target-sized; each cold gram
    * joins ≤ maxDf partners, so span cost is ∝ targets, not corpus. The
    * corpus-side occurrence/df pass is one linear hash scan — at warehouse
    * scale the incrementally-maintained gram-postings table
    * ([[Pretrain]]'s artifact discipline).
    */
  def cutSubstrSpansFor(documents: DataFrame, targets: DataFrame,
                        minLen: Int = 10, maxDf: Int = 20,
                        scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val tids = targets.select(col("doc_id"))
    val occ = scope.persist(documents
      .select(col("doc_id"),
        posexplode(gramHashes(col("text"), minLen)).as(Seq("pos", "h"))))
    val hot = scope.persist(occ.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("h"))
    val cold = occ.join(hot, Seq("h"), "left_anti")
    val a = cold.select(col("doc_id").as("doc_a"), col("pos").as("pos_a"), col("h"))
    val b = cold.join(tids, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "d").orderBy("pos_a")
    val cut = a.join(b, "h")
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("d", col("pos_a") - col("pos_b"))
      .withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "d", "isl")
      .agg(min("pos_b").cast("long").as("b_start"),
        (count(lit(1)) + (minLen - 1)).as("span_len"))
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_start"),
          col("b_start") + col("span_len") - 1)).as("pl"))
      .select(col("doc_id"), col("pl").cast("int").as("p"))
      .distinct()
    TextAnalysis.rebuildWithoutPositions(
      documents.join(tids, Seq("doc_id"), "left_semi"), cut, scope)
  }

  /** Span-level decontamination — the surgical form of benchmark
    * decontamination: instead of dropping every document that overlaps the
    * held-out benchmark ([[TextAnalysis.contaminationHits]] + the
    * `cur_decontaminate` anti-join, which discards a 10k-token document
    * over one leaked question), CUT exactly the token runs (≥ minLen) the
    * document shares verbatim with any benchmark text and keep the rest —
    * [[cutSubstrSpans]]'s machinery pointed across two corpora. Returns
    * (doc_id, clean_text) for EVERY corpus document; documents sharing
    * nothing with the benchmark pass through verbatim.
    *
    * Differences from the within-corpus span family, both deliberate:
    * no `doc_a < doc_b` ordering (the sides are different corpora — every
    * benchmark hit cuts), and NO hot-gram df cap — a decontamination pass
    * must not skip a gram because it is popular; recall is the contract.
    * Fan-out is bounded instead by the benchmark side: each corpus gram
    * matches at most the benchmark's occurrences of that hash, and the
    * corpus-side scan prunes to candidate grams via the hash join (AQE
    * broadcasts the benchmark-sized build side). Cost ∝ corpus grams +
    * matched grams — linear in the corpus at any scale, benchmark-sized
    * state. Unlike the within-corpus strip (where most documents carry
    * cuts), a decontamination pass touches a sliver of the corpus, so
    * only TOUCHED documents go through token explode + reassembly — the
    * untouched majority passes through as a column rename, no shuffle.
    *
    * `benchmark` needs (bench_id, text); its texts are never modified.
    */
  def cutContaminatedSpans(documents: DataFrame, benchmark: DataFrame,
                           minLen: Int = 10,
                           scope: graft.CacheScope = graft.CacheScope.global): DataFrame =
    cutSpansWithGrams(documents,
      scope.persist(benchmarkGrams(benchmark, minLen)), minLen, scope)

  /** The benchmark side of [[cutContaminatedSpans]]: positioned gram
    * hashes (bench_id, pos_a, h). Exposed so a long-lived caller (the
    * streaming sink) can build + persist it ONCE and reuse it across
    * micro-batches instead of re-exploding the static benchmark per batch.
    */
  def benchmarkGrams(benchmark: DataFrame, minLen: Int = 10): DataFrame =
    benchmark.select(col("bench_id"),
      posexplode(gramHashes(col("text"), minLen)).as(Seq("pos_a", "h")))

  /** [[cutContaminatedSpans]] against a PRE-BUILT (caller-persisted)
    * benchmark gram table from [[benchmarkGrams]].
    */
  def cutSpansWithGrams(documents: DataFrame, occB: DataFrame,
                        minLen: Int = 10,
                        scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val occD = documents.select(col("doc_id"),
      posexplode(gramHashes(col("text"), minLen)).as(Seq("pos_b", "h")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "bench_id", "d").orderBy("pos_b")
    val cut = occD.join(occB, "h")
      .withColumn("d", col("pos_b") - col("pos_a"))
      .withColumn("isl", col("pos_b") - row_number().over(w))
      .groupBy("doc_id", "bench_id", "d", "isl")
      .agg(min("pos_b").cast("long").as("b_start"),
        (count(lit(1)) + (minLen - 1)).as("span_len"))
      .select(col("doc_id"),
        explode(sequence(col("b_start"),
          col("b_start") + col("span_len") - 1)).as("pl"))
      .select(col("doc_id"), col("pl").cast("int").as("p"))
      .distinct()
    // touched-only fused rebuild (the shared helper now carries the
    // untouched-verbatim and fully-cut-to-'' branches)
    TextAnalysis.rebuildWithoutPositions(documents, cut, scope)
  }

  /** All pairs of rows carrying IDENTICAL vectors — the exact-dup shape
    * for feature/embedding columns (the [[exactByKey]] idea with the
    * vector itself as the key, emitting intra-group pairs instead of
    * survivors). One xxhash64 of the vector as the shuffle key, an
    * equi-join on it, and an exact array-equality verify — so cost is
    * linear in the corpus plus Σ|dup-group|², never the all-pairs
    * crossJoin that a near-1.0-threshold [[embeddingPairs]] degenerates
    * into (measured: the mm_feature_dups query 30 s → sub-second at the
    * sf1 fixture). Hash collisions cost only wasted verifies; the
    * equality check makes the output exact.
    */
  def identicalVectorPairs(vectors: DataFrame, idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val h = xxhash64(col(vecCol))
    val a = vectors.select(col(idCol).as("vec_a"), col(vecCol).as("e_a"), h.as("hk"))
    val b = vectors.select(col(idCol).as("vec_b"), col(vecCol).as("e_b"), h.as("hk"))
    a.join(b, "hk")
      .filter(col("vec_a") < col("vec_b") && col("e_a") === col("e_b"))
      .select("vec_a", "vec_b")
  }

  /** Embedding-cosine near-dup pairs ≥ threshold, brute force (exact).
    * O(n²) — ground truth / small-corpus path; at scale use the hyperplane
    * LSH in Similarity to prune candidates first ([[semanticDupPairs]] is
    * the thresholded scale path; [[identicalVectorPairs]] the exact-dup
    * one).
    */
  def embeddingPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val v = embeddings.select(col("vec_id"), col("embedding"),
      VectorOps.norm(col("embedding")).as("nrm"))
    val a = v.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = v.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"), col("nrm").as("n_b"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", VectorOps.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }
}
