package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Product quantization (PQ) approximate nearest neighbor — the
  * COMPRESSED-CODES path, complementing [[Ivf]] (pruned lists) and the
  * hyperplane LSH in [[Similarity]]:
  *
  *  1. BUILD ([[buildIndex]]): split each vector into `m` subvectors of
  *     `dim/m` dims; per subspace, train a `ksub`-codeword codebook (same
  *     md5-bucket seeding + exact integer-grid Lloyd as [[Ivf]], keyed by
  *     subspace); ENCODE the corpus — each vector becomes `m` small codes —
  *     and materialize the codes table once as parquet. At dim=64, m=8,
  *     ksub=16 that is 8 4-bit codes ≈ 4 bytes/vector vs 256 bytes of raw
  *     floats: the index a 100 TB embedding table can afford to scan.
  *  2. PROBE ([[probe]]): build the query's lookup table (m × ksub exact
  *     integer partial dot products, driver-side math on the tiny
  *     codebooks), scan ONLY the codes table — an ADC (asymmetric distance
  *     computation) scored as Σ_sub lut(sub, code) via one broadcast join +
  *     partial-agg — take the top `rerank` candidates, and exact-cosine
  *     re-rank just those against the raw vectors.
  *
  * Encoding minimizes true subspace L2: argmin_c |x−c|² = argmin_c
  * (|c|² − 2x·c), computed on exact longs as norm2q − 2000·sq where
  * sq = Σ floor(v·cq·1e3 + 0.5) ([[graft.plans.QuantDot]]) and
  * norm2q = Σcq² — so assignment, like all training decisions, is pure
  * integer math: partition-order-free, byte-identical across sessions, and
  * replayed bit-for-bit by the DuckDB oracle (SimilarityQueries.pqSql).
  * ADC scores are exact integer sums of lut entries; the only floats
  * anywhere are the final exact re-rank cosines (shared with [[Similarity.topK]]).
  */
object Pq {

  /** Vector quantization grid (same as [[Ivf]]): values on 1e-6 multiples. */
  private val VecScale = 1000000.0

  /** Score-term grid: each v·cq product term rounds at ×1e3. */
  private val DotScale = 1000.0

  /** Trained codebooks: codebooks(sub) = (codeId, codeword on the 1e-6 long
    * grid), plus the materialized codes table (the compressed index).
    */
  final case class PqModel(m: Int, ksub: Int, subDim: Int, iters: Int,
                           codebooks: Array[Array[(Int, Array[Long])]],
                           codesPath: String)

  /** Per-row code array (one argmin-L2 code per subspace) as a pure
    * expression: per sub, array of (cost, cid) structs → array_min → cid,
    * cost = norm2q − 2000·QuantDot (exact long; see object scaladoc). Ties
    * break toward the lower code id, matching the SQL twin's ORDER BY.
    * Public as the encoding primitive ([[IvfPq]] encodes residuals with it).
    */
  private[operators] def codesCol(v: Column, subDim: Int,
                       books: Array[Array[(Int, Array[Long])]]): Column =
    array(books.zipWithIndex.map { case (book, s) =>
      val sv = slice(v, s * subDim + 1, subDim)
      val entries = book.map { case (cid, cq) =>
        val norm2q = cq.map(c => c * c).sum
        struct(
          (lit(norm2q) - lit(2000L) *
            graft.plans.NativeKernels.quantDot(sv, cq, DotScale)).as("cost"),
          lit(cid).as("cid"))
      }
      array_min(array(entries.toIndexedSeq: _*)).getField("cid")
    }.toIndexedSeq: _*)

  /** Deterministic per-subspace codebook training on the integer grid.
    * Seeds: bucket = md5-hash of vec_id mod ksub (one bucket per vector,
    * shared across subspaces — each subspace seeds from ITS slice of the
    * bucket's min-vec_id vector); then `iters` Lloyd steps, each one
    * assignment pass (codes expression, no shuffle) + one (sub, cid, sdim)
    * keyed mean shuffle with map-side combine, collected as
    * ≤ m × ksub × subDim rows. Codewords whose cell empties are dropped
    * (identically on both engines — assignment is exact).
    */
  def trainCodebooks(embeddings: DataFrame, m: Int, ksub: Int,
                     iters: Int = 2, dim: Int = 64): Array[Array[(Int, Array[Long])]] = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    // (vec_id, sub, sdim, vq) exploded once; persisted — seeds + every
    // Lloyd mean re-scan it
    val exploded = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("vec_id"),
        (col("dim") / lit(subDim)).cast("int").as("sub"),
        (col("dim") % lit(subDim)).cast("int").as("sdim"),
        floor(col("f").cast("double") * VecScale + 0.5).cast("long").as("vq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // seeds: min vec_id per md5 bucket (bounded collect), then that
    // vector's quantized slices per subspace
    val minIds = embeddings
      .groupBy(Curation.hashBucket(col("vec_id"), ksub).cast("int").as("bucket"))
      .agg(min("vec_id").as("svid"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val seedRows = exploded
      .filter(col("vec_id").isin(minIds.map(_._2).toIndexedSeq: _*))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val byVec = seedRows.groupBy(_._1)
    var books: Array[Array[(Int, Array[Long])]] =
      Array.tabulate(m) { s =>
        minIds.map { case (cid, svid) =>
          val arr = new Array[Long](subDim)
          byVec(svid).filter(_._2 == s).foreach(t => arr(t._3) = t._4)
          (cid, arr)
        }
      }

    for (_ <- 1 to iters) {
      val codes = embeddings.select(col("vec_id"),
        codesCol(col("embedding"), subDim, books).as("codes"))
      val sums = exploded.join(codes, "vec_id")
        .withColumn("cid", element_at(col("codes"), col("sub") + 1))
        .groupBy("sub", "cid", "sdim")
        .agg(sum("vq").as("s"), count(lit(1)).as("n"))
        .collect()
      books = Array.tabulate(m) { s =>
        sums.filter(_.getInt(0) == s).groupBy(_.getInt(1)).toArray
          .map { case (cid, rows) =>
            val arr = new Array[Long](subDim)
            rows.foreach(r => arr(r.getInt(2)) =
              math.floor(r.getLong(3).toDouble / r.getLong(4) + 0.5).toLong)
            (cid, arr)
          }.sortBy(_._1)
      }
    }
    exploded.unpersist()
    books
  }

  private val models =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int, Int, Int, Int), PqModel]()

  private def codesDir(indexKey: String, m: Int, ksub: Int, iters: Int): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-pq-" + Ivf.dirToken(indexKey) +
        s"-$m-$ksub-$iters").getAbsolutePath

  /** Index BUILD, memoized per (indexKey, m, ksub, iters, dim,
    * trainSamplePct) — every parameter that shapes the model is in the key,
    * so two calls differing only in `dim` build two models. Callers must
    * still use distinct indexKeys per CORPUS (the DataFrame itself is not
    * part of the key):
    * codebooks train once, the corpus is encoded once and the codes table —
    * m small ints per vector, the whole point of PQ — is written as the
    * scan target for every probe. The in-memory model is m × ksub × subDim
    * longs: bounded, driver-side, broadcast-small. `trainSamplePct < 100`
    * trains the codebooks on a deterministic md5-hash sample (the
    * warehouse-scale practice; the full corpus is still encoded).
    */
  def buildIndex(indexKey: String, embeddings: DataFrame,
                 m: Int = 8, ksub: Int = 16, iters: Int = 2,
                 dim: Int = 64, trainSamplePct: Int = 100): PqModel =
    models.computeIfAbsent((indexKey, m, ksub, iters, dim, trainSamplePct), _ => {
      val trainSet =
        if (trainSamplePct >= 100) embeddings
        else Curation.hashSample(embeddings, col("vec_id"), trainSamplePct)
      val books = trainCodebooks(trainSet, m, ksub, iters, dim)
      val subDim = dim / m
      val path = codesDir(indexKey, m, ksub, iters)
      embeddings.select(col("vec_id"),
          codesCol(col("embedding"), subDim, books).as("codes"))
        .write.mode("overwrite").parquet(path)
      // a from-scratch build is a new index: drop stale tombstones
      val fs = org.apache.hadoop.fs.FileSystem.get(
        embeddings.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path + "__tombstones"), true)
      val model = PqModel(m, ksub, subDim, iters, books, path)
      saveModel(embeddings.sparkSession, model)
      model
    })

  /** Persist the (tiny) codebooks next to the codes table — `_codebooks`
    * at the table root (hidden from scans, tmp+rename atomic), the
    * [[Ivf.saveModel]] story for the compressed layout: a restarted
    * process probes a standing codes table without retraining.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: PqModel): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(model.codesPath, "_codebooks.tmp")
    val dst = new org.apache.hadoop.fs.Path(model.codesPath, "_codebooks")
    val out = fs.create(tmp, true)
    try {
      out.write(s"${model.m} ${model.ksub} ${model.subDim} ${model.iters}\n"
        .getBytes("UTF-8"))
      for (s <- model.codebooks.indices; (cid, cq) <- model.codebooks(s))
        out.write(s"$s $cid ${cq.mkString(",")}\n".getBytes("UTF-8"))
    } finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"codebook save rename failed: $dst")
  }

  /** The persisted codebooks for a codes table, if any. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                codesPath: String): Option[PqModel] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(codesPath, "_codebooks")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      val Array(m, ksub, subDim, iters) = lines.head.split(" ").map(_.toInt)
      val bySub = lines.tail.filter(_.nonEmpty).map { l =>
        val Array(s, cid, vs) = l.split(" ", 3)
        (s.toInt, (cid.toInt, vs.split(",").map(_.toLong)))
      }.groupBy(_._1)
      val books = Array.tabulate(m)(s =>
        bySub.getOrElse(s, Vector.empty).map(_._2).sortBy(_._1).toArray)
      Some(PqModel(m, ksub, subDim, iters, books, codesPath))
    }
  }

  /** Encode vectors with a trained model — the logical codes table, no
    * write: (vec_id, codes). [[buildIndex]] materializes this;
    * [[appendToIndex]] appends it for a new batch; exposed for tests and
    * ad-hoc use (the [[Ivf.index]] analog).
    */
  def encode(model: PqModel, vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      codesCol(col("embedding"), model.subDim, model.codebooks).as("codes"))

  /** Incremental index maintenance (the [[Ivf.appendToIndex]] twin for the
    * compressed-codes path): encode `newBatch` with the FROZEN codebooks —
    * no retrain — and APPEND the new code rows to the existing codes table.
    * Append mode only adds part-files (existing files stay byte-identical,
    * asserted in PqSpec), so the cost is one encode pass over the BATCH.
    * Encoding is per-row exact integer math, so the appended table equals a
    * from-scratch encode of base∪batch with the same codebooks (the
    * `ann_incremental_pq` oracle). NOT idempotent — append each batch once;
    * [[buildIncremental]] is the replay-safe memoized form.
    */
  def appendToIndex(model: PqModel, newBatch: DataFrame): Unit = {
    graft.MutationGuard.claim(model.codesPath)
    newBatch.select(col("vec_id"),
        codesCol(col("embedding"), model.subDim, model.codebooks).as("codes"))
      .write.mode("append").parquet(model.codesPath)
  }

  private val incModels =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int, Int, Int), PqModel]()

  /** Memoized build-on-base + one append (see [[Ivf.buildIncremental]] for
    * the replay-safety contract). The memo key covers every model-shaping
    * parameter including `dim`; the base/batch FRAMES are not part of the
    * key — callers must use distinct indexKeys per (corpus, batch) pair or
    * the first-built model is silently returned.
    */
  def buildIncremental(indexKey: String, base: DataFrame, newBatch: DataFrame,
                       m: Int = 8, ksub: Int = 16, iters: Int = 2,
                       dim: Int = 64): PqModel =
    incModels.computeIfAbsent((indexKey, m, ksub, iters, dim), _ => {
      val model = buildIndex(indexKey + "#inc", base, m, ksub, iters, dim)
      appendToIndex(model, newBatch)
      model
    })

  /** DELETE for the flat codes table — the [[Ivf.deleteFromIndex]] twin:
    * the id batch lands as a deterministic `tombstone-<batchId>.parquet`
    * in the sibling `__tombstones` dir (staged-move-if-absent, so replays
    * are no-ops); probes anti-join it BEFORE the ADC ranking (deleted
    * vectors must not consume rerank slots) and [[compactCodes]]
    * physically drops the rows and consumes the tombstones. No list
    * resolution needed — the codes table is flat.
    */
  def deleteFromIndex(model: PqModel, ids: DataFrame, batchId: Long): Unit = {
    graft.MutationGuard.claim(model.codesPath)
    graft.sources.Sinks.appendBatchFileIdempotent(
      ids.select("vec_id").distinct(),
      model.codesPath + "__tombstones", s"tombstone-$batchId.parquet")
  }

  private def codesMinusTombstones(spark: org.apache.spark.sql.SparkSession,
                                   model: PqModel): DataFrame = {
    val codes = spark.read.parquet(model.codesPath)
    graft.sources.Sinks.readTombstones(spark, model.codesPath + "__tombstones")
      .fold(codes)(t => codes.join(t, Seq("vec_id"), "left_anti"))
  }

  /** PROBE: ADC top-`rerank` candidates from the codes table, then exact
    * cosine re-rank to top-k. The lookup table is driver-side integer math
    * on the codebooks (the same quantized partial dots as training, so the
    * SQL oracle reproduces it); the corpus-sized work is ONE scan of the
    * compressed codes + a broadcast join + partial agg — the raw vectors
    * are touched only for the `rerank` candidates.
    */
  def probe(model: PqModel, embeddings: DataFrame, queryVecId: Long,
            k: Int, rerank: Int = 50,
            allowed: Option[DataFrame] = None): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val qVec = embeddings.filter(col("vec_id") === queryVecId)
      .select(transform(col("embedding"), _.cast("double")).as("e"))
      .collect()(0).getSeq[Double](0).toArray
    val lut = for {
      s <- 0 until model.m
      (cid, cq) <- model.codebooks(s)
    } yield {
      var dq = 0L
      var d = 0
      while (d < model.subDim) {
        dq += math.floor(qVec(s * model.subDim + d) * cq(d) * DotScale + 0.5).toLong
        d += 1
      }
      (s, cid, dq)
    }
    val lutDf = lut.toDF("sub", "cid", "dotq")

    val codes0 = codesMinusTombstones(spark, model)
    // filtered search: mask BEFORE the ADC ranking so excluded vectors
    // never consume rerank slots (the starvation anti-pattern)
    val codes = allowed.fold(codes0)(a =>
      codes0.join(a.select("vec_id").distinct(), Seq("vec_id"), "left_semi"))
    val cand = codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(broadcast(lutDf), Seq("sub", "cid"))
      .groupBy("vec_id").agg(sum("dotq").as("adcq"))
      .filter(col("vec_id") =!= queryVecId)
      .orderBy(desc("adcq"), col("vec_id"))
      .limit(rerank)

    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    cand.join(embeddings.select("vec_id", "embedding"), "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("cosine", VectorOps.cosine(col("embedding"), col("q_emb")))
      .orderBy(desc("cosine"), col("vec_id"))
      .select("vec_id", "cosine")
      .limit(k)
  }

  /** Replay-idempotent append — the exactly-once form of [[appendToIndex]]
    * for streaming ingest (the [[Ivf.appendToIndexIdempotent]] twin over
    * the flat codes table): the batch is encoded with the frozen codebooks
    * and published as ONE `codes-ingest-<batchId>.parquet` through
    * [[graft.sources.Sinks.appendBatchFileIdempotent]] (move-if-absent) —
    * a crash-replayed batch is a no-op, and so is one whose file a later
    * [[compactCodes]] folded away (recorded in the ingest manifest).
    */
  def appendToIndexIdempotent(model: PqModel, newBatch: DataFrame,
                              batchId: Long): Unit = {
    graft.MutationGuard.claim(model.codesPath)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      newBatch.sparkSession.sparkContext.hadoopConfiguration)
    if (!graft.sources.Sinks.readIngestManifest(fs,
        new org.apache.hadoop.fs.Path(model.codesPath)).contains(batchId))
      graft.sources.Sinks.appendBatchFileIdempotent(encode(model, newBatch),
        model.codesPath, s"codes-ingest-$batchId.parquet")
  }

  /** Small-file maintenance for the flat codes table — the [[Ivf.compactLists]]
    * twin: one staged rewrite + atomic swap, recording the folded
    * `codes-ingest-<batchId>.parquet` batchIds in the root-level
    * [[graft.sources.Sinks.IngestManifestName]] (carried forward across
    * compactions) so a batch replayed after crash+compact stays a no-op in
    * [[appendToIndexIdempotent]]. Same PRECONDITION as the IVF verb: no
    * OTHER concurrent writer (the manifest protects replayed batches, not
    * concurrent ones); the single ingest stream's own foreachBatch may
    * call this safely — micro-batches serialize. Returns the row count.
    */
  def compactCodes(spark: org.apache.spark.sql.SparkSession, model: PqModel,
                   targetRowsPerFile: Long = 4000000L): Long = {
    graft.MutationGuard.claim(model.codesPath)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(model.codesPath)
    val CodesIngest = "codes-ingest-(\\d+)\\.parquet".r
    val folded = fs.listStatus(root).toSeq.filter(_.isFile)
      .map(_.getPath.getName)
      .collect { case CodesIngest(id) => id.toLong }.toSet
    val manifest = graft.sources.Sinks.readIngestManifest(fs, root) ++ folded
    val staging = model.codesPath + "__compact_staging"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    // the rewrite also physically drops tombstoned rows and consumes the
    // tombstone table (the delete verb's maintenance half)
    val rows = codesMinusTombstones(spark, model)
    val n = rows.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    rows.repartition(files).write.mode("overwrite").parquet(staging)
    graft.sources.Sinks.writeIngestManifest(fs,
      new org.apache.hadoop.fs.Path(staging), manifest)
    graft.sources.Sinks.swapDirs(spark, staging, model.codesPath)
    fs.delete(new org.apache.hadoop.fs.Path(model.codesPath + "__tombstones"), true)
    // the swap replaced the whole dir — restore the persisted codebooks
    saveModel(spark, model)
    n
  }

  /** Set-oriented probe — ADC top-k for EVERY row of `queries` in one plan
    * (the [[Ivf.probeAll]] twin for the compressed-codes path, and the
    * batch engine under [[graft.streaming.Streams.pqProbeSink]]): the
    * query LUTs become a distributed aggregation (queries exploded per
    * (sub, sdim) × the broadcast-small codebook-entry table — the same
    * exact floor(qv·cq·1e3 + 0.5) longs the driver-side [[probe]]
    * computes), the codes table is scanned ONCE and joined to the
    * broadcast LUT on (sub, cid), and ranking is keyed by query
    * (row_number ≤ rerank on exact-integer ADC scores, then the exact
    * cosine re-rank ≤ k against `corpus`). Per-query rows equal
    * [[probe]]'s bit-for-bit (PqSpec).
    *
    * Scale: corpus-sized work is one scan of ~4-byte/vector codes ×
    * |queries| LUT hits with map-side partial aggregation; the LUT table
    * is |queries| × m × ksub small rows — broadcast-right for the
    * micro-batch/query-workload shape this serves (for a corpus-sized
    * query set, use [[graft.operators.Similarity.knnJoinLsh]] or the IVF
    * path instead).
    */
  def probeAll(model: PqModel, corpus: DataFrame, queries: DataFrame,
               k: Int, rerank: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    import spark.implicits._
    val entries = for {
      s <- 0 until model.m
      (cid, cq) <- model.codebooks(s)
      d <- 0 until model.subDim
    } yield (s, cid, d, cq(d))
    val bookDf = entries.toDF("sub", "cid", "sdim", "cq")
    val qd = queries.select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("query_id"),
        (col("dim") / lit(model.subDim)).cast("int").as("sub"),
        (col("dim") % lit(model.subDim)).cast("int").as("sdim"),
        col("f").cast("double").as("qv"))
    val lut = qd.join(broadcast(bookDf), Seq("sub", "sdim"))
      .groupBy("query_id", "sub", "cid")
      .agg(sum(floor(col("qv") * col("cq") * lit(DotScale) + lit(0.5))
        .cast("long")).as("dotq"))
    val wAdc = Window.partitionBy("query_id").orderBy(desc("adcq"), col("vec_id"))
    val cand = codesMinusTombstones(spark, model)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "cid")))
      .join(broadcast(lut), Seq("sub", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id").agg(sum("dotq").as("adcq"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerank)
      .select("query_id", "vec_id")
    val qe = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val wK = Window.partitionBy("query_id").orderBy(desc("cosine"), col("vec_id"))
    cand.join(corpus.select("vec_id", "embedding"), "vec_id")
      .join(qe, "query_id")
      .withColumn("cosine", VectorOps.cosine(col("embedding"), col("q_emb")))
      .withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "cosine", "rn")
  }

  /** One-shot convenience: memoized build (under `indexKey`) + probe. */
  def topKPq(embeddings: DataFrame, queryVecId: Long, k: Int,
             m: Int = 8, ksub: Int = 16, iters: Int = 2,
             rerank: Int = 50, indexKey: String = "adhoc"): DataFrame =
    probe(buildIndex(indexKey, embeddings, m, ksub, iters),
      embeddings, queryVecId, k, rerank)
}
