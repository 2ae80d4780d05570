package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Scalar quantization (SQ8) approximate nearest neighbor — the fourth
  * index layout, completing the family: hyperplane LSH (bucketed recall,
  * [[Similarity]]), IVF (pruned lists, [[Ivf]]), PQ (subspace codebooks,
  * [[Pq]]), and now per-DIMENSION 8-bit quantization, the FAISS
  * `SQ8`/`ScalarQuantizer` layout:
  *
  *  1. BUILD ([[buildIndex]]): per dimension, take the exact integer
  *     min/max of the corpus on the 1e-6 grid — training is two
  *     SELECTIONS, no iterations, no seeds — then encode every vector as
  *     `dim` uint8 codes `(vq − min_d) · 255 div span_d` and materialize
  *     the codes table once as parquet. At dim=64 that is 64 bytes/vector
  *     vs 256 bytes of raw floats: 4× compression with FULL per-dimension
  *     resolution — the layout of choice when PQ's 64× compression costs
  *     too much recall but the raw vectors still don't fit the scan
  *     budget.
  *  2. PROBE ([[probe]]): reconstruct each code on a common ×255 integer
  *     grid (`recon255 = min_d·255 + code·span_d` — an exact long), score
  *     ADC as Σ_d floor(q_d · recon255_d · 1000 + 0.5) — exact-integer
  *     sums of identically-rounded doubles, the [[Pq]] discipline — take
  *     the top `rerank` candidates, and exact-cosine re-rank just those.
  *
  * Every training and encoding decision is integer math (min/max
  * selections, floor division with a non-negative numerator), so the
  * whole pipeline is partition-order-free, byte-identical across
  * sessions, and replayed bit-for-bit by the DuckDB oracle
  * (SimilarityQueries.sqSql). The engine-side floor division is computed
  * as `(n − pmod(n, s)) / s` — the numerator is made exactly divisible
  * first, so the double division is exact and equals the oracle's `//`.
  *
  * Lifecycle verbs mirror the flat-codes table's ([[Pq]]'s) exactly:
  * frozen-params [[appendToIndex]] / replay-idempotent
  * [[appendToIndexIdempotent]], tombstone [[deleteFromIndex]], and
  * [[compactCodes]] which folds small files, physically drops tombstoned
  * rows, and carries the ingest manifest forward.
  */
object Sq {

  /** Vector quantization grid (same as [[Ivf]]/[[Pq]]): 1e-6 multiples. */
  private val VecScale = 1000000.0

  /** ADC term grid: each q·recon255 product rounds at ×1e3. */
  private val DotScale = 1000.0

  /** Trained per-dimension parameters on the 1e-6 long grid:
    * `mins(d)`/`spans(d) = max_d − min_d`, plus the materialized codes
    * table. The model is 2·dim longs — trivially broadcast-small.
    */
  final case class SqModel(dim: Int, mins: Array[Long], spans: Array[Long],
                           codesPath: String)

  /** Exact per-dimension min/span on the integer grid — the whole
    * training pass: one aggregation, collected as `dim` rows. Selections
    * (not means), so the result is independent of partitioning and
    * identical on any engine.
    */
  def trainParams(embeddings: DataFrame, dim: Int = 64): (Array[Long], Array[Long]) = {
    val rows = embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("dim"),
        floor(col("f").cast("double") * VecScale + 0.5).cast("long").as("vq"))
      .groupBy("dim").agg(min("vq").as("mn"), max("vq").as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    require(rows.length == dim, s"expected $dim dims, saw ${rows.length}")
    val mins = new Array[Long](dim)
    val spans = new Array[Long](dim)
    rows.foreach { case (d, mn, mx) => mins(d) = mn; spans(d) = mx - mn }
    (mins, spans)
  }

  /** Per-row uint8 code array as a pure expression: per dim,
    * `(clamp(vq) − min_d) · 255 div span_d` with the clamp making
    * out-of-range APPENDED values saturate instead of overflow (training
    * rows are in range by construction). The `div` is exact: the numerator
    * is reduced to a multiple of the span via pmod before the divide.
    */
  private[operators] def codesCol(v: Column, mins: Array[Long],
                                  spans: Array[Long]): Column = {
    val mnLit = typedLit(mins.toSeq)
    val spLit = typedLit(spans.toSeq)
    transform(v, (f, d) => {
      val vq = floor(f.cast("double") * VecScale + 0.5).cast("long")
      val mn = element_at(mnLit, d + 1)
      val sp = element_at(spLit, d + 1)
      val numer = (least(greatest(vq, mn), mn + sp) - mn) * lit(255L)
      when(sp === 0L, lit(0))
        .otherwise(((numer - pmod(numer, sp)) / sp).cast("int"))
    })
  }

  private val models =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), SqModel]()

  private def codesDir(indexKey: String, dim: Int): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-sq-" + Ivf.dirToken(indexKey) +
        s"-$dim").getAbsolutePath

  /** Index BUILD, memoized per (indexKey, dim). Callers must use distinct
    * indexKeys per CORPUS (the DataFrame is not part of the key). Training
    * is the min/max pass; the corpus is encoded once and the codes table
    * written as the scan target for every probe; params persist next to
    * the table ([[saveModel]]) so a restarted process probes without
    * retraining.
    */
  def buildIndex(indexKey: String, embeddings: DataFrame,
                 dim: Int = 64): SqModel =
    models.computeIfAbsent((indexKey, dim), _ => {
      val (mins, spans) = trainParams(embeddings, dim)
      val path = codesDir(indexKey, dim)
      embeddings.select(col("vec_id"),
          codesCol(col("embedding"), mins, spans).as("codes"))
        .write.mode("overwrite").parquet(path)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        embeddings.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path + "__tombstones"), true)
      val model = SqModel(dim, mins, spans, path)
      saveModel(embeddings.sparkSession, model)
      model
    })

  /** Persist the per-dim params at the table root (`_sqparams`, hidden
    * from scans, tmp+rename atomic) — the [[Ivf.saveModel]] story for the
    * scalar layout.
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: SqModel): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(model.codesPath, "_sqparams.tmp")
    val dst = new org.apache.hadoop.fs.Path(model.codesPath, "_sqparams")
    val out = fs.create(tmp, true)
    try {
      out.write(s"${model.dim}\n".getBytes("UTF-8"))
      for (d <- 0 until model.dim)
        out.write(s"$d ${model.mins(d)} ${model.spans(d)}\n".getBytes("UTF-8"))
    } finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"sq param save rename failed: $dst")
  }

  /** The persisted params for a codes table, if any. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                codesPath: String): Option[SqModel] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(codesPath, "_sqparams")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      val dim = lines.head.trim.toInt
      val mins = new Array[Long](dim)
      val spans = new Array[Long](dim)
      lines.tail.filter(_.nonEmpty).foreach { l =>
        val Array(d, mn, sp) = l.split(" ", 3)
        mins(d.toInt) = mn.toLong; spans(d.toInt) = sp.toLong
      }
      Some(SqModel(dim, mins, spans, codesPath))
    }
  }

  /** Encode vectors with a trained model — the logical codes table, no
    * write: (vec_id, codes).
    */
  def encode(model: SqModel, vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"),
      codesCol(col("embedding"), model.mins, model.spans).as("codes"))

  /** Frozen-params append (the [[Pq.appendToIndex]] twin): encode the
    * batch — out-of-range values saturate at the code boundaries — and
    * append the rows; existing part-files stay byte-identical. NOT
    * idempotent; [[appendToIndexIdempotent]] is the replay-safe form.
    */
  def appendToIndex(model: SqModel, newBatch: DataFrame): Unit = {
    graft.MutationGuard.claim(model.codesPath)
    encode(model, newBatch).write.mode("append").parquet(model.codesPath)
  }

  private val incModels =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), SqModel]()

  /** Memoized build-on-base + one append. As with every build memo, the
    * FRAMES are not part of the key — use distinct indexKeys per
    * (corpus, batch) pair.
    */
  def buildIncremental(indexKey: String, base: DataFrame, newBatch: DataFrame,
                       dim: Int = 64): SqModel =
    incModels.computeIfAbsent((indexKey, dim), _ => {
      val model = buildIndex(indexKey + "#inc", base, dim)
      appendToIndex(model, newBatch)
      model
    })

  /** DELETE — identical contract to [[Pq.deleteFromIndex]]: deterministic
    * tombstone batch files, probes anti-join BEFORE the ADC ranking,
    * [[compactCodes]] physically drops.
    */
  def deleteFromIndex(model: SqModel, ids: DataFrame, batchId: Long): Unit = {
    graft.MutationGuard.claim(model.codesPath)
    graft.sources.Sinks.appendBatchFileIdempotent(
      ids.select("vec_id").distinct(),
      model.codesPath + "__tombstones", s"tombstone-$batchId.parquet")
  }

  private def codesMinusTombstones(spark: org.apache.spark.sql.SparkSession,
                                   model: SqModel): DataFrame = {
    val codes = spark.read.parquet(model.codesPath)
    graft.sources.Sinks.readTombstones(spark, model.codesPath + "__tombstones")
      .fold(codes)(t => codes.join(t, Seq("vec_id"), "left_anti"))
  }

  /** Per-dim (qv, min, span) for a query vector — the probe's broadcast
    * side, built driver-side from the collected query and the model.
    */
  private def queryDims(embeddings: DataFrame, queryVecId: Long,
                        model: SqModel): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val qVec = embeddings.filter(col("vec_id") === queryVecId)
      .select(transform(col("embedding"), _.cast("double")).as("e"))
      .collect()(0).getSeq[Double](0).toArray
    (0 until model.dim)
      .map(d => (d, qVec(d), model.mins(d), model.spans(d)))
      .toDF("dim", "qv", "mn", "sp")
  }

  /** The shared ADC scoring: codes (minus tombstones) exploded per dim,
    * joined to the broadcast per-dim query table, each term
    * floor(qv · recon255 · 1000 + 0.5) as an exact long.
    */
  private def adcScores(spark: org.apache.spark.sql.SparkSession,
                        model: SqModel, qd: DataFrame): DataFrame =
    codesMinusTombstones(spark, model)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("dim", "code")))
      .join(broadcast(qd), Seq("dim"))
      .withColumn("recon",
        col("mn") * lit(255L) + col("code").cast("long") * col("sp"))
      .groupBy("vec_id")
      .agg(sum(floor(col("qv") * col("recon").cast("double") * lit(DotScale)
        + lit(0.5)).cast("long")).as("adcq"))

  /** PROBE: integer-ADC top-`rerank` candidates from the codes table, then
    * exact cosine re-rank to top-k — raw vectors touched only for the
    * `rerank` candidates; the corpus-sized work is one scan of the 64-byte
    * codes plus a broadcast join with map-side partial aggregation.
    */
  def probe(model: SqModel, embeddings: DataFrame, queryVecId: Long,
            k: Int, rerank: Int = 50): DataFrame = {
    val spark = embeddings.sparkSession
    val cand = adcScores(spark, model, queryDims(embeddings, queryVecId, model))
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

  /** FILTERED probe — the index path of the "neighbors WHERE <predicate>"
    * shape: the caller materializes the predicate as an `allowed` id
    * frame (at scale: a filtered scan of the attributes table, pushed
    * down), and the ADC ranking SEMI-JOINS it BEFORE the rerank cut — a
    * keyed distributed join, no broadcast assumption — so filtered-out
    * vectors never consume rerank slots and the top-k can't starve. One
    * extra shuffle vs [[probe]], same codes-scan cost.
    */
  def probeFiltered(model: SqModel, embeddings: DataFrame, queryVecId: Long,
                    k: Int, allowed: DataFrame, rerank: Int = 50): DataFrame = {
    val spark = embeddings.sparkSession
    val cand = adcScores(spark, model, queryDims(embeddings, queryVecId, model))
      .filter(col("vec_id") =!= queryVecId)
      .join(allowed.select("vec_id").distinct(), Seq("vec_id"), "left_semi")
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

  /** Set-oriented probe — ADC top-k for EVERY row of `queries` in one
    * plan (the [[Pq.probeAll]] twin): queries exploded per dim join the
    * broadcast param table, the codes table is scanned ONCE, and ranking
    * is keyed by query. Per-query rows equal [[probe]]'s bit-for-bit
    * (SqSpec). Scale: one codes scan × |queries| with map-side partial
    * aggregation — the micro-batch/query-workload shape; for corpus-sized
    * query sets use the LSH/IVF paths.
    */
  def probeAll(model: SqModel, corpus: DataFrame, queries: DataFrame,
               k: Int, rerank: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    import spark.implicits._
    val params = (0 until model.dim)
      .map(d => (d, model.mins(d), model.spans(d))).toDF("dim", "mn", "sp")
    val qd = queries.select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("query_id"), col("dim"), col("f").cast("double").as("qv"))
      .join(broadcast(params), Seq("dim"))
    val wAdc = Window.partitionBy("query_id").orderBy(desc("adcq"), col("vec_id"))
    val cand = codesMinusTombstones(spark, model)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("dim", "code")))
      .join(broadcast(qd), Seq("dim"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("recon",
        col("mn") * lit(255L) + col("code").cast("long") * col("sp"))
      .groupBy("query_id", "vec_id")
      .agg(sum(floor(col("qv") * col("recon").cast("double") * lit(DotScale)
        + lit(0.5)).cast("long")).as("adcq"))
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

  /** Replay-idempotent append for streaming ingest — the
    * [[Pq.appendToIndexIdempotent]] contract verbatim over this layout's
    * codes table: one published file per batchId through
    * [[graft.sources.Sinks.appendBatchFileIdempotent]], manifest-consulted
    * so a batch replayed after crash+compact stays a no-op.
    */
  def appendToIndexIdempotent(model: SqModel, newBatch: DataFrame,
                              batchId: Long): Unit = {
    graft.MutationGuard.claim(model.codesPath)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      newBatch.sparkSession.sparkContext.hadoopConfiguration)
    if (!graft.sources.Sinks.readIngestManifest(fs,
        new org.apache.hadoop.fs.Path(model.codesPath)).contains(batchId))
      graft.sources.Sinks.appendBatchFileIdempotent(encode(model, newBatch),
        model.codesPath, s"codes-ingest-$batchId.parquet")
  }

  /** Small-file maintenance — [[Pq.compactCodes]]'s contract over this
    * layout: staged rewrite + atomic swap, tombstoned rows physically
    * dropped and the tombstone table consumed, folded ingest batchIds
    * carried in the root manifest. PRECONDITION: no OTHER concurrent
    * writer — the single ingest stream's own foreachBatch may call this
    * safely (micro-batches serialize; `compactAboveFiles` relies on it),
    * but two ingest streams sharing one model would race. Returns the row
    * count.
    */
  def compactCodes(spark: org.apache.spark.sql.SparkSession, model: SqModel,
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
    val rows = codesMinusTombstones(spark, model)
    val n = rows.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    rows.repartition(files).write.mode("overwrite").parquet(staging)
    graft.sources.Sinks.writeIngestManifest(fs,
      new org.apache.hadoop.fs.Path(staging), manifest)
    graft.sources.Sinks.swapDirs(spark, staging, model.codesPath)
    fs.delete(new org.apache.hadoop.fs.Path(model.codesPath + "__tombstones"), true)
    saveModel(spark, model)
    n
  }

  /** Drift health check — the [[Ivf]] `ann_list_sizes` story for the
    * scalar layout: per dimension, how many of a batch's values fall
    * OUTSIDE the trained [min, min+span] range (and thus saturate at the
    * code boundaries under [[appendToIndex]]). Frozen params are correct
    * for determinism, but a drifting corpus pushes mass onto codes 0/255
    * where ADC resolution collapses; a rising `clamp_frac` is the signal
    * to retrain + re-encode (the [[compactCodes]] window is the natural
    * point). One linear pass over the batch, 64-row output.
    */
  def saturationReport(model: SqModel, batch: DataFrame): DataFrame = {
    val mnLit = typedLit(model.mins.toSeq)
    val spLit = typedLit(model.spans.toSeq)
    batch.select(posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("dim"),
        floor(col("f").cast("double") * VecScale + 0.5).cast("long").as("vq"))
      .withColumn("mn", element_at(mnLit, col("dim") + 1))
      .withColumn("sp", element_at(spLit, col("dim") + 1))
      .groupBy("dim")
      .agg(
        sum(when(col("vq") < col("mn"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("vq") > col("mn") + col("sp"), 1L).otherwise(0L))
          .as("n_high"),
        count(lit(1)).as("n_values"))
      .withColumn("clamp_frac",
        (col("n_low") + col("n_high")).cast("double")
          / col("n_values").cast("double"))
      .orderBy("dim")
  }

  /** One-shot convenience: memoized build (under `indexKey`) + probe. */
  def topKSq(embeddings: DataFrame, queryVecId: Long, k: Int,
             rerank: Int = 50, indexKey: String = "adhoc"): DataFrame =
    probe(buildIndex(indexKey, embeddings), embeddings, queryVecId, k, rerank)
}
