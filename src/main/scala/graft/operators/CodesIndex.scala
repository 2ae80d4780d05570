package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.functions.VectorOps
import graft.sources.Sinks

/** The lifecycle of the compressed-codes ANN layouts ([[Pq]], [[Sq]],
  * [[IvfPq]], [[IvfSq]]). A layout is a [[Codec]] — trained parameters
  * that turn a vector into a `codes` array and score codes against a query
  * by ADC (asymmetric distance computation) — and an optional IVF coarse
  * partitioner ([[Coarse]]: [[Ivf.trainCentroids]] centroids, each vector
  * encoded as its exact-grid [[residuals]] against its list's centroid).
  * This is the split REPOSE (ICDE 2021) builds distributed top-k from: a
  * global partitioner plus a local index.
  *
  *  - Flat (no partitioner): the table is (vec_id, codes); a probe scores
  *    every live code.
  *  - Listed: the table is (vec_id, codes) `list`-partitioned; a probe
  *    ranks centroids, scans only the `nprobe` best lists, and adds the
  *    exact q·c term of the vector's list, weighted by
  *    [[Codec.baseScale]], to its residual ADC score.
  *
  * Every score is an exact long, so rankings are partition-order-free and
  * the DuckDB twins (SimilarityQueries) replay them bit-for-bit. The top
  * `rerank` ADC candidates get an exact-cosine re-rank against the raw
  * vectors.
  *
  * Persistence: `_model` at the table root (hidden from scans, tmp+rename)
  * holds the layout tag and codec parameters, the table's `schema <json>`
  * (so no reader infers it), the coarse centroids when listed, and the
  * codec's lines. Deletes are tombstones in the sibling `__tombstones`
  * table; compaction drops them physically.
  */
object CodesIndex {

  /** Vector quantization grid (as in [[Ivf]]): values on 1e-6 multiples. */
  private[operators] val VecScale = 1000000.0

  /** Score-term grid: each product term rounds at ×1e3. */
  private[operators] val DotScale = 1000.0

  /** A trained codec: encoding and ADC scoring of one codes layout. Query
    * residuals arrive per probed list; the LUT rows join the exploded codes
    * on `list` (listed tables) and [[keys]], and each joined row adds
    * [[term]] to the vector's score.
    */
  trait Codec {
    /** "pq" or "sq"; a listed layout's tag is "ivf" + this. */
    def tag: String
    /** Integer parameters, on the `_model` header line. */
    def params: Seq[Int]
    /** Trained parameters as `_model` lines (read back by the codec's
      * companion `parse`).
      */
    def lines: Seq[String]
    /** The codes array of a vector column. */
    def encode(v: Column): Column
    /** `codes` exploded into two named columns. */
    def explode: Column
    /** The LUT join keys among the exploded columns. */
    def keys: Seq[String]
    /** One joined row's ADC term, an exact long. */
    def term: Column
    /** Weight of the coarse q·c term on this codec's score grid. */
    def baseScale: Long
    /** Driver-side LUT rows (list, baseq, keys…, payload) for one query's
      * (list, coarse term, residual) probes.
      */
    def lut(spark: SparkSession, probes: Seq[(Int, Long, Array[Double])]): DataFrame
    /** Distributed LUT rows (ctx…, keys…, payload) for query residual rows
      * (ctx…, dim, qr).
      */
    def lutAll(qr: DataFrame, ctx: Seq[String]): DataFrame
  }

  /** The IVF partitioner: `nlist`/`iters` as trained, and the centroids
    * (Lloyd drops empty cells, so there may be fewer than `nlist`).
    */
  final case class Coarse(nlist: Int, iters: Int,
                          centroids: Array[(Int, Array[Long])])

  /** A built codes index: codec, optional partitioner, the table and the
    * table's recorded schema (`list` included when listed).
    */
  final case class CodesModel[+C <: Codec](codec: C, coarse: Option[Coarse],
                                          indexPath: String, schema: StructType)

  /** Independent per-slice indexes over md5-hash slices of a corpus (the
    * [[Ivf.buildShardedIndex]] hash law), for corpora past one quantizer.
    */
  final case class ShardedModel[+C <: Codec](nShards: Int, shards: Seq[CodesModel[C]])

  /** (vec_id, list, embedding = residual as array<double>): each vector's
    * exact-grid residual against its assigned centroid. rq = vq − cq is an
    * exact long on the 1e-6 grid; the double rq/1e6 re-quantizes losslessly
    * inside codec training.
    */
  def residuals(embeddings: DataFrame,
                coarse: Array[(Int, Array[Long])]): DataFrame = {
    val cqByList = map(coarse.flatMap { case (cid, cq) =>
      Seq(lit(cid), array(cq.toIndexedSeq.map(lit(_)): _*))
    }.toIndexedSeq: _*)
    Ivf.index(embeddings, coarse)
      .withColumn("embedding",
        zip_with(
          transform(col("embedding"), x =>
            floor(x.cast("double") * VecScale + 0.5).cast("long")),
          element_at(cqByList, col("list")),
          (vq, cq) => (vq - cq).cast("double") / VecScale))
      .select("vec_id", "list", "embedding")
  }

  /** The corpus codec training reads: all of it, or a deterministic
    * md5-hash sample of `pct` percent.
    */
  private[operators] def trainSet(embeddings: DataFrame, pct: Int): DataFrame =
    if (pct >= 100) embeddings
    else Curation.hashSample(embeddings, col("vec_id"), pct)

  private def encodeWith(codec: Codec, coarse: Option[Coarse],
                         vectors: DataFrame): DataFrame = coarse match {
    case None =>
      vectors.select(col("vec_id"), codec.encode(col("embedding")).as("codes"))
    case Some(c) =>
      residuals(vectors, c.centroids)
        .select(col("vec_id"), codec.encode(col("embedding")).as("codes"), col("list"))
  }

  /** The logical codes table of `vectors` under a trained model — (vec_id,
    * codes) or (vec_id, codes, list) — with no write.
    */
  def encode(model: CodesModel[Codec], vectors: DataFrame): DataFrame =
    encodeWith(model.codec, model.coarse, vectors)

  private val models =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[Int]), AnyRef]()

  /** Index BUILD, memoized per (layout, indexKey, params): `params` must
    * hold every parameter that shapes the model, and callers use distinct
    * indexKeys per corpus (the DataFrame is not part of the key). `train`
    * runs once; the corpus is encoded once and written as the scan target
    * of every probe (`list`-partitioned when listed), stale tombstones of a
    * previous index at the same path are dropped, and the model persists.
    */
  private[operators] def build[C <: Codec](tag: String, indexKey: String,
                                           params: Seq[Int], embeddings: DataFrame)
                                          (train: => (C, Option[Coarse])): CodesModel[C] =
    models.computeIfAbsent((tag, indexKey, params), _ => {
      val (codec, coarse) = train
      val spark = embeddings.sparkSession
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-$tag-${Ivf.dirToken(indexKey)}-${params.mkString("-")}").getAbsolutePath
      val table = encodeWith(codec, coarse, embeddings)
      val w = table.write.mode("overwrite")
      (if (coarse.isDefined) w.partitionBy("list") else w).parquet(path)
      Sinks.fileSystem(spark, path).delete(new Path(Ivf.tombstonesPath(path)), true)
      val model = CodesModel(codec, coarse, path,
        Ivf.nullable(table.schema).asInstanceOf[StructType])
      saveModel(spark, model, path)
      model
    }).asInstanceOf[CodesModel[C]]

  private val incModels =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[Int]), AnyRef]()

  /** Memoized build-on-base + one [[appendToIndex]] of `newBatch`, so a
    * replayed call appends nothing. `base` builds under `indexKey#inc`; as
    * with [[build]], the frames are not part of the key.
    */
  private[operators] def buildIncremental[C <: Codec](tag: String, indexKey: String,
                                                      params: Seq[Int], newBatch: DataFrame)
                                                     (base: => CodesModel[C]): CodesModel[C] =
    incModels.computeIfAbsent((tag, indexKey, params), _ => {
      val model = base
      appendToIndex(model, newBatch)
      model
    }).asInstanceOf[CodesModel[C]]

  private def saveModel(spark: SparkSession, model: CodesModel[Codec], dir: String): Unit = {
    val fs = Sinks.fileSystem(spark, dir)
    val tmp = new Path(dir, "_model.tmp")
    val dst = new Path(dir, "_model")
    val coarse = model.coarse.toSeq.flatMap { c =>
      s"coarse ${c.nlist} ${c.iters}" +:
        c.centroids.toSeq.map { case (cid, cq) => s"C $cid ${cq.mkString(",")}" }
    }
    val layout = model.coarse.fold("")(_ => "ivf") + model.codec.tag
    val lines = Seq((layout +: model.codec.params).mkString(" "),
      s"schema ${model.schema.json}") ++ coarse ++ model.codec.lines
    val out = fs.create(tmp, true)
    try lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
    finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"model save rename failed: $dst")
  }

  /** The persisted model of a codes table, if any; a restarted process
    * probes it without retraining. A `_model` without a recorded schema
    * fails (rebuild the index: readers never infer), and so does one whose
    * codec is not a `C`.
    */
  def loadModel[C <: Codec](spark: SparkSession, indexPath: String)
                           (implicit ct: scala.reflect.ClassTag[C]): Option[CodesModel[C]] = {
    val fs = Sinks.fileSystem(spark, indexPath)
    val p = new Path(indexPath, "_model")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      val head = lines.head.split(" ")
      val schema = lines.lift(1).filter(_.startsWith("schema "))
        .map(l => DataType.fromJson(l.stripPrefix("schema ")).asInstanceOf[StructType])
        .getOrElse(throw new IllegalStateException(
          s"$p records no table schema; rebuild the index"))
      val body = lines.drop(2).filter(_.nonEmpty)
      val coarse = body.find(_.startsWith("coarse ")).map { l =>
        val Array(_, nlist, iters) = l.split(" ")
        Coarse(nlist.toInt, iters.toInt, body.filter(_.startsWith("C ")).map { c =>
          val Array(_, cid, vs) = c.split(" ", 3)
          (cid.toInt, vs.split(",").map(_.toLong))
        }.toArray)
      }
      val params = head.tail.toSeq.map(_.toInt)
      val codec = head(0).stripPrefix("ivf") match {
        case "pq" => Pq.PqCodec.parse(params, body)
        case "sq" => Sq.SqCodec.parse(params, body)
        case other => throw new IllegalStateException(s"$p: unknown layout $other")
      }
      codec match {
        case c: C => Some(CodesModel(c, coarse, indexPath, schema))
        case _ => throw new IllegalArgumentException(
          s"$p holds a ${head(0)} model, not a ${ct.runtimeClass.getSimpleName}")
      }
    }
  }

  /** The codes table, opened with its recorded schema: no schema-inference
    * job, and partition discovery types `list` from the schema.
    */
  def readIndex(spark: SparkSession, model: CodesModel[Codec]): DataFrame =
    spark.read.schema(model.schema).parquet(model.indexPath)

  /** The live codes: [[readIndex]] pruned to `lists` (listed tables) minus
    * the tombstones, read pruned the same way.
    */
  private def liveCodes(spark: SparkSession, model: CodesModel[Codec],
                        lists: Option[Seq[Int]]): DataFrame = {
    val all = readIndex(spark, model)
    val codes = lists.fold(all)(ls => all.filter(col("list").isin(ls: _*)))
    Sinks.readTombstones(spark, Ivf.tombstonesPath(model.indexPath), lists)
      .fold(codes)(t => codes.join(t, Seq("vec_id"), "left_anti"))
  }

  private def write(model: CodesModel[Codec], df: DataFrame, mode: String, path: String): Unit = {
    val w = df.write.mode(mode)
    (if (model.coarse.isDefined) w.partitionBy("list") else w).parquet(path)
  }

  /** Frozen-model append: `newBatch` is encoded with the trained codec (and
    * assigned by the frozen centroids) — no retrain — and its rows are
    * appended. Existing files stay byte-identical, untouched lists are never
    * opened, and the table equals a from-scratch encode of base ∪ batch
    * with the same model (per-row exact integer encoding). NOT idempotent:
    * [[appendToIndexIdempotent]] is the replay-safe form.
    */
  def appendToIndex(model: CodesModel[Codec], newBatch: DataFrame): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    write(model, encode(model, newBatch), "append", model.indexPath)
  }

  /** Replay-idempotent append, the exactly-once form for streaming ingest.
    * Flat: the batch publishes as one `codes-ingest-<batchId>.parquet`
    * through [[Sinks.appendBatchFileIdempotent]] (move-if-absent) unless
    * the root ingest manifest records the batchId as folded by a
    * compaction. Listed: one staged file per touched list, moved to
    * `list=X/ingest-<batchId>.parquet` by [[Sinks.ingestStagedLists]],
    * which consults the per-list manifests. A replayed batch is a no-op.
    */
  def appendToIndexIdempotent(model: CodesModel[Codec], newBatch: DataFrame,
                              batchId: Long): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    val spark = newBatch.sparkSession
    if (model.coarse.isEmpty) {
      if (!Sinks.readIngestManifest(Sinks.fileSystem(spark, model.indexPath),
          new Path(model.indexPath)).contains(batchId))
        Sinks.appendBatchFileIdempotent(encode(model, newBatch),
          model.indexPath, s"codes-ingest-$batchId.parquet")
    } else {
      val staging = model.indexPath + s"__ingest_staging_$batchId"
      write(model, encode(model, newBatch).repartition(1), "overwrite", staging)
      Sinks.ingestStagedLists(spark, staging, model.indexPath, batchId)
    }
  }

  /** DELETE: the batch's ids land exactly-once as tombstones in the sibling
    * `__tombstones` table — flat: one `tombstone-<batchId>.parquet`;
    * listed: per-list files, the lists resolved by joining the ids against
    * the table's (vec_id, list) columns (no broadcast hint: AQE broadcasts
    * small batches, a mass takedown shuffles). The codes table is not
    * touched; probes mask the ids before the ADC ranking, so deleted
    * vectors never take rerank slots, and [[compactIndex]] drops them.
    */
  def deleteFromIndex(model: CodesModel[Codec], ids: DataFrame, batchId: Long): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    val tomb = Ivf.tombstonesPath(model.indexPath)
    if (model.coarse.isEmpty)
      Sinks.appendBatchFileIdempotent(ids.select("vec_id").distinct(),
        tomb, s"tombstone-$batchId.parquet")
    else {
      val spark = ids.sparkSession
      val resolved = readIndex(spark, model).select(col("vec_id"), col("list"))
        .join(ids.select("vec_id"), "vec_id")
      val staging = tomb + s"__ingest_staging_$batchId"
      write(model, resolved.repartition(1), "overwrite", staging)
      Sinks.ingestStagedLists(spark, staging, tomb, batchId)
    }
  }

  /** Small-file maintenance and physical delete. A flat table, or a list
    * of a listed one, is rewritten when it holds more than
    * `maxFilesPerList` data files or carries tombstones (the default
    * rewrites everything), into ceil(rows / `targetRowsPerFile`) files;
    * the rewrite drops tombstoned rows and consumes the tombstones, and
    * the folded ingest batchIds go to the ingest manifest, carried forward,
    * so a batch replayed after compaction stays a no-op. Listed tables go
    * through [[Ivf.compactLists]]. A flat table is rewritten into a sibling
    * `__compact_staging` dir (with the manifest and `_model`) and swapped
    * in whole; a crash before the swap leaves the table as it was and a
    * rerun starts over. PRECONDITION: no other concurrent writer (the
    * ingest stream's own foreachBatch may call this: micro-batches
    * serialize).
    */
  def compactIndex(spark: SparkSession, model: CodesModel[Codec],
                   maxFilesPerList: Int = 0,
                   targetRowsPerFile: Long = 4000000L): Unit =
    if (model.coarse.isDefined)
      Ivf.compactLists(spark, model.indexPath, model.schema, maxFilesPerList,
        targetRowsPerFile)
    else {
      graft.MutationGuard.claim(model.indexPath)
      val fs = Sinks.fileSystem(spark, model.indexPath)
      val root = new Path(model.indexPath)
      val tomb = new Path(Ivf.tombstonesPath(model.indexPath))
      val files = Sinks.dataFiles(fs, root)
      if (files.size > maxFilesPerList || fs.exists(tomb)) {
        val CodesIngest = "codes-ingest-(\\d+)\\.parquet".r
        val manifest = Sinks.readIngestManifest(fs, root) ++
          files.map(_.getName).collect { case CodesIngest(id) => id.toLong }
        val staging = model.indexPath + "__compact_staging"
        fs.delete(new Path(staging), true)
        val rows = liveCodes(spark, model, None)
        val n = rows.count()
        rows.repartition(math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt)
          .write.mode("overwrite").parquet(staging)
        Sinks.writeIngestManifest(fs, new Path(staging), manifest)
        saveModel(spark, model, staging)
        Sinks.crashPoint("staged", root)
        Sinks.swapDirs(spark, staging, model.indexPath)
        fs.delete(tomb, true)
      }
    }

  /** The `nprobe` best lists for a query — the [[Ivf]] probe ranking
    * (exact sq/√norm2q, ties to the lower cid) — each with its exact q·c
    * term and the query's residual against its centroid.
    */
  private def probedLists(coarse: Coarse, qVec: Array[Double],
                          nprobe: Int): Seq[(Int, Long, Array[Double])] =
    coarse.centroids.map { case (cid, cq) =>
      val norm2q = cq.map(c => c * c).sum
      var sq = 0L
      var d = 0
      val n = math.min(qVec.length, cq.length)
      while (d < n) { sq += math.floor(qVec(d) * cq(d) * DotScale + 0.5).toLong; d += 1 }
      (cid, sq, sq.toDouble / math.sqrt(norm2q.toDouble), cq)
    }.sortBy { case (cid, _, s, _) => (-s, cid) }.take(nprobe).toSeq
      .map { case (cid, sq, _, cq) =>
        (cid, sq, Array.tabulate(qVec.length)(i => qVec(i) - cq(i).toDouble / VecScale))
      }

  /** Exact ADC per (`by`…, vec_id): codes exploded, joined to the broadcast
    * LUT, terms summed, plus the weighted coarse term when listed. A
    * `query_id` in `by` also drops each query's own vector.
    */
  private def adc(model: CodesModel[Codec], codes: DataFrame, lut: DataFrame,
                  by: Seq[String]): DataFrame = {
    val listed = model.coarse.isDefined
    val listCol = if (listed) Seq("list") else Nil
    val base = if (listed) Seq("baseq") else Nil
    val joined = codes.select((("vec_id" +: listCol).map(col) :+ model.codec.explode): _*)
      .join(broadcast(lut), listCol ++ model.codec.keys)
    (if (by.contains("query_id")) joined.filter(col("vec_id") =!= col("query_id")) else joined)
      .groupBy((by ++ Seq("vec_id") ++ base).map(col): _*)
      .agg(sum(model.codec.term).as("rq"))
      .select((by :+ "vec_id").map(col) :+
        (if (listed) col("rq") + lit(model.codec.baseScale) * col("baseq")
         else col("rq")).as("adcq"): _*)
  }

  /** PROBE: top-`rerank` ADC candidates, then the exact-cosine re-rank to
    * top-k (vec_id, cosine). The LUT is driver-side integer math on the
    * query and the (tiny) model; the corpus-sized work is one scan of the
    * live codes — of the `nprobe` best lists when listed (ignored when
    * flat) — with a broadcast join and partial aggregation. `allowed`
    * (filtered search) semi-joins BEFORE the ADC ranking, so excluded
    * vectors never consume rerank slots.
    */
  def probe(model: CodesModel[Codec], embeddings: DataFrame, queryVecId: Long,
            k: Int, nprobe: Int = 4, rerank: Int = 50,
            allowed: Option[DataFrame] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val qVec = Ivf.queryVec(embeddings, queryVecId)
    val probes = model.coarse.fold(Seq((0, 0L, qVec)))(probedLists(_, qVec, nprobe))
    val lut = model.codec.lut(spark, probes)
    val live = liveCodes(spark, model, model.coarse.map(_ => probes.map(_._1)))
      .filter(col("vec_id") =!= queryVecId)
    val codes = allowed.fold(live)(a =>
      live.join(a.select("vec_id").distinct(), Seq("vec_id"), "left_semi"))
    val cand = adc(model, codes,
        if (model.coarse.isDefined) lut else lut.drop("list", "baseq"), Nil)
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

  /** Set-oriented probe: [[probe]] for EVERY row of `queries` (vec_id,
    * embedding) in one plan, emitting (query_id, vec_id, cosine, rn);
    * per-query rows equal [[probe]]'s bit-for-bit. Listed probes are picked
    * per row by [[Ivf.probeStructsCol]] (keeping the q·c term), the LUTs
    * are a distributed aggregation of the query residuals against the
    * broadcast codec rows, the live codes are scanned once, and both
    * rankings are windows keyed by query. Built for micro-batch query sets:
    * the LUT is |queries| × (lists ×) codec rows and is broadcast.
    */
  def probeAll(model: CodesModel[Codec], corpus: DataFrame, queries: DataFrame,
               k: Int, nprobe: Int = 4, rerank: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val (qr, ctx) = model.coarse match {
      case None =>
        (q.select(col("query_id"), posexplode(col("q_emb")).as(Seq("dim", "f")))
          .select(col("query_id"), col("dim"), col("f").cast("double").as("qr")),
          Seq("query_id"))
      case Some(c) =>
        val cents = c.centroids.toSeq
          .flatMap { case (cid, cq) => cq.indices.map(d => (cid, d, cq(d))) }
          .toDF("list", "dim", "cq")
        (q.withColumn("p", explode(Ivf.probeStructsCol(col("q_emb"), c.centroids, nprobe)))
          .select(col("query_id"), col("p.cid").as("list"), col("p.baseq").as("baseq"),
            posexplode(col("q_emb")).as(Seq("dim", "f")))
          .join(broadcast(cents), Seq("list", "dim"))
          .select(col("query_id"), col("list"), col("baseq"), col("dim"),
            (col("f").cast("double") - col("cq").cast("double") / lit(VecScale)).as("qr")),
          Seq("query_id", "list", "baseq"))
    }
    val wAdc = Window.partitionBy("query_id").orderBy(desc("adcq"), col("vec_id"))
    val cand = adc(model, liveCodes(spark, model, None),
        model.codec.lutAll(qr, ctx), Seq("query_id"))
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerank)
      .select("query_id", "vec_id")
    val wK = Window.partitionBy("query_id").orderBy(desc("cosine"), col("vec_id"))
    cand.join(corpus.select("vec_id", "embedding"), "vec_id")
      .join(q, "query_id")
      .withColumn("cosine", VectorOps.cosine(col("embedding"), col("q_emb")))
      .withColumn("rn", row_number().over(wK))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "cosine", "rn")
  }

  private val shardedModels =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[Int]), AnyRef]()

  /** `nShards` independent indexes over disjoint md5-hash slices, built by
    * `buildShard(key, slice)` concurrently on `parallelism` driver threads
    * (independent Spark jobs, hash-seeded exact integer math: the result
    * is byte-identical at any parallelism). Memoized like [[build]]. No
    * artifact grows with the corpus: each slice trains its own model.
    */
  private[operators] def buildSharded[C <: Codec](tag: String, indexKey: String,
                                                  params: Seq[Int], embeddings: DataFrame,
                                                  nShards: Int, parallelism: Int)
                                                 (buildShard: (String, DataFrame) => CodesModel[C])
      : ShardedModel[C] = {
    require(nShards > 0, s"nShards=$nShards must be positive")
    require(parallelism > 0, s"parallelism=$parallelism must be positive")
    shardedModels.computeIfAbsent((tag, indexKey, nShards +: params), _ => {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, nShards))
      try {
        val futs = (0 until nShards).map { sh =>
          pool.submit(new java.util.concurrent.Callable[CodesModel[C]] {
            def call(): CodesModel[C] =
              buildShard(s"$indexKey#shard$sh/$nShards",
                embeddings.filter(Curation.hashBucket(col("vec_id"), nShards) === sh))
          })
        }
        ShardedModel(nShards, futs.map(_.get()))
      } finally pool.shutdown()
    }).asInstanceOf[ShardedModel[C]]
  }

  private def shardSlice(model: ShardedModel[Codec], df: DataFrame, sh: Int): DataFrame =
    df.filter(Curation.hashBucket(col("vec_id"), model.nShards) === sh)

  /** Frozen-model append across the shards: rows route to their owning
    * shard by the build's hash law and land through the per-shard
    * [[appendToIndexIdempotent]], so the grown index equals one built on
    * base ∪ batch with the same per-shard models and a replay is a no-op.
    */
  def appendToShardedIndexIdempotent(model: ShardedModel[Codec], newBatch: DataFrame,
                                     batchId: Long): Unit =
    model.shards.zipWithIndex.foreach { case (m, sh) =>
      appendToIndexIdempotent(m, shardSlice(model, newBatch, sh), batchId)
    }

  /** DELETE across the shards: ids route by the hash law and land as the
    * owning shard's tombstones; probes mask them immediately.
    */
  def deleteFromShardedIndex(model: ShardedModel[Codec], ids: DataFrame,
                             batchId: Long): Unit =
    model.shards.zipWithIndex.foreach { case (m, sh) =>
      deleteFromIndex(m, shardSlice(model, ids, sh), batchId)
    }

  /** Fan-out set probe: [[probeAll]] on every shard (its own centroids,
    * codec and codes) and one query-keyed window re-cutting the global
    * top-k from the ≤ nShards·k survivors. At exhaustive settings (nprobe
    * ≥ nlist, rerank ≥ slice) the result is the exact kNN join.
    */
  def probeShardedAll(model: ShardedModel[Codec], corpus: DataFrame,
                      queries: DataFrame, k: Int, nprobe: Int = 4,
                      rerank: Int = 50): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("vec_id"))
    model.shards
      .map(m => probeAll(m, corpus, queries, k, nprobe, rerank).drop("rn"))
      .reduce(_ unionByName _)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "cosine", "rn")
  }
}
