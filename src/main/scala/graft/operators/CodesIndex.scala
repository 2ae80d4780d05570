package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.functions.VectorOps
import graft.sources.Sinks

/** The one lifecycle of the five ANN index layouts: raw-vector IVF
  * ([[Ivf]]) and the compressed-codes layouts ([[Pq]], [[Sq]], [[IvfPq]],
  * [[IvfSq]]). A layout is a [[Layout]] — the rows a batch writes, plus
  * its `_model` identity — and an optional IVF coarse partitioner
  * ([[Coarse]]: [[Ivf.trainCentroids]] centroids). This is the split
  * REPOSE (ICDE 2021) builds distributed top-k from: a global partitioner
  * plus a local index.
  *
  *  - Raw IVF ([[Ivf.Flat]]): the table is the embeddings' own rows plus
  *    `list`; [[Ivf.probe]] scores the probed lists by exact cosine.
  *  - Flat codes (no partitioner): the table is (vec_id, codes); a probe
  *    scores every live code.
  *  - Listed codes: the table is (vec_id, codes) `list`-partitioned, each
  *    vector encoded as its exact-grid [[residuals]] against its list's
  *    centroid; a probe ranks centroids, scans only the `nprobe` best
  *    lists, and adds the exact q·c term of the vector's list, weighted by
  *    [[Codec.baseScale]], to its residual ADC score.
  *
  * Every codes score is an exact long, so rankings are partition-order-free
  * and the DuckDB twins (SimilarityQueries) replay them bit-for-bit. The
  * top `rerank` ADC candidates get an exact-cosine re-rank against the raw
  * vectors.
  *
  * Persistence: `_model` at the table root (hidden from scans, tmp+rename)
  * holds the layout tag and parameters, the table's `schema <json>` (so no
  * reader infers it), the coarse centroids when listed, and the layout's
  * lines. Deletes are tombstones in the sibling `__tombstones` table;
  * compaction drops them physically.
  */
object CodesIndex {

  /** Vector quantization grid: values live on multiples of 1e-6. */
  private[operators] val VecScale = 1000000.0

  /** Score-term grid: each product term is rounded at ×1e3 (≈1e-9
    * resolution of the real-valued cosine numerator — far below any
    * meaningful cosine gap; what matters is both engines round identically).
    */
  private[operators] val DotScale = 1000.0

  /** What the lifecycle needs of a layout: its `_model` identity and the
    * rows a batch writes.
    */
  trait Layout {
    /** "flat", "pq" or "sq"; a listed layout's tag is "ivf" + this. */
    def tag: String
    /** Integer parameters, on the `_model` header line. */
    def params: Seq[Int]
    /** Trained parameters as `_model` lines (read back by [[loadModel]]). */
    def lines: Seq[String]
    /** The table rows of `vectors` under partitioner `coarse` (`list`
      * included when listed). `schema` is the table's recorded schema,
      * absent while the table is first built.
      */
    def rows(vectors: DataFrame, coarse: Option[Coarse],
             schema: Option[StructType]): DataFrame
  }

  /** A trained codec: encoding and ADC scoring of one codes layout. Query
    * residuals arrive per probed list; the LUT rows join the exploded codes
    * on `list` (listed tables) and [[keys]], and each joined row adds
    * [[term]] to the vector's score.
    */
  trait Codec extends Layout {
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

    final def rows(vectors: DataFrame, coarse: Option[Coarse],
                   schema: Option[StructType]): DataFrame = coarse match {
      case None =>
        vectors.select(col("vec_id"), encode(col("embedding")).as("codes"))
      case Some(c) =>
        residuals(vectors, c.centroids)
          .select(col("vec_id"), encode(col("embedding")).as("codes"), col("list"))
    }
  }

  /** The IVF partitioner: `nlist`/`iters` as trained, and the centroids
    * (Lloyd drops empty cells, so there may be fewer than `nlist`).
    */
  final case class Coarse(nlist: Int, iters: Int,
                          centroids: Array[(Int, Array[Long])])

  /** A built index: layout, optional partitioner, the table and the
    * table's recorded schema (`list` included when listed).
    */
  final case class CodesModel[+L <: Layout](layout: L, coarse: Option[Coarse],
                                           indexPath: String, schema: StructType)

  /** Independent per-slice indexes over md5-hash slices of a corpus, for
    * corpora past one quantizer (see [[buildSharded]]).
    */
  final case class ShardedModel[+L <: Layout](nShards: Int, shards: Seq[CodesModel[L]])

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

  /** The corpus training reads: all of it, or a deterministic md5-hash
    * sample of `pct` percent.
    */
  private[operators] def trainSet(embeddings: DataFrame, pct: Int): DataFrame =
    if (pct >= 100) embeddings
    else Curation.hashSample(embeddings, col("vec_id"), pct)

  /** `dt` with every level nullable — the form a parquet read presents
    * (file sources relax nullability), so a recorded schema matches what
    * an inferred read would have produced.
    */
  private[operators] def nullable(dt: DataType): DataType = dt match {
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case other => other
  }

  /** The logical table of `vectors` under a built model — the rows an
    * append writes — with no write.
    */
  def encode(model: CodesModel[Layout], vectors: DataFrame): DataFrame =
    model.layout.rows(vectors, model.coarse, Some(model.schema))

  private val models =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[Int]), AnyRef]()

  /** Index BUILD, memoized per (tag, indexKey, params): `params` must hold
    * every parameter that shapes the model, and callers use distinct
    * indexKeys per corpus (the DataFrame is not part of the key). `train`
    * runs once; the corpus is written once as the scan target of every
    * probe (`list`-partitioned when listed), stale tombstones of a previous
    * index at the same path are dropped (in-root state died with the
    * overwrite), and the model persists.
    */
  private[operators] def build[L <: Layout](tag: String, indexKey: String,
                                            params: Seq[Int], embeddings: DataFrame)
                                           (train: => (L, Option[Coarse])): CodesModel[L] =
    models.computeIfAbsent((tag, indexKey, params), _ => {
      val (layout, coarse) = train
      val spark = embeddings.sparkSession
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-$tag-${Ivf.dirToken(indexKey)}-${params.mkString("-")}").getAbsolutePath
      val table = layout.rows(embeddings, coarse, None)
      val w = table.write.mode("overwrite")
      (if (coarse.isDefined) w.partitionBy("list") else w).parquet(path)
      Sinks.fileSystem(spark, path).delete(new Path(tombstonesPath(path)), true)
      val model = CodesModel(layout, coarse, path,
        nullable(table.schema).asInstanceOf[StructType])
      saveModel(spark, model, path)
      model
    }).asInstanceOf[CodesModel[L]]

  private val incModels =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[Int]), AnyRef]()

  /** Memoized build-on-base + one [[appendToIndex]] of `newBatch`, so a
    * replayed call appends nothing. `base` builds under `indexKey#inc`; as
    * with [[build]], the frames are not part of the key.
    */
  private[operators] def buildIncremental[L <: Layout](tag: String, indexKey: String,
                                                       params: Seq[Int], newBatch: DataFrame)
                                                      (base: => CodesModel[L]): CodesModel[L] =
    incModels.computeIfAbsent((tag, indexKey, params), _ => {
      val model = base
      appendToIndex(model, newBatch)
      model
    }).asInstanceOf[CodesModel[L]]

  /** Persist `model` as `_model` in `dir` (its table root, or a staged
    * rewrite of it) by tmp+rename, so readers never see a torn file.
    */
  private[operators] def saveModel(spark: SparkSession, model: CodesModel[Layout],
                                   dir: String): Unit = {
    val fs = Sinks.fileSystem(spark, dir)
    val tmp = new Path(dir, "_model.tmp")
    val dst = new Path(dir, "_model")
    val coarse = model.coarse.toSeq.flatMap { c =>
      s"coarse ${c.nlist} ${c.iters}" +:
        c.centroids.toSeq.map { case (cid, cq) => s"C $cid ${cq.mkString(",")}" }
    }
    val tag = model.coarse.fold("")(_ => "ivf") + model.layout.tag
    val lines = Seq((tag +: model.layout.params).mkString(" "),
      s"schema ${model.schema.json}") ++ coarse ++ model.layout.lines
    val out = fs.create(tmp, true)
    try lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
    finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"model save rename failed: $dst")
  }

  /** The persisted model of an index, if any; a restarted process probes
    * it without retraining, and it reflects every committed re-balance. A
    * `_model` without a recorded schema fails (rebuild the index: readers
    * never infer), and so does one whose layout is not an `L`.
    */
  def loadModel[L <: Layout](spark: SparkSession, indexPath: String)
                            (implicit ct: scala.reflect.ClassTag[L]): Option[CodesModel[L]] = {
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
      val layout = head(0).stripPrefix("ivf") match {
        case "flat" => Ivf.Flat
        case "pq" => Pq.PqCodec.parse(params, body)
        case "sq" => Sq.SqCodec.parse(params, body)
        case other => throw new IllegalStateException(s"$p: unknown layout $other")
      }
      layout match {
        case l: L => Some(CodesModel(l, coarse, indexPath, schema))
        case _ => throw new IllegalArgumentException(
          s"$p holds a ${head(0)} model, not a ${ct.runtimeClass.getSimpleName}")
      }
    }
  }

  /** The freshest model for an index: the persisted one if present, else
    * the caller's copy.
    */
  def currentModel[L <: Layout](spark: SparkSession, model: CodesModel[L])
                               (implicit ct: scala.reflect.ClassTag[L]): CodesModel[L] =
    loadModel[L](spark, model.indexPath).getOrElse(model)

  /** The index table, opened with its recorded schema: no schema-inference
    * job, and partition discovery types `list` from the schema. Every
    * reader of an index goes through here.
    */
  def readIndex(spark: SparkSession, model: CodesModel[Layout]): DataFrame =
    spark.read.schema(model.schema).parquet(model.indexPath)

  private[operators] def tombstonesPath(indexPath: String): String =
    indexPath + "__tombstones"

  /** The live rows: [[readIndex]] pruned to `lists` (listed tables) minus
    * the tombstones, read pruned the same way. Every probe reads this.
    */
  private[operators] def liveRows(spark: SparkSession, model: CodesModel[Layout],
                                  lists: Option[Seq[Int]]): DataFrame = {
    val all = readIndex(spark, model)
    val rows = lists.fold(all)(ls => all.filter(col("list").isin(ls: _*)))
    Sinks.readTombstones(spark, tombstonesPath(model.indexPath), lists)
      .fold(rows)(t => rows.join(t, Seq("vec_id"), "left_anti"))
  }

  private def write(model: CodesModel[Layout], df: DataFrame, mode: String,
                    path: String): Unit = {
    val w = df.write.mode(mode)
    (if (model.coarse.isDefined) w.partitionBy("list") else w).parquet(path)
  }

  /** Frozen-model append: `newBatch` is written as the layout's rows
    * (encoded with the trained codec, assigned by the frozen centroids) —
    * no retrain. Existing files stay byte-identical, untouched lists are
    * never opened, and the table equals a from-scratch write of base ∪
    * batch with the same model (per-row exact integer math). A raw IVF
    * batch is matched to the recorded schema by column name: a missing
    * `vec_id`/`embedding` or a different type fails before anything is
    * written, and a missing payload column lands as NULL. NOT idempotent:
    * [[appendToIndexIdempotent]] is the replay-safe form.
    */
  def appendToIndex(model: CodesModel[Layout], newBatch: DataFrame): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    write(model, encode(model, newBatch), "append", model.indexPath)
  }

  /** Replay-idempotent append, the exactly-once form for streaming ingest.
    * Flat: the batch publishes as one `codes-ingest-<batchId>.parquet`
    * through [[Sinks.appendBatchFileIdempotent]] (move-if-absent) unless
    * the root ingest manifest records the batchId as folded by a
    * compaction. Listed: one staged file per touched list, moved to
    * `list=X/ingest-<batchId>.parquet` by [[Sinks.ingestStagedLists]]
    * (which consults the per-list manifests), then the batch-level
    * `_ingest_done/<batchId>` marker. Once the marker is written a replay
    * is a no-op even if a re-balance has since moved the batch's rows
    * across lists; a crash before it means no re-balance ran, so the
    * replay regenerates identical staging and resumes list by list.
    */
  def appendToIndexIdempotent(model: CodesModel[Layout], newBatch: DataFrame,
                              batchId: Long): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    val fs = Sinks.fileSystem(newBatch.sparkSession, model.indexPath)
    if (model.coarse.isEmpty) {
      if (!Sinks.readIngestManifest(fs, new Path(model.indexPath)).contains(batchId))
        Sinks.appendBatchFileIdempotent(encode(model, newBatch),
          model.indexPath, s"codes-ingest-$batchId.parquet")
    } else {
      val marker = new Path(model.indexPath, s"_ingest_done/$batchId")
      if (!fs.exists(marker)) {
        val staging = model.indexPath + s"__ingest_staging_$batchId"
        write(model, encode(model, newBatch).repartition(1), "overwrite", staging)
        Sinks.ingestStagedLists(newBatch.sparkSession, staging, model.indexPath, batchId)
        fs.mkdirs(marker.getParent)
        fs.create(marker, true).close()
      }
    }
  }

  /** DELETE: the batch's ids land exactly-once as tombstones in the sibling
    * `__tombstones` table — flat: one `tombstone-<batchId>.parquet`;
    * listed: per-list files, the lists resolved by joining the ids against
    * the table's (vec_id, list) columns (no broadcast hint: AQE broadcasts
    * small batches, a mass takedown shuffles). The table itself is never
    * touched; probes mask the ids before ranking, so deleted vectors never
    * take rerank slots, and [[compactIndex]] drops them. Ids absent from
    * the index resolve to no tombstones, so replays after a physical drop
    * are no-ops.
    */
  def deleteFromIndex(model: CodesModel[Layout], ids: DataFrame, batchId: Long): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    val tomb = tombstonesPath(model.indexPath)
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
    * so a batch replayed after compaction stays a no-op. Returns the
    * rewritten list ids (a rewritten flat table reports list 0, its LUT
    * list).
    *
    * Each hot list is rewritten into a SIBLING staging tree
    * (`<root>__compact_staging/list=X`: inside the root, partition
    * discovery would misread it as a `list` value) and swapped in; a flat
    * table is rewritten whole, with its manifest and `_model`, and swapped
    * in. A crash before a swap leaves that list or table as it was, and a
    * rerun starts over. PRECONDITION: no other concurrent writer — a batch
    * landing between the read and the swap would be dropped; the manifest
    * guards REPLAYED batches only. The ingest stream's own foreachBatch
    * may call this: micro-batches serialize.
    */
  def compactIndex(spark: SparkSession, model: CodesModel[Layout],
                   maxFilesPerList: Int = 0,
                   targetRowsPerFile: Long = 4000000L): Seq[Int] = {
    graft.MutationGuard.claim(model.indexPath)
    val fs = Sinks.fileSystem(spark, model.indexPath)
    val root = new Path(model.indexPath)
    val tomb = new Path(tombstonesPath(model.indexPath))
    val stagingRoot = new Path(model.indexPath + "__compact_staging")
    fs.delete(stagingRoot, true)
    def rewrite(rows: DataFrame, dir: Path): Unit = {
      val n = rows.count()
      rows.repartition(math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt)
        .write.mode("overwrite").parquet(dir.toString)
    }
    val done = if (model.coarse.isEmpty) {
      val files = Sinks.dataFiles(fs, root)
      if (files.size <= maxFilesPerList && !fs.exists(tomb)) Nil
      else {
        val CodesIngest = "codes-ingest-(\\d+)\\.parquet".r
        val manifest = Sinks.readIngestManifest(fs, root) ++
          files.map(_.getName).collect { case CodesIngest(id) => id.toLong }
        rewrite(liveRows(spark, model, None), stagingRoot)
        Sinks.writeIngestManifest(fs, stagingRoot, manifest)
        saveModel(spark, model, stagingRoot.toString)
        Sinks.crashPoint("staged", root)
        Sinks.swapDirs(spark, stagingRoot.toString, model.indexPath)
        fs.delete(tomb, true)
        Seq(0)
      }
    } else {
      val listSchema = StructType(model.schema.filterNot(_.name == "list"))
      val IngestFile = "ingest-(\\d+)\\.parquet".r
      val listed = fs.listStatus(root).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("list="))
        .flatMap { d =>
          val dataFiles = Sinks.dataFiles(fs, d.getPath)
          // a list is rewritten when fragmented OR when it carries
          // tombstones (the physical-drop half of the delete verb)
          val listTomb = new Path(tomb, d.getPath.getName)
          val hasTomb = fs.exists(listTomb)
          if (dataFiles.size <= maxFilesPerList && !hasTomb) None
          else {
            val manifest = Sinks.readIngestManifest(fs, d.getPath) ++
              dataFiles.map(_.getName).collect { case IngestFile(id) => id.toLong }
            val staging = new Path(stagingRoot, d.getPath.getName)
            val rows0 = spark.read.schema(listSchema).parquet(d.getPath.toString)
            rewrite(if (!hasTomb) rows0
              else rows0.join(spark.read.schema("vec_id BIGINT").parquet(listTomb.toString),
                Seq("vec_id"), "left_anti"), staging)
            Sinks.writeIngestManifest(fs, staging, manifest)
            Sinks.swapDirs(spark, staging.toString, d.getPath.toString)
            if (hasTomb) fs.delete(listTomb, true)
            Some(d.getPath.getName.stripPrefix("list=").toInt)
          }
        }
      // an emptied tombstone table disappears entirely (probes skip the read)
      if (fs.exists(tomb) && fs.listStatus(tomb)
          .forall(s => !s.isDirectory || !s.getPath.getName.startsWith("list=")))
        fs.delete(tomb, true)
      listed
    }
    fs.delete(stagingRoot, true)
    done
  }

  /** The `nprobe` best lists for a query ([[Ivf.rankLists]]), each with
    * its exact q·c term and the query's residual against its centroid.
    */
  private def probedLists(coarse: Coarse, qVec: Array[Double],
                          nprobe: Int): Seq[(Int, Long, Array[Double])] = {
    val cents = coarse.centroids.toMap
    Ivf.rankLists(coarse.centroids, qVec).take(nprobe).toSeq.map { case (cid, sq) =>
      val cq = cents(cid)
      (cid, sq, Array.tabulate(qVec.length)(i => qVec(i) - cq(i).toDouble / VecScale))
    }
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
    val joined = codes.select((("vec_id" +: listCol).map(col) :+ model.layout.explode): _*)
      .join(broadcast(lut), listCol ++ model.layout.keys)
    (if (by.contains("query_id")) joined.filter(col("vec_id") =!= col("query_id")) else joined)
      .groupBy((by ++ Seq("vec_id") ++ base).map(col): _*)
      .agg(sum(model.layout.term).as("rq"))
      .select((by :+ "vec_id").map(col) :+
        (if (listed) col("rq") + lit(model.layout.baseScale) * col("baseq")
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
    val lut = model.layout.lut(spark, probes)
    val live = liveRows(spark, model, model.coarse.map(_ => probes.map(_._1)))
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
    val cand = adc(model, liveRows(spark, model, None),
        model.layout.lutAll(qr, ctx), Seq("query_id"))
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

  /** `nShards` independent indexes over disjoint md5-hash slices (shard =
    * [[Curation.hashBucket]] of vec_id: engine-portable and batch-stable),
    * built by `buildShard(key, slice)` concurrently on `parallelism`
    * driver threads (independent Spark jobs, hash-seeded exact integer
    * math: the result is byte-identical at any parallelism). Memoized like
    * [[build]]. No artifact grows with the corpus: each slice trains its
    * own model, so this is the move past one quantizer's broadcast cap
    * ([[Similarity.autoShardPlan]] sizes shards and lists together).
    */
  private[operators] def buildSharded[L <: Layout](tag: String, indexKey: String,
                                                   params: Seq[Int], embeddings: DataFrame,
                                                   nShards: Int, parallelism: Int)
                                                  (buildShard: (String, DataFrame) => CodesModel[L])
      : ShardedModel[L] = {
    require(nShards > 0, s"nShards=$nShards must be positive")
    require(parallelism > 0, s"parallelism=$parallelism must be positive")
    shardedModels.computeIfAbsent((tag, indexKey, nShards +: params), _ => {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, nShards))
      try {
        val futs = (0 until nShards).map { sh =>
          pool.submit(new java.util.concurrent.Callable[CodesModel[L]] {
            def call(): CodesModel[L] =
              buildShard(s"$indexKey#shard$sh/$nShards",
                embeddings.filter(Curation.hashBucket(col("vec_id"), nShards) === sh))
          })
        }
        ShardedModel(nShards, futs.map(_.get()))
      } finally pool.shutdown()
    }).asInstanceOf[ShardedModel[L]]
  }

  /** The rows of `df` that shard `sh` owns, by the build's hash law. */
  private[graft] def shardSlice(model: ShardedModel[Layout], df: DataFrame, sh: Int): DataFrame =
    df.filter(Curation.hashBucket(col("vec_id"), model.nShards) === sh)

  /** Frozen-model append across the shards: rows route to their owning
    * shard by the build's hash law and land through the per-shard
    * [[appendToIndexIdempotent]], so the grown index equals one built on
    * base ∪ batch with the same per-shard models and a replay is a no-op.
    * Cost is O(batch) per shard filter: persist the batch first when there
    * are many shards.
    */
  def appendToShardedIndexIdempotent(model: ShardedModel[Layout], newBatch: DataFrame,
                                     batchId: Long): Unit =
    model.shards.zipWithIndex.foreach { case (m, sh) =>
      appendToIndexIdempotent(m, shardSlice(model, newBatch, sh), batchId)
    }

  /** DELETE across the shards: ids route by the hash law and land as the
    * owning shard's tombstones; probes mask them immediately.
    */
  def deleteFromShardedIndex(model: ShardedModel[Layout], ids: DataFrame,
                             batchId: Long): Unit =
    model.shards.zipWithIndex.foreach { case (m, sh) =>
      deleteFromIndex(m, shardSlice(model, ids, sh), batchId)
    }

  /** [[compactIndex]] per shard; returns (shard, rewritten list ids) for
    * the shards that did work.
    */
  def compactShardedIndex(spark: SparkSession, model: ShardedModel[Layout],
                          maxFilesPerList: Int = 0,
                          targetRowsPerFile: Long = 4000000L): Seq[(Int, Seq[Int])] =
    model.shards.zipWithIndex.flatMap { case (m, sh) =>
      val done = compactIndex(spark, m, maxFilesPerList, targetRowsPerFile)
      if (done.isEmpty) None else Some((sh, done))
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
