package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StructField, StructType}
import graft.functions.VectorOps
import graft.sources.Snapshot

/** The one lifecycle of the five ANN index layouts: raw-vector IVF
  * ([[Ivf]]) and the compressed-codes layouts ([[Pq]], [[Sq]], [[IvfPq]],
  * [[IvfSq]]). A layout is a [[Layout]] — the rows a batch writes, plus
  * its model identity — and an optional IVF coarse partitioner
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
  * Persistence: a [[graft.sources.Snapshot]] per committed version,
  * `_snapshots/<v>` at the table root, is the index: the model lines (the
  * layout tag and parameters, the table's `schema <json>` so no reader
  * infers it, the coarse centroids when listed, and the layout's lines),
  * the data and tombstone files, and the absorbed batch ids. Every verb
  * commits through [[graft.sources.Snapshot.commit]]; deletes are
  * tombstone files, which compaction drops physically.
  */
object CodesIndex {

  /** Vector quantization grid: values live on multiples of 1e-6. */
  private[operators] val VecScale = 1000000.0

  /** Score-term grid: each product term is rounded at ×1e3 (≈1e-9
    * resolution of the real-valued cosine numerator — far below any
    * meaningful cosine gap; what matters is both engines round identically).
    */
  private[operators] val DotScale = 1000.0

  /** What the lifecycle needs of a layout: its model identity and the
    * rows a batch writes.
    */
  trait Layout {
    /** "flat", "pq" or "sq"; a listed layout's tag is "ivf" + this. */
    def tag: String
    /** Integer parameters, on the model header line. */
    def params: Seq[Int]
    /** Trained parameters as model lines (read back by [[loadModel]]). */
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

  /** Index BUILD, memoized through [[graft.Artifacts]] per (tag,
    * indexKey, the content of `embeddings`, params): `params` must hold
    * every parameter that shapes the model, and a changed corpus under a
    * reused indexKey builds afresh. `train` runs once; the corpus is
    * written once, into the build's own directory, as the scan target of
    * every probe (`list`-partitioned when listed), and the first snapshot
    * commits it with the model.
    */
  private[operators] def build[L <: Layout](tag: String, indexKey: String,
                                            params: Seq[Int], embeddings: DataFrame)
                                           (train: => (L, Option[Coarse])): CodesModel[L] =
    graft.Artifacts.withDir(tag, indexKey, Seq(embeddings), params: _*) { path =>
      materialize(path, embeddings, train)
    }

  private def materialize[L <: Layout](path: String, embeddings: DataFrame,
                                       trained: (L, Option[Coarse])): CodesModel[L] = {
    val (layout, coarse) = trained
    val table = layout.rows(embeddings, coarse, None)
    val model = CodesModel(layout, coarse, path,
      nullable(table.schema).asInstanceOf[StructType])
    val empty = Snapshot.empty(path)
    val files = Snapshot.write(table, empty, "build", Snapshot.Data, coarse.isDefined)
    Snapshot.commit(embeddings.sparkSession,
      empty.copy(model = modelLines(model), files = files))
    model
  }

  /** Memoized build-on-`base` + one [[appendToIndex]] of `newBatch`, keyed
    * by both frames' content, so a replayed call appends nothing. The base
    * table is the incremental build's own, trained by `train` on `base`.
    */
  private[operators] def buildIncremental[L <: Layout](tag: String, indexKey: String,
                                                       params: Seq[Int], base: DataFrame,
                                                       newBatch: DataFrame)
                                                      (train: => (L, Option[Coarse])): CodesModel[L] =
    graft.Artifacts.withDir(tag + ".inc", indexKey, Seq(base, newBatch), params: _*) { path =>
      val model = materialize(path, base, train)
      appendToIndex(model, newBatch)
      model
    }

  /** `model` as snapshot model lines: the header `<tag> <params…>`, the
    * table's `schema <json>`, `coarse <nlist> <iters>` plus one `C` line
    * per centroid when listed, then the layout's lines.
    */
  private[operators] def modelLines(model: CodesModel[Layout]): Seq[String] = {
    val coarse = model.coarse.toSeq.flatMap { c =>
      s"coarse ${c.nlist} ${c.iters}" +:
        c.centroids.toSeq.map { case (cid, cq) => s"C $cid ${cq.mkString(",")}" }
    }
    val tag = model.coarse.fold("")(_ => "ivf") + model.layout.tag
    Seq((tag +: model.layout.params).mkString(" "),
      s"schema ${model.schema.json}") ++ coarse ++ model.layout.lines
  }

  /** The model snapshot `s` records. Every mutation verb encodes, assigns
    * and splits with the model of the snapshot it commits on, so reading
    * the model and committing on it are one optimistic step. A model
    * without a recorded schema fails (rebuild the index: readers never
    * infer).
    */
  private[operators] def modelOf(s: Snapshot): CodesModel[Layout] = {
    val head = s.model.head.split(" ")
    val body = s.model.drop(2).filter(_.nonEmpty)
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
      case other => throw new IllegalStateException(s"${s.root}: unknown layout $other")
    }
    CodesModel(layout, coarse, s.root, Snapshot.schema(s))
  }

  /** The committed model of an index, if it has a snapshot; it reflects
    * every committed re-balance. Memoized builds live for the process
    * (their directories go with [[graft.Artifacts]]' root at exit), so this
    * reads an index another verb of this process changed, or one at a
    * caller-owned path. A model whose layout is not an `L` fails.
    */
  def loadModel[L <: Layout](spark: SparkSession, indexPath: String)
                            (implicit ct: scala.reflect.ClassTag[L]): Option[CodesModel[L]] =
    Snapshot.latest(spark, indexPath).map(modelOf).map { m =>
      m.layout match {
        case _: L => m.asInstanceOf[CodesModel[L]]
        case _ => throw new IllegalArgumentException(s"$indexPath holds a " +
          s"${m.coarse.fold("")(_ => "ivf")}${m.layout.tag} model, " +
          s"not a ${ct.runtimeClass.getSimpleName}")
      }
    }

  /** The freshest model for an index: the committed one if present, else
    * the caller's copy.
    */
  def currentModel[L <: Layout](spark: SparkSession, model: CodesModel[L])
                               (implicit ct: scala.reflect.ClassTag[L]): CodesModel[L] =
    loadModel[L](spark, model.indexPath).getOrElse(model)

  /** The index's newest snapshot; every verb reads and commits from one. */
  private[operators] def snapshot(spark: SparkSession, model: CodesModel[Layout]): Snapshot =
    Snapshot.latest(spark, model.indexPath).getOrElse(
      throw new IllegalStateException(s"${model.indexPath} holds no index snapshot"))

  /** The index table, opened from its newest snapshot with its recorded
    * schema: no listing, no schema-inference job. Every reader of an index
    * goes through here or [[liveRows]].
    */
  def readIndex(spark: SparkSession, model: CodesModel[Layout]): DataFrame =
    Snapshot.read(spark, snapshot(spark, model), Snapshot.Data, model.schema)

  /** The live rows of snapshot `s` (the newest by default): the table
    * pruned to `lists` (listed tables) minus the tombstones of those
    * lists; a probe whose lists carry none reads no tombstones. Every
    * probe reads this.
    *
    * A probe masks the tombstoned ids of its lists with a null-safe
    * `NOT IN` hash-set filter — no join and no broadcast job — while they
    * number at most [[MaskedTombstones]] and the table's tombstone files
    * record at most `spark.sql.autoBroadcastJoinThreshold` bytes (the
    * driver holds the [[tombstones]] memo). Otherwise they stay a left-anti
    * join.
    */
  private[operators] def liveRows(spark: SparkSession, model: CodesModel[Layout],
                                  lists: Option[Seq[Int]],
                                  s: Option[Snapshot] = None): DataFrame = {
    val snap = s.getOrElse(snapshot(spark, model))
    def probed(list: Option[Int]) = lists.forall(ls => list.exists(ls.contains))
    def pruned(df: DataFrame) = lists.fold(df)(ls => df.filter(col("list").isin(ls: _*)))
    val rows = pruned(Snapshot.read(spark, snap, Snapshot.Data, model.schema))
    val tombs = snap.files.filter(_.kind == Snapshot.Tomb)
    def masked = Option.when(tombs.map(_.len).sum <=
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold)(
      tombstones(spark, model, snap).collect { case (l, ids) if probed(l) => ids }.flatten)
      .filter(_.size <= MaskedTombstones)
    if (!tombs.exists(f => probed(f.list))) rows
    else masked.fold(rows.join(pruned(Snapshot.read(spark, snap, Snapshot.Tomb,
        tombSchema(model))).select("vec_id"), Seq("vec_id"), "left_anti")) { ids =>
      val id = col("vec_id")
      rows.filter(id.isNull ||
        !ColumnBridge.column(InSet(ColumnBridge.expression(id), ids.toSet[Any])))
    }
  }

  /** The most tombstoned ids a probe masks with a `NOT IN` filter. The set
    * rides in every task, so its cost grows with its size; against the
    * broadcast anti-join it breaks even near 20–25k ids (1.2M 16-d vectors,
    * 16 lists, nprobe 4, local[4]; CHANGES.md).
    */
  private[graft] val MaskedTombstones = 16384

  private def tombSchema(model: CodesModel[Layout]): StructType =
    StructType(StructField("vec_id", LongType) +: model.schema.filter(_.name == "list"))

  /** The non-null tombstoned ids of snapshot `s` per list (`None` when
    * flat), read in one job. The table root holds one memo entry, keyed by
    * the sorted tombstone file paths and replaced when they change. Those
    * names carry a random attempt id and are never reused, so the key is
    * content-exact across versions: an append keeps the entry, and only
    * the first read after a delete or a compaction pays the job.
    */
  private def tombstones(spark: SparkSession, model: CodesModel[Layout],
                         s: Snapshot): Map[Option[Int], Array[Long]] =
    graft.Artifacts.replacing("index.tombstones", s.root,
        s.files.filter(_.kind == Snapshot.Tomb).map(_.path).sorted) {
      Snapshot.read(spark, s, Snapshot.Tomb, tombSchema(model))
        .filter(col("vec_id").isNotNull).collect().toSeq
        .groupBy(r => if (model.coarse.isDefined) Some(r.getInt(1)) else None)
        .map { case (l, rs) => l -> rs.map(_.getLong(0)).distinct.toArray }
    }

  /** Frozen-model append: `newBatch` is written as the layout's rows
    * (encoded with the trained codec, assigned by the frozen centroids) —
    * no retrain. Existing files stay byte-identical, untouched lists are
    * never opened, and the table equals a from-scratch write of base ∪
    * batch with the same model (per-row exact integer math). A raw IVF
    * batch is matched to the recorded schema by column name: a missing
    * `vec_id`/`embedding` or a different type fails before anything is
    * written, and a missing payload column lands as NULL. The batch is
    * encoded with the model of the snapshot it commits on, whatever model
    * the caller holds (a re-balance since then moved the lists). NOT
    * idempotent: [[appendToIndexIdempotent]] is the replay-safe form.
    */
  def appendToIndex(model: CodesModel[Layout], newBatch: DataFrame): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    val base = snapshot(newBatch.sparkSession, model)
    val m = modelOf(base)
    Snapshot.append(base, encode(m, newBatch), "append", Snapshot.Data, m.coarse.isDefined)
  }

  /** Replay-idempotent append, the exactly-once form for streaming ingest:
    * a batch whose id the newest snapshot records as absorbed is a no-op
    * (also after a compaction folded its files, or a re-balance moved its
    * rows). Otherwise it is written by one task
    * ([[graft.sources.Snapshot.appendOnce]]): one `ingest-<batchId>` file
    * per touched list, encoded with the model of the snapshot it commits
    * on, as [[appendToIndex]]. A crash before the commit leaves files no
    * snapshot names; the replay's commit removes them.
    */
  def appendToIndexIdempotent(model: CodesModel[Layout], newBatch: DataFrame,
                              batchId: Long): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    val base = snapshot(newBatch.sparkSession, model)
    Snapshot.appendOnce(base, batchId, model.coarse.isDefined)(encode(modelOf(base), newBatch))
  }

  /** DELETE: the batch's ids land exactly-once as `tomb-<batchId>` files
    * (one per list when listed, the lists found by joining the ids to the
    * table; AQE broadcasts small batches). Data files are never touched;
    * probes mask the ids before ranking and [[compactIndex]] drops them.
    * A replayed batch id is a no-op.
    */
  def deleteFromIndex(model: CodesModel[Layout], ids: DataFrame, batchId: Long): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    val spark = ids.sparkSession
    val base = snapshot(spark, model)
    if (!base.batches(s"delete-$batchId")) {
      val tomb = if (model.coarse.isEmpty) ids.select("vec_id").distinct()
        else Snapshot.read(spark, base, Snapshot.Data, model.schema)
          .select(col("vec_id"), col("list")).join(ids.select("vec_id"), "vec_id")
      Snapshot.append(base, tomb.repartition(1), s"tomb-$batchId", Snapshot.Tomb,
        model.coarse.isDefined, Some(s"delete-$batchId"))
    }
  }

  /** Small-file maintenance and physical delete. A flat table, or a list
    * of a listed one, is rewritten when it holds more than
    * `maxFilesPerList` data files or carries tombstones (the default
    * rewrites everything), into files of at most `targetRowsPerFile` rows
    * (`maxRecordsPerFile`: no count job), by one task per
    * `spark.sql.files.maxPartitionBytes` of the list's recorded data bytes;
    * the rewrite drops tombstoned rows and consumes the tombstones. One
    * write rewrites all hot lists, and one snapshot keeping every absorbed
    * batch id commits them. Returns the rewritten list ids (a rewritten
    * flat table reports list 0, its LUT list). A crash before the commit
    * leaves the table as it was; of two compactions from one version the
    * later commit throws. The ingest stream's own foreachBatch may call
    * this: micro-batches serialize.
    */
  def compactIndex(spark: SparkSession, model: CodesModel[Layout],
                   maxFilesPerList: Int = 0,
                   targetRowsPerFile: Long = 4000000L): Seq[Int] = {
    graft.MutationGuard.claim(model.indexPath)
    val base = snapshot(spark, model)
    val hot = base.files.groupBy(_.list).collect {
      case (l, fs) if fs.count(_.kind == Snapshot.Data) > maxFilesPerList ||
          fs.exists(_.kind == Snapshot.Tomb) => l
    }.toSeq
    if (hot.isEmpty) Nil
    else {
      val split = org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
      val tasks = base.files.filter(f => f.kind == Snapshot.Data && hot.contains(f.list))
        .groupBy(_.list).map { case (l, fs) => l -> ((fs.map(_.len).sum + split - 1) / split) }
      val live = liveRows(spark, model, model.coarse.map(_ => hot.flatten), Some(base))
      val rows = if (model.coarse.isEmpty) live.repartition(tasks.values.sum.max(1L).toInt)
        else live.repartition(col("list"), pmod(hash(col("vec_id")),
          element_at(typedLit(tasks.map { case (l, n) => l.get -> n.max(1L) }), col("list"))))
      val files = Snapshot.write(rows, base, "compact", Snapshot.Data,
        model.coarse.isDefined, targetRowsPerFile)
      Snapshot.commit(spark,
        base.copy(files = base.files.filterNot(f => hot.contains(f.list)) ++ files))
      hot.map(_.getOrElse(0)).sorted
    }
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
    * vectors never consume rerank slots. The re-rank scores against the
    * query vector ([[Ivf.queryVec]]) as a literal, as [[Ivf.probeWithVec]]
    * does, which also ranks with the model of the snapshot the probe reads.
    */
  def probe(model: CodesModel[Codec], embeddings: DataFrame, queryVecId: Long,
            k: Int, nprobe: Int = 4, rerank: Int = 50,
            allowed: Option[DataFrame] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val qVec = Ivf.queryVec(embeddings, queryVecId)
    val snap = snapshot(spark, model)
    val m = modelOf(snap).asInstanceOf[CodesModel[Codec]]
    val probes = m.coarse.fold(Seq((0, 0L, qVec)))(probedLists(_, qVec, nprobe))
    val lut = m.layout.lut(spark, probes)
    val live = liveRows(spark, m, m.coarse.map(_ => probes.map(_._1)), Some(snap))
      .filter(col("vec_id") =!= queryVecId)
    val codes = allowed.fold(live)(a =>
      live.join(a.select("vec_id").distinct(), Seq("vec_id"), "left_semi"))
    val cand = adc(m, codes, if (m.coarse.isDefined) lut else lut.drop("list", "baseq"), Nil)
      .orderBy(desc("adcq"), col("vec_id"))
      .limit(rerank)
    // the exact widening of the stored floats: the same VecDot products
    cand.join(embeddings.select("vec_id", "embedding"), "vec_id")
      .withColumn("cosine", VectorOps.cosine(col("embedding"), typedLit(qVec)))
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
    graft.Artifacts.value(tag + ".sharded", indexKey, Seq(embeddings),
        nShards +: params: _*) {
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
    }
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
