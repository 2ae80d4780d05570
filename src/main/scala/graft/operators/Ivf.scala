package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.VectorOps
import graft.sources.{PointLookup, Snapshot}
import CodesIndex.{Coarse, CodesModel, DotScale, Layout, ShardedModel, VecScale}

/** IVF (inverted-file) approximate nearest neighbor over `embeddings` —
  * the centroid-bucketed scale path, complementing the hyperplane LSH in
  * [[Similarity]]:
  *
  *  1. BUILD ([[buildIndex]]): train a coarse quantizer — `nlist` centroids,
  *     md5-bucket-seeded, refined with Lloyd iterations run as DataFrame
  *     aggregations (each iteration: one argmax projection + one shuffle of
  *     (centroid, dim, value) triples — linear in corpus size) — then
  *     MATERIALIZE the inverted lists: the corpus is written once as a
  *     `list`-partitioned parquet table (one directory per centroid);
  *  2. PROBE ([[probe]]): rank centroids by cosine to the query (driver-side
  *     math on the tiny quantizer), then read ONLY the `nprobe` probed list
  *     directories — partition pruning keeps unprobed lists untouched on
  *     disk — and exact-re-rank the candidates.
  *
  * Build and probe are split, as in a real IVF deployment: training + the
  * list write run once per corpus and the resulting [[IvfModel]] is reused
  * across queries via [[buildIndex]]'s memo. Collecting the quantizer to
  * the driver is the IVF contract: the coarse index must be broadcast-small;
  * the corpus itself only streams through executors into the partitioned
  * write. A probe therefore scans ~nprobe/nlist of the data (asserted on the
  * physical plan in IvfSpec: the index scan carries a partition filter on
  * `list`). At nprobe = nlist the search is exhaustive over all lists and
  * equals the brute-force result exactly (asserted in IvfSpec).
  *
  * The lifecycle — build memo, snapshots, append, exactly-once append,
  * delete, compaction and the sharded verbs — is [[CodesIndex]]'s, shared
  * with the codes layouts: this layout ([[Flat]]) stores each vector's own
  * row. What stays here is its exact-cosine scoring (no ADC, no rerank, so
  * branching the shared codes probe on it would cost more than it saves),
  * training, and the list-shaping verbs ([[rebalanceIndex]],
  * [[nprobeCurve]], [[autoNprobe]]).
  *
  * DETERMINISM — everything the argmin/argmax decisions see is exact
  * integer math, so training is partition-order-free and reproducible
  * bit-for-bit by the DuckDB oracle (SimilarityQueries.ivfSql):
  *  - vectors are quantized once to longs on the 1e-6 grid
  *    (vq = floor(v·1e6 + 0.5));
  *  - centroids LIVE on that grid: the Lloyd mean is an exact long-sum /
  *    count, re-rounded to the grid (cq' = floor(Σvq/n + 0.5)) — never a
  *    float `avg`, whose partition-order-dependent rounding can flip
  *    assignments on tie edges between runs;
  *  - assignment maximizes sq/√norm2q where sq = Σ floor(v·cq·1e3 + 0.5)
  *    ([[graft.plans.QuantDot]]) and norm2q = Σcq² are exact longs; the
  *    only float ops are correctly-rounded functions of exact integers,
  *    identical in any IEEE-754 engine. Dividing by the centroid norm (the
  *    query/vector norm is constant per row) makes the argmax the cosine
  *    argmax without normalizing vectors.
  */
object Ivf {

  /** The raw-vector layout (IVF-Flat): a batch's rows are its own columns,
    * projected by name onto the recorded schema (minus `list`), plus
    * `list`. A missing `vec_id`/`embedding` or a column of a different type
    * fails fast — an append must never land a file the recorded schema
    * misreads — and a payload column the batch lacks (a vector stream
    * feeding an index built over a labelled table) lands as a typed NULL,
    * which is what the recorded read would show for it.
    */
  case object Flat extends Layout {
    def tag: String = "flat"
    def params: Seq[Int] = Nil
    def lines: Seq[String] = Nil
    def rows(vectors: DataFrame, coarse: Option[Coarse],
             schema: Option[StructType]): DataFrame =
      index(schema.fold(vectors)(conform(_, vectors)), coarse.get.centroids)
  }

  /** A built IVF index; its `coarse` is always set. */
  type IvfModel = CodesModel[Flat.type]

  /** A coarse quantizer sharded into independent per-slice [[IvfModel]]s. */
  type IvfShardedModel = ShardedModel[Flat.type]

  private def conform(schema: StructType, batch: DataFrame): DataFrame = {
    val have = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    batch.select(schema.fields.toSeq.filter(_.name != "list").map { f =>
      have.get(f.name) match {
        case None if f.name == "vec_id" || f.name == "embedding" =>
          throw new IllegalArgumentException(
            s"append batch lacks index column `${f.name}` (index has ${schema.simpleString})")
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(dt) if CodesIndex.nullable(dt) != f.dataType =>
          throw new IllegalArgumentException(
            s"append batch column `${f.name}` is ${dt.simpleString}, " +
              s"index stores ${f.dataType.simpleString}")
        case Some(_) => col(f.name)
      }
    }: _*)
  }

  /** Deterministic centroid training on the integer grid. Seeds are the
    * per-bucket min-vec_id vectors (bucket = md5-hash of vec_id mod nlist —
    * engine-portable, same primitive as [[Curation.hashBucket]]), then
    * `iters` Lloyd steps. Returns (centroidId, 1e-6-grid centroid),
    * driver-side. Centroids whose list empties out are dropped (standard
    * Lloyd; both engines drop identically since assignment is exact).
    */
  def trainCentroids(embeddings: DataFrame, nlist: Int, iters: Int = 2): Array[(Int, Array[Long])] = {
    // persist: seeds + each Lloyd iteration re-scan this — without it the
    // parquet scan and the per-row quantization run iters+1 times
    val emb = embeddings.select(col("vec_id"), col("embedding"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * VecScale + 0.5).cast("long")).as("vq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // min_by keeps the min-vec_id quantized vector per bucket in ONE
    // aggregation — no second scan + join to fetch the seed vectors back
    var cents: Array[(Int, Array[Long])] = emb
      .groupBy(Curation.hashBucket(col("vec_id"), nlist).cast("int").as("bucket"))
      .agg(min_by(col("vq"), col("vec_id")).as("vq"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)

    for (_ <- 1 to iters) {
      // assign + per-dimension mean: one shuffle of (cid, dim, vq) triples
      // with map-side combine, collected as ≤ nlist × dim rows; the mean is
      // computed driver-side as the exact floor(Σvq/n + 0.5)
      val sums = emb.withColumn("cid", assignList(col("embedding"), cents))
        .select(col("cid"), posexplode(col("vq")).as(Seq("dim", "vq")))
        .groupBy("cid", "dim")
        .agg(sum("vq").as("s"), count(lit(1)).as("n"))
        .collect()
      cents = sums.groupBy(_.getInt(0)).toArray.map { case (cid, rows) =>
        val arr = new Array[Long](rows.map(_.getInt(1)).max + 1)
        rows.foreach(r => arr(r.getInt(1)) =
          math.floor(r.getLong(2).toDouble / r.getLong(3) + 0.5).toLong)
        (cid, arr)
      }.sortBy(_._1)
    }
    emb.unpersist()
    cents
  }

  /** Per-row argmax-cosine centroid id as a pure expression, where score
    * is the exact quantized sq/√norm2q (see object scaladoc). One fused
    * [[graft.plans.QuantArgmin]] kernel call per row, no shuffle; ties
    * break toward the lower cid (the SQL twin orders by score DESC, cid).
    */
  private def assignList(v: Column, cents: Array[(Int, Array[Long])]): Column =
    // fused QuantArgmin kernel, NOT array_min(array(struct(QuantDot…))):
    // the struct-array form inlines one loop per centroid into the
    // generated method, blowing the codegen budget past a few dozen
    // centroids and dropping the projection to interpreted eval (measured
    // 200 s vs 8 s for an nlist=98 build). Bit-identical scoring and
    // tie-break — asserted against the struct form in NativeKernelsSpec.
    graft.plans.NativeKernels.quantArgmin(v,
      cents.map(_._1),
      cents.map(_._2),
      cents.map { case (_, cq) =>
        math.sqrt(cq.map(c => c * c).sum.toDouble) // exact: ≪ 2^63 at sane dim
      },
      DotScale)

  /** (vec_id, embedding, …, list) — the logical inverted-list assignment,
    * one narrow pass. [[buildIndex]] materializes this `list`-partitioned;
    * exposed separately for tests and ad-hoc use.
    */
  def index(embeddings: DataFrame, cents: Array[(Int, Array[Long])]): DataFrame =
    embeddings.withColumn("list", assignList(col("embedding"), cents))

  /** Index BUILD, memoized per (indexKey, corpus content, nlist, iters,
    * trainSamplePct) through [[CodesIndex.build]]: training runs once per
    * corpus, the
    * inverted lists are written once as a `list`-partitioned parquet table
    * (the reorganized corpus — what an IVF index IS), and the model is
    * reused by every subsequent probe. Training is deterministic
    * (hash-seeded, exact integer decisions), so memoization changes cost
    * only, never results. `indexKey` names the index (e.g. the corpus
    * path); the in-memory cached value is nlist × dim longs — bounded,
    * driver-side.
    *
    * `trainSamplePct < 100` trains the quantizer on a deterministic
    * md5-hash sample of the corpus (the warehouse-scale practice — Lloyd
    * refinement doesn't need every vector, and the full corpus is still
    * assigned and written): the sample is key-stable, so retraining on the
    * same corpus reproduces the same centroids byte-for-byte.
    */
  def buildIndex(indexKey: String, embeddings: DataFrame,
                 nlist: Int = 16, iters: Int = 2,
                 trainSamplePct: Int = 100): IvfModel =
    CodesIndex.build("ivf", indexKey, Seq(nlist, iters, trainSamplePct), embeddings)(
      trained(embeddings, nlist, iters, trainSamplePct))

  private def trained(embeddings: DataFrame, nlist: Int, iters: Int,
                      trainSamplePct: Int): (Flat.type, Option[Coarse]) =
    (Flat, Some(Coarse(nlist, iters,
      trainCentroids(CodesIndex.trainSet(embeddings, trainSamplePct), nlist, iters))))

  /** Memoized build-on-base + one frozen-quantizer append
    * ([[CodesIndex.buildIncremental]]): a probe over it equals one over a
    * from-scratch write of base ∪ batch with the same centroids (the
    * `ann_incremental` oracle). Freezing the quantizer is the standard IVF
    * deployment contract: centroids drift only under distribution shift,
    * which calls for a rebuild or [[rebalanceIndex]], not an append.
    */
  def buildIncremental(indexKey: String, base: DataFrame, newBatch: DataFrame,
                       nlist: Int = 16, iters: Int = 2): IvfModel =
    CodesIndex.buildIncremental("ivf", indexKey, Seq(nlist, iters), base, newBatch)(
      trained(base, nlist, iters, 100))

  /** PROBE: approximate top-k cosine neighbors of a stored vector against a
    * prebuilt [[IvfModel]]. Probe selection is driver-side math on the
    * (tiny) quantizer — the same quantized score as [[assignList]], so the
    * SQL oracle reproduces it — and the corpus scan reads ONLY the probed
    * list directories of the materialized index (partition pruning), plus
    * an exact cosine re-rank of the candidates. Over a bare parquet
    * `embeddings` table one job, the result: [[queryVec]] reads the query
    * vector on the driver. See [[probeWithVec]].
    */
  def probe(model: IvfModel, embeddings: DataFrame, queryVecId: Long,
            k: Int, nprobe: Int = 4,
            allowed: Option[DataFrame] = None): DataFrame =
    probeWithVec(model, embeddings.sparkSession, queryVec(embeddings, queryVecId),
      k, nprobe, exclude = Some(queryVecId), allowed = allowed)

  /** The stored embedding of `queryVecId` as doubles: a driver-side point
    * lookup ([[graft.sources.PointLookup]]) when `embeddings` is a bare
    * parquet table and the id names exactly one row, else one
    * filter-and-collect job. An id no row has fails with an
    * `IllegalArgumentException` naming it.
    */
  private[graft] def queryVec(embeddings: DataFrame, queryVecId: Long): Array[Double] =
    PointLookup.vector(embeddings, queryVecId).getOrElse(
      embeddings.filter(col("vec_id") === queryVecId)
        .select(transform(col("embedding"), _.cast("double")).as("e"))
        .collect().headOption.getOrElse(throw new IllegalArgumentException(
          s"no stored vector has vec_id $queryVecId"))
        .getSeq[Double](0).toArray)

  /** [[probe]]'s query-vector form — the composition primitive for chains
    * whose query does not live in the probed table (two-stage retrieval
    * probes the CHUNK index with a DOC-level query vector): same centroid
    * ranking, same pruned live-row read ([[CodesIndex.liveRows]]: probed
    * lists minus their tombstones) and exact re-rank, but the query arrives
    * as a vector and self-exclusion / allow-listing / an arbitrary index
    * predicate (`indexFilter`, e.g. "parent doc ∈ coarse cut" on the packed
    * chunk key) are explicit.
    *
    * The plan broadcasts nothing of its own: the query enters it as a float
    * array literal (the same floats, the same `VecDot` loop, its norm
    * constant-folded), and up to [[CodesIndex.MaskedTombstones]] tombstoned
    * ids are a memoized `NOT IN` filter ([[CodesIndex.liveRows]]).
    *
    * Lists are ranked with the model of the snapshot the probe reads, not
    * the caller's `model` (which names the index): a model held across a
    * [[rebalanceIndex]] probes the committed lists.
    */
  private[graft] def probeWithVec(model: IvfModel,
                                  spark: SparkSession,
                                  qVec: Array[Double], k: Int, nprobe: Int,
                                  exclude: Option[Long] = None,
                                  allowed: Option[DataFrame] = None,
                                  indexFilter: Option[Column] = None): DataFrame = {
    val snap = CodesIndex.snapshot(spark, model)
    val m = CodesIndex.modelOf(snap)
    val probes = rankLists(m.coarse.get.centroids, qVec).take(nprobe).map(_._1)
    val live0 = CodesIndex.liveRows(spark, m, Some(probes.toIndexedSeq), Some(snap))
    val live1 = exclude.fold(live0)(id => live0.filter(col("vec_id") =!= id))
    val live = indexFilter.fold(live1)(live1.filter)
    // filtered search: the allow-list semi-joins BEFORE the ranking (a
    // keyed distributed join — no broadcast assumption), so excluded
    // vectors never reach the top-k window
    allowed.fold(live)(a =>
        live.join(a.select("vec_id").distinct(), Seq("vec_id"), "left_semi"))
      // NaN (zero-norm) → NULL, the Similarity.topK law: Spark ranks NaN
      // FIRST under desc, the SQL twins' NULLS LAST ranks it last
      .withColumn("cosine",
        nanvl(VectorOps.cosine(col("embedding"), typedLit(qVec.map(_.toFloat))),
          lit(null).cast("double")))
      .orderBy(desc("cosine"), col("vec_id"))
      .select("vec_id", "cosine")
      .limit(k)
  }

  // ---- lifecycle forwards (CodesIndex owns these verbs) ----
  // The benchmark workload still calls these three by their Ivf names;
  // the next change to the benchmark moves it to the CodesIndex verbs and
  // deletes the forwards.

  /** [[CodesIndex.appendToIndexIdempotent]]. */
  def appendToIndexIdempotent(model: IvfModel, newBatch: DataFrame, batchId: Long): Unit =
    CodesIndex.appendToIndexIdempotent(model, newBatch, batchId)

  /** [[CodesIndex.deleteFromIndex]]. */
  def deleteFromIndex(model: IvfModel, ids: DataFrame, batchId: Long): Unit =
    CodesIndex.deleteFromIndex(model, ids, batchId)

  /** [[CodesIndex.compactIndex]], rewriting only lists past 8 files (or
    * with tombstones) by default.
    */
  def compactIndex(spark: SparkSession, model: IvfModel, maxFilesPerList: Int = 8,
                   targetRowsPerFile: Long = 4000000L): Seq[Int] =
    CodesIndex.compactIndex(spark, model, maxFilesPerList, targetRowsPerFile)

  // ---- sharded coarse quantizer (past the broadcast-cap frontier) ----

  /** `nShards` independent IVF indexes over disjoint md5-hash slices of the
    * corpus ([[CodesIndex.buildSharded]]) — the documented move past
    * [[graft.operators.Similarity.autoNlist]]'s 65 536-centroid broadcast
    * cap (≈10⁸ vectors at the 2048 width target). Every per-shard artifact
    * is bounded (quantizer ≤ nlist × dim values, trained on its slice
    * only) and the shards build concurrently on `parallelism` driver
    * threads; each shard trains, stores and probes exactly like a
    * standalone index. Total effective centroid count = nShards × nlist;
    * [[graft.operators.Similarity.autoShardPlan]] sizes both so list width
    * stays at target through 10¹¹ vectors. Append, delete and compaction
    * are [[CodesIndex]]'s sharded verbs.
    */
  def buildShardedIndex(indexKey: String, embeddings: DataFrame,
                        nShards: Int, nlist: Int = 16, iters: Int = 2,
                        parallelism: Int = 8): IvfShardedModel =
    CodesIndex.buildSharded("ivf", indexKey, Seq(nlist, iters), embeddings,
        nShards, parallelism)(
      (key, slice) => buildIndex(key, slice, nlist, iters))

  /** Fan-out probe: each shard answers from its own quantizer and lists
    * (nprobe lists PER SHARD — the distributed-serving contract: shards
    * search in parallel on their own executors), results union and the
    * global top-k re-cut. With nprobe = nlist (exhaustive) this equals
    * brute force over the corpus, which is the sharding parity oracle.
    */
  def probeSharded(model: IvfShardedModel, embeddings: DataFrame,
                   queryVecId: Long, k: Int, nprobe: Int = 4): DataFrame =
    probeShardedWithVec(model, embeddings.sparkSession,
      queryVec(embeddings, queryVecId), k, nprobe, exclude = Some(queryVecId))

  /** [[probeSharded]]'s query-vector form: [[probeWithVec]] per shard. */
  private[graft] def probeShardedWithVec(model: IvfShardedModel,
                                         spark: SparkSession,
                                         qVec: Array[Double], k: Int, nprobe: Int,
                                         exclude: Option[Long]): DataFrame =
    model.shards.map(m => probeWithVec(m, spark, qVec, k, nprobe, exclude = exclude))
      .reduce(_ unionByName _)
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)

  /** Set-oriented fan-out probe — [[probeAll]] run on every shard (each
    * shard selects probes with its OWN quantizer and scans only its probed
    * lists — total candidate work stays |queries| × nprobe/nlist of each
    * slice) and ONE query-keyed window re-cutting the global top-k from
    * the ≤ nShards·k per-query survivors. Emits (query_id, vec_id,
    * cosine, rn); per-query rows equal [[probeSharded]]'s bit-for-bit
    * (asserted in IvfSpec), and at nprobe = nlist the result is the exact
    * kNN join (the `ann_knn_sharded_all` oracle). The re-cut window input
    * is k-bounded per (query, shard) — metadata-sized, never the corpus.
    */
  def probeShardedAll(model: IvfShardedModel, queries: DataFrame, k: Int,
                      nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), col("vec_id"))
    model.shards.map(m => probeAll(m, queries, k, nprobe).drop("rn"))
      .reduce(_ unionByName _)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "cosine", "rn")
  }

  /** Per-query centroid ranking, driver-side — the same quantized score
    * as [[assignList]] (exact sq/√norm2q, ties to the lower cid) — as
    * (cid, exact q·c term sq), best first. Serving probes, calibration
    * ([[nprobeCurve]]) and the listed codes probes all rank lists through
    * here, so they provably agree.
    */
  private[operators] def rankLists(cents: Array[(Int, Array[Long])],
                                   qVec: Array[Double]): Array[(Int, Long)] =
    cents.map { case (cid, cq) =>
      val norm2q = cq.map(c => c * c).sum
      var sq = 0L
      var d = 0
      val n = math.min(qVec.length, cq.length)
      while (d < n) { sq += math.floor(qVec(d) * cq(d) * DotScale + 0.5).toLong; d += 1 }
      (cid, sq, sq.toDouble / math.sqrt(norm2q.toDouble))
    }.sortBy { case (cid, _, s) => (-s, cid) }
      .map { case (cid, sq, _) => (cid, sq) }

  /** Measured recall@k-vs-nprobe curve for a prebuilt index, evaluated on
    * a deterministic holdout query sample — the calibration table the
    * [[autoNprobe]] knob reads, and the empirical answer to "how wide must
    * probes be for the recall I want" (the `autoBits`/`autoTables`
    * discipline applied to list pruning).
    *
    * Method: because IVF-Flat probes rank lists once and scan them in
    * order, a neighbor assigned to the query's rank-r list is found by
    * every probe with nprobe ≥ r and missed below — so ONE pass computing
    * each exact neighbor's list rank yields the entire monotone curve, no
    * per-nprobe re-probing. Emits (nprobe, n_hits, recall) for each rank
    * where the curve steps; recall at any other nprobe is the preceding
    * step's value.
    *
    * Cost: exact ground truth is one corpus scan scoring all |queryIds|
    * queries at once (k-bounded [[graft.functions.TopK]] aggregate — ≤ k
    * rows per partition per query through the shuffle), plus model-sized
    * driver math and a (queries × nlist)-row broadcast join. At warehouse
    * scale this runs once per build against a fixed holdout set, amortized
    * like training itself. Calibrate against a compacted index: the curve
    * reads live assignments but not tombstones.
    */
  def nprobeCurve(model: IvfModel, embeddings: DataFrame,
                  queryIds: Seq[Long], k: Int = 10,
                  scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val qVecs = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("e"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val ranks = queryIds.flatMap { qid =>
      rankLists(model.coarse.get.centroids, qVecs(qid)).zipWithIndex
        .map { case ((cid, _), i) => (qid, cid, i + 1) }
    }.toDF("qid", "cid", "list_rank")
    // exact ground truth for ALL queries in one corpus pass
    val q = embeddings.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    val exact = embeddings
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", VectorOps.cosine(col("embedding"), col("q_emb")))
      .groupBy("qid")
      .agg(graft.functions.TopK.topK(k)(col("vec_id"), col("cosine")).as("top"))
      .select(col("qid"), explode(col("top").getField("id")).as("vec_id"))
    val asg = CodesIndex.readIndex(spark, model)
      .select(col("vec_id"), col("list").cast("int").as("cid"))
    // per-rank hit counts, persisted so the exact ground-truth corpus pass
    // runs once; the cumulative sum is then a broadcast triangular
    // self-join over the model-sized (≤ nlist rows) curve table — NOT a
    // partitionless window, which would global-sort on one task and break
    // the plan invariant every registered query holds
    val byRank = scope.persist(
      exact.join(asg, "vec_id")
        .join(broadcast(ranks), Seq("qid", "cid"))
        .groupBy(col("list_rank").cast("long").as("nprobe"))
        .agg(count(lit(1)).as("n_at_rank")))
    byRank.as("a")
      .join(broadcast(byRank.as("b")), col("b.nprobe") <= col("a.nprobe"))
      .groupBy(col("a.nprobe").as("nprobe"))
      .agg(sum(col("b.n_at_rank")).as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / (k.toLong * queryIds.length))
      .select("nprobe", "n_hits", "recall")
  }

  /** Recall-targeted probe width: the smallest nprobe whose measured
    * recall@k on the holdout sample meets `targetRecallPct` — the manual
    * recall knob replaced by a measurement, chosen per index at build/
    * calibration time and stored with the model like any other parameter.
    * Returns (nprobe, n_hits at that width); never exceeds nlist (the
    * curve always reaches recall 1.0 there: an exhaustive IVF-Flat probe
    * is the exact search). Deterministic end-to-end — hash-oracled as
    * `ann_autonprobe` at two corpus sizes.
    */
  def autoNprobe(model: IvfModel, embeddings: DataFrame, queryIds: Seq[Long],
                 k: Int = 10, targetRecallPct: Int = 90): (Int, Long) = {
    val need = (targetRecallPct.toLong * k * queryIds.length + 99L) / 100L
    val sc = new graft.CacheScope
    val steps =
      try nprobeCurve(model, embeddings, queryIds, k, sc)
        .orderBy("nprobe")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      finally sc.release()
    steps.collectFirst { case (np, hits) if hits >= need => (np.toInt, hits) }
      .getOrElse((model.coarse.get.centroids.length, steps.lastOption.map(_._2).getOrElse(0L)))
  }

  /** List re-balance under corpus drift (frozen-quantizer appends pile a
    * drifting corpus into few lists; `ann_list_sizes` detects it): every
    * list larger than `maxRatio` × the mean is SPLIT by a 2-centroid
    * sub-quantizer trained on its live vectors only (the deterministic
    * integer-grid Lloyd of [[trainCentroids]]) into two new lists; cold
    * lists are never opened. Tombstones on a split list are consumed. The
    * vector set is unchanged, so an exhaustive probe equals the original's
    * (IvfSpec). It splits with the model of the snapshot it commits on
    * (`model` names the index only), writes every split in one write and
    * commits the new lists with the new model in one snapshot: a crash
    * before the commit leaves the index as it was.
    */
  def rebalanceIndex(spark: SparkSession, model: IvfModel,
                     maxRatio: Double = 4.0, iters: Int = 2): IvfModel = {
    graft.MutationGuard.claim(model.indexPath)
    val base = CodesIndex.snapshot(spark, model)
    val m0 = CodesIndex.modelOf(base).asInstanceOf[IvfModel]
    val sizes = Snapshot.read(spark, base, Snapshot.Data, m0.schema)
      .groupBy("list").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    if (sizes.isEmpty) return m0
    val mean = sizes.values.sum.toDouble / sizes.size
    val hot = sizes.filter { case (_, n) => n > maxRatio * mean }.keys.toSeq.sorted
    var cents = m0.coarse.get.centroids.toVector
    var nextCid = (cents.map(_._1) ++ sizes.keys).max + 1
    val splits = hot.flatMap { cid =>
      val rows = CodesIndex.liveRows(spark, m0, Some(Seq(cid)), Some(base)).drop("list")
      val sub = trainCentroids(rows, 2, iters)
      if (sub.length < 2) None
      else {
        val remap = sub.zipWithIndex.map { case ((_, cq), k) => (nextCid + k, cq) }
        cents = (cents.filterNot(_._1 == cid) ++ remap).sortBy(_._1)
        nextCid += sub.length
        Some(cid -> index(rows, remap))
      }
    }
    if (splits.isEmpty) return m0
    val cur = m0.copy(coarse =
      m0.coarse.map(_.copy(nlist = cents.length, centroids = cents.toArray)))
    val split = splits.map(_._1).toSet
    val files = Snapshot.write(splits.map(_._2).reduce(_ unionByName _), base, "split",
      Snapshot.Data, listed = true)
    Snapshot.commit(spark, base.copy(model = CodesIndex.modelLines(cur),
      files = base.files.filterNot(_.list.exists(split)) ++ files))
    cur
  }

  /** Memoized build + one re-balance pass — the harness-facing form (the
    * [[buildIncremental]] pattern): replayed calls get the REBALANCED
    * model, never a second mutation of the same directory with a stale
    * centroid set. A fresh JVM rebuilds then re-splits — deterministic,
    * so results never change across replays.
    */
  def buildRebalanced(indexKey: String, embeddings: DataFrame,
                      nlist: Int = 16, maxRatio: Double = 4.0): IvfModel =
    graft.Artifacts.value("ivf.rebalanced", indexKey, Seq(embeddings), nlist, maxRatio)(
      rebalanceIndex(embeddings.sparkSession,
        buildIndex(indexKey + "#rb", embeddings, nlist), maxRatio))

  /** The `nprobe` best list ids for a query vector column, as a pure
    * expression: the same quantized sq/√norm2q score as [[assignList]]
    * (and the driver-side math in [[probe]] — identical kernel, identical
    * tie-break toward the lower cid), ranked by array_sort over
    * (negscore, cid) structs and sliced. No shuffle, no driver round-trip
    * — what lets [[probeAll]] select probes for a whole TABLE of queries.
    */
  private[operators] def probeListsExpr(qEmb: Column,
                                        cents: Array[(Int, Array[Long])],
                                        nprobe: Int): Column =
    transform(probeStructsCol(qEmb, cents, nprobe), e => e.getField("cid"))

  /** [[probeListsExpr]] keeping the exact integer q·c term per probed list
    * — structs (cid, baseq) — for the composite layouts whose ADC ranking
    * needs the coarse score as its base term ([[CodesIndex.probeAll]]).
    * Identical ranking and tie-break. Fused
    * [[graft.plans.QuantTopLists]] kernel for the same reason
    * [[assignList]] fused: the slice(array_sort(array(struct…))) form's
    * generated code grows with nlist and drops to interpreted eval past a
    * few dozen centroids — with autoNlist-sized quantizers that cliff sat
    * on the whole-table probe path.
    */
  private[operators] def probeStructsCol(qEmb: Column,
                                         cents: Array[(Int, Array[Long])],
                                         nprobe: Int): Column =
    graft.plans.NativeKernels.quantTopLists(qEmb,
      cents.map(_._1),
      cents.map(_._2),
      cents.map { case (_, cq) => math.sqrt(cq.map(c => c * c).sum.toDouble) },
      DotScale, nprobe)

  /** Set-oriented probe — approximate top-k neighbors for EVERY row of
    * `queries` (vec_id, embedding) in one plan: per-row probe selection via
    * [[probeListsExpr]], explode to (query, list) pairs, ONE keyed join
    * against the live rows ([[CodesIndex.liveRows]]), exact cosine re-rank
    * and a query-keyed row_number ≤ k. Emits (query_id, vec_id, cosine,
    * rn); per-query rows equal [[probe]]'s bit-for-bit (asserted in
    * IvfSpec/StreamingSpec).
    *
    * Scale: the corpus-sized side is the index scan, shuffled once on
    * `list`; each query joins only its nprobe lists, so total candidate
    * work is |queries| × nprobe/nlist of the corpus, and the ranking window
    * is keyed by query (never a global sort). This is the kNN-join through
    * the IVF index — the batch engine under the streaming probe sink
    * ([[graft.streaming.Streams.ivfProbeSink]]).
    */
  def probeAll(model: IvfModel, queries: DataFrame, k: Int,
               nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("list",
        explode(probeListsExpr(col("q_emb"), model.coarse.get.centroids, nprobe)))
    val idx = CodesIndex.liveRows(queries.sparkSession, model, None)
      .select(col("list"), col("vec_id"), col("embedding"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), col("vec_id"))
    idx.join(q, "list")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        nanvl(VectorOps.cosine(col("embedding"), col("q_emb")),
          lit(null).cast("double")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "cosine", "rn")
  }

  /** One-shot convenience: memoized build (under `indexKey`) + probe.
    * Callers probing more than one corpus in a process must pass distinct
    * keys; prefer explicit [[buildIndex]] + [[probe]] in applications.
    */
  def topKIvf(embeddings: DataFrame, queryVecId: Long, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
              indexKey: String = "adhoc"): DataFrame =
    probe(buildIndex(indexKey, embeddings, nlist, iters),
      embeddings, queryVecId, k, nprobe)
}
