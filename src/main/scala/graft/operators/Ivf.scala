package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.functions.VectorOps

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
  * across queries via [[buildIndex]]'s memo. Collecting the quantizer to the
  * driver is the IVF contract: the coarse index must be broadcast-small; the
  * corpus itself only streams through executors into the partitioned write.
  * A probe therefore scans ~nprobe/nlist of the data (asserted on the
  * physical plan in IvfSpec: the index scan carries a partition filter on
  * `list`). At nprobe = nlist the search is exhaustive over all lists and
  * equals the brute-force result exactly (asserted in IvfSpec).
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

  /** Vector quantization grid: values live on multiples of 1e-6. */
  private val VecScale = 1000000.0

  /** Score-term grid: each v·cq product term is rounded at ×1e3 (≈1e-9
    * resolution of the real-valued cosine numerator — far below any
    * meaningful cosine gap; what matters is both engines round identically).
    */
  private val DotScale = 1000.0

  /** Trained coarse quantizer: (centroidId, centroid on the 1e-6 long grid)
    * plus the materialized `list`-partitioned inverted-list table and that
    * table's schema (the embeddings' columns plus `list`, as a parquet read
    * presents them), recorded at build so readers never infer it.
    */
  final case class IvfModel(nlist: Int, iters: Int,
                            centroids: Array[(Int, Array[Long])],
                            indexPath: String,
                            schema: StructType)

  /** The index table, opened with its recorded schema: no footer-reading
    * schema-inference job, and partition discovery still types `list`
    * from the schema. Every reader of an IVF index goes through here.
    */
  def readIndex(spark: SparkSession, model: IvfModel): DataFrame =
    spark.read.schema(model.schema).parquet(model.indexPath)

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

  /** `batch` projected by name onto the index's data columns (its recorded
    * schema minus `list`), failing fast on a missing `vec_id`/`embedding`
    * or a column of a different type — an append must never land a file
    * the recorded schema misreads. A payload column the batch lacks (e.g.
    * a vector stream feeding an index built over a labelled table) lands
    * as a typed NULL, which is what the recorded read would show for it.
    */
  private def conform(model: IvfModel, batch: DataFrame): DataFrame = {
    val have = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    batch.select(model.schema.fields.toSeq.filter(_.name != "list").map { f =>
      have.get(f.name) match {
        case None if f.name == "vec_id" || f.name == "embedding" =>
          throw new IllegalArgumentException(
            s"append batch lacks index column `${f.name}` " +
              s"(index ${model.indexPath} has ${model.schema.simpleString})")
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(dt) if nullable(dt) != f.dataType =>
          throw new IllegalArgumentException(
            s"append batch column `${f.name}` is ${dt.simpleString}, " +
              s"index ${model.indexPath} stores ${f.dataType.simpleString}")
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

  private val models =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int, Int), IvfModel]()

  /** Filesystem-safe AND injective directory token for an index key: the
    * readable sanitized form plus an md5 prefix of the RAW key. Sanitizing
    * alone maps distinct keys ("a/b", "a_b") to one directory, silently
    * sharing/overwriting an index — the hash makes the mapping injective
    * while keeping the name human-readable.
    */
  private[graft] def dirToken(key: String): String =
    key.replaceAll("[^A-Za-z0-9._-]", "_") + "-" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString

  /** Content fingerprint for the write-once corpus stores (pair table,
    * covered positions, build parts, pretrain state): the canonicalized
    * logical plan's semantic hash plus a hash of the plan's input file
    * list. Folding this into a store key catches the two staleness
    * hazards the caller-supplied string key cannot — a DIFFERENT corpus
    * derivation reusing a key within one process, and the same path
    * re-pointed at new files in a long-lived session — without paying a
    * data pass (both are driver-side metadata). Two references to the
    * same source built the same way canonicalize identically, so
    * consumers that intentionally share a store keep sharing it.
    */
  private[graft] def contentToken(df: org.apache.spark.sql.DataFrame): String = {
    val plan = df.queryExecution.analyzed.canonicalized.semanticHash()
    val files = df.inputFiles.sorted.mkString("\n").hashCode
    f"$plan%08x$files%08x"
  }

  /** Per-process token folded into store DIRECTORY names: two concurrent
    * JVMs on the same corpus key write disjoint directories instead of
    * racing overwrite-vs-read on one (torn parquet reads), and a fresh
    * process can never serve a previous process's artifacts — every run
    * recomputes its stores from the inputs (the no-cross-run-caching
    * contract the bench relies on).
    */
  private[graft] val pidToken: String =
    "p" + ProcessHandle.current().pid()

  private def indexDir(indexKey: String, nlist: Int, iters: Int): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-ivf-" + dirToken(indexKey) +
        s"-$nlist-$iters").getAbsolutePath

  /** Index BUILD, memoized per (indexKey, nlist, iters, trainSamplePct):
    * training runs once per corpus key, the inverted lists are written once
    * as a `list`-partitioned parquet table (the reorganized corpus — what
    * an IVF index IS), and the model is reused by every subsequent probe.
    * Training is deterministic (hash-seeded, exact integer decisions), so
    * memoization changes cost only, never results. `indexKey` should
    * identify the corpus (e.g. its path); the in-memory cached value is
    * nlist × dim longs — bounded, driver-side.
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
    models.computeIfAbsent((indexKey, nlist, iters, trainSamplePct), _ => {
      val trainSet =
        if (trainSamplePct >= 100) embeddings
        else Curation.hashSample(embeddings, col("vec_id"), trainSamplePct)
      val cents = trainCentroids(trainSet, nlist, iters)
      val path = indexDir(indexKey, nlist, iters)
      val table = index(embeddings, cents)
      table.write.mode("overwrite").partitionBy("list").parquet(path)
      // a from-scratch build is a NEW index: tombstones from a previous
      // process against the same deterministic path must not outlive it
      // (in-root state — done-markers, _centroids — died with the overwrite)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        embeddings.sparkSession.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tombstonesPath(path)), true)
      val model = IvfModel(nlist, iters, cents, path,
        nullable(table.schema).asInstanceOf[StructType])
      saveModel(embeddings.sparkSession, model)
      model
    })

  /** Incremental index maintenance — the growing-corpus path: assign
    * `newBatch` with the FROZEN quantizer (`model.centroids` — no retrain)
    * and APPEND its rows into the existing `list`-partitioned table. Append
    * mode only ADDS part-files: untouched list directories are never opened
    * and even touched directories' existing files stay byte-identical
    * (asserted in IvfSpec), so append cost scales with the BATCH, not the
    * corpus — a 100 TB index absorbs a daily batch without the full rewrite
    * [[buildIndex]] pays.
    *
    * The result is definitionally identical to re-assigning base∪batch with
    * the same centroids (assignment is per-row, exact integer math), so a
    * probe over the appended index equals a probe over a from-scratch write
    * with the same quantizer (the `ann_incremental` oracle). Freezing the
    * quantizer is the standard IVF deployment contract: centroids drift
    * only under distribution shift, which calls for a rebuild, not an
    * append. NOT idempotent — append each batch exactly once (the memoized
    * [[buildIncremental]] is the replay-safe form). The batch is projected
    * onto the recorded schema by name; a missing `vec_id`/`embedding` or a
    * different type fails before anything is written, and a missing
    * payload column lands as NULL.
    */
  def appendToIndex(model: IvfModel, newBatch: DataFrame): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    index(conform(model, newBatch), model.centroids)
      .write.mode("append").partitionBy("list").parquet(model.indexPath)
  }

  private val incModels =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), IvfModel]()

  /** Memoized build-on-base + one append — the harness-facing incremental
    * form (Verify/Bench replay queries in one JVM; the memo makes the
    * append happen exactly once per key). A fresh JVM rebuilds the base
    * index (mode overwrite) before appending, so the table never
    * accumulates duplicate batches. The base index is keyed `indexKey#inc`
    * to keep it distinct from any full-corpus index of the same source.
    */
  def buildIncremental(indexKey: String, base: DataFrame, newBatch: DataFrame,
                       nlist: Int = 16, iters: Int = 2): IvfModel =
    incModels.computeIfAbsent((indexKey, nlist, iters), _ => {
      val model = buildIndex(indexKey + "#inc", base, nlist, iters)
      appendToIndex(model, newBatch)
      model
    })

  /** PROBE: approximate top-k cosine neighbors of a stored vector against a
    * prebuilt [[IvfModel]]. Probe selection is driver-side math on the
    * (tiny) quantizer — the same quantized score as [[assignList]], so the
    * SQL oracle reproduces it — and the corpus scan reads ONLY the probed
    * list directories of the materialized index (partition pruning), plus
    * an exact cosine re-rank of the candidates.
    */
  def probe(model: IvfModel, embeddings: DataFrame, queryVecId: Long,
            k: Int, nprobe: Int = 4,
            allowed: Option[DataFrame] = None): DataFrame =
    probeWithVec(model, embeddings.sparkSession, queryVec(embeddings, queryVecId),
      k, nprobe, exclude = Some(queryVecId), allowed = allowed)

  /** The stored embedding of `queryVecId` as doubles — one collect. */
  private[graft] def queryVec(embeddings: DataFrame, queryVecId: Long): Array[Double] =
    embeddings.filter(col("vec_id") === queryVecId)
      .select(transform(col("embedding"), _.cast("double")).as("e"))
      .collect()(0).getSeq[Double](0).toArray

  /** [[probe]]'s query-vector form — the composition primitive for chains
    * whose query does not live in the probed table (two-stage retrieval
    * probes the CHUNK index with a DOC-level query vector): same centroid
    * ranking, same pruned list scan, same tombstone mask and exact
    * re-rank, but the query arrives as a vector and self-exclusion /
    * allow-listing / an arbitrary index predicate (`indexFilter`, e.g.
    * "parent doc ∈ coarse cut" on the packed chunk key) are explicit.
    */
  private[graft] def probeWithVec(model: IvfModel,
                                  spark: org.apache.spark.sql.SparkSession,
                                  qVec: Array[Double], k: Int, nprobe: Int,
                                  exclude: Option[Long] = None,
                                  allowed: Option[DataFrame] = None,
                                  indexFilter: Option[Column] = None): DataFrame = {
    val probes = listRanks(model.centroids, qVec).take(nprobe).map(_._1)

    import spark.implicits._
    val q = Seq(qVec.toSeq.map(_.toFloat)).toDF("q_emb")
    val idx0 = readIndex(spark, model)
      .filter(col("list").isin(probes.toIndexedSeq: _*))
    val idx = exclude.fold(idx0)(id => idx0.filter(col("vec_id") =!= id))
    val filtered = indexFilter.fold(idx)(f => idx.filter(f))
    val live = graft.sources.Sinks.readTombstones(spark,
        tombstonesPath(model.indexPath), Some(probes.toIndexedSeq))
      .fold(filtered)(t => filtered.join(t, Seq("vec_id"), "left_anti"))
    // filtered search: the allow-list semi-joins BEFORE the ranking (a
    // keyed distributed join — no broadcast assumption), so excluded
    // vectors never reach the top-k window
    allowed.fold(live)(a =>
        live.join(a.select("vec_id").distinct(), Seq("vec_id"), "left_semi"))
      .crossJoin(broadcast(q))
      // NaN (zero-norm) → NULL, the Similarity.topK law: Spark ranks NaN
      // FIRST under desc, the SQL twins' NULLS LAST ranks it last
      .withColumn("cosine",
        nanvl(VectorOps.cosine(col("embedding"), col("q_emb")),
          lit(null).cast("double")))
      .orderBy(desc("cosine"), col("vec_id"))
      .select("vec_id", "cosine")
      .limit(k)
  }

  private[operators] def tombstonesPath(indexPath: String): String =
    indexPath + "__tombstones"

  // ---- sharded coarse quantizer (past the broadcast-cap frontier) ----

  /** A coarse quantizer sharded into independent per-slice [[IvfModel]]s —
    * the documented move past [[graft.operators.Similarity.autoNlist]]'s
    * 65 536-centroid broadcast cap (≈10⁸ vectors at the 2048 width
    * target). Shard assignment is the engine-portable md5 id hash, so it
    * is deterministic and batch-stable; each shard trains, stores and
    * probes exactly like a standalone index.
    */
  final case class IvfShardedModel(nShards: Int, shards: Seq[IvfModel])

  private val shardedModels = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Int), IvfShardedModel]()

  /** Build `nShards` independent IVF indexes over disjoint md5-hash slices
    * of the corpus. Every per-shard artifact is bounded (quantizer ≤ nlist
    * × dim values, trained on its slice only), so NO single driver collect
    * or broadcast grows with the corpus — and since round 10 the per-shard
    * builds RUN CONCURRENTLY (`parallelism` driver threads submitting
    * independent Spark jobs — the Verify thread-pool discipline), so the
    * wall-clock is ≈ max(shard) instead of Σ(shards); at the 10¹¹-scale
    * plan (746 shards) a sequential loop would serialize 746 independent
    * jobs. Shard training is hash-seeded exact integer math, so the
    * results are byte-identical at any parallelism (A/B'd in ScaleProbe
    * `shardbuild`). Total effective centroid count = nShards × nlist;
    * [[graft.operators.Similarity.autoShardPlan]] sizes both so list
    * width stays at target through 10¹¹ vectors.
    */
  def buildShardedIndex(indexKey: String, embeddings: DataFrame,
                        nShards: Int, nlist: Int = 16, iters: Int = 2,
                        parallelism: Int = 8): IvfShardedModel = {
    require(nShards > 0, s"nShards=$nShards must be positive")
    require(parallelism > 0, s"parallelism=$parallelism must be positive")
    shardedModels.computeIfAbsent((indexKey, nShards, nlist, iters), _ => {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, nShards))
      try {
        val futs = (0 until nShards).map { sh =>
          pool.submit(new java.util.concurrent.Callable[IvfModel] {
            def call(): IvfModel =
              buildIndex(s"$indexKey#shard$sh/$nShards",
                embeddings.filter(
                  Curation.hashBucket(col("vec_id"), nShards) === sh),
                nlist, iters)
          })
        }
        IvfShardedModel(nShards, futs.map(_.get()))
      } finally pool.shutdown()
    })
  }

  /** The shard that owns a vec_id column — the same md5 hash
    * [[buildShardedIndex]] sliced by, exposed so mutations route to
    * exactly the index that holds (or will hold) the row.
    */
  private def shardOf(vecId: Column, nShards: Int): Column =
    Curation.hashBucket(vecId, nShards)

  /** Frozen-model append across the sharded layout — each row routed to
    * its owning shard (the build's own hash law, so a sharded index grown
    * by appends is indistinguishable from one built on base ∪ batch with
    * the same per-shard quantizers) and absorbed by the per-shard
    * [[appendToIndexIdempotent]]: deterministic `ingest-<batchId>` file
    * names per touched list, so crash replays are no-ops shard by shard.
    * Cost is O(batch) per shard filter — callers with many shards should
    * persist the batch first (the streaming sink does).
    */
  def appendToShardedIndexIdempotent(model: IvfShardedModel,
                                     newBatch: DataFrame,
                                     batchId: Long): Unit =
    model.shards.zipWithIndex.foreach { case (m, sh) =>
      appendToIndexIdempotent(m,
        newBatch.filter(shardOf(col("vec_id"), model.nShards) === sh),
        batchId)
    }

  /** DELETE across the sharded layout: ids route to their owning shard by
    * the build's hash law and land as that shard's per-list tombstones
    * ([[deleteFromIndex]] — staged-move exactly-once per (shard, batchId),
    * ids absent from a shard resolve to zero rows). Probes mask deletions
    * immediately; each shard's next compaction drops them physically.
    */
  def deleteFromShardedIndex(model: IvfShardedModel, ids: DataFrame,
                             batchId: Long): Unit =
    model.shards.zipWithIndex.foreach { case (m, sh) =>
      deleteFromIndex(m,
        ids.filter(shardOf(col("vec_id"), model.nShards) === sh), batchId)
    }

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
                                         spark: org.apache.spark.sql.SparkSession,
                                         qVec: Array[Double], k: Int, nprobe: Int,
                                         exclude: Option[Long]): DataFrame =
    model.shards.map(m => probeWithVec(m, spark, qVec, k, nprobe, exclude = exclude))
      .reduce(_ unionByName _)
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)

  /** Small-file maintenance across the sharded layout: [[compactIndex]]
    * per shard (each shard's hot lists fold independently — the same
    * content-preserving swap, the same tombstone consumption). Returns
    * (shard, compacted list ids) for the shards that did work.
    */
  def compactShardedIndex(spark: org.apache.spark.sql.SparkSession,
                          model: IvfShardedModel,
                          maxFilesPerList: Int = 8,
                          targetRowsPerFile: Long = 4000000L): Seq[(Int, Seq[Int])] =
    model.shards.zipWithIndex.flatMap { case (m, sh) =>
      val done = compactIndex(spark, m, maxFilesPerList, targetRowsPerFile)
      if (done.isEmpty) None else Some((sh, done))
    }

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
    * [[probe]] uses to pick its lists, factored out so calibration
    * ([[nprobeCurve]]) provably ranks lists exactly as serving probes do.
    */
  private def listRanks(cents: Array[(Int, Array[Long])],
                        qVec: Array[Double]): Array[(Int, Int)] =
    cents.map { case (cid, cq) =>
      val norm2q = cq.map(c => c * c).sum
      var sq = 0L
      var d = 0
      val n = math.min(qVec.length, cq.length)
      while (d < n) { sq += math.floor(qVec(d) * cq(d) * DotScale + 0.5).toLong; d += 1 }
      (cid, sq.toDouble / math.sqrt(norm2q.toDouble))
    }.sortBy { case (cid, s) => (-s, cid) }
      .zipWithIndex.map { case ((cid, _), i) => (cid, i + 1) }

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
      listRanks(model.centroids, qVecs(qid)).map { case (cid, r) => (qid, cid, r) }
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
    val asg = readIndex(spark, model)
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
      .getOrElse((model.centroids.length, steps.lastOption.map(_._2).getOrElse(0L)))
  }

  /** Persist the (tiny) quantizer next to its lists — `_centroids` at the
    * table root, hidden from scans by the underscore, written via
    * tmp+rename so readers never see a torn file. This is what makes the
    * index SELF-DESCRIBING: a restarted process (or the auto-maintaining
    * ingest sink after a mid-stream re-balance) recovers the model that
    * matches the directories instead of trusting a possibly-stale
    * in-memory copy. The second line records the index table's schema
    * (`schema <json>`), so every reader opens the table without a
    * schema-inference job ([[readIndex]]).
    */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: IvfModel): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(model.indexPath, "_centroids.tmp")
    val dst = new org.apache.hadoop.fs.Path(model.indexPath, "_centroids")
    val out = fs.create(tmp, true)
    try {
      out.write(s"${model.nlist} ${model.iters}\n".getBytes("UTF-8"))
      out.write(s"schema ${model.schema.json}\n".getBytes("UTF-8"))
      model.centroids.foreach { case (cid, cq) =>
        out.write(s"$cid ${cq.mkString(",")}\n".getBytes("UTF-8"))
      }
    } finally out.close()
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"model save rename failed: $dst")
  }

  /** The persisted quantizer for an index directory, if any. A `_centroids`
    * without a recorded schema fails: the index predates schema recording
    * and must be rebuilt (readers never fall back to inference).
    */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                indexPath: String): Option[IvfModel] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(indexPath, "_centroids")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      val Array(nlist, iters) = lines.head.split(" ").map(_.toInt)
      val schema = lines.lift(1).filter(_.startsWith("schema "))
        .map(l => DataType.fromJson(l.stripPrefix("schema ")).asInstanceOf[StructType])
        .getOrElse(throw new IllegalStateException(
          s"$p records no table schema; rebuild the index"))
      val cents = lines.drop(2).filter(_.nonEmpty).map { l =>
        val Array(cid, vs) = l.split(" ", 2)
        (cid.toInt, vs.split(",").map(_.toLong))
      }.toArray
      Some(IvfModel(nlist, iters, cents, indexPath, schema))
    }
  }

  /** The freshest model for an index: the persisted quantizer if present
    * (it reflects every committed re-balance), else the caller's copy.
    */
  def currentModel(spark: org.apache.spark.sql.SparkSession,
                   model: IvfModel): IvfModel =
    loadModel(spark, model.indexPath).getOrElse(model)

  /** DELETE — the fourth verb of the index lifecycle (build → append →
    * compact → delete), for takedowns and re-embeds: resolve each id's
    * inverted list by joining the (broadcast-small) delete batch against
    * the index's two id columns — the index IS the id→list mapping, and
    * column pruning keeps the resolution scan to vec_id+list — then write
    * per-list tombstone files into the SIBLING `__tombstones` table (the
    * append idiom inverted: same `list`-partitioned layout, same
    * staged-move-if-absent exactly-once contract via
    * [[graft.sources.Sinks.ingestStagedLists]], so a crash-replayed delete
    * batch is a no-op). The index's own files are NEVER touched (asserted
    * in IvfSpec) — deletes are O(tombstone batch) metadata, not a rewrite.
    *
    * Probes ([[probe]]/[[probeAll]]) anti-join the tombstone set, pruned
    * to the probed lists, so deleted vectors stop appearing immediately;
    * [[compactLists]] physically drops them (and consumes the tombstones)
    * at the next maintenance window. Ids absent from the index (already
    * compacted away, or never present) resolve to zero tombstone rows —
    * replays after physical drop are self-healing no-ops.
    */
  def deleteFromIndex(model: IvfModel, ids: DataFrame, batchId: Long): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    val spark = ids.sparkSession
    val resolved = readIndex(spark, model)
      .select(col("vec_id"), col("list"))
      .join(ids.select("vec_id"), "vec_id") // no broadcast hint: AQE picks
      // broadcast for small batches; a 100 TB-scale mass takedown must be
      // allowed to shuffle instead of materializing on the driver
    val tomb = tombstonesPath(model.indexPath)
    val staging = tomb + s"__ingest_staging_$batchId"
    resolved.repartition(1)
      .write.mode("overwrite").partitionBy("list").parquet(staging)
    graft.sources.Sinks.ingestStagedLists(spark, staging, tomb, batchId)
  }

  /** Replay-idempotent append — the EXACTLY-ONCE form of [[appendToIndex]]
    * for streaming ingest, where foreachBatch re-runs a batch after a
    * crash: the batch is assigned with the frozen quantizer, written to a
    * per-`batchId` staging dir as ONE file per touched list (micro-batches
    * are small — a single write task keeps the file layout deterministic
    * across replays), and each file is MOVED to
    * `list=X/ingest-<batchId>.parquet` only if that name is absent. A
    * replayed batch regenerates identical staging content and finds every
    * destination present → no-op; a crash mid-move resumes file-by-file.
    * Existing index files are never touched (same append contract).
    */
  def appendToIndexIdempotent(model: IvfModel, newBatch: DataFrame,
                              batchId: Long): Unit = {
    graft.MutationGuard.claim(model.indexPath)
    // batch-level done marker at the table root: once a batch fully
    // committed, a replay is a no-op even if the MODEL has since evolved
    // (a post-append re-balance moves rows across lists, so the replay's
    // per-list move-if-absent alone could re-land them elsewhere). A crash
    // BEFORE the marker implies the same-batch re-balance never ran, so
    // the replay regenerates identical staging and resumes file-by-file.
    val spark = newBatch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(model.indexPath,
      s"_ingest_done/$batchId")
    if (fs.exists(marker)) return
    val staging = model.indexPath + s"__ingest_staging_$batchId"
    index(conform(model, newBatch), model.centroids).repartition(1)
      .write.mode("overwrite").partitionBy("list").parquet(staging)
    graft.sources.Sinks.ingestStagedLists(spark, staging,
      model.indexPath, batchId)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  /** Small-file maintenance for the materialized index — the third verb of
    * the index lifecycle (build → [[appendToIndex]] → compact): every
    * append adds part-files to its touched lists, and after many
    * micro-batches (e.g. [[graft.streaming.Streams.ivfIngestSink]]) a hot
    * list holds hundreds of small files whose per-file open/footer cost
    * dominates the probe scan ([[graft.sources.Sinks.fileReport]] is the
    * read that shows it). Delegates to [[compactLists]] (shared with the
    * listed codes layouts); returns the compacted list ids.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, model: IvfModel,
                   maxFilesPerList: Int = 8,
                   targetRowsPerFile: Long = 4000000L): Seq[Int] =
    compactLists(spark, model.indexPath, model.schema, maxFilesPerList,
      targetRowsPerFile)

  /** Compact any `list`-partitioned index table (IVF raw vectors, IVF-PQ
    * and IVF-SQ8 codes) whose recorded table `schema` (with `list`) is
    * given: each hot list and its tombstones are read with it, never
    * inferred. Rewrites ONLY lists whose data-file count exceeds
    * `maxFilesPerList` — cold lists are never opened. Each hot list is
    * rewritten into a SIBLING staging tree (`<root>__compact_staging/
    * list=X`, never inside the table root, where partition discovery would
    * misread the staging dir as a bogus `list` value and a crash could
    * leave it poisoning every future read) and atomically swapped in, so
    * the table stays readable throughout. Orphaned staging trees from a
    * crashed prior run are removed first. Content-preserving (probe
    * results identical, asserted in IvfSpec).
    *
    * Exactly-once interplay with streaming ingest: compaction folds the
    * deterministic `ingest-<batchId>.parquet` marker files away, so the
    * folded batchIds are recorded in the per-list
    * [[graft.sources.Sinks.IngestManifestName]] (carried forward across
    * compactions) and `Sinks.ingestStagedLists` consults it — a batch
    * replayed after crash+compact stays a no-op. PRECONDITION: no OTHER
    * concurrent writer during the compact — a batch landing between the
    * snapshot read and the swap would be silently dropped by the swap; the
    * manifest protects against REPLAYED batches, not concurrent writers.
    * Calling this from inside the single ingest stream's own foreachBatch
    * (the `compactAboveFiles` knob on the streaming sinks) is safe:
    * micro-batches are serialized, so nothing can land mid-compact. Two
    * ingest streams sharing one index would genuinely race — stop all but
    * one first. Flat codes tables compact through
    * [[CodesIndex.compactIndex]].
    */
  def compactLists(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                   schema: StructType, maxFilesPerList: Int = 8,
                   targetRowsPerFile: Long = 4000000L): Seq[Int] = {
    graft.MutationGuard.claim(indexPath)
    val fs = graft.sources.Sinks.fileSystem(spark, indexPath)
    val listSchema = StructType(schema.filterNot(_.name == "list"))
    val stagingRoot = new org.apache.hadoop.fs.Path(indexPath + "__compact_staging")
    fs.delete(stagingRoot, true)
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val tombRoot = new org.apache.hadoop.fs.Path(tombstonesPath(indexPath))
    val IngestFile = "ingest-(\\d+)\\.parquet".r
    val done = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("list="))
      .flatMap { d =>
        val dataFiles = graft.sources.Sinks.dataFiles(fs, d.getPath)
        // a list is rewritten when fragmented OR when it carries tombstones
        // (the physical-drop half of the delete verb)
        val listTomb = new org.apache.hadoop.fs.Path(tombRoot, d.getPath.getName)
        val hasTomb = fs.exists(listTomb)
        if (dataFiles.size <= maxFilesPerList && !hasTomb) None
        else {
          val folded = dataFiles.map(_.getName)
            .collect { case IngestFile(id) => id.toLong }.toSet
          val manifest = graft.sources.Sinks.readIngestManifest(fs, d.getPath) ++ folded
          val staging = new org.apache.hadoop.fs.Path(stagingRoot, d.getPath.getName)
          val rows0 = spark.read.schema(listSchema).parquet(d.getPath.toString)
          val rows = if (!hasTomb) rows0
            else rows0.join(spark.read.schema("vec_id BIGINT").parquet(listTomb.toString),
              Seq("vec_id"), "left_anti")
          val n = rows.count()
          val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
          rows.repartition(files).write.mode("overwrite").parquet(staging.toString)
          graft.sources.Sinks.writeIngestManifest(fs, staging, manifest)
          graft.sources.Sinks.swapDirs(spark, staging.toString, d.getPath.toString)
          // tombstones are consumed by the physical drop
          if (hasTomb) fs.delete(listTomb, true)
          Some(d.getPath.getName.stripPrefix("list=").toInt)
        }
      }
    // an emptied tombstone table disappears entirely (probes skip the read)
    if (fs.exists(tombRoot) && fs.listStatus(tombRoot)
        .forall(s => !s.isDirectory || !s.getPath.getName.startsWith("list=")))
      fs.delete(tombRoot, true)
    fs.delete(stagingRoot, true)
    done
  }

  /** List re-balance under corpus drift — the maintenance verb that keeps
    * nprobe pruning effective when sustained appends with a FROZEN
    * quantizer skew the list sizes (append is correct but a drifting
    * corpus piles into few lists; `ann_list_sizes` is the detector, this
    * is the action): every list whose size exceeds `maxRatio` × the mean
    * is SPLIT — a 2-centroid sub-quantizer is trained on that list's
    * vectors ONLY (the same exact integer-grid Lloyd as [[trainCentroids]],
    * so the split is deterministic), its rows are re-assigned between the
    * two fresh centroid ids and rewritten as two new list directories, and
    * the returned model carries the updated centroid set. Cold lists are
    * never opened, never retrained — the standard "split, don't rebuild"
    * IVF maintenance. Tombstones on a split list are consumed by the
    * rewrite (rows are being rewritten anyway).
    *
    * Content-preserving: the vector SET is unchanged, so an exhaustive
    * probe over the rebalanced model equals one over the original
    * (asserted in IvfSpec); only pruning quality changes. Run offline
    * like [[compactLists]] (stop ingest streams first); the staged write
    * lands the two new lists before the old directory is removed, so an
    * interruption leaves either the old layout or a transiently-larger
    * table, never data loss for readers of the RETURNED models.
    */
  def rebalanceIndex(spark: org.apache.spark.sql.SparkSession, model: IvfModel,
                     maxRatio: Double = 4.0, iters: Int = 2): IvfModel = {
    graft.MutationGuard.claim(model.indexPath)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // the persisted quantizer is the committed truth: prefer it over the
    // caller's copy (which may predate an earlier re-balance), and remove
    // any list directory it doesn't know — the remnant of a split that
    // crashed before its model save (its source list is still intact, so
    // deleting the orphan loses nothing)
    val m0 = loadModel(spark, model.indexPath).getOrElse(model)
    val known = m0.centroids.map(_._1).toSet
    fs.listStatus(new org.apache.hadoop.fs.Path(m0.indexPath)).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("list="))
      .filter(d => !known(d.getPath.getName.stripPrefix("list=").toInt))
      .foreach(d => fs.delete(d.getPath, true))
    val sizes = readIndex(spark, m0)
      .groupBy("list").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    if (sizes.isEmpty) return m0
    val mean = sizes.values.sum.toDouble / sizes.size
    val hot = sizes.filter { case (_, n) => n > maxRatio * mean }.keys.toSeq.sorted
    if (hot.isEmpty) return m0
    val stagingRoot = new org.apache.hadoop.fs.Path(
      m0.indexPath + "__rebalance_staging")
    fs.delete(stagingRoot, true)
    var cur = m0
    var nextCid = (m0.centroids.map(_._1) ++ sizes.keys).max + 1
    hot.foreach { cid =>
      val listDir = new org.apache.hadoop.fs.Path(m0.indexPath, s"list=$cid")
      val listTomb = new org.apache.hadoop.fs.Path(
        tombstonesPath(m0.indexPath), s"list=$cid")
      val rows0 = spark.read.parquet(listDir.toString)
      val rows = if (!fs.exists(listTomb)) rows0
        else rows0.join(spark.read.parquet(listTomb.toString).select("vec_id"),
          Seq("vec_id"), "left_anti")
      val sub = trainCentroids(rows, 2, iters)
      if (sub.length >= 2) {
        val remap = sub.zipWithIndex.map { case ((_, cq), k) => (nextCid + k, cq) }
        val staging = new org.apache.hadoop.fs.Path(stagingRoot, s"split-$cid")
        index(rows, remap)
          .write.mode("overwrite").partitionBy("list").parquet(staging.toString)
        // COMMIT ORDER per split: move new lists in → persist the updated
        // model → delete the old list. A crash before the save leaves the
        // new dirs as not-in-model orphans (cleaned on the next run, old
        // list intact); a crash after it leaves the old dir as the orphan
        // — either way exactly one committed copy of every row survives
        fs.listStatus(staging).toSeq
          .filter(d => d.isDirectory && d.getPath.getName.startsWith("list="))
          .foreach { d =>
            val dst = new org.apache.hadoop.fs.Path(m0.indexPath, d.getPath.getName)
            if (!fs.rename(d.getPath, dst))
              throw new java.io.IOException(s"rebalance move failed: $dst")
          }
        val cents = (cur.centroids.toVector.filterNot(_._1 == cid) ++ remap)
          .sortBy(_._1).toArray
        cur = cur.copy(nlist = cents.length, centroids = cents)
        saveModel(spark, cur)
        fs.delete(listDir, true)
        fs.delete(listTomb, true)
        nextCid += sub.length
      }
    }
    fs.delete(stagingRoot, true)
    cur
  }

  private val rebalModels =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), IvfModel]()

  /** Memoized build + one re-balance pass — the harness-facing form (the
    * [[buildIncremental]] pattern): replayed calls get the REBALANCED
    * model, never a second mutation of the same directory with a stale
    * centroid set. A fresh JVM rebuilds (mode overwrite) then re-splits —
    * deterministic, so results never change across replays.
    */
  def buildRebalanced(indexKey: String, embeddings: DataFrame,
                      nlist: Int = 16, maxRatio: Double = 4.0): IvfModel =
    rebalModels.computeIfAbsent((indexKey, nlist, (maxRatio * 1000).toInt), _ =>
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
    probeListsCol(qEmb, cents, nprobe)

  private def probeListsCol(qEmb: Column, cents: Array[(Int, Array[Long])],
                            nprobe: Int): Column =
    transform(probeStructsCol(qEmb, cents, nprobe), e => e.getField("cid"))

  /** [[probeListsCol]] keeping the exact integer q·c term per probed list
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
    * [[probeListsCol]], explode to (query, list) pairs, ONE keyed join
    * against the materialized index's probed lists, exact cosine re-rank
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
        explode(probeListsCol(col("q_emb"), model.centroids, nprobe)))
    val idx0 = readIndex(queries.sparkSession, model)
      .select(col("list"), col("vec_id"), col("embedding"))
    val idx = graft.sources.Sinks.readTombstones(queries.sparkSession,
        tombstonesPath(model.indexPath))
      .fold(idx0)(t => idx0.join(t, Seq("vec_id"), "left_anti"))
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
