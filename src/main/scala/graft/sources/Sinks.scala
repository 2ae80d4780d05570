package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Write-side layouts. The reference's only sink is a BigQuery append
  * (/root/reference/scripts/process_sales.py:66-69); the engine keeps that
  * append contract and adds the two layouts that matter at 100 TB:
  *
  *  - partitioned parquet: one directory per partition value → partition
  *    pruning turns predicates on the partition column into directory
  *    listing, no data read at all (PartitionFilters in the scan);
  *  - bucketed tables: rows pre-hashed into N buckets on the join/agg key
  *    at write time → joins and aggs on that key between co-bucketed
  *    tables skip the shuffle entirely (asserted in BucketingSpec). This
  *    is the batch answer to "don't shuffle 100 TB twice".
  */
object Sinks {

  /** The reference's append sink, offline form. */
  def appendParquet(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** JSON-lines interchange (one object per line) — the lingua franca of
    * web-corpus distribution. Write for export; read with an EXPLICIT
    * schema (schema inference costs a full extra pass over 100 TB and
    * silently widens types).
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** [[readJsonl]] with a bad-line audit — the JSONL twin of the CSV
    * quarantine (`SalesClean.readCsvAudited`): lines that don't parse under
    * the schema keep their raw text in `_corrupt_record` instead of
    * becoming silent all-null rows. Web-corpus JSONL is exactly where
    * truncated lines and encoding damage live, and a silent null row
    * poisons every downstream count. Same Spark restriction as the CSV
    * path: cache before filtering ON ONLY the corrupt column.
    */
  def readJsonlAudited(spark: org.apache.spark.sql.SparkSession, path: String,
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .json(path)

  /** ORC round-trip — the other columnar format warehouses hand over;
    * same pushdown/pruning machinery as parquet in Spark.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Hive-style partitioned layout: `path/col=value/part-*.parquet`. */
  def partitionedParquet(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Small-file compaction — the table-maintenance primitive every
    * append-heavy 100 TB table needs: thousands of micro-batch files make
    * scans pay per-file open/footer/listing cost that dwarfs the data read.
    * Rewrites `srcPath` into ceil(rows / targetRowsPerFile) files at
    * `dstPath`, then atomically swaps it into place if `dstPath == srcPath`
    * is desired by the caller via a follow-up rename. Content-preserving
    * (same rows, any order); compose with [[sortedParquet]] /
    * [[zOrderedParquet]] when the rewrite should also restore clustering.
    * Returns the row count (the full-scan it costs anyway).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, srcPath: String,
              dstPath: String, targetRowsPerFile: Long): Long = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    require(dstPath != srcPath,
      "compact writes to a staging path; swap with swapDirs afterwards")
    val df = spark.read.parquet(srcPath)
    val n = df.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    df.repartition(files).write.mode("overwrite").parquet(dstPath)
    n
  }

  /** Table-layout health report — the read that DECIDES whether to run
    * [[compact]]: per-file row counts and sizes via the parquet
    * `_metadata` hidden column (no filesystem listing code, and the rows
    * are counted by the same scan that would read them), folded to one
    * summary row: file count, total/min/max/mean bytes, and how many
    * files fall under `smallBytes` (the small-file-problem counter —
    * at 100 TB the killer is not data size but open-file/task overhead
    * from millions of KB-sized files). Aggregation output is
    * file-count-sized.
    */
  def fileReport(spark: org.apache.spark.sql.SparkSession, path: String,
                 smallBytes: Long = 32L * 1024 * 1024): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(path)
      .select(col("_metadata.file_path").as("f"),
        col("_metadata.file_size").as("bytes"))
      .groupBy("f").agg(count(lit(1)).as("rows"), max("bytes").as("bytes"))
      .agg(count(lit(1)).as("n_files"),
        sum("rows").as("n_rows"),
        sum("bytes").as("total_bytes"),
        min("bytes").as("min_bytes"),
        max("bytes").as("max_bytes"),
        (sum("bytes") / count(lit(1))).cast("long").as("mean_bytes"),
        sum(when(col("bytes") < smallBytes, 1L).otherwise(0L))
          .as("n_small_files"))
  }

  /** The filesystem that holds `path`, resolved from the path's own scheme
    * (a `gs://` or `file:` dir keeps its filesystem whatever
    * `fs.defaultFS` names). Every staged verb here, and the codes indexes,
    * resolve through it.
    */
  private[graft] def fileSystem(spark: org.apache.spark.sql.SparkSession,
                                path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Replace `target` with `staging` (delete + rename through the Hadoop
    * filesystem — the swap step after [[compact]] or a foreachBatch
    * rewrite).
    */
  def swapDirs(spark: org.apache.spark.sql.SparkSession,
               staging: String, target: String): Unit = {
    val fs = fileSystem(spark, target)
    fs.delete(new org.apache.hadoop.fs.Path(target), true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging),
        new org.apache.hadoop.fs.Path(target)))
      throw new java.io.IOException(s"rename $staging -> $target failed")
  }

  /** Read `tableDir` for a merge-and-swap update (the foreachBatch upsert
    * sinks), distinguishing "table does not exist yet" from every other
    * failure. [[swapDirs]] is delete-then-rename, NOT atomic: a crash
    * between the two leaves the accumulated table only in the staging dir —
    * treating that as "no table" (what a blanket AnalysisException catch
    * does) silently rebuilds the table from one batch's keys and discards
    * everything accumulated. This checks the filesystem explicitly: an
    * orphaned staging dir with no target completes the interrupted rename
    * first (idempotent — foreachBatch re-runs the batch, and keyed merges
    * re-apply cleanly), then the read happens only if the target exists, so
    * corrupt-table reads propagate loudly.
    */
  def readForSwap(spark: org.apache.spark.sql.SparkSession,
                  tableDir: String, stagingSuffix: String = ".staging")
      : Option[DataFrame] = {
    val fs = fileSystem(spark, tableDir)
    val target = new org.apache.hadoop.fs.Path(tableDir)
    val staging = new org.apache.hadoop.fs.Path(tableDir + stagingSuffix)
    if (!fs.exists(target) && fs.exists(staging) && !fs.rename(staging, target))
      throw new java.io.IOException(
        s"recovering interrupted swap: rename $staging -> $target failed")
    if (fs.exists(target)) Some(spark.read.parquet(tableDir)) else None
  }

  /** Data files directly under `dir`, without `_SUCCESS` / `.crc` files. */
  private[graft] def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))

  /** Name of the exclusive-writer lease file under a table/index dir.
    * Underscore-prefixed so data scans never see it.
    */
  val LeaseName = "_writer_lease"

  /** Thrown when a second writer tries to mutate a leased directory, or
    * loses an index snapshot commit ([[Snapshot.commit]]) to another
    * writer — the FAIL-FAST half of the single-writer contract.
    */
  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  /** Run `body` holding the exclusive writer lease for `dir` — the
    * mutual-exclusion wrapper the streaming ingest sinks put around each
    * micro-batch commit, turning the previously-silent two-writer race
    * into a loud [[ConcurrentWriterException]] for the loser.
    *
    * Mechanics: `fs.create(lease, overwrite = false)` — atomic on HDFS
    * and object stores with conditional-create; on the local FS the
    * check-then-create window is microseconds, which is the standard
    * Hadoop-ecosystem lease idiom (Delta's SetTransaction / Iceberg's
    * lock-manager fall back the same way without a coordination service).
    * The lease records owner + wall-clock; a lease older than `staleMs`
    * is presumed abandoned by a dead writer and broken (one retry). On
    * release the owner re-reads the lease and deletes it only if still
    * its own — finding someone else's means a peer wrongly broke a LIVE
    * lease (staleMs shorter than a batch), which throws rather than
    * silently un-locking the peer. `staleMs` must comfortably exceed the
    * longest batch the writer runs.
    *
    * The lease lives in a SIBLING `<dir>__lock/` directory, not inside
    * `dir`, which holds only the table's own files.
    */
  def withDirLease[T](spark: org.apache.spark.sql.SparkSession, dir: String,
                      owner: String = java.util.UUID.randomUUID().toString,
                      staleMs: Long = 15L * 60 * 1000)(body: => T): T = {
    val fs = fileSystem(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir.stripSuffix("/") + "__lock")
    fs.mkdirs(dirPath)
    val lease = new org.apache.hadoop.fs.Path(dirPath, LeaseName)
    def readLease(): Option[(String, Long)] =
      try {
        val in = fs.open(lease)
        val line = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().next() finally in.close()
        val Array(o, ts) = line.split(" ", 2)
        Some((o, ts.toLong))
      } catch { case _: Throwable => None }
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lease, false)
        try out.write(s"$owner ${System.currentTimeMillis()}\n".getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryAcquire()) {
      val holder = readLease()
      val stale = holder.exists { case (_, ts) =>
        System.currentTimeMillis() - ts > staleMs }
      if (!stale)
        throw new ConcurrentWriterException(
          s"$dir is leased by writer ${holder.map(_._1).getOrElse("<unreadable>")} — " +
            "a second concurrent writer on one index/table would lose its " +
            "commits; run one ingest stream per index")
      fs.delete(lease, false) // abandoned by a dead writer — break and retry once
      if (!tryAcquire())
        throw new ConcurrentWriterException(
          s"$dir: lost the lease race after breaking a stale lease")
    }
    try body
    finally {
      readLease() match {
        case Some((o, _)) if o == owner => fs.delete(lease, false)
        case other =>
          throw new ConcurrentWriterException(
            s"$dir: lease was ${other.map(h => s"taken over by ${h._1}")
              .getOrElse("removed")} while this writer held it — " +
              "staleMs is shorter than this writer's batch; writes may have raced")
      }
    }
  }

  /** Fault-injection seam of the staged publishes, which crash specs make
    * throw: [[appendBatchFileIdempotent]] calls it with its destination at
    * `"staged"` (before its rename) and `"published"` (before removing the
    * stage), [[Snapshot.commit]] with the table root (see there).
    */
  @volatile private[graft] var crashPoint: (String, org.apache.hadoop.fs.Path) => Unit =
    (_, _) => ()

  /** Idempotent single-file append — the delivery contract of the
    * foreachBatch result sinks and the sales commit: the batch is staged
    * as ONE file and moved to `outDir/<fileName>` by one rename only if
    * that name is absent, so a
    * crash-replayed batch (identical rows, batchId-derived `fileName`)
    * finds its file present and is a no-op where a blind mode("append")
    * would duplicate it. A replay that finds the file present only removes
    * a stage a crash after the rename left.
    *
    * A batch known to be one partition before it runs (one CSV split: see
    * [[onePartition]]) is staged as it is, in one write job with no
    * shuffle. Any other batch is staged through a `repartition(1)`
    * exchange, so its upstream stays parallel and only the write is one
    * task. Writing it as partitioned and folding the files afterwards
    * measured about twice as slow: the fold is a second write job.
    */
  def appendBatchFileIdempotent(df: DataFrame, outDir: String,
                                fileName: String): Unit = {
    val fs = fileSystem(df.sparkSession, outDir)
    val dstDir = new org.apache.hadoop.fs.Path(outDir)
    val dst = new org.apache.hadoop.fs.Path(dstDir, fileName)
    val staging = new org.apache.hadoop.fs.Path(outDir + s"__staging_$fileName")
    if (!fs.exists(dst)) {
      (if (onePartition(df)) df else df.repartition(1))
        .write.mode("overwrite").parquet(staging.toString)
      val staged = dataFiles(fs, staging)
      require(staged.size == 1,
        s"idempotent append expects one staged file, got ${staged.size}")
      crashPoint("staged", dst)
      fs.mkdirs(dstDir)
      if (!fs.exists(dst) && !fs.rename(staged.head.getPath, dst))
        throw new java.io.IOException(s"idempotent append move failed: $dst")
      crashPoint("published", dst)
    }
    fs.delete(staging, true)
  }

  /** True when `df` computes as one partition, decided without a job or a
    * code-generation pass: its physical plan has no exchange and no
    * subquery (so it is not adaptive either) and one leaf, whose RDD has
    * one partition. Operators above that leaf cannot add partitions
    * without an exchange.
    */
  private[graft] def onePartition(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    !plan.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec] &&
      plan.find(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]).isEmpty &&
      plan.subqueriesAll.isEmpty && (plan.collectLeaves() match {
        case Seq(leaf) => leaf.execute().getNumPartitions == 1
        case _ => false
      })
  }

  /** Partition-pruned MERGE into a hive-partitioned table: rewrite ONLY the
    * partitions the update batch touches. At 100 TB a daily CDC batch
    * touches a handful of date partitions; rewriting the whole table (what
    * a naive read∪merge∪overwrite does) scans and rewrites everything,
    * while this reads base rows only for the touched partition values
    * (partition pruning turns the IN-filter into directory listing), merges
    * with [[graft.operators.Upsert.keepLatest]] semantics, and atomically
    * swaps just those partition directories — untouched partitions' files
    * are never opened, never rewritten (asserted in SinksSpec).
    *
    * Update rows in a partition value the target lacks create that
    * partition (the insert case). The touched-value collect is bounded by
    * the batch's partition spread — the same bounded-driver-state contract
    * as the index builds. `partCol` values must be directory-safe (no
    * nulls, no chars hive-escapes); keys must not move between partitions
    * (a moved key is a delete+insert, the standard partitioned-MERGE
    * contract). Returns the touched partition values.
    */
  def upsertPartitions(spark: org.apache.spark.sql.SparkSession,
                       targetPath: String, updates: DataFrame, partCol: String,
                       keyCols: Seq[String], versionCol: String,
                       tieCols: Seq[String] = Nil): Seq[String] = {
    val touchedRaw = updates.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    // null check BEFORE sorting — String.compareTo on null would NPE first
    require(!touchedRaw.contains(null),
      s"upsertPartitions: null $partCol in the update batch")
    val touched = touchedRaw.sorted
    val base = spark.read.parquet(targetPath)
      .filter(col(partCol).cast("string").isin(touched: _*))
    val merged = graft.operators.Upsert.keepLatest(
      base.unionByName(updates.select(base.columns.map(col): _*)),
      keyCols, versionCol, tieCols)
    val staging = targetPath + "__upsert_staging"
    merged.write.mode("overwrite").partitionBy(partCol).parquet(staging)
    touched.foreach { v =>
      swapDirs(spark, s"$staging/$partCol=$v", s"$targetPath/$partCol=$v")
    }
    fileSystem(spark, staging).delete(new org.apache.hadoop.fs.Path(staging), true)
    touched
  }

  /** Range-partitioned, internally-sorted parquet: every output file owns a
    * disjoint range of `sortCol`, so parquet row-group min/max statistics
    * let a selective scan skip whole files (data skipping — the scan-side
    * complement to partition pruning when the column is too fine-grained
    * to partition by, e.g. timestamps).
    */
  def sortedParquet(df: DataFrame, path: String, sortCol: String,
                    files: Int = 8): Unit =
    df.repartitionByRange(files, df.col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Interleave the low 16 bits of `v` into even bit positions (Morton
    * spread): bit b → bit 2b. Pure long arithmetic, codegen-friendly.
    */
  private def spreadBits16(v: Column): Column =
    (0 until 16).map(b =>
      shiftleft(shiftright(v, b).bitwiseAND(lit(1L)), 2 * b))
      .reduce(_ bitwiseOR _)

  /** Z-ordered (Morton-curve) parquet layout over TWO columns — the
    * multi-dimensional generalization of [[sortedParquet]]: each column is
    * scaled to a 16-bit rank (min/max collected once — two doubles, the
    * same bounded-driver-state contract as IVF centroids) and the ranks'
    * bits are interleaved into one sort key. Files then own compact
    * rectangles in (colA, colB) space instead of slabs along a single
    * column, so parquet min/max statistics skip files for selective
    * predicates on EITHER column — the layout answer to "we filter this
    * table by time AND by user". A single-column sort gives perfect
    * skipping on one dimension and none on the other; Z-order trades a
    * little of each for skipping on both (≈ √files reduction per dim).
    */
  def zOrderedParquet(df: DataFrame, path: String, colA: String,
                      colB: String, files: Int = 8): Unit = {
    val mm = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).collect()(0)
    if (mm.anyNull) {
      // empty input or an all-null column: no rank space to interleave —
      // degrade to a plain write instead of NPE-ing on the null bounds
      df.write.mode("overwrite").parquet(path)
      return
    }
    def rank16(c: String, lo: Double, hi: Double): Column =
      if (lo == hi) lit(0L)
      else least(lit(65535L),
        floor((coalesce(col(c).cast("double"), lit(lo)) - lo)
          / ((hi - lo) / 65536.0)).cast("long"))
    val z = spreadBits16(rank16(colA, mm.getDouble(0), mm.getDouble(1)))
      .bitwiseOR(shiftleft(spreadBits16(rank16(colB, mm.getDouble(2), mm.getDouble(3))), 1))
    df.repartitionByRange(files, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed + sorted managed table (bucketBy requires the table catalog).
    * Joining two tables bucketed identically on the join key is
    * shuffle-free; sortBy additionally enables sort-merge without a sort.
    */
  def bucketedTable(df: DataFrame, table: String, keyCol: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)
}
