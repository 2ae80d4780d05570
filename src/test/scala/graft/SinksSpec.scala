package graft

import org.apache.spark.sql.functions._
import graft.sources.Sinks

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned layout enables partition pruning (no data read)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Sinks.partitionedParquet(
      Tables.orders(spark, sfDir), dir, Seq("o_orderstatus"))
    // hive-style directories exist
    val sub = new java.io.File(dir).listFiles().map(_.getName).filter(_.contains("="))
    assert(sub.exists(_.startsWith("o_orderstatus=")))
    // a predicate on the partition column becomes a PartitionFilter
    val p = spark.read.parquet(dir)
      .filter($"o_orderstatus" === "F")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"partition pruning missing:\n$p")
    // and the data still round-trips
    val n = spark.read.parquet(dir).filter($"o_orderstatus" === "F").count()
    val expected = Tables.orders(spark, sfDir).filter($"o_orderstatus" === "F").count()
    assert(n === expected)
  }

  test("jsonl and orc round-trip the documents table exactly") {
    val docs = Tables.documents(spark, sfDir)
    val jd = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    Sinks.writeJsonl(docs, jd)
    val backJ = Sinks.readJsonl(spark, jd, docs.schema)
    assert(backJ.schema === docs.schema)
    assert(backJ.exceptAll(docs).count() === 0 && docs.exceptAll(backJ).count() === 0)

    val od = java.nio.file.Files.createTempDirectory("graft-orc").toString
    Sinks.writeOrc(docs, od)
    val backO = Sinks.readOrc(spark, od)
    assert(backO.exceptAll(docs).count() === 0 && docs.exceptAll(backO).count() === 0)
    // ORC scans get predicate pushdown like parquet
    val p = backO.filter($"doc_id" === 42L).queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("doc_id"), p)
  }

  test("jsonl audited read quarantines broken lines, keeps good ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl-bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "part-0.jsonl"),
      """{"doc_id": 1, "text": "good one"}
        |{"doc_id": 2, "text": "also good"}
        |{"doc_id": 3, "text": "truncated
        |not json at all
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val df = Sinks.readJsonlAudited(spark, dir, schema).cache()
    try {
      val good = df.filter($"_corrupt_record".isNull)
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      val bad = df.filter($"_corrupt_record".isNotNull)
        .select("_corrupt_record").as[String].collect().toSet
      assert(good === Set((1L, "good one"), (2L, "also good")))
      assert(bad === Set("{\"doc_id\": 3, \"text\": \"truncated",
        "not json at all"))
    } finally df.unpersist()
  }

  test("z-ordered layout bounds per-file ranges on BOTH columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    // uniform 64×64 grid: a single-column sort would give every file the
    // FULL range of the other column; z-order must bound both
    val grid = spark.range(4096)
      .select(($"id" % 64).cast("long").as("a"), ($"id" / 64).cast("long").as("b"))
    Sinks.zOrderedParquet(grid, dir, "a", "b", files = 8)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max("a") - min("a")).as("ra"), (max("b") - min("b")).as("rb"))
      .select("ra", "rb").as[(Long, Long)].collect()
    assert(ranges.length >= 4)
    // a single-column sort pins one dim and leaves the other at the full
    // 0..63 range in EVERY file; z-order must bound both dims on average
    // (a file straddling a z-prefix boundary may span one dim — but then
    // it is tight in the other, so per-file min(ra, rb) stays small)
    val avgA = ranges.map(_._1).sum.toDouble / ranges.length
    val avgB = ranges.map(_._2).sum.toDouble / ranges.length
    assert(avgA <= 44 && avgB <= 44,
      s"average per-file range too wide: avgA=$avgA avgB=$avgB ${ranges.mkString(", ")}")
    assert(ranges.forall { case (ra, rb) => math.min(ra, rb) <= 40 },
      s"a file is wide in BOTH dims: ${ranges.mkString(", ")}")
    // and the data round-trips
    assert(spark.read.parquet(dir).count() === 4096)

    // degenerate inputs degrade to a plain write instead of failing
    val empty = java.nio.file.Files.createTempDirectory("graft-zorder-e").toString
    Sinks.zOrderedParquet(grid.filter(lit(false)), empty, "a", "b")
    assert(spark.read.parquet(empty).count() === 0)
    val nulls = java.nio.file.Files.createTempDirectory("graft-zorder-n").toString
    Sinks.zOrderedParquet(
      grid.withColumn("a", lit(null).cast("long")), nulls, "a", "b")
    assert(spark.read.parquet(nulls).count() === 4096)
  }

  test("range-sorted layout gives files disjoint min/max ranges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sorted").toString
    Sinks.sortedParquet(Tables.orders(spark, sfDir), dir, "o_orderdate", 4)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderdate").as("lo"), max("o_orderdate").as("hi"))
      .select("lo", "hi")
      .as[(java.sql.Timestamp, java.sql.Timestamp)].collect()
      .sortBy(_._1.getTime)
    assert(ranges.length >= 2)
    // each file's min is at or after the previous file's max → a predicate
    // on o_orderdate overlaps at most ceil(selectivity·files)+1 files
    ranges.sliding(2).foreach { case Array((_, hiA), (loB, _)) =>
      assert(!loB.before(hiA), s"overlapping file ranges: $hiA vs $loB")
    }
    assert(spark.read.parquet(dir).count() === Tables.orders(spark, sfDir).count())
  }

  test("co-bucketed tables join without a shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // a killed earlier run can orphan the managed locations without catalog
    // entries — saveAsTable then refuses LOCATION_ALREADY_EXISTS
    for (t <- Seq("b_orders", "b_customer")) {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Sinks.bucketedTable(Tables.orders(spark, sfDir), "b_orders", "o_custkey", 8)
    Sinks.bucketedTable(
      Tables.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer", "o_custkey", 8)
    // force the sort-merge path: broadcast would bypass the bucketed scan
    // on these tiny test tables (at warehouse scale both sides are huge —
    // the shuffle-free SMJ is exactly the case bucketing exists for)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() ===
        Tables.orders(spark, sfDir).join(
          Tables.customer(spark, sfDir),
          col("o_custkey") === col("c_custkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
  }

  test("schema evolution: appended batches with a new column merge on read") {
    // append logs evolve — a reader must see the union schema with nulls
    // for pre-evolution rows, without rewriting history
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve").toString
    Seq((1L, "a")).toDF("id", "payload")
      .write.mode("append").parquet(dir)
    Seq((2L, "b", 7.5)).toDF("id", "payload", "score")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.schema.fieldNames.toSet === Set("id", "payload", "score"))
    val rows = merged.select("id", "score")
      .as[(Long, Option[Double])].collect().toMap
    assert(rows === Map(1L -> None, 2L -> Some(7.5)))
  }

  test("compact collapses a many-small-files table, content-preserving") {
    val src = java.nio.file.Files.createTempDirectory("graft-frag").toString
    val stage = src + "-compacted"
    // fragment the orders table into many tiny files (the append-heavy shape)
    val orders = Tables.orders(spark, sfDir)
    orders.repartition(64).write.mode("overwrite").parquet(src)
    def partFiles(d: String) =
      new java.io.File(d).listFiles().count(_.getName.startsWith("part-"))
    assert(partFiles(src) === 64)

    val n = Sinks.compact(spark, src, stage, targetRowsPerFile = orders.count())
    assert(n === orders.count())
    Sinks.swapDirs(spark, stage, src)
    assert(partFiles(src) <= 2, s"still ${partFiles(src)} files after compact")
    val back = spark.read.parquet(src)
    assert(back.exceptAll(orders).count() === 0 &&
      orders.exceptAll(back).count() === 0)
  }

  test("fileReport counts small files before compaction, none after") {
    val src = java.nio.file.Files.createTempDirectory("graft-rep").toString
    val orders = Tables.orders(spark, sfDir)
    orders.repartition(16).write.mode("overwrite").parquet(src)
    val before = Sinks.fileReport(spark, src).collect()(0)
    assert(before.getLong(0) === 16) // n_files
    assert(before.getLong(1) === orders.count()) // n_rows
    assert(before.getLong(6) === 16) // every file under the default 32 MB
    assert(before.getLong(3) <= before.getLong(5) &&
      before.getLong(5) <= before.getLong(4)) // min <= mean <= max
    val stage = src + "-c"
    Sinks.compact(spark, src, stage, targetRowsPerFile = orders.count())
    Sinks.swapDirs(spark, stage, src)
    val after = Sinks.fileReport(spark, src, smallBytes = 1024).collect()(0)
    assert(after.getLong(0) === 1 && after.getLong(6) === 0)
    assert(after.getLong(1) === orders.count())
  }

  test("appendBatchFileIdempotent delivers once under replay, twice for distinct batches") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-idem").toString + "/res"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.appendBatchFileIdempotent(b0, out, "probe-0.parquet")
    val snap = FileSnapshots.snapshot(out)
    // crash-replayed micro-batch: same deterministic file name → no-op
    Sinks.appendBatchFileIdempotent(b0, out, "probe-0.parquet")
    assert(FileSnapshots.snapshot(out) === snap, "replay duplicated the batch")
    assert(spark.read.parquet(out).count() === 2)
    // a distinct batch lands alongside
    Sinks.appendBatchFileIdempotent(Seq((3L, "c")).toDF("id", "v"),
      out, "probe-1.parquet")
    assert(spark.read.parquet(out).count() === 3)
    // no staging litter
    assert(!new java.io.File(out + "__staging_probe-0.parquet").exists())
  }

  /** (jobs, shuffle bytes written) of what `body` runs. A marker job
    * drains the listener: events reach one listener in order.
    */
  private def jobsAndShuffle(body: => Unit): (Int, Long) = {
    import org.apache.spark.scheduler._
    val marker = "sinksspec-drain-" + System.nanoTime()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val shuffle = new java.util.concurrent.atomic.AtomicLong()
    @volatile var drained = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          drained = true
        else jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        shuffle.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(l)
    (jobs.get, shuffle.get)
  }

  /** Data files published under `dir`. */
  private def published(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSeq

  /** Stage dirs a publish into `dir` left behind. */
  private def stagingLitter(dir: String): Seq[String] = {
    val f = new java.io.File(dir)
    f.getParentFile.listFiles().map(_.getName)
      .filter(_.startsWith(f.getName + "__staging_")).toSeq
  }

  test("appendBatchFileIdempotent: a one-split CSV commits in one job with no shuffle") {
    import graft.operators.SalesClean
    val out = java.nio.file.Files.createTempDirectory("graft-idem1").toString + "/sales"
    val audited = SalesClean.readCsvAudited(spark, "fixtures/sales_dirty.csv").cache()
    try {
      val cleaned = SalesClean.clean(SalesClean.cleanRows(audited))
      assert(cleaned.rdd.getNumPartitions === 1)
      val (jobs, shuffle) = jobsAndShuffle(
        Sinks.appendBatchFileIdempotent(cleaned, out, "f0.parquet"))
      assert(jobs === 1, s"$jobs jobs")
      assert(shuffle === 0L, s"$shuffle shuffle bytes written")
      assert(published(out) === Seq("f0.parquet"))
      // processed_at is a wall-clock stamp: compare the rows without it
      val want = cleaned.drop("processed_at")
      val got = spark.read.parquet(out).drop("processed_at")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      // a re-delivery runs no job at all
      assert(jobsAndShuffle(
        Sinks.appendBatchFileIdempotent(cleaned, out, "f0.parquet")) === ((0, 0L)))
    } finally audited.unpersist()
    assert(stagingLitter(out).isEmpty)
  }

  test("appendBatchFileIdempotent folds a multi-partition batch into one file") {
    val root = java.nio.file.Files.createTempDirectory("graft-idem8").toString
    val wide = spark.range(0, 10000, 1, 8).select($"id", ($"id" % 7).as("m"))
    val grouped = spark.range(0, 10000, 1, 8)
      .groupBy(($"id" % 100).as("g")).agg(count(lit(1)).as("n"), sum($"id").as("s"))
    Seq("wide" -> wide, "grouped" -> grouped).foreach { case (name, df) =>
      val out = s"$root/$name"
      Sinks.appendBatchFileIdempotent(df, out, "b0.parquet")
      assert(published(out) === Seq("b0.parquet"), name)
      val back = spark.read.parquet(out)
      assert(back.schema.fieldNames.toSeq === df.columns.toSeq, name)
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty, name)
      assert(stagingLitter(out).isEmpty, name)
    }
    assert(wide.rdd.getNumPartitions === 8)
  }

  test("onePartition holds only for an exchange-free plan over one one-partition leaf") {
    val one = spark.range(0, 100, 1, 1).toDF()
    assert(Sinks.onePartition(one.select(($"id" * 2).as("x")).filter($"x" > 3)))
    assert(!Sinks.onePartition(spark.range(0, 100, 1, 8).toDF()))
    assert(!Sinks.onePartition(one.groupBy(($"id" % 2).as("g")).count()))
    assert(!Sinks.onePartition(one.union(spark.range(0, 100, 1, 1).toDF())))
  }

  test("appendBatchFileIdempotent publishes an empty batch as one file with its schema") {
    import graft.operators.SalesClean
    val root = java.nio.file.Files.createTempDirectory("graft-idem0").toString
    val csv = s"$root/clean.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "product,price,quantity,total,ordered_at,delivery_at\n" +
        "Laptops,50000.0,2,100000.0,2024-01-01 08:00:00,2024-01-03 00:00:00\n")
    val audited = SalesClean.readCsvAudited(spark, csv).cache()
    try {
      // the quarantine side of a clean CSV, and an all-filtered 8-partition frame
      Seq("quarantine" -> SalesClean.corruptRows(audited),
          "filtered" -> spark.range(0, 1000, 1, 8).toDF().filter($"id" < 0)).foreach {
        case (name, df) =>
          val out = s"$root/$name"
          Sinks.appendBatchFileIdempotent(df, out, "b0.parquet")
          assert(published(out) === Seq("b0.parquet"), name)
          val back = spark.read.parquet(s"$out/b0.parquet")
          assert(back.schema.fieldNames.toSeq === df.columns.toSeq, name)
          assert(back.count() === 0, name)
          assert(stagingLitter(out).isEmpty, name)
      }
    } finally audited.unpersist()
  }

  test("upsertPartitions rewrites only touched partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pupsert").toString
    val base = Seq(
      (1L, "p0", 10, 0L), (2L, "p0", 20, 0L),
      (3L, "p1", 30, 0L), (4L, "p1", 40, 0L),
      (5L, "p2", 50, 0L)
    ).toDF("id", "part", "v", "version")
    Sinks.partitionedParquet(base, dir, Seq("part"))

    def listing(p: String): Set[String] = {
      val d = new java.io.File(p)
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.startsWith("part-"))
        .map(f => f.getName + ":" + f.lastModified()).toSet
    }
    val p0Before = listing(s"$dir/part=p0")
    val p2Before = listing(s"$dir/part=p2")

    // update one row in p1, insert a new key into p1, open new partition p3
    val updates = Seq(
      (3L, "p1", 31, 1L), (6L, "p1", 60, 1L), (7L, "p3", 70, 1L)
    ).toDF("id", "part", "v", "version")
    val touched = Sinks.upsertPartitions(spark, dir, updates, "part",
      keyCols = Seq("id"), versionCol = "version")
    assert(touched === Seq("p1", "p3"))

    // untouched partition directories: byte-identical file listings
    assert(listing(s"$dir/part=p0") === p0Before)
    assert(listing(s"$dir/part=p2") === p2Before)
    assert(!new java.io.File(dir + "__upsert_staging").exists())

    // full-table state equals the global merge
    val got = spark.read.parquet(dir)
      .select($"id", $"part", $"v", $"version").as[(Long, String, Int, Long)]
      .collect().toSet
    val want = graft.operators.Upsert.keepLatest(
        base.unionByName(updates), Seq("id"), "version")
      .as[(Long, String, Int, Long)].collect().toSet
    assert(got === want)
    assert(got.contains((3L, "p1", 31, 1L)) && got.contains((7L, "p3", 70, 1L)))
  }

  test("withDirLease: second writer fails fast; lease releases on exit and on error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lease").toString + "/idx"
    var ran = 0
    Sinks.withDirLease(spark, dir, "writer-a") {
      ran += 1
      // the loser FAILS SAFE: loud exception, no partial mutation
      val e = intercept[Sinks.ConcurrentWriterException] {
        Sinks.withDirLease(spark, dir, "writer-b") { ran += 100 }
      }
      assert(e.getMessage.contains("writer-a"))
    }
    assert(ran === 1)
    // released on normal exit: a later writer acquires freely
    Sinks.withDirLease(spark, dir, "writer-c") { ran += 10 }
    assert(ran === 11)
    // released on exception too
    intercept[RuntimeException] {
      Sinks.withDirLease(spark, dir, "writer-d") { throw new RuntimeException("boom") }
    }
    Sinks.withDirLease(spark, dir, "writer-e") { ran += 10 }
    assert(ran === 21)
  }

  test("withDirLease: a stale lease from a dead writer is broken, a live one is not") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lease2").toString + "/idx"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val lockDir = new org.apache.hadoop.fs.Path(dir + "__lock")
    fs.mkdirs(lockDir)
    val lease = new org.apache.hadoop.fs.Path(lockDir, Sinks.LeaseName)
    def plant(ageMs: Long): Unit = {
      fs.delete(lease, false)
      val out = fs.create(lease, false)
      out.write(s"dead-writer ${System.currentTimeMillis() - ageMs}\n".getBytes("UTF-8"))
      out.close()
    }
    // stale (older than staleMs): broken, body runs
    plant(ageMs = 60000)
    var ran = false
    Sinks.withDirLease(spark, dir, "writer-a", staleMs = 1000) { ran = true }
    assert(ran)
    // fresh (a LIVE peer): fail fast
    plant(ageMs = 0)
    intercept[Sinks.ConcurrentWriterException] {
      Sinks.withDirLease(spark, dir, "writer-b", staleMs = 60000) { fail("must not run") }
    }
  }

  test("staged verbs take the filesystem from the path, not fs.defaultFS") {
    // the default filesystem names a scheme no staged write may touch: a
    // verb that resolves it instead of the path's own scheme fails
    val conf = spark.sparkContext.hadoopConfiguration
    val prev = conf.get("fs.defaultFS")
    val root = "file:" + java.nio.file.Files.createTempDirectory("graft-fsscheme")
    val ids = spark.range(0, 20, 1, 1).select($"id".as("vec_id"))
    conf.set("fs.defaultFS", "graftnofs:///")
    try {
      Sinks.appendBatchFileIdempotent(ids, s"$root/t", "b-0.parquet")
      // an index snapshot commit and read on the same root
      val f = new java.io.File(new java.net.URI(s"$root/t/b-0.parquet"))
      val s = graft.sources.Snapshot.commit(spark, graft.sources.Snapshot.empty(s"$root/t")
        .copy(files = Seq(graft.sources.Snapshot.File(graft.sources.Snapshot.Tomb, None,
          f.length, f.lastModified, "b-0.parquet"))))
      assert(graft.sources.Snapshot.latest(spark, s"$root/t") === Some(s))
      val back = graft.sources.Snapshot.read(spark, s, graft.sources.Snapshot.Tomb,
        org.apache.spark.sql.types.StructType.fromDDL("vec_id BIGINT"))
      assert(back.as[Long].collect().sorted.toSeq === (0L until 20L))
    } finally conf.set("fs.defaultFS", prev)
  }

  test("no library source resolves the default filesystem") {
    // FileSystem.get(conf) is fs.defaultFS, not the path's own scheme;
    // library code resolves through Sinks.fileSystem(spark, path)
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the repository root, not ${new java.io.File(".").getAbsolutePath}")
    def sources(dir: String): Seq[(String, String)] = {
      val stream = java.nio.file.Files.walk(new java.io.File(dir).toPath)
      try {
        import scala.jdk.CollectionConverters._
        stream.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => (p.toString, new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
          .toSeq.sortBy(_._1)
      } finally stream.close()
    }
    val offenders = sources("src/main").filter(_._2.contains("FileSystem.get(")).map(_._1)
    assert(offenders.isEmpty, s"FileSystem.get( in ${offenders.mkString(", ")}")
    // artifact stores and temp dirs go through graft.Artifacts; the one
    // other map is Dedup's executor-side decode cache, allowed by name
    val store = Seq("operators", "streaming", "sources")
      .flatMap(d => sources(s"src/main/scala/graft/$d"))
      .filterNot(_._1.endsWith("/Artifacts.scala"))
    val tmpdir = store.filter(_._2.contains("java.io.tmpdir")).map(_._1)
    assert(tmpdir.isEmpty, s"java.io.tmpdir in ${tmpdir.mkString(", ")}")
    val maps = store.filter { case (p, text) =>
      val allowed = if (p.endsWith("/operators/Dedup.scala"))
        text.replaceAll("bloomCache\\s*=\\s*new java\\.util\\.concurrent\\.ConcurrentHashMap", "")
      else text
      allowed.contains("new java.util.concurrent.ConcurrentHashMap")
    }.map(_._1)
    assert(maps.isEmpty, s"ConcurrentHashMap memo in ${maps.mkString(", ")}")
  }
}
