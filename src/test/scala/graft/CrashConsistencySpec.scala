package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{CodesIndex, Ivf, IvfPq, Pq, Pretrain}
import graft.operators.CodesIndex.{CodesModel, Layout}
import graft.sources.{Sinks, Snapshot}

/** Fault injection for the staged publish verbs: a simulated crash at each
  * step boundary, then a replay, must converge to what an uninterrupted run
  * publishes — the same rows and the same bytes, or for an index verb the
  * same rows and probe answers with every file named by a snapshot — and
  * leave no staging dir behind.
  */
class CrashConsistencySpec extends SparkSpec {
  import spark.implicits._

  private final class InjectedCrash extends RuntimeException("injected crash")

  /** Run `body` with [[Sinks.crashPoint]] throwing at `point` for
    * `outDir/fileName` only, and expect it to stop there.
    */
  private def crashingAt(point: String, outDir: String, fileName: String)
                        (body: => Unit): Unit = {
    val dst = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(outDir), fileName)
    Sinks.crashPoint = (p, d) => if (p == point && d == dst) throw new InjectedCrash
    try intercept[InjectedCrash](body)
    finally Sinks.crashPoint = (_, _) => ()
  }

  for (point <- Seq("staged", "published"); parts <- Seq(1, 8))
    test(s"appendBatchFileIdempotent: crash at '$point' ($parts-partition batch), replay converges") {
      val root = java.nio.file.Files.createTempDirectory("graft-crash").toString
      val df = spark.range(0, 5000, 1, parts).select($"id", ($"id" * 3 % 11).as("v"))
      Sinks.appendBatchFileIdempotent(df, s"$root/clean", "b0.parquet")
      val want = FileSnapshots.snapshot(s"$root/clean")

      val out = s"$root/crashed"
      val staging = new java.io.File(out + "__staging_b0.parquet")
      crashingAt(point, out, "b0.parquet") {
        Sinks.appendBatchFileIdempotent(df, out, "b0.parquet")
      }
      // the crash left the stage behind; the file is published iff past the rename
      assert(staging.exists())
      assert(new java.io.File(s"$out/b0.parquet").exists() === (point == "published"))

      Sinks.appendBatchFileIdempotent(df, out, "b0.parquet") // replay
      assert(FileSnapshots.snapshot(out) === want)
      val back = spark.read.parquet(out)
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
      assert(!staging.exists(), "replay left the staging dir behind")
    }

  /** An index verb under fault injection: the index it runs on (built,
    * then prepared) and the verb itself; its replay is a second call.
    */
  private final case class Verb(build: (String, DataFrame) => CodesModel[Layout],
                                prepare: CodesModel[Layout] => Unit,
                                run: CodesModel[Layout] => Unit)

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private def ingest(m: CodesModel[Layout]): Unit =
    CodesIndex.appendToIndexIdempotent(m, emb.filter($"vec_id" % 5 === 0), 3L)
  private def delete(m: CodesModel[Layout]): Unit =
    CodesIndex.deleteFromIndex(m, emb.filter($"vec_id" % 7 === 3).select("vec_id"), 4L)
  private val ivf: (String, DataFrame) => CodesModel[Layout] =
    (key, df) => Ivf.buildIndex(key, df, nlist = 8)

  private val verbs: Seq[(String, Verb)] = Seq(
    "listed append (raw IVF)" -> Verb(ivf, _ => (), ingest),
    "listed append (IVF-PQ)" -> Verb((key, df) => IvfPq.buildIndex(key, df, nlist = 8),
      _ => (), ingest),
    "listed delete" -> Verb(ivf, ingest, delete),
    "flat compaction" -> Verb((key, df) => Pq.buildIndex(key, df),
      m => { ingest(m); delete(m) }, m => CodesIndex.compactIndex(spark, m)),
    "listed compaction" -> Verb(ivf, m => { ingest(m); delete(m) },
      m => CodesIndex.compactIndex(spark, m)),
    "rebalance" -> Verb(ivf, m => { ingest(m); delete(m) },
      m => Ivf.rebalanceIndex(spark, m.asInstanceOf[Ivf.IvfModel], maxRatio = 1.01)))

  /** Paths of the files every snapshot left in `_snapshots` names. */
  private def retained(root: String): Set[String] =
    new java.io.File(root, "_snapshots").listFiles().toSeq
      .filter(_.getName.forall(_.isDigit))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toVector)
      .filter(_.startsWith("file ")).map(_.split(" ", 6)(5)).toSet

  private def probes(m: CodesModel[Layout]): Seq[Seq[(Long, Double)]] =
    (0L until 3L).map { q =>
      (CodesIndex.loadModel[Layout](spark, m.indexPath).get match {
        case c if c.layout == Ivf.Flat =>
          val cur = c.asInstanceOf[Ivf.IvfModel]
          Ivf.probe(cur, emb, q, 10, nprobe = cur.coarse.get.centroids.length)
        case c =>
          val cur = c.asInstanceOf[CodesModel[CodesIndex.Codec]]
          CodesIndex.probe(cur, emb, q, 10, nprobe = cur.coarse.fold(1)(_.nlist))
      }).as[(Long, Double)].collect().toSeq
    }

  for ((name, verb) <- verbs; point <- Seq("staged", "written", "committed"))
    test(s"$name: crash at '$point', replay converges") {
      val base = emb.filter($"vec_id" % 5 =!= 0)
      val key = s"$sfDir#crash-${name.replaceAll("\\W", "")}"
      // the uncrashed run takes the same calls: a crash after the commit
      // leaves the verb done, so its replay is a second run (a no-op for a
      // batch id, another pass for a maintenance verb)
      val clean = verb.build(s"$key-clean-$point", base)
      verb.prepare(clean)
      (1 to (if (point == "committed") 2 else 1)).foreach(_ => verb.run(clean))
      val model = verb.build(s"$key-$point", base)
      verb.prepare(model)
      val before = Snapshot.latest(spark, model.indexPath).get.version
      val root = new org.apache.hadoop.fs.Path(model.indexPath)
      Sinks.crashPoint = (p, d) => if (p == point && d == root) throw new InjectedCrash
      try intercept[InjectedCrash](verb.run(model))
      finally Sinks.crashPoint = (_, _) => ()
      // committed iff the crash came after the snapshot's rename; a crash
      // between its write and its rename publishes nothing
      assert(Snapshot.latest(spark, model.indexPath).get.version ===
        before + (if (point == "committed") 1 else 0))
      val snapshots = new java.io.File(model.indexPath, "_snapshots")
      assert(snapshots.list().forall(n => n.forall(_.isDigit) || n.endsWith(".crc")),
        snapshots.list().mkString(", "))

      verb.run(model) // replay
      val got = CodesIndex.readIndex(spark, model)
      val want = CodesIndex.readIndex(spark, clean)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      assert(probes(model) === probes(clean))
      assert(Snapshot.latest(spark, model.indexPath).get.batches ===
        Snapshot.latest(spark, clean.indexPath).get.batches)
      val files = FileSnapshots.snapshot(model.indexPath).keys
        .filter(p => !p.startsWith("_snapshots") && !p.split("/").last.startsWith("."))
      assert(files.nonEmpty && files.forall(retained(model.indexPath)),
        s"files no snapshot names: ${files.filterNot(retained(model.indexPath))}")
    }

  test("upsertPartitions: crash between a swap's delete and its rename, replay converges") {
    val root = java.nio.file.Files.createTempDirectory("graft-crashup").toString
    val base = Seq((1L, "p0", 10, 0L), (2L, "p0", 20, 0L), (3L, "p1", 30, 0L),
      (4L, "p1", 40, 0L), (5L, "p2", 50, 0L)).toDF("id", "part", "v", "version")
    val updates = Seq((1L, "p0", 11, 1L), (3L, "p1", 31, 1L), (6L, "p1", 60, 1L),
      (7L, "p3", 70, 1L)).toDF("id", "part", "v", "version")
    def upsert(dir: String) = Sinks.upsertPartitions(spark, dir, updates, "part",
      keyCols = Seq("id"), versionCol = "version")
    def rows(dir: String) = spark.read.parquet(dir).select("id", "part", "v", "version")
      .as[(Long, String, Int, Long)].collect().toSet
    val clean = s"$root/clean"
    Sinks.partitionedParquet(base, clean, Seq("part"))
    upsert(clean)
    val dir = s"$root/crashed"
    Sinks.partitionedParquet(base, dir, Seq("part"))
    // the second swap crashes: p0 is swapped, p1 deleted but not renamed,
    // p3 still only staged
    val p1 = new org.apache.hadoop.fs.Path(s"$dir/part=p1")
    Sinks.crashPoint = (p, d) => if (p == "deleted" && d == p1) throw new InjectedCrash
    try intercept[InjectedCrash](upsert(dir))
    finally Sinks.crashPoint = (_, _) => ()
    assert(!new java.io.File(s"$dir/part=p1").exists())
    assert(new java.io.File(s"${dir}__upsert_staging/part=p1").exists())

    upsert(dir) // replay
    assert(rows(dir) === rows(clean))
    assert(rows(dir).contains((4L, "p1", 40, 0L)), "p1's untouched row was lost")
    assert(!new java.io.File(s"${dir}__upsert_staging").exists(), "replay left the stage behind")
  }

  test("upsertSink: crash between the swap's delete and its rename, restart converges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-crashupsink").toString
    val a = Seq((1L, 10, 0L), (2L, 20, 0L), (3L, 30, 0L))
    val b = Seq((2L, 21, 1L), (4L, 40, 1L))
    def start(input: MemoryStream[(Long, Int, Long)], name: String) =
      graft.streaming.Streams.upsertSink(input.toDF().toDF("id", "v", "version"),
        s"$root/$name", s"$root/$name-ckpt", Seq("id"), "version").start()
    def rows(name: String) = spark.read.parquet(s"$root/$name")
      .as[(Long, Int, Long)].collect().toSet
    def batches(input: MemoryStream[(Long, Int, Long)], name: String) = {
      val q = start(input, name)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q
    }
    val clean = batches(MemoryStream[(Long, Int, Long)], "clean")
    clean.processAllAvailable()
    clean.stop()
    // the second batch's swap crashes
    val table = new org.apache.hadoop.fs.Path(s"$root/crashed")
    val swaps = new java.util.concurrent.atomic.AtomicInteger
    Sinks.crashPoint = (p, d) =>
      if (p == "deleted" && d == table && swaps.incrementAndGet() == 2) throw new InjectedCrash
    try {
      val q = batches(MemoryStream[(Long, Int, Long)], "crashed")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      q.stop()
    } finally Sinks.crashPoint = (_, _) => ()
    // the swap's delete ran: the table lives only in the staging dir
    assert(!new java.io.File(s"$root/crashed").exists())
    assert(new java.io.File(s"$root/crashed.staging").exists())

    val input = MemoryStream[(Long, Int, Long)] // restart on the checkpoint
    input.addData(a)
    input.addData(b)
    val q = start(input, "crashed")
    q.processAllAvailable()
    assert(q.exception.isEmpty, s"restart failed: ${q.exception}")
    q.stop()
    assert(rows("crashed") === rows("clean"))
    assert(rows("clean") === Set((1L, 10, 0L), (2L, 21, 1L), (3L, 30, 0L), (4L, 40, 1L)))
  }

  test("pretrain state: a version without _done is skipped, and replay converges") {
    val docs = Tables.documents(spark, sfDir).filter($"doc_id" % 4 === 0)
    val probe = Tables.documents(spark, sfDir).filter($"doc_id" % 100 === 0)
    def batch(b: Int) = docs.filter($"doc_id" / 4 % 3 === b)
    def packed(stateDir: String) = Pretrain.packedSnapshot(spark, stateDir)
      .map(_.orderBy("doc_id", "chunk_no").collect().toSeq)
    val root = java.nio.file.Files.createTempDirectory("graft-crashpt").toString
    val clean = s"$root/clean"
    (0 until 3).foreach(b => Pretrain.absorbBatch(batch(b), probe, clean, b.toLong))
    val v1 = spark.read.parquet(s"$clean/v1/packed").orderBy("doc_id", "chunk_no")
      .collect().toSeq

    val state = s"$root/crashed"
    (0 until 2).foreach(b => Pretrain.absorbBatch(batch(b), probe, state, b.toLong))
    assert(packed(state) === Some(v1))
    // a crash mid-version: v2 holds a table but no _done
    batch(2).write.parquet(s"$state/v2/corpus")
    assert(packed(state) === Some(v1))
    // no pointer file decides what is committed
    new java.io.File(s"$state/_latest").delete()
    assert(packed(state) === Some(v1))

    Pretrain.absorbBatch(batch(2), probe, state, 2L) // replay
    assert(packed(state).nonEmpty && packed(state) === packed(clean))
  }
}
