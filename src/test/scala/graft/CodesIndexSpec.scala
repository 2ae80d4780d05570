package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{CodesIndex, Ivf, IvfPq, IvfSq, Pq, Sq}
import graft.operators.CodesIndex.{Codec, CodesModel, Layout}
import graft.sources.{Sinks, Snapshot}

/** One lifecycle script over the five layouts (raw IVF and the four
  * compressed-codes ones): every layout must build, ingest exactly-once,
  * delete, probe consistently, compact, stay replay-safe and reload from
  * disk the same way, and never infer its table's schema on the way.
  */
class CodesIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)

  /** A layout under test: its build, and its single and set probes (top
    * 10, at the given nprobe) — exact cosine for raw IVF, ADC + rerank for
    * the codes layouts.
    */
  private final case class Case[L <: Layout](
      build: (String, DataFrame) => CodesModel[L],
      probe: (CodesModel[L], Long, Int) => DataFrame,
      probeAll: (CodesModel[L], DataFrame, Int) => DataFrame)

  private def codes(build: (String, DataFrame) => CodesModel[Codec]): Case[Codec] =
    Case[Codec](build,
      (m, q, nprobe) => CodesIndex.probe(m, emb, q, 10, nprobe = nprobe),
      (m, qs, nprobe) => CodesIndex.probeAll(m, emb, qs, 10, nprobe = nprobe))

  private val layouts: Seq[(String, Case[_ <: Layout])] = Seq(
    "pq" -> codes((key, df) => Pq.buildIndex(key, df)),
    "sq" -> codes((key, df) => Sq.buildIndex(key, df)),
    "ivfpq" -> codes((key, df) => IvfPq.buildIndex(key, df, nlist = 8)),
    "ivfsq" -> codes((key, df) => IvfSq.buildIndex(key, df, nlist = 8)),
    "ivf" -> Case[Ivf.Flat.type]((key, df) => Ivf.buildIndex(key, df, nlist = 8),
      (m, q, nprobe) => Ivf.probe(m, emb, q, 10, nprobe = nprobe),
      (m, qs, nprobe) => Ivf.probeAll(m, qs, 10, nprobe = nprobe)))

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  for ((name, layout) <- layouts)
    test(s"$name: build, ingest, delete, probe ≡ probeAll, compact, replay and reload") {
      lifecycle(name, layout)
    }

  private def lifecycle[L <: Layout](name: String, c: Case[L]): Unit = {
    val model = c.build(s"$sfDir#codes-lifecycle-$name", emb.filter($"vec_id" % 5 =!= 0))
    val nprobe = model.coarse.fold(1)(_.nlist)
    val batch = emb.filter($"vec_id" % 5 === 0)
    CodesIndex.appendToIndexIdempotent(model, batch, batchId = 1L)
    val once = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndexIdempotent(model, batch, batchId = 1L)
    assert(FileSnapshots.snapshot(model.indexPath) === once, "replayed ingest re-landed")
    assert(same(CodesIndex.readIndex(spark, model), CodesIndex.encode(model, emb)))

    def probes(m: CodesModel[L]): Seq[Seq[(Long, Double)]] =
      (0L until 3L).map(q => c.probe(m, q, nprobe).as[(Long, Double)].collect().toSeq)
    val inferred = InferenceJobs.of(spark) {
      CodesIndex.deleteFromIndex(model,
        emb.filter($"vec_id" % 7 === 3).select("vec_id"), batchId = 2L)
      val single = probes(model)
      assert(single.flatten.forall(_._1 % 7 != 3), "deleted ids still probed")
      val all = c.probeAll(model, emb.filter($"vec_id" < 3), nprobe)
        .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
      (0L until 3L).foreach(q => assert(all(q) === single(q.toInt).toSet, s"query $q"))
      CodesIndex.compactIndex(spark, model)
      assert(probes(model) === single, "compaction changed probe results")
    }
    assert(inferred.isEmpty, s"schema-inference jobs: ${inferred.mkString(", ")}")
    assert(FileSnapshots.named(spark, model.indexPath, Snapshot.Tomb).isEmpty)
    assert(new java.io.File(model.indexPath).list().forall(!_.startsWith("_staging")))
    assert(CodesIndex.readIndex(spark, model).filter($"vec_id" % 7 === 3).isEmpty)

    val compacted = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndexIdempotent(model, batch, batchId = 1L)
    assert(FileSnapshots.snapshot(model.indexPath) === compacted,
      "ingest replayed after compaction re-landed")

    val loaded = CodesIndex.loadModel[Layout](spark, model.indexPath).get
      .asInstanceOf[CodesModel[L]]
    assert(loaded.schema === model.schema && loaded.layout.lines === model.layout.lines)
    assert(probes(loaded) === probes(model))
  }

  for ((name, build) <- Seq[(String, (String, DataFrame) => CodesModel[Codec])](
      "pq" -> ((key, df) => Pq.buildIndex(key, df)),
      "ivfpq" -> ((key, df) => IvfPq.buildIndex(key, df, nlist = 8))))
    test(s"$name: a probe over memoized tombstones has no anti-join and no nested-loop join") {
      val model = build(s"$sfDir#codes-jobs-$name", emb.filter($"vec_id" % 5 =!= 0))
      CodesIndex.appendToIndexIdempotent(model, emb.filter($"vec_id" % 5 === 0), 1L)
      CodesIndex.deleteFromIndex(model, emb.filter($"vec_id" % 3 === 1).select("vec_id"), 2L)
      CodesIndex.probe(model, emb, 0L, 10).collect() // fills the tombstone memo
      var df: DataFrame = null
      val jobs = InferenceJobs.launched(spark) {
        df = CodesIndex.probe(model, emb, 0L, 10); df.collect()
      }
      // the LUT broadcast, the ADC shuffle, the top-`rerank` broadcast into
      // the re-rank join, and the result: the query vector is a
      // driver-side lookup
      assert(jobs.size === 4, s"jobs: ${jobs.mkString(", ")}")
      assert(PlansSpec.broadcastsAndAntiJoins(df).filterNot(_ == "BroadcastExchange").isEmpty,
        df.queryExecution.executedPlan)
    }

  test("loadModel refuses a _model without a schema and a different codec") {
    val model = Pq.buildIndex(s"$sfDir#codes-load", emb)
    intercept[IllegalArgumentException](
      CodesIndex.loadModel[Sq.SqCodec](spark, model.indexPath))
    val old = java.nio.file.Files.createTempDirectory("graft-codes-noschema")
    java.nio.file.Files.createDirectories(old.resolve("_snapshots"))
    java.nio.file.Files.write(old.resolve("_snapshots/1"), "sq 1\nS 0 0 1\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      CodesIndex.loadModel[Codec](spark, old.toString))
    assert(e.getMessage.contains("schema"))
  }

  test("20 listed ingests and a compaction leave two snapshots; replays add no rows") {
    val model = Ivf.buildIndex(s"$sfDir#codes-retention", emb.filter($"vec_id" % 5 =!= 0),
      nlist = 8)
    def batch(b: Long) = emb.filter($"vec_id" % 100 === b * 5)
    (0L until 20L).foreach(b => CodesIndex.appendToIndexIdempotent(model, batch(b), b))
    CodesIndex.compactIndex(spark, model)
    val root = new java.io.File(model.indexPath)
    assert(root.list().forall(n => n.startsWith("list=") || n == "_snapshots"),
      root.list().mkString(", "))
    assert(new java.io.File(root, "_snapshots").list().count(_.forall(_.isDigit)) <= 2)
    val rows = CodesIndex.readIndex(spark, model).count()
    assert(rows === emb.count())
    (0L until 20L).foreach(b => CodesIndex.appendToIndexIdempotent(model, batch(b), b))
    assert(CodesIndex.readIndex(spark, model).count() === rows)
  }

  test("two commits from one version: the loser throws, its files stay unread") {
    val model = Ivf.buildIndex(s"$sfDir#codes-race", emb.filter($"vec_id" % 5 =!= 0), nlist = 8)
    val root = new org.apache.hadoop.fs.Path(model.indexPath)
    val mine = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 === 0)
    val theirs = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 =!= 0)
    // the other writer commits from the same version right before this
    // writer's snapshot create
    Sinks.crashPoint = (p, d) => if (p == "staged" && d == root) {
      Sinks.crashPoint = (_, _) => ()
      CodesIndex.appendToIndexIdempotent(model, theirs, 2L)
    }
    try intercept[Sinks.ConcurrentWriterException](
      CodesIndex.appendToIndexIdempotent(model, mine, 1L))
    finally Sinks.crashPoint = (_, _) => ()
    val s = Snapshot.latest(spark, model.indexPath).get
    assert(s.batches === Set("append-2"))
    assert(s.files.forall(!_.path.contains("ingest-1")))
    // the winner's retention removed the files of the loser, which can no
    // longer commit
    assert(!FileSnapshots.snapshot(model.indexPath).keys.exists(_.contains("ingest-1-")))
    val got = CodesIndex.readIndex(spark, model).select("vec_id")
    val want = emb.filter($"vec_id" % 5 =!= 0).unionByName(theirs).select("vec_id")
    assert(same(got, want))
  }

  test("a writer from a superseded version replaces none of the winner's files") {
    val model = Pq.buildIndex(s"$sfDir#codes-overwrite", emb.filter($"vec_id" % 5 =!= 0))
    val base = Snapshot.latest(spark, model.indexPath).get
    def compacted(rows: DataFrame) = Snapshot.write(rows.repartition(1), base, "compact",
      Snapshot.Data, listed = false)
    val all = CodesIndex.readIndex(spark, model)
    val won = Snapshot.commit(spark, base.copy(files = compacted(all)))
    val winner = FileSnapshots.named(spark, model.indexPath)
    // a second compaction from the same version writes after the commit
    val loser = compacted(all.filter($"vec_id" % 2 === 0))
    assert(loser.map(_.path).toSet.intersect(won.files.map(_.path).toSet).isEmpty)
    assert(FileSnapshots.named(spark, model.indexPath) === winner)
    intercept[Sinks.ConcurrentWriterException](
      Snapshot.commit(spark, base.copy(files = loser)))
    assert(Snapshot.latest(spark, model.indexPath) === Some(won))
    assert(same(CodesIndex.readIndex(spark, model), all))
  }

  test("two compactions from one version: the later commit throws, the winner's files stay") {
    val model = Ivf.buildIndex(s"$sfDir#codes-compact-race", emb.filter($"vec_id" % 5 =!= 0),
      nlist = 8)
    CodesIndex.appendToIndexIdempotent(model, emb.filter($"vec_id" % 5 === 0), 1L)
    CodesIndex.deleteFromIndex(model, emb.filter($"vec_id" % 7 === 3).select("vec_id"), 2L)
    val want = CodesIndex.readIndex(spark, model).select("vec_id")
      .join(FileSnapshots.tombstones(spark, model.indexPath), Seq("vec_id"), "left_anti")
      .as[Long].collect().toSet
    val root = new org.apache.hadoop.fs.Path(model.indexPath)
    // the other compaction runs from the same version and commits right
    // before this one's snapshot write
    Sinks.crashPoint = (p, d) => if (p == "staged" && d == root) {
      Sinks.crashPoint = (_, _) => ()
      CodesIndex.compactIndex(spark, model)
    }
    try intercept[Sinks.ConcurrentWriterException](CodesIndex.compactIndex(spark, model))
    finally Sinks.crashPoint = (_, _) => ()
    val s = Snapshot.latest(spark, model.indexPath).get
    assert(s.files.forall(_.kind == Snapshot.Data))
    s.files.foreach(f => assert(new java.io.File(model.indexPath, f.path).length === f.len))
    assert(CodesIndex.readIndex(spark, model).select("vec_id").as[Long].collect().toSet === want)
    // the winner's retention removed the loser's files: after the next
    // commit, every file on disk is named by a retained snapshot
    CodesIndex.appendToIndexIdempotent(model, emb.filter($"vec_id" === 5L), 3L)
    val named = Snapshot.latest(spark, model.indexPath).get.files.map(_.path).toSet ++
      s.files.map(_.path)
    val onDisk = FileSnapshots.snapshot(model.indexPath).keys
      .filter(p => !p.startsWith("_snapshots") && !p.split("/").last.startsWith("."))
    assert(onDisk.forall(named), onDisk.filterNot(named).mkString(", "))
  }
}
