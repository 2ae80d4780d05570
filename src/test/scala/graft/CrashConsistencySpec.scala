package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{CodesIndex, Ivf, IvfPq, Pq, Pretrain}
import graft.operators.CodesIndex.{CodesModel, Layout}
import graft.sources.Sinks

/** Fault injection for the staged publish verbs: a simulated crash at each
  * step boundary, then a replay, must converge to what an uninterrupted run
  * publishes — the same rows and the same bytes — and leave no staging dir
  * behind.
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

  test("flat codes compaction: crash between the staged rewrite and the swap, rerun converges") {
    val emb = Tables.embeddings(spark, sfDir)
    def lifecycle(key: String) = {
      val m = Pq.buildIndex(key, emb.filter($"vec_id" % 5 =!= 0))
      CodesIndex.appendToIndexIdempotent(m, emb.filter($"vec_id" % 5 === 0), 3L)
      CodesIndex.deleteFromIndex(m, emb.filter($"vec_id" % 7 === 3).select("vec_id"), 4L)
      m
    }
    val clean = lifecycle(sfDir + "#crashcompact-clean")
    CodesIndex.compactIndex(spark, clean)
    val model = lifecycle(sfDir + "#crashcompact")
    val root = new java.io.File(model.indexPath)
    val staging = new java.io.File(model.indexPath + "__compact_staging")
    crashingAt("staged", root.getParent, root.getName) {
      CodesIndex.compactIndex(spark, model)
    }
    assert(staging.exists())
    CodesIndex.compactIndex(spark, model) // rerun
    def manifest(m: CodesIndex.CodesModel[CodesIndex.Codec]) = Sinks.readIngestManifest(
      Sinks.fileSystem(spark, m.indexPath), new org.apache.hadoop.fs.Path(m.indexPath))
    assert(manifest(model) === Set(3L) && manifest(model) === manifest(clean))
    val got = CodesIndex.readIndex(spark, model)
    val want = CodesIndex.readIndex(spark, clean)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(!staging.exists(), "rerun left the staging dir behind")
    assert(!new java.io.File(model.indexPath + "__tombstones").exists())
    assert(CodesIndex.loadModel[CodesIndex.Codec](spark, model.indexPath).nonEmpty)
  }

  private val listed: Seq[(String, (String, DataFrame) => CodesModel[Layout])] = Seq(
    "raw IVF" -> ((key, df) => Ivf.buildIndex(key, df, nlist = 8)),
    "IVF-PQ" -> ((key, df) => IvfPq.buildIndex(key, df, nlist = 8)))

  for ((name, build) <- listed)
    test(s"listed ingest ($name): crash after the first list's move, replay converges") {
      val emb = Tables.embeddings(spark, sfDir)
      val base = emb.filter($"vec_id" % 5 =!= 0)
      val batch = emb.filter($"vec_id" % 5 === 0)
      val clean = build(s"$sfDir#crashingest-clean-$name", base)
      CodesIndex.appendToIndexIdempotent(clean, batch, 3L)
      val model = build(s"$sfDir#crashingest-$name", base)
      val root = new org.apache.hadoop.fs.Path(model.indexPath)
      val staging = new java.io.File(model.indexPath + "__ingest_staging_3")
      val marker = new java.io.File(model.indexPath, "_ingest_done/3")
      Sinks.crashPoint = (p, d) => if (p == "moved" && d.getParent == root) throw new InjectedCrash
      try intercept[InjectedCrash](CodesIndex.appendToIndexIdempotent(model, batch, 3L))
      finally Sinks.crashPoint = (_, _) => ()
      // one list landed, the rest are still staged, and the batch is not done
      assert(staging.exists() && !marker.exists())
      assert(new java.io.File(model.indexPath).listFiles().toSeq
        .exists(d => new java.io.File(d, "ingest-3.parquet").exists()))

      CodesIndex.appendToIndexIdempotent(model, batch, 3L) // replay
      val got = CodesIndex.readIndex(spark, model)
      val want = CodesIndex.readIndex(spark, clean)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      assert(got.count() === emb.count())
      assert(!staging.exists(), "replay left the staging dir behind")
      assert(marker.exists(), "replay wrote no _ingest_done marker")
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
