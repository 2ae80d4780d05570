package graft

import graft.operators.{CodesIndex, Pq}
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
}
