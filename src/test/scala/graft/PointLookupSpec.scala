package graft

import scala.util.Try
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Ivf
import graft.sources.PointLookup

class PointLookupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val root = java.nio.file.Files.createTempDirectory("graft-lookup").toString

  /** The filter-and-collect job a lookup replaces, as raw bits. */
  private def job(df: DataFrame, id: Long): Try[Seq[Long]] = Try(
    df.filter($"vec_id" === id).select(transform($"embedding", _.cast("double")).as("e"))
      .collect()(0).getSeq[Double](0).toArray).map(bits)

  private def queryVec(df: DataFrame, id: Long): Try[Seq[Long]] =
    Try(bits(Ivf.queryVec(df, id)))

  private def jobs(body: => Unit): Int = InferenceJobs.launched(spark)(body).size

  /** The lookup declines `id`, and `Ivf.queryVec` runs the job and gives
    * its vector or fails with its error.
    */
  private def takesTheJob(df: DataFrame, id: Long): Unit = {
    assert(PointLookup.vector(df, id).isEmpty, s"id $id took the driver lookup")
    var got: Try[Seq[Long]] = null
    assert(jobs { got = queryVec(df, id) } >= 1)
    val want = job(df, id)
    assert(got.isSuccess === want.isSuccess, s"id $id: $got vs $want")
    if (want.isSuccess) assert(got.get === want.get, s"id $id")
    else assert(got.failed.get.getClass === want.failed.get.getClass, s"id $id")
  }

  /** A parquet table with one file per frame of `files`. */
  private def table(name: String, files: Seq[DataFrame],
                    opts: Map[String, String] = Map.empty): DataFrame = {
    val dir = s"$root/$name"
    files.foreach(_.coalesce(1).write.options(opts).mode("append").parquet(dir))
    spark.read.parquet(dir)
  }

  private def vecs(ids: Seq[Long], scale: Float = 1f): DataFrame = embed(ids.toDF("vec_id"), scale)

  private def embed(ids: DataFrame, scale: Float = 1f): DataFrame =
    ids.withColumn("embedding",
      transform(sequence(lit(1), lit(8)), i => (i * ($"vec_id" + 1)).cast("float") * scale))

  private def bits(v: Array[Double]): Seq[Long] = v.toSeq.map(java.lang.Double.doubleToRawLongBits)

  test("every fixture id: the driver lookup equals the job bit for bit and runs no job") {
    val want = emb.select($"vec_id", transform($"embedding", _.cast("double")))
      .as[(Long, Seq[Double])].collect()
    assert(want.length > 100)
    want.foreach { case (id, v) =>
      val got = PointLookup.vector(emb, id)
      assert(got.isDefined, s"id $id took the job")
      assert(bits(got.get) === bits(v.toArray), s"id $id")
    }
    assert(jobs(Seq(0L, 1L, want.last._1).foreach(Ivf.queryVec(emb, _))) === 0)
    // a projection of plain attributes is still the bare table
    assert(PointLookup.vector(emb.select("embedding", "vec_id"), 1L).isDefined)
  }

  test("a derived plan takes the job, with its vectors and its errors") {
    val defects = Tables.embeddingsWithDefects(spark, sfDir)
    // 97: null embedding, 89: 32 floats, 83: zeros, 79: a NaN, 1: untouched
    Seq(97L, 89L, 83L, 79L, 1L).foreach(takesTheJob(defects, _))
    takesTheJob(emb.filter($"vec_id" > 0), 1L)
    takesTheJob(emb.select($"vec_id", $"embedding".as("e")).withColumnRenamed("e", "embedding"), 1L)
  }

  test("a missing id fails with an IllegalArgumentException naming it, on both paths") {
    Seq(emb, Tables.embeddingsWithDefects(spark, sfDir)).foreach { df =>
      val e = intercept[IllegalArgumentException](Ivf.queryVec(df, 987654321L))
      assert(e.getMessage.contains("987654321"))
    }
  }

  test("a duplicate id in two files takes the job; a unique one does not") {
    val df = table("dup", Seq(vecs(0L until 10L), vecs(Seq(3L), 2f)))
    takesTheJob(df, 3L)
    assert(PointLookup.vector(df, 5L).isDefined)
    assert(jobs(assert(queryVec(df, 5L) === job(df, 5L))) === 1) // the job of `job`
  }

  test("a null embedding or a null element takes the job") {
    val df = table("nulls", Seq(Seq(1L, 2L, 3L).toDF("vec_id").withColumn("embedding",
      when($"vec_id" === 1L, lit(null).cast("array<float>"))
        .when($"vec_id" === 2L, array(lit(1f), lit(null).cast("float")))
        .otherwise(array(lit(1f), lit(2f))))))
    takesTheJob(df, 1L)
    takesTheJob(df, 2L)
    assert(PointLookup.vector(df, 3L).map(_.toSeq) === Some(Seq(1.0, 2.0)))
  }

  test("legacy-format lists and files without vec_id statistics take the job") {
    val key = "spark.sql.parquet.writeLegacyFormat"
    spark.conf.set(key, "true")
    val legacy = try table("legacy", Seq(vecs(0L until 10L))) finally spark.conf.unset(key)
    takesTheJob(legacy, 4L)
    val noStats = table("nostats", Seq(vecs(0L until 10L)),
      Map("parquet.column.statistics.enabled" -> "false"))
    takesTheJob(noStats, 4L)
    // the same rows with statistics and the standard list take the lookup
    assert(PointLookup.vector(table("plain", Seq(vecs(0L until 10L))), 4L).isDefined)
  }

  test("candidate row groups over MaxCandidateBytes take the job") {
    // 1024 hashed floats a row: incompressible, one row group per file
    def wide(n: Long) = spark.range(n).select($"id".as("vec_id"),
      transform(sequence(lit(1), lit(1024)), i => hash($"id", i).cast("float")).as("embedding"))
    val big = table("big", Seq(wide(2300L)))
    val bytes = big.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum
    assert(bytes > PointLookup.MaxCandidateBytes, s"$bytes bytes")
    takesTheJob(big, 1234L)
    assert(PointLookup.vector(table("small", Seq(wide(1000L))), 123L).isDefined)
  }

  test("more than MaxUnseenFiles unseen files take the job; later calls footer the rest") {
    val n = PointLookup.MaxUnseenFiles + 1
    val dir = s"$root/many"
    embed(spark.range(0, n, 1, n).toDF("vec_id")).write.parquet(dir)
    val df = spark.read.parquet(dir)
    assert(df.inputFiles.length === n)
    assert(PointLookup.vector(df, 7L).isEmpty, s"$n unseen files took the driver lookup")
    // that call footered MaxUnseenFiles files; this one footers the last
    assert(PointLookup.vector(df, 7L).map(bits) === job(df, 7L).toOption)
  }

  test("a file rewritten in place brings a new footer entry") {
    val dir = s"$root/rewrite"
    vecs(0L until 10L).coalesce(1).write.parquet(dir)
    vecs(10L until 20L).coalesce(1).write.mode("append").parquet(dir)
    val df1 = spark.read.parquet(dir)
    val before = bits(PointLookup.vector(df1, 12L).get)
    val target = df1.inputFiles.map(new java.net.URI(_)).map(new java.io.File(_))
      .find(f => spark.read.parquet(f.toString).filter($"vec_id" === 12L).count() == 1).get
    def builds = Artifacts.stats("lookup.footer").builds
    val b0 = builds
    // the same ids, other vectors and another length, over the same path
    val stage = s"$root/rewrite-stage"
    vecs(10L until 21L, 3f).coalesce(1).write.parquet(stage)
    val fresh = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    import java.nio.file.{Files, StandardCopyOption}
    Files.copy(fresh.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(new java.io.File(target.getParent, s".${target.getName}.crc").toPath)
    target.setLastModified(target.lastModified() + 5000L)
    val df2 = spark.read.parquet(dir)
    val after = PointLookup.vector(df2, 12L).map(bits)
    assert(after.isDefined && after === job(df2, 12L).toOption)
    assert(after.get !== before)
    assert(builds === b0 + 1, "only the rewritten file is footered again")
    assert(Artifacts.held("lookup.footer").collect {
      case (k, v) if k.endsWith("/" + target.getName) => v }.toSeq === Seq(1))
  }
}
