package bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.SalesClean
import graft.sources.Sinks

/** The reference's event-driven job, one operation per landed file:
  * audited CSV read → clean / quarantine split → `SalesClean.clean` →
  * both sides committed with `Sinks.appendBatchFileIdempotent`. Deliveries
  * come in periods of `Period`, each committing into fresh tables, so every
  * period does the same work however many a run measures. Every
  * `RedeliverEvery`-th delivery of a period repeats a seeded earlier file
  * of that period (at-least-once notifications) and must commit nothing
  * new. After every `RollupEvery`-th delivery, a per-product rollup reads
  * the period's whole table.
  */
final class SalesLanding(run: Run) extends Workload {
  import SalesLanding._

  private val spark = run.spark
  private var root = ""
  private var tables = ""
  private var next = 0
  private var k = 0
  private var periods = 0
  private val landed = mutable.ArrayBuffer.empty[Gen.SalesFile]
  private val committed = mutable.HashSet.empty[String]
  private val expQty = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val expCnt = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var expQuarantined = 0L
  private val opRng = Gen.rng(run.seed, 10)
  private var landedFresh = 0

  def setup(rep: Int): Unit = {
    root = run.dir("sales", s"r$rep")
    Files.createDirectories(Paths.get(root, "landing"))
  }

  private def newPeriod(name: String): Unit = {
    tables = s"$root/$name"
    k = 0
    landed.clear(); committed.clear(); expQty.clear(); expCnt.clear()
    expQuarantined = 0L
  }

  /** Warm-up lands files from a separate index range into tables of its
    * own, so the measured files start at index 0 and cover whole size
    * strata.
    */
  def warmup(): Unit = {
    newPeriod("warmup")
    next = WarmupBase
    (0 until WarmupFiles).foreach(_ => step())
    next = 0
    k = Period
  }

  def step(): Unit = {
    if (k == Period) {
      newPeriod(s"p$periods")
      periods += 1
    }
    k += 1
    val redeliver = k % RedeliverEvery == 0
    val f =
      if (redeliver) landed(opRng.nextInt(landed.size))
      else {
        val g = Gen.salesFile(run.seed, next, MinRows, MaxRows, BadShare,
          FreshPerPeriod)
        next += 1
        landedFresh += 1
        landed += g
        g
      }
    val path = s"$root/landing/${f.name}"
    Files.write(Paths.get(path), f.csv.getBytes(StandardCharsets.UTF_8))
    val fresh = !committed.contains(f.name)
    val part = f.name.stripSuffix(".csv") + ".parquet"
    run.op(if (redeliver) "redelivery" else "file", main = true, rated = true) {
      val audited = run.span("operators.SalesClean.readCsvAudited")(
        SalesClean.readCsvAudited(spark, path)).cache()
      try {
        val cleaned = run.span("operators.SalesClean.clean")(
          SalesClean.clean(SalesClean.cleanRows(audited)))
        run.span("sources.Sinks.appendBatchFileIdempotent")(
          Sinks.appendBatchFileIdempotent(cleaned, s"$tables/sales", part))
        run.span("sources.Sinks.appendBatchFileIdempotent")(
          Sinks.appendBatchFileIdempotent(SalesClean.corruptRows(audited),
            s"$tables/quarantine", part))
      } finally audited.unpersist()
    }(_ => if (fresh) f.clean.toDouble else 0.0) { _ =>
      val rows = Parquet.rowCount(spark, s"$tables/sales/$part")
      val bad = Parquet.rowCount(spark, s"$tables/quarantine/$part")
      if (rows != f.clean || bad != f.quarantined)
        Some(s"${f.name}: committed $rows/$bad rows, expected ${f.clean}/${f.quarantined}")
      else None
    }
    if (fresh) {
      committed += f.name
      f.qty.foreach { case (p, q) => expQty(p) += q }
      f.count.foreach { case (p, c) => expCnt(p) += c }
      expQuarantined += f.quarantined
    }
    Files.delete(Paths.get(path))
    if (k % RollupEvery == 0) rollup()
  }

  private def rollup(): Unit =
    run.op("rollup", main = false) {
      run.span("spark.rollup")(
        spark.read.parquet(s"$tables/sales")
          .groupBy("product")
          .agg(count(lit(1)).as("n"), sum("quantity").as("q"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
    }(_ => 0.0) { got =>
      val want = expCnt.keys.filter(expCnt(_) > 0)
        .map(p => p -> (expCnt(p), expQty(p))).toMap
      val quarantined = Parquet.rowCount(spark, s"$tables/quarantine")
      if (got != want) Some(s"rollup $got, expected $want")
      else if (quarantined != expQuarantined)
        Some(s"quarantine holds $quarantined rows, expected $expQuarantined")
      else None
    }

  override def period: Int = Period
  override def tailPct: Double = 65.0

  /** The traced run also traces one nightly curation round. */
  override def traceExtras(): Unit = new CurationRound(run)()

  override def extraRecord: Map[String, Any] = Map(
    "files_landed" -> landedFresh, "periods" -> periods,
    "rows_range" -> Seq(MinRows, MaxRows))
}

object SalesLanding {
  val MinRows = 100
  val MaxRows = 20000
  val BadShare = 0.01
  val Period = 30
  val RedeliverEvery = 10
  // one size stratum per new file of a period: every period lands one file
  // from each 1/27 of the log size range
  val FreshPerPeriod = Period - Period / RedeliverEvery
  val RollupEvery = 3
  // the first files run while the JIT still compiles the read, clean and
  // write paths
  val WarmupFiles = 14
  val WarmupBase = 1000000
}

/** Row counts from parquet footers: checks committed output without
  * running a Spark job.
  */
object Parquet {
  def rowCount(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isFile) Seq(fs.getFileStatus(p))
      else fs.listStatus(p).toSeq.filter(s => s.isFile &&
        s.getPath.getName.endsWith(".parquet"))
    files.map { s =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }
}
