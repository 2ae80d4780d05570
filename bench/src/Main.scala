package bench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation: `ms` of wall time, `cpuMs` of CPU time spent by
  * the JVM's Java threads (driver and task threads) while it ran, and
  * `cal0`/`cal1`, the CPU times of the calibration loop run just before and
  * just after it. `hostMs`, set after the run, is the median calibration
  * of the nine operations around this one: the host's speed at the time.
  * `refCpuMs` is the CPU time scaled to the calibration's reference speed,
  * the figure every end-to-end metric but setup_s is built from: `main`
  * operations feed op_cpu_p50_ms/op_cpu_tail_ms, the others
  * aux_cpu_p50_ms; `units` of `rated` operations over their summed scaled
  * CPU seconds give work_per_cpu_s. `steal` is the share of all CPU time
  * the hypervisor took from this machine while the operation ran.
  */
final case class Sample(kind: String, main: Boolean, ms: Double,
                        cpuMs: Double, cal0: Double, cal1: Double, units: Double,
                        rated: Boolean, ok: Boolean, traced: Boolean,
                        warm: Boolean, steal: Double,
                        hostMs: Double = Double.NaN) {
  def refCpuMs: Double =
    cpuMs * math.pow(Calibrate.RefMs / hostMs, Calibrate.Elasticity)
}

/** State shared by a run: the session, the tracer, the work root and the
  * samples. `op` times the body, then runs the check outside the timing.
  */
final class Run(val spark: SparkSession, val trace: Trace, val seed: Long,
                val work: String) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val errors = mutable.ArrayBuffer.empty[String]
  var warm = true
  /** In a traced run, measured operations alternate traced and untraced
    * within each kind, so both halves hold the same mix of kinds; warm-up
    * operations are untraced. `traceAll` traces every operation.
    */
  var tracing = false
  var traceAll = false

  def op[T](kind: String, main: Boolean, rated: Boolean = false)
           (body: => T)(units: T => Double)(check: T => Option[String]): Option[T] = {
    val nth = samples.count(s => !s.warm && s.kind == kind)
    trace.setEnabled(traceAll || (tracing && !warm && nth % 2 == 0))
    val cal0 = Calibrate.ms()
    val cpu0 = Host.cpuTicks()
    val threads0 = Host.threadCpuNs()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = Host.threadCpuNsSince(threads0) / 1e6
    val cpu1 = Host.cpuTicks()
    val cal1 = Calibrate.ms()
    val err = res match {
      case Left(e) => Some(s"$kind raised ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => Some(s"$kind check raised $e") }
    }
    err.foreach(m => if (errors.size < 20) errors += m.take(400))
    samples += Sample(kind, main, ms, cpuMs, cal0, cal1, res.fold(_ => 0.0, units),
      rated, err.isEmpty, trace.enabled, warm, Host.stealShare(cpu0, cpu1))
    res.toOption
  }

  /** A check outside any timed operation (e.g. once per round); counts as
    * an attempted operation, and as a failed one when it finds a mismatch.
    */
  var checks = 0
  var checkFailures = 0
  def check(what: String)(f: => Option[String]): Unit = {
    checks += 1
    val err = try f catch { case NonFatal(e) => Some(s"$what raised $e") }
    err.foreach { m =>
      checkFailures += 1
      if (errors.size < 20) errors += m.take(400)
    }
  }

  def span[T](name: String)(f: => T): T = trace.span(name)(f)

  def dir(parts: String*): String = (work +: parts).mkString("/")
}

/** A workload: `setup` builds everything the loop needs and is repeated
  * (each repetition from scratch under fresh keys) so setup time is a
  * median; `step` is one closed-loop unit of work.
  */
trait Workload {
  def setup(rep: Int): Unit
  def warmup(): Unit
  def step(): Unit
  /** Percentile of op_tail_ms: the highest with at least ten samples
    * beyond it at the workload's usual sample count.
    */
  def tailPct: Double
  /** Steps after which the workload's schedule repeats; the measured
    * phase runs for the given seconds, then on to the end of the period, so
    * every run measures whole periods.
    */
  def period: Int
  def extraRecord: Map[String, Any] = Map.empty
  /** Per-layer metrics the workload measures itself (others report 0). */
  def layerMetrics: Map[String, Double] = Map.empty
  /** Extra traced work after the measured phase of a traced run. */
  def traceExtras(): Unit = ()
}

/** CPU time accounting: of this JVM's threads, and of the whole machine
  * from /proc/stat.
  */
object Host {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time of every live Java thread, by thread id. The kernel leaves
    * time stolen by the hypervisor and time spent waiting for a CPU out of
    * it; JIT compiler and GC threads are not Java threads and are not in it.
    */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU time Java threads spent since `before` (threads started since
    * count from zero).
    */
  def threadCpuNsSince(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum

  /** (steal, total) jiffies of all CPUs so far; zeros where unreadable. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/** A fixed single-threaded JVM workload over seeded data: hash-map
  * merges, a sort and string building, about 20 ms of CPU. A shared host
  * ran this loop up to 1.6× slower in one run than in another, and the CPU
  * time of an operation moves with it; the loop's CPU time, taken right
  * before and after each operation, measures that speed, and the
  * operation's CPU time is scaled by (`RefMs` / the loop's time) to the
  * power `Elasticity`. The loop calls nothing of graft or Spark, so the
  * program cannot change it.
  */
object Calibrate {
  /** The loop's CPU time on an unloaded 4-core Xeon (Sapphire Rapids, KVM
    * guest), rounded.
    */
  val RefMs = 20.0

  /** How much of the loop's slow-down an operation shares: over 20 runs of
    * both workloads in which the loop's median time ranged from 13.4 to
    * 22.0 ms, the log of each end-to-end CPU figure moved 0.68–0.84 times
    * as much as the log of the loop's time (least squares). Scaling by the
    * full ratio over-corrects the slow and fast runs.
    */
  val Elasticity = 0.75

  private val threads = ManagementFactory.getThreadMXBean
  private val data = {
    val r = new java.util.SplittableRandom(42)
    Array.fill(1 << 16)(r.nextLong())
  }
  @volatile private var sink = 0L

  /** Operations on each side whose calibrations count towards the host
    * speed an operation is scaled by. Single calibrations scatter by about
    * 15% around the host's speed, as Spark's background threads and the
    * cache state an operation leaves behind vary; the median of the 18
    * calibrations of nine operations follows the host's drift within a run
    * and leaves that scatter out.
    */
  val Around = 4

  /** The samples, in order, each with its `hostMs` set. */
  def hostSpeed(ss: Seq[Sample]): Seq[Sample] =
    ss.indices.map { i =>
      val near = ss.slice(i - Around, i + Around + 1).flatMap(s => Seq(s.cal0, s.cal1))
      ss(i).copy(hostMs = Stats.pct(near, 50))
    }

  /** One run of the loop; its CPU time in ms. */
  def ms(): Double = {
    val t0 = threads.getCurrentThreadCpuTime
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < 200000) {
      m.merge(math.abs(data(i & 0xffff) % 40000), 1L, (a, b) => a + b)
      i += 1
    }
    val sorted = data.clone()
    java.util.Arrays.sort(sorted)
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < 20000) { sb.append(data(i)).append(','); i += 1 }
    sink = sorted(100) + m.size + sb.toString.split(",").length
    (threads.getCurrentThreadCpuTime - t0) / 1e6
  }
}

object Main {

  val SetupReps = 3
  val ExtrasBeforeS = 70.0

  /** Every span the workloads and the traced curation round open, named
    * after the public call.
    */
  val SpanNames: Seq[String] = Seq(
    "operators.SalesClean.readCsvAudited", "operators.SalesClean.clean",
    "sources.Sinks.appendBatchFileIdempotent", "spark.rollup",
    "operators.Pretrain.buildState", "operators.Pretrain.pack",
    "operators.Pretrain.incremental",
    "operators.Ivf.probe", "operators.Bm25.topKText",
    "operators.Similarity.ragContextIvf",
    "operators.Ivf.appendToIndexIdempotent", "operators.Ivf.deleteFromIndex",
    "operators.Ivf.compactIndex")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val cpus = opts("cpus").toInt
    // the runner holds our stdin open; end with it if it goes away
    val orphanGuard = new Thread(() => {
      while (System.in.read() >= 0) ()
      Runtime.getRuntime.halt(3)
    })
    orphanGuard.setDaemon(true)
    orphanGuard.start()
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val run = new Run(spark, new Trace(spark), seed, work)
    val wl: Workload = workload match {
      case "sales_landing" => new SalesLanding(run)
      case "rag_serve" => new RagServe(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // a traced run does not report setup_s, so it sets up once
    val setupS = (0 until (if (traced) 1 else SetupReps)).map { rep =>
      val t0 = System.nanoTime()
      wl.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }

    val uptime = () => ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val setupEndS = uptime()
    wl.warmup()
    run.warm = false
    run.tracing = traced
    val warmEndS = uptime()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var steps = 0
    while (System.nanoTime() < deadline || steps % wl.period != 0) {
      wl.step()
      steps += 1
    }
    val measuredEndS = uptime()
    val planMs = run.trace.planMsTotal()
    // the extras take about 35 s on 4 quiet cores; on a host slow enough
    // that they could run past the runner's time limit, they are skipped
    // (and their spans read 0), and the record says so
    val extras = traced && measuredEndS < ExtrasBeforeS
    if (extras) {
      run.warm = true
      run.traceAll = true
      wl.traceExtras()
    }
    run.trace.setEnabled(false)
    val loadEnd = os.getSystemLoadAverage
    val endS = uptime()

    val all = run.samples.toSeq
    val measured = Calibrate.hostSpeed(all.filterNot(_.warm))
    val layerExtra = Seq("operators.Ivf.probe.recall_at_10" -> "ratio")
    val attempted = all.size + run.checks
    val failed = all.count(!_.ok) + run.checkFailures

    // The end-to-end figures of a set of operations, from one of their
    // times (scaled CPU for the metrics; raw CPU and wall for the record):
    // the main and other operations' percentiles, and rated units over
    // their summed seconds.
    def e2e(ss: Seq[Sample], t: Sample => Double): Seq[Double] = {
      val main = ss.filter(_.main).map(t)
      val rated = ss.filter(_.rated)
      Seq(Stats.pct(main, 50), Stats.pct(main, wl.tailPct),
        Stats.pct(ss.filterNot(_.main).map(t), 50),
        rated.map(_.units).sum / (rated.map(t).sum / 1000.0))
    }
    val cpuNames = Seq("op_cpu_p50_ms" -> "ms", "op_cpu_tail_ms" -> "ms",
      "aux_cpu_p50_ms" -> "ms", "work_per_cpu_s" -> "1/s")
    def raw(t: Sample => Double) = Seq("op_p50", "op_tail", "aux_p50", "work_per_s")
      .zip(e2e(measured, t)).toMap

    val setupMed = sessionS + Stats.pct(setupS, 50)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        Seq(("setup_s", setupMed, "s"),
          ("ok_ratio", (attempted - failed).toDouble / math.max(attempted, 1), "ratio")) ++
          cpuNames.zip(e2e(measured, _.refCpuMs)).map { case ((n, u), v) => (n, v, u) }
      } else {
        val on = e2e(measured.filter(_.traced), _.refCpuMs)
        val off = e2e(measured.filterNot(_.traced), _.refCpuMs)
        run.trace.summary(SpanNames, measured.count(_.traced), planMs) ++
          layerExtra.map { case (n, u) => (n, wl.layerMetrics.getOrElse(n, 0.0), u) } ++
          cpuNames.zip(on.zip(off)).map { case ((n, u), (a, b)) =>
            (s"trace_overhead.$n", a - b, u) }
      }

    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[$cpus]",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
      "session_s" -> sessionS, "setup_reps_s" -> setupS,
      "uptime_s" -> Map("session" -> sessionS, "setup" -> setupEndS,
        "warmup" -> warmEndS, "measured" -> measuredEndS, "end" -> endS),
      "steps" -> steps, "tail_percentile" -> wl.tailPct,
      "trace_extras_run" -> extras,
      "samples" -> Map("main" -> measured.count(_.main),
        "other" -> measured.count(!_.main), "rated" -> measured.count(_.rated)),
      "unscaled_cpu_ms" -> raw(_.cpuMs), "wall_ms" -> raw(_.ms),
      "calibration_ref_ms" -> Calibrate.RefMs,
      "calibration_p50_ms" -> Stats.pct(measured.flatMap(s => Seq(s.cal0, s.cal1)), 50),
      "calibration_window" -> (2 * Calibrate.Around + 1),
      // kind, wall ms, CPU ms, the calibrations before and after, their
      // median around the operation (all ms) and steal % of each operation
      "ops_in_order" -> measured.map(s => Seq(s.kind, math.round(s.ms),
        math.round(s.cpuMs)) ++ Seq(s.cal0, s.cal1, s.hostMs).map(c =>
        math.round(c * 10) / 10.0) :+ math.round(s.steal * 1000) / 10.0),
      "ops" -> measured.groupBy(_.kind).map { case (k, v) =>
        k -> Map("n" -> v.size, "wall_p50_ms" -> Stats.pct(v.map(_.ms), 50),
          "cpu_p50_ms" -> Stats.pct(v.map(_.refCpuMs), 50),
          "wall_max_ms" -> v.map(_.ms).max) },
      "errors" -> run.errors.toSeq) ++ wl.extraRecord
    println(Json.obj("record" -> record))
    println(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }.toMap))
    System.out.flush()
    spark.stop()
  }
}

object Stats {
  /** Linear-interpolated percentile; NaN on no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def obj(kv: (String, Any)*): String = value(kv.toMap)
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
      value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
}
