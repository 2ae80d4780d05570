package bench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call spans around the public graft functions, measured from outside
  * the library. While tracing is on, each span sets a span-id local
  * property so every Spark job (and its stages and tasks) submitted inside
  * the call is attributed to it; a SparkListener accumulates jobs, tasks,
  * executor run time, shuffle, spill and scheduler delay per span, a
  * QueryExecutionListener sums the analysis/optimization/planning phases,
  * and the GC MXBeans give the collection time that fell inside the span.
  * Spans are kept in memory and summarized once at the end of the run.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val taskAgg = new ConcurrentHashMap[Long, TaskAgg]()
  private val planMs = new AtomicLong(0)
  private var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .foreach { s =>
          val id = s.toLong
          jobs.put(e.jobId, new JobRec(id, e.time))
          e.stageIds.foreach(st => stageSpan.putIfAbsent(st, id))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val a = taskAgg.computeIfAbsent(id, _ => new TaskAgg)
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      planMs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def enabled: Boolean = on

  /** Turn attribution on or off. Turning it off first drains the listener
    * bus, so no event of a traced call is dropped with the listener.
    */
  def setEnabled(v: Boolean): Unit = if (v != on) {
    if (v) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      org.apache.spark.BenchAccess.drain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    on = v
  }

  /** Run `f` as one span named `name`; a plain call while tracing is off. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId.incrementAndGet()
      sc.setLocalProperty(SpanProp, id.toString)
      val gc0 = gcMs()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        sc.setLocalProperty(SpanProp, null)
        spans += SpanRec(name, id, w0, w1, (t1 - t0) / 1e6, gcMs() - gc0)
      }
    }

  /** Planning time summed over the traced queries so far. */
  def planMsTotal(): Long = {
    if (on) org.apache.spark.BenchAccess.drain(sc)
    planMs.get
  }

  /** Per-span-name means per call of the nine counters, plus `planMs`
    * (from [[planMsTotal]]) per traced operation as `spark.plan_ms`.
    */
  def summary(names: Seq[String], tracedOps: Int,
              planMs: Long): Seq[(String, Double, String)] = {
    setEnabled(false)
    val jobsBySpan = jobs.values.asScala.groupBy(_.span)
    names.flatMap { name =>
      val recs = spans.filter(_.name == name)
      val n = math.max(recs.size, 1).toDouble
      var jobCount, tasks = 0L
      var taskMs, driverMs, shuffle, spill, gc, sched, ms = 0.0
      recs.foreach { r =>
        val js = jobsBySpan.getOrElse(r.id, Nil)
        val a = Option(taskAgg.get(r.id)).getOrElse(new TaskAgg)
        jobCount += js.size
        tasks += a.tasks
        taskMs += a.runMs
        shuffle += a.shuffleBytes
        spill += a.spillBytes
        sched += a.schedMs
        gc += r.gcMs
        ms += r.ms
        val busy = unionMs(js.map(j => (math.max(j.start, r.w0),
          math.min(if (j.end > 0) j.end else r.w1, r.w1))))
        driverMs += math.max(0.0, r.ms - busy)
      }
      Seq(
        (s"$name.ms", ms / n, "ms"),
        (s"$name.jobs", jobCount / n, "count"),
        (s"$name.tasks", tasks / n, "count"),
        (s"$name.task_ms", taskMs / n, "ms"),
        (s"$name.driver_ms", driverMs / n, "ms"),
        (s"$name.shuffle_bytes", shuffle / n, "bytes"),
        (s"$name.spill_bytes", spill / n, "bytes"),
        (s"$name.gc_ms", gc / n, "ms"),
        (s"$name.sched_ms", sched / n, "ms"))
    } :+ (("spark.plan_ms", planMs.toDouble / math.max(tracedOps, 1), "ms"))
  }
}

object Trace {
  val SpanProp = "bench.span"

  final case class SpanRec(name: String, id: Long, w0: Long, w1: Long,
                           ms: Double, gcMs: Long)
  final class JobRec(val span: Long, val start: Long) { @volatile var end = 0L }
  final class TaskAgg {
    var tasks = 0L
    var runMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var schedMs = 0L
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Iterable[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
