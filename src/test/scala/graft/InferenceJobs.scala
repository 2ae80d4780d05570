package graft

import org.apache.spark.sql.SparkSession

/** Job detectors shared by the index specs. */
object InferenceJobs {

  /** Names of the parquet schema-inference jobs `body` launches: footer
    * reads run as a `parquet at …` job outside any SQL execution (writes
    * and collects carry an execution id).
    */
  def of(spark: SparkSession)(body: => Unit): Seq[String] =
    launched(spark)(body).collect {
      case (name, true) if name.startsWith("parquet at") => name
    }

  /** Every job `body` launches, in start order, as (first stage name,
    * outside any SQL execution). A marker job drains the listener: events
    * reach one listener in order.
    */
  def launched(spark: SparkSession)(body: => Unit): Seq[(String, Boolean)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    // (stage name, job description, outside any SQL execution)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Boolean)]()
    val marker = "inference-drain-" + System.nanoTime()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        seen.add((e.stageInfos.headOption.map(_.name).getOrElse(""),
          props.flatMap(p => Option(p.getProperty("spark.job.description"))).orNull,
          props.forall(_.getProperty("spark.sql.execution.id") == null)))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.asScala.exists(_._2 == marker) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(l)
    seen.asScala.toSeq.takeWhile(_._2 != marker).map { case (name, _, outside) => (name, outside) }
  }
}
