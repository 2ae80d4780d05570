package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's whole relational surface — Scan → Filter → Project
  * (CaseWhen/Floor/Round/Cast) → sink — as composable DataFrame transforms.
  * One function per SURVEY.md §2 operator row:
  *
  *   F1 [[dropAllNullMeasures]]  /root/reference/scripts/process_sales.py:38-40
  *   P1 [[imputeQuantity]]       /root/reference/scripts/process_sales.py:42-45
  *   P2 [[imputeTotal]]          /root/reference/scripts/process_sales.py:46-49
  *   P3 [[stampProcessedAt]]     /root/reference/scripts/process_sales.py:50-51
  *   P4 [[castFinal]]            /root/reference/scripts/process_sales.py:55-63
  *
  * Each stage is a pure `DataFrame => DataFrame`, so the whole pipeline stays
  * one narrow whole-stage-codegen span with no shuffle, and it scales
  * linearly with input splits at any data size. The exactly-once commit
  * ([[graft.sources.Sinks.appendBatchFileIdempotent]]) adds no shuffle for
  * a one-split CSV, so a landed file goes from scan to published file
  * without one; a CSV of several splits gets one `repartition(1)` exchange
  * there, to publish one file.
  */
object SalesClean {

  /** Input CSV schema, exactly as the reference declares it
    * (/root/reference/scripts/process_sales.py:25-32): all nullable.
    */
  val schema: StructType = StructType(Seq(
    StructField("product", StringType),
    StructField("price", DoubleType),
    StructField("quantity", IntegerType),
    StructField("total", DoubleType),
    StructField("ordered_at", TimestampType),
    StructField("delivery_at", TimestampType)))

  /** S1: header CSV scan with the explicit schema, PERMISSIVE (malformed
    * cells → null), matching /root/reference/scripts/process_sales.py:35.
    */
  def readCsv(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** S1 with an audit trail: PERMISSIVE parse that CAPTURES malformed lines
    * in a `_corrupt_record` column instead of silently nulling them away —
    * the reference pipeline has no bad-row story at all (a mangled line
    * becomes an all-null row that F1 quietly drops). Split with
    * [[corruptRows]] / [[cleanRows]]: quarantine the former, clean the
    * latter. The extra column costs nothing on well-formed rows (null) and
    * the scan is the same single pass.
    */
  def readCsvAudited(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .csv(path)

  /** The quarantine side of [[readCsvAudited]]: raw text of rows that did
    * not parse under the schema.
    */
  def corruptRows(df: DataFrame): DataFrame =
    df.filter(col("_corrupt_record").isNotNull).select("_corrupt_record")

  /** The clean side of [[readCsvAudited]]: parsed rows, audit column
    * dropped — pipe into [[clean]].
    */
  def cleanRows(df: DataFrame): DataFrame =
    df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")

  /** Typed row for the [[typed]] Dataset view (SURVEY §1.3): nullable
    * measures as Options, timestamps as java.sql.Timestamp. Use where
    * compile-time field safety matters (library consumers pattern-matching
    * rows); the transform pipeline itself stays in DataFrame ops so every
    * stage keeps whole-stage codegen (a typed `.map` would force
    * object (de)serialization per row).
    */
  final case class SalesRecord(product: String, price: Option[Double],
                               quantity: Option[Int], total: Option[Double],
                               ordered_at: java.sql.Timestamp,
                               delivery_at: java.sql.Timestamp)

  /** Dataset[SalesRecord] view of a (possibly dirty) sales DataFrame —
    * encoder-checked against [[schema]] at analysis time, so a column
    * drift fails loudly here instead of as a runtime NPE three stages
    * later.
    */
  def typed(df: DataFrame): org.apache.spark.sql.Dataset[SalesRecord] = {
    implicit val enc: org.apache.spark.sql.Encoder[SalesRecord] =
      org.apache.spark.sql.Encoders.product[SalesRecord]
    df.select(schema.fieldNames.map(col).toIndexedSeq: _*).as[SalesRecord]
  }

  /** F1: drop rows where quantity, price AND total are all NULL. */
  def dropAllNullMeasures(df: DataFrame): DataFrame =
    df.filter(!(col("quantity").isNull && col("price").isNull && col("total").isNull))

  /** P1: quantity := floor(total / price) when quantity is NULL. */
  def imputeQuantity(df: DataFrame): DataFrame =
    df.withColumn("quantity",
      when(col("quantity").isNull, floor(col("total") / col("price")))
        .otherwise(col("quantity")))

  /** P2: total := round(price * quantity, 2) when total is NULL (HALF_UP). */
  def imputeTotal(df: DataFrame): DataFrame =
    df.withColumn("total",
      when(col("total").isNull, round(col("price") * col("quantity"), 2))
        .otherwise(col("total")))

  /** P3: audit column; current_timestamp() is folded to one per-query value
    * by Catalyst's ComputeCurrentTime, same as the reference's behavior.
    */
  def stampProcessedAt(df: DataFrame): DataFrame =
    df.withColumn("processed_at", current_timestamp())

  /** P4: ordered projection with the narrowing casts the BigQuery schema
    * demands (price/total double→float, quantity →int).
    */
  def castFinal(df: DataFrame): DataFrame =
    df.select(
      col("product"),
      col("price").cast("float").as("price"),
      col("quantity").cast("int").as("quantity"),
      col("total").cast("float").as("total"),
      col("ordered_at").cast("timestamp").as("ordered_at"),
      col("delivery_at").cast("timestamp").as("delivery_at"),
      col("processed_at"))

  /** Full pipeline F1→P1→P2→P3→P4 (the reference job end-to-end). */
  def clean(df: DataFrame): DataFrame =
    castFinal(stampProcessedAt(imputeTotal(imputeQuantity(dropAllNullMeasures(df)))))

  /** Oracle-facing variant: same pipeline minus the wall-clock
    * `processed_at` column (non-deterministic, excluded from hash compare).
    */
  def cleanDeterministic(df: DataFrame): DataFrame =
    imputeTotal(imputeQuantity(dropAllNullMeasures(df)))
      .select(
        col("product"),
        col("price").cast("float").as("price"),
        col("quantity").cast("int").as("quantity"),
        col("total").cast("float").as("total"),
        col("ordered_at").cast("timestamp").as("ordered_at"),
        col("delivery_at").cast("timestamp").as("delivery_at"))
}
