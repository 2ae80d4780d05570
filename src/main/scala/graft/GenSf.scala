package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: deterministic sf1-equivalent fixture from the sf0.1 tables.
  *
  *   sbt "runMain graft.GenSf /root/testdata/sf0.1 /tmp/graft-sf1 10"
  *
  * The driver ships fixtures only up to sf0.1 (~17 MB), where scan-bound
  * bench queries sit inside the host's ±10% noise band; this blows every
  * table up `mult`× with the realism rules below so the 2× bench gate can
  * be exercised outside the noise floor:
  *
  *  - fact/dim copies are RE-KEYED with consistent foreign-key offsets
  *    (more customers/orders/users — per-key group sizes stay constant,
  *    the cluster-realistic shape — and joins stay referentially intact);
  *  - document copies salt every token with a per-copy prefix so copies
  *    are NOT near-dups and shingle/vocab cardinality actually grows;
  *  - embedding copies are element-wise perturbed by a deterministic
  *    per-copy factor so they are distinct vectors, not exact dups;
  *  - region/nation stay fixed (TPC-H dims don't scale with sf).
  *
  * Copy 0 is the original data unchanged; everything is seed-free pure
  * arithmetic, so regeneration is byte-stable. Output goes OUTSIDE
  * /root/testdata (that tree is read-only by contract).
  */
object GenSf {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")

    /** `mult` copies with per-copy column rewrites, original dtypes kept. */
    def blow(df: DataFrame)(rewrite: (DataFrame, Int) => DataFrame): DataFrame = {
      val dtypes = df.schema.map(f => f.name -> f.dataType).toMap
      (0 until mult).map { i =>
        val out = if (i == 0) df else rewrite(df, i)
        out.select(df.columns.map(c => col(c).cast(dtypes(c)).as(c)).toIndexedSeq: _*)
      }.reduce(_ unionByName _)
    }

    val K = 10000000L   // entity-key offset per copy
    val O = 100000000L  // order-key offset per copy (10 rows per order)
    val E = 1000000000L // event-key offset per copy

    val out: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> blow(read("customer"))((d, i) =>
        d.withColumn("c_custkey", col("c_custkey") + lit(i * K))),
      "supplier" -> blow(read("supplier"))((d, i) =>
        d.withColumn("s_suppkey", col("s_suppkey") + lit(i * K))),
      "part" -> blow(read("part"))((d, i) =>
        d.withColumn("p_partkey", col("p_partkey") + lit(i * K))),
      "orders" -> blow(read("orders"))((d, i) =>
        d.withColumn("o_orderkey", col("o_orderkey") + lit(i * O))
          .withColumn("o_custkey", col("o_custkey") + lit(i * K))),
      "lineitem" -> blow(read("lineitem"))((d, i) =>
        d.withColumn("l_orderkey", col("l_orderkey") + lit(i * O))
          .withColumn("l_partkey", col("l_partkey") + lit(i * K))
          .withColumn("l_suppkey", col("l_suppkey") + lit(i * K))),
      "events" -> blow(read("events"))((d, i) =>
        d.withColumn("event_id", col("event_id") + lit(i * E))
          .withColumn("user_id", col("user_id") + lit(i * K))),
      "documents" -> blow(read("documents"))((d, i) =>
        d.withColumn("doc_id", col("doc_id") + lit(i * K))
          .withColumn("text", regexp_replace(col("text"), "(^| )", s"$$1c$i"))
          .withColumn("n_chars", length(col("text")))),
      "embeddings" -> blow(read("embeddings"))((d, i) =>
        d.withColumn("vec_id", col("vec_id") + lit(i * K))
          .withColumn("embedding", transform(col("embedding"), (x, j) =>
            (x * (lit(0.8) + pmod(xxhash64(col("vec_id") + j, lit(i)), lit(400))
              .cast("double") / 1000.0)).cast("float"))))
    )
    out.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"GENSF $t rows=${spark.read.parquet(s"$dst/$t.parquet").count()}")
    }
    spark.stop()
  }
}
