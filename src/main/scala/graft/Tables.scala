package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md /
  * FIXTURES.md §B). All loads are plain parquet scans so Catalyst gets
  * pushdown + pruning for free; no caching here — callers decide.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `documents` plus deterministic exact clones: every 50th doc re-keyed to
    * doc_id + 150000. The fixture corpus has no exact duplicates, so the
    * collapse behavior of exact-dedup operators would pass vacuously on it;
    * this derivation gives them positive cases. 150000 ≡ 0 (mod 3, 4, 8,
    * 50), so every doc_id-mod-derived attribute (e.g. the multimodal asset
    * kind/width/height) is identical between clone and original, and the
    * offset is far above any fixture doc_id. SQL twin:
    * [[DedupQueries.clonedDocsCte]].
    */
  def documentsWithClones(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    d.unionByName(d.filter(col("doc_id") % 50 === 0)
      .withColumn("doc_id", col("doc_id") + 150000L))
  }

  /** `embeddings` with deterministic planted defects, keyed on vec_id mods
    * (checked in precedence order, so each row has exactly one defect):
    * %97 → NULL vector, %89 → truncated to 32 dims, %83 → all-zero,
    * %79 → NaN in element 0. The fixture corpus is entirely clean, so the
    * [[graft.operators.Similarity.embeddingHealth]] gate would pass
    * vacuously on it; this derivation gives every counter a positive case.
    * SQL twin: SimilarityQueries `defectsCte`.
    */
  def embeddingsWithDefects(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    e.withColumn("embedding",
      when(col("vec_id") % 97 === 0, lit(null))
        .when(col("vec_id") % 89 === 0, slice(col("embedding"), 1, 32))
        .when(col("vec_id") % 83 === 0,
          transform(col("embedding"), _ => lit(0.0f)))
        .when(col("vec_id") % 79 === 0,
          concat(array(lit(Float.NaN)), slice(col("embedding"), 2, 63)))
        .otherwise(col("embedding")))
  }

  /** `documents` plus a deterministic dirty `url` column — the
    * web-provenance fixture for [[graft.operators.WebCuration]]. The corpus
    * tables carry no URLs, so the canonicalizer would have nothing real to
    * normalize; this derivation plants every mess the canonical form must
    * erase, keyed on doc_id mods: mixed-case schemes/hosts (`HTTPS`,
    * `WWW.`, `.Example.CO.UK`), default ports on their matching scheme
    * (%7), a load-bearing `:8080` (%11), trailing slashes (%2), tracking
    * params wrapped around keepers in unsorted order (%9 ≠ 0), and
    * fragments (%6). Hosts embed `source` as a subdomain label so
    * registered-domain grouping genuinely collapses subdomains. SQL twin:
    * [[WebQueries.urlsCte]].
    */
  def documentsWithUrls(spark: SparkSession, dir: String): DataFrame =
    withSyntheticUrl(documents(spark, dir))

  /** The dirty-URL law applied to any (doc_id, lang, source) table — split
    * out so blown-up or derived corpora get the same URLs.
    */
  def withSyntheticUrl(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    val scheme = when(id % 4 === 0, "HTTPS")
      .when(id % 4 === 1, "http").otherwise("https")
    val www = when(id % 3 === 0, "WWW.").otherwise("")
    val suffix = when(id % 5 === 0, "CO.UK")
      .when(id % 5 === 1, "ORG").otherwise("com")
    val port = when(id % 7 === 0,
        when(id % 4 === 1, ":80").otherwise(":443"))
      .when(id % 11 === 0, ":8080").otherwise("")
    val trail = when(id % 2 === 1, "/").otherwise("")
    val query = when(id % 9 === 0, "")
      .otherwise(concat(lit("?utm_source=feed&id="), ids,
        lit("&b=2&utm_campaign=Spring&a=1")))
    val frag = when(id % 6 === 0, "#Sec2").otherwise("")
    d.withColumn("url", concat(
      scheme, lit("://"), www, col("source"), lit("-"),
      (id % 13).cast("string"), lit(".Example."), suffix, port,
      lit("/Docs/"), col("lang"), lit("/"), ids, trail, query, frag))
  }

  /** `documents` lifted to a (doc_id, line_no, ws) LINE table under a
    * deterministic markup law — the fixture for line-shaped web-text
    * operators ([[graft.operators.TextAnalysis.gopherRules]], line-level
    * dedup). The corpus is a flat word stream with no line structure or
    * markup noise, so line-fraction rules would pass vacuously; this law
    * plants every artifact the rules must catch, keyed on (doc_id, line_no)
    * mods so the twin replays it exactly:
    *  - lines = consecutive 8-token windows of the whitespace tokens;
    *  - (3·doc_id + line_no) % 13 == 0 → the line's first word becomes the
    *    symbol `#` (markup/code noise);
    *  - (doc_id + line_no) % 7 == 0 → a `-` bullet token is prepended;
    *  - (doc_id + line_no) % 11 == 0 → a `...` ellipsis token is appended.
    * SQL twin: [[TextQueries.markupLinesCtes]].
    */
  def documentsAsMarkupLines(spark: SparkSession, dir: String): DataFrame =
    asMarkupLines(documents(spark, dir))

  /** The markup-line law applied to any (doc_id, text) table — split out so
    * blown-up or derived corpora line-ify the same way.
    */
  def asMarkupLines(d: DataFrame, lineWidth: Int = 8): DataFrame = {
    val w = lineWidth
    d.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          floor((size(col("toks")) - 1).cast("double") / w).cast("int")))
          .as("line_no"))
      .select(col("doc_id"), col("line_no"),
        slice(col("toks"), col("line_no") * w + 1, lit(w)).as("ws"))
      .withColumn("ws",
        when((col("doc_id") * 3 + col("line_no")) % 13 === 0,
          concat(array(lit("#")), slice(col("ws"), 2, w - 1)))
          .otherwise(col("ws")))
      .withColumn("ws",
        when((col("doc_id") + col("line_no")) % 7 === 0,
          concat(array(lit("-")), col("ws"))).otherwise(col("ws")))
      .withColumn("ws",
        when((col("doc_id") + col("line_no")) % 11 === 0,
          concat(col("ws"), array(lit("...")))).otherwise(col("ws")))
  }

  /** events.parquet has carried TIMESTAMP(NANOS) (older driver fixtures)
    * or micros with isAdjustedToUTC=false, which Spark 4 infers as
    * TIMESTAMP_NTZ; normalized here so downstream operators always see a
    * micros TimestampType `ts` column.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // session read nanos as long (spark.sql.legacy.parquet.nanosAsLong);
        // integer `div`, not `/` — double division loses ulps at 1e18 nanos
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // wall-clock micros; every session here pins
        // spark.sql.session.timeZone=UTC, so the cast is micros-identity
        // and matches the DuckDB oracle's naive read of the same file
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
}
