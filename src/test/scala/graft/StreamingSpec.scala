package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.SalesClean
import graft.sources.SalesFixture
import graft.streaming.Streams

case class SalesRow(product: String, price: java.lang.Double,
  quantity: java.lang.Integer, total: java.lang.Double,
  ordered_at: Timestamp, delivery_at: Timestamp)

/** Stream/batch parity: every streaming query must produce exactly the rows
  * its batch twin produces on the same input (the engine's contract — see
  * Streams scaladoc).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-stream").toString

  test("streaming clean pipeline equals batch clean on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val dirty = SalesFixture.fromLineitem(spark, sfDir).drop("sales_id")
      .as[SalesRow].collect()

    val input = MemoryStream[SalesRow]
    // two micro-batches to prove statelessness across batches
    val (b1, b2) = dirty.splitAt(dirty.length / 2)
    input.addData(b1.toSeq)

    val q = Streams.cleanStream(input.toDF())
      .writeStream.format("memory").queryName("clean_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("clean_stream").drop("processed_at")
    val batch = SalesClean.cleanDeterministic(
      SalesFixture.fromLineitem(spark, sfDir).drop("sales_id"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming CSV source applies the .csv glob and explicit schema") {
    val dir = tmpDir()
    val out = tmpDir(); val ckpt = tmpDir()
    // one good csv + one ignored non-csv file, as the reference's gate does
    val rows = Seq(
      "product,price,quantity,total,ordered_at,delivery_at",
      "Laptops,100.0,2,200.0,2024-01-01 00:00:00,2024-01-03 00:00:00",
      "Tablets,,,,2024-01-02 00:00:00,2024-01-04 00:00:00")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/batch1.csv"),
      rows.mkString("\n").getBytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/ignore.txt"),
      "product,price\nBad,1.0".getBytes)

    val q = Streams.salesSink(
      Streams.cleanStream(Streams.readSalesCsvStream(spark, dir)), out, ckpt).start()
    q.processAllAvailable()
    q.stop()

    val result = spark.read.parquet(out)
    // all-null-measure Tablets row dropped by F1; Laptops row survives
    assert(result.count() === 1)
    val r = result.select("product", "quantity").as[(String, Int)].head()
    assert(r === ("Laptops", 2))
  }

  test("streaming HLL sketch equals batch sketch; estimate from sink matches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val input = MemoryStream[(Timestamp, String, Long)]
    val evts = (0 until 300).map(i =>
      (Timestamp.valueOf(s"2024-01-01 00:${10 + i % 40}:00"), "click",
        (i % 120).toLong))
    input.addData(evts)

    val stream = Streams.hllSketchStream(
      input.toDF().toDF("ts", "event_type", "user_id"), "event_type",
      col("user_id"), "2 hours")
    val q = stream.writeStream.format("memory").queryName("hll_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(Seq((Timestamp.valueOf("2024-01-02 00:00:00"), "late", 0L)))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("hll_stream")
      .filter($"event_type" === "click")
      .select($"event_type", $"bkt", $"r")
    val batch = Sketches.hllSketch(
      evts.toDF("ts", "event_type", "user_id").filter($"event_type" === "click"),
      "event_type", $"user_id")
    // register rows byte-identical (one window here, so no regroup needed)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // estimate read off the SINK (the production path) ~ 120 true distinct
    val est = Sketches.hllEstimate(
        spark.table("hll_stream").filter($"event_type" === "click")
          .groupBy("event_type", "bkt").agg(max($"r").as("r")), "event_type")
      .select("est_2dp").as[Double].head()
    assert(math.abs(est - 120.0) / 120.0 < 0.13, s"est=$est")
  }

  test("streamed BM25 postings ingest: probe over the grown store equals from-scratch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter($"doc_id" % 3 === 0)
    val newRows = docs.filter($"doc_id" % 3 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val key = s"$sfDir#postings-stream-spec"
    Bm25.materializedPostings(key, base)
    val ckpt = java.nio.file.Files.createTempDirectory("bm25-ckpt").toString
    val input = MemoryStream[(Long, String)]
    input.addData(newRows.take(newRows.length / 2))
    val q = Streams.bm25IngestSink(input.toDF().toDF("doc_id", "text"),
      key, ckpt).start()
    q.processAllAvailable()
    input.addData(newRows.drop(newRows.length / 2))
    q.processAllAvailable()
    q.stop()
    // probe over the streamed-in store == from-scratch postings over all
    // rows ingested so far (df/dl/idf derive from the table — no model)
    val grown = Bm25.materializedPostings(key, base)
    val got = Bm25.topKAll(docs, Seq(0L).toDF("query_id"), 10,
      postings = Some(grown))
    val scratch = Bm25.topKAll(docs, Seq(0L).toDF("query_id"), 10)
    assert(got.exceptAll(scratch).isEmpty && scratch.exceptAll(got).isEmpty)
    // replaying batch 0's file delivery is a no-op (exactly-once)
    val before = grown.count()
    graft.operators.Bm25.appendPostings(key,
      docs.filter($"doc_id" % 3 === 1).limit(5), 0L)
    assert(Bm25.materializedPostings(key, base).count() === before)
  }

  test("streamed positional-postings ingest: phrase probe over the grown store equals from-scratch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter($"doc_id" % 3 === 0)
    val newRows = docs.filter($"doc_id" % 3 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    val key = s"$sfDir#pospostings-stream-spec"
    Bm25.materializedPositionalPostings(key, base)
    val ckpt = java.nio.file.Files.createTempDirectory("phrase-ckpt").toString
    val input = MemoryStream[(Long, String)]
    input.addData(newRows.take(newRows.length / 2))
    val q = Streams.phraseIngestSink(input.toDF().toDF("doc_id", "text"),
      key, ckpt).start()
    q.processAllAvailable()
    input.addData(newRows.drop(newRows.length / 2))
    q.processAllAvailable()
    q.stop()
    // phrase probe over the streamed-in store == from-scratch positional
    // postings over all rows ingested so far (positions are per-doc)
    val grown = Bm25.materializedPositionalPostings(key, base)
    val phrases = Bm25.topTrigramPhrases(grown, 3)
    val got = Bm25.phraseTopKAll(grown, phrases, 10)
    val scratch = Bm25.phraseTopKAll(Bm25.positionalPostings(docs), phrases, 10)
    assert(got.exceptAll(scratch).isEmpty && scratch.exceptAll(got).isEmpty)
    // replaying batch 0's file delivery is a no-op (exactly-once)
    val before = grown.count()
    Bm25.appendPositionalPostings(key,
      docs.filter($"doc_id" % 3 === 1).limit(5), 0L)
    assert(Bm25.materializedPositionalPostings(key, base).count() === before)
  }

  test("streaming CMS sketch: hour rows sum to the batch sketch; point query served") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches
    val input = MemoryStream[(Timestamp, String, Long)]
    // users across two hours — the rollup has real work to do
    val evts = (0 until 300).map(i =>
      (Timestamp.valueOf(s"2024-01-01 0${i % 2}:${10 + i % 40}:00"), "click",
        (i % 25).toLong))
    input.addData(evts)
    val stream = Streams.cmsSketchStream(
      input.toDF().toDF("ts", "event_type", "user_id"), "event_type",
      col("user_id"), "3 hours")
    val q = stream.writeStream.format("memory").queryName("cms_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(Seq((Timestamp.valueOf("2024-01-02 00:00:00"), "late", 0L)))
    q.processAllAvailable()
    q.stop()

    // per-hour counter rows SUM to the whole-corpus sketch (linear merge)
    val summed = Sketches.cmsMerge(Seq(
      spark.table("cms_stream").filter($"event_type" === "click")
        .select("event_type", "h", "c", "cnt")), "event_type")
    val batch = Sketches.cmsSketch(
      evts.toDF("ts", "event_type", "user_id")
        .filter($"event_type" === "click"),
      "event_type", $"user_id")
    assert(summed.exceptAll(batch).isEmpty && batch.exceptAll(summed).isEmpty)
    // point query off the summed sink: user 0 appears exactly 12 times
    val probes = Seq(("click", 0L)).toDF("event_type", "user_id")
    val est = Sketches.cmsLookup(summed, probes, "event_type", $"user_id")
      .select("est").as[Long].head()
    assert(est >= 12L, s"CMS undercounted: $est")
  }

  test("streaming gopher gate equals the batch rule suite") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val outDir = java.nio.file.Files.createTempDirectory("gopher-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("gopher-ckpt").toString
    val input = MemoryStream[(Long, String)]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.gopherGateSink(input.toDF().toDF("doc_id", "text"),
      Tables.asMarkupLines(_), outDir, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir)
    val batch = graft.operators.TextAnalysis.gopherRules(
      Tables.documentsAsMarkupLines(spark, sfDir))
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty)
    assert(got.filter($"keep" === 0L).count() > 0, "gate never fired")
  }

  test("streaming line dedup drops corpus-known lines, keeps batch-firsts once") {
    implicit val sqlCtx = spark.sqlContext
    // corpus owns the newsletter line; the batch repeats it (drop), brings
    // a new boilerplate repeated across batch docs (keep-first), and
    // unique content (keep)
    val corpusLines = Seq(
      (1L, 0, Seq("subscribe", "now", "fresh", "words")),
      (1L, 1, Seq("corpus", "content"))
    ).toDF("doc_id", "line_no", "ws")
    val batch = Seq(
      (100L, "subscribe now fresh words here"),
      (101L, "new footer line plus subscribe now"),
      (102L, "new footer line plus other text")
    ).toDF("doc_id", "text")
    val liner = (d: org.apache.spark.sql.DataFrame) => Tables.asMarkupLines(d, 4)
    val outDir = java.nio.file.Files.createTempDirectory("linededup-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("linededup-ckpt").toString
    val rows = batch.as[(Long, String)].collect().toSeq
    val input = MemoryStream[(Long, String)]
    input.addData(rows)
    val q = Streams.lineDedupSink(input.toDF().toDF("doc_id", "text"),
      corpusLines, liner, outDir, ckpt).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outDir)
    val direct = graft.operators.Dedup.dedupLinesAgainst(liner(batch), corpusLines)
    assert(got.exceptAll(direct).isEmpty && direct.exceptAll(got).isEmpty)
    val kept = got.select($"doc_id", $"kept_text").as[(Long, String)]
      .collect().toMap
    // corpus-known line dropped from 100; batch-internal repeat keeps its
    // first occurrence (101) and drops the second (102)
    assert(kept(100L) === "here")
    assert(kept(101L) === "new footer line plus subscribe now")
    assert(kept(102L) === "other text")
  }

  test("watermarked hourly agg equals batch hourly agg once all windows close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val evts = Seq(
      (Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.5),
      (Timestamp.valueOf("2024-01-01 00:50:00"), "click", 2.5),
      (Timestamp.valueOf("2024-01-01 01:10:00"), "view", 4.0))
    input.addData(evts)

    val stream = Streams.hourlyEventCounts(
      input.toDF().toDF("ts", "event_type", "value"), "2 hours")
    val q = stream.writeStream.format("memory").queryName("hourly_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    // advance the watermark far past every open window so they all emit
    input.addData(Seq((Timestamp.valueOf("2024-01-02 00:00:00"), "late", 0.0)))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("hourly_stream")
      .filter($"event_type" =!= "late")
      .select($"hour", $"event_type", $"n_events", $"sum_value")
    val batch = evts.toDF("ts", "event_type", "value")
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming session_window agg equals the batch session grouping") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val evts = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), 2.0), // same session
      (1L, Timestamp.valueOf("2024-01-01 01:00:00"), 4.0), // gap > 30m → new
      (2L, Timestamp.valueOf("2024-01-01 00:05:00"), 8.0))
    input.addData(evts)
    val q = input.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n"), col("v"))
      .writeStream.format("memory").queryName("sess_win_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(Seq((9L, Timestamp.valueOf("2024-01-02 00:00:00"), 0.0)))
    q.processAllAvailable() // watermark passes, all sessions emit
    q.stop()

    val streamed = spark.table("sess_win_stream").filter($"user_id" =!= 9L)
    val batch = evts.toDF("user_id", "ts", "value")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .select(col("user_id"), col("sw.start").as("session_start"), col("n"), col("v"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(streamed.count() === 3) // user1 × 2 sessions + user2 × 1
  }

  test("streaming dedup keeps one row per key within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    input.addData(Seq(
      ("a", Timestamp.valueOf("2024-01-01 00:00:00")),
      ("b", Timestamp.valueOf("2024-01-01 00:01:00")),
      ("a", Timestamp.valueOf("2024-01-01 00:02:00")))) // dup in-batch
    val q = Streams.dedupStream(
        input.toDF().toDF("k", "ts"), "k", "ts")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(Seq(
      ("a", Timestamp.valueOf("2024-01-01 00:03:00")), // dup across batches
      ("c", Timestamp.valueOf("2024-01-01 00:04:00"))))
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_stream").select("k").as[String]
      .collect().sorted
    assert(keys.toSeq === Seq("a", "b", "c"))
  }

  test("stateful sessionize matches the batch window sessionization") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    // user 1: 3 events, gap >30min between 2nd and 3rd → 2 sessions
    // user 2: 1 event → 1 session; split across two micro-batches
    input.addData(Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"))))

    val q = Streams.sessionize(
      input.toDF().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("update").start()
    q.processAllAvailable()
    input.addData(Seq(
      (1L, Timestamp.valueOf("2024-01-01 01:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 05:00:00"))))
    q.processAllAvailable()
    q.stop()

    // last update per user is the final state
    val finalRows = spark.table("sess_stream")
      .groupBy("user_id")
      .agg(max(struct($"n_events", $"n_sessions")).as("s"))
      .select($"user_id", $"s.n_events", $"s.n_sessions")
      .as[(Long, Long, Long)].collect()
      .map { case (u, e, s) => u -> ((e, s)) }.toMap
    assert(finalRows === Map(1L -> ((3L, 2L)), 2L -> ((1L, 1L))))
  }

  test("streaming trending terms equals batch windowed term counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 00:05:00"), "spark spark shuffle"),
      (Timestamp.valueOf("2024-01-01 00:40:00"), "spark codegen"),
      (Timestamp.valueOf("2024-01-01 01:10:00"), "shuffle shuffle plan"))
    input.addData(rows)
    val q = Streams.trendingTermsStream(input.toDF().toDF("ts", "text"))
      .writeStream.format("memory").queryName("trend_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    // close both windows
    input.addData(Seq((Timestamp.valueOf("2024-01-01 09:00:00"), "closer")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("trend_stream")
      .select("w_start", "token", "freq")
      .as[(Timestamp, String, Long)].collect().toSet
    val batch = rows.toDF("ts", "text")
      .select($"ts", explode(split($"text", " ")).as("token"))
      .groupBy(window($"ts", "1 hour").as("w"), $"token")
      .agg(count(lit(1)).as("freq"))
      .select($"w.start", $"token", $"freq")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(got === batch)
    assert(got.contains((Timestamp.valueOf("2024-01-01 00:00:00"), "spark", 3L)))
  }

  test("file sink + checkpoint: restart processes new data exactly once") {
    val in = java.nio.file.Files.createTempDirectory("graft-eo-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-eo-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-eo-ckpt").toString
    val header = "product,price,quantity,total,ordered_at,delivery_at"
    def drop(name: String, rows: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        (header +: rows).mkString("\n").getBytes)

    drop("b1.csv",
      "Laptops,1000.0,1,1000.0,2023-01-01 00:00:00,2023-01-02 00:00:00",
      "Tablets,500.0,2,1000.0,2023-01-01 01:00:00,2023-01-03 00:00:00")
    val q1 = Streams.salesSink(
      Streams.cleanStream(Streams.readSalesCsvStream(spark, in)), out, ckpt).start()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(out).count() === 2)

    // second batch lands while no query is running; a NEW query instance
    // resumes from the same checkpoint — batch 1 must NOT be re-emitted
    drop("b2.csv",
      "Headphones,200.0,3,600.0,2023-01-02 00:00:00,2023-01-04 00:00:00")
    val q2 = Streams.salesSink(
      Streams.cleanStream(Streams.readSalesCsvStream(spark, in)), out, ckpt).start()
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(out)
    assert(rows.count() === 3) // 2 + 1, exactly once across the restart
    assert(rows.select("product").as[String].collect().sorted.toSeq ===
      Seq("Headphones", "Laptops", "Tablets"))
  }

  test("stream-stream interval join equals the batch range join") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    // user 7: clicks at 00:10 and 00:50, purchase at 01:00 → both inside
    // the 1h window; click at 02:30 is outside any purchase window;
    // user 8: click after its purchase → excluded (c_ts <= p_ts)
    clicks.addData(Seq(
      (7L, Timestamp.valueOf("2024-01-01 00:10:00"), 101L),
      (7L, Timestamp.valueOf("2024-01-01 00:50:00"), 102L),
      (8L, Timestamp.valueOf("2024-01-01 03:00:00"), 103L)))
    purchases.addData(Seq(
      (7L, Timestamp.valueOf("2024-01-01 01:00:00"), 201L),
      (8L, Timestamp.valueOf("2024-01-01 02:00:00"), 202L)))
    val q = Streams.clickPurchaseJoinStream(
      clicks.toDF().toDF("user_id", "ts", "click_id"),
      purchases.toDF().toDF("user_id", "ts", "purchase_id"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    q.processAllAvailable()
    clicks.addData(Seq((7L, Timestamp.valueOf("2024-01-01 02:30:00"), 104L)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ss_join")
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
    // batch twin over the same rows
    val bc = Seq((7L, Timestamp.valueOf("2024-01-01 00:10:00"), 101L),
      (7L, Timestamp.valueOf("2024-01-01 00:50:00"), 102L),
      (8L, Timestamp.valueOf("2024-01-01 03:00:00"), 103L),
      (7L, Timestamp.valueOf("2024-01-01 02:30:00"), 104L))
      .toDF("user_id", "ts", "click_id")
    val bp = Seq((7L, Timestamp.valueOf("2024-01-01 01:00:00"), 201L),
      (8L, Timestamp.valueOf("2024-01-01 02:00:00"), 202L))
      .toDF("user_id", "pts", "purchase_id")
      // rebuild the [p_ts - 1h, p_ts] interval frame for pointInInterval
      .select(col("user_id"), (col("pts") - expr("INTERVAL 1 HOUR")).as("w_start"),
        col("pts").as("w_end"), col("purchase_id"))
    val batch = graft.operators.RangeJoin.pointInInterval(
        bc, bp, "user_id", "ts", "w_start", "w_end", Seq("purchase_id"))
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
    assert(got === batch)
    assert(got === Set((101L, 201L), (102L, 201L)))
  }

  test("foreachBatch upsert sink maintains keyed latest state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("graft-ups").toString + "/tbl"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ups-c").toString
    val input = MemoryStream[(Long, Long, String)]
    input.addData(Seq((1L, 1L, "a1"), (2L, 1L, "b1")))
    val q = Streams.upsertSink(
      input.toDF().toDF("id", "version", "payload"),
      table, ckpt, Seq("id"), "version").start()
    q.processAllAvailable()
    // batch 2: update key 1, insert key 3 — key 2 must survive untouched
    input.addData(Seq((1L, 2L, "a2"), (3L, 1L, "c1")))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(table)
      .as[(Long, Long, String)].collect().toSet
    assert(got === Set((1L, 2L, "a2"), (2L, 1L, "b1"), (3L, 1L, "c1")))
  }

  test("streaming seasonal anomaly flags the spike hour against the batch baseline") {
    implicit val sqlCtx = spark.sqlContext
    // history: 9 days, hod 3, counts cycling 4/5/6 -> mean 5, sigma > 0
    val hist = (0 until 9).flatMap { d =>
      (0 until (4 + d % 3)).map(i => ("a", java.sql.Timestamp.valueOf(
        f"2024-03-${d + 1}%02d 03:00:${i % 60}%02d")))
    }.toDF("event_type", "ts")
    val base = EventQueries.seasonalBaseline(hist)

    val input = MemoryStream[(String, Timestamp)]
    // day 10: hod 3 spikes to 15
    input.addData((0 until 15).map(i =>
      ("a", Timestamp.valueOf(f"2024-03-10 03:10:${i % 60}%02d"))))
    val q = Streams.seasonalAnomalyStream(
        input.toDF().toDF("event_type", "ts"), base)
      .writeStream.format("memory").queryName("seasonal_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(Seq(("late", Timestamp.valueOf("2024-03-11 00:00:00"))))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("seasonal_stream")
      .as[(String, Timestamp, Long, Double)].collect()
    assert(got.length === 1)
    val (et, hr, n, z) = got(0)
    assert(et === "a" && n === 15L &&
      hr === Timestamp.valueOf("2024-03-10 03:00:00"))
    // same pinned z spelling, driver-side, from the baseline stats
    val b = base.filter($"hod" === 3)
      .select($"nd", $"sv".cast("double"), $"sq".cast("double"))
      .as[(Long, Double, Double)].head()
    val mean = b._2 / b._1
    val sigma = math.sqrt(b._3 / b._1 - mean * mean)
    assert(z === math.floor((15 - mean) / sigma * 10000.0 + 0.5) / 10000.0)
  }

  test("streaming histogram rows sum to the batch log2 histogram") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Stats
    val input = MemoryStream[(Timestamp, String, Double)]
    val evts = (0 until 200).map(i =>
      (Timestamp.valueOf(s"2024-01-01 00:${10 + i % 40}:00"), "click",
        (i % 97) * 1.37))
    input.addData(evts)
    val q = Streams.histogramSketchStream(
        input.toDF().toDF("ts", "event_type", "value"), "event_type", "value")
      .writeStream.format("memory").queryName("hist_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(Seq((Timestamp.valueOf("2024-01-02 00:00:00"), "late", 0.0)))
    q.processAllAvailable()
    q.stop()
    // hour-level rows re-aggregate (mergeable) to the batch histogram
    val streamed = spark.table("hist_stream")
      .filter($"event_type" === "click")
      .groupBy("event_type", "bucket").agg(sum($"n").as("n"))
      .select($"bucket", $"n").as[(Int, Long)].collect().toMap
    val batch = Stats.log2Histogram(
        evts.toDF("ts", "event_type", "value"), "event_type", "value")
      .select($"bucket", $"n").as[(Int, Long)].collect().toMap
    assert(streamed === batch)
  }

  test("feature upsert sink converges to the batch feature table") {
    implicit val sqlCtx = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("graft-feat").toString + "/tbl"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-feat-c").toString
    val input = MemoryStream[(Long, Double)]
    val b1 = Seq((1L, 10.0), (2L, 5.0), (1L, 2.0))
    val b2 = Seq((2L, 1.0), (3L, 7.0)) // touches 2 (update) and 3 (new); 1 untouched
    input.addData(b1)
    val features = input.toDF().toDF("user_id", "value")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("cents"))
    val q = Streams.featureUpsertSink(features, table, ckpt, Seq("user_id"))
      .start()
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(table)
      .as[(Long, Long, Long)].collect().toSet
    val batch = (b1 ++ b2).toDF("user_id", "value")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100.0 + 0.5).cast("long")).as("cents"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got === batch)
    assert(got === Set((1L, 2L, 1200L), (2L, 2L, 600L), (3L, 1L, 700L)))
  }

  test("expectations sink appends a per-batch pass/fail quality history") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Profile
    val hist = java.nio.file.Files.createTempDirectory("graft-exp").toString + "/hist"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-exp-c").toString
    val input = MemoryStream[(Long, Option[Double])]
    input.addData(Seq((1L, Some(1.0)), (2L, Some(2.0)))) // clean batch
    val q = Streams.expectationsSink(
      input.toDF().toDF("id", "v"), hist, ckpt,
      b => Seq(Profile.expectNotNull(b, "v"),
        Profile.expectUnique(b, Seq("id")))).start()
    q.processAllAvailable()
    input.addData(Seq((3L, None), (3L, Some(4.0)))) // null + dup key
    q.processAllAvailable()
    q.stop()
    val h = spark.read.parquet(hist)
      .select("batch_id", "check", "violations", "status")
      .as[(Long, String, Long, String)].collect().toSet
    assert(h === Set(
      (0L, "not_null(v)", 0L, "pass"), (0L, "unique(id)", 0L, "pass"),
      (1L, "not_null(v)", 1L, "fail"), (1L, "unique(id)", 1L, "fail")))
  }

  test("stream-static outlier enrichment equals the batch z-score filter") {
    implicit val sqlCtx = spark.sqlContext
    // stats computed batch-side over the fixture (the corpus-derived side of
    // the stream-static join); the stream scores the same rows in two
    // micro-batches — output must equal the batch zOutliers verdicts
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = graft.operators.Stats.centStats(ev, "event_type", "value")
    val rows = ev.as[(Long, String, Double)].collect().toSeq

    val input = MemoryStream[(Long, String, Double)]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.outlierStream(
      input.toDF().toDF("event_id", "event_type", "value"), stats)
      .writeStream.format("memory").queryName("outlier_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("outlier_stream")
      .select("event_id").as[Long].collect().toSet
    val batch = graft.operators.Stats.zOutliers(ev, "event_type", "value")
      .select("event_id").as[Long].collect().toSet
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("stream-static MAD outlier filter equals the batch modified-z verdicts") {
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val medMad = graft.operators.Stats
      .madOutlierSummary(ev, "event_type", "value")
      .select("event_type", "med", "mad")
    val rows = ev.as[(Long, String, Double)].collect().toSeq

    val input = MemoryStream[(Long, String, Double)]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.madOutlierStream(
      input.toDF().toDF("event_id", "event_type", "value"), medMad)
      .writeStream.format("memory").queryName("mad_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("mad_stream")
      .select("event_id").as[Long].collect().toSet
    // batch reference: same snap, same guard, computed directly
    val mm = medMad.as[(String, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = rows.filter { case (_, t, v0) =>
      val (med, mad) = mm(t)
      val v = math.floor(v0 * 100.0 + 0.5) / 100.0
      mad > 0.0 && math.abs(0.6745 * (v - med) / mad) > 3.5
    }.map(_._1).toSet
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("streaming phash dedup matches brute force, exactly once per pair") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, sfDir)
    val corpus = Multimodal.withAHash(Multimodal.assetsFromDocuments(docs))
      .select(col("asset_id").as("corpus_id"), col("phash"))
    val cloneAssets = Multimodal.assetsFromDocuments(
      docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 150000L))
    val rows = cloneAssets.select("asset_id", "content")
      .as[(Long, Array[Byte])].collect().toSeq

    val input = MemoryStream[(Long, Array[Byte])]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.phashDupStream(
      input.toDF().toDF("asset_id", "content"), corpus)
      .writeStream.format("memory").queryName("phash_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("phash_stream")
      .as[(Long, Long, Int)].collect().toSeq
    val cloneHashes = Multimodal.withAHash(cloneAssets)
      .select("asset_id", "phash").as[(Long, Long)].collect()
    val corpusHashes = corpus.as[(Long, Long)].collect()
    val expected = (for {
      (aid, ha) <- cloneHashes
      (cid, hc) <- corpusHashes
      d = java.lang.Long.bitCount(ha ^ hc)
      if d <= 3 && aid != cid
    } yield (aid, cid, d)).toSet
    assert(got.toSet === expected)
    assert(got.size === expected.size, "pair emitted more than once")
    assert(expected.nonEmpty) // every clone finds its original at 0
  }

  test("streaming gap-fill emits zero rows for silent hours") {
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type").cast("string"), col("ts"))
      .as[(String, Timestamp)].collect().toSeq
      .sortBy(_._2.getTime)
    // a far-future sentinel of a third type pushes the watermark past every
    // real hour; its own hour stays unfinalized so it emits nothing
    val sentinelTs = new Timestamp(ev.map(_._2.getTime).max + 10L * 3600 * 1000)

    val input = MemoryStream[(String, Timestamp)]
    input.addData(ev.take(ev.length / 2))
    val q = Streams.gapFillHourlyStream(input.toDF().toDF("event_type", "ts"))
      .writeStream.format("memory").queryName("gapfill_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(ev.drop(ev.length / 2))
    q.processAllAvailable()
    input.addData(Seq(("zzz_sentinel", sentinelTs)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("gapfill_stream")
      .as[(Timestamp, String, Long)].collect().toSet

    // expected: per type, every hour from its first event to the watermark
    // frontier, zero-filled — trailing silent hours included
    val wmSec = (sentinelTs.getTime - 3600L * 1000) / 1000
    val bySec = ev.map { case (t, ts) => (t, ts.getTime / 1000 / 3600 * 3600) }
    val expected = bySec.map(_._1).distinct.flatMap { t =>
      val hs = bySec.filter(_._1 == t).map(_._2)
      val cnt = hs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      Iterator.iterate(hs.min)(_ + 3600).takeWhile(_ + 3600 <= wmSec)
        .map(h => (new Timestamp(h * 1000), t, cnt.getOrElse(h, 0L)))
    }.toSet
    assert(got === expected)
    assert(got.exists(_._3 == 0L), "no silent-hour zero rows emitted")
  }

  test("gap-fill state survives restart: no duplicate or lost hours") {
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-gf-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-gf-ckpt").toString
    val h0 = Timestamp.valueOf("2024-03-01 00:00:00")
    def at(hours: Int, min: Int) =
      new Timestamp(h0.getTime + hours * 3600_000L + min * 60_000L)

    val input = MemoryStream[(String, Timestamp)]
    input.addData(Seq(("a", at(0, 10)), ("a", at(0, 20)), ("a", at(2, 30))))
    def start() = Streams.gapFillHourlyStream(
      input.toDF().toDF("event_type", "ts"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    // watermark 01:30 → only hour 0 finalized
    assert(spark.read.parquet(out).count() === 1)

    // restart from the checkpoint; the sentinel pushes the watermark to
    // hour 11, finalizing hours 0..10 — hour 0 must NOT re-emit
    input.addData(Seq(("z", at(12, 0))))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    // RAW row count first: a Set would dedup a re-emitted hour and hide
    // exactly the double-emission this test exists to catch
    assert(spark.read.parquet(out).count() === 11)
    val got = spark.read.parquet(out)
      .as[(Timestamp, String, Long)].collect().toSet
    val expected = (0 to 10).map { h =>
      (at(h, 0), "a", h match { case 0 => 2L; case 2 => 1L; case _ => 0L })
    }.toSet
    assert(got === expected)
  }

  test("streaming semantic dedup equals batch SemDeDup pairs") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val model = graft.operators.Ivf.buildIndex(sfDir, emb)
    // replay the corpus's own vectors through the stream in two batches;
    // each must match exactly the batch pairs it participates in
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.semanticDupStream(
      input.toDF().toDF("vec_id", "embedding"), model, 0.4)
      .writeStream.format("memory").queryName("semdedup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("semdedup_stream")
      .select("vec_id", "corpus_id").as[(Long, Long)].collect().toSet
    val batch = graft.operators.Dedup.semanticDupPairs(emb, 0.4, sfDir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
      .flatMap(p => Seq(p, p.swap)).toSet // stream sees both directions
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("streaming index ingest grows the IVF index to the frozen-assignment union") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val model = graft.operators.Ivf.buildIndex(sfDir + "#ingest", base, nlist = 8)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ing-c").toString
    val rows = batch.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.codesIngestSink(
      input.toDF().toDF("vec_id", "embedding"), model, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    // the streamed-in index == one frozen assignment of base ∪ batch
    val stored = graft.operators.CodesIndex.readIndex(spark, model)
      .select($"vec_id", $"list".cast("int").as("list"))
    val expected = graft.operators.Ivf.index(emb, model.coarse.get.centroids)
      .select($"vec_id", $"list")
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
    // and the probe sees streamed vectors immediately
    val probed = graft.operators.Ivf.probe(model, emb, 0L, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    val exact = graft.operators.Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed === exact)
  }

  test("streamed documents embed in-flight and grow the self-fed index") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val base = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val model = graft.operators.Ivf.buildIndex(sfDir + "#embedingest",
      graft.operators.Embed.hashedTf(base), nlist = 8)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-eing-c").toString
    val rows = batch.select("doc_id", "text").as[(Long, String)].collect().toSeq

    val input = MemoryStream[(Long, String)]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.embedIngestSink(
      input.toDF().toDF("doc_id", "text"), model, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    // the streamed-in index == one frozen assignment of embed(base ∪ batch)
    val embAll = graft.operators.Embed.hashedTf(docs)
    val stored = graft.operators.CodesIndex.readIndex(spark, model)
      .select($"vec_id", $"list".cast("int").as("list"))
    val expected = graft.operators.Ivf.index(embAll, model.coarse.get.centroids)
      .select($"vec_id", $"list")
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
    // retrieval over the self-fed index sees the streamed docs exactly
    val qid = embAll.agg(min("vec_id")).head().getLong(0)
    val probed = graft.operators.Ivf.probe(model, embAll, qid, 10, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val exact = graft.operators.Similarity.topK(embAll, qid, 10)
      .as[(Long, Double)].collect().toSeq
    assert(probed === exact)
  }

  test("sharded streaming ingest routes rows to owning shards (≡ sharded batch build)") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val model = graft.operators.Ivf.buildShardedIndex(sfDir + "#shing",
      base, nShards = 3, nlist = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-shing-c").toString
    val rows = batch.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.ivfShardedIngestSink(
      input.toDF().toDF("vec_id", "embedding"), model, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    // per shard: stored rows == the frozen assignment of that shard's
    // hash slice of base ∪ batch (routing law = the build's own)
    model.shards.zipWithIndex.foreach { case (m, sh) =>
      val slice = emb.filter(graft.operators.Curation
        .hashBucket($"vec_id", model.nShards) === sh)
      val stored = graft.operators.CodesIndex.readIndex(spark, m)
        .select($"vec_id", $"list".cast("int").as("list"))
      val expected = graft.operators.Ivf.index(slice, m.coarse.get.centroids)
        .select($"vec_id", $"list")
      assert(stored.exceptAll(expected).isEmpty, s"shard $sh extra rows")
      assert(expected.exceptAll(stored).isEmpty, s"shard $sh missing rows")
    }
    // exhaustive fan-out over the grown sharded index ≡ brute force
    val probed = graft.operators.Ivf.probeSharded(model, emb, 0L, 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    val exact = graft.operators.Similarity.topK(emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(probed === exact)
  }

  test("streamed documents chunk + embed in-flight and grow the chunk index") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val (model, _) = graft.operators.CorpusIndex.buildChunkIndex(
      sfDir + "#chunking", base, nlist = 8)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ching-c").toString
    val rows = batch.as[(Long, String)].collect().toSeq

    val input = MemoryStream[(Long, String)]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.chunkEmbedIngestSink(
      input.toDF().toDF("doc_id", "text"), model, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    // streamed chunk index == one frozen assignment of chunkEmbed(base ∪ batch)
    val embAll = graft.operators.CorpusIndex.chunkEmbeddings(docs)
    val stored = graft.operators.CodesIndex.readIndex(spark, model)
      .select($"vec_id", $"list".cast("int").as("list"))
    val expected = graft.operators.Ivf.index(embAll, model.coarse.get.centroids)
      .select($"vec_id", $"list")
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
    // chunk-granular retrieval sees the streamed documents' chunks exactly
    val probed = graft.operators.Ivf.probe(model, embAll, 0L, 10, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val exact = graft.operators.Similarity.topK(embAll, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(probed === exact)
  }

  /** Run `body` with `other`, another writer, committing on the table at
    * `root` from the same version as the first commit that reaches its
    * `"staged"` point: that commit must lose.
    */
  private def racedAtStaged(root: String)(other: => Unit)(body: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val path = new org.apache.hadoop.fs.Path(root)
    graft.sources.Sinks.crashPoint = (p, d) =>
      if (p == "staged" && d == path && fired.compareAndSet(false, true)) other
    try body finally graft.sources.Sinks.crashPoint = (_, _) => ()
    assert(fired.get, s"no commit on $root reached its staged point")
  }

  /** Run the started sink `q` and expect its micro-batch to fail with a
    * ConcurrentWriterException in the cause chain.
    */
  private def expectConcurrentWriter(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      if (q.exception.isDefined) throw q.exception.get
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(
        _.isInstanceOf[graft.sources.Sinks.ConcurrentWriterException]),
      s"expected ConcurrentWriterException in cause chain, got: $e")
    q.stop()
  }

  for (sink <- Seq("codes", "auto", "sharded"))
    test("a second concurrent ingest writer on one index fails safe (snapshot commit" +
        (if (sink == "codes") ")" else s", $sink sink)")) {
      implicit val sqlCtx = spark.sqlContext
      import graft.operators.{CodesIndex, Ivf}
      val emb = Tables.embeddings(spark, sfDir)
      val base = emb.filter($"vec_id" % 5 =!= 0)
      val winner = emb.filter($"vec_id" % 10 === 5)
      type Start = (org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]
      val (indexes, start, win): (Seq[Ivf.IvfModel], Start, () => Unit) = sink match {
        case "sharded" =>
          val m = Ivf.buildShardedIndex(sfDir + "#race-sharded", base, nShards = 2, nlist = 4)
          (m.shards, Streams.ivfShardedIngestSink(_, m, _),
            () => CodesIndex.appendToShardedIndexIdempotent(m, winner, 1000L))
        case _ =>
          val m = Ivf.buildIndex(sfDir + s"#race-$sink", base, nlist = 8)
          (Seq(m), if (sink == "auto") Streams.ivfIngestSinkAuto(_, m, _,
              compactAboveFiles = 2, rebalanceAboveRatio = 1.01)
            else Streams.codesIngestSink(_, m, _),
            () => CodesIndex.appendToIndexIdempotent(m, winner, 1000L))
      }
      def ids() = indexes.flatMap(m => CodesIndex.readIndex(spark, m)
        .select("vec_id").as[Long].collect()).toSet
      def count() = indexes.map(CodesIndex.readIndex(spark, _).count()).sum
      val before = ids()
      val winnerIds = winner.select("vec_id").as[Long].collect().toSet
      val ckpt = java.nio.file.Files.createTempDirectory("graft-race-c").toString
      val rows = emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding")
        .as[(Long, Seq[Float])].collect().toSeq
      // another writer commits from the version the stream's batch read: the
      // batch fails LOUDLY at its commit, and only the winner's rows land
      racedAtStaged(indexes.head.indexPath)(win()) {
        val input = MemoryStream[(Long, Seq[Float])]
        input.addData(rows)
        expectConcurrentWriter(start(input.toDF().toDF("vec_id", "embedding"), ckpt).start())
      }
      assert(ids() === before ++ winnerIds, "the losing batch must not reach the index")
      // a restart on the same checkpoint replays the batch and lands it once
      val input2 = MemoryStream[(Long, Seq[Float])]
      input2.addData(rows)
      val q2 = start(input2.toDF().toDF("vec_id", "embedding"), ckpt).start()
      q2.processAllAvailable()
      assert(q2.exception.isEmpty, s"replay after the lost commit failed: ${q2.exception}")
      q2.stop()
      assert(ids() === before ++ winnerIds ++ rows.map(_._1))
      assert(count() === before.size + winnerIds.size + rows.size)
    }

  for (positional <- Seq(false, true))
    test(s"a second concurrent ${if (positional) "positional-postings" else "postings"} " +
        "writer fails safe (snapshot commit)") {
      implicit val sqlCtx = spark.sqlContext
      import graft.operators.Bm25
      val docs = Tables.documents(spark, sfDir)
      val key = s"$sfDir#postings-race-spec-$positional"
      def store(k: String, d: org.apache.spark.sql.DataFrame) =
        if (positional) Bm25.materializedPositionalPostings(k, d)
        else Bm25.materializedPostings(k, d)
      def rowsOf(k: String, d: org.apache.spark.sql.DataFrame) =
        store(k, d).collect().map(_.toSeq).toSet
      val base = docs.filter($"doc_id" % 3 === 0)
      store(key, base)
      val path = (if (positional) Bm25.posStorePath(key) else Bm25.storePath(key)).get
      val winner = docs.filter($"doc_id" % 3 === 2)
      def append(d: org.apache.spark.sql.DataFrame, b: Long) =
        if (positional) Bm25.appendPositionalPostings(key, d, b)
        else Bm25.appendPostings(key, d, b)
      def start(d: org.apache.spark.sql.DataFrame, ckpt: String) =
        if (positional) Streams.phraseIngestSink(d, key, ckpt)
        else Streams.bm25IngestSink(d, key, ckpt)
      val rows = docs.filter($"doc_id" % 3 === 1)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      val ckpt = java.nio.file.Files.createTempDirectory("bm25-race-c").toString
      racedAtStaged(path)(append(winner, 1000L)) {
        val input = MemoryStream[(Long, String)]
        input.addData(rows)
        expectConcurrentWriter(start(input.toDF().toDF("doc_id", "text"), ckpt).start())
      }
      assert(rowsOf(key, base) === rowsOf(key + "#scratch", docs.filter($"doc_id" % 3 =!= 1)),
        "the losing batch must not reach the store")
      val input2 = MemoryStream[(Long, String)]
      input2.addData(rows)
      val q2 = start(input2.toDF().toDF("doc_id", "text"), ckpt).start()
      q2.processAllAvailable()
      assert(q2.exception.isEmpty, s"replay after the lost commit failed: ${q2.exception}")
      q2.stop()
      assert(rowsOf(key, base) === rowsOf(key + "#scratch", docs))
      assert(store(key, base).count() === store(key + "#scratch", docs).count())
    }

  test("streaming PQ ingest grows the codes table to the frozen-encode union") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val model = graft.operators.Pq.buildIndex(sfDir + "#ingest", base)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pqi-c").toString
    val rows = batch.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.codesIngestSink(
      input.toDF().toDF("vec_id", "embedding"), model, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    val stored = graft.operators.CodesIndex.readIndex(spark, model)
    val expected = graft.operators.CodesIndex.encode(model, emb)
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
  }

  test("auto-compacting ingest keeps file counts bounded over a long stream") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batchRows = emb.filter($"vec_id" % 5 === 0)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val model = graft.operators.Ivf.buildIndex(sfDir + "#autocompact", base,
      nlist = 8)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ac-c").toString

    // 12 micro-batches, auto-compaction armed at 3 files/list: without it
    // each touched list would accumulate up to 12 ingest files
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streams.codesIngestSink(
      input.toDF().toDF("vec_id", "embedding"), model, ckpt,
      compactAboveFiles = 3).start()
    batchRows.grouped(math.max(1, batchRows.length / 12)).foreach { chunk =>
      input.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()

    // bounded file counts: compaction folds each list back under the
    // threshold, so no list can exceed threshold + 1 (one fresh batch file)
    val perList = FileSnapshots.named(spark, model.indexPath).keys
      .groupBy(_.split("/")(0)).values.map(_.size).toSeq
    assert(perList.nonEmpty && perList.max <= 4,
      s"auto-compaction failed to bound file counts: $perList")

    // content parity through all the folds: stored == frozen re-assignment
    val stored = graft.operators.CodesIndex.readIndex(spark, model)
      .select($"vec_id", $"list".cast("int").as("list"))
    val expected = graft.operators.Ivf.index(emb, model.coarse.get.centroids)
      .select($"vec_id", $"list")
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
  }

  test("streaming takedown sink: deleted ids vanish from probes, replays are no-ops") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val model = graft.operators.Ivf.buildIndex(sfDir + "#delsink", emb, nlist = 8)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ds-c").toString
    val doomed = emb.filter($"vec_id" % 9 === 1)
      .select("vec_id").as[Long].collect().toSeq

    val input = MemoryStream[Long]
    input.addData(doomed.take(doomed.length / 2))
    val q = Streams.codesDeleteSink(
      input.toDF().toDF("vec_id"), model, ckpt).start()
    q.processAllAvailable()
    input.addData(doomed.drop(doomed.length / 2))
    q.processAllAvailable()
    q.stop()

    val got = graft.operators.Ivf.probe(model, emb, 0L, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.forall(_ % 9 != 1), "streamed delete not masking probes")
    val exact = graft.operators.Similarity.topK(
        emb.filter($"vec_id" % 9 =!= 1 || $"vec_id" === 0L), 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact, "masked probe diverged from survivor brute force")
  }

  test("PQ and IVF-PQ takedown sinks match their batch delete verb bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val doomed = emb.filter($"vec_id" % 9 === 1)
      .select("vec_id").as[Long].collect().toSeq

    // builds are deterministic, so a second index with the same params over
    // the same corpus is identical — the batch-path twin for exact parity
    val pqS = graft.operators.Pq.buildIndex(sfDir + "#pqdelsink", emb)
    val pqB = graft.operators.Pq.buildIndex(sfDir + "#pqdelbatch", emb)
    graft.operators.CodesIndex.deleteFromIndex(pqB,
      emb.filter($"vec_id" % 9 === 1).select("vec_id"), batchId = 0L)
    val pin = MemoryStream[Long]
    pin.addData(doomed.take(doomed.length / 2))
    val pq1 = Streams.codesDeleteSink(pin.toDF().toDF("vec_id"), pqS,
      java.nio.file.Files.createTempDirectory("graft-pds-c").toString).start()
    pq1.processAllAvailable()
    pin.addData(doomed.drop(doomed.length / 2))
    pq1.processAllAvailable()
    pq1.stop()
    val pGot = graft.operators.CodesIndex.probe(pqS, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(pGot.map(_._1).forall(_ % 9 != 1), "PQ streamed delete not masking")
    assert(pGot === graft.operators.CodesIndex.probe(pqB, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq, "PQ stream/batch delete diverged")

    val ipS = graft.operators.IvfPq.buildIndex(sfDir + "#ipdelsink", emb)
    val ipB = graft.operators.IvfPq.buildIndex(sfDir + "#ipdelbatch", emb)
    graft.operators.CodesIndex.deleteFromIndex(ipB,
      emb.filter($"vec_id" % 9 === 1).select("vec_id"), batchId = 0L)
    val iin = MemoryStream[Long]
    iin.addData(doomed)
    val ip1 = Streams.codesDeleteSink(iin.toDF().toDF("vec_id"), ipS,
      java.nio.file.Files.createTempDirectory("graft-ids-c").toString).start()
    ip1.processAllAvailable()
    ip1.stop()
    val iGot = graft.operators.CodesIndex.probe(ipS, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(iGot.map(_._1).forall(_ % 9 != 1),
      "IVF-PQ streamed delete not masking")
    assert(iGot === graft.operators.CodesIndex.probe(ipB, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq,
      "IVF-PQ stream/batch delete diverged")
  }

  test("auto-rebalancing ingest keeps the list ratio bounded under skewed drift") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = graft.operators.Ivf.buildIndex(sfDir + "#autorebal", base,
      nlist = 8)
    // drift stream: every batch clones the SAME list's vectors (re-keyed),
    // the shape that defeats a frozen quantizer's pruning
    val assigned = graft.operators.Ivf.index(emb, model.coarse.get.centroids)
    val hotList = assigned.groupBy("list").count()
      .orderBy(org.apache.spark.sql.functions.desc("count"), $"list")
      .first().getInt(0)
    val hotRows = assigned.filter($"list" === hotList)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ar-c").toString

    val input = MemoryStream[(Long, Seq[Float])]
    val q = Streams.ivfIngestSinkAuto(
      input.toDF().toDF("vec_id", "embedding"), model, ckpt,
      rebalanceAboveRatio = 2.0).start()
    (1 to 6).foreach { i =>
      input.addData(hotRows.map { case (id, e) => (id + i * 10000000L, e) })
      q.processAllAvailable()
    }
    q.stop()

    // drift absorbed: the persisted model grew lists and the ratio is bounded
    val m2 = graft.operators.CodesIndex.currentModel(spark, model)
    assert(m2.coarse.get.centroids.length > model.coarse.get.centroids.length, "no split happened")
    val listSizes = graft.operators.CodesIndex.readIndex(spark, model)
      .groupBy("list").count().as[(Int, Long)].collect().map(_._2)
    val ratio = listSizes.max.toDouble / (listSizes.sum.toDouble / listSizes.length)
    assert(ratio <= 4.0, s"ratio unbounded under drift: $ratio")
    // content intact: every ingested vector present exactly once
    val stored = graft.operators.CodesIndex.readIndex(spark, model).select("vec_id")
      .as[Long].collect().sorted
    val expected = (base.select("vec_id").as[Long].collect() ++
      (1 to 6).flatMap(i => hotRows.map(_._1 + i * 10000000L))).sorted
    assert(stored.toSeq === expected.toSeq, "row set diverged under auto-rebalance")
    // probes with the CURRENT model equal brute force over everything
    // ingested, at exhaustive nprobe — splits never changed an answer
    val clones = (1 to 6).flatMap(i =>
      hotRows.map { case (id, e) => (id + i * 10000000L, e) })
      .toDF("vec_id", "embedding")
    val survivors = base.select("vec_id", "embedding")
      .unionByName(clones)
      .unionByName(emb.filter($"vec_id" === 0L).select("vec_id", "embedding"))
    val exact = graft.operators.Similarity.topK(survivors, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val got = graft.operators.Ivf.probe(m2, emb, 0L, 10,
        nprobe = m2.coarse.get.centroids.length)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact, "evolved-index probe diverged from brute force")
  }

  test("streaming IVF probe equals the batch probe per query") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val model = graft.operators.Ivf.buildIndex(sfDir, emb)
    val out = java.nio.file.Files.createTempDirectory("graft-ivfp").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivfp-c").toString
    val rows = emb.filter($"vec_id" < 6)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(3))
    val q = Streams.ivfProbeSink(
      input.toDF().toDF("vec_id", "embedding"), model, out, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(3))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(got.keySet === (0L until 6L).toSet)
    (0L until 6L).foreach { qid =>
      val batch = graft.operators.Ivf.probe(model, emb, qid, 10)
        .as[(Long, Double)].collect().toSet
      assert(got(qid) === batch, s"query $qid diverged from batch probe")
    }
  }

  test("streaming two-stage probe equals the single-query indexed two-stage per query") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val docEmb = graft.operators.Embed.hashedTf(docs)
    val docModel = graft.operators.Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = graft.operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val out = java.nio.file.Files.createTempDirectory("graft-tsp").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-tsp-c").toString
    val rows = docEmb.filter($"vec_id" < 4)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(2))
    val q = Streams.twoStageProbeSink(
      input.toDF().toDF("vec_id", "embedding"), docModel, chunkModel,
      out, ckpt, coarseK = 5, k = 10).start()
    q.processAllAvailable()
    input.addData(rows.drop(2))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .select("query_id", "vec_id", "parent_id", "cosine", "rn")
      .as[(Long, Long, Long, Option[Double], Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._5).map(r => (r._2, r._3, r._4)).toSeq).toMap
    assert(got.keySet === (0L until 4L).toSet)
    (0L until 4L).foreach { qid =>
      val batch = graft.operators.Similarity.topKTwoStageIvf(docModel,
          docEmb, chunkModel, qid, coarseK = 5, k = 10)
        .as[(Long, Long, Option[Double])].collect().toSeq
      assert(got(qid) === batch, s"query $qid diverged from batch two-stage")
    }
  }

  test("streaming phrase probe equals the batch positional intersection per phrase") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir)
    val post = Bm25.materializedPositionalPostings(
      sfDir + "#pospost-sink-spec", docs)
    val phrases = Bm25.topTrigramPhrases(post, 3)
      .as[(Long, Long, String, Long)].collect().toSeq
    val out = java.nio.file.Files.createTempDirectory("graft-php").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-php-c").toString

    val input = MemoryStream[(Long, Long, String, Long)]
    input.addData(phrases.filter(_._1 <= 2L)) // phrases 1-2 in batch 0
    val q = Streams.phraseProbeSink(
      input.toDF().toDF("phrase_id", "ppos", "term", "plen"), post,
      out, ckpt, k = 5).start()
    q.processAllAvailable()
    input.addData(phrases.filter(_._1 === 3L)) // phrase 3 in batch 1
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .select("phrase_id", "doc_id", "n_occurrences", "rn")
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    val batch = Bm25.phraseTopKAll(post,
        Bm25.topTrigramPhrases(post, 3), 5)
      .select("phrase_id", "doc_id", "n_occurrences", "rn")
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    (1L to 3L).foreach { pid =>
      assert(got(pid) === batch(pid), s"phrase $pid diverged from batch")
    }
  }

  test("streaming raw-text probe equals the vector two-stage per query") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val docEmb = graft.operators.Embed.hashedTf(docs)
    val docModel = graft.operators.Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = graft.operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val out = java.nio.file.Files.createTempDirectory("graft-txp").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-txp-c").toString
    // queries arrive as TEXT — corpus docs' texts, so the in-flight embed
    // must reproduce the stored vectors and the results must equal the
    // vector path's bit-for-bit (the raw-text serving law, streamed)
    val rows = docs.filter($"doc_id" < 4)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq

    val input = MemoryStream[(Long, String)]
    input.addData(rows.take(2))
    val q = Streams.textProbeSink(
      input.toDF().toDF("doc_id", "text"), docModel, chunkModel,
      out, ckpt, coarseK = 5, k = 10).start()
    q.processAllAvailable()
    input.addData(rows.drop(2))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .select("query_id", "vec_id", "parent_id", "cosine", "rn")
      .as[(Long, Long, Long, Option[Double], Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._5).map(r => (r._2, r._3, r._4)).toSeq).toMap
    assert(got.keySet === (0L until 4L).toSet)
    (0L until 4L).foreach { qid =>
      val batch = graft.operators.Similarity.topKTwoStageIvf(docModel,
          docEmb, chunkModel, qid, coarseK = 5, k = 10)
        .as[(Long, Long, Option[Double])].collect().toSeq
      assert(got(qid) === batch, s"text query $qid diverged from vector path")
    }
  }

  test("streaming hybrid probe equals the batch indexed hybrid per query") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir)
    val docEmb = graft.operators.Embed.hashedTf(docs)
    val docModel = graft.operators.Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val post = Bm25.materializedPostings(sfDir + "#postings-hyb-spec", docs)
    val out = java.nio.file.Files.createTempDirectory("graft-hyb").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hyb-c").toString

    val input = MemoryStream[Long]
    input.addData(Seq(0L, 2L))
    val q = Streams.hybridProbeSink(
      input.toDF().toDF("query_id"), docs, docModel, docEmb, post,
      out, ckpt).start()
    q.processAllAvailable()
    input.addData(Seq(5L))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    assert(got.keySet === Set(0L, 2L, 5L))
    val batch = Bm25.hybridTopKIvf(docs, docModel, docEmb,
        Seq(0L, 2L, 5L).toDF("query_id"), 10, postings = Some(post))
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    Seq(0L, 2L, 5L).foreach { qid =>
      assert(got(qid) === batch(qid), s"query $qid diverged")
    }
  }

  test("streaming MaxSim rerank equals the single-query rerank per query") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir)
    val post = Bm25.materializedPostings(sfDir + "#postings-rrk-spec", docs)
    val out = java.nio.file.Files.createTempDirectory("graft-rrk").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rrk-c").toString

    val input = MemoryStream[Long]
    input.addData(Seq(0L))
    val q = Streams.rerankProbeSink(
      input.toDF().toDF("query_id"), docs, post, out, ckpt).start()
    q.processAllAvailable()
    input.addData(Seq(5L))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    assert(got.keySet === Set(0L, 5L))
    Seq(0L, 5L).foreach { qid =>
      val single = Bm25.maxSimRerank(docs, qid, 5, postings = Some(post))
        .as[(Long, Long, Int)].collect().toSeq
        .sortBy(_._3).map(r => (r._1, r._2))
      assert(got(qid) === single, s"query $qid diverged")
    }
  }

  test("streaming hybrid RAG serve equals the single-query hybrid rag per query") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir)
    val docEmb = graft.operators.Embed.hashedTf(docs)
    val docModel = graft.operators.Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = graft.operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val texts = graft.operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
      .select(graft.operators.CorpusIndex.chunkKey($"doc_id", $"chunk_no")
        .as("vec_id"), $"chunk_text")
    val post = Bm25.materializedPostings(sfDir + "#postings-hrs-spec", docs)
    val out = java.nio.file.Files.createTempDirectory("graft-hrs").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hrs-c").toString

    val input = MemoryStream[Long]
    input.addData(Seq(0L))
    val q = Streams.hybridRagServeSink(
      input.toDF().toDF("query_id"), docs, docModel, docEmb, chunkModel,
      texts, post, out, ckpt, coarseK = 5, poolK = 10,
      tokenBudget = 300L).start()
    q.processAllAvailable()
    input.addData(Seq(5L))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .select("query_id", "rn", "vec_id", "parent_id", "cosine",
        "n_tokens", "cum_tokens", "chunk_text")
      .as[(Long, Long, Long, Long, Option[Double], Long, Long, String)]
      .collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2)
        .map(r => (r._2, r._3, r._4, r._5, r._6, r._7, r._8)).toSeq).toMap
    assert(got.keySet === Set(0L, 5L))
    Seq(0L, 5L).foreach { qid =>
      val single = Bm25.ragContextHybrid(docs, docModel, docEmb, chunkModel,
          texts, qid, coarseK = 5, poolK = 10, tokenBudget = 300L,
          postings = Some(post))
        .as[(Long, Long, Long, Option[Double], Long, Long, String)]
        .collect().toSeq
      assert(got.getOrElse(qid, Seq.empty) === single, s"query $qid diverged")
    }
  }

  test("streaming raw-text RAG serve equals the single-text rag per query") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val docEmb = graft.operators.Embed.hashedTf(docs)
    val docModel = graft.operators.Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = graft.operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val texts = graft.operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
      .select(graft.operators.CorpusIndex.chunkKey($"doc_id", $"chunk_no")
        .as("vec_id"), $"chunk_text")
    val out = java.nio.file.Files.createTempDirectory("graft-rgt").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rgt-c").toString
    val qs = Seq((-1L, "fast vector scan query"),
      (-2L, "columnar storage layout"))

    val input = MemoryStream[(Long, String)]
    input.addData(Seq(qs.head))
    val q = Streams.ragServeTextSink(
      input.toDF().toDF("doc_id", "text"), docModel, chunkModel, texts,
      out, ckpt, coarseK = 5, poolK = 10, tokenBudget = 300L).start()
    q.processAllAvailable()
    input.addData(Seq(qs(1)))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .select("query_id", "rn", "vec_id", "parent_id", "cosine",
        "n_tokens", "cum_tokens", "chunk_text")
      .as[(Long, Long, Long, Long, Option[Double], Long, Long, String)]
      .collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2)
        .map(r => (r._2, r._3, r._4, r._5, r._6, r._7, r._8)).toSeq).toMap
    assert(got.keySet === Set(-1L, -2L))
    qs.foreach { case (qid, text) =>
      val single = graft.operators.Similarity.ragContextIvfText(spark,
          docModel, chunkModel, texts, text, coarseK = 5, poolK = 10,
          tokenBudget = 300L)
        .as[(Long, Long, Long, Option[Double], Long, Long, String)]
        .collect().toSeq
      assert(got.getOrElse(qid, Seq.empty) === single, s"text $qid diverged")
    }
  }

  test("streaming RM3 probe equals the single-query RM3 per query") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir)
    val post = Bm25.materializedPostings(sfDir + "#postings-rm3-spec", docs)
    val out = java.nio.file.Files.createTempDirectory("graft-rm3").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rm3-c").toString

    val input = MemoryStream[Long]
    input.addData(Seq(0L))
    val q = Streams.rm3ProbeSink(
      input.toDF().toDF("query_id"), docs, post, out, ckpt).start()
    q.processAllAvailable()
    input.addData(Seq(5L))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    assert(got.keySet === Set(0L, 5L))
    Seq(0L, 5L).foreach { qid =>
      val single = Bm25.topKRm3(docs, qid, 10, postings = Some(post))
        .as[(Long, Long, Int)].collect().toSeq
        .sortBy(_._3).map(r => (r._1, r._2))
      assert(got(qid) === single, s"query $qid diverged")
    }
  }

  test("streaming RAG serve equals the single-query indexed rag per query") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val docEmb = graft.operators.Embed.hashedTf(docs)
    val docModel = graft.operators.Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = graft.operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val texts = graft.operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
      .select(graft.operators.CorpusIndex.chunkKey($"doc_id", $"chunk_no")
        .as("vec_id"), $"chunk_text")
    val out = java.nio.file.Files.createTempDirectory("graft-rag").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-rag-c").toString
    val rows = docEmb.filter($"vec_id" < 4)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(2))
    val q = Streams.ragServeSink(
      input.toDF().toDF("vec_id", "embedding"), docModel, chunkModel, texts,
      out, ckpt, coarseK = 5, poolK = 10, tokenBudget = 300L).start()
    q.processAllAvailable()
    input.addData(rows.drop(2))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .as[(Long, Long, Long, Long, Option[Double], Long, Long, String)]
      .collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2)
        .map(r => (r._2, r._3, r._4, r._5, r._6, r._7, r._8)).toSeq).toMap
    assert(got.keySet === (0L until 4L).toSet)
    (0L until 4L).foreach { qid =>
      val batch = graft.operators.Similarity.ragContextIvf(docModel, docEmb,
          chunkModel, texts, qid, coarseK = 5, poolK = 10,
          tokenBudget = 300L)
        .as[(Long, Long, Long, Option[Double], Long, Long, String)]
        .collect().toSeq
      assert(got(qid) === batch, s"query $qid context diverged")
    }
  }

  test("streaming SHARDED probe equals the per-query sharded fan-out") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val model = graft.operators.Ivf.buildShardedIndex(sfDir + "#shprobe",
      emb, nShards = 3, nlist = 4)
    val out = java.nio.file.Files.createTempDirectory("graft-shp").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-shp-c").toString
    val rows = emb.filter($"vec_id" < 6)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(3))
    val q = Streams.ivfShardedProbeSink(
      input.toDF().toDF("vec_id", "embedding"), model, out, ckpt,
      k = 5, nprobe = 2).start()
    q.processAllAvailable()
    input.addData(rows.drop(3))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(got.keySet === (0L until 6L).toSet)
    (0L until 6L).foreach { qid =>
      val batch = graft.operators.Ivf.probeSharded(model, emb, qid, 5, nprobe = 2)
        .as[(Long, Double)].collect().toSet
      assert(got(qid) === batch, s"query $qid diverged from the sharded fan-out")
    }
    // maintenance symmetry: per-shard compaction is content-preserving
    graft.operators.CodesIndex.compactShardedIndex(spark, model, maxFilesPerList = 1)
    (0L until 6L).foreach { qid =>
      val after = graft.operators.Ivf.probeSharded(model, emb, qid, 5, nprobe = 2)
        .as[(Long, Double)].collect().toSet
      assert(after === got(qid), s"compaction changed query $qid")
    }
  }

  test("streaming PQ probe equals the batch probe per query") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val model = graft.operators.Pq.buildIndex(sfDir, emb)
    val out = java.nio.file.Files.createTempDirectory("graft-pqp").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pqp-c").toString
    val rows = emb.filter($"vec_id" < 4)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(2))
    val q = Streams.codesProbeSink(
      input.toDF().toDF("vec_id", "embedding"), model, emb, out, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(2))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(got.keySet === (0L until 4L).toSet)
    (0L until 4L).foreach { qid =>
      val batch = graft.operators.CodesIndex.probe(model, emb, qid, 10)
        .as[(Long, Double)].collect().toSet
      assert(got(qid) === batch, s"query $qid diverged from batch probe")
    }
  }

  test("streaming decontamination gate equals the batch contamination filter") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val probe = docs.filter($"doc_id" % 100 === 0)
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect().toSeq

    val input = MemoryStream[(Long, String)]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), probe)
      .writeStream.format("memory").queryName("decontam_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("decontam_stream")
      .select("doc_id").as[Long].collect().toSet
    val contaminated = graft.operators.TextAnalysis
      .contaminationHits(docs, probe)
      .filter($"n_hits" >= 5)
      .select("doc_id").as[Long].collect().toSet
    val expected = rows.map(_._1).toSet -- contaminated
    assert(got === expected)
    assert(contaminated.nonEmpty) // the gate actually dropped something
  }

  test("streaming span decontamination equals the batch cut, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter($"doc_id" % 100 === 0)
      .select($"doc_id".as("bench_id"),
        array_join(slice(split($"text", " "), 11, 20), " ").as("text"))
    val rows = docs.select("doc_id", "text").as[(Long, String)].collect().toSeq
    val outDir = java.nio.file.Files
      .createTempDirectory("span-decon-sink").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("span-decon-ckpt").toString

    val input = MemoryStream[(Long, String)]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.spanDecontaminateSink(
      input.toDF().toDF("doc_id", "text"), bench, outDir, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(outDir)
      .as[(Long, String)].collect().toMap
    val batch = graft.operators.Dedup.cutContaminatedSpans(docs, bench)
      .as[(Long, String)].collect().toMap
    assert(got === batch)
    // the cut actually bit: benchmark-source docs lost their middles
    assert(got.exists { case (id, t) => rows.toMap.apply(id) != t })
    // replaying batch 0's file delivery is a no-op (exactly-once)
    val before = spark.read.parquet(outDir).count()
    graft.sources.Sinks.appendBatchFileIdempotent(
      docs.limit(3).select($"doc_id", $"text".as("clean_text")),
      outDir, "batch-0.parquet")
    assert(spark.read.parquet(outDir).count() === before)
  }

  test("streaming bloom dedup equals the batch bloomNovel output") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Tables.documents(spark, sfDir)
    // batch 1: planted dups (corpus texts re-keyed); batch 2: novel texts
    val dups = corpus.filter($"doc_id" % 9 === 0)
      .select($"doc_id" + 700000L, $"text")
      .as[(Long, String)].collect().toSeq
    val fresh = corpus.filter($"doc_id" % 9 === 1)
      .select($"doc_id" + 800000L, concat($"text", lit(" qqstream")))
      .as[(Long, String)].collect().toSeq

    val input = MemoryStream[(Long, String)]
    input.addData(dups)
    val q = Streams.bloomNovelStream(
      input.toDF().toDF("doc_id", "text"), corpus, "text",
      s"spec-bloom-stream-$sfDir", expectedItems = 100000L)
      .writeStream.format("memory").queryName("bloom_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    input.addData(fresh)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("bloom_stream")
      .select("doc_id").as[Long].collect().toSet
    // every dup suppressed, every novel row emitted exactly once
    assert(got === fresh.map(_._1).toSet)
    assert(spark.table("bloom_stream").count() === fresh.length.toLong)
  }

  test("streaming as-of join equals the batch as-of join") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    // user 7: purchase 00:30 → click 00:10 (latest preceding), purchase
    // 01:00 → click 00:50; user 8: purchase 00:20 has NO preceding click
    // (its only click is later). Clicks arrive in a later batch than the
    // purchases to prove the watermark buffering handles out-of-order.
    val cRows = Seq(
      (7L, Timestamp.valueOf("2024-01-01 00:10:00"), 101L),
      (7L, Timestamp.valueOf("2024-01-01 00:50:00"), 102L),
      (8L, Timestamp.valueOf("2024-01-01 02:00:00"), 103L))
    val pRows = Seq(
      (7L, Timestamp.valueOf("2024-01-01 00:30:00"), 201L),
      (7L, Timestamp.valueOf("2024-01-01 01:00:00"), 202L),
      (8L, Timestamp.valueOf("2024-01-01 00:20:00"), 203L))
    purchases.addData(pRows)
    val q = Streams.asofJoinStream(
      purchases.toDF().toDF("user_id", "ts", "purchase_id"),
      clicks.toDF().toDF("user_id", "ts", "click_id"))
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    clicks.addData(cRows)
    q.processAllAvailable()
    // push the watermark past every purchase on BOTH sides (it's the min),
    // then run one more batch so the event-time timeouts fire and finalize
    clicks.addData(Seq((99L, Timestamp.valueOf("2024-01-02 00:00:00"), 999L)))
    purchases.addData(Seq((99L, Timestamp.valueOf("2024-01-02 00:00:00"), 998L)))
    q.processAllAvailable()
    clicks.addData(Seq((99L, Timestamp.valueOf("2024-01-02 01:00:00"), 997L)))
    purchases.addData(Seq((99L, Timestamp.valueOf("2024-01-02 01:00:00"), 996L)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("asof_stream").filter($"user_id" < 90)
      .select("user_id", "purchase_id", "click_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    val batch = graft.operators.AsofJoin.asofJoin(
        pRows.toDF("user_id", "ts", "purchase_id"),
        cRows.toDF("user_id", "ts", "click_id"),
        "user_id", "ts", Seq("click_id"))
      .select("user_id", "purchase_id", "click_id")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(got === batch)
    assert(got === Set((7L, 201L, Some(101L)), (7L, 202L, Some(102L)),
      (8L, 203L, None)))
  }

  test("as-of join state is lookback-bounded (retained click expires)") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long)]
    // 10-min lookback: user 5's click at 00:00 must be evicted once the
    // watermark passes 00:10, so the much-later purchase matches NOTHING —
    // the observable proof the state was dropped (unbounded state would
    // have answered click 301)
    clicks.addData(Seq((5L, Timestamp.valueOf("2024-01-01 00:00:00"), 301L)))
    val q = Streams.asofJoinStream(
      purchases.toDF().toDF("user_id", "ts", "purchase_id"),
      clicks.toDF().toDF("user_id", "ts", "click_id"),
      watermark = "30 minutes", lookbackSec = 600)
      .writeStream.format("memory").queryName("asof_timeout")
      .outputMode("append").start()
    q.processAllAvailable()
    // advance the watermark far past the click's 00:10 horizon and fire the
    // timeout (extra batch), with user 5 itself quiet
    for (h <- Seq("05:00:00", "06:00:00")) {
      clicks.addData(Seq((99L, Timestamp.valueOf(s"2024-01-01 $h"), 999L)))
      purchases.addData(Seq((99L, Timestamp.valueOf(s"2024-01-01 $h"), 998L)))
      q.processAllAvailable()
    }
    // user 5 purchases AFTER expiry; then close it out past the watermark
    purchases.addData(Seq((5L, Timestamp.valueOf("2024-01-01 07:00:00"), 401L)))
    q.processAllAvailable()
    for (h <- Seq("10:00:00", "11:00:00")) {
      clicks.addData(Seq((99L, Timestamp.valueOf(s"2024-01-01 $h"), 999L)))
      purchases.addData(Seq((99L, Timestamp.valueOf(s"2024-01-01 $h"), 998L)))
      q.processAllAvailable()
    }
    q.stop()

    val user5 = spark.table("asof_timeout").filter($"user_id" === 5L)
      .select("purchase_id", "click_id")
      .as[(Long, Option[Long])].collect().toSeq
    assert(user5 === Seq((401L, None)))
  }

  test("streaming minhash near-dup: exact and near copies are dropped, novel docs pass") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val textA = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val textANear = "the quick brown fox jumps over the lazy dog near the old river bank tonight"
    val textB = "completely different content about distributed query engines and shuffle plans"

    input.addData(Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), textA)))
    val q = Streams.nearDupNovelStream(
      input.toDF().toDF("doc_id", "ts", "text"), watermark = "1 hour")
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    // doc 2 = exact copy, doc 3 = near copy (1 token changed, jaccard ≈ 0.85):
    // both collide with doc 1's in-state buckets → not novel
    input.addData(Seq(
      (2L, Timestamp.valueOf("2024-01-01 00:05:00"), textA),
      (3L, Timestamp.valueOf("2024-01-01 00:07:00"), textANear)))
    q.processAllAvailable()
    // doc 4 is genuinely new → novel
    input.addData(Seq((4L, Timestamp.valueOf("2024-01-01 00:11:00"), textB)))
    q.processAllAvailable()
    // advance the watermark past every window end so append-mode emits
    input.addData(Seq((9L, Timestamp.valueOf("2024-01-01 09:00:00"), "watermark pusher row")))
    q.processAllAvailable()
    q.stop()

    val novel = spark.table("neardup_stream")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(novel === Seq(1L, 4L))
  }

  test("sessionize state is watermark-bounded (event-time timeout evicts)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    input.addData(Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"))))

    // 30-min gap, 1-hour watermark delay: user 1's state expires once the
    // watermark passes 00:30
    val q = Streams.sessionize(
      input.toDF().toDF("user_id", "ts"), gapSec = 1800, watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_timeout")
      .outputMode("update").start()
    q.processAllAvailable()
    // advance the watermark far past user 1's horizon (10:00 − 1h = 09:00),
    // then one more batch so the timeout trigger actually fires
    input.addData(Seq((2L, Timestamp.valueOf("2024-01-01 10:00:00"))))
    q.processAllAvailable()
    input.addData(Seq((2L, Timestamp.valueOf("2024-01-01 10:05:00"))))
    q.processAllAvailable()
    // user 1 re-appears AFTER expiry: state was removed, so counters restart
    // at 1 — this is the observable proof the state was evicted (NoTimeout
    // would have carried n_events to 2)
    input.addData(Seq((1L, Timestamp.valueOf("2024-01-01 10:30:00"))))
    q.processAllAvailable()
    q.stop()

    val user1Last = spark.table("sess_timeout")
      .filter($"user_id" === 1L)
      .orderBy($"n_events") // updates in arrival order: (1,1) then reset (1,1)
      .as[(Long, Long, Long)].collect()
    // every user-1 row has n_events = 1: the pre-expiry session never grew,
    // and the post-expiry row restarted from scratch rather than resuming
    assert(user1Last.nonEmpty && user1Last.forall { case (_, e, s) => e == 1L && s == 1L })
    assert(user1Last.length >= 2) // initial update + post-expiry restart
  }

  test("streaming IVF-SQ ingest and takedown match their batch verbs") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)

    // ingest: streamed-in codes table == frozen re-encode of the union
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batchRows = emb.filter($"vec_id" % 5 === 0)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val model = graft.operators.IvfSq.buildIndex(sfDir + "#ingest", base)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-isqi-c").toString
    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(batchRows.take(batchRows.length / 2))
    val q = Streams.codesIngestSink(
      input.toDF().toDF("vec_id", "embedding"), model, ckpt).start()
    q.processAllAvailable()
    input.addData(batchRows.drop(batchRows.length / 2))
    q.processAllAvailable()
    q.stop()
    val stored = graft.operators.CodesIndex.readIndex(spark, model)
      .select($"vec_id", $"codes", $"list".cast("int").as("list"))
    val expected = graft.operators.CodesIndex.encode(model, emb)
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)

    // takedown: streamed delete ≡ the batch verb bit-for-bit
    val doomed = emb.filter($"vec_id" % 9 === 1)
      .select("vec_id").as[Long].collect().toSeq
    val sS = graft.operators.IvfSq.buildIndex(sfDir + "#isqdelsink", emb)
    val sB = graft.operators.IvfSq.buildIndex(sfDir + "#isqdelbatch", emb)
    graft.operators.CodesIndex.deleteFromIndex(sB,
      emb.filter($"vec_id" % 9 === 1).select("vec_id"), batchId = 0L)
    val din = MemoryStream[Long]
    din.addData(doomed)
    val dq = Streams.codesDeleteSink(din.toDF().toDF("vec_id"), sS,
      java.nio.file.Files.createTempDirectory("graft-isqd-c").toString).start()
    dq.processAllAvailable()
    dq.stop()
    val got = graft.operators.CodesIndex.probe(sS, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got.map(_._1).forall(_ % 9 != 1), "IVF-SQ streamed delete not masking")
    assert(got === graft.operators.CodesIndex.probe(sB, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq, "IVF-SQ stream/batch delete diverged")
  }

  test("streaming composite probes equal their batch probes per query") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val rows = emb.filter($"vec_id" < 4)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq

    def drive(start: MemoryStream[(Long, Seq[Float])] =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
              out: String): Map[Long, Set[(Long, Double)]] = {
      val input = MemoryStream[(Long, Seq[Float])]
      input.addData(rows.take(2))
      val q = start(input).start()
      q.processAllAvailable()
      input.addData(rows.drop(2))
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(out)
        .select("query_id", "vec_id", "cosine")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    }

    val pqM = graft.operators.IvfPq.buildIndex(sfDir, emb)
    val out1 = java.nio.file.Files.createTempDirectory("graft-ipqp").toString + "/res"
    val got1 = drive(in => Streams.codesProbeSink(
      in.toDF().toDF("vec_id", "embedding"), pqM, emb, out1,
      java.nio.file.Files.createTempDirectory("graft-ipqp-c").toString), out1)
    (0L until 4L).foreach { qid =>
      val batch = graft.operators.CodesIndex.probe(pqM, emb, qid, 10)
        .as[(Long, Double)].collect().toSet
      assert(got1(qid) === batch, s"IVF-PQ query $qid diverged")
    }

    val sqM = graft.operators.IvfSq.buildIndex(sfDir, emb)
    val out2 = java.nio.file.Files.createTempDirectory("graft-isqp").toString + "/res"
    val got2 = drive(in => Streams.codesProbeSink(
      in.toDF().toDF("vec_id", "embedding"), sqM, emb, out2,
      java.nio.file.Files.createTempDirectory("graft-isqp-c").toString), out2)
    (0L until 4L).foreach { qid =>
      val batch = graft.operators.CodesIndex.probe(sqM, emb, qid, 10)
        .as[(Long, Double)].collect().toSet
      assert(got2(qid) === batch, s"IVF-SQ query $qid diverged")
    }
  }

  test("streaming SQ ingest grows the codes table to the frozen-encode union") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val model = graft.operators.Sq.buildIndex(sfDir + "#ingest", base)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqi-c").toString
    val rows = batch.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq

    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(rows.length / 2))
    val q = Streams.codesIngestSink(
      input.toDF().toDF("vec_id", "embedding"), model, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(rows.length / 2))
    q.processAllAvailable()
    q.stop()

    val stored = graft.operators.CodesIndex.readIndex(spark, model)
    val expected = graft.operators.CodesIndex.encode(model, emb)
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
  }

  test("streaming SQ probe and takedown match their batch verbs") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sfDir)

    // probe sink: per-query parity with the batch probe
    val model = graft.operators.Sq.buildIndex(sfDir, emb)
    val out = java.nio.file.Files.createTempDirectory("graft-sqp").toString + "/res"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqp-c").toString
    val rows = emb.filter($"vec_id" < 4)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(rows.take(2))
    val q = Streams.codesProbeSink(
      input.toDF().toDF("vec_id", "embedding"), model, emb, out, ckpt).start()
    q.processAllAvailable()
    input.addData(rows.drop(2))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(got.keySet === (0L until 4L).toSet)
    (0L until 4L).foreach { qid =>
      val batch = graft.operators.CodesIndex.probe(model, emb, qid, 10)
        .as[(Long, Double)].collect().toSet
      assert(got(qid) === batch, s"query $qid diverged from batch probe")
    }

    // takedown sink: streamed delete ≡ the batch verb bit-for-bit (builds
    // are deterministic, so a twin index gives exact parity)
    val doomed = emb.filter($"vec_id" % 9 === 1)
      .select("vec_id").as[Long].collect().toSeq
    val sqS = graft.operators.Sq.buildIndex(sfDir + "#sqdelsink", emb)
    val sqB = graft.operators.Sq.buildIndex(sfDir + "#sqdelbatch", emb)
    graft.operators.CodesIndex.deleteFromIndex(sqB,
      emb.filter($"vec_id" % 9 === 1).select("vec_id"), batchId = 0L)
    val din = MemoryStream[Long]
    din.addData(doomed.take(doomed.length / 2))
    val dq = Streams.codesDeleteSink(din.toDF().toDF("vec_id"), sqS,
      java.nio.file.Files.createTempDirectory("graft-sds-c").toString).start()
    dq.processAllAvailable()
    din.addData(doomed.drop(doomed.length / 2))
    dq.processAllAvailable()
    dq.stop()
    val sGot = graft.operators.CodesIndex.probe(sqS, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(sGot.map(_._1).forall(_ % 9 != 1), "SQ streamed delete not masking")
    assert(sGot === graft.operators.CodesIndex.probe(sqB, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq, "SQ stream/batch delete diverged")
  }

  test("streaming pretrain flagship equals the batch build on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Pretrain
    val docs = Tables.documents(spark, sfDir)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // batch 1 bootstraps; batch 2 appends re-keyed clones of every 4th doc
    // (new near-dup pairs AND new substring spans against standing docs —
    // the frontier machinery has to bite, not just append)
    val b1 = docs
    val b2 = docs.filter(_._1 % 4 == 0)
      .map(d => d.copy(_1 = d._1 + 150000L))
    val probe = Tables.documents(spark, sfDir).filter($"doc_id" % 100 === 0)
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-pts").toString + "/state"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-pts-c").toString
    val input = MemoryStream[(Long, String, String, String, Long)]
    val q = Streams.pretrainIngestSink(
      input.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      probe, stateDir, ckpt).start()
    input.addData(b1)
    q.processAllAvailable()
    // mid-stream snapshot must equal the batch build over batch 1 alone
    val snap1 = Pretrain.packedSnapshot(spark, stateDir).get
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val full1 = Pretrain.full(b1.toDF("doc_id", "text", "lang", "source", "n_chars"),
        probe, new CacheScope)
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(snap1 === full1, "bootstrap snapshot diverged from batch build")
    input.addData(b2)
    q.processAllAvailable()
    q.stop()
    val snap2 = Pretrain.packedSnapshot(spark, stateDir).get
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val full2 = Pretrain.full(
        (b1 ++ b2).toDF("doc_id", "text", "lang", "source", "n_chars"),
        probe, new CacheScope)
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(snap2.nonEmpty)
    assert(snap2 === full2, "incremental snapshot diverged from batch build")
  }
}
