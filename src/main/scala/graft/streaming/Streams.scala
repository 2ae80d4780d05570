package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.Row
import graft.operators.SalesClean
import graft.operators.CodesIndex
import graft.operators.CodesIndex.{Codec, CodesModel, Layout, ShardedModel}

/** Structured Streaming surface of the engine.
  *
  * The reference's "streaming" is file-event micro-batching: one uploaded CSV
  * triggers one batch job (/root/reference/scripts/main.py:4-7,45-49). The
  * Spark-native upgrade is the file-source stream — same transforms, no
  * external trigger, exactly-once sink semantics via checkpointing.
  *
  * Design rule: every streaming query REUSES the batch transform functions
  * (SalesClean.*, the window/agg column logic), so stream/batch parity is
  * by construction and tested in StreamingSpec with MemoryStream.
  */
object Streams {

  /** Every foreachBatch body routes through this wrapper: the callback
    * runs on the stream-execution thread, whose thread-local default
    * `CacheScope.global` no caller owns — operators invoked with the
    * default scope would otherwise accumulate persisted blocks per
    * micro-batch for the stream's whole lifetime (an unbounded soft leak
    * on a long-running ingest; the blocks only die at RDD GC). Each batch
    * fully materializes its writes inside the callback, so releasing the
    * thread's scope afterwards can never be observed — same data, bounded
    * memory. Scopes persisted on OTHER threads (e.g. a static side cached
    * at sink-construction time) belong to those threads and are untouched.
    */
  private def scopedBatch(f: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      try f(batch, batchId) finally graft.CacheScope.global.release()

  /** O1+S1 streaming: discover new CSVs under `dir` (the reference's
    * GCS-trigger loop, minus the trigger). `pathGlobFilter` mirrors the
    * Cloud Function's `.csv` suffix gate (/root/reference/scripts/main.py:20-23).
    */
  def readSalesCsvStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .option("header", "true")
      .option("pathGlobFilter", "*.csv")
      .schema(SalesClean.schema)
      .csv(dir)

  /** Flagship pipeline on a stream: F1→P1→P2→P3→P4 applied to any streaming
    * DataFrame with the sales schema. All five stages are narrow per-row
    * transforms, so the streaming plan is stateless — every micro-batch is
    * one codegen span, identical to the batch plan.
    */
  def cleanStream(sales: DataFrame): DataFrame = SalesClean.clean(sales)

  /** Append-mode parquet sink with checkpointing — the offline stand-in for
    * the reference's BigQuery append (mode="append",
    * /root/reference/scripts/process_sales.py:66-69). Checkpoint + file-sink
    * manifest give exactly-once, fixing the duplicate-append hazard the
    * reference has (at-least-once Eventarc delivery, SURVEY.md §3 E2).
    */
  def salesSink(cleaned: DataFrame, outDir: String, checkpointDir: String): DataStreamWriter[Row] =
    cleaned.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())

  /** Watermarked hourly event aggregation — streaming twin of
    * EventQueries "events_hourly" (same grouping columns + decimal-routed
    * sum). The 2-hour watermark bounds state: closed windows are emitted
    * and dropped, so state size is O(open windows × event types), not
    * O(stream length).
    */
  def hourlyEventCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming HLL distinct-count sketch — the stream twin of
    * [[graft.operators.Sketches.hllSketch]], per hourly window: one
    * watermarked aggregation emits (hour, group, bkt, r) register rows as
    * the watermark finalizes each window. The ESTIMATE deliberately stays a
    * batch read over the sketch sink ([[graft.operators.Sketches]]
    * `hllEstimate`, after regrouping) — the production split: the stream
    * maintains the tiny mergeable artifact (≤ 256 rows per (window, group),
    * watermark-bounded state), and readers fold registers on demand,
    * rolling hours up to days with [[graft.operators.Sketches.hllMerge]]
    * for free. Byte-identical to the batch sketch on the same rows
    * (StreamingSpec) because the register math is pure md5/integer — no
    * order dependence for the stream to break.
    */
  def hllSketchStream(events: DataFrame, groupCol: String, key: Column,
                      watermark: String = "2 hours"): DataFrame = {
    val (bkt, rho) = graft.operators.Sketches.hllCols(key)
    events
      .filter(key.isNotNull) // count-distinct semantics, like hllSketch
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 hour").as("w"), col(groupCol),
        bkt.as("bkt"), rho.as("rho"))
      .groupBy(col("w"), col(groupCol), col("bkt"))
      .agg(max("rho").as("r"))
      .select(col("w.start").as("hour"), col(groupCol), col("bkt"), col("r"))
  }

  /** Streaming log₂ histogram maintenance — the stream twin of
    * [[graft.operators.Stats.log2Histogram]], per hourly window: the
    * watermarked aggregation emits (hour, group, bucket, n) rows as
    * windows finalize. Like the HLL sketch stream, the ARTIFACT is the
    * mergeable thing: histogram rows from any set of hours/sources sum
    * by bucket, so daily/weekly distribution rollups (and drift checks
    * between them) cost one tiny aggregation over the sink. State:
    * ≤ 64 buckets × open windows × groups.
    */
  def histogramSketchStream(events: DataFrame, groupCol: String,
                            valueCol: String,
                            watermark: String = "2 hours"): DataFrame = {
    val vq = floor(col(valueCol) * 100.0 + 0.5).cast("long")
    val bucket = when(vq <= 0, lit(0))
      .otherwise(length(conv(vq.cast("string"), 10, 2)))
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 hour").as("w"), col(groupCol),
        bucket.as("bucket"))
      .groupBy(col("w"), col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col(groupCol), col("bucket"),
        col("n"))
  }

  /** Streaming Count-Min sketch maintenance — the stream twin of
    * [[graft.operators.Sketches.cmsSketch]] per hourly window: the
    * watermarked aggregation emits (hour, group, hash row, counter, cnt)
    * rows as windows finalize. Like the HLL and histogram sketch streams,
    * the ARTIFACT is the mergeable thing: CMS counters from any set of
    * hours SUM into that range's sketch ([[graft.operators.Sketches
    * .cmsMerge]] is plain addition — lossless by construction), so the
    * stream maintains per-hour sketch tables and readers point-query any
    * date range later for free. State: ≤ depth·256 counters × open
    * windows × groups.
    */
  def cmsSketchStream(events: DataFrame, groupCol: String, key: Column,
                      watermark: String = "2 hours"): DataFrame =
    events
      .filter(key.isNotNull)
      .withWatermark("ts", watermark)
      .select(window(col("ts"), "1 hour").as("w"), col(groupCol),
        explode(graft.operators.Sketches.cmsEntries(key)).as("hc"))
      .select(col("w"), col(groupCol), col("hc.h").as("h"),
        col("hc.c").as("c"))
      .groupBy(col("w"), col(groupCol), col("h"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("hour"), col(groupCol), col("h"), col("c"),
        col("cnt"))

  /** Streaming Gopher-rule gate — each micro-batch of raw documents is
    * lifted to a line table by the caller-supplied `liner` (the corpus'
    * line law; [[graft.Tables.asMarkupLines]] in the fixture world) and
    * scored by [[graft.operators.TextAnalysis.gopherRules]]. Per-document
    * output has no cross-batch dependence, so stream ≡ batch bit-for-bit
    * (the span-decontamination sink contract); deterministic per-batch
    * file names make crash replays no-ops.
    */
  def gopherGateSink(docs: DataFrame, liner: DataFrame => DataFrame,
                     outDir: String, checkpointDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        val report = graft.operators.TextAnalysis.gopherRules(liner(batch))
        graft.sources.Sinks.appendBatchFileIdempotent(
          report, outDir, s"batch-$batchId.parquet")
      })

  /** Streaming line-level dedup — the CCNet gate at ingest: each
    * micro-batch's documents are lifted to lines and cleaned by
    * [[graft.operators.Dedup.dedupLinesAgainst]] the STANDING corpus line
    * table (lines the corpus already has are dropped; batch-internal
    * repeats keep their first occurrence), landing reassembled documents.
    * The static corpus' distinct line-hash table is built + persisted
    * once and reused across batches; per-document output depends only on
    * the corpus and the batch, so the sink is stateless and exactly-once
    * per batch file.
    */
  def lineDedupSink(docs: DataFrame, corpusLines: DataFrame,
                    liner: DataFrame => DataFrame,
                    outDir: String, checkpointDir: String): DataStreamWriter[Row] = {
    // persist the DISTINCT line-hash table, not the raw corpus lines: the
    // per-batch join needs only the 16-byte hashes, and hashing+distinct
    // over the whole corpus must happen once, not once per micro-batch
    val corpusHashes = graft.CacheScope.global.persist(
      graft.operators.Dedup.corpusLineHashes(corpusLines))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        val cleaned = graft.operators.Dedup.dedupLinesAgainstHashes(
          liner(batch), corpusHashes)
        graft.sources.Sinks.appendBatchFileIdempotent(
          cleaned, outDir, s"batch-$batchId.parquet")
      })
  }

  /** Streaming BM25 postings ingest — the lexical index's growing-corpus
    * loop, the sparse twin of the embedding ingest sinks: each
    * micro-batch of raw documents tokenizes (batch-proportional) and
    * lands in the materialized postings store via the idempotent append
    * verb ([[graft.operators.Bm25.appendPostings]]), which commits the
    * batch id in the store's snapshot: a replay is a no-op, and a second
    * writer from the same version fails at the commit like every index
    * ingest. df/dl/idf derive from the table at probe time, so a probe
    * after any batch scores exactly as a from-scratch build over the rows
    * ingested so far (StreamingSpec parity) — no frozen model, no drift.
    */
  def bm25IngestSink(docs: DataFrame, storeKey: String,
                     checkpointDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Bm25.appendPostings(storeKey, batch, batchId)
      })

  /** Streaming positional-postings ingest — the phrase index's
    * growing-corpus loop ([[bm25IngestSink]]'s positional sibling): each
    * micro-batch tokenizes positionally (batch-proportional — positions
    * are per-document offsets, so no cross-batch state exists) and lands
    * in the materialized positional store via the idempotent append verb,
    * with the same snapshot commit. A phrase probe after any batch ranks
    * exactly as a from-scratch build over the rows ingested so far (append
    * ≡ rebuild — StreamingSpec parity, the text_phrase_incr law streamed).
    */
  def phraseIngestSink(docs: DataFrame, storeKey: String,
                       checkpointDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Bm25.appendPositionalPostings(storeKey, batch, batchId)
      })

  /** Streaming exact dedup on a key column: keeps the first arrival of each
    * key, with state bounded by the event-time watermark
    * (dropDuplicatesWithinWatermark) — keys older than the watermark are
    * evicted, so state is O(keys inside the watermark window), not O(stream
    * length). The batch twin is Dedup.exactByKey; parity on in-window data
    * is asserted in StreamingSpec.
    */
  def dedupStream(df: DataFrame, keyCol: String, tsCol: String,
                  watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Streaming MinHash near-dup novelty filter — the stream twin of
    * [[graft.operators.Dedup.minhashPairs]], built from the SAME codegen
    * kernels (HashedShingles → MinHashSig → band buckets):
    *
    *   1. per document: signature → `bands` bucket keys (narrow, per-row);
    *   2. explode to (doc_id, ts, band, bucket) and
    *      `dropDuplicatesWithinWatermark(band, bucket)` — the FIRST document
    *      to claim each bucket keeps the row, later claimants are dropped
    *      (state: one entry per distinct in-watermark bucket, evicted by
    *      the watermark — O(in-window buckets), not O(stream));
    *   3. windowed count of claims per document: a doc is emitted as NOVEL
    *      iff it claimed ALL of its `bands` buckets — i.e. no in-window
    *      earlier document shared even one LSH band with it.
    *
    * This is the standard streaming web-dedup layout: linear shuffle on
    * (band, bucket), no pair joins, watermark-bounded state at any scale.
    * Approximation contract (same math as the batch LSH): a true near-dup
    * at jaccard j collides on a given band with probability j^(k/bands), on
    * ANY band with 1−(1−j^r)^bands (≈ 1 for j ≥ 0.9 at k=128/32 bands);
    * an unrelated doc collides only via hash accident, so "claimed every
    * bucket" ⇒ novel with high probability. Emission is append-mode: novel
    * docs surface once their event-time window closes.
    */
  def nearDupNovelStream(docs: DataFrame, watermark: String = "1 hour",
                         windowDur: String = "10 minutes",
                         n: Int = 3, k: Int = 128, bands: Int = 32): DataFrame = {
    import graft.operators.Dedup
    val sig = Dedup.minhashSignatureFromHashes(
      Dedup.hashedShingles(col("text"), n), k)
    docs
      .withColumn("sig", sig)
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        posexplode(Dedup.bandBucketsCol(col("sig"), bands, k))
          .as(Seq("band", "bucket")))
      .dropDuplicatesWithinWatermark("band", "bucket")
      .groupBy(window(col("ts"), windowDur), col("doc_id"))
      .agg(count(lit(1)).as("n_claimed"))
      .filter(col("n_claimed") === bands)
      .select(col("window.start").as("w_start"), col("doc_id"))
  }

  /** Windowed trending terms on a document stream: per event-time window,
    * token occurrence counts — the streaming twin of
    * [[graft.operators.TextAnalysis.termFrequency]]. The explode multiplies
    * rows but the windowed aggregation combines map-side, so the shuffle
    * carries (window, token, partial count); the watermark closes windows
    * and bounds state to O(open windows × in-window vocabulary). Top-k
    * selection is left to the consumer (a per-window sort on the emitted
    * closed windows — batch-side, tiny).
    */
  def trendingTermsStream(docs: DataFrame, windowDur: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(col("text"), " ")).as("token"))
      .groupBy(window(col("ts"), windowDur).as("w"), col("token"))
      .agg(count(lit(1)).as("freq"))
      .select(col("w.start").as("w_start"), col("token"), col("freq"))

  /** Stream-stream interval join: every (click, purchase) pair for the same
    * user with the click inside [purchase − window, purchase] — the
    * streaming twin of the batch range join
    * (EventQueries "events_range_join" / RangeJoin.pointInInterval).
    *
    * Both sides are genuinely streaming: Spark buffers each side's rows in
    * join state, and the watermark PLUS the time-bound condition let it
    * evict state older than (watermark − window) — bounded state on both
    * sides, the canonical watermarked stream-stream join. Output is
    * append-mode; a pair is emitted as soon as both rows have arrived.
    *
    * Inputs need (user_id, ts, click_id) / (user_id, ts, purchase_id).
    */
  def clickPurchaseJoinStream(clicks: DataFrame, purchases: DataFrame,
                              watermark: String = "2 hours",
                              windowDur: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("click_id"))
      .withWatermark("c_ts", watermark)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("purchase_id"))
      .withWatermark("p_ts", watermark)
    c.join(p, expr(
      s"c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL $windowDur AND p_ts"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"), col("c_ts"), col("p_ts"))
  }

  /** Streaming upsert sink (CDC apply): maintains a keyed latest-version
    * parquet table from an update stream via foreachBatch. Each micro-batch
    * unions the current table with the batch's rows and keeps the latest
    * version per key ([[graft.operators.Upsert.keepLatest]]), writing to a
    * staging dir and atomically swapping it in — never reading and
    * clobbering the same files. This is merge-on-read compaction run
    * incrementally: the parquet stand-in for a MERGE-capable table format,
    * same contract as the batch `orders_upsert`. The whole-table rewrite
    * per batch is the stand-in's cost; a real deployment partitions the
    * table and rewrites only touched partitions.
    */
  def upsertSink(updates: DataFrame, tableDir: String, checkpointDir: String,
                 keyCols: Seq[String], versionCol: String): DataStreamWriter[Row] =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // readForSwap: exists-checked + interrupted-swap recovery — a blanket
        // AnalysisException catch here would rebuild the table from one batch
        val existing = graft.sources.Sinks.readForSwap(spark, tableDir)
        val all = existing.map(_.unionByName(batch)).getOrElse(batch)
        val merged = graft.operators.Upsert.keepLatest(all, keyCols, versionCol)
        val staging = tableDir + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        graft.sources.Sinks.swapDirs(spark, staging, tableDir)
      })

  /** Continuously-maintained feature table: the sink for an UPDATE-mode
    * streaming aggregation (e.g. per-user running counts/sums — the
    * streaming half of the `events_user_features` RFM build). Each
    * micro-batch delivers re-aggregated rows for the keys it touched;
    * foreachBatch replaces exactly those keys in the stored table
    * (anti-join on the batch's keys + union, staging-swap write) — the
    * feature-store "merge updated features" contract, with the batch table
    * always readable and consistent.
    *
    * State note: an unwatermarked update-mode aggregation keeps one state
    * row per key — for lifetime-per-user features that IS the contract
    * (state = #users, not stream length); bound it with a watermarked
    * window when features are per-period instead. The whole-table rewrite
    * per batch is the parquet stand-in's cost, same as [[upsertSink]]; a
    * partitioned table rewrites only touched partitions
    * ([[graft.sources.Sinks.upsertPartitions]]).
    */
  def featureUpsertSink(aggregated: DataFrame, tableDir: String,
                        checkpointDir: String, keyCols: Seq[String])
      : DataStreamWriter[Row] =
    aggregated.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // readForSwap: exists-checked + interrupted-swap recovery — a blanket
        // AnalysisException catch here would rebuild the table from one batch
        val existing = graft.sources.Sinks.readForSwap(spark, tableDir)
        val merged = existing match {
          case Some(t) =>
            t.join(batch.select(keyCols.map(col): _*), keyCols, "left_anti")
              .unionByName(batch)
          case None => batch
        }
        val staging = tableDir + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        graft.sources.Sinks.swapDirs(spark, staging, tableDir)
      })

  /** Streaming data-quality monitor: per micro-batch, run an
    * [[graft.operators.Profile.expectations]] suite over the batch's rows
    * and APPEND the (batch_id, check, violations, status) report to a
    * history table — the continuous form of the batch `stats_expectations`
    * gate ("every drop that lands is checked, and the check history is
    * itself a queryable table"). `checks` builds the suite from the batch
    * DataFrame, so any of the [[graft.operators.Profile]] check
    * constructors compose; each check is a bounded-output aggregation over
    * one micro-batch — no streaming state at all.
    */
  def expectationsSink(updates: DataFrame, historyDir: String,
                       checkpointDir: String,
                       checks: DataFrame => Seq[graft.operators.Profile.Check])
      : DataStreamWriter[Row] =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Profile.expectations(checks(batch))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(historyDir)
      })

  /** Stream-static enrichment: z-score outlier filter on an event stream
    * against a BATCH-computed stats table ([[graft.operators.Stats.centStats]],
    * one row per event type — broadcast into every micro-batch). The
    * reference-model shape for scoring live data against corpus-derived
    * statistics; stateless, so each micro-batch is one codegen span and the
    * z math is the exact same pinned spelling as the batch
    * `events_outliers` (parity in StreamingSpec).
    */
  def outlierStream(events: DataFrame, stats: DataFrame,
                    threshold: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    events.join(broadcast(stats), "event_type")
      .withColumn("z", graft.operators.Stats.zScore("value"))
      .filter(abs(col("z")) > threshold)
      .select(col("event_id"), col("event_type"), col("value"),
        (floor(col("z") * 10000.0 + 0.5) / 10000.0).as("z_4dp"))
  }

  /** Streaming robust-outlier filter — [[outlierStream]]'s median/MAD twin:
    * the batch-trained (event_type, med, mad) table (from
    * [[graft.operators.Stats.madOutlierSummary]]) broadcasts into every
    * micro-batch and rows flag on the modified z-score
    * |0.6745·(v − med)/mad| > threshold, with the same cent-grid snap and
    * zero-MAD guard as batch. Stateless append — the robust alternative
    * when the stream's tail is heavy enough to drag mean/stddev.
    */
  def madOutlierStream(events: DataFrame, medMad: DataFrame,
                       threshold: Double = 3.5): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    events.join(broadcast(medMad.select("event_type", "med", "mad")), "event_type")
      .withColumn("v",
        floor(col("value") * 100.0 + 0.5).cast("long").cast("double") / 100.0)
      .withColumn("mz", lit(0.6745) * (col("v") - col("med")) / col("mad"))
      .filter(col("mad") > 0.0 && abs(col("mz")) > threshold)
      .select(col("event_id"), col("event_type"), col("value"),
        (floor(col("mz") * 10000.0 + 0.5) / 10000.0).as("mz_4dp"))
  }

  /** Streaming seasonal anomaly detection — the stream twin of
    * [[graft.EventQueries.seasonalAnomaly]]: hourly cells aggregate under
    * a watermark (finalized once the watermark passes the hour), then join
    * the BATCH-trained per-(type, hour-of-day) baseline (broadcast,
    * (types × 24)-sized) and flag |z| > threshold with the exact same
    * pinned z spelling. The [[outlierStream]] pattern one level up: the
    * enrichment joins an AGGREGATED stream, so anomalies emit per
    * finalized hour-cell, not per event. Stateless beyond the windowed
    * agg's watermark-bounded state.
    *
    * `baseline` must be `seasonalAnomaly`'s `base` table — built by
    * [[graft.EventQueries.seasonalBaseline]] over the historical corpus.
    */
  def seasonalAnomalyStream(events: DataFrame, baseline: DataFrame,
                            threshold: Double = 2.0,
                            watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val cells = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"))
      .withColumn("hod", hour(col("hour")))
    val mean = col("sv").cast("double") / col("nd")
    val variance = col("sq").cast("double") / col("nd") - mean * mean
    cells.join(broadcast(baseline), Seq("event_type", "hod"))
      .withColumn("z",
        when(variance > 0.0, (col("n") - mean) / sqrt(variance)))
      .filter(abs(col("z")) > threshold)
      .select(col("event_type"), col("hour"), col("n"),
        (floor(col("z") * 10000.0 + 0.5) / 10000.0).as("z_4dp"))
  }

  /** Streaming SemDeDup — the online twin of
    * [[graft.operators.Dedup.semanticDupPairs]]: each incoming vector is
    * assigned to its coarse-quantizer cluster (a pure per-row expression
    * over the broadcast-small trained centroids, the same
    * [[graft.operators.Ivf.index]] argmax as batch) and checked by exact
    * cosine against ONLY that cluster's inverted list of the prebuilt
    * index — a stream-static equi-join on `list`, stateless and
    * append-mode. Emits (vec_id, corpus_id, cosine_4dp) for every
    * corpus vector the incoming one semantically duplicates; vectors with
    * no output row are novel.
    *
    * Scale: per micro-batch the static side is the materialized index and
    * the join key is `list`, so each incoming vector is compared against
    * corpus/nlist vectors instead of the corpus — the ingestion-time
    * "have we already got this content" gate of a training-data pipeline.
    */
  def semanticDupStream(vectors: DataFrame, model: graft.operators.Ivf.IvfModel,
                        threshold: Double): DataFrame = {
    val idx = CodesIndex.readIndex(vectors.sparkSession, model)
      .select(col("list"), col("vec_id").as("corpus_id"),
        col("embedding").as("c_emb"))
    graft.operators.Ivf.index(vectors, model.coarse.get.centroids)
      .join(idx, "list")
      .filter(col("vec_id") =!= col("corpus_id"))
      .withColumn("cosine",
        graft.functions.VectorOps.cosine(col("embedding"), col("c_emb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id"), col("corpus_id"),
        (floor(col("cosine") * 10000.0 + 0.5) / 10000.0).as("cosine_4dp"))
  }

  /** Streaming ANN probe — the QUERY-side twin of [[semanticDupStream]]'s
    * index read: each incoming vector is an ANN query against the
    * materialized IVF index (per-row centroid assign → read only the
    * probed lists → exact top-k re-rank), appending (query_id, vec_id,
    * cosine, rn) result rows to `outDir`.
    *
    * foreachBatch, not a plan transform, because top-k per query is a
    * RANKING — it needs either keyed state or a closed candidate set, and
    * a micro-batch IS the natural closed set: each batch of queries runs
    * the set-oriented batch engine ([[graft.operators.Ivf.probeAll]], the
    * per-query-bit-identical form of `Ivf.probe`) with zero streaming
    * state. Delivery is EXACTLY-ONCE: the checkpoint replays a crashed
    * batch, and the result lands as a deterministic
    * `probe-<batchId>.parquet` file written only if absent
    * ([[graft.sources.Sinks.appendBatchFileIdempotent]]) — a replayed
    * batch regenerates identical rows and is a no-op, where a blind
    * append would duplicate them. The stream composes with incremental
    * maintenance: [[codesIngestSink]] grows the same index directory
    * between micro-batches.
    */
  def ivfProbeSink(queries: DataFrame, model: graft.operators.Ivf.IvfModel,
                   outDir: String, checkpointDir: String,
                   k: Int = 10, nprobe: Int = 4): DataStreamWriter[Row] =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Ivf.probeAll(model, batch, k, nprobe),
          outDir, s"probe-$batchId.parquet")
      })

  /** Streaming INDEXED TWO-STAGE probe — the serving loop streamed: each
    * micro-batch of doc-level query vectors runs the set-oriented
    * two-stage engine ([[graft.operators.Similarity.topKTwoStageIvfAll]]
    * — doc-IVF coarse fan-out, parent-restricted chunk-index fine cut,
    * zero streaming state) and lands (query_id, vec_id, parent_id,
    * cosine, rn) exactly-once via the deterministic per-batchId file
    * contract. Composes with the chunk/doc ingest sinks growing the same
    * indexes between micro-batches.
    */
  def twoStageProbeSink(queries: DataFrame,
                        docModel: graft.operators.Ivf.IvfModel,
                        chunkModel: graft.operators.Ivf.IvfModel,
                        outDir: String, checkpointDir: String,
                        coarseK: Int = 20, k: Int = 10,
                        nprobeDoc: Int = 4,
                        nprobeChunk: Int = 4): DataStreamWriter[Row] =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Similarity.topKTwoStageIvfAll(docModel, chunkModel,
            batch, coarseK, k, nprobeDoc, nprobeChunk),
          outDir, s"probe-$batchId.parquet")
      })

  /** Streaming PHRASE retrieval — the positional-index serving loop:
    * each micro-batch of phrase rows (phrase_id, ppos, term, plen) runs
    * the set-oriented positional intersection
    * ([[graft.operators.Bm25.phraseTopKAll]]) against the standing
    * materialized positional-postings store and lands (phrase_id,
    * doc_id, n_occurrences, rn) exactly-once per batch. Stateless;
    * composes with the phrase-ingest sink growing the same store.
    */
  def phraseProbeSink(phrases: DataFrame, postings: DataFrame,
                      outDir: String, checkpointDir: String,
                      k: Int = 10): DataStreamWriter[Row] = {
    val post = graft.CacheScope.global.persist(postings)
    phrases.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Bm25.phraseTopKAll(post, batch, k),
          outDir, s"probe-$batchId.parquet")
      })
  }

  /** RAW-TEXT streaming retrieval — the serving entry point streamed:
    * queries arrive as (doc_id, text), each micro-batch embeds them
    * IN-FLIGHT through the corpus's own model-free embedder
    * ([[graft.operators.Embed.hashedTf]] — zero coordination with the
    * corpus, the property that makes text-in serving stateless) and runs
    * the set-oriented indexed two-stage engine. Lands (query_id = the
    * incoming doc_id, vec_id, parent_id, cosine, rn) exactly-once via
    * the deterministic per-batchId file contract. A streamed text query
    * whose text equals a stored document's produces that document's
    * exact vector, so parity with the vector-probe sink is spec-testable
    * (StreamingSpec).
    */
  def textProbeSink(queries: DataFrame,
                    docModel: graft.operators.Ivf.IvfModel,
                    chunkModel: graft.operators.Ivf.IvfModel,
                    outDir: String, checkpointDir: String,
                    coarseK: Int = 20, k: Int = 10,
                    nprobeDoc: Int = 4,
                    nprobeChunk: Int = 4): DataStreamWriter[Row] =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Similarity.topKTwoStageIvfAll(docModel, chunkModel,
            graft.operators.Embed.hashedTf(batch), coarseK, k, nprobeDoc,
            nprobeChunk),
          outDir, s"probe-$batchId.parquet")
      })

  /** Streaming HYBRID retrieval — the fused lexical+dense serving loop:
    * each micro-batch of query ids runs the indexed hybrid engine
    * ([[graft.operators.Bm25.hybridTopKIvf]] — postings join sparse leg,
    * doc-IVF probe dense leg, RRF fusion) against the standing corpus +
    * stores and lands (query_id, doc_id, rrf, rn) exactly-once per batch.
    * Stateless like every probe sink; composes with [[bm25IngestSink]]
    * and the IVF ingest sinks growing the same artifacts between batches.
    */
  def hybridProbeSink(queryIds: DataFrame, documents: DataFrame,
                      docModel: graft.operators.Ivf.IvfModel,
                      docEmb: DataFrame, postings: DataFrame,
                      outDir: String, checkpointDir: String,
                      k: Int = 10, nprobe: Int = 4): DataStreamWriter[Row] = {
    val emb = graft.CacheScope.global.persist(
      docEmb.select("vec_id", "embedding"))
    val post = graft.CacheScope.global.persist(postings)
    queryIds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Bm25.hybridTopKIvf(documents, docModel, emb,
            batch, k, nprobe = nprobe, postings = Some(post)),
          outDir, s"probe-$batchId.parquet")
      })
  }

  /** Streaming LATE-INTERACTION rerank — the two-stage lexical serving
    * loop streamed: each micro-batch of query ids runs the set-oriented
    * MaxSim engine ([[graft.operators.Bm25.maxSimRerankAll]] — batch
    * BM25 first stage, per-position context-window embeddings, keyed
    * clamped-max/quantized-sum scoring) against the standing corpus +
    * postings store and lands (query_id, doc_id, score_ms, rn)
    * exactly-once per batch. Stateless like every probe sink; the
    * rerank cost is candidate-bounded per query, so batch cost scales
    * with the batch, never the corpus.
    */
  def rerankProbeSink(queryIds: DataFrame, documents: DataFrame,
                      postings: DataFrame, outDir: String,
                      checkpointDir: String, k: Int = 5,
                      firstStageK: Int = 10): DataStreamWriter[Row] = {
    val post = graft.CacheScope.global.persist(postings)
    queryIds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Bm25.maxSimRerankAll(documents, batch, k,
            firstStageK, postings = Some(post)),
          outDir, s"probe-$batchId.parquet")
      })
  }

  /** Streaming HYBRID RAG serving — the fused-retrieval serving loop
    * streamed end-to-end: each micro-batch of query ids runs the
    * set-oriented hybrid-RAG engine
    * ([[graft.operators.Bm25.ragContextHybridAll]] — batch RRF fusion of
    * the BM25 postings leg and the doc-IVF probe, fused parents
    * restricting the keyed chunk probe, query-keyed packing) and lands
    * budget-certified contexts exactly-once per batch. Stateless; the
    * lexical+dense twin of [[ragServeSink]].
    */
  def hybridRagServeSink(queryIds: DataFrame, documents: DataFrame,
                         docModel: graft.operators.Ivf.IvfModel,
                         docEmb: DataFrame,
                         chunkModel: graft.operators.Ivf.IvfModel,
                         chunkTexts: DataFrame, postings: DataFrame,
                         outDir: String, checkpointDir: String,
                         coarseK: Int = 20, poolK: Int = 20,
                         tokenBudget: Long = 600L, nprobeDoc: Int = 4,
                         nprobeChunk: Int = 4): DataStreamWriter[Row] = {
    val emb = graft.CacheScope.global.persist(
      docEmb.select("vec_id", "embedding"))
    val texts = graft.CacheScope.global.persist(
      chunkTexts.select("vec_id", "chunk_text"))
    val post = graft.CacheScope.global.persist(postings)
    queryIds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Bm25.ragContextHybridAll(documents, docModel,
            emb, chunkModel, texts, batch, coarseK, poolK, tokenBudget,
            nprobeDoc, nprobeChunk, postings = Some(post)),
          outDir, s"context-$batchId.parquet")
      })
  }

  /** RAW-TEXT streaming RAG serving — the full serving loop with text
    * queries: each micro-batch of (doc_id, text) queries embeds
    * IN-FLIGHT ([[graft.operators.Embed.hashedTf]] — the model-free
    * property that keeps text serving stateless), runs the set-oriented
    * indexed two-stage engine, and packs each query's pool under the
    * token budget, landing budget-certified contexts exactly-once per
    * batch. The text twin of [[ragServeSink]]; per-query parity with
    * [[graft.operators.Similarity.ragContextIvfText]] is spec-bound.
    */
  def ragServeTextSink(queries: DataFrame,
                       docModel: graft.operators.Ivf.IvfModel,
                       chunkModel: graft.operators.Ivf.IvfModel,
                       chunkTexts: DataFrame, outDir: String,
                       checkpointDir: String, coarseK: Int = 20,
                       poolK: Int = 20, tokenBudget: Long = 600L,
                       nprobeDoc: Int = 4,
                       nprobeChunk: Int = 4): DataStreamWriter[Row] = {
    val texts = graft.CacheScope.global.persist(
      chunkTexts.select("vec_id", "chunk_text"))
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Similarity.ragContextAll(
            graft.operators.Similarity.topKTwoStageIvfAll(docModel,
              chunkModel, graft.operators.Embed.hashedTf(batch), coarseK,
              poolK, nprobeDoc, nprobeChunk),
            texts, tokenBudget),
          outDir, s"context-$batchId.parquet")
      })
  }

  /** Streaming RM3 retrieval — pseudo-relevance feedback streamed: each
    * micro-batch of query ids runs the set-oriented two-round RM3 engine
    * ([[graft.operators.Bm25.topKRm3All]] — query-keyed feedback and
    * expansion cuts, both scoring rounds postings joins) against the
    * standing corpus + postings store and lands (query_id, doc_id,
    * score_q, rn) exactly-once per batch. Completes the streamed
    * serving-quality symmetry next to [[rerankProbeSink]].
    */
  def rm3ProbeSink(queryIds: DataFrame, documents: DataFrame,
                   postings: DataFrame, outDir: String,
                   checkpointDir: String, k: Int = 10,
                   fbDocs: Int = 5, fbTerms: Int = 10): DataStreamWriter[Row] = {
    val post = graft.CacheScope.global.persist(postings)
    queryIds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Bm25.topKRm3All(documents, batch, k,
            fbDocs, fbTerms, postings = Some(post)),
          outDir, s"probe-$batchId.parquet")
      })
  }

  /** Streaming END-TO-END RAG serving — the full loop streamed: each
    * micro-batch of doc-level query vectors runs indexed two-stage
    * retrieval ([[graft.operators.Similarity.topKTwoStageIvfAll]]) and
    * packs each query's top-`poolK` chunks under the token budget
    * ([[graft.operators.Similarity.ragContextAll]] — query-keyed window
    * over k-bounded pools), landing budget-certified contexts
    * exactly-once per batch. Stateless: a context depends only on the
    * standing indexes and the batch.
    */
  def ragServeSink(queries: DataFrame,
                   docModel: graft.operators.Ivf.IvfModel,
                   chunkModel: graft.operators.Ivf.IvfModel,
                   chunkTexts: DataFrame, outDir: String,
                   checkpointDir: String, coarseK: Int = 20,
                   poolK: Int = 20, tokenBudget: Long = 600L,
                   nprobeDoc: Int = 4,
                   nprobeChunk: Int = 4): DataStreamWriter[Row] = {
    val texts = graft.CacheScope.global.persist(
      chunkTexts.select("vec_id", "chunk_text"))
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Similarity.ragContextAll(
            graft.operators.Similarity.topKTwoStageIvfAll(docModel,
              chunkModel, batch, coarseK, poolK, nprobeDoc, nprobeChunk),
            texts, tokenBudget),
          outDir, s"context-$batchId.parquet")
      })
  }

  /** [[ivfProbeSink]] over the SHARDED layout — the read side of the
    * sharded streaming story ([[ivfShardedIngestSink]] is the write
    * side): each micro-batch of query vectors fans out through
    * `Ivf.probeShardedAll` (per-shard pruned probes + global k-bounded
    * re-cut) and delivers (query_id, vec_id, cosine, rn) exactly-once via
    * the same deterministic per-batchId file contract.
    */
  def ivfShardedProbeSink(queries: DataFrame,
                          model: graft.operators.Ivf.IvfShardedModel,
                          outDir: String, checkpointDir: String,
                          k: Int = 10, nprobe: Int = 4): DataStreamWriter[Row] =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          graft.operators.Ivf.probeShardedAll(model, batch, k, nprobe),
          outDir, s"probe-$batchId.parquet")
      })

  /** Streaming index maintenance — the WRITE-side twin of [[ivfProbeSink]]
    * and [[codesProbeSink]], for any of the five layouts: each micro-batch
    * of new vectors is written as the layout's rows with the FROZEN model
    * (`CodesIndex.appendToIndexIdempotent`: a raw IVF batch assigned by
    * the quantizer, a codes batch encoded), so a probe immediately sees
    * every landed batch and no rebuild ever rewrites standing lists.
    *
    * Delivery: EXACTLY-ONCE — each micro-batch commits its files with its
    * batch id in one index snapshot, so a crash-replayed batch is a no-op,
    * and a crash before the commit is overwritten by the replay. A writer
    * that commits on the index between this batch's read of the snapshot
    * and its commit makes the batch fail with a ConcurrentWriterException
    * instead of losing either commit; a restart on the checkpoint lands it.
    *
    * `compactAboveFiles > 0` arms AUTO-COMPACTION: after each batch
    * commits, `CodesIndex.compactIndex` folds the flat table, or each list,
    * holding more data files than that (or carrying tombstones) — the
    * lifecycle automation that keeps a long-running stream's file counts
    * bounded without an external maintenance job
    * ([[graft.sources.Sinks.fileReport]] is the diagnostic twin). Safe
    * inside foreachBatch: compaction is serialized with the ingest, and a
    * batch replayed after a crash between compaction and checkpoint stays
    * a no-op: the compacted snapshot keeps its batch id.
    */
  def codesIngestSink(vectors: DataFrame,
                      model: CodesModel[Layout],
                      checkpointDir: String,
                      compactAboveFiles: Int = 0): DataStreamWriter[Row] =
    ingestSink(vectors, model, checkpointDir, compactAboveFiles)(identity)

  /** SELF-FED streaming ingest — [[codesIngestSink]] fed by raw DOCUMENTS
    * instead of precomputed vectors: each micro-batch of (doc_id, text)
    * rows embeds IN-FLIGHT with [[graft.operators.Embed.hashedTf]] (the
    * model-free hashing-trick embedder, so a crash-replayed batch
    * re-embeds bit-identically and the exactly-once append contract
    * holds unchanged) and lands in the frozen-quantizer index. The
    * embedder's per-batch aggregations are legal here because foreachBatch
    * hands us a BATCH DataFrame — this is the streaming form of the
    * crawl→embed→index loop the `cur_pretrain_index` flagship runs in
    * batch. Same snapshot commit, same auto-compaction knob.
    */
  def embedIngestSink(documents: DataFrame,
                      model: graft.operators.Ivf.IvfModel,
                      checkpointDir: String,
                      compactAboveFiles: Int = 0): DataStreamWriter[Row] =
    ingestSink(documents, model, checkpointDir, compactAboveFiles)(
      graft.operators.Embed.hashedTf(_))

  /** [[embedIngestSink]] at CHUNK granularity — the streaming half of the
    * chunk-retrieval flagship: each micro-batch of raw (doc_id, text)
    * documents chunks, keys and embeds IN-FLIGHT
    * (`CorpusIndex.chunkEmbeddings` — deterministic chunking + the
    * model-free embedder, so a crash-replayed batch regenerates
    * bit-identical chunk vectors and the exactly-once append contract
    * holds unchanged) and lands in the FROZEN chunk index. Parity in
    * StreamingSpec: the streamed chunk index equals the frozen-quantizer
    * assignment of the batch build.
    */
  def chunkEmbedIngestSink(documents: DataFrame,
                           model: graft.operators.Ivf.IvfModel,
                           checkpointDir: String,
                           compactAboveFiles: Int = 0): DataStreamWriter[Row] =
    ingestSink(documents, model, checkpointDir, compactAboveFiles)(
      graft.operators.CorpusIndex.chunkEmbeddings(_))

  /** The ingest loop of the sinks above: `vectorsOf(batch)` appended
    * exactly-once, then the optional in-stream compaction.
    */
  private def ingestSink(source: DataFrame, model: CodesModel[Layout],
                         checkpointDir: String, compactAboveFiles: Int)
                        (vectorsOf: DataFrame => DataFrame): DataStreamWriter[Row] =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, batchId: Long) =>
        CodesIndex.appendToIndexIdempotent(model, vectorsOf(batch), batchId)
        if (compactAboveFiles > 0)
          CodesIndex.compactIndex(batch.sparkSession, model,
            maxFilesPerList = compactAboveFiles)
        ()
      })

  /** [[codesIngestSink]] for the SHARDED layout — the lifecycle symmetry
    * the 10¹¹-vector deployment needs (the sharded quantizer is exactly
    * where such a deployment lives): each micro-batch routes rows to
    * their owning shard by the build's own md5 hash law and lands
    * exactly-once per (shard, batchId) via
    * `CodesIndex.appendToShardedIndexIdempotent` — a crash replay finds
    * the batch id in every committed shard's snapshot and no-ops shard by
    * shard. The batch is persisted across the per-shard filters (one
    * source read per batch, not per shard — scopedBatch releases it); an
    * armed compaction then runs `CodesIndex.compactShardedIndex`.
    */
  def ivfShardedIngestSink(vectors: DataFrame,
                           model: ShardedModel[Layout],
                           checkpointDir: String,
                           compactAboveFiles: Int = 0): DataStreamWriter[Row] =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(scopedBatch { (batch: DataFrame, batchId: Long) =>
        CodesIndex.appendToShardedIndexIdempotent(model,
          graft.CacheScope.global.persist(batch), batchId)
        if (compactAboveFiles > 0)
          CodesIndex.compactShardedIndex(batch.sparkSession, model,
            maxFilesPerList = compactAboveFiles)
        ()
      })

  /** Streaming takedown sink — the DELETE verb's streaming form, closing
    * the index lifecycle loop (ingest / probe / delete all drivable from
    * streams) for any of the five layouts: each micro-batch of (vec_id)
    * rows lands as tombstone files committed with its batch id
    * (`CodesIndex.deleteFromIndex`; per list when listed, resolved from the
    * index's two id columns), so replays are no-ops. Probes mask the deleted ids immediately (the ADC
    * probes before their rerank cut); the next compaction (or an armed
    * [[ivfIngestSinkAuto]]) drops them physically. One checkpoint per
    * index — batchIds key the delete commits.
    */
  def codesDeleteSink(ids: DataFrame,
                      model: CodesModel[Layout],
                      checkpointDir: String): DataStreamWriter[Row] =
    ids.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, batchId: Long) =>
        CodesIndex.deleteFromIndex(model, batch, batchId)
      })

  /** Streaming ANN probe over a compressed-codes index (PQ, SQ8, IVF-PQ
    * or IVF-SQ8) — [[ivfProbeSink]]'s twin: each micro-batch of query
    * vectors runs the set-oriented ADC engine
    * ([[graft.operators.CodesIndex.probeAll]], per-query bit-identical to
    * `CodesIndex.probe`; `nprobe` applies to the listed layouts) and
    * delivers (query_id, vec_id, cosine, rn) exactly-once under the same
    * deterministic per-batchId file contract. Same foreachBatch rationale:
    * top-k per query is a ranking, and the micro-batch is its closed
    * candidate set.
    */
  def codesProbeSink(queries: DataFrame,
                     model: CodesModel[Codec],
                     corpus: DataFrame, outDir: String, checkpointDir: String,
                     k: Int = 10, nprobe: Int = 4,
                     rerank: Int = 50): DataStreamWriter[Row] =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendBatchFileIdempotent(
          CodesIndex.probeAll(model, corpus, batch, k, nprobe, rerank),
          outDir, s"probe-$batchId.parquet")
      })

  /** Self-maintaining ingest — [[codesIngestSink]] plus DRIFT handling for
    * a raw IVF index: each batch appends, optionally compacts, and when the
    * max/mean list ratio exceeds `rebalanceAboveRatio` runs
    * `Ivf.rebalanceIndex`, which commits the updated model for the NEXT
    * batch. Every verb assigns with the model of the snapshot it commits on
    * (the newest, which survives restarts and reflects every earlier
    * split), so `model` only names the index. This is the sink that keeps
    * nprobe pruning effective under a drifting corpus without any external
    * maintenance job.
    *
    * Exactly-once under evolution: the snapshot's batch id makes a replayed
    * batch a no-op even though a post-append re-balance moved its rows
    * across lists. Probe-side readers should resolve
    * `CodesIndex.currentModel` rather than hold the initial model.
    */
  def ivfIngestSinkAuto(vectors: DataFrame,
                        model: graft.operators.Ivf.IvfModel,
                        checkpointDir: String,
                        compactAboveFiles: Int = 0,
                        rebalanceAboveRatio: Double = 0.0): DataStreamWriter[Row] =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        CodesIndex.appendToIndexIdempotent(model, batch, batchId)
        if (compactAboveFiles > 0)
          CodesIndex.compactIndex(spark, model, maxFilesPerList = compactAboveFiles)
        if (rebalanceAboveRatio > 0.0)
          graft.operators.Ivf.rebalanceIndex(spark, model, rebalanceAboveRatio)
        ()
      })

  /** Streaming decontamination gate — the ingest twin of the batch
    * `cur_decontaminate` flow: each incoming document counts its distinct
    * n-gram shingles against the benchmark probe set and is dropped when
    * hits ≥ minHits. The probe set arrives as ONE static row (the
    * collect_set of probe shingle hashes — benchmark-sized by the same
    * contract as [[graft.operators.TextAnalysis.contaminationHits]]), so
    * the check is a broadcast stream-static cross join + a per-row
    * array_intersect: stateless append, no watermark, no state, and the
    * fused shingle kernel runs once per row.
    */
  def decontaminateStream(docs: DataFrame, probeDocs: DataFrame,
                          n: Int = 3, minHits: Int = 5): DataFrame = {
    import graft.operators.Dedup
    val probe = probeDocs
      .select(explode(Dedup.hashedShingles(col("text"), n)).as("h"))
      .agg(collect_set("h").as("probe_sh"))
    docs.crossJoin(probe)
      .withColumn("n_hits",
        size(array_intersect(Dedup.hashedShingles(col("text"), n), col("probe_sh"))))
      .filter(col("n_hits") < minHits)
      .drop("probe_sh", "n_hits")
  }

  /** Streaming SPAN-level decontamination — the surgical twin of
    * [[decontaminateStream]] (which drops whole documents): each
    * micro-batch of documents runs
    * [[graft.operators.Dedup.cutContaminatedSpans]] against the STATIC
    * benchmark, so exactly the token runs shared with the benchmark are
    * cut and the cleaned rows land in `outDir`. Per-document output
    * depends only on (document, benchmark) — no cross-batch state — so
    * the stream is the batch operator applied per batch, bit-for-bit
    * (parity in StreamingSpec). The span machinery needs keyed windows,
    * which streaming DataFrames can't host → foreachBatch, with
    * [[graft.sources.Sinks.appendBatchFileIdempotent]]'s deterministic
    * per-batch file names making crash replays no-ops.
    */
  def spanDecontaminateSink(docs: DataFrame, benchmark: DataFrame,
                            outDir: String, checkpointDir: String,
                            minLen: Int = 10): DataStreamWriter[Row] = {
    // the benchmark never changes across batches: build + persist its gram
    // table ONCE here (global scope: the first batch materializes the
    // cache, every later batch reuses it; an interleaved release only
    // costs a rebuild, never correctness) instead of re-exploding the
    // static side inside every micro-batch
    val occB = graft.CacheScope.global.persist(
      graft.operators.Dedup.benchmarkGrams(benchmark, minLen))
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, batchId: Long) =>
        val scope = new graft.CacheScope
        val cleaned = graft.operators.Dedup
          .cutSpansWithGrams(batch, occB, minLen, scope)
        graft.sources.Sinks.appendBatchFileIdempotent(
          cleaned, outDir, s"batch-$batchId.parquet")
        scope.release()
      })
  }

  /** The STREAMING pretraining-corpus flagship: every micro-batch of new
    * documents is absorbed into the full six-stage `cur_pretrain` state
    * (collapse → substring strip → decontamination → quality gate →
    * tempered mixture → packing) through the INCREMENTAL machinery — the
    * batch and its shared-gram frontier go through the expensive text
    * stages, the standing corpus's artifacts are reused, and the
    * metadata-sized global stages (budgets, packing) are recomputed —
    * then committed as a new state version
    * ([[graft.operators.Pretrain.absorbBatch]]'s versioned-dir protocol:
    * the highest version with a `_done` marker is the committed state, so
    * it is exactly-once under crash replay). After any batch,
    * [[graft.operators.Pretrain.packedSnapshot]] equals the batch
    * `Pretrain.full` over every document ingested so far (parity in
    * StreamingSpec) — a training set that is always current and never
    * rebuilt from scratch.
    */
  def pretrainIngestSink(docs: DataFrame, probe: DataFrame, stateDir: String,
                         checkpointDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch (scopedBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Pretrain.absorbBatch(batch, probe, stateDir, batchId)
      })

  /** Streaming Bloom-prefiltered exact dedup — the ingest twin of
    * [[graft.operators.Dedup.bloomNovel]]: each micro-batch row tests the
    * broadcast serialized corpus filter (codegen'd BloomFilterMightContain,
    * a pure narrow filter — definitely-new rows emit without touching the
    * corpus), and only might-contain rows pay the stream-static left-anti
    * join against the corpus keys. Output = exactly the novel rows
    * (anti-join semantics at any fpp), stateless append — no watermark,
    * no state; the filter is the batch-built memoized index, so stream
    * and batch share one membership artifact.
    */
  def bloomNovelStream(docs: DataFrame, corpus: DataFrame, keyCol: String,
                       indexKey: String, expectedItems: Long,
                       fpp: Double = 0.01): DataFrame = {
    import graft.operators.Dedup
    val filter = Dedup.bloomIndex(indexKey, corpus, col(keyCol), expectedItems, fpp)
    val might = Dedup.bloomProbe(filter, col(keyCol))
    docs.filter(!might).unionByName(
      docs.filter(might)
        .join(corpus.select(keyCol), Seq(keyCol), "left_anti"))
  }

  /** Streaming perceptual-hash dedup — the image-ingest twin of
    * [[semanticDupStream]]: each incoming asset is aHash64-fingerprinted
    * (fused kernel, pure per-row) and joined against the corpus signature
    * table on the 4 pigeonhole chunk keys; bit_count(xor) verifies
    * Hamming ≤ maxDist. Stateless append — no watermark, no state.
    *
    * Exactly-once emission without a distinct: a pair agreeing on several
    * chunks would match the join once per chunk, so a row is kept only
    * when its join chunk is the FIRST chunk on which the two hashes agree
    * — a pure function of (h_a, h_c), so deduplication needs no state.
    * Emits (asset_id, corpus_id, hamming); an asset with no row is a
    * novel image.
    */
  def phashDupStream(assets: DataFrame, corpusSigs: DataFrame,
                     maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      "4-chunk pigeonhole banding is only complete for Hamming <= 3")
    def chunk(h: Column, j: Int): Column =
      shiftright(h, 16 * j).bitwiseAND(lit(65535L))
    def chunksOf(h: Column): Column = array((0 until 4).map(chunk(h, _)): _*)
    val firstAgree = (a: Column, b: Column) =>
      (0 until 4).foldRight(lit(-1)) { (j, acc) =>
        when(chunk(a, j) === chunk(b, j), lit(j)).otherwise(acc)
      }
    val statics = corpusSigs.select(col("corpus_id"), col("phash").as("h_c"),
      posexplode(chunksOf(col("phash"))).as(Seq("chunk", "cval")))
    graft.operators.Multimodal.withAHash(assets)
      .select(col("asset_id"), col("phash").as("h_a"),
        posexplode(chunksOf(col("phash"))).as(Seq("chunk", "cval")))
      .join(statics, Seq("chunk", "cval"))
      .filter(col("asset_id") =!= col("corpus_id") &&
        col("chunk") === firstAgree(col("h_a"), col("h_c")))
      .select(col("asset_id"), col("corpus_id"),
        bit_count(expr("h_a ^ h_c")).as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Per-type state for [[gapFillHourlyStream]]: the next hour to emit and
    * the not-yet-finalized hour counts (watermark-bounded — hours leave the
    * map the moment the watermark finalizes them).
    */
  case class GapState(nextHourSec: Long, pending: Map[Long, Long])

  /** Streaming gap-fill — the stream twin of the batch `events_gapfill`
    * densify: per event type, emit (hour, event_type, n_events) for EVERY
    * hour from the type's first event to the watermark, INCLUDING zero
    * rows for silent hours. A batch job densifies after the fact; a
    * monitor needs the zero row the moment the hour is over — and only a
    * timer-driven operator can emit a row no event triggered, so this is
    * flatMapGroupsWithState with EventTimeTimeout rather than a windowed
    * aggregation.
    *
    * Emission contract: hour h is final once the watermark passes h+1h
    * (any event of that hour would now be dropped as late), so output is
    * append-mode stable and exactly-once across restarts. Out-of-order
    * arrivals below the current emit frontier are impossible for the same
    * reason — a non-late event's hour is always ≥ the highest finalized
    * hour. Zero rows for a silent type keep flowing because OTHER types'
    * events advance the shared watermark and the per-type timeout re-fires
    * each batch.
    *
    * State per type: one long + the pending slice [watermark, max-seen
    * hour] of hour counts — watermark-bounded, independent of stream
    * length.
    */
  def gapFillHourlyStream(events: DataFrame,
                          watermark: String = "1 hour"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_type").cast("string").as("event_type"),
        col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[GapState, (java.sql.Timestamp, String, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (etype: String, rows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[GapState]) =>
          val wmSec = state.getCurrentWatermarkMs() / 1000
          val incoming = rows.map(_._2.getTime / 1000 / 3600 * 3600).toSeq
          val st0 = state.getOption.getOrElse(GapState(Long.MaxValue, Map.empty))
          val pending = incoming.foldLeft(st0.pending)((m, h) =>
            m.updated(h, m.getOrElse(h, 0L) + 1))
          // the frontier only moves DOWN on the first batch for the type
          // (later non-late events are always at or above the watermark,
          // hence above every already-emitted hour)
          var h = math.min(st0.nextHourSec,
            if (incoming.isEmpty) Long.MaxValue else incoming.min)
          val out = Seq.newBuilder[(java.sql.Timestamp, String, Long)]
          while (h != Long.MaxValue && h + 3600 <= wmSec) {
            out += ((new java.sql.Timestamp(h * 1000), etype,
              pending.getOrElse(h, 0L)))
            h += 3600
          }
          state.update(GapState(h, pending.filter(_._1 >= h)))
          // re-arm every batch: fires as soon as the watermark moves again
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          out.result().iterator
      }
      .toDF("hour", "event_type", "n_events")
  }

  /** Buffered per-user state for [[asofJoinStream]]: (epochMs, id) pairs of
    * retained clicks and not-yet-finalized purchases.
    */
  case class AsofBuf(clicks: List[(Long, Long)], purchases: List[(Long, Long)])

  /** One enriched purchase emitted by [[asofJoinStream]] (click fields are
    * None when no click preceded the purchase within the retained state).
    */
  case class AsofEnriched(user_id: Long, purchase_id: Long,
                          p_ts: java.sql.Timestamp,
                          click_id: Option[Long],
                          c_ts: Option[java.sql.Timestamp])

  /** Streaming as-of join — the stream twin of
    * [[graft.operators.AsofJoin.asofJoin]]: every purchase is enriched with
    * the LATEST click with `c.ts <= p.ts` for the same user (<= semantics,
    * like the batch op). Spark's stream-stream joins only do equi/interval
    * conditions, so as-of needs custom state: flatMapGroupsWithState per
    * user over the tagged union of both streams (the same union+tag layout
    * as the batch formulation).
    *
    * Correctness under out-of-order arrival: a purchase is only finalized
    * once the event-time watermark has passed its timestamp — after that no
    * click with an earlier timestamp can still arrive (the watermark drops
    * older rows), so the "latest preceding click" answer is stable. Pending
    * purchases buffer in state until then; emission is append-mode.
    *
    * State is WATERMARK-BOUNDED on both sides:
    *  - purchases leave state as soon as the watermark finalizes them;
    *  - of the clicks at or before the watermark only the LATEST is
    *    retained (any older one is dominated for every future purchase);
    *    clicks above the watermark are all kept (a pending purchase may
    *    land between them);
    *  - a user with no pending purchases keeps that single latest click
    *    until `lookbackSec` past its timestamp (event-time timeout), then
    *    the state is dropped — so a purchase arriving later than the
    *    lookback after the last click matches NO click. Bounded lookback is
    *    the streaming contract (same shape as [[sessionize]]'s expiry);
    *    unbounded as-of history belongs to the batch op.
    *
    * Inputs need (user_id, ts, purchase_id) / (user_id, ts, click_id).
    */
  def asofJoinStream(purchases: DataFrame, clicks: DataFrame,
                     watermark: String = "2 hours",
                     lookbackSec: Long = 7200): DataFrame = {
    val spark = purchases.sparkSession
    import spark.implicits._
    val p = purchases.select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        lit(1).as("side"), col("purchase_id").cast("long").as("id"))
      .withWatermark("ts", watermark)
    val c = clicks.select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        lit(0).as("side"), col("click_id").cast("long").as("id"))
      .withWatermark("ts", watermark)
    p.unionByName(c)
      .as[(Long, java.sql.Timestamp, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofBuf, AsofEnriched](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp, Int, Long)],
         state: GroupState[AsofBuf]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(AsofBuf(Nil, Nil))
          val arrived = rows.toList
          val clicksAll = prev.clicks ++
            arrived.collect { case (_, ts, 0, id) => (ts.getTime, id) }
          val purchAll = prev.purchases ++
            arrived.collect { case (_, ts, 1, id) => (ts.getTime, id) }
          // finalize purchases the watermark has passed: their answer can
          // no longer change
          val (ready, pending) = purchAll.partition(_._1 <= wm)
          val out = ready.sorted.map { case (pts, pid) =>
            val eligible = clicksAll.filter(_._1 <= pts)
            val best = if (eligible.isEmpty) None else Some(eligible.max)
            AsofEnriched(userId, pid, new java.sql.Timestamp(pts),
              best.map(_._2), best.map(b => new java.sql.Timestamp(b._1)))
          }
          // prune clicks: everything at or below the watermark is dominated
          // by the latest such click for every still-possible purchase
          val (oldClicks, liveClicks) = clicksAll.partition(_._1 <= wm)
          val kept = (if (oldClicks.isEmpty) Nil else List(oldClicks.max)) ++
            liveClicks
          if (pending.isEmpty && (state.hasTimedOut || kept.isEmpty)) {
            if (state.exists) state.remove()
          } else {
            state.update(AsofBuf(kept, pending))
            // wake when the earliest pending purchase can finalize; with no
            // pending purchases, expire the retained click at its lookback
            // horizon (must stay strictly above the current watermark)
            val horizon =
              if (pending.nonEmpty) pending.map(_._1).min
              else kept.map(_._1).max + lookbackSec * 1000
            state.setTimeoutTimestamp(math.max(horizon, wm + 1))
          }
          out.iterator
      }
      .toDF()
  }

  /** Per-user session state for [[sessionize]]: count of events and sessions
    * seen so far, and the last event time (epoch seconds).
    */
  case class UserSessions(userId: Long, nEvents: Long, nSessions: Long, lastSec: Long)

  /** Stateful gap sessionization via mapGroupsWithState — the streaming twin
    * of EventQueries "events_sessionize" (30-min inactivity gap). Input rows
    * must be (user_id, ts) — sorted within group is NOT guaranteed by Spark,
    * so each batch's rows are sorted in the group function — correct as long
    * as a user's events arrive in-order across batches (true for the fixture
    * replay; out-of-order across batches would need flatMapGroupsWithState
    * with event buffering keyed by watermark).
    *
    * State is one small case class per user, WATERMARK-BOUNDED like
    * [[dedupStream]]: each update arms an event-time timeout at
    * lastEvent + gap, so once the watermark passes the point where no
    * future event could extend the user's last session, the state emits a
    * final snapshot and is removed — state size is O(users active inside
    * the watermark window), not O(all users ever seen). A user re-appearing
    * after expiry starts fresh counters (the contract of bounded state;
    * lifetime totals belong in a downstream aggregation over the emitted
    * snapshots).
    */
  def sessionize(events: DataFrame, gapSec: Long = 1800,
                 watermark: String = "2 hours"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserSessions, UserSessions](GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[UserSessions]) =>
          if (state.hasTimedOut) {
            // watermark passed lastSec + gap: nothing can extend the last
            // session — emit the final snapshot and drop the state
            val s = state.get
            state.remove()
            s
          } else {
            val sorted = rows.map(_._2.getTime / 1000).toArray.sorted
            val init = state.getOption.getOrElse(UserSessions(userId, 0L, 0L, Long.MinValue))
            val next = sorted.foldLeft(init) { (s, sec) =>
              val newSession = s.lastSec == Long.MinValue || sec - s.lastSec > gapSec
              UserSessions(userId, s.nEvents + 1,
                s.nSessions + (if (newSession) 1 else 0), sec)
            }
            state.update(next)
            // expire when the watermark passes the session-gap horizon;
            // must stay strictly above the current watermark or Spark
            // rejects the timestamp (late-arriving final events)
            val horizon = (next.lastSec + gapSec) * 1000
            state.setTimeoutTimestamp(math.max(horizon, state.getCurrentWatermarkMs() + 1))
            next
          }
      }
      .toDF()
      .select(col("userId").as("user_id"), col("nEvents").as("n_events"),
        col("nSessions").as("n_sessions"))
  }
}
