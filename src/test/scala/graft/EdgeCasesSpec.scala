package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators._

/** Degenerate-input behavior: empty tables, single rows, all-duplicate
  * corpora. At 100 TB some partition is always empty or degenerate — these
  * pin that no operator throws or mis-counts on the boundary.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup operators on an empty corpus return empty, not errors") {
    assert(Dedup.exactByKey(emptyDocs,
      graft.operators.TextAnalysis.fingerprintMd5(col("text")), "doc_id").count() === 0)
    assert(Dedup.jaccardPairs(emptyDocs, 0.5).count() === 0)
    assert(Dedup.minhashPairs(emptyDocs, 0.5).count() === 0)
    assert(Dedup.simhashPairs(emptyDocs).count() === 0)
  }

  test("an all-duplicate corpus collapses to one survivor and all pairs") {
    val docs = (1L to 5L).map(i => (i, "same exact text here repeated"))
      .toDF("doc_id", "text")
    val exact = Dedup.exactByKey(docs,
      graft.operators.TextAnalysis.fingerprintMd5(col("text")), "doc_id")
      .select($"doc_id", $"n_copies").as[(Long, Long)].collect()
    assert(exact.toSeq === Seq((1L, 5L))) // min doc_id survives, 5 copies
    // every unordered pair appears once with jaccard 1.0
    val pairs = Dedup.jaccardPairs(docs, 0.99).count()
    assert(pairs === 10) // C(5,2)
  }

  test("repetition ratio: 0 on unique trigram text, ~1 on degenerate text") {
    val out = Seq(
      (1L, "a b c d e f"),            // all trigrams unique → 0
      (2L, "x x x x x x x x x x"),    // one distinct trigram of 8 → 7/8
      (3L, "ab"))                     // < n tokens → 0 by definition
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.repetitionRatio($"text", 3).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) === 0.0)
    assert(math.abs(out(2L) - 7.0 / 8.0) < 1e-12)
    assert(out(3L) === 0.0)
  }

  test("chunking and stats survive an empty corpus and empty text") {
    assert(Curation.chunk(emptyDocs, 64, 8).count() === 0)
    val one = Seq((1L, "")).toDF("doc_id", "text")
    // empty string splits to [""]: one token, one 1-token chunk
    val c = Curation.chunk(one, 64, 8).select("n_chunk_tokens").as[Int].collect()
    assert(c.toSeq === Seq(1))
    assert(TextAnalysis.stats(one).count() === 1)
  }

  test("as-of and range joins with empty right side keep/drop left correctly") {
    val left = Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00"), 10L))
      .toDF("user_id", "ts", "event_id")
    val rightEmpty = Seq.empty[(Long, Timestamp, Long)]
      .toDF("user_id", "ts", "click_id")
    val asof = AsofJoin.asofJoin(left, rightEmpty, "user_id", "ts", Seq("click_id"))
    assert(asof.count() === 1) // left join semantics: row kept, null payload
    assert(asof.filter($"click_id".isNull).count() === 1)

    val rightEmptyIv = Seq.empty[(Long, Timestamp, Timestamp, Long)]
      .toDF("user_id", "w_start", "w_end", "purchase_id")
    val rj = RangeJoin.pointInInterval(left, rightEmptyIv,
      "user_id", "ts", "w_start", "w_end", Seq("purchase_id"))
    assert(rj.count() === 0) // inner join semantics: no intervals, no rows
  }

  test("SQ on a tiny corpus with constant dimensions (span 0) stays exact") {
    // dims with zero spread encode as code 0 on every vector and the
    // reconstruction contributes a constant — ranking must be unaffected;
    // at 100 TB a padded or dead embedding dimension is exactly this
    val tiny = Seq(
      (0L, Array.tabulate(64)(i => if (i == 0) 1.0f else 0.5f)),
      (1L, Array.tabulate(64)(i => if (i == 0) 0.9f else 0.5f)),
      (2L, Array.tabulate(64)(i => if (i == 0) -1.0f else 0.5f))
    ).toDF("vec_id", "embedding")
    val m = Sq.buildIndex("edge-sq-tiny", tiny)
    assert(m.codec.spans.drop(1).forall(_ === 0L), "dims 1..63 must have span 0")
    val got = CodesIndex.probe(m, tiny, 0L, 2, rerank = 10)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Similarity.topK(tiny, 0L, 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("IVF-SQ builds and probes when the corpus is smaller than nlist") {
    // 3 vectors, nlist 16: md5-bucket seeding yields <= 3 live lists;
    // training, encoding and the pruned probe must all survive
    val tiny = Seq(
      (0L, Array.tabulate(64)(i => if (i == 0) 1.0f else 0.5f)),
      (1L, Array.tabulate(64)(i => if (i == 0) 0.9f else 0.5f)),
      (2L, Array.tabulate(64)(i => if (i == 0) -1.0f else 0.5f))
    ).toDF("vec_id", "embedding")
    val m = IvfSq.buildIndex("edge-ivfsq-tiny", tiny)
    val got = CodesIndex.probe(m, tiny, 0L, 2,
      nprobe = m.coarse.get.centroids.length, rerank = 10)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Similarity.topK(tiny, 0L, 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("filtered search with an empty allow-list returns empty, not errors") {
    val emb = Tables.embeddings(spark, sfDir)
    val none = emb.filter($"label" === -999).select("vec_id")
    assert(Similarity.topKWhere(emb, 0L, 10, $"label" === -999).count() === 0)
    val sq = Sq.buildIndex(sfDir + "#edgespec", emb)
    assert(CodesIndex.probe(sq, emb, 0L, 10, allowed = Some(none)).count() === 0)
  }

  test("similarity on a single-vector corpus yields no neighbors") {
    val one = Seq((0L, Array.fill(Similarity.dim)(0.5f), "x"))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.topK(one, 0L, 5).count() === 0)
    assert(Dedup.embeddingPairs(one, 0.0).count() === 0)
  }

  test("keepLatest: highest version wins, untouched keys pass through") {
    val rows = Seq(
      (1L, "a", 0L), (1L, "b", 2L), (1L, "c", 1L), // three versions: b wins
      (2L, "x", 0L),                               // never updated
      (3L, "m", 5L), (3L, "n", 5L))                // version tie → tieCols
      .toDF("k", "v", "version")
    val got = graft.operators.Upsert
      .keepLatest(rows, Seq("k"), "version", tieCols = Seq("v"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((1L, "b", 2L), (2L, "x", 0L), (3L, "n", 5L)))
    intercept[IllegalArgumentException] {
      graft.operators.Upsert.keepLatest(rows, Nil, "version")
    }
  }

  test("scd2History: intervals chain per key, latest row open-ended") {
    val rows = Seq(
      (1L, "a", 0L), (1L, "b", 2L), (1L, "c", 1L), // chain 0 → 1 → 2
      (2L, "x", 0L))                               // single version
      .toDF("k", "v", "version")
    val got = graft.operators.Upsert.scd2History(rows, Seq("k"), "version")
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Long, Option[Long], Boolean)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(got === Seq(
      (1L, "a", 0L, Some(1L), false),
      (1L, "c", 1L, Some(2L), false),
      (1L, "b", 2L, None, true),
      (2L, "x", 0L, None, true)))
    // point-in-time read at version 1 sees exactly the v=1 state
    val asOf = graft.operators.Upsert.scd2History(rows, Seq("k"), "version")
      .filter(col("valid_from") <= 1 &&
        (col("valid_to").isNull || col("valid_to") > 1))
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(asOf === Set((1L, "c"), (2L, "x")))
  }

  test("z-outliers: constant-value groups yield no outliers, not NaN rows") {
    // σ = 0 makes z a 0/0 NaN; NaN > threshold is false in Spark AND DuckDB,
    // so constant groups must contribute zero rows identically on both
    val rows = Seq((1L, "flat", 5.0), (2L, "flat", 5.0), (3L, "flat", 5.0),
      (4L, "var", 1.0), (5L, "var", 1.0), (6L, "var", 100.0))
      .toDF("event_id", "event_type", "value")
    val out = Stats.zOutliers(rows, "event_type", "value", threshold = 1.0)
      .select("event_id").as[Long].collect().toSet
    assert(!out.exists(Set(1L, 2L, 3L))) // flat group contributes nothing
    assert(out.contains(6L))             // the genuine outlier survives
  }

  test("containment: sub-shingle-length docs never pair, identical docs hit 1.0") {
    val docs = Seq((1L, "a b"), (2L, "a b"), // 2 tokens < 3-shingle window
      (10L, "one two three four five"), (11L, "one two three four five"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((10L, 11L, 1.0)))
  }

  test("grid-walk quantiles agree with percentile() on the corpus") {
    // the scale-safe two-phase quantile must reproduce the buffering
    // percentile()'s answers (both interpolate linearly on the cent grid)
    val exact = SparkEntry.queries("quantiles")(spark, sfDir).collect()
    val scal = SparkEntry.queries("quantiles_scalable")(spark, sfDir).collect()
    assert(exact.length === scal.length && exact.nonEmpty)
    exact.zip(scal).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      for (i <- 1 to 4)
        assert(math.abs(a.getDouble(i) - b.getDouble(i)) <=
          1e-9 * math.max(1.0, math.abs(a.getDouble(i))),
          s"q$i mismatch for ${a.getString(0)}: ${a.getDouble(i)} vs ${b.getDouble(i)}")
    }
  }

  test("grid-walk quantiles: single-row groups degenerate to the value") {
    val df = Seq(("solo", 42.0), ("multi", 1.0), ("multi", 3.0))
      .toDF("g", "v")
    val got = Stats.exactQuantilesByGrid(df, "g", "v", Seq(0.5))
      .select("g", "quantile").as[(String, Double)].collect().toMap
    assert(got("solo") === 42.0)
    assert(got("multi") === 2.0) // midpoint interpolation
  }

  test("stats_corr sufficient statistics handle a single-row group") {
    // n = 1 makes n·sxx − sx² = 0 → corr NaN; it must not throw, and the
    // multi-row group must still produce a finite value
    val rows = Seq(("solo", 1.0, 2.0), ("multi", 1.0, 2.0),
      ("multi", 2.0, 4.0), ("multi", 3.0, 6.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    // reuse the registered query's exact shape via a temp view is overkill;
    // assert through the public stats pieces instead
    val stats = Stats.centStats(rows, "l_returnflag", "l_quantity")
    assert(stats.count() === 2)
    val multi = stats.filter(col("l_returnflag") === "multi")
      .select(col("sv").cast("long")).as[Long].head()
    assert(multi === 600L) // cents grid: (100 + 200 + 300)
  }

  test("madOutlierSummary: hand-checked median/MAD; zero-MAD group flags nothing") {
    // A: 1..9 + one outlier 1000. med = 5.5, sorted adevs
    // (0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,994.5) -> MAD 2.5; only the
    // outlier's |mz| = .6745*994.5/2.5 exceeds 3.5.
    // B: five 7s + one 100 -> MAD 0 -> guard flags nothing.
    val df = ((1 to 9).map(i => ("A", i.toDouble)) :+ ("A", 1000.0)) ++
      (Seq.fill(5)(("B", 7.0)) :+ ("B", 100.0))
    val got = Stats.madOutlierSummary(df.toDF("g", "v0"), "g", "v0")
      .select("g", "n", "med", "mad", "n_outliers")
      .as[(String, Long, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("A") === ((10L, 5.5, 2.5, 1L)))
    assert(got("B") === ((6L, 7.0, 0.0, 0L)))
  }

  test("winsorize: hand-checked cuts, clip counts and clipped mean on 1..100") {
    val df = (1 to 100).map(i => ("A", i.toDouble)).toDF("g", "v0")
    val w = Stats.winsorize(df, "g", "v0")
    // p05 at rank 4.95 -> 5.95; p95 at rank 94.05 -> 95.05
    val sums = w.groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(when(col("clip") === "lo", 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("clip") === "hi", 1L).otherwise(0L)).as("n_hi"),
        sum(floor(col("v_wins") * 100.0 + 0.5).cast("long")).as("sc"))
      .as[(String, Long, Long, Long, Long)].head()
    assert(sums === (("A", 100L, 5L, 5L, 505000L)))
    // 5*5.95 + sum(6..95) + 5*95.05 = 5050.00 -> 505000 cents
    // and a singleton group clips nothing
    val one = Stats.winsorize(Seq(("B", 7.0)).toDF("g", "v0"), "g", "v0")
      .select("v_wins", "clip").as[(Double, String)].head()
    assert(one === ((7.0, "none")))
  }
}
