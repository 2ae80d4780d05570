package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.VectorOps

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = spark.sql(
      """SELECT CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>) AS a,
        |       CAST(array(0.0, 0.0, 0.0) AS ARRAY<FLOAT>) AS z,
        |       CAST(array(-2.0, 1.0, 0.0) AS ARRAY<FLOAT>) AS o""".stripMargin)
    val (self, zero, orth) = df.select(
      VectorOps.cosine($"a", $"a"), VectorOps.cosine($"a", $"z"),
      VectorOps.cosine($"a", $"o"))
      .as[(Option[Double], Option[Double], Option[Double])].head()
    assert(math.abs(self.get - 1.0) < 1e-12)
    assert(zero.isEmpty) // zero-norm guarded to null
    assert(math.abs(orth.get) < 1e-12)
  }

  test("topKTwoStage: fine results live inside the coarse cut; exhaustive coarse equals brute force") {
    import graft.operators.{CorpusIndex, Embed}
    val docs = Tables.documents(spark, sfDir)
    val docEmb = Embed.hashedTf(docs)
    val (_, chunkEmb) = CorpusIndex.buildChunkIndex(s"$sfDir#chunks-spec", docs)
    val out = Similarity.topKTwoStage(docEmb, chunkEmb, 0L, 20, 10).collect()
    assert(out.length === 10)
    // every fine result's parent is in the coarse top-20
    val coarse = Similarity.topK(docEmb, 0L, 20)
      .select("vec_id").as[Long].collect().toSet
    out.foreach(r => assert(coarse.contains(r.getLong(1))))
    // cosines non-increasing
    val cos = out.map(_.getDouble(2))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    // exhaustive coarse cut (>= all docs) degenerates to brute force over
    // every chunk whose parent isn't the query doc
    val nDocs = docs.count().toInt
    val exhaustive = Similarity.topKTwoStage(docEmb, chunkEmb, 0L, nDocs + 1, 10)
      .select("vec_id").as[Long].collect().toSeq
    val brute = chunkEmb
      .filter(shiftright($"vec_id", 20) =!= 0L)
      .crossJoin(broadcast(docEmb.filter($"vec_id" === 0L)
        .select($"embedding".as("q_emb"))))
      .withColumn("cosine", nanvl(VectorOps.cosine($"embedding", $"q_emb"),
        lit(null).cast("double")))
      .orderBy(desc("cosine"), $"vec_id")
      .select("vec_id").limit(10).as[Long].collect().toSeq
    assert(exhaustive === brute)
  }

  test("ragContext packs a strict rank-order prefix under the token budget") {
    import graft.operators.{CorpusIndex, Curation, Embed}
    val docs = Tables.documents(spark, sfDir)
    val docEmb = Embed.hashedTf(docs)
    val (_, chunkEmb) = CorpusIndex.buildChunkIndex(s"$sfDir#chunks-spec", docs)
    val texts = Curation.chunk(docs.select("doc_id", "text"), 64, 8)
      .select(CorpusIndex.chunkKey($"doc_id", $"chunk_no").as("vec_id"),
        $"chunk_text")
    val budget = 400L
    val out = Similarity.ragContext(docEmb, chunkEmb, texts, 0L, 20, 20, budget)
      .select("rn", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    // contiguous rank prefix, budget never exceeded, cumsum consistent
    assert(out.map(_._1).toSeq === (1L to out.length.toLong))
    assert(out.forall(_._3 <= budget))
    assert(out.map(_._2).sum === out.last._3)
    // the cut binds: the full 20-chunk pool would overflow the budget
    val unbounded = Similarity.ragContext(docEmb, chunkEmb, texts, 0L, 20, 20,
      Long.MaxValue)
    assert(unbounded.count() > out.length,
      "budget never bound — raise poolK or lower the budget in this spec")
  }

  test("topK agrees with knnJoin's ranking for the same query") {
    val emb = Tables.embeddings(spark, sfDir)
    val top = Similarity.topK(emb, 0L, 5)
      .as[(Long, Double)].collect().toSeq
    val knn = Similarity.knnJoin(emb, emb.filter($"vec_id" === 0), 5)
      .orderBy("rn").select("neighbor_id", "cosine")
      .as[(Long, Double)].collect().toSeq
    assert(top === knn)
  }

  test("LSH ANN: results are true cosines, recall vs exact is reported") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.topK(emb, 0L, 10).as[(Long, Double)].collect()
    val approx = Similarity.annTopKLsh(emb, 0L, 10).as[(Long, Double)].collect()
    // every LSH result must carry its true cosine (exact re-rank)
    val exactAll = Similarity.topK(emb, 0L, 499).as[(Long, Double)].collect().toMap
    approx.foreach { case (id, c) => assert(math.abs(exactAll(id) - c) < 1e-12) }
    val recall = approx.map(_._1).toSet.intersect(exact.map(_._1).toSet).size / 10.0
    info(s"LSH recall@10 = $recall (tables=8, bits=4)")
    assert(recall >= 0.2) // random-vector corpus: a conservative floor
  }

  test("corpus-wide LSH kNN: true cosines, useful mean recall vs exact") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.knnJoin(emb, emb, 3)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val approx = Similarity.knnJoinLsh(emb, 3)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect()
    // spot-check scores are exact cosines for query 0
    val exactAll = Similarity.topK(emb, 0L, 499).as[(Long, Double)].collect().toMap
    approx.filter(_._1 == 0L).foreach { case (_, id, c) =>
      assert(math.abs(exactAll(id) - c) < 1e-12)
    }
    val byQuery = approx.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = exact.map { case (q, ex) =>
      byQuery.get(q).map(ap => (ap & ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    info(s"corpus kNN mean recall@3 = $mean (tables=8, bits=4)")
    assert(mean >= 0.3) // random-vector corpus floor; planted dups score ~1
  }

  test("fused LSH kNN equals the distinct-then-rank reference exactly") {
    // the fused form (cosine inside the bucket join + in-buffer id dedup)
    // must be row-identical to the explicit pipeline it replaced:
    // id-only pairs → distinct → two embedding re-joins → window rank
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Similarity.lshIndex(emb, 8, 4).select("vec_id", "table", "bucket")
    val pairs = idx.select(col("vec_id").as("query_id"), col("table"), col("bucket"))
      .join(idx.select(col("vec_id").as("neighbor_id"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val q = emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val n = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    val ref = pairs.join(q, "query_id").join(n, "neighbor_id")
      .withColumn("cosine", VectorOps.cosine(col("q_emb"), col("n_emb")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("query_id", "neighbor_id", "cosine", "rn")
    val got = Similarity.knnJoinLsh(emb, 3)
    // same kernel computes both cosines, so the doubles are bit-identical
    // and exact set compare is valid
    assert(got.exceptAll(ref).isEmpty, "fused produced rows the reference lacks")
    assert(ref.exceptAll(got).isEmpty, "fused dropped rows the reference has")
  }

  test("topKDistinct collapses cross-table duplicates inside the buffer") {
    val df = Seq(
      (1L, 10L, 0.9), (1L, 10L, 0.9), (1L, 11L, 0.95), (1L, 12L, 0.1),
      (1L, 11L, 0.95), (1L, 13L, 0.5), (2L, 10L, 0.5), (2L, 10L, 0.5))
      .toDF("g", "id", "score")
    val got = df.groupBy("g")
      .agg(graft.functions.TopK.topKDistinct(2)(col("id"), col("score")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "s")))
      .select($"g", $"s.id", $"s.score")
      .as[(Long, Long, Double)].collect().toSet
    assert(got === Set((1L, 11L, 0.95), (1L, 10L, 0.9), (2L, 10L, 0.5)))
  }

  test("knnJoinLshAuto: planner resolves (4,4) at the gate fixture and runs") {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val bits = Similarity.autoBits(n)
    val tables = Similarity.autoTables(0.15, bits, targetRecall = 0.9)
    assert((bits, tables) === (4, 4),
      "gate-fixture planner point moved — regenerate the ann_knn_lsh_auto twin")
    val auto = Similarity.knnJoinLshAuto(emb, 3)
    val pinned = Similarity.knnJoinLsh(emb, 3, tables = tables, bits = bits)
    assert(auto.exceptAll(pinned).isEmpty && pinned.exceptAll(auto).isEmpty)
  }

  test("hardNegatives: other-label only, under ceiling, ranked; LSH is a recalled subset") {
    val emb = Tables.embeddings(spark, sfDir)
    val labels = emb.select($"vec_id", $"label").as[(Long, Long)].collect().toMap
    val exact = Similarity.hardNegatives(emb, 3)
      .select("anchor_id", "neg_id", "cosine", "rn")
      .as[(Long, Long, Double, Int)].collect()
    // contract: negative label differs from anchor's, cosine under the
    // near-dup ceiling, per-anchor ranks contiguous and cosine-descending
    exact.foreach { case (a, n, c, _) =>
      assert(labels(a) != labels(n)); assert(c < 0.95)
    }
    exact.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1 to sorted.size))
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-_).toSeq)
    }
    // LSH sibling: same gates, true cosines, useful recall vs exact
    val approx = Similarity.hardNegativesLsh(emb, 3)
      .select("anchor_id", "neg_id", "cosine")
      .as[(Long, Long, Double)].collect()
    val exactCos = exact.map(r => (r._1, r._2) -> r._3).toMap
    val fullCos = approx.map { case (a, n, c) =>
      assert(labels(a) != labels(n)); assert(c < 0.95); (a, n) -> c
    }.toMap
    // any pair both forms surface must carry the identical kernel cosine
    fullCos.foreach { case (k, c) =>
      exactCos.get(k).foreach(ec => assert(ec === c)) }
    val exSets = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val apSets = approx.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = exSets.map { case (a, ex) =>
      apSets.get(a).map(ap => (ap & ex).size.toDouble / ex.size).getOrElse(0.0) }
    val mean = recalls.sum / recalls.size
    info(s"hard-negative mean recall@3 = $mean (tables=8, bits=4)")
    assert(mean >= 0.3) // random-vector corpus floor, same as knnJoinLsh
  }

  test("contrastiveTriples: positive is the true same-label top-1, negatives ride along") {
    val emb = Tables.embeddings(spark, sfDir)
    val labels = emb.select($"vec_id", $"label").as[(Long, Long)].collect().toMap
    val got = Similarity.contrastiveTriples(emb, 3)
      .select("anchor_id", "pos_id", "pos_cosine", "neg_id", "neg_cosine", "rn")
      .as[(Long, Long, Double, Long, Double, Int)].collect()
    // positive shares the anchor's label and is never the anchor itself
    got.foreach { case (a, p, _, n, _, _) =>
      assert(labels(a) == labels(p) && a != p)
      assert(labels(a) != labels(n))
    }
    // per anchor exactly one positive (replicated across its k negatives)
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(r => (r._2, r._3)).distinct.size === 1)
    }
    // spot-check anchor 0: the positive IS the best same-label cosine
    val brute = Similarity.topK(emb, 0L, 499).as[(Long, Double)].collect()
      .filter { case (id, _) => labels(id) == labels(0L) }
    val bestPos = brute.maxBy { case (id, c) => (c, -id) }
    val a0 = got.filter(_._1 == 0L).head
    assert((a0._2, a0._3) === bestPos)
    // negative legs agree with the standalone miner exactly
    val hn = Similarity.hardNegatives(emb, 3)
      .select("anchor_id", "neg_id", "cosine", "rn")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got.map(r => (r._1, r._4, r._5, r._6)).toSet === hn)
    // LSH sibling honors the same label contract on whatever it recalls
    Similarity.contrastiveTriplesLsh(emb, 3)
      .select("anchor_id", "pos_id", "neg_id")
      .as[(Long, Long, Long)].collect().foreach { case (a, p, n) =>
        assert(labels(a) == labels(p) && a != p && labels(a) != labels(n))
      }
  }

  test("autoTables: more width needs more tables, recall target is honored") {
    // monotone in bits at fixed angle (wider hash ⇒ lower per-table recall)
    val ts = Seq(4, 9, 12).map(b => Similarity.autoTables(0.15, b))
    assert(ts === ts.sorted, s"tables not monotone in bits: $ts")
    // the planner's own guarantee: 1 − (1 − p1^bits)^tables ≥ target
    for (b <- Seq(4, 9, 12); target <- Seq(0.9, 0.95)) {
      val t = Similarity.autoTables(0.15, b, target)
      val p1 = 1.0 - 0.15
      val hit = 1.0 - math.pow(1.0 - math.pow(p1, b.toDouble), t.toDouble)
      assert(hit >= target - 1e-12, s"bits=$b tables=$t recall=$hit < $target")
    }
  }

  test("autoBits: fixture width stays 4, width grows with log corpus, clamped") {
    // the oracle anchor: at every fixture scale ≤ 1024 vectors the width
    // must resolve to 4 so the inlined-hyperplane DuckDB twin stays valid
    assert(Similarity.autoBits(500) === 4)
    assert(Similarity.autoBits(1024) === 4)
    assert(Similarity.autoBits(2000) === 5)
    assert(Similarity.autoBits(20000) === 9)
    assert(Similarity.autoBits(1L << 40) === 16) // clamp: 2^16 buckets max
    assert(Similarity.autoBits(0) === 4)
  }

  test("autoNlist holds list width at the target until the broadcast cap") {
    assert(Similarity.autoNlist(200) === 8)        // floor clamp
    assert(Similarity.autoNlist(20000) === 10)
    assert(Similarity.autoNlist(200000) === 98)
    // inside the cap, the implied width never exceeds the target
    for (n <- Seq(100000L, 10000000L, 100000000L)) {
      val nl = Similarity.autoNlist(n)
      assert((n + nl - 1) / nl <= 2048, s"width blew past target at n=$n")
    }
    // past the cap the quantizer stops growing (broadcast-small contract)
    assert(Similarity.autoNlist(100000000000L) === 65536)
  }

  test("autoTables inverts the planner curve: chosen T actually hits the target") {
    for (thetaFrac <- Seq(0.1, 0.2, 0.3); bits <- Seq(4, 7, 9)) {
      val t = Similarity.autoTables(thetaFrac, bits, 0.95)
      val p1 = 1.0 - thetaFrac
      def recall(tables: Int) = 1.0 - math.pow(1.0 - math.pow(p1, bits), tables)
      // either the target is met, or the cost clamp kicked in (far pairs at
      // wide tables — the planner says the target is unaffordable there)
      if (t < 64) {
        assert(recall(t) >= 0.95, s"theta=$thetaFrac bits=$bits T=$t")
        // and T is minimal (one fewer table misses the target), unless T=1
        if (t > 1) assert(recall(t - 1) < 0.95)
      }
    }
    // defaults sanity: close neighbors at 4 bits need few tables
    assert(Similarity.autoTables(0.2, 4) <= 8)
  }

  test("LSH index is deterministic across invocations") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = Similarity.lshIndex(emb).select("vec_id", "table", "bucket")
      .as[(Long, Int, Long)].collect().toSet
    val b = Similarity.lshIndex(emb).select("vec_id", "table", "bucket")
      .as[(Long, Int, Long)].collect().toSet
    assert(a === b)
  }

  test("labelDiversity equals the brute-force pairwise mean; singleton label is 0") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), 0),
        |  (2L, CAST(array(0.0, 1.0) AS ARRAY<FLOAT>), 0),
        |  (3L, CAST(array(1.0, 1.0) AS ARRAY<FLOAT>), 0),
        |  (4L, CAST(array(5.0, 5.0) AS ARRAY<FLOAT>), 1)
        |  AS t(vec_id, embedding, label)""".stripMargin)
    val got = Similarity.labelDiversity(df)
      .as[(Int, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // label 0 brute force over ordered pairs incl. self:
    // d2(1,2)=2, d2(1,3)=1, d2(2,3)=1 -> 2*(2+1+1)/9 = 0.888...
    val expected = math.floor(2.0 * 4.0 / 9.0 * 10000.0 + 0.5) / 10000.0
    assert(got(0) === ((3L, expected)))
    assert(got(1) === ((1L, 0.0)))
  }

  test("embeddingHealth: planted defects counted by class, clean corpus all ok") {
    val defects = Tables.embeddingsWithDefects(spark, "/root/testdata/sf0.01")
    val r = Similarity.embeddingHealth(defects, 64).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) === ((500L, 6L, 5L, 6L, 6L, 477L)))
    val clean = Similarity.embeddingHealth(
      Tables.embeddings(spark, "/root/testdata/sf0.01"), 64).collect()(0)
    assert(clean.getLong(5) === clean.getLong(0)) // every row ok
  }

  test("filtered top-k: predicate prunes before ranking and pushes to the scan") {
    val emb = Tables.embeddings(spark, sfDir)
    val got = Similarity.topKWhere(emb, 0L, 10, $"label" === 3)
      .as[(Long, Double)].collect().toSeq
    // every result satisfies the predicate, and equals brute force over
    // the pre-filtered corpus (query vector resolved from the full table)
    val labels = emb.filter($"vec_id".isin(got.map(_._1): _*))
      .select("label").as[Int].collect()
    assert(labels.nonEmpty && labels.forall(_ === 3))
    // the label predicate reaches the parquet scan as a pushed filter
    val df = Similarity.topKWhere(emb, 0L, 10, $"label" === 3)
    val scans = PlansSpec.unwrapped(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.exists(_.metadata.get("PushedFilters")
      .exists(_.contains("EqualTo(label,3)"))),
      s"label predicate not pushed:\n${df.queryExecution.executedPlan}")
  }

  test("filtered probes equal filtered brute force on every layout (exhaustive)") {
    // exhaustive settings (nprobe = nlist, corpus-sized rerank) make each
    // index a pure enumerator, so the filtered probe must reproduce the
    // exact filtered top-k — proving the allow-list masks the candidate
    // set, not the result set, on all four materialized layouts
    val emb = Tables.embeddings(spark, sfDir)
    val allow = emb.filter($"label" === 3).select("vec_id")
    val all = emb.count().toInt + 10
    val exact = Similarity.topKWhere(emb, 0L, 10, $"label" === 3)
      .as[(Long, Double)].collect().toSeq

    val sq = graft.operators.Sq.buildIndex(sfDir + "#fspec", emb)
    assert(graft.operators.CodesIndex.probe(sq, emb, 0L, 10, rerank = all,
        allowed = Some(allow))
      .as[(Long, Double)].collect().toSeq === exact, "SQ diverged")

    val ivf = graft.operators.Ivf.buildIndex(sfDir + "#fspec", emb)
    assert(graft.operators.Ivf.probe(ivf, emb, 0L, 10,
        nprobe = ivf.coarse.get.centroids.length, allowed = Some(allow))
      .as[(Long, Double)].collect().toSeq === exact, "IVF diverged")

    val pq = graft.operators.Pq.buildIndex(sfDir + "#fspec", emb)
    assert(graft.operators.CodesIndex.probe(pq, emb, 0L, 10, rerank = all,
        allowed = Some(allow))
      .as[(Long, Double)].collect().toSeq === exact, "PQ diverged")

    val isq = graft.operators.IvfSq.buildIndex(sfDir + "#fspec", emb)
    assert(graft.operators.CodesIndex.probe(isq, emb, 0L, 10,
        nprobe = isq.coarse.get.nlist, rerank = all, allowed = Some(allow))
      .as[(Long, Double)].collect().toSeq === exact, "IVF-SQ diverged")

    val ipq = graft.operators.IvfPq.buildIndex(sfDir + "#fspec", emb)
    assert(graft.operators.CodesIndex.probe(ipq, emb, 0L, 10,
        nprobe = ipq.coarse.get.nlist, rerank = all, allowed = Some(allow))
      .as[(Long, Double)].collect().toSeq === exact, "IVF-PQ diverged")
  }

  test("random projection is deterministic across partitionings") {
    val emb = Tables.embeddings(spark, sfDir)
    val projected = Similarity.randomProject(emb)
    // the storage claim: element type IS int32 (4x vs float32), not long
    assert(projected.schema("proj").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType ===
      org.apache.spark.sql.types.IntegerType)
    val a = projected.orderBy("vec_id")
      .as[(Long, Seq[Int])].collect().toSeq
    val b = Similarity.randomProject(emb.repartition(7)).orderBy("vec_id")
      .as[(Long, Seq[Int])].collect().toSeq
    assert(a === b)
    assert(a.forall(_._2.length === 16))
  }

  test("index directory naming is injective for colliding sanitized keys") {
    val d1 = graft.Artifacts.dirToken("a/b")
    val d2 = graft.Artifacts.dirToken("a_b")
    assert(d1 !== d2, "distinct keys must not share an index directory")
    // still filesystem-safe and readable
    assert(d1.matches("[A-Za-z0-9._-]+"))
  }

  test("raw-text two-stage equals the vector set engine on the same vector") {
    // the text-in serving law, single-query form: a text query runs the
    // identical ranking as a vector query carrying the same embedding —
    // checked against the INDEPENDENT set engine (keyed joins, no driver
    // collects), whose query id -1 matches no corpus row so neither path
    // excludes anything
    val docs = Tables.documents(spark, sfDir)
    val docEmb = graft.operators.Embed.hashedTf(docs)
    val docModel = graft.operators.Ivf.buildIndex(sfDir + "#txtdoc", docEmb)
    val (chunkModel, _) = graft.operators.CorpusIndex.buildChunkIndex(
      sfDir + "#txtchunk", docs)
    val text7 = docs.filter($"doc_id" === 7L).select($"text").as[String].head()
    val viaText = Similarity.topKTwoStageIvfText(spark, docModel, chunkModel,
        text7, coarseK = 5, k = 10)
      .as[(Long, Long, Option[Double])].collect().toSeq
    val qRow = docEmb.filter($"vec_id" === 7L)
      .select(lit(-1L).as("vec_id"), $"embedding")
    val viaVec = Similarity.topKTwoStageIvfAll(docModel, chunkModel, qRow,
        coarseK = 5, k = 10)
      .orderBy("rn")
      .select("vec_id", "parent_id", "cosine")
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(viaText === viaVec)
  }

  test("JL-prefiltered top-k keeps useful recall vs exact") {
    val emb = Tables.embeddings(spark, sfDir)
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val rp = Similarity.topKRp(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & rp).size.toDouble / exact.size
    // 0.7 on the sf0.001 spec corpus; 1.0 at sf0.01 (measured) — the JL
    // sieve sharpens as the corpus grows relative to the rerank budget
    assert(recall >= 0.6, s"RP recall@10 was $recall")
    // the knob behaves: starving the rerank budget must cost recall
    val starved = Similarity.topKRp(emb, 0L, 10, rerank = 50)
      .select("vec_id").as[Long].collect().toSet
    assert((exact & starved).size <= (exact & rp).size)
  }
}
