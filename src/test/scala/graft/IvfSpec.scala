package graft

import org.apache.spark.sql.functions._
import graft.operators.{CodesIndex, Ivf, Similarity}
import graft.sources.Snapshot

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("centroid training is deterministic") {
    val a = Ivf.trainCentroids(emb, 8, iters = 1)
    val b = Ivf.trainCentroids(emb, 8, iters = 1)
    assert(a.map(_._1).toSeq === b.map(_._1).toSeq)
    assert(a.zip(b).forall { case ((_, x), (_, y)) => x.toSeq == y.toSeq })
  }

  test("every vector lands in exactly one list, lists cover the corpus") {
    val cents = Ivf.trainCentroids(emb, 8)
    val idx = Ivf.index(emb, cents)
    assert(idx.count() === emb.count())
    val lists = idx.select("list").distinct().as[Int].collect().toSet
    assert(lists.subsetOf(cents.map(_._1).toSet))
  }

  test("nprobe = nlist is exhaustive and equals brute-force top-k") {
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val ivf = Ivf.topKIvf(emb, 0L, 10, nlist = 8, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivf === exact)
  }

  test("probe physical plan scans ONLY the probed list partitions") {
    // the index-shaped contract: the corpus is materialized list-partitioned
    // at build, and a probe's scan must carry a partition filter on `list`
    // and touch at most nprobe directories — not re-assign the whole corpus
    val df = SparkEntry.queries("ann_topk_ivf")(spark, sfDir)
    val scans = PlansSpec.unwrapped(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val idxScans = scans.filter(_.partitionFilters.exists(
      _.references.exists(_.name == "list")))
    assert(idxScans.nonEmpty,
      s"no pruned index scan (partition filter on list) in:\n" +
        df.queryExecution.executedPlan)
    idxScans.foreach(s => assert(s.selectedPartitions.partitionCount <= 4,
      s"probe reads ${s.selectedPartitions.partitionCount} list directories (> nprobe)"))
  }

  test("indexed two-stage plan prunes BOTH index scans to their probed lists") {
    // the serving contract behind ann_topk_twostage_ivf: stage 1's doc
    // index scan and stage 2's chunk index scan must each carry a
    // partition filter on `list` and touch at most nprobe directories —
    // neither table is ever scanned whole
    val df = SparkEntry.queries("ann_topk_twostage_ivf")(spark, sfDir)
    val scans = PlansSpec.unwrapped(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val idxScans = scans.filter(_.partitionFilters.exists(
      _.references.exists(_.name == "list")))
    assert(idxScans.nonEmpty,
      s"no pruned index scan in:\n${df.queryExecution.executedPlan}")
    idxScans.foreach(s => assert(s.selectedPartitions.partitionCount <= 4,
      s"two-stage scan reads ${s.selectedPartitions.partitionCount} " +
        "list directories (> nprobe)"))
  }

  test("sampled training (hash-deterministic) still yields a correct index") {
    // warehouse practice: train the quantizer on a sample, assign everyone.
    // Exhaustive probing must still equal brute force (holds for ANY
    // centroid set — the index never changes answers, only pruning).
    val model = Ivf.buildIndex(sfDir + "#sampled", emb, nlist = 8,
      trainSamplePct = 50)
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val got = Ivf.probe(model, emb, 0L, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("two fresh trainings produce byte-identical centroids") {
    // the integer-grid Lloyd contract: no partition-order-dependent float
    // mean anywhere, so training is reproducible across sessions
    val a = Ivf.trainCentroids(emb, 16, iters = 2)
    val b = Ivf.trainCentroids(emb.repartition(7), 16, iters = 2)
    assert(a.map(_._1).toSeq === b.map(_._1).toSeq)
    assert(a.zip(b).forall { case ((_, x), (_, y)) => x.toSeq == y.toSeq })
  }

  test("append assigns with the frozen quantizer and never touches existing files") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val model = Ivf.buildIndex(sfDir + "#appendspec", base, nlist = 8)
    val before = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndex(model, batch)
    val after = FileSnapshots.snapshot(model.indexPath)
    // every pre-existing file still present, byte-identical — append never
    // rewrites the standing index
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"pre-existing file changed: $p")
    }
    // new part-files land only under lists the batch actually maps to
    val batchLists = Ivf.index(batch, model.coarse.get.centroids)
      .select("list").distinct().as[Int].collect().toSet
    val newFiles = (after.keySet -- before.keySet)
      .filter(_.contains("list="))
    assert(newFiles.nonEmpty)
    val touched = newFiles.flatMap(p =>
      "list=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt))
    assert(touched.subsetOf(batchLists),
      s"append wrote into unassigned lists: ${touched -- batchLists}")
    // stored index == frozen re-assignment of the whole union
    val stored = CodesIndex.readIndex(spark, model)
      .select($"vec_id", $"list".cast("int").as("list"))
    val expected = Ivf.index(emb, model.coarse.get.centroids).select($"vec_id", $"list")
    assert(stored.exceptAll(expected).isEmpty, "stored has rows a fresh assignment lacks")
    assert(expected.exceptAll(stored).isEmpty, "fresh assignment has rows the stored index lacks")
  }

  test("idempotent append: replaying a batch is a no-op, new batches land") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = Ivf.buildIndex(sfDir + "#idemspec", base, nlist = 8)
    val b1 = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 === 0)
    val b2 = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 =!= 0)
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 0L)
    val afterOnce = FileSnapshots.snapshot(model.indexPath)
    // crash-replay of the SAME batch: byte-identical index, no duplicates
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 0L)
    assert(FileSnapshots.snapshot(model.indexPath) === afterOnce)
    // a NEW batch lands; content equals one frozen assignment of the union
    CodesIndex.appendToIndexIdempotent(model, b2, batchId = 1L)
    val stored = CodesIndex.readIndex(spark, model)
      .select($"vec_id", $"list".cast("int").as("list"))
    val expected = Ivf.index(emb, model.coarse.get.centroids).select($"vec_id", $"list")
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
  }

  test("compactIndex rewrites only hot lists, preserves probe results") {
    // base build + 4 small appends: touched lists accumulate part-files
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = Ivf.buildIndex(sfDir + "#compactspec", base, nlist = 8)
    (0 until 4).foreach { j =>
      CodesIndex.appendToIndex(model, emb.filter($"vec_id" % 5 === 0 &&
        $"vec_id" % 4 === j))
    }
    val before = Ivf.probe(model, emb, 0L, 10, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val preSnap = FileSnapshots.named(spark, model.indexPath)
    def filesPerList(snap: Map[String, (Long, String)]): Map[String, Int] =
      snap.keys.filter(_.contains("list="))
        .groupBy(_.split("/")(0)).view.mapValues(_.size).toMap
    val preCounts = filesPerList(preSnap)
    assert(preCounts.values.max > 4, "appends should have fragmented a list")
    val compacted = CodesIndex.compactIndex(spark, model, maxFilesPerList = 4)
    assert(compacted.nonEmpty)
    val postSnap = FileSnapshots.named(spark, model.indexPath)
    val postCounts = filesPerList(postSnap)
    // hot lists shrank; cold lists byte-identical
    compacted.foreach { l =>
      assert(postCounts(s"list=$l") < preCounts(s"list=$l"))
    }
    preSnap.filter { case (p, _) =>
      p.contains("list=") && !compacted.exists(l => p.startsWith(s"list=$l/"))
    }.foreach { case (p, sig) =>
      assert(postSnap.get(p).contains(sig), s"cold-list file changed: $p")
    }
    // content-preserving: probe identical
    val after = Ivf.probe(model, emb, 0L, 10, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    assert(after === before)
  }

  test("ingest batch replayed AFTER compaction folded its marker is still a no-op") {
    // the exactly-once hole compaction would otherwise open: compacting
    // folds the batch's ingest-<batchId> files away, so the replay must
    // find the batch id in the compacted snapshot
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = Ivf.buildIndex(sfDir + "#manifestspec", base, nlist = 8)
    val b1 = emb.filter($"vec_id" % 5 === 0)
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 42L)
    val nBefore = CodesIndex.readIndex(spark, model).count()
    // fold every list (threshold 0 ⇒ every non-empty list rewrites)
    CodesIndex.compactIndex(spark, model, maxFilesPerList = 0)
    assert(FileSnapshots.named(spark, model.indexPath).keys
      .forall(!_.contains("ingest-42")), "markers should be folded away")
    val afterCompact = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 42L) // crash replay
    assert(FileSnapshots.snapshot(model.indexPath) === afterCompact,
      "replayed batch re-appended after compaction")
    assert(CodesIndex.readIndex(spark, model).count() === nBefore)
    // no orphaned staging dir: the root holds the lists and the snapshots
    assert(afterCompact.keys.forall(!_.contains("_staging")))
    assert(new java.io.File(model.indexPath).list()
      .forall(n => n.startsWith("list=") || n == "_snapshots"))
  }

  test("exhaustive probe over an incrementally-built index equals brute force on the union") {
    val model = Ivf.buildIncremental(sfDir + "#appendspec2",
      emb.filter($"vec_id" % 5 =!= 0), emb.filter($"vec_id" % 5 === 0),
      nlist = 8)
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val got = Ivf.probe(model, emb, 0L, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("deleteFromIndex: index untouched, probes mask, compaction drops physically") {
    val model = Ivf.buildIndex(sfDir + "#delspec", emb, nlist = 8)
    val before = FileSnapshots.named(spark, model.indexPath)
    val ids = emb.filter($"vec_id" % 7 === 3).select("vec_id")
    CodesIndex.deleteFromIndex(model, ids, batchId = 0L)
    // deletes are tombstone files: not one data byte changes
    assert(FileSnapshots.named(spark, model.indexPath) === before)
    // replayed delete batch is a no-op: no file and no snapshot changes
    val tombSnap = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.deleteFromIndex(model, ids, batchId = 0L)
    assert(FileSnapshots.snapshot(model.indexPath) === tombSnap)
    // exhaustive probe over base+tombstones equals brute force over survivors
    val exact = Similarity.topK(
        emb.filter($"vec_id" % 7 =!= 3 || $"vec_id" === 0L), 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(Ivf.probe(model, emb, 0L, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSeq === exact)
    // compaction physically drops the rows, consumes tombstones, and the
    // probe result is unchanged through the swap
    val pBefore = Ivf.probe(model, emb, 0L, 10).as[(Long, Double)].collect().toSeq
    CodesIndex.compactIndex(spark, model, maxFilesPerList = Int.MaxValue)
    assert(FileSnapshots.named(spark, model.indexPath, graft.sources.Snapshot.Tomb).isEmpty)
    assert(CodesIndex.readIndex(spark, model)
      .filter($"vec_id" % 7 === 3).count() === 0)
    assert(Ivf.probe(model, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq === pBefore)
  }

  test("rebalanceIndex splits skewed lists: exhaustive parity, ratio drops") {
    val model = Ivf.buildIndex(sfDir + "#rebal", emb, nlist = 8)
    // drift: clone the biggest list's vectors 3× (re-keyed, identical
    // embeddings ⇒ identical frozen assignment) and append — that list
    // now dwarfs the mean, the exact shape sustained skewed appends create
    val assigned = Ivf.index(emb, model.coarse.get.centroids)
    val hotList = assigned.groupBy("list").count()
      .orderBy(desc("count"), $"list").first().getInt(0)
    val hotVecs = assigned.filter($"list" === hotList).drop("list")
    (1 to 3).foreach { i =>
      CodesIndex.appendToIndex(model, hotVecs
        .withColumn("vec_id", $"vec_id" + lit(i.toLong * 10000000L)))
    }
    def ratio(m: Ivf.IvfModel): Double = {
      val sizes = CodesIndex.readIndex(spark, m)
        .groupBy("list").count().as[(Int, Long)].collect().map(_._2)
      sizes.max.toDouble / (sizes.sum.toDouble / sizes.length)
    }
    val before = ratio(model)
    assert(before > 2.0, s"skew setup failed: ratio $before")
    val exhaustive = Ivf.probe(model, emb, 0L, 10, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val m2 = Ivf.rebalanceIndex(spark, model, maxRatio = 2.0)
    assert(m2.coarse.get.centroids.length > model.coarse.get.centroids.length, "no list was split")
    // content-preserving: exhaustive probe identical through the split
    assert(Ivf.probe(m2, emb, 0L, 10, nprobe = m2.coarse.get.centroids.length)
      .as[(Long, Double)].collect().toSeq === exhaustive)
    assert(ratio(m2) < before, s"ratio did not improve: $before -> ${ratio(m2)}")
    // row set unchanged
    assert(CodesIndex.readIndex(spark, m2).count() ===
      emb.count() + 3 * hotVecs.count())
  }

  test("an append through a model held from before a re-balance lands in the committed lists") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val held = Ivf.buildIndex(sfDir + "#stale", base, nlist = 8)
    val m2 = Ivf.rebalanceIndex(spark, held, maxRatio = 1.01)
    val split = held.coarse.get.centroids.map(_._1).toSet -- m2.coarse.get.centroids.map(_._1)
    assert(split.nonEmpty, "no list was split")
    // the held quantizer assigns part of the batch to lists the split removed
    val batch = emb.filter($"vec_id" % 5 === 0)
    assert(Ivf.index(batch, held.coarse.get.centroids)
      .filter($"list".isin(split.toSeq: _*)).count() > 0)
    CodesIndex.appendToIndexIdempotent(held, batch, 7L)
    CodesIndex.appendToIndex(held, batch.withColumn("vec_id", $"vec_id" + 50000000L))
    val cur = CodesIndex.currentModel(spark, held)
    val cids = cur.coarse.get.centroids.map(_._1).toSet
    val lists = CodesIndex.readIndex(spark, cur).select("list").distinct().as[Int].collect().toSet
    assert(lists.subsetOf(cids), s"lists ${lists -- cids} name no centroid of the committed model")
    val ids = batch.select("vec_id").as[Long].collect().toSet
    val appended = ids ++ ids.map(_ + 50000000L)
    val reached = Ivf.probe(cur, emb, 1L, CodesIndex.readIndex(spark, cur).count().toInt,
      nprobe = cids.size).select("vec_id").as[Long].collect().toSet
    assert(appended.subsetOf(reached),
      s"${(appended -- reached).size} appended ids no exhaustive probe reaches")
  }

  test("persisted model round-trips exactly and survives the lifecycle verbs") {
    val model = Ivf.buildIndex(sfDir + "#persist", emb, nlist = 8)
    val loaded = CodesIndex.loadModel[Ivf.Flat.type](spark, model.indexPath).get
    assert(loaded.coarse.get.nlist === model.coarse.get.nlist && loaded.coarse.get.iters === model.coarse.get.iters)
    assert(loaded.coarse.get.centroids.map(_._1).toSeq === model.coarse.get.centroids.map(_._1).toSeq)
    assert(loaded.coarse.get.centroids.zip(model.coarse.get.centroids)
      .forall { case ((_, a), (_, b)) => a.toSeq == b.toSeq })
    // a probe with the LOADED model is bit-identical — the restart story
    val a = Ivf.probe(model, emb, 0L, 10).as[(Long, Double)].collect().toSeq
    assert(Ivf.probe(loaded, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq === a)
    // append + compact keep the persisted file intact; rebalance updates it
    CodesIndex.appendToIndexIdempotent(model,
      emb.filter($"vec_id" % 11 === 0)
        .withColumn("vec_id", $"vec_id" + 77000000L), batchId = 5L)
    CodesIndex.compactIndex(spark, model, maxFilesPerList = 0)
    assert(CodesIndex.loadModel[Ivf.Flat.type](spark, model.indexPath).get.coarse.get.centroids.length ===
      model.coarse.get.centroids.length)
    val m2 = Ivf.rebalanceIndex(spark, model, maxRatio = 1.01)
    assert(CodesIndex.loadModel[Ivf.Flat.type](spark, model.indexPath).get.coarse.get.centroids.map(_._1).toSeq ===
      m2.coarse.get.centroids.map(_._1).toSeq)
  }

  test("probeAll equals the single-query probe for every query") {
    // expression-side probe selection + keyed ranking must reproduce the
    // driver-side probe bit-for-bit, query by query
    val model = Ivf.buildIndex(sfDir, emb)
    val queries = emb.filter($"vec_id" < 5)
    val all = Ivf.probeAll(model, queries, 10)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    (0L until 5L).foreach { qid =>
      val single = Ivf.probe(model, emb, qid, 10)
        .as[(Long, Double)].collect().toSet
      assert(all(qid) === single, s"query $qid diverged")
    }
  }

  test("nprobe curve is monotone, ends exact, and autoNprobe holds its floor") {
    val qids = Seq(0L, 2L, 4L, 6L)
    val model = Ivf.buildIndex(sfDir + "#autonp", emb)
    val curve = Ivf.nprobeCurve(model, emb, qids, 10)
      .orderBy("nprobe").as[(Long, Long, Double)].collect()
    assert(curve.nonEmpty)
    // cumulative hits never decrease, and the exhaustive width is exact:
    // an IVF-Flat probe at nprobe = nlist IS the brute-force search
    assert(curve.sliding(2).forall(w => w.length < 2 || w(0)._2 <= w(1)._2))
    assert(curve.last._1 <= model.coarse.get.centroids.length.toLong)
    assert(curve.last._3 === 1.0, s"curve tail ${curve.last} not exact")
    // the auto knob meets its floor at BOTH corpus sizes and actually
    // prunes (chosen width strictly below nlist — not a scan in disguise)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val halfModel = Ivf.buildIndex(sfDir + "#autonp-half", half)
    for ((m, corpus, tag) <- Seq((model, emb, "full"), (halfModel, half, "half"))) {
      val (np, hits) = Ivf.autoNprobe(m, corpus, qids, 10, 90)
      val recall = hits.toDouble / (10 * qids.length)
      assert(recall >= 0.9, s"$tag: recall $recall under target at nprobe $np")
      assert(np < m.coarse.get.centroids.length, s"$tag: auto nprobe $np does not prune")
    }
  }

  test("partial probing keeps useful recall on the corpus") {
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Ivf.topKIvf(emb, 0L, 10, nlist = 8, nprobe = 3)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@nprobe=3 was $recall")
  }

  test("sharded build: slices are a disjoint cover; exhaustive fan-out ≡ brute force") {
    val m = Ivf.buildShardedIndex(sfDir + "#shardspec", emb,
      nShards = 3, nlist = 4)
    // every vector lands in exactly one shard index
    val counts = m.shards.map(s =>
      CodesIndex.readIndex(spark, s).count())
    assert(counts.sum === emb.count())
    assert(counts.forall(_ > 0), s"empty shard in $counts")
    val ids = m.shards.flatMap(s =>
      CodesIndex.readIndex(spark, s).select("vec_id").as[Long].collect())
    assert(ids.distinct.length === ids.length, "a vec_id appears in two shards")
    // exhaustive per-shard probe + union re-cut equals brute force exactly
    val probed = Ivf.probeSharded(m, emb, 0L, 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    val exact = Similarity.topK(emb, 0L, 10).as[(Long, Double)].collect().toSeq
    assert(probed === exact)
    // the sizing law: bounded per-shard quantizers at any decade, width
    // back at target past the single-quantizer cap
    val (sh, per) = Similarity.autoShardPlan(100000000000L)
    assert(per <= 65536 && sh.toLong * per >= 100000000000L / 2048L)
    assert(Similarity.autoShardPlan(500L) === ((1, 8)))
  }

  test("sharded lifecycle: set-probe ≡ per-query fan-out; routed append/delete ≡ single-index verbs") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val m = Ivf.buildShardedIndex(sfDir + "#shardlife", base,
      nShards = 3, nlist = 4)
    // probeShardedAll equals the single-query fan-out bit-for-bit
    val qs = emb.filter($"vec_id" < 8)
    val all = Ivf.probeShardedAll(m, qs, 5, nprobe = 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val single = qs.select("vec_id").as[Long].collect().sorted.toSeq.flatMap { q =>
      Ivf.probeSharded(m, emb, q, 5, nprobe = 2)
        .as[(Long, Double)].collect().toSeq.zipWithIndex
        .map { case ((v, c), i) => (q, v, c, i + 1) }
    }
    assert(all === single)
    // routed idempotent append: replay is a no-op, content = base ∪ batch
    CodesIndex.appendToShardedIndexIdempotent(m, batch, batchId = 7L)
    CodesIndex.appendToShardedIndexIdempotent(m, batch, batchId = 7L)
    assert(m.shards.map(s => CodesIndex.readIndex(spark, s).count()).sum
      === emb.count())
    val probed = Ivf.probeSharded(m, emb, 0L, 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    val exact = Similarity.topK(emb, 0L, 10).as[(Long, Double)].collect().toSeq
    assert(probed === exact)
    // routed delete: probes mask the ids immediately, across shards
    val doomed = emb.filter($"vec_id" % 7 === 1).select("vec_id")
    CodesIndex.deleteFromShardedIndex(m, doomed, batchId = 8L)
    val after = Ivf.probeSharded(m, emb, 0L, 10, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    val exactLive = Similarity.topK(emb.filter($"vec_id" % 7 =!= 1), 0L, 10)
      .as[(Long, Double)].collect().toSeq
    assert(after === exactLive)
  }

  test("indexed two-stage with exhaustive probes equals the exact two-stage") {
    val docs = Tables.documents(spark, sfDir)
    val docEmb = operators.Embed.hashedTf(docs)
    val docModel = Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, chunkEmb) = operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val exact = Similarity.topKTwoStage(docEmb, chunkEmb, 0L, 5, 10)
      .as[(Long, Long, Double)].collect().toSeq
    val ivf = Similarity.topKTwoStageIvf(docModel, docEmb, chunkModel, 0L,
        coarseK = 5, k = 10,
        nprobeDoc = docModel.coarse.get.centroids.length,
        nprobeChunk = chunkModel.coarse.get.centroids.length)
      .as[(Long, Long, Double)].collect().toSeq
    assert(ivf === exact)
    // pruned probes still deliver useful recall on the fixture
    val pruned = Similarity.topKTwoStageIvf(docModel, docEmb, chunkModel, 0L,
        coarseK = 5, k = 10, nprobeDoc = 4, nprobeChunk = 4)
      .select("vec_id").as[Long].collect().toSet
    // loose floor: pruning recall is governed by (nprobe, coarseK) and
    // hash-checked end-to-end by the ann_topk_twostage_ivf oracle; this
    // only guards against a broken candidate cut returning junk
    assert(pruned.intersect(exact.map(_._1).toSet).size >= 3)
    // and the rag packing over the indexed chain obeys the budget law
    val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
      .select(operators.CorpusIndex.chunkKey($"doc_id", $"chunk_no")
        .as("vec_id"), $"chunk_text")
    val packed = Similarity.ragContextIvf(docModel, docEmb, chunkModel, texts,
        0L, coarseK = 5, poolK = 10, tokenBudget = 300L)
      .as[(Long, Long, Long, Option[Double], Long, Long, String)]
    val rows = packed.collect()
    assert(rows.nonEmpty && rows.forall(_._6 <= 300L))
    assert(rows.map(_._1).toSeq === (1L to rows.length))
  }

  test("sharded two-stage with exhaustive probes equals the exact two-stage") {
    val docs = Tables.documents(spark, sfDir)
    val docEmb = operators.Embed.hashedTf(docs)
    val sharded = Ivf.buildShardedIndex(sfDir + "#tsshspec", docEmb,
      nShards = 3, nlist = 4)
    val (chunkModel, chunkEmb) = operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val exact = Similarity.topKTwoStage(docEmb, chunkEmb, 0L, 5, 10)
      .as[(Long, Long, Double)].collect().toSeq
    val got = Similarity.topKTwoStageSharded(sharded, docEmb, chunkModel, 0L,
        coarseK = 5, k = 10,
        nprobeDoc = sharded.shards.map(_.coarse.get.centroids.length).max,
        nprobeChunk = chunkModel.coarse.get.centroids.length)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === exact)
    // pruned per-shard probes still deliver useful recall (the production
    // setting; exhaustive equality above is the correctness anchor)
    val pruned = Similarity.topKTwoStageSharded(sharded, docEmb, chunkModel,
        0L, coarseK = 5, k = 10, nprobeDoc = 2, nprobeChunk = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(pruned.intersect(exact.map(_._1).toSet).size >= 3)
  }

  test("sharded probe and sharded two-stage collect the query vector once") {
    val docEmb = operators.Embed.hashedTf(Tables.documents(spark, sfDir))
    val sharded = Ivf.buildShardedIndex(sfDir + "#tsshspec", docEmb,
      nShards = 3, nlist = 4)
    val (chunkModel, _) = operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", Tables.documents(spark, sfDir))
    // query-vector collects: one-column `e` results (Ivf.queryVec)
    def vecCollects(body: => Unit): Int = {
      import org.apache.spark.sql.util.QueryExecutionListener
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val marker = new java.util.concurrent.atomic.AtomicBoolean()
      val l = new QueryExecutionListener {
        override def onSuccess(f: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               d: Long): Unit =
          qe.analyzed.output.map(_.name) match {
            case Seq("e") => n.incrementAndGet()
            case Seq("ivfspec_drain") => marker.set(true)
            case _ =>
          }
        override def onFailure(f: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        body
        spark.range(1).toDF("ivfspec_drain").collect()
        val deadline = System.currentTimeMillis() + 30000
        while (!marker.get && System.currentTimeMillis() < deadline) Thread.sleep(10)
      } finally spark.listenerManager.unregister(l)
      n.get
    }
    assert(vecCollects(Ivf.probeSharded(sharded, docEmb, 0L, 5).collect()) === 1)
    assert(vecCollects(Similarity.topKTwoStageSharded(sharded, docEmb, chunkModel,
      0L, coarseK = 5, k = 10).collect()) === 1)
  }

  test("set-oriented indexed two-stage equals the single-query form per query") {
    val docs = Tables.documents(spark, sfDir)
    val docEmb = operators.Embed.hashedTf(docs)
    val docModel = Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val qids = Seq(0L, 2L, 5L)
    val all = Similarity.topKTwoStageIvfAll(docModel, chunkModel,
        docEmb.filter(col("vec_id").isin(qids: _*)), coarseK = 5, k = 10)
      .as[(Long, Long, Long, Option[Double], Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._5).map(r => (r._2, r._3, r._4)).toSeq).toMap
    qids.foreach { qid =>
      val single = Similarity.topKTwoStageIvf(docModel, docEmb, chunkModel,
          qid, coarseK = 5, k = 10)
        .as[(Long, Long, Option[Double])].collect().toSeq
      assert(all.getOrElse(qid, Seq.empty) === single, s"query $qid diverged")
    }
  }

  test("set-oriented rag packing equals the single-query rag per query") {
    val docs = Tables.documents(spark, sfDir)
    val docEmb = operators.Embed.hashedTf(docs)
    val docModel = Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
      .select(operators.CorpusIndex.chunkKey($"doc_id", $"chunk_no")
        .as("vec_id"), $"chunk_text")
    val qids = Seq(0L, 2L, 5L)
    val all = Similarity.ragContextAll(
        Similarity.topKTwoStageIvfAll(docModel, chunkModel,
          docEmb.filter(col("vec_id").isin(qids: _*)), coarseK = 5, k = 10),
        texts, 300L)
      .as[(Long, Long, Long, Long, Option[Double], Long, Long, String)]
      .collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2)
        .map(r => (r._2, r._3, r._4, r._5, r._6, r._7, r._8)).toSeq).toMap
    qids.foreach { qid =>
      val single = Similarity.ragContextIvf(docModel, docEmb, chunkModel,
          texts, qid, coarseK = 5, poolK = 10, tokenBudget = 300L)
        .as[(Long, Long, Long, Option[Double], Long, Long, String)]
        .collect().toSeq
      assert(all.getOrElse(qid, Seq.empty) === single, s"query $qid diverged")
    }
  }

  test("batch raw-text serving equals the single-text two-stage per text") {
    val docs = Tables.documents(spark, sfDir)
    val docEmb = operators.Embed.hashedTf(docs)
    val docModel = Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val texts = Seq((-1L, "fast vector scan query"),
      (-2L, "columnar storage layout"))
    val all = Similarity.topKTwoStageIvfAll(docModel, chunkModel,
        operators.Embed.hashedTf(texts.toDF("doc_id", "text")),
        coarseK = 5, k = 10)
      .as[(Long, Long, Long, Option[Double], Int)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._5).map(r => (r._2, r._3, r._4)).toSeq).toMap
    texts.foreach { case (qid, text) =>
      val single = Similarity.topKTwoStageIvfText(spark, docModel,
          chunkModel, text, coarseK = 5, k = 10)
        .as[(Long, Long, Option[Double])].collect().toSeq
      assert(all.getOrElse(qid, Seq.empty) === single, s"text $qid diverged")
    }
  }

  test("set-oriented hybrid RAG packing equals the single-query form per query") {
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir)
    val docEmb = operators.Embed.hashedTf(docs)
    val docModel = Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
      .select(operators.CorpusIndex.chunkKey($"doc_id", $"chunk_no")
        .as("vec_id"), $"chunk_text")
    val qids = Seq(0L, 5L)
    val all = Bm25.ragContextHybridAll(docs, docModel, docEmb, chunkModel,
        texts, qids.toDF("query_id"), coarseK = 5, poolK = 10,
        tokenBudget = 300L)
      .as[(Long, Long, Long, Long, Option[Double], Long, Long, String)]
      .collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2)
        .map(r => (r._2, r._3, r._4, r._5, r._6, r._7, r._8)).toSeq).toMap
    qids.foreach { qid =>
      val single = Bm25.ragContextHybrid(docs, docModel, docEmb, chunkModel,
          texts, qid, coarseK = 5, poolK = 10, tokenBudget = 300L)
        .as[(Long, Long, Long, Option[Double], Long, Long, String)]
        .collect().toSeq
      assert(all.getOrElse(qid, Seq.empty) === single, s"query $qid diverged")
    }
  }

  test("set-oriented MMR packing equals the single-query MMR per query") {
    val docs = Tables.documents(spark, sfDir)
    val docEmb = operators.Embed.hashedTf(docs)
    val docModel = Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val (chunkModel, _) = operators.CorpusIndex.buildChunkIndex(
      sfDir + "#tschunk", docs)
    val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
      .select(operators.CorpusIndex.chunkKey($"doc_id", $"chunk_no")
        .as("vec_id"), $"chunk_text")
    val qids = Seq(0L, 5L)
    val all = Similarity.ragContextMmrAll(docModel, docEmb, chunkModel,
        texts, qids.toDF("query_id"), coarseK = 5, poolK = 10,
        selectK = 4, tokenBudget = 300L)
      .as[(Long, Long, Long, Long, Option[Double], Long, Long, String)]
      .collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2)
        .map(r => (r._2, r._3, r._4, r._5, r._6, r._7, r._8)).toSeq).toMap
    qids.foreach { qid =>
      val single = Similarity.ragContextMmr(docModel, docEmb, chunkModel,
          texts, qid, coarseK = 5, poolK = 10, selectK = 4,
          tokenBudget = 300L)
        .as[(Long, Long, Long, Option[Double], Long, Long, String)]
        .collect().toSeq
      assert(all.getOrElse(qid, Seq.empty) === single, s"query $qid diverged")
    }
  }

  test("indexed hybrid with exhaustive probe equals the exact-scan hybrid") {
    import graft.operators.Bm25
    val docs = Tables.documents(spark, sfDir)
    val docEmb = operators.Embed.hashedTf(docs)
    val docModel = Ivf.buildIndex(sfDir + "#tsdoc", docEmb)
    val qids = Seq(0L, 3L).toDF("query_id")
    val exact = Bm25.hybridTopKAll(docs, qids, 10,
      embeddings = Some(docEmb))
    val ivf = Bm25.hybridTopKIvf(docs, docModel, docEmb, qids, 10,
      nprobe = docModel.coarse.get.centroids.length)
    assert(ivf.exceptAll(exact).isEmpty && exact.exceptAll(ivf).isEmpty)
  }

  test("build schema is recorded in _centroids and survives saveModel → loadModel") {
    val model = Ivf.buildIndex(sfDir + "#schema", emb, nlist = 8)
    // the recorded schema is exactly what an inferred read would produce
    assert(model.schema === FileSnapshots.inferred(spark, model.indexPath).schema)
    assert(model.schema.fieldNames.toSeq === emb.columns.toSeq :+ "list")
    val loaded = CodesIndex.loadModel[Ivf.Flat.type](spark, model.indexPath).get
    assert(loaded.schema === model.schema)
    // a quantizer file without a recorded schema is refused, never inferred
    val old = java.nio.file.Files.createTempDirectory("graft-ivf-noschema")
    java.nio.file.Files.createDirectories(old.resolve("_snapshots"))
    java.nio.file.Files.write(old.resolve("_snapshots/1"),
      "ivfflat\ncoarse 1 2\nC 0 1,2,3\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](CodesIndex.loadModel[Ivf.Flat.type](spark, old.toString))
    assert(e.getMessage.contains("schema"))
  }

  test("probe, probeAll and deleteFromIndex launch no schema-inference job") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = Ivf.buildIndex(sfDir + "#noinfer", base, nlist = 8)
    CodesIndex.appendToIndexIdempotent(model, emb.filter($"vec_id" % 5 === 0), 1L)
    CodesIndex.deleteFromIndex(model, emb.filter($"vec_id" % 7 === 3).select("vec_id"), 2L)
    // the detector sees the inferred read this change removed
    assert(InferenceJobs.of(spark)(FileSnapshots.inferred(spark, model.indexPath).count()).nonEmpty)
    val jobs = InferenceJobs.of(spark) {
      Ivf.probe(model, emb, 0L, 10).collect()
      Ivf.probeAll(model, emb.filter($"vec_id" < 3), 10).collect()
      CodesIndex.deleteFromIndex(model,
        emb.filter($"vec_id" % 7 === 4).select("vec_id"), 3L)
      CodesIndex.compactIndex(spark, model, maxFilesPerList = Int.MaxValue)
      // a re-balance reads each split list and its tombstones
      CodesIndex.deleteFromIndex(model,
        emb.filter($"vec_id" % 7 === 5).select("vec_id"), 4L)
      assert(Ivf.rebalanceIndex(spark, model, maxRatio = 1.01).coarse.get.centroids.length >
        model.coarse.get.centroids.length, "no list was split")
    }
    assert(jobs.isEmpty, s"schema-inference jobs: ${jobs.mkString(", ")}")
  }

  test("probe and probeAll over the recorded schema equal an inferred-schema read") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = Ivf.buildIndex(sfDir + "#inferparity", base, nlist = 8)
    CodesIndex.appendToIndex(model, emb.filter($"vec_id" % 5 === 0))
    CodesIndex.deleteFromIndex(model, emb.filter($"vec_id" % 7 === 3).select("vec_id"), 0L)
    val inferred = FileSnapshots.inferred(spark, model.indexPath)
    val recorded = CodesIndex.readIndex(spark, model)
    assert(recorded.schema === inferred.schema)
    assert(recorded.exceptAll(inferred).isEmpty && inferred.exceptAll(recorded).isEmpty)
    // exhaustive probes vs the same ranking over inferred reads of the
    // index and its tombstones
    val live = inferred.join(
      FileSnapshots.inferred(spark, model.indexPath, graft.sources.Snapshot.Tomb).select("vec_id"),
      Seq("vec_id"), "left_anti")
    def reference(q: Long): Seq[(Long, Double)] = {
      val qv = emb.filter($"vec_id" === q).select($"embedding".as("q_emb"))
      live.filter($"vec_id" =!= q).crossJoin(qv)
        .withColumn("cosine", graft.functions.VectorOps.cosine($"embedding", $"q_emb"))
        .orderBy(desc("cosine"), $"vec_id").limit(10)
        .select("vec_id", "cosine").as[(Long, Double)].collect().toSeq
    }
    val qids = Seq(0L, 1L, 2L)
    val all = Ivf.probeAll(model, emb.filter($"vec_id".isin(qids: _*)), 10,
        nprobe = model.coarse.get.centroids.length)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
    qids.foreach { q =>
      val want = reference(q)
      assert(Ivf.probe(model, emb, q, 10, nprobe = model.coarse.get.centroids.length)
        .as[(Long, Double)].collect().toSeq === want, s"probe $q")
      assert(all(q) === want, s"probeAll $q")
    }
  }

  test("append fails fast on a batch that does not match the recorded schema") {
    val model = Ivf.buildIndex(sfDir + "#appendschema", emb, nlist = 8)
    val before = FileSnapshots.snapshot(model.indexPath)
    val batch = emb.filter($"vec_id" % 5 === 0)
      .withColumn("vec_id", $"vec_id" + 90000000L)
    val missing = intercept[IllegalArgumentException](
      CodesIndex.appendToIndex(model, batch.drop("embedding")))
    assert(missing.getMessage.contains("embedding"))
    val retyped = batch.withColumn("embedding",
      transform($"embedding", _.cast("double")))
    val wrongType = intercept[IllegalArgumentException](
      CodesIndex.appendToIndexIdempotent(model, retyped, 9L))
    assert(wrongType.getMessage.contains("embedding"))
    assert(FileSnapshots.snapshot(model.indexPath) === before,
      "a refused append wrote files")
    // extra columns are projected away; column order does not matter
    CodesIndex.appendToIndex(model,
      batch.select(batch.columns.reverse.map(col) :+ lit("x").as("extra"): _*))
    assert(CodesIndex.readIndex(spark, model).filter($"vec_id" >= 90000000L).count()
      === batch.count())
    assert(FileSnapshots.inferred(spark, model.indexPath).schema === model.schema)
    // a payload column the batch lacks lands as NULL (a bare vector stream
    // into an index built over the labelled table)
    CodesIndex.appendToIndexIdempotent(model, batch.drop("label")
      .withColumn("vec_id", $"vec_id" + 90000000L), 10L)
    val unlabelled = CodesIndex.readIndex(spark, model).filter($"vec_id" >= 180000000L)
    assert(unlabelled.count() === batch.count())
    assert(unlabelled.filter($"label".isNotNull).isEmpty)
  }

  test("a probe over memoized tombstones runs one job and broadcasts nothing") {
    val model = Ivf.buildIndex(sfDir + "#twojobs", emb.filter($"vec_id" % 5 =!= 0), nlist = 8)
    CodesIndex.appendToIndexIdempotent(model, emb.filter($"vec_id" % 5 === 0), 1L)
    CodesIndex.deleteFromIndex(model, emb.filter($"vec_id" % 3 === 1).select("vec_id"), 2L)
    val tombed = Snapshot.latest(spark, model.indexPath).get.files
      .filter(_.kind == Snapshot.Tomb).flatMap(_.list).toSet
    assert(tombed === model.coarse.get.centroids.map(_._1).toSet,
      "every list, so every probed one, should carry tombstones")
    Ivf.probe(model, emb, 0L, 10).collect() // fills the tombstone memo
    var df: org.apache.spark.sql.DataFrame = null
    val jobs = InferenceJobs.launched(spark) { df = Ivf.probe(model, emb, 0L, 10); df.collect() }
    // the result: the query vector is a driver-side lookup
    assert(jobs.size === 1, s"jobs: ${jobs.mkString(", ")}")
    assert(PlansSpec.broadcastsAndAntiJoins(df).isEmpty, df.queryExecution.executedPlan)
  }

  test("ragContextIvf over a parquet table: two jobs retrieve, one before the packing plan") {
    val docs = Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfrag").toString + "/emb"
    operators.Embed.hashedTf(docs).write.parquet(dir)
    val docEmb = spark.read.parquet(dir)
    val docModel = Ivf.buildIndex(sfDir + "#ragjobs", docEmb)
    val (chunkModel, _) = operators.CorpusIndex.buildChunkIndex(sfDir + "#tschunk", docs)
    val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
      .select(operators.CorpusIndex.chunkKey($"doc_id", $"chunk_no").as("vec_id"), $"chunk_text")
    def rag = Similarity.ragContextIvf(docModel, docEmb, chunkModel, texts, 0L,
      coarseK = 5, poolK = 10, tokenBudget = 300L)
    val want = rag.collect()
    // the two-stage retrieval: the coarse cut's collect and the result
    val retrieve = InferenceJobs.launched(spark)(Similarity.topKTwoStageIvf(docModel, docEmb,
      chunkModel, 0L, coarseK = 5, k = 10).collect())
    assert(retrieve.size === 2, s"jobs: ${retrieve.mkString(", ")}")
    // building the packing plan runs only the coarse cut's collect
    var df: org.apache.spark.sql.DataFrame = null
    val built = InferenceJobs.launched(spark) { df = rag }
    assert(built.size === 1, s"jobs: ${built.mkString(", ")}")
    assert(df.collect().toSeq === want.toSeq && want.nonEmpty)
  }

  test("a probe through a model held from before a re-balance equals one through the committed model") {
    val held = Ivf.buildIndex(sfDir + "#staleprobe", emb, nlist = 8)
    val m2 = Ivf.rebalanceIndex(spark, held, maxRatio = 1.01)
    assert((held.coarse.get.centroids.map(_._1).toSet -- m2.coarse.get.centroids.map(_._1)).nonEmpty,
      "no list was split")
    val cur = CodesIndex.currentModel(spark, held)
    (0L until 5L).foreach { q =>
      assert(Ivf.probe(held, emb, q, 10, nprobe = 2).as[(Long, Double)].collect().toSeq ===
        Ivf.probe(cur, emb, q, 10, nprobe = 2).as[(Long, Double)].collect().toSeq, s"query $q")
    }
  }

  test("a probe masks up to MaskedTombstones tombstoned ids; one more takes the anti-join") {
    val n = CodesIndex.MaskedTombstones + 1000L
    val e = spark.range(n).select($"id".as("vec_id"),
      array(($"id" % 7).cast("float"), ($"id" % 11).cast("float"), lit(1f)).as("embedding"))
    val model = Ivf.buildIndex(sfDir + "#maskbound", e, nlist = 2)
    def probe = Ivf.probe(model, e, n - 1, 10, nprobe = 2)
    def antiJoined = PlansSpec.broadcastsAndAntiJoins(probe).exists(_.endsWith("LeftAnti"))
    CodesIndex.deleteFromIndex(model, spark.range(CodesIndex.MaskedTombstones).toDF("vec_id"), 1L)
    assert(!antiJoined, "at the bound the ids are masked")
    val masked = probe.as[(Long, Double)].collect().toSeq
    assert(masked.forall(_._1 >= CodesIndex.MaskedTombstones), "a deleted id still probed")
    CodesIndex.deleteFromIndex(model, Seq(masked.head._1).toDF("vec_id"), 2L)
    assert(antiJoined, "above the bound the anti-join stays")
    assert(probe.as[(Long, Double)].collect().toSeq.take(9) === masked.tail)
  }

  test("tombstone memo: each delete replaces the entry, compaction clears, the anti-join agrees") {
    val model = Ivf.buildIndex(sfDir + "#tombmemo", emb, nlist = 8)
    val qids = Seq(0L, 1L, 2L)
    def reads: Long = graft.Artifacts.stats.get("index.tombstones").fold(0L)(_.builds)
    // per query, probe's rows; probeAll must give the same, bit for bit
    def answers(): Seq[Seq[(Long, Double)]] = {
      val single = qids.map(q => Ivf.probe(model, emb, q, 10).as[(Long, Double)].collect().toSeq)
      val all = Ivf.probeAll(model, emb.filter($"vec_id".isin(qids: _*)), 10)
        .as[(Long, Long, Double, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(r => (r._2, r._3)).toSeq).toMap
      qids.zip(single).foreach { case (q, rows) => assert(all(q) === rows, s"probeAll $q") }
      single
    }
    // the same probes with broadcasts off: the left-anti join branch
    def antiJoined(): Seq[Seq[(Long, Double)]] = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      try {
        assert(PlansSpec.broadcastsAndAntiJoins(Ivf.probe(model, emb, 0L, 10))
          .exists(_.endsWith("LeftAnti")), "threshold -1 should take the anti-join")
        answers()
      } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    // each batch deletes the current top 3 of every query
    def top3(a: Seq[Seq[(Long, Double)]]): Seq[Long] = a.flatMap(_.take(3).map(_._1)).distinct

    val b1 = top3(answers())
    CodesIndex.deleteFromIndex(model, b1.toDF("vec_id"), 1L)
    val r0 = reads
    val a1 = answers()
    assert(reads === r0 + 1, "one tombstone read per tombstone file set")
    assert(a1.flatten.forall(r => !b1.contains(r._1)), "batch 1 still probed")
    assert(antiJoined() === a1)

    val b2 = top3(a1)
    CodesIndex.deleteFromIndex(model, b2.toDF("vec_id"), 2L)
    val a2 = answers()
    assert(reads === r0 + 2, "a new tombstone file set must be a new key")
    assert(a2.flatten.forall(r => !b1.contains(r._1) && !b2.contains(r._1)),
      "a batch still probed")
    assert(antiJoined() === a2)

    CodesIndex.compactIndex(spark, model)
    assert(FileSnapshots.named(spark, model.indexPath, Snapshot.Tomb).isEmpty)
    assert(answers() === a2, "compaction changed probe results")
    assert(reads === r0 + 2, "no tombstones left to read")
    val root = Snapshot.latest(spark, model.indexPath).get.root
    assert(graft.Artifacts.held("index.tombstones").get(root) === Some(1),
      "the memo holds one entry per index root")
  }
}
