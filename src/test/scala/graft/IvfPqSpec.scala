package graft

import org.apache.spark.sql.functions._
import graft.operators.{CodesIndex, IvfPq, Pq, Similarity}

class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val model = IvfPq.buildIndex(sfDir + "#spec", emb)

  test("exhaustive probe with corpus-sized rerank equals brute-force top-k") {
    // nprobe = nlist makes the candidate set the whole corpus, and a
    // corpus-sized rerank makes the ADC ordering irrelevant — the exact
    // re-rank must then reproduce brute force exactly
    val n = emb.count().toInt
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val got = CodesIndex.probe(model, emb, 0L, 10, nprobe = model.coarse.get.nlist, rerank = n)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("code append keeps existing files byte-identical and equals a frozen re-encode") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val incModel = IvfPq.buildIndex(sfDir + "#appendspec", base)
    val before = FileSnapshots.snapshot(incModel.indexPath)
    CodesIndex.appendToIndex(incModel, batch)
    val after = FileSnapshots.snapshot(incModel.indexPath)
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"pre-existing file changed: $p")
    }
    assert((after.keySet -- before.keySet).nonEmpty)
    // stored (vec_id, codes, list) == frozen assignment + residual encode
    // of the whole union
    val stored = spark.read.parquet(incModel.indexPath)
      .select($"vec_id", $"codes", $"list".cast("int").as("list"))
    val expected = CodesIndex.encode(incModel, emb)
    assert(stored.exceptAll(expected).isEmpty, "stored has codes a fresh encode lacks")
    assert(expected.exceptAll(stored).isEmpty, "fresh encode has codes the stored index lacks")
  }

  test("idempotent code append: replaying a batch is a no-op, new batches land") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val incModel = IvfPq.buildIndex(sfDir + "#idemspec", base)
    val b1 = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 === 0)
    val b2 = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 =!= 0)
    CodesIndex.appendToIndexIdempotent(incModel, b1, batchId = 0L)
    val afterOnce = FileSnapshots.snapshot(incModel.indexPath)
    CodesIndex.appendToIndexIdempotent(incModel, b1, batchId = 0L)
    assert(FileSnapshots.snapshot(incModel.indexPath) === afterOnce)
    CodesIndex.appendToIndexIdempotent(incModel, b2, batchId = 1L)
    val stored = spark.read.parquet(incModel.indexPath)
      .select($"vec_id", $"codes", $"list".cast("int").as("list"))
    val expected = CodesIndex.encode(incModel, emb)
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
  }

  test("exhaustive full-rerank probe over an incrementally-built index equals brute force") {
    val incModel = IvfPq.buildIncremental(sfDir + "#appendspec2",
      emb.filter($"vec_id" % 5 =!= 0), emb.filter($"vec_id" % 5 === 0))
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val got = CodesIndex.probe(incModel, emb, 0L, 10,
        nprobe = incModel.coarse.get.nlist, rerank = emb.count().toInt)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("partial probing keeps useful recall") {
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val got = CodesIndex.probe(model, emb, 0L, 10, nprobe = 8)
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF-PQ recall@10 at nprobe=8 was $recall")
  }

  test("probe plan prunes to probed lists AND reads only codes, never vectors") {
    val df = SparkEntry.queries("ann_topk_ivfpq")(spark, sfDir)
    val scans = PlansSpec.unwrapped(df).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val idxScans = scans.filter(_.partitionFilters.exists(
      _.references.exists(_.name == "list")))
    assert(idxScans.nonEmpty,
      s"no pruned index scan in:\n${df.queryExecution.executedPlan}")
    idxScans.foreach { s =>
      assert(s.selectedPartitions.partitionCount <= 4,
        s"probe reads ${s.selectedPartitions.partitionCount} list dirs (> nprobe)")
      assert(!s.schema.fieldNames.contains("embedding"),
        "index scan reads raw embeddings — must read codes only")
    }
  }

  test("probeAll equals the single-query probe for every query") {
    val emb = Tables.embeddings(spark, sfDir)
    val model = IvfPq.buildIndex(sfDir, emb)
    val all = CodesIndex.probeAll(model, emb, emb.filter($"vec_id" < 5), 10)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    (0L until 5L).foreach { qid =>
      val single = CodesIndex.probe(model, emb, qid, 10)
        .as[(Long, Double)].collect().toSet
      assert(all(qid) === single, s"query $qid diverged")
    }
  }

  test("persisted composite model round-trips exactly") {
    val loaded = CodesIndex.loadModel[Pq.PqCodec](spark, model.indexPath).get
    assert(loaded.coarse.get.nlist === model.coarse.get.nlist && loaded.layout.m === model.layout.m &&
      loaded.layout.ksub === model.layout.ksub && loaded.layout.subDim === model.layout.subDim)
    assert(loaded.coarse.get.centroids.map(_._1).toSeq === model.coarse.get.centroids.map(_._1).toSeq)
    assert(loaded.coarse.get.centroids.zip(model.coarse.get.centroids)
      .forall { case ((_, a), (_, b)) => a.toSeq == b.toSeq })
    loaded.layout.codebooks.zip(model.layout.codebooks).foreach { case (a, b) =>
      assert(a.map(_._1).toSeq === b.map(_._1).toSeq)
      assert(a.zip(b).forall { case ((_, x), (_, y)) => x.toSeq == y.toSeq })
    }
    val p = CodesIndex.probe(model, emb, 0L, 10).as[(Long, Double)].collect().toSeq
    assert(CodesIndex.probe(loaded, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq === p)
  }

  test("sharded lifecycle: fan-out ≡ per-shard probeAll union; routed append/delete route correctly") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val sm = IvfPq.buildShardedIndex(sfDir + "#shpqspec", base,
      nShards = 3, nlist = 4)
    val qs = emb.filter($"vec_id" < 8)
    // the fan-out set-probe equals the hand-rolled per-shard union re-cut
    val got = CodesIndex.probeShardedAll(sm, emb, qs, 5, nprobe = 2, rerank = 20)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("cosine"), col("vec_id"))
    val byHand = sm.shards
      .map(m => CodesIndex.probeAll(m, emb, qs, 5, nprobe = 2, rerank = 20).drop("rn"))
      .reduce(_ unionByName _)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(got === byHand)
    // exhaustive fan-out over base+appended batch ≡ brute force: routing,
    // per-shard frozen-model encode, ADC and the re-cut lose nothing
    CodesIndex.appendToShardedIndexIdempotent(sm, batch, batchId = 5L)
    CodesIndex.appendToShardedIndexIdempotent(sm, batch, batchId = 5L) // replay no-op
    assert(sm.shards.map(m => spark.read.parquet(m.indexPath).count()).sum
      === emb.count())
    val exact = Similarity.knnJoin(emb, qs, 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val exh = CodesIndex.probeShardedAll(sm, emb, qs, 5, nprobe = 4,
        rerank = Int.MaxValue)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(exh === exact)
    // routed delete masks across shards
    val doomed = emb.filter($"vec_id" % 7 === 1).select("vec_id")
    CodesIndex.deleteFromShardedIndex(sm, doomed, batchId = 6L)
    val exactLive = Similarity.knnJoin(emb.filter($"vec_id" % 7 =!= 1), qs, 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    val after = CodesIndex.probeShardedAll(sm, emb, qs, 5, nprobe = 4,
        rerank = Int.MaxValue)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
    assert(after === exactLive)
  }
}
