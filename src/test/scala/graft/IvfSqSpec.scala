package graft

import org.apache.spark.sql.functions._
import graft.operators.{CodesIndex, IvfSq, Sq, Similarity}

class IvfSqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("exhaustive probe with corpus-sized rerank equals brute-force top-k") {
    // nprobe = nlist disables pruning and rerank ≥ corpus makes the ADC
    // pass a pure enumerator: equality proves the codes table is complete
    val model = IvfSq.buildIndex(sfDir + "#spec", emb)
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val got = CodesIndex.probe(model, emb, 0L, 10,
      nprobe = model.coarse.get.nlist, rerank = emb.count().toInt + 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("code append keeps existing files byte-identical and equals a frozen re-encode") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val model = IvfSq.buildIndex(sfDir + "#appendspec", base)
    val before = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndex(model, batch)
    val after = FileSnapshots.snapshot(model.indexPath)
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"pre-existing file changed: $p")
    }
    assert((after.keySet -- before.keySet).nonEmpty)
    val stored = CodesIndex.readIndex(spark, model)
      .select($"vec_id", $"codes", $"list".cast("int").as("list"))
    val expected = CodesIndex.encode(model, emb)
    assert(stored.exceptAll(expected).isEmpty, "stored has codes a fresh encode lacks")
    assert(expected.exceptAll(stored).isEmpty, "fresh encode has codes the stored table lacks")
  }

  test("idempotent append: replaying a batch is a no-op, new batches land") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = IvfSq.buildIndex(sfDir + "#idemspec", base)
    val b1 = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 === 0)
    val b2 = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 =!= 0)
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 0L)
    val afterOnce = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 0L)
    assert(FileSnapshots.snapshot(model.indexPath) === afterOnce)
    CodesIndex.appendToIndexIdempotent(model, b2, batchId = 1L)
    val stored = CodesIndex.readIndex(spark, model)
      .select($"vec_id", $"codes", $"list".cast("int").as("list"))
    val expected = CodesIndex.encode(model, emb)
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
  }

  test("deleteFromIndex masks the ADC ranking; compactLists drops physically") {
    val model = IvfSq.buildIndex(sfDir + "#delspec", emb)
    val before = FileSnapshots.named(spark, model.indexPath)
    CodesIndex.deleteFromIndex(model,
      emb.filter($"vec_id" % 7 === 3).select("vec_id"), batchId = 0L)
    assert(FileSnapshots.named(spark, model.indexPath) === before,
      "delete must not touch the codes table")
    val got = CodesIndex.probe(model, emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.forall(_ % 7 != 3), "deleted ids still probed")
    val pBefore = CodesIndex.probe(model, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    CodesIndex.compactIndex(spark, model, maxFilesPerList = Int.MaxValue)
    assert(CodesIndex.readIndex(spark, model)
      .filter($"vec_id" % 7 === 3).count() === 0)
    assert(CodesIndex.probe(model, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq === pBefore)
  }

  test("persisted composite model round-trips exactly") {
    val model = IvfSq.buildIndex(sfDir + "#persist", emb)
    val loaded = CodesIndex.loadModel[Sq.SqCodec](spark, model.indexPath).get
    assert(loaded.coarse.get.nlist === model.coarse.get.nlist && loaded.layout.dim === model.layout.dim &&
      loaded.coarse.get.iters === model.coarse.get.iters)
    assert(loaded.layout.mins.toSeq === model.layout.mins.toSeq)
    assert(loaded.layout.spans.toSeq === model.layout.spans.toSeq)
    assert(loaded.coarse.get.centroids.map(_._1).toSeq === model.coarse.get.centroids.map(_._1).toSeq)
    assert(loaded.coarse.get.centroids.zip(model.coarse.get.centroids)
      .forall { case ((_, a), (_, b)) => a.toSeq == b.toSeq })
    val p = CodesIndex.probe(model, emb, 0L, 10).as[(Long, Double)].collect().toSeq
    assert(CodesIndex.probe(loaded, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq === p)
  }

  test("probeAll equals the single-query probe for every query") {
    val model = IvfSq.buildIndex(sfDir, emb)
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

  test("probe plan prunes to probed lists AND reads only codes, never vectors") {
    val df = SparkEntry.queries("ann_topk_ivfsq")(spark, sfDir)
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

  test("partial probing keeps useful recall and beats the PQ floor") {
    // 8 bits per residual dimension: recall should sit well above PQ's
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val got = IvfSq.topKIvfSq(emb, 0L, 10, indexKey = sfDir + "#spec")
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF-SQ recall@10 was $recall")
  }
}
