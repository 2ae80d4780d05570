package graft

import org.apache.spark.sql.functions._
import graft.operators.{CodesIndex, Pq, Similarity}

class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("codebook training is deterministic across partitionings") {
    // the integer-grid Lloyd contract, per subspace: no float mean anywhere,
    // so two trainings over different partitionings are byte-identical
    val a = Pq.trainCodebooks(emb, 8, 16)
    val b = Pq.trainCodebooks(emb.repartition(7), 8, 16)
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.map(_._1).toSeq === y.map(_._1).toSeq)
      assert(x.zip(y).forall { case ((_, p), (_, q)) => p.toSeq == q.toSeq })
    }
  }

  test("codes table is m small ints per vector (the compressed index)") {
    val model = Pq.buildIndex(sfDir + "#spec", emb)
    val codes = CodesIndex.readIndex(spark, model)
    assert(codes.count() === emb.count())
    val rows = codes.select("codes").as[Seq[Int]].collect()
    assert(rows.forall(_.length === 8))
    assert(rows.forall(_.forall(c => c >= 0 && c < 16)))
  }

  test("code append keeps existing files byte-identical and equals a frozen re-encode") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val model = Pq.buildIndex(sfDir + "#appendspec", base)
    val before = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndex(model, batch)
    val after = FileSnapshots.snapshot(model.indexPath)
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"pre-existing file changed: $p")
    }
    assert((after.keySet -- before.keySet).nonEmpty)
    // stored codes == encoding the union with the frozen codebooks
    val stored = CodesIndex.readIndex(spark, model)
    val expected = CodesIndex.encode(model, emb)
    assert(stored.exceptAll(expected).isEmpty, "stored has codes a fresh encode lacks")
    assert(expected.exceptAll(stored).isEmpty, "fresh encode has codes the stored table lacks")
  }

  test("full-rerank probe over an incrementally-built codes table equals brute force") {
    // rerank ≥ corpus size makes the ADC pass a pure candidate enumerator:
    // the exact re-rank then equals brute force IFF the appended table is
    // complete and correct
    val model = Pq.buildIncremental(sfDir + "#appendspec2",
      emb.filter($"vec_id" % 5 =!= 0), emb.filter($"vec_id" % 5 === 0))
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val got = CodesIndex.probe(model, emb, 0L, 10, rerank = emb.count().toInt + 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("idempotent code append: replaying a batch is a no-op, new batches land") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = Pq.buildIndex(sfDir + "#idemspec", base)
    val b1 = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 === 0)
    val b2 = emb.filter($"vec_id" % 5 === 0 && $"vec_id" % 2 =!= 0)
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 0L)
    val afterOnce = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 0L)
    assert(FileSnapshots.snapshot(model.indexPath) === afterOnce)
    assert(new java.io.File(model.indexPath).list().forall(!_.startsWith("_staging")))
    CodesIndex.appendToIndexIdempotent(model, b2, batchId = 1L)
    val stored = CodesIndex.readIndex(spark, model)
    val expected = CodesIndex.encode(model, emb)
    assert(stored.exceptAll(expected).isEmpty)
    assert(expected.exceptAll(stored).isEmpty)
  }

  test("compactCodes folds ingest files; replayed batch stays a no-op via manifest") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = Pq.buildIndex(sfDir + "#compactspec", base)
    val b1 = emb.filter($"vec_id" % 5 === 0)
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 7L)
    val nBefore = CodesIndex.readIndex(spark, model).count()
    CodesIndex.compactIndex(spark, model, targetRowsPerFile = 1000000L)
    val snap = FileSnapshots.snapshot(model.indexPath)
    assert(FileSnapshots.named(spark, model.indexPath).keys.forall(!_.contains("ingest-7")),
      "marker file should be folded away")
    CodesIndex.appendToIndexIdempotent(model, b1, batchId = 7L) // crash replay
    assert(FileSnapshots.snapshot(model.indexPath) === snap,
      "replayed batch re-appended after compactCodes")
    assert(new java.io.File(model.indexPath).list().forall(!_.startsWith("_staging")))
    assert(CodesIndex.readIndex(spark, model).count() === nBefore)
  }

  test("probeAll equals the single-query probe for every query") {
    val model = Pq.buildIndex(sfDir, emb)
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

  test("deleteFromIndex masks the ADC ranking; compactCodes drops physically") {
    val model = Pq.buildIndex(sfDir + "#delspec", emb)
    val before = FileSnapshots.named(spark, model.indexPath)
    CodesIndex.deleteFromIndex(model,
      emb.filter($"vec_id" % 7 === 3).select("vec_id"), batchId = 0L)
    assert(FileSnapshots.named(spark, model.indexPath) === before,
      "delete must not touch the codes table")
    val got = CodesIndex.probe(model, emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.forall(_ % 7 != 3), "deleted ids still probed")
    val pBefore = CodesIndex.probe(model, emb, 0L, 10).as[(Long, Double)].collect().toSeq
    CodesIndex.compactIndex(spark, model)
    assert(FileSnapshots.named(spark, model.indexPath, graft.sources.Snapshot.Tomb).isEmpty)
    assert(CodesIndex.readIndex(spark, model)
      .filter($"vec_id" % 7 === 3).count() === 0)
    assert(CodesIndex.probe(model, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq === pBefore)
  }

  test("persisted codebooks round-trip exactly and survive compaction") {
    val model = Pq.buildIndex(sfDir + "#persist", emb)
    val loaded = CodesIndex.loadModel[Pq.PqCodec](spark, model.indexPath).get
    assert(loaded.layout.m === model.layout.m && loaded.layout.ksub === model.layout.ksub &&
      loaded.layout.subDim === model.layout.subDim)
    assert(loaded.layout.codebooks.length === model.layout.codebooks.length)
    loaded.layout.codebooks.zip(model.layout.codebooks).foreach { case (a, b) =>
      assert(a.map(_._1).toSeq === b.map(_._1).toSeq)
      assert(a.zip(b).forall { case ((_, x), (_, y)) => x.toSeq == y.toSeq })
    }
    val p = CodesIndex.probe(model, emb, 0L, 10).as[(Long, Double)].collect().toSeq
    assert(CodesIndex.probe(loaded, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq === p)
    // compaction commits a new snapshot — the codebooks must come along
    CodesIndex.compactIndex(spark, model)
    assert(CodesIndex.loadModel[Pq.PqCodec](spark, model.indexPath).nonEmpty,
      "codebooks lost across compaction swap")
  }

  test("ADC + exact rerank keeps useful recall vs exact top-k") {
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val pq = Pq.topKPq(emb, 0L, 10, indexKey = sfDir + "#spec")
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@10 was $recall")
  }
}
