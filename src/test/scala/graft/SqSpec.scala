package graft

import org.apache.spark.sql.functions._
import graft.operators.{CodesIndex, Sq, Similarity}

class SqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("param training is deterministic across partitionings") {
    // min/max SELECTIONS on the integer grid: no mean anywhere, so two
    // trainings over different partitionings are byte-identical
    val (mnA, spA) = Sq.trainParams(emb)
    val (mnB, spB) = Sq.trainParams(emb.repartition(7))
    assert(mnA.toSeq === mnB.toSeq)
    assert(spA.toSeq === spB.toSeq)
  }

  test("codes table is dim uint8 codes per vector (4x compression)") {
    val model = Sq.buildIndex(sfDir + "#spec", emb)
    val codes = CodesIndex.readIndex(spark, model)
    assert(codes.count() === emb.count())
    val rows = codes.select("codes").as[Seq[Int]].collect()
    assert(rows.forall(_.length === 64))
    assert(rows.forall(_.forall(c => c >= 0 && c <= 255)))
    // the trained extremes must land exactly on the code boundaries
    assert(rows.exists(_.contains(0)))
    assert(rows.exists(_.contains(255)))
  }

  test("out-of-range append values saturate at the code boundaries") {
    // train on base only, then encode the full corpus: any batch value
    // outside the base min/max must clamp to 0/255, never wrap or throw
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = Sq.buildIndex(sfDir + "#satspec", base)
    val codes = CodesIndex.encode(model, emb).select("codes").as[Seq[Int]].collect()
    assert(codes.forall(_.forall(c => c >= 0 && c <= 255)))
  }

  test("code append keeps existing files byte-identical and equals a frozen re-encode") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val model = Sq.buildIndex(sfDir + "#appendspec", base)
    val before = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndex(model, batch)
    val after = FileSnapshots.snapshot(model.indexPath)
    before.foreach { case (p, sig) =>
      assert(after.get(p).contains(sig), s"pre-existing file changed: $p")
    }
    assert((after.keySet -- before.keySet).nonEmpty)
    val stored = CodesIndex.readIndex(spark, model)
    val expected = CodesIndex.encode(model, emb)
    assert(stored.exceptAll(expected).isEmpty, "stored has codes a fresh encode lacks")
    assert(expected.exceptAll(stored).isEmpty, "fresh encode has codes the stored table lacks")
  }

  test("full-rerank probe over an incrementally-built codes table equals brute force") {
    val model = Sq.buildIncremental(sfDir + "#appendspec2",
      emb.filter($"vec_id" % 5 =!= 0), emb.filter($"vec_id" % 5 === 0))
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSeq
    val got = CodesIndex.probe(model, emb, 0L, 10, rerank = emb.count().toInt + 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === exact)
  }

  test("idempotent code append: replaying a batch is a no-op, new batches land") {
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val model = Sq.buildIndex(sfDir + "#idemspec", base)
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
    val model = Sq.buildIndex(sfDir + "#compactspec", base)
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
    val model = Sq.buildIndex(sfDir, emb)
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
    val model = Sq.buildIndex(sfDir + "#delspec", emb)
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

  test("persisted params round-trip exactly and survive compaction") {
    val model = Sq.buildIndex(sfDir + "#persist", emb)
    val loaded = CodesIndex.loadModel[Sq.SqCodec](spark, model.indexPath).get
    assert(loaded.layout.dim === model.layout.dim)
    assert(loaded.layout.mins.toSeq === model.layout.mins.toSeq)
    assert(loaded.layout.spans.toSeq === model.layout.spans.toSeq)
    val p = CodesIndex.probe(model, emb, 0L, 10).as[(Long, Double)].collect().toSeq
    assert(CodesIndex.probe(loaded, emb, 0L, 10)
      .as[(Long, Double)].collect().toSeq === p)
    CodesIndex.compactIndex(spark, model)
    assert(CodesIndex.loadModel[Sq.SqCodec](spark, model.indexPath).nonEmpty,
      "params lost across compaction swap")
  }

  test("saturation report: zero clamps on the training corpus itself") {
    // params are the corpus min/max, so nothing in the corpus can fall
    // outside them — and a shifted batch must show up as clamped
    val model = Sq.buildIndex(sfDir + "#spec", emb)
    val self = Sq.saturationReport(model, emb)
      .agg(sum("n_low").as("lo"), sum("n_high").as("hi"))
      .as[(Long, Long)].collect()(0)
    assert(self === ((0L, 0L)))
    val shifted = emb.withColumn("embedding",
      transform($"embedding", x => (x + lit(10.0f)).cast("float")))
    val drift = Sq.saturationReport(model, shifted)
      .agg(sum("n_high").as("hi")).as[Long].collect()(0)
    assert(drift > 0L, "a +10 shift must clamp high")
  }

  test("8-bit ADC + exact rerank keeps high recall vs exact top-k") {
    // full per-dimension resolution: SQ8 should beat PQ's 0.5 floor easily
    val exact = Similarity.topK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val sq = Sq.topKSq(emb, 0L, 10, indexKey = sfDir + "#spec")
      .select("vec_id").as[Long].collect().toSet
    val recall = (exact & sq).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall@10 was $recall")
  }
}
