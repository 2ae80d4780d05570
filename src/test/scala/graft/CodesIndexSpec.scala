package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{CodesIndex, Ivf, IvfPq, IvfSq, Pq, Sq}
import graft.operators.CodesIndex.{Codec, CodesModel, Layout}

/** One lifecycle script over the five layouts (raw IVF and the four
  * compressed-codes ones): every layout must build, ingest exactly-once,
  * delete, probe consistently, compact, stay replay-safe and reload from
  * disk the same way, and never infer its table's schema on the way.
  */
class CodesIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sfDir)

  /** A layout under test: its build, and its single and set probes (top
    * 10, at the given nprobe) — exact cosine for raw IVF, ADC + rerank for
    * the codes layouts.
    */
  private final case class Case[L <: Layout](
      build: (String, DataFrame) => CodesModel[L],
      probe: (CodesModel[L], Long, Int) => DataFrame,
      probeAll: (CodesModel[L], DataFrame, Int) => DataFrame)

  private def codes(build: (String, DataFrame) => CodesModel[Codec]): Case[Codec] =
    Case[Codec](build,
      (m, q, nprobe) => CodesIndex.probe(m, emb, q, 10, nprobe = nprobe),
      (m, qs, nprobe) => CodesIndex.probeAll(m, emb, qs, 10, nprobe = nprobe))

  private val layouts: Seq[(String, Case[_ <: Layout])] = Seq(
    "pq" -> codes((key, df) => Pq.buildIndex(key, df)),
    "sq" -> codes((key, df) => Sq.buildIndex(key, df)),
    "ivfpq" -> codes((key, df) => IvfPq.buildIndex(key, df, nlist = 8)),
    "ivfsq" -> codes((key, df) => IvfSq.buildIndex(key, df, nlist = 8)),
    "ivf" -> Case[Ivf.Flat.type]((key, df) => Ivf.buildIndex(key, df, nlist = 8),
      (m, q, nprobe) => Ivf.probe(m, emb, q, 10, nprobe = nprobe),
      (m, qs, nprobe) => Ivf.probeAll(m, qs, 10, nprobe = nprobe)))

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  for ((name, layout) <- layouts)
    test(s"$name: build, ingest, delete, probe ≡ probeAll, compact, replay and reload") {
      lifecycle(name, layout)
    }

  private def lifecycle[L <: Layout](name: String, c: Case[L]): Unit = {
    val model = c.build(s"$sfDir#codes-lifecycle-$name", emb.filter($"vec_id" % 5 =!= 0))
    val nprobe = model.coarse.fold(1)(_.nlist)
    val batch = emb.filter($"vec_id" % 5 === 0)
    CodesIndex.appendToIndexIdempotent(model, batch, batchId = 1L)
    val once = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndexIdempotent(model, batch, batchId = 1L)
    assert(FileSnapshots.snapshot(model.indexPath) === once, "replayed ingest re-landed")
    assert(same(CodesIndex.readIndex(spark, model), CodesIndex.encode(model, emb)))

    def probes(m: CodesModel[L]): Seq[Seq[(Long, Double)]] =
      (0L until 3L).map(q => c.probe(m, q, nprobe).as[(Long, Double)].collect().toSeq)
    val inferred = InferenceJobs.of(spark) {
      CodesIndex.deleteFromIndex(model,
        emb.filter($"vec_id" % 7 === 3).select("vec_id"), batchId = 2L)
      val single = probes(model)
      assert(single.flatten.forall(_._1 % 7 != 3), "deleted ids still probed")
      val all = c.probeAll(model, emb.filter($"vec_id" < 3), nprobe)
        .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
      (0L until 3L).foreach(q => assert(all(q) === single(q.toInt).toSet, s"query $q"))
      CodesIndex.compactIndex(spark, model)
      assert(probes(model) === single, "compaction changed probe results")
    }
    assert(inferred.isEmpty, s"schema-inference jobs: ${inferred.mkString(", ")}")
    assert(!new java.io.File(model.indexPath + "__tombstones").exists())
    assert(!new java.io.File(model.indexPath + "__compact_staging").exists())
    assert(CodesIndex.readIndex(spark, model).filter($"vec_id" % 7 === 3).isEmpty)

    val compacted = FileSnapshots.snapshot(model.indexPath)
    CodesIndex.appendToIndexIdempotent(model, batch, batchId = 1L)
    assert(FileSnapshots.snapshot(model.indexPath) === compacted,
      "ingest replayed after compaction re-landed")

    val loaded = CodesIndex.loadModel[Layout](spark, model.indexPath).get
      .asInstanceOf[CodesModel[L]]
    assert(loaded.schema === model.schema && loaded.layout.lines === model.layout.lines)
    assert(probes(loaded) === probes(model))
  }

  test("loadModel refuses a _model without a schema and a different codec") {
    val model = Pq.buildIndex(s"$sfDir#codes-load", emb)
    intercept[IllegalArgumentException](
      CodesIndex.loadModel[Sq.SqCodec](spark, model.indexPath))
    val old = java.nio.file.Files.createTempDirectory("graft-codes-noschema")
    java.nio.file.Files.write(old.resolve("_model"), "sq 1\nS 0 0 1\n".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      CodesIndex.loadModel[Codec](spark, old.toString))
    assert(e.getMessage.contains("schema"))
  }
}
