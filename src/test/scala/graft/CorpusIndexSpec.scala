package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusIndex, Dedup, Embed, Ivf, Pretrain, Similarity}
import graft.functions.VectorOps

/** The incremental corpus→index refresh's contract: the mutated index
  * equals the from-scratch target state under the frozen quantizer (the
  * cross-engine half is the `cur_pretrain_index_incr` oracle), and the
  * whole composition is replay-stable within a JVM.
  */
class CorpusIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val prev = Tables.documentsWithClones(spark, sfDir)
  private lazy val probe =
    Tables.documents(spark, sfDir).filter(col("doc_id") % 100 === 0)
  private lazy val cur = prev.filter(col("doc_id") % 70 =!= 3)
    .withColumn("text", when(col("doc_id") % 30 === 0,
      concat(col("text"), lit(" qqedit"))).otherwise(col("text")))
    .unionByName(prev.filter(col("doc_id") % 40 === 0)
      .withColumn("doc_id", col("doc_id") + 900000L))

  test("refresh ≡ from-scratch target state; replay-stable; tombstones honest") {
    val (model, embCur0) = CorpusIndex.refresh(prev, cur, probe,
      sfDir + "#cispec", sfDir + "#cispecidx")
    val embCur = embCur0.persist()
    // from-scratch semantics: frozen-quantizer assignment over the CUR
    // embeddings, within-list pairs at 0.8, full closure, min-id reps
    val assigned = Ivf.index(embCur, model.coarse.get.centroids)
      .select("vec_id", "embedding", "list").persist()
    val pairs = assigned.select(col("list"), col("vec_id").as("ia"),
        col("embedding").as("ea"))
      .join(assigned.select(col("list"), col("vec_id").as("ib"),
        col("embedding").as("eb")), "list")
      .filter(col("ia") < col("ib"))
      .withColumn("cosine", VectorOps.cosine(col("ea"), col("eb")))
      .filter(col("cosine") >= 0.8)
      .select(col("ia").as("vec_a"), col("ib").as("vec_b"))
    val doomed = Dedup.nearDupClusters(pairs, "vec_a", "vec_b")
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as("vec_id"))
    val survivors = embCur.join(doomed, Seq("vec_id"), "left_anti")
    // 1. the materialized live set is exactly the from-scratch survivors
    val rows = graft.operators.CodesIndex.readIndex(spark, model).select("vec_id")
    val live = rows.join(FileSnapshots.tombstones(spark, model.indexPath), Seq("vec_id"), "left_anti")
      .as[Long].collect().toSet
    assert(live === survivors.select("vec_id").as[Long].collect().toSet)
    // 2. probe ≡ brute force over the from-scratch survivors
    val qid = CorpusIndex.minLiveVecId(model)
    val probed = Ivf.probe(model, embCur, qid, 10,
      nprobe = model.coarse.get.centroids.length).as[(Long, Double)].collect().toSeq
    val exact = Similarity.topK(survivors, qid, 10)
      .as[(Long, Double)].collect().toSeq
    assert(probed === exact)
    // 3. the refresh actually mutated: the prev gated set differs from cur
    val gPrev = Pretrain.buildState(sfDir + "#cispec", prev, probe).gated
    assert(live !==
      Embed.hashedTf(gPrev).select("vec_id").as[Long].collect().toSet)
    // 4. replay-stable: a second refresh call re-derives nothing and
    // probes identically
    val (m2, embCur2) = CorpusIndex.refresh(prev, cur, probe,
      sfDir + "#cispec", sfDir + "#cispecidx")
    val probed2 = Ivf.probe(m2, embCur2, qid, 10,
      nprobe = m2.coarse.get.centroids.length).as[(Long, Double)].collect().toSeq
    assert(probed2 === probed)
    embCur.unpersist(); assigned.unpersist()
  }

  test("builtParts separates index geometries; default tag rejects a custom embedder") {
    val gated = prev.limit(40).select("doc_id", "text")
    // two callers with different quantizer knobs under one state key must
    // get DISTINCT artifacts — the pair table's geometry comes from the
    // (nlist, iters) build, so sharing across knobs would hand caller 2
    // caller 1's pair set
    val a = CorpusIndex.builtParts(spark, gated, sfDir + "#bpspec",
      sfDir + "#bpspecIdxA", 0.8, graft.CacheScope.global,
      Embed.hashedTf(_), "tfA")
    val b = CorpusIndex.builtParts(spark, gated, sfDir + "#bpspec",
      sfDir + "#bpspecIdxB", 0.8, graft.CacheScope.global,
      Embed.hashedTf(_), "tfA", nlist = 4)
    assert(a._1 !== b._1, "different nlist must key different artifacts")
    // a custom embedder under the default "tf" tag would serve its vectors
    // to every later default-tag caller — fail fast instead
    intercept[IllegalArgumentException] {
      CorpusIndex.builtParts(spark, gated, sfDir + "#bpspec",
        sfDir + "#bpspecIdxC", 0.8, graft.CacheScope.global,
        d => Embed.hashedTfIdf(d), "tf")
    }
  }
}
