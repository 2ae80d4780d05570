package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pretrain}

/** The incremental flagship's contract: bit-identity with a full recompute
  * (the cross-engine half is the `cur_pretrain_incr` DuckDB oracle), a
  * diff-sized frontier, and the restricted span-cut primitive agreeing
  * with the full one.
  */
class PretrainSpec extends SparkSpec {
  import spark.implicits._

  private lazy val prev = Tables.documentsWithClones(spark, sfDir)
  private lazy val probe =
    Tables.documents(spark, sfDir).filter(col("doc_id") % 100 === 0)
  // the cur_pretrain_incr refresh recipe: 1/70 dropped, 1/30 edited,
  // 1/40 re-keyed copies added
  private lazy val cur = prev.filter(col("doc_id") % 70 =!= 3)
    .withColumn("text", when(col("doc_id") % 30 === 0,
      concat(col("text"), lit(" qqedit"))).otherwise(col("text")))
    .unionByName(prev.filter(col("doc_id") % 40 === 0)
      .withColumn("doc_id", col("doc_id") + 900000L))

  test("cutSubstrSpansFor equals the full cut restricted to the targets") {
    val targets = prev.filter(col("doc_id") % 7 === 0).select("doc_id")
    val full = Dedup.cutSubstrSpans(prev)
      .join(targets, Seq("doc_id"), "left_semi")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    val restricted = Dedup.cutSubstrSpansFor(prev, targets)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(restricted === full)
  }

  test("incremental rebuild is bit-identical to a full recompute") {
    val st = Pretrain.state(prev, probe)
    val inc = Pretrain.incremental(prev, cur, probe, st)
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val full = Pretrain.full(cur, probe)
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(inc.nonEmpty)
    assert(inc === full)
  }

  test("frontier is diff-sized, not corpus-sized") {
    val st = Pretrain.state(prev, probe)
    val i = Pretrain.increment(prev, cur, st)
    val nSurv = i.collapsed.count()
    val nAff = i.affected.count()
    val nDirty = graft.operators.Curation
      .snapshotDiff(prev, cur, "doc_id", md5(col("text")))
      .filter(col("status") =!= "unchanged").count()
    info(s"survivors=$nSurv affected=$nAff diff=$nDirty")
    assert(nAff > 0, "refresh recipe produced no frontier — vacuous test")
    assert(nAff < nSurv / 2,
      s"frontier $nAff is not small against $nSurv survivors")
  }

  test("an unchanged corpus yields an empty frontier and full reuse") {
    val st = Pretrain.state(prev, probe)
    val i = Pretrain.increment(prev, prev, st)
    assert(i.affected.count() === 0L)
    val inc = Pretrain.incremental(prev, prev, probe, st)
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val full = Pretrain.pack(st.gated)
      .orderBy("doc_id", "chunk_no")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(inc === full)
  }

  test("corpus→index flagship: deletes near-dups, probe ≡ brute force over survivors") {
    // the cur_pretrain_index chain at spec scale: gate → embed → one IVF
    // build shared by SemDeDup and serving → tombstone delete → exhaustive
    // probe; assert the probe equals brute-force top-k over the survivors
    // and that no deleted id can be retrieved
    val gated = Pretrain.state(prev, probe).gated
    val emb = operators.Embed.hashedTf(gated)
    val key = sfDir + "#flagspec"
    val model = operators.Ivf.buildIndex(key, emb)
    val doomed = Dedup
      .nearDupClusters(Dedup.semanticDupPairs(emb, 0.8, key), "vec_a", "vec_b")
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as("vec_id"))
    operators.CodesIndex.deleteFromIndex(model, doomed, batchId = 0L)
    val survivors = emb.join(doomed, Seq("vec_id"), "left_anti")
    val qid = survivors.agg(min("vec_id")).head().getLong(0)
    val probed = operators.Ivf
      .probe(model, emb, qid, 10, nprobe = model.coarse.get.centroids.length)
      .as[(Long, Double)].collect().toSeq
    val exact = operators.Similarity.topK(survivors, qid, 10)
      .as[(Long, Double)].collect().toSeq
    assert(probed === exact)
    val doomedIds = doomed.as[Long].collect().toSet
    assert(probed.forall { case (id, _) => !doomedIds.contains(id) })
  }

  test("pretrain state commits take the filesystem from the path, not fs.defaultFS") {
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") % 4 === 0)
    val want = Pretrain.full(docs, probe, new CacheScope)
      .orderBy("doc_id", "chunk_no").collect().toSeq
    val stateDir =
      "file:" + java.nio.file.Files.createTempDirectory("graft-ptfs") + "/state"
    // the default filesystem names a scheme no commit may touch
    val conf = spark.sparkContext.hadoopConfiguration
    val prev = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "graftnofs:///")
    val got =
      try {
        Pretrain.absorbBatch(docs, probe, stateDir, 0L)
        Pretrain.packedSnapshot(spark, stateDir).get
          .orderBy("doc_id", "chunk_no").collect().toSeq
      } finally conf.set("fs.defaultFS", prev)
    assert(got.nonEmpty && got === want)
  }
}
