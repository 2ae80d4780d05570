package bench

import org.apache.spark.sql.{DataFrame, Row}

import graft.CacheScope
import graft.operators.Pretrain

/** One round of the nightly curation job, run traced at the end of a
  * traced `sales_landing` run so the Pretrain spans are measured. The round
  * builds on fresh content under a fresh store key (`Pretrain.buildState`
  * then `Pretrain.pack`, the data-heavy full build), then applies one seeded
  * diff with `Pretrain.incremental` against that state (sized by the diff,
  * dominated by job count and store reads). Outside the timed operations,
  * the refresh's output must equal `Pretrain.full` on the same corpus.
  * Its operations are kept out of every end-to-end metric.
  */
final class CurationRound(run: Run) {
  import CurationRound._

  private val spark = run.spark
  private val root = run.dir("corpus")

  def apply(): Unit = {
    val probe = land(s"$root/probe", Gen.probeSet(run.seed)
      .map { case (id, t) => Row(id, t) }, "doc_id BIGINT, text STRING")
    val baseDocs = Gen.corpus(run.seed, 0, Docs)
    val base = landCorpus(baseDocs, s"$root/base")
    val key = s"bench-corpus-${run.seed}"
    val built = run.op("build", main = false) {
      val scope = new CacheScope
      try {
        val st = run.span("operators.Pretrain.buildState")(
          Pretrain.buildState(key, base, probe, scope))
        val packed = run.span("operators.Pretrain.pack")(
          Pretrain.pack(st.gated, scope)).collect()
        (st, packed)
      } finally scope.release()
    }(_ => 0.0)(p => if (p._2.isEmpty) Some("empty pack") else None)
    built.foreach { case (st, _) =>
      val cur = landCorpus(Gen.refresh(baseDocs, run.seed, 0, 0), s"$root/cur")
      run.op("refresh", main = false) {
        val scope = new CacheScope
        try run.span("operators.Pretrain.incremental")(
          Pretrain.incremental(base, cur, probe, st, scope)).collect()
        finally scope.release()
      }(_ => 0.0)(out => if (out.isEmpty) Some("empty refresh") else None)
        .foreach { out =>
          // the refresh ≡ full-recompute check, untimed
          run.check("refresh_check") {
            val scope = new CacheScope
            val want = try digest(Pretrain.full(cur, probe, scope).collect())
              finally scope.release()
            if (digest(out) != want) Some("refresh output differs from a full build")
            else None
          }
        }
    }
  }

  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.mkString("\u0001")).sorted
      .foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def landCorpus(docs: Seq[Gen.Doc], path: String): DataFrame =
    land(path, docs.map(d => Row(d.docId, d.text, d.lang, d.source,
      d.text.length.toLong)),
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  private def land(path: String, rows: Seq[Row], ddl: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}

object CurationRound {
  val Docs = 150
}
