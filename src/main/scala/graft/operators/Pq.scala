package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import CodesIndex.{CodesModel, Coarse, DotScale, VecScale}

/** Product quantization (PQ) approximate nearest neighbor — the
  * COMPRESSED-CODES path, complementing [[Ivf]] (pruned lists) and the
  * hyperplane LSH in [[Similarity]]:
  *
  *  1. BUILD ([[buildIndex]]): split each vector into `m` subvectors of
  *     `dim/m` dims; per subspace, train a `ksub`-codeword codebook (same
  *     md5-bucket seeding + exact integer-grid Lloyd as [[Ivf]], keyed by
  *     subspace); ENCODE the corpus — each vector becomes `m` small codes —
  *     and materialize the codes table once as parquet. At dim=64, m=8,
  *     ksub=16 that is 8 4-bit codes ≈ 4 bytes/vector vs 256 bytes of raw
  *     floats: the index a 100 TB embedding table can afford to scan.
  *  2. PROBE ([[CodesIndex.probe]]): build the query's lookup table (m ×
  *     ksub exact integer partial dot products, driver-side math on the
  *     tiny codebooks), scan ONLY the codes table — an ADC (asymmetric distance
  *     computation) scored as Σ_sub lut(sub, code) via one broadcast join +
  *     partial-agg — take the top `rerank` candidates, and exact-cosine
  *     re-rank just those against the raw vectors.
  *
  * Encoding minimizes true subspace L2: argmin_c |x−c|² = argmin_c
  * (|c|² − 2x·c), computed on exact longs as norm2q − 2000·sq where
  * sq = Σ floor(v·cq·1e3 + 0.5) ([[graft.plans.QuantDot]]) and
  * norm2q = Σcq² — so assignment, like all training decisions, is pure
  * integer math: partition-order-free, byte-identical across sessions, and
  * replayed bit-for-bit by the DuckDB oracle (SimilarityQueries.pqSql).
  * ADC scores are exact integer sums of lut entries; the only floats
  * anywhere are the final exact re-rank cosines (shared with [[Similarity.topK]]).
  *
  * The same codec over IVF residuals is [[IvfPq]]; the lifecycle (append,
  * delete, compaction, persistence, probes) is [[CodesIndex]]'s.
  */
object Pq {

  /** Trained codebooks: codebooks(sub) = (codeId, codeword on the 1e-6 long
    * grid). ADC: the LUT entry of (sub, cid) is the exact integer partial
    * dot Σ floor(qr·cq·1e3 + 0.5) of the query (residual) subvector with
    * the codeword, and a vector's score is the sum over its m codes.
    */
  final case class PqCodec(m: Int, ksub: Int, subDim: Int, iters: Int,
                           codebooks: Array[Array[(Int, Array[Long])]])
      extends CodesIndex.Codec {
    def tag: String = "pq"
    def params: Seq[Int] = Seq(m, ksub, subDim, iters)
    def lines: Seq[String] =
      for (s <- codebooks.indices; (cid, cq) <- codebooks(s).toSeq)
        yield s"P $s $cid ${cq.mkString(",")}"
    def encode(v: Column): Column = codesCol(v, subDim, codebooks)
    def explode: Column = posexplode(col("codes")).as(Seq("sub", "cid"))
    def keys: Seq[String] = Seq("sub", "cid")
    def term: Column = col("dotq")
    def baseScale: Long = 1L

    def lut(spark: SparkSession, probes: Seq[(Int, Long, Array[Double])]): DataFrame = {
      import spark.implicits._
      (for {
        (list, baseq, qr) <- probes
        s <- 0 until m
        (cid, cq) <- codebooks(s).toSeq
      } yield {
        var dq = 0L
        var d = 0
        while (d < subDim) {
          dq += math.floor(qr(s * subDim + d) * cq(d) * DotScale + 0.5).toLong
          d += 1
        }
        (list, baseq, s, cid, dq)
      }).toDF("list", "baseq", "sub", "cid", "dotq")
    }

    def lutAll(qr: DataFrame, ctx: Seq[String]): DataFrame = {
      val spark = qr.sparkSession
      import spark.implicits._
      val books = (for {
        s <- 0 until m
        (cid, cq) <- codebooks(s).toSeq
        d <- 0 until subDim
      } yield (s, cid, d, cq(d))).toDF("sub", "cid", "sdim", "cq")
      qr.withColumn("sub", (col("dim") / lit(subDim)).cast("int"))
        .withColumn("sdim", (col("dim") % lit(subDim)).cast("int"))
        .join(broadcast(books), Seq("sub", "sdim"))
        .groupBy((ctx ++ Seq("sub", "cid")).map(col): _*)
        .agg(sum(floor(col("qr") * col("cq").cast("double") * lit(DotScale) + lit(0.5))
          .cast("long")).as("dotq"))
    }
  }

  object PqCodec {
    /** The codec [[PqCodec.lines]] wrote, from its header `params`. */
    def parse(params: Seq[Int], lines: Seq[String]): PqCodec = {
      val Seq(m, ksub, subDim, iters) = params
      val bySub = lines.filter(_.startsWith("P ")).map { l =>
        val Array(_, s, cid, vs) = l.split(" ", 4)
        (s.toInt, (cid.toInt, vs.split(",").map(_.toLong)))
      }.groupBy(_._1)
      PqCodec(m, ksub, subDim, iters, Array.tabulate(m)(s =>
        bySub.getOrElse(s, Vector.empty).map(_._2).sortBy(_._1).toArray))
    }
  }

  /** Per-row code array (one argmin-L2 code per subspace) as a pure
    * expression: per sub, array of (cost, cid) structs → array_min → cid,
    * cost = norm2q − 2000·QuantDot (exact long; see object scaladoc). Ties
    * break toward the lower code id, matching the SQL twin's ORDER BY.
    */
  private[operators] def codesCol(v: Column, subDim: Int,
                       books: Array[Array[(Int, Array[Long])]]): Column =
    array(books.zipWithIndex.map { case (book, s) =>
      val sv = slice(v, s * subDim + 1, subDim)
      val entries = book.map { case (cid, cq) =>
        val norm2q = cq.map(c => c * c).sum
        struct(
          (lit(norm2q) - lit(2000L) *
            graft.plans.NativeKernels.quantDot(sv, cq, DotScale)).as("cost"),
          lit(cid).as("cid"))
      }
      array_min(array(entries.toIndexedSeq: _*)).getField("cid")
    }.toIndexedSeq: _*)

  /** Deterministic per-subspace codebook training on the integer grid.
    * Seeds: bucket = md5-hash of vec_id mod ksub (one bucket per vector,
    * shared across subspaces — each subspace seeds from ITS slice of the
    * bucket's min-vec_id vector); then `iters` Lloyd steps, each one
    * assignment pass (codes expression, no shuffle) + one (sub, cid, sdim)
    * keyed mean shuffle with map-side combine, collected as
    * ≤ m × ksub × subDim rows. Codewords whose cell empties are dropped
    * (identically on both engines — assignment is exact).
    */
  def trainCodebooks(embeddings: DataFrame, m: Int, ksub: Int,
                     iters: Int = 2, dim: Int = 64): Array[Array[(Int, Array[Long])]] = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    // (vec_id, sub, sdim, vq) exploded once; persisted — seeds + every
    // Lloyd mean re-scan it
    val exploded = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("vec_id"),
        (col("dim") / lit(subDim)).cast("int").as("sub"),
        (col("dim") % lit(subDim)).cast("int").as("sdim"),
        floor(col("f").cast("double") * VecScale + 0.5).cast("long").as("vq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // seeds: min vec_id per md5 bucket (bounded collect), then that
    // vector's quantized slices per subspace
    val minIds = embeddings
      .groupBy(Curation.hashBucket(col("vec_id"), ksub).cast("int").as("bucket"))
      .agg(min("vec_id").as("svid"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val seedRows = exploded
      .filter(col("vec_id").isin(minIds.map(_._2).toIndexedSeq: _*))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val byVec = seedRows.groupBy(_._1)
    var books: Array[Array[(Int, Array[Long])]] =
      Array.tabulate(m) { s =>
        minIds.map { case (cid, svid) =>
          val arr = new Array[Long](subDim)
          byVec(svid).filter(_._2 == s).foreach(t => arr(t._3) = t._4)
          (cid, arr)
        }
      }

    for (_ <- 1 to iters) {
      val codes = embeddings.select(col("vec_id"),
        codesCol(col("embedding"), subDim, books).as("codes"))
      val sums = exploded.join(codes, "vec_id")
        .withColumn("cid", element_at(col("codes"), col("sub") + 1))
        .groupBy("sub", "cid", "sdim")
        .agg(sum("vq").as("s"), count(lit(1)).as("n"))
        .collect()
      books = Array.tabulate(m) { s =>
        sums.filter(_.getInt(0) == s).groupBy(_.getInt(1)).toArray
          .map { case (cid, rows) =>
            val arr = new Array[Long](subDim)
            rows.foreach(r => arr(r.getInt(2)) =
              math.floor(r.getLong(3).toDouble / r.getLong(4) + 0.5).toLong)
            (cid, arr)
          }.sortBy(_._1)
      }
    }
    exploded.unpersist()
    books
  }

  /** Index BUILD, memoized by [[CodesIndex.build]] per (indexKey, m,
    * ksub, iters, dim, trainSamplePct): codebooks train once, the corpus is
    * encoded once and the codes table — m small ints per vector, the whole
    * point of PQ — is written as the scan target for every probe. The
    * model is m × ksub × subDim longs: bounded, driver-side,
    * broadcast-small. `trainSamplePct < 100` trains the codebooks on a
    * deterministic md5-hash sample (the warehouse-scale practice; the full
    * corpus is still encoded).
    */
  def buildIndex(indexKey: String, embeddings: DataFrame,
                 m: Int = 8, ksub: Int = 16, iters: Int = 2,
                 dim: Int = 64, trainSamplePct: Int = 100): CodesModel[PqCodec] =
    CodesIndex.build("pq", indexKey, Seq(m, ksub, iters, dim, trainSamplePct),
      embeddings)(trained(CodesIndex.trainSet(embeddings, trainSamplePct), m, ksub, iters, dim))

  private def trained(trainSet: DataFrame, m: Int, ksub: Int, iters: Int,
                      dim: Int): (PqCodec, Option[Coarse]) =
    (PqCodec(m, ksub, dim / m, iters, trainCodebooks(trainSet, m, ksub, iters, dim)), None)

  /** Memoized build-on-base + one frozen-codebook append
    * ([[CodesIndex.buildIncremental]]): the appended table equals a
    * from-scratch encode of base ∪ batch with the same codebooks (the
    * `ann_incremental_pq` oracle).
    */
  def buildIncremental(indexKey: String, base: DataFrame, newBatch: DataFrame,
                       m: Int = 8, ksub: Int = 16, iters: Int = 2,
                       dim: Int = 64): CodesModel[PqCodec] =
    CodesIndex.buildIncremental("pq", indexKey, Seq(m, ksub, iters, dim), base, newBatch)(
      trained(base, m, ksub, iters, dim))

  /** One-shot convenience: memoized build (under `indexKey`) + probe. */
  def topKPq(embeddings: DataFrame, queryVecId: Long, k: Int,
             m: Int = 8, ksub: Int = 16, iters: Int = 2,
             rerank: Int = 50, indexKey: String = "adhoc"): DataFrame =
    CodesIndex.probe(buildIndex(indexKey, embeddings, m, ksub, iters),
      embeddings, queryVecId, k, rerank = rerank)
}
