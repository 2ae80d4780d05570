package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import CodesIndex.{CodesModel, DotScale, VecScale}

/** Scalar quantization (SQ8) approximate nearest neighbor — the fourth
  * index layout, completing the family: hyperplane LSH (bucketed recall,
  * [[Similarity]]), IVF (pruned lists, [[Ivf]]), PQ (subspace codebooks,
  * [[Pq]]), and now per-DIMENSION 8-bit quantization, the FAISS
  * `SQ8`/`ScalarQuantizer` layout:
  *
  *  1. BUILD ([[buildIndex]]): per dimension, take the exact integer
  *     min/max of the corpus on the 1e-6 grid — training is two
  *     SELECTIONS, no iterations, no seeds — then encode every vector as
  *     `dim` uint8 codes `(vq − min_d) · 255 div span_d` and materialize
  *     the codes table once as parquet. At dim=64 that is 64 bytes/vector
  *     vs 256 bytes of raw floats: 4× compression with FULL per-dimension
  *     resolution — the layout of choice when PQ's 64× compression costs
  *     too much recall but the raw vectors still don't fit the scan
  *     budget.
  *  2. PROBE ([[CodesIndex.probe]]): reconstruct each code on a common
  *     ×255 integer grid (`recon255 = min_d·255 + code·span_d` — an exact
  *     long), score ADC as Σ_d floor(q_d · recon255_d · 1000 + 0.5) —
  *     exact-integer sums of identically-rounded doubles, the [[Pq]]
  *     discipline — take the top `rerank` candidates, and exact-cosine
  *     re-rank just those.
  *
  * Every training and encoding decision is integer math (min/max
  * selections, floor division with a non-negative numerator), so the
  * whole pipeline is partition-order-free, byte-identical across
  * sessions, and replayed bit-for-bit by the DuckDB oracle
  * (SimilarityQueries.sqSql). The engine-side floor division is computed
  * as `(n − pmod(n, s)) / s` — the numerator is made exactly divisible
  * first, so the double division is exact and equals the oracle's `//`.
  *
  * The same codec over IVF residuals is [[IvfSq]]; the lifecycle (append,
  * delete, compaction, persistence, probes) is [[CodesIndex]]'s.
  */
object Sq {

  /** Trained per-dimension parameters on the 1e-6 long grid:
    * `mins(d)`/`spans(d) = max_d − min_d` — 2·dim longs, trivially
    * broadcast-small. ADC term per dim: floor(qr_d · recon255_d · 1e3 +
    * 0.5) with recon255 = min_d·255 + code·span_d, an exact long; scores
    * live on a ×255 grid, hence the coarse term's weight of 255.
    */
  final case class SqCodec(dim: Int, mins: Array[Long], spans: Array[Long])
      extends CodesIndex.Codec {
    def tag: String = "sq"
    def params: Seq[Int] = Seq(dim)
    def lines: Seq[String] = (0 until dim).map(d => s"S $d ${mins(d)} ${spans(d)}")
    def encode(v: Column): Column = codesCol(v, mins, spans)
    def explode: Column = posexplode(col("codes")).as(Seq("dim", "code"))
    def keys: Seq[String] = Seq("dim")
    def term: Column = floor(col("qr")
      * (col("mn") * lit(255L) + col("code").cast("long") * col("sp")).cast("double")
      * lit(DotScale) + lit(0.5)).cast("long")
    def baseScale: Long = 255L

    def lut(spark: SparkSession, probes: Seq[(Int, Long, Array[Double])]): DataFrame = {
      import spark.implicits._
      (for ((list, baseq, qr) <- probes; d <- 0 until dim)
        yield (list, baseq, d, qr(d), mins(d), spans(d)))
        .toDF("list", "baseq", "dim", "qr", "mn", "sp")
    }

    def lutAll(qr: DataFrame, ctx: Seq[String]): DataFrame =
      qr.select(ctx.map(col) ++ Seq(col("dim"), col("qr"),
        element_at(typedLit(mins.toSeq), col("dim") + 1).as("mn"),
        element_at(typedLit(spans.toSeq), col("dim") + 1).as("sp")): _*)
  }

  object SqCodec {
    /** The codec [[SqCodec.lines]] wrote, from its header `params`. */
    def parse(params: Seq[Int], lines: Seq[String]): SqCodec = {
      val dim = params.head
      val mins = new Array[Long](dim)
      val spans = new Array[Long](dim)
      lines.filter(_.startsWith("S ")).foreach { l =>
        val Array(_, d, mn, sp) = l.split(" ", 4)
        mins(d.toInt) = mn.toLong; spans(d.toInt) = sp.toLong
      }
      SqCodec(dim, mins, spans)
    }
  }

  /** Exact per-dimension min/span on the integer grid — the whole
    * training pass: one aggregation, collected as `dim` rows. Selections
    * (not means), so the result is independent of partitioning and
    * identical on any engine.
    */
  def trainParams(embeddings: DataFrame, dim: Int = 64): (Array[Long], Array[Long]) = {
    val rows = embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("dim"),
        floor(col("f").cast("double") * VecScale + 0.5).cast("long").as("vq"))
      .groupBy("dim").agg(min("vq").as("mn"), max("vq").as("mx"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    require(rows.length == dim, s"expected $dim dims, saw ${rows.length}")
    val mins = new Array[Long](dim)
    val spans = new Array[Long](dim)
    rows.foreach { case (d, mn, mx) => mins(d) = mn; spans(d) = mx - mn }
    (mins, spans)
  }

  /** Per-row uint8 code array as a pure expression: per dim,
    * `(clamp(vq) − min_d) · 255 div span_d` with the clamp making
    * out-of-range APPENDED values saturate instead of overflow (training
    * rows are in range by construction). The `div` is exact: the numerator
    * is reduced to a multiple of the span via pmod before the divide.
    */
  private[operators] def codesCol(v: Column, mins: Array[Long],
                                  spans: Array[Long]): Column = {
    val mnLit = typedLit(mins.toSeq)
    val spLit = typedLit(spans.toSeq)
    transform(v, (f, d) => {
      val vq = floor(f.cast("double") * VecScale + 0.5).cast("long")
      val mn = element_at(mnLit, d + 1)
      val sp = element_at(spLit, d + 1)
      val numer = (least(greatest(vq, mn), mn + sp) - mn) * lit(255L)
      when(sp === 0L, lit(0))
        .otherwise(((numer - pmod(numer, sp)) / sp).cast("int"))
    })
  }

  /** Index BUILD, memoized by [[CodesIndex.build]] per (indexKey, dim):
    * training is the min/max pass, and the corpus is encoded once and
    * written as the scan target of every probe.
    */
  def buildIndex(indexKey: String, embeddings: DataFrame,
                 dim: Int = 64): CodesModel[SqCodec] =
    CodesIndex.build("sq", indexKey, Seq(dim), embeddings) {
      val (mins, spans) = trainParams(embeddings, dim)
      (SqCodec(dim, mins, spans), None)
    }

  /** Memoized build-on-base + one frozen-params append
    * ([[CodesIndex.buildIncremental]]); out-of-range batch values saturate
    * at the code boundaries.
    */
  def buildIncremental(indexKey: String, base: DataFrame, newBatch: DataFrame,
                       dim: Int = 64): CodesModel[SqCodec] =
    CodesIndex.buildIncremental("sq", indexKey, Seq(dim), newBatch)(
      buildIndex(indexKey + "#inc", base, dim))

  /** Drift health check — the [[Ivf]] `ann_list_sizes` story for the
    * scalar layout: per dimension, how many of a batch's values fall
    * OUTSIDE the trained [min, min+span] range (and thus saturate at the
    * code boundaries under [[CodesIndex.appendToIndex]]). Frozen params are
    * correct for determinism, but a drifting corpus pushes mass onto codes
    * 0/255 where ADC resolution collapses; a rising `clamp_frac` is the
    * signal to retrain + re-encode (the [[CodesIndex.compactIndex]] window
    * is the natural point). One linear pass over the batch, 64-row output.
    */
  def saturationReport(model: CodesModel[SqCodec], batch: DataFrame): DataFrame = {
    val mnLit = typedLit(model.layout.mins.toSeq)
    val spLit = typedLit(model.layout.spans.toSeq)
    batch.select(posexplode(col("embedding")).as(Seq("dim", "f")))
      .select(col("dim"),
        floor(col("f").cast("double") * VecScale + 0.5).cast("long").as("vq"))
      .withColumn("mn", element_at(mnLit, col("dim") + 1))
      .withColumn("sp", element_at(spLit, col("dim") + 1))
      .groupBy("dim")
      .agg(
        sum(when(col("vq") < col("mn"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("vq") > col("mn") + col("sp"), 1L).otherwise(0L))
          .as("n_high"),
        count(lit(1)).as("n_values"))
      .withColumn("clamp_frac",
        (col("n_low") + col("n_high")).cast("double")
          / col("n_values").cast("double"))
      .orderBy("dim")
  }

  /** One-shot convenience: memoized build (under `indexKey`) + probe. */
  def topKSq(embeddings: DataFrame, queryVecId: Long, k: Int,
             rerank: Int = 50, indexKey: String = "adhoc"): DataFrame =
    CodesIndex.probe(buildIndex(indexKey, embeddings), embeddings, queryVecId, k,
      rerank = rerank)
}
