package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic distributed statistics over cent-grid measures.
  *
  * Spark's built-in statistical aggregates (`avg`, `stddev`, `corr`)
  * accumulate doubles and are therefore partition-order-dependent: two runs
  * of the same job can differ in the last bits, and tie-adjacent decisions
  * (outlier thresholds, rankings) can flip. These operators instead compute
  * EXACT integer sufficient statistics — the measure quantized to its
  * native cent grid, Σv and Σv² as decimal-routed integer sums — and derive
  * mean/σ/z as correctly-rounded double functions of those integers:
  * order-free under any partitioning, and reproducible bit-for-bit by a SQL
  * engine (the events_outliers / stats_corr oracles).
  *
  * Scale: one partial-agg shuffle for the stats table (one row per group —
  * broadcast-small by construction); consumers join it back onto linear
  * scans.
  */
object Stats {

  /** Exact sufficient statistics per group: (groupCol, n, sv, sq) with
    * sv = Σ round(v·100) and sq = Σ round(v·100)² as exact decimals.
    */
  def centStats(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vq = floor(col(valueCol) * 100.0 + 0.5).cast("long")
    df.select(col(groupCol), vq.as("vq"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col("vq").cast("decimal(38,0)")).as("sv"),
        sum((col("vq") * col("vq")).cast("decimal(38,0)")).as("sq"))
  }

  /** z-score of `valueCol` against a joined [[centStats]] row (expects the
    * n/sv/sq columns in scope). The division/√ spelling is pinned — the SQL
    * twin mirrors it token for token.
    *
    * Zero-variance guard: a constant group has σ = 0, and under Spark's
    * ANSI mode the 0/0 division THROWS instead of producing the NaN an IEEE
    * engine yields — so the guard emits NULL there. Output-equivalent to
    * the unguarded twin: NULL (Spark) and NaN (DuckDB) both fail any
    * `> threshold` comparison, so constant groups contribute no outlier
    * rows on either engine (EdgeCasesSpec).
    */
  def zScore(valueCol: String): Column = {
    val mean = col("sv").cast("double") / 100.0 / col("n")
    val ex2 = col("sq").cast("double") / 10000.0 / col("n")
    val variance = ex2 - mean * mean
    when(variance > 0.0, (col(valueCol) - mean) / sqrt(variance))
  }

  /** Rows whose |z| exceeds `threshold`, per group: broadcast the (tiny)
    * stats table onto the linear scan. Output adds `z_4dp` (z rounded to
    * the 1e-4 grid).
    */
  def zOutliers(df: DataFrame, groupCol: String, valueCol: String,
                threshold: Double = 3.0): DataFrame =
    df.join(broadcast(centStats(df, groupCol, valueCol)), groupCol)
      .withColumn("z", zScore(valueCol))
      .filter(abs(col("z")) > threshold)
      .drop("n", "sv", "sq")
      .withColumn("z_4dp", floor(col("z") * 10000.0 + 0.5) / 10000.0)
      .drop("z")

  /** EXACT per-group quantiles (linear interpolation, percentile_cont
    * semantics) WITHOUT per-group value buffering — the scale-safe form of
    * Spark's `percentile()`, which holds every value of a group in one
    * aggregation buffer and OOMs the executor on a 100 TB group.
    *
    * Two-phase over the value grid: (1) one partial-agg shuffle counts rows
    * per DISTINCT cent-grid value — the state is value-CARDINALITY-sized
    * (bounded by the value range, e.g. ≤ ~10⁷ cents for prices), not
    * row-count-sized; (2) a per-group cumulative walk over those counts (a
    * keyed window whose input is the bounded counts table) locates, for
    * each target rank t = (n−1)·q, the bracketing values v⌊t⌋ and v⌊t⌋+1,
    * and interpolates. Every rank decision is exact integer math on counts;
    * the interpolation is a pinned double spelling of exact ints (the
    * determinism framework), so the DuckDB twin matches bit-for-bit.
    *
    * The per-group window IS single-task per group — and that is
    * acceptable BECAUSE its input is the distinct-value counts, bounded by
    * the grid (≤ ~10⁷ rows for any cent-grid money measure, regardless of
    * corpus size) — the sort is metadata-scale even at 100 TB. A
    * range-bucketed two-phase prefix variant (the cur_budget idiom,
    * parallelism groups × B) was implemented and MEASURED 1.4–1.5× slower
    * at sf0.1: the extra counts materialization + bucket join exceed the
    * window-split gain at any cardinality the grid admits, so the simple
    * walk stands.
    *
    * The cent grid IS the precision contract: values are snapped to 1e-2
    * before ranking (exact for money-like measures; pick a finer grid
    * constant for continuous data — and re-check the cardinality bound
    * above if you do). Requires 0 ≤ q < 1 (the bracketing v⌊t⌋+1 always
    * exists then).
    *
    * Returns (groupCol, qi, quantile) — one row per group × requested q,
    * `qi` being the 0-based index into `qs`.
    */
  def exactQuantilesByGrid(df: DataFrame, groupCol: String, valueCol: String,
                           qs: Seq[Double],
                           scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // persist + eager: the counts subtree feeds BOTH the cumulative window
    // and the per-group total — unpersisted, the per-row aggregation (the
    // only corpus-sized pass) runs twice, and lazily-planned consumers see
    // a size-unknown input (the madOutlierSummary SMJ pathology). The
    // count() is an aggregate-only action on the bounded counts table.
    val counts = scope.persist(
      df.select(col(groupCol),
          floor(col(valueCol) * 100.0 + 0.5).cast("long").as("vq"))
        .groupBy(groupCol, "vq").agg(count(lit(1)).as("cnt")))
    counts.count()
    exactQuantilesFromCounts(counts, groupCol, qs)
  }

  /** [[exactQuantilesByGrid]] over a PRE-AGGREGATED (group, vq, cnt)
    * counts table — the form callers running several walks over the same
    * values use (e.g. [[madOutlierSummary]]: median, then MAD of the
    * deviations), so only ONE per-row aggregation ever touches the corpus
    * and every later stage is value-cardinality-bounded.
    */
  def exactQuantilesFromCounts(counts: DataFrame, groupCol: String,
                               qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q < 1.0),
      "quantiles must satisfy 0 <= q < 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("vq")
    val cum = counts.withColumn("hi", sum("cnt").over(w))
      .withColumn("lo", col("hi") - col("cnt"))
      .select(col(groupCol).as("_g"), col("vq"), col("lo"), col("hi"))
    val qarr = array(qs.zipWithIndex.map { case (q, i) =>
      struct(lit(i).as("qi"), lit(q).as("q")) }.toIndexedSeq: _*)
    val t = counts.groupBy(groupCol).agg(sum("cnt").as("n"))
      .select(col(groupCol), explode(qarr).as("t"),
        col("n"))
      .select(col(groupCol), col("t.qi").as("qi"),
        ((col("n") - 1).cast("double") * col("t.q")).as("tpos"))
      .withColumn("k", floor(col("tpos")).cast("long"))
      .withColumn("frac", col("tpos") - floor(col("tpos")))
    // ONE range join finds BOTH brackets: (lo ≤ k+1 AND k < hi) is exactly
    // the union of the k bracket (lo ≤ k < hi) and the k+1 bracket
    // (lo ≤ k+1 < hi) given lo < hi, so the 1–2 bracketing rows per
    // (group, qi) arrive in one pass over the cumulative table and a
    // conditional agg splits them — the previous form walked `cum` twice
    // (two joins) and re-joined the results. A rank beyond the last value
    // (single-row group) has no k+1 bracket and frac is exactly 0 — the
    // coalesce degenerates the interpolation to vqk, as before.
    // broadcast(t): t has exactly (groups × |qs|) rows — broadcast-small by
    // the module's own stats-table contract. Without the hint, t's size
    // estimate flows through the full counts lineage (unbounded when the
    // input is an unmaterialized cache), and the planner picks a
    // SortMergeJoin whose (group)-keyed Exchange+sort of the whole
    // cumulative table lands on ≤ #groups tasks — measured 3× the whole
    // query on stats_mad_outliers (25 s lazy vs 8 s with size-known
    // inputs at sf0.1; the dumped plan shows the SMJ). The hash join keeps
    // `cum` exactly where the window left it: zero extra Exchanges.
    broadcast(t).join(cum, col(groupCol) === col("_g") &&
        col("lo") <= col("k") + 1 && col("k") < col("hi"))
      .groupBy(col(groupCol), col("qi"))
      .agg(max("frac").as("frac"),
        max(when(col("lo") <= col("k") && col("k") < col("hi"), col("vq")))
          .as("vqk"),
        max(when(col("lo") <= col("k") + 1 && col("k") + 1 < col("hi"),
          col("vq"))).as("vqk1"))
      .withColumn("vqk1", coalesce(col("vqk1"), col("vqk")))
      .select(col(groupCol), col("qi"),
        (col("vqk").cast("double") / 100.0
          + ((col("vqk1").cast("double") / 100.0
            - col("vqk").cast("double") / 100.0) * col("frac")))
          .as("quantile"))
  }

  /** Per-group robust outlier summary via the modified z-score
    * (Iglewicz–Hoaglin): mz = 0.6745·(v − median) / MAD, flagging
    * |mz| > threshold — the outlier detector that, unlike [[zOutliers]],
    * a few extreme values cannot mask (mean and stddev are themselves
    * dragged by outliers; median and MAD are not). Emits
    * (group, n, med, mad, n_outliers).
    *
    * Both the median and the MAD (median absolute deviation) come from
    * [[exactQuantilesByGrid]] — deviations are re-snapped to the cent grid
    * before the second walk (the grid IS the precision contract), so every
    * rank decision is exact and the one float formula is a pinned spelling
    * of exact inputs: the DuckDB twin replays both walks bit-for-bit. A
    * zero-MAD group (over half its rows at the median) flags nothing —
    * the standard degenerate-case guard.
    *
    * Scale: two grid walks (each value-cardinality-bounded, see
    * [[exactQuantilesByGrid]]), each result broadcast onto a linear pass.
    */
  def madOutlierSummary(df: DataFrame, groupCol: String, valueCol: String,
                        threshold: Double = 3.5,
                        scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // ONE per-row partial agg; every later stage (both walks, the
    // deviation re-grid, the outlier count) works on the value-cardinality-
    // bounded counts table — the per-row deviation pass the old shape paid
    // twice is gone, and so is its full-corpus persist
    val counts = scope.persist(df.select(col(groupCol),
        floor(col(valueCol) * 100.0 + 0.5).cast("long").as("vq"))
      .groupBy(groupCol, "vq").agg(count(lit(1)).as("cnt")))
    // EAGER cache boundaries (count() actions, no data to the driver): a
    // fully lazy chain plans every downstream join/window against
    // UNMATERIALIZED caches — size-unknown inputs — and re-derives the
    // cached subtrees inside sibling broadcast legs; measured 11.9 s lazy
    // vs 5.0 s eager for the identical stages at sf0.1 (a per-stage
    // timing harness). The counts() are aggregate-only actions on bounded
    // tables — the Pretrain-chain eager-cut discipline.
    counts.count()
    val med = exactQuantilesFromCounts(counts, groupCol, Seq(0.5))
      .select(col(groupCol), col("quantile").as("med"))
    // persist: the deviation table feeds the MAD walk (which reads its
    // input three times — cum window + both bracket joins) and the final
    // summary; both tables are counts-sized, so the cache is bounded
    val dev = scope.persist(counts.join(broadcast(med), groupCol)
      .withColumn("v", col("vq").cast("double") / 100.0)
      .withColumn("adevq",
        floor(abs(col("v") - col("med")) * 100.0 + 0.5).cast("long")))
    dev.count()
    val devCounts = scope.persist(dev.groupBy(col(groupCol), col("adevq").as("vq"))
      .agg(sum("cnt").as("cnt")))
    devCounts.count()
    val mad = exactQuantilesFromCounts(devCounts, groupCol, Seq(0.5))
      .select(col(groupCol), col("quantile").as("mad"))
    dev.join(broadcast(mad), groupCol)
      .groupBy(groupCol)
      .agg(sum("cnt").as("n"), max("med").as("med"), max("mad").as("mad"),
        sum(when(col("mad") > 0.0 &&
            abs(lit(0.6745) * (col("v") - col("med")) / col("mad")) > threshold,
          col("cnt")).otherwise(0L)).as("n_outliers"))
  }

  /** Per-group log₂ histogram sketch: counts per power-of-two bucket of the
    * cent-grid value — the bounded-size distribution summary for UNBOUNDED
    * value ranges. Where [[exactQuantilesByGrid]]'s state is
    * value-cardinality-sized, this sketch is ≤ 64 rows per group no matter
    * what the values do, and two sketches merge by summing counts — the
    * histogram analog of [[Sketches]]' HLL registers (store per day, roll
    * up forever).
    *
    * Bucket = bit length of vq (= ⌊log₂ vq⌋ + 1) computed as
    * `length(conv(vq, 10, 2))` — an exact string/integer operation, never
    * float log₂, whose rounding AT powers of two is engine-dependent.
    * Bucket 0 collects vq ≤ 0 (zero/negative cents). Emits (group, bucket,
    * n, lo, hi) with the [lo, hi] value bounds of the bucket in original
    * units.
    */
  def log2Histogram(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vq = floor(col(valueCol) * 100.0 + 0.5).cast("long")
    df.select(col(groupCol),
        when(vq <= 0, lit(0))
          .otherwise(length(conv(vq.cast("string"), 10, 2))).as("bucket"))
      .groupBy(groupCol, "bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", when(col("bucket") === 0, lit(null).cast("double"))
        .otherwise(pow(lit(2.0), col("bucket") - 1) / 100.0))
      .withColumn("hi", when(col("bucket") === 0, lit(0.0))
        .otherwise((pow(lit(2.0), col("bucket")) - 1.0) / 100.0))
  }

  /** Per-group winsorization (percentile clipping): values below the pLo
    * quantile are raised to it, values above pHi lowered to it — the
    * robust-feature-engineering step that tames heavy tails without
    * dropping rows. Cut points come from [[exactQuantilesByGrid]] (exact,
    * scale-safe, deterministic); emits the input rows with `v` (the
    * cent-grid reading of valueCol), `v_wins` (clipped, re-snapped to the
    * cent grid so downstream integer sums stay exact) and `clip` ∈
    * {'lo','hi','none'}.
    *
    * Scale: the cut-point table is group-count-sized and broadcast onto a
    * linear scan — the [[zOutliers]] enrichment shape; nothing about the
    * clip pass shuffles the data.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    val cuts = exactQuantilesByGrid(df, groupCol, valueCol, Seq(pLo, pHi))
      .groupBy(groupCol)
      .agg(max(when(col("qi") === 0, col("quantile"))).as("cut_lo"),
        max(when(col("qi") === 1, col("quantile"))).as("cut_hi"))
    df.join(broadcast(cuts), groupCol)
      .withColumn("v",
        floor(col(valueCol) * 100.0 + 0.5).cast("long").cast("double") / 100.0)
      .withColumn("v_wins",
        floor(least(greatest(col("v"), col("cut_lo")), col("cut_hi"))
          * 100.0 + 0.5).cast("long").cast("double") / 100.0)
      .withColumn("clip",
        when(col("v") < col("cut_lo"), "lo")
          .when(col("v") > col("cut_hi"), "hi")
          .otherwise("none"))
      .drop("cut_lo", "cut_hi")
  }

  /** CUSUM mean-shift changepoint detection over a keyed, ordered series
    * (e.g. the gap-filled hourly counts matrix). The textbook recursion
    *
    *   S⁺ᵢ = max(0, S⁺ᵢ₋₁ + xᵢ − k⁺)        k⁺ = μ + slack·σ  (upward)
    *   S⁻ᵢ = max(0, S⁻ᵢ₋₁ + k⁻ − xᵢ)        k⁻ = μ − slack·σ  (downward)
    *
    * is sequential as written — a driver loop at 100 TB. It has a closed
    * form over prefix sums: with dᵢ = Σ_{j≤i} xⱼ − i·k⁺,
    *
    *   S⁺ᵢ = dᵢ − min(0, min_{j≤i} dⱼ)
    *   S⁻ᵢ = max(0, max_{j≤i} eⱼ) − eᵢ      eᵢ = Σ_{j≤i} xⱼ − i·k⁻
    *
    * so the whole detector is ONE keyed window pass: an exact integer
    * running sum plus a running min/max (selection, not float
    * accumulation — the doubles compared are each computed by the same
    * pinned spelling in both engines, making the op SQL-oracle-able).
    * Rows where S⁺ or S⁻ exceeds h·σ are flagged.
    *
    * Scale: μ/σ come from exact integer sufficient statistics (one partial-
    * agg shuffle, group-count-sized output, broadcast back). The keyed
    * window is single-task per group, acceptable for the same reason as
    * [[graft.EventQueries]]'s moving average: its input is the POST-
    * AGGREGATION series (span × keys cells), not the raw events — metadata-
    * scale even when the underlying scan is 100 TB.
    *
    * `valueCol` must be integral (counts); `ordCol` must be unique per
    * group (true of a gap-filled time grid). Constant groups (σ = 0) emit
    * nothing, by the [[zScore]] null-guard convention.
    */
  def cusumChangepoints(series: DataFrame, groupCol: String, ordCol: String,
                        valueCol: String, slack: Double = 0.5,
                        h: Double = 4.0): DataFrame = {
    val stats = series.groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(38,0)")).as("sv"),
        sum((col(valueCol) * col(valueCol)).cast("decimal(38,0)")).as("sq"))
    val w = Window.partitionBy(groupCol).orderBy(ordCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mu = col("sv").cast("double") / col("n")
    val ex2 = col("sq").cast("double") / col("n")
    val prefixed = series.join(broadcast(stats), groupCol)
      .withColumn("mu", mu)
      .withColumn("sigma",
        when(ex2 - mu * mu > 0.0, sqrt(ex2 - mu * mu)))
      .withColumn("c", sum(col(valueCol)).over(w).cast("double"))
      .withColumn("rn", row_number().over(w).cast("double"))
      .withColumn("dup",
        col("c") - col("rn") * (col("mu") + lit(slack) * col("sigma")))
      .withColumn("ddn",
        col("c") - col("rn") * (col("mu") - lit(slack) * col("sigma")))
    prefixed
      .withColumn("cup", col("dup") - least(lit(0.0), min("dup").over(w)))
      .withColumn("cdn", greatest(lit(0.0), max("ddn").over(w)) - col("ddn"))
      .filter(col("cup") > lit(h) * col("sigma") ||
        col("cdn") > lit(h) * col("sigma"))
      .select(col(groupCol), col(ordCol), col(valueCol),
        (floor(col("cup") * 10000.0 + 0.5) / 10000.0).as("cusum_up_4dp"),
        (floor(col("cdn") * 10000.0 + 0.5) / 10000.0).as("cusum_dn_4dp"))
  }
}
