package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The six-stage crawl→training-set flagship (`cur_pretrain`) as a reusable
  * operator, plus its INCREMENTAL form — the production recompute shape: a
  * corpus refresh (nightly crawl delta) pushes only the added/changed
  * documents and their provably-affected neighbors through the expensive
  * per-document stages, reusing the previous run's artifacts for everything
  * else, and is bit-identical to a full recompute on the new corpus (the
  * `cur_pretrain_incr` oracle is DuckDB doing the FULL recompute — hash
  * equality across engines IS the incremental-correctness proof).
  *
  * Stages (each independently oracled by its own query):
  *   1. near-dup COLLAPSE   — [[Dedup.minhashPairs]] → label-propagation
  *      clusters → keep the longest member;
  *   2. exact-substring REMOVAL — [[Dedup.cutSubstrSpans]] (Lee et al.);
  *   3. benchmark DECONTAMINATION — shared-shingle hits ≥ 5 vs a probe set;
  *   4. QUALITY gate        — [[TextAnalysis.qualityScore]] ≥ 0.5;
  *   5. TEMPERATURE mixture — α = 0.5 per-lang budgets over survivors;
  *   6. sequence PACKING    — 64-token chunks → 256-token bins × 8 shards.
  *
  * INCREMENTAL soundness: which documents can a diff touch?
  *   - PAIRS: a MinHash pair depends only on its two documents' shingles,
  *     so pairs between two clean surviving docs carry over verbatim;
  *     pairs touching a dirty (added/changed) or removed doc are dropped
  *     and re-derived by probing the dirty docs against the new corpus
  *     ([[Dedup.minhashPairsAgainst]] — band-bucket join, never
  *     corpus×corpus). The union is exactly minhashPairs(cur).
  *   - SURVIVORS: cluster labels are global (one bridge doc can merge two
  *     clusters), but label propagation runs on the PAIR table (tiny) and
  *     survivor selection is a narrow-column window — both recomputed
  *     globally at metadata cost, never text cost.
  *   - SPANS (stage 2): spans are pairwise over STATIC text with a
  *     corpus-global hot-gram df cap, so a surviving doc's cut set changes
  *     only if (a) it shares a cold-in-either-run gram with a document
  *     that entered/left/changed among the survivors, or (b) one of its
  *     grams crossed the df cap — and df only moves where a delta doc
  *     contributes. Both conditions are discovered by joining the DELTA
  *     docs' grams (prev text for leavers, cur text for enterers, both
  *     for changers) against the corpus gram occurrences, each cold gram
  *     bounded by maxDf partners. The closure is ONE hop: cuts are
  *     computed from original text, so a recomputed doc's new clean text
  *     never cascades into a third document.
  *   - Stages 3–4 are per-document on the stage-2 output (probe set
  *     static), so they recompute exactly where stage 2 did.
  *   - Stages 5–6 are global but run on (doc_id, lang, n_tokens) metadata
  *     and the ≤ budget selected docs — recipe-sized, recomputed in full.
  *
  * Artifact discipline at 100 TB: [[State]] (pair table, survivor ids,
  * gated stage-4 output, and the survivors' GRAM POSTINGS (doc_id, h)) is
  * what a nightly full run persists. The postings table is the
  * incrementally-maintained occurrence index a warehouse deployment keeps
  * (append/delete by doc — the same lifecycle the ANN indexes implement):
  * a refresh updates it by dropping departed/changed docs' rows and
  * exploding grams for the diff only, so the frontier discovery pays
  * postings SCANS plus diff-sized text work, never a full-corpus
  * re-hash (measured: the sf0.1 refresh query halved when the two
  * corpus-wide gram explodes became postings maintenance). The expensive
  * per-document text stages run ONLY on the frontier either way — that is
  * the measured cost-∝-diff claim (PretrainSpec counts them).
  */
object Pretrain {

  /** The reusable artifacts a full run leaves behind: near-dup pairs,
    * collapse-surviving doc ids, the gated stage-4 output
    * (doc_id, lang, clean text, n_tokens), and the survivors' distinct
    * gram postings (doc_id, h) — the maintained occurrence index the
    * refresh's frontier discovery reads instead of re-hashing the corpus.
    * `occ` is built with [[increment]]'s `minLen` (default 10); a caller
    * overriding minLen must build state with the same value. (A maintained
    * [[Dedup.shingleSigs]] table was also tried here and measured COST-
    * NEUTRAL-to-slower at sf0.1–sf1 — storing the fat (sh, sig) rows costs
    * as much as re-hashing ~1 KB documents — so the refresh re-signs from
    * text; with long web documents the balance flips, and
    * [[Dedup.minhashPairsAgainstSigs]] is the drop-in for a deployment
    * that maintains the signature table.)
    */
  final case class State(pairs: DataFrame, survivors: DataFrame,
                         gated: DataFrame, occ: DataFrame)

  /** Distinct (doc_id, h) gram postings of `docs` — [[State.occ]]'s shape. */
  private def occOf(docs: DataFrame, minLen: Int): DataFrame =
    docs.select(col("doc_id"),
        explode(Dedup.gramHashes(col("text"), minLen)).as("h"))
      .distinct()

  /** Stage-1..4 chain on a full corpus; persists the three artifacts in
    * `scope`. `probe` is the decontamination benchmark set (static across
    * refreshes by contract).
    */
  def state(docs0: DataFrame, probe: DataFrame,
            scope: graft.CacheScope = graft.CacheScope.global,
            minLen: Int = 10): State = {
    val pairs = scope.persist(Dedup.minhashPairs(docs0, 0.5, scope = scope))
    val collapsed = scope.persist(
      Dedup.collapseNearDups(docs0, pairs, col("n_chars"), scope))
    // checkpoint, not persist: `gated` is the boundary stages 5–6 hammer
    // with many small jobs (budget collects, mixture phases, packing) —
    // truncating its six-stage lineage here is what keeps those jobs
    // planning against a scan instead of the whole pipeline tree (see
    // CacheScope.checkpoint; measured 3–10× on the flagship)
    val gated = scope.checkpoint(
      gateStages(Dedup.cutSubstrSpans(collapsed, scope = scope),
        collapsed, probe))
    State(pairs, collapsed.select("doc_id"), gated,
      occOf(collapsed, minLen))
  }

  /** Stages 2(tail)–4 shared by full and incremental: strip-output join
    * back to lang, decontaminate vs the probe set, quality-gate, emit
    * (doc_id, lang, text, n_tokens).
    */
  private def gateStages(stripped0: DataFrame, collapsed: DataFrame,
                         probe: DataFrame): DataFrame = {
    val stripped = stripped0
      .filter(col("clean_text") =!= "")
      .join(collapsed.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("clean_text").as("text"), col("lang"))
    val hits = TextAnalysis.contaminationHits(stripped, probe)
      .filter(col("n_hits") >= 5)
    val decon = stripped.join(hits, Seq("doc_id"), "left_anti")
    decon
      .join(TextAnalysis.qualityScore(decon).select("doc_id", "quality"),
        "doc_id")
      .filter(col("quality") >= 0.5)
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
  }

  /** Stages 5–6: tempered per-lang budgets over the gated survivors,
    * hash-ordered mixture fill, chunk + shard-pack. The flagship's output
    * schema.
    */
  def pack(gated: DataFrame,
           scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val budgets = Curation.temperedBudgets(gated, "lang", col("n_tokens"),
      totalBudget = 8000L)
    val sel = Curation.mixtureSample(gated, "lang", col("doc_id"),
      col("n_tokens"), budgets, scope = scope)
    Curation.packSequences(
        Curation.chunk(gated.join(sel.select("doc_id"), "doc_id"), 64, 8),
        256, 8)
      .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
        col("shard"), col("bin"), col("bin_tokens_before"))
  }

  /** The full six-stage build — `cur_pretrain`'s body. */
  def full(docs0: DataFrame, probe: DataFrame,
           scope: graft.CacheScope = graft.CacheScope.global): DataFrame =
    pack(state(docs0, probe, scope).gated, scope)

  /** [[state]] MATERIALIZED: the artifacts written once as parquet tables
    * in a [[graft.Artifacts]] directory keyed by (`stateKey`, the content
    * of `docs0` and `probe`) and read back, so a later refresh pays
    * artifact READS, not a pipeline recompute — this is literally the
    * "previous nightly run's output" the incremental contract assumes, and
    * what makes `cur_pretrain_incr`'s bench time measure the increment
    * rather than two full builds. Memoized; deterministic, so the memo
    * changes cost only, never results.
    */
  def buildState(stateKey: String, docs0: DataFrame, probe: DataFrame,
                 scope: graft.CacheScope = graft.CacheScope.global): State =
    graft.Artifacts.withDir("pretrain", stateKey, Seq(docs0, probe)) { dir =>
      val st = state(docs0, probe, scope)
      st.pairs.write.mode("overwrite").parquet(dir + "/pairs")
      st.survivors.write.mode("overwrite").parquet(dir + "/survivors")
      st.gated.write.mode("overwrite").parquet(dir + "/gated")
      st.occ.write.mode("overwrite").parquet(dir + "/occ")
      val spark = docs0.sparkSession
      State(spark.read.parquet(dir + "/pairs"),
        spark.read.parquet(dir + "/survivors"),
        spark.read.parquet(dir + "/gated"),
        spark.read.parquet(dir + "/occ"))
    }

  /** Stage-1 increment + the affected-document frontier (see object
    * scaladoc for the soundness argument). `affected` ⊆ cur survivors is
    * the exact set whose stage-2..4 results may differ from the previous
    * run; everything else reuses `prevState.gated`.
    */
  final case class Increment(pairs: DataFrame, collapsed: DataFrame,
                             affected: DataFrame, occ: DataFrame)

  /** Dev probe: GRAFT_STAGE_TRACE=1 prints wall time between the eager
    * boundaries of [[increment]] to stderr (the breakdown behind
    * `cur_pretrain_incr`'s bench number). No-op otherwise.
    */
  private val stageTrace = sys.env.contains("GRAFT_STAGE_TRACE")
  private def traced(tag: String, t0: Long): Long = {
    if (stageTrace)
      System.err.println(
        f"[trace] $tag%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    System.nanoTime()
  }

  def increment(prevDocs: DataFrame, curDocs: DataFrame, prevState: State,
                scope: graft.CacheScope = graft.CacheScope.global,
                minLen: Int = 10, maxDf: Int = 20): Increment = {
    var t = System.nanoTime()
    // checkpoints, not persists, at every boundary of this chain: each
    // artifact is read by several later steps, and under persist() every
    // one of those reads re-analyzes the whole upstream tree (diff →
    // pairs → collapse → postings → frontier compounds per step) — the
    // same driver-side disease the flagship's stage 5–6 had; measured,
    // the cuts took the sf0.1 refresh from ~2× the full rebuild back
    // under it. Data-identical (PretrainSpec bit-identity runs through
    // this path). (Round-13 re-measured the lazy-persist form for the
    // three shallow boundaries — pairsCur, occCur, deltaGrams: refresh
    // 7.0 → 10.0 s at sf0.1, consumers re-materialized the shared
    // subtrees before the cache landed — so the eager cuts stand.)
    val diff = scope.checkpoint(
      Curation.snapshotDiff(prevDocs, curDocs, "doc_id", md5(col("text"))))
    t = traced("incr_diff", t)
    val dirty = diff.filter(col("status").isin("added", "changed"))
      .select("doc_id")
    val touched = diff.filter(col("status") =!= "unchanged").select("doc_id")
    // pairs: clean-clean pairs carry over; pairs touching the diff are
    // re-derived by probing dirty docs against the new corpus (cost ∝
    // dirty × band-bucket width)
    val keptPairs = prevState.pairs
      .join(touched.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(touched.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
    val dirtyDocs = curDocs.join(dirty, Seq("doc_id"), "left_semi")
    val newPairs = Dedup.minhashPairsAgainst(dirtyDocs, curDocs, 0.5,
        scope = scope)
      .filter(col("new_id") =!= col("corpus_id"))
      .select(least(col("new_id"), col("corpus_id")).as("doc_a"),
        greatest(col("new_id"), col("corpus_id")).as("doc_b"),
        col("jaccard"))
      .distinct()
    val pairsCur = scope.checkpoint(
      keptPairs.select("doc_a", "doc_b", "jaccard").unionByName(newPairs))
    // survivors: global recompute, pair-table-sized clustering + one
    // narrow-column window — metadata cost, no text work
    t = traced("incr_pairs", t)
    val collapsed = scope.checkpoint(
      Dedup.collapseNearDups(curDocs, pairsCur, col("n_chars"), scope))
    t = traced("incr_collapse", t)
    val survCur = collapsed.select("doc_id")
    val survPrev = prevState.survivors
    val entered = survCur.join(survPrev, Seq("doc_id"), "left_anti")
    val leftS = survPrev.join(survCur, Seq("doc_id"), "left_anti")
    val changedPrevSurv = survPrev.join(
      diff.filter(col("status") === "changed").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val changedCurSurv = survCur.join(dirty, Seq("doc_id"), "left_semi")
    // postings MAINTENANCE, not recomputation: the previous run's stored
    // (doc_id, h) table carries over for docs that still survive with
    // unchanged text; only the fresh set — survivors entering the index
    // plus surviving docs whose text changed — re-explodes grams from
    // text. The refresh's gram work is diff-sized; everything downstream
    // reads postings scans.
    val freshIds = entered.unionByName(changedCurSurv).distinct()
    val occPrev = prevState.occ
    val occCur = scope.checkpoint(
      occPrev.join(survCur, Seq("doc_id"), "left_semi")
        .join(diff.filter(col("status") === "changed").select("doc_id"),
          Seq("doc_id"), "left_anti")
        .unionByName(occOf(
          collapsed.join(freshIds, Seq("doc_id"), "left_semi"), minLen)))
    t = traced("incr_occ", t)
    // delta grams: prev text for docs leaving/changing out, cur text for
    // docs entering/changing in — both sides, so span appearance AND
    // disappearance are caught. Both sides read from postings (leavers/
    // changers are prev survivors ⊆ occPrev; the fresh set's rows were
    // just computed into occCur) — no corpus text is touched here.
    val deltaGrams = scope.checkpoint(
      occPrev.join(leftS.unionByName(changedPrevSurv).distinct(),
          Seq("doc_id"), "left_semi").select("h")
        .unionByName(
          occCur.join(freshIds, Seq("doc_id"), "left_semi").select("h"))
        .distinct())
    t = traced("incr_deltagrams", t)
    // a gram matters only if it is cold (df ≤ maxDf) in at least one run:
    // hot-in-both grams produce no spans either way. This also bounds the
    // partner join: each joined gram fans out to ≤ maxDf documents.
    val dfCur = occCur.join(deltaGrams, Seq("h"), "left_semi")
      .groupBy("h").agg(count(lit(1)).as("df_cur"))
    val dfPrev = occPrev.join(deltaGrams, Seq("h"), "left_semi")
      .groupBy("h").agg(count(lit(1)).as("df_prev"))
    val coldish = deltaGrams
      .join(dfCur, Seq("h"), "left")
      .join(dfPrev, Seq("h"), "left")
      .filter(coalesce(col("df_cur"), lit(0L)) <= maxDf ||
        coalesce(col("df_prev"), lit(0L)) <= maxDf)
      .select("h")
    val partners = occCur.join(coldish, Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val affected = scope.checkpoint(
      partners.unionByName(entered).unionByName(changedCurSurv).distinct())
    t = traced("incr_affected", t)
    Increment(pairsCur, collapsed, affected, occCur)
  }

  // ---- streaming refresh: versioned state store ----
  //
  // The streaming flagship's durability model: each absorbed micro-batch
  // commits a COMPLETE state version directory
  //   stateDir/v<batchId>/{corpus,pairs,survivors,gated,packed} + _done
  // and the committed state is the highest v<N> whose _done exists. The
  // _done create is the single commit point: a crash anywhere before it
  // leaves a version readers skip, and the replayed batch recomputes into
  // the same version dir (mode overwrite); a replay after it is a no-op.
  // Readers never observe a torn version — the same staged-commit
  // discipline as the ANN index sinks, lifted to a multi-table state.

  private def versions(spark: org.apache.spark.sql.SparkSession,
                       stateDir: String): Seq[Long] = {
    val fs = graft.sources.Sinks.fileSystem(spark, stateDir)
    val root = new org.apache.hadoop.fs.Path(stateDir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.length > 1 && n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong)
  }

  private def latestVersion(spark: org.apache.spark.sql.SparkSession,
                            stateDir: String): Option[Long] = {
    val fs = graft.sources.Sinks.fileSystem(spark, stateDir)
    versions(spark, stateDir).sorted.reverse
      .find(v => fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/v$v", "_done")))
  }

  /** The latest committed packed training set in `stateDir` (what a
    * training job reads), or None before the first commit.
    */
  def packedSnapshot(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String): Option[DataFrame] =
    latestVersion(spark, stateDir).map(v =>
      spark.read.parquet(s"$stateDir/v$v/packed"))

  /** Absorb one APPENDED document micro-batch into the pretrain state —
    * the body of [[graft.streaming.Streams.pretrainIngestSink]]. First
    * batch bootstraps with a full [[state]] build; every later batch runs
    * the [[incremental]] machinery against the previous committed version
    * (append-only refresh: the diff is exactly the batch, so the expensive
    * stages touch the batch and its shared-gram frontier, never the
    * standing corpus). Exactly-once via the versioned-commit protocol
    * above; batch rows whose doc_id already exists in the corpus are
    * dropped (defensive — the append contract is new ids).
    */
  def absorbBatch(batch0: DataFrame, probe: DataFrame, stateDir: String,
                  batchId: Long): Unit = {
    graft.MutationGuard.claim(stateDir)
    val spark = batch0.sparkSession
    val fs = graft.sources.Sinks.fileSystem(spark, stateDir)
    val vdir = s"$stateDir/v$batchId"
    val done = new org.apache.hadoop.fs.Path(vdir, "_done")
    if (fs.exists(done)) return
    val scope = new graft.CacheScope
    try {
      val prevV = latestVersion(spark, stateDir)
      val (cur, pairs, survivors, gated, occ) = prevV match {
        case None =>
          val cur = scope.persist(batch0)
          val st = state(cur, probe, scope)
          (cur, st.pairs, st.survivors, st.gated, st.occ)
        case Some(pv) =>
          val prev = spark.read.parquet(s"$stateDir/v$pv/corpus")
          val prevState = State(
            spark.read.parquet(s"$stateDir/v$pv/pairs"),
            spark.read.parquet(s"$stateDir/v$pv/survivors"),
            spark.read.parquet(s"$stateDir/v$pv/gated"),
            spark.read.parquet(s"$stateDir/v$pv/occ"))
          val batch = batch0.select(prev.columns.map(col).toIndexedSeq: _*)
            .join(prev.select("doc_id"), Seq("doc_id"), "left_anti")
          val cur = scope.persist(prev.unionByName(batch))
          val inc = increment(prev, cur, prevState, scope)
          val gatedAff = gateStages(
            Dedup.cutSubstrSpansFor(inc.collapsed, inc.affected, scope = scope),
            inc.collapsed, probe)
          val reused = prevState.gated
            .join(inc.collapsed.select("doc_id"), Seq("doc_id"), "left_semi")
            .join(inc.affected, Seq("doc_id"), "left_anti")
          (cur, inc.pairs, inc.collapsed.select("doc_id"),
            scope.checkpoint(reused.unionByName(gatedAff)), inc.occ)
      }
      cur.write.mode("overwrite").parquet(s"$vdir/corpus")
      pairs.write.mode("overwrite").parquet(s"$vdir/pairs")
      survivors.write.mode("overwrite").parquet(s"$vdir/survivors")
      gated.write.mode("overwrite").parquet(s"$vdir/gated")
      occ.write.mode("overwrite").parquet(s"$vdir/occ")
      pack(gated, scope).write.mode("overwrite").parquet(s"$vdir/packed")
      fs.create(done, true).close()
      // retention: keep the previous version (crash safety), drop older
      prevV.foreach { pv =>
        versions(spark, stateDir).filter(_ < pv)
          .foreach(v => fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/v$v"), true))
      }
    } finally scope.release()
  }

  /** The incremental rebuild: stage-2..4 text work ONLY on the frontier,
    * previous gated rows reused for every other survivor, stages 5–6
    * recomputed in full (metadata-sized). Bit-identical to
    * `full(curDocs, probe)` — asserted Spark-vs-Spark in PretrainSpec and
    * cross-engine by the `cur_pretrain_incr` oracle.
    */
  def incremental(prevDocs: DataFrame, curDocs: DataFrame, probe: DataFrame,
                  prevState: State,
                  scope: graft.CacheScope = graft.CacheScope.global,
                  minLen: Int = 10, maxDf: Int = 20): DataFrame =
    // same boundary cut as [[state]]: pack's many small jobs must plan
    // against a scan, not the frontier-rebuild tree
    pack(scope.checkpoint(
      gatedIncremental(prevDocs, curDocs, probe, prevState, scope,
        minLen, maxDf)), scope)

  /** The refresh's stage-4 output — the gated survivor set of `curDocs`
    * computed incrementally (affected docs re-gated, everything else
    * reused from `prevState.gated`); [[incremental]] = this + [[pack]],
    * and the corpus→index refresh ([[CorpusIndex.refresh]]) consumes it
    * directly. Bit-identical to a full [[state]] recompute on `curDocs`
    * (PretrainSpec; the cross-engine half is the `cur_pretrain_incr` /
    * `cur_pretrain_index_incr` oracles).
    */
  def gatedIncremental(prevDocs: DataFrame, curDocs: DataFrame,
                       probe: DataFrame, prevState: State,
                       scope: graft.CacheScope = graft.CacheScope.global,
                       minLen: Int = 10, maxDf: Int = 20): DataFrame = {
    val inc = increment(prevDocs, curDocs, prevState, scope, minLen, maxDf)
    val gatedAff = gateStages(
      Dedup.cutSubstrSpansFor(inc.collapsed, inc.affected, minLen, maxDf,
        scope),
      inc.collapsed, probe)
    val reused = prevState.gated
      .join(inc.collapsed.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(inc.affected, Seq("doc_id"), "left_anti")
    reused.unionByName(gatedAff)
  }
}
