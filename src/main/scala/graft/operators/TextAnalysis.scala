package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-data pipelines over the `documents` table
  * (doc_id, text, lang, source, n_chars). All are per-row scalar transforms
  * (no shuffle) built from codegen'd built-ins, so they stream through a
  * single whole-stage-codegen span at any scale.
  */
object TextAnalysis {

  /** Whitespace tokens; the fixture corpus is space-separated. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish subword segmentation: letter runs, digit runs, or single
    * non-space symbols — the classic pre-tokenizer regex.
    */
  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  /** Per-language marker (stopword) sets for the cheap lang-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "les"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  private def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => markers.map(m => t === m).reduce(_ || _)))

  /** Language-ID by marker-token ratio: argmax over [[langMarkers]], ties
    * broken by list order (scores strictly compared left to right).
    *
    * Built from a pre-tokenized column (see [[langIdFromTokens]]): the HOF
    * `filter` is CodegenFallback, so embedding `split(text)` inside each
    * language's score would re-evaluate the split per language in the
    * interpreted path — callers should project tokens once below this.
    */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** [[langId]] over an existing token-array column. */
  def langIdFromTokens(toks: Column): Column = {
    val scored = langMarkers.map { case (lang, ms) => lang -> markerHits(toks, ms) }
    // argmax via array_max over (score, priority, lang) structs: each score
    // is evaluated exactly once, priority breaks ties toward list order
    val entries = scored.zipWithIndex.map { case ((lang, score), i) =>
      struct(score.as("score"), lit(-i).as("prio"), lit(lang).as("lang"))
    }
    array_max(array(entries: _*)).getField("lang")
  }

  /** Per-document stats: token counts (whitespace + BPE-ish), char length,
    * vocabulary size, mean token length.
    */
  def stats(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    documents.select(
      col("doc_id"),
      length(col("text")).as("len_chars"),
      size(toks).as("n_tokens"),
      size(bpeishTokens(col("text"))).as("n_bpeish_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("distinct_ratio"))
  }

  /** Explicit 4-dp rounding (floor(x·10⁴+0.5)/10⁴): identical IEEE-double
    * steps in any engine, unlike library `round` whose tie rule varies.
    */
  def r4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0

  /** Heuristic quality score in [0,1]:
    *   0.4 · length saturation (chars/500 capped at 1)
    * + 0.3 · vocabulary diversity (distinct/total tokens)
    * + 0.3 · marker-word presence (5× en-marker ratio capped at 1)
    * Deterministic double arithmetic, rounded to 4 dp for cross-engine hashing.
    */
  def qualityScore(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val lenScore = least(length(col("text")).cast("double") / 500.0, lit(1.0))
    val diversity = size(array_distinct(toks)).cast("double") / size(toks)
    val stopRatio = markerHits(toks, langMarkers.head._2).cast("double") / size(toks)
    val stopScore = least(stopRatio * 5.0, lit(1.0))
    documents.select(
      col("doc_id"),
      r4(lenScore).as("len_score"),
      r4(diversity).as("diversity"),
      r4(stopScore).as("stop_score"),
      r4(lenScore * 0.4 + diversity * 0.3 + stopScore * 0.3).as("quality"))
  }

  /** Global term frequency: explode → two-phase hash aggregate. The explode
    * multiplies rows but partial aggregation collapses them map-side, so the
    * shuffle carries only (token, count) pairs — safe at 100 TB.
    */
  def termFrequency(documents: DataFrame, topK: Int): DataFrame =
    documents.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("token"))
      .limit(topK)

  /** Repetition ratio — fraction of n-gram occurrences that are repeats of
    * an earlier n-gram in the same document (0 = no repetition). The
    * intra-document twin of corpus-level dedup: high values flag boilerplate
    * and degenerate generations in training data.
    */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    val total = greatest(size(toks) - (n - 1), lit(0))
    val distinctN = size(graft.plans.NativeKernels.hashedShingles(toks, n))
    when(total === 0, 0.0)
      .otherwise((total - distinctN).cast("double") / total)
  }

  /** Gopher-style quality-rule suite (Rae et al. 2021, table A1) over a
    * LINE table (doc_id, line_no, ws: array<string>) — the published
    * heuristic battery web-scale pretrain pipelines run before any model
    * scoring. Per document:
    *  - `n_words` in [minWords, maxWords] (degenerate/truncated pages);
    *  - mean word length in [3, 10] (OCR junk, minified code);
    *  - symbol-to-word ratio (`#`, `...`) ≤ 0.1;
    *  - fraction of lines starting with a `-` bullet ≤ 0.9;
    *  - fraction of lines ending in `...` ≤ 0.3 (truncated scrapes);
    *  - fraction of words with an alphabetic character ≥ 0.8;
    *  - ≥ 2 distinct English stopwords present (gibberish gate).
    * Flags are BIGINT 0/1 and every ratio is on the 1e-4 grid from exact
    * integer counts, so the whole report hash-compares cross-engine.
    *
    * Scale: two keyed partial aggs over the line table (one at line grain,
    * one over the exploded words — map-side combined), joined on doc_id.
    * No windows, no driver state; at 100 TB this is one linear pass.
    */
  def gopherRules(lines: DataFrame, minWords: Int = 50,
                  maxWords: Int = 100000): DataFrame = {
    val stops = Seq("the", "a", "of", "and", "to")
    val lineStats = lines.groupBy("doc_id").agg(
      count(lit(1)).as("n_lines"),
      sum(when(element_at(col("ws"), 1) === "-", 1L).otherwise(0L))
        .as("n_bullet"),
      sum(when(element_at(col("ws"), size(col("ws"))) === "...", 1L)
        .otherwise(0L)).as("n_ellipsis"))
    val wordStats = lines
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("sum_len"),
        sum(when(col("w").isin("#", "..."), 1L).otherwise(0L)).as("n_sym"),
        sum(when(col("w").rlike("[a-zA-Z]"), 1L).otherwise(0L)).as("n_alpha"),
        countDistinct(when(col("w").isin(stops: _*), col("w"))).as("n_stop"))
    val mwl = r4(col("sum_len").cast("double") / col("n_words"))
    val symR = r4(col("n_sym").cast("double") / col("n_words"))
    val bulR = r4(col("n_bullet").cast("double") / col("n_lines"))
    val ellR = r4(col("n_ellipsis").cast("double") / col("n_lines"))
    val alpR = r4(col("n_alpha").cast("double") / col("n_words"))
    val flag = (c: Column) => when(c, 1L).otherwise(0L)
    wordStats.join(lineStats, "doc_id")
      .select(col("doc_id"), col("n_words"), col("n_lines"),
        mwl.as("mean_word_len"), symR.as("sym_ratio"),
        bulR.as("bullet_frac"), ellR.as("ellipsis_frac"),
        alpR.as("alpha_frac"), col("n_stop"),
        flag(col("n_words") >= minWords && col("n_words") <= maxWords)
          .as("r_wordcount"),
        flag(mwl >= 3.0 && mwl <= 10.0).as("r_meanlen"),
        flag(symR <= 0.1).as("r_symbols"),
        flag(bulR <= 0.9).as("r_bullets"),
        flag(ellR <= 0.3).as("r_ellipsis"),
        flag(alpR >= 0.8).as("r_alpha"),
        flag(col("n_stop") >= 2).as("r_stopwords"))
      .withColumn("keep",
        flag(col("r_wordcount") + col("r_meanlen") + col("r_symbols") +
          col("r_bullets") + col("r_ellipsis") + col("r_alpha") +
          col("r_stopwords") === 7L))
  }

  /** Per-document top-k TF-IDF terms — the classic relevance/keyword
    * primitive: tf = in-doc term count, idf = ln(N / df) with df = number
    * of documents containing the term. Emits (doc_id, token, tf, tfidf,
    * rn ≤ k) ranked by (tfidf desc, token asc).
    *
    * Scale design: explode → (doc, token) partial-agg (map-side combine);
    * df is a second partial agg over the tf table; the tf⋈df join shuffles
    * on token (vocab-sized sides, no broadcast assumption); the corpus
    * count N arrives via a broadcast 1-row cross join, not a driver
    * collect. The per-doc rank window is partitioned by doc_id — keyed,
    * never global. tfidf is ranked on its 4-dp-rounded value so the
    * (tfidf, token) tie-break is identical cross-engine.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int,
                    scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(tokens(col("text"))).as("token"))
    // persist: tf feeds both the join's left side and the df aggregation —
    // without it the explode+agg pass over the corpus runs twice
    val tf = scope.persist(
      toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = documents.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("tfidf"), col("token"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        r4(col("tf") * log(col("n").cast("double") / col("df"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("doc_id", "token", "tf", "tfidf", "rn")
  }

  /** Benchmark-decontamination hits: for each document, how many of its
    * distinct n-gram shingles appear in the probe (benchmark/test-set)
    * corpus — the standard "is my training data contaminated with eval
    * data" check. Emits (doc_id, n_hits) for documents with ≥ 1 hit.
    *
    * Scale design: both sides shingle via the fused
    * [[graft.operators.Dedup.hashedShingles]] kernel and join on the
    * 8-byte hash (same negligible-collision argument as jaccardPairs —
    * the oracle joins on shingle strings and agrees). The probe set is
    * benchmark-sized, so Catalyst broadcasts it; the document side is one
    * explode + keyed partial agg — linear, no corpus self-join.
    */
  def contaminationHits(documents: DataFrame, probeDocs: DataFrame,
                        n: Int = 3): DataFrame = {
    val sh = (d: DataFrame) =>
      d.select(col("doc_id"),
        explode(graft.operators.Dedup.hashedShingles(col("text"), n)).as("h"))
    val probe = sh(probeDocs).select("h").distinct()
    sh(documents)
      .join(probe, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  /** Non-distinct bigram occurrences of `text` (order preserved, repeats
    * kept — unlike [[graft.operators.Dedup.shingles]], counts matter here).
    */
  def bigrams(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i + 1, lit(2)))))
  }

  /** Corpus-self-trained bigram language-model score per document — the
    * CCNet-style LM quality filter: documents whose word transitions are
    * improbable under the corpus's own bigram statistics (boilerplate,
    * shuffled text, gibberish) score low.
    *
    * Model: add-one-smoothed bigram probabilities
    * P(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁·)+V), with V = distinct-token count.
    * Score = mean over the doc's bigram OCCURRENCES of ln P, rounded 4 dp.
    * Docs with < 2 tokens get no row.
    *
    * Determinism: each bigram's ln P is quantized to a 1e-9-scaled long
    * before the per-doc mean (distributed double sums are partition-order-
    * dependent; integer sums are exact) — the DuckDB twin replays the
    * arithmetic bit-for-bit. Scale: two corpus-count tables (bigram and
    * prefix counts, both partial-agg'd), two vocab-keyed shuffle joins, one
    * keyed mean — linear, the same shape as [[tfidfTopTerms]].
    */
  def lmScore(documents: DataFrame,
              scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // (doc_id, bigram b) occurrences; persist: feeds the count table AND
    // the scoring join. (A (doc_id, b, tf) pre-aggregation — the
    // hashedTfIdf discipline — was MEASURED NEGATIVE here and reverted:
    // bigrams are mostly unique within a document, so tf ≈ 1 and the
    // pre-agg only added a (doc, b)-keyed shuffle: 2.60 → 3.22 s at
    // sf0.1. Don't re-try without checking the tf distribution first.)
    val occ = scope.persist(documents
      .select(col("doc_id"), explode(graft.plans.TokenizerKernels.bigramsOnly(col("text"))).as("b")))
    val c2 = occ.groupBy("b").agg(count(lit(1)).as("c2"))
    // c1 derives from c2 by prefix (exact long sums), and the per-bigram
    // score term folds into ONE vocab table — the occurrence stream then
    // shuffles ONCE (by b) instead of twice (by b, then by w1): the
    // self-trained model makes both lookups total, so keying c1's value
    // by b loses nothing (the cross-corpus form can't do this — an unseen
    // bigram may still have a seen prefix — which is why lmScoreCross
    // keeps its two left joins)
    val c1 = c2.select(substring_index(col("b"), " ", 1).as("w1"), col("c2"))
      .groupBy("w1").agg(sum("c2").as("c1"))
    val v = documents.select(explode(tokens(col("text"))).as("t"))
      .agg(countDistinct("t").as("v"))
    val bstats = c2.withColumn("w1", substring_index(col("b"), " ", 1))
      .join(c1, "w1")
      .crossJoin(broadcast(v))
      .select(col("b"), floor(
        log((col("c2").cast("double") + 1.0) / (col("c1").cast("double") + col("v")))
          * 1000000000.0 + 0.5).cast("long").as("lnpq"))
    occ.join(bstats, "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lnpq").as("sq"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("sq").cast("double") / 1000000000.0 / col("n_bigrams")
          * 10000.0 + 0.5) / 10000.0).as("lm_score"))
  }

  /** Cross-corpus bigram LM score — the full CCNet shape: train the
    * add-one-smoothed bigram model on a REFERENCE corpus (CCNet: Wikipedia)
    * and score a different corpus against it. Documents whose transitions
    * are improbable under the reference domain score low — the
    * domain-quality filter, where [[lmScore]] is the self-trained
    * degenerate case. Bigrams unseen in training back off to the smoothing
    * floor: P = (0+1)/(c(w₁·)+V), and c(w₁·)=0 for an unseen prefix — so
    * scoring is total (every doc with ≥ 2 tokens gets a row).
    *
    * Same determinism (1e-9 integer-grid lns) and scale shape as
    * [[lmScore]] — two partial-agg count tables sized by the TRAIN corpus,
    * two vocab-keyed LEFT joins (unseen → coalesce 0), one keyed mean.
    */
  def lmScoreCross(documents: DataFrame, train: DataFrame,
                   scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // the train side aggregates once to per-bigram counts (c1 derived
    // from c2 by prefix — exact long sums, never a second occurrence
    // pass); the scored side keeps its per-occurrence LEFT joins: an
    // unseen bigram may still have a seen prefix, so the two lookups are
    // independent and can't fold into one per-bigram table the way the
    // self-trained [[lmScore]] does. (A (doc_id, b, tf) pre-aggregation
    // of the scored side was MEASURED NEGATIVE — tf ≈ 1 for bigrams —
    // and reverted.)
    val prep = (d: DataFrame) => d
      .select(col("doc_id"), explode(graft.plans.TokenizerKernels.bigramsOnly(col("text"))).as("b"))
      .withColumn("w1", substring_index(col("b"), " ", 1))
    val c2 = scope.persist(train
      .select(explode(graft.plans.TokenizerKernels.bigramsOnly(col("text"))).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c2")))
    val c1 = c2.select(substring_index(col("b"), " ", 1).as("w1"), col("c2"))
      .groupBy("w1").agg(sum("c2").as("c1"))
    val v = train.select(explode(tokens(col("text"))).as("t"))
      .agg(countDistinct("t").as("v"))
    prep(documents)
      .join(c2, Seq("b"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("lnpq", floor(
        log((coalesce(col("c2"), lit(0L)).cast("double") + 1.0)
          / (coalesce(col("c1"), lit(0L)).cast("double") + col("v")))
          * 1000000000.0 + 0.5).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lnpq").as("sq"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("sq").cast("double") / 1000000000.0 / col("n_bigrams")
          * 10000.0 + 0.5) / 10000.0).as("lm_score"))
  }

  // ---- Cross-document boilerplate removal (C4-style) ----

  /** Positioned n-gram occurrences: one (doc_id, pos, h) row per n-gram
    * START position — NON-distinct, unlike [[graft.operators.Dedup.shingles]],
    * because removal needs every occurrence's location. h = xxhash64 of the
    * space-joined n-gram (string-collision argument as in jaccardPairs: the
    * oracle joins on the strings and agrees).
    */
  private def shingleOcc(documents: DataFrame, n: Int): DataFrame = {
    val sh = when(size(col("toks")) < n, array().cast("array<long>"))
      .otherwise(transform(sequence(lit(0), size(col("toks")) - n),
        i => xxhash64(concat_ws(" ", slice(col("toks"), i + 1, lit(n))))))
    documents.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(sh).as(Seq("pos", "h")))
  }

  /** (doc_id, p) token positions covered by any boilerplate n-gram — an
    * n-gram is boilerplate when it occurs in ≥ minDocs DISTINCT documents
    * (the C4/RefinedWeb "spans repeated across the corpus" rule, adapted
    * from lines to n-grams). An occurrence at start position `pos` covers
    * positions [pos, pos+n).
    *
    * Scale: the occurrence table is one linear explode; the boilerplate set
    * is the high-document-frequency tail (small by construction — df ≥
    * minDocs); the cover join shuffles occurrences on the 8-byte hash and
    * expands each hit n×, bounded by n · |occurrences|. All aggregations are
    * keyed and partial — no windows, no driver state.
    */
  private def coveredPositions(documents: DataFrame, n: Int, minDocs: Int,
                               scope: graft.CacheScope): DataFrame = {
    // persist: occurrences feed the df-count aggregation AND the cover join
    val occ = scope.persist(shingleOcc(documents, n))
    val boiler = occ.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs).select("h")
    occ.join(boiler, "h")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
  }

  /** [[coveredPositions]] as a write-once store (the materialized-pair-
    * store discipline): the cross-document 3-gram df pass and cover
    * explode depend only on (corpus, n, minDocs), and three registered
    * queries (coverage report, strip, the pipeline flagship's strip
    * stage) each re-ran it. Memoized per (storeKey, corpus content, n,
    * minDocs) ([[graft.Artifacts]]). Deterministic — materialization
    * changes cost only, never results.
    */
  def materializedCoveredPositions(storeKey: String, documents: DataFrame,
                                   n: Int = 3, minDocs: Int = 4,
                                   scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val spark = documents.sparkSession
    val path = graft.Artifacts.dir("coverstore", storeKey, Seq(documents), n, minDocs) { p =>
      coveredPositions(documents, n, minDocs, scope)
        .write.mode("overwrite").parquet(p)
    }
    spark.read.parquet(path)
  }

  /** Per-document boilerplate coverage report: (doc_id, n_tokens, covered,
    * boiler_ratio) — the audit view a data team reads before choosing the
    * removal threshold. Every document gets a row (covered = 0 when clean).
    * `store` (optional corpus key) serves the covered-position set from
    * [[materializedCoveredPositions]].
    */
  def boilerplateCoverage(documents: DataFrame, n: Int = 3, minDocs: Int = 4,
                          scope: graft.CacheScope = graft.CacheScope.global,
                          store: Option[String] = None): DataFrame = {
    val covered = store
      .map(k => materializedCoveredPositions(k, documents, n, minDocs, scope))
      .getOrElse(coveredPositions(documents, n, minDocs, scope))
      .groupBy("doc_id").agg(count(lit(1)).as("covered"))
    documents
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        r4(coalesce(col("covered"), lit(0L)).cast("double") / col("n_tokens"))
          .as("boiler_ratio"))
  }

  /** The corpus with boilerplate-covered tokens REMOVED: (doc_id,
    * clean_text). Order within a document is preserved (kept tokens are
    * reassembled by position); a fully-covered document yields ''.
    *
    * Scale: kept tokens anti-join the covered-position set on (doc_id, p),
    * then reassemble per document — collect_list is keyed by doc_id and
    * bounded by document length (the same per-doc-bounded shape as
    * Curation.packSequences), with array_sort making the collect order
    * deterministic.
    */
  def stripBoilerplate(documents: DataFrame, n: Int = 3, minDocs: Int = 4,
                       scope: graft.CacheScope = graft.CacheScope.global,
                       store: Option[String] = None): DataFrame =
    rebuildWithoutPositions(documents,
      store.map(k => materializedCoveredPositions(k, documents, n, minDocs, scope))
        .getOrElse(coveredPositions(documents, n, minDocs, scope)), scope)

  /** Shared span-cut text rebuild: given the corpus and a cut-position
    * table (doc_id, p), emit (doc_id, clean_text) for EVERY document —
    * touched docs through the fused [[graft.plans.RemoveTokenPositions]]
    * kernel (cut positions gathered per doc: spans are bounded by the
    * document's own length, so the per-doc list is row-sized state),
    * untouched docs VERBATIM (space-rejoined tokens reproduce the original
    * string exactly, empties included). Replaces the strip operators'
    * posexplode → anti-join → per-doc sort reconstruct, which re-built
    * every document even though most carry no cuts.
    */
  private[operators] def rebuildWithoutPositions(documents: DataFrame,
                                                 cut: DataFrame,
                                                 scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // persist: the gathered positions feed BOTH the touched join and the
    // untouched anti-join — uncached, the whole span-detection subtree
    // (the expensive part) would run twice (measured +2.1 s on
    // cur_pretrain's stage 2)
    val cutPos = scope.persist(cut.groupBy("doc_id")
      .agg(collect_list(col("p").cast("int")).as("_ps")))
    val touched = documents.join(cutPos, "doc_id")
      .select(col("doc_id"),
        graft.plans.TokenizerKernels.removeTokenPositions(col("text"),
          col("_ps")).as("clean_text"))
    // coalesce preserves the every-doc-gets-a-string contract of the
    // replaced posexplode/left-join rebuild: a null-text document yielded
    // '' there (no token rows), so the verbatim pass-through must not
    // start emitting null
    val untouched = documents.join(cutPos.select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("clean_text"))
    touched.unionByName(untouched)
  }

  // ---- TextRank keyword extraction (Mihalcea & Tarau 2004) ----

  /** Per-document TextRank keywords: build each document's token
    * co-occurrence graph (undirected, edges between tokens within
    * `window` positions, weight = co-occurrence count, self-loops
    * dropped), run `iters` damped PageRank iterations, emit the top-k
    * tokens per document as (doc_id, token, rank_4dp, rn ≤ k) ranked by
    * (rank desc, token asc) — the graph-based counterpart of
    * [[tfidfTopTerms]] that needs no corpus statistics.
    *
    * Update rule (TextRank eq. 2): r'(i) = (1−d) + d·Σ_j wt_ij/deg_j·r(j)
    * over in-neighbors j. DETERMINISM — ranks live on the 1e-9 long grid:
    * each edge contribution floor(rq_j·wt/deg + 0.5) and each damped
    * update floor(d·Σ + 0.5) is a correctly-rounded double function of
    * exact integers (rq_j·wt ≤ 2⁵³ for any real document), so every
    * iteration — and the final (rq desc, token) tie-break — replays
    * bit-for-bit in the DuckDB twin's chained r1/r2/r3 CTEs, the same
    * framework as the BPE merge rounds and the Lloyd quantizer.
    *
    * Scale: the graph is PER DOCUMENT and bounded by the document's token
    * count, so the whole computation — graph build, `iters` damped
    * rounds, top-k selection — runs as ONE fused codegen kernel per
    * document ([[graft.plans.TextRankTopK]]), embarrassingly parallel
    * over documents with no global graph and no driver state. (The
    * previous DataFrame formulation — positional equi-join edge build +
    * 2 keyed shuffles per iteration + a ranking window, ~8 exchanges for
    * work that never crosses document boundaries — measured 5.9–6.9 s at
    * sf0.1 against the kernel's ~1 s; its integer/double spelling is
    * replayed verbatim, so the DuckDB twin's chained r1/r2/r3 CTEs still
    * match bit-for-bit, asserted by the oracle gate and the TextAnalysis
    * parity spec.) Single-token documents have no edges and emit no
    * keywords (documented).
    */
  def textrankKeywords(documents: DataFrame, k: Int = 3, window: Int = 2,
                       iters: Int = 3, damping: Double = 0.85,
                       scope: graft.CacheScope = graft.CacheScope.global): DataFrame =
    documents
      .select(col("doc_id"),
        posexplode(graft.plans.GraphKernels.textrankTopK(tokens(col("text")),
          k, window, iters, damping)).as(Seq("i", "s")))
      .select(col("doc_id"), col("s.token").as("token"),
        (floor(col("s.rq").cast("double") / 100000.0 + 0.5) / 10000.0)
          .as("rank_4dp"),
        (col("i") + 1).as("rn"))

  // ---- Trained Naive Bayes text classifier (fastText-lite) ----

  /** Multinomial Naive Bayes classification — the trained counterpart of
    * the [[langId]] marker heuristic and the counting-based stand-in for
    * the fastText-style quality/domain classifiers LLM pipelines train
    * (CCNet, LLaMA): fit on a deterministic hash split of the corpus,
    * score the held-out split, emit the confusion matrix
    * (actual, predicted, n_docs).
    *
    * Model: argmax over labels of
    * ln P(label) + Σ_tokens ln P(token|label), with add-one smoothing
    * P(token|label) = (c(token,label)+1) / (c(label)+V) over token
    * OCCURRENCES and V = the training vocabulary size. Every ln is
    * quantized to a 1e-9-grid long before the per-document sum (the
    * [[lmScore]] determinism trick: integer sums are partition-order-free,
    * so scoring — and the argmax — replays bit-for-bit in the DuckDB twin);
    * ties break toward the lexicographically smaller label.
    *
    * Scale: the model is two partial-agg count tables (label-sized priors,
    * vocab×labels-sized token counts) — never a per-document state; scoring
    * explodes test tokens once, crosses with the label list (|labels| rows,
    * broadcast), left-joins the count table on (label, token) so unseen
    * tokens back off to the smoothing floor, and reduces with one keyed
    * sum. The argmax is a window keyed by doc_id. Same linear shape as
    * [[lmScoreCross]].
    */
  def nbConfusion(documents: DataFrame, labelCol: String = "lang",
                  trainPct: Int = 80,
                  scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    val bucket = graft.operators.Curation.hashBucket(col("doc_id"), 100)
    val train = documents.filter(bucket < trainPct)
    val test = documents.filter(bucket >= trainPct)

    // token occurrences of the training split; feeds the count table, the
    // per-label totals and the vocabulary count
    val occT = scope.persist(train.select(col(labelCol).as("label"),
      explode(tokens(col("text"))).as("token")))
    val counts = occT.groupBy("label", "token").agg(count(lit(1)).as("c"))
    val totals = occT.groupBy("label").agg(count(lit(1)).as("ct"))
    val vocab = occT.agg(countDistinct("token").as("v"))
    val nTrain = train.agg(count(lit(1)).as("n"))
    val priors = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(nTrain))
      .select(col("label"), floor(
        log(col("nd").cast("double") / col("n")) * 1000000000.0 + 0.5)
        .cast("long").as("prior_q"))

    val testOcc = test.select(col("doc_id"), col(labelCol).as("actual"),
      explode(tokens(col("text"))).as("token"))
    val scored = testOcc
      .crossJoin(broadcast(totals.select("label")))
      .join(counts, Seq("label", "token"), "left")
      .join(broadcast(totals), "label")
      .crossJoin(broadcast(vocab))
      .withColumn("lnpq", floor(
        log((coalesce(col("c"), lit(0L)).cast("double") + 1.0)
          / (col("ct").cast("double") + col("v"))) * 1000000000.0 + 0.5)
        .cast("long"))
      .groupBy("doc_id", "actual", "label")
      .agg(sum("lnpq").as("sq"))
      .join(broadcast(priors), "label")
      .withColumn("score", col("sq") + col("prior_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), col("label"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("actual"), col("label").as("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Content fingerprint (md5 of normalized text) — exact-dup key that's
    * stable across engines. Normalization: lowercase + collapse whitespace.
    */
  def fingerprintMd5(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Polynomial rolling hash over tokens (base 1000003, mod 2^31-1), computed
    * as a left fold — order-sensitive, so token permutations get different
    * fingerprints (unlike the md5 of a token *set*). The Mersenne-31 modulus
    * keeps acc·base ≤ 2^51, inside exact long arithmetic. The per-token hash
    * is the first 32 bits of md5 (not xxhash64) so any engine with md5 can
    * reproduce the fold bit-for-bit — the DuckDB `list_reduce` twin in
    * TextQueries is the oracle.
    */
  def fingerprintRolling(text: Column): Column = {
    val mod = lit(2147483647L) // 2^31 - 1
    // per-token 32-bit hash = high half of the Md5Hash64 kernel output
    // (== first 8 md5 hex chars as an unsigned int, the DuckDB twin's form);
    // the kernel hashes all tokens in one fused pass, the fold stays a HOF
    aggregate(
      graft.plans.NativeKernels.md5Hash64(tokens(text)),
      lit(0L),
      (acc, h) => pmod(acc * 1000003L + pmod(shiftrightunsigned(h, 32), mod), mod))
  }
}
