package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps

/** Similarity search over `embeddings` (vec_id, embedding array<float>,
  * label).
  *
  * Two paths, as a 100 TB engine needs both:
  *  - brute force (exact): one pass over the corpus per query batch —
  *    correct at any scale but O(corpus × queries); used as ground truth
  *    and for small query sets (it's a broadcast join + TakeOrdered, no
  *    shuffle of the corpus);
  *  - hyperplane LSH (approximate): deterministic random projections bucket
  *    the corpus once (linear), queries probe only matching buckets across
  *    L tables, then exact re-rank of candidates. Corpus bucketing is
  *    reusable across queries (write it out / cache it in practice).
  */
object Similarity {

  val dim = 64

  /** Exact top-k cosine neighbors of one stored vector.
    *
    * Zero-norm vectors (0/0 = NaN cosine) are mapped to NULL: Spark sorts
    * NaN FIRST under desc but NULL last — the SQL twins' `NULLS LAST`
    * (zero-norm via NULLIF) would silently desync the moment a hashed-TF
    * sign cancellation produces an all-zero document vector.
    */
  def topK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        nanvl(VectorOps.cosine(col("embedding"), col("q_emb")),
          lit(null).cast("double")))
      .orderBy(desc("cosine"), col("vec_id"))
      .select("vec_id", "cosine")
      .limit(k)
  }

  /** Two-stage coarse-to-fine retrieval — the hierarchical RAG serving
    * pattern: rank DOCUMENTS by the query's doc-level cosine (stage 1,
    * the coarse cut), then rank only the surviving documents' CHUNKS
    * (stage 2, the fine cut) — "find the right document cheaply, then the
    * right passage inside it". Chunking multiplies vector cardinality
    * ~8–16×; the coarse cut means the fine stage scans coarseK documents'
    * chunks instead of the whole chunk table, ON TOP of whatever index
    * serves stage 1 — the two prunings compose. Emits (vec_id = chunk
    * key, parent_id, cosine) with the zero-norm→NULL ranked-last law.
    *
    * Scale: stage 1 is [[topK]] (or any indexed probe upstream); the
    * chunk restriction is a keyed join against the coarseK-row doc list
    * (broadcast); stage 2's candidate set is coarseK·chunks-per-doc.
    */
  def topKTwoStage(docEmb: DataFrame, chunkEmb: DataFrame, queryVecId: Long,
                   coarseK: Int, k: Int, chunkShift: Int = 20): DataFrame = {
    val q = docEmb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    val topDocs = topK(docEmb, queryVecId, coarseK)
      .select(col("vec_id").as("parent_id"))
    chunkEmb
      .withColumn("parent_id", shiftright(col("vec_id"), chunkShift))
      .join(topDocs, "parent_id")
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        nanvl(VectorOps.cosine(col("embedding"), col("q_emb")),
          lit(null).cast("double")))
      .orderBy(desc("cosine"), col("vec_id"))
      .select("vec_id", "parent_id", "cosine")
      .limit(k)
  }

  /** [[topKTwoStage]] SERVED THROUGH THE INDEXES — the 100×-scale plan:
    * stage 1 probes the DOC-level IVF index (nprobeDoc of its lists — the
    * doc table is never scanned whole), the coarse cut's doc ids collect
    * to the driver (coarseK-bounded, the k-bounded-collect discipline),
    * and stage 2 probes the CHUNK index with the SAME doc-level query
    * vector, its candidate set cut twice: nprobeChunk of the chunk lists
    * (partition pruning on the materialized index) AND parent ∈ the
    * coarse cut (an `isin` over coarseK ids pushed into the index scan).
    * With both probes exhaustive this equals [[topKTwoStage]] bit-for-bit
    * (asserted in IvfSpec); pruned, it is the composition a real serving
    * stack runs. Same output shape and zero-norm→NULL law.
    */
  /** SERVING NOTE: this single-query form carries ~1–1.4 s of fixed
    * driver overhead (two bounded collects + two probe plans — measured,
    * BASELINE.md round-11); batch callers should use
    * [[topKTwoStageIvfAll]], which amortizes it to ~0.026 s/query by
    * fanning every query through one keyed plan.
    */
  /** `allowed` (doc ids) is the FILTERED-serving form — "retrieve only
    * docs from source X / after date D", the most common production
    * retrieval predicate: it semi-joins stage 1's candidates BEFORE the
    * coarse ranking (the starvation-avoiding pattern [[Ivf.probe]]
    * implements), so the coarse cut is the best coarseK ALLOWED docs —
    * never a post-filter that starves the pool — and stage 2's chunks
    * inherit it through the parent restriction.
    */
  def topKTwoStageIvf(docModel: Ivf.IvfModel, docEmb: DataFrame,
                      chunkModel: Ivf.IvfModel, queryVecId: Long,
                      coarseK: Int, k: Int, nprobeDoc: Int = 4,
                      nprobeChunk: Int = 4, chunkShift: Int = 20,
                      allowed: Option[DataFrame] = None): DataFrame = {
    val spark = docEmb.sparkSession
    val qVec = Ivf.queryVec(docEmb, queryVecId)
    val topDocs = Ivf.probeWithVec(docModel, spark, qVec, coarseK, nprobeDoc,
        exclude = Some(queryVecId), allowed = allowed)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    Ivf.probeWithVec(chunkModel, spark, qVec, k, nprobeChunk,
        indexFilter = Some(shiftright(col("vec_id"), chunkShift)
          .isin(topDocs: _*)))
      .withColumn("parent_id", shiftright(col("vec_id"), chunkShift))
      .select("vec_id", "parent_id", "cosine")
  }

  /** [[topKTwoStageIvf]] with the coarse stage through the SHARDED
    * quantizer — the 10¹¹-doc form: past [[autoNlist]]'s 65 536-centroid
    * broadcast cap ([[autoShardPlan]]: 746 shards at 10¹¹), stage 1 is
    * [[Ivf.probeSharded]]'s fan-out (each shard probes nprobe of its OWN
    * lists in parallel, global coarseK re-cut), while stage 2 stays on
    * the single-model chunk index — the chunk side is parent-restricted
    * to coarseK docs, so its candidate set never needs the sharded
    * layout. At exhaustive settings this equals [[topKTwoStage]]
    * bit-for-bit (the `ann_topk_twostage_sharded` oracle + IvfSpec).
    */
  def topKTwoStageSharded(docSharded: Ivf.IvfShardedModel, docEmb: DataFrame,
                          chunkModel: Ivf.IvfModel, queryVecId: Long,
                          coarseK: Int, k: Int, nprobeDoc: Int = 4,
                          nprobeChunk: Int = 4,
                          chunkShift: Int = 20): DataFrame = {
    val spark = docEmb.sparkSession
    val qVec = Ivf.queryVec(docEmb, queryVecId)
    val topDocs = Ivf.probeShardedWithVec(docSharded, spark, qVec, coarseK,
        nprobeDoc, exclude = Some(queryVecId))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    Ivf.probeWithVec(chunkModel, spark, qVec, k, nprobeChunk,
        indexFilter = Some(shiftright(col("vec_id"), chunkShift)
          .isin(topDocs: _*)))
      .withColumn("parent_id", shiftright(col("vec_id"), chunkShift))
      .select("vec_id", "parent_id", "cosine")
  }

  /** RAW-TEXT two-stage serving — the entry point a real serving stack
    * exposes: the query arrives as TEXT, embeds through the corpus's own
    * model-free embedder ([[Embed.embedTextVec]] — one bounded collect),
    * and runs the same indexed two-stage chain as [[topKTwoStageIvf]]
    * (doc-IVF coarse probe, parent-restricted chunk-index fine probe).
    * No self-exclusion anywhere: the query is not a corpus member. With
    * a query text identical to a stored document's, the produced vector
    * is bit-identical to that document's stored embedding (EmbedSpec), so
    * the text path and the vector path share their ranking law.
    */
  def topKTwoStageIvfText(spark: org.apache.spark.sql.SparkSession,
                          docModel: Ivf.IvfModel, chunkModel: Ivf.IvfModel,
                          queryText: String, coarseK: Int, k: Int,
                          nprobeDoc: Int = 4, nprobeChunk: Int = 4,
                          chunkShift: Int = 20, dim: Int = 64): DataFrame = {
    val qVec = Embed.embedTextVec(spark, queryText, dim)
    val topDocs = Ivf.probeWithVec(docModel, spark, qVec, coarseK, nprobeDoc)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    Ivf.probeWithVec(chunkModel, spark, qVec, k, nprobeChunk,
        indexFilter = Some(shiftright(col("vec_id"), chunkShift)
          .isin(topDocs: _*)))
      .withColumn("parent_id", shiftright(col("vec_id"), chunkShift))
      .select("vec_id", "parent_id", "cosine")
  }

  /** [[ragContextIvf]] with a RAW-TEXT query — text in, budget-certified
    * context out: the full last-mile serving composition (embed → indexed
    * two-stage → rank-ordered packing) as one call.
    */
  def ragContextIvfText(spark: org.apache.spark.sql.SparkSession,
                        docModel: Ivf.IvfModel, chunkModel: Ivf.IvfModel,
                        chunkTexts: DataFrame, queryText: String,
                        coarseK: Int, poolK: Int, tokenBudget: Long,
                        nprobeDoc: Int = 4, nprobeChunk: Int = 4,
                        dim: Int = 64): DataFrame =
    ragContextFrom(
      topKTwoStageIvfText(spark, docModel, chunkModel, queryText, coarseK,
        poolK, nprobeDoc, nprobeChunk, dim = dim),
      chunkTexts, tokenBudget)

  /** Set-oriented [[topKTwoStageIvf]] — indexed two-stage retrieval for
    * EVERY row of `queries` (vec_id, embedding) in one plan, the
    * micro-batch serving engine ([[Ivf.probeAll]]'s discipline): stage 1
    * fans all queries through the doc index at once (one keyed join
    * against its probed lists), stage 2 selects each query's chunk lists
    * via the pure probe-selection expression (no driver round-trip) and
    * joins the chunk index ONCE on `list`, candidates cut per query to
    * its own coarse parents by a keyed (query_id, parent) join — never a
    * per-query collect, so a 10 000-query batch costs one pass of each
    * index's probed slice. Emits (query_id, vec_id, parent_id, cosine,
    * rn ≤ k); per-query rows equal [[topKTwoStageIvf]]'s bit-for-bit
    * (IvfSpec).
    */
  def topKTwoStageIvfAll(docModel: Ivf.IvfModel, chunkModel: Ivf.IvfModel,
                         queries: DataFrame, coarseK: Int, k: Int,
                         nprobeDoc: Int = 4, nprobeChunk: Int = 4,
                         chunkShift: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    val topDocs = Ivf.probeAll(docModel, queries, coarseK, nprobeDoc)
      .select(col("query_id"), col("vec_id").as("parent_id"))
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .withColumn("list", explode(
        Ivf.probeListsExpr(col("q_emb"), chunkModel.coarse.get.centroids, nprobeChunk)))
    val idx = CodesIndex.liveRows(spark, chunkModel, None)
      .select(col("list"), col("vec_id"), col("embedding"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), col("vec_id"))
    idx.join(q, "list")
      .withColumn("parent_id", shiftright(col("vec_id"), chunkShift))
      .join(topDocs, Seq("query_id", "parent_id"), "left_semi")
      .withColumn("cosine",
        nanvl(VectorOps.cosine(col("embedding"), col("q_emb")),
          lit(null).cast("double")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "vec_id", "parent_id", "cosine", "rn")
  }

  /** RAG context assembly — the last mile of the retrieval stack: the
    * two-stage top-`poolK` chunks packed GREEDILY IN RANK ORDER under a
    * token budget (a strict running-sum prefix: the context window takes
    * best-ranked chunks until the next one would overflow — the
    * deterministic law every serving stack needs before it can promise
    * "fits in N tokens"). Emits (rn, vec_id, parent_id, cosine, n_tokens,
    * cum_tokens, chunk_text) — the assembled, budget-certified context.
    *
    * Scale: the ranked pool is poolK rows (k-bounded), so the rank and
    * running sum are computed by a broadcast self-join over it (≤ poolK²
    * pairs of a tiny table) — NOT a partitionless window, the banned
    * single-task plan shape; the text join is keyed on the chunk key.
    * Null cosines (zero-norm chunks) map to −2 for the ordering, which
    * ranks them last exactly like the window spelling would.
    */
  def ragContext(docEmb: DataFrame, chunkEmb: DataFrame, chunkTexts: DataFrame,
                 queryVecId: Long, coarseK: Int, poolK: Int,
                 tokenBudget: Long): DataFrame =
    ragContextFrom(
      topKTwoStage(docEmb, chunkEmb, queryVecId, coarseK, poolK),
      chunkTexts, tokenBudget)

  /** [[ragContext]] over the INDEXED two-stage chain ([[topKTwoStageIvf]])
    * — the serving form: both retrieval stages run through their
    * materialized IVF indexes, then the poolK survivors pack under the
    * budget. Packing is retrieval-agnostic, so correctness reduces to the
    * two-stage twin plus the shared packing law.
    */
  def ragContextIvf(docModel: Ivf.IvfModel, docEmb: DataFrame,
                    chunkModel: Ivf.IvfModel, chunkTexts: DataFrame,
                    queryVecId: Long, coarseK: Int, poolK: Int,
                    tokenBudget: Long, nprobeDoc: Int = 4,
                    nprobeChunk: Int = 4,
                    allowed: Option[DataFrame] = None): DataFrame =
    ragContextFrom(
      topKTwoStageIvf(docModel, docEmb, chunkModel, queryVecId, coarseK,
        poolK, nprobeDoc, nprobeChunk, allowed = allowed),
      chunkTexts, tokenBudget)

  /** Set-oriented RAG context assembly — greedy rank-ordered packing for
    * EVERY query of a ranked pool at once: `rankedPool` is
    * [[topKTwoStageIvfAll]]'s output (query_id, vec_id, parent_id,
    * cosine, rn ≤ poolK), texts join keyed on the chunk key, and the
    * running sum is a QUERY-KEYED window over the k-bounded per-query
    * pool (≤ poolK rows per partition — WindowGroupLimit territory, never
    * a global sort). Emits (query_id, rn, vec_id, parent_id, cosine,
    * n_tokens, cum_tokens, chunk_text); per-query rows equal
    * [[ragContextIvf]]'s bit-for-bit (IvfSpec).
    */
  def ragContextAll(rankedPool: DataFrame, chunkTexts: DataFrame,
                    tokenBudget: Long): DataFrame = {
    // rank is RECOMPUTED after the (inner) text join — [[ragContextFrom]]'s
    // law — so a pooled vec_id missing from chunkTexts leaves a contiguous
    // numbering, not a gap, and the two forms stay bit-parity even on
    // incomplete text tables (round-11 advice). Pool order is preserved:
    // the window orders by the pre-join rn, which the join never reorders.
    val wr = Window.partitionBy("query_id").orderBy("rn")
    val w = Window.partitionBy("query_id").orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rankedPool.join(chunkTexts, "vec_id")
      .withColumn("n_tokens",
        size(split(col("chunk_text"), " ")).cast("long"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("rn", row_number().over(wr).cast("long"))
      .filter(col("cum_tokens") <= tokenBudget)
      .select(col("query_id"), col("rn"),
        col("vec_id"), col("parent_id"), col("cosine"), col("n_tokens"),
        col("cum_tokens"), col("chunk_text"))
  }

  /** MMR-DIVERSIFIED context assembly — maximal marginal relevance
    * (Carbonell & Goldstein 1998) applied to the RAG pool: near-dup
    * chunks in a retrieval pool waste context budget on repetition, so
    * instead of packing in pure rank order, chunks are selected GREEDILY
    * by `lambdaRel·rel − lambdaDiv·max_{s∈selected} sim(c, s)` — each
    * pick trades relevance against similarity to what the context
    * already holds — and the selection packs under the token budget in
    * SELECTION order. Emits the rag-context shape (rn = selection order).
    *
    * Determinism: rel is the probe cosine (NULL → −2, the packing law);
    * sim is the exact-integer-count cosine with zero-norm pairs pinned
    * to 0; the two weights are LITERALS on both engine sides (never
    * compute 1−λ — `1 - 0.7` is not the double `0.3`; the bm25
    * 2.2/0.3/0.9 precedent). The greedy argmax ties break toward the
    * smaller vec_id. The DuckDB twin replays the selection as `selectK`
    * unrolled argmax CTEs (the lloydStep textual-repetition pattern).
    *
    * Scale: retrieval is the indexed two-stage chain; the greedy loop
    * runs on the COLLECTED pool — poolK-bounded (≤ 20 rows), the
    * k-bounded-collect discipline, with the pool's chunk vectors read
    * from the materialized index pruned by a keyed semi-join. Nothing
    * here grows with the corpus.
    */
  def ragContextMmr(docModel: Ivf.IvfModel, docEmb: DataFrame,
                    chunkModel: Ivf.IvfModel, chunkTexts: DataFrame,
                    queryVecId: Long, coarseK: Int, poolK: Int,
                    selectK: Int, tokenBudget: Long,
                    nprobeDoc: Int = 4, nprobeChunk: Int = 4,
                    lambdaRel: Double = 0.7,
                    lambdaDiv: Double = 0.3): DataFrame = {
    val spark = docEmb.sparkSession
    import spark.implicits._
    val pool = topKTwoStageIvf(docModel, docEmb, chunkModel, queryVecId,
      coarseK, poolK, nprobeDoc, nprobeChunk)
    val vecs = CodesIndex.liveRows(spark, chunkModel, None)
      .select(col("vec_id"), col("embedding"))
    val rows = pool.join(vecs, Seq("vec_id"))
      .select("vec_id", "parent_id", "cosine", "embedding")
      .collect() // ≤ poolK rows — the k-bounded collect discipline
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getSeq[Float](3).map(_.toDouble).toArray))
    val selDf = mmrSelect(rows.toSeq, selectK, lambdaRel, lambdaDiv)
      .toDF("rn", "vec_id", "parent_id", "cosine")
    val p2 = selDf.join(chunkTexts, "vec_id")
      .withColumn("n_tokens",
        size(split(col("chunk_text"), " ")).cast("long"))
    val others = p2.select(col("rn").as("o_rn"), col("n_tokens").as("o_nt"))
    p2.join(broadcast(others), col("o_rn") <= col("rn"))
      .groupBy("rn", "vec_id", "parent_id", "cosine", "n_tokens", "chunk_text")
      .agg(sum("o_nt").as("cum_tokens"))
      .filter(col("cum_tokens") <= tokenBudget)
      .select(col("rn").cast("long").as("rn"), col("vec_id"),
        col("parent_id"), col("cosine"), col("n_tokens"),
        col("cum_tokens"), col("chunk_text"))
      .orderBy("rn")
  }

  /** The MMR greedy selection shared by the single and set forms: rows
    * are (vec_id, parent_id, cosine, embedding); returns (rn = selection
    * order, vec_id, parent_id, cosine) for the top `selectK` picks.
    * rel is the probe cosine (NULL → −2), sim the exact-integer-count
    * cosine with zero-norm pairs pinned to 0, argmax ties break toward
    * the smaller vec_id — the documented MMR law.
    */
  private def mmrSelect(rows: Seq[(Long, Long, Option[Double], Array[Double])],
                        selectK: Int, lambdaRel: Double,
                        lambdaDiv: Double): Seq[(Int, Long, Long, Option[Double])] = {
    def rel2(p: (Long, Long, Option[Double], Array[Double])): Double =
      p._3.getOrElse(-2.0)
    // exact-integer cosine: counts are integer-valued doubles, so the
    // fixed-index-order sums are exact and match DuckDB's any-order SUM
    def sim(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Double], Array[Double])]
    val remaining = scala.collection.mutable.ArrayBuffer(rows.toIndexedSeq: _*)
    while (selected.length < math.min(selectK, rows.length)) {
      val pick = remaining.minBy { p =>
        val score =
          if (selected.isEmpty) rel2(p)
          else lambdaRel * rel2(p) -
            lambdaDiv * selected.iterator.map(s => sim(p._4, s._4)).max
        (-score, p._1)
      }
      selected += pick
      remaining -= pick
    }
    selected.toSeq.zipWithIndex
      .map { case ((vid, pid, cos, _), i) => (i + 1, vid, pid, cos) }
  }

  /** SET-oriented [[ragContextMmr]] — MMR-diversified context assembly
    * for every query in `queryIds` at once: ONE two-stage batch
    * retrieval ([[topKTwoStageIvfAll]]) fills all per-query pools, the
    * pools' chunk vectors read from the materialized index in one keyed
    * semi-join, and the greedy selection runs per query over the
    * COLLECTED pools (≤ |queries| × poolK rows — the k-bounded-collect
    * discipline, one driver round-trip for the whole set). Packing is
    * the query-keyed running-sum window in SELECTION order. Per-query
    * rows equal [[ragContextMmr]]'s bit-for-bit (SimilaritySpec).
    */
  def ragContextMmrAll(docModel: Ivf.IvfModel, docEmb: DataFrame,
                       chunkModel: Ivf.IvfModel, chunkTexts: DataFrame,
                       queryIds: DataFrame, coarseK: Int, poolK: Int,
                       selectK: Int, tokenBudget: Long,
                       nprobeDoc: Int = 4, nprobeChunk: Int = 4,
                       lambdaRel: Double = 0.7,
                       lambdaDiv: Double = 0.3): DataFrame = {
    val spark = docEmb.sparkSession
    import spark.implicits._
    val pool = topKTwoStageIvfAll(docModel, chunkModel,
      docEmb.join(queryIds.select(col("query_id").as("vec_id")),
        Seq("vec_id"), "left_semi"),
      coarseK, poolK, nprobeDoc, nprobeChunk)
    val vecs = CodesIndex.liveRows(spark, chunkModel, None)
      .select(col("vec_id"), col("embedding"))
    val rows = pool.join(vecs, Seq("vec_id"))
      .select("query_id", "vec_id", "parent_id", "cosine", "embedding")
      .collect() // ≤ |queries| × poolK rows — k-bounded per query
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getSeq[Float](4).map(_.toDouble).toArray)))
    val selDf = rows.groupBy(_._1).toSeq.flatMap { case (qid, qrows) =>
      mmrSelect(qrows.map(_._2).toSeq, selectK, lambdaRel, lambdaDiv)
        .map { case (rn, vid, pid, cos) => (qid, rn, vid, pid, cos) }
    }.toDF("query_id", "rn", "vec_id", "parent_id", "cosine")
    // query-keyed packing in SELECTION order: cum_tokens sums the
    // selected-and-texted rows with rn ≤ current (the single form's
    // broadcast-self-join law, spelled as a keyed window)
    val w = Window.partitionBy("query_id").orderBy("rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    selDf.join(chunkTexts, "vec_id")
      .withColumn("n_tokens",
        size(split(col("chunk_text"), " ")).cast("long"))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= tokenBudget)
      .select(col("query_id"), col("rn").cast("long").as("rn"),
        col("vec_id"), col("parent_id"), col("cosine"), col("n_tokens"),
        col("cum_tokens"), col("chunk_text"))
  }

  /** 1-based rank over a K-BOUNDED pool by (score desc NULLS LAST, id) —
    * the broadcast self-join spelling of row_number for pools too small
    * to justify a shuffle and too global for a keyed window (a
    * partitionless window is the banned single-task plan shape; this is
    * ≤ |pool|² pairs of a tiny table). NULL scores rank last, ties break
    * toward the smaller id — the repo's ranking law.
    */
  private[operators] def rankBounded(pool: DataFrame, score: String,
                                     id: String, rnName: String): DataFrame = {
    val s = coalesce(col(score).cast("double"), lit(Double.MinValue))
    val others = pool.select(col(id).as("__oid"),
      coalesce(col(score).cast("double"), lit(Double.MinValue)).as("__os"))
    val better = col("__os") > s ||
      (col("__os") === s && col("__oid") < col(id))
    pool.join(broadcast(others), better, "left")
      .groupBy(pool.columns.toSeq.map(col): _*)
      .agg((count(col("__oid")) + 1L).cast("int").as(rnName))
  }

  /** The shared packing engine behind [[ragContext]]/[[ragContextIvf]]:
    * any ranked (vec_id, parent_id, cosine) pool joins its chunk texts
    * and packs greedily in rank order under `tokenBudget`.
    */
  def ragContextFrom(rankedPool: DataFrame, chunkTexts: DataFrame,
                     tokenBudget: Long): DataFrame = {
    val pool = rankedPool
      .join(chunkTexts, "vec_id")
      .withColumn("n_tokens",
        size(split(col("chunk_text"), " ")).cast("long"))
      .withColumn("cos2", coalesce(col("cosine"), lit(-2.0)))
    val others = pool.select(col("vec_id").as("o_vec"),
      col("cos2").as("o_cos2"), col("n_tokens").as("o_nt"))
    val better = col("o_cos2") > col("cos2") ||
      (col("o_cos2") === col("cos2") && col("o_vec") < col("vec_id"))
    pool.join(broadcast(others), better, "left")
      .groupBy("vec_id", "parent_id", "cosine", "n_tokens", "chunk_text")
      .agg((count(col("o_vec")) + 1L).as("rn"),
        (coalesce(sum("o_nt"), lit(0L)) + col("n_tokens")).as("cum_tokens"))
      .filter(col("cum_tokens") <= tokenBudget)
      .select("rn", "vec_id", "parent_id", "cosine", "n_tokens",
        "cum_tokens", "chunk_text")
      .orderBy("rn")
  }

  /** FILTERED exact top-k — "nearest neighbors WHERE <predicate>", the
    * production retrieval shape (lang/source/date gates composed with
    * vector search). The predicate lands BEFORE the ranking, so it prunes
    * candidates instead of starving the top-k, and because it is a plain
    * Column on the corpus scan Catalyst pushes it into the parquet reader
    * (PushedFilters — asserted in PlansSpec-style SimilaritySpec) — at
    * 100 TB the filter skips row groups, not rows. The query vector is
    * resolved from the UNFILTERED corpus (the query need not satisfy its
    * own predicate).
    */
  def topKWhere(embeddings: DataFrame, queryVecId: Long, k: Int,
                where: Column): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    embeddings.filter(where)
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("cosine",
        nanvl(VectorOps.cosine(col("embedding"), col("q_emb")),
          lit(null).cast("double")))
      .orderBy(desc("cosine"), col("vec_id"))
      .select("vec_id", "cosine")
      .limit(k)
  }

  /** Exact kNN join: top-k neighbors for every query row (broadcast the
    * query set, window-rank per query). Query set must be driver-small;
    * for corpus×corpus kNN use the LSH path instead.
    */
  def knnJoin(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    embeddings.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VectorOps.cosine(col("embedding"), col("q_emb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "cosine", "rn")
  }

  /** [[knnJoin]] with the k-bounded [[graft.functions.TopK]] aggregate in
    * place of the window: identical output, but the shuffle carries at most
    * k rows per partition per query instead of every scored candidate —
    * the corpus-scale formulation (oracle-shared with knnJoin).
    */
  def knnJoinAgg(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    embeddings.select(col("vec_id").as("neighbor_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VectorOps.cosine(col("embedding"), col("q_emb")))
      .groupBy("query_id")
      .agg(graft.functions.TopK.topK(k)(
        col("neighbor_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        col("s.score").as("cosine"), (col("i") + 1).cast("int").as("rn"))
  }

  /** Per-label centroid of the embedding column, emitted EXPLODED as
    * (label, dim, value) rows with the mean rounded to 4 dp — scalar rows
    * so the result is hash-comparable cross-engine (array columns are
    * not). The shuffle carries (label, dim, partial-sum) triples with
    * map-side combine — the same linear layout as an IVF Lloyd step; one
    * row group per (label, dim), never a whole-corpus collect.
    *
    * Determinism: a plain `avg` over doubles is partition-order-dependent
    * (float addition isn't associative), so elements are first quantized
    * to 1e-6-scaled longs — integer sums are exact and order-free, and
    * the single double division afterwards is reproduced verbatim by the
    * oracle (the repo's decimal-routing rule, integer form).
    *
    * This is the class-centroid primitive: nearest-centroid classification,
    * per-domain mean vectors for corpus mixing, IVF seeding.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vq",
        floor(col("v").cast("double") * 1000000.0 + 0.5).cast("long"))
      .groupBy("label", "dim")
      .agg(sum("vq").as("s"), count(lit(1)).as("n_vectors"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        (floor(col("s").cast("double") / 1000000.0 / col("n_vectors")
          * 10000.0 + 0.5) / 10000.0).as("centroid_v"),
        col("n_vectors"))

  /** Per-label embedding diversity: the mean squared pairwise L2 distance
    * among a label's vectors, via the sufficient-statistics identity
    * E‖x−y‖² = 2·(E‖x‖² − ‖E x‖²) — the O(n) curation metric ("how
    * semantically varied is this source/cluster") that never materializes
    * a pair. Emits (label, n_vecs, diversity) with diversity on the 4-dp
    * grid; a single-vector label scores exactly 0.
    *
    * Determinism/scale: vectors quantize to the 1e-6 long grid; per-(label,
    * dim) Σvq and Σvq² accumulate as exact integers (Σvq² routed through
    * decimal so no corpus size can overflow it), one (label, dim) partial-
    * agg shuffle — the [[labelCentroids]] layout — then a label-sized
    * reduce. The only float ops are correctly-rounded functions of those
    * exact sums, so the DuckDB twin reproduces the metric bit-for-bit.
    */
  def labelDiversity(embeddings: DataFrame): DataFrame = {
    val q = embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("vq",
        floor(col("v").cast("double") * 1000000.0 + 0.5).cast("long"))
    val perDim = q.groupBy("label", "dim")
      .agg(sum("vq").as("sd"),
        sum((col("vq") * col("vq")).cast("decimal(38,0)")).as("sd2"),
        count(lit(1)).as("n"))
    perDim.groupBy("label")
      .agg(max("n").as("n"),
        sum(col("sd2")).as("s2"),
        sum((col("sd").cast("decimal(19,0)") * col("sd").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).as("ss"))
      .select(col("label"), col("n").as("n_vecs"),
        (floor((lit(2.0) * (col("s2").cast("double") / col("n")
          - col("ss").cast("double") / col("n") / col("n"))
          / 1000000000000.0) * 10000.0 + 0.5) / 10000.0).as("diversity"))
  }

  /** Nearest-centroid classification confusion matrix: every vector is
    * scored against each label centroid ([[labelCentroids]]' 4-dp values)
    * by norm-scaled dot product and assigned to the best label; output is
    * (label_true, label_pred, n_vectors).
    *
    * Determinism (the whole pipeline is cross-engine hash-stable):
    * per-element products are quantized to 1e-9-scaled longs before the
    * distributed sum (double sums are partition-order-dependent; integer
    * sums are exact), centroid norms come from the exact 1e-4 grid the
    * centroids live on, and the argmax breaks score ties by label. Scale:
    * the score join is (corpus dims) × labels with map-side combine —
    * linear in corpus × labels, no collect.
    */
  def nearestCentroidConfusion(embeddings: DataFrame,
                               scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // persist: the centroid table feeds both the score join and the norm
    // aggregation — without it the explode+agg centroid pass runs twice
    val cents = scope.persist(labelCentroids(embeddings)
      .select(col("label").as("label_pred"), col("dim"),
        col("centroid_v"),
        // centroid values are on the 1e-4 grid: recover the exact integer
        floor(col("centroid_v") * 10000.0 + 0.5).cast("long").as("cvq")))
    val norms = cents.groupBy("label_pred")
      .agg(sum(col("cvq") * col("cvq")).as("norm2q")) // exact long
    val vdims = embeddings.select(col("vec_id"), col("label").as("label_true"),
      posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("dim", col("dim").cast("long"))
    val scored = vdims.join(cents, "dim")
      .withColumn("pq", floor(col("v").cast("double") * col("centroid_v")
        * 1000000000.0 + 0.5).cast("long"))
      .groupBy("vec_id", "label_true", "label_pred")
      .agg(sum("pq").as("sq"))
      .join(norms, "label_pred")
      .withColumn("score",
        col("sq").cast("double") / sqrt(col("norm2q").cast("double")))
    val w = Window.partitionBy("vec_id")
      .orderBy(desc("score"), col("label_pred"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("label_true", "label_pred")
      .agg(count(lit(1)).as("n_vectors"))
  }

  // ---- Random projection (Johnson–Lindenstrauss, the storage path) ----

  /** Deterministic ±1 projection matrix (outDim × dim), fixed seed — the
    * sparse-sign JL transform (Achlioptas 2003): E[⟨Px, Py⟩] ∝ ⟨x, y⟩ with
    * distortion bounded by outDim, no Gaussians needed. Same discipline as
    * [[planes]]: the constants inline into the DuckDB twin.
    */
  private[graft] def rpSigns(outDim: Int, seed: Long = 11L): Array[Array[Int]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(outDim, dim)(if (rnd.nextBoolean()) 1 else -1)
  }

  /** EXACT-integer dimensionality reduction — the op that cuts vector
    * storage 4× (64 float32 = 256 B → 16 int32 = 64 B) BEFORE indexing, at
    * 100 TB the cheapest lever on every downstream ANN/dedup cost:
    * out_d = Σ_j sign_dj · vq_j over the 1e-6 grid (vq = floor(v·1e6+0.5))
    * — integer sums, so the projection is partition-order-free, byte-stable
    * across sessions and replayed bit-for-bit by the oracle. |out_d| ≤
    * dim·|vq|max ≈ 1.3e8, 16× inside int32 (the narrowing is CHECKED —
    * a vector outside the unit-ish scale contract raises, never wraps),
    * and dot products are computed in long (16·(1.3e8)² < 2^62).
    */
  def randomProject(vectors: DataFrame, outDim: Int = 16): DataFrame = {
    val signs = rpSigns(outDim)
    val vq = transform(col("embedding"), x =>
      floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
    val proj = array((0 until outDim).map { d =>
      aggregate(
        zip_with(vq, array(signs(d).toIndexedSeq.map(s => lit(s.toLong)): _*),
          (q, s) => q * s),
        lit(0L), (acc, x) => acc + x)
    }: _*)
    // checked narrowing to the storage dtype: int32 is the whole point of
    // the op (4× vs float32), and wrapping silently would corrupt rankings
    val narrowed = transform(proj, x =>
      when(abs(x) > lit(Int.MaxValue.toLong),
        raise_error(concat(lit("rp projection overflows int32: "), x.cast("string"))))
        .otherwise(x).cast("int"))
    vectors.select(col("vec_id"), narrowed.as("proj"))
  }

  /** JL-prefiltered top-k: rank ALL vectors by the exact-integer projected
    * dot product (16 int32 per vector instead of 64 float32 — the scan is
    * 1/4 the bytes and the arithmetic 1/4 the multiplies), take the top
    * `rerank`, exact-cosine re-rank just those. Two knobs: `outDim`
    * (distortion ∝ 1/√outDim) and `rerank` — at 64→16 dims the projected
    * ranking is a coarse sieve, so the rerank budget carries the recall
    * (measured on the fixture: rerank 50 → 0.2 recall@10, rerank 200 →
    * 1.0; 200 exact re-ranks is still ~nothing against a corpus scan,
    * which is the whole trade).
    */
  def topKRp(embeddings: DataFrame, queryVecId: Long, k: Int,
             outDim: Int = 16, rerank: Int = 200): DataFrame = {
    val projAll = randomProject(embeddings, outDim)
    val qProj = projAll.filter(col("vec_id") === queryVecId)
      .select(col("proj").as("q_proj"))
    val cand = projAll.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qProj))
      .withColumn("score",
        aggregate(zip_with(col("proj"), col("q_proj"),
          (a, b) => a.cast("long") * b),
          lit(0L), (a, x) => a + x))
      .orderBy(desc("score"), col("vec_id"))
      .select("vec_id")
      .limit(rerank)
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    cand.join(embeddings.select("vec_id", "embedding"), "vec_id")
      .crossJoin(broadcast(q))
      .withColumn("cosine", VectorOps.cosine(col("embedding"), col("q_emb")))
      .orderBy(desc("cosine"), col("vec_id"))
      .select("vec_id", "cosine")
      .limit(k)
  }

  // ---- Hyperplane LSH (approximate, the scale path) ----

  /** Deterministic pseudo-random hyperplanes: `tables × bits` planes of
    * `dim` doubles, fixed seed so buckets are stable across sessions (and
    * reproducible in the DuckDB oracle, which inlines these constants —
    * SimilarityQueries.bucketSql).
    */
  private[graft] def planes(tables: Int, bits: Int, seed: Long = 7L): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables, bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def planeCol(p: Array[Double]): Column =
    array(p.toIndexedSeq.map(lit(_)): _*)

  /** Bucket id of a vector in one table: sign bits of `bits` projections. */
  private def bucketId(v: Column, tablePlanes: Array[Array[Double]]): Column =
    tablePlanes.zipWithIndex.map { case (p, i) =>
      when(VectorOps.dot(v, planeCol(p)) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (vec_id, table, bucket) rows: `tables` rows per vector. This is the
    * one-off linear indexing pass; the shuffle key (table, bucket) is what
    * replaces the quadratic scan at scale.
    */
  def lshIndex(embeddings: DataFrame, tables: Int = 8, bits: Int = 4): DataFrame = {
    // the posexplode output would silently collide with (or be shadowed
    // by) same-named input columns — reject loudly
    require(!embeddings.columns.contains("table") &&
      !embeddings.columns.contains("bucket"),
      "lshIndex: input already has a 'table'/'bucket' column — rename it " +
        "before indexing")
    val ps = planes(tables, bits)
    val buckets = array((0 until tables).map(l =>
      bucketId(col("embedding"), ps(l))): _*)
    // keeps ALL input columns (label etc.) so bucket-join consumers can
    // filter on metadata without a re-join; callers prune what they need
    // BEFORE indexing — every column kept here rides the (table, bucket)
    // shuffle `tables` times (knnJoinLsh prunes to vec_id+embedding, the
    // miners to vec_id+embedding+label)
    embeddings.select(col("*"),
      posexplode(buckets).as(Seq("table", "bucket")))
  }

  /** Corpus×corpus approximate kNN — top-k neighbors for EVERY vector.
    * The brute-force all-pairs is O(n²) in compute and shuffle; this is
    * the linear-cost layout: bucket every vector once per LSH table
    * (`tables` rows each), self-join on (table, bucket) to get candidate
    * pairs, dedupe, exact re-rank, then the k-bounded TopK aggregate.
    * Shuffle cost ∼ Σ bucket², governed by (tables, bits) — at scale,
    * raise `bits` to keep buckets small and `tables` to keep recall.
    * Recall vs the exact kNN join is asserted in SimilaritySpec.
    */
  def knnJoinLsh(embeddings: DataFrame, k: Int,
                 tables: Int = 8, bits: Int = 4): DataFrame = {
    // FUSED form: embeddings ride the bucket self-join, cosine is computed
    // where the pair is discovered, and the k-bounded TopKDistinct
    // aggregate collapses cross-table duplicates inside its buffer. The
    // previous shape (id-only index → pairs.distinct() → two embedding
    // re-join shuffles → TopK) shuffled every CANDIDATE PAIR twice carrying
    // two 64-float vectors — the decade probe read 4.3 s → 303 s/decade on
    // the re-rank alone (23 M pairs × ~600 B, spilled past 75 GB). Fused,
    // the only heavy exchange is the index itself (n × tables rows, one
    // vector each); everything after the join is arithmetic plus a ≤ k
    // rows/partition/group combine — per-unit cost is tables × expected
    // bucket width, the law autoBits/autoTables hold flat.
    // pair generation: bucket self-join, not collect_list+pair-explode —
    // the explode variant (Dedup.lshCandidatePairs shape) was measured
    // equal-or-slower here (interpreted nested transforms offset the saved
    // shuffle), and the join keeps pairs streaming instead of buffering
    // per-bucket arrays. No persist: both sides re-scan the source once
    // (the projection is tables × bits dot products per row, cheaper than
    // caching tables× copies of every vector).
    // explicit repartition on the join key: a small corpus (one scan
    // partition) would otherwise broadcast the self-join and leave ALL
    // downstream cosine/aggregate work in a single task — measured 177 s
    // vs 16 s on a 5 MB input. This exchange IS the index shuffle the
    // cost law prices; on a large corpus it's what the join needs anyway.
    // prune to the two columns the join consumes: anything else (label,
    // metadata, wide text) would ride the index shuffle tables× per row
    val idx = lshIndex(embeddings.select(col("vec_id"), col("embedding")),
        tables, bits)
      .repartition(col("table"), col("bucket"))
    idx.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("table"), col("bucket"))
      .join(idx.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("n_emb"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.cosine(col("q_emb"), col("n_emb")).as("cosine"))
      .groupBy("query_id")
      .agg(graft.functions.TopK.topKDistinct(k)(col("neighbor_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("query_id"), col("s.id").as("neighbor_id"),
        col("s.score").as("cosine"), (col("i") + 1).cast("int").as("rn"))
  }

  /** Knob-free [[knnJoinLsh]]: both LSH knobs sized from one metadata-cost
    * `count()` — `bits = autoBits(n)` holds expected bucket width (so
    * per-vector join cost) constant as the corpus grows, and `tables =
    * autoTables(thetaFrac, bits, targetRecall)` re-raises the OR-table
    * count so the recall the planner curve prices survives the width
    * growth. The residual per-unit growth is the planner's own tables
    * factor (LSH theory's n^ρ — ~1.2–1.4×/decade at near-dup angles), not
    * a plan pathology; `thetaFrac` defaults to the near-dup regime
    * (θ/π ≈ 0.15 ⟺ cosine ≈ 0.9), the angle a dedup/similarity corpus
    * join actually targets.
    */
  def knnJoinLshAuto(embeddings: DataFrame, k: Int,
                     thetaFrac: Double = 0.15,
                     targetRecall: Double = 0.9): DataFrame = {
    val n = embeddings.count()
    val bits = autoBits(n)
    knnJoinLsh(embeddings, k, autoTables(thetaFrac, bits, targetRecall), bits)
  }

  /** Contrastive hard-negative mining, exact ground-truth form — for every
    * anchor, the k OTHER-label vectors closest in cosine below a near-dup
    * ceiling: similar enough to be hard (that's the top-k), not so similar
    * they're mislabeled duplicates (`cosine < ceil`), different label (the
    * supervision signal). The (anchor, negative, score) triple an
    * embedding-model training loop consumes. All-pairs by construction —
    * the DECLARED oracle anchor, same contract as `dedup_embedding`;
    * [[hardNegativesLsh]] is the bucketed production sibling.
    */
  def hardNegatives(embeddings: DataFrame, k: Int,
                    ceil: Double = 0.95): DataFrame = {
    val a = embeddings.select(col("vec_id").as("anchor_id"),
      col("embedding").as("a_emb"), col("label").as("a_label"))
    val b = embeddings.select(col("vec_id").as("neg_id"),
      col("embedding").as("n_emb"), col("label").as("n_label"))
    a.join(b, col("a_label") =!= col("n_label"))
      .select(col("anchor_id"), col("neg_id"),
        VectorOps.cosine(col("a_emb"), col("n_emb")).as("cosine"))
      .filter(col("cosine") < ceil)
      .groupBy("anchor_id")
      .agg(graft.functions.TopK.topK(k)(col("neg_id"), col("cosine")).as("top"))
      .select(col("anchor_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("anchor_id"), col("s.id").as("neg_id"),
        col("s.score").as("cosine"), (col("i") + 1).cast("int").as("rn"))
  }

  /** [[hardNegatives]] through LSH buckets — the linear-cost layout: the
    * label-inequality and near-dup-ceiling gates run INSIDE the fused
    * bucket self-join (same shape as [[knnJoinLsh]], same fused-kernel
    * rationale), so only candidate pairs that could be hard negatives
    * reach the k-bounded TopKDistinct combine. Approximate exactly like
    * the kNN join: a negative missed by every table is missed — recall is
    * governed by the same (tables, bits) knobs and planner curve.
    */
  def hardNegativesLsh(embeddings: DataFrame, k: Int, ceil: Double = 0.95,
                       tables: Int = 8, bits: Int = 4): DataFrame = {
    // prune before indexing: the gates need label, nothing else
    val idx = lshIndex(
        embeddings.select(col("vec_id"), col("embedding"), col("label")),
        tables, bits)
      .repartition(col("table"), col("bucket"))
    idx.select(col("vec_id").as("anchor_id"), col("embedding").as("a_emb"),
        col("label").as("a_label"), col("table"), col("bucket"))
      .join(idx.select(col("vec_id").as("neg_id"),
          col("embedding").as("n_emb"), col("label").as("n_label"),
          col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("a_label") =!= col("n_label"))
      .select(col("anchor_id"), col("neg_id"),
        VectorOps.cosine(col("a_emb"), col("n_emb")).as("cosine"))
      .filter(col("cosine") < ceil)
      .groupBy("anchor_id")
      .agg(graft.functions.TopK.topKDistinct(k)(col("neg_id"), col("cosine")).as("top"))
      .select(col("anchor_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("anchor_id"), col("s.id").as("neg_id"),
        col("s.score").as("cosine"), (col("i") + 1).cast("int").as("rn"))
  }

  /** Full contrastive training triple — (anchor, positive, k hard
    * negatives): the positive is the single closest SAME-label vector
    * (self excluded, TopK tie law), the negatives are [[hardNegatives]]'s
    * other-label top-k under the near-dup ceiling. One row per
    * (anchor, negative) with the positive replicated — the flat layout a
    * triplet/InfoNCE loss consumes directly. Exact all-pairs DECLARED
    * anchor; [[contrastiveTriplesLsh]] is the bucketed sibling.
    */
  def contrastiveTriples(embeddings: DataFrame, k: Int,
                         ceil: Double = 0.95): DataFrame = {
    val a = embeddings.select(col("vec_id").as("anchor_id"),
      col("embedding").as("a_emb"), col("label").as("a_label"))
    val p = embeddings.select(col("vec_id").as("pos_id"),
      col("embedding").as("p_emb"), col("label").as("p_label"))
    val pos = a.join(p, col("a_label") === col("p_label") &&
        col("anchor_id") =!= col("pos_id"))
      .select(col("anchor_id"), col("pos_id"),
        VectorOps.cosine(col("a_emb"), col("p_emb")).as("pc"))
      .groupBy("anchor_id")
      .agg(graft.functions.TopK.topK(1)(col("pos_id"), col("pc")).as("top"))
      .select(col("anchor_id"), element_at(col("top"), 1).as("s"))
      .select(col("anchor_id"), col("s.id").as("pos_id"),
        col("s.score").as("pos_cosine"))
    pos.join(hardNegatives(embeddings, k, ceil)
        .withColumnRenamed("cosine", "neg_cosine"), "anchor_id")
  }

  /** [[contrastiveTriples]] through LSH buckets — both the positive and
    * the negatives are mined from shared-bucket candidates only (positive:
    * top-1 same-label co-bucketed vector; negatives:
    * [[hardNegativesLsh]]), so the whole triple build is
    * bucket-join-linear. An anchor whose positive shares no bucket in any
    * table drops out — the usual LSH recall trade, governed by the same
    * (tables, bits) knobs.
    */
  def contrastiveTriplesLsh(embeddings: DataFrame, k: Int,
                            ceil: Double = 0.95, tables: Int = 8,
                            bits: Int = 4,
                            scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // prune before indexing (see knnJoinLsh): only the mining columns ride.
    // ONE bucket self-join feeds BOTH mining branches: the positive (top-1
    // same-label) and the negatives (top-k other-label under the ceiling)
    // read the same co-bucketed pair table — the previous form indexed the
    // corpus twice and ran the Σ|bucket|² self-join (with its per-pair
    // cosine) twice, once here and once inside hardNegativesLsh (measured
    // 4.1 s at sf0.1, the join being the dominant stage). The persisted
    // pair table carries ids, labels and the cosine — never embeddings.
    val idx = lshIndex(
        embeddings.select(col("vec_id"), col("embedding"), col("label")),
        tables, bits)
      .repartition(col("table"), col("bucket"))
    val pairs = scope.persist(idx.select(col("vec_id").as("anchor_id"),
        col("embedding").as("a_emb"), col("label").as("a_label"),
        col("table"), col("bucket"))
      .join(idx.select(col("vec_id").as("other_id"),
          col("embedding").as("o_emb"), col("label").as("o_label"),
          col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("anchor_id") =!= col("other_id"))
      .select(col("anchor_id"), col("other_id"), col("a_label"),
        col("o_label"),
        VectorOps.cosine(col("a_emb"), col("o_emb")).as("cosine")))
    val pos = pairs
      .filter(col("a_label") === col("o_label"))
      .groupBy("anchor_id")
      .agg(graft.functions.TopK.topKDistinct(1)(col("other_id"), col("cosine")).as("top"))
      .select(col("anchor_id"), element_at(col("top"), 1).as("s"))
      .select(col("anchor_id"), col("s.id").as("pos_id"),
        col("s.score").as("pos_cosine"))
    val neg = pairs
      .filter(col("a_label") =!= col("o_label") && col("cosine") < ceil)
      .groupBy("anchor_id")
      .agg(graft.functions.TopK.topKDistinct(k)(col("other_id"), col("cosine")).as("top"))
      .select(col("anchor_id"), posexplode(col("top")).as(Seq("i", "s")))
      .select(col("anchor_id"), col("s.id").as("neg_id"),
        col("s.score").as("neg_cosine"), (col("i") + 1).cast("int").as("rn"))
    pos.join(neg, "anchor_id")
  }

  /** Approximate top-k via LSH: probe the query's bucket in each table,
    * union candidates, exact re-rank. Recall depends on (tables, bits);
    * verified against [[topK]] in the spec.
    */
  def annTopKLsh(embeddings: DataFrame, queryVecId: Long, k: Int,
                 tables: Int = 8, bits: Int = 4,
                 scope: graft.CacheScope = graft.CacheScope.global): DataFrame = {
    // persist: the index feeds the query-bucket lookup AND the candidate
    // join — unpersisted, the whole projection pass runs twice. Persist
    // ONLY (vec_id, table, bucket): caching the embedding-bearing rows
    // would hold tables× copies of every vector; the candidate set re-joins
    // `embeddings` for the re-rank instead (same contract as knnJoinLsh).
    val idx = scope.persist(
      lshIndex(embeddings, tables, bits).select("vec_id", "table", "bucket"))
    val qBuckets = idx.filter(col("vec_id") === queryVecId)
      .select(col("table"), col("bucket"))
    val candidates = idx.join(broadcast(qBuckets), Seq("table", "bucket"))
      .filter(col("vec_id") =!= queryVecId)
      .select("vec_id").distinct()
      .join(embeddings.select("vec_id", "embedding"), "vec_id")
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb"))
    candidates.crossJoin(broadcast(q))
      .withColumn("cosine", VectorOps.cosine(col("embedding"), col("q_emb")))
      .orderBy(desc("cosine"), col("vec_id"))
      .select("vec_id", "cosine")
      .limit(k)
  }

  /** Embedding-corpus hygiene report — the ingest gate every vector
    * pipeline needs before an index build: one row counting NULL vectors,
    * wrong-dimension vectors, vectors containing NaN/±Inf, all-zero
    * vectors (cosine is undefined on them — they poison normalization),
    * and clean rows. Classification precedence: null → wrong_dim →
    * nonfinite → zero_norm → ok, so the counts partition n.
    *
    * Every predicate is exact (size compare, IEEE NaN/Inf tests,
    * `max |x| = 0` ⟺ all-zero — no float summation anywhere), so the
    * report hash-compares cross-engine. One linear aggregation, no
    * shuffle beyond the single-row combine.
    */
  /** Hash width for a corpus of `n` vectors: ceil(log₂(n / targetBucket))
    * clamped to [minBits, 16] — the growing-corpus rule the
    * [[lshPlanHyperplane]] curve prices. At FIXED width the bucket
    * self-join is Σ|bucket|² with |bucket| ≈ n/2^bits: quadratic in corpus
    * size (measured: ann_knn_lsh_all 49 s at the sf1 fixture with bits=4
    * pinned). Width growing with log n holds expected bucket size — and
    * therefore join cost per vector AND per-pair collision probability —
    * constant as the corpus scales; hold overall recall by raising
    * `tables` per the planner curve.
    */
  def autoBits(n: Long, targetBucket: Double = 64.0, minBits: Int = 4): Int = {
    require(targetBucket > 0, "targetBucket must be > 0")
    val need = math.ceil(math.log(math.max(1.0, n / targetBucket)) / math.log(2.0)).toInt
    math.min(16, math.max(minBits, need))
  }

  /** [[autoBits]]'s IVF sibling: centroid count that holds the TARGET LIST
    * WIDTH constant as the corpus grows — nlist = ⌈n / targetList⌉,
    * clamped. At a fixed nlist every per-list cost drifts linearly with
    * the corpus: a probe scans nprobe·(n/nlist) rows and SemDeDup's
    * within-list pair join is Σ|list|² = n²/nlist (the decade probe
    * measured that drift at 3.6×/10× corpus on nlist=16). Holding width
    * at `targetList` makes the probe scan nprobe·targetList rows and the
    * SemDeDup join n·targetList pairs — both FLAT per unit (re-measured
    * flat in the same probe).
    *
    * The price is quantizer size: the centroid table is collected and
    * broadcast (nlist × dim values), so nlist cannot grow unbounded —
    * `maxNlist` (default 65 536 ≈ 32 MB at dim 64 — still
    * broadcast-small) caps it, and the scaladoc'd move past the cap at
    * 10⁹+ vectors is raising targetList or sharding the coarse quantizer
    * (a two-level IVF), not an unbounded driver collect. Pure integer
    * driver math, mirrored 1:1 by the `ann_nlist_plan` oracle.
    */
  def autoNlist(n: Long, targetList: Long = 2048L, minNlist: Int = 8,
                maxNlist: Int = 65536): Int = {
    require(targetList > 0, "targetList must be > 0")
    val need = ((n + targetList - 1) / targetList).toInt
    math.min(maxNlist, math.max(minNlist, need))
  }

  /** [[autoNlist]] continued past the broadcast cap: (nShards,
    * nlistPerShard) such that nShards × nlistPerShard ≥ the unclamped
    * centroid need while every per-shard quantizer stays ≤ maxNlist — the
    * sizing law for [[Ivf.buildShardedIndex]]. Below the cap this is
    * (1, autoNlist(n)), so existing single-quantizer plans are the
    * degenerate case; above it, list width stays at `targetList` through
    * any corpus decade (at 10¹¹: 746 shards × 65 454 lists, width 2048)
    * instead of re-growing as it did under the clamp. Pure integer driver
    * math, mirrored by the `ann_nlist_plan` twin.
    */
  def autoShardPlan(n: Long, targetList: Long = 2048L, minNlist: Int = 8,
                    maxNlist: Int = 65536): (Int, Int) = {
    require(targetList > 0, "targetList must be > 0")
    val need = math.max(minNlist.toLong, (n + targetList - 1) / targetList)
    val shards = ((need + maxNlist - 1) / maxNlist).toInt
    val perShard = ((need + shards - 1) / shards).toInt
    (shards, perShard)
  }

  /** The planner curve's closed-form inverse: OR-tables needed to hit
    * `targetRecall` for pairs at angle fraction `thetaFrac` = θ/π under
    * `bits`-wide tables — T = ⌈ln(1 − target) / ln(1 − p1^bits)⌉ with
    * p1 = 1 − θ/π. Pair with [[autoBits]]: width holds bucket cost
    * constant as the corpus grows, this holds recall as width grows
    * (driver-side math; the curve itself is the oracled
    * [[lshPlanHyperplane]]).
    */
  def autoTables(thetaFrac: Double, bits: Int, targetRecall: Double = 0.95,
                 maxTables: Int = 64): Int = {
    require(thetaFrac > 0 && thetaFrac < 1, "thetaFrac must be in (0, 1)")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall must be in (0, 1)")
    val p1 = 1.0 - thetaFrac
    val pTable = math.pow(p1, bits.toDouble)
    if (pTable >= 1.0) 1
    else math.min(maxTables,
      math.max(1, math.ceil(math.log(1.0 - targetRecall)
        / math.log(1.0 - pTable)).toInt))
  }

  /** Hyperplane-LSH banding planner — the [[Dedup.lshPlan]] twin for the
    * ANN side: the closed-form detection-probability curve for a
    * (tables, bits) configuration, the table read BEFORE tuning
    * [[annTopKLsh]]/[[knnJoinLsh]] (a timing run measures the cost knob;
    * this is the recall knob). For vectors at angle θ, one random
    * hyperplane separates them with probability θ/π (Goemans–Williamson),
    * so a b-bit table collides with p1^b where p1 = 1 − θ/π, and any of T
    * OR-ed tables fires with P = 1 − (1 − p1^b)^T.
    *
    * DETERMINISM — the curve is parameterized by θ/π ∈ {0.05 … 0.95}
    * directly, so the probability math is pure pinned IEEE arithmetic
    * (left-associative multiplication chains, never `pow`, and NO arccos
    * — transcendentals round engine-dependently). The cosine similarity
    * label per angle is computed ONCE driver-side and inlined as the SAME
    * 4-dp literal into both engines (the hyperplane-constant discipline
    * of the bucketSql twin).
    */
  def lshPlanHyperplane(spark: org.apache.spark.sql.SparkSession,
                        tables: Int = 8, bits: Int = 4): DataFrame = {
    require(tables > 0 && bits > 0, "tables and bits must be > 0")
    import spark.implicits._
    val cosDf = Similarity.cos4dpByTwentieth
      .toSeq.toDF("i", "cos_s_4dp")
    val t = col("i").cast("double") / 20.0
    val p1 = lit(1.0) - t
    val pb = (1 to bits).foldLeft(lit(1.0))((acc, _) => acc * p1)
    val q = (1 to tables).foldLeft(lit(1.0))((acc, _) => acc * (lit(1.0) - pb))
    cosDf.select(col("i"), t.as("theta_frac"), col("cos_s_4dp"),
      (floor((lit(1.0) - q) * 1000000.0 + 0.5) / 1000000.0)
        .as("p_detect_6dp"))
      .orderBy("i")
  }

  /** cos(π·i/20) on the 4-dp grid for i ∈ 1..19 — the shared similarity
    * labels for [[lshPlanHyperplane]] and its SQL twin (both inline these
    * exact doubles, so the column is literal-equal by construction).
    */
  private[graft] val cos4dpByTwentieth: IndexedSeq[(Int, Double)] =
    (1 until 20).map { i =>
      (i, math.floor(math.cos(math.Pi * (i.toDouble / 20.0)) * 10000.0 + 0.5)
        / 10000.0)
    }

  def embeddingHealth(embeddings: DataFrame, expectedDim: Int): DataFrame = {
    val v = col("embedding")
    val nonfinite = exists(v, x =>
      isnan(x) || abs(x) === lit(Float.PositiveInfinity))
    val cls = when(v.isNull, "null")
      .when(size(v) =!= expectedDim, "wrong_dim")
      .when(nonfinite, "nonfinite")
      .when(array_max(transform(v, abs(_))) === 0.0f, "zero_norm")
      .otherwise("ok")
    embeddings.select(cls.as("cls"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cls") === "null", 1L).otherwise(0L)).as("n_null"),
        sum(when(col("cls") === "wrong_dim", 1L).otherwise(0L)).as("n_wrong_dim"),
        sum(when(col("cls") === "nonfinite", 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(col("cls") === "zero_norm", 1L).otherwise(0L)).as("n_zero_norm"),
        sum(when(col("cls") === "ok", 1L).otherwise(0L)).as("n_ok"))
  }
}
