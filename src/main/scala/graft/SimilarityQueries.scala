package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import DedupQueries.dotSql

/** Similarity-search queries over `embeddings` with DuckDB oracles for the
  * exact paths; the LSH path is probabilistic and covered by a recall spec.
  */
object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact top-10 cosine neighbors of vec_id 0.
    "ann_topk" -> ((s, dir) =>
      Similarity.topK(Tables.embeddings(s, dir), 0L, 10)),

    // SELF-FED retrieval: the corpus embeds ITSELF (Embed.hashedTf over
    // documents — no fixture vectors anywhere) and exact top-10 cosine runs
    // over the generated vectors. Integer-valued counts make every dot and
    // norm exact in double, so the twin can SUM over the sparse (doc,
    // bucket) table instead of replaying 64-term chains. Since round 10
    // the corpus side reads the MATERIALIZED embedding store (embed once,
    // retrieve many — identical values, so the compute twin is unchanged;
    // text_embed remains the embedder's own gate).
    "ann_topk_embed" -> ((s, dir) =>
      Similarity.topK(
        operators.Embed.materializedHashedTf(dir + "#embstore",
          Tables.documents(s, dir)), 0L, 10)),

    // CHUNK-level retrieval — the RAG shape: documents chunk into
    // 64-token/8-overlap windows (the cur_pack chunking law), every chunk
    // embeds independently (key = doc·2²⁰ + chunk_no, loudly guarded — a
    // 2²⁰ cap admits book-length documents the old 1024 cap refused), and
    // retrieval runs at chunk granularity — "find the passage", not "find
    // the document". Since round 10 the retrieval leg is SERVED THROUGH
    // THE MATERIALIZED CHUNK INDEX (chunk → embed → one memoized IVF
    // build), not a brute-force scan: this query probes it EXHAUSTIVELY,
    // so the twin (chunking + embedding + sparse-exact cosine — no index
    // replay) proves the build/probe machinery content-preserving at
    // chunk granularity, the ann_rebalance shared-oracle trick. The
    // pruned production probe is ann_topk_chunks_ivf.
    "ann_topk_chunks" -> ((s, dir) => {
      val (model, emb) = chunkIndex(s, dir)
      operators.Ivf.probe(model, emb, 0L, 10,
        nprobe = model.coarse.get.centroids.length)
    }),

    // The PRUNED chunk-index probe — the plan that survives 100× scale:
    // chunking multiplies vector cardinality ~8–16×, so the chunk table
    // needs nprobe/nlist pruning more than the doc table does. Twin
    // replays the ENTIRE pipeline over the chunk corpus — chunking,
    // hashed-TF embedding, md5-seeded integer-grid Lloyd, quantized-score
    // probe selection (4 of 16 lists), pruned candidates, sparse-exact
    // re-rank.
    "ann_topk_chunks_ivf" -> ((s, dir) => {
      val (model, emb) = chunkIndex(s, dir)
      operators.Ivf.probe(model, emb, 0L, 10, nprobe = 4)
    }),

    // TWO-STAGE coarse-to-fine retrieval — the hierarchical RAG serving
    // pattern: doc-level cosine picks the top-20 documents (coarse), then
    // only THEIR chunks are ranked (fine) — the two prunings compose with
    // whatever index serves each stage. Twin replays both stages over the
    // doc-level and chunk-level embed chains.
    "ann_topk_twostage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val chunkEmb = operators.CorpusIndex.materializedChunkEmbeddings(
        dir + "#chunkstore", docs)
      Similarity.topKTwoStage(docEmb, chunkEmb, 0L, coarseK = 20, k = 10)
    }),

    // The two-stage chain SERVED THROUGH THE INDEXES — the 100×-scale
    // plan the exact ann_topk_twostage anchors: stage 1 probes the
    // doc-level IVF index (4 of 16 lists — the doc table is never scanned
    // whole), stage 2 probes the materialized chunk index (4 of 16 lists)
    // with its candidates ALSO cut to the coarse top-20's chunks. Twin
    // replays BOTH full IVF chains (doc + chunk Lloyd/assignment/probe
    // selection) plus the parent restriction and exact sparse re-rank.
    "ann_topk_twostage_ivf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      Similarity.topKTwoStageIvf(docModel, docEmb, chunkModel, 0L,
        coarseK = 20, k = 10, nprobeDoc = 4, nprobeChunk = 4)
    }),

    // The SET-ORIENTED indexed two-stage under the gate: the micro-batch
    // serving engine (one keyed fan-out per index, per-query parent cuts
    // by a keyed join, no driver round-trip) run on the query set {0} so
    // it shares the single-query chain's full twin with the rank law
    // added; multi-query parity is IvfSpec/StreamingSpec-bound (the
    // probeAll discipline).
    "ann_topk_twostage_all" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      Similarity.topKTwoStageIvfAll(docModel, chunkModel,
          docEmb.filter(col("vec_id") === 0L), coarseK = 20, k = 10)
        .orderBy("query_id", "rn")
    }),

    // RAG context assembly — the last mile: the top-20 chunks of the
    // INDEXED two-stage chain (doc-IVF coarse probe → parent-restricted
    // chunk-index probe, the serving plan) packed greedily in rank order
    // under a 600-token budget (strict running-sum prefix over the
    // k-bounded pool). The budget genuinely binds: 64-token chunks fill
    // ~9 slots of the 20-chunk pool. Twin = the two-stage-ivf chain plus
    // the shared packing law.
    "ann_rag_context" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
        .select(operators.CorpusIndex.chunkKey(col("doc_id"), col("chunk_no"))
          .as("vec_id"), col("chunk_text"))
      Similarity.ragContextIvf(docModel, docEmb, chunkModel, texts, 0L,
        coarseK = 20, poolK = 20, tokenBudget = 600L,
        nprobeDoc = 4, nprobeChunk = 4)
    }),

    // MMR-DIVERSIFIED context assembly — diversity-aware packing: the
    // indexed two-stage pool (top-20) is re-ordered by greedy maximal
    // marginal relevance (0.7·rel − 0.3·max-sim-to-selected, exact
    // integer-count sims, NULL rel → −2, ties → lower vec_id), the top-8
    // MMR picks pack under the 600-token budget in SELECTION order. Twin
    // unrolls the greedy argmax as 8 selection CTEs over the same
    // pairwise-sim table — the weights are the same literals on both
    // sides (never a computed 1−λ).
    "ann_rag_context_mmr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
        .select(operators.CorpusIndex.chunkKey(col("doc_id"), col("chunk_no"))
          .as("vec_id"), col("chunk_text"))
      Similarity.ragContextMmr(docModel, docEmb, chunkModel, texts, 0L,
        coarseK = 20, poolK = 20, selectK = 8, tokenBudget = 600L,
        nprobeDoc = 4, nprobeChunk = 4)
    }),

    // SET-oriented MMR packing under the gate: one batch two-stage
    // retrieval fills all per-query pools, the greedy selection runs per
    // query over the collected pools (one driver round-trip for the
    // set), and packing is the query-keyed selection-order window. Query
    // set {0} shares the single-query mmr twin with the constant
    // query_id added (the ann_rag_context_all precedent); multi-query
    // parity is spec-bound (SimilaritySpec).
    "ann_rag_context_mmr_all" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
        .select(operators.CorpusIndex.chunkKey(col("doc_id"), col("chunk_no"))
          .as("vec_id"), col("chunk_text"))
      Similarity.ragContextMmrAll(docModel, docEmb, chunkModel, texts,
          Seq(0L).toDF("query_id"), coarseK = 20, poolK = 20, selectK = 8,
          tokenBudget = 600L)
        .orderBy("query_id", "rn")
    }),

    // The SET-ORIENTED RAG packing under the gate: the batch serving
    // engine's per-query packing (query-keyed running-sum window over the
    // k-bounded pool) on the query set {0}, sharing the single-query rag
    // twin with the constant query_id added; multi-query parity is
    // spec-bound.
    "ann_rag_context_all" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
        .select(operators.CorpusIndex.chunkKey(col("doc_id"), col("chunk_no"))
          .as("vec_id"), col("chunk_text"))
      Similarity.ragContextAll(
          Similarity.topKTwoStageIvfAll(docModel, chunkModel,
            docEmb.filter(col("vec_id") === 0L), coarseK = 20, k = 20),
          texts, 600L)
        .orderBy("query_id", "rn")
    }),

    // FILTERED RAG serving — "retrieve only docs from source src1", the
    // production retrieval predicate composed into the indexed serving
    // chain: the allow-list semi-joins stage 1's candidates BEFORE the
    // coarse ranking (so the pool fills with the best ALLOWED docs, never
    // starves on a post-filter), chunks inherit the parent restriction,
    // and the survivors pack under the 600-token budget. Twin restricts
    // the same way inside the coarse stage.
    "ann_rag_context_filtered" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
        .select(operators.CorpusIndex.chunkKey(col("doc_id"), col("chunk_no"))
          .as("vec_id"), col("chunk_text"))
      val allowed = docs.filter(col("source") === "src1")
        .select(col("doc_id").as("vec_id"))
      Similarity.ragContextIvf(docModel, docEmb, chunkModel, texts, 0L,
        coarseK = 20, poolK = 20, tokenBudget = 600L,
        nprobeDoc = 4, nprobeChunk = 4, allowed = Some(allowed))
    }),

    // Two-stage with the coarse stage through the SHARDED quantizer —
    // the 10¹¹-doc serving form (past the 65 536-centroid broadcast cap
    // the single coarse quantizer hits at ~10⁸ vectors): stage 1 fans out
    // over 4 independent shard indexes, stage 2 is the parent-restricted
    // chunk probe. Probed EXHAUSTIVELY here so it shares the exact
    // two-stage twin — any doc lost/duplicated/mis-sliced by shard
    // routing, per-shard probes, or the global re-cut breaks the hash
    // (the shared-oracle trick); the pruned production form's parity is
    // IvfSpec-bound.
    "ann_topk_twostage_sharded" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val sharded = operators.Ivf.buildShardedIndex(dir + "#tssh", docEmb,
        nShards = 4)
      val (chunkModel, _) = chunkIndex(s, dir)
      Similarity.topKTwoStageSharded(sharded, docEmb, chunkModel, 0L,
        coarseK = 20, k = 10,
        nprobeDoc = sharded.shards.map(_.coarse.get.centroids.length).max,
        nprobeChunk = chunkModel.coarse.get.centroids.length)
    }),

    // RAW-TEXT serving — the entry point a deployment actually exposes:
    // the query arrives as TEXT (not a vec_id into the embedding table),
    // embeds through the corpus's own model-free embedder, and runs the
    // indexed two-stage chain (doc-IVF coarse probe → parent-restricted
    // chunk-index probe). Twin embeds the SAME literal text in the
    // q-prefixed hashed-TF CTEs and replays both IVF chains with the
    // sparse query scoring (no self-exclusion anywhere — the query is
    // not a corpus member).
    "ann_serve_text" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      Similarity.topKTwoStageIvfText(s, docModel, chunkModel,
        "fast vector scan query", coarseK = 20, k = 10,
        nprobeDoc = 4, nprobeChunk = 4)
    }),

    // RAW-TEXT set serving under the gate: the batch body of the
    // streamed text sink — queries embed IN-FLIGHT (Embed.hashedTf over
    // the (query_id, text) rows) and fan through the set-oriented
    // two-stage engine in one plan. Query set = one text with the
    // sentinel id −1 sharing the single raw-text twin with query_id and
    // the per-query rank added (the ann_rag_context_all precedent);
    // multi-text parity is spec-bound (StreamingSpec's textProbeSink
    // parity run drives 4 streamed texts against the vector path).
    "ann_serve_text_all" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      Similarity.topKTwoStageIvfAll(docModel, chunkModel,
          operators.Embed.hashedTf(
            Seq((-1L, "fast vector scan query")).toDF("doc_id", "text")),
          coarseK = 20, k = 10)
        .orderBy("query_id", "rn")
    }),

    // SET-oriented HYBRID RAG packing under the gate: the batch hybrid
    // fusion's per-query fused parents restrict the keyed chunk probe —
    // ZERO driver round-trips where the single form collects the
    // parents and the query vector. Query set {0} with the standalone
    // twin composing the hybrid-fusion chain + the chunk probe ∩ fused
    // parents + the packing law; multi-query parity is spec-bound
    // (IvfSpec).
    "ann_rag_context_hybrid_all" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
        .select(operators.CorpusIndex.chunkKey(col("doc_id"), col("chunk_no"))
          .as("vec_id"), col("chunk_text"))
      operators.Bm25.ragContextHybridAll(docs, docModel, docEmb, chunkModel,
          texts, Seq(0L).toDF("query_id"), coarseK = 20, poolK = 20,
          tokenBudget = 600L,
          postings = Some(operators.Bm25.materializedPostings(
            dir + "#postings", docs)))
        .orderBy("query_id", "rn")
    }),

    // RAW-TEXT RAG context: the full last-mile serving composition with
    // a text query — embed the literal, indexed two-stage, rank-ordered
    // packing under the budget. Twin replays the text two-stage chain
    // and the packing law over the same pool.
    "ann_rag_context_text" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      val (chunkModel, _) = chunkIndex(s, dir)
      val texts = operators.Curation.chunk(docs.select("doc_id", "text"), 64, 8)
        .select(operators.CorpusIndex.chunkKey(col("doc_id"), col("chunk_no"))
          .as("vec_id"), col("chunk_text"))
      Similarity.ragContextIvfText(s, docModel, chunkModel, texts,
          "fast vector scan query", coarseK = 20, poolK = 20,
          tokenBudget = 600L)
        .orderBy("rn")
    }),

    // RAW-TEXT RM3: the pseudo-relevance-feedback chain with the query
    // arriving as text — Q = the literal's distinct tokens, no
    // self-exclusion anywhere, feedback/expansion/round-2 identical to
    // the doc-query form. Twin replays both rounds and both cuts from
    // the text-terms chain.
    "ann_serve_text_rm3" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Bm25.topKRm3Text(docs, "fast vector scan query", 10,
          postings = Some(operators.Bm25.materializedPostings(
            dir + "#postings", docs)))
        .orderBy("rn")
    }),

    // RAW-TEXT MaxSim rerank: the late-interaction serving shape with a
    // text query — first stage is the text-terms BM25 cut, the query's
    // position vectors embed the literal's own 3-word context windows
    // under the sentinel doc id −1, scoring core shared with the
    // doc-query form. Twin replays the text first stage, both window
    // chains, and the clamped-max/quantized-sum scoring.
    "ann_serve_text_maxsim" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Bm25.maxSimRerankText(docs, "fast vector scan query", 5,
          postings = Some(operators.Bm25.materializedPostings(
            dir + "#postings", docs)))
        .orderBy("rn")
    }),

    // RAW-TEXT hybrid serving: the same literal text drives BOTH legs —
    // its distinct tokens are the BM25 query set (postings join), its
    // hashed-TF vector probes the doc IVF index — fused by RRF. Twin
    // replays the text-terms BM25 chain, the sparse-query probe
    // selection + pruned dense re-rank, and the fusion.
    "ann_serve_text_hybrid" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      operators.Bm25.hybridTopKIvfText(docs, docModel,
          "fast vector scan query", 10, nprobe = 4,
          postings = Some(operators.Bm25.materializedPostings(
            dir + "#postings", docs)))
        .orderBy("rn")
    }),

    // HYBRID retrieval — reciprocal-rank fusion of the dense top-20
    // (hashed-TF cosine) and the sparse top-20 (BM25 over the same
    // corpus), rrf = Σ 1/(60+rank), re-cut to 10. The standard hybrid-RAG
    // ranking; both rank lists and the fusion arithmetic are
    // deterministic, so the twin replays everything.
    "ann_hybrid_topk" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      operators.Bm25.hybridTopKAll(docs, Seq(0L).toDF("query_id"), 10,
          embeddings = Some(operators.Embed.materializedHashedTf(
            dir + "#embstore", docs)),
          postings = Some(operators.Bm25.materializedPostings(
            dir + "#postings", docs)))
        .orderBy("query_id", "rn")
    }),

    // Hybrid retrieval SERVED THROUGH THE DOC INDEX — the 100×-scale
    // hybrid plan next to the exact-scan anchor above: the sparse leg is
    // the postings join (work = Σ df over query terms), the dense leg
    // probes the materialized doc-level IVF index (4 of 16 lists) instead
    // of scanning the embedding table. Twin replays the BM25 chain, the
    // full doc-IVF chain + probe selection, the pruned exact re-rank, and
    // the RRF fusion.
    "ann_hybrid_topk_ivf" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      operators.Bm25.hybridTopKIvf(docs, docModel, docEmb,
          Seq(0L).toDF("query_id"), 10, nprobe = 4,
          postings = Some(operators.Bm25.materializedPostings(
            dir + "#postings", docs)))
        .orderBy("query_id", "rn")
    }),

    // The SET-ORIENTED indexed hybrid under the gate — a genuinely
    // multi-query run ({0, 5}): the batch engine fans BOTH queries
    // through the postings join and the doc-IVF probe in one plan
    // (per-query probe selection, keyed candidate cuts, query-keyed
    // windows — never a per-query driver round-trip). Twin replays the
    // whole set machinery: per-query term sets, per-query probed lists,
    // per-(query, doc) exact sums, per-query RRF re-cut.
    "ann_hybrid_topk_all" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val docEmb = operators.Embed.materializedHashedTf(dir + "#embstore", docs)
      val docModel = operators.Ivf.buildIndex(dir + "#docivf", docEmb)
      operators.Bm25.hybridTopKIvf(docs, docModel, docEmb,
          Seq(0L, 5L).toDF("query_id"), 10, nprobe = 4,
          postings = Some(operators.Bm25.materializedPostings(
            dir + "#postings", docs)))
        .orderBy("query_id", "rn")
    }),

    // REBALANCE under the gate: list splits are content-preserving, so an
    // EXHAUSTIVE probe over the rebalanced index must equal brute-force
    // top-k bit-for-bit (shares ann_topk's exact-cosine twin) — the same
    // shared-oracle trick that gates compaction. maxRatio = 1.01 makes the
    // fixture's natural list imbalance trigger real splits (verified: list ids beyond the original 16 appear in the index).
    "ann_rebalance" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val m = operators.Ivf.buildRebalanced(dir, emb, maxRatio = 1.01)
      operators.Ivf.probe(m, emb, 0L, 10, nprobe = m.coarse.get.centroids.length)
    }),

    // Exact kNN join: top-3 neighbors for each of the first 10 vectors.
    "ann_knn_join" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnJoin(emb, emb.filter(col("vec_id") < 10), 3)
        .orderBy("query_id", "rn")
    }),

    // LSH-bucketed approximate top-10 for vec_id 0 — hash-checked against a
    // DuckDB twin that inlines the hyperplane constants (bucketSql below);
    // recall vs the exact path is additionally asserted in SimilaritySpec.
    "ann_topk_lsh" -> ((s, dir) =>
      Similarity.annTopKLsh(Tables.embeddings(s, dir), 0L, 10)),

    // IVF (centroid-list) approximate top-10 — hash-checked against a DuckDB
    // twin that replays the ENTIRE pipeline (md5-bucket seeding, two exact
    // integer-grid Lloyd steps, quantized-score probe selection, pruned-list
    // candidate set, exact re-rank) as CTEs; exhaustive-probe equality,
    // partial-probe recall, and the pruned physical scan are asserted in
    // IvfSpec. Build/probe split: training + the list-partitioned index
    // write run once per corpus dir (memoized IvfModel) and every probe
    // reuses it — the index-build cost is paid once, as in a real IVF
    // deployment.
    "ann_topk_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.Ivf.probe(operators.Ivf.buildIndex(dir, emb), emb, 0L, 10)
    }),

    // IVF recall@10 self-evaluation: |probe top-10 ∩ exact top-10| / 10 —
    // the accuracy half of the index health check (ann_list_sizes is the
    // balance half). Both sides are deterministic (id tie-breaks), so even
    // the recall VALUE is oracle-stable.
    "ann_recall_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ivf = operators.Ivf
        .probe(operators.Ivf.buildIndex(dir, emb), emb, 0L, 10)
        .select("vec_id")
      val exact = Similarity.topK(emb, 0L, 10).select("vec_id")
      ivf.join(exact, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10L).as("k"), col("n_hits"),
          (col("n_hits").cast("double") / 10.0).as("recall"))
    }),

    // Measured recall@10-vs-nprobe calibration curve on a 4-query holdout
    // sample — each exact neighbor's list rank yields the whole monotone
    // curve in one pass (a neighbor in the query's rank-r list is found
    // iff nprobe >= r). This is the table the auto-nprobe knob reads.
    "ann_nprobe_curve" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.Ivf
        .nprobeCurve(operators.Ivf.buildIndex(dir, emb), emb,
          Seq(0L, 2L, 4L, 6L), 10)
        .orderBy("nprobe")
    }),

    // Auto-chosen probe width from a target recall (90%), at TWO corpus
    // sizes — the manual nprobe knob replaced by the measured curve (the
    // autoBits/autoTables discipline applied to list pruning). IvfSpec
    // asserts the floor holds and that the chosen width actually prunes.
    "ann_autonprobe" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val qids = Seq(0L, 2L, 4L, 6L)
      Seq(("full", emb, dir), ("half", emb.filter(col("vec_id") % 2 === 0), dir + "#half"))
        .map { case (tag, corpus, key) =>
          val model = operators.Ivf.buildIndex(key, corpus)
          val (np, hits) = operators.Ivf.autoNprobe(model, corpus, qids, 10, 90)
          (tag, corpus.count(), np.toLong, hits, hits.toDouble / 40.0)
        }
        .toDF("corpus", "n_vectors", "nprobe_auto", "n_hits", "recall")
        .orderBy("corpus")
    }),

    // IVF capacity planner — autoNlist's table form: centroid count that
    // holds the list width at the 2048-row target across corpus decades
    // (actual corpus + 10⁵…10¹¹), with the quantizer size it implies.
    // The row where nlist hits the 65 536 broadcast cap shows list_width
    // re-growing — the documented "shard the coarse quantizer past this
    // point" frontier. Pure integer driver math, replayed by the twin.
    "ann_nlist_plan" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val dim = emb.select(size(col("embedding"))).first().getInt(0)
      (Seq(emb.count()) ++ Seq(100000L, 10000000L, 1000000000L, 100000000000L))
        .map { n =>
          val nl = operators.Similarity.autoNlist(n).toLong
          val (shards, perShard) = operators.Similarity.autoShardPlan(n)
          (n, nl, (n + nl - 1) / nl, nl * dim,
            shards.toLong, perShard.toLong,
            // sharded width: bounded at the 2048 target through 10¹¹ —
            // the row where the single-quantizer width re-grows past the
            // 65 536 cap is exactly where the sharded plan takes over
            (n + shards.toLong * perShard - 1) / (shards.toLong * perShard))
        }
        .toDF("n_vectors", "nlist", "list_width", "centroid_values",
          "n_shards", "nlist_per_shard", "sharded_width")
        .orderBy("n_vectors")
    }),

    // Sharded-quantizer parity under the gate: 4 independently-trained
    // shard indexes over md5 id slices, fan-out probe with nprobe = nlist
    // (exhaustive per shard) — the union must equal brute-force top-10
    // bit-for-bit (shares ann_topk's exact-cosine twin), proving shard
    // assignment, per-shard builds and the union re-cut lose or duplicate
    // nothing.
    "ann_knn_sharded" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val m = operators.Ivf.buildShardedIndex(dir + "#shards", emb,
        nShards = 4, nlist = 8)
      operators.Ivf.probeSharded(m, emb, 0L, 10, nprobe = 8)
    }),

    // Set-oriented probe over the SAME sharded index (the lifecycle
    // symmetry ask): top-3 for each of the first 10 vectors through the
    // per-shard probeAll fan-out + global query-keyed re-cut, exhaustive
    // per shard — must equal the exact kNN join bit-for-bit (shares the
    // ann_knn_join twin).
    "ann_knn_sharded_all" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val m = operators.Ivf.buildShardedIndex(dir + "#shards", emb,
        nShards = 4, nlist = 8)
      operators.Ivf.probeShardedAll(m, emb.filter(col("vec_id") < 10), 3,
          nprobe = 8)
        .withColumnRenamed("vec_id", "neighbor_id")
        .orderBy("query_id", "rn")
    }),

    // The sharded COMPOSITE layout under the gate: 4 independent IVF-PQ
    // shards (per-shard coarse quantizer AND residual codebooks, trained
    // on each md5 slice only — at 10¹¹ vectors raw float lists are the
    // scan-budget problem PQ exists for), fan-out set-probe at exhaustive
    // settings (nprobe = nlist, rerank ≥ slice). The union re-cut must
    // equal the exact kNN join bit-for-bit — any row lost by shard
    // routing, per-shard encode, the ADC chain or the global re-cut
    // breaks the hash. Pruned-settings parity is IvfPqSpec's.
    "ann_knn_sharded_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val m = operators.IvfPq.buildShardedIndex(dir + "#shardpq", emb,
        nShards = 4, nlist = 8)
      operators.CodesIndex.probeShardedAll(m, emb, emb.filter(col("vec_id") < 10),
          3, nprobe = 8, rerank = Int.MaxValue)
        .withColumnRenamed("vec_id", "neighbor_id")
        .orderBy("query_id", "rn")
    }),

    // PQ (product-quantization) approximate top-10 — the compressed-codes
    // ANN path (4-bit codes, ADC scoring, exact re-rank of 50 candidates).
    // Hash-checked against a DuckDB twin that replays per-subspace seeding,
    // both integer-grid Lloyd steps, encoding, the query LUT and the ADC
    // ranking as CTEs; determinism/recall/compression are PqSpec'd.
    "ann_topk_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.CodesIndex.probe(operators.Pq.buildIndex(dir, emb), emb, 0L, 10)
    }),

    // IVF list-size histogram — the index-balance diagnostic: a probe reads
    // nprobe lists, so a skewed coarse quantizer (one giant list) silently
    // turns the index back into a scan. Reads ONLY the materialized index's
    // footer-level metadata (list partition column + counts); oracle replays
    // the assignment. Operationally this is the health check run after
    // every build.
    "ann_list_sizes" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Ivf.buildIndex(dir, emb)
      operators.CodesIndex.readIndex(s, model)
        .groupBy(col("list").cast("int").as("list"))
        .agg(count(lit(1)).as("n_vectors"))
        .orderBy("list")
    }),

    // IVF-PQ composite index — pruned lists × residual PQ codes, the
    // canonical billion-vector layout: probes read nprobe/nlist of the
    // corpus AND only ~4 bytes/vector of it. Hash-checked against a DuckDB
    // twin composing both replay chains (coarse Lloyd → residuals →
    // per-subspace Lloyd → per-list LUTs → exact-integer ADC).
    "ann_topk_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.CodesIndex.probe(operators.IvfPq.buildIndex(dir, emb), emb, 0L, 10)
    }),

    // Incremental IVF maintenance — the growing-corpus path: train + build
    // on the base corpus (vec_id % 5 <> 0), append the new batch (% 5 = 0)
    // with the FROZEN quantizer (no retrain, untouched list dirs never
    // opened — IvfSpec asserts byte-identity), probe the appended index.
    // The oracle replays train-on-base + assign-all, so the hash proves the
    // append path produces exactly the index a from-scratch write with the
    // same quantizer would.
    "ann_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Ivf.buildIncremental(dir,
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.Ivf.probe(model, emb, 0L, 10)
    }),

    // The composite twin: frozen coarse quantizer assigns the batch, frozen
    // codebooks encode its residuals, codes append into the existing list
    // dirs (IvfPqSpec asserts byte-identity) — the trio-completing
    // incremental path for the billion-vector layout.
    "ann_incremental_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.IvfPq.buildIncremental(dir,
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // The full index LIFECYCLE under the gate: build on base → append the
    // batch → COMPACT the fragmented lists → probe. Shares ann_incremental's
    // oracle — hash equality proves compaction is content-preserving
    // through the whole chain, not just in the spec. (compactIndex is
    // idempotent: on replayed passes the lists are already within the
    // file-count threshold and the call is a no-op.)
    "ann_incremental_compact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Ivf.buildIncremental(dir + "#compact",
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.CodesIndex.compactIndex(s, model, maxFilesPerList = 1)
      operators.Ivf.probe(model, emb, 0L, 10)
    }),

    // The DELETE verb: tombstones land in the sibling table (index files
    // untouched — IvfSpec asserts byte-identity) and the probe anti-joins
    // them pruned to the probed lists. The oracle replays a full-corpus
    // build whose CANDIDATES exclude the deleted ids: probe over
    // base+tombstones ≡ probe over the survivors under the same quantizer.
    "ann_delete" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Ivf.buildIndex(dir + "#del", emb)
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.Ivf.probe(model, emb, 0L, 10)
    }),

    // Delete → COMPACT → probe: compaction physically drops the
    // tombstoned rows and consumes the tombstone table (maxFilesPerList
    // huge ⇒ only tombstone-carrying lists rewrite); sharing ann_delete's
    // oracle proves the physical drop is semantically invisible.
    "ann_delete_compact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Ivf.buildIndex(dir + "#delc", emb)
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.CodesIndex.compactIndex(s, model, maxFilesPerList = Int.MaxValue)
      operators.Ivf.probe(model, emb, 0L, 10)
    }),

    // The flat-codes twin: tombstones mask the ADC ranking BEFORE the
    // rerank cut (deleted vectors must not consume rerank slots).
    "ann_delete_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Pq.buildIndex(dir + "#del", emb)
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // The composite twin: per-list tombstones, pruned anti-join before
    // the residual-ADC ranking.
    "ann_delete_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.IvfPq.buildIndex(dir + "#del", emb)
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // THE LIFECYCLE CAPSTONE: every maintenance verb chained under one
    // hash — build on base → frozen append → tombstone delete → compact
    // (physical drop) → re-balance (splits at 1.05) → EXHAUSTIVE probe.
    // The oracle is brute-force top-k over survivors with the train-on-base
    // quantizer replayed: any row lost, duplicated, resurrected or moved
    // wrongly by ANY verb breaks the hash. Replay-safe: the append is
    // memoized, delete/compact self-heal, and rebalance loads the
    // PERSISTED model (a second pass finds the ratio already bounded).
    "ann_lifecycle" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Ivf.buildIncremental(dir + "#life",
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.CodesIndex.compactIndex(s, model, maxFilesPerList = Int.MaxValue)
      val m2 = operators.Ivf.rebalanceIndex(s, model, maxRatio = 1.05)
      operators.Ivf.probe(m2, emb, 0L, 10, nprobe = m2.coarse.get.centroids.length)
    }),

    // The compressed-layout capstone: incremental encode → delete →
    // codes-table compaction → full-rerank probe, against the
    // train-on-base + candidates-minus-deleted twin.
    "ann_lifecycle_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Pq.buildIncremental(dir + "#life",
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.CodesIndex.compactIndex(s, model)
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // The composite-layout capstone completes the trio: incremental
    // residual encode → per-list tombstone delete → compactIndex's per-list physical
    // drop (the IVF-PQ codes dir IS a list-partitioned table, so the verb
    // is shared; Int.MaxValue threshold → only tombstoned lists rewrite)
    // → pruned residual-ADC probe. Replay-safe like the others: the
    // post-drop delete replay resolves zero (vec_id, list) rows.
    "ann_lifecycle_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.IvfPq.buildIncremental(dir + "#life",
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.CodesIndex.compactIndex(s, model, maxFilesPerList = Int.MaxValue)
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // The PQ twin of ann_incremental: frozen codebooks encode the new
    // batch, codes append to the existing table (PqSpec asserts existing
    // files stay byte-identical), ADC probe over base+batch codes.
    "ann_incremental_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Pq.buildIncremental(dir,
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // SQ8 scalar quantization — the FOURTH index layout (per-dimension
    // 8-bit codes, 4× compression at full per-dim resolution): training is
    // a single min/max pass (no Lloyd, no seeds), probe is exact-integer
    // ADC over reconstructed codes + cosine re-rank. Hash-checked against
    // a DuckDB twin that replays params, encoding and the ADC ranking
    // (sqSql below); determinism/saturation/lifecycle are SqSpec'd.
    "ann_topk_sq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.CodesIndex.probe(operators.Sq.buildIndex(dir, emb), emb, 0L, 10)
    }),

    // SQ recall@10 — ann_recall_ivf's discipline for the scalar layout.
    "ann_recall_sq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val sq = operators.CodesIndex
        .probe(operators.Sq.buildIndex(dir, emb), emb, 0L, 10)
        .select("vec_id")
      val exact = Similarity.topK(emb, 0L, 10).select("vec_id")
      sq.join(exact, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10L).as("k"), col("n_hits"),
          (col("n_hits").cast("double") / 10.0).as("recall"))
    }),

    // Frozen-params append: min/max trained on the base corpus only, the
    // batch encoded with those params (out-of-range values SATURATE at the
    // code boundaries — the oracle clamps identically). Completes the
    // incremental quartet.
    "ann_incremental_sq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Sq.buildIncremental(dir,
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // Tombstone delete over the flat codes table — masked BEFORE the
    // rerank cut, CodesIndex.deleteFromIndex's contract.
    "ann_delete_sq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Sq.buildIndex(dir + "#del", emb)
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // The scalar-layout capstone: build on base → frozen append →
    // tombstone delete → compaction (physical drop, batch ids carried)
    // → probe, against the train-on-base + candidates-minus-deleted twin.
    "ann_lifecycle_sq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Sq.buildIncremental(dir + "#life",
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.CodesIndex.compactIndex(s, model)
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // IVF-SQ8 — the coarse-pruning composite over scalar-quantized
    // RESIDUALS (FAISS `IVF,SQ8`): the compression ladder's middle point
    // (IVF-Flat → IVF-SQ8 4× → IVF-PQ 64×). Probes prune to nprobe lists
    // AND read only 64-byte codes; ADC = 255·coarse-term + residual terms
    // on the common integer grid. Hash-checked against a DuckDB twin
    // composing the coarse Lloyd replay with the residual min/max chain.
    "ann_topk_ivfsq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.CodesIndex.probe(operators.IvfSq.buildIndex(dir, emb), emb, 0L, 10)
    }),

    // recall@10 for the composite — the family health discipline.
    "ann_recall_ivfsq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val apx = operators.CodesIndex
        .probe(operators.IvfSq.buildIndex(dir, emb), emb, 0L, 10)
        .select("vec_id")
      val exact = Similarity.topK(emb, 0L, 10).select("vec_id")
      apx.join(exact, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10L).as("k"), col("n_hits"),
          (col("n_hits").cast("double") / 10.0).as("recall"))
    }),

    // The fifth-layout capstone: build on base → frozen append → tombstone
    // delete → compactIndex's per-list physical drop (the codes dir IS a
    // list-partitioned table, so the verb is shared with IVF/IVF-PQ) →
    // pruned residual-ADC probe, against the train-on-base +
    // candidates-minus-deleted twin.
    "ann_lifecycle_ivfsq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.IvfSq.buildIncremental(dir + "#life",
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0))
      operators.CodesIndex.deleteFromIndex(model,
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), batchId = 0L)
      operators.CodesIndex.compactIndex(s, model, maxFilesPerList = Int.MaxValue)
      operators.CodesIndex.probe(model, emb, 0L, 10)
    }),

    // FILTERED vector search — "nearest neighbors WHERE <predicate>", the
    // production retrieval shape. Exact path: the predicate prunes before
    // ranking and pushes into the parquet scan. Index path: the SQ ADC
    // ranking semi-joins the allowed ids BEFORE the rerank cut (filtered-
    // out vectors never consume rerank slots — post-filtering the top-k
    // is the starvation anti-pattern this avoids).
    "ann_topk_filtered" -> ((s, dir) =>
      Similarity.topKWhere(Tables.embeddings(s, dir), 0L, 10,
        col("label") === 3)),

    "ann_topk_sq_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.CodesIndex.probe(operators.Sq.buildIndex(dir, emb), emb, 0L, 10,
        allowed = Some(emb.filter(col("label") === 3).select("vec_id")))
    }),

    // The pruned-lists mechanism: allow-list semi-join on the probed
    // lists' candidates before the exact ranking (every probe now takes
    // `allowed`; Pq/IvfPq/IvfSq variants are spec-gated). NOTE the
    // fixture returns 9 < k rows — a selective filter can leave fewer
    // than k matches inside nprobe lists; widening nprobe (or the exact
    // topKWhere path) is the recall knob, and the oracle replays the
    // same under-full result, which is exactly the semantics a filtered
    // pruned probe should have.
    "ann_topk_ivf_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.Ivf.probe(operators.Ivf.buildIndex(dir, emb), emb, 0L, 10,
        allowed = Some(emb.filter(col("label") === 3).select("vec_id")))
    }),

    // Random projection (Johnson–Lindenstrauss) — the STORAGE op: ±1-sign
    // exact-integer projection 64 → 16 dims (4× fewer bytes before any
    // index), partition-order-free longs the oracle replays bit-for-bit.
    // ann_rp_project gates the projection itself; ann_topk_rp is the
    // JL-prefiltered top-k (project-rank-rerank).
    "ann_rp_project" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.randomProject(emb.filter(col("vec_id") < 100))
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("d", "pv")))
        .orderBy("vec_id", "d")
    }),

    "ann_topk_rp" -> ((s, dir) =>
      Similarity.topKRp(Tables.embeddings(s, dir), 0L, 10)),

    // Set-oriented composite probes — the ann_knn_pq discipline through
    // the pruned layouts: per-row probe selection (expression ranking,
    // keeping the integer base term), distributed per-query LUTs /
    // residual grids, ONE scan of the probed lists' codes, query-keyed
    // ADC + re-rank. The batch engines under the composite probe sinks.
    "ann_knn_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.CodesIndex.probeAll(operators.IvfPq.buildIndex(dir, emb), emb,
        emb.filter(col("vec_id") < 10), 10)
        .orderBy("query_id", "rn")
    }),

    "ann_knn_ivfsq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.CodesIndex.probeAll(operators.IvfSq.buildIndex(dir, emb), emb,
        emb.filter(col("vec_id") < 10), 10)
        .orderBy("query_id", "rn")
    }),

    // SQ drift health — per-dim saturation counts of a new batch against
    // params frozen on the base corpus: the ann_list_sizes balance story
    // for the scalar layout (mass on codes 0/255 = ADC resolution
    // collapse = time to retrain at the next compaction window).
    "ann_sq_saturation" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Sq.buildIndex(dir + "#sat",
        emb.filter(col("vec_id") % 5 =!= 0))
      operators.Sq.saturationReport(model, emb.filter(col("vec_id") % 5 === 0))
    }),

    // Set-oriented SQ probe — ann_knn_pq's shape: one codes scan for all
    // ten queries, query-keyed ADC ranking, per-query re-rank.
    "ann_knn_sq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      operators.CodesIndex.probeAll(operators.Sq.buildIndex(dir, emb), emb,
        emb.filter(col("vec_id") < 10), 10)
        .orderBy("query_id", "rn")
    }),

    // kNN join THROUGH the IVF index — the set-oriented probe (per-row
    // expression probe selection, one keyed join against the probed lists,
    // query-keyed ranking): the batch engine under the streaming probe
    // sink, here driver-gated for the first 10 queries. Per-query rows are
    // bit-identical to Ivf.probe (IvfSpec/StreamingSpec parity).
    "ann_knn_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Ivf.buildIndex(dir, emb)
      operators.Ivf.probeAll(model, emb.filter(col("vec_id") < 10), 10)
        .orderBy("query_id", "rn")
    }),

    // kNN join THROUGH the PQ codes — the set-oriented ADC probe (the
    // ann_knn_ivf twin for the compressed index): distributed query LUTs,
    // one codes scan joined to the broadcast LUT, query-keyed ADC rank +
    // exact re-rank. Per-query rows bit-identical to CodesIndex.probe (PqSpec).
    "ann_knn_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Pq.buildIndex(dir, emb)
      operators.CodesIndex.probeAll(model, emb, emb.filter(col("vec_id") < 10), 10)
        .orderBy("query_id", "rn")
    }),

    // PQ recall@10 self-evaluation — the ann_recall_ivf mirror for the
    // compressed-codes path, so the driver gate sees accuracy regressions
    // in the code path most likely to be tuned (m/ksub/rerank), not just
    // the spec-level floor in PqSpec.
    "ann_recall_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pq = operators.CodesIndex
        .probe(operators.Pq.buildIndex(dir, emb), emb, 0L, 10)
        .select("vec_id")
      val exact = Similarity.topK(emb, 0L, 10).select("vec_id")
      pq.join(exact, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10L).as("k"), col("n_hits"),
          (col("n_hits").cast("double") / 10.0).as("recall"))
    }),

    // IVF-PQ recall@10 — same contract for the composite index.
    "ann_recall_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ivfpq = operators.CodesIndex
        .probe(operators.IvfPq.buildIndex(dir, emb), emb, 0L, 10)
        .select("vec_id")
      val exact = Similarity.topK(emb, 0L, 10).select("vec_id")
      ivfpq.join(exact, "vec_id")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(10L).as("k"), col("n_hits"),
          (col("n_hits").cast("double") / 10.0).as("recall"))
    }),

    // PQ code-distribution health — the ann_list_sizes balance story for
    // the codes table: per-subspace log₂ histogram of codes-per-codebook-
    // entry. A collapsed codebook (one entry owning most codes) flattens
    // ADC score resolution the way a giant IVF list defeats pruning; this
    // is the post-build check that catches it. Reads only the (sub, cid)
    // code pairs; oracle replays the encoding and the bit-length buckets.
    "ann_pq_code_sizes" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = operators.Pq.buildIndex(dir, emb)
      val counts = operators.CodesIndex.readIndex(s, model)
        .select(posexplode(col("codes")).as(Seq("sub", "cid")))
        .groupBy("sub", "cid").agg(count(lit(1)).as("n_codes"))
      operators.Stats.log2Histogram(counts, "sub", "n_codes")
        .orderBy("sub", "bucket")
    }),

    // Corpus×corpus kNN through LSH buckets + TopK aggregate — the linear
    // layout for all-pairs similarity. Hash width scales with the corpus
    // (Similarity.autoBits: fixed width makes the bucket self-join
    // quadratic — measured 49 s at the sf1 fixture with bits=4 pinned); at
    // the oracle fixture autoBits resolves to 4, so the inlined-hyperplane
    // DuckDB twin is unchanged. Recall vs exact kNN asserted in
    // SimilaritySpec; hold recall at higher widths by raising `tables`
    // per the ann_lsh_plan curve.
    "ann_knn_lsh_all" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bits = Similarity.autoBits(emb.count())
      // the DuckDB twin inlines the bits=4 hyperplane literals; if a fixture
      // size change moves autoBits off 4 this must fail HERE — inside the
      // Verify gate, where the twin is actually compared — not as an
      // unexplained hash mismatch downstream. Scale benches (sf1) resolve
      // wider bits by design and have no twin, so the guard stays silent.
      require(bits == 4 || !sys.props.contains("graft.oracleGate"),
        s"oracle twin pinned at bits=4, autoBits gave $bits" +
          " — regenerate the inlined hyperplanes in annKnnLshAllSql")
      Similarity.knnJoinLsh(emb, 3, bits = bits)
        .orderBy("query_id", "rn")
    }),

    // The KNOB-FREE form of the same join: BOTH LSH knobs come from the
    // planner (autoBits holds expected bucket width as the corpus grows,
    // autoTables re-raises the OR-table count so recall survives the width
    // growth) — the call a deployment makes when nobody hand-tunes
    // (tables, bits). At the gate fixture (n = 500) the planner resolves
    // to (bits = 4, tables = 4); the twin inlines exactly those
    // hyperplanes, and the guard below fails HERE (inside the Verify gate)
    // if a fixture change ever moves the planner off that point.
    "ann_knn_lsh_auto" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bits = Similarity.autoBits(emb.count())
      val tables = Similarity.autoTables(0.15, bits, targetRecall = 0.9)
      require((bits == 4 && tables == 4) || !sys.props.contains("graft.oracleGate"),
        s"oracle twin pinned at (bits=4, tables=4), planner gave ($bits, $tables)" +
          " — regenerate the twin CTE for ann_knn_lsh_auto")
      Similarity.knnJoinLshAuto(emb, 3).orderBy("query_id", "rn")
    }),

    // Contrastive hard-negative mining: per anchor, the 3 closest
    // OTHER-label vectors under the near-dup ceiling — the exact all-pairs
    // anchor and its LSH-bucketed production sibling (gates run inside the
    // fused bucket join; recall governed by the same planner knobs).
    // The exact forms are DECLARED fixture-sized ground truth (vec_id <
    // 500 — the whole table at the sf0.01 gate, a CONSTANT-sized anchor at
    // bench SFs: the previous 2000-bound made the two anchors the #3/#4
    // heaviest bench entries, 14.5 s of every official sf0.1 run, for no
    // extra proof); the LSH siblings run the FULL corpus, because that is
    // the production path whose cost law matters.
    "ann_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(
        Tables.embeddings(s, dir).filter(col("vec_id") < 500), 3)
        .orderBy("anchor_id", "rn")),
    "ann_hard_negatives_lsh" -> ((s, dir) => {
      // autoBits holds bucket width as the corpus grows (pinned 4 bits at
      // sf1's 2·10⁴ vectors turned the bucket self-join quadratic: 20 s
      // measured); the twin is inlined at bits=4, valid exactly at the
      // gate fixture — same idiom as ann_knn_lsh_all
      val emb = Tables.embeddings(s, dir)
      val bits = Similarity.autoBits(emb.count())
      require(bits == 4 || !sys.props.contains("graft.oracleGate"),
        s"oracle twin pinned at bits=4, autoBits gave $bits" +
          " — regenerate the inlined hyperplanes in the ann_hard_negatives_lsh twin")
      Similarity.hardNegativesLsh(emb, 3, bits = bits)
        .orderBy("anchor_id", "rn")
    }),

    // full contrastive triple: top-1 same-label positive joined to the
    // hard-negative top-k — flat (anchor, pos, neg) rows for a
    // triplet/InfoNCE loss; exact anchor (same bounded fixture) +
    // all-bucket-mined full-corpus LSH sibling
    "ann_contrastive" -> ((s, dir) =>
      Similarity.contrastiveTriples(
        Tables.embeddings(s, dir).filter(col("vec_id") < 500), 3)
        .orderBy("anchor_id", "rn")),
    "ann_contrastive_lsh" -> ((s, dir) => {
      // same width-held knob as ann_hard_negatives_lsh (pinned 4 bits cost
      // 49 s at sf1 — the documented Σ|bucket|² law)
      val emb = Tables.embeddings(s, dir)
      val bits = Similarity.autoBits(emb.count())
      require(bits == 4 || !sys.props.contains("graft.oracleGate"),
        s"oracle twin pinned at bits=4, autoBits gave $bits" +
          " — regenerate the inlined hyperplanes in the ann_contrastive_lsh twin")
      Similarity.contrastiveTriplesLsh(emb, 3, bits = bits)
        .orderBy("anchor_id", "rn")
    }),

    // Hyperplane-LSH banding planner — the dedup_lsh_plan twin for the
    // ANN knob: closed-form 1 − (1 − p1^bits)^tables detection curve over
    // θ/π, cosine labels inlined driver-side (pure-math oracled query,
    // pinned multiplication chains, no transcendentals in-engine).
    "ann_lsh_plan" -> ((s, _) =>
      Similarity.lshPlanHyperplane(s, tables = 8, bits = 4)),

    // Per-label class centroids, exploded to scalar rows (exact integer
    // sums — see labelCentroids scaladoc).
    "ann_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir))
        .orderBy("label", "dim")),

    // Nearest-centroid classification confusion matrix (integer-quantized
    // scoring — see nearestCentroidConfusion scaladoc).
    "ann_centroid_classify" -> ((s, dir) =>
      Similarity.nearestCentroidConfusion(Tables.embeddings(s, dir))
        .orderBy("label_true", "label_pred")),

    // Per-label embedding diversity (mean squared pairwise distance via the
    // O(n) sufficient-statistics identity — see labelDiversity scaladoc).
    // Embedding hygiene gate over the defect-planted corpus: counts of
    // NULL / wrong-dim / NaN / all-zero / clean vectors — the report an
    // index build reads first (a zero vector poisons cosine normalization;
    // a NaN poisons every distance it touches).
    "ann_embedding_health" -> ((s, dir) =>
      Similarity.embeddingHealth(
        Tables.embeddingsWithDefects(s, dir), expectedDim = 64)),

    "ann_diversity" -> ((s, dir) =>
      Similarity.labelDiversity(Tables.embeddings(s, dir))
        .orderBy("label")),

    // Same contract as ann_knn_join through the k-bounded TopK aggregator
    // (shuffle ships ≤k rows/partition/query instead of all candidates) —
    // shares the window formulation's oracle.
    "ann_knn_agg" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnJoinAgg(emb, emb.filter(col("vec_id") < 10), 3)
        .orderBy("query_id", "rn")
    })
  )

  // shared by the window (ann_knn_join) and aggregator (ann_knn_agg)
  // formulations — same contract, two physical strategies
  private val knnSql: String =
    s"""WITH s AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |    (${dotSql("e.embedding", "q.embedding")})
       |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |         * sqrt(${dotSql("q.embedding", "q.embedding")})) AS cosine
       |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |  ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rn FROM s)
       |SELECT query_id, neighbor_id, cosine, rn FROM r
       |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin

  // ---- LSH oracle machinery ----
  //
  // The hyperplanes are deterministic driver-side constants, so the whole
  // LSH pipeline is SQL-expressible by inlining them: per table t, bucket
  // b_t(v) = Σ_i 2^i · [dot(v, plane_{t,i}) > 0]. Double literals are
  // emitted via toString (shortest round-trip form), and every dot product
  // is the same left-to-right index-order sum as the VecDot kernel, so the
  // sign tests — and therefore the buckets — agree bit-for-bit.

  private def planeDotSql(e: String, p: Array[Double]): String =
    p.zipWithIndex.map { case (w, i) => s"CAST($e[${i + 1}] AS DOUBLE)*($w)" }
      .mkString(" + ")

  /** SQL for one table's bucket id of vector column `e`. */
  private def bucketSql(e: String, tablePlanes: Array[Array[Double]]): String =
    tablePlanes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN (${planeDotSql(e, p)}) > 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** CTE assigning all `tables` bucket ids to every vector. */
  private def lshCte(tables: Int = 8, bits: Int = 4): String = {
    val ps = Similarity.planes(tables, bits)
    val cols = (0 until tables)
      .map(t => s"    ${bucketSql("embedding", ps(t))} AS b$t")
      .mkString(",\n")
    s"WITH b AS (\n  SELECT vec_id, embedding,\n$cols\n  FROM embeddings)"
  }

  private def anyBandEq(a: String, c: String, tables: Int = 8): String =
    (0 until tables).map(t => s"$a.b$t = $c.b$t").mkString(" OR ")

  // ---- IVF oracle machinery ----
  //
  // The whole IVF pipeline is exact-integer decisions (see Ivf scaladoc), so
  // the oracle replays it end-to-end in SQL: quantize vectors to the 1e-6
  // long grid, seed centroids from md5 buckets (Curation.hashBucket twin),
  // run the Lloyd steps with exact long sums and the floor(Σvq/n + 0.5)
  // re-grid, assign by the quantized score sq/√norm2q (every term
  // floor(v·cq·1e3 + 0.5) — the QuantDot kernel's contract), pick the
  // nprobe best lists for the query by the same score, and exact-re-rank
  // the candidates (the ann_topk cosine twin). Every double op is a
  // correctly-rounded function of exact integers, so both engines agree
  // bit-for-bit.

  /** One Lloyd step: centroid CTE `prev` → assignment CTE `asg` →
    * re-gridded mean CTE `next`, over the quantized-vector CTE `vd`
    * (parameterized so incremental twins can train on a `tvd` subset — the
    * same generality [[pqLloydStep]] always had).
    */
  private def lloydStep(prev: String, asg: String, next: String,
                        vd: String = "vd"): String =
    s"""n$prev AS (
       |  SELECT cid, CAST(SUM(cq * cq) AS BIGINT) AS norm2q
       |  FROM $prev GROUP BY cid),
       |s$prev AS (
       |  SELECT $vd.vec_id, $prev.cid,
       |    CAST(SUM(CAST(FLOOR($vd.v * $prev.cq * 1000.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS sq
       |  FROM $vd JOIN $prev USING (dim) GROUP BY 1, 2),
       |$asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT s$prev.vec_id, s$prev.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s$prev.vec_id
       |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
       |          DESC, s$prev.cid) AS rn
       |    FROM s$prev JOIN n$prev USING (cid))
       |  WHERE rn = 1),
       |$next AS (
       |  SELECT $asg.cid, $vd.dim,
       |    CAST(FLOOR(CAST(CAST(SUM($vd.vq) AS BIGINT) AS DOUBLE) / COUNT(*)
       |      + 0.5) AS BIGINT) AS cq
       |  FROM $asg JOIN $vd USING (vec_id) GROUP BY 1, 2)""".stripMargin

  /** Scoring of every vector against centroid CTE `c` plus the final
    * assignment CTE `asg` (same shape as inside [[lloydStep]]).
    */
  private def assignCte(c: String, asg: String, vd: String = "vd"): String =
    s"""n$c AS (
       |  SELECT cid, CAST(SUM(cq * cq) AS BIGINT) AS norm2q
       |  FROM $c GROUP BY cid),
       |s$c AS (
       |  SELECT $vd.vec_id, $c.cid,
       |    CAST(SUM(CAST(FLOOR($vd.v * $c.cq * 1000.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS sq
       |  FROM $vd JOIN $c USING (dim) GROUP BY 1, 2),
       |$asg AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT s$c.vec_id, s$c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s$c.vec_id
       |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
       |          DESC, s$c.cid) AS rn
       |    FROM s$c JOIN n$c USING (cid))
       |  WHERE rn = 1)""".stripMargin

  /** The memoized chunk-granular index for a corpus dir — chunk → embed →
    * IVF build, shared by the exhaustive (ann_topk_chunks) and pruned
    * (ann_topk_chunks_ivf) probes and the streaming chunk-ingest parity
    * spec, so the build cost is paid once per corpus like every index.
    */
  private def chunkIndex(s: SparkSession, dir: String)
      : (operators.Ivf.IvfModel, DataFrame) =
    operators.CorpusIndex.buildChunkIndex(dir + "#chunks",
      Tables.documents(s, dir))

  /** DuckDB replay of [[graft.operators.CorpusIndex.chunkEmbeddings]]'
    * corpus: 64-token/8-overlap chunk windows (the pch slice spelling from
    * the pack twin), the packed 2²⁰ chunk key, and the hashed-TF
    * (doc, bucket) signed-count table `cnt` over the chunk texts.
    */
  private def chunkCorpusCtes: String = chunkCorpusCtesFrom("documents")

  /** [[chunkCorpusCtes]] over any (doc_id, text) relation with a CTE-name
    * prefix — the rag-serving flagship chunks the GATE SURVIVORS, and its
    * twin already spends the unprefixed names on the doc-level chain.
    */
  private[graft] def chunkCorpusCtesFrom(src: String, p: String = ""): String =
    s"""${p}ctoks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
       |${p}cch AS (
       |  SELECT doc_id, toks,
       |    unnest(range(0,
       |      CASE WHEN len(toks) <= 64 THEN 1
       |           ELSE CAST(CEIL((len(toks) - 64) / 56.0) AS INT) + 1
       |      END)) AS chunk_no
       |  FROM ${p}ctoks),
       |${p}chunks AS (
       |  SELECT doc_id * 1048576 + chunk_no AS doc_id,
       |    array_to_string(toks[chunk_no * 56 + 1 : chunk_no * 56 + 64],
       |      ' ') AS text
       |  FROM ${p}cch),
       |${TextQueries.embedCntCteFrom(s"${p}chunks", p)}""".stripMargin

  /** DuckDB replay of the INDEXED two-stage chain
    * ([[graft.operators.Similarity.topKTwoStageIvf]]): the chunk corpus +
    * both hashed-TF count tables, a dense doc-vector CTE feeding a
    * d-prefixed full IVF chain (doc quantizer), probe selection +
    * pruned-candidate exact re-rank → the coarse top-`coarseK`, then the
    * unprefixed chunk IVF chain (shadowed `embeddings`), chunk probe
    * selection scored with the DOC query vector, candidates cut to probed
    * lists ∩ coarse parents, and the exact sparse re-rank `tsr`
    * (vec_id, parent_id, cosine — unranked; callers cut and order).
    */
  /** DuckDB replay of the DOC-LEVEL IVF probe leg shared by the indexed
    * two-stage and indexed hybrid twins: hashed-TF counts over documents
    * (d-prefixed), dense doc vectors, the d-prefixed full IVF chain, probe
    * selection for query-doc 0, and the pruned candidate set `dcand`
    * (probed lists' members minus the query).
    */
  private[graft] def docIvfCtes(nprobeDoc: Int): String =
    s"""${TextQueries.embedCntCteFrom("documents", "d")},
       |dsgrid AS (
       |  SELECT doc_id, unnest(range(0, 64)) AS dim
       |  FROM (SELECT DISTINCT doc_id FROM documents)),
       |dsemb AS MATERIALIZED (
       |  SELECT g.doc_id AS vec_id,
       |    list(CAST(COALESCE(dcnt.c, 0) AS REAL) ORDER BY g.dim)
       |      AS embedding
       |  FROM dsgrid g LEFT JOIN dcnt ON g.doc_id = dcnt.doc_id
       |    AND g.dim = dcnt.b
       |  GROUP BY g.doc_id),
       |${ivfCoreCtes(16, "", "", "dsemb", "d")},
       |dprobe AS (
       |  SELECT cid FROM (
       |    SELECT sdc2.cid,
       |      ROW_NUMBER() OVER (
       |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
       |          DESC, sdc2.cid) AS rn
       |    FROM sdc2 JOIN ndc2 USING (cid) WHERE sdc2.vec_id = 0)
       |  WHERE rn <= $nprobeDoc),
       |dcand AS (
       |  SELECT da2.vec_id FROM da2 JOIN dprobe USING (cid)
       |  WHERE da2.vec_id <> 0)""".stripMargin

  /** [[docIvfCtes]]' RAW-TEXT sibling: the query vector is a literal
    * text's hashed counts (the caller defines `tqd(b, qc)` from q-prefixed
    * embed CTEs), probe selection scores the SPARSE query against the doc
    * quantizer (a zero dim's term is FLOOR(0.5) = 0, so the sparse sum
    * equals the dense driver-side sum exactly), and `dcand` excludes
    * nothing — the query is not a corpus member.
    */
  private[graft] def docIvfTextCtes(nprobeDoc: Int): String =
    s"""${TextQueries.embedCntCteFrom("documents", "d")},
       |dsgrid AS (
       |  SELECT doc_id, unnest(range(0, 64)) AS dim
       |  FROM (SELECT DISTINCT doc_id FROM documents)),
       |dsemb AS MATERIALIZED (
       |  SELECT g.doc_id AS vec_id,
       |    list(CAST(COALESCE(dcnt.c, 0) AS REAL) ORDER BY g.dim)
       |      AS embedding
       |  FROM dsgrid g LEFT JOIN dcnt ON g.doc_id = dcnt.doc_id
       |    AND g.dim = dcnt.b
       |  GROUP BY g.doc_id),
       |${ivfCoreCtes(16, "", "", "dsemb", "d")},
       |dqs AS (
       |  SELECT dc2.cid,
       |    CAST(SUM(CAST(FLOOR(tqd.qc * dc2.cq * 1000.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS sq
       |  FROM tqd JOIN dc2 ON tqd.b = dc2.dim GROUP BY 1),
       |dprobe AS (
       |  SELECT cid FROM (
       |    SELECT q.cid,
       |      ROW_NUMBER() OVER (
       |        ORDER BY CAST(q.sq AS DOUBLE) / sqrt(CAST(n.norm2q AS DOUBLE))
       |          DESC, q.cid) AS rn
       |    FROM dqs q JOIN ndc2 n USING (cid))
       |  WHERE rn <= $nprobeDoc),
       |dcand AS (SELECT da2.vec_id FROM da2 JOIN dprobe USING (cid))""".stripMargin

  /** [[twoStageIvfCtes]]' RAW-TEXT sibling — the `ann_serve_text` replay:
    * the literal query text embeds through the q-prefixed hashed-TF CTEs
    * (tokens + bigrams, the corpus embedder exactly), both probe
    * selections score the sparse query vector, no stage excludes it.
    * Ends in `tsr` like the vec-id form.
    */
  private def twoStageIvfTextCtes(queryTextSql: String, coarseK: Int,
                                  nprobeDoc: Int, nprobeChunk: Int): String =
    s"""$chunkCorpusCtes,
       |qdoc AS (SELECT CAST(-1 AS BIGINT) AS doc_id, $queryTextSql AS text),
       |${TextQueries.embedCntCteFrom("qdoc", "q")},
       |tqd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM qcnt),
       |tqn AS (SELECT SUM(qc * qc) AS qn2 FROM tqd),
       |${docIvfTextCtes(nprobeDoc)},
       |tdots AS (
       |  SELECT e.doc_id,
       |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
       |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
       |  FROM dcnt e LEFT JOIN tqd q ON e.b = q.b
       |  SEMI JOIN dcand ON e.doc_id = dcand.vec_id
       |  GROUP BY e.doc_id),
       |tcoarse AS (
       |  SELECT doc_id AS parent_id FROM (
       |    SELECT d.doc_id,
       |      ROW_NUMBER() OVER (ORDER BY
       |        d.dot / NULLIF(sqrt(d.n2) * sqrt(tqn.qn2), 0)
       |        DESC NULLS LAST, d.doc_id) AS rn
       |    FROM tdots d, tqn)
       |  WHERE rn <= $coarseK),
       |cgrid AS (
       |  SELECT doc_id, unnest(range(0, 64)) AS dim
       |  FROM (SELECT DISTINCT doc_id FROM chunks)),
       |embeddings AS MATERIALIZED (
       |  SELECT g.doc_id AS vec_id,
       |    list(CAST(COALESCE(cnt.c, 0) AS REAL) ORDER BY g.dim)
       |      AS embedding
       |  FROM cgrid g LEFT JOIN cnt ON g.doc_id = cnt.doc_id
       |    AND g.dim = cnt.b
       |  GROUP BY g.doc_id),
       |${ivfCoreCtes(16)},
       |qsc AS (
       |  SELECT c2.cid,
       |    CAST(SUM(CAST(FLOOR(tqd.qc * c2.cq * 1000.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS sq
       |  FROM tqd JOIN c2 ON tqd.b = c2.dim GROUP BY 1),
       |cprobe AS (
       |  SELECT cid FROM (
       |    SELECT q.cid,
       |      ROW_NUMBER() OVER (
       |        ORDER BY CAST(q.sq AS DOUBLE) / sqrt(CAST(n.norm2q AS DOUBLE))
       |          DESC, q.cid) AS rn
       |    FROM qsc q JOIN nc2 n USING (cid))
       |  WHERE rn <= $nprobeChunk),
       |ccand AS (
       |  SELECT a2.vec_id FROM a2 JOIN cprobe USING (cid)
       |  SEMI JOIN tcoarse ON a2.vec_id // 1048576 = tcoarse.parent_id),
       |tchf AS (
       |  SELECT e.doc_id AS vec_id, e.doc_id // 1048576 AS parent_id,
       |    e.b, e.c
       |  FROM cnt e SEMI JOIN ccand ON e.doc_id = ccand.vec_id),
       |tcd AS (
       |  SELECT vec_id, MIN(parent_id) AS parent_id,
       |    SUM(CAST(c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
       |    SUM(CAST(c AS DOUBLE) * c) AS n2
       |  FROM tchf LEFT JOIN tqd q ON tchf.b = q.b
       |  GROUP BY vec_id),
       |tsr AS (
       |  SELECT vec_id, parent_id,
       |    dot / NULLIF(sqrt(n2) * sqrt(tqn.qn2), 0) AS cosine
       |  FROM tcd, tqn)""".stripMargin

  /** `allowedWhere` (a predicate on the `documents` alias `ad`, e.g.
    * `ad.source = 'src1'`) replays the FILTERED serving form: stage 1's
    * candidates semi-join the allow-list BEFORE the coarse ranking —
    * [[graft.operators.Ivf.probe]]'s `allowed` semantics — so a
    * starved pool replays under-full exactly like the engine.
    */
  private def twoStageIvfCtes(coarseK: Int, nprobeDoc: Int,
                              nprobeChunk: Int,
                              allowedWhere: String = ""): String = {
    val candFilter =
      if (allowedWhere.isEmpty) ""
      else s"""dcandf AS (
              |  SELECT dc.vec_id FROM dcand dc
              |  SEMI JOIN documents ad ON dc.vec_id = ad.doc_id
              |    AND ($allowedWhere)),
              |""".stripMargin
    val cand = if (allowedWhere.isEmpty) "dcand" else "dcandf"
    s"""$chunkCorpusCtes,
       |${docIvfCtes(nprobeDoc)},
       |${candFilter}tqd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM dcnt
       |        WHERE doc_id = 0),
       |tqn AS (SELECT SUM(qc * qc) AS qn2 FROM tqd),
       |tdots AS (
       |  SELECT e.doc_id,
       |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
       |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
       |  FROM dcnt e LEFT JOIN tqd q ON e.b = q.b
       |  SEMI JOIN $cand ON e.doc_id = $cand.vec_id
       |  WHERE e.doc_id <> 0 GROUP BY e.doc_id),
       |tcoarse AS (
       |  SELECT doc_id AS parent_id FROM (
       |    SELECT d.doc_id,
       |      ROW_NUMBER() OVER (ORDER BY
       |        d.dot / NULLIF(sqrt(d.n2) * sqrt(tqn.qn2), 0)
       |        DESC NULLS LAST, d.doc_id) AS rn
       |    FROM tdots d, tqn)
       |  WHERE rn <= $coarseK),
       |cgrid AS (
       |  SELECT doc_id, unnest(range(0, 64)) AS dim
       |  FROM (SELECT DISTINCT doc_id FROM chunks)),
       |embeddings AS MATERIALIZED (
       |  SELECT g.doc_id AS vec_id,
       |    list(CAST(COALESCE(cnt.c, 0) AS REAL) ORDER BY g.dim)
       |      AS embedding
       |  FROM cgrid g LEFT JOIN cnt ON g.doc_id = cnt.doc_id
       |    AND g.dim = cnt.b
       |  GROUP BY g.doc_id),
       |${ivfCoreCtes(16)},
       |qvd AS (SELECT dim, v FROM dvd WHERE vec_id = 0),
       |qsc AS (
       |  SELECT c2.cid,
       |    CAST(SUM(CAST(FLOOR(qvd.v * c2.cq * 1000.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS sq
       |  FROM qvd JOIN c2 USING (dim) GROUP BY 1),
       |cprobe AS (
       |  SELECT cid FROM (
       |    SELECT q.cid,
       |      ROW_NUMBER() OVER (
       |        ORDER BY CAST(q.sq AS DOUBLE) / sqrt(CAST(n.norm2q AS DOUBLE))
       |          DESC, q.cid) AS rn
       |    FROM qsc q JOIN nc2 n USING (cid))
       |  WHERE rn <= $nprobeChunk),
       |ccand AS (
       |  SELECT a2.vec_id FROM a2 JOIN cprobe USING (cid)
       |  SEMI JOIN tcoarse ON a2.vec_id // 1048576 = tcoarse.parent_id),
       |tchf AS (
       |  SELECT e.doc_id AS vec_id, e.doc_id // 1048576 AS parent_id,
       |    e.b, e.c
       |  FROM cnt e SEMI JOIN ccand ON e.doc_id = ccand.vec_id),
       |tcd AS (
       |  SELECT vec_id, MIN(parent_id) AS parent_id,
       |    SUM(CAST(c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
       |    SUM(CAST(c AS DOUBLE) * c) AS n2
       |  FROM tchf LEFT JOIN tqd q ON tchf.b = q.b
       |  GROUP BY vec_id),
       |tsr AS (
       |  SELECT vec_id, parent_id,
       |    dot / NULLIF(sqrt(n2) * sqrt(tqn.qn2), 0) AS cosine
       |  FROM tcd, tqn)""".stripMargin
  }

  /** The MMR greedy selection, unrolled as `selectK` argmax CTEs (the
    * lloydStep textual-repetition pattern — sequential selection can't be
    * one aggregation): `rel(vec_id, parent_id, cosine, rel2)` and
    * `psim(a, b2, s)` must be in scope; emits `selall(rn, vec_id)`.
    * Steps past pool exhaustion yield zero rows, so rn stays contiguous.
    */
  private[graft] def mmrSelectCtes(selectK: Int, lambdaRel: String = "0.7",
                                   lambdaDiv: String = "0.3"): String = {
    // every step CTE is MATERIALIZED: cand_i references seld_{i-1} twice
    // and seld_i chains on it, so inlined evaluation would re-run the
    // whole upstream pool/sim chain 2^selectK times (measured: the
    // un-materialized form never finished at sf0.01)
    val steps = (2 to selectK).map { i =>
      s"""cand$i AS MATERIALIZED (
         |  SELECT r.vec_id, r.rel2, MAX(COALESCE(p.s, 0)) AS ms
         |  FROM rel r
         |  CROSS JOIN seld${i - 1} sd
         |  LEFT JOIN psim p ON p.a = r.vec_id AND p.b2 = sd.vec_id
         |  WHERE r.vec_id NOT IN (SELECT vec_id FROM seld${i - 1})
         |  GROUP BY r.vec_id, r.rel2),
         |sel$i AS MATERIALIZED (
         |  SELECT vec_id FROM cand$i
         |  ORDER BY $lambdaRel * rel2 - $lambdaDiv * ms DESC, vec_id
         |  LIMIT 1),
         |seld$i AS MATERIALIZED (SELECT vec_id FROM seld${i - 1}
         |  UNION ALL SELECT vec_id FROM sel$i)""".stripMargin
    }.mkString(",\n")
    val selall = (1 to selectK)
      .map(i => s"SELECT $i AS rn, vec_id FROM sel$i")
      .mkString("\n  UNION ALL ")
    s"""sel1 AS MATERIALIZED (
       |  SELECT vec_id FROM rel ORDER BY rel2 DESC, vec_id LIMIT 1),
       |seld1 AS MATERIALIZED (SELECT vec_id FROM sel1),
       |$steps,
       |selall AS (
       |  $selall)""".stripMargin
  }

  /** The shared IVF core: quantized coordinates, md5 seeds, two Lloyd
    * steps → `c2`, full assignment `a2` (the inverted lists). Prefix for
    * the probe twin, the list-size twin, and DedupQueries' SemDeDup twin.
    *
    * A non-empty `trainWhere` (a predicate on `vec_id`) restricts TRAINING
    * — seeds and both Lloyd steps — to that subset while `a2` still assigns
    * every vector: exactly Ivf.buildIncremental's semantics (frozen
    * quantizer from the base corpus, batch assigned and appended).
    *
    * `src` names the (vec_id, embedding) source table/CTE (default the
    * `embeddings` fixture, shadowable by a MATERIALIZED CTE — the flagship
    * trick); `p` prefixes every generated CTE name so TWO independent IVF
    * chains (doc-level + chunk-level, the indexed two-stage twin) coexist
    * in one query.
    */
  private[graft] def ivfCoreCtes(nlist: Int, trainWhere: String = "",
                                 corpusWhere: String = "",
                                 src: String = "embeddings",
                                 p: String = ""): String = {
    val tvd = if (trainWhere.isEmpty) s"${p}vd" else s"${p}tvd"
    val tvdCte =
      if (trainWhere.isEmpty) ""
      else s"${p}tvd AS (SELECT * FROM ${p}vd WHERE $trainWhere),\n"
    val seedConds = Seq(corpusWhere, trainWhere).filter(_.nonEmpty)
    val seedWhere =
      if (seedConds.isEmpty) "" else "\n  WHERE " + seedConds.mkString(" AND ")
    val idxWhere = if (corpusWhere.isEmpty) "" else s"\n  WHERE $corpusWhere"
    s"""${p}idx AS (
       |  SELECT vec_id, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS i
       |  FROM $src$idxWhere),
       |${p}vd AS (
       |  SELECT vec_id, i - 1 AS dim,
       |    CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v,
       |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
       |      * 1000000.0 + 0.5) AS BIGINT) AS vq
       |  FROM ${p}idx),
       |$tvdCte${p}seed AS (
       |  SELECT (('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
       |      % $nlist) AS cid,
       |    MIN(vec_id) AS svid
       |  FROM $src$seedWhere GROUP BY 1),
       |${p}c0 AS (
       |  SELECT s.cid, v.dim, v.vq AS cq
       |  FROM ${p}seed s JOIN $tvd v ON v.vec_id = s.svid),
       |${lloydStep(s"${p}c0", s"${p}a0", s"${p}c1", tvd)},
       |${lloydStep(s"${p}c1", s"${p}a1", s"${p}c2", tvd)},
       |${assignCte(s"${p}c2", s"${p}a2", s"${p}vd")}""".stripMargin
  }

  /** Full DuckDB twin of Ivf.buildIndex(nlist=16, iters=2) +
    * probe(queryVecId=0, k=10, nprobe=4); with `trainWhere`, the twin of
    * Ivf.buildIncremental (train on base, assign all) + probe. A non-empty
    * `deleteWhere` excludes matching vec_ids from the CANDIDATES only —
    * training and assignment still see them, exactly the semantics of
    * Ivf.deleteFromIndex's tombstone anti-join over a full-corpus index.
    */
  private def ivfSql(nlist: Int = 16, nprobe: Int = 4, k: Int = 10,
                     trainWhere: String = "", deleteWhere: String = ""): String = {
    val candNot = if (deleteWhere.isEmpty) "" else s" AND NOT ($deleteWhere)"
    s"""WITH ${ivfCoreCtes(nlist, trainWhere)},
       |probe AS (
       |  SELECT cid FROM (
       |    SELECT sc2.cid,
       |      ROW_NUMBER() OVER (
       |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
       |          DESC, sc2.cid) AS rn
       |    FROM sc2 JOIN nc2 USING (cid) WHERE sc2.vec_id = 0)
       |  WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT a2.vec_id FROM a2 JOIN probe USING (cid)
       |  WHERE a2.vec_id <> 0$candNot),
       |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id,
       |  (${dotSql("e.embedding", "q.qe")})
       |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
       |FROM cand JOIN embeddings e USING (vec_id), qe q
       |ORDER BY cosine DESC, e.vec_id
       |LIMIT $k""".stripMargin
  }

  // ---- PQ oracle machinery ----
  //
  // Same replay strategy as ivfSql, keyed by subspace: vd carries
  // (sub, sdim) split coordinates, Lloyd runs per (sub, cid), encoding is
  // the exact-integer argmin-L2 (norm2q − 2000·sq — QuantDot's contract),
  // the query LUT is the same quantized partial dot per (sub, cid), and the
  // ADC ranking is an exact integer sum. Final re-rank = the ann_topk
  // cosine twin.

  /** One per-subspace Lloyd step over source CTE `vd` (any table with
    * vec_id/sub/sdim/v/vq — raw vectors for PQ, residuals for IVF-PQ):
    * codebook CTE `prev` → assignment `asg` → re-gridded mean `next`.
    */
  private def pqLloydStep(vd: String, prev: String, asg: String, next: String): String =
    s"""${pqAssignCte(vd, prev, asg)},
       |$next AS (
       |  SELECT $asg.sub, $asg.cid, $vd.sdim,
       |    CAST(FLOOR(CAST(CAST(SUM($vd.vq) AS BIGINT) AS DOUBLE) / COUNT(*)
       |      + 0.5) AS BIGINT) AS cq
       |  FROM $asg JOIN $vd ON $asg.vec_id = $vd.vec_id AND $asg.sub = $vd.sub
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** Exact-integer argmin-L2 encoding of every (vector, subspace) in source
    * CTE `vd` against codebook CTE `c` → assignment CTE `asg`.
    */
  private def pqAssignCte(vd: String, c: String, asg: String): String =
    s"""n$c AS (
       |  SELECT sub, cid, CAST(SUM(cq * cq) AS BIGINT) AS norm2q
       |  FROM $c GROUP BY 1, 2),
       |s$c AS (
       |  SELECT $vd.vec_id, $c.sub, $c.cid,
       |    CAST(SUM(CAST(FLOOR($vd.v * $c.cq * 1000.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS sq
       |  FROM $vd JOIN $c ON $vd.sub = $c.sub AND $vd.sdim = $c.sdim
       |  GROUP BY 1, 2, 3),
       |$asg AS (
       |  SELECT vec_id, sub, cid FROM (
       |    SELECT s$c.vec_id, s$c.sub, s$c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY s$c.vec_id, s$c.sub
       |        ORDER BY (norm2q - 2000 * sq), s$c.cid) AS rn
       |    FROM s$c JOIN n$c ON s$c.sub = n$c.sub AND s$c.cid = n$c.cid)
       |  WHERE rn = 1)""".stripMargin

  /** The shared PQ core: per-subspace quantized coordinates, md5 seeds,
    * two per-subspace Lloyd steps → codebooks `c2`, full encoding `a2`
    * (the codes table). As in [[ivfCoreCtes]], a non-empty `trainWhere`
    * restricts TRAINING to that subset while `a2` still encodes every
    * vector — Pq.buildIncremental's semantics (frozen codebooks, batch
    * encoded and appended).
    */
  private def pqCoreCtes(subDim: Int = 8, ksub: Int = 16,
                         trainWhere: String = ""): String = {
    val tvd = if (trainWhere.isEmpty) "vd" else "tvd"
    val tvdCte =
      if (trainWhere.isEmpty) ""
      else s"tvd AS (SELECT * FROM vd WHERE $trainWhere),\n"
    val seedWhere = if (trainWhere.isEmpty) "" else s"\n  WHERE $trainWhere"
    s"""idx AS (
       |  SELECT vec_id, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS i
       |  FROM embeddings),
       |vd AS (
       |  SELECT vec_id,
       |    CAST((i - 1) // $subDim AS INT) AS sub,
       |    CAST((i - 1) % $subDim AS INT) AS sdim,
       |    CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v,
       |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
       |      * 1000000.0 + 0.5) AS BIGINT) AS vq
       |  FROM idx),
       |${tvdCte}seed AS (
       |  SELECT (('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
       |      % $ksub) AS cid,
       |    MIN(vec_id) AS svid
       |  FROM embeddings$seedWhere GROUP BY 1),
       |c0 AS (
       |  SELECT $tvd.sub, s.cid, $tvd.sdim, $tvd.vq AS cq
       |  FROM seed s JOIN $tvd ON $tvd.vec_id = s.svid),
       |${pqLloydStep(tvd, "c0", "a0", "c1")},
       |${pqLloydStep(tvd, "c1", "a1", "c2")},
       |${pqAssignCte("vd", "c2", "a2")}""".stripMargin
  }

  /** The PQ probe chain over [[pqCoreCtes]]' `c2`/`a2`: query LUT, ADC
    * ranking, top-`rerank` candidates, query vector. `deleteWhere`
    * excludes ids from the ADC ranking BEFORE the rerank cut (deleted
    * vectors must not consume rerank slots) — CodesIndex.deleteFromIndex's
    * semantics.
    */
  private def pqProbeCtes(rerank: Int = 50, deleteWhere: String = ""): String = {
    val adcNot = if (deleteWhere.isEmpty) "" else s" AND NOT ($deleteWhere)"
    s"""lut AS (
       |  SELECT c2.sub, c2.cid,
       |    CAST(SUM(CAST(FLOOR(vd.v * c2.cq * 1000.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS dotq
       |  FROM vd JOIN c2 ON vd.sub = c2.sub AND vd.sdim = c2.sdim
       |  WHERE vd.vec_id = 0 GROUP BY 1, 2),
       |adc AS (
       |  SELECT a2.vec_id, CAST(SUM(l.dotq) AS BIGINT) AS adcq
       |  FROM a2 JOIN lut l ON a2.sub = l.sub AND a2.cid = l.cid
       |  WHERE a2.vec_id <> 0$adcNot GROUP BY 1),
       |cand AS (
       |  SELECT vec_id FROM adc ORDER BY adcq DESC, vec_id LIMIT $rerank),
       |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)""".stripMargin
  }

  /** Full DuckDB twin of Pq.buildIndex(m=8, ksub=16, iters=2) +
    * probe(queryVecId=0, k=10, rerank=50); with `trainWhere`, the twin of
    * Pq.buildIncremental + probe; with `deleteWhere`, of deleteFromIndex +
    * probe.
    */
  private def pqSql(subDim: Int = 8, ksub: Int = 16,
                    rerank: Int = 50, k: Int = 10,
                    trainWhere: String = "", deleteWhere: String = ""): String =
    s"""WITH ${pqCoreCtes(subDim, ksub, trainWhere)},
       |${pqProbeCtes(rerank, deleteWhere)}
       |SELECT e.vec_id,
       |  (${dotSql("e.embedding", "q.qe")})
       |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
       |FROM cand JOIN embeddings e USING (vec_id), qe q
       |ORDER BY cosine DESC, e.vec_id
       |LIMIT $k""".stripMargin

  // ---- IVF-PQ oracle machinery ----
  //
  // Composition of the two replay strategies: the coarse half IS ivfSql's
  // CTE chain (vd, md5 seeds, two Lloyd steps → c2, assignment a2, probe
  // selection keeping the integer q·c term), then residuals rvd
  // (vq − cq — exact on-grid longs), the per-subspace PQ chain over rvd,
  // per-probed-list LUTs on the query's residual, and the ADC ranking
  // baseq + Σlut as exact longs. Final re-rank = the ann_topk cosine twin.

  /** The shared IVF-PQ core: the [[ivfCoreCtes]] coarse chain, residuals
    * `rvd`, and the per-subspace PQ chain over residuals → `c2p`/`a2p`.
    * A non-empty `trainWhere` restricts BOTH trainings (coarse Lloyd and
    * residual-codebook Lloyd) to that subset while assignment and encoding
    * still cover every vector — IvfPq.buildIncremental's semantics.
    */
  private def ivfPqCoreCtes(nlist: Int = 16, subDim: Int = 8,
                            ksub: Int = 16, trainWhere: String = ""): String = {
    val trvd = if (trainWhere.isEmpty) "rvd" else "trvd"
    val trvdCte =
      if (trainWhere.isEmpty) ""
      else s"trvd AS (SELECT * FROM rvd WHERE $trainWhere),\n"
    val seedWhere = if (trainWhere.isEmpty) "" else s"\n  WHERE $trainWhere"
    s"""${ivfCoreCtes(nlist, trainWhere)},
       |rvd AS (
       |  SELECT vd.vec_id,
       |    CAST(vd.dim // $subDim AS INT) AS sub,
       |    CAST(vd.dim % $subDim AS INT) AS sdim,
       |    CAST(vd.vq - c2.cq AS DOUBLE) / 1000000.0 AS v,
       |    vd.vq - c2.cq AS vq
       |  FROM vd
       |  JOIN a2 ON a2.vec_id = vd.vec_id
       |  JOIN c2 ON c2.cid = a2.cid AND c2.dim = vd.dim),
       |${trvdCte}pseed AS (
       |  SELECT (('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
       |      % $ksub) AS cid,
       |    MIN(vec_id) AS svid
       |  FROM embeddings$seedWhere GROUP BY 1),
       |c0p AS (
       |  SELECT $trvd.sub, s.cid, $trvd.sdim, $trvd.vq AS cq
       |  FROM pseed s JOIN $trvd ON $trvd.vec_id = s.svid),
       |${pqLloydStep(trvd, "c0p", "a0p", "c1p")},
       |${pqLloydStep(trvd, "c1p", "a1p", "c2p")},
       |${pqAssignCte("rvd", "c2p", "a2p")}""".stripMargin
  }

  /** The IVF-PQ probe chain over [[ivfPqCoreCtes]]: probed lists,
    * per-list query residuals, per-list LUTs, ADC ranking, top-`rerank`
    * candidates, query vector.
    */
  private def ivfPqProbeCtes(subDim: Int = 8, nprobe: Int = 4,
                             rerank: Int = 50, deleteWhere: String = ""): String = {
    val adcNot = if (deleteWhere.isEmpty) "" else s" AND NOT ($deleteWhere)"
    s"""probe AS (
       |  SELECT cid, sq FROM (
       |    SELECT sc2.cid, sq,
       |      ROW_NUMBER() OVER (
       |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
       |          DESC, sc2.cid) AS rn
       |    FROM sc2 JOIN nc2 USING (cid) WHERE sc2.vec_id = 0)
       |  WHERE rn <= $nprobe),
       |qrv AS (
       |  SELECT p.cid AS list,
       |    CAST(vd.dim // $subDim AS INT) AS sub,
       |    CAST(vd.dim % $subDim AS INT) AS sdim,
       |    (vd.v - CAST(c2.cq AS DOUBLE) / 1000000.0) AS qr
       |  FROM probe p
       |  JOIN c2 ON c2.cid = p.cid
       |  JOIN vd ON vd.dim = c2.dim
       |  WHERE vd.vec_id = 0),
       |lut AS (
       |  SELECT q.list, c.sub, c.cid,
       |    CAST(SUM(CAST(FLOOR(q.qr * c.cq * 1000.0 + 0.5) AS BIGINT))
       |      AS BIGINT) AS dotq
       |  FROM qrv q JOIN c2p c ON c.sub = q.sub AND c.sdim = q.sdim
       |  GROUP BY 1, 2, 3),
       |adc AS (
       |  SELECT a2p.vec_id, CAST(SUM(l.dotq) AS BIGINT) + p.sq AS adcq
       |  FROM a2p
       |  JOIN a2 ON a2.vec_id = a2p.vec_id
       |  JOIN lut l ON l.list = a2.cid AND l.sub = a2p.sub AND l.cid = a2p.cid
       |  JOIN probe p ON p.cid = a2.cid
       |  WHERE a2p.vec_id <> 0$adcNot
       |  GROUP BY a2p.vec_id, p.sq),
       |cand AS (
       |  SELECT vec_id FROM adc ORDER BY adcq DESC, vec_id LIMIT $rerank),
       |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)""".stripMargin
  }

  /** Full DuckDB twin of IvfPq.buildIndex(nlist=16, m=8, ksub=16, iters=2)
    * + probe(queryVecId=0, k=10, nprobe=4, rerank=50); with `deleteWhere`,
    * of deleteFromIndex + probe.
    */
  private def ivfPqSql(nlist: Int = 16, subDim: Int = 8, ksub: Int = 16,
                       nprobe: Int = 4, rerank: Int = 50, k: Int = 10,
                       deleteWhere: String = ""): String =
    s"""WITH ${ivfPqCoreCtes(nlist, subDim, ksub)},
       |${ivfPqProbeCtes(subDim, nprobe, rerank, deleteWhere)}
       |SELECT e.vec_id,
       |  (${dotSql("e.embedding", "q.qe")})
       |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
       |FROM cand JOIN embeddings e USING (vec_id), qe q
       |ORDER BY cosine DESC, e.vec_id
       |LIMIT $k""".stripMargin

  // ---- Random-projection oracle machinery ----
  //
  // The ±1 sign matrix inlines as a VALUES table (the hyperplane-constant
  // discipline); projections and rankings are sums/products of exact
  // longs, so both engines agree bit-for-bit.

  /** The 16×64 sign matrix as DuckDB VALUES tuples `(d, j, s)`. */
  private def rpSignsValues: String =
    Similarity.rpSigns(16).zipWithIndex.flatMap { case (row, d) =>
      row.zipWithIndex.map { case (s, j) => s"($d,$j,$s)" }
    }.mkString(",")

  /** Shared RP core: quantized coordinates + inlined signs + the exact
    * integer projection `proj` (vec_id, d, pv).
    */
  private def rpCoreCtes: String =
    s"""idx AS (
       |  SELECT vec_id, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS i
       |  FROM embeddings),
       |vd AS (
       |  SELECT vec_id, i - 1 AS dim,
       |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
       |      * 1000000.0 + 0.5) AS BIGINT) AS vq
       |  FROM idx),
       |signs AS (SELECT * FROM (VALUES $rpSignsValues) t(d, j, s)),
       |proj AS (
       |  SELECT vd.vec_id, signs.d,
       |    CAST(SUM(signs.s * vd.vq) AS BIGINT) AS pv
       |  FROM vd JOIN signs ON signs.j = vd.dim
       |  GROUP BY 1, 2)""".stripMargin

  // ---- SQ8 oracle machinery ----
  //
  // The simplest replay of the four: params are per-dimension MIN/MAX
  // SELECTIONS on the 1e-6 grid (no iterations), codes are exact floor
  // divisions of non-negative numerators, reconstruction is long
  // arithmetic on a common ×255 grid, and the ADC ranking sums
  // identically-rounded FLOOR(q·recon·1e3 + 0.5) terms — every step a
  // correctly-rounded function of exact integers, so both engines agree
  // bit-for-bit (Sq.scala's contract).

  /** The shared SQ core: quantized coordinates `vd`, per-dim params `prm`
    * (min/span on the training subset), and the full encoding `codes`
    * with the saturation clamp (append-path values outside the trained
    * range land on the code boundaries — Sq.codesCol's LEAST/GREATEST).
    * A non-empty `trainWhere` restricts the min/max pass to that subset
    * while `codes` still encodes every vector — Sq.buildIncremental's
    * semantics.
    */
  private def sqCoreCtes(trainWhere: String = ""): String = {
    val tvd = if (trainWhere.isEmpty) "vd" else "tvd"
    val tvdCte =
      if (trainWhere.isEmpty) ""
      else s"tvd AS (SELECT * FROM vd WHERE $trainWhere),\n"
    s"""idx AS (
       |  SELECT vec_id, embedding,
       |    unnest(range(1, len(embedding) + 1)) AS i
       |  FROM embeddings),
       |vd AS (
       |  SELECT vec_id, i - 1 AS dim,
       |    CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v,
       |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
       |      * 1000000.0 + 0.5) AS BIGINT) AS vq
       |  FROM idx),
       |${tvdCte}prm AS (
       |  SELECT dim, MIN(vq) AS mn, MAX(vq) - MIN(vq) AS sp
       |  FROM $tvd GROUP BY dim),
       |codes AS (
       |  SELECT vd.vec_id, vd.dim, p.mn, p.sp,
       |    CASE WHEN p.sp = 0 THEN 0
       |         ELSE ((LEAST(GREATEST(vd.vq, p.mn), p.mn + p.sp) - p.mn)
       |               * 255) // p.sp
       |    END AS code
       |  FROM vd JOIN prm p USING (dim))""".stripMargin
  }

  /** The SQ probe chain over [[sqCoreCtes]]' `codes`: reconstruct each
    * code on the ×255 long grid, integer-ADC rank, top-`rerank`
    * candidates, query vector. `deleteWhere` excludes ids BEFORE the
    * rerank cut — CodesIndex.deleteFromIndex's semantics.
    */
  private def sqProbeCtes(rerank: Int = 50, deleteWhere: String = ""): String = {
    val adcNot = if (deleteWhere.isEmpty) "" else s" AND NOT ($deleteWhere)"
    s"""adc AS (
       |  SELECT c.vec_id,
       |    CAST(SUM(CAST(FLOOR(q.v
       |      * CAST(c.mn * 255 + c.code * c.sp AS DOUBLE)
       |      * 1000.0 + 0.5) AS BIGINT)) AS BIGINT) AS adcq
       |  FROM codes c JOIN vd q USING (dim)
       |  WHERE q.vec_id = 0 AND c.vec_id <> 0$adcNot
       |  GROUP BY 1),
       |cand AS (
       |  SELECT vec_id FROM adc ORDER BY adcq DESC, vec_id LIMIT $rerank),
       |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)""".stripMargin
  }

  /** Full DuckDB twin of Sq.buildIndex(dim=64) + probe(queryVecId=0,
    * k=10, rerank=50); with `trainWhere`, of buildIncremental + probe;
    * with `deleteWhere`, of deleteFromIndex + probe.
    */
  private def sqSql(rerank: Int = 50, k: Int = 10,
                    trainWhere: String = "", deleteWhere: String = ""): String =
    s"""WITH ${sqCoreCtes(trainWhere)},
       |${sqProbeCtes(rerank, deleteWhere)}
       |SELECT e.vec_id,
       |  (${dotSql("e.embedding", "q.qe")})
       |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
       |FROM cand JOIN embeddings e USING (vec_id), qe q
       |ORDER BY cosine DESC, e.vec_id
       |LIMIT $k""".stripMargin

  // ---- IVF-SQ8 oracle machinery ----
  //
  // Composition of the coarse replay with the scalar chain: the coarse
  // half IS ivfCoreCtes (vd, md5 seeds, two Lloyd steps → c2, assignment
  // a2, probe selection keeping the integer q·c term), residuals rq =
  // vq − cq are exact on-grid longs, the min/max pass and clamped
  // encoding mirror sqCoreCtes over them, and the ADC ranking is
  // 255·sq + Σ floor(qr·recon255·1e3 + 0.5) — all exact longs on the
  // common ×(255·1e9) grid. Final re-rank = the ann_topk cosine twin.

  /** The shared IVF-SQ core: [[ivfCoreCtes]]' coarse chain, per-dim
    * residual longs `rvdq`, the residual min/max params `sprm` (trained on
    * `trainWhere`'s subset when non-empty — IvfSq.buildIncremental's
    * semantics), and the clamped encoding `scodes` covering every vector.
    */
  private def ivfSqCoreCtes(nlist: Int = 16, trainWhere: String = ""): String = {
    val tsrc = if (trainWhere.isEmpty) "rvdq" else "trvdq"
    val tsrcCte =
      if (trainWhere.isEmpty) ""
      else s"trvdq AS (SELECT * FROM rvdq WHERE $trainWhere),\n"
    s"""${ivfCoreCtes(nlist, trainWhere)},
       |rvdq AS (
       |  SELECT vd.vec_id, vd.dim, vd.vq - c2.cq AS rq
       |  FROM vd
       |  JOIN a2 ON a2.vec_id = vd.vec_id
       |  JOIN c2 ON c2.cid = a2.cid AND c2.dim = vd.dim),
       |${tsrcCte}sprm AS (
       |  SELECT dim, MIN(rq) AS mn, MAX(rq) - MIN(rq) AS sp
       |  FROM $tsrc GROUP BY dim),
       |scodes AS (
       |  SELECT r.vec_id, r.dim, p.mn, p.sp,
       |    CASE WHEN p.sp = 0 THEN 0
       |         ELSE ((LEAST(GREATEST(r.rq, p.mn), p.mn + p.sp) - p.mn)
       |               * 255) // p.sp
       |    END AS code
       |  FROM rvdq r JOIN sprm p USING (dim))""".stripMargin
  }

  /** The IVF-SQ probe chain over [[ivfSqCoreCtes]]: probed lists with
    * their integer q·c scores, per-(list, dim) query residuals, the
    * pruned ADC ranking on the ×(255·1e9) grid, top-`rerank` candidates,
    * query vector. `deleteWhere` excludes ids BEFORE the rerank cut.
    */
  private def ivfSqProbeCtes(nprobe: Int = 4, rerank: Int = 50,
                             deleteWhere: String = ""): String = {
    val adcNot = if (deleteWhere.isEmpty) "" else s" AND NOT ($deleteWhere)"
    s"""probe AS (
       |  SELECT cid, sq FROM (
       |    SELECT sc2.cid, sq,
       |      ROW_NUMBER() OVER (
       |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
       |          DESC, sc2.cid) AS rn
       |    FROM sc2 JOIN nc2 USING (cid) WHERE sc2.vec_id = 0)
       |  WHERE rn <= $nprobe),
       |qres AS (
       |  SELECT p.cid AS list, vd.dim,
       |    (vd.v - CAST(c2.cq AS DOUBLE) / 1000000.0) AS qr
       |  FROM probe p
       |  JOIN c2 ON c2.cid = p.cid
       |  JOIN vd ON vd.dim = c2.dim
       |  WHERE vd.vec_id = 0),
       |adc AS (
       |  SELECT s.vec_id,
       |    CAST(255 * p.sq AS BIGINT)
       |      + CAST(SUM(CAST(FLOOR(q.qr
       |          * CAST(s.mn * 255 + s.code * s.sp AS DOUBLE)
       |          * 1000.0 + 0.5) AS BIGINT)) AS BIGINT) AS adcq
       |  FROM scodes s
       |  JOIN a2 ON a2.vec_id = s.vec_id
       |  JOIN probe p ON p.cid = a2.cid
       |  JOIN qres q ON q.list = a2.cid AND q.dim = s.dim
       |  WHERE s.vec_id <> 0$adcNot
       |  GROUP BY s.vec_id, p.sq),
       |cand AS (
       |  SELECT vec_id FROM adc ORDER BY adcq DESC, vec_id LIMIT $rerank),
       |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)""".stripMargin
  }

  /** Full DuckDB twin of IvfSq.buildIndex(nlist=16, iters=2) +
    * probe(queryVecId=0, k=10, nprobe=4, rerank=50); `trainWhere` →
    * buildIncremental's semantics, `deleteWhere` → deleteFromIndex's.
    */
  private def ivfSqSql(nlist: Int = 16, nprobe: Int = 4, rerank: Int = 50,
                       k: Int = 10, trainWhere: String = "",
                       deleteWhere: String = ""): String =
    s"""WITH ${ivfSqCoreCtes(nlist, trainWhere)},
       |${ivfSqProbeCtes(nprobe, rerank, deleteWhere)}
       |SELECT e.vec_id,
       |  (${dotSql("e.embedding", "q.qe")})
       |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
       |FROM cand JOIN embeddings e USING (vec_id), qe q
       |ORDER BY cosine DESC, e.vec_id
       |LIMIT $k""".stripMargin

  /** Shared recall-intersection tail: approximate top-10 (exact re-rank of
    * `cand`) ∩ exact top-10, both deterministic, as k/n_hits/recall — the
    * `ann_recall_ivf` shape reused by the PQ and IVF-PQ recall twins.
    */
  private def recallTailSql: String =
    s"""apxk AS (
       |  SELECT e.vec_id FROM cand JOIN embeddings e USING (vec_id), qe q
       |  ORDER BY (${dotSql("e.embedding", "q.qe")})
       |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |       * sqrt(${dotSql("q.qe", "q.qe")})) DESC, e.vec_id
       |  LIMIT 10),
       |exk AS (
       |  SELECT e.vec_id FROM embeddings e, qe q
       |  WHERE e.vec_id <> 0
       |  ORDER BY (${dotSql("e.embedding", "q.qe")})
       |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |       * sqrt(${dotSql("q.qe", "q.qe")})) DESC, e.vec_id
       |  LIMIT 10)
       |SELECT CAST(10 AS BIGINT) AS k, COUNT(*) AS n_hits,
       |  CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall
       |FROM apxk JOIN exk USING (vec_id)""".stripMargin

  /** Shared core of the nprobe-calibration twins: the IVF core (optionally
    * corpus-restricted), per-query centroid ranks from the same sc2/nc2
    * scores the build twin already has, exact top-10 ground truth for the
    * 4-query holdout, and the cumulative recall-vs-nprobe curve `cum`.
    */
  private def nprobeCurveCtes(corpusWhere: String = ""): String = {
    val exWhere = if (corpusWhere.isEmpty) "" else s" AND $corpusWhere"
    s"""${ivfCoreCtes(16, "", corpusWhere)},
       |qs AS (
       |  SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |  WHERE vec_id IN (0, 2, 4, 6)),
       |qrank AS (
       |  SELECT sc2.vec_id AS qid, sc2.cid,
       |    ROW_NUMBER() OVER (PARTITION BY sc2.vec_id
       |      ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
       |        DESC, sc2.cid) AS list_rank
       |  FROM sc2 JOIN nc2 USING (cid)
       |  WHERE sc2.vec_id IN (0, 2, 4, 6)),
       |ex AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid
       |        ORDER BY (${dotSql("e.embedding", "q.qe")})
       |          / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |             * sqrt(${dotSql("q.qe", "q.qe")})) DESC, e.vec_id) AS rn
       |    FROM embeddings e, qs q
       |    WHERE e.vec_id <> q.qid$exWhere)
       |  WHERE rn <= 10),
       |hitsr AS (
       |  SELECT ex.qid, qrank.list_rank
       |  FROM ex JOIN a2 USING (vec_id)
       |  JOIN qrank ON qrank.qid = ex.qid AND qrank.cid = a2.cid),
       |curve AS (
       |  SELECT CAST(list_rank AS BIGINT) AS nprobe, COUNT(*) AS n_at
       |  FROM hitsr GROUP BY 1),
       |cum AS (
       |  SELECT nprobe,
       |    CAST(SUM(n_at) OVER (ORDER BY nprobe ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS n_hits
       |  FROM curve)""".stripMargin
  }

  /** One corpus's ann_autonprobe row: smallest curve step with recall >=
    * 90% of the 40 (= 4 queries x k 10) ground-truth slots.
    */
  private def autoNprobeRowSql(tag: String, corpusWhere: String): String = {
    val nvWhere = if (corpusWhere.isEmpty) "" else s" WHERE $corpusWhere"
    s"""SELECT * FROM (
       |WITH ${nprobeCurveCtes(corpusWhere)},
       |chosen AS (
       |  SELECT nprobe, n_hits FROM cum WHERE n_hits >= 36
       |  ORDER BY nprobe LIMIT 1)
       |SELECT '$tag' AS corpus, nv.n AS n_vectors,
       |  chosen.nprobe AS nprobe_auto, chosen.n_hits,
       |  CAST(chosen.n_hits AS DOUBLE) / 40.0 AS recall
       |FROM chosen,
       |  (SELECT COUNT(*) AS n FROM embeddings$nvWhere) nv)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "ann_topk_ivf" -> ivfSql(),

    "ann_nprobe_curve" ->
      s"""WITH ${nprobeCurveCtes()}
         |SELECT nprobe, n_hits,
         |  CAST(n_hits AS DOUBLE) / 40.0 AS recall
         |FROM cum ORDER BY nprobe""".stripMargin,

    "ann_autonprobe" ->
      s"""${autoNprobeRowSql("full", "")}
         |UNION ALL
         |${autoNprobeRowSql("half", "vec_id % 2 = 0")}
         |ORDER BY corpus""".stripMargin,

    // autoNlist's integer formula replayed: nlist = clamp(⌈n/2048⌉, 8,
    // 65536), width = ⌈n/nlist⌉, quantizer = nlist·dim values.
    "ann_nlist_plan" ->
      """WITH d AS (SELECT CAST(len(embedding) AS BIGINT) AS dim
        |           FROM embeddings LIMIT 1),
        |ns AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings
        |  UNION ALL SELECT 100000 UNION ALL SELECT 10000000
        |  UNION ALL SELECT 1000000000 UNION ALL SELECT 100000000000),
        |plan AS (
        |  SELECT n,
        |    LEAST(65536, GREATEST(8, (n + 2047) // 2048)) AS nlist,
        |    GREATEST(8, (n + 2047) // 2048) AS need
        |  FROM ns),
        |shp AS (
        |  SELECT n, nlist, need,
        |    (need + 65535) // 65536 AS n_shards
        |  FROM plan)
        |SELECT n AS n_vectors, CAST(nlist AS BIGINT) AS nlist,
        |  CAST((n + nlist - 1) // nlist AS BIGINT) AS list_width,
        |  CAST(nlist * d.dim AS BIGINT) AS centroid_values,
        |  CAST(n_shards AS BIGINT) AS n_shards,
        |  CAST((need + n_shards - 1) // n_shards AS BIGINT)
        |    AS nlist_per_shard,
        |  CAST((n + n_shards * ((need + n_shards - 1) // n_shards) - 1)
        |    // (n_shards * ((need + n_shards - 1) // n_shards)) AS BIGINT)
        |    AS sharded_width
        |FROM shp, d ORDER BY n_vectors""".stripMargin,

    // Recall twin: the ivfSql probe chain and the ann_topk exact chain as
    // CTEs, intersected. Both top-10 sets are fully deterministic (vec_id
    // tie-breaks), so the recall value itself hash-compares.
    "ann_recall_ivf" ->
      s"""WITH ${ivfCoreCtes(16)},
         |probe AS (
         |  SELECT cid FROM (
         |    SELECT sc2.cid,
         |      ROW_NUMBER() OVER (
         |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
         |          DESC, sc2.cid) AS rn
         |    FROM sc2 JOIN nc2 USING (cid) WHERE sc2.vec_id = 0)
         |  WHERE rn <= 4),
         |cand AS (
         |  SELECT a2.vec_id FROM a2 JOIN probe USING (cid)
         |  WHERE a2.vec_id <> 0),
         |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |ivfk AS (
         |  SELECT e.vec_id FROM cand JOIN embeddings e USING (vec_id), qe q
         |  ORDER BY (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) DESC, e.vec_id
         |  LIMIT 10),
         |exk AS (
         |  SELECT e.vec_id FROM embeddings e, qe q
         |  WHERE e.vec_id <> 0
         |  ORDER BY (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) DESC, e.vec_id
         |  LIMIT 10)
         |SELECT CAST(10 AS BIGINT) AS k, COUNT(*) AS n_hits,
         |  CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall
         |FROM ivfk JOIN exk USING (vec_id)""".stripMargin,
    "ann_topk_pq" -> pqSql(),
    "ann_topk_ivfpq" -> ivfPqSql(),

    // Incremental twins: identical probe chains, but TRAINING restricted
    // to the base corpus (vec_id % 5 <> 0) while assignment/encoding still
    // covers every vector — the replay of build-on-base + frozen-model
    // append. Hash equality proves append ≡ from-scratch-write-with-same-
    // model, the index-maintenance contract.
    "ann_incremental" -> ivfSql(trainWhere = "vec_id % 5 <> 0"),
    // same twin: compaction must not change a single probe result
    "ann_incremental_compact" -> ivfSql(trainWhere = "vec_id % 5 <> 0"),
    // lifecycle capstones: the IVF chain ends in an EXHAUSTIVE probe over
    // a rebalance-evolved quantizer, so its twin is plain brute force over
    // the survivors; the PQ chain keeps the default rerank, so its twin
    // replays the train-on-base ADC ranking minus the deleted candidates
    "ann_lifecycle" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id <> 0 AND NOT (e.vec_id % 7 = 3)
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,
    "ann_lifecycle_pq" -> pqSql(trainWhere = "vec_id % 5 <> 0",
      deleteWhere = "a2.vec_id % 7 = 3"),
    // composite capstone twin: train-on-base coarse+residual books,
    // candidates minus the deleted ids — the physical drop must land the
    // exact same ranking the tombstone mask produced
    "ann_lifecycle_ivfpq" ->
      s"""WITH ${ivfPqCoreCtes(trainWhere = "vec_id % 5 <> 0")},
         |${ivfPqProbeCtes(deleteWhere = "a2p.vec_id % 7 = 3")}
         |SELECT e.vec_id,
         |  (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM cand JOIN embeddings e USING (vec_id), qe q
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    // delete twins: full-corpus build, candidates exclude the deleted ids
    "ann_delete" -> ivfSql(deleteWhere = "a2.vec_id % 7 = 3"),
    // same twin: the physical drop must not change a single probe result
    "ann_delete_compact" -> ivfSql(deleteWhere = "a2.vec_id % 7 = 3"),
    "ann_delete_pq" -> pqSql(deleteWhere = "a2.vec_id % 7 = 3"),
    "ann_delete_ivfpq" -> ivfPqSql(deleteWhere = "a2p.vec_id % 7 = 3"),
    "ann_incremental_pq" -> pqSql(trainWhere = "vec_id % 5 <> 0"),

    // Filtered-search twins: exact = brute force under the predicate;
    // index = the sqSql chain with non-matching ids excluded from the ADC
    // ranking before the rerank cut (the deleteWhere machinery inverted
    // into an allow-list via a subquery).
    "ann_topk_filtered" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id <> 0 AND e.label = 3
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,
    "ann_topk_sq_filtered" -> sqSql(deleteWhere =
      "c.vec_id IN (SELECT e2.vec_id FROM embeddings e2 " +
        "WHERE e2.label IS DISTINCT FROM 3)"),
    "ann_topk_ivf_filtered" -> ivfSql(deleteWhere =
      "a2.vec_id IN (SELECT e2.vec_id FROM embeddings e2 " +
        "WHERE e2.label IS DISTINCT FROM 3)"),

    // RP twins: inlined sign matrix, exact-integer projection replay.
    "ann_rp_project" ->
      s"""WITH $rpCoreCtes
         |SELECT vec_id, d, pv FROM proj
         |WHERE vec_id < 100 ORDER BY vec_id, d""".stripMargin,

    "ann_topk_rp" ->
      s"""WITH $rpCoreCtes,
         |qp AS (SELECT d, pv AS qv FROM proj WHERE vec_id = 0),
         |sc AS (
         |  SELECT p.vec_id, CAST(SUM(p.pv * q.qv) AS BIGINT) AS score
         |  FROM proj p JOIN qp q ON p.d = q.d
         |  WHERE p.vec_id <> 0 GROUP BY 1),
         |cand AS (
         |  SELECT vec_id FROM sc ORDER BY score DESC, vec_id LIMIT 200),
         |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM cand JOIN embeddings e USING (vec_id), qe q
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    // Composite probeAll twins — the ann_knn_pq discipline with a
    // query-keyed probe selection over the sc2 scores the core chains
    // already compute, per-query residual LUTs / grids, and the ADC
    // ranking keyed by (query, vec) with the coarse base term.
    "ann_knn_ivfpq" ->
      s"""WITH ${ivfPqCoreCtes()},
         |qprobe AS (
         |  SELECT vec_id AS query_id, cid, sq FROM (
         |    SELECT sc2.vec_id, sc2.cid, sq,
         |      ROW_NUMBER() OVER (PARTITION BY sc2.vec_id
         |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
         |          DESC, sc2.cid) AS rn
         |    FROM sc2 JOIN nc2 USING (cid) WHERE sc2.vec_id < 10)
         |  WHERE rn <= 4),
         |qrv AS (
         |  SELECT p.query_id, p.cid AS list,
         |    CAST(vd.dim // 8 AS INT) AS sub,
         |    CAST(vd.dim % 8 AS INT) AS sdim,
         |    (vd.v - CAST(c2.cq AS DOUBLE) / 1000000.0) AS qr
         |  FROM qprobe p
         |  JOIN c2 ON c2.cid = p.cid
         |  JOIN vd ON vd.dim = c2.dim AND vd.vec_id = p.query_id),
         |qlut AS (
         |  SELECT q.query_id, q.list, c.sub, c.cid,
         |    CAST(SUM(CAST(FLOOR(q.qr * c.cq * 1000.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS dotq
         |  FROM qrv q JOIN c2p c ON c.sub = q.sub AND c.sdim = q.sdim
         |  GROUP BY 1, 2, 3, 4),
         |qadc AS (
         |  SELECT l.query_id, a2p.vec_id,
         |    CAST(SUM(l.dotq) AS BIGINT) + p.sq AS adcq
         |  FROM a2p
         |  JOIN a2 ON a2.vec_id = a2p.vec_id
         |  JOIN qlut l ON l.list = a2.cid AND l.sub = a2p.sub
         |    AND l.cid = a2p.cid
         |  JOIN qprobe p ON p.query_id = l.query_id AND p.cid = a2.cid
         |  WHERE a2p.vec_id <> l.query_id
         |  GROUP BY l.query_id, a2p.vec_id, p.sq),
         |qcand AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY adcq DESC, vec_id) AS rn
         |    FROM qadc) WHERE rn <= 50),
         |s AS (
         |  SELECT c.query_id, c.vec_id,
         |    (${dotSql("e.embedding", "q.embedding")})
         |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |         * sqrt(${dotSql("q.embedding", "q.embedding")})) AS cosine
         |  FROM qcand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.query_id),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |  FROM s)
         |SELECT query_id, vec_id, cosine, rn FROM r
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,

    "ann_knn_ivfsq" ->
      s"""WITH ${ivfSqCoreCtes()},
         |qprobe AS (
         |  SELECT vec_id AS query_id, cid, sq FROM (
         |    SELECT sc2.vec_id, sc2.cid, sq,
         |      ROW_NUMBER() OVER (PARTITION BY sc2.vec_id
         |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
         |          DESC, sc2.cid) AS rn
         |    FROM sc2 JOIN nc2 USING (cid) WHERE sc2.vec_id < 10)
         |  WHERE rn <= 4),
         |qres AS (
         |  SELECT p.query_id, p.cid AS list, vd.dim,
         |    (vd.v - CAST(c2.cq AS DOUBLE) / 1000000.0) AS qr
         |  FROM qprobe p
         |  JOIN c2 ON c2.cid = p.cid
         |  JOIN vd ON vd.dim = c2.dim AND vd.vec_id = p.query_id),
         |qadc AS (
         |  SELECT q.query_id, s.vec_id,
         |    CAST(255 * p.sq AS BIGINT)
         |      + CAST(SUM(CAST(FLOOR(q.qr
         |          * CAST(s.mn * 255 + s.code * s.sp AS DOUBLE)
         |          * 1000.0 + 0.5) AS BIGINT)) AS BIGINT) AS adcq
         |  FROM scodes s
         |  JOIN a2 ON a2.vec_id = s.vec_id
         |  JOIN qprobe p ON p.cid = a2.cid
         |  JOIN qres q ON q.query_id = p.query_id AND q.list = a2.cid
         |    AND q.dim = s.dim
         |  WHERE s.vec_id <> p.query_id
         |  GROUP BY q.query_id, s.vec_id, p.sq),
         |qcand AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY adcq DESC, vec_id) AS rn
         |    FROM qadc) WHERE rn <= 50),
         |s AS (
         |  SELECT c.query_id, c.vec_id,
         |    (${dotSql("e.embedding", "q.embedding")})
         |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |         * sqrt(${dotSql("q.embedding", "q.embedding")})) AS cosine
         |  FROM qcand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.query_id),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |  FROM s)
         |SELECT query_id, vec_id, cosine, rn FROM r
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,

    // IVF-SQ8 twins: coarse Lloyd replay ∘ residual min/max chain.
    "ann_topk_ivfsq" -> ivfSqSql(),
    "ann_recall_ivfsq" ->
      s"""WITH ${ivfSqCoreCtes()},
         |${ivfSqProbeCtes()},
         |$recallTailSql""".stripMargin,
    "ann_lifecycle_ivfsq" -> ivfSqSql(trainWhere = "vec_id % 5 <> 0",
      deleteWhere = "s.vec_id % 7 = 3"),

    // SQ8 twins: min/max replay, clamped encoding, exact-integer ADC.
    "ann_topk_sq" -> sqSql(),
    "ann_recall_sq" ->
      s"""WITH ${sqCoreCtes()},
         |${sqProbeCtes()},
         |$recallTailSql""".stripMargin,
    "ann_incremental_sq" -> sqSql(trainWhere = "vec_id % 5 <> 0"),
    // saturation twin: train-on-base params replayed, batch coordinates
    // counted outside [mn, mn+sp] per dim
    "ann_sq_saturation" ->
      s"""WITH idx AS (
         |  SELECT vec_id, embedding,
         |    unnest(range(1, len(embedding) + 1)) AS i
         |  FROM embeddings),
         |vd AS (
         |  SELECT vec_id, i - 1 AS dim,
         |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
         |      * 1000000.0 + 0.5) AS BIGINT) AS vq
         |  FROM idx),
         |tvd AS (SELECT * FROM vd WHERE vec_id % 5 <> 0),
         |prm AS (
         |  SELECT dim, MIN(vq) AS mn, MAX(vq) - MIN(vq) AS sp
         |  FROM tvd GROUP BY dim),
         |b AS (
         |  SELECT vd.dim, vd.vq, p.mn, p.sp
         |  FROM vd JOIN prm p USING (dim)
         |  WHERE vd.vec_id % 5 = 0)
         |SELECT dim,
         |  CAST(SUM(CASE WHEN vq < mn THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
         |  CAST(SUM(CASE WHEN vq > mn + sp THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_high,
         |  COUNT(*) AS n_values,
         |  CAST(SUM(CASE WHEN vq < mn OR vq > mn + sp THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*) AS clamp_frac
         |FROM b GROUP BY dim ORDER BY dim""".stripMargin,
    "ann_delete_sq" -> sqSql(deleteWhere = "c.vec_id % 7 = 3"),
    "ann_lifecycle_sq" -> sqSql(trainWhere = "vec_id % 5 <> 0",
      deleteWhere = "c.vec_id % 7 = 3"),

    // probeAll twin — the ann_knn_pq discipline over the scalar codes:
    // query-keyed ADC, per-query rerank cut, exact-cosine re-rank.
    "ann_knn_sq" ->
      s"""WITH ${sqCoreCtes()},
         |qadc AS (
         |  SELECT q.vec_id AS query_id, c.vec_id,
         |    CAST(SUM(CAST(FLOOR(q.v
         |      * CAST(c.mn * 255 + c.code * c.sp AS DOUBLE)
         |      * 1000.0 + 0.5) AS BIGINT)) AS BIGINT) AS adcq
         |  FROM codes c JOIN vd q USING (dim)
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
         |  GROUP BY 1, 2),
         |qcand AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY adcq DESC, vec_id) AS rn
         |    FROM qadc) WHERE rn <= 50),
         |s AS (
         |  SELECT c.query_id, c.vec_id,
         |    (${dotSql("e.embedding", "q.embedding")})
         |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |         * sqrt(${dotSql("q.embedding", "q.embedding")})) AS cosine
         |  FROM qcand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.query_id),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |  FROM s)
         |SELECT query_id, vec_id, cosine, rn FROM r
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,
    "ann_incremental_ivfpq" ->
      s"""WITH ${ivfPqCoreCtes(trainWhere = "vec_id % 5 <> 0")},
         |${ivfPqProbeCtes()}
         |SELECT e.vec_id,
         |  (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM cand JOIN embeddings e USING (vec_id), qe q
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    // pure-math twin: pinned chains over t = i/20, cosine labels as the
    // SAME driver-computed 4-dp literals the Spark side inlines
    "ann_lsh_plan" -> {
      val pb = "1.0" + " * (1.0 - t)" * 4
      val qb = "1.0" + " * (1.0 - pb)" * 8
      val cosCase = Similarity.cos4dpByTwentieth
        .map { case (i, v) => s"WHEN $i THEN $v" }.mkString(" ")
      s"""WITH g AS (SELECT unnest(range(1, 20)) AS i),
         |sv AS (SELECT CAST(i AS INT) AS i,
         |  CAST(i AS DOUBLE) / 20.0 AS t FROM g),
         |p AS (SELECT i, t, $pb AS pb FROM sv),
         |q AS (SELECT i, t, $qb AS qb FROM p)
         |SELECT i, t AS theta_frac,
         |  CASE i $cosCase END AS cos_s_4dp,
         |  FLOOR((1.0 - qb) * 1000000.0 + 0.5) / 1000000.0 AS p_detect_6dp
         |FROM q ORDER BY i""".stripMargin
    },

    // probeAll twin: per-query probe selection IS a ranking over the sc2
    // scores the core chain already computes for every vector; candidates,
    // re-rank and the per-query rn mirror the single-query chain.
    "ann_knn_ivf" ->
      s"""WITH ${ivfCoreCtes(16)},
         |probe AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT sc2.vec_id, sc2.cid,
         |      ROW_NUMBER() OVER (PARTITION BY sc2.vec_id
         |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
         |          DESC, sc2.cid) AS rn
         |    FROM sc2 JOIN nc2 USING (cid) WHERE sc2.vec_id < 10)
         |  WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, a2.vec_id
         |  FROM a2 JOIN probe p ON a2.cid = p.cid
         |  WHERE a2.vec_id <> p.query_id),
         |s AS (
         |  SELECT c.query_id, c.vec_id,
         |    (${dotSql("e.embedding", "q.embedding")})
         |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |         * sqrt(${dotSql("q.embedding", "q.embedding")})) AS cosine
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.query_id),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |  FROM s)
         |SELECT query_id, vec_id, cosine, rn FROM r
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,

    // PQ probeAll twin: per-query LUTs over vd × c2, ADC rank per query,
    // re-rank — the ann_knn_ivf discipline over the codes chain.
    "ann_knn_pq" ->
      s"""WITH ${pqCoreCtes()},
         |qlut AS (
         |  SELECT vd.vec_id AS query_id, c2.sub, c2.cid,
         |    CAST(SUM(CAST(FLOOR(vd.v * c2.cq * 1000.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS dotq
         |  FROM vd JOIN c2 ON vd.sub = c2.sub AND vd.sdim = c2.sdim
         |  WHERE vd.vec_id < 10 GROUP BY 1, 2, 3),
         |qadc AS (
         |  SELECT l.query_id, a2.vec_id, CAST(SUM(l.dotq) AS BIGINT) AS adcq
         |  FROM a2 JOIN qlut l ON a2.sub = l.sub AND a2.cid = l.cid
         |  WHERE a2.vec_id <> l.query_id GROUP BY 1, 2),
         |qcand AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY adcq DESC, vec_id) AS rn
         |    FROM qadc) WHERE rn <= 50),
         |s AS (
         |  SELECT c.query_id, c.vec_id,
         |    (${dotSql("e.embedding", "q.embedding")})
         |      / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |         * sqrt(${dotSql("q.embedding", "q.embedding")})) AS cosine
         |  FROM qcand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.query_id),
         |r AS (
         |  SELECT query_id, vec_id, cosine,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, vec_id) AS rn
         |  FROM s)
         |SELECT query_id, vec_id, cosine, rn FROM r
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,

    // Recall twins: the pq/ivfpq probe chains + the shared intersection
    // tail; both top-10 sets are deterministic, so the recall VALUE
    // hash-compares (ann_recall_ivf's discipline).
    "ann_recall_pq" ->
      s"""WITH ${pqCoreCtes()},
         |${pqProbeCtes()},
         |$recallTailSql""".stripMargin,
    "ann_recall_ivfpq" ->
      s"""WITH ${ivfPqCoreCtes()},
         |${ivfPqProbeCtes()},
         |$recallTailSql""".stripMargin,

    // the encoding replay grouped per (sub, cid), bucketed by bit length —
    // the stats_histogram twin over code counts
    "ann_pq_code_sizes" ->
      s"""WITH ${pqCoreCtes()},
         |cnt AS (
         |  SELECT sub, cid, COUNT(*) AS n_codes FROM a2 GROUP BY 1, 2),
         |b AS (
         |  SELECT sub,
         |    CASE WHEN vq <= 0 THEN 0 ELSE length(to_base(vq, 2)) END AS bucket
         |  FROM (SELECT sub,
         |    CAST(FLOOR(n_codes * 100.0 + 0.5) AS BIGINT) AS vq FROM cnt)),
         |g AS (SELECT sub, bucket, COUNT(*) AS n FROM b GROUP BY 1, 2)
         |SELECT sub, bucket, n,
         |  CASE WHEN bucket = 0 THEN NULL
         |       ELSE power(2.0, bucket - 1) / 100.0 END AS lo,
         |  CASE WHEN bucket = 0 THEN 0.0
         |       ELSE (power(2.0, bucket) - 1.0) / 100.0 END AS hi
         |FROM g ORDER BY sub, bucket""".stripMargin,

    // the assignment replay grouped — list sizes ARE the a2 histogram
    "ann_list_sizes" ->
      s"""WITH ${ivfCoreCtes(16)}
         |SELECT CAST(cid AS INT) AS list, COUNT(*) AS n_vectors
         |FROM a2 GROUP BY 1 ORDER BY list""".stripMargin,

    "ann_topk_lsh" ->
      s"""${lshCte()},
         |q AS (SELECT * FROM b WHERE vec_id = 0),
         |cand AS (
         |  SELECT DISTINCT c.vec_id
         |  FROM b c, q
         |  WHERE c.vec_id <> 0 AND (${anyBandEq("c", "q")})),
         |qe AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM cand JOIN embeddings e USING (vec_id), qe q
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    "ann_knn_lsh_all" ->
      s"""${lshCte()},
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM b a JOIN b c
         |    ON a.vec_id <> c.vec_id AND (${anyBandEq("a", "c")})),
         |s AS (
         |  SELECT p.query_id, p.neighbor_id,
         |    (${dotSql("q.embedding", "n.embedding")})
         |      / (sqrt(${dotSql("q.embedding", "q.embedding")})
         |         * sqrt(${dotSql("n.embedding", "n.embedding")})) AS cosine
         |  FROM pairs p
         |  JOIN embeddings q ON q.vec_id = p.query_id
         |  JOIN embeddings n ON n.vec_id = p.neighbor_id),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rn FROM s)
         |SELECT query_id, neighbor_id, cosine, rn FROM r
         |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin,

    // the knob-free twin: identical chain at the planner's resolved
    // (tables=4, bits=4) — distinct-then-rank in SQL equals the engine's
    // in-buffer duplicate collapse (same id ⇒ same cosine)
    "ann_knn_lsh_auto" ->
      s"""${lshCte(tables = 4, bits = 4)},
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM b a JOIN b c
         |    ON a.vec_id <> c.vec_id AND (${anyBandEq("a", "c", tables = 4)})),
         |s AS (
         |  SELECT p.query_id, p.neighbor_id,
         |    (${dotSql("q.embedding", "n.embedding")})
         |      / (sqrt(${dotSql("q.embedding", "q.embedding")})
         |         * sqrt(${dotSql("n.embedding", "n.embedding")})) AS cosine
         |  FROM pairs p
         |  JOIN embeddings q ON q.vec_id = p.query_id
         |  JOIN embeddings n ON n.vec_id = p.neighbor_id),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rn FROM s)
         |SELECT query_id, neighbor_id, cosine, rn FROM r
         |WHERE rn <= 3 ORDER BY query_id, rn""".stripMargin,

    // hard-negative twins: the exact form is the plain label-inequality
    // pair scan; the LSH form replays the (8, 4) inlined-hyperplane
    // buckets then applies the SAME label/ceiling gates — both rank by
    // (cosine DESC, neg_id), TopK's tie law
    "ann_hard_negatives" ->
      s"""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 500),
         |p AS (
         |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
         |    (${dotSql("a.embedding", "b.embedding")})
         |      / (sqrt(${dotSql("a.embedding", "a.embedding")})
         |         * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cosine
         |  FROM e a JOIN e b ON a.label <> b.label),
         |f AS (SELECT * FROM p WHERE cosine < 0.95),
         |r AS (SELECT anchor_id, neg_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY anchor_id
         |    ORDER BY cosine DESC, neg_id) AS rn FROM f)
         |SELECT anchor_id, neg_id, cosine, rn FROM r
         |WHERE rn <= 3 ORDER BY anchor_id, rn""".stripMargin,

    "ann_hard_negatives_lsh" ->
      s"""${lshCte()},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS anchor_id, c.vec_id AS neg_id
         |  FROM b a JOIN b c
         |    ON a.vec_id <> c.vec_id AND (${anyBandEq("a", "c")})),
         |s AS (
         |  SELECT p.anchor_id, p.neg_id,
         |    (${dotSql("q.embedding", "n.embedding")})
         |      / (sqrt(${dotSql("q.embedding", "q.embedding")})
         |         * sqrt(${dotSql("n.embedding", "n.embedding")})) AS cosine
         |  FROM cand p
         |  JOIN embeddings q ON q.vec_id = p.anchor_id
         |  JOIN embeddings n ON n.vec_id = p.neg_id
         |  WHERE q.label <> n.label),
         |f AS (SELECT * FROM s WHERE cosine < 0.95),
         |r AS (SELECT anchor_id, neg_id, cosine,
         |  ROW_NUMBER() OVER (PARTITION BY anchor_id
         |    ORDER BY cosine DESC, neg_id) AS rn FROM f)
         |SELECT anchor_id, neg_id, cosine, rn FROM r
         |WHERE rn <= 3 ORDER BY anchor_id, rn""".stripMargin,

    // contrastive twins: one symmetric pair scan feeds both halves — the
    // same-label top-1 (tie law: cosine DESC, id) and the other-label
    // hard-negative ranking; the LSH form mines BOTH from the replayed
    // (8, 4) bucket candidates
    "ann_contrastive" ->
      s"""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 500),
         |s AS (
         |  SELECT a.vec_id AS anchor_id, c.vec_id AS other_id,
         |    a.label AS a_label, c.label AS o_label,
         |    (${dotSql("a.embedding", "c.embedding")})
         |      / (sqrt(${dotSql("a.embedding", "a.embedding")})
         |         * sqrt(${dotSql("c.embedding", "c.embedding")})) AS cosine
         |  FROM e a JOIN e c ON a.vec_id <> c.vec_id),
         |pos AS (SELECT anchor_id, other_id AS pos_id, cosine AS pos_cosine,
         |  ROW_NUMBER() OVER (PARTITION BY anchor_id
         |    ORDER BY cosine DESC, other_id) AS prn
         |  FROM s WHERE a_label = o_label),
         |r AS (SELECT anchor_id, other_id AS neg_id, cosine AS neg_cosine,
         |  ROW_NUMBER() OVER (PARTITION BY anchor_id
         |    ORDER BY cosine DESC, other_id) AS rn
         |  FROM s WHERE a_label <> o_label AND cosine < 0.95)
         |SELECT p.anchor_id, p.pos_id, p.pos_cosine, r.neg_id,
         |  r.neg_cosine, r.rn
         |FROM pos p JOIN r ON p.anchor_id = r.anchor_id
         |WHERE p.prn = 1 AND r.rn <= 3 ORDER BY p.anchor_id, r.rn""".stripMargin,

    "ann_contrastive_lsh" ->
      s"""${lshCte()},
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS anchor_id, c.vec_id AS other_id
         |  FROM b a JOIN b c
         |    ON a.vec_id <> c.vec_id AND (${anyBandEq("a", "c")})),
         |s AS (
         |  SELECT p.anchor_id, p.other_id,
         |    q.label AS a_label, o.label AS o_label,
         |    (${dotSql("q.embedding", "o.embedding")})
         |      / (sqrt(${dotSql("q.embedding", "q.embedding")})
         |         * sqrt(${dotSql("o.embedding", "o.embedding")})) AS cosine
         |  FROM cand p
         |  JOIN embeddings q ON q.vec_id = p.anchor_id
         |  JOIN embeddings o ON o.vec_id = p.other_id),
         |pos AS (SELECT anchor_id, other_id AS pos_id, cosine AS pos_cosine,
         |  ROW_NUMBER() OVER (PARTITION BY anchor_id
         |    ORDER BY cosine DESC, other_id) AS prn
         |  FROM s WHERE a_label = o_label),
         |r AS (SELECT anchor_id, other_id AS neg_id, cosine AS neg_cosine,
         |  ROW_NUMBER() OVER (PARTITION BY anchor_id
         |    ORDER BY cosine DESC, other_id) AS rn
         |  FROM s WHERE a_label <> o_label AND cosine < 0.95)
         |SELECT p.anchor_id, p.pos_id, p.pos_cosine, r.neg_id,
         |  r.neg_cosine, r.rn
         |FROM pos p JOIN r ON p.anchor_id = r.anchor_id
         |WHERE p.prn = 1 AND r.rn <= 3 ORDER BY p.anchor_id, r.rn""".stripMargin,

    // content-preservation proof: the exhaustive probe over the SPLIT
    // index replays the plain exact top-k — any row lost or duplicated by
    // the re-balance rewrite breaks the hash
    "ann_rebalance" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id <> 0
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    // shared-oracle trick: exhaustive fan-out probe over 4 shard indexes
    // must equal brute force — any vector lost, duplicated or mis-sliced
    // by the sharded build breaks the hash
    "ann_knn_sharded" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id <> 0
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    "ann_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  (${dotSql("e.embedding", "q.qe")})
         |    / (sqrt(${dotSql("e.embedding", "e.embedding")})
         |       * sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM embeddings e, q
         |WHERE e.vec_id <> 0
         |ORDER BY cosine DESC, e.vec_id
         |LIMIT 10""".stripMargin,

    // Self-fed retrieval twin: hashed-TF counts replayed sparse. Every
    // count is an integer, so dot = Σ c_e·c_q and norm² = Σ c² are exact
    // in double under ANY summation order — no 64-term chain needed; the
    // LEFT JOIN zero-fills buckets the query doesn't occupy so every doc
    // keeps its full norm and appears in the ranking.
    // chunk replay → re-keyed chunk corpus → hashed-TF counts →
    // sparse-exact cosine top-10 from chunk key 0 (doc 0, chunk 0). No
    // index replay: the Spark side probes the materialized chunk index
    // EXHAUSTIVELY, so brute-force equality is the content-preservation
    // proof for the chunk build (the shared-oracle trick).
    "ann_topk_chunks" ->
      s"""WITH $chunkCorpusCtes,
         |qd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM cnt WHERE doc_id = 0),
         |dots AS (
         |  SELECT e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM cnt e LEFT JOIN qd q ON e.b = q.b
         |  WHERE e.doc_id <> 0 GROUP BY e.doc_id),
         |qn AS (SELECT SUM(qc * qc) AS qn2 FROM qd)
         |SELECT d.doc_id AS vec_id,
         |  d.dot / NULLIF(sqrt(d.n2) * sqrt(qn.qn2), 0) AS cosine
         |FROM dots d, qn
         |ORDER BY cosine DESC NULLS LAST, vec_id
         |LIMIT 10""".stripMargin,

    // Pruned chunk-index probe twin: the chunk corpus feeds an
    // `embeddings` CTE SHADOWING the fixture view (the flagship trick),
    // the full Lloyd/assignment replay runs over the GENERATED chunk
    // vectors, probe selection keeps the 4 best lists for chunk key 0 by
    // the quantized score, and the sparse-exact re-rank runs over the
    // pruned candidates only.
    "ann_topk_chunks_ivf" ->
      s"""WITH $chunkCorpusCtes,
         |cgrid AS (
         |  SELECT doc_id, unnest(range(0, 64)) AS dim
         |  FROM (SELECT DISTINCT doc_id FROM chunks)),
         |embeddings AS MATERIALIZED (
         |  SELECT g.doc_id AS vec_id,
         |    list(CAST(COALESCE(cnt.c, 0) AS REAL) ORDER BY g.dim)
         |      AS embedding
         |  FROM cgrid g LEFT JOIN cnt ON g.doc_id = cnt.doc_id
         |    AND g.dim = cnt.b
         |  GROUP BY g.doc_id),
         |${ivfCoreCtes(16)},
         |probe AS (
         |  SELECT cid FROM (
         |    SELECT sc2.cid,
         |      ROW_NUMBER() OVER (
         |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
         |          DESC, sc2.cid) AS rn
         |    FROM sc2 JOIN nc2 USING (cid) WHERE sc2.vec_id = 0)
         |  WHERE rn <= 4),
         |cand AS (
         |  SELECT a2.vec_id FROM a2 JOIN probe USING (cid)
         |  WHERE a2.vec_id <> 0),
         |cqd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM cnt WHERE doc_id = 0),
         |cdots AS (
         |  SELECT e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM cnt e LEFT JOIN cqd q ON e.b = q.b
         |  SEMI JOIN cand ON e.doc_id = cand.vec_id
         |  WHERE e.doc_id <> 0 GROUP BY e.doc_id),
         |cqn AS (SELECT SUM(qc * qc) AS qn2 FROM cqd)
         |SELECT d.doc_id AS vec_id,
         |  d.dot / NULLIF(sqrt(d.n2) * sqrt(cqn.qn2), 0) AS cosine
         |FROM cdots d, cqn
         |ORDER BY cosine DESC NULLS LAST, vec_id
         |LIMIT 10""".stripMargin,

    "ann_topk_embed" ->
      s"""WITH ${TextQueries.embedCntCte},
         |qd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM cnt WHERE doc_id = 0),
         |dots AS (
         |  SELECT e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM cnt e LEFT JOIN qd q ON e.b = q.b
         |  WHERE e.doc_id <> 0 GROUP BY e.doc_id),
         |qn AS (SELECT SUM(qc * qc) AS qn2 FROM qd)
         |SELECT d.doc_id AS vec_id,
         |  d.dot / NULLIF(sqrt(d.n2) * sqrt(qn.qn2), 0) AS cosine
         |FROM dots d, qn
         |ORDER BY cosine DESC NULLS LAST, vec_id
         |LIMIT 10""".stripMargin,

    // two-stage twin: doc-level embed chain (d-prefixed) ranks the coarse
    // top-20 (the ann_topk_embed law), chunk-level chain (shared with the
    // chunk-index twins) restricted to those parents, exact cosine re-cut
    "ann_topk_twostage" ->
      s"""WITH $chunkCorpusCtes,
         |${TextQueries.embedCntCteFrom("documents", "d")},
         |tqd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM dcnt
         |        WHERE doc_id = 0),
         |tqn AS (SELECT SUM(qc * qc) AS qn2 FROM tqd),
         |tdots AS (
         |  SELECT e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM dcnt e LEFT JOIN tqd q ON e.b = q.b
         |  WHERE e.doc_id <> 0 GROUP BY e.doc_id),
         |tcoarse AS (
         |  SELECT doc_id AS parent_id FROM (
         |    SELECT d.doc_id,
         |      ROW_NUMBER() OVER (ORDER BY
         |        d.dot / NULLIF(sqrt(d.n2) * sqrt(tqn.qn2), 0)
         |        DESC NULLS LAST, d.doc_id) AS rn
         |    FROM tdots d, tqn)
         |  WHERE rn <= 20),
         |tchf AS (
         |  SELECT e.doc_id AS vec_id, e.doc_id // 1048576 AS parent_id,
         |    e.b, e.c
         |  FROM cnt e JOIN tcoarse tc ON e.doc_id // 1048576 = tc.parent_id),
         |tcd AS (
         |  SELECT vec_id, MIN(parent_id) AS parent_id,
         |    SUM(CAST(c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(c AS DOUBLE) * c) AS n2
         |  FROM tchf LEFT JOIN tqd q ON tchf.b = q.b
         |  GROUP BY vec_id)
         |SELECT vec_id, parent_id,
         |  dot / NULLIF(sqrt(n2) * sqrt(tqn.qn2), 0) AS cosine
         |FROM tcd, tqn
         |ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 10""".stripMargin,

    // indexed two-stage twin: BOTH IVF chains replayed (doc quantizer
    // d-prefixed, chunk quantizer over the shadowed embeddings CTE), doc
    // probe selection + pruned exact coarse cut, chunk probe selection
    // scored with the DOC query vector, candidates ∩ coarse parents,
    // exact sparse re-rank
    "ann_topk_twostage_ivf" ->
      s"""WITH ${twoStageIvfCtes(20, 4, 4)}
         |SELECT vec_id, parent_id, cosine
         |FROM tsr
         |ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 10""".stripMargin,

    // set-engine twin on the {0} query set: the single-query chain with
    // the per-query rank law and the constant query_id added
    "ann_topk_twostage_all" ->
      s"""WITH ${twoStageIvfCtes(20, 4, 4)}
         |SELECT CAST(0 AS BIGINT) AS query_id, vec_id, parent_id, cosine,
         |  rn
         |FROM (
         |  SELECT vec_id, parent_id, cosine,
         |    ROW_NUMBER() OVER (ORDER BY cosine DESC NULLS LAST, vec_id)
         |      AS rn
         |  FROM tsr)
         |WHERE rn <= 10 ORDER BY rn""".stripMargin,

    // rag-context twin: the INDEXED two-stage chain cut at 20, ranked,
    // joined to the chunk texts, running-sum packed under the 600-token
    // budget
    "ann_rag_context" ->
      s"""WITH ${twoStageIvfCtes(20, 4, 4)},
         |trk AS (
         |  SELECT vec_id, parent_id, cosine
         |  FROM tsr
         |  ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 20),
         |trn AS (
         |  SELECT vec_id, parent_id, cosine,
         |    ROW_NUMBER() OVER (ORDER BY cosine DESC NULLS LAST, vec_id)
         |      AS rn
         |  FROM trk),
         |trt AS (
         |  SELECT r.rn, r.vec_id, r.parent_id, r.cosine,
         |    CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens,
         |    c.text AS chunk_text
         |  FROM trn r JOIN chunks c ON r.vec_id = c.doc_id),
         |trc AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens
         |  FROM trt)
         |SELECT rn, vec_id, parent_id, cosine, n_tokens, cum_tokens,
         |  chunk_text
         |FROM trc WHERE cum_tokens <= 600 ORDER BY rn""".stripMargin,

    // mmr twin: the indexed two-stage pool (trk), exact-integer pairwise
    // sims over the pool's chunk counts (zero-norm pairs pinned to 0),
    // the 8-step unrolled greedy selection, and packing in selection order
    "ann_rag_context_mmr" ->
      s"""WITH ${twoStageIvfCtes(20, 4, 4)},
         |trk AS (
         |  SELECT vec_id, parent_id, cosine
         |  FROM tsr
         |  ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 20),
         |rel AS MATERIALIZED (
         |  SELECT vec_id, parent_id, cosine,
         |    COALESCE(cosine, -2.0) AS rel2
         |  FROM trk),
         |pcv AS MATERIALIZED (
         |  SELECT e.doc_id AS vec_id, e.b, CAST(e.c AS DOUBLE) AS c
         |  FROM cnt e SEMI JOIN rel ON e.doc_id = rel.vec_id),
         |pnorm AS (SELECT vec_id, SUM(c * c) AS n2 FROM pcv GROUP BY vec_id),
         |pdot AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b2, SUM(x.c * y.c) AS dot
         |  FROM pcv x JOIN pcv y ON x.b = y.b AND x.vec_id <> y.vec_id
         |  GROUP BY 1, 2),
         |psim AS MATERIALIZED (
         |  SELECT a, b2,
         |    COALESCE(dot / NULLIF(sqrt(na.n2) * sqrt(nb.n2), 0), 0) AS s
         |  FROM pdot
         |  JOIN pnorm na ON na.vec_id = pdot.a
         |  JOIN pnorm nb ON nb.vec_id = pdot.b2),
         |${mmrSelectCtes(8)},
         |mmrt AS (
         |  SELECT s.rn, s.vec_id, r.parent_id, r.cosine,
         |    CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens,
         |    c.text AS chunk_text
         |  FROM selall s
         |  JOIN rel r USING (vec_id)
         |  JOIN chunks c ON s.vec_id = c.doc_id),
         |mmrc AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens
         |  FROM mmrt)
         |SELECT CAST(rn AS BIGINT) AS rn, vec_id, parent_id, cosine,
         |  n_tokens, cum_tokens, chunk_text
         |FROM mmrc WHERE cum_tokens <= 600 ORDER BY rn""".stripMargin,

    // set-mmr twin on {0}: the single-query mmr chain with the constant
    // query_id added (the ann_rag_context_all precedent)
    "ann_rag_context_mmr_all" ->
      s"""WITH ${twoStageIvfCtes(20, 4, 4)},
         |trk AS (
         |  SELECT vec_id, parent_id, cosine
         |  FROM tsr
         |  ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 20),
         |rel AS MATERIALIZED (
         |  SELECT vec_id, parent_id, cosine,
         |    COALESCE(cosine, -2.0) AS rel2
         |  FROM trk),
         |pcv AS MATERIALIZED (
         |  SELECT e.doc_id AS vec_id, e.b, CAST(e.c AS DOUBLE) AS c
         |  FROM cnt e SEMI JOIN rel ON e.doc_id = rel.vec_id),
         |pnorm AS (SELECT vec_id, SUM(c * c) AS n2 FROM pcv GROUP BY vec_id),
         |pdot AS (
         |  SELECT x.vec_id AS a, y.vec_id AS b2, SUM(x.c * y.c) AS dot
         |  FROM pcv x JOIN pcv y ON x.b = y.b AND x.vec_id <> y.vec_id
         |  GROUP BY 1, 2),
         |psim AS MATERIALIZED (
         |  SELECT a, b2,
         |    COALESCE(dot / NULLIF(sqrt(na.n2) * sqrt(nb.n2), 0), 0) AS s
         |  FROM pdot
         |  JOIN pnorm na ON na.vec_id = pdot.a
         |  JOIN pnorm nb ON nb.vec_id = pdot.b2),
         |${mmrSelectCtes(8)},
         |mmrt AS (
         |  SELECT s.rn, s.vec_id, r.parent_id, r.cosine,
         |    CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens,
         |    c.text AS chunk_text
         |  FROM selall s
         |  JOIN rel r USING (vec_id)
         |  JOIN chunks c ON s.vec_id = c.doc_id),
         |mmrc AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens
         |  FROM mmrt)
         |SELECT CAST(0 AS BIGINT) AS query_id, CAST(rn AS BIGINT) AS rn,
         |  vec_id, parent_id, cosine, n_tokens, cum_tokens, chunk_text
         |FROM mmrc WHERE cum_tokens <= 600 ORDER BY query_id, rn""".stripMargin,

    // filtered-rag twin: the same indexed two-stage + packing chain with
    // the allow-list (source = 'src1') semi-joined into the coarse
    // candidates BEFORE ranking — a starved pool replays under-full
    "ann_rag_context_filtered" ->
      s"""WITH ${twoStageIvfCtes(20, 4, 4, "ad.source = 'src1'")},
         |trk AS (
         |  SELECT vec_id, parent_id, cosine
         |  FROM tsr
         |  ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 20),
         |trn AS (
         |  SELECT vec_id, parent_id, cosine,
         |    ROW_NUMBER() OVER (ORDER BY cosine DESC NULLS LAST, vec_id)
         |      AS rn
         |  FROM trk),
         |trt AS (
         |  SELECT r.rn, r.vec_id, r.parent_id, r.cosine,
         |    CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens,
         |    c.text AS chunk_text
         |  FROM trn r JOIN chunks c ON r.vec_id = c.doc_id),
         |trc AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens
         |  FROM trt)
         |SELECT rn, vec_id, parent_id, cosine, n_tokens, cum_tokens,
         |  chunk_text
         |FROM trc WHERE cum_tokens <= 600 ORDER BY rn""".stripMargin,

    // set-engine rag twin on the {0} query set: the single-query rag
    // chain with the constant query_id added
    "ann_rag_context_all" ->
      s"""WITH ${twoStageIvfCtes(20, 4, 4)},
         |trk AS (
         |  SELECT vec_id, parent_id, cosine
         |  FROM tsr
         |  ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 20),
         |trn AS (
         |  SELECT vec_id, parent_id, cosine,
         |    ROW_NUMBER() OVER (ORDER BY cosine DESC NULLS LAST, vec_id)
         |      AS rn
         |  FROM trk),
         |trt AS (
         |  SELECT r.rn, r.vec_id, r.parent_id, r.cosine,
         |    CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens,
         |    c.text AS chunk_text
         |  FROM trn r JOIN chunks c ON r.vec_id = c.doc_id),
         |trc AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens
         |  FROM trt)
         |SELECT CAST(0 AS BIGINT) AS query_id, rn, vec_id, parent_id,
         |  cosine, n_tokens, cum_tokens, chunk_text
         |FROM trc WHERE cum_tokens <= 600 ORDER BY rn""".stripMargin,

    "ann_knn_join" -> knnSql,
    "ann_knn_agg" -> knnSql,
    // the sharded set-probe at exhaustive nprobe IS the exact kNN join —
    // any row lost/duplicated by shard routing, per-shard probeAll, or
    // the global re-cut breaks the hash
    "ann_knn_sharded_all" -> knnSql,
    // sharded IVF-PQ at exhaustive settings IS the exact kNN join — the
    // content-preservation gate for the whole sharded composite machinery
    "ann_knn_sharded_pq" -> knnSql,

    // the sharded two-stage at exhaustive settings IS the exact two-stage
    // — shares its twin (the shared-oracle trick)
    "ann_topk_twostage_sharded" ->
      s"""WITH $chunkCorpusCtes,
         |${TextQueries.embedCntCteFrom("documents", "d")},
         |tqd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM dcnt
         |        WHERE doc_id = 0),
         |tqn AS (SELECT SUM(qc * qc) AS qn2 FROM tqd),
         |tdots AS (
         |  SELECT e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM dcnt e LEFT JOIN tqd q ON e.b = q.b
         |  WHERE e.doc_id <> 0 GROUP BY e.doc_id),
         |tcoarse AS (
         |  SELECT doc_id AS parent_id FROM (
         |    SELECT d.doc_id,
         |      ROW_NUMBER() OVER (ORDER BY
         |        d.dot / NULLIF(sqrt(d.n2) * sqrt(tqn.qn2), 0)
         |        DESC NULLS LAST, d.doc_id) AS rn
         |    FROM tdots d, tqn)
         |  WHERE rn <= 20),
         |tchf AS (
         |  SELECT e.doc_id AS vec_id, e.doc_id // 1048576 AS parent_id,
         |    e.b, e.c
         |  FROM cnt e JOIN tcoarse tc ON e.doc_id // 1048576 = tc.parent_id),
         |tcd AS (
         |  SELECT vec_id, MIN(parent_id) AS parent_id,
         |    SUM(CAST(c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(c AS DOUBLE) * c) AS n2
         |  FROM tchf LEFT JOIN tqd q ON tchf.b = q.b
         |  GROUP BY vec_id)
         |SELECT vec_id, parent_id,
         |  dot / NULLIF(sqrt(n2) * sqrt(tqn.qn2), 0) AS cosine
         |FROM tcd, tqn
         |ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 10""".stripMargin,

    // raw-text two-stage twin: the literal query text embedded in the
    // q-prefixed CTEs, both IVF chains replayed with sparse-query probe
    // selection, no self-exclusion
    "ann_serve_text" ->
      s"""WITH ${twoStageIvfTextCtes("'fast vector scan query'", 20, 4, 4)}
         |SELECT vec_id, parent_id, cosine
         |FROM tsr
         |ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 10""".stripMargin,

    // set-hybrid-RAG twin on {0}: the hybrid-fusion chain (bm25 ranks +
    // pruned dense re-rank + RRF), the fused top-20 as the chunk stage's
    // parents, the pruned chunk probe, and the packing law — the
    // standalone spelling of the flagship's fused serving stages
    "ann_rag_context_hybrid_all" ->
      s"""WITH $chunkCorpusCtes,
         |${docIvfCtes(4)},
         |${TextQueries.bm25Ctes()},
         |hbr AS (SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS brn FROM bsc),
         |hb AS (SELECT doc_id, brn FROM hbr WHERE brn <= 20),
         |hqd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM dcnt WHERE doc_id = 0),
         |hdots AS (
         |  SELECT e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM dcnt e LEFT JOIN hqd q ON e.b = q.b
         |  SEMI JOIN dcand ON e.doc_id = dcand.vec_id
         |  WHERE e.doc_id <> 0 GROUP BY e.doc_id),
         |hqn AS (SELECT SUM(qc * qc) AS qn2 FROM hqd),
         |hvr AS (SELECT doc_id, ROW_NUMBER() OVER (
         |    ORDER BY dot / NULLIF(sqrt(n2) * sqrt(qn2), 0) DESC NULLS LAST,
         |      doc_id) AS vrn
         |  FROM hdots, hqn),
         |hv AS (SELECT doc_id, vrn FROM hvr WHERE vrn <= 20),
         |hf AS (
         |  SELECT COALESCE(hv.doc_id, hb.doc_id) AS doc_id,
         |    COALESCE(1.0 / (60 + hv.vrn), 0) + COALESCE(1.0 / (60 + hb.brn), 0)
         |      AS rrf
         |  FROM hv FULL OUTER JOIN hb ON hv.doc_id = hb.doc_id),
         |tcoarse AS (
         |  SELECT doc_id AS parent_id FROM (
         |    SELECT doc_id, rrf,
         |      ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
         |    FROM hf)
         |  WHERE rn <= 20),
         |tqd AS (SELECT b, qc FROM hqd),
         |tqn AS (SELECT SUM(qc * qc) AS qn2 FROM tqd),
         |cgrid AS (
         |  SELECT doc_id, unnest(range(0, 64)) AS dim
         |  FROM (SELECT DISTINCT doc_id FROM chunks)),
         |embeddings AS MATERIALIZED (
         |  SELECT g.doc_id AS vec_id,
         |    list(CAST(COALESCE(cnt.c, 0) AS REAL) ORDER BY g.dim)
         |      AS embedding
         |  FROM cgrid g LEFT JOIN cnt ON g.doc_id = cnt.doc_id
         |    AND g.dim = cnt.b
         |  GROUP BY g.doc_id),
         |${ivfCoreCtes(16)},
         |qvd AS (SELECT dim, v FROM dvd WHERE vec_id = 0),
         |qsc AS (
         |  SELECT c2.cid,
         |    CAST(SUM(CAST(FLOOR(qvd.v * c2.cq * 1000.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS sq
         |  FROM qvd JOIN c2 USING (dim) GROUP BY 1),
         |cprobe AS (
         |  SELECT cid FROM (
         |    SELECT q.cid,
         |      ROW_NUMBER() OVER (
         |        ORDER BY CAST(q.sq AS DOUBLE) / sqrt(CAST(n.norm2q AS DOUBLE))
         |          DESC, q.cid) AS rn
         |    FROM qsc q JOIN nc2 n USING (cid))
         |  WHERE rn <= 4),
         |ccand AS (
         |  SELECT a2.vec_id FROM a2 JOIN cprobe USING (cid)
         |  SEMI JOIN tcoarse ON a2.vec_id // 1048576 = tcoarse.parent_id),
         |tchf AS (
         |  SELECT e.doc_id AS vec_id, e.doc_id // 1048576 AS parent_id,
         |    e.b, e.c
         |  FROM cnt e SEMI JOIN ccand ON e.doc_id = ccand.vec_id),
         |tcd AS (
         |  SELECT vec_id, MIN(parent_id) AS parent_id,
         |    SUM(CAST(c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(c AS DOUBLE) * c) AS n2
         |  FROM tchf LEFT JOIN tqd q ON tchf.b = q.b
         |  GROUP BY vec_id),
         |tsr AS (
         |  SELECT vec_id, parent_id,
         |    dot / NULLIF(sqrt(n2) * sqrt(tqn.qn2), 0) AS cosine
         |  FROM tcd, tqn),
         |trk AS (
         |  SELECT vec_id, parent_id, cosine
         |  FROM tsr
         |  ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 20),
         |trn AS (
         |  SELECT vec_id, parent_id, cosine,
         |    ROW_NUMBER() OVER (ORDER BY cosine DESC NULLS LAST, vec_id)
         |      AS rn
         |  FROM trk),
         |trt AS (
         |  SELECT r.rn, r.vec_id, r.parent_id, r.cosine,
         |    CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens,
         |    c.text AS chunk_text
         |  FROM trn r JOIN chunks c ON r.vec_id = c.doc_id),
         |trc AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens
         |  FROM trt)
         |SELECT CAST(0 AS BIGINT) AS query_id, rn, vec_id, parent_id,
         |  cosine, n_tokens, cum_tokens, chunk_text
         |FROM trc WHERE cum_tokens <= 600 ORDER BY query_id, rn""".stripMargin,

    // raw-text RAG twin: the text two-stage chain's pool through the
    // shared packing replay (rank, token counts, running sum, budget cut)
    "ann_rag_context_text" ->
      s"""WITH ${twoStageIvfTextCtes("'fast vector scan query'", 20, 4, 4)},
         |trk AS (
         |  SELECT vec_id, parent_id, cosine
         |  FROM tsr
         |  ORDER BY cosine DESC NULLS LAST, vec_id LIMIT 20),
         |trn AS (
         |  SELECT vec_id, parent_id, cosine,
         |    ROW_NUMBER() OVER (ORDER BY cosine DESC NULLS LAST, vec_id)
         |      AS rn
         |  FROM trk),
         |trt AS (
         |  SELECT r.rn, r.vec_id, r.parent_id, r.cosine,
         |    CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_tokens,
         |    c.text AS chunk_text
         |  FROM trn r JOIN chunks c ON r.vec_id = c.doc_id),
         |trc AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY rn
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens
         |  FROM trt)
         |SELECT rn, vec_id, parent_id, cosine, n_tokens, cum_tokens,
         |  chunk_text
         |FROM trc WHERE cum_tokens <= 600 ORDER BY rn""".stripMargin,

    // raw-text RM3 twin: the text-terms round-1 chain (bm25Ctes with the
    // literal — no self-exclusion), the feedback cut, the expansion cut
    // (the literal's terms anti-joined away), and the round-2 replay
    "ann_serve_text_rm3" ->
      s"""WITH ${TextQueries.bm25Ctes(
             queryTextSql = "'fast vector scan query'")},
        |fb AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS rn
        |    FROM bsc)
        |  WHERE rn <= 5),
        |expt AS (
        |  SELECT t FROM (
        |    SELECT f.t, CAST(SUM(f.tf * i.idf_q) AS BIGINT) AS w
        |    FROM btf f
        |    SEMI JOIN fb ON f.doc_id = fb.doc_id
        |    JOIN bidf i USING (t)
        |    ANTI JOIN bq ON f.t = bq.t
        |    GROUP BY f.t
        |    ORDER BY w DESC, t LIMIT 10)),
        |bq2 AS (SELECT t FROM bq UNION SELECT t FROM expt),
        |bsc2 AS (
        |  SELECT f.doc_id,
        |    CAST(SUM(CAST(FLOOR(CAST(i.idf_q * f.tf AS DOUBLE) * 2.2
        |      / (CAST(f.tf AS DOUBLE) + 0.3
        |         + 0.9 * (CAST(d.dl AS DOUBLE) / (SELECT avgdl FROM bavg)))
        |      + 0.5) AS BIGINT)) AS BIGINT) AS score_q
        |  FROM btf f
        |  JOIN bq2 ON f.t = bq2.t
        |  JOIN bidf i ON f.t = i.t
        |  JOIN bdl d ON d.doc_id = f.doc_id
        |  GROUP BY f.doc_id)
        |SELECT doc_id, score_q, rn FROM (
        |  SELECT doc_id, score_q,
        |    ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS rn
        |  FROM bsc2)
        |WHERE rn <= 10 ORDER BY rn""".stripMargin,

    // raw-text MaxSim twin: the text-terms first stage, the literal's
    // windows under the sentinel −1 packed keys, the candidate window
    // chain, and the clamped-max/quantized-sum replay
    "ann_serve_text_maxsim" ->
      s"""WITH ${TextQueries.bm25Ctes(
             queryTextSql = "'fast vector scan query'")},
        |mcand AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS rn
        |    FROM bsc)
        |  WHERE rn <= 10),
        |qtk AS (SELECT CAST(-1 AS BIGINT) AS doc_id,
        |  string_split('fast vector scan query', ' ') AS ts),
        |qwin AS (
        |  SELECT doc_id * 1048576 + i - 1 AS doc_id,
        |    array_to_string(ts[greatest(i - 1, 1) : least(i + 1, len(ts))],
        |      ' ') AS text
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i
        |        FROM qtk)),
        |${TextQueries.embedCntCteFrom("qwin", "wq")},
        |dtk AS (
        |  SELECT d.doc_id, string_split(d.text, ' ') AS ts
        |  FROM documents d SEMI JOIN mcand ON d.doc_id = mcand.doc_id),
        |dwin AS (
        |  SELECT doc_id * 1048576 + i - 1 AS doc_id,
        |    array_to_string(ts[greatest(i - 1, 1) : least(i + 1, len(ts))],
        |      ' ') AS text
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS i
        |        FROM dtk)),
        |${TextQueries.embedCntCteFrom("dwin", "wd")},
        |wqn AS (SELECT doc_id AS q_id, SUM(CAST(c AS DOUBLE) * c) AS n2
        |  FROM wqcnt GROUP BY 1),
        |wdn AS (SELECT doc_id AS d_key, SUM(CAST(c AS DOUBLE) * c) AS n2
        |  FROM wdcnt GROUP BY 1),
        |wdot AS (
        |  SELECT q.doc_id AS q_id, d.doc_id AS d_key,
        |    SUM(CAST(q.c AS DOUBLE) * d.c) AS dot
        |  FROM wqcnt q JOIN wdcnt d ON q.b = d.b
        |  GROUP BY 1, 2),
        |wsim AS (
        |  SELECT w.q_id, w.d_key // 1048576 AS doc_id,
        |    w.dot / NULLIF(sqrt(qn.n2) * sqrt(dn.n2), 0) AS cos
        |  FROM wdot w
        |  JOIN wqn qn ON qn.q_id = w.q_id
        |  JOIN wdn dn ON dn.d_key = w.d_key),
        |wmax AS (
        |  SELECT doc_id, q_id, GREATEST(COALESCE(MAX(cos), 0), 0) AS ms
        |  FROM wsim GROUP BY doc_id, q_id),
        |wscore AS (
        |  SELECT doc_id,
        |    CAST(SUM(CAST(FLOOR(ms * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
        |      AS score_ms
        |  FROM wmax GROUP BY doc_id),
        |wanch AS (
        |  SELECT m.doc_id, COALESCE(w.score_ms, 0) AS score_ms
        |  FROM mcand m LEFT JOIN wscore w ON m.doc_id = w.doc_id)
        |SELECT doc_id, score_ms, rn FROM (
        |  SELECT doc_id, score_ms,
        |    ROW_NUMBER() OVER (ORDER BY score_ms DESC, doc_id) AS rn
        |  FROM wanch)
        |WHERE rn <= 5 ORDER BY rn""".stripMargin,

    // raw-text SET twin on the sentinel −1: the single text chain with
    // query_id and the per-query rank added
    "ann_serve_text_all" ->
      s"""WITH ${twoStageIvfTextCtes("'fast vector scan query'", 20, 4, 4)}
         |SELECT CAST(-1 AS BIGINT) AS query_id, vec_id, parent_id,
         |  cosine, rn
         |FROM (
         |  SELECT vec_id, parent_id, cosine,
         |    ROW_NUMBER() OVER (ORDER BY cosine DESC NULLS LAST, vec_id)
         |      AS rn
         |  FROM tsr)
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,

    // raw-text hybrid twin: text-terms BM25 chain + the sparse-query doc
    // probe's pruned dense re-rank, RRF-fused, global re-cut to 10
    "ann_serve_text_hybrid" ->
      s"""WITH qdoc AS (
         |  SELECT CAST(-1 AS BIGINT) AS doc_id,
         |    'fast vector scan query' AS text),
         |${TextQueries.embedCntCteFrom("qdoc", "q")},
         |tqd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM qcnt),
         |tqn AS (SELECT SUM(qc * qc) AS qn2 FROM tqd),
         |${docIvfTextCtes(4)},
         |${TextQueries.bm25Ctes(
             queryTextSql = "'fast vector scan query'")},
         |hbr AS (SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS brn FROM bsc),
         |hb AS (SELECT doc_id, brn FROM hbr WHERE brn <= 20),
         |hdots AS (
         |  SELECT e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM dcnt e LEFT JOIN tqd q ON e.b = q.b
         |  SEMI JOIN dcand ON e.doc_id = dcand.vec_id
         |  GROUP BY e.doc_id),
         |hvr AS (SELECT doc_id, ROW_NUMBER() OVER (
         |    ORDER BY dot / NULLIF(sqrt(n2) * sqrt(qn2), 0) DESC NULLS LAST,
         |      doc_id) AS vrn
         |  FROM hdots, tqn),
         |hv AS (SELECT doc_id, vrn FROM hvr WHERE vrn <= 20),
         |hf AS (
         |  SELECT COALESCE(hv.doc_id, hb.doc_id) AS doc_id,
         |    COALESCE(1.0 / (60 + hv.vrn), 0) + COALESCE(1.0 / (60 + hb.brn), 0)
         |      AS rrf
         |  FROM hv FULL OUTER JOIN hb ON hv.doc_id = hb.doc_id)
         |SELECT doc_id, rrf, rn FROM (
         |  SELECT doc_id, rrf,
         |    ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
         |  FROM hf)
         |WHERE rn <= 10 ORDER BY rn""".stripMargin,

    // hybrid-fusion twin: BM25 chain (shared bm25Ctes) ranked to 20, the
    // sparse-exact cosine ranked to 20 (NULLS LAST — the zero-norm law),
    // full-outer fused by 1/(60+rank) sums, global re-cut to 10
    "ann_hybrid_topk" ->
      s"""WITH ${TextQueries.embedCntCte},
         |${TextQueries.bm25Ctes()},
         |hbr AS (SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS brn FROM bsc),
         |hb AS (SELECT doc_id, brn FROM hbr WHERE brn <= 20),
         |hqd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM cnt WHERE doc_id = 0),
         |hdots AS (
         |  SELECT e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM cnt e LEFT JOIN hqd q ON e.b = q.b
         |  WHERE e.doc_id <> 0 GROUP BY e.doc_id),
         |hqn AS (SELECT SUM(qc * qc) AS qn2 FROM hqd),
         |hvr AS (SELECT doc_id, ROW_NUMBER() OVER (
         |    ORDER BY dot / NULLIF(sqrt(n2) * sqrt(qn2), 0) DESC NULLS LAST,
         |      doc_id) AS vrn
         |  FROM hdots, hqn),
         |hv AS (SELECT doc_id, vrn FROM hvr WHERE vrn <= 20),
         |hf AS (
         |  SELECT COALESCE(hv.doc_id, hb.doc_id) AS doc_id,
         |    COALESCE(1.0 / (60 + hv.vrn), 0) + COALESCE(1.0 / (60 + hb.brn), 0)
         |      AS rrf
         |  FROM hv FULL OUTER JOIN hb ON hv.doc_id = hb.doc_id)
         |SELECT CAST(0 AS BIGINT) AS query_id, doc_id, rrf, rn FROM (
         |  SELECT doc_id, rrf,
         |    ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
         |  FROM hf)
         |WHERE rn <= 10 ORDER BY rn""".stripMargin,

    // indexed-hybrid twin: the BM25 chain unchanged, the dense leg = the
    // doc-IVF probe replay (docIvfCtes — probe selection + pruned
    // candidates) exact-re-ranked over the d-prefixed count table, RRF
    // fusion and the global re-cut as in the exact-hybrid twin
    "ann_hybrid_topk_ivf" ->
      s"""WITH ${docIvfCtes(4)},
         |${TextQueries.bm25Ctes()},
         |hbr AS (SELECT doc_id,
         |  ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS brn FROM bsc),
         |hb AS (SELECT doc_id, brn FROM hbr WHERE brn <= 20),
         |hqd AS (SELECT b, CAST(c AS DOUBLE) AS qc FROM dcnt WHERE doc_id = 0),
         |hdots AS (
         |  SELECT e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM dcnt e LEFT JOIN hqd q ON e.b = q.b
         |  SEMI JOIN dcand ON e.doc_id = dcand.vec_id
         |  WHERE e.doc_id <> 0 GROUP BY e.doc_id),
         |hqn AS (SELECT SUM(qc * qc) AS qn2 FROM hqd),
         |hvr AS (SELECT doc_id, ROW_NUMBER() OVER (
         |    ORDER BY dot / NULLIF(sqrt(n2) * sqrt(qn2), 0) DESC NULLS LAST,
         |      doc_id) AS vrn
         |  FROM hdots, hqn),
         |hv AS (SELECT doc_id, vrn FROM hvr WHERE vrn <= 20),
         |hf AS (
         |  SELECT COALESCE(hv.doc_id, hb.doc_id) AS doc_id,
         |    COALESCE(1.0 / (60 + hv.vrn), 0) + COALESCE(1.0 / (60 + hb.brn), 0)
         |      AS rrf
         |  FROM hv FULL OUTER JOIN hb ON hv.doc_id = hb.doc_id)
         |SELECT CAST(0 AS BIGINT) AS query_id, doc_id, rrf, rn FROM (
         |  SELECT doc_id, rrf,
         |    ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rn
         |  FROM hf)
         |WHERE rn <= 10 ORDER BY rn""".stripMargin,

    // set-hybrid twin: the full multi-query machinery replayed — shared
    // corpus-side BM25 base, per-query distinct terms (bqall/bscall),
    // per-query probe selection over the shared score table (keyed
    // window), per-(query, doc) candidate dots, per-query RRF re-cut
    "ann_hybrid_topk_all" ->
      s"""WITH ${TextQueries.embedCntCteFrom("documents", "d")},
         |dsgrid AS (
         |  SELECT doc_id, unnest(range(0, 64)) AS dim
         |  FROM (SELECT DISTINCT doc_id FROM documents)),
         |dsemb AS MATERIALIZED (
         |  SELECT g.doc_id AS vec_id,
         |    list(CAST(COALESCE(dcnt.c, 0) AS REAL) ORDER BY g.dim)
         |      AS embedding
         |  FROM dsgrid g LEFT JOIN dcnt ON g.doc_id = dcnt.doc_id
         |    AND g.dim = dcnt.b
         |  GROUP BY g.doc_id),
         |${ivfCoreCtes(16, "", "", "dsemb", "d")},
         |qset AS (SELECT CAST(unnest([0, 5]) AS BIGINT) AS query_id),
         |${TextQueries.bm25BaseCtes()},
         |${TextQueries.bm25AllCtes()},
         |hbr AS (SELECT query_id, doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score_q DESC, doc_id) AS brn FROM bscall),
         |hb AS (SELECT query_id, doc_id, brn FROM hbr WHERE brn <= 20),
         |dprobes AS (
         |  SELECT vec_id AS query_id, cid FROM (
         |    SELECT sdc2.vec_id, sdc2.cid,
         |      ROW_NUMBER() OVER (PARTITION BY sdc2.vec_id
         |        ORDER BY CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE))
         |          DESC, sdc2.cid) AS rn
         |    FROM sdc2 JOIN ndc2 USING (cid)
         |    SEMI JOIN qset ON sdc2.vec_id = qset.query_id)
         |  WHERE rn <= 4),
         |dcands AS (
         |  SELECT p.query_id, da2.vec_id
         |  FROM da2 JOIN dprobes p USING (cid)
         |  WHERE da2.vec_id <> p.query_id),
         |hqd AS (SELECT doc_id AS query_id, b, CAST(c AS DOUBLE) AS qc
         |  FROM dcnt SEMI JOIN qset ON dcnt.doc_id = qset.query_id),
         |hqn AS (SELECT query_id, SUM(qc * qc) AS qn2 FROM hqd GROUP BY 1),
         |hdots AS (
         |  SELECT c.query_id, e.doc_id,
         |    SUM(CAST(e.c AS DOUBLE) * COALESCE(q.qc, 0)) AS dot,
         |    SUM(CAST(e.c AS DOUBLE) * e.c) AS n2
         |  FROM dcnt e
         |  JOIN dcands c ON e.doc_id = c.vec_id
         |  LEFT JOIN hqd q ON q.query_id = c.query_id AND e.b = q.b
         |  GROUP BY 1, 2),
         |hvr AS (SELECT d.query_id, d.doc_id, ROW_NUMBER() OVER (
         |    PARTITION BY d.query_id
         |    ORDER BY d.dot / NULLIF(sqrt(d.n2) * sqrt(n.qn2), 0)
         |      DESC NULLS LAST, d.doc_id) AS vrn
         |  FROM hdots d JOIN hqn n USING (query_id)),
         |hv AS (SELECT query_id, doc_id, vrn FROM hvr WHERE vrn <= 20),
         |hf AS (
         |  SELECT COALESCE(hv.query_id, hb.query_id) AS query_id,
         |    COALESCE(hv.doc_id, hb.doc_id) AS doc_id,
         |    COALESCE(1.0 / (60 + hv.vrn), 0) + COALESCE(1.0 / (60 + hb.brn), 0)
         |      AS rrf
         |  FROM hv FULL OUTER JOIN hb
         |    ON hv.query_id = hb.query_id AND hv.doc_id = hb.doc_id)
         |SELECT query_id, doc_id, rrf, rn FROM (
         |  SELECT query_id, doc_id, rrf,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id) AS rn
         |  FROM hf)
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,

    // range-unnest index twin (this DuckDB lacks WITH ORDINALITY); CAST the
    // integer SUM back to BIGINT (DuckDB SUM → HUGEINT) and mirror the
    // division order exactly.
    "ann_centroids" ->
      """WITH idx AS (
        |  SELECT label, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings),
        |q AS (
        |  SELECT label, i - 1 AS dim,
        |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS vq
        |  FROM idx)
        |SELECT label, CAST(dim AS BIGINT) AS dim,
        |  FLOOR(CAST(CAST(SUM(vq) AS BIGINT) AS DOUBLE) / 1000000.0
        |    / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS centroid_v,
        |  COUNT(*) AS n_vectors
        |FROM q GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    // Diversity twin: same 1e-6 quantization and (label, dim) sufficient
    // statistics; HUGEINT keeps the squared sums exact, the final floats
    // are correctly-rounded functions of them.
    "ann_embedding_health" ->
      """WITH defects AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 97 = 0 THEN NULL
        |         WHEN vec_id % 89 = 0 THEN embedding[1:32]
        |         WHEN vec_id % 83 = 0
        |           THEN list_transform(embedding, x -> 0.0::FLOAT)
        |         WHEN vec_id % 79 = 0
        |           THEN list_prepend('nan'::FLOAT, embedding[2:64])
        |         ELSE embedding END AS embedding
        |  FROM embeddings),
        |cls AS (
        |  SELECT CASE WHEN embedding IS NULL THEN 'null'
        |              WHEN len(embedding) <> 64 THEN 'wrong_dim'
        |              WHEN len(list_filter(embedding,
        |                     x -> isnan(x) OR isinf(x))) > 0 THEN 'nonfinite'
        |              WHEN list_max(list_transform(embedding, x -> abs(x)))
        |                     = 0.0 THEN 'zero_norm'
        |              ELSE 'ok' END AS cls
        |  FROM defects)
        |SELECT COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN cls = 'null' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null,
        |  CAST(SUM(CASE WHEN cls = 'wrong_dim' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_wrong_dim,
        |  CAST(SUM(CASE WHEN cls = 'nonfinite' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonfinite,
        |  CAST(SUM(CASE WHEN cls = 'zero_norm' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero_norm,
        |  CAST(SUM(CASE WHEN cls = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
        |FROM cls""".stripMargin,

    "ann_diversity" ->
      """WITH idx AS (
        |  SELECT label, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings),
        |q AS (
        |  SELECT label, i - 1 AS dim,
        |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS vq
        |  FROM idx),
        |pd AS (
        |  SELECT label, dim, CAST(SUM(vq) AS BIGINT) AS sd,
        |    SUM(CAST(vq AS HUGEINT) * vq) AS sd2, COUNT(*) AS n
        |  FROM q GROUP BY label, dim),
        |ag AS (
        |  SELECT label, MAX(n) AS n, SUM(sd2) AS s2,
        |    SUM(CAST(sd AS HUGEINT) * sd) AS ss
        |  FROM pd GROUP BY label)
        |SELECT label, n AS n_vecs,
        |  FLOOR((2.0 * (CAST(s2 AS DOUBLE) / n - CAST(ss AS DOUBLE) / n / n)
        |    / 1000000000000.0) * 10000.0 + 0.5) / 10000.0 AS diversity
        |FROM ag ORDER BY label""".stripMargin,

    // Full replication of the integer-quantized scoring pipeline: centroid
    // derivation (as ann_centroids), exact cvq/pq integer sums, one double
    // division + sqrt, argmax with label tie-break.
    "ann_centroid_classify" ->
      """WITH idx AS (
        |  SELECT vec_id, label, embedding,
        |    unnest(range(1, len(embedding) + 1)) AS i
        |  FROM embeddings),
        |q AS (
        |  SELECT label, i - 1 AS dim,
        |    CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS vq
        |  FROM idx),
        |cents AS (
        |  SELECT label AS label_pred, dim,
        |    FLOOR(CAST(CAST(SUM(vq) AS BIGINT) AS DOUBLE) / 1000000.0
        |      / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS centroid_v
        |  FROM q GROUP BY label, dim),
        |c2 AS (
        |  SELECT label_pred, dim, centroid_v,
        |    CAST(FLOOR(centroid_v * 10000.0 + 0.5) AS BIGINT) AS cvq
        |  FROM cents),
        |norms AS (
        |  SELECT label_pred, CAST(SUM(cvq * cvq) AS BIGINT) AS norm2q
        |  FROM c2 GROUP BY label_pred),
        |vd AS (
        |  SELECT vec_id, label AS label_true, i - 1 AS dim,
        |    CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
        |  FROM idx),
        |sc AS (
        |  SELECT vd.vec_id, vd.label_true, c2.label_pred,
        |    CAST(SUM(CAST(FLOOR(vd.v * c2.centroid_v * 1000000000.0 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS sq
        |  FROM vd JOIN c2 ON vd.dim = c2.dim
        |  GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT sc.*, CAST(sq AS DOUBLE) / sqrt(CAST(norm2q AS DOUBLE)) AS score
        |  FROM sc JOIN norms USING (label_pred)),
        |r AS (
        |  SELECT vec_id, label_true, label_pred,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score DESC, label_pred) AS rn
        |  FROM scored)
        |SELECT label_true, label_pred, COUNT(*) AS n_vectors
        |FROM r WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY label_true, label_pred""".stripMargin
  )
}
