package graft.operators

import org.apache.spark.sql.DataFrame
import CodesIndex.{CodesModel, Coarse}
import Sq.SqCodec

/** IVF-SQ8 — the coarse-pruning composite over SCALAR-quantized residuals
  * ([[Ivf]] × [[Sq]]), FAISS's `IVF,SQ8` layout and the standard middle
  * point of the compression ladder:
  *
  *   IVF-Flat (raw vectors, prune only) → **IVF-SQ8 (4× compression,
  *   near-full recall)** → IVF-PQ (64× compression, lossy)
  *
  *  - the COARSE quantizer ([[Ivf.trainCentroids]]) partitions the corpus
  *    into `nlist` inverted lists → probes PRUNE to `nprobe` lists;
  *  - within lists, vectors are stored as `dim` uint8 codes of their
  *    RESIDUAL (x − c_list) under ONE per-dimension min/max grid trained
  *    on all residuals ([[Sq.trainParams]] — selections, no iterations):
  *    residuals are centred and small, so 8 bits per dimension loses
  *    almost nothing, at 1/4 the bytes of raw floats;
  *  - ADC scoring per candidate: q·x ≈ q·c_list + q·r̂. The coarse term is
  *    the probe's own exact ×1e9-grid integer IVF score; the residual term
  *    sums floor(qr_d · recon255_d · 1e3 + 0.5) where recon255 lives on a
  *    ×255 grid — so the total is compared on the common ×(255·1e9) grid
  *    as `255·baseq + Σterms`, an exact long. Top `rerank` candidates get
  *    the exact cosine re-rank (shared with every other ANN path here).
  *
  * Residuals are EXACT on the 1e-6 grid (rq = vq − cq, two on-grid longs)
  * and re-quantize losslessly inside [[Sq.trainParams]], so the DuckDB
  * oracle (SimilarityQueries.ivfSqSql) replays coarse training, residuals,
  * the min/max pass, encoding and the ADC ranking bit-for-bit. Lifecycle
  * and probes are [[CodesIndex]]'s; this object trains.
  */
object IvfSq {

  /** Index BUILD, memoized: coarse training, residual min/max training
    * (ONE per-dim grid shared across lists, trained on all residuals —
    * the standard global-SQ form), then the one materialization pass
    * writing (vec_id, codes) `list`-partitioned: probes prune directories
    * AND read only 64-byte codes.
    */
  def buildIndex(indexKey: String, embeddings: DataFrame,
                 nlist: Int = 16, iters: Int = 2, dim: Int = 64): CodesModel[SqCodec] =
    CodesIndex.build("ivfsq", indexKey, Seq(nlist, iters, dim), embeddings)(
      trained(embeddings, nlist, iters, dim))

  private def trained(embeddings: DataFrame, nlist: Int, iters: Int,
                      dim: Int): (SqCodec, Option[Coarse]) = {
    val coarse = Ivf.trainCentroids(embeddings, nlist, iters)
    val (mins, spans) = Sq.trainParams(CodesIndex.residuals(embeddings, coarse), dim)
    (SqCodec(dim, mins, spans), Some(Coarse(nlist, iters, coarse)))
  }

  /** Memoized build-on-base + one frozen-model append (replay-safe; keyed
    * by both frames' content).
    */
  def buildIncremental(indexKey: String, base: DataFrame, newBatch: DataFrame,
                       nlist: Int = 16, iters: Int = 2,
                       dim: Int = 64): CodesModel[SqCodec] =
    CodesIndex.buildIncremental("ivfsq", indexKey, Seq(nlist, iters, dim), base, newBatch)(
      trained(base, nlist, iters, dim))

  /** One-shot convenience: memoized build (under `indexKey`) + probe. */
  def topKIvfSq(embeddings: DataFrame, queryVecId: Long, k: Int,
                nlist: Int = 16, nprobe: Int = 4, rerank: Int = 50,
                indexKey: String = "adhoc"): DataFrame =
    CodesIndex.probe(buildIndex(indexKey, embeddings, nlist),
      embeddings, queryVecId, k, nprobe, rerank)
}
