package graft.operators

import org.apache.spark.sql.DataFrame
import CodesIndex.{CodesModel, Coarse, ShardedModel}
import Pq.PqCodec

/** IVF-PQ — the canonical composite vector index ([[Ivf]] × [[Pq]]), the
  * layout billion-vector deployments actually run:
  *
  *  - the COARSE quantizer ([[Ivf.trainCentroids]]) partitions the corpus
  *    into `nlist` inverted lists → probes PRUNE to `nprobe` lists;
  *  - within lists, vectors are stored as PQ codes of their RESIDUAL
  *    (x − c_list): residuals are much smaller than raw vectors, so the
  *    same 4-bit-per-subspace budget quantizes far more precisely than PQ
  *    over raw vectors → probes scan ~nprobe/nlist of the corpus AND only
  *    ~4 bytes per vector of it;
  *  - ADC scoring per candidate: q·x ≈ q·c_list + q·r̂ — the coarse term is
  *    the probe's own IVF score, the residual term a per-list lookup-table
  *    sum; both live on the same ×1e9 integer grid, so scores are exact
  *    longs comparable across lists. Top `rerank` candidates get the exact
  *    cosine re-rank (shared with every other ANN path here).
  *
  * All decisions are the exact integer machinery of the components:
  * residuals are EXACT on the 1e-6 grid (rq = vq − cq, two on-grid longs),
  * so PQ training over them re-quantizes losslessly, and the DuckDB oracle
  * (SimilarityQueries.ivfPqSql) replays coarse training, residuals, PQ
  * training, encoding, per-list LUTs and the ADC ranking bit-for-bit.
  * Lifecycle and probes are [[CodesIndex]]'s; this object trains.
  */
object IvfPq {

  /** Index BUILD, memoized: coarse training, residual PQ training (ONE
    * codebook set shared across lists, trained on all residuals — standard
    * IVF-PQ), then the one materialization pass writing (vec_id, codes)
    * `list`-partitioned: probes prune directories AND read only codes.
    * `trainSamplePct < 100` trains coarse quantizer AND codebooks on a
    * deterministic md5-hash sample (the full corpus is still assigned,
    * residual-encoded and written).
    */
  def buildIndex(indexKey: String, embeddings: DataFrame,
                 nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                 iters: Int = 2, dim: Int = 64,
                 trainSamplePct: Int = 100): CodesModel[PqCodec] =
    CodesIndex.build("ivfpq", indexKey,
        Seq(nlist, m, ksub, iters, dim, trainSamplePct), embeddings)(
      trained(CodesIndex.trainSet(embeddings, trainSamplePct), nlist, m, ksub, iters, dim))

  private def trained(trainSet: DataFrame, nlist: Int, m: Int, ksub: Int,
                      iters: Int, dim: Int): (PqCodec, Option[Coarse]) = {
    val coarse = Ivf.trainCentroids(trainSet, nlist, iters)
    val books = Pq.trainCodebooks(CodesIndex.residuals(trainSet, coarse),
      m, ksub, iters, dim)
    (PqCodec(m, ksub, dim / m, iters, books), Some(Coarse(nlist, iters, coarse)))
  }

  /** Memoized build-on-base + one frozen-model append: the batch is
    * coarse-assigned and residual-encoded with the base's model, so the
    * table equals a from-scratch encode of base ∪ batch with it (the
    * `ann_incremental_ivfpq` oracle).
    */
  def buildIncremental(indexKey: String, base: DataFrame, newBatch: DataFrame,
                       nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                       iters: Int = 2, dim: Int = 64): CodesModel[PqCodec] =
    CodesIndex.buildIncremental("ivfpq", indexKey, Seq(nlist, m, ksub, iters, dim),
        base, newBatch)(trained(base, nlist, m, ksub, iters, dim))

  /** One-shot convenience: memoized build (under `indexKey`) + probe. */
  def topKIvfPq(embeddings: DataFrame, queryVecId: Long, k: Int,
                nlist: Int = 16, m: Int = 8, ksub: Int = 16,
                nprobe: Int = 4, rerank: Int = 50,
                indexKey: String = "adhoc"): DataFrame =
    CodesIndex.probe(buildIndex(indexKey, embeddings, nlist, m, ksub),
      embeddings, queryVecId, k, nprobe, rerank)

  /** The sharded coarse quantizer lifted to the COMPOSITE layout: at the
    * 10¹¹-vector plan (746 shards × 65 454 lists) raw float lists are the
    * scan-budget problem PQ exists for — each md5-hash slice gets its own
    * coarse quantizer AND its own residual codebooks, trained on the slice
    * only, so no artifact anywhere grows with the corpus. Same shard law
    * as [[Ivf.buildShardedIndex]] (hashBucket on vec_id), so Flat and PQ
    * shards of one corpus route identically. Append, delete and the
    * fan-out probe are [[CodesIndex]]'s sharded verbs.
    */
  def buildShardedIndex(indexKey: String, embeddings: DataFrame,
                        nShards: Int, nlist: Int = 16, m: Int = 8,
                        ksub: Int = 16, iters: Int = 2,
                        parallelism: Int = 8): ShardedModel[PqCodec] =
    CodesIndex.buildSharded("ivfpq", indexKey, Seq(nlist, m, ksub, iters),
        embeddings, nShards, parallelism)(
      (key, slice) => buildIndex(key, slice, nlist, m, ksub, iters))
}
