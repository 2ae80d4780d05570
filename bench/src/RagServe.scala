package bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.operators.{Bm25, Ivf, Similarity}

/** Serving over built indexes. Set-up lands a seeded corpus (clustered
  * document vectors, texts, 48-token chunks with their own vectors) and
  * builds the document IVF index, the chunk IVF index and the BM25
  * postings. The loop then issues a fixed mix of reads — `Ivf.probe`
  * top-10, `Bm25.topKText`, `Similarity.ragContextIvf` — with writes
  * interleaved: `Ivf.appendToIndexIdempotent` of new documents,
  * `Ivf.deleteFromIndex` of live ones; a traced run also times one
  * `Ivf.compactIndex`. The kinds follow a fixed cycle (`Cycle`), so their shares are
  * exact in every run; ids and query terms are seeded. Every read is
  * checked against answers computed here over the live vector set.
  */
final class RagServe(run: Run) extends Workload {
  import RagServe._

  private val spark = run.spark
  private val corpus = Gen.ragCorpus(run.seed, Docs)
  private var root = ""
  private var docModel: Ivf.IvfModel = _
  private var chunkModel: Ivf.IvfModel = _
  private var chunkTexts: DataFrame = _
  private var postings: DataFrame = _
  private var docsText: DataFrame = _
  private var docEmb: DataFrame = _

  // the live vector set, as the checks see it
  private val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private val twin = mutable.Map.empty[Long, Long]
  private val chunkVec = corpus.chunkIds.zip(corpus.chunkVecs).toMap
  private val chunkText = corpus.chunkIds.zip(corpus.chunkTexts).toMap
  private val bm25 = new ExactBm25(corpus.ids.zip(corpus.texts))
  private val opRng = Gen.rng(run.seed, 20)
  private var nextId = Docs.toLong
  private var batch = 0L
  private var writes = 0
  private val recalls = mutable.ArrayBuffer.empty[Double]

  def setup(rep: Int): Unit = {
    root = run.dir("rag", s"r$rep")
    val docEmbRows = corpus.ids.indices.map(i =>
      Row(corpus.ids(i), corpus.vecs(i).toSeq))
    landVectors(s"$root/emb/base", docEmbRows)
    val chunkEmb = landVectors(s"$root/chunk_emb", corpus.chunkIds.indices.map(i =>
      Row(corpus.chunkIds(i), corpus.chunkVecs(i).toSeq)))
    chunkTexts = land(s"$root/chunk_text", corpus.chunkIds.indices.map(i =>
      Row(corpus.chunkIds(i), corpus.chunkTexts(i))), "vec_id BIGINT, chunk_text STRING")
    docsText = land(s"$root/docs", corpus.ids.indices.map(i =>
      Row(corpus.ids(i), corpus.texts(i))), "doc_id BIGINT, text STRING")
    val key = s"bench-rag-${run.seed}-$rep"
    refreshEmb()
    docModel = Ivf.buildIndex(s"$key-doc", docEmb, nlist = NList)
    chunkModel = Ivf.buildIndex(s"$key-chunk", chunkEmb, nlist = NList)
    postings = Bm25.materializedPostings(s"$key-postings", docsText)
    live.clear()
    corpus.ids.indices.foreach(i => live(corpus.ids(i)) = corpus.vecs(i))
    twin.clear()
  }

  /** The server's handle on the document vectors (base plus every
    * appended batch), reopened after each append.
    */
  private def refreshEmb(): Unit =
    docEmb = spark.read.schema(VecSchema).option("recursiveFileLookup", "true")
      .parquet(s"$root/emb")

  /** Warm-up: three probes and one operation of each other kind. */
  def warmup(): Unit = "PBRAPDP".foreach(run1)

  override def tailPct: Double = 60.0

  private var pos = 0

  def step(): Unit = {
    run1(Cycle(pos % Cycle.length))
    pos += 1
  }

  override def period: Int = Cycle.length

  private def run1(kind: Char): Unit = kind match {
    case 'P' => probe()
    case 'B' => bm25Query()
    case 'R' => ragContext()
    case 'A' => writes += 1; append()
    case 'D' => writes += 1; delete()
    case 'C' => writes += 1; compact()
  }

  /** A live query id: right after a write, the id that write must be
    * visible to; otherwise, 30% of the time, one with a planted twin (which
    * must come back first), else any live id.
    */
  private var nextQuery: Option[Long] = None

  private def queryId(): Long =
    if (nextQuery.exists(live.contains)) {
      val q = nextQuery.get
      nextQuery = None
      q
    } else if (twin.nonEmpty && opRng.nextDouble() < 0.3) {
      val ks = twin.keys.toVector
      ks(opRng.nextInt(ks.size))
    } else {
      val ks = live.keys.toVector
      ks(opRng.nextInt(ks.size))
    }

  private def probe(): Unit = {
    val q = queryId()
    run.op("probe", main = true, rated = true) {
      run.span("operators.Ivf.probe")(
        Ivf.probe(docModel, docEmb, q, K, nprobe = NProbe)).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
    }(_ => 1.0) { got =>
      // recall@10 against the exact top-10 over the live set; the queries
      // and the index states follow from the seed, so the mean repeats
      val exact = exactTopK(live(q), q).map(_._1).toSet
      recalls += got.count(g => exact.contains(g._1)) / K.toDouble
      checkRanked(q, got)
    }
  }

  private def checkRanked(q: Long, got: Array[(Long, Double)]): Option[String] = {
    val dead = got.map(_._1).filterNot(live.contains)
    val qv = live(q)
    val bad = got.filter { case (id, c) =>
      live.get(id).exists(v => math.abs(Gen.cosine(qv, v) - c) > 1e-6) }
    val order = got.map(_._2).sliding(2).forall {
      case Array(a, b) => a >= b
      case _ => true
    }
    if (got.length != math.min(K, live.size - 1)) Some(s"probe $q returned ${got.length} rows")
    else if (dead.nonEmpty) Some(s"probe $q returned deleted ids ${dead.mkString(",")}")
    else if (bad.nonEmpty) Some(s"probe $q cosine mismatch for ${bad.map(_._1).mkString(",")}")
    else if (!order) Some(s"probe $q not ranked by cosine")
    else twin.get(q).filter(live.contains).filter(t => got.head._1 != t)
      .map(t => s"probe $q: planted twin $t not ranked first (got ${got.head._1})")
  }

  private def exactTopK(qv: Array[Float], q: Long): Seq[(Long, Double)] =
    live.iterator.filter(_._1 != q)
      .map { case (id, v) => (id, Gen.cosine(qv, v)) }.toSeq
      .sortBy { case (id, c) => (-c, id) }.take(K)

  private def bm25Query(): Unit = {
    val terms = Seq.fill(3)(corpus.vocab(40 + opRng.nextInt(400))).distinct
    val text = terms.mkString(" ")
    run.op("bm25", main = true, rated = true) {
      run.span("operators.Bm25.topKText")(
        Bm25.topKText(docsText, text, K, postings = Some(postings))).collect()
        .map(r => (r.getAs[Number]("doc_id").longValue,
          r.getAs[Number]("score_q").longValue, r.getAs[Number]("rn").longValue))
        .sortBy(_._3)
    }(_ => 1.0) { got =>
      val want = bm25.topK(terms, K)
      val have = got.map(g => (g._1, g._2)).toSeq
      if (have != want) Some(s"bm25 '$text': got $have, expected $want") else None
    }
  }

  private def ragContext(): Unit = {
    val q = queryId()
    run.op("rag", main = true, rated = true) {
      run.span("operators.Similarity.ragContextIvf")(
        Similarity.ragContextIvf(docModel, docEmb, chunkModel, chunkTexts, q,
          coarseK = 20, poolK = 20, tokenBudget = TokenBudget,
          nprobeDoc = NProbe, nprobeChunk = NProbe)).collect()
    }(_ => 1.0) { rows =>
      val qv = live(q)
      val problems = rows.toSeq.flatMap { r =>
        val vid = r.getAs[Long]("vec_id")
        val parent = r.getAs[Long]("parent_id")
        val cos = r.getAs[Double]("cosine")
        val text = r.getAs[String]("chunk_text")
        if (!live.contains(parent)) Some(s"chunk of deleted doc $parent")
        else if (parent != (vid >> Gen.ChunkShift)) Some(s"chunk $vid parent $parent")
        else if (chunkText.get(vid).forall(_ != text)) Some(s"chunk $vid text differs")
        else if (math.abs(Gen.cosine(qv, chunkVec(vid)) - cos) > 1e-6)
          Some(s"chunk $vid cosine")
        else None
      }
      val rns = rows.map(_.getAs[Number]("rn").longValue).toSeq
      val cum = rows.map(_.getAs[Number]("cum_tokens").longValue)
      if (rows.isEmpty) Some(s"rag $q: empty context")
      else if (problems.nonEmpty) Some(s"rag $q: ${problems.head}")
      else if (rns != (1L to rns.size.toLong)) Some(s"rag $q: ranks $rns")
      else if (cum.exists(_ > TokenBudget)) Some(s"rag $q: over budget")
      else None
    }
  }

  private def append(): Unit = {
    // pairs of near-identical vectors: each must find its twin first
    val rows = (0 until AppendPairs).flatMap { _ =>
      val c = corpus.centers(opRng.nextInt(corpus.centers.length))
      val v = Gen.gaussVec(opRng, c, Gen.DocSigma)
      val w = v.map(x => (x + 0.01 * Gen.gauss(opRng)).toFloat)
      val a = nextId; val b = nextId + 1
      nextId += 2
      Seq((a, v), (b, w))
    }
    batch += 1
    val b = batch
    val df = landVectors(s"$root/emb/batch-$b", rows.map { case (id, v) => Row(id, v.toSeq) })
    run.op("append", main = false) {
      run.span("operators.Ivf.appendToIndexIdempotent")(
        Ivf.appendToIndexIdempotent(docModel, df, b))
    }(_ => 0.0)(_ => None)
    refreshEmb()
    rows.foreach { case (id, v) => live(id) = v }
    rows.grouped(2).foreach { case Seq((a, _), (bb, _)) =>
      twin(a) = bb; twin(bb) = a }
    // findable: the next probe asks for an appended vector, whose twin
    // must come back first
    nextQuery = Some(rows.head._1)
  }

  private def delete(): Unit = {
    val base = live.keys.filter(_ < Docs).toVector
    val ids = Seq.fill(DeleteBatch)(base(opRng.nextInt(base.size))).distinct
    batch += 1
    val b = batch
    import spark.implicits._
    val df = ids.toDF("vec_id")
    run.op("delete", main = false) {
      run.span("operators.Ivf.deleteFromIndex")(
        Ivf.deleteFromIndex(docModel, df, b))
    }(_ => 0.0)(_ => None)
    // the next probe asks for the nearest live neighbour of a deleted
    // vector, which must not see it again
    val gone = live(ids.head)
    ids.foreach(live.remove)
    nextQuery = Some(exactTopK(gone, -1L).head._1)
  }

  private def compact(): Unit = {
    run.op("compact", main = false) {
      run.span("operators.Ivf.compactIndex")(Ivf.compactIndex(spark, docModel))
    }(_ => 0.0)(_ => None)
  }

  /** The traced run also traces one compaction of the index the schedule
    * left, and a probe of the compacted index.
    */
  override def traceExtras(): Unit = { compact(); probe() }

  def recallAt10: Double = recalls.sum / math.max(recalls.size, 1)

  override def layerMetrics: Map[String, Double] =
    Map("operators.Ivf.probe.recall_at_10" -> recallAt10)

  override def extraRecord: Map[String, Any] = Map(
    "recall_at_10" -> recallAt10, "recall_probes" -> recalls.size,
    "live_vectors" -> live.size, "writes" -> writes)

  private def landVectors(path: String, rows: Seq[Row]): DataFrame =
    land(path, rows, VecSchema)

  private def land(path: String, rows: Seq[Row], ddl: String): DataFrame =
    land(path, rows, StructType.fromDDL(ddl))

  /** Writes the rows as one parquet file and reads them back with the
    * schema they were written with (no footer read to infer it).
    */
  private def land(path: String, rows: Seq[Row], schema: StructType): DataFrame = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
    spark.read.schema(schema).parquet(path)
  }
}

object RagServe {
  val VecSchema: StructType = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
  val Docs = 500
  val NList = 16
  val NProbe = 4
  val K = 10
  val TokenBudget = 600L
  /** The schedule of operation kinds: P probe, B bm25, R rag context,
    * A append, D delete. Compaction runs only in the traced run's extras:
    * at 7–10 s it alone would take a quarter of the schedule's time. Of the
    * 26 reads, 22 are probes (the cheapest, about 0.7 s of CPU on 4 cores),
    * 2 BM25 queries (about 1.1 s) and 2 rag contexts (about 2.3 s), so the
    * read p50 sits 35 points and the p60 tail 25 points inside the probe
    * mode. Of the 18 writes, 16 are appends, the cheapest (about 0.2 s),
    * so the write p50 sits 39 points inside the append mode. Every append
    * and delete is followed by a probe. A run measures whole schedules.
    */
  val Cycle: String = "PAPAPBAPDPAPRAPAPPAPAP" * 2
  val AppendPairs = 2
  val DeleteBatch = 3
}

/** BM25 exactly as specified (k1 = 1.2, b = 0.75, Lucene idf on the 1e-3
  * grid, per-term contributions floored to longs), over whitespace tokens;
  * ties rank the lower doc id first.
  */
final class ExactBm25(docs: Seq[(Long, String)]) {
  private val tf: Map[Long, Map[String, Long]] = docs.map { case (id, t) =>
    id -> t.split(" ").groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
  }.toMap
  private val dl = tf.map { case (id, m) => id -> m.values.sum }
  private val n = tf.size.toLong
  private val avgdl = dl.values.sum.toDouble / n
  private val df = tf.values.flatMap(_.keys).groupBy(identity)
    .map { case (w, ws) => w -> ws.size.toLong }

  private def idfQ(t: String): Long = {
    val d = df(t).toDouble
    math.floor(StrictMath.log(1.0 + (n.toDouble - d + 0.5) / (d + 0.5)) *
      1000.0 + 0.5).toLong
  }

  def topK(terms: Seq[String], k: Int): Seq[(Long, Long)] = {
    val qs = terms.filter(df.contains)
    tf.toSeq.flatMap { case (id, m) =>
      val hits = qs.filter(m.contains)
      if (hits.isEmpty) None
      else Some(id -> hits.map { t =>
        val f = m(t)
        math.floor((idfQ(t) * f).toDouble * 2.2 /
          (f.toDouble + 0.3 + 0.9 * (dl(id).toDouble / avgdl)) + 0.5).toLong
      }.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(k)
  }
}
