package bench

import java.util.SplittableRandom

/** Seeded input generators for sales files, the curation corpus and the rag
  * corpus. Every input is a pure function of the run seed (and an index),
  * and each generator also computes the answer its operations must
  * produce, without calling graft.
  */
object Gen {

  def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L) {
      case (h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    })

  /** Size of file `idx`, log-uniform in [lo, hi] (continuous, so no
    * percentile falls into a gap) and stratified: each block of `strata`
    * consecutive files draws one size from every 1/`strata` slice of the
    * log range. The slices come in a fixed order that steps a third of the
    * range each file (for 27 slices: 0, 10, 20, 3, 13, 23, ...), so every
    * three files hold a small, a middle and a large one, and every block
    * and seed lands the same size profile in the same order; the seed
    * places each size within its slice.
    */
  def stratifiedLogUniform(seed: Long, idx: Int, lo: Int, hi: Int,
                           strata: Int): Int = {
    val step = Iterator.from((strata + 2) / 3).find(gcd(_, strata) == 1).get
    val slice = (idx % strata) * step % strata
    val q = (slice + rng(seed, 7, idx).nextDouble()) / strata
    math.round(math.exp(math.log(lo.toDouble) +
      q * (math.log(hi.toDouble) - math.log(lo.toDouble)))).toInt
  }

  private def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)

  // ---------------------------------------------------------------- sales

  val Products: Vector[(String, Int, Int)] = Vector(
    ("Mobile Phones", 10000, 150000), ("Laptops", 30000, 200000),
    ("Tablets", 15000, 100000), ("Smart Watches", 5000, 50000),
    ("Headphones", 1000, 30000))

  val CsvHeader = "product,price,quantity,total,ordered_at,delivery_at"

  /** One landed sales CSV and what cleaning it must commit. */
  final case class SalesFile(name: String, rows: Int, csv: String,
                             clean: Long, quarantined: Long,
                             qty: Map[String, Long], count: Map[String, Long])

  /** The reference simulator's row law: row j with j % 5 == 0 has price,
    * quantity and total all empty (dropped by cleaning); otherwise an odd j
    * has an empty quantity and total = price × k, k ∈ 1..10 (imputed back
    * to k); an even j with j % 7 == 3 has an empty total (imputed). A
    * `badShare` of lines carries an unparseable price and must be
    * quarantined verbatim.
    */
  def salesFile(seed: Long, idx: Int, minRows: Int, maxRows: Int,
                badShare: Double, strata: Int): SalesFile = {
    val r = rng(seed, 1, idx)
    val rows = stratifiedLogUniform(seed, idx, minRows, maxRows, strata)
    val sb = new StringBuilder(rows * 72)
    sb.append(CsvHeader).append('\n')
    var clean, bad = 0L
    val qty = Array.fill(Products.size)(0L)
    val cnt = Array.fill(Products.size)(0L)
    var j = 0
    while (j < rows) {
      val p = r.nextInt(Products.size)
      val (name, lo, hi) = Products(p)
      val price = lo + r.nextInt(hi - lo + 1)
      val k = 1 + r.nextInt(10)
      val month = 1 + r.nextInt(10)
      val day = 1 + r.nextInt(11)
      val ordered = java.time.LocalDateTime.of(2023, month, day,
        r.nextInt(24), r.nextInt(60), r.nextInt(60))
      val delivered = ordered.plusDays(r.nextInt(11).toLong)
      val malformed = r.nextDouble() < badShare
      val (priceS, qtyS, totS) =
        if (j % 5 == 0) ("", "", "")
        else if (j % 2 == 1) (price.toString, "", (price.toLong * k).toString)
        else if (j % 7 == 3) (price.toString, k.toString, "")
        else (price.toString, k.toString, (price.toLong * k).toString)
      sb.append(name).append(',')
        .append(if (malformed) s"${price}x" else priceS).append(',')
        .append(qtyS).append(',').append(totS).append(',')
        .append(ts(ordered)).append(',').append(ts(delivered)).append('\n')
      if (malformed) bad += 1
      else if (j % 5 != 0) {
        clean += 1
        qty(p) += k
        cnt(p) += 1
      }
      j += 1
    }
    SalesFile(f"sales-$idx%05d.csv", rows, sb.toString, clean, bad,
      Products.indices.map(i => Products(i)._1 -> qty(i)).toMap,
      Products.indices.map(i => Products(i)._1 -> cnt(i)).toMap)
  }

  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def ts(t: java.time.LocalDateTime): String = tsFmt.format(t)

  // --------------------------------------------------------------- corpus

  final case class Doc(docId: Long, text: String, lang: String,
                       source: String)

  private val Langs: Vector[(String, Seq[String], Double)] = Vector(
    ("en", Seq("the", "a", "of", "and", "to"), 0.40),
    ("es", Seq("el", "la", "de", "y", "que"), 0.15),
    ("de", Seq("der", "die", "das", "und", "zu"), 0.15),
    ("fr", Seq("le", "la", "de", "et", "les"), 0.15),
    ("zh", Seq("de5", "shi4", "le5", "zai4", "he2"), 0.15))

  private def word(r: SplittableRandom, len: Int): String = {
    val cs = new Array[Char](len)
    var i = 0
    while (i < len) { cs(i) = ('a' + r.nextInt(26)).toChar; i += 1 }
    new String(cs)
  }

  private def vocab(r: SplittableRandom, n: Int): Vector[String] =
    Vector.fill(n)(word(r, 3 + r.nextInt(6))).distinct

  /** Skewed draw from a vocabulary: low indexes are frequent. */
  private def draw(r: SplittableRandom, v: Vector[String]): String = {
    val u = r.nextDouble()
    v((u * u * v.size).toInt)
  }

  /** The contamination probe set: passages that some corpus documents
    * quote verbatim (and the decontamination stage must remove).
    */
  def probeSet(seed: Long): Vector[(Long, String)] = {
    val r = rng(seed, 2)
    val v = vocab(r, 400)
    Vector.tabulate(12)(i =>
      (i.toLong, Seq.fill(20)(draw(r, v)).mkString(" ")))
  }

  /** A corpus with planted structure: five languages with their marker
    * words, shared boilerplate blocks, exact copies, near-copies (two
    * tokens replaced) and documents quoting a probe passage. Round `round`
    * draws fresh content, so a build on it misses every memo.
    */
  def corpus(seed: Long, round: Int, n: Int): Vector[Doc] = {
    val r = rng(seed, 3, round)
    val probe = probeSet(seed)
    val vocabs = Langs.map { case (l, _, _) => l -> vocab(r, 300) }.toMap
    val boiler = Vector.fill(4)(Seq.fill(14)(word(r, 5)).mkString(" "))
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var id = 0L
    while (docs.size < n) {
      val u = r.nextDouble()
      val doc =
        if (docs.size > 10 && u < 0.03) {
          val d = docs(r.nextInt(docs.size))
          d.copy(docId = id)
        } else if (docs.size > 10 && u < 0.09) {
          val d = docs(r.nextInt(docs.size))
          val toks = d.text.split(" ")
          (0 until 2).foreach(_ => toks(r.nextInt(toks.length)) =
            word(r, 6))
          d.copy(docId = id, text = toks.mkString(" "))
        } else {
          var x = r.nextDouble()
          val (lang, markers, _) = Langs.find { case (_, _, w) =>
            x -= w; x < 0 }.getOrElse(Langs.head)
          val v = vocabs(lang)
          val len = 30 + r.nextInt(130)
          val toks = scala.collection.mutable.ArrayBuffer.fill(len)(
            if (r.nextDouble() < 0.12) markers(r.nextInt(markers.size))
            else draw(r, v))
          if (r.nextDouble() < 0.2)
            toks.insert(r.nextInt(toks.size), boiler(r.nextInt(boiler.size)))
          if (r.nextDouble() < 0.04)
            toks.insert(r.nextInt(toks.size), probe(r.nextInt(probe.size))._2)
          Doc(id, toks.mkString(" "), lang, "")
        }
      docs += doc.copy(source = s"src${doc.docId % 8}")
      id += 1
    }
    docs.toVector
  }

  /** Refresh `j` of a round: a seeded diff of the base corpus — about
    * 1/70 of documents dropped, 1/30 edited and 1/40 copied under a new id.
    */
  def refresh(base: Vector[Doc], seed: Long, round: Int, j: Int): Vector[Doc] = {
    val r = rng(seed, 4, round, j)
    val kept = base.flatMap { d =>
      val u = r.nextDouble()
      if (u < 1.0 / 70) None
      else if (u < 1.0 / 70 + 1.0 / 30) Some(d.copy(text = d.text + " qqedit"))
      else Some(d)
    }
    val copies = base.filter(_ => r.nextDouble() < 1.0 / 40)
      .map(d => d.copy(docId = d.docId + 1000000L * (j + 1)))
    kept ++ copies
  }

  // ------------------------------------------------------------------ rag

  val Dim = 64

  final case class RagCorpus(ids: Array[Long], vecs: Array[Array[Float]],
                             texts: Array[String],
                             chunkIds: Array[Long],
                             chunkVecs: Array[Array[Float]],
                             chunkTexts: Array[String],
                             centers: Array[Array[Double]],
                             vocab: Vector[String])

  val ChunkShift = 20
  /** Spread of documents around their cluster centre: wide enough that
    * clusters overlap and a 4-of-16-list probe misses some neighbours.
    */
  val DocSigma = 2.0
  val ChunkTokens = 48

  def gaussVec(r: SplittableRandom, center: Array[Double],
               sigma: Double): Array[Float] =
    Array.tabulate(Dim)(d => (center(d) + sigma * gauss(r)).toFloat)

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Clustered document vectors, texts over a skewed vocabulary, and
    * 48-token chunks whose vectors sit near their document's.
    */
  def ragCorpus(seed: Long, n: Int): RagCorpus = {
    val r = rng(seed, 5)
    val centers = Array.fill(24)(Array.fill(Dim)(gauss(r)))
    val v = vocab(r, 1500)
    val ids = Array.tabulate(n)(_.toLong)
    val vecs = Array.fill(n)(gaussVec(r, centers(r.nextInt(centers.length)), DocSigma))
    val texts = Array.fill(n)(Seq.fill(40 + r.nextInt(120))(draw(r, v)).mkString(" "))
    val cIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val cVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val cTexts = scala.collection.mutable.ArrayBuffer.empty[String]
    ids.indices.foreach { i =>
      texts(i).split(" ").grouped(ChunkTokens).zipWithIndex.foreach {
        case (toks, c) =>
          cIds += (ids(i) << ChunkShift) + c
          cVecs += gaussVec(r, vecs(i).map(_.toDouble), 0.25)
          cTexts += toks.mkString(" ")
      }
    }
    RagCorpus(ids, vecs, texts, cIds.toArray, cVecs.toArray, cTexts.toArray,
      centers, v)
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }
}
