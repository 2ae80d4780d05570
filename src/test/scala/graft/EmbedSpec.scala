package graft

import org.apache.spark.sql.functions._
import graft.operators.{Embed, Ivf, Similarity}

class EmbedSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)

  test("hashedTf: one row per document, dim-length float vectors") {
    val emb = Embed.hashedTf(docs, dim = 64)
    assert(emb.count() === docs.count())
    assert(emb.schema("embedding").dataType.simpleString === "array<float>")
    val lens = emb.select(size($"embedding")).distinct().as[Int].collect()
    assert(lens.toSeq === Seq(64))
  }

  test("denseSignedSum equals the sum-by-bucket grid assembly (partial merges forced)") {
    // the aggregate that replaced hashedTf's two-step assembly: compare
    // against the old spelling on a multi-partition input so map-side
    // partials + serialize/merge paths all execute
    val occ = docs.repartition(9)
      .select($"doc_id",
        explode(graft.plans.TokenizerKernels.tokenBigramFeats($"text")).as("f"))
      .select($"doc_id",
        graft.operators.Curation.hashBucket($"f", 16).as("b"),
        when(conv(substring(md5($"f".cast("string")), 9, 1), 16, 10)
          .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L)).as("sgn"))
    val dense = occ.groupBy("doc_id")
      .agg(graft.plans.Aggregates.denseSignedSum($"b", $"sgn", 16).as("cs"))
      .select($"doc_id", $"cs".cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val grid = occ.groupBy("doc_id", "b").agg(sum("sgn").as("c"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct($"b", $"c"))).as("m"))
      .select($"doc_id",
        transform(sequence(lit(0), lit(15)),
          i => coalesce(element_at($"m", i), lit(0L))).cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(dense === grid)
  }

  test("hashedTf: deterministic across partitionings") {
    val a = Embed.hashedTf(docs.repartition(7), dim = 32)
      .select($"vec_id", $"embedding".cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val b = Embed.hashedTf(docs.coalesce(1), dim = 32)
      .select($"vec_id", $"embedding".cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("hashedTf: values are the signed bucket counts (hand replay)") {
    // one doc, known features: unigrams [x, y, x] + bigrams [x y, y x]
    val one = Seq((1L, "x y x")).toDF("doc_id", "text")
    val vec = Embed.hashedTf(one, dim = 8)
      .select($"embedding").as[Seq[Float]].head()
    // driver-side replay of the same md5 bucket + sign law
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = new Array[Float](8)
    Seq("x", "y", "x", "x y", "y x").foreach { f =>
      val h = md5hex(f)
      val b = (java.lang.Long.parseLong(h.take(8), 16) % 8).toInt
      val sgn = if (java.lang.Long.parseLong(h.substring(8, 9), 16) % 2 == 0) 1 else -1
      expected(b) += sgn
    }
    assert(vec === expected.toSeq)
  }

  test("hashedTf: empty-text document still embeds (single empty token)") {
    val one = Seq((1L, "")).toDF("doc_id", "text")
    val rows = Embed.hashedTf(one, dim = 8).count()
    assert(rows === 1L)
  }

  test("hashedTfIdf: ubiquitous tokens contribute zero, rare tokens their idf") {
    // "the" appears in all 3 docs → idf_q = ⌊ln(1)·1000+0.5⌋ = 0: it
    // cannot move any bucket. "zebra" appears in 1 of 3 → idf_q = 1099.
    val docs = Seq((1L, "the zebra"), (2L, "the the"), (3L, "the"))
      .toDF("doc_id", "text")
    val vecs = Embed.hashedTfIdf(docs, dim = 8)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap
    // docs 2 and 3 contain only zero-idf features (unigram "the" and the
    // bigram "the the", df = 1 of 3 → nonzero... so restrict: doc 3 has
    // ONLY "the" (no bigram) → all-zero vector
    assert(vecs(3L).forall(_ == 0f))
    // doc 1's vector carries zebra's idf (and its bigram's) — nonzero
    assert(vecs(1L).exists(_ != 0f))
    // hand replay for doc 1: unigrams the(0), zebra(1099), bigram
    // "the zebra" (df 1/3 → 1099)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected = new Array[Float](8)
    val idf = Map("the" -> 0L, "zebra" -> 1099L, "the zebra" -> 1099L)
    Seq("the", "zebra", "the zebra").foreach { f =>
      val h = md5hex(f)
      val b = (java.lang.Long.parseLong(h.take(8), 16) % 8).toInt
      val sgn = if (java.lang.Long.parseLong(h.substring(8, 9), 16) % 2 == 0) 1 else -1
      expected(b) += sgn * idf(f)
    }
    assert(vecs(1L) === expected.toSeq)
  }

  test("hashedTfIdf downscaleBits: exact 2^-k element scale, cosine bit-identical") {
    val raw = Embed.hashedTfIdf(docs, dim = 32)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap
    val sc = Embed.hashedTfIdf(docs, dim = 32, downscaleBits = 10)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap
    assert(sc.keySet === raw.keySet)
    // every element is EXACTLY the raw value / 1024 (exponent shift — the
    // float significand is unchanged while |c| < 2^24)
    sc.foreach { case (id, v) =>
      assert(v === raw(id).map(_ / 1024.0f), s"vec $id")
    }
    // and cosine between any two docs is bit-identical on both scales
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val ids = raw.keySet.toSeq.sorted.take(20)
    for (i <- ids; j <- ids if i < j)
      assert(java.lang.Double.compare(
        cos(raw(i), raw(j)), cos(sc(i), sc(j))) === 0, s"pair ($i, $j)")
  }

  test("hashedTfIdfFrozen against its own idf table equals hashedTfIdf; frozen idf is text-local") {
    val a = Embed.hashedTfIdf(docs, dim = 32)
      .select($"vec_id", $"embedding".cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val idf = Embed.idfTable(docs)
    val b = Embed.hashedTfIdfFrozen(docs, idf, dim = 32)
      .select($"vec_id", $"embedding".cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(a === b)
    // the frozen-model property the refresh relies on: a document's vector
    // depends only on ITS text — embedding a GROWN corpus with the frozen
    // table leaves existing documents' vectors bit-identical
    val grown = docs.unionByName(docs.limit(50)
      .withColumn("doc_id", $"doc_id" + 700000L)
      .withColumn("text", concat($"text", lit(" zzunseen"))))
    val c = Embed.hashedTfIdfFrozen(grown, idf, dim = 32)
      .filter($"vec_id" < 700000L)
      .select($"vec_id", $"embedding".cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(c === b)
  }

  test("generated vectors drive the IVF index end-to-end (self-fed ANN)") {
    val emb = Embed.hashedTf(docs)
    val model = Ivf.buildIndex(sfDir + "#embed", emb, nlist = 8)
    // exhaustive probe (nprobe = all lists) must equal brute force exactly
    val probed = Ivf.probe(model, emb, 0L, 10, nprobe = model.coarse.get.centroids.length)
      .as[(Long, Double)].collect().toSeq
    val exact = Similarity.topK(emb, 0L, 10).as[(Long, Double)].collect().toSeq
    assert(probed === exact)
  }

  test("embedTextVec: a query text identical to a stored document's " +
      "produces that document's exact vector") {
    // the raw-text serving law: text → embedTextVec ≡ the corpus
    // embedder's stored row, bit for bit (hashedTf is model-free and
    // per-document, so the one-row frame changes nothing)
    val text0 = docs.filter($"doc_id" === 0L)
      .select($"text").as[String].head()
    val fromText = Embed.embedTextVec(spark, text0, dim = 64).toSeq
    val stored = Embed.hashedTf(docs, dim = 64)
      .filter($"vec_id" === 0L)
      .select(transform($"embedding", _.cast("double")))
      .as[Seq[Double]].head()
    assert(fromText === stored)
  }
}
