package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Bm25, Bpe, CodesIndex, CorpusIndex, Dedup, Embed, Ivf,
  Pretrain, TextAnalysis}

/** The artifact store's contract: every store re-keys when its input
  * content changes under the same caller key, one key builds once however
  * many threads ask, builds nest, a failed build is retried, and each
  * process owns (and removes) its own root.
  */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val root = java.nio.file.Files.createTempDirectory("graft-artspec").toString
  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val docs = Tables.documentsWithClones(spark, sfDir).select("doc_id", "text")
  private lazy val probe = Tables.documents(spark, sfDir).filter($"doc_id" % 100 === 0)

  /** Version `v` of `src` landed at `root/name`, replacing the previous
    * version's files: the same path re-pointed at new content.
    */
  private def version(name: String, src: DataFrame, id: String, v: Int): DataFrame = {
    val p = s"$root/$name"
    src.filter(col(id) % 3 =!= v).write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.count() > 0 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The named stores whose result does not match the new content. */
  private def assertFresh(checks: (String, Boolean)*): Unit = {
    val stale = checks.filterNot(_._2).map(_._1)
    assert(stale.isEmpty, s"served the previous content: ${stale.mkString(", ")}")
  }

  private def ids(df: DataFrame, c: String = "vec_id"): Set[Long] =
    df.select(col(c).cast("long")).as[Long].collect().toSet

  private def live(m: Ivf.IvfModel): Set[Long] =
    ids(CodesIndex.readIndex(spark, m)) -- ids(FileSnapshots.tombstones(spark, m.indexPath))

  test("re-keying: index builds (build, incremental, sharded, rebalanced)") {
    def e(v: Int) = version("emb", emb, "vec_id", v)
    val even = $"vec_id" % 2 === 0
    def all(v: DataFrame) = {
      val m = Ivf.buildIndex("art#ivf", v, nlist = 4)
      val inc = Ivf.buildIncremental("art#inc", v.filter(even), v.filter(!even), nlist = 4)
      val sh = Ivf.buildShardedIndex("art#sh", v, nShards = 2, nlist = 4, parallelism = 2)
      val rb = Ivf.buildRebalanced("art#rb", v, nlist = 4)
      Seq(ids(CodesIndex.readIndex(spark, m)), ids(CodesIndex.readIndex(spark, inc)),
        sh.shards.map(s => ids(CodesIndex.readIndex(spark, s))).reduce(_ ++ _),
        ids(CodesIndex.readIndex(spark, rb)))
    }
    all(e(1))
    val v2 = e(2)
    val want = ids(v2)
    assertFresh(Seq("build", "incremental", "sharded", "rebalanced").zip(all(v2))
      .map { case (store, got) => store -> (got == want) }: _*)
  }

  test("index reads: one content token per snapshot version") {
    val m = Ivf.buildIndex("art#snaptoken", emb, nlist = 4)
    val t = Artifacts.contentToken(CodesIndex.readIndex(spark, m))
    assert(Artifacts.contentToken(CodesIndex.readIndex(spark, m)) === t)
    CodesIndex.deleteFromIndex(m, emb.filter($"vec_id" === 1L).select("vec_id"), 0L)
    val t2 = Artifacts.contentToken(CodesIndex.readIndex(spark, m))
    assert(t2 != t, "a commit kept the previous token")
    assert(Artifacts.contentToken(CodesIndex.readIndex(spark, m)) === t2)
  }

  test("re-keying: text stores (embeddings, postings, positions, stats, pairs, bloom, cover, chunks, bpe)") {
    def d(v: Int) = version("docs", docs, "doc_id", v)
    val qs = Seq(0L, 4L).toDF("query_id")
    val names = Seq("embeddings", "postings", "positions", "bm25 stats", "pairs",
      "bloom", "cover", "chunk embeddings", "chunks", "bpe")
    def stores(v: DataFrame) = Seq(
      Embed.materializedHashedTf("art#emb", v),
      Bm25.materializedPostings("art#post", v),
      Bm25.materializedPositionalPostings("art#pos", v),
      Bm25.topKAll(v, qs, 5, postings = Some(Bm25.materializedPostings("art#stats", v))),
      Dedup.materializedMinhashPairs("art#pairs", v, 0.5),
      Dedup.bloomIndex("art#bloom", v, col("doc_id"), 1000).toSeq.zipWithIndex.toDF(),
      TextAnalysis.materializedCoveredPositions("art#cover", v),
      CorpusIndex.materializedChunkEmbeddings("art#chemb", v),
      CorpusIndex.chunkEmbeddingsOf(CorpusIndex.materializedChunks("art#chunks", v)),
      Bpe.trainMergesCached("art#bpe", v, 4).toDF())
    stores(d(1)).foreach(_.count())
    val v2 = d(2)
    val fresh = Seq(
      Embed.hashedTf(v2),
      v2.select($"doc_id", explode(split($"text", " ")).as("t"))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf")),
      Bm25.positionalPostings(v2),
      Bm25.topKAll(v2, qs, 5),
      Dedup.minhashPairs(v2, 0.5),
      Dedup.bloomIndex("art#bloom-ref", v2, col("doc_id"), 1000).toSeq.zipWithIndex.toDF(),
      TextAnalysis.materializedCoveredPositions("art#cover-ref", v2),
      CorpusIndex.chunkEmbeddings(v2),
      CorpusIndex.chunkEmbeddings(v2),
      Bpe.trainMerges(v2, 4, new CacheScope).toDF())
    assertFresh(names.zip(stores(v2).zip(fresh))
      .map { case (n, (got, want)) => n -> same(got, want) }: _*)
    // the append verbs find the latest build under the caller key
    assertFresh(
      "storePath" -> same(spark.read.parquet(Bm25.storePath("art#post").get), fresh(1)),
      "posStorePath" -> same(spark.read.parquet(Bm25.posStorePath("art#pos").get), fresh(2)))
  }

  test("re-keying: pretrain state and the content-shared build parts") {
    val small = Tables.documentsWithClones(spark, sfDir).filter($"doc_id" % 5 === 0)
    def d(v: Int) = version("state", small, "doc_id", v)
    def parts(v: DataFrame) = CorpusIndex.builtParts(spark, v, "art#bp", "art#bpIdx",
      0.8, CacheScope.global, Embed.hashedTf(_), "tfArt")
    Pretrain.buildState("art#state", d(1), probe).gated.count()
    parts(d(1))
    val v2 = d(2)
    assertFresh(
      "pretrain state" -> same(Pretrain.buildState("art#state", v2, probe).gated,
        Pretrain.state(v2, probe, new CacheScope).gated),
      "build parts" -> same(spark.read.parquet(parts(v2)._1), Embed.hashedTf(v2)))
  }

  test("re-keying: the corpus→index refresh and serving stores") {
    val small = Tables.documents(spark, sfDir).filter($"doc_id" % 5 === 0)
    def prev(v: Int) = version("ci-prev", small, "doc_id", v)
    def cur(v: Int) = {
      val p = s"$root/ci-cur"
      small.filter($"doc_id" % 3 =!= v && $"doc_id" % 7 =!= 3)
        .withColumn("text", when($"doc_id" % 11 === 0, concat($"text", lit(" qqedit")))
          .otherwise($"text"))
        .write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    def serve(p: DataFrame, c: DataFrame, doc: String, chunk: String) =
      CorpusIndex.refreshServing(p, c, probe, "art#ci", doc, chunk)
    serve(prev(1), cur(1), "art#ciDoc", "art#ciChunk").chunkTexts.count()
    val (p2, c2) = (prev(2), cur(2))
    val got = serve(p2, c2, "art#ciDoc", "art#ciChunk")
    val ref = serve(p2, c2, "art#ciDocRef", "art#ciChunkRef")
    assertFresh(
      "refresh" -> (live(got.docModel) == live(ref.docModel)),
      "serving prev" -> (live(got.chunkModel) == live(ref.chunkModel)),
      "chunk refresh" -> same(got.chunkTexts, ref.chunkTexts),
      "refresh diff" -> same(CorpusIndex.refreshDiff("art#ci", p2, c2, probe).gatedCur,
        CorpusIndex.refreshDiff("art#ciRef", p2, c2, probe).gatedCur))
  }

  test("the same content read twice shares one build") {
    val path = s"$root/shared"
    docs.write.mode("overwrite").parquet(path)
    val before = Artifacts.stats.get("embstore")
    Embed.materializedHashedTf("art#shared", spark.read.parquet(path)).count()
    Embed.materializedHashedTf("art#shared", spark.read.parquet(path)).count()
    val after = Artifacts.stats("embstore")
    assert(after.builds - before.fold(0L)(_.builds) === 1)
    assert(after.hits - before.fold(0L)(_.hits) === 1)
    assert(after.tokensPerKey("art#shared") === 1)
  }

  test("single-flight: 8 threads asking for one key run one build") {
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futs = (0 until 8).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          Artifacts.value("spec.flight", "k", Nil) {
            builds.incrementAndGet(); Thread.sleep(300); 42
          }
        }
      }))
      start.countDown()
      assert(futs.map(_.get(60, TimeUnit.SECONDS)) === Seq.fill(8)(42))
    } finally pool.shutdown()
    assert(builds.get === 1)
  }

  test("nested builds and a sharded build at parallelism 4 finish") {
    val v = Artifacts.value("spec.nest", "outer", Nil) {
      Artifacts.value("spec.nest", "inner", Nil) {
        Artifacts.value("spec.nest2", "inner", Nil)(1) + 1
      } + 1
    }
    assert(v === 3)
    val e = emb.filter($"vec_id" % 2 === 0)
    val sh = Ivf.buildShardedIndex("art#nest-sh", e, nShards = 4, nlist = 4, parallelism = 4)
    assert(sh.shards.map(s => ids(CodesIndex.readIndex(spark, s))).reduce(_ ++ _) === ids(e))
  }

  test("a build that throws is not memoized") {
    val attempts = new AtomicInteger
    def call() = Artifacts.value("spec.fail", "k", Nil) {
      if (attempts.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      7
    }
    intercept[IllegalStateException](call())
    assert(call() === 7 && call() === 7)
    assert(attempts.get === 2)
  }

  test("a replacing memo holds one value per key: a new token rebuilds and replaces it") {
    val builds = new AtomicInteger
    def call(token: String*) = Artifacts.replacing("spec.replace", "k", token) {
      builds.incrementAndGet(); token.mkString
    }
    assert(call("a") === "a" && call("a") === "a")
    assert(call("a", "b") === "ab" && call("a", "b") === "ab")
    assert(call("a") === "a", "a token seen before but replaced since is rebuilt")
    assert(builds.get === 3)
    assert(Artifacts.held("spec.replace") === Map("k" -> 1))
  }

  test("two JVMs building one store key get disjoint roots; the child's root goes at exit") {
    Bm25.materializedPostings("art#twojvm", ArtifactsChild.corpus(spark))
    val mine = new java.io.File(Bm25.storePath("art#twojvm").get)
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case ("--add-opens", i) => Seq("--add-opens", jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val cmd = Seq(System.getProperty("java.home") + "/bin/java", "-Xmx512m") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.ArtifactsChild", "art#twojvm")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").getLines().toVector
    assert(proc.waitFor(180, TimeUnit.SECONDS) && proc.exitValue() === 0, out.takeRight(20).mkString("\n"))
    val theirs = new java.io.File(out.find(_.startsWith("STORE ")).get.stripPrefix("STORE "))
    assert(theirs.getName.split("-").head === mine.getName.split("-").head)
    assert(theirs.getParentFile !== mine.getParentFile, "two processes shared one root")
    assert(!theirs.getParentFile.exists(), s"the child's root ${theirs.getParent} outlived it")
    assert(mine.exists())
  }
}

/** The child process of the two-JVM case: builds one postings store and
  * prints its path, then exits normally.
  */
object ArtifactsChild {
  def corpus(spark: SparkSession): DataFrame =
    spark.createDataFrame(Seq((1L, "a b c"), (2L, "b c d"))).toDF("doc_id", "text")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    Bm25.materializedPostings(args(0), corpus(spark)).count()
    println("STORE " + Bm25.storePath(args(0)).get)
    spark.stop()
  }
}
