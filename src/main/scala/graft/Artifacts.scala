package graft

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame

/** The one driver-side artifact store: every memoized index model, corpus
  * store and derived table in `operators/` is built and served here.
  *
  *  - Key: the store `tag`, the caller's key, the [[contentToken]] of each
  *    input frame and the build parameters. A frame derived differently, or
  *    the same path re-pointed at new files, gets a fresh build: reuse is
  *    sound only when each result is keyed by what produced it.
  *  - Directory: `<root>/<tag>-<dirToken(key)>-<hash of the rest>`.
  *  - Build: single-flight per key. The map holds a per-key cell and the
  *    build runs outside any map lock, so builds nest (a sharded build runs
  *    shard builds on pool threads). A build that throws is not memoized.
  *  - Lifetime: one root per process, made by Spark's temp-dir helper and
  *    deleted by Spark's shutdown hook after the SparkContext stops. A
  *    fresh process rebuilds.
  *
  * Writes are not staged and renamed: the root is private to the process,
  * and a path is handed out only after its write returns. The root is
  * local (`java.io.tmpdir`); a cluster needs that path on a shared
  * filesystem.
  */
object Artifacts {

  private final case class Key(tag: String, key: String, tokens: Seq[String],
                               params: Seq[Any])

  private val cells = new ConcurrentHashMap[Key, FutureTask[AnyRef]]()
  private val newest = new ConcurrentHashMap[(String, String), AnyRef]()

  private final class Counters {
    val hits, builds, buildNs = new AtomicLong
    val tokens = new ConcurrentHashMap[String, java.util.Set[Seq[String]]]()
  }
  private val counters = new ConcurrentHashMap[String, Counters]()

  /** Per-tag hits, builds, build ms, and per caller key the number of
    * distinct input-content tokens it was built under.
    */
  final case class TagStats(hits: Long, builds: Long, buildMs: Long,
                            tokensPerKey: Map[String, Int])

  private lazy val root = org.apache.spark.sql.graft.TempDirs.create("graft-artifacts")

  /** The in-memory memo: `build` runs once per key in this process. */
  def value[V](tag: String, key: String, inputs: Seq[DataFrame], params: Any*)
              (build: => V): V =
    withDir(tag, key, inputs, params: _*)(_ => build)

  /** [[value]] for a build that owns a fresh directory: `build` gets its
    * path (not yet created).
    */
  def withDir[V](tag: String, key: String, inputs: Seq[DataFrame], params: Any*)
                (build: String => V): V = {
    val k = Key(tag, key, inputs.map(contentToken), params.toList)
    val c = counters.computeIfAbsent(tag, _ => new Counters)
    val task = new FutureTask[AnyRef](() => {
      val t0 = System.nanoTime()
      val v = build(new java.io.File(root, s"$tag-${dirToken(key)}-" +
        md5Hex((k.tokens ++ k.params.map(String.valueOf)).mkString("\u0000"), 6))
        .getAbsolutePath).asInstanceOf[AnyRef]
      c.buildNs.addAndGet(System.nanoTime() - t0)
      c.builds.incrementAndGet()
      c.tokens.computeIfAbsent(key, _ => ConcurrentHashMap.newKeySet[Seq[String]]())
        .add(k.tokens)
      newest.put((tag, key), v)
      v
    })
    val prev = cells.putIfAbsent(k, task)
    val cell = if (prev == null) task else prev
    if (prev == null) task.run() else c.hits.incrementAndGet()
    try cell.get().asInstanceOf[V]
    catch { case e: ExecutionException => cells.remove(k, cell); throw e.getCause }
  }

  private val replaceable = new ConcurrentHashMap[(String, String), (Seq[String], AnyRef)]()

  /** A memo holding ONE value per (`tag`, `key`): the value built under
    * `token`, rebuilt and replaced when a call brings another token. For a
    * caller key whose content only moves on (an index root's tombstone
    * files), so no superseded build stays held. The build runs under the
    * key's map lock: concurrent callers of one key wait for it.
    */
  def replacing[V](tag: String, key: String, token: Seq[String])(build: => V): V = {
    val c = counters.computeIfAbsent(tag, _ => new Counters)
    replaceable.compute((tag, key), (_, prev) =>
      if (prev != null && prev._1 == token) { c.hits.incrementAndGet(); prev }
      else {
        val t0 = System.nanoTime()
        val v = build.asInstanceOf[AnyRef]
        c.buildNs.addAndGet(System.nanoTime() - t0)
        c.builds.incrementAndGet()
        c.tokens.computeIfAbsent(key, _ => ConcurrentHashMap.newKeySet[Seq[String]]())
          .add(Seq(md5Hex(token.mkString("\u0000"), 8)))
        (token, v)
      })._2.asInstanceOf[V]
  }

  /** Whether [[replacing]] holds the value of (`tag`, `key`) built under
    * `token`: a call with it would not build.
    */
  def holds(tag: String, key: String, token: Seq[String]): Boolean =
    Option(replaceable.get((tag, key))).exists(_._1 == token)

  /** Per caller key, the number of values `tag` holds now. */
  def held(tag: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    (cells.keySet.asScala.toSeq.collect { case k if k.tag == tag => k.key } ++
      replaceable.keySet.asScala.toSeq.collect { case (`tag`, k) => k })
      .groupBy(identity).map { case (k, ks) => k -> ks.size }
  }

  /** A memoized directory: `write` fills it once; every call returns it. */
  def dir(tag: String, key: String, inputs: Seq[DataFrame], params: Any*)
         (write: String => Unit): String =
    withDir(tag, key, inputs, params: _*) { p => write(p); p }

  /** The latest build under (`tag`, `key`) in this process, whatever its
    * content: for verbs that get only the caller key (an append).
    */
  def latest[V](tag: String, key: String): Option[V] =
    Option(newest.get((tag, key))).map(_.asInstanceOf[V])

  def stats: Map[String, TagStats] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.toMap.map { case (tag, c) =>
      tag -> TagStats(c.hits.get, c.builds.get, c.buildNs.get / 1000000L,
        c.tokens.asScala.toMap.map { case (k, s) => k -> s.size })
    }
  }

  private def md5Hex(s: String, bytes: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(bytes).map("%02x".format(_)).mkString

  /** Filesystem-safe and injective: the sanitized key ("a/b" and "a_b"
    * collide) plus an md5 prefix of the raw key.
    */
  private[graft] def dirToken(key: String): String =
    key.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + md5Hex(key, 4)

  /** A frame's content fingerprint without a data pass: its canonical
    * plan's semantic hash plus a hash of its input file list. Two reads of
    * one source derived the same way share it; a checkpointed frame
    * (`LogicalRDD`) is new content on every checkpoint.
    */
  private[graft] def contentToken(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed.canonicalized.semanticHash()
    val files = df.inputFiles.sorted.mkString("\n").hashCode
    f"$plan%08x$files%08x"
  }
}
