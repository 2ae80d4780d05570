package graft

/** Test helper: content fingerprints of every file under a directory, for
  * asserting that an append-mode index write never rewrites existing files.
  */
object FileSnapshots {
  /** relative path → (size, md5-of-contents) for every regular file. */
  def snapshot(root: String): Map[String, (Long, String)] = {
    import scala.jdk.CollectionConverters._
    val r = java.nio.file.Paths.get(root)
    val stream = java.nio.file.Files.walk(r)
    try stream.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map { p =>
        val bytes = java.nio.file.Files.readAllBytes(p)
        val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        (r.relativize(p).toString,
          (bytes.length.toLong, md.map("%02x".format(_)).mkString))
      }.toMap
    finally stream.close()
  }

  /** [[snapshot]] of the files an index's newest snapshot names as `kind`:
    * the table as readers see it, without files retention has not removed
    * yet.
    */
  def named(spark: org.apache.spark.sql.SparkSession, root: String,
            kind: String = graft.sources.Snapshot.Data): Map[String, (Long, String)] = {
    val names = graft.sources.Snapshot.latest(spark, root).get.files
      .filter(_.kind == kind).map(_.path).toSet
    snapshot(root).filter { case (p, _) => names(p) }
  }

  /** An inferred-schema read (`list` by partition discovery) of the files
    * an index's newest snapshot names as `kind`: the read the recorded
    * schema replaces.
    */
  def inferred(spark: org.apache.spark.sql.SparkSession, root: String,
               kind: String = graft.sources.Snapshot.Data): org.apache.spark.sql.DataFrame =
    spark.read.option("basePath", root).parquet(named(spark, root, kind).keys.toSeq
      .map(p => new java.io.File(root, p).getPath): _*)

  /** The vec_ids an index's newest snapshot tombstones. */
  def tombstones(spark: org.apache.spark.sql.SparkSession, root: String): org.apache.spark.sql.DataFrame =
    graft.sources.Snapshot.read(spark, graft.sources.Snapshot.latest(spark, root).get,
      graft.sources.Snapshot.Tomb, org.apache.spark.sql.types.StructType.fromDDL("vec_id BIGINT"))
}
