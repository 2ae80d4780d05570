package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionPath,
  PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.types.StructType

/** One committed version of an index table. A table is a directory of
  * immutable parquet files plus `_snapshots/<version>`, and the newest
  * snapshot is the table: its `model` lines (`CodesIndex.loadModel` parses
  * them), every data and tombstone file with its `list`, length and mtime
  * (readers build their relation from this list: [[read]]), and the batch
  * ids absorbed (`append-<id>`, `delete-<id>`: a replay is a no-op). File
  * lines: the model lines, `file <kind> <list|-> <len> <mtime> <path>`,
  * `batch <id>`.
  */
final case class Snapshot(root: String, version: Long, model: Seq[String],
                          files: Seq[Snapshot.File], batches: Set[String])

object Snapshot {

  /** A file a snapshot names: `kind` is [[Data]] or [[Tomb]], `path` is
    * relative to the table root.
    */
  final case class File(kind: String, list: Option[Int], len: Long, mtime: Long, path: String)

  val Data = "data"
  val Tomb = "tomb"

  /** The version a table's first commit ([[commit]] of this) gets is 1. */
  def empty(root: String): Snapshot = Snapshot(root, 0L, Nil, Nil, Set.empty)

  private def dir(root: String): Path = new Path(root, "_snapshots")

  private def versions(fs: FileSystem, root: String): Seq[Long] =
    (try fs.listStatus(dir(root)).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .map(_.getPath.getName).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)

  /** The table's newest snapshot: one listing of `_snapshots` and one read
    * of the snapshot file.
    */
  def latest(spark: SparkSession, root: String): Option[Snapshot] = {
    val fs = Sinks.fileSystem(spark, root)
    versions(fs, root).maxOption.map(load(fs, root, _))
  }

  private def load(fs: FileSystem, root: String, version: Long): Snapshot = {
    val in = fs.open(new Path(dir(root), version.toString))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    val (meta, model) = lines.partition(l => l.startsWith("file ") || l.startsWith("batch "))
    Snapshot(root, version, model,
      meta.filter(_.startsWith("file ")).map { l =>
        val Array(_, kind, list, len, mtime, path) = l.split(" ", 6)
        File(kind, if (list == "-") None else Some(list.toInt), len.toLong, mtime.toLong, path)
      },
      meta.filter(_.startsWith("batch ")).map(_.stripPrefix("batch ")).toSet)
  }

  /** Commit `next` — its base with one verb's change applied — as version
    * `next.version + 1`, through Spark's `CheckpointFileManager.createAtomic`
    * (a temp file renamed only if `_snapshots/<v+1>` is absent: no reader
    * sees a partial snapshot; an object store needs a conditional put for
    * it). A writer that finds a later version, before its write or at its
    * rename, throws [[Sinks.ConcurrentWriterException]]. Retention ([[sweep]]
    * up to the base) keeps the base for readers that resolved it.
    * [[Sinks.crashPoint]] fires with the root at `"staged"`, `"written"`
    * (before the rename) and `"committed"` (before retention).
    */
  def commit(spark: SparkSession, next: Snapshot): Snapshot = {
    val fs = Sinks.fileSystem(spark, next.root)
    val s = next.copy(version = next.version + 1)
    val p = fs.makeQualified(new Path(dir(s.root), s.version.toString))
    Sinks.crashPoint("staged", new Path(s.root))
    superseded(fs, s.root, next.version).foreach(e => throw e)
    fs.mkdirs(p.getParent)
    val out = CheckpointFileManager.create(p.getParent, spark.sparkContext.hadoopConfiguration)
      .createAtomic(p, overwriteIfPossible = false)
    val lines = s.model ++
      s.files.map(f => s"file ${f.kind} ${f.list.getOrElse("-")} ${f.len} ${f.mtime} ${f.path}") ++
      s.batches.toSeq.sorted.map("batch " + _)
    try {
      out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8"))
      Sinks.crashPoint("written", new Path(s.root))
      out.close()
    } catch {
      case e: Throwable =>
        out.cancel()
        throw superseded(fs, s.root, next.version).map(_.initCause(e)).getOrElse(e)
    }
    Sinks.crashPoint("committed", new Path(s.root))
    sweep(fs, s.root, next.version, (s.files ++ (if (next.version > 0)
      load(fs, s.root, next.version).files else Nil)).map(_.path).toSet)
    s
  }

  /** The error of a writer from `base` once a later version exists. */
  private def superseded(fs: FileSystem, root: String,
                         base: Long): Option[Sinks.ConcurrentWriterException] =
    if (!versions(fs, root).exists(_ > base)) None
    else Some(new Sinks.ConcurrentWriterException(
      s"$root: version ${base + 1} was committed by another writer"))

  /** A stage (`<name>-b<base>-<attempt>`) or file [[write]] made from `base`. */
  private val Written = """.+-b(\d+)-\p{XDigit}{8}(?:-\d+\.parquet)?""".r
  /** A snapshot's temp file: `.<version>.<uuid>.tmp`. */
  private val Temp = """\.(\d+)\..+\.tmp""".r

  /** Once a version after `upTo` exists, no writer from `upTo` or earlier
    * can commit: delete the snapshots older than `upTo`, the temp files of
    * versions up to `upTo + 1`, and every stage or file written from
    * `upTo` or earlier that `kept` (root-relative) does not hold.
    */
  private def sweep(fs: FileSystem, root: String, upTo: Long, kept: Set[String]): Unit = {
    fs.listStatus(dir(root)).map(_.getPath).foreach(p => p.getName match {
      case Temp(v) if v.toLong <= upTo + 1 => fs.delete(p, false)
      case v if v.nonEmpty && v.forall(_.isDigit) && v.toLong < upTo => fs.delete(p, false)
      case _ =>
    })
    val top = fs.listStatus(new Path(root)).toSeq.map(_.getPath)
    (top.map(p => p.getName -> p) ++ top.filter(_.getName.startsWith("list=")).flatMap(d =>
        fs.listStatus(d).toSeq.map(st => s"${d.getName}/${st.getPath.getName}" -> st.getPath)))
      .foreach { case (rel, p) => p.getName match {
        case Written(b) if b.toLong <= upTo && !kept(rel) => fs.delete(p, true)
        case _ =>
      }}
  }

  /** Write `rows` as new files of `base`'s table for the next [[commit]]:
    * one Spark write into `<root>/_staging_<tag>` (`list`-partitioned when
    * `listed`, at most `maxRecordsPerFile` rows per file when positive),
    * each file then moved to `[list=X/]<tag>-<i>.parquet`, `tag` being
    * `<name>-b<base version>-<random attempt>`: no write replaces a file.
    */
  def write(rows: DataFrame, base: Snapshot, name: String, kind: String, listed: Boolean,
            maxRecordsPerFile: Long = 0L): Seq[File] = {
    val root = base.root
    val fs = Sinks.fileSystem(rows.sparkSession, root)
    val tag = s"$name-b${base.version}-${java.util.UUID.randomUUID.toString.take(8)}"
    val staging = new Path(root, s"_staging_$tag")
    try {
      val w = rows.write.mode("overwrite").option("maxRecordsPerFile", maxRecordsPerFile)
      (if (listed) w.partitionBy("list") else w).parquet(staging.toString)
      val staged = (if (listed) fs.listStatus(staging).toSeq.filter(_.isDirectory).map(_.getPath)
        else Seq(staging)).flatMap(Sinks.dataFiles(fs, _))
      val files = staged.groupBy(_.getPath.getParent).toSeq.flatMap { case (parent, fss) =>
        val list = if (listed) Some(parent.getName.stripPrefix("list=").toInt) else None
        fs.mkdirs(list.fold(new Path(root))(l => new Path(root, s"list=$l")))
        fss.sortBy(_.getPath.getName).zipWithIndex.map { case (f, i) =>
          val rel = list.fold("")(l => s"list=$l/") + s"$tag-$i.parquet"
          if (!fs.rename(f.getPath, new Path(root, rel)))
            throw new java.io.IOException(s"move failed: $root/$rel")
          File(kind, list, f.getLen, f.getModificationTime, rel)
        }
      }
      fs.delete(staging, true)
      files.sortBy(_.path)
    } catch { // a later commit's retention may have removed the stage
      case e: Exception => throw superseded(fs, root, base.version).map(_.initCause(e)).getOrElse(e)
    }
  }

  /** The snapshot's `kind` files as a DataFrame of `schema` (`list` is the
    * partition column), its file index fed from the snapshot as Spark's
    * `MetadataLogFileIndex` serves its file-sink log: no listing.
    */
  def read(spark: SparkSession, s: Snapshot, kind: String, schema: StructType): DataFrame = {
    val partition = StructType(schema.filter(_.name == "list"))
    spark.baseRelationToDataFrame(HadoopFsRelation(new FileIndex(spark, s, kind, partition),
      partition, StructType(schema.filterNot(_.name == "list")), None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  /** The `kind` files of one snapshot, equal on (root, version, kind): one
    * relation per version to plan canonicalization and `Artifacts`.
    */
  private final class FileIndex(spark: SparkSession, s: Snapshot, kind: String,
                                partition: StructType)
      extends PartitioningAwareFileIndex(spark, Map.empty, None) {
    private val key = (s.root, s.version, kind)
    private val root = Sinks.fileSystem(spark, s.root).makeQualified(new Path(s.root))
    private val named = s.files.filter(_.kind == kind)
    private val statuses = named.map(f =>
      new FileStatus(f.len, false, 0, 0L, f.mtime, new Path(root, f.path)))

    override protected val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
      scala.collection.mutable.LinkedHashMap(statuses.map(st => st.getPath -> st): _*)
    override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      statuses.toArray.groupBy(_.getPath.getParent)
    // the root and every file's directory: a read without `list` sees all
    override def rootPaths: Seq[Path] = (root +: statuses.map(_.getPath.getParent)).distinct
    override def refresh(): Unit = ()
    override def partitionSpec(): PartitionSpec =
      if (partition.isEmpty) PartitionSpec.emptySpec
      else PartitionSpec(partition, named.flatMap(_.list).distinct.sorted.map(l =>
        PartitionPath(InternalRow(l), new Path(root, s"list=$l"))))

    override def equals(o: Any): Boolean = o match {
      case i: FileIndex => i.key == key
      case _ => false
    }
    override def hashCode: Int = key.hashCode
  }
}
