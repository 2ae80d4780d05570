package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** The stored `embedding` of one `vec_id`, read on the driver with no
  * Spark job. A filter-and-collect job opens every file of the table to
  * find one row; this reads only the row groups whose footer `vec_id`
  * range covers the id, with the `parquet-hadoop` reader Spark ships and a
  * `vec_id == id` record filter.
  *
  * It answers only when the analyzed plan is a bare parquet
  * `HadoopFsRelation` (no partition columns; at most a projection of plain
  * attributes) with `vec_id: bigint` and `embedding: array<float>`, every
  * file stores them as plain INT64 and Spark's 3-level float list with
  * `vec_id` statistics in every row group, the candidate row groups hold
  * at most [[MaxCandidateBytes]] compressed, and exactly one row matches,
  * with a non-null embedding and no null element. Every other case
  * (`None`), and any read error, is left to the caller's job, so its
  * result and its errors stay the job's.
  *
  * Footers are memoized per file through [[graft.Artifacts.replacing]],
  * keyed by path and tokened by (length, modification time) as the
  * table's file index lists them: a file rewritten in place brings a new
  * token and replaces its entry. One call reads at most [[MaxUnseenFiles]]
  * footers; a table with more unseen files takes the job for that call and
  * is footered over the following calls.
  */
object PointLookup {

  /** The most footers one call reads. */
  private[graft] val MaxUnseenFiles = 64

  /** The most compressed bytes of candidate row groups one call reads. */
  private[graft] val MaxCandidateBytes: Long = 8L << 20

  private val Tag = "lookup.footer"

  /** A file's footer and each row group's `vec_id` range (`None`: every
    * `vec_id` of the group is null).
    */
  private final case class Footer(meta: ParquetMetadata, ranges: Seq[Option[(Long, Long)]])

  /** The embedding of `id` as doubles (the exact widening of the stored
    * floats), or `None` when the lookup does not apply.
    */
  def vector(embeddings: DataFrame, id: Long): Option[Array[Double]] = {
    val plan = embeddings.queryExecution.analyzed
    def one(name: String, dt: DataType => Boolean) =
      plan.output.count(_.name.equalsIgnoreCase(name)) == 1 &&
        plan.output.exists(a => a.name == name && dt(a.dataType))
    relation(plan).filter(_ => one("vec_id", _ == LongType) &&
        one("embedding", { case ArrayType(FloatType, _) => true; case _ => false }))
      .flatMap { h =>
        try lookup(h, id) catch { case NonFatal(_) => None }
      }
  }

  private def relation(plan: LogicalPlan): Option[HadoopFsRelation] = plan match {
    case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) => relation(child)
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
          h.partitionSchema.isEmpty => Some(h)
      case _ => None
    }
    case _ => None
  }

  private def lookup(h: HadoopFsRelation, id: Long): Option[Array[Double]] = {
    val files = h.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
    val conf = h.sparkSession.sessionState.newHadoopConfWithOptions(h.options)
    val unseen = files.filterNot(f => graft.Artifacts.holds(Tag, f.getPath.toString, token(f)))
    unseen.take(MaxUnseenFiles).foreach(footer(conf, _))
    if (unseen.size > MaxUnseenFiles) return None
    val footers = files.map(f => (f, footer(conf, f)))
    if (footers.exists(_._2.isEmpty)) return None
    val candidates = footers.collect { case (f, Some(ft)) =>
      (f, ft, ft.meta.getBlocks.asScala.toSeq.zip(ft.ranges).collect {
        case (b, Some((lo, hi))) if lo <= id && id <= hi => b
      })
    }.filter(_._3.nonEmpty)
    if (candidates.flatMap(_._3).map(_.getCompressedSize).sum > MaxCandidateBytes) None
    else candidates.flatMap { case (f, ft, blocks) => matches(conf, f, ft.meta, blocks, id) } match {
      case Seq(v @ Some(_)) => v
      case _ => None
    }
  }

  private def token(f: FileStatus): Seq[String] =
    Seq(f.getLen.toString, f.getModificationTime.toString)

  /** The memoized footer of `f`, `None` when the file has an unsupported
    * shape or a row group without `vec_id` statistics.
    */
  private def footer(conf: Configuration, f: FileStatus): Option[Footer] =
    graft.Artifacts.replacing(Tag, f.getPath.toString, token(f)) {
      val meta = ParquetFileReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER)
      val ranges = meta.getBlocks.asScala.toSeq.map(range)
      Option.when(supported(meta.getFileMetaData.getSchema) && ranges.forall(_.isDefined))(
        Footer(meta, ranges.flatten))
    }

  /** A row group's `vec_id` range from its statistics: `Some(None)` when
    * every value is null, `None` when the statistics cannot tell.
    */
  private def range(b: BlockMetaData): Option[Option[(Long, Long)]] =
    b.getColumns.asScala.find(_.getPath.toDotString == "vec_id")
      .flatMap(c => Option(c.getStatistics)).flatMap { st =>
        if (st.hasNonNullValue)
          Some(Some((st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue)))
        else if (st.isNumNullsSet && st.getNumNulls == b.getRowCount) Some(None)
        else None
      }

  /** Plain INT64 `vec_id` and Spark's 3-level `embedding` list
    * (`list`/`element`) of FLOAT, neither repeated.
    */
  private def supported(schema: MessageType): Boolean = {
    val cols = schema.getColumns.asScala
    def leaf(path: Seq[String], t: PrimitiveTypeName, rep: Int) = cols.exists(c =>
      c.getPath.toSeq == path && c.getMaxRepetitionLevel == rep &&
        c.getPrimitiveType.getPrimitiveTypeName == t &&
        c.getPrimitiveType.getLogicalTypeAnnotation == null)
    leaf(Seq("vec_id"), PrimitiveTypeName.INT64, 0) &&
      leaf(Seq("embedding", "list", "element"), PrimitiveTypeName.FLOAT, 1) &&
      cols.count(_.getPath.head == "embedding") == 1 && {
        val e = schema.getType(schema.getFieldIndex("embedding"))
        !e.isRepetition(Type.Repetition.REPEATED) &&
          e.getLogicalTypeAnnotation == LogicalTypeAnnotation.listType()
      }
  }

  /** The rows of `blocks` in `f` whose `vec_id` is `id`: each one's vector,
    * or `None` for a null embedding or a null element.
    */
  private def matches(conf: Configuration, f: FileStatus, meta: ParquetMetadata,
                      blocks: Seq[BlockMetaData], id: Long): Seq[Option[Array[Double]]] = {
    val file = HadoopInputFile.fromStatus(f, conf)
    val schema = meta.getFileMetaData.getSchema
    val reader = ParquetFileReader.open(file,
      new ParquetMetadata(meta.getFileMetaData, blocks.asJava),
      HadoopReadOptions.builder(conf).build(), file.newStream())
    try {
      val requested = new MessageType(schema.getName,
        Seq("vec_id", "embedding").map(n => schema.getType(schema.getFieldIndex(n))): _*)
      reader.setRequestedSchema(requested)
      val io = new ColumnIOFactory().getColumnIO(requested, schema)
      val filter = FilterCompat.get(
        FilterApi.eq(FilterApi.longColumn("vec_id"), java.lang.Long.valueOf(id)))
      Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null).flatMap { pages =>
        val records = io.getRecordReader(pages, new GroupRecordConverter(requested), filter)
        // a record the filter rejects reads as null
        Iterator.fill(pages.getRowCount.toInt)(records.read()).filter(_ != null).map(vector)
      }.toList
    } finally reader.close()
  }

  private def vector(g: Group): Option[Array[Double]] =
    Option.when(g.getFieldRepetitionCount("embedding") == 1) {
      val list = g.getGroup("embedding", 0)
      (0 until list.getFieldRepetitionCount("list")).map(list.getGroup("list", _))
    }.filter(_.forall(_.getFieldRepetitionCount("element") == 1))
      .map(_.map(_.getFloat("element", 0).toDouble).toArray)
}
