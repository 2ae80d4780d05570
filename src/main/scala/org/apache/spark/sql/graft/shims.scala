package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's native Catalyst expressions and the public Column
  * API. Spark 4 made Column a ColumnNode wrapper and the Expression↔Column
  * converters `private[sql]`, so this one-file shim lives in the sql package
  * namespace — the standard pattern for libraries shipping custom
  * expressions (Delta, Sedona, Qbeast all do the same).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Eager `localCheckpoint` that DROPS the origin plan's constraint set.
  *
  * Spark's `LogicalRDD.fromDataset` deliberately carries the checkpointed
  * plan's constraints (and stats) across the lineage cut. For an iterated
  * self-referential pipeline — graft's Viterbi DP chains ~12 states, each
  * joining the previous four against a filtered vocabulary — that
  * preservation compounds: `InferFiltersFromConstraints` rewrites the
  * vocabulary side's `length(piece) = 1 OR length(piece) > 1` through the
  * `substr(word, i, j)` join aliases, each state inherits every prior
  * state's terms (~4× per step), and the surviving constraint reaches the
  * word-occurrence scan as a multi-hundred-KB pushed Filter that blows
  * Janino's 64 KB method limit (observed: whole-stage codegen fallback in
  * the sf1 probe's unigram legs) and bloats every optimizer pass that
  * walks the ExpressionSet. Constraints are an optimizer hint, not
  * semantics — a materialized boundary is exactly where they should stop.
  * Origin STATS are kept (via `computeStats`): they drive broadcast
  * decisions for the small model-side tables.
  */
object CheckpointBridge {
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.classic.{Dataset => CDataset}
  import org.apache.spark.sql.execution.LogicalRDD

  def localCheckpointNoConstraints(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = true).asInstanceOf[CDataset[Row]]
    ck.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val clean = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(
          ck.sparkSession, Some(lr.computeStats()), None)
        CDataset.ofRows(ck.sparkSession, clean)
      case _ => ck
    }
  }
}

/** Spark's `private[spark]` temp-dir helper: a fresh directory under the
  * JVM's temp directory, deleted by Spark's shutdown hook.
  */
object TempDirs {
  def create(namePrefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = namePrefix)
}
