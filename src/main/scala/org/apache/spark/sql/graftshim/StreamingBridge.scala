package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType

/** The Spark-internal seam graft's connectors need (the standard
  * extension-library shim, in a sibling package of `org.apache.spark.sql`
  * because `Dataset.ofRows` and `LogicalRDD` are private[sql]). Each move
  * is one Spark's own connectors make:
  *  - the TxLog stream SOURCE: MicroBatchExecution ASSERTS that a V1
  *    `Source.getBatch` result has `isStreaming = true` on its leaves,
  *    and Spark's FileStreamSource satisfies it by re-tagging the
  *    batch-planned `LogicalRelation` as streaming ([[asStreaming]],
  *    [[emptyStreaming]]). Nothing about the scan changes: same files,
  *    same pushdown, same codegen — only the plan's streaming bit;
  *  - the TxLog stream SINK: a V1 `Sink.addBatch` receives the
  *    incremental execution, which batch writers cannot re-plan;
  *    ForeachBatchSink hands its callback a `LogicalRDD` over the
  *    executed rows instead ([[batchOf]]);
  *  - the SQL MERGE interception ([[dfOf]], [[columnOf]]) and
  *    `Checkpointing.cutPartitioned` ([[rowsOf]], [[checkpointNow]]). */
object StreamingBridge {

  /** Re-tag `df`'s leaf relations as streaming — the FileStreamSource
    * getBatch move. Loud if the plan has no taggable leaf (a source
    * handing Spark a non-relation plan would violate the V1 contract
    * silently otherwise). */
  def asStreaming(df: DataFrame): DataFrame = {
    val cds = df.asInstanceOf[ClassicDataset[Row]]
    var tagged = 0
    val plan = cds.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming =>
        tagged += 1; lr.copy(isStreaming = true)
      case loc: LocalRelation if !loc.isStreaming =>
        tagged += 1; loc.copy(isStreaming = true)
    }
    require(tagged > 0 || plan.isStreaming,
      s"cannot tag plan as streaming — no LogicalRelation/LocalRelation " +
        s"leaf in:\n${cds.queryExecution.analyzed}")
    ClassicDataset.ofRows(cds.sparkSession, plan)
  }

  /** A plain batch frame over a micro-batch's incremental execution —
    * the ForeachBatchSink move: the rows of `data.queryExecution.toRdd`
    * under a `LogicalRDD`, so batch writers plan over it like any frame
    * and the batch is evaluated once. */
  def batchOf(data: DataFrame): DataFrame = {
    val cds = data.asInstanceOf[ClassicDataset[Row]]
    dfOf(cds.sparkSession, LogicalRDD.fromDataset(
      cds.queryExecution.toRdd, cds, isStreaming = false))
  }

  /** A batch DataFrame over an analyzed logical plan — the
    * `Dataset.ofRows` seam the SQL MERGE interception needs (its
    * command re-plans the resolved USING subquery as the merge
    * source). */
  def dfOf(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    ClassicDataset.ofRows(s.asInstanceOf[ClassicSparkSession], plan)

  /** A frame over `rows`, the executed output of `origin`, with origin's
    * output, statistics and constraints — `Dataset.checkpoint`'s
    * `LogicalRDD` — declaring the layout of `executed`, not of the root
    * plan (an `AdaptiveSparkPlanExec` root reports `UnknownPartitioning`). */
  def rowsOf(origin: DataFrame, rows: RDD[InternalRow],
      executed: SparkPlan): DataFrame = {
    val cds = origin.asInstanceOf[ClassicDataset[Row]]
    val (stats, constraints) = LogicalRDD.rewriteStatsAndConstraints(
      cds.logicalPlan, cds.queryExecution.optimizedPlan)
    dfOf(cds.sparkSession, LogicalRDD(cds.logicalPlan.output, rows,
      executed.outputPartitioning, executed.outputOrdering)(
      cds.sparkSession, stats, constraints))
  }

  /** Store `rows` in one job, as `Dataset.checkpoint(eager = true)` does:
    * reliably when the context has a checkpoint dir, locally otherwise. */
  def checkpointNow(rows: RDD[InternalRow]): RDD[InternalRow] = {
    val stored = rows.map(_.copy())
    if (stored.sparkContext.getCheckpointDir.isDefined) stored.checkpoint()
    else stored.localCheckpoint()
    stored.doCheckpoint()
    stored
  }

  /** A Column over a catalyst Expression — `ExpressionUtils.column` is
    * private[sql]; the MERGE interception rebuilds action expressions
    * as Columns over TxLogMerge's joined frame through this seam. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** An empty STREAMING frame of `schema` — the no-new-data batch. */
  def emptyStreaming(s: SparkSession, schema: StructType): DataFrame =
    ClassicDataset.ofRows(s.asInstanceOf[ClassicSparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), Nil,
        isStreaming = true))
}
