package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` surface: Column ↔ Catalyst Expression
  * conversion for our custom native expressions (Spark 4 removed the
  * public `new Column(expr)` constructor; `classic.ExpressionUtils` is the
  * blessed internal path), `toInternalRdd` and `internalCreateDataFrame`
  * for the one lineage cut, `graft.ops.Fixpoint.persistedLeaf` (the
  * iterative operators' rounds and the slicer's pre-joined stars),
  * `singlePartitionDataFrame` for a small star read as one partition, and
  * the `private[spark]` listener-bus drain and codegen counters behind
  * `graft.RunMeter`.
  */
object GraftSqlBridge {
  /** Wait until every listener event posted so far has been delivered. */
  def waitForListeners(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Executed InternalRow RDD of a DataFrame (`queryExecution.toRdd`). */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd

  /** Wrap an InternalRow RDD as a DataFrame leaf (LogicalRDD). The plan
    * over the result is flat — Catalyst never re-analyzes the producing
    * query — which is what bounds per-round plan growth in iterative
    * label propagation. */
  def internalCreateDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Wrap a one-partition InternalRow RDD as a DataFrame leaf that
    * declares `SinglePartition`: Catalyst plans an aggregate, a distinct
    * or a global sort over it with no exchange. */
  def singlePartitionDataFrame(
      spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame = {
    require(rdd.getNumPartitions == 1,
      s"a single-partition leaf needs one partition, not ${rdd.getNumPartitions}")
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, execution.LogicalRDD(
      catalyst.types.DataTypeUtils.toAttributes(schema), rdd,
      outputPartitioning = catalyst.plans.physical.SinglePartition)(session))
  }

  /** Whole-stage and expression classes Janino compiled in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds this JVM spent compiling generated classes. */
  def codegenCompileNs: Long =
    catalyst.expressions.codegen.CodeGenerator.compileTime
}
