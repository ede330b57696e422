package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridges to Spark internals that are private[sql]; this shim lives in
  * an org.apache.spark.sql subpackage solely to reach them. No Spark
  * internals are modified.
  *   - Column <-> catalyst Expression: Spark 4's unified Column wraps a
  *     ColumnNode, and the converters live in `classic.ExpressionUtils`.
  *   - [[onePartition]]: builds a logical plan through `Dataset.ofRows`.
  *   - The listener bus (`private[spark]`), for `graft.obs.Tally`.
  */
object Shim {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `df` in one partition, without a shuffle (`coalesce(1)`). A global
    * sort at the root of `df` (`df.orderBy(...)`) is applied inside that
    * one partition instead: the same rows in the same order, without the
    * bounds-sampling job and range exchange of a global sort whose
    * partitions are about to be collapsed into one. */
  def onePartition(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case s: Sort if s.global =>
      classic.Dataset.ofRows(df.sparkSession.asInstanceOf[classic.SparkSession],
        Sort(s.order, global = false, Repartition(1, shuffle = false, s.child)))
    case _ => df.coalesce(1)
  }

  /** Returns once the listener bus has delivered every event posted so
    * far to every listener, query-execution listeners included. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The listeners attached to `spark`'s bus and to its session's
    * query-execution listener manager. */
  def listenerCount(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.size +
      spark.listenerManager.listListeners().length
}
