package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The `private[spark]` doorways this library needs, and nothing more:
  *  - planning a custom `LogicalPlan` (graft.plans.AsOfJoinNode) as a
  *    DataFrame. Spark offers no public API for this — every extension
  *    library that contributes whole logical operators ships the same
  *    few-line shim in the `org.apache.spark.sql` namespace;
  *  - draining the listener bus, so a SparkListener has seen every event
  *    of the jobs that already returned before its counters are read.
  * The only other shim outside the `graft` package is
  * `org.apache.spark.sql.graftbridge.ColumnBridge`.
  */
object GraftPlanning {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted so far has reached every listener. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
