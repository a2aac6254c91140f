package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into the `private[sql]` plan↔Dataset seam — the
  * standard pattern OSS Spark extensions (Delta, Sedona, Iceberg) use
  * to materialize a DataFrame from a custom [[LogicalPlan]] node.
  * Also forwards Spark's temp-dir cleanup (`private[spark]`) for
  * `graft.core.Scope.tempDir`. Kept to one-line forwarders; everything
  * else in the engine goes through public API.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  def deleteOnExit(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  def deleteRecursively(dir: java.io.File): Unit =
    org.apache.spark.util.Utils.deleteRecursively(dir)
}
