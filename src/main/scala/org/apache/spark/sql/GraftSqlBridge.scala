package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal `private[sql]` bridge for graft's custom plan nodes: the only
  * supported way to wrap a hand-built LogicalPlan into a DataFrame is
  * `classic.Dataset.ofRows`, which is package-private to org.apache.spark.sql
  * — the standard extension-library workaround is this one-file shim living
  * in that package. No other internals are touched.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over rows already in Catalyst's internal format (no
    * conversion pass), with `schema` widened to nullable: the rows' own
    * nullability is not checked, so the frame claims none it cannot prove.
    * StreamGate wraps its pinned micro-batch emissions with it. */
  def rowsToFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema.asNullable)

  /** An isolated copy of the session (shared context, independent runtime
    * conf — inherited, then divergeable): Spark 4 moved `cloneSession`
    * onto the classic implementation only, and `newSession()` would DROP
    * runtime conf already set on the parent. StreamGate runs each replay
    * on one, so its stream settings (state width, state-store provider)
    * never reach the caller's session or a concurrently running catalog
    * neighbor. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
