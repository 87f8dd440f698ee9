package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** A frame materialised once: its local checkpoint (`df`, lineage cut) and
  * its exact row count, both from the checkpoint's own job. The count is
  * observed while the checkpoint runs, so `rows` and `isEmpty` start no
  * job, and `df` carries exact statistics (rowCount, and rows × the
  * schema's per-row size) in place of the origin plan's estimate a bare
  * checkpoint keeps, so the joins planned over it are sized from real
  * numbers. This is Shark's partial DAG execution (SIGMOD 2013):
  * statistics collected at a materialisation boundary choose the rest of
  * the plan. At 100 TB the same boundary is a written table whose footer
  * statistics play both parts.
  */
final case class Materialized(df: DataFrame, rows: Long) {
  def isEmpty: Boolean = rows == 0L
}

object Materialized {
  private val Rows = "graft_materialized_rows"

  def of(df: DataFrame): Materialized = {
    val observed = df.observe(Rows, count(lit(1)))
    val cp = observed.localCheckpoint().queryExecution.analyzed.asInstanceOf[LogicalRDD]
    // the checkpoint executed `observed`'s own plan: reading its metrics
    // runs nothing
    val rows = observed.queryExecution.observedMetrics(Rows).getLong(0)
    val stats = Statistics(
      EstimationUtils.getSizePerRow(cp.output) * rows, Some(BigInt(rows)))
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    Materialized(GraftSqlBridge.ofRows(spark,
      cp.copy()(spark, Some(stats), Some(cp.constraints))), rows)
  }
}
