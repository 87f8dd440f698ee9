package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan inspector: prints every physical plan the named queries (or a
  * representative set) execute, so partitioning/pushdown/codegen claims
  * can be audited. Usage: scripts/run.sh Explain [sfDir] [nameRegex]
  */
object Explain {

  /** The physical plans of one query: each eager step `build` runs while
    * it constructs the query (`localCheckpoint`, `count`, `isEmpty`, write
    * commands — every action Spark runs through `withAction`), as
    * (action name, executed plan) in completion order, followed by
    * ("final", the built query's executedPlan). A query that materializes
    * an intermediate keeps only an RDD scan of it in its final plan; the
    * joins, aggregates and windows that built it are in the eager plans,
    * cached sub-plans included.
    */
  def plansOf(spark: SparkSession)(build: => DataFrame): Seq[(String, String)] = {
    val eager = new ConcurrentLinkedQueue[(String, String)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        eager.add(funcName -> qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = build
      GraftSqlBridge.drainListeners(spark)
      eager.asScala.toSeq :+ ("final" -> df.queryExecution.executedPlan.toString)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val pattern = args.lift(1).getOrElse(
      "^(q01|q05|q09|q12|q20|d01|d04|q33)").r
    val spark = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => pattern.findFirstIn(name).isDefined }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        plansOf(spark)(fn(spark, sfDir)).foreach { case (step, plan) =>
          println(s"---------- $step ----------\n$plan")
        }
        // memoized tables would otherwise show up as cache scans in a
        // later query's plans
        SparkEntry.releaseMemos(spark)
      }
    spark.stop()
  }
}
