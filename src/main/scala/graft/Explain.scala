package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan inspector: prints every physical plan the named queries (or a
  * representative set) execute, so partitioning/pushdown/codegen claims
  * can be audited, and each query's Spark job count (its eager build steps
  * plus one `count()` of the result). Usage:
  * scripts/run.sh Explain [sfDir] [nameRegex], on `SPARK_GRAFT_CPUS`
  * cores (default 4; job counts depend on it).
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

  /** The number of Spark jobs `body` starts. Jobs are counted through a
    * local property set on the calling thread (Spark hands it on to the
    * broadcast and subquery threads a query starts), so work submitted by
    * other threads of the same session stays out of the count.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"jobsOf-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(JobsProperty) == tag)
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(JobsProperty)
    sc.setLocalProperty(JobsProperty, tag)
    try {
      body
      GraftSqlBridge.drainListeners(spark)
      jobs.get
    } finally {
      sc.setLocalProperty(JobsProperty, outer)
      sc.removeSparkListener(listener)
    }
  }

  private val JobsProperty = "graft.explain.jobs"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val pattern = args.lift(1).getOrElse(
      "^(q01|q05|q09|q12|q20|d01|d04|q33)").r
    val spark = GraftSession.build(GraftSession.cpus(4))
    SparkEntry.selected(Some(pattern)).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      var plans = Seq.empty[(String, String)]
      val jobs = jobsOf(spark) {
        var df: DataFrame = null
        plans = plansOf(spark) { df = fn(spark, sfDir); df }
        df.count(): Unit
      }
      plans.foreach { case (step, plan) =>
        println(s"---------- $step ----------\n$plan")
      }
      println(s"---------- jobs: $jobs ----------")
      // memoized tables would otherwise show up as cache scans in a
      // later query's plans
      SparkEntry.releaseMemos(spark)
    }
    spark.stop()
  }
}
