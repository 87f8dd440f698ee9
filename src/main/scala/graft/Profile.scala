package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Stage-level profiler (guide §1: measure first): runs the named queries
  * once and prints, per stage, wall time, task count, the max/sum of task
  * times (max ≈ sum/parallelism ⇒ balanced; max ≈ sum ⇒ one straggler
  * task owns the stage), and shuffle bytes. This is the offline stand-in
  * for the Spark UI's stage page on a box with the UI disabled.
  * Usage: scripts/run.sh Profile [sfDir] [nameRegex] [cpus]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val pattern = args.lift(1).getOrElse("^d28_").r
    val cpus = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    case class St(var tasks: Int = 0, var sumMs: Long = 0, var maxMs: Long = 0,
                  var shRead: Long = 0, var shWrite: Long = 0,
                  var wallMs: Long = 0, var name: String = "")
    val stages = scala.collection.concurrent.TrieMap.empty[Int, St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val st = stages.getOrElseUpdate(e.stageId, St())
        val m = e.taskMetrics
        if (m != null) {
          val ms = m.executorRunTime
          st.synchronized {
            st.tasks += 1; st.sumMs += ms; st.maxMs = math.max(st.maxMs, ms)
            st.shRead += m.shuffleReadMetrics.totalBytesRead
            st.shWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val st = stages.getOrElseUpdate(i.stageId, St())
        st.wallMs = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        st.name = i.name.takeWhile(_ != '\n')
      }
    })
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => pattern.findFirstIn(name).isDefined }
      .foreach { case (name, fn) =>
        stages.clear()
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"\n===== $name%s  total=$dt%.2fs =====")
        println(f"${"stage"}%-7s ${"wall_ms"}%8s ${"tasks"}%6s ${"sum_ms"}%8s " +
          f"${"max_ms"}%8s ${"shRd_MB"}%8s ${"shWr_MB"}%8s  name")
        stages.toSeq.sortBy(-_._2.sumMs).take(25).foreach { case (id, s) =>
          println(f"$id%-7d ${s.wallMs}%8d ${s.tasks}%6d ${s.sumMs}%8d " +
            f"${s.maxMs}%8d ${s.shRead / 1e6}%8.1f ${s.shWrite / 1e6}%8.1f  ${s.name.take(60)}")
        }
        spark.catalog.clearCache()
      }
    SparkEntry.releaseMemos(spark)
    spark.stop()
  }
}
