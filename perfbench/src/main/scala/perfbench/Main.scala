package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its frozen parameters from
  * workloads.json, and the run's bookkeeping.
  */
final class Ctx(val spark: SparkSession, val cfg: JsonNode, val seed: Long,
                val seconds: Double, val cores: Int, val work: Path,
                val fixtures: String, val tracer: Tracer,
                val sched: Scheduler, launchMs: Long) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Per-layer metrics (traced run only), filled by the workload. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Extra JSON fields for the result file (e.g. the query-suite oracle). */
  val extra = mutable.LinkedHashMap.empty[String, String]

  /** Set-up time: process launch until the timed phase starts, so JVM start,
    * session build, input generation and the workload's own warm-up.
    */
  var setupS = 0.0

  // Process CPU time (all threads) and the host's CPU-time split over the
  // timed phase; the workload brackets that phase with timedStart/timedEnd,
  // which also starts the scheduler's longest-task window.
  private var cpu0, cpu1 = 0L
  private var stat0, stat1 = Array.empty[Long]
  def timedStart(): Unit = {
    setupS = (System.currentTimeMillis() - launchMs) / 1e3
    sched.resetMax()
    cpu0 = Host.processCpuNs; stat0 = Host.cpuStat()
  }
  def timedEnd(): Unit = { cpu1 = Host.processCpuNs; stat1 = Host.cpuStat() }
  def timedCpuS: Double = (cpu1 - cpu0) / 1e9
  /** Share of the host's CPU time taken by the hypervisor (steal) while timed. */
  def stealFrac: Double = {
    val d = stat1.zip(stat0).map { case (b, a) => b - a }
    if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
  }

  def fail(msg: String): Unit = { failed += 1; if (errors.size < 50) errors += msg }

  /** Runs `body` with its Spark jobs attributed to `tag` in the scheduler counters. */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Scheduler.TagKey, tag)
    try body finally sc.setLocalProperty(Scheduler.TagKey, null)
  }

  def drain(): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)
}

/** What a workload's timed phase measured: one latency per operation (file,
  * stream file or query), the busy time they took together, and the Spark
  * work they caused.
  */
final case class OpStats(latenciesMs: Seq[Double], busyS: Double, spark: Counts)

object Main {

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val launchMs = a("launch-ms").toLong
    val work = Paths.get(a("work")).toAbsolutePath
    val fixtures = Paths.get(a("fixtures")).toAbsolutePath.toString
    val cfgAll = new ObjectMapper().readTree(Paths.get(a("config")).toFile)
    val cores = cfgAll.get("cores").asInt(Runtime.getRuntime.availableProcessors())
    val cfg = cfgAll.get("workloads").get(workload)
    if (cfg == null) throw new IllegalArgumentException(s"unknown workload $workload")
    Files.createDirectories(work)

    val spark = session(cores, work)
    val tracer = new Tracer(trace)
    val sched = new Scheduler
    spark.sparkContext.addSparkListener(sched)
    val ctx = new Ctx(spark, cfg, seed, seconds, cores, work, fixtures, tracer, sched, launchMs)

    val stats =
      try workload match {
        case "etl_batch"   => EtlBatch.run(ctx)
        case "etl_stream"  => EtlStream.run(ctx)
        case "query_suite" => QuerySuite.run(ctx)
      } catch {
        case e: Throwable =>
          ctx.fail(s"workload aborted: $e")
          e.printStackTrace()
          OpStats(Nil, 0.0, new Counts)
      }
    spark.stop()

    // End-to-end: set-up time and the Spark work per operation. Wall-clock
    // latency and throughput move with the host's load (see workloads.json),
    // so they are reported with the per-layer numbers of the traced run.
    val lat = stats.latenciesMs
    val ops = math.max(lat.size, 1).toDouble
    val e2e = Seq(
      "setup_s" -> ctx.setupS,
      "jobs_per_op" -> stats.spark.jobs / ops,
      "input_mb_per_op" -> stats.spark.inputBytes / ops / (1 << 20))
    val wall = Seq(
      "latency_p50_ms" -> percentile(lat, 0.5),
      "latency_p90_ms" -> percentile(lat, 0.9),
      "ops_per_s" -> (if (stats.busyS > 0) lat.size / stats.busyS else 0.0),
      "cpu_ms_per_op" -> ctx.timedCpuS * 1e3 / ops,
      "rss_peak_mb" -> vmHwmMb)
    if (trace) ctx.layer ++= wall
    val fields = mutable.LinkedHashMap[String, String](
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "end_to_end" -> Json.obj(e2e: _*),
      "wall" -> Json.obj(wall: _*),
      "layer" -> Json.obj(ctx.layer.toSeq: _*),
      "errors" -> Json.value(ctx.errors),
      "ops" -> lat.size.toString,
      "latencies_ms" -> Json.value(lat.map(x => math.round(x).toInt)),
      "steal_frac" -> ctx.stealFrac.toString)
    fields ++= ctx.extra
    if (trace) {
      fields("self_ms") = tracer.selfTimes.toSeq.sortBy(_._1).map { case (n, (t, s)) =>
        Json.str(n) + ":" + Json.obj("total" -> t, "self" -> s) }.mkString("{", ",", "}")
      Files.write(Paths.get(a("spans")), tracer.toJsonLines.toSeq.asJava, StandardCharsets.UTF_8)
    }
    Files.writeString(Paths.get(a("result")),
      fields.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}"))
  }
}

object Host {
  def processCpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The aggregate `cpu` line of /proc/stat (user, nice, system, idle, iowait,
    * irq, softirq, steal, ...), in clock ticks.
    */
  def cpuStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int    => n.toString
    case n: Long   => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
