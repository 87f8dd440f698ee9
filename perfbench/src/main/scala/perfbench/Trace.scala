package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed call into a layer. `run` is the operation (file, batch or query)
  * the span belongs to; `parent` is the id of the enclosing span, or -1.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, run: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans are kept until the run ends and written
  * out once, so tracing costs two `nanoTime` calls and an append per span.
  * When disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var runId = -1

  def setRun(id: Int): Unit = runId = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += null // reserve the slot so children get higher ids
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, t0, System.nanoTime(), parent, runId)
        stack = stack.tail
      }
    }

  /** Records a span measured elsewhere (e.g. on the stream's own thread). */
  def add(name: String, startNs: Long, endNs: Long, run: Int): Unit =
    if (enabled) synchronized { spans += Span(spans.size, name, startNs, endNs, -1, run) }

  /** Per span name: total time, and self time = total minus the part of each
    * span's interval that its direct children cover.
    */
  def selfTimes: Map[String, (Double, Double)] = {
    val done = spans.filter(_ != null)
    val children = done.groupBy(_.parent)
    done.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(_.ms).sum
      val self = ss.map { s =>
        val covered = Intervals.union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).toSeq)
        s.ms - covered / 1e6
      }.sum
      name -> (total, self)
    }
  }

  def toJsonLines: Iterator[String] = spans.iterator.filter(_ != null).map(s =>
    Json.obj("id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "parent" -> s.parent, "run" -> s.run))
}

object Intervals {
  /** Length of the union of half-open intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Counters of one set of Spark jobs. */
final class Counts {
  var jobs, stages, tasks, taskMs, taskMsMax, inputBytes, shuffleWrite, spill = 0L

  /** Counters accrued since `before`; the longest task is the scheduler's
    * since its last [[Scheduler.resetMax]].
    */
  def since(before: Counts): Counts = {
    val d = new Counts
    d.jobs = jobs - before.jobs; d.stages = stages - before.stages
    d.tasks = tasks - before.tasks; d.taskMs = taskMs - before.taskMs
    d.taskMsMax = taskMsMax; d.inputBytes = inputBytes - before.inputBytes
    d.shuffleWrite = shuffleWrite - before.shuffleWrite; d.spill = spill - before.spill
    d
  }
}

/** Scheduler counters, attributed to the operation tag the harness put in
  * the job's local properties (`Scheduler.TagKey`); jobs without a tag (the
  * stream's own thread) count under "".
  */
final class Scheduler extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Counts]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Scheduler.TagKey))).getOrElse("")

  private def counts(tag: String): Counts = byTag.getOrElseUpdate(tag, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    counts(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageTag.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageTag.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.taskMsMax = math.max(c.taskMsMax, m.executorRunTime)
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Starts a new window for the longest task (the timed phase). */
  def resetMax(): Unit = synchronized { byTag.values.foreach(_.taskMsMax = 0L) }

  /** Sum of the counters of every tag accepted by `p`. */
  def total(p: String => Boolean = _ => true): Counts = synchronized {
    val t = new Counts
    byTag.foreach { case (tag, c) if p(tag) =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks; t.taskMs += c.taskMs
      t.taskMsMax = math.max(t.taskMsMax, c.taskMsMax); t.inputBytes += c.inputBytes
      t.shuffleWrite += c.shuffleWrite; t.spill += c.spill
    case _ => }
    t
  }
}

object Scheduler {
  val TagKey = "perfbench.op"
}

/** Per-layer metric helpers shared by the workloads. */
object Layers {

  /** The scheduler's metrics for `ops` operations that together kept the
    * Spark driver busy for `busyMs`: per-operation counts, the longest task, and
    * task time as a share of the cores' time over the busy interval.
    */
  def scheduler(ctx: Ctx, c: Counts, ops: Int, busyMs: Double): Unit = {
    val n = math.max(ops, 1).toDouble
    ctx.layer ++= Seq(
      "spark.jobs" -> c.jobs / n,
      "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n,
      "spark.task_ms_sum" -> c.taskMs / n,
      "spark.task_ms_max" -> c.taskMsMax.toDouble,
      "spark.core_busy_frac" -> busyFrac(ctx, c.taskMs, busyMs),
      "spark.input_bytes" -> c.inputBytes / n,
      "spark.shuffle_write_bytes" -> c.shuffleWrite / n,
      "spark.spill_bytes" -> c.spill / n)
  }

  def busyFrac(ctx: Ctx, taskMs: Double, busyMs: Double): Double =
    if (busyMs > 0) taskMs / (busyMs * ctx.cores) else 0.0
}
