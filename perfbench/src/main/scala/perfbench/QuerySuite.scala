package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBridge
import graft.SparkEntry
import graft.queries.{Dedup, Extended, Extras, Relational, ScaleOps, Similarity, TextOps, UdfOps}

/** `query_suite`: the frozen query list of workloads.json through
  * `SparkEntry.queries`, each timed around `fn(spark, dir).count()`. Passes
  * run until the run's seconds are used; the first is also the JVM's first
  * run of these queries, so it carries their class loading, JIT and code
  * generation. The seed rotates where in the sorted list each pass starts.
  */
object QuerySuite {

  /** The module that owns each query; `SparkEntry` adds the m* entries of
    * Multimodal inline.
    */
  val Modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> Relational.queries.keySet, "TextOps" -> TextOps.queries.keySet,
    "Dedup" -> Dedup.queries.keySet, "Similarity" -> Similarity.queries.keySet,
    "UdfOps" -> UdfOps.queries.keySet, "Extended" -> Extended.queries.keySet,
    "Extras" -> Extras.queries.keySet, "ScaleOps" -> ScaleOps.queries.keySet)

  def moduleOf(name: String): String =
    Modules.collectFirst { case (m, keys) if keys(name) => m }.getOrElse("Multimodal")

  /** Releases what one query may leave behind for the next: cached
    * relations and the cross-query memos.
    */
  def release(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    Dedup.clearClusterMemo()
    Similarity.clearGraphAnnMemo()
    TextOps.releasePrefixSumCaches()
  }

  def run(ctx: Ctx): OpStats = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val all = SparkEntry.queries
    val names = ctx.cfg.get("queries").elements().asScala.map(_.asText).toSeq.sorted
    val missing = names.filterNot(all.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(s"unknown queries: $missing")
    val rot = (ctx.seed % names.size).toInt
    val order = names.drop(rot) ++ names.take(rot)

    val counts = mutable.HashMap.empty[String, Long]
    val buildMs, planMs, execMs, lat = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val cachedLeft = mutable.HashMap.empty[String, Boolean]

    def one(name: String, op: Int): Unit = {
      ctx.attempted += 1
      tr.setRun(op)
      val m = moduleOf(name)
      val t0 = System.nanoTime()
      val n = ctx.tagged(name) {
        if (!tr.enabled) all(name)(spark, ctx.fixtures).count()
        else {
          val t1 = System.nanoTime()
          val df = tr.span(s"$m.build") { all(name)(spark, ctx.fixtures) }
          val t2 = System.nanoTime()
          tr.span(s"$m.plan") { df.queryExecution.executedPlan }
          val t3 = System.nanoTime()
          val r = tr.span(s"$m.exec") { df.count() }
          buildMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (t2 - t1) / 1e6
          planMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (t3 - t2) / 1e6
          execMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t3) / 1e6
          r
        }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (tr.enabled)
        cachedLeft(name) = cachedLeft.getOrElse(name, false) || !spark.sharedState.cacheManager.isEmpty
      release(ctx)
      counts.get(name) match {
        case Some(c) if c != n => ctx.fail(s"$name: count $n differs from its first run's $c")
        case None => counts(name) = n
        case _ =>
      }
      lat.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    }

    ctx.drain()
    val modQs = (Modules.map(_._1) :+ "Multimodal").map(m => m -> names.filter(moduleOf(_) == m))
    val before = ctx.sched.total()
    val beforeByMod = modQs.map { case (m, qs) => m -> ctx.sched.total(qs.toSet) }.toMap
    val beforeByQuery = names.map(q => q -> ctx.sched.total(_ == q)).toMap
    val compiles1 = PerfbenchBridge.codegenCompiles
    val passMs = mutable.ArrayBuffer.empty[Double]
    ctx.timedStart()
    val t0 = System.nanoTime()
    var op = 0
    while (passMs.isEmpty || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val p0 = System.nanoTime()
      order.foreach { name => one(name, op); op += 1 }
      passMs += (System.nanoTime() - p0) / 1e6
    }
    ctx.timedEnd()
    val passes = passMs.size
    val allLat = order.flatMap(lat(_))
    val oracle = SparkEntry.oracleSql
    ctx.extra("oracle") = Json.value(names.map(n =>
      n -> Map("count" -> counts(n), "sql" -> oracle.getOrElse(n, ""))).toMap)
    ctx.extra("passes_ms") = Json.value(passMs)
    ctx.extra("query_median_ms") = Json.value(names.map(n => n -> Main.median(lat(n).toSeq)).toMap)
    ctx.extra("codegen_compiles_per_pass") =
      Json.value((PerfbenchBridge.codegenCompiles - compiles1).toDouble / passes)

    ctx.drain()
    val work = ctx.sched.total().since(before)
    ctx.extra("query_jobs") = Json.value(names.map(q =>
      q -> ctx.sched.total(_ == q).since(beforeByQuery(q)).jobs.toDouble / passes).toMap)
    if (tr.enabled) {
      Layers.scheduler(ctx, work, allLat.size, allLat.sum)
      ctx.layer("codegen.compiles") =
        (PerfbenchBridge.codegenCompiles - compiles1).toDouble / allLat.size
      // Per module: one pass's worth (sum over its queries of the median
      // over passes), its jobs per pass and its share of busy cores.
      for ((m, qs) <- modQs) {
        def perPass(xs: mutable.HashMap[String, mutable.ArrayBuffer[Double]]): Double =
          qs.map(q => Main.median(xs.getOrElse(q, mutable.ArrayBuffer.empty[Double]).toSeq)).sum
        val c = ctx.sched.total(qs.toSet).since(beforeByMod(m))
        ctx.layer ++= Seq(
          s"$m.build_ms" -> perPass(buildMs),
          s"$m.plan_ms" -> perPass(planMs),
          s"$m.exec_ms" -> perPass(execMs),
          s"$m.jobs" -> c.jobs.toDouble / passes,
          s"$m.core_busy_frac" -> Layers.busyFrac(ctx, c.taskMs, qs.flatMap(lat.get).flatten.sum),
          s"$m.cached_left" -> qs.count(cachedLeft.getOrElse(_, false)).toDouble)
      }
    }
    OpStats(allLat, allLat.sum / 1e3, work)
  }
}
