package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** The fixed CPU-bound canary workload, min-of-3 with a GC before each
    * timed pass — ONE definition (12.5M rows/thread of the same sum
    * expression) shared by the bench's box-load timeline and
    * TransactionSourceSpec's loaded-box gate, so the two can never drift
    * apart. Quiet-box reference: ~0.09-0.12 s at any thread count.
    */
  def cpuCanary(spark: SparkSession, threads: Int): Double =
    (1 to 3).map { _ =>
      // GC BEFORE the timed region: the caller's accumulated garbage must
      // not read as phantom box slowdown.
      System.gc()
      val t0 = System.nanoTime()
      spark.range(0, threads * 12500000L, 1, threads)
        .selectExpr("sum(id * 3 + (id & 7))").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.build(cpus)
    // Warm up the JVM/scheduler/codegen/parquet paths so the first measured
    // query isn't charged several seconds of one-time init (measured; skews
    // per-query comparisons otherwise). Touches a real scan + md5 codegen.
    spark.range(0, 1000000, 1, cpus).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("count(md5(text))").collect()
    catch { case _: Throwable => }
    // Noise canary: a FIXED CPU-bound workload (identical every round)
    // timed before and after the sweep. The shared box shows sustained
    // neighbor-load phases where identical code measures 1.3-2x slower
    // (round-7: the round-6 d28 spelling re-measured 9.7-14.3 s against
    // its recorded 7.4 s), so absolute totals are only comparable after
    // normalizing by this number: canary_sec up = the box, not the code.
    def canary(): Double = cpuCanary(spark, cpus)
    val canaryPre = canary()
    // Interleaved canary samples (round-7 verdict item 1): the r07 artifact
    // recorded a 2.2x-loaded START that decayed mid-run, and with only
    // pre/post canaries the load phase could not be LOCALIZED — sorted run
    // order mapped it onto the d/m/n families as phantom regressions. A
    // sample every ~50 queries puts a box-load timeline next to the
    // per-query map, so any delta is attributable to box vs code per phase.
    val canarySamples = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    // Local-iteration filter (the driver never sets this).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // Sorted name order: deterministic run-to-run comparison.
    val results = SparkEntry.selected(only)
      .zipWithIndex
      .map { case ((name, fn), qIdx) =>
        if (qIdx > 0 && qIdx % 50 == 0)
          canarySamples += ((qIdx, canary()))
        // Three timed passes, report the min: single-pass numbers on a shared
        // box showed 5-15x spikes on RANDOM queries run-to-run (GC debt,
        // neighbor load) while isolated re-runs were always fast — and the
        // round-5 run showed min-of-2 still doesn't shield against SUSTAINED
        // neighbor load (six >1.8x "regressions" on byte-identical code).
        // Min-of-3 + a GC between passes measures the plan, not the neighbor.
        // clearCache between passes: self-join index caches (d01/d03/d04/
        // n01/n02) must not leak across queries (round-1 anomaly) or let
        // later passes skip the index build.
        val dt = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          // A failing query must fail the RUN (exit nonzero), never shrink
          // the total via a sentinel timing (round-2 verdict item 3).
          try { fn(spark, sfDir).count() } catch {
            case e: Throwable =>
              System.err.println(s"[bench] query '$name' FAILED: $e")
              e.printStackTrace()
              spark.stop()
              sys.exit(2)
          }
          val t = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          // Pay down GC debt BETWEEN passes so pass N+1 isn't charged pass
          // N's garbage — the whole point of min-of-N is an uncontaminated
          // floor (round-5 verdict item 1).
          System.gc()
          t
        }.min
        (name, dt, qIdx)
      }
    val canaryPost = canary()
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // PHASE-WEIGHTED canary normalization (round-12 verdict item 6): the
    // r12 driver run was loaded ONLY for its first ~50 queries (canary
    // 0.42 s at query 0, 0.106 s by query 50), and dividing by the
    // run-MEAN canary under-corrected that stretch — the d-family, which
    // runs early in sorted order, archived 2-3x inflated and cost a judge
    // re-bench. Each query is instead normalized by its NEAREST canary
    // sample in the timeline (pre, one per 50 queries, post):
    //   norm_sec(q) = raw_sec(q) * CANARY_REF / canary_nearest(q)
    // and value_canary_norm is the SUM of the per-query normalized
    // seconds, so a load phase corrects exactly the queries that ran
    // inside it. CANARY_REF is the documented quiet-box midpoint of the
    // fixed workload (~0.09-0.12 s at any thread count — see cpuCanary).
    val CanaryRef = 0.105
    // Box-load timeline: pre, one sample per 50 queries, post — keyed by
    // how many queries had completed when the sample ran.
    val timeline = ((0, canaryPre) +: canarySamples.toSeq :+
      (results.size, canaryPost))
    def nearestCanary(qIdx: Int): Double =
      timeline.minBy { case (at, _) => math.abs(at - qIdx) }._2
    val normResults = results.map { case (name, dt, qIdx) =>
      val c = nearestCanary(qIdx)
      (name, if (c > 0) dt * CanaryRef / c else dt)
    }
    val totalNorm = if (normResults.nonEmpty) normResults.map(_._2).sum else 0.0
    val qsNorm = normResults.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val canariesJson = timeline
      .map { case (at, v) => s"""{"after_queries":$at,"sec":$v}""" }
      .mkString("[", ",", "]")
    // value_canary_norm FIRST (r13 verdict item 8): the driver's tail
    // capture truncates from the FRONT of long lines last — the headline
    // the round-over-round comparison needs is the normalized number, so
    // it leads; the raw total stays for same-box reads.
    val json =
      s"""{"metric":"total","value_canary_norm":$totalNorm,"value":$total,"unit":"sec","cpus":$cpus,"canary_ref":$CanaryRef,"canary_pre":$canaryPre,"canary_post":$canaryPost,"canaries":$canariesJson,"queries":$qs,"queries_norm":$qsNorm,"sf":"$sfDir"}"""
    // Full-precision, all-queries JSON goes to a file; the PRINTED line is
    // budgeted to fit the driver's tail capture. Measured from BENCH_r0N:
    // the driver keeps the LAST 2000 chars of stdout, and under sbt the
    // metric line is followed by "[success] Total time: ..." (~80 chars) —
    // a 117-query map (~3.5 KB) can never be parsed from that window
    // (parsed: null in rounds 1-3). So the printed line carries the total
    // plus the SLOWEST queries that fit in ~1700 chars (3-decimal secs),
    // with "nq" = full count and "shown" = how many made the line.
    val out = java.nio.file.Paths.get("target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, json)
    // Round-8 verdict item 2: the per-round BENCH_full archive must come
    // from the SAME run as the driver's captured tail (r08's archive was
    // one query stale). An UNFILTERED full-map run refreshes the tracked
    // repo-root copy in place — so the driver's own bench run IS the
    // archive, and a later `cp` of an earlier local run can't drift.
    // The target resolves against SPARK_GRAFT_REPO_ROOT when set, else the
    // CWD — and only OVERWRITES an existing tracked file, so a launch from
    // some other directory can't silently scatter archives (r09 advice).
    // Round-14 verdict item 2: the driver's 8-core scaling pass overwrote
    // the tracked 32-core archive (the JSON carried no core count, so the
    // two were indistinguishable). The archive is the 32-core
    // round-over-round record: stamp "cpus" into every JSON (above) and
    // only refresh the tracked copy from a default-core run.
    if (only.isEmpty && sfDir.endsWith("sf0.1") && cpus == 32) {
      val archive = sys.env.get("SPARK_GRAFT_REPO_ROOT")
        .map(r => java.nio.file.Paths.get(r, "BENCH_full_latest.json"))
        .getOrElse(java.nio.file.Paths.get("BENCH_full_latest.json"))
      if (java.nio.file.Files.exists(archive))
        java.nio.file.Files.writeString(archive, json)
      else
        System.err.println(
          s"[bench] archive target $archive missing — not at the repo root? " +
            "full map kept only in target/bench.json")
    }
    val budget = 1700
    // Locale.ROOT: f"%.3f" uses the JVM default locale, and a comma-decimal
    // locale (de_DE) would print "value":45,953 — invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val entries = results.sortBy(-_._2)
      .map { case (k, v, _) => "\"" + k + "\":" + fmt(v) }
    // BOTH canaries in the printed line (round-7 verdict item 1): printing
    // only min(pre, post) hid that r07 STARTED 2.2x loaded — a reader of
    // the driver artifact saw "quiet box" attached to a noisy total.
    def line(n: Int): String =
      s"""{"metric":"total","value_canary_norm":${fmt(totalNorm)},"value":${fmt(total)},"unit":"sec","cpus":$cpus,"sf":"$sfDir","nq":${results.size},"canary_pre":${fmt(canaryPre)},"canary_post":${fmt(canaryPost)},"shown":$n,"full":"target/bench.json","queries":{${entries.take(n).mkString(",")}}}"""
    var shown = entries.size
    while (shown > 0 && line(shown).length > budget) shown -= 1
    val compact = line(shown)
    // Teardown: the run boundary is where the memoized tables are
    // released (round-5 verdict item 5).
    SparkEntry.releaseMemos(spark)
    spark.stop()
    // Print LAST, after Spark's shutdown chatter, so the JSON is the final
    // stdout line wherever possible.
    println(compact)
  }
}
