package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Durability contract (round-13 hardening): a kill -9 / timeout at ANY
  * point of the run must still leave (a) a complete `oracle_sql.json` —
  * it depends on nothing the dump loop computes, so it is written FIRST —
  * and (b) a parseable prefix of per-query results: each query appends one
  * JSON line to `<outDir>/verify_progress.jsonl` the moment its dump lands
  * (open-append-close per line; no buffering across queries). A truncated
  * run therefore yields a per-query correctness map for everything that
  * finished instead of zeroing the round (the r12 failure mode: the driver
  * artifact came back `{}` for a tree that was 364/364 green).
  */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Local-iteration filter (the driver never sets this): only dump queries
    // whose name matches the regex.
    run(spark, sfDir, outDir, sys.env.get("SPARK_GRAFT_ONLY").map(_.r))
    spark.stop()
  }

  /** The dump loop, factored from main so RobustnessSpec can drive the
    * durability contract in-process (env vars aren't settable from a
    * test; the driver still enters through main).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[scala.util.matching.Regex]): Unit = {
    new java.io.File(outDir).mkdirs()

    // (a) oracle_sql.json FIRST — before any query runs, so a mid-run kill
    // leaves the comparator its full key→SQL map.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val progressPath = Paths.get(s"$outDir/verify_progress.jsonl")
    Files.deleteIfExists(progressPath)
    def progress(name: String, status: String, detail: String, ms: Long,
                 rows: Long): Unit = {
      // `rows` = dumped row count, read back from the just-written parquet
      // footer statistics (r13 verdict item 1: a comparator can
      // sanity-check row counts from the jsonl alone, without re-reading
      // the result parquet). -1 on failure.
      val line = s"{${jsonStr("query")}: ${jsonStr(name)}, ${jsonStr("status")}: ${jsonStr(status)}, " +
        s"${jsonStr("detail")}: ${jsonStr(detail)}, ${jsonStr("ms")}: $ms, ${jsonStr("rows")}: $rows}\n"
      // Open-append-close per line: the file is always a parseable prefix.
      Files.writeString(progressPath, line,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val rows = spark.read.parquet(s"$outDir/$name").count()
        val ms = (System.nanoTime() - t0) / 1000000
        // Per-query ok marker on stdout: a truncated driver log still shows
        // exactly how far the run got.
        println(s"[verify] $name ok (${ms}ms, $rows rows)")
        progress(name, "ok", "", ms, rows)
      } catch { case e: Throwable =>
        val ms = (System.nanoTime() - t0) / 1000000
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        progress(name, "failed", Option(e.getMessage).getOrElse(e.getClass.getName), ms, -1L)
      }
      // Per-query cache scope (see Bench): self-join index caches must not
      // accumulate across the run.
      spark.catalog.clearCache()
    }
    // Run-boundary teardown (the memo deliberately survives clearCache
    // within a run).
    SparkEntry.releaseMemos(spark)
  }
}
