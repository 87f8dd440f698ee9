package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession

/** The one SparkSession every main and spec runs on: `local[cpus]` with
  * the graft SQL extensions (py_round, vec_dot, shingles, ...), one
  * shuffle partition per core, UTC session time (events.parquet's `ts`
  * reads as a UTC instant, see [[Tables.events]]), no UI and WARN logs
  * from the first line.
  */
object GraftSession extends Logging {

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def build(cpus: Int): SparkSession = {
    // Spark installs its default log4j profile (root INFO) on its first
    // log call: make that call here, then lower the root to WARN, so the
    // context's start-up INFO lines never print
    initializeLogIfNecessary(isInterpreter = false, silent = true): Unit
    Configurator.setRootLevel(Level.WARN)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // a GC or neighbour-load stall must not time out the local executor;
      // heartbeats are JVM-internal in local mode, so this costs nothing
      .config("spark.network.timeout", "900s")
      .config("spark.executor.heartbeatInterval", "120s")
      .getOrCreate()
  }
}
