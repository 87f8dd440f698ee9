package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every main and spec runs on: `local[cpus]` with
  * the graft SQL extensions (py_round, vec_dot, shingles, ...), one
  * shuffle partition per core, UTC session time (events.parquet's `ts`
  * reads as a UTC instant, see [[Tables.events]]), no UI and WARN logs.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
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
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
