package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1 (bench) —
  * and, unchanged, against a 100 TB lake: the parquet scan is the only
  * thing that grows. Filters/projections declared downstream reach the
  * scan via Catalyst (PushedFilters / ReadSchema), so none of these
  * loaders materialize anything.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** UNSPLITTABLE-INPUT spread (guide §2.5, r15): the fixtures are
    * single-row-group parquet, so corpus scans are ONE task and heavy
    * pre-exchange per-row stages (tokenize, shingle, md5) run serially —
    * profiled as 0.5–1.4 s single-task stages on the critical paths of
    * d01/d15/d19/d22/t40/t42 at sf0.1. A deterministic hash repartition
    * on a row key parallelizes them; when the downstream aggregate keys
    * on the same column the added exchange REPLACES the aggregate's own
    * exchange rather than stacking a new one, and when several passes
    * hang off the same frame, ReuseExchange materializes the pre-spread
    * work ONCE. Scale-adaptive (the round contract's parameterization
    * rule): fires only when the scan's parallelism is under half the
    * session's cores — at real scale the scan has real splits and this
    * is a no-op. Deterministic hash keys, NOT round-robin: no
    * sort-before-repartition cost, stable under task retry (§2.5).
    */
  def spreadByKey(df: DataFrame, key: String): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= cores)
      df.repartition(cores, org.apache.spark.sql.functions.col(key))
    else df
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.ts arrives in whatever precision the driver generated this
    * round: TIMESTAMP(NANOS) (older fixtures — Spark rejects it unless read
    * as a raw long, then truncated with integer division; ns epoch values
    * exceed 2^53, so float division would lose precision) or TIMESTAMP(US)
    * without the UTC-adjusted flag (current fixtures — arrives as
    * TIMESTAMP_NTZ). Both normalize to a session-TZ TimestampType (UTC is
    * pinned by [[GraftSession]], so NTZ→LTZ is value-identity) and the same
    * epoch-µs instants, keeping every downstream query and oracle stable
    * across fixture regenerations.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
