package graft

/** Local smoke runner mirroring the driver's t1 check: SparkEntry.entry
  * must return >0 rows on sf0.001.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(4)
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n ${if (n > 0) "PASS" else "FAIL"}")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
