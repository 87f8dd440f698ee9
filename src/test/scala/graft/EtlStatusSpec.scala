package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftSqlBridge
import graft.operators.EtlStatus

/** A13 status-envelope fidelity: 200/500 + body, exactly the reference's
  * three outcomes (empty branch, success, exception), plus the streaming
  * listener counterpart. Every batch path leaves no cached relation behind,
  * and a run reads its input once.
  */
class EtlStatusSpec extends SparkSpec {

  private val header =
    "step,type,amount,nameOrig,oldbalanceOrg,newbalanceOrig,nameDest,oldbalanceDest,newbalanceDest,isFraud,isFlaggedFraud"

  private def dir(rows: String*): String = {
    val d = Files.createTempDirectory("status_fixture")
    Files.writeString(d.resolve("t.csv"), (header +: rows).mkString("", "\n", "\n"))
    d.toString
  }

  test("success path: 200 + inserted-count body, sink sees the fraud rows") {
    val in = dir(
      "1,TRANSFER,181.0,C1,181.0,0.0,M1,0.0,0.0,1,0",
      "1,CASH_OUT,300.0,C2,300.0,0.0,M2,0.0,0.0,1,0",
      "1,PAYMENT,100.0,C3,1000.0,900.0,M3,0.0,0.0,0,0")
    var sunk = -1L
    spark.catalog.clearCache()
    val st = EtlStatus.run(spark, in)(df => sunk = df.count())
    assert(st === EtlStatus(200, "2 fraud transactions processed and stored in RDS!"))
    assert(sunk === 2)
    assert(spark.sharedState.cacheManager.isEmpty, "the fraud set stayed cached")
  }

  test("empty branch: 200 no-fraud, sink never invoked (A9)") {
    val in = dir("1,PAYMENT,100.0,C3,1000.0,900.0,M3,0.0,0.0,0,0")
    var called = false
    spark.catalog.clearCache()
    val st = EtlStatus.run(spark, in)(_ => called = true)
    assert(st === EtlStatus(200, "No fraud transactions found."))
    assert(!called, "sink ran on the empty branch")
    assert(spark.sharedState.cacheManager.isEmpty, "the fraud set stayed cached")
  }

  test("failure path: 500 + str(e)") {
    val in = dir("1,TRANSFER,181.0,C1,181.0,0.0,M1,0.0,0.0,1,0")
    spark.catalog.clearCache()
    val st = EtlStatus.run(spark, in)(_ => throw new RuntimeException("db down"))
    assert(st === EtlStatus(500, "java.lang.RuntimeException: db down"))
    assert(spark.sharedState.cacheManager.isEmpty, "the fraud set stayed cached")
  }

  /** Jobs, and input bytes of their tasks, run with the `scanProbe` local
    * property set; it keeps other threads' work out of the counts.
    */
  private final class ScanProbe extends SparkListener {
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val bytesRead = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty("scanProbe") != null) {
        jobs.incrementAndGet()
        e.stageIds.foreach(stages.add)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId) && e.taskMetrics != null)
        bytesRead.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
  }

  /** Runs `EtlStatus.run` on `in` under a [[ScanProbe]]; returns the
    * envelope, the jobs started before the sink was entered (None if it
    * never was), and the probe after every listener event is delivered.
    */
  private def probed(in: String)(sink: org.apache.spark.sql.DataFrame => Unit)
      : (EtlStatus, Option[Int], ScanProbe) = {
    val sc = spark.sparkContext
    val probe = new ScanProbe
    sc.addSparkListener(probe)
    sc.setLocalProperty("scanProbe", "on")
    var before = Option.empty[Int]
    try {
      val st = EtlStatus.run(spark, in) { df =>
        GraftSqlBridge.drainListeners(spark)
        before = Some(probe.jobs.get)
        sink(df)
      }
      GraftSqlBridge.drainListeners(spark)
      (st, before, probe)
    } finally {
      sc.setLocalProperty("scanProbe", null)
      sc.removeSparkListener(probe)
    }
  }

  test("one scan: the input is read once and counted in one job before the sink") {
    // Thousands of clean rows around two fraud rows: the sink's read of the
    // cached fraud set is a few KB, far below a second pass over the file.
    val clean = Seq.tabulate(5000)(i => s"1,PAYMENT,100.0,C$i,1000.0,900.0,M$i,0.0,0.0,0,0")
    val in = dir(("1,TRANSFER,181.0,F1,181.0,0.0,M1,0.0,0.0,1,0" +: clean :+
      "1,CASH_OUT,300.0,F2,300.0,0.0,M2,0.0,0.0,1,0"): _*)
    val size = Files.size(Paths.get(in, "t.csv"))
    spark.catalog.clearCache()
    val (st, before, probe) = probed(in)(_.write.format("noop").mode("overwrite").save())
    assert(st === EtlStatus(200, "2 fraud transactions processed and stored in RDS!"))
    assert(before === Some(1), "jobs run before the sink was entered")
    assert(probe.bytesRead.get < 1.1 * size,
      s"read ${probe.bytesRead.get} input bytes of a $size-byte file")
    assert(spark.sharedState.cacheManager.isEmpty, "the fraud set stayed cached")
  }

  test("one scan, empty branch: exactly one job in total and no sink") {
    val in = dir(Seq.tabulate(100)(i => s"1,PAYMENT,100.0,C$i,1000.0,900.0,M$i,0.0,0.0,0,0"): _*)
    val (st, before, probe) = probed(in)(_ => ())
    assert(st === EtlStatus(200, "No fraud transactions found."))
    assert(before === None, "sink ran on the empty branch")
    assert(probe.jobs.get === 1)
  }

  test("streaming listener folds clean termination into a 200") {
    val in = dir("1,TRANSFER,181.0,C1,181.0,0.0,M1,0.0,0.0,1,0")
    val out = Files.createTempDirectory("status_out").toString
    val ckpt = Files.createTempDirectory("status_ckpt").toString
    val listener = new EtlStatus.StatusListener
    spark.streams.addListener(listener)
    try {
      val q = graft.streaming.StreamOps.s01FraudStream(spark, in, out, ckpt)
      q.awaitTermination()
      // listener events are delivered asynchronously after termination
      val deadline = System.nanoTime() + 10_000_000_000L
      while (listener.status.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(listener.status.map(_.statusCode) === Some(200), s"got ${listener.status}")
    } finally spark.streams.removeListener(listener)
  }
}
