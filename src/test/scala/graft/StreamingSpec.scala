package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.FraudPipeline
import graft.streaming.StreamOps

/** Structured Streaming suite (s01–s04) with deterministic replays. */
class StreamingSpec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private val header =
    "step,type,amount,nameOrig,oldbalanceOrg,newbalanceOrig,nameDest,oldbalanceDest,newbalanceDest,isFraud,isFlaggedFraud"

  test("s01 file-per-trigger stream equals batch on the same files") {
    val inDir = tmp("s01_in")
    // file 1: one fraud row + one clean row; file 2: clean only (exercises
    // the A9 empty-batch guard); file 3: one fraud row
    Files.writeString(java.nio.file.Paths.get(inDir, "f1.csv"), header + "\n" +
      "1,TRANSFER,181.0,C1,181.0,0.0,M1,0.0,0.0,1,0\n" +
      "1,PAYMENT,100.0,C2,1000.0,900.0,M2,0.0,0.0,0,0\n")
    Files.writeString(java.nio.file.Paths.get(inDir, "f2.csv"), header + "\n" +
      "1,PAYMENT,50.0,C3,500.0,450.0,M3,0.0,0.0,0,0\n")
    Files.writeString(java.nio.file.Paths.get(inDir, "f3.csv"), header + "\n" +
      "1,CASH_OUT,300.0,C4,300.0,0.0,M4,0.0,0.0,0,1\n")

    val outDir = tmp("s01_out")
    val q = StreamOps.s01FraudStream(spark, inDir, outDir, tmp("s01_ckpt"))
    q.awaitTermination()

    val streamed = spark.read.parquet(outDir)
      .select("nameOrig").collect().map(_.getString(0)).sorted
    val batch = FraudPipeline(FraudPipeline.readCsv(spark, inDir))
      .select("nameOrig").collect().map(_.getString(0)).sorted
    assert(streamed === batch)
    assert(streamed === Array("C1", "C4"))
  }

  test("s01 checkpoint recovery: restart processes only NEW files (exactly-once)") {
    val inDir = tmp("s01r_in")
    val outDir = tmp("s01r_out")
    val ckpt = tmp("s01r_ckpt")
    Files.writeString(java.nio.file.Paths.get(inDir, "f1.csv"), header + "\n" +
      "1,TRANSFER,181.0,C1,181.0,0.0,M1,0.0,0.0,1,0\n")
    val q1 = StreamOps.s01FraudStream(spark, inDir, outDir, ckpt)
    q1.awaitTermination()

    // restart against the SAME checkpoint with one new file: the committed
    // file must not be reprocessed (no C1 duplicate), the new one must land
    Files.writeString(java.nio.file.Paths.get(inDir, "f2.csv"), header + "\n" +
      "1,CASH_OUT,300.0,C2,300.0,0.0,M2,0.0,0.0,1,0\n")
    val q2 = StreamOps.s01FraudStream(spark, inDir, outDir, ckpt)
    q2.awaitTermination()

    val names = spark.read.parquet(outDir)
      .select("nameOrig").collect().map(_.getString(0)).sorted
    assert(names === Array("C1", "C2"), s"got ${names.toSeq}")
  }

  test("multi-record arrival: files 2..n are processed, not silently dropped") {
    // Pinned DIVERGENCE from the reference (SURVEY §3.1 stage 2): the
    // deployed handler reads only `Records[0]` of each S3 event (zip
    // lambda_function_aws.py:26-28, mirrored at py:29-31), so one event
    // carrying several object records silently DROPS files 2..n. This
    // engine's file source queues every discovered file (one micro-batch
    // each under maxFilesPerTrigger=1), so files that arrive together all
    // land exactly once — deliberately the BETTER behavior, asserted here
    // so the difference is a documented contract, not an accident.
    val inDir = tmp("smulti_in")
    for (i <- 1 to 3)
      Files.writeString(java.nio.file.Paths.get(inDir, s"f$i.csv"), header + "\n" +
        s"1,TRANSFER,181.0,C$i,181.0,0.0,M$i,0.0,0.0,1,0\n")
    val outDir = tmp("smulti_out")
    val q = StreamOps.s01FraudStream(spark, inDir, outDir, tmp("smulti_ckpt"))
    q.awaitTermination()
    val names = spark.read.parquet(outDir)
      .select("nameOrig").collect().map(_.getString(0)).sorted
    assert(names === Array("C1", "C2", "C3"),
      s"all simultaneously-arriving files must be processed; got ${names.toSeq}")
    // and the one-micro-batch-per-file contract (maxFilesPerTrigger=1,
    // mirroring one-Lambda-per-object): three files -> three non-empty batches
    val nonEmptyBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(nonEmptyBatches === 3, s"expected 3 file-batches, got $nonEmptyBatches")
  }

  test("s01 JDBC variant: stream lands fraud rows in Derby end-to-end") {
    val inDir = tmp("s01j_in")
    Files.writeString(java.nio.file.Paths.get(inDir, "f1.csv"), header + "\n" +
      "1,TRANSFER,181.0,C1,181.0,0.0,M1,0.0,0.0,1,0\n" +
      "1,PAYMENT,100.0,C2,1000.0,900.0,M2,0.0,0.0,0,0\n")
    Files.writeString(java.nio.file.Paths.get(inDir, "f2.csv"), header + "\n" +
      "1,CASH_OUT,300.0,C3,300.0,0.0,M3,0.0,0.0,0,1\n")

    val url = "jdbc:derby:memory:streamdb;create=true"
    val props = new java.util.Properties()
    val table = "fraud_stream_e2e"
    val q = graft.streaming.StreamOps.s01FraudStreamJdbc(
      spark, inDir, url, table, props,
      graft.operators.FraudSink.derbyDdl(table), tmp("s01j_ckpt"))
    q.awaitTermination()

    val landed = spark.read.jdbc(url, table, props)
      .select("NAMEORIG").collect().map(_.getString(0)).sorted
    assert(landed === Array("C1", "C3"))
  }

  test("observed stage counts replace len()-based logging without extra jobs") {
    import org.apache.spark.sql.{Observation, functions => F}
    val inDir = tmp("obs_in")
    Files.writeString(java.nio.file.Paths.get(inDir, "t.csv"), header + "\n" +
      "1,TRANSFER,181.0,C1,181.0,0.0,M1,0.0,0.0,1,0\n" +     // valid + fraud
      "1,PAYMENT,100.0,C2,1000.0,900.0,M2,0.0,0.0,0,0\n" +   // valid
      "1,DEBIT,500.0,C3,100.0,0.0,M3,0.0,1000.0,0,0\n")      // invalid
    val (oIn, oValid, oFraud) =
      (Observation("in"), Observation("valid"), Observation("fraud"))
    val df = FraudPipeline.readCsv(spark, inDir)
    val piped = FraudPipeline.fraudFilter(
      FraudPipeline.validityFilter(
        df.observe(oIn, F.count(F.lit(1)).as("n"))
      ).observe(oValid, F.count(F.lit(1)).as("n"))
    ).observe(oFraud, F.count(F.lit(1)).as("n"))
    piped.collect() // ONE action; all three counts observed on the side
    assert(oIn.get("n") === 3L)
    assert(oValid.get("n") === 2L)
    assert(oFraud.get("n") === 1L)
  }

  private def ts(minutes: Int) = new Timestamp(minutes * 60000L)

  test("s15 chained window aggs: 5-min partials roll up to 15-min totals in one query") {
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.s15ChainedWindowAgg(events)
      .writeStream.format("memory").queryName("s15_out")
      .outputMode(OutputMode.Append()).start()
    // 5-min cells: [0,5) click:2, [0,5) view:1, [5,10) click:1, [15,20) view:1
    mem.addData((ts(1), "click", 1.0), (ts(2), "click", 1.0),
                (ts(3), "view", 1.0), (ts(6), "click", 1.0),
                (ts(16), "view", 1.0))
    q.processAllAvailable()
    // flush: push the watermark past every window so append emits them all
    mem.addData((ts(1000), "flush", 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("s15_out").collect()
      .map(r => r.getTimestamp(0).getTime / 60000 ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // 15-min roll-up [0,15): 4 events across 3 (window,type) cells;
    // [15,30): 1 event, 1 cell — each emitted exactly once, fully final.
    assert(out(0L) === ((4L, 3L)), s"got $out")
    assert(out(15L) === ((1L, 1L)), s"got $out")
    // and the stream equals the batch twin of the same chained shape
    val batch = Seq((ts(1), "click", 1.0), (ts(2), "click", 1.0),
                    (ts(3), "view", 1.0), (ts(6), "click", 1.0),
                    (ts(16), "view", 1.0))
      .toDF("ts", "event_type", "value")
    val twin = batch
      .groupBy(F.window($"ts", "5 minutes"), $"event_type")
      .agg(F.count(F.lit(1)).as("n"))
      .groupBy(F.window($"window", "15 minutes"))
      .agg(F.sum($"n").as("n_events"), F.count(F.lit(1)).as("n_cells"))
      .collect()
      .map(r => r.getStruct(0).getTimestamp(0).getTime / 60000 ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === twin, s"stream $out != batch $twin")
  }

  test("s16 join-then-window-agg: matched pairs roll into windows in one query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pmem = MemoryStream[(Timestamp, Long, Long)]
    val emem = MemoryStream[(Timestamp, Long, Long)]
    val q = StreamOps.s16JoinThenWindowAgg(
        pmem.toDF().toDF("p_ts", "p_user", "p_id"),
        emem.toDF().toDF("e_ts", "e_user", "e_id"))
      .writeStream.format("memory").queryName("s16_out")
      .outputMode(OutputMode.Append()).start()
    // same pairing fixture as s06: (purchase@10, error@5) and
    // (purchase@40, error@30) match for user 7 — one pair in window
    // [10,20), one in [40,50); unmatched users contribute nothing.
    emem.addData((ts(5), 7L, 100L), (ts(30), 7L, 101L), (ts(5), 8L, 102L))
    pmem.addData((ts(10), 7L, 1L), (ts(40), 7L, 2L), (ts(10), 9L, 3L))
    q.processAllAvailable()
    // flush both watermarks far past the join windows so the downstream
    // windowed agg finalizes and emits in append mode
    emem.addData((ts(2000), 99L, 999L))
    pmem.addData((ts(2000), 99L, 998L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("s16_out").collect()
      .map(r => r.getTimestamp(0).getTime / 60000 -> r.getLong(2)).toMap
    assert(out.getOrElse(10L, 0L) === 1L, s"got $out")
    assert(out.getOrElse(40L, 0L) === 1L, s"got $out")
    assert(out.values.sum === 2L, s"unexpected extra windows: $out")
  }

  test("s02 sliding window + watermark drops late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.s02SlidingWindow(events)
      .writeStream.format("memory").queryName("s02_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1: events inside [0,10) and [5,15)
    mem.addData((ts(1), "click", 1.0), (ts(6), "click", 2.0))
    q.processAllAvailable()
    // batch 2: jump to t=60 — the watermark advances to 50 at batch END
    mem.addData((ts(60), "click", 4.0))
    q.processAllAvailable()
    // batch 3: a LATE event at t=2, now behind the watermark -> dropped
    // (must be its own batch: the operative watermark during a batch is the
    // one computed at the END of the previous batch)
    mem.addData((ts(2), "click", 100.0))
    q.processAllAvailable()
    // batch 4: flush t=60's windows
    mem.addData((ts(120), "click", 8.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("s02_out")
      .select("ws", "n", "sum_value").collect()
      .map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(1), r.getDouble(2)))
      .toSet
    // window [0,10): both on-time events, NOT the late 100.0
    assert(out.contains((0L, 2L, 3.0)), s"got $out")
    // window [5,15): only the t=6 event
    assert(out.contains((5L, 1L, 2.0)))
    assert(!out.exists(_._3 >= 100.0), "late event leaked into a window")
  }

  test("s30 late-drop observability: numRowsDroppedByWatermark counts the discard") {
    // s02 pins the SEMANTIC drop; this pins the OPERATIONAL counter the
    // on-call reads — a silent late-data discard must surface in
    // StreamingQueryProgress, not only as absent rows.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = StreamOps.s02SlidingWindow(mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("s30_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts(1), "click", 1.0))
    q.processAllAvailable()
    mem.addData((ts(60), "click", 2.0)) // watermark -> 50 at batch end
    q.processAllAvailable()
    mem.addData((ts(2), "click", 3.0)) // behind the watermark: dropped
    q.processAllAvailable()
    val dropped = q.recentProgress.flatMap(p =>
      Option(p.stateOperators).toSeq.flatten.map(_.numRowsDroppedByWatermark)).sum
    q.stop()
    assert(dropped >= 1L,
      s"expected the late row in numRowsDroppedByWatermark, got $dropped")
  }

  test("s02 stream equals q53's batch sliding-window twin on on-time data") {
    import spark.implicits._
    import org.apache.spark.sql.{functions => F}
    implicit val sqlCtx = spark.sqlContext
    // All on-time events (monotone ts), then one far-future row to push the
    // watermark past every real window so Append mode emits them all.
    val data = Seq((ts(1), "click", 1.0), (ts(6), "click", 2.0),
                   (ts(11), "click", 4.0), (ts(14), "view", 8.0))
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = StreamOps.s02SlidingWindow(mem.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("s02_twin_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData(data: _*)
    q.processAllAvailable()
    mem.addData((ts(1000), "flush", 0.0))
    q.processAllAvailable()
    q.stop()

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2), r.getDouble(3))
    val streamed = spark.table("s02_twin_out")
      .filter($"event_type" =!= "flush")
      .select("ws", "event_type", "n", "sum_value").collect().map(key).toSet
    // The batch twin: q53's groupBy(window(ts, 10m, 5m)) shape on the same
    // rows — streaming with watermark must converge to exactly this.
    val batch = data.toDF("ts", "event_type", "value")
      .groupBy(F.window($"ts", "10 minutes", "5 minutes"), $"event_type")
      .agg(F.count(F.lit(1)).as("n"), F.sum($"value").as("sum_value"))
      .select($"window.start".as("ws"), $"event_type", $"n", $"sum_value")
      .collect().map(key).toSet
    assert(streamed === batch, s"stream $streamed != batch $batch")
  }

  test("s03 session windows close on 5-minute gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val q = StreamOps.s03SessionWindow(events)
      .writeStream.format("memory").queryName("s03_out")
      .outputMode(OutputMode.Append()).start()
    // user 7: burst at 0,1,2 (one session), burst at 20,21 (second session)
    mem.addData((ts(0), 7L, 1.0), (ts(1), 7L, 1.0), (ts(2), 7L, 1.0),
                (ts(20), 7L, 1.0), (ts(21), 7L, 1.0))
    q.processAllAvailable()
    mem.addData((ts(120), 7L, 0.0)) // advance watermark, flush sessions
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("s03_out")
      .filter($"n_events" > 0).select("n_events").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(sessions.containsSlice(Seq(2L, 3L)), s"got $sessions")
  }

  test("s18 dynamic-gap sessions: clicks hold sessions open longer than views") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = StreamOps.s18DynamicGapSession(events)
      .writeStream.format("memory").queryName("s18_out")
      .outputMode(OutputMode.Append()).start()
    // user 1: views at 0 and 5 — the 2-minute view gap SPLITS them.
    // user 2: clicks at 0 and 5 — the 10-minute click gap MERGES them.
    mem.addData((ts(0), 1L, "view"), (ts(5), 1L, "view"),
                (ts(0), 2L, "click"), (ts(5), 2L, "click"))
    q.processAllAvailable()
    mem.addData((ts(120), 3L, "view")) // advance watermark, flush sessions
    q.processAllAvailable()
    q.stop()
    val byUser = spark.table("s18_out").collect()
      .filter(r => r.getLong(0) <= 2)
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(3)).sorted.toSeq).toMap
    assert(byUser(1L) === Seq(1L, 1L), s"got $byUser") // two 1-event sessions
    assert(byUser(2L) === Seq(2L), s"got $byUser")     // one merged session
  }

  test("s19 health snapshot: state rows, input rows and watermark surface per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.s02SlidingWindow(events)
      .writeStream.format("memory").queryName("s19_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts(1), "click", 1.0), (ts(2), "view", 2.0), (ts(3), "click", 3.0))
    q.processAllAvailable()
    mem.addData((ts(60), "view", 0.0)) // advances the watermark
    q.processAllAvailable()
    val snap = StreamOps.s19HealthSnapshot(q)
    q.stop()
    assert(snap.isDefined)
    val (stateRows, _, watermark) = snap.get
    // the windowed agg holds state; the watermark string is a real instant
    assert(stateRows > 0L, s"expected live state rows, got $snap")
    assert(watermark.nonEmpty && watermark.startsWith("1970-01-01T"),
      s"expected an advanced epoch-based watermark, got '$watermark'")
  }

  test("s05 custom state: per-user running counters survive across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.UserEvent
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.s05RunningState(mem.toDS())
      .writeStream.format("memory").queryName("s05_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData(UserEvent(7L, ts(1), 10.0), UserEvent(7L, ts(2), 5.0),
                UserEvent(8L, ts(1), 1.0))
    q.processAllAvailable()
    mem.addData(UserEvent(7L, ts(3), 2.0)) // state must continue: seq 3
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("s05_out")
      .select("user_id", "seq_no", "running_sum").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows === Set((7L, 1L, 10.0), (7L, 2L, 15.0), (7L, 3L, 17.0),
                        (8L, 1L, 1.0)), s"got $rows")
  }

  test("s29 streaming EWMA equals the batch ordered fold across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.UserEvent
    val mem = MemoryStream[UserEvent]
    val q = StreamOps.s29StreamingEwma(mem.toDS())
      .writeStream.format("memory").queryName("s29_out")
      .outputMode(OutputMode.Append()).start()
    // batch 1 carries TWO events for user 7 (within-batch fold order must
    // be event time); batch 2 continues user 7's state. User 9 plants a
    // TIMESTAMP TIE, delivered in reverse event_id order: the fold must
    // order by (ts, event_id) — q155's exact sort key — not arrival, and
    // never by value (delivery order would seed with the wrong event).
    mem.addData(UserEvent(7L, ts(1), 100.0, 1L), UserEvent(7L, ts(2), 200.0, 2L),
                UserEvent(8L, ts(1), 50.0, 3L),
                UserEvent(9L, ts(5), 100.0, 11L), UserEvent(9L, ts(5), 800.0, 10L))
    q.processAllAvailable()
    mem.addData(UserEvent(7L, ts(3), 400.0, 4L))
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("s29_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2) }
    // the batch reference: the same seeded left fold (q155's recurrence)
    def ewma(vs: Double*): Double = vs.reduceLeft((a, x) => a * 0.875 + x * 0.125)
    assert(fin(7L) === ((7L, 3L, ewma(100.0, 200.0, 400.0))), s"got ${fin(7L)}")
    assert(fin(8L) === ((8L, 1L, 50.0)), s"got ${fin(8L)}")
    // tie broken by event_id: id 10 (value 800) seeds, id 11 (value 100)
    // folds second — (ts, value) or arrival order would both give 187.5
    assert(fin(9L) === ((9L, 2L, ewma(800.0, 100.0))), s"got ${fin(9L)}")
    // the identical values a batch q155-style array fold produces
    assert(math.abs(fin(7L)._3 - 148.4375) < 1e-12)
  }

  test("s08 transformWithState equals s05 flatMapGroupsWithState on the same replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.UserEvent
    // transformWithState requires the RocksDB state store provider; scope
    // the conf to this test so the HDFS-backed default elsewhere stands.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[UserEvent]
      val q = StreamOps.s08RunningState(mem.toDS())
        .writeStream.format("memory").queryName("s08_out")
        .outputMode(OutputMode.Append()).start()
      // the EXACT replay of the s05 test: same batches, same rows
      mem.addData(UserEvent(7L, ts(1), 10.0), UserEvent(7L, ts(2), 5.0),
                  UserEvent(8L, ts(1), 1.0))
      q.processAllAvailable()
      mem.addData(UserEvent(7L, ts(3), 2.0)) // state must continue: seq 3
      q.processAllAvailable()
      q.stop()

      val rows = spark.table("s08_out")
        .select("user_id", "seq_no", "running_sum").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // identical to the s05 assertion — the two state surfaces agree
      assert(rows === Set((7L, 1L, 10.0), (7L, 2L, 15.0), (7L, 3L, 17.0),
                          (8L, 1L, 1.0)), s"got $rows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("s08 transformWithState value state survives a query restart (RocksDB recovery)") {
    // The Spark-4 state tier's restart contract: the named ValueState
    // must come back from the checkpointed RocksDB store and continue the
    // sequence — the third member of the restart battery (s10 built-in
    // agg, s05 fMGWS custom state).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.UserEvent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = tmp("s08r_ckpt")
      val outDir = tmp("s08r_out")
      val mem = MemoryStream[UserEvent]
      def start() = StreamOps.s08RunningState(mem.toDS())
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[_], _: Long) =>
          batch.toDF().write.mode("append").parquet(outDir); ()
        }
        .start()
      val q1 = start()
      mem.addData(UserEvent(7L, ts(1), 10.0), UserEvent(7L, ts(2), 5.0))
      q1.processAllAvailable()
      q1.stop()
      val q2 = start()
      mem.addData(UserEvent(7L, ts(3), 2.0))
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(outDir)
        .select("user_id", "seq_no", "running_sum").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains((7L, 3L, 17.0)), s"value state lost: $rows")
      assert(!rows.contains((7L, 1L, 2.0)), s"value state reseeded: $rows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("s22 transformWithState TTL dedup: drop within horizon, re-admit after timer eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.KeyedEvent
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[KeyedEvent]
      val q = StreamOps.s22TtlDedup(mem.toDS())
        .writeStream.format("memory").queryName("s22_out")
        .outputMode(OutputMode.Append()).start()
      // b1: id 1 emitted once — the in-batch duplicate at ts(2) is dropped
      mem.addData(KeyedEvent(7L, 1L, ts(1)), KeyedEvent(7L, 1L, ts(2)))
      q.processAllAvailable()
      // b2: id 1 again, 4 min later — inside the 30 min TTL, dropped
      mem.addData(KeyedEvent(7L, 1L, ts(5)))
      q.processAllAvailable()
      // b3: fresh id far in the future — emitted, and advances the
      // watermark (120 - 10 = 110 min) past id 1's expiry (1 + 30 min)
      mem.addData(KeyedEvent(7L, 2L, ts(120)))
      q.processAllAvailable()
      // b4: unrelated user triggers the batch in which user 7's expired
      // timer fires and evicts id 1 from the map
      mem.addData(KeyedEvent(8L, 3L, ts(121)))
      q.processAllAvailable()
      // b5: id 1 re-admitted — proof the timer actually removed it (a
      // plain seen-set would still drop it here)
      mem.addData(KeyedEvent(7L, 1L, ts(130)))
      q.processAllAvailable()
      q.stop()

      val rows = spark.table("s22_out")
        .select("user_id", "event_id", "ts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2))).toSet
      assert(rows === Set((7L, 1L, ts(1)), (7L, 2L, ts(120)),
                          (8L, 3L, ts(121)), (7L, 1L, ts(130))), s"got $rows")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("s06 stream-stream interval join matches purchases to recent errors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pmem = MemoryStream[(Timestamp, Long, Long)]
    val emem = MemoryStream[(Timestamp, Long, Long)]
    val q = StreamOps.s06StreamStreamJoin(
        pmem.toDF().toDF("p_ts", "p_user", "p_id"),
        emem.toDF().toDF("e_ts", "e_user", "e_id"))
      .writeStream.format("memory").queryName("s06_out")
      .outputMode(OutputMode.Append()).start()
    // user 7: error@5 pairs with purchase@10 (within 10 min), error@30 with
    // purchase@40; cross-window pairs (error@5 × purchase@40) must NOT join.
    // user 8 has an error but no purchase; user 9 a purchase but no error.
    emem.addData((ts(5), 7L, 100L), (ts(30), 7L, 101L), (ts(5), 8L, 102L))
    pmem.addData((ts(10), 7L, 1L), (ts(40), 7L, 2L), (ts(10), 9L, 3L))
    q.processAllAvailable()
    q.stop()

    val joined = spark.table("s06_out").select("p_id", "e_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(joined === Set((1L, 100L), (2L, 101L)), s"got $joined")
  }

  test("s25 left-semi stream-stream join emits each purchase once regardless of match count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pmem = MemoryStream[(Timestamp, Long, Long)]
    val emem = MemoryStream[(Timestamp, Long, Long)]
    val q = StreamOps.s25StreamSemiJoin(
        pmem.toDF().toDF("p_ts", "p_user", "p_id"),
        emem.toDF().toDF("e_ts", "e_user", "e_id"))
      .writeStream.format("memory").queryName("s25_out")
      .outputMode(OutputMode.Append()).start()
    // user 7: TWO errors (@5, @8) inside purchase@10's window — the semi
    // join must emit p_id 1 exactly once (s06's inner join would emit it
    // twice); error@30 pairs purchase@40; user 8 error-only and user 9
    // purchase-only must not emit.
    emem.addData((ts(5), 7L, 100L), (ts(8), 7L, 103L), (ts(30), 7L, 101L),
                 (ts(5), 8L, 102L))
    pmem.addData((ts(10), 7L, 1L), (ts(40), 7L, 2L), (ts(10), 9L, 3L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("s25_out").select("p_id").collect()
      .map(_.getLong(0)).toList.sorted
    assert(rows === List(1L, 2L), s"got $rows")
    // semi output carries ONLY the left side's columns
    assert(spark.table("s25_out").columns.toSet === Set("p_ts", "p_user", "p_id"))
  }

  test("s09 left-outer stream-stream join: unmatched rows emit null-padded only after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pmem = MemoryStream[(Timestamp, Long, Long)]
    val emem = MemoryStream[(Timestamp, Long, Long)]
    val q = StreamOps.s09StreamStreamLeftJoin(
        pmem.toDF().toDF("p_ts", "p_user", "p_id"),
        emem.toDF().toDF("e_ts", "e_user", "e_id"))
      .writeStream.format("memory").queryName("s09_out")
      .outputMode(OutputMode.Append()).start()
    // user 7 purchase@10 matches error@5; user 9 purchase@10 has no error.
    emem.addData((ts(5), 7L, 100L))
    pmem.addData((ts(10), 7L, 1L), (ts(10), 9L, 2L))
    q.processAllAvailable()
    // before the watermark passes p_ts + 10min, the unmatched purchase is
    // held in state — only the inner match is visible
    val early = spark.table("s09_out").select("p_id").collect().map(_.getLong(0)).toSet
    assert(early === Set(1L), s"got $early")
    // advance BOTH watermarks past the join window (join watermark = min);
    // the user-9 purchase can no longer match -> emits with null e_id
    emem.addData((ts(60), 7L, 999L))
    pmem.addData((ts(60), 7L, 99L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("s09_out").select("p_id", "e_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows.contains((1L, 100L)) && rows.contains((2L, -1L)), s"got $rows")
    // the held-then-expired row is null-padded exactly once
    assert(rows.count(_._1 == 2L) === 1)
  }

  test("s12 full-outer stream-stream join null-pads BOTH sides after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pmem = MemoryStream[(Timestamp, Long, Long)]
    val emem = MemoryStream[(Timestamp, Long, Long)]
    val q = StreamOps.s12StreamStreamFullJoin(
        pmem.toDF().toDF("p_ts", "p_user", "p_id"),
        emem.toDF().toDF("e_ts", "e_user", "e_id"))
      .writeStream.format("memory").queryName("s12_out")
      .outputMode(OutputMode.Append()).start()
    // user 7 matches; user 9's purchase and user 8's error are orphans
    emem.addData((ts(5), 7L, 100L), (ts(5), 8L, 101L))
    pmem.addData((ts(10), 7L, 1L), (ts(10), 9L, 2L))
    q.processAllAvailable()
    // advance both watermarks past every open window
    emem.addData((ts(60), 7L, 999L))
    pmem.addData((ts(60), 7L, 99L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("s12_out").select("p_id", "e_id").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
                 if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows.contains((1L, 100L)), s"matched pair missing: $rows")
    assert(rows.contains((2L, -1L)), s"left orphan not null-padded: $rows")
    assert(rows.contains((-1L, 101L)), s"right orphan not null-padded: $rows")
  }

  test("s25 left-semi stream-stream join drops orphans once the watermark closes their window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pmem = MemoryStream[(Timestamp, Long, Long)]
    val emem = MemoryStream[(Timestamp, Long, Long)]
    val q = StreamOps.s25StreamSemiJoin(
        pmem.toDF().toDF("p_ts", "p_user", "p_id"),
        emem.toDF().toDF("e_ts", "e_user", "e_id"))
      .writeStream.format("memory").queryName("s25_orphans")
      .outputMode(OutputMode.Append()).start()
    // user 7: TWO errors inside purchase 1's window — must emit ONCE;
    // user 9's purchase has no error; user 8's error has no purchase
    emem.addData((ts(5), 7L, 100L), (ts(6), 7L, 101L), (ts(5), 8L, 102L))
    pmem.addData((ts(10), 7L, 1L), (ts(10), 9L, 2L))
    q.processAllAvailable()
    // advance both watermarks so unmatched state is provably dropped
    emem.addData((ts(60), 7L, 999L))
    pmem.addData((ts(60), 7L, 99L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("s25_orphans")
    // semi join: only left columns survive
    assert(out.columns.toSeq === Seq("p_ts", "p_user", "p_id"),
      s"semi join must project only the left side: ${out.columns.toSeq}")
    val ids = out.select("p_id").collect().map(_.getLong(0)).toSeq
    assert(ids.count(_ == 1L) === 1,
      s"purchase 1 must emit exactly once despite two matching errors: $ids")
    assert(!ids.contains(2L), s"orphan purchase 2 must be dropped: $ids")
  }

  test("s10 update-mode aggregation re-emits only changed keys; snapshot equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val q = StreamOps.s10UpdateAgg(mem.toDF().toDF("user_id", "value"))
      .writeStream.format("memory").queryName("s10_out")
      .outputMode(OutputMode.Update()).start()
    mem.addData((1L, 10.0), (1L, 20.0), (2L, 5.0))
    q.processAllAvailable()
    mem.addData((1L, 30.0)) // touches user 1 only
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("s10_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // user 2 was emitted exactly once (batch 2 must not re-emit it)
    assert(emitted.count(_._1 == 2L) === 1, s"got ${emitted.toSeq}")
    assert(emitted.count(_._1 == 1L) === 2, s"got ${emitted.toSeq}")
    // final snapshot (latest emission per key) equals the batch groupBy
    val snapshot = emitted.groupBy(_._1).map { case (k, rs) => rs.maxBy(_._2) }.toSet
    assert(snapshot === Set((1L, 3L, 60.0), (2L, 1L, 5.0)), s"got $snapshot")
  }

  test("s28 native log2_hist sketch buffers round-trip the state store across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = StreamOps.s28StreamingSketch(mem.toDF().toDF("grp", "v"))
      .writeStream.format("memory").queryName("s28_out")
      .outputMode(OutputMode.Update()).start()
    mem.addData(("a", 1L), ("a", 2L), ("a", 3L))
    q.processAllAvailable()
    // batch 2 MERGES into batch 1's deserialized state buffer
    mem.addData(("a", 1024L), ("b", 5L))
    q.processAllAvailable()
    q.stop()
    val emitted = spark.table("s28_out").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1)))
    // latest emission per key == the batch aggregate over the full replay
    val snapshot = emitted.zipWithIndex.groupBy(_._1._1)
      .map { case (k, rs) => k -> rs.maxBy(_._2)._1._2 }
    def hist(vs: Long*): Seq[Long] = {
      val h = Array.fill(64)(0L)
      vs.foreach(v => h(63 - java.lang.Long.numberOfLeadingZeros(v)) += 1)
      h.toSeq
    }
    assert(snapshot("a") === hist(1L, 2L, 3L, 1024L), s"a: ${snapshot("a")}")
    assert(snapshot("b") === hist(5L), s"b: ${snapshot("b")}")
    // 'a' must have been emitted twice (update mode, touched both batches)
    assert(emitted.count(_._1 == "a") === 2)
  }

  test("s11 complete-mode top-k re-ranks every batch; final snapshot equals batch top-k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val q = StreamOps.s11CompleteTopK(mem.toDF().toDF("user_id", "value"), k = 2)
      .writeStream.format("memory").queryName("s11_out")
      .outputMode(OutputMode.Complete()).start()
    mem.addData((1L, 1.0), (1L, 1.0), (2L, 2.0))
    q.processAllAvailable()
    // leaderboard after batch 1: user1 (n=2), user2 (n=1)
    val b1 = spark.table("s11_out").select("user_id").collect().map(_.getLong(0)).toSet
    assert(b1 === Set(1L, 2L), s"got $b1")
    // user 3 overtakes user 2; complete mode must REPLACE the snapshot
    mem.addData((3L, 3.0), (3L, 3.0), (3L, 3.0))
    q.processAllAvailable()
    q.stop()
    val fin = spark.table("s11_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fin === Set((3L, 3L, 9.0), (1L, 2L, 2.0)), s"got $fin")
  }

  test("s10 stateful aggregation state survives a query restart (checkpoint recovery)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("s10r_ckpt")
    val outDir = tmp("s10r_out")
    val mem = MemoryStream[(Long, Double)]
    def start() = StreamOps.s10UpdateAgg(mem.toDF().toDF("user_id", "value"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(outDir); ()
      }
      .start()
    val q1 = start()
    mem.addData((1L, 10.0), (2L, 5.0))
    q1.processAllAvailable()
    q1.stop()
    // restart against the SAME checkpoint: the per-key (count, sum) state
    // must come back from the state store, not reset to zero
    val q2 = start()
    mem.addData((1L, 30.0))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // post-restart emission for user 1 carries the RECOVERED totals
    assert(rows.contains((1L, 2L, 40.0)),
      s"state lost across restart: ${rows.toSeq.sorted}")
    // and without a batch-1 reset emission (n=1, 30.0) ever appearing
    assert(!rows.contains((1L, 1L, 30.0)), s"state reset detected: ${rows.toSeq.sorted}")
  }

  test("s33 RocksDB state store provider: stateful agg + restart recovery, changelog checkpointing on") {
    // s10 proves restart recovery on the DEFAULT (HDFS-backed in-memory)
    // state store; at 100 TB of keyed state that store is the scale
    // ceiling — executors hold every key's state on-heap. This pins the
    // SAME recovery contract under RocksDBStateStoreProvider (state
    // spills to local disk, bounded memory) with changelog checkpointing
    // (upload per-batch deltas, not full snapshots — the production
    // setting for large state), so switching the provider is proven to
    // change nothing but the storage engine.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val overrides = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val ckpt = tmp("s33_ckpt")
      val outDir = tmp("s33_out")
      val mem = MemoryStream[(Long, Double)]
      def start() = StreamOps.s10UpdateAgg(mem.toDF().toDF("user_id", "value"))
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir); ()
        }
        .start()
      val q1 = start()
      mem.addData((1L, 10.0), (2L, 5.0))
      q1.processAllAvailable()
      q1.stop()
      val q2 = start()
      mem.addData((1L, 30.0))
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains((1L, 2L, 40.0)),
        s"RocksDB state lost across restart: ${rows.toSeq.sorted}")
      assert(!rows.contains((1L, 1L, 30.0)),
        s"RocksDB state reset detected: ${rows.toSeq.sorted}")
      // the checkpoint really ran on RocksDB: the per-operator state dir
      // carries RocksDB SST/changelog artifacts, not the HDFS-store's
      // flat .delta files only
      val stateDir = java.nio.file.Paths.get(ckpt, "state")
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.walk(stateDir).iterator().asScala
        .map(_.getFileName.toString).toSeq
      assert(files.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
        s"no RocksDB snapshot/changelog artifacts under $stateDir: $files")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("s05 custom flatMapGroupsWithState state survives a query restart") {
    // s10 pins restart recovery for the BUILT-IN agg state; this pins it
    // for the CUSTOM-state tier, whose (count, sum) tuple must serde
    // through the checkpointed state store and resume — not reseed — on
    // the same checkpoint.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamOps.UserEvent
    val ckpt = tmp("s05r_ckpt")
    val outDir = tmp("s05r_out")
    val mem = MemoryStream[UserEvent]
    def start() = StreamOps.s05RunningState(mem.toDS())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[_], _: Long) =>
        batch.toDF().write.mode("append").parquet(outDir); ()
      }
      .start()
    val q1 = start()
    mem.addData(UserEvent(7L, ts(1), 10.0), UserEvent(7L, ts(2), 5.0))
    q1.processAllAvailable()
    q1.stop()
    val q2 = start()
    mem.addData(UserEvent(7L, ts(3), 2.0))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir)
      .select("user_id", "seq_no", "running_sum").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the post-restart event continues the sequence at 3 with the
    // recovered sum; a reseeded state would emit (7, 1, 2.0)
    assert(rows.contains((7L, 3L, 17.0)), s"custom state lost: $rows")
    assert(!rows.contains((7L, 1L, 2.0)), s"custom state reseeded: $rows")
  }

  test("s23 native file sink: restart resumes the _spark_metadata log, reads stay exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("s23_ckpt")
    val outDir = tmp("s23_out")
    val mem = MemoryStream[(Long, Double)]
    def start() = StreamOps.s23FileSink(
      mem.toDF().toDF("user_id", "value"), outDir, ckpt)
    val q1 = start()
    mem.addData((1L, 10.0), (2L, 5.0))
    q1.processAllAvailable()
    q1.stop()
    // restart from the same checkpoint: offsets resume (batch 0 not
    // re-emitted), the sink keeps appending to the SAME transaction log
    val q2 = start()
    mem.addData((3L, 7.0))
    q2.processAllAvailable()
    q2.stop()
    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    assert(rows === Seq((1L, 10.0), (2L, 5.0), (3L, 7.0)),
      s"file-sink output not exactly-once across restart: $rows")
    // the sink's transaction log is what made that read authoritative
    assert(new java.io.File(s"$outDir/_spark_metadata").exists(),
      "expected the file sink's _spark_metadata transaction log")
  }

  test("s24 rate-micro-batch source is deterministic: two runs, identical buckets") {
    import org.apache.spark.sql.streaming.Trigger
    def run(name: String): Map[Long, (Long, Long)] = {
      val q = StreamOps.s24RateMicroBatch(spark, rowsPerBatch = 20)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      spark.table(name).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val a = run("s24_a")
    val b = run("s24_b")
    assert(a === b, s"rate-micro-batch replay diverged: $a vs $b")
    assert(a.keySet === Set(0L, 1L, 2L, 3L), s"expected 4 buckets: $a")
    // 20 rows, values 0..19 → 5 per bucket, sums 0+4+8+12+16=40, 45, 50, 55
    assert(a(0L) === (5L, 40L) && a(1L) === (5L, 45L) &&
           a(2L) === (5L, 50L) && a(3L) === (5L, 55L), s"got $a")
  }

  test("s21 state data source reads a checkpoint's keyed state offline") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("s21_ckpt")
    val mem = MemoryStream[(Long, Double)]
    val q = StreamOps.s10UpdateAgg(mem.toDF().toDF("user_id", "value"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update())
      .format("memory").queryName("s21_out")
      .start()
    mem.addData((1L, 10.0), (2L, 5.0), (1L, 30.0))
    q.processAllAvailable()
    q.stop()
    // the query is STOPPED; the state is read back from checkpoint files.
    // The value struct is the PHYSICAL aggregation buffer (count/sum
    // fields), not the query's output aliases — state inspection sees the
    // operator's internals, which is exactly its point.
    val state = StreamOps.s21StateRead(spark, ckpt)
    val rows = state.selectExpr("key.user_id", "value.count", "value.sum")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows === Set((1L, 2L, 40.0), (2L, 1L, 5.0)),
      s"offline state read diverges from the aggregation state: $rows")
  }

  test("s07 stream-static join enriches each micro-batch from the dim table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("key", "tier")
    val mem = MemoryStream[(Long, Double)]
    val q = StreamOps.s07StreamStaticJoin(mem.toDF().toDF("key", "amount"), dim)
      .writeStream.format("memory").queryName("s07_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData((1L, 10.0), (3L, 30.0)) // key 3 has no dim row -> dropped (inner)
    q.processAllAvailable()
    mem.addData((2L, 20.0))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("s07_out").select("key", "tier", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows === Set((1L, "gold", 10.0), (2L, "silver", 20.0)), s"got $rows")
  }

  test("s14 synthetic-source fraud stream equals the batch pipeline on the same indices") {
    import org.apache.spark.sql.streaming.Trigger
    val q = StreamOps.s14SyntheticFraudStream(spark, rowsPerBatch = 500, parts = 4)
      .writeStream.format("memory").queryName("s14_out")
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append()).start()
    q.awaitTermination()
    val streamed = spark.table("s14_out")
    val batch = graft.operators.FraudPipeline(
      spark.read.format("graft.sources.TransactionSource")
        .option("rows", 500).option("partitions", 4).load())
    assert(streamed.count() > 0, "the synthetic generator plants fraud rows")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream/batch parity must hold on the deterministic source")
  }

  test("s13 ingest dedup drops stream docs whose hash exists in the static base index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.expr
    val base = Seq("alpha beta gamma", "delta epsilon").toDF("text")
      .select(expr(graft.functions.TextHash.sparkHash56("text")).as("th"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.s13IngestDedup(mem.toDF().toDF("doc_id", "text"), base)
      .writeStream.format("memory").queryName("s13_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData((1L, "alpha beta gamma"), (2L, "fresh content"))
    q.processAllAvailable()
    // a later batch re-probes the same index; within-stream dups pass (by
    // design — that is s04's watermarked job)
    mem.addData((3L, "delta epsilon"), (4L, "fresh content"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("s13_out").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 4L), s"base dups must drop, new docs must pass: $ids")
  }

  test("s32 streaming index maintenance equals the batch-built index; batch replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{expr, min}
    val dir = tmp("s32_idx")
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (half1, half2) = docs.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String)]
    val q = StreamOps.s32IndexMaintain(
      mem.toDF().toDF("doc_id", "text"), dir, tmp("s32_ckpt"))
    mem.addData(half1.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(half2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // the compacted stream-maintained indexes == the batch-built ones over
    // the same corpus (the write side of p04/s13's read contract)
    val batchHash = graft.Tables.documents(spark, sf)
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    val gotHash = StreamOps.s32HashIndex(spark, dir)
    assert(gotHash.exceptAll(batchHash).isEmpty && batchHash.exceptAll(gotHash).isEmpty,
      "streamed hash index must equal the batch build")
    val batchBands = graft.queries.Dedup.bandTable(spark, sf).distinct()
    val gotBands = StreamOps.s32BandIndex(spark, dir)
    assert(gotBands.exceptAll(batchBands).isEmpty && batchBands.exceptAll(gotBands).isEmpty,
      "streamed band index must equal the batch build")
    // replay idempotence: re-running a batch (foreachBatch redelivery after
    // a failure) overwrites its own batch_id partition, never duplicates
    val (nHash, nBands) = (gotHash.count(), gotBands.count())
    val replay = half2.toSeq.toDF("doc_id", "text")
    StreamOps.s32UpsertIndexBatch(dir)(replay, 1L)
    // the overwrite replaced files under batch_id=1 — drop any cached
    // listing before re-reading
    spark.catalog.refreshByPath(s"$dir/hash56")
    spark.catalog.refreshByPath(s"$dir/bands")
    assert(StreamOps.s32HashIndex(spark, dir).count() === nHash,
      "a replayed batch must not grow the hash index")
    assert(StreamOps.s32BandIndex(spark, dir).count() === nBands,
      "a replayed batch must not grow the band index")
    // and the raw (uncompacted) run files also did not double up
    val rawBands = spark.read.parquet(s"$dir/bands")
    assert(rawBands.count() === rawBands.select("doc_id", "band_key").distinct().count(),
      "partition overwrite must replace the run, not append to it")
  }

  test("s34 streaming chunk-store maintenance equals the batch-built store; replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.min
    val dir = tmp("s34_store")
    val media = graft.operators.Multimodal.fixtureFromDocuments(spark, sf)
      .toDF().select("media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val (half1, half2) = media.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Array[Byte])]
    val q = StreamOps.s34ChunkMaintain(
      mem.toDF().toDF("media_id", "payload"), dir, tmp("s34_ckpt"))
    mem.addData(half1.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(half2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // compacted stream-maintained store == the batch-built CAS table over
    // the same corpus (the write side of m03/m05/m07/m08's probe contract)
    val batchStore = graft.operators.Multimodal.chunkTableOf(
        graft.operators.Multimodal.fixtureFromDocuments(spark, sf)
          .toDF().select("media_id", "payload"))
      .groupBy("h").agg(min("media_id").as("owner"), min("nb").as("nb"))
    val got = StreamOps.s34ChunkStore(spark, dir)
    assert(got.exceptAll(batchStore).isEmpty && batchStore.exceptAll(got).isEmpty,
      "streamed chunk store must equal the batch build")
    // the compaction's min("nb") fold is sound only because equal content
    // hash implies equal chunk length (the md5 runs over the exact —
    // possibly short-tail — bytes); assert the invariant on the raw chunk
    // rows so a future chunker that pads tails fails HERE, not by
    // silently min-folding mismatched lengths (advice r10)
    val nbPerHash = graft.operators.Multimodal.chunkTableOf(
        graft.operators.Multimodal.fixtureFromDocuments(spark, sf)
          .toDF().select("media_id", "payload"))
      .select("h", "nb").distinct()
      .groupBy("h").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1)
    assert(nbPerHash.isEmpty,
      "equal chunk hash must imply equal chunk length (min-fold invariant)")
    // replay idempotence: a redelivered batch overwrites its own
    // batch_id partition, never duplicates runs
    val n = got.count()
    val replay = half2.toSeq.toDF("media_id", "payload")
    StreamOps.s34UpsertChunkBatch(dir)(replay, 1L)
    spark.catalog.refreshByPath(s"$dir/chunks")
    assert(StreamOps.s34ChunkStore(spark, dir).count() === n,
      "a replayed batch must not grow the chunk store")
    // the run keeps one row per (chunk, referrer) since r12 — the
    // deletable reference relation — so the no-append key is
    // (h, media_id, batch_id)
    val raw = spark.read.parquet(s"$dir/chunks")
    assert(raw.count() ===
        raw.select("h", "media_id", "batch_id").distinct().count(),
      "partition overwrite must replace the run, not append to it")
  }

  test("s35 streaming IVF assignment equals the batch-built index; replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("s35_idx")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (half1, half2) = vecs.partition(_._1 % 2 == 0)
    // the FIXED codebook the maintainer broadcasts per batch
    val cents = graft.queries.Similarity.ivfCentroids(spark, sf)
      .localCheckpoint()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.s35IvfMaintain(
      mem.toDF().toDF("vec_id", "embedding"), cents, dir, tmp("s35_ckpt"))
    mem.addData(half1.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(half2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // stream-maintained assignment == the batch index build over the same
    // corpus (the ingest side of n02/n12/n14/n25's probe contract)
    val batchBuilt = graft.queries.Similarity.assignToCentroids(
        graft.queries.Similarity.prepareVectors(
          graft.Tables.embeddings(spark, sf).select("vec_id", "embedding")),
        cents)
      .select("vec_id", "cid", "ccos")
    val got = StreamOps.s35Assignment(spark, dir)
    assert(got.exceptAll(batchBuilt).isEmpty && batchBuilt.exceptAll(got).isEmpty,
      "streamed IVF assignment must equal the batch build")
    // replay idempotence: the redelivered batch overwrites its partition
    val n = got.count()
    StreamOps.s35UpsertIvfBatch(cents, dir)(
      half2.toSeq.toDF("vec_id", "embedding"), 1L)
    spark.catalog.refreshByPath(s"$dir/assigned")
    assert(StreamOps.s35Assignment(spark, dir).count() === n,
      "a replayed batch must not grow the assignment table")
    val raw = spark.read.parquet(s"$dir/assigned")
    assert(raw.count() === raw.select("vec_id").distinct().count(),
      "partition overwrite must replace the run, not append to it")
  }

  test("s36 incrementally-maintained graph index equals the full rebuild; serving and replay hold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("s36_graph")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (half1, half2) = vecs.partition(_._1 % 2 == 0)
    // the FIXED broadcast codebook (s35's model — the blocking cells a
    // vector lands in must not depend on arrival order)
    val cents = graft.queries.Similarity.ivfCentroids(spark, sf)
      .localCheckpoint()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.s36GraphMaintain(
      mem.toDF().toDF("vec_id", "embedding"), cents, dir, tmp("s36_ckpt"))
    mem.addData(half1.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(half2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // d19's bar: the incrementally-folded index must be INDISTINGUISHABLE
    // from a corpus-wide rebuild — static edge scores make the per-batch
    // merge-and-rerank exactly the full top-k, so equality is row-for-row
    val maintained = StreamOps.s36Adjacency(spark, dir).localCheckpoint()
    val rebuilt = graft.queries.Similarity.builtAdjacency(spark, sf)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(maintained).isEmpty,
      "maintained adjacency must equal the full rebuild")
    // the serving pin: the n24/n26 batched walk over the MAINTAINED edge
    // table reports exactly what the rebuilt graph reports
    val servedRows = graft.queries.Similarity
      .batchedWalkOver(spark, sf, maintained).collect()
      .map(_.toSeq.map(String.valueOf))
    val builtRows = graft.queries.Similarity.n24BatchedBeam(spark, sf)
      .collect().map(_.toSeq.map(String.valueOf))
    assert(servedRows.toSeq === builtRows.toSeq,
      "serving from the maintained index must equal serving from the build")
    // replay idempotence: re-delivering batch 1 re-merges against its own
    // prior output — top-k(top-k(S) ∪ Δ) == top-k(S ∪ Δ) is a fixpoint
    StreamOps.s36UpsertGraphBatch(cents, dir)(
      half2.toSeq.toDF("vec_id", "embedding"), 1L)
    spark.catalog.refreshByPath(s"$dir/edges")
    val replayed = StreamOps.s36Adjacency(spark, dir)
    assert(replayed.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(replayed).isEmpty,
      "a replayed batch must leave the maintained index unchanged")
  }

  test("s37 graph-index-store compaction folds every table's runs to one; increments on top still equal rebuild") {
    import spark.implicits._
    val dir = tmp("s37_graph")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val parts3 = vecs.groupBy(_._1 % 3)
    val cents = graft.queries.Similarity.ivfCentroids(spark, sf)
      .localCheckpoint()
    def upsert(part: Long, batchId: Long): Unit = {
      graft.streaming.StreamOps.s36UpsertGraphBatch(cents, dir)(
        parts3(part).toSeq.toDF("vec_id", "embedding"), batchId)
      spark.catalog.refreshByPath(s"$dir/edges")
    }
    upsert(0L, 0L); upsert(1L, 1L)
    val before = StreamOps.s36Adjacency(spark, dir).localCheckpoint()
    StreamOps.s37CompactEdgeStore(spark, dir)
    // compaction changes the LAYOUT, never the served view
    val after = StreamOps.s36Adjacency(spark, dir)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "compaction must not change the served adjacency")
    // one base run per table: every row carries the compacted batch stamp
    Seq("edges", "vectors", "cells").foreach { t =>
      val stamps = spark.read.parquet(s"$dir/$t")
        .select("batch_id").distinct().count()
      assert(stamps === 1,
        s"compaction must fold $t's runs to ONE base (got $stamps)")
    }
    // the incremental fold ON TOP of the compacted base is still exactly
    // the corpus-wide rebuild — the latest-wins invariant survived
    upsert(2L, 2L)
    val maintained = StreamOps.s36Adjacency(spark, dir)
    val rebuilt = graft.queries.Similarity.builtAdjacency(spark, sf)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(maintained).isEmpty,
      "post-compaction increments must still equal the full rebuild")
  }

  test("s38 streaming PQ code table equals the batch encoder; replay is idempotent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp("s38_pq")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (half1, half2) = vecs.partition(_._1 % 2 == 0)
    // the FIXED sub-codebook the maintainer broadcasts per batch
    val cbook = graft.queries.Similarity.pqCodebook(spark, sf)
      .localCheckpoint()
    val mem = MemoryStream[(Long, Array[Float])]
    val q = StreamOps.s38PqMaintain(
      mem.toDF().toDF("vec_id", "embedding"), cbook, dir, tmp("s38_ckpt"))
    mem.addData(half1.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(half2.toIndexedSeq)
    q.processAllAvailable()
    q.stop()
    // stream-maintained codes == the batch encoder over the same corpus
    // (the ingest side of n06/n07/n10/n20/n21/n29's probe contract)
    val batchBuilt = SparkEntry.queries("n06_pq_codes")(spark, sf)
    val got = StreamOps.s38Codes(spark, dir)
    assert(got.exceptAll(batchBuilt).isEmpty && batchBuilt.exceptAll(got).isEmpty,
      "streamed PQ codes must equal the batch encoder")
    // replay idempotence: the redelivered batch overwrites its partition
    val n = got.count()
    StreamOps.s38UpsertPqBatch(cbook, dir)(
      half2.toSeq.toDF("vec_id", "embedding"), 1L)
    spark.catalog.refreshByPath(s"$dir/codes")
    assert(StreamOps.s38Codes(spark, dir).count() === n,
      "a replayed batch must not grow the code table")
    val raw = spark.read.parquet(s"$dir/codes")
    assert(raw.count() === raw.select("vec_id", "sub", "batch_id").distinct().count(),
      "partition overwrite must replace the run, not append to it")
  }

  test("s39/s40 s32 store lifecycle: delete equals rebuild with survivor re-election; compaction folds; post-compact increments hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, min}
    val dir = tmp("s39_s32")
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (half1, half2) = docs.partition(_._1 % 2 == 0)
    StreamOps.s32UpsertIndexBatch(dir)(half1.toSeq.toDF("doc_id", "text"), 0L)
    StreamOps.s32UpsertIndexBatch(dir)(half2.toSeq.toDF("doc_id", "text"), 1L)
    // plant an exact twin of a doc the delete rule will remove: the hash
    // index must RE-ELECT the twin as that content's survivor (the case
    // a min-collapsed run could never answer)
    val victim = docs.find(_._1 % 7 == 3).get
    val twinId = docs.map(_._1).max + 1000L
    StreamOps.s32UpsertIndexBatch(dir)(
      Seq((twinId, victim._2)).toDF("doc_id", "text"), 2L)
    val dels = docs.map(_._1).filter(_ % 7 == 3)
    assert(dels.nonEmpty)
    StreamOps.s32DeleteBatch(dir)(dels.toSeq.toDF("doc_id"), 3L)
    // d19's bar: post-delete store == batch rebuild over the LIVE corpus
    val live = docs.filter(_._1 % 7 != 3) :+ ((twinId, victim._2))
    val liveDf = live.toSeq.toDF("doc_id", "text").localCheckpoint()
    def wantHash = liveDf
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    def checkRebuild(): Unit = {
      val gotHash = StreamOps.s32HashIndex(spark, dir)
      assert(gotHash.exceptAll(wantHash).isEmpty &&
          wantHash.exceptAll(gotHash).isEmpty,
        "post-delete hash index must equal the rebuild on the live corpus")
      val wantBands = graft.queries.Dedup.bandTableOf(liveDf).distinct()
      val gotBands = StreamOps.s32BandIndex(spark, dir)
      assert(gotBands.exceptAll(wantBands).isEmpty &&
          wantBands.exceptAll(gotBands).isEmpty,
        "post-delete band index must equal the rebuild on the live corpus")
    }
    checkRebuild()
    // the re-election pin: the victim's content hash now serves the
    // minimum LIVE holder of that content (the planted twin, unless the
    // corpus already carried a live exact dup with a smaller id)
    val vth = Seq(victim._2).toDF("text")
      .select(expr(graft.functions.TextHash.sparkHash56("text")).as("th"))
      .head().getLong(0)
    val expectedSurvivor = live.filter(_._2 == victim._2).map(_._1).min
    assert(StreamOps.s32HashIndex(spark, dir)
        .filter(col("th") === vth).head().getLong(1) === expectedSurvivor,
      "deleting the elected survivor must promote the next live holder")
    // delete replay is a fixpoint
    StreamOps.s32DeleteBatch(dir)(dels.toSeq.toDF("doc_id"), 3L)
    checkRebuild()
    // s40: compaction folds every table (incl. tombstones) to ONE base run
    // and leaves the served view untouched
    StreamOps.s32CompactStore(spark, dir)
    Seq("hash56", "bands", "deleted").foreach { t =>
      val stamps = spark.read.parquet(s"$dir/$t")
        .select("batch_id").distinct().count()
      assert(stamps === 1, s"compaction must fold $t to ONE run (got $stamps)")
    }
    assert(StreamOps.readCompactionStamp(spark, dir) === Some(3L))
    checkRebuild()
    // increments on top of the compacted base still equal the rebuild
    val fresh = (1 to 3).map(i => (twinId + i, s"fresh post compact text $i"))
    StreamOps.s32UpsertIndexBatch(dir)(fresh.toDF("doc_id", "text"), 4L)
    val live2 = liveDf.unionByName(fresh.toDF("doc_id", "text"))
    val want2 = live2
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    val got2 = StreamOps.s32HashIndex(spark, dir)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty,
      "post-compaction increments must still equal the rebuild")
    // RE-ADMISSION (r13, batch-ordered tombstones — across compaction):
    // re-ingesting a tombstoned id at a later batch supersedes the
    // delete, here with DIFFERENT text (the corrected-document case).
    // The served indexes equal the rebuild on the final corpus: the
    // pre-delete rows stay masked (batch ≤ tombstone), only the
    // corrected content serves.
    val corrected = Seq((dels.head, "resurrected corrected text"))
    StreamOps.s32UpsertIndexBatch(dir)(corrected.toDF("doc_id", "text"), 5L)
    val live3 = live2.unionByName(corrected.toDF("doc_id", "text"))
      .localCheckpoint()
    val want3 = live3
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    val got3 = StreamOps.s32HashIndex(spark, dir)
    assert(got3.exceptAll(want3).isEmpty && want3.exceptAll(got3).isEmpty,
      "re-admission must supersede the delete: hash index == final rebuild")
    val want3b = graft.queries.Dedup.bandTableOf(live3).distinct()
    val got3b = StreamOps.s32BandIndex(spark, dir)
    assert(got3b.exceptAll(want3b).isEmpty && want3b.exceptAll(got3b).isEmpty,
      "re-admission must supersede the delete: band index == final rebuild")
    // redelivery of the re-admitting batch is a fixpoint
    StreamOps.s32UpsertIndexBatch(dir)(corrected.toDF("doc_id", "text"), 5L)
    val got3r = StreamOps.s32HashIndex(spark, dir)
    assert(got3r.exceptAll(want3).isEmpty && want3.exceptAll(got3r).isEmpty,
      "a replayed re-admission must leave the store unchanged")
    // RE-DELETE after re-admission: the LATEST tombstone wins — the
    // re-admitted rows mask again (max-tombstone ordering, not first)
    StreamOps.s32DeleteBatch(dir)(Seq(dels.head).toDF("doc_id"), 6L)
    val got4 = StreamOps.s32HashIndex(spark, dir)
    assert(got4.exceptAll(want2).isEmpty && want2.exceptAll(got4).isEmpty,
      "re-deleting a re-admitted id must mask its corrected rows")
    // s41: a replay from BEFORE the compaction stamp fails loudly instead
    // of resurrecting a folded run
    val stale = intercept[IllegalArgumentException] {
      StreamOps.s32UpsertIndexBatch(dir)(
        Seq((twinId + 9, "stale replay")).toDF("doc_id", "text"), 2L)
    }
    assert(stale.getMessage.contains("compacted"))
  }

  test("s39/s40 s34 chunk-store lifecycle: delete re-elects owners and GCs orphan chunks; compaction folds") {
    import spark.implicits._
    import org.apache.spark.sql.functions.min
    val dir = tmp("s39_s34")
    val media = graft.operators.Multimodal.fixtureFromDocuments(spark, sf)
      .toDF().select("media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val (half1, half2) = media.partition(_._1 % 2 == 0)
    StreamOps.s34UpsertChunkBatch(dir)(half1.toSeq.toDF("media_id", "payload"), 0L)
    StreamOps.s34UpsertChunkBatch(dir)(half2.toSeq.toDF("media_id", "payload"), 1L)
    val dels = media.map(_._1).filter(_ % 7 == 3)
    assert(dels.nonEmpty)
    StreamOps.s34DeleteBatch(dir)(dels.toSeq.toDF("media_id"), 2L)
    val liveDf = media.filter(_._1 % 7 != 3).toSeq
      .toDF("media_id", "payload").localCheckpoint()
    def want = graft.operators.Multimodal.chunkTableOf(liveDf)
      .select("h", "media_id", "nb").distinct()
      .groupBy("h").agg(min("media_id").as("owner"), min("nb").as("nb"))
    def checkRebuild(): Unit = {
      val got = StreamOps.s34ChunkStore(spark, dir)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "post-delete chunk store must equal the rebuild on the live media")
    }
    checkRebuild()
    // the GC pin: a chunk whose every referrer is deleted must vanish
    val before = graft.operators.Multimodal.chunkTableOf(
        media.toSeq.toDF("media_id", "payload"))
      .select("h", "media_id", "nb").distinct()
      .groupBy("h").agg(min("media_id").as("owner"))
    val gone = before.join(want, Seq("h"), "left_anti").count()
    assert(gone > 0, "fixture must exercise orphan-chunk GC")
    // delete replay is a fixpoint; compaction folds; stamp recorded
    StreamOps.s34DeleteBatch(dir)(dels.toSeq.toDF("media_id"), 2L)
    StreamOps.s34CompactStore(spark, dir)
    Seq("chunks", "deleted").foreach { t =>
      assert(spark.read.parquet(s"$dir/$t")
        .select("batch_id").distinct().count() === 1,
        s"compaction must fold $t to one run")
    }
    checkRebuild()
    // RE-ADMISSION: the deleted media comes back at a later batch — the
    // chunk store equals the rebuild on the final corpus (its chunks
    // re-enter the CAS table; owner election sees the re-admitted id)
    val back = media.find(_._1 == dels.head).get
    StreamOps.s34UpsertChunkBatch(dir)(
      Seq(back).toDF("media_id", "payload"), 4L)
    val live2 = (media.filter(_._1 % 7 != 3) :+ back).toSeq
      .toDF("media_id", "payload").localCheckpoint()
    val want2 = graft.operators.Multimodal.chunkTableOf(live2)
      .select("h", "media_id", "nb").distinct()
      .groupBy("h").agg(min("media_id").as("owner"), min("nb").as("nb"))
    val got2 = StreamOps.s34ChunkStore(spark, dir)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty,
      "re-admission must supersede the delete: chunk store == final rebuild")
  }

  test("s39/s40 s35 assignment lifecycle: delete equals rebuild; compaction folds; increments hold") {
    import spark.implicits._
    val dir = tmp("s39_s35")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = graft.queries.Similarity.ivfCentroids(spark, sf)
      .localCheckpoint()
    val (half1, half2) = vecs.partition(_._1 % 2 == 0)
    StreamOps.s35UpsertIvfBatch(cents, dir)(
      half1.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s35UpsertIvfBatch(cents, dir)(
      half2.toSeq.toDF("vec_id", "embedding"), 1L)
    val dels = vecs.map(_._1).filter(_ % 5 == 1)
    assert(dels.nonEmpty)
    StreamOps.s35DeleteBatch(dir)(dels.toSeq.toDF("vec_id"), 2L)
    val liveDf = vecs.filter(_._1 % 5 != 1).toSeq
      .toDF("vec_id", "embedding").localCheckpoint()
    val want = graft.queries.Similarity.assignToCentroids(
        graft.queries.Similarity.prepareVectors(liveDf), cents)
      .select("vec_id", "cid", "ccos")
    def checkRebuild(): Unit = {
      val got = StreamOps.s35Assignment(spark, dir)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "post-delete assignment must equal the rebuild on the live vectors")
    }
    checkRebuild()
    StreamOps.s35DeleteBatch(dir)(dels.toSeq.toDF("vec_id"), 2L)
    StreamOps.s35CompactStore(spark, dir)
    Seq("assigned", "deleted").foreach { t =>
      assert(spark.read.parquet(s"$dir/$t")
        .select("batch_id").distinct().count() === 1,
        s"compaction must fold $t to one run")
    }
    checkRebuild()
    // RE-ADMISSION with a DIFFERENT embedding: the corrected vector
    // re-assigns; its pre-delete assignment row stays masked
    val corrected = Seq((dels.head, vecs.head._2))
    StreamOps.s35UpsertIvfBatch(cents, dir)(
      corrected.toDF("vec_id", "embedding"), 4L)
    val live2 = liveDf.unionByName(corrected.toDF("vec_id", "embedding"))
    val want2 = graft.queries.Similarity.assignToCentroids(
        graft.queries.Similarity.prepareVectors(live2), cents)
      .select("vec_id", "cid", "ccos")
    val got2 = StreamOps.s35Assignment(spark, dir)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty,
      "re-admission must supersede the delete: assignment == final rebuild")
  }

  test("s39/s40 s38 PQ-code lifecycle: delete equals rebuild; compaction folds") {
    import spark.implicits._
    val dir = tmp("s39_s38")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cbook = graft.queries.Similarity.pqCodebook(spark, sf)
      .localCheckpoint()
    val (half1, half2) = vecs.partition(_._1 % 2 == 0)
    StreamOps.s38UpsertPqBatch(cbook, dir)(
      half1.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s38UpsertPqBatch(cbook, dir)(
      half2.toSeq.toDF("vec_id", "embedding"), 1L)
    val dels = vecs.map(_._1).filter(_ % 5 == 1)
    StreamOps.s38DeleteBatch(dir)(dels.toSeq.toDF("vec_id"), 2L)
    val liveDf = vecs.filter(_._1 % 5 != 1).toSeq
      .toDF("vec_id", "embedding").localCheckpoint()
    val Sim = graft.queries.Similarity
    val want = Sim.pqAssignToCodebook(
        Sim.subVectorsOf(Sim.prepareVectors(liveDf).select("vec_id", "q")),
        cbook)
      .select("vec_id", "sub", "code", "dist2")
    def checkRebuild(): Unit = {
      val got = StreamOps.s38Codes(spark, dir)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "post-delete code table must equal the rebuild on the live vectors")
    }
    checkRebuild()
    StreamOps.s38CompactStore(spark, dir)
    Seq("codes", "deleted").foreach { t =>
      assert(spark.read.parquet(s"$dir/$t")
        .select("batch_id").distinct().count() === 1,
        s"compaction must fold $t to one run")
    }
    checkRebuild()
    // RE-ADMISSION with a DIFFERENT embedding: the corrected vector
    // re-encodes; its pre-delete code rows stay masked
    val corrected = Seq((dels.head, vecs.head._2))
    StreamOps.s38UpsertPqBatch(cbook, dir)(
      corrected.toDF("vec_id", "embedding"), 4L)
    val live2 = liveDf.unionByName(corrected.toDF("vec_id", "embedding"))
    val want2 = Sim.pqAssignToCodebook(
        Sim.subVectorsOf(Sim.prepareVectors(live2).select("vec_id", "q")),
        cbook)
      .select("vec_id", "sub", "code", "dist2")
    val got2 = StreamOps.s38Codes(spark, dir)
    assert(got2.exceptAll(want2).isEmpty && want2.exceptAll(got2).isEmpty,
      "re-admission must supersede the delete: code table == final rebuild")
  }

  test("s39 s36 graph-store delete: tombstone + bounded re-rank equals the full rebuild; serving, replay, compaction and increments hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Sim = graft.queries.Similarity
    val dir = tmp("s39_s36")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = Sim.ivfCentroids(spark, sf).localCheckpoint()
    val (half1, half2) = vecs.partition(_._1 % 2 == 0)
    StreamOps.s36UpsertGraphBatch(cents, dir)(
      half1.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s36UpsertGraphBatch(cents, dir)(
      half2.toSeq.toDF("vec_id", "embedding"), 1L)
    val dels = vecs.map(_._1).filter(_ % 5 == 1)
    assert(dels.nonEmpty)
    // the fixture must exercise the HARD path: live srcs whose stored
    // top-k lists name a soon-deleted dst (list refill, not just filters)
    val hitLists = StreamOps.s36DirectedEdges(spark, dir)
      .filter(col("dst").isin(dels: _*) && !col("src").isin(dels: _*))
      .count()
    assert(hitLists > 0, "fixture must exercise the re-rank path")
    StreamOps.s36DeleteBatch(dir)(dels.toSeq.toDF("vec_id"), 2L)
    // rebuild over the LIVE corpus with the ORIGINAL codebook (deletes
    // never retrain; a deleted seed keeps its cell — the fixed-codebook
    // contract)
    def livePrep(rows: Seq[(Long, Array[Float])]) =
      Sim.prepareVectors(rows.toDF("vec_id", "embedding"))
        .select("vec_id", "q", "nrm")
    val liveRows = vecs.filter(_._1 % 5 != 1).toSeq
    val rebuilt = Sim.symmetrize(
      Sim.directedTopKOf(livePrep(liveRows), cents)).localCheckpoint()
    val maintained = StreamOps.s36Adjacency(spark, dir).localCheckpoint()
    assert(maintained.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(maintained).isEmpty,
      "post-delete adjacency must equal the rebuild on the live corpus")
    // serving: the batched walk over the post-delete store == the walk
    // over the rebuilt reduced graph
    val served = Sim.batchedWalkOver(spark, sf, maintained).collect()
      .map(_.toSeq.map(String.valueOf))
    val rebuiltWalk = Sim.batchedWalkOver(spark, sf, rebuilt).collect()
      .map(_.toSeq.map(String.valueOf))
    assert(served.toSeq === rebuiltWalk.toSeq,
      "serving from the post-delete store must equal the rebuilt graph")
    // delete replay is a fixpoint (the re-ranked lists no longer name a
    // deleted dst, so the affected set is empty on redelivery)
    StreamOps.s36DeleteBatch(dir)(dels.toSeq.toDF("vec_id"), 2L)
    val replayed = StreamOps.s36Adjacency(spark, dir)
    assert(replayed.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(replayed).isEmpty,
      "a replayed delete must leave the store unchanged")
    // compaction after deletes: layout folds, served view intact
    StreamOps.s37CompactEdgeStore(spark, dir)
    Seq("edges", "vectors", "cells", "deleted").foreach { t =>
      assert(spark.read.parquet(s"$dir/$t")
        .select("batch_id").distinct().count() === 1,
        s"compaction must fold $t to one run")
    }
    val compacted = StreamOps.s36Adjacency(spark, dir)
    assert(compacted.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(compacted).isEmpty,
      "compaction must not change the served adjacency")
    // increments on top of the post-delete, compacted store: fresh ids ==
    // rebuild over live + fresh
    val extra = vecs.filter(_._1 % 5 == 1).take(5)
      .map { case (id, e) => (id + 100000L, e) }.toSeq
    StreamOps.s36UpsertGraphBatch(cents, dir)(
      extra.toDF("vec_id", "embedding"), 3L)
    val rebuilt2 = Sim.symmetrize(
      Sim.directedTopKOf(livePrep(liveRows ++ extra), cents))
    val maintained2 = StreamOps.s36Adjacency(spark, dir)
    assert(maintained2.exceptAll(rebuilt2).isEmpty &&
        rebuilt2.exceptAll(maintained2).isEmpty,
      "post-delete increments must still equal the rebuild")
    // RE-ADMISSION (r13): an upsert at a later batch supersedes the
    // tombstone — here with a DIFFERENT embedding (the corrected-document
    // case, which crosses compaction: the tombstone was folded at stamp 2).
    // The batch masks guarantee no pre-delete row (vector, cell, or an
    // edge scored against the OLD embedding) leaks into the served views.
    val readmitted = (dels.head, vecs.head._2)
    StreamOps.s36UpsertGraphBatch(cents, dir)(
      Seq(readmitted).toDF("vec_id", "embedding"), 4L)
    val rebuilt3 = Sim.symmetrize(
      Sim.directedTopKOf(livePrep(liveRows ++ extra :+ readmitted), cents))
    val maintained3 = StreamOps.s36Adjacency(spark, dir)
    assert(maintained3.exceptAll(rebuilt3).isEmpty &&
        rebuilt3.exceptAll(maintained3).isEmpty,
      "re-admission after delete must equal the rebuild on the final corpus")
    // live embeddings stay immutable — loud-fail (delete-then-upsert is
    // the sanctioned mutation path, not an in-place overwrite)
    val exDup = intercept[IllegalArgumentException] {
      StreamOps.s36UpsertGraphBatch(cents, dir)(
        Seq((liveRows.head._1, vecs.head._2)).toDF("vec_id", "embedding"), 5L)
    }
    assert(exDup.getMessage.contains("append-only"))
  }

  test("s43 maintained cluster store: interleaved upserts and deletes equal the d05 rebuild at every step; replays, compaction and increments hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val Dd = graft.queries.Dedup
    val dir = tmp("s43_clusters")
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val thirds = docs.groupBy(_._1 % 3)
    def rebuildOn(rows: Seq[(Long, String)]): org.apache.spark.sql.DataFrame = {
      val df = rows.toDF("doc_id", "text")
      val bands = Dd.bandTableOf(df).localCheckpoint()
      Dd.clusterTableOf(df.select("doc_id"), Dd.candidatePairsPlan(bands))
    }
    def check(liveRows: Seq[(Long, String)], msg: String): Unit = {
      val want = rebuildOn(liveRows)
      val got = StreamOps.s43Clusters(spark, dir)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, msg)
    }
    StreamOps.s43UpsertClusterBatch(dir)(
      thirds(0L).toSeq.toDF("doc_id", "text"), 0L)
    StreamOps.s43UpsertClusterBatch(dir)(
      thirds(1L).toSeq.toDF("doc_id", "text"), 1L)
    val after01 = (thirds(0L) ++ thirds(1L)).toSeq
    check(after01, "two increments must equal the d05 rebuild")
    // upsert replay is a fixpoint (the contraction is the identity on
    // already-merged labels)
    StreamOps.s43UpsertClusterBatch(dir)(
      thirds(1L).toSeq.toDF("doc_id", "text"), 1L)
    check(after01, "a replayed upsert must leave the served clusters unchanged")
    // plant an exact twin of a doc the delete will remove, so the delete
    // provably exercises RE-ELECTION (the twin's cluster must move off
    // the deleted min) — not just row filtering
    val victim = after01.find(_._1 % 7 == 3).get
    val twinId = docs.map(_._1).max + 500L
    StreamOps.s43UpsertClusterBatch(dir)(
      Seq((twinId, victim._2)).toDF("doc_id", "text"), 2L)
    val withTwin = after01 :+ ((twinId, victim._2))
    check(withTwin, "the planted twin must join its content's cluster")
    val twinBefore = StreamOps.s43Clusters(spark, dir)
      .filter(col("doc_id") === twinId).head().getLong(1)
    assert(twinBefore === victim._1, "the twin clusters to the victim's id")
    // delete: tombstones + affected-component recompute
    val dels = after01.map(_._1).filter(_ % 7 == 3)
    StreamOps.s43DeleteClusterBatch(dir)(dels.toSeq.toDF("doc_id"), 3L)
    val live2 = withTwin.filterNot(d => dels.contains(d._1))
    check(live2, "delete must equal the d05 rebuild on the live corpus")
    val twinAfter = StreamOps.s43Clusters(spark, dir)
      .filter(col("doc_id") === twinId).head().getLong(1)
    assert(twinAfter !== victim._1,
      "deleting the cluster min must re-elect the twin's label")
    // delete replay: run contents may shrink but the SERVED view is a
    // fixpoint (dropped rows are label-preserving)
    StreamOps.s43DeleteClusterBatch(dir)(dels.toSeq.toDF("doc_id"), 3L)
    check(live2, "a replayed delete must serve the same view")
    // compaction folds every table; the served view is untouched
    StreamOps.s43CompactStore(spark, dir)
    Seq("hash56", "bands", "labels", "deleted").foreach { t =>
      assert(spark.read.parquet(s"$dir/$t")
        .select("batch_id").distinct().count() === 1,
        s"compaction must fold $t to one run")
    }
    check(live2, "compaction must not change the served clusters")
    // increments on top of the compacted, post-delete store
    StreamOps.s43UpsertClusterBatch(dir)(
      thirds(2L).toSeq.toDF("doc_id", "text"), 4L)
    check(live2 ++ thirds(2L), "post-compaction increments must equal the rebuild")
    // RE-ADMISSION: the victim returns with DIFFERENT text at a later
    // batch, superseding its tombstone (across the compaction, whose fold
    // kept the dead ids); the served clusters equal the d05 rebuild on
    // the final corpus — the corrected doc clusters by its NEW content,
    // never its masked pre-delete bands
    val corrected = (victim._1, "re-admitted corrected text for " + victim._1)
    StreamOps.s43UpsertClusterBatch(dir)(
      Seq(corrected).toDF("doc_id", "text"), 5L)
    val live3 = (live2 ++ thirds(2L)) :+ corrected
    check(live3, "re-admission must supersede the delete: clusters == final rebuild")
    // replayed re-admission is a fixpoint
    StreamOps.s43UpsertClusterBatch(dir)(
      Seq(corrected).toDF("doc_id", "text"), 5L)
    check(live3, "a replayed re-admission must serve the same clusters")
  }

  test("s48 maintained golden records: interleaved upsert/delete/compact/re-admit equals the d33 election at every step; fsck holds") {
    import spark.implicits._
    val Dd = graft.queries.Dedup
    val dir = tmp("s48_golden")
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    def rebuildGolden(
        rows: Seq[(Long, String, String, String, Long)]): org.apache.spark.sql.DataFrame = {
      val df = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      val bands = Dd.bandTableOf(df.select("doc_id", "text")).localCheckpoint()
      val clusters = Dd.clusterTableOf(
        df.select("doc_id"), Dd.candidatePairsPlan(bands))
      Dd.goldenRecordsOf(clusters.join(
        df.select("doc_id", "lang", "source", "n_chars"), "doc_id"))
    }
    def check(liveRows: Seq[(Long, String, String, String, Long)],
              msg: String): Unit = {
      val want = rebuildGolden(liveRows)
      val got = StreamOps.s48Golden(spark, dir)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, msg)
      StreamOps.s46RequireHealthy(spark, dir, "golden")
    }
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val thirds = docs.groupBy(_._1 % 3)
    StreamOps.s48UpsertGoldenBatch(dir)(thirds(0L).toSeq.toDF(cols: _*), 0L)
    val after0 = thirds(0L).toSeq
    check(after0, "first increment must equal the d33 election")
    StreamOps.s48UpsertGoldenBatch(dir)(thirds(1L).toSeq.toDF(cols: _*), 1L)
    val after01 = after0 ++ thirds(1L)
    check(after01, "cross-batch merges must re-elect the merged cluster")
    // replayed upsert is a fixpoint
    StreamOps.s48UpsertGoldenBatch(dir)(thirds(1L).toSeq.toDF(cols: _*), 1L)
    check(after01, "a replayed upsert must leave the golden table unchanged")
    // delete a slice (including some elected survivors): retired labels
    // drop their golden rows, shrunk clusters re-elect
    val dels = after01.map(_._1).filter(_ % 7 == 3)
    assert(dels.nonEmpty)
    StreamOps.s48DeleteGoldenBatch(dir)(dels.toDF("doc_id"), 2L)
    val live2 = after01.filterNot(d => dels.contains(d._1))
    check(live2, "post-delete goldens must equal the d33 election on the live corpus")
    // delete replay is a fixpoint
    StreamOps.s48DeleteGoldenBatch(dir)(dels.toDF("doc_id"), 2L)
    check(live2, "a replayed delete must serve the same goldens")
    // compaction folds the golden table with the rest of the store
    StreamOps.s48CompactStore(spark, dir)
    Seq("hash56", "bands", "labels", "docattrs", "golden", "deleted")
      .foreach { t =>
        assert(spark.read.parquet(s"$dir/$t")
          .select("batch_id").distinct().count() === 1,
          s"compaction must fold $t to one run")
      }
    check(live2, "compaction must not change the served goldens")
    // post-compaction increment + RE-ADMISSION with corrected attributes:
    // the re-admitted doc's new lang/source/n_chars elect, never its
    // masked pre-delete row
    StreamOps.s48UpsertGoldenBatch(dir)(thirds(2L).toSeq.toDF(cols: _*), 3L)
    check(live2 ++ thirds(2L), "post-compaction increments must equal the election")
    val victim = docs.find(d => dels.contains(d._1)).get
    val corrected =
      (victim._1, victim._2, "zz", "re-admitted-source", victim._5 + 1000L)
    StreamOps.s48UpsertGoldenBatch(dir)(Seq(corrected).toDF(cols: _*), 4L)
    check((live2 ++ thirds(2L)) :+ corrected,
      "a re-admitted doc's corrected attributes must drive the election")
    // the golden table time-travels with the rest of the store: as-of the
    // increment batch (before the re-admission) serves yesterday's
    // elections from the live runs, and as-of a PRE-compaction batch
    // resolves through the retained generation
    val wantAsOf3 = rebuildGolden(live2 ++ thirds(2L))
    val gotAsOf3 = StreamOps.s48Golden(spark, dir, Some(3L))
    assert(gotAsOf3.exceptAll(wantAsOf3).isEmpty &&
        wantAsOf3.exceptAll(gotAsOf3).isEmpty,
      "golden as-of must serve the election as it stood at that batch")
    val wantAsOf1 = rebuildGolden(after01)
    val gotAsOf1 = StreamOps.s48Golden(spark, dir, Some(1L))
    assert(gotAsOf1.exceptAll(wantAsOf1).isEmpty &&
        wantAsOf1.exceptAll(gotAsOf1).isEmpty,
      "golden as-of below the stamp must resolve through the retained generation")
  }

  test("p14 takedown executor: one idempotent operation purges every store, fscks green, reports per-store counts; re-run is a no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, min}
    val Sim = graft.queries.Similarity
    // build all six store families from the fixtures
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val media = graft.operators.Multimodal.fixtureFromDocuments(spark, sf)
      .toDF().select("media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val cents = Sim.ivfCentroids(spark, sf).localCheckpoint()
    val cbook = Sim.pqCodebook(spark, sf).localCheckpoint()
    val stores = Map(
      "hash"   -> tmp("p14_hash"),
      "chunk"  -> tmp("p14_chunk"),
      "assign" -> tmp("p14_assign"),
      "code"   -> tmp("p14_code"),
      "graph"  -> tmp("p14_graph"),
      "golden" -> tmp("p14_golden"))
    val dcols = Seq("doc_id", "text", "lang", "source", "n_chars")
    StreamOps.s32UpsertIndexBatch(stores("hash"))(
      docs.toSeq.toDF(dcols: _*).select("doc_id", "text"), 0L)
    StreamOps.s34UpsertChunkBatch(stores("chunk"))(
      media.toSeq.toDF("media_id", "payload"), 0L)
    StreamOps.s35UpsertIvfBatch(cents, stores("assign"))(
      vecs.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s38UpsertPqBatch(cbook, stores("code"))(
      vecs.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s36UpsertGraphBatch(cents, stores("graph"))(
      vecs.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s48UpsertGoldenBatch(stores("golden"))(
      docs.toSeq.toDF(dcols: _*), 0L)
    // the takedown: p14's own deterministic victim slice (doc/vec/media
    // ids share the fixture id space)
    val victims = docs.map(_._1).filter(_ % 7 == 3)
    assert(victims.nonEmpty)
    val report = StreamOps.p14TakedownExecute(
        victims.toSeq.toDF("id"), stores)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(report.keySet === stores.keySet)
    assert(report.values.forall(_._4), "every store must fsck green")
    assert(report("hash")._1 === victims.size.toLong,
      "the hash store served every victim before the takedown")
    assert(report("chunk")._3 > 0L,
      "the fixture must exercise chunk GC accounting (sole-referrer chunks)")
    // post-takedown serve == rebuild on the live corpus, per store
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val liveDocs = docs.filter(_._1 % 7 != 3)
    val wantHash = liveDocs.toSeq.toDF(dcols: _*)
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    assert(same(StreamOps.s32HashIndex(spark, stores("hash")), wantHash),
      "post-takedown hash index == rebuild")
    val liveVecs = vecs.filter(_._1 % 7 != 3).toSeq
    val wantAssign = Sim.assignToCentroids(
        Sim.prepareVectors(liveVecs.toDF("vec_id", "embedding")), cents)
      .select("vec_id", "cid", "ccos")
    assert(same(StreamOps.s35Assignment(spark, stores("assign")), wantAssign),
      "post-takedown assignment == rebuild")
    val wantGraph = Sim.symmetrize(Sim.directedTopKOf(
      Sim.prepareVectors(liveVecs.toDF("vec_id", "embedding"))
        .select("vec_id", "q", "nrm"), cents))
    assert(same(StreamOps.s36Adjacency(spark, stores("graph")), wantGraph),
      "post-takedown graph == rebuild")
    val Dd = graft.queries.Dedup
    val liveDf = liveDocs.toSeq.toDF(dcols: _*).localCheckpoint()
    val wantGolden = Dd.goldenRecordsOf(
      Dd.clusterTableOf(liveDf.select("doc_id"),
          Dd.candidatePairsPlan(Dd.bandTableOf(
            liveDf.select("doc_id", "text")).localCheckpoint()))
        .join(liveDf.select("doc_id", "lang", "source", "n_chars"), "doc_id"))
    assert(same(StreamOps.s48Golden(spark, stores("golden")), wantGolden),
      "post-takedown goldens == d33 rebuild")
    // RE-RUN: idempotent — nothing newly purged, served views unchanged
    val report2 = StreamOps.p14TakedownExecute(
        victims.toSeq.toDF("id"), stores)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(report2.values.forall(_ === 0L),
      "a re-run must find no victim still served")
    assert(same(StreamOps.s32HashIndex(spark, stores("hash")), wantHash) &&
        same(StreamOps.s48Golden(spark, stores("golden")), wantGolden),
      "a re-run must not change any served view")
  }

  test("s49 store export: the clone serves identically, fscks green, is physically minimal, and stays a live store") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, min}
    val src = tmp("s49_src"); val dst = tmp("s49_dst") + "/clone"
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (h1, h2) = docs.partition(_._1 % 2 == 0)
    StreamOps.s32UpsertIndexBatch(src)(h1.toSeq.toDF("doc_id", "text"), 0L)
    StreamOps.s32UpsertIndexBatch(src)(h2.toSeq.toDF("doc_id", "text"), 1L)
    // last-batch redelivery on the source: the clone must not inherit the
    // fragmentation it leaves on disk
    StreamOps.s32UpsertIndexBatch(src)(h2.toSeq.toDF("doc_id", "text"), 1L)
    val dels = docs.map(_._1).filter(_ % 7 == 3)
    StreamOps.s32DeleteBatch(src)(dels.toSeq.toDF("doc_id"), 2L)
    StreamOps.s49ExportStore(spark, src, dst, "hash")
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(StreamOps.s32HashIndex(spark, dst),
        StreamOps.s32HashIndex(spark, src)),
      "the clone must serve the source's hash index row-identically")
    assert(same(StreamOps.s32BandIndex(spark, dst),
        StreamOps.s32BandIndex(spark, src)),
      "the clone must serve the source's band index row-identically")
    StreamOps.s46RequireHealthy(spark, dst, "hash")
    // physically minimal: one run per table, raw == served, stamp carried
    val stats = StreamOps.s47StoreStats(spark, dst, "hash").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(7), r.getLong(6)))
      .toMap
    assert(stats("hash56")._1 === 1L && stats("bands")._1 === 1L,
      "the clone folds each table to one base run")
    assert(stats("hash56")._2 === 100L, "no masked rows, no duplicates")
    assert(stats("hash56")._3 === 2L, "the stamp carries the fold-through id")
    // the clone is LIVE: an increment lands and equals the rebuild; a
    // stale replay below the carried stamp is refused
    val fresh = Seq((900001L, "s49 fresh text"))
    StreamOps.s32UpsertIndexBatch(dst)(fresh.toDF("doc_id", "text"), 3L)
    val live = docs.filter(d => !dels.contains(d._1)) ++ fresh
    val want = live.toSeq.toDF("doc_id", "text")
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    assert(same(StreamOps.s32HashIndex(spark, dst), want),
      "increments on the clone must equal the rebuild")
    val stale = intercept[IllegalArgumentException] {
      StreamOps.s32UpsertIndexBatch(dst)(fresh.toDF("doc_id", "text"), 1L)
    }
    assert(stale.getMessage.contains("compacted"))
    // an export NEVER silently overwrites an existing backup
    intercept[Throwable] {
      StreamOps.s49ExportStore(spark, src, dst, "hash")
    }
    // multi-table family: the golden store clones with its whole pyramid
    val gdocs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val gsrc = tmp("s49_gsrc"); val gdst = tmp("s49_gdst") + "/clone"
    StreamOps.s48UpsertGoldenBatch(gsrc)(
      gdocs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"), 0L)
    StreamOps.s48DeleteGoldenBatch(gsrc)(
      gdocs.map(_._1).filter(_ % 7 == 3).toSeq.toDF("doc_id"), 1L)
    StreamOps.s49ExportStore(spark, gsrc, gdst, "golden")
    assert(same(StreamOps.s48Golden(spark, gdst),
        StreamOps.s48Golden(spark, gsrc)),
      "the golden clone must serve the source's elections row-identically")
    assert(same(StreamOps.s43Clusters(spark, gdst),
        StreamOps.s43Clusters(spark, gsrc)),
      "the golden clone must serve the source's clusters row-identically")
    StreamOps.s46RequireHealthy(spark, gdst, "golden")
    // ALL-TOMBSTONED export: the empty-fold tables must still reach the
    // clone (raw runs carry over; the batch mask serves the same empty
    // view) — a clone with a missing table dir would crash every reader
    val esrc = tmp("s49_empty_src"); val edst = tmp("s49_empty_dst") + "/c"
    val few = docs.take(4)
    StreamOps.s32UpsertIndexBatch(esrc)(few.toSeq.toDF("doc_id", "text"), 0L)
    StreamOps.s32DeleteBatch(esrc)(few.map(_._1).toSeq.toDF("doc_id"), 1L)
    StreamOps.s49ExportStore(spark, esrc, edst, "hash")
    assert(StreamOps.s32HashIndex(spark, edst).count() === 0L,
      "the clone of an all-tombstoned store serves the empty view")
    StreamOps.s46RequireHealthy(spark, edst, "hash")
  }

  test("s50 coordinated ingest: one batch lands in every store with a commit manifest; crash-lag is named and heals by replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, min}
    val Sim = graft.queries.Similarity
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val media = graft.operators.Multimodal.fixtureFromDocuments(spark, sf)
      .toDF().select("media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val cents = Sim.ivfCentroids(spark, sf).localCheckpoint()
    val cbook = Sim.pqCodebook(spark, sf).localCheckpoint()
    val stores = Map(
      "hash"   -> tmp("s50_hash"),
      "chunk"  -> tmp("s50_chunk"),
      "assign" -> tmp("s50_assign"),
      "code"   -> tmp("s50_code"),
      "graph"  -> tmp("s50_graph"),
      "golden" -> tmp("s50_golden"))
    val manifest = tmp("s50_manifest") + "/manifest"
    val dcols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val (d1, d2) = docs.partition(_._1 % 2 == 0)
    val (v1, v2) = vecs.partition(_._1 % 2 == 0)
    val (m1, m2) = media.partition(_._1 % 2 == 0)
    def ingest(ds: Seq[(Long, String, String, String, Long)],
               vs: Seq[(Long, Array[Float])],
               ms: Seq[(Long, Array[Byte])], b: Long): Unit =
      StreamOps.s50IngestAll(ds.toDF(dcols: _*),
        vs.toDF("vec_id", "embedding"), ms.toDF("media_id", "payload"),
        stores, manifest, b, cents, cbook)
    ingest(d1, v1, m1, 0L)
    StreamOps.s50RequireCoordinated(spark, manifest, stores)
    // every store serves exactly its family's fold of the ingested slice
    val wantHash = d1.toSeq.toDF(dcols: _*)
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(StreamOps.s32HashIndex(spark, stores("hash")), wantHash))
    assert(StreamOps.s35Assignment(spark, stores("assign")).count()
      === v1.length.toLong)
    // CRASH-LAG: batch 1 lands in ONE store only (the mid-ingest crash);
    // the audit names it `ahead`, everyone else `committed`
    StreamOps.s32UpsertIndexBatch(stores("hash"))(
      d2.toSeq.toDF(dcols: _*).select("doc_id", "text"), 1L)
    val lag = StreamOps.s50CoordinationAudit(spark, manifest, stores)
      .collect().map(r => r.getString(0) -> r.getString(4)).toMap
    assert(lag("hash") === "ahead", lag.toString)
    assert(lag.filterNot(_._1 == "hash").values.forall(_ == "committed"))
    intercept[IllegalArgumentException] {
      StreamOps.s50RequireCoordinated(spark, manifest, stores)
    }
    // recovery is mechanical: replay the WHOLE batch through s50 — the
    // already-landed store's fold is a redelivery fixpoint
    ingest(d2, v2, m2, 1L)
    StreamOps.s50RequireCoordinated(spark, manifest, stores)
    val wantHashAll = docs.toSeq.toDF(dcols: _*)
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    assert(same(StreamOps.s32HashIndex(spark, stores("hash")), wantHashAll),
      "the healed store must serve the full-corpus fold")
    assert(same(StreamOps.s48Golden(spark, stores("golden")), {
      val Dd = graft.queries.Dedup
      val liveDf = docs.toSeq.toDF(dcols: _*).localCheckpoint()
      Dd.goldenRecordsOf(
        Dd.clusterTableOf(liveDf.select("doc_id"),
            Dd.candidatePairsPlan(Dd.bandTableOf(
              liveDf.select("doc_id", "text")).localCheckpoint()))
          .join(liveDf.select("doc_id", "lang", "source", "n_chars"),
            "doc_id"))
    }), "coordinated increments must equal the golden rebuild")
    // EMPTY-MODALITY batch: media has zero rows — the chunk fold skips
    // the batch entirely, and the audit must NOT read that as 'behind'
    // (the manifest acknowledges per family only where rows landed)
    val fresh = Seq((777001L, "s50 empty-modality doc", "en", "srcx", 22L))
    val freshVec = Seq((777001L, vecs.head._2))
    StreamOps.s50IngestAll(fresh.toDF(dcols: _*),
      freshVec.toDF("vec_id", "embedding"),
      spark.emptyDataset[(Long, Array[Byte])].toDF("media_id", "payload"),
      stores, manifest, 2L, cents, cbook)
    StreamOps.s50RequireCoordinated(spark, manifest, stores)
    // BEHIND: a manifest acknowledging (with rows) a batch no store has
    // (the mixed-generation restore) is loud for exactly those families
    stores.keys.toSeq.sorted.map(f => (f, stores(f), 5L))
      .toDF("family", "dir", "n_rows")
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(9L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(manifest)
    spark.catalog.refreshByPath(manifest)
    val behind = StreamOps.s50CoordinationAudit(spark, manifest, stores)
      .collect().map(r => r.getString(4)).distinct
    assert(behind.toSeq === Seq("behind"), behind.mkString(","))
    intercept[IllegalArgumentException] {
      StreamOps.s50RequireCoordinated(spark, manifest, stores)
    }
  }

  test("s42 codebook-staleness monitor: a drifted batch trends below the build baseline; retrained-codebook handoff equals the batch re-assignment") {
    import spark.implicits._
    import org.apache.spark.sql.functions.avg
    val Sim = graft.queries.Similarity
    val dir = tmp("s42_idx")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = Sim.ivfCentroids(spark, sf).localCheckpoint()
    val (half1, half2) = vecs.partition(_._1 % 2 == 0)
    // batch 0: healthy ingest; batch 1: DRIFTED ingest (negated embeddings
    // — deterministic, maximally out-of-distribution for the codebook)
    StreamOps.s35UpsertIvfBatch(cents, dir)(
      half1.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s35UpsertIvfBatch(cents, dir)(
      half2.map { case (id, e) => (id, e.map(-_)) }.toSeq
        .toDF("vec_id", "embedding"), 1L)
    val baseline = Sim.assignToCentroids(
        Sim.prepareVectors(vecs.toSeq.toDF("vec_id", "embedding")), cents)
      .agg(avg("ccos").as("base_ccos"))
    val rep = StreamOps.s42AssignmentQuality(spark, dir, baseline)
      .collect().map(r => (r.getLong(0),
        r.getDouble(2), r.getLong(4), r.getDouble(5))).sortBy(_._1)
    assert(rep.map(_._1).toSeq === Seq(0L, 1L))
    val Array((_, healthyCcos, healthySkew, healthyRatio),
              (_, driftCcos, _, driftRatio)) = rep
    assert(driftCcos < healthyCcos,
      "the drifted batch's mean assignment quality must trend BELOW healthy")
    // measured: healthy ≈ 0.996 of baseline, negated ≈ 0.88 — best-of-16
    // still finds a positive centroid for a negated vector, so the signal
    // is a clear RATIO GAP, not a sign flip; pin the gap with slack
    assert(driftRatio < healthyRatio - 0.05,
      s"drift ratio $driftRatio must separate from healthy $healthyRatio")
    assert(healthySkew >= 10000,
      "max list is never below the uniform share")
    // the retrain HANDOFF: n27's retrained codebook slots into the SAME
    // maintainer, and the maintained store equals the batch re-assignment
    // with the retrained centroids (n27∘n02 through the streaming seam)
    val rc = Sim.retrainedCentroids(spark, sf)
    val dir2 = tmp("s42_retrained")
    StreamOps.s35UpsertIvfBatch(rc, dir2)(
      half1.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s35UpsertIvfBatch(rc, dir2)(
      half2.toSeq.toDF("vec_id", "embedding"), 1L)
    val want = Sim.assignToCentroids(
        Sim.prepareVectors(vecs.toSeq.toDF("vec_id", "embedding")), rc)
      .select("vec_id", "cid", "ccos")
    val got = StreamOps.s35Assignment(spark, dir2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "maintained-on-retrained must equal the batch re-assignment")
  }

  test("s41 replay fence: batch ids are one monotone sequence; cross-kind reuse and stale replays refuse loudly") {
    import spark.implicits._
    val dir = tmp("s41_fence")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = graft.queries.Similarity.ivfCentroids(spark, sf)
      .localCheckpoint()
    def part(m: Long) = vecs.filter(_._1 % 4 == m).toSeq
      .toDF("vec_id", "embedding")
    def up(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamOps.s35UpsertIvfBatch(cents, dir)(df, id)
    up(part(0), 0L); up(part(1), 1L)
    // out-of-order id: refused (would clobber batch 0's partition)
    val mono = intercept[IllegalArgumentException] { up(part(2), 0L) }
    assert(mono.getMessage.contains("monotone"))
    // replay of the LAST batch: allowed (foreachBatch redelivery)
    up(part(1), 1L)
    // a delete may not reuse an upsert's id (same-id equality must be the
    // same KIND of fold); deleted ids come from the never-upserted part(3)
    // class so the final increment below stays admissible
    val delIds = vecs.map(_._1).filter(_ % 4 == 3).take(3).toSeq
    val kind = intercept[IllegalArgumentException] {
      StreamOps.s35DeleteBatch(dir)(delIds.toDF("vec_id"), 1L)
    }
    assert(kind.getMessage.contains("may not reuse"))
    StreamOps.s35DeleteBatch(dir)(delIds.toDF("vec_id"), 2L)
    // ...and an upsert may not reuse a delete's id
    val kind2 = intercept[IllegalArgumentException] { up(part(2), 2L) }
    assert(kind2.getMessage.contains("may not reuse"))
    // delete replay at its own id: allowed
    StreamOps.s35DeleteBatch(dir)(delIds.toDF("vec_id"), 2L)
    // stale replay after compaction: refused with the stamp named
    StreamOps.s35CompactStore(spark, dir)
    val stale = intercept[IllegalArgumentException] { up(part(2), 2L) }
    assert(stale.getMessage.contains("compacted through batch 2"))
    up(part(2), 3L) // fresh id past the stamp proceeds
  }

  test("s26 dedup→window chain counts each redelivered event_id exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamOps.s26DedupThenWindowAgg(
        mem.toDF().toDF("ts", "event_id", "event_type"))
      .writeStream.format("memory").queryName("s26_out")
      .outputMode(OutputMode.Append()).start()
    // at-least-once ingest: id 100 delivered 3x, id 101 2x, all in the
    // [0,10) window; one clean 'view' id
    mem.addData((ts(1), 100L, "click"), (ts(2), 100L, "click"),
                (ts(3), 101L, "click"), (ts(4), 101L, "click"),
                (ts(5), 102L, "view"))
    q.processAllAvailable()
    mem.addData((ts(40), 900L, "flush")) // advance watermark past window end
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("s26_out").select("event_type", "n_unique").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows === Set(("click", 2L), ("view", 1L)), s"got $rows")
  }

  test("s27 min watermark policy: the slowest unioned source gates emission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Timestamp, Long)]
    val memB = MemoryStream[(Timestamp, Long)]
    val q = StreamOps.s27UnionWatermark(
        memA.toDF().toDF("ts", "id"), memB.toDF().toDF("ts", "id"))
      .writeStream.format("memory").queryName("s27_out")
      .outputMode(OutputMode.Append()).start()
    memA.addData((ts(1), 1L)); memB.addData((ts(2), 2L))
    q.processAllAvailable()
    // A races ahead (watermark 30) but B is still at ~0: under the
    // default MIN policy the [0,10) window must stay open
    memA.addData((ts(40), 3L))
    q.processAllAvailable()
    assert(spark.table("s27_out").count() === 0L,
      "window emitted while the slower source could still add rows")
    // B catches up → combined watermark passes 10 → the window finalizes
    // with BOTH sources' rows
    memB.addData((ts(41), 4L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("s27_out").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(rows === Set((ts(0), 2L)), s"got $rows")
  }

  test("s04 streaming dedup keeps one copy within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "event_id", "value")
    val q = StreamOps.s04StreamDedup(events)
      .writeStream.format("memory").queryName("s04_out")
      .outputMode(OutputMode.Append()).start()
    mem.addData((ts(1), 100L, 1.0), (ts(2), 100L, 1.0), (ts(3), 101L, 2.0))
    q.processAllAvailable()
    mem.addData((ts(4), 100L, 1.0)) // dup again, still within watermark
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("s04_out").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(100L, 101L), s"got $ids")
  }

  test("s17 upsert sink: latest-by-key compaction, replay-idempotent") {
    import spark.implicits._
    import graft.operators.UpsertSink
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:upsertdb;create=true"
    val props = new java.util.Properties()
    val table = "latest_state"
    def snapshot(): Map[Long, Double] = {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT k, v FROM $table ORDER BY k")
        Iterator.continually(rs)
          .takeWhile(_.next()).map(r => r.getLong(1) -> r.getDouble(2)).toMap
      } finally conn.close()
    }
    val ckpt = Files.createTempDirectory("s17_ckpt").toString
    val mem = MemoryStream[(Long, Double, Timestamp)]
    val updates = mem.toDF().toDF("k", "v", "ts")
    val q = StreamOps.s17UpsertSink(updates, url, props, table, ckpt)
    // batch 1 carries TWO updates for k=1 — compaction keeps the later ts
    mem.addData((1L, 10.0, ts(1)), (2L, 20.0, ts(1)), (1L, 15.0, ts(2)))
    q.processAllAvailable()
    assert(snapshot() === Map(1L -> 15.0, 2L -> 20.0))
    // batch 2 updates an existing key and inserts a new one
    mem.addData((2L, 25.0, ts(3)), (3L, 30.0, ts(3)))
    q.processAllAvailable()
    q.stop()
    val after = snapshot()
    assert(after === Map(1L -> 15.0, 2L -> 25.0, 3L -> 30.0))
    // replay batch 2 verbatim (a restart re-delivering the last batch):
    // upsert-by-key converges to the SAME state — no ledger required
    val replay = Seq((2L, 25.0, ts(3)), (3L, 30.0, ts(3))).toDF("k", "v", "ts")
    UpsertSink.upsertBatch(url, props, table, UpsertSink.derbyDdl(table))(replay, 1L)
    assert(snapshot() === after)
    // rollback safety: a mid-partition failure must leave the table
    // untouched (the per-partition transaction either fully lands or
    // fully rolls back) — provoke it with a NULL key (bigint NOT NULL pk)
    val poison = Seq((Some(7L), 70.0, ts(4)), (None: Option[Long], 9.0, ts(4)))
      .toDF("k", "v", "ts")
    intercept[Exception] {
      UpsertSink.upsertBatch(url, props, table,
        UpsertSink.derbyDdl(table))(poison.coalesce(1), 2L)
    }
    assert(snapshot() === after, "failed batch must not partially land")
  }

  test("s45 as-of reads: the s32 store's history replays exactly; a delete is invisible before its batch; compaction archives a retained generation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, min}
    val dir = tmp("s45_s32")
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (half1, half2) = docs.partition(_._1 % 2 == 0)
    StreamOps.s32UpsertIndexBatch(dir)(half1.toSeq.toDF("doc_id", "text"), 0L)
    StreamOps.s32UpsertIndexBatch(dir)(half2.toSeq.toDF("doc_id", "text"), 1L)
    val dels = docs.map(_._1).filter(_ % 7 == 3)
    assert(dels.nonEmpty)
    StreamOps.s32DeleteBatch(dir)(dels.toSeq.toDF("doc_id"), 2L)
    // the contract: as-of batch B == the batch rebuild over the prefix
    // corpus (every batch's ingest minus the deletes visible by B)
    def hashOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(0L)), hashOf(half1)),
      "as-of the first batch must equal the rebuild over its corpus")
    val all = half1 ++ half2
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(1L)), hashOf(all)),
      "as-of the second batch must see both ingests and NOT the later delete")
    val live = docs.filter(_._1 % 7 != 3)
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(2L)), hashOf(live)),
      "as-of the delete batch must serve the post-delete view")
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(2L)),
        StreamOps.s32HashIndex(spark, dir)),
      "as-of the newest batch must equal the present-day read")
    // the band table time-travels through the same runs
    val wantBands0 = graft.queries.Dedup
      .bandTableOf(half1.toSeq.toDF("doc_id", "text")).distinct()
    assert(same(StreamOps.s32BandIndex(spark, dir, Some(0L)), wantBands0),
      "the band index as-of the first batch must equal its rebuild")
    // compaction folds history but ARCHIVES the pre-compaction runs as a
    // retained generation (r13): below-stamp as-of resolves into the
    // generation and stays EXACT — here even through the delete fixture
    // (as-of 1 predates the delete, as-of 0 predates the second ingest)
    StreamOps.s32CompactStore(spark, dir)
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(1L)), hashOf(all)),
      "below-stamp as-of must resolve through the retained generation")
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(0L)), hashOf(half1)),
      "the generation serves the whole pre-compaction history")
    assert(same(StreamOps.s32BandIndex(spark, dir, Some(0L)), wantBands0),
      "the band index time-travels through the generation too")
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(2L)), hashOf(live)),
      "as-of at the compaction stamp must survive the fold exactly")
    // retention window: prune history to ZERO generations and the old
    // loud-fail horizon returns (reads past the window must never
    // silently serve the folded present)
    val fsDir = new org.apache.hadoop.fs.Path(s"$dir/_history")
    fsDir.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(fsDir, true)
    val ex = intercept[IllegalArgumentException] {
      StreamOps.s32HashIndex(spark, dir, Some(1L))
    }
    assert(ex.getMessage.contains("compacted"), ex.getMessage)
    // post-compaction increments: invisible below their batch, exact at it
    val fresh = (1 to 3).map(i => (docs.map(_._1).max + 2000L + i,
      s"s45 fresh text $i"))
    StreamOps.s32UpsertIndexBatch(dir)(fresh.toDF("doc_id", "text"), 3L)
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(2L)), hashOf(live)),
      "a later increment must stay invisible to an earlier as-of")
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(3L)),
        hashOf(live ++ fresh)),
      "as-of the increment's batch must include it")
  }

  test("s45 retention window: repeated compactions retain K generations; as-of resolves into the right one; pruning re-arms the loud fail") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, min}
    val dir = tmp("s45_retention")
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (h1, h2) = docs.partition(_._1 % 2 == 0)
    def hashOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    StreamOps.s32UpsertIndexBatch(dir)(h1.toSeq.toDF("doc_id", "text"), 0L)
    StreamOps.s32UpsertIndexBatch(dir)(h2.toSeq.toDF("doc_id", "text"), 1L)
    StreamOps.s32CompactStore(spark, dir)          // gen_1: runs 0..1
    val f2 = Seq((90001L, "retention fresh two"))
    StreamOps.s32UpsertIndexBatch(dir)(f2.toDF("doc_id", "text"), 2L)
    StreamOps.s32CompactStore(spark, dir)          // gen_2: base(1) + run 2
    assert(StreamOps.retainedGenerations(spark, dir) === Seq(2L, 1L))
    // s47 reports the retained-history depth
    assert(StreamOps.s47StoreStats(spark, dir, "hash")
      .select("history_gens").head().getLong(0) === 2L)
    // as-of 0 only gen_1 can serve (gen_2's own stamp is 1 > 0); as-of 1
    // resolves into the NEWEST admitting generation (gen_2's base); the
    // present reads live
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(0L)), hashOf(h1)),
      "as-of 0 must resolve into the oldest retained generation")
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(1L)),
        hashOf(h1 ++ h2)),
      "as-of 1 must serve the pre-second-compaction state")
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(2L)),
        hashOf((h1 ++ h2) ++ f2)),
      "as-of at the live stamp must equal the present-day read")
    // a third compaction prunes past the window (K=2): gen_1 drops, so
    // as-of 0 fails loudly again while as-of 1 (gen_2) still serves
    val f3 = Seq((90002L, "retention fresh three"))
    StreamOps.s32UpsertIndexBatch(dir)(f3.toDF("doc_id", "text"), 3L)
    StreamOps.s32CompactStore(spark, dir)          // gen_3; prune gen_1
    assert(StreamOps.retainedGenerations(spark, dir) === Seq(3L, 2L))
    val ex = intercept[IllegalArgumentException] {
      StreamOps.s32HashIndex(spark, dir, Some(0L))
    }
    assert(ex.getMessage.contains("no retained generation"), ex.getMessage)
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(1L)),
        hashOf(h1 ++ h2)),
      "inside the window, history still serves after pruning")
    // RE-ENTRANCY: compacting again with no new batches is a NO-OP — a
    // scheduled compaction firing twice must not re-archive into the
    // existing generation or clobber its stamp (which would narrow the
    // as-of window this suite just proved)
    StreamOps.s32CompactStore(spark, dir)
    assert(StreamOps.retainedGenerations(spark, dir) === Seq(3L, 2L),
      "a no-new-batches compaction must not touch the generations")
    assert(same(StreamOps.s32HashIndex(spark, dir, Some(1L)),
        hashOf(h1 ++ h2)),
      "the retained window must survive a redundant compaction")
    assert(same(StreamOps.s32HashIndex(spark, dir),
        hashOf((h1 ++ h2) ++ f2 ++ f3)),
      "the served view must survive a redundant compaction")
  }

  test("s47 store stats: run counts, raw-vs-served gap and read amplification track the lifecycle; compaction resets them") {
    import spark.implicits._
    val dir = tmp("s47_stats")
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (h1, h2) = docs.partition(_._1 % 2 == 0)
    StreamOps.s32UpsertIndexBatch(dir)(h1.toSeq.toDF("doc_id", "text"), 0L)
    StreamOps.s32UpsertIndexBatch(dir)(h2.toSeq.toDF("doc_id", "text"), 1L)
    def statsOf() = StreamOps.s47StoreStats(spark, dir, "hash")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).map(t => (t._1, t)).toMap
    val s0 = statsOf()
    assert(s0("hash56")._2 === 2L, "two upsert runs before compaction")
    assert(s0("hash56")._3 === s0("hash56")._4,
      "insert-only store: raw == served")
    assert(s0("hash56")._5 === 0L && s0("hash56")._6 === 1L)
    assert(s0("hash56")._7 === -1L, "no compaction stamp yet")
    assert(s0("hash56")._8 === 100L, "no replay, no deletes: amp 100")
    // a delete leaves tombstoned rows ON DISK — raw grows past served
    val dels = docs.map(_._1).filter(_ % 7 == 3)
    StreamOps.s32DeleteBatch(dir)(dels.toSeq.toDF("doc_id"), 2L)
    val s1 = statsOf()
    assert(s1("hash56")._5 === dels.length.toLong)
    assert(s1("hash56")._3 > s1("hash56")._4,
      "tombstoned rows still on disk: raw > served")
    assert(s1("hash56")._8 > 100L, "read amplification reflects the debt")
    // compaction folds the layout back to size: one run, amp 100, stamp
    StreamOps.s32CompactStore(spark, dir)
    val s2 = statsOf()
    assert(s2("hash56")._2 === 1L && s2("bands")._2 === 1L)
    assert(s2("hash56")._3 === s2("hash56")._4 && s2("hash56")._8 === 100L)
    assert(s2("hash56")._7 === 2L, "stamp records the folded-through batch")
    intercept[IllegalArgumentException] {
      StreamOps.s47StoreStats(spark, dir, "nosuch")
    }
  }

  test("s45 as-of fuzz: on seeded random batch splits and delete slices, every as-of equals the rebuild over its prefix corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, min}
    val rnd = new scala.util.Random(45)
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    def hashOf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .groupBy("th").agg(min("doc_id").as("doc_id"))
    for (trial <- 1 to 3) {
      val dir = tmp(s"s45_fuzz_$trial")
      // planted exact-dup groups (id % 12) so survivor elections cross
      // batch boundaries; random disjoint split into k upsert batches
      val n = 25 + rnd.nextInt(20)
      val docs = (1L to n.toLong).map(id =>
        (id, s"s45 fuzz text ${id % 12} ${"pad " * (1 + (id % 3).toInt)}"))
      val k = 2 + rnd.nextInt(3)
      val batches = docs.groupBy(_._1 % k).toSeq.sortBy(_._1).map(_._2)
      // prefix state after each fold, for the as-of comparators
      var statesAtBatch = Vector.empty[Seq[(Long, String)]]
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamOps.s32UpsertIndexBatch(dir)(b.toDF("doc_id", "text"), i.toLong)
        statesAtBatch :+= batches.take(i + 1).flatten
      }
      // one random delete slice of the ingested ids, then one fresh batch
      val dels = docs.map(_._1).filter(_ % (3 + rnd.nextInt(3)) == 1)
      if (dels.nonEmpty) {
        StreamOps.s32DeleteBatch(dir)(dels.toDF("doc_id"), k.toLong)
        statesAtBatch :+= statesAtBatch.last.filterNot(r => dels.contains(r._1))
      } else statesAtBatch :+= statesAtBatch.last
      val fresh = (1 to 3).map(i => (5000L + i, s"s45 fuzz fresh $trial $i"))
      StreamOps.s32UpsertIndexBatch(dir)(fresh.toDF("doc_id", "text"),
        (k + 1).toLong)
      statesAtBatch :+= statesAtBatch.last ++ fresh
      statesAtBatch.zipWithIndex.foreach { case (state, b) =>
        assert(same(StreamOps.s32HashIndex(spark, dir, Some(b.toLong)),
            hashOf(state)),
          s"trial $trial: as-of batch $b must equal its prefix rebuild " +
            s"(k=$k, dels=${dels.size})")
      }
    }
  }

  test("s45 as-of reads: graph and cluster stores time-travel; the delete re-rank is invisible before its batch") {
    import spark.implicits._
    val Sim = graft.queries.Similarity
    val Dd = graft.queries.Dedup
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // graph store: as-of == the directed-top-k rebuild over the prefix
    val gdir = tmp("s45_s36")
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = Sim.ivfCentroids(spark, sf).localCheckpoint()
    val (vh1, vh2) = vecs.partition(_._1 % 2 == 0)
    StreamOps.s36UpsertGraphBatch(cents, gdir)(
      vh1.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s36UpsertGraphBatch(cents, gdir)(
      vh2.toSeq.toDF("vec_id", "embedding"), 1L)
    val vdels = vecs.map(_._1).filter(_ % 5 == 1)
    StreamOps.s36DeleteBatch(gdir)(vdels.toSeq.toDF("vec_id"), 2L)
    def rebuilt(rows: Seq[(Long, Array[Float])]) = Sim.symmetrize(
      Sim.directedTopKOf(
        Sim.prepareVectors(rows.toDF("vec_id", "embedding"))
          .select("vec_id", "q", "nrm"), cents))
    assert(same(StreamOps.s36Adjacency(spark, gdir, Some(0L)),
        rebuilt(vh1.toSeq)),
      "graph as-of the first batch must equal the rebuild over its corpus")
    assert(same(StreamOps.s36Adjacency(spark, gdir, Some(1L)),
        rebuilt(vecs.toSeq)),
      "graph as-of the second batch must not see the later delete re-rank")
    assert(same(StreamOps.s36Adjacency(spark, gdir, Some(2L)),
        rebuilt(vecs.filter(_._1 % 5 != 1).toSeq)),
      "graph as-of the delete batch must serve the post-delete graph")
    // the consumer contract: REPRODUCE yesterday's serving — the n24/n26
    // batched walk over the as-of view equals the walk over the graph as
    // it stood then (the reproducibility verb the as-of read exists for)
    val walkAsOf = Sim.batchedWalkOver(spark, sf,
        StreamOps.s36Adjacency(spark, gdir, Some(1L)).localCheckpoint())
      .collect().map(_.toSeq.map(String.valueOf))
    val walkThen = Sim.batchedWalkOver(spark, sf,
        rebuilt(vecs.toSeq).localCheckpoint())
      .collect().map(_.toSeq.map(String.valueOf))
    assert(walkAsOf.toSeq === walkThen.toSeq,
      "the walk served from an as-of view must reproduce the historical serving")
    // cluster store: as-of == the d05 rebuild over the prefix corpus
    val cdir = tmp("s45_s43")
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val (dh1, dh2) = docs.partition(_._1 % 2 == 0)
    StreamOps.s43UpsertClusterBatch(cdir)(dh1.toSeq.toDF("doc_id", "text"), 0L)
    StreamOps.s43UpsertClusterBatch(cdir)(dh2.toSeq.toDF("doc_id", "text"), 1L)
    val ddels = docs.map(_._1).filter(_ % 7 == 3)
    StreamOps.s43DeleteClusterBatch(cdir)(ddels.toSeq.toDF("doc_id"), 2L)
    def clustersOf(rows: Seq[(Long, String)]) = {
      val df = rows.toDF("doc_id", "text")
      val bands = Dd.bandTableOf(df).localCheckpoint()
      Dd.clusterTableOf(df.select("doc_id"), Dd.candidatePairsPlan(bands))
    }
    assert(same(StreamOps.s43Clusters(spark, cdir, Some(0L)),
        clustersOf(dh1.toSeq)),
      "clusters as-of the first batch must equal the d05 rebuild over it")
    assert(same(StreamOps.s43Clusters(spark, cdir, Some(1L)),
        clustersOf(docs.toSeq)),
      "clusters as-of the second batch must not see the later retraction")
    assert(same(StreamOps.s43Clusters(spark, cdir, Some(2L)),
        clustersOf(docs.filter(_._1 % 7 != 3).toSeq)),
      "clusters as-of the delete batch must serve the retracted view")
    // retention is family-generic: after compaction BOTH stores still
    // time-travel below the stamp through the retained generation —
    // including the pre-delete state (batch 1) that the fold physically
    // removed from the live tables
    StreamOps.s37CompactEdgeStore(spark, gdir)
    assert(same(StreamOps.s36Adjacency(spark, gdir, Some(1L)),
        rebuilt(vecs.toSeq)),
      "graph as-of below the stamp must resolve through the retained generation")
    assert(same(StreamOps.s36Adjacency(spark, gdir, Some(2L)),
        rebuilt(vecs.filter(_._1 % 5 != 1).toSeq)),
      "graph as-of at the stamp must survive the fold")
    StreamOps.s43CompactStore(spark, cdir)
    assert(same(StreamOps.s43Clusters(spark, cdir, Some(1L)),
        clustersOf(docs.toSeq)),
      "clusters as-of below the stamp must resolve through the retained generation")
  }

  test("s45 as-of reads: chunk, assignment and code stores time-travel through their runs") {
    import spark.implicits._
    val Sim = graft.queries.Similarity
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val (h1, h2) = vecs.partition(_._1 % 2 == 0)
    // s35 assignment
    val adir = tmp("s45_s35")
    val cents = Sim.ivfCentroids(spark, sf).localCheckpoint()
    StreamOps.s35UpsertIvfBatch(cents, adir)(
      h1.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s35UpsertIvfBatch(cents, adir)(
      h2.toSeq.toDF("vec_id", "embedding"), 1L)
    def assignOf(rows: Seq[(Long, Array[Float])]) = Sim.assignToCentroids(
        Sim.prepareVectors(rows.toDF("vec_id", "embedding")), cents)
      .select("vec_id", "cid", "ccos")
    assert(same(StreamOps.s35Assignment(spark, adir, Some(0L)),
        assignOf(h1.toSeq)),
      "assignment as-of the first batch must equal its rebuild")
    // s38 codes
    val pdir = tmp("s45_s38")
    val cbook = Sim.pqCodebook(spark, sf).localCheckpoint()
    StreamOps.s38UpsertPqBatch(cbook, pdir)(
      h1.toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s38UpsertPqBatch(cbook, pdir)(
      h2.toSeq.toDF("vec_id", "embedding"), 1L)
    def codesOf(rows: Seq[(Long, Array[Float])]) = Sim.pqAssignToCodebook(
        Sim.subVectorsOf(
          Sim.prepareVectors(rows.toDF("vec_id", "embedding"))
            .select("vec_id", "q")), cbook)
      .select("vec_id", "sub", "code", "dist2")
    assert(same(StreamOps.s38Codes(spark, pdir, Some(0L)), codesOf(h1.toSeq)),
      "codes as-of the first batch must equal their rebuild")
    // s34 chunks (media payloads derived from documents, the s39 fixture)
    val mdir = tmp("s45_s34")
    val media = graft.operators.Multimodal.fixtureFromDocuments(spark, sf)
      .toDF().select("media_id", "payload")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val (m1, m2) = media.partition(_._1 % 2 == 0)
    StreamOps.s34UpsertChunkBatch(mdir)(
      m1.toSeq.toDF("media_id", "payload"), 0L)
    StreamOps.s34UpsertChunkBatch(mdir)(
      m2.toSeq.toDF("media_id", "payload"), 1L)
    def chunksOf(rows: Seq[(Long, Array[Byte])]) = {
      import org.apache.spark.sql.functions.min
      graft.operators.Multimodal
        .chunkTableOf(rows.toDF("media_id", "payload"))
        .select("h", "media_id", "nb").distinct()
        .groupBy("h").agg(min("media_id").as("owner"), min("nb").as("nb"))
    }
    assert(same(StreamOps.s34ChunkStore(spark, mdir, Some(0L)),
        chunksOf(m1.toSeq)),
      "the chunk store as-of the first batch must equal its rebuild")
    assert(same(StreamOps.s34ChunkStore(spark, mdir, Some(1L)),
        chunksOf(media.toSeq)),
      "the chunk store as-of the second batch must see both ingests")
  }

  test("r14 golden empty-fold: compacting/exporting a store whose every multi-member cluster dissolved serves EMPTY — retired elections never resurrect") {
    import spark.implicits._
    val dir = tmp("r14_gold_empty")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // two docs with identical text => exactly one multi-member cluster
    val txt = "duplicate corpus text shared by both documents"
    val pair = Seq((1L, txt, "en", "web", 47L), (2L, txt, "en", "api", 47L))
    StreamOps.s48UpsertGoldenBatch(dir)(pair.toDF(cols: _*), 0L)
    assert(StreamOps.s48Golden(spark, dir).count() === 1L)
    // retract one member: the only multi-member cluster dissolves; the
    // RETIRE row overrides the stale election
    StreamOps.s48DeleteGoldenBatch(dir)(Seq(2L).toDF("doc_id"), 1L)
    assert(StreamOps.s48Golden(spark, dir).count() === 0L)
    // the r13 bug: compaction's empty-fold path restamped the label-keyed
    // raw golden rows (stale election + its RETIRE override) to ONE batch
    // id — the latest-per-label fold tied and cluster_size >= 2 silently
    // resurrected the retired election (takedown leakage)
    StreamOps.s48CompactStore(spark, dir)
    assert(StreamOps.s48Golden(spark, dir).count() === 0L,
      "compaction must not resurrect a retired election")
    StreamOps.s46RequireHealthy(spark, dir, "golden")
    // a clone of the compacted store must serve empty too
    val clone = tmp("r14_gold_clone") + "/store"
    StreamOps.s49ExportStore(spark, dir, clone, "golden")
    assert(StreamOps.s48Golden(spark, clone).count() === 0L,
      "a clone of the all-retired store must not resurrect the election")
    StreamOps.s46RequireHealthy(spark, clone, "golden")
    // ... and so must a clone taken from the UNCOMPACTED state (retire
    // history still raw on disk — s49's own empty-fold path)
    val dir2 = tmp("r14_gold_empty2")
    StreamOps.s48UpsertGoldenBatch(dir2)(pair.toDF(cols: _*), 0L)
    StreamOps.s48DeleteGoldenBatch(dir2)(Seq(2L).toDF("doc_id"), 1L)
    val clone2 = tmp("r14_gold_clone2") + "/store"
    StreamOps.s49ExportStore(spark, dir2, clone2, "golden")
    assert(StreamOps.s48Golden(spark, clone2).count() === 0L,
      "an uncompacted-source clone must not resurrect the election")
    // increments continue on the compacted original: re-admission
    // re-forms the cluster and re-elects
    StreamOps.s48UpsertGoldenBatch(dir)(
      Seq((2L, txt, "en", "api", 47L)).toDF(cols: _*), 2L)
    assert(StreamOps.s48Golden(spark, dir).count() === 1L,
      "post-compaction re-admission must re-elect")
    StreamOps.s46RequireHealthy(spark, dir, "golden")
  }

  test("r14 serve-during-compaction: every scripted step serves one whole generation (old or new, never a mix, never PATH_NOT_FOUND); a crash at any step resumes") {
    import spark.implicits._
    val dir = tmp("r14_flip")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .limit(40).collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3), r.getLong(4)))
    val (h1, h2) = docs.partition(_._1 % 2 == 0)
    StreamOps.s48UpsertGoldenBatch(dir)(h1.toSeq.toDF(cols: _*), 0L)
    StreamOps.s48UpsertGoldenBatch(dir)(h2.toSeq.toDF(cols: _*), 1L)
    val dels = docs.map(_._1).filter(_ % 5 == 1).toSeq
    assert(dels.nonEmpty)
    StreamOps.s48DeleteGoldenBatch(dir)(dels.toDF("doc_id"), 2L)
    // snapshot every served view (and an as-of view) BEFORE compacting:
    // compaction preserves served content, so at every step each view
    // must equal this snapshot exactly — a mixed generation or a missing
    // dir would show as a diff or a thrown PATH_NOT_FOUND
    def views(asOf: Option[Long]): Seq[(String, () => Seq[String])] = Seq(
      "golden" -> (() => StreamOps.s48Golden(spark, dir, asOf)
        .collect().map(_.toString).sorted.toSeq),
      "clusters" -> (() => StreamOps.s43Clusters(spark, dir, asOf)
        .collect().map(_.toString).sorted.toSeq),
      "hashidx" -> (() => StreamOps.s32HashIndex(spark, dir, asOf)
        .collect().map(_.toString).sorted.toSeq),
      "bands" -> (() => StreamOps.s32BandIndex(spark, dir, asOf)
        .collect().map(_.toString).sorted.toSeq),
      "attrs" -> (() => StreamOps.s48DocAttrs(spark, dir, asOf)
        .collect().map(_.toString).sorted.toSeq))
    val want = views(None).map { case (n, f) => n -> f() }
    val wantAsOf1 = views(Some(1L)).map { case (n, f) => n -> f() }
    val steps = scala.collection.mutable.ArrayBuffer[String]()
    def checkAll(step: String): Unit = {
      views(None).zip(want).foreach { case ((n, f), (_, w)) =>
        assert(f() === w, s"served view '$n' diverged at step '$step'")
      }
      views(Some(1L)).zip(wantAsOf1).foreach { case ((n, f), (_, w)) =>
        assert(f() === w, s"as-of view '$n' diverged at step '$step'")
      }
      steps += step
    }
    StreamOps.compactStore(spark, dir,
      StreamOps.familyTables(spark, dir, "golden"), "doc_id",
      onStep = checkAll)
    assert(steps.toSeq.take(2) === Seq("staged", "flipped"))
    assert(steps.exists(_.startsWith("swap:")), s"steps: $steps")
    assert(steps.last === "stamped")
    checkAll("done")
    assert(StreamOps.readCompactionStamp(spark, dir) === Some(2L))
    // CRASH at the flip point (pointer published, swap not started):
    // served views stay whole, writers/exports refuse loudly, and the
    // family's CompactStore entry point RESUMES the swap
    StreamOps.s48UpsertGoldenBatch(dir)(
      h1.take(3).map(d => (d._1, d._2 + " revised", d._3, d._4, d._5))
        .toSeq.toDF(cols: _*), 3L)
    val want2 = views(None).map { case (n, f) => n -> f() }
    def check2(step: String): Unit =
      views(None).zip(want2).foreach { case ((n, f), (_, w)) =>
        assert(f() === w, s"served view '$n' diverged at step '$step'")
      }
    val boom = intercept[RuntimeException] {
      StreamOps.compactStore(spark, dir,
        StreamOps.familyTables(spark, dir, "golden"), "doc_id",
        onStep = s => if (s == "flipped") throw new RuntimeException("crash")
                      else ())
    }
    assert(boom.getMessage === "crash")
    check2("crashed-at-flip")
    val refused = intercept[IllegalArgumentException] {
      StreamOps.s48UpsertGoldenBatch(dir)(
        h2.take(1).toSeq.toDF(cols: _*), 4L)
    }
    assert(refused.getMessage.contains("in-flight compaction flip"))
    val refusedExport = intercept[IllegalArgumentException] {
      StreamOps.s49ExportStore(spark, dir,
        tmp("r14_flip_noexport") + "/s", "golden")
    }
    assert(refusedExport.getMessage.contains("in-flight compaction flip"))
    StreamOps.s48CompactStore(spark, dir) // resumes the in-flight flip
    check2("resumed")
    assert(StreamOps.readCompactionStamp(spark, dir) === Some(3L))
    StreamOps.s46RequireHealthy(spark, dir, "golden")
    // CRASH mid-swap (between two tables): same contract
    StreamOps.s48UpsertGoldenBatch(dir)(
      h2.take(4).map(d => (d._1, d._2 + " v3", d._3, d._4, d._5))
        .toSeq.toDF(cols: _*), 4L)
    val want3 = views(None).map { case (n, f) => n -> f() }
    def check3(step: String): Unit =
      views(None).zip(want3).foreach { case ((n, f), (_, w)) =>
        assert(f() === w, s"served view '$n' diverged at step '$step'")
      }
    var swaps = 0
    intercept[RuntimeException] {
      StreamOps.compactStore(spark, dir,
        StreamOps.familyTables(spark, dir, "golden"), "doc_id",
        onStep = s => {
          if (s.startsWith("swap:")) {
            swaps += 1
            check3(s)
            if (swaps == 2) throw new RuntimeException("crash2")
          }
        })
    }
    check3("crashed-mid-swap")
    StreamOps.s48CompactStore(spark, dir)
    check3("resumed-mid-swap")
    assert(StreamOps.readCompactionStamp(spark, dir) === Some(4L))
    StreamOps.s46RequireHealthy(spark, dir, "golden")
    // post-compaction increments still work (the fence re-armed)
    StreamOps.s48UpsertGoldenBatch(dir)(
      h1.take(1).toSeq.toDF(cols: _*), 5L)
    StreamOps.s46RequireHealthy(spark, dir, "golden")
  }

  test("r14 s50 audit: a tombstone-only batch followed by compaction reads committed, not 'ahead'") {
    import spark.implicits._
    val hdir = tmp("r14_s50_hash")
    val mdir = tmp("r14_s50_manifest") + "/manifest"
    val stores = Map("hash" -> hdir)
    val docs0 = Seq((1L, "tombstone only doc one"), (2L, "surviving doc two"))
      .toDF("doc_id", "text")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
    StreamOps.s50IngestAll(docs0, noVecs, noMedia, stores, mdir, 0L,
      noVecs, noVecs)
    StreamOps.s50RequireCoordinated(spark, mdir, stores)
    // an UNCOORDINATED tombstone-only batch (the p14 takedown shape) ...
    StreamOps.s32DeleteBatch(hdir)(Seq(1L).toDF("doc_id"), 1L)
    // ... followed by compaction: the primary table restamps to the max
    // batch across ALL tables including 'deleted' — the stamp bounds that
    // restamp, so the audit must read committed (r13 ADVICE: the old
    // compare said 'ahead' and prescribed replaying a non-ingest batch)
    StreamOps.s32CompactStore(spark, hdir)
    val audit = StreamOps.s50CoordinationAudit(spark, mdir, stores).collect()
    assert(audit.length === 1)
    assert(audit.head.getString(4) === "committed",
      s"tombstone-only + compaction must read committed, got ${audit.head}")
    StreamOps.s50RequireCoordinated(spark, mdir, stores)
    // a genuinely-ahead store (ingest landed, manifest never acked) still
    // reads ahead — the fix must not blind the audit
    StreamOps.s32UpsertIndexBatch(hdir)(
      Seq((3L, "unacked ingest doc")).toDF("doc_id", "text"), 2L)
    val audit2 = StreamOps.s50CoordinationAudit(spark, mdir, stores).collect()
    assert(audit2.head.getString(4) === "ahead",
      s"an unacknowledged ingest must still read ahead, got ${audit2.head}")
  }

  test("r14 coordinated-ingest lease: a second writer refuses loudly before touching any store; a crashed writer's lease breaks loudly; concurrent writers serialize") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val hdir = tmp("r14_lease_hash")
    val mdir = tmp("r14_lease_manifest") + "/manifest"
    val stores = Map("hash" -> hdir)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
    def ingest(docs: Seq[(Long, String)], batch: Long, writer: String): Unit =
      StreamOps.s50IngestAll(docs.toDF("doc_id", "text"), noVecs, noMedia,
        stores, mdir, batch, noVecs, noVecs, writerId = writer)
    ingest(Seq((1L, "first doc")), 0L, "writer-a")
    StreamOps.s50RequireCoordinated(spark, mdir, stores)
    // writer A holds the lease (simulating mid-ingest): writer B must
    // refuse LOUDLY naming the holder, and NO store may have been touched
    StreamOps.s50AcquireLease(spark, mdir, "writer-a batch=1")
    val before = StreamOps.s32HashIndex(spark, hdir).count()
    val refused = intercept[IllegalStateException] {
      ingest(Seq((2L, "second doc")), 1L, "writer-b")
    }
    assert(refused.getMessage.contains("writer-a"))
    assert(refused.getMessage.contains("s50BreakLease"))
    assert(StreamOps.s32HashIndex(spark, hdir).count() === before,
      "a refused writer must not have touched any store")
    // the crashed-writer takeover: break returns the evicted holder;
    // breaking a non-existent lease is loud too
    val evicted = StreamOps.s50BreakLease(spark, mdir)
    assert(evicted.contains("writer-a"))
    intercept[IllegalArgumentException] {
      StreamOps.s50BreakLease(spark, mdir)
    }
    ingest(Seq((2L, "second doc")), 1L, "writer-b")
    StreamOps.s50RequireCoordinated(spark, mdir, stores)
    // a genuine two-writer race: at most one may hold the lease at a
    // time, so either one refuses (replayed serially after) or they ran
    // serially — every outcome ends coordinated, never interleaved
    val attempts = Seq(
      Future(scala.util.Try(ingest(Seq((3L, "race doc a")), 2L, "race-a"))),
      Future(scala.util.Try(ingest(Seq((4L, "race doc b")), 3L, "race-b"))))
    val results = Await.result(Future.sequence(attempts), 5.minutes)
    val failures = results.collect { case scala.util.Failure(e) => e }
    assert(results.size - failures.size >= 1, "at least one writer commits")
    failures.foreach { e =>
      // a loser fails LOUDLY at one of the two fences: the lease (caught
      // mid-hold) or the monotone-id fence (the other writer's higher id
      // landed first) — never silently interleaves
      assert((e.isInstanceOf[IllegalStateException] &&
          e.getMessage.contains("lease")) ||
        (e.isInstanceOf[IllegalArgumentException] &&
          e.getMessage.contains("monotone")),
        s"a losing writer must fail loudly at a fence, got: $e")
    }
    // replay any refused doc serially at the next admissible id — the
    // audit must end committed
    if (failures.nonEmpty) {
      val got = StreamOps.s32HashIndex(spark, hdir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      if (!got.contains(3L)) ingest(Seq((3L, "race doc a")), 4L, "race-a")
      if (!got.contains(4L)) ingest(Seq((4L, "race doc b")), 5L, "race-b")
    }
    StreamOps.s50RequireCoordinated(spark, mdir, stores)
    assert(StreamOps.s32HashIndex(spark, hdir).count() === 4L)
  }

  test("r14 restore drill: a corrupted live store refuses export; the last healthy s49 clone restores as live root, increments equal the rebuild, and clone as-of below its stamp stays loud") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val Sim = graft.queries.Similarity
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val dir = tmp("r14_drill_live")
    val cloneA = tmp("r14_drill_backup") + "/store"
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val cents = Sim.ivfCentroids(spark, sf).localCheckpoint()
    val thirds = vecs.groupBy(_._1 % 3)
    StreamOps.s36UpsertGraphBatch(cents, dir)(
      thirds(0L).toSeq.toDF("vec_id", "embedding"), 0L)
    StreamOps.s36UpsertGraphBatch(cents, dir)(
      thirds(1L).toSeq.toDF("vec_id", "embedding"), 1L)
    // routine backup while healthy (the export verb fscks the source)
    StreamOps.s49ExportStore(spark, dir, cloneA, "graph")
    // live ingest continues past the backup point
    StreamOps.s36UpsertGraphBatch(cents, dir)(
      thirds(2L).toSeq.toDF("vec_id", "embedding"), 2L)
    // INCIDENT: a bogus edge run lands (s44's own plant — dst never
    // ingested) at a fresh batch id, so latest-per-src serves it
    Seq((999999L, 999998L, 0.5)).toDF("src", "dst", "cos")
      .withColumn("batch_id", lit(3L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$dir/edges")
    spark.catalog.refreshByPath(s"$dir/edges")
    intercept[IllegalArgumentException] {
      StreamOps.s44RequireHealthy(spark, dir)
    }
    // a backup of a corrupt store is a corrupt backup: export REFUSES
    val refuse = intercept[IllegalArgumentException] {
      StreamOps.s49ExportStore(spark, dir,
        tmp("r14_drill_bad") + "/store", "graph")
    }
    assert(refuse.getMessage.contains("failed fsck"))
    // RESTORE: the last healthy clone becomes the live root; replay the
    // ingest the backup missed (batch 2 — past the clone's carried stamp,
    // so the s41 fence admits it)
    StreamOps.s36UpsertGraphBatch(cents, cloneA)(
      thirds(2L).toSeq.toDF("vec_id", "embedding"), 2L)
    StreamOps.s44RequireHealthy(spark, cloneA)
    def rebuilt(rows: Seq[(Long, Array[Float])]) = Sim.symmetrize(
      Sim.directedTopKOf(
        Sim.prepareVectors(rows.toDF("vec_id", "embedding"))
          .select("vec_id", "q", "nrm"), cents))
    assert(same(StreamOps.s36Adjacency(spark, cloneA), rebuilt(vecs.toSeq)),
      "restored clone + replayed increments must equal the full rebuild")
    // the full lifecycle continues on the restored root
    val dels = vecs.map(_._1).filter(_ % 5 == 1).toSeq
    StreamOps.s36DeleteBatch(cloneA)(dels.toDF("vec_id"), 3L)
    StreamOps.s44RequireHealthy(spark, cloneA)
    assert(same(StreamOps.s36Adjacency(spark, cloneA),
        rebuilt(vecs.filterNot(v => dels.contains(v._1)).toSeq)),
      "post-restore deletes must equal the rebuild on the live corpus")
    // history is deliberately absent on clones: as-of below the carried
    // stamp fails loudly instead of silently serving a wrong prefix
    val asOfBoom = intercept[IllegalArgumentException] {
      StreamOps.s36Adjacency(spark, cloneA, Some(0L))
    }
    assert(asOfBoom.getMessage.contains("no retained generation"))
  }

  test("s51 maintained prefix-filter index: incremental upsert/delete/re-admit/compact equals the d15 rebuild at every step; fsck holds") {
    import spark.implicits._
    val Dd = graft.queries.Dedup
    val dir = tmp("s51_prefix")
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    def check(liveRows: Seq[(Long, String)], msg: String): Unit = {
      // the oracle is d15's OWN batch machinery over the live corpus —
      // fresh df order and all; pair rows are order-independent facts
      val want = Dd.d15PairsOver(liveRows.toDF("doc_id", "text"))
      assert(same(StreamOps.s51Pairs(spark, dir), want), msg)
      StreamOps.s46RequireHealthy(spark, dir, "prefix")
    }
    // freeze the order on the FULL fixture corpus, then ingest in thirds
    StreamOps.s51InitStore(spark, dir, docs.toSeq.toDF("doc_id", "text"))
    intercept[IllegalArgumentException] {
      StreamOps.s51InitStore(spark, dir, docs.toSeq.toDF("doc_id", "text"))
    }
    val thirds = docs.groupBy(_._1 % 3)
    StreamOps.s51UpsertBatch(dir)(thirds(0L).toSeq.toDF("doc_id", "text"), 1L)
    check(thirds(0L).toSeq, "first increment must equal the d15 rebuild")
    StreamOps.s51UpsertBatch(dir)(thirds(1L).toSeq.toDF("doc_id", "text"), 2L)
    val after01 = (thirds(0L) ++ thirds(1L)).toSeq
    check(after01, "cross-batch pairs (delta x old) must equal the rebuild")
    // replayed upsert is a fixpoint
    StreamOps.s51UpsertBatch(dir)(thirds(1L).toSeq.toDF("doc_id", "text"), 2L)
    check(after01, "a replayed upsert must serve the same pairs")
    // retraction: pairs touching a dead doc retire; everything else stays
    val dels = after01.map(_._1).filter(_ % 7 == 3)
    assert(dels.nonEmpty)
    StreamOps.s51DeleteBatch(dir)(dels.toDF("doc_id"), 3L)
    val live3 = after01.filterNot(d => dels.contains(d._1))
    check(live3, "post-delete pairs must equal the rebuild on the live corpus")
    // as-of the pre-delete batch still serves yesterday's pairs
    assert(same(StreamOps.s51Pairs(spark, dir, Some(2L)),
      Dd.d15PairsOver(after01.toDF("doc_id", "text"))),
      "pairs as-of the pre-delete batch must serve the pre-delete view")
    // compaction folds every table (incl. the frozen order) to one base
    StreamOps.s51CompactStore(spark, dir)
    check(live3, "compaction must not change the served pairs")
    Seq("toks", "prefix", "order").foreach { t =>
      assert(spark.read.parquet(s"$dir/$t")
        .select("batch_id").distinct().count() === 1,
        s"compaction must fold $t to one run")
    }
    // post-compaction increments + RE-ADMISSION with changed text: the
    // re-admitted doc pairs by its NEW shingles; its pre-delete pairs
    // stay retired
    StreamOps.s51UpsertBatch(dir)(thirds(2L).toSeq.toDF("doc_id", "text"), 4L)
    check(live3 ++ thirds(2L), "post-compaction increments must equal the rebuild")
    val victim = docs.find(d => dels.contains(d._1)).get
    val twin = docs.find(d => d._1 != victim._1 && !dels.contains(d._1)).get
    val corrected = (victim._1, twin._2 + " re-admitted")
    StreamOps.s51UpsertBatch(dir)(Seq(corrected).toDF("doc_id", "text"), 5L)
    check((live3 ++ thirds(2L)) :+ corrected,
      "a re-admitted doc must pair by its NEW text only")
    // as-of BELOW the compaction stamp resolves through the retained
    // generation (s45's retention contract holds for the new family too)
    assert(same(StreamOps.s51Pairs(spark, dir, Some(2L)),
      Dd.d15PairsOver(after01.toDF("doc_id", "text"))),
      "s51 as-of below the stamp must resolve through the retained generation")
  }

  test("r14 crashed-generation detector: a fully-restored gen_N is pruned and compaction proceeds; an unrestored one stays loud") {
    import spark.implicits._
    val dir = tmp("r14_gen_detect")
    StreamOps.s32UpsertIndexBatch(dir)(
      Seq((1L, "doc one text"), (2L, "doc two text")).toDF("doc_id", "text"), 0L)
    StreamOps.s32UpsertIndexBatch(dir)(
      Seq((3L, "doc three text")).toDF("doc_id", "text"), 1L)
    // plant a generation NEWER than the (absent) stamp holding a table
    // dir — the unrestored-crash state: compaction must refuse loudly
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_history/gen_99/hash56"))
    val boom = intercept[IllegalArgumentException] {
      StreamOps.s32CompactStore(spark, dir)
    }
    assert(boom.getMessage.contains("crashed mid-archive"))
    // after the prescribed restore (table dirs renamed back → gen emptied)
    // compaction proceeds and prunes the emptied generation itself
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_history/gen_99/hash56"), true)
    StreamOps.s32CompactStore(spark, dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_history/gen_99")),
      "the emptied generation must be pruned")
    assert(StreamOps.readCompactionStamp(spark, dir) === Some(1L))
    assert(StreamOps.s32HashIndex(spark, dir).count() === 3L)
  }

  test("unknown store family: every family-dispatching verb refuses with the registry's one message, and s50 releases its lease") {
    import spark.implicits._
    val dir = tmp("unknown_family")
    val mdir = tmp("unknown_family_manifest") + "/manifest"
    val docs = Seq((1L, "a doc", "en", "src", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "payload")
    val verbs: Seq[(String, () => Unit)] = Seq(
      "s46RequireHealthy" -> (() => StreamOps.s46RequireHealthy(spark, dir, "nope")),
      "s47StoreStats" -> (() => { StreamOps.s47StoreStats(spark, dir, "nope"); () }),
      "s49ExportStore" -> (() => StreamOps.s49ExportStore(spark, dir,
        tmp("unknown_family_clone") + "/clone", "nope")),
      "p14TakedownExecute" -> (() => {
        StreamOps.p14TakedownExecute(Seq(1L).toDF("doc_id"), Map("nope" -> dir)); () }),
      "s50IngestAll" -> (() => StreamOps.s50IngestAll(docs, noVecs, noMedia,
        Map("nope" -> dir), mdir, 0L, cents = noVecs, cbook = noVecs)))
    verbs.foreach { case (verb, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage === "unknown store family 'nope' " +
        "(hash|chunk|assign|code|cluster|golden|graph|prefix)", verb)
    }
    // the refused coordinated ingest released its writer lease: the next
    // writer acquires it (and breaking it returns that writer's line)
    StreamOps.s50AcquireLease(spark, mdir, "next-writer")
    assert(StreamOps.s50BreakLease(spark, mdir).startsWith("next-writer"))
  }
}
