package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import graft.operators.{FraudPipeline, FraudSink}
import graft.streaming.StreamOps

/** `etl_stream`: an open loop. Files are moved atomically into a watched
  * directory on a fixed schedule; the query is the one `s01FraudStreamJdbc`
  * builds (`fraudFileSource` → `FraudPipeline` → `FraudSink.appendBatch`)
  * under a processing-time trigger. A file's latency runs from the time it
  * was due to be dropped to the end of its batch's sink commit.
  */
object EtlStream {

  def run(ctx: Ctx): OpStats = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val c = ctx.cfg
    val rate = c.get("files_per_s").asDouble
    val warmN = c.get("warmup_files").asInt
    val paced = math.ceil(ctx.seconds * rate).toInt
    val staging = ctx.work.resolve("stream_staging")
    val in = Files.createDirectories(ctx.work.resolve("stream_in"))
    val ckpt = ctx.work.resolve("stream_ckpt")
    val files = Gen.files(staging, ctx.seed, warmN + paced, GenSpec(ctx.cfg))
    val sink = new Derby(ctx.work.resolve("derby_stream"))

    // foreachBatch body: the program's appendBatch, timed, with the time its
    // batch's commit ended.
    val commitNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val appendMs = new ConcurrentHashMap[Long, java.lang.Double]()
    val body: (DataFrame, Long) => Unit = (df, id) => {
      val t0 = System.nanoTime()
      FraudSink.appendBatch(sink.url, sink.table, sink.props, sink.ddl)(df, id)
      val t1 = System.nanoTime()
      tr.add("FraudSink.appendBatch", t0, t1, id.toInt)
      appendMs.put(id, (t1 - t0) / 1e6)
      commitNs.put(id, t1)
    }
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    val dropMs = new Array[Long](files.size)
    def drop(f: GenFile): Unit = {
      val name = f.path.getFileName
      Files.move(f.path, in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      dropMs(f.index) = System.currentTimeMillis()
    }
    def awaitCommits(n: Int, timeoutS: Double): Unit = {
      val until = System.nanoTime() + (timeoutS * 1e9).toLong
      while (commitNs.size < n && System.nanoTime() < until) Thread.sleep(5)
    }

    val query = FraudPipeline(StreamOps.fraudFileSource(spark, in.toString))
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch(body)
      .trigger(Trigger.ProcessingTime(c.get("trigger_ms").asLong))
      .start()
    val dueNs = new Array[Long](paced)
    val lateMs = new Array[Double](paced)
    var before = new Counts
    try {
      // Warm-up burst, committed before the paced phase starts: the first
      // files otherwise queue behind the stream's cold start.
      files.take(warmN).foreach(drop)
      awaitCommits(warmN, 120)
      ctx.drain()
      before = ctx.sched.total()
      ctx.timedStart()
      val t0 = System.nanoTime() + 20000000L
      for (k <- 0 until paced) {
        dueNs(k) = t0 + (k * 1e9 / rate).toLong
        val wait = dueNs(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        drop(files(warmN + k))
        lateMs(k) = (System.nanoTime() - dueNs(k)) / 1e6
      }
      awaitCommits(warmN + paced, 60)
      ctx.timedEnd()
    } finally {
      query.stop()
      spark.streams.removeListener(listener)
    }
    query.exception.foreach(e => ctx.fail(s"stream failed: $e"))
    ctx.drain()

    // Which batch read which file, from the checkpoint's source log (plain
    // and compacted entries; the set removes the repeats compaction makes).
    val mapper = new ObjectMapper()
    val batchesOf = mutable.HashMap.empty[String, mutable.Set[Long]]
    val logDir = ckpt.resolve("sources/0")
    val logFiles = Files.list(logDir)
    try logFiles.iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("."))
      .foreach { p =>
        Files.readAllLines(p).asScala.drop(1).filter(_.nonEmpty).foreach { line =>
          val e = mapper.readTree(line)
          val name = Paths.get(new java.net.URI(e.get("path").asText)).getFileName.toString
          batchesOf.getOrElseUpdate(name, mutable.Set.empty) += e.get("batchId").asLong
        }
      }
    finally logFiles.close()

    // Checks: every dropped file read by exactly one committed batch, and
    // exactly its fraud rows in the sink (rows carry their file's prefix).
    val committed = sink.countsByFile()
    sink.close()
    val byPrefix = files.map(f => f.prefix -> f).toMap
    committed.keys.filterNot(byPrefix.contains).foreach(p => ctx.fail(s"unknown rows $p in sink"))
    val batchOf = mutable.HashMap.empty[Int, Long]
    for (f <- files) {
      ctx.attempted += 1
      val name = f.path.getFileName.toString
      val got = committed.getOrElse(f.prefix, 0L)
      batchesOf.get(name).map(_.toSeq) match {
        case Some(Seq(b)) if commitNs.containsKey(b) =>
          if (got != f.expectedFraud) ctx.fail(s"$name: committed $got rows, expected ${f.expectedFraud}")
          else batchOf(f.index) = b
        case other => ctx.fail(s"$name: read by batches $other, committed ${other.exists(_.forall(commitNs.containsKey))}")
      }
    }

    val pacedFiles = files.drop(warmN).filter(f => batchOf.contains(f.index))
    val lat = pacedFiles.map(f => (commitNs.get(batchOf(f.index)) - dueNs(f.index - warmN)) / 1e6)
    val progressOf = progress.asScala.map(p => p.batchId -> p).toMap
    val pacedBatches = pacedFiles.map(f => batchOf(f.index)).distinct
    def dur(b: Long, k: String): Double =
      progressOf.get(b).flatMap(p => Option(p.durationMs.get(k))).map(_.doubleValue).getOrElse(0.0)
    val busyMs = pacedBatches.map(dur(_, "triggerExecution")).sum
    val work = ctx.sched.total().since(before)

    if (tr.enabled) {
      pacedBatches.filter(progressOf.contains).foreach { b =>
        val endNs = commitNs.get(b).longValue
        tr.add("StreamOps.trigger", endNs - (dur(b, "triggerExecution") * 1e6).toLong, endNs, b.toInt)
      }
      val startMs = pacedBatches.map(b =>
        b -> progressOf.get(b).map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).getOrElse(0L)).toMap
      val backlog = pacedBatches.map { b =>
        files.count(f => dropMs(f.index) > 0 && dropMs(f.index) <= startMs(b) &&
          batchOf.get(f.index).forall(_ >= b))
      }
      Layers.scheduler(ctx, work, pacedFiles.size, busyMs)
      val rows = pacedFiles.map(_.expectedFraud).sum.toDouble
      val appendSum = pacedBatches.flatMap(b => Option(appendMs.get(b))).map(_.doubleValue).sum
      ctx.layer ++= Seq(
        "StreamOps.latest_offset_ms" -> Main.median(pacedBatches.map(dur(_, "latestOffset"))),
        "StreamOps.query_planning_ms" -> Main.median(pacedBatches.map(dur(_, "queryPlanning"))),
        "StreamOps.add_batch_ms" -> Main.median(pacedBatches.map(dur(_, "addBatch"))),
        "StreamOps.wal_commit_ms" -> Main.median(pacedBatches.map(dur(_, "walCommit"))),
        "StreamOps.trigger_ms" -> Main.median(pacedBatches.map(dur(_, "triggerExecution"))),
        "StreamOps.queue_wait_ms" -> Main.median(pacedFiles.map(f =>
          (startMs(batchOf(f.index)) - dropMs(f.index)).toDouble)),
        "StreamOps.backlog_max_files" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
        "gen.late_ms" -> (if (lateMs.isEmpty) 0.0 else lateMs.max),
        "FraudSink.append_batch_ms" -> Main.median(
          pacedBatches.flatMap(b => Option(appendMs.get(b))).map(_.doubleValue)),
        "FraudSink.rows_committed" -> rows / math.max(pacedFiles.size, 1),
        "FraudSink.rows_per_s" -> (if (appendSum > 0) rows / (appendSum / 1e3) else 0.0))
    }
    OpStats(lat, busyMs / 1e3, work)
  }
}
