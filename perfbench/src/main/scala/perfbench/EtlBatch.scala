package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.{EtlStatus, FraudPipeline, FraudSink}

/** `etl_batch`: a closed loop with one client, one `EtlStatus.run` call per
  * file (one Lambda invocation in the reference), committing the fraud rows
  * into embedded Derby through `FraudSink.ensureTable` + `FraudSink.append`.
  */
object EtlBatch {

  def envelope(n: Int): EtlStatus =
    if (n == 0) EtlStatus(200, "No fraud transactions found.")
    else EtlStatus(200, s"$n fraud transactions processed and stored in RDS!")

  def run(ctx: Ctx): OpStats = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val pool = Gen.files(ctx.work.resolve("batch_in"), ctx.seed,
      ctx.cfg.get("files").asInt, GenSpec(ctx.cfg))
    val sink = new Derby(ctx.work.resolve("derby_batch"))

    // Sink closure handed to EtlStatus.run; the flags let the checks see
    // whether, and when, the pipeline entered it.
    var entered = false
    var callStart = 0L
    val preSink = mutable.ArrayBuffer.empty[Double]
    val ensureMs, appendMs = mutable.ArrayBuffer.empty[Double]
    val closure: DataFrame => Unit = df => {
      entered = true
      preSink += (System.nanoTime() - callStart) / 1e6
      val t0 = System.nanoTime()
      tr.span("FraudSink.ensureTable") { FraudSink.ensureTable(sink.url, sink.props, sink.ddl) }
      val t1 = System.nanoTime()
      tr.span("FraudSink.append") { FraudSink.append(df, sink.url, sink.table, sink.props) }
      ensureMs += (t1 - t0) / 1e6
      appendMs += (System.nanoTime() - t1) / 1e6
    }

    // Traced run only: each file again through the cumulative layer calls,
    // read → noop and read + filters → noop, with the observed stage counts.
    val observed = mutable.HashMap.empty[String, Long]
    if (tr.enabled) spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (k, row) => observed(k) = row.getLong(0) }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val scanMs, filterMs = mutable.ArrayBuffer.empty[Double]
    val rowsIn, rowsValid, rowsFlagged = mutable.ArrayBuffer.empty[Double]
    def layers(f: GenFile): Unit = ctx.tagged("layer") {
      val t0 = System.nanoTime()
      tr.span("FraudPipeline.scan") {
        FraudPipeline.readCsv(spark, f.path.toString).write.format("noop").mode("overwrite").save()
      }
      val t1 = System.nanoTime()
      observed.clear()
      tr.span("FraudPipeline.filter") {
        FraudPipeline.withObservedCounts(FraudPipeline.readCsv(spark, f.path.toString))
          .write.format("noop").mode("overwrite").save()
      }
      filterMs += (System.nanoTime() - t1) / 1e6
      scanMs += (t1 - t0) / 1e6
      ctx.drain()
      val got = Seq("fraud_input", "fraud_valid", "fraud_flagged").map(observed.getOrElse(_, -1L))
      val want = Seq(f.rows.toLong, f.validRows.toLong, f.expectedFraud.toLong)
      if (got != want) ctx.fail(s"${f.path.getFileName}: observed counts $got, expected $want")
      rowsIn += got(0); rowsValid += got(1); rowsFlagged += got(2)
    }

    /** One file through EtlStatus.run, checked; returns its latency in ms. */
    def one(f: GenFile, op: Int): Double = {
      ctx.attempted += 1
      entered = false
      val before = sink.count()
      tr.setRun(op)
      callStart = System.nanoTime()
      val st = ctx.tagged("file") {
        tr.span("EtlStatus.run") { EtlStatus.run(spark, f.path.toString)(closure) }
      }
      val ms = (System.nanoTime() - callStart) / 1e6
      val name = f.path.getFileName
      val committed = sink.count() - before
      if (st != envelope(f.expectedFraud)) ctx.fail(s"$name: $st, expected ${envelope(f.expectedFraud)}")
      else if (entered != (f.expectedFraud > 0)) ctx.fail(s"$name: sink entered = $entered")
      else if (committed != f.expectedFraud) ctx.fail(s"$name: committed $committed, expected ${f.expectedFraud}")
      if (tr.enabled && op >= 0) layers(f)
      ms
    }

    try {
      val warm = ctx.cfg.get("warmup_files").asInt
      for (i <- 0 until warm) one(pool(i % pool.size), -1 - i)
      ctx.drain()
      val before = ctx.sched.total(_ == "file")
      val nCalls = preSink.size
      val lat = mutable.ArrayBuffer.empty[Double]
      ctx.timedStart()
      val t0 = System.nanoTime()
      var i = 0
      while (System.nanoTime() - t0 < ctx.seconds * 1e9) {
        lat += one(pool((warm + i) % pool.size), i)
        i += 1
      }
      ctx.timedEnd()
      val busyMs = lat.sum
      ctx.drain()
      val c = ctx.sched.total(_ == "file").since(before)
      if (tr.enabled) {
        val files = (0 until i).map(k => pool((warm + k) % pool.size))
        Layers.scheduler(ctx, c, i, busyMs)
        val timedPreSink = preSink.drop(nCalls)
        val committed = files.map(_.expectedFraud).sum.toDouble
        ctx.layer ++= Seq(
          "EtlStatus.run_ms" -> Main.median(lat.toSeq),
          "EtlStatus.pre_sink_ms" -> Main.median(timedPreSink.toSeq),
          "EtlStatus.jobs_per_file" -> c.jobs.toDouble / i,
          "EtlStatus.scan_passes" -> c.inputBytes.toDouble / files.map(_.bytes).sum,
          "FraudPipeline.scan_ms" -> Main.median(scanMs.toSeq),
          "FraudPipeline.filter_ms" -> Main.median(filterMs.toSeq),
          "FraudPipeline.rows_in" -> Main.median(rowsIn.toSeq),
          "FraudPipeline.rows_valid" -> Main.median(rowsValid.toSeq),
          "FraudPipeline.rows_flagged" -> Main.median(rowsFlagged.toSeq),
          "FraudSink.ensure_table_ms" -> Main.median(ensureMs.drop(nCalls).toSeq),
          "FraudSink.append_ms" -> Main.median(appendMs.drop(nCalls).toSeq),
          "FraudSink.rows_committed" -> committed / i,
          "FraudSink.rows_per_s" -> {
            val s = appendMs.drop(nCalls).sum
            if (s > 0) committed / (s / 1e3) else 0.0
          })
      }
      OpStats(lat.toSeq, busyMs / 1e3, c)
    } finally sink.close()
  }
}

/** The embedded-Derby sink database: on disk, Derby's default durability
  * (the log is synced at every commit), plus one connection of the
  * benchmark's own for the committed-row checks.
  */
final class Derby(dir: java.nio.file.Path) {
  val url = s"jdbc:derby:$dir;create=true"
  val props = new Properties()
  val table = "fraud_transactions"
  val ddl: String = FraudSink.derbyDdl(table)
  private val conn = java.sql.DriverManager.getConnection(url, props)

  /** Rows committed so far (0 before the first file creates the table). */
  def count(): Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } catch {
      case e: java.sql.SQLException if e.getSQLState == "42X05" => 0L // no table yet
    } finally st.close()
  }

  /** Committed rows per `nameOrig` file prefix ([[GenFile.prefix]]). */
  def countsByFile(): Map[String, Long] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(
        s"SELECT SUBSTR(nameOrig, 1, 7), COUNT(*) FROM $table GROUP BY SUBSTR(nameOrig, 1, 7)")
      val m = Map.newBuilder[String, Long]
      while (rs.next()) m += rs.getString(1) -> rs.getLong(2)
      m.result()
    } catch {
      case e: java.sql.SQLException if e.getSQLState == "42X05" => Map.empty
    } finally st.close()
  }

  def close(): Unit = conn.close()
}
