package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A13: the reference's error-handling → status contract
  * (`Lambda Function/lambda_function_aws.py:106-113`, zip variant
  * `:125-132`): the whole pipeline runs inside try/except and returns a
  * `{statusCode, body}` envelope — 200 + "No fraud transactions found." on
  * the empty branch, 200 + "<n> fraud transactions processed and stored in
  * RDS!" on success, 500 + str(e) on any failure.
  */
final case class EtlStatus(statusCode: Int, body: String)

object EtlStatus {

  /** Batch entry point mirroring lambda_handler's envelope, reading the
    * input once, like the reference's single in-memory frame.
    *
    * The fraud set is persisted on the executors (MEMORY_AND_DISK; nothing
    * is collected to the driver) and counted with one RDD action over its
    * executed plan. That is one shuffle-free job, where `Dataset.count()`
    * is an aggregate and costs two under AQE, and it fills the cache, so
    * the sink's write reads the materialised fraud rows, not the CSV. The
    * count is the reference's `len(fraud_transactions)`. The empty branch
    * returns BEFORE the sink runs, exactly like the reference skips its DB
    * connection (A9). The cache is released on every path: success, empty
    * branch and failure.
    */
  def run(spark: SparkSession, inDir: String)(sink: DataFrame => Unit): EtlStatus =
    try {
      val fraud = FraudPipeline(FraudPipeline.readCsv(spark, inDir)).persist()
      try {
        val n = fraud.queryExecution.toRdd.count()
        if (n == 0) EtlStatus(200, "No fraud transactions found.")
        else {
          sink(fraud)
          EtlStatus(200, s"$n fraud transactions processed and stored in RDS!")
        }
      } finally fraud.unpersist()
    } catch {
      case e: Throwable => EtlStatus(500, String.valueOf(e))
    }

  /** Streaming counterpart: a listener that folds query termination into
    * the same envelope (a query that dies with an exception is the
    * streaming analogue of the reference's except branch). Register via
    * `spark.streams.addListener`, read `status` after `awaitTermination`.
    */
  final class StatusListener extends StreamingQueryListener {
    @volatile private var result: Option[EtlStatus] = None
    def status: Option[EtlStatus] = result

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      result = Some(e.exception match {
        case Some(err) => EtlStatus(500, err)
        case None      => EtlStatus(200, "stream completed")
      })
  }
}
