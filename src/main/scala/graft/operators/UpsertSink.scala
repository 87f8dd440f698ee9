package graft.operators

import java.util.Properties

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** s17: streaming KEY-COMPACTION upsert sink — the "latest state by key"
  * materialized view of a CDC/update stream (the sink-side twin of q91's
  * CDC apply and q110's batch MERGE).
  *
  * Idempotence model: unlike the append sink (FraudSink), an upsert is
  * idempotent BY KEY — replaying a micro-batch converges to the same final
  * state, so no batch ledger is needed (contrast
  * [[FraudSink.appendBatchIdempotent]]'s two-phase claim, which exists
  * precisely because append is NOT idempotent). The within-batch
  * compaction (max_by over the event time) makes replay safe even when a
  * batch carries several updates for one key.
  *
  * Dialect: the row upsert is the portable UPDATE-else-INSERT inside one
  * transaction per partition (embedded Derby, which ships in Spark's jars,
  * has no INSERT .. ON CONFLICT and its MERGE cannot read a VALUES
  * source). On Postgres the same loop becomes a single
  * `INSERT ... ON CONFLICT (k) DO UPDATE` batch — see [[postgresUpsertSql]],
  * kept in-repo as the dialect-drift guard twin, same discipline as
  * FraudSink's postgresDdl.
  *
  * Scale: the groupBy compaction is a partial-agg shuffle on the key (the
  * stream's natural partitioning); each partition then writes its disjoint
  * key set in one transaction — executor-parallel, no cross-partition key
  * collisions because the groupBy made keys unique.
  */
object UpsertSink {

  def derbyDdl(table: String): String =
    s"CREATE TABLE $table (k BIGINT PRIMARY KEY, v DOUBLE, updated_ts TIMESTAMP)"

  /** Postgres spelling of the same sink (not executable in this sandbox). */
  def postgresDdl(table: String): String =
    s"CREATE TABLE IF NOT EXISTS $table (k BIGINT PRIMARY KEY, v DOUBLE PRECISION, updated_ts TIMESTAMP)"

  def postgresUpsertSql(table: String): String =
    s"""INSERT INTO $table (k, v, updated_ts) VALUES (?, ?, ?)
       |ON CONFLICT (k) DO UPDATE SET v = EXCLUDED.v, updated_ts = EXCLUDED.updated_ts""".stripMargin

  /** Upsert one compacted micro-batch. Expects columns (k, v, ts). It runs
    * [[FraudSink.inTransaction]] with an UPDATE-else-INSERT body: an empty
    * batch needs no emptiness job, opens no connection and creates no table
    * (A9), and each partition ensures the table first (A10).
    */
  def upsertBatch(url: String, props: Properties, table: String,
                  createSql: String)(batch: DataFrame, batchId: Long): Unit = {
    // last-wins compaction within the batch: one row per key, ordered by
    // (ts, v) so replays are deterministic even on event-time ties
    val latest = batch
      .groupBy("k")
      .agg(max_by(struct(col("v"), col("ts")), struct(col("ts"), col("v"))).as("b"))
      .select(col("k"), col("b.v").as("v"), col("b.ts").as("ts"))
    FraudSink.inTransaction(latest, 4, url, props, Some(createSql)) { (conn, rows) =>
      val upd = conn.prepareStatement(
        s"UPDATE $table SET v = ?, updated_ts = ? WHERE k = ?")
      val ins = conn.prepareStatement(
        s"INSERT INTO $table (k, v, updated_ts) VALUES (?, ?, ?)")
      rows.foreach { r =>
        upd.setDouble(1, r.getDouble(1))
        upd.setTimestamp(2, r.getTimestamp(2))
        upd.setLong(3, r.getLong(0))
        if (upd.executeUpdate() == 0) {
          ins.setLong(1, r.getLong(0))
          ins.setDouble(2, r.getDouble(1))
          ins.setTimestamp(3, r.getTimestamp(2))
          ins.executeUpdate()
        }
      }
    }
  }
}
