package graft.operators

import java.sql.{Connection, DriverManager, SQLException, Types}
import java.util.Properties
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** The reference's sink contract (SURVEY §2 A9–A12), Spark-first.
  *
  * Reference behavior (`Lambda Function/lambda_function_aws.py`):
  *  - A9 `py:55-60`: a file with no fraud rows never opens the DB.
  *  - A10 `py:70-87`: `CREATE TABLE IF NOT EXISTS fraud_transactions
  *    (id SERIAL PRIMARY KEY, … 11 cols)` executed every invocation.
  *  - A11 `py:96`: rows pivoted to positional tuples.
  *  - A12 `py:90-99`: batched `INSERT` + one commit per file;
  *    at-least-once across retries (no idempotence key).
  *
  * Spark design:
  *  - One executor-side `foreachPartition` pass does all of it. A
  *    partition opens its JDBC connection only when it holds a row, so an
  *    empty batch opens no connection and creates no table (A9) without a
  *    separate emptiness job; the writer opens no driver-side connection.
  *  - For [[appendBatch]] the partition runs the exact DDL on that
  *    connection with autocommit on (A10), treating table-exists as
  *    success. The DDL is explicit because Spark's JDBC writer cannot
  *    emit the SERIAL/IDENTITY key, and dialect-parameterized: the Postgres
  *    spelling mirrors the reference, the Derby spelling exists so the
  *    sink is integration-TESTED in this repo with the embedded Derby that
  *    ships in Spark's jars.
  *  - It then inserts its rows in one transaction: a prepared `INSERT`
  *    naming the DataFrame's columns (strictly safer than the reference's
  *    positional tuples), `executeBatch` every `batchSize` rows, one
  *    commit, rollback on failure (A12). One commit per partition, at most
  *    `numPartitions` connections: the scale-out version of `executemany`,
  *    at-least-once like the reference (a failed batch may have committed
  *    some partitions).
  */
object FraudSink {

  /** The 11 data columns + DB-generated id, exactly as the reference's DDL. */
  def ddl(table: String, idColumn: String): String =
    s"""CREATE TABLE $table (
       |  $idColumn,
       |  step INT,
       |  type VARCHAR(20),
       |  amount FLOAT,
       |  nameOrig VARCHAR(50),
       |  oldbalanceOrg FLOAT,
       |  newbalanceOrig FLOAT,
       |  nameDest VARCHAR(50),
       |  oldbalanceDest FLOAT,
       |  newbalanceDest FLOAT,
       |  isFraud INT,
       |  isFlaggedFraud INT
       |)""".stripMargin

  /** Postgres spelling — byte-for-byte the reference's column set (py:71-84). */
  def postgresDdl(table: String = "fraud_transactions"): String =
    ddl(table, "id SERIAL PRIMARY KEY")

  /** Derby spelling (embedded Derby has no SERIAL and no IF NOT EXISTS). */
  def derbyDdl(table: String = "fraud_transactions"): String =
    ddl(table, "id INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY")

  private val TableExists = Set("X0Y32", "42P07", "23505")

  /** A10: idempotent create on an open connection — "IF NOT EXISTS"
    * portably, by swallowing the dialect's table-exists error (Derby:
    * X0Y32; Postgres: 42P07 duplicate_table). Postgres raises 23505
    * unique_violation instead when two sessions create the same table at
    * once (the catalog race between concurrent partitions); on this one
    * DDL statement that also means the table exists. Run it with
    * autocommit on, so a swallowed error leaves no aborted transaction.
    */
  def ensureTable(conn: Connection, createSql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(createSql)
    catch {
      case e: java.sql.SQLException
          if TableExists(e.getSQLState) => // exists
    }
    finally st.close()
  }

  /** [[ensureTable]] over a fresh driver-side connection. */
  def ensureTable(url: String, props: Properties, createSql: String): Unit = {
    val conn = DriverManager.getConnection(url, props)
    try ensureTable(conn, createSql) finally conn.close()
  }

  /** A12: batched, executor-parallel append into an existing table. */
  def append(df: DataFrame, url: String, table: String, props: Properties,
             batchSize: Int = BatchSize, numPartitions: Int = NumPartitions): Unit =
    write(df, url, table, props, None, batchSize, numPartitions)

  private val BatchSize = 1000
  private val NumPartitions = 8

  /** foreachBatch body for the streaming flagship: A9 empty guard + A10 DDL
    * + A12 append in one Spark job. At-least-once, exactly like the
    * reference (replaying a batch re-inserts); see appendBatchIdempotent
    * for the upgrade.
    */
  def appendBatch(url: String, table: String, props: Properties,
                  createSql: String)(batch: DataFrame, batchId: Long): Unit =
    write(batch, url, table, props, Some(createSql), BatchSize, NumPartitions)

  /** The one writer behind [[append]] and [[appendBatch]]: each non-empty
    * partition runs `createSql` if given and inserts its rows in one
    * [[inTransaction]].
    */
  private def write(df: DataFrame, url: String, table: String,
                    props: Properties, createSql: Option[String],
                    batchSize: Int, numPartitions: Int): Unit = {
    val cols = df.schema.fields
    val nullTypes = cols.map(f => jdbcType(f.dataType))
    val insertSql = s"INSERT INTO $table (${cols.map(_.name).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    inTransaction(df, numPartitions, url, props, createSql) { (conn, rows) =>
      val st = conn.prepareStatement(insertSql)
      try {
        var pending = 0
        rows.foreach { r =>
          var i = 0
          while (i < nullTypes.length) {
            if (r.isNullAt(i)) st.setNull(i + 1, nullTypes(i))
            else st.setObject(i + 1, r.get(i))
            i += 1
          }
          st.addBatch()
          pending += 1
          if (pending == batchSize) { st.executeBatch(); pending = 0 }
        }
        if (pending > 0) st.executeBatch()
      } finally st.close()
    }
  }

  /** The per-partition JDBC transaction of the design above, shared by
    * every sink writer: a non-empty partition of `df` coalesced to
    * `numPartitions` opens its connection, runs `createSql` if given
    * (A9, A10), then `body` over its rows in one transaction. The rows
    * stream to `body` and the first [[ReplayRows]] it reads are kept: a
    * transaction the database rolls back (SQLState class 40, as Derby's
    * 40XL1 when partitions insert into a new table at once) is replayed,
    * up to [[TxAttempts]] times, unless `body` had read more than that.
    */
  private[graft] def inTransaction(df: DataFrame, numPartitions: Int,
      url: String, props: Properties, createSql: Option[String])(
      body: (Connection, Iterator[Row]) => Unit): Unit =
    df.coalesce(numPartitions).foreachPartition { part: Iterator[Row] =>
      if (part.hasNext) {
        val read = new ArrayBuffer[Row]()
        var replayable = true
        def rows(): Iterator[Row] = read.toList.iterator ++ part.map { r =>
          if (replayable && read.length < ReplayRows) read += r
          else if (replayable) { replayable = false; read.clear() }
          r
        }
        val conn = DriverManager.getConnection(url, props)
        try {
          createSql.foreach(ensureTable(conn, _))
          conn.setAutoCommit(false)
          def attempt(n: Int): Unit =
            try { body(conn, rows()); conn.commit() }
            catch {
              case e: SQLException if replayable && n < TxAttempts && transient(e) =>
                conn.rollback(); Thread.sleep(50L * n); attempt(n + 1)
              case t: Throwable => conn.rollback(); throw t
            }
          attempt(1)
        } finally conn.close()
      }
    }

  private val TxAttempts = 3
  private[graft] val ReplayRows = BatchSize // a first JDBC batch can always replay

  /** SQLState class 40 (transaction rolled back) in the cause chain. */
  private def transient(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case s: SQLException => Option(s.getSQLState).exists(_.startsWith("40"))
      case _ => false
    }

  /** The JDBC type [[write]] binds a null of this column type as. */
  private def jdbcType(dt: DataType): Int = dt match {
    case IntegerType => Types.INTEGER
    case LongType => Types.BIGINT
    case DoubleType => Types.DOUBLE
    case FloatType => Types.REAL
    case StringType => Types.VARCHAR
    case BooleanType => Types.BOOLEAN
    case _: DecimalType => Types.DECIMAL
    case DateType => Types.DATE
    case TimestampType => Types.TIMESTAMP
    case other => throw new IllegalArgumentException(s"FraudSink: no JDBC binding for $other")
  }

  /** Effectively-once upgrade over the reference's at-least-once (A12),
    * via a two-phase ledger keyed by (sink table, batchId):
    *
    *  1. claim the batch as `pending`, recording the sink's current MAX(id)
    *     as a watermark;
    *  2. append the rows;
    *  3. finalize the claim to `done`.
    *
    * Replay cases (micro-batches are appended serially by one streaming
    * query — the single-writer assumption the watermark relies on):
    *  - claim exists as `done` → the batch fully landed; skip (no dupes).
    *  - claim exists as `pending` → a previous attempt failed BETWEEN claim
    *    and finalize (transient JDBC error, executor loss, partial
    *    per-partition commit — the writer commits per partition, so
    *    partial batches are real). Delete the failed attempt's partial
    *    rows (`id > watermark` — ids are sink-generated SERIAL, strictly
    *    increasing) and re-append. This is the common failure path; a
    *    claim-first-skip-on-conflict ledger would silently DROP the batch
    *    here (permanent row loss), which is why the finalize step exists.
    *
    * Production systems put claim + rows in one transaction; the two-phase
    * ledger is the portable approximation when the writer can't.
    *
    * Unlike [[appendBatch]], this keeps a `batch.isEmpty` probe (one extra
    * Spark job per batch): the claim records the MAX(id) watermark on the
    * driver before any row lands, so it needs a driver connection, and A9
    * forbids opening one for an empty batch. Emptiness must be known first.
    */
  def appendBatchIdempotent(url: String, table: String, props: Properties,
                            createSql: String)
                           (batch: DataFrame, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val conn = DriverManager.getConnection(url, props)
    try {
      ensureTable(conn, createSql)
      ensureTable(conn,
        s"""CREATE TABLE ${table}_ledger (
           |  sink_table VARCHAR(128) NOT NULL,
           |  batch_id BIGINT NOT NULL,
           |  status VARCHAR(8) NOT NULL,
           |  start_id BIGINT NOT NULL,
           |  PRIMARY KEY (sink_table, batch_id)
           |)""".stripMargin)
      val maxId = {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT COALESCE(MAX(id), 0) FROM $table")
          rs.next(); rs.getLong(1)
        } finally st.close()
      }
      val claimedFresh = {
        val st = conn.prepareStatement(
          s"INSERT INTO ${table}_ledger (sink_table, batch_id, status, start_id) " +
            "VALUES (?, ?, 'pending', ?)")
        st.setString(1, table)
        st.setLong(2, batchId)
        st.setLong(3, maxId)
        try { st.executeUpdate(); true }
        catch {
          case e: java.sql.SQLException
              // duplicate key: Derby 23505, Postgres 23505
              if e.getSQLState == "23505" => false
        }
        finally st.close()
      }
      if (!claimedFresh) {
        val st = conn.prepareStatement(
          s"SELECT status, start_id FROM ${table}_ledger " +
            "WHERE sink_table = ? AND batch_id = ?")
        st.setString(1, table)
        st.setLong(2, batchId)
        val (status, startId) =
          try {
            val rs = st.executeQuery()
            rs.next(); (rs.getString(1), rs.getLong(2))
          } finally st.close()
        if (status == "done") return // fully landed on a previous attempt
        // unfinalized claim: remove the failed attempt's partial rows, then
        // fall through to re-append from the ORIGINAL watermark
        val del = conn.prepareStatement(s"DELETE FROM $table WHERE id > ?")
        del.setLong(1, startId)
        try del.executeUpdate() finally del.close()
      }
      append(batch, url, table, props)
      val fin = conn.prepareStatement(
        s"UPDATE ${table}_ledger SET status = 'done' " +
          "WHERE sink_table = ? AND batch_id = ?")
      fin.setString(1, table)
      fin.setLong(2, batchId)
      try fin.executeUpdate() finally fin.close()
    } finally conn.close()
  }
}
