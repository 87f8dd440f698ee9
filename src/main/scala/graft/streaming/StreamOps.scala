package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Materialized
import graft.operators.FraudPipeline
import graft.sources.ReadGuard

/** Structured Streaming suite (SURVEY §2 Part B s01–s04).
  *
  * The reference's "streaming" is file-granularity: one S3 `ObjectCreated`
  * event → one Lambda invocation → one whole CSV processed
  * (`Terraform/provisioning.tf:160-167`, `Lambda Function/
  * lambda_function_aws.py:29-31`). s01 reproduces that contract with the
  * Structured Streaming file source at `maxFilesPerTrigger = 1`: one
  * micro-batch per arriving file, with the empty-batch early-exit (A9) and
  * idempotent sink DDL hook (A10) living in `foreachBatch` — upgraded from
  * the reference's at-least-once to effectively-once via the batchId.
  *
  * s02–s04 are the genuinely stateful operators the reference lacks:
  * watermarked sliding windows, session windows, and streaming dedup.
  * All transforms are (streaming DataFrame => DataFrame) so tests replay
  * them deterministically with `Trigger.AvailableNow` and assert
  * stream-equals-batch.
  *
  * s32–s51 are the MAINTAINED-STORE family: eight persisted index stores
  * (dedup hash/band, media chunks, IVF assignment, graph ANN, PQ codes,
  * the s43 cluster and s48 golden stores composed on top, and the s51
  * prefix-filter index), all built on one spine — the family registry
  * ([[storeFamily]]) plus one served read, one run write and one upsert
  * skeleton — with the full lifecycle —
  * per-batch partition-overwrite upserts, BATCH-ORDERED tombstone
  * deletes with re-admission (s39: an upsert at a later batch supersedes
  * a delete), generalized compaction (s40), a replay fence enforcing the
  * coordination contract (s41), a staleness monitor + retrain handoff
  * (s42), per-store referential fscks (s44/s46), as-of (time-travel)
  * reads of every served view with a retained-generation history across
  * compaction (s45), the stats digest that says when to compact (s47),
  * the maintained golden-record table (s48), and consistent store
  * export/clone (s49). Every store pins maintained == full rebuild over
  * the live corpus in StreamingSpec.
  */
object StreamOps {

  /** s01 source: one micro-batch per file, mirroring one-Lambda-per-object. */
  def fraudFileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(FraudPipeline.schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", "1")
      .csv(dir)

  /** s01 query: filters are the SAME batch functions (A7+A8) — Structured
    * Streaming runs the identical logical plan incrementally. The sink is a
    * parquet append per non-empty batch, the local stand-in for the JDBC
    * sink of [[s01FraudStreamJdbc]]. Unlike that sink, parquet keeps an
    * explicit empty guard (A9): see the comment in the body.
    */
  def s01FraudStream(spark: SparkSession, inDir: String, outDir: String,
                     checkpoint: String): StreamingQuery =
    FraudPipeline(fraudFileSource(spark, inDir))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // A9: Spark 4.1.2's parquet append of a batch whose partitions are
        // all empty still writes one zero-row part file (task 0 keeps the
        // schema), so without this probe every fraud-free file would leave
        // an empty file behind. Checkpointed batchId makes replays
        // idempotent (an upgrade over the reference's re-insert).
        if (!batch.isEmpty) {
          batch.write.mode("append").parquet(outDir)
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** s01 JDBC variant — full reference fidelity end-to-end: file-per-
    * trigger stream → A7+A8 filters → foreachBatch into
    * [[graft.operators.FraudSink.appendBatch]], one Spark job per file:
    * each non-empty partition opens its connection, runs the idempotent
    * DDL (A10) and its batched insert (A12), so an empty batch opens no
    * connection (A9) without a probe job.
    */
  def s01FraudStreamJdbc(spark: SparkSession, inDir: String,
                         url: String, table: String,
                         props: java.util.Properties, createSql: String,
                         checkpoint: String): StreamingQuery =
    FraudPipeline(fraudFileSource(spark, inDir))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(graft.operators.FraudSink.appendBatch(url, table, props, createSql) _)
      .trigger(Trigger.AvailableNow())
      .start()

  /** s02: sliding window + watermark. 10-minute windows sliding by 5, 10
    * minutes of allowed lateness; late rows beyond the watermark are
    * dropped — asserted in the spec.
    */
  def s02SlidingWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
              col("event_type"), col("n"), col("sum_value"))

  /** s03: session windows — activity sessions per user closed by a
    * 5-minute gap; state is bounded by the watermark.
    */
  def s03SessionWindow(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("ss"),
              col("session_window.end").as("se"), col("n_events"), col("sum_value"))

  /** s18: session windows with a DYNAMIC per-event gap (Spark 3.2+
    * surface s03's fixed gap doesn't cover): engaged events ("click")
    * hold a session open 10 minutes, passive ones ("view") only 2 — the
    * per-activity timeout policy real engagement sessionization uses. The
    * gap is an expression evaluated per event; state/merge semantics are
    * otherwise s03's (windows that overlap merge, emit on watermark
    * finality).
    */
  def s18DynamicGapSession(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"),
        when(col("event_type") === "click", "10 minutes").otherwise("2 minutes")))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("ss"),
              col("session_window.end").as("se"), col("n_events"))

  /** s04: streaming dedup by event_id with bounded state — duplicates
    * arriving within the watermark horizon are dropped exactly once.
    */
  def s04StreamDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** s16: stream-stream JOIN chained into a windowed aggregation — the
    * second multi-stateful composition (s15 chains agg → agg): purchases
    * interval-joined to preceding errors (s06's state-bounded shape), the
    * matched pairs then rolled into 10-minute correlation counts, all
    * inside ONE streaming query. The join emits p_ts with its watermark
    * intact, which is what entitles the downstream windowed aggregate to
    * exist; each window row emits once, when the join can no longer add
    * pairs to it. Before multi-stateful support this took two queries and
    * an intermediate sink — operationally a checkpoint, a topic, and a
    * latency hop that this composition deletes.
    */
  def s16JoinThenWindowAgg(purchases: DataFrame, errors: DataFrame): DataFrame =
    s06StreamStreamJoin(purchases, errors)
      .groupBy(window(col("p_ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_matched"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
              col("n_matched"))

  /** s15: CHAINED stateful aggregations — 5-minute per-type partial counts
    * re-aggregated into 15-minute totals inside ONE streaming query
    * (multiple stateful operators in append mode, a Spark 3.4+/4 surface;
    * before it, this took two queries with an intermediate sink). The
    * second groupBy keys on `window(window, ...)`: the downstream event-
    * time column is the upstream WINDOW struct itself, so the watermark
    * propagates through both state stores and each 15-minute row emits
    * once, when all its 5-minute cells are final. This is the streaming
    * spelling of q112's re-aggregation property — partials merge
    * losslessly because sums and counts add; at scale the fine windows
    * bound state and the coarse roll-up reads partials, not events.
    */
  def s15ChainedWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("window"), "15 minutes"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_cells"))
      .select(col("window.start").as("ws"), col("window.end").as("we"),
              col("n_events"), col("n_cells"))

  /** s26: streaming DEDUP chained into a windowed aggregation — the third
    * multi-stateful composition (s15 chains agg→agg, s16 join→agg):
    * exactly-once-per-event_id admission via
    * `dropDuplicatesWithinWatermark` feeding tumbling per-type counts, in
    * ONE query. This is the at-least-once-ingest correction pattern — the
    * upstream bus may redeliver, the dedup state absorbs the redelivery,
    * and the aggregate downstream counts each event once. The dedup
    * operator passes `ts` through with its watermark intact, which is
    * what entitles the downstream windowed aggregate to exist; dedup
    * state expires at the watermark, window state when each window
    * finalizes — both bounded.
    */
  def s26DedupThenWindowAgg(events: DataFrame): DataFrame =
    s04StreamDedup(events)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
      .select(col("window.start").as("ws"), col("event_type"), col("n_unique"))

  /** s27: multi-watermark policy — a UNION of two sources with divergent
    * event-time progress feeding one windowed aggregate. Each branch
    * carries its own watermark; Spark combines them with the MIN policy
    * by default (`spark.sql.streaming.multipleWatermarkPolicy`), so the
    * SLOWEST source gates every emission — the safety default that never
    * drops a slower source's still-in-flight rows ('max' trades that
    * safety for latency). This is the multi-region / multi-topic ingest
    * reality: one lagging partition holds the fleet's windows open, and
    * knowing WHICH policy is in force is an operational must.
    */
  def s27UnionWatermark(a: DataFrame, b: DataFrame): DataFrame =
    a.withWatermark("ts", "10 minutes")
      .unionByName(b.withWatermark("ts", "10 minutes"))
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))

  /** s06: stream-stream interval join — purchases matched to the same
    * user's error events from the preceding 10 minutes. Both sides carry
    * watermarks; the time-bound condition lets Spark expire join state
    * (without it the state grows forever — the condition IS the 100 TB
    * design). Inner join: results emit as soon as both sides arrive.
    */
  def s06StreamStreamJoin(purchases: DataFrame, errors: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val p = purchases.withWatermark("p_ts", "10 minutes")
    val e = errors.withWatermark("e_ts", "10 minutes")
    p.join(e, expr(
      """p_user = e_user AND
        |e_ts >= p_ts - INTERVAL 10 MINUTES AND
        |e_ts <= p_ts""".stripMargin), "inner")
  }

  /** s25: stream-stream LEFT SEMI interval join — "purchases preceded by
    * at least one error from the same user within 10 minutes", emitted
    * ONCE per purchase no matter how many errors matched (the
    * existence-test streaming shape: s06's inner join would fan out one
    * row per matching error — wrong cardinality for an alerting/flagging
    * consumer). Same dual-watermark + time-bound condition as s06: the
    * bound is what lets Spark expire semi-join state, and the semi form
    * additionally drops a left row from state the moment its first match
    * arrives — strictly LESS state than inner at 100 TB. The
    * existence-only member of the interval-join family (s06 inner, s09
    * left, s12 full): matches emit eagerly on first arrival; unmatched
    * purchases are silently dropped once the watermark closes their
    * window (pinned in StreamingSpec's orphan-drop test).
    */
  def s25StreamSemiJoin(purchases: DataFrame, errors: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val p = purchases.withWatermark("p_ts", "10 minutes")
    val e = errors.withWatermark("e_ts", "10 minutes")
    p.join(e, expr(
      """p_user = e_user AND
        |e_ts >= p_ts - INTERVAL 10 MINUTES AND
        |e_ts <= p_ts""".stripMargin), "left_semi")
  }

  /** s07: stream-static join — the streaming side enriched against a
    * static dimension table (the lookup-table pattern). Stateless: each
    * micro-batch joins against the static plan; a broadcast hint keeps the
    * per-batch join shuffle-free when the dim is small.
    */
  def s07StreamStaticJoin(stream: DataFrame, dim: DataFrame): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), "key")

  /** s13: streaming ingest dedup against a STATIC base index — p04's
    * incremental contract on the streaming path: each arriving document is
    * dropped when its content hash already exists in the base corpus's
    * hash set, via a stream-static LEFT ANTI join (the index broadcasts;
    * at 100 TB it is the written hash table of the last full pass, read
    * per micro-batch). Stateless per batch — the dedup "memory" lives in
    * the base index, not the state store; WITHIN-stream duplicates are
    * deliberately out of scope here (that is s04's watermarked job, and
    * composing s13 → s04 gives both).
    */
  def s13IngestDedup(stream: DataFrame, baseHashes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, expr}
    stream
      .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
      .join(broadcast(baseHashes), Seq("th"), "left_anti")
  }

  /** s32: streaming MAINTENANCE of the dedup indexes — the WRITE side of
    * the incremental-dedup story (s13/p04 READ a written base index; this
    * job is what keeps that index current as documents arrive). Each
    * micro-batch computes its slice of BOTH index tables with the
    * single-sourced batch machinery — the hash56 content table (q32/p04's
    * key) and [[graft.queries.Dedup.bandTableOf]]'s (doc_id, band_key)
    * table (an inline re-spelling would silently drift from the deployed
    * d01 keys). Since r12 the runs keep every distinct row instead of the
    * per-batch min survivor: exact DELETABILITY (s39) needs the
    * non-collapsed relation — the min-survivor election moved to the
    * SERVING fold ([[s32HashIndex]]), where a tombstoned survivor
    * re-elects automatically.
    *
    * Idempotence model: partition-overwrite instead of s17's by-key JDBC
    * upsert — every batch writes its own `batch_id=N` partition with
    * dynamic partition overwrite, so a REPLAYED batch overwrites its own
    * increment rather than appending a duplicate. This is the LSM shape a
    * 100 TB index actually uses: per-batch sorted runs + compaction on
    * read ([[s32HashIndex]]/[[s32BandIndex]] fold runs by key;
    * [[s32CompactStore]] is the same fold run offline).
    */
  def s32UpsertIndexBatch(dir: String)(batch: DataFrame, batchId: Long): Unit =
    upsertFold("hash", dir, batch, batchId) { cached =>
      // ALL (th, doc_id) rows, not the per-batch min survivor: exact
      // deletability needs the non-collapsed run — electing min at
      // write time would lose the runner-up a later delete of the
      // survivor must promote. The serving view ([[s32HashIndex]])
      // still folds to one min-doc_id row per hash; the run is one row
      // per ingested doc either way (the band table's own asymptotics).
      writeRun(cached
        .withColumn("th", expr(graft.functions.TextHash.sparkHash56("text")))
        .select("th", "doc_id").distinct(), s"$dir/hash56", batchId)
      writeRun(graft.queries.Dedup.bandTableOf(cached).distinct(),
        s"$dir/bands", batchId)
    }

  def s32IndexMaintain(docs: DataFrame, dir: String,
                       checkpoint: String): StreamingQuery =
    maintain(docs, checkpoint)(s32UpsertIndexBatch(dir))

  /** The stored (th, doc_id) relation post-tombstones — the deletable
    * base [[s32HashIndex]] folds and [[s32CompactStore]] rewrites.
    */
  private[graft] def s32HashRows(spark: SparkSession, dir: String,
                                 asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "hash56", asOf, Seq("doc_id"), "th", "doc_id")
      .drop("batch_id").distinct()

  /** Compacted read of the s32-maintained hash index: tombstone-filter,
    * then fold the per-batch runs by key with the min-survivor policy —
    * deleting an elected survivor re-elects the next doc automatically.
    * Equals the batch-built index over the live corpus — pinned in
    * StreamingSpec for both the insert-only and the post-delete store.
    */
  def s32HashIndex(spark: SparkSession,
                   dir: String, asOf: Option[Long] = None): DataFrame =
    s32HashRows(spark, dir, asOf).groupBy("th").agg(min("doc_id").as("doc_id"))

  /** Compacted read of the s32-maintained band index (distinct folds a
    * replayed doc's identical band rows across runs; tombstoned docs'
    * band rows are filtered out).
    */
  def s32BandIndex(spark: SparkSession,
                   dir: String, asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "bands", asOf, Seq("doc_id"), "doc_id", "band_key")
      .drop("batch_id").distinct()

  /** s34: streaming maintenance of the content-addressed media CHUNK
    * store — s32's sibling for the m03/m05/m07/m08 chunk tables (those
    * queries PROBE a chunk store; this job is what keeps it current as
    * media arrives). Each micro-batch chunks its payloads with the
    * single-sourced [[graft.operators.Multimodal.chunkTableOf]] machinery
    * (an inline re-spelling would drift from the deployed chunk grid).
    * Since r12 the runs keep every distinct (h, media_id, nb) REFERENCE
    * row instead of collapsing to a min owner: exact deletability (s39)
    * needs every referrer — deleting an owner must promote the next
    * media id and an orphaned chunk must GC — so the CAS invariant
    * (one stored copy per hash, deterministic first owner) moved to the
    * SERVING fold ([[s34ChunkStore]]).
    *
    * Idempotence model: s32's exactly — every batch writes its own
    * `batch_id=N` partition with dynamic partition overwrite, so a
    * replayed batch overwrites its increment instead of appending; the
    * compacted read ([[s34ChunkStore]]) folds the per-batch runs by hash
    * (the LSM shape; [[s34CompactStore]] is the same fold run offline).
    * StreamingSpec pins stream-built == batch-built over the same
    * replay, plus replay idempotence.
    */
  def s34UpsertChunkBatch(dir: String)(batch: DataFrame, batchId: Long): Unit =
    upsertFold("chunk", dir, batch, batchId) { cached =>
      // ALL (h, media_id, nb) reference rows, not the per-batch min
      // owner: exact deletability needs every referrer — deleting the
      // elected owner must promote the next media id, and a chunk whose
      // referrers are ALL deleted must vanish (GC), neither of which a
      // collapsed run can answer. The serving view ([[s34ChunkStore]])
      // still folds to one min-owner row per hash; the run is one row
      // per (chunk, referrer) — the CAS reference table's own size.
      writeRun(graft.operators.Multimodal.chunkTableOf(cached)
        .select("h", "media_id", "nb").distinct(), s"$dir/chunks", batchId)
    }

  def s34ChunkMaintain(media: DataFrame, dir: String,
                       checkpoint: String): StreamingQuery =
    maintain(media, checkpoint)(s34UpsertChunkBatch(dir))

  /** The stored (h, media_id, nb) reference relation post-tombstones —
    * the deletable base [[s34ChunkStore]] folds and [[s34CompactStore]]
    * rewrites.
    */
  private[graft] def s34ChunkRows(spark: SparkSession, dir: String,
                                  asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "chunks", asOf, Seq("media_id"),
      "h", "media_id", "nb").drop("batch_id").distinct()

  /** Compacted read of the s34-maintained chunk store: tombstone-filter
    * the reference rows, then fold by content hash with the min-owner
    * policy — deleting an owner re-elects the next referrer, and a chunk
    * with no live referrer disappears (the CAS garbage-collection rule).
    */
  def s34ChunkStore(spark: SparkSession,
                    dir: String, asOf: Option[Long] = None): DataFrame =
    s34ChunkRows(spark, dir, asOf)
      .groupBy("h").agg(min("media_id").as("owner"), min("nb").as("nb"))

  /** s35: streaming maintenance of the IVF ASSIGNMENT table — the
    * vector-ingest side of the n-family index (n25 persists it, n02/n12/
    * n14 probe it; this job keeps it current as embeddings arrive): each
    * micro-batch of raw (vec_id, embedding) rows is quantized and
    * assigned to the FIXED broadcast codebook via the single-sourced
    * batch machinery ([[graft.queries.Similarity.prepareVectors]] +
    * `assignToCentroids` — the byte-identical argmax formula, tie-break
    * and partial-agg shape as the batch index build, so the streamed
    * assignment can never drift). Idempotence is s32/s34's model:
    * per-batch `batch_id=N` partitions + dynamic partition overwrite,
    * compaction on read. StreamingSpec pins stream-built == batch
    * `ivfAssigned` over the same replay + replay idempotence.
    */
  def s35UpsertIvfBatch(cents: DataFrame, dir: String)(
      batch: DataFrame, batchId: Long): Unit =
    upsertFold("assign", dir, batch, batchId) { cached =>
      writeRun(graft.queries.Similarity
        .assignToCentroids(graft.queries.Similarity.prepareVectors(cached), cents)
        .select("vec_id", "cid", "ccos"), s"$dir/assigned", batchId)
    }

  def s35IvfMaintain(vectors: DataFrame, cents: DataFrame, dir: String,
                     checkpoint: String): StreamingQuery =
    maintain(vectors, checkpoint)(s35UpsertIvfBatch(cents, dir))

  /** Compacted read of the s35-maintained assignment: each vector's row
    * is a pure function of (vector, codebook), so identical rows from a
    * replayed batch fold under distinct.
    */
  def s35Assignment(spark: SparkSession,
                    dir: String, asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "assigned", asOf, Seq("vec_id"),
      "vec_id", "cid", "ccos").drop("batch_id").distinct()

  private def pathExists(spark: org.apache.spark.sql.SparkSession,
                         path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  // ===== the maintained-store spine: one served read, one latest-per-key
  // ===== fold, one run write, one upsert skeleton and one maintain
  // ===== wrapper, shared by every store family in [[storeFamily]].

  /** The served-read spine every store reader starts from: resolve the
    * as-of generation ([[resolveAsOfDir]]), read `table`'s runs through
    * the flip pointer ([[tablePath]]), refuse a schema-drifted table,
    * bound the runs to `asOf` ([[asOfRuns]]), keep `cols` plus a long
    * `batch_id`, then apply the batch-ordered tombstone mask
    * ([[maskDeleted]]) on the id columns of `maskBy` — none for the
    * label-keyed golden table and the immutable token order, both sides
    * for the s51 pair table. Each reader applies its own fold on top
    * (distinct, dropDuplicates, min, [[latestPerKey]]).
    */
  private def servedRuns(spark: SparkSession, dir0: String, table: String,
      asOf: Option[Long], maskBy: Seq[String], cols: String*): DataFrame = {
    val dir = resolveAsOfDir(spark, dir0, asOf)
    val tp = tablePath(spark, dir, table, asOf)
    val runs = asOfRuns(
        ReadGuard.requireColumns(
          ReadGuard.readRuns(spark, tp), tp, cols :+ "batch_id": _*),
        spark, dir, asOf)
      .select(cols.map(col) :+ col("batch_id").cast("long").as("batch_id"): _*)
    maskDeleted(runs, spark, dir, maskBy, asOf)
  }

  /** True when a store table has no directory yet (a store that never
    * wrote it): its reader serves an empty frame instead of failing.
    */
  private def absent(spark: SparkSession, dir: String, table: String,
                     asOf: Option[Long]): Boolean =
    !pathExists(spark,
      tablePath(spark, resolveAsOfDir(spark, dir, asOf), table, asOf))

  /** Latest-per-key fold: each key keeps the rows of its highest
    * `batch_id` run — the "newest run wins" rule of the edge, label,
    * attribute and golden tables (a later batch rewrites a key's whole
    * state). Keeps `df`'s columns, `batch_id` included.
    */
  private def latestPerKey(df: DataFrame, key: String): DataFrame = {
    val latest = df.groupBy(key).agg(max("batch_id").as("__mb"))
      .withColumnRenamed(key, "__key")
    df.join(latest, df(key) === col("__key") && df("batch_id") === col("__mb"))
      .select(df.columns.map(df(_)).toSeq: _*)
  }

  /** The run-write spine: `rows` become the `batch_id=batchId` run of the
    * table at `path` under dynamic partition overwrite — a redelivered
    * batch rewrites its own run instead of appending a duplicate (the LSM
    * idempotence model every store shares) — then plans cached over the
    * table are refreshed.
    */
  private def writeRun(rows: DataFrame, path: String, batchId: Long): Unit = {
    rows.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)
    rows.sparkSession.catalog.refreshByPath(path)
  }

  /** The upsert skeleton every store's batch fold runs in: persist the
    * foreachBatch frame (it arrives UN-persisted, and the empty probe plus
    * each table write would re-read the source otherwise), skip an empty
    * batch, fence it against the family's tables ([[requireFreshBatch]]),
    * run `body`, unpersist.
    */
  private def upsertFold(family: String, dir: String, batch: DataFrame,
                         batchId: Long)(body: DataFrame => Unit): Unit = {
    val cached = batch.persist()
    try {
      if (!cached.isEmpty) {
        requireFreshBatch(cached.sparkSession, dir, batchId, tableNames(family))
        body(cached)
      }
    } finally cached.unpersist()
  }

  /** The maintain wrapper: run a store's batch fold over a stream. */
  private def maintain(input: DataFrame, checkpoint: String)(
      fold: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fold)
      .start()

  // ===== maintained-store lifecycle plumbing (s39 deletes, s40 compaction,
  // ===== s41 replay fencing) — shared by the s32/s34/s35/s36/s38 stores.

  /** Highest `batch_id=N` partition present under a store table — read
    * from the PARTITION DIRECTORY names (one filesystem listing, no data
    * scan), which is exactly the granularity the per-batch overwrite
    * model writes at. Used by the replay fence and the compaction stamp,
    * so both see every table's runs (r11 advice: the edge table alone
    * understates the base when a batch wrote vectors/cells but no edges).
    */
  private def maxBatchIn(spark: org.apache.spark.sql.SparkSession,
                         path: String): Option[Long] =
    runBatches(spark, path).reduceOption(_ max _)

  /** The batch ids of a store table's runs, from its `batch_id=N`
    * partition directory names (one listing; none for an absent table).
    */
  private def runBatches(spark: org.apache.spark.sql.SparkSession,
                         path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("batch_id=") =>
        n.stripPrefix("batch_id=").toLong }
  }

  /** s45: AS-OF (time-travel) bound on a store read — the per-batch
    * `batch_id=N` runs double as a history: filtering every table (and the
    * tombstones) to `batch_id <= asOf` reproduces the served view exactly
    * as it stood after batch `asOf` committed, because each store's served
    * state is a pure fold of its prefix of runs (the same induction that
    * pins maintained == rebuild — StreamingSpec pins as-of == the rebuild
    * over the prefix corpus per store). Every served-view reader takes an
    * `asOf` parameter; `None` serves the present.
    *
    * Compaction folds history into one base run restamped with the
    * compaction batch id, so an as-of read below the stamp cannot be
    * served from the live table — since r13 it RESOLVES into the retained
    * pre-compaction generation instead ([[resolveAsOfDir]]: compaction
    * renames the old runs into `_history/gen_<stamp>/`, keeping the last
    * [[DefaultRetainedGenerations]]), and only past the retention window
    * does it fail loudly (the s41 fence's read-side twin). Reads at or
    * above the stamp stay exact on the live table: every folded row
    * carries the stamp id, and the post-compaction increments are
    * ordinary runs. Cost: one tiny stamp-file read (plus, for a
    * historical read, one `_history` listing) and a `batch_id` filter the
    * scan answers from the partition directory names — no data moves that
    * the present-day read wouldn't.
    */
  private def asOfRuns(df: DataFrame, spark: SparkSession,
                       dir: String, asOf: Option[Long]): DataFrame =
    asOf match {
      case None => df
      case Some(b) =>
        readCompactionStamp(spark, dir).foreach { st =>
          require(b >= st,
            s"store $dir is compacted through batch $st: as-of $b predates " +
              "the fold — resolve through the retained history " +
              "(resolveAsOfDir) or restore a pre-compaction backup")
        }
        df.filter(col("batch_id").cast("long") <= b)
    }

  private def stampFile(dir: String) = s"$dir/_compaction_stamp"

  /** The folded-through batch id recorded by [[compactStore]] — the LSM
    * coordination contract made MACHINE-READABLE (r11 verdict item 6: the
    * contract used to live in a scaladoc, and a replay from a checkpoint
    * older than the compaction would silently resurrect folded runs).
    */
  private[graft] def readCompactionStamp(
      spark: org.apache.spark.sql.SparkSession, dir: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(stampFile(dir))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
      finally in.close()
    }
  }

  private def writeCompactionStamp(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, stamp: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(stampFile(dir))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(stamp.toString.getBytes("UTF-8")) finally out.close()
  }

  // ===== serve-during-compaction atomicity (r13 verdict item 2): between
  // ===== a table's archive rename and its folded-base write, a reader of
  // ===== the OLD compactStore saw a missing dir — and across tables could
  // ===== see one table folded and its sibling not. Compaction now stages
  // ===== every folded base under `_staging/gen_<id>/` and publishes the
  // ===== whole generation through ONE atomically-renamed pointer file
  // ===== (`_flip`); readers resolve each table through the pointer, so at
  // ===== every instant they see the full old or the full new generation,
  // ===== never a mix, never PATH_NOT_FOUND.

  /** The in-flight compaction descriptor published by the `_flip` pointer:
    * the generation being installed, the retention the run was started
    * with, the PRIOR stamp (the new generation's as-of floor), and each
    * table's disposition — `rewrite` (a folded base waits in staging) or
    * `drop` (the fold proved the table spent: tombstones fully re-admitted,
    * or a fold-only table like `golden` whose readers treat absence as
    * empty — the r13 ADVICE fix: restamping golden's label-keyed raw rows
    * tied stale elections with the RETIRE rows that overrode them).
    */
  private[graft] case class FlipState(gen: Long, retain: Int,
                                      prior: Option[Long],
                                      rewrite: Set[String], drop: Set[String])

  private def flipFile(dir: String) = s"$dir/_flip"
  private def stagingDir(dir: String, gen: Long) = s"$dir/_staging/gen_$gen"

  /** Tables whose SERVED fold is the complete authoritative state and
    * whose readers treat a missing directory as empty — safe to DROP
    * (archive without rewrite) when the fold is empty, and WRONG to
    * raw-restamp: `golden` is label-keyed (restamping ties stale
    * elections with their RETIRE overrides), `pairs` is two-side
    * batch-masked (restamping revives a re-admitted doc's retired pairs
    * once compaction folds its spent tombstone away). Everything else
    * empty-folds to a raw restamp (the zero-row-parquet-footer trap).
    */
  private[graft] val FoldOnlyTables: Set[String] = Set("golden", "pairs")

  private[graft] def readFlip(spark: org.apache.spark.sql.SparkSession,
                              dir: String): Option[FlipState] = {
    val p = new org.apache.hadoop.fs.Path(flipFile(dir))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val kv = lines.map(_.trim).filter(_.nonEmpty)
        .map { l => val Array(k, v) = l.split(" ", 2); (k, v) }
      val m = kv.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      Some(FlipState(
        gen = m("gen").head.toLong,
        retain = m("retain").head.toInt,
        prior = m.get("prior").map(_.head.toLong),
        rewrite = m.getOrElse("rewrite", Nil).toSet,
        drop = m.getOrElse("drop", Nil).toSet))
    }
  }

  /** Publish the flip pointer ATOMICALLY: write to a temp name, then
    * rename into place — readers either see no pointer (old generation)
    * or the complete descriptor (new generation), never a partial file.
    */
  private def publishFlip(spark: org.apache.spark.sql.SparkSession,
                          dir: String, f: FlipState): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/_flip.tmp")
    val out = fs.create(tmp, true)
    val body = (Seq(s"gen ${f.gen}", s"retain ${f.retain}") ++
      f.prior.map(p => s"prior $p").toSeq ++
      f.rewrite.toSeq.sorted.map(t => s"rewrite $t") ++
      f.drop.toSeq.sorted.map(t => s"drop $t")).mkString("\n")
    try out.write(body.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(flipFile(dir))),
      s"store $dir: publishing the compaction flip pointer FAILED " +
        "(rename returned false)")
  }

  /** Per-table serve-side path resolution — the ONE seam every served view
    * reads through. Outside a flip window (the steady state) this is the
    * plain `$dir/$table`. While a flip is active:
    *
    *  - serving the NEW generation (asOf empty or ≥ the flip gen): a
    *    dropped table resolves to its (absent) staging path — readers
    *    treat it as missing, which IS the new generation's content; a
    *    rewritten table serves from staging until [[finishCompactionFlip]]
    *    renames its base into the live dir, then from the live dir —
    *    both locations hold the identical folded base;
    *  - serving the OLD generation (an as-of below the flip gen, admitted
    *    because the live stamp is still the PRIOR stamp until the flip
    *    completes): a table already archived into the new history
    *    generation serves from there, one not yet archived serves from
    *    the live dir — both are the same pre-compaction runs (archive is
    *    a rename of exactly those directories).
    *
    * History-generation dirs (`_history/gen_*`) are immutable and resolve
    * directly. Cost: one tiny pointer-existence check per table read.
    */
  private[graft] def tablePath(spark: org.apache.spark.sql.SparkSession,
                               dir: String, table: String,
                               asOf: Option[Long] = None): String =
    if (dir.contains("/_history/")) s"$dir/$table"
    else readFlip(spark, dir) match {
      case None => s"$dir/$table"
      case Some(f) =>
        if (asOf.exists(_ < f.gen)) {
          val archived = s"$dir/_history/gen_${f.gen}/$table"
          if (pathExists(spark, archived)) archived else s"$dir/$table"
        } else if (f.drop(table)) s"${stagingDir(dir, f.gen)}/$table"
        else {
          val staged = s"${stagingDir(dir, f.gen)}/$table"
          if (pathExists(spark, staged)) staged else s"$dir/$table"
        }
    }

  /** Complete an in-flight compaction flip — IDEMPOTENT and crash-
    * resumable: every step checks current filesystem state, so a run that
    * died anywhere (including a previous resume) finishes the remaining
    * work and nothing else. Per table: archive the live pre-compaction
    * runs into the history generation (or delete them at retain = 0),
    * then rename the staged folded base into the live dir. Readers are
    * never disturbed: while the pointer exists they resolve through
    * staging-then-live ([[tablePath]]), and the pointer is removed only
    * after the new stamp landed. No-op when no flip is active.
    */
  /** `onStep` is a test seam (StreamingSpec's scripted-pause pin): invoked
    * with "swap:<table>" after each table's archive+install and "stamped"
    * after the new stamp lands — a hook that THROWS simulates a crash at
    * exactly that point, and a hook that snapshots every served view
    * proves readers see one whole generation at every instant.
    */
  private[graft] def finishCompactionFlip(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      onStep: String => Unit = _ => ()): Unit =
    readFlip(spark, dir).foreach { f =>
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
      val genDir = s"$dir/_history/gen_${f.gen}"
      if (f.retain > 0) {
        fs.mkdirs(new org.apache.hadoop.fs.Path(genDir))
        f.prior.foreach { p =>
          if (readCompactionStamp(spark, genDir).isEmpty)
            writeCompactionStamp(spark, genDir, p)
        }
      }
      (f.rewrite.toSeq.sorted ++ f.drop.toSeq.sorted).foreach { t =>
        val live = new org.apache.hadoop.fs.Path(s"$dir/$t")
        val gen = new org.apache.hadoop.fs.Path(s"$genDir/$t")
        val staged =
          new org.apache.hadoop.fs.Path(s"${stagingDir(dir, f.gen)}/$t")
        val stagedExists = fs.exists(staged)
        // a rewritten table whose staged base is gone was already swapped
        // in by a previous (crashed) resume — nothing left to do for it
        if (!(f.rewrite(t) && !stagedExists)) {
          if (fs.exists(live) && (f.retain == 0 || !fs.exists(gen))) {
            if (f.retain > 0)
              require(fs.rename(live, gen),
                s"compaction of $dir: archiving $t into $genDir FAILED " +
                  "(rename returned false) — refusing to overwrite the " +
                  "unarchived runs")
            else fs.delete(live, true)
          }
          if (stagedExists)
            require(fs.rename(staged, live),
              s"compaction of $dir: installing $t's folded base FAILED " +
                "(rename returned false)")
          spark.catalog.refreshByPath(s"$dir/$t")
        }
        onStep(s"swap:$t")
      }
      // stamp BEFORE removing the pointer: a crash between the two leaves
      // a resumable no-op flip, never a generation outrunning the stamp
      writeCompactionStamp(spark, dir, f.gen)
      onStep("stamped")
      fs.delete(new org.apache.hadoop.fs.Path(flipFile(dir)), false)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_staging"), true)
      if (f.retain > 0) pruneGenerations(spark, dir, f.retain)
    }

  /** s41: the replay fence every upsert/delete fold runs before writing.
    * Three checks: (1) the batch must be STRICTLY past the compaction
    * stamp — a replayed batch at or before the stamp would overwrite the
    * folded base partition with one increment (the resurrection failure
    * mode the s37 scaladoc used to only DESCRIBE); (2) batch ids must be
    * one monotone sequence across upserts and deletes — `batchId >= max
    * seen` admits exactly the redelivery foreachBatch can produce (the
    * LAST uncommitted batch, identical payload) and refuses an
    * out-of-order id that would silently clobber an unrelated run sharing
    * its partition; (3) the EQUALITY case must be the same KIND of fold —
    * an upsert reusing a delete's id (or vice versa) is not a redelivery,
    * and in the graph store both kinds write the edges table, so the
    * "replay" would replace the other fold's partition wholesale. All
    * three checks are filesystem-cheap (partition dir names + one tiny
    * stamp file): no data scan per batch.
    */
  private[graft] def requireFreshBatch(spark: org.apache.spark.sql.SparkSession,
      dir: String, batchId: Long, tables: Seq[String],
      isDelete: Boolean = false): Unit = {
    // an in-flight compaction flip owns the store's directories: a fold
    // writing into them would race the swap (single-writer contract made
    // mechanical — the same loud-fail discipline as the stamp fence)
    require(readFlip(spark, dir).isEmpty,
      s"store $dir has an in-flight compaction flip — run the family's " +
        "CompactStore entry point to complete it before writing")
    readCompactionStamp(spark, dir).foreach { st =>
      require(batchId > st,
        s"store $dir is compacted through batch $st; replaying batch " +
          s"$batchId would resurrect a folded run — restart the maintainer " +
          "from a checkpoint past the compaction boundary")
    }
    maxRun(spark, dir, tables).foreach { m =>
      require(batchId >= m,
        s"store $dir already holds batch $m; batch ids must form one " +
          s"monotone sequence across upserts and deletes (got $batchId — " +
          "foreachBatch redelivers only the LAST batch)")
      if (batchId == m) {
        val hadTombstone =
          pathExists(spark, s"${deletedPath(dir)}/batch_id=$batchId")
        require(hadTombstone == isDelete,
          s"store $dir: batch $batchId was originally " +
            s"${if (hadTombstone) "a delete" else "an upsert"} — a " +
            s"${if (isDelete) "delete" else "an upsert"} may not reuse " +
            "its id (only an identical redelivery may repeat a batch id)")
      }
    }
  }

  /** Highest run across a store's `tables` AND its tombstones — the
    * store's batch high-water mark (a batch can write one table and not
    * another, so any single table understates it).
    */
  private def maxRun(spark: SparkSession, dir: String,
                     tables: Seq[String]): Option[Long] =
    (tables :+ "deleted").flatMap(t => maxBatchIn(spark, s"$dir/$t"))
      .reduceOption(_ max _)

  /** s39: the tombstone table every store shares — per-batch `batch_id=N`
    * runs of deleted ids under `dir/deleted` (the same dynamic-partition-
    * overwrite idempotence model as the data runs). Tombstones are
    * BATCH-ORDERED (r12 verdict item 2 — "deletes are final" forced a
    * full store rebuild to re-ingest a corrected document): a tombstone
    * at batch M masks exactly the data rows written at batches ≤ M, so an
    * upsert of the same id at batch N > M SUPERSEDES the delete — the
    * re-admission verb real curation pipelines use when a retracted
    * document comes back corrected. The fence ([[requireFreshBatch]])
    * keeps upserts and deletes on one monotone id sequence, so "later
    * batch" is well-defined, and idempotent redelivery is untouched (a
    * replayed batch rewrites its own partition on either table).
    */
  private def deletedPath(dir: String) = s"$dir/deleted"

  /** Per-id LATEST tombstone batch of a store (empty when nothing was
    * deleted), optionally bounded to the tombstones visible as of a batch
    * (s45). The max is what batch-ordering needs: a re-delete after a
    * re-admission must mask the re-admitted rows too.
    */
  private[graft] def tombstoneBatches(spark: org.apache.spark.sql.SparkSession,
                                      dir: String,
                                      asOf: Option[Long] = None): DataFrame = {
    if (absent(spark, dir, "deleted", asOf))
      spark.range(0).select(col("id"), col("id").as("del_batch"))
    else servedRuns(spark, dir, "deleted", asOf, Nil, "id")
      .groupBy("id").agg(max("batch_id").as("del_batch"))
  }

  /** Distinct ever-tombstoned ids (the raw gauge s47 reports; NOT the
    * currently-dead set — see [[deadIds]] for that).
    */
  private[graft] def deletedIds(spark: org.apache.spark.sql.SparkSession,
                                dir: String,
                                asOf: Option[Long] = None): DataFrame =
    tombstoneBatches(spark, dir, asOf).select("id")

  /** Serve-side tombstone filter, batch-ordered: keep a data row iff its
    * `batch_id` is STRICTLY past the latest tombstone of the id in EVERY
    * column of `idCols` (or that id was never tombstoned) — one column
    * for an entity table, both sides for a pair table. `df` must still
    * carry `batch_id` — every serve fold masks BEFORE folding, so a
    * re-admitted id serves only its post-re-admission rows (old content
    * is masked even when the re-ingested text/embedding differs). The
    * tombstones are read once and, being delete-traffic-sized, broadcast
    * to each join.
    */
  private def maskDeleted(df: DataFrame, spark: SparkSession, dir: String,
                          idCols: Seq[String], asOf: Option[Long]): DataFrame =
    if (idCols.isEmpty ||
        !pathExists(spark, tablePath(spark, dir, "deleted", asOf))) df
    else {
      val tomb = tombstoneBatches(spark, dir, asOf)
      idCols.foldLeft(df) { (masked, idCol) =>
        masked.join(broadcast(tomb.select(col("id").as(idCol),
            col("del_batch").as("__del_batch"))), Seq(idCol), "left")
          .filter(col("__del_batch").isNull ||
            col("batch_id").cast("long") > col("__del_batch"))
          .select(df.columns.map(col).toSeq: _*)
      }
    }

  /** The currently-DEAD ids of a store: tombstoned with no upsert after
    * the latest tombstone — i.e. ids the serve-side mask hides entirely.
    * Presence is read from the store's PRIMARY table (`presenceTable`,
    * the one table every upsert of an id writes), raw runs, not the
    * served fold — metadata-narrow columns only. Used where set-valued
    * "is this id gone" semantics are needed: the delete folds' affected
    * computations, the fsck's served∩dead check, and compaction's
    * tombstone fold.
    */
  private[graft] def deadIds(spark: org.apache.spark.sql.SparkSession,
                             dir: String, presenceTable: String,
                             idCol: String,
                             asOf: Option[Long] = None): DataFrame = {
    val tomb = tombstoneBatches(spark, dir, asOf)
    if (absent(spark, dir, presenceTable, asOf)) tomb.select("id")
    else {
      val up = servedRuns(spark, dir, presenceTable, asOf, Nil, idCol)
        .groupBy(col(idCol).as("id")).agg(max("batch_id").as("up_batch"))
      tomb.join(up, Seq("id"), "left")
        .filter(col("up_batch").isNull || col("up_batch") <= col("del_batch"))
        .select("id")
    }
  }

  /** The shared delete fold every store starts from: fence the batch
    * against the family's tables, then write its tombstone run; true when
    * the batch named any id. The serve-side reads do the rest (the batch
    * mask) for s32/s34/s35/s38/s51; the graph and cluster stores then
    * re-derive what the deleted ids touched (see [[s36DeleteBatch]],
    * [[s43DeleteClusterBatch]]).
    */
  private def tombstoneBatch(family: String, dir: String)(
      deletes: DataFrame, batchId: Long): Boolean = {
    val ids = deletes.select(col(deletes.columns.head).as("id")).distinct()
    val any = !ids.isEmpty
    if (any) {
      requireFreshBatch(deletes.sparkSession, dir, batchId, tableNames(family),
        isDelete = true)
      writeRun(ids, deletedPath(dir), batchId)
    }
    any
  }

  def s32DeleteBatch(dir: String)(deletes: DataFrame, batchId: Long): Unit =
    tombstoneBatch("hash", dir)(deletes, batchId): Unit

  def s34DeleteBatch(dir: String)(deletes: DataFrame, batchId: Long): Unit =
    tombstoneBatch("chunk", dir)(deletes, batchId): Unit

  def s35DeleteBatch(dir: String)(deletes: DataFrame, batchId: Long): Unit =
    tombstoneBatch("assign", dir)(deletes, batchId): Unit

  def s38DeleteBatch(dir: String)(deletes: DataFrame, batchId: Long): Unit =
    tombstoneBatch("code", dir)(deletes, batchId): Unit

  /** s40: the generalized store compaction — s37's fold-materialize-
    * rewrite-restamp shape factored into ONE seam (r11 verdict item 2)
    * and applied to every maintained store: each table's SERVED view
    * (tombstone-filtered, key-folded) is materialized (localCheckpoint —
    * a store cannot be overwritten while a lazy plan still reads it) and
    * rewritten as a single base run stamped with the highest batch_id
    * present across ALL the store's tables including the tombstones (r11
    * advice: a batch can write one table and not another, so any single
    * table understates the base). The tombstone table folds to the
    * currently-DEAD id set (tombstoned, not re-admitted — [[deadIds]]
    * over the primary table): a re-admitted id's pre-delete rows are
    * physically dropped by the data fold, so its tombstone carries no
    * remaining information, while a dead id's tombstone must survive so
    * the served views keep excluding it. The folded tombstones restamp
    * to the same base id as the data, which masks nothing (the data fold
    * already applied the batch mask, so no served row shares an id with
    * a kept tombstone) yet still yields to any upsert at a later batch —
    * re-admission stays available across compaction. Finally the stamp
    * file records the folded-through id, which [[requireFreshBatch]]
    * enforces against stale replays.
    *
    * A DATA table whose folded view is EMPTY (every row tombstoned)
    * cannot be rewritten as a zero-row base (no parquet footer to read
    * schema from) — its RAW rows restamp to the base id instead: they
    * stay masked (data at the stamp never outranks a tombstone at the
    * stamp) and the table stays readable with one at-stamp run. A SPENT
    * tombstone table (every tombstoned id re-admitted) is the dual: it
    * carries no remaining information and is archived without a rewrite
    * — readers treat a missing `deleted` as mask-free, which is exactly
    * right once the data folds dropped the pre-delete rows.
    *
    * RETENTION (r12 verdict item 3 — "as-of history dies at compaction"):
    * instead of destroying the pre-compaction runs, compaction RENAMES
    * each table's run directory into `_history/gen_<stamp>/<table>` (a
    * metadata-only move on HDFS/object stores with directory semantics —
    * no data bytes copied) together with the store's PRIOR stamp, and
    * keeps the newest [[DefaultRetainedGenerations]] generations. An
    * as-of read below the live stamp resolves into the newest generation
    * whose own folded-through stamp admits it ([[resolveAsOfDir]]), so
    * time travel reaches back the configured window; past the window it
    * still fails loudly. `retain = 0` reproduces the destroy-on-compact
    * behavior. The one COPY (not move) is an empty-folded table: its raw
    * runs must stay live (the zero-row-footer trap above), so history
    * gets a copy — delete-traffic-sized by definition.
    */
  private[graft] val DefaultRetainedGenerations = 2

  private[graft] def compactStore(spark: org.apache.spark.sql.SparkSession,
      dir: String, tables: Seq[(String, () => DataFrame)],
      primaryIdCol: String,
      retain: Int = DefaultRetainedGenerations,
      onStep: String => Unit = _ => ()): Unit = {
    // resume any in-flight flip FIRST: a previous run that died between
    // publishing the pointer and finishing the swap left a complete,
    // consistently-served staging generation — completing it is the only
    // admissible next step (and is idempotent).
    finishCompactionFlip(spark, dir, onStep)
    maxRun(spark, dir, tables.map(_._1))
      // RE-ENTRANCY guard: a compaction that would fold through the batch
      // the stamp already records has nothing to do — proceeding would
      // re-archive into the EXISTING gen_<stamp> (nesting the table dirs
      // under rename-into-directory semantics) and overwrite that
      // generation's own stamp with the current one, silently narrowing
      // the retained as-of window. A scheduled compaction firing twice,
      // or an operator retry, must be a no-op.
      .filter(maxBatch => !readCompactionStamp(spark, dir).contains(maxBatch))
      .foreach { maxBatch =>
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        // crashed-compaction detector — with the staged flip this state is
        // no longer reachable from compactStore itself (a crash leaves a
        // resumable pointer, handled above), but a mixed-generation
        // RESTORE or manual meddling can still produce it. A generation
        // whose table dirs were all renamed back (the restore the message
        // prescribes) is tolerated: the emptied gen_N is pruned here so
        // the restore alone unblocks compaction (r13 ADVICE — the old
        // message's recovery left gen_N in place and the require refired
        // forever).
        retainedGenerations(spark, dir).headOption.foreach { g =>
          if (!readCompactionStamp(spark, dir).exists(_ >= g)) {
            val gp = new org.apache.hadoop.fs.Path(s"$dir/_history/gen_$g")
            val restored = fs.listStatus(gp).forall(!_.isDirectory)
            require(restored,
              s"store $dir holds generation gen_$g newer than its stamp — " +
                "a compaction crashed mid-archive (or a restore mixed " +
                s"generations); restore the live tables from gen_$g (rename " +
                "them back — the emptied generation is then pruned " +
                "automatically) before compacting again")
            fs.delete(gp, true)
          }
        }
        // stale staging from a run that died BEFORE publishing its pointer
        // is unreferenced garbage — remove it and start fresh
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_staging"), true)
        // 1. fold EVERY table and WRITE the folded bases into the staging
        // generation — the live dirs are untouched, so concurrent readers
        // (and the folds themselves, which read each other's raw runs)
        // keep serving the old generation; a table whose fold wrote no
        // base is dropped ([[writeFoldedBases]]).
        val rewrite = writeFoldedBases(spark, dir, tables, primaryIdCol,
          maxBatch, stagingDir(dir, maxBatch), "overwrite")
        val present = (tables.map(_._1) :+ "deleted")
          .filter(t => pathExists(spark, s"$dir/$t")).toSet
        // 2. publish the pointer (one atomic rename — readers serve the
        // new generation from this instant on), then complete the swap:
        // archive the old runs, install the staged bases, stamp, unlink.
        onStep("staged")
        publishFlip(spark, dir, FlipState(maxBatch, retain,
          readCompactionStamp(spark, dir), rewrite, present -- rewrite))
        onStep("flipped")
        finishCompactionFlip(spark, dir, onStep)
      }
  }

  /** Fold every table of a store, plus its currently-dead ids as the
    * tombstones, to one base run stamped `base` and write it under `dst`
    * with `mode` — the step compaction (into its staging generation) and
    * export (into the clone) share. Returns the tables written. Empty
    * folds split three ways: a spent tombstone table (every tombstoned id
    * re-admitted) carries no information and writes nothing (readers
    * treat a missing `deleted` as mask-free — correct, the data folds
    * already dropped the pre-delete rows); a fold-only table
    * ([[FoldOnlyTables]]) writes nothing either — its readers treat
    * absence as empty, and restamping its raw rows would tie stale
    * elections with the RETIRE rows that overrode them (r13 ADVICE, the
    * takedown-leakage bug); any other all-masked DATA table must stay
    * readable, so its RAW rows restamp to the base id — they stay masked,
    * because data at the stamp never outranks a tombstone at the stamp.
    */
  private def writeFoldedBases(spark: SparkSession, dir: String,
      tables: Seq[(String, () => DataFrame)], idCol: String, base: Long,
      dst: String, mode: String): Set[String] =
    (tables :+ ("deleted" -> (() => deadIds(spark, dir, tables.head._1, idCol))))
      .filter { case (t, _) => pathExists(spark, s"$dir/$t") }
      .flatMap { case (t, fold) =>
        val served = Materialized.of(fold().withColumn("batch_id", lit(base)))
        val rows =
          if (!served.isEmpty) Some(served)
          else if (t == "deleted" || FoldOnlyTables(t)) None
          else Some(Materialized.of(ReadGuard.readRuns(spark, s"$dir/$t")
              .drop("batch_id").withColumn("batch_id", lit(base)))).filterNot(_.isEmpty)
        rows.foreach(_.df.write.mode(mode).partitionBy("batch_id").parquet(s"$dst/$t"))
        rows.map(_ => t)
      }.toSet

  /** Retained pre-compaction generations of a store, newest first (their
    * names carry the batch id each compaction folded through).
    */
  private[graft] def retainedGenerations(
      spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_history")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("gen_") =>
        n.stripPrefix("gen_").toLong }
      .sorted.reverse
  }

  private def pruneGenerations(spark: org.apache.spark.sql.SparkSession,
                               dir: String, retain: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    retainedGenerations(spark, dir).drop(retain).foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_history/gen_$g"), true)
    }
  }

  /** s45 retention resolution: the directory an as-of read serves from.
    * At or past the live stamp (or with no stamp) that is the store
    * itself; below it, the newest retained generation whose OWN
    * folded-through stamp admits the target batch — gen G holds the raw
    * runs of (prior stamp, G] plus the prior base, so it serves any
    * `asOf` in [its stamp, G]. Past the retention window the read fails
    * loudly (the pre-retention contract, now pushed back K generations).
    * Idempotent on an already-resolved generation directory (a gen has
    * no `_history` of its own and its stamp admits the batch by
    * construction), so nested serve-fold calls resolve safely.
    */
  private def resolveAsOfDir(spark: org.apache.spark.sql.SparkSession,
                             dir: String, asOf: Option[Long]): String =
    asOf match {
      case None => dir
      case Some(b) =>
        readCompactionStamp(spark, dir) match {
          case None => dir
          case Some(st) if b >= st => dir
          case Some(st) =>
            val gens = retainedGenerations(spark, dir)
            gens.find { g =>
              b <= g && readCompactionStamp(spark, s"$dir/_history/gen_$g")
                .forall(_ <= b)
            } match {
              case Some(g) => s"$dir/_history/gen_$g"
              case None => throw new IllegalArgumentException(
                s"store $dir is compacted through batch $st and no retained " +
                  s"generation covers as-of $b (retained: " +
                  s"${gens.mkString(", ")}) — raise the compaction " +
                  "retention or restore a pre-compaction backup")
            }
        }
    }

  /** s40 per-store entry points: fold every run (and the tombstones) to
    * one base, serving view unchanged — StreamingSpec pins
    * upsert→delete→compact→upsert == rebuild per store.
    */
  def s32CompactStore(spark: SparkSession, dir: String): Unit =
    compactFamily(spark, dir, "hash")

  def s34CompactStore(spark: SparkSession, dir: String): Unit =
    compactFamily(spark, dir, "chunk")

  def s35CompactStore(spark: SparkSession, dir: String): Unit =
    compactFamily(spark, dir, "assign")

  def s38CompactStore(spark: SparkSession, dir: String): Unit =
    compactFamily(spark, dir, "code")

  /** s36: incremental MAINTENANCE of the persisted graph-ANN index — the
    * one index family that (until this job) could only be rebuilt
    * corpus-wide (n25/n26 write it; s32/s34/s35 maintain the dedup index,
    * chunk store and IVF assignment). Each micro-batch of raw
    * (vec_id, embedding) rows is folded into a three-table store:
    *
    *  - `vectors/`  (vec_id, q, nrm)  — the quantized corpus (the index
    *    stores its vectors; scoring fetches come from here),
    *  - `cells/`    (vec_id, cid)     — top-[[graft.queries.Similarity.BuildProbes]]
    *    IVF blocking cells vs the FIXED broadcast codebook (s35's model),
    *  - `edges/`    (src, dst, cos)   — each affected src's COMPLETE
    *    directed top-k list, re-ranked per batch.
    *
    * The delta fold is EXACT, not approximate: new candidate pairs are
    * IVF-blocked against the full cell store (both directions, so an old
    * src gains its new neighbors and every new src meets the whole
    * history); each affected src's stored top-k list is merged with its
    * new scored candidates and re-ranked on the bounded heap. Because
    * edge scores are static, top-k(stored-top-k ∪ new candidates) ==
    * top-k(all candidates ever) — by induction the maintained directed
    * edges are IDENTICAL to a full rebuild over the same corpus (d19's
    * "indistinguishable" bar, pinned row-for-row in StreamingSpec, plus
    * the n26 batched walk served from the maintained table equals the
    * rebuilt walk). All three moving parts are the batch build's own
    * seams (`topCells`/`scoreDirectedPairs`/`topKEdges` — never
    * re-spelled), so maintained keys/weights/rankings cannot drift.
    *
    * Idempotence: s32/s34/s35's model — every table writes per-batch
    * `batch_id=N` partitions with dynamic partition overwrite; vectors/
    * cells compact under distinct (pure key functions), edges compact by
    * LATEST batch per src (a replayed batch re-merges against its own
    * prior output, and top-k(top-k(S) ∪ Δ) == top-k(S ∪ Δ) makes the
    * rewrite a fixpoint). Scale shapes: per-batch work is
    * batch-cells × store-cells blocking (never all-pairs), narrow id
    * shuffles, and pair scoring via the build's broadcast-fetch seam — at
    * 100 TB that fetch becomes an equi-join against the vectors store
    * bucketed by vec_id (same plan shape, pruned probe), and the edge
    * store buckets by src so the latest-per-src compaction and the
    * serving walk's hop joins both prune.
    */
  def s36UpsertGraphBatch(cents: DataFrame, dir: String)(
      batch: DataFrame, batchId: Long): Unit =
    upsertFold("graph", dir, batch, batchId) { cached =>
      val Sim = graft.queries.Similarity
      val spark = cached.sparkSession
      val prep = Sim.prepareVectors(cached).select("vec_id", "q", "nrm")
        .transform(Materialized.of(_).df)
      // Append-only fence over the LIVE view (r11 advice item 1, made
      // batch-tombstone-aware in r13): the delta fold is exact for ids
      // not currently served — re-ingesting a LIVE id with a different
      // embedding would leave the vectors dedup picking an arbitrary
      // row, the cell union keeping both cell sets, and other srcs'
      // stored lists carrying stale cos edges. Loud-fail instead of
      // silently diverging from the rebuild; the batch's OWN prior run
      // is exempt (foreachBatch redelivery rewrites it wholesale), and
      // a TOMBSTONED id is exempt too — delete-then-upsert is the
      // sanctioned way to change an embedding (the batch mask hides
      // every pre-delete row, so the fold sees the id as new).
      if (pathExists(spark, s"$dir/vectors")) {
        val prior = servedRuns(spark, dir, "vectors", None, Seq("vec_id"), "vec_id")
          .filter(col("batch_id") =!= batchId)
          .select("vec_id")
        val dup = prep.select("vec_id")
          .join(prior, Seq("vec_id"), "left_semi").take(1)
        require(dup.isEmpty,
          s"s36 store $dir is append-only: batch $batchId re-ingests " +
            s"live vec_id ${dup.headOption.map(_.get(0)).orNull} — " +
            "stored embeddings are immutable (delete the id first, then " +
            "re-ingest at a later batch, or use a fresh id)")
      }
      writeRun(prep, s"$dir/vectors", batchId)
      val cellsNew = Sim.topCells(prep,
          cents.select(col("cid"), col("cq"), col("cnrm")))
        .select("vec_id", "cid").transform(Materialized.of(_).df)
      // the stores are read back AFTER the batch's own rows landed: the
      // candidate generation below must see new-new pairs too
      writeRun(cellsNew, s"$dir/cells", batchId)
      val allCells = s36Cells(spark, dir)
      val allVecs = s36Vectors(spark, dir)
      // IVF-blocked candidate pairs touching this batch, BOTH directions
      // (narrow id rows only — the build's d15 discipline)
      val fwd = allCells.select(col("vec_id").as("src"), col("cid"))
        .join(cellsNew.select(col("vec_id").as("dst"), col("cid")), Seq("cid"))
        .select("src", "dst")
      val pairs = fwd
        .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      val newScored = Sim.scoreDirectedPairs(pairs, allVecs)
      // merge each affected src's stored list with its new candidates
      // and re-rank: static scores make this exactly the full top-k
      val affectedOld = s36DirectedEdges(spark, dir)
        .join(newScored.select("src").distinct(), Seq("src"), "left_semi")
      writeRun(Sim.topKEdges(affectedOld.unionByName(newScored).distinct())
        .select("src", "dst", "cos"), s"$dir/edges", batchId)
    }

  def s36GraphMaintain(vectors: DataFrame, cents: DataFrame, dir: String,
                       checkpoint: String): StreamingQuery =
    maintain(vectors, checkpoint)(s36UpsertGraphBatch(cents, dir))

  /** Compacted reads of the s36 store. Vectors/cells rows are pure
    * functions of (vector, codebook) so replayed batches fold under
    * dedup; edges compact by LATEST batch per src — a later batch that
    * touches a src rewrites its complete list.
    */
  def s36Vectors(spark: SparkSession,
                 dir: String, asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "vectors", asOf, Seq("vec_id"), "vec_id", "q", "nrm")
      .drop("batch_id").dropDuplicates("vec_id")

  def s36Cells(spark: SparkSession,
               dir: String, asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "cells", asOf, Seq("vec_id"), "vec_id", "cid")
      .drop("batch_id").distinct()

  /** Latest-per-src fold of the edge runs with the SRC-side batch mask
    * applied before the fold (a deleted src's old lists are masked; its
    * re-admitted lists at a later batch serve) — the physical merge
    * [[s36DirectedEdges]] serves from and [[s36DeleteBatch]] inspects to
    * find srcs whose stored lists contain a freshly-deleted dst. Keeps
    * `batch_id` so the caller can apply the dst-side batch mask per row.
    */
  private def s36LatestEdges(spark: SparkSession, dir: String,
                             asOf: Option[Long] = None): DataFrame =
    if (absent(spark, dir, "edges", asOf))
      // first batch: nothing stored yet — empty frame with the edge schema
      spark.range(0).select(col("id").as("src"), col("id").as("dst"),
        lit(0.0).as("cos"), col("id").as("batch_id"))
    else latestPerKey(servedRuns(spark, dir, "edges", asOf, Seq("src"),
      "src", "dst", "cos"), "src")

  /** The served directed edges: latest live list per src, minus STALE
    * dst references via the batch mask — an edge row at batch B naming a
    * dst tombstoned at M ≥ B is masked (pre-delete edges of a dead OR
    * re-admitted dst), while an edge written after the dst's re-admission
    * (B > M) serves. This per-row ordering is what makes re-admission
    * exact: a re-admitted vector's new embedding re-enters other srcs'
    * lists only through the insert fold's re-rank (batch > M), and no
    * pre-delete edge scored against the OLD embedding can leak back. For
    * a dead dst it degenerates to the old anti-join: every edge naming it
    * predates its tombstone, so a src whose post-delete re-rank produced
    * no replacement row still has its list only SHORTENED — exactly the
    * rebuild, because [[s36DeleteBatch]] re-ranked every src with live
    * candidates left.
    */
  def s36DirectedEdges(spark: SparkSession,
                       dir0: String, asOf: Option[Long] = None): DataFrame = {
    val dir = resolveAsOfDir(spark, dir0, asOf)
    maskDeleted(s36LatestEdges(spark, dir, asOf), spark, dir, Seq("dst"), asOf)
      .select("src", "dst", "cos")
  }

  /** s39's graph-store member: DELETE a batch of vec_ids from the s36
    * store — the lifecycle verb the insert-only fold couldn't express
    * (r11 verdict item 1). Removal breaks the static-score closure that
    * made inserts exact (a deleted dst must be REPLACED in other srcs'
    * bounded lists by the next-best candidate, which the stored top-k no
    * longer knows), so the fold is two-phase:
    *
    *  1. tombstone the ids (the shared `deleted` run — their own vectors/
    *     cells/edge rows disappear from every served view via the
    *     anti-joins), then
    *  2. re-rank exactly the srcs whose stored lists contain a deleted
    *     dst: regenerate THEIR candidates from the post-delete cell store
    *     (the build's own IVF blocking — never corpus-wide) and rewrite
    *     their complete lists as this batch's edge run (latest-per-src
    *     makes the rewrite authoritative).
    *
    * Exactness: an affected src's regenerated candidate set IS the
    * rebuild's candidate set over the live corpus (cells are pure
    * per-vector functions of the fixed codebook, so blocking is delete-
    * stable), scores are static, and unaffected srcs' lists are rebuild-
    * identical because removing a candidate outside a bounded top-k
    * never changes the top-k. StreamingSpec pins delete-then-maintain ==
    * full rebuild over the live corpus, row-for-row, plus the served
    * walk. Cost: |affected srcs| × blocking fan-in — bounded by delete
    * traffic, never the corpus.
    *
    * Replay idempotence: the tombstone run overwrites its own partition;
    * on a redelivered batch the affected set is empty (the first pass's
    * re-ranked lists no longer contain deleted dsts), so the fold is a
    * fixpoint.
    */
  def s36DeleteBatch(dir: String)(deletes: DataFrame, batchId: Long): Unit =
    if (tombstoneBatch("graph", dir)(deletes, batchId)) {
      val Sim = graft.queries.Similarity
      val spark = deletes.sparkSession
      // srcs (themselves live) whose CURRENT stored list names ANY
      // currently-DEAD dst — the effective set, not every id ever
      // tombstoned: a re-admitted dst legitimately appears in lists
      // written after its re-admission. Computed against the full dead
      // set, so a replayed delete finds nothing left to re-rank.
      val del = deadIds(spark, dir, "vectors", "vec_id")
      val affected = s36LatestEdges(spark, dir)
        .join(broadcast(del.withColumnRenamed("id", "dst")),
          Seq("dst"), "left_semi")
        .join(broadcast(del.withColumnRenamed("id", "src")),
          Seq("src"), "left_anti")
        .select("src").distinct()
      // regenerate exactly those srcs' candidates from the POST-delete
      // cell store (both stores now serve tombstone-filtered views) and
      // re-rank on the build's own seams
      val cells = s36Cells(spark, dir)
      val srcCells = cells
        .join(affected.withColumnRenamed("src", "vec_id"),
          Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("src"), col("cid"))
      val pairs = srcCells
        .join(cells.select(col("vec_id").as("dst"), col("cid")), Seq("cid"))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct()
      val reranked = Materialized.of(Sim.topKEdges(
          Sim.scoreDirectedPairs(pairs, s36Vectors(spark, dir)))
        .select("src", "dst", "cos"))
      if (!reranked.isEmpty) writeRun(reranked.df, s"$dir/edges", batchId)
    }

  /** The serving view: symmetrized adjacency of the maintained directed
    * edges — the table the n26 batched walk reads.
    */
  def s36Adjacency(spark: org.apache.spark.sql.SparkSession,
                   dir: String, asOf: Option[Long] = None): DataFrame =
    graft.queries.Similarity.symmetrize(s36DirectedEdges(spark, dir, asOf))

  /** s37: COMPACTION of the s36 graph-index store — the LSM fold the
    * per-batch partition-overwrite model defers: every s36 batch adds a
    * `batch_id=N` run to each of the three tables, so after K batches a
    * serve pays a K-run merge (latest-per-src on edges, dedup on
    * vectors/cells) and the store carries K× the small files (the 100 TB
    * small-files problem). This job materializes each table's folded view
    * ONCE (localCheckpoint — a store cannot be overwritten while a lazy
    * plan still reads it) and rewrites it as a SINGLE base run stamped
    * with the highest folded batch_id, so the latest-wins invariant keeps
    * holding: a future batch N+1 still overrides the base for the srcs it
    * touches, and the incremental fold on top of a compacted store
    * remains exactly the full rebuild (StreamingSpec pins
    * upsert→upsert→compact→upsert == rebuild).
    *
    * Coordination contract (the LSM norm): compaction runs at a batch
    * boundary — a replay of a batch OLDER than the base stamp would
    * resurrect a folded run. Since r12 the contract is ENFORCED, not just
    * stated: [[compactStore]] records the folded-through id in the
    * store's `_compaction_stamp` file and [[requireFreshBatch]] makes a
    * stale replay fail loudly instead of corrupting the base
    * (RobustnessSpec plants exactly that replay). The fold itself is the
    * generalized [[compactStore]] seam, shared with the s32/s34/s35/s38
    * stores (s40).
    */
  def s37CompactEdgeStore(spark: SparkSession, dir: String): Unit =
    compactFamily(spark, dir, "graph")

  /** s43: streaming maintenance of the persisted dedup CLUSTER store —
    * the fourth derived artifact brought to full lifecycle parity (the
    * ANN families got build→persist→maintain→compact across r10–r12; the
    * cluster table was still an in-JVM memo + two query-shaped
    * incrementals, d19 for edge additions and d32 for retractions). The
    * store composes s32's maintained hash/band index with a `labels/`
    * table of per-batch (doc_id, cluster) runs, served latest-per-doc
    * with tombstone filtering ([[s43Clusters]]).
    *
    * INSERT fold (d19's min-label merge algebra, made replay-safe):
    *  1. the s32 fold lands the batch's hash/band runs (fence + deleted
    *     guard included); the label fold then reads the batch's band run
    *     BACK from the store — the fold clusters on exactly the keys the
    *     index serves, never a re-derivation;
    *  2. candidate pairs touching the batch: batch bands ⋈ the FULL band
    *     index (both directions — an old doc meets the new ones and every
    *     new doc meets the whole history), narrow id rows only;
    *  3. pairs CONTRACT through current labels (new docs label
    *     themselves), one CC runs on the contracted label graph — bounded
    *     by the batch's pair fan-in, never the corpus — and every live
    *     doc whose label merged, plus the batch docs, is rewritten with
    *     the merged min label.
    *  Replay safety: on a redelivered batch the contraction is the
    *  identity on already-merged labels, so the affected set (= the
    *  merged components ∪ batch docs) and every written value reproduce
    *  exactly — the fold is a fixpoint (s36's discipline).
    *
    * DELETE fold (d32's affected-recompute, store-shaped):
    *  1. tombstone the ids (the shared s32 delete — hash/band/label reads
    *     all anti-join it);
    *  2. seeds = PARTNERS: live docs band-adjacent to any tombstoned doc
    *     — a pure function of (band store, tombstones), hence
    *     replay-stable;
    *  3. affected = the partners' current components (one label closure
    *     step); their post-delete components re-derive by CC over the
    *     affected docs' live band pairs — cost bounded by the touched
    *     clusters, never the corpus — and ALL affected docs rewrite.
    *  Replay safety: every post-component whose labels changed contains a
    *  partner (a split can only happen through a deleted doc, whose live
    *  neighbours ARE partners), so a replay recomputes the same values;
    *  rows that drop out of the replayed run were label-preserving, so
    *  latest-per-doc falls back to an equal older row — the SERVED view
    *  is a fixpoint even where the run contents differ.
    *
    * StreamingSpec pins an interleaved upsert→delete→compact→upsert
    * lifecycle against the d05 rebuild (clusterTableOf over the live
    * corpus's own pair plan) at every step, plus replay fixpoints.
    */
  def s43UpsertClusterBatch(dir: String)(batch: DataFrame, batchId: Long): Unit = {
    s32UpsertIndexBatch(dir)(batch, batchId)
    val spark = batch.sparkSession
    if (pathExists(spark, s"$dir/bands")) {
      val batchBands = Materialized.of(ReadGuard.readRuns(spark, s"$dir/bands")
        .filter(col("batch_id").cast("long") === batchId)
        .select("doc_id", "band_key"))
      if (!batchBands.isEmpty) {
        val storeBands = s32BandIndex(spark, dir)
        val fwd = storeBands.select(col("doc_id").as("d1"), col("band_key"))
          .join(batchBands.df.select(col("doc_id").as("d2"), col("band_key")),
            Seq("band_key"))
          .filter(col("d1") =!= col("d2"))
          .select("d1", "d2")
        val touching = fwd
          .unionByName(fwd.select(col("d2").as("d1"), col("d1").as("d2")))
          .distinct().transform(Materialized.of(_).df)
        val live = s43Clusters(spark, dir)
        // contract doc pairs to label edges; batch docs default to self
        def lblOf(side: String) = live
          .select(col("doc_id").as(side), col("cluster").as(s"l$side"))
        val contracted = touching
          .join(lblOf("d1"), Seq("d1"), "left")
          .join(lblOf("d2"), Seq("d2"), "left")
          .select(coalesce(col("ld1"), col("d1")).as("d1"),
                  coalesce(col("ld2"), col("d2")).as("d2"))
        val labelNodes = contracted.select(col("d1").as("doc_id"))
          .unionByName(contracted.select(col("d2").as("doc_id"))).distinct()
        val mergeMap = graft.queries.Dedup
          .clusterTableOf(labelNodes, contracted)
          .select(col("doc_id").as("old_lbl"), col("cluster").as("new_lbl"))
          .transform(Materialized.of(_).df)
        val batchCur = batchBands.df.select("doc_id").distinct()
          .join(live.withColumnRenamed("cluster", "cur"), Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("cur"), col("doc_id")).as("cluster"))
        val affected = live
          .join(mergeMap.select(col("old_lbl").as("cluster")),
            Seq("cluster"), "left_semi")
          .select("doc_id", "cluster")
          .unionByName(batchCur).distinct()
        writeRun(affected
          .join(mergeMap, affected("cluster") === mergeMap("old_lbl"), "left")
          .select(col("doc_id"),
            coalesce(col("new_lbl"), col("cluster")).as("cluster")),
          s"$dir/labels", batchId)
      }
    }
  }

  def s43DeleteClusterBatch(dir: String)(deletes: DataFrame, batchId: Long): Unit = {
    s32DeleteBatch(dir)(deletes, batchId)
    val spark = deletes.sparkSession
    if (pathExists(spark, s"$dir/labels") && pathExists(spark, deletedPath(dir))) {
      // the effective dead set (not every id ever tombstoned): only a doc
      // actually LEAVING the corpus seeds partner recomputation — a
      // previously re-admitted doc is live and must not be treated as gone
      val del = deadIds(spark, dir, "hash56", "doc_id")
      // partner seeds: live docs sharing a band with ANY tombstoned doc
      // (the deleted side reads the RAW band runs — its rows are already
      // invisible to the serving index)
      val delBandKeys = ReadGuard.readRuns(spark, s"$dir/bands")
        .select("doc_id", "band_key")
        .join(broadcast(del.withColumnRenamed("id", "doc_id")),
          Seq("doc_id"), "left_semi")
        .select("band_key").distinct()
      val liveBands = s32BandIndex(spark, dir)
      val partners = liveBands
        .join(delBandKeys, Seq("band_key"), "left_semi")
        .select("doc_id").distinct()
      val live = s43Clusters(spark, dir)
      // affected = the partners' whole current components
      val partnerLabels = live.join(partners, Seq("doc_id"), "left_semi")
        .select("cluster").distinct()
      val affected = Materialized.of(
        live.join(partnerLabels, Seq("cluster"), "left_semi").select("doc_id"))
      if (!affected.isEmpty) {
        // re-derive the post-delete components from the affected docs'
        // live band pairs (pairs cannot leave a component, so the edge
        // set is complete for every affected component)
        val affBands = liveBands.join(affected.df, Seq("doc_id"), "left_semi")
        val a = affBands.select(col("doc_id").as("d1"), col("band_key"))
        val b = affBands.select(col("doc_id").as("d2"), col("band_key"))
        val pairs = a.join(b, Seq("band_key"))
          .filter(col("d1") < col("d2"))
          .select("d1", "d2").distinct()
        writeRun(graft.queries.Dedup.clusterTableOf(affected.df, pairs),
          s"$dir/labels", batchId)
      }
    }
  }

  def s43ClusterMaintain(docs: DataFrame, dir: String,
                         checkpoint: String): StreamingQuery =
    maintain(docs, checkpoint)(s43UpsertClusterBatch(dir))

  /** The served cluster table: latest live label per doc — the batch mask
    * runs BEFORE the latest-per-doc fold, so a re-admitted doc serves its
    * post-re-admission label and never a pre-delete one.
    */
  def s43Clusters(spark: SparkSession,
                  dir: String, asOf: Option[Long] = None): DataFrame =
    if (absent(spark, dir, "labels", asOf))
      spark.range(0).select(col("id").as("doc_id"), col("id").as("cluster"))
    else latestPerKey(servedRuns(spark, dir, "labels", asOf, Seq("doc_id"),
      "doc_id", "cluster"), "doc_id").drop("batch_id")

  /** s40 applied to the cluster store: hash/band/label runs (and the
    * tombstones) fold to one base each; the served cluster table is the
    * labels fold, so the latest-wins invariant carries over unchanged.
    */
  def s43CompactStore(spark: SparkSession, dir: String): Unit =
    compactFamily(spark, dir, "cluster")

  // ===== s48: the maintained GOLDEN-RECORD table (r12 verdict item 5 —
  // ===== d33 elects survivors batch-only; this keeps the election current
  // ===== through the s43 cluster store's own insert/delete folds).

  /** s48: streaming maintenance of the golden-record (survivorship) table
    * over the s43 cluster store — d33's election
    * ([[graft.queries.Dedup.goldenAggOf]], the single-sourced max_by/
    * min_by policies) re-run PER BATCH over only the AFFECTED clusters:
    * the labels the batch's cluster fold rewrote, plus the labels its
    * docs held before (a merge retires the absorbed label), plus the
    * former labels of freshly tombstoned docs (a retraction shrinks or
    * splits their clusters). Each golden run writes one authoritative row
    * per affected label — the full election where the label still heads a
    * live cluster, an all-null RETIRE row where it no longer does — and
    * the serve ([[s48Golden]]) is latest-per-label filtered to
    * `cluster_size >= 2` (d33's multi-member contract; retire/singleton
    * rows exist to OVERRIDE older multi-member elections, the removal a
    * latest-wins fold cannot otherwise express).
    *
    * The member attributes d33 elects over (lang/source/n_chars) ride a
    * `docattrs/` table maintained with the store's own run discipline, so
    * a re-admitted doc's CORRECTED attributes elect (the batch mask hides
    * its pre-delete row). Exactness: an unaffected cluster's membership
    * is unchanged by construction (labels only move through the fold that
    * computes the affected set), so re-electing only affected clusters
    * equals the d33 rebuild over the live corpus — pinned in
    * StreamingSpec through an interleaved upsert/delete/compact/re-admit
    * lifecycle. Cost per batch: the affected set is batch-traffic-sized;
    * membership comes from one semi-join against the served clusters;
    * the election is two partial-agg groupBys over those members.
    */
  def s48UpsertGoldenBatch(dir: String)(batch: DataFrame, batchId: Long): Unit =
    upsertFold("golden", dir, batch, batchId) { cached =>
      s43UpsertClusterBatch(dir)(cached.select("doc_id", "text"), batchId)
      writeRun(cached.select("doc_id", "lang", "source", "n_chars").distinct(),
        s"$dir/docattrs", batchId)
      reelectGolden(cached.sparkSession, dir, batchId)
    }

  def s48DeleteGoldenBatch(dir: String)(deletes: DataFrame, batchId: Long): Unit = {
    s43DeleteClusterBatch(dir)(deletes, batchId)
    val spark = deletes.sparkSession
    if (pathExists(spark, s"$dir/labels")) reelectGolden(spark, dir, batchId)
  }

  def s48GoldenMaintain(docs: DataFrame, dir: String,
                        checkpoint: String): StreamingQuery =
    maintain(docs, checkpoint)(s48UpsertGoldenBatch(dir))

  /** The per-batch re-election: affected labels → members from the SERVED
    * views → one authoritative golden row per affected label (election or
    * retire). Replay-safe: the affected set is a pure function of the
    * store's post-fold state, which the cluster folds reproduce on
    * redelivery, so the rewritten `batch_id=N` golden partition is a
    * fixpoint.
    */
  private def reelectGolden(spark: org.apache.spark.sql.SparkSession,
                            dir: String, batchId: Long): Unit = {
    if (!pathExists(spark, s"$dir/labels")) return
    val labelsRaw = ReadGuard.readRuns(spark, s"$dir/labels")
      .select(col("doc_id"), col("cluster"),
        col("batch_id").cast("long").as("batch_id"))
    val runLabels = labelsRaw.filter(col("batch_id") === batchId)
      .select("doc_id", "cluster").transform(Materialized.of(_).df)
    // docs whose cluster membership this batch may have changed: the
    // fold's rewritten docs plus the ids tombstoned AT this batch
    val newlyDead =
      if (!pathExists(spark, deletedPath(dir)))
        spark.range(0).select(col("id").as("doc_id"))
      else ReadGuard.readRuns(spark, deletedPath(dir))
        .filter(col("batch_id").cast("long") === batchId)
        .select(col("id").as("doc_id"))
    val touched = runLabels.select("doc_id").unionByName(newlyDead).distinct()
    // ... and the labels those docs held BEFORE this batch (read from the
    // immutable run history — merges/splits retire or shrink these)
    val priorLabels = latestPerKey(labelsRaw.filter(col("batch_id") < batchId)
      .join(touched, Seq("doc_id"), "left_semi"), "doc_id").select("cluster")
    val affected = Materialized.of(
      runLabels.select("cluster").unionByName(priorLabels).distinct())
    if (affected.isEmpty) return
    val served = s43Clusters(spark, dir)
    val mem = served.join(affected.df, Seq("cluster"), "left_semi")
      .join(s48DocAttrs(spark, dir), "doc_id")
    val elected = graft.queries.Dedup.goldenAggOf(mem).transform(Materialized.of(_).df)
    // retire rows: affected labels that no longer head ANY live member —
    // all-null payload (the left join against the empty election supplies
    // the exact dtypes), filtered out by the serve's size >= 2
    val retired = affected.df.select(col("cluster").as("kept_doc"))
      .join(elected.select(col("kept_doc")), Seq("kept_doc"), "left_anti")
      .join(elected.limit(0), Seq("kept_doc"), "left")
    writeRun(elected.unionByName(retired), s"$dir/golden", batchId)
  }

  /** Served member attributes: latest live row per doc (the election
    * inputs — a re-admitted doc's corrected attributes supersede).
    */
  def s48DocAttrs(spark: SparkSession,
                  dir: String, asOf: Option[Long] = None): DataFrame =
    latestPerKey(servedRuns(spark, dir, "docattrs", asOf, Seq("doc_id"),
      "doc_id", "lang", "source", "n_chars"), "doc_id").drop("batch_id")

  /** The served golden table: latest authoritative row per label, retire
    * and singleton rows filtered by d33's multi-member contract. No
    * tombstone mask — golden rows are keyed by cluster label, and the
    * re-election folds write the authoritative row whenever a label's
    * membership changes (including through deletes).
    */
  def s48Golden(spark: SparkSession,
                dir: String, asOf: Option[Long] = None): DataFrame =
    if (absent(spark, dir, "golden", asOf))
      spark.range(0).select(col("id").as("kept_doc"),
        col("id").as("cluster_size"), col("id").as("n_sources"),
        col("id").as("total_chars"), col("id").as("rep_doc"),
        col("id").as("rep_chars"), lit("").as("lang_mode"))
    else latestPerKey(servedRuns(spark, dir, "golden", asOf, Nil,
        "kept_doc", "cluster_size", "n_sources", "total_chars",
        "rep_doc", "rep_chars", "lang_mode"), "kept_doc")
      .filter(col("cluster_size") >= 2).drop("batch_id")

  /** s40 applied to the golden store: the s43 tables plus attrs and the
    * golden table itself (folded to the SERVED view — retire/singleton
    * history is spent once the rows it overrode are physically gone).
    */
  def s48CompactStore(spark: SparkSession, dir: String): Unit =
    compactFamily(spark, dir, "golden")

  // ===== s49: consistent store EXPORT (backup/clone) — the last ops verb
  // ===== the store family lacked: everything else mutates in place.

  /** s49: export a maintained store's CONSISTENT state into a fresh root —
    * the backup/clone/promotion verb (copy a serving index to a new
    * cluster, snapshot before a risky migration, fork a staging copy):
    * every family table's SERVED view ([[familyTables]] — tombstone-
    * masked, key-folded, exactly what readers see) is written as a single
    * base run into `dstDir`, stamped with the source's fold-through batch
    * id, plus the currently-dead id set as the clone's tombstones and the
    * stamp file. The clone therefore (a) serves row-identically, (b)
    * fscks green, (c) is physically MINIMAL — no replay duplicates, no
    * masked rows, no run fragmentation, no history — and (d) is a fully
    * live store: the carried stamp makes the s41 fence refuse stale
    * replays at the same boundary as the source, and upserts/deletes/
    * compactions continue from the stamp exactly as they would have on
    * the source. Empty folds follow compaction's discipline: an
    * all-masked DATA table exports its RAW rows restamped to the base id
    * (readable, still masked, fsck-clean), and a SPENT tombstone table
    * (every tombstoned id re-admitted) is simply absent on the clone —
    * mask-free is correct once the data folds dropped the pre-delete
    * rows. Cost: one serve-fold scan per table, written once — the same
    * work a compaction pays, against a different root.
    */
  def s49ExportStore(spark: org.apache.spark.sql.SparkSession,
                     srcDir: String, dstDir: String, family: String): Unit = {
    // an in-flight flip means the source's live dirs are mid-swap; the
    // export must not read raw runs through that window — complete the
    // compaction (the family's CompactStore resumes it) and re-export
    require(readFlip(spark, srcDir).isEmpty,
      s"store $srcDir has an in-flight compaction flip — complete it " +
        "(the family's CompactStore entry point resumes the swap) " +
        "before exporting")
    // a backup of a corrupt store is a corrupt backup (r13 verdict item 5,
    // the restore drill): fsck the source's served views first — an
    // export from a damaged store REFUSES, and the operator restores from
    // the last HEALTHY clone instead (pinned in StreamingSpec's drill)
    s46RequireHealthy(spark, srcDir, family)
    val tables = familyTables(spark, srcDir, family)
    maxRun(spark, srcDir, tables.map(_._1)).foreach { maxBatch =>
      // the clone holds exactly the tables whose fold wrote a base: a
      // spent tombstone table or an empty fold-only table is absent on the
      // clone, which its readers treat as mask-free / empty
      writeFoldedBases(spark, srcDir, tables, storeFamily(family).idCol,
        maxBatch, dstDir, "errorifexists")
      writeCompactionStamp(spark, dstDir, maxBatch)
    }
  }

  // ===== s50: coordinated multi-store INGEST — p14 coordinates deletes
  // ===== across the family; nothing coordinated INSERTS until now.

  /** s50: one logical ingest batch lands in EVERY maintained store, with a
    * MANIFEST that makes cross-store lag observable and recovery
    * mechanical: each modality's rows run the family's OWN upsert fold
    * (docs → hash/cluster/golden, vectors → assign/code/graph, media →
    * chunk — never re-spelled) at ONE shared batch id, and the manifest
    * run (family, dir, n_rows) is written LAST — so a manifest row exists
    * only for a batch every listed store committed. A crash mid-ingest
    * leaves some stores holding a batch the manifest never acknowledged;
    * [[s50CoordinationAudit]] names them as `ahead` (the replay-this-
    * batch signal — every fold is a redelivery fixpoint, so rerunning
    * s50 at the same id heals), and a store missing an acknowledged
    * batch as `behind` (a mixed-generation restore — page someone).
    * [[s50RequireCoordinated]] is the loud-fail wrapper.
    * Scale shape: the folds' own documented costs; the manifest is
    * O(stores) rows; the audit is pure filesystem listings.
    */
  /** Multi-writer fencing for coordinated ingest (r13 verdict item 3):
    * s41 fences REPLAYS per store, but nothing refused two concurrent
    * coordinated ingests interleaving batch ids across stores and
    * committing manifests out of order. The store family takes ONE
    * writer lease — a file under the manifest dir created with
    * `overwrite = false` (atomic create-if-absent on HDFS and object
    * stores with conditional-put semantics) — held for the duration of
    * [[s50IngestAll]]. A second writer fails LOUDLY at acquisition,
    * before touching any store, with the holder's identity and the
    * takeover verb in the message; a crashed writer's stale lease is
    * broken explicitly via [[s50BreakLease]] (a human/orchestrator
    * decision — the audit tells them whether the dead writer's batch
    * needs replaying). The lease costs two metadata ops per ingest.
    */
  private def leasePath(manifestDir: String) = s"$manifestDir/_lease"

  private[graft] def s50AcquireLease(spark: org.apache.spark.sql.SparkSession,
                                     manifestDir: String,
                                     owner: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(leasePath(manifestDir))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def refuse(): Nothing = {
      val holder =
        try {
          val in = fs.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        } catch { case _: Throwable => "<unreadable>" }
      throw new IllegalStateException(
        s"coordinated-ingest lease for $manifestDir is held by [$holder] — " +
          "a second writer would interleave batch ids across the stores; " +
          "wait for the holder, or if it is dead run s50BreakLease (then " +
          "check s50CoordinationAudit for an unacknowledged batch to replay)")
    }
    if (fs.exists(p)) refuse()
    val out =
      try fs.create(p, false)
      catch { case _: java.io.IOException => refuse() } // lost the race
    try out.write(
      s"$owner acquired_ms=${System.currentTimeMillis()}".getBytes("UTF-8"))
    finally out.close()
  }

  private[graft] def s50ReleaseLease(spark: org.apache.spark.sql.SparkSession,
                                     manifestDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(leasePath(manifestDir))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, false)
  }

  /** Takeover verb for a CRASHED coordinated writer: breaks the lease
    * LOUDLY — requires one exists (breaking a non-existent lease is an
    * operator error worth surfacing) and returns the evicted holder line
    * for the incident log. The caller's next step is always
    * [[s50CoordinationAudit]]: a store the dead writer left `ahead`
    * heals by replaying its batch through [[s50IngestAll]].
    */
  def s50BreakLease(spark: org.apache.spark.sql.SparkSession,
                    manifestDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(leasePath(manifestDir))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p),
      s"no coordinated-ingest lease exists under $manifestDir — nothing " +
        "to break (did the writer already release it?)")
    val in = fs.open(p)
    val holder =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    fs.delete(p, false)
    holder
  }

  def s50IngestAll(docs: DataFrame, vectors: DataFrame, media: DataFrame,
                   stores: Map[String, String], manifestDir: String,
                   batchId: Long, cents: DataFrame,
                   cbook: DataFrame,
                   writerId: String = null): Unit = {
    val spark = docs.sparkSession
    val owner = Option(writerId).getOrElse(
      s"writer-${java.util.UUID.randomUUID().toString.take(8)}")
    s50AcquireLease(spark, manifestDir, s"$owner batch=$batchId")
    try s50IngestAllLocked(docs, vectors, media, stores, manifestDir,
      batchId, cents, cbook)
    finally s50ReleaseLease(spark, manifestDir)
  }

  private def s50IngestAllLocked(
      docs: DataFrame, vectors: DataFrame, media: DataFrame,
      stores: Map[String, String], manifestDir: String,
      batchId: Long, cents: DataFrame, cbook: DataFrame): Unit = {
    val spark = docs.sparkSession
    // every family resolves before any store is touched
    val targets = stores.toSeq.sortBy(_._1)
      .map { case (family, dir) => (family, dir, storeFamily(family)) }
    val in = new Ingest(docs, vectors, media, cents, cbook)
    val rows = targets.map { case (family, dir, fam) =>
      (family, dir, fam.ingest(in, dir, batchId))
    }
    // the COMMIT MARK: written after every fold above returned — a crash
    // anywhere earlier leaves this batch unacknowledged (stores `ahead`)
    import spark.implicits._
    writeRun(rows.toDF("family", "dir", "n_rows").coalesce(1),
      manifestDir, batchId)
  }

  /** The coordination audit: per listed store, its highest committed
    * batch (primary-table partition listing) vs the manifest's highest
    * batch that acknowledged THAT family WITH ROWS — `committed` when
    * equal, `ahead` when the store holds unacknowledged work (replay the
    * batch through [[s50IngestAll]]; the folds are fixpoints), `behind`
    * when the manifest acknowledges a batch the store lacks (a
    * mixed-generation restore — loud). Per-family with the n_rows > 0
    * filter, NOT the manifest's global max: the upsert folds skip an
    * empty batch entirely (no `batch_id=N` partition lands), so a
    * modality with zero rows in a batch — routine in real ingest — must
    * not read as a permanently-`behind` store.
    */
  def s50CoordinationAudit(spark: org.apache.spark.sql.SparkSession,
                           manifestDir: String,
                           stores: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val expected: Map[String, Long] =
      if (!pathExists(spark, manifestDir)) Map.empty
      else spark.read.parquet(manifestDir)
        .filter(col("n_rows") > 0)
        .groupBy("family")
        .agg(max(col("batch_id").cast("long")).as("mb"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    stores.toSeq.sortBy(_._1).map { case (family, dir) =>
      val storeMax =
        maxBatchIn(spark, s"$dir/${tableNames(family).head}")
          .getOrElse(-1L)
      val ackMax = expected.getOrElse(family, -1L)
      // compaction restamps the primary table to the max batch across ALL
      // tables including the tombstones, so after a tombstone-only batch
      // + compaction the store legitimately holds a batch id past the
      // last acknowledged INGEST batch — the stamp bounds that restamp,
      // so storeMax ≤ max(ackMax, stamp) is committed, not 'ahead'
      // (r13 ADVICE: the old compare prescribed replaying a batch that
      // was never an ingest).
      val stamp = readCompactionStamp(spark, dir).getOrElse(-1L)
      val status =
        if (storeMax == ackMax) "committed"
        else if (storeMax > ackMax)
          if (storeMax <= stamp) "committed" else "ahead"
        else "behind"
      (family, dir, storeMax, ackMax, status)
    }.toDF("family", "dir", "store_max_batch", "manifest_max_batch", "status")
      .orderBy("family")
  }

  /** Loud-fail wrapper over [[s50CoordinationAudit]]: every store must be
    * `committed`; the message names the laggards and the recovery verb.
    */
  def s50RequireCoordinated(spark: org.apache.spark.sql.SparkSession,
                            manifestDir: String,
                            stores: Map[String, String]): Unit = {
    val bad = s50CoordinationAudit(spark, manifestDir, stores)
      .filter(col("status") =!= "committed")
      .collect()
      .map(r => s"${r.getString(0)}=${r.getString(4)}@${r.getLong(2)}")
    require(bad.isEmpty,
      s"stores out of coordination (manifest $manifestDir): " +
        s"${bad.mkString(", ")} — 'ahead' heals by replaying the batch " +
        "through s50IngestAll; 'behind' is a mixed-generation restore")
  }

  // ===== s51: the maintained PREFIX-FILTER similarity index (r13 verdict
  // ===== item 7, "d36") — p04/s32 gave exact-hash and LSH dedup their
  // ===== delta paths; the AllPairs/d15 EXACT-similarity family still
  // ===== rebuilt corpus-wide on every run.

  /** s51 init: FREEZE the token total order. The store's completeness
    * contract is the prefix filter's — every J ≥ τ pair shares a prefix
    * token — which holds under ANY total order as long as every prefix
    * (stored and probing) is computed under the SAME one. d15 derives
    * its order (df ASC, h ASC) from the corpus per run; a maintained
    * index cannot (arrivals would re-order prefixes already written), so
    * the order is frozen at init from a seed corpus and lives as a store
    * table (`order`) — the s35 fixed-codebook pattern: the decision data
    * travels WITH the index through compaction, export and restore.
    * Tokens unseen at freeze rank df = 0 (rare-first, ties by hash):
    * still one shared total order, so completeness is untouched; only
    * candidate-pruning efficiency decays as the corpus drifts from the
    * seed (re-freeze = rebuild into a fresh root, the s42→n27 retrain
    * handoff's shape). The served τ-pair set is order-INDEPENDENT
    * (verification is exact), so maintained == d15 rebuild exactly.
    */
  def s51InitStore(spark: org.apache.spark.sql.SparkSession, dir: String,
                   seedDocs: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    require(!pathExists(spark, s"$dir/order"),
      s"store $dir is already initialized (order table present) — the " +
        "frozen token order is immutable; rebuild into a fresh root to " +
        "re-freeze")
    graft.queries.Dedup.shingleHashes(
        seedDocs.select(col("doc_id"),
          split(col("text"), " ").as("tokens")),
        graft.queries.Dedup.PrefixShingleK)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .withColumn("batch_id", lit(0L))
      .write.mode("errorifexists").partitionBy("batch_id")
      .parquet(s"$dir/order")
    spark.catalog.refreshByPath(s"$dir/order")
  }

  /** s51 upsert fold: index the batch under the frozen order, then
    * compute exactly the NEW qualifying pairs — the batch's prefix
    * tokens probed against the SERVED prefix index (which includes this
    * run, so delta×old in both directions AND delta×delta come out of
    * ONE equi-join), pruned by d15's exact length + positional filters,
    * verified by the same merge-count — and append them as this batch's
    * `pairs` run. Cost per batch: |delta| index rows written +
    * |delta-prefix ⋈ index-prefix| candidates — |delta| + |index| scale,
    * never corpus²; an unaffected pair is never recomputed (old×old
    * candidates cannot enter the join: one side is always the delta).
    * Replay-safe: every table's run is a pure function of (batch, frozen
    * order, prior serve), rewritten under dynamic partition overwrite.
    */
  def s51UpsertBatch(dir: String)(batch: DataFrame, batchId: Long): Unit =
    upsertFold("prefix", dir, batch, batchId) { cached =>
      val tau = graft.queries.Dedup.PrefixTauPct
      val spark = cached.sparkSession
      require(pathExists(spark, s"$dir/order"),
        s"store $dir is not initialized — run s51InitStore (the frozen " +
          "token order) before the first upsert")
      val idx = graft.queries.Dedup.prefixIndexUnderOrder(
          cached.select("doc_id", "text"), s51Order(spark, dir),
          tau, graft.queries.Dedup.PrefixShingleK)
        .transform(Materialized.of(_).df)
      writeRun(idx.select("doc_id", "varr", "sz", "plen"), s"$dir/toks", batchId)
      val newPrefix = idx
        .select(col("doc_id"), col("sz"),
          posexplode(expr("slice(tarr, 1, cast(plen as int))"))
            .as(Seq("p", "h")))
      writeRun(newPrefix, s"$dir/prefix", batchId)
      // candidates: delta prefix ⋈ served prefix (ordered-pair
      // normalization via when-swaps so the positional filter keeps
      // each side's own sz/p); filters + verify are d15's, verbatim
      val n = newPrefix.select(col("doc_id").as("nd"), col("sz").as("ns"),
        col("p").as("np"), col("h"))
      val o = s51PrefixRows(spark, dir).select(col("doc_id").as("od"),
        col("sz").as("os"), col("p").as("op"), col("h"))
      val cand = n.join(o, Seq("h"))
        .filter(col("nd") =!= col("od"))
        .select(
          least(col("nd"), col("od")).as("d1"),
          greatest(col("nd"), col("od")).as("d2"),
          when(col("nd") < col("od"), col("ns")).otherwise(col("os")).as("sa"),
          when(col("nd") < col("od"), col("os")).otherwise(col("ns")).as("sb"),
          when(col("nd") < col("od"), col("np")).otherwise(col("op")).as("pa"),
          when(col("nd") < col("od"), col("op")).otherwise(col("np")).as("pb"))
        .filter(least(col("sa"), col("sb")) * 100 >=
          greatest(col("sa"), col("sb")) * tau)
        .filter((lit(1) + least(col("sa") - col("pa") - 1,
          col("sb") - col("pb") - 1)) * (100 + tau) >=
          (col("sa") + col("sb")) * tau)
        .select("d1", "d2")
      // verify fetch broadcasts the index side at bench scale (AQE
      // under-sizes the cached array column — d15's measured note); at
      // 100 TB the index side shards by doc bucket instead, exactly as
      // d15Pairs documents — the candidate stream itself never shuffles
      val toks = s51Toks(spark, dir)
      val pairs = Materialized.of(cand
        .join(broadcast(toks.select(col("doc_id").as("d1"),
          col("varr").as("va"), col("sz").as("na"))), Seq("d1"))
        .join(broadcast(toks.select(col("doc_id").as("d2"),
          col("varr").as("vb"), col("sz").as("nb"))), Seq("d2"))
        // threshold-aware merge (d15Pairs's r14 discipline): the
        // unchanged τ filter below rejects every early-abort value, so
        // the maintained pair rows stay bit-identical to the rebuild
        .withColumn("inter", expr("sorted_inter_size(va, vb, " +
          s"((na + nb) * $tau + ${100 + tau - 1}) div ${100 + tau})"))
        .filter(col("inter") * 100 >=
          (col("na") + col("nb") - col("inter")) * tau)
        .select(col("d1"), col("d2"), col("inter"),
          col("na").cast("long").as("na"), col("nb").cast("long").as("nb"))
        .distinct())
      if (!pairs.isEmpty) writeRun(pairs.df, s"$dir/pairs", batchId)
    }

  def s51IndexMaintain(docs: DataFrame, dir: String,
                       checkpoint: String): StreamingQuery =
    maintain(docs, checkpoint)(s51UpsertBatch(dir))

  /** s51 delete: pure tombstone — pairs are per-pair FACTS, not bounded
    * lists, so unlike the s36 graph store no re-derivation is needed:
    * the serve-side two-sided batch mask retires every pair a dead doc
    * touches, and a re-admission (upsert at a later batch) recomputes
    * its pairs against the live corpus from its NEW text while the mask
    * keeps every pre-delete pair of that doc retired. Content updates
    * follow the store family's contract: delete then re-admit (an
    * in-place upsert of changed text would serve both token sets, as in
    * every distinct-fold store).
    */
  def s51DeleteBatch(dir: String)(deletes: DataFrame, batchId: Long): Unit =
    tombstoneBatch("prefix", dir)(deletes, batchId): Unit

  /** Served per-doc index rows (varr/sz/plen), tombstone-masked. */
  def s51Toks(spark: SparkSession,
              dir: String, asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "toks", asOf, Seq("doc_id"),
      "doc_id", "varr", "sz", "plen").drop("batch_id").distinct()

  /** Served exploded prefix index (h, doc_id, p, sz), tombstone-masked. */
  def s51PrefixRows(spark: SparkSession,
                    dir: String, asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "prefix", asOf, Seq("doc_id"),
      "doc_id", "p", "h", "sz").drop("batch_id").distinct()

  /** The frozen token order (h → df at freeze). */
  def s51Order(spark: SparkSession,
               dir: String, asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "order", asOf, Nil, "h", "df")
      .drop("batch_id").distinct()

  /** The served τ-pair table: TWO-SIDED batch mask (a pair row retires
    * when EITHER side was tombstoned at or after the batch that computed
    * it — d15's exactness over the live corpus), then distinct across
    * runs. Tombstone side is delete-traffic-sized → both mask joins
    * broadcast.
    */
  def s51Pairs(spark: SparkSession,
               dir: String, asOf: Option[Long] = None): DataFrame =
    if (absent(spark, dir, "pairs", asOf))
      spark.range(0).select(col("id").as("d1"), col("id").as("d2"),
        col("id").cast("int").as("inter"), col("id").as("na"),
        col("id").as("nb"))
    else servedRuns(spark, dir, "pairs", asOf, Seq("d1", "d2"),
      "d1", "d2", "inter", "na", "nb").drop("batch_id").distinct()

  /** s40 applied to the prefix store. */
  def s51CompactStore(spark: SparkSession, dir: String): Unit =
    compactFamily(spark, dir, "prefix")

  /** s51's fsck: every pair side is an indexed doc, and the token and
    * prefix tables index the same docs (`indexed_doc_without_prefix`
    * counts token rows, the other two distinct doc ids).
    */
  def s46PrefixStoreAudit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = s51Pairs(spark, dir)
    storeAudit(spark, dir, "prefix", "toks", Seq(
        "toks" -> s51Toks(spark, dir).select("doc_id"),
        "prefix" -> s51PrefixRows(spark, dir).select("doc_id"),
        "pair" -> pairs.select(col("d1").as("doc_id")),
        "pair" -> pairs.select(col("d2").as("doc_id"))), Seq(
      "pair_side_not_served" -> onlyIn("pair", "toks"),
      "indexed_doc_without_prefix" -> when(!has("prefix"), rowsOf("toks")).otherwise(0L),
      "prefix_doc_not_indexed" -> onlyIn("prefix", "toks")))
  }

  // ===== p14 executor: the composed TAKEDOWN verb (r12 verdict item 4 —
  // ===== p13 sizes the blast radius; this EXECUTES it as one idempotent
  // ===== operation across every maintained store, then fscks them all).

  /** The next admissible batch id of a store: one past every run AND the
    * compaction stamp (the s41 fence's two lower bounds). Filesystem
    * listings only.
    */
  private[graft] def nextBatchId(spark: org.apache.spark.sql.SparkSession,
                                 dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tableMax =
      if (!fs.exists(p)) None
      else fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .filterNot(n => n.startsWith("_"))
        .flatMap(t => maxBatchIn(spark, s"$dir/$t"))
        .reduceOption(_ max _)
    val bounds = tableMax.toSeq ++ readCompactionStamp(spark, dir).toSeq
    bounds.reduceOption(_ max _).map(_ + 1L).getOrElse(0L)
  }

  /** p14 executor: run one takedown — a set of entity ids — across every
    * maintained store in one idempotent operation, then fsck each store,
    * and report what happened. Per store family it
    *
    *  1. counts the victims actually SERVED (the "newly purged" number —
    *     a re-run reports 0 here, making no-op-ness machine-readable);
    *  2. runs the store's OWN delete fold at the store's next admissible
    *     batch id (s39's tombstones + each family's bounded re-derivation:
    *     the s36 re-rank, the s43/d32 cluster recompute, the s48 golden
    *     re-election — never re-spelled here);
    *  3. fscks the store with its family audit ([[s46RequireHealthy]]),
    *     so a takedown that left an inconsistency CANNOT complete quietly.
    *
    * For a chunk store the report adds the m15-style GC accounting: bytes
    * physically reclaimable = chunks whose every referrer died with this
    * takedown (served-before anti served-after, Σ nb). Output: one row
    * per store — (family, dir, victims_served_before, tombstoned_total,
    * bytes_reclaimed, fsck_ok) — fsck_ok always true by construction
    * (step 3 throws otherwise); it is in the row so the report is a
    * complete audit record. StreamingSpec pins post-takedown serve ==
    * rebuild-on-live-corpus per store, fsck green, and the re-run no-op.
    *
    * Scale: victims are takedown-sized (broadcast joins), each delete
    * fold is bounded by its family's documented delete cost, and the GC
    * accounting is one anti-join on the chunk store's narrow hash column.
    */
  def p14TakedownExecute(ids: DataFrame,
                         stores: Map[String, String]): DataFrame = {
    val spark = ids.sparkSession
    // every family resolves before any store is touched
    val targets = stores.toSeq.sortBy(_._1)
      .map { case (family, dir) => (family, dir, storeFamily(family)) }
    val victims = ids.select(col(ids.columns.head).cast("long").as("id"))
      .distinct().transform(Materialized.of(_).df)
    val rows = targets.map { case (family, dir, fam) =>
      // the registry is the single source for the id column, the
      // served-presence fold (its head table — the one every upsert of an
      // id writes) and the delete fold, so a new family cannot be missed
      // by takedowns
      val idCol = fam.idCol
      val servedIds = fam.tables.head._2(spark, dir).select(idCol).distinct()
      val vicAsId = victims.withColumnRenamed("id", idCol)
      val present = servedIds
        .join(broadcast(vicAsId), Seq(idCol), "left_semi").count()
      val chunksBefore =
        if (family == "chunk")
          Some(s34ChunkRows(spark, dir).select("h", "nb").distinct()
            .transform(Materialized.of(_).df))
        else None
      val batch = nextBatchId(spark, dir)
      val delBatch = victims.withColumnRenamed("id", idCol)
      fam.delete(dir)(delBatch, batch)
      val reclaimed = chunksBefore.map { before =>
        val after = s34ChunkRows(spark, dir).select("h").distinct()
        before.join(after, Seq("h"), "left_anti")
          .agg(coalesce(sum("nb"), lit(0L))).head().getLong(0)
      }.getOrElse(0L)
      requireCleanAudit(s"$family store", dir, fam.audit(spark, dir))
      val tombstoned = deletedIds(spark, dir).count()
      (family, dir, present, tombstoned, reclaimed, true)
    }
    import spark.implicits._
    rows.toDF("family", "dir", "victims_served_before", "tombstoned_total",
        "bytes_reclaimed", "fsck_ok")
      .orderBy("family")
  }

  /** The runs-below-compaction-stamp check shared by every store audit
    * (the mixed-generation restore the s41 fence cannot see): counts data
    * runs whose `batch_id=N` directory sits below the recorded stamp.
    * Pure filesystem listing — no data scan.
    */
  private def staleRunsRow(spark: SparkSession, dir: String,
                           tables: Seq[String]): DataFrame = {
    val below = readCompactionStamp(spark, dir).map { st =>
      (tables :+ "deleted").map(t => runBatches(spark, s"$dir/$t").count(_ < st)).sum
    }.getOrElse(0)
    spark.range(1).select(lit("runs_below_compaction_stamp").as("check"),
      lit(below.toLong).as("n_bad"))
  }

  private val Side = "__side" // a row's side in a [[groupedChecks]] union

  /** Rows of side `tag` in the group where `cond` holds (NULL drops). */
  private def rowsOf(tag: String, cond: Column = lit(true)): Column =
    count(when(col(Side) === tag && cond, 1))

  private def has(tag: String): Column = rowsOf(tag) > 0

  /** The anti-join check: the key is in side `a` and not in side `b`. */
  private def onlyIn(a: String, b: String): Column = has(a) && !has(b)

  /** One grouped pass of a store fsck: the `sides` (tag → narrow rows
    * carrying `key` and what the checks read) are tagged, unioned and
    * grouped ONCE by `key`; each check is one aggregate over a group — a
    * flag (counted once per key) or a row count — summed over the groups
    * into one (check, n_bad) row. Every invariant of a key thus costs one
    * aggregation and each served view is read once (many aggregates in
    * one grouped operator: Kohn, Leis & Neumann, SIGMOD 2021).
    */
  private def groupedChecks(key: String, sides: Seq[(String, DataFrame)],
                            checks: Seq[(String, Column)]): DataFrame = {
    val perKey = checks.map { case (n, c) => c.cast("long").as(n) }
    val totals = checks.map { case (n, _) => sum(n).as(n) }
    sides.map { case (tag, df) => df.withColumn(Side, lit(tag)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .groupBy(key).agg(perKey.head, perKey.tail: _*)
      .agg(totals.head, totals.tail: _*)
      .select(explode(array(checks.map { case (n, _) => struct(
        lit(n).as("check"), coalesce(col(n), lit(0L)).as("n_bad")) }: _*)))
      .select("col.*")
  }

  /** One family's fsck, sorted by check: its `checks` over its `sides`
    * in one [[groupedChecks]] pass by the family's id, any `extra` pass,
    * and the two lifecycle checks every store shares — DEAD ids in the
    * `served` side (the batch-mask contract, same pass; [[deadIds]] over
    * the primary table, not every id ever tombstoned: a re-admitted id is
    * legitimately served) and runs below the compaction stamp.
    */
  private def storeAudit(spark: SparkSession, dir: String, family: String,
      served: String, sides: Seq[(String, DataFrame)],
      checks: Seq[(String, Column)], extra: Seq[DataFrame] = Nil): DataFrame = {
    val idCol = storeFamily(family).idCol
    val tables = tableNames(family)
    val dead = deadIds(spark, dir, tables.head, idCol).withColumnRenamed("id", idCol)
    (groupedChecks(idCol, sides :+ ("dead" -> dead),
        checks :+ ("tombstones_still_served" -> (has(served) && has("dead")))) +:
      extra :+ staleRunsRow(spark, dir, tables))
      .reduce(_.unionByName(_)).orderBy("check")
  }

  /** Loud-fail wrapper shared by every store fsck: the collect is
    * metadata-bounded BY CONSTRUCTION — one row per invariant, never per
    * data row.
    */
  private def requireCleanAudit(what: String, dir: String,
                                audit: DataFrame): Unit = {
    val bad = audit.filter(col("n_bad") > 0)
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
    require(bad.isEmpty, s"$what $dir failed fsck: ${bad.mkString(", ")}")
  }

  /** s44: store FSCK — the consistency audit an operator runs against the
    * maintained s36 graph store after an incident (a partial write, a
    * manually-pruned run, a bad backfill) and periodically as a canary:
    * every row is one invariant of the SERVED views with its violation
    * count. The invariants are exactly what the fold discipline
    * guarantees, so a nonzero count means either store corruption or a
    * code regression — both worth a page:
    *
    *  - `edges_src_not_in_vectors` / `edges_dst_not_in_vectors`: every
    *    served edge endpoint must be a served vector (the fold only
    *    scores ingested vectors; deletes tombstone edges and vectors
    *    together);
    *  - `cells_vec_not_in_vectors` / `vectors_without_cells`: vectors and
    *    their blocking cells are written by the same batch — neither side
    *    may exist alone;
    *  - `tombstones_still_served`: a deleted id visible in the served
    *    vector view means the anti-join contract broke;
    *  - `runs_below_compaction_stamp`: a data run older than the stamp
    *    means a stale replay got past the s41 fence (or a restore mixed
    *    store generations).
    *
    * [[s44RequireHealthy]] is the loud-fail wrapper (ReadGuard's
    * discipline, lifted from schema to referential integrity).
    * RobustnessSpec plants a bogus edge run and a stale run and asserts
    * the audit names them. Cost: one [[storeAudit]] pass over the vec_id
    * columns of the served views (counts are of distinct vec_ids) + one
    * filesystem listing — no payload ever moves.
    */
  def s44GraphStoreAudit(spark: SparkSession, dir: String): DataFrame = {
    val edges = s36DirectedEdges(spark, dir)
    storeAudit(spark, dir, "graph", "vectors", Seq(
        "vectors" -> s36Vectors(spark, dir).select("vec_id"),
        "cells" -> s36Cells(spark, dir).select("vec_id"),
        "src" -> edges.select(col("src").as("vec_id")),
        "dst" -> edges.select(col("dst").as("vec_id"))), Seq(
      "edges_src_not_in_vectors" -> onlyIn("src", "vectors"),
      "edges_dst_not_in_vectors" -> onlyIn("dst", "vectors"),
      "cells_vec_not_in_vectors" -> onlyIn("cells", "vectors"),
      "vectors_without_cells" -> onlyIn("vectors", "cells")))
  }

  /** Loud-fail wrapper over [[s44GraphStoreAudit]], naming every violated
    * invariant — run it before trusting a restored or hand-touched store.
    */
  def s44RequireHealthy(spark: SparkSession, dir: String): Unit =
    s46RequireHealthy(spark, dir, "graph")

  /** s46: the fsck GENERALIZED to the whole store family (s44 audits the
    * graph store; these are its siblings, built on the same
    * [[storeAudit]] pass and shared lifecycle checks, so every maintained
    * store has the post-incident consistency verb). Each audit checks
    * exactly what the fold discipline guarantees for ITS store, so a
    * nonzero count is store corruption or a code regression:
    *
    *  - hash/band store (s32): hash and band rows are written by the same
    *    batch from the same documents, so the LIVE doc sets must coincide
    *    in both tables; a doc has ONE content hash and exactly
    *    [[graft.functions.TextHash.NumBands]] distinct band keys (the `b:`
    *    prefix makes per-band keys distinct) — a second hash or an odd
    *    band count means a doc was re-ingested with different text, the
    *    drift the maintained==rebuild induction cannot survive;
    *  - chunk store (s34): a content hash names ONE chunk length — two
    *    `nb` values under one md5 mean a mangled run (the CAS property);
    *  - assignment store (s35): one row per vector (the fixed codebook
    *    makes assignment a pure function) with the centroid id inside the
    *    codebook range;
    *  - code store (s38): one code per (vector, subspace), all
    *    [[graft.queries.Similarity.NumSubspaces]] subspaces present, code
    *    ids inside the sub-codebook range;
    *  - cluster store (s43): labels obey the min-id policy (label ≤ doc),
    *    every label is itself a LIVE served doc, and the label's own row
    *    is self-rooted (label(label) == label) — the invariants d05's
    *    contraction guarantees and d32's retraction re-establishes.
    *
    * Each is one grouped pass over the narrow id columns of the served
    * views (+ a pass keyed by `h` for chunks; code slots roll up into the
    * vector pass) + one listing — no payload moves. Anti-join checks
    * count distinct ids, `label_above_doc`, `*_out_of_range` and golden
    * checks rows, per-key checks keys. RobustnessSpec plants corruption
    * per store and asserts the counts and the loud-fail wrapper.
    */
  def s46HashStoreAudit(spark: SparkSession, dir: String): DataFrame =
    storeAudit(spark, dir, "hash", "hash56", Seq(
        "hash56" -> s32HashRows(spark, dir), "bands" -> s32BandIndex(spark, dir)), Seq(
      "band_doc_not_in_hash" -> onlyIn("bands", "hash56"),
      "hash_doc_not_in_bands" -> onlyIn("hash56", "bands"),
      "doc_with_multiple_hashes" -> (size(collect_set("th")) > 1),
      "band_cardinality_wrong" -> (has("bands") &&
        size(collect_set("band_key")) =!= graft.functions.TextHash.NumBands)))

  def s46ChunkStoreAudit(spark: SparkSession, dir: String): DataFrame = {
    val refs = s34ChunkRows(spark, dir)
    storeAudit(spark, dir, "chunk", "chunks", Seq("chunks" -> refs), Nil,
      Seq(groupedChecks("h", Seq("chunks" -> refs),
        Seq("hash_nb_conflict" -> (size(collect_set("nb")) > 1)))))
  }

  def s46AssignStoreAudit(spark: SparkSession, dir: String): DataFrame =
    storeAudit(spark, dir, "assign", "assigned",
      Seq("assigned" -> s35Assignment(spark, dir)), Seq(
        "vec_with_multiple_assignments" -> (rowsOf("assigned") > 1),
        "cid_out_of_range" -> rowsOf("assigned", col("cid") < 0 ||
          col("cid") >= graft.queries.Similarity.NumCentroids)))

  def s46CodeStoreAudit(spark: SparkSession, dir: String): DataFrame = {
    // one row per (vector, subspace) slot: its code rows, out-of-range ones
    val slots = s38Codes(spark, dir).groupBy("vec_id", "sub").agg(
      count(lit(1)).as("n"), count(when(col("code") < 0 ||
        col("code") >= graft.queries.Similarity.NumCentroids, 1)).as("n_oor"))
    storeAudit(spark, dir, "code", "codes", Seq("codes" -> slots), Seq(
      "vec_wrong_subspace_arity" -> (has("codes") &&
        count(col("sub")) =!= graft.queries.Similarity.NumSubspaces),
      "sub_code_conflict" -> rowsOf("codes", col("n") > 1),
      "code_out_of_range" -> sum("n_oor")))
  }

  def s46ClusterStoreAudit(spark: SparkSession, dir: String): DataFrame =
    clusterAudit(spark, dir, "cluster", Nil, Nil)

  /** The cluster-store pass by doc_id — served rows (`labels`), each
    * served row's label (`label`: its count is the label's served size),
    * hashed docs — plus the golden store's `sides` and `checks`; `family`
    * names the store whose tables the stale-run listing covers.
    */
  private def clusterAudit(spark: SparkSession, dir: String, family: String,
      sides: Seq[(String, DataFrame)], checks: Seq[(String, Column)]): DataFrame = {
    val served = s43Clusters(spark, dir)
    storeAudit(spark, dir, family, "labels", Seq(
        "labels" -> served, "label" -> served.select(col("cluster").as("doc_id")),
        "hash56" -> s32HashRows(spark, dir).select("doc_id")) ++ sides, Seq(
      "label_above_doc" -> rowsOf("labels", col("cluster") > col("doc_id")),
      "label_not_served" -> onlyIn("label", "labels"),
      "label_not_self_rooted" -> when(has("label"),
        rowsOf("labels", col("cluster") =!= col("doc_id"))).otherwise(0L),
      "doc_with_multiple_labels" -> (rowsOf("labels") > 1),
      // the crash-lag case: the s43 fold writes hash/bands then labels —
      // a crash between the two leaves ingested docs INVISIBLE in the
      // served cluster view (silent until the batch replays); fsck names
      // them so the operator knows to replay
      "ingested_doc_without_label" -> onlyIn("hash56", "labels")) ++ checks)
  }

  /** s48's fsck: the cluster-store audit PLUS the golden-table invariants
    * the re-election fold guarantees — every golden row names a live
    * served label whose recorded size matches the served membership, and
    * every multi-member served cluster HAS a golden row (the
    * completeness direction a lagging re-election would violate). Golden
    * rows are keyed by label, a doc id, so they join the cluster pass.
    */
  def s46GoldenStoreAudit(spark: SparkSession, dir: String): DataFrame = {
    val members = rowsOf("label")
    clusterAudit(spark, dir, "golden", Seq("golden" -> s48Golden(spark, dir)
        .select(col("kept_doc").as("doc_id"), col("cluster_size"))), Seq(
      "golden_label_not_served" -> when(!has("label"), rowsOf("golden")).otherwise(0L),
      "golden_size_mismatch" -> when(has("label"), size(filter(
        collect_list("cluster_size"), (x: Column) => x =!= members))).otherwise(0),
      "multi_cluster_without_golden" -> (members >= 2 && !has("golden"))))
  }

  private type Fold = (SparkSession, String) => DataFrame

  /** One maintained-store family in the registry: its tables with their
    * SERVED folds — the first is the primary presence table every upsert
    * of an id writes, keyed by `idCol` (the tombstone/presence key) — its
    * delete fold, its fsck, and its share of a coordinated ingest (s50:
    * run the family's own upsert fold on its modality at the shared batch
    * id, return that modality's row count).
    */
  private final case class StoreFamily(
      idCol: String, tables: Seq[(String, Fold)],
      delete: String => (DataFrame, Long) => Unit, audit: Fold,
      ingest: (Ingest, String, Long) => Long)

  /** One coordinated-ingest batch (s50): every modality plus the fixed
    * codebooks, counted once per MODALITY, not per family (hash/cluster/
    * golden would otherwise re-scan docs three times on top of the folds'
    * own scans).
    */
  private final class Ingest(val docs: DataFrame, val vectors: DataFrame,
      val media: DataFrame, val cents: DataFrame, val cbook: DataFrame) {
    lazy val nDocs: Long = docs.count()
    lazy val nVecs: Long = vectors.count()
    lazy val nMedia: Long = media.count()
  }

  /** The family registry — the one definition of every maintained store
    * family, shared by the compaction entry points, the fsck dispatch
    * (s46), the stats digest (s47), export (s49), coordinated ingest
    * (s50) and takedowns (p14), so a new table or family cannot be added
    * in one consumer and missed in another.
    */
  private lazy val Families: Seq[(String, StoreFamily)] = {
    val hash = Seq[(String, Fold)](
      "hash56" -> (s32HashRows(_, _)), "bands" -> (s32BandIndex(_, _)))
    val cluster = hash ++ Seq[(String, Fold)]("labels" -> (s43Clusters(_, _)))
    def docs(in: Ingest) = in.docs.select("doc_id", "text")
    Seq(
      "hash" -> StoreFamily("doc_id", hash, s32DeleteBatch,
        s46HashStoreAudit, (in, dir, b) => {
          s32UpsertIndexBatch(dir)(docs(in), b); in.nDocs }),
      "chunk" -> StoreFamily("media_id",
        Seq("chunks" -> (s34ChunkRows(_, _))), s34DeleteBatch,
        s46ChunkStoreAudit, (in, dir, b) => {
          s34UpsertChunkBatch(dir)(in.media, b); in.nMedia }),
      "assign" -> StoreFamily("vec_id",
        Seq("assigned" -> (s35Assignment(_, _))), s35DeleteBatch,
        s46AssignStoreAudit, (in, dir, b) => {
          s35UpsertIvfBatch(in.cents, dir)(in.vectors, b); in.nVecs }),
      "code" -> StoreFamily("vec_id",
        Seq("codes" -> (s38Codes(_, _))), s38DeleteBatch,
        s46CodeStoreAudit, (in, dir, b) => {
          s38UpsertPqBatch(in.cbook, dir)(in.vectors, b); in.nVecs }),
      "cluster" -> StoreFamily("doc_id", cluster, s43DeleteClusterBatch,
        s46ClusterStoreAudit, (in, dir, b) => {
          s43UpsertClusterBatch(dir)(docs(in), b); in.nDocs }),
      "golden" -> StoreFamily("doc_id", cluster ++ Seq[(String, Fold)](
          "docattrs" -> (s48DocAttrs(_, _)), "golden" -> (s48Golden(_, _))),
        s48DeleteGoldenBatch, s46GoldenStoreAudit, (in, dir, b) => {
          s48UpsertGoldenBatch(dir)(in.docs.select(
            "doc_id", "text", "lang", "source", "n_chars"), b); in.nDocs }),
      "graph" -> StoreFamily("vec_id", Seq[(String, Fold)](
          "vectors" -> (s36Vectors(_, _)), "cells" -> (s36Cells(_, _)),
          "edges" -> (s36DirectedEdges(_, _))),
        s36DeleteBatch, s44GraphStoreAudit, (in, dir, b) => {
          s36UpsertGraphBatch(in.cents, dir)(in.vectors, b); in.nVecs }),
      "prefix" -> StoreFamily("doc_id", Seq[(String, Fold)](
          "toks" -> (s51Toks(_, _)), "prefix" -> (s51PrefixRows(_, _)),
          "pairs" -> (s51Pairs(_, _)),
          // the frozen order is immutable decision data that must survive
          // compaction/export with the index (the s35 codebook pattern)
          "order" -> (s51Order(_, _))),
        s51DeleteBatch, s46PrefixStoreAudit, (in, dir, b) => {
          s51UpsertBatch(dir)(docs(in), b); in.nDocs }))
  }

  private def storeFamily(family: String): StoreFamily =
    Families.collectFirst { case (`family`, f) => f }.getOrElse(
      throw new IllegalArgumentException(s"unknown store family '$family' " +
        Families.map(_._1).mkString("(", "|", ")")))

  private def tableNames(family: String): Seq[String] =
    storeFamily(family).tables.map(_._1)

  /** A family's tables with their served folds bound to one store. */
  private[graft] def familyTables(spark: SparkSession, dir: String,
      family: String): Seq[(String, () => DataFrame)] =
    storeFamily(family).tables.map { case (t, fold) => t -> (() => fold(spark, dir)) }

  /** s40 per-family entry: compact a store by its registry entry. */
  private def compactFamily(spark: SparkSession, dir: String,
                            family: String): Unit =
    compactStore(spark, dir, familyTables(spark, dir, family),
      storeFamily(family).idCol)

  /** s47: maintained-store STATS digest — the `du`/compaction-debt gauge
    * an operator reads between the verbs (s39 deletes, s40 compacts, s44/
    * s46 fsck, s45 time-travels; s47 says WHEN to compact): one row per
    * store table with the run count (the LSM merge width every read
    * pays), raw vs SERVED row counts (raw − served = replay duplicates +
    * tombstoned rows still on disk), the tombstone count, the highest
    * batch id, the compaction stamp, and the read amplification ×100
    * (raw ÷ served — 100 means the layout is as small as the data).
    * Costs: run counts and batch ids come from partition-directory
    * listings (no data scan); raw counts are parquet COUNTs (footer
    * statistics — O(files), not O(rows)); served counts run each table's
    * own fold, the one genuinely data-touching column.
    */
  def s47StoreStats(spark: org.apache.spark.sql.SparkSession,
                    dir: String, family: String): DataFrame = {
    val tables = familyTables(spark, dir, family)
    val stamp = readCompactionStamp(spark, dir)
    val nTomb = deletedIds(spark, dir).count()
    val nGens = retainedGenerations(spark, dir).size.toLong
    val rows = tables.map { case (t, fold) =>
      val path = s"$dir/$t"
      val exists = pathExists(spark, path)
      val raw = if (!exists) 0L
        else ReadGuard.readRuns(spark, path).count()
      // Same guard for the served fold: a half-initialized or crash-lagged
      // store (the very state a stats gauge is for) must emit a zero row,
      // not throw PATH_NOT_FOUND from inside the fold.
      val served = if (!exists) 0L else fold().count()
      (t, runBatches(spark, path).size.toLong, raw, served, nTomb,
        maxBatchIn(spark, path).getOrElse(-1L), stamp.getOrElse(-1L),
        if (served == 0) -1L else raw * 100L / served, nGens)
    }
    import spark.implicits._
    rows.toDF("table", "runs", "raw_rows", "served_rows", "tombstones",
        "max_batch", "compaction_stamp", "read_amp_x100", "history_gens")
      .orderBy("table")
  }

  /** s46's loud-fail wrapper: fsck one maintained store by family name
    * (`hash`, `chunk`, `assign`, `code`, `cluster`, `golden`, `graph`,
    * `prefix` — the registry's families), failing with every violated
    * invariant — [[s44RequireHealthy]]'s contract extended to the whole
    * family.
    */
  def s46RequireHealthy(spark: SparkSession, dir: String,
                        family: String): Unit =
    requireCleanAudit(s"$family store", dir,
      storeFamily(family).audit(spark, dir))

  /** s42: codebook-staleness monitor over the MAINTAINED s35 store — the
    * operational twin of the oracle-checked n30 drift report: s35/s36/s38
    * assign against a FIXED broadcast codebook forever, so after corpus
    * drift the inverted lists skew and recall decays with no error
    * anywhere; this reads the per-batch runs BACK (batch_id is the real
    * ingest slice — n30 uses a deterministic pseudo-slice so DuckDB can
    * oracle the machinery) and trends, per batch: vectors assigned, mean
    * best-centroid cosine, the largest list with its skew in bp of the
    * uniform share, and the batch mean's ratio to the BUILD baseline the
    * caller passes (one row, the batch build's own avg ccos). Tombstoned
    * vectors are excluded — a GDPR-deleted vector must not keep dragging
    * the trend. When the trend crosses the operator's threshold, the
    * handoff is n27's retrain: StreamingSpec pins that a maintainer
    * running on [[graft.queries.Similarity.retrainedCentroids]] equals
    * the batch re-assignment with them (n27∘n02 through the streaming
    * seam). Cost: two partial-agg groupBys over the assignment store —
    * metadata-scale outputs, nothing corpus-wide but the store scan.
    */
  def s42AssignmentQuality(spark: org.apache.spark.sql.SparkSession,
                           dir: String, baseline: DataFrame): DataFrame = {
    val live = servedRuns(spark, dir, "assigned", None, Seq("vec_id"),
      "vec_id", "cid", "ccos").distinct()
    val per = live.groupBy("batch_id")
      .agg(count(lit(1)).as("n_vecs"), avg("ccos").as("mean_ccos"))
    val skew = live.groupBy("batch_id", "cid").agg(count(lit(1)).as("sz"))
      .groupBy("batch_id").agg(max("sz").as("max_list"))
    per.join(skew, Seq("batch_id"))
      .crossJoin(broadcast(
        baseline.select(col(baseline.columns.head).as("base_ccos"))))
      .select(col("batch_id"), col("n_vecs"), col("mean_ccos"),
        col("max_list"),
        expr(s"max_list * ${graft.queries.Similarity.NumCentroids} * 10000 div n_vecs")
          .as("skew_bp"),
        (col("mean_ccos") / col("base_ccos")).as("drift_ratio"))
      .orderBy("batch_id")
  }

  /** s38: streaming MAINTENANCE of the PQ code table — the last index
    * artifact without an ingest path (s35 = IVF assignment, s36 = graph
    * adjacency; n29 persists the codes, n06/n07/n10/n20/n21 probe them):
    * each micro-batch of raw (vec_id, embedding) rows is quantized,
    * sub-sliced and assigned to the FIXED broadcast sub-codebook through
    * the single-sourced batch machinery
    * ([[graft.queries.Similarity.prepareVectors]] → `subVectorsOf` →
    * `pqAssignToCodebook` — the byte-identical argmin formula, tie-break
    * and partial-agg shape as the batch encoder, so streamed codes can
    * never drift from built ones). Idempotence is s32/s34/s35's model:
    * per-batch `batch_id=N` partitions + dynamic partition overwrite,
    * distinct compaction on read (each row is a pure function of
    * (vector, codebook)). StreamingSpec pins stream-built == batch
    * pqAssigned over the same replay + replay idempotence.
    */
  def s38UpsertPqBatch(cbook: DataFrame, dir: String)(
      batch: DataFrame, batchId: Long): Unit =
    upsertFold("code", dir, batch, batchId) { cached =>
      val Sim = graft.queries.Similarity
      writeRun(Sim.pqAssignToCodebook(
          Sim.subVectorsOf(Sim.prepareVectors(cached).select("vec_id", "q")),
          cbook)
        .select("vec_id", "sub", "code", "dist2"), s"$dir/codes", batchId)
    }

  def s38PqMaintain(vectors: DataFrame, cbook: DataFrame, dir: String,
                    checkpoint: String): StreamingQuery =
    maintain(vectors, checkpoint)(s38UpsertPqBatch(cbook, dir))

  /** Compacted read of the s38-maintained code table: rows are pure
    * functions of (vector, codebook), so replayed batches fold under
    * distinct.
    */
  def s38Codes(spark: SparkSession,
               dir: String, asOf: Option[Long] = None): DataFrame =
    servedRuns(spark, dir, "codes", asOf, Seq("vec_id"),
      "vec_id", "sub", "code", "dist2").drop("batch_id").distinct()

  /** s14: the fraud pipeline on the SYNTHETIC streaming source — the
    * load-test configuration: `graft.sources.TransactionSource`'s
    * micro-batch read (deterministic rows, admission-controlled index
    * offsets) feeding the same A7+A8 filter pipeline the file trigger
    * (s01) runs. Because every generated row is a pure function of its
    * index, the streamed result over indices [0, N) is asserted EQUAL to
    * the batch read's pipeline output — the stream/batch parity contract
    * on a custom source.
    */
  def s14SyntheticFraudStream(spark: org.apache.spark.sql.SparkSession,
                              rowsPerBatch: Long, parts: Int): DataFrame =
    graft.operators.FraudPipeline(
      spark.readStream.format("graft.sources.TransactionSource")
        .option("rowsPerBatch", rowsPerBatch)
        .option("partitions", parts)
        .load())

  /** s17: CDC key-compaction upsert into a relational sink — the streaming
    * materialization of "latest state by key" (sink-side twin of q91's CDC
    * apply / q110's batch MERGE). Each micro-batch is compacted to one row
    * per key (last event-time wins) and upserted transactionally per
    * partition; replays converge to the same table state because upsert is
    * idempotent BY KEY — see [[graft.operators.UpsertSink]] for the
    * idempotence model and the Postgres ON CONFLICT twin.
    */
  def s17UpsertSink(updates: DataFrame, url: String,
                    props: java.util.Properties, table: String,
                    checkpoint: String): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(graft.operators.UpsertSink.upsertBatch(
        url, props, table, graft.operators.UpsertSink.derbyDdl(table)) _)
      .start()

  /** s19: streaming observability — the per-micro-batch operational health
    * snapshot a production runner scrapes and alerts on (the streaming
    * sibling of A14's batch `observe` counters): total rows held in state
    * stores (the number that grows unbounded when a watermark is missing
    * or an outer join's time bound is wrong), rows ingested by the last
    * batch, and the current event-time watermark (the lag indicator).
    * Pulled from the PUBLIC `StreamingQueryProgress` API — no listener
    * thread needed for pull-based monitoring; a push pipeline attaches the
    * same fields via `StreamingQueryListener`.
    */
  def s19HealthSnapshot(q: StreamingQuery): Option[(Long, Long, String)] =
    Option(q.lastProgress).map { p =>
      val stateRows =
        if (p.stateOperators == null || p.stateOperators.isEmpty) 0L
        else p.stateOperators.map(_.numRowsTotal).sum
      val wm = Option(p.eventTime.get("watermark")).getOrElse("")
      (stateRows, p.numInputRows, wm)
    }

  /** s09: stream-stream LEFT OUTER interval join — s06's shape with outer
    * semantics: a purchase with no matching error is HELD in state until
    * the watermark proves no match can still arrive, THEN emitted
    * null-padded. The emission is watermark-driven (not arrival-driven) —
    * the part of the outer-join contract that surprises users, pinned by
    * the spec: the null-padded row only appears after later events advance
    * the watermark past the join window. Same state-expiry bound as s06 —
    * without the time condition, outer state never ages out.
    */
  def s09StreamStreamLeftJoin(purchases: DataFrame, errors: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val p = purchases.withWatermark("p_ts", "10 minutes")
    val e = errors.withWatermark("e_ts", "10 minutes")
    p.join(e, expr(
      """p_user = e_user AND
        |e_ts >= p_ts - INTERVAL 10 MINUTES AND
        |e_ts <= p_ts""".stripMargin), "leftOuter")
  }

  /** s11: complete-mode top-k snapshot — the third output mode: every
    * micro-batch re-emits the ENTIRE result (here a top-3 leaderboard),
    * which is the only mode that allows sort+limit over a streaming
    * aggregate. Complete mode is viable precisely because the result is
    * aggregate-bounded (top-k rows, not the stream) — the dashboard /
    * leaderboard consumer shape. The spec asserts the final snapshot
    * equals the batch top-k over the same replay and that a new batch
    * re-ranks rather than appends.
    */
  def s11CompleteTopK(events: DataFrame, k: Int = 3): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .orderBy(col("n").desc, col("user_id").asc)
      .limit(k)

  /** s12: stream-stream FULL OUTER interval join — completes the outer
    * family (s06 inner, s09 left): unmatched rows from EITHER side emit
    * null-padded once the watermark closes their window. Same time-bound
    * state expiry; the join watermark is the min of the two sides'.
    */
  def s12StreamStreamFullJoin(purchases: DataFrame, errors: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val p = purchases.withWatermark("p_ts", "10 minutes")
    val e = errors.withWatermark("e_ts", "10 minutes")
    p.join(e, expr(
      """p_user = e_user AND
        |e_ts >= p_ts - INTERVAL 10 MINUTES AND
        |e_ts <= p_ts""".stripMargin), "fullOuter")
  }

  /** s10: update-mode keyed aggregation — the third output mode beside
    * s01-style append and the complete-mode snapshot: each micro-batch
    * re-emits ONLY the keys whose aggregate changed. Unwindowed per-key
    * totals (O(keys) state) are the canonical update-mode consumer shape —
    * a KV upsert sink applies each emitted row as a put. The spec asserts
    * the final per-key snapshot equals the batch groupBy over the same
    * replay, and that an untouched key is NOT re-emitted in a later batch.
    */
  def s10UpdateAgg(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** s28: the NATIVE [[graft.functions.Log2Hist]] sketch aggregate under
    * streaming state — the extension tiers composing: a custom
    * TypedImperativeAggregate's buffer must round-trip the STATE STORE
    * (serialize at micro-batch commit, deserialize + merge on the next
    * batch's update), not just the batch shuffle x14 pins. Update-mode
    * per-key histograms are the streaming metrics-pipeline shape (one
    * 512-byte sketch per key in state regardless of event volume); the
    * spec replays two batches and asserts the final snapshot equals the
    * batch aggregate over the same data.
    */
  def s28StreamingSketch(values: DataFrame): DataFrame =
    values.groupBy(col("grp")).agg(expr("log2_hist(v)").as("hist"))

  /** s21: OFFLINE state-store inspection (the Spark 4 state data source,
    * SPARK-45511) — read a streaming checkpoint's keyed state back as a
    * plain DataFrame, without the query running. This is the debugging /
    * auditing surface production streaming needs most: "what exactly is
    * this job holding in state?" answered with SQL instead of log
    * archaeology — count state rows per key range, find the key whose
    * state exploded, diff state across two checkpoints. Reads the same
    * HDFS-backed store files the query writes; `batchId`/`operatorId`
    * options select other snapshots when set.
    *
    * Scale note: the source plans one task per state-store PARTITION
    * (same layout the query itself uses), so inspection parallelism
    * equals the job's shuffle partition count — no single-reader drain.
    */
  def s21StateRead(spark: org.apache.spark.sql.SparkSession,
                   checkpoint: String): DataFrame =
    spark.read.format("statestore").load(checkpoint)

  /** The keyed-event row the stateful operators share. `event_id` is the
    * tie-break q155's batch fold orders by — an order-sensitive streaming
    * fold (s29) must carry it or batch/streaming parity silently breaks
    * on equal timestamps (round-6 advice item 3). Defaulted so the
    * order-insensitive consumers (s05/s08 running totals) need not invent
    * ids.
    */
  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp,
                             value: Double, event_id: Long = 0L)
  final case class Enriched(user_id: Long, ts: java.sql.Timestamp, value: Double,
                            seq_no: Long, running_sum: Double)

  /** s05: CUSTOM state via flatMapGroupsWithState — the extension point for
    * semantics no built-in stateful operator has: a per-user running event
    * counter + value sum that survives across micro-batches. Within a batch
    * the group's rows are sorted by ts (iterator order is not guaranteed);
    * state is one (count, sum) pair per user — O(users) state, no growth
    * with history.
    */
  def s05RunningState(events: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[Enriched] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), Enriched](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[UserEvent], state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var sum = s0
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.value)).map { e =>
            n += 1; sum += e.value
            Enriched(user, e.ts, e.value, n, sum)
          }
          state.update((n, sum))
          out.iterator
      }
  }

  /** Per-user EWMA state for s29: the smoothed value plus the event count
    * (count lets the spec distinguish the seed from later folds).
    */
  final case class EwmaState(user_id: Long, n: Long, ewma: Double)

  /** s29: STREAMING EWMA — q155's recursive smoothing as stateful
    * streaming: per user, state carries the current y and each
    * micro-batch folds its (ts-sorted) events in with
    * y ← 7/8·y + 1/8·x, seeded y₁ = x₁. Emits the post-batch state per
    * touched key (update-style via Append of snapshots). Because the
    * fold is associative-free (order matters), the cross-pin with the
    * batch spelling is the REAL content: StreamingSpec replays the same
    * events in ts order across batches and asserts the final state
    * equals q155's array-fold — the batch/streaming parity contract for
    * order-sensitive state (s14's parity discipline, extended from
    * filters to recursive state).
    */
  def s29StreamingEwma(events: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[EwmaState] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), EwmaState](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[UserEvent], state: GroupState[(Long, Double)]) =>
          var (n, y) = state.getOption.getOrElse((0L, 0.0))
          // within-batch fold order = (event time, event_id) — exactly
          // q155's sort key, so the parity contract holds even when two
          // events share a timestamp
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            y = if (n == 0L) e.value else y * 0.875 + e.value * 0.125
            n += 1
          }
          state.update((n, y))
          Iterator(EwmaState(user, n, y))
      }
  }

  /** s08: `transformWithState` — Spark 4's successor to s05's
    * flatMapGroupsWithState: NAMED state variables (value/list/map, each
    * its own column family) with per-variable TTL, timers in event or
    * processing time, and state-schema evolution, backed by the RocksDB
    * state store provider (the operator rejects the default HDFS-backed
    * one — the test sets the provider conf). Semantics here REPLICATE
    * s05's per-user running (count, sum), and the spec asserts the two
    * surfaces produce identical rows on the same replay — the migration
    * contract a user porting s05 state code needs pinned.
    */
  def s08RunningState(events: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[Enriched] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** s23: the NATIVE streaming file sink — `format("parquet")` with a
    * checkpoint, not a foreachBatch writer (s01/s10's shape): the sink
    * maintains a `_spark_metadata` transaction log naming exactly the
    * files each committed batch produced, and batch readers of the output
    * directory consult that log — so a file half-written by a crashed
    * batch, or a re-attempted batch's orphan, is INVISIBLE downstream
    * without any ledger of our own (the file-sink counterpart of
    * FraudSink's two-phase JDBC ledger). Restarting from the same
    * checkpoint resumes offsets and keeps appending to the same log.
    */
  def s23FileSink(events: DataFrame, path: String, checkpoint: String)
      : StreamingQuery =
    events.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .start()

  /** s24: the `rate-micro-batch` built-in source — the DETERMINISTIC load
    * generator Spark ships (unlike `rate`, whose wall-clock anchoring
    * makes replays diverge): batch N always carries the same
    * (timestamp, value) rows, derived from a declared start timestamp and
    * rows-per-batch. The source surface beside the file source (s01),
    * MemoryStream (specs), and the custom DSv2 TransactionSource (s14) —
    * and the right harness for throughput experiments that must be
    * replayable. Downstream here: value-keyed modular bucketing + a
    * per-bucket running aggregate in update mode.
    */
  def s24RateMicroBatch(spark: org.apache.spark.sql.SparkSession,
                        rowsPerBatch: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("startTimestamp", 0L)
      .option("advanceMillisPerBatch", 1000)
      .load()
      .groupBy((col("value") % 4).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
  }

  final case class KeyedEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

  /** TTL for s22's dedup memory: an id seen again within this horizon is a
    * duplicate; past it, the id is forgotten and re-admitted. */
  val DedupTtlMs: Long = 30 * 60 * 1000L

  /** s22: TTL'd streaming dedup via `transformWithState` MAP state + EVENT-
    * TIME TIMERS — the two transformWithState surfaces s08 doesn't touch.
    * Each user keeps a MapState(event_id -> expiry); a row whose id is in
    * the map is dropped, a fresh id is emitted and remembered, and a timer
    * registered at the expiry lets `handleExpiredTimer` delete forgotten
    * ids when the WATERMARK (not wall clock) passes them — so state is
    * bounded by ids-per-TTL-window per user instead of growing forever
    * (the failure mode of a plain seen-set), and replays are deterministic
    * because eviction follows event time. The built-in twin is s04's
    * `dropDuplicatesWithinWatermark`; this is the custom-processor spelling
    * a pipeline needs once the policy diverges from the built-in (per-key
    * TTLs, re-admission, side outputs).
    */
  def s22TtlDedup(events: org.apache.spark.sql.Dataset[KeyedEvent])
      : org.apache.spark.sql.Dataset[KeyedEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new TtlDedupProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}

/** The s08 StatefulProcessor: one ValueState[(count, sum)] per user —
  * O(users) state, no growth with history, exactly s05's state shape but
  * held in a named, TTL-capable RocksDB column family.
  */
class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, StreamOps.UserEvent, StreamOps.Enriched] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}

  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[StreamOps.UserEvent],
      timers: TimerValues): Iterator[StreamOps.Enriched] = {
    val (n0, s0) = if (totals.exists()) totals.get() else (0L, 0.0)
    var n = n0
    var sum = s0
    // iterator order within a batch is not guaranteed — sort, like s05
    val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.value)).map { e =>
      n += 1; sum += e.value
      StreamOps.Enriched(user, e.ts, e.value, n, sum)
    }
    totals.update((n, sum))
    out.iterator
  }
}

/** The s22 StatefulProcessor: MapState(event_id -> expiry ms) per user,
  * one event-time timer per remembered id; expired ids are deleted when
  * the watermark crosses their expiry. State per user is bounded by the
  * number of distinct ids inside one TTL horizon.
  */
class TtlDedupProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, StreamOps.KeyedEvent, StreamOps.KeyedEvent] {
  import org.apache.spark.sql.Encoders
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, TTLConfig, TimeMode, TimerValues}

  @transient private var seen: MapState[Long, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getMapState[Long, Long]("seen",
      Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[StreamOps.KeyedEvent],
      timers: TimerValues): Iterator[StreamOps.KeyedEvent] = {
    // iterator order within a batch is not guaranteed — sort, like s05/s08
    val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
      if (seen.containsKey(e.event_id)) None
      else {
        val expiry = e.ts.getTime + StreamOps.DedupTtlMs
        seen.updateValue(e.event_id, expiry)
        getHandle.registerTimer(expiry)
        Some(e)
      }
    }
    out.iterator
  }

  override def handleExpiredTimer(user: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[StreamOps.KeyedEvent] = {
    val cutoff = expired.getExpiryTimeInMs()
    seen.iterator().filter(_._2 <= cutoff).map(_._1).toSeq
      .foreach(seen.removeKey)
    Iterator.empty
  }
}
