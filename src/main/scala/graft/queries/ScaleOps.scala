package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Materialized, RunScope, Tables}
import graft.functions.TextHash
import Relational.decD

/** Cluster-scale query techniques a 100 TB engine needs beyond the plain
  * SQL surface: sketch-based pre-filters (Bloom, Count-Min), data-layout
  * clustering (Z-order), error-tolerant evaluation (`try_` family),
  * time-series downsampling (OHLC bars) and the bucketed interval-overlap
  * join. Same determinism discipline as the rest of the suite: md5-routed
  * hashing (identical in Spark and DuckDB), integer arithmetic at every
  * cross-engine comparison boundary, total-order sorts.
  */
object ScaleOps {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- x03

  /** Bloom-filter parameters. m/k are FIXED fixture-tuned constants (a real
    * deployment sizes m from the observed build count before planting the
    * filter; the driver oracle needs constant SQL text): n ≈ 960 build keys
    * at sf0.01 → ~30 % bits set → fp ≈ 2.6 %, so the output contains real
    * false positives (is_member = false rows) and the filter is exercised,
    * not saturated.
    */
  private val BloomM = 8192
  private val BloomK = 3
  private val BloomBuildMin = 450000

  /** x03: Bloom-filter join pre-filter — the runtime-filter technique that
    * turns a big probe⋈build join into "probe rows that PASS the build
    * side's Bloom filter, then join the survivors". Relational spelling so
    * the oracle can replay it: the filter's set bit positions are a table
    * (built with one partial-agg distinct from the build keys, k rows
    * each), membership = "all k probe positions hit" via a broadcast join +
    * count. At 100 TB the bit table is metadata-scale (≤ m rows) and rides
    * the broadcast; the probe table is touched once, map-side. Output =
    * every probe key passing the filter, flagged with true membership —
    * the false-positive rows are the Bloom contract made visible.
    */
  val x03BloomFilterJoin: Q = (s, d) => {
    val build = Tables.orders(s, d)
      .filter(col("o_totalprice") > BloomBuildMin)
      .select(col("o_custkey").as("bkey")).distinct()
    def posOf(keyExpr: String): String =
      s"${TextHash.sparkHash56(s"concat(i, '|', cast($keyExpr as string))")} % $BloomM"
    val bits = build
      .select(col("bkey"), explode(expr(s"sequence(0, ${BloomK - 1})")).as("i"))
      .selectExpr(s"${posOf("bkey")} AS pos")
      .distinct()
    val probe = Tables.customer(s, d)
      .select(col("c_custkey"), explode(expr(s"sequence(0, ${BloomK - 1})")).as("i"))
      .withColumn("pos", expr(posOf("c_custkey")))
    val pass = probe.join(broadcast(bits), "pos")
      .groupBy("c_custkey").agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === BloomK)
    pass.join(build, pass("c_custkey") === build("bkey"), "left")
      .select(col("c_custkey"), col("bkey").isNotNull.as("is_member"))
      .orderBy("c_custkey")
  }

  // ---------------------------------------------------------------- x04

  /** Count-Min sketch geometry: d independent hash rows × w counters. The
    * sketch state is d·w integers regardless of stream size — the point of
    * the structure; w = 256 against 100 distinct keys keeps collisions
    * present (est > exact on some keys) without drowning the estimate.
    */
  private val CmsDepth = 4
  private val CmsWidth = 256

  /** Kirsch–Mitzenmacher double hashing: the d cell positions come from ONE
    * md5 per row — pos_r = (h1 + (r+1)·h2) mod w, with h1/h2 the low/high
    * 28-bit halves of the 56-bit hash and h2 forced odd. Sketch maintenance
    * is one hash + d integer ops per input row (4 md5s per row benched 3×
    * the cost at sf0.1 for zero accuracy gain). h1 < 2²⁸ and (r+1)·h2 <
    * 2³⁰, so the sum stays far inside BIGINT on both engines.
    */
  private def cmsCellExpr(h1: String, h2: String): String =
    s"($h1 + (r + 1) * $h2) % $CmsWidth"
  private val CmsHalf = 1L << 28

  /** x04: Count-Min sketch frequency estimation — the fixed-memory
    * heavy-hitter structure. Building the sketch IS one partial-agg
    * groupBy over (row, hashed column): each input row contributes d
    * counter increments map-side, and the reduced sketch is d·w cells no
    * matter how many billions of rows streamed in. Querying = min over the
    * d cells a key hashes to. The one-sided CMS error bound
    * (est ≥ exact, always) is emitted as a column so the oracle hash
    * pins it per key, exactly — all counts are integers, so the whole
    * sketch is bit-identical cross-engine.
    */
  val x04CountMin: Q = (s, d) => {
    val hashed = Tables.lineitem(s, d)
      .select(col("l_suppkey"))
      .withColumn("h", expr(TextHash.sparkHash56("cast(l_suppkey as string)")))
      .withColumn("h1", expr(s"h % ${CmsHalf}L"))
      .withColumn("h2", expr(s"(h div ${CmsHalf}L) | 1"))
    val sketch = hashed
      .select(col("h1"), col("h2"), explode(expr(s"sequence(0, ${CmsDepth - 1})")).as("r"))
      .withColumn("c", expr(cmsCellExpr("h1", "h2")))
      .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
    val exact = hashed
      .groupBy("l_suppkey", "h1", "h2").agg(count(lit(1)).as("exact"))
    exact
      .select(col("l_suppkey"), col("exact"), col("h1"), col("h2"),
              explode(expr(s"sequence(0, ${CmsDepth - 1})")).as("r"))
      .withColumn("c", expr(cmsCellExpr("h1", "h2")))
      .join(broadcast(sketch), Seq("r", "c"))
      .groupBy("l_suppkey", "exact").agg(min(col("cnt")).as("est"))
      .select(col("l_suppkey"), col("exact"), col("est"),
              (col("est") >= col("exact")).as("bound_ok"))
      .orderBy("l_suppkey")
  }

  // ---------------------------------------------------------------- x10

  /** x10: join-size estimation via Count-Min inner product — the planner
    * statistic behind "should this join broadcast, shuffle, or be
    * re-ordered": |A ⋈ B on k| = Σ_k f_A(k)·f_B(k), estimated as
    * min over the d sketch rows of Σ_c cntA(r,c)·cntB(r,c) (the CM
    * inner-product estimator of Cormode–Muthukrishnan '05, §4.2). Hash
    * collisions only ever ADD cross terms, so the estimate is one-sided
    * (est ≥ exact, emitted and pinned per the x04 discipline). The probe
    * side is the R-returnflag subset of the build side — the filtered-join
    * cardinality question planners actually face. Shapes: each sketch is
    * one partial-agg groupBy reduced to d·w integer cells (metadata no
    * matter the input size); the exact twin joins the two per-key count
    * tables (O(keys) rows). Nothing bigger than the sketches is ever
    * joined, and every number is an integer.
    */
  val x10CmsJoinSize: Q = (s, d) => {
    def cells(df: DataFrame): DataFrame = df
      .withColumn("h", expr(TextHash.sparkHash56("cast(l_suppkey as string)")))
      .withColumn("h1", expr(s"h % ${CmsHalf}L"))
      .withColumn("h2", expr(s"(h div ${CmsHalf}L) | 1"))
      .select(col("l_suppkey"), col("h1"), col("h2"),
        explode(expr(s"sequence(0, ${CmsDepth - 1})")).as("r"))
      .withColumn("c", expr(cmsCellExpr("h1", "h2")))
      .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
    val a = Tables.lineitem(s, d).select("l_suppkey", "l_returnflag")
    val b = a.filter(col("l_returnflag") === "R")
    val est = cells(a).withColumnRenamed("cnt", "ca")
      .join(cells(b).withColumnRenamed("cnt", "cb"), Seq("r", "c"))
      .groupBy("r").agg(sum(expr("ca * cb")).as("dot"))
      .agg(min("dot").as("est_join"))
    val fa = a.groupBy("l_suppkey").agg(count(lit(1)).as("fa"))
    val fb = b.groupBy("l_suppkey").agg(count(lit(1)).as("fb"))
    val exact = fa.join(fb, "l_suppkey")
      .agg(sum(expr("fa * fb")).as("exact_join"))
    est.crossJoin(broadcast(exact))
      .select(col("est_join"), col("exact_join"),
        expr("(est_join - exact_join) * 10000 div exact_join").as("overshoot_bp"),
        (col("est_join") >= col("exact_join")).as("bound_ok"))
  }

  // ---------------------------------------------------------------- q86

  /** Bit-interleave of two 10-bit dimensions — generated from the same loop
    * for both engines so the spellings can't drift (Spark: shiftright/&;
    * DuckDB: >>/&). Z-values put spatially-close (x, y) points on nearby
    * linear addresses, which is what makes multi-dimensional min/max
    * pruning work after a write clustered by this key.
    */
  private def zInterleave(xCol: String, yCol: String, duck: Boolean): String =
    (0 until 10).map { i =>
      val shift = (e: String, by: Int) =>
        if (duck) s"(($e >> $by) & 1)" else s"(shiftright($e, $by) & 1)"
      s"${shift(xCol, i)} * ${1L << (2 * i)} + ${shift(yCol, i)} * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** q86: Z-order (Morton) layout clustering — the data-layout operator
    * behind multi-dimensional clustered writes (Delta/Iceberg OPTIMIZE
    * ZORDER): interleave the bits of two columns, range-bucket rows by the
    * interleaved key, and emit each bucket's per-dimension min/max — the
    * min/max envelopes a file-skipping reader would prune against. Pure
    * integer bit arithmetic end to end, so the oracle pins every bucket
    * envelope exactly. At scale the bucket id is the `repartitionByRange`
    * key of the clustered write; this query is its planning/audit view.
    */
  val q86ZorderLayout: Q = (s, d) => {
    val z = zInterleave("x", "y", duck = false)
    Tables.events(s, d)
      .selectExpr("cast(floor(value) as bigint) AS x", "user_id % 1024 AS y")
      .withColumn("zval", expr(z))
      .withColumn("bucket", expr("zval div 4096"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
           min("x").as("x_min"), max("x").as("x_max"),
           min("y").as("y_min"), max("y").as("y_max"))
      .orderBy("bucket")
  }

  // ---------------------------------------------------------------- q87

  /** q87: error-tolerant evaluation — the `try_` function family
    * (try_cast / try_divide / try_add / try_element_at). On dirty data at
    * scale, a single malformed row must degrade to NULL, not kill a
    * 1000-executor job; these are the codegen'd forms of that policy.
    * try_add is pinned on a guaranteed bigint overflow, try_divide on a
    * computed zero denominator, try_cast on malformed int/timestamp text.
    */
  val q87TryFuncs: Q = (s, d) =>
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        expr("try_cast(c_name as int)").as("bad_int"),
        expr("try_cast(split_part(c_name, '#', 2) as bigint)").as("name_num"),
        expr("try_divide(cast(c_custkey as double), cast(c_custkey % 7 as double))")
          .as("div7"),
        expr("try_element_at(split(c_mktsegment, 'I'), 3)").as("seg3"),
        expr("try_add(9223372036854775807L, c_custkey + 1)").as("ovf"),
        expr("try_cast('2024-13-45' as timestamp)").as("bad_ts"))
      .orderBy("c_custkey")

  // ---------------------------------------------------------------- q88

  /** q88: OHLC time-series downsampling — 15-minute open/high/low/close
    * bars per event type, the canonical resample shape (metrics rollups,
    * market bars). Open/close are picked by row_number over the
    * (bucket, type)-partitioned order — partitions are single bars, so the
    * window state is bounded by bar width, never by stream length; one
    * shuffle total. Bucketing is exact epoch-µs integer floor math shared
    * with the oracle.
    */
  val q88OhlcBars: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"),
              expr("unix_micros(ts)").as("us"))
      .withColumn("bkt", expr("us div 900000000 * 900000000"))
    val w = Window.partitionBy(col("event_type"), col("bkt"))
    val asc = w.orderBy(col("us").asc, col("event_id").asc)
    val desc = w.orderBy(col("us").desc, col("event_id").desc)
    ev.withColumn("rna", row_number().over(asc))
      .withColumn("rnd", row_number().over(desc))
      .groupBy("event_type", "bkt")
      .agg(decD(min(when(col("rna") === 1, col("value")))).as("open"),
           decD(max(col("value"))).as("high"),
           decD(min(col("value"))).as("low"),
           decD(min(when(col("rnd") === 1, col("value")))).as("close"),
           count(lit(1)).as("volume"))
      .orderBy("event_type", "bkt")
  }

  // ---------------------------------------------------------------- q89

  /** Interval-join bucket width (µs). Intervals here are ≤ ~490 s long, so
    * each interval lands in at most 2 buckets of 1024 s — the fan-out
    * bound that keeps the explode cheap. The general rule: bucket ≥ max
    * interval length ⇒ ≤ 2 buckets per interval.
    */
  private val IvBucketUs = 1024L * 1000000L

  /** q89: interval-overlap self-join via time bucketing — the scalable
    * spelling of "which events overlap in time, per user". A naive
    * `a.start < b.end AND b.start < a.end` join is a per-user cartesian;
    * bucketing each interval into the coarse time buckets it touches turns
    * it into an EQUI-join on (user, bucket) + exact overlap re-check —
    * shuffle-partitioned by key, no nested loop anywhere. A pair sharing
    * two buckets is deduped before the verify. Interval ends are exact
    * integer µs (floor of the float duration — same IEEE op both engines).
    */
  val q89IntervalOverlap: Q = (s, d) => {
    val iv = Tables.events(s, d).select(
      col("user_id"), col("event_id"),
      expr("unix_micros(ts)").as("st"),
      expr("unix_micros(ts) + cast(floor(value * 1000000) as bigint)").as("en"))
    val bucketed = iv.withColumn("bkt",
      explode(expr(s"sequence(st div ${IvBucketUs}L, en div ${IvBucketUs}L)")))
    val a = bucketed.as("a")
    val b = bucketed.as("b")
    a.join(b, col("a.user_id") === col("b.user_id") &&
              col("a.bkt") === col("b.bkt") &&
              col("a.event_id") < col("b.event_id"))
      .select(col("a.user_id").as("user_id"),
              col("a.event_id").as("e1"), col("b.event_id").as("e2"),
              col("a.st").as("st1"), col("a.en").as("en1"),
              col("b.st").as("st2"), col("b.en").as("en2"))
      .distinct()
      .filter(col("st1") < col("en2") && col("st2") < col("en1"))
      .select("user_id", "e1", "e2")
      .orderBy("user_id", "e1", "e2")
  }

  // ---------------------------------------------------------------- x05

  /** lgConfigK for the DataSketches HLL sketches: 2¹² registers, the
    * library default — far more registers than the fixture's distinct
    * count, so the estimate is near-exact and the 5 % acceptance band is
    * structural slack, not tuning.
    */
  private val HllLgK = 12

  /** x05: mergeable distinct-count sketches — `hll_sketch_agg` per group
    * plus `hll_union_agg` across groups (Apache DataSketches HLL, the
    * Spark 4 sketch surface beyond x01's HyperLogLog++ scalar). The
    * defining property at 100 TB is MERGEABILITY: per-partition sketches
    * combine map-side, per-group sketches union into the corpus-wide
    * distinct count WITHOUT re-touching the base table — the union row
    * here is computed from the 5 group sketches alone. The sketch register
    * state is order-independent (max per register), so the estimate is
    * replay-stable and the driver-visible contract is x01's bounded
    * property: exact count + "estimate landed within 5 %", with the
    * oracle pinning the exact counts and expecting `true`.
    */
  val x05HllSketch: Q = (s, d) => {
    val base = Tables.orders(s, d)
      .select(col("o_orderpriority").as("grp"), col("o_custkey"))
    val per = base.groupBy("grp")
      .agg(expr(s"hll_sketch_agg(o_custkey, $HllLgK)").as("sk"),
           countDistinct(col("o_custkey")).as("n_exact"))
    val perOut = per.select(col("grp"), col("n_exact"),
      (abs(expr("hll_sketch_estimate(sk)") - col("n_exact")) * 100
         <= col("n_exact") * 5).as("within_5pct"))
    val allExact = base.agg(countDistinct(col("o_custkey")).as("n_exact"))
    val allOut = per.agg(expr("hll_union_agg(sk, true)").as("usk"))
      .crossJoin(broadcast(allExact))
      .select(lit("ALL").as("grp"), col("n_exact"),
        (abs(expr("hll_sketch_estimate(usk)") - col("n_exact")) * 100
           <= col("n_exact") * 5).as("within_5pct"))
    perOut.unionByName(allOut).orderBy("grp")
  }

  /** x16: PERSISTED-sketch round trip — the contract behind every
    * incremental distinct-count rollup: a sketch written today must
    * estimate identically when read back tomorrow. Each group's HLL
    * sketch round-trips through its storage encoding (binary → parquet
    * file on disk → read back) and the re-loaded estimate must EQUAL the
    * fresh one bit-for-bit (not just within error — serialization is
    * lossless), plus the x05 5 % accuracy contract against the exact
    * count. The write/read is a real parquet round trip of the binary
    * column — the literal shape of a persisted daily-sketch table.
    */
  val x16SketchPersist: Q = (s, d) => {
    val out = "target/sketch_store"
    // cache BEFORE the write: the sketch binary must be built exactly once
    // — DataSketches HLL is estimate-stable but not byte-stable under
    // different partial-merge orders, and the losslessness pin compares
    // the ONE written sketch against its reload, not two builds
    val per = Tables.orders(s, d)
      .select(col("o_orderpriority").as("grp"), col("o_custkey"))
      .groupBy("grp")
      .agg(expr(s"hll_sketch_agg(o_custkey, $HllLgK)").as("sk"),
           countDistinct(col("o_custkey")).as("n_exact"))
      .transform(RunScope.query.cache)
    per.select("grp", "sk").write.mode("overwrite").parquet(out)
    val reloaded = per.sparkSession.read.parquet(out)
      .select(col("grp"), expr("hll_sketch_estimate(sk)").as("est_reloaded"))
    per.select(col("grp"), col("n_exact"),
        expr("hll_sketch_estimate(sk)").as("est_fresh"))
      .join(reloaded, "grp")
      .select(col("grp"), col("n_exact"),
        (col("est_fresh") === col("est_reloaded")).as("lossless"),
        (abs(col("est_reloaded") - col("n_exact")) * 100
          <= col("n_exact") * 5).as("within_5pct"))
      .orderBy("grp")
  }

  // ---------------------------------------------------------------- x06

  /** x06: frequent-items sketch — `approx_top_k` (Spark 4). The sketch's
    * 100 TB role is heavy-hitter detection in one pass with bounded state
    * (the hot-key feed for q95/q60-style skew decisions). Oracle
    * discipline: run it in its EXACTNESS regime — k and maxItemsTracked
    * both exceed the column's distinct count (event_type has a handful of
    * values), where the sketch provably tracks every item with exact
    * counts — and re-sort the exploded output by (count DESC, item) so no
    * engine-specific tie order leaks. The approximate regime (distincts >
    * capacity) is intentionally NOT oracle-declared: estimates there are
    * sketch-internal, the x01/x05 bounded-property lesson.
    */
  val x06ApproxTopK: Q = (s, d) =>
    Tables.events(s, d)
      .agg(expr("approx_top_k(event_type, 10, 100)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("item"), col("e.count").cast("bigint").as("cnt"))
      .orderBy(col("cnt").desc, col("item"))

  // ---------------------------------------------------------------- x07

  /** KMV sketch size. */
  val KmvK = 64

  /** x07: KMV (k-minimum-values) distinct-count sketch — the mergeable
    * sketch family's DETERMINISTIC member: the sketch is just the k
    * smallest distinct values of a uniform hash, so unlike HLL (x01/x05)
    * or Count-Min (x04), whose estimates are implementation-internal, the
    * whole sketch AND its estimate are oracle-exact bit-for-bit.
    * Estimator: (k−1)/θ with θ = kth_min/2^56 (Bar-Yossef et al.
    * RANDOM'02; Beyer et al. SIGMOD'07), spelled in pure BIGINT algebra.
    *
    * Mergeability — THE sketch property that matters at 100 TB (sketch
    * per shard, union at the coordinator) — is demonstrated in-query: the
    * union sketch over two disjoint-domain key sets (customer keys
    * prefixed 'c', supplier keys prefixed 's') is the k-min over the two
    * sketches' 2k rows, and its estimate is scored against the exact
    * distinct union, in basis points.
    *
    * Plan shape per side: two-phase hash DISTINCT → TakeOrderedAndProject
    * (k) — per-partition partial distinct + bounded heap, no full sort;
    * the merge leg touches only 2k sketch rows; exact counts are partial-
    * agg countDistinct, broadcast at one row each.
    */
  val x07KmvSketch: Q = (s, d) => {
    val two56 = 72057594037927936L // 2^56
    def hashed(df: DataFrame, keyExpr: String): DataFrame =
      df.select(expr(TextHash.sparkHash56(keyExpr)).as("h")).distinct()
    def kmin(h: DataFrame): DataFrame = h.orderBy("h").limit(KmvK)
    // textbook estimator: a sketch SMALLER than k saw every distinct value
    // — it IS the distinct set, so the estimate is its exact size
    def est(sketch: DataFrame, name: String): DataFrame =
      sketch.agg(count(lit(1)).as("n"), max(col("h")).as("kth"))
        .select(expr(
          s"IF(n < $KmvK, n, (${KmvK - 1} * ${two56}L) div kth)").as(s"est_$name"))
    val ha = hashed(Tables.orders(s, d), "concat('c', cast(o_custkey as string))")
    val hb = hashed(Tables.lineitem(s, d), "concat('s', cast(l_suppkey as string))")
    val (ska, skb) = (kmin(ha), kmin(hb))
    val sku = kmin(ska.union(skb)) // sketch merge: k-min of the union of sketches
    val exact = ha.agg(count(lit(1)).as("exact_a"))
      .crossJoin(hb.agg(count(lit(1)).as("exact_b")))
      .withColumn("exact_u", col("exact_a") + col("exact_b")) // disjoint domains
    est(ska, "a").crossJoin(broadcast(est(skb, "b"))).crossJoin(broadcast(est(sku, "u")))
      .crossJoin(broadcast(exact))
      .select(col("est_a"), col("exact_a"),
        expr("abs(est_a - exact_a) * 10000 div exact_a").as("err_a_bp"),
        col("est_b"), col("exact_b"),
        expr("abs(est_b - exact_b) * 10000 div exact_b").as("err_b_bp"),
        col("est_u"), col("exact_u"),
        expr("abs(est_u - exact_u) * 10000 div exact_u").as("err_u_bp"))
  }

  // ---------------------------------------------------------------- x09

  /** x09: KMV set-operation estimates — the theta-sketch trick on top of
    * x07: for two OVERLAPPING key sets (customers with orders vs customers
    * in credit), estimate INTERSECTION and Jaccard from the sketches
    * alone: with θ = the union sketch's kth minimum, every common hash ≤ θ
    * is a uniform sample of the union, so m = |ska ∩ skb ∩ [0,θ]| gives
    * J ≈ m/k and |A∩B| ≈ m·est(U)/k. This is THE distributed-profile
    * primitive: per-shard sketches union at a coordinator, and overlap
    * questions (how much does this source duplicate that one) get
    * answered without re-touching data. Deterministic md5 hashing → the
    * whole derivation is oracle-exact (x07's discipline); the small-sketch
    * branch (union saw everything → m IS the exact intersection) is taken
    * on the same integer algebra.
    *
    * Plan: two two-phase hash DISTINCTs → bounded TakeOrderedAndProject
    * heaps; every post-sketch join touches ≤ 2k rows.
    */
  val x09KmvSetOps: Q = (s, d) => {
    val two56 = 72057594037927936L // 2^56
    def kmin(h: DataFrame): DataFrame = h.orderBy("h").limit(KmvK)
    val ha = Tables.orders(s, d)
      .select(expr(TextHash.sparkHash56("cast(o_custkey as string)")).as("h"))
      .distinct()
    val hb = Tables.customer(s, d).where(col("c_acctbal") > 0)
      .select(expr(TextHash.sparkHash56("cast(c_custkey as string)")).as("h"))
      .distinct()
    val (ska, skb) = (kmin(ha), kmin(hb))
    val sku = kmin(ska.union(skb).distinct()) // overlapping domains: dedup
    val theta = sku.agg(count(lit(1)).as("nu"), max(col("h")).as("kth"))
    val m = ska.join(skb, "h").crossJoin(broadcast(theta))
      .where(col("h") <= col("kth"))
      .agg(count(lit(1)).as("m"))
    val exact = ha.join(hb, "h").agg(count(lit(1)).as("exact_inter"))
      .crossJoin(ha.agg(count(lit(1)).as("na")))
      .crossJoin(hb.agg(count(lit(1)).as("nb")))
      .withColumn("exact_union", col("na") + col("nb") - col("exact_inter"))
    m.crossJoin(broadcast(theta)).crossJoin(broadcast(exact))
      .select(col("m"), col("nu"), col("exact_inter"), col("exact_union"),
        expr(s"IF(nu < $KmvK, nu, (${KmvK - 1} * ${two56}L) div kth)").as("est_u"))
      .select(
        expr(s"IF(nu < $KmvK, m, m * est_u div $KmvK)").as("est_inter"),
        col("exact_inter"),
        // div nu, not k: in the estimator regime nu == k; in the exact
        // regime (union sketch under-filled) nu IS the exact union size
        expr("m * 10000 div nu").as("est_jaccard_bp"),
        expr("exact_inter * 10000 div exact_union").as("exact_jaccard_bp"))
      .select(col("est_inter"), col("exact_inter"),
        expr("abs(est_inter - exact_inter) * 10000 div exact_inter").as("err_inter_bp"),
        col("est_jaccard_bp"), col("exact_jaccard_bp"))
  }

  // ---------------------------------------------------------------- x17

  /** x17: theta-sketch A-NOT-B — the set-DIFFERENCE estimator completing
    * x09's family (x07 cardinality, x09 intersection/Jaccard, x17
    * difference): which positive-balance customers never placed a
    * finalized order, and vice versa, answered from two k-min sketches
    * without re-touching the data. The estimator: θ = min of the two
    * sketch thetas (2^56 for an under-filled sketch, which holds its
    * WHOLE set); below θ each sketch holds EVERY hash of its set, so
    * membership tests are exact there and m = |{h ∈ ska : h ≤ θ,
    * h ∉ skb}| is a uniform θ-fraction sample of A∖B → est = m·2^56 div
    * θ (m ≤ k = 64 keeps the product under 2^63 — no overflow). Both
    * directions reported with exact counts and basis-point error; a
    * zero-sized exact difference (fixture drift could make one side a
    * subset) degrades to an est-agrees-with-empty check instead of a
    * division by zero. Deterministic md5 hashing — the whole derivation
    * is oracle-exact (x07's discipline).
    *
    * Plan: two two-phase hash DISTINCTs → bounded 64-row heaps; the
    * anti-joins and theta joins touch ≤ 2k rows — everything after the
    * sketches is metadata-scale, the coordinator-side profile shape.
    */
  /** The a-not-b derivation over two arbitrary distinct-hash tables —
    * factored so ExtendedSpec can drive the UNDER-FILLED and MIXED sketch
    * regimes (the sf corpus keeps both sides over-full, so the θ = 2^56
    * branches would otherwise never execute) against an in-memory
    * reference of the same algebra.
    */
  private[graft] def x17Of(ha: DataFrame, hb: DataFrame): DataFrame = {
    val two56 = 72057594037927936L // 2^56
    def kmin(h: DataFrame): DataFrame = h.orderBy("h").limit(KmvK)
    val (ska, skb) = (kmin(ha), kmin(hb))
    val th = ska.agg(count(lit(1)).as("na_sk"), max(col("h")).as("ka"))
      .crossJoin(skb.agg(count(lit(1)).as("nb_sk"), max(col("h")).as("kb")))
      .select(expr(
        s"least(IF(na_sk < $KmvK, ${two56}L, ka), IF(nb_sk < $KmvK, ${two56}L, kb))")
        .as("theta"))
    def mNot(x: DataFrame, y: DataFrame, name: String): DataFrame =
      x.join(y, Seq("h"), "left_anti").crossJoin(broadcast(th))
        .where(col("h") <= col("theta"))
        .agg(count(lit(1)).as(name))
    def est(m: String, out: String): Column =
      expr(s"IF(theta >= ${two56}L, $m, $m * ${two56}L div theta)").as(out)
    def errBp(e: String, x: String, out: String): Column =
      expr(s"IF($x = 0, IF($e = 0, 0L, 10000L), abs($e - $x) * 10000 div $x)")
        .as(out)
    val exact = ha.join(hb, Seq("h"), "left_anti")
      .agg(count(lit(1)).as("exact_ab"))
      .crossJoin(hb.join(ha, Seq("h"), "left_anti")
        .agg(count(lit(1)).as("exact_ba")))
    mNot(ska, skb, "m_ab").crossJoin(mNot(skb, ska, "m_ba"))
      .crossJoin(broadcast(th)).crossJoin(broadcast(exact))
      .select(est("m_ab", "est_ab"), col("exact_ab"),
        est("m_ba", "est_ba"), col("exact_ba"))
      .select(col("est_ab"), col("exact_ab"),
        errBp("est_ab", "exact_ab", "err_ab_bp"),
        col("est_ba"), col("exact_ba"),
        errBp("est_ba", "exact_ba", "err_ba_bp"))
  }

  val x17ThetaAnotB: Q = (s, d) =>
    x17Of(
      Tables.customer(s, d).where(col("c_acctbal") > 0)
        .select(expr(TextHash.sparkHash56("cast(c_custkey as string)")).as("h"))
        .distinct(),
      Tables.orders(s, d).where(col("o_orderstatus") === "F")
        .select(expr(TextHash.sparkHash56("cast(o_custkey as string)")).as("h"))
        .distinct())

  // ---------------------------------------------------------------- x08

  /** Number of AMS estimators (averaged; a shard-median layer would sit on
    * top at production scale). */
  val AmsM = 64

  /** x08: AMS second-frequency-moment sketch (Alon–Matias–Szegedy
    * STOC'96) — F2 = Σ f_x² of the per-user event counts, estimated by M
    * independent ±1-signed sums: Y_i = (Σ_x sign_i(x)·f_x)², E[Y_i] = F2.
    * Like x07 (and unlike HLL/CMS), the randomness is a seeded md5-derived
    * sign, so sketch AND estimate are deterministic, integer-exact, and
    * hard-oracled against the exact F2 — error reported in basis points.
    * F2 is the self-join size of the key column, i.e. THE statistic a
    * planner wants before deciding whether a dedup self-join is feasible.
    *
    * Scale shape: the event table collapses to per-key counts in one
    * partial-agg groupBy (the only data-scale shuffle); the M-way explode
    * runs on the collapsed key table (keys × M rows — metadata), and the
    * estimator sums collapse again map-side to M rows. BIGINT throughout:
    * |Y_i| ≤ N², so at true 100 TB row counts the squares move to
    * DECIMAL(38,0) — the estimator algebra is unchanged.
    */
  val x08AmsF2: Q = (s, d) => {
    val freq = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("f"))
    val sgnH = TextHash.sparkHash56(
      "concat(cast(i as string), ':', cast(user_id as string))")
    val est = freq
      .select(col("user_id"), col("f"),
        explode(expr(s"sequence(0, ${AmsM - 1})")).as("i"))
      .withColumn("sgn", expr(s"1 - 2 * ($sgnH % 2)"))
      .groupBy("i").agg(sum(col("sgn") * col("f")).as("y"))
      .agg(sum(col("y") * col("y")).as("sy"))
      .select(expr(s"sy div $AmsM").as("est_f2"))
    val exact = freq.agg(sum(col("f") * col("f")).as("exact_f2"))
    est.crossJoin(broadcast(exact))
      .select(col("est_f2"), col("exact_f2"),
        expr("abs(est_f2 - exact_f2) * 10000 div exact_f2").as("err_bp"))
  }

  // ---------------------------------------------------------------- x11

  /** Shard fan-out for x11's merge leg (stands in for per-executor /
    * per-file sketches at scale). */
  val BitmapShards = 8

  /** x11: EXACT distinct counting via bitmap aggregation (Spark 3.5+
    * `bitmap_bucket_number` / `bitmap_bit_position` /
    * `bitmap_construct_agg` / `bitmap_or_agg` / `bitmap_count`) — the
    * materialized-rollup alternative to both `countDistinct` (exact but
    * re-shuffles raw keys on every query) and HLL (mergeable but
    * approximate): per (group, 32 Ki-key bucket) the keys collapse to ONE
    * 4 KiB bitmap in a single partial agg, bitmaps OR-merge associatively,
    * and `bitmap_count` recovers the EXACT distinct count. This is the
    * warehouse pattern for incremental distinct-count rollups (per-shard /
    * per-day bitmaps merged at read time, never re-touching the fact
    * rows).
    *
    * Two legs, both exact and both pinned by a plain COUNT(DISTINCT)
    * oracle: (1) direct two-level rollup — groupBy (status, bucket) →
    * bitmap → Σ bitmap_count; (2) shard-then-merge — per (status, shard,
    * bucket) bitmaps OR-merged across shards first (the per-executor →
    * coordinator contract), proving merge loses nothing. Every shuffle
    * carries O(groups × buckets) bitmap rows, never raw keys; countDistinct
    * rides along as in-query self-evidence.
    */
  val x11BitmapDistinct: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val direct = o
      .groupBy(col("o_orderstatus"),
        expr("bitmap_bucket_number(o_custkey)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").as("bm"))
      .groupBy("o_orderstatus")
      .agg(sum(expr("bitmap_count(bm)")).as("n_bitmap"))
    val merged = o
      .groupBy(col("o_orderstatus"),
        expr(s"pmod(o_orderkey, $BitmapShards)").as("shard"),
        expr("bitmap_bucket_number(o_custkey)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").as("bm"))
      .groupBy(col("o_orderstatus"), col("bkt"))
      .agg(expr("bitmap_or_agg(bm)").as("bm"))
      .groupBy("o_orderstatus")
      .agg(sum(expr("bitmap_count(bm)")).as("n_merged"))
    val exact = o.groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    direct.join(merged, "o_orderstatus").join(exact, "o_orderstatus")
      .select("o_orderstatus", "n_bitmap", "n_merged", "n_exact")
      .orderBy("o_orderstatus")
  }

  /** x12: power-of-two (HdrHistogram-style) value histogram + histogram
    * quantiles — the mergeable latency/size-distribution sketch every
    * metrics pipeline keeps: bucket = floor(log2(cents)), computed EXACTLY
    * as `length(bin(v)) - 1` (bit length of a positive bigint — no float
    * log, so both engines agree on every boundary). The build is one
    * partial-agg groupBy over ≤ 64 keys (bucket counts merge by addition
    * — the sketch is trivially mergeable across shards/days); the
    * cumulative pass joins the ≤ 64-row histogram against itself via a
    * broadcast theta join (metadata-scale by construction, the sanctioned
    * BNLJ shape — never a corpus-scale window), and p50/p95/p99 fall out
    * of integer cross-multiplication against the broadcast grand total:
    * bucket b holds quantile p iff cum(b-1) < ceil(p·N) <= cum(b).
    */
  val x12Log2Histogram: Q = (s, d) => {
    val hist = Tables.orders(s, d)
      .select(expr("cast(floor(o_totalprice * 100) as bigint)").as("v"))
      .withColumn("bucket", expr("cast(length(bin(v)) - 1 as int)"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val cum = hist
      .join(broadcast(hist.select(col("bucket").as("b2"), col("n").as("n2"))),
            col("b2") <= col("bucket"))
      .groupBy("bucket", "n").agg(sum("n2").as("cum"))
    val total = hist.agg(sum("n").as("total"))
    cum.crossJoin(broadcast(total))
      .select(
        col("bucket"),
        expr("shiftleft(cast(1 as bigint), bucket)").as("lo"),
        expr("shiftleft(cast(1 as bigint), bucket + 1) - 1").as("hi"),
        col("n"), col("cum"),
        ((col("cum") - col("n")) * 2 < col("total") &&
          col("cum") * 2 >= col("total")).as("is_p50"),
        ((col("cum") - col("n")) * 20 < col("total") * 19 &&
          col("cum") * 20 >= col("total") * 19).as("is_p95"),
        ((col("cum") - col("n")) * 100 < col("total") * 99 &&
          col("cum") * 100 >= col("total") * 99).as("is_p99"))
      .orderBy("bucket")
  }

  /** x13: `stat.freqItems` (Karp–Shenker–Papadimitriou heavy hitters) —
    * the one-pass mergeable frequent-items summary behind hot-key
    * detection (the input to q60's salting decision). The EXACT report
    * set is partition-layout-dependent (false positives allowed by
    * construction), so — x01/x02 discipline — the query emits only the
    * algorithm's GUARANTEE as booleans: every value with relative
    * frequency > support must be reported. Two columns probe both
    * regimes: near-uniform event_type (all 5 values frequent) and a
    * planted 10%-heavy key in a long tail of per-user rarities. The
    * exact-count side is two partial-agg groupBys; the freqItems summary
    * is one row, broadcast everywhere it's consulted.
    */
  val x13FreqItems: Q = (s, d) => {
    val e = Tables.events(s, d).withColumn("k", expr(
      "CASE WHEN user_id % 10 = 0 THEN 'heavy' " +
        "ELSE concat('u', cast(user_id as string)) END"))
    val fi = broadcast(e.stat.freqItems(Seq("event_type", "k"), 0.05)
      .select(col("event_type_freqItems").as("ft"),
              col("k_freqItems").as("fk")))
    val tot = e.agg(count(lit(1)).as("n"))
    val freqTypes = e.groupBy("event_type").agg(count(lit(1)).as("c"))
      .crossJoin(broadcast(tot)).filter(col("c") * 20 > col("n"))
    freqTypes.crossJoin(fi)
      .select(col("event_type"),
        expr("array_contains(ft, event_type)").as("reported"))
      .agg(count(lit(1)).as("n_frequent_types"),
           expr("bool_and(reported)").as("all_frequent_reported"))
      .crossJoin(fi.select(
        expr("array_contains(fk, 'heavy')").as("heavy_reported")))
      .select("n_frequent_types", "all_frequent_reported", "heavy_reported")
  }

  /** q147: Merkle-style replica reconciliation — find every drifted row
    * between a 100 TB table and its replica WITHOUT a full-table row
    * compare. Two phases: (1) each side collapses to ≤256 (bucket, count,
    * xor-of-row-hash) digest rows — a partial-agg groupBy whose shuffle
    * carries metadata, never rows (q142's order-independent xor digest
    * over the 56-bit row hash; a colliding bucket needs two drifted rows
    * whose hashes xor-cancel — ~2⁻⁵⁶); (2) only buckets whose digests
    * disagree are re-scanned and full-outer-joined per key (the dirty
    * bucket list broadcasts — ≤256 rows by construction). The planted
    * drift: keys ≡0 (mod 1013) deleted from the replica, keys ≡0
    * (mod 997) modified by one cent. At scale phase 2 touches
    * dirty/256ths of the data; the oracle is the semantic ground truth
    * (the direct full-outer diff).
    */
  val q147ReplicaDiff: Q = (s, d) => {
    val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
      expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
    val replica = base.filter(col("k") % 1013 =!= 0)
      .withColumn("cents",
        when(col("k") % 997 === 0, col("cents") + 1).otherwise(col("cents")))
    def digests(t: DataFrame): DataFrame = t
      .withColumn("bkt", pmod(col("k"), lit(256)).cast("int"))
      .withColumn("h", expr(TextHash.sparkHash56(
        "concat(cast(k as string), ':', cast(cents as string))")))
      .groupBy("bkt").agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("dg"))
    val dirty = digests(base).select(col("bkt"), col("n").as("an"), col("dg").as("adg"))
      .join(digests(replica).select(col("bkt"), col("n").as("bn"), col("dg").as("bdg")),
            Seq("bkt"), "full")
      .filter(coalesce(col("an"), lit(-1L)) =!= coalesce(col("bn"), lit(-1L)) ||
              coalesce(col("adg"), lit(-1L)) =!= coalesce(col("bdg"), lit(-1L)))
      .select("bkt")
    def dirtyOnly(t: DataFrame): DataFrame = t
      .withColumn("bkt", pmod(col("k"), lit(256)).cast("int"))
      .join(broadcast(dirty), "bkt")
    dirtyOnly(base).select(col("k"), col("cents").as("base_cents"))
      .join(dirtyOnly(replica).select(col("k"), col("cents").as("replica_cents")),
            Seq("k"), "full")
      .filter(col("base_cents").isNull || col("replica_cents").isNull ||
              col("base_cents") =!= col("replica_cents"))
      .withColumn("status",
        when(col("replica_cents").isNull, "missing_in_replica")
          .when(col("base_cents").isNull, "added_in_replica")
          .otherwise("modified"))
      .select("k", "status", "base_cents", "replica_cents")
      .orderBy("k")
  }

  /** x14: the [[graft.functions.Log2Hist]] NATIVE aggregate — x12's
    * power-of-two histogram built by the engine-extension sketch instead
    * of a relational groupBy: one ObjectHashAggregate with a genuine
    * partial phase (512-byte buffer per group × partition crosses the
    * shuffle, never rows — PlanSpec pins the shape). The array result is
    * posexploded back to (bucket, n) rows so the relational ground truth
    * (the oracle's plain per-bucket counts) pins the sketch value-exactly,
    * partial/merge path included.
    */
  val x14Log2HistAgg: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_x14")
    s.sql(
      """WITH h AS (
        |  SELECT o_orderstatus,
        |         log2_hist(cast(floor(o_totalprice * 100) as bigint)) AS hist
        |  FROM orders_x14 GROUP BY o_orderstatus)
        |SELECT o_orderstatus, bucket, n
        |FROM h LATERAL VIEW posexplode(hist) t AS bucket, n
        |WHERE n > 0
        |ORDER BY o_orderstatus, bucket""".stripMargin)
  }

  /** q153 grid: planar coordinates on a [0, GeoGrid)² lattice; radius in
    * the same integer units. Cell size = radius ⇒ any pair within R lies
    * in the same or an adjacent cell (the 3×3 neighborhood guarantee).
    */
  val GeoGrid = 4000L
  val GeoRadius = 120L

  /** q153: spatial neighbor join — all point pairs within radius R, the
    * proximity-join shape behind location dedup and geo-blocking. The
    * scale pattern is GRID BUCKETING (the spatial twin of d01's LSH
    * bands): with cell size = R, a pair within R must fall in the same
    * or an adjacent cell, so each point emits its 3×3 neighbor-cell keys
    * (constant fan-out 9) and candidates come from ONE equi-join on the
    * cell key — never the all-pairs product — followed by the exact
    * integer squared-distance filter (no floats, no haversine: the
    * lattice is planar by construction). Each qualifying pair surfaces
    * exactly once (the probe side joins through its single home cell;
    * id1 < id2 dedups the direction). Coordinates derive
    * deterministically from custkey, so the oracle — the brute-force
    * 1500² pair join, affordable to DuckDB at sf0.01 — checks
    * COMPLETENESS of the bucketing against ground truth.
    */
  val q153GeoNeighborJoin: Q = (s, d) => {
    val pts = Tables.customer(s, d).select(
      col("c_custkey").as("id"),
      expr(s"(c_custkey * 7919) % $GeoGrid").as("x"),
      expr(s"(c_custkey * 104729) % $GeoGrid").as("y"))
    val probe = pts.select(col("id").as("id2"), col("x").as("x2"),
      col("y").as("y2"),
      expr(s"concat(x div $GeoRadius, ':', y div $GeoRadius)").as("cell"))
    val build = pts.select(col("id").as("id1"), col("x").as("x1"),
        col("y").as("y1"),
        explode(expr(
          s"""flatten(transform(sequence(-1, 1), dx ->
             |  transform(sequence(-1, 1), dy ->
             |    concat(x div $GeoRadius + dx, ':', y div $GeoRadius + dy))))"""
            .stripMargin)).as("cell"))
    build.join(probe, "cell")
      .filter(col("id1") < col("id2"))
      .withColumn("dist2",
        (col("x1") - col("x2")) * (col("x1") - col("x2")) +
          (col("y1") - col("y2")) * (col("y1") - col("y2")))
      .filter(col("dist2") <= GeoRadius * GeoRadius)
      .select("id1", "id2", "dist2")
      .orderBy("id1", "id2")
  }

  /** q154: R-bounded nearest neighbor — for each point, its closest
    * neighbor within [[GeoRadius]] (the geo-dedup primitive: "is there a
    * nearly-identical location on file, and which"). Same 3×3-cell
    * candidate generation as q153 (cell size = R makes the neighborhood
    * EXHAUSTIVE for the bounded search — a true NN beyond R is out of
    * contract by definition), then the per-point argmin is a partial-agg
    * `min_by` over (dist2, id) — map-side combinable, never a per-point
    * sort. Points with no neighbor within R drop (the practical contract:
    * they need no dedup decision).
    */
  val q154GeoKnn: Q = (s, d) => {
    val pts = Tables.customer(s, d).select(
      col("c_custkey").as("id"),
      expr(s"(c_custkey * 7919) % $GeoGrid").as("x"),
      expr(s"(c_custkey * 104729) % $GeoGrid").as("y"))
    val probe = pts.select(col("id").as("id2"), col("x").as("x2"),
      col("y").as("y2"),
      expr(s"concat(x div $GeoRadius, ':', y div $GeoRadius)").as("cell"))
    val build = pts.select(col("id"), col("x"), col("y"),
        explode(expr(
          s"""flatten(transform(sequence(-1, 1), dx ->
             |  transform(sequence(-1, 1), dy ->
             |    concat(x div $GeoRadius + dx, ':', y div $GeoRadius + dy))))"""
            .stripMargin)).as("cell"))
    build.join(probe, "cell")
      .filter(col("id") =!= col("id2"))
      .withColumn("dist2",
        (col("x") - col("x2")) * (col("x") - col("x2")) +
          (col("y") - col("y2")) * (col("y") - col("y2")))
      .filter(col("dist2") <= GeoRadius * GeoRadius)
      .groupBy("id")
      .agg(min_by(struct(col("id2"), col("dist2")),
        struct(col("dist2"), col("id2"))).as("nn"))
      .select(col("id"), col("nn.id2").as("nn_id"),
        col("nn.dist2").as("nn_dist2"))
      .orderBy("id")
  }

  // ---------------------------------------------------------------- q93

  /** q93: partitioned write + partition-pruned read — THE 100 TB layout
    * contract: write the fact table hive-partitioned by a low-cardinality
    * column, then read one partition back and prove the scan never touches
    * the others (PlanSpec pins `PartitionFilters` on this exact plan; at
    * scale this is the difference between scanning 100 TB and scanning one
    * directory). The partition column round-trips through the directory
    * name, the data columns through parquet — both ends hash-checked
    * against the source table.
    */
  val q93PartitionedWrite: Q = (s, d) => {
    val out = "target/part_events"
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("value"),
              col("event_type").as("etype"))
      .write.mode("overwrite").partitionBy("etype").parquet(out)
    s.read.parquet(out)
      .filter(col("etype") === "click")
      .select("event_id", "user_id", "value")
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- q94

  /** q94: top-k per key through the CUSTOM OPERATOR chain
    * ([[graft.plans.TopKPerKeyPlan]] → strategy → two-phase bounded-heap
    * exec, injected by GraftExtensions): top-3 orders per customer by
    * price. Same result as q49's window `row_number() <= k` spelling —
    * the oracle is literally that window SQL — but the plan shuffles only
    * map-side survivors (≤ partitions × keys × k rows) instead of every
    * row, and never sorts whole partitions. The (price DESC, orderkey ASC)
    * order is total per key, which the operator's determinism contract
    * requires; the final orderBy is presentation for the oracle compare.
    */
  val q94TopkCustom: Q = (s, d) => {
    val orders = Tables.orders(s, d)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    graft.plans.TopKPerKey(orders, Seq("o_custkey"),
        Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
      .orderBy("o_custkey", "o_orderkey")
  }

  // ---------------------------------------------------------------- q95

  /** q95: key-skew profile — the diagnostic a planner (human or automated)
    * reads before choosing plain vs salted vs broadcast for a join
    * (operators q60/SkewJoin act on what this measures): per-key counts
    * reduced to key cardinality, max/min key weight, mean (×100, integer),
    * and a skew ratio (max ÷ mean, ×100) — skew≈100 means uniform,
    * 10 000 means the hottest key is 100× the mean and needs salting.
    * Two partial-agg groupBys (rows → per-key counts → 5 scalars); the
    * second input is one row per key. All integer arithmetic.
    */
  val q95SkewProfile: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_keys"),
           sum(col("cnt")).as("total_rows"),
           max(col("cnt")).as("max_cnt"),
           min(col("cnt")).as("min_cnt"))
      .select(col("n_keys"), col("total_rows"), col("max_cnt"), col("min_cnt"),
        expr("total_rows * 100 div n_keys").as("mean_x100"),
        expr("max_cnt * n_keys * 100 div total_rows").as("skew_x100"))

  // ---------------------------------------------------------------- q96

  /** q96: file-level provenance — every row tagged with its source file
    * (`input_file_name()`), rolled up to per-file row counts: the lineage
    * audit a 100 TB ingest runs to reconcile "what landed" against the
    * upstream manifest (and the first tool out when one bad file poisons
    * a table). Per-row metadata column + one partial-agg groupBy over
    * O(files) groups; the oracle pins the single-file fixture layout by
    * name.
    */
  val q96FileProvenance: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(expr("regexp_extract(input_file_name(), '[^/]+$', 0)").as("src_file"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("src_file")

  // ---------------------------------------------------------------- q98

  /** q98: star join — the fact table joined through a dimension chain
    * (lineitem → supplier → nation → region) with revenue rolled up per
    * region. The scale argument is per-leg: nation (25 rows) and region
    * (5 rows) are FIXED-size dimensions at any corpus scale → provably
    * broadcast (PlanSpec pins both legs as BroadcastHashJoin); supplier
    * grows with the data → left to AQE, which broadcasts at this SF and
    * shuffles at 100 TB — the decision is the optimizer's, per the
    * measured size, which is the point. Revenue accumulates in
    * DECIMAL(18,2) (order-independent) and lands as double.
    */
  val q98StarJoin: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey"),
        col("l_extendedprice").cast(DecimalType(18, 2)).as("price"))
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_regionkey")
    val reg = Tables.region(s, d).select("r_regionkey", "r_name")
    li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_items"),
           sum(col("price")).cast(DecimalType(18, 2)).cast("double").as("revenue"))
      .orderBy("r_name")
  }

  // ---------------------------------------------------------------- q99

  /** Shard count for rendezvous assignment (8 shards over 500 docs at
    * sf0.01 → ~60 docs/shard, enough to see balance).
    */
  private val NumShards = 8

  /** q99: rendezvous (highest-random-weight) shard assignment — the
    * stable partitioner for distributed indexes/caches: each key goes to
    * argmax over shards of hash(key, shard), so ADDING a shard moves only
    * ~1/(N+1) of keys (consistent-hashing's property, no ring needed).
    * Spelled as explode(shards) → one codegen md5 per (key, shard) →
    * partial-agg `max_by` argmax — map-side combinable, no per-key window,
    * N× row amplification only between the project and the partial agg of
    * the same stage. The (hash, smaller-shard-wins) tie-break is ENCODED
    * into one BIGINT weight `h·N + (N−1−shard)` (h < 2⁵⁶, N = 8 → < 2⁵⁹):
    * a struct ordering key would force the aggregate onto the sort-based
    * path (struct buffers aren't hash-aggregable); the scalar weight keeps
    * both phases in HashAggregate.
    */
  val q99RendezvousShard: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"sequence(0, ${NumShards - 1})")).as("shard"))
      .withColumn("w", expr(TextHash.sparkHash56(
        "concat(cast(doc_id as string), '|', cast(shard as string))") +
        s" * $NumShards + (${NumShards - 1} - shard)"))
      .groupBy("doc_id")
      .agg(max_by(col("shard"), col("w")).as("shard"))
      .orderBy("doc_id")

  // --------------------------------------------------------------- q129

  /** q129: point-in-interval join through the ENGINE's automatic
    * range-bucketing rule ([[graft.plans.RangeBucketJoin]], injected via
    * GraftExtensions): customers matched to suppliers whose account
    * balance lies within ±50 — a pure range predicate, no equi key, which
    * stock Spark can only plan as an O(|C|·|S|) BroadcastNestedLoopJoin.
    * With the rule enabled (bucket width 100 ≈ interval length), the SAME
    * declarative join compiles to floor-bucket derivation + a ≤ 2-bucket
    * explode + a hash equi-join — the q89 rescue performed by the
    * optimizer instead of the query author. PlanSpec pins both directions
    * (rule on → no BNLJ anywhere; rule off → BNLJ), and the oracle pins
    * result equivalence. The conf is scoped to this query: the join is
    * materialized eagerly (localCheckpoint) so the flag can be unset
    * before returning — later queries that WANT the bounded-broadcast
    * BNLJ shape (q40's tiny band table) keep their pinned plans.
    */
  val q129RangeJoinAuto: Q = (s, d) => {
    val key = graft.plans.RangeBucketJoin.WidthConf
    s.conf.set(key, "100")
    try {
      val cust = Tables.customer(s, d).select("c_custkey", "c_acctbal")
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_acctbal")
      cust.join(sup,
          col("c_acctbal") >= col("s_acctbal") - 50.0 &&
          col("c_acctbal") <= col("s_acctbal") + 50.0)
        .groupBy("c_custkey").agg(count(lit(1)).as("n_sup"))
        .orderBy("c_custkey")
        .transform(Materialized.of(_).df)
    } finally s.conf.unset(key)
  }

  // --------------------------------------------------------------- q130

  /** q130: interval-OVERLAP join through the same engine rule — the second
    * range-join class [[graft.plans.RangeBucketJoin]] covers: customer
    * balance windows [c−20, c+20] against supplier windows [s−50, s+50],
    * overlap iff |c−s| ≤ 70 — again no equi key, again BNLJ in stock
    * Spark. The rule explodes BOTH sides to their covered buckets and
    * keeps each pair only in the meeting bucket floor(max(lo₁,lo₂)/W), so
    * every overlapping pair is found exactly once with no dedup pass
    * (q89 spells this convention by hand for sessions; here the optimizer
    * applies it to a declarative join). Same conf scoping as q129.
    */
  val q130IntervalJoinAuto: Q = (s, d) => {
    val key = graft.plans.RangeBucketJoin.WidthConf
    s.conf.set(key, "100")
    try {
      val cust = Tables.customer(s, d).select("c_custkey", "c_acctbal")
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_acctbal")
      cust.join(sup,
          col("c_acctbal") - 20.0 <= col("s_acctbal") + 50.0 &&
          col("s_acctbal") - 50.0 <= col("c_acctbal") + 20.0)
        .groupBy("c_custkey").agg(count(lit(1)).as("n_sup"))
        .orderBy("c_custkey")
        .transform(Materialized.of(_).df)
    } finally s.conf.unset(key)
  }

  // ------------------------------------------------------------ registry

  /** The lgK points x18 sweeps, each with its 3·rsd integer bound in
    * percent (HLL rsd ≈ 1.04/√2^lgK → 3·rsd ≈ 78 / 20 / 5 %): the
    * register array grows 2^lgK bytes while the error shrinks √-fold —
    * the memory-vs-error table itself.
    */
  private val HllSweep = Seq((4, 78), (8, 20), (12, 5))

  /** x18: HLL sketch-size (lgK) accuracy sweep — x15 prices the
    * approx_percentile accuracy knob; this prices the DISTINCT-COUNT
    * sketch's memory dial: the same key stream aggregated at lgK ∈
    * {4, 8, 12} (16-byte toy → 4 KiB production registers), each
    * estimate pinned inside its own 3·rsd band against the exact count
    * (x01/x05's bounded-property discipline — the engine-specific
    * estimate itself never crosses engines). The consultation table for
    * "how small can the per-group sketch column be at 100 TB before the
    * rollup lies": one pass per lgK, partial-agg mergeable state, O(1)
    * output rows.
    */
  val x18HllLgkSweep: Q = (s, d) => {
    val base = Tables.orders(s, d).select(col("o_custkey"))
    HllSweep.map { case (lgk, pct) =>
      base.agg(
          expr(s"hll_sketch_estimate(hll_sketch_agg(o_custkey, $lgk))")
            .as("est"),
          countDistinct(col("o_custkey")).as("n_exact"))
        .select(lit(lgk).as("lgk"), col("n_exact"),
          lit(pct).as("bound_pct"),
          (abs(col("est") - col("n_exact")) * 100
            <= col("n_exact") * pct).as("within_bound"))
    }.reduce(_.unionByName(_)).orderBy("lgk")
  }

  val queries: Map[String, Q] = Map(
    "x18_hll_lgk_sweep" -> x18HllLgkSweep,
    "x12_log2_histogram"   -> x12Log2Histogram,
    "x13_freq_items"       -> x13FreqItems,
    "q147_replica_diff"    -> q147ReplicaDiff,
    "x14_log2_hist_agg"    -> x14Log2HistAgg,
    "q153_geo_neighbor_join" -> q153GeoNeighborJoin,
    "q154_geo_knn"         -> q154GeoKnn,
    "x16_sketch_persist"   -> x16SketchPersist,
    "x07_kmv_sketch"       -> x07KmvSketch,
    "x08_ams_f2"           -> x08AmsF2,
    "x11_bitmap_distinct"  -> x11BitmapDistinct,
    "x10_cms_join_size"    -> x10CmsJoinSize,
    "q129_range_join_auto" -> q129RangeJoinAuto,
    "q130_interval_join_auto" -> q130IntervalJoinAuto,
    "x09_kmv_setops"       -> x09KmvSetOps,
    "x17_theta_anotb"      -> x17ThetaAnotB,
    "q99_rendezvous_shard" -> q99RendezvousShard,
    "q98_star_join"        -> q98StarJoin,
    "q96_file_provenance"  -> q96FileProvenance,
    "q95_skew_profile"     -> q95SkewProfile,
    "q94_topk_custom"      -> q94TopkCustom,
    "q93_partitioned_write" -> q93PartitionedWrite,
    "x05_hll_sketch"       -> x05HllSketch,
    "x06_approx_top_k"     -> x06ApproxTopK,
    "x03_bloom_filter"     -> x03BloomFilterJoin,
    "x04_count_min"        -> x04CountMin,
    "q86_zorder_layout"    -> q86ZorderLayout,
    "q87_try_funcs"        -> q87TryFuncs,
    "q88_ohlc_bars"        -> q88OhlcBars,
    "q89_interval_overlap" -> q89IntervalOverlap)

  // ------------------------------------------------------------- oracles

  private def duckPos(keyExpr: String): String =
    s"${TextHash.duckHash56(s"i || '|' || CAST($keyExpr AS VARCHAR)")} % $BloomM"

  private def duckCell: String = {
    val h = TextHash.duckHash56("CAST(l_suppkey AS VARCHAR)")
    cmsCellExpr(s"($h % $CmsHalf)", s"(($h // $CmsHalf) | 1)")
  }

  val oracles: Map[String, String] = Map(
    // x16: exact counts + literal TRUEs (x01/x05 discipline — losslessness
    // and the accuracy bound are the engine's contracts to prove).
    "x16_sketch_persist" ->
      """SELECT o_orderpriority AS grp,
        |       COUNT(DISTINCT o_custkey) AS n_exact,
        |       TRUE AS lossless,
        |       TRUE AS within_5pct
        |FROM orders GROUP BY 1 ORDER BY grp""".stripMargin,
    // q153: ground truth = the brute-force pair join (no bucketing) —
    // the oracle checks the 3x3-cell candidate generation is COMPLETE.
    "q153_geo_neighbor_join" ->
      s"""WITH p AS (
         |  SELECT c_custkey AS id,
         |         (c_custkey * 7919) % $GeoGrid AS x,
         |         (c_custkey * 104729) % $GeoGrid AS y
         |  FROM customer)
         |SELECT a.id AS id1, b.id AS id2,
         |       (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
         |FROM p a JOIN p b ON a.id < b.id
         |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         |      <= ${GeoRadius * GeoRadius}
         |ORDER BY id1, id2""".stripMargin,
    // q154: brute-force ground truth, argmin spelled as the ranked window
    // with min_by's (dist2, id2) tie order.
    "q154_geo_knn" ->
      s"""WITH p AS (
         |  SELECT c_custkey AS id,
         |         (c_custkey * 7919) % $GeoGrid AS x,
         |         (c_custkey * 104729) % $GeoGrid AS y
         |  FROM customer),
         |pairs AS (
         |  SELECT a.id, b.id AS id2,
         |         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
         |  FROM p a JOIN p b ON a.id <> b.id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY id
         |                               ORDER BY dist2 ASC, id2 ASC) AS rn
         |  FROM pairs WHERE dist2 <= ${GeoRadius * GeoRadius})
         |SELECT id, id2 AS nn_id, dist2 AS nn_dist2
         |FROM ranked WHERE rn = 1 ORDER BY id""".stripMargin,
    // x14: relational ground truth for the native sketch — per-bucket
    // exact counts with the same bit-length bucketing as x12.
    "x14_log2_hist_agg" ->
      """SELECT o_orderstatus,
        |       CAST(length(format('{:b}',
        |         CAST(FLOOR(o_totalprice * 100) AS BIGINT))) - 1 AS INT) AS bucket,
        |       COUNT(1) AS n
        |FROM orders
        |GROUP BY 1, 2 ORDER BY o_orderstatus, bucket""".stripMargin,
    // q147: ground truth = the direct full-outer diff (no digests — the
    // oracle checks WHAT drifted, the Spark side proves it can be found
    // while moving only bucket digests).
    "q147_replica_diff" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k,
        |         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |replica AS (
        |  SELECT k, CASE WHEN k % 997 = 0 THEN cents + 1 ELSE cents END AS cents
        |  FROM base WHERE k % 1013 <> 0)
        |SELECT COALESCE(b.k, r.k) AS k,
        |       CASE WHEN r.k IS NULL THEN 'missing_in_replica'
        |            WHEN b.k IS NULL THEN 'added_in_replica'
        |            ELSE 'modified' END AS status,
        |       b.cents AS base_cents, r.cents AS replica_cents
        |FROM base b FULL OUTER JOIN replica r ON b.k = r.k
        |WHERE b.k IS NULL OR r.k IS NULL OR b.cents <> r.cents
        |ORDER BY k""".stripMargin,
    // x13: the oracle pins the exact-count leg and the guarantee booleans
    // as literals (x01/x02 discipline — the report SET is layout-dependent
    // but the inclusion guarantee is not).
    "x13_freq_items" ->
      """SELECT COUNT(1) AS n_frequent_types,
        |       TRUE AS all_frequent_reported,
        |       TRUE AS heavy_reported
        |FROM (SELECT event_type, COUNT(1) AS c FROM events GROUP BY 1) t,
        |     (SELECT COUNT(1) AS n FROM events) g
        |WHERE c * 20 > n""".stripMargin,
    // x12: same exact bit-length bucketing (format('{:b}') == Spark's
    // bin() for positive bigints); the oracle's cumulative pass is the
    // window spelling of the Spark side's broadcast theta join.
    "x12_log2_histogram" ->
      """WITH v AS (SELECT CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v
        |           FROM orders),
        |h AS (SELECT CAST(length(format('{:b}', v)) - 1 AS INT) AS bucket,
        |             COUNT(1) AS n
        |      FROM v GROUP BY 1),
        |c AS (SELECT bucket, n,
        |             CAST(SUM(n) OVER (ORDER BY bucket) AS BIGINT) AS cum,
        |             CAST(SUM(n) OVER () AS BIGINT) AS total
        |      FROM h)
        |SELECT bucket,
        |       (CAST(1 AS BIGINT) << bucket) AS lo,
        |       (CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS hi,
        |       n, cum,
        |       (cum - n) * 2 < total AND cum * 2 >= total AS is_p50,
        |       (cum - n) * 20 < total * 19 AND cum * 20 >= total * 19 AS is_p95,
        |       (cum - n) * 100 < total * 99 AND cum * 100 >= total * 99 AS is_p99
        |FROM c ORDER BY bucket""".stripMargin,
    // x11 is EXACT (bitmaps are a lossless distinct-set representation),
    // so all three legs pin against the one plain spelling.
    "x11_bitmap_distinct" ->
      """SELECT o_orderstatus,
        |       COUNT(DISTINCT o_custkey) AS n_bitmap,
        |       COUNT(DISTINCT o_custkey) AS n_merged,
        |       COUNT(DISTINCT o_custkey) AS n_exact
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // x17: the identical sketch derivation — DuckDB's anti-joins and the
    // same min-theta/2^56 integer algebra; `//` by a zero exact side is
    // unreachable via the CASE guard.
    "x17_theta_anotb" -> {
      val ha = TextHash.duckHash56("CAST(c_custkey AS VARCHAR)")
      val hb = TextHash.duckHash56("CAST(o_custkey AS VARCHAR)")
      s"""WITH ha AS (SELECT DISTINCT $ha AS h FROM customer WHERE c_acctbal > 0),
         |hb AS (SELECT DISTINCT $hb AS h FROM orders WHERE o_orderstatus = 'F'),
         |ska AS (SELECT h FROM ha ORDER BY h LIMIT $KmvK),
         |skb AS (SELECT h FROM hb ORDER BY h LIMIT $KmvK),
         |th AS (SELECT least(
         |         CASE WHEN (SELECT COUNT(1) FROM ska) < $KmvK
         |              THEN 72057594037927936 ELSE (SELECT MAX(h) FROM ska) END,
         |         CASE WHEN (SELECT COUNT(1) FROM skb) < $KmvK
         |              THEN 72057594037927936 ELSE (SELECT MAX(h) FROM skb) END)
         |         AS theta),
         |mab AS (SELECT COUNT(1) AS m_ab FROM ska, th
         |        WHERE h <= theta AND h NOT IN (SELECT h FROM skb)),
         |mba AS (SELECT COUNT(1) AS m_ba FROM skb, th
         |        WHERE h <= theta AND h NOT IN (SELECT h FROM ska)),
         |ex AS (SELECT
         |         (SELECT COUNT(1) FROM ha
         |          WHERE h NOT IN (SELECT h FROM hb)) AS exact_ab,
         |         (SELECT COUNT(1) FROM hb
         |          WHERE h NOT IN (SELECT h FROM ha)) AS exact_ba),
         |es AS (SELECT
         |         CASE WHEN theta >= 72057594037927936 THEN m_ab
         |              ELSE m_ab * 72057594037927936 // theta END AS est_ab,
         |         CASE WHEN theta >= 72057594037927936 THEN m_ba
         |              ELSE m_ba * 72057594037927936 // theta END AS est_ba
         |       FROM mab, mba, th)
         |SELECT est_ab, exact_ab,
         |       CASE WHEN exact_ab = 0 THEN (CASE WHEN est_ab = 0 THEN 0 ELSE 10000 END)
         |            ELSE abs(est_ab - exact_ab) * 10000 // exact_ab END AS err_ab_bp,
         |       est_ba, exact_ba,
         |       CASE WHEN exact_ba = 0 THEN (CASE WHEN est_ba = 0 THEN 0 ELSE 10000 END)
         |            ELSE abs(est_ba - exact_ba) * 10000 // exact_ba END AS err_ba_bp
         |FROM es, ex""".stripMargin
    },
    "x09_kmv_setops" -> {
      val ha = TextHash.duckHash56("CAST(o_custkey AS VARCHAR)")
      val hb = TextHash.duckHash56("CAST(c_custkey AS VARCHAR)")
      s"""WITH ha AS (SELECT DISTINCT $ha AS h FROM orders),
         |hb AS (SELECT DISTINCT $hb AS h FROM customer WHERE c_acctbal > 0),
         |ska AS (SELECT h FROM ha ORDER BY h LIMIT $KmvK),
         |skb AS (SELECT h FROM hb ORDER BY h LIMIT $KmvK),
         |sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
         |        ORDER BY h LIMIT $KmvK),
         |th AS (SELECT COUNT(1) AS nu, MAX(h) AS kth FROM sku),
         |mm AS (SELECT COUNT(1) AS m FROM ska JOIN skb USING (h), th
         |       WHERE h <= kth),
         |ex AS (SELECT (SELECT COUNT(1) FROM ha JOIN hb USING (h)) AS exact_inter,
         |              (SELECT COUNT(1) FROM ha) AS na,
         |              (SELECT COUNT(1) FROM hb) AS nb),
         |eu AS (SELECT CASE WHEN nu < $KmvK THEN nu
         |                   ELSE (${KmvK - 1} * 72057594037927936) // kth END AS est_u,
         |              nu FROM th)
         |SELECT CASE WHEN nu < $KmvK THEN m ELSE m * est_u // $KmvK END AS est_inter,
         |       exact_inter,
         |       abs((CASE WHEN nu < $KmvK THEN m ELSE m * est_u // $KmvK END) - exact_inter)
         |         * 10000 // exact_inter AS err_inter_bp,
         |       m * 10000 // nu AS est_jaccard_bp,
         |       exact_inter * 10000 // (na + nb - exact_inter) AS exact_jaccard_bp
         |FROM mm, ex, eu""".stripMargin
    },
    "x08_ams_f2" -> {
      val h = TextHash.duckHash56(
        "CAST(i AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)")
      s"""WITH freq AS (SELECT user_id, COUNT(1) AS f FROM events GROUP BY 1),
         |e AS (SELECT i, CAST(SUM((1 - 2 * ($h % 2)) * f) AS BIGINT) AS y
         |      FROM freq, (SELECT unnest(generate_series(0, ${AmsM - 1})) AS i) ii
         |      GROUP BY 1),
         |est AS (SELECT CAST(SUM(y * y) AS BIGINT) // $AmsM AS est_f2 FROM e),
         |ex AS (SELECT CAST(SUM(f * f) AS BIGINT) AS exact_f2 FROM freq)
         |SELECT est_f2, exact_f2,
         |       abs(est_f2 - exact_f2) * 10000 // exact_f2 AS err_bp
         |FROM est, ex""".stripMargin
    },
    "x07_kmv_sketch" -> {
      val ha = TextHash.duckHash56("'c' || CAST(o_custkey AS VARCHAR)")
      val hb = TextHash.duckHash56("'s' || CAST(l_suppkey AS VARCHAR)")
      s"""WITH ha AS (SELECT DISTINCT $ha AS h FROM orders),
         |hb AS (SELECT DISTINCT $hb AS h FROM lineitem),
         |ska AS (SELECT h FROM ha ORDER BY h LIMIT $KmvK),
         |skb AS (SELECT h FROM hb ORDER BY h LIMIT $KmvK),
         |sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
         |        ORDER BY h LIMIT $KmvK),
         |ea AS (SELECT CASE WHEN COUNT(1) < $KmvK THEN COUNT(1)
         |                    ELSE (${KmvK - 1} * 72057594037927936) // MAX(h) END AS est_a FROM ska),
         |eb AS (SELECT CASE WHEN COUNT(1) < $KmvK THEN COUNT(1)
         |                    ELSE (${KmvK - 1} * 72057594037927936) // MAX(h) END AS est_b FROM skb),
         |eu AS (SELECT CASE WHEN COUNT(1) < $KmvK THEN COUNT(1)
         |                    ELSE (${KmvK - 1} * 72057594037927936) // MAX(h) END AS est_u FROM sku),
         |ex AS (SELECT (SELECT COUNT(1) FROM ha) AS exact_a,
         |              (SELECT COUNT(1) FROM hb) AS exact_b,
         |              (SELECT COUNT(1) FROM ha) + (SELECT COUNT(1) FROM hb) AS exact_u)
         |SELECT est_a, exact_a, abs(est_a - exact_a) * 10000 // exact_a AS err_a_bp,
         |       est_b, exact_b, abs(est_b - exact_b) * 10000 // exact_b AS err_b_bp,
         |       est_u, exact_u, abs(est_u - exact_u) * 10000 // exact_u AS err_u_bp
         |FROM ea, eb, eu, ex""".stripMargin
    },
    "q99_rendezvous_shard" -> {
      val h = TextHash.duckHash56(
        "CAST(doc_id AS VARCHAR) || '|' || CAST(shard AS VARCHAR)")
      s"""SELECT doc_id, CAST(shard AS INT) AS shard FROM (
         |  SELECT doc_id, shard,
         |         row_number() OVER (PARTITION BY doc_id
         |           ORDER BY $h DESC, shard ASC) AS rn
         |  FROM (SELECT doc_id, unnest(generate_series(0, ${NumShards - 1})) AS shard
         |        FROM documents))
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    "q98_star_join" ->
      """SELECT r_name, COUNT(1) AS n_items,
        |       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q96_file_provenance" ->
      """SELECT 'orders.parquet' AS src_file, COUNT(1) AS n_rows
        |FROM orders ORDER BY src_file""".stripMargin,
    "q95_skew_profile" ->
      """SELECT CAST(COUNT(1) AS BIGINT) AS n_keys,
        |       CAST(SUM(cnt) AS BIGINT) AS total_rows,
        |       MAX(cnt) AS max_cnt, MIN(cnt) AS min_cnt,
        |       CAST(SUM(cnt) AS BIGINT) * 100 // COUNT(1) AS mean_x100,
        |       MAX(cnt) * COUNT(1) * 100 // CAST(SUM(cnt) AS BIGINT) AS skew_x100
        |FROM (SELECT l_suppkey, COUNT(1) AS cnt FROM lineitem GROUP BY l_suppkey)""".stripMargin,
    "q94_topk_custom" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q93_partitioned_write" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'click' ORDER BY event_id""".stripMargin,
    // x18: the bounds are DECLARED (the sweep's own table); the oracle
    // pins exact counts and demands every estimate lands inside its band
    "x18_hll_lgk_sweep" ->
      """SELECT lgk, n_exact, bound_pct, TRUE AS within_bound FROM (
        |  SELECT 4 AS lgk, 78 AS bound_pct
        |  UNION ALL SELECT 8, 20
        |  UNION ALL SELECT 12, 5) k
        |CROSS JOIN (SELECT COUNT(DISTINCT o_custkey) AS n_exact FROM orders) e
        |ORDER BY lgk""".stripMargin,
    "x05_hll_sketch" ->
      """SELECT grp, n_exact, within_5pct FROM (
        |  SELECT o_orderpriority AS grp,
        |         COUNT(DISTINCT o_custkey) AS n_exact, TRUE AS within_5pct
        |  FROM orders GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 'ALL', COUNT(DISTINCT o_custkey), TRUE FROM orders)
        |ORDER BY grp""".stripMargin,
    "x06_approx_top_k" ->
      """SELECT event_type AS item, COUNT(1) AS cnt
        |FROM events GROUP BY event_type
        |ORDER BY cnt DESC, item""".stripMargin,
    "x03_bloom_filter" ->
      s"""WITH build AS (
         |  SELECT DISTINCT o_custkey AS bkey FROM orders
         |  WHERE o_totalprice > $BloomBuildMin),
         |bits AS (
         |  SELECT DISTINCT ${duckPos("bkey")} AS pos
         |  FROM build CROSS JOIN generate_series(0, ${BloomK - 1}) AS g(i)),
         |probe AS (
         |  SELECT c_custkey, ${duckPos("c_custkey")} AS pos
         |  FROM customer CROSS JOIN generate_series(0, ${BloomK - 1}) AS g(i)),
         |pass AS (
         |  SELECT c_custkey FROM probe JOIN bits USING (pos)
         |  GROUP BY c_custkey HAVING COUNT(1) = $BloomK)
         |SELECT c_custkey, bkey IS NOT NULL AS is_member
         |FROM pass LEFT JOIN build ON c_custkey = bkey
         |ORDER BY c_custkey""".stripMargin,
    "q129_range_join_auto" ->
      """SELECT c_custkey, COUNT(1) AS n_sup
        |FROM customer JOIN supplier
        |  ON c_acctbal >= s_acctbal - 50.0 AND c_acctbal <= s_acctbal + 50.0
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q130_interval_join_auto" ->
      """SELECT c_custkey, COUNT(1) AS n_sup
        |FROM customer JOIN supplier
        |  ON c_acctbal - 20.0 <= s_acctbal + 50.0
        | AND s_acctbal - 50.0 <= c_acctbal + 20.0
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "x10_cms_join_size" ->
      s"""WITH ca AS (
         |  SELECT r, c, COUNT(1) AS ca FROM (
         |    SELECT $duckCell AS c, r
         |    FROM lineitem CROSS JOIN generate_series(0, ${CmsDepth - 1}) AS g(r))
         |  GROUP BY r, c),
         |cb AS (
         |  SELECT r, c, COUNT(1) AS cb FROM (
         |    SELECT $duckCell AS c, r
         |    FROM lineitem CROSS JOIN generate_series(0, ${CmsDepth - 1}) AS g(r)
         |    WHERE l_returnflag = 'R')
         |  GROUP BY r, c),
         |est AS (
         |  SELECT CAST(MIN(dot) AS BIGINT) AS est_join FROM (
         |    SELECT r, SUM(ca * cb) AS dot FROM ca JOIN cb USING (r, c) GROUP BY r)),
         |fa AS (SELECT l_suppkey, COUNT(1) AS fa FROM lineitem GROUP BY 1),
         |fb AS (SELECT l_suppkey, COUNT(1) AS fb FROM lineitem
         |       WHERE l_returnflag = 'R' GROUP BY 1),
         |ex AS (SELECT CAST(SUM(fa * fb) AS BIGINT) AS exact_join
         |       FROM fa JOIN fb USING (l_suppkey))
         |SELECT est_join, exact_join,
         |       CAST((est_join - exact_join) * 10000 // exact_join AS BIGINT) AS overshoot_bp,
         |       est_join >= exact_join AS bound_ok
         |FROM est, ex""".stripMargin,
    "x04_count_min" ->
      s"""WITH sketch AS (
         |  SELECT r, c, COUNT(1) AS cnt FROM (
         |    SELECT $duckCell AS c, r
         |    FROM lineitem CROSS JOIN generate_series(0, ${CmsDepth - 1}) AS g(r))
         |  GROUP BY r, c),
         |exact AS (
         |  SELECT l_suppkey, COUNT(1) AS exact FROM lineitem GROUP BY l_suppkey)
         |SELECT l_suppkey, exact, MIN(cnt) AS est, MIN(cnt) >= exact AS bound_ok
         |FROM (
         |  SELECT l_suppkey, exact, r, $duckCell AS c
         |  FROM exact CROSS JOIN generate_series(0, ${CmsDepth - 1}) AS g(r)) q
         |JOIN sketch USING (r, c)
         |GROUP BY l_suppkey, exact
         |ORDER BY l_suppkey""".stripMargin,
    "q86_zorder_layout" ->
      s"""SELECT zval // 4096 AS bucket, COUNT(1) AS n,
         |       MIN(x) AS x_min, MAX(x) AS x_max,
         |       MIN(y) AS y_min, MAX(y) AS y_max
         |FROM (
         |  SELECT x, y, ${zInterleave("x", "y", duck = true)} AS zval
         |  FROM (SELECT CAST(floor(value) AS BIGINT) AS x, user_id % 1024 AS y
         |        FROM events))
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q87_try_funcs" ->
      """SELECT c_custkey,
        |       TRY_CAST(c_name AS INTEGER) AS bad_int,
        |       TRY_CAST(split_part(c_name, '#', 2) AS BIGINT) AS name_num,
        |       CASE WHEN c_custkey % 7 = 0 THEN NULL
        |            ELSE CAST(c_custkey AS DOUBLE) / CAST(c_custkey % 7 AS DOUBLE)
        |       END AS div7,
        |       string_split(c_mktsegment, 'I')[3] AS seg3,
        |       CAST(NULL AS BIGINT) AS ovf,
        |       TRY_CAST('2024-13-45' AS TIMESTAMP) AS bad_ts
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q88_ohlc_bars" ->
      """SELECT event_type, bkt,
        |       CAST(CAST(MIN(CASE WHEN rna = 1 THEN value END) AS DECIMAL(18,2)) AS DOUBLE) AS open,
        |       CAST(CAST(MAX(value) AS DECIMAL(18,2)) AS DOUBLE) AS high,
        |       CAST(CAST(MIN(value) AS DECIMAL(18,2)) AS DOUBLE) AS low,
        |       CAST(CAST(MIN(CASE WHEN rnd = 1 THEN value END) AS DECIMAL(18,2)) AS DOUBLE) AS close,
        |       COUNT(1) AS volume
        |FROM (
        |  SELECT event_type, value,
        |         us // 900000000 * 900000000 AS bkt,
        |         row_number() OVER (PARTITION BY event_type, us // 900000000
        |                            ORDER BY us ASC, event_id ASC) AS rna,
        |         row_number() OVER (PARTITION BY event_type, us // 900000000
        |                            ORDER BY us DESC, event_id DESC) AS rnd
        |  FROM (SELECT event_type, event_id, value,
        |               epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events))
        |GROUP BY event_type, bkt ORDER BY event_type, bkt""".stripMargin,
    "q89_interval_overlap" ->
      """SELECT a.user_id AS user_id, a.event_id AS e1, b.event_id AS e2
        |FROM (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS st,
        |             epoch_us(CAST(ts AS TIMESTAMP))
        |               + CAST(floor(value * 1000000) AS BIGINT) AS en
        |      FROM events) a
        |JOIN (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS st,
        |             epoch_us(CAST(ts AS TIMESTAMP))
        |               + CAST(floor(value * 1000000) AS BIGINT) AS en
        |      FROM events) b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND a.st < b.en AND b.st < a.en
        |ORDER BY user_id, e1, e2""".stripMargin)
}
