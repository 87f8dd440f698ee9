package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Batch relational operator suite (SURVEY.md §2 Part B, q01–q28 + q31).
  *
  * Every query here is declarative DataFrame/SQL — Catalyst owns predicate
  * pushdown, column pruning, join selection and AQE re-planning. Determinism
  * discipline for the DuckDB oracle (SURVEY §7.4): total-order ORDER BY,
  * doubles cast to DECIMAL(18,2) before SUM/AVG, no approx/bround, explicit
  * NULLS FIRST pinned on both engines. Final output columns are never
  * DECIMAL: the driver's value hash diverges on decimal representations
  * (round-1 CORRECTNESS — all 14 hash-fails were decimal-output queries),
  * so aggregates accumulate in decimal and cast the RESULT to DOUBLE
  * (exact 2-dp decimal → double is correctly rounded and bit-identical in
  * Spark and DuckDB; mirrored CAST(... AS DOUBLE) in every oracle).
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** DECIMAL(18,2) accumulation (see object Scaladoc) — the one definition
    * every query suite's decimal-exact sums use.
    */
  private[queries] def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Decimal-exact math, double final representation (see object Scaladoc). */
  private[queries] def decD(c: Column): Column = dec(c).cast("double")

  // ---------------------------------------------------------------- filters

  /** q01: the reference's A7 filter shape — arithmetic + round + >= + OR —
    * transplanted onto lineitem. Pushed into the parquet scan by Catalyst.
    */
  val q01FraudRuleFilter: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 2) >= col("l_quantity") * 100 ||
        round(col("l_tax") + col("l_discount"), 2) >= 0.05)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")

  /** q02: A8's equality-disjunction filter shape. */
  val q02FlagFilter: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R" || col("l_linestatus") === "F")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag", "l_linestatus")

  /** q03: projection + cast + rename (A4/A5 shape). */
  val q03ProjectCast: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        decD(col("o_totalprice")).as("total_dec"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_orderstatus").as("status"))
      .orderBy("o_orderkey")

  /** q04: scan + count (A3/A6). Map-side partial count → one exchange of
    * 32 longs; scan reads zero columns (count-star pruning).
    */
  val q04ScanCount: Q = (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).as("n"))

  // ----------------------------------------------------------------- joins

  /** q05: inner equi-join. Catalyst/AQE picks broadcast vs shuffle by size;
    * at 100 TB orders⋈customer is a shuffle hash join on the key.
    */
  val q05JoinInner: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** q06: left outer join; null-safe total order (NULLS FIRST pinned). */
  val q06JoinLeft: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  /** q07: left semi join (EXISTS) — no right columns materialized. */
  val q07JoinSemi: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** q08: left anti join (NOT EXISTS) — customers with no high-value order
    * (the filter keeps the result non-degenerate: every customer has *some*
    * order in the generated data).
    */
  val q08JoinAnti: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** q09: explicit broadcast of the small dimension — at any scale region
    * (5 rows) must never shuffle the fact side.
    */
  val q09JoinBroadcast: Q = (s, d) => {
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")
  }

  /** q10: non-equi (theta) join → BroadcastNestedLoopJoin. Bounded: only
    * sensible when one side broadcasts; supplier is the small dim here.
    * SIZE BOUND: the broadcast side is the whole supplier table — fine at
    * dimension scale (TPC-H supplier is ~1 MB × SF·10k rows; at SF100 ≈
    * 100 MB, the practical broadcast ceiling). If the table outgrows that,
    * the scale path is band-partitioning: bucket s_acctbal into ranges,
    * join on overlapping buckets (q40's shape), never a shuffle cartesian.
    */
  val q10JoinTheta: Q = (s, d) => {
    val s1 = Tables.supplier(s, d).select(col("s_suppkey").as("k1"), col("s_acctbal").as("bal1"))
    val s2 = Tables.supplier(s, d).select(col("s_suppkey").as("k2"), col("s_acctbal").as("bal2"))
    s1.join(broadcast(s2), col("bal1") < col("bal2") && col("bal1") * 2 > col("bal2"))
      .select("k1", "k2")
      .orderBy("k1", "k2")
  }

  /** q11: as-of join — for each purchase event, the latest error event by
    * the same user at or before the purchase. Spark lacks a native as-of
    * join; the scalable formulation is union + last(_, ignoreNulls) over a
    * running frame: tag errors kind=0 and purchases kind=1, sort by
    * (user, ts, kind, event_id), and carry the last-seen error forward.
    * ONE shuffle, O(n log n) per user — no (purchase × error) pair
    * explosion (the join+row_number spelling blows up quadratically per
    * user at 100 TB when users have many events). Same-ts ties: errors
    * sort before purchases (inclusive as-of), max event_id wins — matching
    * the ASOF JOIN oracle's (ts DESC, id DESC) pick.
    */
  val q11JoinAsof: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
              lit(null).cast("long").as("p_id"),
              col("event_id").as("e_id"), col("ts").as("e_ts"),
              col("value").as("e_value"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
              col("event_id").as("p_id"),
              lit(null).cast("long").as("e_id"),
              lit(null).cast("timestamp").as("e_ts"),
              lit(null).cast("double").as("e_value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("kind").asc, coalesce(col("e_id"), col("p_id")).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.union(p)
      .withColumn("last_e_id", last(col("e_id"), ignoreNulls = true).over(w))
      .withColumn("last_e_ts", last(col("e_ts"), ignoreNulls = true).over(w))
      .withColumn("last_e_value", last(col("e_value"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("last_e_id").isNotNull)
      .select(col("p_id"), col("last_e_id").as("e_id"),
              col("last_e_ts").as("e_ts"), col("last_e_value").as("e_value"))
      .orderBy("p_id")
  }

  /** q149: FORWARD as-of join with tolerance — for each purchase, the
    * EARLIEST error by the same user at-or-after it, but only within a
    * 30-minute window (the "did an error follow this action soon after"
    * shape behind alert correlation and label attribution; q11 pins the
    * backward direction). Same scale discipline as q11 — union + one
    * per-user running frame, never a (purchase × error) pair join — run
    * DESCENDING: scanning ts high→low, the carried "last seen error" is
    * exactly the smallest error ts ≥ current row (ties: errors sort
    * before purchases at equal ts for inclusive semantics, and the id
    * DESC scan order makes the carried pick the smallest e_id — the
    * deterministic (ts ASC, id ASC) choice). The tolerance is a post-hoc
    * filter on the matched gap, so it costs nothing extra.
    */
  val q149AsofForward: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
              lit(null).cast("long").as("p_id"),
              col("event_id").as("e_id"), col("ts").as("e_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
              col("event_id").as("p_id"),
              lit(null).cast("long").as("e_id"),
              lit(null).cast("timestamp").as("e_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("kind").asc,
               coalesce(col("e_id"), col("p_id")).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.union(p)
      .withColumn("nxt_e_id", last(col("e_id"), ignoreNulls = true).over(w))
      .withColumn("nxt_e_ts", last(col("e_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("nxt_e_id").isNotNull)
      .withColumn("gap_us",
        expr("unix_micros(nxt_e_ts) - unix_micros(ts)"))
      .filter(col("gap_us") <= 30L * 60L * 1000000L)
      .select(col("p_id"), col("nxt_e_id").as("e_id"), col("gap_us"))
      .orderBy("p_id")
  }

  // ------------------------------------------------------------ aggregates

  /** q12: TPC-H Q1-shaped hash aggregate. Partial (map-side) aggregation
    * makes the shuffle carry one row per (group × partition), not per input
    * row — the property that keeps this viable at 100 TB.
    */
  val q12AggGroup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        decD(sum(dec(col("l_quantity")))).as("sum_qty"),
        decD(sum(dec(col("l_extendedprice")))).as("sum_price"),
        decD(avg(dec(col("l_quantity")))).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q185: TPC-H Q1 (pricing summary report) — q12's group-by upgraded to
    * the benchmark's full eight-aggregate form: quantity/base-price sums,
    * the COMPOUND decimal products disc_price = price·(1−disc) and
    * charge = price·(1−disc)·(1+tax) (exact decimal multiplication —
    * the sums are exact rationals on both engines, so the final double
    * casts are bit-identical), three averages via the q12-proven
    * re-round-to-(18,2) device (AVG's division result needs one shared
    * rounding point), and the row count, under Q1's shipdate cutoff.
    * Plan: one scan, pushed date filter, ONE partial-agg pass (all eight
    * aggregates combine map-side — the reason Q1 is the benchmark's
    * scan-throughput yardstick).
    */
  val q185TpchQ1: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // SUMS cast straight to double: the decimal sums are EXACT (2/4/6
        // dp), so nearest-double conversion is engine-independent — a
        // re-round to (18,2) first would put half-cent ties under each
        // engine's decimal tie-break (measured: one cent apart at sf0.01)
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) *
          dec(lit(1) - col("l_discount"))).cast("double").as("sum_disc_price"),
        sum(dec(col("l_extendedprice")) *
          dec(lit(1) - col("l_discount")) *
          dec(lit(1) + col("l_tax"))).cast("double").as("sum_charge"),
        decD(avg(dec(col("l_quantity")))).as("avg_qty"),
        decD(avg(dec(col("l_extendedprice")))).as("avg_price"),
        decD(avg(dec(col("l_discount")))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q13: distinct aggregation (expand + two-phase agg under the hood). */
  val q13AggDistinct: Q = (s, d) =>
    Tables.orders(s, d)
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
           count(lit(1)).as("n_orders"))

  /** q14: rollup. */
  val q14Rollup: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(decD(sum(dec(col("l_quantity")))).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** q15: cube. */
  val q15Cube: Q = (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(decD(sum(dec(col("l_quantity")))).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** q16: grouping sets via the SQL frontend (the DataFrame API has no
    * grouping-sets verb; SQL is first-class in this engine).
    */
  val q16GroupingSets: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
    s.sql("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             COUNT(1) AS n
      FROM lineitem_gs
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """)
  }

  // --------------------------------------------------------------- windows

  /** q17: ranking window functions. Tie-break on o_orderkey makes the
    * ranking total — mandatory for replay determinism.
    */
  val q17WindowRank: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rk"),
        dense_rank().over(w).cast("long").as("drk"))
      .orderBy("o_custkey", "rn")
  }

  /** q18: running sum with an explicit rows frame. Decimal accumulation so
    * both engines add in the same (frame-defined) order with exact digits.
    */
  val q18WindowRunning: Q = (s, d) => {
    // (l_orderkey, l_linenumber) is NOT unique in the generated data; the
    // window order must be total or the running sum is replay-nondeterministic.
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        decD(sum(dec(col("l_quantity"))).over(w)).as("running_qty"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  }

  /** q19: lag/lead over an event stream. */
  val q19WindowLag: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(
        col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
      .orderBy("user_id", "event_id")
  }

  // ------------------------------------------------------------ sort/limit

  /** q20: top-k — Spark plans orderBy+limit as TakeOrderedAndProject (a
    * per-partition heap + driver merge of k rows, never a full sort).
    */
  val q20Topk: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** q21: multi-column mixed-direction global sort (range-partitioned). */
  val q21SortMulti: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
      .orderBy(col("l_returnflag").asc, col("l_quantity").desc,
               col("l_orderkey").asc, col("l_linenumber").asc)

  // ---------------------------------------------------------------- setops

  /** q22: UNION (set semantics — union + distinct). */
  val q22Union: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("key"))
      .union(Tables.orders(s, d).select(col("o_custkey").as("key")))
      .distinct()
      .orderBy("key")

  /** q23: INTERSECT. */
  val q23Intersect: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("key"))
      .intersect(Tables.orders(s, d).select(col("o_custkey").as("key")))
      .orderBy("key")

  /** q24: EXCEPT — customers that never placed a high-value order. */
  val q24Except: Q = (s, d) =>
    Tables.customer(s, d).select(col("c_custkey").as("key"))
      .except(Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("key")))
      .orderBy("key")

  // ------------------------------------------------------------- functions

  /** q25: string function suite (all codegen'd built-ins, no UDFs). */
  val q25StringFuncs: Q = (s, d) =>
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("upper_name"),
        lower(col("c_mktsegment")).as("lower_seg"),
        substring(col("c_name"), 10, 9).as("digits"),
        length(col("c_name")).as("name_len"),
        concat(col("c_mktsegment"), lit("-"), col("c_name")).as("seg_name"),
        trim(col("c_name")).as("trimmed"),
        col("c_name").like("%00%").as("has_00"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("num_part"))
      .orderBy("c_custkey")

  /** q26: date/time function suite (session TZ pinned UTC). */
  val q26DateFuncs: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        date_trunc("month", col("o_orderdate")).as("mon_start"),
        datediff(lit("2005-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2005"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy("o_orderkey")

  /** q27: math function suite — only exactly-rounded IEEE ops (abs, sqrt,
    * floor, ceil, %) plus decimal-stable round; libm-divergent fns (ln,
    * pow) are covered by ScalaTest instead of the cross-engine oracle.
    */
  val q27MathFuncs: Q = (s, d) =>
    Tables.lineitem(s, d)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        abs(col("l_discount") - 0.05).as("abs_disc"),
        sqrt(col("l_quantity")).as("sqrt_qty"),
        floor(col("l_extendedprice")).as("floor_price"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        round(col("l_extendedprice") / 7, 2).as("seventh"),
        (col("l_orderkey") % 7).as("mod7"))

  /** q28: conditional bucketing with case/when. */
  val q28CaseWhen: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 200000, "mid")
          .otherwise("high").as("bucket"))
      .orderBy("o_orderkey")

  /** q30: JSON extraction from the events.props column. */
  val q30JsonFuncs: Q = (s, d) =>
    Tables.events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
      .orderBy("event_id")

  /** q31: tumbling time window — the batch-equivalent of a streaming
    * window aggregate; window().start == date_trunc('hour') for 1h buckets.
    */
  val q31WindowTumbling: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), decD(sum(dec(col("value")))).as("sum_value"))
      .select(col("window.start").as("ws"), col("n"), col("sum_value"))
      .orderBy("ws")

  /** q53: sliding time window — the batch twin of s02's streaming sliding
    * window (10-minute windows every 5 minutes: each event lands in exactly
    * two). StreamingSpec asserts the streaming path reproduces this shape;
    * the oracle pins the batch semantics.
    */
  val q53WindowSliding: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"), decD(sum(dec(col("value")))).as("sum_value"))
      .select(col("window.start").as("ws"), col("n"), col("sum_value"))
      .orderBy("ws")

  /** q77: NATIVE session_window in batch mode — the same operator s03 uses
    * in streaming, here under the hard oracle: the DuckDB twin derives
    * sessions with q52's lag + running-sum gap logic and aggregates them.
    * Proves Spark's built-in session semantics == the relational spelling
    * (session end = last event + gap).
    */
  val q77SessionWindow: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
              col("session_window.start").as("ss"),
              col("session_window.end").as("se"),
              col("n_events"))
      .orderBy("user_id", "ss")

  // ------------------------------------------------------------- inventory

  val queries: Map[String, Q] = Map(
    "q01_fraud_rule_filter" -> q01FraudRuleFilter,
    "q02_flag_filter"       -> q02FlagFilter,
    "q03_project_cast"      -> q03ProjectCast,
    "q04_scan_count"        -> q04ScanCount,
    "q05_join_inner"        -> q05JoinInner,
    "q06_join_left"         -> q06JoinLeft,
    "q07_join_semi"         -> q07JoinSemi,
    "q08_join_anti"         -> q08JoinAnti,
    "q09_join_broadcast"    -> q09JoinBroadcast,
    "q10_join_theta"        -> q10JoinTheta,
    "q11_join_asof"         -> q11JoinAsof,
    "q149_asof_forward"     -> q149AsofForward,
    "q12_agg_group"         -> q12AggGroup,
    "q185_tpch_q1"          -> q185TpchQ1,
    "q13_agg_distinct"      -> q13AggDistinct,
    "q14_rollup"            -> q14Rollup,
    "q15_cube"              -> q15Cube,
    "q16_grouping_sets"     -> q16GroupingSets,
    "q17_window_rank"       -> q17WindowRank,
    "q18_window_running"    -> q18WindowRunning,
    "q19_window_lag"        -> q19WindowLag,
    "q20_topk"              -> q20Topk,
    "q21_sort_multi"        -> q21SortMulti,
    "q22_union"             -> q22Union,
    "q23_intersect"         -> q23Intersect,
    "q24_except"            -> q24Except,
    "q25_string_funcs"      -> q25StringFuncs,
    "q26_date_funcs"        -> q26DateFuncs,
    "q27_math_funcs"        -> q27MathFuncs,
    "q28_case_when"         -> q28CaseWhen,
    "q30_json_funcs"        -> q30JsonFuncs,
    "q31_window_tumbling"   -> q31WindowTumbling,
    "q53_window_sliding"    -> q53WindowSliding,
    "q77_session_window"    -> q77SessionWindow
  )

  /** DuckDB-equivalent ANSI SQL for each query above (driver oracle). */
  val oracles: Map[String, String] = Map(
    "q01_fraud_rule_filter" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE round(l_extendedprice * (1 - l_discount), 2) >= l_quantity * 100
        |   OR round(l_tax + l_discount, 2) >= 0.05
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    "q02_flag_filter" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag, l_linestatus
        |FROM lineitem
        |WHERE l_returnflag = 'R' OR l_linestatus = 'F'
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    "q03_project_cast" ->
      """SELECT o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_dec,
        |       CAST(o_orderdate AS DATE) AS order_date,
        |       o_orderstatus AS status
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q04_scan_count" ->
      "SELECT COUNT(1) AS n FROM lineitem",
    "q05_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q06_join_left" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,
    "q07_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q08_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q09_join_broadcast" ->
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,
    "q10_join_theta" ->
      """SELECT s1.s_suppkey AS k1, s2.s_suppkey AS k2
        |FROM supplier s1 JOIN supplier s2
        |  ON s1.s_acctbal < s2.s_acctbal AND s1.s_acctbal * 2 > s2.s_acctbal
        |ORDER BY k1, k2""".stripMargin,
    "q11_join_asof" ->
      """SELECT p_id, e_id, e_ts, e_value FROM (
        |  SELECT p.event_id AS p_id, e.event_id AS e_id,
        |         CAST(e.ts AS TIMESTAMP) AS e_ts, e.value AS e_value,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY CAST(e.ts AS TIMESTAMP) DESC, e.event_id DESC) AS rn
        |  FROM events p JOIN events e
        |    ON p.user_id = e.user_id AND CAST(e.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |  WHERE p.event_type = 'purchase' AND e.event_type = 'error'
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin,
    // q149: independent brute spelling (pair join + rank), like q11's
    // oracle — nearest-first, THEN the tolerance filter, matching the
    // query's drop-if-beyond-window semantics.
    "q149_asof_forward" ->
      """SELECT p_id, e_id, gap_us FROM (
        |  SELECT p.event_id AS p_id, e.event_id AS e_id,
        |         epoch_us(CAST(e.ts AS TIMESTAMP))
        |           - epoch_us(CAST(p.ts AS TIMESTAMP)) AS gap_us,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY CAST(e.ts AS TIMESTAMP) ASC,
        |                                     e.event_id ASC) AS rn
        |  FROM events p JOIN events e
        |    ON p.user_id = e.user_id
        |   AND CAST(e.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
        |  WHERE p.event_type = 'purchase' AND e.event_type = 'error'
        |) WHERE rn = 1 AND gap_us <= 1800000000 ORDER BY p_id""".stripMargin,
    "q12_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       CAST(CAST(AVG(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS avg_qty,
        |       COUNT(1) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q13_agg_distinct" ->
      """SELECT COUNT(DISTINCT o_custkey) AS n_cust, COUNT(1) AS n_orders
        |FROM orders""".stripMargin,
    // q185: q12's decimal discipline over Q1's full aggregate set — the
    // compound products stay exact decimals until the final double cast.
    "q185_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * CAST(1 - l_discount AS DECIMAL(18,2))
        |                * CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
        |       CAST(CAST(AVG(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS avg_qty,
        |       CAST(CAST(AVG(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS avg_price,
        |       CAST(CAST(AVG(CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS avg_disc,
        |       COUNT(1) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q14_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(1) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q15_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(1) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q16_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(1) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q17_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       CAST(row_number() OVER w AS BIGINT) AS rn,
        |       CAST(rank() OVER w AS BIGINT) AS rk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_custkey, rn""".stripMargin,
    "q18_window_running" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |         PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    "q19_window_lag" ->
      """SELECT user_id, event_id, value,
        |       lag(value, 1) OVER w AS prev_value,
        |       lead(value, 1) OVER w AS next_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q20_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q21_sort_multi" ->
      """SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_returnflag ASC, l_quantity DESC, l_orderkey ASC, l_linenumber ASC""".stripMargin,
    "q22_union" ->
      """SELECT c_custkey AS key FROM customer
        |UNION SELECT o_custkey AS key FROM orders
        |ORDER BY key""".stripMargin,
    "q23_intersect" ->
      """SELECT c_custkey AS key FROM customer
        |INTERSECT SELECT o_custkey AS key FROM orders
        |ORDER BY key""".stripMargin,
    "q24_except" ->
      """SELECT c_custkey AS key FROM customer
        |EXCEPT SELECT o_custkey AS key FROM orders WHERE o_totalprice > 400000
        |ORDER BY key""".stripMargin,
    "q25_string_funcs" ->
      """SELECT c_custkey,
        |       upper(c_name) AS upper_name,
        |       lower(c_mktsegment) AS lower_seg,
        |       substring(c_name, 10, 9) AS digits,
        |       CAST(length(c_name) AS INT) AS name_len,
        |       concat(c_mktsegment, '-', c_name) AS seg_name,
        |       trim(c_name) AS trimmed,
        |       c_name LIKE '%00%' AS has_00,
        |       regexp_extract(c_name, '([0-9]+)', 1) AS num_part
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q26_date_funcs" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INT) AS yr,
        |       CAST(month(o_orderdate) AS INT) AS mo,
        |       CAST(day(o_orderdate) AS INT) AS dy,
        |       date_trunc('month', o_orderdate) AS mon_start,
        |       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2005-01-01') AS INT) AS days_to_2005,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q27_math_funcs" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |       abs(l_discount - 0.05) AS abs_disc,
        |       sqrt(l_quantity) AS sqrt_qty,
        |       CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
        |       CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        |       round(l_extendedprice / 7, 2) AS seventh,
        |       l_orderkey % 7 AS mod7
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    "q28_case_when" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_totalprice < 50000 THEN 'low'
        |            WHEN o_totalprice < 200000 THEN 'mid'
        |            ELSE 'high' END AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q30_json_funcs" ->
      """SELECT event_id, CAST(props->>'$.k' AS INT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q31_window_tumbling" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ws,
        |       COUNT(1) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY ws""".stripMargin,
    // Sliding windows: each event belongs to exactly two 10-minute windows
    // whose starts are the two preceding 5-minute boundaries (epoch-µs
    // floor math — engine-neutral alignment, same origin as Spark's).
    "q53_window_sliding" ->
      """SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 300000000 - g.i) * 300000000) AS ws,
        |       COUNT(1) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events CROSS JOIN generate_series(0, 1) AS g(i)
        |GROUP BY 1 ORDER BY ws""".stripMargin,
    // Sessions via q52's gap logic, aggregated: start = first event,
    // end = last event + 30-minute gap (Spark session_window's end rule).
    // Boundary: Spark sessions are [start, end) — an event at EXACTLY
    // prev + gap starts a new session, hence >= (q52's own definition
    // uses >, which is fine there because it defines its own semantics).
    "q77_session_window" ->
      """SELECT user_id, MIN(ts_us_ts) AS ss,
        |       MAX(ts_us_ts) + INTERVAL 30 MINUTES AS se,
        |       COUNT(1) AS n_events
        |FROM (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts_us_ts,
        |         SUM(CASE WHEN prev_us IS NULL
        |                    OR epoch_us(CAST(ts AS TIMESTAMP)) - prev_us >= 1800000000
        |                  THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id
        |                 ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |           lag(epoch_us(CAST(ts AS TIMESTAMP)), 1)
        |             OVER (PARTITION BY user_id
        |                   ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS prev_us
        |    FROM events))
        |GROUP BY user_id, session_no
        |ORDER BY user_id, ss""".stripMargin
  )
}
