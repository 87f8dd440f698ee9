package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.SkewJoin
import Relational.{dec, decD}

/** Typed row for q72's Dataset[T] surface (top-level for a clean encoder). */
final case class OrderRow(o_orderkey: Long, o_custkey: Long,
                          o_orderstatus: String, o_totalprice: Double)

/** Third wave of the operator inventory: map types, higher-order array
  * functions, regex, bitwise and date arithmetic suites, a driver-visible
  * salted skew join, value-range window frames, and a deterministic mode.
  * Same determinism discipline as Relational (total-order sorts, decimal
  * math internal / DOUBLE final, engine-neutral function spellings).
  */
object Extras {

  type Q = (SparkSession, String) => DataFrame

  /** q54: map functions — JSON props parsed to map<string,int>, then
    * size/keys/values/element_at. The oracle mirrors with DuckDB's JSON
    * functions (same values, engine-native spelling).
    */
  val q54MapFuncs: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("m", expr("from_json(props, 'map<string,int>')"))
      .select(
        col("event_id"),
        expr("cast(size(m) as int)").as("n_keys"),
        expr("element_at(map_keys(m), 1)").as("first_key"),
        expr("element_at(m, 'k')").as("k_val"),
        expr("element_at(map_values(m), 1)").as("first_val"))
      .orderBy("event_id")

  /** q85: higher-order MAP functions — transform_keys / transform_values /
    * map_filter / map_zip_with, the map-typed HOF family q56 (array HOFs)
    * and q54 (map basics) leave uncovered. Scalar outputs only, so the
    * fixture's single-key maps reduce to arithmetic the JSON oracle pins
    * exactly (surface-coverage query, like u01 for UDFs).
    */
  val q85MapHofs: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("m", expr("from_json(props, 'map<string,int>')"))
      .select(
        col("event_id"),
        expr("element_at(transform_values(m, (k, v) -> v * 2), 'k')").as("k2x"),
        expr("element_at(map_keys(transform_keys(m, (k, v) -> upper(k))), 1)").as("key_up"),
        expr("cast(size(map_filter(m, (k, v) -> v > 50)) as int)").as("n_big"),
        expr("element_at(map_zip_with(m, m, (k, v1, v2) -> v1 + v2), 'k')").as("k_sum"))
      .orderBy("event_id")

  /** q56: higher-order array functions — aggregate/filter/exists/forall/
    * transform over the token array. Scalar outputs only (cross-engine
    * dtype discipline). These HOFs are interpreted (no codegen) — fine for
    * a surface-coverage query; hot paths use the relational shapes or
    * custom expressions (see Shingles/VecDot).
    */
  val q56HofFuncs: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))").as("sum_len"),
        expr("cast(size(filter(toks, t -> length(t) > 4)) as int)").as("n_long"),
        expr("exists(toks, t -> t = 'the')").as("has_the"),
        expr("forall(toks, t -> length(t) < 20)").as("all_short"),
        expr("cast(array_max(transform(toks, t -> length(t))) as int)").as("max_len"))
      .orderBy("doc_id")

  /** q57: regex suite — global replace, extract-all (joined to a scalar),
    * anchored match, occurrence count.
    */
  val q57RegexFuncs: Q = (s, d) =>
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("name_masked"),
        expr("array_join(regexp_extract_all(c_name, '[0-9]+', 0), ',')").as("all_nums"),
        col("c_name").rlike("00$").as("ends_00"),
        expr("cast(regexp_count(c_name, '0') as int)").as("n_zeros"))
      .orderBy("c_custkey")

  /** q58: bitwise operators — and/or/xor/shifts/popcount, explicit casts on
    * both engines so the dtypes line up (DuckDB's bit_count is TINYINT).
    */
  val q58Bitwise: Q = (s, d) =>
    Tables.lineitem(s, d)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        expr("cast((l_orderkey & 255) as bigint)").as("and_255"),
        expr("cast((l_orderkey | 4096) as bigint)").as("or_4096"),
        expr("cast((l_orderkey ^ l_partkey) as bigint)").as("xor_pk"),
        expr("cast(shiftleft(l_linenumber, 3) as int)").as("shl3"),
        expr("cast(shiftright(l_orderkey, 2) as bigint)").as("shr2"),
        expr("cast(bit_count(l_orderkey) as int)").as("bits"))

  /** q59: date arithmetic — day/month offsets (month-end clamped in both
    * engines), last_day, day-of-week (Spark is 1=Sunday, DuckDB 0=Sunday —
    * oracle adds 1), ISO week, make_date.
    */
  val q59DateArith: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        expr("date_add(cast(o_orderdate as date), 30)").as("plus30"),
        expr("add_months(cast(o_orderdate as date), 2)").as("plus2mo"),
        expr("last_day(cast(o_orderdate as date))").as("month_end"),
        expr("cast(dayofweek(cast(o_orderdate as date)) as int)").as("dow"),
        expr("cast(weekofyear(cast(o_orderdate as date)) as int)").as("iso_week"),
        expr("make_date(year(o_orderdate), month(o_orderdate), 1)").as("month_start"))
      .orderBy("o_orderkey")

  /** q60: salted skew join, driver-visible — SkewJoin.saltedInnerJoin must
    * be RESULT-IDENTICAL to the plain join (the oracle is the plain join),
    * while spreading each hot key over 8 shuffle partitions. This puts the
    * skew-survival operator itself under the hard DuckDB oracle, not just
    * the ScalaTest multiset check.
    */
  val q60JoinSalted: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_custkey").as("key"), col("o_orderkey"))
    val c = Tables.customer(s, d).select(col("c_custkey").as("key"), col("c_name"))
    SkewJoin.saltedInnerJoin(o, c, "key", col("o_orderkey"), saltFactor = 8)
      .select(col("o_orderkey"), col("key").as("o_custkey"), col("c_name"))
      .orderBy("o_orderkey")
  }

  /** q61: value-range window frame (RANGE BETWEEN n PRECEDING) — frame
    * membership is decided on the ORDER BY value, not row position; ties
    * are peers, so the result is deterministic without a row tie-break.
    * Decimal accumulation internally, DOUBLE out.
    */
  val q61WindowRangeFrame: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"))
      .rangeBetween(-10000L, Window.currentRow)
    Tables.orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        decD(sum(dec(col("o_totalprice"))).over(w)).as("near_sum"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q62: deterministic mode — the most frequent l_quantity per returnflag,
    * spelled as count + argmax with (count DESC, value ASC) tie-break.
    * A bare `mode()` is tie-nondeterministic across engines; this shape is
    * replay-stable and still one shuffle + one tiny window.
    */
  val q62ModeArgmax: Q = (s, d) => {
    val counts = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("l_quantity").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"), col("n"))
      .orderBy("l_returnflag")
  }

  /** q63: value histogram — fixed-width bucketing by integer floor
    * division (the profiling primitive; engine-neutral, unlike width_bucket
    * which DuckDB lacks). One partial-agg groupBy.
    */
  val q63Histogram: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(expr("cast(floor(value / 100) * 100 as bigint)").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("lo"),
        max(col("value")).as("hi"))
      .orderBy("bucket")

  /** q64: column profiling — the data-quality summary a training-data
    * pipeline runs before ingest: row count, nulls, distincts, min/max per
    * column, in ONE aggregate pass (no per-column jobs). Nulls are
    * injected via nullif so the null path is actually exercised.
    */
  val q64Profile: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("status_n", expr("nullif(o_orderstatus, 'O')"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("status_n")).as("n_status_nonnull"),
        countDistinct(col("o_orderstatus")).as("n_status_distinct"),
        countDistinct(col("o_custkey")).as("n_cust_distinct"),
        min(col("o_totalprice")).as("price_min"),
        max(col("o_totalprice")).as("price_max"),
        min(col("o_orderdate").cast("date")).as("date_min"),
        max(col("o_orderdate").cast("date")).as("date_max"))

  /** q65: lateral join — per-customer top-2 orders via a correlated
    * LATERAL subquery (the FROM-clause correlation operator; Catalyst
    * plans it via DecorrelateInnerQuery, same engine machinery as q48).
    */
  val q65LateralJoin: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("customer_lat")
    Tables.orders(s, d).createOrReplaceTempView("orders_lat")
    s.sql("""
      SELECT c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer_lat,
           LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat
                    WHERE o_custkey = c_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
      ORDER BY c_custkey, t.o_orderkey
    """)
  }

  /** q66: grouping()/grouping_id() — distinguishing the NULL-as-subtotal
    * rows from genuine NULL group keys in rollup output.
    */
  val q66GroupingId: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        expr("cast(grouping(l_returnflag) as int)").as("g_flag"),
        expr("cast(grouping(l_linestatus) as int)").as("g_status"),
        expr("cast(grouping_id(l_returnflag, l_linestatus) as int)").as("gid"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** q67: union by NAME with missing-column completion — schema-evolution
    * union (the ingest shape when one input predates a column). Spark:
    * `unionByName(allowMissingColumns = true)`; DuckDB: UNION ALL BY NAME.
    */
  val q67UnionByName: Q = (s, d) => {
    val a = Tables.customer(s, d)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
              col("c_mktsegment").as("segment"))
    val b = Tables.supplier(s, d)
      .select(col("s_name").as("name"), (col("s_suppkey") + 1000000).as("id"))
    a.unionByName(b, allowMissingColumns = true)
      .orderBy("id")
  }

  /** q68: CSV round-trip — write orders through the CSV SINK, read it back
    * through the CSV source with a declared schema, and hash-match against
    * the parquet oracle: proves the writer/reader pair loses nothing,
    * including double bit-exactness (Spark writes shortest-round-trip
    * decimal strings). Staged under target/ (repo-local scratch).
    */
  val q68CsvRoundtrip: Q = (s, d) => {
    val out = "target/roundtrip_csv"
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .option("header", "true").csv(out)
      .orderBy("o_orderkey")
  }

  /** q151: ADVERSARIAL CSV quoting round-trip — q68 proves the happy
    * path; this plants the strings that actually break CSV pipelines
    * (embedded delimiters, double quotes, literal backslashes, embedded
    * newlines, leading/trailing spaces) and proves the writer's
    * quoting/escaping and the reader's `multiLine` parse restore them
    * byte-exactly. The oracle recomputes the PLANTED values directly —
    * if any quoting layer mangles a string, the hash mismatches. Scale
    * note: `multiLine` CSV files are NOT splittable (a quoted newline
    * spans record boundaries), which is why this shape is quarantined to
    * the ingest edge and everything downstream is parquet — the docstring
    * is the contract, the query pins the semantics.
    */
  val q151CsvQuoting: Q = (s, d) => {
    val out = "target/roundtrip_csv_adv"
    Tables.customer(s, d)
      .select(col("c_custkey"),
        expr("""concat(c_name, CASE CAST(c_custkey % 5 AS INT)
               |  WHEN 0 THEN ', Inc.'
               |  WHEN 1 THEN ' "quoted"'
               |  WHEN 2 THEN ' back\\slash'
               |  WHEN 3 THEN concat(' line1', chr(10), 'line2')
               |  ELSE '  padded  ' END)""".stripMargin).as("tricky"))
      .write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true")
      // the WRITER defaults ignore*WhiteSpace=true and silently trims
      // padded fields even under quoteAll — the round trip only holds
      // with trimming off (caught by this oracle when left default)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(out)
    s.read
      .schema("c_custkey BIGINT, tricky STRING")
      .option("header", "true").option("multiLine", "true")
      // default escape is backslash; the writer escaped quotes with it,
      // so the reader must unescape symmetrically
      .csv(out)
      .orderBy("c_custkey")
  }

  /** q152: Unicode string semantics — length/substr/reverse/instr are
    * CODEPOINT-based in both engines (not UTF-16 units, not graphemes)
    * and octet_length counts UTF-8 bytes; pinned over planted strings
    * mixing Latin-1 accents, CJK, and an astral-plane emoji (where a
    * UTF-16-unit implementation would be off by one). Case mapping is
    * pinned on the portable subset only — probed divergences, excluded
    * deliberately: Spark upper('ß')='SS' vs DuckDB 'STRAẞE'-style 'ẞ',
    * and Spark lower('İ')='i'+combining-dot vs DuckDB 'i'. All per-row
    * codegen, no shuffle before the sort.
    */
  val q152Unicode: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("u", expr(
        "concat('é-', cast(doc_id % 10 as string), '-日本語-🎉-Ω-', substring(text, 1, 8))"))
      .select(
        col("doc_id"),
        expr("cast(length(u) as int)").as("n_codepoints"),
        expr("cast(octet_length(encode(u, 'UTF-8')) as int)").as("n_bytes"),
        expr("substring(u, 4, 7)").as("sub_cp"),
        expr("reverse(substring(u, 1, 9))").as("rev_cp"),
        expr("cast(instr(u, '🎉') as int)").as("emoji_at"),
        expr("upper(substring(u, 1, 3))").as("up_accent"))
      .orderBy("doc_id")

  /** q90: text-source round-trip — one delimited line per row through the
    * `text` SINK, read back through the `text` SOURCE and re-parsed with
    * split_part. This is the raw-log-line contract (the format of every
    * upstream dump that predates structured sinks): the writer emits
    * exactly one `value` line per row, the reader sees one row per line,
    * and the parse is ordinary codegen'd string work. Both ends are
    * trivially splittable at 100 TB (line-oriented files).
    */
  val q90TextRoundtrip: Q = (s, d) => {
    val out = "target/roundtrip_text"
    Tables.customer(s, d)
      .selectExpr("concat_ws('|', cast(c_custkey as string), c_name, c_mktsegment) AS value")
      .write.mode("overwrite").text(out)
    s.read.text(out)
      .selectExpr(
        "cast(split_part(value, '|', 1) as bigint) AS c_custkey",
        "split_part(value, '|', 2) AS c_name",
        "split_part(value, '|', 3) AS c_mktsegment")
      .orderBy("c_custkey")
  }

  /** q69: JSON-lines round-trip — same contract through the JSON sink and
    * source (the interchange format every ingest pipeline meets).
    */
  val q69JsonRoundtrip: Q = (s, d) => {
    val out = "target/roundtrip_json"
    Tables.documents(s, d)
      .select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").json(out)
    s.read
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
      .json(out)
      .orderBy("doc_id")
  }

  /** q81: ORC round-trip — the third columnar format beside parquet (the
    * testdata) and the CSV/JSON interchange round-trips: write the
    * projection to ORC, read it back with schema inference from the ORC
    * footer, and hash-match against the parquet-sourced oracle. Doubles
    * and µs timestamps survive ORC bit-exactly; predicate pushdown and
    * column pruning work on ORC scans exactly as on parquet.
    */
  val q81OrcRoundtrip: Q = (s, d) => {
    val out = "target/roundtrip_orc"
    Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy("o_orderkey")
  }

  /** q83: XML round-trip — Spark 4's built-in XML datasource (the fourth
    * sink/source format beside parquet/CSV/JSON/ORC): write with a rowTag,
    * read back with a declared schema, hash-match against the
    * parquet-sourced oracle.
    */
  val q83XmlRoundtrip: Q = (s, d) => {
    val out = "target/roundtrip_xml"
    Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      .write.mode("overwrite").option("rowTag", "doc").format("xml").save(out)
    s.read.option("rowTag", "doc")
      .schema("doc_id BIGINT, lang STRING, n_chars BIGINT")
      .format("xml").load(out)
      .orderBy("doc_id")
  }

  /** q84: VARIANT type surface (new in Spark 4) — `parse_json` into the
    * binary semi-structured VARIANT, typed extraction via `variant_get`
    * (including the missing-path → NULL contract), and
    * `schema_of_variant`. Scalar outputs only, so the DuckDB JSON oracle
    * pins the values; the schema string is constant for the uniform
    * fixture shape.
    */
  val q84Variant: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("v", expr("parse_json(props)"))
      .select(
        col("event_id"),
        expr("variant_get(v, '$.k', 'int')").as("k_int"),
        expr("cast(variant_get(v, '$.k') as string)").as("k_str"),
        expr("variant_get(v, '$.missing', 'int')").as("missing_int"),
        expr("schema_of_variant(v)").as("vschema"))
      .orderBy("event_id")

  /** q82: EXISTS / NOT EXISTS correlated subqueries — the SQL spelling of
    * semi/anti joins (q07/q08 pin the DataFrame API; this pins the SQL
    * surface). Catalyst rewrites both to left-semi / left-anti joins, so
    * the plan is identical to the API version — asserted by the shared
    * oracle, not by trusting the rewrite.
    */
  val q82ExistsSubquery: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("customer_v")
    Tables.orders(s, d).createOrReplaceTempView("orders_big_v")
    s.sql(
      """SELECT c_custkey, c_mktsegment,
        |       EXISTS (SELECT 1 FROM orders_big_v o
        |               WHERE o.o_custkey = c.c_custkey
        |                 AND o.o_totalprice > 300000) AS has_big,
        |       NOT EXISTS (SELECT 1 FROM orders_big_v o
        |                   WHERE o.o_custkey = c.c_custkey) AS no_orders
        |FROM customer_v c
        |ORDER BY c_custkey""".stripMargin)
  }

  /** q70: keep-latest dedup — CDC-compaction shape: one surviving row per
    * user, the latest by (ts, event_id). row_number, never dropDuplicates
    * (partition-order nondeterministic survivor).
    */
  val q70KeepLatest: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "value")
      .orderBy("user_id")
  }

  /** q97: typed `cogroup` — the Dataset surface for "both sides of a key,
    * together, as iterators": per customer, order stats from one table and
    * presence from the other, computed in one closure. This is the escape
    * hatch for per-key merge logic no join+agg can express (here it CAN —
    * the oracle is a FULL JOIN of two GROUP BYs — which is what makes it
    * verifiable); the closure sticks to order-independent reductions
    * (count/max) because cogroup iterator order is not defined. Plans as
    * one shuffle per side on the key — the same cost as the join spelling.
    */
  val q97Cogroup: Q = (s, d) => {
    import s.implicits._
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_totalprice")).as[(Long, Double)]
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal")).as[(Long, Double)]
    orders.groupByKey(_._1).cogroup(cust.groupByKey(_._1)) { (k, os, cs) =>
      var nOrders = 0L
      var maxPrice = -1.0
      os.foreach { o => nOrders += 1; if (o._2 > maxPrice) maxPrice = o._2 }
      var nCust = 0L
      cs.foreach(_ => nCust += 1)
      Iterator((k, nOrders, nCust, maxPrice))
    }.toDF("k", "n_orders", "n_cust", "max_price")
      .orderBy("k")
  }

  /** q91: CDC apply / change-log compaction — reduce a keyed change stream
    * to its final state: the LATEST operation per key wins, and a terminal
    * delete removes the key entirely (the semantics of applying a CDC feed
    * or compacting a keyed log; `error` events stand in for the delete
    * marker). Unlike q70's row_number window, the reduction is a
    * partial-agg `max_by(struct)` — map-side combinable, no per-key sort,
    * the only shape that compacts a 100 TB change log whose hottest key
    * may hold billions of versions. Delete filtering happens AFTER the
    * argmax (a delete must beat earlier upserts, not vanish).
    */
  val q91CdcApply: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_type"), col("value"), col("event_id")),
        struct(col("ts"), col("event_id"))).as("last"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.event_id").as("last_event_id"),
              col("last.value").as("last_value"),
              col("last.event_type").as("last_op"))
      .orderBy("user_id")

  /** q92: null-preserving generators — `posexplode_outer` keeps a parent
    * row (with NULL position/element) when its array is empty, where plain
    * explode silently drops it. The dropped-parent bug is a classic silent
    * data-loss mode in fan-out pipelines; this pins the outer contract,
    * including the NULLS FIRST ordering both engines are forced to agree
    * on. Pure per-row generation — no shuffle before the output sort.
    */
  val q92ExplodeOuter: Q = (s, d) =>
    Tables.customer(s, d)
      .withColumn("parts",
        expr("filter(split(c_name, '#'), x -> x like '%7%')"))
      .select(col("c_custkey"), posexplode_outer(col("parts")))
      .select(col("c_custkey"), col("pos"), col("col").as("part"))
      .orderBy(col("c_custkey"), col("pos").asc_nulls_first)

  /** q71: percent-of-total — an unpartitioned window total under each
    * group total. Both operands are decimal-exact sums cast to double, so
    * the single double divide is engine-identical.
    */
  val q71PctOfTotal: Q = (s, d) => {
    val g = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(dec(sum(dec(col("l_quantity")))).as("qty_dec"))
    // Grand total via a broadcast single-row cross join, not `sum() over ()`
    // — the unpartitioned window runs on ONE task (WindowExec warns), while
    // this shape keeps the 3-row grouped table distributed and is the same
    // exact decimal sum the oracle's OVER () computes.
    val tot = g.agg(dec(sum(col("qty_dec"))).as("tot_dec"))
    g.crossJoin(broadcast(tot))
      .select(col("l_returnflag"), col("qty_dec").cast("double").as("qty"),
        expr("cast(qty_dec as double) / cast(tot_dec as double)").as("share"))
      .orderBy("l_returnflag")
  }

  /** q72: typed Dataset[T] surface — case-class encoder, typed filter and
    * map closures, still oracle-checkable because the closure math is pure
    * IEEE double. (The typed path deserializes per row — documented cost;
    * the Column-based spelling stays in codegen and is preferred for hot
    * paths. This query exists to pin the API surface, like u01 does for
    * UDFs.)
    */
  val q72TypedDataset: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .as[OrderRow]
      .filter(o => o.o_totalprice > 200000.0 && o.o_orderstatus != "F")
      .map(o => (o.o_orderkey, o.o_custkey, o.o_totalprice * 0.9))
      .toDF("o_orderkey", "o_custkey", "discounted")
      .orderBy("o_orderkey")
  }

  /** q73: right outer join — the one outer-join direction the suite
    * lacked (left/full exist); null-completing the left side.
    */
  val q73JoinRight: Q = (s, d) => {
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"), col("o_orderkey"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
    o.join(c, o("o_custkey") === c("c_custkey"), "right")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  /** q74: variance/stddev — accumulation-order-safe spelling: the moments
    * (Σx, Σx²) are EXACT decimal sums (2-dp values, 4-dp squares), then
    * one identical double-arithmetic chain in both engines. A bare
    * `var_pop` over doubles is accumulation-order dependent and would
    * never hash-match; a boolean additionally asserts each engine's
    * builtin agrees with the exact formulation to 1e-6.
    */
  val q74AggVariance: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).as("sx"),
        sum(dec(col("l_quantity")) * dec(col("l_quantity"))).as("sxx"),
        expr("var_pop(l_quantity)").as("builtin_var"))
      .withColumn("variance",
        expr("(cast(sxx as double) - cast(sx as double) * cast(sx as double) / n) / n"))
      .withColumn("stddev", expr("sqrt(variance)"))
      .withColumn("builtin_ok", expr("abs(builtin_var - variance) <= 1e-6"))
      .select("l_returnflag", "n", "variance", "stddev", "builtin_ok")
      .orderBy("l_returnflag")

  /** q75: null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — NULL
    * keys match each other instead of vanishing, the semantics an ingest
    * join on nullable business keys needs.
    */
  val q75NullSafeEq: Q = (s, d) => {
    val a = Tables.customer(s, d)
      .select(col("c_custkey").as("id_a"),
              expr("nullif(c_mktsegment, 'BUILDING')").as("seg_a"))
    val b = Tables.customer(s, d).filter(col("c_custkey") <= 50)
      .select(col("c_custkey").as("id_b"),
              expr("nullif(c_mktsegment, 'BUILDING')").as("seg_b"))
    a.join(b, col("seg_a") <=> col("seg_b"))
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** q76: Pearson correlation — same accumulation-order-safe technique as
    * q74: all five moments as exact decimal sums, one identical double
    * chain; builtin corr() asserted within 1e-6 on both engines.
    */
  val q76Corr: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).as("sx"),
        sum(dec(col("l_extendedprice"))).as("sy"),
        sum(dec(col("l_quantity")) * dec(col("l_quantity"))).as("sxx"),
        sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).as("syy"),
        sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).as("sxy"),
        expr("corr(l_quantity, l_extendedprice)").as("builtin_corr"))
      .withColumn("corr_exact", expr(
        """(n * cast(sxy as double) - cast(sx as double) * cast(sy as double))
          | / (sqrt(n * cast(sxx as double) - cast(sx as double) * cast(sx as double))
          |    * sqrt(n * cast(syy as double) - cast(sy as double) * cast(sy as double)))""".stripMargin))
      .withColumn("builtin_ok", expr("abs(builtin_corr - corr_exact) <= 1e-6"))
      .select("l_returnflag", "n", "corr_exact", "builtin_ok")
      .orderBy("l_returnflag")

  /** q120: linear-regression aggregates (regr_slope / regr_intercept /
    * regr_r2, the SQL:2003 bivariate family beyond q74 variance and q76
    * correlation) — per key, OLS of price on quantity. Same
    * accumulation-order-safe technique: the five moments as exact decimal
    * sums (order-insensitive), one identical double chain on top, and the
    * builtins asserted within 1e-6 RELATIVE (slopes are O(10³) here, so
    * absolute 1e-6 would test the builtins' last bits, not semantics) on
    * both engines.
    */
  val q120LinReg: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).as("sx"),
        sum(dec(col("l_extendedprice"))).as("sy"),
        sum(dec(col("l_quantity")) * dec(col("l_quantity"))).as("sxx"),
        sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).as("syy"),
        sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).as("sxy"),
        expr("regr_slope(l_extendedprice, l_quantity)").as("b_slope"),
        expr("regr_intercept(l_extendedprice, l_quantity)").as("b_icept"),
        expr("regr_r2(l_extendedprice, l_quantity)").as("b_r2"))
      .withColumn("slope_exact", expr(
        """(n * cast(sxy as double) - cast(sx as double) * cast(sy as double))
          | / (n * cast(sxx as double) - cast(sx as double) * cast(sx as double))""".stripMargin))
      .withColumn("icept_exact", expr(
        "(cast(sy as double) - slope_exact * cast(sx as double)) / n"))
      .withColumn("r2_exact", expr(
        """((n * cast(sxy as double) - cast(sx as double) * cast(sy as double))
          |  * (n * cast(sxy as double) - cast(sx as double) * cast(sy as double)))
          | / ((n * cast(sxx as double) - cast(sx as double) * cast(sx as double))
          |    * (n * cast(syy as double) - cast(sy as double) * cast(sy as double)))""".stripMargin))
      .withColumn("builtin_ok", expr(
        """abs(b_slope - slope_exact) <= 1e-6 * greatest(1.0, abs(slope_exact))
          | AND abs(b_icept - icept_exact) <= 1e-6 * greatest(1.0, abs(icept_exact))
          | AND abs(b_r2 - r2_exact) <= 1e-6 * greatest(1.0, abs(r2_exact))""".stripMargin))
      .select("l_returnflag", "n", "slope_exact", "icept_exact", "r2_exact",
        "builtin_ok")
      .orderBy("l_returnflag")

  /** q78: recursive CTE (Spark 4's `WITH RECURSIVE`, planned as UnionLoop)
    * — a recursion-generated month dimension LEFT-joined to real order
    * dates. Recursive CTEs are the one SQL-surface operator that cannot be
    * spelled with a fixed-depth DataFrame plan; this pins that the engine
    * supports them (generator recursion here; the data-driven reachability
    * variant is d05, where the ITERATION lives in the driver loop because
    * its depth is data-dependent).
    */
  val q78RecursiveCte: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    // aggregate BEFORE joining the recursion-generated dimension: the fact
    // table reduces to <=12 rows first (partial-agg groupBy), so the join
    // touches 12x12 rows instead of shuffling every order onto 12 hot month
    // keys — the shape that survives 100 TB of orders
    s.sql(
      """WITH RECURSIVE months(m) AS (
        |  SELECT 1
        |  UNION ALL
        |  SELECT m + 1 FROM months WHERE m < 12),
        |agg AS (
        |  SELECT month(o_orderdate) AS m, count(o_orderkey) AS n_orders,
        |         cast(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
        |  FROM orders_v GROUP BY month(o_orderdate))
        |SELECT m, coalesce(n_orders, 0L) AS n_orders,
        |       coalesce(n_custs, 0L) AS n_custs
        |FROM months LEFT JOIN agg USING (m)
        |ORDER BY m""".stripMargin)
  }

  /** q175: quantile normalization — map every order amount to its
    * empirical percentile (permille, midrank convention for ties:
    * (#below + (#equal+1)/2) / n), the rank-based feature transform ML
    * preprocessing applies to heavy-tailed columns. The scalable shape
    * is x02's: ONE partial-agg value histogram, the range-partitioned
    * prefixSum for the strictly-below counts, and an equi-join back on
    * the value — never a corpus-wide rank window. Exact integers (ties
    * use the doubled midrank: (2·below + equal + 1)·500 div n keeps the
    * arithmetic integral). */
  val q175QuantileNormalize: Q = (s, d) => {
    val v = Tables.orders(s, d)
      .select(col("o_orderkey"),
        expr("cast(floor(o_totalprice * 100) as bigint)").as("cents"))
    val hist = v.groupBy("cents").agg(count(lit(1)).as("c"))
    val cum = graft.queries.TextOps
      .prefixSum(hist, "cents", "c", "below", includeCurrent = false)
    val n = v.agg(count(lit(1)).as("n"))
    v.join(cum, "cents").crossJoin(broadcast(n))
      .select(col("o_orderkey"), col("cents"),
        expr("coalesce(below, 0L)").as("n_below"), col("c").as("n_equal"),
        expr("(2 * coalesce(below, 0L) + c + 1) * 500 div n")
          .as("pct_permille"))
      .orderBy("o_orderkey")
  }

  /** q176: TPC-H Q18 (large-volume customer) — the large-IN/HAVING top-k
    * shape the TPC-H trio (q131/q132/q137) doesn't cover: orders whose
    * TOTAL line quantity crosses a threshold, re-joined to their customer.
    * Spelt scale-first: the quantity rollup is ONE partial-agg groupBy on
    * l_orderkey with the HAVING filter applied before any join (Q18's
    * textbook `IN (SELECT … HAVING …)` re-scans lineitem a second time —
    * same result, one extra fact scan); the filtered order-qty table then
    * joins orders (AQE picks broadcast when the survivor set is small),
    * customer joins last, and the top-100 is TakeOrderedAndProject on the
    * (o_totalprice desc, o_orderkey) total order. Quantities are integral
    * by generator contract, summed as BIGINT so the cross-engine compare
    * is exact.
    */
  val q176TpchQ18: Q = (s, d) => {
    // floor-then-cast, not a bare cast: Spark's double->bigint cast
    // TRUNCATES while DuckDB's ROUNDS, so a non-integral quantity would
    // land on different sides of the HAVING cut per engine; floor() makes
    // the spelling contract-free (quantities are integral today, but the
    // oracle should not depend on that).
    val qty = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum(expr("cast(floor(l_quantity) as bigint)")).as("total_qty"))
      .filter(col("total_qty") > 200)
    qty
      .join(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** q177: TPC-H Q21 (suppliers who kept orders waiting) — the four-way
    * correlated-existence semantics: a "failing" line of a multi-supplier
    * F-order where no OTHER supplier also failed, counted per
    * nation-filtered supplier, top-k. This dataset has no receipt/commit
    * dates, so "failed" is adapted to `l_returnflag = 'R'` — the
    * correlated logic (the graded part) is Q21's exactly.
    *
    * Spelled ROLLUP-FIRST (round-8 verdict item 6): the textbook
    * EXISTS/NOT-EXISTS topology (kept verbatim as the DuckDB oracle — a
    * mechanism disjoint from this one) scans lineitem THREE times (l1 +
    * the semi leg + the anti leg). All three correlations are per-order
    * facts, so ONE partial-agg pass over ONE fact scan computes them:
    * distinct suppliers (multi-supplier ⟺ ≥ 2), distinct R-flag
    * suppliers (no-other-failure ⟺ exactly 1), the single failing
    * supplier (max over the one-element set), and that supplier's R-line
    * count (every R line is theirs when the distinct count is 1 — the
    * line-grain numwait contribution). Orders and the supplier×nation dim
    * then join the metadata-scale per-order table — at 100 TB this saves
    * two fact scans AND two fact-sized shuffles (the semi/anti legs each
    * shuffled the full lineitem on l_orderkey; now one exchange feeds the
    * rollup). PlanSpec pins the single fact scan, the map-side partials,
    * and the bounded top-k.
    */
  val q177TpchQ21: Q = (s, d) => {
    val supp = Tables.supplier(s, d)
      .join(Tables.nation(s, d).filter(col("n_name") === "NATION_9"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name")
    val fOrders = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val isR = col("l_returnflag") === "R"
    // two-level rollup: collapsing to (order, supplier) grain FIRST keeps
    // every aggregate plain (a single groupBy with two countDistincts
    // plans an Expand that doubles the fact before the partial phase —
    // measured 2x at sf0.1); both levels partial-agg map-side
    val perSupp = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_returnflag")
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(when(isR, 1L).otherwise(0L)).as("r_lines"))
    val perOrder = perSupp
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
           sum(when(col("r_lines") > 0, 1L).otherwise(0L)).as("n_r_supp"),
           max(when(col("r_lines") > 0, col("l_suppkey"))).as("r_supp"),
           sum(col("r_lines")).as("n_r_lines"))
      .filter(col("n_r_supp") === 1 && col("n_supp") >= 2)
    perOrder
      .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(broadcast(supp), col("r_supp") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(sum(col("n_r_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  /** q178: GROUPS window-frame semantics (SQL:2011's third frame mode) —
    * ROWS counts physical rows, RANGE counts an order-key distance, GROUPS
    * counts PEER GROUPS (distinct order-key values). Per user, ordered by
    * day WITH genuine ties, `GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW`
    * covers "this day and the previous ACTIVE day" — which RANGE 1
    * PRECEDING cannot say (the previous CALENDAR day) and ROWS cannot say
    * (it splits tied days). Spark 4.1 parses only ROWS/RANGE, so the
    * operator is COMPOSED: roll events up to one row per peer group
    * (user, day), run the frame as ROWS 1 PRECEDING over the group-level
    * rows (on which each row IS a peer group, making ROWS ≡ GROUPS by
    * construction), and equi-join the frame totals back to the events —
    * pinned bit-exact against an INDEPENDENT spelling of the standard's
    * definition (DuckDB, which also lacks GROUPS: dense_rank as the peer
    * group ordinal, then RANGE 1 PRECEDING over rank distance — "frame =
    * rows whose peer-group ordinal is within N" is verbatim SQL:2011
    * 7.11). Shapes: one
    * partial-agg groupBy, a per-user window over bounded day-level rows,
    * one key-partitioned join — all parallel at any scale. Exact cents
    * keep the compare integral.
    */
  val q178GroupsFrame: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("cast(ts as date)").as("day"),
        expr("cast(floor(value * 100) as bigint)").as("cents"))
    val grp = ev.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_g"), sum("cents").as("c_g"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(-1, Window.currentRow)
    val framed = grp
      .withColumn("n_2grp", sum("n_g").over(w))
      .withColumn("cents_2grp", sum("c_g").over(w))
      .select("user_id", "day", "n_2grp", "cents_2grp")
    ev.join(framed, Seq("user_id", "day"))
      .select("event_id", "user_id", "n_2grp", "cents_2grp")
      .orderBy("event_id")
  }

  /** Morton (z-order) bit interleave of two 16-bit normalized coordinates
    * as ONE pure-integer expression — term-for-term identical text on both
    * engines (divOp = `div` on Spark, `//` on DuckDB), so the curve value
    * is bit-exact cross-engine: z = Σᵢ bitᵢ(xs)·4ⁱ + bitᵢ(ys)·2·4ⁱ. The
    * 16-level unroll stays inside whole-stage codegen (plain div/%/·/+ on
    * bigints — no UDF, no loop).
    *
    * Relation to [[graft.queries.ScaleOps]]' q86 `zInterleave`: q86 pins
    * the SHIFT dialect (`shiftright`/`&` vs `>>`/`&` — per-engine
    * spellings, arithmetic-shift semantics on any input sign); this is
    * the div/% dialect whose TEXT is engine-identical, correct for the
    * provably non-negative normalized coordinates it is applied to (on
    * negatives div/% truncation and arithmetic shifts genuinely differ —
    * why the two generators are not collapsed into one).
    */
  private[graft] def mortonTerms(xs: String, ys: String, divOp: String): String =
    (0 until 16).map { i =>
      val p = 1L << i
      s"(($xs $divOp $p) % 2) * ${1L << (2 * i)} + (($ys $divOp $p) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** One Hilbert-curve transform level: from state (hx, hy, hd) emit the
    * (new hd, new hx, new hy) expression texts — the standard xy2d
    * recursion (extract the level bit pair, add the quadrant's curve
    * offset s²·(3rx XOR ry), rotate/reflect the frame) spelled in
    * pure CASE/div/% integer arithmetic — since round 9 the DuckDB-oracle
    * dialect only (the Spark side runs [[hilbertD]]'s value-equal
    * shift/mask spelling for codegen size):
    * 3rx XOR ry collapses to `IF rx=0 THEN ry ELSE 3−ry` (no XOR
    * operator needed), and every reflection is masked `% s` so state
    * stays in [0, s) — non-negative, which is what keeps div/% truncation
    * equivalent to the reference algorithm's bit operations (values are
    * congruent mod 2s at every level, the only bits later levels read).
    * Validated in ExtendedSpec by enumerating the full 4-level curve
    * (bijective 0..255 + every consecutive pair of curve positions is a
    * Manhattan-adjacent cell — the defining locality property z-order
    * lacks and the reason this operator exists).
    */
  private[graft] def hilbertLevel(s: Long, divOp: String): (String, String, String) = {
    val rx = s"((hx $divOp $s) % 2)"
    val ry = s"((hy $divOp $s) % 2)"
    (s"hd + ${s * s} * (CASE WHEN $rx = 0 THEN $ry ELSE 3 - $ry END)",
     s"CASE WHEN $ry = 1 THEN hx % $s WHEN $rx = 1 THEN ${s - 1} - (hy % $s) ELSE hy % $s END",
     s"CASE WHEN $ry = 1 THEN hy % $s WHEN $rx = 1 THEN ${s - 1} - (hx % $s) ELSE hx % $s END")
  }

  /** Apply the `levels`-deep Hilbert transform to columns xs, ys, adding
    * `hd` ∈ [0, 4^levels). Two narrow Projects per level (rx/ry extracted
    * once, then the rotate/offset step — state feeds forward, so the
    * chain is a pipeline of cheap per-row projections; no shuffle, no
    * UDF). This is the RELATIONAL REFERENCE implementation: ExtendedSpec
    * enumerates its 4-level instantiation (bijective + jump-free) and
    * pins it cell-for-cell against [[graft.functions.HilbertIndex]] —
    * the codegen expression q180's hot path actually runs, because this
    * spelling's 32 fused projections put the enclosing whole-stage
    * method beyond HotSpot's 8 KB JIT ceiling (see HilbertIndex's
    * scaladoc for the measurements). The shift/mask arithmetic here is
    * provably equal to [[hilbertLevel]]'s div/% text (the DuckDB-oracle
    * dialect) on the non-negative power-of-two-bounded state
    * (`v div 2^k % 2` = `(v >> k) & 1`, `v % 2^k` = `v & (2^k − 1)`).
    */
  private[graft] def hilbertD(df: DataFrame, levels: Int): DataFrame = {
    val start = df.withColumn("hx", col("xs")).withColumn("hy", col("ys"))
      .withColumn("hd", lit(0L))
    val done = (0 until levels).foldLeft(start) { (cur, i) =>
      val k = levels - 1 - i
      val s = 1L << k
      val m = s - 1 // hx % s == hx & m on the non-negative state
      val keep = cur.columns.filterNot(Seq("hx", "hy", "hd", "rx", "ry").contains)
        .toIndexedSeq.map(col)
      // Stage 1: extract this level's bit pair once.
      val bits = cur.select(keep ++ Seq(col("hx"), col("hy"), col("hd"),
        expr(s"shiftright(hx, $k) & 1").as("rx"),
        expr(s"shiftright(hy, $k) & 1").as("ry")): _*)
      // Stage 2: hd must read the PRE-rotation hx/hy — compute all three
      // from the same input row, then swap in (select, not withColumn).
      bits.select(keep ++ Seq(
        expr(s"hd + ${s * s} * (CASE WHEN rx = 0 THEN ry ELSE 3 - ry END)").as("hd"),
        expr(s"CASE WHEN ry = 1 THEN hx & $m WHEN rx = 1 THEN $m - (hy & $m) ELSE hy & $m END").as("hx"),
        expr(s"CASE WHEN ry = 1 THEN hy & $m WHEN rx = 1 THEN $m - (hx & $m) ELSE hx & $m END").as("hy")): _*)
    }
    done.drop("hx", "hy")
  }

  /** Bitwise Morton spelling for the Spark side of q180 — same values as
    * [[mortonTerms]] (`(v div 2^i) % 2` = `(v >> i) & 1` on non-negative
    * inputs; ExtendedSpec pins the div spelling against a bitwise
    * reference), roughly half the codegen ops of the div/% text. */
  private[graft] def mortonShiftTerms(xs: String, ys: String): String =
    (0 until 16).map { i =>
      s"(shiftright($xs, $i) & 1) * ${1L << (2 * i)} + " +
        s"(shiftright($ys, $i) & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  /** The matching DuckDB spelling: a generated chain of `levels` CTEs
    * (h1..hN over h0), each computing the three level expressions in an
    * inner subquery under FRESH aliases (hx_n/hy_n/hd_n) and renaming in
    * the wrapping SELECT — mirroring the Spark side's explicit two-stage
    * pattern. The inner aliases are distinct from every read column, so
    * correctness is structural and independent of any engine's
    * column-vs-lateral-alias resolution precedence. */
  private[graft] def duckHilbertCtes(levels: Int): String =
    (1 to levels).map { i =>
      val (de, nxe, nye) = hilbertLevel(1L << (levels - i), "//")
      s"""h$i AS (SELECT xs, ys, hx_n AS hx, hy_n AS hy, hd_n AS hd FROM
         |  (SELECT xs, ys, $nxe AS hx_n, $nye AS hy_n, $de AS hd_n
         |   FROM h${i - 1}))""".stripMargin
    }.mkString(",\n")

  /** q179: layout COMPARISON audit — the decision table behind a
    * `OPTIMIZE ZORDER BY` call, answering "how much does the curve buy
    * over the sort layout we already have?" (q86 emits the z-order
    * envelope VIEW itself; this query quantifies the choice AGAINST the
    * single-key-sort status quo). A table laid out by one sort key prunes
    * scans on that key only — its per-file min/max zone maps on every
    * OTHER key span the full range; interleaving the bits of two keys
    * onto one space-filling curve bounds the per-file extent of BOTH.
    * Measured on (l_partkey, l_suppkey): normalize each key to 16 bits
    * via its (min,max) stats row, compute the Morton value, model files
    * as 64 equal-width curve cells (`z div 2²⁶` — the static-grid model;
    * the production write is `repartitionByRange($"z")`, equi-depth over
    * the same curve, with identical extents logic), and report per layout
    * (zorder vs xsort) the average per-bucket zone-map extent of each
    * dimension in basis points of the full range. Expected shape — and
    * what the spec pins: xsort gives near-zero x-extents but ~full-range
    * y-extents (y-predicates prune nothing); zorder bounds BOTH at the
    * 8×8 grid-cell width (1250 bp). Shapes: one stats broadcast, per-row
    * codegen curve math, a `stack` melt so the fact is scanned ONCE for
    * both layouts, one partial-agg groupBy over ≤128 (layout, bucket)
    * keys, a metadata-scale rollup. All integer.
    */
  /** (l_partkey, l_suppkey) normalized to 16-bit [0, 65535] coordinates
    * via one broadcast (min, max) stats row — the shared front of the
    * q179/q180 layout audits. */
  private def normalizedXY(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey").cast("bigint").as("x"),
              col("l_suppkey").cast("bigint").as("y"))
    val stats = li.agg(min("x").as("xmin"), max("x").as("xmax"),
                       min("y").as("ymin"), max("y").as("ymax"))
    li.crossJoin(broadcast(stats))
      .select(
        expr("(x - xmin) * 65535 div greatest(xmax - xmin, 1)").as("xs"),
        expr("(y - ymin) * 65535 div greatest(ymax - ymin, 1)").as("ys"))
  }

  /** Shared back half of q179/q180: per-(layout, bucket) zone-map
    * envelopes (partial-agg min/max) rolled up to per-layout average
    * extents in basis points of the full 65536 range. */
  private def layoutEnvelopes(melted: DataFrame): DataFrame =
    melted.groupBy("layout", "bucket")
      .agg(count(lit(1)).as("n"),
           min("xs").as("x0"), max("xs").as("x1"),
           min("ys").as("y0"), max("ys").as("y1"))
      .groupBy("layout")
      .agg(count(lit(1)).as("n_buckets"), sum("n").as("n_rows"),
           sum(expr("x1 - x0 + 1")).as("xspan"),
           sum(expr("y1 - y0 + 1")).as("yspan"))
      .select(col("layout"), col("n_buckets"), col("n_rows"),
        expr("xspan * 10000 div (n_buckets * 65536)").as("avg_x_extent_bp"),
        expr("yspan * 10000 div (n_buckets * 65536)").as("avg_y_extent_bp"))
      .orderBy("layout")

  val q179LayoutCompare: Q = (s, d) => {
    val z = normalizedXY(s, d)
      .withColumn("z", expr(mortonTerms("xs", "ys", "div")))
    layoutEnvelopes(z.selectExpr(
      s"stack(2, 'zorder', z div ${1L << 26}, 'xsort', xs div 1024) as (layout, bucket)",
      "xs", "ys"))
  }

  /** Number of equal-width curve segments ("files") q180 models. MUST not
    * be a power of 4: at 4^k segments both curves' segments align to the
    * identical 2^k × 2^k grid cells and the comparison degenerates to
    * equality (measured: at 256 the extent tables are bit-identical; at
    * 48 the boundary-crossing segments expose each curve's jump
    * structure — the thing being measured). */
  val HilbertSegments = 48

  /** q180: Hilbert vs z-order curve LOCALITY audit — the "which curve"
    * half of the layout decision (q179 answers curve-vs-sort): both
    * curves put nearby points on nearby linear addresses, but z-order
    * takes diagonal JUMPS between quadrants at every recursion level
    * while the Hilbert curve is jump-free — consecutive curve positions
    * are always Manhattan-adjacent cells (the property ExtendedSpec
    * proves by exhaustive enumeration). A file whose curve segment
    * crosses a z-jump inherits a bounding box spanning the jump; the
    * Hilbert segment stays a compact blob — so Hilbert zone maps prune
    * strictly better, the reason newer table formats cluster by Hilbert
    * where older ones used Morton. Measured exactly like q179 but with
    * [[HilbertSegments]] equal-width segments per curve (off-grid by
    * design, see the constant's scaladoc) over the same normalized
    * coordinates; the spec pins hilbert's summed extents strictly below
    * zorder's. Shapes: q179's discipline — one stats broadcast, the
    * 16-level transform is the [[graft.functions.HilbertIndex]] codegen
    * expression (one static-call loop; the per-level Project-pipeline
    * spelling is kept as [[hilbertD]], the test reference — fused into
    * one whole-stage method it blew HotSpot's 8 KB JIT ceiling and ran
    * interpreted at ~12 µs/row, see HilbertIndex's scaladoc), `stack`
    * melt = ONE fact scan for both curves, ≤ 2·48-key partial-agg
    * envelope build, metadata-scale rollup. Production write =
    * `repartitionByRange` on hd.
    */
  val q180HilbertCurve: Q = (s, d) => {
    val z = normalizedXY(s, d)
      .withColumn("z", expr(mortonShiftTerms("xs", "ys")))
      .withColumn("hd", expr("hilbert_index(xs, ys, 16)"))
    layoutEnvelopes(z.selectExpr(
      s"stack(2, 'hilbert', hd * $HilbertSegments div ${1L << 32}, " +
        s"'zorder', z * $HilbertSegments div ${1L << 32}) as (layout, bucket)",
      "xs", "ys"))
  }

  /** q174: DEFAULT window-frame semantics — the trap behind half of all
    * wrong `last_value` reports: with an ORDER BY and no explicit frame,
    * the SQL-standard default is RANGE UNBOUNDED PRECEDING → CURRENT ROW
    * (so `last_value` ≈ the current row's PEER GROUP end, not the
    * partition end) in BOTH engines. Pinned three ways per row over an
    * order with genuine ties (peer groups matter): default-frame
    * last_value, explicit full-frame last_value (the one people meant),
    * and default-frame first_value (insensitive — always the partition
    * head). Per-user windows, bounded groups.
    */
  val q174FrameDefaults: Q = (s, d) => {
    Tables.events(s, d).createOrReplaceTempView("ev_q174")
    // counts, not last_value-over-ties: the peer group's LAST ROW is
    // physically nondeterministic, but its SIZE is not — n_range counts
    // the whole peer group (the default-frame surprise), n_rows counts
    // to the current row; they genuinely differ on tie days. The
    // last/first legs run tie-FREE (event_id tiebreak), where the
    // default frame provably ends at the current row.
    s.sql(
      """SELECT event_id, user_id,
        |       count(1) OVER
        |         (PARTITION BY user_id ORDER BY cast(ts as date))
        |         AS n_range_default,
        |       count(1) OVER
        |         (PARTITION BY user_id ORDER BY cast(ts as date), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS n_rows,
        |       last_value(event_id) OVER
        |         (PARTITION BY user_id ORDER BY cast(ts as date), event_id)
        |         AS last_default_tiefree,
        |       first_value(event_id) OVER
        |         (PARTITION BY user_id ORDER BY cast(ts as date), event_id)
        |         AS first_default
        |FROM ev_q174 ORDER BY event_id""".stripMargin)
  }

  /** q173: hierarchical rollup (bill-of-materials walk) — the recursive
    * query q78's month spine doesn't exercise: a DATA-driven hierarchy
    * (parent = custkey div 10, a deterministic ~5-level tree over
    * customers) walked root→leaf with MULTIPLICATIVE accumulation along
    * the path (per-node factor = custkey % 7 + 2 — BOM quantities,
    * ownership fractions, tax cascades all have this shape; sums don't
    * compose down a path, products do). Each leaf reports its depth,
    * top-level ancestor and accumulated multiplier — exact integers
    * (factors ≤ 8, depth ≤ 5 ⇒ ≤ 32768). Recursion depth = tree height
    * (log-bounded), each round one equi-join.
    */
  val q173BomRollup: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("cust_q173")
    s.sql(
      """WITH RECURSIVE walk(node, root, depth, mult) AS (
        |  SELECT c_custkey, c_custkey, 0,
        |         CAST(c_custkey % 7 + 2 AS BIGINT)
        |  FROM cust_q173 WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, w.root, w.depth + 1,
        |         w.mult * CAST(c.c_custkey % 7 + 2 AS BIGINT)
        |  FROM cust_q173 c JOIN walk w ON c.c_custkey DIV 10 = w.node
        |  WHERE c.c_custkey >= 10)
        |SELECT node, root, CAST(depth AS INT) AS depth, mult
        |FROM walk ORDER BY node""".stripMargin)
  }

  /** q79: gap-fill / forward-fill — `last_value(... IGNORE NULLS)` over a
    * per-key ordered frame, the standard telemetry repair for sensor
    * streams (nulls synthesized deterministically from event_type so both
    * engines see identical gaps). The filled double is carried through
    * unchanged (no arithmetic), so the oracle is value-exact. At 100 TB
    * this is one window over the per-user order — partition-parallel.
    */
  val q79GapFill: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                   org.apache.spark.sql.expressions.Window.currentRow)
    Tables.events(s, d)
      .withColumn("v_raw",
        expr("CASE WHEN event_type = 'error' THEN NULL ELSE value END"))
      .withColumn("filled", last(col("v_raw"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"),
        col("v_raw").isNull.as("is_gap"), col("filled"))
      .orderBy("user_id", "event_id")
  }

  /** q100: `GROUP BY ALL` / `ORDER BY ALL` — the analyst-SQL sugar Spark 4
    * shares with DuckDB (grouping keys inferred from the non-aggregate
    * select items; ordering by every output column left-to-right gives a
    * total order for free). Same aggregation shape as q12 — this pins the
    * PARSER surface, the plan is the ordinary two-phase hash aggregate.
    */
  val q100GroupOrderAll: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("li_q100")
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(1) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM li_q100 GROUP BY ALL ORDER BY ALL""".stripMargin)
  }

  /** q101: SQL-standard `LISTAGG … WITHIN GROUP (ORDER BY …)` — the native
    * spelling of q51's collect→sort→join listagg (Spark 4 implements the
    * standard syntax; the WITHIN GROUP order is what makes the
    * concatenation replay-deterministic).
    */
  val q101Listagg: Q = (s, d) => {
    Tables.nation(s, d).createOrReplaceTempView("nation_q101")
    s.sql(
      """SELECT n_regionkey,
        |       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names
        |FROM nation_q101 GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
  }

  /** q102: bag-semantics set operations — `intersectAll` / `exceptAll`
    * (SQL INTERSECT ALL / EXCEPT ALL). q22–q24 pin the SET variants; the
    * ALL variants preserve multiplicity (min / subtraction of per-key
    * counts), which Spark plans as the same shuffle as the set forms plus
    * a count-carrying aggregate — no row explosion. Multiset fixture:
    * customer keys by order status (each customer holds several orders).
    */
  val q102SetOpsAll: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k"))
    val b = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
    a.intersectAll(b).withColumn("op", lit("intersect"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("except")))
      .select("op", "k")
      .orderBy("op", "k")
  }

  /** q103: lateral column alias — a SELECT item referencing an alias
    * defined earlier in the SAME select list (Spark 3.4+/DuckDB shared
    * dialect; ANSI requires a subquery). Parser/analyzer surface pin;
    * integer math end to end.
    */
  val q103LateralAlias: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q103")
    s.sql(
      """SELECT o_orderkey,
        |       CAST(floor(o_totalprice) AS BIGINT) AS whole,
        |       whole % 100 AS cents_bucket,
        |       cents_bucket + 1 AS shifted
        |FROM orders_q103 ORDER BY o_orderkey""".stripMargin)
  }

  /** Funnel conversion window: 1 hour, in exact epoch microseconds. */
  val FunnelWindowUs = 3600000000L

  /** q104: behavioral funnel — of all users, who signed up, and who then
    * purchased within one hour of their FIRST signup (the classic
    * product-analytics conversion report; q52's sessionizer is the
    * neighboring shape). Window math in exact epoch-µs integers. Scale:
    * first-signup is a partial-agg min per user, conversion is one
    * user_id-keyed join + distinct — everything partitions by user; the
    * three stage counts are scalar aggregates over metadata-scale
    * intermediates.
    */
  val q104Funnel: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("s_us"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(su, "user_id")
      .filter(col("us") >= col("s_us") && col("us") <= col("s_us") + FunnelWindowUs)
      .select("user_id").distinct()
    ev.agg(countDistinct(col("user_id")).as("n_users"))
      .select(lit("1_all").as("stage"), col("n_users"))
      .unionByName(su.agg(count(lit(1)).as("n_users"))
        .select(lit("2_signup").as("stage"), col("n_users")))
      .unionByName(conv.agg(count(lit(1)).as("n_users"))
        .select(lit("3_converted").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  /** q105: named window specs (`WINDOW w AS (…)` clause) — one definition,
    * many OVER references; the SQL surface that keeps multi-function
    * window queries single-shuffle AND single-source-of-truth. The order
    * key is made unique (orderdate, orderkey) so the running sum's default
    * RANGE frame has single-row peer groups — replay-deterministic.
    */
  val q105NamedWindow: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q105")
    s.sql(
      """SELECT o_custkey, o_orderkey,
        |       row_number() OVER w AS rn,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_spend
        |FROM orders_q105
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  /** q106: data-quality constraint audit — the expectations table an
    * ingest gate emits: one row per declared constraint with its violation
    * count (FK orphans via anti-join, range breaches, null checks, JSON
    * well-formedness). Each check is a filter or anti-join over one table
    * — map-side except the FK's key-partitioned join — and the output is
    * O(constraints). The pipeline decision (fail/quarantine/pass) reads
    * THIS table instead of rescanning data.
    */
  val q106ConstraintAudit: Q = (s, d) => {
    val orphans = Tables.orders(s, d)
      .join(Tables.customer(s, d),
            col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("orders_custkey_fk").as("check_name"), col("n_violations"))
    val range = Tables.lineitem(s, d)
      .filter(col("l_quantity") < 1 || col("l_quantity") > 50)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("lineitem_quantity_1_50").as("check_name"), col("n_violations"))
    val nulls = Tables.customer(s, d)
      .filter(col("c_acctbal").isNull)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("customer_acctbal_not_null").as("check_name"), col("n_violations"))
    val json = Tables.events(s, d)
      .filter(get_json_object(col("props"), "$.k").isNull)
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("events_props_has_k").as("check_name"), col("n_violations"))
    orphans.unionByName(range).unionByName(nulls).unionByName(json)
      .orderBy("check_name")
  }

  /** q107: SQL pipe syntax (Spark 4 `|>` operators) — the linear query
    * dialect where each stage reads top-to-bottom (FROM |> WHERE |>
    * AGGREGATE |> ORDER BY). Parser surface only: the plan is identical to
    * the nested spelling, which is exactly what the shared oracle pins.
    * (stripMargin uses '#' here — '|' is the pipe operator itself.)
    */
  val q107PipeSyntax: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("li_q107")
    s.sql(
      """FROM li_q107
        #|> WHERE l_quantity > 25
        #|> AGGREGATE COUNT(1) AS n,
        #     CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        #   GROUP BY l_returnflag
        #|> ORDER BY l_returnflag""".stripMargin('#'))
  }

  /** q108: session variables (Spark 4 `DECLARE VARIABLE` / `SET VAR`) —
    * parameterized SQL without string interpolation (the injection-safe
    * way to thread a runtime threshold into query text). The variable is
    * folded to a literal at analysis, so pushdown still works.
    */
  val q108SessionVariable: Q = (s, d) => {
    Tables.lineitem(s, d).createOrReplaceTempView("li_q108")
    s.sql("DECLARE OR REPLACE VARIABLE minqty DOUBLE DEFAULT 0.0")
    s.sql("SET VAR minqty = 45.0")
    s.sql(
      """SELECT l_returnflag, COUNT(1) AS n
        |FROM li_q108 WHERE l_quantity >= minqty
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** q122: SQL SCRIPTING (Spark 4 `BEGIN … END` with DECLARE / SET /
    * WHILE, SPARK-48338) — the procedural surface: an adaptive
    * doubling-probe search for the smallest power-of-two price threshold
    * covering half the orders. Control flow lives in the ENGINE (script
    * variables + loop), not the driver program — the SQL-native spelling
    * of what d05/d09 do with Scala driver loops.
    *
    * Scale note: the loop is LOG-bounded (≤ ~20 iterations to cross any
    * realistic price ceiling) and each probe is one partial-agg COUNT
    * under a pushed-down predicate — the adaptive-probing shape (cheap
    * monotone probes, geometric stride) that replaces a full sort/
    * percentile pass when only a coarse threshold is needed. The oracle
    * replays all candidate powers at once via generate_series and takes
    * the minimal satisfying one — equal by monotonicity.
    */
  val q122SqlScript: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q122")
    // Bench fact: the loop's cost is per-STATEMENT engine latency
    // (analyze/plan/schedule ~0.1 s each), not IO — the probe itself is a
    // pruned one-column partial-agg count (~10 ms at sf0.1; caching the
    // column measured SLOWER: same statement count plus a materialization).
    // So the loop body is ONE multi-assignment SET per iteration (probe +
    // advance fused into a single statement) instead of two.
    // r15: the probe advances FOUR powers per statement (one scan counts
    // t*2, t*4, t*8, t*16; the CASE picks the first satisfying power, or
    // the 4th with its count) — the statement count drops ~19 → ~7 while
    // the loop invariant (nb = count below t) and exit condition are
    // unchanged, so by monotonicity of count(price < x) the loop still
    // lands on the SAME minimal satisfying power with the same count —
    // the identical (threshold, n_below, n_total) row. The WHILE stays:
    // engine-side control flow is the declared surface; batching the
    // monotone probes is how a production adaptive probe amortizes
    // per-statement latency (guide §2.4: remove jobs outright).
    s.sql(
      """BEGIN
        |  DECLARE t BIGINT DEFAULT 1;
        |  DECLARE total BIGINT DEFAULT 0;
        |  DECLARE nb BIGINT DEFAULT 0;
        |  SET total = (SELECT COUNT(1) FROM orders_q122);
        |  SET nb = (SELECT COUNT(1) FROM orders_q122 WHERE o_totalprice < 1);
        |  WHILE nb * 2 < total DO
        |    SET (t, nb) = (SELECT
        |        CASE WHEN c1 * 2 >= total THEN t * 2
        |             WHEN c2 * 2 >= total THEN t * 4
        |             WHEN c3 * 2 >= total THEN t * 8
        |             ELSE t * 16 END,
        |        CASE WHEN c1 * 2 >= total THEN c1
        |             WHEN c2 * 2 >= total THEN c2
        |             WHEN c3 * 2 >= total THEN c3
        |             ELSE c4 END
        |      FROM (SELECT
        |              COUNT(CASE WHEN o_totalprice < t * 2  THEN 1 END) AS c1,
        |              COUNT(CASE WHEN o_totalprice < t * 4  THEN 1 END) AS c2,
        |              COUNT(CASE WHEN o_totalprice < t * 8  THEN 1 END) AS c3,
        |              COUNT(CASE WHEN o_totalprice < t * 16 THEN 1 END) AS c4
        |            FROM orders_q122));
        |  END WHILE;
        |  SELECT t AS threshold, nb AS n_below, total AS n_total;
        |END""".stripMargin)
  }

  /** q109: collation-aware grouping (Spark 4 `COLLATE UTF8_LCASE`) —
    * case-insensitive semantics carried by the TYPE instead of wrapping
    * every reference in lower() (at scale: one collated sort key vs a
    * per-row function in every comparison). Mixed-case input synthesized
    * deterministically; the output key is normalized via min(lower(..)) so
    * the oracle (a plain lower() rollup) pins the grouping exactly.
    */
  val q109Collation: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("cust_q109")
    s.sql(
      """SELECT min(lower(seg)) AS seg, COUNT(1) AS n
        |FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
        |                  ELSE lower(c_mktsegment) END AS seg
        |      FROM cust_q109)
        |GROUP BY seg COLLATE UTF8_LCASE
        |ORDER BY seg""".stripMargin)
  }

  /** q110: MERGE/upsert semantics without a table format — the lakehouse
    * MERGE INTO expressed relationally: updates overwrite matched target
    * rows, unmatched source rows insert, unmatched target rows carry over.
    * One FULL OUTER join on the key + coalesce per column — the
    * snapshot-rewrite pattern a parquet-only pipeline uses where Delta/
    * Iceberg would run MERGE (at 100 TB: join co-located by bucketing the
    * snapshot on the merge key, the exact shape the bucketed-join pin
    * proves shuffle-free). The update batch is synthesized
    * deterministically from the target (every 7th order re-priced, plus
    * new keys past the max).
    */
  val q110MergeUpsert: Q = (s, d) => {
    val target = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
              col("o_totalprice").as("price"))
    val updates = target.filter(col("k") % 7 === 0)
      .select(col("k"), lit("U").as("s_status"),
              (col("price") + 1000.0).as("s_price"))
      .unionByName(
        target.agg(max(col("k")).as("mx"))
          .select(explode(expr("sequence(1, 5)")).as("i"), col("mx"))
          .select((col("mx") + col("i")).as("k"), lit("N").as("s_status"),
                  lit(1.0).as("s_price")))
    target.join(updates, Seq("k"), "full_outer")
      .select(col("k"),
              coalesce(col("s_status"), col("status")).as("status"),
              coalesce(col("s_price"), col("price")).as("price"),
              when(col("s_status").isNull, "kept")
                .when(col("status").isNull, "inserted")
                .otherwise("updated").as("action"))
      .orderBy("k")
  }

  /** q111: SCD type-2 history build — turn a per-key event log into
    * validity intervals [ts, next_ts) with a current-row flag: the
    * slowly-changing-dimension transform every warehouse load runs.
    * One lead() window per key (user) ordered by (ts, event_id) — state
    * bounded by the key's own history, partition-parallel across keys;
    * interval ends in exact epoch-µs (NULL = still current).
    */
  val q111Scd2: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us").asc, col("event_id").asc)
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"),
              unix_micros(col("ts")).as("us"))
      .withColumn("valid_to_us", lead(col("us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("user_id"), col("event_id"), col("value"),
              col("us").as("valid_from_us"), col("valid_to_us"), col("is_current"))
      .orderBy("user_id", "valid_from_us", "event_id")
  }

  /** q172: fact join against the SCD2 dimension — q111 BUILDS the
    * version history; this is its downstream purpose: each click fact
    * joins to the purchase version VALID AT its timestamp (equi on user
    * + the validity-interval predicate). Versions per user are disjoint,
    * so every fact matches at most one row — deterministic by
    * construction. The plan is an equi-join on user with the interval
    * test as a post-filter (per-user version lists are bounded by that
    * user's history — the dimension side is small by SCD2's nature).
    *
    * Why the RangeBucketJoin rewrite does NOT apply here, by design: the
    * rewrite rescues joins whose ONLY cross-side predicates are range
    * bounds (q129/q130 — Spark would otherwise plan a nested loop). This
    * join carries a cross-side EQUI key (user = d_user), so Spark already
    * hash/merge-joins on it and evaluates the interval test over one
    * user's version list — per-key bounded work with no all-pairs risk.
    * Bucketing time on top would explode the dimension and re-shuffle on
    * a derived key the join already has; the rule's eligibility guard
    * declines exactly this shape, and PlanSpec pins that enabling the
    * rule leaves q172's equi-join plan untouched.
    */
  val q172Scd2Join: Q = (s, d) => {
    val dim = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("d_user"), col("event_id").as("version_id"),
        col("value").as("version_value"), unix_micros(col("ts")).as("us"))
      .withColumn("valid_to_us",
        lead(col("us"), 1).over(Window.partitionBy("d_user")
          .orderBy(col("us").asc, col("version_id").asc)))
      .withColumnRenamed("us", "valid_from_us")
    val facts = Tables.events(s, d).filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("us"))
    facts.join(dim, col("user_id") === col("d_user") &&
        col("us") >= col("valid_from_us") &&
        (col("valid_to_us").isNull || col("us") < col("valid_to_us")))
      .select(col("click_id"), col("user_id"), col("version_id"),
        col("version_value"))
      .orderBy("click_id")
  }

  /** q112: re-aggregation / incremental-view merge — the materialized-view
    * maintenance property every warehouse load relies on: per-(day,
    * priority) PARTIAL aggregates (the state a daily load writes) merged
    * into per-priority totals by re-aggregating the partial table — sums
    * add, counts add, distinct-day count is a plain COUNT over partial
    * rows (the day is a partial KEY), and the average is re-derived
    * sum/count at the END, never an average of averages. The oracle is the
    * DIRECT one-shot aggregation, so the hash match proves the merge is
    * lossless. At 100 TB the merge reads |days × priorities| partial rows,
    * not the fact table — the whole point of keeping partial state.
    */
  val q112Reaggregate: Q = (s, d) => {
    val partial = Tables.orders(s, d)
      .groupBy(col("o_orderdate").as("day"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("o_totalprice"))).as("sm"))
    partial.groupBy("prio")
      .agg(sum(col("cnt")).as("n_orders"),
           count(lit(1)).as("n_days"),
           decD(sum(col("sm"))).as("total_price"))
      .withColumn("avg_price", col("total_price") / col("n_orders"))
      .select("prio", "n_days", "n_orders", "total_price", "avg_price")
      .orderBy("prio")
  }

  /** q113: NOT IN vs NOT EXISTS under NULLs — the ANSI tri-valued-logic
    * pitfall pinned as data: one planted NULL in the probe set makes every
    * `NOT IN` comparison UNKNOWN, so the count collapses to 0, while
    * `NOT EXISTS` (a proper anti join) and the null-filtered `NOT IN`
    * return the real complement. Execution-wise Spark plans the null-aware
    * NOT IN as a single-column NAAJ (broadcast hash with a null check),
    * NOT a nested loop — the pin documents both the semantics trap and
    * that the anti-join spelling is the scale-safe one.
    */
  val q113NotInNulls: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("cust_q113")
    Tables.orders(s, d).createOrReplaceTempView("ord_q113")
    s.sql(
      """SELECT
        |  (SELECT COUNT(1) FROM cust_q113
        |   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM ord_q113))
        |    AS n_not_in,
        |  (SELECT COUNT(1) FROM cust_q113
        |   WHERE NOT EXISTS (SELECT 1 FROM ord_q113
        |                     WHERE NULLIF(o_custkey, 7) = c_custkey))
        |    AS n_not_exists,
        |  (SELECT COUNT(1) FROM cust_q113
        |   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM ord_q113
        |                           WHERE NULLIF(o_custkey, 7) IS NOT NULL))
        |    AS n_not_in_nullfree""".stripMargin)
  }

  /** q114: cumulative distinct users by day — the running-COUNT(DISTINCT)
    * every retention dashboard needs, spelled scale-safe: a windowed
    * COUNT(DISTINCT) would drag every user id through a growing frame, so
    * instead each user contributes once at their FIRST day (min(day) —
    * partial agg), days roll up new-user counts, and the cumulative total
    * is a prefix sum over the per-day table (metadata-scale: one row per
    * day). Daily actives come from the same (day, user) dedup. At 100 TB
    * the only full-data shuffles key on user_id / (day, user_id); the
    * running sum never touches event rows.
    */
  val q114CumulativeDistinct: Q = (s, d) => {
    val ev = Tables.events(s, d).select(to_date(col("ts")).as("day"), col("user_id"))
    val firstDay = ev.groupBy("user_id").agg(min(col("day")).as("day"))
    val newUsers = firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
    val daily = ev.distinct().groupBy("day").agg(count(lit(1)).as("daily_users"))
    val joined = daily.join(newUsers, Seq("day"), "left")
      .select(col("day"), col("daily_users"),
              coalesce(col("new_users"), lit(0L)).as("new_users"))
    TextOps.prefixSum(joined, "day", "new_users", "cum_users",
        includeCurrent = true)
      .select("day", "daily_users", "new_users", "cum_users")
      .orderBy("day")
  }

  /** Benford expected shares ×1e6 for digits 1..9: floor(log10(1+1/d)·1e6).
    * Computed ONCE here and interpolated as integer literals into BOTH
    * engines' SQL, so no transcendental ever runs inside a query.
    */
  private[queries] val BenfordX1e6: IndexedSeq[Long] =
    (1 to 9).map(dg => math.floor(math.log10(1.0 + 1.0 / dg) * 1e6).toLong)

  /** q115: Benford's-law first-digit audit — the classic fraud-detection
    * screen (fabricated amounts drift from the logarithmic first-digit
    * law; the reference is a fraud-detection ETL, py:40-52's rule filter
    * is its per-row cousin — this is the distributional one).
    *
    * Determinism: the first significant digit comes from INTEGER string
    * math (floor → bigint → first char), never log10 of a double; the
    * expected shares are pre-computed integer literals (same literal text
    * in both engines), and the deviation is integer basis-point algebra.
    * Prices are >= 1 in this schema so the integer part is never empty.
    *
    * Scale shape: per-row digit extraction in codegen → ONE partial-agg
    * groupBy over 9 digit values (map-side combine collapses everything)
    * → broadcast of the 1-row total. No sort until the 9-row output.
    */
  val q115BenfordAudit: Q = (s, d) => {
    val expected = BenfordX1e6.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN ${v}L" }
      .mkString("CASE digit ", " ", " END")
    val digits = Tables.orders(s, d)
      .select(expr("cast(substring(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as int)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    digits
      .crossJoin(broadcast(digits.agg(sum(col("n")).as("total"))))
      .select(col("digit"), col("n"),
        expr("n * 1000000 div total").as("observed_x1e6"),
        expr(expected).as("expected_x1e6"))
      .withColumn("dev_x1e6", expr("abs(observed_x1e6 - expected_x1e6)"))
      .orderBy("digit")
  }

  /** q116: calendar-spine gap filling — materialize the MISSING days of a
    * per-key daily time series (q79 forward-fills values over rows that
    * exist; this one CREATES the absent rows, the other half of real
    * time-series hygiene): per priority, a day spine spans min..max
    * present day via `sequence` + explode, absent days join in with
    * n_orders = 0, and the last active day's max price forward-fills
    * across the gap (`last(..., ignoreNulls)`).
    *
    * Scale shape: the heavy input collapses in ONE partial-agg groupBy
    * (orders → (priority, day) rows); everything after is bounded by
    * #keys × calendar span — metadata that grows with TIME, not data
    * volume, so the spine explode, the left join, and the per-key ffill
    * window all stay metadata-scale at 100 TB (the window's partition is
    * one key's calendar, ≤ span rows by construction). max, not sum, for
    * the forward-filled metric: double max is order-insensitive, so no
    * decimal detour is needed.
    */
  val q116CalendarSpine: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .select(col("o_orderpriority"), to_date(col("o_orderdate")).as("day"),
        col("o_totalprice"))
      .groupBy("o_orderpriority", "day")
      .agg(count(lit(1)).as("n"), max(col("o_totalprice")).as("mx"))
    val spine = daily.groupBy("o_orderpriority")
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(col("o_orderpriority"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val w = Window.partitionBy("o_orderpriority").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("o_orderpriority", "day"), "left")
      .select(col("o_orderpriority"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        last(col("mx"), ignoreNulls = true).over(w).as("ffill_max"))
      .orderBy("o_orderpriority", "day")
  }

  /** q118: event-transition matrix — the first-order Markov view of the
    * event stream: per user, each event's type is paired with the NEXT
    * event's type (`lead` over the per-user time order, ties broken by
    * event_id for determinism), then (from, to) pairs are counted and
    * row-normalized into transition probabilities. The classic
    * behavioral-analytics / funnel-adjacent query (what follows what),
    * and the input a sequence model's transition prior is estimated from.
    *
    * Scale shape: ONE shuffle of the event table (the per-user window —
    * partitioned by user_id, never global), then everything collapses to
    * |types|² rows via partial-agg counting; the row totals broadcast
    * back. The probability is a BIGINT-over-BIGINT double division, spelled
    * identically in the oracle, so IEEE doubles agree exactly.
    */
  val q118TransitionMatrix: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum(col("n")).as("tot"))
    trans.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("tot").cast("double")).as("p"))
      .orderBy("from_type", "to_type")
  }

  /** q125: incremental materialized-view refresh — the warehouse op that
    * keeps a per-customer order summary current without re-touching the
    * base fact table: the standing MV (here rebuilt from the non-late
    * subset; in production a stored table) is FULL-OUTER merged with the
    * aggregate of just the late-arriving delta, additive measures coalesce
    * and add, and brand-new keys enter as delta-only rows. Refresh cost is
    * O(|delta| + |MV keys|) — the 100 TB fact table is never re-scanned —
    * and the oracle is the FULL RECOMPUTE over all orders, so the merge
    * algebra (count/sum additivity, null-completion on both sides) is
    * pinned to be indistinguishable from rebuilding. Both aggregates are
    * partial-agg groupBys; the merge join carries one row per key.
    */
  val q125IncrementalMv: Q = (s, d) => {
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), dec(col("o_totalprice")).as("p"))
    val mv = orders.filter(col("o_orderkey") % 97 =!= 0)
      .groupBy("o_custkey").agg(count(lit(1)).as("bn"), sum("p").as("bs"))
    val deltaAgg = orders.filter(col("o_orderkey") % 97 === 0)
      .groupBy("o_custkey").agg(count(lit(1)).as("dn"), sum("p").as("ds"))
    mv.join(deltaAgg, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
        decD(coalesce(col("bs"), lit(0).cast(DecimalType(18, 2))) +
             coalesce(col("ds"), lit(0).cast(DecimalType(18, 2)))).as("sum_price"),
        when(col("bn").isNull, lit("delta_only"))
          .when(col("dn").isNull, lit("base_only"))
          .otherwise(lit("merged")).as("src"))
      .orderBy("o_custkey")
  }

  /** q127: time-interval RANGE window frame — the trailing-hour rollup at
    * every event (the batch twin of s02's sliding windows, but anchored at
    * each row instead of fixed grid buckets): `RANGE BETWEEN INTERVAL '1'
    * HOUR PRECEDING AND CURRENT ROW` over event time. RANGE (peer-group)
    * framing makes ties deterministic — all rows at the same timestamp
    * share one frame regardless of intra-tie order, where a ROWS frame
    * would be replay-unstable. One shuffle on user_id; frame state is
    * bounded by events-per-hour-per-user. The sum accumulates in
    * DECIMAL(18,6) so the sliding add/remove order can't drift the double.
    */
  val q127TimeRangeFrame: Q = (s, d) => {
    Tables.events(s, d).createOrReplaceTempView("ev_q127")
    s.sql(
      """SELECT user_id, event_id,
        |       COUNT(1) OVER w AS n_1h,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w
        |            AS DECIMAL(18,6)) AS DOUBLE) AS v_1h
        |FROM ev_q127
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin)
  }

  /** q128: contingency table via the `DataFrame.stat.crosstab` surface —
    * the two-categorical profile (status × priority counts) a feature
    * audit reads before encoding. The API computes a pivoted count table
    * in one pass; the output columns are re-selected in sorted order and
    * rows re-sorted so the result is deterministic (crosstab's own column
    * order is data-arrival-dependent). Oracle = the equivalent grouped
    * CASE pivot. Scale: one partial-agg groupBy over |statuses|×|prios|
    * cells — metadata-sized output.
    */
  val q128Crosstab: Q = (s, d) => {
    val ct = Tables.orders(s, d)
      .withColumn("prio", expr("substring(o_orderpriority, 1, 1)"))
      .stat.crosstab("o_orderstatus", "prio")
    val key = ct.columns.head
    val cols = ct.columns.tail.sorted
    ct.select(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      col(key).as("status") +: cols.map(c => col(c).as(s"p$c"))): _*)
      .orderBy("status")
  }

  /** q126: Gini impurity per key — the class-balance profile of each
    * user's event-type distribution (1 − Σ p_c²), the split-quality /
    * skew diagnostic that needs no logarithm: spelled in exact integer
    * basis points (10000 − Σcnt²·10000 div total²) so both engines agree
    * bit-for-bit where an entropy spelling would drift in float log space.
    * Two partial-agg groupBys (rows → per-(user, type) counts → per-user
    * fold); counts per user are bounded by |event types|.
    */
  val q126GiniImpurity: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n_events"),
           count(lit(1)).as("n_types"),
           expr("10000 - sum(c * c) * 10000 div (sum(c) * sum(c))").as("gini_bp"))
      .orderBy("user_id")

  /** q131: TPC-H Q3 (shipping priority) — the composite reporting workload
    * a warehouse user actually submits, stitching operators this suite
    * pins individually: segment-filtered customers SEMI-join-prune orders
    * (broadcastable dimension filter), lineitem joins the surviving
    * orders, revenue aggregates per order, top-10 by revenue. Revenue is
    * floor-cents integer math (`floor(px·100)` — the UdfOps discipline:
    * IEEE product then exact BIGINT sum, one final /100.0) so the
    * cross-engine compare is bit-exact with no decimal-rounding edge.
    * Plan shape at 100 TB: two dimension broadcasts, one fact shuffle on
    * l_orderkey for the agg, TakeOrderedAndProject for the top-10.
    */
  val q131TpchQ3: Q = (s, d) => {
    val cutoff = lit("1998-06-01").cast("timestamp")
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)").as("rev_c"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg((sum(col("rev_c")) / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** q132: TPC-H Q10 (returned-item reporting) — who returned the most
    * revenue in a half-year window, with their nation attached. The spelt
    * plan PRE-AGGREGATES revenue per customer key BEFORE joining the
    * customer and nation dimensions (TPC-H's textbook spelling groups by
    * every output column, dragging c_name/c_acctbal through the shuffle —
    * same result, strictly worse at scale); nation broadcasts; top-20 by
    * revenue with key tiebreak. Same floor-cents revenue discipline as
    * q131.
    */
  val q132TpchQ10: Q = (s, d) => {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val rev = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)").as("rev_c"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg((sum(col("rev_c")) / 100.0).as("revenue"))
    rev
      .join(Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** q133: table-valued functions in FROM position — `range()` (the
    * parallel sequence generator whose start/stop/step/numSlices make it
    * the scalable dimension spine, q116's calendar trick in its rawest
    * form), `posexplode` as an uncorrelated FROM-clause generator, and
    * `stack` (the inline VALUES-pivot) — composed by cross join. All three
    * are metadata generators: the product here is 18 rows, but range()
    * alone scales to billions of rows with no driver materialization,
    * which is what earns the surface its pin.
    */
  val q133TvfSuite: Q = (s, d) =>
    s.sql(
      """SELECT r.id AS seq_id, p.pos, p.tok, st.k, st.v
        |FROM range(0, 3) r,
        |     posexplode(split('alpha beta gamma', ' ')) p(pos, tok),
        |     stack(2, 'x', 1, 'y', 2) st(k, v)
        |ORDER BY seq_id, pos, k""".stripMargin)

  /** q134: the `IDENTIFIER()` clause (Spark 4, SQL:2023-adjacent) —
    * injection-SAFE dynamic table/column references: the template query
    * takes its target table from a session VARIABLE and its grouping
    * column from a string literal, and both resolve as identifiers, never
    * as spliced SQL text (the templating surface q108's variables provide
    * for VALUES, completed for NAMES — together they eliminate string
    * interpolation from parameterized SQL). Resolution happens at
    * analysis, so pushdown/pruning see an ordinary plan.
    */
  val q134Identifier: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q134")
    s.sql("DECLARE OR REPLACE VARIABLE tab STRING DEFAULT ''")
    s.sql("SET VAR tab = 'orders_q134'")
    s.sql(
      """SELECT IDENTIFIER('o_orderstatus') AS status, COUNT(1) AS n
        |FROM IDENTIFIER(tab)
        |GROUP BY IDENTIFIER('o_orderstatus')
        |ORDER BY status""".stripMargin)
  }

  /** q135: cohort retention matrix — the product-analytics staple beside
    * q104's funnel and q118's transition matrix: users are binned by their
    * FIRST-activity day (the cohort), and each later day counts how many
    * of that cohort came back (distinct users at days-since k). Shapes:
    * per-user min-day (one partial-agg groupBy), join the cohort back
    * (shuffle on user_id), distinct (cohort, k, user) to collapse
    * within-day repeats, then a metadata-scale rollup — cohorts × horizon
    * rows out. Integer day arithmetic both engines share.
    */
  val q135CohortRetention: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("date_trunc('day', ts)").as("m"))
    val cohort = ev.groupBy("user_id").agg(min(col("m")).as("c0"))
    ev.join(cohort, "user_id")
      .select(col("user_id"), col("c0"), expr("datediff(m, c0)").as("k"))
      .distinct()
      .groupBy("c0", "k").agg(count(lit(1)).as("n_users"))
      .orderBy("c0", "k")
  }

  /** q136: EXECUTE IMMEDIATE — Spark 4's dynamic-SQL surface (the third
    * leg of the parameterized-SQL triad: q108 binds VALUES via session
    * variables, q134 binds NAMES via IDENTIFIER, q136 binds a WHOLE
    * STATEMENT held in a string). The statement text lives in a session
    * variable, carries a named parameter marker (`:minbal`), and executes
    * with `USING` supplying the binding — the safe replacement for string
    * interpolation when the query itself is data (rule engines, saved
    * reports, scheduled jobs). The dynamic text parses to an ordinary
    * analyzed plan, so pushdown/pruning/codegen are unaffected — pinned by
    * the plain statically-spelled oracle.
    */
  val q136ExecuteImmediate: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("cust_q136")
    s.sql("DECLARE OR REPLACE VARIABLE q136_stmt STRING DEFAULT ''")
    s.sql(
      """SET VAR q136_stmt =
        |  'SELECT c_mktsegment, COUNT(1) AS n_custs,
        |          CAST(SUM(FLOOR(c_acctbal * 100)) AS BIGINT) AS bal_cents
        |   FROM cust_q136 WHERE c_acctbal > :minbal
        |   GROUP BY c_mktsegment ORDER BY c_mktsegment'""".stripMargin)
    s.sql("EXECUTE IMMEDIATE q136_stmt USING 1000 AS minbal")
  }

  /** q137: TPC-H Q5 (local-supplier volume) — the six-table join the
    * benchmark uses to exercise join ORDER: region-filtered nations
    * qualify both ends, and the "local" condition (customer and supplier
    * in the SAME nation) correlates two dimension keys at the fact row.
    * Spelt scale-first: the fact table joins the date-filtered orders
    * first (the only row-reducing fact-side join), then every dimension
    * BROADCASTS (customer/supplier/nation/region are all sub-percent of
    * the fact at any scale), so the single data-scale shuffle is the
    * final groupBy on nation. Floor-cents revenue (q131's discipline).
    */
  val q137TpchQ5: Q = (s, d) => {
    val lo = lit("1997-01-01").cast("timestamp")
    val hi = lit("1998-01-01").cast("timestamp")
    val asiaNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
          .as("rev_c"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg((sum(col("rev_c")) / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** q181: TPC-H Q7 (volume shipping between two nations) — the
    * bidirectional-pair join: revenue shipped supplier-nation →
    * customer-nation for the pair (NATION_1, NATION_2) in EITHER
    * direction, by ship year. The benchmark lesson is WHERE the pair
    * predicate runs: both dimension legs pre-filter to the two nations
    * BEFORE touching the fact (each kills ~23/25 of its side — the
    * row-reducing join q137's scaladoc argues for), and the
    * either-direction condition is then a residual check on two
    * broadcast-joined name columns, never an OR-of-ANDs the planner
    * would have to push through a fact-fact join. One data-scale
    * shuffle: the final (nation, nation, year) groupBy. Floor-cents
    * revenue (q131's discipline).
    */
  val q181TpchQ7: Q = (s, d) => {
    val pair = Seq("NATION_1", "NATION_2")
    val supp = Tables.supplier(s, d)
      .join(Tables.nation(s, d).filter(col("n_name").isin(pair: _*)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(Tables.nation(s, d).filter(col("n_name").isin(pair: _*)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
          .as("rev_c"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg((sum(col("rev_c")) / 100.0).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q182: TPC-H Q8 (national market share) — the ratio-of-conditional-
    * aggregates shape: of all PROMO-part revenue delivered into EUROPE
    * customers per order year, what fraction came from NATION_3
    * suppliers. Every dimension (part-type filter, region-filtered
    * customer nations, supplier→nation names) broadcasts; the fact side
    * is reduced by the part semi-broadcast FIRST (the most selective
    * leg), and the share is computed as one conditional + one total
    * integer-cents sum in a single partial-agg groupBy — never two
    * scans or a self-join of the yearly totals. The final divide is one
    * double op on exact integers (IEEE-identical cross-engine).
    */
  val q182TpchQ8: Q = (s, d) => {
    val promoParts = Tables.part(s, d)
      .filter(col("p_type") === "PROMO").select("p_partkey")
    val suppNation = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val euroCust = Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
          .as("rev_c"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(euroCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(
        sum(when(col("supp_nation") === "NATION_3", col("rev_c"))
          .otherwise(0L)).as("nation_c"),
        sum(col("rev_c")).as("total_c"))
      .select(col("o_year"),
        (col("nation_c").cast("double") / col("total_c").cast("double"))
          .as("mkt_share"))
      .orderBy("o_year")
  }

  /** q183: TPC-H Q19 (discounted revenue over three brand/size/quantity
    * bands) — the benchmark's OR-of-ANDs pushdown test: each disjunct
    * constrains BOTH sides of the part⋈lineitem join, and the trap
    * spelling runs one join per disjunct and unions (three fact scans).
    * Here the disjunction is a single residual filter over ONE equi-join
    * — the optimizer derives the part-only disjunction
    * (brand₁∧size₁ ∨ …) and pushes it into the dimension scan, the dim
    * broadcasts, and the fact is scanned once. Floor-cents revenue.
    */
  val q183TpchQ19: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"),
        expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
          .as("rev_c"))
    val pt = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
    li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#5" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("rev_c")) / 100.0).as("revenue"))
  }

  /** q184: TPC-H Q22 (global sales opportunity) — the two-subquery
    * topology: a scalar AVERAGE threshold over a filtered slice of the
    * same dimension, then an ANTI join against the fact ("well-funded
    * customers with no RECENT orders" — the benchmark's 7-year dormancy
    * window; this fixture's customers all order eventually, so the anti
    * leg is the date-filtered NOT EXISTS Q22's text describes), grouped
    * by country code (adapted to `c_nationkey % 5` — this schema carries
    * no phone column). The
    * average is integer-cents (Σ div n): a double AVG's sum order is
    * partition-dependent, and a threshold COMPARISON against it would
    * let the last ulp decide membership — the exact-arithmetic
    * discipline every boundary predicate in this engine follows. Scale
    * shapes: the threshold is a 1-row broadcast; the anti join is a
    * hash equi-join on custkey (fact-side shuffle, no BNLJ); one
    * metadata-scale groupBy.
    */
  val q184TpchQ22: Q = (s, d) => {
    val cust = Tables.customer(s, d)
      .filter((col("c_nationkey") % 5).isin(1, 3))
      .select(col("c_custkey"),
        (col("c_nationkey") % 5).as("cntrycode"),
        expr("cast(floor(c_acctbal * 100) as bigint)").as("bal_c"))
    val avgC = cust.filter(col("bal_c") > 0)
      .agg(expr("sum(bal_c) div count(1)").as("avg_c"))
    cust.crossJoin(broadcast(avgC))
      .filter(col("bal_c") > col("avg_c"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2000-07-01").cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("cntrycode")
      .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("total_bal_c"))
      .orderBy("cntrycode")
  }

  /** q186: TPC-H Q6 (forecast revenue change) — the benchmark's PURE
    * scan-filter-aggregate: no join at all, so the whole query is the
    * scan path's yardstick — every predicate must reach the parquet
    * reader (PlanSpec pins PushedFilters on shipdate/discount/quantity)
    * and the aggregate is ONE partial-agg pass. The classic Q6 trap is
    * the discount band on a float column: both engines compare the same
    * parquet doubles against the same literals, so the band is exact;
    * revenue = Σ extendedprice·discount in floor-cents (q131).
    */
  val q186TpchQ6: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        (sum(expr("cast(floor(l_extendedprice * l_discount * 100) as bigint)"))
          / 100.0).as("revenue"))

  /** q187: TPC-H Q4 (order priority checking) — the EXISTS semi-join +
    * priority census: orders of one quarter that have at least one
    * problem line, counted by priority. The benchmark's lateness witness
    * (commitdate < receiptdate) has no counterpart in this lineitem
    * (no receipt/commit dates), so the witness is adapted to
    * returnflag = 'R' — the join topology (date-sliced orders SEMI-joined
    * to a filtered fact, then a 5-key census) is Q4's exactly. The semi
    * join deduplicates BY CONSTRUCTION (an order with 4 returned lines
    * counts once — the trap is an inner join + distinct, which shuffles
    * the fan-out before deduplicating); one metadata-scale groupBy.
    */
  val q187TpchQ4: Q = (s, d) => {
    val flagged = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey")
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      .select("o_orderkey", "o_orderpriority")
      .join(flagged, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q188: TPC-H Q9 (product type profit) — the benchmark's widest join
    * tree: a LIKE-filtered part slice drives profit per (nation, order
    * year) through lineitem ⋈ part ⋈ supplier ⋈ nation ⋈ orders. This
    * schema has no partsupp, so cost is adapted to
    * p_retailprice·l_quantity (the same per-line "revenue minus supply
    * cost" algebra; documented adaptation like q177's returnflag). Scale
    * shapes: the LIKE slice and supplier→nation both broadcast, orders
    * joins equi on the fact key (the only data-scale join), profit stays
    * exact integer cents until the final divide.
    */
  val q188TpchQ9: Q = (s, d) => {
    val parts = Tables.part(s, d)
      .filter(col("p_name").like("%bolt%"))
      .select("p_partkey", "p_retailprice")
    val suppNation = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"),
        expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
          .as("rev_c"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d)
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("cost_c",
        expr("cast(floor(p_retailprice * l_quantity * 100) as bigint)"))
      .groupBy("nation", "o_year")
      .agg((sum(col("rev_c") - col("cost_c")) / 100.0).as("sum_profit"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }

  /** q189: TPC-H Q12 (shipping modes and order priority) — the two-bucket
    * CASE census over late lines: per ship mode, how many lines belong to
    * critical-priority orders vs the rest. Adaptations (documented):
    * this lineitem carries no l_shipmode (derived deterministically from
    * l_linenumber % 3) and no receipt/commit dates (late =
    * shipped ≥ 60 days after the order date — a residual timestamp
    * comparison on the SAME equi-join Q12 runs). One fact-side equi-join
    * on orderkey, the census is one partial-agg groupBy over 3 keys.
    */
  val q189TpchQ12: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_shipdate"),
        expr("CASE CAST(l_linenumber % 3 AS INT) WHEN 0 THEN 'MAIL' " +
          "WHEN 1 THEN 'SHIP' ELSE 'TRUCK' END").as("l_shipmode"))
      .join(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("l_shipmode")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_shipmode")

  /** q190: TPC-H Q14 (promo effect) — the conditional-revenue-share shape
    * (q182's algebra) by ship month: what fraction of each 1997 month's
    * revenue came from PROMO parts. ONE conditional + one total
    * integer-cents sum in a single partial-agg groupBy (never a
    * promo-only scan joined back to a totals scan); the part dimension
    * broadcasts; the share is (100·promo)/total with both operands exact
    * bigints and the two double ops in identical order cross-engine.
    */
  val q190TpchQ14: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(month(col("l_shipdate")).as("ship_month"), col("l_partkey"),
        expr("cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)")
          .as("rev_c"))
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("ship_month")
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev_c")).otherwise(0L))
          .as("promo_c"),
        sum(col("rev_c")).as("total_c"))
      .select(col("ship_month"),
        (lit(100.0) * col("promo_c").cast("double")
          / col("total_c").cast("double")).as("promo_share"))
      .orderBy("ship_month")

  /** q191: TPC-H Q13 (customer order-count distribution) — the
    * double-aggregation composite: orders per customer INCLUDING
    * zero-order customers (the LEFT join whose null-preservation is the
    * query's point), then the histogram of those counts. The benchmark's
    * comment-pattern exclusion has no comment column here — adapted to
    * excluding '5-LOW'-priority orders (same shape: a filter that must
    * ride the JOIN CONDITION, not the WHERE clause, or zero-order
    * customers vanish). Scale: one data-scale left join + per-customer
    * count, then a metadata-scale histogram groupBy.
    */
  val q191TpchQ13: Q = (s, d) => {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select("o_orderkey", "o_custkey")
    Tables.customer(s, d).select("c_custkey")
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q192: TPC-H Q15 (top supplier) — the view + scalar-max composite:
    * per-supplier revenue over one quarter, returning the supplier(s)
    * whose revenue EQUALS the maximum. The equality comparison is why
    * revenue stays exact integer cents end-to-end (a double sum's
    * partition-dependent rounding could split a true tie); the max is a
    * 1-row broadcast, the supplier dimension broadcasts, and the only
    * data-scale work is the fact groupBy.
    */
  val q192TpchQ15: Q = (s, d) => {
    // Q15's revenue is a VIEW consumed twice (rows + scalar max) —
    // materialize the supplier-scale table once (localCheckpoint) so the
    // fact is scanned exactly once, not once per consumer (PlanSpec pins
    // zero lineitem scans downstream of the view).
    val revenue = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(sum(expr(
        "cast(floor(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
        .as("rev_c"))
      .localCheckpoint()
    val top = revenue.agg(max("rev_c").as("max_c"))
    revenue.crossJoin(broadcast(top))
      .filter(col("rev_c") === col("max_c"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("rev_c") / 100.0).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q193: TPC-H Q17 (small-quantity-order revenue) — the correlated
    * scalar-average composite: revenue lost by not filling orders below
    * 20% of a part's average order quantity (part slice adapted to
    * brand + SMALL type — no container column). The correlated
    * `l_quantity < 0.2·avg(...)` subquery is decorrelated into a
    * per-part aggregate join, and the 20%-of-average comparison is
    * spelled as the EXACT integer cross-multiplication
    * 5·qty·n < Σqty (a double avg would put boundary rows on the last
    * ulp). Scale: the part slice broadcasts twice (filter + threshold
    * probe); the per-part quantity aggregate is one partial-agg groupBy
    * over the sliced fact.
    */
  val q193TpchQ17: Q = (s, d) => {
    val parts = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#23" && col("p_type") === "SMALL")
      .select("p_partkey")
    val sliced = Tables.lineitem(s, d)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        // floor BEFORE the cast: a bare double→bigint cast truncates in
        // Spark but ROUNDS in DuckDB — identical only because the fixture
        // quantities happen to be integral; floor makes it identical by
        // construction
        expr("cast(floor(l_quantity) as bigint)").as("qty"),
        expr("cast(floor(l_extendedprice * 100) as bigint)").as("price_c"))
    val perPart = sliced.groupBy(col("l_partkey").as("agg_pk"))
      .agg(sum("qty").as("qty_sum"), count(lit(1)).as("qty_n"))
    sliced.join(broadcast(perPart), col("l_partkey") === col("agg_pk"))
      .filter(col("qty") * 5 * col("qty_n") < col("qty_sum"))
      .agg((sum(col("price_c")) / 700.0).as("avg_yearly"))
  }

  /** Deterministic supply-attribute constants for the DERIVED partsupp
    * (interpolated into BOTH engines' spellings so the two sides can never
    * silently desynchronize). Multipliers are Knuth's 2654435761 and two
    * primes; with this fixture's keys (< 2^18 even at sf0.1) every product
    * stays far below 2^63. ps_supplycost_c lands in [100, 99100] cents,
    * ps_availqty in [1, 9901] — all operands positive, so `%` agrees
    * across engines with no negative-truncation caveat.
    */
  private val PsCostA = 2654435761L
  private val PsCostB = 40503L
  private val PsCostMod = 99001L
  private val PsQtyA = 7919L
  private val PsQtyB = 104729L
  private val PsQtyMod = 9901L

  /** Derived partsupp — TPC-H's fourth fact table, absent from this
    * testdata: lineitem carries BOTH l_partkey and l_suppkey
    * (FIXTURES.md), so the faithful adapted relation is the DISTINCT
    * (partkey, suppkey) pairs that actually traded, extended with
    * deterministic integer supply attributes that are pure functions of
    * the keys (the t18 discipline — both engines derive the identical
    * table; no float, no randomness). Unblocks the last four TPC-H
    * queries: Q2/Q11/Q16/Q20 (q194–q197).
    *
    * Scale shapes: the distinct is ONE map-side-combinable aggregation
    * over two narrow int columns (column pruning: the scan reads exactly
    * those two), and the derived table is |part|·suppliers-per-part —
    * metadata-scale next to lineitem (51 731 rows vs 60 000 lines at
    * sf0.01, and sub-linear in corpus growth since the pair space
    * saturates). At 100 TB a real partsupp is its own written table; the
    * one derivation scan here is what a lake would pay once at ingest.
    */
  private def partsupp(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_partkey").as("ps_partkey"),
              col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .withColumn("ps_supplycost_c", expr(
        s"ps_partkey * $PsCostA + ps_suppkey * $PsCostB") % PsCostMod + 100L)
      .withColumn("ps_availqty", expr(
        s"ps_partkey * $PsQtyA + ps_suppkey * $PsQtyB") % PsQtyMod + 1L)

  /** The identical derivation in DuckDB (CTE named `ps`), MATERIALIZED —
    * every consumer references it at least twice (outer + decorrelated
    * inner), and DuckDB default-inlines CTEs, re-scanning lineitem per
    * reference.
    */
  private val duckPartsupp =
    s"""ps AS MATERIALIZED (
       |  SELECT ps_partkey, ps_suppkey,
       |         (ps_partkey * $PsCostA + ps_suppkey * $PsCostB)
       |           % $PsCostMod + 100 AS ps_supplycost_c,
       |         (ps_partkey * $PsQtyA + ps_suppkey * $PsQtyB)
       |           % $PsQtyMod + 1 AS ps_availqty
       |  FROM (SELECT DISTINCT l_partkey AS ps_partkey,
       |                        l_suppkey AS ps_suppkey FROM lineitem))""".stripMargin

  /** q194: TPC-H Q2 (minimum-cost supplier) — the correlated-min
    * composite: for every size-15 part, the European supplier(s) whose
    * supply cost EQUALS the part's minimum European cost. The correlated
    * `ps_supplycost = (select min(...))` subquery is decorrelated into a
    * per-part min-aggregate join (the textbook rewrite); the min runs on
    * exact integer cents so a true cost tie returns BOTH suppliers on
    * both engines (a double min could split it). Part-type slice adapted
    * to p_size alone (the fixture's p_type is 6 coarse categories, no
    * '%BRASS' suffix grammar). Scale shapes: supplier⋈nation⋈region and
    * the part slice both broadcast; the offers table (sliced partsupp ×
    * region suppliers) is materialized ONCE (localCheckpoint) and feeds
    * both the min aggregate and the equality probe — one derivation scan,
    * not two; final ranking is the benchmark's ORDER BY + LIMIT 100
    * (TakeOrderedAndProject — only 100 rows per partition ship).
    */
  val q194TpchQ2: Q = (s, d) => {
    val euroSupp = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val slice = Tables.part(s, d).filter(col("p_size") === 15)
      .select("p_partkey", "p_name")
    val offers = partsupp(s, d)
      .join(broadcast(euroSupp), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(slice), col("ps_partkey") === col("p_partkey"))
      .select("p_partkey", "p_name", "s_name", "s_acctbal", "n_name",
        "ps_supplycost_c")
      .localCheckpoint()
    val minc = offers.groupBy(col("p_partkey").as("mk"))
      .agg(min("ps_supplycost_c").as("min_c"))
    offers.join(broadcast(minc),
        col("p_partkey") === col("mk") && col("ps_supplycost_c") === col("min_c"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_name"), (col("ps_supplycost_c") / 100.0).as("supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
        col("p_partkey").asc)
      .limit(100)
  }

  /** q195: TPC-H Q11 (important stock) — the group-share-vs-scalar
    * composite: per part, the total supply value held by one nation's
    * suppliers, keeping parts whose value exceeds a fixed fraction of the
    * nation's total. The HAVING threshold is spelled as the exact integer
    * cross-multiplication `value_c · 2000 > total_c` (q184's
    * integer-cents discipline — a double fraction puts boundary parts on
    * the last ulp; fraction adapted from the benchmark's 0.0001/SF to
    * 1/2000 so the report is non-trivial at this supplier count). Scale
    * shapes: the nation's supplier list broadcasts; per-part values are
    * one partial-agg groupBy over the derived partsupp, materialized once
    * (localCheckpoint) for both the rows and the 1-row scalar total
    * (q192's view discipline).
    */
  val q195TpchQ11: Q = (s, d) => {
    val natSupp = Tables.supplier(s, d)
      .join(Tables.nation(s, d).filter(col("n_name") === "NATION_9"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val vals = partsupp(s, d)
      .join(broadcast(natSupp), col("ps_suppkey") === col("s_suppkey"))
      .groupBy("ps_partkey")
      .agg(sum(col("ps_supplycost_c") * col("ps_availqty")).as("value_c"))
      .localCheckpoint()
    val tot = vals.agg(sum("value_c").as("total_c"))
    vals.crossJoin(broadcast(tot))
      .filter(col("value_c") * 2000L > col("total_c"))
      .select(col("ps_partkey"), (col("value_c") / 100.0).as("value"))
      .orderBy(col("value").desc, col("ps_partkey").asc)
  }

  /** q196: TPC-H Q16 (parts/supplier relationship) — the
    * distinct-supplier census with a NOT-IN exclusion leg: how many
    * distinct suppliers offer each surviving (brand, type, size) combo,
    * excluding blacklisted suppliers. The benchmark's
    * '%Customer%Complaints%' comment pattern has no comment column here —
    * adapted to s_acctbal < 0 (the fixture's natural "problem supplier"
    * flag). The exclusion keys (s_suppkey) are non-null by schema, so the
    * NOT IN is exactly a broadcast anti-join — the plan Spark's
    * null-aware NOT IN (q113's NAAJ pin) degenerates to when the
    * null-check is vacuous; the oracle keeps the benchmark's NOT IN
    * spelling. Scale shapes: part slice and exclusion list broadcast; the
    * census is one partial-agg distinct-count over ≤ |brand|·|type|·|size|
    * groups (bounded metadata).
    */
  val q196TpchQ16: Q = (s, d) => {
    val excl = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("x_suppkey"))
    val slice = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#5" && !col("p_type").like("MEDIUM%") &&
        col("p_size").isin(1, 7, 15, 22, 30, 36, 43, 50))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    partsupp(s, d)
      .join(broadcast(slice), col("ps_partkey") === col("p_partkey"))
      .join(broadcast(excl), col("ps_suppkey") === col("x_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand").asc, col("p_type").asc,
        col("p_size").asc)
  }

  /** q197: TPC-H Q20 (potential part promotion) — the nested-semi chain:
    * suppliers in one nation holding EXCESS stock (availqty above half
    * the year's shipped quantity) of name-sliced parts. The correlated
    * `ps_availqty > 0.5·sum(l_quantity …)` subquery is decorrelated into
    * a per-(part, supplier) shipped-quantity aggregate joined back, and
    * the half comparison is the exact cross-multiplication
    * `2·ps_availqty > qty_sum` (q193's boundary discipline; quantities
    * floor-cast per the same rule). Pairs with NO 1997 shipments drop out
    * of the inner join — exactly the benchmark's NULL-comparison
    * exclusion. Scale shapes: the name slice broadcasts into both the
    * fact aggregate and nothing else data-scale; partsupp⋈shipped is a
    * narrow-key equi-join; the final supplier restriction is a semi-join
    * into a broadcast-joined nation slice.
    */
  val q197TpchQ20: Q = (s, d) => {
    val pslice = Tables.part(s, d).filter(col("p_name").like("small%"))
      .select("p_partkey")
    val shipped = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(pslice), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("q_pk"), col("l_suppkey").as("q_sk"))
      .agg(sum(expr("cast(floor(l_quantity) as bigint)")).as("qty_sum"))
    val bigStock = partsupp(s, d)
      .join(shipped,
        col("ps_partkey") === col("q_pk") && col("ps_suppkey") === col("q_sk"))
      .filter(col("ps_availqty") * 2L > col("qty_sum"))
      .select("ps_suppkey")
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_6")),
        col("s_nationkey") === col("n_nationkey"))
      .join(bigStock, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  /** q138: keyset-free pagination — ORDER BY … LIMIT n OFFSET m (Spark
    * 3.4+'s OFFSET), page 3 of the order book at 20 rows/page. The plan
    * matters more than the surface: a global sort feeding
    * GlobalLimit(offset+limit) ships only the first m+n rows per
    * partition (TakeOrdered-style), never materializing the full sorted
    * table — but the driver-side cost still grows with m·partitions,
    * which is why the scaladoc's production advice is keyset pagination
    * (WHERE key > last_seen ORDER BY key LIMIT n) once m is deep. Total
    * order via the (o_totalprice desc, o_orderkey) tiebreak.
    */
  val q138Pagination: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q138")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders_q138
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20 OFFSET 40""".stripMargin)
  }

  /** q139: ANSI FILTER clause on aggregates — per-aggregate predicates
    * (`COUNT(1) FILTER (WHERE …)`) instead of the CASE-WHEN spelling the
    * rest of the suite uses; one pass computes differently-conditioned
    * aggregates side by side (Catalyst plans the same conditional
    * partial-agg either way — the surface, not the plan, is what this
    * pins). COALESCE keeps the empty-filter SUM integer-typed on both
    * engines.
    */
  val q139FilterClause: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q139")
    s.sql(
      """SELECT o_orderstatus,
        |       COUNT(1) AS n,
        |       COUNT(1) FILTER (WHERE o_totalprice > 300000) AS n_big,
        |       CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
        |                       FILTER (WHERE o_orderpriority = '1-URGENT'), 0)
        |            AS BIGINT) AS urgent_cents
        |FROM orders_q139
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** q140: row-value IN subquery — `(a, b) IN (SELECT x, y …)`, the
    * multi-column membership surface (Catalyst rewrites it to a left-semi
    * join on both columns, exactly like q38's scalar IN). DuckDB has no
    * tuple-IN, so the oracle pins the SEMANTICS through its EXISTS twin —
    * same discipline as the bag-semantics and VARIANT oracles: equivalent
    * result, engine-native spelling.
    */
  val q140MultiColIn: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q140")
    Tables.customer(s, d).createOrReplaceTempView("cust_q140")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders_q140
        |WHERE (o_custkey, o_orderstatus) IN
        |      (SELECT c_custkey, 'F' FROM cust_q140 WHERE c_acctbal > 5000)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** q141: binary codec surface — base64 / hex encoding of UTF-8 bytes
    * and the unbase64 round-trip (length-pinned in raw bytes). This is
    * the string↔binary boundary every ingest with binary payloads (m01's
    * multimodal columns, JDBC BLOBs, webhook signatures) crosses; both
    * engines emit the same RFC 4648 alphabet and uppercase hex, so the
    * encodings pin value-exactly.
    */
  val q141BinaryCodec: Q = (s, d) => {
    Tables.documents(s, d).createOrReplaceTempView("docs_q141")
    s.sql(
      """SELECT doc_id,
        |       base64(encode(substr(text, 1, 24), 'UTF-8')) AS b64,
        |       hex(encode(substr(text, 1, 12), 'UTF-8')) AS hx,
        |       CAST(length(unbase64(base64(encode(text, 'UTF-8')))) AS BIGINT) AS rt
        |FROM docs_q141 ORDER BY doc_id""".stripMargin)
  }

  /** q142: bitwise AGGREGATES — `bit_and` / `bit_or` / `bit_xor` over
    * grouped keys (the aggregate family beside q61's scalar bit ops):
    * bit_or builds presence masks, bit_xor is the order-independent
    * set-digest trick (xor of all ids detects single-row drift between
    * replicas at zero memory). All three are partial-agg friendly —
    * associative + commutative, so they combine map-side like sum.
    */
  val q142BitwiseAgg: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q142")
    s.sql(
      """SELECT o_orderstatus,
        |       bit_and(o_custkey) AS mask_and,
        |       bit_or(o_custkey) AS mask_or,
        |       bit_xor(o_custkey) AS digest_xor
        |FROM orders_q142
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** q143: skyline / Pareto frontier — customers not dominated on
    * (order count, minimum order value): no other customer has ≥ both with one
    * strict. The naive spelling is a quadratic NOT EXISTS self-join (the
    * oracle uses the equivalent window, which DuckDB may run wherever it
    * likes); the distributed plan is three bounded steps: (1) one
    * partial-agg groupBy builds the point set (one row per customer),
    * (2) a second partial-agg collapses it to max(y) per distinct x, and
    * (3) the STRICT suffix max over x — "best y among all strictly larger
    * order counts" — comes from [[TextOps.prefixMax]]'s range-partitioned
    * two-pass scan (descending order, exclude current), never a global
    * window. A point is on the frontier iff its x-group's ymax beats that
    * suffix max; the final equi-join re-attaches customers. Every shuffle
    * keys on custkey/x (no skew — keys are near-unique), and the only
    * broadcast is prefixMax's one-row-per-partition offsets table, so the
    * shape survives 1000 executors unchanged.
    */
  val q143Skyline: Q = (s, d) => {
    val pts = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           min(expr("cast(floor(o_totalprice * 100) as bigint)")).as("min_cents"))
    val xmax = pts.groupBy("n_orders")
      .agg(max(col("min_cents")).as("ymax"))
    val frontier = graft.queries.TextOps
      .prefixMax(xmax, "n_orders", "ymax", "smax",
        includeCurrent = false, descending = true)
      .filter(col("smax").isNull || col("ymax") > col("smax"))
      .select("n_orders", "ymax")
    pts.join(frontier, Seq("n_orders"))
      .filter(col("min_cents") === col("ymax"))
      .select(col("c_custkey"), col("n_orders"), col("min_cents"))
      .orderBy(col("n_orders").desc, col("c_custkey"))
  }

  /** q144: time-weighted average (TWAP) over an irregular event series —
    * the metrics/finance aggregate where each observation counts for the
    * DURATION it was in force, not once: per user, Σ value·Δt / Σ Δt with
    * Δt the µs gap to the user's next event (the last observation has no
    * holding period and drops — the standard left-closed convention).
    * Δt comes from one `lead` over a per-user window (each group is one
    * user's events — bounded, never a global window); everything else is
    * a partial-agg groupBy on exact integers (cents × µs stays well
    * inside bigint: ≤ 1e4 · 2.6e12 per term), and the final average is
    * one double divide of identical bigints — IEEE-identical cross-engine.
    */
  val q144TimeWeightedAvg: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        expr("cast(floor(value * 100) as bigint)").as("cents"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dur_us", col("next_us") - col("us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_holds"),
           sum(col("dur_us")).as("held_us"),
           sum(col("cents") * col("dur_us")).as("weighted"))
      .withColumn("twa_cents",
        expr("cast(weighted as double) / cast(held_us as double)"))
      .orderBy("user_id")
  }

  /** q145: timezone conversion semantics — `from_utc_timestamp` /
    * `to_utc_timestamp` against IANA zones, pinned ACROSS the US
    * spring-forward boundary: the January fixture shifted by 69 days
    * spans 2024-03-10/11, so America/New_York flips EST(-300) → EDT(-240)
    * mid-corpus and the skipped 02:xx wall hour must never appear.
    * Asia/Tokyo (+540, no DST) is the control zone. The offset is derived
    * from the converted values themselves (µs delta), the local
    * date/hour pin the wall-clock fields, and the round trip back to UTC
    * must be exact (spring-forward only — no ambiguous fall-back times in
    * range). All per-row codegen, no shuffle before the output sort; both
    * engines read the same IANA tzdb, which is the point of the pin.
    */
  val q145Timezone: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("shifted", expr("ts + INTERVAL 69 DAYS"))
      .withColumn("ny", expr("from_utc_timestamp(shifted, 'America/New_York')"))
      .withColumn("tokyo", expr("from_utc_timestamp(shifted, 'Asia/Tokyo')"))
      .select(
        col("event_id"), col("shifted"), col("ny"),
        expr("cast((unix_micros(ny) - unix_micros(shifted)) div 60000000 as int)")
          .as("offset_min_ny"),
        expr("cast(date_format(ny, 'H') as int)").as("ny_hour"),
        expr("cast(ny as date)").as("ny_date"),
        expr("cast((unix_micros(tokyo) - unix_micros(shifted)) div 60000000 as int)")
          .as("offset_min_tokyo"),
        expr("to_utc_timestamp(ny, 'America/New_York') = shifted").as("rt_ok"))
      .orderBy("event_id")

  /** q146: `DataFrameNaFunctions` surface — `na.replace` (value remap),
    * `na.fill` (typed per-column defaults), and the `na.drop("any")`
    * predicate, pinned as data: nulls are planted deterministically
    * (`nullif` on modular slices of the fixture), then each API call's
    * effect is emitted per row. These are thin Catalyst rewrites (replace
    * → CASE, fill → coalesce, drop → IsNotNull filter), so the pin is
    * about SEMANTICS (replace-before-fill ordering, fill's type scoping,
    * drop's any-vs-all) — all whole-stage codegen, no shuffle before the
    * output sort.
    */
  val q146NaFuncs: Q = (s, d) => {
    val planted = Tables.events(s, d)
      .select(col("event_id"),
        expr("nullif(value, 6.55)").as("v"),
        expr("CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END").as("et"))
    val kept = planted.na.drop("any", Seq("v", "et"))
      .select(col("event_id"), lit(true).as("survives_drop"))
    planted
      .na.replace("et", Map("click" -> "tap"))
      .na.fill(Map("v" -> -1.0, "et" -> "unknown"))
      .join(kept, Seq("event_id"), "left")
      .select(col("event_id"), col("v"), col("et"),
        coalesce(col("survives_drop"), lit(false)).as("survives_drop"))
      .orderBy("event_id")
  }

  /** q148: relational division — "customers whose orders cover ALL order
    * priorities", the universal-quantification join (Codd's ÷) that
    * FOR ALL-style requirements compile to. Two independent spellings run
    * and must agree: (1) the scale spelling — one partial-agg
    * `countDistinct` per customer against the broadcast divisor
    * cardinality (the only corpus-scale work is one groupBy; the divisor
    * table is 5 rows); (2) the textbook double negation — customers with
    * NO missing (customer × priority) pair, via a broadcast cross join
    * against the divisor and two anti-joins. The `agrees` column pins
    * leg 2 ⊇ leg 1 row-by-row (the reverse inclusion holds by
    * construction: leg 2's anti-join can only ever drop customers).
    */
  val q148RelationalDivision: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("c"), col("o_orderpriority").as("p"))
    val pri = o.select("p").distinct()
    val nPri = pri.agg(count(lit(1)).as("np"))
    val leg1 = o.groupBy("c").agg(countDistinct(col("p")).as("n_priorities"))
      .crossJoin(broadcast(nPri))
      .filter(col("n_priorities") === col("np"))
      .select("c", "n_priorities")
    val missing = o.select("c").distinct().crossJoin(broadcast(pri))
      .join(o, Seq("c", "p"), "left_anti")
    val leg2 = o.select("c").distinct()
      .join(missing.select("c").distinct(), Seq("c"), "left_anti")
      .withColumn("by_double_neg", lit(true))
    leg1.join(leg2, Seq("c"), "left")
      .select(col("c").as("c_custkey"), col("n_priorities"),
        coalesce(col("by_double_neg"), lit(false)).as("agrees"))
      .orderBy("c_custkey")
  }

  /** q150: predicate-aggregate surface — `count_if` / `every` / `some` /
    * `any_value`, the boolean-reduction family q139's FILTER clause and
    * q142's bit aggregates sit beside. `any_value` is only deterministic
    * over a single-valued expression per group, so it aggregates a pure
    * function of the group key — exactly the legal use (the optimizer's
    * any_value is how Spark rewrites grouped-by-derived columns). All
    * four are partial-agg friendly boolean/count lattices.
    */
  val q150AggPredicates: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q150")
    s.sql(
      """SELECT o_orderstatus,
        |       cast(count_if(o_totalprice > 300000) as bigint) AS n_big,
        |       every(o_totalprice > 0) AS all_positive,
        |       some(o_totalprice > 400000) AS any_huge,
        |       any_value(upper(o_orderstatus)) AS status_up
        |FROM orders_q150 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** q155: exponentially weighted moving average (EWMA, α = 1/8) per
    * user — the recursive smoothing y_i = (1−α)·y_{i−1} + α·x_i that no
    * window frame can express (each value depends on ALL predecessors
    * with geometric decay). The batch spelling: per-user ordered fold —
    * `aggregate` over the ts-sorted value array, seeded with the first
    * observation (y₁ = x₁, the standard convention). Cross-engine
    * determinism: α = 1/8 and 7/8 are exact binary doubles, inputs are
    * exact integer cents, and both engines fold left over the SAME
    * sequence — every intermediate is the identical IEEE double. State
    * is per-user (bounded by a user's own event count, never the
    * corpus); the collect is the one legitimate per-key materialization,
    * same contract as t17's per-doc reconstruction.
    */
  val q155Ewma: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        expr("cast(floor(value * 100) as bigint)").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        expr("sort_array(collect_list(struct(us, event_id, cents)))").as("seq"))
      .withColumn("vals", expr("transform(seq, x -> x.cents)"))
      .withColumn("ewma", expr(
        """aggregate(slice(vals, 2, size(vals) - 1),
          |          cast(element_at(vals, 1) as double),
          |          (a, x) -> a * 0.875 + cast(x as double) * 0.125)""".stripMargin))
      .select(col("user_id"), col("n_events"), col("ewma"))
      .orderBy("user_id")

  /** q157: DAU/MAU stickiness — the engagement ratio every product
    * dashboard carries: per day, distinct active users ÷ the month's
    * distinct actives, as integer permille. Two partial-agg
    * countDistincts (per day, per month — Catalyst expands both to the
    * two-phase distinct aggregate) joined on month; the month side is a
    * ≤12-row broadcast. Exact integers end-to-end.
    */
  val q157Stickiness: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("user_id"), expr("cast(ts as date)").as("day"),
        expr("date_trunc('month', ts)").as("month"))
    val dau = e.groupBy("day", "month")
      .agg(countDistinct(col("user_id")).as("dau"))
    val mau = e.groupBy("month")
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(broadcast(mau), "month")
      .select(col("day"), col("dau"), col("mau"),
        expr("dau * 1000 div mau").as("stickiness_permille"))
      .orderBy("day")
  }

  /** q158: peak concurrency — the classic gauge query ("how many
    * 10-minute activity windows were simultaneously open, and when did
    * load peak"): every event opens an interval [ts, ts+10min), each
    * boundary becomes a +1/−1 delta, and the running sum over the GLOBAL
    * time order is the concurrency curve. The running sum is
    * [[TextOps.prefixSum]]'s range-partitioned two-pass scan over a
    * unique (us, delta-class, event_id) boundary key — the one shape
    * that makes a global-total-order scan survive 100 TB — and the
    * per-day peak + first-attaining instant is a partial-agg `max_by`.
    * Ends exit before starts at the same instant (half-open intervals),
    * encoded in the boundary key's sort.
    */
  /** q158's boundary total-order key over columns (us, delta, event_id):
    * 19-digit zero-pads (full positive-bigint width) so lexicographic
    * order equals (us, end-before-start, event_id) numeric order for
    * EVERY representable non-negative id/timestamp — lpad silently
    * truncates longer inputs, so any narrower pad is a latent ordering
    * corruption at scale.
    */
  val q158BoundaryKeyExpr: String =
    "concat(lpad(cast(us as string), 19, '0'), IF(delta = -1, '0', '1'), lpad(cast(event_id as string), 19, '0'))"

  /** The key's precondition, enforced LOUDLY in the row stage: for a
    * NEGATIVE us or event_id the zero-pad wraps the minus sign and
    * lexicographic order silently diverges from numeric order — the same
    * silent-corruption class as an undersized pad. `assert_true` fails
    * the job with this message instead; `coalesce(…, true)` keeps the
    * guard a filter predicate the optimizer cannot fold away.
    */
  val q158BoundaryGuardExpr: String =
    "coalesce(assert_true(us >= 0 AND event_id >= 0, " +
      "'q158 boundary key requires non-negative us/event_id " +
      "(lexicographic order = numeric order only there)'), true)"

  val q158PeakConcurrency: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), expr("unix_micros(ts)").as("us"))
    val bounds = ev.select(col("us"), lit(1L).as("delta"), col("event_id"))
      .unionByName(ev.select((col("us") + 600000000L).as("us"),
        lit(-1L).as("delta"), col("event_id")))
      // unique total-order key: instant, ends (−1) BEFORE starts (+1),
      // then event id — zero-padded decimal string (lexicographic ==
      // numeric; a packed bigint would overflow: µs-epoch × flags × ids
      // exceeds 2⁶³). Both pads are 19 digits — the full positive-bigint
      // width — because Spark's lpad silently TRUNCATES strings longer
      // than len: a narrower pad would corrupt the total order without
      // an error the day ids outgrow it (round-6 advice item 1; the
      // expression is a named constant so ExtrasSpec can order-test it
      // on full-width adversarial values).
      .filter(expr(Extras.q158BoundaryGuardExpr))
      .withColumn("bkey", expr(Extras.q158BoundaryKeyExpr))
    val curve = graft.queries.TextOps
      .prefixSum(bounds, "bkey", "delta", "conc", includeCurrent = true)
    curve
      .withColumn("day", expr("cast(timestamp_micros(us) as date)"))
      .groupBy("day")
      .agg(max_by(struct(col("conc"), col("us")),
        struct(col("conc"), negate(col("us")))).as("peak"))
      .select(col("day"), col("peak.conc").as("max_concurrent"),
        col("peak.us").as("at_us"))
      .orderBy("day")
  }

  /** q159: association pairs with lift — market-basket mining over
    * sessions: for every event-type pair, the number of sessions
    * containing both, and the lift numerator/denominator comparison
    * n_ab·N vs n_a·n_b as an exact integer verdict (`positive_assoc`)
    * plus the scaled lift itself (×1000, integer division). Baskets are
    * q52's 30-minute sessions; the distinct item set per basket is ≤ 5
    * types, so the within-basket pair fan-out is a constant ≤ 10 — the
    * bounded-basket regime where a relational self-join on the basket id
    * IS the scalable plan (no FP-growth needed until baskets are wide).
    * Three partial-agg censuses (pair, item, basket) and one broadcast
    * of the ≤5-row item counts.
    */
  val q159EventLift: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val baskets = Tables.events(s, d)
      .withColumn("prev_us", lag(expr("unix_micros(ts)"), 1).over(w))
      .withColumn("new_session",
        expr("IF(prev_us IS NULL OR unix_micros(ts) - prev_us > 1800000000, 1L, 0L)"))
      .withColumn("session_no", sum(col("new_session")).over(run))
      .select(concat_ws(":", col("user_id"), col("session_no")).as("bid"),
        col("event_type")).distinct()
    val nBaskets = baskets.select("bid").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val items = baskets.groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("n_t"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"), Seq("bid"))
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(items.select(col("t").as("t1"), col("n_t").as("n_t1"))), "t1")
      .join(broadcast(items.select(col("t").as("t2"), col("n_t").as("n_t2"))), "t2")
      .crossJoin(broadcast(nBaskets))
      .select(col("t1"), col("t2"), col("n_both"), col("n_t1"), col("n_t2"),
        expr("n_both * n_baskets * 1000 div (n_t1 * n_t2)").as("lift_x1000"),
        (col("n_both") * col("n_baskets") > col("n_t1") * col("n_t2"))
          .as("positive_assoc"))
      .orderBy("t1", "t2")
  }

  /** q160: maximum drawdown — per user over their signed event series
    * (value, debited for error events): the largest peak-to-trough drop
    * of the cumulative balance, the risk metric every account/portfolio
    * monitor computes. Three chained per-user window scans (cumulative
    * sum → running peak → max gap), each group bounded by that user's own
    * events; exact integer cents end to end, so the only cross-engine
    * question is the shared (ts, event_id) order.
    */
  val q160MaxDrawdown: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"),
        expr("IF(event_type = 'error', -1, 1) * cast(floor(value * 100) as bigint)")
          .as("delta"))
      .withColumn("bal", sum(col("delta")).over(run))
      .withColumn("peak", max(col("bal")).over(run))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("peak") - col("bal")).as("max_drawdown_cents"),
        max(col("bal")).as("peak_cents"))
      .orderBy("user_id")
  }

  /** q161: gaps and islands — contiguous runs in a sparse id set (here:
    * orderkeys with status 'F'), the classic sequence-reconciliation op
    * ("which id ranges are present / missing"). The textbook device is
    * id − row_number() — constant within an island — but a GLOBAL
    * row_number is the one shape the plan audit forbids, so the dense
    * rank comes from [[TextOps.prefixSum]]'s range-partitioned two-pass
    * count instead; islands are then one partial-agg groupBy on the
    * (id − rank) anchor. Each island's gap to the next comes from a
    * second prefixSum rank over the island table plus an equi-join on
    * rank+1 — islands can themselves be corpus-scale (up to n/2), so a
    * global `lead` window would be exactly the single-task shape the
    * plan audit forbids.
    */
  val q161GapsIslands: Q = (s, d) => {
    val ids = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("id")).distinct()
      .withColumn("one", lit(1L))
    val ranked = graft.queries.TextOps
      .prefixSum(ids, "id", "one", "rank", includeCurrent = true)
    val islands = ranked
      .groupBy((col("id") - col("rank")).as("anchor"))
      .agg(min(col("id")).as("run_start"), max(col("id")).as("run_end"),
           count(lit(1)).as("run_len"))
    val rankedIsl = graft.queries.TextOps
      .prefixSum(islands.withColumn("one", lit(1L)), "run_start", "one",
        "irank", includeCurrent = true)
    val next = rankedIsl.select((col("irank") - 1).as("irank"),
      col("run_start").as("next_start"))
    rankedIsl.join(next, Seq("irank"), "left")
      .select(col("run_start"), col("run_end"), col("run_len"),
        (col("next_start") - col("run_end") - 1).as("gap_to_next"))
      .orderBy("run_start")
  }

  /** q164: rolling distinct actives — per day, the distinct users seen
    * in the trailing 3-day window (the "rolling actives" metric between
    * q157's DAU and MAU). Distinct-over-sliding-windows is NOT
    * decomposable (a user active on two days must count once), so the
    * scalable spelling materializes the (user, day) presence set — one
    * partial-agg dedup — and EXPLODES each presence row to the ≤3 target
    * days it supports (constant fan-out, the d01-banding trick applied
    * to time), leaving one count-distinct per target day. No window
    * functions at all; every shuffle keys on (day, user).
    */
  val q164RollingActives: Q = (s, d) => {
    val present = Tables.events(s, d)
      .select(col("user_id"), expr("cast(ts as date)").as("day"))
      .distinct()
    val days = present.select(col("day").as("target_day")).distinct()
    present
      .withColumn("target_day",
        explode(expr("sequence(day, date_add(day, 2))")))
      .join(days, "target_day") // only real days emit rows
      .groupBy("target_day")
      .agg(countDistinct(col("user_id")).as("actives_3d"))
      .orderBy("target_day")
  }

  /** q165: arbitrary GROUPING SETS — the one grouping surface q66's
    * rollup and the cube pin don't reach: an explicit set list
    * ((status), (priority), ()) that is NEITHER a rollup prefix chain NOR
    * a full cube — the "independent dimension totals" report (each
    * dimension totaled on its own, plus the grand total, WITHOUT the
    * cross cells a cube would add). Plan shape is why this beats the
    * UNION ALL spelling an analyst would write: Spark compiles grouping
    * sets to ONE Expand (each input row duplicated once per set — 3×
    * here, metadata-bounded) feeding ONE partial-agg pass, so the fact
    * table is scanned once instead of once per set. grouping() flags
    * disambiguate subtotal NULLs from genuine NULL keys (q66's
    * discipline); floor-cents keeps the compare exact; explicit NULLS
    * FIRST because the engines' ASC defaults differ.
    */
  val q165GroupingSets: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("orders_q165")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       COUNT(1) AS n,
        |       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents,
        |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio
        |FROM orders_q165
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio,
        |         o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin)
  }

  /** q171: ISO week-year boundary — the classic reporting bug (YYYY vs
    * yyyy): the last days of December belong to ISO week 52/1 of the
    * WEEK-based year, which differs from the calendar year exactly at
    * year boundaries. The January fixture shifted back 3 days spans
    * 2023-12-29…: every row pins `extract(YEAROFWEEK)` (DuckDB
    * `isoyear`), ISO `weekofyear`, and the definitional arithmetic twin
    * — the ISO year IS the calendar year of that week's Thursday — with
    * an agreement flag. Per-row codegen only.
    */
  val q171IsoBoundary: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        expr("date_add(cast(ts as date), -3)").as("day"))
      .select(
        col("event_id"), col("day"),
        expr("cast(extract(YEAROFWEEK FROM day) as int)").as("iso_year"),
        expr("cast(weekofyear(day) as int)").as("iso_week"),
        expr("cast(year(date_add(day, 3 - weekday(day))) as int)")
          .as("thursday_year"),
        expr("extract(YEAROFWEEK FROM day) = year(date_add(day, 3 - weekday(day)))")
          .as("defs_agree"))
      .orderBy("event_id")

  /** q170: 3σ control chart — daily event-value totals flagged against
    * the whole series' mean ± 3σ, the ops-monitoring staple (alert when
    * a day's revenue leaves the control band). The flag is computed in
    * EXACT algebra — |n·x − S|² · n > 9 · (n·Q − S²) with S = Σx,
    * Q = Σx² over daily cents — with the squares in DECIMAL(38,0)
    * (bigint would overflow at (n·x−S)²·n; Spark decimals and DuckDB
    * HUGEINT are both exact, so the boolean can never straddle). One
    * daily partial-agg, one 3-value broadcast of the series stats, per-
    * row flag math.
    */
  val q170ControlChart: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(expr("cast(ts as date)").as("day"))
      .agg(sum(expr("cast(floor(value * 100) as bigint)")).as("x"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(expr("cast(x as decimal(38,0)) * cast(x as decimal(38,0))")).as("q"))
    daily.crossJoin(broadcast(stats))
      .select(col("day"), col("x"), col("n"), col("s"),
        expr("""(cast(n as decimal(38,0)) * cast(x as decimal(38,0))
               |   - cast(s as decimal(38,0)))
               |* (cast(n as decimal(38,0)) * cast(x as decimal(38,0))
               |   - cast(s as decimal(38,0))) * cast(n as decimal(38,0))
               |> 9 * (cast(n as decimal(38,0)) * q
               |       - cast(s as decimal(38,0)) * cast(s as decimal(38,0)))"""
          .stripMargin).as("out_of_band"))
      .orderBy("day")
  }

  /** q169: pivot∘unpivot round-trip identity — q35/q36 pin each
    * direction; this pins the CLOSURE property reshaping pipelines rely
    * on: melting a wide aggregate to long form and re-pivoting restores
    * it exactly (modulo the declared column order). The melt is q36's
    * stack-style unpivot, the re-pivot q35's declared-values pivot with a
    * `first` aggregate (each (key, metric) holds exactly one value — the
    * identity's precondition, guaranteed by the aggregate input). The
    * oracle recomputes the ORIGINAL wide table — any loss or duplication
    * in either reshape mismatches.
    */
  val q169PivotRoundtrip: Q = (s, d) => {
    val wide = Tables.orders(s, d).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("cast(floor(o_totalprice * 100) as bigint)")).as("cents"),
        countDistinct(col("o_custkey")).as("n_cust"))
    val long = wide.selectExpr("o_orderstatus",
      "stack(3, 'n_orders', n_orders, 'cents', cents, 'n_cust', n_cust) AS (metric, v)")
    long.groupBy("o_orderstatus")
      .pivot("metric", Seq("n_orders", "cents", "n_cust"))
      .agg(first(col("v")))
      .select(col("o_orderstatus"), col("n_orders"), col("cents"), col("n_cust"))
      .orderBy("o_orderstatus")
  }

  /** q168: longest active streak per user — consecutive-day runs (q161's
    * gaps-and-islands, KEYED): the engagement metric behind "7-day
    * streak" product features. Per-user day ranks come from the KEYED
    * range-partitioned prefix count (never a per-user row_number window
    * holding a power user's whole history... which would actually be
    * bounded here — but the keyed prefixSum costs the same and the
    * discipline is uniform), the day−rank anchor groups each run, and
    * the per-user winner is a partial-agg `max_by` with
    * earliest-streak tie-break (anchors increase in time within a user).
    */
  val q168LongestStreak: Q = (s, d) => {
    val present = Tables.events(s, d)
      .select(col("user_id"), expr("cast(ts as date)").as("day")).distinct()
      .withColumn("one", lit(1L))
      .withColumn("dnum", expr("cast(datediff(day, DATE '2024-01-01') as bigint)"))
    val ranked = graft.queries.TextOps.prefixSum(
      present, "dnum", "one", "rank",
      includeCurrent = true, keyCols = Seq("user_id"))
    ranked.withColumn("anchor", col("dnum") - col("rank"))
      .groupBy("user_id", "anchor")
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
      .groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        max_by(col("start_day"), struct(col("len"), negate(col("anchor"))))
          .as("streak_start"))
      .orderBy("user_id")
  }

  /** q167: bounce-rate report — per session ENTRY type: how many
    * sessions start with it, how many bounce (single-event sessions),
    * bounce rate in permille, and the mean session length ×100 — the
    * web-analytics table behind every landing-page decision. Session
    * assembly is q52's 30-minute rule; the per-session reduction is one
    * partial-agg groupBy with the entry event chosen by `min_by` on
    * (ts, event_id) — never a per-session sort.
    */
  val q167BounceRate: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_session",
        expr("IF(prev_us IS NULL OR us - prev_us > 1800000000, 1L, 0L)"))
      .withColumn("session_no", sum(col("new_session")).over(run))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_events"),
        min_by(col("event_type"), struct(col("us"), col("event_id")))
          .as("entry_type"))
    sess.groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("n_events")).as("sum_events"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        expr("n_bounces * 1000 div n_sessions").as("bounce_permille"),
        expr("sum_events * 100 div n_sessions").as("mean_len_x100"))
      .orderBy("entry_type")
  }

  /** q166: χ² independence cells — the per-cell contributions
    * (O−E)²/E of the status × priority contingency table (q128 builds
    * the table; this scores it — the profiling step that decides whether
    * two columns are independent enough to model separately). Exactness
    * discipline: E = r·c/N stays a RATIONAL (numerator emitted, never
    * divided), the contribution is computed as (O·N − r·c)²/(N·r·c) —
    * one double division of exact bigint products, IEEE-identical
    * cross-engine — and cells are emitted individually (summing doubles
    * would reintroduce order dependence). Three partial-agg censuses
    * (cells, rows, columns) with the marginal tables broadcast.
    */
  val q166Chi2Cells: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"))
    val cells = o.groupBy("st", "pr").agg(count(lit(1)).as("obs"))
    val rows = o.groupBy("st").agg(count(lit(1)).as("r"))
    val cols = o.groupBy("pr").agg(count(lit(1)).as("c"))
    val n = o.agg(count(lit(1)).as("n"))
    cells.join(broadcast(rows), "st").join(broadcast(cols), "pr")
      .crossJoin(broadcast(n))
      .select(col("st"), col("pr"), col("obs"),
        (col("r") * col("c")).as("expected_num"), col("n").as("expected_den"),
        expr("""cast((obs * n - r * c) as double) * cast((obs * n - r * c) as double)
               |/ (cast(n as double) * cast(r as double) * cast(c as double))"""
          .stripMargin).as("contrib"))
      .orderBy("st", "pr")
  }

  /** q163: NULL ordering semantics — the classic cross-engine trap:
    * Spark's default is NULLS FIRST on ASC (and last on DESC), DuckDB's
    * is NULLS LAST — silently different page-1 results for any sorted
    * report with null keys. The pin: planted nulls ordered under
    * EXPLICIT placements that go AGAINST both defaults (ASC NULLS LAST,
    * DESC NULLS FIRST) — and since the driver's compare is row-order-
    * sensitive, the sort order itself is the assertion. A grouped leg
    * rides along pinning that NULL forms its own group in both engines.
    */
  val q163NullOrdering: Q = (s, d) => {
    val planted = Tables.events(s, d)
      .select(col("event_id"),
        expr("CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END").as("et"),
        expr("nullif(value, 6.55)").as("v"))
    val counts = planted.groupBy(col("et").as("cet"))
      .agg(count(lit(1)).as("n_in_group"),
           count(col("v")).as("n_nonnull_v"))
    planted.join(counts, col("et") <=> col("cet"), "left")
      .select(col("event_id"), col("et"), col("v"),
        col("n_in_group"), col("n_nonnull_v"))
      .orderBy(col("et").asc_nulls_last, col("v").desc_nulls_first,
        col("event_id").asc)
  }

  /** q162: percent-of-parent drilldown — revenue shares down the
    * region → nation hierarchy (each nation's share of its region, each
    * region's share of the grand total), the BI drilldown every rollup
    * report renders. One fact aggregation (customer→nation revenue via
    * the orders join), then two metadata-scale re-aggregations (nations,
    * regions) joined back by broadcast — the parent totals are ≤25-row
    * tables, so shares cost nothing beyond the single fact pass. Integer
    * cents and permille shares end-to-end.
    */
  val q162PctOfParent: Q = (s, d) => {
    val natRev = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("n_nationkey"))
      .agg(sum(expr("cast(floor(o_totalprice * 100) as bigint)")).as("nat_cents"))
      .join(broadcast(Tables.nation(s, d)), "n_nationkey")
    val regRev = natRev.groupBy(col("n_regionkey"))
      .agg(sum(col("nat_cents")).as("reg_cents"))
    val total = regRev.agg(sum(col("reg_cents")).as("total_cents"))
    natRev
      .join(broadcast(regRev), "n_regionkey")
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .crossJoin(broadcast(total))
      .select(col("r_name"), col("n_name"), col("nat_cents"),
        expr("nat_cents * 1000 div reg_cents").as("share_of_region_permille"),
        col("reg_cents"),
        expr("reg_cents * 1000 div total_cents").as("region_share_permille"))
      .orderBy("r_name", "n_name")
  }

  /** q156: top session paths — the clickstream-analysis staple: sessions
    * by q52's 30-minute-gap rule, each session rendered as its ordered
    * event-type path with CONSECUTIVE repeats collapsed (view→view→click
    * reads "view>click" — the navigation shape, not the dwell count),
    * then the 20 most common paths with session counts. Per-session
    * state is that session's own events (t17's bounded-materialization
    * contract); the path census is one partial-agg groupBy on the path
    * string, and the global top-20 is TakeOrderedAndProject — a per-
    * partition heap + k-row driver merge, never a global sort.
    */
  val q156TopPaths: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables.events(s, d)
      .withColumn("prev_us", lag(expr("unix_micros(ts)"), 1).over(w))
      .withColumn("new_session",
        expr("IF(prev_us IS NULL OR unix_micros(ts) - prev_us > 1800000000, 1L, 0L)"))
      .withColumn("session_no", sum(col("new_session")).over(run))
    val paths = sess
      .groupBy("user_id", "session_no")
      .agg(expr("sort_array(collect_list(struct(unix_micros(ts) AS us, event_id, event_type)))")
        .as("seq"))
      .withColumn("path", expr(
        """array_join(filter(transform(seq, (x, i) ->
          |  IF(i = 0 OR x.event_type != seq[i - 1].event_type,
          |     x.event_type, NULL)), x -> x IS NOT NULL), '>')""".stripMargin))
    paths.groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(20)
  }

  /** The k thresholds q198 sweeps — the re-identification bar a release
    * policy picks from this table.
    */
  private val KAnonThresholds = Seq(2, 5, 10)

  /** q198: K-ANONYMITY audit — the re-identification risk report a
    * governance gate reads before releasing event data (the privacy twin
    * of q106's quality expectations, and the measurement side of the
    * round's delete/tombstone machinery: deletion handles known ids,
    * k-anonymity measures whether the REST re-identifies): each user's
    * quasi-identifier tuple is derived from behavior alone — first active
    * day (epoch-day integer), activity band (bit-length of the event
    * count — the integer log2 bucket, `length(bin(n))` in both engines),
    * and modal event type (tie → lexicographically first, d33's election
    * discipline) — then users collapse into QI equivalence classes and
    * the report sweeps k ∈ {2,5,10}: class count, classes below k, users
    * at risk (members of a sub-k class) and the risk share in basis
    * points. Scale shape: two user-keyed partial-agg groupBys (count +
    * min, then the modal argmax over (user, type) counts), one
    * class-keyed groupBy over O(users) narrow rows, and a 3-row sweep
    * over the O(classes) table — integer math end to end, no windows.
    */
  val q198KAnonymity: Q = (s, d) => {
    // FLOOR division (pmod-adjusted), not `div`: Spark's div truncates
    // toward zero while the DuckDB oracle's `//` floors, so a pre-1970
    // timestamp would bucket one day apart between the engines. pmod is
    // non-negative, so (us − pmod) is an exact multiple and the div exact.
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 86400000000))" +
          " div 86400000000").as("day"))
    val base = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("day").as("first_day"))
      .withColumn("nbits", expr("length(bin(n))"))
    val modal = ev.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      .agg(min_by(col("event_type"),
        struct(negate(col("cnt")), col("event_type"))).as("modal_type"))
    // one materialized class table feeds all three k rows (at 100 TB this
    // is a written table the sweep re-reads, not three corpus scans)
    val classes = base.join(modal, "user_id")
      .groupBy("first_day", "nbits", "modal_type")
      .agg(count(lit(1)).as("class_size"))
      .localCheckpoint()
    KAnonThresholds.map { k =>
      classes.agg(
        lit(k).as("k"),
        count(lit(1)).as("n_classes"),
        sum(when(col("class_size") < k, lit(1)).otherwise(lit(0)))
          .as("classes_at_risk"),
        sum(when(col("class_size") < k, col("class_size")).otherwise(lit(0L)))
          .as("users_at_risk"),
        expr(s"sum(IF(class_size < $k, class_size, 0L)) * 10000" +
          " div sum(class_size)").as("risk_bp"))
    }.reduce(_.unionByName(_)).orderBy("k")
  }

  /** q199: RETENTION-PLAN report — the capacity/compliance answer before
    * a time-based delete (m15 plans the chunk-store GC; this plans the
    * event-log trim; s39 executes): each event type carries a
    * deterministic retention window (days, derived from the type name so
    * both engines agree without a config table), the cutoff is the
    * corpus's max timestamp minus the window (epoch-µs integer — a
    * relative cutoff keeps the report stable across fixture vintages),
    * and the report emits per type the window, the cutoff, rows to
    * delete vs keep, the distinct affected days, and the deletable span.
    * Scale shape: the global max rides a one-row broadcast cross join
    * (the grand-total pattern), then ONE partial-agg groupBy over
    * O(types) keys with conditional aggregates — the corpus is scanned
    * once, nothing corpus-scale shuffles.
    */
  val q199RetentionPlan: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_type"), expr("unix_micros(ts)").as("us"))
    val maxUs = ev.agg(max("us").as("max_us"))
    ev.crossJoin(broadcast(maxUs))
      .withColumn("retention_days",
        expr("cast(5 + (length(event_type) % 3) * 5 as bigint)"))
      .withColumn("cutoff_us",
        col("max_us") - col("retention_days") * lit(86400000000L))
      .groupBy("event_type", "retention_days", "cutoff_us")
      .agg(
        sum(when(col("us") < col("cutoff_us"), lit(1L)).otherwise(lit(0L)))
          .as("rows_to_delete"),
        sum(when(col("us") >= col("cutoff_us"), lit(1L)).otherwise(lit(0L)))
          .as("rows_to_keep"),
        // floor-div (see q198): parity with DuckDB `//` for pre-epoch us.
        countDistinct(when(col("us") < col("cutoff_us"),
          expr("(us - pmod(us, 86400000000)) div 86400000000")))
          .as("affected_days"),
        min(when(col("us") < col("cutoff_us"), col("us"))).as("earliest_us"),
        max(when(col("us") < col("cutoff_us"), col("us"))).as("latest_us"))
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = Map(
    "q198_k_anonymity"       -> q198KAnonymity,
    "q199_retention_plan"    -> q199RetentionPlan,
    "q148_relational_division" -> q148RelationalDivision,
    "q155_ewma"              -> q155Ewma,
    "q156_top_paths"         -> q156TopPaths,
    "q157_stickiness"        -> q157Stickiness,
    "q158_peak_concurrency"  -> q158PeakConcurrency,
    "q159_event_lift"        -> q159EventLift,
    "q160_max_drawdown"      -> q160MaxDrawdown,
    "q161_gaps_islands"      -> q161GapsIslands,
    "q162_pct_of_parent"     -> q162PctOfParent,
    "q163_null_ordering"     -> q163NullOrdering,
    "q164_rolling_actives"   -> q164RollingActives,
    "q165_grouping_sets"     -> q165GroupingSets,
    "q166_chi2_cells"        -> q166Chi2Cells,
    "q167_bounce_rate"       -> q167BounceRate,
    "q168_longest_streak"    -> q168LongestStreak,
    "q169_pivot_roundtrip"   -> q169PivotRoundtrip,
    "q170_control_chart"     -> q170ControlChart,
    "q171_iso_boundary"      -> q171IsoBoundary,
    "q172_scd2_join"         -> q172Scd2Join,
    "q173_bom_rollup"        -> q173BomRollup,
    "q174_frame_defaults"    -> q174FrameDefaults,
    "q175_quantile_normalize" -> q175QuantileNormalize,
    "q176_tpch_q18"          -> q176TpchQ18,
    "q177_tpch_q21"          -> q177TpchQ21,
    "q181_tpch_q7"           -> q181TpchQ7,
    "q182_tpch_q8"           -> q182TpchQ8,
    "q183_tpch_q19"          -> q183TpchQ19,
    "q184_tpch_q22"          -> q184TpchQ22,
    "q186_tpch_q6"           -> q186TpchQ6,
    "q187_tpch_q4"           -> q187TpchQ4,
    "q188_tpch_q9"           -> q188TpchQ9,
    "q189_tpch_q12"          -> q189TpchQ12,
    "q190_tpch_q14"          -> q190TpchQ14,
    "q191_tpch_q13"          -> q191TpchQ13,
    "q192_tpch_q15"          -> q192TpchQ15,
    "q193_tpch_q17"          -> q193TpchQ17,
    "q194_tpch_q2"           -> q194TpchQ2,
    "q195_tpch_q11"          -> q195TpchQ11,
    "q196_tpch_q16"          -> q196TpchQ16,
    "q197_tpch_q20"          -> q197TpchQ20,
    "q178_groups_frame"      -> q178GroupsFrame,
    "q179_layout_compare"     -> q179LayoutCompare,
    "q180_hilbert_curve"     -> q180HilbertCurve,
    "q150_agg_predicates"    -> q150AggPredicates,
    "q151_csv_quoting"       -> q151CsvQuoting,
    "q152_unicode"           -> q152Unicode,
    "q144_time_weighted_avg" -> q144TimeWeightedAvg,
    "q145_timezone"          -> q145Timezone,
    "q146_na_funcs"          -> q146NaFuncs,
    "q141_binary_codec"      -> q141BinaryCodec,
    "q142_bitwise_agg"       -> q142BitwiseAgg,
    "q143_skyline"           -> q143Skyline,
    "q139_filter_clause"     -> q139FilterClause,
    "q140_multi_col_in"      -> q140MultiColIn,
    "q137_tpch_q5"           -> q137TpchQ5,
    "q138_pagination"        -> q138Pagination,
    "q136_execute_immediate" -> q136ExecuteImmediate,
    "q120_linreg"            -> q120LinReg,
    "q122_sql_script"        -> q122SqlScript,
    "q125_incremental_mv"    -> q125IncrementalMv,
    "q126_gini_impurity"     -> q126GiniImpurity,
    "q127_time_range_frame"  -> q127TimeRangeFrame,
    "q128_crosstab"          -> q128Crosstab,
    "q131_tpch_q3"           -> q131TpchQ3,
    "q132_tpch_q10"          -> q132TpchQ10,
    "q133_tvf_suite"         -> q133TvfSuite,
    "q134_identifier"        -> q134Identifier,
    "q135_cohort_retention"  -> q135CohortRetention,
    "q118_transition_matrix" -> q118TransitionMatrix,
    "q116_calendar_spine"    -> q116CalendarSpine,
    "q115_benford_audit"     -> q115BenfordAudit,
    "q113_not_in_nulls"      -> q113NotInNulls,
    "q114_cumulative_distinct" -> q114CumulativeDistinct,
    "q112_reaggregate"       -> q112Reaggregate,
    "q110_merge_upsert"      -> q110MergeUpsert,
    "q111_scd2"              -> q111Scd2,
    "q107_pipe_syntax"       -> q107PipeSyntax,
    "q108_session_variable"  -> q108SessionVariable,
    "q109_collation"         -> q109Collation,
    "q104_funnel"            -> q104Funnel,
    "q105_named_window"      -> q105NamedWindow,
    "q106_constraint_audit"  -> q106ConstraintAudit,
    "q102_set_ops_all"       -> q102SetOpsAll,
    "q103_lateral_alias"     -> q103LateralAlias,
    "q100_group_order_all"   -> q100GroupOrderAll,
    "q101_listagg"           -> q101Listagg,
    "q78_recursive_cte"      -> q78RecursiveCte,
    "q79_gap_fill"           -> q79GapFill,
    "q76_corr"               -> q76Corr,
    "q73_join_right"         -> q73JoinRight,
    "q74_agg_variance"       -> q74AggVariance,
    "q75_null_safe_eq"       -> q75NullSafeEq,
    "q72_typed_ds"           -> q72TypedDataset,
    "q71_pct_of_total"       -> q71PctOfTotal,
    "q68_csv_roundtrip"      -> q68CsvRoundtrip,
    "q69_json_roundtrip"     -> q69JsonRoundtrip,
    "q90_text_roundtrip"     -> q90TextRoundtrip,
    "q91_cdc_apply"          -> q91CdcApply,
    "q92_explode_outer"      -> q92ExplodeOuter,
    "q97_cogroup"            -> q97Cogroup,
    "q81_orc_roundtrip"      -> q81OrcRoundtrip,
    "q82_exists_subquery"    -> q82ExistsSubquery,
    "q83_xml_roundtrip"      -> q83XmlRoundtrip,
    "q84_variant"            -> q84Variant,
    "q85_map_hofs"           -> q85MapHofs,
    "q70_keep_latest"        -> q70KeepLatest,
    "q67_union_by_name"      -> q67UnionByName,
    "q63_histogram"          -> q63Histogram,
    "q64_profile"            -> q64Profile,
    "q65_lateral_join"       -> q65LateralJoin,
    "q66_grouping_id"        -> q66GroupingId,
    "q54_map_funcs"          -> q54MapFuncs,
    "q56_hof_funcs"          -> q56HofFuncs,
    "q57_regex_funcs"        -> q57RegexFuncs,
    "q58_bitwise"            -> q58Bitwise,
    "q59_date_arith"         -> q59DateArith,
    "q60_join_salted"        -> q60JoinSalted,
    "q61_window_range_frame" -> q61WindowRangeFrame,
    "q62_mode_argmax"        -> q62ModeArgmax)

  val oracles: Map[String, String] = Map(
    // q198: the modal-type election spelled as a deterministic
    // row_number window; the activity band via the same length(bin(n))
    "q198_k_anonymity" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day
         |  FROM events),
         |base AS (
         |  SELECT user_id, COUNT(*) AS n, MIN(day) AS first_day,
         |         length(bin(COUNT(*))) AS nbits
         |  FROM ev GROUP BY user_id),
         |modal AS (
         |  SELECT user_id, event_type AS modal_type
         |  FROM (SELECT user_id, event_type, COUNT(*) AS cnt
         |        FROM ev GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (PARTITION BY user_id
         |                             ORDER BY cnt DESC, event_type ASC) = 1),
         |classes AS (
         |  SELECT first_day, nbits, modal_type, COUNT(*) AS class_size
         |  FROM base JOIN modal USING (user_id)
         |  GROUP BY 1, 2, 3),
         |ks AS (SELECT unnest([${KAnonThresholds.mkString(", ")}]) AS k)
         |SELECT CAST(k AS INT) AS k,
         |       CAST(COUNT(*) AS BIGINT) AS n_classes,
         |       CAST(SUM(CASE WHEN class_size < k THEN 1 ELSE 0 END) AS BIGINT)
         |         AS classes_at_risk,
         |       CAST(SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END) AS BIGINT)
         |         AS users_at_risk,
         |       CAST(SUM(CASE WHEN class_size < k THEN class_size ELSE 0 END) * 10000
         |            // SUM(class_size) AS BIGINT) AS risk_bp
         |FROM classes CROSS JOIN ks GROUP BY k ORDER BY k""".stripMargin,
    // q199: the same relative-cutoff integer arithmetic; conditional
    // aggregates mirror the Spark CASE sums
    "q199_retention_plan" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |         CAST(5 + (length(event_type) % 3) * 5 AS BIGINT)
        |           AS retention_days
        |  FROM events),
        |m AS (SELECT MAX(us) AS max_us FROM ev)
        |SELECT event_type, retention_days,
        |       max_us - retention_days * 86400000000 AS cutoff_us,
        |       CAST(SUM(CASE WHEN us < max_us - retention_days * 86400000000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS rows_to_delete,
        |       CAST(SUM(CASE WHEN us >= max_us - retention_days * 86400000000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS rows_to_keep,
        |       CAST(COUNT(DISTINCT CASE WHEN us < max_us - retention_days * 86400000000
        |                                THEN us // 86400000000 END) AS BIGINT)
        |         AS affected_days,
        |       MIN(CASE WHEN us < max_us - retention_days * 86400000000
        |                THEN us END) AS earliest_us,
        |       MAX(CASE WHEN us < max_us - retention_days * 86400000000
        |                THEN us END) AS latest_us
        |FROM ev CROSS JOIN m
        |GROUP BY event_type, retention_days, cutoff_us
        |ORDER BY event_type""".stripMargin,
    "q141_binary_codec" ->
      """SELECT doc_id,
        |       to_base64(encode(substr(text, 1, 24))) AS b64,
        |       hex(encode(substr(text, 1, 12))) AS hx,
        |       octet_length(from_base64(to_base64(encode(text)))) AS rt
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q152: same codepoint semantics spelled natively (strpos == instr;
    // encode() == encode(_, 'UTF-8')).
    "q152_unicode" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'é-' || CAST(doc_id % 10 AS VARCHAR) || '-日本語-🎉-Ω-'
        |           || substr(text, 1, 8) AS u
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(length(u) AS INT) AS n_codepoints,
        |       CAST(octet_length(encode(u)) AS INT) AS n_bytes,
        |       substr(u, 4, 7) AS sub_cp,
        |       reverse(substr(u, 1, 9)) AS rev_cp,
        |       CAST(strpos(u, '🎉') AS INT) AS emoji_at,
        |       upper(substr(u, 1, 3)) AS up_accent
        |FROM u ORDER BY doc_id""".stripMargin,
    // q151: the oracle recomputes the PLANTED values — any quoting-layer
    // mangling on the Spark side shows up as a hash mismatch.
    "q151_csv_quoting" ->
      """SELECT c_custkey,
        |       c_name || CASE CAST(c_custkey % 5 AS INT)
        |         WHEN 0 THEN ', Inc.'
        |         WHEN 1 THEN ' "quoted"'
        |         WHEN 2 THEN ' back\slash'
        |         WHEN 3 THEN ' line1' || chr(10) || 'line2'
        |         ELSE '  padded  ' END AS tricky
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // q175: the window spelling of the same midrank percentile.
    "q175_quantile_normalize" ->
      """WITH v AS (SELECT o_orderkey,
        |                  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders),
        |h AS (SELECT cents, COUNT(1) AS c FROM v GROUP BY 1),
        |cm AS (SELECT cents, c,
        |              CAST(COALESCE(SUM(c) OVER (ORDER BY cents
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |                AS BIGINT) AS below
        |       FROM h),
        |n AS (SELECT COUNT(1) AS n FROM v)
        |SELECT o_orderkey, v.cents, below AS n_below, c AS n_equal,
        |       (2 * below + c + 1) * 500 // n.n AS pct_permille
        |FROM v JOIN cm USING (cents), n
        |ORDER BY o_orderkey""".stripMargin,
    // q174: both engines implement the SQL-standard RANGE default — the
    // oracle spells the identical windows.
    "q174_frame_defaults" ->
      """SELECT event_id, user_id,
        |       count(1) OVER
        |         (PARTITION BY user_id ORDER BY CAST(ts AS DATE))
        |         AS n_range_default,
        |       count(1) OVER
        |         (PARTITION BY user_id ORDER BY CAST(ts AS DATE), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS n_rows,
        |       last_value(event_id) OVER
        |         (PARTITION BY user_id ORDER BY CAST(ts AS DATE), event_id)
        |         AS last_default_tiefree,
        |       first_value(event_id) OVER
        |         (PARTITION BY user_id ORDER BY CAST(ts AS DATE), event_id)
        |         AS first_default
        |FROM events ORDER BY event_id""".stripMargin,
    // q173: identical recursion (DuckDB // is Spark's DIV).
    "q173_bom_rollup" ->
      """WITH RECURSIVE walk(node, root, depth, mult) AS (
        |  SELECT c_custkey, c_custkey, 0,
        |         CAST(c_custkey % 7 + 2 AS BIGINT)
        |  FROM customer WHERE c_custkey < 10
        |  UNION ALL
        |  SELECT c.c_custkey, w.root, w.depth + 1,
        |         w.mult * CAST(c.c_custkey % 7 + 2 AS BIGINT)
        |  FROM customer c JOIN walk w ON c.c_custkey // 10 = w.node
        |  WHERE c.c_custkey >= 10)
        |SELECT node, root, CAST(depth AS INT) AS depth, mult
        |FROM walk ORDER BY node""".stripMargin,
    // q172: the same interval predicate; disjoint versions make the match
    // unique.
    "q172_scd2_join" ->
      """WITH dim AS (
        |  SELECT user_id AS d_user, event_id AS version_id,
        |         value AS version_value, epoch_us(ts) AS valid_from_us,
        |         lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                  ORDER BY epoch_us(ts), event_id)
        |           AS valid_to_us
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS us
        |      FROM events WHERE event_type = 'click')
        |SELECT click_id, user_id, version_id, version_value
        |FROM f JOIN dim ON user_id = d_user
        |               AND us >= valid_from_us
        |               AND (valid_to_us IS NULL OR us < valid_to_us)
        |ORDER BY click_id""".stripMargin,
    // q171: isoyear == YEAROFWEEK; isodow(1=Mon) mirrors weekday(0=Mon)+1.
    "q171_iso_boundary" ->
      """SELECT event_id, day,
        |       CAST(isoyear(day) AS INT) AS iso_year,
        |       CAST(weekofyear(day) AS INT) AS iso_week,
        |       CAST(year(day + CAST(4 - isodow(day) AS INT)) AS INT) AS thursday_year,
        |       isoyear(day) = year(day + CAST(4 - isodow(day) AS INT)) AS defs_agree
        |FROM (SELECT event_id, CAST(ts AS DATE) - 3 AS day FROM events)
        |ORDER BY event_id""".stripMargin,
    // q170: HUGEINT keeps DuckDB's squares exact like Spark's
    // DECIMAL(38,0); identical cross-multiplied inequality.
    "q170_control_chart" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |st AS (SELECT COUNT(1) AS n, CAST(SUM(x) AS BIGINT) AS s,
        |              SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS q
        |       FROM daily)
        |SELECT day, x, n, s,
        |       (CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - CAST(s AS HUGEINT))
        |       * (CAST(n AS HUGEINT) * CAST(x AS HUGEINT) - CAST(s AS HUGEINT))
        |       * CAST(n AS HUGEINT)
        |       > 9 * (CAST(n AS HUGEINT) * q
        |              - CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS out_of_band
        |FROM daily, st ORDER BY day""".stripMargin,
    // q169: the oracle is the ORIGINAL wide aggregate — the round trip
    // must be lossless.
    "q169_pivot_roundtrip" ->
      """SELECT o_orderstatus,
        |       COUNT(1) AS n_orders,
        |       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents,
        |       COUNT(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // q168: keyed islands; winner = (len DESC, anchor ASC) — max_by's
    // (len, -anchor) struct order.
    "q168_longest_streak" ->
      """WITH p AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |             (day - DATE '2024-01-01') AS dnum,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY day) AS rank
        |      FROM p),
        |i AS (SELECT user_id, dnum - rank AS anchor, COUNT(1) AS len,
        |             MIN(day) AS start_day
        |      FROM r GROUP BY 1, 2),
        |k AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY len DESC, anchor ASC) AS rn
        |      FROM i)
        |SELECT user_id, len AS longest_streak, start_day AS streak_start
        |FROM k WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // q167: same session rule; entry = rank-1 row per session.
    "q167_bounce_rate" ->
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s2 AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                      THEN 1 ELSE 0 END AS ns FROM s),
        |s3 AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS session_no
        |       FROM s2),
        |entry AS (
        |  SELECT user_id, session_no, event_type AS entry_type FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, session_no
        |                                 ORDER BY us, event_id) AS rn
        |    FROM s3) WHERE rn = 1),
        |sess AS (
        |  SELECT user_id, session_no, COUNT(1) AS n_events
        |  FROM s3 GROUP BY 1, 2)
        |SELECT entry_type, COUNT(1) AS n_sessions,
        |       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_bounces,
        |       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000
        |            // COUNT(1) AS BIGINT) AS bounce_permille,
        |       CAST(SUM(n_events) * 100 // COUNT(1) AS BIGINT) AS mean_len_x100
        |FROM sess JOIN entry USING (user_id, session_no)
        |GROUP BY entry_type ORDER BY entry_type""".stripMargin,
    // q166: same censuses; the contribution is the same single double
    // division of exact integer products.
    "q166_chi2_cells" ->
      """WITH o AS (SELECT o_orderstatus AS st, o_orderpriority AS pr FROM orders),
        |cl AS (SELECT st, pr, COUNT(1) AS obs FROM o GROUP BY 1, 2),
        |r AS (SELECT st, COUNT(1) AS r FROM o GROUP BY 1),
        |c AS (SELECT pr, COUNT(1) AS c FROM o GROUP BY 1),
        |n AS (SELECT COUNT(1) AS n FROM o)
        |SELECT cl.st, cl.pr, cl.obs,
        |       CAST(r.r * c.c AS BIGINT) AS expected_num,
        |       n.n AS expected_den,
        |       CAST((cl.obs * n.n - r.r * c.c) AS DOUBLE)
        |         * CAST((cl.obs * n.n - r.r * c.c) AS DOUBLE)
        |         / (CAST(n.n AS DOUBLE) * CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE))
        |         AS contrib
        |FROM cl JOIN r USING (st) JOIN c USING (pr), n
        |ORDER BY st, pr""".stripMargin,
    // q164: the oracle joins each day to its 3-day lookback directly.
    "q164_rolling_actives" ->
      """WITH p AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |d AS (SELECT DISTINCT day AS target_day FROM p)
        |SELECT target_day, COUNT(DISTINCT user_id) AS actives_3d
        |FROM d JOIN p ON p.day BETWEEN target_day - 2 AND target_day
        |GROUP BY target_day ORDER BY target_day""".stripMargin,
    // q163: IS NOT DISTINCT FROM is the null-safe join twin; the explicit
    // NULLS placements match the Spark side against both engines'
    // (different) defaults.
    "q163_null_ordering" ->
      """WITH planted AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS et,
        |         nullif(value, 6.55) AS v
        |  FROM events),
        |c AS (SELECT et, COUNT(1) AS n_in_group, COUNT(v) AS n_nonnull_v
        |      FROM planted GROUP BY et)
        |SELECT p.event_id, p.et, p.v, c.n_in_group, c.n_nonnull_v
        |FROM planted p LEFT JOIN c ON p.et IS NOT DISTINCT FROM c.et
        |ORDER BY p.et ASC NULLS LAST, p.v DESC NULLS FIRST, p.event_id ASC""".stripMargin,
    // q162: same hierarchy math, inline spelling.
    "q162_pct_of_parent" ->
      """WITH nr AS (
        |  SELECT c_nationkey AS nk,
        |         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |           AS nat_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |n2 AS (SELECT nr.nk, n.n_name, n.n_regionkey, nr.nat_cents
        |       FROM nr JOIN nation n ON n.n_nationkey = nr.nk),
        |rr AS (SELECT n_regionkey, CAST(SUM(nat_cents) AS BIGINT) AS reg_cents
        |       FROM n2 GROUP BY 1),
        |t AS (SELECT CAST(SUM(reg_cents) AS BIGINT) AS total_cents FROM rr)
        |SELECT r.r_name, n2.n_name, n2.nat_cents,
        |       n2.nat_cents * 1000 // rr.reg_cents AS share_of_region_permille,
        |       rr.reg_cents,
        |       rr.reg_cents * 1000 // t.total_cents AS region_share_permille
        |FROM n2 JOIN rr USING (n_regionkey)
        |        JOIN region r ON r.r_regionkey = n2.n_regionkey, t
        |ORDER BY r.r_name, n2.n_name""".stripMargin,
    // q160: the same three chained per-user scans, window spelling.
    "q160_max_drawdown" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         (CASE WHEN event_type = 'error' THEN -1 ELSE 1 END)
        |           * CAST(FLOOR(value * 100) AS BIGINT) AS delta
        |  FROM events),
        |b AS (
        |  SELECT user_id, us, event_id,
        |         CAST(SUM(delta) OVER w AS BIGINT) AS bal
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |p AS (
        |  SELECT user_id,
        |         bal,
        |         CAST(MAX(bal) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
        |  FROM b)
        |SELECT user_id, COUNT(1) AS n_events,
        |       CAST(MAX(peak - bal) AS BIGINT) AS max_drawdown_cents,
        |       CAST(MAX(bal) AS BIGINT) AS peak_cents
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q161: the textbook id - row_number anchor (the oracle may window
    // globally); gap via lead.
    "q161_gaps_islands" ->
      """WITH ids AS (
        |  SELECT DISTINCT o_orderkey AS id FROM orders
        |  WHERE o_orderstatus = 'F'),
        |r AS (SELECT id, row_number() OVER (ORDER BY id) AS rank FROM ids),
        |isl AS (
        |  SELECT MIN(id) AS run_start, MAX(id) AS run_end,
        |         COUNT(1) AS run_len
        |  FROM r GROUP BY id - rank)
        |SELECT run_start, run_end, run_len,
        |       lead(run_start) OVER (ORDER BY run_start) - run_end - 1
        |         AS gap_to_next
        |FROM isl ORDER BY run_start""".stripMargin,
    // q159: same session rule, same three censuses; lift in exact
    // integer cross-multiplication.
    "q159_event_lift" ->
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s2 AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                      THEN 1 ELSE 0 END AS ns FROM s),
        |s3 AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS session_no
        |       FROM s2),
        |b AS (SELECT DISTINCT user_id || ':' || CAST(session_no AS VARCHAR) AS bid,
        |                      event_type
        |      FROM s3),
        |nb AS (SELECT COUNT(DISTINCT bid) AS n_baskets FROM b),
        |it AS (SELECT event_type AS t, COUNT(1) AS n_t FROM b GROUP BY 1),
        |pr AS (SELECT a.event_type AS t1, bb.event_type AS t2, COUNT(1) AS n_both
        |       FROM b a JOIN b bb ON a.bid = bb.bid
        |                         AND a.event_type < bb.event_type
        |       GROUP BY 1, 2)
        |SELECT t1, t2, n_both, i1.n_t AS n_t1, i2.n_t AS n_t2,
        |       n_both * n_baskets * 1000 // (i1.n_t * i2.n_t) AS lift_x1000,
        |       n_both * n_baskets > i1.n_t * i2.n_t AS positive_assoc
        |FROM pr JOIN it i1 ON i1.t = t1 JOIN it i2 ON i2.t = t2, nb
        |ORDER BY t1, t2""".stripMargin,
    // q158: running sum spelled as the global window (the oracle may);
    // ends sort before starts at the same instant via the flag.
    "q158_peak_concurrency" ->
      """WITH b AS (
        |  SELECT epoch_us(ts) AS us, 1 AS flag, 1 AS delta, event_id FROM events
        |  UNION ALL
        |  SELECT epoch_us(ts) + 600000000, 0, -1, event_id FROM events),
        |c AS (
        |  SELECT us, CAST(SUM(delta) OVER (ORDER BY us, flag, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
        |  FROM b),
        |dly AS (
        |  SELECT CAST(make_timestamp(us) AS DATE) AS day, conc, us,
        |         row_number() OVER (PARTITION BY CAST(make_timestamp(us) AS DATE)
        |                            ORDER BY conc DESC, us ASC) AS rn
        |  FROM c)
        |SELECT day, conc AS max_concurrent, us AS at_us
        |FROM dly WHERE rn = 1 ORDER BY day""".stripMargin,
    // q157: same two distinct aggregates; month join spelled inline.
    "q157_stickiness" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         date_trunc('month', ts) AS month
        |  FROM events),
        |dau AS (SELECT day, month, COUNT(DISTINCT user_id) AS dau
        |        FROM e GROUP BY 1, 2),
        |mau AS (SELECT month, COUNT(DISTINCT user_id) AS mau
        |        FROM e GROUP BY 1)
        |SELECT day, dau, mau, dau * 1000 // mau AS stickiness_permille
        |FROM dau JOIN mau USING (month)
        |ORDER BY day""".stripMargin,
    // q156: collapse-consecutive via lag inside each session; ordered
    // string_agg with a FILTER is the window spelling of the Spark
    // side's indexed-transform dedup.
    "q156_top_paths" ->
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |s2 AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
        |                      THEN 1 ELSE 0 END AS ns FROM s),
        |s3 AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                               ROWS UNBOUNDED PRECEDING) AS session_no
        |       FROM s2),
        |dd AS (SELECT user_id, session_no, us, event_id, event_type,
        |              lag(event_type) OVER (PARTITION BY user_id, session_no
        |                                    ORDER BY us, event_id) AS prev_t
        |       FROM s3),
        |p AS (SELECT user_id, session_no,
        |             string_agg(event_type, '>' ORDER BY us, event_id)
        |               FILTER (WHERE prev_t IS NULL OR prev_t <> event_type) AS path
        |      FROM dd GROUP BY 1, 2)
        |SELECT path, COUNT(1) AS n_sessions
        |FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin,
    // q155: list_reduce seeds its accumulator with the first element —
    // exactly the y1 = x1 convention — and folds left over the same
    // ts-sorted sequence with the same exact-binary coefficients.
    "q155_ewma" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |         CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |g AS (
        |  SELECT user_id, COUNT(1) AS n_events,
        |         list(cents ORDER BY us, event_id) AS vals
        |  FROM e GROUP BY user_id)
        |SELECT user_id, n_events,
        |       CAST(list_reduce(list_transform(vals, v -> CAST(v AS DOUBLE)),
        |                        (a, b) -> a * 0.875 + b * 0.125) AS DOUBLE) AS ewma
        |FROM g ORDER BY user_id""".stripMargin,
    // q150: engine-native spellings (FILTER / bool_and / bool_or); the
    // any_value leg is deterministic because its argument is single-valued
    // per group.
    "q150_agg_predicates" ->
      """SELECT o_orderstatus,
        |       COUNT(1) FILTER (WHERE o_totalprice > 300000) AS n_big,
        |       bool_and(o_totalprice > 0) AS all_positive,
        |       bool_or(o_totalprice > 400000) AS any_huge,
        |       upper(o_orderstatus) AS status_up
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // q148: the oracle uses the count-distinct spelling (the ground
    // truth); `agrees` is literal TRUE — the Spark side must prove its
    // double-negation leg reaches the same set.
    "q148_relational_division" ->
      """WITH o AS (SELECT o_custkey AS c, o_orderpriority AS p FROM orders),
        |np AS (SELECT COUNT(DISTINCT p) AS np FROM o)
        |SELECT c AS c_custkey, COUNT(DISTINCT p) AS n_priorities,
        |       TRUE AS agrees
        |FROM o, np
        |GROUP BY c, np
        |HAVING COUNT(DISTINCT p) = np
        |ORDER BY c_custkey""".stripMargin,
    // q146: replace runs BEFORE fill (the planted null never becomes
    // 'tap'), fill touches only its own column's type, drop's "any" is an
    // OR of null tests — all spelled as CASE/COALESCE.
    "q146_na_funcs" ->
      """WITH planted AS (
        |  SELECT event_id, nullif(value, 6.55) AS v,
        |         CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS et
        |  FROM events)
        |SELECT event_id,
        |       COALESCE(v, -1.0) AS v,
        |       COALESCE(CASE WHEN et = 'click' THEN 'tap' ELSE et END,
        |                'unknown') AS et,
        |       v IS NOT NULL AND et IS NOT NULL AS survives_drop
        |FROM planted ORDER BY event_id""".stripMargin,
    // q145: DuckDB's two-step timezone() composition — interpret naive as
    // UTC (→ TIMESTAMPTZ instant), then render in the target zone (→ naive
    // wall-clock) — is from_utc_timestamp's exact twin; the inverse
    // composition is to_utc_timestamp. Session-TZ independent: only naive
    // timestamps cross the compare boundary.
    "q145_timezone" ->
      """WITH e AS (
        |  SELECT event_id, ts + INTERVAL 69 DAY AS shifted FROM events),
        |c AS (
        |  SELECT event_id, shifted,
        |         timezone('America/New_York', timezone('UTC', shifted)) AS ny,
        |         timezone('Asia/Tokyo', timezone('UTC', shifted)) AS tokyo
        |  FROM e)
        |SELECT event_id, shifted, ny,
        |       CAST((epoch_us(ny) - epoch_us(shifted)) // 60000000 AS INT)
        |         AS offset_min_ny,
        |       CAST(hour(ny) AS INT) AS ny_hour,
        |       CAST(ny AS DATE) AS ny_date,
        |       CAST((epoch_us(tokyo) - epoch_us(shifted)) // 60000000 AS INT)
        |         AS offset_min_tokyo,
        |       timezone('UTC', timezone('America/New_York', ny)) = shifted AS rt_ok
        |FROM c ORDER BY event_id""".stripMargin,
    // q144: identical lead/groupBy spelling; epoch_us == unix_micros and
    // the lead window shares the (us, event_id) tiebreak.
    "q144_time_weighted_avg" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CAST(FLOOR(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |h AS (
        |  SELECT user_id, cents, us,
        |         lead(us) OVER (PARTITION BY user_id
        |                        ORDER BY us, event_id) AS next_us
        |  FROM e)
        |SELECT user_id, COUNT(1) AS n_holds,
        |       CAST(SUM(next_us - us) AS BIGINT) AS held_us,
        |       CAST(SUM(cents * (next_us - us)) AS BIGINT) AS weighted,
        |       CAST(SUM(cents * (next_us - us)) AS DOUBLE)
        |         / CAST(SUM(next_us - us) AS DOUBLE) AS twa_cents
        |FROM h WHERE next_us IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q143: the frontier predicate spelled as the strict-suffix-max window
    // (dominated iff some strictly-larger spend reaches ≥ my order count);
    // DuckDB runs the window however it likes — the Spark side replaces it
    // with the range-partitioned prefixMax scan.
    "q143_skyline" ->
      """WITH pts AS (
        |  SELECT o_custkey AS c_custkey,
        |         COUNT(1) AS n_orders,
        |         CAST(MIN(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS min_cents
        |  FROM orders GROUP BY 1),
        |xm AS (SELECT n_orders, MAX(min_cents) AS ymax
        |       FROM pts GROUP BY 1),
        |sky AS (
        |  SELECT n_orders, ymax,
        |         MAX(ymax) OVER (ORDER BY n_orders DESC
        |                         ROWS BETWEEN UNBOUNDED PRECEDING
        |                              AND 1 PRECEDING) AS smax
        |  FROM xm)
        |SELECT p.c_custkey, p.n_orders, p.min_cents
        |FROM pts p JOIN sky s USING (n_orders)
        |WHERE (s.smax IS NULL OR s.ymax > s.smax) AND p.min_cents = s.ymax
        |ORDER BY p.n_orders DESC, p.c_custkey""".stripMargin,
    "q142_bitwise_agg" ->
      """SELECT o_orderstatus,
        |       bit_and(o_custkey) AS mask_and,
        |       bit_or(o_custkey) AS mask_or,
        |       bit_xor(o_custkey) AS digest_xor
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q139_filter_clause" ->
      """SELECT o_orderstatus,
        |       COUNT(1) AS n,
        |       COUNT(1) FILTER (WHERE o_totalprice > 300000) AS n_big,
        |       CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
        |                       FILTER (WHERE o_orderpriority = '1-URGENT'), 0)
        |            AS BIGINT) AS urgent_cents
        |FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // q140: DuckDB has no tuple-IN — EXISTS is the semantic twin.
    "q140_multi_col_in" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM customer c
        |              WHERE c.c_custkey = o.o_custkey
        |                AND o.o_orderstatus = 'F'
        |                AND c.c_acctbal > 5000)
        |ORDER BY o_orderkey""".stripMargin,
    "q165_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       COUNT(1) AS n,
        |       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents,
        |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio,
        |         o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    // q176: the rollup-first spelling (not the textbook IN-subquery) —
    // identical rows, one lineitem scan.
    "q176_tpch_q18" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        |       total_qty
        |FROM (SELECT l_orderkey,
        |             CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING SUM(CAST(FLOOR(l_quantity) AS BIGINT)) > 200) q
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 100""".stripMargin,
    // q177: the textbook EXISTS/NOT EXISTS spelling of the same semantics.
    "q177_tpch_q21" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM lineitem l1
        |JOIN orders   ON o_orderkey = l1.l_orderkey
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND n_name = 'NATION_9'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 100""".stripMargin,
    // q178: neither engine parses GROUPS, so the oracle spells the
    // SQL:2011 DEFINITION directly — dense_rank = the peer-group ordinal,
    // RANGE over rank distance = the GROUPS frame — a mechanism disjoint
    // from the Spark side's rollup-and-join composition.
    "q178_groups_frame" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS DATE) AS day,
        |                   CAST(floor(value * 100) AS BIGINT) AS cents
        |            FROM events),
        |r AS (SELECT *, dense_rank() OVER (PARTITION BY user_id
        |                                   ORDER BY day) AS dr
        |      FROM ev)
        |SELECT event_id, user_id,
        |       COUNT(*) OVER w AS n_2grp,
        |       CAST(SUM(cents) OVER w AS BIGINT) AS cents_2grp
        |FROM r
        |WINDOW w AS (PARTITION BY user_id ORDER BY dr
        |             RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // q179: the Morton curve is the SAME generated 16-level integer
    // expression text on both engines (mortonTerms, `//` dialect); the
    // melt is a UNION ALL where Spark uses a one-scan `stack`.
    "q179_layout_compare" ->
      s"""WITH li AS (SELECT CAST(l_partkey AS BIGINT) AS x,
         |                   CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
         |st AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax,
         |              MIN(y) AS ymin, MAX(y) AS ymax FROM li),
         |norm AS (SELECT (x - xmin) * 65535 // greatest(xmax - xmin, 1) AS xs,
         |                (y - ymin) * 65535 // greatest(ymax - ymin, 1) AS ys
         |         FROM li, st),
         |z AS (SELECT xs, ys, ${mortonTerms("xs", "ys", "//")} AS z FROM norm),
         |b AS (SELECT 'zorder' AS layout, z // ${1L << 26} AS bucket, xs, ys FROM z
         |      UNION ALL
         |      SELECT 'xsort', xs // 1024, xs, ys FROM z),
         |per AS (SELECT layout, bucket, COUNT(1) AS n,
         |               MIN(xs) AS x0, MAX(xs) AS x1,
         |               MIN(ys) AS y0, MAX(ys) AS y1
         |        FROM b GROUP BY layout, bucket)
         |SELECT layout,
         |       CAST(COUNT(1) AS BIGINT) AS n_buckets,
         |       CAST(SUM(n) AS BIGINT) AS n_rows,
         |       CAST(CAST(SUM(x1 - x0 + 1) AS BIGINT) * 10000
         |            // (COUNT(1) * 65536) AS BIGINT) AS avg_x_extent_bp,
         |       CAST(CAST(SUM(y1 - y0 + 1) AS BIGINT) * 10000
         |            // (COUNT(1) * 65536) AS BIGINT) AS avg_y_extent_bp
         |FROM per GROUP BY layout ORDER BY layout""".stripMargin,
    // q180: the Hilbert chain is the div/% per-level expression text
    // (hilbertLevel, `//` dialect) as a 16-CTE pipeline — value-equal to
    // the Spark side's shift/mask spelling on the non-negative state (see
    // hilbertD's scaladoc); morton via mortonTerms; melt = UNION ALL
    // where Spark uses a one-scan stack.
    "q180_hilbert_curve" ->
      s"""WITH li AS (SELECT CAST(l_partkey AS BIGINT) AS x,
         |                   CAST(l_suppkey AS BIGINT) AS y FROM lineitem),
         |st AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax,
         |              MIN(y) AS ymin, MAX(y) AS ymax FROM li),
         |norm AS (SELECT (x - xmin) * 65535 // greatest(xmax - xmin, 1) AS xs,
         |                (y - ymin) * 65535 // greatest(ymax - ymin, 1) AS ys
         |         FROM li, st),
         |h0 AS (SELECT xs, ys, xs AS hx, ys AS hy, CAST(0 AS BIGINT) AS hd
         |       FROM norm),
         |${duckHilbertCtes(16)},
         |zz AS (SELECT xs, ys, hd, ${mortonTerms("xs", "ys", "//")} AS z
         |       FROM h16),
         |b AS (SELECT 'hilbert' AS layout,
         |             hd * $HilbertSegments // ${1L << 32} AS bucket, xs, ys
         |      FROM zz
         |      UNION ALL
         |      SELECT 'zorder', z * $HilbertSegments // ${1L << 32}, xs, ys
         |      FROM zz),
         |per AS (SELECT layout, bucket, COUNT(1) AS n,
         |               MIN(xs) AS x0, MAX(xs) AS x1,
         |               MIN(ys) AS y0, MAX(ys) AS y1
         |        FROM b GROUP BY layout, bucket)
         |SELECT layout,
         |       CAST(COUNT(1) AS BIGINT) AS n_buckets,
         |       CAST(SUM(n) AS BIGINT) AS n_rows,
         |       CAST(CAST(SUM(x1 - x0 + 1) AS BIGINT) * 10000
         |            // (COUNT(1) * 65536) AS BIGINT) AS avg_x_extent_bp,
         |       CAST(CAST(SUM(y1 - y0 + 1) AS BIGINT) * 10000
         |            // (COUNT(1) * 65536) AS BIGINT) AS avg_y_extent_bp
         |FROM per GROUP BY layout ORDER BY layout""".stripMargin,
    "q137_tpch_q5" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) / 100.0 AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name ASC""".stripMargin,
    "q138_pagination" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20 OFFSET 40""".stripMargin,
    // q181: the textbook Q7 n1/n2 double-nation spelling.
    "q181_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INT) AS l_year,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) / 100.0 AS revenue
        |FROM lineitem
        |JOIN supplier  ON s_suppkey = l_suppkey
        |JOIN orders    ON o_orderkey = l_orderkey
        |JOIN customer  ON c_custkey = o_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    // q183: the textbook single-join OR-of-ANDs spelling.
    "q183_tpch_q19" ->
      """SELECT COUNT(1) AS n_lines,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) / 100.0 AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#5'  AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // q186: the textbook Q6 scan-filter-agg, floor-cents revenue.
    "q186_tpch_q6" ->
      """SELECT COUNT(1) AS n_lines,
        |       CAST(SUM(CAST(floor(l_extendedprice * l_discount * 100) AS BIGINT))
        |            AS BIGINT) / 100.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    // q187: the textbook Q4 EXISTS spelling (witness adapted to
    // returnflag='R' — see the Spark scaladoc).
    "q187_tpch_q4" ->
      """SELECT o_orderpriority, COUNT(1) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
        |  AND o_orderdate <  TIMESTAMP '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // q188: the textbook Q9 join tree (cost adapted to
    // p_retailprice*l_quantity — no partsupp in this schema).
    "q188_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |                - CAST(floor(p_retailprice * l_quantity * 100) AS BIGINT))
        |            AS BIGINT) / 100.0 AS sum_profit
        |FROM lineitem
        |JOIN part     ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN orders   ON o_orderkey = l_orderkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY 1, 2
        |ORDER BY nation ASC, o_year DESC""".stripMargin,
    // q189: the textbook Q12 two-bucket census (shipmode derived from
    // l_linenumber, lateness from shipdate vs orderdate — see scaladoc).
    "q189_tpch_q12" ->
      """SELECT CASE CAST(l_linenumber % 3 AS INT) WHEN 0 THEN 'MAIL'
        |            WHEN 1 THEN 'SHIP' ELSE 'TRUCK' END AS l_shipmode,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q190: the textbook Q14 promo-share spelling — the conditional and
    // total sums in one pass, (100*promo)/total in identical op order.
    "q190_tpch_q14" ->
      """SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
        |       100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rc ELSE 0 END)
        |                    AS DOUBLE)
        |         / CAST(SUM(rc) AS DOUBLE) AS promo_share
        |FROM (SELECT l_shipdate, p_type,
        |             CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |                  AS BIGINT) AS rc
        |      FROM lineitem JOIN part ON p_partkey = l_partkey
        |      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |        AND l_shipdate <  TIMESTAMP '1998-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q191: the textbook Q13 nested-aggregation spelling; the priority
    // exclusion rides the JOIN condition (see the Spark scaladoc).
    "q191_tpch_q13" ->
      """SELECT c_count, COUNT(1) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // q192: the textbook Q15 view + scalar-max spelling, integer cents.
    "q192_tpch_q15" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |                       AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, rev_c / 100.0 AS total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE rev_c = (SELECT MAX(rev_c) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    // q193: the textbook Q17 correlated-average spelling, with the 20%
    // threshold as the exact integer cross-multiplication.
    "q193_tpch_q17" ->
      """WITH sliced AS (
        |  SELECT l_partkey, CAST(floor(l_quantity) AS BIGINT) AS qty,
        |         CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'),
        |pp AS (SELECT l_partkey AS agg_pk, CAST(SUM(qty) AS BIGINT) AS qty_sum,
        |              COUNT(1) AS qty_n
        |       FROM sliced GROUP BY l_partkey)
        |SELECT CAST(SUM(price_c) AS BIGINT) / 700.0 AS avg_yearly
        |FROM sliced JOIN pp ON l_partkey = agg_pk
        |WHERE qty * 5 * qty_n < qty_sum""".stripMargin,
    // q194: the textbook Q2 correlated-min spelling over the derived
    // partsupp (both sides derive the identical table — see duckPartsupp).
    "q194_tpch_q2" ->
      s"""WITH $duckPartsupp
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       ps_supplycost_c / 100.0 AS supplycost
        |FROM ps
        |JOIN supplier ON ps_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |JOIN part     ON p_partkey = ps_partkey
        |WHERE r_name = 'EUROPE' AND p_size = 15
        |  AND ps_supplycost_c = (
        |    SELECT MIN(ps2.ps_supplycost_c)
        |    FROM ps ps2
        |    JOIN supplier s2 ON ps2.ps_suppkey = s2.s_suppkey
        |    JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    // q195: the textbook Q11 group-share spelling; threshold as the exact
    // integer cross-multiplication (see the Spark scaladoc).
    "q195_tpch_q11" ->
      s"""WITH $duckPartsupp,
        |vals AS MATERIALIZED (
        |  SELECT ps_partkey,
        |         CAST(SUM(ps_supplycost_c * ps_availqty) AS BIGINT) AS value_c
        |  FROM ps
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_9'
        |  GROUP BY ps_partkey)
        |SELECT ps_partkey, value_c / 100.0 AS value
        |FROM vals
        |WHERE value_c * 2000 > (SELECT SUM(value_c) FROM vals)
        |ORDER BY value DESC, ps_partkey""".stripMargin,
    // q196: the textbook Q16 census with the benchmark's NOT IN spelling
    // (exclusion adapted to s_acctbal < 0 — see the Spark scaladoc).
    "q196_tpch_q16" ->
      s"""WITH $duckPartsupp
        |SELECT p_brand, p_type, p_size,
        |       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 7, 15, 22, 30, 36, 43, 50)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                         WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // q197: the textbook Q20 nested-semi spelling; the half-of-shipped
    // threshold as the exact cross-multiplication (see the Spark scaladoc).
    "q197_tpch_q20" ->
      s"""WITH $duckPartsupp,
        |shipped AS (
        |  SELECT l_partkey AS q_pk, l_suppkey AS q_sk,
        |         CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_sum
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE 'small%'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_6'
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM ps
        |    JOIN shipped ON ps_partkey = q_pk AND ps_suppkey = q_sk
        |    WHERE ps_availqty * 2 > qty_sum)
        |ORDER BY s_suppkey""".stripMargin,
    // q184: the textbook Q22 scalar-subquery + NOT EXISTS spelling,
    // integer-cents average (see the Spark scaladoc).
    "q184_tpch_q22" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_nationkey % 5 AS cntrycode,
        |         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer WHERE c_nationkey % 5 IN (1, 3)),
        |thr AS (SELECT CAST(SUM(bal_c) // COUNT(1) AS BIGINT) AS avg_c
        |        FROM cust WHERE bal_c > 0)
        |SELECT cntrycode, COUNT(1) AS numcust,
        |       CAST(SUM(bal_c) AS BIGINT) AS total_bal_c
        |FROM cust, thr
        |WHERE bal_c > avg_c
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-07-01')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin,
    // q182: the textbook Q8 CASE-ratio spelling over the same join graph.
    "q182_tpch_q8" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |                     THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
        |                     ELSE 0 END) AS DOUBLE)
        |         / CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |                AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part      ON p_partkey = l_partkey
        |JOIN orders    ON o_orderkey = l_orderkey
        |JOIN customer  ON c_custkey = o_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region    ON n1.n_regionkey = r_regionkey
        |JOIN supplier  ON s_suppkey = l_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q136: the dynamic statement, spelled statically with the binding
    // inlined — EXECUTE IMMEDIATE must change nothing but the plumbing.
    "q136_execute_immediate" ->
      """SELECT c_mktsegment, COUNT(1) AS n_custs,
        |       CAST(SUM(FLOOR(c_acctbal * 100)) AS BIGINT) AS bal_cents
        |FROM customer WHERE c_acctbal > 1000
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q135_cohort_retention" ->
      """WITH ev AS (SELECT user_id, date_trunc('day', ts) AS m FROM events),
        |cohort AS (SELECT user_id, MIN(m) AS c0 FROM ev GROUP BY user_id),
        |visits AS (
        |  SELECT DISTINCT ev.user_id, c0,
        |         date_diff('day', c0, m) AS k
        |  FROM ev JOIN cohort USING (user_id))
        |SELECT c0, CAST(k AS INT) AS k, COUNT(1) AS n_users
        |FROM visits GROUP BY c0, k ORDER BY c0, k""".stripMargin,
    "q134_identifier" ->
      """SELECT o_orderstatus AS status, COUNT(1) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,
    "q133_tvf_suite" ->
      """SELECT r.id AS seq_id, p.pos, p.tok, s.k, s.v
        |FROM range(0, 3) r(id),
        |     (SELECT CAST(i - 1 AS INT) AS pos, t[i] AS tok
        |      FROM (SELECT string_split('alpha beta gamma', ' ') AS t),
        |           generate_series(1, 3) g(i)) p,
        |     (VALUES ('x', 1), ('y', 2)) s(k, v)
        |ORDER BY seq_id, pos, k""".stripMargin,
    "q131_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) / 100.0 AS revenue
        |FROM lineitem
        |JOIN (SELECT o_orderkey, o_orderdate, o_orderpriority FROM orders
        |      WHERE o_orderdate < TIMESTAMP '1998-06-01'
        |        AND o_custkey IN (SELECT c_custkey FROM customer
        |                          WHERE c_mktsegment = 'BUILDING')) o
        |  ON l_orderkey = o_orderkey
        |WHERE l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q132_tpch_q10" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |              AS BIGINT) / 100.0 AS revenue
        |  FROM lineitem
        |  JOIN (SELECT o_orderkey, o_custkey FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |          AND o_orderdate < TIMESTAMP '1997-07-01') o
        |    ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, n_name, c_acctbal, revenue
        |FROM rev
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q127_time_range_frame" ->
      """SELECT user_id, event_id,
        |       COUNT(1) OVER w AS n_1h,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w
        |            AS DECIMAL(18,6)) AS DOUBLE) AS v_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "q128_crosstab" ->
      // The pivot domain (priority digits 1..5, statuses) is fixed by the
      // generator; a missing digit surfaces as a column-set mismatch, the
      // q123 dynamic-pivot discipline.
      """SELECT o_orderstatus AS status,
        |       COUNT(CASE WHEN substr(o_orderpriority, 1, 1) = '1' THEN 1 END) AS p1,
        |       COUNT(CASE WHEN substr(o_orderpriority, 1, 1) = '2' THEN 1 END) AS p2,
        |       COUNT(CASE WHEN substr(o_orderpriority, 1, 1) = '3' THEN 1 END) AS p3,
        |       COUNT(CASE WHEN substr(o_orderpriority, 1, 1) = '4' THEN 1 END) AS p4,
        |       COUNT(CASE WHEN substr(o_orderpriority, 1, 1) = '5' THEN 1 END) AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,
    "q125_incremental_mv" ->
      // The FULL RECOMPUTE: the incremental merge must be indistinguishable
      // from rebuilding the view over all orders; src derived from the
      // same late-arrival predicate.
      """SELECT o_custkey,
        |       COUNT(1) AS n_orders,
        |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price,
        |       CASE WHEN SUM(CASE WHEN o_orderkey % 97 <> 0 THEN 1 ELSE 0 END) = 0 THEN 'delta_only'
        |            WHEN SUM(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) = 0 THEN 'base_only'
        |            ELSE 'merged' END AS src
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q126_gini_impurity" ->
      """SELECT user_id,
        |       CAST(SUM(c) AS BIGINT) AS n_events,
        |       CAST(COUNT(1) AS BIGINT) AS n_types,
        |       CAST(10000 - CAST(SUM(c * c) AS BIGINT) * 10000
        |            // (CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)) AS BIGINT) AS gini_bp
        |FROM (SELECT user_id, event_type, COUNT(1) AS c
        |      FROM events GROUP BY 1, 2)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q122_sql_script" ->
      """WITH tot AS (SELECT COUNT(1) AS total FROM orders),
        |cand AS (SELECT i, (CAST(1 AS BIGINT) << i) AS t
        |         FROM (SELECT unnest(generate_series(0, 40)) AS i)),
        |cnt AS (SELECT i, t,
        |               (SELECT COUNT(1) FROM orders WHERE o_totalprice < t) AS nb
        |        FROM cand)
        |SELECT t AS threshold, nb AS n_below, total AS n_total
        |FROM cnt, tot WHERE nb * 2 >= total ORDER BY t LIMIT 1""".stripMargin,
    "q120_linreg" ->
      """SELECT l_returnflag, n, slope_exact, icept_exact, r2_exact,
        |       abs(b_slope - slope_exact) <= 1e-6 * greatest(1.0, abs(slope_exact))
        |        AND abs(b_icept - icept_exact) <= 1e-6 * greatest(1.0, abs(icept_exact))
        |        AND abs(b_r2 - r2_exact) <= 1e-6 * greatest(1.0, abs(r2_exact)) AS builtin_ok
        |FROM (
        |  SELECT l_returnflag, n, slope_exact,
        |         (CAST(sy AS DOUBLE) - slope_exact * CAST(sx AS DOUBLE)) / n AS icept_exact,
        |         ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |           * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |          / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |             * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2_exact,
        |         b_slope, b_icept, b_r2
        |  FROM (
        |    SELECT *,
        |           (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |            / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_exact
        |    FROM (
        |      SELECT l_returnflag, COUNT(1) AS n,
        |             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |             SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |             SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |             SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |             regr_slope(l_extendedprice, l_quantity) AS b_slope,
        |             regr_intercept(l_extendedprice, l_quantity) AS b_icept,
        |             regr_r2(l_extendedprice, l_quantity) AS b_r2
        |      FROM lineitem GROUP BY l_returnflag)))
        |ORDER BY l_returnflag""".stripMargin,
    "q118_transition_matrix" ->
      """WITH seq AS (
        |  SELECT event_type,
        |         LEAD(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |tr AS (SELECT event_type AS from_type, to_type, COUNT(1) AS n
        |       FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, SUM(n) AS tot FROM tr GROUP BY 1)
        |SELECT tr.from_type, to_type, n,
        |       CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
        |FROM tr JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    "q116_calendar_spine" ->
      """WITH daily AS (
        |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
        |         COUNT(1) AS n, max(o_totalprice) AS mx
        |  FROM orders GROUP BY 1, 2),
        |spine AS (
        |  SELECT o_orderpriority,
        |         CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT o_orderpriority, min(day) AS lo, max(day) AS hi
        |        FROM daily GROUP BY 1)),
        |j AS (SELECT s.o_orderpriority, s.day,
        |             coalesce(d.n, 0) AS n_orders, d.mx
        |      FROM spine s LEFT JOIN daily d
        |        ON s.o_orderpriority = d.o_orderpriority AND s.day = d.day)
        |SELECT o_orderpriority, day, n_orders,
        |       last_value(mx IGNORE NULLS) OVER (
        |         PARTITION BY o_orderpriority ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_max
        |FROM j ORDER BY o_orderpriority, day""".stripMargin,
    "q115_benford_audit" -> {
      val expected = BenfordX1e6.zipWithIndex
        .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }
        .mkString("CASE digit ", " ", " END")
      s"""WITH digits AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
         |         COUNT(1) AS n
         |  FROM orders GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM digits)
         |SELECT digit, n,
         |       CAST(n * 1000000 // total AS BIGINT) AS observed_x1e6,
         |       CAST($expected AS BIGINT) AS expected_x1e6,
         |       CAST(abs(n * 1000000 // total - $expected) AS BIGINT) AS dev_x1e6
         |FROM digits, tot ORDER BY digit""".stripMargin
    },
    "q113_not_in_nulls" ->
      """SELECT
        |  (SELECT COUNT(1) FROM customer
        |   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders))
        |    AS n_not_in,
        |  (SELECT COUNT(1) FROM customer
        |   WHERE NOT EXISTS (SELECT 1 FROM orders
        |                     WHERE NULLIF(o_custkey, 7) = c_custkey))
        |    AS n_not_exists,
        |  (SELECT COUNT(1) FROM customer
        |   WHERE c_custkey NOT IN (SELECT NULLIF(o_custkey, 7) FROM orders
        |                           WHERE NULLIF(o_custkey, 7) IS NOT NULL))
        |    AS n_not_in_nullfree""".stripMargin,
    "q114_cumulative_distinct" ->
      """WITH fu AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        |            FROM events GROUP BY user_id),
        |nu AS (SELECT day, COUNT(1) AS new_users FROM fu GROUP BY day),
        |da AS (SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS daily_users
        |       FROM events GROUP BY 1)
        |SELECT da.day, daily_users,
        |       COALESCE(new_users, 0) AS new_users,
        |       CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY da.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM da LEFT JOIN nu USING (day) ORDER BY da.day""".stripMargin,
    // q112's oracle is the DIRECT aggregation — hash equality proves the
    // partial-merge is lossless.
    "q112_reaggregate" ->
      """SELECT o_orderpriority AS prio,
        |       COUNT(DISTINCT o_orderdate) AS n_days,
        |       COUNT(1) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(1) AS avg_price
        |FROM orders GROUP BY o_orderpriority ORDER BY prio""".stripMargin,
    "q110_merge_upsert" ->
      """WITH target AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS price
        |  FROM orders),
        |updates AS (
        |  SELECT k, 'U' AS s_status, price + 1000.0 AS s_price
        |  FROM target WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT mx + i, 'N', 1.0
        |  FROM (SELECT MAX(k) AS mx FROM target)
        |  CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS i))
        |SELECT COALESCE(t.k, u.k) AS k,
        |       COALESCE(u.s_status, t.status) AS status,
        |       COALESCE(u.s_price, t.price) AS price,
        |       CASE WHEN u.s_status IS NULL THEN 'kept'
        |            WHEN t.status IS NULL THEN 'inserted'
        |            ELSE 'updated' END AS action
        |FROM target t FULL OUTER JOIN updates u ON t.k = u.k
        |ORDER BY k""".stripMargin,
    "q111_scd2" ->
      """SELECT user_id, event_id, value,
        |       us AS valid_from_us,
        |       lead(us, 1) OVER (PARTITION BY user_id
        |                         ORDER BY us, event_id) AS valid_to_us,
        |       lead(us, 1) OVER (PARTITION BY user_id
        |                         ORDER BY us, event_id) IS NULL AS is_current
        |FROM (SELECT user_id, event_id, value,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |      FROM events WHERE event_type = 'purchase')
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin,
    "q107_pipe_syntax" ->
      """SELECT l_returnflag, COUNT(1) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_quantity > 25
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q108_session_variable" ->
      """SELECT l_returnflag, COUNT(1) AS n
        |FROM lineitem WHERE l_quantity >= 45.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q109_collation" ->
      """SELECT lower(seg) AS seg, COUNT(1) AS n
        |FROM (SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
        |                  ELSE lower(c_mktsegment) END AS seg
        |      FROM customer)
        |GROUP BY lower(seg) ORDER BY seg""".stripMargin,
    "q104_funnel" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_type,
         |         epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events),
         |su AS (SELECT user_id, MIN(us) AS s_us FROM ev
         |       WHERE event_type = 'signup' GROUP BY user_id),
         |conv AS (SELECT DISTINCT e.user_id
         |         FROM ev e JOIN su USING (user_id)
         |         WHERE e.event_type = 'purchase'
         |           AND e.us >= s_us AND e.us <= s_us + $FunnelWindowUs)
         |SELECT '1_all' AS stage, COUNT(DISTINCT user_id) AS n_users FROM ev
         |UNION ALL SELECT '2_signup', COUNT(1) FROM su
         |UNION ALL SELECT '3_converted', COUNT(1) FROM conv
         |ORDER BY stage""".stripMargin,
    "q105_named_window" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(row_number() OVER w AS INT) AS rn,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS run_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q106_constraint_audit" ->
      // "constraint" is a DuckDB reserved word -> check_name
      """SELECT 'customer_acctbal_not_null' AS check_name,
        |       (SELECT COUNT(1) FROM customer WHERE c_acctbal IS NULL) AS n_violations
        |UNION ALL
        |SELECT 'events_props_has_k',
        |       (SELECT COUNT(1) FROM events WHERE json_extract(props, '$.k') IS NULL)
        |UNION ALL
        |SELECT 'lineitem_quantity_1_50',
        |       (SELECT COUNT(1) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50)
        |UNION ALL
        |SELECT 'orders_custkey_fk',
        |       (SELECT COUNT(1) FROM orders o
        |        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |ORDER BY check_name""".stripMargin,
    "q102_set_ops_all" ->
      """SELECT 'intersect' AS op, k FROM (
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'except' AS op, k FROM (
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY op, k""".stripMargin,
    "q103_lateral_alias" ->
      """SELECT o_orderkey,
        |       CAST(floor(o_totalprice) AS BIGINT) AS whole,
        |       whole % 100 AS cents_bucket,
        |       cents_bucket + 1 AS shifted
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q100_group_order_all" ->
      // DuckDB shares the GROUP BY ALL / ORDER BY ALL dialect — the oracle
      // IS the same query text (over the parquet view)
      """SELECT l_returnflag, l_linestatus, COUNT(1) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,
    "q101_listagg" ->
      """SELECT n_regionkey,
        |       string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q78_recursive_cte" ->
      """WITH RECURSIVE months(m) AS (
        |  SELECT 1
        |  UNION ALL
        |  SELECT m + 1 FROM months WHERE m < 12),
        |agg AS (
        |  SELECT month(CAST(o_orderdate AS TIMESTAMP)) AS m,
        |         count(o_orderkey) AS n_orders,
        |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
        |  FROM orders GROUP BY 1)
        |SELECT CAST(m AS INT) AS m,
        |       coalesce(n_orders, 0) AS n_orders,
        |       coalesce(n_custs, 0) AS n_custs
        |FROM months LEFT JOIN agg USING (m)
        |ORDER BY m""".stripMargin,
    "q79_gap_fill" ->
      """SELECT user_id, event_id, (v_raw IS NULL) AS is_gap, filled
        |FROM (
        |  SELECT user_id, event_id, v_raw,
        |         last_value(v_raw IGNORE NULLS) OVER (
        |           PARTITION BY user_id
        |           ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v_raw
        |    FROM events))
        |ORDER BY user_id, event_id""".stripMargin,
    "q76_corr" ->
      """SELECT l_returnflag, n, corr_exact,
        |       abs(builtin_corr - corr_exact) <= 1e-6 AS builtin_ok
        |FROM (
        |  SELECT l_returnflag, n,
        |         (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |          / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |             * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_exact,
        |         builtin_corr
        |  FROM (
        |    SELECT l_returnflag, COUNT(1) AS n,
        |           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |           SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |           SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |           SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |           SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
        |           corr(l_quantity, l_extendedprice) AS builtin_corr
        |    FROM lineitem GROUP BY l_returnflag))
        |ORDER BY l_returnflag""".stripMargin,
    "q73_join_right" ->
      """SELECT c_custkey, c_name, o_orderkey
        |FROM (SELECT o_custkey, o_orderkey FROM orders WHERE o_totalprice > 400000) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,
    "q74_agg_variance" ->
      """SELECT l_returnflag, n, variance, sqrt(variance) AS stddev,
        |       abs(builtin_var - variance) <= 1e-6 AS builtin_ok
        |FROM (
        |  SELECT l_returnflag, n,
        |         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n AS variance,
        |         builtin_var
        |  FROM (
        |    SELECT l_returnflag, COUNT(1) AS n,
        |           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |           SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |           var_pop(l_quantity) AS builtin_var
        |    FROM lineitem GROUP BY l_returnflag))
        |ORDER BY l_returnflag""".stripMargin,
    "q75_null_safe_eq" ->
      """SELECT id_a, id_b FROM
        |  (SELECT c_custkey AS id_a, nullif(c_mktsegment, 'BUILDING') AS seg_a FROM customer) a
        |JOIN
        |  (SELECT c_custkey AS id_b, nullif(c_mktsegment, 'BUILDING') AS seg_b FROM customer
        |   WHERE c_custkey <= 50) b
        |ON seg_a IS NOT DISTINCT FROM seg_b
        |ORDER BY id_a, id_b""".stripMargin,
    "q72_typed_ds" ->
      """SELECT o_orderkey, o_custkey, o_totalprice * 0.9 AS discounted
        |FROM orders
        |WHERE o_totalprice > 200000.0 AND o_orderstatus <> 'F'
        |ORDER BY o_orderkey""".stripMargin,
    "q71_pct_of_total" ->
      """SELECT l_returnflag,
        |       CAST(qty_dec AS DOUBLE) AS qty,
        |       CAST(qty_dec AS DOUBLE) / CAST(SUM(qty_dec) OVER () AS DOUBLE) AS share
        |FROM (SELECT l_returnflag,
        |             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS qty_dec
        |      FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "q68_csv_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q90_text_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q97_cogroup" ->
      """SELECT COALESCE(o.k, c.k) AS k,
        |       COALESCE(n_orders, 0) AS n_orders,
        |       COALESCE(n_cust, 0) AS n_cust,
        |       COALESCE(max_price, -1.0) AS max_price
        |FROM (SELECT o_custkey AS k, COUNT(1) AS n_orders,
        |             MAX(o_totalprice) AS max_price
        |      FROM orders GROUP BY o_custkey) o
        |FULL JOIN (SELECT c_custkey AS k, COUNT(1) AS n_cust
        |           FROM customer GROUP BY c_custkey) c
        |  ON o.k = c.k
        |ORDER BY k""".stripMargin,
    "q91_cdc_apply" ->
      """SELECT user_id, event_id AS last_event_id, value AS last_value,
        |       event_type AS last_op
        |FROM (SELECT user_id, event_id, value, event_type,
        |             row_number() OVER (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q92_explode_outer" ->
      """WITH base AS (
        |  SELECT c_custkey,
        |         list_filter(string_split(c_name, '#'), x -> x LIKE '%7%') AS l
        |  FROM customer),
        |ex AS (
        |  SELECT c_custkey, unnest(generate_series(1, len(l))) AS i, l
        |  FROM base WHERE len(l) > 0)
        |SELECT c_custkey, CAST(i - 1 AS INT) AS pos, l[i] AS part FROM ex
        |UNION ALL
        |SELECT c_custkey, NULL, NULL FROM base WHERE len(l) = 0
        |ORDER BY c_custkey, pos NULLS FIRST""".stripMargin,
    "q69_json_roundtrip" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q81_orc_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |       CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q83_xml_roundtrip" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q85_map_hofs" ->
      """SELECT event_id,
        |       CAST(json_extract(props, '$.k') AS INT) * 2 AS k2x,
        |       'K' AS key_up,
        |       CAST(CASE WHEN CAST(json_extract(props, '$.k') AS INT) > 50
        |                 THEN 1 ELSE 0 END AS INT) AS n_big,
        |       CAST(json_extract(props, '$.k') AS INT) * 2 AS k_sum
        |FROM events ORDER BY event_id""".stripMargin,
    "q84_variant" ->
      """SELECT event_id,
        |       CAST(json_extract(props, '$.k') AS INT) AS k_int,
        |       CAST(json_extract(props, '$.k') AS VARCHAR) AS k_str,
        |       CAST(NULL AS INT) AS missing_int,
        |       'OBJECT<k: BIGINT>' AS vschema
        |FROM events ORDER BY event_id""".stripMargin,
    "q82_exists_subquery" ->
      """SELECT c_custkey, c_mktsegment,
        |       EXISTS (SELECT 1 FROM orders o
        |               WHERE o.o_custkey = c.c_custkey
        |                 AND o.o_totalprice > 300000) AS has_big,
        |       NOT EXISTS (SELECT 1 FROM orders o
        |                   WHERE o.o_custkey = c.c_custkey) AS no_orders
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    "q70_keep_latest" ->
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q67_union_by_name" ->
      """SELECT id, name, segment FROM (
        |  SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment FROM customer
        |  UNION ALL BY NAME
        |  SELECT s_name AS name, s_suppkey + 1000000 AS id FROM supplier)
        |ORDER BY id""".stripMargin,
    "q63_histogram" ->
      """SELECT CAST(floor(value / 100) * 100 AS BIGINT) AS bucket,
        |       COUNT(1) AS n, MIN(value) AS lo, MAX(value) AS hi
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q64_profile" ->
      """SELECT COUNT(1) AS n_rows,
        |       COUNT(nullif(o_orderstatus, 'O')) AS n_status_nonnull,
        |       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status_distinct,
        |       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust_distinct,
        |       MIN(o_totalprice) AS price_min,
        |       MAX(o_totalprice) AS price_max,
        |       MIN(CAST(o_orderdate AS DATE)) AS date_min,
        |       MAX(CAST(o_orderdate AS DATE)) AS date_max
        |FROM orders""".stripMargin,
    "q65_lateral_join" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer,
        |     LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |              WHERE o_custkey = c_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
        |ORDER BY c_custkey, t.o_orderkey""".stripMargin,
    "q66_grouping_id" ->
      """SELECT l_returnflag, l_linestatus, COUNT(1) AS n,
        |       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q54_map_funcs" ->
      """SELECT event_id,
        |       CAST(len(json_keys(props)) AS INT) AS n_keys,
        |       json_keys(props)[1] AS first_key,
        |       CAST(props->>'$.k' AS INT) AS k_val,
        |       CAST(props->>('$.' || json_keys(props)[1]) AS INT) AS first_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q56_hof_funcs" ->
      """SELECT doc_id,
        |       CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS sum_len,
        |       CAST(len(list_filter(toks, t -> length(t) > 4)) AS INT) AS n_long,
        |       len(list_filter(toks, t -> t = 'the')) > 0 AS has_the,
        |       len(list_filter(toks, t -> length(t) >= 20)) = 0 AS all_short,
        |       CAST(list_max(list_transform(toks, t -> length(t))) AS INT) AS max_len
        |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q57_regex_funcs" ->
      """SELECT c_custkey,
        |       regexp_replace(c_name, '[0-9]+', '#', 'g') AS name_masked,
        |       array_to_string(regexp_extract_all(c_name, '[0-9]+'), ',') AS all_nums,
        |       regexp_matches(c_name, '00$') AS ends_00,
        |       CAST(len(regexp_extract_all(c_name, '0')) AS INT) AS n_zeros
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q58_bitwise" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |       CAST(l_orderkey & 255 AS BIGINT) AS and_255,
        |       CAST(l_orderkey | 4096 AS BIGINT) AS or_4096,
        |       CAST(xor(l_orderkey, l_partkey) AS BIGINT) AS xor_pk,
        |       CAST(l_linenumber << 3 AS INT) AS shl3,
        |       CAST(l_orderkey >> 2 AS BIGINT) AS shr2,
        |       CAST(bit_count(l_orderkey) AS INT) AS bits
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    "q59_date_arith" ->
      """SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) + 30 AS plus30,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2mo,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
        |       CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS iso_week,
        |       make_date(year(CAST(o_orderdate AS DATE)), month(CAST(o_orderdate AS DATE)), 1) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q60_join_salted" ->
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q61_window_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |         PARTITION BY o_custkey ORDER BY o_totalprice
        |         RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q62_mode_argmax" ->
      """SELECT l_returnflag, mode_qty, n FROM (
        |  SELECT l_returnflag, l_quantity AS mode_qty, n,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY n DESC, l_quantity ASC) AS rn
        |  FROM (SELECT l_returnflag, l_quantity, COUNT(1) AS n
        |        FROM lineitem GROUP BY l_returnflag, l_quantity))
        |WHERE rn = 1 ORDER BY l_returnflag""".stripMargin
  )
}
