package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.SkewJoin

/** Scale-mechanics evidence: salted joins preserve semantics, bucketed
  * joins avoid shuffles, partition pruning reaches the file index.
  */
class PartitioningSpec extends SparkSpec {

  test("ANALYZE TABLE feeds the CBO: exact row count in stats, stats-driven broadcast without AQE") {
    // The cost-based path a long-lived warehouse relies on when AQE's
    // runtime sizes aren't available (first stage, no shuffle yet):
    // ANALYZE writes rowCount/sizeInBytes into the catalog, the optimizer
    // reads them, and a provably-small side broadcasts at PLAN time.
    spark.sql("DROP TABLE IF EXISTS cbo_nation")
    spark.sql(s"CREATE TABLE cbo_nation USING parquet LOCATION '$sf/nation.parquet'")
    try {
      spark.sql("ANALYZE TABLE cbo_nation COMPUTE STATISTICS")
      // rowCount propagates into plan stats only under the CBO flag (the
      // default size-only estimator ignores it) — turn it on for the pin
      val prevCbo = spark.conf.get("spark.sql.cbo.enabled")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val stats =
        try spark.table("cbo_nation").queryExecution.optimizedPlan.stats
        finally spark.conf.set("spark.sql.cbo.enabled", prevCbo)
      assert(stats.rowCount.exists(_.toLong === 25L),
        s"ANALYZE must land the exact row count in catalog stats, got ${stats.rowCount}")
      // plan-time broadcast decision from catalog stats alone (AQE off)
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val joined = Tables.supplier(spark, sf)
          .join(spark.table("cbo_nation"),
            col("s_nationkey") === col("n_nationkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"),
          s"catalog-stats-sized 25-row table must broadcast at plan time:\n$plan")
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    } finally spark.sql("DROP TABLE IF EXISTS cbo_nation")
  }

  test("COLUMN stats drive the CBO's filter selectivity: broadcast flip only WITH them") {
    // The round-8 verdict's remaining optimizer-input gap: table-level
    // rowCount (the test above) sizes an UNFILTERED relation, but the
    // decision 100 TB plans actually hinge on is FILTER selectivity —
    // "dim WHERE k <= c joins fact" broadcasts only if the optimizer can
    // estimate the filter's output, and that estimate needs column
    // min/max from ANALYZE ... FOR COLUMNS. Pinned as a controlled pair:
    // two catalog tables over the SAME parquet, identical query and
    // confs; the column-analyzed one must flip to BroadcastHashJoin, the
    // stats-less twin must stay sort-merge — so the test fails if column
    // stats stop influencing the plan (or if the flip no longer needs
    // them).
    for (t <- Seq("cbo_cust_stats", "cbo_cust_plain"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE cbo_cust_stats USING parquet LOCATION '$sf/customer.parquet'")
    spark.sql(s"CREATE TABLE cbo_cust_plain USING parquet LOCATION '$sf/customer.parquet'")
    val overrides = Seq(
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      // between the filtered ESTIMATE (~2 rows x row width ≈ 0.2 KB) and
      // the stats-less fallback: the size-only visitor prunes the 6.9 KB
      // file size by the SELECTED column-width ratio (~0.9 with four of
      // five columns kept ≈ 6 KB) but cannot reduce for the FILTER —
      // exactly the estimate gap this pin exists to prove
      "spark.sql.autoBroadcastJoinThreshold" -> "1KB")
    val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      spark.sql(
        "ANALYZE TABLE cbo_cust_stats COMPUTE STATISTICS FOR COLUMNS c_custkey")
      overrides.foreach { case (k, v) => spark.conf.set(k, v) }
      def planFor(dim: String): String =
        Tables.orders(spark, sf)
          .join(spark.table(dim).filter(col("c_custkey") <= 2)
                  .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
                col("o_custkey") === col("c_custkey"))
          .queryExecution.executedPlan.toString
      val withStats = planFor("cbo_cust_stats")
      val noStats = planFor("cbo_cust_plain")
      assert(withStats.contains("BroadcastHashJoin"),
        s"column min/max must let the CBO size the 1%-selective filter " +
          s"under the broadcast threshold:\n$withStats")
      assert(!noStats.contains("BroadcastHashJoin") &&
             noStats.contains("SortMergeJoin"),
        s"without column stats the filter estimate must fall back to the " +
          s"raw file size and stay sort-merge (otherwise this pin proves " +
          s"nothing):\n$noStats")
      // The same flip from a materialisation boundary: 20 rows cut from a
      // 1M-row range. A bare checkpoint keeps the range's multi-MB
      // estimate; Materialized carries the exact 20 rows.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1MB")
      val twenty = spark.range(1000000).filter(col("id") % 50000 === 0)
        .select(col("id").as("k"))
      val big = spark.range(2000000).select(col("id").as("k"))
      def joinPlan(small: org.apache.spark.sql.DataFrame): String =
        big.join(small, "k").queryExecution.executedPlan.toString
      val exact = joinPlan(Materialized.of(twenty).df)
      val bare = joinPlan(twenty.localCheckpoint())
      assert(exact.contains("BroadcastHashJoin"),
        s"a 20-row Materialized frame must broadcast with no hint:\n$exact")
      assert(!bare.contains("BroadcastHashJoin") && bare.contains("SortMergeJoin"),
        s"a bare checkpoint keeps its origin estimate and stays sort-merge " +
          s"(otherwise this pin proves nothing):\n$bare")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      for (t <- Seq("cbo_cust_stats", "cbo_cust_plain"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("Materialized counts its rows in the jobs of a bare checkpoint") {
    val orders = Tables.orders(spark, sf)
    for (df <- Seq(orders.filter(col("o_totalprice") > 100000),
                   orders.filter(col("o_totalprice") < 0),
                   orders.filter(lit(false)))) {
      var m: Materialized = null
      val jobs = Explain.jobsOf(spark) { m = Materialized.of(df); m.rows: Unit }
      val bare = Explain.jobsOf(spark)(df.localCheckpoint(): Unit)
      val n = df.count()
      assert(m.rows === n && m.isEmpty === (n == 0L) && m.df.count() === n)
      assert(jobs === bare,
        s"the observed count must ride the checkpoint's jobs ($jobs vs $bare)")
    }
  }

  test("salted join equals plain join on a skewed fixture") {
    import spark.implicits._
    // hot key: 10k rows of key=1, plus a uniform tail
    val skewed = ((1 to 10000).map(i => (1L, s"v$i")) ++
                  (1 to 100).map(i => (i.toLong % 7 + 2, s"t$i")))
      .toDF("k", "payload")
    val dim = (1L to 10L).map(k => (k, s"dim$k")).toDF("k", "name")

    val plain = skewed.join(dim, "k")
    val salted = SkewJoin.saltedInnerJoin(skewed, dim, "k",
      saltSource = col("payload"), saltFactor = 8)

    assert(salted.count() === plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("AQE skew-join engages: hot partition split at runtime (skew=true)") {
    import spark.implicits._
    // Runtime complement to the explicit salting above: with AQE on
    // (Spark's default) the same hot-key shape is split by
    // OptimizeSkewedJoin with NO query rewrite. Thresholds are lowered so
    // the small fixture qualifies as skewed; broadcast is disabled so the
    // join stays sort-merge (the shape OptimizeSkewedJoin applies to).
    val overrides = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB")
    val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val pad = "x" * 200
      val skewed = ((1 to 20000).map(i => (1L, s"v$i$pad")) ++
                    (1 to 200).map(i => (i.toLong % 7 + 2, s"t$i")))
        .toDF("k", "payload")
      val right = (1L to 10L).flatMap(k => (1 to 50).map(i => (k, s"r$i")))
        .toDF("k", "rv")
      val j = skewed.join(right, "k")
      assert(j.count() === 20000L * 50 + 200L * 50)
      // Drive THIS Dataset's own AdaptiveSparkPlanExec instance (count()
      // and .rdd each build a separate QueryExecution whose adaptive plan
      // finalizes independently), then read the final plan: it must mark
      // the join skew-split.
      j.queryExecution.executedPlan.execute().foreach(_ => ())
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected AQE skew-join marker in final plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // a previously interrupted run can leave the managed location behind
    // even after DROP TABLE; clear it so saveAsTable can't collide
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (t <- Seq("b_orders", "b_customer")) {
      val p = java.nio.file.Paths.get(wh, t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    Tables.orders(spark, sf).write
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .saveAsTable("b_orders")
    Tables.customer(spark, sf).write
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .saveAsTable("b_customer")

    val joined = spark.table("b_orders")
      .join(spark.table("b_customer"),
            col("o_custkey") === col("c_custkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() === Tables.orders(spark, sf).count())
  }

  test("dynamic partition overwrite: rewriting one partition leaves the others intact") {
    import spark.implicits._
    val out = Files.createTempDirectory("dpo").toString
    // initial load: two partitions
    Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "part", "v")
      .write.partitionBy("part").mode("overwrite").parquet(out)
    // re-process ONLY partition b with corrected data; in dynamic mode the
    // overwrite must replace b and must NOT touch a (static mode would
    // clobber the whole table — the classic 100 TB reprocessing accident)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      Seq((3L, "b", 31.0), (4L, "b", 40.0)).toDF("id", "part", "v")
        .write.partitionBy("part").mode("overwrite").parquet(out)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val rows = spark.read.parquet(out)
      .select("id", "part", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows === Set((1L, "a", 10.0), (2L, "a", 20.0),
                        (3L, "b", 31.0), (4L, "b", 40.0)), s"got $rows")
  }

  test("output file sizing: maxRecordsPerFile splits files; codec honored") {
    import spark.implicits._
    val out = Files.createTempDirectory("fsz").toString
    (1 to 5000).map(i => (i.toLong, s"row$i")).toDF("id", "s")
      .coalesce(1) // one task — file count below must come from the LIMIT, not parallelism
      .write
      .option("maxRecordsPerFile", 1000)
      .option("compression", "zstd")
      .mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles
      .filter(f => f.getName.endsWith(".parquet"))
    // 5000 rows / 1000-per-file cap => 5 files from ONE task: the knob that
    // keeps 100 TB sinks from emitting unsplittable monster files
    assert(files.length === 5, s"got ${files.map(_.getName).toSeq}")
    assert(files.forall(_.getName.contains(".zstd.")),
      s"zstd codec not in file names: ${files.map(_.getName).toSeq}")
    val back = spark.read.parquet(out)
    assert(back.count() === 5000)
    // per-file row bound holds
    val perFile = back.groupBy(input_file_name()).count()
      .collect().map(_.getLong(1))
    assert(perFile.forall(_ <= 1000), s"file exceeded cap: ${perFile.toSeq}")
  }

  test("partition pruning: partitioned write + filter reads one partition") {
    val dir = Files.createTempDirectory("part_orders").toString + "/data"
    Tables.orders(spark, sf)
      .withColumn("status", col("o_orderstatus"))
      .write.partitionBy("status").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("status") === "F")
    val expl = pruned.queryExecution.executedPlan.toString
    // the scan's partition filter must mention the partition column
    assert(expl.contains("PartitionFilters") && expl.contains("status"),
      s"expected partition filters in:\n$expl")
    val expected = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "F").count()
    assert(pruned.count() === expected)
  }

  /** Run `body` with the given SQL confs set, restoring prior values. */
  private def withConfs(overrides: (String, String)*)(body: => Unit): Unit = {
    val saved = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning: a dim-side filter prunes fact partitions at runtime") {
    // The 100 TB read contract for star joins: when the selective filter
    // sits on a NON-join dim column (so no static partition filter can be
    // inferred), Spark must still skip fact partitions — by evaluating the
    // dim at runtime and feeding the surviving join keys to the fact scan
    // as a dynamicpruning subquery (reusing the join's own broadcast).
    val dir = Files.createTempDirectory("dpp_fact").toString + "/data"
    Tables.orders(spark, sf)
      .withColumn("bucket", (col("o_orderkey") % 8).cast("int"))
      .write.partitionBy("bucket").parquet(dir)
    val fact = spark.read.parquet(dir)
    import spark.implicits._
    // tag is what's filtered; only buckets 0-1 survive. A filter on the
    // join column itself would be constant-propagated into a STATIC
    // partition filter (that path is pinned by the test above) — the tag
    // indirection is what forces the pruning to be dynamic. The dim must
    // be file-backed: over an in-memory LocalRelation the optimizer
    // evaluates the filter eagerly and PartitionPruning no longer sees a
    // selective predicate to prune with.
    val dimDir = Files.createTempDirectory("dpp_dim").toString + "/data"
    (0 until 8).map(b => (b, if (b < 2) "keep" else "drop"))
      .toDF("bucket", "tag").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("tag") === "keep")
    val j = fact.join(dim, "bucket")
    val n = j.count()
    val expected = Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 8 < 2).count()
    assert(n === expected)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery on the fact scan:\n$plan")
  }

  test("runtime bloom-filter join: engine-injected might_contain pre-filters the fact side") {
    // x03 spells a Bloom pre-filter by hand (oracle-checkable); this pins
    // Spark's own InjectRuntimeFilter doing the same transparently: a
    // selective dim predicate in a SHUFFLE join grows a bloom_filter_agg
    // on the dim side and a might_contain guard on the fact side, so fact
    // rows that cannot join die before the shuffle — the difference
    // between shuffling 100 TB and shuffling the matching fraction.
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // fixture-sized thresholds: any fact scan qualifies, dim always fits
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val fact = Tables.lineitem(spark, sf)
      val dim = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"expected an injected runtime bloom filter in:\n$opt")
      // semantics unchanged vs the same join with the filter rule off
      val n = j.count()
      withConfs("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        val plain = Tables.lineitem(spark, sf).join(
          Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        assert(n === plain.count())
      }
    }
  }

  test("small-file compaction: range-clustered rewrite caps file count, preserves rows") {
    // Table maintenance at 100 TB: streaming/incremental writers fragment a
    // table into thousands of small files (per-trigger, per-task); readers
    // then pay per-file open/footer costs that dwarf the data. The repair
    // is a periodic rewrite: read → repartitionByRange(target, key) →
    // sortWithinPartitions(key) → overwrite. Range + sort (not plain
    // repartition) so the rewritten files carry DISJOINT key envelopes —
    // the min/max-skipping layout q86 audits.
    import scala.jdk.CollectionConverters._
    def parquetFiles(p: String): Seq[java.nio.file.Path] =
      java.nio.file.Files.list(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val fragmented = Files.createTempDirectory("frag").toString + "/data"
    Tables.orders(spark, sf).repartition(64).write.parquet(fragmented)
    assert(parquetFiles(fragmented).size === 64, "fixture must be fragmented")

    val compacted = Files.createTempDirectory("compact").toString + "/data"
    spark.read.parquet(fragmented)
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.parquet(compacted)
    assert(parquetFiles(compacted).size === 4,
      "compaction must hit the target file count")
    // content identical (multiset equality both directions)
    val before = spark.read.parquet(fragmented)
    val after = spark.read.parquet(compacted)
    assert(after.count() === before.count())
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
  }

  test("parquet aggregate pushdown: count/min/max answered from footer statistics (v2 scan)") {
    // At 100 TB, COUNT/MIN/MAX over a table should read O(files) footers,
    // not O(rows) pages. The v2 parquet scan does exactly that when
    // aggregate pushdown is on — the plan carries PushedAggregation and
    // the result comes from row-group statistics.
    withConfs(
      "spark.sql.parquet.aggregatePushDown" -> "true",
      // aggregate pushdown is a DSv2 feature; parquet defaults to the v1
      // FileSourceScanExec path, so route parquet through v2 here
      "spark.sql.sources.useV1SourceList" -> "") {
      val agg = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(count(lit(1)).as("n"),
             min(col("l_orderkey")).as("min_ok"),
             max(col("l_quantity")).as("max_qty"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"),
        s"expected footer-served aggregates in:\n$plan")
      val row = agg.collect()(0)
      // cross-check against the v1 path with pushdown off
      val base = Tables.lineitem(spark, sf)
        .agg(count(lit(1)), min(col("l_orderkey")), max(col("l_quantity")))
        .collect()(0)
      assert(row === base)
    }
  }
}
