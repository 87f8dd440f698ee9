package graft

/** Parallelism-invariance battery: on a real cluster the shuffle partition
  * count is a tuning knob (and AQE moves it at runtime), so any query whose
  * RESULT depends on it is silently broken at scale. The operators most at
  * risk are exactly the ones that do their own partition-aware work — the
  * range-partitioned prefixSum (t07/d12), per-partition heaps (q49/q94),
  * hash-bucketed pair joins (d01), survivor election (q32) and rendezvous
  * assignment (q99). Run each at 4 vs 32 shuffle partitions and require
  * row-identical output (every one of these ends in a total-order sort, so
  * ordering is part of the contract).
  */
class ParallelismSpec extends SparkSpec {

  private val Names = Seq(
    "q32_dedup_exact", "d01_minhash_lsh", "t07_seq_packing",
    "d12_sorted_neighborhood", "q49_topk_per_group", "q94_topk_custom",
    "q99_rendezvous_shard", "t28_length_cdf",
    // round-6 additions whose determinism depends on explicit ordering
    // devices: t30 stitches segments via array_sort over collect_list
    // (collect order itself is partition-dependent), n17 ranks via
    // tie-broken windows, n16 argmaxes via struct max_by.
    "t30_span_removal", "n17_ivf_rebalance", "n16_kcenter_seed",
    // q143 rides the two-pass prefixMax (range partition count changes the
    // offset table shape but must not change results); n19 ranks via
    // tie-broken per-query windows + the TopKPerKey bounded heap.
    "q143_skyline", "n19_rank_fusion",
    // x14's native aggregate must merge identically under any partial
    // layout; q147's digest phase must flag the same dirty buckets.
    "x14_log2_hist_agg", "q147_replica_diff",
    // m09 rides the keyed prefix count; q156 stitches per-session
    // collect_lists + a tie-broken top-20; q155's fold must not depend on
    // collect_list arrival order (sort_array is the device under test).
    "m09_batch_assembly", "q156_top_paths", "q155_ewma",
    // round-8 additions: t35 rides the descending-count prefixSum (rank
    // classes must not shift with range partition count); t39's per-round
    // best-pair argmax is a TakeOrdered over partial pair counts (ties
    // broken by (count desc, pair asc), never by partition arrival); d30
    // rolls up the partition-built cluster/pair tables.
    "t35_zipf_fit", "t39_bpe_tokenizer", "d30_cluster_audit",
    // late round-8 additions: t40's per-doc sums ride two hash joins whose
    // build layout must not leak into results; q179's bucket envelopes
    // fold per-partition min/max partials; p11 re-derives the cluster
    // table (cleared per run) and its straddle counts must not depend on
    // how the melt is partitioned.
    "t40_bigram_lm", "q179_layout_compare", "p11_cluster_safe_split",
    "t41_domain_xent", "q180_hilbert_curve",
    // round-9 additions: n22/n23's beam walks rank via tie-broken limits
    // over partition-built unions and their graph build rides TopKPerKey
    // heaps; t42 rides the keyed prefixSum tercile rank; d28's pair
    // counts now verify per-OCCURRENCE before a distinct (the dedupe
    // must not depend on which occurrence survives where); d15's
    // PPJoin prunes are per-occurrence too.
    "n22_graph_ann", "n23_layered_ann", "t42_perplexity_filter",
    "d28_shingle_sweep", "d15_prefix_filter_join",
    // round-10 additions: n24's batched walk unions partition-built hop
    // states and ranks them on keyed heaps; n25 round-trips the index
    // through a parquet write whose file layout varies with parallelism.
    "n24_batched_beam", "n25_index_persist",
    // round-11 additions: n28's per-hop on-demand point fetches must not
    // depend on how the broadcast pair sets partition; q194/q196 fold the
    // derived partsupp's distinct under varying parallelism, q194's
    // min-equality join must return whole tie groups regardless of layout,
    // and q196's distinct-count census must not depend on build layout.
    // (q195 is vacuous here: NATION_9 has no suppliers at sf0.001 — the
    // oracle gate covers it at sf0.01.)
    "n28_ondemand_beam", "q194_tpch_q2", "q196_tpch_q16",
    // round-12 additions: d33's survivorship argmaxes fold partial
    // max_by/min_by states whose merge order varies with layout; t45
    // stitches kept segments via sort_array over collect_list (collect
    // order is partition-dependent — the t30 device under a second
    // driver); t46's LM count tables are built under the active layout
    // and its gain is a sum of joined partials; n31/n32 rank via
    // tie-broken TakeOrdered limits over partition-built scored bases.
    "d33_golden_record", "t45_decontam_rewrite", "t46_dsir_select",
    "n31_dim_sweep", "n32_filter_strategies",
    // round-13 additions: p15's survivor elections fold conditional mins
    // over hash/cluster keys whose partial layout varies; d34 attributes
    // pairs through two joins whose build sides re-partition; p14's
    // cluster fold re-derives the retained components under the active
    // layout (memo cleared per run).
    "p15_curation_funnel", "d34_source_overlap", "p14_takedown_execute",
    // the governance wave: t48's first-occurrence attribution and d35's
    // survivor shares fold partial mins/sums whose merge order varies
    // with layout; n33's histogram buckets exact doubles computed from
    // partition-built fetch joins.
    "t48_source_novelty", "d35_dedup_bias", "n33_cos_histogram")

  private def runClean(name: String): Seq[Seq[String]] = {
    // the dedup, graph-ANN and prefix-sum paths memoize their tables —
    // clear so each run genuinely recomputes under the active parallelism
    SparkEntry.releaseMemos(spark)
    SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toSeq.map(String.valueOf).toSeq).toSeq
  }

  test("results are invariant to shuffle parallelism (4 vs 32)") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    Names.foreach { name =>
      spark.conf.set(key, "4")
      val at4 =
        try runClean(name)
        finally spark.conf.set(key, prev)
      val at32 = runClean(name)
      assert(at4 === at32,
        s"$name produces different rows at 4 vs 32 shuffle partitions " +
          s"(${at4.size} vs ${at32.size} rows)")
      assert(at4.nonEmpty, s"$name returned no rows — invariance check vacuous")
    }
  }

  test("results are invariant to AQE on/off") {
    // AQE re-plans at runtime (coalesced partitions, demoted/promoted join
    // strategies, skew splits) — none of which may change RESULTS. Same
    // battery, adaptive toggled instead of the partition count.
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    Names.foreach { name =>
      spark.conf.set(key, "false")
      val off =
        try runClean(name)
        finally spark.conf.set(key, prev)
      val on = runClean(name)
      assert(off === on,
        s"$name produces different rows with AQE off vs on " +
          s"(${off.size} vs ${on.size} rows)")
    }
  }
}
