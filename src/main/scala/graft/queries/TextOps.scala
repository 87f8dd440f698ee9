package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialized, RunScope, Tables}
import graft.functions.TextHash
import Relational.{dec, decD}

/** Text-analysis suite over the `documents` table (SURVEY §2 Part B q29/q34
  * plus the LLM-pipeline text ops: language-ID, quality scoring, token
  * counting, document fingerprinting).
  *
  * Scale discipline: every op is a per-row expression pipeline (higher-order
  * functions inside whole-stage codegen — no UDFs, no collect), so the plan
  * is scan → project → (optional groupBy). At 100 TB the only shuffles are
  * the final aggregations, which are partial-agg friendly. Determinism
  * discipline for the DuckDB oracle: hashes via md5 (bit-identical across
  * engines, see TextHash), ratios via integer `div`, never raw double math.
  */
object TextOps {

  type Q = (SparkSession, String) => DataFrame

  /** q29: tokenize + global token frequency — the canonical explode/groupBy
    * word count. Partial aggregation makes the shuffle carry one row per
    * (token × partition).
    */
  val q29TextTokens: Q = (s, d) =>
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy("token")

  /** q34: corpus stats by language. */
  val q34TextStats: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        decD(avg(dec(col("n_chars")))).as("avg_chars"),
        decD(sum(dec(col("n_chars")))).as("sum_chars"))
      .orderBy("lang")

  /** Language marker words for the n-gram/stopword language-ID heuristic.
    * Priority order breaks score ties deterministically (en > es > fr > de).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "les", "et", "une"),
    "de" -> Seq("der", "die", "und", "das"))

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** t01: language identification by marker-token counting — the classic
    * stopword-profile heuristic. One `filter` HOF per language over the
    * token array; argmax with fixed priority; 'und' when no marker hits.
    */
  /** t01's marker counts + argmax prediction as reusable columns (t34
    * evaluates the same classifier against the fixture labels).
    */
  private[queries] def langPredicted(df: DataFrame): DataFrame =
    langMarkers.foldLeft(df) {
      case (acc, (lang, ws)) =>
        acc.withColumn(s"c_$lang",
          expr(s"size(filter(split(text, ' '), t -> t IN ${inList(ws)}))"))
    }.withColumn("predicted", expr(
      """CASE
        |  WHEN c_en > 0 AND c_en >= greatest(c_es, c_fr, c_de) THEN 'en'
        |  WHEN c_es > 0 AND c_es >= greatest(c_fr, c_de) THEN 'es'
        |  WHEN c_fr > 0 AND c_fr >= c_de THEN 'fr'
        |  WHEN c_de > 0 THEN 'de'
        |  ELSE 'und'
        |END""".stripMargin))

  val t01LangId: Q = (s, d) =>
    langPredicted(Tables.documents(s, d))
      .select("doc_id", "c_en", "c_es", "c_fr", "c_de", "predicted")
      .orderBy("doc_id")

  /** t34: classifier evaluation — t01's language-ID heuristic scored
    * against the fixture's ground-truth labels as a CONFUSION MATRIX with
    * per-cell recall share (integer permille): the model-eval report
    * every filter/classifier in a data pipeline ships with (you don't
    * deploy a lang-ID gate without its confusion matrix). Two partial-agg
    * groupBys — (label, predicted) cells and per-label totals — with the
    * ≤|langs|-row totals broadcast back onto the cells.
    */
  val t34LangidEval: Q = (s, d) => {
    val pred = langPredicted(Tables.documents(s, d))
      .select(col("lang").as("label"), col("predicted"))
    val totals = pred.groupBy("label").agg(count(lit(1)).as("n_label"))
    pred.groupBy("label", "predicted").agg(count(lit(1)).as("n"))
      .join(broadcast(totals), "label")
      .select(col("label"), col("predicted"), col("n"),
        expr("n * 1000 div n_label").as("share_permille"),
        (col("label") === col("predicted")).as("is_diag"))
      .orderBy("label", "predicted")
  }

  /** Stopword list for the quality score. */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** t02's quality pipeline as reusable columns (d14 consumes doc_id +
    * quality for quality-aware survivor selection). Pure per-row integer
    * arithmetic (`div`) so Spark and DuckDB agree bit-for-bit.
    */
  private[queries] def qualityCols(df: DataFrame): DataFrame =
    df
      .withColumn("n_tokens", expr("size(split(text, ' '))"))
      .withColumn("n_stop",
        expr(s"size(filter(split(text, ' '), t -> t IN ${inList(stopwords)}))"))
      .withColumn("n_long",
        expr("size(filter(split(text, ' '), t -> length(t) >= 6))"))
      .withColumn("len_score",
        expr("least(100L, (cast(length(text) as bigint) * 100) div 400)"))
      .withColumn("stop_pct", expr("(cast(n_stop as bigint) * 100) div n_tokens"))
      .withColumn("long_pct", expr("(cast(n_long as bigint) * 100) div n_tokens"))
      .withColumn("quality", expr("(len_score + (100 - stop_pct) + long_pct) div 3"))

  /** The DuckDB spelling of the same (doc_id, quality) projection — kept
    * NEXT to qualityCols so the two sides evolve together (t02's full
    * oracle and d14's survivor oracle both derive from it).
    */
  private[queries] def duckQuality: String =
    s"""SELECT doc_id,
       |       CAST((CAST(least(100, (length(text) * 100) // 400) AS BIGINT)
       |             + (100 - (n_stop * 100) // n_tokens)
       |             + (n_long * 100) // n_tokens) // 3 AS BIGINT) AS quality
       |FROM (SELECT doc_id, text,
       |             CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       |             CAST(${duckMarkerCount(stopwords)} AS INT) AS n_stop,
       |             CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 6)) AS INT) AS n_long
       |      FROM documents)""".stripMargin

  /** t02: document quality scoring — length, stopword ratio, long-token
    * ratio, folded into a 0–100 score with pure integer arithmetic (`div`)
    * so Spark and DuckDB agree bit-for-bit.
    */
  val t02QualityScore: Q = (s, d) =>
    qualityCols(Tables.documents(s, d))
      .select("doc_id", "n_tokens", "n_stop", "n_long",
              "len_score", "stop_pct", "long_pct", "quality")
      .orderBy("doc_id")

  /** t03: token counting — whitespace tokens vs a BPE-ish regex token count
    * (letter runs / digit runs / single other chars), plus integer
    * chars-per-token. `regexp_count` stays inside codegen.
    */
  val t03TokenCount: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("ws_tokens", expr("size(split(text, ' '))"))
      .withColumn("re_tokens",
        expr("cast(regexp_count(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') as int)"))
      .withColumn("chars_x100_per_token",
        expr("(cast(length(text) as bigint) * 100) div size(split(text, ' '))"))
      .select("doc_id", "ws_tokens", "re_tokens", "chars_x100_per_token")
      .orderBy("doc_id")

  /** t04: document fingerprinting — winnowing-style: hash every 8-token
    * shingle (rolling window) with md5, keep the minimum digest as the doc
    * fingerprint. Equal fingerprints → near-dup candidates. Docs shorter
    * than 8 tokens fingerprint their whole text (slice truncates).
    * Relational shape (explode → codegen md5 → min aggregate) — see
    * Dedup.d01 for why this beats array HOFs.
    */
  val t04Fingerprint: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(TextHash.sparkShinglesOf("tokens", 8))).as("shingle"))
      .groupBy("doc_id")
      .agg(min(md5(col("shingle").cast("binary"))).as("fingerprint"))
      .orderBy("doc_id")

  /** t48: per-source shingle NOVELTY — the "which source actually adds new
    * content" report a mixture designer reads next to d34's overlap
    * matrix (d34 counts near-dup PAIRS; t48 measures content novelty at
    * the shingle level, which catches partial overlap no pair threshold
    * fires on): every doc's 8-token shingles (t04's grid — the dedup
    * family's own unit) attribute their GLOBAL first occurrence (min
    * doc_id corpus-wide) to that doc's source; per source the report
    * gives distinct shingles, novel shingles (first occurrence lives
    * here), the novelty share in bp, and the corpus-wide occurrence mass
    * of the shingles it introduced. A
    * source that is pure re-crawl scores near zero; a source of unique
    * long-form text scores near 10000.
    * Scale shape: one explode + two partial-agg groupBys (per-shingle
    * min, then the source rollup) + one narrow broadcast-able join of
    * (doc_id, source) — the same asymptotics as t04/t05.
    */
  val t48SourceNovelty: Q = (s, d) => {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val sh = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(TextHash.sparkShinglesOf("tokens", 8))).as("shingle"))
    val occ = sh.groupBy("shingle").agg(
      min("doc_id").as("first_doc"), count(lit(1)).as("n_occ"))
    val perSource = sh.select("doc_id", "shingle").distinct()
      .join(src, "doc_id")
      .groupBy("source").agg(countDistinct("shingle").as("n_shingles"))
    val novel = occ.join(src.withColumnRenamed("doc_id", "first_doc"),
        "first_doc")
      .groupBy("source").agg(
        count(lit(1)).as("n_novel"), sum("n_occ").as("occ_mass"))
    perSource.join(novel, "source")
      .select(col("source"), col("n_shingles"), col("n_novel"),
        expr("n_novel * 10000 div n_shingles").as("novelty_bp"),
        col("occ_mass"))
      .orderBy("source")
  }

  /** t05: TF-IDF scoring, integer-scaled — tf per (doc, token), df per
    * token, idf as the exact integer (N·100) div df (a log-free IDF
    * variant: same ranking monotonicity, zero float divergence between
    * engines). Shapes: one explode + two partial-agg groupBys + a key join
    * and a broadcast of the single-row corpus count — every piece is the
    * 100 TB-safe spelling.
    */
  val t05Tfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(
        col("doc_id"), col("token"), col("tf"), col("df"),
        expr("tf * ((n_docs * 100) div df)").as("tfidf100"))
      .orderBy("doc_id", "token")
  }

  /** t23: top-k keywords per document. */
  val KeywordsK = 3

  /** t23: per-document keyword extraction — the top-k terms by the t05
    * integer TF-IDF (the "what is this document about" signal used for
    * topic labeling, domain routing and retrieval-index metadata). The
    * per-doc top-k runs on the custom TopKPerKey bounded-heap operator
    * (partial heaps before the shuffle, k rows per doc held per
    * partition) — never a per-doc sort or a row_number window that ships
    * whole score groups to one task. Everything upstream is t05's
    * 100 TB-safe shapes: one explode, two partial-agg groupBys, a key
    * join, one broadcast scalar.
    */
  val t23Keywords: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
              expr("tf * ((n_docs * 100) div df)").as("tfidf100"))
    graft.plans.TopKPerKey(scored, Seq("doc_id"),
        Seq(("tfidf100", false), ("token", true)), KeywordsK)
      .select("doc_id", "token", "tfidf100")
      .orderBy(col("doc_id"), col("tfidf100").desc, col("token"))
  }

  /** t06: text normalization pipeline — lowercase, strip non-alphanumerics,
    * tokenize, drop stopwords/empties; emits the cleaned token count and
    * the first five cleaned tokens (scalar outputs for the oracle).
    */
  val t06Normalize: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("clean", expr("regexp_replace(lower(text), '[^a-z0-9 ]', '')"))
      .withColumn("ctoks",
        expr(s"filter(split(clean, ' '), t -> t != '' AND NOT t IN ${inList(stopwords)})"))
      .select(
        col("doc_id"),
        expr("cast(size(ctoks) as int)").as("n_clean"),
        expr("array_join(slice(ctoks, 1, 5), ' ')").as("head5"))
      .orderBy("doc_id")

  /** Token budget per packed training sequence (t07). */
  val PackBudget = 4096L

  /** Releases the query scope's caches, prefixSum's ranged shards among
    * them (see [[RunScope.query]]).
    */
  def releasePrefixSumCaches(): Unit = RunScope.query.release()

  /** Distributed prefix sum of `valueCol` in `orderCol` order — the
    * two-pass range-partitioned spelling that replaces the naive global
    * `Window.orderBy(...)` (which Spark executes as a SINGLE partition —
    * the one shape that cannot survive 100 TB):
    *   1. `repartitionByRange` on the order key, then a PER-PARTITION
    *      window computes local prefix sums in parallel;
    *   2. per-partition totals (one row per partition — metadata-scale)
    *      get their own prefix sum and are broadcast back as offsets.
    * No driver collect anywhere; the result is identical to the global
    * window under any partition count because the ranges are ordered and
    * the sums are exact integers. Requires a unique order key within each
    * key group (ties could split across range boundaries).
    *
    * `keyCols` generalizes the sum to PER-KEY prefix sums (SQL
    * `PARTITION BY k ORDER BY v`) without ever giving one key to one task:
    * ranges are taken over (keys, order), local windows group by
    * (_pid, keys), and the offset table — one row per (partition, key
    * slice touching that partition), still metadata-scale — gets its
    * per-key prefix sum from a window over `_pid` alone.
    *
    * The range count is the session's shuffle parallelism (round-3
    * verdict item 3 — a hard-coded 32 would under-partition a real
    * cluster). `owner` holds the ranged-shard cache: the query scope, or
    * the caller's own [[RunScope.Caches]] when it releases its caches
    * before returning (x15).
    */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
                outCol: String, includeCurrent: Boolean,
                keyCols: Seq[String] = Nil,
                owner: RunScope.Caches = RunScope.query)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val upper = if (includeCurrent) 0L else -1L
    // cache: BOTH passes (local sums + per-partition totals) read the
    // ranged table; without it the upstream plan runs twice. At 100 TB
    // this materialization is the written range-ordered shard table.
    // Lifetime is one query: `owner` (the query scope unless the caller
    // passes its own) holds it until the result has been read.
    val ranged = owner.cache(
      df.repartitionByRange(parts, (keyCols :+ orderCol).map(col): _*)
        .withColumn("_pid", spark_partition_id()))
    val wLocal = Window.partitionBy(("_pid" +: keyCols).map(col): _*)
      .orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, upper)
    val local = ranged.withColumn("_loc",
      coalesce(sum(col(valueCol).cast("bigint")).over(wLocal), lit(0L)))
    // `pmod(_pid, 1)` partition key: same single-reducer execution (correct
    // here — the input is ≤ `parts` rows per key-slice, metadata-scale),
    // but a DEFINED partition spec that survives the optimizer, so
    // WindowExec doesn't emit its global-window WARN into every driver log
    // for a window that is bounded by design (lit(0) and `_pid * 0` are
    // both simplified away, putting the spurious WARN back).
    val wOff = Window.partitionBy(pmod(col("_pid"), lit(1)) +: keyCols.map(col): _*)
      .orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(("_pid" +: keyCols).map(col): _*)
      .agg(sum(col(valueCol).cast("bigint")).as("_t"))
      .withColumn("_off", coalesce(sum("_t").over(wOff), lit(0L)))
      .select(("_pid" +: keyCols :+ "_off").map(col): _*)
      // one row per (partition, key-slice): the windows above run over
      // ~`parts` rows per key — metadata-scale, broadcastable
    local.join(broadcast(offsets), "_pid" +: keyCols)
      .withColumn(outCol, col("_loc") + col("_off"))
      .drop("_pid", "_loc", "_off")
  }

  /** Distributed prefix MAX of `valueCol` in `orderCol` order — the
    * running-max sibling of [[prefixSum]], same two-pass range-partitioned
    * shape (local per-partition window + metadata-scale broadcast offsets),
    * never a global single-partition window. `descending = true` scans the
    * order key high→low, which makes this a SUFFIX max of the ascending
    * order — the primitive behind skyline/Pareto pruning (q143). Rows with
    * no preceding row (under `includeCurrent = false`) get NULL, exactly
    * like `max(...) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING
    * AND 1 PRECEDING)`; `greatest` skips the NULL legs (local/offset)
    * without collapsing genuine values. Exact `bigint` values only, so the
    * result is identical under any partition count.
    */
  def prefixMax(df: DataFrame, orderCol: String, valueCol: String,
                outCol: String, includeCurrent: Boolean,
                descending: Boolean = false,
                owner: RunScope.Caches = RunScope.query)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val upper = if (includeCurrent) 0L else -1L
    def ord = if (descending) col(orderCol).desc else col(orderCol).asc
    // cache: both passes read the ranged table (same contract as prefixSum,
    // including its owner).
    val ranged = owner.cache(df.repartitionByRange(parts, ord)
      .withColumn("_pid", spark_partition_id()))
    val wLocal = Window.partitionBy(col("_pid")).orderBy(ord)
      .rowsBetween(Window.unboundedPreceding, upper)
    val local = ranged.withColumn("_loc",
      max(col(valueCol).cast("bigint")).over(wLocal))
    // `pmod(_pid, 1)`: the sanctioned metadata-scale offsets window — one
    // row per partition (see prefixSum + the PlanSpec audit allowlist).
    val wOff = Window.partitionBy(pmod(col("_pid"), lit(1))).orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("_pid"))
      .agg(max(col(valueCol).cast("bigint")).as("_t"))
      .withColumn("_off", max("_t").over(wOff))
      .select("_pid", "_off")
    local.join(broadcast(offsets), Seq("_pid"))
      .withColumn(outCol, greatest(col("_loc"), col("_off")))
      .drop("_pid", "_loc", "_off")
  }

  /** t47: LENGTH-BUCKETED batching report (sequence bucketing) — the
    * padding-efficiency answer behind the other batching policy: t07
    * PACKS documents into fixed token budgets (no padding, loses example
    * boundaries); the alternative production batchers use is to bucket
    * by length and pad to the bucket ceiling. Each doc lands in its
    * power-of-two token bucket (ceiling = bit-length arithmetic — for a
    * doc of n tokens the ceiling is 2^(bitlen(n−1)), the next power of
    * two, engine-exact via `length(bin(n-1))`), and the report prices the
    * policy per bucket — docs, real tokens, padded tokens (docs ×
    * ceiling), waste in bp — plus what the SAME batch would waste
    * unbucketed (every doc padded to the global max: the one-bucket
    * baseline that motivates bucketing). Scale shape: the per-doc bucket
    * is map-side arithmetic, the report one partial-agg groupBy over
    * O(log max_len) buckets, and the global max rides the one-row
    * broadcast cross join.
    */
  val t47LengthBuckets: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("ceiling", expr(
        "IF(n_tokens = 1, cast(1 as bigint), " +
          "shiftleft(cast(1 as bigint), length(bin(n_tokens - 1))))"))
    val gmax = docs.agg(max("n_tokens").as("max_tokens"))
    docs.crossJoin(broadcast(gmax))
      .groupBy("ceiling")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("real_tokens"),
        max("max_tokens").as("mt"))
      .select(col("ceiling"), col("n_docs"), col("real_tokens"),
        expr("n_docs * ceiling").as("padded_tokens"),
        expr("(n_docs * ceiling - real_tokens) * 10000 div (n_docs * ceiling)")
          .as("waste_bp"),
        expr("(n_docs * mt - real_tokens) * 10000 div (n_docs * mt)")
          .as("unbucketed_waste_bp"))
      .orderBy("ceiling")
  }

  /** t07: training-sequence packing — assign documents (in doc_id order) to
    * fixed-token-budget bins by cumulative token count, the deterministic
    * sequential-packing policy an LLM data pipeline applies before writing
    * training shards. The running sum is the range-partitioned two-pass
    * [[prefixSum]] (NOT a global `Window.orderBy`, which single-partitions
    * at any scale), and the policy is reproducible under any partitioning
    * because it depends only on the total order.
    */
  val t07SeqPacking: Q = (s, d) => {
    val withTokens = Tables.documents(s, d)
      .withColumn("n_tokens", expr("size(split(text, ' '))"))
    prefixSum(withTokens, "doc_id", "n_tokens", "cum_before",
        includeCurrent = false)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        expr(s"cum_before div $PackBudget").as("bin"))
      .orderBy("doc_id")
  }

  /** t36: packing-efficiency report — per t07 bin: documents, tokens,
    * fill factor (permille of [[PackBudget]]) and the straddle flag (the
    * bin whose LAST doc's span crosses the budget boundary — the doc a
    * sequential packer truncates or spills). Padding waste is a direct
    * training-cost multiplier, so this is the report that justifies (or
    * indicts) the packing policy. One partial-agg groupBy over t07's
    * assignment — the prefix-sum pass is the only corpus-scale work.
    */
  val t36PackEfficiency: Q = (s, d) => {
    val packed = {
      val withTokens = Tables.documents(s, d)
        .withColumn("n_tokens", expr("size(split(text, ' '))"))
      prefixSum(withTokens, "doc_id", "n_tokens", "cum_before",
        includeCurrent = false)
        .select(col("doc_id"), col("n_tokens"), col("cum_before"),
          expr(s"cum_before div $PackBudget").as("bin"))
    }
    packed.groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        max(col("cum_before") + col("n_tokens")).as("span_end"))
      .select(col("bin"), col("n_docs"), col("n_tokens"),
        expr(s"n_tokens * 1000 div $PackBudget").as("fill_permille"),
        (col("span_end") > (col("bin") + 1) * PackBudget).as("straddles"))
      .orderBy("bin")
  }

  /** t08: repetition-quality rule (the Gopher-style duplicate-n-gram
    * filter) — per document: bigram count, distinct bigram count, the top
    * single bigram's frequency, and the duplicate-bigram fraction in exact
    * parts-per-million (integer `div`, no float). High dup_ppm → boilerplate
    * / template text a pretraining pipeline drops. Shape: explode bigrams →
    * two partial-agg groupBys — the same 100 TB-safe spelling as t05.
    */
  val t08Repetition: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(TextHash.sparkShinglesOf("tokens", 2))).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
           count(lit(1)).as("n_distinct"),
           max("c").as("top_count"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"), col("top_count"),
        expr("((n_bigrams - n_distinct) * 1000000) div n_bigrams").as("dup_ppm"))
      .orderBy("doc_id")

  /** Quality gate + minimum cleaned length for the composed pipeline. */
  val PipelineMinClean = 5
  val PipelineMinQuality = 50L

  /** p01: the composed corpus pipeline — the end-to-end shape an LLM
    * pretraining prep actually runs, as ONE declarative plan: normalize
    * (t06) → quality-score and gate (t02) → exact-dedup on the NORMALIZED
    * text (q32's min-survivor discipline — normalization first is what
    * catches trivial reformattings) → pack survivors into token-budget
    * bins via the range-partitioned [[prefixSum]] (t07). Composing the
    * suite proves the operators are closed under composition: one source
    * scan feeds every stage, with the prefix sum's ranged table as the
    * only materialized intermediate.
    */
  val p01CorpusPipeline: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(s, d)
      .withColumn("clean", expr("regexp_replace(lower(text), '[^a-z0-9 ]', '')"))
      .withColumn("ctoks",
        expr(s"filter(split(clean, ' '), t -> t != '' AND NOT t IN ${inList(stopwords)})"))
      .withColumn("n_clean", expr("cast(size(ctoks) as int)"))
      .withColumn("n_tokens", expr("size(split(text, ' '))"))
      .withColumn("n_stop",
        expr(s"size(filter(split(text, ' '), t -> t IN ${inList(stopwords)}))"))
      .withColumn("n_long",
        expr("size(filter(split(text, ' '), t -> length(t) >= 6))"))
      .withColumn("quality", expr(
        """(least(100L, (cast(length(text) as bigint) * 100) div 400)
          | + (100 - (cast(n_stop as bigint) * 100) div n_tokens)
          | + (cast(n_long as bigint) * 100) div n_tokens) div 3""".stripMargin))
      .filter(col("n_clean") >= PipelineMinClean &&
              col("quality") >= PipelineMinQuality)
      .withColumn("norm_text", expr("array_join(ctoks, ' ')"))
    val kept = scored
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("norm_text")))
      .filter(col("doc_id") === col("keeper"))
    prefixSum(kept, "doc_id", "n_clean", "cum_before", includeCurrent = false)
      .select(col("doc_id"), col("n_clean"), col("quality"),
        expr(s"cum_before div $PackBudget").as("bin"))
      .orderBy("doc_id")
  }

  /** Per-class sample size for t09. */
  val SamplePerClass = 50

  /** t09: balanced per-class sampling — a fixed-size deterministic sample
    * per language, ordered by md5 of the id (the same reproducible-split
    * discipline as q39's hash sampling, but STRATIFIED: class-balancing a
    * skewed corpus is how eval/finetune sets are drawn). One window per
    * class partition — no global shuffle, no RNG seed to disagree on.
    */
  val t09BalancedSample: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(expr("md5(cast(doc_id as string))"), col("doc_id"))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SamplePerClass)
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy("doc_id")
  }

  /** Shingle width for the decontamination check (3 = recall-heavy
    * screening; production suites use 8–13-gram exact match, same shape —
    * 3 here so the diffuse sf corpus yields a non-trivial flagged set for
    * the value-level oracle).
    */
  val ContamShingleK = 3

  /** t10: benchmark decontamination — flag corpus documents sharing any
    * 3-token shingle with a benchmark set (here: doc_id < 5 stands in for
    * the eval set), with the shared-shingle count as evidence. The
    * benchmark's shingle set is tiny and BROADCAST; the corpus is touched
    * once through an exploded shingle stream + one partial-agg groupBy —
    * the only shape that decontaminates 100 TB against a fixed eval suite.
    */
  val t10Decontaminate: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(${TextHash.sparkShinglesOf("tokens", ContamShingleK)})"))
          .as("shingle"))
    val bench = sh.filter(col("doc_id") < 5).select("shingle").distinct()
    sh.filter(col("doc_id") >= 5)
      .join(broadcast(bench), "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** t45: surgical benchmark DECONTAMINATION — completes t10's contract
    * the way t30 completes t14's: t10 only FLAGS contaminated documents
    * (and the blunt fix drops them whole); t45 removes exactly the
    * benchmark-overlapping token spans and re-emits the cleaned document,
    * keeping the rest of the text in the training set (the surgical
    * rewrite the Lee-et-al./Llama decontamination protocols run). Every
    * corpus position whose [[ContamShingleK]]-token shingle appears in
    * the broadcast benchmark shingle set (t10's set: doc_id < 5) opens a
    * K-token contaminated span; spans merge into maximal islands (t30's
    * interval fold, over TOKEN indices), the kept gaps + tail re-stitch
    * in order, and the audit row carries span/token-removal counts, the
    * cleaned token count and the cleaned-text hash — the hash match
    * proves both engines kept the IDENTICAL tokens in the identical
    * order. Scale shapes are t30's: the benchmark set broadcasts, the
    * corpus is touched once through the exploded shingle stream, interval
    * merging and stitching are windows/aggregations PARTITIONED BY doc_id
    * (state bounded by one document), and uncontaminated docs — at 100 TB
    * almost all of them — bypass reconstruction via the anti join.
    */
  val t45DecontamRewrite: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val K = ContamShingleK
    val docs = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tokens")).cast("long"))
    val corpus = docs.filter(col("doc_id") >= 5)
      .select("doc_id", "tokens", "n_tokens")
    val bench = docs.filter(col("doc_id") < 5)
      .select(explode(expr(
        s"array_distinct(${TextHash.sparkShinglesOf("tokens", K)})"))
        .as("shingle"))
      .distinct()
    val sh = corpus
      .select(col("doc_id"), col("n_tokens"),
        posexplode(expr(TextHash.sparkShinglesOf("tokens", K))))
      .withColumnRenamed("col", "shingle")
    val spans = sh.join(broadcast(bench), "shingle")
      .select(col("doc_id"),
        (col("pos") + 1).cast("long").as("ss"),
        least(col("pos") + 1 + lit(K), col("n_tokens") + 1).as("se"))
    val ord = Window.partitionBy("doc_id").orderBy("ss")
    val merged = spans
      .withColumn("prev_max",
        max(col("se")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("prev_max").isNull || col("ss") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("is_new")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("ss")).as("ss"), max(col("se")).as("se"))
    val gaps = merged
      .select(col("doc_id"), lag(col("se"), 1, 1L).over(ord).as("gs"),
        col("ss").as("ge"))
    val tails = merged.groupBy("doc_id").agg(max(col("se")).as("gs"))
      .join(corpus.select("doc_id", "n_tokens"), "doc_id")
      .select(col("doc_id"), col("gs"), (col("n_tokens") + 1).as("ge"))
    val cleaned = gaps.unionByName(tails)
      .join(corpus.select("doc_id", "tokens"), "doc_id")
      .select(col("doc_id"), col("gs"),
        expr("slice(tokens, cast(gs as int), cast(ge - gs as int))").as("seg"))
      .groupBy("doc_id")
      .agg(expr(
        "array_join(flatten(transform(sort_array(collect_list(struct(gs, seg))), x -> x.seg)), ' ')")
        .as("cleaned"))
    val stats = merged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("se") - col("ss")).as("tokens_removed"))
    val rewritten = cleaned.join(stats, "doc_id")
      .join(corpus.select("doc_id", "n_tokens"), "doc_id")
    val untouched = corpus
      .join(stats.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), expr("array_join(tokens, ' ')").as("cleaned"),
        lit(0L).as("n_spans"), lit(0L).as("tokens_removed"), col("n_tokens"))
    rewritten.unionByName(untouched)
      .select(col("doc_id"), col("n_spans"), col("tokens_removed"),
        (col("n_tokens") - col("tokens_removed")).as("clean_tokens"),
        expr(TextHash.sparkHash56("cleaned")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** t37: benchmark LEAKAGE rate — t10's inverse direction: instead of
    * flagging corpus docs, score each BENCHMARK document by what fraction
    * of its shingles already exist in the training corpus ("how much of
    * this eval is memorizable"), the per-item leakage report an eval team
    * reads before trusting a score. The corpus's shingle vocabulary is
    * deduped once (the big side, one partial-agg distinct); each
    * benchmark doc's shingles probe it with a LEFT join + partial-agg
    * counts — the benchmark side is tiny, so the probe is
    * broadcast-friendly in either direction. Integer permille.
    */
  val t37BenchmarkLeakage: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(${TextHash.sparkShinglesOf("tokens", ContamShingleK)})"))
          .as("shingle"))
    val corpusVocab = sh.filter(col("doc_id") >= 5)
      .select("shingle").distinct()
      .withColumn("in_corpus", lit(1L))
    sh.filter(col("doc_id") < 5)
      .join(corpusVocab, Seq("shingle"), "left")
      .groupBy(col("doc_id").as("bench_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("in_corpus"), lit(0L))).as("n_leaked"))
      .select(col("bench_id"), col("n_shingles"), col("n_leaked"),
        expr("n_leaked * 1000 div n_shingles").as("leak_permille"))
      .orderBy("bench_id")
  }

  /** t38: source-vocabulary overlap — pairwise shingle-vocabulary
    * Jaccard between SOURCES (d18 measures document overlap; this
    * measures *stylistic/domain* kinship at the source level — the
    * input to "which crawls are near-mirrors" merge decisions). Each
    * source's vocabulary dedups to one (source, shingle) presence set;
    * the pair census is a self-join on the shingle key whose fan-out is
    * bounded by |sources|² per shingle — the ENTITY count (metadata-
    * scale, 20 here), not the corpus, which is why the source-level
    * matrix stays cheap where the document-level one needs d15's
    * machinery. Integer permille Jaccard.
    */
  val t38SourceVocabOverlap: Q = (s, d) => {
    val sv = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("source"),
        explode(expr(s"array_distinct(${TextHash.sparkShinglesOf("tokens", ContamShingleK)})"))
          .as("sh"))
      .distinct()
    val sizes = sv.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = sv.select(col("source").as("s1"), col("sh"))
      .join(sv.select(col("source").as("s2"), col("sh")), Seq("sh"))
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("s1"), col("sz").as("n1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("sz").as("n2"))), "s2")
      .select(col("s1"), col("s2"), col("inter"), col("n1"), col("n2"),
        expr("inter * 1000 div (n1 + n2 - inter)").as("jaccard_permille"))
      .orderBy("s1", "s2")
  }

  /** t11: quality-weighted deterministic sampling — keep each document with
    * probability ∝ its weight (here n_chars/1000, the "sample longer docs
    * more" policy; real pipelines weight by a quality score). The coin is
    * md5-derived (hash56(doc_id) % 1000 < weight): reproducible across
    * engines, runs, and cluster sizes, and integer-exact — the
    * weighted-Bernoulli the deterministic counterpart of `rand() < p`,
    * which can never hash-match a replay. Pure map-side filter, no
    * shuffle.
    */
  val t11WeightedSample: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("draw",
        expr(s"${TextHash.sparkHash56("cast(doc_id as string)")} % 1000"))
      .filter(col("draw") < col("n_chars"))
      .select(col("doc_id"), col("n_chars"), col("draw"))
      .orderBy("doc_id")

  /** Chunking geometry: 32-token windows every 16 tokens (50 % overlap) —
    * the context-window chunking a training/RAG pipeline applies before
    * embedding; tail windows shorter than the stride are kept (policy
    * pinned by the oracle).
    */
  val ChunkTokens = 32
  val ChunkStride = 16

  /** t12: sliding-window document chunking — explode each document into
    * overlapping token windows with a per-chunk content hash. One explode
    * (≤ ⌈len/stride⌉ rows per doc), all tokenization/slicing/hashing in
    * per-row codegen'd expressions, no shuffle until the output sort —
    * chunking 100 TB is embarrassingly parallel and this shape keeps it
    * that way.
    */
  val t12ChunkSliding: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("start",
        explode(expr(s"sequence(1, size(toks), $ChunkStride)")))
      .select(col("doc_id"),
        expr(s"cast((start - 1) div $ChunkStride as int)").as("chunk_no"),
        expr(s"size(slice(toks, start, $ChunkTokens))").as("chunk_toks"),
        expr(TextHash.sparkHash56(
          s"array_join(slice(toks, start, $ChunkTokens), ' ')")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_no")

  /** Per-source token budget for t13 (~half of each source's ≈1300 tokens
    * at sf0.01, so the cap genuinely drops documents).
    */
  val DomainBudgetTokens = 700L

  /** t13: per-domain token-budget cap — the domain-mixing operator: within
    * each source, documents are taken in deterministic md5 order until the
    * source's token budget is exhausted (so no single domain floods the
    * training mix). The running token count is the keyed range-partitioned
    * [[prefixSum]] — per-source cum-sums with NO one-task-per-source
    * window, the same skew-proof shape as t07/q80. Budget comparison on
    * the cumulative count keeps every accepted document's evidence in the
    * output.
    */
  val t13DomainBudget: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("ntoks", size(split(col("text"), " ")).cast("bigint"))
      .withColumn("ord",
        expr(TextHash.sparkHash56("cast(doc_id as string)")))
    val cum = prefixSum(docs, "ord", "ntoks", "cum_toks",
      includeCurrent = true, keyCols = Seq("source"))
    cum.filter(col("cum_toks") <= DomainBudgetTokens)
      .select(col("doc_id"), col("source"), col("ntoks"), col("cum_toks"))
      .orderBy("source", "cum_toks")
  }

  /** Substring-dedup window geometry: 60-char windows every 20 chars.
    * Production exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") uses ~50-token windows
    * over a suffix array; the distributed spelling below keeps the same
    * contract — find every fixed-width span whose exact bytes recur across
    * documents — with shuffle-friendly hashing instead of a global suffix
    * array.
    */
  val SubstrWindow = 60
  val SubstrStride = 20

  /** t14: exact duplicated-substring detection — for each document, how
    * many of its 60-char windows (stride 20) appear verbatim in ANOTHER
    * document. Windows are hashed per-row in codegen (one md5 per window,
    * never the raw 60-char string on the shuffle wire), cross-doc
    * recurrence is one partial-agg groupBy over the hash, and the verdict
    * joins back hash-to-hash — both shuffles key on the 56-bit hash, so
    * the work is uniformly spread no matter how skewed document contents
    * are. At 100 TB this is the scalable stand-in for suffix-array dedup:
    * windows-with-ndocs≥2 is exactly the "duplicated span" table a
    * span-removal pass would consume downstream.
    */
  val t14SubstringDedup: Q = (s, d) => {
    val w = Tables.documents(s, d)
      .withColumn("p",
        explode(expr(
          s"sequence(1, greatest(1, length(text) - ${SubstrWindow - 1}), $SubstrStride)")))
      .select(col("doc_id"),
        expr(TextHash.sparkHash56(s"substring(text, p, $SubstrWindow)")).as("h"))
    val dup = w.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("h").as("dh"))
    w.join(dup, w("h") === dup("dh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
           count(col("dh")).as("n_dup_windows"))
      .orderBy("doc_id")
  }

  /** t30: duplicated-span REMOVAL — completes t14's contract: t14 only
    * *detects* duplicated 60-char windows; t30 merges each document's
    * flagged windows into maximal spans (classic interval merging: a span
    * opens a new island exactly when its start clears the running max of
    * previous ends) and re-emits the CLEANED document — retained-segment
    * stitching, with span/char-removal audit columns — the actual
    * ExactSubstr deletion step of Lee et al. 2022.
    *
    * Scale shapes: window hashing and recurrence are t14's (both shuffles
    * key on the uniform 56-bit hash); interval merging and stitching are
    * windows/aggregations PARTITIONED BY doc_id — state bounded by one
    * document's span count, never corpus-scale; docs with no duplicated
    * span bypass reconstruction entirely via a LEFT ANTI join (at 100 TB
    * that's most of the corpus — they are never re-stitched, just
    * re-emitted).
    */
  val t30SpanRemoval: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val w = docs
      .withColumn("p", explode(expr(
        s"sequence(1, greatest(1, length(text) - ${SubstrWindow - 1}), $SubstrStride)")))
      .select(col("doc_id"), col("p"), col("len"),
        expr(TextHash.sparkHash56(s"substring(text, p, $SubstrWindow)")).as("h"))
    val dup = w.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("h")
    val spans = w.join(dup, "h")
      .select(col("doc_id"), col("p").as("ss"),
        least(col("p") + lit(SubstrWindow), col("len") + lit(1)).as("se"))
    val ord = Window.partitionBy("doc_id").orderBy("ss")
    val merged = spans
      .withColumn("prev_max",
        max(col("se")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("prev_max").isNull || col("ss") > col("prev_max"), 1L).otherwise(0L))
      .withColumn("island",
        sum(col("is_new")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("ss")).as("ss"), max(col("se")).as("se"))
    // kept segments: the gap before each merged span + the tail after the
    // last one (gs < ss strictly inside a doc — islands are separated by
    // construction; zero-length tails stitch as '')
    val gaps = merged
      .select(col("doc_id"),
        lag(col("se"), 1, 1).over(ord).as("gs"), col("ss").as("ge"))
    val tails = merged.groupBy("doc_id").agg(max(col("se")).as("gs"))
      .join(docs.select("doc_id", "len"), "doc_id")
      .select(col("doc_id"), col("gs"), (col("len") + lit(1)).as("ge"))
    val cleanedSpanned = gaps.unionByName(tails)
      .join(docs.select("doc_id", "text"), "doc_id")
      .select(col("doc_id"), col("gs"),
        expr("substring(text, gs, ge - gs)").as("seg"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("gs"), col("seg"))).as("segs"))
      .select(col("doc_id"),
        expr("array_join(transform(array_sort(segs), x -> x.seg), '')").as("cleaned"))
    val stats = merged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
           sum((col("se") - col("ss")).cast("bigint")).as("chars_removed"))
    val spanned = cleanedSpanned.join(stats, "doc_id")
      .select("doc_id", "n_spans", "chars_removed", "cleaned")
    val untouched = docs
      .join(merged.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit(0L).as("n_spans"), lit(0L).as("chars_removed"),
        col("text").as("cleaned"))
    spanned.unionByName(untouched)
      .select(col("doc_id"), col("n_spans"), col("chars_removed"),
        length(col("cleaned")).as("clean_len"),
        expr(TextHash.sparkHash56("cleaned")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** p02: corpus mixture report — per (lang, source) document/token counts
    * and each cell's share of the total token budget in basis points. This
    * is the planning table a data-mixing pipeline reads before sampling
    * ("web is 62 % of tokens, wiki 3 %…"). One partial-agg groupBy; the
    * grand total rides a broadcast single-row cross join, NOT an
    * all-partitions window — the grouped table is tiny at any corpus
    * scale, the input is touched once. Share math is integer basis points
    * (x10000 div), exact on both engines.
    */
  val p02MixtureReport: Q = (s, d) => {
    val g = Tables.documents(s, d)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
           sum(size(split(col("text"), " ")).cast("bigint")).as("n_tokens"))
    val tot = g.agg(sum(col("n_tokens")).as("tot"))
    g.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
              expr("n_tokens * 10000 div tot").as("share_bp"))
      .orderBy("lang", "source")
  }

  /** PII patterns, escape-free so the same literal text compiles in Java
    * regex (Spark) and RE2 (DuckDB): character classes only, no `\d`/`\b`.
    */
  val EmailRe = "[a-z0-9]+@[a-z]+[.][a-z]+"
  val CardRe = "[0-9]{16}"

  /** t15: PII redaction — scrub emails and 16-digit card numbers from the
    * corpus, reporting per-doc match counts plus a hash of the cleaned
    * text (the audit columns a compliance pass emits). The synthetic
    * corpus contains no PII, so both engines PLANT it deterministically
    * from doc_id (2/3 of docs get an email, 1/2 a card number) — the
    * planted string is the pinned input, the redaction is the operator
    * under test. Pure per-row regex work in codegen, no shuffle before
    * the sort: scrubbing is embarrassingly parallel at 100 TB, which is
    * why it must never be a collect-and-clean step.
    */
  val t15PiiRedact: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("dirty", expr(
        """concat(text,
          |  CASE WHEN doc_id % 3 > 0
          |       THEN concat(' contact user', cast(doc_id as string), '@mail.com')
          |       ELSE '' END,
          |  CASE WHEN doc_id % 2 = 0
          |       THEN concat(' card ', cast(4000000000000000 + doc_id as string))
          |       ELSE '' END)""".stripMargin))
      .select(col("doc_id"),
        expr(s"regexp_count(dirty, '$EmailRe')").as("n_emails"),
        expr(s"regexp_count(dirty, '$CardRe')").as("n_cards"),
        expr(s"""length(regexp_replace(regexp_replace(dirty,
                |  '$EmailRe', '<EMAIL>'), '$CardRe', '<CARD>'))""".stripMargin)
          .as("clean_len"),
        expr(TextHash.sparkHash56(
          s"""regexp_replace(regexp_replace(dirty,
             |  '$EmailRe', '<EMAIL>'), '$CardRe', '<CARD>')""".stripMargin))
          .as("clean_hash"))
      .orderBy("doc_id")

  /** URL pattern, escape-free like the PII patterns: character classes
    * only, identical byte-for-byte semantics in Java regex and RE2.
    */
  val UrlRe = "https?://[a-z0-9./]+"

  /** t16: URL extraction + registered-domain stats — the Common-Crawl-style
    * provenance rollup (which domains feed the corpus, how many docs, how
    * much is https). The synthetic corpus has no URLs, so both engines
    * PLANT them deterministically from doc_id (the t15 discipline: the
    * planted string is the pinned input, the extraction is the operator
    * under test). Per-row regex extraction runs in codegen — embarrassingly
    * parallel — and the only shuffle is the final partial-agg groupBy over
    * O(domains) keys, so the shape is flat at 100 TB.
    */
  val t16UrlExtract: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("dirty", expr(
        """concat(text,
          |  CASE WHEN doc_id % 4 > 0
          |       THEN concat(' see https://www.site', cast(doc_id % 7 as string),
          |                   '.example', cast(doc_id % 5 as string),
          |                   '.com/p/', cast(doc_id as string))
          |       ELSE '' END,
          |  CASE WHEN doc_id % 6 = 0
          |       THEN concat(' via http://cdn.example', cast(doc_id % 5 as string),
          |                   '.com/static/x.js')
          |       ELSE '' END)""".stripMargin))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("dirty"), lit(UrlRe), lit(0))).as("url"))
      .select(col("doc_id"), col("url"),
        regexp_extract(col("url"), "https?://([a-z0-9.]+)", 1).as("host"))
      .withColumn("domain", regexp_extract(col("host"), "[a-z0-9]+[.][a-z]+$", 0))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
           countDistinct(col("doc_id")).as("n_docs"),
           sum(when(col("url").startsWith("https"), 1L).otherwise(0L)).as("n_https"))
      .orderBy("domain")

  /** Tokens per "line" for t17 (the corpus is single-line, so lines are
    * fixed 10-token chunks — the unit CCNet-style paragraph dedup hashes).
    */
  val LineTokens = 10

  /** t17: cross-document line dedup (CCNet-style) — hash every line, keep
    * only its globally FIRST occurrence (min (doc_id, line_idx)), and
    * re-emit each document's audit row: line counts before/after and a
    * hash of the surviving text. Unlike t14 (which only *detects* dup
    * spans) this *removes* them with a deterministic keep policy and
    * reconstructs the document. Scale shape: both shuffles key on the
    * 56-bit line hash (uniform regardless of content skew); the first
    * occurrence is a partial-agg `min` over an encoded (doc, idx) key,
    * never a window; reconstruction state is per-document (collect_list
    * over that doc's own lines — bounded by doc length, not corpus size).
    */
  val t17LineDedup: Q = (s, d) => {
    val lines = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        expr(s"""explode(transform(
                |  sequence(0, (size(toks) + ${LineTokens - 1}) div $LineTokens - 1),
                |  i -> named_struct(
                |    'idx', i,
                |    'line', array_join(slice(toks, i * $LineTokens + 1, $LineTokens), ' '))))"""
          .stripMargin).as("l"))
      .select(col("doc_id"), col("l.idx").as("idx"), col("l.line").as("line"))
      // encoded (doc, idx) key: min over ONE bigint is partial-agg exact on
      // both engines (idx < 1e6 always — docs are ~128 tokens)
      .withColumn("k", col("doc_id") * 1000000L + col("idx"))
      .withColumn("h", expr(TextHash.sparkHash56("line")))
    val first = lines.groupBy("h").agg(min(col("k")).as("first_k"))
    lines.join(first, "h")
      .withColumn("kept", col("k") === col("first_k"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        collect_list(when(col("kept"), struct(col("idx"), col("line")))).as("ks"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        expr(TextHash.sparkHash56(
          "concat_ws(' ', transform(array_sort(ks), x -> x.line))")).as("kept_hash"))
      .orderBy("doc_id")
  }

  /** Hashed-feature space size and weight formula for t18. Weights are a
    * deterministic function of the bucket id so both engines build the
    * identical "model" table; the multiplier is Knuth's 2654435761 (fits
    * BIGINT: 1024 * 2654435761 < 2^42).
    */
  val ModelBuckets = 256

  /** t18: quality-model inference — score every document with a hashed-
    * feature (hashing-trick) linear model: token → md5 bucket → weight
    * lookup → per-doc weight sum → keep/drop. This is the classifier-
    * inference shape of a training-data pipeline (fastText-style quality
    * gates) expressed as pure relational ops: the model is a metadata-scale
    * table BROADCAST to every executor (never a shuffle of the corpus by
    * bucket), scoring is one partial-agg sum, and there is no per-row UDF —
    * the whole path stays in codegen. At 100 TB the corpus is touched once;
    * model size is independent of corpus size.
    */
  val t18QualityModel: Q = (s, d) => {
    val w = s.range(0, ModelBuckets)
      .select(col("id").as("bucket"),
              ((col("id") * 2654435761L) % 201 - 100).as("w"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .withColumn("bucket", expr(TextHash.sparkHash56("token") + s" % $ModelBuckets"))
      .join(broadcast(w), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("w")).as("score"))
      .withColumn("keep", col("score") >= 0)
      .orderBy("doc_id")
  }

  /** t19: bigram commonness — for each document, how CORPUS-COMMON its
    * bigrams are: per-doc mean/max document frequency of its distinct
    * bigrams (×100, integer div). High mean-df = the document is built
    * from phrases everyone uses (boilerplate/template text) — the
    * cross-document complement to t08's within-document repetition; low =
    * distinctive content. Shape: bigrams hashed per-row in codegen, df =
    * one partial-agg groupBy over the 56-bit hash, join back hash-to-hash,
    * one partial-agg per-doc rollup — both shuffles uniform regardless of
    * how skewed phrase usage is (the d03/t14 discipline: never shuffle or
    * group on the raw text).
    */
  val t19BigramCommonness: Q = (s, d) => {
    val bg = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(${TextHash.sparkShinglesOf("tokens", 2)})")).as("bg"))
      .select(col("doc_id"), expr(TextHash.sparkHash56("bg")).as("h"))
    val df = bg.groupBy("h").agg(count(lit(1)).as("df"))
    bg.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
           expr("(sum(df) * 100) div count(1)").as("mean_df_x100"),
           max(col("df")).as("max_df"))
      .orderBy("doc_id")
  }

  /** t26: unigram surprisal scoring — the zero-model cousin of perplexity
    * filtering (the ranking signal of CCNet, Wenzek et al. 2020, with the
    * corpus's own unigram table standing in for the LM): each token
    * contributes `total_tokens div freq(token)` — the integer reciprocal
    * of its unigram probability — so rare-token-heavy (surprising) docs
    * score high and boilerplate scores low, with zero float divergence
    * between engines. Shape: explode -> one codegen md5 per token ->
    * partial-agg frequency table keyed by the uniform 56-bit hash -> one
    * equi-join back -> partial-agg per-doc sums; the corpus-total is a
    * one-row broadcast. Both shuffles key on the hash, never token text.
    */
  val t26UnigramSurprisal: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), expr(TextHash.sparkHash56("t")).as("h"))
    val tf = tok.groupBy("h").agg(count(lit(1)).as("f"))
    val total = tf.agg(sum("f").as("total"))
    tok.join(tf, "h")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(expr("total div f")).as("surprisal_sum"))
      .withColumn("mean_surprisal", expr("surprisal_sum div n_tokens"))
      .orderBy("doc_id")
  }

  /** t27: shingle novelty vs the earlier corpus — for each doc, the
    * fraction of its distinct 3-token shingles whose FIRST owner (minimum
    * doc_id corpus-wide) is the doc itself: ~1e6 ppm means genuinely new
    * content, low values mean the doc re-shuffles text that already
    * exists — the growth-curve diagnostic a crawl pipeline reads to decide
    * whether another dump is worth ingesting (and the per-doc form of
    * d18's corpus-level overlap). Shape: explode distinct shingles -> one
    * md5 per shingle -> partial-agg min(doc_id) ownership table -> join
    * back -> per-doc counts; both shuffles key on the 56-bit hash.
    */
  val t27ShingleNovelty: Q = (s, d) => {
    val sh = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(s"array_distinct(${TextHash.sparkShinglesOf("tokens", 3)})")).as("sg"))
      .select(col("doc_id"), expr(TextHash.sparkHash56("sg")).as("h"))
    val owner = sh.groupBy("h").agg(min("doc_id").as("first_owner"))
    sh.join(owner, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("first_owner") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_shingles"))
      .orderBy("doc_id")
  }

  /** t28: per-doc length CDF + tail flags — where each document sits in
    * the corpus length distribution (exact percentile basis points), with
    * the <5% / ≥95% tails flagged: the length-outlier filter every
    * curation recipe applies (truncated crawls at one end, concatenation
    * glitches at the other). The CDF never sorts the corpus: lengths
    * collapse to a FREQUENCY HISTOGRAM (one row per distinct length —
    * metadata-scale), the strictly-below running count comes from the
    * range-partitioned [[prefixSum]] (t25's walk), and the per-doc rank is
    * a broadcast join back on length. Integer bp only.
    */
  val t28LengthCdf: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
    val hist = docs.groupBy("n_chars").agg(count(lit(1)).as("cnt"))
    val cum = prefixSum(hist, "n_chars", "cnt", "n_less", includeCurrent = false)
      .select(col("n_chars"), col("n_less"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    docs.join(broadcast(cum), "n_chars")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_chars"),
        expr("n_less * 10000 div n_total").as("pct_bp"),
        expr("n_less * 100 < n_total * 5").as("short_tail"),
        expr("n_less * 100 >= n_total * 95").as("long_tail"))
      .orderBy("doc_id")
  }

  /** p07: per-source corpus provenance report (capstone over the
    * shingle-ownership machinery): for every source, how much of its
    * content is EXCLUSIVE (shingles no other source has), how much it
    * FIRST-OWNS corpus-wide (t27's min-doc_id rule rolled up to sources),
    * and the doc count — the table a data-sourcing team reads to decide
    * which feeds to keep paying for and which re-publish others' content
    * (d18 answers this for one source pair; this is the all-sources
    * rollup). Shapes: distinct (source, shingle-hash) pairs → per-hash
    * source counts and min-doc ownership (both partial-agg groupBys keyed
    * on the 56-bit hash) → per-source rollups over O(sources) rows; the
    * ownership join resolves first_doc → source through the slim
    * (doc_id, source) projection. All counts integer, ppm via integer
    * div.
    */
  val p07SourceReport: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val meta = docs.select(col("doc_id").as("fd"), col("source").as("first_source"))
    val sh = docs
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"), col("source"),
        explode(expr(s"array_distinct(${TextHash.sparkShinglesOf("tokens", 3)})")).as("sg"))
      .select(col("doc_id"), col("source"), expr(TextHash.sparkHash56("sg")).as("h"))
    val srcSh = sh.select("source", "h").distinct()
    val nsrc = srcSh.groupBy("h").agg(count(lit(1)).as("n_src"))
    val perSrc = srcSh.join(nsrc, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
           sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_exclusive"))
    val owned = sh.groupBy("h").agg(min(col("doc_id")).as("fd"))
      .join(meta, "fd")
      .groupBy("first_source").agg(count(lit(1)).as("n_first_owned"))
    val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    perSrc
      .join(owned, col("source") === col("first_source"))
      .join(nDocs, "source")
      .select(col("source"), col("n_docs"), col("n_shingles"),
        col("n_exclusive"),
        expr("n_exclusive * 1000000 div n_shingles").as("exclusive_ppm"),
        col("n_first_owned"))
      .orderBy("source")
  }

  /** t20: Gopher-style quality rules (Rae et al. 2021, arXiv:2112.11446
    * §A1.1 — public heuristics): word-count bounds, mean-word-length
    * bounds, fraction of words containing an alphabetic character, and
    * minimum stopword presence, each emitted as its own boolean plus the
    * conjunction `keep`. All integer arithmetic (x100 fixed-point for the
    * ratios) so both engines agree bit-for-bit. Pure per-row codegen+HOF
    * work — no shuffle at all until the final presentation sort; at 100 TB
    * this is a map-only stage.
    */
  /** t20's rule columns as a reusable transform (p05's gate consumes
    * doc_id + keep). */
  private[queries] def gopherCols(df: DataFrame): DataFrame =
    df
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_words", expr("size(toks)"))
      .withColumn("mean_len_x100", expr(
        "(aggregate(toks, 0L, (a, t) -> a + length(t)) * 100) div cast(size(toks) as bigint)"))
      .withColumn("alpha_pct", expr(
        "(cast(size(filter(toks, t -> t rlike '[a-z]')) as bigint) * 100) div size(toks)"))
      .withColumn("n_stop",
        expr(s"size(filter(toks, t -> t IN ${inList(stopwords)}))"))
      .withColumn("ok_words", col("n_words").between(50, 100000))
      .withColumn("ok_mean_len", col("mean_len_x100").between(300, 1000))
      .withColumn("ok_alpha", col("alpha_pct") >= 80)
      .withColumn("ok_stop", col("n_stop") >= 2)
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_alpha") && col("ok_stop"))

  val t20GopherRules: Q = (s, d) =>
    gopherCols(Tables.documents(s, d))
      .select("doc_id", "n_words", "mean_len_x100", "alpha_pct", "n_stop",
              "ok_words", "ok_mean_len", "ok_alpha", "ok_stop", "keep")
      .orderBy("doc_id")

  /** t21: lexical-diversity profile — per-doc type/token counts, hapax
    * count, and type-token ratio (x100 fixed-point): the vocabulary-
    * richness signal corpus-quality pipelines pair with t02/t20 (template
    * spam has pathologically low TTR). Relational two-level partial agg:
    * explode → (doc, token) counts → per-doc rollup; both shuffles key on
    * (doc_id, token) / doc_id, no HOFs on the hot path, map-side combine
    * does most of the work at 100 TB.
    */
  val t21LexicalDiversity: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
           count(lit(1)).as("n_types"),
           sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .withColumn("ttr_x100",
        expr("(cast(n_types as bigint) * 100) div n_tokens"))
      .orderBy("doc_id")

  /** t22: character-diversity quality scoring — the code-point histogram
    * moments (count / distinct / top frequency / Σfreq²) plus two derived
    * integer scores: the Simpson diversity index ×1e6 (1 − Σ(c/n)², the
    * collision probability complement — a log-free stand-in for character
    * entropy that collapses to 0 on single-char spam) and the top-char
    * share in basis points (Gopher-style max-character-fraction rule).
    *
    * Scale shape: the histogram is the codegen'd [[graft.functions.CharStats]]
    * expression — ONE JIT'd pass per row inside whole-stage codegen, so the
    * query is a pure map + final presentation sort with NO shuffle at all
    * (vs. the explode(split(text,'')) spelling that ships one shuffle row
    * per CHARACTER — ~300× the corpus row count). All derived scores are
    * integer-exact (`div`), so the oracle hash-matches bit-for-bit.
    */
  val t22CharDiversity: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), expr("char_stats(text)").as("st"))
      .select(col("doc_id"),
        col("st.n_chars").as("n_chars"),
        col("st.n_distinct").as("n_distinct"),
        col("st.max_freq").as("max_freq"),
        expr("((st.n_chars * st.n_chars - st.sum_sq) * 1000000) div greatest(st.n_chars * st.n_chars, 1)")
          .as("simpson_x1e6"),
        expr("(st.max_freq * 10000) div greatest(st.n_chars, 1)").as("top_char_bp"))
      .orderBy("doc_id")

  /** t24: readability scoring — a Flesch-reading-ease analogue in exact
    * integer fixed-point, the classic document-complexity signal a
    * curation pipeline pairs with t02/t20/t22 (too-hard AND too-trivial
    * text both get down-weighted in pretraining mixes):
    *
    *   flesch_x1000 = 206835 − 1015·(words/sentence) − 84600·(vowelgroups/word)
    *
    * with sentences = `[.!?]+` runs (min 1), words = whitespace tokens
    * (min 1), and vowel-group runs `[aeiouy]+` as the engine-neutral
    * syllable proxy (true syllabification needs a dictionary; vowel runs
    * are the standard cheap stand-in). All three counts come from
    * `regexp_count`/`split` — codegen'd, per-row, zero shuffle until the
    * output sort; integer `div` on positive operands matches DuckDB `//`
    * bit-for-bit.
    */
  val t24Readability: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("n_sent",
        expr("cast(greatest(1, regexp_count(text, '[.!?]+')) as bigint)"))
      .withColumn("n_words",
        expr("cast(greatest(1, size(split(text, ' '))) as bigint)"))
      .withColumn("n_vowel_groups",
        expr("cast(regexp_count(lower(text), '[aeiouy]+') as bigint)"))
      .select(col("doc_id"), col("n_sent"), col("n_words"), col("n_vowel_groups"),
        expr("206835L - (1015L * n_words) div n_sent - (84600L * n_vowel_groups) div n_words")
          .as("flesch_x1000"))
      .orderBy("doc_id")

  /** t25: vocabulary coverage curve (the Zipf-head diagnostic) — the
    * minimal number of distinct tokens whose occurrences cover 50/90/99 %
    * of the corpus, the statistic that sizes a tokenizer vocabulary and
    * flags boilerplate-heavy corpora (tiny v50 = a few tokens dominate).
    *
    * Scale shape: tokens collapse to per-token counts in one data-scale
    * shuffle; counts collapse again to a FREQUENCY HISTOGRAM (one row per
    * distinct count value — O(√N) rows by Zipf, pure metadata), and the
    * cumulative walk down the histogram (count descending) runs through
    * [[prefixSum]] — the range-partitioned two-pass spelling, never a
    * global single-task window. Tie groups are resolved exactly: the
    * boundary frequency class contributes ceil(missing_mass / cnt) tokens,
    * so the answer is the true minimal vocabulary size, all in BIGINT
    * algebra.
    */
  val t25VocabCoverage: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val hist = tok.groupBy("cnt").agg(count(lit(1)).as("ntok"))
      .withColumn("mass", col("cnt") * col("ntok"))
      .withColumn("negcnt", -col("cnt"))
    val cum = prefixSum(
      prefixSum(hist, "negcnt", "mass", "cum_mass", includeCurrent = true),
      "negcnt", "ntok", "cum_vocab", includeCurrent = true)
    val tot = tok.agg(sum(col("cnt")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    def vAt(tag: String, thExpr: String): Seq[Column] = {
      val th = expr(thExpr)
      Seq(min(when(col("cum_mass") >= th && col("cum_mass") - col("mass") < th,
        col("cum_vocab") - col("ntok") +
          expr(s"(($thExpr) - (cum_mass - mass) + cnt - 1) div cnt")))
        .as(s"v$tag"))
    }
    val aggs = Seq(max(col("total_tokens")).as("total_tokens"),
      max(col("vocab_size")).as("vocab_size")) ++
      vAt("50", "(total_tokens + 1) div 2") ++
      vAt("90", "(total_tokens * 9 + 9) div 10") ++
      vAt("99", "(total_tokens * 99 + 99) div 100")
    cum.crossJoin(broadcast(tot)).agg(aggs.head, aggs.tail: _*)
  }

  /** t32: document-structure (markup) profile — the WARC/markdown
    * structure signals a pretraining filter reads before keeping a page:
    * heading/bullet/code-fence line counts, link density, and a
    * structure-ratio verdict (drop pages that are mostly navigation/code
    * scaffolding). The corpus is single-line, so documents are first
    * re-rendered as [[LineTokens]]-token lines (t17's line convention)
    * with markers planted deterministically by (doc_id + line) % 7 — the
    * same fixture-decoration discipline as t15/t16 — and the profiler then
    * reads ONLY the rendered string, via `(?m)`-anchored regex counts
    * (RE2-safe, so both engines agree). Everything is per-row codegen'd
    * string work + one final sort: embarrassingly parallel, no shuffle at
    * all before the oracle's total-order sort, flat at 100 TB.
    */
  val t32MarkupProfile: Q = (s, d) =>
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_lines",
        expr(s"cast((size(toks) + $LineTokens - 1) div $LineTokens as int)"))
      .withColumn("md", expr(
        s"""array_join(transform(sequence(0, (size(toks) + $LineTokens - 1) div $LineTokens - 1),
           |  i -> concat(
           |    CASE cast((doc_id + i) % 7 as int)
           |      WHEN 0 THEN '# ' WHEN 1 THEN '- ' WHEN 2 THEN '``` ' ELSE '' END,
           |    array_join(slice(toks, cast(i * $LineTokens + 1 as int), $LineTokens), ' '),
           |    CASE WHEN (doc_id + i) % 7 = 3
           |         THEN ' see [ref](https://docs.example.org)' ELSE '' END)),
           |  chr(10))""".stripMargin))
      .select(
        col("doc_id"), col("n_lines"),
        expr("cast(regexp_count(md, '(?m)^# ') as int)").as("n_head"),
        expr("cast(regexp_count(md, '(?m)^- ') as int)").as("n_bullet"),
        expr("cast(regexp_count(md, '(?m)^```') as int)").as("n_fence"),
        // java.util.regex needs the backslash spelling; the oracle uses
        // RE2's POSIX class spelling '[[]ref[]]' for the same literal.
        expr("cast(regexp_count(md, '\\\\[ref\\\\]') as int)").as("n_links"))
      .withColumn("structured_permille",
        expr("cast(1000 * (n_head + n_bullet + n_fence) div n_lines as int)"))
      .withColumn("keep", col("structured_permille") <= 500)
      .orderBy("doc_id")

  /** t35: Zipf rank-frequency fit — the power-law diagnostic run on a
    * pretraining corpus before trusting its token statistics: natural text
    * follows freq ∝ rank^s with s ≈ −1; a corpus of templated/generated
    * text bends the curve (|slope| shrinks), and dedup/boilerplate bugs
    * show up here before they show up downstream. Spelled exactly: vocab
    * (one partial-agg groupBy), the COUNT-CLASS histogram (t25/x02's
    * trick — one row per distinct frequency, metadata-scale), competition
    * rank per class via the range-partitioned [[prefixSum]] over
    * descending count (never a corpus-wide rank window), then a weighted
    * least-squares slope over (log2 rank, log2 freq) class points — log2
    * as bit-length (both engines agree on `bin`/format('{:b}') for
    * positive bigints, the x12 identity) and the closed-form slope as one
    * integer cross-multiplication, permille. Both engines truncate
    * integer division toward zero, so the negative slope is bit-exact.
    * (At an extreme vocab the n·Σxy product approaches 2^63 — the
    * production spelling divides the sums by gcd or fits in 128-bit; the
    * SHAPE — two metadata-scale aggs — is unchanged.)
    */
  val t35ZipfFit: Q = (s, d) => {
    val vocab = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val hist = vocab.groupBy("cnt").agg(count(lit(1)).as("ntok"))
      .withColumn("negcnt", -col("cnt"))
    val ranked = prefixSum(hist, "negcnt", "ntok", "n_higher",
        includeCurrent = false)
      .withColumn("rank", coalesce(col("n_higher"), lit(0L)) + lit(1L))
      .select(col("cnt"), col("ntok"),
        expr("cast(length(bin(rank)) - 1 as bigint)").as("x"),
        expr("cast(length(bin(cnt)) - 1 as bigint)").as("y"))
    ranked.agg(
        count(lit(1)).as("n_classes"),
        sum(col("ntok")).as("n"),
        sum(col("ntok") * col("cnt")).as("total_tokens"),
        sum(col("ntok") * col("x")).as("sx"),
        sum(col("ntok") * col("y")).as("sy"),
        sum(col("ntok") * col("x") * col("x")).as("sxx"),
        sum(col("ntok") * col("x") * col("y")).as("sxy"))
      .select(col("n").as("vocab_size"), col("total_tokens"), col("n_classes"),
        expr("IF(n * sxx - sx * sx = 0, 0L, " +
          "(1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx))")
          .as("slope_permille"))
  }

  /** Number of BPE merge rounds t39 learns. Each round is one vocab-scale
    * aggregation (vocabulary rows, not corpus rows — the standard BPE
    * trainer input), so the cost of raising this is R small jobs; 4 keeps
    * the DuckDB oracle's unrolled CTE chain readable while exercising the
    * full mechanism (later rounds merge MERGED symbols, not just chars).
    */
  val BpeRounds = 4

  /** One BPE learning round over the (word, count, seq) vocabulary:
    * count adjacent-symbol pairs weighted by word frequency, pick the
    * top pair by (count desc, pair asc), and apply the merge to every
    * word's symbol sequence. `seq` is the space-delimited symbol string
    * (" h e l l o "); a merge replaces " a b " with " ab ". The best
    * pair is a ONE-ROW DataFrame crossJoin-broadcast into the rewrite —
    * no driver collect anywhere, the whole R-round train is one lazy
    * plan. Merge application is leftmost non-overlapping on the
    * delimited string (Java and DuckDB `replace` share the scan), so
    * back-to-back occurrences sharing a delimiter space take an extra
    * round to collapse — a deterministic, both-engines-identical variant
    * of simultaneous BPE application.
    */
  private def bpeRound(vocab: DataFrame): DataFrame = {
    val best = vocab
      .select(col("n"), explode(expr("shingles(split(trim(seq), ' '), 2)")).as("pair"))
      .filter(col("pair").contains(" ")) // single-symbol words shingle to themselves
      .groupBy("pair").agg(sum("n").as("c"))
      .orderBy(col("c").desc, col("pair").asc)
      .limit(1)
      .select(col("pair").as("bp"))
    // LEFT join on true, not crossJoin: when a round finds NO pair (the
    // whole vocabulary already collapsed to single symbols), `best` is
    // empty — a crossJoin would annihilate the vocab and every later
    // stage would silently emit nothing. With the left join bp is NULL,
    // replace() null-propagates, and coalesce makes the round a no-op —
    // the same degrade the oracle spells with COALESCE around its scalar
    // subquery.
    vocab.join(broadcast(best), lit(true), "left")
      .withColumn("seq", coalesce(
        expr("replace(seq, concat(' ', bp, ' '), concat(' ', replace(bp, ' ', ''), ' '))"),
        col("seq")))
      .drop("bp")
  }

  /** t39: deterministic BPE-style tokenizer — the one LLM-pipeline step
    * t03 only approximates (its regex COUNTS token-ish runs; nothing
    * applied a real merge-table encoding). Textbook byte-pair encoding,
    * learned from the corpus itself: build the word-frequency vocabulary
    * (the standard trainer input — vocab-scale, not corpus-scale), then
    * [[BpeRounds]] rounds of (count adjacent symbol pairs → take the
    * most frequent → merge it everywhere), then score every document by
    * joining its words to the trained vocabulary (broadcast — t18's
    * model-table discipline) and summing encoded symbol counts. Output
    * per doc: whitespace tokens, BPE tokens, chars, and integer
    * chars-per-BPE-token. Invariants a tokenizer must satisfy (pinned in
    * a spec): ws_tokens ≤ bpe_tokens ≤ n_chars per document. Scale: the
    * corpus is touched twice (vocab build, final scoring join); the R
    * training rounds run on vocabulary rows only, and the model
    * broadcast is corpus-size-independent. Oracled against DuckDB
    * running the identical algorithm as an unrolled CTE chain.
    */
  val t39BpeTokenizer: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val vocab0 = words.groupBy("w").agg(count(lit(1)).as("n"))
      .withColumn("seq", expr("concat(' ', regexp_replace(w, '(.)', '$1 '))"))
    val trained = (1 to BpeRounds).foldLeft(vocab0)((v, _) => bpeRound(v))
      .withColumn("n_sym", expr("cast(size(split(trim(seq), ' ')) as bigint)"))
      .select("w", "n_sym")
    words.join(broadcast(trained), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ws_tokens"),
           sum("n_sym").as("bpe_tokens"),
           sum(length(col("w")).cast("bigint")).as("n_chars"))
      .withColumn("chars_x100_per_bpe", expr("(n_chars * 100) div bpe_tokens"))
      .orderBy("doc_id")
  }

  /** t40: bigram language-model scoring — the REAL-model upgrade of t26
    * (whose unigram table ranks tokens in isolation): a Laplace-smoothed
    * bigram LM trained on the corpus itself scores every transition
    * w1→w2 by its conditional surprisal, the signal CCNet (Wenzek et
    * al. 2020) uses to rank crawl text by fluency — repetitive/templated
    * text scores low (its transitions are all high-probability),
    * word-salad scores high even when every individual token is common
    * (exactly what t26 cannot see). Integer spelling: surprisal of a
    * transition = floor(log2(f1 + V)) − floor(log2(f2 + 1)) bits, the
    * bit-length identity t35/x12 pin (`bin` on both engines), applied to
    * the Laplace estimate P(w2|w1) = (f2+1)/(f1+V) with V = vocab size
    * (f1 = corpus unigram count of w1 — the standard textbook
    * denominator; it counts w1's document-final occurrences too, a
    * deterministic modeling choice both engines share). Shape: one
    * tokenization feeds the unigram table AND the bigram rows (shingles
    * k=2, the d01 machinery); f2 joins on the bigram hash, f1 on the
    * prefix-token hash — both shuffles key on uniform 56-bit hashes,
    * never token text; V is a one-row broadcast; the per-doc rollup is a
    * partial agg. Single-token docs have no transition and drop out on
    * both engines (the shingle self-degenerate carries no space).
    */
  val t40BigramLm: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
    val tok = docs
      .select(explode(col("tokens")).as("t"))
      .select(expr(TextHash.sparkHash56("t")).as("h1"))
    val c1 = tok.groupBy("h1").agg(count(lit(1)).as("f1"))
    val vocab = c1.agg(count(lit(1)).as("v"))
    val bg = docs
      .select(col("doc_id"),
        explode(expr(TextHash.sparkShinglesOf("tokens", 2))).as("bg"))
      .filter(col("bg").contains(" "))
      .select(col("doc_id"),
        expr(TextHash.sparkHash56("bg")).as("hb"),
        expr(TextHash.sparkHash56("split(bg, ' ')[0]")).as("h1"))
    val c2 = bg.groupBy("hb").agg(count(lit(1)).as("f2"))
    bg.join(c2, "hb")
      .join(c1, "h1")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        expr("cast((length(bin(f1 + v)) - 1) - (length(bin(f2 + 1)) - 1) as bigint)")
          .as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_transitions"),
           sum("bits").as("bits_sum"))
      .withColumn("mean_centibits", expr("(bits_sum * 100) div n_transitions"))
      .orderBy("doc_id")
  }

  /** t41: cross-source domain cross-entropy matrix — t40's bigram LM
    * trained PER SOURCE and evaluated on every source (diagonal = the
    * in-domain entropy baseline): cell (train, eval) is the mean
    * conditional surprisal of eval-source transitions under the
    * train-source Laplace model — the domain-similarity table mixture
    * design reads (which sources substitute for which; which eval set a
    * candidate crawl actually resembles — the importance-resampling /
    * DoReMi-style selection signal). Zero-count handling is where the
    * cross-source case differs from t40: an unseen bigram scores
    * floor-log2(f1+V) (Laplace mass 1/(f1+V)), an unseen CONTEXT scores
    * floor-log2(V) (1/V) — both via coalesce-to-0 under the same
    * bit-length identity; f2 ≤ f1 always (a bigram occurrence IS a
    * prefix occurrence), so surprisal stays non-negative and the
    * truncating division cross-engine-exact. Shapes: per-source model
    * tables are (source × vocab)-scale partial-agg groupBys (written
    * per-source tables at 100 TB); the eval side collapses to DISTINCT
    * (eval_source, bigram) rows with counts BEFORE fanning out ×
    * │sources│ via a broadcast of the source dim (t38's entity-scale
    * discipline — corpus rows never multiply); model joins are LEFT
    * equi-joins on (train_source, 56-bit hash); the rollup is a
    * │sources│²-row partial agg.
    */
  val t41DomainXent: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
    val tok = docs
      .select(col("source").as("tsrc"), explode(col("tokens")).as("t"))
      .select(col("tsrc"), expr(TextHash.sparkHash56("t")).as("h1"))
    val uni = tok.groupBy("tsrc", "h1").agg(count(lit(1)).as("f1"))
    val vv = uni.groupBy("tsrc").agg(count(lit(1)).as("v"))
    val bgAll = docs
      .select(col("source"),
        explode(expr(TextHash.sparkShinglesOf("tokens", 2))).as("bg"))
      .filter(col("bg").contains(" "))
      .select(col("source"),
        expr(TextHash.sparkHash56("bg")).as("hb"),
        expr(TextHash.sparkHash56("split(bg, ' ')[0]")).as("h1"))
    val big = bgAll.select(col("source").as("tsrc"), col("hb"))
      .groupBy("tsrc", "hb").agg(count(lit(1)).as("f2"))
    val ev = bgAll.select(col("source").as("esrc"), col("hb"), col("h1"))
      .groupBy("esrc", "hb", "h1").agg(count(lit(1)).as("n"))
    val srcs = docs.select(col("source").as("tsrc")).distinct()
    ev.crossJoin(broadcast(srcs))
      .join(big, Seq("tsrc", "hb"), "left")
      .join(uni, Seq("tsrc", "h1"), "left")
      .join(broadcast(vv), "tsrc")
      .select(col("tsrc"), col("esrc"), col("n"),
        expr("cast((length(bin(coalesce(f1, 0) + v)) - 1) " +
          "- (length(bin(coalesce(f2, 0) + 1)) - 1) as bigint)").as("bits"))
      .groupBy("tsrc", "esrc")
      .agg(sum("n").as("n_transitions"),
           sum(expr("n * bits")).as("bits_sum"))
      .withColumn("mean_centibits", expr("(bits_sum * 100) div n_transitions"))
      .select(col("tsrc").as("train_source"), col("esrc").as("eval_source"),
        col("n_transitions"), col("bits_sum"), col("mean_centibits"))
      .orderBy("train_source", "eval_source")
  }

  /** The target domain t46 resamples toward (deterministic constant —
    * the fixture's sources are uniform, so any one works as "the
    * distribution we want more of").
    */
  val DsirTarget = "src0"

  /** t46: DSIR-style data selection (importance resampling, Xie et al.
    * 2023, arXiv:2302.03169) — the domain-targeting step between quality
    * filtering (t42 keeps FLUENT text) and mixture planning (p02/t43
    * weight SOURCES): score every document by how much more likely the
    * TARGET domain's LM finds it than the RAW corpus LM, and keep the
    * docs the target prefers. Both LMs are t40/t41's Laplace-smoothed
    * hashed-bigram models with the integer-bit surprisal
    * (floor-log2 via bit-length — zero float divergence): per document,
    * target_bits and raw_bits are the summed transition surprisals under
    * each LM, gain = raw − target (positive ⇔ the doc compresses better
    * under the target), keep = gain > 0 — exactly the importance-weight
    * sign test, in exact integers. Scale shape: both LMs are partial-agg
    * count tables JOINed hash-to-hash (uniform under content skew), the
    * per-doc fold is one partial-agg groupBy, vocab sizes ride one-row
    * broadcast cross joins, and the keep verdict is map-side — nothing
    * corpus-scale shuffles beyond the two count tables a 100 TB run
    * would write once and reuse.
    */
  val t46DsirSelect: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
    val tok = docs.select(col("source"), explode(col("tokens")).as("t"))
      .select(col("source"), expr(TextHash.sparkHash56("t")).as("h1"))
    val bgAll = docs
      .select(col("doc_id"), col("source"),
        explode(expr(TextHash.sparkShinglesOf("tokens", 2))).as("bg"))
      .filter(col("bg").contains(" "))
      .select(col("doc_id"), col("source"),
        expr(TextHash.sparkHash56("bg")).as("hb"),
        expr(TextHash.sparkHash56("split(bg, ' ')[0]")).as("h1"))
    val uniT = tok.filter(col("source") === DsirTarget)
      .groupBy("h1").agg(count(lit(1)).as("f1t"))
    val uniR = tok.groupBy("h1").agg(count(lit(1)).as("f1r"))
    val vT = uniT.agg(count(lit(1)).as("vt"))
    val vR = uniR.agg(count(lit(1)).as("vr"))
    val bigT = bgAll.filter(col("source") === DsirTarget)
      .groupBy("hb").agg(count(lit(1)).as("f2t"))
    val bigR = bgAll.groupBy("hb").agg(count(lit(1)).as("f2r"))
    val perDoc = bgAll.groupBy("doc_id", "hb", "h1")
      .agg(count(lit(1)).as("n"))
      .join(bigT, Seq("hb"), "left")
      .join(uniT, Seq("h1"), "left")
      .join(bigR, Seq("hb"), "left")
      .join(uniR, Seq("h1"), "left")
      .crossJoin(broadcast(vT)).crossJoin(broadcast(vR))
      .select(col("doc_id"), col("n"),
        expr("cast((length(bin(coalesce(f1t, 0) + vt)) - 1) " +
          "- (length(bin(coalesce(f2t, 0) + 1)) - 1) as bigint)").as("bt"),
        expr("cast((length(bin(coalesce(f1r, 0) + vr)) - 1) " +
          "- (length(bin(coalesce(f2r, 0) + 1)) - 1) as bigint)").as("br"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_transitions"),
        sum(expr("n * bt")).as("target_bits"),
        sum(expr("n * br")).as("raw_bits"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_transitions"), lit(0L)).as("n_transitions"),
        coalesce(col("target_bits"), lit(0L)).as("target_bits"),
        coalesce(col("raw_bits"), lit(0L)).as("raw_bits"))
      .withColumn("gain_bits", col("raw_bits") - col("target_bits"))
      .withColumn("keep", col("gain_bits") > 0)
      .orderBy("doc_id")
  }

  /** t42: perplexity-bucket quality filtering (CCNet, Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3) — the curation step production web pipelines
    * run after language ID: score every document by LM fit (here t40's
    * Laplace-smoothed bigram surprisal — the machinery is SHARED, so the
    * filter can never drift from the scorer), split each source into
    * perplexity TERCILES (head = most fluent, middle, tail), and keep
    * head+middle — CCNet's exact policy. The report is the decision
    * table: per (source, bucket) doc/token counts and the surprisal
    * range, i.e. what a mixture designer reads before choosing per-source
    * thresholds.
    *
    * Scale shapes: per-doc scores come from t40 (two corpus-scale
    * shuffles on uniform 56-bit hashes); the tercile rank is the KEYED
    * range-partitioned prefix count ([[prefixSum]] with keyCols=source —
    * NEVER a 20-partition `Window.partitionBy(source)`, which would put
    * 5% of a 100 TB corpus in one task), over a composite
    * (centibits, doc_id) order key so the rank is total and
    * deterministic; the bucket is then a pure per-row expression
    * (⌊(rank−1)·3/n⌋ — the engine-spelled NTILE, identical text in the
    * oracle), and the report is one metadata-scale groupBy.
    */
  val t42PerplexityFilter: Q = (s, d) => {
    val scored = t40BigramLm(s, d)
      .join(Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("bigint").as("n_tokens")),
        "doc_id")
      // composite order key: centibits-major, doc_id-minor (centibits fit
      // comfortably under 2^23; doc ids under 2^40 — one bigint carries a
      // total deterministic order)
      .withColumn("ok", expr("mean_centibits * 1099511627776 + doc_id"))
      .withColumn("one", lit(1L))
    val ranked = prefixSum(scored, "ok", "one", "rank",
      includeCurrent = true, keyCols = Seq("source"))
    val n = scored.groupBy("source").agg(count(lit(1)).as("n_src"))
    ranked
      .join(broadcast(n), "source")
      .withColumn("bucket", expr("cast(((rank - 1) * 3) div n_src as int)"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_tokens").as("n_tokens"),
           min("mean_centibits").as("min_centibits"),
           max("mean_centibits").as("max_centibits"))
      .withColumn("kept", col("bucket") <= 1)
      .orderBy("source", "bucket")
  }

  /** Corpus-budget denominator for t43: sample down to 1/2 of the raw
    * token total (numerator/denominator kept integer so the budget is
    * engine-exact).
    */
  val MixBudgetNum = 1
  val MixBudgetDen = 2

  /** t43: temperature-scaled mixture SAMPLING — the UniMax/multilingual
    * α-sampling shape (Conneau et al. 2020's p_s ∝ (tokens_s)^α with
    * α = 1/2): small sources are up-weighted relative to their raw share
    * so a giant web crawl cannot drown them, and the per-source rate is
    * then APPLIED as a deterministic hash gate — every doc kept iff
    * md5(doc_id) % 1e6 < rate_ppm — so the sample is replayable on any
    * cluster and needs no RNG (q39/p11's assignment discipline). p02/p10
    * REPORT mixtures; t43 is the operator that enacts one: per source,
    * the α-weight (⌊√tokens⌋ — IEEE sqrt is correctly-rounded by spec, so
    * floor(sqrt) on the same sub-2^53 bigint is identical on both
    * engines), the token target (budget · w_s / Σw, capped at the
    * source's own supply), the gate rate, and the ACHIEVED docs/tokens —
    * target vs achieved is exactly the acceptance report a mix planner
    * signs off on (hash gating is binomial, so achieved tracks the rate
    * within sampling noise; the oracle pins the numbers bit-for-bit).
    *
    * Scale shapes: one corpus scan for per-source totals (partial-agg
    * groupBy over ≤ |sources| keys), a ≤ |sources|-row rate table
    * broadcast back, the gate a pure per-row codegen predicate, and the
    * achieved rollup a second partial-agg pass — no shuffle keyed on
    * anything skewed, corpus touched twice.
    */
  val t43TemperatureMix: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("bigint").as("tok"))
    val per = docs.groupBy("source")
      .agg(sum("tok").as("t_s"), count(lit(1)).as("n_docs"))
      .withColumn("w", expr("cast(floor(sqrt(cast(t_s as double))) as bigint)"))
    val tot = per.agg(sum("w").as("w_tot"), sum("t_s").as("t_tot"))
    val rates = per.crossJoin(broadcast(tot))
      // left-to-right integer algebra, identical text in the oracle:
      // target = min(own supply, budget·w/Σw); rate in ppm of the source
      .withColumn("target_tok", expr(
        s"least(t_s, t_tot * $MixBudgetNum div $MixBudgetDen * w div w_tot)"))
      .withColumn("rate_ppm",
        expr("least(1000000L, target_tok * 1000000 div t_s)"))
      .select("source", "t_s", "n_docs", "w", "target_tok", "rate_ppm")
      .transform(Materialized.of(_).df)
    val kept = docs
      .join(rates.select("source", "rate_ppm"), "source")
      .filter(expr(
        s"${TextHash.sparkHash56("cast(doc_id as string)")} % 1000000") <
        col("rate_ppm"))
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"), sum("tok").as("kept_tokens"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("t_s").as("raw_tokens"), col("n_docs"),
        col("w").as("weight"), col("target_tok").as("target_tokens"),
        col("rate_ppm"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** t44: MAIN-CONTENT extraction (boilerplate removal) — the clean-text
    * step the crawl→clean chain was missing (t32 PROFILES markup density;
    * nothing extracted): the line/block rule of CCNet/trafilatura-lite,
    * keep a line iff it has enough words AND is not link-dominated. The
    * corpus is single-line, so documents are first re-rendered as
    * [[LineTokens]]-token lines with boilerplate planted deterministically
    * by (doc_id + line) % 7 — a 3-link nav bar at 4, a sub-3-word cookie
    * stub at 5 (t32/t15's fixture-decoration discipline) — and the
    * extractor then reads ONLY the rendered lines: word count =
    * non-empty tokens, link count = a `](`-markdown-anchor regex, keep
    * iff words ≥ 3 and 1000·links < 500·words (integer cross-multiply, no
    * division). Emits per doc the kept/dropped line counts, kept word
    * count and the md5 of the kept text — the hash match proves the two
    * engines extracted the SAME lines, not just the same counts. The
    * oracle re-renders and re-extracts with DuckDB's own list/regex
    * kernels (t32's discipline: an independent spelling of the rule, not
    * a re-export of the planting shortcut). Everything is per-row
    * array/string work — embarrassingly parallel, zero shuffle before
    * the final total-order sort, flat at 100 TB.
    */
  /** (doc_id, n_lines, kept) — t44's render + extraction, factored so the
    * p12 capstone consumes the extracted lines through the same rule.
    */
  private def t44Kept(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_lines",
        expr(s"cast((size(toks) + $LineTokens - 1) div $LineTokens as int)"))
      .withColumn("lines", expr(
        s"""transform(sequence(0, (size(toks) + $LineTokens - 1) div $LineTokens - 1),
           |  i -> CASE cast((doc_id + i) % 7 as int)
           |    WHEN 4 THEN '[home](/home) [about](/about) [contact](/contact)'
           |    WHEN 5 THEN array_join(slice(toks, cast(i * $LineTokens + 1 as int), 2), ' ')
           |    ELSE array_join(slice(toks, cast(i * $LineTokens + 1 as int), $LineTokens), ' ')
           |  END)""".stripMargin))
      .withColumn("kept", expr(
        """filter(lines, l ->
          |  size(filter(split(l, ' '), x -> x <> '')) >= 3 AND
          |  1000 * regexp_count(l, '\\]\\(') <
          |    500 * size(filter(split(l, ' '), x -> x <> '')))""".stripMargin))
      .select("doc_id", "n_lines", "kept")

  val t44ContentExtract: Q = (s, d) =>
    t44Kept(s, d)
      .select(col("doc_id"), col("n_lines"),
        expr("cast(size(kept) as int)").as("n_kept"),
        expr("cast(n_lines - size(kept) as int)").as("n_dropped"),
        expr("aggregate(kept, cast(0 as bigint), (a, l) -> " +
          "a + size(filter(split(l, ' '), x -> x <> '')))").as("kept_tokens"),
        md5(expr("array_join(kept, chr(10))")).as("kept_hash"))
      .orderBy("doc_id")

  /** Minimum extracted words for p12's keep verdict — near the corpus
    * median so the gate genuinely discriminates (sf0.01: median ≈ 43).
    */
  val P12MinTokens = 40

  /** p12: the crawl→clean CAPSTONE — t44's extraction composed INTO the
    * curation path, in the production order: render → extract main
    * content (t44's rule) → language-ID the EXTRACTED text (t01's marker
    * argmax — boilerplate is removed BEFORE langid, exactly why
    * extraction precedes classification in a real pipeline) → integer
    * quality stats over the clean text (non-space chars, mean word length
    * ×100) → a keep verdict (enough extracted words AND a recognized
    * language). Single-sourced: the extraction is [[t44Kept]] verbatim
    * and the classifier is [[langPredicted]] verbatim (the kept text just
    * renames to its `text` input) — a re-spelling of either would drift
    * from the deployed operators. Shape: per-row array/string work end to
    * end, zero shuffle before the total-order sort (t44's scale story
    * survives the composition).
    */
  val p12CleanChain: Q = (s, d) =>
    langPredicted(
      t44Kept(s, d)
        .withColumn("n_kept", expr("cast(size(kept) as int)"))
        .withColumn("kept_tokens", expr(
          "aggregate(kept, cast(0 as bigint), (a, l) -> " +
            "a + size(filter(split(l, ' '), x -> x <> '')))"))
        .withColumn("text", expr("array_join(kept, ' ')"))
        .withColumn("nonspace_chars",
          expr("cast(length(replace(text, ' ', '')) as bigint)")))
      .select(col("doc_id"), col("n_lines"),
        expr("cast((n_lines - n_kept) * 1000 div n_lines as int)")
          .as("drop_permille"),
        col("kept_tokens"),
        expr("CASE WHEN kept_tokens = 0 THEN cast(0 as bigint) " +
          "ELSE nonspace_chars * 100 div kept_tokens END")
          .as("mean_tok_len_x100"),
        col("predicted"),
        expr(s"kept_tokens >= $P12MinTokens AND predicted <> 'und'").as("keep"))
      .orderBy("doc_id")

  val queries: Map[String, Q] = Map(
    "t44_content_extract" -> t44ContentExtract,
    "p12_clean_chain"    -> p12CleanChain,
    "t43_temperature_mix" -> t43TemperatureMix,
    "t35_zipf_fit"       -> t35ZipfFit,
    "t39_bpe_tokenizer"  -> t39BpeTokenizer,
    "t40_bigram_lm"      -> t40BigramLm,
    "t41_domain_xent"    -> t41DomainXent,
    "t42_perplexity_filter" -> t42PerplexityFilter,
    "t32_markup_profile" -> t32MarkupProfile,
    "t34_langid_eval"    -> t34LangidEval,
    "t36_pack_efficiency" -> t36PackEfficiency,
    "t37_benchmark_leakage" -> t37BenchmarkLeakage,
    "t45_decontam_rewrite" -> t45DecontamRewrite,
    "t46_dsir_select" -> t46DsirSelect,
    "t47_length_buckets" -> t47LengthBuckets,
    "t38_source_vocab_overlap" -> t38SourceVocabOverlap,
    "p07_source_report"   -> p07SourceReport,
    "t28_length_cdf"      -> t28LengthCdf,
    "t27_shingle_novelty" -> t27ShingleNovelty,
    "t26_surprisal"       -> t26UnigramSurprisal,
    "t25_vocab_coverage"  -> t25VocabCoverage,
    "t24_readability"     -> t24Readability,
    "t23_keywords"        -> t23Keywords,
    "t22_char_diversity"  -> t22CharDiversity,
    "t20_gopher_rules"    -> t20GopherRules,
    "t21_lexical_diversity" -> t21LexicalDiversity,
    "t19_bigram_commonness" -> t19BigramCommonness,
    "t16_url_extract"     -> t16UrlExtract,
    "t17_line_dedup"      -> t17LineDedup,
    "t18_quality_model"   -> t18QualityModel,
    "t15_pii_redact"      -> t15PiiRedact,
    "t14_substring_dedup" -> t14SubstringDedup,
    "t30_span_removal"    -> t30SpanRemoval,
    "p02_mixture_report"  -> p02MixtureReport,
    "t11_weighted_sample" -> t11WeightedSample,
    "t12_chunk_sliding"   -> t12ChunkSliding,
    "t13_domain_budget"   -> t13DomainBudget,
    "p01_corpus_pipeline" -> p01CorpusPipeline,
    "t09_balanced_sample" -> t09BalancedSample,
    "t10_decontaminate" -> t10Decontaminate,
    "q29_text_tokens"   -> q29TextTokens,
    "q34_text_stats"    -> q34TextStats,
    "t01_lang_id"       -> t01LangId,
    "t02_quality_score" -> t02QualityScore,
    "t03_token_count"   -> t03TokenCount,
    "t04_fingerprint"   -> t04Fingerprint,
    "t48_source_novelty" -> t48SourceNovelty,
    "t05_tfidf"         -> t05Tfidf,
    "t06_normalize"     -> t06Normalize,
    "t07_seq_packing"   -> t07SeqPacking,
    "t08_repetition"    -> t08Repetition)

  private[queries] def duckMarkerCountOf(column: String, ws: Seq[String]): String =
    s"len(list_filter(string_split($column, ' '), t -> t IN ${inList(ws)}))"

  private[queries] def duckMarkerCount(ws: Seq[String]): String =
    duckMarkerCountOf("text", ws)

  /** The t01 argmax CASE over c_en/c_es/c_fr/c_de columns — ONE spelling
    * for the t01/t34/p12 oracles.
    */
  private[queries] val duckLangCase: String =
    """CASE
      |      WHEN c_en > 0 AND c_en >= greatest(c_es, c_fr, c_de) THEN 'en'
      |      WHEN c_es > 0 AND c_es >= greatest(c_fr, c_de) THEN 'es'
      |      WHEN c_fr > 0 AND c_fr >= c_de THEN 'fr'
      |      WHEN c_de > 0 THEN 'de'
      |      ELSE 'und'
      |    END""".stripMargin

  /** t44's render + extraction as DuckDB CTEs (r, md, ext) — shared by
    * the t44 and p12 oracles.
    */
  private def duckT44Ctes: String =
    s"""r AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |md AS (
       |  SELECT doc_id,
       |         CAST((len(tk) + $LineTokens - 1) // $LineTokens AS INT) AS n_lines,
       |         list_transform(generate_series(0, (len(tk) + $LineTokens - 1) // $LineTokens - 1),
       |           i -> CASE CAST((doc_id + i) % 7 AS INT)
       |                  WHEN 4 THEN '[home](/home) [about](/about) [contact](/contact)'
       |                  WHEN 5 THEN array_to_string(list_slice(tk, i * $LineTokens + 1, i * $LineTokens + 2), ' ')
       |                  ELSE array_to_string(list_slice(tk, i * $LineTokens + 1, i * $LineTokens + $LineTokens), ' ')
       |                END) AS lines
       |  FROM r),
       |ext AS (
       |  SELECT doc_id, n_lines,
       |         list_filter(lines, l ->
       |           len(list_filter(string_split(l, ' '), x -> x <> '')) >= 3 AND
       |           1000 * len(regexp_extract_all(l, '[]][(]')) <
       |             500 * len(list_filter(string_split(l, ' '), x -> x <> ''))) AS kept
       |  FROM md)""".stripMargin

  /** The DuckDB spelling of gopherCols' rule inputs (t20's oracle and
    * p05's gate both build on it). */
  private[queries] def duckGopherInner: String =
    s"""SELECT doc_id,
       |       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       |       CAST((list_sum(list_transform(string_split(text, ' '), t -> length(t))) * 100)
       |            // len(string_split(text, ' ')) AS BIGINT) AS mean_len_x100,
       |       CAST((len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '[a-z]'))) * 100)
       |            // len(string_split(text, ' ')) AS BIGINT) AS alpha_pct,
       |       CAST(${duckMarkerCount(stopwords)} AS INT) AS n_stop
       |FROM documents""".stripMargin

  /** (doc_id, keep) in DuckDB — the gate predicate, one spelling. */
  private[queries] def duckGopherKeep: String =
    s"""SELECT doc_id,
       |       ((n_words BETWEEN 50 AND 100000)
       |        AND (mean_len_x100 BETWEEN 300 AND 1000)
       |        AND (alpha_pct >= 80) AND (n_stop >= 2)) AS keep
       |FROM ($duckGopherInner)""".stripMargin

  val oracles: Map[String, String] = Map(
    // t44: independent DuckDB spelling of the SAME render + extraction
    // rule (list/regex kernels, non-empty-word counts, integer
    // cross-multiplied link density) — the kept_hash match proves both
    // engines kept the identical lines.
    "t44_content_extract" ->
      s"""WITH $duckT44Ctes
         |SELECT doc_id, n_lines,
         |       CAST(len(kept) AS INT) AS n_kept,
         |       CAST(n_lines - len(kept) AS INT) AS n_dropped,
         |       CAST(coalesce(list_sum(list_transform(kept,
         |         l -> len(list_filter(string_split(l, ' '), x -> x <> '')))), 0) AS BIGINT) AS kept_tokens,
         |       md5(coalesce(array_to_string(kept, chr(10)), '')) AS kept_hash
         |FROM ext ORDER BY doc_id""".stripMargin,
    // p12: t44's shared extraction CTEs, then the clean-text stats and the
    // t01 marker argmax over the EXTRACTED text — the composed chain's
    // oracle is the composition of the two operators' oracles.
    "p12_clean_chain" ->
      s"""WITH $duckT44Ctes,
         |k AS (
         |  SELECT doc_id, n_lines, CAST(len(kept) AS INT) AS n_kept,
         |         coalesce(array_to_string(kept, ' '), '') AS ktext,
         |         CAST(coalesce(list_sum(list_transform(kept,
         |           l -> len(list_filter(string_split(l, ' '), x -> x <> '')))), 0) AS BIGINT) AS kept_tokens
         |  FROM ext),
         |m AS (
         |  SELECT doc_id, n_lines, n_kept, kept_tokens,
         |         CAST(length(replace(ktext, ' ', '')) AS BIGINT) AS nonspace_chars,
         |         ${langMarkers.map { case (l, ws) =>
                      s"CAST(${duckMarkerCountOf("ktext", ws)} AS INT) AS c_$l"
                    }.mkString(",\n         ")}
         |  FROM k),
         |p AS (
         |  SELECT doc_id, n_lines,
         |         CAST((n_lines - n_kept) * 1000 // n_lines AS INT) AS drop_permille,
         |         kept_tokens,
         |         CAST(CASE WHEN kept_tokens = 0 THEN 0
         |                   ELSE nonspace_chars * 100 // kept_tokens END AS BIGINT)
         |           AS mean_tok_len_x100,
         |         $duckLangCase AS predicted
         |  FROM m)
         |SELECT doc_id, n_lines, drop_permille, kept_tokens, mean_tok_len_x100,
         |       predicted,
         |       (kept_tokens >= $P12MinTokens AND predicted <> 'und') AS keep
         |FROM p ORDER BY doc_id""".stripMargin,
    // t43: the identical left-to-right integer algebra (// == div for
    // these all-positive operands), the identical floor(sqrt(double))
    // weight (IEEE sqrt is correctly rounded, inputs < 2^53 — same bits
    // on both engines), and the same md5 hash gate.
    "t43_temperature_mix" -> {
      val gate = s"${TextHash.duckHash56("CAST(doc_id AS VARCHAR)")} % 1000000"
      s"""WITH docs AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
         |  FROM documents),
         |per AS (
         |  SELECT source, CAST(SUM(tok) AS BIGINT) AS t_s,
         |         COUNT(1) AS n_docs,
         |         CAST(floor(sqrt(CAST(SUM(tok) AS DOUBLE))) AS BIGINT) AS w
         |  FROM docs GROUP BY source),
         |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_tot,
         |               CAST(SUM(t_s) AS BIGINT) AS t_tot FROM per),
         |rates AS (
         |  SELECT source, t_s, n_docs, w,
         |         least(t_s, t_tot * $MixBudgetNum // $MixBudgetDen
         |                    * w // w_tot) AS target_tok,
         |         least(1000000,
         |               least(t_s, t_tot * $MixBudgetNum // $MixBudgetDen
         |                          * w // w_tot) * 1000000 // t_s) AS rate_ppm
         |  FROM per, tot),
         |kept AS (
         |  SELECT d.source, COUNT(1) AS kept_docs,
         |         CAST(SUM(tok) AS BIGINT) AS kept_tokens
         |  FROM docs d JOIN rates r ON d.source = r.source
         |  WHERE $gate < rate_ppm
         |  GROUP BY d.source)
         |SELECT source, t_s AS raw_tokens, n_docs, w AS weight,
         |       target_tok AS target_tokens, rate_ppm,
         |       COALESCE(kept_docs, CAST(0 AS BIGINT)) AS kept_docs,
         |       COALESCE(kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens
         |FROM rates LEFT JOIN kept USING (source)
         |ORDER BY source""".stripMargin
    },
    // t32: same deterministic rendering (list_slice is index-inclusive =
    // Spark's slice(start, length) here), then the same (?m) regex counts
    // via len(regexp_extract_all). The corpus is nonempty per doc, so the
    // line count is always >= 1.
    // t41: per-source models + the ev × sources grid; unseen bigram /
    // context degrade through COALESCE 0 under the same bit-length
    // identity, exactly as the Spark side spells it.
    // t47: the same bit-length ceiling and integer divisions; the global
    // max rides a cross join of the one-row aggregate
    "t47_length_buckets" ->
      """WITH toks AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) > 0),
        |b AS (
        |  SELECT n_tokens,
        |         CASE WHEN n_tokens = 1 THEN CAST(1 AS BIGINT)
        |              ELSE (CAST(1 AS BIGINT) << length(bin(n_tokens - 1)))
        |         END AS ceiling
        |  FROM toks),
        |m AS (SELECT MAX(n_tokens) AS mt FROM toks)
        |SELECT ceiling,
        |       CAST(COUNT(1) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS real_tokens,
        |       CAST(COUNT(1) * ceiling AS BIGINT) AS padded_tokens,
        |       CAST((COUNT(1) * ceiling - SUM(n_tokens)) * 10000
        |            // (COUNT(1) * ceiling) AS BIGINT) AS waste_bp,
        |       CAST((COUNT(1) * mt - SUM(n_tokens)) * 10000
        |            // (COUNT(1) * mt) AS BIGINT) AS unbucketed_waste_bp
        |FROM b CROSS JOIN m
        |GROUP BY ceiling, mt ORDER BY ceiling""".stripMargin,
    // t46: t41's LM CTEs specialized to two models (target source vs the
    // whole corpus), folded per document; the same bit-length log2
    "t46_dsir_select" ->
      s"""WITH tok AS (
         |  SELECT source, ${TextHash.duckHash56("t")} AS h1
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
         |        FROM documents)),
         |unit AS (SELECT h1, COUNT(1) AS f1t FROM tok
         |         WHERE source = '$DsirTarget' GROUP BY 1),
         |unir AS (SELECT h1, COUNT(1) AS f1r FROM tok GROUP BY 1),
         |vt AS (SELECT CAST(COUNT(1) AS BIGINT) AS vt FROM unit),
         |vr AS (SELECT CAST(COUNT(1) AS BIGINT) AS vr FROM unir),
         |bgall AS (
         |  SELECT doc_id, source,
         |         ${TextHash.duckHash56("bg")} AS hb,
         |         ${TextHash.duckHash56("string_split(bg, ' ')[1]")} AS h1
         |  FROM (SELECT doc_id, source,
         |               unnest(${TextHash.duckShingles("text", 2)}) AS bg
         |        FROM documents)
         |  WHERE contains(bg, ' ')),
         |bigt AS (SELECT hb, COUNT(1) AS f2t FROM bgall
         |         WHERE source = '$DsirTarget' GROUP BY 1),
         |bigr AS (SELECT hb, COUNT(1) AS f2r FROM bgall GROUP BY 1),
         |perdoc AS (
         |  SELECT g.doc_id,
         |         CAST(SUM(g.n) AS BIGINT) AS n_transitions,
         |         CAST(SUM(g.n * ((length(format('{:b}', COALESCE(ut.f1t, 0) + vt.vt)) - 1)
         |                       - (length(format('{:b}', COALESCE(bt.f2t, 0) + 1)) - 1)))
         |              AS BIGINT) AS target_bits,
         |         CAST(SUM(g.n * ((length(format('{:b}', COALESCE(ur.f1r, 0) + vr.vr)) - 1)
         |                       - (length(format('{:b}', COALESCE(br.f2r, 0) + 1)) - 1)))
         |              AS BIGINT) AS raw_bits
         |  FROM (SELECT doc_id, hb, h1, COUNT(1) AS n
         |        FROM bgall GROUP BY 1, 2, 3) g
         |  LEFT JOIN bigt bt USING (hb)
         |  LEFT JOIN unit ut USING (h1)
         |  LEFT JOIN bigr br USING (hb)
         |  LEFT JOIN unir ur USING (h1)
         |  CROSS JOIN vt CROSS JOIN vr
         |  GROUP BY g.doc_id)
         |SELECT d.doc_id,
         |       COALESCE(p.n_transitions, 0) AS n_transitions,
         |       COALESCE(p.target_bits, 0) AS target_bits,
         |       COALESCE(p.raw_bits, 0) AS raw_bits,
         |       COALESCE(p.raw_bits, 0) - COALESCE(p.target_bits, 0) AS gain_bits,
         |       (COALESCE(p.raw_bits, 0) - COALESCE(p.target_bits, 0)) > 0 AS keep
         |FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "t41_domain_xent" ->
      s"""WITH tok AS (
         |  SELECT source AS tsrc, ${TextHash.duckHash56("t")} AS h1
         |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
         |        FROM documents)),
         |uni AS (SELECT tsrc, h1, COUNT(1) AS f1 FROM tok GROUP BY 1, 2),
         |vv AS (SELECT tsrc, CAST(COUNT(1) AS BIGINT) AS v FROM uni GROUP BY 1),
         |bgall AS (
         |  SELECT source,
         |         ${TextHash.duckHash56("bg")} AS hb,
         |         ${TextHash.duckHash56("string_split(bg, ' ')[1]")} AS h1
         |  FROM (SELECT source, unnest(${TextHash.duckShingles("text", 2)}) AS bg
         |        FROM documents)
         |  WHERE contains(bg, ' ')),
         |big AS (SELECT source AS tsrc, hb, COUNT(1) AS f2
         |        FROM bgall GROUP BY 1, 2),
         |ev AS (SELECT source AS esrc, hb, h1, COUNT(1) AS n
         |       FROM bgall GROUP BY 1, 2, 3),
         |srcs AS (SELECT DISTINCT source AS tsrc FROM documents),
         |grid AS (
         |  SELECT s.tsrc, e.esrc, e.n,
         |         (length(format('{:b}', COALESCE(u.f1, 0) + vv.v)) - 1)
         |       - (length(format('{:b}', COALESCE(b.f2, 0) + 1)) - 1) AS bits
         |  FROM ev e
         |  CROSS JOIN srcs s
         |  LEFT JOIN big b ON b.tsrc = s.tsrc AND b.hb = e.hb
         |  LEFT JOIN uni u ON u.tsrc = s.tsrc AND u.h1 = e.h1
         |  JOIN vv ON vv.tsrc = s.tsrc)
         |SELECT tsrc AS train_source, esrc AS eval_source,
         |       CAST(SUM(n) AS BIGINT) AS n_transitions,
         |       CAST(SUM(n * bits) AS BIGINT) AS bits_sum,
         |       CAST(CAST(SUM(n * bits) AS BIGINT) * 100
         |            // CAST(SUM(n) AS BIGINT) AS BIGINT) AS mean_centibits
         |FROM grid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // t42: t40's oracle CTEs verbatim for the per-doc score, then the
    // plain window-rank spelling of the keyed prefix count (the
    // m09/t35 precedent: DuckDB is single-node, Spark's prefixSum must
    // equal row_number under any partitioning) and the SAME ntile
    // formula text.
    "t42_perplexity_filter" ->
      s"""WITH tok AS (
         |  SELECT ${TextHash.duckHash56("t")} AS h1
         |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
         |c1 AS (SELECT h1, COUNT(1) AS f1 FROM tok GROUP BY h1),
         |v AS (SELECT CAST(COUNT(1) AS BIGINT) AS v FROM c1),
         |bg AS (
         |  SELECT doc_id,
         |         ${TextHash.duckHash56("bg")} AS hb,
         |         ${TextHash.duckHash56("string_split(bg, ' ')[1]")} AS h1
         |  FROM (SELECT doc_id, unnest(${TextHash.duckShingles("text", 2)}) AS bg
         |        FROM documents)
         |  WHERE contains(bg, ' ')),
         |c2 AS (SELECT hb, COUNT(1) AS f2 FROM bg GROUP BY hb),
         |perdoc AS (
         |  SELECT doc_id,
         |         CAST(CAST(SUM((length(format('{:b}', f1 + v)) - 1)
         |                - (length(format('{:b}', f2 + 1)) - 1)) AS BIGINT)
         |              * 100 // COUNT(1) AS BIGINT) AS mean_centibits
         |  FROM bg JOIN c2 USING (hb) JOIN c1 USING (h1), v
         |  GROUP BY doc_id),
         |scored AS (
         |  SELECT d.doc_id, d.source,
         |         CAST(length(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |         p.mean_centibits,
         |         p.mean_centibits * 1099511627776 + d.doc_id AS ok
         |  FROM documents d JOIN perdoc p USING (doc_id)),
         |ranked AS (
         |  SELECT *,
         |         row_number() OVER (PARTITION BY source ORDER BY ok) AS rank,
         |         COUNT(1) OVER (PARTITION BY source) AS n_src
         |  FROM scored),
         |bucketed AS (
         |  SELECT source, n_tokens, mean_centibits,
         |         CAST(((rank - 1) * 3) // n_src AS INT) AS bucket
         |  FROM ranked)
         |SELECT source, bucket,
         |       COUNT(1) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       MIN(mean_centibits) AS min_centibits,
         |       MAX(mean_centibits) AS max_centibits,
         |       bucket <= 1 AS kept
         |FROM bucketed
         |GROUP BY source, bucket
         |ORDER BY source, bucket""".stripMargin,
    // t40: identical Laplace-smoothed bigram surprisal — log2 via the
    // same bin/format('{:b}') bit-length identity as t35; the prefix
    // token of a bigram is element 1 (DuckDB arrays are 1-indexed).
    "t40_bigram_lm" ->
      s"""WITH tok AS (
         |  SELECT ${TextHash.duckHash56("t")} AS h1
         |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)),
         |c1 AS (SELECT h1, COUNT(1) AS f1 FROM tok GROUP BY h1),
         |v AS (SELECT CAST(COUNT(1) AS BIGINT) AS v FROM c1),
         |bg AS (
         |  SELECT doc_id,
         |         ${TextHash.duckHash56("bg")} AS hb,
         |         ${TextHash.duckHash56("string_split(bg, ' ')[1]")} AS h1
         |  FROM (SELECT doc_id, unnest(${TextHash.duckShingles("text", 2)}) AS bg
         |        FROM documents)
         |  WHERE contains(bg, ' ')),
         |c2 AS (SELECT hb, COUNT(1) AS f2 FROM bg GROUP BY hb)
         |SELECT doc_id,
         |       CAST(COUNT(1) AS BIGINT) AS n_transitions,
         |       CAST(SUM((length(format('{:b}', f1 + v)) - 1)
         |              - (length(format('{:b}', f2 + 1)) - 1)) AS BIGINT) AS bits_sum,
         |       CAST(CAST(SUM((length(format('{:b}', f1 + v)) - 1)
         |              - (length(format('{:b}', f2 + 1)) - 1)) AS BIGINT)
         |            * 100 // COUNT(1) AS BIGINT) AS mean_centibits
         |FROM bg JOIN c2 USING (hb) JOIN c1 USING (h1), v
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t35: the oracle may use the plain rank window (DuckDB single-node);
    // the Spark side's prefixSum must equal it under any partitioning.
    "t35_zipf_fit" ->
      """WITH vocab AS (
        |  SELECT tok, COUNT(1) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY tok),
        |hist AS (SELECT cnt, COUNT(1) AS ntok FROM vocab GROUP BY cnt),
        |ranked AS (
        |  SELECT cnt, ntok,
        |         CAST(COALESCE(SUM(ntok) OVER (ORDER BY cnt DESC
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |              + 1 AS BIGINT) AS rank
        |  FROM hist),
        |pts AS (
        |  SELECT ntok, cnt,
        |         CAST(length(format('{:b}', rank)) - 1 AS BIGINT) AS x,
        |         CAST(length(format('{:b}', cnt)) - 1 AS BIGINT) AS y
        |  FROM ranked),
        |sums AS (
        |  SELECT COUNT(1) AS n_classes,
        |         CAST(SUM(ntok) AS BIGINT) AS n,
        |         CAST(SUM(ntok * cnt) AS BIGINT) AS total_tokens,
        |         CAST(SUM(ntok * x) AS BIGINT) AS sx,
        |         CAST(SUM(ntok * y) AS BIGINT) AS sy,
        |         CAST(SUM(ntok * x * x) AS BIGINT) AS sxx,
        |         CAST(SUM(ntok * x * y) AS BIGINT) AS sxy
        |  FROM pts)
        |SELECT n AS vocab_size, total_tokens, n_classes,
        |       CASE WHEN n * sxx - sx * sx = 0 THEN 0
        |            ELSE (1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) END
        |         AS slope_permille
        |FROM sums""".stripMargin,
    // t39: the identical BPE train+encode, unrolled — pN picks round N's
    // best pair (count desc, pair asc), vN applies the merge; both
    // engines' `replace` share the leftmost non-overlapping scan, so the
    // symbol sequences agree byte-for-byte after every round.
    "t39_bpe_tokenizer" -> {
      val rounds = (1 to BpeRounds).map { i =>
        val prev = s"v${i - 1}"
        s"""p$i AS (
           |  SELECT pair FROM (
           |    SELECT n, unnest(list_transform(generate_series(1, len(s) - 1),
           |                     i -> s[i] || ' ' || s[i + 1])) AS pair
           |    FROM (SELECT n, string_split(trim(seq), ' ') AS s FROM $prev))
           |  GROUP BY pair ORDER BY SUM(n) DESC, pair ASC LIMIT 1),
           |v$i AS (
           |  SELECT w, n,
           |         COALESCE(
           |           replace(seq, ' ' || (SELECT pair FROM p$i) || ' ',
           |                   ' ' || replace((SELECT pair FROM p$i), ' ', '') || ' '),
           |           seq) AS seq
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      s"""WITH words AS (
         |  SELECT doc_id, w
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> ''),
         |v0 AS (
         |  SELECT w, COUNT(*) AS n,
         |         ' ' || regexp_replace(w, '(.)', '${"\\"}1 ', 'g') AS seq
         |  FROM words GROUP BY w),
         |$rounds
         |SELECT doc_id,
         |       COUNT(*) AS ws_tokens,
         |       CAST(SUM(len(string_split(trim(seq), ' '))) AS BIGINT) AS bpe_tokens,
         |       CAST(SUM(length(w)) AS BIGINT) AS n_chars,
         |       (CAST(SUM(length(w)) AS BIGINT) * 100)
         |         // CAST(SUM(len(string_split(trim(seq), ' '))) AS BIGINT)
         |         AS chars_x100_per_bpe
         |FROM words JOIN v$BpeRounds USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "t32_markup_profile" ->
      s"""WITH r AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |md AS (
         |  SELECT doc_id,
         |         CAST((len(tk) + $LineTokens - 1) // $LineTokens AS INT) AS n_lines,
         |         array_to_string(list_transform(
         |           generate_series(0, (len(tk) + $LineTokens - 1) // $LineTokens - 1),
         |           i -> (CASE CAST((doc_id + i) % 7 AS INT)
         |                   WHEN 0 THEN '# ' WHEN 1 THEN '- '
         |                   WHEN 2 THEN '``` ' ELSE '' END)
         |                || array_to_string(list_slice(tk, i * $LineTokens + 1,
         |                                              i * $LineTokens + $LineTokens), ' ')
         |                || (CASE WHEN (doc_id + i) % 7 = 3
         |                         THEN ' see [ref](https://docs.example.org)'
         |                         ELSE '' END)), chr(10)) AS md
         |  FROM r),
         |prof AS (
         |  SELECT doc_id, n_lines,
         |         CAST(len(regexp_extract_all(md, '(?m)^# ')) AS INT) AS n_head,
         |         CAST(len(regexp_extract_all(md, '(?m)^- ')) AS INT) AS n_bullet,
         |         CAST(len(regexp_extract_all(md, '(?m)^```')) AS INT) AS n_fence,
         |         CAST(len(regexp_extract_all(md, '[[]ref[]]')) AS INT) AS n_links
         |  FROM md)
         |SELECT doc_id, n_lines, n_head, n_bullet, n_fence, n_links,
         |       CAST(1000 * (n_head + n_bullet + n_fence) // n_lines AS INT)
         |         AS structured_permille,
         |       1000 * (n_head + n_bullet + n_fence) // n_lines <= 500 AS keep
         |FROM prof ORDER BY doc_id""".stripMargin,
    "t28_length_cdf" ->
      """WITH h AS (SELECT n_chars, COUNT(1) AS cnt FROM documents GROUP BY 1),
        |c AS (SELECT n_chars,
        |             CAST(COALESCE(SUM(cnt) OVER (ORDER BY n_chars
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |               AS BIGINT) AS n_less
        |      FROM h),
        |t AS (SELECT COUNT(1) AS n_total FROM documents)
        |SELECT doc_id, n_chars,
        |       CAST(n_less * 10000 // n_total AS BIGINT) AS pct_bp,
        |       n_less * 100 < n_total * 5 AS short_tail,
        |       n_less * 100 >= n_total * 95 AS long_tail
        |FROM documents JOIN c USING (n_chars), t
        |ORDER BY doc_id""".stripMargin,
    "p07_source_report" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, source, ${TextHash.duckHash56("shingle")} AS h FROM (
         |    SELECT doc_id, source, unnest(${TextHash.duckShingles("text", 3)}) AS shingle
         |    FROM documents)),
         |srcsh AS (SELECT DISTINCT source, h FROM sh),
         |nsrc AS (SELECT h, COUNT(1) AS n_src FROM srcsh GROUP BY h),
         |persrc AS (
         |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n_shingles,
         |         CAST(SUM(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive
         |  FROM srcsh JOIN nsrc USING (h) GROUP BY source),
         |owned AS (
         |  SELECT d.source AS first_source, CAST(COUNT(1) AS BIGINT) AS n_first_owned
         |  FROM (SELECT h, MIN(doc_id) AS fd FROM sh GROUP BY h) o
         |  JOIN documents d ON d.doc_id = o.fd
         |  GROUP BY d.source),
         |nd AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY source)
         |SELECT source, n_docs, n_shingles, n_exclusive,
         |       CAST(n_exclusive * 1000000 // n_shingles AS BIGINT) AS exclusive_ppm,
         |       n_first_owned
         |FROM persrc
         |JOIN owned ON source = first_source
         |JOIN nd USING (source)
         |ORDER BY source""".stripMargin,
    "t26_surprisal" ->
      s"""WITH tok AS (
         |  SELECT doc_id, ${TextHash.duckHash56("t")} AS h FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
         |tf AS (SELECT h, COUNT(1) AS f FROM tok GROUP BY h),
         |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS total FROM tf)
         |SELECT doc_id,
         |       CAST(COUNT(1) AS BIGINT) AS n_tokens,
         |       CAST(SUM(total // f) AS BIGINT) AS surprisal_sum,
         |       CAST(CAST(SUM(total // f) AS BIGINT) // COUNT(1) AS BIGINT) AS mean_surprisal
         |FROM tok JOIN tf USING (h), tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t27_shingle_novelty" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, ${TextHash.duckHash56("shingle")} AS h FROM (
         |    SELECT doc_id, unnest(${TextHash.duckShingles("text", 3)}) AS shingle
         |    FROM documents)),
         |own AS (SELECT h, MIN(doc_id) AS first_owner FROM sh GROUP BY h)
         |SELECT doc_id,
         |       CAST(COUNT(1) AS BIGINT) AS n_shingles,
         |       CAST(SUM(CASE WHEN first_owner = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       CAST(CAST(SUM(CASE WHEN first_owner = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |            * 1000000 // COUNT(1) AS BIGINT) AS novelty_ppm
         |FROM sh JOIN own USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t25_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT t, COUNT(1) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY 1),
        |hist AS (SELECT cnt, COUNT(1) AS ntok, cnt * COUNT(1) AS mass
        |         FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
        |               COUNT(1) AS vocab_size FROM tok),
        |cum AS (SELECT cnt, ntok, mass,
        |               CAST(SUM(mass) OVER (ORDER BY cnt DESC) AS BIGINT) AS cum_mass,
        |               CAST(SUM(ntok) OVER (ORDER BY cnt DESC) AS BIGINT) AS cum_vocab
        |        FROM hist),
        |sel AS (SELECT c.*, t.total_tokens, t.vocab_size,
        |               (t.total_tokens + 1) // 2 AS th50,
        |               (t.total_tokens * 9 + 9) // 10 AS th90,
        |               (t.total_tokens * 99 + 99) // 100 AS th99
        |        FROM cum c, tot t)
        |SELECT max(total_tokens) AS total_tokens,
        |       max(vocab_size) AS vocab_size,
        |       MIN(CASE WHEN cum_mass >= th50 AND cum_mass - mass < th50
        |            THEN cum_vocab - ntok + (th50 - (cum_mass - mass) + cnt - 1) // cnt END) AS v50,
        |       MIN(CASE WHEN cum_mass >= th90 AND cum_mass - mass < th90
        |            THEN cum_vocab - ntok + (th90 - (cum_mass - mass) + cnt - 1) // cnt END) AS v90,
        |       MIN(CASE WHEN cum_mass >= th99 AND cum_mass - mass < th99
        |            THEN cum_vocab - ntok + (th99 - (cum_mass - mass) + cnt - 1) // cnt END) AS v99
        |FROM sel""".stripMargin,
    "t24_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS n_sent,
        |         CAST(greatest(1, len(string_split(text, ' '))) AS BIGINT) AS n_words,
        |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_vowel_groups
        |  FROM documents)
        |SELECT doc_id, n_sent, n_words, n_vowel_groups,
        |       206835 - (1015 * n_words) // n_sent
        |              - (84600 * n_vowel_groups) // n_words AS flesch_x1000
        |FROM c ORDER BY doc_id""".stripMargin,
    "t20_gopher_rules" ->
      s"""SELECT doc_id, n_words, mean_len_x100, alpha_pct, n_stop,
         |       (n_words BETWEEN 50 AND 100000) AS ok_words,
         |       (mean_len_x100 BETWEEN 300 AND 1000) AS ok_mean_len,
         |       (alpha_pct >= 80) AS ok_alpha,
         |       (n_stop >= 2) AS ok_stop,
         |       ((n_words BETWEEN 50 AND 100000)
         |        AND (mean_len_x100 BETWEEN 300 AND 1000)
         |        AND (alpha_pct >= 80) AND (n_stop >= 2)) AS keep
         |FROM ($duckGopherInner)
         |ORDER BY doc_id""".stripMargin,
    "t22_char_diversity" ->
      // string_split(text, '') unnests per Unicode code point — the same
      // units CharStatsUtil counts (codePointAt loop), so the histograms
      // agree beyond ASCII too. All outputs integer-exact.
      """WITH ch AS (
        |  SELECT doc_id, c, COUNT(1) AS f
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
        |  GROUP BY doc_id, c),
        |agg AS (
        |  SELECT doc_id,
        |         CAST(SUM(f) AS BIGINT) AS n,
        |         CAST(COUNT(1) AS BIGINT) AS dn,
        |         CAST(MAX(f) AS BIGINT) AS mx,
        |         CAST(SUM(f * f) AS BIGINT) AS ss
        |  FROM ch GROUP BY doc_id)
        |SELECT doc_id, n AS n_chars, dn AS n_distinct, mx AS max_freq,
        |       (n * n - ss) * 1000000 // greatest(n * n, 1) AS simpson_x1e6,
        |       mx * 10000 // greatest(n, 1) AS top_char_bp
        |FROM agg ORDER BY doc_id""".stripMargin,
    "t21_lexical_diversity" ->
      """WITH tok AS (
        |  SELECT doc_id, t, COUNT(1) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY doc_id, t)
        |SELECT doc_id,
        |       CAST(SUM(c) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(1) AS BIGINT) AS n_types,
        |       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |       CAST((COUNT(1) * 100) // SUM(c) AS BIGINT) AS ttr_x100
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t19_bigram_commonness" ->
      s"""WITH bg AS (
         |  SELECT DISTINCT doc_id,
         |         ${TextHash.duckHash56("b")} AS h
         |  FROM (SELECT doc_id, unnest(${TextHash.duckShingles("text", 2)}) AS b
         |        FROM documents)),
         |df AS (SELECT h, COUNT(1) AS df FROM bg GROUP BY h)
         |SELECT doc_id,
         |       COUNT(1) AS n_bigrams,
         |       CAST((SUM(df) * 100) // COUNT(1) AS BIGINT) AS mean_df_x100,
         |       CAST(MAX(df) AS BIGINT) AS max_df
         |FROM bg JOIN df USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t16_url_extract" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         text ||
         |         CASE WHEN doc_id % 4 > 0
         |              THEN ' see https://www.site' || CAST(doc_id % 7 AS VARCHAR) ||
         |                   '.example' || CAST(doc_id % 5 AS VARCHAR) ||
         |                   '.com/p/' || CAST(doc_id AS VARCHAR)
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 6 = 0
         |              THEN ' via http://cdn.example' || CAST(doc_id % 5 AS VARCHAR) ||
         |                   '.com/static/x.js'
         |              ELSE '' END AS dirty
         |  FROM documents),
         |u AS (SELECT doc_id, unnest(regexp_extract_all(dirty, '$UrlRe')) AS url FROM d),
         |h AS (SELECT doc_id, url,
         |             regexp_extract(url, 'https?://([a-z0-9.]+)', 1) AS host
         |      FROM u)
         |SELECT regexp_extract(host, '[a-z0-9]+[.][a-z]+$$') AS domain,
         |       COUNT(1) AS n_urls,
         |       COUNT(DISTINCT doc_id) AS n_docs,
         |       CAST(SUM(CASE WHEN url LIKE 'https%' THEN 1 ELSE 0 END) AS BIGINT) AS n_https
         |FROM h GROUP BY domain ORDER BY domain""".stripMargin,
    "t17_line_dedup" ->
      s"""WITH l AS (
         |  SELECT doc_id, CAST(i AS INT) AS idx,
         |         array_to_string(list_slice(toks, i * $LineTokens + 1,
         |                                    i * $LineTokens + $LineTokens), ' ') AS line
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
         |               unnest(generate_series(0,
         |                 (len(string_split(text, ' ')) + ${LineTokens - 1}) // $LineTokens - 1)) AS i
         |        FROM documents)),
         |hl AS (SELECT doc_id, idx, line,
         |              doc_id * 1000000 + idx AS k,
         |              ${TextHash.duckHash56("line")} AS h
         |       FROM l),
         |f AS (SELECT h, MIN(k) AS first_k FROM hl GROUP BY h)
         |SELECT doc_id,
         |       COUNT(1) AS n_lines,
         |       CAST(SUM(CASE WHEN k = first_k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       ${TextHash.duckHash56(
                  "COALESCE(string_agg(line, ' ' ORDER BY idx) FILTER (WHERE k = first_k), '')")} AS kept_hash
         |FROM hl JOIN f USING (h)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t18_quality_model" ->
      s"""WITH w AS (
         |  SELECT i AS bucket, (i * 2654435761) % 201 - 100 AS w
         |  FROM generate_series(0, ${ModelBuckets - 1}) t(i)),
         |tok AS (
         |  SELECT doc_id, ${TextHash.duckHash56("token")} % $ModelBuckets AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents))
         |SELECT doc_id, COUNT(1) AS n_tokens,
         |       CAST(SUM(w) AS BIGINT) AS score,
         |       SUM(w) >= 0 AS keep
         |FROM tok JOIN w USING (bucket)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t15_pii_redact" -> {
      val dirty =
        s"""text ||
           |  CASE WHEN doc_id % 3 > 0
           |       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.com'
           |       ELSE '' END ||
           |  CASE WHEN doc_id % 2 = 0
           |       THEN ' card ' || CAST(4000000000000000 + doc_id AS VARCHAR)
           |       ELSE '' END""".stripMargin
      val clean =
        s"regexp_replace(regexp_replace(dirty, '$EmailRe', '<EMAIL>', 'g'), '$CardRe', '<CARD>', 'g')"
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(dirty, '$EmailRe')) AS INT) AS n_emails,
         |       CAST(len(regexp_extract_all(dirty, '$CardRe')) AS INT) AS n_cards,
         |       CAST(len($clean) AS INT) AS clean_len,
         |       ${TextHash.duckHash56(clean)} AS clean_hash
         |FROM (SELECT doc_id, $dirty AS dirty FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "t14_substring_dedup" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |         ${TextHash.duckHash56(s"substr(text, CAST(p AS INT), $SubstrWindow)")} AS h
         |  FROM (
         |    SELECT doc_id, text,
         |           unnest(generate_series(1, greatest(1, len(text) - ${SubstrWindow - 1}),
         |                                  $SubstrStride)) AS p
         |    FROM documents)),
         |dup AS (
         |  SELECT h AS dh FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT doc_id, COUNT(1) AS n_windows, COUNT(dh) AS n_dup_windows
         |FROM w LEFT JOIN dup ON w.h = dup.dh
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t45: t30's interval-merge SQL over TOKEN indices, driven by the
    // broadcast benchmark shingle set instead of the cross-doc dup set
    "t45_decontam_rewrite" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tokens,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |bench AS (
         |  SELECT DISTINCT unnest(${TextHash.duckShingles("text", ContamShingleK)}) AS shingle
         |  FROM documents WHERE doc_id < 5),
         |sh AS (
         |  SELECT doc_id, n_tokens, tokens,
         |         unnest(generate_series(1,
         |           greatest(1, CAST(n_tokens AS INT) - ${ContamShingleK - 1}))) AS p
         |  FROM toks WHERE doc_id >= 5),
         |sp AS (
         |  SELECT doc_id, CAST(p AS BIGINT) AS ss,
         |         least(CAST(p AS BIGINT) + $ContamShingleK, n_tokens + 1) AS se
         |  FROM sh
         |  WHERE array_to_string(list_slice(tokens, p, p + ${ContamShingleK - 1}), ' ')
         |          IN (SELECT shingle FROM bench)),
         |isl AS (
         |  SELECT doc_id, ss, se,
         |         SUM(CASE WHEN prev_max IS NULL OR ss > prev_max THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY ss
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM (SELECT doc_id, ss, se,
         |               MAX(se) OVER (PARTITION BY doc_id ORDER BY ss
         |                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |                 AS prev_max
         |        FROM sp) t),
         |m AS (SELECT doc_id, MIN(ss) AS ss, MAX(se) AS se
         |      FROM isl GROUP BY doc_id, island),
         |gaps AS (
         |  SELECT doc_id,
         |         COALESCE(lag(se) OVER (PARTITION BY doc_id ORDER BY ss), 1) AS gs,
         |         ss AS ge
         |  FROM m),
         |tl AS (SELECT m.doc_id, MAX(m.se) AS gs, t.n_tokens + 1 AS ge
         |       FROM m JOIN toks t USING (doc_id)
         |       GROUP BY m.doc_id, t.n_tokens),
         |segs AS (SELECT doc_id, gs, ge FROM gaps
         |         UNION ALL SELECT doc_id, gs, ge FROM tl),
         |cl AS (SELECT s.doc_id,
         |              array_to_string(flatten(list(
         |                list_slice(t.tokens, CAST(s.gs AS INT), CAST(s.ge - 1 AS INT))
         |                ORDER BY s.gs)), ' ') AS cleaned
         |       FROM segs s JOIN toks t USING (doc_id) GROUP BY s.doc_id),
         |st AS (SELECT doc_id, COUNT(1) AS n_spans,
         |              CAST(SUM(se - ss) AS BIGINT) AS tokens_removed
         |       FROM m GROUP BY doc_id),
         |res AS (
         |  SELECT c.doc_id, n_spans, tokens_removed,
         |         t.n_tokens - tokens_removed AS clean_tokens, cleaned
         |  FROM cl c JOIN st USING (doc_id) JOIN toks t USING (doc_id)
         |  UNION ALL
         |  SELECT t.doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), t.n_tokens,
         |         array_to_string(t.tokens, ' ')
         |  FROM toks t
         |  WHERE t.doc_id >= 5 AND t.doc_id NOT IN (SELECT doc_id FROM m))
         |SELECT doc_id, n_spans, tokens_removed, clean_tokens,
         |       ${TextHash.duckHash56("cleaned")} AS clean_hash
         |FROM res ORDER BY doc_id""".stripMargin,
    "t30_span_removal" ->
      s"""WITH w AS (
         |  SELECT doc_id, CAST(p AS INT) AS p, len,
         |         ${TextHash.duckHash56(s"substr(text, CAST(p AS INT), $SubstrWindow)")} AS h
         |  FROM (
         |    SELECT doc_id, text, len(text) AS len,
         |           unnest(generate_series(1, greatest(1, len(text) - ${SubstrWindow - 1}),
         |                                  $SubstrStride)) AS p
         |    FROM documents)),
         |dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         |sp AS (SELECT doc_id, p AS ss, least(p + $SubstrWindow, len + 1) AS se
         |       FROM w WHERE h IN (SELECT h FROM dup)),
         |isl AS (
         |  SELECT doc_id, ss, se,
         |         SUM(CASE WHEN prev_max IS NULL OR ss > prev_max THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY ss
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM (SELECT doc_id, ss, se,
         |               MAX(se) OVER (PARTITION BY doc_id ORDER BY ss
         |                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |                 AS prev_max
         |        FROM sp) t),
         |m AS (SELECT doc_id, MIN(ss) AS ss, MAX(se) AS se
         |      FROM isl GROUP BY doc_id, island),
         |gaps AS (
         |  SELECT doc_id,
         |         COALESCE(lag(se) OVER (PARTITION BY doc_id ORDER BY ss), 1) AS gs,
         |         ss AS ge
         |  FROM m),
         |tl AS (SELECT m.doc_id, MAX(m.se) AS gs, len(dd.text) + 1 AS ge
         |       FROM m JOIN documents dd ON dd.doc_id = m.doc_id
         |       GROUP BY m.doc_id, len(dd.text)),
         |segs AS (SELECT doc_id, gs, ge FROM gaps
         |         UNION ALL SELECT doc_id, gs, ge FROM tl),
         |cl AS (SELECT s.doc_id,
         |              string_agg(substr(dd.text, s.gs, s.ge - s.gs), '' ORDER BY s.gs)
         |                AS cleaned
         |       FROM segs s JOIN documents dd USING (doc_id) GROUP BY s.doc_id),
         |st AS (SELECT doc_id, COUNT(1) AS n_spans,
         |              CAST(SUM(se - ss) AS BIGINT) AS chars_removed
         |       FROM m GROUP BY doc_id),
         |res AS (
         |  SELECT c.doc_id, n_spans, chars_removed, cleaned
         |  FROM cl c JOIN st USING (doc_id)
         |  UNION ALL
         |  SELECT d.doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), d.text
         |  FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM m))
         |SELECT doc_id, n_spans, chars_removed,
         |       CAST(length(cleaned) AS INT) AS clean_len,
         |       ${TextHash.duckHash56("cleaned")} AS clean_hash
         |FROM res ORDER BY doc_id""".stripMargin,
    "p02_mixture_report" ->
      """WITH g AS (
        |  SELECT lang, source, COUNT(1) AS n_docs,
        |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM g)
        |SELECT lang, source, n_docs, n_tokens, n_tokens * 10000 // tot AS share_bp
        |FROM g CROSS JOIN t
        |ORDER BY lang, source""".stripMargin,
    "t11_weighted_sample" ->
      s"""SELECT doc_id, n_chars,
         |       ${TextHash.duckHash56("CAST(doc_id AS VARCHAR)")} % 1000 AS draw
         |FROM documents
         |WHERE ${TextHash.duckHash56("CAST(doc_id AS VARCHAR)")} % 1000 < n_chars
         |ORDER BY doc_id""".stripMargin,
    "t12_chunk_sliding" ->
      s"""SELECT doc_id,
         |       CAST((start - 1) // $ChunkStride AS INT) AS chunk_no,
         |       CAST(len(list_slice(toks, start, start + ${ChunkTokens - 1})) AS INT) AS chunk_toks,
         |       ${TextHash.duckHash56(
               s"array_to_string(list_slice(toks, start, start + ${ChunkTokens - 1}), ' ')")} AS chunk_hash
         |FROM (
         |  SELECT doc_id, string_split(text, ' ') AS toks,
         |         unnest(generate_series(1, len(string_split(text, ' ')), $ChunkStride)) AS start
         |  FROM documents)
         |ORDER BY doc_id, chunk_no""".stripMargin,
    "t13_domain_budget" ->
      s"""WITH docs AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntoks,
         |         ${TextHash.duckHash56("CAST(doc_id AS VARCHAR)")} AS ord
         |  FROM documents),
         |cum AS (
         |  SELECT doc_id, source, ntoks,
         |         CAST(SUM(ntoks) OVER (PARTITION BY source ORDER BY ord
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
         |  FROM docs)
         |SELECT doc_id, source, ntoks, cum_toks FROM cum
         |WHERE cum_toks <= $DomainBudgetTokens
         |ORDER BY source, cum_toks""".stripMargin,
    "q29_text_tokens" ->
      """SELECT token, COUNT(1) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY token""".stripMargin,
    "q34_text_stats" ->
      """SELECT lang, COUNT(1) AS n_docs,
        |       CAST(CAST(AVG(CAST(n_chars AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS avg_chars,
        |       CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // t38: same presence sets; pair census spelled inline.
    "t38_source_vocab_overlap" -> {
      val shingles = TextHash.duckShingles("text", ContamShingleK)
      s"""WITH sv AS (
         |  SELECT DISTINCT source, unnest($shingles) AS sh FROM documents),
         |sz AS (SELECT source, COUNT(1) AS sz FROM sv GROUP BY 1),
         |pr AS (SELECT a.source AS s1, b.source AS s2, COUNT(1) AS inter
         |       FROM sv a JOIN sv b ON a.sh = b.sh AND a.source < b.source
         |       GROUP BY 1, 2)
         |SELECT s1, s2, inter, z1.sz AS n1, z2.sz AS n2,
         |       inter * 1000 // (z1.sz + z2.sz - inter) AS jaccard_permille
         |FROM pr JOIN sz z1 ON z1.source = s1
         |        JOIN sz z2 ON z2.source = s2
         |ORDER BY s1, s2""".stripMargin
    },
    // t37: same shingle CTEs as t10, probed in the other direction.
    "t37_benchmark_leakage" -> {
      val shingles = TextHash.duckShingles("text", ContamShingleK)
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, unnest($shingles) AS shingle
         |  FROM documents),
         |cv AS (SELECT DISTINCT shingle FROM sh WHERE doc_id >= 5),
         |b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id < 5)
         |SELECT bench_id, COUNT(1) AS n_shingles,
         |       CAST(SUM(CASE WHEN cv.shingle IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_leaked,
         |       CAST(SUM(CASE WHEN cv.shingle IS NOT NULL THEN 1 ELSE 0 END)
         |            * 1000 // COUNT(1) AS BIGINT) AS leak_permille
         |FROM b LEFT JOIN cv USING (shingle)
         |GROUP BY bench_id ORDER BY bench_id""".stripMargin
    },
    // t36: t07's running-sum assignment spelled as the window; same
    // integer fill/straddle math.
    "t36_pack_efficiency" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |             CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |               AS BIGINT) AS cum_before
         |      FROM d),
         |p AS (SELECT doc_id, n_tokens, cum_before,
         |             cum_before // $PackBudget AS bin FROM c)
         |SELECT bin, COUNT(1) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(SUM(n_tokens) * 1000 // $PackBudget AS BIGINT) AS fill_permille,
         |       MAX(cum_before + n_tokens) > (bin + 1) * $PackBudget AS straddles
         |FROM p GROUP BY bin ORDER BY bin""".stripMargin,
    // t34: same classifier CTE as t01, scored against the fixture label;
    // share in integer permille.
    "t34_langid_eval" -> {
      val counts = langMarkers.map { case (l, ws) =>
        s"CAST(${duckMarkerCount(ws)} AS INT) AS c_$l"
      }.mkString(",\n       ")
      s"""WITH p AS (
         |  SELECT lang AS label,
         |    $duckLangCase AS predicted
         |  FROM (SELECT lang, $counts FROM documents)),
         |t AS (SELECT label, COUNT(1) AS n_label FROM p GROUP BY 1),
         |c AS (SELECT label, predicted, COUNT(1) AS n FROM p GROUP BY 1, 2)
         |SELECT c.label, c.predicted, c.n,
         |       c.n * 1000 // t.n_label AS share_permille,
         |       c.label = c.predicted AS is_diag
         |FROM c JOIN t USING (label)
         |ORDER BY c.label, c.predicted""".stripMargin
    },
    "t01_lang_id" -> {
      val counts = langMarkers.map { case (l, ws) =>
        s"CAST(${duckMarkerCount(ws)} AS INT) AS c_$l"
      }.mkString(",\n       ")
      s"""SELECT doc_id, c_en, c_es, c_fr, c_de,
         |  $duckLangCase AS predicted
         |FROM (SELECT doc_id, $counts FROM documents)
         |ORDER BY doc_id""".stripMargin
    },
    "t02_quality_score" ->
      s"""SELECT doc_id, n_tokens, n_stop, n_long, len_score, stop_pct, long_pct,
         |       CAST((len_score + (100 - stop_pct) + long_pct) // 3 AS BIGINT) AS quality
         |FROM (
         |  SELECT doc_id, n_tokens, n_stop, n_long,
         |         CAST(least(100, (length(text) * 100) // 400) AS BIGINT) AS len_score,
         |         CAST((n_stop * 100) // n_tokens AS BIGINT) AS stop_pct,
         |         CAST((n_long * 100) // n_tokens AS BIGINT) AS long_pct
         |  FROM (
         |    SELECT doc_id, text,
         |           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |           CAST(${duckMarkerCount(stopwords)} AS INT) AS n_stop,
         |           CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 6)) AS INT) AS n_long
         |    FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "t03_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS re_tokens,
        |       CAST((length(text) * 100) // len(string_split(text, ' ')) AS BIGINT) AS chars_x100_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    // t48: the same shingle grid; first-occurrence attribution as a
    // per-shingle MIN, sources joined on both legs
    "t48_source_novelty" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(${TextHash.duckShingles("text", 8)}) AS shingle
         |  FROM documents),
         |occ AS (
         |  SELECT shingle, MIN(doc_id) AS first_doc, COUNT(1) AS n_occ
         |  FROM sh GROUP BY shingle),
         |per AS (
         |  SELECT d.source, COUNT(DISTINCT s.shingle) AS n_shingles
         |  FROM (SELECT DISTINCT doc_id, shingle FROM sh) s
         |  JOIN documents d USING (doc_id)
         |  GROUP BY d.source),
         |nv AS (
         |  SELECT d.source, CAST(COUNT(1) AS BIGINT) AS n_novel,
         |         CAST(SUM(n_occ) AS BIGINT) AS occ_mass
         |  FROM occ o JOIN documents d ON d.doc_id = o.first_doc
         |  GROUP BY d.source)
         |SELECT source, CAST(n_shingles AS BIGINT) AS n_shingles, n_novel,
         |       CAST(n_novel * 10000 // n_shingles AS BIGINT) AS novelty_bp,
         |       occ_mass
         |FROM per JOIN nv USING (source) ORDER BY source""".stripMargin,
    "t04_fingerprint" ->
      s"""SELECT doc_id,
         |       list_min(list_transform(${TextHash.duckShingles("text", 8)}, s -> md5(s))) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t23_keywords" ->
      s"""WITH tf AS (
         |  SELECT doc_id, token, COUNT(1) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
         |  GROUP BY doc_id, token),
         |dfreq AS (SELECT token, COUNT(1) AS df FROM tf GROUP BY token),
         |n AS (SELECT COUNT(1) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, token,
         |         CAST(tf * ((n_docs * 100) // df) AS BIGINT) AS tfidf100
         |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY tfidf100 DESC, token ASC) AS rn
         |  FROM scored)
         |SELECT doc_id, token, tfidf100 FROM ranked WHERE rn <= $KeywordsK
         |ORDER BY doc_id, tfidf100 DESC, token""".stripMargin,
    "t05_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, token, COUNT(1) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, COUNT(1) AS df FROM tf GROUP BY token),
        |n AS (SELECT COUNT(1) AS n_docs FROM documents)
        |SELECT doc_id, token, tf, df,
        |       CAST(tf * ((n_docs * 100) // df) AS BIGINT) AS tfidf100
        |FROM tf JOIN dfreq USING (token) CROSS JOIN n
        |ORDER BY doc_id, token""".stripMargin,
    "t06_normalize" ->
      s"""SELECT doc_id,
         |       CAST(len(ctoks) AS INT) AS n_clean,
         |       array_to_string(list_slice(ctoks, 1, 5), ' ') AS head5
         |FROM (
         |  SELECT doc_id,
         |         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
         |                     t -> t != '' AND NOT t IN ${inList(stopwords)}) AS ctoks
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "p01_corpus_pipeline" ->
      s"""WITH scored AS (
         |  SELECT doc_id, text,
         |         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |         CAST(${duckMarkerCount(stopwords)} AS INT) AS n_stop,
         |         CAST(len(list_filter(string_split(text, ' '), t -> length(t) >= 6)) AS INT) AS n_long,
         |         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' '),
         |                     t -> t != '' AND NOT t IN ${inList(stopwords)}) AS ctoks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, CAST(len(ctoks) AS INT) AS n_clean,
         |         array_to_string(ctoks, ' ') AS norm_text,
         |         CAST((least(100, (length(text) * 100) // 400)
         |               + (100 - (n_stop * 100) // n_tokens)
         |               + (n_long * 100) // n_tokens) // 3 AS BIGINT) AS quality
         |  FROM scored),
         |kept AS (
         |  SELECT * FROM q
         |  WHERE n_clean >= $PipelineMinClean AND quality >= $PipelineMinQuality),
         |dedup AS (
         |  SELECT doc_id, n_clean, quality FROM (
         |    SELECT *, MIN(doc_id) OVER (PARTITION BY norm_text) AS keeper FROM kept)
         |  WHERE doc_id = keeper),
         |packed AS (
         |  SELECT doc_id, n_clean, quality,
         |         COALESCE(SUM(n_clean) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM dedup)
         |SELECT doc_id, n_clean, quality,
         |       CAST(cum_before // $PackBudget AS BIGINT) AS bin
         |FROM packed ORDER BY doc_id""".stripMargin,
    "t09_balanced_sample" ->
      s"""SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= $SamplePerClass
         |ORDER BY doc_id""".stripMargin,
    "t10_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id,
         |           unnest(${TextHash.duckShingles("text", ContamShingleK)}) AS shingle
         |    FROM documents)),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5)
         |SELECT doc_id, COUNT(1) AS n_shared
         |FROM sh JOIN bench USING (shingle)
         |WHERE doc_id >= 5
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t07_seq_packing" ->
      s"""SELECT doc_id, n_tokens,
         |       CAST(cum_before AS BIGINT) AS cum_before,
         |       CAST(cum_before // $PackBudget AS BIGINT) AS bin
         |FROM (
         |  SELECT doc_id, n_tokens,
         |         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
         |        FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "t08_repetition" ->
      s"""WITH cnt AS (
         |  SELECT doc_id, bg, COUNT(1) AS c
         |  FROM (SELECT doc_id, unnest(${TextHash.duckShingles("text", 2)}) AS bg
         |        FROM documents)
         |  GROUP BY doc_id, bg)
         |SELECT doc_id,
         |       CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |       COUNT(1) AS n_distinct,
         |       CAST(MAX(c) AS BIGINT) AS top_count,
         |       CAST(((SUM(c) - COUNT(1)) * 1000000) // SUM(c) AS BIGINT) AS dup_ppm
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
