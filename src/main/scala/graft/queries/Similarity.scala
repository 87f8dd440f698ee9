package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialized, RunScope, Tables}

/** Similarity search over the `embeddings` table (SURVEY §2 Part B q33 +
  * the ANN scale path + embedding-cosine near-dup).
  *
  * Cross-engine determinism trick: embeddings are quantized to integers
  * (floor(x * 1e6) — float→double widening is exact, the double multiply and
  * floor are IEEE-identical in Spark and DuckDB), so dot products and norms
  * are EXACT integer arithmetic. Cosine is then one double divide of
  * identical inputs → bit-identical on both engines → these float-heavy
  * queries still get a real DuckDB oracle (SURVEY marked q33 ST; this
  * formulation upgrades it).
  *
  * Scale design:
  *  - q33 broadcasts the single query vector (never shuffles the corpus) and
  *    plans as TakeOrderedAndProject — a per-partition top-k heap, no global
  *    sort. At 100 TB this is one scan + one k-row driver merge.
  *  - n01 is the LSH-bucketed ANN variant: 8 fixed Rademacher hyperplanes →
  *    an 8-bit bucket per vector; the query probes only its own bucket
  *    (~1/256 of the corpus). Bucketing is a per-row HOF inside codegen.
  *  - d04 near-dup joins vectors bucket-to-bucket (sum of bucket² pairs,
  *    never the n² cartesian) and applies the exact-integer cosine filter.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  /** Quantization scale: |x| <= 0.6 → |q| <= 6e5; 64-dim dot <= 2.4e13,
    * well inside BIGINT and exactly representable in double.
    */
  val Scale = 1000000L

  val Dim = 64
  val TopK = 10
  val NumPlanes = 8

  /** Near-dup cosine threshold (the sf corpus is diffuse — max pair cosine
    * ≈ 0.51 — so 0.40 yields a small non-empty candidate set).
    */
  val NearDupCos = 0.40

  /** Fixed Rademacher (±1) hyperplanes, identical literals in both engines. */
  val planes: IndexedSeq[IndexedSeq[Int]] =
    (0 until NumPlanes).map { j =>
      (0 until Dim).map { i =>
        if ((((i * 2654435761L + j * 40503L + 12345L) >> 7) & 1L) == 1L) 1 else -1
      }
    }

  private val planesSpark: String =
    planes.map(_.mkString("array(", ", ", ")")).mkString("array(", ", ", ")")
  private val planesDuck: String =
    planes.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** Spark SQL: quantized integer vector of an array<float> column. */
  private def quant(col: String): String =
    s"transform($col, x -> cast(floor(cast(x as double) * $Scale) as bigint))"

  private def duckQuant(col: String): String =
    s"list_transform($col, x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT))"

  /** Spark SQL: integer dot product of two quantized vectors — the
    * codegen'd custom expression (graft.functions.VecDot, injected by
    * GraftExtensions). The equivalent HOF spelling
    * `aggregate(zip_with(a,b,(x,y)->x*y), 0L, (acc,v)->acc+v)` is
    * interpreted and allocation-heavy; VecDot was a 3× win on d04.
    */
  private def dot(a: String, b: String): String =
    s"vec_dot($a, $b)"

  private[queries] def duckDot(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, $Dim), i -> $a[i] * $b[i])) AS BIGINT)"

  /** Spark SQL: 8-bit LSH bucket of a quantized vector — sign pattern of the
    * integer dot with each hyperplane (exact arithmetic, no float).
    */
  private def bucket(q: String): String =
    s"""aggregate(sequence(0, ${NumPlanes - 1}), 0, (acc, j) ->
       |  acc + IF(${dot(s"element_at(cast($planesSpark as array<array<bigint>>), j + 1)", q)} >= 0,
       |           cast(shiftleft(1, j) as int), 0))""".stripMargin

  private def duckBucket(q: String): String =
    s"""CAST(list_sum(list_transform(generate_series(0, ${NumPlanes - 1}), j ->
       |  CASE WHEN CAST(list_sum(list_transform(generate_series(1, $Dim),
       |         i -> $planesDuck[j + 1][i] * $q[i])) AS BIGINT) >= 0
       |       THEN (1 << j) ELSE 0 END)) AS INT)""".stripMargin

  /** Common prep: doc side with quantized vector + self-norm. Delegates to
    * [[prepareVectors]] — the ONE spelling of the quantize+self-norm
    * pipeline (s35's deployed index keys derive from it; an inline
    * re-spelling here could drift from them).
    */
  private def prepared(s: SparkSession, d: String): DataFrame =
    prepareVectors(Tables.embeddings(s, d))

  /** q33: brute-force cosine top-k for the query vector (vec_id = 0).
    * The one-row query side is crossJoin(broadcast(...)) — the corpus is
    * never shuffled; orderBy+limit plans as TakeOrderedAndProject.
    */
  val q33SimilarityKnn: Q = (s, d) => {
    val qv = prepared(s, d).filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    prepared(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("dot", expr(dot("qa", "q")))
      .withColumn("cos",
        expr(s"cast(dot as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "dot", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK)
  }

  /** n01: ANN via LSH bucketing — probe only the query's bucket (~1/256 of
    * the corpus at uniform spread), then exact re-rank inside it. The
    * recall/speed trade is the standard LSH S-curve; ScalaTest checks
    * recall against q33's exact result.
    */
  val n01AnnLsh: Q = (s, d) => {
    val withBucket = prepared(s, d).withColumn("bkt", expr(bucket("q"))).transform(RunScope.query.cache)
    val qv = withBucket.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"), col("bkt").as("qbkt"))
    withBucket.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .filter(col("bkt") === col("qbkt"))
      .withColumn("dot", expr(dot("qa", "q")))
      .withColumn("cos",
        expr(s"cast(dot as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "bkt", "dot", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK)
  }

  /** d04: embedding-cosine near-duplicate pairs. Vectors join only within
    * their LSH bucket (bounded fan-out), then the exact integer cosine
    * filter keeps pairs with cos >= NearDupCos. At scale, multi-probe or
    * more planes tighten the bucket size; the join itself is a plain
    * shuffle-hash join on the bucket id.
    */
  val d04EmbedNearDup: Q = (s, d) => {
    // Materialize the quantized+bucketed index ONCE (cache = the "build the
    // ANN index" step): without it, the self-join re-evaluates the
    // interpreted quantize/bucket lambdas per PAIR instead of per row —
    // measured 37 s → ~4 s at sf0.1. Lifetime is one query (harness
    // clearCache()s after the action). At 100 TB this materialization is
    // the persisted index table a real pipeline would write anyway:
    // vectors.write.partitionBy("bkt").parquet(indexPath), then probe/join
    // reads only the matching bucket partitions (partition pruning).
    val v = prepared(s, d).withColumn("bkt", expr(bucket("q")))
      .select("vec_id", "q", "nrm", "bkt")
      .transform(RunScope.query.cache)
    val a = v.select(col("vec_id").as("v1"), col("q").as("q1"),
                     col("nrm").as("n1"), col("bkt"))
    val b = v.select(col("vec_id").as("v2"), col("q").as("q2"),
                     col("nrm").as("n2"), col("bkt"))
    a.join(b, Seq("bkt"))
      .filter(col("v1") < col("v2"))
      .withColumn("dot", expr(dot("q1", "q2")))
      .withColumn("cos",
        expr(s"cast(dot as double) / sqrt(cast(n1 as double) * cast(n2 as double))"))
      .filter(col("cos") >= NearDupCos)
      .select("v1", "v2", "bkt", "dot")
      .orderBy("v1", "v2")
  }

  /** Number of IVF centroids (seed-sampled: vec_id < NumCentroids). */
  val NumCentroids = 16

  /** n02: ANN via IVF (inverted file) — the second scale path beside LSH.
    * Centroids are the NumCentroids seed vectors (deterministic stand-in
    * for k-means training, whose iteration order would cost cross-engine
    * determinism); every vector is assigned to its max-cosine centroid
    * (exact integer dots → IEEE-identical double cos → argmax with
    * centroid-id tie-break); the query probes ONLY its own centroid's
    * inverted list and re-ranks exactly. At 100 TB: the assignment is one
    * broadcast-join pass, the probe reads ~1/NumCentroids of the corpus.
    */
  /** IVF assignment pass, shared by n02 (probe) and n03 (list stats):
    * every vector → its max-cosine centroid, ccos retained. The prepared
    * vectors are materialised once, eagerly, and leave no cached relation
    * behind: a cache() would still be empty when the caller plans, so
    * each of the plan's reads of it scanned the embeddings again. Each
    * call materialises its own copy; every caller calls it once.
    */
  private[queries] def ivfAssigned(s: SparkSession, d: String): DataFrame =
    ivfAssignedFrom(Materialized.of(prepared(s, d).select("vec_id", "q", "nrm")).df)

  /** Quantize + self-norm a raw (vec_id, embedding) frame — the public
    * seam s35's streaming maintainer shares with every batch query (an
    * inline re-spelling of the quantization would drift from the
    * deployed index keys — s32's single-sourced-machinery discipline).
    */
  private[graft] def prepareVectors(df: DataFrame): DataFrame =
    df.withColumn("q", expr(quant("embedding")))
      .withColumn("nrm", expr(dot("q", "q")))

  /** The corpus's centroid table (cid, cq, cnrm) — the FIXED codebook a
    * streaming assignment job broadcasts per batch.
    */
  private[graft] def ivfCentroids(s: SparkSession, d: String): DataFrame =
    prepared(s, d).filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cnrm"))

  /** Assign a prepared (vec_id, q, nrm) frame to a caller-supplied FIXED
    * centroid table — the core of [[ivfAssignedFrom]], factored so s35's
    * per-batch assignment uses the byte-identical argmax (formula, ties,
    * partial-agg shape) as the batch index build.
    */
  private[graft] def assignToCentroids(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .withColumn("ccos", expr(
        s"cast(${dot("q", "cq")} as double) / sqrt(cast(nrm as double) * cast(cnrm as double))"))
      // argmax per vector as a PARTIAL-AGG max_by (struct ordering: ccos
      // desc, then cid asc via the negated id) instead of a sort-based
      // row_number window — no per-key sort, map-side combinable, the
      // formulation that survives a 100 TB assignment pass. ccos doubles
      // are IEEE-identical in both engines, so the argmax matches the
      // oracle's window spelling exactly (ties broken by cid).
      .groupBy("vec_id")
      .agg(max_by(
        struct(col("q"), col("nrm"), col("cid"), col("ccos")),
        struct(col("ccos"), negate(col("cid")))).as("best"))
      .select(col("vec_id"), col("best.q").as("q"), col("best.nrm").as("nrm"),
              col("best.cid").as("cid"), col("best.ccos").as("ccos"))

  /** The IVF assignment over a caller-supplied (vec_id, q, nrm) frame —
    * callers that already hold the prepared corpus cached (n08) pass it
    * here instead of letting [[ivfAssigned]] build and cache a second
    * copy of the same quantization scan. Centroids are the frame's own
    * seed rows; [[assignToCentroids]] is the fixed-codebook core.
    */
  private[queries] def ivfAssignedFrom(v: DataFrame): DataFrame =
    assignToCentroids(v,
      v.filter(col("vec_id") < NumCentroids)
        .select(col("vec_id").as("cid"), col("q").as("cq"),
                col("nrm").as("cnrm")))

  val n02AnnIvf: Q = (s, d) => {
    val assigned = ivfAssigned(s, d)
    val qside = assigned.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"), col("cid").as("qcid"))
    assigned.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qside))
      .filter(col("cid") === col("qcid"))
      .withColumn("dot", expr(dot("qa", "q")))
      .withColumn("cos", expr(
        "cast(dot as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "cid", "dot", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK)
  }

  /** Lists probed by n14 — the IVF recall/cost knob. */
  val NProbe = 2

  /** n14: IVF with MULTI-LIST probing (`nprobe`) — the knob every IVF
    * deployment turns when single-list recall disappoints (n08 measures
    * exactly that disappointment; n09 is the same move for LSH): score the
    * query against all NumCentroids centroids (metadata — 16 rows), take
    * the [[NProbe]] nearest lists, and re-rank exactly over their union
    * (~NProbe/NumCentroids of the corpus instead of 1/NumCentroids). The
    * probe set is an orderBy+limit over 16 broadcast rows — driver-free,
    * deterministic (cosine desc, cid tiebreak) — and the corpus is touched
    * only through the broadcast-semi-joined union of the probed lists.
    */
  val n14IvfNprobe: Q = (s, d) => {
    val assigned = ivfAssigned(s, d)
    val prep = prepared(s, d)
    val qv = prep.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    val probes = prep.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("pcid"), col("q").as("cq"), col("nrm").as("cnrm"))
      .crossJoin(broadcast(qv))
      .withColumn("qcos", expr(
        s"cast(${dot("qa", "cq")} as double) / sqrt(cast(na as double) * cast(cnrm as double))"))
      .orderBy(col("qcos").desc, col("pcid").asc).limit(NProbe)
      .select("pcid")
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probes), col("cid") === col("pcid"))
      .crossJoin(broadcast(qv))
      .withColumn("dot", expr(dot("qa", "q")))
      .withColumn("cos", expr(
        "cast(dot as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "cid", "dot", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK)
  }

  /** Quality gate for n15's filtered search (t02's 0-100 integer score). */
  val FilterMinQuality = 60

  /** n15: FILTERED vector search — top-k under a metadata predicate, the
    * feature every production vector store bolts on after plain ANN ships
    * (only retrieve from quality-gated / policy-cleared documents): t02's
    * integer quality score gates the corpus through a semi join on the
    * doc_id ↔ vec_id linkage, then the exact cosine top-k runs over the
    * survivors. Pre-filtering (gate BEFORE rank) is the correct semantics
    * — post-filtering a k-list can starve below k — and the plan keeps it
    * cheap: the gate is map-side scoring + one semi join, the rank is the
    * same broadcast + TakeOrderedAndProject shape as q33. Also the suite's
    * modality-linkage pin: documents and embeddings are joined on their
    * shared id space.
    */
  val n15FilteredKnn: Q = (s, d) => {
    val good = TextOps.qualityCols(Tables.documents(s, d))
      .filter(col("quality") >= FilterMinQuality)
      .select(col("doc_id").as("vid"))
    val qv = prepared(s, d).filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    prepared(s, d).filter(col("vec_id") =!= 0)
      .join(good, col("vec_id") === col("vid"), "left_semi")
      .crossJoin(broadcast(qv))
      .withColumn("dot", expr(dot("qa", "q")))
      .withColumn("cos", expr(
        "cast(dot as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "dot", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK)
  }

  /** n32: FILTER-STRATEGY table for filtered vector search — n15 ships
    * the correct semantics (pre-filter); this measures the design space
    * every vector store documents, on the same gate and query:
    *
    *  - `pre`   — gate BEFORE rank (n15's plan): exact over survivors,
    *    k results always, and the truth the other two are scored against
    *    (its hits row is the built-in 10/10 sanity);
    *  - `post`  — rank the WHOLE corpus, gate the k-list after: the cheap
    *    plan a naive integration picks, which STARVES below k when the
    *    gate is selective (returned < k is the failure this row makes
    *    visible);
    *  - `probe` — IVF probe ([[NProbe]] lists) intersected with the gate,
    *    then rank: the plan a 100 TB store actually runs (never scores
    *    the full corpus), priced here by its recall against `pre`.
    *
    * Scale shape: ONE cached broadcast-query scored base feeds all three
    * legs (corpus scanned once); the gate is a semi join, probes are a
    * [[NProbe]]-row broadcast, every rank a TakeOrderedAndProject; the
    * report is 3 rows.
    */
  /** n33's deterministic lag offsets (pair sampling without randomness). */
  private val CosHistLags = Seq(1L, 2L, 3L, 5L, 8L)

  /** n33: corpus COSINE-DISTRIBUTION histogram — the "how discriminable is
    * this embedding space" profile an ANN operator reads before picking
    * index parameters (a corpus whose pair cosines concentrate near 0 is
    * easy to block; mass near 1 means near-dup saturation, mass spread
    * wide means recall cliffs): pair cosines over DETERMINISTIC lag pairs
    * (vec_id, vec_id + lag) for five Fibonacci-ish lags — a fixed,
    * replayable sample of the pair space, never all-pairs — bucketed into
    * twenty [−1, 1) cells with counts and share in bp. Bucketing is
    * floor((cos + 1)·10) on the exact double both engines compute
    * bit-identically (integer dot, correctly-rounded divide/sqrt — the
    * same determinism argument as every n-family cos).
    * Scale shape: lag pairs are one computed-key equi-join per lag over
    * the narrow id column; scoring rides the build's own broadcast-fetch
    * seam ([[scoreDirectedPairs]]); the histogram is one partial-agg
    * groupBy over ≤ 20 cells with the grand total on a one-row broadcast
    * cross join.
    */
  val n33CosHistogram: Q = (s, d) => {
    val v = prepareVectors(Tables.embeddings(s, d))
      .select("vec_id", "q", "nrm").transform(Materialized.of(_).df)
    val ids = v.select(col("vec_id"))
    val pairs = CosHistLags.map { l =>
        ids.select(col("vec_id").as("src"),
          (col("vec_id") + lit(l)).as("dst"))
      }.reduce(_.unionByName(_))
      .join(ids.withColumnRenamed("vec_id", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst")
    val buckets = scoreDirectedPairs(pairs, v)
      .select(expr("least(19L, greatest(0L, " +
        "cast(floor((cos + 1.0d) * 10.0d) as bigint)))").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val total = buckets.agg(sum("n").as("n_total"))
    buckets.crossJoin(broadcast(total))
      .select(col("bucket"), col("n"),
        expr("n * 10000 div n_total").as("share_bp"))
      .orderBy("bucket")
  }

  val n32FilterStrategies: Q = (s, d) => {
    val good = TextOps.qualityCols(Tables.documents(s, d))
      .filter(col("quality") >= FilterMinQuality)
      .select(col("doc_id").as("vec_id"))
    val qv = prepared(s, d).filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    val scored = ivfAssigned(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("cos", expr(
        s"cast(${dot("qa", "q")} as double) / " +
          "sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "cid", "cos")
      .transform(RunScope.query.cache)
    val goodScored = scored.join(good, Seq("vec_id"), "left_semi")
    val truth = goodScored.orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK).select(col("vec_id").as("tid"))
      .transform(Materialized.of(_).df)
    val pre = goodScored.orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK).select("vec_id")
    val post = scored.orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK).select("vec_id")
      .join(good, Seq("vec_id"), "left_semi")
    val probes = prepared(s, d).filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("pcid"), col("q").as("cq"), col("nrm").as("cnrm"))
      .crossJoin(broadcast(qv))
      .withColumn("qcos", expr(
        s"cast(${dot("qa", "cq")} as double) / " +
          "sqrt(cast(na as double) * cast(cnrm as double))"))
      .orderBy(col("qcos").desc, col("pcid").asc)
      .limit(NProbe).select("pcid")
    val probe = goodScored
      .join(broadcast(probes), col("cid") === col("pcid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK).select("vec_id")
    def leg(name: String, res: DataFrame) = {
      val hits = res.join(truth, col("vec_id") === col("tid"))
        .agg(count(lit(1)).as("hits10"))
      res.agg(count(lit(1)).as("returned"))
        .crossJoin(broadcast(hits))
        .select(lit(name).as("strategy"), col("returned"), col("hits10"))
    }
    Seq(leg("pre", pre), leg("post", post), leg("probe", probe))
      .reduce(_.unionByName(_)).orderBy("strategy")
  }

  /** n03: IVF index statistics — per-list member count and the cosine
    * range to the centroid: the index-health profile an ANN pipeline
    * monitors (empty/overfull lists → re-train centroids). min/max are
    * order-free aggregates of IEEE-identical doubles, so this stays
    * oracle-exact where an avg would not (double SUM accumulation order
    * differs between engines).
    */
  val n03IvfStats: Q = (s, d) =>
    ivfAssigned(s, d)
      .groupBy("cid")
      .agg(
        count(lit(1)).as("n_members"),
        min(col("ccos")).as("min_cos"),
        max(col("ccos")).as("max_cos"))
      .orderBy("cid")

  /** n04: brute-force L2 (Euclidean) top-k — the second distance metric.
    * Squared L2 on quantized vectors is EXACT integer algebra with pieces
    * already computed: ‖a−b‖² = ‖a‖² + ‖b‖² − 2·a·b. No new per-pair
    * array work beyond the same codegen'd dot product; same broadcast +
    * TakeOrderedAndProject shape as q33.
    */
  val n04L2Knn: Q = (s, d) => {
    val qv = prepared(s, d).filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    prepared(s, d).filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("dist2", expr(s"na + nrm - 2 * ${dot("qa", "q")}"))
      .select("vec_id", "dist2")
      .orderBy(col("dist2").asc, col("vec_id").asc)
      .limit(TopK)
  }

  /** Number of seeds n16's farthest-first traversal picks. */
  val KcenterSeeds = 4

  /** n16: deterministic k-center seeding — Gonzalez's farthest-first
    * traversal (the 2-approximation for k-center, and the deterministic
    * seeding an IVF/k-means index build wants instead of random init):
    * start from vec_id 0, then repeatedly pick the point FARTHEST from the
    * already-chosen set (exact integer L2² on quantized vectors, ties to
    * the lowest id). Emits each seed with its distance-to-predecessors —
    * the covering-radius sequence, i.e. the index designer's read on how
    * many lists the corpus geometry actually needs (a sharp drop at k
    * means k lists suffice).
    *
    * Scale shapes per round: the chosen set (≤ k rows) broadcasts; min
    * distance per point is a map-side fold over that broadcast + one
    * partial-agg groupBy; the argmax is `max_by` over a metadata-scale
    * table (never a global sort); the next seed's vector comes back via a
    * broadcast point-lookup join. k rounds = k linear scans of the
    * checkpointed corpus (materialised once with localCheckpoint, so no
    * cached relation outlives the query) — the textbook cost of
    * farthest-first — with per-round localCheckpoint keeping the 4-row
    * chosen table's lineage flat.
    */
  val n16KcenterSeed: Q = (s, d) => {
    val v = prepared(s, d).select("vec_id", "q", "nrm").transform(Materialized.of(_).df)
    var chosen = v.filter(col("vec_id") === 0)
      .select(lit(1).as("seed_rank"), col("vec_id"), col("q"), col("nrm"),
        lit(0L).as("dist2"))
      .transform(Materialized.of(_).df)
    for (k <- 2 to KcenterSeeds) {
      val c = chosen.select(col("vec_id").as("cid"), col("q").as("cq"),
        col("nrm").as("cnrm"))
      val md = v.crossJoin(c)
        .withColumn("d2", expr(s"nrm + cnrm - 2 * ${dot("q", "cq")}"))
        .groupBy("vec_id").agg(min(col("d2")).as("md"))
      val pick = md
        .agg(expr("max_by(struct(vec_id, md), struct(md, -vec_id))").as("p"))
        .select(col("p.vec_id").as("vec_id"), col("p.md").as("dist2"))
      chosen = chosen.unionByName(
          v.join(pick, "vec_id")
            .select(lit(k).as("seed_rank"), col("vec_id"), col("q"),
              col("nrm"), col("dist2")))
        .transform(Materialized.of(_).df)
    }
    chosen.select("seed_rank", "vec_id", "dist2").orderBy("seed_rank")
  }

  /** nprobe values n18 sweeps. */
  val NprobeSweep: Seq[Int] = Seq(1, 2, 3, 4)

  /** n18: nprobe recall/cost sweep — the IVF analogue of d22's LSH
    * banding sweep: for every nprobe in [[NprobeSweep]], the MEASURED
    * candidate count (the cost: how much corpus the probe touches) and
    * recall@10 against the exact brute-force truth. n14 runs one chosen
    * nprobe; n18 is the table that choice comes from — an index operator
    * reads the recall curve's knee, not the 1/nprobe rule of thumb.
    *
    * Scale shapes: the scored corpus (one pass, broadcast query vector)
    * and the 16-row centroid scores are each built ONCE and cached; every
    * config adds only an orderBy+limit over 16 rows (probe set, n14's
    * device — no unpartitioned window), a broadcast semi-join against it,
    * a TakeOrderedAndProject top-10, and two metadata-scale counts. At
    * 100 TB this sweeps over a query SAMPLE; per-query shapes identical.
    */
  /** Dimension budgets n31 sweeps (full Dim last, so the sweep carries
    * its own truth leg).
    */
  val DimSweep: Seq[Int] = Seq(16, 32, 64)

  /** n31: DIMENSION-TRUNCATION recall sweep (the Matryoshka/MRL serving
    * dial) — n18 prices the nprobe knob; this prices the DIMENSION
    * budget: modern embedding models are trained so a length-m prefix of
    * the vector is itself a usable embedding, and a 100 TB index that
    * serves from 16 of 64 dims reads a quarter of the bytes. Per budget
    * m ∈ {16, 32, 64}: cosine over the length-m prefixes (integer prefix
    * dots via the same codegen'd vec_dot over `slice`, one IEEE-identical
    * double divide), top-k against the FULL-dim exact truth → hits@10 +
    * the truncated ranking's top-1 id. The m = Dim leg is the built-in
    * sanity row (recall 10/10 by construction). Scale shape: the corpus
    * is scanned once into one cached scored base (broadcast query), each
    * leg is a TakeOrderedAndProject over it — no shuffle grows with m,
    * and the report is O(|sweep|) rows.
    */
  val n31DimSweep: Q = (s, d) => {
    val prep = prepared(s, d)
    val qv = prep.filter(col("vec_id") === 0).select(col("q").as("qa"))
    val base = prep.filter(col("vec_id") =!= 0)
      .select("vec_id", "q", "nrm")
      .crossJoin(broadcast(qv))
      .transform(RunScope.query.cache)
    def cosm(m: Int) =
      s"""cast(${dot(s"slice(qa, 1, $m)", s"slice(q, 1, $m)")} as double) /
         |sqrt(cast(${dot(s"slice(qa, 1, $m)", s"slice(qa, 1, $m)")} as double) *
         |     cast(${dot(s"slice(q, 1, $m)", s"slice(q, 1, $m)")} as double))"""
        .stripMargin
    val truth = base.withColumn("cosm", expr(cosm(Dim)))
      .orderBy(col("cosm").desc, col("vec_id").asc).limit(TopK)
      .select(col("vec_id").as("tid"))
      .transform(Materialized.of(_).df)
    DimSweep.map { m =>
      val scored = base.withColumn("cosm", expr(cosm(m)))
      val res = scored.orderBy(col("cosm").desc, col("vec_id").asc)
        .limit(TopK).select("vec_id")
      val hits = res.join(truth, col("vec_id") === col("tid"))
        .agg(count(lit(1)).as("hits10"))
      scored.agg(max_by(col("vec_id"),
          struct(col("cosm"), negate(col("vec_id")))).as("top1"))
        .crossJoin(broadcast(hits))
        .select(lit(m).as("dim"), col("hits10"), col("top1"))
    }.reduce(_.unionByName(_)).orderBy("dim")
  }

  val n18NprobeSweep: Q = (s, d) => {
    val assigned = ivfAssigned(s, d)
    val prep = prepared(s, d)
    val qv = prep.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    val scored = assigned.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("cos", expr(
        s"cast(${dot("qa", "q")} as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "cid", "cos")
      .transform(RunScope.query.cache)
    val truth = scored.orderBy(col("cos").desc, col("vec_id").asc).limit(TopK)
      .select(col("vec_id").as("tid"))
    val centScores = prep.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("pcid"), col("q").as("cq"), col("nrm").as("cnrm"))
      .crossJoin(broadcast(qv))
      .withColumn("qcos", expr(
        s"cast(${dot("qa", "cq")} as double) / sqrt(cast(na as double) * cast(cnrm as double))"))
      .select("pcid", "qcos")
      .transform(RunScope.query.cache)
    val reports = NprobeSweep.map { np =>
      val probes = centScores.orderBy(col("qcos").desc, col("pcid").asc)
        .limit(np).select("pcid")
      val cand = scored.join(broadcast(probes), col("cid") === col("pcid"))
      val res = cand.orderBy(col("cos").desc, col("vec_id").asc).limit(TopK)
      val hits = res.join(broadcast(truth), col("vec_id") === col("tid"))
        .agg(count(lit(1)).as("hits10"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(hits))
        .select(lit(np).as("nprobe"), col("n_candidates"), col("hits10"))
    }
    reports.reduce(_.unionByName(_)).orderBy("nprobe")
  }

  /** n17 capacity slack: a list may hold up to 11/10 of the mean size
    * before it sheds members (numerator/denominator kept integer so the
    * cap is engine-exact).
    */
  val RebalanceNum = 11
  val RebalanceDen = 10

  /** n17: IVF list rebalancing — the index-MAINTENANCE pass that keeps
    * n02's probe cost predictable: skewed assignment makes hot lists (and
    * probing a hot list costs its size, n03 measures exactly that skew),
    * so lists above [[RebalanceNum]]/[[RebalanceDen]] of the mean shed
    * their WEAKEST members (lowest cosine affinity, the ones the centroid
    * represents worst) to each member's SECOND-nearest centroid. One
    * round, deterministic, reported as the per-list migration matrix
    * (before / out / in / after) an index operator reviews before
    * committing the move.
    *
    * Scale shapes: centroids broadcast (16 rows); best + second-best per
    * vector from one scored pass via a per-VECTOR window (16 rows per
    * partition key — bounded); the within-list affinity rank is a
    * per-LIST window — state bounded by the largest list; a 100 TB build
    * with multi-GB lists would swap that one window for the
    * range-partitioned keyed prefix-sum rank (d12's discipline), same
    * semantics. Totals ride a broadcast one-row cross join, outputs are
    * NumCentroids rows.
    */
  val n17IvfRebalance: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val v = prepared(s, d).select("vec_id", "q", "nrm").transform(Materialized.of(_).df)
    val cents = v.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cnrm"))
    val scored = v.crossJoin(broadcast(cents))
      .withColumn("ccos", expr(
        s"cast(${dot("q", "cq")} as double) / sqrt(cast(nrm as double) * cast(cnrm as double))"))
      .select("vec_id", "cid", "ccos")
    val wv = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid").asc)
    val ranked = scored.withColumn("rn", row_number().over(wv))
      .filter(col("rn") <= 2).transform(Materialized.of(_).df)
    val best = ranked.filter(col("rn") === 1).select("vec_id", "cid", "ccos")
    val second = ranked.filter(col("rn") === 2)
      .select(col("vec_id"), col("cid").as("cid2"))
    val tot = best.agg(count(lit(1)).as("n_total"))
    val wl = Window.partitionBy("cid").orderBy(col("ccos").desc, col("vec_id").asc)
    val withCap = best.withColumn("kr", row_number().over(wl))
      .crossJoin(broadcast(tot))
      .withColumn("cap",
        expr(s"($RebalanceNum * n_total) div ($RebalanceDen * $NumCentroids)"))
    val moved = withCap.filter(col("kr") > col("cap"))
      .join(second, "vec_id")
      .select(col("vec_id"), col("cid").as("ocid"), col("cid2").as("fcid"))
    val before = best.groupBy("cid").agg(count(lit(1)).as("n_before"))
    val out = moved.groupBy("ocid").agg(count(lit(1)).as("n_out"))
      .withColumnRenamed("ocid", "cid")
    val in_ = moved.groupBy("fcid").agg(count(lit(1)).as("n_in"))
      .withColumnRenamed("fcid", "cid")
    // Report over the FULL centroid domain, not just lists with >= 1
    // retained member: a list can be empty in `best` (a duplicated seed
    // loses its own centroid to the lower cid on the ccos tie-break) yet
    // still RECEIVE in-migrants — keying the report on `before` would
    // drop that row and the per-list counts would no longer sum to
    // n_total.
    cents.select("cid")
      .join(before, Seq("cid"), "left")
      .join(out, Seq("cid"), "left").join(in_, Seq("cid"), "left")
      .select(col("cid"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        (coalesce(col("n_before"), lit(0L)) - coalesce(col("n_out"), lit(0L))
          + coalesce(col("n_in"), lit(0L))).as("n_after"))
      .orderBy("cid")
  }

  /** n05: centroid update — the k-means M-step over the IVF assignment:
    * per (list, dimension) the member count and the exact integer sum of
    * the quantized coordinate (the new centroid is sum_q/n, a division the
    * CALLER does so the table stays integer-exact cross-engine). Shape:
    * posexplode to (cid, dim) rows → one partial-agg groupBy — at 100 TB
    * the shuffle carries NumCentroids × Dim partial rows per partition,
    * independent of corpus size. This is the training half of the n02
    * index; iterating assign→update converges k-means without any
    * driver-side state.
    */
  val n05CentroidUpdate: Q = (s, d) =>
    ivfAssigned(s, d)
      .select(col("cid"), posexplode(col("q")))
      .groupBy(col("cid"), (col("pos") + 1).as("dim"))
      .agg(count(lit(1)).as("n_members"), sum("col").as("sum_q"))
      .orderBy("cid", "dim")

  /** n12: every vec_id ≡ 0 (mod stride) is a query of the kNN JOIN. */
  val KnnJoinStride = 20
  val KnnJoinK = 5

  /** n12: kNN JOIN — top-k neighbors for EVERY query vector at once (the
    * batch retrieval shape behind SemDeDup-style semantic curation and
    * RAG index refresh), not the single-probe lookup of n01/n02.
    *
    * Scale shape: both sides carry their IVF list id from [[ivfAssigned]],
    * so the candidate generation is a plain EQUI-join on `cid` — shuffle
    * co-partitioned at scale (queries here are \|corpus\|/stride, NOT
    * broadcastable in general; AQE may still broadcast a small side). Pair
    * fan-out is Σ_list(queries_in_list × list_size) — the IVF probe cost,
    * never the \|Q\|×\|corpus\| cartesian. The per-query top-k runs on the
    * custom [[graft.plans.TopKPerKey]] bounded-heap operator: k rows per
    * key held per partition, no per-key full sort, no single-task group
    * buffering (the same reason q94 exists). Final global orderBy is the
    * oracle's presentation order.
    */
  val n12KnnJoin: Q = (s, d) => {
    val assigned = ivfAssigned(s, d)
    val qs = assigned.filter(col("vec_id") % KnnJoinStride === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
              col("nrm").as("na"), col("cid"))
    val cs = assigned.filter(col("vec_id") % KnnJoinStride =!= 0)
      .select(col("vec_id"), col("q"), col("nrm"), col("cid"))
    val pairs = cs.join(qs, Seq("cid"))
      .withColumn("cos", expr(
        s"cast(${dot("qa", "q")} as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select(col("query_id"), col("vec_id"), col("cid"), col("cos"))
    graft.plans.TopKPerKey(pairs, Seq("query_id"),
        Seq(("cos", false), ("vec_id", true)), KnnJoinK)
      .orderBy(col("query_id").asc, col("cos").desc, col("vec_id").asc)
  }

  /** Pseudo-ingest slices of the n30 drift report. */
  val IvfMonitorBatches = 4

  /** n30: CODEBOOK-DRIFT report — the staleness monitor the streaming
    * assignment jobs were missing (r11 verdict item 5): s35/s36/s38
    * assign against a FIXED broadcast codebook forever, and after corpus
    * drift the lists skew and recall decays silently (n03/n17 profile the
    * BUILD side only). Per ingest slice (deterministic vec_id %
    * [[IvfMonitorBatches]] pseudo-batches — the oracle-able stand-in for
    * batch_id), the report an operator trends before scheduling an n27
    * retrain: vectors assigned, the summed and mean best-centroid integer
    * dot (the quality signal — INTEGER dot, not an L2 double mean, so the
    * trend is engine-exact), the largest inverted-list size with its skew
    * in basis points of the uniform share, and the slice's mean-dot drift
    * vs the whole-corpus build baseline in bp. The streaming twin (s42)
    * reads the same numbers per REAL batch from the maintained s35 store;
    * the retrain handoff it feeds is pinned in StreamingSpec
    * (n27-retrained centroids → stream-maintained == batch re-assignment).
    *
    * Scale shapes: one assignment pass (the shared [[ivfAssigned]], a
    * broadcast of 16 centroids + partial-agg argmax), one broadcast join
    * back to the centroid table for the exact dot, then two partial-agg
    * groupBys over ≤ batches×centroids keys and a one-row baseline
    * broadcast — nothing shuffles wider than the assignment itself.
    */
  val n30CodebookDrift: Q = (s, d) => {
    val cd = ivfAssigned(s, d)
      .join(broadcast(ivfCentroids(s, d).select(col("cid"), col("cq"))),
        Seq("cid"))
      .select(col("vec_id"),
        (col("vec_id") % IvfMonitorBatches).cast("int").as("batch"),
        col("cid"), expr(dot("q", "cq")).as("cdot"))
      .transform(RunScope.query.cache)
    val per = cd.groupBy("batch")
      .agg(count(lit(1)).as("n_vecs"), sum("cdot").as("sum_cdot"))
    val skew = cd.groupBy("batch", "cid").agg(count(lit(1)).as("sz"))
      .groupBy("batch").agg(max("sz").as("max_list"))
    val base = cd.agg(expr("sum(cdot) div count(1)").as("base_mean"))
    per.join(skew, Seq("batch"))
      .crossJoin(broadcast(base))
      .select(col("batch"), col("n_vecs"), col("sum_cdot"),
        expr("sum_cdot div n_vecs").as("mean_cdot"),
        col("max_list"),
        expr(s"max_list * $NumCentroids * 10000 div n_vecs").as("skew_bp"),
        expr("(sum_cdot div n_vecs) * 10000 div base_mean").as("drift_bp"))
      .orderBy("batch")
  }

  /** Lloyd iterations n27 unrolls. */
  val KmeansRounds = 2

  /** n27: k-means TRAINING loop — the full Lloyd iteration the index
    * family's pieces compose into (n16 seeds it, n05 is one M-step,
    * n02's assignment is one E-step; THIS is assign→update→assign run
    * [[KmeansRounds]] rounds with the convergence report an index
    * trainer actually reads): per round, total within-cluster L2²
    * inertia (must be non-increasing — the Lloyd monotonicity
    * SimilaritySpec pins) and the number of vectors that changed
    * cluster vs the previous round (the practical stop signal).
    * Everything stays EXACT integer algebra cross-engine: assignment is
    * argmin of bigint dist² (ties to the lower cid), the centroid
    * update is the per-dimension TRUNCATED integer mean (Σ div n; Spark's
    * `div` and DuckDB's `//` both truncate toward zero — verified on
    * negative sums, which this corpus produces — while a double mean
    * would drift the round-2 boundary), and inertia is a bigint sum.
    * Empty clusters keep their previous centroid (deterministic, the
    * standard production choice).
    *
    * Scale shapes per round: centroids broadcast (16 rows); assignment
    * is one map-side scoring pass + partial-agg min_by argmin; the
    * update is ONE partial-agg (cid, dim) groupBy whose shuffle carries
    * k·Dim partial rows per partition (n05's shape); the moved count is
    * an equi-join of two vec_id-keyed assignment tables. R rounds = R
    * linear scans of the checkpointed corpus — the textbook Lloyd cost.
    */
  /** The unrolled Lloyd loop over a prepared (vec_id, q, nrm) corpus —
    * n27's body, factored to also return the RETRAINED centroids so the
    * staleness-monitor handoff (n30/s42) can pin retrain → re-assign ==
    * fresh build (n27∘n02 composition) without re-spelling a single step.
    * Returns (final centroids (cid, cq), per-round convergence report).
    */
  private[graft] def kmeansLoop(v: DataFrame): (DataFrame, DataFrame) = {
    def withNorm(c: DataFrame): DataFrame =
      c.withColumn("cnrm", expr("vec_dot(cq, cq)"))
    def assign(cents: DataFrame): DataFrame =
      v.crossJoin(withNorm(cents))
        .withColumn("d2", expr(s"nrm + cnrm - 2 * ${dot("q", "cq")}"))
        .groupBy("vec_id")
        // q rides inside the argmin struct (constant per vec_id) so the
        // update step can re-aggregate coordinates without a re-join
        .agg(max_by(struct(col("q"), col("cid"), col("d2")),
          struct(negate(col("d2")), negate(col("cid")))).as("best"))
        .select(col("vec_id"), col("best.q").as("q"),
          col("best.cid").as("cid"), col("best.d2").as("d2"))
    def update(assigned: DataFrame, prev: DataFrame): DataFrame = {
      val means = assigned
        .select(col("cid"), posexplode(col("q")).as(Seq("pos", "val")))
        .groupBy("cid", "pos")
        .agg(expr("sum(val) div count(1)").as("m"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("ncq"))
      prev.select(col("cid"), col("cq").as("ocq"))
        .join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("ncq"), col("ocq")).as("cq"))
    }
    var cents = v.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
      .transform(Materialized.of(_).df)
    var prevAssign: DataFrame = null
    val reports = scala.collection.mutable.Buffer.empty[DataFrame]
    for (r <- 1 to KmeansRounds) {
      val a = assign(cents).transform(Materialized.of(_).df)
      val moved =
        if (prevAssign == null)
          a.agg(count(lit(1)).as("x")).select(lit(0L).as("n_moved"))
        else
          a.select(col("vec_id"), col("cid"))
            .join(prevAssign.select(col("vec_id"), col("cid").as("pcid")),
              "vec_id")
            .agg(sum(when(col("cid") =!= col("pcid"), 1L).otherwise(0L))
              .as("n_moved"))
      reports += a
        .agg(count(lit(1)).as("n_assigned"), sum("d2").as("inertia"))
        .crossJoin(broadcast(moved))
        .select(lit(r).as("round"), col("n_assigned"), col("inertia"),
          col("n_moved"))
      cents = update(a, cents).transform(Materialized.of(_).df)
      prevAssign = a
    }
    (cents, reports.reduce(_.unionByName(_)))
  }

  val n27KmeansIter: Q = (s, d) => {
    val v = prepared(s, d).select("vec_id", "q", "nrm").transform(Materialized.of(_).df)
    kmeansLoop(v)._2.orderBy("round")
  }

  /** The n27-retrained codebook in [[ivfCentroids]]' (cid, cq, cnrm)
    * schema — what the retrain handoff hands BACK to the s35/s36/s38
    * maintainers once the n30/s42 drift trend crosses the operator's
    * threshold. StreamingSpec pins that a maintainer running on these
    * centroids equals the batch re-assignment with them.
    */
  private[graft] def retrainedCentroids(s: SparkSession, d: String): DataFrame = {
    val v = prepared(s, d).select("vec_id", "q", "nrm").cache()
    val cents = kmeansLoop(v)._1
      .withColumn("cnrm", expr(dot("cq", "cq")))
      .select("cid", "cq", "cnrm")
      .transform(Materialized.of(_).df)
    v.unpersist()
    cents
  }

  /** n13: mutual-kNN graph — edges (a, b) where EACH is in the other's
    * top-k (the symmetric graph behind graph-based clustering and
    * diversity-aware curation; one-directional kNN edges connect dense
    * cores to everything, mutual edges don't). Built on the n12 machinery
    * as a SELF kNN join: every vector is both query and candidate within
    * its IVF list, per-source top-k via the TopKPerKey bounded heap, then
    * mutuality = one equi-join of the directed edge table against its own
    * swap. Cosine is symmetric, so each mutual pair is emitted once
    * (v1 < v2) with its single score. Directed-pair fan-out is Σ_list n_l²
    * — the IVF-bounded budget, never corpus²; the mutual join touches only
    * |V|·k edge rows.
    */
  val n13MutualKnn: Q = (s, d) => {
    val assigned = ivfAssigned(s, d)
    val a = assigned.select(col("vec_id").as("src"), col("q").as("qa"),
                            col("nrm").as("na"), col("cid"))
    val b = assigned.select(col("vec_id").as("dst"), col("q"),
                            col("nrm"), col("cid"))
    val directed = a.join(b, Seq("cid")).filter(col("src") =!= col("dst"))
      .withColumn("cos", expr(
        s"cast(${dot("qa", "q")} as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select(col("src"), col("dst"), col("cos"))
    val topk = graft.plans.TopKPerKey(directed, Seq("src"),
        Seq(("cos", false), ("dst", true)), KnnJoinK)
      .select("src", "dst", "cos")
    topk.filter(col("src") < col("dst"))
      .join(topk.select(col("dst").as("src"), col("src").as("dst")),
            Seq("src", "dst"), "left_semi")
      .select(col("src").as("v1"), col("dst").as("v2"), col("cos"))
      .orderBy("v1", "v2")
  }

  /** n22 graph-build + beam-search knobs. BuildProbes: each vector joins
    * candidates from its top-P IVF cells when the kNN graph is built —
    * the single-cell (P=1) graph is 16 DISCONNECTED cluster-subgraphs a
    * walk can never leave (measured: recall@10 flat at 0 through every
    * hop); P=2 adds the cross-cell bridges that make the graph navigable
    * (the same reason NN-descent iterates beyond an initial blocking and
    * HNSW links across its layers). BeamWidth/BeamHops: frontier size
    * and hop budget; BeamSeeds: how many max-degree entry points seed
    * the walk (the multi-entry hedge against residual disconnection).
    */
  val BuildProbes = 2
  val BeamWidth = 16
  val BeamHops = 6
  val BeamSeeds = 8

  /** n22: GRAPH-based ANN — deterministic bounded beam search over a
    * symmetrized kNN graph, completing the index-family taxonomy (LSH
    * n01, IVF n02, PQ n06, graph n22 — the family production serving
    * defaults to: HNSW/NSG are exactly "greedy beam walk over a proximity
    * graph", Malkov & Yashunin 2016, arXiv:1603.09320). Build: n13's
    * IVF-blocked directed-kNN machinery widened to [[BuildProbes]] cells
    * per vector (see the knob scaladoc — single-cell blocking yields a
    * disconnected, unnavigable graph) and symmetrized (HNSW's
    * bidirectional links), degree ≤ 2·[[KnnJoinK]]. Walk: seed the beam
    * with the [[BeamSeeds]] highest-degree nodes (the hub-entry heuristic
    * — HNSW's top layer plays this role), then for [[BeamHops]] hops
    * expand the current top-[[BeamWidth]] frontier's neighbors, score
    * them against the query, and re-select the beam from everything
    * scored so far. Per-hop report row: cumulative scored count (the
    * COST — how much corpus the walk touched), best cosine, and
    * recall@10 vs the exact truth — the convergence curve a graph-index
    * deployment reads before trusting the walk (this fixture: recall
    * 1→10/10 across the hops while scoring <half the corpus;
    * SimilaritySpec pins monotonicity and the cost ceiling).
    *
    * Scale shapes: the adjacency build is Σ_cell (P·n_cell)² directed
    * pairs — IVF-bounded, never corpus² — and the stored graph is
    * |V|·k edges; each hop is a beam-row (≤ [[BeamWidth]]) equi-join
    * against the adjacency plus a point-lookup scoring join — per-query
    * work is O(seeds + hops·beam·degree) scored candidates, the
    * serving-path property that makes graph ANN the high-recall default
    * (the scored fraction shrinks with corpus size; the hop budget
    * doesn't grow with it). The eval scores via one checkpointed full
    * pass (exact truth needs it anyway for the recall denominator); a
    * serving deployment scores candidates on demand. The walk itself is
    * the SEQUENTIAL part (hop h needs hop h-1 — inherent to the algorithm);
    * at 100 TB you run MANY queries' walks as independent rows, not one
    * walk distributed.
    */
  /** Shared n22/n23 machinery: the multi-probe symmetrized kNN graph,
    * the full scoring pass (doubles as the truth denominator), the exact
    * top-k, and the hub-entry walk report both queries present.
    *
    * MEMOIZED across queries (the r09 verdict's one efficiency finding:
    * n22 + n23 each rebuilt this from scratch — the top two bench
    * entries). Same discipline as Dedup's cluster table: every member is
    * localCheckpointed so the memo survives the harness's per-query
    * `clearCache()`, and the build reads its quantised vectors from one
    * localCheckpoint too, so it leaves no cached relation behind and
    * scans the embeddings once; n22 (the index BUILD query) always
    * recomputes and overwrites — its bench cost stays the honest full
    * build — while n23 (the entry-mode comparison CONSUMER) reads the
    * memo and builds only when run standalone. At 100 TB the memo is the
    * written graph-index tables (adjacency + scored pass) a serving
    * deployment reads.
    */
  private case class GraphAnnParts(adj: DataFrame, allsc: DataFrame,
                                   truth: DataFrame, hubReport: DataFrame)

  private val graphAnnMemo = new RunScope.Memo(buildGraphAnnParts)

  /** Drops the graph-ANN memo alone (the run boundary is
    * [[RunScope.release]]).
    */
  def clearGraphAnnMemo(): Unit = graphAnnMemo.clear()

  /** Build-side multi-probe cell assignment: top-[[BuildProbes]] cells per
    * vector on the TopKPerKey bounded heap (same formula and tie-break as
    * ivfAssigned's argmax — rank 1 is identical). The seam the s36
    * streaming graph maintainer shares with the batch build (s32/s35's
    * single-sourced-machinery discipline: a re-spelling would drift the
    * deployed blocking keys).
    */
  private[graft] def topCells(v: DataFrame, cents: DataFrame): DataFrame = {
    val cellScores = v.crossJoin(broadcast(cents))
      .withColumn("ccos", expr(
        s"cast(${dot("q", "cq")} as double) / sqrt(cast(nrm as double) * cast(cnrm as double))"))
      .select("vec_id", "q", "nrm", "cid", "ccos")
    graft.plans.TopKPerKey(cellScores, Seq("vec_id"),
      Seq(("ccos", false), ("cid", true)), BuildProbes)
  }

  /** Exact directed scoring of candidate (src, dst) pairs — two broadcast
    * point fetches from the vector table, ONE spelling of the graph's
    * edge weight (batch build + the s36 maintainer share it, so
    * maintained edge weights can never drift from built ones).
    */
  private[graft] def scoreDirectedPairs(pairs: DataFrame,
                                        v: DataFrame): DataFrame =
    pairs
      .join(broadcast(v.select(col("vec_id").as("src"), col("q").as("qa"),
        col("nrm").as("na"))), Seq("src"))
      .join(broadcast(v.select(col("vec_id").as("dst"), col("q"),
        col("nrm"))), Seq("dst"))
      .select(col("src"), col("dst"),
        expr(s"cast(${dot("qa", "q")} as double) / " +
          "sqrt(cast(na as double) * cast(nrm as double))").as("cos"))

  /** Per-src bounded-heap top-[[KnnJoinK]] ranking of scored directed
    * edges — the build's exact edge selection, shared with s36's
    * merge-and-rerank fold.
    */
  private[graft] def topKEdges(scored: DataFrame): DataFrame =
    graft.plans.TopKPerKey(scored, Seq("src"),
      Seq(("cos", false), ("dst", true)), KnnJoinK)

  /** Symmetrized adjacency of a directed top-k edge set. */
  private[graft] def symmetrize(topk: DataFrame): DataFrame = {
    val e = topk.select("src", "dst")
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
  }

  /** The full directed-kNN build over an arbitrary prepared vector set
    * against a FIXED codebook — the batch chain the graph index is made
    * of (cells → blocked pairs → exact scores → bounded top-k), factored
    * so s36's delete pin can rebuild over the post-delete corpus with the
    * ORIGINAL centroids (deletes never retrain the codebook).
    * Pair generation shuffles NARROW id rows only (d15's discipline):
    * the cid self-join and the dedupe never carry the 64-element vectors;
    * each distinct pair then scores ONCE via two broadcast fetches from
    * the doc-count-scale vector table (measured at sf0.1: the
    * array-carrying spelling shuffled ~6M rows of vector payloads through
    * the cid join + distinct and was the bench's costliest stage).
    */
  private[graft] def directedTopKOf(v: DataFrame, cents: DataFrame): DataFrame = {
    val ids = topCells(v, cents).select("vec_id", "cid")
    val pairs = ids.select(col("vec_id").as("src"), col("cid"))
      .join(ids.select(col("vec_id").as("dst"), col("cid")), Seq("cid"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    topKEdges(scoreDirectedPairs(pairs, v))
  }

  private def buildGraphAnnParts(s: SparkSession, d: String): GraphAnnParts = {
    // Materialised once, eagerly: a cache() here is still empty when the
    // build plans its joins, so the plan's many reads of `v` each ran their
    // own scan of the embeddings (most of the build's jobs).
    val v = prepared(s, d).select("vec_id", "q", "nrm").transform(Materialized.of(_).df)
    val cents = v.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
              col("nrm").as("cnrm"))
    val topk = directedTopKOf(v, cents).select("src", "dst")
    // localCheckpoint, not cache: the memo must survive the harness's
    // per-query clearCache() (Dedup.scala's cluster-memo discipline)
    val adj = symmetrize(topk).transform(Materialized.of(_).df)
    // One materialized scoring pass doubles as the exact-truth denominator.
    val qv = v.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    val allsc = v.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("cos", expr(
        s"cast(${dot("qa", "q")} as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "cos")
      .transform(Materialized.of(_).df)
    val truth = allsc.orderBy(col("cos").desc, col("vec_id").asc).limit(TopK)
      .select(col("vec_id").as("tid"))
      .transform(Materialized.of(_).df)
    val partial = GraphAnnParts(adj, allsc, truth, null)
    // The hub-entry walk is part of the shared build: n22 presents it and
    // n23's side-by-side report reuses these exact rows (r09 verdict item
    // 1 — re-walking them measured ~2 s of pure duplication at sf0.1).
    val hub = beamWalk(partial, hubSeeds(partial)).transform(Materialized.of(_).df)
    partial.copy(hubReport = hub)
  }

  /** The hub entry: the [[BeamSeeds]] highest-degree graph nodes. */
  private def hubSeeds(parts: GraphAnnParts): DataFrame =
    parts.adj.groupBy("src").agg(count(lit(1)).as("deg"))
      .filter(col("src") =!= 0)
      .orderBy(col("deg").desc, col("src").asc).limit(BeamSeeds)
      .select(col("src").as("vec_id"))

  /** The bounded beam walk from `seeds`, one report row per hop
    * (0..[[BeamHops]]): cumulative scored count, best cosine, recall@10
    * vs the exact truth.
    *
    * Every side the walk joins against the graph or the score table —
    * seeds, beam, the beam's neighbours, the scored id set — holds at most
    * BeamSeeds + BeamHops·BeamWidth·2·[[KnnJoinK]] rows whatever the corpus
    * size, so each is broadcast. The scored set is a [[graft.Materialized]]
    * frame whose exact size plans the broadcast; the seeds, beam and
    * neighbour sides are lazy, so they carry hints: their estimates are
    * the graph's and would otherwise plan sort-merge joins that AQE only
    * demotes after a shuffle stage.
    */
  private def beamWalk(parts: GraphAnnParts, seeds: DataFrame): DataFrame = {
    var scored = parts.allsc.join(broadcast(seeds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("cos"), lit(0).as("first"))
      .transform(Materialized.of(_).df)
    for (h <- 1 to BeamHops) {
      val beam = scored.orderBy(col("cos").desc, col("vec_id").asc)
        .limit(BeamWidth).select(col("vec_id").as("src"))
      val nbrs = broadcast(beam).join(parts.adj, "src")
        .select(col("dst").as("vec_id"))
      // allsc holds each vec_id != 0 exactly once: the semi-join is the
      // distinct neighbour set, already scored
      val fresh = parts.allsc.join(broadcast(nbrs), Seq("vec_id"), "left_semi")
        .join(scored.select("vec_id"), Seq("vec_id"), "left_anti")
      scored = scored
        .unionByName(fresh.select(col("vec_id"), col("cos"), lit(h).as("first")))
        .transform(Materialized.of(_).df)
    }
    hopReports(scored, Nil, parts.truth.select(col("tid").as("vec_id")))
      .select(col("hop"), lit(BeamWidth).as("beam_width"), col("n_scored"),
              col("best_cos"), col("hits10"), col("recall_bp"))
  }

  /** Every hop's report over a walk's scored rows in one pass. `scored`
    * carries (keys…, vec_id, cos, first), `first` being the hop that first
    * scored the row, so the scored set after hop h is the rows with
    * first <= h: each row is exploded into hops first..[[BeamHops]], and
    * one bounded heap and one aggregate keyed by (keys…, hop) give the
    * cumulative count, best cosine and recall@10 against `truth`
    * (keys…, vec_id) of every hop at once.
    */
  private def hopReports(scored: DataFrame, keys: Seq[String],
                         truth: DataFrame): DataFrame = {
    val hopKeys = keys :+ "hop"
    val perHop = scored.select((keys ++ Seq("vec_id", "cos")).map(col) :+
      explode(sequence(col("first"), lit(BeamHops))).as("hop"): _*)
    val hits = graft.plans.TopKPerKey(perHop, hopKeys,
        Seq(("cos", false), ("vec_id", true)), TopK)
      .join(truth, keys :+ "vec_id", "left_semi")
      .select((hopKeys :+ "vec_id").map(col) :+ lit(1).as("hit"): _*)
    perHop.join(broadcast(hits), hopKeys :+ "vec_id", "left")
      .groupBy(hopKeys.map(col): _*)
      .agg(count(lit(1)).as("n_scored"), max("cos").as("best_cos"),
           count(col("hit")).as("hits10"))
      .select((hopKeys.map(col) ++ Seq(col("n_scored"), col("best_cos"),
        col("hits10"), expr(s"hits10 * 10000 div $TopK").as("recall_bp"))): _*)
  }

  /** The built (memoized) adjacency — the s36 StreamingSpec equality pin
    * compares the incrementally-maintained store against this full
    * rebuild.
    */
  private[graft] def builtAdjacency(s: SparkSession, d: String): DataFrame =
    graphAnnMemo(s, d).adj

  /** The batched walk over an arbitrary adjacency — the s36 serving pin
    * runs it against the maintained edge table.
    */
  private[graft] def batchedWalkOver(s: SparkSession, d: String,
                                     adjacency: DataFrame): DataFrame =
    batchedBeamWalk(s, d, adjacency)

  val n22GraphAnn: Q = (s, d) => {
    // n22 is the index BUILD (the CREATE TABLE AS step): always recompute
    // and overwrite the memo so its bench cost stays the honest full build.
    graphAnnMemo.rebuild(s, d).hubReport.orderBy("hop")
  }

  /** n23: LAYERED entry — the hierarchy that puts the H in HNSW, as a
    * side-by-side design comparison with n22's flat hub entry. HNSW
    * descends a tiny top layer to pick where the base-layer walk starts;
    * here the top layer is the [[NumCentroids]]-row centroid set (the
    * same rows the IVF family routes through): score the query against
    * all 16 (one broadcast — the layer IS metadata), enter the base
    * graph at the [[BeamSeeds]] best centroids, and run the identical
    * bounded walk. Both entry modes share every part (graph, scoring
    * pass, truth — [[buildGraphAnnParts]]), so the report isolates exactly
    * ONE variable: where the walk starts. The honest fixture reading:
    * on a 16-centroid layer over a diffuse corpus both modes reach full
    * recall within the budget and layered scores slightly FEWER
    * candidates — the routing layer's real value is structural and
    * grows with scale: picking layered seeds costs one
    * O(|centroids|) broadcast lookup, while hub entry pays a
    * graph-wide degree aggregation (an extra |V|·k-edge shuffle a
    * serving path cannot amortize per query). SimilaritySpec pins both
    * curves' monotonicity, equal final recall, and layered's
    * no-worse scored cost.
    */
  val n23LayeredAnn: Q = (s, d) => {
    // Consumer side of the memo: reads the shared (graph, scoring, truth,
    // hub-walk) build n22 materialized, building only when run standalone
    // (a name filter may select n23 alone) — d06's memo discipline.
    val parts = graphAnnMemo(s, d)
    // layered entry: greedy top-layer routing — best BeamSeeds centroids
    // by query cosine (centroids are corpus rows, so allsc already
    // carries their scores; the query's own row, cid 0, is excluded)
    val layered = parts.allsc
      .filter(col("vec_id") < NumCentroids && col("vec_id") =!= 0)
      .orderBy(col("cos").desc, col("vec_id").asc).limit(BeamSeeds)
      .select("vec_id")
    val hub = parts.hubReport
      .withColumn("entry_mode", lit("hub"))
    val lay = beamWalk(parts, layered)
      .withColumn("entry_mode", lit("layered"))
    hub.unionByName(lay)
      .select("entry_mode", "hop", "beam_width", "n_scored", "best_cos",
              "hits10", "recall_bp")
      .orderBy("entry_mode", "hop")
  }

  /** Held-out query count for n24's batched walk. */
  val BatchQueries = 8

  /** n24: BATCHED multi-query beam search — the production SERVING shape
    * n22's own scaladoc names (one walk is inherently sequential; at
    * 100 TB you advance MANY queries' walks as independent rows): beam
    * state is (query_id, vec_id, cos) rows for a SET of [[BatchQueries]]
    * held-out query vectors, and each hop is ONE equi-join of the whole
    * batch's beam against the shared adjacency — all walks advance
    * together, so the hop budget's sequential barrier is paid once per
    * hop for the batch, not once per query. Per-query mechanics are
    * n22's exactly: same graph (read from the n22/n23 memo — the
    * written-index contract), same hub entry (each query walks from the
    * top-degree nodes, excluding itself), same beam/hop knobs, per-query
    * exact truth and per-(query, hop) convergence rows. The per-query
    * self-exclusion replaces n22's global vec-0 exclusion; for query 0
    * the two walks are IDENTICAL — SimilaritySpec pins n24's query-0
    * rows equal to n22's report.
    *
    * Scale shapes: the batch's scoring pass is one broadcast of the
    * 8-row query set against the corpus (the denominator exact truth
    * needs anyway); per-hop work is TopKPerKey bounded heaps keyed by
    * query_id (never a per-query window over the corpus), one
    * beam×adjacency equi-join, and one score fetch — all row counts
    * bounded by batch × beam × degree, independent of corpus size.
    */
  val n24BatchedBeam: Q = (s, d) => {
    val parts = graphAnnMemo(s, d)
    batchedBeamWalk(s, d, parts.adj)
  }

  /** The batched walk over a caller-supplied adjacency — n24 passes the
    * memoized in-session graph, n26 the PERSISTED one read back from
    * parquet; identical machinery, so serve-from-disk can never drift
    * from serve-from-build.
    *
    * `onDemand = false` (n24/n26): ONE materialized scoring pass serves
    * both as the score lookup and the exact-truth denominator.
    * `onDemand = true` (n28): the SERVING contract — the walk scores ONLY
    * the nodes it visits, each hop a broadcast of the bounded
    * (query_id, vec_id) pair set into the vector table (a point fetch: at
    * 100 TB the vector table is bucketed by vec_id, so the broadcast
    * semi-probe prunes to the visited buckets — the corpus is never
    * crossed with the query set). The full pass survives ONLY inside the
    * truth computation, which is this EVAL's recall denominator, not part
    * of the serving path — a production deployment runs the walk without
    * it. Both modes compute the identical IEEE doubles, so the reports
    * are row-for-row equal (SimilaritySpec pins n28 == n24).
    *
    * Each hop broadcasts the walk's bounded sides — the beam, its
    * neighbour pairs, the scored pair set — as [[beamWalk]] does: at most
    * BatchQueries·(BeamSeeds + BeamHops·BeamWidth·2·[[KnnJoinK]]) rows
    * whatever the corpus size. Every hop's report comes from one pass
    * over the final scored set ([[hopReports]]).
    */
  private def batchedBeamWalk(s: SparkSession, d: String,
                              adjacency: DataFrame,
                              onDemand: Boolean = false): DataFrame = {
    // On-demand mode fetches from the vector table PER HOP — that table is
    // the index's own written store (n25/s36 persist it), so materialize
    // the quantization once instead of re-deriving it from the raw
    // embeddings on every hop. At this fixture's scale the win is small
    // (the hop-count job overhead dominates); at 100 TB it is the
    // difference between reading a bucketed store and re-quantizing the
    // corpus seven times.
    val v0 = prepared(s, d).select("vec_id", "q", "nrm")
    val v = if (onDemand) v0.transform(Materialized.of(_).df) else v0
    val qset = v.filter(col("vec_id") % KnnJoinStride === 0 &&
        col("vec_id") < BatchQueries * KnnJoinStride)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
              col("nrm").as("na"))
    // The full batch×corpus scoring expression: in lookup mode it is
    // materialized once (score table + truth); in on-demand mode it feeds
    // ONLY the truth computation below.
    def fullPass: DataFrame = v.crossJoin(broadcast(qset))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(
        s"cast(${dot("qa", "q")} as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("query_id", "vec_id", "cos")
    // None in on-demand mode — the score table must not exist there, or a
    // future edit could silently re-route the serving path through it
    val scall: Option[DataFrame] =
      if (onDemand) None else Some(fullPass.transform(Materialized.of(_).df))
    val pairKeys = Seq("query_id", "vec_id")
    /** (query_id, vec_id) pairs → (query_id, vec_id, cos), one row per
      * distinct pair with vec_id != query_id: the lookup semi-join in
      * full-pass mode (the table holds each such pair once), the
      * broadcast point fetch on demand.
      */
    def score(pairs: DataFrame): DataFrame = scall match {
      case Some(table) => table.join(broadcast(pairs), pairKeys, "left_semi")
      case None =>
        v.join(broadcast(pairs.filter(col("vec_id") =!= col("query_id"))
            .distinct()), Seq("vec_id"))
          .join(broadcast(qset), Seq("query_id"))
          .withColumn("cos", expr(
            s"cast(${dot("qa", "q")} as double) / sqrt(cast(na as double) * cast(nrm as double))"))
          .select("query_id", "vec_id", "cos")
    }
    val truthQ = graft.plans.TopKPerKey(scall.getOrElse(fullPass),
        Seq("query_id"), Seq(("cos", false), ("vec_id", true)), TopK)
      .select(col("query_id"), col("vec_id"))
      .transform(Materialized.of(_).df)
    // Per-query hub seeds: global top (BeamSeeds+1) hubs by degree — one
    // id may be a query and drop out, so +1 keeps every query at exactly
    // BeamSeeds entry points; per-query selection is a bounded heap over
    // a 9-row broadcast, and query 0's seed set equals n22's.
    val hubs = adjacency.groupBy("src").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src").asc).limit(BeamSeeds + 1)
    val seeds = graft.plans.TopKPerKey(
        broadcast(hubs).crossJoin(broadcast(qset.select("query_id")))
          .filter(col("src") =!= col("query_id")),
        Seq("query_id"), Seq(("deg", false), ("src", true)), BeamSeeds)
      .select(col("query_id"), col("src").as("vec_id"))
    var scored = score(seeds).withColumn("first", lit(0)).transform(Materialized.of(_).df)
    for (h <- 1 to BeamHops) {
      val beam = graft.plans.TopKPerKey(scored, Seq("query_id"),
          Seq(("cos", false), ("vec_id", true)), BeamWidth)
        .select(col("query_id"), col("vec_id").as("src"))
      // THE batched hop: one equi-join advances every query's frontier
      val fresh = broadcast(beam).join(adjacency, "src")
        .select(col("query_id"), col("dst").as("vec_id"))
        .join(scored.select(pairKeys.map(col): _*), pairKeys, "left_anti")
      scored = scored.unionByName(score(fresh).withColumn("first", lit(h)))
        .transform(Materialized.of(_).df)
    }
    hopReports(scored, Seq("query_id"), truthQ).orderBy("query_id", "hop")
  }

  /** n25: PERSISTED ANN-index round trip — the missing production shape
    * the r09 verdict named: every other n-query builds its index
    * in-query, but a vector-serving path reads a WRITTEN index. The
    * build half writes the IVF assignment partitioned by list id (the
    * physical layout that lets a probe read only its lists' files —
    * partition pruning at 100 TB) plus the centroid table; the serve
    * half then answers n14's nprobe search FROM the written tables
    * alone — no in-query assignment, no recomputation. The oracle is
    * n14's oracle VERBATIM (served == in-query-build is the pin, x16's
    * losslessness discipline), and SimilaritySpec pins the round trip
    * equal to n14 row-for-row in-session.
    */
  /** Per-run root for the persisted-index stores (n25/n26/s36): a FIXED
    * relative path collides when two sessions share one cwd (advice r10 —
    * PlanSpec's planOf(n25) triggers the write while SimilaritySpec or
    * Verify reads the same store), so the root is keyed by the session's
    * applicationId; a conf override (`graft.ann.store.dir`) points a
    * deployment at its lake path instead. The default root is registered
    * for deletion when the application ends (advice r11: repeated
    * Verify/Bench/test sessions accumulated unbounded per-run stores
    * under target/) — deletion on OUR OWN stop rather than a startup
    * sweep of siblings, because two live sessions share this cwd and a
    * sweep would yank a concurrent run's store out from under it. A
    * hard-killed JVM still leaks its one root; the conf override is
    * never touched.
    */
  private val annStoreCleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteLocalDir(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteLocalDir))
    f.delete(): Unit
  }

  private[graft] def annStoreRoot(s: SparkSession): String =
    s.conf.getOption("graft.ann.store.dir").getOrElse {
      val appId = s.sparkContext.applicationId
      val root = s"target/ann_store_$appId"
      if (annStoreCleanupRegistered.add(appId)) {
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            // plain java.io: the Hadoop FS may already be shut down here
            deleteLocalDir(new java.io.File(root))
        })
      }
      root
    }

  val n25IndexPersist: Q = (s, d) => {
    val out = s"${annStoreRoot(s)}/ann_index_store"
    // BUILD + WRITE: assignment partitioned by cid, centroids beside it.
    ivfAssigned(s, d).select("vec_id", "q", "nrm", "cid")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$out/assigned")
    prepared(s, d).filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("pcid"), col("q").as("cq"),
              col("nrm").as("cnrm"))
      .write.mode("overwrite").parquet(s"$out/centroids")
    // READ + SERVE: n14's two-stage probe over the persisted tables only.
    // Partition-column round trip: parquet infers the cid dirs as INT —
    // cast back to the written BIGINT so served schema == built schema.
    val assigned = graft.sources.ReadGuard.requireColumns(
        s.read.parquet(s"$out/assigned"), s"$out/assigned",
        "vec_id", "q", "nrm", "cid")
      .withColumn("cid", col("cid").cast("long"))
    val cents = graft.sources.ReadGuard.requireColumns(
      s.read.parquet(s"$out/centroids"), s"$out/centroids",
      "pcid", "cq", "cnrm")
    val qv = assigned.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    val probes = cents.crossJoin(broadcast(qv))
      .withColumn("qcos", expr(
        s"cast(${dot("qa", "cq")} as double) / sqrt(cast(na as double) * cast(cnrm as double))"))
      .orderBy(col("qcos").desc, col("pcid").asc).limit(NProbe)
      .select("pcid")
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probes), col("cid") === col("pcid"))
      .crossJoin(broadcast(qv))
      .withColumn("dot", expr(dot("qa", "q")))
      .withColumn("cos", expr(
        "cast(dot as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "cid", "dot", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK)
  }

  /** n26: batched serving from the PERSISTED graph — the full production
    * deployment n24 and n25 each prove half of: an offline build job
    * writes the graph index (n22's adjacency → parquet), a serving job
    * reads the WRITTEN edge table and advances a whole query batch over
    * it (n24's machinery, parameterized by adjacency — identical code
    * path, so serve-from-disk can never drift from serve-from-build).
    * The oracle is n24's verbatim: a lossless round trip means the
    * persisted-graph report IS the in-session report (x16's discipline);
    * SimilaritySpec additionally pins row-for-row equality in-session.
    * At 100 TB the edge table is bucketed by src so each hop's
    * beam-to-adjacency equi-join prunes to the beam's buckets.
    */
  val n26GraphServe: Q = (s, d) => {
    val out = s"${annStoreRoot(s)}/ann_graph_store"
    val parts = graphAnnMemo(s, d)
    parts.adj.write.mode("overwrite").parquet(s"$out/adjacency")
    batchedBeamWalk(s, d, graft.sources.ReadGuard.requireColumns(
      s.read.parquet(s"$out/adjacency"), s"$out/adjacency", "src", "dst"))
  }

  /** n28: the batched walk under the SERVING scoring contract — the same
    * walk as n24 (same graph, hub seeds, beam/hop budget, tie-breaks) but
    * scoring ONLY the visited nodes: each hop broadcasts the bounded
    * (query, node) pair set into the vector table as a point fetch
    * instead of consuming a precomputed batch×corpus score table. n24's
    * full pass is the honest recall-TRUTH denominator (its scaladoc says
    * so); n28 is the spelling a deployment actually runs — here the full
    * pass survives only inside the eval-only truth computation, and the
    * walk's scoring cost is Σ-visited, not |corpus|·batch. Both modes
    * compute the identical IEEE doubles, so the report is n24's
    * row-for-row (SimilaritySpec pin; oracle = n24's text verbatim).
    */
  val n28OndemandBeam: Q = (s, d) => {
    val parts = graphAnnMemo(s, d)
    batchedBeamWalk(s, d, parts.adj, onDemand = true)
  }

  /** RRF rank-fusion constant (the standard k=60 from Cormack et al.'s
    * reciprocal-rank-fusion formulation) and the integer scale that keeps
    * the fused score exact on both engines (1e6 div (k + rank)).
    */
  val RrfK = 60
  val RrfScale = 1000000L

  /** n19: hybrid retrieval with reciprocal-rank fusion — the production
    * "retrieve by ANN, re-rank by a fused lexical+vector score" shape.
    * Candidate generation is the IVF list (bounded — Σ list², never
    * corpus²; same machinery as n12); each (query, candidate) pair is
    * scored twice: exact-integer cosine (vector leg) and distinct-token
    * overlap via `array_intersect` on token arrays carried through the
    * join (lexical leg — a bounded per-row set op, codegen'd, no
    * token-level shuffle). Ranks are per-query `row_number`s over the
    * bounded candidate set (each window group is one IVF list's worth of
    * rows, never the corpus), fused as Σ 1e6 div (60 + r) — integer-exact
    * RRF, no float drift — and the final top-k runs on the TopKPerKey
    * bounded heap. At 100 TB the only corpus-scale work is the IVF
    * assignment scan; everything downstream touches candidate pairs.
    */
  val n19RankFusion: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val assigned = ivfAssigned(s, d)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val qs = assigned.filter(col("vec_id") % KnnJoinStride === 0)
      .select(col("vec_id").as("query_id"), col("q").as("qa"),
              col("nrm").as("na"), col("cid"))
      .join(toks.select(col("doc_id").as("query_id"), col("toks").as("qtoks")),
            "query_id")
    val cs = assigned.filter(col("vec_id") % KnnJoinStride =!= 0)
      .select(col("vec_id"), col("q"), col("nrm"), col("cid"))
      .join(toks.select(col("doc_id").as("vec_id"), col("toks")), "vec_id")
    val pairs = cs.join(qs, Seq("cid"))
      .withColumn("cos", expr(
        s"cast(${dot("qa", "q")} as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .withColumn("overlap", expr("cast(size(array_intersect(qtoks, toks)) as int)"))
      .select("query_id", "vec_id", "cos", "overlap")
    val wVec = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("overlap").desc, col("vec_id").asc)
    val ranked = pairs
      .withColumn("r_vec", row_number().over(wVec))
      .withColumn("r_lex", row_number().over(wLex))
      .withColumn("fused", expr(
        s"cast($RrfScale div ($RrfK + r_vec) + $RrfScale div ($RrfK + r_lex) as bigint)"))
    graft.plans.TopKPerKey(ranked, Seq("query_id"),
        Seq(("fused", false), ("vec_id", true)), KnnJoinK)
      .select(col("query_id"), col("vec_id"), col("r_vec"), col("r_lex"),
              col("fused"))
      .orderBy(col("query_id").asc, col("fused").desc, col("vec_id").asc)
  }

  /** PQ layout: 64 dims split into 8 subspaces of 8 dims. */
  val NumSubspaces = 8
  val SubDim: Int = Dim / NumSubspaces

  /** n06: product-quantization (PQ) codes — the third ANN index family
    * beside LSH (n01) and IVF (n02): each vector is encoded as 8 sub-codes,
    * one per 8-dim subspace, each the id of the nearest sub-codebook entry
    * (codebooks = the seed vectors' slices, the same deterministic stand-in
    * for trained codebooks as n02's centroids). All distance math is exact
    * integer algebra on the quantized slices, argmin is a partial-agg
    * `max_by` — one broadcast of the 16×8 codebook and one groupBy, no
    * sort, the shape that encodes a 100 TB corpus in a single pass. The
    * emitted per-subspace quantization error (dist2) is what a pipeline
    * monitors to decide codebook retraining.
    */
  /** (vec_id, sub, sq, snrm): every vector split into its 8 sub-vectors,
    * with the sub-norm precomputed ONCE per row — ‖a−b‖² expands to
    * snrm + cnrm − 2·a·b, so the 16-way centroid join below does ONE dot
    * per pair instead of three (identical integer values either way).
    */
  /** The 8-way sub-slice generator over a quantized-vector column — ONE
    * spelling shared by [[subVectors]] and n29's served-query slicing (the
    * subspace boundaries ARE the index layout; a re-spelling would probe
    * the wrong slices).
    */
  private def subSliceExpr(c: String): String =
    (0 until NumSubspaces)
      .map(j => s"struct($j AS sub, slice($c, ${j * SubDim + 1}, $SubDim) AS sq)")
      .mkString("array(", ", ", ")")

  /** Sub-slice a prepared (vec_id, q) frame — the seam s38's streaming
    * PQ maintainer shares with the batch encoders.
    */
  private[graft] def subVectorsOf(v: DataFrame): DataFrame =
    v.select(col("vec_id"), explode(expr(subSliceExpr("q"))).as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.sq").as("sq"))
      .withColumn("snrm", expr("vec_dot(sq, sq)"))

  private def subVectors(s: SparkSession, d: String): DataFrame =
    subVectorsOf(prepared(s, d).select("vec_id", "q"))

  /** (vec_id, sub, code, dist2): PQ assignment, shared by n06 and n07.
    * Factored over a caller-supplied sub-vector frame so n29's build can
    * derive codes AND sub-codebook from ONE cached sub-slicing pass.
    */
  private def pqAssigned(s: SparkSession, d: String): DataFrame =
    pqAssignedFrom(subVectors(s, d))

  private def pqAssignedFrom(vs: DataFrame): DataFrame =
    pqAssignToCodebook(vs,
      vs.filter(col("vec_id") < NumCentroids)
        .select(col("vec_id").as("cid"), col("sub"),
                col("sq").as("cq"), col("snrm").as("cnrm")))

  /** PQ sub-code assignment vs a caller-supplied FIXED sub-codebook — the
    * byte-identical argmin (formula, tie-break, partial-agg shape) shared
    * by the batch encoders and s38's streaming maintainer (s35's
    * fixed-codebook model applied to the PQ family).
    */
  private[graft] def pqAssignToCodebook(vs: DataFrame,
                                        cents: DataFrame): DataFrame =
    vs.join(broadcast(cents), "sub")
      .withColumn("dist2", expr("snrm + cnrm - 2 * vec_dot(sq, cq)"))
      .groupBy("vec_id", "sub")
      .agg(max_by(
        struct(col("cid"), col("dist2")),
        struct(negate(col("dist2")).as("nd"), negate(col("cid")).as("nc"))).as("best"))
      .select(col("vec_id"), col("sub"),
        col("best.cid").as("code"), col("best.dist2").as("dist2"))

  /** The corpus's fixed PQ sub-codebook (cid, sub, cq, cnrm) — what s38's
    * streaming maintainer broadcasts per batch.
    */
  private[graft] def pqCodebook(s: SparkSession, d: String): DataFrame =
    subVectors(s, d).filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cid"), col("sub"),
              col("sq").as("cq"), col("snrm").as("cnrm"))

  val n06PqCodes: Q = (s, d) =>
    pqAssigned(s, d).orderBy("vec_id", "sub")

  /** n07: PQ asymmetric-distance (ADC) search — the SEARCH half of the PQ
    * index n06 encodes: the query's 8×16 sub-distance table is computed
    * once and broadcast; every encoded vector's approximate L2² is then
    * just the SUM of 8 table lookups (one join on (sub, code) + one
    * partial-agg groupBy — no per-pair vector math at all, which is the
    * whole point of PQ at 100 TB: the corpus is touched only through its
    * 8-byte codes). Exact integer arithmetic end to end; top-k by the ADC
    * estimate with id tie-break.
    */
  /** (vec_id, adc_dist2): the ADC estimate for every encoded vector —
    * n07's search core, shared with n10's refine stage.
    */
  /** The query's 8×16 ADC distance table: ||q_j − c||² for every
    * (subspace, code) — built once and broadcast. One definition shared
    * by n07/n10 (through [[adcScores]]) and the composed n20/n21, so the
    * ADC formula cannot drift between the standalone and composed
    * spellings.
    */
  private def pqQueryTable(s: SparkSession, d: String): DataFrame = {
    val qsubs = subVectors(s, d).filter(col("vec_id") === 0)
      .select(col("sub"), col("sq").as("qs"), col("snrm").as("qnrm"))
    val cents = subVectors(s, d).filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("code"), col("sub"),
              col("sq").as("cq"), col("snrm").as("cnrm"))
    cents.join(broadcast(qsubs), "sub")
      .withColumn("qd2", expr("qnrm + cnrm - 2 * vec_dot(qs, cq)"))
      .select("sub", "code", "qd2")
  }

  private def adcScores(s: SparkSession, d: String): DataFrame =
    pqAssigned(s, d).filter(col("vec_id") =!= 0)
      .join(broadcast(pqQueryTable(s, d)), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(sum("qd2").as("adc_dist2"))

  val n07PqSearch: Q = (s, d) =>
    adcScores(s, d)
      .orderBy(col("adc_dist2").asc, col("vec_id").asc)
      .limit(TopK)

  /** Shortlist size for n10's two-stage retrieval (5× the final k). */
  val PqShortlist = 50

  /** n10: PQ search with exact refinement — the production two-stage
    * retrieval: the ADC estimate (n07) selects a SHORTLIST of 50
    * candidates through the 8-byte codes alone, then ONLY those 50 rows'
    * full vectors are fetched (a broadcast semi-join on vec_id — at 100 TB
    * a point-lookup against the vector store, never a shuffle) and
    * re-ranked by exact integer L2². This is how PQ serves accurate top-k
    * without ever scanning full vectors corpus-wide: approximate math over
    * everything, exact math over 50 rows. Ties at the shortlist boundary
    * are broken by vec_id, so the candidate set — and therefore the final
    * ranking — is replay-deterministic.
    */
  val n10PqRefine: Q = (s, d) => {
    val short = adcScores(s, d)
      .orderBy(col("adc_dist2").asc, col("vec_id").asc)
      .limit(PqShortlist)
    val qv = prepared(s, d).filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    prepared(s, d).filter(col("vec_id") =!= 0)
      .join(broadcast(short), "vec_id")
      .crossJoin(broadcast(qv))
      .withColumn("exact_d2", expr("na + nrm - 2 * vec_dot(qa, q)"))
      .select("vec_id", "adc_dist2", "exact_d2")
      .orderBy(col("exact_d2").asc, col("vec_id").asc)
      .limit(TopK)
  }

  /** Coarse lists probed by n20's IVF-PQ search. */
  val IvfPqNprobe = 2

  /** n20: IVF-PQ — the FAISS `IVFPQ` index architecture, composing the
    * two index families this suite builds separately: a COARSE IVF probe
    * (query's top-[[IvfPqNprobe]] centroid lists by exact cosine — the
    * 16-row centroid table broadcasts, top-2 is a 16-row sort) restricts
    * the candidate set, then PQ ADC scores ONLY those candidates through
    * their 8-byte codes (the semi-join on the probed lists lands BEFORE
    * the distance-table join — the whole point of IVFPQ: ADC work scales
    * with probed-list size, not corpus size), and n10's exact-refine
    * stage re-ranks the 50-row shortlist with full vectors. All integer
    * algebra; every intermediate (probe list, distance table, shortlist)
    * is metadata-scale and broadcast.
    */
  val n20Ivfpq: Q = (s, d) => {
    val v = prepared(s, d)
    val qfull = v.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("qn"))
    val cents = v.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("nrm").as("cnrm"))
    val probed = cents.crossJoin(broadcast(qfull))
      .withColumn("ccos", expr(
        s"cast(${dot("qa", "cq")} as double) / sqrt(cast(qn as double) * cast(cnrm as double))"))
      .orderBy(col("ccos").desc, col("cid").asc).limit(IvfPqNprobe)
      .select("cid")
    val cand = ivfAssigned(s, d).select("vec_id", "cid")
      .join(broadcast(probed), "cid")
      .filter(col("vec_id") =!= 0)
    val adc = pqAssigned(s, d).join(cand, "vec_id")
      .join(broadcast(pqQueryTable(s, d)), Seq("sub", "code"))
      .groupBy("vec_id", "cid").agg(sum("qd2").as("adc_dist2"))
    val short = adc.orderBy(col("adc_dist2").asc, col("vec_id").asc)
      .limit(PqShortlist)
    v.filter(col("vec_id") =!= 0).join(broadcast(short), "vec_id")
      .crossJoin(broadcast(qfull))
      .withColumn("exact_d2", expr("qn + nrm - 2 * vec_dot(qa, q)"))
      .select("vec_id", "cid", "adc_dist2", "exact_d2")
      .orderBy(col("exact_d2").asc, col("vec_id").asc)
      .limit(TopK)
  }

  /** n29: PERSISTED PQ-index round trip — n25's write-then-serve
    * discipline for the third index family (n25 = IVF, n26/s36 = graph,
    * n29 = PQ): the build half writes the FULL composed-index deployment —
    * IVF assignment partitioned by list id, centroid table, the 8-byte PQ
    * code table, and the sub-codebook — and the serve half answers n20's
    * composed IVF+PQ+refine search from the WRITTEN tables alone: route
    * via the stored centroids, restrict to the probed lists' partitions
    * (pruned read), ADC-score candidates through the stored codes against
    * a query distance table built from the stored sub-codebook (the
    * query's slices come from [[subSliceExpr]] — the index layout's one
    * spelling), and exact-refine the shortlist from the stored vectors.
    * The oracle is n20's text verbatim (served == built IS the pin, x16's
    * losslessness discipline) and SimilaritySpec pins row-for-row
    * equality in-session. At 100 TB the codes table is the only
    * corpus-scale read after pruning — 8 bytes a row, PQ's entire point.
    */
  val n29PqPersist: Q = (s, d) => {
    val out = s"${annStoreRoot(s)}/pq_index_store"
    // BUILD + WRITE: the four index tables
    ivfAssigned(s, d).select("vec_id", "q", "nrm", "cid")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$out/assigned")
    prepared(s, d).filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("pcid"), col("q").as("cq"),
              col("nrm").as("cnrm"))
      .write.mode("overwrite").parquet(s"$out/centroids")
    // ONE sub-slicing pass feeds both the code table and the sub-codebook
    val vs = subVectors(s, d).cache()
    pqAssignedFrom(vs).select("vec_id", "sub", "code")
      .write.mode("overwrite").parquet(s"$out/codes")
    vs.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("code"), col("sub"), col("sq").as("cq"),
              col("snrm").as("cnrm"))
      .write.mode("overwrite").parquet(s"$out/subcodebook")
    vs.unpersist()
    // READ + SERVE: n20's composed search from the written tables only
    import graft.sources.ReadGuard.requireColumns
    val assigned = requireColumns(s.read.parquet(s"$out/assigned"),
        s"$out/assigned", "vec_id", "q", "nrm", "cid")
      .withColumn("cid", col("cid").cast("long"))
    val cents = requireColumns(s.read.parquet(s"$out/centroids"),
      s"$out/centroids", "pcid", "cq", "cnrm")
    val codes = requireColumns(s.read.parquet(s"$out/codes"),
      s"$out/codes", "vec_id", "sub", "code")
    val cbook = requireColumns(s.read.parquet(s"$out/subcodebook"),
      s"$out/subcodebook", "code", "sub", "cq", "cnrm")
    val qfull = assigned.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("qn"))
    val probed = cents.crossJoin(broadcast(qfull))
      .withColumn("ccos", expr(
        s"cast(${dot("qa", "cq")} as double) / sqrt(cast(qn as double) * cast(cnrm as double))"))
      .orderBy(col("ccos").desc, col("pcid").asc).limit(IvfPqNprobe)
      .select("pcid")
    val cand = assigned.filter(col("vec_id") =!= 0).select("vec_id", "cid")
      .join(broadcast(probed), col("cid") === col("pcid"))
      .select("vec_id", "cid")
    // the query's sub-slices from the STORED query vector — the serve-time
    // work a deployment does when the query arrives
    val qsubs = qfull.select(explode(expr(subSliceExpr("qa"))).as("st"))
      .select(col("st.sub").as("sub"), col("st.sq").as("qs"))
      .withColumn("qnrm", expr("vec_dot(qs, qs)"))
    val qtable = cbook.join(broadcast(qsubs), "sub")
      .withColumn("qd2", expr("qnrm + cnrm - 2 * vec_dot(qs, cq)"))
      .select("sub", "code", "qd2")
    val adc = codes.join(cand, "vec_id")
      .join(broadcast(qtable), Seq("sub", "code"))
      .groupBy("vec_id", "cid").agg(sum("qd2").as("adc_dist2"))
    val short = adc.orderBy(col("adc_dist2").asc, col("vec_id").asc)
      .limit(PqShortlist)
    assigned.filter(col("vec_id") =!= 0).select("vec_id", "q", "nrm")
      .join(broadcast(short), "vec_id")
      .crossJoin(broadcast(qfull))
      .withColumn("exact_d2", expr("qn + nrm - 2 * vec_dot(qa, q)"))
      .select("vec_id", "cid", "adc_dist2", "exact_d2")
      .orderBy(col("exact_d2").asc, col("vec_id").asc)
      .limit(TopK)
  }

  /** n21: IVFPQ recall/effort sweep — n18's knob table for the COMPOSED
    * n20 index: per nprobe ∈ [[NprobeSweep]], the candidate count plus
    * recall@10 of (a) the raw ADC ranking and (b) the refined ranking
    * (ADC shortlist → exact re-rank), both against exact-L2 truth. This
    * is the table that separates the two loss sources — probe loss (the
    * true neighbor's list wasn't probed; refinement can't fix it) vs ADC
    * quantization loss (wrong order within probed lists; refinement fixes
    * it) — which is exactly what you consult before choosing nprobe and
    * shortlist size in production. Scored/ADC tables built once and
    * cached; each config is limit-k over broadcast-bounded sets.
    */
  val n21IvfpqRecall: Q = (s, d) => {
    val prep = prepared(s, d)
    val qv = prep.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"))
    val exact = prep.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .withColumn("d2", expr("na + nrm - 2 * vec_dot(qa, q)"))
      .select("vec_id", "d2").transform(RunScope.query.cache)
    val truth = exact.orderBy(col("d2").asc, col("vec_id").asc).limit(TopK)
      .select(col("vec_id").as("tid"))
    val adcAll = pqAssigned(s, d).filter(col("vec_id") =!= 0)
      .join(broadcast(pqQueryTable(s, d)), Seq("sub", "code"))
      .groupBy("vec_id").agg(sum("qd2").as("adc"))
      .join(ivfAssigned(s, d).select("vec_id", "cid"), "vec_id")
      .transform(RunScope.query.cache)
    val centScores = prep.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("pcid"), col("q").as("cq"), col("nrm").as("cnrm"))
      .crossJoin(broadcast(qv))
      .withColumn("qcos", expr(
        s"cast(${dot("qa", "cq")} as double) / sqrt(cast(na as double) * cast(cnrm as double))"))
      .select("pcid", "qcos").transform(RunScope.query.cache)
    val reports = NprobeSweep.map { np =>
      val probes = centScores.orderBy(col("qcos").desc, col("pcid").asc)
        .limit(np).select("pcid")
      val cand = adcAll.join(broadcast(probes), col("cid") === col("pcid"))
      val adcTop = cand.orderBy(col("adc").asc, col("vec_id").asc).limit(TopK)
      val adcHits = adcTop.join(broadcast(truth), col("vec_id") === col("tid"))
        .agg(count(lit(1)).as("adc_hits10"))
      val short = cand.orderBy(col("adc").asc, col("vec_id").asc)
        .limit(PqShortlist).select("vec_id")
      val refTop = exact.join(broadcast(short), "vec_id")
        .orderBy(col("d2").asc, col("vec_id").asc).limit(TopK)
      val refHits = refTop.join(broadcast(truth), col("vec_id") === col("tid"))
        .agg(count(lit(1)).as("refined_hits10"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(adcHits)).crossJoin(broadcast(refHits))
        .select(lit(np).as("nprobe"), col("n_candidates"),
                col("adc_hits10"), col("refined_hits10"))
    }
    reports.reduce(_.unionByName(_)).orderBy("nprobe")
  }

  /** SemDeDup within-cluster cosine threshold (the sf corpus is diffuse —
    * within-cluster pair cosines top out near 0.5 — so 0.30 prunes a real
    * but small set; production corpora use 0.9+ on trained clusters).
    */
  val SemDedupCos = 0.30

  /** d11: semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540) — cluster the embedding space, then inside each
    * cluster drop every vector that has a higher-similarity twin, keeping
    * one representative per near-duplicate group. Clustering reuses the
    * IVF assignment (broadcast centroids + partial-agg argmax); the
    * pairwise check runs ONLY within clusters — sum of cluster² pairs,
    * never the corpus², which is the entire point of the algorithm at
    * 100 TB (clusters are the unit of parallelism AND the pair-pruning
    * boundary). Keep policy is deterministic "drop if a lower-id
    * same-cluster vector is within the threshold" — the parallel,
    * order-free variant of the paper's greedy scan, identical on both
    * engines. The assigned table is cached once: it is both join sides.
    */
  val d11SemDedup: Q = (s, d) => {
    val assigned = ivfAssigned(s, d).select("vec_id", "q", "nrm", "cid").transform(RunScope.query.cache)
    val a = assigned.select(col("vec_id").as("v1"), col("q").as("q1"),
                            col("nrm").as("n1"), col("cid"))
    val b = assigned.select(col("vec_id").as("v2"), col("q").as("q2"),
                            col("nrm").as("n2"), col("cid"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("v2") < col("v1"))
      .withColumn("cos", expr(
        s"cast(${dot("q1", "q2")} as double) / sqrt(cast(n1 as double) * cast(n2 as double))"))
      .filter(col("cos") >= SemDedupCos)
      .select(col("v1").as("dv")).distinct()
    assigned.join(dropped, assigned("vec_id") === dropped("dv"), "left")
      .select(col("vec_id"), col("cid"), col("dv").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** n08: ANN recall evaluation — the index-quality report every ANN
    * deployment runs before trusting an approximate index: recall@k of
    * each probe strategy (n01's LSH bucket, n02's IVF list) against the
    * exact brute-force top-k (q33), one audit row per method. Both probes
    * are the existing scale shapes (broadcast query vector,
    * TakeOrderedAndProject heaps); each intersection is a k-row broadcast
    * semi-join, so the whole evaluation adds two metadata-scale joins to
    * the three searches. The fixture result is itself the lesson — IVF
    * 9/10, single-bucket LSH 0/10 on a diffuse corpus — exactly the
    * evidence this report exists to surface (LSH here needs multi-probe).
    * At 100 TB this runs over a SAMPLE of queries; the per-query shape is
    * identical.
    */
  val n08AnnRecall: Q = (s, d) => {
    val v = prepared(s, d).withColumn("bkt", expr(bucket("q")))
      .select("vec_id", "q", "nrm", "bkt")
      .transform(RunScope.query.cache)
    val qv = v.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"), col("bkt").as("qbkt"))
    def scored(df: DataFrame): DataFrame = df
      .withColumn("cos", expr(
        s"cast(${dot("qa", "q")} as double) / sqrt(cast(na as double) * cast(nrm as double))"))
    val exact = scored(v.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv)))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(TopK)
      .select(col("vec_id"))
    val lsh = scored(v.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .filter(col("bkt") === col("qbkt")))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(TopK)
      .select(col("vec_id"))
    // reuse THIS query's cached prepared frame — ivfAssigned(s, d) would
    // rebuild and cache a second copy of the same quantization scan
    val assigned = ivfAssignedFrom(v.select("vec_id", "q", "nrm"))
    val qc = assigned.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"), col("cid").as("qcid"))
    val ivf = scored(assigned.filter(col("vec_id") =!= 0).crossJoin(broadcast(qc))
        .filter(col("cid") === col("qcid")))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(TopK)
      .select(col("vec_id"))
    def recallRow(method: String, ann: DataFrame): DataFrame =
      ann.join(broadcast(exact), "vec_id")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(method).as("method"), lit(TopK).as("k"), col("n_hit"),
                expr(s"n_hit * 10000 div $TopK").as("recall_bp"))
    recallRow("ivf", ivf).unionByName(recallRow("lsh", lsh)).orderBy("method")
  }

  /** n09: multi-probe LSH ANN — the scale fix for n01's single-bucket
    * recall deficit (n08 measures it at 0/10 on this fixture): probe the
    * query's bucket PLUS the 8 single-bit-flip neighbors (the buckets a
    * borderline hyperplane sign would have produced). Each vector lives in
    * exactly one bucket, so the 9-row probe table broadcast-joins without
    * fan-out; candidates ≈ 9/256 of the corpus instead of 1/256, and
    * recall@10 rises 0 → 2 here — the probes/recall dial every LSH
    * deployment tunes (more planes + more probes at production scale).
    */
  val n09AnnMultiprobe: Q = (s, d) => {
    val v = prepared(s, d).withColumn("bkt", expr(bucket("q")))
      .select("vec_id", "q", "nrm", "bkt")
      .transform(RunScope.query.cache)
    val qv = v.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"), col("bkt").as("qbkt"))
    val flips = (0 until NumPlanes).map(j => s"qbkt ^ ${1 << j}")
    val probes = qv.select(
      explode(expr(s"array(qbkt, ${flips.mkString(", ")})")).as("pb"))
    v.filter(col("vec_id") =!= 0)
      .join(broadcast(probes), col("bkt") === col("pb"))
      .crossJoin(broadcast(qv))
      .withColumn("dot", expr(dot("qa", "q")))
      .withColumn("cos",
        expr(s"cast(dot as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "bkt", "dot", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK)
  }

  /** n11: scalar-quantization (SQ8) ANN — the third compression family
    * next to LSH (n01) and PQ (n06/n07): each dimension is affinely mapped
    * to an 8-bit code using per-dim corpus min/max, candidates are ranked
    * by the cheap code-space dot product, and the top 4k survivors are
    * re-ranked with the exact integer dot. All-integer quantization
    * (((q_i − mn_i) · 255) div (mx_i − mn_i), numerator non-negative so
    * truncating and flooring division agree) keeps both engines
    * bit-identical.
    *
    * Scale design: the per-dim stats are a 64-row partial agg folded into
    * ONE broadcast row (metadata); code building and the approx dot are
    * per-row map work over 8-bit-range ints (4 bytes/dim here vs 8 for the
    * raw quantized vector in principle — the storage/bandwidth win SQ8
    * exists for); candidate selection is TakeOrderedAndProject (per-
    * partition heap, no global sort); only 4k rows reach the exact
    * re-rank.
    */
  val n11AnnSq8: Q = (s, d) => {
    val p = prepared(s, d).transform(RunScope.query.cache)
    val stats = p.select(posexplode(col("q")).as(Seq("i", "v")))
      .groupBy("i").agg(min("v").as("mn"), max("v").as("mx"))
      .agg(expr("transform(array_sort(collect_list(struct(i, mn))), x -> x.mn)").as("mns"),
           expr("transform(array_sort(collect_list(struct(i, mx))), x -> x.mx)").as("mxs"))
    val coded = p.crossJoin(broadcast(stats))
      .withColumn("code", expr(
        s"""transform(sequence(1, $Dim), j ->
           |  IF(element_at(mxs, j) = element_at(mns, j), 0L,
           |     ((element_at(q, j) - element_at(mns, j)) * 255L)
           |       div (element_at(mxs, j) - element_at(mns, j))))""".stripMargin))
      .drop("mns", "mxs")
    val qv = coded.filter(col("vec_id") === 0)
      .select(col("q").as("qa"), col("nrm").as("na"), col("code").as("qc"))
    coded.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("approx", expr(dot("qc", "code")))
      .orderBy(col("approx").desc, col("vec_id").asc)
      .limit(TopK * 4)
      .withColumn("dot", expr(dot("qa", "q")))
      .withColumn("cos",
        expr(s"cast(dot as double) / sqrt(cast(na as double) * cast(nrm as double))"))
      .select("vec_id", "approx", "dot", "cos")
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(TopK)
  }

  val queries: Map[String, Q] = Map(
    "n16_kcenter_seed"   -> n16KcenterSeed,
    "n17_ivf_rebalance"  -> n17IvfRebalance,
    "n18_nprobe_sweep"   -> n18NprobeSweep,
    "n31_dim_sweep"      -> n31DimSweep,
    "n32_filter_strategies" -> n32FilterStrategies,
    "n33_cos_histogram" -> n33CosHistogram,
    "n11_ann_sq8"        -> n11AnnSq8,
    "n09_ann_multiprobe" -> n09AnnMultiprobe,
    "n08_ann_recall"     -> n08AnnRecall,
    "d11_semdedup"       -> d11SemDedup,
    "n06_pq_codes"       -> n06PqCodes,
    "n07_pq_search"      -> n07PqSearch,
    "n10_pq_refine"      -> n10PqRefine,
    "q33_similarity_knn" -> q33SimilarityKnn,
    "n01_ann_lsh"        -> n01AnnLsh,
    "n02_ann_ivf"        -> n02AnnIvf,
    "n03_ivf_stats"      -> n03IvfStats,
    "n04_l2_knn"         -> n04L2Knn,
    "n12_knn_join"       -> n12KnnJoin,
    "n13_mutual_knn"     -> n13MutualKnn,
    "n19_rank_fusion"    -> n19RankFusion,
    "n20_ivfpq"          -> n20Ivfpq,
    "n21_ivfpq_recall"   -> n21IvfpqRecall,
    "n22_graph_ann"      -> n22GraphAnn,
    "n23_layered_ann"    -> n23LayeredAnn,
    "n24_batched_beam"   -> n24BatchedBeam,
    "n25_index_persist"  -> n25IndexPersist,
    "n26_graph_serve"    -> n26GraphServe,
    "n27_kmeans_iter"    -> n27KmeansIter,
    "n30_codebook_drift" -> n30CodebookDrift,
    "n28_ondemand_beam"  -> n28OndemandBeam,
    "n29_pq_persist"     -> n29PqPersist,
    "n14_ivf_nprobe"     -> n14IvfNprobe,
    "n15_filtered_knn"   -> n15FilteredKnn,
    "n05_centroid_update" -> n05CentroidUpdate,
    "d04_embed_near_dup" -> d04EmbedNearDup)

  // ------------------------------------------------------------- oracles

  private[queries] val duckPrep =
    s"""prep AS (
       |  SELECT vec_id, ${duckQuant("embedding")} AS q FROM embeddings),
       |prepn AS (
       |  SELECT vec_id, q, ${duckDot("q", "q")} AS nrm FROM prep)""".stripMargin

  /** Shared oracle CTE: the n02-spelled IVF assignment (window argmax — the
    * oracle's sequential spelling of the partial-agg max_by).
    */
  private[queries] val duckAssigned =
    s"""cents AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm
       |          FROM prepn WHERE vec_id < $NumCentroids),
       |scoredc AS (
       |  SELECT v.vec_id, v.q, v.nrm, c.cid,
       |         CAST(${duckDot("v.q", "c.cq")} AS DOUBLE)
       |           / sqrt(CAST(v.nrm AS DOUBLE) * CAST(c.cnrm AS DOUBLE)) AS ccos
       |  FROM prepn v CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, q, nrm, cid, ccos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY ccos DESC, cid ASC) AS rn
       |    FROM scoredc) WHERE rn = 1)""".stripMargin

  private def duckDot8(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, $SubDim), i -> $a[i] * $b[i])) AS BIGINT)"

  /** Shared PQ codebook oracle CTEs over `prep` (from [[duckPrep]]):
    * per-(vector, subspace) slices, per-subspace centroids, the scored
    * assignment (`pbest`, rn + dist2 kept for n06's report), the trained
    * `codes`, and the query's ADC lookup `qtable`. One definition feeds
    * the five PQ oracles (n06/n07/n10/n20/n21), so a change to the PQ
    * geometry or tie-break cannot drift between them.
    */
  private val duckPqCodes =
    s"""subs AS (
       |  SELECT vec_id, g.j AS sub,
       |         list_slice(q, g.j * $SubDim + 1, g.j * $SubDim + $SubDim) AS sq
       |  FROM prep CROSS JOIN generate_series(0, ${NumSubspaces - 1}) AS g(j)),
       |pcents AS (SELECT vec_id AS cid, sub, sq AS cq
       |           FROM subs WHERE vec_id < $NumCentroids),
       |pscored AS (
       |  SELECT v.vec_id, v.sub, c.cid,
       |         ${duckDot8("v.sq", "v.sq")} + ${duckDot8("c.cq", "c.cq")}
       |           - 2 * ${duckDot8("v.sq", "c.cq")} AS dist2
       |  FROM subs v JOIN pcents c USING (sub)),
       |pbest AS (
       |  SELECT vec_id, sub, cid, dist2,
       |         row_number() OVER (PARTITION BY vec_id, sub
       |                            ORDER BY dist2 ASC, cid ASC) AS rn
       |  FROM pscored),
       |codes AS (SELECT vec_id, sub, cid AS code FROM pbest WHERE rn = 1),
       |qsubs AS (SELECT sub, sq AS qs FROM subs WHERE vec_id = 0),
       |qtable AS (
       |  SELECT c.sub, c.cid AS code,
       |         ${duckDot8("qs", "qs")} + ${duckDot8("c.cq", "c.cq")}
       |           - 2 * ${duckDot8("qs", "c.cq")} AS qd2
       |  FROM pcents c JOIN qsubs USING (sub))""".stripMargin

  /** n16 oracle round k: min-dist to chosen set ch{k-1}, argmax pick (md
    * DESC, id ASC — max_by's tie-break), vector lookback, chosen-set
    * append. The same unrolled-iteration discipline as the d09/d17 oracle
    * chains.
    */
  private def duckKcenterRound(k: Int): String = {
    val prev = s"ch${k - 1}"
    s"""m$k AS (
       |  SELECT a.vec_id,
       |         MIN(a.nrm + c.nrm - 2 * ${duckDot("a.q", "c.q")}) AS md
       |  FROM prepn a CROSS JOIN $prev c GROUP BY a.vec_id),
       |p$k AS (SELECT vec_id, md FROM m$k ORDER BY md DESC, vec_id LIMIT 1),
       |c$k AS (SELECT n.vec_id, n.q, n.nrm FROM prepn n JOIN p$k USING (vec_id)),
       |ch$k AS (SELECT * FROM $prev UNION ALL SELECT * FROM c$k)""".stripMargin
  }

  /** n22/n23 oracle scaffolding — the shared graph/scoring/truth CTEs
    * (over [[duckPrep]]'s prepn) and the per-entry-mode walk chain, all
    * parameterized by a CTE-name suffix so n23 can instantiate two walks
    * in one statement.
    */
  /** The query-independent graph-build CTEs (multi-probe cells → directed
    * kNN → symmetrized adjacency) — shared by the n22/n23 single-query
    * scaffolding AND n24's batched walk, which scores against its own
    * query SET instead of vec 0.
    */
  private val duckGraphBuild: String =
    s"""cents AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm
       |          FROM prepn WHERE vec_id < $NumCentroids),
       |scoredc AS (
       |  SELECT v.vec_id, v.q, v.nrm, c.cid,
       |         CAST(${duckDot("v.q", "c.cq")} AS DOUBLE)
       |           / sqrt(CAST(v.nrm AS DOUBLE) * CAST(c.cnrm AS DOUBLE)) AS ccos
       |  FROM prepn v CROSS JOIN cents c),
       |cells AS MATERIALIZED (
       |  SELECT vec_id, q, nrm, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY ccos DESC, cid ASC) AS rn
       |    FROM scoredc) t WHERE rn <= $BuildProbes),
       |directed AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
       |         CAST(${duckDot("a.q", "b.q")} AS DOUBLE)
       |           / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
       |  FROM cells a JOIN cells b
       |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
       |topk AS (
       |  SELECT src, dst FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |                                 ORDER BY cos DESC, dst ASC) AS rn
       |    FROM directed) WHERE rn <= $KnnJoinK),
       |adj AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM
       |    (SELECT src, dst FROM topk
       |     UNION ALL SELECT dst, src FROM topk) u)""".stripMargin

  private val duckGraphAnnBase: String =
    s"""$duckGraphBuild,
       |qv AS (SELECT q AS qa, nrm AS na FROM prepn WHERE vec_id = 0),
       |allsc AS MATERIALIZED (
       |  SELECT p.vec_id,
       |         CAST(${duckDot("qa", "p.q")} AS DOUBLE)
       |           / sqrt(CAST(na AS DOUBLE) * CAST(p.nrm AS DOUBLE)) AS cos
       |  FROM prepn p, qv WHERE p.vec_id <> 0),
       |truth AS MATERIALIZED (SELECT vec_id AS tid FROM allsc
       |          ORDER BY cos DESC, vec_id LIMIT $TopK)""".stripMargin

  private def duckHubSeed(sfx: String): String =
    s"""s0$sfx AS MATERIALIZED (
       |  SELECT a.vec_id, a.cos FROM allsc a
       |  JOIN (SELECT src AS vec_id FROM
       |          (SELECT src, COUNT(1) AS dg FROM adj GROUP BY src) dt
       |        WHERE src <> 0
       |        ORDER BY dg DESC, src ASC LIMIT $BeamSeeds) sd USING (vec_id))"""
      .stripMargin

  private def duckLayeredSeed(sfx: String): String =
    s"""s0$sfx AS MATERIALIZED (
       |  SELECT vec_id, cos FROM allsc
       |  WHERE vec_id < $NumCentroids AND vec_id <> 0
       |  ORDER BY cos DESC, vec_id LIMIT $BeamSeeds)""".stripMargin

  private def duckWalkRounds(sfx: String): String =
    (1 to BeamHops).map { k =>
      s"""b${k - 1}$sfx AS MATERIALIZED (SELECT vec_id FROM s${k - 1}$sfx
         |              ORDER BY cos DESC, vec_id LIMIT $BeamWidth),
         |nb$k$sfx AS MATERIALIZED (SELECT DISTINCT dst AS vec_id
         |         FROM adj JOIN b${k - 1}$sfx ON adj.src = b${k - 1}$sfx.vec_id
         |         WHERE dst <> 0
         |           AND dst NOT IN (SELECT vec_id FROM s${k - 1}$sfx)),
         |s$k$sfx AS MATERIALIZED (SELECT * FROM s${k - 1}$sfx
         |        UNION ALL
         |        SELECT a.vec_id, a.cos FROM allsc a JOIN nb$k$sfx USING (vec_id))"""
        .stripMargin
    }.mkString(",\n")

  private def duckWalkLegs(sfx: String, mode: Option[String]): String = {
    val modeCol = mode.map(m => s"'$m' AS entry_mode, ").getOrElse("")
    (0 to BeamHops).map { k =>
      s"""SELECT $modeCol$k AS hop, $BeamWidth AS beam_width,
         |       (SELECT COUNT(1) FROM s$k$sfx) AS n_scored,
         |       (SELECT MAX(cos) FROM s$k$sfx) AS best_cos,
         |       (SELECT COUNT(1) FROM
         |          (SELECT vec_id FROM s$k$sfx ORDER BY cos DESC, vec_id LIMIT $TopK) tk
         |          JOIN truth ON tk.vec_id = tid) AS hits10,
         |       (SELECT COUNT(1) FROM
         |          (SELECT vec_id FROM s$k$sfx ORDER BY cos DESC, vec_id LIMIT $TopK) tk
         |          JOIN truth ON tk.vec_id = tid) * 10000 // $TopK AS recall_bp"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
  }

  /** The n14/n25 oracle: the nprobe search over the assigned corpus (n25
    * serves the same search from its written tables).
    */
  private val duckIvfNprobe: String =
    s"""WITH $duckPrep,
       |$duckAssigned,
       |qv AS (SELECT q AS qa, nrm AS na FROM prepn WHERE vec_id = 0),
       |probes AS (
       |  SELECT cid AS pcid FROM (
       |    SELECT c.cid,
       |           CAST(${duckDot("qa", "c.cq")} AS DOUBLE)
       |             / sqrt(CAST(na AS DOUBLE) * CAST(c.cnrm AS DOUBLE)) AS qcos
       |    FROM cents c CROSS JOIN qv)
       |  ORDER BY qcos DESC, cid ASC LIMIT $NProbe),
       |sel AS (
       |  SELECT a.vec_id, a.cid, ${duckDot("qa", "a.q")} AS dot,
       |         CAST(${duckDot("qa", "a.q")} AS DOUBLE)
       |           / sqrt(CAST(na AS DOUBLE) * CAST(a.nrm AS DOUBLE)) AS cos
       |  FROM assigned a JOIN probes ON a.cid = pcid CROSS JOIN qv
       |  WHERE a.vec_id <> 0)
       |SELECT vec_id, cid, dot, cos FROM sel
       |ORDER BY cos DESC, vec_id ASC LIMIT $TopK""".stripMargin

  /** The n24/n26 oracle: the n22 walk chain keyed by query_id over
    * the shared graph CTEs — one definition for both keys (n26 serves
    * from the persisted copy of the SAME graph).
    */
  private val duckBatchedBeam: String = {
      val rounds = (1 to BeamHops).map { k =>
        s"""qb${k - 1} AS MATERIALIZED (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id, row_number() OVER (
           |      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
           |    FROM qs${k - 1}) WHERE rn <= $BeamWidth),
           |qnb$k AS MATERIALIZED (
           |  SELECT DISTINCT b.query_id, a.dst AS vec_id
           |  FROM adj a JOIN qb${k - 1} b ON a.src = b.vec_id
           |  WHERE a.dst <> b.query_id
           |    AND NOT EXISTS (SELECT 1 FROM qs${k - 1} p
           |                    WHERE p.query_id = b.query_id
           |                      AND p.vec_id = a.dst)),
           |qs$k AS MATERIALIZED (
           |  SELECT * FROM qs${k - 1}
           |  UNION ALL
           |  SELECT nb.query_id, nb.vec_id, sc.cos
           |  FROM qnb$k nb JOIN scall sc USING (query_id, vec_id))""".stripMargin
      }.mkString(",\n")
      val legs = (0 to BeamHops).map { k =>
        s"""SELECT a.query_id, CAST($k AS INT) AS hop, a.n_scored, a.best_cos,
           |       CAST(COALESCE(h.h10, 0) AS BIGINT) AS hits10,
           |       CAST(COALESCE(h.h10, 0) * 10000 // $TopK AS BIGINT) AS recall_bp
           |FROM (SELECT query_id, COUNT(1) AS n_scored, MAX(cos) AS best_cos
           |      FROM qs$k GROUP BY query_id) a
           |LEFT JOIN (
           |  SELECT tk.query_id, COUNT(1) AS h10
           |  FROM (SELECT query_id, vec_id FROM (
           |          SELECT query_id, vec_id, row_number() OVER (
           |            PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
           |          FROM qs$k) WHERE rn <= $TopK) tk
           |  JOIN btruth t ON tk.query_id = t.query_id AND tk.vec_id = t.tid
           |  GROUP BY tk.query_id) h USING (query_id)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $duckPrep,
         |$duckGraphBuild,
         |qset AS (SELECT vec_id AS query_id, q AS qa, nrm AS na FROM prepn
         |         WHERE vec_id % $KnnJoinStride = 0
         |           AND vec_id < ${BatchQueries * KnnJoinStride}),
         |scall AS MATERIALIZED (
         |  SELECT qs.query_id, p.vec_id,
         |         CAST(${duckDot("qs.qa", "p.q")} AS DOUBLE)
         |           / sqrt(CAST(qs.na AS DOUBLE) * CAST(p.nrm AS DOUBLE)) AS cos
         |  FROM prepn p JOIN qset qs ON p.vec_id <> qs.query_id),
         |btruth AS MATERIALIZED (
         |  SELECT query_id, vec_id AS tid FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
         |    FROM scall) WHERE rn <= $TopK),
         |hubs AS (SELECT src, COUNT(1) AS dg FROM adj GROUP BY src
         |         ORDER BY dg DESC, src ASC LIMIT ${BeamSeeds + 1}),
         |seeds AS (
         |  SELECT query_id, src AS vec_id FROM (
         |    SELECT q.query_id, h.src, row_number() OVER (
         |      PARTITION BY q.query_id ORDER BY h.dg DESC, h.src ASC) AS rn
         |    FROM hubs h JOIN qset q ON h.src <> q.query_id)
         |  WHERE rn <= $BeamSeeds),
         |qs0 AS MATERIALIZED (
         |  SELECT sd.query_id, sd.vec_id, sc.cos
         |  FROM seeds sd JOIN scall sc USING (query_id, vec_id)),
         |$rounds
         |$legs
         |ORDER BY query_id, hop""".stripMargin
      }

  /** n27 oracle round r: centroid norms, argmin assignment (d2 asc, cid
    * asc — the max_by tie-break), then the truncated-mean update and the
    * empty-cluster coalesce — the n16/d09 unrolled-iteration discipline.
    */
  private def duckKmeansRound(r: Int): String =
    s"""cn$r AS (SELECT cid, cq, ${duckDot("cq", "cq")} AS cnrm FROM c$r),
       |a$r AS MATERIALIZED (
       |  SELECT vec_id, q, cid, d2 FROM (
       |    SELECT z.*, row_number() OVER (PARTITION BY vec_id
       |                                   ORDER BY d2 ASC, cid ASC) AS rn
       |    FROM (SELECT p.vec_id, p.q, c.cid,
       |                 p.nrm + c.cnrm - 2 * ${duckDot("p.q", "c.cq")} AS d2
       |          FROM prepn p CROSS JOIN cn$r c) z) WHERE rn = 1),
       |u$r AS (
       |  SELECT cid, list(m ORDER BY pos) AS ncq FROM (
       |    SELECT cid, g.i AS pos,
       |           CAST(SUM(q[g.i]) // COUNT(1) AS BIGINT) AS m
       |    FROM a$r CROSS JOIN generate_series(1, $Dim) AS g(i)
       |    GROUP BY cid, g.i) GROUP BY cid),
       |c${r + 1} AS (SELECT c$r.cid, COALESCE(u$r.ncq, c$r.cq) AS cq
       |       FROM c$r LEFT JOIN u$r USING (cid))""".stripMargin

  /** The composed IVF+PQ+refine oracle — ONE text shared by n20 (in-query
    * build) and n29 (served from the persisted tables): a lossless round
    * trip means the served search IS the built search.
    */
  private lazy val duckIvfPq: String =
    s"""WITH $duckPrep,
       |$duckAssigned,
       |$duckPqCodes,
       |qf AS (SELECT q AS qa, nrm AS qn FROM prepn WHERE vec_id = 0),
       |probed AS (
       |  SELECT cid FROM (
       |    SELECT c.vec_id AS cid,
       |           CAST(${duckDot("q0.qa", "c.q")} AS DOUBLE)
       |             / sqrt(CAST(q0.qn AS DOUBLE) * CAST(c.nrm AS DOUBLE)) AS ccos
       |    FROM prepn c, qf q0 WHERE c.vec_id < $NumCentroids)
       |  ORDER BY ccos DESC, cid ASC LIMIT $IvfPqNprobe),
       |cand AS (SELECT a.vec_id, a.cid FROM assigned a JOIN probed USING (cid)
       |         WHERE a.vec_id <> 0),
       |adc AS (
       |  SELECT b.vec_id, cand.cid, CAST(SUM(qd2) AS BIGINT) AS adc_dist2
       |  FROM codes b JOIN cand ON cand.vec_id = b.vec_id
       |              JOIN qtable t ON b.sub = t.sub AND b.code = t.code
       |  GROUP BY b.vec_id, cand.cid),
       |short AS (SELECT * FROM adc
       |          ORDER BY adc_dist2 ASC, vec_id ASC LIMIT $PqShortlist)
       |SELECT s.vec_id, s.cid, s.adc_dist2,
       |       CAST(q0.qn + p.nrm - 2 * ${duckDot("q0.qa", "p.q")} AS BIGINT)
       |         AS exact_d2
       |FROM short s JOIN prepn p USING (vec_id), qf q0
       |ORDER BY exact_d2 ASC, vec_id ASC LIMIT $TopK""".stripMargin

  val oracles: Map[String, String] = Map(
    "n27_kmeans_iter" -> {
      val rounds = (1 to KmeansRounds).map(duckKmeansRound).mkString(",\n")
      val legs = (1 to KmeansRounds).map { r =>
        val moved =
          if (r == 1) "CAST(0 AS BIGINT)"
          else s"""(SELECT CAST(SUM(CASE WHEN a$r.cid <> a${r - 1}.cid
                   |              THEN 1 ELSE 0 END) AS BIGINT)
                   |FROM a$r JOIN a${r - 1} USING (vec_id))""".stripMargin
        s"""SELECT CAST($r AS INT) AS round,
           |       (SELECT COUNT(1) FROM a$r) AS n_assigned,
           |       (SELECT CAST(SUM(d2) AS BIGINT) FROM a$r) AS inertia,
           |       $moved AS n_moved""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $duckPrep,
         |c1 AS (SELECT vec_id AS cid, q AS cq FROM prepn
         |       WHERE vec_id < $NumCentroids),
         |$rounds
         |$legs
         |ORDER BY round""".stripMargin
    },
    // n18: per-config CTEs generated from the same sweep list as the
    // Spark side (d22's discipline); cosine doubles IEEE-identical.
    // n21: n18's per-config CTE generation over the IVFPQ machinery —
    // exact-L2 truth, ADC top-k and refined top-k per nprobe.
    "n21_ivfpq_recall" -> {
      val perK = NprobeSweep.map { k =>
        s"""pb$k AS (SELECT pcid FROM cs ORDER BY qcos DESC, pcid LIMIT $k),
           |cd$k AS (SELECT * FROM adcall WHERE cid IN (SELECT pcid FROM pb$k)),
           |at$k AS (SELECT vec_id FROM cd$k ORDER BY adc, vec_id LIMIT $TopK),
           |sh$k AS (SELECT vec_id FROM cd$k ORDER BY adc, vec_id LIMIT $PqShortlist),
           |rf$k AS (SELECT e.vec_id FROM exact e JOIN sh$k USING (vec_id)
           |         ORDER BY e.d2, e.vec_id LIMIT $TopK)""".stripMargin
      }.mkString(",\n")
      val legs = NprobeSweep.map { k =>
        s"""SELECT $k AS nprobe,
           |       (SELECT COUNT(1) FROM cd$k) AS n_candidates,
           |       (SELECT COUNT(1) FROM at$k JOIN truth ON vec_id = tid) AS adc_hits10,
           |       (SELECT COUNT(1) FROM rf$k JOIN truth ON vec_id = tid) AS refined_hits10"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $duckPrep,
         |$duckAssigned,
         |qv AS (SELECT q AS qa, nrm AS na FROM prepn WHERE vec_id = 0),
         |exact AS (SELECT p.vec_id,
         |                 na + p.nrm - 2 * ${duckDot("qa", "p.q")} AS d2
         |          FROM prepn p, qv WHERE p.vec_id <> 0),
         |truth AS (SELECT vec_id AS tid FROM exact ORDER BY d2, vec_id LIMIT $TopK),
         |$duckPqCodes,
         |adcall AS (
         |  SELECT b.vec_id, a.cid, CAST(SUM(qd2) AS BIGINT) AS adc
         |  FROM codes b JOIN assigned a ON a.vec_id = b.vec_id
         |              JOIN qtable t ON b.sub = t.sub AND b.code = t.code
         |  WHERE b.vec_id <> 0
         |  GROUP BY b.vec_id, a.cid),
         |cs AS (SELECT c.cid AS pcid,
         |              CAST(${duckDot("c.cq", "qa")} AS DOUBLE)
         |                / sqrt(CAST(na AS DOUBLE) * CAST(c.cnrm AS DOUBLE)) AS qcos
         |       FROM cents c, qv),
         |$perK
         |$legs
         |ORDER BY nprobe""".stripMargin
    },
    // n31: prefix dots via the same generate_series kernel bounded at m;
    // the same double-divide formula, so cos doubles are IEEE-identical
    "n31_dim_sweep" -> {
      def dotm(a: String, b: String, m: Int) =
        s"CAST(list_sum(list_transform(generate_series(1, $m), i -> $a[i] * $b[i])) AS BIGINT)"
      val scs = DimSweep.map { m =>
        s"""sc$m AS (
           |  SELECT vec_id,
           |         CAST(${dotm("qa", "q", m)} AS DOUBLE) /
           |         sqrt(CAST(${dotm("qa", "qa", m)} AS DOUBLE) *
           |              CAST(${dotm("q", "q", m)} AS DOUBLE)) AS cosm
           |  FROM base, qv)""".stripMargin
      }.mkString(",\n")
      val rss = DimSweep.map { m =>
        s"rs$m AS (SELECT vec_id FROM sc$m ORDER BY cosm DESC, vec_id LIMIT $TopK)"
      }.mkString(",\n")
      val legs = DimSweep.map { m =>
        s"""SELECT $m AS dim,
           |       (SELECT COUNT(1) FROM rs$m JOIN truth ON vec_id = tid) AS hits10,
           |       (SELECT vec_id FROM sc$m ORDER BY cosm DESC, vec_id LIMIT 1) AS top1"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $duckPrep,
         |qv AS (SELECT q AS qa FROM prepn WHERE vec_id = 0),
         |base AS (SELECT vec_id, q FROM prepn WHERE vec_id <> 0),
         |$scs,
         |truth AS (SELECT vec_id AS tid FROM sc$Dim
         |          ORDER BY cosm DESC, vec_id LIMIT $TopK),
         |$rss
         |$legs
         |ORDER BY dim""".stripMargin
    },
    "n18_nprobe_sweep" -> {
      val perK = NprobeSweep.map { k =>
        s"""pb$k AS (SELECT pcid FROM cs ORDER BY qcos DESC, pcid LIMIT $k),
           |cd$k AS (SELECT * FROM sc WHERE cid IN (SELECT pcid FROM pb$k)),
           |rs$k AS (SELECT vec_id FROM cd$k ORDER BY cos DESC, vec_id LIMIT $TopK)"""
          .stripMargin
      }.mkString(",\n")
      val legs = NprobeSweep.map { k =>
        s"""SELECT $k AS nprobe,
           |       (SELECT COUNT(1) FROM cd$k) AS n_candidates,
           |       (SELECT COUNT(1) FROM rs$k JOIN truth ON vec_id = tid) AS hits10"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $duckPrep,
         |$duckAssigned,
         |qv AS (SELECT q AS qa, nrm AS na FROM prepn WHERE vec_id = 0),
         |sc AS (SELECT a.vec_id, a.cid,
         |              CAST(${duckDot("a.q", "qa")} AS DOUBLE)
         |                / sqrt(CAST(na AS DOUBLE) * CAST(a.nrm AS DOUBLE)) AS cos
         |       FROM assigned a, qv WHERE a.vec_id <> 0),
         |truth AS (SELECT vec_id AS tid FROM sc ORDER BY cos DESC, vec_id LIMIT $TopK),
         |cs AS (SELECT c.cid AS pcid,
         |              CAST(${duckDot("c.cq", "qa")} AS DOUBLE)
         |                / sqrt(CAST(na AS DOUBLE) * CAST(c.cnrm AS DOUBLE)) AS qcos
         |       FROM cents c, qv),
         |$perK
         |$legs
         |ORDER BY nprobe""".stripMargin
    },
    // n17: windows spelled sequentially (row_number) — ccos doubles are
    // IEEE-identical, ties broken (ccos desc, id asc) on both sides.
    "n17_ivf_rebalance" ->
      s"""WITH $duckPrep,
         |cents AS (SELECT vec_id AS cid, q AS cq, nrm AS cnrm
         |          FROM prepn WHERE vec_id < $NumCentroids),
         |scored AS (
         |  SELECT v.vec_id, c.cid,
         |         CAST(${duckDot("v.q", "c.cq")} AS DOUBLE)
         |           / sqrt(CAST(v.nrm AS DOUBLE) * CAST(c.cnrm AS DOUBLE)) AS ccos
         |  FROM prepn v CROSS JOIN cents c),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                    ORDER BY ccos DESC, cid ASC) AS rn
         |       FROM scored),
         |best AS (SELECT vec_id, cid, ccos FROM rk WHERE rn = 1),
         |sec AS (SELECT vec_id, cid AS cid2 FROM rk WHERE rn = 2),
         |tot AS (SELECT COUNT(1) AS n_total FROM best),
         |wc AS (SELECT b.vec_id, b.cid, b.ccos,
         |              row_number() OVER (PARTITION BY b.cid
         |                                 ORDER BY b.ccos DESC, b.vec_id ASC) AS kr,
         |              ($RebalanceNum * n_total) // ($RebalanceDen * $NumCentroids) AS cap
         |       FROM best b CROSS JOIN tot),
         |mv AS (SELECT w.vec_id, w.cid AS ocid, s.cid2 AS fcid
         |       FROM wc w JOIN sec s USING (vec_id) WHERE kr > cap),
         |bf AS (SELECT cid, COUNT(1) AS n_before FROM best GROUP BY cid),
         |oo AS (SELECT ocid AS cid, COUNT(1) AS n_out FROM mv GROUP BY ocid),
         |ii AS (SELECT fcid AS cid, COUNT(1) AS n_in FROM mv GROUP BY fcid)
         |SELECT c.cid,
         |       COALESCE(n_before, CAST(0 AS BIGINT)) AS n_before,
         |       COALESCE(n_out, CAST(0 AS BIGINT)) AS n_out,
         |       COALESCE(n_in, CAST(0 AS BIGINT)) AS n_in,
         |       COALESCE(n_before, 0) - COALESCE(n_out, 0)
         |         + COALESCE(n_in, 0) AS n_after
         |FROM (SELECT cid FROM cents) c
         |LEFT JOIN bf USING (cid) LEFT JOIN oo USING (cid)
         |LEFT JOIN ii USING (cid)
         |ORDER BY cid""".stripMargin,
    "n16_kcenter_seed" -> {
      val rounds = (2 to KcenterSeeds).map(duckKcenterRound).mkString(",\n")
      val legs = (2 to KcenterSeeds).map(k =>
        s"UNION ALL SELECT $k, vec_id, md FROM p$k").mkString("\n")
      s"""WITH $duckPrep,
         |ch1 AS (SELECT vec_id, q, nrm FROM prepn WHERE vec_id = 0),
         |$rounds
         |SELECT 1 AS seed_rank, vec_id, CAST(0 AS BIGINT) AS dist2 FROM ch1
         |$legs
         |ORDER BY seed_rank""".stripMargin
    },
    // n22/n23: the walk's sequential hops unrolled as generated CTE
    // rounds (the n16/d09/hilbert oracle discipline, shared scaffolding
    // in duckWalk*); the build CTEs spell the multi-probe kNN graph
    // sequentially (row_number rn <= P / rn <= k = the TopKPerKey heaps'
    // tie-breaks), scoring is the shared exact table, and every per-hop
    // leg reads only its own round's set. The chain CTEs are AS
    // MATERIALIZED: DuckDB default-INLINES CTEs, and with s_k referenced
    // ~3x per round plus 4 legs the inlined scan count grows
    // exponentially in the hop count (measured: the default plan
    // exhausts the process fd limit re-opening the parquet).
    "n22_graph_ann" ->
      s"""WITH $duckPrep,
         |$duckGraphAnnBase,
         |${duckHubSeed("")},
         |${duckWalkRounds("")}
         |${duckWalkLegs("", None)}
         |ORDER BY hop""".stripMargin,
    // n24: the n22 walk chain keyed by query_id — every round CTE carries
    // the batch dimension, seeds/beams/top-k are per-query row_numbers
    // (the TopKPerKey heaps' tie-breaks), scoring reads the batch-scored
    // table; same MATERIALIZED discipline as n22's chain.
    "n24_batched_beam" -> duckBatchedBeam,
    // n26: serve-from-persisted-graph == serve-from-build IS the pin, so
    // the oracle is n24's text verbatim (n25/x16's losslessness
    // discipline applied to the graph index).
    "n26_graph_serve" -> duckBatchedBeam,
    // n28: on-demand scoring == lookup scoring IS the pin (identical IEEE
    // doubles from both paths), so the oracle is again n24's verbatim.
    "n28_ondemand_beam" -> duckBatchedBeam,
    // n25: the persisted round trip serves n14's search from the written
    // tables — served == built IS the pin, so the oracle is n14's text.
    "n25_index_persist" -> duckIvfNprobe,
    // n23: the same scaffolding instantiated twice (CTE suffix per entry
    // mode) over ONE shared graph/scoring/truth base.
    "n23_layered_ann" ->
      s"""WITH $duckPrep,
         |$duckGraphAnnBase,
         |${duckHubSeed("h")},
         |${duckLayeredSeed("l")},
         |${duckWalkRounds("h")},
         |${duckWalkRounds("l")}
         |${duckWalkLegs("h", Some("hub"))}
         |UNION ALL
         |${duckWalkLegs("l", Some("layered"))}
         |ORDER BY entry_mode, hop""".stripMargin,
    "n13_mutual_knn" ->
      s"""WITH $duckPrep,
         |$duckAssigned,
         |directed AS (
         |  SELECT a.vec_id AS src, b.vec_id AS dst,
         |         CAST(${duckDot("a.q", "b.q")} AS DOUBLE)
         |           / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
         |  FROM assigned a JOIN assigned b
         |    ON a.cid = b.cid AND a.vec_id <> b.vec_id),
         |topk AS (
         |  SELECT src, dst, cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY src
         |                                 ORDER BY cos DESC, dst ASC) AS rn
         |    FROM directed) WHERE rn <= $KnnJoinK)
         |SELECT t1.src AS v1, t1.dst AS v2, t1.cos AS cos
         |FROM topk t1 JOIN topk t2 ON t1.src = t2.dst AND t1.dst = t2.src
         |WHERE t1.src < t1.dst
         |ORDER BY v1, v2""".stripMargin,
    // n19: same candidate CTEs as n12 plus the lexical leg
    // (list_intersect of distinct-token lists == Spark's array_intersect
    // on array_distinct inputs — both deduplicate, so the SIZE matches
    // even though element order differs); ranks and RRF are integer-exact.
    "n19_rank_fusion" ->
      s"""WITH $duckPrep,
         |$duckAssigned,
         |toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
         |         FROM documents),
         |qs AS (SELECT a.vec_id AS query_id, a.q AS qa, a.nrm AS na, a.cid,
         |              t.tk AS qtk
         |       FROM assigned a JOIN toks t ON t.doc_id = a.vec_id
         |       WHERE a.vec_id % $KnnJoinStride = 0),
         |cs AS (SELECT a.vec_id, a.q, a.nrm, a.cid, t.tk
         |       FROM assigned a JOIN toks t ON t.doc_id = a.vec_id
         |       WHERE a.vec_id % $KnnJoinStride <> 0),
         |pairs AS (
         |  SELECT qs.query_id, cs.vec_id,
         |         CAST(${duckDot("qs.qa", "cs.q")} AS DOUBLE)
         |           / sqrt(CAST(qs.na AS DOUBLE) * CAST(cs.nrm AS DOUBLE)) AS cos,
         |         CAST(len(list_intersect(qs.qtk, cs.tk)) AS INT) AS overlap
         |  FROM cs JOIN qs ON cs.cid = qs.cid),
         |ranked AS (
         |  SELECT query_id, vec_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY cos DESC, vec_id ASC) AS INT) AS r_vec,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY overlap DESC, vec_id ASC) AS INT) AS r_lex
         |  FROM pairs),
         |fused AS (
         |  SELECT query_id, vec_id, r_vec, r_lex,
         |         CAST($RrfScale // ($RrfK + r_vec)
         |              + $RrfScale // ($RrfK + r_lex) AS BIGINT) AS fused
         |  FROM ranked),
         |sel AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY fused DESC, vec_id ASC) AS rn
         |  FROM fused)
         |SELECT query_id, vec_id, r_vec, r_lex, fused
         |FROM sel WHERE rn <= $KnnJoinK
         |ORDER BY query_id ASC, fused DESC, vec_id ASC""".stripMargin,
    "n12_knn_join" ->
      s"""WITH $duckPrep,
         |$duckAssigned,
         |qs AS (SELECT vec_id AS query_id, q AS qa, nrm AS na, cid
         |       FROM assigned WHERE vec_id % $KnnJoinStride = 0),
         |cs AS (SELECT vec_id, q, nrm, cid
         |       FROM assigned WHERE vec_id % $KnnJoinStride <> 0),
         |pairs AS (
         |  SELECT qs.query_id, cs.vec_id, cs.cid,
         |         CAST(${duckDot("qs.qa", "cs.q")} AS DOUBLE)
         |           / sqrt(CAST(qs.na AS DOUBLE) * CAST(cs.nrm AS DOUBLE)) AS cos
         |  FROM cs JOIN qs ON cs.cid = qs.cid),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, vec_id ASC) AS rn
         |  FROM pairs)
         |SELECT query_id, vec_id, cid, cos FROM ranked WHERE rn <= $KnnJoinK
         |ORDER BY query_id ASC, cos DESC, vec_id ASC""".stripMargin,
    "n11_ann_sq8" ->
      s"""WITH $duckPrep,
         |stats AS (
         |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
         |  FROM (SELECT i, MIN(q[i]) AS mn, MAX(q[i]) AS mx
         |        FROM prepn CROSS JOIN generate_series(1, $Dim) AS g(i)
         |        GROUP BY i)),
         |coded AS (
         |  SELECT vec_id, q, nrm,
         |         list_transform(generate_series(1, $Dim), i ->
         |           CASE WHEN mxs[i] = mns[i] THEN 0
         |                ELSE ((q[i] - mns[i]) * 255) // (mxs[i] - mns[i]) END) AS code
         |  FROM prepn, stats),
         |qv AS (SELECT q AS qa, nrm AS na, code AS qc FROM coded WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id, q, nrm, qa, na,
         |         CAST(list_sum(list_transform(generate_series(1, $Dim),
         |           i -> qc[i] * code[i])) AS BIGINT) AS approx
         |  FROM coded, qv WHERE vec_id <> 0
         |  ORDER BY approx DESC, vec_id ASC LIMIT ${TopK * 4})
         |SELECT vec_id, approx, ${duckDot("qa", "q")} AS dot,
         |       CAST(${duckDot("qa", "q")} AS DOUBLE)
         |         / sqrt(CAST(na AS DOUBLE) * CAST(nrm AS DOUBLE)) AS cos
         |FROM cand ORDER BY cos DESC, vec_id ASC LIMIT $TopK""".stripMargin,
    "n09_ann_multiprobe" ->
      s"""WITH $duckPrep,
         |wb AS (SELECT vec_id, q, nrm, ${duckBucket("q")} AS bkt FROM prepn),
         |qv AS (SELECT q AS qa, nrm AS na, bkt AS qbkt FROM wb WHERE vec_id = 0),
         |probes AS (
         |  SELECT qbkt AS pb FROM qv
         |  UNION ALL
         |  SELECT xor(qbkt, 1 << j) FROM qv, generate_series(0, ${NumPlanes - 1}) AS g(j)),
         |scored AS (
         |  SELECT w.vec_id, w.bkt, ${duckDot("qa", "w.q")} AS dot,
         |         CAST(${duckDot("qa", "w.q")} AS DOUBLE)
         |           / sqrt(CAST(na AS DOUBLE) * CAST(w.nrm AS DOUBLE)) AS cos
         |  FROM wb w JOIN probes p ON w.bkt = p.pb CROSS JOIN qv
         |  WHERE w.vec_id <> 0)
         |SELECT vec_id, bkt, dot, cos FROM scored
         |ORDER BY cos DESC, vec_id ASC LIMIT $TopK""".stripMargin,
    "n08_ann_recall" ->
      s"""WITH $duckPrep,
         |$duckAssigned,
         |wb AS (SELECT vec_id, q, nrm, ${duckBucket("q")} AS bkt FROM prepn),
         |qv AS (SELECT q AS qa, nrm AS na, bkt AS qbkt FROM wb WHERE vec_id = 0),
         |qc AS (SELECT q AS qa, nrm AS na, cid AS qcid FROM assigned WHERE vec_id = 0),
         |exact AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id,
         |           CAST(${duckDot("qa", "q")} AS DOUBLE)
         |             / sqrt(CAST(na AS DOUBLE) * CAST(nrm AS DOUBLE)) AS cos
         |    FROM wb, qv WHERE vec_id <> 0)
         |  ORDER BY cos DESC, vec_id ASC LIMIT $TopK),
         |lsh AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id,
         |           CAST(${duckDot("qa", "q")} AS DOUBLE)
         |             / sqrt(CAST(na AS DOUBLE) * CAST(nrm AS DOUBLE)) AS cos
         |    FROM wb, qv WHERE vec_id <> 0 AND bkt = qbkt)
         |  ORDER BY cos DESC, vec_id ASC LIMIT $TopK),
         |ivf AS (
         |  SELECT vec_id FROM (
         |    SELECT a.vec_id,
         |           CAST(${duckDot("qa", "a.q")} AS DOUBLE)
         |             / sqrt(CAST(na AS DOUBLE) * CAST(a.nrm AS DOUBLE)) AS cos
         |    FROM assigned a, qc WHERE a.vec_id <> 0 AND a.cid = qcid)
         |  ORDER BY cos DESC, vec_id ASC LIMIT $TopK)
         |SELECT method, k, n_hit, n_hit * 10000 // $TopK AS recall_bp FROM (
         |  SELECT 'ivf' AS method, $TopK AS k,
         |         (SELECT COUNT(1) FROM ivf JOIN exact USING (vec_id)) AS n_hit
         |  UNION ALL
         |  SELECT 'lsh', $TopK,
         |         (SELECT COUNT(1) FROM lsh JOIN exact USING (vec_id)))
         |ORDER BY method""".stripMargin,
    "d11_semdedup" ->
      s"""WITH $duckPrep,
         |$duckAssigned,
         |dropped AS (
         |  SELECT DISTINCT a.vec_id AS dv
         |  FROM assigned a JOIN assigned b
         |    ON a.cid = b.cid AND b.vec_id < a.vec_id
         |  WHERE CAST(${duckDot("a.q", "b.q")} AS DOUBLE)
         |          / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE))
         |        >= $SemDedupCos)
         |SELECT vec_id, cid, dv IS NULL AS kept
         |FROM assigned LEFT JOIN dropped ON vec_id = dv
         |ORDER BY vec_id""".stripMargin,
    "q33_similarity_knn" ->
      s"""WITH $duckPrep,
         |qv AS (SELECT q AS qa, nrm AS na FROM prepn WHERE vec_id = 0),
         |scored AS (
         |  SELECT vec_id, ${duckDot("qa", "q")} AS dot,
         |         CAST(${duckDot("qa", "q")} AS DOUBLE)
         |           / sqrt(CAST(na AS DOUBLE) * CAST(nrm AS DOUBLE)) AS cos
         |  FROM prepn, qv WHERE vec_id <> 0)
         |SELECT vec_id, dot, cos FROM scored
         |ORDER BY cos DESC, vec_id ASC LIMIT $TopK""".stripMargin,
    "n01_ann_lsh" ->
      s"""WITH $duckPrep,
         |wb AS (SELECT vec_id, q, nrm, ${duckBucket("q")} AS bkt FROM prepn),
         |qv AS (SELECT q AS qa, nrm AS na, bkt AS qbkt FROM wb WHERE vec_id = 0),
         |scored AS (
         |  SELECT vec_id, bkt, ${duckDot("qa", "q")} AS dot,
         |         CAST(${duckDot("qa", "q")} AS DOUBLE)
         |           / sqrt(CAST(na AS DOUBLE) * CAST(nrm AS DOUBLE)) AS cos
         |  FROM wb, qv WHERE vec_id <> 0 AND bkt = qbkt)
         |SELECT vec_id, bkt, dot, cos FROM scored
         |ORDER BY cos DESC, vec_id ASC LIMIT $TopK""".stripMargin,
    // n32: the three filter strategies over one scored CTE; pre is the
    // truth leg, so its hits row is the built-in sanity
    // n33: same lag pairs, same exact-double cos, same bucket formula
    "n33_cos_histogram" -> {
      val lags = CosHistLags.mkString(", ")
      s"""WITH $duckPrep,
         |pairs AS (
         |  SELECT a.vec_id AS src, a.vec_id + l.l AS dst
         |  FROM prepn a, (SELECT unnest([$lags]) AS l) l
         |  WHERE EXISTS (SELECT 1 FROM prepn b WHERE b.vec_id = a.vec_id + l.l)),
         |scored AS (
         |  SELECT CAST(${duckDot("x.q", "y.q")} AS DOUBLE)
         |           / sqrt(CAST(x.nrm AS DOUBLE) * CAST(y.nrm AS DOUBLE)) AS cos
         |  FROM pairs p JOIN prepn x ON x.vec_id = p.src
         |               JOIN prepn y ON y.vec_id = p.dst),
         |b AS (
         |  SELECT least(19, greatest(0,
         |           CAST(floor((cos + 1.0) * 10.0) AS BIGINT))) AS bucket
         |  FROM scored),
         |t AS (SELECT COUNT(1) AS n_total FROM b)
         |SELECT bucket, CAST(COUNT(1) AS BIGINT) AS n,
         |       CAST(COUNT(1) * 10000 // n_total AS BIGINT) AS share_bp
         |FROM b CROSS JOIN t GROUP BY bucket, n_total ORDER BY bucket""".stripMargin
    },
    "n32_filter_strategies" -> {
      s"""WITH $duckPrep,
         |$duckAssigned,
         |qual AS (${graft.queries.TextOps.duckQuality}),
         |good AS (SELECT doc_id AS vid FROM qual
         |         WHERE quality >= $FilterMinQuality),
         |qv AS (SELECT q AS qa, nrm AS na FROM prepn WHERE vec_id = 0),
         |sc AS (SELECT a.vec_id, a.cid,
         |              CAST(${duckDot("a.q", "qa")} AS DOUBLE)
         |                / sqrt(CAST(na AS DOUBLE) * CAST(a.nrm AS DOUBLE)) AS cos
         |       FROM assigned a, qv WHERE a.vec_id <> 0),
         |gsc AS (SELECT * FROM sc WHERE vec_id IN (SELECT vid FROM good)),
         |truth AS (SELECT vec_id AS tid FROM gsc
         |          ORDER BY cos DESC, vec_id LIMIT $TopK),
         |pre AS (SELECT vec_id FROM gsc ORDER BY cos DESC, vec_id LIMIT $TopK),
         |post AS (SELECT vec_id FROM (
         |           SELECT vec_id FROM sc ORDER BY cos DESC, vec_id LIMIT $TopK)
         |         WHERE vec_id IN (SELECT vid FROM good)),
         |probes AS (
         |  SELECT cid AS pcid FROM (
         |    SELECT c.cid,
         |           CAST(${duckDot("qa", "c.cq")} AS DOUBLE)
         |             / sqrt(CAST(na AS DOUBLE) * CAST(c.cnrm AS DOUBLE)) AS qcos
         |    FROM cents c, qv)
         |  ORDER BY qcos DESC, pcid LIMIT $NProbe),
         |probe AS (SELECT vec_id FROM gsc
         |          WHERE cid IN (SELECT pcid FROM probes)
         |          ORDER BY cos DESC, vec_id LIMIT $TopK)
         |SELECT 'post' AS strategy,
         |       (SELECT COUNT(1) FROM post) AS returned,
         |       (SELECT COUNT(1) FROM post JOIN truth ON vec_id = tid) AS hits10
         |UNION ALL
         |SELECT 'pre',
         |       (SELECT COUNT(1) FROM pre),
         |       (SELECT COUNT(1) FROM pre JOIN truth ON vec_id = tid)
         |UNION ALL
         |SELECT 'probe',
         |       (SELECT COUNT(1) FROM probe),
         |       (SELECT COUNT(1) FROM probe JOIN truth ON vec_id = tid)
         |ORDER BY strategy""".stripMargin
    },
    "n15_filtered_knn" ->
      s"""WITH $duckPrep,
         |qual AS (${graft.queries.TextOps.duckQuality}),
         |good AS (SELECT doc_id FROM qual WHERE quality >= $FilterMinQuality),
         |qv AS (SELECT q AS qa, nrm AS na FROM prepn WHERE vec_id = 0)
         |SELECT vec_id, ${duckDot("qa", "q")} AS dot,
         |       CAST(${duckDot("qa", "q")} AS DOUBLE)
         |         / sqrt(CAST(na AS DOUBLE) * CAST(nrm AS DOUBLE)) AS cos
         |FROM prepn JOIN good ON vec_id = doc_id CROSS JOIN qv
         |WHERE vec_id <> 0
         |ORDER BY cos DESC, vec_id ASC LIMIT $TopK""".stripMargin,
    "n14_ivf_nprobe" -> duckIvfNprobe,
    // n30: the window-argmax assignment CTE (n02's oracle spelling), the
    // exact integer best-centroid dot re-derived from the centroid table,
    // then the same two metadata-scale aggregations; all divisions are
    // truncating on both engines (operands can be negative — div and //
    // agree toward zero).
    "n30_codebook_drift" ->
      s"""WITH $duckPrep,
         |$duckAssigned,
         |cd AS (
         |  SELECT a.vec_id, CAST(a.vec_id % $IvfMonitorBatches AS INT) AS batch,
         |         a.cid, ${duckDot("a.q", "c.cq")} AS cdot
         |  FROM assigned a JOIN cents c ON c.cid = a.cid),
         |per AS (
         |  SELECT batch, COUNT(1) AS n_vecs, CAST(SUM(cdot) AS BIGINT) AS sum_cdot
         |  FROM cd GROUP BY batch),
         |skew AS (
         |  SELECT batch, MAX(sz) AS max_list FROM (
         |    SELECT batch, cid, COUNT(1) AS sz FROM cd GROUP BY batch, cid)
         |  GROUP BY batch),
         |base AS (
         |  SELECT CAST(SUM(cdot) AS BIGINT) // COUNT(1) AS base_mean FROM cd)
         |SELECT batch, n_vecs, sum_cdot,
         |       sum_cdot // n_vecs AS mean_cdot,
         |       max_list,
         |       max_list * $NumCentroids * 10000 // n_vecs AS skew_bp,
         |       (sum_cdot // n_vecs) * 10000 // base_mean AS drift_bp
         |FROM per JOIN skew USING (batch), base
         |ORDER BY batch""".stripMargin,
    "n02_ann_ivf" ->
      s"""WITH $duckPrep,
         |$duckAssigned,
         |qside AS (SELECT q AS qa, nrm AS na, cid AS qcid
         |          FROM assigned WHERE vec_id = 0),
         |probe AS (
         |  SELECT a.vec_id, a.cid, ${duckDot("qa", "a.q")} AS dot,
         |         CAST(${duckDot("qa", "a.q")} AS DOUBLE)
         |           / sqrt(CAST(na AS DOUBLE) * CAST(a.nrm AS DOUBLE)) AS cos
         |  FROM assigned a, qside WHERE a.vec_id <> 0 AND a.cid = qcid)
         |SELECT vec_id, cid, dot, cos FROM probe
         |ORDER BY cos DESC, vec_id ASC LIMIT $TopK""".stripMargin,
    "n04_l2_knn" ->
      s"""WITH $duckPrep,
         |qv AS (SELECT q AS qa, nrm AS na FROM prepn WHERE vec_id = 0)
         |SELECT vec_id,
         |       CAST(na + nrm - 2 * ${duckDot("qa", "q")} AS BIGINT) AS dist2
         |FROM prepn, qv WHERE vec_id <> 0
         |ORDER BY dist2 ASC, vec_id ASC LIMIT $TopK""".stripMargin,
    "n06_pq_codes" ->
      s"""WITH $duckPrep,
         |$duckPqCodes
         |SELECT vec_id, CAST(sub AS INT) AS sub,
         |       CAST(cid AS BIGINT) AS code, CAST(dist2 AS BIGINT) AS dist2
         |FROM pbest WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin,
    // n20: IVF probe + PQ ADC + exact refine, composed from the same CTE
    // bodies as the n02/n07/n10 oracles; the candidate restriction (JOIN
    // probed) lands before the ADC join exactly as the Spark side's
    // semi-join does.
    "n20_ivfpq" -> duckIvfPq,
    // n29: the persisted PQ round trip serves n20's composed search from
    // the written tables — served == built IS the pin, so the oracle is
    // n20's text verbatim (n25/n26/x16's losslessness discipline).
    "n29_pq_persist" -> duckIvfPq,
    "n07_pq_search" ->
      s"""WITH $duckPrep,
         |$duckPqCodes
         |SELECT b.vec_id, CAST(SUM(qd2) AS BIGINT) AS adc_dist2
         |FROM codes b JOIN qtable t ON b.sub = t.sub AND b.code = t.code
         |WHERE b.vec_id <> 0
         |GROUP BY b.vec_id
         |ORDER BY adc_dist2 ASC, vec_id ASC LIMIT $TopK""".stripMargin,
    "n10_pq_refine" ->
      s"""WITH $duckPrep,
         |$duckPqCodes,
         |adc AS (
         |  SELECT b.vec_id, CAST(SUM(qd2) AS BIGINT) AS adc_dist2
         |  FROM codes b JOIN qtable t ON b.sub = t.sub AND b.code = t.code
         |  WHERE b.vec_id <> 0
         |  GROUP BY b.vec_id),
         |short AS (SELECT vec_id, adc_dist2 FROM adc
         |          ORDER BY adc_dist2 ASC, vec_id ASC LIMIT $PqShortlist),
         |qv AS (SELECT q AS qa, nrm AS na FROM prepn WHERE vec_id = 0)
         |SELECT s.vec_id, s.adc_dist2,
         |       CAST(na + p.nrm - 2 * ${duckDot("qa", "p.q")} AS BIGINT) AS exact_d2
         |FROM short s JOIN prepn p USING (vec_id) CROSS JOIN qv
         |ORDER BY exact_d2 ASC, s.vec_id ASC LIMIT $TopK""".stripMargin,
    "n05_centroid_update" ->
      s"""WITH $duckPrep,
         |$duckAssigned
         |SELECT cid, CAST(g.i AS INT) AS dim,
         |       COUNT(1) AS n_members, CAST(SUM(q[g.i]) AS BIGINT) AS sum_q
         |FROM assigned CROSS JOIN generate_series(1, $Dim) AS g(i)
         |GROUP BY cid, g.i ORDER BY cid, dim""".stripMargin,
    "n03_ivf_stats" ->
      s"""WITH $duckPrep,
         |$duckAssigned
         |SELECT cid, COUNT(1) AS n_members,
         |       MIN(ccos) AS min_cos, MAX(ccos) AS max_cos
         |FROM assigned GROUP BY cid ORDER BY cid""".stripMargin,
    "d04_embed_near_dup" ->
      s"""WITH $duckPrep,
         |wb AS (SELECT vec_id, q, nrm, ${duckBucket("q")} AS bkt FROM prepn),
         |pairs AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2, a.bkt AS bkt,
         |         ${duckDot("a.q", "b.q")} AS dot,
         |         CAST(${duckDot("a.q", "b.q")} AS DOUBLE)
         |           / sqrt(CAST(a.nrm AS DOUBLE) * CAST(b.nrm AS DOUBLE)) AS cos
         |  FROM wb a JOIN wb b ON a.bkt = b.bkt AND a.vec_id < b.vec_id)
         |SELECT v1, v2, bkt, dot FROM pairs
         |WHERE cos >= $NearDupCos
         |ORDER BY v1, v2""".stripMargin
  )
}
