package graft

/** Extended-surface semantic pins that deliberately live OUTSIDE the
  * benched/oracle path (round-5 verdict item 2): builtins whose execution
  * shape is unacceptable at scale are verified here against their
  * scale-safe relational twins on the sf0.001 corpus.
  */
class ExtendedSpec extends SparkSpec {

  test("Log2Hist buffer serde round-trips and merge adds elementwise") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    val agg = graft.functions.Log2Hist(BoundReference(0, LongType, nullable = true))
    val a = agg.createAggregationBuffer()
    a(0) = 3L; a(10) = 7L; a(62) = Long.MaxValue / 2
    val rt = agg.deserialize(agg.serialize(a))
    assert(rt.toSeq === a.toSeq, "serde must be lossless")
    val b = agg.createAggregationBuffer()
    b(0) = 1L; b(63) = 5L
    val m = agg.merge(a, b)
    assert(m(0) === 4L && m(10) === 7L && m(63) === 5L)
    // update ignores nulls and non-positive values; bucket = floor(log2)
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
    def upd(v: Any): Unit = { row.update(0, v); agg.update(m, row) }
    upd(null); upd(0L); upd(-5L)
    assert(m(0) === 4L, "null/non-positive must not count")
    upd(1L); assert(m(0) === 5L)
    upd(1024L); assert(m(10) === 8L)
    upd(Long.MaxValue); assert(m(62) === Long.MaxValue / 2 + 1)
  }

  test("prefixMax equals the global-window reference in all 4 modes") {
    import org.apache.spark.sql.functions._
    // Unique order key (orderkey, linenumber packed) with a non-monotone
    // value column, so running maxes genuinely interleave across range
    // partitions; the reference is the single-partition window (fine in a
    // TEST — it is exactly the shape prefixMax exists to replace).
    // (orderkey, linenumber) is NOT unique in the synthetic fixture —
    // collapse to one row per key (prefixSum/prefixMax's documented
    // unique-order-key contract; ties could split across range bounds).
    val df = graft.Tables.lineitem(spark, sf)
      .groupBy((col("l_orderkey") * 10 + col("l_linenumber")).as("k"))
      .agg(max(col("l_partkey").cast("bigint")).as("v"))
    for {
      desc <- Seq(false, true)
      incl <- Seq(false, true)
      parts <- Seq(3, 32)
    } {
      // prefixMax ranges into the session's shuffle parallelism: set it
      // for this build only, and free the build's ranged cache before the
      // next one plans the same table again
      val conf = spark.conf
      val saved = conf.get("spark.sql.shuffle.partitions")
      val got = try {
        conf.set("spark.sql.shuffle.partitions", parts.toLong)
        graft.queries.TextOps
          .prefixMax(df, "k", "v", "pm", includeCurrent = incl,
            descending = desc)
          .select("k", "pm").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toMap
      } finally {
        conf.set("spark.sql.shuffle.partitions", saved)
        RunScope.query.release()
      }
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(r => if (desc) -r._1 else r._1)
      var best: Option[Long] = None
      rows.foreach { case (k, v) =>
        val withCur = Some(best.fold(v)(math.max(_, v)))
        val expect = if (incl) withCur else best
        assert(got(k) === expect,
          s"k=$k desc=$desc incl=$incl parts=$parts")
        best = withCur
      }
      assert(rows.nonEmpty && got.size === rows.length)
    }
  }

  test("t25 vocabulary coverage equals the sorted-count reference") {
    // Reference: sort per-token counts descending in memory and count how
    // many tokens the greedy walk needs to reach each mass threshold —
    // token-level truth that t25's class-level histogram arithmetic
    // (boundary class contributes ceil(missing/cnt) tokens) must equal.
    val toks = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .flatMap(_.getString(0).split(" ", -1))
    val counts = toks.groupBy(identity).map(_._2.length.toLong).toSeq
      .sorted(Ordering[Long].reverse)
    val total = counts.sum
    def vAt(th: Long): Long = {
      var cum = 0L; var i = 0
      while (cum < th) { cum += counts(i); i += 1 }
      i.toLong
    }
    val r = graft.queries.TextOps.t25VocabCoverage(spark, sf).collect().head
    assert(r.getLong(0) === total)
    assert(r.getLong(1) === counts.size.toLong)
    assert(r.getLong(2) === vAt((total + 1) / 2))
    assert(r.getLong(3) === vAt((total * 9 + 9) / 10))
    assert(r.getLong(4) === vAt((total * 99 + 99) / 100))
  }

  test("x17 under-filled / subset / mixed sketch regimes match an in-memory reference") {
    import spark.implicits._
    val k = graft.queries.ScaleOps.KmvK
    val two56 = 72057594037927936L
    def run(a: Seq[Long], b: Seq[Long]): Seq[Long] = {
      val r = graft.queries.ScaleOps.x17Of(a.toDF("h"), b.toDF("h"))
        .collect().head
      (0 until 6).map(r.getLong)
    }
    // the same algebra, serially: sketch = k smallest, theta = min of the
    // per-sketch thetas (2^56 when under-filled), membership below theta
    // is exact, est scales by the theta fraction
    def ref(a: Seq[Long], b: Seq[Long]): Seq[Long] = {
      val (da, db) = (a.distinct.sorted, b.distinct.sorted)
      val (ska, skb) = (da.take(k), db.take(k))
      def th(sk: Seq[Long]) = if (sk.size < k) two56 else sk.max
      val theta = math.min(th(ska), th(skb))
      def m(x: Seq[Long], y: Seq[Long]) =
        x.count(h => h <= theta && !y.contains(h)).toLong
      def est(mv: Long) = if (theta >= two56) mv else mv * two56 / theta
      def exact(x: Seq[Long], y: Seq[Long]) = x.count(!y.contains(_)).toLong
      def err(e: Long, x: Long) =
        if (x == 0) { if (e == 0) 0L else 10000L }
        else math.abs(e - x) * 10000 / x
      val (eab, xab) = (est(m(ska, skb)), exact(da, db))
      val (eba, xba) = (est(m(skb, ska)), exact(db, da))
      Seq(eab, xab, err(eab, xab), eba, xba, err(eba, xba))
    }
    // BOTH under-filled (10 and 9 elements < k=64): theta = 2^56, the
    // sketches hold everything, so the "estimate" must be EXACT
    val a1 = (1L to 10L).map(_ * 1000003L)
    val b1 = (6L to 14L).map(_ * 1000003L)
    val r1 = run(a1, b1)
    assert(r1 === ref(a1, b1))
    assert(r1(0) === r1(1) && r1(2) === 0L, "under-filled regime must be exact")
    // SUBSET direction: A \ B empty — the guarded error must report 0, not
    // divide by zero
    val r2 = run(a1, a1 ++ Seq(999999999999L))
    assert(r2 === ref(a1, a1 ++ Seq(999999999999L)))
    assert(r2(0) === 0L && r2(1) === 0L && r2(2) === 0L)
    // MIXED regime: A over-full (200 > k), B under-filled — theta comes
    // from A's kth min; B's membership stays exact below it
    val a3 = (1L to 200L).map(i => i * 360287970189639L + 17L)
    val b3 = a3.take(5) ++ Seq(123L, 456L)
    assert(run(a3, b3) === ref(a3, b3))
  }

  test("t39 BPE train+encode matches an in-memory reference; tokenizer bounds hold") {
    // Reference: the same algorithm run serially in memory — word-frequency
    // vocab, BpeRounds rounds of (weighted pair count -> argmax by
    // (count desc, pair asc) -> java String.replace, whose leftmost
    // non-overlapping scan is the semantics both engines' replace share).
    // Validates the distributed spelling end-to-end: the lazy one-plan
    // train (1-row best-pair crossJoin per round) must produce the exact
    // per-doc token counts the serial trainer does.
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val vocab = scala.collection.mutable.HashMap[String, (Long, String)]()
    docs.flatMap(_._2.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).foreach { case (w, ws) =>
        vocab(w) = (ws.length.toLong, " " + w.map(c => s"$c ").mkString)
      }
    for (_ <- 1 to graft.queries.TextOps.BpeRounds) {
      val pc = scala.collection.mutable.HashMap[String, Long]().withDefaultValue(0L)
      vocab.values.foreach { case (n, seq) =>
        val syms = seq.trim.split(" ")
        (0 until syms.length - 1).foreach(i => pc(syms(i) + " " + syms(i + 1)) += n)
      }
      val bp = pc.toSeq.minBy { case (p, c) => (-c, p) }._1
      vocab.keysIterator.toSeq.foreach { w =>
        val (n, seq) = vocab(w)
        vocab(w) = (n, seq.replace(" " + bp + " ", " " + bp.replace(" ", "") + " "))
      }
    }
    val nSym = vocab.map { case (w, (_, seq)) => w -> seq.trim.split(" ").length.toLong }
    val expect = docs.map { case (id, text) =>
      val ws = text.split(" ", -1).filter(_.nonEmpty)
      id -> ((ws.length.toLong, ws.map(nSym).sum, ws.map(_.length.toLong).sum))
    }.toMap
    val got = graft.queries.TextOps.t39BpeTokenizer(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (id, ws, bpe, nc) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert((ws, bpe, nc) === expect(id), s"doc $id diverges from the reference")
      // the invariants any tokenizer must satisfy (t03-consistency)
      assert(ws <= bpe && bpe <= nc, s"tokenizer bounds violated for doc $id")
      assert(r.getLong(4) === nc * 100 / bpe)
    }
    // the learned merges actually fired: the corpus compresses vs chars
    assert(got.map(_.getLong(2)).sum < got.map(_.getLong(3)).sum,
      "BPE encoding should need fewer symbols than characters")
  }

  test("t40 bigram LM matches an in-memory reference") {
    // Reference: the same Laplace-smoothed floor-log2 surprisal computed
    // serially over STRING keys (the query counts by 56-bit hash — a
    // collision would diverge here, so this doubles as a collision
    // canary at this scale). Docs with < 2 tokens have no transition and
    // must be absent on both sides.
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val uni = scala.collection.mutable.HashMap[String, Long]().withDefaultValue(0L)
    docs.foreach(_._2.foreach(t => uni(t) += 1))
    val v = uni.size.toLong
    val bi = scala.collection.mutable.HashMap[(String, String), Long]().withDefaultValue(0L)
    docs.foreach { case (_, ts) =>
      (0 until ts.length - 1).foreach(i => bi((ts(i), ts(i + 1))) += 1)
    }
    def lg(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
    val expect = docs.filter(_._2.length >= 2).map { case (id, ts) =>
      val bits = (0 until ts.length - 1).map { i =>
        lg(uni(ts(i)) + v) - lg(bi((ts(i), ts(i + 1))) + 1)
      }
      id -> ((ts.length - 1).toLong, bits.sum)
    }.toMap
    val got = graft.queries.TextOps.t40BigramLm(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val id = r.getLong(0)
      assert((r.getLong(1), r.getLong(2)) === expect(id), s"doc $id diverges")
      assert(r.getLong(3) === r.getLong(2) * 100 / r.getLong(1))
    }
  }

  test("t41 domain matrix: in-domain entropy strictly dominates every cross-domain cell") {
    // The property that makes the matrix a usable domain-similarity
    // signal: for every eval source the diagonal (model trained on the
    // same source) must score STRICTLY below every off-diagonal cell —
    // if it didn't on a corpus with genuinely distinct sources, the
    // smoothing or the count plumbing is broken. Surprisal must also be
    // non-negative by the f2 ≤ f1 argument in the scaladoc.
    val rows = graft.queries.TextOps.t41DomainXent(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(4)))
    val srcs = rows.map(_._2).distinct
    assert(srcs.length >= 2,
      s"degenerate fixture: need >= 2 sources for off-diagonal cells, got $srcs")
    assert(rows.length === srcs.length * srcs.length, "full matrix expected")
    assert(rows.forall(_._3 >= 0L), "surprisal must be non-negative")
    srcs.foreach { e =>
      val diag = rows.collectFirst { case (t, ev, m) if t == e && ev == e => m }.get
      val minOff = rows.collect { case (t, ev, m) if ev == e && t != e => m }.min
      assert(diag < minOff,
        s"eval $e: in-domain $diag must beat best cross-domain $minOff")
    }
  }

  test("q179 Morton expression equals a bitwise reference; layouts contrast as theory says") {
    def ref(xs: Long, ys: Long): Long = {
      var z = 0L
      (0 until 16).foreach { i =>
        z |= ((xs >> i) & 1L) << (2 * i)
        z |= ((ys >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val pairs = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L),
      (43690L, 21845L), (12345L, 54321L), (32768L, 1L))
    val vals = pairs.map { case (a, b) =>
      s"(cast($a as bigint), cast($b as bigint))" }.mkString(", ")
    val got = spark.sql(
      s"SELECT ${graft.queries.Extras.mortonTerms("x", "y", "div")} AS z " +
        s"FROM VALUES $vals AS t(x, y)").collect().map(_.getLong(0))
    assert(got.toSeq === pairs.map((ref _).tupled),
      "the generated div/% spelling must equal true bit interleaving")
    // Layout geometry: an x-sorted layout prunes x only (its buckets span
    // ~the full y range); the 64-cell z-order grid is 8×8, so BOTH
    // per-bucket extents are cell-bounded at 8192/65536 = 1250 bp.
    val m = graft.queries.Extras.q179LayoutCompare(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (xb, xr, xx, xy) = m("xsort")
    val (zb, zr, zx, zy) = m("zorder")
    assert(xr === zr, "both layouts must account for every fact row")
    assert(xb <= 64 && zb <= 64)
    assert(xx < 500, s"x-sorted buckets must have tiny x extents, got $xx bp")
    assert(xy > 8000, s"x-sorted buckets should span ~the full y range, got $xy bp")
    assert(zx <= 1250 && zy <= 1250,
      s"z-order extents are cell-bounded at 1250 bp, got ($zx, $zy)")
    assert(zy < xy / 2, "the curve must beat single-key sort on the second dimension")
  }

  test("q180 Hilbert transform: exhaustively bijective + jump-free; hilbert beats zorder") {
    // The 4-level instantiation of the SAME generator enumerated over the
    // full 16×16 grid: the two properties below CHARACTERIZE a Hilbert
    // curve and are exactly what q180 monetizes — (1) bijectivity onto
    // 0..255 (it is a total ordering of the cells), (2) consecutive curve
    // positions are Manhattan-adjacent cells (no jumps — z-order fails
    // this at every quadrant boundary).
    val grid = spark.range(256)
      .selectExpr("cast(id div 16 as bigint) as xs", "cast(id % 16 as bigint) as ys")
    val got = graft.queries.Extras.hilbertD(grid, 4)
      .collect().map(r => (r.getLong(2), (r.getLong(0), r.getLong(1)))).toMap
    assert(got.keySet === (0L until 256L).toSet, "must be bijective onto 0..255")
    // The hilbert_index codegen expression (q180's actual hot path) must
    // agree with the relational reference chain cell-for-cell — at the
    // enumerable 4 levels and at q180's production 16 levels (where the
    // grid coordinates land in distinct top-level quadrant paths).
    // Compared driver-side: a `filter(hd_e <> hd)` would push the
    // predicate through all 32 reference projections, and each level's
    // alias substitution multiplies the predicate tree ~4x — 4^16 nodes.
    for ((lv, g) <- Seq(
        4 -> grid,
        16 -> grid.selectExpr("xs * 4099 % 65536 as xs", "ys * 4099 % 65536 as ys"))) {
      val rows = graft.queries.Extras.hilbertD(g, lv)
        .withColumn("hd_e",
          org.apache.spark.sql.functions.expr(s"hilbert_index(xs, ys, $lv)"))
        .collect()
      rows.foreach { r =>
        assert(r.getLong(3) === r.getLong(2),
          s"hilbert_index($lv) diverges from the hilbertD reference at " +
            s"(${r.getLong(0)}, ${r.getLong(1)})")
      }
    }
    (0L until 255L).foreach { dd =>
      val ((x1, y1), (x2, y2)) = (got(dd), got(dd + 1))
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"curve jump between d=$dd and ${dd + 1}: ($x1,$y1) -> ($x2,$y2)")
    }
    // The 16-level audit on real data: the jump-free curve must yield
    // strictly tighter summed zone-map extents than Morton under the
    // off-grid segment count (see HilbertSegments scaladoc).
    val m = graft.queries.Extras.q180HilbertCurve(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (hb, hr, hx, hy) = m("hilbert")
    val (zb, zr, zx, zy) = m("zorder")
    assert(hr === zr, "both curves must account for every fact row")
    assert(hb <= graft.queries.Extras.HilbertSegments.toLong &&
           zb <= graft.queries.Extras.HilbertSegments.toLong)
    assert(hx >= 0 && hy >= 0 && zx >= 0 && zy >= 0)
    assert(hx + hy < zx + zy,
      s"hilbert total extent ($hx+$hy) must beat zorder ($zx+$zy)")
  }

  test("q121 precondition (integral weights) + buffered weighted-median reference") {
    import org.apache.spark.sql.functions._
    val rows = graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    // the bigint cast in q121 is lossless only while quantities are integral
    rows.foreach { case (_, _, q) =>
      assert(q == math.floor(q), s"non-integral quantity $q — q121's weight cast truncates")
    }
    val want = rows.groupBy(_._1).map { case (k, kvs) =>
      val byV = kvs.groupBy(_._2).map { case (v, g) => (v, g.map(_._3.toLong).sum) }
        .toSeq.sortBy(_._1)
      val tw = byV.map(_._2).sum
      val r = (tw + 1) / 2
      var cum = 0L
      val med = byV.find { case (_, w) => { cum += w; cum >= r } }.get._1
      k -> (tw, med)
    }
    val got = graft.queries.Extended.q121WeightedMedian(spark, sf).collect()
    assert(got.length === want.size)
    got.foreach { r =>
      val (tw, med) = want(r.getString(0))
      assert(r.getLong(1) === tw)
      assert(r.getDouble(2) === med, s"weighted median diverges for ${r.getString(0)}")
    }
  }

  test("q124 equi-depth bins agree with builtin percentile_disc boundaries") {
    // Recompute the quartile boundaries with the builtin aggregate (fine
    // in a test, never on the benched path) and re-derive every bin with
    // the same strict-> comparison; the histogram-selection machinery must
    // reproduce it bin-for-bin, count-for-count.
    import org.apache.spark.sql.functions._
    val got = graft.queries.Extended.q124EquidepthBins(spark, sf).collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    val li = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("k"), col("l_extendedprice").as("v"))
    val bounds = li.groupBy("k").agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY v)").as("b25"),
      expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY v)").as("b50"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY v)").as("b75"))
    val want = li.join(bounds, "k")
      .withColumn("bin",
        expr("1 + IF(v > b25, 1, 0) + IF(v > b50, 1, 0) + IF(v > b75, 1, 0)"))
      .groupBy("k", "bin")
      .agg(count(lit(1)).as("n_rows"),
           sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
             .cast(org.apache.spark.sql.types.DecimalType(18, 2))
             .cast("double").as("sum_v"))
      .collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got === want, s"got $got\nwant $want")
  }

  test("q80 builtin percentile_disc equals the relational prefix-sum leg") {
    // The builtin is an ImperativeAggregate (buffers a whole group per
    // task) so it must never run in the benched query — but its semantics
    // must keep matching the relational spelling exactly. Bit-for-bit
    // equality, all three groups, all three quantiles.
    val rel = graft.queries.Extended.q80PercentileDisc(spark, sf).collect()
    val blt = graft.queries.Extended.q80BuiltinTwin(spark, sf).collect()
    assert(rel.length === blt.length)
    rel.zip(blt).foreach { case (r, b) =>
      assert(r.getString(0) === b.getString(0))
      (1 to 3).foreach { i =>
        assert(r.getDouble(i) === b.getDouble(i),
          s"quantile col $i diverges for key ${r.getString(0)}")
      }
    }
  }

  test("q117 histogram percentile_cont equals the builtin aggregate") {
    // Spark's builtin percentile_cont is the same ImperativeAggregate
    // shape as percentile_disc (whole group buffered in one task), so it
    // never runs in the benched query — but it is the semantic reference.
    // Tolerance, not bit-equality: the builtin derives its interpolation
    // fraction from the FLOAT position q*(n-1) while q117 keeps it exact
    // integer ((n-1)*num mod den)/den, and e.g. 0.9*(n-1) can round to a
    // different last ulp than 9*(n-1) div 10 + 9/10 — same q74/q76
    // 1e-6-relative discipline.
    import org.apache.spark.sql.functions._
    val rel = graft.queries.Extended.q117PercentileCont(spark, sf).collect()
    val blt = graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("k"), col("l_quantity").as("v"))
      .groupBy("k").agg(
        expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY v)").as("p25c"),
        expr("percentile_cont(0.50) WITHIN GROUP (ORDER BY v)").as("p50c"),
        expr("percentile_cont(0.90) WITHIN GROUP (ORDER BY v)").as("p90c"))
      .orderBy("k").collect()
    assert(rel.length === blt.length)
    rel.zip(blt).foreach { case (r, b) =>
      assert(r.getString(0) === b.getString(0))
      (1 to 3).foreach { i =>
        val (x, y) = (r.getDouble(i), b.getDouble(i))
        assert(math.abs(x - y) <= 1e-6 * math.max(1.0, math.abs(y)),
          s"quantile col $i diverges for key ${r.getString(0)}: $x vs $y")
      }
    }
  }

  test("q119 histogram MAD equals the buffered-sort reference") {
    // Reference: exact in-memory median-of-deviations per key, computed
    // with plain Scala sorting — the semantics q119's two-level histogram
    // selection must reproduce without ever buffering a group.
    import org.apache.spark.sql.functions._
    val rows = graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    def medianDisc(vs: Seq[Double]): Double = {
      val sorted = vs.sorted
      sorted(((vs.size + 1) / 2) - 1)
    }
    val want = rows.groupBy(_._1).map { case (k, kvs) =>
      val vs = kvs.map(_._2)
      val med = medianDisc(vs)
      k -> (med, medianDisc(vs.map(v => math.abs(v - med))))
    }
    val got = graft.queries.Extended.q119Mad(spark, sf).collect()
    assert(got.length === want.size)
    got.foreach { r =>
      val (med, mad) = want(r.getString(0))
      assert(r.getDouble(1) === med, s"median diverges for ${r.getString(0)}")
      assert(r.getDouble(2) === mad, s"MAD diverges for ${r.getString(0)}")
    }
  }

  test("rankSelect: both inputs pick the brute-force order statistic") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.queries.Extended.{histogramSelect, rankSelect}
    // Key a spans [0, 1024], so each value's bucket is its floor: the tied
    // 5.0s sit on the edge of bucket 5, and their ranks run on from bucket
    // 4's 4.5. Key b holds one value (hi == lo puts every row in bucket 0).
    val planted = Seq(
      ("a", 0.0, 4L), ("a", 4.5, 2L), ("a", 5.0, 1L), ("a", 5.0, 2L),
      ("a", 5.0, 3L), ("a", 5.5, 1L), ("a", 1024.0, 1L),
      ("b", 7.0, 1L), ("b", 7.0, 1L), ("b", 7.0, 2L), ("b", 7.0, 3L))
    val rows = planted.toDF("k", "v", "wt")
    // every rank from 1 to the key's total n, and one past it (null)
    def everyRank(rows: DataFrame): DataFrame = rows
      .withColumn("r", explode(sequence(lit(1L), col("n") + 1)))
      .withColumn("tag", concat(lit("r"), col("r")))
    def brute(weighted: Boolean): Map[(String, String), (Option[Double], Long)] =
      planted.groupBy(_._1).toSeq.flatMap { case (k, kr) =>
        val byV = kr.map { case (_, v, wt) => (v, if (weighted) wt else 1L) }
          .sortBy(_._1)
        val cums = byV.scanLeft(0L)(_ + _._2).tail
        (1L to cums.last + 1).map { r =>
          val pick = byV.zip(cums).collectFirst { case ((v, _), c) if c >= r => v }
          val below = byV.filter(p => pick.forall(p._1 < _)).map(_._2).sum
          (k, s"r$r") -> (pick, below)
        }
      }.toMap
    def picked(df: DataFrame, k: Option[String] = None) = df.collect().map { r =>
      (k.getOrElse(r.getAs[String]("k")), r.getAs[String]("tag")) ->
        Option(r.getAs[java.lang.Double]("v")).map(_.doubleValue)
    }.toMap
    for (weighted <- Seq(true, false)) {
      val want = brute(weighted)
      val dist = rows.groupBy("k", "v")
        .agg((if (weighted) sum("wt") else count(lit(1))).as("w"))
      val bounded = rankSelect(dist, Seq("k"), "v", "w")(everyRank)
      val viaHist =
        histogramSelect(rows, if (weighted) Some("wt") else None)(everyRank)
      val distA = dist.where($"k" === "a").drop("k")
      val keyless = rankSelect(distA, Nil, "v", "w") { rows =>
        everyRank(rows.crossJoin(distA.agg(sum("w").as("n"))))
      }
      assert(picked(bounded) === want.map { case (t, (v, _)) => t -> v },
        s"bounded input, weighted = $weighted")
      assert(bounded.collect().map(r =>
          (r.getAs[String]("k"), r.getAs[String]("tag")) -> r.getAs[Long]("below")).toMap
        === want.map { case (t, (_, below)) => t -> below },
        s"weight below the pick, weighted = $weighted")
      assert(picked(viaHist) === want.map { case (t, (v, _)) => t -> v },
        s"histogram input, weighted = $weighted")
      assert(picked(keyless, Some("a")) ===
        want.collect { case (t @ ("a", _), (v, _)) => t -> v },
        s"keyless pick, weighted = $weighted")
    }
  }

  test("x15 owns its cache lifecycle: value/cum caches released at query end") {
    spark.catalog.clearCache()
    val rows = graft.queries.Extended.x15AccuracySweep(spark, sf).collect()
    assert(rows.length === 3)
    assert(spark.sharedState.cacheManager.isEmpty,
      "x15 left cached plans behind after its 3-row report materialized")
  }
}
