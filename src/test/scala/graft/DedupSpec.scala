package graft

import java.nio.file.Files
import graft.queries.{Dedup, TextOps}
import graft.functions.TextHash

/** Dedup-suite semantics on constructed fixtures: the sf tables have no
  * true near-duplicates (all 500 texts distinct, diffuse), so detection
  * behavior is proven here with planted dups.
  */
class DedupSpec extends SparkSpec {

  test("d25 URL canonicalizer: goldens + idempotence on adversarial inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    // Shapes the planted fixture never produces — stacked www, doubled
    // trailing slashes, fragment-only, query+slash interplay, no scheme,
    // www-lookalike hosts. Goldens are the intended canonical identity.
    val goldens = Seq(
      "https://www.x.com/"            -> "x.com",
      "http://x.com?a=1#f"            -> "x.com",
      "x.com/"                        -> "x.com",
      "http://wwwx.com"               -> "wwwx.com",
      "https://www.www.x.com/p//"     -> "x.com/p",
      "https://x.com/p/?utm_source=t" -> "x.com/p",
      "http://x.com/#frag"            -> "x.com",
      "www.x.com/a/b/"                -> "x.com/a/b",
      "https://x.com///"              -> "x.com")
    val got = goldens.map(_._1).toDF("url")
      .withColumn("canon", expr(Dedup.UrlCanonExpr))
      .withColumn("twice",
        expr(Dedup.UrlCanonExpr.replace("url,", "canon,")))
      .collect()
    got.zip(goldens).foreach { case (r, (in, want)) =>
      assert(r.getString(1) === want, s"canon($in)")
      assert(r.getString(2) === r.getString(1), s"idempotence at $in")
    }
  }

  /** Write a documents.parquet fixture so the Q(spark, dir) contract runs
    * unchanged against planted data.
    */
  private def docsDir(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("docs_fixture").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the green hills tonight"
  private val nearDup = base.replace("tonight", "today") // 1-token edit
  private val distinct1 =
    "spark shuffles partition data across the cluster while catalyst optimizes the logical plan tree"
  private val distinct2 =
    "minhash signatures estimate jaccard similarity between shingle sets without pairwise comparison cost"

  test("d20 simhash banding equals brute-force Hamming pairs (pigeonhole completeness)") {
    // The 4x8 banding is COMPLETE for Hamming <= 3 (some band must match);
    // prove it empirically: the banded join's output equals the all-pairs
    // popcount filter on the same fingerprints, over the full sf corpus.
    import org.apache.spark.sql.functions._
    val banded = Dedup.d20SimhashHamming(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ph = Dedup.d02Simhash(spark, sf)
    val a = ph.select(col("doc_id").as("d1"), col("simhash").as("h1"))
    val b = ph.select(col("doc_id").as("d2"), col("simhash").as("h2"))
    val brute = a.crossJoin(b).where(col("d1") < col("d2"))
      .withColumn("ham", expr("cast(bit_count(h1 ^ h2) as int)"))
      .where(col("ham") <= Dedup.SimhashMaxHam)
      .select("d1", "d2", "ham")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === brute, s"banded ${banded.size} vs brute ${brute.size}")
  }

  test("d20 planted near-identical doc pairs with its simhash neighbor") {
    // One token swapped out of 17 flips few fingerprint bits; the planted
    // pair must surface while the two distinct docs stay unpaired with it.
    val dir = docsDir(Seq(base, nearDup, distinct1, distinct2))
    val pairs = Dedup.d20SimhashHamming(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)), s"expected (0,1) in ${pairs.toSeq}")
    assert(!pairs.exists { case (x, y) => x >= 2 || y >= 2 },
      s"distinct docs must not pair: ${pairs.toSeq}")
  }

  test("d30 audit flags fire on a planted chained path and a weak edge") {
    import spark.implicits._
    // cluster 100: a 3-doc PATH (1-2, 2-3, no 1-3) -> 2 pairs < 3 clique
    // pairs => chained, with one edge at 31% => weak_link too.
    // cluster 200: a clean 2-doc clique at 93% => neither flag.
    // cluster 300: two docs, ZERO scored edges (an arbitrary external
    // cluster table) — must surface as maximally chained, never drop.
    val clusters = Seq((1L, 100L), (2L, 100L), (3L, 100L),
                       (10L, 200L), (11L, 200L),
                       (20L, 300L), (21L, 300L), (99L, 99L)) // 99: singleton
      .toDF("doc_id", "cluster")
    val scored = Seq((1L, 2L, 81L), (2L, 3L, 31L), (10L, 11L, 93L))
      .toDF("d1", "d2", "est_pct")
    val rows = Dedup.d30AuditOf(clusters, scored)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        r.getBoolean(6), r.getBoolean(7)))
    assert(rows.toSeq === Seq(
      (100L, 3L, 3L, 2L, 31L, 5600L, true, true),
      (200L, 2L, 1L, 1L, 93L, 9300L, false, false),
      (300L, 2L, 1L, 0L, -1L, -1L, true, false)),
      s"audit rows: ${rows.mkString(", ")}")
  }

  test("d12 SNM tie-break: tied and prefix names rank by (nm, id), stable under partitioning") {
    import spark.implicits._
    // Names with genuine ties ("ann" x3), a prefix relation ("ann" vs
    // "anna" — where a bare name+id concat without a separator would
    // mis-order), and ids deliberately out of name order.
    val recs = Seq(
      (7L, "ann"), (2L, "ann"), (5L, "ann"),
      (1L, "anna"), (9L, "bob"), (3L, "bob"), (8L, "zed"))
    def run(parts: Int) = Dedup.snmCandidates(
        recs.toDF("id", "nm").repartition(parts))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSeq
    // Brute-force reference: rank = position in the total (nm, id) order,
    // candidates = every pair within SnmWindow positions.
    val ordered = recs.sortBy { case (id, nm) => (nm, id) }
    val want = for {
      i <- ordered.indices; j <- ordered.indices
      if j > i && j - i <= Dedup.SnmWindow
    } yield (ordered(i)._1, ordered(j)._1, (i + 1).toLong, (j + 1).toLong,
      levenshteinRef(ordered(i)._2, ordered(j)._2))
    val one = run(1)
    assert(one === want, s"got $one")
    assert(run(7) === one, "result must not depend on input partitioning")
  }

  /** Plain DP Levenshtein for the d12 reference. */
  private def levenshteinRef(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("d01 MinHash LSH finds planted near-dup, skips distinct docs") {
    val dir = docsDir(Seq(base, nearDup, distinct1, distinct2))
    val pairs = Dedup.d01MinhashLsh(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)), s"expected (0,1) in ${pairs.toSeq}")
    assert(!pairs.exists { case (a, b) => a >= 2 || b >= 2 })
  }

  test("exact dedup q32: duplicate text collapses to min doc_id") {
    val dir = docsDir(Seq(base, base, distinct1))
    val out = Dedup.q32DedupExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(0L -> 2L, 2L -> 1L)) // doc 0 survives with 2 copies
  }

  test("q32 idempotence: dedup of dedup output is a no-op") {
    val dir = docsDir(Seq(base, base, nearDup, distinct1))
    val once = Dedup.q32DedupExact(spark, dir).count()
    // re-materialize the dedup'd corpus and dedup again
    val dir2 = Files.createTempDirectory("docs_fixture2").toString
    Dedup.q32DedupExact(spark, dir)
      .join(Tables.documents(spark, dir), "doc_id")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir2/documents.parquet")
    assert(Dedup.q32DedupExact(spark, dir2).count() === once)
  }

  test("d02 SimHash: near-dups land within small Hamming distance") {
    val dir = docsDir(Seq(base, nearDup, distinct1, distinct2))
    val sh = Dedup.d02Simhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(1L)) <= 6,
      s"near-dup hamming ${hamming(sh(0L), sh(1L))}")
    assert(hamming(sh(0L), sh(2L)) > hamming(sh(0L), sh(1L)))
  }

  test("d03 n-gram Jaccard: planted pair passes threshold with sane counts") {
    val dir = docsDir(Seq(base, nearDup, distinct1, distinct2))
    val rows = Dedup.d03NgramJaccard(spark, dir).collect()
    val pair = rows.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(pair.isDefined, s"expected (0,1) in ${rows.toSeq}")
    val (inter, na, nb) =
      (pair.get.getLong(2), pair.get.getLong(3), pair.get.getLong(4))
    assert(inter > 0 && inter <= math.min(na, nb))
    // planted pair differs by one token => differs by <= 2 bigrams
    assert(na - inter <= 2 && nb - inter <= 2)
  }

  test("d05/d06: planted near-dup pair clusters to min doc_id; survivors keep it") {
    val dir = docsDir(Seq(base, nearDup, distinct1, distinct2))
    val clusters = Dedup.d05DedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(clusters === Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L))
    val survivors = Dedup.d06DedupSurvivors(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(survivors === Map(0L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("t30 span removal merges overlapping dup windows and stitches the remainder") {
    // 100-char shared prefix: windows p=1,21,41 (60-char, stride 20) sit
    // fully inside it on BOTH docs at the same offsets → cross-doc dups;
    // p=61 reaches into the distinct tails and must not flag. The three
    // spans [1,61)∪[21,81)∪[41,101) merge to ONE island [1,101).
    val shared = ("shared prefix block " * 5).take(100)
    val a = shared + " unique continuation alpha alpha alpha"
    val b = shared + " entirely different ending beta beta"
    val c = "completely unrelated text that stays untouched by span removal here"
    val dir = docsDir(Seq(a, b, c))
    val rows = TextOps.t30SpanRemoval(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(0L).getLong(1) === 1L, "spans must merge to one island")
    assert(rows(0L).getLong(2) === 100L, "the whole shared prefix is removed")
    assert(rows(0L).getInt(3) === a.length - 100)
    assert(rows(1L).getLong(2) === 100L)
    assert(rows(1L).getInt(3) === b.length - 100)
    // untouched doc: zero spans, full length survives
    assert(rows(2L).getLong(1) === 0L && rows(2L).getLong(2) === 0L)
    assert(rows(2L).getInt(3) === c.length)
  }

  test("t30 invariant on the real corpus: clean_len + chars_removed == original length") {
    import org.apache.spark.sql.functions.{col, length}
    val d = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), length(col("text")).as("len"))
    val bad = TextOps.t30SpanRemoval(spark, d)
      .select("doc_id", "chars_removed", "clean_len")
      .join(docs, "doc_id")
      .filter(col("clean_len") + col("chars_removed") =!= col("len"))
      .count()
    assert(bad === 0L, "span removal must conserve characters exactly")
  }

  test("d23 local clustering: a planted 3-clique scores coefficient 1.0") {
    // three byte-identical docs share every band → all 3 pairs are
    // candidates → each node has deg 2, sits in 1 triangle, coefficient
    // 2·1/(2·1) = 1 (ppm 1e6); the distinct doc has no edges and no row.
    val dir = docsDir(Seq(base, base, base, distinct1))
    val rows = Dedup.d23LocalClustering(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows.keySet === Set(0L, 1L, 2L))
    rows.values.foreach { case (deg, tri, ppm) =>
      assert(deg === 2L && tri === 1L && ppm === 1000000L)
    }
  }

  test("d08 estimate: planted near-dup scores high, agree16 within [0,16]") {
    val dir = docsDir(Seq(base, nearDup, distinct1, distinct2))
    val rows = Dedup.d08MinhashEst(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getLong(3)))).toMap
    val (agree, estPct) = rows((0L, 1L))
    assert(agree >= 8 && agree <= 16, s"agree16=$agree") // planted J≈0.87
    assert(estPct == agree * 100L / 16)
  }

  test("d32 retraction fold: glue-doc retraction SPLITS the cluster, min retraction re-elects the survivor, untouched clusters carry over") {
    import spark.implicits._
    // three directed shapes in one graph:
    //  {1,2,3} chained through 2      → retracting 2 must split 1 | 3
    //  {5,6} whose min label retracts → 6 must re-elect itself
    //  {10,11,12,13}: 12 hangs off 11 → retracting 11 keeps {10,13}
    //    (edge 10-13 survives) but orphans 12 — a PARTIAL split
    //  {7} untouched singleton        → label carried over verbatim
    val docs = Seq(1L, 2L, 3L, 5L, 6L, 7L, 10L, 11L, 12L, 13L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 13L)).toDF("d1", "d2")
    val base = graft.queries.Dedup.clusterTableOf(docs, pairs).localCheckpoint()
    assert(base.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L))
    val got = graft.queries.Dedup
      .retractionFold(pairs, base, c => c.isin(2L, 5L, 11L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(1L -> 1L, 3L -> 3L, 6L -> 6L, 7L -> 7L,
      10L -> 10L, 12L -> 12L, 13L -> 10L))
    // retracting nothing is the identity on the base table
    val idem = graft.queries.Dedup
      .retractionFold(pairs, base, _ => org.apache.spark.sql.functions.lit(false))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(idem === base.collect().map(r => (r.getLong(0), r.getLong(1))).toMap)
  }

  test("d32 retraction fuzz: on seeded random graphs and slices, the fold equals the rebuild on the live subgraph") {
    import spark.implicits._
    val Dd = graft.queries.Dedup
    val rnd = new scala.util.Random(12)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val docsSeq = (1L to n.toLong)
      val pairsSeq = Seq.fill(n * 2) {
        val a = 1L + rnd.nextInt(n); val b = 1L + rnd.nextInt(n); (a, b)
      }.filter(p => p._1 != p._2)
        .map(p => (p._1 min p._2, p._1 max p._2)).distinct
      val mod = 2 + rnd.nextInt(4)
      val rem = rnd.nextInt(mod)
      val docs = docsSeq.toDF("doc_id")
      val pairs = pairsSeq.toDF("d1", "d2")
      val base = Dd.clusterTableOf(docs, pairs).localCheckpoint()
      val got = Dd.retractionFold(pairs, base, c => c % mod === rem)
      val want = Dd.clusterTableOf(
        docsSeq.filter(_ % mod != rem).toDF("doc_id"),
        pairsSeq.filter(p => p._1 % mod != rem && p._2 % mod != rem)
          .toDF("d1", "d2"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"trial $trial (n=$n, mod=$mod, rem=$rem): fold must equal the live rebuild")
    }
  }

  test("connectedComponents: chain contracts to one star on the min node") {
    import spark.implicits._
    // path 0-1-2-...-15 (diameter 15): plain min-propagation needs 15
    // rounds; large-star/small-star needs O(log n)
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("src", "dst")
    val stars = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(stars.toSeq === (1L to 15L).map(i => (i, 0L)))
  }

  test("connectedComponents: 1024-node chain converges (log-round depth)") {
    import spark.implicits._
    // diameter 1023: plain propagation would need ~1023 rounds (the round-2
    // design would silently cap); large-star/small-star contracts it in
    // ~log2 rounds, comfortably inside the 64-round bound
    val edges = (0L until 1023L).map(i => (i, i + 1)).toDF("src", "dst")
    val stars = Dedup.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(stars.length === 1023)
    assert(stars.forall(_._2 == 0L), "every node must label to the chain min")
  }

  test("connectedComponents: hitting the round cap raises, never silent") {
    import spark.implicits._
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("src", "dst")
    // verdict item 1c: an unconverged clustering must be an ERROR — the
    // round-2 spelling returned partial labels silently at the cap
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(edges, maxRounds = 1)
    }
  }

  test("t07 packing: a doc straddling the budget boundary stays in the earlier bin") {
    // policy pin: bin = tokens-before-this-doc div budget, so a document
    // that STARTS before the boundary belongs to the earlier bin even if
    // it crosses it; the next doc starts the new bin
    val big = Seq.fill(4000)("w").mkString(" ")  // 4000 tokens
    val mid = Seq.fill(200)("m").mkString(" ")   // starts at 4000 < 4096
    val nxt = Seq.fill(10)("n").mkString(" ")    // starts at 4200 >= 4096
    val dir = docsDir(Seq(big, mid, nxt))
    val bins = TextOps.t07SeqPacking(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
    assert(bins === Map(0L -> 0L, 1L -> 0L, 2L -> 1L), s"got $bins")
  }

  test("t10 decontamination flags only docs sharing a shingle with the benchmark") {
    // docs 0-4 are the "benchmark"; doc 5 copies a 3-gram from doc 0,
    // doc 6 shares nothing
    val bench = (0 until 5).map(i =>
      s"bench document number$i alpha$i beta$i gamma$i delta$i epsilon$i")
    val contaminated = "totally new text then number0 alpha0 beta0 appears here"
    val clean = "completely unrelated words with no overlapping trigram at all"
    val dir = docsDir(bench ++ Seq(contaminated, clean))
    val flagged = TextOps.t10Decontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(flagged.contains(5L), s"planted contamination missed: $flagged")
    assert(!flagged.contains(6L), s"clean doc falsely flagged: $flagged")
  }

  test("t04 fingerprint: exact dups share fingerprint, distinct docs don't") {
    val dir = docsDir(Seq(base, base, distinct1))
    val fp = TextOps.t04Fingerprint(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) === fp(1L))
    assert(fp(0L) !== fp(2L))
  }

  test("MinHash signature estimates Jaccard within additive 0.35 (16 perms)") {
    val dir = docsDir(Seq(base, nearDup))
    val sig = Dedup.minhashSignatures(Tables.documents(spark, dir))
      .collect().map(r => r.getLong(0) ->
        (0 until TextHash.NumHashes).map(i => r.getLong(i + 1))).toMap
    val agree = sig(0L).zip(sig(1L)).count { case (a, b) => a == b }
    val est = agree.toDouble / TextHash.NumHashes
    // exact shingle Jaccard of the planted pair
    def shingles(t: String) =
      t.split(" ").sliding(TextHash.MinhashShingleK).map(_.mkString(" ")).toSet
    val (sa, sb) = (shingles(base), shingles(nearDup))
    val exact = (sa & sb).size.toDouble / (sa | sb).size
    assert(math.abs(est - exact) <= 0.35, s"est $est vs exact $exact")
  }

  test("t17 line dedup: matches a naive reference model and is a fixed point") {
    // corpus with planted cross-doc duplicate lines: each "line" is a
    // 10-token chunk (TextOps.LineTokens), so docs are built from 10-token
    // blocks, some shared across docs
    def block(tag: String): String = (1 to 10).map(i => s"$tag$i").mkString(" ")
    val shared1 = block("sa"); val shared2 = block("sb")
    val texts = Seq(
      s"$shared1 ${block("u0")}",            // doc 0: first owner of shared1
      s"${block("u1")} $shared1 $shared2",   // doc 1: shared1 dup; first shared2
      s"$shared2 ${block("u2")} $shared1",   // doc 2: both dups
      block("u3"))                           // doc 3: all unique
    val dir = docsDir(texts)

    // naive single-threaded reference model of the keep policy
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def hash56(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(14), 16)
    val lines = texts.zipWithIndex.flatMap { case (t, doc) =>
      t.split(" ").grouped(10).zipWithIndex
        .map { case (toks, idx) => (doc.toLong, idx, toks.mkString(" ")) }.toSeq
    }
    val firstK = lines.groupBy(l => hash56(l._3))
      .map { case (h, ls) => h -> ls.map(l => l._1 * 1000000L + l._2).min }
    val expected = lines.groupBy(_._1).map { case (doc, ls) =>
      val kept = ls.filter(l => firstK(hash56(l._3)) == l._1 * 1000000L + l._2)
      (doc, ls.size.toLong, kept.size.toLong,
       hash56(kept.sortBy(_._2).map(_._3).mkString(" ")))
    }.toSeq.sortBy(_._1)

    val got = graft.queries.TextOps.t17LineDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected, s"distributed result diverged from the reference model")

    // fixed point: rebuild the corpus from the kept lines and re-run — no
    // cross-doc duplicate lines can remain (every line is its own first
    // occurrence), so n_kept == n_lines everywhere
    val rebuilt = lines.groupBy(_._1).toSeq.map { case (doc, ls) =>
      val kept = ls.filter(l => firstK(hash56(l._3)) == l._1 * 1000000L + l._2)
        .sortBy(_._2).map(_._3).mkString(" ")
      (doc, if (kept.isEmpty) "placeholder" else kept)
    }.sortBy(_._1).map(_._2)
    val dir2 = docsDir(rebuilt)
    val round2 = graft.queries.TextOps.t17LineDedup(spark, dir2).collect()
    round2.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"doc ${r.getLong(0)}: dedup is not a fixed point ($r)")
    }
  }

  test("p04 incremental dedup: exact/near/new verdicts with exact-over-near precedence") {
    import spark.implicits._
    val dir = Files.createTempDirectory("incr_fixture").toString
    // delta = doc_id % 5 == 0 -> ids 0, 5, 10; the rest is the base corpus.
    // 0 is an exact twin of base doc 1 (and thus also a band-sharing near
    // candidate -> exact must WIN the precedence); 5 is a one-token edit of
    // base doc 6; 10 shares nothing.
    val texts = (0 until 15).map {
      case 0 | 1 => base
      case 5 => distinct1.replace("tree", "graph")
      case 6 => distinct1
      case 10 => "entirely fresh delta content never seen in the base corpus today"
      case i => s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g"
    }
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val rows = Dedup.p04IncrementalDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getString(3))).toMap
    assert(rows.keySet === Set(0L, 5L, 10L), "only delta docs are judged")
    assert(rows(0L)._3 === "exact_dup", s"got ${rows(0L)}")
    assert(rows(0L)._1 >= 1, "the exact twin must also surface as a band candidate")
    assert(rows(5L)._3 === "near_dup", s"got ${rows(5L)}")
    assert(rows(5L)._2 >= Dedup.IncrMinAgree && rows(5L)._2 < 16,
      s"near (not exact) agreement expected: ${rows(5L)}")
    assert(rows(10L) === ((0L, 0, "new")), s"got ${rows(10L)}")
  }

  test("p04 written-index round-trip: parquet-read index tables give identical verdicts") {
    // The production contract p04's docstring promises (round-5 verdict
    // item 3): the base's hash/signature/band tables are WRITTEN parquet
    // outputs of the last full pass, bucketed on their probe keys, and the
    // incremental job reads them back. Write -> read-back -> verdicts must
    // equal the inline-rebuilt ones bit-for-bit, on the real sf corpus.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val base = docs.filter(col("doc_id") % 5 > 0)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val (hashes, bands, sigs) = Dedup.baseIndexTables(base)
    val dir = Files.createTempDirectory("graft_base_index").toString
    // The hash and band tables are written BUCKETED on their probe keys
    // (saveAsTable — bucket metadata lives in the catalog), exactly the
    // layout a nightly pass leaves so the incremental probe join can be
    // bucket-local; the signature table is a plain point-lookup side.
    hashes.write.bucketBy(8, "th").sortBy("th")
      .option("path", s"$dir/hashes").mode("overwrite")
      .saveAsTable("p04_rt_hashes")
    bands.write.bucketBy(8, "band_key").sortBy("band_key")
      .option("path", s"$dir/bands").mode("overwrite")
      .saveAsTable("p04_rt_bands")
    sigs.write.mode("overwrite").parquet(s"$dir/sigs")
    try {
      val inline = Dedup.incrementalVerdicts(delta, hashes, bands, sigs)
        .collect().toSeq
      val readBack = Dedup.incrementalVerdicts(delta,
        spark.table("p04_rt_hashes"),
        spark.table("p04_rt_bands"),
        spark.read.parquet(s"$dir/sigs"))
        .collect().toSeq
      assert(inline.nonEmpty, "sf corpus must yield delta verdicts")
      assert(readBack === inline,
        "read-back index tables must reproduce the inline verdicts exactly")
      // s13's streaming ingest dedup shares the hash table: the anti-join
      // survivor set against the read-back index equals the inline one.
      val s13Inline = graft.streaming.StreamOps
        .s13IngestDedup(delta, hashes.select("th"))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val s13ReadBack = graft.streaming.StreamOps
        .s13IngestDedup(delta, spark.table("p04_rt_hashes").select("th"))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(s13ReadBack === s13Inline)
    } finally {
      spark.sql("DROP TABLE IF EXISTS p04_rt_hashes")
      spark.sql("DROP TABLE IF EXISTS p04_rt_bands")
    }
  }

  test("p03 cascade: every stage fires, in precedence order, on a planted corpus") {
    import spark.implicits._
    val dir = Files.createTempDirectory("cascade_fixture").toString
    // 18 docs: 0,1 exact twins; 4,5 a near-dup pair; the rest unique
    val near1 = distinct1
    val near2 = distinct1.replace("tree", "graph")
    val texts = (0 until 18).map {
      case 0 | 1 => base
      case 4 => near1
      case 5 => near2
      case i => s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"
    }
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings: one-hot basis for 0..15 (each its own IVF centroid);
    // 16 and 17 lean on centroid 3 -> same cluster as surviving doc 3,
    // cos ~0.98 >= SemDedupCos -> dropped by the semantic stage
    def vec(hot: Int, extra: Option[Int]): Array[Float] = {
      val v = new Array[Float](64)
      v(hot) = 0.5f
      extra.foreach(p => v(p) = 0.1f)
      v
    }
    (0 until 18).map {
      case 16 => (16L, vec(3, Some(20)), 0)
      case 17 => (17L, vec(3, Some(21)), 0)
      case i => (i.toLong, vec(i, None), 0)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val stages = Dedup.p03DedupCascade(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stages(1L) === "exact")    // twin of doc 0, exact wins precedence
    assert(stages(5L) === "minhash")  // near-dup of doc 4
    assert(stages(16L) === "semantic")
    assert(stages(17L) === "semantic")
    val kept = stages.filter(_._2 == "kept").keySet
    assert(kept === (0L until 18L).toSet -- Set(1L, 5L, 16L, 17L),
      s"got $stages")
  }

  /** Each doc's distinct width-`shingleK` shingles, (doc_id, t). */
  private def bruteShingles(docs: org.apache.spark.sql.DataFrame,
                            shingleK: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    docs
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(shingles(tokens, $shingleK))")).as("t"))
  }

  /** Ground truth for the d15 joins: brute-force exact Jaccard ≥ τ pairs
    * (d1 < d2) over the same shingle sets.
    */
  private def bruteJaccardPairs(tauPct: Int,
      docs: => org.apache.spark.sql.DataFrame = Tables.documents(spark, sf),
      shingleK: Int = graft.queries.Dedup.PrefixShingleK)
      : Set[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val tok = bruteShingles(docs, shingleK)
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    tok.select(col("doc_id").as("d1"), col("t"))
      .join(tok.select(col("doc_id").as("d2"), col("t")), Seq("t"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("na")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("nb")), Seq("d2"))
      .filter(col("inter") * 100 >= (col("na") + col("nb") - col("inter")) * tauPct)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("d15 prefix-filter join: complete vs brute force, thresholds honored") {
    import graft.queries.Dedup
    val brute = bruteJaccardPairs(Dedup.PrefixTauPct)
    val got = Dedup.d15PrefixFilterJoin(spark, sf).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet === brute)
    // every emitted pair genuinely clears the threshold
    got.foreach { r =>
      val (i, na, nb) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(i * 100 >= (na + nb - i) * Dedup.PrefixTauPct)
    }
  }

  test("d15Pairs over an index built at τ = 95 gives exactly the Jaccard ≥ 95% pairs") {
    import org.apache.spark.sql.functions._
    import graft.queries.Dedup
    // the fixture's τ = 30 pairs all score Jaccard near 90% or above, so
    // τ = 50 would select the same set; τ = 95 separates them, and a join
    // that slices or verifies at the default τ returns extra pairs
    val tauPct = 95
    val brute = bruteJaccardPairs(tauPct)
    assert(brute.nonEmpty && brute != bruteJaccardPairs(Dedup.PrefixTauPct))
    val idx = Dedup.prefixIndexOf(Tables.documents(spark, sf)
        .select(col("doc_id"), split(col("text"), " ").as("tokens")),
      tauPct, Dedup.PrefixShingleK)
    val got = try Dedup.d15Pairs(idx, tauPct).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    finally idx.unpersist()
    assert(got === brute)
  }

  test("d15Pairs separates τ = 30 from τ = 50 on a fixture scoring Jaccard 30%–89%") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.queries.Dedup
    // word 3-gram Jaccard against doc 1: 85% (doc 2), 62% (doc 3) and 36%
    // (doc 4); doc 2 scores 52% against doc 3 and 33% against doc 4, doc 3
    // 27% against doc 4, and doc 5 shares no word with any of them — so
    // the τ = 30 and τ = 50 pair sets differ by exactly (1,4) and (2,4)
    val base = (0 until 40).map(i => f"w$i%02d")
    def variant(tag: String, changed: Int*): String =
      base.indices.map(i => if (changed.contains(i)) s"$tag$i" else base(i))
        .mkString(" ")
    val docs = Seq(
      1L -> base.mkString(" "),
      2L -> variant("a", 20),
      3L -> variant("b", 5, 15, 25),
      4L -> variant("c", 3, 9, 15, 21, 27, 33),
      5L -> base.map("z" + _).mkString(" ")).toDF("doc_id", "text")
    def pairsAt(tauPct: Int): Set[(Long, Long)] = {
      val idx = Dedup.prefixIndexOf(
        docs.select(col("doc_id"), split(col("text"), " ").as("tokens")),
        tauPct, Dedup.PrefixShingleK)
      try Dedup.d15Pairs(idx, tauPct).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      finally idx.unpersist()
    }
    val (at30, at50) = (pairsAt(30), pairsAt(50))
    assert(at30 === bruteJaccardPairs(30, docs))
    assert(at50 === bruteJaccardPairs(50, docs))
    assert(at30 -- at50 === Set((1L, 4L), (2L, 4L)) && at50.nonEmpty,
      s"τ = 30: $at30, τ = 50: $at50")
  }

  /** d28's rows brute-forced per width: (k, n_pairs, vocab, mean_sz_x100). */
  private def bruteSweep(docs: org.apache.spark.sql.DataFrame)
      : Seq[(Int, Long, Long, Long)] = {
    import org.apache.spark.sql.functions._
    import graft.queries.Dedup
    Dedup.ShingleSweep.map { k =>
      val tok = bruteShingles(docs, k)
      val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        .agg(sum("sz"), count(lit(1))).head()
      (k, bruteJaccardPairs(Dedup.PrefixTauPct, docs, k).size.toLong,
        tok.select("t").distinct().count(), sizes.getLong(0) * 100 / sizes.getLong(1))
    }
  }

  private def sweepRows(dir: String): Seq[(Int, Long, Long, Long)] =
    graft.queries.Dedup.d28ShingleSweep(spark, dir).collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("d28 sweep: every width's pairs, vocabulary and mean set size equal brute force") {
    val got = sweepRows(sf)
    assert(got === bruteSweep(Tables.documents(spark, sf)))
    assert(got.exists(_._2 > 0), s"no width found a pair — the check is vacuous: $got")
  }

  test("d28 sweep: a width with no qualifying pair still reports one row with 0 pairs") {
    // 8-token docs one word apart: Jaccard 5/9 at k = 2, 3/9 at k = 3,
    // 1/9 at k = 4 — so τ = 30% pairs them at k = 2 and 3 but not at 4
    val dir = docsDir(Seq("a b c d e f g h", "a b c x e f g h",
      "p q r s t u v w"))
    val got = sweepRows(dir)
    assert(got.map(r => (r._1, r._2)) === Seq((2, 1L), (3, 1L), (4, 0L)))
    assert(got === bruteSweep(spark.read.parquet(s"$dir/documents.parquet")))
  }

  // Jobs one standalone d28 run took at sf0.001 while the sweep planned
  // one d15 index and pair join per shingle width (three of each, plus a
  // cached token frame). The keyed single pass is held to two thirds.
  private val D28JobsBefore = 61

  test("job budget: one d28 run takes at most two thirds of its former jobs") {
    val jobs = Explain.jobsOf(spark)(
      graft.queries.Dedup.d28ShingleSweep(spark, sf).collect(): Unit)
    assert(jobs <= D28JobsBefore * 2 / 3, s"d28 took $jobs jobs")
  }

  test("p06 refresh: statuses partition the delta, bins only on accepted, consistent with p04/t20") {
    import org.apache.spark.sql.functions._
    import graft.queries.{Dedup, TextOps}
    val out = Dedup.p06IncrementalRefresh(spark, sf).collect()
    val delta = Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 0).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(out.map(_.getLong(0)).toSet === delta) // every delta doc judged once
    // bins exactly on accepted rows, contiguous from 0 in doc_id order
    val binned = out.filter(!_.isNullAt(2))
    assert(binned.map(_.getString(1)).toSet === Set("accepted"))
    val bins = binned.sortBy(_.getLong(0)).map(_.getLong(2))
    assert(bins.headOption.forall(_ == 0L))
    bins.zip(bins.drop(1)).foreach { case (a, b) => assert(b >= a) }
    // status agrees with the standalone stages: p04's verdict for dups,
    // t20's gate for the rest
    val verdicts = Dedup.p04IncrementalDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val keep = TextOps.t20GopherRules(spark, sf)
      .select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    out.foreach { r =>
      val (id, st) = (r.getLong(0), r.getString(1))
      verdicts(id) match {
        case "new" => assert(st === (if (keep(id)) "accepted" else "gopher_drop"))
        case dup   => assert(st === dup)
      }
    }
  }

  test("d16 containment join: directed, complete vs brute force") {
    import org.apache.spark.sql.functions._
    import graft.queries.Dedup
    val tok = Tables.documents(spark, sf)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(shingles(tokens, ${Dedup.PrefixShingleK}))")).as("t"))
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val brute = tok.select(col("doc_id").as("d1"), col("t"))
      .join(tok.select(col("doc_id").as("d2"), col("t")), Seq("t"))
      .filter(col("d1") =!= col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("na")), Seq("d1"))
      .filter(col("inter") * 100 >= col("na") * Dedup.ContainTauPct)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.d16ContainmentJoin(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === brute)
  }

  test("d15/d16/d28 own their cache lifecycle: no per-k index survives its query") {
    import graft.queries.Dedup
    // The prefix-filter family caches per-k index frames internally; each
    // query must materialize its (small) result and unpersist the index
    // before returning — a Verify/Bench runner must not be needed to
    // reclaim the memory (round-6 verdict item 3).
    val cm = spark.sharedState.cacheManager
    for ((name, q) <- Seq(
        "d15" -> Dedup.d15PrefixFilterJoin,
        "d16" -> Dedup.d16ContainmentJoin,
        "d28" -> Dedup.d28ShingleSweep)) {
      spark.catalog.clearCache()
      // materialize fully (the corpus may legitimately yield zero pairs
      // at this SF — the lifecycle, not the cardinality, is under test)
      q(spark, sf).count()
      assert(cm.isEmpty,
        s"$name left cached plans behind after its result was materialized")
    }
  }

  test("sorted_inter_size == size(array_intersect) on sorted distinct arrays") {
    // the verify expression's contract, pinned against Spark's built-in
    // on a deterministic sweep of overlap structures (empty, disjoint,
    // subset, interleaved, identical)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(42)
    val cases = (0 until 200).map { i =>
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80).toLong).distinct.sorted
      (i, a, b)
    } ++ Seq((200, Seq.empty[Long], Seq(1L, 2L)), (201, Seq(5L), Seq(5L)))
    val mismatches = cases.toDF("i", "a", "b")
      .withColumn("got", expr("sorted_inter_size(a, b)"))
      .withColumn("want", expr("cast(size(array_intersect(a, b)) as bigint)"))
      .filter(col("got") =!= col("want")).count()
    assert(mismatches === 0L)
  }

  test("sorted_inter_size(a, b, min_req): exact at/above the bound, below-bound whenever the truth is below") {
    // the threshold-aware form's contract (r14: the d15/d16/s51 verify
    // abort): for EVERY (arrays, min_req) — including bounds the early
    // exit does and does not trip — the result must be exactly the true
    // intersection when that is >= min_req, and SOME value < min_req
    // otherwise; i.e. any filter of the shape `inter >= min_req` keeps
    // bit-identical rows vs the exact merge
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(7)
    val cases = for {
      i <- 0 until 200
      m <- Seq(0, 1, 3, 10, 25, 60)
    } yield {
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(60))(rnd.nextInt(80).toLong).distinct.sorted
      (i, a, b, m.toLong)
    }
    val bad = cases.toDF("i", "a", "b", "m")
      .withColumn("got", expr("sorted_inter_size(a, b, m)"))
      .withColumn("truth", expr("cast(size(array_intersect(a, b)) as bigint)"))
      .filter(
        // qualifying: must be exact; non-qualifying: must stay below m
        (col("truth") >= col("m") && col("got") =!= col("truth")) ||
        (col("truth") < col("m") && col("got") >= col("m")))
      .count()
    assert(bad === 0L)
  }

  test("d33 survivorship policies: completeness beats id for the rep, majority then lexicographic for the lang, singletons excluded") {
    import spark.implicits._
    // cluster 10: rep must be doc 11 (max chars, tie broken by MIN id
    // against 12), lang mode fr (2 of 3); cluster 20: full ties — rep
    // falls back to min id, lang to lexicographic min; cluster 30 is a
    // singleton and must not appear
    val mem = Seq(
      (10L, 10L, "en", "srcA", 50L),
      (10L, 11L, "fr", "srcB", 80L),
      (10L, 12L, "fr", "srcA", 80L),
      (20L, 20L, "de", "srcC", 10L),
      (20L, 21L, "it", "srcC", 10L),
      (30L, 30L, "en", "srcA", 99L))
      .toDF("cluster", "doc_id", "lang", "source", "n_chars")
    val got = graft.queries.Dedup.goldenRecordsOf(mem)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getString(6)))).toMap
    assert(got.keySet === Set(10L, 20L))
    assert(got(10L) === ((3L, 2L, 210L, 11L, 80L, "fr")))
    assert(got(20L) === ((2L, 1L, 20L, 20L, 10L, "de")))
  }
}
