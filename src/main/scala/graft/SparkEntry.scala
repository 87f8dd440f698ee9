package graft

import scala.util.matching.Regex
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Multimodal
import graft.queries.{Dedup, Extended, Extras, Relational, ScaleOps, Similarity, TextOps, UdfOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the reference's fraud pipeline shape (validity-rule filter +
    * flag filter, SURVEY §2 A7/A8) transplanted onto the sf0.001 lineitem
    * table. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .filter(
        round(col("l_extendedprice") * (lit(1) - col("l_discount")), 2) >= col("l_quantity") * 100 ||
        round(col("l_tax") + col("l_discount"), 2) >= 0.05)
      .filter(col("l_returnflag") === "R" || col("l_linestatus") === "F")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ TextOps.queries ++ Dedup.queries ++
      Similarity.queries ++ UdfOps.queries ++ Extended.queries ++
      Extras.queries ++ ScaleOps.queries ++ Multimodal.queries

  /** The queries whose name `only` matches (all when `None`), sorted by
    * name: every harness runs them in the same order.
    */
  def selected(only: Option[Regex]): Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }

  /** The m01/m14 feature oracle: every feature recomputed from the
    * content FORMULAS the real fixtures encode, including the exact
    * per-parity format-encoded length — emitted under `encCol` because
    * the two consumers name it differently (m01: the at-rest length IS
    * the encoded length → enc_bytes; m14: at rest it's deflate-wrapped,
    * so the formula length is the post-inflate raw_bytes). ONE builder so
    * the two oracles can never drift.
    */
  private def multimodalFeaturesOracle(encCol: String): String = {
    import graft.operators.Multimodal._
    val nb = PhashBits            // 32 grid cells
    val frameBytes = 12 + 3 * PpmW * PpmH // P6 header (no comment) + raster
    s"""WITH icells AS (
       |  SELECT doc_id AS media_id, c,
       |         48 + 48 * CASE WHEN c < doc_id % $PpmJitterGroup
       |                        THEN 1 - ((((doc_id // $PpmJitterGroup) * 2654435761
       |                                    + c * 40503 + 12345) >> 5) & 1)
       |                        ELSE ((((doc_id // $PpmJitterGroup) * 2654435761
       |                                + c * 40503 + 12345) >> 5) & 1)
       |                   END AS t
       |  FROM documents,
       |       (SELECT unnest(generate_series(0, ${nb - 1})) AS c) cc
       |  WHERE doc_id % 3 = 0),
       |img AS (
       |  SELECT media_id, 'image' AS kind,
       |         CAST($frameBytes + CASE WHEN media_id % 2 = 1
       |                  THEN 28 + length(CAST(media_id AS VARCHAR))
       |                  ELSE 0 END AS BIGINT) AS $encCol,
       |         CAST(${PpmW * PpmH} AS BIGINT) AS dec_bytes,
       |         CAST(SUM(4 * t) AS BIGINT) AS content_sum,
       |         CAST(1 AS BIGINT) AS units
       |  FROM icells GROUP BY media_id),
       |asamp AS (
       |  SELECT doc_id AS media_id,
       |         ((doc_id * 7919 + i * (3 + doc_id % 17)) % 2001) - 1000 AS s
       |  FROM documents,
       |       (SELECT unnest(generate_series(0, ${WavSamples - 1})) AS i) ii
       |  WHERE doc_id % 3 = 1),
       |aud AS (
       |  SELECT media_id, 'audio' AS kind,
       |         CAST(${44 + 2 * WavSamples} + CASE WHEN media_id % 2 = 1
       |                  THEN 14 ELSE 0 END AS BIGINT) AS $encCol,
       |         CAST(${2 * WavSamples} AS BIGINT) AS dec_bytes,
       |         CAST(SUM((CASE WHEN s < 0 THEN s + 65536 ELSE s END) % 256
       |                + (CASE WHEN s < 0 THEN s + 65536 ELSE s END) // 256)
       |              AS BIGINT) AS content_sum,
       |         CAST($WavSamples AS BIGINT) AS units
       |  FROM asamp GROUP BY media_id),
       |vcells AS (
       |  SELECT doc_id AS media_id, f, c,
       |         48 + 48 * CASE WHEN c < f // 2
       |                        THEN 1 - (((doc_id * 2654435761
       |                                    + c * 40503 + 12345) >> 5) & 1)
       |                        ELSE (((doc_id * 2654435761
       |                                + c * 40503 + 12345) >> 5) & 1)
       |                   END AS t
       |  FROM documents,
       |       (SELECT unnest(generate_series(0, ${ClipFrames - 1})) AS f) ff,
       |       (SELECT unnest(generate_series(0, ${nb - 1})) AS c) cc
       |  WHERE doc_id % 3 = 2),
       |vid AS (
       |  SELECT media_id, 'video' AS kind,
       |         CAST(${frameBytes * (ClipFrames - ClipFrames / 2)}
       |              + ${ClipFrames / 2} * (${frameBytes + 19}
       |                  + length(CAST(media_id AS VARCHAR)))
       |              AS BIGINT) AS $encCol,
       |         CAST(${ClipFrames * PpmW * PpmH} AS BIGINT) AS dec_bytes,
       |         CAST(SUM(4 * t) AS BIGINT) AS content_sum,
       |         CAST($ClipFrames AS BIGINT) AS units
       |  FROM vcells GROUP BY media_id)
       |SELECT * FROM img
       |UNION ALL SELECT * FROM aud
       |UNION ALL SELECT * FROM vid
       |ORDER BY media_id""".stripMargin
  }

  /** Run-boundary release: the [[RunScope]] (the memoized pair/cluster
    * and graph-ANN tables, alive ACROSS queries by design, and the query
    * scope's caches) and every other cached relation.
    */
  def releaseMemos(spark: SparkSession): Unit = {
    RunScope.release()
    spark.catalog.clearCache()
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ TextOps.oracles ++ Dedup.oracles ++
      Similarity.oracles ++ UdfOps.oracles ++ Extended.oracles ++
      Extras.oracles ++ ScaleOps.oracles ++
      Map(
        // m01: every feature recomputed from the content FORMULAS the
        // real fixtures encode (m06/m11/m12's oracle discipline), incl.
        // the exact per-parity ENCODED lengths — equality proves all
        // three real decoders (P6, RIFF/WAVE, P6-stream) ran. Constants
        // interpolated from the shared Multimodal parameters.
        "m01_multimodal_features" -> multimodalFeaturesOracle("enc_bytes"),
        // m14: the compressed-at-rest corpus reports the POST-INFLATE
        // (format-encoded) length as raw_bytes — the very per-parity
        // formula m01 pins as enc_bytes — so the oracle is m01's with
        // that one column renamed; the hash match proves inflate+parse
        // both ran (the deflate length itself is not SQL-recomputable;
        // MultimodalSpec pins the at-rest stream genuinely round-trips).
        "m14_compressed_features" -> multimodalFeaturesOracle("raw_bytes"),
        "m03_chunk_dedup" ->
          // VARCHAR substr == binary slice here: the fixture corpus is pure
          // ASCII (see Multimodal.m03ChunkDedup oracle note). The chunk
          // size is INTERPOLATED from the one shared constant so the two
          // sides can never silently desynchronize (round-5 advice).
          s"""WITH c AS (
            |  SELECT DISTINCT doc_id AS mid,
            |         md5(substr(text, s, ${Multimodal.DedupChunkBytes})) AS h
            |  FROM (SELECT doc_id, text,
            |               unnest(generate_series(1, length(text), ${Multimodal.DedupChunkBytes})) AS s
            |        FROM documents))
            |SELECT a.mid AS m1, b.mid AS m2, COUNT(1) AS n_shared
            |FROM c a JOIN c b ON a.h = b.h AND a.mid < b.mid
            |GROUP BY m1, m2 ORDER BY m1, m2""".stripMargin,
        // m07: same fixed grid + ASCII-substr equivalence + shared chunk
        // size as m03; hot = chunk hash in ≥ 2 media (dm from the same df
        // CTE shape as m04's oracle).
        "m07_tier_report" ->
          s"""WITH c AS (
             |  SELECT doc_id AS media_id,
             |         md5(substr(text, s, ${Multimodal.DedupChunkBytes})) AS h,
             |         least(length(text) - s + 1, ${Multimodal.DedupChunkBytes}) AS nb
             |  FROM (SELECT doc_id, text,
             |               unnest(generate_series(1, length(text), ${Multimodal.DedupChunkBytes})) AS s
             |        FROM documents)),
             |df AS (SELECT h, COUNT(DISTINCT media_id) AS dm FROM c GROUP BY h)
             |SELECT media_id, COUNT(1) AS n_chunks,
             |       CAST(SUM(CASE WHEN dm >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_chunks,
             |       CAST(SUM(CASE WHEN dm >= 2 THEN nb ELSE 0 END) AS BIGINT) AS hot_bytes,
             |       CAST(SUM(CASE WHEN dm < 2 THEN nb ELSE 0 END) AS BIGINT) AS cold_bytes
             |FROM c JOIN df USING (h)
             |GROUP BY media_id ORDER BY media_id""".stripMargin,
        // m15: same fixed grid + ASCII-substr equivalence + shared chunk
        // size as m03/m07; freed = chunks with zero live referrers,
        // attributed to the minimum deleted referrer; the retention slice
        // (media_id % 7 = 3) is interpolated nowhere — both sides spell
        // the same literal predicate.
        "m15_gc_report" ->
          s"""WITH slots AS (
             |  SELECT doc_id AS media_id,
             |         md5(substr(text, s, ${Multimodal.DedupChunkBytes})) AS h,
             |         least(length(text) - s + 1, ${Multimodal.DedupChunkBytes}) AS nb
             |  FROM (SELECT doc_id, text,
             |               unnest(generate_series(1, length(text), ${Multimodal.DedupChunkBytes})) AS s
             |        FROM documents)),
             |refs AS (SELECT DISTINCT media_id, h, nb FROM slots),
             |st AS (
             |  SELECT h,
             |         CAST(SUM(CASE WHEN media_id % 7 <> 3 THEN 1 ELSE 0 END) AS BIGINT) AS live_refs,
             |         MIN(CASE WHEN media_id % 7 = 3 THEN media_id END) AS min_del,
             |         MIN(nb) AS nb1
             |  FROM refs GROUP BY h),
             |pm AS (
             |  SELECT media_id, COUNT(1) AS n_slots, CAST(SUM(nb) AS BIGINT) AS slot_bytes
             |  FROM slots WHERE media_id % 7 = 3 GROUP BY media_id),
             |fr AS (
             |  SELECT min_del AS media_id, COUNT(1) AS n_freed_chunks,
             |         CAST(SUM(nb1) AS BIGINT) AS freed_bytes
             |  FROM st WHERE live_refs = 0 AND min_del IS NOT NULL GROUP BY min_del),
             |sh AS (
             |  SELECT r.media_id, COUNT(1) AS n_shared_live,
             |         CAST(SUM(r.nb) AS BIGINT) AS shared_live_bytes
             |  FROM refs r JOIN st ON st.h = r.h AND st.live_refs > 0
             |  WHERE r.media_id % 7 = 3 GROUP BY r.media_id)
             |SELECT media_id, n_slots, slot_bytes,
             |       coalesce(n_freed_chunks, 0) AS n_freed_chunks,
             |       coalesce(freed_bytes, 0) AS freed_bytes,
             |       coalesce(n_shared_live, 0) AS n_shared_live,
             |       coalesce(shared_live_bytes, 0) AS shared_live_bytes
             |FROM pm LEFT JOIN fr USING (media_id) LEFT JOIN sh USING (media_id)
             |ORDER BY media_id""".stripMargin,
        // m08: same fixed grid + ASCII-substr equivalence + shared chunk
        // size; the planted suffix is spelled identically on both sides.
        "m08_delta_sync" ->
          s"""WITH base AS (SELECT doc_id AS media_id, text AS payload FROM documents),
             |md AS (SELECT media_id,
             |              payload || ' updated rev ' || CAST(media_id AS VARCHAR) AS payload
             |       FROM base WHERE media_id % 5 = 0),
             |bc AS (SELECT DISTINCT md5(substr(payload, s, ${Multimodal.DedupChunkBytes})) AS h
             |       FROM (SELECT payload,
             |                    unnest(generate_series(1, length(payload), ${Multimodal.DedupChunkBytes})) AS s
             |             FROM base)),
             |mc AS (SELECT media_id,
             |              md5(substr(payload, s, ${Multimodal.DedupChunkBytes})) AS h,
             |              least(length(payload) - s + 1, ${Multimodal.DedupChunkBytes}) AS nb
             |       FROM (SELECT media_id, payload,
             |                    unnest(generate_series(1, length(payload), ${Multimodal.DedupChunkBytes})) AS s
             |             FROM md))
             |SELECT media_id, COUNT(1) AS n_chunks,
             |       CAST(SUM(CASE WHEN h IN (SELECT h FROM bc) THEN 1 ELSE 0 END) AS BIGINT) AS n_reused,
             |       CAST(SUM(CASE WHEN h IN (SELECT h FROM bc) THEN 0 ELSE 1 END) AS BIGINT) AS n_new,
             |       CAST(SUM(CASE WHEN h IN (SELECT h FROM bc) THEN 0 ELSE nb END) AS BIGINT) AS bytes_upload
             |FROM mc GROUP BY media_id ORDER BY media_id""".stripMargin,
        // m05: same fixed grid + ASCII-substr equivalence as m03; the
        // ordered fold is string_agg(h ORDER BY p), Spark's sorted
        // collect_list twin; chunk size interpolated from the shared
        // constant.
        "m05_manifest" ->
          s"""WITH c AS (
             |  SELECT doc_id AS media_id, s AS p,
             |         md5(substr(text, s, ${Multimodal.DedupChunkBytes})) AS h,
             |         least(length(text) - s + 1, ${Multimodal.DedupChunkBytes}) AS nb
             |  FROM (SELECT doc_id, text,
             |               unnest(generate_series(1, length(text), ${Multimodal.DedupChunkBytes})) AS s
             |        FROM documents))
             |SELECT media_id, CAST(COUNT(1) AS BIGINT) AS n_chunks,
             |       CAST(SUM(nb) AS BIGINT) AS n_bytes,
             |       ${graft.functions.TextHash.duckHash56("string_agg(h, '' ORDER BY p)")} AS manifest56
             |FROM c GROUP BY media_id ORDER BY media_id""".stripMargin,
        // m04: same window hash, boundaries, spans, and dedup profile as
        // the Spark side — window size / mask / min-pos / 31^k powers all
        // interpolated from the shared Multimodal constants; ord() on the
        // ASCII corpus equals Spark's ascii() on the byte slice.
        "m04_cdc_chunks" -> {
          val pow = graft.operators.Multimodal.CdcPow31.mkString("[", ", ", "]")
          val wb = graft.operators.Multimodal.CdcWindowBytes
          s"""WITH m AS (SELECT doc_id AS media_id, text AS payload,
             |                  length(text) AS len FROM documents),
             |bnd AS (
             |  SELECT media_id, len, pos FROM (
             |    SELECT media_id, payload, len,
             |           unnest(generate_series(1, len)) AS pos FROM m)
             |  WHERE pos >= ${graft.operators.Multimodal.CdcMinPos}
             |    AND CAST(list_sum(list_transform(generate_series(0, ${wb - 1}), k ->
             |          CASE WHEN pos - k >= 1 THEN ord(substr(payload, pos - k, 1))
             |               ELSE 0 END * $pow[k + 1])) AS BIGINT)
             |        % ${graft.operators.Multimodal.CdcMask} = 0),
             |starts AS (
             |  SELECT media_id, len, 1 AS start FROM m
             |  UNION ALL
             |  SELECT media_id, len, pos + 1 AS start FROM bnd WHERE pos < len),
             |spans AS (
             |  SELECT media_id, start,
             |         COALESCE(lead(start) OVER (PARTITION BY media_id
             |                                    ORDER BY start) - 1, len) AS fin
             |  FROM starts),
             |hashed AS (
             |  SELECT s.media_id, s.fin - s.start + 1 AS nb,
             |         md5(substr(m.payload, s.start, s.fin - s.start + 1)) AS h
             |  FROM spans s JOIN m USING (media_id)),
             |df AS (SELECT h, COUNT(DISTINCT media_id) AS dm FROM hashed GROUP BY h)
             |SELECT media_id, COUNT(1) AS n_chunks,
             |       CAST(SUM(CASE WHEN dm >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             |       CAST(SUM(nb) AS BIGINT) AS bytes_covered
             |FROM hashed JOIN df USING (h)
             |GROUP BY media_id ORDER BY media_id""".stripMargin
        },
        // m06: the oracle recomputes the aHash from the cell FORMULA the
        // PPM pixels encode (base-bit XOR nested jitter → grey target t);
        // the Spark side recovers the same t per cell only if PpmCodec
        // really parses the variable header and channel-averages +
        // downscales the raster — the hash match IS the decode proof.
        // Every constant interpolated from the shared Multimodal
        // parameters.
        "m06_phash_neardup" -> {
          val nb = graft.operators.Multimodal.PhashBits
          val bandBits = nb / graft.operators.Multimodal.PhashBands
          val grp = graft.operators.Multimodal.PpmJitterGroup
          s"""WITH cells AS (
             |  SELECT doc_id AS media_id, c,
             |         48 + 48 * CASE WHEN c < doc_id % $grp
             |                        THEN 1 - ((((doc_id // $grp) * 2654435761
             |                                    + c * 40503 + 12345) >> 5) & 1)
             |                        ELSE ((((doc_id // $grp) * 2654435761
             |                                + c * 40503 + 12345) >> 5) & 1)
             |                   END AS t
             |  FROM documents,
             |       (SELECT unnest(generate_series(0, ${nb - 1})) AS c) cc),
             |ph AS (
             |  SELECT media_id,
             |         CAST(SUM(CASE WHEN t * $nb > tot
             |                  THEN (CAST(1 AS BIGINT) << c) ELSE 0 END)
             |              AS BIGINT) AS ph
             |  FROM (SELECT media_id, c, t,
             |               SUM(t) OVER (PARTITION BY media_id) AS tot FROM cells) t
             |  GROUP BY 1),
             |bands AS (
             |  SELECT media_id, ph, b, (ph >> (b * $bandBits)) & ${(1 << bandBits) - 1} AS bk
             |  FROM ph, (SELECT unnest(generate_series(0, ${graft.operators.Multimodal.PhashBands - 1})) AS b) bb),
             |cand AS (
             |  SELECT DISTINCT a.media_id AS m1, b.media_id AS m2,
             |                  a.ph AS ph1, b.ph AS ph2
             |  FROM bands a JOIN bands b
             |    ON a.b = b.b AND a.bk = b.bk AND a.media_id < b.media_id)
             |SELECT m1, m2, CAST(bit_count(xor(ph1, ph2)) AS INT) AS ham
             |FROM cand WHERE bit_count(xor(ph1, ph2)) <= ${graft.operators.Multimodal.PhashMaxHam}
             |ORDER BY m1, m2""".stripMargin
        },
        // m11: features recomputed from the sample FORMULA the WAV
        // fixture encodes (m06's oracle discipline for audio) — equality
        // proves WavCodec's chunk walk recovered every little-endian
        // 16-bit sample exactly.
        "m11_wav_features" -> {
          val n = graft.operators.Multimodal.WavSamples
          s"""WITH samp AS (
             |  SELECT doc_id AS media_id, i,
             |         ((doc_id * 7919 + i * (3 + doc_id % 17)) % 2001) - 1000 AS s
             |  FROM documents,
             |       (SELECT unnest(generate_series(0, ${n - 1})) AS i) ii),
             |lagd AS (
             |  SELECT media_id, s,
             |         lag(s) OVER (PARTITION BY media_id ORDER BY i) AS sp
             |  FROM samp)
             |SELECT media_id,
             |       CAST($n AS BIGINT) AS n_samples,
             |       CAST(MAX(abs(s)) AS BIGINT) AS peak,
             |       CAST(SUM(s * s) AS BIGINT) AS sum_sq,
             |       CAST(SUM(CASE WHEN sp IS NOT NULL AND s * sp < 0
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
             |FROM lagd GROUP BY media_id ORDER BY media_id""".stripMargin
        },
        // m19: the tEXt strings recomputed from the fixture formulas —
        // a match proves the chunk walk found every tEXt chunk, split on
        // the NUL, and round-tripped the bytes exactly
        "m19_png_metadata" ->
          """SELECT doc_id AS media_id, 'title' AS key,
            |       'doc ' || CAST(doc_id AS VARCHAR) AS value
            |FROM documents
            |UNION ALL
            |SELECT doc_id, 'generator', 'graft ' || CAST(doc_id % 7 AS VARCHAR)
            |FROM documents WHERE doc_id % 2 = 1
            |ORDER BY media_id, key""".stripMargin,
        // m18: every RGB byte recomputed from the pixel formula; the
        // position-weighted checksum over the flattened raster matches
        // ONLY if the zlib inflate ran and all five scanline filters
        // inverted exactly (the fixture plants filter `row % 5`)
        "m18_png_decode" -> {
          val w = graft.operators.Multimodal.PngW
          val h = graft.operators.Multimodal.PngH
          s"""WITH px AS (
             |  SELECT doc_id AS media_id, i,
             |         (doc_id * 7 + (i // ${w * 3}) * 31
             |          + ((i % ${w * 3}) // 3) * 13 + (i % 3) * 5) % 256 AS v
             |  FROM documents,
             |       (SELECT unnest(generate_series(0, ${w * h * 3 - 1})) AS i) ii)
             |SELECT media_id,
             |       CAST($w AS BIGINT) AS width,
             |       CAST($h AS BIGINT) AS height,
             |       CAST(SUM(v) AS BIGINT) AS sum_px,
             |       CAST(SUM((i + 1) * v) AS BIGINT) AS checksum
             |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin
        },
        // m16: blocks recomputed from the sawtooth formula; the
        // position-weighted checksum makes the equality order-sensitive
        "m16_wav_resample" -> {
          val n = graft.operators.Multimodal.WavSamples
          val k = graft.operators.Multimodal.ResampleFactor
          s"""WITH samp AS (
             |  SELECT doc_id AS media_id, i,
             |         ((doc_id * 7919 + i * (3 + doc_id % 17)) % 2001) - 1000 AS s
             |  FROM documents,
             |       (SELECT unnest(generate_series(0, ${n - 1})) AS i) ii),
             |blk AS (
             |  SELECT media_id, i // $k AS j, CAST(SUM(s) AS BIGINT) AS b
             |  FROM samp GROUP BY media_id, i // $k)
             |SELECT media_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_blocks,
             |       CAST(MAX(abs(b)) AS BIGINT) AS peak_block,
             |       CAST(SUM(b * b) AS BIGINT) AS sum_sq_block,
             |       CAST(SUM((j + 1) * b) AS BIGINT) AS checksum
             |FROM blk GROUP BY media_id ORDER BY media_id""".stripMargin
        },
        // m20: the SAME integer Goertzel recurrence run per sample by a
        // recursive CTE over the fixture's sample formula — twiddles are
        // the five integral 2cos(ω) values, so both engines compute in
        // exact 64-bit integers (no fixed-point scaling, no floor-vs-
        // truncate division discipline); a match proves per-sample,
        // in-order recurrence equality
        "m20_wav_spectral" -> {
          val n = graft.operators.Multimodal.WavSamples
          val nk = graft.operators.Multimodal.GoertzelCoefs.length
          s"""WITH RECURSIVE steps AS (
             |  SELECT doc_id AS media_id, k, 0 AS i,
             |         CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2
             |  FROM documents,
             |       (SELECT unnest(generate_series(0, ${nk - 1})) AS k) kk
             |  UNION ALL
             |  SELECT media_id, k, i + 1,
             |         (((media_id * 7919 + i * (3 + media_id % 17)) % 2001) - 1000)
             |           + (2 - k) * s1 - s2,
             |         s1
             |  FROM steps WHERE i < $n),
             |fin AS (
             |  SELECT media_id, k,
             |         s1 * s1 + s2 * s2 - (2 - k) * s1 * s2 AS power
             |  FROM steps WHERE i = $n),
             |ranked AS (
             |  SELECT media_id, k, power,
             |         row_number() OVER (PARTITION BY media_id
             |                            ORDER BY power DESC, k ASC) AS rn
             |  FROM fin)
             |SELECT media_id, CAST(k AS BIGINT) AS bin,
             |       CAST(2 - k AS BIGINT) AS coef,
             |       CAST(power AS BIGINT) AS power,
             |       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT)
             |         AS is_dominant
             |FROM ranked ORDER BY media_id, bin""".stripMargin
        },
        // m21: the per-FRAME recurrence — the recursive CTE restarts its
        // state at every frame boundary (i is frame-local), so a match
        // proves segmentation AND per-frame recurrence equality
        "m21_wav_frames" -> {
          val fl = graft.operators.Multimodal.FrameLen
          val nf = graft.operators.Multimodal.WavSamples / fl
          val nk = graft.operators.Multimodal.GoertzelCoefs.length
          s"""WITH RECURSIVE steps AS (
             |  SELECT doc_id AS media_id, f, k, 0 AS i,
             |         CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2
             |  FROM documents,
             |       (SELECT unnest(generate_series(0, ${nf - 1})) AS f) ff,
             |       (SELECT unnest(generate_series(0, ${nk - 1})) AS k) kk
             |  UNION ALL
             |  SELECT media_id, f, k, i + 1,
             |         (((media_id * 7919 + (f * $fl + i) * (3 + media_id % 17)) % 2001) - 1000)
             |           + (2 - k) * s1 - s2,
             |         s1
             |  FROM steps WHERE i < $fl),
             |fin AS (
             |  SELECT media_id, f, k,
             |         s1 * s1 + s2 * s2 - (2 - k) * s1 * s2 AS power
             |  FROM steps WHERE i = $fl),
             |ranked AS (
             |  SELECT media_id, f, k, power,
             |         row_number() OVER (PARTITION BY media_id, f
             |                            ORDER BY power DESC, k ASC) AS rn
             |  FROM fin)
             |SELECT media_id, CAST(f AS BIGINT) AS frame,
             |       CAST(k AS BIGINT) AS bin,
             |       CAST(power AS BIGINT) AS power,
             |       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT)
             |         AS is_dominant
             |FROM ranked ORDER BY media_id, frame, bin""".stripMargin
        },
        // m12: per-frame hashes recomputed from the cell formula each
        // frame's pixels encode (frame f = jitter prefix f//2 on base
        // pattern g=doc_id); equality proves the P6 STREAM walk found
        // every frame boundary and parsed every variable header exactly.
        "m12_clip_temporal_dedup" -> {
          val nb = graft.operators.Multimodal.PhashBits
          val nf = graft.operators.Multimodal.ClipFrames
          s"""WITH cells AS (
             |  SELECT doc_id AS media_id, f, c,
             |         48 + 48 * CASE WHEN c < f // 2
             |                        THEN 1 - (((doc_id * 2654435761
             |                                    + c * 40503 + 12345) >> 5) & 1)
             |                        ELSE (((doc_id * 2654435761
             |                                + c * 40503 + 12345) >> 5) & 1)
             |                   END AS t
             |  FROM documents,
             |       (SELECT unnest(generate_series(0, ${nf - 1})) AS f) ff,
             |       (SELECT unnest(generate_series(0, ${nb - 1})) AS c) cc),
             |ph AS (
             |  SELECT media_id, f,
             |         CAST(SUM(CASE WHEN t * $nb > tot
             |                  THEN (CAST(1 AS BIGINT) << c) ELSE 0 END)
             |              AS BIGINT) AS ph
             |  FROM (SELECT media_id, f, c, t,
             |               SUM(t) OVER (PARTITION BY media_id, f) AS tot
             |        FROM cells) z
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT media_id, ph,
             |         lag(ph) OVER (PARTITION BY media_id ORDER BY f) AS php
             |  FROM ph)
             |SELECT media_id,
             |       CAST($nf AS BIGINT) AS n_frames,
             |       CAST(1 + SUM(CASE WHEN php IS NOT NULL
             |                         AND bit_count(xor(ph, php)) > 0
             |                    THEN 1 ELSE 0 END) AS BIGINT) AS kept_frames,
             |       CAST(SUM(CASE WHEN php IS NOT NULL
             |                THEN bit_count(xor(ph, php)) ELSE 0 END) AS BIGINT)
             |         AS motion_ham
             |FROM pairs GROUP BY media_id ORDER BY media_id""".stripMargin
        },
        // m17: m12's frame-hash oracle with the per-(doc, scene) group id
        // and within-scene jitter; the threshold split mirrors the Spark
        // cut rule exactly
        "m17_scene_cuts" -> {
          val nb = graft.operators.Multimodal.PhashBits
          val nf = graft.operators.Multimodal.ClipFrames
          val sfr = graft.operators.Multimodal.SceneFrames
          val th = graft.operators.Multimodal.CutThreshold
          s"""WITH cells AS (
             |  SELECT doc_id AS media_id, f, c,
             |         48 + 48 * CASE WHEN c < f % $sfr
             |                        THEN 1 - ((((doc_id * 7 + (f // $sfr) * 3 + 1)
             |                                    * 2654435761
             |                                    + c * 40503 + 12345) >> 5) & 1)
             |                        ELSE ((((doc_id * 7 + (f // $sfr) * 3 + 1)
             |                                * 2654435761
             |                                + c * 40503 + 12345) >> 5) & 1)
             |                   END AS t
             |  FROM documents,
             |       (SELECT unnest(generate_series(0, ${nf - 1})) AS f) ff,
             |       (SELECT unnest(generate_series(0, ${nb - 1})) AS c) cc),
             |ph AS (
             |  SELECT media_id, f,
             |         CAST(SUM(CASE WHEN t * $nb > tot
             |                  THEN (CAST(1 AS BIGINT) << c) ELSE 0 END)
             |              AS BIGINT) AS ph
             |  FROM (SELECT media_id, f, c, t,
             |               SUM(t) OVER (PARTITION BY media_id, f) AS tot
             |        FROM cells) z
             |  GROUP BY 1, 2),
             |hams AS (
             |  SELECT media_id, bit_count(xor(ph, php)) AS ham
             |  FROM (SELECT media_id, ph,
             |               lag(ph) OVER (PARTITION BY media_id ORDER BY f) AS php
             |        FROM ph)
             |  WHERE php IS NOT NULL)
             |SELECT media_id,
             |       CAST($nf AS BIGINT) AS n_frames,
             |       CAST(SUM(CASE WHEN ham >= $th THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_cuts,
             |       CAST(1 + SUM(CASE WHEN ham >= $th THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_scenes,
             |       CAST(SUM(CASE WHEN ham >= $th THEN ham ELSE 0 END) AS BIGINT)
             |         AS cut_energy,
             |       CAST(SUM(CASE WHEN ham < $th THEN ham ELSE 0 END) AS BIGINT)
             |         AS motion_energy
             |FROM hams GROUP BY media_id ORDER BY media_id""".stripMargin
        },
        // m13: the resized image's checksum and mean-threshold hash
        // recomputed from the cell formula the ORIGINAL pixels encode —
        // equality holds only if the per-channel 2x2 box filter really
        // averaged the right blocks (resized grey == cell target t).
        "m13_resize_real" -> {
          import graft.operators.Multimodal._
          val nb = PhashBits
          val grp = PpmJitterGroup
          val w1 = PpmW / 2
          val h1 = PpmH / 2
          val encBytes = 3 + w1.toString.length + 1 + h1.toString.length +
            5 + w1 * h1 * 3
          s"""WITH cells AS (
             |  SELECT doc_id AS media_id, c,
             |         48 + 48 * CASE WHEN c < doc_id % $grp
             |                        THEN 1 - ((((doc_id // $grp) * 2654435761
             |                                    + c * 40503 + 12345) >> 5) & 1)
             |                        ELSE ((((doc_id // $grp) * 2654435761
             |                                + c * 40503 + 12345) >> 5) & 1)
             |                   END AS t
             |  FROM documents,
             |       (SELECT unnest(generate_series(0, ${nb - 1})) AS c) cc),
             |tots AS (
             |  SELECT media_id, c, t, SUM(t) OVER (PARTITION BY media_id) AS tot
             |  FROM cells)
             |SELECT media_id,
             |       CAST($PpmW AS INT) AS w0, CAST($PpmH AS INT) AS h0,
             |       CAST($w1 AS INT) AS w1, CAST($h1 AS INT) AS h1,
             |       CAST($encBytes AS BIGINT) AS enc_bytes,
             |       CAST(SUM(t) AS BIGINT) AS content_sum,
             |       CAST(SUM(CASE WHEN t * $nb > tot
             |                THEN (CAST(1 AS BIGINT) << c) ELSE 0 END)
             |            AS BIGINT) AS rhash
             |FROM tots GROUP BY media_id ORDER BY media_id""".stripMargin
        },
        // m10: the ASCII fixture makes magic + byte accounting
        // SQL-expressible; the round-trip booleans are the pin.
        "m10_magic_sniff" ->
          """SELECT doc_id AS media_id,
            |       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            |            WHEN 1 THEN 'audio' ELSE 'video' END AS sniffed_kind,
            |       TRUE AS matches_label,
            |       CAST(octet_length(encode(text)) AS BIGINT) AS body_bytes
            |FROM documents ORDER BY media_id""".stripMargin,
        // m09: window spelling of the keyed prefix count; the balance flag
        // recomputed from the same aggregates.
        "m09_batch_assembly" -> {
          val bs = graft.operators.Multimodal.BatchSize
          s"""WITH m AS (
             |  SELECT doc_id AS media_id, CAST(doc_id % 3 AS INT) AS kidx,
             |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
             |              WHEN 1 THEN 'audio' ELSE 'video' END AS kind
             |  FROM documents),
             |r AS (SELECT *, row_number() OVER (PARTITION BY kind
             |                                   ORDER BY media_id) AS rank
             |      FROM m),
             |a AS (SELECT *, (rank - 1) * 3 + kidx AS pos FROM r),
             |g AS (
             |  SELECT CAST(pos // $bs AS INT) AS batch, COUNT(1) AS n_items,
             |         CAST(SUM(CASE WHEN kind = 'image' THEN 1 ELSE 0 END) AS BIGINT) AS n_image,
             |         CAST(SUM(CASE WHEN kind = 'audio' THEN 1 ELSE 0 END) AS BIGINT) AS n_audio,
             |         CAST(SUM(CASE WHEN kind = 'video' THEN 1 ELSE 0 END) AS BIGINT) AS n_video,
             |         MIN(media_id) AS first_media
             |  FROM a GROUP BY 1)
             |SELECT batch, n_items, n_image, n_audio, n_video, first_media,
             |       greatest(n_image, n_audio, n_video)
             |         - least(n_image, n_audio, n_video) <= 1 AS balanced
             |FROM g ORDER BY batch""".stripMargin
        },
        "m02_frame_explode" ->
          // m02: per-frame checksums recomputed from the cell formula
          // each decoded frame's pixels encode (m12's discipline) —
          // equality proves the fan-out carries REAL decoded frames.
          {
            import graft.operators.Multimodal._
            s"""WITH vcells AS (
               |  SELECT doc_id AS media_id, f, c,
               |         48 + 48 * CASE WHEN c < f // 2
               |                        THEN 1 - (((doc_id * 2654435761
               |                                    + c * 40503 + 12345) >> 5) & 1)
               |                        ELSE (((doc_id * 2654435761
               |                                + c * 40503 + 12345) >> 5) & 1)
               |                   END AS t
               |  FROM documents,
               |       (SELECT unnest(generate_series(0, ${ClipFrames - 1})) AS f) ff,
               |       (SELECT unnest(generate_series(0, ${PhashBits - 1})) AS c) cc
               |  WHERE doc_id % 3 = 2)
               |SELECT media_id, CAST(f AS INT) AS frame_idx,
               |       CAST(${PpmW * PpmH} AS INT) AS frame_bytes,
               |       CAST(SUM(4 * t) AS BIGINT) AS frame_sum
               |FROM vcells GROUP BY media_id, f
               |ORDER BY media_id, frame_idx""".stripMargin
          })
}
