package graft

import graft.operators.Multimodal

/** Multimodal plumbing: schema, batch shape, partitioning, stub decode. */
class MultimodalSpec extends SparkSpec {

  test("feature extraction preserves ids and byte accounting") {
    val media = Multimodal.fixtureFromDocuments(spark, sf)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.byte_histogram.sum === f.n_bytes, "histogram must cover every byte")
      assert(f.byte_mean >= 0 && f.byte_mean <= 255)
      assert(f.frames_sampled >= 1)
      assert(Set("image", "audio", "video").contains(f.kind))
    }
    // ids round-trip 1:1
    val inIds = media.collect().map(_.media_id).sorted
    assert(feats.map(_.media_id).sorted === inIds)
  }

  test("m14 corpus is genuinely deflate-compressed at rest and round-trips byte-exactly") {
    // the oracle can only pin the POST-inflate accounting (the deflate
    // length depends on zlib's encoder) — this is the complementary pin:
    // at-rest bytes are a real compressed stream, not the plaintext, and
    // inflating them recovers the format-encoded bytes exactly
    val plain = Multimodal.realFixture(spark, sf).collect()
      .map(m => m.media_id -> m.payload).toMap
    val atRest = Multimodal.compressedFixture(spark, sf).collect()
    assert(atRest.length === plain.size)
    atRest.foreach { m =>
      assert(!java.util.Arrays.equals(m.payload, plain(m.media_id)),
        s"media ${m.media_id}: at-rest bytes must differ from the encoded bytes")
      assert(java.util.Arrays.equals(
          Multimodal.DeflateCodec.decode(m.payload), plain(m.media_id)),
        s"media ${m.media_id}: inflate must recover the exact encoded bytes")
      assert(m.format.endsWith("+deflate"))
    }
  }

  test("DeflateCodec: a real (non-stub) codec decodes through the same mapPartitions seam") {
    import spark.implicits._
    // Payloads are GENUINE compressed streams; features must describe the
    // DECODED content. The compressed byte distribution is near-uniform
    // (deflate output) while the plaintext is ASCII text — the histogram
    // can only match the plaintext's if inflate actually ran inside the
    // distributed extract, proving the seam carries real encoded bytes.
    val texts = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().take(50)
    val media = texts.map { case (id, t) =>
      Multimodal.Media(id, "image", Multimodal.DeflateCodec.encode(t.getBytes("UTF-8")),
        width = 16, height = 16, duration_ms = 0L, format = "deflate")
    }.toSeq.toDS()
    val feats = Multimodal.extractFeatures(media, frameStride = 4,
      codec = Multimodal.DeflateCodec).collect().map(f => f.media_id -> f).toMap
    assert(feats.size === texts.length)
    texts.foreach { case (id, t) =>
      val raw = t.getBytes("UTF-8")
      val (wantMean, wantHist) = (Multimodal.fakeDecode(raw)._1, Multimodal.fakeDecode(raw)._2)
      val f = feats(id)
      assert(f.byte_histogram.toSeq === wantHist.toSeq,
        s"decoded histogram must describe the PLAINTEXT for doc $id")
      assert(f.byte_mean === wantMean)
      assert(f.frames_sampled === Multimodal.sampleFrames(raw, 4),
        "frame sampling must run on decoded length, not compressed length")
      // n_bytes stays the PAYLOAD size (storage accounting), and the
      // compressed stream is genuinely different from the plaintext
      val enc = Multimodal.DeflateCodec.encode(raw)
      assert(f.n_bytes === enc.length.toLong)
      assert(!java.util.Arrays.equals(enc, raw),
        "the encoded payload must genuinely differ from the plaintext")
    }
  }

  test("DeflateCodec refuses a truncated payload loudly") {
    val enc = Multimodal.DeflateCodec.encode("a real payload, long enough to matter".getBytes("UTF-8"))
    intercept[java.util.zip.DataFormatException] {
      Multimodal.DeflateCodec.decode(enc.take(enc.length / 2))
    }
  }

  test("binaryFile source ingests raw media files into the Media pipeline") {
    // The ingest half of the multimodal story: media lands as FILES, and
    // Spark's binaryFile source turns a directory into (path, modTime,
    // length, content) rows — the entry point that feeds Media/
    // extractFeatures without any driver-side file reading. At 100 TB this
    // is a distributed listing + ranged reads per executor; pathGlobFilter
    // keeps non-media files out of the scan.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("media_files")
    val fixtures = Seq(
      "img_0.jpg" -> "fake jpeg payload zero",
      "img_1.jpg" -> "fake jpeg payload one with more bytes",
      "notes.txt" -> "not media; must be glob-filtered out")
    fixtures.foreach { case (name, body) =>
      java.nio.file.Files.write(dir.resolve(name), body.getBytes("UTF-8"))
    }
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.jpg")
      .load(dir.toString)
    assert(files.columns.toSet ===
      Set("path", "modificationTime", "length", "content"))
    val media = files
      .select(col("path"), col("content"), col("length"))
      .as[(String, Array[Byte], Long)]
      .map { case (path, content, length) =>
        Multimodal.Media(
          media_id = path.split('_').last.split('.').head.toLong,
          kind = "image", payload = content,
          width = 16, height = 16, duration_ms = 0L, format = "jpg")
      }
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats.keySet === Set(0L, 1L), "glob filter must exclude notes.txt")
    // bytes survived the source intact: histogram totals == file sizes
    assert(feats(0L).n_bytes === fixtures(0)._2.getBytes("UTF-8").length.toLong)
    assert(feats(1L).n_bytes === fixtures(1)._2.getBytes("UTF-8").length.toLong)
    assert(feats(1L).byte_histogram.sum === feats(1L).n_bytes)
  }

  test("stub decode is deterministic and byte-exact") {
    val payload = "hello multimodal world".getBytes("UTF-8")
    val (m1, h1) = Multimodal.fakeDecode(payload)
    val (m2, h2) = Multimodal.fakeDecode(payload)
    assert(m1 === m2 && h1.toSeq === h2.toSeq)
    assert(h1.sum === payload.length)
  }

  test("m13 real resize: 2x box filter is scale-invariant on the cell grid (resized hash == original aHash)") {
    val rows = Multimodal.m13ResizeReal(spark, sf)
      .select("media_id", "rhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val originals = Multimodal.ppmFixture(spark, sf)
      .collect().map { m =>
        m.media_id -> Multimodal.ppmAHash(
          Multimodal.PpmCodec.decode(m.payload), Multimodal.PpmW, Multimodal.PpmH)
      }.toMap
    assert(rows === originals,
      "the resized mean-threshold hash must equal the original image's aHash " +
        "(the fixture's hash grid IS the 2x2 block grid)")
    // and the resample is a REAL pixel op: a hand-built 4x2 gradient
    // halves to the exact per-channel block means
    val rgb = Array.tabulate(4 * 2 * 3)(i => (i * 4).toByte)
    val half = Multimodal.resizeHalf(4, 2, rgb)
    // block (0,0) ch0: pixels 0,1,4,5 of row-major 4-wide → bytes 0,3,12,15...
    val expect0 = ((rgb(0) & 0xff) + (rgb(3) & 0xff) + (rgb(12) & 0xff) + (rgb(15) & 0xff)) / 4
    assert((half(0) & 0xff) === expect0)
    assert(half.length === 2 * 1 * 3)
  }

  test("resizeMeta bounds dimensions without touching payload") {
    val media = Multimodal.fixtureFromDocuments(spark, sf)
    val resized = Multimodal.resizeMeta(media, 64).collect()
    resized.foreach { m =>
      assert(m.width <= 64 && m.height <= 64)
      assert(m.payload.nonEmpty)
    }
  }

  test("repartitionByBytes yields ceil(total/target) partitions") {
    val media = Multimodal.fixtureFromDocuments(spark, sf)
    val total = media.collect().map(_.payload.length.toLong).sum
    val parts = Multimodal.repartitionByBytes(media, total, targetBytes = 4096)
      .rdd.getNumPartitions
    assert(parts === math.max(1, (total / 4096).toInt))
  }

  test("frame sampling: stride divides chunk count with ceiling") {
    assert(Multimodal.sampleFrames(new Array[Byte](1024 * 8), 4) === 2)
    assert(Multimodal.sampleFrames(new Array[Byte](1), 4) === 1)
    assert(Multimodal.sampleFrames(new Array[Byte](0), 4) === 0)
  }

  test("m04 CDC chunking is shift-invariant where m03's fixed grid is not") {
    // THE property content-defined chunking exists for: insert a short
    // prefix into a payload and the boundaries re-synchronize right after
    // it (window hashes depend only on local bytes), so most chunks still
    // dedup; a fixed 256-byte grid shifts every boundary and shares
    // nothing. Planted pair: doc 1 = doc 0 with a 3-byte prefix.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("cdc_fixture").toString
    // deterministic pseudo-random ASCII text, long enough for ~12 chunks
    val rnd = new scala.util.Random(42)
    val base = (1 to 160).map(_ => ('a' + rnd.nextInt(26)).toChar.toString +
      ('a' + rnd.nextInt(26)).toChar + ('a' + rnd.nextInt(26)).toChar + " ")
      .mkString.trim
    Seq((0L, base, "en", "src0", base.length.toLong),
        (1L, "xy " + base, "en", "src0", (base.length + 3).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cdc = Multimodal.m04CdcChunks(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // byte-coverage identity holds for both payloads
    assert(cdc(0L)._3 === base.length.toLong)
    assert(cdc(1L)._3 === base.length.toLong + 3)
    // most chunks re-align and dedup across the pair despite the shift
    assert(cdc(0L)._2 >= cdc(0L)._1 / 2,
      s"CDC should share at least half its chunks after re-sync: $cdc")
    // the fixed-grid m03 shares NOTHING on the same shifted pair
    val fixedPairs = Multimodal.m03ChunkDedup(spark, dir)
      .filter(col("m1") === 0L && col("m2") === 1L).count()
    assert(fixedPairs === 0L,
      "fixed-grid chunking unexpectedly survived the prefix shift")
  }

  test("m03 oracle precondition: documents corpus is pure ASCII at every SF") {
    // m03's DuckDB oracle slices the payload with VARCHAR substr while the
    // Spark side slices BINARY — byte-identical ONLY while every character
    // is one UTF-8 byte. This is the assertion the m03 oracle note cites
    // (round-5 advice): a future non-ASCII fixture token fails HERE, at
    // the cause, not as an opaque hash mismatch in the driver compare.
    import org.apache.spark.sql.functions.expr
    val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(s => s"/root/testdata/$s/documents.parquet")
      .filter(p => new java.io.File(p).exists)
    assert(sfDirs.nonEmpty, "no documents.parquet found in any SF dir")
    sfDirs.foreach { p =>
      val nonAscii = spark.read.parquet(p)
        .filter(expr("octet_length(text) <> length(text)")).count()
      assert(nonAscii === 0L,
        s"$p has $nonAscii non-ASCII rows — m03's VARCHAR-substr oracle parity breaks")
    }
  }

  /** The pure-math aHash m06's pixels ENCODE — independent of the codec,
    * the fixture builder, and the Spark pipeline (see ppmFixture: cell
    * grey target t = 48 + 48·(baseBit XOR nested-jitter)). */
  private def formulaHash(id: Long): Long = {
    val nb = Multimodal.PhashBits
    val g = id / Multimodal.PpmJitterGroup
    val j = (id % Multimodal.PpmJitterGroup).toInt
    val ts = (0 until nb).map { c =>
      val bit = Multimodal.ppmBaseBit(g, c) ^ (if (c < j) 1L else 0L)
      48L + 48L * bit
    }
    val tot = ts.sum
    ts.zipWithIndex.foldLeft(0L) { case (acc, (t, c)) =>
      if (t * nb > tot) acc | (1L << c) else acc
    }
  }

  test("m06 band blocking is complete: equals brute-force Hamming pairs over formula hashes") {
    // Two claims at once: (1) encode → REAL PPM parse → grey → downscale
    // → threshold recovers exactly the formula hash for every document
    // (the decode-is-real proof), and (2) 4 bands of 8 bits MUST recover
    // every pair at Hamming distance <= 3 (pigeonhole), so the banded
    // equi-join equals the all-pairs reference computed in plain Scala.
    val hs = graft.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, formulaHash(id)))
    val want = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      ham = java.lang.Long.bitCount(ha ^ hb) if ham <= Multimodal.PhashMaxHam
    } yield (a, b, ham)).toSet
    val got = Multimodal.m06PhashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length === got.toSet.size, "duplicate pairs in m06 output")
    assert(got.toSet === want)
  }

  test("m06 nested jitter: same-group Hamming is exactly |j1 - j2|; re-encode pair survives") {
    // The planted-jitter contract: group members invert NESTED cell
    // prefixes, so ham(j1, j2) = |Δj| — members 1 apart are near-dups,
    // members PhashMaxHam+1 apart are planted NEGATIVES.
    val grp = Multimodal.PpmJitterGroup
    val pairs = Multimodal.m06PhashNearDup(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val ids = graft.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fullGroup = ids.groupBy(_ / grp)
      .collectFirst { case (_, ms) if ms.size == grp => ms.toSeq.sorted }
    assert(fullGroup.nonEmpty, "fixture must contain at least one full jitter group")
    val ms = fullGroup.get
    for (a <- ms; b <- ms if a < b) {
      val dj = (b % grp - a % grp).toInt
      if (dj <= Multimodal.PhashMaxHam)
        assert(pairs.get((a, b)).contains(dj),
          s"pair ($a,$b) dj=$dj must surface with ham=dj, got ${pairs.get((a, b))}")
      else
        assert(!pairs.contains((a, b)),
          s"pair ($a,$b) dj=$dj is a planted negative and must be filtered")
    }
  }

  test("PpmCodec: spec-grammar parse (comments, whitespace) + loud malformed failures") {
    val rgb = Array.tabulate(2 * 2 * 3)(i => (40 + i * 3).toByte)
    // golden: hand-built header with a comment line and mixed whitespace
    val exotic = ("P6\n# a comment line\n  2\t2\n255\n").getBytes("US-ASCII") ++ rgb
    val grey = Multimodal.PpmCodec.decode(exotic)
    assert(grey.toSeq === Seq.tabulate(4) { p =>
      (((40 + p * 9) + (43 + p * 9) + (46 + p * 9)) / 3).toByte
    }, "grey must be the exact per-pixel channel mean")
    // encode → decode round-trips through the same grammar
    assert(Multimodal.PpmCodec.decode(
      Multimodal.PpmCodec.encode(2, 2, rgb, Some(" made by a real tool"))).toSeq
      === grey.toSeq)
    def mustFail(payload: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException](Multimodal.PpmCodec.decode(payload))
      assert(e.getMessage.contains("malformed PPM"), s"$what: ${e.getMessage}")
    }
    mustFail("P5\n2 2\n255\n".getBytes("US-ASCII") ++ rgb, "wrong magic")
    mustFail("P6\n2 2\n255\n".getBytes("US-ASCII") ++ rgb.take(5), "truncated raster")
    mustFail("P6\n2 2\n99999\n".getBytes("US-ASCII") ++ rgb, "oversized maxval")
    mustFail("P6\n2 0\n255\n".getBytes("US-ASCII"), "zero dimension")
  }

  test("PngCodec: all five filters round-trip exactly; CRC tamper, truncation and unsupported profiles fail loudly") {
    val w = 5; val h = 6
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 17 + 3) % 256).toByte)
    // every row a different filter type (and one repeat): the decode must
    // INVERT each transform exactly, or pixels diverge from the input
    val png = Multimodal.PngCodec.encode(w, h, rgb, r => r % 5,
      Seq("note" -> "meta"))
    val (dw, dh, out) = Multimodal.PngCodec.decodeRgb(png)
    assert((dw, dh) === ((w, h)))
    assert(out.toSeq === rgb.toSeq,
      "unfiltered raster must equal the encoded input byte-for-byte")
    // filters genuinely change the at-rest scanlines: an all-None encode
    // of the same pixels produces DIFFERENT compressed bytes
    val pngNone = Multimodal.PngCodec.encode(w, h, rgb, _ => 0,
      Seq("note" -> "meta"))
    assert(!java.util.Arrays.equals(png, pngNone),
      "the fixture's filter variety must be present at rest")
    assert(Multimodal.PngCodec.decodeRgb(pngNone)._3.toSeq === rgb.toSeq)
    // grey seam matches the PPM discipline
    assert(Multimodal.PngCodec.decode(png).toSeq === Seq.tabulate(w * h) { p =>
      (((rgb(3 * p) & 0xff) + (rgb(3 * p + 1) & 0xff) +
        (rgb(3 * p + 2) & 0xff)) / 3).toByte
    })
    def mustFail(payload: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException](
        Multimodal.PngCodec.decodeRgb(payload))
      assert(e.getMessage.contains("malformed PNG"), s"$what: ${e.getMessage}")
    }
    mustFail("not a png at all".getBytes("US-ASCII"), "bad signature")
    mustFail(png.take(png.length - 6), "truncated tail")
    // flip one IDAT payload byte: the chunk CRC must catch it — a PNG
    // decoder may never serve silently-corrupt pixels
    val tampered = png.clone()
    tampered(png.length - 20) = (tampered(png.length - 20) ^ 0x40).toByte
    mustFail(tampered, "CRC tamper")
    // unsupported profile: greyscale color type (0) rejected at IHDR
    val badType = png.clone()
    badType(8 + 8 + 9) = 0 // IHDR data byte 9 = color type
    mustFail(badType, "unsupported color type (and its CRC)")
  }

  test("WavCodec: chunk walk recovers PCM exactly, skips junk chunks, fails loudly on malformed") {
    val samples = Array(0, 1000, -1000, 32767, -32768, 7, -7, 0)
    for (junk <- Seq(false, true)) {
      val pcm = Multimodal.pcm16(
        Multimodal.WavCodec.decode(Multimodal.WavCodec.encode(samples, junk)))
      assert(pcm.toSeq === samples.toSeq,
        s"junk=$junk: little-endian 16-bit round-trip must be exact")
    }
    // the junk chunk really changes the layout (no fixed-offset shortcut)
    assert(Multimodal.WavCodec.encode(samples, junkChunk = true).length >
           Multimodal.WavCodec.encode(samples, junkChunk = false).length)
    def mustFail(payload: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException](Multimodal.WavCodec.decode(payload))
      assert(e.getMessage.contains("malformed WAV"), s"$what: ${e.getMessage}")
    }
    // RIFF word alignment: an ODD-size skipped chunk carries a pad byte
    // the walk must step over to land on the next chunk boundary
    val g2 = Multimodal.WavCodec.encode(samples, junkChunk = false)
    val (head, rest) = g2.splitAt(12 + 8 + 16) // RIFF hdr + fmt chunk
    val oddJunk = "LIST".getBytes("US-ASCII") ++
      Array(5.toByte, 0.toByte, 0.toByte, 0.toByte) ++
      "INFOx".getBytes("US-ASCII") ++ Array(0.toByte) // 5 bytes + 1 pad
    val withOdd = head ++ oddJunk ++ rest
    assert(Multimodal.pcm16(Multimodal.WavCodec.decode(withOdd)).toSeq
      === samples.toSeq, "odd-size chunk padding must be skipped")
    val good = Multimodal.WavCodec.encode(samples, junkChunk = false)
    mustFail("JUNK".getBytes("US-ASCII") ++ good.drop(4), "wrong magic")
    mustFail(good.take(20), "truncated chunk")
    val notWave = good.clone(); notWave(8) = 'X'.toByte
    mustFail(notWave, "wrong form type")
  }

  test("m11 fixture layout varies by parity; features match a plain-Scala recompute") {
    val clips = Multimodal.wavFixture(spark, sf).collect()
    val evenLens = clips.filter(_.media_id % 2 == 0).map(_.payload.length).toSet
    val oddLens = clips.filter(_.media_id % 2 == 1).map(_.payload.length).toSet
    assert(evenLens.size == 1 && oddLens.size == 1 && evenLens != oddLens,
      s"junk chunk must change odd-id payload length: $evenLens vs $oddLens")
    // independent feature recompute from the formula, bypassing the codec
    val got = Multimodal.m11WavFeatures(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    clips.take(25).foreach { m =>
      val step = 3 + (m.media_id % 17).toInt
      val ss = Array.tabulate(Multimodal.WavSamples) { i =>
        ((m.media_id * 7919L + i.toLong * step) % 2001L).toInt - 1000
      }
      val peak = ss.map(v => math.abs(v.toLong)).max
      val sumSq = ss.map(v => v.toLong * v).sum
      val zc = (1 until ss.length).count(i => ss(i).toLong * ss(i - 1) < 0).toLong
      assert(got(m.media_id) === ((peak, sumSq, zc)),
        s"feature mismatch for media ${m.media_id}")
    }
  }

  test("m12 P6 stream walk: exact frame boundaries across variable headers; temporal dedup by construction") {
    // golden: a hand-built 3-frame stream with different header styles
    // per frame must come back as exactly 3 rasters, each correct
    val rgbA = Array.fill(2 * 2 * 3)(60.toByte)
    val rgbB = Array.fill(2 * 2 * 3)(90.toByte)
    val stream = Multimodal.PpmCodec.encode(2, 2, rgbA, None) ++
      Multimodal.PpmCodec.encode(2, 2, rgbB, Some(" middle frame ")) ++
      Multimodal.PpmCodec.encode(2, 2, rgbA, None)
    val frames = Multimodal.decodePpmStream(stream)
    assert(frames.length === 3)
    assert(frames(0).toSeq === Seq.fill(4)(60.toByte))
    assert(frames(1).toSeq === Seq.fill(4)(90.toByte))
    assert(frames(2).toSeq === Seq.fill(4)(60.toByte))
    // a truncated final frame fails loudly, not silently short
    intercept[IllegalArgumentException](
      Multimodal.decodePpmStream(stream.dropRight(3)))
    // the fixture's planted structure: frames alternate identical/changed
    // (jitter prefix f/2), so every clip keeps exactly ceil(F/2) frames
    val rows = Multimodal.m12ClipTemporalDedup(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (nf, kept) =>
      assert(nf === Multimodal.ClipFrames.toLong)
      assert(kept === (Multimodal.ClipFrames + 1) / 2,
        s"expected ${(Multimodal.ClipFrames + 1) / 2} kept of $nf, got $kept")
    }
  }

  test("m06 fixture headers vary: odd ids carry a comment line (no fixed-offset parser)") {
    val headerLen = Multimodal.ppmFixture(spark, sf).collect()
      .map(m => (m.media_id % 2, m.payload.length))
    val evenLens = headerLen.filter(_._1 == 0L).map(_._2).toSet
    val oddLens = headerLen.filter(_._1 == 1L).map(_._2).toSet
    assert(evenLens.size == 1 && oddLens.size >= 1 && evenLens != oddLens,
      s"odd-id comment headers must change payload length: even=$evenLens odd=$oddLens")
  }

  test("m05 manifest: covers every byte, content-addressed, edit-sensitive") {
    import org.apache.spark.sql.functions._
    val m = graft.operators.Multimodal.m05Manifest(spark, sf)
    val sizes = graft.operators.Multimodal.fixtureFromDocuments(spark, sf).toDF()
      .select(col("media_id"), length(col("payload")).cast("long").as("len"))
    // byte accounting: the chunk chain covers the payload exactly
    assert(m.join(sizes, "media_id")
      .filter(col("n_bytes") =!= col("len")).count() === 0L)
    // content-addressing: identical payloads ⟺ identical manifests (the
    // fixture has distinct payloads, so manifests must all be distinct)
    val rows = m.select("manifest56").collect().map(_.getLong(0))
    assert(rows.distinct.length === rows.length)
    // edit sensitivity: recompute one manifest with a payload byte flipped
    // via the same chain math — must differ from the original
    val one = graft.operators.Multimodal.fixtureFromDocuments(spark, sf).toDF()
      .filter(col("media_id") === 0).select(col("media_id"),
        concat(lit("X".getBytes), expr("substring(payload, 2, length(payload))"))
          .as("payload"))
    val cb = graft.operators.Multimodal.DedupChunkBytes
    val flipped = one
      .withColumn("p", explode(expr(s"sequence(1, length(payload), $cb)")))
      .select(col("media_id"), col("p"),
              md5(expr(s"substring(payload, p, $cb)")).as("h"))
      .groupBy("media_id")
      .agg(expr(graft.functions.TextHash.sparkHash56(
        "array_join(transform(array_sort(collect_list(struct(p, h))), x -> x.h), '')"))
        .as("manifest56"))
      .collect()(0).getLong(1)
    val orig = m.filter(col("media_id") === 0).collect()(0).getLong(3)
    assert(flipped !== orig)
  }
}
