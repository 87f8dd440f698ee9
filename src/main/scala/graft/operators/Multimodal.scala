package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed by per-partition batch operators.
  *
  * The Spark-side contract is real and tested — schema, partitioning, batch
  * shape, feature output — while decoding goes through the [[Multimodal.MediaCodec]]
  * seam: the default is a clearly-marked STUB (the container has no
  * image/audio libraries), and [[Multimodal.DeflateCodec]] proves the same
  * mapPartitions boundary carries REAL encoded bytes (a genuine
  * inflate-then-featurize, tested in MultimodalSpec). Swapping in ffmpeg /
  * javax.imageio changes one object and nothing about the plan.
  *
  * Scale notes:
  *  - Media rows are big (MBs); `repartitionByBytes` targets a bounded
  *    per-task byte budget so executor memory survives 100 TB of media —
  *    row-count-based partitioning would OOM on skewed blob sizes.
  *  - Feature extraction is `mapPartitions` (the Scala analogue of a
  *    batched pandas UDF): per-partition setup (codec init) is amortized
  *    across the partition's rows, and the output is columnar-friendly
  *    fixed-width features.
  *  - No driver collection anywhere; everything stays a Dataset.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata (parquet-friendly). */
  final case class Media(
      media_id: Long,
      kind: String,          // "image" | "audio" | "video"
      payload: Array[Byte],  // opaque encoded bytes
      width: Int, height: Int, duration_ms: Long, format: String)

  /** Extracted features: fixed-width, columnar-friendly. */
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      byte_mean: Double, byte_histogram: Array[Long], frames_sampled: Int)

  /** The swappable codec seam: decode + frame-sampling behind one
    * serializable interface so a real media library slots in without
    * touching the plan (schema, partitioning, mapPartitions batch shape
    * are codec-independent). `init()` runs once per PARTITION — the
    * amortized setup hook a real codec needs (context allocation, native
    * lib load); per-row work goes through `decode`/`frames`.
    */
  trait MediaCodec extends Serializable {
    /** Once-per-partition setup (codec contexts, native libs). */
    def init(): Unit = ()
    /** payload → the DECODED content bytes (pixel/sample buffer). Called
      * ONCE per row — every feature (stats, frame sampling) derives from
      * this single decode, so a real codec never pays the decompression
      * twice per row.
      */
    def decode(payload: Array[Byte]): Array[Byte]
  }

  private[operators] def byteStats(bytes: Array[Byte]): (Double, Array[Long]) = {
    val hist = new Array[Long](16)
    var sum = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      hist(b / 16) += 1
      sum += b
      i += 1
    }
    val mean = if (bytes.length == 0) 0.0 else sum.toDouble / bytes.length
    (mean, hist)
  }

  /** STUB codec (the default) — deterministic fake decode: treats the raw
    * payload bytes AS the decoded content (no media libraries in this
    * container). Everything around it — schema, partitioning, batch
    * shape — is production-real.
    */
  object StubCodec extends MediaCodec {
    def decode(payload: Array[Byte]): Array[Byte] = payload
  }

  /** A REAL codec through the same seam — DEFLATE (java.util.zip, in every
    * JVM) standing in for a media format: payloads are genuine compressed
    * streams, `decode` actually INFLATES them and computes stats over the
    * decompressed content, and frame sampling runs on decoded length. The
    * features can only match the plaintext's if decompression really ran,
    * which is what MultimodalSpec's non-stub test proves: the seam carries
    * real encoded bytes end-to-end, so an ffmpeg/imageio-backed MediaCodec
    * is a drop-in.
    */
  object DeflateCodec extends MediaCodec {
    def encode(raw: Array[Byte]): Array[Byte] = {
      // try/finally around end(): Deflater holds a NATIVE zlib context that
      // GC finalization releases only eventually — on an exception path a
      // long-lived executor would leak native memory per failed row.
      val deflater = new java.util.zip.Deflater()
      try {
        deflater.setInput(raw); deflater.finish()
        val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
        val buf = new Array[Byte](4096)
        while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
        out.toByteArray
      } finally deflater.end()
    }
    def decode(payload: Array[Byte]): Array[Byte] = {
      // try/finally: the malformed-payload throws below are DELIBERATE exit
      // paths, and each one would otherwise strand the Inflater's native
      // zlib context until finalization (advice r07).
      val inflater = new java.util.zip.Inflater()
      try {
        inflater.setInput(payload)
        val out = new java.io.ByteArrayOutputStream(payload.length * 2 + 64)
        val buf = new Array[Byte](4096)
        while (!inflater.finished()) {
          val n = inflater.inflate(buf)
          // ANY zero-progress stall must fail loudly, not spin: truncated
          // input (needsInput) and FDICT preset-dictionary streams
          // (needsDictionary — inflate returns 0 with finished()==false and
          // needsInput()==false, an infinite loop if only needsInput is
          // checked) are both malformed for this format.
          if (n == 0 && !inflater.finished())
            throw new java.util.zip.DataFormatException(
              if (inflater.needsDictionary()) "preset-dictionary DEFLATE stream unsupported"
              else "truncated DEFLATE payload")
          out.write(buf, 0, n)
        }
        out.toByteArray
      } finally inflater.end()
    }
  }

  /** A REAL IMAGE codec through the same seam — binary PPM (P6), the
    * simplest format real tools emit (netpbm/ImageMagick): a textual
    * header (magic, optional `#` comment lines, width, height, maxval,
    * arbitrary whitespace — all parsed per the spec, not a fixed offset)
    * followed by raw RGB triplets. `decode` returns the GREYSCALE pixel
    * buffer (one byte per pixel, (r+g+b)/3) — m06's aHash runs on these
    * real decoded pixels. Malformed input (wrong magic, truncated pixel
    * data, oversized maxval) fails loudly. The fixture varies the header
    * (comment lines on odd ids) so a fixed-offset "parser" cannot pass
    * MultimodalSpec's golden tests or the oracle.
    */
  object PpmCodec extends MediaCodec {
    /** Build a P6 payload: real header + raw RGB (the encode side real
      * tools would produce; `comment` exercises the header grammar). */
    def encode(w: Int, h: Int, rgb: Array[Byte],
               comment: Option[String] = None): Array[Byte] = {
      require(rgb.length == w * h * 3, s"need ${w * h * 3} bytes, got ${rgb.length}")
      val header = new StringBuilder("P6\n")
      comment.foreach(c => header.append('#').append(c).append('\n'))
      header.append(w).append(' ').append(h).append("\n255\n")
      val hb = header.toString.getBytes("US-ASCII")
      val out = new Array[Byte](hb.length + rgb.length)
      System.arraycopy(hb, 0, out, 0, hb.length)
      System.arraycopy(rgb, 0, out, hb.length, rgb.length)
      out
    }
    def decode(payload: Array[Byte]): Array[Byte] = decodeWithLength(payload)._1

    /** Parse ONE P6 image starting at byte `from` of `payload`, returning
      * the grey raster AND the absolute END offset of the image (header +
      * raster) — the primitive [[decodePpmStream]] iterates to walk a
      * frame stream WITHOUT copying the payload tail per frame (the walk
      * advances a cursor; the r09-advice quadratic-copy fix).
      *
      * All size math is overflow-safe on UNTRUSTED executor input (the
      * r09-advice medium finding): header integers accumulate in Long and
      * fail past Int.MaxValue, and the raster-fit guard compares
      * `3L * w * h` in Long — a crafted 'P6 1073741824 2 255' header used
      * to wrap `w * h * 3` negative, bypass the guard, and surface as
      * NegativeArraySizeException instead of the codec's typed failure.
      */
    def decodeWithLength(payload: Array[Byte], from: Int = 0): (Array[Byte], Int) = {
      val (w, h, pos) = parseP6(payload, from)
      val grey = new Array[Byte](w * h)
      var i = 0
      while (i < w * h) {
        val base = pos + i * 3
        grey(i) = (((payload(base) & 0xff) + (payload(base + 1) & 0xff) +
          (payload(base + 2) & 0xff)) / 3).toByte
        i += 1
      }
      (grey, pos + w * h * 3)
    }

    /** Parse ONE P6 and return (w, h, raw RGB raster copy) — the
      * RGB-domain sibling of `decode` (which reduces to grey); m13's
      * real resize filters per channel, so it needs the channels.
      */
    def decodeRgb(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      val (w, h, pos) = parseP6(payload, 0)
      (w, h, java.util.Arrays.copyOfRange(payload, pos, pos + w * h * 3))
    }

    /** The shared P6 header grammar: magic, comments, dimensions, maxval,
      * single raster separator, Long-math raster-fit guard — returns
      * (w, h, raster offset). One definition feeds the grey decode, the
      * RGB decode and (via decodeWithLength) the stream walk.
      */
    private def parseP6(payload: Array[Byte], from: Int): (Int, Int, Int) = {
      var pos = from
      def fail(msg: String) =
        throw new IllegalArgumentException(s"malformed PPM: $msg")
      def skipWsAndComments(): Unit = {
        var go = true
        while (go && pos < payload.length) {
          val b = payload(pos)
          if (b == ' ' || b == '\n' || b == '\r' || b == '\t') pos += 1
          else if (b == '#') while (pos < payload.length && payload(pos) != '\n') pos += 1
          else go = false
        }
      }
      def readInt(): Int = {
        skipWsAndComments()
        val start = pos
        var v = 0L
        while (pos < payload.length && payload(pos) >= '0' && payload(pos) <= '9') {
          v = v * 10 + (payload(pos) - '0')
          if (v > Int.MaxValue) fail(s"header integer overflows at byte $pos")
          pos += 1
        }
        if (pos == start) fail(s"expected integer at byte $pos")
        v.toInt
      }
      if (from < 0 || payload.length - from < 2 ||
          payload(from) != 'P' || payload(from + 1) != '6')
        fail("magic is not P6")
      pos = from + 2
      val w = readInt(); val h = readInt(); val maxval = readInt()
      if (w <= 0 || h <= 0) fail(s"bad dimensions ${w}x$h")
      if (maxval <= 0 || maxval > 255) fail(s"unsupported maxval $maxval")
      // exactly ONE whitespace byte separates the header from the raster
      if (pos >= payload.length || !" \n\r\t".contains(payload(pos).toChar))
        fail("missing raster separator")
      pos += 1
      // Long math: any w*h the payload can't physically hold fails HERE
      // with the typed error, never downstream as a negative/huge alloc.
      if (3L * w * h > payload.length.toLong - pos)
        fail(s"truncated raster: ${payload.length - pos} < ${3L * w * h}")
      (w, h, pos)
    }
  }

  /** A REAL AUDIO codec through the same seam — RIFF/WAVE with 16-bit
    * mono PCM, parsed by an actual CHUNK WALK (RIFF magic, WAVE form
    * type, iterate [id, size, payload] chunks skipping unknown ones —
    * odd-id fixtures plant a LIST junk chunk before `data`, so a
    * fixed-offset reader cannot decode both parities), `fmt ` validation
    * (PCM, mono, 16-bit), and the `data` chunk's byte-exact extraction.
    * `decode` returns the raw PCM payload; [[pcm16]] turns it into
    * samples (little-endian, the WAV spec's byte order).
    */
  object WavCodec extends MediaCodec {
    private def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
            ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def encode(samples: Array[Int], junkChunk: Boolean): Array[Byte] = {
      val data = samples.flatMap(s => le16(s & 0xffff))
      val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++
        le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16)
      val junk = if (junkChunk)
        "LIST".getBytes("US-ASCII") ++ le32(6) ++ "INFOju".getBytes("US-ASCII")
      else Array.emptyByteArray
      val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ junk ++
        "data".getBytes("US-ASCII") ++ le32(data.length) ++ data
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    def decode(payload: Array[Byte]): Array[Byte] = {
      def fail(msg: String) =
        throw new IllegalArgumentException(s"malformed WAV: $msg")
      def rd32(p: Int): Int =
        (payload(p) & 0xff) | ((payload(p + 1) & 0xff) << 8) |
          ((payload(p + 2) & 0xff) << 16) | ((payload(p + 3) & 0xff) << 24)
      def rd16(p: Int): Int = (payload(p) & 0xff) | ((payload(p + 1) & 0xff) << 8)
      def tag(p: Int): String = new String(payload, p, 4, "US-ASCII")
      if (payload.length < 12 || tag(0) != "RIFF") fail("missing RIFF magic")
      if (tag(8) != "WAVE") fail("form type is not WAVE")
      var pos = 12
      var fmtSeen = false
      while (pos + 8 <= payload.length) {
        val id = tag(pos); val size = rd32(pos + 4)
        // subtraction form: `pos + 8 + size` wraps for size near 2^31 and
        // would sneak a giant declared size past an addition-form check
        if (size < 0 || size > payload.length - pos - 8)
          fail(s"chunk '$id' overruns the payload")
        if (id == "fmt ") {
          if (size < 16) fail(s"fmt chunk too small ($size)")
          if (rd16(pos + 8) != 1) fail("not PCM")
          if (rd16(pos + 10) != 1) fail("not mono")
          if (rd16(pos + 22) != 16) fail("not 16-bit")
          fmtSeen = true
        } else if (id == "data") {
          if (!fmtSeen) fail("data chunk before fmt")
          return java.util.Arrays.copyOfRange(payload, pos + 8, pos + 8 + size)
        }
        // RIFF word-aligns chunks: an odd-sized chunk carries one pad byte
        pos += 8 + size + (size & 1)
      }
      fail("no data chunk"); null
    }
  }

  /** A REAL PNG decoder through the same seam — the format-DIVERSE image
    * path (the image codec so far was P6 PPM; PNG exercises the full real
    * stack in one format): 8-byte signature, the length/type/data/CRC
    * chunk walk with EVERY chunk's CRC32 verified (a flipped byte fails
    * loudly, never decodes garbage) and unknown ancillary chunks skipped
    * (odd-id fixtures plant a `tEXt` chunk, so a fixed-offset reader
    * cannot decode both parities), IHDR validation, IDAT concatenation
    * across chunks, genuine zlib INFLATE ([[DeflateCodec]]'s inflater —
    * PNG's IDAT is an ordinary zlib stream), and per-scanline filter
    * RECONSTRUCTION for all five filter types 0-4 (None/Sub/Up/Average/
    * Paeth, the spec's byte-domain predictors). Supported profile: 8-bit
    * RGB (color type 2), no interlace — everything else is a typed
    * loud fail. The m18 fixture plants filter type `row % 5`, so a
    * decoder that skips unfiltering cannot reproduce any pixel feature.
    */
  object PngCodec extends MediaCodec {
    private val Signature = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)

    private def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
            ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

    private def readBe32(b: Array[Byte], p: Int): Long =
      ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
        ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

    private def crcOf(typ: Array[Byte], data: Array[Byte], off: Int,
                      len: Int): Long = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ)
      crc.update(data, off, len)
      crc.getValue
    }

    private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val out = new java.io.ByteArrayOutputStream(data.length + 12)
      out.write(be32(data.length.toLong))
      out.write(t)
      out.write(data)
      out.write(be32(crcOf(t, data, 0, data.length)))
      out.toByteArray
    }

    /** The spec's Paeth predictor — byte-domain, exact integer ties. */
    private def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Build a real PNG: 8-bit RGB scanlines filtered per `filterOfRow`
      * (the encode-side transform the decoder must invert), deflated into
      * one IDAT. `textChunks` plants spec-shaped `tEXt` metadata
      * (keyword NUL value — the PNG text-chunk grammar): ancillary to the
      * pixel walk (m18 skips them), REAL payload for the metadata
      * extraction verb (m19 parses them back).
      */
    def encode(w: Int, h: Int, rgb: Array[Byte], filterOfRow: Int => Int,
               textChunks: Seq[(String, String)] = Nil): Array[Byte] = {
      require(rgb.length == w * h * 3, s"need ${w * h * 3} bytes, got ${rgb.length}")
      val bpp = 3; val stride = w * 3
      val raw = new Array[Byte](h * (1 + stride))
      var r = 0
      while (r < h) {
        val ft = filterOfRow(r)
        require(ft >= 0 && ft <= 4, s"filter type $ft")
        val o = r * (1 + stride)
        raw(o) = ft.toByte
        var x = 0
        while (x < stride) {
          val cur = rgb(r * stride + x) & 0xff
          val left = if (x >= bpp) rgb(r * stride + x - bpp) & 0xff else 0
          val up = if (r > 0) rgb((r - 1) * stride + x) & 0xff else 0
          val ul = if (r > 0 && x >= bpp) rgb((r - 1) * stride + x - bpp) & 0xff else 0
          val v = ft match {
            case 0 => cur
            case 1 => cur - left
            case 2 => cur - up
            case 3 => cur - ((left + up) >> 1)
            case 4 => cur - paeth(left, up, ul)
          }
          raw(o + 1 + x) = (v & 0xff).toByte
          x += 1
        }
        r += 1
      }
      val ihdr = new java.io.ByteArrayOutputStream(13)
      ihdr.write(be32(w.toLong)); ihdr.write(be32(h.toLong))
      ihdr.write(8); ihdr.write(2); ihdr.write(0); ihdr.write(0); ihdr.write(0)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Signature)
      out.write(chunk("IHDR", ihdr.toByteArray))
      textChunks.foreach { case (k, v) =>
        require(k.nonEmpty && !k.contains('\u0000') && !v.contains('\u0000'),
          "tEXt keyword/value must be NUL-free")
        out.write(chunk("tEXt",
          (k + "\u0000" + v).getBytes("ISO-8859-1")))
      }
      out.write(chunk("IDAT", DeflateCodec.encode(raw)))
      out.write(chunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }

    /** The MediaCodec seam reduces to grey like [[PpmCodec]]. */
    def decode(payload: Array[Byte]): Array[Byte] = {
      val (w, h, rgb) = decodeRgb(payload)
      val grey = new Array[Byte](w * h)
      var i = 0
      while (i < w * h) {
        grey(i) = (((rgb(3 * i) & 0xff) + (rgb(3 * i + 1) & 0xff) +
          (rgb(3 * i + 2) & 0xff)) / 3).toByte
        i += 1
      }
      grey
    }

    /** Parse the `tEXt` metadata chunks (keyword NUL value) — the
      * metadata-extraction half of the codec (m19): the SAME CRC-verified
      * chunk walk as the pixel decode, collecting instead of skipping the
      * text chunks. A tEXt without a NUL separator is malformed (loud).
      */
    def textChunks(payload: Array[Byte]): Seq[(String, String)] = {
      def fail(msg: String) =
        throw new IllegalArgumentException(s"malformed PNG: $msg")
      if (payload.length < 8 ||
          !java.util.Arrays.equals(
            java.util.Arrays.copyOf(payload, 8), Signature))
        fail("bad signature")
      var pos = 8
      var seenEnd = false
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      while (!seenEnd) {
        if (payload.length - pos < 12) fail(s"truncated chunk header at $pos")
        val len = readBe32(payload, pos)
        if (len > payload.length.toLong - pos - 12) fail(s"truncated chunk at $pos")
        val typ = new String(payload, pos + 4, 4, "US-ASCII")
        val typBytes = java.util.Arrays.copyOfRange(payload, pos + 4, pos + 8)
        val n = len.toInt
        if (readBe32(payload, pos + 8 + n) != crcOf(typBytes, payload, pos + 8, n))
          fail(s"bad CRC on $typ chunk at $pos")
        typ match {
          case "tEXt" =>
            val data = new String(payload, pos + 8, n, "ISO-8859-1")
            val sep = data.indexOf(0.toChar)
            if (sep <= 0) fail(s"tEXt chunk at $pos has no keyword separator")
            out += ((data.substring(0, sep), data.substring(sep + 1)))
          case "IEND" => seenEnd = true
          case _ => ()
        }
        pos += 12 + n
      }
      out.toSeq
    }

    /** Full decode: chunk walk → IHDR → inflate IDAT → unfilter. Returns
      * (w, h, reconstructed RGB raster). Every malformed shape is the
      * typed IllegalArgumentException (the fuzz contract).
      */
    def decodeRgb(payload: Array[Byte]): (Int, Int, Array[Byte]) = {
      def fail(msg: String) =
        throw new IllegalArgumentException(s"malformed PNG: $msg")
      if (payload.length < 8 ||
          !java.util.Arrays.equals(
            java.util.Arrays.copyOf(payload, 8), Signature))
        fail("bad signature")
      var pos = 8
      var w = 0; var h = 0; var seenIhdr = false; var seenEnd = false
      val idat = new java.io.ByteArrayOutputStream()
      while (!seenEnd) {
        if (payload.length - pos < 12) fail(s"truncated chunk header at $pos")
        val len = readBe32(payload, pos)
        if (len > payload.length.toLong - pos - 12) fail(s"truncated chunk at $pos")
        val typ = new String(payload, pos + 4, 4, "US-ASCII")
        val typBytes = java.util.Arrays.copyOfRange(payload, pos + 4, pos + 8)
        val dataOff = pos + 8
        val n = len.toInt
        if (readBe32(payload, dataOff + n) != crcOf(typBytes, payload, dataOff, n))
          fail(s"bad CRC on $typ chunk at $pos")
        typ match {
          case "IHDR" =>
            if (seenIhdr) fail("duplicate IHDR")
            if (n != 13) fail(s"IHDR length $n")
            val lw = readBe32(payload, dataOff)
            val lh = readBe32(payload, dataOff + 4)
            if (lw <= 0 || lh <= 0 || lw > Int.MaxValue / 4 ||
                3L * lw * lh > (64L << 20))
              fail(s"bad dimensions ${lw}x$lh")
            if (payload(dataOff + 8) != 8) fail("only 8-bit depth supported")
            if (payload(dataOff + 9) != 2) fail("only RGB (color type 2) supported")
            if (payload(dataOff + 10) != 0 || payload(dataOff + 11) != 0)
              fail("bad compression/filter method")
            if (payload(dataOff + 12) != 0) fail("interlace unsupported")
            w = lw.toInt; h = lh.toInt; seenIhdr = true
          case "IDAT" =>
            if (!seenIhdr) fail("IDAT before IHDR")
            idat.write(payload, dataOff, n)
          case "IEND" => seenEnd = true
          case _ => () // ancillary chunk: the walk skips it (CRC checked)
        }
        pos += 12 + n
      }
      if (!seenIhdr) fail("no IHDR")
      if (idat.size() == 0) fail("no IDAT")
      val raw =
        try DeflateCodec.decode(idat.toByteArray)
        catch { case e: java.util.zip.DataFormatException =>
          fail(s"bad IDAT zlib stream: ${e.getMessage}") }
      val bpp = 3; val stride = w * 3
      if (raw.length != h * (1 + stride))
        fail(s"decompressed length ${raw.length} != ${h * (1 + stride)}")
      val out = new Array[Byte](h * stride)
      var r = 0
      while (r < h) {
        val ft = raw(r * (1 + stride)) & 0xff
        val o = r * (1 + stride) + 1
        var x = 0
        while (x < stride) {
          val v = raw(o + x) & 0xff
          val left = if (x >= bpp) out(r * stride + x - bpp) & 0xff else 0
          val up = if (r > 0) out((r - 1) * stride + x) & 0xff else 0
          val ul = if (r > 0 && x >= bpp) out((r - 1) * stride + x - bpp) & 0xff else 0
          val rec = ft match {
            case 0 => v
            case 1 => v + left
            case 2 => v + up
            case 3 => v + ((left + up) >> 1)
            case 4 => v + paeth(left, up, ul)
            case other => fail(s"unknown filter type $other on row $r")
          }
          out(r * stride + x) = (rec & 0xff).toByte
          x += 1
        }
        r += 1
      }
      (w, h, out)
    }
  }

  /** 16-bit little-endian PCM → signed sample values. */
  def pcm16(data: Array[Byte]): Array[Int] = {
    val out = new Array[Int](data.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((data(2 * i) & 0xff) | (data(2 * i + 1) << 8)).toShort.toInt
      i += 1
    }
    out
  }

  /** Deterministic fake decode (the stub codec's body — kept as a named
    * function because m03/m06's chunk math and several specs call it
    * directly).
    */
  def fakeDecode(payload: Array[Byte]): (Double, Array[Long]) =
    byteStats(payload)

  /** STUB — frame sampling: every `stride`-th 1 KiB chunk counts as one
    * sampled "frame". Real impl: demux + keyframe selection.
    */
  def sampleFrames(payload: Array[Byte], stride: Int): Int = {
    val chunks = (payload.length + 1023) / 1024
    (chunks + stride - 1) / stride
  }

  /** Repartition so each task sees roughly `targetBytes` of payload —
    * blob-size-aware partitioning (row counts lie when blobs are skewed).
    */
  def repartitionByBytes(media: Dataset[Media], totalBytes: Long,
                         targetBytes: Long = 128L << 20): Dataset[Media] = {
    val parts = math.max(1, (totalBytes / targetBytes).toInt)
    media.repartition(parts)
  }

  /** Batched feature extraction — the mapPartitions analogue of a pandas
    * UDF: per-partition codec setup, then row-at-a-time decode into
    * fixed-width features.
    */
  def extractFeatures(media: Dataset[Media], frameStride: Int = 4,
                      codec: MediaCodec = StubCodec): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      codec.init() // once per partition — amortized codec setup
      rows.map { m =>
        val decoded = codec.decode(m.payload) // ONE decode per row
        val (mean, hist) = byteStats(decoded)
        MediaFeatures(m.media_id, m.kind, m.payload.length.toLong,
          mean, hist, sampleFrames(decoded, frameStride))
      }
    }
  }

  /** "Resize" as a metadata transform (the stub keeps payload opaque; a
    * real impl re-encodes). Demonstrates typed metadata evolution.
    */
  def resizeMeta(media: Dataset[Media], maxDim: Int): Dataset[Media] = {
    import media.sparkSession.implicits._
    media.map { m =>
      if (m.width <= maxDim && m.height <= maxDim) m
      else {
        val scale = maxDim.toDouble / math.max(m.width, m.height)
        m.copy(width = (m.width * scale).toInt, height = (m.height * scale).toInt)
      }
    }
  }

  /** Deterministic fixture: fake media payloads derived from the documents
    * table (text bytes as the opaque payload) — exercises the full pipeline
    * without any codec dependency.
    */
  def fixtureFromDocuments(spark: SparkSession, sfDir: String): Dataset[Media] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        Media(id, kind, text.getBytes("UTF-8"),
          width = (nChars % 640).toInt + 16, height = (nChars % 480).toInt + 16,
          duration_ms = nChars * 10, format = "fake")
      }
  }

  /** The REAL mixed-modality fixture: per document, one genuinely ENCODED
    * payload of its kind — image (doc_id%3=0) = m06's P6 PPM, audio (=1)
    * = m11's RIFF/WAVE PCM16, video (=2) = m12's P6 frame stream — each
    * with the variable-layout twists (comment headers, junk chunks,
    * per-frame headers) that defeat fixed-offset parsing. m01/m02 run the
    * generic extraction over THIS corpus, so the default path decodes
    * real content (r09 verdict item 5); the text-bytes fixture
    * ([[fixtureFromDocuments]]) remains the chunk-math corpus for
    * m03/m05/m07/m08/m10.
    */
  def realFixture(spark: SparkSession, sfDir: String): Dataset[Media] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
      .map { id =>
        (id % 3) match {
          case 0 =>
            val rgb = ppmRgb(id / PpmJitterGroup, (id % PpmJitterGroup).toInt)
            val comment =
              if (id % 2 == 1) Some(s" re-encode pass for media $id") else None
            Media(id, "image", PpmCodec.encode(PpmW, PpmH, rgb, comment),
              width = PpmW, height = PpmH, duration_ms = 0L, format = "ppm")
          case 1 =>
            val step = 3 + (id % 17).toInt
            val samples = Array.tabulate(WavSamples) { i =>
              ((id * 7919L + i.toLong * step) % 2001L).toInt - 1000
            }
            Media(id, "audio", WavCodec.encode(samples, junkChunk = id % 2 == 1),
              width = 0, height = 0,
              duration_ms = WavSamples * 1000L / 8000L, format = "wav")
          case _ =>
            val frames = (0 until ClipFrames).map { f =>
              PpmCodec.encode(PpmW, PpmH, ppmRgb(id, f / 2),
                if (f % 2 == 1) Some(s" frame $f of clip $id") else None)
            }
            Media(id, "video", frames.reduce(_ ++ _),
              width = PpmW, height = PpmH,
              duration_ms = ClipFrames * 40L, format = "ppm-stream")
        }
      }
  }

  /** m01: generic multimodal feature extraction over the REAL encoded
    * corpus — kind-dispatched decoding through the real codecs (image →
    * [[PpmCodec]], audio → [[WavCodec]], video → [[decodePpmStream]]) in
    * ONE mapPartitions pass, emitting the modality-uniform first-pass
    * features: encoded size, decoded size, decoded-content checksum
    * (Σ unsigned content bytes), and the kind's natural unit count
    * (1 image / 64 samples / 6 frames). Until round 10 this entry
    * reported stub byte stats over raw payloads; the DuckDB oracle now
    * recomputes every feature from the content FORMULAS the fixtures
    * encode (m06/m11/m12's discipline) — including the exact per-parity
    * ENCODED length — so the hash match proves all three decoders ran
    * against real variable-layout payloads. StubCodec survives only as
    * [[extractFeatures]]'s documented seam default, tested in
    * MultimodalSpec.
    *
    * Scale shape: one mapPartitions pass (per-partition codec init),
    * fixed-width integer features out, payload bytes never shuffle.
    */
  def m01MultimodalFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    realFixture(s, d).mapPartitions { rows =>
      PpmCodec.init(); WavCodec.init()
      rows.map { m =>
        val (decBytes, contentSum, units) = kindFeatures(m.kind, m.payload)
        (m.media_id, m.kind, m.payload.length.toLong, decBytes,
          contentSum, units)
      }
    }.toDF("media_id", "kind", "enc_bytes", "dec_bytes", "content_sum", "units")
      .orderBy("media_id")
  }

  /** Σ unsigned content bytes — the modality-uniform decoded checksum. */
  private def unsignedSum(bs: Array[Byte]): Long = {
    var t = 0L; var i = 0
    while (i < bs.length) { t += bs(i) & 0xff; i += 1 }
    t
  }

  /** The kind-dispatched decode shared by m01 (plain-at-rest) and m14
    * (compressed-at-rest): format-encoded bytes → (decoded size, decoded
    * checksum, unit count) through the REAL codecs.
    */
  private def kindFeatures(kind: String,
                           encoded: Array[Byte]): (Long, Long, Long) =
    kind match {
      case "image" =>
        val grey = PpmCodec.decode(encoded)
        (grey.length.toLong, unsignedSum(grey), 1L)
      case "audio" =>
        val pcm = WavCodec.decode(encoded)
        (pcm.length.toLong, unsignedSum(pcm), pcm.length / 2L)
      case _ =>
        val frames = decodePpmStream(encoded)
        (frames.map(_.length.toLong).sum,
          frames.map(unsignedSum).sum, frames.length.toLong)
    }

  /** The COMPRESSED-AT-REST corpus: [[realFixture]] with every payload
    * deflate-wrapped — how a real media lake actually stores bytes
    * (objects land zlib/gzip-framed; the format parser sees them only
    * after an inflate). The wrap is a per-row map on the generator side;
    * nothing downstream may assume payload bytes are parseable without
    * the decompress step.
    */
  def compressedFixture(spark: SparkSession, sfDir: String): Dataset[Media] = {
    import spark.implicits._
    realFixture(spark, sfDir).map(m =>
      m.copy(payload = DeflateCodec.encode(m.payload),
        format = m.format + "+deflate"))
  }

  /** m14: feature extraction over the compressed-at-rest corpus — m01's
    * pass with the real decompress step in front: every payload is
    * INFLATED ([[DeflateCodec]], genuine zlib) and only then
    * kind-dispatched through the same three decoders. The report's
    * `raw_bytes` is the post-inflate (format-encoded) length — exactly
    * the per-parity length m01 reports as `enc_bytes` — so the DuckDB
    * oracle is m01's formula oracle with that one column renamed: the
    * hash match proves the inflate recovered every byte AND the parse
    * still ran (content_sum is unreachable without both). The
    * deflate-compressed length itself is not SQL-recomputable (it depends
    * on zlib's encoder); MultimodalSpec pins the at-rest bytes are a
    * genuine round-tripping deflate stream instead.
    *
    * Scale shape: m01's exactly — one mapPartitions pass, per-partition
    * codec init, the decompress-decode chain runs once per row inside the
    * partition, payload bytes never shuffle.
    */
  def m14CompressedFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    compressedFixture(s, d).mapPartitions { rows =>
      PpmCodec.init(); WavCodec.init()
      rows.map { m =>
        val raw = DeflateCodec.decode(m.payload)
        val (decBytes, contentSum, units) = kindFeatures(m.kind, raw)
        (m.media_id, m.kind, raw.length.toLong, decBytes, contentSum, units)
      }
    }.toDF("media_id", "kind", "raw_bytes", "dec_bytes", "content_sum", "units")
      .orderBy("media_id")
  }

  /** m02: per-frame explode — one row per SAMPLED frame (every 4th 1 KiB
    * chunk), with the frame's byte span: the fan-out shape a video pipeline
    * uses to parallelize per-frame feature extraction downstream. The
    * typed flatMap is the Dataset generator surface over binary payloads;
    * byte accounting is exact, so the oracle is real SQL.
    */
  /** Chunk size for m03's content-defined dedup (bytes). */
  val DedupChunkBytes = 256

  /** m03: media near-dup via chunk hashing — the storage-dedup shape for
    * binary columns: split each payload into fixed 256-byte chunks, hash
    * every chunk (md5 IN CODEGEN over the binary slice — the hash, not the
    * media bytes, is what shuffles), and report media pairs sharing ≥ 1
    * chunk with the shared-count evidence. This is t14's cross-doc
    * recurrence contract transplanted to the binary column: both shuffles
    * key on the uniform hash, pair fan-out is bounded by real content
    * overlap (never all-pairs). A real deployment hashes content-defined
    * (rolling-hash) boundaries after decode; the fixed-boundary chunking
    * here is the documented stub — the plumbing (binary slicing, hash
    * shuffle, pair join) is production-real.
    *
    * Oracle note: fixture payloads are the documents' UTF-8 bytes and the
    * corpus is pure ASCII — asserted by MultimodalSpec ("m03 oracle
    * precondition") over every generated SF dir — so DuckDB's VARCHAR
    * `substr` slices the same bytes Spark's binary `substring` does — no
    * BLOB substring exists in DuckDB.
    */
  /** The fixed-grid chunk table of a (media_id, payload) frame —
    * (media_id, position, chunk md5, chunk bytes). ONE definition feeds
    * m03/m05/m07/m08 AND the s34 streaming maintainer (s32's
    * single-sourced-machinery discipline: an inline re-spelling in the
    * stream job would silently drift from the deployed chunk keys).
    */
  def chunkTableOf(media: DataFrame): DataFrame = media
    .withColumn("p", explode(expr(s"sequence(1, length(payload), $DedupChunkBytes)")))
    .select(col("media_id"), col("p"),
            md5(expr(s"substring(payload, p, $DedupChunkBytes)")).as("h"),
            expr(s"least(length(payload) - p + 1, $DedupChunkBytes)").as("nb"))

  def m03ChunkDedup(s: SparkSession, d: String): DataFrame = {
    val chunks = chunkTableOf(fixtureFromDocuments(s, d).toDF()
        .select(col("media_id"), col("payload")))
      .select("media_id", "h")
      .distinct() // a chunk repeated WITHIN one file counts once
    val a = chunks.toDF("m1", "h")
    val b = chunks.toDF("m2", "h")
    a.join(b, "h").filter(col("m1") < col("m2"))
      .groupBy("m1", "m2").agg(count(lit(1)).as("n_shared"))
      .orderBy("m1", "m2")
  }

  /** m07: chunk-store TIERING report — the capacity-planning view a
    * content-addressable media store derives from m03/m05's chunk table:
    * each chunk slot is HOT if its content hash appears in ≥ 2 media
    * (stored once, amortized across referrers — the dedup win) or COLD
    * (unique to its file), and each media file reports its slot count
    * plus hot/cold byte split — the numbers that size the shared-chunk
    * cache tier vs the per-file archive tier, and that show per file how
    * much of it is "common material".
    *
    * Scale shapes: m03's footprint exactly — chunk hashes shuffle (one
    * partial-agg distinct + groupBy over the uniform md5 key), payload
    * bytes never do; popularity joins back hash-to-hash; the per-media
    * rollup is a map-side-combinable groupBy on media_id.
    */
  def m07TierReport(s: SparkSession, d: String): DataFrame = {
    val slots = chunkTableOf(fixtureFromDocuments(s, d).toDF()
        .select(col("media_id"), col("payload")))
      .select("media_id", "h", "nb")
    val pop = slots.select(col("media_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("dm"))
    slots.join(pop, "h")
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum(when(col("dm") >= 2, 1L).otherwise(0L)).as("n_hot_chunks"),
           sum(when(col("dm") >= 2, col("nb").cast("long")).otherwise(0L)).as("hot_bytes"),
           sum(when(col("dm") < 2, col("nb").cast("long")).otherwise(0L)).as("cold_bytes"))
      .orderBy("media_id")
  }

  /** m15: GC-PLANNING report for the content-addressed chunk store — the
    * capacity answer an operator needs BEFORE executing a retention
    * delete (the s34/s39 delete fold executes it; this query plans it):
    * for the deterministic takedown slice (media_id % 7 == 3 — the d32
    * discipline), per deleted media: its slot count and raw bytes, the
    * chunks (and bytes) the store PHYSICALLY reclaims — chunks whose
    * every referrer is deleted, attributed to their minimum deleted
    * referrer so the per-media numbers add up without double counting —
    * and the chunks its survivors keep alive (shared bytes that do NOT
    * come back, the dedup tax in reverse). This is the planning twin of
    * s39's chunk-store GC pin ("a chunk with no live referrer
    * disappears"), as an oracle-checked batch report.
    *
    * Scale shapes: m03's footprint — only chunk hashes shuffle, payload
    * bytes never; per-hash referrer stats and the per-media rollups are
    * map-side-combinable partial-agg groupBys; the shared-live probe is
    * one semi-join on the uniform md5 key.
    */
  def m15GcReport(s: SparkSession, d: String): DataFrame = {
    val deleted = (c: org.apache.spark.sql.Column) => c % 7 === 3
    val slots = chunkTableOf(fixtureFromDocuments(s, d).toDF()
        .select(col("media_id"), col("payload")))
      .select("media_id", "h", "nb")
    val refs = slots.distinct()
    val stats = refs.groupBy("h").agg(
      sum(when(!deleted(col("media_id")), 1L).otherwise(0L)).as("live_refs"),
      min(when(deleted(col("media_id")), col("media_id"))).as("min_del"),
      // equal hash implies equal content implies equal length (the s34
      // compaction invariant, spec-asserted) — min is just associativity
      min("nb").as("nb1"))
    val perSlots = slots.filter(deleted(col("media_id")))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_slots"), sum("nb").cast("long").as("slot_bytes"))
    val freed = stats
      .filter(col("live_refs") === 0 && col("min_del").isNotNull)
      .groupBy(col("min_del").as("media_id"))
      .agg(count(lit(1)).as("n_freed_chunks"),
           sum("nb1").cast("long").as("freed_bytes"))
    val shared = refs.filter(deleted(col("media_id")))
      .join(stats.filter(col("live_refs") > 0).select("h"), Seq("h"), "left_semi")
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_shared_live"),
           sum("nb").cast("long").as("shared_live_bytes"))
    perSlots
      .join(freed, Seq("media_id"), "left")
      .join(shared, Seq("media_id"), "left")
      .select(col("media_id"), col("n_slots"), col("slot_bytes"),
        coalesce(col("n_freed_chunks"), lit(0L)).as("n_freed_chunks"),
        coalesce(col("freed_bytes"), lit(0L)).as("freed_bytes"),
        coalesce(col("n_shared_live"), lit(0L)).as("n_shared_live"),
        coalesce(col("shared_live_bytes"), lit(0L)).as("shared_live_bytes"))
      .orderBy("media_id")
  }

  /** m08: delta-sync (re-crawl) report — the rsync/CAS economics of a
    * re-ingested media batch against the existing chunk store: every 5th
    * media file arrives MODIFIED (a deterministic byte suffix — the t15
    * discipline: the planted delta is the pinned input, the sync math is
    * the operator), its fixed-grid chunks are hashed and probed against
    * the base store's distinct chunk-hash set, and the report says per
    * file how many chunks REUSE existing storage vs how many (and how
    * many bytes) must actually upload. With a fixed grid an append-only
    * edit re-uploads just the tail — the quantified version of m05's
    * "locally-edited file re-uses every untouched chunk" claim. (A
    * mid-file INSERT would shift every later grid boundary and re-upload
    * the rest — the failure mode m04's content-defined chunking exists to
    * avoid; m08 pins the grid's happy path.)
    *
    * Scale shapes: m03's footprint — only chunk hashes shuffle; the base
    * store probe is one equi-join on the uniform md5 key (at 100 TB: the
    * written chunk index); per-media rollup is map-side combinable.
    */
  def m08DeltaSync(s: SparkSession, d: String): DataFrame = {
    val base = fixtureFromDocuments(s, d).toDF().select("media_id", "payload")
    val mod = base.filter(col("media_id") % 5 === 0)
      .withColumn("payload", concat(col("payload"),
        expr("cast(concat(' updated rev ', cast(media_id as string)) as binary)")))
    def chunks(df: DataFrame): DataFrame =
      chunkTableOf(df).select("media_id", "h", "nb")
    val store = chunks(base).select(col("h").as("bh")).distinct()
    chunks(mod).join(store, col("h") === col("bh"), "left")
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum(when(col("bh").isNotNull, 1L).otherwise(0L)).as("n_reused"),
           sum(when(col("bh").isNull, 1L).otherwise(0L)).as("n_new"),
           sum(when(col("bh").isNull, col("nb").cast("long")).otherwise(0L))
             .as("bytes_upload"))
      .orderBy("media_id")
  }

  /** m05: content-addressable media MANIFEST — per media the ordered
    * chain of fixed-grid chunk hashes folded into one 56-bit manifest
    * fingerprint (hash of the concatenated chunk-md5 hex strings in
    * position order), plus chunk/byte totals. This is the dataset-
    * versioning primitive chunk stores pair with m03/m04: the manifest
    * names the FILE by content, the chunk hashes name its pieces, so a
    * re-crawled byte-identical file dedupes at the manifest level and a
    * locally-edited one re-uses every untouched chunk.
    *
    * Scale shape: per-media groupBy over chunk rows (map-side combinable
    * counts/sums; the ordered fold materializes one ≈(len/chunk)·32-char
    * string per media inside its row — bounded by media size, no
    * cross-row state). Only chunk hashes shuffle, never payload bytes —
    * m03's footprint.
    */
  def m05Manifest(s: SparkSession, d: String): DataFrame =
    chunkTableOf(fixtureFromDocuments(s, d).toDF()
        .select(col("media_id"), col("payload")))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum(col("nb").cast("long")).as("n_bytes"),
           expr(graft.functions.TextHash.sparkHash56(
             "array_join(transform(array_sort(collect_list(struct(p, h))), x -> x.h), '')"))
             .as("manifest56"))
      .orderBy("media_id")

  /** m04 content-defined chunking parameters: an 8-byte polynomial window
    * hash marks a boundary where `hash % 64 == 0` (expected chunk ≈ 64
    * bytes on uniform content), boundaries only from byte 16 on so the
    * window is always full. POSITION-INDEPENDENT by construction — every
    * byte's window hash depends only on its own 8 trailing bytes, never on
    * previous boundaries — which is what makes the boundary set (a) stable
    * under inserts/deletes elsewhere in the payload (the CDC property m03's
    * fixed 256-byte grid lacks) and (b) expressible as a pure per-row map
    * in BOTH engines, no sequential state.
    */
  val CdcWindowBytes = 8
  val CdcMask = 64L
  val CdcMinPos = 16
  /** 31^k literals, k = 0..7 — shared (interpolated) by both engines. */
  val CdcPow31: IndexedSeq[Long] =
    (0 until CdcWindowBytes).scanLeft(1L)((a, _) => a * 31L).take(CdcWindowBytes)

  /** m04: content-defined chunk dedup profile — the rolling-hash upgrade
    * m03's docstring promises: boundaries from content (window-hash
    * zeroes), so shared runs dedup even when offsets shift. Per media:
    * chunk count, chunks whose hash recurs in ANOTHER media, and the byte
    * coverage identity (Σ chunk sizes == payload length — the partition
    * proof).
    *
    * Scale shape: boundary detection never leaves the row — the codegen'd
    * [[graft.functions.CdcChunks]] expression (`cdc_chunks(payload)`)
    * emits the span set in ONE JIT'd pass per payload, so the ONLY explode
    * emits ~len/64 chunk rows and the only shuffles carry chunk hashes
    * (exactly m03's shuffle footprint). Two slower spellings are
    * documented on the expression: per-byte explode (6.2 s at sf0.1, 64×
    * transient rows) and per-byte HOF lambdas (Catalyst inlines the byte
    * array into every lambda → O(len² × window) interpreted evals — never
    * finished). Same custom-expression escape hatch as `shingles`
    * (SURVEY §7.3).
    */
  def m04CdcChunks(s: SparkSession, d: String): DataFrame = {
    val hashed = fixtureFromDocuments(s, d).toDF()
      .select(col("media_id"), col("payload"))
      .withColumn("span", explode(expr("cdc_chunks(payload)")))
      .select(col("media_id"),
              (col("span.fin") - col("span.start") + 1).as("nb"),
              md5(expr(
                "substring(payload, span.start, span.fin - span.start + 1)"))
                .as("h"))
      // two consumers with different shuffle shapes (df build + the join
      // probe): cache so cdc_chunks + per-chunk md5 over the payload bytes
      // run once, keeping the "one JIT'd pass per payload" contract
      .transform(graft.RunScope.query.cache)
    val df = hashed.groupBy("h").agg(countDistinct(col("media_id")).as("dm"))
    hashed.join(df, "h")
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum(when(col("dm") >= 2, 1L).otherwise(0L)).as("n_shared"),
           sum(col("nb")).as("bytes_covered"))
      .orderBy("media_id")
  }

  /** m06 perceptual-hash parameters: [[PhashBits]] downscaled grey cells
    * fold into a [[PhashBits]]-bit aHash; [[PhashBands]] bands of
    * [[PhashBits]]/[[PhashBands]] bits make band blocking COMPLETE for
    * Hamming distance ≤ [[PhashMaxHam]] by pigeonhole (3 differing bits
    * can dirty at most 3 of 4 bands). */
  val PhashBits = 32
  val PhashBands = 4
  val PhashMaxHam = 3

  /** m06 image geometry: 16×8 RGB pixels downscaled 2×2 → an 8×4 = 32-cell
    * grey grid (one aHash bit per cell). [[PpmJitterGroup]] consecutive
    * doc_ids share one base image; member j re-encodes it with cells
    * 0..j-1 inverted — NESTED jitter sets, so two members' Hamming
    * distance is exactly |j1−j2| and the ham ≤ [[PhashMaxHam]] verdict
    * has planted positives AND negatives inside every group.
    */
  val PpmW = 16
  val PpmH = 8
  val PpmJitterGroup = 8

  /** The base-image bit for (group, cell) — the same integer-hash family
    * as Similarity's Rademacher planes; spelled identically in the DuckDB
    * oracle. */
  private[graft] def ppmBaseBit(g: Long, c: Int): Long =
    ((g * 2654435761L + c * 40503L + 12345L) >> 5) & 1L

  /** Deterministic PPM fixture: one 16×8 P6 image per document. Cell
    * (base-bit XOR jitter) picks a grey TARGET t ∈ {48, 96}; the cell's
    * 2×2 pixels carry per-channel structure (r=t+2, g=t, b=t−2) and a
    * zero-sum per-pixel delta (−1,0,+1,0), so the decoder must really
    * average channels and really downscale to recover t exactly. Odd ids
    * get a `#`-comment header line (variable header length — a
    * fixed-offset "parser" cannot decode both parities).
    */
  /** The RGB raster for (base-pattern group g, jitter prefix j) — shared
    * by the m06 still-image fixture and m12's frame builder. */
  private[graft] def ppmRgb(g: Long, j: Int): Array[Byte] = {
    val rgb = new Array[Byte](PpmW * PpmH * 3)
    var y = 0
    while (y < PpmH) {
      var x = 0
      while (x < PpmW) {
        val c = (y / 2) * (PpmW / 2) + (x / 2)
        val bit = ppmBaseBit(g, c) ^ (if (c < j) 1L else 0L)
        val t = 48 + 48 * bit.toInt
        val dp = ((y % 2) * 2 + (x % 2)) match {
          case 0 => -1; case 1 => 0; case 2 => 1; case _ => 0
        }
        val base = (y * PpmW + x) * 3
        rgb(base) = (t + 2 + dp).toByte
        rgb(base + 1) = (t + dp).toByte
        rgb(base + 2) = (t - 2 + dp).toByte
        x += 1
      }
      y += 1
    }
    rgb
  }

  def ppmFixture(spark: SparkSession, sfDir: String): Dataset[Media] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
      .map { id =>
        val rgb = ppmRgb(id / PpmJitterGroup, (id % PpmJitterGroup).toInt)
        val comment = if (id % 2 == 1) Some(s" re-encode pass for media $id") else None
        Media(id, "image", PpmCodec.encode(PpmW, PpmH, rgb, comment),
          width = PpmW, height = PpmH, duration_ms = 0L, format = "ppm")
      }
  }

  /** m12's clip fixture: one P6 stream of [[ClipFrames]] frames per
    * document — frame f is the doc's base pattern with jitter prefix
    * ⌊f/2⌋ (consecutive frames alternate identical/one-cell-changed),
    * and every frame carries its own header (odd frames a comment line,
    * so the stream walk must re-parse variable headers mid-payload).
    */
  def clipFixture(spark: SparkSession, sfDir: String): Dataset[Media] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
      .map { id =>
        val frames = (0 until ClipFrames).map { f =>
          PpmCodec.encode(PpmW, PpmH, ppmRgb(id, f / 2),
            if (f % 2 == 1) Some(s" frame $f of clip $id") else None)
        }
        Media(id, "video", frames.reduce(_ ++ _),
          width = PpmW, height = PpmH,
          duration_ms = ClipFrames * 40L, format = "ppm-stream")
      }
  }

  /** Frames per scene in m17's fixture (two scenes per 6-frame clip). */
  val SceneFrames = 3

  /** Hamming bits of consecutive-frame distance that declare a CUT —
    * within-scene jitter moves ≤ 2 cells (≤ 2 bits); a pattern change
    * re-rolls every cell (~16 expected bits), so 8 separates the modes
    * with wide margins on both sides (the rare clip whose re-roll lands
    * under 8 simply reports fewer cuts — both engines agree either way).
    */
  val CutThreshold = 8

  /** m17's fixture: one P6 stream per document with a real SCENE
    * structure — frame f belongs to scene ⌊f/[[SceneFrames]]⌋, each
    * scene renders a DIFFERENT base pattern (group id per (doc, scene)),
    * and frames inside a scene carry the small jitter walk (prefix
    * f % SceneFrames). Odd frames keep m12's comment-line headers so the
    * stream walk must still re-parse variable headers mid-payload.
    */
  def sceneFixture(spark: SparkSession, sfDir: String): Dataset[Media] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
      .map { id =>
        val frames = (0 until ClipFrames).map { f =>
          PpmCodec.encode(PpmW, PpmH,
            ppmRgb(id * 7 + (f / SceneFrames) * 3 + 1, f % SceneFrames),
            if (f % 2 == 1) Some(s" scene frame $f of clip $id") else None)
        }
        Media(id, "video", frames.reduce(_ ++ _),
          width = PpmW, height = PpmH,
          duration_ms = ClipFrames * 40L, format = "ppm-stream")
      }
  }

  /** m17: SCENE-CUT detection — the shot-segmentation step a video
    * curation pipeline runs before frame sampling (m12 dedups near-still
    * frames; m17 finds the BOUNDARIES): consecutive decoded frames'
    * aHash hamming distance is thresholded at [[CutThreshold]] — the
    * within-scene jitter stays ≤ 2 bits while a scene change re-rolls
    * the whole 32-cell pattern — and the clip's audit row reports the
    * cut count, the scene count, and the energy split (hamming mass at
    * cuts vs inside scenes: the signal-vs-motion decomposition a
    * threshold tuner reads). The oracle recomputes every frame hash from
    * the per-(doc, scene) cell formula the fixture encodes, so equality
    * proves the stream walk found every frame boundary AND the hash
    * pipeline matched per frame. Scale shape: one mapPartitions pass,
    * payload bytes never shuffle, fixed-width integers out.
    */
  def m17SceneCuts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sceneFixture(s, d).mapPartitions { rows =>
      PpmCodec.init()
      rows.map { m =>
        val hs = decodePpmStream(m.payload).map(g => ppmAHash(g, PpmW, PpmH))
        val hams = hs.sliding(2).map {
          case Seq(a, b) => java.lang.Long.bitCount(a ^ b).toLong
          case _ => 0L
        }.toSeq
        val cuts = hams.count(_ >= CutThreshold).toLong
        (m.media_id, hs.length.toLong, cuts, cuts + 1L,
          hams.filter(_ >= CutThreshold).sum,
          hams.filter(_ < CutThreshold).sum)
      }
    }.toDF("media_id", "n_frames", "n_cuts", "n_scenes",
        "cut_energy", "motion_energy")
      .orderBy("media_id")
  }

  /** See [[decodePpmStream]]'s scaladoc block above for the m12 story. */
  def m12ClipTemporalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    clipFixture(s, d).mapPartitions { rows =>
      PpmCodec.init()
      rows.map { m =>
        val hashes = decodePpmStream(m.payload)
          .map(g => ppmAHash(g, PpmW, PpmH))
        val consec = hashes.sliding(2).map {
          case Seq(a, b) => java.lang.Long.bitCount(a ^ b).toLong
          case _ => 0L
        }.toSeq
        val kept = 1L + consec.count(_ > 0)
        (m.media_id, hashes.length.toLong, kept, consec.sum)
      }
    }.toDF("media_id", "n_frames", "kept_frames", "motion_ham")
      .orderBy("media_id")
  }

  /** aHash over a decoded grey buffer: 2×2-block downscale to the 32-cell
    * grid, then threshold each cell against the global mean (cell·32 >
    * Σcells — the integer spelling shared with the oracle). */
  def ppmAHash(grey: Array[Byte], w: Int, h: Int): Long = {
    val cw = w / 2
    val cells = new Array[Long](cw * (h / 2))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        cells((y / 2) * cw + (x / 2)) += (grey(y * w + x) & 0xff).toLong
        x += 1
      }
      y += 1
    }
    var tot = 0L
    cells.foreach(tot += _)          // cells hold 4x the mean; ratios are unchanged
    var ph = 0L
    var c = 0
    while (c < cells.length) {
      if (cells(c) * cells.length > tot) ph |= 1L << c
      c += 1
    }
    ph
  }

  /** m06: perceptual near-dup via average-hash blocking — m03/m04 find
    * media sharing EXACT byte runs; this finds media that LOOK alike after
    * re-encoding jitter, the other half of media dedup. The pipeline is
    * end-to-end REAL since round 9: genuine P6 PPM payloads (variable
    * headers incl. comment lines) are decoded by [[PpmCodec]] — an actual
    * spec-grammar parser, not a fixed offset — channel-averaged to grey,
    * 2×2-downscaled to the 32-cell grid, mean-thresholded into the aHash
    * ([[ppmAHash]]), then banded, equi-joined and popcount-verified. The
    * fixture's nested re-encode jitter (see [[ppmFixture]]) plants
    * positives and negatives at exact Hamming distances, and the DuckDB
    * oracle recomputes the hash from the cell FORMULA the pixels encode —
    * so the hash match proves the parser located and reduced the raster
    * correctly (MultimodalSpec additionally golden-tests the parser and
    * its malformed-input failures).
    *
    * Scale shape: decode + hash is ONE mapPartitions pass (per-partition
    * codec init — the batched-UDF shape); media pairs come from an
    * EQUI-join on (band, 8-bit band value) — never all-pairs — and the
    * exact `bit_count(xor)` re-check runs only on band-collision
    * candidates, the generate-then-verify discipline of d10/d15. Only
    * 64-bit hashes shuffle; payload bytes never leave the first stage.
    */
  def m06PhashNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ph = ppmFixture(s, d).mapPartitions { rows =>
      PpmCodec.init() // once per partition — amortized codec setup
      rows.map { m =>
        (m.media_id, ppmAHash(PpmCodec.decode(m.payload), PpmW, PpmH))
      }
    }.toDF("media_id", "ph")
    val bands = ph.select(col("media_id"), col("ph"),
        explode(expr(s"sequence(0, ${PhashBands - 1})")).as("b"))
      .withColumn("bk",
        expr(s"shiftright(ph, b * ${PhashBits / PhashBands}) & ${(1 << (PhashBits / PhashBands)) - 1}"))
    val lhs = bands.select(col("media_id").as("m1"), col("ph").as("ph1"),
      col("b"), col("bk"))
    val rhs = bands.select(col("media_id").as("m2"), col("ph").as("ph2"),
      col("b"), col("bk"))
    lhs.join(rhs, Seq("b", "bk"))
      .where(col("m1") < col("m2"))
      .select("m1", "m2", "ph1", "ph2").distinct()
      .withColumn("ham", expr("cast(bit_count(ph1 ^ ph2) as int)"))
      .where(col("ham") <= PhashMaxHam)
      .select(col("m1"), col("m2"), col("ham"))
      .orderBy("m1", "m2")
  }

  /** REAL 2× box-filter downscale of an RGB raster: each output pixel is
    * the per-channel integer mean of its 2×2 source block (the standard
    * box filter; plain truncating /4 — the fixture's zero-sum deltas make
    * it exact, and any rounding policy would be applied identically
    * everywhere). This retires `resizeMeta`'s metadata-only stub for the
    * image path: m13 decodes, REALLY resamples pixels, and re-encodes.
    */
  def resizeHalf(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(w % 2 == 0 && h % 2 == 0, s"resizeHalf needs even dims, got ${w}x$h")
    val ow = w / 2
    val out = new Array[Byte](ow * (h / 2) * 3)
    var y = 0
    while (y < h / 2) {
      var x = 0
      while (x < ow) {
        var ch = 0
        while (ch < 3) {
          val tl = ((2 * y) * w + 2 * x) * 3 + ch
          val s = (rgb(tl) & 0xff) + (rgb(tl + 3) & 0xff) +
            (rgb(tl + 3 * w) & 0xff) + (rgb(tl + 3 * w + 3) & 0xff)
          out((y * ow + x) * 3 + ch) = (s / 4).toByte
          ch += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** m13: REAL image resize — the brief's "resize" leg upgraded from the
    * metadata stub to actual pixel resampling: every fixture image is
    * parsed ([[PpmCodec.decodeRgb]] — the RGB-domain decode), 2×
    * box-downscaled per channel ([[resizeHalf]]), and RE-ENCODED as a
    * normalized P6 (comment headers do not survive a re-encode — the
    * emitted size is exactly the canonical header + the halved raster).
    * Features prove the resample: the resized image's content checksum
    * and its 32-bit mean-threshold hash, which the DuckDB oracle
    * recomputes from the CELL FORMULA the original pixels encode —
    * equality holds only if the per-channel box filter really averaged
    * the right 2×2 blocks (the fixture's per-pixel deltas are zero-sum
    * per block and its per-channel structure is ±2, so resized grey ==
    * the cell target t exactly). Because the fixture's aHash grid IS the
    * 2×2 block grid, the resized hash also equals m06's original-image
    * aHash — the scale-invariance pin MultimodalSpec asserts.
    *
    * Scale shape: one mapPartitions pass (batched-decode seam), payloads
    * never shuffle, fixed-width features out.
    */
  def m13ResizeReal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ppmFixture(s, d).mapPartitions { rows =>
      PpmCodec.init()
      rows.map { m =>
        val (w, h, rgb) = PpmCodec.decodeRgb(m.payload)
        val resized = PpmCodec.encode(w / 2, h / 2, resizeHalf(w, h, rgb))
        val grey = PpmCodec.decode(resized)
        var tot = 0L
        grey.foreach(b => tot += b & 0xff)
        var hash = 0L
        var c = 0
        while (c < grey.length) {
          if ((grey(c) & 0xff).toLong * grey.length > tot) hash |= 1L << c
          c += 1
        }
        (m.media_id, w, h, w / 2, h / 2, resized.length.toLong, tot, hash)
      }
    }.toDF("media_id", "w0", "h0", "w1", "h1", "enc_bytes",
           "content_sum", "rhash")
      .orderBy("media_id")
  }

  /** m12 frames per clip. */
  val ClipFrames = 6

  /** m12: VIDEO over the same seam — clips are P6 STREAMS (concatenated
    * header+raster frames, the netpbm stream format ffmpeg/mpv accept),
    * so the video decoder is the REAL image parser run in sequence:
    * [[decodePpmStream]] walks the payload frame by frame through
    * [[PpmCodec]]'s grammar (every frame re-parses its own variable
    * header) and returns one grey raster per frame. m12 then runs the
    * production first pass over frames — per-frame aHash
    * ([[ppmAHash]], m06's machinery) and TEMPORAL dedup: a frame is
    * KEPT iff its hash differs from the immediately previous frame's
    * (the consecutive-duplicate drop every video pipeline runs before
    * paying per-frame inference). Report per
    * clip: frame count, kept count, and the summed consecutive Hamming
    * distance (the motion proxy). The fixture builds frame f from m06's
    * cell formula with jitter prefix ⌊f/2⌋ — consecutive frames
    * alternate identical/changed, so kept = 3 of 6 by construction and
    * the oracle recomputes everything from the formula (equality proves
    * the stream walk found every frame boundary exactly).
    * Scale shape: one mapPartitions pass per clip (frames never become
    * rows unless a pipeline asks — m02 is the explode shape), fixed
    * integer features out.
    */
  def decodePpmStream(payload: Array[Byte]): Seq[Array[Byte]] = {
    // frame-by-frame: parse one P6 at the cursor, advance by its exact
    // encoded length (header + raster), repeat until the payload ends.
    // The cursor goes INTO decodeWithLength (its `from` offset) — the old
    // copy-the-tail-per-frame spelling was O(frames × payload bytes) in
    // copying, quadratic on long clips (r09 advice).
    val frames = scala.collection.mutable.Buffer.empty[Array[Byte]]
    var pos = 0
    while (pos < payload.length) {
      val (grey, end) = PpmCodec.decodeWithLength(payload, pos)
      frames += grey
      pos = end
    }
    frames.toSeq
  }

  /** m11 waveform length per clip. */
  val WavSamples = 64

  /** Deterministic WAV fixture: one 64-sample mono PCM16 clip per
    * document, samples from the integer pseudo-sawtooth
    * `((doc·7919 + i·(3 + doc%17)) % 2001) − 1000` — SQL-expressible, so
    * the oracle recomputes the FEATURES from the formula while the Spark
    * side must recover the same samples through the real RIFF chunk walk
    * (odd ids plant a LIST junk chunk before `data` — variable layout,
    * no fixed-offset shortcut).
    */
  def wavFixture(spark: SparkSession, sfDir: String): Dataset[Media] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
      .map { id =>
        val step = 3 + (id % 17).toInt
        val samples = Array.tabulate(WavSamples) { i =>
          ((id * 7919L + i.toLong * step) % 2001L).toInt - 1000
        }
        Media(id, "audio", WavCodec.encode(samples, junkChunk = id % 2 == 1),
          width = 0, height = 0,
          duration_ms = WavSamples * 1000L / 8000L, format = "wav")
      }
  }

  /** m11: audio feature extraction over REAL encoded waveforms — the
    * audio twin of m06's real-image claim: genuine RIFF/WAVE payloads
    * (variable chunk layout) decoded by [[WavCodec]]'s spec chunk walk,
    * then the standard first-pass audio features — peak amplitude,
    * energy (Σs², the RMS numerator kept integer-exact), and
    * zero-crossing count (the classic voiced/unvoiced + pitch-proxy
    * signal) — computed from the recovered samples. The DuckDB oracle
    * recomputes every feature from the sample FORMULA the fixture
    * encodes, so feature equality proves the parse recovered each
    * 16-bit little-endian sample exactly (MultimodalSpec additionally
    * golden-tests the chunk walk and its malformed-input failures).
    * Scale shape: one mapPartitions pass (per-partition codec init),
    * fixed-width integer features out, payload bytes never shuffle.
    */
  def m11WavFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    wavFixture(s, d).mapPartitions { rows =>
      WavCodec.init()
      rows.map { m =>
        val ss = pcm16(WavCodec.decode(m.payload))
        var sumSq = 0L
        var peak = 0L
        var zc = 0L
        var i = 0
        while (i < ss.length) {
          val v = ss(i).toLong
          sumSq += v * v
          if (math.abs(v) > peak) peak = math.abs(v)
          if (i > 0 && v * ss(i - 1).toLong < 0) zc += 1
          i += 1
        }
        (m.media_id, ss.length.toLong, peak, sumSq, zc)
      }
    }.toDF("media_id", "n_samples", "peak", "sum_sq", "zero_crossings")
      .orderBy("media_id")
  }

  /** m16 decimation factor: the 8 kHz fixture resamples to 2 kHz.
    * MUST divide [[WavSamples]]: m16's Scala side iterates whole blocks
    * (`nb = n / k`, trailing partial block dropped) while the DuckDB
    * oracle groups `i // k` over ALL samples and would include a partial
    * tail — the engines agree only when there is no tail. The assert
    * keeps a future edit to either constant from silently desyncing them.
    */
  val ResampleFactor = 4
  require(WavSamples % ResampleFactor == 0,
    s"WavSamples ($WavSamples) must be divisible by ResampleFactor " +
      s"($ResampleFactor): m16 drops a trailing partial block, its oracle does not")

  /** m16: audio DOWNSAMPLING (boxcar decimation) — the sample-rate
    * normalization step an audio training pipeline runs before batching
    * (m11 profiles waveforms; nothing RESAMPLED them): decode through
    * [[WavCodec]]'s real RIFF chunk walk, low-pass each
    * [[ResampleFactor]]-sample block with the boxcar SUM (the
    * unnormalized moving average — integer-exact; a mean would divide
    * and negative samples make truncation direction an engine question),
    * keep one value per block (8 kHz → 2 kHz), and emit the resampled
    * stream's audit row: block count, peak |block|, energy Σb², and the
    * position-weighted checksum Σ(j+1)·b_j — the checksum pins VALUES
    * AND ORDER, so the hash match proves the chunk walk recovered every
    * 16-bit sample and the decimation preserved sequence (features alone
    * could survive a permuted stream). The oracle recomputes the blocks
    * from the sawtooth formula the fixture encodes (m11's discipline).
    * Scale shape: one mapPartitions pass, per-partition codec init,
    * fixed-width integers out, payload bytes never shuffle — flat at
    * 100 TB.
    */
  def m16WavResample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = ResampleFactor
    wavFixture(s, d).mapPartitions { rows =>
      WavCodec.init()
      rows.map { m =>
        val ss = pcm16(WavCodec.decode(m.payload))
        val nb = ss.length / k
        var peak = 0L
        var sumSq = 0L
        var checksum = 0L
        var j = 0
        while (j < nb) {
          var b = 0L
          var i = j * k
          while (i < (j + 1) * k) { b += ss(i); i += 1 }
          if (math.abs(b) > peak) peak = math.abs(b)
          sumSq += b * b
          checksum += (j + 1).toLong * b
          j += 1
        }
        (m.media_id, nb.toLong, peak, sumSq, checksum)
      }
    }.toDF("media_id", "n_blocks", "peak_block", "sum_sq_block", "checksum")
      .orderBy("media_id")
  }

  /** m20 Goertzel twiddle coefficients c = 2·cos(ω), one per analysis
    * bin, at the five frequencies where 2·cos(ω) is exactly INTEGRAL —
    * ω ∈ {0, π/3, π/2, 2π/3, π} (DC, N/6, N/4, N/3 cycles-per-window and
    * Nyquist). Chosen precisely so the Goertzel recurrence
    * `s[n] = x[n] + c·s[n−1] − s[n−2]` is pure 64-bit integer arithmetic
    * in BOTH engines: no scaled fixed-point twiddle, no floor-vs-truncate
    * division discipline (q198/q199's pmod dance), no float drift — the
    * oracle can only match if the recurrence ran per sample in order.
    * Worst-case growth is the DC bin (c = 2): |s| ≤ N²·max|x| ≈ 4.1 M at
    * N = 64, so powers stay far inside Long.
    */
  val GoertzelCoefs: Array[Int] = Array(2, 1, 0, -1, -2)

  /** m20: FREQUENCY-DOMAIN audio features — the spectral leg the
    * time-domain m11 (peak/energy/zero-crossings) and m16 (decimation)
    * never covered: per clip, the Goertzel power
    * `p = s1² + s2² − c·s1·s2` at each of the [[GoertzelCoefs]] bins over
    * the REAL RIFF/WAVE payload ([[WavCodec]]'s spec chunk walk — odd ids
    * carry the junk-chunk layout, so no fixed-offset shortcut), plus the
    * dominant bin (argmax power, ties to the lowest bin). The DuckDB
    * oracle runs the SAME integer recurrence via a recursive CTE over the
    * sample formula the fixture encodes — a per-sample, order-sensitive
    * computation, so the hash match proves the chunk walk recovered every
    * 16-bit sample in sequence AND the recurrence is bit-identical (a
    * permuted or off-by-one sample stream changes s1/s2 irreversibly).
    * Scale shape: one mapPartitions pass, per-partition codec init, k=5
    * fixed bins of O(1) state per clip, fixed-width integers out, payload
    * bytes never shuffle — flat at 100 TB.
    */
  def m20WavSpectral(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    wavFixture(s, d).mapPartitions { rows =>
      WavCodec.init()
      rows.flatMap { m =>
        val ss = pcm16(WavCodec.decode(m.payload))
        val powers = GoertzelCoefs.map { c =>
          var s1 = 0L
          var s2 = 0L
          var i = 0
          while (i < ss.length) {
            val s0 = ss(i).toLong + c * s1 - s2
            s2 = s1
            s1 = s0
            i += 1
          }
          s1 * s1 + s2 * s2 - c * s1 * s2
        }
        val maxP = powers.max
        val dom = powers.indexWhere(_ == maxP)
        powers.zipWithIndex.map { case (p, k) =>
          (m.media_id, k.toLong, GoertzelCoefs(k).toLong, p,
            if (k == dom) 1L else 0L)
        }
      }
    }.toDF("media_id", "bin", "coef", "power", "is_dominant")
      .orderBy("media_id", "bin")
  }

  /** m21 frame length: 64-sample clips split into 4 non-overlapping
    * 16-sample analysis frames. MUST divide [[WavSamples]] — the Scala
    * side iterates whole frames and the oracle generates exactly
    * WavSamples/FrameLen of them (m16's divisibility discipline).
    */
  val FrameLen = 16
  require(WavSamples % FrameLen == 0,
    s"WavSamples ($WavSamples) must be divisible by FrameLen ($FrameLen): " +
      "m21 iterates whole frames, its oracle generates exactly that many")

  /** m21: SHORT-TIME spectral frames (the spectrogram row) — m20 is
    * clip-level; voice-activity/scene work needs the TIME-RESOLVED
    * version: the same integer Goertzel ([[GoertzelCoefs]] — exact
    * integral twiddles, see m20) run per non-overlapping
    * [[FrameLen]]-sample frame, emitting (clip, frame, bin, power) plus
    * each frame's dominant bin. State resets per frame, so the oracle's
    * recursive CTE must restart its recurrence at every frame boundary —
    * a match proves frame SEGMENTATION and per-frame recurrence both ran
    * exactly (an off-by-one frame boundary shifts every later frame's
    * state irreversibly). Scale shape: one mapPartitions pass,
    * frames×bins fixed-width rows out, payloads never shuffle.
    */
  def m21WavFrames(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fl = FrameLen
    wavFixture(s, d).mapPartitions { rows =>
      WavCodec.init()
      rows.flatMap { m =>
        val ss = pcm16(WavCodec.decode(m.payload))
        val nf = ss.length / fl
        (0 until nf).flatMap { f =>
          val powers = GoertzelCoefs.map { c =>
            var s1 = 0L
            var s2 = 0L
            var i = f * fl
            while (i < (f + 1) * fl) {
              val s0 = ss(i).toLong + c * s1 - s2
              s2 = s1
              s1 = s0
              i += 1
            }
            s1 * s1 + s2 * s2 - c * s1 * s2
          }
          val maxP = powers.max
          val dom = powers.indexWhere(_ == maxP)
          powers.zipWithIndex.map { case (p, k) =>
            (m.media_id, f.toLong, k.toLong, p,
              if (k == dom) 1L else 0L)
          }
        }
      }
    }.toDF("media_id", "frame", "bin", "power", "is_dominant")
      .orderBy("media_id", "frame", "bin")
  }

  /** m18 PNG fixture dimensions: 10 rows cycle all five scanline filter
    * types twice (`row % 5`), so every reconstruction path is exercised
    * per image.
    */
  val PngW = 16
  val PngH = 10

  /** m18: PNG DECODE features — the format-diverse image path ([[PngCodec]];
    * m01/m06/m13 decode P6): each media row builds a REAL PNG (deterministic
    * pixel formula, per-row filter type `row % 5`, a skipped `tEXt` chunk on
    * odd ids) and decodes it through the full stack — chunk walk with CRC
    * verification, zlib inflate, per-scanline unfilter for all five types —
    * then reports the raster's pixel sum and the position-weighted checksum
    * Σ(i+1)·pᵢ over the flattened RGB raster. The checksum pins VALUES AND
    * ORDER of every reconstructed byte, so the oracle (which recomputes the
    * pixels from the formula alone) matches ONLY if the inflate ran and
    * every filter type inverted exactly — skip the Paeth rows and 2/10 of
    * each image's bytes corrupt. Scale shape: one mapPartitions pass,
    * per-row codec work, fixed-width integers out; payload bytes never
    * shuffle — flat at 100 TB.
    */
  def m18PngDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = PngW; val h = PngH
    graft.Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val stride = w * 3
          val rgb = Array.tabulate(w * h * 3) { i =>
            val r = i / stride; val c = (i % stride) / 3; val k = i % 3
            ((id * 7 + r * 31 + c * 13 + k * 5) % 256).toByte
          }
          val payload = PngCodec.encode(w, h, rgb, r => r % 5,
            m19MetaOf(id))
          val (dw, dh, out) = PngCodec.decodeRgb(payload)
          var sum = 0L; var checksum = 0L; var i = 0
          while (i < out.length) {
            val v = out(i) & 0xff
            sum += v; checksum += (i + 1).toLong * v
            i += 1
          }
          (id, dw.toLong, dh.toLong, sum, checksum)
        }
      }.toDF("media_id", "width", "height", "sum_px", "checksum")
      .orderBy("media_id")
  }

  /** The deterministic tEXt metadata the m18 fixture embeds per media id
    * (m19 parses it back): every image carries a title; odd ids add a
    * generator tag, so the extraction must handle 1 vs 2 tEXt chunks and
    * the pixel walk must skip a VARIABLE ancillary load.
    */
  private[graft] def m19MetaOf(id: Long): Seq[(String, String)] =
    Seq("title" -> s"doc $id") ++
      (if (id % 2 == 1) Seq("generator" -> s"graft ${id % 7}") else Nil)

  /** m19: metadata EXTRACTION from the PNG container — the sidecar-free
    * metadata path a media lake runs at ingest (EXIF/XMP in production;
    * PNG `tEXt` is the same chunk-walk shape in the format this repo
    * really decodes): each fixture image's text chunks (keyword NUL value
    * per the PNG grammar, CRCs verified by the same walk as the pixel
    * decode) parse back into (media_id, key, value) rows. The oracle
    * recomputes the strings from [[m19MetaOf]]'s formulas — a match
    * proves the chunk walk found every tEXt chunk, split on the NUL, and
    * round-tripped ISO-8859-1 bytes exactly. Scale shape: one
    * mapPartitions pass, header-only work per row (the inflate never
    * runs), payloads never shuffle.
    */
  def m19PngMetadata(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = PngW; val h = PngH
    graft.Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.flatMap { id =>
          val stride = w * 3
          val rgb = Array.tabulate(w * h * 3) { i =>
            val r = i / stride; val c = (i % stride) / 3; val k = i % 3
            ((id * 7 + r * 31 + c * 13 + k * 5) % 256).toByte
          }
          val payload = PngCodec.encode(w, h, rgb, r => r % 5, m19MetaOf(id))
          PngCodec.textChunks(payload).map { case (k, v) => (id, k, v) }
        }
      }.toDF("media_id", "key", "value")
      .orderBy("media_id", "key")
  }

  /** Training batch size for m09 (a multiple of the 3 modalities, so full
    * batches carry exactly BatchSize/3 of each kind).
    */
  val BatchSize = 12

  /** m09: modality-balanced batch assembly — interleave image/audio/video
    * items round-robin into fixed-size training batches so every full
    * batch sees the same modality mix (the batch-composition step a
    * multimodal training job runs after packing). Per-kind ranks come
    * from the KEYED range-partitioned prefix count
    * ([[graft.queries.TextOps.prefixSum]] with `keyCols` — NEVER a
    * 3-partition `Window.partitionBy(kind)`, which would put a third of
    * a 100 TB corpus in one task); the interleave position
    * `(rank−1)·3 + kind_idx` is then a pure per-row expression, and the
    * batch report is one partial-agg groupBy over O(corpus/BatchSize)
    * keys. The `balanced` flag proves the round-robin: every batch's
    * per-kind counts differ by ≤ 1 (the tail batches where a modality
    * exhausts are exactly the rows where it may drop below).
    */
  def m09BatchAssembly(s: SparkSession, d: String): DataFrame = {
    val media = graft.Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' " +
        "WHEN 1 THEN 'audio' ELSE 'video' END").as("kind"),
      expr("CAST(doc_id % 3 AS INT)").as("kidx"))
      .withColumn("one", lit(1L))
    val ranked = graft.queries.TextOps.prefixSum(
      media, "media_id", "one", "rank",
      includeCurrent = true, keyCols = Seq("kind"))
    ranked
      .withColumn("pos", (col("rank") - 1) * 3 + col("kidx"))
      .withColumn("batch", expr(s"cast(pos div $BatchSize as int)"))
      .groupBy("batch")
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("kind") === "image", 1L).otherwise(0L)).as("n_image"),
        sum(when(col("kind") === "audio", 1L).otherwise(0L)).as("n_audio"),
        sum(when(col("kind") === "video", 1L).otherwise(0L)).as("n_video"),
        min(col("media_id")).as("first_media"))
      .withColumn("balanced",
        greatest(col("n_image"), col("n_audio"), col("n_video")) -
          least(col("n_image"), col("n_audio"), col("n_video")) <= 1)
      .orderBy("batch")
  }

  /** m10's magic table: 4-byte ASCII sentinels per modality (real magics
    * — PNG/RIFF/ftyp — are arbitrary bytes; ASCII keeps the fixture
    * oracle-able while the PLUMBING — binary prepend, prefix slice,
    * broadcast dispatch table — is exactly the production shape).
    */
  val MagicTable: Seq[(String, String)] =
    Seq("image" -> "IMG:", "audio" -> "AUD:", "video" -> "VID:")

  /** m10: content-type sniffing from magic bytes — the ingest-edge
    * dispatch every media lake runs before trusting an extension: each
    * payload is tagged with its modality's 4-byte magic, then the
    * sniffer reads ONLY the 4-byte binary prefix and resolves it against
    * the broadcast magic table (a join, not a CASE — the table is data,
    * extensible without a plan change). The pin: the sniffed kind must
    * round-trip to the label for every row, and byte accounting stays
    * exact. Per-row codegen + one ≤3-row broadcast join; payload bytes
    * never shuffle.
    *
    * The dispatch stays in the BINARY domain end to end: the prefix is
    * joined as bytes against the encoded magic table, never
    * charset-decoded — Spark 4's `decode(..., 'UTF-8')` throws
    * MALFORMED_CHARACTER_CODING on invalid sequences, so a string-domain
    * sniff would let ONE junk payload fail the whole ingest scan (found
    * by the r10 fuzz battery; real magics are arbitrary bytes anyway).
    */
  def m10MagicSniff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val magics = MagicTable.toDF("sniffed_kind", "magic")
      .withColumn("magic_bin", expr("encode(magic, 'UTF-8')"))
      .select("sniffed_kind", "magic_bin")
    fixtureFromDocuments(s, d).toDF()
      .withColumn("tagged", expr(
        """concat(encode(CASE kind WHEN 'image' THEN 'IMG:'
          |               WHEN 'audio' THEN 'AUD:' ELSE 'VID:' END, 'UTF-8'),
          |        payload)""".stripMargin))
      .withColumn("magic_bin", expr("substring(tagged, 1, 4)"))
      .join(broadcast(magics), "magic_bin")
      .select(col("media_id"), col("sniffed_kind"),
        (col("sniffed_kind") === col("kind")).as("matches_label"),
        expr("cast(octet_length(tagged) - 4 as bigint)").as("body_bytes"))
      .orderBy("media_id")
  }

  /** m02: per-frame EXPLODE over the real video corpus — the fan-out
    * shape a video pipeline uses to parallelize per-frame work
    * downstream (m12 is the keep-in-row temporal pass; this is the
    * one-row-per-frame sibling): every clip's P6 stream is walked by the
    * real parser and each decoded frame becomes a row with its byte size
    * and content checksum. Until round 10 this exploded synthetic 1 KiB
    * chunks of raw payload; the oracle now recomputes each frame's
    * checksum from the cell formula its pixels encode, so the fan-out
    * provably carries DECODED frames. The flatMap is the typed Dataset
    * generator surface over binary payloads; only fixed-width frame
    * features leave the decode stage — never pixel buffers.
    */
  def m02FrameExplode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    realFixture(s, d).filter(col("kind") === "video").as[Media]
      .flatMap { m =>
        decodePpmStream(m.payload).zipWithIndex.map { case (grey, f) =>
          var sum = 0L
          var i = 0
          while (i < grey.length) { sum += grey(i) & 0xff; i += 1 }
          (m.media_id, f, grey.length, sum)
        }
      }
      .toDF("media_id", "frame_idx", "frame_bytes", "frame_sum")
      .orderBy("media_id", "frame_idx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m01_multimodal_features" -> m01MultimodalFeatures _,
    "m02_frame_explode"       -> m02FrameExplode _,
    "m03_chunk_dedup"         -> m03ChunkDedup _,
    "m04_cdc_chunks"          -> m04CdcChunks _,
    "m05_manifest"            -> m05Manifest _,
    "m06_phash_neardup"       -> m06PhashNearDup _,
    "m07_tier_report"         -> m07TierReport _,
    "m08_delta_sync"          -> m08DeltaSync _,
    "m09_batch_assembly"      -> m09BatchAssembly _,
    "m10_magic_sniff"         -> m10MagicSniff _,
    "m11_wav_features"        -> m11WavFeatures _,
    "m12_clip_temporal_dedup" -> m12ClipTemporalDedup _,
    "m13_resize_real"         -> m13ResizeReal _,
    "m14_compressed_features" -> m14CompressedFeatures _,
    "m15_gc_report"           -> m15GcReport _,
    "m16_wav_resample"        -> m16WavResample _,
    "m17_scene_cuts"          -> m17SceneCuts _,
    "m18_png_decode"          -> m18PngDecode _,
    "m19_png_metadata"        -> m19PngMetadata _,
    "m20_wav_spectral"        -> m20WavSpectral _,
    "m21_wav_frames"          -> m21WavFrames _)
}
