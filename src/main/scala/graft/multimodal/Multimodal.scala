package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines: opaque `binary` payloads + typed metadata structs, with
  * decode/feature-extract as per-partition batch transforms.
  *
  * Image, audio, and video decode are all REAL on pure-JDK parsers
  * ([[MediaDecoder.ImageIo]]: PNG/BMP/GIF/JPEG via `javax.imageio`;
  * [[MediaDecoder.AudioIo]]: WAV/PCM via `javax.sound.sampled`;
  * [[MediaDecoder.AviDib]]: AVI containers with uncompressed DIB
  * frames via a hand-rolled RIFF chunk walker — no external
  * dependency anywhere). Compressed video codecs (H.264 etc.) have no
  * JDK decoder; those payloads fall back to
  * [[MediaDecoder.Deterministic]] via the kernels' fallback hook.
  * Everything Spark-side is identical either way: the schema
  * convention, the mapPartitions batch shape (one decoder instance
  * per partition, reused across rows, the Scala analogue of a
  * pandas-batched UDF), partition sizing by byte budget, and the
  * feature-column contract.
  */
object Multimodal {

  /** Canonical multimodal schema: payload + sidecar metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),     // image|audio|video
    StructField("format", StringType, nullable = true),    // jpeg|wav|mp4...
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true))),
      nullable = true)))

  /** Decoder contract: bytes -> fixed-length feature vector. Real
    * implementations wrap an image/audio codec; instantiated once per
    * partition so model/codec init cost amortizes across the batch. */
  trait MediaDecoder extends Serializable {
    def featureDim: Int
    def decodeToFeatures(format: String, payload: Array[Byte]): Array[Float]
  }

  object MediaDecoder {
    /** `ImageIO.read(InputStream)` defaults to a DISK-backed
      * `FileCacheImageInputStream` — one temp-file create/write/delete
      * in `java.io.tmpdir` per decode. That's pure overhead for
      * in-memory byte-array payloads, and it makes per-decode cost a
      * function of the host's /tmp backing (tmpfs vs disk — observed
      * as an unexplained 6x cross-box swing on identical code: 0.29 s
      * vs 1.9 s for 5k small BMPs). The flag is JVM-global; flip it
      * once, lazily, from whichever executor thread decodes first. */
    private lazy val memoryCacheOnly: Unit =
      javax.imageio.ImageIO.setUseCache(false)

    /** Deterministic stand-in: hash-derived pseudo-features. Keeps the
      * full pipeline runnable and testable; swap for a real codec via
      * the same trait. */
    final case class Deterministic(featureDim: Int = 8) extends MediaDecoder {
      def decodeToFeatures(format: String, payload: Array[Byte]): Array[Float] = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val d = md.digest(payload)
        Array.tabulate(featureDim)(i =>
          ((d(i % d.length) & 0xff) / 255.0f))
      }
    }

    /** Real image decode kernel on the JDK's built-in codecs
      * (`javax.imageio`: PNG, BMP, GIF, JPEG — no external library).
      * Features (dim 6): [width, height, mean R, mean G, mean B,
      * fraction of pixels with R+G+B >= 384]. Channel sums accumulate
      * as exact longs and divide once in double, so the features are
      * bit-reproducible across JVMs and re-derivable arithmetically by
      * an oracle that knows the pixel function. Undecodable payloads
      * (truncated file, unknown container) return null rather than
      * throwing — one poison row must not kill a 100 TB scan; count
      * nulls downstream. */
    final case class ImageIo(fallback: Option[MediaDecoder] = None)
        extends MediaDecoder {
      val featureDim: Int = 6
      def decodeToFeatures(format: String, payload: Array[Byte]): Array[Float] = {
        memoryCacheOnly // in-memory ImageInputStream, no temp file
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
          catch { case _: java.io.IOException => null }
        if (img == null)
          fallback.map(_.decodeToFeatures(format, payload)).orNull
        else {
          val w = img.getWidth; val h = img.getHeight
          var rs = 0L; var gs = 0L; var bs = 0L; var bright = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val r = (rgb >> 16) & 0xff
              val g = (rgb >> 8) & 0xff
              val b = rgb & 0xff
              rs += r; gs += g; bs += b
              if (r + g + b >= 384) bright += 1
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          Array(w.toFloat, h.toFloat,
            (rs.toDouble / n).toFloat, (gs.toDouble / n).toFloat,
            (bs.toDouble / n).toFloat, (bright.toDouble / n).toFloat)
        }
      }
    }

    /** Real audio decode kernel on the JDK's built-in WAV/PCM parser
      * (`javax.sound.sampled.AudioSystem` — pure container/sample
      * parsing, no audio device). Supports 16-bit signed PCM, any
      * channel count (frames averaged to mono is NOT done — channel 0
      * is analyzed, the common feature-extraction convention).
      * Features (dim 6): [sample rate, n samples, mean |s|, RMS,
      * fraction of non-negative samples, max |s|] — every accumulator
      * is an exact long, divided once in double (sqrt is correctly
      * rounded in IEEE), so features are bit-reproducible and oracle
      * re-derivable when the sample values are known arithmetic.
      * Undecodable payloads return null (or the fallback's features),
      * matching [[ImageIo]]. */
    final case class AudioIo(fallback: Option[MediaDecoder] = None)
        extends MediaDecoder {
      val featureDim: Int = 6
      def decodeToFeatures(format: String, payload: Array[Byte]): Array[Float] = {
        val in =
          try javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => null
            case _: java.io.IOException => null
          }
        if (in == null || in.getFormat.getSampleSizeInBits != 16 ||
            in.getFormat.getEncoding !=
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
          fallback.map(_.decodeToFeatures(format, payload)).orNull
        else try {
          val fmt = in.getFormat
          val frameBytes = fmt.getFrameSize
          val bytes = in.readAllBytes()
          val nFrames = bytes.length / frameBytes
          var absSum = 0L; var sqSum = 0L; var nonNeg = 0L; var maxAbs = 0L
          var i = 0
          while (i < nFrames) {
            val off = i * frameBytes // channel 0 of each frame
            val lo = bytes(off) & 0xff
            val hi = bytes(off + 1)
            val s = if (fmt.isBigEndian) ((lo << 8) | (hi & 0xff)).toShort.toInt
                    else ((hi << 8) | lo).toShort.toInt
            val a = math.abs(s.toLong)
            absSum += a; sqSum += s.toLong * s; if (s >= 0) nonNeg += 1
            if (a > maxAbs) maxAbs = a
            i += 1
          }
          if (nFrames == 0)
            fallback.map(_.decodeToFeatures(format, payload)).orNull
          else Array(fmt.getSampleRate, nFrames.toFloat,
            (absSum.toDouble / nFrames).toFloat,
            math.sqrt(sqSum.toDouble / nFrames).toFloat,
            (nonNeg.toDouble / nFrames).toFloat, maxAbs.toFloat)
        } finally in.close()
      }
    }

    /** Real video decode kernel for AVI containers carrying
      * uncompressed DIB frames ("00db" chunks, 24-bit BGR — the RIFF
      * layout every capture tool can emit and the one video format
      * decodable with zero codec dependencies; the chunk walker is a
      * plain RIFF parser, the same container grammar as WAV) or
      * MJPEG streams (strf biCompression 'MJPG': each frame chunk is
      * a complete JPEG payload, which `javax.imageio` decodes with
      * no external codec — the one COMPRESSED video format pure-JDK
      * decodable, so capture-tool MJPEG AVIs get real features
      * instead of the deterministic fallback). Frame sampling
      * happens INSIDE the kernel (every `frameStride`-th frame), the
      * batch-shape analogue of decode-then-sample: a pipeline never
      * pays for frames it won't featurize — for MJPEG that includes
      * the JPEG decode itself. Features (dim 8): [width, height,
      * n_frames, n_sampled, mean R, mean G, mean B, bright fraction
      * (R+G+B >= 384, the [[ImageIo]] convention)] over sampled
      * frames; channel sums accumulate as exact longs and divide
      * once in double, so features are bit-reproducible (JPEG
      * decode is deterministic for a given JDK decoder) and, for
      * DIB, oracle re-derivable. Non-AVI payloads, other codecs, or
      * DIB bit depths other than 24 fall back / return null like
      * the other kernels. */
    final case class AviDib(frameStride: Int = 1,
        fallback: Option[MediaDecoder] = None) extends MediaDecoder {
      require(frameStride >= 1, s"frameStride must be >= 1: $frameStride")
      val featureDim: Int = 8

      private def fourcc(b: Array[Byte], off: Int): String =
        if (off + 4 <= b.length)
          new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
        else ""
      private def le32(b: Array[Byte], off: Int): Int =
        (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
        ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

      def decodeToFeatures(format: String, payload: Array[Byte]): Array[Float] = {
        def bail: Array[Float] =
          fallback.map(_.decodeToFeatures(format, payload)).orNull
        if (payload == null || payload.length < 12 ||
            fourcc(payload, 0) != "RIFF" || fourcc(payload, 8) != "AVI ")
          return bail
        // One linear chunk walk: RIFF nesting only adds a 4-byte list
        // type after each LIST header, so a recursive descent collects
        // the stream format (strf -> BITMAPINFOHEADER, including the
        // biCompression fourcc) and every frame chunk — uncompressed
        // "NNdb" or compressed "NNdc" — in file order.
        var width = 0; var height = 0; var bitCount = 0
        var comp = ""
        val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        def walk(start: Int, end: Int): Unit = {
          var p = start
          while (p + 8 <= end) {
            val id = fourcc(payload, p)
            val sz = le32(payload, p + 4)
            // bound computed in Long (ADVICE r20): a crafted chunk
            // size near 2^31 wraps the Int sum negative, bypasses
            // the guard, and sends p negative into fourcc / the
            // DIB pixel loop
            if (sz < 0 || p + 8L + sz > end) return // truncated: stop
            if (id == "LIST" && sz >= 4) walk(p + 12, p + 8 + sz)
            else if (id == "strf" && sz >= 40 && bitCount == 0) {
              width = le32(payload, p + 8 + 4)
              height = le32(payload, p + 8 + 8)
              bitCount = le32(payload, p + 8 + 14) & 0xffff
              comp = if (le32(payload, p + 8 + 16) == 0) "RGB"
                     else fourcc(payload, p + 8 + 16)
            } else if (id.length == 4 &&
                (id.endsWith("db") || id.endsWith("dc")))
              frames += ((p + 8, sz))
            // chunks are word-aligned; advance in Long so the odd-size
            // pad cannot wrap p past Int range
            val nextP = p + 8L + sz + (sz & 1)
            if (nextP > end) return
            p = nextP.toInt
          }
        }
        walk(12, math.min(payload.length, 8 + le32(payload, 4)))
        if (frames.isEmpty) return bail
        if (comp == "MJPG") {
          val out = decodeMjpeg(payload, frames)
          return if (out == null) bail else out
        }
        if (width <= 0 || height <= 0 || bitCount != 24 ||
            comp != "RGB")
          return bail
        // row stride sized in Long (ADVICE r19): a header declaring
        // huge dims wraps the Int product negative, the corrupt-frame
        // guard below then passes vacuously and the pixel loop reads
        // past the payload. No real chunk can hold a frame this big
        // (sz is an Int), so refuse before any multiply can wrap.
        val rowBytesL = (width.toLong * 3 + 3) & ~3L
        if (rowBytesL * height > Int.MaxValue) return bail
        val rowBytes = rowBytesL.toInt // DIB rows pad to 4 bytes
        var sumR = 0L; var sumG = 0L; var sumB = 0L; var bright = 0L
        var sampled = 0
        var f = 0
        while (f < frames.length) {
          if (f % frameStride == 0) {
            val (off, sz) = frames(f)
            if (sz < rowBytes * height) return bail // corrupt frame
            sampled += 1
            var y = 0
            while (y < height) {
              var p = off + y * rowBytes; var x = 0
              while (x < width) {
                val b = payload(p) & 0xff; val g = payload(p + 1) & 0xff
                val r = payload(p + 2) & 0xff
                sumR += r; sumG += g; sumB += b
                if (r + g + b >= 384) bright += 1
                p += 3; x += 1
              }
              y += 1
            }
          }
          f += 1
        }
        val n = sampled.toLong * width * height
        Array(width.toFloat, height.toFloat, frames.length.toFloat,
          sampled.toFloat, (sumR.toDouble / n).toFloat,
          (sumG.toDouble / n).toFloat, (sumB.toDouble / n).toFloat,
          (bright.toDouble / n).toFloat)
      }

      /** MJPEG arm: each sampled frame chunk is a complete JPEG
        * decoded via ImageIO; stats accumulate over the DECODED
        * pixels, with dims taken from the first decoded frame
        * (mixed-dimension or undecodable streams return null →
        * caller bails to the fallback). Only sampled frames pay the
        * JPEG decode — stride skipping costs no codec work. */
      private def decodeMjpeg(payload: Array[Byte],
          frames: scala.collection.Seq[(Int, Int)]): Array[Float] = {
        var sumR = 0L; var sumG = 0L; var sumB = 0L; var bright = 0L
        var sampled = 0; var w0 = 0; var h0 = 0
        var f = 0
        while (f < frames.length) {
          if (f % frameStride == 0) {
            val (off, sz) = frames(f)
            val img =
              try javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(payload, off, sz))
              catch { case _: Exception => null }
            if (img == null) return null
            if (sampled == 0) { w0 = img.getWidth; h0 = img.getHeight }
            else if (img.getWidth != w0 || img.getHeight != h0)
              return null
            sampled += 1
            var y = 0
            while (y < h0) {
              var x = 0
              while (x < w0) {
                val rgb = img.getRGB(x, y)
                val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff
                val b = rgb & 0xff
                sumR += r; sumG += g; sumB += b
                if (r + g + b >= 384) bright += 1
                x += 1
              }
              y += 1
            }
          }
          f += 1
        }
        if (sampled == 0 || w0 <= 0 || h0 <= 0) return null
        val n = sampled.toLong * w0 * h0
        Array(w0.toFloat, h0.toFloat, frames.length.toFloat,
          sampled.toFloat, (sumR.toDouble / n).toFloat,
          (sumG.toDouble / n).toFloat, (sumB.toDouble / n).toFloat,
          (bright.toDouble / n).toFloat)
      }
    }
  }

  /** Decode/feature-extract over partitions: one decoder per partition,
    * rows streamed through it (the batched-UDF shape). Adds
    * `features: array<float>` and `payload_bytes: int`; drops the
    * payload so downstream stages shuffle features, not media bytes. */
  def extractFeatures(df: DataFrame, decoder: Multimodal.MediaDecoder)
      : DataFrame = {
    val outSchema = StructType(
      df.schema.fields.filterNot(_.name == "payload") ++ Seq(
        StructField("payload_bytes", IntegerType),
        StructField("features", ArrayType(FloatType))))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val payloadIdx = df.schema.fieldIndex("payload")
    val formatIdx = df.schema.fieldIndex("format")
    val keepIdx = df.schema.fields.zipWithIndex
      .filterNot(_._1.name == "payload").map(_._2)
    df.mapPartitions { it =>
      // decoder is instantiated per partition via closure capture;
      // heavyweight codec/model init would live here.
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val fmt = r.getAs[String](formatIdx)
        val feats =
          if (payload == null) null
          else decoder.decodeToFeatures(fmt, payload)
        Row.fromSeq(keepIdx.toSeq.map(r.get) ++
          Seq(if (payload == null) null else payload.length,
            if (feats == null) null else feats.toSeq))
      }
    }
  }

  /** Header-only metadata sniff (VERDICT r18 ask #8): surface the
    * container fields a curation filter needs ("drop images < 64px",
    * "keep RGB") as COLUMNS without paying a pixel decode — the
    * header walk reads tens of bytes per row where ImageIO decodes
    * the full bitmap. Real parsers, no library:
    *   - BMP ('BM' + BITMAPINFOHEADER): width/height (LE int32 at
    *     18/22 — height signed, negative = top-down), bit count
    *     (LE u16 at 28) as `meta_depth`;
    *   - PNG (8-byte signature + chunk walk): IHDR width/height
    *     (BE int32), bit depth and color type bytes; every tEXt
    *     chunk's keyword=value collected in file order into
    *     `text_kv` (';'-joined) with `n_text` the count — the
    *     sidecar-metadata channel PNG curation pipelines filter on.
    * Unrecognized/truncated payloads yield NULL meta columns (the
    * poison-row convention); a recognized format fills `n_text`/
    * `text_kv` ('' when none — absent metadata is data, not null).
    * Columns added: meta_format, meta_width, meta_height,
    * meta_depth, meta_color_type (PNG only), n_text, text_kv. */
  def headerMeta(df: DataFrame, payloadCol: String = "payload")
      : DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("meta_format", StringType),
      StructField("meta_width", IntegerType),
      StructField("meta_height", IntegerType),
      StructField("meta_depth", IntegerType),
      StructField("meta_color_type", IntegerType),
      StructField("n_text", IntegerType),
      StructField("text_kv", StringType)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val pIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.map { r =>
        val p = r.getAs[Array[Byte]](pIdx)
        val meta: Seq[Any] = sniffHeader(p)
        Row.fromSeq(r.toSeq ++ meta)
      }
    }
  }

  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
    ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
    ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  private val pngSig =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  /** (meta_format, w, h, depth, color_type, n_text, text_kv) — see
    * [[headerMeta]]. */
  private[multimodal] def sniffHeader(p: Array[Byte]): Seq[Any] = {
    val nulls = Seq(null, null, null, null, null, null, null)
    if (p == null) return nulls
    if (p.length >= 30 && p(0) == 'B'.toByte && p(1) == 'M'.toByte)
      return Seq("bmp", le32(p, 18), le32(p, 22),
        (p(28) & 0xff) | ((p(29) & 0xff) << 8), null, 0, "")
    if (p.length >= 33 && p.take(8).sameElements(pngSig)) {
      // chunk walk: IHDR is first by spec; collect tEXt in order
      var w = 0; var h = 0; var depth = 0; var ct = 0
      var sawIhdr = false
      val kvs = scala.collection.mutable.ArrayBuffer.empty[String]
      var o = 8
      while (o + 8 <= p.length) {
        val len = be32(p, o)
        // bound computed in Long (ADVICE r19): a crafted chunk length
        // near 2^31 overflows the Int sum negative and would bypass
        // the guard — the subsequent reads then throw and a poison
        // row kills the corpus pass instead of yielding nulls.
        if (len < 0 || o + 12L + len > p.length) return nulls // truncated
        val typ = new String(p, o + 4, 4,
          java.nio.charset.StandardCharsets.US_ASCII)
        if (typ == "IHDR" && len >= 13) {
          w = be32(p, o + 8); h = be32(p, o + 12)
          depth = p(o + 16) & 0xff; ct = p(o + 17) & 0xff
          sawIhdr = true
        } else if (typ == "tEXt") {
          val data = new String(p, o + 8, len,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          val i = data.indexOf('\u0000')
          kvs += (if (i < 0) data + "="
                  else data.substring(0, i) + "=" + data.substring(i + 1))
        }
        if (typ == "IEND")
          return if (sawIhdr)
            Seq("png", w, h, depth, ct, kvs.length, kvs.mkString(";"))
          else nulls
        o += 12 + len
      }
      return nulls // no IEND: truncated
    }
    if (p.length >= 4 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) {
      // JPEG: FFD8 then FFxx marker segments (BE16 length includes
      // itself); the first SOFn (C0–CF minus DHT C4 / JPG C8 / DAC
      // CC) carries precision, height, width. meta_depth = the SOF
      // sample precision (8 for every baseline encoder).
      var o = 2
      while (o + 4 <= p.length) {
        if ((p(o) & 0xff) != 0xff) return nulls // desynced
        val m = p(o + 1) & 0xff
        if (m == 0xff) o += 1                       // fill byte
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd8)) o += 2 // bare
        else {
          val len = ((p(o + 2) & 0xff) << 8) | (p(o + 3) & 0xff)
          if (len < 2 || o + 2 + len > p.length) return nulls
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 &&
              m != 0xcc && len >= 8) {
            val prec = p(o + 4) & 0xff
            val ih = ((p(o + 5) & 0xff) << 8) | (p(o + 6) & 0xff)
            val iw = ((p(o + 7) & 0xff) << 8) | (p(o + 8) & 0xff)
            return Seq("jpeg", iw, ih, prec, null, 0, "")
          }
          if (m == 0xda) return nulls // SOS before any SOF
          o += 2 + len
        }
      }
      return nulls // ran out before a SOF
    }
    nulls
  }

  /** Payload->payload kernel contract (resize, re-encode, resample):
    * same per-partition batching as [[MediaDecoder]]. Real kernels
    * wrap an image/audio library; the stub is deterministic. */
  trait MediaTransform extends Serializable {
    def apply(format: String, payload: Array[Byte]): Array[Byte]
  }

  object MediaTransform {
    /** Deterministic stand-in for a resize/downsample: keep every
      * `stride`-th byte up to `maxBytes` (shape-correct, content-fake:
      * output is smaller and a pure function of the input). */
    final case class DownsampleStub(maxBytes: Int, stride: Int = 2)
        extends MediaTransform {
      def apply(format: String, payload: Array[Byte]): Array[Byte] = {
        val out = payload.indices.collect {
          case i if i % stride == 0 => payload(i) }
        out.take(maxBytes).toArray
      }
    }
  }

  /** Resize/re-encode over partitions: payload is replaced in place
    * (schema and metadata untouched), kernel instantiated per
    * partition. The 100 TB contract: media bytes stream through one
    * task each, never shuffled — pair with [[repartitionByBytes]] to
    * bound per-task memory. */
  def transformPayload(df: DataFrame, t: MediaTransform): DataFrame = {
    implicit val enc: Encoder[Row] = Encoders.row(df.schema)
    val payloadIdx = df.schema.fieldIndex("payload")
    val formatIdx = df.schema.fieldIndex("format")
    df.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        val out = if (payload == null) null else
          t(r.getAs[String](formatIdx), payload)
        Row.fromSeq(r.toSeq.updated(payloadIdx, out))
      }
    }
  }

  /** Partition a media frame by cumulative byte budget so each task
    * holds ~`targetBytes` of payload — media rows are wildly skewed
    * and default row-count splits OOM on video partitions. */
  def repartitionByBytes(df: DataFrame, targetBytes: Long): DataFrame = {
    val stats = df.select(sum(length(col("payload")))).head()
    val total = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val parts = math.max(1, (total / targetBytes).toInt)
    df.repartition(parts, col("media_id"))
  }

  /** Deterministic synthetic media for fixtures and oracle pinning:
    * real, decodable image bytes whose pixel values are a pure
    * arithmetic function of a seed — so an external oracle (DuckDB)
    * can re-derive the decoded features without any image library. */
  object SyntheticMedia {

    /** Uncompressed 24-bit bottom-up BMP (BITMAPINFOHEADER), the
      * simplest container `javax.imageio` decodes losslessly. `px`
      * maps top-left-origin (x, y) to (r, g, b) in 0..255. */
    def bmp24(w: Int, h: Int)(px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val rowBytes = (w * 3 + 3) / 4 * 4
      val dataSize = rowBytes * h
      val fileSize = 54 + dataSize
      val buf = java.nio.ByteBuffer.allocate(fileSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte).putInt(fileSize)
        .putInt(0).putInt(54)                      // reserved, data offset
      buf.putInt(40).putInt(w).putInt(h)           // info header, +h = bottom-up
        .putShort(1).putShort(24).putInt(0)        // planes, bpp, BI_RGB
        .putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
      var y = h - 1                                // bottom-up row order
      while (y >= 0) {
        var x = 0
        while (x < w) {
          val (r, g, b) = px(x, y)
          buf.put(b.toByte).put(g.toByte).put(r.toByte)
          x += 1
        }
        var pad = rowBytes - w * 3
        while (pad > 0) { buf.put(0.toByte); pad -= 1 }
        y -= 1
      }
      buf.array()
    }

    /** Append a tEXt chunk (keyword NUL value, CRC32 over type+data
      * — the real PNG chunk grammar) immediately before IEND: the
      * deterministic sidecar-metadata fixture for [[headerMeta]]'s
      * tEXt walk. The result remains a valid PNG every decoder
      * accepts. */
    def pngAddText(png: Array[Byte], keyword: String, value: String)
        : Array[Byte] = {
      require(png.length >= 12, "not a PNG")
      val data = (keyword + "\u0000" + value)
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      val chunk = java.nio.ByteBuffer.allocate(12 + data.length)
      chunk.putInt(data.length)
      chunk.put("tEXt".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      chunk.put(data)
      val crc = new java.util.zip.CRC32()
      crc.update(chunk.array(), 4, 4 + data.length)
      chunk.putInt(crc.getValue.toInt)
      val iendAt = png.length - 12 // len(0) + "IEND" + crc
      val out = new Array[Byte](png.length + chunk.capacity())
      System.arraycopy(png, 0, out, 0, iendAt)
      System.arraycopy(chunk.array(), 0, out, iendAt, chunk.capacity())
      System.arraycopy(png, iendAt, out, iendAt + chunk.capacity(), 12)
      out
    }

    /** Per-document test image: pixel channels are small linear
      * congruences of (seed, x, y) — trivially re-derivable in SQL via
      * a generate_series cross join. */
    def docBmp(seed: Long, w: Int = 8, h: Int = 8): Array[Byte] = {
      val s = java.lang.Math.floorMod(seed, 256L).toInt
      bmp24(w, h) { (x, y) =>
        ((s * 3 + x * 7 + y * 11) % 256,
         (s * 5 + x * 11 + y * 3) % 256,
         (s * 7 + x * 3 + y * 13) % 256)
      }
    }

    /** Canonical 44-byte-header RIFF/WAVE container around 16-bit
      * signed little-endian mono PCM — the shape `javax.sound.sampled`
      * decodes losslessly. `sample` maps index 0..n-1 to a value in
      * [-32768, 32767]. */
    def wavPcm16(sampleRate: Int, n: Int)(sample: Int => Int): Array[Byte] = {
      val dataSize = n * 2
      val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
      buf.put("fmt ".getBytes).putInt(16)
        .putShort(1)                      // PCM
        .putShort(1)                      // mono
        .putInt(sampleRate)
        .putInt(sampleRate * 2)           // byte rate
        .putShort(2)                      // block align
        .putShort(16)                     // bits/sample
      buf.put("data".getBytes).putInt(dataSize)
      var i = 0
      while (i < n) { buf.putShort(sample(i).toShort); i += 1 }
      buf.array()
    }

    /** Per-document test audio: samples are a linear congruence of
      * (seed, i) mapped onto the full 16-bit range — re-derivable in
      * SQL via generate_series. */
    def docWav(seed: Long, sampleRate: Int = 8000, n: Int = 256)
        : Array[Byte] = {
      val s = java.lang.Math.floorMod(seed, 1009L).toInt
      wavPcm16(sampleRate, n)(i => ((s * 131 + i * 997) % 65536) - 32768)
    }

    /** Minimal spec-shaped AVI container around uncompressed 24-bit
      * DIB frames — the exact layout [[MediaDecoder.AviDib]] decodes:
      * RIFF(AVI ) / LIST(hdrl){avih, LIST(strl){strh vids/DIB, strf
      * BITMAPINFOHEADER}} / LIST(movi){00db...}. `pixel(f, x, y)`
      * returns (r, g, b); rows are stored bottom-up BGR padded to 4
      * bytes per the DIB convention. */
    def aviDib(width: Int, height: Int, nFrames: Int)
        (pixel: (Int, Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val rowBytes = (width * 3 + 3) & ~3
      val frameBytes = rowBytes * height
      val strl = 8 + 56 + 8 + 40            // strh + strf chunks
      val hdrl = 8 + 56 + (8 + 4 + strl)    // avih + LIST strl
      val movi = 4 + nFrames * (8 + frameBytes)
      val riff = 4 + (8 + 4 + hdrl) + (8 + movi)
      val buf = java.nio.ByteBuffer.allocate(8 + riff)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def cc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
      cc("RIFF"); buf.putInt(riff); cc("AVI ")
      cc("LIST"); buf.putInt(4 + hdrl); cc("hdrl")
      cc("avih"); buf.putInt(56)
      buf.putInt(40000) // us/frame (25 fps)
      buf.putInt(0); buf.putInt(0); buf.putInt(0)
      buf.putInt(nFrames); buf.putInt(0); buf.putInt(1)
      buf.putInt(frameBytes); buf.putInt(width); buf.putInt(height)
      (0 until 4).foreach(_ => buf.putInt(0))
      cc("LIST"); buf.putInt(4 + strl); cc("strl")
      cc("strh"); buf.putInt(56)
      cc("vids"); cc("DIB ")
      (0 until 3).foreach(_ => buf.putInt(0))  // flags, prio, initial
      buf.putInt(1); buf.putInt(25)            // scale, rate
      buf.putInt(0); buf.putInt(nFrames)       // start, length
      buf.putInt(frameBytes); buf.putInt(-1); buf.putInt(0)
      buf.putShort(0); buf.putShort(0); buf.putInt(0)
      cc("strf"); buf.putInt(40)
      buf.putInt(40); buf.putInt(width); buf.putInt(height)
      buf.putShort(1); buf.putShort(24)        // planes, bitcount
      buf.putInt(0); buf.putInt(frameBytes)    // BI_RGB, image size
      buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
      cc("LIST"); buf.putInt(movi); cc("movi")
      var f = 0
      while (f < nFrames) {
        cc("00db"); buf.putInt(frameBytes)
        var row = 0
        while (row < height) {
          val y = height - 1 - row // bottom-up storage
          var x = 0
          while (x < width) {
            val (r, g, b) = pixel(f, x, y)
            buf.put(b.toByte).put(g.toByte).put(r.toByte)
            x += 1
          }
          var pad = width * 3
          while (pad < rowBytes) { buf.put(0.toByte); pad += 1 }
          row += 1
        }
        f += 1
      }
      buf.array()
    }

    /** MJPEG-in-AVI container around caller-provided complete JPEG
      * frame payloads — the layout [[MediaDecoder.AviDib]]'s MJPEG
      * arm decodes: same RIFF skeleton as [[aviDib]] but with strh
      * handler / strf biCompression 'MJPG' and each frame a "00dc"
      * chunk holding one JPEG (word-aligned with a pad byte, sizes
      * vary per frame). */
    def aviMjpeg(width: Int, height: Int, jpegs: Seq[Array[Byte]])
        : Array[Byte] = {
      require(jpegs.nonEmpty, "aviMjpeg needs >= 1 frame")
      val strl = 8 + 56 + 8 + 40            // strh + strf chunks
      val hdrl = 8 + 56 + (8 + 4 + strl)    // avih + LIST strl
      val movi = 4 + jpegs.map(j => 8 + j.length + (j.length & 1)).sum
      val riff = 4 + (8 + 4 + hdrl) + (8 + movi)
      val maxFrame = jpegs.map(_.length).max
      val buf = java.nio.ByteBuffer.allocate(8 + riff)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def cc(s: String): Unit = buf.put(s.getBytes("US-ASCII"))
      cc("RIFF"); buf.putInt(riff); cc("AVI ")
      cc("LIST"); buf.putInt(4 + hdrl); cc("hdrl")
      cc("avih"); buf.putInt(56)
      buf.putInt(40000) // us/frame (25 fps)
      buf.putInt(0); buf.putInt(0); buf.putInt(0)
      buf.putInt(jpegs.length); buf.putInt(0); buf.putInt(1)
      buf.putInt(maxFrame); buf.putInt(width); buf.putInt(height)
      (0 until 4).foreach(_ => buf.putInt(0))
      cc("LIST"); buf.putInt(4 + strl); cc("strl")
      cc("strh"); buf.putInt(56)
      cc("vids"); cc("MJPG")
      (0 until 3).foreach(_ => buf.putInt(0))  // flags, prio, initial
      buf.putInt(1); buf.putInt(25)            // scale, rate
      buf.putInt(0); buf.putInt(jpegs.length)  // start, length
      buf.putInt(maxFrame); buf.putInt(-1); buf.putInt(0)
      buf.putShort(0); buf.putShort(0); buf.putInt(0)
      cc("strf"); buf.putInt(40)
      buf.putInt(40); buf.putInt(width); buf.putInt(height)
      buf.putShort(1); buf.putShort(24)        // planes, bitcount
      cc("MJPG"); buf.putInt(maxFrame)         // biCompression, size
      buf.putInt(0); buf.putInt(0); buf.putInt(0); buf.putInt(0)
      cc("LIST"); buf.putInt(movi); cc("movi")
      jpegs.foreach { j =>
        cc("00dc"); buf.putInt(j.length); buf.put(j)
        if ((j.length & 1) == 1) buf.put(0.toByte)
      }
      buf.array()
    }

    /** Per-document MJPEG test video: deterministic frame images
      * (same congruence family as [[docAvi]]) encoded to real JPEGs
      * via ImageIO, wrapped by [[aviMjpeg]]. Returns the container
      * AND the raw per-frame JPEG payloads so a spec can re-decode
      * the identical bytes independently of the RIFF walker. */
    def docAviMjpeg(seed: Long, width: Int = 16, height: Int = 12,
        nFrames: Int = 4): (Array[Byte], Seq[Array[Byte]]) = {
      val s = java.lang.Math.floorMod(seed, 1009L).toInt
      val jpegs = (0 until nFrames).map { f =>
        val img = new java.awt.image.BufferedImage(width, height,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val r = (s * 7 + f * 11 + x * 3 + y * 13) % 256
            val g = (s * 3 + f * 5 + x * 7 + y * 11) % 256
            val b = (s * 11 + f * 3 + x * 13 + y * 5) % 256
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }
      (aviMjpeg(width, height, jpegs), jpegs)
    }

    /** Per-document test video: channel values are linear congruences
      * of (seed, frame, x, y) — re-derivable in SQL via a
      * generate_series grid over frames and pixels. */
    def docAvi(seed: Long, width: Int = 8, height: Int = 6,
        nFrames: Int = 6): Array[Byte] = {
      val s = java.lang.Math.floorMod(seed, 1009L).toInt
      aviDib(width, height, nFrames) { (f, x, y) =>
        ((s * 7 + f * 11 + x * 3 + y * 13) % 256,
         (s * 3 + f * 5 + x * 7 + y * 11) % 256,
         (s * 11 + f * 3 + x * 13 + y * 5) % 256)
      }
    }
  }
}
