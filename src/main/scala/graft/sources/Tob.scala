package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.functions.Fp2
import graft.sources.v2.TobV2

/** Campbell Scientific TOB1/TOB3 binary sources (S8/S9).
  *
  * Format knowledge from the public "Campbell Scientific Data File
  * Formats" document; decode behavior mirrored from the reference
  * (/root/reference/code/file_handling/read_cs_files.py:278-500):
  *
  *  - TOB1: 5 ASCII header lines (info, names, units, processing,
  *    types) then fixed-size records. Channel types: FP2 (big-endian
  *    u16, custom float), IEEE4 (little-endian f32), IEEE4B (BE f32),
  *    UINT2/INT4/UINT4 (big-endian), ULONG little-endian in TOB1,
  *    Boolean (1 byte), ASCII(n). Leading SECONDS/NANOSECONDS (1990
  *    epoch) become the DATETIME column.
  *  - TOB3: 6 ASCII header lines, then fixed-size frames: a 12-byte
  *    little-endian header (seconds, subseconds, begin record no), a
  *    run of sub-records, and a 4-byte footer (2 LE u16: offset/flag
  *    word + validation word). A frame is valid iff its validation
  *    word equals the header-declared stamp or its ones-complement.
  *    footer word0 == 0 -> major (full) frame; != 0 -> minor frame
  *    holding only `offset bytes / record size` records. Sub-record i
  *    timestamps at header.seconds + i*subStep + subScale*subseconds.
  *
  * Scale shape: the `format("tob")` DataSource V2 reader
  * ([[graft.sources.v2.TobDataSource]]) is the only scan. It plans
  * one partition per file; daily TOB3 files are <= a few hundred MB,
  * so one file = one task and a site-month parallelizes across the
  * cluster. The decoders below run inside its partition reader, which
  * fails on a file whose channel names or types differ from the probed
  * header. That source reads local or shared-mount paths only, not
  * `hdfs://` or `s3a://`.
  */
object Tob {

  // --- channel codecs -------------------------------------------------

  sealed trait Chan {
    def size: Int
    def dataType: DataType
    def read(b: ByteBuffer): Any
  }
  case object Fp2Chan extends Chan {
    val size = 2; val dataType = DoubleType
    def read(b: ByteBuffer): Any = {
      val v = java.lang.Short.toUnsignedInt(b.order(ByteOrder.BIG_ENDIAN).getShort)
      val d = Fp2.decode(v)
      if (d.isNaN) null else d   // NaN sentinel -> null (engine norm, §7.4#1)
    }
  }
  final case class F32(order: ByteOrder) extends Chan {
    val size = 4; val dataType = FloatType
    def read(b: ByteBuffer): Any = b.order(order).getFloat
  }
  final case class U16(order: ByteOrder) extends Chan {
    val size = 2; val dataType = IntegerType
    def read(b: ByteBuffer): Any =
      java.lang.Short.toUnsignedInt(b.order(order).getShort)
  }
  final case class I32(order: ByteOrder) extends Chan {
    val size = 4; val dataType = IntegerType
    def read(b: ByteBuffer): Any = b.order(order).getInt
  }
  final case class U32(order: ByteOrder) extends Chan {
    val size = 4; val dataType = LongType
    def read(b: ByteBuffer): Any =
      java.lang.Integer.toUnsignedLong(b.order(order).getInt)
  }
  case object BoolChan extends Chan {
    val size = 1; val dataType = BooleanType
    def read(b: ByteBuffer): Any = b.get != 0
  }
  final case class AsciiChan(n: Int) extends Chan {
    val size = n; val dataType = StringType
    def read(b: ByteBuffer): Any = {
      val arr = new Array[Byte](n); b.get(arr)
      new String(arr.takeWhile(_ != 0), StandardCharsets.US_ASCII)
    }
  }

  private val AsciiRe = """ASCII\((\d+)\)""".r

  /** Channel codec for a declared type name. `tob1` flips ULONG/UINT4
    * to little-endian (the reference's observed TOB1 endianness). */
  def channel(typeName: String, tob1: Boolean): Chan = typeName match {
    case "FP2" => Fp2Chan
    case "IEEE4" => F32(ByteOrder.LITTLE_ENDIAN)
    case "IEEE4B" => F32(ByteOrder.BIG_ENDIAN)
    case "UINT2" => U16(ByteOrder.BIG_ENDIAN)
    case "INT4" => I32(ByteOrder.BIG_ENDIAN)
    case "UINT4" | "ULONG" =>
      U32(if (tob1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    case "LONG" => I32(ByteOrder.LITTLE_ENDIAN)
    case "Boolean" | "BOOL" => BoolChan
    case AsciiRe(n) => AsciiChan(n.toInt)
    case other => throw new IllegalArgumentException(s"channel type $other")
  }

  private val Epoch1990Us: Long =
    java.time.LocalDateTime.of(1990, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  // --- header handling ------------------------------------------------

  final case class TobHeader(
      format: String,               // TOB1 | TOB3
      lines: Seq[Seq[String]],      // unquoted header fields per line
      names: Seq[String], units: Seq[String], sampling: Seq[String],
      types: Seq[String])

  /** Header lines before the data: 5 for TOB1, 6 for TOB3, known from
    * the file's first bytes. */
  private[sources] def headerLineCount(bytes: Array[Byte]): Int = {
    val fmt = new String(bytes, 0, math.min(8, bytes.length),
      StandardCharsets.US_ASCII)
    if (fmt.startsWith("\"TOB1\"")) 5
    else if (fmt.startsWith("\"TOB3\"")) 6
    else throw new IllegalArgumentException(
      s"not a TOB file: ${fmt.take(8)}")
  }

  def parseHeader(bytes: Array[Byte]): (TobHeader, Int) = {
    val nLines = headerLineCount(bytes)
    var pos = 0; val lines = Seq.newBuilder[String]
    for (_ <- 0 until nLines) {
      val nl = bytes.indexOf('\n'.toByte, pos)
      require(nl > 0, "truncated TOB header")
      val raw = new String(bytes, pos, nl - pos, StandardCharsets.US_ASCII)
      lines += raw.stripSuffix("\r")
      pos = nl + 1
    }
    val ls = lines.result().map(_.split(",", -1).toSeq
      .map(_.replaceAll("^\"|\"$", "")))
    val format = ls.head.head
    val (names, units, sampling, types) =
      if (format == "TOB1") (ls(1), ls(2), ls(3), ls(4))
      else (ls(2), ls(3), ls(4), ls(5))
    (TobHeader(format, ls, names, units, sampling, types), pos)
  }

  def tableMeta(h: TobHeader): TableMeta = {
    val info = h.lines.head.padTo(8, "")
    TableMeta(
      FileInfo(info(0), info(1), info(2), info(3), info(4), info(5),
        info(6), if (h.format == "TOB3") h.lines(1).head else info(7)),
      h.names.zipWithIndex.map { case (n, i) =>
        VariableMeta(n, h.units.lift(i).getOrElse(""),
          h.sampling.lift(i).getOrElse(""))
      })
  }

  // --- TOB1 -----------------------------------------------------------

  /** Decode one TOB1 file's bytes to rows of (DATETIME us, fields...).
    * Leading SECONDS/NANOSECONDS channels collapse into the timestamp.
    * Records are stored sequentially (no frame reordering exists in
    * TOB1), so file order IS the contract order and the iterator never
    * materializes the file's row set — O(one record) live memory per
    * reader. */
  def decodeTob1Rows(bytes: Array[Byte]): (Iterator[Row], TobHeader) = {
    val (h, dataStart) = parseHeader(bytes)
    require(h.format == "TOB1", s"expected TOB1, got ${h.format}")
    val chans = h.types.map(channel(_, tob1 = true))
    val recSize = chans.map(_.size).sum
    val nRec = (bytes.length - dataStart) / recSize
    require(h.names.take(2).map(_.toUpperCase) ==
      Seq("SECONDS", "NANOSECONDS"),
      s"TOB1 must lead with SECONDS,NANOSECONDS (got ${h.names.take(2)})")
    val buf = ByteBuffer.wrap(bytes)
    val it = (0 until nRec).iterator.map { i =>
      buf.position(dataStart + i * recSize)
      val vals = chans.map(_.read(buf))
      val us = Epoch1990Us +
        vals(0).asInstanceOf[Long] * 1000000L +
        vals(1).asInstanceOf[Long] / 1000L
      Row.fromSeq(us +: vals.drop(2))
    }
    (it, h)
  }

  // --- TOB3 -----------------------------------------------------------

  final case class Tob3Spec(
      frameSize: Int, validation: Int, validationAlt: Int,
      subStepUs: Long, subScaleUs: Long)

  /** Parse TOB3 line-1 timing metadata: field 1 like "100 MSEC"
    * (non-timestamped record interval), field 2 frame size, field 4
    * validation stamp, field 5 frame time resolution like
    * "SecMsec"/"Sec100Usec". */
  def tob3Spec(h: TobHeader): Tob3Spec = {
    val l1 = h.lines(1)
    val Array(resNum, mult) = l1(1).trim.split(" ", 2).padTo(2, "SEC")
    val multUs: Double = mult.trim match {
      case "USEC" => 1.0
      case "MSEC" => 1000.0
      case "SEC"  => 1000000.0
      case "MIN"  => 60000000.0
      case _ => 1000000.0
    }
    val subStepUs = (resNum.toDouble * multUs).toLong
    // frame time resolution: Sec<k><U|M>sec => subseconds unit k/scale
    val ftr = l1(5).trim
    val subScaleUs: Long = {
      val body = ftr.stripPrefix("Sec").stripSuffix("sec").stripSuffix("Sec")
      val (digits, suffix) = body.span(_.isDigit)
      val k = if (digits.isEmpty) 1L else digits.toLong
      suffix.toUpperCase match {
        case "U" => k                  // k microseconds
        case "M" => k * 1000L          // k milliseconds
        case _ => k * 1000000L
      }
    }
    val stamp = l1(4).trim.toInt
    Tob3Spec(l1(2).trim.toInt, stamp, 0xffff - stamp, subStepUs, subScaleUs)
  }

  /** Decode one TOB3 file: frames -> (DATETIME us, RECORD, fields...).
    * Invalid-stamp frames are skipped; minor frames contribute only
    * their declared record count; output sorted by record number
    * (reference sorts by timestamp; record no is the same order).
    * Materializes the file's row set for the sort — streaming callers
    * that can prove the order use [[decodeTob3Rows]] instead. */
  def decodeTob3(bytes: Array[Byte]): (Seq[Row], TobHeader) = {
    val (it, h) = decodeTob3Rows(bytes)
    (it.toVector.sortBy(_.getLong(1)), h)
  }

  /** Streaming TOB3 decode: rows in FILE order, O(one frame) live
    * memory — nothing file-sized is ever materialized, so 32
    * concurrent partition readers hold 32 frames, not 32 files' row
    * sets (the difference between a few KB and a few GB of old-gen
    * pressure on a wide executor). File order equals the
    * [[decodeTob3]] record-number order iff valid frames are stored
    * with nondecreasing begin-record numbers — the normal shape for
    * a closed-out daily file; [[tob3FramesInOrder]] checks exactly
    * that from frame headers alone (16 bytes per frame, no record
    * decode), and callers fall back to [[decodeTob3]] on ring-buffer
    * wraps. */
  def decodeTob3Rows(bytes: Array[Byte]): (Iterator[Row], TobHeader) = {
    val (h, dataStart) = parseHeader(bytes)
    require(h.format == "TOB3", s"expected TOB3, got ${h.format}")
    val spec = tob3Spec(h)
    val chans = h.types.map(channel(_, tob1 = false))
    val recSize = chans.map(_.size).sum
    val hdrSize = 12; val footSize = 4
    val nRecFrame = (spec.frameSize - hdrSize - footSize) / recSize

    val it = new Iterator[Row] {
      private val buf = ByteBuffer.wrap(bytes)
      private var pos = dataStart
      private var framePos = 0
      private var i = 0
      private var nRecs = 0
      private var seconds = 0L
      private var subSeconds = 0L
      private var begRecord = 0L

      /** Advance to the next frame with >= 1 usable record. */
      private def advanceFrame(): Unit = {
        nRecs = 0; i = 0
        while (nRecs == 0 && pos + spec.frameSize <= bytes.length) {
          val b = ByteBuffer.wrap(bytes, pos, spec.frameSize)
            .order(ByteOrder.LITTLE_ENDIAN)
          seconds = java.lang.Integer.toUnsignedLong(b.getInt)
          subSeconds = java.lang.Integer.toUnsignedLong(b.getInt)
          begRecord = java.lang.Integer.toUnsignedLong(b.getInt)
          val fb = ByteBuffer.wrap(bytes,
            pos + spec.frameSize - footSize, footSize)
            .order(ByteOrder.LITTLE_ENDIAN)
          val word0 = java.lang.Short.toUnsignedInt(fb.getShort)
          val stamp = java.lang.Short.toUnsignedInt(fb.getShort)
          if (stamp == spec.validation || stamp == spec.validationAlt) {
            // minor frame: low 12 bits of word0 = used byte count
            // incl. header+footer; major frame: word0 == 0 -> all.
            nRecs =
              if (word0 == 0) nRecFrame
              else math.min(nRecFrame, math.max(0,
                ((word0 & 0x0fff) - hdrSize - footSize) / recSize))
          }
          framePos = pos
          pos += spec.frameSize
        }
      }
      advanceFrame()

      override def hasNext: Boolean = i < nRecs
      override def next(): Row = {
        buf.position(framePos + hdrSize + i * recSize)
        val vals = chans.map(_.read(buf))
        val us = Epoch1990Us + seconds * 1000000L +
          i * spec.subStepUs + subSeconds * spec.subScaleUs
        val r = Row.fromSeq(us +: (begRecord + i) +: vals)
        i += 1
        if (i >= nRecs) advanceFrame()
        r
      }
    }
    (it, h)
  }

  /** Header-only order probe: true iff the file's VALID frames carry
    * non-overlapping, nondecreasing record RANGES (16 bytes read per
    * frame — no record decode), i.e. streaming file order satisfies
    * the record-number sort contract. Nondecreasing begin records
    * alone are not enough: two valid frames with equal or overlapping
    * begin records (e.g. a duplicated flush) would stream out of
    * record order, so each frame's begin must be >= the previous
    * valid frame's END (begin + record count, derived from the same
    * word0 footer arithmetic the decoder uses). False for ring-buffer
    * wraps and overlapping flushes. */
  def tob3FramesInOrder(bytes: Array[Byte]): Boolean = {
    val (h, dataStart) = parseHeader(bytes)
    require(h.format == "TOB3", s"expected TOB3, got ${h.format}")
    val spec = tob3Spec(h)
    val chans = h.types.map(channel(_, tob1 = false))
    val recSize = chans.map(_.size).sum
    val hdrSize = 12; val footSize = 4
    val nRecFrame = (spec.frameSize - hdrSize - footSize) / recSize
    var pos = dataStart
    var lastEnd = Long.MinValue
    var ok = true
    while (ok && pos + spec.frameSize <= bytes.length) {
      val b = ByteBuffer.wrap(bytes, pos, 12)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.getInt; b.getInt
      val beg = java.lang.Integer.toUnsignedLong(b.getInt)
      val fb = ByteBuffer.wrap(bytes,
        pos + spec.frameSize - footSize, footSize)
        .order(ByteOrder.LITTLE_ENDIAN)
      val word0 = java.lang.Short.toUnsignedInt(fb.getShort)
      val stamp = java.lang.Short.toUnsignedInt(fb.getShort)
      if (stamp == spec.validation || stamp == spec.validationAlt) {
        val nRecs =
          if (word0 == 0) nRecFrame
          else math.min(nRecFrame, math.max(0,
            ((word0 & 0x0fff) - hdrSize - footSize) / recSize))
        if (nRecs > 0) {
          if (beg < lastEnd) ok = false else lastEnd = beg + nRecs
        }
      }
      pos += spec.frameSize
    }
    ok
  }

  /** TOB1 encoder (test/round-trip utility): rows of
    * (timestampMicros, float values...) under the given channel names.
    * Emits SECONDS/NANOSECONDS + IEEE4 channels. */
  def writeTob1(path: String, info: Seq[String], valueNames: Seq[String],
      rows: Seq[(Long, Seq[Float])]): Unit = {
    def quoted(fs: Seq[String]) = fs.map(f => "\"" + f + "\"").mkString(",")
    val names = Seq("SECONDS", "NANOSECONDS") ++ valueNames
    val header = Seq(
      quoted(info.padTo(8, "")),
      quoted(names),
      quoted(Seq("SECONDS", "NANOSECONDS") ++ valueNames.map(_ => "arb")),
      quoted(names.map(_ => "Smp")),
      quoted(Seq("ULONG", "ULONG") ++ valueNames.map(_ => "IEEE4"))
    ).mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.US_ASCII)
    val recSize = 8 + 4 * valueNames.length
    val body = ByteBuffer.allocate(rows.length * recSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    rows.foreach { case (us, vals) =>
      val rel = us - Epoch1990Us
      body.putInt((rel / 1000000L).toInt)
      body.putInt(((rel % 1000000L) * 1000L).toInt)
      vals.foreach(body.putFloat)
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      header ++ body.array())
  }

  /** TOB3 encoder (test/round-trip utility): `values` laid out
    * `recsPerFrame` records per frame under a single IEEE4 channel
    * set, 12-byte LE frame header (seconds, subseconds=0, begin
    * record), 4-byte footer. Frame f starts at `baseUs + f*frameSec`
    * whole seconds, records step `intervalUs` within the frame
    * (`recsPerFrame * intervalUs` must equal a whole second times
    * frameSec so header seconds stay integral). Frames listed in
    * `corruptFrames` get an invalid validation stamp (decoder must
    * skip them); a trailing partial frame is written as a minor frame
    * (footer word0 = used byte count). */
  def writeTob3(path: String, info: Seq[String], tableName: String,
      valueNames: Seq[String], values: Seq[Seq[Float]],
      baseUs: Long, intervalUs: Long, recsPerFrame: Int,
      corruptFrames: Set[Int] = Set.empty): Unit = {
    val recSize = 4 * valueNames.length
    val hdrSize = 12; val footSize = 4
    val frameSize = hdrSize + recsPerFrame * recSize + footSize
    val frameUs = recsPerFrame * intervalUs
    require(frameUs % 1000000L == 0,
      s"frame span ${frameUs}us must be whole seconds")
    require((baseUs - Epoch1990Us) % 1000000L == 0 && baseUs >= Epoch1990Us,
      "baseUs must be whole seconds after 1990-01-01")
    val validation = 43981 // 0xABCD
    def quoted(fs: Seq[String]) = fs.map(f => "\"" + f + "\"").mkString(",")
    val intervalStr =
      if (intervalUs % 1000 == 0) s"${intervalUs / 1000} MSEC"
      else s"$intervalUs USEC"
    val header = Seq(
      quoted(info.padTo(8, "").take(8)),
      quoted(Seq(tableName, intervalStr, frameSize.toString, "0",
        validation.toString, "SecMsec")),
      quoted(valueNames),
      quoted(valueNames.map(_ => "arb")),
      quoted(valueNames.map(_ => "Smp")),
      quoted(valueNames.map(_ => "IEEE4"))
    ).mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.US_ASCII)

    val nFrames = (values.length + recsPerFrame - 1) / recsPerFrame
    val body = ByteBuffer.allocate(nFrames * frameSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    for (f <- 0 until nFrames) {
      val recs = values.slice(f * recsPerFrame, (f + 1) * recsPerFrame)
      val frameStart = body.position()
      body.putInt(((baseUs - Epoch1990Us) / 1000000L
        + f.toLong * (frameUs / 1000000L)).toInt) // seconds since 1990
      body.putInt(0)                              // subseconds
      body.putInt(f * recsPerFrame)               // begin record no
      recs.foreach(_.foreach(body.putFloat))
      body.position(frameStart + hdrSize + recsPerFrame * recSize)
      val minor = recs.length < recsPerFrame
      val word0 =
        if (minor) hdrSize + recs.length * recSize + footSize else 0
      body.putShort(word0.toShort)
      val stamp = if (corruptFrames.contains(f)) 1 else validation
      body.putShort(stamp.toShort)
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(path).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      header ++ body.array())
  }

  // --- Spark sources --------------------------------------------------

  private[sources] def sparkSchema(h: TobHeader): StructType = {
    val chans = h.types.map(channel(_, h.format == "TOB1"))
    val fields = h.names.zip(chans).map { case (n, c) =>
      StructField(n, c.dataType, nullable = true) }
    if (h.format == "TOB1")
      StructType(StructField("DATETIME", TimestampType) +:
        fields.drop(2))
    else
      StructType(StructField("DATETIME", TimestampType) +:
        StructField("RECORD", LongType) +: fields)
  }

  final case class Parsed(data: DataFrame, meta: TableMeta)

  /** Distributed read of a file/glob/directory of TOB files through
    * `format("tob")`, with the catalog of the first file's header. */
  def read(spark: SparkSession, path: String): Parsed = {
    val h = TobV2.probeHeader(path)
    Parsed(spark.read.format("tob").schema(sparkSchema(h)).load(path),
      tableMeta(h))
  }
}
