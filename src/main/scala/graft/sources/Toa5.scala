package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{FileFormat, FileInfo, TableMeta, VariableMeta}
import graft.sources.v2.Toa5V2

/** TOA5 / EddyPro codec.
  *
  * Read contract (reference: code/file_handling/file_io.py:61-262):
  * a small header block (info line, variable names, units, sampling)
  * followed by CSV/TSV rows; NA token `NAN`/`NaN`; non-numeric columns
  * declared by format, everything else coerced to double (bad -> null);
  * a DATETIME timestamp built from the file's time columns; bad rows
  * dropped; sort by time.
  *
  * The header block is probed driver-side (a few hundred bytes, no
  * job), producing a `StructType` + [[TableMeta]]. Rows come from one
  * place only: the `format("toa5")` DataSource V2 reader
  * ([[graft.sources.v2.Toa5DataSource]]), which applies the parse
  * rules above per file and fails on a file whose variable names
  * differ from the probed header (reference D7:
  * code/utils/fast_file_io.py:294-341), and reads local or
  * shared-mount paths only. This object adds the header-derived
  * catalog and the byte-stable writers.
  */
object Toa5 {

  final case class Parsed(data: DataFrame, meta: TableMeta)

  /** Driver-side header probe (S3/S4/S5): first `headerLines` lines.
    * A file that ends inside its header block (an empty file counts as
    * a TOA5 one) fails with `truncated <format> header`. */
  def probeHeader(path: String): (FileFormat, Seq[String]) = {
    val it = Files.lines(Paths.get(path), StandardCharsets.UTF_8)
    try {
      val head = it.iterator().asScala.take(8).toVector
      def truncated(fmt: FileFormat) = new IllegalArgumentException(
        s"truncated ${fmt.name} header in $path: " +
        s"${head.length} of ${fmt.headerLines} lines")
      if (head.isEmpty) throw truncated(FileFormat.Toa5)
      val fmt = FileFormat.detect(head.head).getOrElse(
        throw new IllegalArgumentException(
          s"unrecognized format in $path: ${head.head.take(60)}"))
      if (head.length < fmt.headerLines) throw truncated(fmt)
      (fmt, head.take(fmt.headerLines))
    } finally it.close()
  }

  private def splitLine(line: String, fmt: FileFormat): Seq[String] =
    line.split(java.util.regex.Pattern.quote(fmt.separator), -1).toSeq
      .map(_.replaceAll("^\"|\"$", ""))

  /** Build TableMeta from probed header lines. */
  def parseHeader(fmt: FileFormat, header: Seq[String]): TableMeta = {
    val names = splitLine(header(fmt.namesLine), fmt)
    val units = fmt.unitsLine.map(i => splitLine(header(i), fmt))
      .getOrElse(names.map(_ => ""))
    val sampling = fmt.samplingLine.map(i => splitLine(header(i), fmt))
      .getOrElse(names.map(_ => ""))
    val info = fmt.infoLine.map { i =>
      val f = splitLine(header(i), fmt).padTo(8, "")
      FileInfo(f(0), f(1), f(2), f(3), f(4), f(5), f(6), f(7))
    }.getOrElse(FileInfo.dummy)
    val vars = names.zipWithIndex.map { case (n, i) =>
      VariableMeta(n, units.lift(i).getOrElse(""),
        sampling.lift(i).getOrElse(""))
    }
    TableMeta(info, vars)
  }

  /** Schema: declared non-numeric columns are strings, all else double
    * (D3: the reader turns the NA token, an empty or missing cell and
    * non-numeric garbage in a double column into null). */
  def schemaFor(fmt: FileFormat, meta: TableMeta): StructType =
    StructType(meta.variableNames.map { n =>
      if (fmt.nonNumericCols.contains(n)) StructField(n, StringType)
      else StructField(n, DoubleType)
    })

  /** Distributed scan of one file, directory or glob of TOA5 or
    * EddyPro files through `format("toa5")`, with the catalog of the
    * first file's header.
    *
    * Produces the conditioned frame: DATETIME built (F27), unparseable
    * timestamps dropped (D4), value columns coerced (D3). Dedup/
    * regularize are separate operators (TimeSeriesOps) — same
    * separation as the reference's FileHandler vs file_io.
    */
  def read(spark: SparkSession, path: String): Parsed = {
    val (fmt, header) = probeHeader(Toa5V2.listFiles(path).head)
    val meta = parseHeader(fmt, header)
    Parsed(spark.read.format("toa5").schema(Toa5V2.fullSchema(fmt, meta))
      .load(path), meta)
  }

  /** K1/K2 writer: byte-stable single-file TOA5 output — header block
    * then body rows, QUOTE_NONNUMERIC quoting, NA token, timestamp as
    * leading `TIMESTAMP` string column (reference:
    * code/file_handling/file_io.py:326-418,668-717).
    *
    * The single-file, byte-ordered contract forces a driver-side write
    * (reference products are <= ~1e5 rows); the D6 header/data
    * consistency check runs first. Large frames belong in parquet via
    * the lake writer, not here.
    */
  def write(df: DataFrame, meta: TableMeta, path: String,
      tsCol: String = "DATETIME"): Unit = {
    val dataCols = df.columns.filter(_ != tsCol).toSeq
    val headerVars = meta.variableNames.filter(_ != "TIMESTAMP")
    require(dataCols == headerVars,
      s"header/data mismatch: data-only=${dataCols.diff(headerVars)} " +
      s"header-only=${headerVars.diff(dataCols)}")

    val stringIdx = stringColumnIndices(df, dataCols)
    val rows = collectBounded(df.orderBy(col(tsCol))
      .select((col(tsCol) +: dataCols.map(col)): _*), path)
    val sb = new StringBuilder(headerText(meta))
    rows.foreach { r =>
      sb.append(bodyLine(r.getTimestamp(0),
        dataCols.indices.map(i => r.get(i + 1)), stringIdx,
        FileFormat.Toa5.naToken))
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  private def quoteCell(s: String) = "\"" + s + "\""

  /** The 4-line TOA5 header block (info, names, units, sampling), each
    * line CRLF-terminated — shared by the driver-side [[write]] and the
    * distributed [[graft.pipeline.FastData.writeShards]] so the two
    * paths are byte-identical by construction. */
  private[graft] def headerText(meta: TableMeta): String = {
    val headerVars = meta.variableNames.filter(_ != "TIMESTAMP")
    val i = meta.info
    val infoLine = Seq(i.format, i.stationName, i.loggerType, i.serialNum,
      i.osVersion, i.programName, i.programSig, i.tableName)
      .map(quoteCell).mkString(",")
    val byName = meta.variables.map(v => v.name -> v).toMap
    val namesLine = ("TIMESTAMP" +: headerVars).map(quoteCell).mkString(",")
    val unitsLine = ("TS" +: headerVars.map(n =>
      byName.get(n).map(_.units).getOrElse(""))).map(quoteCell).mkString(",")
    val samplingLine = ("" +: headerVars.map(n =>
      byName.get(n).map(_.sampling).getOrElse(""))).map(quoteCell).mkString(",")
    Seq(infoLine, namesLine, unitsLine, samplingLine)
      .mkString("", "\r\n", "\r\n")
  }

  /** Data-column indices holding strings (quoted on write). */
  private[graft] def stringColumnIndices(df: DataFrame,
      dataCols: Seq[String]): Set[Int] = {
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name }.toSet
    dataCols.zipWithIndex.collect {
      case (c, i) if stringCols(c) => i }.toSet
  }

  // immutable + thread-safe; shared across driver and executor callers
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss")

  /** One CRLF-terminated TOA5 body line: quoted timestamp then cells in
    * header order (QUOTE_NONNUMERIC — strings quoted, numbers bare, NA
    * token for nulls). Pure function of its arguments so executors can
    * call it from a distributed shard writer. */
  private[graft] def bodyLine(ts: java.sql.Timestamp, values: Seq[Any],
      stringIdx: Set[Int], naToken: String): String = {
    val sb = new StringBuilder
    sb.append(quoteCell(ts.toLocalDateTime.format(tsFmt)))
    values.zipWithIndex.foreach { case (v, i) =>
      val cell =
        if (v == null) naToken
        else if (stringIdx.contains(i)) quoteCell(v.toString)
        else formatNum(v)
      sb.append(",").append(cell)
    }
    sb.append("\r\n")
    sb.toString
  }

  /** K3: EddyPro summary writer — tab-separated, 2 header lines
    * (names with leading DATAH/filename/date/time; units line led by
    * DATAU with bracketed date/time formats), NA token `NaN`, rows
    * prefixed DATA + filename + split date/time columns (reference:
    * code/file_handling/file_io.py:721-841). */
  def writeEddyPro(df: DataFrame, meta: TableMeta, path: String,
      filename: String, tsCol: String = "DATETIME"): Unit = {
    val dataCols = df.columns.filter(_ != tsCol).toSeq
    val byName = meta.variables.map(v => v.name -> v).toMap
    val namesLine = (Seq("DATAH", "filename", "date", "time") ++ dataCols)
      .mkString("\t")
    val unitsLine = (Seq("DATAU", "", "[yyyy-mm-dd]", "[HH:MM]") ++
      dataCols.map(n => byName.get(n).map(_.units).getOrElse("")))
      .mkString("\t")
    val rows = collectBounded(df.orderBy(col(tsCol))
      .select((col(tsCol) +: dataCols.map(col)): _*), path)
    val dFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    val tFmt = java.time.format.DateTimeFormatter.ofPattern("HH:mm")
    val sb = new StringBuilder
    sb.append(namesLine).append("\r\n").append(unitsLine).append("\r\n")
    rows.foreach { r =>
      val ldt = r.getTimestamp(0).toLocalDateTime
      sb.append(Seq("DATA", filename, ldt.format(dFmt), ldt.format(tFmt))
        .mkString("\t"))
      dataCols.indices.foreach { i =>
        val v = r.get(i + 1)
        sb.append("\t").append(if (v == null) "NaN" else formatNum(v))
      }
      sb.append("\r\n")
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Single-file logger products are driver-assembled by design (a
    * TOA5/EddyPro site-year is ~17.5k rows; byte-stable output needs
    * one ordered writer) — but a misuse with a bulk frame must fail
    * loudly, not OOM the driver. */
  private val MaxWriterRows = 2000000

  /** The sorted extract in one action, as `writeNetCdfYear` does: a
    * limit over the writers' `orderBy` plans as a top-k (or, for a
    * frame known to be smaller than the cap, as the plain sort), so the
    * frame is sorted once and the result holds at most
    * MaxWriterRows + 1 rows; one row over the cap fails the write. */
  private def collectBounded(df: DataFrame, path: String)
      : Array[org.apache.spark.sql.Row] = {
    val rows = df.limit(MaxWriterRows + 1).collect()
    require(rows.length <= MaxWriterRows,
      s"refusing to write $path: frame exceeds $MaxWriterRows rows — " +
      "single-file TOA5/EddyPro output is a driver-side artifact; " +
      "write bulk frames to parquet instead")
    rows
  }

  /** Numeric rendering: integral doubles without trailing .0 kept as
    * pandas does ("1.0" stays "1.0"); we render shortest repr. */
  private def formatNum(v: Any): String = v match {
    case d: java.lang.Double =>
      if (d.isNaN) "NAN" else d.toString
    case f: java.lang.Float => f.toString
    case x => x.toString
  }
}
