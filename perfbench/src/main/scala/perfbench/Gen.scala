package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.sources.{Toa5, Tob}

/** Seeded logger-network generator. Every input file is written by the
  * program's own writers (`Toa5.write`, `Toa5.writeEddyPro`,
  * `Tob.writeTob3`); the field defects a writer cannot produce
  * (duplicate and out-of-order lines, garbage cells and timestamps,
  * truncations) are then applied to the written bytes. Alongside the
  * files it returns the ground truth the checks compare against: rows
  * per file, seeded defects by kind, and the expected product grid. The
  * same seed gives byte-identical files. */
object Gen {

  val StepSec = 1800L

  /** One logger channel: its raw header name and units, the L1 name it
    * is renamed to, the raw range healthy values are drawn from, and an
    * implausible raw value the QC mask must remove. */
  final case class Chan(raw: String, units: String, sampling: String,
      lake: String, lo: Double, hi: Double, bad: Double)

  final case class Table(name: String, chans: Seq[Chan], eddyPro: Boolean) {
    def usecols: Map[String, String] = chans.map(c => c.raw -> c.lake).toMap
  }

  val Met = Table("met", Seq(
    Chan("AirTK_Avg", "K", "Avg", "Ta_HMP_2m_Av", 260, 310, 999),
    Chan("RH_Avg", "fraction", "Avg", "RH_HMP_2m_Av", 0.2, 0.95, 1.5),
    Chan("BP_hPa_Avg", "hPa", "Avg", "ps_Av", 950, 1030, 2000),
    Chan("Rain_Tot", "mm", "Tot", "Precip_Tot", 0, 5, -5)), eddyPro = false)
  val Flux = Table("flux", Seq(
    Chan("Fc_wpl", "umol/m^2/s", "Avg", "Fco2_EF", -20, 10, 999),
    Chan("Hs", "W/m^2", "Avg", "Fh_EF", -50, 400, 5000),
    Chan("Ts_Avg", "degC", "Avg", "Ts_SONIC_Av", 0, 35, 99)), eddyPro = false)
  val Ep = Table("ep", Seq(
    Chan("co2_flux", "umol/m^2/s", "", "Fco2_EP", -20, 10, 999),
    Chan("H", "W/m^2", "", "Fh_EP", -50, 400, 5000),
    Chan("LE", "W/m^2", "", "Fe_EP", -20, 400, 5000),
    Chan("ustar", "m/s", "", "ustar_EP", 0.05, 1.0, 50)), eddyPro = true)

  /** Plausible range of every L1 variable, in L1 units (after the unit
    * conversions the site task applies). */
  val Plausible: Map[String, (Double, Double)] = Map(
    "Ta_HMP_2m_Av" -> (-40.0, 60.0), "RH_HMP_2m_Av" -> (0.0, 100.0),
    "ps_Av" -> (80.0, 110.0), "Precip_Tot" -> (0.0, 100.0),
    "Fco2_EF" -> (-50.0, 50.0), "Fh_EF" -> (-200.0, 800.0),
    "Ts_SONIC_Av" -> (-40.0, 60.0), "Fco2_EP" -> (-50.0, 50.0),
    "Fh_EP" -> (-200.0, 800.0), "Fe_EP" -> (-200.0, 800.0),
    "ustar_EP" -> (0.0, 3.0))

  // cell states of a generated row
  final val Ok: Byte = 0
  final val Nan: Byte = 1
  final val Garbage: Byte = 2
  final val Implausible: Byte = 3

  /** One written table file. Ticks are half hours counted from the
    * site's origin: tick k ends at origin + k * 30 min. */
  final case class FileRec(path: String, table: String, first: Long,
      last: Long, lines: Int, defects: Map[String, Int],
      nan: Seq[Int], garbage: Seq[Int], implausible: Seq[Int]) {
    def gridRows: Long = last - first + 1
    def badTs: Int = defects("bad_timestamp_rows")
    def dupDropped: Int = defects("duplicate_rows") + defects("duplicate_timestamps")
    def gapTicks: Int = defects("gap_ticks")
  }

  /** Tick-by-tick content of a file: which ticks have a row, and the
    * state of each channel cell (`cells(chan)(tick - first)`). */
  final class Truth(val first: Long, val last: Long,
      val present: Array[Boolean], val cells: Array[Array[Byte]]) {
    def covers(k: Long): Boolean = k >= first && k <= last
    def isNull(c: Int, k: Long): Boolean = {
      val i = (k - first).toInt
      !present(i) || cells(c)(i) != Ok
    }
  }

  /** Files of one table that a site task reads as one frame. */
  final case class Group(table: Table, glob: String, files: Seq[FileRec],
      units: Map[String, String])

  final case class Site(name: String, lat: Double, lon: Double,
      origin: LocalDateTime, dir: String, groups: Seq[Group],
      years: Seq[Int], expectRows: Map[Int, Long],
      expectNulls: Map[Int, Map[String, Long]]) {
    /** A defect-only site: its one file cannot be read. */
    def broken: Boolean = expectRows.isEmpty
  }

  /** One TOB3 day-file and the rows its decode must yield per 30-min
    * window (window end, epoch micros). `windows` is empty for the
    * defect-only file whose header is truncated. */
  final case class Day(path: String, written: Long, rows: Long,
      windows: Map[Long, Long], defects: Map[String, Int]) {
    def broken: Boolean = windows.isEmpty
  }

  /** `warm` and `warmDay` are the set-up's small warm-up inputs. */
  final case class Network(sites: Seq[Site], days: Seq[Day], warm: Option[Group],
      warmDay: Option[Day], inBytes: Long)

  // ------------------------------------------------------------------

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  private def tickTime(origin: LocalDateTime, k: Long): LocalDateTime =
    origin.plusSeconds(k * StepSec)

  /** L1 year of tick k (the year its interval starts in). */
  private def labelYear(origin: LocalDateTime, k: Long): Int =
    tickTime(origin, k - 1).getYear

  private def healthy(c: Chan, ci: Int, k: Long, rng: SplittableRandom): Double = {
    val span = c.hi - c.lo
    val diel = math.sin(2 * math.Pi * k / 48.0 + ci)
    val season = math.sin(2 * math.Pi * k / (48.0 * 365))
    val v = c.lo + span * (0.5 + 0.3 * diel + 0.1 * season +
      0.05 * (rng.nextDouble() - 0.5))
    round2(math.max(c.lo, math.min(c.hi, v)))
  }

  private val GarbageTokens = Seq("\"ERR\"", "-", "1.2.3", "#N/A")
  private val BadToa5Ts = Seq("\"2023-13-45 99:99:99\"", "\"NAN\"", "\"\"")

  /** Writes one TOA5 or EddyPro file covering ticks [first, last] with
    * the program's writer, then seeds its defects into the bytes. */
  private def writeTable(spark: SparkSession, path: Path, t: Table,
      site: String, units: Map[String, String], origin: LocalDateTime,
      first: Long, last: Long, rng: SplittableRandom,
      defects: Boolean): (FileRec, Truth) = {
    val n = (last - first + 1).toInt
    val nc = t.chans.size
    val present = Array.fill(n)(true)
    val cells = Array.fill(nc, n)(Ok)
    val taken = new Array[Boolean](n)
    val counts = mutable.LinkedHashMap[String, Int]()
    def between(a: Int, b: Int): Int = if (defects) rng.nextInt(a, b + 1) else 0

    // a free interior row whose neighbours are free too
    def freeRow(width: Int): Int = {
      var i = -1
      var tries = 0
      while (i < 0) {
        val j = 2 + rng.nextInt(n - 4 - width)
        if ((j - 1 to j + width).forall(x => !taken(x))) i = j
        tries += 1
        require(tries < 100000, s"$path: no room for defects")
      }
      (i - 1 to i + width).foreach(taken(_) = true)
      i
    }

    val nGaps = between(2, 4)
    var gapTicks = 0
    (0 until nGaps).foreach { _ =>
      val len = 1 + rng.nextInt(6)
      val i = freeRow(len)
      (i until i + len).foreach(present(_) = false)
      gapTicks += len
    }
    def cellDefect(state: Byte, howMany: Int): Seq[Int] = {
      val byChan = Array.fill(nc)(0)
      (0 until howMany).foreach { _ =>
        val c = rng.nextInt(nc)
        cells(c)(freeRow(1)) = state
        byChan(c) += 1
      }
      byChan.toSeq
    }
    val nan = cellDefect(Nan, between(8, 16))
    val garbage = cellDefect(Garbage, between(4, 8))
    val implausible = cellDefect(Implausible, between(4, 8))
    val dupRows = Seq.fill(between(3, 6))(freeRow(1)).toSet
    val dupTs = Seq.fill(between(3, 6))(freeRow(1)).toSet
    val swaps = Seq.fill(between(3, 6))(freeRow(2)).toSet
    val badTs = Seq.fill(between(2, 4))(freeRow(1)).toSet

    val values = Array.tabulate(nc, n) { (c, i) =>
      healthy(t.chans(c), c, first + i, rng) }

    // the clean file, through the program's writer
    val tsField = StructField("DATETIME", TimestampType)
    val chanFields = t.chans.map(c => StructField(c.raw, DoubleType))
    val schema =
      if (t.eddyPro) StructType(tsField +: chanFields)
      else StructType((tsField +: StructField("RECORD", LongType) +: chanFields) :+
        StructField("BattV_Min", DoubleType))
    val rows = new java.util.ArrayList[Row](n)
    (0 until n).filter(present(_)).foreach { i =>
      val k = first + i
      val vals = (0 until nc).map { c =>
        cells(c)(i) match {
          case Nan => null
          case Implausible => t.chans(c).bad
          case _ => values(c)(i)
        }
      }
      val ts = Timestamp.valueOf(tickTime(origin, k))
      rows.add(Row.fromSeq(
        if (t.eddyPro) ts +: vals
        else (ts +: k +: vals) :+ (12.0 + (k % 10) / 10.0)))
    }
    val df = spark.createDataFrame(rows, schema)
    val vars = t.chans.map(c => VariableMeta(c.raw, units.getOrElse(c.raw, c.units), c.sampling))
    val fname = path.getFileName.toString
    if (t.eddyPro)
      Toa5.writeEddyPro(df, TableMeta(FileInfo.dummy, vars), path.toString, fname)
    else
      Toa5.write(df, TableMeta(
        FileInfo("TOA5", site, "CR1000X", "4012", "CR1000X.Std.06",
          s"CPU:${t.name}.CR1X", "28791", t.name),
        (VariableMeta("TIMESTAMP", "TS", "") +: VariableMeta("RECORD", "RN", "") +: vars) :+
          VariableMeta("BattV_Min", "Volts", "Min")), path.toString)

    // field defects, applied to the written lines
    val sep = if (t.eddyPro) "\t" else ","
    val chanCell = if (t.eddyPro) 4 else 2
    val text = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
    val lines = text.split("\r\n", -1).toIndexedSeq.dropRight(1)
    val nHeader = if (t.eddyPro) 2 else 4
    val rowOf = (0 until n).filter(present(_))
    val body = lines.drop(nHeader).toArray
    require(body.length == rowOf.length, s"$path: writer row count")
    def split(l: String) = l.split(java.util.regex.Pattern.quote(sep), -1)
    rowOf.zipWithIndex.foreach { case (i, j) =>
      (0 until nc).filter(c => cells(c)(i) == Garbage).foreach { c =>
        val cs = split(body(j))
        cs(chanCell + c) = GarbageTokens(rng.nextInt(GarbageTokens.size))
        body(j) = cs.mkString(sep)
      }
    }
    val out = mutable.ArrayBuffer.empty[String]
    out ++= lines.take(nHeader)
    var j = 0
    while (j < body.length) {
      val i = rowOf(j)
      if (swaps(i)) {
        out += body(j + 1); out += body(j); j += 2
      } else {
        out += body(j)
        if (dupRows(i)) out += body(j)
        if (dupTs(i)) {
          val cs = split(body(j))
          (0 until nc).foreach(c =>
            cs(chanCell + c) = (values(c)(i) + 0.01).toString)
          out += cs.mkString(sep)
        }
        if (badTs(i)) {
          val cs = split(body(j))
          if (t.eddyPro) { cs(2) = "9999-99-99"; cs(3) = "25:61" }
          else cs(0) = BadToa5Ts(rng.nextInt(BadToa5Ts.size))
          out += cs.mkString(sep)
        }
        j += 1
      }
    }
    Files.write(path, out.mkString("", "\r\n", "\r\n").getBytes(StandardCharsets.UTF_8))

    counts ++= Seq("duplicate_rows" -> dupRows.size,
      "duplicate_timestamps" -> dupTs.size,
      "garbage_cells" -> garbage.sum, "nan_cells" -> nan.sum,
      "implausible_cells" -> implausible.sum,
      "out_of_order_pairs" -> swaps.size,
      "bad_timestamp_rows" -> badTs.size, "gap_ticks" -> gapTicks,
      "clock_gaps" -> nGaps)
    (FileRec(path.toString, t.name, first, last, out.size - nHeader,
      counts.toMap, nan, garbage, implausible),
      new Truth(first, last, present, cells))
  }

  /** Writes one site: per-year met, flux and EddyPro files plus a flux
    * `.backup` that overlaps the first year's master file with aliased
    * units. `ticks` half hours from Jan 1 of `firstYear`. */
  private def writeSite(spark: SparkSession, root: Path, name: String,
      firstYear: Int, ticks: Long, rng: SplittableRandom,
      pool: java.util.concurrent.ExecutorService): () => Site = {
    val dir = root.resolve(name)
    Files.createDirectories(dir)
    val origin = LocalDateTime.of(firstYear, 1, 1, 0, 0)
    // per-year tick ranges: year y holds ticks (start of y, start of y+1]
    def ticksBefore(y: Int): Long = java.time.temporal.ChronoUnit.DAYS
      .between(origin.toLocalDate, java.time.LocalDate.of(y, 1, 1)) * 48
    val years = (firstYear to labelYear(origin, ticks)).toSeq
    val ranges = years.map(y =>
      y -> (ticksBefore(y) + 1, math.min(ticks, ticksBefore(y + 1))))
    val (lat, lon) = (-38.0 + 10 * rng.nextDouble(), 140.0 + 10 * rng.nextDouble())
    val masterStart = math.min(59L * 48, ticks / 4) + 1
    val backupEnd = masterStart - 1 + math.min(15L * 48, ticks / 8)

    // files are written concurrently, each from its own split of the
    // seed's stream, so the bytes do not depend on scheduling
    def group(t: Table, glob: String, files: Seq[(String, Long, Long)],
        units: Map[String, String] = Map.empty, defects: Boolean = true)
        : () => (Group, Seq[Truth]) = {
      val pending = files.map { case (f, a, b) =>
        val r = rng.split()
        pool.submit(new java.util.concurrent.Callable[(FileRec, Truth)] {
          def call() = writeTable(spark, dir.resolve(f), t, name, units, origin, a, b,
            r, defects)
        })
      }
      () => {
        val written = pending.map(_.get())
        (Group(t, dir.resolve(glob).toString, written.map(_._1), units), written.map(_._2))
      }
    }
    val metG = group(Met, s"${name}_met_*.dat",
      ranges.map { case (y, (a, b)) => (s"${name}_met_$y.dat", a, b) })
    val fluxG = group(Flux, s"${name}_flux_*.dat",
      ranges.map { case (y, (a, b)) => (s"${name}_flux_$y.dat", math.max(a, masterStart), b) })
    val backupName = s"${name}_flux_${years.head}.dat.backup"
    val backupG = group(Flux, backupName,
      Seq((backupName, 1L, backupEnd)), units = Map("Ts_Avg" -> "C"), defects = false)
    val epG = group(Ep, s"${name}_*_EP-Summary.txt",
      ranges.map { case (y, (a, b)) => (s"${name}_${y}_EP-Summary.txt", a, b) })
    () => {
      val (met, metT) = metG()
      val (flux, fluxT) = fluxG()
      val (backup, backupT) = backupG()
      val (ep, epT) = epG()

      // expected L1 grid: met and EddyPro from their own files, flux from
      // the master grid where it spans the tick, else from the backup
      val masterLast = flux.files.map(_.last).max
      val expectRows = mutable.Map[Int, Long]().withDefaultValue(0L)
      val expectNulls = mutable.Map[(Int, String), Long]().withDefaultValue(0L)
      def tally(ts: Seq[Truth], t: Table, k: Long, y: Int): Unit =
        ts.find(_.covers(k)).foreach { tr =>
          t.chans.indices.foreach(c =>
            if (tr.isNull(c, k)) expectNulls((y, t.chans(c).lake)) += 1)
        }
      (1L to ticks).foreach { k =>
        val y = labelYear(origin, k)
        expectRows(y) += 1
        tally(metT, Met, k, y)
        tally(epT, Ep, k, y)
        tally(if (k >= masterStart && k <= masterLast) fluxT else backupT, Flux, k, y)
      }
      val lakeVars = Seq(Met, Flux, Ep).flatMap(_.chans.map(_.lake))
      Site(name, lat, lon, origin, dir.toString, Seq(met, flux, backup, ep), years,
        expectRows.toMap,
        years.map(y => y -> lakeVars.map(v => v -> expectNulls((y, v))).toMap).toMap)
    }
  }

  /** A site whose only file lost its header tail mid-write: the task
    * must abort on it (or quarantine it) before any healthy work. */
  private def writeBrokenSite(spark: SparkSession, root: Path, name: String,
      year: Int, rng: SplittableRandom): Site = {
    val dir = root.resolve(name)
    Files.createDirectories(dir)
    val origin = LocalDateTime.of(year, 1, 1, 0, 0)
    val path = dir.resolve(s"${name}_met_$year.dat")
    val (rec, _) = writeTable(spark, path, Met, name, Map.empty, origin, 1, 48, rng,
      defects = false)
    val bytes = Files.readAllBytes(path)
    val secondNl = bytes.indexOf('\n'.toByte, bytes.indexOf('\n'.toByte) + 1)
    Files.write(path, java.util.Arrays.copyOf(bytes, secondNl + 1))
    Site(name, -30.0, 145.0, origin, dir.toString,
      Seq(Group(Met, path.toString, Seq(rec), Map.empty)), Seq(year), Map.empty, Map.empty)
  }

  private val Epoch1990 = LocalDateTime.of(1990, 1, 1, 0, 0)
  private def micros(t: LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  /** One 10 Hz TOB3 day-file: `recs` records in frames of
    * `recsPerFrame`, one frame with an invalid validation stamp, and a
    * minor tail frame that is either kept or cut mid-frame. */
  private def writeDay(root: Path, site: String, day: LocalDateTime,
      recs: Int, recsPerFrame: Int, truncateTail: Boolean,
      rng: SplittableRandom): Day = {
    val path = root.resolve(s"${site}_ts_data_${day.toLocalDate}.dat")
    val nFrames = (recs + recsPerFrame - 1) / recsPerFrame
    val corrupt = 1 + rng.nextInt(nFrames - 3)
    val phase = rng.nextDouble() * 2 * math.Pi
    val values = (0 until recs).map { i =>
      val x = i / 10.0
      Seq((2.0 * math.sin(x / 60 + phase)).toFloat,
        (0.3 * math.cos(x / 7)).toFloat,
        (20.0 + 5 * math.sin(x / 3600 + phase)).toFloat)
    }
    Tob.writeTob3(path.toString,
      Seq("TOB3", site, "CR3000", "4012", "CR3000.Std.32", "CPU:fast.CR3", "44311"),
      "ts_data", Seq("Ux", "Uz", "Ts"), values, micros(day), 100000L,
      recsPerFrame, corruptFrames = Set(corrupt))
    val frameBytes = 12 + recsPerFrame * 12 + 4
    if (truncateTail) {
      val len = Files.size(path)
      val ch = java.nio.channels.FileChannel.open(path,
        java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(len - frameBytes / 2) finally ch.close()
    }
    val lastFrame = if (truncateTail) nFrames - 1 else nFrames
    val windows = mutable.Map[Long, Long]().withDefaultValue(0L)
    val stepUs = 30L * 60 * 1000000L
    val dayUs = micros(day)
    var kept = 0L
    (0 until recs).foreach { i =>
      val f = i / recsPerFrame
      if (f != corrupt && f < lastFrame) {
        val us = dayUs + i * 100000L
        windows(us + Math.floorMod(-us, stepUs)) += 1
        kept += 1
      }
    }
    Day(path.toString, recs, kept, windows.toMap, Map(
      "invalid_stamp_frames" -> 1,
      "minor_frames" -> (if (recs % recsPerFrame != 0 && !truncateTail) 1 else 0),
      "truncated_frames" -> (if (truncateTail) 1 else 0)))
  }

  /** A day-file cut inside its ASCII header. */
  private def writeBrokenDay(root: Path, site: String, day: LocalDateTime,
      rng: SplittableRandom): Day = {
    val d = writeDay(root, site, day, 700, 70, truncateTail = false, rng)
    val path = java.nio.file.Paths.get(d.path)
    val bytes = Files.readAllBytes(path)
    val thirdNl = (0 until 3).foldLeft(-1)((p, _) => bytes.indexOf('\n'.toByte, p + 1))
    Files.write(path, java.util.Arrays.copyOf(bytes, thirdNl + 10))
    Day(d.path, d.written, 0L, Map.empty, Map("truncated_headers" -> 1))
  }

  final case class Shape(sites: Int, years: Int, days: Int, dayRecs: Int)

  val LastYear = 2023

  /** Writes the network for `shape` under `root`, plus the small warm-up
    * met file or day-file the set-up runs on. */
  def network(spark: SparkSession, root: Path, shape: Shape, seed: Long): Network = {
    val rng = new SplittableRandom(seed)
    Files.createDirectories(root)
    val firstYear = LastYear - shape.years + 1
    def yearTicks(y0: Int, n: Int): Long =
      java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.of(y0, 1, 1), java.time.LocalDate.of(y0 + n, 1, 1)) * 48
    // twice the cores: each write alternates short Spark jobs with
    // single-threaded formatting on the driver
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      2 * Runtime.getRuntime.availableProcessors)
    val (sites, warmSite) =
      try {
        if (shape.sites == 0) (Nil, None)
        else {
          val pending = (1 to shape.sites).map(i => writeSite(spark, root, f"S$i%02d",
            firstYear, yearTicks(firstYear, shape.years), rng, pool))
          val broken = writeBrokenSite(spark, root, f"S${shape.sites + 1}%02d", LastYear, rng)
          val warm = root.resolve("warmup")
          Files.createDirectories(warm)
          val (rec, _) = writeTable(spark, warm.resolve("W01_met.dat"), Met, "W01", Map.empty,
            LocalDateTime.of(LastYear, 1, 1, 0, 0), 1, 14 * 48, rng, defects = true)
          (pending.map(_()) :+ broken, Some(Group(Met, rec.path, Seq(rec), Map.empty)))
        }
      } finally pool.shutdown()
    val (days, warmDay) =
      if (shape.days == 0) (Nil, None)
      else {
        val fastRoot = root.resolve("fast")
        Files.createDirectories(fastRoot)
        val day0 = LocalDateTime.of(2024, 1, 1, 0, 0)
        val healthy = (0 until shape.days).map(d =>
          writeDay(fastRoot, "S01", day0.plusDays(d), shape.dayRecs, 70,
            truncateTail = d % 2 == 1, rng))
        val broken = writeBrokenDay(fastRoot, "S01", day0.plusDays(shape.days), rng)
        val warmRoot = root.resolve("warmup")
        Files.createDirectories(warmRoot)
        (healthy :+ broken, Some(writeDay(warmRoot, "W01", day0.minusDays(1),
          shape.dayRecs / 16, 70, truncateTail = true, rng)))
      }
    val inputs = sites.flatMap(s => Files.list(java.nio.file.Paths.get(s.dir))
      .toArray.map(_.asInstanceOf[Path])) ++ days.map(d => java.nio.file.Paths.get(d.path))
    Network(sites, days, warmSite, warmDay, inputs.map(Files.size).sum)
  }

  /** Ground-truth manifest: rows and seeded defects by kind, per file. */
  def manifestJson(net: Network): String = {
    def m(kv: Map[String, Int]) = kv.toSeq.sorted
      .map { case (k, v) => s"${Stats.jsonString(k)}: $v" }.mkString("{", ", ", "}")
    val files = net.sites.flatMap(_.groups.flatMap(_.files)).map { f =>
      s"""{"path": ${Stats.jsonString(f.path)}, "table": "${f.table}", """ +
      s""""data_lines": ${f.lines}, "grid_rows": ${f.gridRows}, "defects": ${m(f.defects)}}"""
    } ++ net.days.map { d =>
      s"""{"path": ${Stats.jsonString(d.path)}, "table": "tob3", """ +
      s""""rows": ${d.rows}, "defects": ${m(d.defects)}}"""
    }
    val totals = (net.sites.flatMap(_.groups.flatMap(_.files.map(_.defects))) ++
      net.days.map(_.defects)).flatten.groupMapReduce(_._1)(_._2)(_ + _)
    s"""{"defects": ${m(totals)}, "files": [${files.mkString(",\n  ")}]}"""
  }
}
