package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.NetCdf

/** Output checks of one pass against the generator's ground truth.
  * Each returns the problems it found (empty when the op's products
  * are right) and adds the layer counts it measured to `counters`. */
final class Checks(spark: SparkSession, tr: Tracer, ops: Ops) {
  val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counters(k) += v
  private val MB = 1048576.0

  def site(s: Gen.Site): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) problems += s"${s.name} $what: got $got, want $want"

    val scanned = mutable.LinkedHashMap.empty[Gen.Group, Long]
    s.groups.foreach { g =>
      val name = if (g.units.nonEmpty) "backup" else g.table.name
      val raws = g.table.chans.map(_.raw)
      val lines = g.files.map(_.lines).sum
      // sources: in = out + bad-timestamp rows; nulls = NAN tokens + garbage
      val (out, nulls) = tr.span("check.sources") {
        val r = spark.read.format("toa5").load(g.glob)
          .agg(count(lit(1)), raws.map(c => count(when(col(c).isNull, 1))): _*).head()
        (r.getLong(0), raws.indices.map(i => r.getLong(i + 1)))
      }
      expect(s"$name rows out of source", out, (lines - g.files.map(_.badTs).sum).toLong)
      val nan = raws.indices.map(i => g.files.map(_.nan(i)).sum.toLong)
      val garbage = raws.indices.map(i => g.files.map(_.garbage(i)).sum.toLong)
      expect(s"$name null cells of source", nulls, nan.zip(garbage).map { case (a, b) => a + b })
      add("sources.in_mb", g.files.map(f => Files.size(Paths.get(f.path))).sum / MB)
      add("sources.rows_out", out.toDouble)
      add("sources.rows_dropped", (lines - out).toDouble)
      add("sources.cells_nulled", (nulls.sum - nan.sum).toDouble)

      scanned += g -> out
    }

    tr.span("check") {
      // lake: exact grid per year, null cells per variable and year
      val lake = spark.read.parquet(ops.lakeDir(s).resolve("data").toString)
      val flags = lake.columns.filter(_.endsWith("_QCFlag")).sorted.toSeq
      val byYear = lake.groupBy("year")
        .agg(count(lit(1)), flags.map(f => sum(col(f))): _*).collect()
        .map(r => r.getInt(0) -> r).toMap

      // condition, read off the product: a filled gap tick is a row whose
      // every variable from that table is null (no seeded row is), so
      // rows out of the source - dropped duplicates + filled = grid
      val tables = s.groups.filter(_.units.isEmpty)
      val perTable = lake.agg(count(lit(1)), tables.flatMap { g =>
        val first = java.sql.Timestamp.valueOf(s.origin.plusSeconds(g.files.head.first * Gen.StepSec))
        Seq(count(when(g.table.chans.map(c => col(c.lake).isNull).reduce(_ && _), 1)),
          count(when(col("DATETIME") >= lit(first), 1)))
      }: _*).head()
      tables.zipWithIndex.foreach { case (g, i) =>
        val (filled, grid) = (perTable.getLong(1 + 2 * i), perTable.getLong(2 + 2 * i))
        val dropped = scanned(g) - (grid - filled)
        expect(s"${g.table.name} grid rows", grid, g.files.map(_.gridRows).sum)
        expect(s"${g.table.name} filled gap rows", filled, g.files.map(_.gapTicks).sum.toLong)
        expect(s"${g.table.name} dropped duplicates", dropped,
          g.files.map(_.dupDropped).sum.toLong)
        add("condition.rows_dropped_dup", dropped.toDouble)
        add("condition.rows_filled", filled.toDouble)
      }
      expect("lake years", byYear.keySet, s.years.toSet)
      var lakeNulls = 0L
      s.years.filter(byYear.contains).foreach { y =>
        val r = byYear(y)
        expect(s"lake rows $y", r.getLong(1), s.expectRows(y))
        flags.zipWithIndex.foreach { case (f, i) =>
          val v = f.stripSuffix("_QCFlag")
          lakeNulls += r.getLong(i + 2)
          expect(s"lake nulls $y $v", r.getLong(i + 2), s.expectNulls(y).getOrElse(v, -1L))
        }
      }
      val files = s.groups.filter(_.units.isEmpty).flatMap(_.files)
      val expectedNulls = s.expectNulls.values.flatMap(_.values).sum
      add("qc.cells_masked",
        (lakeNulls - (expectedNulls - files.map(_.implausible.sum).sum)).toDouble)

      // yearly netCDF products
      s.years.foreach { y =>
        val ds = NetCdf.read(ops.ncPath(s, y).toString)
        expect(s"nc records $y", ds.vars.find(_.name == "time").map(_.data.length),
          Some(s.expectRows(y).toInt))
      }
      val ncBytes = s.years.map(y => Files.size(ops.ncPath(s, y))).sum
      add("lake.files", (Ops.files(ops.lakeDir(s)).size + s.years.size).toDouble)
      add("lake.out_mb", (Ops.bytes(ops.lakeDir(s)) + ncBytes) / MB)

      // vis extract: header block + the newest year's grid
      val visLines = Files.readAllLines(ops.visPath(s), StandardCharsets.UTF_8).size
      expect("vis lines", visLines.toLong, 4 + s.expectRows(s.years.last))
      add("vis.out_mb", Files.size(ops.visPath(s)) / MB)
    }
    problems.toSeq
  }

  def status(sites: Seq[Gen.Site], dir: Path): Seq[String] = {
    val healthy = sites.count(!_.broken)
    val geo = new String(Files.readAllBytes(dir.resolve("site_status.geojson")),
      StandardCharsets.UTF_8)
    val features = "\"type\": \"Feature\"".r.findAllIn(geo).size
    val missing = Seq("network_status.xlsx", "site_details.json")
      .filterNot(f => Files.isRegularFile(dir.resolve(f)))
    (if (features == healthy) Nil else Seq(s"status features: got $features, want $healthy")) ++
      missing.map(f => s"status: $f missing")
  }

  def day(d: Gen.Day, stats: Array[(Long, Long)], shards: Seq[String],
      dir: Path): Seq[String] = {
    val rows = tr.span("check.sources") {
      spark.read.format("tob").load(d.path).agg(count(lit(1))).head().getLong(0)
    }
    val shardFiles = Ops.files(dir).count(_.toString.endsWith(".dat"))
    add("sources.in_mb", Files.size(Paths.get(d.path)) / MB)
    add("sources.rows_out", rows.toDouble)
    add("sources.rows_dropped", (d.written - rows).toDouble)
    add("fastdata.shards", shardFiles.toDouble)
    add("fastdata.out_mb", Ops.bytes(dir) / MB)
    Seq(
      (rows == d.rows, s"decoded rows: got $rows, want ${d.rows}"),
      (stats.toMap == d.windows, "window row counts differ from the manifest"),
      (shards.size == d.windows.size && shardFiles == d.windows.size,
        s"shards: got ${shards.size} names, $shardFiles files, want ${d.windows.size}"))
      .collect { case (false, msg) => s"${Paths.get(d.path).getFileName}: $msg" }
  }

  /** Order-independent content hash of a site's lake. */
  def lakeHash(dir: Path): (Long, Long) = {
    val lake = spark.read.parquet(dir.resolve("data").toString)
    val r = lake.agg(count(lit(1)),
      bit_xor(xxhash64(lake.columns.sorted.toIndexedSeq.map(col): _*))).head()
    (r.getLong(0), r.getLong(1))
  }
}
