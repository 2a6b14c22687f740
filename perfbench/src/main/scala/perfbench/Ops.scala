package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{TableMeta, VariableMeta}
import graft.functions.Conversions
import graft.operators.{JoinOps, TimeSeriesOps}
import graft.pipeline.{FastData, L1Pipeline, MergeLegality, Status, VisPipeline}
import graft.pipeline.L1Pipeline.Conditioned
import graft.sources.Toa5
import graft.sources.v2.Toa5V2

/** The paper path, driven through each layer's public functions. The
  * benchmark's spans wrap the calls; nothing here reaches inside a
  * layer. */
final class Ops(spark: SparkSession, tr: Tracer, out: Path) {
  import Ops._

  def siteDir(s: Gen.Site): Path = out.resolve(s.name)
  def lakeDir(s: Gen.Site): Path = siteDir(s).resolve("lake")
  def ncPath(s: Gen.Site, y: Int): Path = siteDir(s).resolve(s"${s.name}_${y}_L1.nc")
  def visPath(s: Gen.Site): Path = siteDir(s).resolve(s"${s.name}_vis.dat")
  def dayDir(d: Gen.Day): Path = out.resolve("fast").resolve(Paths.get(d.path).getFileName.toString)

  /** The lake's variable catalog after conversions, with plausible
    * bounds from the standard-names table. */
  def lakeMeta(m: TableMeta): TableMeta = m.copy(variables = m.variables.map { v =>
    val conv = UnitConversions.get(v.name).map(_._2).getOrElse(v.units)
    Gen.Plausible.get(v.name).fold(v.copy(units = conv)) { case (lo, hi) =>
      v.copy(units = conv, plausibleMin = Some(lo), plausibleMax = Some(hi)) }
  })

  /** Header probe + DSv2 scan of one file group. */
  def source(g: Gen.Group): Conditioned = {
    val first = Toa5V2.listFiles(g.glob).head
    val (fmt, header) = Toa5.probeHeader(first)
    Conditioned(spark.read.format("toa5").load(g.glob), Toa5.parseHeader(fmt, header))
  }

  /** E1 (L1 lake + yearly netCDF) then E2 (vis TOA5) for one site. */
  def siteTask(s: Gen.Site): Unit = {
    val srcs = tr.span("sources") { s.groups.map(source) }
    val conds = tr.span("condition") {
      srcs.zip(s.groups).map { case (c, g) =>
        L1Pipeline.condition(c, "DATETIME", Gen.StepSec, g.table.usecols) }
    }
    // groups are met, flux, flux backup, EddyPro (see Gen.writeSite)
    val Seq(met, flux, backup, ep) = conds
    val merged = tr.span("merge") {
      val rep = MergeLegality.analyse(flux.df, flux.meta, backup.df, backup.meta, "DATETIME")
      require(rep.legal, s"${s.name}: flux backup is not a legal concat: $rep")
      val fluxAll = Conditioned(
        JoinOps.concatWithPrecedence(Seq(flux.df, backup.df), Seq("DATETIME")), flux.meta)
      L1Pipeline.mergeOnTime(Seq(met, fluxAll, ep), "DATETIME")
    }
    val qc = tr.span("qc") {
      val c = L1Pipeline.convertUnits(merged, UnitConversions)
      L1Pipeline.maskPlausible(c.copy(meta = lakeMeta(c.meta)))
    }
    tr.span("lake") {
      L1Pipeline.writeLake(qc, "DATETIME", Gen.StepSec, lakeDir(s).toString, s.name)
      s.years.foreach(y => L1Pipeline.writeNetCdfYear(spark, lakeDir(s).toString, y,
        s.name, s.lat, s.lon, Gen.StepSec, ncPath(s, y).toString))
    }
    tr.span("vis") {
      val df = L1Pipeline.readLake(spark, lakeDir(s).toString, Seq(s.years.last)).drop("year")
      VisPipeline.buildVisualisationToa5(Conditioned(df, qc.meta), "DATETIME",
        VisTargets, 2.0, VisPlausible, visPath(s).toString)
    }
  }

  /** E3: network status from every site's newest lake year plus the
    * raw files' time spans. */
  def statusTask(sites: Seq[Gen.Site], now: Timestamp): Unit = tr.span("status") {
    import spark.implicits._
    val withLake = sites.filter(s => Files.isDirectory(lakeDir(s)))
    val fileRows = sites.flatMap(s => Toa5V2.listFiles(s.dir).map { f =>
      val days = Toa5V2.fileTimeSpan(f).map { case (_, hi) =>
        (now.getTime * 1000L - hi) / 86400e6 }
      (s.name, Paths.get(f).getFileName.toString, days)
    })
    val fileStatus = fileRows.toDF("site", "file_name", "days_since_last_record")
    val perSite = withLake.map { s =>
      val lake = L1Pipeline.readLake(spark, lakeDir(s).toString, Seq(s.years.last))
      val vars = lake.columns.filterNot(Set("DATETIME", "year"))
      val long = lake.select(col("DATETIME"), explode(array(vars.map(v =>
        struct(lit(v).as("variable"), col(v).cast("double").as("value"))): _*)).as("kv"))
        .select(col("DATETIME"), col("kv.variable").as("variable"), col("kv.value").as("value"))
      val st = TimeSeriesOps.variableStatus(long, "DATETIME", "value", now, Seq("variable"))
        .select(col("variable"),
          ((lit(now.getTime * 1000L) - unix_micros(col("last_valid_ts"))) / 86400e6)
            .as("days_since_last_valid_record"),
          col("n_valid_24h"))
        .orderBy("variable")
      s.name -> st
    }
    val base = out.resolve("network")
    Status.writeStatusWorkbook(base.resolve("network_status.xlsx").toString,
      fileStatus, perSite, now)
    val coords = withLake.map(s => (s.name, s.lat, s.lon)).toDF("site", "lat", "lon")
    val summary = perSite.map { case (n, st) =>
        st.agg(max(col("days_since_last_valid_record")).as("days"))
          .withColumn("site", lit(n)) }
      .reduceOption(_.unionByName(_))
      .map(_.join(coords, Seq("site"))
        .withColumn("status", Status.stalenessBucket(col("days")))
        .orderBy("site"))
    summary.foreach { df =>
      Status.writeGeojson(df, base.resolve("site_status.geojson").toString,
        "site", "lat", "lon")
      Status.writeJsonArray(df, base.resolve("site_details.json").toString)
    }
  }

  /** E4 for one day-file: DSv2 decode, completeness stats, shards. */
  def dayTask(d: Gen.Day, outDir: Path): (Array[(Long, Long)], Seq[String]) = {
    val (df, meta) = tr.span("sources") {
      val df = spark.read.format("tob").load(d.path)
      val in = Files.newInputStream(Paths.get(d.path))
      val head = try in.readNBytes(4096) finally in.close()
      val h = graft.sources.Tob.parseHeader(head)._1
      val m = graft.sources.Tob.tableMeta(h)
      (df, m.copy(variables = VariableMeta("TIMESTAMP", "TS", "") +:
        VariableMeta("RECORD", "RN", "") +: m.variables))
    }
    tr.span("fastdata") {
      val stats = FastData.windowStats(df.select("DATETIME"), "DATETIME", 30, 10.0)
        .select(unix_micros(col("window_end")), col("n_rows")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val shards = FastData.writeShards(df, meta, "DATETIME", 30, outDir.toString,
        Paths.get(d.path).getFileName.toString.stripSuffix(".dat"))
      (stats, shards)
    }
  }
}

object Ops {

  /** Unit conversions the site task applies (raw units -> L1 units). */
  val UnitConversions: Map[String, (Column => Column, String)] = Map(
    "Ta_HMP_2m_Av" -> ((c: Column) => Conversions.kelvinToCelsius(c), "degC"),
    "RH_HMP_2m_Av" -> ((c: Column) => Conversions.fracToPercent(c), "percent"),
    "ps_Av" -> ((c: Column) => Conversions.hpaToKpa(c), "kPa"))

  val VisTargets = Seq("Ta", "RH", "ps", "Fco2", "Fh", "Fe", "ustar")

  /** Vis masking bounds keyed by quantity. */
  val VisPlausible: Map[String, (Double, Double)] = Map(
    "Ta" -> (-40.0, 60.0), "RH" -> (0.0, 100.0), "ps" -> (80.0, 110.0),
    "Fco2" -> (-50.0, 50.0), "Fh" -> (-200.0, 800.0), "Fe" -> (-200.0, 800.0),
    "ustar" -> (0.0, 3.0))

  /** Regular files under `p` and their total size. */
  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally st.close()
    }

  def bytes(p: Path): Long = files(p).map(Files.size).sum

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.deleteIfExists)
    finally st.close()
  }
}
