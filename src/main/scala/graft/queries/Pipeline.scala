package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Conversions
import graft.operators.{JoinOps, TimeSeriesOps}
import Fixtures._

/** The flux-tower product path in [[graft.pipeline]], [[graft.pfp]]
  * and [[graft.rtmc]]: merge legality, unit conversion, L1 lifecycle,
  * netCDF/xlsx/vis TOA5 products, status artifacts and fast-data
  * windows. */
object Pipeline extends QueryFamily {

  /** K4/S11 netCDF product roundtrip: hourly event means through the
    * lake -> a real classic-format .nc (CF time since 1800-01-01,
    * crs + QC flag variables, recomputed global attrs) -> the netCDF
    * scan seam. Hash-matching the direct aggregation oracle proves
    * the .nc byte path is value-stable end-to-end. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{TableMeta, VariableMeta, FileInfo}
    import graft.pipeline.L1Pipeline
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"))
    val meta = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("avg_value", "arb", "Avg")))
    val lake = s"${System.getProperty("java.io.tmpdir")}/graft_q52"
    L1Pipeline.writeLake(L1Pipeline.Conditioned(agg, meta),
      "DATETIME", 3600, lake, "EventsSite")
    val nc = s"$lake/EventsSite_2024_L1.nc"
    L1Pipeline.writeNetCdfYear(s, lake, 2024, "EventsSite",
      -35.5, 148.25, 3600, nc)
    L1Pipeline.readNetCdf(s, nc)
      .select(col("DATETIME"), col("avg_value"), col("avg_value_QCFlag"))
      .orderBy("DATETIME")
  }
  spec("q52_netcdf_roundtrip", q52, """
      WITH h AS (
        SELECT date_trunc('hour', ts) AS DATETIME,
               floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0
                 AS avg_value
        FROM events GROUP BY 1)
      SELECT DATETIME, avg_value,
             CASE WHEN avg_value IS NULL THEN 1 ELSE 0 END
               AS avg_value_QCFlag
      FROM h
      WHERE year(DATETIME - INTERVAL 1 HOUR) = 2024
      ORDER BY DATETIME""")

  /** K6/S12 xlsx roundtrip: hourly event means through the OOXML
    * writer and back through the sheet reader — hash-matching the
    * direct aggregation oracle proves cell values (numbers as
    * shortest-repr doubles, strings) survive the workbook byte path
    * exactly. */
  private def q53(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Xlsx
    val agg = t(s, dir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour_ts"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"),
           count(lit(1)).cast("double").as("n"))
      .orderBy("hour_ts")
    val rows = agg.collect()
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q53/st.xlsx"
    Xlsx.write(path, Seq(Xlsx.Sheet("Data",
      Seq(Xlsx.Cell("hour_ts"), Xlsx.Cell("avg_value"), Xlsx.Cell("n")) +:
        rows.toSeq.map(r => Seq(Xlsx.Cell(r.getString(0)),
          Xlsx.Cell(r.getDouble(1)), Xlsx.Cell(r.getDouble(2)))))), Nil)
    Xlsx.readSheet(s, path, "Data").orderBy("hour_ts")
  }
  spec("q53_xlsx_roundtrip", q53, """
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0
               AS avg_value,
             count(*)::DOUBLE AS n
      FROM events GROUP BY 1 ORDER BY 1""")

  /** A14 fast-file window partitioning: end-labelled 30-min buckets
    * ((start, end] per fast_file_io.py:444-596) with completeness
    * stats — the bucket arithmetic behind shard naming, oracle-checked
    * in pure integer time math. */
  private def q49(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.FastData.windowStats(
        t(s, dir, "events").select(col("ts")), "ts", 30, 0.1)
      .orderBy("window_end")
  spec("q49_fastdata_windows", q49, """
      WITH b AS (SELECT epoch_us(ts)
            + ((1800000000 - epoch_us(ts) % 1800000000) % 1800000000)
            AS wus
          FROM events)
      SELECT make_timestamp(wus) AS window_end, count(*) AS n_rows,
             180 AS n_expected,
             count(*)::DOUBLE / 180 * 100.0 AS pct_complete
      FROM b GROUP BY wus ORDER BY window_end""")

  /** J2+J3: the L1 merge heart (file_concatenators.py:187-455 +
    * file_handler.py:534-605). A master hourly frame and a
    * vertically-overlapping candidate run the full legality analysis —
    * anti-join new-date existence, A2 interval inference on both
    * sides, variable intersection, and the unit-alias table (degC~C) —
    * then two variable frames take the horizontal full-outer time
    * merge. The legality scalars ride on every merged row and the
    * oracle re-derives them from the data (NOT EXISTS set-diff +
    * mode-of-deltas SQL), so the verdict itself is hash-checked. */
  private def q54(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.MergeLegality
    val e = t(s, dir, "events")
    def hourly(evType: String, from: String, until: String,
        vName: String, withCount: Boolean): DataFrame = {
      val sub = e.filter(col("event_type") === evType &&
          col("ts") >= to_timestamp(lit(from)) &&
          col("ts") < to_timestamp(lit(until)))
        .withColumn("hour_ts", date_trunc("hour", col("ts")))
      val grid = sub.agg(min(col("hour_ts")).as("t0"),
          max(col("hour_ts")).as("t1"))
        .select(explode(sequence(col("t0"), col("t1"),
          expr("INTERVAL 1 HOUR"))).as("hour_ts"))
      val base = grid.join(sub, Seq("hour_ts"), "left").groupBy("hour_ts")
      // Order-invariant hourly mean: quantize each value to exact
      // micro-BIGINTs, sum exactly, divide once. A raw avg() is
      // summation-order-dependent, and at sf0.1 (~800 values/hour)
      // the accumulated ulp noise flipped the floor in 8/1440 cells
      // between Spark and DuckDB (caught by the local sf0.1 gate —
      // the driver's sf0.01 gate never hit a boundary). The output
      // differs from rnd(avg) by at most 0.5e-6.
      val q = floor(col("value") * 1e6 + lit(0.5)).cast("long")
      val meanQ = (floor(sum(q).cast("double") / count(col("value"))
        + lit(0.5)) / 1e6).as(vName)
      if (withCount) base.agg(meanQ, count(col("value")).as("n_click"))
      else base.agg(meanQ)
    }
    val master = hourly("click", "2024-01-01 00:00:00",
      "2024-01-21 00:00:00", "v_click", withCount = true)
    val candidate = hourly("click", "2024-01-15 00:00:00",
      "2024-01-31 00:00:00", "v_click", withCount = false)
    val views = hourly("view", "2024-01-15 00:00:00",
      "2024-01-31 00:00:00", "v_view", withCount = false)
    val metaMaster = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("v_click", "degC", "Avg"),
        VariableMeta("n_click", "n", "Tot")))
    val metaCand = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("v_click", "C", "Avg")))
    val rep = MergeLegality.analyse(master, metaMaster, candidate,
      metaCand, "hour_ts")
    JoinOps.mergeOnTime(
        Seq(master.select("hour_ts", "v_click"), views), Seq("hour_ts"))
      .withColumn("contributes_new_dates", lit(rep.contributesNewDates))
      .withColumn("same_interval", lit(rep.sameInterval))
      .withColumn("master_interval_sec", lit(rep.masterIntervalSec))
      .withColumn("candidate_interval_sec", lit(rep.candidateIntervalSec))
      .withColumn("n_common_vars", lit(rep.commonVariables.length))
      .withColumn("n_master_only", lit(rep.masterOnlyVariables.length))
      .withColumn("n_candidate_only",
        lit(rep.candidateOnlyVariables.length))
      .withColumn("n_unit_conflicts", lit(rep.unitConflicts.length))
      .withColumn("legal", lit(rep.legal))
      .orderBy("hour_ts")
  }
  spec("q54_merge_legality", q54, """
      WITH mh AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-01 00:00:00'
               AND ts <  TIMESTAMP '2024-01-21 00:00:00'),
      mspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM mh),
      mgrid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                  AS hour_ts FROM mspan),
      m AS (SELECT g.hour_ts,
              -- order-invariant mean: exact micro-BIGINT sum, one division
              floor(sum(floor(h.value * 1000000.0 + 0.5))::DOUBLE
                  / count(h.value) + 0.5) / 1000000.0
                AS v_click
            FROM mgrid g LEFT JOIN mh h ON h.hour_ts = g.hour_ts
            GROUP BY g.hour_ts),
      ch AS (SELECT date_trunc('hour', ts) AS hour_ts
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-15 00:00:00'
               AND ts <  TIMESTAMP '2024-01-31 00:00:00'),
      cspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM ch),
      c AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
              AS hour_ts FROM cspan),
      vh AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'view'
               AND ts >= TIMESTAMP '2024-01-15 00:00:00'
               AND ts <  TIMESTAMP '2024-01-31 00:00:00'),
      vspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM vh),
      vgrid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                  AS hour_ts FROM vspan),
      v AS (SELECT g.hour_ts,
              floor(sum(floor(h.value * 1000000.0 + 0.5))::DOUBLE
                  / count(h.value) + 0.5) / 1000000.0
                AS v_view
            FROM vgrid g LEFT JOIN vh h ON h.hour_ts = g.hour_ts
            GROUP BY g.hour_ts),
      mint AS (SELECT d FROM (
                 SELECT (epoch_us(hour_ts) - lag(epoch_us(hour_ts))
                   OVER (ORDER BY hour_ts)) // 1000000 AS d FROM m)
               WHERE d IS NOT NULL
               GROUP BY d ORDER BY count(*) DESC, d ASC LIMIT 1),
      cint AS (SELECT d FROM (
                 SELECT (epoch_us(hour_ts) - lag(epoch_us(hour_ts))
                   OVER (ORDER BY hour_ts)) // 1000000 AS d FROM c)
               WHERE d IS NOT NULL
               GROUP BY d ORDER BY count(*) DESC, d ASC LIMIT 1),
      newd AS (SELECT EXISTS (SELECT 1 FROM c
                 WHERE NOT EXISTS (SELECT 1 FROM m
                   WHERE m.hour_ts = c.hour_ts)) AS b)
      SELECT coalesce(m.hour_ts, v.hour_ts) AS hour_ts,
             m.v_click, v.v_view,
             (SELECT b FROM newd) AS contributes_new_dates,
             ((SELECT d FROM mint) = (SELECT d FROM cint))
               AS same_interval,
             (SELECT d FROM mint) AS master_interval_sec,
             (SELECT d FROM cint) AS candidate_interval_sec,
             1 AS n_common_vars,
             1 AS n_master_only,
             0 AS n_candidate_only,
             0 AS n_unit_conflicts,
             ((SELECT b FROM newd)
               AND (SELECT d FROM mint) = (SELECT d FROM cint)) AS legal
      FROM m FULL OUTER JOIN v ON m.hour_ts = v.hour_ts
      ORDER BY hour_ts""")

  /** J2 negative-path merge legality with a LOAD-BEARING alias table:
    * unlike q54 (where the variable-set verdicts are fixture-known
    * constants in the oracle), every count here is re-derived by the
    * oracle from the same VALUES metadata — the full-outer variable
    * join, the unit-alias equivalence (degC~C ok, mm vs degC conflict,
    * m^3/m^3~fraction ok), and the candidate-only/master-only diffs —
    * and the candidate's date span sits strictly inside the master's,
    * so the no-new-dates + unit-conflict ILLEGAL branch is what gets
    * hash-checked. One row per variable in the union of both metas. */
  private def q57(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.MergeLegality
    import s.implicits._
    val e = t(s, dir, "events")
    def grid(from: String, until: String): DataFrame = {
      val sub = e.filter(col("event_type") === "click" &&
          col("ts") >= to_timestamp(lit(from)) &&
          col("ts") < to_timestamp(lit(until)))
        .withColumn("hour_ts", date_trunc("hour", col("ts")))
      sub.agg(min(col("hour_ts")).as("t0"), max(col("hour_ts")).as("t1"))
        .select(explode(sequence(col("t0"), col("t1"),
          expr("INTERVAL 1 HOUR"))).as("hour_ts"))
    }
    val master = grid("2024-01-01 00:00:00", "2024-01-21 00:00:00")
    val candidate = grid("2024-01-05 00:00:00", "2024-01-10 00:00:00")
    val metaMaster = TableMeta(FileInfo.dummy, Seq(
      VariableMeta("TIMESTAMP", "TS", ""),
      VariableMeta("Ta", "degC", "Avg"), VariableMeta("RH", "%", "Avg"),
      VariableMeta("Precip", "mm", "Tot"), VariableMeta("Ws", "m/s", "Avg"),
      VariableMeta("Sws", "m^3/m^3", "Avg")))
    val metaCand = TableMeta(FileInfo.dummy, Seq(
      VariableMeta("TIMESTAMP", "TS", ""),
      VariableMeta("Ta", "C", "Avg"), VariableMeta("RH", "%", "Avg"),
      VariableMeta("Precip", "degC", "Tot"),
      VariableMeta("Sws", "fraction", "Avg"),
      VariableMeta("Fco2", "umol/m^2/s", "Avg")))
    val rep = MergeLegality.analyse(master, metaMaster, candidate,
      metaCand, "hour_ts")
    val mdf = metaMaster.variables.filterNot(_.name == "TIMESTAMP")
      .map(v => (v.name, v.units)).toDF("variable", "master_units")
    val cdf = metaCand.variables.filterNot(_.name == "TIMESTAMP")
      .map(v => (v.name, v.units)).toDF("variable", "candidate_units")
    val aliasPairs = MergeLegality.DefaultUnitAliases
      .flatMap(g => for (a <- g.toSeq; b <- g.toSeq if a != b) yield (a, b))
      .toDF("ua", "ub")
    mdf.join(cdf, Seq("variable"), "full_outer")
      .withColumn("in_common",
        col("master_units").isNotNull && col("candidate_units").isNotNull)
      .join(aliasPairs, col("master_units") === col("ua") &&
        col("candidate_units") === col("ub"), "left")
      .withColumn("units_conflict", col("in_common") &&
        col("master_units") =!= col("candidate_units") && col("ua").isNull)
      .drop("ua", "ub")
      .withColumn("contributes_new_dates", lit(rep.contributesNewDates))
      .withColumn("same_interval", lit(rep.sameInterval))
      .withColumn("n_common_vars", lit(rep.commonVariables.length))
      .withColumn("n_master_only", lit(rep.masterOnlyVariables.length))
      .withColumn("n_candidate_only",
        lit(rep.candidateOnlyVariables.length))
      .withColumn("n_unit_conflicts", lit(rep.unitConflicts.length))
      .withColumn("legal", lit(rep.legal))
      .orderBy("variable")
  }
  spec("q57_merge_units", q57, """
      WITH mm(variable, units) AS (VALUES
        ('Ta','degC'),('RH','%'),('Precip','mm'),('Ws','m/s'),
        ('Sws','m^3/m^3')),
      cm(variable, units) AS (VALUES
        ('Ta','C'),('RH','%'),('Precip','degC'),('Sws','fraction'),
        ('Fco2','umol/m^2/s')),
      al(ua, ub) AS (VALUES
        ('degC','C'),('C','degC'),
        ('n','arb'),('arb','n'),('n','samples'),('samples','n'),
        ('arb','samples'),('samples','arb'),
        ('m^3/m^3','fraction'),('fraction','m^3/m^3')),
      j AS (SELECT coalesce(mm.variable, cm.variable) AS variable,
              mm.units AS master_units, cm.units AS candidate_units,
              (mm.variable IS NOT NULL AND cm.variable IS NOT NULL)
                AS in_common,
              (mm.variable IS NOT NULL AND cm.variable IS NOT NULL
                AND mm.units <> cm.units
                AND NOT EXISTS (SELECT 1 FROM al
                  WHERE al.ua = mm.units AND al.ub = cm.units))
                AS units_conflict
            FROM mm FULL OUTER JOIN cm ON mm.variable = cm.variable),
      mh AS (SELECT DISTINCT date_trunc('hour', ts) AS hour_ts
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-01 00:00:00'
               AND ts <  TIMESTAMP '2024-01-21 00:00:00'),
      mspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM mh),
      mgrid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                  AS hour_ts FROM mspan),
      ch AS (SELECT DISTINCT date_trunc('hour', ts) AS hour_ts
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-05 00:00:00'
               AND ts <  TIMESTAMP '2024-01-10 00:00:00'),
      cspan AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM ch),
      cgrid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                  AS hour_ts FROM cspan),
      mint AS (SELECT d FROM (
                 SELECT (epoch_us(hour_ts) - lag(epoch_us(hour_ts))
                   OVER (ORDER BY hour_ts)) // 1000000 AS d FROM mgrid)
               WHERE d IS NOT NULL
               GROUP BY d ORDER BY count(*) DESC, d ASC LIMIT 1),
      cint AS (SELECT d FROM (
                 SELECT (epoch_us(hour_ts) - lag(epoch_us(hour_ts))
                   OVER (ORDER BY hour_ts)) // 1000000 AS d FROM cgrid)
               WHERE d IS NOT NULL
               GROUP BY d ORDER BY count(*) DESC, d ASC LIMIT 1),
      newd AS (SELECT EXISTS (SELECT 1 FROM cgrid c
                 WHERE NOT EXISTS (SELECT 1 FROM mgrid m
                   WHERE m.hour_ts = c.hour_ts)) AS b)
      SELECT variable, master_units, candidate_units, in_common,
             units_conflict,
             (SELECT b FROM newd) AS contributes_new_dates,
             ((SELECT d FROM mint) = (SELECT d FROM cint))
               AS same_interval,
             (SELECT count(*) FROM j WHERE in_common)::INTEGER
               AS n_common_vars,
             (SELECT count(*) FROM j WHERE candidate_units IS NULL)::INTEGER
               AS n_master_only,
             (SELECT count(*) FROM j WHERE master_units IS NULL)::INTEGER
               AS n_candidate_only,
             (SELECT count(*) FROM j WHERE units_conflict)::INTEGER
               AS n_unit_conflicts,
             ((SELECT b FROM newd)
               AND (SELECT d FROM mint) = (SELECT d FROM cint)
               AND (SELECT count(*) FROM j WHERE in_common) > 0
               AND (SELECT count(*) FROM j WHERE units_conflict) = 0)
               AS legal
      FROM j ORDER BY variable""")

  /** K7/K8 parse-back: the per-user A9 status stats render through
    * BOTH text sinks — the geojson FeatureCollection (properties +
    * Point coordinates) and the site-details JSON array — then each
    * file is re-read with Spark's JSON reader and the two parses are
    * unioned under a `source` tag. Hash-matching the direct-aggregation
    * oracle (× 2 sources) proves both byte paths (escaping, number
    * rendering, null handling, coordinate ordering) are value-exact.
    * Collects are bounded: one row per user/site. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeriesOps
    import graft.pipeline.Status
    val now = java.sql.Timestamp.valueOf("2024-01-30 12:00:00")
    val st = TimeSeriesOps.variableStatus(
        t(s, dir, "events"), "ts", "value", now, Seq("user_id"))
      .withColumn("days_since_last", rnd(col("days_since_last"), 6))
      .withColumn("status_bucket",
        Status.stalenessBucket(col("days_since_last")))
      .withColumn("lat",
        lit(-30.0) - (col("user_id") % 10).cast("double") * 0.5)
      .withColumn("lon",
        lit(140.0) + (col("user_id") % 7).cast("double") * 0.25)
      .select(col("user_id"),
        date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("n_24h"), col("n_valid_24h"), col("days_since_last"),
        col("status_bucket"), col("lat"), col("lon"))
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_q58")
    val gj = base.resolve("status.geojson").toString
    val ja = base.resolve("details.json").toString
    Status.writeGeojson(st, gj, "user_id", "lat", "lon")
    Status.writeJsonArray(st, ja)
    val fromGeo = s.read.option("multiLine", true).json(gj)
      .select(explode(col("features")).as("f"))
      .select(
        col("f.properties.user_id").as("user_id"),
        col("f.properties.last_ts").as("last_ts"),
        col("f.properties.n_24h").as("n_24h"),
        col("f.properties.n_valid_24h").as("n_valid_24h"),
        col("f.properties.days_since_last").as("days_since_last"),
        col("f.properties.status_bucket").as("status_bucket"),
        element_at(col("f.geometry.coordinates"), 2).as("lat"),
        element_at(col("f.geometry.coordinates"), 1).as("lon"))
      .withColumn("source", lit("geojson"))
    val fromArr = s.read.option("multiLine", true).json(ja)
      .select(col("user_id"), col("last_ts"), col("n_24h"),
        col("n_valid_24h"), col("days_since_last"), col("status_bucket"),
        col("lat"), col("lon"))
      .withColumn("source", lit("json_array"))
    fromGeo.unionByName(fromArr).orderBy("source", "user_id")
  }
  spec("q58_status_artifacts", q58, """
      WITH st AS (
        SELECT user_id,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
               count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-29 12:00:00')
                 AS n_24h,
               count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-29 12:00:00'
                 AND value IS NOT NULL) AS n_valid_24h,
               floor(((epoch_us(TIMESTAMP '2024-01-30 12:00:00')
                       - epoch_us(max(ts))) / 86400000000.0)
                 * 1000000.0 + 0.5) / 1000000.0 AS days_since_last
        FROM events GROUP BY user_id),
      enriched AS (
        SELECT user_id, last_ts, n_24h, n_valid_24h, days_since_last,
               CASE WHEN days_since_last < 1 THEN 'ok'
                    WHEN days_since_last < 3 THEN 'warning_1_3'
                    WHEN days_since_last < 5 THEN 'warning_3_5'
                    WHEN days_since_last < 7 THEN 'warning_5_7'
                    ELSE 'stale_7_plus' END AS status_bucket,
               -30.0 - (user_id % 10)::DOUBLE * 0.5 AS lat,
               140.0 + (user_id % 7)::DOUBLE * 0.25 AS lon
        FROM st)
      SELECT e.user_id, e.last_ts, e.n_24h, e.n_valid_24h,
             e.days_since_last, e.status_bucket, e.lat, e.lon, s.source
      FROM enriched e
      CROSS JOIN (VALUES ('geojson'), ('json_array')) AS s(source)
      ORDER BY s.source, e.user_id""")

  /** F30 grammar corpus: every PFP-name component shape (quantity,
    * instrument, system, vertical location incl. cm ranges, horizontal
    * letter, replicate digit, process suffix) plus one name per error
    * class in the typed taxonomy, parsed by `PfpName.parse` as a UDF
    * (metadata-scale corpus; the grammar guards every catalog load,
    * not a data-plane hot path). The DuckDB oracle re-dissects each
    * name with string/list functions — token classification, slot
    * assignment, error-class derivation, and the F29 height-in-metres
    * midpoint rule — so the grammar itself is hash-checked, not
    * fixture constants. */
  private def q59(s: SparkSession, dir: String): DataFrame = {
    import graft.pfp.PfpName
    import s.implicits._
    val corpus = Seq(
      "Fco2", "Fco2_EP", "Ta_HMP_2m_Av", "Sws_0-30cm_Av", "Ts_10cma2_Av",
      "RH_HMP155_2m", "Fh_EF_Sd", "Precip_Tot", "Ta_2m", "Ws_WS4_10m_Smp",
      "Sws_10cmb_Vr", "Ta_HMP_QCFlag",
      // the reference toolchain's rstrip-fencepost forms: dangling dot
      // before unit/range separator accepted, bare dot still rejected
      "Sws_1.m_Av", "Ts_0.-1.cmN2_Av", "Sws_.m_Av",
      "", "Ta__2m", "9Ta_2m", "Fco2_EP_EF", "Ta_2m_3m", "Sws_0-10-30cm",
      "Ta_HMP_xacm", "Ts_10cm$", "Ts_10cmax", "Ta_HMP_XX")
    val parse = udf { (name: String) =>
      PfpName.parse(name) match {
        case Right(p) => (true, null: String, p.quantity,
          p.instrument.orNull, p.system.orNull,
          p.verticalLocation.orNull, p.horizontalLocation.orNull,
          p.replicate, p.process.orNull, p.heightMetres)
        case Left(e) =>
          val cls = e match {
            case PfpName.EmptyName => "empty_name"
            case PfpName.EmptyComponent(_) => "empty_component"
            case PfpName.InvalidQuantity(_) => "invalid_quantity"
            case PfpName.DuplicateComponent(k, _) => s"duplicate_$k"
            case PfpName.TooManyHeightIdentifiers(_) =>
              "too_many_height_identifiers"
            case PfpName.NonNumericHeight(_) => "non_numeric_height"
            case PfpName.NonAlphaHorizontal(_) => "non_alpha_horizontal"
            case PfpName.NonIntegerReplicate(_) => "non_integer_replicate"
            case PfpName.UnrecognisedElement(_, _) => "unrecognised_element"
          }
          (false, cls, null: String, null: String, null: String,
            null: String, null: String, None: Option[Int], null: String,
            None: Option[Double])
      }
    }
    corpus.toDF("name")
      .withColumn("r", parse(col("name")))
      .select(col("name"), col("r._1").as("ok"),
        col("r._2").as("error_class"), col("r._3").as("quantity"),
        col("r._4").as("instrument"), col("r._5").as("system"),
        col("r._6").as("vloc"), col("r._7").as("hloc"),
        col("r._8").as("replicate"), col("r._9").as("process"),
        rnd(col("r._10"), 6).as("height_m"))
      .orderBy("name")
  }
  spec("q59_pfp_grammar", q59, """
      WITH corpus(name) AS (VALUES
        ('Fco2'), ('Fco2_EP'), ('Ta_HMP_2m_Av'), ('Sws_0-30cm_Av'),
        ('Ts_10cma2_Av'), ('RH_HMP155_2m'), ('Fh_EF_Sd'), ('Precip_Tot'),
        ('Ta_2m'), ('Ws_WS4_10m_Smp'), ('Sws_10cmb_Vr'), ('Ta_HMP_QCFlag'),
        ('Sws_1.m_Av'), ('Ts_0.-1.cmN2_Av'), ('Sws_.m_Av'),
        (''), ('Ta__2m'), ('9Ta_2m'), ('Fco2_EP_EF'), ('Ta_2m_3m'),
        ('Sws_0-10-30cm'), ('Ta_HMP_xacm'), ('Ts_10cm$'), ('Ts_10cmax'),
        ('Ta_HMP_XX')),
      -- canonicalise the rstrip-fencepost dangling dot (1.m -> 1m,
      -- 0.-1.cm -> 0-1cm) ONLY where a location is being matched or
      -- extracted; failed tokens classify from their ORIGINAL text
      p1 AS (SELECT name, str_split(name, '_') AS parts FROM corpus),
      p2 AS (SELECT name, parts, parts[1] AS quantity0,
               CASE WHEN len(parts) > 1 AND list_contains(
                      ['Av','Sd','Vr','Ct','Tot','Smp','QCFlag'], parts[-1])
                    THEN parts[-1] END AS process0,
               CASE WHEN len(parts) > 1 AND list_contains(
                      ['Av','Sd','Vr','Ct','Tot','Smp','QCFlag'], parts[-1])
                    THEN list_slice(parts, 2, len(parts) - 1)
                    ELSE list_slice(parts, 2, len(parts)) END AS mid
             FROM p1),
      p3 AS (SELECT *,
               list_filter(mid, x -> list_contains(['EP','EF','DL'], x))
                 AS sys_list,
               list_filter(mid, x -> regexp_full_match(
                 regexp_replace(x, '(\d)\.(cm|m|-)', '\1\2', 'g'),
                 '\d+(\.\d+)?(-\d+(\.\d+)?)?(cm|m)[a-zA-Z]?\d?'))
                 AS loc_list,
               list_filter(mid, x ->
                 NOT list_contains(['EP','EF','DL'], x)
                 AND NOT regexp_full_match(
                   regexp_replace(x, '(\d)\.(cm|m|-)', '\1\2', 'g'),
                   '\d+(\.\d+)?(-\d+(\.\d+)?)?(cm|m)[a-zA-Z]?\d?')
                 AND regexp_matches(substr(x, 1, 1), '[A-Za-z]'))
                 AS inst_list,
               list_filter(mid, x ->
                 NOT list_contains(['EP','EF','DL'], x)
                 AND NOT regexp_full_match(
                   regexp_replace(x, '(\d)\.(cm|m|-)', '\1\2', 'g'),
                   '\d+(\.\d+)?(-\d+(\.\d+)?)?(cm|m)[a-zA-Z]?\d?')
                 AND NOT regexp_matches(substr(x, 1, 1), '[A-Za-z]'))
                 AS other_list
             FROM p2),
      p4 AS (SELECT *,
               CASE WHEN len(other_list) > 0 THEN other_list[1]
                    WHEN len(inst_list) > 1 THEN inst_list[2] END AS bad_tok
             FROM p3),
      p5 AS (SELECT *,
               CASE WHEN bad_tok IS NULL THEN NULL
                    WHEN strpos(bad_tok, 'cm') > 1 THEN 'cm'
                    WHEN strpos(bad_tok, 'm') > 1 THEN 'm' END AS bad_unit
             FROM p4),
      p6 AS (SELECT *,
               CASE WHEN bad_unit IS NULL THEN NULL
                 ELSE substr(bad_tok, 1, strpos(bad_tok, bad_unit) - 1)
               END AS bad_pre,
               CASE WHEN bad_unit IS NULL THEN NULL
                 ELSE substr(bad_tok,
                   strpos(bad_tok, bad_unit) + len(bad_unit))
               END AS bad_residue
             FROM p5),
      p7 AS (SELECT *,
               CASE WHEN bad_tok IS NULL THEN NULL
                    WHEN bad_unit IS NULL THEN 'unrecognised_element'
                    WHEN len(str_split(bad_pre, '-')) > 2
                      THEN 'too_many_height_identifiers'
                    WHEN len(list_filter(str_split(bad_pre, '-'),
                        x -> NOT regexp_full_match(x, '\d+(\.\d+)?'))) > 0
                      THEN 'non_numeric_height'
                    WHEN len(bad_residue) > 0 AND NOT regexp_matches(
                        substr(bad_residue, 1, 1), '[A-Za-z]')
                      THEN 'non_alpha_horizontal'
                    WHEN len(bad_residue) > 1 AND NOT regexp_full_match(
                        substr(bad_residue, 2), '\d+')
                      THEN 'non_integer_replicate'
                    ELSE 'unrecognised_element' END AS bad_class
             FROM p6),
      p8 AS (SELECT *,
               CASE WHEN name = '' THEN 'empty_name'
                    WHEN list_contains(parts, '') THEN 'empty_component'
                    WHEN NOT regexp_matches(substr(quantity0, 1, 1),
                      '[A-Za-z]') THEN 'invalid_quantity'
                    WHEN len(sys_list) > 1 THEN 'duplicate_system'
                    WHEN len(loc_list) > 1 THEN 'duplicate_location'
                    ELSE bad_class END AS error_class
             FROM p7),
      p9 AS (SELECT *, (error_class IS NULL) AS ok,
               CASE WHEN error_class IS NULL THEN regexp_replace(
                 loc_list[1], '(\d)\.(cm|m|-)', '\1\2', 'g')
               END AS loc_tok
             FROM p8),
      p10 AS (SELECT *,
               nullif(regexp_extract(loc_tok,
                 '(\d+(\.\d+)?(-\d+(\.\d+)?)?)(cm|m)([a-zA-Z])?(\d)?', 1),
                 '') AS loc_nums,
               nullif(regexp_extract(loc_tok,
                 '(\d+(\.\d+)?(-\d+(\.\d+)?)?)(cm|m)([a-zA-Z])?(\d)?', 5),
                 '') AS loc_unit,
               nullif(regexp_extract(loc_tok,
                 '(\d+(\.\d+)?(-\d+(\.\d+)?)?)(cm|m)([a-zA-Z])?(\d)?', 6),
                 '') AS hloc,
               nullif(regexp_extract(loc_tok,
                 '(\d+(\.\d+)?(-\d+(\.\d+)?)?)(cm|m)([a-zA-Z])?(\d)?', 7),
                 '') AS rep_s
              FROM p9),
      p11 AS (SELECT *,
               CASE WHEN loc_nums IS NULL THEN NULL
                    WHEN strpos(loc_nums, '-') > 0 THEN
                      (str_split(loc_nums, '-')[1]::DOUBLE
                       + str_split(loc_nums, '-')[2]::DOUBLE) / 2.0
                    ELSE loc_nums::DOUBLE END AS mid_m
              FROM p10)
      SELECT name, ok, error_class,
             CASE WHEN ok THEN quantity0 END AS quantity,
             CASE WHEN ok THEN inst_list[1] END AS instrument,
             CASE WHEN ok THEN sys_list[1] END AS system,
             CASE WHEN ok THEN loc_nums || loc_unit END AS vloc,
             CASE WHEN ok THEN hloc END AS hloc,
             CASE WHEN ok THEN rep_s::INTEGER END AS replicate,
             CASE WHEN ok THEN process0 END AS process,
             floor((CASE WHEN loc_unit = 'cm' THEN mid_m / 100.0
                         ELSE mid_m END) * 1000000.0 + 0.5) / 1000000.0
               AS height_m
      FROM p11 ORDER BY name""")

  /** E1 end-to-end: the full L1 lifecycle in ONE hash-pinned query —
    * every stage here is individually oracle-green elsewhere; this row
    * protects the COMPOSITION (the reference's nc_constructors.py
    * flagship path, E1 in SURVEY §3) against cross-operator contract
    * drift. Two synthetic "files" of the same logger table (the second
    * overlapping and at coarser precision) are conditioned
    * (P1 subset+rename, D1 exact dedup of injected duplicate rows, A1
    * regularize to the hourly grid), gated by the J2 legality report
    * (new dates + same inferred interval + shared variables + no unit
    * conflicts), vertically concatenated with master precedence (J1 —
    * the overlap hours keep the master file's 6-digit values), merged
    * horizontally with a second table on the time axis (J3), unit-
    * converted (F12: K->degC, frac->%), plausibility-masked (P5, Ta
    * only), QC-flagged (K5: null -> 1), and end-of-interval
    * year-labeled (§7.4 #4). The J2 verdict rides along as data. */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.{L1Pipeline, MergeLegality}
    import graft.pipeline.L1Pipeline.Conditioned
    import graft.functions.Conversions
    val e = t(s, dir, "events")
    def hours(evType: String, from: String, until: String): DataFrame =
      e.filter(col("event_type") === evType &&
          col("ts") >= to_timestamp(lit(from)) &&
          col("ts") < to_timestamp(lit(until)))
        .withColumn("hour_ts", date_trunc("hour", col("ts")))

    val metaA = TableMeta(FileInfo.dummy, Seq(
      // plausible bounds are in POST-conversion units (degC)
      VariableMeta("Ta_raw", "K", "Avg",
        plausibleMin = Some(-250.0), plausibleMax = Some(-150.0)),
      VariableMeta("n_raw", "n", "Tot")))
    val usecolsA = Map("Ta_raw" -> "Ta", "n_raw" -> "n_samp")

    // file A1 (master half): hourly clicks at 6-digit precision, plus
    // an extraneous column (P1 drops it) and duplicated rows (D1
    // collapses them — the oracle never sees either).
    val rawA1 = hours("click", "2024-01-01 00:00:00", "2024-01-11 00:00:00")
      .groupBy("hour_ts")
      .agg(rnd(avg(col("value")), 6).as("Ta_raw"),
        count(col("value")).as("n_raw"))
      .withColumn("junk_raw", lit("drop-me"))
    val fileA1 = rawA1.unionAll(rawA1.filter(hour(col("hour_ts")) % 4 === 0))
    // file A2 (candidate): overlaps A1 by three days and reports at
    // 5-digit precision, so precedence is visible in the hash.
    val rawA2 = hours("click", "2024-01-08 00:00:00", "2024-01-21 00:00:00")
      .groupBy("hour_ts")
      .agg(rnd(avg(col("value")), 5).as("Ta_raw"),
        count(col("value")).as("n_raw"))

    // Materialize the conditioned grids once: the legality analysis
    // below runs several small actions (per-side interval inference +
    // the new-dates probe) that would otherwise each recompute the
    // full condition lineage. A conditioned site-file is a bounded
    // artifact, so the checkpoint is cheap at any corpus scale.
    def ckpt(c: Conditioned): Conditioned =
      c.copy(df = c.df.localCheckpoint())
    val condA1 = ckpt(L1Pipeline.condition(
      Conditioned(fileA1, metaA), "hour_ts", 3600, usecolsA))
    val condA2 = ckpt(L1Pipeline.condition(
      Conditioned(rawA2, metaA), "hour_ts", 3600, usecolsA))

    // J2 gate: refuse the concat unless the candidate is legal (it is,
    // by fixture — the verdict is also emitted as data below).
    val rep = MergeLegality.analyse(
      condA1.df, condA1.meta, condA2.df, condA2.meta, "hour_ts")
    require(rep.legal, s"q61 fixture must be a legal concat: $rep")
    val tableA = Conditioned(
      JoinOps.concatWithPrecedence(Seq(condA1.df, condA2.df),
        Seq("hour_ts")),
      condA1.meta)

    // second table: hourly views at 6 digits, fraction units
    val rawB = hours("view", "2024-01-10 00:00:00", "2024-01-31 00:00:00")
      .groupBy("hour_ts")
      .agg(rnd(avg(col("value")), 6).as("RH_raw"))
    val condB = L1Pipeline.condition(
      Conditioned(rawB, TableMeta(FileInfo.dummy,
        Seq(VariableMeta("RH_raw", "frac", "Avg")))),
      "hour_ts", 3600, Map("RH_raw" -> "RH"))

    val merged = L1Pipeline.mergeOnTime(Seq(tableA, condB), "hour_ts")
    val converted = L1Pipeline.convertUnits(merged, Map(
      "Ta" -> (((c: Column) => Conversions.kelvinToCelsius(c)), "degC"),
      "RH" -> (((c: Column) => Conversions.fracToPercent(c)), "%")))
    val masked = L1Pipeline.maskPlausible(converted)
    L1Pipeline.withQcFlags(masked.df, "hour_ts")
      .withColumn("year", L1Pipeline.labelYear(col("hour_ts"), 3600))
      .withColumn("legal_concat", lit(rep.legal))
      .withColumn("n_common_vars", lit(rep.commonVariables.length))
      .withColumn("master_interval_sec", lit(rep.masterIntervalSec))
      .withColumn("candidate_interval_sec", lit(rep.candidateIntervalSec))
      .withColumn("contributes_new_dates", lit(rep.contributesNewDates))
      .orderBy("hour_ts")
  }
  // The E1 lifecycle, re-derived stage by stage: present-hours aggs
  // (the injected Spark-side duplicates collapse under D1, so the
  // plain agg IS the post-dedup frame), per-file grids (A1
  // regularize), master-precedence concat (A2 contributes only hours
  // past A1's grid end), full-outer time merge, K->degC and frac->%
  // conversion, Ta plausibility mask, null->1 QC flags, and
  // end-of-interval year labels. The J2 verdict columns are
  // fixture-known constants (q54/q57 re-derive that machinery).
  spec("q61_l1_lifecycle", q61, """
      WITH a1h AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-01 00:00:00'
               AND ts <  TIMESTAMP '2024-01-11 00:00:00'),
      a1p AS (SELECT hour_ts,
                floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS ta_k,
                count(value) AS n
              FROM a1h GROUP BY 1),
      a1s AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM a1p),
      a1 AS (SELECT g.hour_ts, p.ta_k, p.n
             FROM (SELECT unnest(generate_series(t0, t1,
                     INTERVAL 1 HOUR)) AS hour_ts FROM a1s) g
             LEFT JOIN a1p p USING (hour_ts)),
      a2h AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'click'
               AND ts >= TIMESTAMP '2024-01-08 00:00:00'
               AND ts <  TIMESTAMP '2024-01-21 00:00:00'),
      a2p AS (SELECT hour_ts,
                floor(avg(value) * 100000.0 + 0.5) / 100000.0 AS ta_k,
                count(value) AS n
              FROM a2h GROUP BY 1),
      a2s AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM a2p),
      a2 AS (SELECT g.hour_ts, p.ta_k, p.n
             FROM (SELECT unnest(generate_series(t0, t1,
                     INTERVAL 1 HOUR)) AS hour_ts FROM a2s) g
             LEFT JOIN a2p p USING (hour_ts)),
      ta AS (SELECT * FROM a1 UNION ALL
             SELECT * FROM a2
             WHERE hour_ts > (SELECT t1 FROM a1s)),
      bh AS (SELECT date_trunc('hour', ts) AS hour_ts, value
             FROM events WHERE event_type = 'view'
               AND ts >= TIMESTAMP '2024-01-10 00:00:00'
               AND ts <  TIMESTAMP '2024-01-31 00:00:00'),
      bp AS (SELECT hour_ts,
               floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS rh_f
             FROM bh GROUP BY 1),
      bs AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM bp),
      b AS (SELECT g.hour_ts, p.rh_f
            FROM (SELECT unnest(generate_series(t0, t1,
                    INTERVAL 1 HOUR)) AS hour_ts FROM bs) g
            LEFT JOIN bp p USING (hour_ts)),
      m AS (SELECT coalesce(ta.hour_ts, b.hour_ts) AS hour_ts,
              ta.ta_k - 273.15 AS ta_c, ta.n, b.rh_f * 100.0 AS rh_pct
            FROM ta FULL OUTER JOIN b ON ta.hour_ts = b.hour_ts),
      mk AS (SELECT hour_ts,
               CASE WHEN ta_c BETWEEN -250.0 AND -150.0 THEN ta_c END
                 AS "Ta",
               n AS n_samp, rh_pct AS "RH"
             FROM m)
      SELECT hour_ts, "Ta", n_samp, "RH",
        CASE WHEN "Ta" IS NULL THEN 1 ELSE 0 END AS "Ta_QCFlag",
        CASE WHEN n_samp IS NULL THEN 1 ELSE 0 END AS "n_samp_QCFlag",
        CASE WHEN "RH" IS NULL THEN 1 ELSE 0 END AS "RH_QCFlag",
        year(hour_ts - INTERVAL 3600 SECOND) AS year,
        true AS legal_concat,
        2 AS n_common_vars,
        3600 AS master_interval_sec,
        3600 AS candidate_interval_sec,
        true AS contributes_new_dates
      FROM mk ORDER BY hour_ts""")

  /** F22/F23/F28 oracle row: the derivation dispatch run in BOTH
    * humidity directions over a met-shaped hourly frame (PFP-named
    * columns, so quantity resolution is exercised too). Site "R" has
    * Ta/RH/ps and derives VPD, AH (F16) and Td; site "A" has Ta/AH/ps
    * — the first [[graft.pipeline.VisPipeline.deriveMissing]] pass
    * pads RH from AH (F23, the reference's pad-then-synthesize,
    * nc_constructors.py:244-311), and a second pass then derives
    * VPD/Td THROUGH the padded full-precision RH. F28's 100 ms
    * timestamp rounding rides along on synthetic sub-second
    * timestamps. All derived values rnd-6 at the edge only. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.{FastData, L1Pipeline, VisPipeline}
    val met = t(s, dir, "events")
      .filter(col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      // deterministic met-plausible values from the rounded mean
      // (fmod on positive doubles is exact in both engines)
      .select(col("hour_ts"), col("v"),
        (col("v") % 40.0).as("ta_v"),
        (lit(30.0) + col("v") % 60.0).as("rh_v"),
        (lit(85.0) + col("v") % 20.0).as("ps_v"),
        (lit(2.0) + col("v") % 15.0).as("ah_v"))

    val dR = VisPipeline.deriveMissing(L1Pipeline.Conditioned(
      met.select(col("hour_ts"), col("v"),
        col("ta_v").as("Ta_HMP_2m_Av"), col("rh_v").as("RH_HMP_2m_Av"),
        col("ps_v").as("ps_EP_Av")),
      TableMeta(FileInfo.dummy, Seq(
        VariableMeta("Ta_HMP_2m_Av", "degC", "Av"),
        VariableMeta("RH_HMP_2m_Av", "percent", "Av"),
        VariableMeta("ps_EP_Av", "kPa", "Av")))))
    val dA = VisPipeline.deriveMissing(VisPipeline.deriveMissing(
      L1Pipeline.Conditioned(
        met.select(col("hour_ts"), col("v"),
          col("ta_v").as("Ta_HMP_2m_Av"), col("ah_v").as("AH_IRGA_2m_Av"),
          col("ps_v").as("ps_EP_Av")),
        TableMeta(FileInfo.dummy, Seq(
          VariableMeta("Ta_HMP_2m_Av", "degC", "Av"),
          VariableMeta("AH_IRGA_2m_Av", "g/m^3", "Av"),
          VariableMeta("ps_EP_Av", "kPa", "Av"))))))

    def shape(d: DataFrame, site: String, rhCol: String,
        ahCol: String): DataFrame =
      d.select(lit(site).as("site"), col("hour_ts"),
        rnd(col("Ta_HMP_2m_Av"), 6).as("Ta"),
        rnd(col(rhCol), 6).as("RH"),
        rnd(col(ahCol), 6).as("AH"),
        rnd(col("VPD"), 6).as("VPD"),
        rnd(col("Td"), 6).as("Td"),
        FastData.round100ms(timestamp_micros(unix_micros(col("hour_ts"))
          + floor(col("v") * 1234567.0).cast("long"))).as("ts_r100"))
    shape(dR.df, "R", "RH_HMP_2m_Av", "AH")
      .unionByName(shape(dA.df, "A", "RH", "AH_IRGA_2m_Av"))
      .orderBy("site", "hour_ts")
  }
  // Both humidity directions re-derived from the same Buck/molar-
  // density formulas as q18 (left-associative operator order matches
  // the Column expressions bit-for-bit); site A's VPD/Td go through
  // the FULL-PRECISION padded RH, with rnd-6 only at the edge.
  // F28: (us+500) - (us+500) % 100000 on integer micros.
  spec("q62_derive_dispatch", q62, """
      WITH h AS (SELECT date_trunc('hour', ts) AS hour_ts,
              floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS v
            FROM events WHERE event_type = 'click' GROUP BY 1),
      met AS (SELECT hour_ts, v,
              v % 40.0 AS ta, 30.0 + v % 60.0 AS rh,
              85.0 + v % 20.0 AS ps, 2.0 + v % 15.0 AS ah FROM h),
      c AS (SELECT *,
              0.61121 * exp((18.678 - ta/234.5) * (ta/(257.14 + ta)))
                AS es,
              ps * 1000.0 / ((ta + 273.15) * 8.3143) AS md,
              make_timestamp((epoch_us(hour_ts)
                  + CAST(floor(v * 1234567.0) AS BIGINT) + 500)
                - (epoch_us(hour_ts)
                  + CAST(floor(v * 1234567.0) AS BIGINT) + 500) % 100000)
                AS ts_r100
            FROM met),
      r1 AS (SELECT *, es * rh / 100.0 AS e FROM c),
      r2 AS (SELECT 'R' AS site, hour_ts, ta AS tao, rh AS rho,
              e / ps * md * 18.0 AS aho, es - e AS vpdo,
              243.5 * ln(e/0.61121) / (17.502 - ln(e/0.61121)) AS tdo,
              ts_r100 FROM r1),
      a1 AS (SELECT *, ah / 18.0 / md * ps / es * 100.0 AS rh_d FROM c),
      a2 AS (SELECT *, es * rh_d / 100.0 AS e2 FROM a1),
      a3 AS (SELECT 'A' AS site, hour_ts, ta AS tao, rh_d AS rho,
              ah AS aho, es - e2 AS vpdo,
              243.5 * ln(e2/0.61121) / (17.502 - ln(e2/0.61121)) AS tdo,
              ts_r100 FROM a2),
      u AS (SELECT * FROM r2 UNION ALL SELECT * FROM a3)
      SELECT site, hour_ts,
        floor(tao * 1000000.0 + 0.5) / 1000000.0 AS "Ta",
        floor(rho * 1000000.0 + 0.5) / 1000000.0 AS "RH",
        floor(aho * 1000000.0 + 0.5) / 1000000.0 AS "AH",
        floor(vpdo * 1000000.0 + 0.5) / 1000000.0 AS "VPD",
        floor(tdo * 1000000.0 + 0.5) / 1000000.0 AS "Td",
        ts_r100
      FROM u ORDER BY site, hour_ts""")

  /** E2 end-to-end: the full visualisation-product chain in one
    * hash-pinned row — PFP-named L1 frame → P6 nearest-height variable
    * selection (2 m beats 10 m for fluxHeight 2.5, Sd companions
    * dropped) → P8 suffix normalisation (fixture-known renames) → P5
    * quantity-keyed masking → F22 derivations over the MASKED inputs →
    * K1 TOA5 write → S1 read-back. Values cross the TOA5 byte path as
    * shortest-repr doubles (lossless), so the oracle recomputes them
    * directly and rnd-6 only at the edge. */
  private def q69(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    import graft.pipeline.{L1Pipeline, VisPipeline}
    val met = t(s, dir, "events")
      .filter(col("event_type") === "click")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("v"))
      .select(col("DATETIME"),
        (col("v") % 40.0).as("Ta_HMP_2m_Av"),
        (col("v") % 40.0 + 1.5).as("Ta_HMP_10m_Av"),
        (lit(30.0) + col("v") % 60.0).as("RH_HMP_2m_Av"),
        (lit(85.0) + col("v") % 20.0).as("ps_EP_Av"),
        (col("v") % 10.0).as("Fco2_EP"),
        lit(0.5).as("Ta_HMP_2m_Sd"))
    val meta = TableMeta(FileInfo.dummy, Seq(
      VariableMeta("Ta_HMP_2m_Av", "degC", "Av"),
      VariableMeta("Ta_HMP_10m_Av", "degC", "Av"),
      VariableMeta("RH_HMP_2m_Av", "percent", "Av"),
      VariableMeta("ps_EP_Av", "kPa", "Av"),
      VariableMeta("Fco2_EP", "umol/m^2/s", ""),
      VariableMeta("Ta_HMP_2m_Sd", "degC", "Sd")))
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_q69/vis.dat"
    VisPipeline.buildVisualisationToa5(
      L1Pipeline.Conditioned(met, meta), "DATETIME",
      targets = Seq("Ta", "RH", "ps", "Fco2"), fluxHeight = 2.5,
      plausible = Map("Ta" -> (0.0, 35.0), "RH" -> (35.0, 80.0)),
      outPath = path)
    val back = graft.sources.Toa5.read(s, path).data
    back.select(col("DATETIME") +:
        back.columns.filterNot(Set("DATETIME", "TIMESTAMP")).toSeq
          .map(c => rnd(col(c), 6).as(c)): _*)
      .orderBy("DATETIME")
  }
  // The selection/rename outcome is fixture-known (2 m chosen over
  // 10 m, Sd dropped, Ta_HMP_2m_Av -> Ta_HMP etc.); values recompute
  // through the same masked-input derivation chain as q62's R side.
  spec("q69_vis_toa5", q69, """
      WITH h AS (SELECT date_trunc('hour', ts) AS dt,
              floor(avg(value) * 1000000.0 + 0.5) / 1000000.0 AS v
            FROM events WHERE event_type = 'click' GROUP BY 1),
      base AS (SELECT dt, v % 40.0 AS ta_raw, 30.0 + v % 60.0 AS rh_raw,
              85.0 + v % 20.0 AS ps_v, v % 10.0 AS fco2 FROM h),
      mk AS (SELECT dt,
              CASE WHEN ta_raw BETWEEN 0.0 AND 35.0 THEN ta_raw END AS ta,
              CASE WHEN rh_raw BETWEEN 35.0 AND 80.0 THEN rh_raw END AS rh,
              ps_v, fco2 FROM base),
      c AS (SELECT *,
              0.61121 * exp((18.678 - ta/234.5) * (ta/(257.14 + ta)))
                AS es,
              ps_v * 1000.0 / ((ta + 273.15) * 8.3143) AS md FROM mk),
      c2 AS (SELECT *, es * rh / 100.0 AS e FROM c)
      SELECT dt AS "DATETIME",
        floor(ta * 1000000.0 + 0.5) / 1000000.0 AS "Ta_HMP",
        floor(rh * 1000000.0 + 0.5) / 1000000.0 AS "RH_HMP",
        floor(ps_v * 1000000.0 + 0.5) / 1000000.0 AS ps,
        floor(fco2 * 1000000.0 + 0.5) / 1000000.0 AS "Fco2",
        floor((es - e) * 1000000.0 + 0.5) / 1000000.0 AS "VPD",
        floor((e / ps_v * md * 18.0) * 1000000.0 + 0.5) / 1000000.0
          AS "AH",
        floor((243.5 * ln(e/0.61121) / (17.502 - ln(e/0.61121)))
          * 1000000.0 + 0.5) / 1000000.0 AS "Td"
      FROM c2 ORDER BY "DATETIME"""")
}
