package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** Logger-file round trips through [[graft.sources]]: TOA5, EddyPro,
  * TOB1/TOB3, FP2-free CSIXML, written from `events` and read back
  * through the codecs and the DSv2 `toa5`/`tob` scans. */
object Sources extends QueryFamily {

  /** TOA5 codec round-trip (S1/S4/K1/K2/D6): hourly event means ->
    * TOA5 file on disk -> `format("toa5")` read-back. Hash-matching the
    * direct aggregation oracle proves the codec is value-stable
    * end-to-end. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"),
           count(lit(1)).cast("double").as("n"))
    val meta = TableMeta(
      FileInfo("TOA5", "EventsSite", "CR1000X", "1", "os", "prog", "1", "hourly"),
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("avg_value", "arb", "Avg"),
        VariableMeta("n", "samples", "Tot")))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q34/hourly.dat"
    graft.sources.Toa5.write(agg, meta, path)
    graft.sources.Toa5.read(s, path).data
      .select(col("DATETIME").as("hour_ts"), col("avg_value"), col("n"))
      .orderBy("hour_ts")
  }
  spec("q34_toa5_roundtrip", q34, """
      SELECT date_trunc('hour', ts) AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value,
             count(*)::DOUBLE AS n
      FROM events GROUP BY 1 ORDER BY 1""")

  /** S8 TOB1 binary round-trip: events encoded to a TOB1 file
    * (1990-epoch SECONDS/NANOSECONDS + IEEE4 value), decoded back by
    * the `format("tob")` scan; hash-matches the plain projection
    * oracle iff timestamps and float payloads survive bit-exactly. */
  /** TOB1 roundtrip fixtures are single logger files written by the
    * (local) codec, so the event slice necessarily passes through the
    * driver — capped at a deterministic (ts, event_id)-ordered prefix
    * so the collect is bounded regardless of SF (a logger file is a
    * bounded artifact; bulk frames belong in parquet). */
  private val TobFixtureCap = 20000

  private def tobFixture(s: SparkSession, dir: String, sub: String): String = {
    val ev = t(s, dir, "events").select(col("ts"), col("value"))
      .orderBy(col("ts"), col("event_id")).limit(TobFixtureCap).collect()
    val rows = ev.toSeq.map { r =>
      (r.getTimestamp(0).getTime * 1000L +
        (r.getTimestamp(0).getNanos / 1000L) % 1000L,
        Seq(r.getDouble(1).toFloat))
    }
    val path = s"${System.getProperty("java.io.tmpdir")}/$sub/ev.dat"
    graft.sources.Tob.writeTob1(path,
      Seq("TOB1", "EventsSite", "CR3000", "1", "os", "prog", "1", "t"),
      Seq("value"), rows)
    path
  }

  private def q36(s: SparkSession, dir: String): DataFrame = {
    val path = tobFixture(s, dir, "graft_q36")
    graft.sources.Tob.read(s, path).data
      .select(col("DATETIME"), col("value").cast("double").as("value"))
      .orderBy("DATETIME")
  }
  spec("q36_tob1_roundtrip", q36, """
      SELECT ts AS DATETIME, value::FLOAT::DOUBLE AS value
      FROM (SELECT ts, value FROM events
            ORDER BY ts, event_id LIMIT 20000)
      ORDER BY DATETIME""")

  /** DSv2 TOA5 scan (SURVEY §7.3 phase-2): the q34 product read back
    * through `format("toa5")` with a projection + DATETIME filter —
    * column pruning and best-effort file pruning on the V2 path,
    * oracle-checked like any other query. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"),
           count(lit(1)).cast("double").as("n"))
    val meta = TableMeta(
      FileInfo("TOA5", "EventsSite", "CR1000X", "1", "os", "prog", "1", "hourly"),
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("avg_value", "arb", "Avg"),
        VariableMeta("n", "samples", "Tot")))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q44/hourly.dat"
    graft.sources.Toa5.write(agg, meta, path)
    s.read.format("toa5").load(path)
      .filter(col("DATETIME") >=
        lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
      .select(col("DATETIME").as("hour_ts"), col("avg_value"))
      .orderBy("hour_ts")
  }
  spec("q44_toa5_v2_scan", q44, """
      SELECT date_trunc('hour', ts) AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value
      FROM events GROUP BY 1
      HAVING date_trunc('hour', ts) >= TIMESTAMP '2024-01-15 00:00:00'
      ORDER BY 1""")

  /** TOB binary DSv2 (SURVEY §7.3 phase-2): the q36 TOB1 product read
    * back through `format("tob")` — frame decode inside the V2
    * partition reader, oracle-checked. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    val path = tobFixture(s, dir, "graft_q46")
    s.read.format("tob").load(path)
      .select(col("DATETIME"), col("value").cast("double").as("value"))
      .orderBy("DATETIME")
  }
  spec("q46_tob_v2_scan", q46, """
      SELECT ts AS DATETIME, value::FLOAT::DOUBLE AS value
      FROM (SELECT ts, value FROM events
            ORDER BY ts, event_id LIMIT 20000)
      ORDER BY DATETIME""")

  /** S9 TOB3 frame roundtrip: 997 event values laid out 10 records
    * per frame at 100 ms (reference frame semantics:
    * read_cs_files.py:312-500) — frame 3 carries an invalid
    * validation stamp (decoder must skip its 10 records) and the
    * trailing 7-record frame is minor (footer word0 = used bytes).
    * The oracle recomputes the surviving (DATETIME, RECORD) grid
    * arithmetically, so stamp validation, minor-frame record counts,
    * and sub-record timestamping are all hash-checked. */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val vals = t(s, dir, "events")
      .select(col("ts"), col("value"), col("event_id"))
      .orderBy(col("ts"), col("event_id")).limit(997).collect()
      .map(r => Seq(r.getDouble(1).toFloat)).toSeq
    val baseUs = java.time.LocalDateTime.of(2024, 6, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q47/fast.dat"
    graft.sources.Tob.writeTob3(path,
      Seq("TOB3", "EventsSite", "CR3000", "1", "os", "prog", "1"),
      "fast", Seq("value"), vals, baseUs, 100000L, 10,
      corruptFrames = Set(3))
    graft.sources.Tob.read(s, path).data
      .select(col("DATETIME"), col("RECORD"),
        col("value").cast("double").as("value"))
      .orderBy("RECORD")
  }
  spec("q47_tob3_roundtrip", q47, """
      WITH o AS (SELECT ts, event_id, value FROM events
                 ORDER BY ts, event_id LIMIT 997),
      v AS (SELECT value::FLOAT::DOUBLE AS value,
              row_number() OVER (ORDER BY ts, event_id) - 1 AS r
            FROM o)
      SELECT make_timestamp(1717200000000000 + r * 100000) AS DATETIME,
             r AS RECORD, value
      FROM v WHERE r // 10 <> 3
      ORDER BY RECORD""")

  /** K3 EddyPro writer roundtrip: hourly event means through the
    * tab-separated DATAH/DATAU summary format (file_io.py:721-841)
    * and back via the format-sniffing reader; hash-matches the direct
    * aggregation oracle, proving the writer/reader pair is
    * value-stable (numbers, NaN token, date/time split columns). */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{TableMeta, VariableMeta, FileInfo}
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"))
      .agg(rnd(avg(col("value")), 6).as("avg_value"),
           count(lit(1)).cast("double").as("n"))
    val meta = TableMeta(FileInfo.dummy,
      Seq(VariableMeta("avg_value", "arb", "Avg"),
        VariableMeta("n", "samples", "Tot")))
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_q48/ep.txt"
    graft.sources.Toa5.writeEddyPro(agg, meta, path, "ep.txt")
    graft.sources.Toa5.read(s, path).data
      .select(col("DATETIME").as("hour_ts"), col("avg_value"), col("n"))
      .orderBy("hour_ts")
  }
  spec("q48_eddypro_roundtrip", q48, """
      SELECT date_trunc('hour', ts) AS hour_ts,
             floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS avg_value,
             count(*)::DOUBLE AS n
      FROM events GROUP BY 1 ORDER BY 1""")

  /** S10 CSIXML roundtrip: hourly event means written as a CSIXML
    * document (head/environment/fields + data/r/v shape per
    * read_cs_files.py:204-243) and decoded back by the distributed
    * reader — hash-matching the direct aggregation oracle proves the
    * XML byte path (ISO time attribute, record numbers, shortest-repr
    * doubles, empty <v/> nulls) is value-exact. Collect is bounded:
    * one row per hour. */
  private def q55(s: SparkSession, dir: String): DataFrame = {
    import graft.core.{FileInfo, TableMeta, VariableMeta}
    val agg = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(rnd(avg(col("value")), 6).as("v_mean"),
           count(lit(1)).cast("double").as("n"))
      .orderBy("hour_ts")
    val rows = agg.collect()
    val meta = TableMeta(
      FileInfo("CSIXML", "EventsSite", "CR1000X", "1", "os", "prog",
        "1", "hourly"),
      Seq(VariableMeta("TIMESTAMP", "TS", ""),
        VariableMeta("RECORD", "RN", ""),
        VariableMeta("v_mean", "arb", "Avg"),
        VariableMeta("n", "samples", "Tot")))
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_q55/hourly.xml"
    graft.sources.CsiXml.write(path, meta,
      rows.toSeq.zipWithIndex.map { case (r, i) =>
        (r.getTimestamp(0).toLocalDateTime, i.toLong,
          Seq[Any](r.getDouble(1), r.getDouble(2))) })
    graft.sources.CsiXml.read(s, path).data
      .select(col("DATETIME").as("hour_ts"), col("RECORD").as("rec_no"),
        col("v_mean"), col("n"))
      .orderBy("hour_ts")
  }
  spec("q55_csixml_roundtrip", q55, """
      WITH a AS (
        SELECT date_trunc('hour', ts) AS hour_ts,
               floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0
                 AS v_mean,
               count(*)::DOUBLE AS n
        FROM events GROUP BY 1)
      SELECT hour_ts,
             row_number() OVER (ORDER BY hour_ts) - 1 AS rec_no,
             v_mean, n
      FROM a ORDER BY hour_ts""")
}
