package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Conversions
import graft.operators.{JoinOps, TimeSeriesOps}
import Fixtures._

/** Aggregation, join, window and time-series queries over the TPC-H-ish
  * tables and `events`: the [[graft.operators]] library (gap, grid,
  * status, as-of, rolling, quantile operators) and the
  * [[graft.functions]] conversion kernels, plus the plain Spark queries
  * that call no graft operator. */
object TimeSeries extends QueryFamily {

  /** A-class aggregation over lineitem (TPC-H Q1 shape). */
  private def q01(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        rnd(sum(col("l_quantity")), 2).as("sum_qty"),
        rnd(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        rnd(avg(col("l_quantity")), 4).as("avg_qty"),
        rnd(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  spec("q01_pricing_summary", q01, """
      SELECT l_returnflag, l_linestatus,
             floor((sum(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
             floor((sum(l_extendedprice)) * 100.0 + 0.5) / 100.0 AS sum_base_price,
             floor((sum(l_extendedprice * (1.0 - l_discount))) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
             floor((avg(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
             floor((avg(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
             count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")

  /** P4 date-range slice + projection (pushdown-verified scan). */
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01")
        && col("o_orderdate") < lit("1998-01-01")
        && col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_orderkey")
  spec("q02_date_filter", q02, """
      SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND o_totalprice > 100000.0
      ORDER BY o_orderkey""")

  /** J-class multi-way join: revenue by nation (broadcast dims). */
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
    val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(rnd(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
           count(lit(1)).as("n_lines"))
      .orderBy("n_name")
  }
  spec("q03_revenue_by_nation", q03, """
      SELECT n_name,
             floor((sum(l_extendedprice * (1.0 - l_discount))) * 100.0 + 0.5) / 100.0 AS revenue,
             count(*) AS n_lines
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")

  /** Broadcast dimension rollup region->nation->customer. */
  private def q04(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region"); val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_customers"),
           rnd(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .orderBy("r_name")
  }
  spec("q04_region_rollup", q04, """
      SELECT r_name, count(*) AS n_customers,
             floor((sum(c_acctbal)) * 100.0 + 0.5) / 100.0 AS sum_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""")

  /** W4 ordered-first: top order per customer via window rank. */
  private def q05(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey")
  }
  spec("q05_top_order_per_cust", q05, """
      SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders) WHERE rn = 1
      ORDER BY o_custkey""")

  /** W1/W2 lag: inter-event gap per user (integer-exact seconds). */
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("gap_sec",
        expr("(unix_micros(ts) - prev_us) div 1000000"))
      .select("event_id", "user_id", "gap_sec")
      .orderBy("event_id")
  }
  spec("q06_event_lag", q06, """
      SELECT event_id, user_id,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
               AS gap_sec
      FROM events ORDER BY event_id""")

  /** D1 exact dedup: distinct-text stats per source on documents. */
  private def q07(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("text")).as("n_distinct_texts"))
      .orderBy("source")
  spec("q07_doc_exact_dedup", q07, """
      SELECT source, count(*) AS n_docs,
             count(DISTINCT text) AS n_distinct_texts
      FROM documents GROUP BY source ORDER BY source""")

  /** D2 duplicate-key diagnostics on lineitem order groups. */
  private def q08(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.duplicateKeyDiagnostics(
        t(s, dir, "lineitem"), Seq("l_orderkey"), "l_partkey")
      .orderBy("l_orderkey")
  spec("q08_dup_key_diag", q08, """
      SELECT l_orderkey, count(*) AS n_rows,
             count(DISTINCT l_partkey) AS n_distinct
      FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
      ORDER BY l_orderkey""")

  /** A1/A5 regularize-to-grid: hourly grid over events with counts
    * (missing hours present with n_events = 0). */
  private def q09(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .withColumn("hour_ts", date_trunc("hour", col("ts")))
    val grid = e.agg(min(col("hour_ts")).as("t0"), max(col("hour_ts")).as("t1"))
      .select(explode(sequence(col("t0"), col("t1"),
        expr("INTERVAL 1 HOUR"))).as("hour_ts"))
    grid.join(e, Seq("hour_ts"), "left")
      .groupBy("hour_ts")
      .agg(count(col("event_id")).as("n_events"))
      .orderBy("hour_ts")
  }
  spec("q09_regular_grid", q09, """
      WITH e AS (SELECT date_trunc('hour', ts) AS hour_ts, event_id FROM events),
      span AS (SELECT min(hour_ts) AS t0, max(hour_ts) AS t1 FROM e),
      grid AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour_ts FROM span)
      SELECT g.hour_ts, count(e.event_id) AS n_events
      FROM grid g LEFT JOIN e ON e.hour_ts = g.hour_ts
      GROUP BY g.hour_ts ORDER BY g.hour_ts""")

  /** A2 interval inference substrate: histogram of ts first-differences. */
  private def q10(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.intervalHistogram(t(s, dir, "events"), "ts")
      .orderBy("delta_sec")
  spec("q10_interval_hist", q10, """
      WITH d AS (
        SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY ts) AS du
        FROM (SELECT DISTINCT ts FROM events))
      SELECT du // 1000000 AS delta_sec, count(*) AS n
      FROM d WHERE du IS NOT NULL GROUP BY 1 ORDER BY 1""")

  /** A6 gap distribution per user (nominal interval 3600 s). */
  private def q11(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gapDistribution(
        t(s, dir, "events").select("user_id", "ts"), "ts", 3600,
        Seq("user_id"))
      .orderBy("n_records")
  spec("q11_gap_hist", q11, """
      WITH d AS (
        SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts)) // 1000000 AS gap_sec
        FROM events)
      SELECT gap_sec // 3600 - 1 AS n_records, count(*) AS n_gaps
      FROM d WHERE gap_sec > 3600 GROUP BY 1 ORDER BY 1""")

  /** A7 gap bounds: gaps > 6 h per user with (start, end). */
  private def q12(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gaps(
        t(s, dir, "events").select("user_id", "ts"), "ts", 21600,
        Seq("user_id"))
      .select(col("user_id"), col("prev_ts").as("gap_start"),
              col("ts").as("gap_end"), col("n_records"))
      .orderBy("user_id", "gap_start")
  spec("q12_gap_bounds", q12, """
      WITH d AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts)) // 1000000 AS gap_sec
        FROM events)
      SELECT user_id, prev_ts AS gap_start, ts AS gap_end,
             gap_sec // 21600 - 1 AS n_records
      FROM d WHERE gap_sec > 21600 ORDER BY user_id, gap_start""")

  /** A8 date span per user. */
  private def q13(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.dateSpan(t(s, dir, "events"), "ts", Seq("user_id"))
      .orderBy("user_id")
  spec("q13_date_span", q13, """
      SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
             count(*) AS n_records
      FROM events GROUP BY user_id ORDER BY user_id""")

  /** A9 variable status: last record / last valid (range-masked) value
    * / trailing-24h validity, against fixed now = 1998-08-02. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val now = java.sql.Timestamp.valueOf("2024-01-30 00:00:00")
    val masked = t(s, dir, "events")
      .withColumn("v", TimeSeriesOps.maskRange(col("value"), 0.0, 150.0))
    masked.groupBy("user_id").agg(
        max(col("ts")).as("last_ts"),
        max(when(col("v").isNotNull, col("ts"))).as("last_valid_ts"),
        max_by(col("v"), when(col("v").isNotNull, col("ts")))
          .as("last_valid_value"),
        count(when(col("ts") >= lit(now), 1)).as("n_24h"),
        count(when(col("ts") >= lit(now) && col("v").isNotNull, 1))
          .as("n_valid_24h"))
      .orderBy("user_id")
  }
  spec("q14_status", q14, """
      WITH m AS (
        SELECT *, CASE WHEN value BETWEEN 0.0 AND 150.0 THEN value END AS v
        FROM events)
      SELECT user_id, max(ts) AS last_ts,
             max(CASE WHEN v IS NOT NULL THEN ts END) AS last_valid_ts,
             arg_max(v, ts) FILTER (WHERE v IS NOT NULL) AS last_valid_value,
             count(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00' THEN 1 END) AS n_24h,
             count(CASE WHEN ts >= TIMESTAMP '2024-01-30 00:00:00'
                         AND v IS NOT NULL THEN 1 END) AS n_valid_24h
      FROM m GROUP BY user_id ORDER BY user_id""")

  /** A4 diel mean: hour-of-day profile of event values. */
  private def q15(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(hour(col("ts")).as("hh"))
      .agg(rnd(avg(col("value")), 4).as("avg_value"),
           count(lit(1)).as("n"))
      .orderBy("hh")
  spec("q15_diel_mean", q15, """
      SELECT hour(ts) AS hh, floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value,
             count(*) AS n
      FROM events GROUP BY 1 ORDER BY 1""")

  /** A3 downsample: daily mean per event type. */
  private def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day_ts"))
      .agg(rnd(avg(col("value")), 4).as("avg_value"),
           count(lit(1)).as("n"))
      .orderBy("event_type", "day_ts")
  spec("q16_daily_downsample", q16, """
      SELECT event_type, date_trunc('day', ts) AS day_ts,
             floor((avg(value)) * 10000.0 + 0.5) / 10000.0 AS avg_value, count(*) AS n
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")

  /** P5 range mask: out-of-range -> null, rows preserved (count proof). */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val masked = t(s, dir, "lineitem")
      .withColumn("q_masked", TimeSeriesOps.maskRange(col("l_quantity"), 5.0, 45.0))
    masked.groupBy("l_returnflag").agg(
        count(lit(1)).as("n_rows"),
        count(col("q_masked")).as("n_valid"),
        rnd(avg(col("q_masked")), 4).as("avg_masked"),
        rnd(sum(col("q_masked")), 2).as("sum_masked"))
      .orderBy("l_returnflag")
  }
  spec("q17_mask_range", q17, """
      WITH m AS (
        SELECT l_returnflag,
               CASE WHEN l_quantity BETWEEN 5.0 AND 45.0 THEN l_quantity END AS q_masked
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n_rows, count(q_masked) AS n_valid,
             floor((avg(q_masked)) * 10000.0 + 0.5) / 10000.0 AS avg_masked,
             floor((sum(q_masked)) * 100.0 + 0.5) / 100.0 AS sum_masked
      FROM m GROUP BY l_returnflag ORDER BY l_returnflag""")

  /** F13-F19 met derivations (Buck es, e, VPD, dew point, AH) over a
    * synthetic met frame mapped from lineitem columns. */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    import Conversions._
    val met = t(s, dir, "lineitem")
      .filter(col("l_discount") > 0.0)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").as("ta"),
        (col("l_discount") * 1000.0).as("rh"),
        (col("l_extendedprice") / 1000.0).as("ps"))
    met.select(col("flag"),
        saturationVapourPressure(col("ta")).as("es"),
        vpd(col("ta"), col("rh")).as("vpd_v"),
        dewPoint(vapourPressure(col("ta"), col("rh"))).as("td"),
        ahFromRh(col("ta"), col("rh"), col("ps")).as("ah"))
      .groupBy("flag")
      .agg(rnd(avg(col("es")), 6).as("avg_es"),
           rnd(avg(col("vpd_v")), 6).as("avg_vpd"),
           rnd(avg(col("td")), 6).as("avg_td"),
           rnd(avg(col("ah")), 6).as("avg_ah"))
      .orderBy("flag")
  }
  spec("q18_met_derivations", q18, """
      WITH met AS (
        SELECT l_returnflag AS flag, l_quantity AS ta,
               l_discount * 1000.0 AS rh, l_extendedprice / 1000.0 AS ps
        FROM lineitem WHERE l_discount > 0.0),
      d AS (
        SELECT flag, ps, rh,
               0.61121 * exp((18.678 - ta/234.5) * (ta/(257.14 + ta))) AS es,
               ps * 1000.0 / ((ta + 273.15) * 8.3143) AS md
        FROM met),
      d2 AS (SELECT flag, ps, md, es, es * rh / 100.0 AS e FROM d)
      SELECT flag, floor((avg(es)) * 1000000.0 + 0.5) / 1000000.0 AS avg_es,
             floor((avg(es - e)) * 1000000.0 + 0.5) / 1000000.0 AS avg_vpd,
             floor((avg(243.5 * ln(e/0.61121) / (17.502 - ln(e/0.61121)))) * 1000000.0 + 0.5) / 1000000.0 AS avg_td,
             floor((avg(e / ps * md * 18.0)) * 1000000.0 + 0.5) / 1000000.0 AS avg_ah
      FROM d2 GROUP BY flag ORDER BY flag""")

  /** E1/E2 set ops: nations with customers but no suppliers. */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val withCust = n.join(t(s, dir, "customer"),
      n("n_nationkey") === col("c_nationkey")).select("n_name")
    val withSupp = n.join(t(s, dir, "supplier"),
      n("n_nationkey") === col("s_nationkey")).select("n_name")
    withCust.except(withSupp).orderBy("n_name")
  }
  spec("q19_setops", q19, """
      SELECT n_name FROM nation JOIN customer ON n_nationkey = c_nationkey
      EXCEPT
      SELECT n_name FROM nation JOIN supplier ON n_nationkey = s_nationkey
      ORDER BY n_name""")

  /** J5 sessionization: split user streams on >6h gaps. */
  private def q20(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.sessionize(
        t(s, dir, "events").select("user_id", "ts", "event_id"),
        "ts", 21600, Seq("user_id"), Seq("event_id"))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
           count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  spec("q20_sessionize", q20, """
      WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN (epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
                 > 21600 OR lag(ts) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS new_s
        FROM events),
      s AS (
        SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM g)
      SELECT user_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts,
             count(*) AS n_events
      FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""")

  /** J5 gaps-and-islands: consecutive same-event_type runs per user
    * (the instrument-history coalescing shape). */
  private def q21(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.islands(
        t(s, dir, "events").select("user_id", "ts", "event_type", "event_id"),
        "ts", "event_type", Seq("user_id"), Seq("event_id"))
      .orderBy("user_id", "start_ts")
  spec("q21_islands", q21, """
      WITH f AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS new_i
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      i AS (
        SELECT user_id, ts, event_type,
               sum(new_i) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS island
        FROM f)
      SELECT user_id, event_type, min(ts) AS start_ts, max(ts) AS end_ts,
             count(*) AS n_records
      FROM i GROUP BY user_id, event_type, island
      ORDER BY user_id, start_ts""")

  /** J7 nearest-match join: per supplier, the same-nation customer with
    * closest account balance (argmin + tiebreak). */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey").as("nationkey"),
              col("s_acctbal"))
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey").as("nationkey"),
              col("c_acctbal"))
    JoinOps.nearestMatch(broadcast(sup), cust, Seq("nationkey"),
        Seq("s_suppkey"),
        rnd(abs(col("s_acctbal") - col("c_acctbal")), 2),
        Seq(col("c_custkey")))
      .select(col("s_suppkey"), col("c_custkey"),
        rnd(abs(col("s_acctbal") - col("c_acctbal")), 2).as("bal_diff"))
      .orderBy("s_suppkey")
  }
  spec("q22_nearest_match", q22, """
      SELECT s_suppkey, c_custkey, bal_diff FROM (
        SELECT s_suppkey, c_custkey,
               floor((abs(s_acctbal - c_acctbal)) * 100.0 + 0.5) / 100.0 AS bal_diff,
               row_number() OVER (PARTITION BY s_suppkey
                 ORDER BY floor((abs(s_acctbal - c_acctbal)) * 100.0 + 0.5) / 100.0, c_custkey) AS rn
        FROM supplier JOIN customer ON s_nationkey = c_nationkey)
      WHERE rn = 1 ORDER BY s_suppkey""")

  /** E3/J1 union with kind tags: parties per nation. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_nationkey").as("nationkey")).withColumn("kind", lit("cust"))
    val supp = t(s, dir, "supplier")
      .select(col("s_nationkey").as("nationkey")).withColumn("kind", lit("supp"))
    cust.unionByName(supp)
      .groupBy("nationkey")
      .agg(count(when(col("kind") === "cust", 1)).as("n_cust"),
           count(when(col("kind") === "supp", 1)).as("n_supp"))
      .orderBy("nationkey")
  }
  spec("q23_union_kinds", q23, """
      WITH u AS (
        SELECT c_nationkey AS nationkey, 'cust' AS kind FROM customer
        UNION ALL
        SELECT s_nationkey AS nationkey, 'supp' AS kind FROM supplier)
      SELECT nationkey,
             count(CASE WHEN kind = 'cust' THEN 1 END) AS n_cust,
             count(CASE WHEN kind = 'supp' THEN 1 END) AS n_supp
      FROM u GROUP BY nationkey ORDER BY nationkey""")

  /** A11 strict sum (skipna=False): null if any member null. */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val masked = t(s, dir, "lineitem")
      .withColumn("q_masked", TimeSeriesOps.maskRange(col("l_quantity"), 5.0, 45.0))
    masked.groupBy("l_returnflag").agg(
        when(count(lit(1)) === count(col("q_masked")),
          rnd(sum(col("q_masked")), 2)).as("strict_sum"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  // --- LLM-corpus operators: text analysis / dedup / similarity ---
  spec("q24_strict_sum", q24, """
      WITH m AS (
        SELECT l_returnflag,
               CASE WHEN l_quantity BETWEEN 5.0 AND 45.0 THEN l_quantity END AS q_masked
        FROM lineitem)
      SELECT l_returnflag,
             CASE WHEN count(*) = count(q_masked)
                  THEN floor((sum(q_masked)) * 100.0 + 0.5) / 100.0 END AS strict_sum,
             count(*) AS n_rows
      FROM m GROUP BY l_returnflag ORDER BY l_returnflag""")

  /** F26 FP2 decode via the custom Catalyst expression, oracle-checked
    * against the equivalent bit arithmetic in SQL. Sentinel raws are
    * filtered (inf/NaN don't hash-compare). */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val raw = (col("l_partkey") % 65536).cast("int")
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), raw.as("raw"))
      .filter(!col("raw").isin(0x1fff, 0x9fff, 0x9ffe))
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.functions.Fp2.fp2(col("raw")).as("fp2_val"))
      .orderBy("l_orderkey", "l_linenumber")
  }
  spec("q35_fp2_decode", q35, """
      WITH r AS (SELECT l_orderkey, l_linenumber,
                        (l_partkey % 65536)::INTEGER AS raw FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             (CASE WHEN (raw & 32768) != 0 THEN -1.0 ELSE 1.0 END)
               * (raw & 8191) * power(10.0, -((raw & 24576) >> 13)) AS fp2_val
      FROM r WHERE raw NOT IN (8191, 40959, 40958)
      ORDER BY l_orderkey, l_linenumber""")

  /** A10/A11/W1 profile storage-flux pipeline: events shaped into a
    * (time, height) concentration profile, then layer means (bottom
    * intake + adjacent-height averages), per-layer time derivative
    * scaled by layer depth, and the strict any-null-nulls sum. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProfileOps
    val profile = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("DATETIME"),
        (lit(0.5) + (col("user_id") % 4).cast("double") * 2.0).as("height"))
      .agg(rnd(avg(col("value")), 6).as("co2"))
    val layers = ProfileOps.layerMeans(profile, "DATETIME", "height", "co2")
    val storage = ProfileOps.layerStorage(layers, "DATETIME", "height", 3600)
    // Fixed-order sum over the 4 known heights: summation order is
    // engine-dependent inside sum(), and a 4-term float sum can land
    // exactly on a rounding half-boundary; s1+s2+s3+s4 is
    // bit-deterministic and null-propagating (= strict sum).
    val hs = Seq(0.5, 2.5, 4.5, 6.5)
    storage.groupBy(col("DATETIME")).agg(
        max(when(col("height") === hs(0), col("layer_storage"))).as("s1"),
        max(when(col("height") === hs(1), col("layer_storage"))).as("s2"),
        max(when(col("height") === hs(2), col("layer_storage"))).as("s3"),
        max(when(col("height") === hs(3), col("layer_storage"))).as("s4"),
        count(lit(1)).as("n_layers"))
      .select(col("DATETIME"),
        rnd(col("s1") + col("s2") + col("s3") + col("s4"), 6)
          .as("storage_flux"),
        col("n_layers"))
      .orderBy("DATETIME")
  }
  spec("q38_profile_storage", q38, """
      WITH profile AS (
        SELECT date_trunc('hour', ts) AS dt,
               0.5 + (user_id % 4)::DOUBLE * 2.0 AS height,
               floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 AS co2
        FROM events GROUP BY 1, 2),
      layers AS (
        SELECT dt, height,
               CASE WHEN lag(co2) OVER w IS NULL THEN co2
                    ELSE (co2 + lag(co2) OVER w) / 2.0 END AS layer_value,
               CASE WHEN lag(height) OVER w IS NULL THEN height
                    ELSE height - lag(height) OVER w END AS layer_depth
        FROM profile WINDOW w AS (PARTITION BY dt ORDER BY height)),
      storage AS (
        SELECT dt, height,
               (layer_value - lag(layer_value) OVER
                 (PARTITION BY height ORDER BY dt)) / 3600.0
                 * layer_depth AS layer_storage
        FROM layers)
      SELECT dt AS DATETIME,
             floor((s1 + s2 + s3 + s4) * 1000000.0 + 0.5)
               / 1000000.0 AS storage_flux,
             n_layers
      FROM (SELECT dt,
              max(CASE WHEN height = 0.5 THEN layer_storage END) AS s1,
              max(CASE WHEN height = 2.5 THEN layer_storage END) AS s2,
              max(CASE WHEN height = 4.5 THEN layer_storage END) AS s3,
              max(CASE WHEN height = 6.5 THEN layer_storage END) AS s4,
              count(*) AS n_layers
            FROM storage GROUP BY dt)
      ORDER BY DATETIME""")

  /** As-of join (backward): for each event, the latest purchase event
    * of the same user at-or-before it — single window pass via the
    * union trick (one shuffle on (user, ts)), checked against DuckDB's
    * native ASOF JOIN. */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events").select("event_id", "user_id", "ts")
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
      .withColumn("last_purchase_ts", col("p_ts"))
    graft.operators.JoinOps.asofJoinBackward(
        events, purchases, Seq("user_id"), "ts", "p_ts",
        Seq("last_purchase_ts"))
      .select("event_id", "user_id", "last_purchase_ts")
      .orderBy("event_id")
  }
  spec("q39_asof_join", q39, """
      SELECT e.event_id, e.user_id, p.ts AS last_purchase_ts
      FROM events e ASOF LEFT JOIN
        (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
        ON e.user_id = p.user_id AND e.ts >= p.ts
      ORDER BY e.event_id""")

  /** Trailing-24h rolling mean per user via a RANGE frame on the
    * microsecond axis. Values are snapped to exact integer cents
    * before summing (floor(v*100+0.5) -> long), so the rolling sum is
    * integer-exact in both engines and needs no output rounding. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"))
      .rangeBetween(-86400000000L, 0L)
    t(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
      .withColumn("sum_cents", sum(col("cents")).over(w))
      .withColumn("n_24h", count(lit(1)).over(w))
      .select(col("event_id"), col("user_id"),
        (col("sum_cents").cast("double")
          / (col("n_24h") * 100.0)).as("avg_24h"),
        col("n_24h"))
      .orderBy("event_id")
  }
  spec("q40_rolling_24h", q40, """
      WITH c AS (
        SELECT event_id, user_id, epoch_us(ts) AS us,
               floor(value * 100.0 + 0.5)::BIGINT AS cents
        FROM events)
      SELECT event_id, user_id,
             (sum(cents) OVER w)::DOUBLE
               / ((count(*) OVER w) * 100.0) AS avg_24h,
             count(*) OVER w AS n_24h
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY us
        RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")

  /** A6/A7 keyless path: the distributed first-difference substrate
    * (range shuffle + per-partition scan + boundary stitch — no global
    * window) hash-checked against DuckDB's global-window lag over the
    * whole event stream. Complements q10 (keyless interval histogram)
    * by pinning the gap-bounds output of the same substrate. */
  private def q60(s: SparkSession, dir: String): DataFrame =
    TimeSeriesOps.gaps(t(s, dir, "events").select("ts"), "ts", 600)
      .orderBy("prev_ts")
  spec("q60_keyless_gaps", q60, """
      WITH d AS (SELECT ts, lag(ts) OVER (ORDER BY ts) AS prev_ts
                 FROM events),
      g AS (SELECT ts, prev_ts,
              (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS gap_sec
            FROM d WHERE prev_ts IS NOT NULL)
      SELECT ts, prev_ts, gap_sec, gap_sec // 600 - 1 AS n_records
      FROM g WHERE gap_sec > 600 ORDER BY prev_ts""")

  /** F25 solar oracle: sunrise/sunset for a site × month fixture grid,
    * evaluated DISTRIBUTED (the NOAA chain runs in a UDF over the
    * cross-joined frame) and reduced to seconds-since-midnight
    * integers so no timestamp/timezone semantics enter the compare.
    * The oracle re-derives the full NOAA chain in SQL with the same
    * operator shapes (`x/180*pi()` mirrors Java toRadians exactly);
    * whole-second rounding absorbs the last-ulp libm-vs-JVM trig
    * differences. */
  private def q68(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Solar
    import s.implicits._
    val sites = Seq(
      ("alpine", -36.5, 148.0, 10.0),
      ("tropical", -12.5, 131.0, 9.5),
      ("temperate", -34.0, 140.5, 9.5),
      ("northern", 51.5, -0.1, 0.0),
      ("equator", 0.0, 36.8, 3.0)).toDF("site", "lat", "lon", "off")
    val dates = (1 to 12).map(m =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, m, 15)))
      .toDF("date")
    val sun = udf { (d: java.sql.Date, la: Double, lo: Double,
        off: Double) =>
      Solar.sunriseSunset(d.toLocalDate, la, lo, off).map {
        case (r, st) =>
          val mid = d.toLocalDate.atStartOfDay
          (java.time.Duration.between(mid, r).getSeconds,
            java.time.Duration.between(mid, st).getSeconds)
      }
    }
    sites.crossJoin(dates)
      .withColumn("rs", sun(col("date"), col("lat"), col("lon"),
        col("off")))
      .filter(col("rs").isNotNull) // polar day/night (none in fixture)
      .select(col("site"), col("date"),
        col("rs._1").as("sunrise_sec"), col("rs._2").as("sunset_sec"))
      .orderBy("site", "date")
  }
  // Full NOAA chain (Meeus) re-derived: Julian day with the integer
  // truncations, declination + equation of time, hour angle at
  // zenith 90.833. `x / 180.0 * pi()` and `x * 180.0 / pi()` mirror
  // Java toRadians/toDegrees op-for-op; floor(x + 0.5) mirrors
  // Math.round. Whole-second outputs absorb trig last-ulp drift.
  spec("q68_solar_noaa", q68, """
      WITH sites(site, lat, lon, off) AS (VALUES
        ('alpine', -36.5, 148.0, 10.0),
        ('tropical', -12.5, 131.0, 9.5),
        ('temperate', -34.0, 140.5, 9.5),
        ('northern', 51.5, -0.1, 0.0),
        ('equator', 0.0, 36.8, 3.0)),
      dates(d) AS (SELECT unnest(list_transform(range(1, 13),
        m -> make_date(2024, m::INTEGER, 15)))),
      jd AS (SELECT *,
          CASE WHEN month(d) <= 2 THEN year(d) - 1 ELSE year(d) END AS yy,
          CASE WHEN month(d) <= 2 THEN month(d) + 12 ELSE month(d) END AS mm
        FROM sites CROSS JOIN dates),
      j2 AS (SELECT *,
          trunc(365.25 * (yy + 4716)) + trunc(30.6001 * (mm + 1))
            + day(d) + (2 - yy // 100 + (yy // 100) // 4) - 1524.5
            AS jday
        FROM jd),
      j3 AS (SELECT *, (jday - 2451545.0) / 36525.0 AS jc FROM j2),
      j4 AS (SELECT *,
          fmod(280.46646 + jc * (36000.76983 + jc * 0.0003032), 360.0)
            AS gml,
          357.52911 + jc * (35999.05029 - 0.0001537 * jc) AS gma,
          0.016708634 - jc * (0.000042037 + 0.0000001267 * jc) AS ecc
        FROM j3),
      j5 AS (SELECT *,
          gml + sin(gma / 180.0 * pi())
              * (1.914602 - jc * (0.004817 + 0.000014 * jc))
            + sin((2 * gma) / 180.0 * pi()) * (0.019993 - 0.000101 * jc)
            + sin((3 * gma) / 180.0 * pi()) * 0.000289 AS tl,
          23.0 + (26.0 + (21.448 - jc * (46.815
            + jc * (0.00059 - jc * 0.001813))) / 60.0) / 60.0 AS moe
        FROM j4),
      j6 AS (SELECT *,
          tl - 0.00569 - 0.00478
            * sin((125.04 - 1934.136 * jc) / 180.0 * pi()) AS al,
          moe + 0.00256
            * cos((125.04 - 1934.136 * jc) / 180.0 * pi()) AS oc
        FROM j5),
      j7 AS (SELECT *,
          asin(sin(oc / 180.0 * pi()) * sin(al / 180.0 * pi()))
            * 180.0 / pi() AS decl,
          tan((oc / 2) / 180.0 * pi()) * tan((oc / 2) / 180.0 * pi())
            AS y2
        FROM j6),
      j8 AS (SELECT *,
          4.0 * ((y2 * sin(2 * (gml / 180.0 * pi()))
            - 2 * ecc * sin(gma / 180.0 * pi())
            + 4 * ecc * y2 * sin(gma / 180.0 * pi())
              * cos(2 * (gml / 180.0 * pi()))
            - 0.5 * y2 * y2 * sin(4 * (gml / 180.0 * pi()))
            - 1.25 * ecc * ecc * sin(2 * (gma / 180.0 * pi())))
            * 180.0 / pi()) AS eot
        FROM j7),
      j9 AS (SELECT *,
          (cos(90.833 / 180.0 * pi())
            - sin(lat / 180.0 * pi()) * sin(decl / 180.0 * pi()))
          / (cos(lat / 180.0 * pi()) * cos(decl / 180.0 * pi()))
            AS cosha
        FROM j8),
      j10 AS (SELECT *,
          acos(cosha) * 180.0 / pi() AS ha,
          720.0 - 4.0 * lon - eot AS noonmin
        FROM j9 WHERE cosha >= -1.0 AND cosha <= 1.0)
      SELECT site, d AS date,
        CAST(floor((noonmin - 4.0 * ha + off * 60.0) * 60.0 + 0.5)
          AS BIGINT) AS sunrise_sec,
        CAST(floor((noonmin + 4.0 * ha + off * 60.0) * 60.0 + 0.5)
          AS BIGINT) AS sunset_sec
      FROM j10 ORDER BY site, date""")

  /** Exact distributed quantiles ([[graft.operators.StatsOps
    * .exactQuantiles]]): doc-length order statistics at exact
    * ceil(p·n) ranks under the (value, id) total order — the
    * engine-portable alternative to percentile_approx sketches. One
    * range exchange + two-pass rank placement, no corpus-wide
    * window. The oracle replays the ranks in DuckDB. */
  private def q128(s: SparkSession, dir: String): DataFrame =
    graft.operators.StatsOps.exactQuantiles(t(s, dir, "documents"),
        "n_chars", "doc_id",
        Seq((1L, 4L), (1L, 2L), (3L, 4L), (99L, 100L)))
      .orderBy("rank", "p_num", "p_den")
  // Exact-quantile replay: ceil(n*num/den) 1-based ranks under the
  // (value, doc_id) total order; probs sharing a rank each emit.
  spec("q128_exact_quantiles", q128, """
      WITH v AS (SELECT n_chars::DOUBLE AS v, doc_id
        FROM documents WHERE n_chars IS NOT NULL),
      r AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rk,
          count(*) OVER () AS n
        FROM v),
      p(p_num, p_den) AS (VALUES (1, 4), (1, 2), (3, 4), (99, 100))
      SELECT p_num::BIGINT AS p_num, p_den::BIGINT AS p_den,
             rk::BIGINT AS rank, v AS value
      FROM p JOIN r ON rk = (n * p_num + p_den - 1) // p_den
      ORDER BY rank, p_num, p_den""")

  /** Quantile-bounded outlier filter ([[graft.operators.StatsOps
    * .filterByQuantileRange]]): keep documents whose length lies
    * within the exact [p5, p95] values — the published-recipe tail
    * cut with engine-portable bounds. The oracle re-derives both
    * rank values and applies the same inclusive comparison. */
  private def q140(s: SparkSession, dir: String): DataFrame =
    graft.operators.StatsOps.filterByQuantileRange(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", (1L, 20L), (19L, 20L))
      .orderBy("doc_id")
  // Quantile-bounded filter: q128's ceil-rank values at 1/20 and
  // 19/20, then the inclusive range cut on the raw column.
  spec("q140_quantile_filter", q140, """
      WITH v AS (SELECT n_chars::DOUBLE AS v, doc_id
        FROM documents WHERE n_chars IS NOT NULL),
      r AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) AS rk,
          count(*) OVER () AS n
        FROM v),
      b AS (SELECT
          (SELECT v FROM r WHERE rk = (n * 1 + 19) // 20 LIMIT 1) AS lo,
          (SELECT v FROM r WHERE rk = (n * 19 + 19) // 20 LIMIT 1) AS hi)
      SELECT doc_id, n_chars FROM documents, b
      WHERE n_chars IS NOT NULL
        AND n_chars::DOUBLE >= lo AND n_chars::DOUBLE <= hi
      ORDER BY doc_id""")

  /** Mergeable rank/quantile sketch ([[graft.operators.StatsOps
    * .rankSketchCells]], X81): per-lang decimal log-buckets over the
    * per-doc token count — the lake-telemetry quantile tier whose
    * cells sum-merge across days/shards (unlike q59's exact
    * quantiles, which rescan per call). Cells are exact integers
    * from decimal-string arithmetic, replayed verbatim by the
    * oracle; quantile bounds are reader-side. */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val docs = t(s, dir, "documents")
      .select(col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
    graft.operators.StatsOps.rankSketchCells(docs, "n_tok", "lang")
      .orderBy("group", "digits", "lead")
  }
  // Rank sketch: decimal log-buckets over per-doc token counts —
  // digits = decimal length, lead = first 2 digits, exact counts.
  spec("q151_rank_sketch", q151, (tokCte + """,
      vt AS (SELECT coalesce(d.lang, '') AS grp,
          len(tk.toks)::BIGINT AS v
        FROM tk JOIN documents d USING (doc_id))
      SELECT grp AS "group", length(v::VARCHAR)::INT AS digits,
        substr(v::VARCHAR, 1, 2)::BIGINT AS lead,
        count(*)::BIGINT AS n
      FROM vt GROUP BY 1, 2, 3
      ORDER BY "group", digits, lead"""))
}
