package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders and oracle fragments shared by more than one query family.
  * Helpers used by one family live in that family's object. */
object Fixtures {

  /** Timestamp columns whose parquet annotation has drifted across
    * driver testdata generations: TIMESTAMP(NANOS) in early rounds
    * (Spark has no nanosecond timestamp — read as long via the legacy
    * conf and truncate to micros, matching DuckDB's ns->us cast),
    * TIMESTAMP_NTZ micros (isAdjustedToUTC=false) since round 11.
    * The loader normalizes every generation to plain TIMESTAMP with
    * unix_micros == the stored int64, so operators and collect-side
    * code (java.sql.Timestamp) are generation-independent.
    *
    * SESSION CONTRACT (a deliberate, documented side effect): every
    * `t()` call pins three session confs — UTC zone, nanosAsLong,
    * inferTimestampNTZ=false — and does NOT restore them, because all
    * three are read at EXECUTION time (zone by timestamp casts,
    * the parquet annotations by each task's footer-to-Catalyst
    * conversion), so a save/restore around the eager schema read
    * would silently flip semantics when the action later runs.
    * Every registry query assumes these settings for oracle parity;
    * run them in a dedicated session (as Verify/Bench do, setting the
    * same confs at construction) rather than one whose timestamp
    * semantics other code depends on. */
  private val nanosCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Read parquet TIMESTAMP_NTZ annotations as plain TIMESTAMP *in
    // the scan* (session zone pinned UTC so the stored micros are the
    // instant DuckDB sees). An after-scan cast would be value-equal
    // but would WRAP the column and kill parquet predicate pushdown on
    // it — at 100 TB the time filter is the partition pruner, so it
    // must reach the reader. NTZ inference off is scan-native: filters
    // on ts stay pushable (PushedFilters in .explain).
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = s.read.parquet(s"$dir/$name.parquet")
    val nanosFixed = nanosCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS)
          d.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
        case _ => d
      }
    }
    // Defensive residue: if an NTZ column still surfaces (e.g. the
    // inference conf disappears in a future Spark), normalize by cast
    // — value-equal under the UTC session zone, just not pushable.
    nanosFixed.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
      .foldLeft(nanosFixed) { (d, f) =>
        d.withColumn(f.name,
          col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      }
  }

  /** Engine-parity rounding: floor(x*10^n + 0.5)/10^n. Every step is an
    * exactly-specified IEEE-754 op, so Spark and DuckDB produce the same
    * bits — unlike decimal `round`, whose half-way tie handling differs
    * between the engines (Spark rounds the shortest decimal repr,
    * DuckDB the raw binary). */
  private[queries] def rnd(c: Column, scale: Int): Column = {
    val p = math.pow(10.0, scale)
    floor(c * p + lit(0.5)) / p
  }

  private[queries] val tokCte = """
      WITH tk AS (SELECT doc_id,
        list_filter(string_split_regex(
          regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +'),
          x -> x <> '') AS toks
      FROM documents)"""

  /** Shared DuckDB CTE: distinct 3-token shingles per document,
    * mirroring [[graft.text.TextOps.shingles]]. */
  private[queries] val shingleCte = tokCte + """,
      sh AS (SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            ELSE [array_to_string(toks, ' ')] END)) AS shingle
        FROM tk)"""
}
