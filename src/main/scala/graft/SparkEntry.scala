package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{QueryRegistry, Streaming}

/** The query surface `Verify` and `Bench` run — see SURVEY.md §7.
  *
  * Each entry in [[queries]] exercises one operator family from
  * SURVEY.md §2 on the driver's TPC-H-ish parquet corpus, implemented
  * through the graft operator library; [[oracleSql]] carries the
  * equivalent DuckDB SQL for the hash-compare correctness gate. Both
  * are views of [[graft.queries.QueryRegistry]], where each query is
  * declared once, next to its oracle, in its family object under
  * `graft/queries/`.
  *
  * Determinism rules (oracle parity):
  *  - every aggregate double is `rnd()`ed identically on both sides
  *    so summation-order ulp noise can't flip the hash;
  *  - every result has a total ORDER BY on its key columns;
  *  - integer time arithmetic uses `div` (Spark) / `//` (DuckDB), never
  *    float division;
  *  - window orderings always include a unique tiebreak column.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every registered query by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.map(q => q.name -> q.build).toMap

  /** DuckDB-equivalent SQL per query (same column names and ORDER BY). */
  lazy val oracleSql: Map[String, String] =
    QueryRegistry.all.map(q => q.name -> q.oracleSql).toMap

  /** Queries excluded from the benchmark's timed set: the
    * [[graft.queries.Streaming]] family. They still run in Verify's
    * correctness gate. */
  lazy val benchExclude: Set[String] = Streaming.specs.map(_.name).toSet
}
