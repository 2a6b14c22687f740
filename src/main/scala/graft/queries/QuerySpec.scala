package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: `build` runs it through the graft operator
  * library over an sf directory of the TPC-H-style parquet corpus, and
  * `oracleSql` is the DuckDB SQL that must give the same rows (same
  * column names, total ORDER BY). */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String)

/** A query family: each query body is followed by its [[spec]], so a
  * query and its oracle sit side by side. Oracle strings are built when
  * the family object initialises; a helper they use must be declared
  * above the first `spec` that reads it. */
abstract class QueryFamily {
  private val declared = Vector.newBuilder[QuerySpec]

  protected final def spec(name: String,
      build: (SparkSession, String) => DataFrame, oracleSql: String): Unit =
    declared += QuerySpec(name, build, oracleSql)

  /** This family's queries in declaration order. */
  final lazy val specs: Vector[QuerySpec] = declared.result()
}

/** The single registration point for every query: the family objects'
  * specs, checked once. `SparkEntry.queries`, `oracleSql` and
  * `benchExclude` are views of [[all]]. */
object QueryRegistry {

  /** Checks a spec list: names unique, every oracle non-blank. Throws
    * `IllegalArgumentException` naming the offending queries. */
  def register(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val blank = specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    require(blank.isEmpty, s"blank oracle SQL for: ${blank.mkString(", ")}")
    val dup = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query name(s): ${dup.toSeq.sorted.mkString(", ")}")
    specs
  }

  lazy val all: Seq[QuerySpec] = register(
    Seq(TimeSeries, Sources, Pipeline, Text, Sim, Media, Streaming)
      .flatMap(_.specs))
}
