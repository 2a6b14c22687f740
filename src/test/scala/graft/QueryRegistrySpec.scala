package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QueryRegistry, QuerySpec}

/** The query registry's invariants, checked without a SparkSession:
  * declaring the specs runs no query. */
class QueryRegistrySpec extends AnyFunSuite {

  test("164 specs with unique qNN_snake_case names") {
    val names = QueryRegistry.all.map(_.name)
    assert(names.size == 164)
    assert(names.distinct.size == 164)
    assert(names.forall(_.matches("q\\d+_[a-z0-9_]+")), names)
  }

  test("queries and oracleSql carry the same names") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == QueryRegistry.all.map(_.name).toSet)
  }

  test("every oracle is non-blank") {
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty)
  }

  test("benchExclude is the streaming family") {
    assert(SparkEntry.benchExclude == Set(
      "q56_streaming_append", "q67_stateful_gaps", "q86_streaming_dedup",
      "q95_streaming_near_dedup", "q96_streaming_near_dedup_audit",
      "q97_bloom_dedup", "q123_streaming_interleave",
      "q127_streaming_token_interleave", "q134_streaming_budget",
      "q145_streaming_vocab", "q149_streaming_hll", "q150_streaming_cm",
      "q152_streaming_rank", "q162_streaming_image_neardup",
      "q164_streaming_audio_neardup"))
  }

  test("registration rejects a duplicate name or a blank oracle") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val a = QuerySpec("q01_a", build, "SELECT 1 AS x")
    assert(QueryRegistry.register(Seq(a)) == Seq(a))
    val dup = intercept[IllegalArgumentException] {
      QueryRegistry.register(Seq(a, a.copy(oracleSql = "SELECT 2 AS x")))
    }
    assert(dup.getMessage.contains("q01_a"))
    val blank = intercept[IllegalArgumentException] {
      QueryRegistry.register(Seq(a.copy(name = "q02_b", oracleSql = " \n ")))
    }
    assert(blank.getMessage.contains("q02_b"))
  }
}
