package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("per-key median over passes ignores keys a pass lacks") {
    val m = Stats.medianByKey(Seq(
      Map("a" -> 1.0, "b" -> 10.0), Map("a" -> 3.0), Map("a" -> 2.0, "b" -> 20.0)))
    assert(m == Map("a" -> 2.0, "b" -> 15.0))
  }

  test("result line is one JSON object with exactly the contract's keys") {
    val line = Stats.resultLine(correct = true, attempted = 12, failed = 0, Seq(
      Stats.Metric("run_s", 12.345678901, "s"),
      Stats.Metric("lake.files", 138, "count"),
      Stats.Metric("odd \"name\"", 0.5, "ratio")))
    assert(!line.contains("\n"))
    val root = new ObjectMapper().readTree(line)
    assert(root.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(root.get("correct").asBoolean && root.get("attempted").asLong == 12 &&
      root.get("failed").asLong == 0)
    val m = root.get("metrics")
    assert(m.get("run_s").get("value").asDouble == 12.345678901)
    assert(m.get("run_s").get("unit").asText == "s")
    assert(m.get("lake.files").get("value").isIntegralNumber)
    assert(m.get("odd \"name\"").get("unit").asText == "ratio")
  }

  test("span lines are JSON") {
    val j = new ObjectMapper().readTree(Stats.spanLine(Span(3, "merge", 1, 0, 1.5, 2.25, 4)))
    assert(j.get("name").asText == "merge" && j.get("end_ms").asDouble == 2.25)
  }
}
