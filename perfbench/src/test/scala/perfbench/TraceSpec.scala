package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, name: String, parent: Int, a: Double, b: Double, gc: Long = 0) =
    Span(id, name, parent, op = 0, startMs = a, endMs = b, gcMs = gc)

  test("interval union merges overlaps, keeps gaps, clips to the window") {
    assert(Tracer.unionLength(Nil, 0, 100) == 0.0)
    assert(Tracer.unionLength(Seq((10.0, 20.0), (15.0, 30.0), (40.0, 50.0)), 0, 100) == 30.0)
    // nested and touching intervals count once
    assert(Tracer.unionLength(Seq((0.0, 10.0), (2.0, 3.0), (10.0, 12.0)), 0, 100) == 12.0)
    // clipped at both ends; an interval outside the window counts nothing
    assert(Tracer.unionLength(Seq((-5.0, 5.0), (95.0, 120.0), (200.0, 300.0)), 0, 100) == 10.0)
    // order of the input does not matter
    assert(Tracer.unionLength(Seq((40.0, 50.0), (10.0, 20.0), (15.0, 30.0)), 0, 100) == 30.0)
  }

  test("self time subtracts the union of direct children only") {
    val spans = Seq(
      span(0, "op", -1, 0, 100),
      span(1, "merge", 0, 10, 40),
      span(2, "lake", 0, 30, 60),          // overlaps its sibling
      span(3, "merge.detail", 1, 12, 20),  // grandchild of op
      span(4, "vis", 0, 90, 110))          // runs past its parent's end
    val self = Tracer.selfMs(spans)
    assert(self(0) == 100 - (60 - 10) - (100 - 90))
    assert(self(1) == 30 - 8)
    assert(self(2) == 30)
    assert(self(3) == 8)
    assert(self(4) == 20)
  }

  test("layer metrics: job time is the union of the layer's job intervals") {
    val spans = Seq(
      span(0, "op", -1, 0, 1000),
      span(1, "condition", 0, 0, 400, gc = 7),
      span(2, "inner", 1, 100, 300),
      span(3, "lake", 0, 400, 1000, gc = 3),
      span(4, "op", -1, 1000, 1500),
      span(5, "condition", 4, 1000, 1200))
    val jobs = Seq(
      JobRec(0, 1, 50, 150),    // in condition
      JobRec(1, 2, 120, 200),   // in condition's child, overlapping job 0
      JobRec(2, 3, 500, 700),   // in lake
      JobRec(3, 5, 1100, 1150), // second op's condition
      JobRec(4, -1, 0, 10))     // outside any span: unattributed
    val stages = Seq(
      StageRec(1, 300, 2 * 1048576L, 0),
      StageRec(2, 200, 0, 1048576L),
      StageRec(3, 1000, 0, 0))
    val m = Tracer.layerMetrics(Seq("condition", "lake", "vis"), spans, jobs, stages)
    assert(m("condition.wall_ms") == 600)
    assert(m("condition.job_ms") == 150 + 50)
    assert(m("condition.driver_ms") == 400)
    assert(m("condition.jobs") == 3)
    assert(m("condition.stages") == 2)
    assert(m("condition.task_s") == 0.5)
    assert(m("condition.shuffle_mb") == 2.0)
    assert(m("condition.spill_mb") == 1.0)
    assert(m("condition.gc_ms") == 7)
    assert(m("lake.job_ms") == 200 && m("lake.driver_ms") == 400 && m("lake.task_s") == 1.0)
    assert(m("vis.wall_ms") == 0 && m("vis.jobs") == 0)
  }

  test("a layer span nested in another layer span counts towards the outer one") {
    val spans = Seq(span(0, "lake", -1, 0, 100), span(1, "lake", 0, 10, 20),
      span(2, "vis", 0, 30, 40))
    val m = Tracer.layerMetrics(Seq("lake", "vis"), spans,
      Seq(JobRec(0, 1, 12, 18), JobRec(1, 2, 30, 35)), Nil)
    assert(m("lake.wall_ms") == 100 && m("lake.jobs") == 2 && m("lake.job_ms") == 11)
    assert(m("vis.wall_ms") == 0)
  }
}
