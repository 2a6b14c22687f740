package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are milliseconds on one monotonic clock
  * aligned with the epoch (see [[Tracer.nowMs]]), so they compare with
  * the epoch-millisecond times Spark stamps on its job events. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, endMs: Double, gcMs: Long) {
  def durMs: Double = endMs - startMs
}

/** One Spark job as the listener saw it, attributed to the span that
  * was open on the driver thread when the job was submitted. */
final case class JobRec(jobId: Int, span: Int, startMs: Double, endMs: Double)

/** Task metrics of one completed stage, attributed like its job. */
final case class StageRec(span: Int, taskMs: Long, shuffleBytes: Long,
    spillBytes: Long)

/** Collects job intervals and stage metrics. Attribution rides on the
  * `perfbench.span` local property the [[Tracer]] sets, so it does not
  * depend on event timing. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(q => Option(q.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = spanOf(e.properties)
    open.put(e.jobId, (span, e.time))
    e.stageInfos.foreach(s => stageSpan.putIfAbsent(s.stageId, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (span, start) =>
      jobs.add(JobRec(e.jobId, span, start.toDouble, e.time.toDouble))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val m = info.taskMetrics
    if (m != null)
      stages.add(StageRec(stageSpan.getOrDefault(info.stageId, -1),
        m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled))
  }

  def clear(): Unit = { jobs.clear(); stages.clear() }
}

/** Span recorder. Spans live in memory until the run writes them out.
  * With `sc = None` tracing is off and [[span]] only runs its body. */
final class Tracer(sc: Option[SparkContext]) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def spans: Seq[Span] = buf.toSeq

  def span[A](name: String)(body: => A): A = sc match {
    case None => body
    case Some(ctx) =>
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      ctx.setLocalProperty(Tracer.SpanProperty, id.toString)
      val gc0 = Tracer.gcMs(); val t0 = Tracer.nowMs()
      try body
      finally {
        val t1 = Tracer.nowMs()
        buf += Span(id, name, parent, op, t0, t1, Tracer.gcMs() - gc0)
        stack = stack.tail
        ctx.setLocalProperty(Tracer.SpanProperty,
          stack.headOption.map(_.toString).orNull)
      }
  }

  /** Drops the recorded spans; ids keep counting, so spans written out
    * from several passes stay distinct. */
  def clear(): Unit = buf.clear()
}

object Tracer {
  val SpanProperty = "perfbench.span"

  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Epoch-aligned monotonic milliseconds. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** Total collection time of every JVM collector so far. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Length of the union of closed intervals, each clipped to
    * [lo, hi]. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> (s.durMs - unionLength(kids, s.startMs, s.endMs))
    }.toMap
  }

  /** Outermost span (itself or an ancestor) whose name is in `names`. */
  def enclosing(spans: Seq[Span], names: Set[String]): Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    def up(id: Int, found: Option[Int]): Option[Int] = byId.get(id) match {
      case Some(s) => up(s.parent, if (names(s.name)) Some(s.id) else found)
      case None => found
    }
    spans.flatMap(s => up(s.id, None).map(s.id -> _)).toMap
  }

  /** Per-layer metrics of one traced pass. A layer span is an outermost
    * span carrying a layer's name; jobs and stages count towards it
    * when they were submitted inside it or inside any descendant. */
  def layerMetrics(layers: Seq[String], spans: Seq[Span],
      jobs: Seq[JobRec], stages: Seq[StageRec]): Map[String, Double] = {
    val owner = enclosing(spans, layers.toSet)
    val layerSpans = spans.filter(s => owner.get(s.id).contains(s.id))
    val jobsBySpan = jobs.groupBy(j => owner.getOrElse(j.span, -1))
    val stagesBySpan = stages.groupBy(s => owner.getOrElse(s.span, -1))
    layers.flatMap { l =>
      val ss = layerSpans.filter(_.name == l)
      val wall = ss.map(_.durMs).sum
      val jobMs = ss.map { s =>
        unionLength(jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs, j.endMs)),
          s.startMs, s.endMs)
      }.sum
      val js = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      val st = ss.flatMap(s => stagesBySpan.getOrElse(s.id, Nil))
      Seq(
        s"$l.wall_ms" -> wall,
        s"$l.job_ms" -> jobMs,
        s"$l.driver_ms" -> (wall - jobMs),
        s"$l.jobs" -> js.size.toDouble,
        s"$l.stages" -> st.size.toDouble,
        s"$l.task_s" -> st.map(_.taskMs).sum / 1e3,
        s"$l.shuffle_mb" -> st.map(_.shuffleBytes).sum / 1048576.0,
        s"$l.spill_mb" -> st.map(_.spillBytes).sum / 1048576.0,
        s"$l.gc_ms" -> ss.map(_.gcMs).sum.toDouble)
    }.toMap
  }
}
