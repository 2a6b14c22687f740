package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.core.TableMeta
import graft.operators.TimeSeriesOps
import graft.operators.TimeSeriesOps.DeltaRun

/** J2 merge-legality analysis (reference:
  * code/file_handling/file_concatenators.py:187-455): before
  * concatenating a candidate file into a master, check that it
  * (a) contributes new dates, (b) has the same inferred interval,
  * (c) shares variables, (d) has equal units modulo the alias table.
  * Reports are data (a case class), not log strings (SURVEY §7.4 #8).
  */
object MergeLegality {

  /** Unit alias groups treated as equal
    * (reference: file_concatenators.py:19-25). */
  val DefaultUnitAliases: Seq[Set[String]] = Seq(
    Set("degC", "C"),
    Set("n", "arb", "samples"),
    Set("m^3/m^3", "fraction"))

  final case class Report(
      contributesNewDates: Boolean,
      sameInterval: Boolean,
      masterIntervalSec: Long,
      candidateIntervalSec: Long,
      commonVariables: Seq[String],
      masterOnlyVariables: Seq[String],
      candidateOnlyVariables: Seq[String],
      unitConflicts: Seq[(String, String, String)]) {
    def legal: Boolean =
      contributesNewDates && sameInterval &&
        commonVariables.nonEmpty && unitConflicts.isEmpty
  }

  def unitsEqual(a: String, b: String,
      aliases: Seq[Set[String]] = DefaultUnitAliases): Boolean =
    a == b || aliases.exists(g => g.contains(a) && g.contains(b))

  /** Analyse candidate vs master. The variable and unit checks read
    * only the catalogs; the three data checks (new dates, master
    * interval, candidate interval) are one Spark action over the two
    * timestamp columns, so each side's upstream plan runs once:
    *
    *  - both columns, tagged with their side, are range-partitioned on
    *    unix micros and sorted within partitions by (micros, side);
    *  - one pass per partition feeds each side's [[DeltaRun]] (the A2
    *    kernel: distinct-step histogram, first and last value)
    *    and flags a candidate timestamp with no equal master timestamp.
    *    Equal values always share a range partition and a master row
    *    sorts before an equal candidate row, so the flag is exact; a
    *    null candidate timestamp counts as a new date, as under a
    *    `left_anti` join;
    *  - the driver collects those partials (bounded by partitions times
    *    distinct steps), adds each side's boundary steps
    *    ([[TimeSeriesOps.boundaryDeltas]]) and takes the mode, ties to
    *    the smallest step, as [[TimeSeriesOps.inferIntervalSeconds]]
    *    does. A side with fewer than two distinct timestamps fails the
    *    same `require`.
    */
  def analyse(master: DataFrame, masterMeta: TableMeta,
      candidate: DataFrame, candidateMeta: TableMeta,
      tsCol: String,
      aliases: Seq[Set[String]] = DefaultUnitAliases): Report = {
    val mVars = masterMeta.variableNames.filterNot(_ == "TIMESTAMP")
    val cVars = candidateMeta.variableNames.filterNot(_ == "TIMESTAMP")
    val common = mVars.intersect(cVars)

    val mUnits = masterMeta.variables.map(v => v.name -> v.units).toMap
    val cUnits = candidateMeta.variables.map(v => v.name -> v.units).toMap
    val conflicts = common.flatMap { v =>
      val (mu, cu) = (mUnits(v), cUnits(v))
      if (unitsEqual(mu, cu, aliases)) None else Some((v, mu, cu))
    }

    val (newDates, mInt, cInt) = timestampChecks(master, candidate, tsCol)
    Report(newDates, mInt == cInt, mInt, cInt, common,
      mVars.diff(cVars), cVars.diff(mVars), conflicts)
  }

  private val Master = 0
  private val Candidate = 1

  /** (contributesNewDates, master interval, candidate interval) in one
    * collect; see [[analyse]]. Partial rows are (kind, side, pid, a, b):
    * kind 0 a histogram entry (step a seen b times), kind 1 a partition
    * boundary (first a, last b), kind 2 the new-date flag. */
  private def timestampChecks(master: DataFrame, candidate: DataFrame,
      tsCol: String): (Boolean, Long, Long) = {
    val spark = master.sparkSession
    import spark.implicits._
    def side(df: DataFrame, s: Int): DataFrame =
      df.select(lit(s).as("side"), unix_micros(col(tsCol)).as("us"))
    val n = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val obs = Observation()
    val partials = side(master, Master)
      .unionAll(side(candidate, Candidate))
      .observe(obs, TimeSeriesOps.nullTsMetric(col("us")))
      .repartitionByRange(n, col("us")).sortWithinPartitions("us", "side")
      .as[(Int, Option[Long])]
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId().toLong
        val runs = Array(new DeltaRun, new DeltaRun)
        var newDate = false
        it.foreach {
          case (s, None) => if (s == Candidate) newDate = true
          case (s, Some(us)) =>
            val m = runs(Master)
            if (s == Candidate && !(m.nonEmpty && m.last == us))
              newDate = true
            runs(s).add(us)
        }
        val flag =
          if (newDate) Iterator((2, Candidate, pid, 0L, 0L)) else Iterator.empty
        Iterator(Master, Candidate).filter(runs(_).nonEmpty).flatMap { s =>
          val r = runs(s)
          r.hist.iterator.map { case (d, k) => (0, s, pid, d, k) } ++
            Iterator((1, s, pid, r.first, r.last))
        } ++ flag
      }.collect()
    TimeSeriesOps.warnNullDrops(obs, "MergeLegality.analyse", tsCol)

    def interval(s: Int): Long = {
      val hist = scala.collection.mutable.LongMap.empty[Long]
      def add(d: Long, k: Long): Unit =
        hist.update(d, hist.getOrElse(d, 0L) + k)
      partials.foreach { case (0, `s`, _, d, k) => add(d, k); case _ => }
      TimeSeriesOps.boundaryDeltas(partials.collect {
        case (1, `s`, pid, first, last) => (pid, first, last) })
        .foreach(add(_, 1L))
      require(hist.nonEmpty,
        s"cannot infer interval of '$tsCol': fewer than two distinct timestamps")
      hist.toSeq.minBy { case (d, k) => (-k, d) }._1
    }
    (partials.exists(_._1 == 2), interval(Master), interval(Candidate))
  }
}
