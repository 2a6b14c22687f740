package graft

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.pipeline.MergeLegality

/** J2: the one-pass [[MergeLegality.analyse]] against the checks it
  * replaces, written as plain SQL: a `left_anti` join for new dates
  * and a `lag` histogram over distinct timestamps for each interval. */
class MergeLegalitySpec extends SparkSpec {
  import spark.implicits._

  private val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    .getTime * 1000L
  private val meta = TableMeta(FileInfo.dummy, Seq(VariableMeta("v", "m", "")))
  private val noInterval = "requirement failed: cannot infer interval of " +
    "'ts': fewer than two distinct timestamps"

  /** One side's timestamps as unix micros: ticks of a random step
    * drawn with repeats (duplicates) and holes (gaps), some off the
    * grid by a sub-second or multi-second jitter, and now and then a
    * null. Sizes 0 and 1 and all-equal lists give the single-timestamp
    * cases. */
  private val side: Gen[List[Option[Long]]] = for {
    step <- Gen.oneOf(1L, 60L, 1800L)
    n <- Gen.frequency((1, Gen.choose(0, 1)), (6, Gen.choose(2, 40)))
    width <- Gen.choose(1, 60)
    ts <- Gen.listOfN(n, Gen.frequency(
      (1, Gen.const(None)),
      (20, for {
        k <- Gen.choose(0, width)
        jitter <- Gen.frequency((6, Gen.const(0L)),
          (1, Gen.choose(1L, 999999L)), (1, Gen.choose(1L, 5L * 1000000L)))
      } yield Some(base + k * step * 1000000L + jitter))))
  } yield ts

  private def frame(us: List[Option[Long]]): DataFrame =
    us.map(_.map(java.lang.Long.valueOf).orNull).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"), lit(1.0).as("v"))

  private def sqlMode(view: String): Option[Long] =
    spark.sql(
      s"""WITH d AS (SELECT DISTINCT ts FROM $view WHERE ts IS NOT NULL),
         |s AS (SELECT (unix_micros(ts) - unix_micros(lag(ts) OVER (ORDER BY ts)))
         |  div 1000000 AS delta FROM d)
         |SELECT delta, count(*) AS n FROM s WHERE delta IS NOT NULL
         |GROUP BY delta ORDER BY n DESC, delta LIMIT 1""".stripMargin)
      .as[(Long, Long)].collect().headOption.map(_._1)

  private def expected(m: DataFrame, c: DataFrame)
      : Either[String, MergeLegality.Report] = {
    m.createOrReplaceTempView("legality_master")
    c.createOrReplaceTempView("legality_candidate")
    val newDates = c.join(m, Seq("ts"), "left_anti").count() > 0
    (sqlMode("legality_master"), sqlMode("legality_candidate")) match {
      case (Some(mi), Some(ci)) => Right(MergeLegality.Report(newDates,
        mi == ci, mi, ci, Seq("v"), Nil, Nil, Nil))
      case _ => Left(noInterval)
    }
  }

  private def got(m: DataFrame, c: DataFrame)
      : Either[String, MergeLegality.Report] =
    Try(MergeLegality.analyse(m, meta, c, meta, "ts")).toEither
      .left.map(_.getMessage)

  test("one-pass analyse equals left_anti + lag-histogram SQL at 1 and 7 " +
      "shuffle partitions (J2)") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val p = Prop.forAll(side, side) { (mTs, cTs) =>
      val (m, c) = (frame(mTs), frame(cTs))
      Seq("1", "7").forall { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n)
        val (e, g) = (expected(m, c), got(m, c))
        if (e != g) println(s"partitions=$n master=$mTs candidate=$cTs\n" +
          s"  expected $e\n  got      $g")
        e == g
      }
    }
    try assert(SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(25), p).passed)
    finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("a null candidate timestamp is a new date; equal sets are not (J2)") {
    val ts = List(Some(base), Some(base + 1800000000L), Some(base + 3600000000L))
    val r = MergeLegality.analyse(frame(ts), meta, frame(ts), meta, "ts")
    assert(!r.contributesNewDates && r.sameInterval && r.masterIntervalSec == 1800)
    val withNull = MergeLegality.analyse(frame(ts), meta, frame(None :: ts), meta, "ts")
    assert(withNull.contributesNewDates)
  }
}
