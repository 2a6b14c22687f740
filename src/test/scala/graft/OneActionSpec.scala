package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator

import graft.core.{FileInfo, TableMeta, VariableMeta}
import graft.pipeline.{L1Pipeline, MergeLegality}
import graft.pipeline.L1Pipeline.Conditioned
import graft.sources.Toa5

/** The eager call sites on the L1 site chain each run one Spark action
  * and evaluate their source rows once: the source frames carry a
  * counting UDF, and a [[QueryExecutionListener]] counts the actions. */
class OneActionSpec extends SparkSpec {

  private val meta =
    TableMeta(FileInfo.dummy, Seq(VariableMeta("Ta", "degC", "Avg")))

  /** `n` half-hourly rows scanned from parquet, as the lake and the
    * logger sources are, whose timestamp passes through a UDF that adds
    * one to `acc` per evaluation; ids start at `offset`. A scan keeps
    * the row count unknown to the optimizer, as in the pipeline (over
    * a local range it would drop the writers' limit as redundant). */
  private def source(acc: LongAccumulator, n: Int, offset: Int): DataFrame = {
    val dir = Files.createTempDirectory("tap").resolve("ids").toString
    spark.range(offset, offset + n).write.parquet(dir)
    val tap = udf { (id: Long) => acc.add(1L); id }.asNondeterministic()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:30:00").getTime * 1000L
    spark.read.parquet(dir)
      .select(timestamp_micros(lit(t0) + tap(col("id")) * 1800000000L)
        .as("DATETIME"), (col("id") % 7).cast("double").as("Ta"))
  }

  /** As the site chain conditions it: dedup shuffles, then regularize. */
  private def conditioned(acc: LongAccumulator, n: Int, offset: Int) =
    L1Pipeline.condition(Conditioned(source(acc, n, offset), meta),
      "DATETIME", 1800, Map("Ta" -> "Ta"))

  /** The number of actions (query executions) `body` runs. */
  private def actions(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        n.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        n.incrementAndGet()
    }
    TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try { body; TestBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    n.get
  }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("MergeLegality.analyse: one action, each source row once, nothing " +
      "left persisted (J2)") {
    val acc = spark.sparkContext.longAccumulator
    val master = conditioned(acc, 300, 0)
    val candidate = conditioned(acc, 200, 250)
    val before = persisted
    var r: MergeLegality.Report = null
    assert(actions {
      r = MergeLegality.analyse(master.df, master.meta, candidate.df,
        candidate.meta, "DATETIME")
    } == 1)
    assert(acc.value == 500L)
    assert(r.legal && r.masterIntervalSec == 1800 && r.candidateIntervalSec == 1800)
    assert(persisted == before)
  }

  // A plain source: `condition` itself reads its input twice per
  // execution (regularize's min/max branch), which is not writeLake's.
  test("writeLake: the write is its only action, each source row once (K4)") {
    val acc = spark.sparkContext.longAccumulator
    val c = Conditioned(source(acc, 400, 0), meta)
    val dir = Files.createTempDirectory("lake1").toString
    assert(actions(L1Pipeline.writeLake(c, "DATETIME", 1800, dir, "S")) == 1)
    assert(acc.value == 400L)
  }

  test("Toa5.write: one action, each source row once (K1)") {
    val acc = spark.sparkContext.longAccumulator
    val df = source(acc, 500, 0)
    val out = Files.createTempDirectory("toa5one").resolve("x.dat")
    val m = meta.copy(variables = VariableMeta("TIMESTAMP", "TS", "") +: meta.variables)
    assert(actions(Toa5.write(df, m, out.toString)) == 1)
    assert(acc.value == 500L)
    assert(Files.readAllLines(out).size == 4 + 500)
  }
}
