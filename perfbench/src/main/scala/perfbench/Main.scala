package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Paper-path benchmark run: generate a seeded logger network, set up
  * Spark, run the workload's ops for `--seconds`, check every product
  * against the generator's ground truth, and print one JSON result as
  * the last line of stdout.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR` (normally started by `perfbench/run.py`). */
object Main {

  /** Sites x years of half-hourly L1 input, plus 10 Hz TOB3 day-files. */
  val Workloads: Map[String, Gen.Shape] = Map(
    "nightly_network" -> Gen.Shape(sites = 2, years = 1, days = 0, dayRecs = 0),
    "long_record" -> Gen.Shape(sites = 1, years = 4, days = 2, dayRecs = 864000))

  val Layers = Seq("sources", "condition", "merge", "qc", "lake", "vis", "status", "fastdata")

  /** Counts the output checks measure, reported by the traced run. */
  val Counters = Seq("sources.in_mb", "sources.rows_out", "sources.rows_dropped",
    "sources.cells_nulled", "condition.rows_dropped_dup", "condition.rows_filled",
    "qc.cells_masked", "lake.files", "lake.out_mb", "vis.out_mb",
    "fastdata.shards", "fastdata.out_mb")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.keys.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }

  def session(master: String, nproc: Int, work: Path): SparkSession = {
    val s = SparkSession.builder().master(master).appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // bounded status-store retention keeps the live heap independent
      // of how many passes fit in the measured window
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Old-generation occupancy right after a full collection, MB. The
    * first collection lets Spark's cleaner release broadcast and shuffle
    * blocks whose handles died; the second one then measures what is
    * still live. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** One unit of work: a site task, the network status task, or one
    * fast-data day-file. `defectOnly` ops carry only a seeded defect that
    * aborts them today; they count as failed ops but their abort is not
    * a wrong output. */
  final case class Op(name: String, defectOnly: Boolean, run: () => Unit,
      check: () => Seq[String], outputs: Seq[Path])

  final case class Outcome(op: String, pass: Int, ms: Double, error: Option[Throwable],
      problems: Seq[String], defectOnly: Boolean) {
    /** Threw or produced a wrong product. */
    def failedOp: Boolean = error.isDefined || problems.nonEmpty
    /** Wrong, as opposed to an expected abort on a defect-only input. */
    def wrong: Boolean = problems.nonEmpty || (error.isDefined && !defectOnly)
  }

  final case class Loop(passMs: Seq[Double], outcomes: Seq[Outcome], heapMb: Double,
      outBytes: Long, layers: Seq[Map[String, Double]], counters: Map[String, Double],
      spans: Seq[Span])

  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - started) / 1e9}%7.1fs] $msg")

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Exits 0 after printing the result, 1 on any failure (Spark's
    * non-daemon threads must not keep a failed run alive). */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv.toSeq)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(a: Args): Unit = {
    val nproc = Runtime.getRuntime.availableProcessors
    val loadBefore = loadAvg()
    val shape = Workloads(a.workload)
    Ops.deleteTree(a.work)
    Files.createDirectories(a.work)
    val in = a.work.resolve("in")
    val out = a.work.resolve("out")

    // inputs (not part of any metric)
    var spark = session(s"local[$nproc]", nproc, a.work)
    log("generator session up")
    val net = Gen.network(spark, in, shape, a.seed)
    Files.write(a.work.resolve("manifest.json"),
      Gen.manifestJson(net).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    log(s"inputs written: ${net.inBytes >> 20} MB")

    // set-up, three times: session start plus a short warm-up chain
    val setupS = Stats.median((1 to 3).map { i =>
      val t0 = System.nanoTime()
      spark = session(s"local[$nproc]", nproc, a.work)
      warmUp(spark, net, out.resolve("warm"), full = false)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < 3) spark.stop()
      log(f"set-up $i: $dt%.2f s")
      dt
    })

    // the traced run times one untraced pass as its overhead baseline
    val plain = loop(spark, net, out.resolve("run"), if (a.trace) 0 else a.seconds,
      traced = false)
    val traced =
      if (a.trace) Some(loop(spark, net, out.resolve("run"), a.seconds, traced = true))
      else None

    // the traced run also runs the whole warm-up chain at local[nproc]
    // and at local[1]: its products must not depend on the core count
    val sameAtOneCore = !a.trace || {
      warmUp(spark, net, out.resolve("full"), full = true)
      spark.stop()
      spark = session("local[1]", nproc, a.work)
      warmUp(spark, net, out.resolve("serial"), full = true)
      val same = digest(spark, out.resolve("full")) == digest(spark, out.resolve("serial"))
      log(s"local[1] products match local[$nproc]: $same")
      same
    }
    spark.stop()

    val loops = plain +: traced.toSeq
    val outcomes = loops.flatMap(_.outcomes)
    val box = f"""{"box": {"cores": $nproc, "load_before": $loadBefore%.2f, """ +
      f""""load_after": ${loadAvg()}%.2f}}"""
    log(box)
    writeRecord(a, box, outcomes, traced.map(_.spans).getOrElse(Nil))
    outcomes.filter(_.failedOp).groupBy(_.op).foreach { case (op, os) =>
      val o = os.head
      System.err.println(s"perfbench: op $op failed in ${os.size} pass(es): " +
        o.error.map(e => s"${e.getClass.getName}: ${e.getMessage}").getOrElse("") +
        o.problems.mkString("; "))
    }
    val wrong = outcomes.count(_.wrong)
    val metrics = traced match {
      case None => Seq(
        Stats.Metric("setup_s", setupS, "s"),
        Stats.Metric("run_s", Stats.median(plain.passMs) / 1e3, "s"),
        Stats.Metric("ops_failed_frac",
          plain.outcomes.count(_.failedOp).toDouble / plain.outcomes.size, "ratio"),
        Stats.Metric("heap_live_peak_mb", plain.heapMb, "MB"),
        Stats.Metric("out_bytes_per_in_byte", plain.outBytes.toDouble / net.inBytes, "ratio"))
      case Some(t) =>
        val med = Stats.medianByKey(t.layers)
        val units = Map("wall_ms" -> "ms", "job_ms" -> "ms", "driver_ms" -> "ms",
          "jobs" -> "count", "stages" -> "count", "task_s" -> "s", "shuffle_mb" -> "MB",
          "spill_mb" -> "MB", "gc_ms" -> "ms")
        Layers.flatMap(l => units.toSeq.sortBy(_._1).map { case (k, u) =>
          Stats.Metric(s"$l.$k", med.getOrElse(s"$l.$k", 0.0), u) }) ++
        Counters.map(c => Stats.Metric(c, t.counters.getOrElse(c, 0.0),
          if (c.endsWith("_mb")) "MB" else "count")) ++ Seq(
          Stats.Metric("sources.mb_per_core_s", t.counters.getOrElse("sources.mb_per_core_s", 0.0), "MB/s"),
          Stats.Metric("spark.rdds_left_persisted", med.getOrElse("spark.rdds_left_persisted", 0.0), "count"),
          Stats.Metric("op.self_ms", med.getOrElse("op.self_ms", 0.0), "ms"),
          Stats.Metric("trace.overhead_ms",
            Stats.median(t.passMs) - Stats.median(plain.passMs), "ms"))
    }
    Ops.deleteTree(a.work)
    println(Stats.resultLine(wrong == 0 && sameAtOneCore, outcomes.size, wrong, metrics))
  }

  /** The site task's chain on the warm-up met file alone: scan,
    * condition, mask and lake write; `full` adds legality against
    * itself, concat and time merge with a renamed copy, netCDF and the
    * vis extract. Where the workload has fast data, the day-file task on
    * the warm-up day-file too. Written under `dir`. */
  private def warmUp(spark: SparkSession, net: Gen.Network, dir: Path,
      full: Boolean): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.operators.JoinOps
    import graft.pipeline.{L1Pipeline, MergeLegality, VisPipeline}
    val ops = new Ops(spark, new Tracer(None), dir)
    Ops.deleteTree(dir)
    net.warm.foreach { g =>
      val c = L1Pipeline.condition(ops.source(g), "DATETIME", Gen.StepSec, g.table.usecols)
      val merged =
        if (!full) c
        else {
          MergeLegality.analyse(c.df, c.meta, c.df, c.meta, "DATETIME")
          val vars = c.meta.variableNames
          val copy = L1Pipeline.Conditioned(
            c.df.select(col("DATETIME") +: vars.map(v => col(v).as(s"${v}_b")): _*),
            c.meta.withRenames(vars.map(v => v -> s"${v}_b").toMap))
          L1Pipeline.mergeOnTime(Seq(
            c.copy(df = JoinOps.concatWithPrecedence(Seq(c.df, c.df), Seq("DATETIME"))), copy),
            "DATETIME")
        }
      val meta = ops.lakeMeta(merged.meta)
      val lake = dir.resolve("lake").toString
      L1Pipeline.writeLake(L1Pipeline.maskPlausible(merged.copy(meta = meta)), "DATETIME",
        Gen.StepSec, lake, "W01")
      if (full) {
        L1Pipeline.writeNetCdfYear(spark, lake, Gen.LastYear, "W01", 0, 0, Gen.StepSec,
          dir.resolve("W01.nc").toString)
        VisPipeline.buildVisualisationToa5(
          L1Pipeline.Conditioned(L1Pipeline.readLake(spark, lake).drop("year"), meta),
          "DATETIME", Ops.VisTargets, 2.0, Ops.VisPlausible,
          dir.resolve("W01_vis.dat").toString)
      }
    }
    net.warmDay.foreach(d => ops.dayTask(d, dir.resolve("fast")))
  }

  /** What the warm-up chain wrote that must not depend on the core
    * count: the lake's content hash, the shards' names and bytes. */
  private def digest(spark: SparkSession, dir: Path): Seq[Long] = {
    val lake = dir.resolve("lake")
    val crc = new java.util.zip.CRC32
    val shards = Ops.files(dir.resolve("fast")).filter(_.toString.endsWith(".dat"))
      .sortBy(_.getFileName.toString)
    shards.foreach { p =>
      crc.update(p.getFileName.toString.getBytes(StandardCharsets.UTF_8))
      crc.update(Files.readAllBytes(p))
    }
    val lakeHash =
      if (!Files.isDirectory(lake)) Nil
      else {
        val ops = new Ops(spark, new Tracer(None), dir)
        val (n, h) = new Checks(spark, new Tracer(None), ops).lakeHash(lake)
        Seq(n, h)
      }
    lakeHash ++ Seq(shards.size.toLong, crc.getValue)
  }

  private def opsFor(net: Gen.Network, ops: Ops, checks: Checks, out: Path): Seq[Op] = {
    val now = Timestamp.valueOf(java.time.LocalDateTime.of(Gen.LastYear + 1, 1, 2, 0, 0))
    val sites = net.sites.map { s =>
      Op(s.name, s.broken, () => ops.siteTask(s),
        () => if (s.broken) Nil else checks.site(s), Seq(ops.siteDir(s)))
    }
    val status =
      if (net.sites.isEmpty) Nil
      else Seq(Op("status", defectOnly = false, () => ops.statusTask(net.sites, now),
        () => checks.status(net.sites, out.resolve("network")), Seq(out.resolve("network"))))
    var dayResult: Map[String, (Array[(Long, Long)], Seq[String])] = Map.empty
    val days = net.days.map { d =>
      val name = Paths.get(d.path).getFileName.toString
      val dir = ops.dayDir(d)
      Op(name, d.broken, () => dayResult += name -> ops.dayTask(d, dir),
        () => if (d.broken) Nil
          else dayResult.get(name).map { case (st, sh) => checks.day(d, st, sh, dir) }
            .getOrElse(Seq("no result")),
        Seq(dir))
    }
    sites ++ status ++ days
  }

  /** Runs passes over every op until `seconds` of op time have been
    * measured (at least one pass). Only the op calls are timed; the heap
    * probe after each op, the checks after the first pass and the
    * clean-up between passes are not. */
  private def loop(spark: SparkSession, net: Gen.Network, out: Path, seconds: Int,
      traced: Boolean): Loop = {
    val sc = spark.sparkContext
    val listener = if (traced) Some(new JobListener) else None
    listener.foreach(sc.addSparkListener)
    val tr = new Tracer(if (traced) Some(sc) else None)
    val ops = new Ops(spark, tr, out)
    val checks = new Checks(spark, tr, ops)
    val opList = opsFor(net, ops, checks, out)
    val passMs = mutable.ArrayBuffer.empty[Double]
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val allSpans = mutable.ArrayBuffer.empty[Span]
    var heap = 0.0
    var outBytes = 0L
    var counters = Map.empty[String, Double]
    var pass = 0
    while (pass == 0 || passMs.sum / 1e3 < seconds) {
      Ops.deleteTree(out)
      tr.clear(); listener.foreach(_.clear())
      var persisted = 0
      val results = opList.zipWithIndex.map { case (op, i) =>
        tr.op = i
        val s0 = System.nanoTime()
        val err = try { tr.span("op")(op.run()); None }
          catch { case e: Throwable => Some(e) }
        val ms = (System.nanoTime() - s0) / 1e6
        heap = math.max(heap, liveHeapMb())
        persisted = math.max(persisted, sc.getPersistentRDDs.size)
        (op, ms, err)
      }
      passMs += results.map(_._2).sum
      log(f"${if (traced) "traced" else "untraced"} pass $pass: ${passMs.last / 1e3}%.2f s " +
        results.map { case (op, ms, _) => f"${op.name}=${ms / 1e3}%.2f" }.mkString(" "))
      tr.op = -1
      listener.foreach { l =>
        org.apache.spark.perfbench.Bus.drain(sc)
        val spans = tr.spans
        val self = Tracer.selfMs(spans)
        layers += Tracer.layerMetrics(Layers, spans, l.jobs.asScala.toSeq, l.stages.asScala.toSeq) ++
          Map("spark.rdds_left_persisted" -> persisted.toDouble,
            "op.self_ms" -> spans.filter(_.name == "op").map(s => self(s.id)).sum)
      }
      val problems =
        if (pass == 0) {
          outBytes = opList.flatMap(_.outputs).map(Ops.bytes).sum
          val spansBefore = tr.spans.size
          val ps = results.map { case (op, _, err) =>
            if (err.isEmpty) op.check() else Nil }
          listener.foreach { l =>
            org.apache.spark.perfbench.Bus.drain(sc)
            val scanSpans = tr.spans.drop(spansBefore).filter(_.name == "check.sources")
              .map(_.id).toSet
            val scanTaskS = l.stages.asScala.filter(st => scanSpans(st.span)).map(_.taskMs).sum / 1e3
            counters = checks.counters.toMap +
              ("sources.mb_per_core_s" -> checks.counters("sources.in_mb") / math.max(scanTaskS, 1e-3))
          }
          log(s"checks done: ${ps.flatten.size} problem(s)")
          ps
        } else results.map(_ => Nil)
      results.zip(problems).foreach { case ((op, ms, err), ps) =>
        outcomes += Outcome(op.name, pass, ms, err, ps, op.defectOnly)
      }
      allSpans ++= tr.spans
      pass += 1
    }
    Ops.deleteTree(out)
    listener.foreach(sc.removeSparkListener)
    Loop(passMs.toSeq, outcomes.toSeq, heap, outBytes, layers.toSeq, counters, allSpans.toSeq)
  }

  /** Writes every op outcome (with its exception) and, when traced,
    * every span, to `.bench_build/results/` in the working directory. */
  private def writeRecord(a: Args, box: String, outcomes: Seq[Outcome],
      spans: Seq[Span]): Unit = {
    val dir = Paths.get(".bench_build", "results")
    Files.createDirectories(dir)
    val lines = (box +: outcomes.map { o =>
      s"""{"op": ${Stats.jsonString(o.op)}, "pass": ${o.pass}, "ms": ${o.ms}, """ +
      s""""error": ${o.error.map(e => Stats.jsonString(s"${e.getClass.getName}: ${e.getMessage}")).getOrElse("null")}, """ +
      s""""problems": [${o.problems.map(Stats.jsonString).mkString(", ")}]}"""
    }) ++ spans.map(Stats.spanLine)
    Files.write(dir.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
