package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.v2.Toa5V2

/** DataSource V2 TOA5/EddyPro/TOB scans: literal rows over the field
  * defects, column pruning, and file-level time-range pruning. */
class Toa5V2Spec extends SparkSpec {

  private val header = Seq(
    "\"TOA5\",\"Site\",\"CR1000\",\"1\",\"os\",\"prog\",\"1\",\"Tab\"",
    "\"TIMESTAMP\",\"Ta\",\"RH\"",
    "\"TS\",\"degC\",\"%\"",
    "\"\",\"Avg\",\"Avg\"")

  private def toa5(rows: Seq[String]): String =
    (header ++ rows).mkString("", "\r\n", "\r\n")

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def writeFile(dir: java.nio.file.Path, name: String,
      rows: Seq[String]): String = {
    val p = dir.resolve(name)
    Files.write(p, toa5(rows).getBytes(UTF_8))
    p.toString
  }

  test("toa5 scan gives literal rows for every field defect") {
    val dir = Files.createTempDirectory("toa5v2")
    writeFile(dir, "a.dat", Seq(
      "\"2024-01-01 00:30:00\",1.5,50",
      "\"2024-01-01 01:00:00\",NAN,51",         // NA token
      "\"bad-timestamp\",9,9",                  // D4: row dropped
      "\"2024-01-01 01:30:00\",2.5,garbage",    // D3: cell nulled
      "\"2024-01-01 02:00:00\",,52",            // empty cell
      "",                                       // blank line
      "\"2024-01-01 02:30:00\",3.5") ++         // short row (power loss)
      header ++                                 // header repeated mid-file
      Seq("\"2024-01-01 03:00:00\",4.5,53"))
    val rows = spark.read.format("toa5").load(dir.toString)
      .select("DATETIME", "TIMESTAMP", "Ta", "RH").orderBy("DATETIME")
      .collect().toSeq
    assert(rows == Seq(
      Row(ts("2024-01-01 00:30:00"), "2024-01-01 00:30:00", 1.5, 50.0),
      Row(ts("2024-01-01 01:00:00"), "2024-01-01 01:00:00", null, 51.0),
      Row(ts("2024-01-01 01:30:00"), "2024-01-01 01:30:00", 2.5, null),
      Row(ts("2024-01-01 02:00:00"), "2024-01-01 02:00:00", null, 52.0),
      Row(ts("2024-01-01 02:30:00"), "2024-01-01 02:30:00", 3.5, null),
      Row(ts("2024-01-01 03:00:00"), "2024-01-01 03:00:00", 4.5, 53.0)))
    // Toa5.read is the same scan plus the header catalog
    val parsed = graft.sources.Toa5.read(spark, dir.toString)
    assert(parsed.meta.info.tableName == "Tab")
    assert(parsed.data.select("DATETIME", "TIMESTAMP", "Ta", "RH")
      .orderBy("DATETIME").collect().toSeq == rows)
  }

  test("v2 scan prunes columns to the projection") {
    val dir = Files.createTempDirectory("toa5v2p")
    writeFile(dir, "a.dat", Seq("\"2024-01-01 00:30:00\",1.5,50"))
    val df = spark.read.format("toa5").load(dir.toString).select("Ta")
    // DSv2 BatchScan prints its pruned output attributes: [Ta#N]
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && plan.matches(
      "(?s).*BatchScan[^\\[]*\\[Ta#\\d+\\].*"), plan)
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.5))
  }

  test("file time-span probe and overlap pruning") {
    val dir = Files.createTempDirectory("toa5v2s")
    val jan = writeFile(dir, "jan.dat", Seq(
      "\"2024-01-01 00:30:00\",1,1", "\"2024-01-31 23:30:00\",2,2"))
    val feb = writeFile(dir, "feb.dat", Seq(
      "\"2024-02-01 00:30:00\",3,3", "\"2024-02-28 23:30:00\",4,4"))
    val janSpan = Toa5V2.fileTimeSpan(jan).get
    def micros(s: String) = Toa5V2.parseTsMicros(s,
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    assert(janSpan._1 == micros("2024-01-01 00:30:00"))
    assert(janSpan._2 == micros("2024-01-31 23:30:00"))
    val febOnly = (micros("2024-02-01 00:00:00"), Long.MaxValue)
    assert(!Toa5V2.overlaps(jan, febOnly))
    assert(Toa5V2.overlaps(feb, febOnly))
    // end-to-end: filter past January must still return feb rows only
    val df = spark.read.format("toa5").load(dir.toString)
      .filter(col("DATETIME") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
    assert(df.count() == 2)
    assert(df.agg(min("Ta")).head().getDouble(0) == 3.0)
    // spanPruning=false disables the probe: same rows, no file pruned
    val noPrune = spark.read.format("toa5")
      .option("spanPruning", "false").load(dir.toString)
      .filter(col("DATETIME") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
    assert(noPrune.count() == 2)
  }

  test("non-monotonic file: mid-row excursion survives via spanPruning=false") {
    val dir = Files.createTempDirectory("toa5v2nm")
    // logger clock stepped back mid-file: an interior March row inside
    // a January-spanning file
    writeFile(dir, "odd.dat", Seq(
      "\"2024-01-01 00:30:00\",1,1",
      "\"2024-03-15 12:00:00\",9,9",
      "\"2024-01-31 23:30:00\",2,2"))
    val marchOnly = col("DATETIME") >=
      lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    val noPrune = spark.read.format("toa5")
      .option("spanPruning", "false").load(dir.toString)
      .filter(marchOnly)
    assert(noPrune.count() == 1)
    assert(noPrune.head().getDouble(1) == 9.0)
  }

  test("v2 scan accepts glob paths") {
    val dir = Files.createTempDirectory("toa5v2g")
    writeFile(dir, "a.dat", Seq("\"2024-01-01 00:30:00\",1,1"))
    writeFile(dir, "b.dat", Seq("\"2024-01-01 01:00:00\",2,2"))
    Files.write(dir.resolve("notes.txt"), "not a toa5".getBytes(UTF_8))
    val df = spark.read.format("toa5").load(s"$dir/*.dat")
    assert(df.count() == 2)
    assert(Toa5V2.listFiles(s"$dir/*.dat").map(
      p => p.substring(p.lastIndexOf('/') + 1)) == Seq("a.dat", "b.dat"))
  }

  test("v2 scan reads EddyPro files (date+time DATETIME)") {
    val dir = Files.createTempDirectory("toa5v2e")
    val content =
      "DATAH\tfilename\tdate\ttime\tco2_flux\n" +
      "DATAU\t\t[yyyy-mm-dd]\t[HH:MM]\tumol+1m-2s-1\n" +
      "DATA\tf.txt\t2024-01-01\t10:30\t1.25\n" +
      "DATA\tf.txt\tbad-date\t99:99\t2.0\n" +
      "DATA\tf.txt\t2024-01-01\t11:00\tNaN\n" +
      "DATA\tf.txt\t2024-01-01\t11:30\tgarbage\n"
    Files.write(dir.resolve("ep.txt"), content.getBytes(UTF_8))
    val df = spark.read.format("toa5").load(dir.toString)
    assert(df.columns.toSeq ==
      Seq("DATAH", "filename", "date", "time", "co2_flux", "DATETIME"))
    // bad date/time row dropped; NaN token and garbage -> null
    assert(df.orderBy("DATETIME").collect().toSeq == Seq(
      Row("DATA", "f.txt", "2024-01-01", "10:30", 1.25, ts("2024-01-01 10:30:00")),
      Row("DATA", "f.txt", "2024-01-01", "11:00", null, ts("2024-01-01 11:00:00")),
      Row("DATA", "f.txt", "2024-01-01", "11:30", null, ts("2024-01-01 11:30:00"))))
  }

  test("tob scan gives literal rows and prunes columns") {
    val dir = Files.createTempDirectory("tobv2")
    val base = ts("2024-01-01 00:00:00").getTime * 1000L
    graft.sources.Tob.writeTob1(s"$dir/a.dat",
      Seq("TOB1", "Site", "CR6", "1", "os", "prog", "1", "Fast"),
      Seq("Ux", "Uy"),
      (0 until 100).map(i => (base + i * 100000L,
        Seq(i.toFloat, -i.toFloat))))
    val tob1 = graft.sources.Tob.read(spark, dir.toString)
    assert(tob1.meta.info.tableName == "Fast")
    assert(tob1.data.orderBy("DATETIME").collect().toSeq ==
      (0 until 100).map(i => Row(new java.sql.Timestamp(base / 1000 + i * 100L),
        i.toFloat, -i.toFloat)))

    // TOB3 of 25 records, 10 per frame: frame 1 carries a bad
    // validation stamp, frame 2 is minor, and the frames are stored
    // 2, 0, 1 (a ring-buffer wrap)
    val dir3 = Files.createTempDirectory("tob3v2")
    val base3 = ts("2024-06-01 00:00:00").getTime * 1000L
    graft.sources.Tob.writeTob3(s"$dir3/in.dat",
      Seq("TOB3", "Site", "CR3000", "1", "os", "prog", "1"), "fast",
      Seq("Ux"), (0 until 25).map(i => Seq(i.toFloat)), base3, 100000L, 10,
      corruptFrames = Set(1))
    val bytes = Files.readAllBytes(dir3.resolve("in.dat"))
    Files.delete(dir3.resolve("in.dat"))
    val frame = 12 + 10 * 4 + 4
    val hdrLen = bytes.length - 3 * frame
    def f(i: Int) = bytes.slice(hdrLen + i * frame, hdrLen + (i + 1) * frame)
    Files.write(dir3.resolve("a.dat"), bytes.take(hdrLen) ++ f(2) ++ f(0) ++ f(1))
    val tob3 = spark.read.format("tob").load(dir3.toString)
    assert(tob3.columns.toSeq == Seq("DATETIME", "RECORD", "Ux"))
    assert(tob3.collect().toSeq ==
      ((0 until 10) ++ (20 until 25)).map(r => Row(
        new java.sql.Timestamp(base3 / 1000 + r * 100L), r.toLong, r.toFloat)))

    val pruned = spark.read.format("tob").load(dir.toString).select("Uy")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*BatchScan[^\\[]*\\[Uy#\\d+\\].*"), plan)
    assert(pruned.agg(min("Uy")).head().getFloat(0) == -99.0f)
  }

  test("filters remain correct when probe keeps extra files") {
    val dir = Files.createTempDirectory("toa5v2f")
    writeFile(dir, "a.dat", Seq(
      "\"2024-01-01 00:30:00\",1,1", "\"2024-03-01 00:30:00\",5,5"))
    // file spans the filter range boundary — rows above the cut must
    // still be filtered by Spark's residual filter
    val df = spark.read.format("toa5").load(dir.toString)
      .filter(col("DATETIME") < lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")))
    assert(df.count() == 1)
  }
}
