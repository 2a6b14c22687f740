package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.core.FileFormat
import graft.sources.Toa5

class Toa5Spec extends SparkSpec {

  /** Minimal TOA5 fixture from FIXTURES.md §1 (4 header lines,
    * quoted fields, NAN token, end-labelled 30-min timestamps). */
  private val fixture: String = Seq(
    """"TOA5","TestSite","CR1000","9999","cr1000.std.99.99","CPU:prog.cr1","1234","slow_table"""",
    """"TIMESTAMP","Fco2_EP","Ta_HMP_Avg","RH_HMP_Avg","ps_Avg","Precip_Tot"""",
    """"TS","umol/m^2/s","degC","percent","kPa","mm"""",
    """"","Avg","Avg","Avg","Avg","Tot"""",
    """"2024-01-01 00:30:00",1.23,21.5,45.2,101.3,0""",
    """"2024-01-01 01:00:00",NAN,21.1,46.0,101.2,0.2""",
    """"2024-01-01 01:00:00",NAN,21.1,46.0,101.2,0.2""",   // D1 dup row
    """"2024-01-01 02:00:00",2.5,garbage,44.0,101.1,0""",  // D3 coercion
    """"not-a-date",9.9,9.9,9.9,9.9,9.9"""                  // D4 bad ts
  ).mkString("\r\n") + "\r\n"

  private def writeFixture(): Path = {
    val dir = Files.createTempDirectory("toa5")
    val f = dir.resolve("TestSite_slow_table.dat")
    Files.write(f, fixture.getBytes(StandardCharsets.UTF_8))
    f
  }

  test("format sniff detects TOA5 vs EddyPro (S3)") {
    assert(FileFormat.detect("\"TOA5\",\"x\"").map(_.name).contains("TOA5"))
    assert(FileFormat.detect("DATAH\tfile").map(_.name).contains("EddyPro"))
    assert(FileFormat.detect("garbage,line").isEmpty)
  }

  test("header probe builds schema and catalog (S4/S5)") {
    val f = writeFixture()
    val (fmt, header) = Toa5.probeHeader(f.toString)
    val meta = Toa5.parseHeader(fmt, header)
    assert(meta.info.stationName == "TestSite")
    assert(meta.info.tableName == "slow_table")
    assert(meta.variableNames ==
      Seq("TIMESTAMP", "Fco2_EP", "Ta_HMP_Avg", "RH_HMP_Avg", "ps_Avg",
        "Precip_Tot"))
    assert(meta.variables.find(_.name == "Fco2_EP").get.units == "umol/m^2/s")
    assert(meta.variables.find(_.name == "Precip_Tot").get.sampling == "Tot")
  }

  test("scan drops bad timestamps, coerces garbage, keeps NA null (S1/D3/D4)") {
    val f = writeFixture()
    val parsed = Toa5.read(spark, f.toString)
    val rows = parsed.data.orderBy("DATETIME").collect()
    assert(rows.length == 4) // bad-ts row dropped, dup kept (D1 is an operator)
    val r2 = rows(1)
    assert(r2.isNullAt(r2.fieldIndex("Fco2_EP")))  // NAN token -> null
    val r4 = rows(3)
    assert(r4.isNullAt(r4.fieldIndex("Ta_HMP_Avg"))) // garbage -> null
    assert(r4.getDouble(r4.fieldIndex("RH_HMP_Avg")) == 44.0)
  }

  test("write/read round-trip is value-stable (K1/K2/D6)") {
    val f = writeFixture()
    val parsed = Toa5.read(spark, f.toString)
    val conditioned = parsed.data.dropDuplicates()
      .drop("TIMESTAMP")
    val out = Files.createTempDirectory("toa5w").resolve("out.dat")
    Toa5.write(conditioned, parsed.meta, out.toString)

    val lines = Files.readAllLines(out)
    assert(lines.get(0).startsWith("\"TOA5\",\"TestSite\""))
    assert(lines.get(1).contains("\"TIMESTAMP\""))
    val back = Toa5.read(spark, out.toString)
    assert(back.data.count() == 3)
    val r = back.data.orderBy("DATETIME").collect()(1)
    assert(r.isNullAt(r.fieldIndex("Fco2_EP"))) // NAN survives round-trip
  }

  test("EddyPro write/read round-trip (S2/K3)") {
    val f = writeFixture()
    val parsed = Toa5.read(spark, f.toString)
    val frame = parsed.data.dropDuplicates().drop("TIMESTAMP")
    val out = Files.createTempDirectory("ep").resolve("x_EP-Summary.txt")
    Toa5.writeEddyPro(frame, parsed.meta, out.toString, "x_EP-Summary.txt")
    val lines = Files.readAllLines(out)
    assert(lines.get(0).startsWith("DATAH\tfilename\tdate\ttime\t"))
    assert(lines.get(1).startsWith("DATAU\t"))
    val back = Toa5.read(spark, out.toString)
    assert(back.meta.info == graft.core.FileInfo.dummy) // no info line
    assert(back.data.count() == 3)
    val r = back.data.orderBy("DATETIME").collect()(1)
    assert(r.isNullAt(r.fieldIndex("Fco2_EP"))) // NaN token round-trips
    assert(r.getDouble(r.fieldIndex("RH_HMP_Avg")) == 46.0)
  }

  test("writer enforces header/data consistency (D6)") {
    val f = writeFixture()
    val parsed = Toa5.read(spark, f.toString)
    val dropped = parsed.data.drop("TIMESTAMP", "ps_Avg")
    val out = Files.createTempDirectory("toa5e").resolve("bad.dat")
    val ex = intercept[IllegalArgumentException] {
      Toa5.write(dropped, parsed.meta, out.toString)
    }
    assert(ex.getMessage.contains("ps_Avg"))
  }

  test("header probe names a file cut inside its header block (S4)") {
    val lines = fixture.split("\r\n").toSeq
    val dir = Files.createTempDirectory("toa5t")
    Seq(0, 1, 2).foreach { n =>
      val f = dir.resolve(s"cut$n.dat")
      Files.write(f, lines.take(n).map(_ + "\r\n").mkString
        .getBytes(StandardCharsets.UTF_8))
      val ex = intercept[IllegalArgumentException](Toa5.probeHeader(f.toString))
      assert(ex.getMessage == s"truncated TOA5 header in $f: $n of 4 lines")
    }
    // a complete header block with no data rows is not truncated
    val headerOnly = dir.resolve("header.dat")
    Files.write(headerOnly, lines.take(4).map(_ + "\r\n").mkString
      .getBytes(StandardCharsets.UTF_8))
    assert(Toa5.probeHeader(headerOnly.toString)._2.length == 4)
  }
}
