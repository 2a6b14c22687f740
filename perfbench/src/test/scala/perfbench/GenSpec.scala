package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  // everything the tests write stays under target/ (ignored by git)
  private val scratch = Files.createDirectories(Paths.get("target", "gen-spec"))

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch.resolve("spark").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = {
    spark.stop()
    Ops.deleteTree(scratch)
  }

  private val shape = Gen.Shape(sites = 1, years = 1, days = 1, dayRecs = 7000)

  private def generate(seed: Long): (Path, Gen.Network) = {
    val dir = Files.createTempDirectory(scratch, "gen")
    (dir, Gen.network(spark, dir.resolve("in"), shape, seed))
  }

  private def contents(root: Path): Map[String, Seq[Byte]] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally st.close()
  }

  test("the same seed gives byte-identical inputs and manifest") {
    val (a, netA) = generate(7)
    val (b, netB) = generate(7)
    val (ca, cb) = (contents(a), contents(b))
    assert(ca.keySet == cb.keySet && ca.size == 9)
    ca.foreach { case (k, v) => assert(v == cb(k), s"$k differs") }
    assert(Gen.manifestJson(netA).replace(a.toString, "") ==
      Gen.manifestJson(netB).replace(b.toString, ""))
    val (c, _) = generate(8)
    assert(contents(c).exists { case (k, v) => ca.get(k).exists(_ != v) })
  }

  test("the manifest's line counts and defects match the written files") {
    val (_, net) = generate(11)
    val healthy = net.sites.filterNot(_.broken)
    assert(healthy.size == 1 && net.sites.exists(_.broken) && net.warm.isDefined)
    healthy.flatMap(_.groups.flatMap(_.files)).foreach { f =>
      val header = if (f.table == "ep") 2 else 4
      val lines = Files.readAllLines(java.nio.file.Paths.get(f.path)).size - header
      assert(lines == f.lines, f.path)
      if (!f.path.endsWith(".backup")) {
        assert(Seq("duplicate_rows", "duplicate_timestamps", "garbage_cells",
          "bad_timestamp_rows", "gap_ticks").forall(f.defects(_) > 0), f.path)
        // data lines = grid - gap ticks + duplicates + bad-timestamp rows
        assert(f.lines == f.gridRows - f.gapTicks + f.dupDropped + f.badTs)
      }
    }
    val s = healthy.head
    assert(s.expectRows(Gen.LastYear) == 365 * 48)
    assert(net.days.count(_.broken) == 1)
    net.days.filterNot(_.broken).foreach { d =>
      assert(d.windows.values.sum == d.rows && d.rows < d.written)
    }
  }
}
