package graft

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.catalog.{SiteCatalog, VariableCatalog}
import graft.core.VariableMeta
import graft.functions.Solar
import graft.operators.ProfileOps

class CatalogProfileSpec extends SparkSpec {
  import spark.implicits._

  private def vm(n: String) = VariableMeta(n, "arb", "Avg")

  test("P6/J7 nearest-height selection with instrument preference") {
    val entries = VariableCatalog.parse(Seq(
      vm("Ta_HMP_2m_Av"), vm("Ta_HMP_10m_Av"), vm("Ta_RTD_4m_Av")))
    val pick = VariableCatalog.nearestHeight(entries, "Ta", 5.0,
      Some("HMP"))
    assert(pick.map(_.name).contains("Ta_HMP_2m_Av")) // same-inst wins
    val any = VariableCatalog.nearestHeight(entries, "Ta", 5.0, None)
    assert(any.map(_.name).contains("Ta_RTD_4m_Av"))  // global argmin
  }

  test("P8 suffix normalisation strips systems/process/heights") {
    val entries = VariableCatalog.parse(Seq(
      vm("Fco2_EP"), vm("Ta_HMP_2m_Av"), vm("Wd_SONIC_Av"),
      vm("Sws_30cm_Av")))
    val r = VariableCatalog.normalisationRenames(entries)
    assert(r("Fco2_EP") == "Fco2")
    assert(r("Ta_HMP_2m_Av") == "Ta_HMP")
    assert(r("Wd_SONIC_Av") == "Wd")
    assert(r("Sws_30cm_Av") == "Sws_30cm")  // soil keeps depth
  }

  test("P9 generic names index height-sorted replicate groups") {
    val entries = VariableCatalog.parse(Seq(
      vm("Sws_30cm_Av"), vm("Sws_10cm_Av"), vm("Ts_5cm_Av")))
    val g = VariableCatalog.genericNames(entries, Set("Sws", "Ts"))
    assert(g("Sws_10cm_Av") == "Sws_1") // shallower first
    assert(g("Sws_30cm_Av") == "Sws_2")
    assert(g("Ts_5cm_Av") == "Ts")      // singleton keeps bare quantity
  }

  test("S13 site catalog YAML mirror parse + F24 offset") {
    val yaml =
      """# mirror
        |AliceSpringsMulga:
        |  latitude: -22.283
        |  longitude: 133.249
        |  elevation: 606.0
        |  time_step: 30
        |  freq_hz: 10
        |  timezone: Australia/Darwin
        |  UTC_offset: 9.5
        |Boyagin:
        |  latitude: -32.477
        |  longitude: 116.939
        |  time_step: 30
        |""".stripMargin
    val sites = SiteCatalog.fromYaml(yaml)
    assert(sites.map(_.name) == Seq("AliceSpringsMulga", "Boyagin"))
    val alice = sites.head
    assert(alice.latitude == -22.283 && alice.utcOffsetHours == 9.5)
    assert(SiteCatalog.standardUtcOffsetHours("Australia/Darwin") == 9.5)
  }

  test("F24 lat/lon -> timezone lookup across the AU footprint") {
    import SiteCatalog.auTimeZone
    // one coordinate per jurisdiction (capitals / well-inside points)
    assert(auTimeZone(-31.95, 115.86).contains("Australia/Perth"))
    assert(auTimeZone(-12.46, 130.84).contains("Australia/Darwin"))
    assert(auTimeZone(-23.70, 133.88).contains("Australia/Darwin"))
    assert(auTimeZone(-34.93, 138.60).contains("Australia/Adelaide"))
    assert(auTimeZone(-27.47, 153.03).contains("Australia/Brisbane"))
    assert(auTimeZone(-25.0, 139.5).contains("Australia/Brisbane")) // QLD SW
    assert(auTimeZone(-33.87, 151.21).contains("Australia/Sydney"))
    assert(auTimeZone(-37.81, 144.96).contains("Australia/Sydney")) // VIC
    assert(auTimeZone(-42.88, 147.33).contains("Australia/Hobart"))
    assert(auTimeZone(51.5, -0.1).isEmpty) // outside the domain
    // the standard offsets of every returned zone resolve via F24
    Seq("Australia/Perth" -> 8.0, "Australia/Darwin" -> 9.5,
      "Australia/Adelaide" -> 9.5, "Australia/Brisbane" -> 10.0,
      "Australia/Sydney" -> 10.0, "Australia/Hobart" -> 10.0)
      .foreach { case (z, off) =>
        assert(SiteCatalog.standardUtcOffsetHours(z) == off) }
    // catalog value wins over the coordinate lookup
    assert(SiteCatalog.resolveTimeZone(Some("Australia/Broken_Hill"),
      -31.95, 141.46).contains("Australia/Broken_Hill"))
    assert(SiteCatalog.resolveTimeZone(None, -31.95, 115.86)
      .contains("Australia/Perth"))
  }

  test("F24 polygon table: per-border cases either side of each edge") {
    import SiteCatalog.auTimeZone
    // WA/NT border (129°E)
    assert(auTimeZone(-15.0, 128.9).contains("Australia/Perth"))
    assert(auTimeZone(-15.0, 129.1).contains("Australia/Darwin"))
    // NT/SA border (26°S)
    assert(auTimeZone(-25.9, 133.0).contains("Australia/Darwin"))
    assert(auTimeZone(-26.1, 133.0).contains("Australia/Adelaide"))
    // SA/QLD border (26°S, 138–141°E)
    assert(auTimeZone(-25.9, 139.5).contains("Australia/Brisbane"))
    assert(auTimeZone(-26.1, 139.5).contains("Australia/Adelaide"))
    // QLD/SA east border (141°E, 26–29°S)
    assert(auTimeZone(-28.0, 140.9).contains("Australia/Adelaide"))
    assert(auTimeZone(-28.0, 141.1).contains("Australia/Brisbane"))
    // Cameron Corner line (29°S)
    assert(auTimeZone(-28.9, 145.0).contains("Australia/Brisbane"))
    assert(auTimeZone(-29.1, 145.0).contains("Australia/Sydney"))
    // QLD/NSW coastal river border: Byron Bay band is NSW (the old
    // flat -29 approximation mislabeled it Brisbane), Gold Coast QLD
    assert(auTimeZone(-28.64, 153.61).contains("Australia/Sydney"))
    assert(auTimeZone(-28.00, 153.43).contains("Australia/Brisbane"))
    // Broken Hill pocket: ACST inside NSW; neighbours resolve NSW
    assert(auTimeZone(-31.95, 141.45).contains("Australia/Broken_Hill"))
    assert(auTimeZone(-29.43, 142.01).contains("Australia/Sydney")) // Tibooburra
    assert(auTimeZone(-34.10, 141.90).contains("Australia/Sydney")) // Wentworth
    assert(SiteCatalog.standardUtcOffsetHours("Australia/Broken_Hill") == 9.5)
    // Bass Strait line (39.2°S)
    assert(auTimeZone(-39.1, 146.4).contains("Australia/Sydney"))
    assert(auTimeZone(-40.0, 146.4).contains("Australia/Hobart"))
    // open water inside the bounding box resolves to no zone
    assert(auTimeZone(-40.0, 113.0).isEmpty)
  }

  test("F25 NOAA sunrise/sunset sanity for a known site/date") {
    // Alice Springs (UTC+9.5), 2024-01-15: NOAA gives 06:05 / 19:26
    // (cross-checked against an independent implementation of the
    // NOAA spreadsheet formulas).
    val r = Solar.sunriseSunset(LocalDate.of(2024, 1, 15),
      -22.283, 133.249, 9.5)
    assert(r.isDefined)
    val (rise, set) = r.get
    assert(rise.getHour == 6 && math.abs(rise.getMinute - 5) <= 3)
    assert(set.getHour == 19 && math.abs(set.getMinute - 26) <= 3)
    // polar night: Svalbard mid-winter has no sunrise
    assert(Solar.sunriseSunset(LocalDate.of(2024, 1, 1),
      78.2, 15.6, 1.0).isEmpty)
  }

  test("J8 scalar series broadcast across profile heights") {
    val t0 = Timestamp.valueOf("2024-01-01 00:30:00")
    val t1 = Timestamp.valueOf("2024-01-01 01:00:00")
    val ps = Seq((t0, 98.1), (t1, 98.3)).toDF("DATETIME", "ps")
    val out = ProfileOps.broadcastAcrossHeights(ps, Seq(0.5, 2.0, 8.0),
      "DATETIME").orderBy("DATETIME", "height")
    assert(out.columns.toSeq == Seq("DATETIME", "ps", "height"))
    assert(out.collect().map(r =>
      (r.getTimestamp(0), r.getDouble(1), r.getDouble(2))).toSeq == Seq(
      (t0, 98.1, 0.5), (t0, 98.1, 2.0), (t0, 98.1, 8.0),
      (t1, 98.3, 0.5), (t1, 98.3, 2.0), (t1, 98.3, 8.0)))
  }

  test("A10/A11/W1 profile layer means, storage, strict flux sum") {
    val t0 = Timestamp.valueOf("2024-01-01 00:30:00")
    val t1 = Timestamp.valueOf("2024-01-01 01:00:00")
    val profile = Seq(
      (t0, 0.5, 20.0), (t0, 2.0, 16.0), (t0, 8.0, 12.0),
      (t1, 0.5, 22.0), (t1, 2.0, 18.0), (t1, 8.0, 12.0)
    ).toDF("DATETIME", "height", "co2")
    val layers = ProfileOps.layerMeans(profile, "DATETIME", "height", "co2")
    val l0 = layers.filter($"DATETIME" === t0).orderBy("height").collect()
    assert(l0(0).getAs[Double]("layer_value") == 20.0)    // bottom intake
    assert(l0(1).getAs[Double]("layer_value") == 18.0)    // (20+16)/2
    assert(l0(2).getAs[Double]("layer_depth") == 6.0)     // 8 - 2

    val storage = ProfileOps.layerStorage(layers, "DATETIME", "height", 1800)
    val flux = ProfileOps.storageFlux(
      storage.filter($"DATETIME" === t1), "DATETIME").head()
    // layer values t0: [20, 18, 14]; t1: [22, 20, 15]
    // layer storages at t1: (2/1800)*0.5, (2/1800)*1.5, (1/1800)*6
    val expected = 2.0 / 1800 * 0.5 + 2.0 / 1800 * 1.5 + 1.0 / 1800 * 6.0
    assert(math.abs(flux.getAs[Double]("storage_flux") - expected) < 1e-12)

    // strict sum: null layer -> null total
    val withNull = storage.withColumn("layer_storage",
      when($"height" === 8.0, lit(null)).otherwise($"layer_storage"))
    val strict = ProfileOps.storageFlux(
      withNull.filter($"DATETIME" === t1), "DATETIME").head()
    assert(strict.isNullAt(strict.fieldIndex("storage_flux")))
  }

  test("S15 SPARQL source: bindings wrangle, site labels, typing") {
    import graft.catalog.Sparql
    val fixture = """{
      "head": {"vars": ["label", "latitude", "longitude", "time_step",
                        "vegetation", "date_commissioned"]},
      "results": {"bindings": [
        {"label": {"type": "literal", "value": "Alice Mulga Flux Station"},
         "latitude": {"type": "literal", "value": "-22.283"},
         "longitude": {"type": "literal", "value": "133.249"},
         "time_step": {"type": "literal", "value": "30"},
         "vegetation": {"type": "literal", "value": "Mulga woodland"},
         "date_commissioned": {"type": "literal", "value": "2010-09-03"}},
        {"label": {"type": "literal", "value": "Calperum Flux Station"},
         "latitude": {"type": "literal", "value": "-34.003"},
         "longitude": {"type": "literal", "value": "140.588"},
         "time_step": {"type": "literal", "value": "30"}}
      ]}}"""
    val df = Sparql.siteDetails(spark, Sparql.FixtureTransport(fixture),
      "http://example.invalid/sparql", "SELECT ...",
      aliases = Map("Alice Mulga" -> "AliceSprings"))
    val rows = df.orderBy("Site").collect()
    assert(rows.map(_.getAs[String]("Site")).toSeq ==
      Seq("AliceSprings", "Calperum"))
    val alice = rows(0)
    assert(alice.getDouble(alice.fieldIndex("latitude")) == -22.283)
    assert(alice.getInt(alice.fieldIndex("time_step")) == 30)
    assert(alice.getDate(alice.fieldIndex("date_commissioned")).toString
      == "2010-09-03")
    // absent binding: string column coalesces to '', typed stays null
    val calperum = rows(1)
    assert(calperum.getAs[String]("vegetation") == "")
    assert(calperum.isNullAt(calperum.fieldIndex("date_commissioned")))
  }
}
