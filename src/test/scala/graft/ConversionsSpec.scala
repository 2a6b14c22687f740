package graft

import org.apache.spark.sql.functions._

import graft.functions.Conversions._

class ConversionsSpec extends SparkSpec {
  import spark.implicits._

  private def eval(c: org.apache.spark.sql.Column): Double =
    spark.range(1).select(c.as("v")).head().getDouble(0)

  test("F13 Buck saturation vapour pressure at known temperatures") {
    // Buck (1996): es(0C) = 0.61121 kPa exactly (exp(0)=1)
    assert(math.abs(eval(saturationVapourPressure(lit(0.0))) - 0.61121) < 1e-9)
    // es(20C) ~ 2.3388 kPa (published value)
    assert(math.abs(eval(saturationVapourPressure(lit(20.0))) - 2.3388) < 1e-3)
    // es(100C) ~ 101.3 kPa (boiling point sanity)
    assert(math.abs(eval(saturationVapourPressure(lit(100.0))) - 101.32) < 0.5)
  }

  test("F16/F17 AH<->RH round-trip") {
    val ta = 21.5; val rh = 46.0; val ps = 101.3
    val ah = eval(ahFromRh(lit(ta), lit(rh), lit(ps)))
    val back = eval(rhFromAh(lit(ta), lit(ah), lit(ps)))
    assert(math.abs(back - rh) < 1e-9)
    // physically plausible magnitude (g/m^3 at ~20C, 50%RH is ~8-10)
    assert(ah > 5 && ah < 15)
  }

  test("F18 dew point of saturated air equals air temperature") {
    val ta = 15.0
    val e = eval(vapourPressure(lit(ta), lit(100.0)))
    val td = eval(dewPoint(lit(e)))
    assert(math.abs(td - ta) < 0.2) // Buck vs Magnus constants tolerance
  }

  test("F19 VPD is zero at saturation, positive below") {
    assert(math.abs(eval(vpd(lit(25.0), lit(100.0)))) < 1e-12)
    assert(eval(vpd(lit(25.0), lit(50.0))) > 0)
  }

  test("F1/F2/F7/F8 linear conversions") {
    assert(eval(co2FluxMgToUmol(lit(44.0))) == 1000.0)
    assert(eval(co2DensityMmolToMg(lit(1.0))) == 44.0)
    assert(eval(paToKpa(lit(101300.0))) == 101.3)
    assert(math.abs(eval(kelvinToCelsius(lit(293.15))) - 20.0) < 1e-12)
  }

  test("F9 variance<->stdev round-trip on nonnegatives") {
    val v = 2.345
    assert(math.abs(
      eval(stdevToVariance(varianceToStdev(lit(v)))) - v) < 1e-12)
  }

  test("F11 variance conversion = square of converted stdev") {
    // variance in mmol^2/m^6 -> mg^2/m^6: sqrt, F2 base conversion,
    // square — against the hand-computed value
    val varMmol = 4.0 // stdev 2 mmol/m^3
    val out = eval(convertVariance(lit(varMmol), co2DensityMmolToMg))
    val expected = math.pow(2.0 * 44.0, 2)
    assert(math.abs(out - expected) < 1e-9)
    // units bookkeeping goes through the PFP variance-units map
    assert(graft.pfp.PfpName.convertVarianceUnits("mmol/m^3") == "mmol^2/m^6")
  }

  test("F20 CO2 mole fraction <-> density round-trip") {
    val co2 = 650.0; val ps = 98.0; val ta = 12.0
    val dens = eval(co2DensityFromMoleFraction(lit(co2), lit(ps), lit(ta)))
    val back = eval(co2MoleFractionFromDensity(lit(dens), lit(ps), lit(ta)))
    assert(math.abs(back - co2) < 1e-9)
  }

  test("F10 diagnostic valid count -> invalid count") {
    // n = freq_hz * step_min * 60 samples per averaging period
    assert(eval(diagnosticValidToInvalid(lit(17950.0), 10.0, 30.0)) == 50.0)
    assert(eval(diagnosticValidToInvalid(lit(36000.0), 20.0, 30.0)) == 0.0)
    assert(eval(diagnosticValidToInvalid(lit(0.0), 10.0, 1.0)) == 600.0)
  }

  test("F21 ustar = sqrt(|tau| / rho)") {
    assert(math.abs(eval(ustarFromTauRho(lit(0.2), lit(1.25))) - 0.4) < 1e-12)
    // the sign of the momentum flux does not matter
    assert(math.abs(eval(ustarFromTauRho(lit(-0.45), lit(1.25))) - 0.6) < 1e-12)
    assert(eval(ustarFromTauRho(lit(0.0), lit(1.2))) == 0.0)
  }
}
