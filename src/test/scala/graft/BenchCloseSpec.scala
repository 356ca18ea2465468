package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the bench's self-certification machinery (round-15 verdict
  * item 1 + round-15 advice): the split loaded flags, the
  * failed-query accounting in Close.total, and the pure scoring
  * helpers. No SparkSession needed.
  */
class BenchCloseSpec extends AnyFunSuite {

  private def close(times: Map[String, Double],
      failed: Seq[String] = Nil,
      entry: Double = 0.03, exit: Double = 0.03,
      probes: Seq[Double] = Seq(0.03),
      mrel: Option[Double] = None): Bench.Close =
    Bench.Close(times, failed, entry, probes, exit, mrel,
      gate = 0.055, mrelGate = 1.15)

  test("probe_loaded / times_loaded split; loaded stays the OR") {
    val quiet = close(Map("q" -> 1.0))
    assert(!quiet.probeLoaded && !quiet.timesLoaded && !quiet.loaded)
    // noisy probe, quiet times — the round-15 close-3c situation the
    // merged flag could not express
    val probeOnly = close(Map("q" -> 1.0), probes = Seq(0.03, 0.09),
      mrel = Some(0.98))
    assert(probeOnly.probeLoaded && !probeOnly.timesLoaded
      && probeOnly.loaded)
    // quiet probe, inflated times (what only the pin can see)
    val timesOnly = close(Map("q" -> 1.0), mrel = Some(1.3))
    assert(!timesOnly.probeLoaded && timesOnly.timesLoaded
      && timesOnly.loaded)
    // entry/exit probes gate too
    assert(close(Map.empty, entry = 0.06).probeLoaded)
    assert(close(Map.empty, exit = 0.06).probeLoaded)
    // absent median-rel (no pin) never brands times loaded
    assert(!close(Map.empty, mrel = None).timesLoaded)
  }

  test("Close.total counts exactly the non-failed queries") {
    // a query that succeeded in one rep but failed in another keeps a
    // stale entry in `times`; selection and reporting must agree
    // (round-15 advice)
    val c = close(Map("a" -> 1.0, "b" -> 2.0, "c" -> 4.0),
      failed = Seq("c"))
    assert(c.total == 3.0)
    assert(close(Map("a" -> 1.0)).total == 1.0)
  }

  test("medianRel needs 20 overlapping queries and takes the median") {
    // quietPin resource is the shipped pin; synthesize times as
    // pin × factor over a 20+ overlap so the median is the factor
    val pin = Bench.quietPin
    assert(pin.size >= 20, "shipped pin must cover the suite")
    val names = pin.keys.take(25).toSeq
    val times = collection.mutable.Map(
      names.map(n => n -> pin(n) * 1.07): _*)
    val m = Bench.medianRel(times)
    assert(m.exists(v => math.abs(v - 1.07) < 1e-9))
    // under 20 overlaps the component disables, never errors
    val few = collection.mutable.Map(
      names.take(5).map(n => n -> pin(n)): _*)
    assert(Bench.medianRel(few).isEmpty)
  }

  test("hostFactor anchors and clamping") {
    assert(Bench.hostFactor(0.02) == 1.0) // quieter than quiet clamps
    assert(Bench.hostFactor(0.030) == 1.0)
    assert(math.abs(Bench.hostFactor(0.030 * 1.93) - 1.15) < 1e-9)
    assert(math.abs(Bench.hostFactor(0.030 * 3.88) - 2.25) < 1e-9)
    assert(Bench.hostFactor(0.5) > 2.25) // extrapolates past last anchor
  }

  test("suiteHash is order-insensitive and body-sensitive") {
    val a = Map("q1" -> "SELECT 1", "q2" -> "SELECT 2")
    val b = Map("q2" -> "SELECT 2", "q1" -> "SELECT 1")
    assert(Bench.suiteHash(a) == Bench.suiteHash(b))
    assert(Bench.suiteHash(a) !=
      Bench.suiteHash(a.updated("q2", "SELECT 3")))
  }

  test("effectiveGate: host-relative floor never tightens, storms still flag") {
    // quiet host (floor 0.030): fixed gate binds — unchanged semantics
    assert(Bench.effectiveGate(0.055, 2.0, Seq(0.030, 0.032)) == 0.060)
    // driver VM class (floor 0.0345, r17): quiet rep_max 0.0618 now
    // certifies (< 0.069) while a storm probe 0.094 still flags
    val eff = Bench.effectiveGate(0.055, 2.0, Seq(0.0345, 0.05))
    assert(math.abs(eff - 0.069) < 1e-9)
    assert(0.0618 < eff && 0.094 > eff)
    // no probes yet / disabled margin: fixed gate
    assert(Bench.effectiveGate(0.055, 2.0, Nil) == 0.055)
    assert(Bench.effectiveGate(0.055, 0.0, Seq(0.03)) == 0.055)
    // effective gate is max(fixed, margin*floor): never below fixed
    assert(Bench.effectiveGate(0.055, 2.0, Seq(0.01)) == 0.055)
  }

  test("retry verdict stays FIXED-gate while reporting goes host-relative") {
    // rep_max 0.0618 on a floor-0.0345 host: reported probe verdict
    // certifies under the effective gate 0.069, but the retry /
    // selection verdict (fixed 0.055) still reads loaded — the close
    // search must not shorten (round-18 Bench change contract)
    val c = Bench.Close(Map("q" -> 1.0), Nil, 0.0382, Seq(0.0618),
      0.0576, mrel = Some(0.99), gate = 0.069, mrelGate = 1.15,
      fixedGate = 0.055)
    assert(!c.probeLoaded && !c.loaded)       // reported: self-certifies
    assert(c.probeLoadedFixed && c.loadedFixed) // retry: keeps searching
    // no fixedGate supplied (legacy construction): falls back to gate
    val legacy = Bench.Close(Map("q" -> 1.0), Nil, 0.06, Seq(0.03),
      0.03, None, gate = 0.055, mrelGate = 1.15)
    assert(legacy.probeLoadedFixed == legacy.probeLoaded)
  }

  test("gate fields report calib_floor, the floor the effective gate scaled") {
    val session = Seq(0.0345, 0.05, 0.0382)
    val c = Bench.Close(Map("q" -> 1.0), Nil, 0.0382, Seq(0.05), 0.0345,
      mrel = None, gate = Bench.effectiveGate(0.055, 2.0, session),
      mrelGate = 1.15, fixedGate = 0.055, calibFloor = session.min)
    val json = Bench.gateJson(c, 0.055, 2.0, waitedSec = 0,
      closeAttempts = 1)
    assert(json.startsWith(
      ""","calib_gate":0.055,"calib_gate_eff":0.0690,"calib_floor":0.0345,"calib_floor_margin":2.0,"""))
    // the gate is unchanged: still max(fixed, margin × floor)
    assert(math.abs(c.gate - 2.0 * c.calibFloor) < 1e-12)
    assert(!json.contains("median_rel") && json.endsWith(""","close_attempts":1"""))
  }
}
