package graft

import org.scalatest.funsuite.AnyFunSuite

/** The telemetry gate must actually fail when an index regresses — the
  * r7 verdict's point was that recall/calibration were visible but not
  * enforced. Pure unit tests (no Spark): the gate is arithmetic over the
  * recorded r07 baseline.
  */
class BenchGateSpec extends AnyFunSuite {

  private val goodRecall = BenchGate.recallBaseline
  private val goodCalib = BenchGate.calibBaseline
  private val goodCost = BenchGate.ivfCostBaseline
  private val goodNdcg = BenchGate.ndcgBaseline

  test("baseline values pass the gate") {
    assert(BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg).isEmpty)
  }

  test("values inside the tolerance band pass") {
    val drifted = goodRecall.map { case (k, v) => k -> (v + 0.04) }
    val calibDrift = goodCalib.map { case (k, v) => k -> (v - 0.09) }
    assert(BenchGate.check(drifted, calibDrift, goodCost, goodNdcg).isEmpty)
  }

  test("an IVF recall drop to 0.5 fails the gate") {
    val regressed = goodRecall.updated("ann_ivf", 0.5)
    val v = BenchGate.check(regressed, goodCalib, goodCost, goodNdcg)
    assert(v.exists(_.contains("recall[ann_ivf]")), v.mkString("; "))
  }

  test("a disappeared baselined index fails the gate") {
    val v = BenchGate.check(goodRecall - "ann_lsh_multi", goodCalib, goodCost, goodNdcg)
    assert(v.exists(_.contains("recall[ann_lsh_multi] missing")))
  }

  test("calibration drift beyond 0.1 at agreement >= 7 fails") {
    val v = BenchGate.check(goodRecall, goodCalib.updated(8L, 0.6), goodCost, goodNdcg)
    assert(v.exists(_.contains("minhash_calibration[8]")))
  }

  test("NaN telemetry fails rather than passing silently") {
    val v = BenchGate.check(goodRecall.updated("ann_ivf", Double.NaN), goodCalib, goodCost, goodNdcg)
    assert(v.exists(_.contains("recall[ann_ivf]")))
  }

  test("new non-baselined telemetry keys pass freely") {
    val extra = goodRecall + ("ann_hnsw" -> 0.42)
    assert(BenchGate.check(extra, goodCalib, goodCost, goodNdcg).isEmpty)
  }

  test("IVF candidate-cost drift beyond 5% fails the gate") {
    val inflated = goodCost.map { case (k, v) => k -> v * 1.06 }
    val v = BenchGate.check(goodRecall, goodCalib, inflated, goodNdcg)
    assert(v.exists(_.contains("ivf_cost[1]")), v.mkString("; "))
    // inside the relative band passes
    val ok = goodCost.map { case (k, v) => k -> v * 1.04 }
    assert(BenchGate.check(goodRecall, goodCalib, ok, goodNdcg).isEmpty)
  }

  test("a vanished IVF cost curve fails rather than passing silently") {
    val v = BenchGate.check(goodRecall, goodCalib, Map.empty[Long, Double], goodNdcg)
    assert(v.count(_.contains("ivf_cost[")) == 3)
  }

  test("an NDCG rank-order drift of 1 ppm fails the gate") {
    val drifted = goodNdcg.map { case (k, v) => k -> (v + 1.0) }
    val v = BenchGate.check(goodRecall, goodCalib, goodCost, drifted)
    assert(v.count(_.contains("ndcg[")) == 3, v.mkString("; "))
    // a vanished ndcg axis fails rather than passing silently (the
    // default Map.empty is only for pre-ndcg callers in specs)
    val miss = BenchGate.check(goodRecall, goodCalib, goodCost)
    assert(miss.count(_.contains("ndcg[")) == 3)
  }

  test("lsh_occupancy_tuned in the (16, 40] law band passes") {
    assert(BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg,
      Some((6L, 31.25))).isEmpty)
  }

  test("lsh_occupancy_tuned outside the law band fails the gate") {
    val low = BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg,
      Some((6L, 12.0)))
    assert(low.exists(_.contains("lsh_occupancy_tuned")), low.mkString("; "))
    val high = BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg,
      Some((6L, 55.0)))
    assert(high.exists(_.contains("lsh_occupancy_tuned")), high.mkString("; "))
    val nan = BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg,
      Some((6L, Double.NaN)))
    assert(nan.exists(_.contains("lsh_occupancy_tuned")), nan.mkString("; "))
  }

  test("absent occupancy passes check() but fails requireOccTuned") {
    // check() serves arbitrary telemetry consumers: a caller that never
    // claimed the key is not in violation (the r11 regression broke
    // this). violations(), which PRODUCES the key, layers requireOccTuned on
    // top so its own output cannot silently drop the law.
    assert(BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg,
      None).isEmpty)
    val miss = BenchGate.requireOccTuned(None)
    assert(miss.exists(_.contains("lsh_occupancy_tuned missing")))
    assert(BenchGate.requireOccTuned(Some((6L, 31.25))).isEmpty)
  }

  test("simhash_tuned drift fails check(); absence fails only requireSimTuned") {
    // the band is exact (everything in the pipeline is deterministic):
    // any (bits, n_pairs) off the banked pair is a violation
    val drifted = BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg,
      None, Some((64L, BenchGate.simTunedBaseline._2)))
    assert(drifted.exists(_.contains("simhash_tuned")), drifted.mkString("; "))
    val pairDrift = BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg,
      None, Some((BenchGate.simTunedBaseline._1, 1L)))
    assert(pairDrift.exists(_.contains("simhash_tuned")), pairDrift.mkString("; "))
    // banked pair passes; absent-when-not-claimed passes check()
    assert(BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg,
      None, Some(BenchGate.simTunedBaseline)).isEmpty)
    assert(BenchGate.check(goodRecall, goodCalib, goodCost, goodNdcg,
      None, None).isEmpty)
    // violations(), which PRODUCES the key, must not silently drop it
    val miss = BenchGate.requireSimTuned(None)
    assert(miss.exists(_.contains("simhash_tuned missing")))
    assert(BenchGate.requireSimTuned(Some(BenchGate.simTunedBaseline)).isEmpty)
  }

  test("a failed headline turns the gate red") {
    assert(BenchGate.requireNoFailures(Nil).isEmpty)
    val v = BenchGate.requireNoFailures(Seq("q_pagerank"))
    assert(v == Seq("headline q_pagerank failed"))
  }
}
