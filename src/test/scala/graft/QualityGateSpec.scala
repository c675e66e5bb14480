package graft

/** The sf0.1 quality bands enforced on the corpus they were banked on:
  * recall, NDCG, IVF cost, MinHash calibration, the tuned LSH occupancy
  * law and the tuned SimHash pair count, measured end to end by
  * [[BenchGate.violations]]. BenchGateSpec checks the band arithmetic;
  * this spec checks the indexes themselves. */
class QualityGateSpec extends SparkSpec {

  test("the sf0.1 index-quality telemetry sits inside every BenchGate band") {
    val v = BenchGate.violations(spark, "/root/testdata/sf0.1")
    assert(v.isEmpty, v.mkString("\n", "\n", ""))
  }
}
