package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine's session knobs (round-11 verdict #3): the
  * bounded-heap ObjectHashAggregates must never silently degrade to
  * sort-based fallback at Spark's 128-key default — the 10M-vector
  * soak measured that failure as a disk-filling full-stream sort.
  * Every session recipe (Verify, Bench, tools.Profile, the test session)
  * routes through [[EngineConf.tuned]]; this spec keeps them honest.
  */
class EngineConfSpec extends SparkSpec {

  test("the shared test session carries the raised objectHashAggregate " +
    "sort-fallback threshold") {
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") ===
      EngineConf.ObjectHashFallbackThreshold.toString)
  }

  test("the threshold covers the soak-measured group density with " +
    "headroom (~300k groups/partition at 10M vectors)") {
    assert(EngineConf.ObjectHashFallbackThreshold >= 1000000,
      "threshold must clear the 10M-soak's ~300k groups/partition " +
        "with at least 3x headroom")
  }
}
