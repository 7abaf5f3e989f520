package graft.tools

import graft.SparkSpec

/** [[Profile.profile]], the one per-op profiler: a run's job count
  * matches its job lines (the listener bus is drained before the record
  * is read), and each job line names its engine call site, so the
  * rounds of an iterative kernel stay observable per job. */
class ProfileSpec extends SparkSpec {

  test("q_dup_clusters: one job line per job, CC rounds by call site") {
    val r = Profile.profile(spark, "q_dup_clusters", sf001, runs = 1)
    assert(r.op === "q_dup_clusters" && r.runs.size === 1)
    assert(r.jobCount > 0 && r.stages > 0 && r.tasks > 0, r)
    assert(r.jobCount === r.jobs.size, r.jobs)
    assert(r.jobs.map(_.id) === r.jobs.map(_.id).sorted.distinct)
    // connectedComponents' convergence probe: one job per round
    val rounds = r.jobs.count(_.callSite.matches(
      """isEmpty at GraphOps\.scala:\d+"""))
    assert(rounds >= 1, r.jobs.map(_.callSite))
    // AQE's shuffle-stage jobs run on a pool thread; they are named by
    // their SQL execution's call site, not by the pool's frame
    val pooled = r.jobs.filter(_.callSite.contains("CompletableFuture.java"))
    assert(pooled.isEmpty, r.jobs.map(_.callSite))
  }
}
