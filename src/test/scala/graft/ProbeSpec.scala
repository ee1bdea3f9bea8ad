package graft

/** [[Probe]], the diagnostic entry point, on the suite session: a run
  * reports its jobs and stages, and the last run prints the final
  * adaptive plan. */
class ProbeSpec extends SparkSpec {

  test("probe q09_star_revenue: jobs, stages and the final adaptive plan") {
    val printed = new StringBuilder
    val runs = Probe.probe(spark, "/root/testdata/sf0.001", "q09_star_revenue",
      reps = 1, out = line => printed ++= line += '\n')
    assert(runs.size == 1)
    assert(runs.head.jobs >= 1, printed.toString)
    assert(runs.head.stages.nonEmpty, printed.toString)
    assert(printed.toString.contains("isFinalPlan=true"), printed.toString)
  }
}
