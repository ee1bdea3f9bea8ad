package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The diagnostic entry point: where a registered query's time went and
  * which plan it ran, on the session `Bench` times with. Each run starts
  * from an empty cache and without the artifacts the query owns, like a
  * bench sample, and prints its wall, its job count and its top stages
  * by executor time (tasks, ms, records in/out; a `1 tasks ...
  * out=10.9M` stage is the lost-width signature). The last run also
  * prints its job list, the static `explain(formatted)` plan and the
  * final adaptive plan (`isFinalPlan=true`: runtime coalescing and join
  * flips show there).
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<dir> sbt "runMain graft.Probe q1 q2 ..."`,
  * with `SPARK_GRAFT_PROBE_REPS` runs per query (default 6) on
  * `SPARK_GRAFT_CPUS` cores (default 32). Redirect stdout to keep the
  * output as a plan artifact. */
object Probe {

  final case class Run(wallS: Double, jobs: Int,
      stages: Vector[RunListener.Stage])

  def main(args: Array[String]): Unit = {
    val usage = "usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.Probe q1 q2 ..."
    require(args.nonEmpty, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(usage))
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "6").toInt
    val spark = GraftSession(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    try args.foreach(q => probe(spark, sfDir, q, reps, println))
    finally spark.stop()
  }

  /** Runs `query` `reps` times, timed like a bench sample (construction
    * plus `count()`), and writes the report lines to `out`. */
  def probe(spark: SparkSession, sfDir: String, query: String, reps: Int,
      out: String => Unit): Vector[Run] = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val fn = SparkEntry.queries.getOrElse(query,
      throw new IllegalArgumentException(s"unknown query: $query"))
    val listener = new RunListener
    spark.sparkContext.addSparkListener(listener)
    try (1 to reps).toVector.map { i =>
      spark.catalog.clearCache()
      Artifacts.dropOwnedBy(query)
      listener.reset()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener events arrive asynchronously
      val run = Run(wall, listener.jobs.size, listener.stages)
      out(f"PROBE $query run$i wall=$wall%.2f jobs=${run.jobs}")
      run.stages.take(8).foreach(s => out(f"    stage${s.id}: ${s.tasks} " +
        f"tasks ${s.executorMs}ms in=${s.recordsIn} out=${s.recordsOut}"))
      if (i == reps) {
        out(s"  JOBS $query run$i")
        listener.jobs.foreach(j =>
          out(s"    job${j.id}[${j.stages} stages] ${j.leaf}"))
        out(s"== explain(formatted) ==\n" +
          df.queryExecution.explainString(FormattedMode))
        // Run the frame's own plan: count() adapts a plan of its own, so
        // only this one ends with this frame's final adaptive plan.
        df.queryExecution.toRdd.foreach(_ => ())
        out(s"== executed adaptive plan (after run) ==\n" +
          df.queryExecution.executedPlan.toString)
      }
      run
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
