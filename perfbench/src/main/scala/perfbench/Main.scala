package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's one command. Runs one workload for a fixed time, checks
  * every output, and prints a detail line and then the result line:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> [--data <suite tables dir>]
  * }}}
  *
  * With `--trace 0` the result carries the end-to-end metrics; with
  * `--trace 1` it carries the per-layer metrics (see `perfbench/README.md`).
  */
object Main {

  val Workloads = Seq("warehouse", "suite")
  val Cores = 4
  /** Set-up runs this many times; `setup_s` is the median. */
  val SetupReps = 5

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String)

  final case class Metric(value: Double, unit: String, n: Long = -1)

  /** What a workload reports. `e2e` and `layers` use the names declared in
    * BENCHMARK.json; `named` are the per-workload names of the same
    * measurements, with their sample counts. */
  final case class Outcome(e2e: Map[String, Metric], layers: Map[String, Metric],
      named: Map[String, Metric], attempted: Long, failed: Long,
      checks: Seq[Streams.Check], summary: Map[String, Any])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.getOrElse("data", ""))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    var suite: Suite = null
    val setups = mutable.ArrayBuffer.empty[Double]
    // set-up, several times: session, then the generator and a start of the
    // sink, or the suite's tables and its first query
    for (rep <- 0 until SetupReps) {
      val t0 = if (rep == 0) jvmStart else Clock.nowMs()
      if (spark != null) spark.stop()
      spark = session(args.work)
      if (args.workload == "suite") suite = new Suite(spark, args.data, args.seed)
      else Streams.setUp(spark, args.work, args.seed)
      setups += (Clock.nowMs() - t0) / 1000
    }
    val setupS = Stats.median(setups.toSeq)
    val outcome =
      if (args.workload == "suite") { suite.warm(); suite.run(args.seconds, args.trace) }
      else streamOutcome(spark, args)
    val e2e = outcome.e2e + ("setup_s" -> Metric(setupS, "s", SetupReps))
    val named = outcome.named ++ Map(
      "setup_s" -> Metric(setupS, "s", SetupReps),
      "fail_ratio" -> Metric(outcome.failed.toDouble / math.max(1, outcome.attempted),
        "ratio", outcome.attempted))
    val reported = if (args.trace) outcome.layers else e2e
    // an end-to-end metric without samples is a failed run; a layer the
    // traced part did not reach reports 0
    val unmeasured = if (args.trace) Nil else reported.collect { case (k, v) if v.value.isNaN => k }
    val checks = outcome.checks ++ (if (unmeasured.isEmpty) Nil else Seq(Streams.Check(
      "measured", ok = false, s"no samples for ${unmeasured.mkString(", ")}", 0)))
    val correct = checks.forall(_.ok) && outcome.failed == 0
    checks.filterNot(_.ok).foreach(c =>
      System.err.println(s"[perfbench] CHECK FAILED ${c.name}: ${c.detail}"))
    def metrics(m: Map[String, Metric], withN: Boolean) = m.map { case (k, v) =>
      k -> (Map("value" -> v.value, "unit" -> v.unit) ++
        (if (withN && v.n >= 0) Map("n" -> v.n) else Map.empty))
    }
    println(Json.obj(Map(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "metrics_by_workload_name" -> metrics(named, withN = true),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "setup_s_runs" -> setups.toSeq) ++ outcome.summary))
    println(Json.obj(Map(
      "correct" -> correct, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> metrics(reported.map { case (k, v) =>
        k -> (if (v.value.isNaN) v.copy(value = 0.0) else v) }, withN = false))))
    System.out.flush()
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }

  /** Runs the stream: one untimed warm-up phase, then the measured one.
    * With tracing, the measured phase runs three times on the same input,
    * untraced, traced, untraced; the layer metrics come from the traced
    * run, and the tracing overhead compares it with the untraced two. The
    * warm-up phase is as long as a measured one, so the process's first,
    * cold load cycles fall in no measured phase. Later phases are still
    * warmer than earlier ones (`trace.drift_pct`). */
  private def streamOutcome(spark: SparkSession, a: Args): Outcome = {
    def phase(trace: Option[Trace]): Streams.Phase = {
      val log = new ProgressLog
      spark.streams.addListener(log)
      trace.foreach(t => spark.sparkContext.addSparkListener(t.listener))
      try Streams.measure(spark, a.work, a.seed, a.seconds, log, trace)
      finally {
        spark.streams.removeListener(log)
        trace.foreach(t => spark.sparkContext.removeSparkListener(t.listener))
      }
    }
    val warm = phase(None)
    val plain = phase(None)
    val traced = if (a.trace) {
      val t = new Trace(s"${a.workload}-${a.seed}")
      Some((phase(Some(t)), t))
    } else None
    val after = if (a.trace) Some(phase(None)) else None
    val p = traced.map(_._1).getOrElse(plain)
    val lat = p.latencies
    val reads = p.reads.filterNot(_.failed).map(r => r.planMs + r.execMs)
    val e2e = Map(
      "latency_p50_ms" -> Metric(Stats.pct(lat, 50), "ms", lat.length),
      "latency_p75_ms" -> Metric(Stats.pct(lat, 75), "ms", lat.length),
      "latency_mean_ms" -> Metric(Stats.mean(lat), "ms", lat.length),
      "read_p50_ms" -> Metric(Stats.pct(reads, 50), "ms", reads.length))
    val named = Map(
      "warehouse_latency_p50_ms" -> e2e("latency_p50_ms"),
      "warehouse_latency_p90_ms" -> Metric(Stats.pct(lat, 90), "ms", lat.length),
      "curated_read_p50_ms" -> e2e("read_p50_ms"),
      "curated_read_p90_ms" -> Metric(Stats.pct(reads, 90), "ms", reads.length))
    val layers = traced.map { case (tp, t) =>
      val l = streamLayers(tp, t, Stats.pct(plain.latencies, 50),
        Stats.pct(after.get.latencies, 50))
      t.write(java.nio.file.Paths.get(a.work, "..", "..", "traces", s"${a.workload}-${a.seed}.json")
        .normalize(), Json.obj(Map(
          "layers" -> l.map { case (k, v) => k -> v.value },
          "self_ms" -> t.selfTimes,
          "cycles" -> tp.cycles)))
      l
    }.getOrElse(Map.empty[String, Metric])
    val ran = Seq(warm, plain) ++ traced.map(_._1) ++ after
    val names = Seq("warm-up", "measured") ++ traced.map(_ => "traced") ++ after.map(_ => "after")
    Outcome(e2e, layers, named,
      attempted = ran.map(x => x.events + x.reads.size).sum,
      failed = ran.map(x => x.lost + x.reads.count(_.failed) + x.checks.map(_.bad).sum).sum,
      ran.flatMap(_.checks),
      Map("phases" -> ran.zip(names).map { case (x, n) => x.summary(n) }))
  }

  /** Per-layer metrics of a traced stream phase. */
  private def streamLayers(p: Streams.Phase, t: Trace,
      beforeP50: Double, afterP50: Double): Map[String, Metric] = {
    val data = p.dataTriggers
    val byTrigger = data.map { tr =>
      tr -> t.jobsTagged(s"trigger:${p.queryId}:${tr.batchId}")
    }
    // trigger spans with their phases laid out in execution order
    byTrigger.foreach { case (tr, jobs) =>
      val id = t.newId()
      t.add(Span(id, "trigger", 0L, tr.start, tr.end,
        Map("batch" -> tr.batchId.toDouble, "events" -> p.eventsIn(tr).toDouble)))
      var at = tr.start
      (Streams.PhaseOrder ++ tr.phases.keySet.diff(Streams.PhaseOrder.toSet + "triggerExecution"))
        .foreach { ph =>
          tr.phases.get(ph).foreach { d =>
            val pid = t.newId()
            t.add(Span(pid, s"trigger.$ph", id, at, at + d))
            if (ph == "addBatch") t.tagParent(s"trigger:${p.queryId}:${tr.batchId}", pid)
            at += d
          }
        }
    }
    val jobs = byTrigger.flatMap(_._2)
    def ph(k: String) = Stats.median(data.map(_.phases.getOrElse(k, 0.0)))
    def perOp(f: JobRec => Double) = byTrigger.map(_._2.map(f).sum)
    val ops = math.max(1, data.size)
    val runMs = jobs.map(_.runMs).sum
    val tracedP50 = Stats.pct(p.latencies, 50)
    val reads = p.reads.filterNot(_.failed)
    val readJobs = reads.map(r => r.spans.map(id => t.jobsTagged(s"span:$id").size).sum.toDouble)
    Layers.zero ++ Map(
      "gen.lag_ms_max" -> Metric(p.chunks.map(_.lagMs).foldLeft(0.0)(math.max), "ms"),
      "gen.backlog_max" -> Metric(p.backlogMax.toDouble, "count"),
      "trigger.count" -> Metric(data.size.toDouble, "count"),
      "trigger.rows_p50" -> Metric(Stats.median(data.map(p.eventsIn(_).toDouble)), "count"),
      "trigger.latestOffset_ms" -> Metric(ph("latestOffset"), "ms"),
      "trigger.queryPlanning_ms" -> Metric(ph("queryPlanning"), "ms"),
      "trigger.addBatch_ms" -> Metric(ph("addBatch"), "ms"),
      "trigger.walCommit_ms" -> Metric(ph("walCommit"), "ms"),
      "trigger.commitOffsets_ms" -> Metric(ph("commitOffsets"), "ms"),
      "trigger.jobs" -> Metric(Stats.median(byTrigger.map(_._2.size.toDouble)), "count"),
      "trigger.empty" -> Metric(p.triggers.count(_.rows == 0).toDouble, "count"),
      "stage.rows_in" -> Metric(p.events.toDouble, "count"),
      "stage.rows_staged" -> Metric((p.kept - p.lostKept).toDouble, "count"),
      "stage.keep_ratio" -> Metric(p.kept.toDouble / math.max(1L, p.events), "ratio"),
      "sched.jobs" -> Metric(jobs.size.toDouble / ops, "count"),
      "sched.stages" -> Metric(jobs.map(_.stages).sum.toDouble / ops, "count"),
      "sched.tasks" -> Metric(jobs.map(_.tasks).sum.toDouble / ops, "count"),
      "sched.job_ms" -> Metric(Stats.median(jobs.map(j => j.end - j.start)), "ms"),
      "sched.idle_ms" -> Metric(Stats.mean(byTrigger.map { case (tr, js) =>
        Trace.idleMs(tr.start, tr.end, js) }), "ms"),
      "exec.run_ms" -> Metric(runMs / ops, "ms"),
      "exec.cpu_ms" -> Metric(jobs.map(_.cpuMs).sum / ops, "ms"),
      "exec.gc_ms" -> Metric(jobs.map(_.gcMs).sum / ops, "ms"),
      "exec.core_util" -> Metric(runMs / (Cores * math.max(1.0, p.windowMs)), "ratio"),
      "exec.ns_per_event" -> Metric(runMs * 1e6 / math.max(1L, p.events), "ns"),
      "shuffle.read_bytes" -> Metric(jobs.map(_.shuffleRead).sum.toDouble / ops, "bytes"),
      "shuffle.write_bytes" -> Metric(jobs.map(_.shuffleWrite).sum.toDouble / ops, "bytes"),
      "io.output_bytes" -> Metric(jobs.map(_.outputBytes).sum.toDouble / ops, "bytes"),
      "cycle.ms" -> Metric(ph("addBatch"), "ms"),
      "cycle.jobs" -> Metric(Stats.median(byTrigger.map(_._2.size.toDouble)), "count"),
      "cycle.shuffle_write_bytes" -> Metric(Stats.median(perOp(_.shuffleWrite.toDouble)), "bytes"),
      "cycle.output_bytes" -> Metric(Stats.median(perOp(_.outputBytes.toDouble)), "bytes"),
      "wh.fact_rows" -> Metric(p.factRows.toDouble, "count"),
      "wh.versions_live" -> Metric(p.versions.toDouble, "count"),
      "curated.plan_ms" -> Metric(Stats.median(reads.map(_.planMs)), "ms"),
      "curated.exec_ms" -> Metric(Stats.median(reads.map(_.execMs)), "ms"),
      "curated.jobs" -> Metric(Stats.median(readJobs), "count")) ++
      Layers.overhead(tracedP50, beforeP50, afterP50)
  }
}

/** The per-layer metric names and units declared in BENCHMARK.json; a
  * workload reports 0 for a layer it does not exercise. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "gen.lag_ms_max" -> "ms", "gen.backlog_max" -> "count",
    "trigger.count" -> "count", "trigger.rows_p50" -> "count",
    "trigger.latestOffset_ms" -> "ms", "trigger.queryPlanning_ms" -> "ms",
    "trigger.addBatch_ms" -> "ms", "trigger.walCommit_ms" -> "ms",
    "trigger.commitOffsets_ms" -> "ms", "trigger.jobs" -> "count",
    "trigger.empty" -> "count",
    "stage.rows_in" -> "count", "stage.rows_staged" -> "count",
    "stage.keep_ratio" -> "ratio",
    "construct.ms" -> "ms", "construct.jobs" -> "count",
    "construct.schema_jobs" -> "count", "construct.schema_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.job_ms" -> "ms", "sched.idle_ms" -> "ms",
    "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.core_util" -> "ratio", "exec.ns_per_event" -> "ns",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
    "io.output_bytes" -> "bytes",
    "cycle.ms" -> "ms", "cycle.jobs" -> "count",
    "cycle.shuffle_write_bytes" -> "bytes", "cycle.output_bytes" -> "bytes",
    "wh.fact_rows" -> "count", "wh.versions_live" -> "count",
    "curated.plan_ms" -> "ms", "curated.exec_ms" -> "ms", "curated.jobs" -> "count",
    "suite.span_coverage_min" -> "ratio",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%", "trace.drift_pct" -> "%")
  val zero: Map[String, Main.Metric] = units.map { case (k, u) => k -> Main.Metric(0.0, u) }.toMap

  /** Tracing overhead: the traced p50 against the mean of the untraced
    * p50s before and after it. Later runs in a process are warmer, so the
    * drift between the two untraced p50s is the resolution of the
    * overhead: an overhead smaller than the drift is not measured. */
  def overhead(traced: Double, before: Double, after: Double): Map[String, Main.Metric] = {
    val untraced = (before + after) / 2
    Map("trace.overhead_ms" -> Main.Metric(traced - untraced, "ms"),
      "trace.overhead_pct" -> Main.Metric(100 * (traced - untraced) / math.max(1e-9, untraced), "%"),
      "trace.drift_pct" -> Main.Metric(100 * (after - before) / math.max(1e-9, untraced), "%"))
  }
}

object Stats {
  /** Linear-interpolated percentile; NaN for no samples. */
  def pct(xs: Seq[Double], p: Double): Double = pct(xs.toArray, p)
  def pct(xs: Array[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def mean(xs: Array[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.length
}
