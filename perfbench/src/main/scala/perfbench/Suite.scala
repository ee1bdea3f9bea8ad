package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import perfbench.Main.Metric

/** Result of one query execution. Times are ms; layer fields are filled in
  * traced executions only. */
final case class QRun(name: String, pass: Int, traced: Boolean, wall: Double,
    construct: Double, action: Double, rows: Long, digest: String,
    error: String, spanId: Long = 0L, plan: Double = 0, exec: Double = 0,
    phases: Map[String, Double] = Map.empty, constructSpan: Long = 0L,
    planSpan: Long = 0L, execSpan: Long = 0L)

/** The `suite` workload: passes over a fixed set of `SparkEntry.queries`,
  * one client, in an order set by the seed. Each pass runs in a fresh
  * `SparkSession` (same `SparkContext`), so shared artifacts the queries
  * memoize per session are rebuilt, and timed, in every pass.
  *
  * A query is timed from the call to its function to the end of
  * `collect()`, which materializes every column of the full result. Its
  * result digest must equal the one recorded in `suite_expected.json`. */
final class Suite(spark: SparkSession, data: String, seed: Long) {
  import Suite._

  private val expected: Map[String, (String, Long)] = loadExpected()
  val names: Seq[String] = expected.keys.toSeq.sorted

  require(new java.io.File(data, "lineitem.parquet").exists(),
    s"suite tables missing under '$data'")
  names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))

  // set-up ends with the first query answered once
  runOnce(spark.newSession(), names.head, -1, None)

  /** One untimed pass, after set-up, so measured passes run JIT-warm code. */
  def warm(): Unit = {
    val s = spark.newSession()
    names.foreach(n => runOnce(s, n, -1, None))
  }

  private def runOnce(s: SparkSession, name: String, pass: Int,
      trace: Option[Trace]): QRun = {
    // queries persist intermediates; start every query from an empty cache
    s.catalog.clearCache()
    val fn = SparkEntry.queries(name)
    val sc = s.sparkContext
    try trace match {
      case None =>
        val t0 = Clock.nowMs()
        val df = fn(s, data)
        val t1 = Clock.nowMs()
        val rows = df.collect()
        val t2 = Clock.nowMs()
        QRun(name, pass, traced = false, t2 - t0, t1 - t0, t2 - t1, rows.length,
          digest(rows), null)
      case Some(t) =>
        val qid = t.newId()
        val t0 = Clock.nowMs()
        val (df, cs) = t.span(sc, "query.construct", qid)(fn(s, data))
        val (_, ps) = t.span(sc, "query.plan", qid)(df.queryExecution.executedPlan)
        val (rows, es) = t.span(sc, "query.execute", qid)(df.collect())
        val t2 = Clock.nowMs()
        t.add(Span(qid, "query", 0L, t0, t2, Map("pass" -> pass.toDouble)))
        val phases = df.queryExecution.tracker.phases
          .map { case (k, v) => k -> v.durationMs.toDouble }
        QRun(name, pass, traced = true, t2 - t0, cs.ms, ps.ms + es.ms, rows.length,
          digest(rows), null, qid, ps.ms, es.ms, phases, cs.id, ps.id, es.id)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        QRun(name, pass, trace.nonEmpty, 0, 0, 0, 0, "", String.valueOf(e))
    }
  }

  /** Whole passes until `seconds` have elapsed. With tracing, passes
    * alternate untraced/traced, so the traced numbers carry their own
    * untraced baseline. */
  def run(seconds: Double, traceOn: Boolean): Main.Outcome = {
    val trace = if (traceOn) Some(new Trace(s"suite-$seed")) else None
    trace.foreach(t => spark.sparkContext.addSparkListener(t.listener))
    val runs = scala.collection.mutable.ArrayBuffer.empty[QRun]
    val start = Clock.nowMs()
    var pass = 0
    // traced passes sit between untraced ones
    while (Clock.nowMs() - start < seconds * 1000 || (traceOn && pass < 3)) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val s = spark.newSession()
      val tr = if (traceOn && pass % 2 == 1) trace else None
      order.foreach(n => runs += runOnce(s, n, pass, tr))
      pass += 1
    }
    val windowMs = Clock.nowMs() - start
    trace.foreach(t => spark.sparkContext.removeSparkListener(t.listener))

    val bad = runs.filter(r => r.error != null || r.digest != expected(r.name)._1)
    val checks = Seq(Streams.Check("suite_digests", bad.isEmpty,
      s"${runs.size - bad.size}/${runs.size} query results match the recorded digests" +
        bad.map(r => s"; ${r.name}: ${Option(r.error).getOrElse(
          s"rows=${r.rows} want=${expected(r.name)._2}")}").take(5).mkString,
      bad.size.toLong))
    val ok = runs.filter(_.error == null)
    val walls = ok.map(_.wall).toArray
    val e2e = Map(
      "latency_p50_ms" -> Metric(Stats.pct(walls, 50), "ms", walls.length),
      "latency_p75_ms" -> Metric(Stats.pct(walls, 75), "ms", walls.length),
      "latency_mean_ms" -> Metric(Stats.mean(walls), "ms", walls.length),
      "read_p50_ms" -> Metric(Stats.median(ok.map(_.action).toSeq), "ms", ok.size))
    val named = Map(
      "query_p50_ms" -> e2e("latency_p50_ms"),
      "query_p95_ms" -> Metric(Stats.pct(walls, 95), "ms", walls.length),
      "query_mean_ms" -> e2e("latency_mean_ms"))
    val layers = trace.map(t => suiteLayers(t, ok.toSeq)).getOrElse(Map.empty[String, Metric])
    Main.Outcome(e2e, layers, named, runs.size, bad.size, checks,
      Map("window_s" -> windowMs / 1000, "passes" -> pass, "queries" -> names.size))
  }

  private def suiteLayers(t: Trace, ok: Seq[QRun]): Map[String, Metric] = {
    val traced = ok.filter(_.traced)
    val plain = ok.filterNot(_.traced)
    def jobs(span: Long) = t.jobsTagged(s"span:$span")
    val perQuery = traced.map { r =>
      val cj = jobs(r.constructSpan)
      val start = t.all.find(_.id == r.spanId).map(_.start).getOrElse(0.0)
      val all = cj ++ jobs(r.planSpan) ++ jobs(r.execSpan)
      QLayers(r, all, cj, cj.filter(j => SchemaSite.findFirstIn(j.callSite).nonEmpty),
        Trace.idleMs(start, start + r.wall, all))
    }
    def mean(f: QLayers => Double) = perQuery.map(f).sum / math.max(1, perQuery.size)
    def p50(f: QLayers => Double) = Stats.median(perQuery.map(f))
    val plainPasses = plain.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
    val layers = Layers.zero ++ Map(
      "construct.ms" -> Metric(p50(_.r.construct), "ms"),
      "construct.jobs" -> Metric(mean(_.constructJobs.size), "count"),
      "construct.schema_jobs" -> Metric(mean(_.schemaJobs.size), "count"),
      "construct.schema_ms" -> Metric(mean(_.schemaJobs.map(j => j.end - j.start).sum), "ms"),
      "plan.analysis_ms" -> Metric(p50(_.phase("analysis")), "ms"),
      "plan.optimization_ms" -> Metric(p50(_.phase("optimization")), "ms"),
      "plan.planning_ms" -> Metric(p50(_.phase("planning")), "ms"),
      "sched.jobs" -> Metric(mean(_.jobs.size), "count"),
      "sched.stages" -> Metric(mean(_.sum(_.stages)), "count"),
      "sched.tasks" -> Metric(mean(_.sum(_.tasks)), "count"),
      "sched.job_ms" -> Metric(Stats.median(perQuery.flatMap(_.jobs.map(j => j.end - j.start))), "ms"),
      "sched.idle_ms" -> Metric(mean(_.idleMs), "ms"),
      "exec.run_ms" -> Metric(mean(_.sum(_.runMs)), "ms"),
      "exec.cpu_ms" -> Metric(mean(_.sum(_.cpuMs)), "ms"),
      "exec.gc_ms" -> Metric(mean(_.sum(_.gcMs)), "ms"),
      "exec.core_util" -> Metric(perQuery.map(_.sum(_.runMs)).sum /
        (Main.Cores * math.max(1.0, traced.map(_.wall).sum)), "ratio"),
      "shuffle.read_bytes" -> Metric(mean(_.sum(_.shuffleRead.toDouble)), "bytes"),
      "shuffle.write_bytes" -> Metric(mean(_.sum(_.shuffleWrite.toDouble)), "bytes"),
      "io.output_bytes" -> Metric(mean(_.sum(_.outputBytes.toDouble)), "bytes"),
      "suite.span_coverage_min" -> Metric(
        if (perQuery.isEmpty) 0.0 else perQuery.map(_.coverage).min, "ratio")) ++
      Layers.overhead(Stats.median(traced.map(_.wall)),
        Stats.median(plainPasses.head.map(_.wall)), Stats.median(plainPasses.last.map(_.wall)))
    t.write(java.nio.file.Paths.get(data, "..", "traces", s"suite-$seed.json").normalize(),
      Json.obj(Map(
        "layers" -> layers.map { case (k, v) => k -> v.value },
        "self_ms" -> t.selfTimes,
        "queries" -> perQuery.map(_.record))))
    layers
  }
}

/** The layer split of one traced query execution. */
final case class QLayers(r: QRun, jobs: Seq[JobRec], constructJobs: Seq[JobRec],
    schemaJobs: Seq[JobRec], idleMs: Double) {
  def sum(f: JobRec => Double): Double = jobs.map(f).sum
  def phase(name: String): Double = r.phases.getOrElse(name, 0.0)
  /** Share of the wall the construct, plan and execute spans cover. */
  def coverage: Double = (r.construct + r.plan + r.exec) / math.max(1e-9, r.wall)
  def record: Map[String, Any] = Map(
    "query" -> r.name, "pass" -> r.pass, "wall_ms" -> r.wall,
    "construct_ms" -> r.construct, "plan_ms" -> r.plan, "execute_ms" -> r.exec,
    "analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
    "planning_ms" -> phase("planning"), "jobs" -> jobs.size,
    "construct_jobs" -> constructJobs.size, "schema_jobs" -> schemaJobs.size,
    "stages" -> sum(_.stages), "tasks" -> sum(_.tasks), "idle_ms" -> idleMs,
    "run_ms" -> sum(_.runMs), "cpu_ms" -> sum(_.cpuMs), "gc_ms" -> sum(_.gcMs),
    "shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
    "shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
    "output_bytes" -> sum(_.outputBytes.toDouble), "coverage" -> coverage)
}

object Suite {
  /** Jobs whose call site is a parquet read (footer / schema inference). */
  private val SchemaSite = "parquet at |inferSchema|listLeafFiles".r

  /** Order-insensitive digest of a result: its rows, rendered and sorted. */
  def digest(rows: Array[Row]): String = Digest.of(rows.map(_.toString))

  val ExpectedFile = "perfbench/suite_expected.json"

  def loadExpected(): Map[String, (String, Long)] = {
    val f = new java.io.File(ExpectedFile)
    require(f.exists(), s"$ExpectedFile not found (run from the repository root)")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    root.get("queries").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("digest").asText(), e.getValue.get("rows").asLong())
    }.toMap
  }

  /** `SparkEntry.queries` results for the expected-digest record: name,
    * wall ms, rows, digest, or the error. Writes each result as parquet
    * under `out` for the DuckDB cross-check. */
  def record(spark: SparkSession, data: String, out: String, only: Set[String]): Unit = {
    val lines = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n)).map { name =>
        spark.catalog.clearCache()
        val s = spark.newSession()
        val t0 = Clock.nowMs()
        try {
          val df = SparkEntry.queries(name)(s, data)
          val rows = df.collect()
          val ms = Clock.nowMs() - t0
          df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
          Json.obj(Map("query" -> name, "ms" -> ms, "rows" -> rows.length.toLong,
            "digest" -> digest(rows)))
        } catch {
          case e: Throwable =>
            Json.obj(Map("query" -> name, "error" -> String.valueOf(e).take(300)))
        }
      }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "record.jsonl"),
      lines.mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql))
  }
}
