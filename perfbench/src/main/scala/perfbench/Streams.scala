package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.ops.LoadCycle
import graft.stream.{FlightStream, WarehouseSink}

/** What the progress listener saw of one trigger. Offsets are MemoryStream
  * offsets: the trigger holds the `addData` calls in `(from, to]`. */
final case class TriggerRec(batchId: Long, start: Double, end: Double,
    from: Long, to: Long, rows: Long, phases: Map[String, Double])

/** Collects `StreamingQueryListener` progress, per query id. */
final class ProgressLog extends StreamingQueryListener {
  private val recs = new ConcurrentLinkedQueue[(java.util.UUID, TriggerRec)]
  /** The measured query, and the highest offset it has committed. */
  @volatile var target: java.util.UUID = null
  @volatile var committed: Long = -1L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = p.sources.headOption
    def off(s: String): Long =
      if (s == null || s.isEmpty || s == "null") -1L else s.trim.toLong
    val from = src.map(s => off(s.startOffset)).getOrElse(-1L)
    val to = src.map(s => off(s.endOffset)).getOrElse(-1L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val r = TriggerRec(p.batchId, start, start + phases.getOrElse("triggerExecution", 0.0),
      from, to, p.numInputRows, phases)
    recs.add((p.id, r))
    if (p.id == target && to > committed) committed = to
  }

  def of(id: java.util.UUID): Seq[TriggerRec] =
    recs.asScala.collect { case (q, r) if q == id => r }.toSeq.sortBy(_.batchId)
}

/** One `addData` call: its offset and the due times of its kept events. */
final case class Chunk(offset: Long, events: Int, keptDue: Array[Double], lagMs: Double)

/** The `warehouse` workload: an open-loop flight stream through
  * `FlightStream.pipeline` into `WarehouseSink`, beside one closed-loop
  * reader of `LoadCycle.curatedView`. */
object Streams {

  val nowLit = lit(java.sql.Timestamp.from(FlightGen.Now))

  /** Offered rate (events/s). A load cycle costs about 4 s fixed plus a
    * few ms per event on 4 cores, so at this rate each trigger takes the
    * few hundred events that arrived during the previous one and the
    * backlog stays flat (perfbench/README.md, "Offered rate"). */
  val Rate = 60.0
  /** Flights in flight at once: each emits 3-6 snapshots, so a trigger
    * holds several snapshots of some flights. */
  val Pool = 150

  /** Raw result of one measured stream phase. */
  final class Phase(val chunks: Seq[Chunk], val triggers: Seq[TriggerRec],
      val windowMs: Double, val backlogMax: Long,
      val queryId: String, val checks: Seq[Check],
      val reads: Seq[Read], val factRows: Long,
      val versions: Int, val lost: Long, val lostKept: Long) {
    /** Latency of each kept event: trigger end minus due time. */
    lazy val latencies: Array[Double] = {
      val ts = triggers.filter(_.to >= 0)
      chunks.iterator.flatMap { c =>
        ts.find(t => t.from < c.offset && c.offset <= t.to) match {
          case Some(t) => c.keptDue.iterator.map(t.end - _)
          case None => Iterator.empty
        }
      }.toArray
    }
    def events: Long = chunks.map(_.events.toLong).sum
    def kept: Long = chunks.map(_.keptDue.length.toLong).sum
    /** Events each trigger took from the source. */
    def eventsIn(t: TriggerRec): Long =
      chunks.iterator.filter(c => t.from < c.offset && c.offset <= t.to).map(_.events.toLong).sum
    /** Triggers that loaded data, in order. */
    def dataTriggers: Seq[TriggerRec] = triggers.filter(_.rows > 0)
    /** Per data trigger: batch id, events taken and `addBatch` (load
      * cycle) ms, the evidence that the offered rate is sustained. */
    def cycles: Seq[Map[String, Any]] = dataTriggers.map { t =>
      Map("batch" -> t.batchId, "events" -> eventsIn(t),
        "cycle_ms" -> t.phases.getOrElse("addBatch", 0.0))
    }
    /** What the detail line says of the phase. */
    def summary(name: String): Map[String, Any] = Map("phase" -> name,
      "window_s" -> windowMs / 1000, "events" -> events,
      "latency_p50_ms" -> Stats.pct(latencies, 50), "reads" -> reads.size,
      "backlog_max" -> backlogMax, "cycles" -> cycles)
  }

  final case class Read(version: Long, planMs: Double, execMs: Double,
      digest: String, spans: Seq[Long], failed: Boolean)

  final case class Check(name: String, ok: Boolean, detail: String, bad: Long)

  /** Set-up: the generator and a start and stop of the sink on its
    * (empty) stream. */
  def setUp(spark: SparkSession, work: String, seed: Long): Unit = {
    new FlightGen(seed, Pool)
    startSink(spark, source(spark)._2, s"$work/setup-${System.nanoTime()}")._1.stop()
  }

  /** A MemoryStream that splits each batch across the session's cores, and
    * `FlightStream.pipeline` over it. */
  private def source(spark: SparkSession): (MemoryStream[String], DataFrame) = {
    val ms = MemoryStream[String](spark, spark.sparkContext.defaultParallelism)(
      spark.implicits.newStringEncoder)
    (ms, FlightStream.pipeline(ms.toDF().withColumnRenamed("value", "json"), nowLit))
  }

  private def startSink(spark: SparkSession, staged: DataFrame,
      dir: String): (StreamingQuery, WarehouseSink) = {
    val sink = new WarehouseSink(spark, s"$dir/wh")
    (sink.start(staged, s"$dir/cp"), sink)
  }

  /** Runs one stream phase: `seconds` of offered load on a new sink, then
    * the drain, then the output checks. */
  def measure(spark: SparkSession, work: String, seed: Long,
      seconds: Double, log: ProgressLog, trace: Option[Trace]): Phase = {
    val gen = new FlightGen(seed, Pool)
    val (ms, staged) = source(spark)
    val dir = s"$work/run-${System.nanoTime()}"
    val (q, sink) = startSink(spark, staged, dir)
    log.target = q.id
    val chunks = mutable.ArrayBuffer.empty[Chunk]
    val expected = mutable.ArrayBuffer.empty[Ev]
    var backlogMax = 0L
    val reads = new ConcurrentLinkedQueue[Read]
    @volatile var stopReader = false
    val reader = new Thread(() => while (!stopReader) {
      readCurated(spark, sink, trace) match {
        case Some(r) => reads.add(r)
        case None => Thread.sleep(20) // no version committed yet
      }
    }, "curated-reader")
    reader.setDaemon(true)
    reader.start()

    def add(evs: Array[Ev], due: Int => Double): Unit = {
      val off = ms.addData(evs.iterator.map(_.json).toSeq) match {
        case o: org.apache.spark.sql.execution.streaming.runtime.LongOffset => o.offset
        case o => o.json.trim.toLong
      }
      val added = Clock.nowMs()
      val kept = evs.indices.filter(i => evs(i).keep).map(due).toArray
      chunks += Chunk(off, evs.length, kept, added - due(0))
      evs.foreach(e => if (e.keep) expected += e.copy(json = null))
      val done = log.committed
      backlogMax = math.max(backlogMax,
        chunks.reverseIterator.takeWhile(_.offset > done).map(_.events.toLong).sum)
    }

    val startMs = Clock.nowMs()
    val endMs = startMs + seconds * 1000
    // open loop: event i is due at start + i / rate, whatever the stream does
    var sent = 0L
    val tickMs = 20L
    while (Clock.nowMs() < endMs) {
      val now = Clock.nowMs()
      val due = ((now - startMs) * Rate / 1000).toLong
      if (due > sent) {
        val first = sent
        add(gen.take((due - sent).toInt), i => startMs + (first + i) * 1000 / Rate)
        sent = due
      }
      val next = startMs + (sent + 1) * 1000 / Rate
      val sleep = math.min(tickMs.toDouble, next - Clock.nowMs())
      if (sleep > 0) Thread.sleep(sleep.toLong, ((sleep % 1) * 1e6).toInt)
    }
    val lastOffset = chunks.lastOption.map(_.offset).getOrElse(-1L)
    // drain: every event offered in the window is measured until committed
    val drainDeadline = Clock.nowMs() + 60000
    while (log.committed < lastOffset && Clock.nowMs() < drainDeadline &&
        q.exception.isEmpty) Thread.sleep(10)
    stopReader = true
    reader.join(60000)
    q.stop()
    val windowMs = Clock.nowMs() - startMs
    val triggers = log.of(q.id)
    val uncommitted = chunks.filter(_.offset > log.committed)
    val lost = uncommitted.map(_.events.toLong).sum

    // ---- output checks (untimed)
    val checks = mutable.ArrayBuffer.empty[Check]
    q.exception.foreach(e => checks += Check("stream", ok = false, e.getMessage, lost.max(1)))
    val got = sink.warehouse.fact.select(col("flight_key"), col("status"),
      unix_micros(col("ingest_time"))).collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.get(2)}")
    val latest = expected.groupBy(_.key).values
      .map(_.maxBy(_.ingestMicros)).map(e => s"${e.key}|${e.status}|${e.ingestMicros}")
    checks += compare("warehouse_fact", latest.toSeq, got.toSeq)
    val versions = new java.io.File(s"$dir/wh").listFiles()
      .count(f => new java.io.File(f, "_COMMITTED").exists())
    val rs = reads.asScala.toSeq
    val bad = rs.filter(r => r.failed || r.digest != versionDigest(spark, s"$dir/wh", r.version))
    checks += Check("curated_reads", bad.isEmpty,
      s"${rs.size - bad.size}/${rs.size} reads returned exactly one committed version",
      bad.size.toLong)
    new Phase(chunks.toSeq, triggers, windowMs, backlogMax, q.id.toString,
      checks.toSeq, rs, got.length.toLong, versions, lost,
      uncommitted.map(_.keptDue.length.toLong).sum)
  }

  /** Trigger phases in the order a micro-batch runs them. */
  val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  private def compare(name: String, want: Seq[String], got: Seq[String]): Check = {
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val bad = (w.keySet ++ g.keySet).toSeq
      .map(k => math.abs(w.getOrElse(k, 0) - g.getOrElse(k, 0)).toLong).sum
    val dw = Digest.of(want)
    val dg = Digest.of(got)
    Check(name, bad == 0 && dw == dg,
      s"rows want=${want.size} got=${got.size} digest want=${dw.take(16)} got=${dg.take(16)}", bad)
  }

  private val VersionDir = ".*/v(\\d+)/fact/.*".r

  /** One full read of the curated view of the newest committed version. */
  private def readCurated(spark: SparkSession, sink: WarehouseSink,
      trace: Option[Trace]): Option[Read] = {
    val wh = sink.warehouse
    val version = wh.fact.inputFiles.collectFirst { case VersionDir(v) => v.toLong }
    version.map { v =>
      val sc = spark.sparkContext
      val id = trace.map(_.newId()).getOrElse(0L)
      val t0 = Clock.nowMs()
      try {
        val (plan, pMs, pId) = timed(trace, sc, "curated.plan", id) {
          val df = LoadCycle.curatedView(wh)
          df.queryExecution.executedPlan
          df
        }
        val (rows, eMs, eId) = timed(trace, sc, "curated.exec", id)(plan.collect())
        val t1 = Clock.nowMs()
        trace.foreach(_.add(Span(id, "curated.read", 0L, t0, t1)))
        Read(v, pMs, eMs, rowsDigest(rows, plan.columns), Seq(pId, eId), failed = false)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] curated read of v$v failed: $e")
          Read(v, 0, 0, "", Nil, failed = true)
      }
    }
  }

  private def timed[T](trace: Option[Trace], sc: org.apache.spark.SparkContext,
      name: String, parent: Long)(body: => T): (T, Double, Long) = trace match {
    case Some(t) => val (r, s) = t.span(sc, name, parent)(body); (r, s.ms, s.id)
    case None => val t0 = Clock.nowMs(); val r = body; (r, Clock.nowMs() - t0, 0L)
  }

  /** (flight_key, ingest_time) of every row: identifies the fact version. */
  private def rowsDigest(rows: Array[Row], cols: Array[String]): String = {
    val k = cols.indexOf("flight_key")
    val i = cols.indexOf("ingest_time")
    Digest.of(rows.map(r => s"${r.get(k)}|${r.get(i)}"))
  }

  private val factDigests = new java.util.concurrent.ConcurrentHashMap[String, String]

  private def versionDigest(spark: SparkSession, base: String, v: Long): String =
    factDigests.computeIfAbsent(s"$base/v$v", p => {
      val df = spark.read.parquet(s"$p/fact")
      rowsDigest(df.collect(), df.columns)
    })
}
