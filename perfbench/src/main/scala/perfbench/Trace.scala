package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed region. Times are epoch milliseconds (fractional), so spans from
  * the benchmark's clock and from Spark's listener events line up. */
final case class Span(id: Long, name: String, parent: Long, start: Double,
    end: Double, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** One Spark job and the metrics of its tasks. `tag` is the span the job
  * ran under: the `perfbench.span` local property, or the trigger for
  * jobs a stream submits. */
final class JobRec(val jobId: Int, val tag: String, val start: Double,
    val callSite: String) {
  @volatile var end: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var outputBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Span store plus the Spark listener that attaches jobs, stages and tasks
  * to spans. Spans stay in memory and are written out once, at the end. */
final class Trace(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(0)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]

  private val parents = new java.util.concurrent.ConcurrentHashMap[String, Long]

  def newId(): Long = ids.incrementAndGet()
  /** Jobs tagged `tag` (a stream trigger) attach to span `id`. */
  def tagParent(tag: String, id: Long): Unit = parents.put(tag, id)
  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq
  def jobRecs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
  def jobsTagged(tag: String): Seq[JobRec] = jobRecs.filter(_.tag == tag)

  /** Time `body` as a span; jobs it submits from this thread attach to it. */
  def span[T](sc: SparkContext, name: String, parent: Long)(body: => T): (T, Span) = {
    val id = newId()
    val prev = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    val t0 = Clock.nowMs()
    try {
      val r = body
      val s = Span(id, name, parent, t0, Clock.nowMs())
      add(s)
      (r, s)
    } finally sc.setLocalProperty(Trace.SpanKey, prev)
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val tag = prop(Trace.SpanKey).map("span:" + _)
        .orElse(prop("streaming.sql.batchId").map(b =>
          s"trigger:${prop("sql.streaming.queryId").getOrElse("")}:$b"))
        .getOrElse("untagged")
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      val rec = new JobRec(e.jobId, tag, e.time.toDouble, site)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageToJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId)).foreach { j =>
        j.synchronized { j.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          j.taskIntervals += ((e.taskInfo.launchTime.toDouble,
            e.taskInfo.finishTime.toDouble))
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuMs += m.executorCpuTime / 1e6
            j.gcMs += m.jvmGCTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  /** Per span name: total time minus the time of its child spans. */
  def selfTimes: Map[String, Double] = {
    val all = this.all
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Writes every span (and every job as a span) as one JSON document. */
  def write(path: java.nio.file.Path, extra: String): Unit = {
    val sb = new StringBuilder
    sb.append("{\"run_id\":").append(Json.str(runId)).append(",\"spans\":[")
    var first = true
    def one(id: Long, name: String, parent: Long, start: Double, end: Double,
        attrs: Map[String, Any]): Unit = {
      if (!first) sb.append(',')
      first = false
      sb.append("{\"id\":").append(id).append(",\"name\":").append(Json.str(name))
        .append(",\"parent\":").append(parent)
        .append(",\"start\":").append(Json.num(start))
        .append(",\"end\":").append(Json.num(end))
        .append(",\"run_id\":").append(Json.str(runId))
      if (attrs.nonEmpty) sb.append(",\"attrs\":").append(Json.obj(attrs))
      sb.append('}')
    }
    all.sortBy(_.start).foreach(s => one(s.id, s.name, s.parent, s.start, s.end, s.attrs))
    jobRecs.foreach { j =>
      val parent = if (j.tag.startsWith("span:")) j.tag.drop(5).toLong
        else parents.getOrDefault(j.tag, 0L)
      one(-1L - j.jobId, "job", parent, j.start, j.end, Map(
        "tag" -> j.tag, "call_site" -> j.callSite, "stages" -> j.stages,
        "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ms" -> j.cpuMs,
        "gc_ms" -> j.gcMs, "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "output_bytes" -> j.outputBytes))
    }
    sb.append("],\"summary\":").append(extra).append('}')
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Time inside `[start, end]` during which no task of `jobs` ran. */
  def idleMs(start: Double, end: Double, jobs: Seq[JobRec]): Double = {
    val iv = jobs.flatMap(j => j.synchronized(j.taskIntervals.toList))
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, (end - start) - covered)
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def any(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Seq[_] => s.map(any).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => str(k) + ":" + any(v) }.mkString("{", ",", "}")
}
