package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** What one run submits to the scheduler: its jobs, each with its stage
  * count and leaf-stage callsite (the action or exchange that submitted
  * it), and per-stage task totals. `reset()` before a run, read after.
  * The job count is the many-tiny-jobs signal: on a real cluster a query
  * pays about 100 ms of scheduler latency per job, whatever its data. */
final class RunListener extends SparkListener {
  import RunListener._

  private val jobList = mutable.ArrayBuffer[Job]()
  private val stageTotals = mutable.Map[Int, Stage]()

  def reset(): Unit = synchronized { jobList.clear(); stageTotals.clear() }

  def jobs: Vector[Job] = synchronized(jobList.toVector)

  /** Stages by executor time, longest first. */
  def stages: Vector[Stage] =
    synchronized(stageTotals.values.toVector).sortBy(-_.executorMs)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val leaf = js.stageInfos.sortBy(_.stageId).lastOption
      .map(_.name.takeWhile(_ != '\n')).getOrElse("?")
    synchronized { jobList += Job(js.jobId, js.stageInfos.size, leaf.take(70)) }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val s = stageTotals.getOrElse(te.stageId, Stage(te.stageId, 0, 0L, 0L, 0L))
    val m = te.taskMetrics
    stageTotals(te.stageId) =
      if (m == null) s.copy(tasks = s.tasks + 1)
      else Stage(s.id, s.tasks + 1, s.executorMs + m.executorRunTime,
        s.recordsIn + m.shuffleReadMetrics.recordsRead +
          m.inputMetrics.recordsRead,
        s.recordsOut + m.shuffleWriteMetrics.recordsWritten)
  }
}

object RunListener {
  final case class Job(id: Int, stages: Int, leaf: String)
  final case class Stage(id: Int, tasks: Int, executorMs: Long,
      recordsIn: Long, recordsOut: Long)
}
