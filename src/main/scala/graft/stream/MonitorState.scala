package graft.stream

import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable bounded state for `foreachBatch` monitor sinks.
  *
  * The monitor sinks ([[Sinks.additive]] and the CUSUM sink in
  * [[StreamCuration]]) maintain a small state table whose merge is
  * exact (additive counts, or CUSUM's prefix step), which makes each
  * epoch's readout bit-identical to the batch operator over all arrived rows — but ONLY
  * if every arrived batch is merged exactly once. A driver-side
  * `AtomicReference` alone breaks that in two ways:
  *
  *  1. RESTART: source offsets commit under `checkpointLocation`, so a
  *     restarted query resumes PAST consumed data while an in-memory
  *     state reference resets to empty — the consumed rows are lost.
  *  2. REPLAY: `foreachBatch` is at-least-once; a failure-replayed
  *     epoch re-merges its delta and double-counts.
  *
  * This helper closes both: the state table is persisted as parquet
  * under `<dir>/e=<epochId>` after each merge (the tables are bounded —
  * bins / groups / digit grids — so a per-epoch write is cheap), the
  * newest `_SUCCESS`-committed epoch is reloaded on construction (so a
  * restart resumes rather than resets), and [[alreadyMerged]] lets the
  * sink skip the merge for a replayed epoch and re-emit its readout
  * from the already-merged state instead.
  *
  * Crash safety: on HDFS-like filesystems with atomic rename the
  * parquet commit is atomic via `_SUCCESS` (a dir without it is
  * ignored on reload). On object stores without rename atomicity
  * (S3A and similar) file visibility is not ordered with the
  * `_SUCCESS` marker, so a crashed commit could reload a partially
  * visible epoch dir — run the state dir on an HDFS-like store, or
  * front the object store with a rename-committing layer. The
  * previous committed epoch is kept until the next commit — a crash
  * between the state commit for epoch N and the stream's own offset
  * commit replays N, which [[alreadyMerged]] absorbs.
  *
  * `empty` declares the state table: every committed table has its
  * schema and is read back with it, so no read runs a footer job.
  */
final class MonitorState(spark: SparkSession, dir: String,
    empty: DataFrame) {
  private val root = new Path(dir)
  private val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committedEpochs(): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { st =>
      // parse defensively: a stray `e=garbage` entry must not kill
      // reload — only well-formed `_SUCCESS`-committed dirs count
      if (st.isDirectory && st.getPath.getName.startsWith("e=") &&
          fs.exists(new Path(st.getPath, "_SUCCESS")))
        scala.util.Try(st.getPath.getName.drop(2).toLong).toOption
      else None
    }

  @volatile private var lastEpoch: Long = {
    val es = committedEpochs()
    if (es.isEmpty) -1L else es.max
  }

  private val ref = new AtomicReference[DataFrame](
    if (lastEpoch < 0L) empty.localCheckpoint(eager = true)
    else spark.read.schema(empty.schema).parquet(s"$dir/e=$lastEpoch"))

  /** Epoch already merged into durable state (an at-least-once replay)
    * — merging it again would double-count. */
  def alreadyMerged(epochId: Long): Boolean = epochId <= lastEpoch

  /** Epoch is exactly the last merged one — its readout can be
    * re-emitted idempotently from the current state. */
  def isLast(epochId: Long): Boolean = epochId == lastEpoch

  /** The current merged state table (lineage-free). */
  def get: DataFrame = ref.get()

  /** Persist the merged table for `epochId`; returns the durable
    * (parquet-backed, lineage-free) frame to read out from and to merge
    * the next epoch into. Must be called with strictly increasing
    * epoch ids (guard with [[alreadyMerged]]). */
  def commit(next: DataFrame, epochId: Long): DataFrame = {
    require(epochId > lastEpoch,
      s"MonitorState.commit: epoch $epochId already merged (last " +
        s"committed $lastEpoch) — guard with alreadyMerged")
    val target = s"$dir/e=$epochId"
    // bounded tables: one file keeps reload and listing O(1)
    next.coalesce(1).write.mode("overwrite").parquet(target)
    val durable = spark.read.schema(empty.schema).parquet(target)
    ref.set(durable)
    val prev = lastEpoch
    lastEpoch = epochId
    // keep {prev, epochId}; prune anything older
    committedEpochs().filter(_ < prev).foreach { e =>
      // best-effort prune: swallow filesystem hiccups only — never
      // interrupts or other fatal errors
      try fs.delete(new Path(s"$dir/e=$e"), true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    durable
  }
}
