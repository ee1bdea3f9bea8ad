package graft.stream

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming materialized-view maintenance: the streaming driver for
  * [[graft.ops.Merge.incrementalAggApply]] (q100's batch law) — a CDC
  * change stream (rows shaped like [[graft.ops.Merge.changeFeedFull]]
  * output: `old_*` / `new_*` payload sides + `change`) keeps a per-group
  * (n, sum_v) view current by delta-applying every micro-batch.
  *
  * Why foreachBatch and not a streaming aggregation: the deltas are
  * RETRACTABLE (deletes subtract), which Structured Streaming's append
  * aggregations can't express without complete-mode re-emission of the
  * whole result; the delta-apply form touches only changed groups per
  * batch, which is the 100 TB property.
  *
  * State layering, same contract as [[WarehouseSink]]: the view is
  * swapped atomically per batch (readers see batch N or N+1, never a
  * torn mix) and each batch's state is materialized with truncated
  * lineage, so plan depth does not grow with stream history. The view
  * lives in memory on the driver-side reference — for restart-safe
  * persistence, version it through [[WarehouseSink]]'s write-then-swap
  * directories; this class is the maintenance algebra, not the storage.
  *
  * The streaming law mirrors q100's batch law: after any prefix of CDC
  * batches, the view ≡ the direct aggregate of (initial snapshot +
  * applied changes) — StatefulStreamSpec asserts exact decimal equality.
  */
object StreamMv {

  /** Start maintaining `initial` (a (grp, n, sum_v) aggregate) against
    * the CDC `feed` stream. Returns the query and a live view accessor.
    * `initial` must already be materialized (it is re-read per batch). */
  def start(feed: DataFrame, initial: DataFrame, grp: String, value: String,
      checkpointDir: String): (StreamingQuery, () => DataFrame) = {
    val state = new AtomicReference[DataFrame](initial)
    val q = Sinks.start(feed, checkpointDir) { (batch, _) =>
      // delta-apply, then swap: lineage truncated per batch so the
      // plan never deepens with stream history
      val next = graft.ops.Merge
        .incrementalAggApply(state.get(), batch, grp, value)
        .localCheckpoint(true)
      state.set(next)
    }
    (q, () => state.get())
  }
}
