package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

/** The one way a stream sink starts. Every `foreachBatch` sink in the
  * engine goes through [[start]], so the output mode, the checkpoint
  * and the empty-batch policy are decided here and nowhere else
  * (the reference's single sink: flight_stream.py:273-341).
  *
  * `foreachBatch` is at-least-once: after a failure the last
  * uncommitted epoch runs again with the same id over the same rows
  * (the source is replayable). End-to-end exactly-once therefore needs
  * a sink that is idempotent per epoch id (Structured Streaming,
  * SIGMOD 2018). [[additive]] is that sink for every monitor whose
  * state is an additive count table. */
object Sinks {

  /** Append output, `checkpointDir` as the checkpoint, and `body`
    * called only for non-empty micro-batches (the S7 guard). */
  def start(stream: DataFrame, checkpointDir: String)
      (body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) body(batch, epochId)
      }
      .start()

  /** Null-safe full-outer join of accumulated state `st` with a delta
    * `part` on `keys`, plus the coalesced key columns to re-select. A
    * plain equi-key `full_outer` never matches a NULL key (a
    * null/uncastable period, group, value or bin), so the null-key row
    * would duplicate in the state every epoch; `<=>` merges it once. */
  private[stream] def mergeOnKeys(st: DataFrame, part: DataFrame,
      keys: Seq[String]): (DataFrame, Seq[Column]) = {
    val cond = keys.map(k => st(k) <=> part(k)).reduce(_ && _)
    (st.join(part, cond, "full_outer"),
      keys.map(k => coalesce(st(k), part(k)).as(k)))
  }

  /** A monitor sink whose state is an additive table: `keys` plus
    * numeric columns that sum across batches. `delta` turns one
    * micro-batch into a table with `stateSchema`'s column names; it is
    * merged into the state by [[mergeOnKeys]] and
    * `coalesce(state, 0) + coalesce(delta, 0)` per non-key column.
    * Because the counts are exact, each readout is bit-identical to the
    * batch operator over every arrived row, under any batch split. The
    * merged table is committed under `checkpointDir/graft-monitor-state`
    * ([[MonitorState]]) before `sink(readout(state), epochId)`, so that
    * holds across restart and replay too:
    *  - a restarted query resumes the committed state instead of
    *    resetting while the source offsets move on;
    *  - a replayed epoch is not merged again; if it is the last
    *    committed one, its readout is emitted again from the state. */
  def additive(stream: DataFrame, checkpointDir: String, keys: Seq[String],
      stateSchema: StructType)(delta: DataFrame => DataFrame)(
      readout: DataFrame => DataFrame,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val spark = stream.sparkSession
    val state = new MonitorState(spark,
      checkpointDir + "/graft-monitor-state",
      spark.createDataFrame(new java.util.ArrayList[Row](), stateSchema))
    start(stream, checkpointDir) { (batch, epochId) =>
      if (state.alreadyMerged(epochId)) {
        if (state.isLast(epochId)) sink(readout(state.get), epochId)
      } else {
        val st = state.get
        val part = delta(batch)
        val (j, _) = mergeOnKeys(st, part, keys)
        val next = j.select(stateSchema.fields.toSeq.map { f =>
          val (s, d) = (st(f.name), part(f.name))
          val zero = lit(0).cast(f.dataType)
          val merged =
            if (keys.contains(f.name)) coalesce(s, d)
            else coalesce(s, zero) + coalesce(d, zero)
          merged.cast(f.dataType).as(f.name)
        }: _*)
        sink(readout(state.commit(next, epochId)), epochId)
      }
    }
  }
}
