package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming exact deduplication — the streaming-native form of
  * [[graft.ops.Dedup.exactDedup]] for at-least-once ingest (the
  * reference's duplicate staging appends, SURVEY ST4).
  *
  * `dropDuplicatesWithinWatermark` keeps one state row per key only
  * until the event-time watermark passes it + `delay` — the same
  * bounded-state property as [[StatefulLatest]]: state size tracks keys
  * active within the horizon, not stream history.
  */
object StreamDedup {

  def exactDedupStream(df: DataFrame, keys: Seq[String],
      eventTimeCol: String, delay: String): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming NEAR-duplicate filtering — the streaming form of the
    * batch MinHash+LSH pipeline (q21), with bounded state.
    *
    * The native [[graft.expr.catalyst.MinhashSig]] computes a doc's
    * whole signature in one projection, so banding needs NO aggregation
    * (the batch form's groupBy): band `i`'s signature is the
    * order-independent concat of its two member hashes — the exact
    * [[graft.ops.TextDedup.lshCandidates]] contract — built with
    * `least`/`greatest` over array slots. The ONLY stateful operator is
    * `dropDuplicatesWithinWatermark` on (band, band_sig): state holds
    * one row per distinct band signature seen within the watermark
    * horizon, never the corpus.
    *
    * Output: the first-seen (id, eventTime, band, band_sig) rows. A doc
    * emitting ZERO rows matched every band already seen — a near-dup
    * candidate; a doc emitting all `numHashes/2` bands is novel.
    * Downstream (foreachBatch or a consumer join) classifies; docs
    * shorter than `n` tokens have NULL signatures and emit nothing. */
  def nearDupBandStream(df: DataFrame, idCol: String, textCol: String,
      eventTimeCol: String, delay: String, n: Int = 3,
      numHashes: Int = 8): DataFrame = {
    require(numHashes % 2 == 0, "numHashes must be even (2 hashes per band)")
    val sig = org.apache.spark.sql.GraftBridge.column(
      graft.expr.catalyst.MinhashSig(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)),
        n, numHashes))
    val bandStructs = (0 until numHashes / 2).map { i =>
      val a = element_at(col("__sig"), 2 * i + 1) // element_at is 1-based
      val b = element_at(col("__sig"), 2 * i + 2)
      struct(lit(i.toLong).as("band"),
        concat_ws("|", least(a, b).cast("string"),
          greatest(a, b).cast("string")).as("band_sig"))
    }
    df.select(col(idCol), col(eventTimeCol), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol), col(eventTimeCol),
        explode(array(bandStructs: _*)).as("__b"))
      .select(col(idCol), col(eventTimeCol),
        col("__b.band").as("band"), col("__b.band_sig").as("band_sig"))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(Seq("band", "band_sig"))
  }

  /** Streaming dedup-GROUP maintenance — the online half of q152: a
    * maintained (node, comp) labeling folds in each micro-batch of new
    * candidate edges via [[graft.ops.Graph.incrementalComponents]]
    * (contract-and-relabel: batch-bounded CC on the contracted graph,
    * ONE label-keyed remap join), and the updated labeling goes to
    * `sink`. The batch pipeline mines candidates; this keeps the
    * cluster view current between re-mines — the graph analog of
    * [[StreamingAnn.startIvfPqIndexSink]]'s frozen-book append.
    *
    * State story: the only long-lived state is the labeling itself —
    * node-sized (grows only with nodes seen, never with edge history),
    * re-materialized per batch with truncated lineage so plans stay
    * batch-shaped. Replay is IDEMPOTENT by construction: re-folding
    * already-merged edges contracts every endpoint to the same label
    * and changes nothing (GraphSpec) — so at-least-once delivery and
    * restart-with-reseed (pass the sink's last persisted labeling as
    * `initialLabels`) are both safe. Empty batches skip (S7 guard). */
  def startDedupGroupSink(initialLabels: DataFrame, edgeStream: DataFrame,
      srcCol: String, dstCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](
      initialLabels.localCheckpoint(true))
    Sinks.start(edgeStream, checkpointDir) { (batch, epochId) =>
      val next = graft.ops.Graph.incrementalComponents(
        state.get(), batch, srcCol, dstCol).localCheckpoint(true)
      state.set(next)
      sink(next, epochId)
    }
  }
}
