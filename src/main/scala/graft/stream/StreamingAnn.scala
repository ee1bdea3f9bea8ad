package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Ann

/** Streaming ANN serving over a static, pre-trained IVF·PQ index — the
  * online half of the q135 pipeline: the index ([[Ann.ivfPqIndex]]) is
  * trained and encoded ONCE (persist its `codes` table), and each
  * micro-batch of query vectors probes + ADC-scores against it in
  * `foreachBatch` (per-batch batch semantics — the per-query top-k is a
  * rank over THIS batch's candidates, which no streaming output mode
  * expresses natively).
  *
  * State story: the only long-lived state is the static index — shared
  * by every batch, bounded by corpus size, zero per-stream state. A
  * batch's cost is the q135 contract: nprobe/kCells of the code table
  * per query, broadcast probe tables, no nested loop. Results are
  * bit-identical to calling [[Ann.ivfPqSearch]] on the same rows as a
  * batch (asserted by StreamingAnnSpec) — the batch/streaming
  * same-semantics claim the rest of the library makes, extended to ANN.
  */
object StreamingAnn {

  /** Start a query-vector stream against `index`: each micro-batch is
    * searched (top-`k` within `nprobe` probed cells) and handed to
    * `sink` with its epoch id. Empty batches skip the search (the S7
    * guard). */
  def startIvfPqSink(index: Ann.IvfPqIndex, queryStream: DataFrame,
      nprobe: Int, k: Int, checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : StreamingQuery =
    Sinks.start(queryStream, checkpointDir) { (batch, epochId) =>
      sink(Ann.ivfPqSearch(index, batch, nprobe, k, idCol, vecCol),
        epochId)
    }

  /** Streaming INDEX maintenance — the [[Ann.ivfPqAppend]] contract on
    * a vector stream: each micro-batch of new corpus vectors is encoded
    * under the index's FROZEN codebooks (one zero-join projection per
    * batch; the existing code table is never touched) and the code
    * batch is handed to `sink` to append to wherever the serving code
    * table lives. The union of all emitted batches is bit-identical to
    * a frozen-book encode of the unioned vectors (StreamingAnnSpec) —
    * so a restart replays idempotently onto an append-dedup sink, and
    * re-training stays an offline decision ([[Ann.ivfPqIndex]]). Empty
    * batches skip the encode (the S7 guard). */
  def startIvfPqIndexSink(index: Ann.IvfPqIndex, vecStream: DataFrame,
      checkpointDir: String, sink: (DataFrame, Long) => Unit,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : StreamingQuery =
    Sinks.start(vecStream, checkpointDir) { (batch, epochId) =>
      sink(Ann.ivfPqAppend(index.copy(codes = index.codes.limit(0)),
        batch, idCol, vecCol).codes, epochId)
    }

  /** [[startIvfPqIndexSink]] for an OPQ index ([[Ann.opqIvfPqIndex]]):
    * each micro-batch permutes into the index's coordinate space
    * before the frozen-book encode ([[Ann.opqAppend]]). Appending
    * UN-permuted vectors to a permuted-space index would silently
    * encode garbage, so the permutation is part of the sink — not a
    * caller obligation. Same identity as the plain sink: the union of
    * emitted batches ≡ one batch [[Ann.opqAppend]] of the unioned
    * vectors (StreamingAnnSpec), restarts replay idempotently, empty
    * batches skip (the S7 guard). */
  def startOpqIndexSink(index: Ann.IvfPqIndex, perm: Seq[Int],
      vecStream: DataFrame, checkpointDir: String,
      sink: (DataFrame, Long) => Unit,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : StreamingQuery =
    Sinks.start(vecStream, checkpointDir) { (batch, epochId) =>
      sink(Ann.opqAppend(index.copy(codes = index.codes.limit(0)),
        perm, batch, idCol, vecCol).codes, epochId)
    }

  /** Streaming ingest-time decontamination — [[Ann.semanticDecontam]]
    * on an arriving corpus-vector stream: each micro-batch is scored
    * against the static (broadcast, eval-set-sized) benchmark and its
    * flagged rows handed to `sink` — the admission-control shape where
    * leaked training vectors are caught BEFORE they land in the corpus
    * rather than by a later sweep. Per-row decision (a vector's flag
    * depends only on itself and the benchmark), so the union of batch
    * outputs is bit-identical to the batch decontam of the unioned
    * vectors (StreamingAnnSpec) and restarts replay idempotently. Empty
    * batches skip the scan (the S7 guard). */
  def startDecontamSink(benchmark: DataFrame, vecStream: DataFrame,
      tau: Double, checkpointDir: String, sink: (DataFrame, Long) => Unit,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : StreamingQuery =
    Sinks.start(vecStream, checkpointDir) { (batch, epochId) =>
      sink(Ann.semanticDecontam(batch, benchmark, tau, idCol, vecCol),
        epochId)
    }
}
