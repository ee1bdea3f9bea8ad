package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Quality

/** Streaming classifier serving — the train-once/serve-many split of
  * q154/q156 taken online: an [[Quality.NbModel]] is trained ONCE
  * offline ([[Quality.nbTrain]]; its tables are materialized and
  * broadcast-sized), and each micro-batch of arriving documents is
  * classified in `foreachBatch` — the ingest-time language/quality
  * ROUTING stage of a curation pipeline (CCNet routes by fastText
  * language id before any other filter; this is that admission shape).
  *
  * State story: the only long-lived state is the static model, bounded
  * by labels × seen-vocab, zero per-stream state. A doc's prediction
  * depends only on itself and the model, so the union of batch outputs
  * is bit-identical to the batch classification of the unioned docs
  * (QualitySpec) and at-least-once replay is idempotent. Empty batches
  * skip the scan (the S7 guard). Re-training is an offline decision —
  * swap the model between restarts, exactly like the IVF·PQ serving
  * index ([[StreamingAnn]]).
  */
object StreamClassify {

  def startLangRouteSink(model: Quality.NbModel, docStream: DataFrame,
      idCol: String, textCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    Sinks.start(docStream, checkpointDir) { (batch, epochId) =>
      sink(Quality.nbClassify(model, batch, col(idCol), col(textCol),
        materialize = identity), epochId)
    }

  /** Streaming admission via the DISTILLED gate ([[Quality
    * .logregDistill]] trained offline on the expensive rule gate, its
    * (bucket, w) vector served here): each arriving doc gets its
    * snapped margin, σ(margin), and the admit bit — the production
    * point of distillation, where the cheap model replaces the
    * expensive gate AT INGEST. Same state story as the NB router: the
    * only long-lived state is the broadcast-sized weight vector; a
    * decision depends only on (doc, weights), so batch boundaries are
    * invisible (union-of-batches ≡ batch scoring, QualitySpec) and
    * replay is idempotent. The admit DECISION is the margin's sign —
    * no transcendental can flip it. Re-training is an offline weight
    * swap between restarts, the IVF·PQ / NB artifact convention. */
  def startLogregGateSink(weights: DataFrame, docStream: DataFrame,
      idCol: String, textCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit, nBuckets: Int = 32): StreamingQuery =
    Sinks.start(docStream, checkpointDir) { (batch, epochId) =>
      sink(Quality.logregScore(weights, batch, col(idCol),
        col(textCol), nBuckets), epochId)
    }
}
