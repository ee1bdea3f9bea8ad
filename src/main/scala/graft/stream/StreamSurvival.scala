package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming Kaplan–Meier — the q254 curve maintained at ingest (the
  * 17th sink). The stream carries FINALIZED units (duration, event) —
  * unit finalization (first view → first later purchase vs censor) is
  * an upstream, stateful decision; this sink owns the curve. Its state
  * is the per-step (t, d, leave) LONG count table: exact integers,
  * additive across ANY batching or arrival order, so the emitted curve
  * is bit-identical to batch [[graft.ops.Survival.kaplanMeier]] over
  * the union of all arrived units (SurvivalSpec pins shuffled-split
  * equality). Uniquely in the sink family the state is CALENDAR-GRID-
  * sized — one row per day of the observation window, not one per unit:
  * the tightest bounded-state shape any sink here achieves, and the
  * reason a 100 TB unit stream costs the same driver-side state as a
  * 100-row one. Empty batches skip (the S7 guard). At-least-once
  * replay of a batch is NOT idempotent for counts, so the state goes
  * through [[Sinks.additive]]: persisted per committed epoch, resumed
  * on restart, and a replayed epoch is never merged twice. */
object StreamSurvival {

  def startKmSink(unitStream: DataFrame, durationCol: String,
      eventCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    Sinks.additive(unitStream, checkpointDir, Seq("t"),
        StructType.fromDDL("t BIGINT, d BIGINT, leave BIGINT")) {
      batch => batch.select(
          col(durationCol).cast("long").as("t"),
          col(eventCol).cast("boolean").as("e"))
        .groupBy(col("t"))
        .agg(sum(when(col("e"), 1L).otherwise(0L)).as("d"),
          count(lit(1)).as("leave"))
    }(graft.ops.Survival.kaplanMeierFromCounts, sink)

  /** Streaming Aalen–Johansen cumulative incidence — q261 maintained
    * at ingest (the 18th sink): the stream carries finalized units
    * (duration, cause — NULL = censored). State is ONE exact long
    * count table (t, k, n) with k = NULL for censored units; both
    * tables the curves need — the all-cause per-step (t, d, leave) and
    * the per-(t, cause) event counts — derive from it at readout. It
    * is additive across any batching, so each epoch's CIF curves are
    * bit-identical to batch [[graft.ops.Survival.cumulativeIncidence]]
    * over the union of all arrived units (SurvivalSpec pins
    * shuffled-split equality). State is calendar-grid × causes — the
    * q254-sink bounded-state shape with a |causes|+1 factor — and
    * persists through [[Sinks.additive]] like the KM sink's. */
  def startCifSink(unitStream: DataFrame, durationCol: String,
      causeCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    Sinks.additive(unitStream, checkpointDir, Seq("t", "k"),
        StructType.fromDDL("t BIGINT, k STRING, n BIGINT")) {
      batch => batch.select(col(durationCol).cast("long").as("t"),
          col(causeCol).cast("string").as("k"))
        .groupBy(col("t"), col("k")).agg(count(lit(1)).as("n"))
    }(st => graft.ops.Survival.cumulativeIncidenceFromCounts(
      st.groupBy(col("t"))
        .agg(sum(when(col("k").isNotNull, col("n")).otherwise(0L))
            .as("d"),
          sum(col("n")).as("leave")),
      st.filter(col("k").isNotNull)
        .select(col("t"), col("k"), col("n").as("dk"))), sink)
}
