package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ordered-funnel maintenance — the online half of q216
  * ([[graft.ops.Analytics.funnel]]): per micro-batch, fold the new
  * events into one maintained MIN-arrival timestamp per (unit, stage)
  * and emit the refreshed stage-count funnel. State is |stages|
  * timestamps per unit — never an event list — the same bounded-state
  * shape as the batch operator's join chain.
  *
  * Two modes:
  *
  * [[startFunnelSink]] — arrival-order semantics (documented,
  * spec-pinned): stage-k arrivals evaluate STRICTLY AFTER the unit's
  * stage-(k−1) arrival as known AT BATCH TIME — in-order delivery
  * reproduces the batch funnel exactly (QualitySpec); an out-of-order
  * unlocking event (a view arriving AFTER a click already streamed
  * past) does not replay history — the standard approximation every
  * one-timestamp-per-stage streaming funnel makes.
  *
  * [[startWatermarkFunnelSink]] — event-time-watermark semantics: new
  * events BUFFER until the watermark (max event time seen − delay)
  * passes them, then fold into the finalized arrival state as a
  * complete by-event-time set. Under the watermark contract (no event
  * arrives after the watermark passes its timestamp), each fold sees
  * EVERY event in its event-time span regardless of arrival order, so
  * the incremental fold is provably ≡ the batch funnel over all
  * finalized events: arrivals only ever come from event times ≤ the
  * fold's watermark, and later folds carry strictly later event times,
  * so no later event can lower a finalized arrival or retro-unlock a
  * discarded candidate (a candidate discarded before its gate existed
  * has ts below the gate's later-set value — the batch chain discards
  * it too). State = finalized (unit, stage) arrivals + the in-horizon
  * buffer (bounded by the watermark delay × arrival rate). The
  * arrival-order caveat narrows to BEYOND-watermark lateness only.
  */
object StreamFunnel {

  private def emptyState(spark0: org.apache.spark.sql.SparkSession)
      : DataFrame =
    spark0.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("i",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.LongType))))

  /** Fold one (u, ts, st) event set into the (u, i, t) arrival state:
    * stage k's candidates gate strictly-after the JUST-refreshed stage
    * (k−1) arrival — the batch chain. Returns per-stage (u, t) frames
    * (each localCheckpointed: consumers are the next stage, the new
    * state, and the count emission). */
  private def foldChain(ev: DataFrame, oldState: DataFrame,
      stages: Seq[String]): Seq[DataFrame] = {
    var prevArr: DataFrame = null
    stages.zipWithIndex.map { case (st, i) =>
      val old = oldState.filter(col("i") === i)
        .select(col("u"), col("t"))
      val cand0 = ev.filter(col("st") === st)
      val cand = if (i == 0) cand0.select(col("u"), col("ts"))
        else cand0.join(prevArr.select(col("u"),
            col("t").as("tp")), "u")
          .filter(col("ts") > col("tp"))
          .select(col("u"), col("ts"))
      val fresh = cand.groupBy(col("u")).agg(min(col("ts")).as("t"))
      // null-safe key merge (Sinks.mergeOnKeys): a NULL u
      // must MERGE into one state row, not duplicate per epoch
      val (j, ks) = Sinks.mergeOnKeys(fresh,
        old.select(col("u"), col("t").as("told")), Seq("u"))
      val arr = j.select(ks :+
          least(coalesce(col("t"), col("told")),
            coalesce(col("told"), col("t"))).as("t"): _*)
        .localCheckpoint(true)
      prevArr = arr
      arr
    }
  }

  /** Stage counts + conversion ratios from per-stage arrival frames —
    * the q216 output shape. The unpartitioned window is |stages| rows
    * by construction. */
  private def funnelCounts(arrivals: Seq[DataFrame], stages: Seq[String])
      : DataFrame = {
    val counts = arrivals.zip(stages).zipWithIndex.map {
      case ((a, st), i) => a.agg(count(lit(1)).as("n_units"))
        .select(lit(i + 1L).as("stage_idx"), lit(st).as("stage"),
          col("n_units"))
    }.reduce(_.unionByName(_))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("stage_idx"))
    counts
      .withColumn("prev", lag(col("n_units"), 1).over(w))
      .withColumn("first", first(col("n_units")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .select(col("stage_idx"), col("stage"), col("n_units"),
        round(col("n_units").cast("double") /
          col("prev").cast("double"), 6).as("conv_prev"),
        round(col("n_units").cast("double") /
          col("first").cast("double"), 6).as("conv_first"))
  }

  def startFunnelSink(eventStream: DataFrame, unitCol: String,
      tsCol: String, stageCol: String, stages: Seq[String],
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(stages.nonEmpty, "startFunnelSink: no stages")
    val spark0 = eventStream.sparkSession
    // state: (u, i, t) — min arrival per (unit, stage index)
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](
      emptyState(spark0).localCheckpoint(true))
    Sinks.start(eventStream, checkpointDir) { (batch, epochId) =>
      val ev = batch.select(col(unitCol).cast("string").as("u"),
        col(tsCol).cast("long").as("ts"), col(stageCol).as("st"))
        .localCheckpoint(true) // one consumer per stage below
      val arrivals = foldChain(ev, state.get(), stages)
      val next = arrivals.zipWithIndex.map { case (a, i) =>
        a.select(col("u"), lit(i).as("i"), col("t"))
      }.reduce(_.unionByName(_)).localCheckpoint(true)
      state.set(next)
      sink(funnelCounts(arrivals, stages), epochId)
    }
  }

  /** Event-time-watermark funnel: buffer events until
    * `watermark = max(event time seen) − delay` passes them, then fold
    * the expired set (complete by event time under the watermark
    * contract) into the finalized arrivals and emit the funnel over
    * FINALIZED events only. Arrival order within the watermark cannot
    * change the result (spec-pinned batch ≡ stream under shuffled
    * arrival); only beyond-watermark lateness is dropped. */
  def startWatermarkFunnelSink(eventStream: DataFrame, unitCol: String,
      tsCol: String, stageCol: String, stages: Seq[String],
      delay: Long, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(stages.nonEmpty, "startWatermarkFunnelSink: no stages")
    require(delay >= 0L, s"startWatermarkFunnelSink: delay=$delay")
    val spark0 = eventStream.sparkSession
    val emptyBuf = spark0.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("st",
          org.apache.spark.sql.types.StringType))))
    // state: finalized arrivals, in-horizon buffer, max event time
    val state = new java.util.concurrent.atomic.AtomicReference[
      (DataFrame, DataFrame, Long)](
      (emptyState(spark0).localCheckpoint(true),
        emptyBuf.localCheckpoint(true), Long.MinValue))
    Sinks.start(eventStream, checkpointDir) { (batch, epochId) =>
      val (finalArr, buffer, maxTs) = state.get()
      // NULL timestamps are dropped AT INGEST, explicitly: without
      // this filter they would vanish silently anyway (ts <= wm and
      // ts > wm are both NULL → neither expired nor retained) —
      // making the drop a documented contract instead of an
      // accident, matching a batch funnel run on ts-non-null input
      val ev = batch.select(col(unitCol).cast("string").as("u"),
        col(tsCol).cast("long").as("ts"), col(stageCol).as("st"))
        .filter(col("ts").isNotNull)
      val pooled = buffer.unionByName(ev)
        .localCheckpoint(true) // consumers: max, expired, kept
      val batchMax = pooled.agg(max(col("ts"))).first()
      val newMax = math.max(maxTs,
        if (batchMax.isNullAt(0)) Long.MinValue else batchMax.getLong(0))
      // saturating subtraction: Long.MinValue − delay must not wrap
      val wm = if (newMax == Long.MinValue) Long.MinValue
        else newMax - delay
      val expired = pooled.filter(col("ts") <= wm)
      val kept = pooled.filter(col("ts") > wm).localCheckpoint(true)
      val arrivals = foldChain(expired, finalArr, stages)
      val next = arrivals.zipWithIndex.map { case (a, i) =>
        a.select(col("u"), lit(i).as("i"), col("t"))
      }.reduce(_.unionByName(_)).localCheckpoint(true)
      state.set((next, kept, newMax))
      sink(funnelCounts(arrivals, stages), epochId)
    }
  }
}
