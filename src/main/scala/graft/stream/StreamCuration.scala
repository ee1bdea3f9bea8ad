package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming example construction — [[graft.ops.Packing.spanCorruption]]
  * on an arriving document stream: each micro-batch of new documents is
  * masked into (input, target) denoising examples at ingest time. The
  * masking is a pure per-document function of (doc, startPct, spanLen)
  * — md5-derived span starts, no RNG state, no cross-document
  * dependence — so the union of batch outputs is bit-identical to the
  * batch construction over the unioned docs (CurationOpsSpec) and
  * at-least-once replay is idempotent. Zero long-lived state; empty
  * batches skip (the S7 guard). The same split as every serving sink
  * here: parameters decided offline, per-batch work purely functional.
  *
  * The monitor sinks below keep an additive count table through
  * [[Sinks.additive]], which persists it per committed epoch under
  * `checkpointDir/graft-monitor-state`: restarts resume the merged
  * state, and a replayed epoch re-emits its readout without merging
  * again. Each sink states only its delta and its readout.
  */
object StreamCuration {

  def startSpanCorruptionSink(docStream: DataFrame, idCol: String,
      textCol: String, startPct: Int, spanLen: Int, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    Sinks.start(docStream, checkpointDir) { (batch, epochId) =>
      sink(graft.ops.Packing.spanCorruption(batch, col(idCol),
        col(textCol), startPct, spanLen), epochId)
    }

  /** ADMISSION-TIME curation gating — the q182 funnel's per-row gates
    * applied to each arriving micro-batch against STATIC serving
    * artifacts (the train-once/serve-many split, three models at once):
    * Gopher rules (pure per-row), the per-source NLL gate scored
    * against a broadcastable (term, p) unigram-probability table with
    * per-source thresholds, and bloom-staged decontamination against a
    * fixed mask. Emits one row per doc with the three flags and the
    * conjunctive `admit` bit — route-or-drop is the sink's choice.
    * Every decision is a pure function of (row, static artifacts), so
    * union-of-batches ≡ batch gating of the unioned docs and replay is
    * idempotent; the dedup gate is deliberately NOT here — canonical
    * retention needs maintained state, which is
    * [[StreamDedup.startDedupGroupSink]]'s job downstream.
    *
    * `probs` = (term, p); `thresholds` = (source, threshold) — both
    * model-sized and broadcast; `benchMask` = a
    * [[graft.ops.Sketch.bloomMask]] one-row frame. NLL scoring follows
    * the q73 contract (Snap 1e9 sum, 4-dp mean); unseen terms get
    * `pUnseen` (the corpus-min probability is the usual choice). */
  def startAdmissionSink(docStream: DataFrame, idCol: String,
      textCol: String, sourceCol: String,
      probs: DataFrame, pUnseen: Double, thresholds: DataFrame,
      benchMask: DataFrame, bits: Int, k: Int,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.expr.{Snap, TextStats}
    Sinks.start(docStream, checkpointDir) { (batch, epochId) =>
      val base = batch.select(col(idCol).as("doc_id"),
        col(textCol).as("text"), col(sourceCol).as("source"))
      val gopher = TextStats.gopherRules(base, col("doc_id"),
          col("text"))
        .select(col("doc_id"), col("keep").as("f_gopher"))
      val nll = base
        .select(col("doc_id"),
          explode(TextStats.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .join(broadcast(probs), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tok"),
          round(-Snap.snappedSum(col("tf").cast("double") *
              log(coalesce(col("p"), lit(pUnseen))), 1e9) /
            sum(col("tf")).cast("double"), 4).as("nll"))
      val contaminated = graft.ops.Sketch.bloomPruneMask(
          graft.ops.TextDedup.shingleSet(base, col("doc_id"),
            col("text"), 5),
          col("shingle"), benchMask, bits, k)
        .select(col("doc_id")).distinct()
        .withColumn("f_hit", lit(true))
      val flags = base.select(col("doc_id"), col("source"))
        .join(gopher, "doc_id")
        .join(nll.select(col("doc_id"), col("nll")), "doc_id")
        .join(broadcast(thresholds), "source")
        .join(contaminated, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("f_gopher"),
          (col("nll") <= col("threshold")).as("f_nll"),
          col("f_hit").isNull.as("f_clean"))
        .withColumn("admit",
          col("f_gopher") && col("f_nll") && col("f_clean"))
      sink(flags, epochId)
    }
  }

  /** Per-epoch PSI drift of an arriving score stream against a STATIC
    * reference corpus (q175's monitor at ingest time): each micro-batch
    * reports, per group, how far its score distribution sits from the
    * reference — the alarm a scored admission pipeline needs while the
    * gate is live. The reference is an offline decision (the same
    * train-once/serve-many split as the NB model and the IVF·PQ
    * index); per-batch work is one psiDrift over (reference, batch).
    * Bin edges derive from reference ∪ batch min/max, so each epoch is
    * a self-contained diagnostic (documented: a batch extending the
    * score range re-bins its own epoch, never past ones). Uses
    * `identity` materialization inside the batch — micro-batches are
    * small and a checkpoint per epoch would dominate. */
  def startPsiDriftSink(reference: DataFrame, scoreStream: DataFrame,
      grpCol: String, xCol: String, bins: Int, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    Sinks.start(scoreStream, checkpointDir) { (batch, epochId) =>
      sink(graft.ops.Analytics.psiDrift(reference, batch,
        col(grpCol), col(xCol), bins, materialize = df => df), epochId)
    }

  /** The per-period LONG count table shared by the changepoint, trend
    * and Pettitt sinks: calendar-grid-sized and exactly additive, read
    * out as the (p, y) series the batch operators take. */
  private def periodSink(eventStream: DataFrame, periodCol: String,
      checkpointDir: String, sink: (DataFrame, Long) => Unit)(
      readout: (DataFrame, Column, Column) => DataFrame): StreamingQuery =
    Sinks.additive(eventStream, checkpointDir, Seq("p"),
        StructType.fromDDL("p BIGINT, c BIGINT")) { batch =>
      batch.select(col(periodCol).cast("long").as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("c"))
    }(st => readout(st.select(col("p"), col("c").cast("double").as("y")),
      col("p"), col("y")), sink)

  /** Streaming changepoint monitor — q276's CUSUM-binseg verdict
    * maintained at ingest (the 19th sink): WHERE did the per-period
    * level shift, re-answered on every micro-batch. State is the
    * per-period count table ([[periodSink]]), so each epoch's verdict
    * is bit-identical to batch [[graft.ops.Analytics.changepoint]]
    * over the union of all arrived events (spec-pinned under shuffled
    * splits) — the monitor family next to [[startCusumSink]]'s
    * sequential alarm: CUSUM says "drifting NOW", this says "the level
    * broke THERE". */
  def startChangepointSink(eventStream: DataFrame, periodCol: String,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    periodSink(eventStream, periodCol, checkpointDir, sink)(
      graft.ops.Analytics.changepoint)

  /** Streaming one-sided CUSUM monitor — the SEQUENTIAL drift alarm
    * ([[graft.ops.Analytics.cusumDrift]]) run where it naturally lives:
    * each micro-batch is one step of the recursion per group,
    * S ← max(0, S + Σx − k), against an OFFLINE reference rate `mu`
    * (k = mu·(1+slack), alarm at S > mu·hMult — the train-once/
    * serve-many split; a self-calibrating stream monitor would dilute
    * the very drift it must catch into its own baseline). State is one
    * (c, m) integer pair per group — the running 1e9-snapped deviation
    * sum and its prefix-min, the same prefix identity the batch
    * operator uses, so stream state after N epochs ≡ batch cusumDrift
    * row N with `mu0 = Some(mu)` (QualitySpec pins this). Groups
    * absent from a batch take no step; new groups start their own
    * recursion. The prefix-min is not additive, so this sink keeps its
    * own step and replay branch on a [[MonitorState]] persisted under
    * `checkpointDir/graft-monitor-state`: a restarted query resumes
    * the state, and a replayed epoch re-emits without stepping again. */
  def startCusumSink(countStream: DataFrame, grpCol: String, xCol: String,
      mu: Double, slack: Double, hMult: Double, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    // snapped-integer state as DECIMAL(38,0) — the batch operator's
    // width argument (a 1e9-rate series outgrows long)
    val state = new MonitorState(countStream.sparkSession,
      checkpointDir + "/graft-monitor-state",
      countStream.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL("grp STRING, c DECIMAL(38,0), m DECIMAL(38,0)")))
    val dec0 = lit(0).cast("decimal(38,0)")
    def stepOf(batch: DataFrame) = batch.groupBy(col(grpCol).as("grp"))
      .agg(sum(col(xCol)).as("x"))
      .withColumn("d", floor((col("x").cast("double") -
        lit(mu) * lit(1.0 + slack)) * lit(1e9) + lit(0.5))
        .cast("decimal(38,0)"))
    def emit(rows: DataFrame, epochId: Long): Unit =
      sink(rows.select(col("grp"), col("x"),
        round((col("cn") - least(col("mn"), dec0)).cast("double") /
          lit(1e9), 6).as("cusum"),
        ((col("cn") - least(col("mn"), dec0)).cast("double") /
          lit(1e9) > lit(mu) * lit(hMult)).as("alarm")), epochId)
    Sinks.start(countStream, checkpointDir) { (batch, epochId) =>
      if (state.alreadyMerged(epochId)) {
        // at-least-once replay: the state already took this epoch's
        // step — the original emission's (cn, mn) ARE the post-merge
        // (c, m), so rebuild it from batch groups × current state
        // without stepping again
        if (state.isLast(epochId)) {
          emit(stepOf(batch).drop("d")
            .join(state.get, Seq("grp"), "inner")
            .withColumnRenamed("c", "cn").withColumnRenamed("m", "mn"),
            epochId)
        }
      } else {
        // one step per group: the batch's total x, snapped deviation
        // (the cusumDrift dI expression with mu as the fixed literal)
        val stepX = stepOf(batch)
        val upd = stepX.join(state.get, Seq("grp"), "left")
          .withColumn("cn", (coalesce(col("c"), dec0) + col("d"))
            .cast("decimal(38,0)"))
          .withColumn("mn", least(coalesce(col("m"), col("cn")),
            col("cn")))
        val keep = state.get.join(stepX.select(col("grp")),
          Seq("grp"), "left_anti")
        val next = upd.select(col("grp"), col("cn").as("c"),
          col("mn").as("m")).unionByName(keep)
        // materialize the emission's inputs BEFORE commit replaces
        // the state dir the lineage reads from
        val out = upd.select(col("grp"), col("x"), col("cn"),
          col("mn")).localCheckpoint(true)
        state.commit(next, epochId)
        emit(out, epochId)
      }
    }
  }

  /** Streaming CUPED readout — q248 maintained at ingest
    * ([[graft.ops.Analytics.cupedAdjust]]): per micro-batch, fold the
    * arriving events into ONE maintained (pre-sum, post-sum) pair per
    * unit and emit the refreshed variance-reduced A/B table. The
    * per-unit sums are kept as 1e9-SNAPPED INTEGER decimals — floor
    * each term once, merge exact decimals — so state after any batch
    * split is bit-identical to the batch per-unit snapped totals:
    * stream ≡ batch under ANY arrival order or batching
    * (CurationPipelineSpec pins shuffled-batch equality), and
    * the 16th sink keeps the family's bounded-state shape (one row per
    * unit, never an event list). The pre/post cut and the arm rule are
    * offline decisions (the train-once/serve-many split); units whose
    * events all precede the cut still enter with y = 0 — exactly the
    * batch operator's population. */
  def startCupedSink(eventStream: DataFrame, unitCol: String,
      tsCol: String, valueCol: String, cutTs: String,
      checkpointDir: String, sink: (DataFrame, Long) => Unit,
      isA: Column => Column = u => pmod(conv(substring(
        md5(u.cast("string")), 1, 8), 16, 10).cast("long"), lit(100L)) <
        lit(50L)): StreamingQuery = {
    val cut = lit(cutTs).cast("timestamp")
    def snap9(c: Column) =
      sum(floor(c * lit(1e9) + lit(0.5)).cast("decimal(38,0)"))
    Sinks.additive(eventStream, checkpointDir, Seq("u"),
        StructType.fromDDL("u STRING, x9 DECIMAL(38,0), y9 DECIMAL(38,0)")) {
      batch => batch.select(col(unitCol).cast("string").as("u"),
          col(tsCol).cast("timestamp").as("ts"),
          col(valueCol).cast("double").as("v"))
        .groupBy(col("u"))
        .agg(snap9(when(col("ts") < cut, col("v")).otherwise(lit(0.0)))
            .as("x9"),
          snap9(when(col("ts") >= cut, col("v")).otherwise(lit(0.0)))
            .as("y9"))
    }(st => graft.ops.Analytics.cupedAdjust(
      st.select(col("u"),
        (col("x9").cast("double") / lit(1e9)).as("x"),
        (col("y9").cast("double") / lit(1e9)).as("y")),
      isA(col("u")), col("x"), col("y"), materialize = df => df), sink)
  }

  /** q288's isotonic calibration maintained at INGEST — the 20th sink:
    * a reliability monitor over a stream of (confidence, correct)
    * prediction outcomes. State is the per-bin (n, k, snapped-Σconf)
    * table — EXACTLY [[graft.ops.Quality.isotonicFromBins]]'s input —
    * and every component is additive (longs + decimal-snapped sums),
    * so each epoch's emitted curve is bit-identical to batch
    * `isotonicCalibration` over the union of all arrived predictions,
    * under any batch split (spec-pinned). State is ≤`bins` rows —
    * bounded regardless of stream length. */
  def startIsotonicSink(predStream: DataFrame, confCol: String,
      correctCol: String, bins: Int, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(bins > 0, s"startIsotonicSink: bins=$bins")
    Sinks.additive(predStream, checkpointDir, Seq("bin"),
        StructType.fromDDL("bin BIGINT, n BIGINT, k BIGINT, " +
          "s9 DECIMAL(38,0)")) {
      batch => batch.select(
          least(floor(col(confCol).cast("double") * lit(bins))
            .cast("long"), lit(bins - 1L)).as("bin"),
          col(confCol).cast("double").as("conf"),
          when(col(correctCol).cast("boolean"), 1L).otherwise(0L)
            .as("ok"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("ok")).as("k"),
          sum(floor(col("conf") * lit(1e9) + lit(0.5))
            .cast("decimal(38,0)")).as("s9"))
    }(st => graft.ops.Quality.isotonicFromBins(
      st.select(col("bin"), col("n"), col("k"),
        (col("s9").cast("double") / lit(1e9)).as("sc"))), sink)
  }

  /** q297's DeLong AUC interval maintained at INGEST — the 21st sink:
    * a live "is the score still discriminative" monitor over a stream
    * of (score, positive) eval outcomes. State is the 6-dp score-grid
    * (s, np, nn) class-count table — exactly
    * [[graft.ops.Quality.delongFromGrid]]'s input — and counts are
    * additive, so each epoch's (auc, se, ci) is bit-identical to
    * batch `delongAuc` over the union of all arrived rows under any
    * batch split (spec-pinned). State is grid-bounded (≤10⁶+1 rows
    * for [0,1] scores) regardless of stream length. */
  def startDelongSink(predStream: DataFrame, scoreCol: String,
      positiveCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    Sinks.additive(predStream, checkpointDir, Seq("s"),
        StructType.fromDDL("s DOUBLE, np BIGINT, nn BIGINT")) {
      batch => batch.select(
          round(col(scoreCol).cast("double"), 6).as("s"),
          when(col(positiveCol).cast("boolean"), 1L).otherwise(0L)
            .as("pos"))
        .groupBy(col("s"))
        .agg(sum(col("pos")).as("np"),
          sum(lit(1L) - col("pos")).as("nn"))
    }(graft.ops.Quality.delongFromGrid, sink)

  /** q293's Benford conformity maintained at INGEST — the 22nd sink:
    * the cheapest live fabricated/truncated-amounts tripwire. State
    * is the ≤10-row per-first-digit count table (NULL digit = the
    * skipped bucket) — exactly
    * [[graft.ops.Quality.benfordFromDigits]]'s input — purely
    * additive, so each epoch's χ²/reject is bit-identical to batch
    * `benfordReport` over all arrived values under any split
    * (spec-pinned). */
  def startBenfordSink(valueStream: DataFrame, valueCol: String,
      checkpointDir: String, sink: (DataFrame, Long) => Unit,
      scale: Int = 100): StreamingQuery = {
    require(scale > 0, s"startBenfordSink: scale=$scale")
    val c = floor(col(valueCol).cast("double") * lit(scale) +
      lit(0.5)).cast("long")
    Sinks.additive(valueStream, checkpointDir, Seq("d"),
        StructType.fromDDL("d BIGINT, o BIGINT")) {
      batch => batch.select(when(c > 0L,
          substring(c.cast("string"), 1, 1).cast("long")).as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("o"))
    }(graft.ops.Quality.benfordFromDigits, sink)
  }

  /** q312's Mann–Kendall trend verdict maintained at INGEST — the 24th
    * sink: IS the per-period volume trending, re-answered on every
    * micro-batch (the monotone-trend complement to
    * [[startChangepointSink]]'s level-break WHERE and
    * [[startCusumSink]]'s drifting NOW). State is the same per-period
    * count table as the changepoint sink ([[periodSink]]), so each
    * epoch's (S, var, z, p, trend) is bit-identical to batch
    * [[graft.ops.Analytics.mannKendall]] over the union of all arrived
    * events under any batch split (spec-pinned). */
  def startTrendSink(eventStream: DataFrame, periodCol: String,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    periodSink(eventStream, periodCol, checkpointDir, sink)(
      graft.ops.Analytics.mannKendall)

  /** q338's Qini uplift curve maintained at INGEST — the 29th sink:
    * live targeting-quality monitoring of a RUNNING experiment, the
    * sequential read every uplift campaign wants ("is the score still
    * ranking incremental converters first, or has the audience
    * shifted"). The score normalizer `scoreMax` is decided OFFLINE and
    * fixed (the startCusumSink train-once/serve-many convention —
    * a data-dependent max would make the binning non-additive); state
    * is the (bin, nt, ct, nc, cc) per-threshold class-count grid —
    * exactly [[graft.ops.Analytics.qiniFromGrid]]'s input, purely
    * additive and `bins`-bounded — so each epoch's curve + coefficient
    * is bit-identical to the batch computation over all arrived units
    * binned against the same scoreMax under any batch split
    * (spec-pinned). */
  def startQiniSink(unitStream: DataFrame, treatedCol: String,
      scoreCol: String, convertedCol: String, scoreMax: Double,
      bins: Int, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(bins >= 2 && scoreMax > 0.0,
      s"startQiniSink: bins=$bins scoreMax=$scoreMax")
    Sinks.additive(unitStream, checkpointDir, Seq("bin"),
        StructType.fromDDL("bin BIGINT, nt BIGINT, ct BIGINT, " +
          "nc BIGINT, cc BIGINT")) {
      batch => batch.select(
          col(treatedCol).cast("boolean").as("t"),
          graft.ops.Analytics.qiniBin(col(scoreCol).cast("double"),
            lit(scoreMax), bins).as("bin"),
          when(col(convertedCol).cast("boolean"), 1L).otherwise(0L)
            .as("y"))
        .groupBy(col("bin"))
        .agg(sum(when(col("t"), 1L).otherwise(0L)).as("nt"),
          sum(when(col("t"), col("y")).otherwise(0L)).as("ct"),
          sum(when(!col("t"), 1L).otherwise(0L)).as("nc"),
          sum(when(!col("t"), col("y")).otherwise(0L)).as("cc"))
    }(graft.ops.Analytics.qiniFromGrid, sink)
  }

  /** q335's cross-modal retrieval-quality eval maintained at INGEST —
    * the 30th sink: "is the joint-embedding index still retrieving its
    * own captions", re-asked on every micro-batch (VERDICT r12 #6).
    * The searchable index is decided OFFLINE and FIXED — `indexMedia`
    * embeds and sign-buckets ONCE at sink start (localCheckpoint; the
    * startCusumSink train-once/serve-many convention — a growing
    * corpus would change every already-scored query's rank and make
    * the state non-additive). Each arriving doc becomes its own query
    * (the q335 paired-caption stub); against the fixed index each
    * query's hit rank is independent of every other query, so state
    * is [[graft.ops.Multimodal.crossModalHitCells]]'s (method, k,
    * n_queries, hits) grid — purely additive and 2·|ks|-bounded — and
    * each epoch's recall@k readout is bit-identical to the batch eval
    * of ALL arrived queries under any batch split (spec-pinned). */
  def startCrossModalRecallSink(docStream: DataFrame, idCol: String,
      payloadCol: String, indexMedia: DataFrame, indexId: String,
      indexPayload: String, ks: Seq[Int], checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(ks.nonEmpty && ks.forall(_ >= 1),
      s"startCrossModalRecallSink: ks=$ks")
    // duplicate (method, k) keys would cross-multiply state rows in
    // the full-outer merge every epoch (ADVICE r13)
    require(ks.distinct.size == ks.size,
      s"startCrossModalRecallSink: duplicate k in $ks")
    val corpus = graft.ops.Multimodal.crossModalCorpus(indexMedia,
      col(indexId), col(indexPayload)).localCheckpoint(eager = true)
    Sinks.additive(docStream, checkpointDir, Seq("method", "k"),
        StructType.fromDDL("method STRING, k BIGINT, n_queries BIGINT, " +
          "hits BIGINT")) { batch =>
      val feats = batch.select(
        col(idCol).cast("long").as("doc_id"),
        graft.ops.Multimodal.mediaFeatureArray(col(payloadCol))
          .as("feat"))
      graft.ops.Multimodal.crossModalHitCells(corpus,
          graft.ops.Multimodal.crossModalQueries(feats), ks)
        .select(col("method"), col("k"), col("n_queries"), col("hits"))
    }(graft.ops.Multimodal.crossModalFromCells, sink)
  }

  /** Serving diversity monitored at INGEST — the 31st sink: as query
    * embeddings arrive, each is MMR-reranked against a FIXED serving
    * index and the per-position relevance/redundancy grid accumulates
    * — "is the result page trading relevance for novelty the way λ
    * intends", answered online. Exists BECAUSE the greedy loop became
    * cheap (VERDICT r13 #6 gating on #1): [[graft.expr.catalyst
    * .MmrSelect]] runs the whole selection as ONE expression, so the
    * per-epoch cost is one candidate-bounded aggregation, not k
    * sequential jobs. Against the fixed index each query's selection
    * is independent of every other query, so state is
    * [[graft.ops.Ann.mmrPositionCells]]'s (pos, n_queries, rel_sum_l,
    * maxsim_sum_l) grid — purely additive and k-row-bounded — and
    * each epoch's readout is bit-identical to the batch eval of ALL
    * arrived queries under any batch split (spec-pinned). A query
    * whose id collides with an index id is excluded from its own
    * candidates (the shortlist's standard self-exclusion). */
  def startMmrDiversitySink(queryStream: DataFrame, idCol: String,
      vecCol: String, index: DataFrame, indexId: String,
      indexVec: String, shortlist: Int, k: Int, lambda: Double,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(shortlist >= k && k >= 1,
      s"startMmrDiversitySink: shortlist=$shortlist k=$k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"startMmrDiversitySink: lambda=$lambda")
    // the serving index embeds once per sink lifetime — the
    // train-once/serve-many contract the cross-modal sink established
    val corpus = index.select(col(indexId).cast("long").as("vec_id"),
        col(indexVec).cast("array<double>").as("embedding"))
      .localCheckpoint(eager = true)
    Sinks.additive(queryStream, checkpointDir, Seq("pos"),
        StructType.fromDDL("pos BIGINT, n_queries BIGINT, " +
          "rel_sum_l BIGINT, maxsim_sum_l BIGINT")) { batch =>
      val qs = batch.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("embedding"))
      graft.ops.Ann.mmrPositionCells(corpus, qs, shortlist, k, lambda)
        .select(col("pos"), col("n_queries"), col("rel_sum_l"),
          col("maxsim_sum_l"))
    }(graft.ops.Ann.mmrFromCells(_, lambda), sink)
  }

  /** The privacy TRIAD maintained at INGEST — the 28th sink: is the
    * corpus we are accumulating still releasable, re-audited on every
    * micro-batch. ONE additive state — the (quasi…, sensitive, nv)
    * cell-count grid, the shared sufficient statistic of all three
    * audits — serves three tripwires per epoch: k-anonymity (class
    * size ≥ k), l-diversity (entropy-l ≥ l), t-closeness (EMD vs the
    * global distribution ≤ t) — the q234/q333/q336 batch semantics
    * bit-for-bit ([[graft.ops.Quality.lDiversityFromCells]] /
    * [[graft.ops.Quality.tClosenessFromCells]] under any batch split,
    * spec-pinned). The sensitive attribute is a caller-cast LONG (an
    * ordered grid — t-closeness is the ordered-EMD form); state is
    * (classes × sensitive grid)-bounded. */
  def startPrivacySink(docStream: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Double, t: Double,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(quasiCols.nonEmpty, "startPrivacySink: no quasi columns")
    def readout(cells: DataFrame): DataFrame = {
      val ld = graft.ops.Quality.lDiversityFromCells(cells, quasiCols, l)
      val tc = graft.ops.Quality.tClosenessFromCells(cells, quasiCols, t)
      // null-safe: the state merge deliberately keeps a NULL-keyed
      // class — a plain equi-join here would silently drop that
      // class from the released audit, the exact failure a privacy
      // tripwire exists to prevent (ADVICE r12)
      graft.ops.Quality.nsJoin(ld,
          tc.select((quasiCols.map(col) :+ col("emd") :+
            col("close")): _*), quasiCols)
        .withColumn("k_anonymous", col("n_rows") >= k)
    }
    val keys = quasiCols :+ "__s"
    Sinks.additive(docStream, checkpointDir, keys,
        StructType(quasiCols.map(StructField(_, StringType)))
          .add("__s", LongType).add("nv", LongType)) {
      batch => batch.select(
          (quasiCols.map(q => col(q).cast("string").as(q)) :+
            col(sensitiveCol).cast("long").as("__s")): _*)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("nv"))
    }(readout, sink)
  }

  /** q285's Pettitt rank-based changepoint maintained at INGEST — the
    * 27th sink: WHERE did the level shift, answered robustly (ranks,
    * not means — one wild day cannot drag the split) on every
    * micro-batch. Completes the live changepoint pair:
    * [[startChangepointSink]] is the mean-based CUSUM binseg, this is
    * its outlier-robust sibling, on the IDENTICAL per-period count
    * state ([[periodSink]]) — so each epoch's (n_periods,
    * split_period, k_stat, p_value) is bit-identical to batch
    * [[graft.ops.Analytics.pettitt]] over the union of all arrived
    * events under any batch split (spec-pinned). */
  def startPettittSink(eventStream: DataFrame, periodCol: String,
      checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    periodSink(eventStream, periodCol, checkpointDir, sink)(
      graft.ops.Analytics.pettitt)

  /** The per-(group, value) two-sample class-count grid shared by the
    * CvM, KS and Wasserstein sinks: `halfCol` = "e" (expected) or "a"
    * (actual) — both arms may stream; a fixed reference is just an
    * "e"-only first batch. Counts are purely additive and the grid is
    * value-bounded (the q137 bounded-distinct discipline) regardless
    * of stream length. */
  private def twoSampleSink(obsStream: DataFrame, grpCol: String,
      xCol: String, halfCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit)(
      readout: DataFrame => DataFrame): StreamingQuery =
    Sinks.additive(obsStream, checkpointDir, Seq("grp", "x"),
        StructType.fromDDL("grp STRING, x DOUBLE, ce BIGINT, ca BIGINT")) {
      batch => batch.select(col(grpCol).cast("string").as("grp"),
          col(xCol).cast("double").as("x"),
          col(halfCol).cast("string").as("half"))
        .groupBy(col("grp"), col("x"))
        .agg(sum(when(col("half") === "e", 1L).otherwise(0L)).as("ce"),
          sum(when(col("half") === "a", 1L).otherwise(0L)).as("ca"))
    }(readout, sink)

  /** q283's Cramér–von Mises two-sample drift maintained at INGEST —
    * the 23rd sink: the INTEGRATED-CDF distribution monitor run live
    * over a stream of (group, value, half) observations. State is the
    * two-sample grid ([[twoSampleSink]]) — exactly
    * [[graft.ops.Analytics.cvmFromGrid]]'s input — so each epoch's
    * (t, reject) is bit-identical to batch `cvmDrift` over the union
    * of all arrived rows under any batch split (spec-pinned). */
  def startCvmSink(obsStream: DataFrame, grpCol: String, xCol: String,
      halfCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    twoSampleSink(obsStream, grpCol, xCol, halfCol, checkpointDir, sink)(
      graft.ops.Analytics.cvmFromGrid)

  /** q180's Kolmogorov–Smirnov two-sample drift maintained at INGEST —
    * the 25th sink: the MAX-ECDF-distance companion to
    * [[startCvmSink]]'s integrated distance, over the same
    * (grp, value, half) observation stream and the SAME two-sample
    * grid ([[graft.ops.Analytics.ksFromGrid]]): each epoch's
    * (D, scaled_d) is bit-identical to batch `ksDrift` over all
    * arrived rows under any batch split (spec-pinned). KS reacts to
    * the single worst point of divergence (a tail tear); CvM to
    * accumulated shift — a live gate wants both tripwires. */
  def startKsSink(obsStream: DataFrame, grpCol: String, xCol: String,
      halfCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    twoSampleSink(obsStream, grpCol, xCol, halfCol, checkpointDir, sink)(
      graft.ops.Analytics.ksFromGrid)

  /** q284's Wasserstein-1 drift magnitude maintained at INGEST — the
    * 26th sink: where [[startKsSink]] answers "did the distribution
    * move" (max ECDF tear) and [[startCvmSink]] "did it drift overall"
    * (integrated squared distance), this one answers "HOW FAR did the
    * mass move, in the units of x" — the earth-mover magnitude a
    * rollback decision actually wants. Same observation stream, same
    * two-sample grid ([[graft.ops.Analytics.wassersteinFromGrid]]):
    * each epoch's w1 is bit-identical to batch `wassersteinDrift` over
    * all arrived rows under any batch split (spec-pinned). */
  def startWassersteinSink(obsStream: DataFrame, grpCol: String,
      xCol: String, halfCol: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    twoSampleSink(obsStream, grpCol, xCol, halfCol, checkpointDir, sink)(
      graft.ops.Analytics.wassersteinFromGrid)

  /** q170's fill-in-the-middle construction at INGEST time: like the
    * span-corruption sink, the construction is a pure per-document
    * md5-derived function — union of batch outputs ≡ batch construction
    * over the unioned docs, at-least-once replay is idempotent, zero
    * long-lived state. */
  def startFimSink(docStream: DataFrame, idCol: String, textCol: String,
      spmPct: Int, checkpointDir: String,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    Sinks.start(docStream, checkpointDir) { (batch, epochId) =>
      sink(graft.ops.Packing.fimSplit(batch, col(idCol), col(textCol),
        spmPct), epochId)
    }
}
