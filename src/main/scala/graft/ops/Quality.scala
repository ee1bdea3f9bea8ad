package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality constraints over a table — the validation
  * gate a pipeline runs before promoting a snapshot (the lakehouse
  * "expectations" pattern): each constraint reduces to a violation
  * COUNT, so an arbitrary number of per-column checks evaluate in ONE
  * map-side-combinable aggregation pass over the table (`stack` pivots
  * the single agg row to the long-format report in-plan). Referential
  * checks are the exception — they need the parent table — and cost one
  * left_anti join each (broadcast when the parent's key set is dim-
  * sized).
  *
  * All violation metrics are exact integer counts: the report is
  * engine-portable and hash-stable (q103's oracle), and a `pass` bit
  * derives in-plan. At 100 TB the whole per-table report costs one scan
  * + one exchange of #checks rows.
  */
object Quality {

  /** One constraint: a name and an aggregate expression counting its
    * violations over the table. */
  case class Check(name: String, violations: Column)

  def notNull(name: String, c: Column): Check =
    Check(name, sum(when(c.isNull, 1L).otherwise(0L)))

  /** Uniqueness: rows beyond the first per value (NULLs not counted —
    * pair with [[notNull]] for NOT NULL UNIQUE semantics). */
  def unique(name: String, c: Column): Check =
    Check(name, count(c) - countDistinct(c))

  def inRange(name: String, c: Column, lo: Double, hi: Double): Check =
    Check(name, sum(when(c < lo || c > hi, 1L).otherwise(0L)))

  def inSet(name: String, c: Column, allowed: Seq[String]): Check =
    Check(name, sum(when(!c.isin(allowed: _*), 1L).otherwise(0L)))

  def satisfies(name: String, predicate: Column): Check =
    Check(name, sum(when(!predicate, 1L).otherwise(0L)))

  /** Evaluate all `checks` in one aggregation pass; returns
    * (constraint, violations, pass). The single agg row pivots to long
    * format through typed columns (explode over literal structs) — no
    * SQL-string interpolation, so check names need no escaping. */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    val agged = df.agg(
      coalesce(checks.head.violations, lit(0L)).as("c0"),
      checks.tail.zipWithIndex.map { case (ch, i) =>
        coalesce(ch.violations, lit(0L)).as(s"c${i + 1}") }: _*)
    val pairs = checks.zipWithIndex.map { case (ch, i) =>
      struct(lit(ch.name).as("constraint"), col(s"c$i").as("violations"))
    }
    agged.select(explode(array(pairs: _*)).as("kv"))
      .select(col("kv.constraint").as("constraint"),
        col("kv.violations").as("violations"))
      .withColumn("pass", col("violations") === 0L)
  }

  /** Referential integrity: child keys with no parent (NULL child keys
    * are not violations — they are [[notNull]]'s job). One left_anti
    * join; broadcast the parent key set when it is dim-sized. */
  def referential(name: String, child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column): DataFrame =
    child.select(childKey.as("__k")).filter(col("__k").isNotNull)
      .join(parent.select(parentKey.as("__k")), Seq("__k"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit(name).as("constraint"), col("violations"),
        (col("violations") === 0L).as("pass"))

  /** Per-group Pearson correlation of two per-row quantities — the bias
    * diagnostic of a scored pipeline (does a quality/perplexity score
    * secretly track document LENGTH within a source? a strong
    * correlation means the filter is a length filter in disguise, the
    * known failure mode of perplexity gating).
    *
    * Deterministic: the five moment sums use the [[graft.expr.Snap]]
    * snapped-decimal contract (x on the 1e6 grid, y and its products on
    * 1e9), so r is a closed form over order-independent exact sums —
    * identical under any partitioning/engine. One map-side-combined
    * aggregation pass; output is |groups| rows. Groups where either
    * variance is zero yield NULL (division by zero → NULL in non-ANSI
    * mode, same as SQL). */
  def groupedCorr(df: DataFrame, groupCol: Column, x: Column, y: Column)
      : DataFrame = {
    import graft.expr.Snap
    val b = df.select(groupCol.as("grp"), x.cast("double").as("x"),
      y.cast("double").as("y"))
    b.groupBy(col("grp"))
      .agg(count(lit(1)).cast("double").as("n"),
        Snap.snappedSum(col("x"), 1e6).as("sx"),
        Snap.snappedSum(col("y"), 1e9).as("sy"),
        Snap.snappedSum(col("x") * col("x"), 1e6).as("sxx"),
        Snap.snappedSum(col("y") * col("y"), 1e9).as("syy"),
        Snap.snappedSum(col("x") * col("y"), 1e6).as("sxy"))
      .select(col("grp"), col("n").cast("long").as("n_rows"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("corr"))
  }

  /** A trained multinomial NB model, split train-once/serve-many (the
    * IVF·PQ index pattern for classifiers): `labStats` is |labels| rows
    * of (clab, prior_ln, lp0); `terms` is the (clab, term, lterm)
    * log-likelihood table — (labels × seen-vocab)-bounded, broadcast at
    * classify time. Both materialized so serving never re-aggregates
    * the training corpus. */
  case class NbModel(labStats: DataFrame, terms: DataFrame)

  /** Train the multinomial NB model (the single definition of the
    * counts/smoothing/closed-form contract — [[nbConfusion]], the q156
    * holdout eval, and the streaming routing sink all compose this with
    * [[nbClassify]]); one tokenize+count pass, model-sized output.
    * `docTf0`: an already-materialized (doc_id, lab, term, tf) table
    * (e.g. the session TF artifact joined to labels) — training then
    * skips its tokenize+count pass entirely. */
  def nbTrain(docs: DataFrame, id: Column, text: Column, label: Column,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      docTf0: Option[DataFrame] = None): NbModel = {
    val docTf = docTf0.getOrElse(materialize(Fanout.fanout(docs)
      .select(id.as("doc_id"), label.as("lab"),
        explode(graft.expr.TextStats.tokens(text)).as("term"))
      .groupBy(col("doc_id"), col("lab"), col("term"))
      .agg(count(lit(1)).as("tf"))))
    val ct = materialize(docTf.groupBy(col("lab"), col("term"))
      .agg(sum(col("tf")).as("ctf")))
    val classStats = ct.groupBy(col("lab")).agg(sum(col("ctf")).as("ctot"))
      .join(broadcast(ct.select(countDistinct(col("term")).as("v"))))
    val priors = docs.groupBy(label.as("lab"))
      .agg(count(lit(1)).as("nd"))
      .join(broadcast(docs.agg(count(lit(1)).as("ntot"))))
    val labStats = materialize(classStats.join(priors, Seq("lab"))
      .select(col("lab").as("clab"),
        log(col("nd").cast("double") / col("ntot").cast("double")).as("prior_ln"),
        log(lit(1.0) / (col("ctot") + col("v")).cast("double")).as("lp0")))
    val terms = materialize(ct.select(col("lab").as("clab"), col("term"),
      log((col("ctf") + lit(1L)).cast("double")).as("lterm")))
    NbModel(labStats, terms)
  }

  /** The dense per-(doc, label) NB log-score frame — the SINGLE scoring
    * definition [[nbClassify]] (argmax) and [[nbPosteriors]] (softmax)
    * both consume: score(d, c) rounded to 4 dp (the [[nbConfusion]]
    * contract), |docs|·|labels| narrow rows, model broadcast. */
  def nbScores(model: NbModel, docs: DataFrame, id: Column, text: Column,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      docTf0: Option[DataFrame] = None): DataFrame = {
    import graft.expr.Snap
    // materialized: BOTH the scoring join and the length rollup read it
    // (streaming batches pass `identity` — a micro-batch re-tokenize is
    // cheaper than a checkpoint per epoch); docTf0 = an already-
    // materialized (doc_id, term, tf) table, e.g. the session artifact
    val docTf = docTf0.getOrElse(materialize(docs
      .select(id.as("doc_id"), explode(graft.expr.TextStats.tokens(text)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))))
    val seen = docTf.join(broadcast(model.terms), Seq("term"))
      .groupBy(col("doc_id"), col("clab"))
      .agg(Snap.snappedSum(col("tf").cast("double") * col("lterm"), 1e9)
        .as("s1"))
    val docN = docTf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_tok"))
    docN.crossJoin(broadcast(model.labStats))
      .join(seen, Seq("doc_id", "clab"), "left")
      .select(col("doc_id"), col("clab"),
        round(col("prior_ln") + col("n_tok").cast("double") * col("lp0") +
          coalesce(col("s1"), lit(0.0)), 4).as("score"))
  }

  /** Classify docs against a trained [[NbModel]]: per-doc 4-dp argmax
    * with label-ascending ties (the [[nbConfusion]] contract). Per-row
    * decision given the static model — so batch and streaming
    * classification agree row-for-row, and replay is idempotent.
    * Returns (doc_id, pred_lab, score). */
  def nbClassify(model: NbModel, docs: DataFrame, id: Column, text: Column,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      docTf0: Option[DataFrame] = None): DataFrame =
    nbArgmax(nbScores(model, docs, id, text, materialize, docTf0))

  /** The argmax half of [[nbClassify]] over an existing [[nbScores]]
    * frame — exposed so consumers that ALSO need the dense scores
    * (q169's calibration reads posteriors AND predictions) materialize
    * the score frame once and share it. */
  def nbArgmax(scores: DataFrame): DataFrame =
    scores
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("clab"))).as("best"))
      .select(col("doc_id"), col("best.clab").as("pred_lab"),
        (-col("best.ns")).as("score"))

  /** Multinomial Naive Bayes trained IN the engine, self-evaluated as a
    * confusion matrix — the relational stand-in for the fastText-style
    * classifier curation pipelines train for language/quality routing
    * (CCNet trains fastText; the multinomial NB over the same unigram
    * features is the aggregation-expressible analog). Model training is
    * a GROUP BY ([[nbTrain]]: per-(label, term) counts with Laplace
    * smoothing, no iterative solver, no driver-side model state);
    * scoring ([[nbClassify]]) uses the sparse identity — with
    * lp0(c) = ln(1/(ctot_c + V)) the unseen-term likelihood,
    *   score(d, c) = ln(prior_c) + n_d·lp0(c) + Σ_{t seen in c} tf·ln(ctf+1)
    * — so the scoring join only touches (term, label) pairs the
    * TRAINING data contains, never the dense doc×vocab×label cross.
    * ONE definition of the model math: this is literally
    * classify ∘ train + a confusion rollup (the q156 holdout eval and
    * the streaming routing sink share the same two functions).
    *
    * Deterministic: the Σ uses the shared [[graft.expr.Snap]] 1e9 grid;
    * the closed-form terms are plain IEEE ops in the same order the
    * oracle writes; scores round to 4 dp BEFORE the argmax, whose
    * tie-break is label-ascending (a lexicographic struct min).
    *
    * Scale shape: model (labels × seen-vocab)-bounded and BROADCAST;
    * the dense (doc, label) score frame is |docs|·|labels| narrow rows;
    * one doc-keyed argmax aggregation; output is |labels|² rows. The
    * cost vs a fused form is one extra tokenize+count pass over `docs`
    * (train and classify each scan once) — paid willingly for a single
    * definition of the smoothing/tie-break contract. */
  def nbConfusion(docs: DataFrame, id: Column, text: Column, label: Column,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      trainTf0: Option[DataFrame] = None,
      classifyTf0: Option[DataFrame] = None): DataFrame = {
    val model = nbTrain(docs, id, text, label, materialize, trainTf0)
    nbClassify(model, docs, id, text, materialize, classifyTf0)
      .join(docs.select(id.as("doc_id"), label.as("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lab").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Softmax posteriors over the [[nbScores]] frame:
    * p(c|d) = exp(score − max_c score) / Σ_c exp(·), the normalized
    * confidence a calibration audit needs (raw NB log-scores are
    * unnormalized and length-scaled — useless as probabilities).
    *
    * Deterministic: scores are already on the 4-dp grid; the max is
    * exact; each exp term is one IEEE op on grid inputs; the
    * normalizer Z uses the [[graft.expr.Snap]] 1e9 snapped sum (|labels|
    * terms, order-independent); p rounds to 6 dp. Scale shape: one
    * doc-keyed max aggregation joined back (both sides |docs|·|labels|
    * and |docs| — doc-partitioned, no global structure), then a
    * per-row closed form. Returns (doc_id, clab, prob). */
  def nbPosteriors(model: NbModel, docs: DataFrame, id: Column, text: Column,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      scores0: Option[DataFrame] = None): DataFrame =
    // scores0: an already-materialized [[nbScores]] frame shared with
    // the argmax consumer (the q169 pattern)
    softmaxPosteriors(scores0.getOrElse(
      materialize(nbScores(model, docs, id, text, materialize))))

  /** The softmax half of [[nbPosteriors]] over an existing [[nbScores]]
    * frame — exposed (the [[nbArgmax]] symmetry) so consumers that
    * already hold a shared score artifact ([[labelNoise]]'s scores0)
    * need no model handle at all. */
  def softmaxPosteriors(sc: DataFrame): DataFrame = {
    import graft.expr.Snap
    val ex = sc.join(
        sc.groupBy(col("doc_id")).agg(max(col("score")).as("mx")), "doc_id")
      .select(col("doc_id"), col("clab"),
        exp(col("score") - col("mx")).as("ex"))
    val z = ex.groupBy(col("doc_id"))
      .agg(Snap.snappedSum(col("ex"), 1e9).as("z"))
    ex.join(z, "doc_id")
      .select(col("doc_id"), col("clab"),
        round(col("ex") / col("z"), 6).as("prob"))
  }

  /** Reliability-diagram rollup (the per-bin body of Expected
    * Calibration Error, Guo et al. 2017 §2): `preds` carries one row
    * per example with a 6-dp confidence and a correctness bit; bucket
    * confidence into `bins` equal-width bins (conf = 1.0 clamps into
    * the top bin), report per-bin count, mean confidence, accuracy,
    * and |acc − conf| gap. ECE is Σ n_b/N · gap_b over the output —
    * left to the caller so the per-bin diagram stays inspectable.
    *
    * Deterministic: bin ids are exact floor arithmetic on the 6-dp
    * confidence grid; mean confidence uses the snapped 1e9 sum;
    * accuracy is an exact integer ratio; both round to 6 dp and the
    * gap is computed FROM the rounded values. One map-side-combined
    * aggregation pass; output is ≤ `bins` rows. */
  def calibrationReport(preds: DataFrame, conf: Column, correct: Column,
      bins: Int = 10): DataFrame = {
    require(bins > 0, s"calibrationReport: bins=$bins")
    import graft.expr.Snap
    preds
      .select(least(floor(conf * lit(bins)).cast("long"),
          lit(bins - 1L)).as("bin"),
        conf.as("conf"),
        when(correct, 1L).otherwise(0L).as("ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(Snap.snappedSum(col("conf"), 1e9) /
          count(lit(1)).cast("double"), 6).as("avg_conf"),
        round(sum(col("ok")).cast("double") /
          count(lit(1)).cast("double"), 6).as("accuracy"))
      .select(col("bin"), col("n_docs"), col("avg_conf"), col("accuracy"),
        round(abs(col("accuracy") - col("avg_conf")), 6).as("gap"))
  }

  /** Robust per-group outlier accounting via the modified z-score
    * (Iglewicz & Hoaglin 1993): a row is an outlier when
    * 0.6745·|x − median| > cutoff·MAD. Median/MAD resist the very
    * outliers they hunt — the reason production gates prefer them to
    * mean/stddev, whose estimate a single corrupt score drags.
    * Degenerate groups (MAD = 0: over half the rows identical) flag
    * nothing — the statistic is undefined there, not infinite.
    *
    * Deterministic: median and MAD are the exact interpolated
    * percentile rounded to 4 dp (the q137 exact-percentile contract —
    * bounded-distinct on a rounded score grid; `approx_percentile` is
    * the unbounded-domain drop-in); the flag compares products of
    * rounded doubles (no division), identical IEEE ops in any engine.
    *
    * Scale shape: the (group, score) projection is MATERIALIZED once
    * and the median pass, the MAD pass (over |x − med| after a
    * broadcast join of the |groups|-row medians) and the counting pass
    * all read the artifact — the upstream scorer never re-runs, and
    * nothing wider than the score column moves (the q173 contract
    * asserts zero parquet scans). Returns
    * (grp, n_docs, med, mad, n_outliers, outlier_rate). */
  def madOutlierReport(df: DataFrame, grp: Column, x: Column,
      cutoff: Double = 3.5,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    // materialized once: the median pass, the MAD pass, and the count
    // pass all read this 2-column projection — the upstream (often a
    // corpus join) must not re-run per consumer
    val b = materialize(df.select(grp.as("grp"), x.cast("double").as("x")))
    val med = b.groupBy(col("grp"))
      .agg(round(expr("percentile(x, 0.5)"), 4).as("med"))
    val d = b.join(broadcast(med), "grp")
      .withColumn("ad", abs(col("x") - col("med")))
    val mad = d.groupBy(col("grp"))
      .agg(round(expr("percentile(ad, 0.5)"), 4).as("mad"))
    d.join(broadcast(mad), "grp")
      .withColumn("out", col("mad") > lit(0.0) &&
        lit(0.6745) * col("ad") > lit(cutoff) * col("mad"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("out"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col("grp"), col("n_docs"), col("med"), col("mad"),
        col("n_outliers"),
        round(col("n_outliers").cast("double") /
          col("n_docs").cast("double"), 6).as("outlier_rate"))
  }

  /** Cohen's kappa over a confusion matrix (Cohen 1960) — chance-
    * corrected agreement: κ = (p_o − p_e)/(1 − p_e) with p_o the
    * diagonal share and p_e = Σ_c row_c·col_c / N² the agreement two
    * independent raters with these margins would reach by luck. The
    * honest headline for an imbalanced router: 95% accuracy on a 95%-
    * one-class corpus is κ ≈ 0.
    *
    * Exact integer marginals (labels missing from one margin
    * contribute 0 via the inner margin join); p_o and p_e round to
    * 6 dp and κ computes FROM the rounded values. All work is
    * |labels|²-sized — the corpus never appears. Returns one row
    * (n_docs, po, pe, kappa). */
  def cohenKappa(conf: DataFrame, actual: Column, pred: Column, n: Column)
      : DataFrame = {
    val c = conf.select(actual.as("a"), pred.as("p"), n.cast("long").as("n"))
    val tot = c.agg(sum(col("n")).as("t"),
      sum(when(col("a") === col("p"), col("n")).otherwise(0L)).as("diag"))
    val rc = c.groupBy(col("a")).agg(sum(col("n")).as("ra"))
      .join(c.groupBy(col("p")).agg(sum(col("n")).as("ca")),
        col("a") === col("p"))
      .agg(sum(col("ra") * col("ca")).as("rc"))
    tot.crossJoin(broadcast(rc))
      .select(col("t").as("n_docs"),
        round(col("diag").cast("double") / col("t").cast("double"), 6)
          .as("po"),
        round(col("rc").cast("double") /
          (col("t").cast("double") * col("t").cast("double")), 6).as("pe"))
      // degenerate margins (all mass in one (label,label) cell) give
      // pe = 1.0 and a 0/0 — kappa is undefined there → explicit NULL
      // (the ksDrift NULL-for-undefined convention), not NaN
      .select(col("n_docs"), col("po"), col("pe"),
        when(col("pe") < 1.0,
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6))
          .as("kappa"))
  }

  /** Per-group one-vs-rest ROC-AUC of a shared score — the standard
    * validation of a curation scorer (does the perplexity gate's score
    * actually separate source X from the rest of the corpus?). Uses the
    * tie-aware Mann–Whitney form: with R_g the sum of average ranks of
    * group g's members under a single GLOBAL score ranking,
    *   AUC_g = (R_g − P(P+1)/2) / (P·N),
    * the probability a random g-member outscores a random rest-member
    * (ties count ½). One ranking serves ALL groups.
    *
    * Deterministic and exact: average ranks are below + (n+1)/2 —
    * integers and exact halves, so every sum is exact in doubles (no
    * snapping needed); the final ratio rounds to 6 dp.
    *
    * Scale shape: the corpus aggregates to per-(score) and
    * per-(group, score) counts FIRST (map-side combine), and the
    * ranking is TWO-LEVEL distributed: scores quantize into
    * `bucketWidth`-wide range buckets, per-bucket totals roll up to a
    * bucket-count-bounded offset table (the only unpartitioned window
    * — |buckets| = score range / bucketWidth rows, data-independent),
    * and the within-bucket cumulative window partitions BY bucket. A
    * continuous score (per-doc NLL — distinct ≈ |docs|) therefore
    * never funnels the corpus to one task; the single-partition global
    * ranking this replaced did. Returns (grp, n_docs, auc). */
  def rankAuc(df: DataFrame, grp: Column, score: Column,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      bucketWidth: Double = 1.0): DataFrame = {
    require(bucketWidth > 0, s"rankAuc: bucketWidth=$bucketWidth")
    // the ONLY corpus pass: one map-side-combined aggregation to the
    // (group × score-grid)-bounded count table; the global count, the
    // grid totals, and the rank join all derive from it
    val per = materialize(df
      .select(grp.as("grp"), score.cast("double").as("score"))
      .groupBy(col("grp"), col("score")).agg(count(lit(1)).as("n_g")))
    val g = per.groupBy(col("score")).agg(sum(col("n_g")).as("n_all"))
      .withColumn("b", floor(col("score") / lit(bucketWidth)).cast("long"))
    // level 1: strictly-below-bucket offsets over the bounded bucket
    // table (range/bucketWidth rows — constant-bounded, never corpus-)
    val wb = org.apache.spark.sql.expressions.Window.orderBy(col("b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = g.groupBy(col("b")).agg(sum(col("n_all")).as("nb"))
      .select(col("b"),
        coalesce(sum(col("nb")).over(wb), lit(0L)).as("below_bucket"))
    // level 2: within-bucket cumulative, partitioned by bucket
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("b"))
      .orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranks = g.join(broadcast(offsets), "b")
      .select(col("score"),
        (col("below_bucket") + coalesce(sum(col("n_all")).over(w), lit(0L)) +
          (col("n_all") + lit(1L)) / lit(2.0)).as("avg_rank"))
    per.join(broadcast(ranks), "score")
      .groupBy(col("grp"))
      .agg(sum(col("n_g")).as("p"),
        sum(col("n_g").cast("double") * col("avg_rank")).as("r"))
      .crossJoin(broadcast(per.agg(sum(col("n_g")).as("t"))))
      .select(col("grp"), col("p").as("n_docs"),
        round((col("r") - col("p").cast("double") * (col("p") + lit(1L)).cast("double") / lit(2.0)) /
          (col("p").cast("double") * (col("t") - col("p")).cast("double")), 6).as("auc"))
  }

  /** The hashed bag-of-words feature table (doc_id, bucket, x) —
    * md5(token) % nBuckets, the q42 md5-derived convention so any
    * engine replays the bucket. The ONE feature definition
    * [[logregDistill]] (training) and [[logregScore]] (serving, incl.
    * the streaming gate sink) both use — train/serve feature skew is
    * structurally impossible. */
  def logregFeatures(docs: DataFrame, id: Column, text: Column,
      nBuckets: Int): DataFrame =
    Fanout.fanout(docs)
      .select(id.as("doc_id"), explode(graft.expr.TextStats.tokens(text))
        .as("tok"))
      .select(col("doc_id"),
        pmod(graft.expr.Similarity.md5PrefixLong(col("tok"), 8),
          lit(nBuckets.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).cast("double").as("x"))

  /** Serve a trained [[logregDistill]] weight vector: per doc the
    * snapped margin, σ(margin), and the admit bit. The decision is the
    * SIGN of the margin — no transcendental in the gate itself, so the
    * admit bit can never flip on an exp ulp. Buckets unseen in
    * training score 0 (left join). Weights broadcast; one narrow
    * feature pass per batch, zero state. */
  def logregScore(weights: DataFrame, docs: DataFrame, id: Column,
      text: Column, nBuckets: Int = 32): DataFrame = {
    import graft.expr.Snap
    // the weight table must come from the SAME bucket width — a %32
    // model served at %64 scores silent garbage; the probe is one
    // driver read of the broadcast-sized table
    val maxB = weights.agg(max(col("bucket"))).first()
    require(maxB.isNullAt(0) || maxB.getLong(0) < nBuckets,
      s"logregScore: weight bucket ${maxB.get(0)} >= nBuckets $nBuckets " +
        "— trained and served bucket widths differ")
    // NULL text still gets a decision row (coalesce to empty — one
    // empty-token bucket, margin from whatever weight it carries):
    // an admission gate must answer for EVERY doc, never drop one
    logregFeatures(docs, id, coalesce(text, lit("")), nBuckets)
      .join(broadcast(weights.select(col("bucket"), col("w"))),
        Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(Snap.snappedSum(col("x") * coalesce(col("w"), lit(0.0)), 1e9)
        .as("m"))
      .select(col("doc_id"), col("m"),
        (lit(1.0) / (lit(1.0) + exp(-col("m")))).as("p"),
        (col("m") >= 0).as("admit"))
  }

  /** Distill an expensive quality gate into a cheap linear model — the
    * classifier-distillation step production pipelines run (GPT-3's
    * WebText quality classifier, RefinedWeb's filters): logistic
    * regression on a HASHED bag-of-words (md5(token) % nBuckets — the
    * hashing trick, so the feature space is fixed-width regardless of
    * vocabulary), trained by two deterministic full-batch gradient
    * steps from w = 0 with per-step snapped weights.
    *
    * Determinism: step 1's p_i = σ(0) is EXACTLY ½, so its gradient is
    * a sum of exact binary halves (order-free without snapping); the
    * step-2 margins and gradient are 1e9-snapped order-independent
    * sums; each weight update snaps to the 1e6 grid before use (the
    * q171 Bradley–Terry iterate discipline), so both engines replay
    * the identical trajectory. `labels` = (doc_id, y ∈ {0.0, 1.0}).
    *
    * Scale shape: the hashed feature table is (docs × ≤nBuckets) rows,
    * materialized once for its three consumers; every per-bucket
    * aggregation is map-side combined to nBuckets rows; the weight
    * vector broadcasts. One corpus-sized equi-join per step against
    * the label table. Returns (bucket, w1, w2) — the trajectory, not
    * just the endpoint, so drift between steps is visible. */
  def logregDistill(docs: DataFrame, id: Column, text: Column,
      labels: DataFrame, nBuckets: Int = 32, eta: Double = 0.5,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    import graft.expr.Snap
    val x = materialize(logregFeatures(docs, id, text, nBuckets))
    val y = labels.select(col("doc_id"), col("y"))
    val n = {
      val r = y.agg(count(lit(1))).first()
      math.max(r.getLong(0), 1L).toDouble
    }
    // step 1 from w = 0: every p_i is EXACTLY 0.5, so the gradient
    // Σ x·(y − ½) is a sum of exact binary halves — exact in any
    // summation order, no snap needed
    val w1 = x.join(y, "doc_id")
      .groupBy(col("bucket"))
      .agg(sum(col("x") * (col("y") - lit(0.5))).as("g"))
      .select(col("bucket"),
        (floor((lit(eta) * col("g") / lit(n)) * lit(1e6) + lit(0.5)) /
          lit(1e6)).as("w1"))
    // step 2: margins and the gradient are order-free snapped sums;
    // the single transcendental (exp) feeds a snapped update, the
    // q171 Bradley–Terry discipline
    val margins = x.join(broadcast(w1), "bucket")
      .groupBy(col("doc_id"))
      .agg(Snap.snappedSum(col("x") * col("w1"), 1e9).as("m"))
    val p = margins.select(col("doc_id"),
      (lit(1.0) / (lit(1.0) + exp(-col("m")))).as("p"))
    val w2 = x.join(y, "doc_id").join(p, "doc_id")
      .groupBy(col("bucket"))
      .agg(Snap.snappedSum(col("x") * (col("y") - col("p")), 1e9).as("g"))
      .join(broadcast(w1), "bucket")
      .select(col("bucket"),
        (floor((col("w1") + lit(eta) * col("g") / lit(n)) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("w2"))
    w1.join(w2, "bucket").select(col("bucket"), col("w1"), col("w2"))
  }


  /** Unbiased pass@k (Chen et al. "Evaluating LLMs Trained on Code",
    * 2021, eq. 1) per problem: with n candidates of which c pass,
    * pass@k = 1 − C(n−c, k)/C(n, k) = 1 − Π_{i<k} (n−c−i)/(n−i) — the
    * expected probability that at least one of k drawn candidates
    * passes, the standard best-of-n eval of generated code/data.
    * Computed as the fixed-order product of k integer-ratio factors
    * (each a ratio of exact counts — any engine replays the identical
    * doubles); the degenerate branches are integer decisions:
    * n < k → NULL (undefined), c > n − k → 1 (every k-subset hits).
    *
    * Scale shape: ONE map-side-combined aggregation to |problems|
    * rows; the estimator is a pure projection. */
  def passAtK(candidates: DataFrame, problem: Column, pass: Column,
      ks: Seq[Int] = Seq(1, 2, 4)): DataFrame = {
    val agged = candidates
      .select(problem.as("problem_id"), pass.cast("long").as("p"))
      .groupBy(col("problem_id"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("c"))
    val outs = ks.map { k =>
      val prod = (0 until k)
        .map(i => (col("n") - col("c") - lit(i)).cast("double") /
          (col("n") - lit(i)).cast("double"))
        .reduce(_ * _)
      when(col("n") < k, lit(null).cast("double"))
        .when(col("c") > col("n") - lit(k), lit(1.0))
        .otherwise(round(lit(1.0) - prod, 6)).as(s"pass$k")
    }
    agged.select(col("problem_id") +: col("n") +: col("c") +: outs: _*)
  }

  /** Per-group success rate with the WILSON score interval (Wilson
    * 1927) — the small-sample-honest error bar every curation
    * dashboard should put on a gate's pass rate (the normal-approx
    * interval lies at the rates gates actually produce: p̂ near 0 or 1
    * on few docs). Closed form over exact integer counts and the
    * literal z — one fixed parenthesization, √ correctly rounded, so
    * both engines replay identical bounds. One map-side-combined
    * aggregation to |groups| rows. */
  def rateWilson(df: DataFrame, grp: Column, success: Column,
      z: Double = 1.96): DataFrame = {
    val agged = df
      .select(grp.as("grp"), when(success, 1L).otherwise(0L).as("s"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(col("s")).as("n_pass"))
    val n = col("n_rows").cast("double")
    val ph = col("n_pass").cast("double") / n
    val z2 = lit(z) * lit(z)
    val denom = lit(1.0) + z2 / n
    val center = (ph + z2 / (n * lit(2.0))) / denom
    val half = (lit(z) / denom) *
      sqrt(ph * (lit(1.0) - ph) / n + z2 / (n * n * lit(4.0)))
    agged.select(col("grp"), col("n_rows"), col("n_pass"),
      round(ph, 6).as("rate"),
      round(center - half, 6).as("lo"),
      round(center + half, 6).as("hi"))
  }

  /** Murphy (1973) decomposition of the Brier score over binned
    * forecasts — the companion to [[calibrationReport]]: ECE reads the
    * calibration GAP per bin; this splits the squared-error score into
    * reliability (calibration error — lower is better), resolution
    * (how much the forecasts separate outcomes — higher is better) and
    * the outcome's irreducible uncertainty ō(1−ō), so "is the
    * classifier bad or is the task hard" becomes a number. Also emits
    * the measured Brier score Σ(conf−ok)²/N itself (the decomposition
    * identity holds exactly only for bin-constant forecasts; both are
    * reported, neither is derived from the other).
    *
    * Deterministic: outcome rates are exact integer ratios, every
    * forecast sum snaps to the 1e9 grid before the order-free decimal
    * Σ, and the bin-term sums (≤ `bins` values) snap the same way.
    * Two aggregations: corpus → `bins` rows → one row:
    * (n, o_bar, brier, reliability, resolution, uncertainty). */
  def brierDecomposition(preds: DataFrame, conf: Column, correct: Column,
      bins: Int = 10): DataFrame = {
    require(bins > 0, s"brierDecomposition: bins=$bins")
    import graft.expr.Snap
    val g = 1e9
    val b = preds.select(
      least(floor(conf * lit(bins)).cast("long"), lit(bins - 1L)).as("bin"),
      conf.as("conf"), when(correct, 1L).otherwise(0L).as("ok"))
    val perBin = b.groupBy(col("bin")).agg(
      count(lit(1)).as("nk"), sum(col("ok")).as("okk"),
      Snap.snappedSum(col("conf"), g).as("confsum"),
      Snap.snappedSum((col("conf") - when(col("ok") === 1L, lit(1.0))
        .otherwise(lit(0.0))) *
        (col("conf") - when(col("ok") === 1L, lit(1.0))
          .otherwise(lit(0.0))), g).as("sqerr"))
    val nk = col("nk").cast("double")
    val obark = col("okk").cast("double") / nk
    val pbark = col("confsum") / nk
    val a = perBin.agg(sum(col("nk")).as("n"), sum(col("okk")).as("tot_ok"),
      Snap.snappedSum(col("sqerr"), g).as("se"),
      Snap.snappedSum(nk * (pbark - obark) * (pbark - obark), g).as("rel"),
      Snap.snappedSum(nk * obark * obark, g).as("reso2"))
    val n = col("n").cast("double")
    val obar = col("tot_ok").cast("double") / n
    // Σ nk(ōk − ō)² = Σ nk ōk² − n ō² (the per-bin ōk are exact
    // rationals; the expansion keeps the global ō out of the bin pass)
    a.select(col("n"), round(obar, 6).as("o_bar"),
      round(col("se") / n, 6).as("brier"),
      round(col("rel") / n, 6).as("reliability"),
      round((col("reso2") - n * obar * obar) / n, 6).as("resolution"),
      round(obar * (lit(1.0) - obar), 6).as("uncertainty"))
  }

  /** Fleiss' kappa (Fleiss 1971) across m ≥ 2 binary raters — the
    * multi-rater generalization of [[cohenKappa]]: when a corpus runs
    * SEVERAL admission gates (or several annotators label the same
    * docs), kappa reads whether their agreement beats what their
    * marginal rates alone would produce — near-zero kappa means the
    * gates are independent filters (union them), high kappa means they
    * are redundant (drop the expensive one; the q186 gate-overlap
    * audit's statistical summary).
    *
    * Every input to the formula is an exact integer count (per-item
    * positive-vote count c₁, its pairwise-agreement sum Σ c(c−1)), so
    * both engines replay identical digits: P̄ = Σᵢ Pᵢ / n with
    * Pᵢ = (c₁(c₁−1) + c₀(c₀−1)) / (m(m−1)), P̄ₑ = p₁² + p₀², κ =
    * (P̄ − P̄ₑ)/(1 − P̄ₑ), NULL when every rating agrees (P̄ₑ = 1 —
    * chance agreement saturates, κ undefined; the psi/kappa NULL
    * convention). One map-side-combined aggregation to a single row:
    * (n_items, p_bar, p_e, kappa). */
  def fleissKappa(items: DataFrame, raters: Seq[Column]): DataFrame = {
    val m = raters.size.toLong
    require(m >= 2, "fleissKappa: need at least two raters")
    val c1 = raters.map(r => when(r, 1L).otherwise(0L)).reduce(_ + _)
    val a = items.select(c1.as("c1"))
      .agg(count(lit(1)).as("n_items"), sum(col("c1")).as("tot1"),
        sum(col("c1") * (col("c1") - 1L) +
          (lit(m) - col("c1")) * (lit(m) - col("c1") - 1L)).as("agree"))
    val n = col("n_items").cast("double")
    val mm = (m * (m - 1)).toDouble
    val pbar = col("agree").cast("double") / (n * lit(mm))
    val p1 = col("tot1").cast("double") / (n * lit(m.toDouble))
    val pe = p1 * p1 + (lit(1.0) - p1) * (lit(1.0) - p1)
    a.select(col("n_items"), round(pbar, 6).as("p_bar"),
      round(pe, 6).as("p_e"),
      when(pe < 1.0, round((pbar - pe) / (lit(1.0) - pe), 6))
        .as("kappa"))
  }

  /** Risk–coverage curve for selective prediction (Geifman &
    * El-Yaniv 2017) — the OPERATING-POINT picker a gated classifier
    * needs: answer only when confidence ≥ t; at each candidate t,
    * coverage (share answered) and selective accuracy (accuracy among
    * the answered). Candidate thresholds are the DISTINCT 6-dp
    * confidence grid (bounded by rounding, not |rows| — the q137
    * discipline); counts come from one descending cumulative window
    * over the grid; `chosen` marks the SMALLEST threshold whose
    * selective accuracy meets `targetAcc` (maximal coverage at the
    * accuracy bar — the deployment answer; no qualifying threshold →
    * no row marked). Exact integers until the two output divisions.
    * Returns (threshold, n_covered, n_correct, coverage, sel_acc,
    * chosen). */
  def riskCoverage(preds: DataFrame, conf: Column, correct: Column,
      targetAcc: Double): DataFrame = {
    val g = preds.select(conf.as("c"), correct.as("ok"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("k"))
    val desc = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    val cum = g.withColumn("n_covered", sum(col("n")).over(desc))
      .withColumn("n_correct", sum(col("k")).over(desc))
      .withColumn("nt", sum(col("n")).over(all))
    val selAcc = col("n_correct").cast("double") /
      col("n_covered").cast("double")
    val chosen = min(when(selAcc >= lit(targetAcc), col("c"))).over(all)
    cum.withColumn("ch", chosen)
      .select(col("c").as("threshold"), col("n_covered"), col("n_correct"),
        round(col("n_covered").cast("double") / col("nt").cast("double"), 6)
          .as("coverage"),
        round(selAcc, 6).as("sel_acc"),
        (col("c") === col("ch")).as("chosen"))
  }

  /** Average precision (the area under the precision–recall curve in
    * its standard step form, AP = Σ_t P(t)·ΔR(t) over DESCENDING
    * score thresholds) — the PR-side summary next to [[rankAuc]]'s
    * ROC AUC: ROC-AUC flatters under class imbalance (the curation
    * regime — most docs fail a gate); AP weighs exactly the positive
    * class. Thresholds are the distinct 6-dp score grid; P and ΔR are
    * exact-integer ratios per grid row; the final sum is 1e9-snapped
    * (order-free). Returns one row (n, n_pos, ap); no positives →
    * NULL ap. */
  def averagePrecision(preds: DataFrame, score: Column, positive: Column)
      : DataFrame = {
    import graft.expr.Snap
    val g = preds.select(score.as("c"), positive.as("p"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p"), 1L).otherwise(0L)).as("k"))
    val desc = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy()
    val cum = g.withColumn("cn", sum(col("n")).over(desc))
      .withColumn("ck", sum(col("k")).over(desc))
      .withColumn("nt", sum(col("n")).over(all))
      .withColumn("kt", sum(col("k")).over(all))
    // P(t)·ΔR(t) with ΔR = k_at_this_threshold / total positives
    val term = (col("ck").cast("double") / col("cn").cast("double")) *
      (col("k").cast("double") / col("kt").cast("double"))
    cum.groupBy()
      .agg(max(col("nt")).as("n"), max(col("kt")).as("n_pos"),
        when(max(col("kt")) > 0L,
          round(Snap.snappedSum(term, 1e9), 6)).as("ap"))
  }

  /** Temperature scaling scan (Guo et al. 2017 §4.2 — the one-knob
    * post-hoc calibration fix): for each T on a fixed grid, the mean
    * NLL of the true label under the temperature-softened softmax,
    * nll_doc(T) = ln Σ_c exp((s_c − s_max)/T) − (s_true − s_max)/T —
    * the algebraic form that never materializes probabilities (no
    * underflow, one ln per doc). `best` marks the grid argmin
    * (ties → smaller T; with T=1 on the grid, `best ≠ 1` IS the
    * miscalibration verdict — the companion number to q169's ECE).
    *
    * The grid is a broadcast |T|-row frame crossed into the scoring
    * frame: |docs|·|labels|·|T| narrow rows, two map-side-combined
    * aggregations (per-doc normalizer with snapped sums, per-T snapped
    * mean). Dyadic grid steps (k·0.25) replay exactly in any engine.
    * `scores` is a [[nbScores]]-shaped (doc_id, clab, score) frame;
    * `labels` is (doc_id, lab). Returns (temp, nll, best). */
  def temperatureScan(scores: DataFrame, labels: DataFrame,
      temps: Seq[Double] = (1 to 16).map(_ * 0.25),
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    require(temps.nonEmpty && temps.forall(_ > 0),
      s"temperatureScan: temps=$temps")
    import graft.expr.Snap
    val sc = materialize(scores
      .join(scores.groupBy(col("doc_id")).agg(max(col("score")).as("mx")),
        "doc_id"))
    val grid = {
      val s2 = scores.sparkSession
      import s2.implicits._
      broadcast(temps.toDF("temp"))
    }
    val z = sc.crossJoin(grid)
      .groupBy(col("doc_id"), col("temp"))
      .agg(Snap.snappedSum(exp((col("score") - col("mx")) / col("temp")),
        1e9).as("z"))
    val tru = sc.join(labels.select(col("doc_id"), col("lab")), "doc_id")
      .filter(col("clab") === col("lab"))
      .select(col("doc_id"), col("score").as("st"), col("mx"))
    val nll = z.join(tru, "doc_id")
      .select(col("temp"),
        (log(col("z")) - (col("st") - col("mx")) / col("temp")).as("l"))
      .groupBy(col("temp"))
      .agg((Snap.snappedSum(col("l"), 1e9) /
        count(lit(1)).cast("double")).as("nll0"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("nll0"), col("temp")) // |T|-row frame
    nll.withColumn("rn", row_number().over(w))
      .select(col("temp"), round(col("nll0"), 6).as("nll"),
        (col("rn") === 1).as("best"))
  }

  /** Confident-learning label-noise detection (Northcutt et al. 2021):
    * count docs whose own label looks WRONG under the corpus-trained
    * classifier — the label-audit gate a curation pipeline runs on its
    * weak labels before training on them. Per class j, the confidence
    * threshold t_j is the mean self-confidence E[p(ŷ=j|x) | label=j]
    * (means of 6-dp [[nbPosteriors]] probs via snapped sums — engine-
    * exact); a doc labeled i is SUSPECTED as j when p_j ≥ t_j for some
    * j ≠ i, taking the argmax-probability candidate (ties
    * label-ascending). The thresholds are what make this better than
    * "argmax disagrees": an under-confident class doesn't mass-flag
    * its own docs.
    *
    * Scale shape: one [[nbScores]] pass (model broadcast), posteriors
    * and thresholds are |docs|·|labels|- and |labels|-sized rollups,
    * the flag join keys on clab against the broadcast threshold table.
    * Returns the off-diagonal suspected-error matrix
    * (lab, suspect_lab, n_docs). */
  def labelNoise(docs: DataFrame, id: Column, text: Column, label: Column,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      trainTf0: Option[DataFrame] = None,
      classifyTf0: Option[DataFrame] = None,
      scores0: Option[DataFrame] = None): DataFrame = {
    import graft.expr.Snap
    // scores0: the SESSION full-corpus score artifact (q154 shares it)
    // — with it supplied this audit never trains or tokenizes at all
    val sc = scores0.getOrElse {
      val model = nbTrain(docs, id, text, label, materialize, trainTf0)
      materialize(nbScores(model, docs, id, text, materialize,
        classifyTf0))
    }
    val post = materialize(softmaxPosteriors(sc))
    val labs = docs.select(id.as("doc_id"), label.as("lab"))
    val th = post.join(labs, "doc_id")
      .filter(col("clab") === col("lab"))
      .groupBy(col("clab"))
      .agg((Snap.snappedSum(col("prob"), 1e9) /
        count(lit(1)).cast("double")).as("t"))
    val cand = post.join(labs, "doc_id")
      .join(broadcast(th), "clab")
      .filter(col("prob") >= col("t") && col("clab") =!= col("lab"))
    cand.groupBy(col("doc_id"), col("lab"))
      .agg(min(struct((-col("prob")).as("np"), col("clab"))).as("best"))
      .select(col("lab"), col("best.clab").as("suspect_lab"))
      .groupBy(col("lab"), col("suspect_lab"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** k-anonymity audit over a quasi-identifier combination (Sweeney
    * 2002) — the re-identification gate a dataset RELEASE runs before
    * publishing: any QI cell with fewer than k rows singles its
    * members out (the linkage-attack surface). Emits every occupied QI
    * cell with its count and the at-risk flag, so the caller can
    * suppress or generalize exactly the failing cells; the summary
    * numbers (cells at risk, rows at risk) are one rollup away. One
    * map-side-combined aggregation to the QI-grid-sized cell table —
    * table size never matters, grid size does (the caller's
    * generalization choice, e.g. bucketing a numeric QI, IS the knob).
    * Returns (quasi…, n_rows, at_risk). */
  def kAnonymity(df: DataFrame, quasi: Seq[(String, Column)], k: Long)
      : DataFrame = {
    require(quasi.nonEmpty && k >= 2, s"kAnonymity: k=$k")
    df.groupBy(quasi.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("at_risk", col("n_rows") < k)
  }

  /** ε-differentially-private histogram release (Dwork et al. 2006 —
    * the Laplace mechanism): per-cell counts plus Laplace(1/ε) noise,
    * the OTHER release gate next to [[kAnonymity]] (k-anonymity
    * suppresses small cells; DP noises every cell so no single row's
    * presence is inferable, sensitivity 1 for disjoint-cell counts).
    * The noise is DETERMINISTIC-replayable — u from the md5 of
    * (cell, seed) shifted to the open interval ((h+0.5)/2³²), inverse
    * CDF −(1/ε)·sign(u−½)·ln(1−2|u−½|) — no RNG state, any engine
    * replays the identical release (and honest DP deployment swaps the
    * seed per release — the mechanism's privacy rests on the seed's
    * secrecy here, which is the standard PRG compromise).
    * One map-side-combined aggregation to the cell grid; noise is pure
    * projection. Returns (dims…, n_noisy) — the RAW count is
    * deliberately absent from the release. */
  def dpNoisyCounts(df: DataFrame, dims: Seq[(String, Column)],
      epsilon: Double, seed: String): DataFrame = {
    require(dims.nonEmpty && epsilon > 0, s"dpNoisyCounts: eps=$epsilon")
    val cells = df.groupBy(dims.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("n"))
    val key = concat_ws("|",
      dims.map { case (n, _) => col(n).cast("string") } :+ lit(seed): _*)
    val u = (graft.expr.Similarity.md5PrefixLong(key, 8)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    val centered = u - lit(0.5)
    val noise = -(lit(1.0) / lit(epsilon)) * signum(centered) *
      log(lit(1.0) - lit(2.0) * abs(centered))
    cells.select(dims.map { case (n, _) => col(n) } :+
      round(col("n").cast("double") + noise, 4).as("n_noisy"): _*)
  }

  /** Cochran's Q test (Cochran 1950) — do k binary gates pass at the
    * SAME rate on the same documents? The TEST companion of the
    * agreement pair ([[fleissKappa]]/[[krippendorffAlpha]] ask "do
    * they agree"; Q asks "is any gate systematically stricter" —
    * repeated-measures, so it respects that the gates judge the same
    * docs, which independent z-tests would not). The integer-exact
    * form Q = (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²): column totals,
    * grand total, and per-doc row-total squares — ONE map-side-
    * combined aggregation to a single row; the only doubles are the
    * final ratio and the Wilson–Hilferty p at df = k−1 (the q219
    * discipline). Degenerate denominator (every doc all-pass or
    * all-fail) → NULL. Returns (n_items, df, q_stat, p_value). */
  def cochranQ(items: DataFrame, raters: Seq[Column]): DataFrame = {
    val k = raters.size
    require(k >= 2, "cochranQ: need at least two gates")
    val r = raters.map(c => when(c, 1L).otherwise(0L))
    val row = r.reduce(_ + _)
    val aggs = r.zipWithIndex.map { case (c, i) => sum(c).as(s"c$i") } ++
      Seq(count(lit(1)).as("n"), sum(row).as("t"),
        sum(row * row).as("r2"))
    val a = items.agg(aggs.head, aggs.tail: _*)
    // T² and ΣC² reach k²N² — past signed-64 at ~10⁹ docs: exact
    // DECIMAL(38,0) arithmetic (the mannWhitneyU discipline)
    val sumC2 = (0 until k).map(i => col(s"c$i").cast("decimal(38,0)") *
      col(s"c$i")).reduce(_ + _)
    val num = lit((k - 1).toLong) * (lit(k.toLong) * sumC2 -
      col("t").cast("decimal(38,0)") * col("t"))
    val den = lit(k.toLong) * col("t") - col("r2")
    val q = num.cast("double") / den.cast("double")
    val dfv = (k - 1).toDouble
    // Wilson–Hilferty at df = k−1, upper tail (the q219 construction)
    val zwh = (pow(q / lit(dfv), lit(1.0 / 3.0)) -
      (lit(1.0) - lit(2.0) / lit(9.0 * dfv))) /
      sqrt(lit(2.0) / lit(9.0 * dfv))
    a.select(col("n").as("n_items"), lit((k - 1).toLong).as("df"),
      when(den > 0L, round(q, 4)).as("q_stat"),
      when(den > 0L, round(
        when(zwh >= 0, Analytics.normalPValue2(zwh) / lit(2.0))
          .otherwise(lit(1.0) - Analytics.normalPValue2(zwh) / lit(2.0)),
        6)).as("p_value"))
  }

  /** McNemar's test with continuity correction (McNemar 1947) — did
    * gate B pass docs gate A failed ASYMMETRICALLY? The paired
    * comparison of two classifiers on the same examples (comparing
    * marginal rates with two independent z-tests throws away the
    * pairing; McNemar reads only the DISCORDANT cells). With b = #(A
    * pass, B fail) and c = #(A fail, B pass): χ² = (|b−c|−1)²/(b+c),
    * and at df = 1 the p-value is EXACT through the shared erfc
    * primitive — p = 2(1−Φ(√χ²)) — no cube-root approximation needed.
    * One map-side-combined aggregation; b + c = 0 (no discordance) →
    * NULL stats. Returns (n_items, n_ab, n_ba, chi2, p_value). */
  def mcnemar(items: DataFrame, a: Column, b: Column): DataFrame = {
    val s = items.agg(count(lit(1)).as("n_items"),
      sum(when(a && !b, 1L).otherwise(0L)).as("n_ab"),
      sum(when(!a && b, 1L).otherwise(0L)).as("n_ba"))
    val d = col("n_ab") + col("n_ba")
    // Edwards correction clamped at 0: b = c must score χ² = 0, not
    // the correction's phantom 1/(b+c)
    val corr = greatest(abs(col("n_ab") - col("n_ba")) - lit(1L), lit(0L))
    val chi2 = (corr * corr).cast("double") / d.cast("double")
    s.select(col("n_items"), col("n_ab"), col("n_ba"),
      when(d > 0L, round(chi2, 4)).as("chi2"),
      when(d > 0L,
        round(Analytics.normalPValue2(sqrt(chi2)), 6)).as("p_value"))
  }

  /** Krippendorff's alpha for binary nominal ratings with MISSING
    * values (Krippendorff 2004) — the generalization [[fleissKappa]]
    * can't make: Fleiss needs every rater on every item; real gate
    * panels abstain (a language gate has no verdict on a 10-char doc).
    * Observed disagreement D_o = (1/n)·Σ_i 2c_i(m_i−c_i)/(m_i−1) over
    * items with m_i ≥ 2 pairable ratings; expected D_e =
    * 2·n₁·n₀/(n(n−1)) from the pooled value counts; α = 1 − D_o/D_e.
    * Every input is an exact integer (c_i, m_i, the pooled totals);
    * the one division chain is fixed-parenthesization doubles — both
    * engines replay identical digits; a unanimous pool (D_e = 0)
    * yields NULL (the kappa undefined convention). One map-side-
    * combined aggregation to a single row: `raters` are nullable
    * boolean columns (NULL = abstained). Returns
    * (n_items, n_ratings, d_o, d_e, alpha). */
  def krippendorffAlpha(items: DataFrame, raters: Seq[Column])
      : DataFrame = {
    require(raters.size >= 2, "krippendorffAlpha: need two raters")
    import graft.expr.Snap
    val m = raters.map(r => when(r.isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    val c = raters.map(r => when(r === true, 1L).otherwise(0L))
      .reduce(_ + _)
    val a = items.select(m.as("m"), c.as("c")).filter(col("m") >= 2L)
      .agg(count(lit(1)).as("n_items"), sum(col("m")).as("n"),
        sum(col("c")).as("n1"),
        // Σ 2c(m−c)/(m−1): an exact rational per item — snapped so the
        // Σ is order-free even when (m−1) ∤ 2c(m−c)
        Snap.snappedSum(lit(2.0) * col("c").cast("double") *
          (col("m") - col("c")).cast("double") /
          (col("m") - 1L).cast("double"), 1e9).as("dsum"))
    val nD = col("n").cast("double")
    val n1D = col("n1").cast("double")
    val dO = col("dsum") / nD
    val dE = lit(2.0) * n1D * (nD - n1D) / (nD * (nD - lit(1.0)))
    a.select(col("n_items"), col("n").as("n_ratings"),
      round(dO, 6).as("d_o"), round(dE, 6).as("d_e"),
      when(dE > 0.0, round(lit(1.0) - dO / dE, 6)).as("alpha"))
  }

  /** k-fold cross-validated accuracy of the [[nbTrain]]/[[nbClassify]]
    * multinomial NB — the variance answer q156's single holdout can't
    * give (one split = one accuracy sample; k folds show whether the
    * classifier's quality is stable or split-lucky). Folds are
    * `pmod(doc_id, k)` (deterministic, engine-replayable — the q156
    * doc_id%3 convention generalized).
    *
    * NOT a k-iteration driver loop: the fold axis is a broadcast k-row
    * grid crossed into the model aggregations, so all k models train in
    * ONE plan — counts group by (fold, lab, term) over `fold ≠ f` rows,
    * smoothing/priors/scoring replicate [[nbTrain]]/[[nbScores]] exactly
    * per fold (same Laplace vocab-size smoothing, 1e9-snapped seen-term
    * sums, 4-dp argmax with label-asc ties). Model tables are k× the
    * (labels × vocab) size — still vocabulary-bounded, broadcast at
    * scoring. `docTf0`: the session (doc_id, lab, term, tf) artifact —
    * with it supplied the corpus is never re-tokenized. Returns one row
    * per fold: (fold, n_docs, n_correct, accuracy). */
  def kfoldNbEval(docs: DataFrame, id: Column, text: Column, label: Column,
      k: Int = 5,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      docTf0: Option[DataFrame] = None,
      scores0: Option[DataFrame] = None): DataFrame = {
    require(k >= 2, s"kfoldNbEval: k=$k")
    // the held-out fold scores: the session-shared all-pairs artifact
    // filtered to fold = f, or a direct build ([[kfoldScores]] — the
    // leave-one-out TOTAL − OWN counts equal the direct fold ≠ f
    // aggregation term-for-term, so scores are bit-identical)
    val sc = scores0.map(_.filter(col("fold") === col("f")))
      .getOrElse(kfoldScores(docs, id, text, label, k, materialize,
        docTf0, serve = "heldout"))
    val best = sc.groupBy(col("f"), col("doc_id"), col("lab"))
      .agg(min(struct((-col("score")).as("ns"), col("clab"))).as("best"))
      .select(col("f"), col("lab"), col("best.clab").as("pred"))
    best.groupBy(col("f").as("fold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("lab"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("fold"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") /
          col("n_docs").cast("double"), 6).as("accuracy"))
  }

  /** Unbiased best-of-n estimator from M i.i.d. samples per task
    * (Nakano et al. 2021, WebGPT appendix; the BoN curve every
    * reward-model / sampling-strategy eval reports): the naive
    * "max of the first n" wastes M−n samples and is high-variance;
    * the order-statistics identity
    *   E[max of n] = Σ_{i=n..M} C(i−1, n−1)/C(M, n) · s_(i)
    * (s_(1) ≤ … ≤ s_(M) the sorted scores) uses ALL M samples and is
    * exactly unbiased. Samples cap at `nCap` per task by md5 order
    * (the q118 min-k convention — deterministic, engine-portable),
    * which keeps every binomial an EXACT small long (C(19, 9) tops
    * out ~92k): the weights are ratios of exact integers, the weighted
    * Σ snaps at 1e9, so the estimate replays bit-exactly. Ranks break
    * ties (score, id) — deterministic. n > M → NULL (not enough
    * samples to ask the question).
    *
    * Scale shape: both windows PARTITION BY task (never global); one
    * map-side pass after the rank; output is |tasks|×|ns| rows.
    * Returns (grp, n, n_samples, bon_est), 6 dp. */
  def bestOfN(samples: DataFrame, task: Column, id: Column,
      score: Column, nCap: Int = 20, ns: Seq[Int] = Seq(1, 5, 10),
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    import graft.expr.Snap
    require(nCap >= 1 && nCap <= 60 && ns.nonEmpty &&
      ns.forall(n => n >= 1 && n <= nCap),
      s"bestOfN: nCap=$nCap ns=$ns")
    def choose(a: Int, b: Int): Long =
      if (b < 0 || b > a) 0L
      else (1 to b).foldLeft(1L)((acc, j) => acc * (a - b + j) / j)
    val byHash = Window.partitionBy(col("__t"))
      .orderBy(md5(col("__id").cast("string")), col("__id"))
    val byScore = Window.partitionBy(col("__t"))
      .orderBy(col("__s").asc, col("__id").asc)
    val samp = samples.select(task.as("__t"), id.as("__id"),
        score.cast("double").as("__s"))
      .withColumn("__hr", row_number().over(byHash))
      .filter(col("__hr") <= nCap)
      .withColumn("__i", row_number().over(byScore))
    // materialized ONCE (tasks×nCap rows): each n-branch would
    // otherwise replay the corpus scan + both rank windows
    val withM = materialize(samp.withColumn("__m",
      count(lit(1)).over(Window.partitionBy(col("__t")))))
    val outs = ns.map { n =>
      // weight(i) = C(i−1, n−1)/C(M, n): both 1-D literal lookups
      // over exact longs once n is fixed
      val num = element_at(
        array((1 to nCap).map(i => lit(choose(i - 1, n - 1))): _*),
        col("__i").cast("int")).cast("double")
      val den = element_at(
        array((1 to nCap).map(m => lit(choose(m, n))): _*),
        col("__m").cast("int")).cast("double")
      withM.groupBy(col("__t"), col("__m"))
        .agg(Snap.snappedSum(when(col("__i") >= n,
          num / den * col("__s")).otherwise(lit(0.0)), 1e9).as("est"))
        .select(col("__t").as("grp"), lit(n).as("n"),
          col("__m").as("n_samples"),
          round(when(col("__m") >= n, col("est")), 6).as("bon_est"))
    }
    outs.reduce(_.unionByName(_))
  }

  /** Rank-biased precision (Moffat & Zobel, TOIS 2008) of a ranked
    * list against binary relevance: RBP = (1−p)·Σ_r p^(r−1)·rel_r —
    * the user-model metric (a reader inspects rank r+1 with
    * persistence p) that, unlike precision@k, needs no cutoff and,
    * unlike MRR, credits every relevant hit. Also reports the
    * RESIDUAL (1-ranked-depth uncertainty): p^depth — how much score
    * an unjudged tail could still add, the metric's own honesty
    * term. The precision sibling of q269's RBO (same p-weighted
    * geometry, relevance instead of list overlap).
    *
    * Deterministic: ranks are exact ints, p^(r−1) is pow on small
    * exact ints (IEEE-identical), terms snap at 1e9 over the
    * ≤depth-row list. Returns one row: (depth, n_rel, rbp,
    * residual). */
  def rbpScore(ranked: DataFrame, rank: Column, rel: Column,
      p: Double = 0.8): DataFrame = {
    require(p > 0.0 && p < 1.0, s"rbpScore: p=$p")
    import graft.expr.Snap
    val b = ranked.select(rank.cast("long").as("r"),
      when(rel, 1L).otherwise(0L).as("rel"))
    b.agg(count(lit(1)).as("depth"), sum(col("rel")).as("n_rel"),
        Snap.snappedSum(pow(lit(p), (col("r") - lit(1L)).cast("double")) *
          col("rel").cast("double"), 1e9).as("s"))
      .select(col("depth"), col("n_rel"),
        round(lit(1.0 - p) * col("s"), 6).as("rbp"),
        round(pow(lit(p), col("depth").cast("double")), 6).as("residual"))
  }

  /** Youden-J optimal decision threshold (Youden 1950) for a score
    * that predicts a binary outcome — HERE, the selective-prediction
    * router next to q241's risk-coverage curve: accept the model's
    * answer when confidence ≥ t*, where t* maximizes
    * J(t) = TPR(t) − FPR(t), the threshold with the best
    * informedness independent of class balance. Reports the operating
    * point (TPR/FPR/accuracy at t*).
    *
    * Exactness: scores round to the 6-dp grid (bounding the distinct
    * grid at 10⁶+1 — the q241/q242 discipline); TP/FP at each
    * threshold are exact reverse-cumulative integers; J is a
    * difference of exact-integer ratios (IEEE-identical), and the
    * argmax packs (J, −t) into a struct max — ties break to the
    * LOWEST threshold (accept more), order-free. Either class empty →
    * NULL verdict. Scale: one corpus pass to the score grid, one
    * grid-bounded window (whitelisted), one-row output. Returns
    * (n_pos, n_neg, threshold, tpr, fpr, j, accuracy). */
  def youdenThreshold(preds: DataFrame, score: Column, positive: Column)
      : DataFrame = {
    val b = preds.select(round(score.cast("double"), 6).as("s"),
      when(positive, 1L).otherwise(0L).as("pos"))
    val g = b.groupBy(col("s")).agg(sum(col("pos")).as("np"),
      sum(lit(1L) - col("pos")).as("nn"))
    val tot = g.agg(coalesce(sum(col("np")), lit(0L)).as("p"),
      coalesce(sum(col("nn")), lit(0L)).as("n"))
    val w = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = g.select(col("s"), sum(col("np")).over(w).as("tp"),
        sum(col("nn")).over(w).as("fp"))
      .crossJoin(broadcast(tot))
    val j = col("tp").cast("double") / col("p").cast("double") -
      col("fp").cast("double") / col("n").cast("double")
    val cand = cum
      .select(struct(j.as("j"), (-col("s")).as("ns"), col("s").as("t"),
        col("tp"), col("fp")).as("c"))
      .filter(col("c").getField("j").isNotNull)
    val best = cand.agg(max(col("c")).as("best"))
    val tp = col("best").getField("tp").cast("double")
    val fp = col("best").getField("fp").cast("double")
    val pD = col("p").cast("double"); val nD = col("n").cast("double")
    val ok = col("p") > 0L && col("n") > 0L && col("best").isNotNull
    tot.crossJoin(best)
      .select(col("p").as("n_pos"), col("n").as("n_neg"),
        when(ok, col("best").getField("t")).as("threshold"),
        round(when(ok, tp / pD), 6).as("tpr"),
        round(when(ok, fp / nD), 6).as("fpr"),
        round(when(ok, col("best").getField("j")), 6).as("j"),
        round(when(ok, (tp + (nD - fp)) / (pD + nD)), 6).as("accuracy"))
  }

  /** Cohen's h effect size for two proportions (Cohen 1988 §6.2):
    * h = 2·arcsin√p₁ − 2·arcsin√p₂ — the variance-stabilized
    * difference whose detectability does NOT depend on where the
    * proportions sit (a 5-point gap at 50% and at 95% are different
    * amounts of evidence; h says by how much). The proportions
    * sibling of q274's Hedges g, next to q280's interval. Magnitude
    * label per Cohen's benchmarks (|h| ≥ .8 large, ≥ .5 medium,
    * ≥ .2 small, else negligible) on the 6-dp-rounded value.
    * Exact integer counts; one fixed IEEE composition; empty arm →
    * NULL. Returns (n_a, n_b, p_a, p_b, h, magnitude). */
  def cohensH(units: DataFrame, isA: Column, converted: Column)
      : DataFrame = {
    val b = units.select(isA.as("a"),
      when(converted, 1L).otherwise(0L).as("c"))
    val m = b.agg(sum(when(col("a"), 1L).otherwise(0L)).as("na"),
      sum(when(!col("a"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("a"), col("c")).otherwise(0L)).as("ca"),
      sum(when(!col("a"), col("c")).otherwise(0L)).as("cb"))
    val pa = col("ca").cast("double") / col("na").cast("double")
    val pb = col("cb").cast("double") / col("nb").cast("double")
    val h = lit(2.0) * asin(sqrt(pa)) - lit(2.0) * asin(sqrt(pb))
    val ok = col("na") > 0L && col("nb") > 0L
    val hr = round(when(ok, h), 6)
    m.select(col("na").as("n_a"), col("nb").as("n_b"),
      round(when(ok, pa), 6).as("p_a"), round(when(ok, pb), 6).as("p_b"),
      hr.as("h"),
      when(ok, when(abs(hr) >= 0.8, lit("large"))
        .when(abs(hr) >= 0.5, lit("medium"))
        .when(abs(hr) >= 0.2, lit("small"))
        .otherwise(lit("negligible"))).as("magnitude"))
  }

  /** DeLong nonparametric AUC confidence interval (DeLong, DeLong &
    * Clarke-Pearson 1988) — the error bar q168's point AUC lacks:
    * AUC is a two-sample U-statistic, so its variance decomposes
    * into the per-positive and per-negative PLACEMENT variances,
    *   V10_i = (#neg below + ½·#neg tied)/N,
    *   V01_j = (#pos above + ½·#pos tied)/P,
    *   v̂ar   = S²(V10)/P + S²(V01)/N
    * — no bootstrap, no normality assumption on the scores.
    *
    * Exactness: scores on the 6-dp grid; placements are
    * exact-integer ratios u/(2N) with u = 2·below + tied read off
    * exclusive cumulative windows; the weighted moment sums Σn·v,
    * Σn·v² snap at 1e6 (headroom: terms ≤ P); AUC itself is the
    * snapped Σ np·V10 / P (and equals the V01 form by the
    * U-statistic identity — spec-asserted). P < 2 or N < 2 → NULL
    * (the variance needs both sample variances).
    *
    * Scale shape: one corpus pass to the score grid, two
    * grid-bounded exclusive windows (whitelisted), one-row output.
    * Returns (n_pos, n_neg, auc, se, ci_lo, ci_hi). */
  def delongAuc(preds: DataFrame, score: Column, positive: Column)
      : DataFrame = {
    val b = preds.select(round(score.cast("double"), 6).as("s"),
      when(positive, 1L).otherwise(0L).as("pos"))
    val g = b.groupBy(col("s")).agg(sum(col("pos")).as("np"),
      sum(lit(1L) - col("pos")).as("nn"))
    delongFromGrid(g)
  }

  /** The DeLong readout over an already-built score-grid (s, np, nn)
    * table — shared by [[delongAuc]] and the streaming AUC sink,
    * whose state is exactly this table (per-score class counts are
    * additive, so the stream's merged state replays the batch
    * computation verbatim). */
  private[graft] def delongFromGrid(g: DataFrame): DataFrame = {
    import graft.expr.Snap
    val tot = g.agg(coalesce(sum(col("np")), lit(0L)).as("p"),
      coalesce(sum(col("nn")), lit(0L)).as("n"))
    val wUp = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wDn = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = g.select(col("s"), col("np"), col("nn"),
        coalesce(sum(col("nn")).over(wUp), lit(0L)).as("negBelow"),
        coalesce(sum(col("np")).over(wDn), lit(0L)).as("posAbove"))
      .crossJoin(broadcast(tot))
    val pD = col("p").cast("double"); val nD = col("n").cast("double")
    val v10 = (lit(2L) * col("negBelow") + col("nn")).cast("double") /
      (lit(2.0) * nD)
    val v01 = (lit(2L) * col("posAbove") + col("np")).cast("double") /
      (lit(2.0) * pD)
    val npD = col("np").cast("double"); val nnD = col("nn").cast("double")
    val mom = cum.agg(max(col("p")).as("p"), max(col("n")).as("n"),
      Snap.snappedSum(npD * v10, 1e6).as("s1"),
      Snap.snappedSum(npD * v10 * v10, 1e6).as("s2"),
      Snap.snappedSum(nnD * v01, 1e6).as("t1"),
      Snap.snappedSum(nnD * v01 * v01, 1e6).as("t2"))
    val auc = col("s1") / pD
    val s10 = (col("s2") - col("s1") * col("s1") / pD) / (pD - lit(1.0))
    val s01 = (col("t2") - col("t1") * col("t1") / nD) / (nD - lit(1.0))
    val se = sqrt(greatest(lit(0.0), s10 / pD + s01 / nD))
    val ok = col("p") >= 2L && col("n") >= 2L
    mom.select(col("p").as("n_pos"), col("n").as("n_neg"),
      round(when(ok, auc), 6).as("auc"),
      round(when(ok, se), 6).as("se"),
      round(when(ok, auc - lit(1.959964) * se), 6).as("ci_lo"),
      round(when(ok, auc + lit(1.959964) * se), 6).as("ci_hi"))
  }

  /** Benford first-significant-digit conformity monitor (Benford
    * 1938; Nigrini 2012's audit practice): organically-generated
    * positive amounts follow P(d) = log₁₀(1+1/d); fabricated,
    * truncated, or systematically-generated ones don't — the
    * cheapest data-integrity tripwire for a value column. Per digit:
    * observed vs expected share and the χ² contribution; the overall
    * χ²(8) verdict at the 5% critical 15.507 rides every row (the
    * per-digit diagram stays inspectable, the q169 convention).
    *
    * Exactness: values lift onto the integer `scale`-units grid
    * (cents by default) and the FIRST DIGIT is read from the
    * integer's decimal string — no log10 anywhere near a power-of-10
    * boundary, where libm ulps flip floor(log10(v)) cross-engine.
    * Expected shares are ln((d+1)/d)/ln(10) on exact small integers;
    * χ² terms are IEEE-identical and snap at 1e6 (order-free, and
    * headroom for the huge-n·gross-deviation corner a 1e9 grid
    * would overflow). Non-positive/NULL values are excluded and
    * COUNTED (n_skipped — stated, not hidden).
    *
    * Scale shape: one map-side-combined pass to the 9-row digit
    * table; everything after is 9-row arithmetic with a one-row
    * broadcast total. Returns (digit, n_obs, p_expected, p_observed,
    * chi2_term, chi2, reject, n, n_skipped). */
  def benfordReport(df: DataFrame, value: Column, scale: Int = 100)
      : DataFrame = {
    require(scale > 0, s"benfordReport: scale=$scale")
    val c = floor(value.cast("double") * lit(scale) + lit(0.5))
      .cast("long")
    val b = df.select(when(c > 0L,
      substring(c.cast("string"), 1, 1).cast("long")).as("d"))
    val per = b.groupBy(col("d")).agg(count(lit(1)).as("o"))
    benfordFromDigits(per)
  }

  /** The Benford χ² readout over an already-built per-digit (d, o)
    * count table (d NULL = the skipped bucket) — shared by
    * [[benfordReport]] and the streaming Benford sink, whose state is
    * exactly this ≤10-row additive table. */
  private[graft] def benfordFromDigits(per: DataFrame): DataFrame = {
    import graft.expr.Snap
    val digits = per.sparkSession.range(1, 10).select(col("id").as("digit"))
    val tot = per.agg(sum(when(col("d").isNotNull, col("o"))
        .otherwise(lit(0L))).as("n"),
      sum(when(col("d").isNull, col("o")).otherwise(lit(0L)))
        .as("n_skipped"))
    val nD = col("n").cast("double")
    val dD = col("digit").cast("double")
    val pExp = log((dD + lit(1.0)) / dD) / log(lit(10.0))
    val rows = digits
      .join(broadcast(per.withColumnRenamed("d", "digit")), Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("o"), lit(0L)).as("n_obs"),
        col("n"), col("n_skipped"), pExp.as("pe"))
    val oD = col("n_obs").cast("double")
    val term = when(col("n") > 0L,
      (oD - nD * col("pe")) * (oD - nD * col("pe")) / (nD * col("pe")))
    val scored = rows.select(col("digit"), col("n_obs"), col("n"),
      col("n_skipped"), col("pe"),
      when(col("n") > 0L, oD / nD).as("po"), term.as("term"))
    val chi2 = scored.agg(Snap.snappedSum(col("term"), 1e6).as("chi2"))
    scored.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n_obs"),
        round(col("pe"), 6).as("p_expected"),
        round(col("po"), 6).as("p_observed"),
        round(col("term"), 6).as("chi2_term"),
        round(col("chi2"), 6).as("chi2"),
        when(col("chi2").isNotNull,
          round(col("chi2"), 6) > lit(15.507)).as("reject"),
        col("n"), col("n_skipped"))
  }

  /** The k-fold NB model + serve artifact SHARED by q292's dataset
    * cartography and q330's confident learning (VERDICT r13 #2): both
    * build IDENTICAL fold models (leave-one-out counts ct, per-model
    * labStats, log-term tables) and differ only in WHICH (model, doc)
    * pairs they serve — cartography the k−1 in-training models
    * (fold ≠ f), confident learning the one held-out model
    * (fold = f). This builds the dense 4-dp score table once; `serve`
    * picks the pair set:
    *  - "all": every (f, doc) pair — the k-direction superset both
    *    tails filter (the session-shared artifact; total serve work =
    *    the two direct builds combined),
    *  - "train": fold ≠ f only (cartography standalone),
    *  - "heldout": fold = f only (confident learning standalone —
    *    no fold fanout at all).
    * Filtering the "all" table to either subset is bit-identical to
    * building that subset directly: the serve aggregation groups by
    * (f, doc_id, clab), so group contents never cross the filter.
    *
    * Scale shape: all k models train in ONE docTf-sized aggregation
    * (TOTAL − OWN leave-one-out counts); the serve side fans the
    * (doc, term, tf) artifact only by its pair multiplicity (≤ k),
    * probes vocabulary-sized broadcast model tables, and aggregates
    * doc-keyed — nothing corpus-global, zero windows. Returns
    * (f, fold, doc_id, lab, clab, score), materialized. */
  def kfoldScores(docs: DataFrame, id: Column, text: Column,
      label: Column, k: Int = 5,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      docTf0: Option[DataFrame] = None,
      serve: String = "all"): DataFrame = {
    require(k >= 2, s"kfoldScores: k=$k")
    require(Set("all", "train", "heldout")(serve),
      s"kfoldScores: serve=$serve")
    import graft.expr.Snap
    val docTf = docTf0.getOrElse(materialize(Fanout.fanout(docs)
      .select(id.as("doc_id"), label.as("lab"),
        explode(graft.expr.TextStats.tokens(text)).as("term"))
      .groupBy(col("doc_id"), col("lab"), col("term"))
      .agg(count(lit(1)).as("tf"))))
      .withColumn("fold", pmod(col("doc_id"), lit(k.toLong)))
    val folds = broadcast(docs.sparkSession.range(k)
      .select(col("id").as("f")))
    // fold-f training counts by TOTAL − OWN (the leave-one-out
    // identity): ONE docTf-sized aggregation instead of fanning the
    // corpus table ×k into the count build; the ×k join runs on the
    // vocabulary-sized rollups. ctf = 0 rows drop — a term whose every
    // occurrence sits in fold f is absent from that model's
    // vocabulary, exactly as the direct per-fold count built it.
    val own = docTf.groupBy(col("fold"), col("lab"), col("term"))
      .agg(sum(col("tf")).as("otf"))
    val tot = own.groupBy(col("lab"), col("term"))
      .agg(sum(col("otf")).as("ttf"))
    val ct = materialize(tot.crossJoin(folds)
      .join(own.withColumnRenamed("fold", "f"), Seq("f", "lab", "term"),
        "left")
      .select(col("f"), col("lab"), col("term"),
        (col("ttf") - coalesce(col("otf"), lit(0L))).as("ctf"))
      .filter(col("ctf") > 0L))
    val vv = ct.groupBy(col("f"))
      .agg(countDistinct(col("term")).as("v"))
    val cs = ct.groupBy(col("f"), col("lab")).agg(sum(col("ctf")).as("ctot"))
    val dl = docs.select(id.as("doc_id"), label.as("lab"))
      .withColumn("fold", pmod(col("doc_id"), lit(k.toLong)))
    val pr = dl.crossJoin(folds).filter(col("fold") =!= col("f"))
      .groupBy(col("f"), col("lab")).agg(count(lit(1)).as("nd"))
    val nt = pr.groupBy(col("f")).agg(sum(col("nd")).as("ntot"))
    val labStats = cs.join(pr, Seq("f", "lab")).join(broadcast(nt), "f")
      .join(broadcast(vv), "f")
      .select(col("f"), col("lab").as("clab"),
        log(col("nd").cast("double") / col("ntot").cast("double"))
          .as("prior_ln"),
        log(lit(1.0) / (col("ctot") + col("v")).cast("double")).as("lp0"))
    val terms = ct.select(col("f"), col("lab").as("clab"), col("term"),
      log((col("ctf") + lit(1L)).cast("double")).as("lterm"))
    // the (model, doc) pair set this table serves
    def pairs(base: DataFrame): DataFrame = serve match {
      case "heldout" => base.withColumn("f", col("fold"))
      case "train"   => base.crossJoin(folds).filter(col("fold") =!= col("f"))
      case _         => base.crossJoin(folds)
    }
    val seen = pairs(docTf).join(broadcast(terms), Seq("f", "term"))
      .groupBy(col("f"), col("doc_id"), col("clab"))
      .agg(Snap.snappedSum(col("tf").cast("double") * col("lterm"), 1e9)
        .as("s1"))
    // n_tok is fold-invariant (the doc's own token count): aggregate
    // docTf ONCE, then fan the doc-sized rollup to its pair models —
    // never the other way around
    val docN = pairs(docTf.groupBy(col("doc_id"), col("lab"), col("fold"))
      .agg(sum(col("tf")).as("n_tok")))
      .select(col("f"), col("fold"), col("doc_id"), col("lab"),
        col("n_tok"))
    materialize(docN.join(broadcast(labStats), Seq("f"))
      .join(seen, Seq("f", "doc_id", "clab"), "left")
      .select(col("f"), col("fold"), col("doc_id"), col("lab"),
        col("clab"),
        round(col("prior_ln") + col("n_tok").cast("double") * col("lp0") +
          coalesce(col("s1"), lit(0.0)), 4).as("score")))
  }

  /** Dataset cartography (Swayamdipta et al. 2020, "Dataset
    * Cartography: Mapping and Diagnosing Datasets with Training
    * Dynamics"), the cross-validation form: for each example, its
    * TRUE-label confidence statistics across the k−1 fold-models that
    * trained ON it (fold resampling as the checkpoint ensemble —
    * the paper's epoch axis needs training dynamics a one-pass
    * engine doesn't have; model variance over resamples is the
    * standard proxy). conf = mean true-label posterior, variability
    * = its population std, correct_frac = how often the argmax is
    * right; region = easy-to-learn (conf ≥ 0.67) / hard-to-learn
    * (conf ≤ 0.33, the label-error hunting ground) / ambiguous (the
    * examples worth curating first).
    *
    * Determinism: the q223 one-statement k-model NB replay (4-dp
    * scores), the q169 softmax convention (6-dp posteriors), snapped
    * Σp/Σp² per doc, std = √max(0, ·) so a float-epsilon negative
    * can't NaN; region thresholds compare the ROUNDED conf.
    *
    * Scale shape: all k models train in ONE pass over the (doc,
    * term, tf) artifact (the kfoldNbEval shape); scoring fans each
    * doc to its k−1 in-training models via the k-row fold axis —
    * a bounded ×(k−1) blowup, vocabulary-sized broadcasts, zero
    * windows. Returns (doc_id, lab, n_models, conf, variability,
    * correct_frac, region). */
  def cartographyReport(docs: DataFrame, id: Column, text: Column,
      label: Column, k: Int = 5,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      docTf0: Option[DataFrame] = None,
      scores0: Option[DataFrame] = None): DataFrame = {
    require(k >= 2, s"cartographyReport: k=$k")
    import graft.expr.Snap
    // the k-fold score table: the session-shared all-pairs artifact
    // filtered to the k−1 in-training models, or a direct fold ≠ f
    // build ([[kfoldScores]] — bit-identical either way)
    val sc = scores0.map(_.filter(col("fold") =!= col("f")))
      .getOrElse(kfoldScores(docs, id, text, label, k, materialize,
        docTf0, serve = "train"))
    // q169 softmax convention: exp(score − max), snapped normalizer,
    // 6-dp posterior; conf = the TRUE label's posterior. The per-model
    // normalization (max, snapped Σexp, argmax) rides ONE chained
    // window pass over the checkpointed score table — one exchange +
    // sort on (f, doc_id) instead of two aggregation shuffles and
    // three joins back. Values are bit-identical: max and min(struct)
    // are order-free, and the normalizer is the same snapped sum
    // (snappedSumOver), so the window's evaluation order cannot
    // matter. The windows are (f, doc_id)-partitioned — model-sized,
    // never corpus-global.
    val wd = Window.partitionBy(col("f"), col("doc_id"))
    val norm = sc.withColumn("mx", max(col("score")).over(wd))
      .withColumn("z",
        Snap.snappedSumOver(exp(col("score") - col("mx")), 1e9, wd))
      .withColumn("best",
        min(struct((-col("score")).as("ns"), col("clab"))).over(wd))
    // the 6-dp posterior lifts onto the integer 1e6 grid, so Σp/Σp²
    // are EXACT longs and the population variance m·Σp² − (Σp)² is
    // exactly 0 for identical posteriors (a 1e9 float snap of p²
    // leaves ~1e-10 residue that rounds to a phantom 1e-5 std)
    val per = norm.filter(col("clab") === col("lab"))
      .select(col("doc_id"), col("lab"),
        floor(round(exp(col("score") - col("mx")) / col("z"), 6) *
          lit(1e6) + lit(0.5)).cast("long").as("pl"),
        when(col("best").getField("clab") === col("lab"), 1L)
          .otherwise(0L).as("ok"))
      .groupBy(col("doc_id"), col("lab"))
      .agg(count(lit(1)).as("m"), sum(col("pl")).as("sp"),
        sum(col("pl") * col("pl")).as("spp"), sum(col("ok")).as("nok"))
    val mD = col("m").cast("double")
    // floor-snap (not round): sp/m hits EXACT 7th-decimal halves
    // (quarter-integers / 1e6), where Spark's shortest-repr round and
    // DuckDB's exact-binary round disagree — floor(x + 0.5) does not
    val conf = floor(col("sp").cast("double") / mD + lit(0.5)) / lit(1e6)
    val varb = floor(sqrt(greatest(lit(0.0),
      mD * col("spp").cast("double") -
        col("sp").cast("double") * col("sp").cast("double"))) / mD +
      lit(0.5)) / lit(1e6)
    per.select(col("doc_id"), col("lab"), col("m").as("n_models"),
      conf.as("conf"), varb.as("variability"),
      round(col("nok").cast("double") / mD, 6).as("correct_frac"),
      when(conf >= 0.67, lit("easy")).when(conf <= 0.33, lit("hard"))
        .otherwise(lit("ambiguous")).as("region"))
  }

  /** Isotonic (monotone non-decreasing) calibration of a binary
    * outcome over confidence bins — the non-parametric repair of
    * [[calibrationReport]]'s diagnosed miscalibration (Zadrozny &
    * Elkan 2002; the PAV fit of Ayer et al. 1955). Rather than the
    * inherently SEQUENTIAL pool-adjacent-violators sweep, this uses
    * PAV's closed-form minimax characterization
    *   iso_b = max_{i≤b} min_{j≥b} (Σ_{i..j} k)/(Σ_{i..j} n)
    * — exact, iteration-free, and order-free, so it parallelizes and
    * replays identically in any engine. Every candidate mean is a
    * ratio of exact integer sums (IEEE division is correctly rounded
    * — identical doubles cross-engine), and min/max over identical
    * doubles are exact.
    *
    * Scale shape: ONE map-side-combined corpus pass to the ≤`bins`-row
    * (n, k) table; the minimax runs on the bins³-bounded (i, b, j)
    * lattice (8000 rows at bins=20) via two bounded joins — never on
    * corpus rows. The unpartitioned cumulative window is bins-bounded
    * (whitelisted). Returns (bin, n_docs, avg_conf, rate_raw,
    * rate_iso), 6 dp; rate_iso is non-decreasing in bin by
    * construction. */
  def isotonicCalibration(preds: DataFrame, conf: Column, correct: Column,
      bins: Int = 10): DataFrame = {
    require(bins > 0, s"isotonicCalibration: bins=$bins")
    import graft.expr.Snap
    val per = preds
      .select(least(floor(conf * lit(bins)).cast("long"),
          lit(bins - 1L)).as("bin"),
        conf.as("conf"),
        when(correct, 1L).otherwise(0L).as("ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("k"),
        Snap.snappedSum(col("conf"), 1e9).as("sc"))
    isotonicFromBins(per)
  }

  /** The PAV minimax readout over an already-built per-bin
    * (bin, n, k, sc) table — shared by [[isotonicCalibration]] and the
    * streaming reliability sink, whose state is exactly this table
    * (counts and snapped-decimal conf sums are additive, so the
    * stream's merged state replays the batch computation verbatim). */
  private[graft] def isotonicFromBins(per: DataFrame): DataFrame = {
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = per.select(col("bin"), col("n"), col("k"), col("sc"),
      sum(col("n")).over(w).as("cn"), sum(col("k")).over(w).as("ck"))
    // interval means over the occupied-bin lattice: (i, j) by
    // cumulative differences; i/j index by bin id, i ≤ b ≤ j
    val lo = cum.select(col("bin").as("i"),
      (col("cn") - col("n")).as("cn0"), (col("ck") - col("k")).as("ck0"))
    val hi = cum.select(col("bin").as("j"), col("cn").as("cn1"),
      col("ck").as("ck1"))
    val pair = lo.join(hi, col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("ck1") - col("ck0")).cast("double") /
          (col("cn1") - col("cn0")).cast("double")).as("m"))
    val axis = cum.select(col("bin").as("b"))
    val inner = pair.join(axis, col("i") <= col("b") && col("b") <= col("j"))
      .groupBy(col("b"), col("i")).agg(min(col("m")).as("mn"))
    val iso = inner.groupBy(col("b")).agg(max(col("mn")).as("iso"))
    cum.join(iso, col("bin") === col("b"))
      .select(col("bin"), col("n").as("n_docs"),
        round(col("sc") / col("n").cast("double"), 6).as("avg_conf"),
        round(col("k").cast("double") / col("n").cast("double"), 6)
          .as("rate_raw"),
        round(col("iso"), 6).as("rate_iso"))
  }

  /** Split conformal prediction interval + empirical coverage
    * (Papadopoulos et al. 2002; Vovk, Gammerman & Shafer 2005;
    * survey: Angelopoulos & Bates 2021) per group: the
    * DISTRIBUTION-FREE "how wrong is this predictor, with a
    * guarantee" wrapper. md5-deterministic 3-way split → fit the
    * predictor on train (here the group mean — the predictor is
    * pluggable, the wrapper is the operator), score calibration
    * residuals r = |y − ŷ|, take q̂ = the ⌈(n_cal+1)(1−α)⌉-th
    * smallest — the finite-sample-valid quantile, NOT the naive
    * n·(1−α) one — and report the held-out coverage of ŷ ± q̂.
    *
    * Exactness: ŷ is a snapped-sum mean (IEEE-identical); residuals
    * round to the 6-dp grid BEFORE ranking and coverage (both
    * engines compare identical doubles); the order statistic reads
    * off an exact cumulative count over the per-group distinct
    * residual grid (the q137 bounded-distinct discipline — no
    * approx_percentile). ⌈(n+1)(1−α)⌉ > n_cal (tiny calibration
    * sets) → q̂ NULL and coverage 1 by convention (the interval is
    * the whole line — stated, not hidden). The SAME convention holds
    * when the md5 split leaves a role EMPTY: every input group is
    * emitted (the final select drives off the full group set with
    * left joins, never inner-join-dropped) — empty calibration or
    * train → q̂ NULL and coverage 1 over the test rows; empty test →
    * n_test 0 and coverage NULL (nothing to measure).
    *
    * Scale shape: one corpus pass per split role (train mean,
    * calibration grid, test coverage — all map-side-combined,
    * group-keyed), |groups|-row broadcasts between; the ranking
    * window partitions by group over the residual grid. Returns
    * (grp, n_train, n_cal, n_test, q_hat, coverage, target). */
  def splitConformal(df: DataFrame, grp: Column, y: Column, unit: Column,
      alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"splitConformal: alpha=$alpha")
    import graft.expr.Snap
    val role = pmod(graft.expr.Similarity.md5PrefixLong(unit.cast("string"), 8), lit(3L))
    val b = df.select(grp.as("grp"), y.cast("double").as("y"),
      role.as("role"))
    val fit = b.filter(col("role") === 0L).groupBy(col("grp"))
      .agg(count(lit(1)).as("n_train"),
        (Snap.snappedSum(col("y"), 1e9) / count(lit(1)).cast("double"))
          .as("yhat"))
    val resid = b.filter(col("role") > 0L)
      .join(broadcast(fit), "grp")
      .select(col("grp"), col("role"), col("n_train"),
        round(abs(col("y") - col("yhat")), 6).as("r"))
    val calGrid = resid.filter(col("role") === 1L)
      .groupBy(col("grp"), col("r")).agg(count(lit(1)).as("c"))
    val wr = Window.partitionBy(col("grp")).orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val calCum = calGrid.select(col("grp"), col("r"),
      sum(col("c")).over(wr).as("cum"),
      sum(col("c")).over(Window.partitionBy(col("grp"))).as("n_cal"))
    // the finite-sample rank ⌈(n+1)(1−α)⌉; above n_cal → q̂ undefined
    val need = ceil((col("n_cal") + lit(1L)).cast("double") *
      lit(1.0 - alpha)).cast("long")
    val qhat = calCum.filter(col("cum") >= need)
      .groupBy(col("grp"))
      .agg(max(col("n_cal")).as("n_cal"), min(col("r")).as("q_hat"))
    // the FULL group set — a role left empty by the md5 split must
    // surface with the stated convention, never drop the group
    val counts = b.groupBy(col("grp")).agg(
      sum(when(col("role") === 0L, 1L).otherwise(0L)).as("n_train"),
      sum(when(col("role") === 1L, 1L).otherwise(0L)).as("n_cal"),
      sum(when(col("role") === 2L, 1L).otherwise(0L)).as("n_test"))
    val testCov = resid.filter(col("role") === 2L)
      .join(broadcast(qhat.select(col("grp"), col("q_hat"))), Seq("grp"),
        "left")
      .groupBy(col("grp"))
      .agg(sum(when(col("q_hat").isNull || col("r") <= col("q_hat"), 1L)
        .otherwise(0L)).as("cov"))
    counts
      .join(broadcast(qhat.select(col("grp"), col("q_hat"))), Seq("grp"),
        "left")
      .join(broadcast(testCov), Seq("grp"), "left")
      .select(col("grp"), col("n_train"), col("n_cal"), col("n_test"),
        col("q_hat"),
        // cov NULL with test rows present ⇔ no residuals existed (train
        // role empty → no predictor → whole-line interval): coverage 1
        round(when(col("n_test") === 0L, lit(null).cast("double"))
          .when(col("cov").isNotNull,
            col("cov").cast("double") / col("n_test").cast("double"))
          .otherwise(lit(1.0)), 6).as("coverage"),
        lit(1.0 - alpha).as("target"))
  }
  /** Off-policy evaluation of a UNIFORM target policy from logged
    * bandit feedback (Horvitz & Thompson 1952 inverse propensity
    * scoring; Ionides 2008 weight clipping; Swaminathan & Joachims
    * 2015 self-normalized IPS): "what reward WOULD the uniform policy
    * have collected" estimated from logs collected under the
    * behavior policy — the curation question behind every RLHF/
    * preference-data reweighting. The behavior propensity is the
    * EMPIRICAL action share within the logging context
    * π_b(a|x) = n(x,a)/n(x) (exact integer ratio); the target is
    * uniform 1/|A| over the globally observed action set; the weight
    * is their ratio. Reports, in one row:
    *   - `ips`       = Σ w·r / N           (unbiased, heavy-tailed)
    *   - `snips`     = Σ w·r / Σ w         (self-normalized)
    *   - `ips_clip`  = Σ min(w, M)·r / N   (bias-variance knob)
    *   - `ess`       = (Σ w)² / Σ w²       (Kong 1992 — how many
    *     effective logs survive the reweighting)
    * All sums 1e9-snapped (order-free), outputs 6 dp.
    *
    * Scale shape: two map-side-combined count tables (contexts,
    * context×action — both broadcast-sized), the log stream joined
    * against them once, one global aggregate. */
  def ipsOffPolicy(logs: DataFrame, ctx: Column, action: Column,
      reward: Column, clipM: Double = 10.0): DataFrame = {
    require(clipM > 0.0, s"ipsOffPolicy: clipM=$clipM")
    import graft.expr.Snap
    val b = logs.select(ctx.as("x"), action.as("a"),
      reward.cast("double").as("r"))
    val nx = b.groupBy(col("x")).agg(count(lit(1)).as("n_x"))
    val nxa = b.groupBy(col("x"), col("a")).agg(count(lit(1)).as("n_xa"))
    val nA = b.agg(countDistinct(col("a")).as("n_actions"))
    val wgt = b.join(broadcast(nxa), Seq("x", "a"))
      .join(broadcast(nx), Seq("x"))
      .crossJoin(broadcast(nA))
      .select(col("r"), col("n_actions"),
        (col("n_x").cast("double") /
          (col("n_actions") * col("n_xa")).cast("double")).as("w"))
    wgt.agg(count(lit(1)).as("n"), max(col("n_actions")).as("n_actions"),
        Snap.snappedSum(col("w") * col("r"), 1e9).as("swr"),
        Snap.snappedSum(col("w"), 1e9).as("sw"),
        Snap.snappedSum(col("w") * col("w"), 1e9).as("sww"),
        Snap.snappedSum(least(col("w"), lit(clipM)) * col("r"), 1e9)
          .as("scr"))
      .select(col("n"), col("n_actions"),
        round(col("swr") / col("n").cast("double"), 6).as("ips"),
        round(col("swr") / col("sw"), 6).as("snips"),
        round(col("scr") / col("n").cast("double"), 6).as("ips_clip"),
        round(col("sw") * col("sw") / col("sww"), 6).as("ess"))
  }

  /** Platt scaling (Platt 1999, "Probabilistic outputs for support
    * vector machines"; Niculescu-Mizil & Caruana 2005) — the PARAMETRIC
    * member of the calibration triad next to q288's isotonic (shape-
    * free, monotone) and q287's conformal (interval, distribution-
    * free): fit P(y=1|s) = σ(a·s + b) to the scores by Newton on the
    * regularized log-likelihood against Platt's SMOOTHED targets
    * t₊ = (N₊+1)/(N₊+2), t₋ = 1/(N₋+2) (the out-of-sample correction
    * that keeps the fit off the 0/1 boundary). (Platt's original
    * parametrization is σ(−(A·f+B)); a = −A, b = −B.)
    *
    * Determinism (the kmeansLloyd driver-state contract): scores are
    * standardized by the corpus' SNAPPED mean/sd first (the q289 zi
    * discipline — bounds |z| so the sigmoid never saturates to an
    * engine-dependent denormal); each of the `iters` fixed Newton
    * steps collects FIVE 1e9-snapped sums (∇ and Hessian entries),
    * solves the 2×2 system on the driver with one fixed IEEE formula
    * sequence (1e-6 ridge on the diagonal), and snaps (a, b) to the
    * 1e6 grid before they re-enter the plan as literals — the whole
    * trajectory replays bit-for-bit as unrolled oracle CTEs.
    * Softplus ln(1+exp(x)) branches to x above 30 (identical CASE in
    * both engines). Returns one row
    * (n, n_pos, a, b, nll) with a, b, nll at 6 dp. */
  def plattScaling(df: DataFrame, score: Column, label: Column,
      iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 32, s"plattScaling: iters=$iters")
    import graft.expr.Snap
    def snap6d(v: Double): Double = math.floor(v * 1e6 + 0.5) / 1e6
    val raw = df.select(score.cast("double").as("s0"),
      when(label, 1L).otherwise(0L).as("y"))
    // snapped standardization (q289's zi discipline)
    val st = raw.agg(count(lit(1)).as("n"), sum(col("y")).as("np"),
        Snap.snappedSum(col("s0"), 1e9).as("ss"),
        Snap.snappedSum(col("s0") * col("s0"), 1e9).as("sss"))
      .collect().head
    val n = st.getLong(0); val npos = st.getLong(1)
    require(n > 0 && npos > 0 && npos < n,
      s"plattScaling: need both classes (n=$n, n_pos=$npos)")
    val mu = st.getDouble(2) / n
    val sd = math.sqrt(st.getDouble(3) / n - mu * mu)
    require(sd > 0.0, "plattScaling: constant scores")
    val tp = (npos + 1.0) / (npos + 2.0)
    val tn = 1.0 / ((n - npos) + 2.0)
    val base = raw.select(((col("s0") - lit(mu)) / lit(sd)).as("s"),
      when(col("y") === 1L, lit(tp)).otherwise(lit(tn)).as("t"))
      .localCheckpoint(true)
    var a = 0.0; var b = 0.0
    for (_ <- 1 to iters) {
      val z = lit(a) * col("s") + lit(b)
      val q = lit(1.0) / (lit(1.0) + exp(lit(0.0) - z))
      val sums = base.agg(
          Snap.snappedSum((q - col("t")) * col("s"), 1e9).as("g1"),
          Snap.snappedSum(q - col("t"), 1e9).as("g0"),
          Snap.snappedSum(q * (lit(1.0) - q) * col("s") * col("s"), 1e9)
            .as("hxx"),
          Snap.snappedSum(q * (lit(1.0) - q) * col("s"), 1e9).as("hx"),
          Snap.snappedSum(q * (lit(1.0) - q), 1e9).as("h0"))
        .collect().head
      val g1 = sums.getDouble(0); val g0 = sums.getDouble(1)
      val hxx = sums.getDouble(2) + 1e-6
      val hx = sums.getDouble(3); val h0 = sums.getDouble(4) + 1e-6
      val det = hxx * h0 - hx * hx
      a = snap6d(a - (g1 * h0 - g0 * hx) / det)
      b = snap6d(b - (g0 * hxx - g1 * hx) / det)
    }
    // final NLL with the overflow-safe softplus (branch at 30)
    val zf = lit(a) * col("s") + lit(b)
    def sp(x: Column): Column =
      when(x > 30.0, x).otherwise(log(lit(1.0) + exp(x)))
    base.agg(Snap.snappedSum(
        col("t") * sp(lit(0.0) - zf) + (lit(1.0) - col("t")) * sp(zf), 1e9)
      .as("nllS"))
      .select(lit(n).as("n"), lit(npos).as("n_pos"),
        lit(snap6d(a)).as("a"), lit(snap6d(b)).as("b"),
        round(col("nllS"), 6).as("nll"))
  }

  /** Confident-learning label-error estimation (Northcutt, Jiang &
    * Chuang 2021, "Confident learning: estimating uncertainty in
    * dataset labels") — the joint (given label, suggested label) count
    * matrix over OUT-OF-SAMPLE posteriors. This is the paper's proper
    * CROSS-VALIDATED form of [[labelNoise]] (q227): there the corpus-
    * trained model scores its own training docs (each doc's label
    * leaks into its own posterior, deflating the error estimate);
    * here each doc is scored by the k-fold NB model that did NOT
    * train on it (fold == f — where q292's cartography deliberately
    * serves from the k−1 training models), and the FULL joint matrix
    * is emitted, diagonal included (q227 reports only the suspected
    * off-diagonal). Class thresholds are the per-class mean
    * self-confidence t_j = mean p(j | docs labeled j), and a doc
    * labeled i is counted into C[i, j*] where j* is its argmax class
    * among those clearing their threshold (no class clears → the doc
    * abstains — the paper's convention). Off-diagonal mass is the
    * label-error estimate.
    *
    * Exactness: posteriors follow the q169/q292 softmax convention
    * (6-dp grid); thresholds are floor-snapped integer-grid means, so
    * the clearing comparison p_j ≥ t_j is an EXACT integer compare on
    * the 1e6 grid; argmax ties break to the smaller class label.
    *
    * Scale shape: inherits the q223/q292 fold replay — k models as
    * (fold, class, term) count tables, the corpus touched once per
    * role, posteriors doc-keyed; thresholds are a |classes|-row
    * broadcast. Returns (lab_given, lab_suggested, n_docs, off_diag).
    */
  def confidentLearning(docs: DataFrame, id: Column, text: Column,
      label: Column, k: Int = 5,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true),
      docTf0: Option[DataFrame] = None,
      scores0: Option[DataFrame] = None): DataFrame = {
    require(k >= 2, s"confidentLearning: k=$k")
    import graft.expr.Snap
    // HELD-OUT serve (each doc scored by its own fold's model): the
    // session-shared all-pairs artifact filtered to fold = f, or a
    // direct held-out build ([[kfoldScores]] — bit-identical)
    val sc = scores0.map(_.filter(col("fold") === col("f")))
      .getOrElse(kfoldScores(docs, id, text, label, k, materialize,
        docTf0, serve = "heldout"))
    // posterior on the EXACT 1e6 integer grid; the softmax
    // normalization (max, snapped Σexp) rides one chained doc-
    // partitioned window pass over the checkpointed score table (the
    // q292 fusion — bit-identical values, one exchange instead of two
    // aggregation shuffles + two joins). post stays LAZY: both its
    // consumers re-run only this cheap window chain over the
    // materialized sc, one barrier fewer.
    val wdn = Window.partitionBy(col("doc_id"))
    val post = sc.withColumn("mx", max(col("score")).over(wdn))
      .withColumn("z",
        Snap.snappedSumOver(exp(col("score") - col("mx")), 1e9, wdn))
      .select(col("doc_id"), col("lab"), col("clab"),
        floor(round(exp(col("score") - col("mx")) / col("z"), 6) *
          lit(1e6) + lit(0.5)).cast("long").as("pl"))
    // t_j = floor-snapped integer-grid mean self-confidence of class j
    val thr = post.filter(col("clab") === col("lab"))
      .groupBy(col("clab"))
      .agg(floor(sum(col("pl")).cast("double") /
        count(lit(1)).cast("double") + lit(0.5)).cast("long").as("tl"))
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("pl").desc, col("clab"))
    val joint = post.join(broadcast(thr), "clab")
      .filter(col("pl") >= col("tl"))
      .withColumn("rn", row_number().over(wdoc))
      .filter(col("rn") === 1)
      .groupBy(col("lab").as("lab_given"),
        col("clab").as("lab_suggested"))
      .agg(count(lit(1)).as("n_docs"))
    joint.select(col("lab_given"), col("lab_suggested"), col("n_docs"),
      (col("lab_given") =!= col("lab_suggested")).as("off_diag"))
  }


  /** l-diversity audit (Machanavajjhala et al. 2007, "l-diversity:
    * privacy beyond k-anonymity"): per quasi-identifier equivalence
    * class, how many DISTINCT sensitive values it contains and its
    * entropy-l (exp of the Shannon entropy of the sensitive
    * distribution — the effective number of values; the paper's
    * entropy-l-diversity requires it ≥ l). Closes the gap
    * [[kAnonymity]] leaves: a class of 50 rows is k-anonymous and
    * STILL leaks if all 50 share one diagnosis — homogeneity is the
    * attack k can't see.
    *
    * Exactness: distinct-l is an exact count; entropy terms
    * (n_v/n)·ln(n/n_v) are 1e9-snapped sums over the per-class value
    * grid; entropy_l = exp(H) rounds at 4 dp before the ≥ l compare
    * (float-order-independent, the q32 convention).
    *
    * Scale shape: one (quasi…, sensitive) map-side-combined count,
    * one class-keyed rollup — both key-partitioned, nothing
    * corpus-global. Returns (quasi…, n_rows, distinct_l, entropy_l,
    * diverse). */
  def lDiversity(df: DataFrame, quasi: Seq[(String, Column)],
      sensitive: Column, l: Double): DataFrame = {
    require(quasi.nonEmpty && l >= 1.0, s"lDiversity: l=$l")
    lDiversityFromCells(df.groupBy(
        (quasi.map { case (n, c) => c.as(n) } :+ sensitive.as("__s")): _*)
      .agg(count(lit(1)).as("nv")), quasi.map(_._1), l)
  }

  /** Null-safe (`<=>`) equi-join on named key columns, keeping the
    * LEFT side's key columns. A plain key-list join never matches a
    * NULL key, so a NULL-keyed quasi-identifier class — exactly the
    * rows a privacy audit must not lose — would silently vanish from
    * (or read all-zero in) every per-class rollup that joins back on
    * the quasi keys (ADVICE r12). Both sides' keys are renamed before
    * the join so the condition stays unambiguous under self-join
    * lineage (the `FromCells` audits join a frame with its own
    * aggregate). */
  private[graft] def nsJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], how: String = "inner"): DataFrame = {
    // guard the rename trick's two fragilities (ADVICE r13): a
    // pre-existing placeholder-named column would be captured by the
    // join condition, and a shared non-key column name would yield
    // ambiguous duplicate output columns
    val ph = keys.indices.flatMap(i => Seq(s"__nsl$i", s"__nsr$i")).toSet
    require(!(left.columns ++ right.columns).exists(ph),
      s"nsJoin: input already contains a placeholder column ($ph)")
    val shared = left.columns.toSet.intersect(right.columns.toSet)
      .diff(keys.toSet)
    require(shared.isEmpty,
      s"nsJoin: non-key columns shared by both sides: $shared")
    val l2 = keys.zipWithIndex.foldLeft(left) { case (d, (k, i)) =>
      d.withColumnRenamed(k, s"__nsl$i") }
    val r2 = keys.zipWithIndex.foldLeft(right) { case (d, (k, i)) =>
      d.withColumnRenamed(k, s"__nsr$i") }
    val cond = keys.indices.map { i =>
      col(s"__nsl$i") <=> col(s"__nsr$i") }.reduce(_ && _)
    val j = keys.indices.foldLeft(l2.join(r2, cond, how)) { (d, i) =>
      d.drop(s"__nsr$i") }
    keys.zipWithIndex.foldLeft(j) { case (d, (k, i)) =>
      d.withColumnRenamed(s"__nsl$i", k) }
  }

  /** [[lDiversity]] from its (quasi…, __s, nv) cell-count grid — the
    * counts are purely ADDITIVE, which is exactly what the streaming
    * privacy sink needs: maintain the grid incrementally, re-read the
    * audit per epoch ([[graft.stream.StreamCuration.startPrivacySink]])
    * — the cvmFromGrid contract applied to privacy. Class joins are
    * null-safe: a NULL quasi key is a class like any other. */
  def lDiversityFromCells(cells: DataFrame, qn: Seq[String], l: Double)
      : DataFrame = {
    import graft.expr.Snap
    val per = cells.groupBy(qn.map(col): _*)
      .agg(sum(col("nv")).as("n_rows"),
        count(lit(1)).as("distinct_l"))
    // H = Σ (nv/n)·ln(n/nv) needs n per class joined back to the grid
    val h = nsJoin(cells, per.select((qn.map(col) :+
        col("n_rows").as("__n")): _*), qn)
      .groupBy(qn.map(col): _*)
      .agg(Snap.snappedSum(
        (col("nv").cast("double") / col("__n").cast("double")) *
          log(col("__n").cast("double") / col("nv").cast("double")),
        1e9).as("hh"))
    nsJoin(per, h, qn)
      .select((qn.map(col) :+ col("n_rows") :+ col("distinct_l") :+
        round(exp(col("hh")), 4).as("entropy_l") :+
        (round(exp(col("hh")), 4) >= l).as("diverse")): _*)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    * rung of the privacy ladder: k-anonymity bounds re-identification
    * (class SIZE), l-diversity bounds homogeneity (class VARIETY), and
    * t-closeness bounds SKEW — a class can be large and varied and
    * still leak if its sensitive distribution differs from the
    * corpus's (a class that is 90% top-decile documents reveals its
    * members are long-document authors even at l = 10). Per
    * quasi-identifier class: the Earth Mover's Distance between the
    * class's and the global sensitive distribution over the ORDERED
    * value grid, the paper's numerical-attribute form
    *   EMD = (1/(m−1)) · Σ_{i<m} |Σ_{j≤i} (q_j − p_j)|
    * (m = global distinct sensitive values; q = class shares,
    * p = global shares; a value absent from the class contributes
    * q_j = 0 — the class rides the FULL global grid).
    *
    * Exactness: shares are exact integer ratios; each per-value diff
    * snaps at 1e9 into a decimal so BOTH the running prefix sum and
    * the |cum| rollup are exact integer arithmetic (order-free — the
    * q276 window discipline; a raw double window sum would pair
    * differently in a segment-tree engine); the two divisions (1e9,
    * m−1) happen once at the end. m = 1 → every distribution IS the
    * global one: emd = 0 (stated).
    *
    * Scale shape: one (quasi…, sensitive) map-side-combined count, one
    * value-grid-bounded global histogram (broadcast), classes × grid
    * rows with class-partitioned grid-bounded windows — nothing
    * corpus-global. Returns (quasi…, n_rows, emd, close). */
  def tCloseness(df: DataFrame, quasi: Seq[(String, Column)],
      sensitive: Column, t: Double): DataFrame = {
    require(quasi.nonEmpty && t > 0.0, s"tCloseness: t=$t")
    tClosenessFromCells(df.groupBy(
        (quasi.map { case (n, c) => c.as(n) } :+ sensitive.as("__s")): _*)
      .agg(count(lit(1)).as("nv")), quasi.map(_._1), t)
  }

  /** [[tCloseness]] from its (quasi…, __s, nv) cell-count grid — the
    * same additive-state contract as [[lDiversityFromCells]]: the
    * global histogram re-derives from the cells (identical counts),
    * so the grid is the ONE sufficient statistic for the whole
    * privacy triad ([[graft.stream.StreamCuration.startPrivacySink]]). */
  def tClosenessFromCells(cells: DataFrame, qn: Seq[String], t: Double)
      : DataFrame = {
    val global = cells.groupBy(col("__s"))
      .agg(sum(col("nv")).as("gv"))
    val gtot = global.agg(sum(col("gv")).as("__gn"),
      count(lit(1)).as("__m"))
    val per = cells.groupBy(qn.map(col): _*)
      .agg(sum(col("nv")).as("n_rows"))
    // null-safe on quasi keys AND __s: a NULL-keyed class (or a NULL
    // sensitive grid value) must find its own cells, not read as an
    // all-zero distribution with a spuriously large EMD (ADVICE r12)
    val grid = nsJoin(per.crossJoin(broadcast(global)), cells,
        qn :+ "__s", "left")
      .crossJoin(broadcast(gtot))
    val w = Window.partitionBy(qn.map(col): _*).orderBy(col("__s"))
    val diff = coalesce(col("nv"), lit(0L)).cast("double") /
        col("n_rows").cast("double") -
      col("gv").cast("double") / col("__gn").cast("double")
    val cum = grid.select((qn.map(col) :+ col("n_rows") :+ col("__m") :+
      sum(floor(diff * lit(1e9) + lit(0.5)).cast("decimal(38,0)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cum9") :+
      row_number().over(w).as("rn")): _*)
    // rn < m drops the final prefix (identically 0); the m = 1 corner
    // keeps its single row so the class still reports (emd = 0)
    val emdRaw = cum.filter(col("rn") < col("__m") || col("__m") === 1L)
      .groupBy(qn.map(col): _*)
      .agg(max(col("n_rows")).as("n_rows"), max(col("__m")).as("__m"),
        sum(abs(col("cum9"))).as("ss9"))
    val emd = round(when(col("__m") > 1L,
      col("ss9").cast("double") / lit(1e9) /
        (col("__m") - lit(1L)).cast("double")).otherwise(lit(0.0)), 6)
    emdRaw.select((qn.map(col) :+ col("n_rows") :+
      emd.as("emd") :+ (emd <= t).as("close")): _*)
  }

}
