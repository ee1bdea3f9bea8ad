package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.{Flags, Similarity, TextStats, Timestamps}
import graft.ops.{Analytics, Ann, AsofJoin, Dedup, Incremental, Merge, Multimodal, RangeJoin, Star, TextDedup}
import graft.stream.FlightStream

/** Driver contract — one `queries` entry per operator from SURVEY.md §2
  * (+ the training-data-pipeline extensions), each with equivalent ANSI
  * SQL for the DuckDB oracle.
  *
  * Determinism rules (SURVEY §7.4): no wall-clock (cutoffs derived from
  * data maxima), exact arithmetic (decimal sums, integer micros) until a
  * final rounded double, unique total orders before any LIMIT, and long
  * (not int) output integers to match DuckDB's BIGINT.
  */
object SparkEntry {

  /** Table loader. `events.ts` is parquet TIMESTAMP(NANOS), which Spark
    * has no timestamp type for — sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` and we rebuild the
    * column as microsecond TIMESTAMP_NTZ here (integer `div`, no double
    * round-trip: ns epochs exceed 2^53). DuckDB reads the same column as
    * µs TIMESTAMP (the data is µs-aligned), so both engines agree. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (df.schema.fields.exists(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType))
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz"))
    else df
  }

  /** Decimal-exact product re-used by the revenue queries. */
  private def revenue: Column =
    col("l_extendedprice").cast("decimal(18,4)") *
      (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)"))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))"

  /** Flagship: star-schema revenue rollup on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    qStarRevenue(spark, "/root/testdata/sf0.001")

  // =====================================================================
  // Relational core (reference parity)
  // =====================================================================

  /** A1/A5/A6-style pricing summary (agg + exact sums). */
  private def qPricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // exact decimal sums, rounded at the double boundary: group sums
        // reach ~2e10 at sf0.1, where one double ulp (~1e-6) exceeds the
        // engines' decimal→double conversion agreement (q37 precedent)
        round(sum(col("l_quantity").cast("decimal(18,4)")).cast("double"), 4).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double"), 4).as("sum_base"),
        round(sum(revenue).cast("double"), 4).as("sum_disc"),
        round(sum(col("l_quantity").cast("decimal(18,4)")).cast("double") /
          count(lit(1)), 4).as("avg_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double") /
          count(lit(1)), 4).as("avg_price"),
        count(lit(1)).as("n"))

  /** D1/D2: latest full row per key (max_by aggregation form). */
  private def qLatestPerUser(s: SparkSession, dir: String): DataFrame =
    Dedup.latestPerKey(t(s, dir, "events"), Seq("user_id"),
        Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))

  /** D3: SELECT DISTINCT pair projection. */
  private def qDistinctPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.distinctPairs(t(s, dir, "events"), Seq("user_id", "event_type"))

  /** F1/P5/P14: case-insensitive allow-list filter. */
  private def qStatusFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("status_lc", lower(col("event_type")))
      .filter(col("status_lc").isin("click", "purchase", "signup"))
      .select(col("event_id"), col("user_id"), col("status_lc"))

  /** F2/P9: rolling retention window with data-derived `now`. */
  private def qRetentionWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val mx = ev.agg(max(col("ts")).as("mx"))
    ev.crossJoin(broadcast(mx))
      .filter(col("ts") >= col("mx") - expr("INTERVAL 3 DAYS"))
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
  }

  /** F3: junk guard (non-null key + at least one populated field). */
  private def qJunkGuard(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(nullif(col("event_type"), lit("error")).isNotNull &&
        col("value").isNotNull && col("value") >= 0)
      .select(col("event_id"), col("event_type"), col("value"))

  /** F7: NOT EXISTS → left_anti join. */
  private def qAntiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  /** J1/J2: disjunctive alternate-key lookup as two equi-joins + coalesce. */
  private def qAltKeyJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").withColumn("key_iata",
      when(col("o_custkey") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")))
    Star.altKeyLookup(o, t(s, dir, "customer"),
        ("key_iata", "c_custkey"), ("o_custkey", "c_custkey"),
        Seq(("c_name", "cust_name"), ("c_mktsegment", "segment")))
      .select(col("o_orderkey"), col("cust_name"), col("segment"))
  }

  /** J3/J4: 4-dim star denormalization + rollup. Dimension side first:
    * orders enriches with customer/nation/region BEFORE touching
    * lineitem, so the fact table joins once against a pre-joined (and
    * AQE-broadcastable when small enough) side instead of re-shuffling
    * the fact×orders result again by custkey. */
  private def orderDims(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("o_orderkey"), col("r_name"), col("n_name"))

  private def qStarRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      // merge hint: orders is fact-sized at scale, so this join must
      // shuffle — without it the size stats invert (pruned fact scan <
      // post-join dim estimate) and the planner broadcasts the FACT
      .join(orderDims(s, dir).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(revenue).cast("double"), 4).as("revenue"))

  /** U1/U2: NULL-preserving dim upsert as full-outer merge. */
  private def qDimUpsert(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def profile(parity: Int): DataFrame =
      Dedup.latestPerKey(ev.filter(col("event_id") % 2 === parity),
          Seq("user_id"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("ts").as("last_ts"),
          col("event_type").as("last_type"),
          when(col("value") >= 5, col("value")).as("last_value"))
    Merge.upsertCoalesce(profile(0), profile(1), Seq("user_id"))
  }

  /** U4: fact merge — latest-wins + per-column coalesce/greatest rules. */
  private def qFactMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def half(parity: Int): DataFrame =
      Dedup.latestPerKey(ev.filter(col("event_id") % 2 === parity),
          Seq("user_id"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type").as("status"),
          col("value").as("val"),
          nullif(col("event_type"), lit("error")).as("pk"),
          col("ts").as("ingest"))
    Merge.factMerge(half(0), half(1), Seq("user_id"),
      overwriteCols = Seq("status", "val"),
      coalesceCols = Seq("pk"),
      greatestCols = Seq("ingest"))
  }

  /** U3: insert-if-absent (ON CONFLICT DO NOTHING). */
  private def qInsertIfAbsent(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def pairs(parity: Int): DataFrame =
      ev.filter(col("event_id") % 2 === parity)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("first_seen"))
    Merge.insertIfAbsent(pairs(0), pairs(1), Seq("user_id", "event_type"))
  }

  /** F6/O1/J5: incremental watermark export, bounded + ordered. */
  private def qIncrementalExport(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val wm = ev.agg((max(col("ts")) - expr("INTERVAL 1 DAYS")).as("wm"))
    Incremental.exportBatch(ev.crossJoin(broadcast(wm)), col("ts"), col("wm"),
        Seq(col("ts"), col("event_id")), 500)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
  }

  /** A7/O5: top-k routes by average revenue. */
  private def qTopkRoutes(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val cn = n.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val sn = n.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    // dimension side first (see orderDims): orders+customer+nation
    // pre-join, fact joins once per enriched side
    val ocn = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("c_nk"))
      .select(col("o_orderkey"), col("cust_nation"))
    val ssn = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      .join(broadcast(sn), col("s_nationkey") === col("s_nk"))
      .select(col("s_suppkey"), col("supp_nation"))
    // the fact⋈orders join MUST be a shuffle join at scale (orders is
    // fact-sized) — and without the hint, size stats INVERT here: the
    // pruned 4-column lineitem scan estimates below the post-join ocn
    // estimate, so the planner broadcasts the FACT (measured 2.4s at
    // sf0.1 vs 0.9s hinted; would OOM the driver at any real SF). The
    // supplier side is a genuine broadcast dim (q09's star pattern).
    val grouped = t(s, dir, "lineitem")
      .join(ocn.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(ssn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(concat_ws("->", col("cust_nation"), col("supp_nation")).as("route"))
      .agg(count(lit(1)).as("n"),
        round(sum(revenue).cast("double") / count(lit(1)), 4).as("avg_rev"))
    Analytics.topK(grouped, col("avg_rev"), col("route"), 10)
  }

  /** A4/A5: on-time-rate trend over time buckets. */
  private def qOntimeTrend(s: SparkSession, dir: String): DataFrame =
    Analytics.rateTrend(t(s, dir, "events"),
        to_date(col("ts")), Flags.onTimeFlag(col("value"), 5.0))
      .withColumnRenamed("bucket", "d")

  /** A6: average measure per group. */
  private def qAvgByGroup(s: SparkSession, dir: String): DataFrame =
    Analytics.avgByGroup(t(s, dir, "events"), col("event_type"), col("value"))
      .orderBy(col("avg_measure").desc, col("grp"))

  /** P6/P7/P8: clean_ts branches exercised on synthesized dirty strings. */
  private def qCleanTs(s: SparkSession, dir: String): DataFrame = {
    val fmtS = "yyyy-MM-dd'T'HH:mm:ss"
    val ev = t(s, dir, "events")
    val branch = (col("event_id") % 7).cast("int")
    val raw = when(branch === 0, concat(date_format(col("ts"), fmtS), lit("Z")))
      .when(branch === 1, concat(date_format(col("ts"), fmtS), lit("+0000")))
      .when(branch === 2,
        concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("+00:00")))
      .when(branch === 3, concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm"), lit("+00:00")))
      .when(branch === 4, date_format(col("ts"), fmtS))
      .when(branch === 5, concat(date_format(col("ts"), fmtS), lit("+00:00")))
      .otherwise(lit("garbage"))
    ev.repartition(32).select(col("event_id"),
      Timestamps.normalizeTs(raw).cast("timestamp_ntz").as("parsed_ts"))
  }

  /** 2.10 windows: gap-based sessionization. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    Analytics.sessionize(t(s, dir, "events"), col("user_id"), col("ts"),
      col("event_id"), 1800L)

  /** Exact distinct counting (approx_count_distinct's oracle-checkable twin). */
  private def qDistinctCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))

  // =====================================================================
  // Training-data-pipeline extensions
  // =====================================================================

  /** Exact dedup by content hash. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(t(s, dir, "documents"), col("text"), col("doc_id"))

  private def docShingles(s: SparkSession, dir: String): DataFrame =
    TextDedup.shingleSet(t(s, dir, "documents"), col("doc_id"), col("text"), 3)

  /** MinHash + LSH banding candidate pairs — signatures via the native
    * single-pass expression (zero-shuffle generation; same oracle as the
    * composed form, which q22 still exercises). */
  private def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    TextDedup.lshCandidates(
      TextDedup.minhashSignaturesNative(t(s, dir, "documents"),
        col("doc_id"), col("text"), 3, 8))

  /** Session-scoped MATERIALIZED LSH candidate-pair table — the
    * production artifact shape: candidates are mined once per corpus
    * (the q21 build), then every downstream audit/consumer (q22 verify,
    * q48 edit distance, q63/q114/q125 components, q131 provenance,
    * q139 chain audit) reads the materialized table instead of
    * re-running the signature scan + band self-join. `localCheckpoint`
    * (not `persist`): the table is pair-sized (LSH-selective), survives
    * `spark.catalog.clearCache()`, and cuts the plan so consumers'
    * contracts stay candidate-shaped. Its owner q22 pays the build
    * ([[Artifacts]]); q21 itself still constructs the full DAG (it IS
    * the build operator, and its plan contract covers the mining shape). */
  private val sharedLshCandidates =
    Artifacts.declare("lsh_candidates", "q22_ngram_jaccard")((s, dir) =>
      qMinhashLsh(s, dir).localCheckpoint(true))

  /** Session-scoped MATERIALIZED verified-pair table (the q22 output —
    * exact Jaccard over the shared candidates): the second artifact of
    * the dedup pipeline. q22 serves it; q139's chain audit consumes it
    * twice (CC fixpoint + rollup) without re-running the shingle
    * explode + intersection verify. Same artifact story as
    * [[sharedLshCandidates]] — verify once per corpus, audit many.
    * The exploded shingle set (which only the Jaccard stage needs —
    * sizes + intersection = two consumers) is persisted once.
    * minhashSignatures-composed parity with this oracle is covered by
    * PropertySpec's ≡ test. */
  private val sharedVerifiedJaccard =
    Artifacts.declare("verified_jaccard", "q22_ngram_jaccard") { (s, dir) =>
      val cands = sharedLshCandidates(s, dir)
      TextDedup.jaccard(cands, candidateShingles(s, dir, cands))
        .localCheckpoint(true)
    }

  /** Session-scoped ANN artifacts — the retrieval-side analog of the
    * dedup artifact pair above. Production serves MANY query batches
    * and MANY evals against ONE trained index and ONE frozen eval
    * baseline; these artifacts are that shape in-session:
    *
    *  - [[sharedExactTopK]]: the exact brute-force ranking (the q25
    *    contract: 6-dp cosine, id tie-break). q25 serves it; q138's
    *    truncation tiers, q142's recall curve, and q147's drift eval
    *    all measure AGAINST it instead of re-scanning the corpus.
    *  - [[sharedCoarse]]: the (kCells=4, iters=2) coarse quantizer —
    *    one q76 Lloyd trajectory shared by q85/q135/q142/q143/q146/
    *    q147 (a pure, snap-stable function of the corpus, so every
    *    consumer trains to the identical codebook).
    *  - [[sharedIvfPqIndex]]: the residual (IVFADC) index — codes
    *    materialized once; q135 and q143 serve it, q142 scores it,
    *    q147 uses it as the "retrained" variant (its base ∪ batch IS
    *    this corpus).
    *
    * Each owner query pays its build ([[Artifacts]]); the trainers' own
    * plan shapes stay covered by q142/q147 (which still construct the
    * raw-variant and appended-variant training DAGs in full). */
  private val sharedExactTopK =
    Artifacts.declare("exact_topk", "q25_ann_cosine") { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
        .localCheckpoint(true)
    }

  private val sharedCoarse =
    Artifacts.declare("coarse_quantizer", "q85_ivf_trained")((s, dir) =>
      Ann.kmeansCentroids(t(s, dir, "embeddings"), 4, 2))

  private val sharedIvfPqIndex =
    Artifacts.declare("ivf_pq_index", "q135_ivf_pq") { (s, dir) =>
      val idx = Ann.ivfPqIndex(t(s, dir, "embeddings"), kCells = 4, m = 4,
        kCodes = 4, iters = 2, residual = true,
        coarse0 = Some(sharedCoarse(s, dir)))
      idx.copy(codes = idx.codes.localCheckpoint(true))
    }

  /** Session-scoped OPQ-permuted residual index ([[ops.Ann.opqIvfPqIndex]])
    * — the third index variant next to raw (q133-style) and residual
    * ([[sharedIvfPqIndex]]): same coarse trajectory, same m/kCodes,
    * plus the balanced-energy coordinate permutation. q191 serves it. */
  private val sharedOpqIndex =
    Artifacts.declare("opq_index", "q191_opq_recall") { (s, dir) =>
      val (perm, idx) = Ann.opqIvfPqIndex(t(s, dir, "embeddings"),
        kCells = 4, m = 4, kCodes = 4, iters = 2,
        coarse0 = Some(sharedCoarse(s, dir)))
      (perm, idx.copy(codes = idx.codes.localCheckpoint(true)))
    }

  /** Shingle sets of CANDIDATE docs only: semi-join the corpus to the
    * candidate id set BEFORE the shingle-set explode+distinct — at
    * 100 TB that exchange covers LSH survivors, not the corpus.
    * (Candidate ids are LSH-selective → broadcast; drop the hint if a
    * workload's candidate set outgrows the broadcast threshold.)
    * Persisted: sizes + intersection = two consumers per verify. */
  private def candidateShingles(s: SparkSession, dir: String,
      cands: DataFrame): DataFrame = {
    val ids = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    TextDedup.shingleSet(
      t(s, dir, "documents").join(broadcast(ids), Seq("doc_id"), "left_semi"),
      col("doc_id"), col("text"), 3).localCheckpoint(true)
  }

  /** Asymmetric containment verify on the LSH candidates: |A∩B|/|A|
    * and /|B| — flags sub-document copies (quotation/boilerplate) that
    * Jaccard resemblance under-scores because the union is large. */
  private def qContainment(s: SparkSession, dir: String): DataFrame = {
    val cands = sharedLshCandidates(s, dir)
    TextDedup.containment(cands, candidateShingles(s, dir, cands))
  }

  /** SQ8 scalar-quantized ANN: per-dim corpus-trained 8-bit codes,
    * decode-at-score asymmetric L2, top-10 — the third compression
    * point next to PQ (q133/q135) and raw brute force (q25). */
  private def qSq8(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.sq8TopK(emb, emb.filter(col("vec_id") < 5), k = 10)
  }

  /** IVF·SQ8 composed ANN (nprobe=2 of 4 trained cells): SQ8's
    * exhaustive scan becomes a cell equi-join — completes the ANN
    * matrix {flat, SQ8, PQ} × {exhaustive, IVF-pruned}. */
  private def qIvfSq8(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ivfSq8TopK(emb, emb.filter(col("vec_id") < 5), kCells = 4,
      nprobe = 2, iters = 2, k = 10,
      coarse0 = Some(sharedCoarse(s, dir)))
  }

  /** Index-staleness drift: recall@10 of the frozen-book APPENDED
    * index (trained on vec_id%3≠0, grown with the rest) vs a fully
    * RETRAINED index, both against exact — the hash-checked
    * "when to re-train" diagnostic behind ivfPqAppend. */
  private def qIndexDrift(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // base ∪ batch is exactly the embeddings corpus, so the exact
    // baseline and the retrained variant ARE the shared artifacts
    Ann.ivfPqDriftEval(emb.filter(col("vec_id") % 3 =!= 0),
      emb.filter(col("vec_id") % 3 === 0), emb.filter(col("vec_id") < 5),
      kCells = 4, nprobe = 2, m = 4, kCodes = 4, iters = 2, k = 10,
      exact0 = Some(sharedExactTopK(s, dir).select(col("q_id"), col("n_id"))),
      retrained0 = Some(sharedIvfPqIndex(s, dir)))
  }

  /** Edit-distance verification on the LSH candidate pairs — the third
    * near-dup signal next to Jaccard and cosine. */
  private def qEditDistance(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 64).as("prefix"))
    sharedLshCandidates(s, dir)
      .join(docs.select(col("doc_id").as("doc_a"), col("prefix").as("pa")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("prefix").as("pb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
  }

  /** SimHash document fingerprints. */
  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhash16(t(s, dir, "documents"), col("doc_id"), col("text"))

  /** Text quality / language-ID / token stats / fingerprint. */
  private def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    t(s, dir, "documents").select(
      col("doc_id"),
      TextStats.nTokens(txt).cast("long").as("n_tokens"),
      TextStats.tokenCountBpeish(txt).cast("long").as("n_bpeish"),
      TextStats.stopwordCount(txt).cast("long").as("stop_cnt"),
      TextStats.punctCount(txt).cast("long").as("punct_cnt"),
      round(TextStats.avgTokenLen(txt), 4).as("avg_tok_len"),
      TextStats.langIdHeuristic(txt).as("lang"),
      TextStats.fingerprint(txt).as("fingerprint"),
      TextStats.qualityScore(txt).as("quality"))
  }

  /** IVF-bucketed ANN — the scale path (no SQL oracle: rows-only check). */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5), "label", 10, nprobe = 3)
  }

  /** Multimodal metadata plumbing (Catalyst-only part). */
  private def qMediaMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaMeta(t(s, dir, "documents"))

  /** Full streaming parse/filter/staging pipeline run in batch mode over
    * the `flight_events` topic, sized one event per events-table row so
    * it scales with the SF — under the full DuckDB oracle (the topic is
    * replayed from `generate_series` with `nr = count(*) FROM events`;
    * streaming semantics are covered by the MemoryStream specs). The
    * connector produces the JSON off-plan, as a real broker would — the
    * engine is billed for parse/normalize/filter/project, not for
    * synthesizing its own input with a 25-field to_json. */
  private def qStreamPipeline(s: SparkSession, dir: String): DataFrame = {
    val rows = t(s, dir, "events").count()
    val raw = s.read.format("flight_events")
      .option("rows", rows).option("partitions", 32).load()
    // the reference takes `now` once per cycle: the topic's last event
    val now = lit(1700000000L + (rows - 1) * 60L).cast("timestamp")
    FlightStream.pipeline(raw.select(col("json")), now)
  }

  /** A8/ST5: tumbling daily aggregate (streaming-ready plan shape). */
  private def qWindowAgg(s: SparkSession, dir: String): DataFrame =
    Analytics.tumblingAgg(t(s, dir, "events"), col("ts"), "1 day", col("value"))

  /** ST5: sliding 2-day/1-day window aggregate. */
  private def qSlidingWindow(s: SparkSession, dir: String): DataFrame =
    Analytics.slidingAgg(t(s, dir, "events"), col("ts"), "2 days", "1 day",
      col("value"))

  /** approx_count_distinct with an in-plan error-bound assertion. */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Analytics.approxDistinct(t(s, dir, "events"), col("event_type"),
      col("user_id"))

  /** Embedding-cosine near-dup pairs, bucketed by the cluster label. */
  private def qDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Ann.cosineNearDupPairs(t(s, dir, "embeddings"), "label", 0.28)

  /** Multimodal decode path: binary media column → per-partition batched
    * feature extraction (stubbed codec; real Spark plumbing). Rows-only
    * check — the fake decoder is not SQL-expressible. The feature vector
    * is posexploded to scalar rows: the driver's compare sorts every
    * column, and raw array columns aren't sortable. */
  private def qMediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.decodeFeatures(
      Multimodal.asMediaTable(t(s, dir, "documents"))
        .as[Multimodal.MediaRow]).toDF()
      .select(col("doc_id"), col("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        posexplode(col("features")).as(Seq("feat_idx", "feat_val")))
      .withColumn("feat_idx", col("feat_idx").cast("long"))
      .withColumn("feat_val", round(col("feat_val").cast("double"), 4))
  }

  /** Set algebra over user cohorts: intersect/except with bag semantics
    * (§2.9 — absent from the reference, part of the relational surface). */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clickers = ev.filter(col("event_type") === "click")
      .select(col("user_id"))
    val buyers = ev.filter(col("event_type") === "purchase" && col("value") > 300)
      .select(col("user_id"))
    val both = clickers.distinct().intersect(buyers.distinct())
      .withColumn("cohort", lit("click_and_buy"))
    val onlyClick = clickers.distinct().except(buyers.distinct())
      .withColumn("cohort", lit("click_no_buy"))
    both.unionByName(onlyClick)
      .groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
  }

  /** Class-balanced deterministic sample: ≤50 events per type. */
  private def qStratified(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.stratifiedBalanced(t(s, dir, "events"),
        col("event_type"), col("event_id"), 50)
      .select(col("event_id"), col("event_type"), col("user_id"))

  /** Vocabulary: top-200 tokens with dense ids. */
  private def qVocab(s: SparkSession, dir: String): DataFrame =
    TextStats.buildVocab(t(s, dir, "documents"), col("text"), 200)

  /** Reproducible hash-based train/val/test split over documents. */
  private def qHashSplit(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.hashSplit(t(s, dir, "documents").select(col("doc_id")),
        col("doc_id"), Seq(10 -> "val", 20 -> "test", 100 -> "train"))
      .groupBy(col("split")).agg(count(lit(1)).as("n"))

  /** P13-style export rendering: typed values → stable strings. */
  private def qExportRender(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        col("value").cast("decimal(12,2)").cast("string").as("value_str"))

  /** D1 window-function form (row_number = 1) — the literal DISTINCT ON
    * rewrite, same oracle as the max_by form. */
  private def qLatestWindow(s: SparkSession, dir: String): DataFrame =
    Dedup.latestPerKeyWindow(t(s, dir, "events"), Seq("user_id"),
        Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"))

  /** Approx percentile with an in-plan error-bound assertion against the
    * exact value (same oracle pattern as q31). */
  private def qApproxPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
        expr("approx_percentile(value, 0.5, 1000)").as("p50_approx"),
        expr("percentile(value, 0.05)").as("lo"),
        expr("percentile(value, 0.95)").as("hi"))
      .select(col("event_type"), col("p50_exact"),
        (col("p50_approx").between(col("lo"), col("hi"))).as("ok"))

  /** Rolling-hash content fingerprint per document. */
  private def qRollingHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").repartition(32)
      .select(col("doc_id"), TextStats.rollingHash(col("text")).as("rhash"))

  /** Pivot: event counts per user-bucket × event_type (fixed column set
    * so the schema is static — the scale-safe form of pivot). */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy((col("user_id") % 10).as("user_bucket"))
      .pivot("event_type", Seq("click", "purchase", "signup", "view", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Exact interpolated percentiles per group (median / p95). */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n"))

  /** Hierarchical rollup totals over the star dimensions (ROLLUP —
    * region, region+nation, grand total in one pass). */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      // merge hint: same stat-inversion guard as q09/q14 — never
      // broadcast the fact
      .join(orderDims(s, dir).hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        // grand-total magnitude ~3e9: 1 double-ulp (~5e-7) exceeds the
        // engines' decimal→double conversion agreement — round to 4 dp
        round(sum(revenue).cast("double"), 4).as("revenue"))

  /** Exact distinct via the mergeable bitset aggregate (fixed-size
    * map-side buffers, bitwise-OR merge) against count(DISTINCT). */
  private def qBitsetDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(graft.expr.catalyst.BitsetDistinct
        .bitsetDistinct(col("user_id"), 1 << 14).as("n_users"))

  /** CUBE over event dimensions (all grouping combinations in one pass). */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .cube(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_v"))

  /** Analytic window functions: per-user inter-event gap + running rank. */
  private def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    def micros(c: Column) = unix_micros(c.cast("timestamp"))
    t(s, dir, "events").select(
      col("user_id"), col("event_id"),
      ((micros(col("ts")) - lag(micros(col("ts")), 1).over(w)) / 1000000L)
        .as("gap_sec"),
      rank().over(w).cast("long").as("rnk"),
      lead(col("event_id"), 1).over(w).as("next_event"))
  }

  /** Full warehouse load cycle over stream-synthesized staging (U6 in
    * the bench path) — under the full DuckDB oracle: the md5-derived
    * surrogate ids ([[graft.expr.Flags.surrogateId]]) make the whole
    * cycle SQL-replayable, staging included. */
  private def qWarehouseCycle(s: SparkSession, dir: String): DataFrame = {
    // staging is a materialized TABLE in the reference — localCheckpoint
    // (not persist): the cycle's ~6 consumers then plan against a
    // LogicalRDD instead of each re-optimizing + re-codegenning the
    // whole synth + 25-field-parse subtree (the plans, not the data,
    // were the cost: runtime reads were cached either way)
    val staging = qStreamPipeline(s, dir).localCheckpoint(true)
    val cutoff = staging.agg(max(col("ingest_time"))).first().getTimestamp(0)
    // dims are multi-consumer inside the cycle — materialize each once,
    // same plan-cutting story (broadcast-sized by construction)
    ops.LoadCycle.run(ops.LoadCycle.emptyWarehouse(staging), lit(cutoff),
      materialize = _.localCheckpoint(true)).fact
  }

  /** Range join: events against synthesized half-day [06:00,18:00]
    * intervals — bucket-quantized equi-join, never a nested loop. */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def micros(c: Column) = unix_micros(c.cast("timestamp"))
    val iv = ev.select(date_trunc("day", col("ts")).as("d")).distinct()
      .select(micros(col("d") + expr("INTERVAL 6 HOURS")).as("lo"),
        micros(col("d") + expr("INTERVAL 18 HOURS")).as("hi"))
    val pts = ev.select(col("event_id"), micros(col("ts")).as("pt"))
    RangeJoin.rangeJoin(pts, col("pt"), iv, col("lo"), col("hi"),
        12L * 3600 * 1000000)
      .select(col("event_id"), col("lo"), col("hi"))
  }

  /** As-of join: odd events look up the latest even-event state at or
    * before their timestamp, per user. Runs the NATIVE operator
    * (AsofJoinPlan → AsofJoinExec via the injected strategy) when the
    * session has GraftExtensions — the Verify/Bench sessions do — so the
    * custom SparkPlan itself is under the DuckDB oracle gate; falls back
    * to the composed union+carry-forward form otherwise (≡ by
    * AsofNativeSpec). */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val left = ev.filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val right = ev.filter(col("event_id") % 2 === 0)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("value")) // unique per (key, ts)
    val hasStrategy = s.sessionState.planner.extraPlanningStrategies
      .contains(graft.plans.AsofJoinStrategy)
    if (hasStrategy)
      ops.AsofJoinNative.asofJoin(left, right, Seq("user_id"), "ts")
        .toDF("user_id", "event_id", "ts", "value",
          "r_user", "r_ts", "r_value")
        .drop("r_user")
    else AsofJoin.asofJoin(left, right, Seq("user_id"), "ts")
  }

  /** Span-duplication signal: fraction of each doc's 3-gram spans shared
    * with any other doc (the suffix-array-dedup approximation). The
    * shingle set feeds both the doc-frequency agg and the join-back —
    * persist it once (at warehouse scale: a checkpoint). */
  private def qSpanDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.spanDupStats(docShingles(s, dir).localCheckpoint(true))

  /** PII scrub: emails/IPs/phones synthesized deterministically into the
    * corpus, then redacted; verifies count + redacted-content hash. */
  private def qPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact u"), col("doc_id"), lit("@example.com")))
        .otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" from 10.0."), col("doc_id") % 256, lit(".7")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(" call 555-123-4567"))
        .otherwise(lit("")))
    t(s, dir, "documents").select(col("doc_id"),
      graft.expr.Pii.countPii(aug).as("n_pii"),
      md5(graft.expr.Pii.scrub(aug)).as("clean_hash"))
  }

  /** Benchmark decontamination: 5-gram overlap of the corpus (doc_id
    * ≥ 20) against a held-out eval set (doc_id < 20). */
  private def qContamination(s: SparkSession, dir: String): DataFrame = {
    val g = sharedShingles5(s, dir)
    TextDedup.contamination(
      g.filter(col("doc_id") >= 20), g.filter(col("doc_id") < 20))
  }

  /** Random-hyperplane LSH ANN: 4-bit signature buckets, exact cosine
    * re-rank within the query's own bucket. */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), planes = 4, k = 10)
  }

  /** Multimodal frame sampling: every 4th 64-byte frame of the media
    * payload, content-hashed (codec-free keyframe-extraction shape). */
  private def qFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(Multimodal.asMediaTable(t(s, dir, "documents")))

  /** Deterministic weighted Bernoulli sample (quality-weighted corpus
    * mixing): keep probability = length(text)/400, hash-derived u. */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.weightedSample(t(s, dir, "documents"), col("doc_id"),
        length(col("text")) / lit(400.0))
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))

  /** Gopher-style repetition signal: top-2-gram share per document. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextStats.repetitionStats(t(s, dir, "documents"), col("doc_id"),
      col("text"), docBig0 = Some(sharedDocBigrams(s, dir)))

  /** Concat-then-chunk sequence packing: global token offsets via a
    * distributed prefix sum, 512-token context windows. */
  private def qSeqPack(s: SparkSession, dir: String): DataFrame =
    ops.Packing.concatChunk(t(s, dir, "documents"), col("doc_id"),
      TextStats.nTokens(col("text")), ctxTokens = 512L, bucketWidth = 100L)

  /** Strided context windows (overlap = ctx − stride) per document —
    * zero-shuffle chunk generation. */
  private def qSlidingChunks(s: SparkSession, dir: String): DataFrame =
    ops.Packing.slidingChunks(t(s, dir, "documents"), col("doc_id"),
      TextStats.nTokens(col("text")), ctxTokens = 128L, stride = 64L)

  /** Dictionary encoding of the corpus against its own top-200 vocab
    * (OOV → -1), long format (doc_id, pos, token_id). */
  private def qVocabEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextStats.encodeTokens(docs, col("doc_id"), col("text"),
      TextStats.buildVocab(docs, col("text"), 200))
  }

  /** Heavy hitters with a relational Count-Min sketch: exact token
    * counts ≥ 50 alongside the deterministic CM estimate (min over 3
    * md5-bucketed rows of width 64); `ok` asserts the CM lower-bound
    * guarantee (estimate never undercounts) in-plan. */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    // the raw token stream is gone: exact counts ARE the unigram
    // artifact, and the CM matrix sums the artifact's counts as
    // weights — identical cells, zero corpus passes
    val uc = sharedUnigramCounts(s, dir)
    val exact = uc.filter(col("uc") >= 50)
      .select(col("tok").as("token"), col("uc").as("n"))
    // matrix feeds 3 broadcast joins — materialize per the multi-
    // consumer convention (localCheckpoint: self-releasing, no cache
    // entry left behind in a long-lived session)
    val matrix = ops.Sketch.countMinMatrix(uc, col("tok"), 3, 64,
      weight = col("uc")).localCheckpoint(true)
    ops.Sketch.countMinEstimate(exact, col("token"), matrix, 3, 64)
      .select(col("token"), col("n"), col("cm_est"),
        (col("cm_est") >= col("n")).as("ok"))
  }

  /** Bloom-filter join pruning, measured: build a 4096-bit/3-hash bloom
    * over orders' custkeys, prune customers through it, and report the
    * funnel — total, bloom-pass, true matches, false positives. The
    * no-false-negative guarantee (true ⊆ pass) is what makes pruning
    * safe; the fp count is deterministic (md5 bits). */
  private def qBloomPrune(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    // mask form: the whole filter is ONE broadcast row and the k-probe
    // test is a codegen'd filter — the build subplan runs once (the
    // bits/semi-join form re-executed it per chained join)
    val mask = ops.Sketch.bloomMask(
      t(s, dir, "orders").select(col("o_custkey")).distinct(),
      col("o_custkey"), bits = 4096, k = 3)
    val pass = ops.Sketch.bloomPruneMask(cust, col("c_custkey"), mask, 4096, 3)
    val trueMatch = cust.join(t(s, dir, "orders"),
      col("c_custkey") === col("o_custkey"), "left_semi")
    pass.agg(count(lit(1)).as("n_pass")).crossJoin(
        cust.agg(count(lit(1)).as("n_customers")))
      .crossJoin(trueMatch.agg(count(lit(1)).as("n_true")))
      .select(col("n_customers"), col("n_pass"), col("n_true"),
        (col("n_pass") - col("n_true")).as("n_fp"))
  }

  /** Transitive duplicate clusters: LSH candidate pairs closed into
    * components (alternating star rounds, O(log n)), every doc labeled
    * with its group's minimum id, one `keep` per group. The stage the
    * pairwise dedup queries (q21/q22/q48) feed at production scale. */
  private def qDedupGroups(s: SparkSession, dir: String): DataFrame =
    ops.Graph.dedupGroups(t(s, dir, "documents"), "doc_id",
      sharedLshCandidates(s, dir), "doc_a", "doc_b")

  /** Shared term-frequency table for the retrieval-scoring queries
    * (q64/q66): one tokenize+count aggregation, persisted because every
    * consumer (df counts, doc lengths, scoring joins) re-reads it.
    * Keeping the single definition locks the two queries' tokenization
    * to the same contract (and to the oracle's `string_split`). */
  private def termFreqs(docs: DataFrame): DataFrame =
    ops.Fanout.fanout(docs)
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Session-scoped MATERIALIZED (doc, term, tf) table — the corpus is
    * tokenized and counted ONCE per session and every retrieval-scoring
    * consumer (q64 tf-idf, q66 BM25, the q73 NLL build) reads the
    * materialized table: the inverted-index-build intermediate a
    * production corpus materializes anyway (token-scale, but written
    * once — the same trade the dedup candidate artifact makes). */
  private val sharedTermFreqs =
    Artifacts.declare("term_freqs", "q61_heavy_hitters")((s, dir) =>
      termFreqs(t(s, dir, "documents")).localCheckpoint(true))

  /** Session-scoped MATERIALIZED bigram tables — the 2-gram siblings of
    * the TF artifact: the per-doc (doc_id, bigram, k) counts and their
    * global (bigram, bc) rollup, shared by q58 (repetition), q91 (PMI)
    * and q113 (bigram NLL) — the corpus's bigram stream explodes once
    * per session. The unigram (tok, uc) rollup derives from the TF
    * artifact (no extra corpus pass at all). */
  private val sharedDocBigrams =
    Artifacts.declare("doc_bigrams", "q58_repetition")((s, dir) =>
      ops.Fanout.fanout(t(s, dir, "documents"))
        .select(col("doc_id"),
          TextStats.shingleGen(col("text"), 2).as("bigram"))
        .groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("k"))
        .localCheckpoint(true))
  private val sharedBigramCounts =
    Artifacts.declare("bigram_counts", "q91_pmi")((s, dir) =>
      sharedDocBigrams(s, dir).groupBy(col("bigram"))
        .agg(sum(col("k")).as("bc"))
        .localCheckpoint(true))
  private val sharedUnigramCounts =
    Artifacts.declare("unigram_counts", "q61_heavy_hitters")((s, dir) =>
      sharedTermFreqs(s, dir).groupBy(col("term").as("tok"))
        .agg(sum(col("tf")).as("uc"))
        .localCheckpoint(true))

  /** Session-scoped MATERIALIZED distinct 5-gram doc sets — the
    * decontamination artifact q54 (exact check), q158 (bloom-staged)
    * and the q182 funnel all probe: the 5-gram explode runs once per
    * session. */
  private val sharedShingles5 =
    Artifacts.declare("shingles5", "q54_contamination")((s, dir) =>
      TextDedup.shingleSet(t(s, dir, "documents"), col("doc_id"),
        col("text"), 5).localCheckpoint(true))

  /** Session-scoped BPE merge list (driver state): ONE q112 training
    * trajectory serves q112's emission and q126's fertility encode —
    * the tokenizer is trained once per corpus by construction. */
  private val sharedBpeMerges =
    Artifacts.declare("bpe_merges", "q112_bpe_merges")((s, dir) =>
      ops.Bpe.train(t(s, dir, "documents"), col("text"), 2))

  /** TF-IDF scoring: top-3 terms per document by tf·idf with smoothed
    * idf = ln((N+1)/(df+1)). Term stats are two map-side-combinable
    * aggregations; the idf table is vocabulary-sized and broadcast into
    * the scoring join, so the corpus shuffles once (the tf groupBy). */
  private def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = docs.count()
    val tf = sharedTermFreqs(s, dir)
    val idf = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .withColumn("idf", log((lit(nDocs.toDouble) + 1d) / (col("df") + 1d)))
    val scored = tf.join(broadcast(idf), "term")
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf") * col("idf"), 4).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    // filter the RAW row_number, cast after: InferWindowGroupLimit only
    // recognizes a rank-attribute comparison, and a cast in between
    // would drop the partial top-k pushdown (every doc's full term list
    // would cross the window exchange)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 3)
      .withColumn("rank", col("__rn").cast("long"))
      .drop("__rn")
  }

  /** Incremental aggregate maintenance: per-day partial aggregates
    * (count/sum/min/max — all mergeable) merged into per-type totals,
    * with the merge path's algebra (sum of counts, sum of sums, min of
    * mins, max of maxs) producing exactly the direct aggregate. At scale
    * only changed days re-aggregate; totals merge partials. */
  private def qAggMerge(s: SparkSession, dir: String): DataFrame = {
    val partials = t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal partials: exact, so the merge is order-independent
        // (double partial sums would drift with partitioning)
        sum(col("value").cast("decimal(18,4)")).as("sum_v"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
    partials.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"),
        round(sum(col("sum_v")).cast("double"), 4).as("sum_v"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"),
        count(lit(1)).as("n_partials"))
  }

  /** BM25 relevance of a fixed query-term set against the corpus
    * (k1=1.2, b=0.75): the retrieval-scoring counterpart of q64. Doc
    * lengths and idf come from the same one-shuffle tf aggregation; the
    * per-term score table is query-sized and the final per-doc sum is a
    * map-side-combinable groupBy. */
  private def qBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val nDocs = docs.count()
    val terms = Seq("data", "model", "system")
    val tf = sharedTermFreqs(s, dir)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // null-safe: an empty corpus yields a NULL avg (the result is empty
    // regardless of the value, so any finite default is fine)
    val avgRow = dl.agg(avg(col("dl"))).first()
    val avgdl = if (avgRow.isNullAt(0)) 1.0 else avgRow.getDouble(0)
    val idf = tf.filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log((lit(nDocs.toDouble) - col("df") + 0.5d) / (col("df") + 0.5d) + 1d))
    // constants written as the same decimal literals the oracle uses
    // (k1=1.2, b=0.75 → k1+1=2.2, 1-b=0.25): identical doubles, and the
    // expression tree mirrors the SQL's parenthesization exactly
    tf.filter(col("term").isin(terms: _*))
      .join(broadcast(idf), "term")
      .join(dl, "doc_id")
      .withColumn("part", col("idf") * (col("tf") * lit(2.2d)) /
        (col("tf") + lit(1.2d) * (lit(0.25d) + lit(0.75d) * col("dl") / avgdl)))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("part")), 4).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** Int8 min-max quantization of the embedding column: per-vector
    * [min,max] range mapped to 0..255 codes, with the reconstruction
    * error bound surfaced in-plan. The 100 TB lever: 4× storage cut for
    * ANN candidate generation (full-precision rescoring only touches
    * the final top-k). Pure elementwise codegen'd HOFs — no shuffle at
    * all; the only exchange in the plan is for no one (narrow scan). */
  private def qQuantize(s: SparkSession, dir: String): DataFrame = {
    val xd = transform(col("embedding"), _.cast("double"))
    val mn = array_min(col("v")); val mx = array_max(col("v"))
    t(s, dir, "embeddings")
      .select(col("vec_id"), xd.as("v"))
      .select(col("vec_id"), col("v"), mn.as("mn"),
        // constant vectors: scale 1 keeps codes at 0 instead of 0/0
        when(mx > mn, (mx - mn) / 255d).otherwise(lit(1d)).as("scale"))
      // codes materialize once, in their own projection; both outputs
      // derive from that column. floor(x+0.5), not round(x): Spark
      // rounds the DECIMAL rendering (BigDecimal HALF_UP), DuckDB the
      // BINARY double — they disagree near ties; floor is IEEE-exact in
      // both. Display rounding happens in a SEPARATE final projection:
      // aliasing round(mn,4) AS mn in the same select would make
      // lateral-column-alias resolution bind the error lambda's
      // col("mn") to the ROUNDED value (observed: max_err off by 2e-5).
      .select(col("vec_id"), col("v"), col("mn"), col("scale"),
        transform(col("v"), e =>
          floor((e - col("mn")) / col("scale") + 0.5d)).as("codes"))
      .select(col("vec_id"),
        size(col("v")).cast("long").as("n_dims"),
        col("mn"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c.cast("long"))
          .as("code_sum"),
        array_max(zip_with(col("codes"), col("v"), (c, e) =>
          abs(col("mn") + c * col("scale") - e))).as("raw_err"))
      .select(col("vec_id"), col("n_dims"), round(col("mn"), 4).as("mn"),
        col("code_sum"), round(col("raw_err"), 6).as("max_err"))
  }

  /** Mergeable HyperLogLog distinct-count per event type: the register
    * matrix is data (≤64 rows/group), built by one map-side-combined max
    * aggregation — shard sketches merge by union+max without re-scanning,
    * the property that matters for 100 TB partial aggregation. Registers
    * are md5-derived, so the estimate (and the exact integer register
    * checksum) is engine-reproducible — unlike approx_count_distinct's
    * opaque binary HLL++ state (q31), this keeps the whole sketch
    * relational. */
  private def qHllRegisters(s: SparkSession, dir: String): DataFrame = {
    val regs = ops.Sketch.hllRegisters(
      t(s, dir, "events"), Seq("event_type"), col("user_id"))
    ops.Sketch.hllEstimate(regs, Seq("event_type"))
  }

  /** Z-order layout report: each key min-max-scaled to a 16-bit rank
    * (integer arithmetic — exact in any engine, and range-proportional
    * at every scale, where raw bit-masking would wrap keys past 2^16),
    * Morton-interleaved, top 5 bits = 32 layout blocks. Per block: row
    * count and the min-max envelope of BOTH keys — the rectangle each
    * output file would carry as parquet stats. The evidence that
    * interleaved clustering prunes on either predicate, where a
    * one-column sort is tight in one dimension and useless in the
    * other. Pure bitwise codegen; the key-range lookup is a 1-row
    * broadcast, the report aggregation (32 groups) the one exchange. */
  private def qZorder(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val stats = li.agg(
      min(col("l_partkey")).as("pk_lo"), max(col("l_partkey")).as("pk_hi"),
      min(col("l_suppkey")).as("sk_lo"), max(col("l_suppkey")).as("sk_hi"))
    val xr = expr("((l_partkey - pk_lo) * 65535) div greatest(pk_hi - pk_lo, 1)")
    val yr = expr("((l_suppkey - sk_lo) * 65535) div greatest(sk_hi - sk_lo, 1)")
    li.join(broadcast(stats))
      .select(col("l_partkey"), col("l_suppkey"),
        shiftright(ops.Layout.zOrderKey(xr, yr), 27).as("z_block"))
      .groupBy(col("z_block"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("p_min"), max(col("l_partkey")).as("p_max"),
        min(col("l_suppkey")).as("s_min"), max(col("l_suppkey")).as("s_max"))
  }

  /** Mergeable histogram quantiles per event type: shared bin edges
    * from one stats pass, then a ≤128-rows-per-group bin matrix (map-
    * side combined) — shard histograms merge by union+sum, so 100 TB
    * percentiles come from combining partials, never a global sort the
    * way q36's exact percentile_approx path re-scans. Estimate = upper
    * edge of the bin reaching q·n (error ≤ one bin width). */
  private def qHistQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // stats feeds both the binning join and the estimate join:
    // materialize, or the edge pass scans events twice (a full extra
    // scan at 100 TB)
    val stats = ops.Sketch.histStats(ev, Seq("event_type"), col("value"))
      .localCheckpoint(true)
    val binsDf = ops.Sketch.histBins(ev, Seq("event_type"), col("value"), stats)
    ops.Sketch.histQuantiles(binsDf, Seq("event_type"), stats,
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
  }

  /** Corpus-mixture report: per language stratum — size, share,
    * the keep rate that caps any stratum at 25% of the corpus, and the
    * deterministically-resampled size. The composition-control op of
    * LLM corpus building (source/language balancing), in the two-phase
    * measure-then-resample shape that holds at 100 TB: stratum stats
    * are map-side-combined group counts, rates a strata-sized
    * broadcast, and the resample one hash-Bernoulli filter — the
    * corpus is never shuffled. */
  private def qMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val rates = ops.Sampling.mixtureRates(docs, Seq("lang"), 0.25)
      .localCheckpoint(true) // feeds both the report and the resample filter
    val kept = ops.Sampling.weightedSample(
        docs.join(broadcast(rates.select(col("lang"), col("__keep_rate"))),
          Seq("lang")),
        col("doc_id"), col("__keep_rate"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    val total = rates.agg(sum(col("__n")).cast("double").as("__total"))
    rates.crossJoin(broadcast(total))
      .select(col("lang"), col("__n").as("n_docs"),
        round(col("__n") / col("__total"), 4).as("share"),
        round(col("__keep_rate"), 4).as("keep_rate"))
      .join(broadcast(kept), Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("share"),
        col("keep_rate"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Snapshot diff over two deterministic "versions" of orders: the old
    * snapshot holds O+F rows, the new holds O+P with urgent-O prices
    * revised — so the diff must classify deletes (F), inserts (P) and
    * updates (urgent O) in one pass. One key-partitioned full-outer
    * join, change-sized output; at 100 TB both sides shuffle once on
    * the key (or bucket-join for free when snapshots share layout). */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val v1 = o.filter(col("o_orderstatus").isin("O", "F"))
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val v2 = o.filter(col("o_orderstatus").isin("O", "P"))
      .select(col("o_orderkey"),
        when(col("o_orderstatus") === "O" &&
          col("o_orderpriority") === "1-URGENT",
          col("o_totalprice") + 10d).otherwise(col("o_totalprice"))
          .as("o_totalprice"),
        col("o_orderpriority"))
    ops.Merge.snapshotDiff(v1, v2, Seq("o_orderkey"),
      Seq("o_totalprice", "o_orderpriority"))
  }

  /** Unigram language-model quality score: per-doc mean negative log-
    * likelihood under the corpus unigram distribution — the classic
    * LM-based quality filter (low = stereotypical text, high =
    * junk/outlier). Reuses the one shared tf aggregation (q64/q66
    * contract); the probability table is vocabulary-sized and
    * broadcast; per-doc sums are map-side combinable. The corpus
    * shuffles once at any scale.
    *
    * Session-scoped MATERIALIZED unigram-NLL score table — the third
    * artifact family next to the dedup pair and the ANN trio: a corpus
    * is SCORED once, then every admission/diagnostic consumer (q73
    * serves it; q137's perplexity gate and q140's length-bias
    * correlation read it) works off the doc-sized score table instead
    * of re-running tokenize + tf + probability join (the tf input is
    * itself the shared materialized table). */
  private val sharedUnigramNll =
    Artifacts.declare("unigram_nll", "q73_unigram_nll") { (s, dir) =>
      val tf = sharedTermFreqs(s, dir)
      val totals = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
      val grand = totals.agg(sum(col("ctf")).cast("double").as("gt"))
      val probs = totals.crossJoin(broadcast(grand))
        .select(col("term"), (col("ctf") / col("gt")).as("p"))
      // NLL terms via the shared order-independent Snap sum (the
      // q104/q113/q115 contract)
      tf.join(broadcast(probs), "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tokens"),
          round(-graft.expr.Snap.snappedSum(
              col("tf").cast("double") * log(col("p")), 1e9) /
            sum(col("tf")).cast("double"), 4).as("nll"))
        .localCheckpoint(true)
    }

  /** Per-label embedding centroids (mean pooling): the k-means E-step /
    * IVF codebook computation, in the relational form that scales —
    * posexplode to (label, dim, v) then one map-side-combined
    * aggregation, so each task emits ≤ labels×dims partial rows no
    * matter how many vectors it read. Centroids are the training half
    * of q27's IVF ANN path. */
  private def qCentroids(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(round(avg(col("v")), 6).as("m"), count(lit(1)).as("n"))

  /** Full Lloyd k-means (k=4, 2 iterations), deterministic seed + 6-dp
    * centroid snapping — the trained-codebook half of the IVF path. The
    * oracle replays the identical trajectory (same init, same rounding,
    * same argmin tie-break) unrolled as SQL. */
  private def qKmeans(s: SparkSession, dir: String): DataFrame =
    Ann.kmeansLloyd(t(s, dir, "embeddings"), k = 4, iters = 2)

  /** The reference's J2 join written the NATURAL way — one disjunctive
    * OR condition (`load_warehouse.py:215-235`) — relying on the
    * [[graft.plans.DisjunctiveJoinRewrite]] optimizer rule to turn the
    * BroadcastNestedLoopJoin shape into a union of two hash joins.
    * Same semantics as q08 (which hand-writes the two-join form); the
    * oracle runs the OR join literally. The rule comes with the
    * session: [[GraftSession]] installs it through [[GraftExtensions]]. */
  private def qOrJoinRewrite(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").withColumn("key_iata",
      when(col("o_custkey") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")))
    o.join(t(s, dir, "customer"),
        col("key_iata") === col("c_custkey") ||
          (col("key_iata").isNull && col("o_custkey") === col("c_custkey")),
        "left")
      .select(col("o_orderkey"), col("c_name").as("cust_name"),
        col("c_mktsegment").as("segment"))
  }

  /** Small-file compaction planning (the lakehouse OPTIMIZE primitive):
    * bin-pack files into ~target-byte output groups per table partition.
    * The documents listing stands in for a file listing (doc_id = file,
    * n_chars = bytes, lang = partition); the real input at 100 TB is
    * the metadata listing, ~10^6 rows — the op never touches data. */
  private def qCompaction(s: SparkSession, dir: String): DataFrame =
    ops.Layout.compactionBins(
      t(s, dir, "documents").select(col("lang"), col("doc_id"),
        col("n_chars")),
      Seq("lang"), col("n_chars"), col("doc_id"), 4096L)

  /** Winsorization at per-group exact percentiles: the outlier-clipping
    * pass of a feature pipeline. Bounds = one agg, broadcast back; the
    * fact stream never shuffles. */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame =
    Analytics.winsorize(t(s, dir, "events"), col("event_type"),
        col("value"), 0.05, 0.95)
      .select(col("event_id"), col("event_type"),
        round(col("clamped"), 4).as("clamped"))

  /** Time-series gap fill: dense daily purchase series per user, last
    * value carried into empty days (the resample/ffill operator). */
  private def qGapFill(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .agg(Analytics.decSum(col("value"), "v"))
    Analytics.gapFillDaily(obs, col("user_id"), col("d"), col("v"))
      .select(col("key").as("user_id"), col("day"), col("filled"),
        col("observed"))
  }

  /** The `flight_events` DataSourceV2 connector under the oracle gate:
    * read the synthesized topic (batch), parse with the pipeline's
    * explicit schema, aggregate. The payload is a pure function of the
    * row index, so the oracle REPLAYS the topic from `generate_series`
    * — source, JSON parse, and aggregation verified end-to-end against
    * an independent engine. */
  private def qSourceTopic(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.format("flight_events")
      .option("rows", 20000L).option("partitions", 32).load()
    stream.FlightStream.parse(raw.select(col("json")))
      .groupBy(col("flight_date"), col("status"))
      .agg(count(lit(1)).as("n"),
        countDistinct(split(col("flight_key"), "_").getItem(0)).as("n_users"),
        round(avg(col("dep_delay_min")), 4).as("avg_delay"))
  }

  /** The ENTIRE ingest path — explicit-schema JSON parse, 6-step
    * timestamp normalization, status/retention/junk filters, 28-column
    * staging projection — under the hash gate: fed from the
    * `flight_events` topic, whose payload the oracle replays row-for-row
    * from `generate_series`. This is the full-pipeline correctness
    * check q28 (rows-only, Spark-synthesized input) could not have. */
  private def qIngestOracle(s: SparkSession, dir: String): DataFrame = {
    val rows = 20000L
    val raw = s.read.format("flight_events")
      .option("rows", rows).option("partitions", 32).load()
    // the reference takes `now` once per cycle; here: the topic's last
    // event time, a pure function of the topic length
    val now = lit(1700000000L + (rows - 1) * 60L).cast("timestamp")
    stream.FlightStream.pipeline(raw.select(col("json")), now)
  }

  /** Corpus composition drift between two deterministic snapshots (even
    * vs odd doc ids): per-stratum shares + smoothed KL(new‖old) terms. */
  private def qDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Analytics.distributionDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), col("lang"))
  }

  /** Temperature mixing rates (α=0.5): the T5-style share^α rule,
    * projected to downsample-only form. Strata stats only — the corpus
    * is never touched. */
  private def qTemperature(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.temperatureRates(t(s, dir, "documents"), Seq("lang"), 0.5)
      .select(col("lang"), col("__n").as("n_docs"),
        round(col("__share"), 6).as("share"),
        round(col("__target"), 6).as("target"),
        round(col("__keep_rate"), 6).as("keep_rate"))

  /** The full production ANN path — train (iters=2, i.e. ONE centroid
    * update past the smallest-id init — the q76 trajectory), index
    * (joinless literal-argmin assignment), search (nprobe=2 probed
    * exact cosine) — in one call; the oracle composes the q76
    * trajectory replay with the q27 probe/rank. */
  private def qIvfTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ivfTrainedTopK(emb, emb.filter(col("vec_id") < 5), k = 10,
      kCells = 4, iters = 2, nprobe = 2,
      coarse0 = Some(sharedCoarse(s, dir)))
  }

  /** Equal-frequency binning (ntile) per group — quantile-bucket
    * assignment for difficulty/quality stratification; completes the
    * ranking-window family (row_number q40, rank/lag/lead q45). */
  private def qNtileBins(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("value").asc_nulls_first, col("event_id"))
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        ntile(4).over(w).cast("long").as("quartile"))
  }

  /** SCD2 history of each user's event_type: versioned
    * [valid_from, valid_to) intervals, no-change upserts collapsed —
    * the time-travel dim the reference's overwrite-only warehouse
    * loses. */
  private def qScd2(s: SparkSession, dir: String): DataFrame =
    ops.Merge.scd2(
      t(s, dir, "events").select(col("user_id"), col("event_type"),
        col("ts"), col("event_id")),
      Seq("user_id"), Seq(col("ts"), col("event_id")), col("ts"),
      Seq("event_type"))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("is_current"))

  /** Cohort retention matrix: users bucketed by first-seen day, distinct
    * activity counted per day offset. First-seen = one map-side-combined
    * min agg; the join shuffles once on user_id; the matrix agg combines
    * map-side — the standard lifecycle analysis at any scale. */
  private def qCohort(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
    ev.join(first, "user_id")
      .groupBy(col("cohort"),
        datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** Ordered funnel: click → purchase → signup, each step strictly after
    * the previous step's first completion. Three min-aggs + two
    * key-partitioned joins, all on user_id (one partitioning reused);
    * counts are funnel-sized. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    def firstAfter(step: String, prev: DataFrame, prevT: String, as: String) =
      ev.filter(col("event_type") === step)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevT))
        .groupBy(col("user_id")).agg(min(col("ts")).as(as))
    val s1 = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = firstAfter("purchase", s1, "t1", "t2")
    val s3 = firstAfter("signup", s2, "t2", "t3")
    def cnt(df: DataFrame, step: Int, name: String) =
      df.agg(lit(step).as("step"), lit(name).as("step_name"),
        count(lit(1)).as("n_users"))
    cnt(s1, 1, "click").unionByName(cnt(s2, 2, "purchase"))
      .unionByName(cnt(s3, 3, "signup"))
  }

  /** Inverted index over the corpus: term → (df, cf, capped posting
    * list). The posting cap (32) is rank-filtered BEFORE the collect, so
    * `InferWindowGroupLimit` bounds the exchange per term (a stopword
    * never ships its corpus-sized list). Postings render as a comma
    * string at this boundary — arrays aren't hash-portable across the
    * oracle gate; the library form keeps the typed array. */
  private def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    TextStats.invertedIndex(t(s, dir, "documents"), col("doc_id"),
        col("text"), 32, tf0 = Some(sharedTermFreqs(s, dir)))
      .select(col("term"), col("df"), col("cf"),
        array_join(col("postings"), ",").as("postings"))

  /** PMI collocations: association score of adjacent token pairs with
    * min support 5 (rare-pair PMI is noise). */
  private def qPmi(s: SparkSession, dir: String): DataFrame =
    TextStats.pmiCollocations(t(s, dir, "documents"), col("doc_id"),
      col("text"), 5L, uni0 = Some(sharedUnigramCounts(s, dir)),
      big0 = Some(sharedBigramCounts(s, dir)))

  /** Normal-equation sufficient statistics: upper triangle of the Gram
    * matrix of [1 | x_1..x_4 | y] over the embedding column (features =
    * dims 1-4, target = dim 5). The cluster reduces 21 cells; the driver
    * solve lives in [[ops.LinAlg.solveNormal]] (LinAlgSpec fits the
    * regression and checks residual orthogonality). */
  private def qGramMatrix(s: SparkSession, dir: String): DataFrame =
    ops.LinAlg.gramMatrix(t(s, dir, "embeddings"), col("embedding"), 4)

  /** PageRank over the part–supplier incidence graph from lineitem
    * (bipartite, both directions; node id = key*10 + type bit), two
    * snapped iterations — the graph-fixpoint companion of q63's
    * connected components on a graph with real degree skew. */
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val fwd = li.select((col("l_partkey") * 10).as("src"),
      (col("l_suppkey") * 10 + 1).as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    ops.Graph.pagerank(edges, "src", "dst", iters = 2)
      .select(col("id"), col("rank"))
  }

  /** Per-node triangle counts on the part co-purchase graph (parts in
    * the same order, one category slice): degree-oriented wedge join —
    * each triangle counted once, out-degree bounded by O(√E) on any
    * graph, so the hub-degree² blow-up never happens. */
  private def qTriangles(s: SparkSession, dir: String): DataFrame =
    ops.Graph.triangleCount(coPurchaseEdges(s, dir), "src", "dst")

  /** Event-type Markov transition matrix over per-user event sequences:
    * lead() pairs on one (user, time) window, then a 5×5-sized count
    * matrix with row-normalized probabilities — the path-analysis
    * companion of sessionize (q18) and funnel (q89). One window shuffle
    * + one map-side-combined agg; the normalizing totals ride a window
    * over the matrix-sized result, never the event stream. */
  private def qTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val byRow = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    pairs.withColumn("row_total", sum(col("n")).over(byRow))
      .withColumn("p",
        round(col("n").cast("double") / col("row_total").cast("double"), 6))
  }

  /** Join-size estimation from two independent CM sketches (the
    * inner-product bound): what a cost model consults before committing
    * a 100 TB join strategy. Both relations reduce to depth×width
    * matrices independently; truth rides along for the bound check. */
  private def qJoinSizeEst(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val a = ev.filter(col("event_id") % 2 === 0).select(col("user_id"))
    val b = ev.filter(col("event_id") % 2 === 1).select(col("user_id"))
    val est = ops.Sketch.cmJoinSize(
      ops.Sketch.countMinMatrix(a, col("user_id"), 3, 64),
      ops.Sketch.countMinMatrix(b, col("user_id"), 3, 64))
    val truth = a.groupBy(col("user_id")).agg(count(lit(1)).as("na"))
      .join(b.groupBy(col("user_id")).agg(count(lit(1)).as("nb")), "user_id")
      .agg(sum(col("na").cast("decimal(19,0)") * col("nb").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("true_join_size"))
    // decimal(38,0) canonicalizes differently across engines/hashers;
    // the string rendering is exact and hash-stable (oracle casts too)
    est.crossJoin(truth)
      .select(col("est_join_size").cast("string").as("est_join_size"),
        col("true_join_size").cast("string").as("true_join_size"),
        round(col("est_join_size").cast("double") /
          col("true_join_size").cast("double"), 4).as("over_ratio"),
        (col("est_join_size") >= col("true_join_size")).as("bound_holds"))
  }

  /** Per-day reconciliation checksums over events — the order-free
    * md5-sum fingerprint that compares two 100 TB copies with one
    * bucket-sized exchange per side (mismatched buckets then diff via
    * q72's snapshotDiff on the slice). */
  private def qTableChecksum(s: SparkSession, dir: String): DataFrame =
    Merge.tableChecksum(t(s, dir, "events"),
      Seq(col("event_id"), col("user_id"), col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
        col("value").cast("decimal(12,2)")),
      to_date(col("ts")))
      // decimal(38,0) sums stay mergeable inside the op; the query
      // boundary renders them as exact strings for hash stability
      .withColumn("checksum", col("checksum").cast("string"))

  /** CDC roundtrip: derive a change feed between two snapshot variants
    * of the customer dim, apply it back to the old snapshot, and emit
    * the reconstructed table — the oracle is simply the NEW snapshot
    * (applyChanges ∘ changeFeed ≡ identity, the roundtrip law). */
  private def qCdcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val oldSnap = cust.filter(col("c_custkey") % 10 < 8)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 7 === 0, lit(0.0d))
          .otherwise(col("c_acctbal")).as("bal"))
    val newSnap = cust.filter(col("c_custkey") % 10 >= 2)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal").as("bal"))
    Merge.applyChanges(oldSnap,
      Merge.changeFeed(oldSnap, newSnap, Seq("c_custkey"), Seq("c_name", "bal")),
      Seq("c_custkey"), Seq("c_name", "bal"))
  }

  /** Trailing range-frame rolling aggregate + period-over-period delta:
    * the two window frames the tumbling/sliding family (q29/q30) does
    * not cover — a RANGE frame over a gappy day series (3 calendar days,
    * not 3 rows: missing days still shrink the frame) and lag(). Daily
    * partials reduce first (map-side combined), so the window runs over
    * the day-grain table, never the event stream. */
  private def qRollingWindow(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,4)")).as("day_v"),
        count(lit(1)).as("day_n"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01").cast("date")))
    val rolling = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-2, 0)
    val byDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day_num"))
    daily.select(col("event_type"), col("day"),
        round(col("day_v").cast("double"), 4).as("day_v"), col("day_n"),
        round(sum(col("day_v")).over(rolling).cast("double"), 4).as("roll3_v"),
        sum(col("day_n")).over(rolling).as("roll3_n"),
        round((col("day_v") - lag(col("day_v"), 1).over(byDay))
          .cast("double"), 4).as("dod_delta"))
  }

  /** Incremental MV maintenance end-to-end: build the per-type
    * (n, sum_v) aggregate over an OLD snapshot, derive the full CDC feed
    * to a NEW snapshot (with updates that change values AND move rows
    * between groups), delta-apply it — the oracle aggregates the new
    * snapshot directly (the maintenance law). Refresh cost tracks the
    * change volume, never the base table. */
  private def qIncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def snap(pred: Column, mutate: Boolean) = {
      val grp = if (mutate)
        when(col("event_id") % 13 === 0, lit("moved"))
          .otherwise(col("event_type"))
      else col("event_type")
      val v = if (mutate)
        when(col("event_id") % 7 === 0, col("value") + 1d)
          .otherwise(col("value"))
      else col("value")
      ev.filter(pred).select(col("event_id"), grp.as("event_type"),
        v.cast("decimal(18,4)").as("value"))
    }
    val oldSnap = snap(col("event_id") % 10 < 8, mutate = false)
    val newSnap = snap(col("event_id") % 10 >= 2, mutate = true)
    val mv = oldSnap.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"))
    val feed = Merge.changeFeedFull(oldSnap, newSnap, Seq("event_id"),
      Seq("event_type", "value"))
    Merge.incrementalAggApply(mv, feed, "event_type", "value")
      .select(col("event_type"), col("n"),
        round(col("sum_v").cast("double"), 4).as("sum_v"))
  }

  /** Time-weighted average over an irregular event series (TWAP): each
    * observation holds until the next one, so its weight is the
    * microsecond gap to the successor — the correct average for
    * irregularly-sampled state (sensor readings, prices, delay
    * telemetry), where the plain mean over-weights bursts. One (key,
    * time) window for lead(), then a map-side-combined aggregation of
    * exact decimal (value × duration) products; the last observation
    * per key carries no interval and drops out. */
  private def qTwap(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("event_type"), col("ts"), col("value"), col("event_id"))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .select(col("event_type"),
        col("value").cast("decimal(18,4)").as("v"),
        (unix_micros(col("next_ts").cast("timestamp")) -
          unix_micros(col("ts").cast("timestamp"))).as("dur"))
      .groupBy(col("event_type"))
      .agg(sum(col("dur")).as("total_us"),
        round((sum(col("v") * col("dur").cast("decimal(20,0)")).cast("double") /
          sum(col("dur")).cast("double")), 6).as("twap"),
        // plain mean via exact decimal sum / exact count — a double avg
        // would drift with partition summation order
        round(sum(col("v")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("plain_mean"))
  }

  /** Per-group closed-form linear regression (value vs day), entirely
    * in-plan — no driver step, unlike q92's general solve: for d = 1 the
    * normal equations collapse to slope = (n·Sxy − Sx·Sy) / (n·Sxx −
    * Sx²), so ONE map-side-combined aggregation of decimal sufficient
    * statistics per group fits millions of independent regressions in a
    * single pass (per-entity trend fitting at 100 TB). Day-grain x keeps
    * decimal magnitudes bounded; the only doubles are the final rounded
    * divisions. */
  private def qGroupRegression(s: SparkSession, dir: String): DataFrame = {
    val x = datediff(to_date(col("ts")), lit("2023-01-01").cast("date"))
      .cast("decimal(10,0)")
    val y = col("value").cast("decimal(18,4)")
    val stats = t(s, dir, "events")
      .select(col("event_type"), x.as("x"), y.as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("decimal(20,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    stats.select(col("event_type"), col("n").cast("long").as("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
        .as("slope_per_day"))
  }

  /** Data-quality constraint report over events + one referential check
    * against customer: every per-column check is a violation count in
    * ONE aggregation pass; the RI check adds one anti join. The gate a
    * pipeline runs before promoting a snapshot. */
  private def qQualityReport(s: SparkSession, dir: String): DataFrame = {
    import ops.Quality
    val ev = t(s, dir, "events")
    val perCol = Quality.report(ev, Seq(
      Quality.notNull("events.event_id not_null", col("event_id")),
      Quality.unique("events.event_id unique", col("event_id")),
      Quality.notNull("events.user_id not_null", col("user_id")),
      Quality.inRange("events.value in [0,1000]", col("value"), 0d, 1000d),
      Quality.inSet("events.event_type allowed",
        col("event_type"), Seq("click", "view", "purchase", "signup", "error")),
      Quality.satisfies("events.ts in 2024",
        year(col("ts")) === 2024)))
    val ri = Quality.referential("events.user_id references customer",
      ev, col("user_id"), t(s, dir, "customer"), col("c_custkey"))
    perCol.unionByName(ri)
  }

  /** Per-user behavioral diversity: Shannon entropy and Gini-Simpson
    * index over each user's event-type distribution — the composition
    * metrics (alongside q83's KL drift) that flag bots (entropy ≈ 0)
    * and scanners (entropy ≈ max). H = ln(n) − (Σ c·ln c)/n, so the
    * only double sum is Σ c·ln c — snapped to the 1e-9 grid and summed
    * as exact decimals (order-free, the kmeans contract); Gini-Simpson
    * needs only Σc² (exact integers). Two map-side-combined
    * aggregations on one key hierarchy. */
  private def qEntropy(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val cd = col("c").cast("double")
    counts.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum((floor(cd * log(cd) * lit(1e9) + lit(0.5)))
          .cast("decimal(28,0)")).as("s9"),
        sum(col("c") * col("c")).as("sc2"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        round(log(col("n_events").cast("double")) -
          (col("s9").cast("double") / lit(1e9)) / col("n_events").cast("double"),
          6).as("entropy"),
        round(lit(1.0) - col("sc2").cast("double") /
          (col("n_events").cast("double") * col("n_events").cast("double")),
          6).as("gini_simpson"))
  }

  /** Key-skew diagnostic over the event stream's partition key — the
    * measurement BEFORE choosing a skew strategy (AQE handles runtime
    * skew, `Skew.saltedJoin` known-hot keys; this tells you which):
    * per-key counts (map-side combined, key-table-sized output), then
    * the Gini coefficient over the sorted count distribution plus
    * top-share — all integer sums until two final divisions. */
  private def qSkewGini(s: SparkSession, dir: String): DataFrame = {
    val k = t(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    // Gini's Σ rank·cnt is TIE-INVARIANT (ranks within a tie group sum
    // to a constant), so no per-key global rank is needed: group keys
    // by their count — the tie group occupies ranks [off+1, off+m] and
    // contributes cnt·(m·off + m(m+1)/2) in closed form. The only
    // unpartitioned window runs over the DISTINCT-COUNT table
    // (heavy-tailed key distributions make it tiny — ≤ max_cnt rows —
    // where a per-key rank would single-task the whole key table).
    val g = k.groupBy(col("cnt")).agg(count(lit(1)).as("m"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("cnt"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    g.withColumn("off", coalesce(sum(col("m")).over(w), lit(0L)))
      .agg(sum(col("m")).as("n_keys"),
        sum(col("cnt") * col("m")).as("total_rows"),
        max(col("cnt")).as("max_cnt"),
        // m·(m+1) is even — shiftright keeps the whole term a LONG
        // (Column./ is double division, which would order-poison the sum)
        sum(col("cnt") * (col("m") * col("off") +
          shiftright(col("m") * (col("m") + 1L), 1))).as("src"))
      .select(col("n_keys"), col("total_rows"), col("max_cnt"),
        round(col("max_cnt").cast("double") / col("total_rows").cast("double"),
          6).as("top_share"),
        round(lit(2.0) * col("src").cast("double") /
          (col("n_keys").cast("double") * col("total_rows").cast("double")) -
          (col("n_keys").cast("double") + 1.0) / col("n_keys").cast("double"),
          6).as("gini"))
  }

  /** Quantile normalization: map each value to its within-group rank
    * quantile ((rank−1)/(n−1) ∈ [0,1]) — the distribution-free feature
    * transform completing the family (min-max q67, clamp q78, ntile
    * q86). Rank and count are exact integers; ties get the same
    * normalized score via rank(). One window shuffle. */
  private def qQuantileNorm(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"))
    val byType = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("r", rank().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(byType))
      .select(col("event_id"), col("event_type"), col("r"),
        round((col("r") - 1L).cast("double") /
          (col("n") - 1L).cast("double"), 6).as("qnorm"))
  }

  /** Last-touch attribution — the as-of join applied: each purchase is
    * attributed to the user's latest click at or before it; attributed
    * revenue rolls up per click-day. Operator REUSE is the point: q33's
    * as-of machinery (one shuffle, carry-forward) drives a product
    * analytics question; the oracle replays it with DuckDB's native
    * ASOF JOIN. */
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(count(lit(1)).as("n")) // unique (user, ts) — as-of contract
      .select(col("user_id"), col("ts"))
    ops.AsofJoin.asofJoin(purchases, clicks, Seq("user_id"), "ts")
      .filter(col("r_ts").isNotNull)
      .groupBy(to_date(col("r_ts")).as("click_day"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 4)
          .as("attributed_revenue"))
  }

  /** Longest consecutive-day activity streak per user — gaps-and-
    * islands: distinct active days, island id = day − dense_rank
    * (constant within a run of consecutive days), longest island per
    * user. Two window passes over the (user, day) table (events reduce
    * to it first), all integer arithmetic. */
  private def qStreaks(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("island",
        datediff(col("day"), lit("1970-01-01").cast("date")) -
          dense_rank().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("streak_start"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        max_by(col("streak_start"), struct(col("len"), col("streak_start")))
          .as("best_streak_start"),
        count(lit(1)).as("n_streaks"))
  }

  /** Rolling 3-day distinct users per day — WITHOUT rescanning the
    * trailing window: q68's HLL register matrices are data, so the
    * rolling merge is a range-window `max` over per-day registers
    * (sketch-merge = max, the semilattice), reindexed on the full
    * day×bucket grid so absent buckets still carry forward. Per day the
    * cost is 64 register rows, not the window's raw events — THE
    * mergeable-sketch payoff at 100 TB. Deterministic md5 registers →
    * bit-identical estimates (exact checksum witness rides along). */
  private def qRollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val regs = ops.Sketch.hllRegisters(ev, Seq("day"), col("user_id"))
      .localCheckpoint(true)
    // day domain from the REGISTERS (64 rows/day), not a second events
    // scan — also keeps the domain aligned with the oracle's (which
    // derives days from the non-null-user stream, as hllRegisters does)
    val grid = regs.select(col("day")).distinct()
      .crossJoin(broadcast(s.range(64).select(col("id").as("bucket"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"))
      .orderBy(col("dn")).rangeBetween(-2, 0)
    val rolled = grid.join(regs, Seq("day", "bucket"), "left")
      .withColumn("dn", datediff(col("day"), lit("1970-01-01").cast("date")))
      .withColumn("rreg", max(col("reg")).over(w))
      .filter(col("rreg").isNotNull)
      .select(col("day"), col("bucket"), col("rreg").as("reg"))
    ops.Sketch.hllEstimate(rolled, Seq("day"))
  }

  /** Two-proportion z-test on purchase conversion between the even/odd
    * user cohorts — experiment readout in one pass: per-user conversion
    * flags reduce map-side, the four cohort counts are exact integers,
    * and the pooled z-statistic is a fixed-parenthesization double
    * formula both engines evaluate identically. */
  private def qAbTest(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
    val isA = col("user_id") % 2 === 0
    val agg = users.agg(
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(isA, col("conv")).otherwise(0L)).as("conv_a"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
      sum(when(!isA, col("conv")).otherwise(0L)).as("conv_b"))
    val (na, ca, nb, cb) = (col("n_a").cast("double"),
      col("conv_a").cast("double"), col("n_b").cast("double"),
      col("conv_b").cast("double"))
    val p = (ca + cb) / (na + nb)
    val z = (ca / na - cb / nb) /
      sqrt(p * (lit(1.0) - p) * (lit(1.0) / na + lit(1.0) / nb))
    agg.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(ca / na, 6).as("rate_a"), round(cb / nb, 6).as("rate_b"),
      round(z, 6).as("z_score"),
      (abs(z) > 1.96).as("significant_95"))
  }

  /** Time-to-convert distribution — the latency layer over q89's funnel:
    * per user, seconds from first click to the first strictly-later
    * purchase; then the population's exact interpolated quartiles.
    * Deltas are exact integer seconds (micros div), two min-aggs + one
    * user-keyed join reuse one partitioning; the percentile runs over
    * the user-sized delta table, never the event stream. */
  private def qTimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val deltas = ev.filter(col("event_type") === "purchase")
      .join(firstClick, "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
      .select((unix_micros(col("t2").cast("timestamp")) -
        unix_micros(col("t1").cast("timestamp"))).as("delta_us"))
    deltas.agg(count(lit(1)).as("n_converted"),
      min(col("delta_us")).as("min_us"),
      round(expr("percentile(delta_us, 0.25)"), 3).as("p25_us"),
      round(expr("percentile(delta_us, 0.5)"), 3).as("p50_us"),
      round(expr("percentile(delta_us, 0.75)"), 3).as("p75_us"),
      max(col("delta_us")).as("max_us"))
  }

  /** Distributed BPE merge training under the hash gate: the first two
    * learned merges over the documents corpus (count desc, pair-lex
    * tie-break — fully deterministic). Training is the distributed part
    * (corpus-sized word count, then vocabulary-sized pair aggs); the
    * learned list itself is driver state by design, emitted here as a
    * 2-row frame so DuckDB can replay the whole trajectory (symbolize →
    * argmax → greedy merge apply → argmax). */
  private def qBpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    sharedBpeMerges(s, dir)
      .zipWithIndex
      .map { case ((a, b), i) => (i + 1L, a, b) }
      .toDF("merge_idx", "lhs", "rhs")
  }

  /** Interpolated bigram-LM NLL per document (λ = 0.5 — exactly
    * representable, so both engines write literal 0.5 for λ and 1−λ):
    * the perplexity quality filter. */
  private def qBigramNll(s: SparkSession, dir: String): DataFrame =
    TextStats.bigramNll(t(s, dir, "documents"), col("doc_id"),
      col("text"), 0.5, uni0 = Some(sharedUnigramCounts(s, dir)),
      big0 = Some(sharedBigramCounts(s, dir)),
      docBig0 = Some(sharedDocBigrams(s, dir)))

  /** Kneser–Ney smoothed bigram NLL (q113's production-grade sibling:
    * continuation-diversity backoff instead of raw unigram frequency —
    * the smoothing CCNet's KenLM perplexity gate runs); reads the same
    * shared bigram/doc-bigram artifacts, so the marginal cost is the
    * vocabulary-sized model tables + one scoring join. */
  private def qKnBigramNll(s: SparkSession, dir: String): DataFrame =
    TextStats.knBigramNll(t(s, dir, "documents"), col("doc_id"),
      col("text"), 0.75, big0 = Some(sharedBigramCounts(s, dir)),
      docBig0 = Some(sharedDocBigrams(s, dir)))

  /** Leakage-safe split counts: split assigned per dedup GROUP (q63's
    * connected components over the q21 LSH pairs), so near-duplicates
    * never straddle train/eval. Emits per-split doc and group counts. */
  private def qLeakageSplit(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.leakageSafeSplit(t(s, dir, "documents"), "doc_id",
        sharedLshCandidates(s, dir), "doc_a", "doc_b",
        Seq(10 -> "val", 20 -> "test", 100 -> "train"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("group_id")).as("n_groups"))

  /** Centroid-based silhouette per embedding cluster: the clustering
    * quality eval (complements q74 centroids / q76 kmeans). */
  private def qSilhouette(s: SparkSession, dir: String): DataFrame =
    Ann.silhouette(t(s, dir, "embeddings"), "label")

  /** Prefix-filtered EXACT Jaccard self-join (AllPairs/PPJoin family) at
    * t = 3/5 — the lossless candidate generator next to the LSH family
    * (q21 candidates can miss true pairs; prefix filtering cannot). */
  private def qPrefixSimJoin(s: SparkSession, dir: String): DataFrame =
    TextDedup.prefixFilterJoin(t(s, dir, "documents"),
      col("doc_id"), col("text"), 3, 3, 5)

  /** Content-defined chunking (expected chunk = 8 tokens) with
    * corpus-wide per-chunk occurrence counts — chunk-level dedup. */
  private def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    ops.Packing.cdcChunks(t(s, dir, "documents"),
      col("doc_id"), col("text"), 8)

  /** Deterministic exact-k uniform sample (min-k by id hash). */
  private def qMinKSample(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.minKSample(
      t(s, dir, "documents").select(col("doc_id"), col("source"), col("lang")),
      col("doc_id"), 100)

  /** Zipf slope / intercept / r² of the token frequency distribution
    * per language — corpus-health diagnostic. */
  private def qZipfFit(s: SparkSession, dir: String): DataFrame =
    TextStats.zipfFit(t(s, dir, "documents"), col("lang"), col("text"))

  /** SemDeDup survivors: one representative per semantic near-dup
    * neighborhood (cosine ≥ 0.28 within the label cluster, smaller id
    * wins) — the pruned-corpus half of q32's pair detection. */
  private def qSemDedup(s: SparkSession, dir: String): DataFrame =
    Ann.semDedup(t(s, dir, "embeddings"), "label", 0.28)
      .select(col("vec_id"), col("label"))

  /** Per-source byte budget (corpus composition control): each source
    * contributes ≤ 6000 chars, docs admitted in deterministic hash
    * order with their running totals. */
  private def qSourceBudget(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.sourceBudget(
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars")),
      col("source"), col("doc_id"), col("n_chars"), 6000L)

  /** DSIR importance weights toward the English slice: hashed-unigram
    * log-likelihood ratio target-vs-corpus per document. */
  private def qDsirWeights(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.dsirWeights(t(s, dir, "documents"), col("doc_id"),
      col("text"), col("lang") === "en")

  /** Deterministic 8-shard manifest: per-shard doc count, payload
    * size, and id range — the training writer's sidecar. */
  private def qShardManifest(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.shardManifest(t(s, dir, "documents"), col("doc_id"),
      col("n_chars"), 8)

  /** Hybrid retrieval by reciprocal-rank fusion: a term-frequency
    * ranking and a coverage ranking (distinct query terms, then
    * brevity) each produce a top-50 list; RRF (c=60) merges them into
    * the final top-20. Rank windows run over k-row LISTS (post-top-k),
    * never the corpus. */
  private def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("spark", "join", "window")
    val docs = t(s, dir, "documents")
    // query-term filter BEFORE any aggregation: the explode emits all
    // tokens but only matches survive into the shuffle — the tf table
    // the aggregation sees is (docs × matched tokens), not the corpus
    // vocabulary (vs the shared termFreqs, which builds the full table)
    val cand = ops.Fanout.fanout(docs)
      .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tfq"), countDistinct(col("term")).as("n_terms"))
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    import org.apache.spark.sql.expressions.Window
    val ordA = Seq(col("tfq").desc, col("doc_id").asc)
    val listA = cand.orderBy(ordA: _*).limit(50)
      .withColumn("rank",
        row_number().over(Window.orderBy(ordA: _*)).cast("long"))
    val ordB = Seq(col("n_terms").desc, col("n_chars").asc,
      col("doc_id").asc)
    val listB = cand.orderBy(ordB: _*).limit(50)
      .withColumn("rank",
        row_number().over(Window.orderBy(ordB: _*)).cast("long"))
    Analytics.rrfFuse(listA.select(col("doc_id"), col("rank")),
      listB.select(col("doc_id"), col("rank")), "doc_id", 60, 20)
  }

  /** Canonical-member selection over the q63 dedup groups: per group,
    * keep the LONGEST member (ties → smallest id) — the quality-aware
    * representative policy (vs q63's min-id `keep` flag). One id-keyed
    * join + one group-sized argmax aggregation on top of the CC
    * fixpoint. */
  private def qCanonicalPick(s: SparkSession, dir: String): DataFrame =
    ops.Graph.dedupGroups(t(s, dir, "documents"), "doc_id",
        sharedLshCandidates(s, dir), "doc_a", "doc_b")
      .join(t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .groupBy(col("group_id"))
      .agg(max(col("group_size")).as("group_size"),
        max_by(col("doc_id"),
          struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("canon_id"),
        max(col("n_chars")).as("canon_chars"))

  /** Tokenizer-application capstone: train 2 BPE merges on the corpus
    * (the q112 trajectory), encode the DISTINCT-WORD vocabulary under
    * them (vocab-sized fold — never a corpus-sized re-encode), and
    * weight subword counts by per-language word frequencies → fertility
    * (subwords per word) per language, the standard tokenizer-quality
    * eval. The corpus is read once for frequencies; everything after is
    * vocabulary-sized. */
  private def qBpeFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = sharedBpeMerges(s, dir)
    val wlf = ops.Fanout.fanout(docs)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("freq"))
    // encode each distinct word as its own one-word document: the fold
    // runs over the vocabulary, and the per-lang stats join back by w
    val nSub = ops.Bpe.encode(wlf.select(col("w")).distinct(),
        col("w"), col("w"), merges)
      .groupBy(col("doc_id").as("w")).agg(count(lit(1)).as("n_sub"))
    wlf.join(nSub, Seq("w"))
      .groupBy(col("lang"))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_sub")).as("n_subwords"))
      .select(col("lang"), col("n_words"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_words"), 4)
          .as("fertility"))
  }

  /** Gopher-rules document gate: per-rule boolean flags + keep, pure
    * projection (zero exchanges at any scale). */
  private def qGopherRules(s: SparkSession, dir: String): DataFrame =
    TextStats.gopherRules(t(s, dir, "documents"), col("doc_id"),
      col("text"))

  /** Exact substring dedup APPLY (5-token grams, canonical-first-
    * occurrence retention): cleaned-text hashes + removal counts. */
  private def qSubstringDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.exactSubstringDedup(t(s, dir, "documents"), col("doc_id"),
      col("text"), 5)

  /** Inter-source duplication matrix: LSH near-dup candidate pairs
    * rolled up by (source_a, source_b) — which sources mirror each
    * other's content, the provenance analysis behind domain-level
    * dedup decisions. Pair table is LSH-selective (small); the source
    * lookup joins broadcast; output is a ≤|sources|² matrix. */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
    sharedLshCandidates(s, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Exact 1M-token budget apportionment across sources (Hamilton
    * largest-remainder over sqrt-temperature weights). */
  private def qTokenApportion(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.apportionBudget(t(s, dir, "documents"), col("source"),
      col("n_chars"), 1000000L)

  /** Bucketed self-KNN graph: top-3 cosine neighbors per vector
    * within its label cluster. */
  private def qKnnGraph(s: SparkSession, dir: String): DataFrame =
    Ann.knnGraph(t(s, dir, "embeddings"), "label", 3)

  /** Sort-by-length inference batching manifest: 16 hash shards,
    * batches of 32, per-batch padding waste. */
  private def qLengthBatching(s: SparkSession, dir: String): DataFrame =
    Multimodal.lengthBatchingManifest(t(s, dir, "documents"),
      col("doc_id"), col("n_chars"), 16, 32)

  /** Product-quantization ANN with asymmetric distance: 4 subspaces of
    * 16 dims, 4-entry codebooks (iters=2, i.e. one centroid update —
    * the q76/q85 trajectory contract per subspace), queries =
    * vec_id < 5, top-10 by exact-integer snapped ADC score. The
    * memory-bound ANN path — the corpus scans as m positional codes
    * per vector. */
  private def qPqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.pqAdcTopK(emb, emb.filter(col("vec_id") < 5), m = 4, kCodes = 4,
      iters = 2, k = 10)
  }

  /** IVF·PQ composed ANN — IVFADC proper (Jégou et al., TPAMI 2011
    * §IV.A) and the 100 TB serving shape: the q85 coarse quantizer
    * (4 cells, q76 Lloyd trajectory) prunes each query to its nprobe=2
    * nearest cells by snapped L2, and the q133 PQ-ADC machinery
    * (4×16-dim subspaces, 4-entry codebooks) scores ONLY the probed
    * cells' codes — with books trained on, and codes encoding, the
    * RESIDUAL x − coarse_centroid(x), so ADC tables are built from the
    * per-probed-cell query residual. The corpus×queries nested-loop of
    * a flat scan becomes a broadcast hash equi-join on the cell key. */
  private def qIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // serve-many against the shared session index — identical by
    // construction to ivfPqTopK (which IS ivfPqIndex ∘ ivfPqSearch)
    Ann.ivfPqSearch(sharedIvfPqIndex(s, dir),
      emb.filter(col("vec_id") < 5), nprobe = 2, k = 10)
  }

  /** Per-doc trigram novelty: fraction of a doc's gram occurrences
    * whose gram first appears (min doc_id) in this doc — the
    * vocabulary-growth / marginal-contribution curation signal. */
  private def qNgramNovelty(s: SparkSession, dir: String): DataFrame =
    TextDedup.ngramNovelty(t(s, dir, "documents"), col("doc_id"),
      col("text"), 3)

  /** CCNet-style per-source perplexity gate over the q73 unigram NLL:
    * each source cut at its OWN p75 NLL (style differs by source, so a
    * global threshold over/under-prunes); per-source admission stats. */
  private def qPerplexityGate(s: SparkSession, dir: String): DataFrame = {
    val nll = sharedUnigramNll(s, dir).select(col("doc_id"), col("nll"))
    val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
    ops.Sampling.perplexityGate(src.join(nll, "doc_id"), col("source"),
      col("nll"), 0.75)
  }

  /** Matryoshka/truncation retrieval eval: recall@10 of brute-force
    * cosine under 16- and 32-dim prefix truncation vs the full 64-dim
    * ranking — the storage/compute-tier measurement for embedding
    * serving. */
  private def qTruncationEval(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.truncationEval(emb, emb.filter(col("vec_id") < 5), Seq(16, 32), 10,
      full0 = Some(sharedExactTopK(s, dir).select(col("q_id"), col("n_id"))))
  }

  /** Dedup-chain audit: per CC dedup group (with ≥1 candidate edge),
    * the weakest/mean exact Jaccard over its edges and a `chained` flag
    * (min < 0.5) marking groups merged only transitively — the groups a
    * keep-one-per-group policy would over-delete from. */
  private def qDedupChainAudit(s: SparkSession, dir: String): DataFrame = {
    // the shared materialized verified-pair artifact (already a
    // localCheckpoint — nothing persisted here, nothing to unpersist):
    // both consumers (CC fixpoint + audit rollup) read it directly
    val jac = sharedVerifiedJaccard(s, dir)
    val groups = ops.Graph.dedupGroups(t(s, dir, "documents"), "doc_id",
      jac, "doc_a", "doc_b")
    ops.Graph.dedupChainAudit(groups, jac, 0.5)
  }

  /** Score-vs-length bias diagnostic: per-source Pearson correlation of
    * n_chars against the q73 unigram NLL — a strong correlation means
    * the perplexity gate is a length filter in disguise. */
  private def qLengthBias(s: SparkSession, dir: String): DataFrame = {
    val nll = sharedUnigramNll(s, dir).select(col("doc_id"), col("nll"))
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      col("n_chars"))
    ops.Quality.groupedCorr(d.join(nll, "doc_id"), col("source"),
        col("n_chars"), col("nll"))
      .withColumnRenamed("grp", "source")
  }

  /** Encoding-corruption gate (q194) — the mojibake/control-char
    * health rule of CCNet-family curation, next to q141's JSON-ingest
    * accounting: synthesize deterministic corruption (every 7th doc
    * gains a U+FFFD replacement-char fragment, every 11th a BEL
    * control byte — identical string construction in the oracle, the
    * q141/q24 synthesis pattern), then account per source: flagged-doc
    * rate and per-kchar densities of replacement and control
    * characters ([[TextStats.mojibakeStats]] — one projection, one
    * map-side-combined rollup). */
  private def qMojibake(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val aug = concat(col("text"),
      when(col("doc_id") % 7 === 0, lit(" x\uFFFDy")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0, lit("\u0007")).otherwise(lit("")))
    TextStats.mojibakeStats(d, aug, col("source"))
  }

  /** Malformed-record accounting for a NULL-on-fail JSON ingest (the
    * reference's P8 semantics lifted to corpus scale): synthesize one
    * JSON line per document (identical string construction in the
    * oracle), corrupt every 7th by truncation, parse with the explicit
    * schema, and account the failures per language — the ingest-health
    * dashboard a permissive pipeline needs, one projection + one
    * map-side-combined rollup. */
  private def qCorruptIngest(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      .withColumn("j", concat(lit("{\"doc_id\":"),
        col("doc_id").cast("string"), lit(",\"lang\":\""), col("lang"),
        lit("\"}")))
      .withColumn("line", when(col("doc_id") % 7 === 0,
        expr("substring(j, 1, length(j) - 2)")).otherwise(col("j")))
    d.withColumn("p", from_json(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("p").isNull || col("p.doc_id").isNull, 1L)
          .otherwise(0L)).as("n_bad"))
      .select(col("lang"), col("n_rows"), col("n_bad"),
        round(col("n_bad").cast("double") / col("n_rows").cast("double"), 6)
          .as("bad_rate"))
  }

  /** Tokenizer-coverage eval: per-language OOV rate against the
    * corpus-global top-16 vocabulary (the synthetic corpus has 31
    * distinct tokens, so ~half the type space is OOV and the rate
    * genuinely varies by language). */
  private def qOovRate(s: SparkSession, dir: String): DataFrame =
    TextStats.oovRate(t(s, dir, "documents"), col("lang"), col("text"), 16)

  /** IVF·PQ recall operating curve, hash-checked: overlap@10 of the
    * q135 machinery — BOTH the raw (IVF-Flat-style) and residual
    * (IVFADC) encodings — against the q25 exact cosine ranking, at
    * nprobe ∈ {1, 2, 4} (4 = every cell). Turns the residual-beats-raw
    * recall claim and the nprobe cost/recall trade into driver-oracle
    * rows instead of spec-only assertions. */
  private def qIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ivfPqRecall(emb, emb.filter(col("vec_id") < 5), kCells = 4,
      nprobes = Seq(1, 2, 4), m = 4, kCodes = 4, iters = 2, k = 10,
      coarse0 = Some(sharedCoarse(s, dir)),
      exact0 = Some(sharedExactTopK(s, dir).select(col("q_id"), col("n_id"))),
      residualIdx0 = Some(sharedIvfPqIndex(s, dir)))
  }

  /** IVFADC+R (Jégou §V): the q135 residual index serves a top-20 ADC
    * shortlist (nprobe=2), exact 6-dp cosine re-ranks it, top-10 out —
    * the two-stage serving shape where quantization error only affects
    * WHICH 20 candidates are rescored, never the served ordering. */
  private def qIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ivfPqRerank(sharedIvfPqIndex(s, dir), emb,
      emb.filter(col("vec_id") < 5), nprobe = 2, shortlist = 20, k = 10)
  }

  /** Eval-set decontamination in embedding space: every 10th vector
    * plays the held-out benchmark; corpus vectors whose nearest
    * benchmark item reaches cosine 0.28 (the q32 near-dup bar) are
    * flagged with their nearest eval item — the leakage n-gram
    * contamination (q54) can't see. */
  private def qSemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.semanticDecontam(emb.filter(col("vec_id") % 10 =!= 0),
      emb.filter(col("vec_id") % 10 === 0), 0.28)
  }

  /** LSH banding planner over the observed verified-pair similarity
    * distribution: expected true-pair yield and S-curve threshold for
    * every power-of-two (bands, rows) split of the 8-hash signature —
    * the measurement that justifies q21's banding choice. */
  private def qLshPlanner(s: SparkSession, dir: String): DataFrame =
    TextDedup.lshPlanner(sharedVerifiedJaccard(s, dir), 8)

  /** MinHash estimator calibration: signature-agreement Jaccard vs the
    * exact shingle-set Jaccard per candidate pair — the spread at n=8
    * permutations that the planner's S-curve assumes away. */
  private def qMinhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val sigs = TextDedup.minhashSignaturesNative(t(s, dir, "documents"),
      col("doc_id"), col("text"), 3, 8)
    TextDedup.minhashCalibration(sharedLshCandidates(s, dir), sigs,
      sharedVerifiedJaccard(s, dir), 8)
  }

  /** Block-level global-frequency boilerplate removal (CCNet/Dolma
    * paragraph dedup over aligned 8-token blocks): any block occurring
    * more than once corpus-wide drops from EVERY document. */
  private def qBlockDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.blockBoilerplate(t(s, dir, "documents"), col("doc_id"),
      col("text"), 8, 1L)

  /** Incremental dedup-group maintenance: the candidate-pair stream is
    * split deterministically into history ((a+b)%4 ≠ 0) and a new batch
    * ((a+b)%4 = 0); history is labeled with the full star fixpoint,
    * then the batch folds in via [[Graph.incrementalComponents]] —
    * batch-bounded work, no re-run over history. Output exposes the
    * maintenance semantics: the merged label plus whether the batch
    * changed this doc's label. */
  private def qIncrementalCc(s: SparkSession, dir: String): DataFrame = {
    val cands = sharedLshCandidates(s, dir)
    val batchPred = (col("doc_a") + col("doc_b")) % 4 === 0
    val baseComps = ops.Graph.connectedComponents(
      cands.filter(!batchPred), "doc_a", "doc_b")
    // every doc labeled (singletons = self) — the maintained artifact;
    // materialized once for its three consumers (two remap joins in
    // incrementalComponents + the changed-flag comparison)
    val baseLabels = t(s, dir, "documents").select(col("doc_id"))
      .join(baseComps.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id").as("node"),
        coalesce(col("comp"), col("doc_id")).cast("long").as("comp"))
      .localCheckpoint(true)
    val upd = ops.Graph.incrementalComponents(baseLabels,
      cands.filter(batchPred), "doc_a", "doc_b")
    baseLabels.select(col("node"), col("comp").as("base_comp"))
      .join(upd.withColumnRenamed("comp", "group_id"), Seq("node"))
      .select(col("node").as("doc_id"), col("group_id"),
        (col("group_id") =!= col("base_comp")).as("changed"))
  }

  /** Multinomial NB language classifier, trained in-engine and
    * self-evaluated as a (lang, pred_lang, n_docs) confusion matrix —
    * the fastText-style curation-classifier analog. */
  private def qNbConfusion(s: SparkSession, dir: String): DataFrame =
    // the 4-dp argmax + label join over the shared full-corpus score
    // artifact (q227 reads the same frame — the classifier trains once
    // per session for both)
    ops.Quality.nbArgmax(sharedNbFullScores(s, dir))
      .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lab").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Session-scoped MATERIALIZED full-corpus NB score frame — the
    * self-eval sibling of [[sharedNbHoldoutScores]]: trained on ALL
    * docs off the TF artifact, scored on all docs, shared by q154
    * (confusion) and q227 (confident-learning label audit). */
  private val sharedNbFullScores =
    Artifacts.declare("nb_full_scores", "q154_nb_confusion") { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tf = sharedTermFreqs(s, dir)
      val model = ops.Quality.nbTrain(docs, col("doc_id"), col("text"),
        col("lang"), docTf0 = Some(tf.join(
          docs.select(col("doc_id"), col("lang").as("lab")), "doc_id")))
      ops.Quality.nbScores(model, docs, col("doc_id"), col("text"),
        docTf0 = Some(tf)).localCheckpoint(true)
    }

  /** JL sign-projection retrieval eval at 8/16 dims vs the exact
    * full-dim ranking — the truncation eval's cousin for embeddings
    * without matryoshka structure. */
  private def qJlEval(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.jlEval(emb, emb.filter(col("vec_id") < 5), Seq(8, 16), 10,
      exact0 = Some(sharedExactTopK(s, dir).select(col("q_id"), col("n_id"))))
  }

  /** Per-source corpus DATASHEET (the release-documentation rollup of
    * Gebru et al.'s "Datasheets for Datasets", computed, not written):
    * doc/token counts, near-dup incidence (docs in any verified pair
    * with jaccard ≥ 0.5), and mean LM loss — every metric read from a
    * shared session artifact (the verified-pair table, the NLL score
    * table), so the datasheet costs ONE doc-keyed join pass + one
    * per-source aggregation, not a pipeline re-run. */
  private def qDatasheet(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val nll = sharedUnigramNll(s, dir)
    val dupDocs = {
      val p = sharedVerifiedJaccard(s, dir).filter(col("jaccard") >= 0.5)
      p.select(col("doc_a").as("doc_id"))
        .union(p.select(col("doc_b").as("doc_id"))).distinct()
        .withColumn("is_dup", lit(1L))
    }
    docs.join(nll, Seq("doc_id")).join(dupDocs, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_near_dup_docs"),
        round(graft.expr.Snap.snappedSum(col("nll"), 1e9) /
          count(lit(1)).cast("double"), 6).as("mean_nll"))
      .withColumn("dup_rate",
        round(col("n_near_dup_docs").cast("double") /
          col("n_docs").cast("double"), 4))
  }

  /** Decontamination surgery over the q54 split: benchmark (doc_id<20)
    * 5-grams excise their covering tokens from every corpus doc; the
    * cleaned text reassembles positionally and hashes. */
  private def qDecontamApply(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextDedup.decontamApply(docs.filter(col("doc_id") >= 20),
      docs.filter(col("doc_id") < 20), col("doc_id"), col("text"), 5)
  }

  /** One DoReMi exponentiated-gradient step: per-source excess loss
    * over the shared NLL artifact → reweighted training mixture. */
  private def qDoremi(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.doremiStep(t(s, dir, "documents"), col("doc_id"),
      col("source"), sharedUnigramNll(s, dir).select(col("doc_id"), col("nll")))

  /** Dictionary phrase tagging: controlled-vocabulary annotation with
    * hit counts and first positions, matched in-scan. */
  private def qPhraseTags(s: SparkSession, dir: String): DataFrame =
    TextStats.phraseTags(t(s, dir, "documents"), col("doc_id"), col("text"),
      Seq("hash join", "table scan", "window agg", "merge sort", "stream"))

  /** T5 span-corruption example construction: deterministic md5 span
    * starts (~5% of positions, 3-token windows, overlaps merged), one
    * sentinel per masked run, input/target hashed. */
  private def qSpanCorruption(s: SparkSession, dir: String): DataFrame =
    ops.Packing.spanCorruption(t(s, dir, "documents"), col("doc_id"),
      col("text"), 5, 3)

  /** Curriculum interleave (Bengio et al. 2009's easy-first ordering ×
    * source balance): within each source, docs rank easy-first by the
    * shared unigram-NLL score; the GLOBAL training position is the
    * CLOSED-FORM round-robin (rank−1)·|sources| + source_index — no
    * global sort, no single-partition window; the total order falls out
    * of per-source windows plus arithmetic over two broadcast scalars.
    * The order-construction step a data pipeline runs right before the
    * shard write (q123). */
  private def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val score = sharedUnigramNll(s, dir).select(col("doc_id"), col("nll"))
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("si", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("source")))
        .cast("long"))
    val nSrc = srcIdx.agg(count(lit(1)).as("n_src"))
    val ranked = docs.join(score, Seq("doc_id"))
      .withColumn("src_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("nll").asc, col("doc_id").asc)).cast("long"))
    ranked.join(broadcast(srcIdx), Seq("source")).crossJoin(broadcast(nSrc))
      .select(col("doc_id"), col("source"), col("src_rank"),
        ((col("src_rank") - 1L) * col("n_src") + (col("si") - 1L))
          .as("global_pos"))
  }

  /** SEMANTIC leakage-safe split: the q114 group-granular hash split
    * driven by embedding-cosine near-dup groups (q32's pairs) instead
    * of shingle LSH — paraphrase-level leakage that n-gram grouping
    * can't see never straddles train/eval. Per-vector assignment. */
  private def qSemanticSplit(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.leakageSafeSplit(t(s, dir, "embeddings"), "vec_id",
        Ann.cosineNearDupPairs(t(s, dir, "embeddings"), "label", 0.28),
        "id_a", "id_b", Seq(10 -> "val", 20 -> "test", 100 -> "train"))
      .select(col("vec_id"), col("group_id"), col("split"))

  /** Hard-negative mining: top-5 most-similar OTHER-label vectors per
    * anchor — the contrastive-training data-construction step. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.hardNegatives(emb, emb.filter(col("vec_id") < 5), 5)
  }

  /** Bloom-staged decontamination: the q54 split (bench = doc_id < 20)
    * checked through a broadcast 4096-bit mask first, exact-verified on
    * the survivors — with the realized false-positive accounting. */
  private def qBloomDecontam(s: SparkSession, dir: String): DataFrame = {
    val g = sharedShingles5(s, dir)
    TextDedup.bloomStagedContamination(
      g.filter(col("doc_id") >= 20), g.filter(col("doc_id") < 20))
  }

  /** nDCG@10 of the served residual IVF·PQ index vs the exact ranking,
    * per nprobe tier — the rank-weighted complement to q142's recall
    * curve, measured on the shared session artifacts. */
  private def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.ndcgEval(emb, emb.filter(col("vec_id") < 5),
      sharedIvfPqIndex(s, dir), Seq(1, 2, 4), 10,
      exact0 = Some(sharedExactTopK(s, dir).select(col("q_id"), col("n_id"))))
  }

  /** OPQ recall tier — the evidence for (or against) the cheap-OPQ
    * permutation at fixed m/kCodes: recall@10 of the served
    * [[sharedOpqIndex]] at the q142 nprobe tiers {1,2,4}, against the
    * same exact baseline, in the same output schema — so the opq rows
    * line up column-for-column with q142's raw/residual rows (the same
    * evidence discipline the residual claim got). Serving cost: one
    * search per tier over the materialized code table; training paid
    * once per session by the artifact. */
  private def qOpqRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (perm, idx) = sharedOpqIndex(s, dir)
    val exact = sharedExactTopK(s, dir).select(col("q_id"), col("n_id"))
    Seq(1, 2, 4).map { np =>
      val served = Ann.opqSearch(idx, perm, emb.filter(col("vec_id") < 5),
          np, 10)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      exact.join(served, Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
        .select(col("q_id"), lit("opq").as("variant"),
          lit(np).cast("long").as("nprobe"), col("n_overlap"),
          round(col("n_overlap").cast("double") / lit(10.0), 4)
            .as("recall"))
    }.reduce(_.unionByName(_))
  }

  /** OPQ vs residual RECONSTRUCTION error — q190's companion, scoring
    * the permutation on the objective PQ actually trains (squared
    * reconstruction error) next to q191's task-level recall: the q190
    * per-cell rollup computed for BOTH served indexes (residual and
    * opq), with a variant column. Reconstruction improves continuously
    * while recall flips discretely at the top-k boundary — so this is
    * the table that says whether the permutation tightened the code
    * budget even on a corpus where q191's recall is mixed. Both
    * indexes' code tables are session artifacts; cost = two code-table
    * joins + map-side-combined rollups. */
  private def qOpqQuantError(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val (perm, oidx) = sharedOpqIndex(s, dir)
    val pEmb = emb.select(col("vec_id"),
      Ann.permuteVec(perm, col("embedding").cast("array<double>"))
        .as("embedding"))
    Ann.pqQuantError(emb, sharedIvfPqIndex(s, dir))
      .select(lit("residual").as("variant"), col("cell"),
        col("n_vectors"), col("mean_err"), col("max_err"))
      .unionByName(Ann.pqQuantError(pEmb, oidx)
        .select(lit("opq").as("variant"), col("cell"),
          col("n_vectors"), col("mean_err"), col("max_err")))
  }

  /** Held-out NB eval — train on doc_id%3≠0, classify the held-out
    * third, confusion vs actual lang: the TRUE generalization measure
    * (q154 is the self-eval diagnostic), built from the
    * train-once/serve-many split ([[ops.Quality.nbTrain]]/
    * [[ops.Quality.nbClassify]]) that the streaming routing sink
    * serves online. */
  private def qNbHoldout(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    ops.Quality.nbArgmax(sharedNbHoldoutScores(s, dir)._2)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lab").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Session-scoped MATERIALIZED holdout NB artifact — the model
    * trained on the doc_id%3≠0 slice plus the dense holdout score
    * frame, shared by q156 (argmax confusion) and q169 (calibration):
    * the classifier trains ONCE per session, the holdout is scored
    * once, and every eval reads the |holdout|·|labels| score table
    * (the NLL/ANN-trio artifact doctrine). */
  private val sharedNbHoldoutScores =
    Artifacts.declare("nb_holdout_scores", "q156_nb_holdout") { (s, dir) =>
      val docs = t(s, dir, "documents")
      // both halves' term counts slice the session TF artifact — the
      // corpus is tokenized once per session, not once per model
      val tf = sharedTermFreqs(s, dir)
      val model = ops.Quality.nbTrain(docs.filter(col("doc_id") % 3 =!= 0),
        col("doc_id"), col("text"), col("lang"),
        docTf0 = Some(tf.filter(col("doc_id") % 3 =!= 0).join(
          docs.select(col("doc_id"), col("lang").as("lab")), "doc_id")))
      val sc = ops.Quality.nbScores(model,
          docs.filter(col("doc_id") % 3 === 0), col("doc_id"), col("text"),
          docTf0 = Some(tf.filter(col("doc_id") % 3 === 0)))
        .localCheckpoint(true)
      (model, sc)
    }

  /** Greedy MMR re-ranking proper over a 10-deep shortlist: 4 picks at
    * λ=0.7 — the iterative relevance/novelty trade-off q153's quota
    * approximates. */
  private def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // shortlist = the session exact-ranking artifact (same 10-deep
    // 4-dp-cosine table mmrRerank would build) — the greedy stages are
    // the query's own work
    Ann.mmrRerank(emb, emb.filter(col("vec_id") < 5), 10, 4, 0.7,
      short0 = Some(sharedExactTopK(s, dir)))
  }

  /** Cell-quota diversified top-k serving: exact cosine, at most 2
    * results per shared-coarse cell, global top-5 — one semantic
    * neighborhood can't monopolize a result page. */
  private def qDiverseTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.diverseTopK(emb, emb.filter(col("vec_id") < 5),
      sharedCoarse(s, dir), 5, 2)
  }

  // =====================================================================

  /** Per-source one-vs-rest ROC-AUC of the shared unigram-NLL score —
    * the standard validation of a perplexity gate (q137): does the
    * score actually SEPARATE each source from the rest, or would the
    * gate cut uniformly? AUC_src > 0.5 means the source's documents
    * score HIGHER NLL (more surprising) than the rest; one global
    * tie-aware ranking ([[ops.Quality.rankAuc]]) serves all sources,
    * and the cumulative pass runs over the 4-dp score grid, not the
    * corpus. Reads the shared materialized score table. */
  private def qScoreAuc(s: SparkSession, dir: String): DataFrame =
    ops.Quality.rankAuc(
      t(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(sharedUnigramNll(s, dir).select(col("doc_id"), col("nll")),
          "doc_id"),
      col("source"), col("nll"))
    .withColumnRenamed("grp", "source")

  /** Reliability diagram of the held-out NB classifier (q156's split):
    * softmax posteriors over the SAME dense score frame the argmax
    * reads ([[ops.Quality.nbPosteriors]] ∘ [[ops.Quality.nbScores]]),
    * confidence = posterior of the PREDICTED label (the q156 argmax —
    * one prediction definition), bucketed into 10 equal-width bins
    * with per-bin count / mean confidence / accuracy / |gap|. The
    * overconfidence audit every router needs before its threshold
    * means anything; ECE is the n-weighted gap sum over these rows. */
  /** Holdout confidence frame (doc_id, pred_lab, conf, lang) — the
    * q169/q214 shared input: argmax label + its softmax posterior over
    * the session's dense NB score artifact. */
  private def nbConfidence(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val test = docs.filter(col("doc_id") % 3 === 0)
    // the shared holdout artifact: model + dense score frame computed
    // once per session; argmax and softmax read the same frame
    val (model, sc) = sharedNbHoldoutScores(s, dir)
    val pred = ops.Quality.nbArgmax(sc)
    val post = ops.Quality.nbPosteriors(model, test, col("doc_id"),
      col("text"), scores0 = Some(sc))
    pred.join(post,
        pred("doc_id") === post("doc_id") && pred("pred_lab") === post("clab"))
      .select(pred("doc_id"), col("pred_lab"), col("prob").as("conf"))
      .join(test.select(col("doc_id"), col("lang")), "doc_id")
  }

  private def qNbCalibration(s: SparkSession, dir: String): DataFrame =
    ops.Quality.calibrationReport(nbConfidence(s, dir), col("conf"),
      col("pred_lab") === col("lang"), 10)

  /** Fill-in-the-middle example construction over the corpus (PSM/SPM
    * 50/50) — one exchange-free projection; the infilling counterpart
    * of q162's span corruption. */
  private def qFimSplit(s: SparkSession, dir: String): DataFrame =
    ops.Packing.fimSplit(t(s, dir, "documents"), col("doc_id"), col("text"))

  /** Bradley–Terry source strengths from head-to-head quality duels:
    * consecutive doc pairs (doc_id, doc_id+1) from different sources
    * duel on the shared unigram NLL (lower NLL = more fluent wins;
    * ties go to the lower doc_id), aggregated ONCE to the source-pair
    * win matrix, then 3 MM iterations ([[ops.Pref.bradleyTerry]]) —
    * the preference-aggregation shape of arena-style data curation. */
  /** The q171/q188 duel table: consecutive doc pairs from different
    * sources duel on the shared NLL (lower wins, lower-id ties). */
  private def btDuels(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(sharedUnigramNll(s, dir).select(col("doc_id"), col("nll")),
        "doc_id")
    val a = d.select(col("doc_id"), col("source").as("src_a"),
      col("nll").as("nll_a"))
    val b = d.select((col("doc_id") - 1L).as("doc_id"),
      col("source").as("src_b"), col("nll").as("nll_b"))
    a.join(b, "doc_id")
      .filter(col("src_a") =!= col("src_b"))
      .select(
        when(col("nll_a") <= col("nll_b"), col("src_a"))
          .otherwise(col("src_b")).as("win"),
        when(col("nll_a") <= col("nll_b"), col("src_b"))
          .otherwise(col("src_a")).as("lose"))
  }

  /** Length-bias audit of the q171 duels: Mantel–Haenszel pooled odds
    * of "the LONGER doc wins" across source-pair strata — the
    * verbosity-bias check modern pairwise evals require (Zheng et al.
    * 2023 §3.2's verbosity bias; Dubois et al. 2024's
    * length-controlled win rates): does length predict duel wins
    * BEYOND source identity? Pure composition of the certified duel
    * table and [[ops.Analytics.mantelHaenszel]]; equal-length duels
    * carry a NULL arm and drop (MH's stated NULL contract). */
  private def qDuelLengthBias(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(TextStats.tokens(col("text"))).cast("long").as("len"))
      .join(sharedUnigramNll(s, dir).select(col("doc_id"), col("nll")),
        "doc_id")
    val a = d.select(col("doc_id"), col("source").as("src_a"),
      col("nll").as("nll_a"), col("len").as("len_a"))
    val b = d.select((col("doc_id") - 1L).as("doc_id"),
      col("source").as("src_b"), col("nll").as("nll_b"),
      col("len").as("len_b"))
    val duels = a.join(b, "doc_id")
      .filter(col("src_a") =!= col("src_b"))
      .select(
        when(col("len_a") > col("len_b"), true)
          .when(col("len_a") < col("len_b"), false).as("longer_a"),
        (col("nll_a") <= col("nll_b")).as("win_a"),
        concat(least(col("src_a"), col("src_b")), lit("|"),
          greatest(col("src_a"), col("src_b"))).as("pair"))
    ops.Analytics.mantelHaenszel(duels, col("longer_a"), col("win_a"),
      col("pair"))
  }

  private def qBradleyTerry(s: SparkSession, dir: String): DataFrame =
    ops.Pref.bradleyTerry(btDuels(s, dir), col("win"), col("lose"))
      .withColumnRenamed("item", "source")

  /** BT fit calibration: per source pair, the model's predicted win
    * rate vs the observed one — q171's goodness-of-fit. The duel table
    * feeds every MM round and the calibration, and the strength vector
    * both sides of the pair join, so each is materialized once. */
  private def qBtCalibration(s: SparkSession, dir: String): DataFrame = {
    val duels = btDuels(s, dir).localCheckpoint(true)
    val strengths = ops.Pref.bradleyTerry(duels, col("win"), col("lose"))
      .select(col("item"), col("strength")).localCheckpoint(true)
    ops.Pref.btCalibration(duels, col("win"), col("lose"), strengths)
  }

  /** Label propagation over the LSH-bucketed kNN graph: seeds = the
    * known labels of every 5th vector, 2 diffusion rounds of majority
    * vote ([[ops.Graph.labelProp]]), scored against the withheld true
    * labels — semi-supervised label stretching for corpus annotation.
    * The edge graph buckets by LSH signature (NOT by the label being
    * propagated — q129's label-bucketed graph would be circular
    * here). */
  private def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val edges = Ann.knnGraph(
      emb.withColumn("bucket", Ann.lshSignature(col("embedding"), 4, 64)),
      "bucket", 3).select(col("src"), col("dst"))
    val seeds = emb.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("label"))
    ops.Graph.labelProp(edges, "src", "dst", seeds, "vec_id", "label", 2)
      .join(emb.select(col("vec_id").as("id"),
        col("label").as("true_label")), "id")
      .select(col("id").as("vec_id"), col("label").as("pred_label"),
        col("round"), (col("label") === col("true_label")).as("correct"))
  }

  /** Robust per-source outlier gate on the shared NLL score: modified
    * z-score (median/MAD) accounting — the q78 winsorize family's
    * resistant sibling; reads the materialized score artifact. */
  private def qMadOutliers(s: SparkSession, dir: String): DataFrame =
    ops.Quality.madOutlierReport(
      t(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(sharedUnigramNll(s, dir).select(col("doc_id"), col("nll")),
          "doc_id"),
      col("source"), col("nll"))
    .withColumnRenamed("grp", "source")

  /** Cohen's kappa of the held-out NB router — chance-corrected
    * agreement over the q156 confusion (the shared holdout artifact):
    * the honest single-number summary an imbalanced-language corpus
    * needs next to raw accuracy. */
  private def qKappa(s: SparkSession, dir: String): DataFrame = {
    // the |labels|²-row confusion table is materialized: the kappa
    // algebra reads it three times (totals + both margins) and must
    // not re-run the argmax + lang join per consumer
    val conf = ops.Quality.nbArgmax(sharedNbHoldoutScores(s, dir)._2)
      .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id")
      .groupBy(col("lang"), col("pred_lab")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    ops.Quality.cohenKappa(conf, col("lang"), col("pred_lab"), col("n"))
  }

  /** PSI drift of the per-source NLL distribution between the even and
    * odd corpus halves — the numeric-score drift monitor (q83 is the
    * categorical mix monitor); reads the shared score artifact. */
  private def qPsiDrift(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(sharedUnigramNll(s, dir).select(col("doc_id"), col("nll")),
        "doc_id")
    ops.Analytics.psiDrift(d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1), col("source"), col("nll"))
      .withColumnRenamed("grp", "source")
  }

  /** Canonical-key exact dedup over the corpus + injected case/punct
    * variants (every 11th doc gains a " !!"-suffixed twin, the q141
    * corruption-injection pattern): groups invisible to raw-hash dedup
    * (n_raw_variants > 1) are exactly what normalization buys. */
  private def qCanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" !!")).as("text"))
    ops.TextDedup.canonicalDupGroups(base.unionByName(variants),
      col("doc_id"), col("text"))
  }

  /** ROUGE-1 P/R/F1 of each doc against its successor (the consecutive
    * pairing q171 duels on) — the reference-overlap scorer, exercised
    * corpus-wide. */
  private def qRouge1(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    ops.TextDedup.rouge1Prf(d, col("doc_id"), col("text"),
      d, col("doc_id") - 1L, col("text"))
  }

  /** BLEU-2 of each doc against its successor (the q177 ROUGE pairing
    * — recall side there, clipped precision + brevity penalty here):
    * the generated-vs-reference scorer of distillation filtering,
    * exercised corpus-wide ([[ops.TextDedup.bleu2Pairs]]). */
  private def qBleu2(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    ops.TextDedup.bleu2Pairs(
      d, col("doc_id") - 1L, col("text"),
      d, col("doc_id"), col("text"))
  }

  /** chrF over the same consecutive-doc pairing as q195/q177 — the
    * character-level, tokenizer-free third member of the generated-text
    * scorer family ([[ops.TextDedup.chrfPairs]]). */
  private def qChrf(s: SparkSession, dir: String): DataFrame =
    ops.TextDedup.chrfSelfPairs(t(s, dir, "documents"), col("doc_id"),
      col("text"))

  /** Distinct-n diversity per source (corpus-level distinct-1/2/3
    * ratios — the mode-collapse / template-heaviness monitor next to
    * q136's sequence novelty and q58's within-doc repetition). */
  private def qDistinctNgrams(s: SparkSession, dir: String): DataFrame =
    TextStats.distinctNgrams(t(s, dir, "documents"), col("source"),
      col("text")).withColumnRenamed("grp", "source")

  /** Token-blocklist gate per source: exact word-boundary membership
    * (common "slow", rare "dup", absent "junk"), integer-only flag
    * decision, per-source rate + hits-per-kilotoken. */
  private def qBlocklistGate(s: SparkSession, dir: String): DataFrame =
    TextStats.blocklistGate(t(s, dir, "documents"), col("text"),
      col("source"), Seq("slow", "dup", "junk"))

  /** Logistic-regression DISTILLATION of the Gopher gate (q127):
    * hashed bag-of-words features, two deterministic snapped gradient
    * steps — the cheap-classifier-from-expensive-gate move production
    * pipelines run ([[ops.Quality.logregDistill]]). */
  private def qLogregDistill(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val labels = TextStats.gopherRules(docs, col("doc_id"), col("text"))
      .select(col("doc_id"),
        when(col("keep"), 1.0).otherwise(0.0).as("y"))
    ops.Quality.logregDistill(docs, col("doc_id"), col("text"), labels)
  }

  /** Top-PC projection by power iteration (never materializing the
    * Gram matrix — G·v computed as Σ x·(x·v), O(d) per row): the
    * data-driven dimensionality reduction next to q167's random JL
    * projection ([[ops.LinAlg.pcaPowerProject]]). */
  private def qPcaPower(s: SparkSession, dir: String): DataFrame =
    ops.LinAlg.pcaPowerProject(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"))

  /** KMV distinct sketch of active user-days per event type + the
    * `__union` row — the theta-sketch set-operation story next to
    * q31/q68's HLL ([[ops.Sketch.kmvDistinct]]). */
  private def qKmvSketch(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.kmvDistinct(t(s, dir, "events"), col("event_type"),
      concat(col("user_id").cast("string"), lit("|"),
        date_format(col("ts"), "yyyy-MM-dd")))

  /** Unbiased pass@k per problem (Chen et al. 2021 eq. 1) — the
    * best-of-n eval of generated candidates: problems = 8-doc groups,
    * a candidate "passes" when it clears the Gopher gate
    * ([[ops.Quality.passAtK]]). */
  private def qPassAtK(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = TextStats.gopherRules(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("keep"))
    ops.Quality.passAtK(keep, expr("doc_id div 8"), col("keep"))
  }

  /** Wilson 95% interval on the per-source Gopher pass rate — the
    * small-sample-honest error bar a curation dashboard puts on a
    * gate's rate ([[ops.Quality.rateWilson]]). */
  private def qWilsonCi(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val flagged = docs.select(col("doc_id"), col("source"))
      .join(TextStats.gopherRules(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("keep")), "doc_id")
    ops.Quality.rateWilson(flagged, col("source"), col("keep"))
      .withColumnRenamed("grp", "source")
  }

  /** Chao1 bigram-vocabulary richness per source — "how much
    * vocabulary has this source NOT yet shown us": the corpus-growth
    * coverage estimate ([[TextStats.chao1Richness]]). */
  private def qChao1(s: SparkSession, dir: String): DataFrame =
    TextStats.chao1Richness(t(s, dir, "documents"), col("source"),
      col("text")).withColumnRenamed("grp", "source")

  /** Deleted-interpolation λ learned by held-out EM — what the corpus
    * says q113's hard-coded Jelinek–Mercer λ should be
    * ([[TextStats.jmLambdaEm]]). */
  private def qJmLambda(s: SparkSession, dir: String): DataFrame =
    TextStats.jmLambdaEm(t(s, dir, "documents"), col("doc_id"),
      col("text"), docTf0 = Some(sharedTermFreqs(s, dir)),
      docBig0 = Some(sharedDocBigrams(s, dir)))

  /** Sample-ratio mismatch guardrail per event type — the check that
    * must pass before q110's z-test means anything
    * ([[ops.Analytics.srmCheck]]); arms via the q42 md5 convention. */
  private def qSrmCheck(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.srmCheck(t(s, dir, "events"), col("event_type"),
      col("user_id"),
      pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50)
      .withColumnRenamed("grp", "event_type")

  /** Heaps'-law vocabulary-growth curve + fit — the tokenizer-sizing
    * diagnostic next to q119's Zipf fit ([[TextStats.heapsLawFit]];
    * reads the shared TF artifact, so the corpus is not rescanned). */
  private def qHeapsFit(s: SparkSession, dir: String): DataFrame =
    TextStats.heapsLawFit(t(s, dir, "documents"), col("doc_id"),
      col("text"), docTf0 = Some(sharedTermFreqs(s, dir)))

  /** Fleiss' kappa across three admission gates treated as raters
    * (gopher keep, length band, English lang) — the statistical
    * summary of q186's gate-overlap audit ([[ops.Quality.fleissKappa]]). */
  private def qFleissKappa(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = TextStats.gopherRules(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("keep"))
    val items = docs.join(keep, "doc_id")
      .select(col("keep").as("r1"),
        col("n_chars").between(100L, 600L).as("r2"),
        (col("lang") === "en").as("r3"))
    ops.Quality.fleissKappa(items,
      Seq(col("r1"), col("r2"), col("r3")))
  }

  /** Per-event-type A/B experiment sizing at 2-point absolute MDE —
    * the pre-test guardrail pairing q208's SRM check
    * ([[ops.Analytics.abSampleSize]]); conversion = value > 50 per
    * exposure, units = events. */
  private def qAbSizing(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.abSampleSize(t(s, dir, "events"), col("event_type"),
      col("event_id"), col("value") > 50.0)
      .withColumnRenamed("grp", "event_type")

  /** BH-FDR-corrected per-source gopher-rate z-tests — the
    * multiple-comparisons layer over the q175-style slice monitors
    * ([[ops.Analytics.bhFdr]], [[ops.Analytics.normalPValue2]]):
    * which sources' keep rates differ from the corpus at 10% FDR. */
  private def qBhFdr(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = TextStats.gopherRules(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("keep"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val per = docs.select(col("doc_id"), col("source")).join(keep, "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("n", sum(col("n_docs")).over(all))
      .withColumn("kall", sum(col("n_keep")).over(all))
    val pg = col("kall").cast("double") / col("n").cast("double")
    val ps = col("n_keep").cast("double") / col("n_docs").cast("double")
    val se = sqrt(pg * (lit(1.0) - pg) *
      (lit(1.0) / col("n_docs").cast("double") +
        lit(1.0) / col("n").cast("double")))
    val z = (ps - pg) / se
    // p snaps to the 1e9 grid BEFORE the BH comparisons — the rank
    // thresholds compare identical doubles in any engine
    val pv = floor(ops.Analytics.normalPValue2(z) * lit(1e9) + lit(0.5))
      .cast("double") / lit(1e9)
    // test table consumed twice (BH pass + stat join-back)
    val tests = per.select(col("source"), col("n_docs"), col("n_keep"),
      round(z, 4).as("z"), when(se > 0.0, pv).as("p"))
      .localCheckpoint(true)
    val bh = ops.Analytics.bhFdr(tests, col("source"), col("p"), 0.1)
      .withColumnRenamed("grp", "source")
    tests.select(col("source"), col("n_docs"), col("n_keep"), col("z"))
      .join(broadcast(bh), "source")
      .select(col("source"), col("n_docs"), col("n_keep"), col("z"),
        round(col("p"), 6).as("p_value"), col("rnk").cast("long").as("rnk"),
        col("reject"))
  }

  /** Corpus concentration datasheet over source token share — Gini /
    * HHI / entropy / top-share in one row
    * ([[ops.Analytics.concentrationReport]]). */
  private def qConcentration(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.concentrationReport(t(s, dir, "documents"),
      col("source"), size(TextStats.tokens(col("text"))).cast("long"))

  /** Murphy decomposition of the NB router's Brier score on the shared
    * holdout confidence frame — reliability / resolution / uncertainty
    * next to q169's ECE ([[ops.Quality.brierDecomposition]]). */
  private def qBrier(s: SparkSession, dir: String): DataFrame =
    ops.Quality.brierDecomposition(nbConfidence(s, dir), col("conf"),
      col("pred_lab") === col("lang"), 10)

  /** CUSUM drift alarms over the daily event-rate series per type —
    * the slow-creep sequential monitor next to the q83/q175
    * snapshot-pair drift tests ([[ops.Analytics.cusumDrift]]). */
  private def qCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    ops.Analytics.cusumDrift(daily, col("event_type"), col("day"),
      col("n"))
      .withColumnRenamed("grp", "event_type")
      .withColumnRenamed("step", "day")
      .withColumnRenamed("x", "n_events")
  }

  /** Ordered view → click → purchase conversion funnel per user over
    * the events stream — strictly-after stage semantics, one
    * timestamp of state per (user, stage)
    * ([[ops.Analytics.funnel]]). */
  private def qEventFunnel(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.funnel(t(s, dir, "events"), col("user_id"), col("ts"),
      col("event_type"), Seq("view", "click", "purchase"))

  /** Mann–Whitney U per event type between the q208 hash arms — the
    * nonparametric "did the value distribution shift" sibling of the
    * parametric z-test ([[ops.Analytics.mannWhitneyU]]); exact
    * tie-averaged doubled ranks via the bounded-distinct value grid. */
  private def qMannWhitney(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.mannWhitneyU(t(s, dir, "events"), col("event_type"),
      pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50, col("value"))
      .withColumnRenamed("grp", "event_type")

  /** EWMA control chart over the daily event-rate series per type —
    * the small-persistent-shift monitor between q215's CUSUM
    * accumulator and a raw per-day z-test
    * ([[ops.Analytics.ewmaDrift]]). */
  private def qEwma(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    ops.Analytics.ewmaDrift(daily, col("event_type"), col("day"),
      col("n"))
      .withColumnRenamed("grp", "event_type")
      .withColumnRenamed("step", "day")
      .withColumnRenamed("x", "n_events")
  }

  /** Chi-squared homogeneity test of each source's language mix
    * between the even/odd corpus halves (the q83 snapshot convention)
    * — χ², Cramér's V effect size, Wilson–Hilferty p
    * ([[ops.Analytics.chi2Drift]]). */
  private def qChi2Drift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    ops.Analytics.chi2Drift(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), col("source"), col("lang"))
      .withColumnRenamed("grp", "source")
  }

  /** Jensen–Shannon divergence of the language composition between the
    * even/odd corpus halves — q83's KL made symmetric and bounded
    * ([[ops.Analytics.jsDivergence]]). */
  private def qJsd(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    ops.Analytics.jsDivergence(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0), col("lang"))
      .withColumnRenamed("stratum", "lang")
  }

  /** Spearman rank correlation of event value against event time per
    * type — the outlier-proof "is this metric monotonically trending"
    * monitor ([[ops.Analytics.spearmanCorr]]); exact doubled-rank
    * integer moments. */
  private def qSpearman(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.spearmanCorr(t(s, dir, "events"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")), col("value"))
      .withColumnRenamed("grp", "event_type")

  /** Wald SPRT per event type over the daily success series
    * (success = value above the corpus-median-scale 35.0 cut): the
    * early-stopping sequential test next to q211's fixed-horizon
    * sizing ([[ops.Analytics.sprtAb]]). */
  private def qSprt(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.sprtAb(
      t(s, dir, "events").withColumn("day", col("ts").cast("date")),
      col("event_type"), col("day"), col("value") > 35.0)
      .withColumnRenamed("grp", "event_type")
      .withColumnRenamed("step", "day")

  /** 5-fold cross-validated NB accuracy — the variance answer q156's
    * single holdout can't give; all five models train in ONE plan over
    * the session TF artifact ([[ops.Quality.kfoldNbEval]]). */
  private def qKfoldNb(s: SparkSession, dir: String): DataFrame =
    // serves the session k-fold score artifact (q292/q330's): the
    // held-out fold = f slice IS this query's score table
    ops.Quality.kfoldNbEval(t(s, dir, "documents"), col("doc_id"),
      col("text"), col("lang"), k = 5,
      scores0 = Some(sharedKfoldScores(s, dir)))

  /** Dirichlet-prior query-likelihood top-20 (Zhai & Lafferty) for a
    * fixed 3-term query over the session TF artifact — the LM-retrieval
    * scorer beside BM25/TF-IDF, serving the smoothing family q207
    * tunes ([[graft.expr.TextStats.dirichletQl]]). */
  private def qDirichletQl(s: SparkSession, dir: String): DataFrame =
    graft.expr.TextStats.dirichletQl(t(s, dir, "documents"),
      col("doc_id"), col("text"), Seq("join", "filter", "scan"),
      mu = 2000.0, topK = 20, tf0 = Some(sharedTermFreqs(s, dir)))

  /** Poisson-bootstrap 95% CI for the mean event value per type
    * (Chamandy et al.) — all 100 replicates in ONE map-side-combined
    * pass via per-row md5-derived Poisson(1) weights
    * ([[ops.Analytics.bootstrapCiMean]]). */
  private def qBootstrapCi(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.bootstrapCiMean(t(s, dir, "events"), col("event_type"),
      col("event_id"), col("value"))
      .withColumnRenamed("grp", "event_type")

  /** RM1 pseudo-relevance-feedback expansion terms over q224's
    * Dirichlet-QL top-10 (Lavrenko & Croft) — the query-expansion
    * second pass of an LM retrieval stack, on the session TF artifact
    * ([[graft.expr.TextStats.rmExpansion]]). */
  private def qRmExpansion(s: SparkSession, dir: String): DataFrame =
    graft.expr.TextStats.rmExpansion(t(s, dir, "documents"),
      col("doc_id"), col("text"), Seq("join", "filter", "scan"),
      mu = 2000.0, fbDocs = 10, fbTerms = 15,
      tf0 = Some(sharedTermFreqs(s, dir)))

  /** Binary (sign) quantization Hamming top-10 recall vs the shared
    * exact cosine ranking — the 1-bit bottom rung of the quantization
    * ladder (flat → SQ8 → PQ → binary; XOR+popcount distance), the
    * coarse pre-filter tier in front of a re-ranker
    * ([[ops.Ann.binaryHammingEval]]). */
  private def qBinaryHamming(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.binaryHammingEval(emb, emb.filter(col("vec_id") < 5), 10,
      exact0 = Some(sharedExactTopK(s, dir)
        .select(col("q_id"), col("n_id"))))
  }

  /** Krippendorff's alpha over the q210 gate panel WITH abstention:
    * the lang gate returns no verdict on short docs (n_chars < 200) —
    * the missing-data agreement statistic Fleiss structurally can't
    * compute ([[ops.Quality.krippendorffAlpha]]). */
  private def qKrippendorff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = TextStats.gopherRules(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("keep"))
    val items = docs.join(keep, "doc_id")
      .select(col("keep").as("r1"),
        col("n_chars").between(100L, 600L).as("r2"),
        when(col("n_chars") >= 200L, col("lang") === "en").as("r3"))
    ops.Quality.krippendorffAlpha(items,
      Seq(col("r1"), col("r2"), col("r3")))
  }

  /** Shuffle-skew advisor on the events user key — which users would
    * hot-spot a user-keyed join and the salt factor that levels them
    * ([[ops.Analytics.skewAdvisor]]); the 100 TB ops question asked as
    * a query. */
  private def qSkewAdvisor(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.skewAdvisor(t(s, dir, "events"), col("event_type"),
      targetRowsPerTask = 500L, topK = 20)
      .withColumnRenamed("key", "event_type")

  /** k-anonymity audit of the documents table under the
    * (lang, source, n_chars-century) quasi-identifier — the
    * re-identification gate before a dataset release
    * ([[ops.Quality.kAnonymity]]). */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    ops.Quality.kAnonymity(t(s, dir, "documents"),
      Seq("lang" -> col("lang"), "source" -> col("source"),
        "chars_bin" -> (col("n_chars") / lit(100L)).cast("long")),
      k = 5L)

  /** Greedy k-center coreset (k = 5) over the embeddings — the
    * diverse-subset selector next to q130's stratified and q121's
    * budget samplers: farthest-point coverage of the embedding space
    * ([[ops.Ann.kCenterCoreset]]); the dist column is the k-center
    * objective trajectory. */
  private def qKCenter(s: SparkSession, dir: String): DataFrame =
    Ann.kCenterCoreset(t(s, dir, "embeddings"), k = 5)

  /** Exact phrase search ("table hash") over the positional index —
    * the adjacency query the bag-of-words retrieval stack can't
    * express ([[graft.expr.TextStats.phraseSearch]]). */
  private def qPhraseSearch(s: SparkSession, dir: String): DataFrame =
    TextStats.phraseSearch(t(s, dir, "documents"), col("doc_id"),
      col("text"), Seq("table", "hash"))

  /** ε = 1 differentially-private release of the (event_type, day)
    * histogram — deterministic-replayable Laplace mechanism, the
    * noise-based release gate next to q234's suppression-based one
    * ([[ops.Quality.dpNoisyCounts]]). */
  private def qDpCounts(s: SparkSession, dir: String): DataFrame =
    ops.Quality.dpNoisyCounts(
      t(s, dir, "events").withColumn("day", col("ts").cast("date")),
      Seq("event_type" -> col("event_type"), "day" -> col("day")),
      epsilon = 1.0, seed = "graft-r8")

  /** Skip-gram (center, context) co-occurrence counts within a ±2
    * window — the word2vec/GloVe data-prep aggregation; `window` hash
    * joins over the positional table, never a range join
    * ([[graft.expr.TextStats.skipgramCounts]]). */
  private def qSkipgram(s: SparkSession, dir: String): DataFrame =
    TextStats.skipgramCounts(t(s, dir, "documents"), col("doc_id"),
      col("text"), window = 2, minCount = 10L)

  /** Dunning log-likelihood collocations — the evidence-mass test that
    * fixes q91 PMI's rare-pair explosion; margins off the shared
    * bigram artifact ([[graft.expr.TextStats.dunningCollocations]]). */
  private def qDunning(s: SparkSession, dir: String): DataFrame =
    TextStats.dunningCollocations(t(s, dir, "documents"), col("doc_id"),
      col("text"), minCount = 5L, topK = 20,
      big0 = Some(sharedBigramCounts(s, dir)))

  /** Time-to-convert percentiles along the q216 funnel — exact p50/p90
    * dwell from first view to each later stage, on integer micros
    * through the bounded-distinct quantile discipline
    * ([[ops.Analytics.funnelTimes]]). */
  private def qFunnelTimes(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.funnelTimes(t(s, dir, "events"), col("user_id"),
      unix_micros(col("ts").cast("timestamp")), col("event_type"),
      Seq("view", "click", "purchase"))

  /** The q216 funnel split by the q208 md5 hash arm — the A/B funnel
    * readout: does arm B convert differently at any stage
    * ([[ops.Analytics.funnelBySegment]]); one segment-agnostic arrival
    * chain, unit-keyed segment joins. */
  private def qFunnelSegment(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.funnelBySegment(t(s, dir, "events"), col("user_id"),
      col("ts"), col("event_type"), Seq("view", "click", "purchase"),
      when(pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50, lit("a")).otherwise("b"))

  /** Effective sample size of the q122 DSIR reweighting per source —
    * "did importance weighting quietly shrink this source to a handful
    * of docs" ([[ops.Sampling.essReport]]); max-shifted exponentiation,
    * snapped moments. */
  private def qEssReport(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    ops.Sampling.essReport(
      ops.Sampling.dsirWeights(docs, col("doc_id"), col("text"),
        col("lang") === "en")
        .join(docs.select(col("doc_id"), col("source")), "doc_id"),
      col("source"), col("dsir_w"))
      .withColumnRenamed("grp", "source")
  }

  /** Per-decile quantile-shift profile of event value between the
    * q208 hash arms per type — WHERE in the distribution any shift
    * lives, the magnitude readout next to q180's KS max-distance
    * ([[ops.Analytics.quantileShift]]). */
  /** CUPED variance-reduced A/B readout over the q208 hash arms
    * ([[ops.Analytics.cupedAdjust]]): units = users, experiment metric
    * y = the user's value total in the SECOND half of the window,
    * covariate x = the same total in the FIRST half (the canonical
    * pre-period covariate). Both per-user totals are 1e9-snapped
    * (order-free), the moment pass is one aggregation. */
  private def qCuped(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val units = ev.groupBy(col("user_id")).agg(
      (graft.expr.Snap.snappedSum(
        when(col("ts") < cut, col("value")).otherwise(lit(0.0)), 1e9))
        .as("x"),
      (graft.expr.Snap.snappedSum(
        when(col("ts") >= cut, col("value")).otherwise(lit(0.0)), 1e9))
        .as("y"))
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.cupedAdjust(units, isA, col("x"), col("y"))
  }

  /** Delete-one-source jackknife CI for revenue-per-event — the error
    * bar a ratio metric actually needs when numerator and denominator
    * are correlated within groups ([[ops.Analytics.jackknifeRatio]]);
    * groups = event types. */
  private def qJackknife(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.jackknifeRatio(t(s, dir, "events"), col("event_type"),
      col("value"), lit(1.0))

  /** Benjamini–Yekutieli-corrected per-source gopher-rate z-tests —
    * q212's BH pass under ARBITRARY dependence (the per-source tests
    * share the pooled rate, so the PRDS assumption behind plain BH is
    * not a given; BY's harmonic-number penalty is the assumption-free
    * fallback). Same test table, same output shape. */
  private def qByFdr(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = TextStats.gopherRules(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("keep"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val per = docs.select(col("doc_id"), col("source")).join(keep, "doc_id")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("n", sum(col("n_docs")).over(all))
      .withColumn("kall", sum(col("n_keep")).over(all))
    val pg = col("kall").cast("double") / col("n").cast("double")
    val ps = col("n_keep").cast("double") / col("n_docs").cast("double")
    val se = sqrt(pg * (lit(1.0) - pg) *
      (lit(1.0) / col("n_docs").cast("double") +
        lit(1.0) / col("n").cast("double")))
    val z = (ps - pg) / se
    val pv = floor(ops.Analytics.normalPValue2(z) * lit(1e9) + lit(0.5))
      .cast("double") / lit(1e9)
    // single consumer (the BY pass) — no checkpoint needed, unlike q212
    val tests = per.select(col("source"), col("n_docs"),
      when(se > 0.0, pv).as("p"))
    ops.Analytics.bhFdr(tests, col("source"), col("p"), 0.1,
        yekutieli = true)
      .select(col("grp").as("source"), round(col("p"), 6).as("p_value"),
        col("rnk").cast("long").as("rnk"), col("reject"))
  }

  /** Delta-method z-test for revenue-per-event between the q208 hash
    * arms ([[ops.Analytics.deltaMethodRatio]]) — the closed-form
    * companion to q249's jackknife, and the test q110's per-row z gets
    * wrong here: randomization is per USER, analysis per EVENT, so the
    * metric is a ratio of per-user means with correlated numerator and
    * denominator. Units = users, y = the user's snapped value total,
    * x = the user's event count. */
  private def qDeltaMethod(s: SparkSession, dir: String): DataFrame = {
    val units = t(s, dir, "events").groupBy(col("user_id")).agg(
      graft.expr.Snap.snappedSum(col("value"), 1e9).as("y"),
      count(lit(1)).as("x"))
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.deltaMethodRatio(units, isA, col("y"), col("x"))
  }

  /** Theta-sketch audience overlap between view-users and
    * purchase-users ([[ops.Sketch.kmvIntersect]]) — the set-operation
    * payoff of the KMV family next to q203's union mergeability:
    * estimated intersection / Jaccard from one bounded sketch, with
    * the exact counts as the synthetic-scale audit columns. */
  private def qKmvIntersect(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    ops.Sketch.kmvIntersect(
      ev.filter(col("event_type") === "view"), col("user_id"),
      ev.filter(col("event_type") === "purchase"), col("user_id"), 64)
  }

  /** 2-core of the LSH candidate graph, fixed 4 synchronous peel
    * rounds ([[ops.Graph.kCore]]) — the dedup-cluster DENSITY audit
    * next to q63's connected components: a CC merges a chain of
    * borderline pairs into one group; the 2-core keeps only docs with
    * ≥ 2 surviving near-dup neighbors — the clique-ish clusters that
    * are real duplicate families rather than transitive accidents. */
  private def qKCore(s: SparkSession, dir: String): DataFrame =
    ops.Graph.kCore(sharedLshCandidates(s, dir), "doc_a", "doc_b", 2, 4)

  /** Per-user right-censored view→purchase durations in DAYS — the
    * shared unit table of the survival pair (q254/q255): t0 = first
    * view, event = first strictly-later purchase, censoring time =
    * the user's last activity. Integer epoch-micros DIV keeps the
    * day quantization exact in any engine. */
  private def survivalUnits(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(v, "user_id").filter(col("ts") > col("t0"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("tp"))
    val last = ev.groupBy(col("user_id")).agg(max(col("ts")).as("tl"))
    v.join(p, Seq("user_id"), "left").join(last, "user_id")
      .select(col("user_id"),
        expr("(unix_micros(CAST(coalesce(tp, tl) AS TIMESTAMP)) - " +
          "unix_micros(CAST(t0 AS TIMESTAMP))) DIV 86400000000")
          .as("dur_days"),
        col("tp").isNotNull.as("converted"))
  }

  /** Kaplan–Meier view→purchase survival curve with right censoring
    * ([[ops.Survival.kaplanMeier]]) — the time-to-event layer q240's
    * converter-only percentiles cannot see: a censored user counts as
    * at-risk until last seen instead of silently vanishing. */
  private def qKaplanMeier(s: SparkSession, dir: String): DataFrame =
    ops.Survival.kaplanMeier(survivalUnits(s, dir), col("dur_days"),
      col("converted"))

  /** Kaplan–Meier curve with Greenwood 95% confidence bands over the
    * same censored durations ([[ops.Survival.kaplanMeierGreenwood]]) —
    * q254's curve made decision-grade: the pointwise se and clamped
    * linear CI that say whether a day-30 survival gap is signal. */
  private def qKmGreenwood(s: SparkSession, dir: String): DataFrame =
    ops.Survival.kaplanMeierGreenwood(survivalUnits(s, dir),
      col("dur_days"), col("converted"))

  /** Log-rank test between the q208 hash arms over the same censored
    * durations ([[ops.Survival.logRank]]) — "do the arms share one
    * hazard trajectory", the survival-side A/B verdict a level-shift
    * test (q251) misses when the effect is a DELAY. */
  private def qLogRank(s: SparkSession, dir: String): DataFrame = {
    val u = survivalUnits(s, dir)
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Survival.logRank(u, col("dur_days"), col("converted"), isA)
  }

  /** Two-step Newton Cox hazard-ratio fit between the q208 hash arms
    * over the censored view→purchase durations
    * ([[ops.Survival.coxHazard]]) — q255 answers "different hazards?",
    * this answers "by HOW MUCH" (e^β with a Wald interval); step 1
    * from zero is exactly the log-rank score, so the pair share
    * scaffolding by mathematics. */
  private def qCoxHazard(s: SparkSession, dir: String): DataFrame = {
    val u = survivalUnits(s, dir)
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Survival.coxHazard(u, col("dur_days"), col("converted"), isA)
  }

  /** Post-stratified A/B readout over the q208 hash arms
    * ([[ops.Analytics.postStratify]]) — q248 CUPED's categorical
    * sibling: strata = pre-period activity bands, metric = the
    * post-period snapped value total; each arm's stratum means
    * reweight by the POOLED stratum shares. */
  private def qPostStrat(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val units = ev.groupBy(col("user_id")).agg(
      sum(when(col("ts") < cut, 1L).otherwise(0L)).as("c"),
      graft.expr.Snap.snappedSum(
        when(col("ts") >= cut, col("value")).otherwise(lit(0.0)), 1e9)
        .as("y"))
    val stratum = when(col("c") < 20L, "low")
      .when(col("c") < 40L, "mid").otherwise("high")
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.postStratify(units, isA, stratum, col("y"))
  }

  /** Restricted-mean-survival-time difference at τ = 30 days between
    * the q208 hash arms ([[ops.Survival.rmst]]) — the "event-free days
    * gained within the horizon" A/B number that stays honest when
    * proportional hazards (q256's assumption) is in doubt or the
    * curves cross. */
  private def qRmstDiff(s: SparkSession, dir: String): DataFrame = {
    val u = survivalUnits(s, dir)
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    val a = ops.Survival.rmst(u.filter(isA), col("dur_days"),
      col("converted"), 30L)
    val b = ops.Survival.rmst(u.filter(!isA), col("dur_days"),
      col("converted"), 30L)
    a.select(col("tau"), col("n_units").as("n_a"),
        col("rmst").as("rmst_treat"))
      .crossJoin(broadcast(b.select(col("n_units").as("n_b"),
        col("rmst").as("rmst_ctrl"))))
      .select(col("tau"), col("n_a"), col("n_b"), col("rmst_treat"),
        col("rmst_ctrl"),
        round(col("rmst_treat") - col("rmst_ctrl"), 6).as("rmst_diff"))
  }

  /** Pre-period activity band per user (the q257 stratum rule, shared
    * by the stratified survival/MH readouts q262/q263). */
  private def activityBand(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    ev.groupBy(col("user_id"))
      .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("c"))
      .select(col("user_id"),
        when(col("c") < 20L, "low").when(col("c") < 40L, "mid")
          .otherwise("high").as("stratum"))
  }

  /** Weibull probability-plot fit over the q254 curve
    * ([[ops.Survival.weibullFit]]) — the parametric "is the conversion
    * hazard rising or fading?" scalar (shape ≷ 1) the nonparametric
    * curve can't give. */
  private def qWeibullFit(s: SparkSession, dir: String): DataFrame =
    ops.Survival.weibullFit(survivalUnits(s, dir), col("dur_days"),
      col("converted"))

  /** Per-user COMPETING first events after the first view: purchase vs
    * error, whichever strikes first (ties break by (ts, type) struct
    * order — deterministic); censored at last activity. The unit table
    * of q261's Aalen–Johansen readout. */
  private def competingUnits(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val ce = ev.filter(col("event_type").isin("purchase", "error"))
      .join(v, "user_id").filter(col("ts") > col("t0"))
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_type"))).as("fe"))
    val last = ev.groupBy(col("user_id")).agg(max(col("ts")).as("tl"))
    v.join(ce, Seq("user_id"), "left").join(last, "user_id")
      .select(col("user_id"),
        expr("(unix_micros(CAST(coalesce(fe.ts, tl) AS TIMESTAMP)) - " +
          "unix_micros(CAST(t0 AS TIMESTAMP))) DIV 86400000000")
          .as("dur_days"),
        col("fe.event_type").as("cause"))
  }

  /** Aalen–Johansen cumulative incidence of purchase vs error as
    * COMPETING first outcomes ([[ops.Survival.cumulativeIncidence]]) —
    * the estimand q254's single-cause KM overstates when users can
    * exit to a competitor cause first. */
  private def qCifCompeting(s: SparkSession, dir: String): DataFrame =
    ops.Survival.cumulativeIncidence(competingUnits(s, dir),
      col("dur_days"), col("cause"))

  /** Stratified log-rank between the hash arms, strata = pre-period
    * activity bands ([[ops.Survival.logRankStratified]]) — q255 made
    * confounder-safe: an arm imbalance inside an activity band cannot
    * fake a hazard difference. */
  private def qStratLogrank(s: SparkSession, dir: String): DataFrame = {
    val u = survivalUnits(s, dir).join(activityBand(s, dir), "user_id")
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Survival.logRankStratified(u, col("dur_days"), col("converted"),
      isA, col("stratum"))
  }

  /** Mantel–Haenszel pooled odds ratio + CMH test of arm → converted
    * across the activity-band strata ([[ops.Analytics.mantelHaenszel]])
    * — the stratified 2×2 verdict immune to Simpson inversion, with
    * the RBG log-normal CI. */
  private def qMantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val u = survivalUnits(s, dir).join(activityBand(s, dir), "user_id")
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.mantelHaenszel(u, isA, col("converted"), col("stratum"))
  }

  /** Always-valid mixture-SPRT p for the arm difference in per-user
    * post-period value totals ([[ops.Analytics.msprt]], τ² = 1) — the
    * peeking-safe batch twin of q222's sequential SPRT. */
  private def qMsprt(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val units = ev.groupBy(col("user_id")).agg(
      graft.expr.Snap.snappedSum(
        when(col("ts") >= cut, col("value")).otherwise(lit(0.0)), 1e9)
        .as("y"))
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.msprt(units, isA, col("y"), 1.0)
  }

  /** Good–Turing / LGT frequency re-estimation with 3-gram SHINGLES as
    * the species ([[expr.TextStats.goodTuring]]) — the count-spectrum
    * answer to "how much mass belongs to unseen vocabulary" (p₀ =
    * N₁/N) next to q196's Kneser–Ney discounts. Shingles, not words:
    * this corpus's word vocabulary is ~31 types (every count ≫ 50,
    * spectrum-degenerate), while the 3-gram spectrum is N₁-rich —
    * exactly the small-count regime Good–Turing exists for. */
  private def qGoodTuring(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tf = ops.Fanout.fanout(docs).select(col("doc_id"),
        graft.expr.TextStats.shingleGen(col("text"), 3).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    graft.expr.TextStats.goodTuring(docs, col("doc_id"), col("text"),
      50, Some(tf))
  }

  /** Term burstiness (Church & Gale 1995 VMR) over the shared TF
    * artifact ([[expr.TextStats.burstiness]]) — separates topical
    * vocabulary (clumped, VMR ≫ 1) from function words at equal
    * collection frequency. */
  private def qBurstiness(s: SparkSession, dir: String): DataFrame =
    graft.expr.TextStats.burstiness(t(s, dir, "documents"), col("doc_id"),
      col("text"), 20, Some(sharedTermFreqs(s, dir)))

  /** Kish design effect of reading event-level value rows under
    * user-level randomization ([[ops.Analytics.designEffect]]) — the
    * effective-sample-size deflator every event-metric A/B readout
    * here (q110/q251/q264) implicitly assumes away. */
  private def qDesignEffect(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.designEffect(t(s, dir, "events"), col("user_id"),
      col("value"))

  /** MOSS winnowing near-dup candidates over char 8-grams, window 4
    * ([[ops.TextDedup.winnowNearDup]]) — the guaranteed-coverage
    * fingerprinting family member next to MinHash (q21, probabilistic)
    * and exact-substring (q132, exact): any shared run ≥ w+k−1 chars
    * IS caught. df-capped at 20, ≥5 shared fingerprints. */
  private def qWinnowing(s: SparkSession, dir: String): DataFrame =
    ops.TextDedup.winnowNearDup(t(s, dir, "documents"), col("doc_id"),
      col("text"))

  /** Rank-biased overlap (Webber et al. 2010) between the exact cosine
    * ranking and the SQ8 ranking per query
    * ([[ops.Ann.rankBiasedOverlap]]) — the rank-SENSITIVE agreement
    * number next to q142's flat recall: a quantizer that preserves
    * rank 1 but scrambles ranks 5–10 scores high here, low there. */
  private def qRbo(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    ops.Ann.rankBiasedOverlap(sharedExactTopK(s, dir),
      ops.Ann.sq8TopK(emb, emb.filter(col("vec_id") < 5), 10))
  }

  /** Unbiased best-of-n estimate of event value per event type from an
    * md5 min-k sample of M = 20 ([[ops.Quality.bestOfN]], Nakano et
    * al. 2021) — the BoN curve (n = 1, 5, 10) a reward-model eval
    * reports, from ALL samples instead of a wasteful first-n max. */
  private def qBestOfN(s: SparkSession, dir: String): DataFrame =
    ops.Quality.bestOfN(t(s, dir, "events"), col("event_type"),
      col("event_id"), col("value"))

  /** Shannon entropy rate / redundancy of the corpus token stream
    * ([[expr.TextStats.entropyRate]], Shannon 1951 F₂) from the shared
    * unigram + bigram artifacts — how much each next token carries
    * given the previous one, and how compressible the stream is. */
  private def qEntropyRate(s: SparkSession, dir: String): DataFrame =
    graft.expr.TextStats.entropyRate(t(s, dir, "documents"),
      col("doc_id"), col("text"),
      Some(sharedUnigramCounts(s, dir)), Some(sharedBigramCounts(s, dir)))

  /** Zone-map pruning advisor over events.value
    * ([[ops.Layout.zoneMapPruning]]) — "would sorting by the predicate
    * column help?" quantified: point-lookup scan fraction under the
    * arrival layout vs a value-sorted layout, 32 zones, 20 md5 probes. */
  private def qZoneMap(s: SparkSession, dir: String): DataFrame =
    ops.Layout.zoneMapPruning(t(s, dir, "events"), col("event_id"),
      col("value"))

  /** Data-constrained scaling forecast per source
    * ([[ops.Sampling.dataConstrainedForecast]], Muennighoff et al.
    * 2023): the EFFECTIVE tokens a 100k-token equal-split budget buys
    * from each source once repeated epochs decay (R* = 15) — the
    * number q130's apportionment should budget with. */
  private def qDataConstrained(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.dataConstrainedForecast(t(s, dir, "documents"),
      col("source"), size(graft.expr.TextStats.tokens(col("text"))),
      100000L)

  /** Hedges' g effect size (with Cohen's d and the 95% CI) for the
    * arm difference in per-user post-period value totals
    * ([[ops.Analytics.hedgesG]]) — the σ-units "how big" next to
    * q264's always-valid "is it real". */
  private def qHedgesG(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val units = ev.groupBy(col("user_id")).agg(
      graft.expr.Snap.snappedSum(
        when(col("ts") >= cut, col("value")).otherwise(lit(0.0)), 1e9)
        .as("y"))
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.hedgesG(units, isA, col("y"))
  }

  /** The shared daily event-count series (epoch-day, count) for the
    * forecast-skill/changepoint pair q275/q276. */
  private def dailySeries(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000")
        .as("p"))
      .agg(count(lit(1)).cast("double").as("y"))

  /** [[dailySeries]] densified onto the CONTIGUOUS day grid (zero-event
    * days count 0): the lag-indexed operators (q289 Ljung-Box row
    * pairing, q290 Holt consecutive fold, q291/q308 centered-MA
    * window) read "one row = one day", so a calendar gap would
    * silently turn "lag 1 day" into row neighbors (ADVICE r10). */
  private def dailySeriesDense(s: SparkSession, dir: String): DataFrame = {
    val obs = dailySeries(s, dir)
    val span = obs.agg(min(col("p")).as("lo"), max(col("p")).as("hi"))
    span.select(explode(sequence(col("lo"), col("hi"))).as("p"))
      .join(obs, Seq("p"), "left")
      .select(col("p"), coalesce(col("y"), lit(0.0)).as("y"))
  }

  /** Seasonal-naive forecast skill of daily event volume
    * ([[ops.Analytics.seasonalMase]], Hyndman & Koehler 2006) — is
    * there weekly structure worth modeling (MASE < 1), measured before
    * anyone builds a model. Reads the DENSE series (ADVICE r11):
    * lag(y,1)/lag(y,7) are ROW offsets, so a calendar gap on the
    * sparse series would silently compare non-adjacent days and
    * corrupt both error pools; zero-event days count 0 — the stated
    * estimand ("weekly skill of daily volume") holds on gapped data. */
  private def qSeasonalMase(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.seasonalMase(dailySeriesDense(s, dir), col("p"), col("y"))

  /** Single CUSUM-normalized changepoint over daily event volume
    * ([[ops.Analytics.changepoint]]) — WHERE the level shifted, next
    * to the drift monitors' "somewhere" (q83/q215/q218). */
  private def qChangepoint(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.changepoint(dailySeries(s, dir), col("p"), col("y"))

  /** Split conformal prediction over per-type values
    * ([[ops.Quality.splitConformal]], Papadopoulos et al. 2002; Vovk
    * et al. 2005): md5 3-way split, group-mean predictor, the
    * finite-sample ⌈(n+1)(1−α)⌉ calibration quantile, held-out
    * coverage — the distribution-free error bar. */
  private def qConformal(s: SparkSession, dir: String): DataFrame =
    ops.Quality.splitConformal(t(s, dir, "events"), col("event_type"),
      col("value"), col("event_id"))
      .withColumnRenamed("grp", "event_type")

  /** Isotonic calibration of the q169 NB confidence
    * ([[ops.Quality.isotonicCalibration]], Ayer et al. 1955; Zadrozny
    * & Elkan 2002) via PAV's closed-form minimax — the monotone
    * REPAIR next to q169's diagnosis and q230's parametric scaling. */
  private def qIsotonic(s: SparkSession, dir: String): DataFrame =
    ops.Quality.isotonicCalibration(nbConfidence(s, dir), col("conf"),
      col("pred_lab") === col("lang"), 10)

  /** Pettitt rank-based changepoint over daily event volume
    * ([[ops.Analytics.pettitt]], Pettitt 1979) — the outlier-robust
    * sibling of q276's mean-based CUSUM binseg: one wild day can drag
    * a mean split; ranks don't move. */
  private def qPettitt(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.pettitt(dailySeries(s, dir), col("p"), col("y"))

  /** Jarque–Bera normality monitor per event type over values
    * ([[ops.Analytics.jarqueBera]], Jarque & Bera 1980) — the
    * bell-shapedness gate the downstream t-statistics assume, with
    * the EXACT χ²(2) closed-form p = e^(−JB/2). */
  private def qJarqueBera(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.jarqueBera(t(s, dir, "events"), col("event_type"),
      col("value")).withColumnRenamed("grp", "event_type")

  /** Classical additive seasonal decomposition of daily event volume
    * ([[ops.Analytics.seasonalDecompose]]) — per day
    * y = trend + seasonal + remainder: WHICH component carries the
    * variance, where q275 only scores whether the weekly one exists. */
  private def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.seasonalDecompose(dailySeriesDense(s, dir), col("p"),
      col("y"))

  /** Dataset cartography over the language-labeled corpus
    * ([[ops.Quality.cartographyReport]], Swayamdipta et al. 2020) —
    * per-example confidence/variability/region across the k−1
    * fold-models that trained on it; `hard` is the label-error
    * hunting ground, `ambiguous` the curation frontier. */
  private def qCartography(s: SparkSession, dir: String): DataFrame =
    ops.Quality.cartographyReport(t(s, dir, "documents"), col("doc_id"),
      col("text"), col("lang"), k = 5,
      scores0 = Some(sharedKfoldScores(s, dir)))

  /** Session-scoped MATERIALIZED k-fold NB score table served to q223 (k-fold NB
    * eval), q292 (cartography) and q330 (confident learning) — the
    * consumers build IDENTICAL fold models and differ only in which
    * (model, doc) pairs they read ([[ops.Quality.kfoldScores]], serve =
    * "all"), so the models train and serve ONCE per session and each
    * consumer runs only its own window/rollup tail (VERDICT r13 #2). The
    * label side broadcasts: a shuffle join would hand the serve-side
    * fanout + model probe to whatever partition count AQE leaves on
    * the join read; a BHJ streams it over the TF artifact's own
    * partitions. */
  private val sharedKfoldScores =
    Artifacts.declare("kfold_scores", "q223_kfold_nb") { (s, dir) =>
      val tf = sharedTermFreqs(s, dir)
      val docs = t(s, dir, "documents")
      ops.Quality.kfoldScores(docs, col("doc_id"), col("text"),
        col("lang"), k = 5, docTf0 = Some(tf.join(broadcast(
          docs.select(col("doc_id"), col("lang").as("lab"))), "doc_id")))
    }

  /** Chapman capture–recapture estimate of the total near-dup pair
    * population from the two independent dedup methods' catches —
    * LSH-Jaccard candidates (q21) vs exact-SimHash collisions (q23)
    * ([[ops.TextDedup.captureRecapture]], Chapman 1951; Seber 1982):
    * "how many duplicate pairs did BOTH miss?", the recall question a
    * dedup pipeline can't answer from inside one method. */
  private def qChapman(s: SparkSession, dir: String): DataFrame = {
    val sh = TextDedup.simhash16(t(s, dir, "documents"), col("doc_id"),
      col("text"))
    val pb = sh.join(sh.select(col("doc_id").as("doc_b"), col("simhash")),
        "simhash")
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
    ops.TextDedup.captureRecapture(sharedLshCandidates(s, dir), pb,
      "doc_a", "doc_b")
  }

  /** Youden-J optimal accept threshold over the q169 NB confidence
    * ([[ops.Quality.youdenThreshold]], Youden 1950) — the
    * selective-prediction router: accept the model's answer at
    * conf ≥ t*, the operating point q241's risk-coverage curve only
    * describes. */
  private def qYouden(s: SparkSession, dir: String): DataFrame =
    ops.Quality.youdenThreshold(nbConfidence(s, dir), col("conf"),
      col("pred_lab") === col("lang"))

  /** DeLong AUC confidence interval for the q169 confidence-predicts-
    * correctness score ([[ops.Quality.delongAuc]], DeLong et al.
    * 1988) — the distribution-free error bar q168's point AUC lacks,
    * from placement variances, no bootstrap. */
  private def qDelong(s: SparkSession, dir: String): DataFrame =
    ops.Quality.delongAuc(nbConfidence(s, dir), col("conf"),
      col("pred_lab") === col("lang"))

  /** Fisher randomization test for the arm difference in per-user
    * value totals ([[ops.Analytics.randomizationTest]], Fisher 1935;
    * Phipson & Smyth 2010 p-convention), 199 md5-deterministic
    * relabelings — assumption-free inference under the A/B stack. */
  private def qRandomization(s: SparkSession, dir: String): DataFrame = {
    val units = t(s, dir, "events").groupBy(col("user_id"))
      .agg(graft.expr.Snap.snappedSum(col("value"), 1e9).as("y"))
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.randomizationTest(units, col("user_id"), col("y"), isA)
  }

  /** Stationary distribution of the q95 event-type transition chain
    * ([[ops.Graph.stationaryDistribution]], power iteration; Kemeny &
    * Snell 1960) — the LONG-RUN occupancy the one-step matrix only
    * hints at, with a total-variation convergence readout. */
  private def qStationary(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    ops.Graph.stationaryDistribution(pairs, col("event_type"),
      col("next_type"), col("n"))
  }

  /** Mutual information (bits) + Cramér's V between source and the
    * gopher keep verdict ([[ops.Analytics.contingencyAssociation]],
    * Shannon 1948; Cramér 1946) — the EFFECT-SIZE pair next to q219's
    * χ² significance: how much does knowing the source tell the gate? */
  private def qContingency(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = TextStats.gopherRules(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("keep"))
    ops.Analytics.contingencyAssociation(
      docs.join(keep, "doc_id"), col("source"), col("keep"))
  }

  /** O'Brien–Fleming 5-look group-sequential monitor of the arm
    * difference in event values ([[ops.Analytics.obrienFleming]],
    * O'Brien & Fleming 1979; bounds per Jennison & Turnbull 2000) —
    * licensed peeking: when could the experiment have STOPPED. */
  private def qObf(s: SparkSession, dir: String): DataFrame = {
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.obrienFleming(t(s, dir, "events"), col("ts"),
      col("value"), isA)
  }

  /** Sample-size planner for a 5%-lift mean test on per-user value
    * totals ([[ops.Analytics.meanSampleSize]], Cohen 1988; Lehr
    * 1992) — the continuous sibling of q211, run BEFORE the
    * experiment on the metric it will read. */
  private def qMeanPower(s: SparkSession, dir: String): DataFrame = {
    val units = t(s, dir, "events").groupBy(col("user_id"))
      .agg(graft.expr.Snap.snappedSum(col("value"), 1e9).as("y"))
    ops.Analytics.meanSampleSize(units, col("y"))
  }

  /** Cohen's h for the arm conversion-rate difference
    * ([[ops.Quality.cohensH]], Cohen 1988 §6.2) — the
    * variance-stabilized proportions effect size next to q280's
    * interval and q274's Hedges g. */
  private def qCohensH(s: SparkSession, dir: String): DataFrame = {
    val u = survivalUnits(s, dir)
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Quality.cohensH(u, isA, col("converted"))
  }

  /** Changepoint over the DESEASONALIZED daily series — q291's
    * decomposition feeding q276's binseg: a level shift the weekly
    * rhythm masks in the raw series stands out once the seasonal
    * component is subtracted (composition of two certified
    * operators, no new machinery). */
  private def qSeasonalChangepoint(s: SparkSession, dir: String)
      : DataFrame = {
    val sd = ops.Analytics.seasonalDecompose(dailySeriesDense(s, dir),
      col("p"), col("y"))
    ops.Analytics.changepoint(
      sd.select(col("p"), (col("y") - col("seasonal")).as("y")),
      col("p"), col("y"))
  }

  /** Neyman optimal sampling allocation across event types
    * ([[ops.Analytics.neymanAllocation]], Neyman 1934; Cochran 1977
    * §5.5) at a 10k-row budget — how much to draw from where, the
    * planner behind the q49/q57 samplers. */
  private def qNeyman(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.neymanAllocation(t(s, dir, "events"),
      col("event_type"), col("value"))

  /** Rank-biased precision of the q224 Dirichlet-QL top-20 against
    * all-query-terms relevance ([[ops.Quality.rbpScore]], Moffat &
    * Zobel 2008) — the persistence-model metric with its own honesty
    * term (the unjudged-tail residual), next to nDCG/MRR/AP/RBO. */
  private def qRbp(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "filter", "scan")
    val tf = sharedTermFreqs(s, dir)
    val ranked = TextStats.dirichletQl(t(s, dir, "documents"),
        col("doc_id"), col("text"), terms, 2000.0, 20, tf0 = Some(tf))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))))
    val has3 = tf.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id")).agg(countDistinct(col("term")).as("nq"))
    ops.Quality.rbpScore(ranked.join(has3, Seq("doc_id"), "left"),
      col("rank"), coalesce(col("nq"), lit(0L)) === 3L)
  }

  /** Query clarity score for the q224 query
    * ([[TextStats.clarityScore]], Cronen-Townsend et al. 2002) — the
    * KL bits between the feedback relevance model and the collection
    * LM: pre-retrieval difficulty prediction in front of the
    * BM25/QL/RM family. */
  private def qClarity(s: SparkSession, dir: String): DataFrame =
    TextStats.clarityScore(t(s, dir, "documents"), col("doc_id"),
      col("text"), Seq("join", "filter", "scan"),
      tf0 = Some(sharedTermFreqs(s, dir)))

  /** Mann–Kendall monotone-trend test over daily volume
    * ([[ops.Analytics.mannKendall]], Mann 1945; Kendall 1975) — the
    * significance companion to q228's Theil–Sen slope. */
  private def qMannKendall(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.mannKendall(dailySeries(s, dir), col("p"), col("y"))

  /** Wald–Wolfowitz runs test of daily volume around its median
    * ([[ops.Analytics.runsTest]], Wald & Wolfowitz 1940) — regime
    * clumping vs alternation that q289's linear ACF can miss. */
  private def qRunsTest(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.runsTest(dailySeries(s, dir), col("p"), col("y"))

  /** Tokenizer-economics table: whitespace vs BPE-ish regex on the
    * corpus ([[TextStats.tokenizerEconomics]], Rust et al. 2021's
    * compression/fertility axes) — the choose-the-tokenizer summary
    * q126/q134 read pointwise. */
  private def qTokenizerEcon(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenizerEconomics(t(s, dir, "documents"), col("doc_id"),
      col("text"))

  /** Bloom FPR calibration on a parity-disjoint user split
    * ([[ops.Sketch.bloomFprCalibration]], Bloom 1970) — the realized
    * false-positive rate vs the exact finite-m analytic one: the
    * audit q62's pruning and q158's decontam gate owe their
    * consumers. */
  private def qBloomFpr(s: SparkSession, dir: String): DataFrame = {
    val u = t(s, dir, "events").select(col("user_id")).distinct()
    ops.Sketch.bloomFprCalibration(
      u.filter(col("user_id") % 2 === 0), col("user_id"),
      u.filter(col("user_id") % 2 === 1), col("user_id"),
      bits = 1024, k = 3)
  }

  /** Dedup-threshold policy sweep over the verified Jaccard pairs
    * ([[ops.TextDedup.dedupThresholdSweep]]) — pairs fired and docs
    * touched at every candidate threshold, the curve behind
    * "dedup at ≥ 0.8". */
  private def qThresholdSweep(s: SparkSession, dir: String): DataFrame =
    ops.TextDedup.dedupThresholdSweep(sharedVerifiedJaccard(s, dir),
      col("doc_a"), col("doc_b"), col("jaccard"))

  /** Count-Min error calibration over the event user stream
    * ([[ops.Sketch.cmErrorCalibration]], Cormode & Muthukrishnan
    * 2005 Thm 1) — realized over-estimation vs the (e/w)·N bound and
    * its 1−e^(−d) guarantee: the audit behind q61/q96's CM reads. */
  private def qCmError(s: SparkSession, dir: String): DataFrame =
    ops.Sketch.cmErrorCalibration(t(s, dir, "events"), col("user_id"),
      depth = 3, width = 256)

  /** Energy distance between the parity-label embedding groups
    * ([[ops.LinAlg.energyDistance]], Székely & Rizzo 2004) on
    * md5-deterministic min-40 samples — the MULTIVARIATE
    * distribution-shift test next to the per-coordinate drift
    * family. */
  private def qEnergyDistance(s: SparkSession, dir: String): DataFrame =
    ops.LinAlg.energyDistance(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"), col("label") % 2 === 0)

  /** Distribution-free median CI per event type
    * ([[ops.Analytics.medianCI]], Hahn & Meeker 1991; Conover 1999)
    * — order-statistic bounds, honest on the skewed value metric
    * where mean ± 1.96·se is fiction. */
  private def qMedianCI(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.medianCI(t(s, dir, "events"), col("event_type"),
      col("value")).withColumnRenamed("grp", "event_type")

  /** Yuen 20%-trimmed-means A/B test on per-user value totals
    * ([[ops.Analytics.yuenTest]], Yuen 1974; Wilcox 2012) — the
    * robust middle ground between q110's fragile means t and q217's
    * mean-free ranks. */
  private def qYuen(s: SparkSession, dir: String): DataFrame = {
    val units = t(s, dir, "events").groupBy(col("user_id"))
      .agg(graft.expr.Snap.snappedSum(col("value"), 1e9).as("y"))
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.yuenTest(units, isA, col("y"))
  }

  /** dHash perceptual near-duplicates over the media payload
    * ([[ops.Multimodal.dhashNearDup]], Krawetz's difference hash +
    * 16-bit LSH banding) — the media twin of q23's text SimHash:
    * candidates ONLY through the band equi-join, exact 64-bit Hamming
    * verified over candidates. The decode is the md5 grid stub
    * (engine-replayable); a real decoder swaps one expression. */
  private def qDhashNearDup(s: SparkSession, dir: String): DataFrame =
    ops.Multimodal.dhashNearDup(t(s, dir, "documents"), col("doc_id"),
      col("text"), maxHamming = 6)

  /** Media metadata quality gates ([[ops.Multimodal.mediaQualityGates]])
    * — the Gopher rules of images: min dimensions, aspect-ratio band,
    * bytes-per-pixel sanity over the typed metadata, zero decode. */
  private def qMediaGates(s: SparkSession, dir: String): DataFrame =
    ops.Multimodal.mediaQualityGates(
      ops.Multimodal.asMediaTable(t(s, dir, "documents")))

  /** SemDeDup on the MEDIA modality ([[ops.Multimodal.mediaSemDedup]],
    * Abbas et al.) — q32's quantized-bucket + cosine-verify regime on
    * decoded-media feature vectors instead of text embeddings; returns
    * the surviving corpus (smaller-id-wins inside each near-dup
    * neighborhood). */
  private def qMediaSemDedup(s: SparkSession, dir: String): DataFrame =
    ops.Multimodal.mediaSemDedup(t(s, dir, "documents"), col("doc_id"),
      col("text"), threshold = 0.99)

  /** A-ES weighted sampling without replacement per source
    * ([[ops.Sampling.aesSample]], Efraimidis & Spirtakis 2006) at
    * k=10 with weight = n_chars: the exact-k counterpart of q57's
    * Bernoulli weighted sample — inclusion probability tracks length,
    * the draw a pure md5 function of the ids. */
  private def qAesSample(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.aesSample(t(s, dir, "documents"), col("source"),
      col("doc_id"), col("n_chars"), k = 10)

  /** Off-policy value of the uniform policy from logged events
    * ([[ops.Quality.ipsOffPolicy]]: Horvitz–Thompson IPS, clipped
    * IPS, SNIPS, ESS) — context = the md5 user quartile, action =
    * event_type, reward = value. */
  private def qIpsOffPolicy(s: SparkSession, dir: String): DataFrame =
    ops.Quality.ipsOffPolicy(t(s, dir, "events"),
      pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(4L)),
      col("event_type"), col("value"))

  /** MAUVE divergence curve between the embedding label-parity arms
    * ([[ops.Analytics.mauveCurve]], Pillutla et al. 2021) over the
    * 4-bit sign-bucket quantization — the type-I/type-II frontier the
    * single-number drift family (q83/q320) collapses. */
  private def qMauve(s: SparkSession, dir: String): DataFrame = {
    val v = t(s, dir, "embeddings")
    val cell = (0 until 4).map(j =>
      when(element_at(col("embedding"), j + 1) >= 0f, lit(1L << j))
        .otherwise(lit(0L))).reduce(_ + _)
    ops.Analytics.mauveCurve(v, col("label") % 2 === 0, cell)
  }

  /** Platt scaling of event values against the purchase label
    * ([[ops.Quality.plattScaling]], Platt 1999) — the parametric
    * member of the calibration triad (q288 isotonic, q287 conformal):
    * eight snapped Newton steps, trajectory oracle-replayed. */
  private def qPlatt(s: SparkSession, dir: String): DataFrame =
    ops.Quality.plattScaling(t(s, dir, "events"), col("value"),
      col("event_type") === "purchase")

  /** Confident-learning label-error matrix over the language-labeled
    * corpus ([[ops.Quality.confidentLearning]], Northcutt et al. 2021)
    * — held-out k-fold NB posteriors, per-class confidence thresholds,
    * joint (given, suggested) counts; off-diagonal mass = the label-
    * error estimate. */
  private def qConfidentLearning(s: SparkSession, dir: String): DataFrame =
    // serves the SAME session k-fold score artifact as q292 (the two
    // queries' models are identical — only the served pair set differs)
    ops.Quality.confidentLearning(t(s, dir, "documents"), col("doc_id"),
      col("text"), col("lang"),
      scores0 = Some(sharedKfoldScores(s, dir)))

  /** Adamic–Adar link prediction between parts via shared suppliers
    * ([[ops.Graph.adamicAdar]], Adamic & Adar 2003) on the q94 part
    * subset — hub-discounted common-neighbor scores, top-100. The
    * estimand is "AA over vias of degree ∈ [2, 1000]" — the q282 df-
    * band discipline baked into the served query, not left to the
    * operator's unbounded default: a via shared by >1000 nodes
    * contributes ≤ 1/ln(1000) ≈ 0.14 per pair but deg² ≈ ≥10⁶
    * candidate pairs, so the cap trades vanishing signal for a hard
    * per-hub pair bound (TPC-H via-degree is ~150 at every SF — the
    * cap binds only on genuinely skewed co-occurrence graphs). */
  private def qAdamicAdar(s: SparkSession, dir: String): DataFrame =
    ops.Graph.adamicAdar(
      t(s, dir, "lineitem").filter(col("l_partkey") % 4 === 0)
        .select(col("l_partkey"), col("l_suppkey")),
      "l_partkey", "l_suppkey", k = 100, maxDeg = 1000L)

  /** Interval-overlap join ([[ops.RangeJoin.overlapJoin]]): per-user
    * daily activity spans × the daily 06–18h business windows (q35's
    * intervals), matched through binned equi-joins with exactly-once
    * first-shared-bin reporting — the interval×interval sibling of
    * q35's point×interval range join. */
  private def qOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
    val spans = ev
      .groupBy(col("user_id"), expr("us DIV 86400000000").as("day"))
      .agg(min(col("us")).as("a_lo"), (max(col("us")) + 1L).as("a_hi"))
    val wins = ev.select(expr("us DIV 86400000000").as("wday")).distinct()
      .select((col("wday") * 86400000000L + 21600000000L).as("b_lo"),
        (col("wday") * 86400000000L + 64800000000L).as("b_hi"))
    ops.RangeJoin.overlapJoin(spans, col("a_lo"), col("a_hi"),
        wins, col("b_lo"), col("b_hi"), binWidth = 21600000000L)
      .select(col("user_id"), col("day"), col("b_lo").as("win_lo"),
        col("overlap"))
  }

  /** l-diversity audit over (lang, source) quasi-identifier classes
    * with the length decile as the sensitive attribute
    * ([[ops.Quality.lDiversity]], Machanavajjhala et al. 2007) — the
    * homogeneity attack q234's k-anonymity cannot see. */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    ops.Quality.lDiversity(t(s, dir, "documents"),
      Seq("lang" -> col("lang"), "source" -> col("source")),
      floor(col("n_chars") / lit(100)).cast("long"), l = 2.0)

  /** Qini uplift curve of pre-period spend as a targeting score
    * ([[ops.Analytics.qiniCurve]], Radcliffe 2007) — the A/B shelf's
    * "did it work on average" (q110/q248) extended to "WHOM should we
    * treat": md5 arm split (the q110 convention), score = the CUPED
    * covariate (pre-cutoff value sum, q248's x), conversion = any
    * post-cutoff purchase; coefficient > 0 = the score beats
    * spray-and-pray targeting. */
  private def qQini(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val cut = lit("2024-01-16 00:00:00").cast("timestamp")
    val units = ev.groupBy(col("user_id")).agg(
      graft.expr.Snap.snappedSum(
        when(col("ts") < cut, col("value")).otherwise(lit(0.0)), 1e9)
        .as("x"),
      max(when(col("ts") >= cut && col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("conv"))
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.qiniCurve(units, isA, col("x"), col("conv") === 1L)
  }

  /** Newman–Girvan modularity of the brand partition on the q94
    * co-purchase graph ([[ops.Graph.modularity]]) — the community-
    * QUALITY number the graph shelf's structure finders (q63 CC, q172
    * label prop) lacked: do co-purchases concentrate within brands,
    * or is the partition no better than random wiring (Q ≈ 0)? */
  private def qModularity(s: SparkSession, dir: String): DataFrame =
    ops.Graph.modularity(coPurchaseEdges(s, dir), "src", "dst",
      t(s, dir, "part"), "p_partkey", "p_brand")

  /** t-closeness audit over the q333 quasi-classes
    * ([[ops.Quality.tCloseness]], Li et al. 2007) — the privacy
    * TRIAD's third rung: k-anonymity (q234) bounds class size,
    * l-diversity (q333) bounds homogeneity, t-closeness bounds SKEW
    * vs the corpus distribution (EMD over the ordered decile grid at
    * t = 0.2). */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame =
    ops.Quality.tCloseness(t(s, dir, "documents"),
      Seq("lang" -> col("lang"), "source" -> col("source")),
      floor(col("n_chars") / lit(100)).cast("long"), t = 0.2)

  /** Shapley-value channel attribution over user journeys
    * ([[ops.Analytics.shapleyAttribution]], Shapley 1953; Zhao et al.
    * 2018) — the axiomatic member of the attribution triad next to
    * q107's positional rules and q319's Markov removal effects, over
    * the exact 2^4 coalition lattice of touched-channel sets. */
  private def qShapley(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.shapleyAttribution(t(s, dir, "events"), col("user_id"),
      col("ts"), col("event_id"), col("event_type"), "purchase",
      channels = Seq("click", "error", "signup", "view"))

  /** Cross-modal (text → media) retrieval eval
    * ([[ops.Multimodal.crossModalRecall]]) — recall@{1,5,10} of the
    * md5-stub joint-embedding text query against the media feature
    * corpus, flat brute-force vs the 4-bit sign-bucket probe side by
    * side: the retrieval-quality rung of the multimodal shelf (its
    * dedup is q323/q325, its gates q324). */
  private def qCrossModalRecall(s: SparkSession, dir: String): DataFrame =
    ops.Multimodal.crossModalRecall(t(s, dir, "documents"),
      col("doc_id"), col("text"))

  /** Markov removal-effect attribution over user journeys
    * ([[ops.Analytics.markovAttribution]], Anderl et al. 2016) — the
    * data-driven "who do conversions actually flow through" next to
    * q107's positional rules; reach = P¹⁶[START→purchase] via four
    * snapped matrix squarings per removal variant. */
  private def qMarkovAttribution(s: SparkSession, dir: String): DataFrame =
    // default per-squaring materialize, deliberately: each squareV
    // SELF-joins its input, so a lazy chain doubles the plan tree per
    // level (2^4 copies of the base by the fourth squaring — measured
    // 4.7s vs 2.2s checkpointed); four tiny materialized steps beat
    // one exponentially-nested plan. The q277 lazy trick applies to
    // LINEAR chains only.
    ops.Analytics.markovAttribution(t(s, dir, "events"), col("user_id"),
      col("ts"), col("event_id"), col("event_type"), "purchase",
      removable0 = Some(Seq("click", "error", "signup", "view")))

  /** Benford first-digit conformity of event values
    * ([[ops.Quality.benfordReport]], Benford 1938; Nigrini 2012) —
    * the cheapest fabricated/truncated-amounts tripwire, with the
    * digit read from the exact integer-cents string (no log10 near
    * power-of-10 boundaries). */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    ops.Quality.benfordReport(t(s, dir, "events"), col("value"))

  /** Theil T inequality of per-doc token counts decomposed by source
    * ([[ops.Sampling.theilDecomposition]], Theil 1967; Shorrocks
    * 1980) — is the token-budget imbalance BETWEEN sources (fix the
    * mixture) or WITHIN them (fix per-doc caps)? q105's Gini only
    * says "how unequal". */
  private def qTheil(s: SparkSession, dir: String): DataFrame =
    ops.Sampling.theilDecomposition(t(s, dir, "documents"),
      col("source"), size(TextStats.tokens(col("text"))))

  /** Ljung–Box autocorrelation test over daily event volume
    * ([[ops.Analytics.ljungBox]], Ljung & Box 1978) — "is yesterday
    * informative", the decide-before-you-model companion to q275's
    * seasonal skill and q290's Holt fit. */
  private def qLjungBox(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.ljungBox(dailySeriesDense(s, dir), col("p"), col("y"))

  /** Holt linear-trend fit + 7-day forecast of daily event volume
    * ([[ops.Analytics.holtForecast]], Holt 1957) — the level+slope
    * model q289's ACF justifies, as one snapped in-plan fold whose
    * trajectory the oracle replays step-by-step. */
  private def qHolt(s: SparkSession, dir: String): DataFrame =
    ops.Analytics.holtForecast(dailySeriesDense(s, dir), col("p"), col("y"))

  /** HITS hubs & authorities over the DIRECTED part→supplier graph
    * ([[ops.Graph.hits]], Kleinberg 1999), two unrolled normalized
    * rounds — the prestige PAIR q93's single PageRank score conflates.
    * At iters = 2 the per-iteration materialize is identity: the edge
    * set is checkpointed once inside the operator, the four
    * score-propagation joins run as ONE lazy plan (ReuseExchange
    * dedupes the shared subtrees), and the job count drops from ~7 to
    * 3 — the snapped scores are bit-identical either way (VERDICT r11
    * #3). Deep-iteration callers keep the default per-round
    * checkpoint for bounded lineage. */
  private def qHits(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select((col("l_partkey") * 10).as("src"),
        (col("l_suppkey") * 10 + 1).as("dst"))
    ops.Graph.hits(li, "src", "dst", iters = 2, materialize = df => df)
  }

  /** Local clustering coefficient on the q94 co-purchase graph
    * ([[ops.Graph.clusteringCoefficient]], Watts & Strogatz 1998) —
    * family-vs-chain tightness per node, on the same oriented-wedge
    * machinery. */
  private def qClusteringCoef(s: SparkSession, dir: String): DataFrame =
    ops.Graph.clusteringCoefficient(coPurchaseEdges(s, dir), "src", "dst")

  /** The q94/q278 co-purchase part graph (parts sharing an order). */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    li.join(li.select(col("l_orderkey"), col("l_partkey").as("p2")),
        "l_orderkey")
      .filter(col("l_partkey") < col("p2"))
      .select(col("l_partkey").as("src"), col("p2").as("dst"))
  }

  /** Degree assortativity of the co-purchase graph
    * ([[ops.Graph.assortativity]], Newman 2002) — hubs-link-to-hubs
    * or hubs-to-leaves, the one-number structural fingerprint next
    * to the per-node graph family. */
  private def qAssortativity(s: SparkSession, dir: String): DataFrame =
    ops.Graph.assortativity(coPurchaseEdges(s, dir), "src", "dst")

  /** Approximate neighborhood function N(v, r≤2) on the co-purchase
    * graph ([[ops.Graph.neighborhoodFunction]] — ANF, Palmer et al.
    * 2002; HyperBall, Boldi & Vigna 2011): per-node HLL registers
    * merged along edges, with n1_exact as the built-in accuracy
    * readout. */
  private def qNeighborhood(s: SparkSession, dir: String): DataFrame =
    ops.Graph.neighborhoodFunction(coPurchaseEdges(s, dir), "src", "dst")

  /** Embedding-space anisotropy ([[ops.LinAlg.anisotropyReport]],
    * Ethayarajh 2019; Mu & Viswanath 2018): the expected random-pair
    * cosine via the EXACT ‖mean unit vector‖² identity — the constant
    * offset every cosine threshold (q25/q32) implicitly absorbs,
    * reported in one pass with no pair sampling. */
  private def qAnisotropy(s: SparkSession, dir: String): DataFrame =
    ops.LinAlg.anisotropyReport(t(s, dir, "embeddings"), col("vec_id"),
      col("embedding"))

  /** Duplicate-family size spectrum + Hill tail index over the q63
    * components ([[ops.Graph.familySizeTail]], Hill 1975; Clauset et
    * al. 2009) — is the removable mass a few mega-families (dedup
    * pays immediately) or diffuse? */
  private def qFamilyTail(s: SparkSession, dir: String): DataFrame =
    ops.Graph.familySizeTail(t(s, dir, "documents"), "doc_id",
      sharedLshCandidates(s, dir), "doc_a", "doc_b")

  /** Kendall's τ-b between per-source document count and total token
    * volume ([[ops.Analytics.kendallTauB]]) — do bigger sources also
    * carry more text, read as exact pair concordance over the
    * |sources|-row aggregate (the bounded-input contract). */
  private def qKendallTau(s: SparkSession, dir: String): DataFrame = {
    val per = t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(graft.expr.TextStats.tokens(col("text"))).cast("long"))
          .as("n_tokens"))
    ops.Analytics.kendallTauB(per, col("n_docs"), col("n_tokens"))
  }

  /** Newcombe method-10 CI for the conversion-rate DIFFERENCE between
    * the hash arms ([[ops.Analytics.newcombeDiffCi]]) — the two-arm
    * sibling of q205's Wilson interval. */
  private def qNewcombe(s: SparkSession, dir: String): DataFrame = {
    val u = survivalUnits(s, dir)
    val isA = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.newcombeDiffCi(u, isA, col("converted"))
  }

  /** TextRank keywords ([[expr.TextStats.textRank]], Mihalcea & Tarau
    * 2004) — PageRank centrality over the ±2 co-occurrence graph, the
    * graph alternative to frequency keyword ranking. */
  private def qTextRank(s: SparkSession, dir: String): DataFrame =
    graft.expr.TextStats.textRank(t(s, dir, "documents"), col("doc_id"),
      col("text"))

  /** Sparse TF-IDF all-pairs cosine over 3-gram shingles
    * ([[ops.TextDedup.sparseCosinePairs]], Bayardo et al. 2007) — the
    * term-space near-dup scorer next to set Jaccard (q22) and dense
    * embedding cosine (q32). */
  private def qSparseCosine(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // term keys are 60-bit md5 hashes of the grams (the minhash
    // convention, same collision regime): every index shuffle — tf
    // groupBy, df groupBy, the w join, the pair join — carries an
    // 8-byte long instead of a ~30-byte gram string. The similarity
    // is DEFINED over the hashed-term space (stated estimand; a
    // collision conflates the same grams in both engines).
    val tf = ops.Fanout.fanout(docs).select(col("doc_id"),
        graft.expr.TextStats.shingleGen(col("text"), 3).as("g"))
      .select(col("doc_id"),
        graft.expr.Similarity.md5PrefixLong(col("g"), 15)
          .as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    ops.TextDedup.sparseCosinePairs(docs, col("doc_id"), col("text"),
      threshold = 0.3, tf0 = Some(tf))
  }

  private def qQuantileShift(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val arm = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.quantileShift(ev.filter(arm), ev.filter(!arm),
      col("event_type"), col("value"))
      .withColumnRenamed("grp", "event_type")
  }

  /** Two-sample Cramér–von Mises drift over per-type value
    * distributions between the md5 hash arms
    * ([[ops.Analytics.cvmDrift]], Anderson 1962) — the INTEGRATED
    * ECDF discrepancy next to q180's max-distance KS D. */
  private def qCvmDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val arm = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.cvmDrift(ev.filter(arm), ev.filter(!arm),
      col("event_type"), col("value"))
      .withColumnRenamed("grp", "event_type")
  }

  /** Exact 1-D Wasserstein-1 distance between the hash arms' per-type
    * value distributions ([[ops.Analytics.wassersteinDrift]], Ramdas
    * et al. 2017) — drift MAGNITUDE in value units, next to q175's
    * banded PSI and q180's unitless D. */
  private def qWasserstein(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val arm = pmod(graft.expr.Similarity.md5PrefixLong(col("user_id").cast("string"), 8), lit(100L)) < 50
    ops.Analytics.wassersteinDrift(ev.filter(arm), ev.filter(!arm),
      col("event_type"), col("value"))
      .withColumnRenamed("grp", "event_type")
  }

  /** Cochran's Q over the q210 gate panel — is any gate
    * systematically stricter on the same docs (the repeated-measures
    * rate test the agreement statistics don't answer)
    * ([[ops.Quality.cochranQ]]). */
  private def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = TextStats.gopherRules(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("keep"))
    val items = docs.join(keep, "doc_id")
      .select(col("keep").as("r1"),
        col("n_chars").between(100L, 600L).as("r2"),
        (col("lang") === "en").as("r3"))
    ops.Quality.cochranQ(items, Seq(col("r1"), col("r2"), col("r3")))
  }

  /** McNemar paired comparison of the gopher gate vs the length band
    * — does one gate pass docs the other fails ASYMMETRICALLY
    * ([[ops.Quality.mcnemar]]); exact df=1 p through the shared erfc. */
  private def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val keep = TextStats.gopherRules(docs, col("doc_id"), col("text"))
      .select(col("doc_id"), col("keep"))
    ops.Quality.mcnemar(docs.join(keep, "doc_id"),
      col("keep"), col("n_chars").between(100L, 600L))
  }

  /** Risk–coverage curve over the shared holdout confidence frame —
    * the selective-prediction operating point: the smallest confidence
    * threshold whose answered subset hits 90% accuracy, with the whole
    * coverage/accuracy curve around it
    * ([[ops.Quality.riskCoverage]]). */
  private def qRiskCoverage(s: SparkSession, dir: String): DataFrame =
    ops.Quality.riskCoverage(nbConfidence(s, dir), col("conf"),
      col("pred_lab") === col("lang"), targetAcc = 0.9)

  /** Average precision (PR-AUC, step form) of confidence as a
    * correctness ranker on the holdout — the class-imbalance-honest
    * summary next to q168's ROC AUC
    * ([[ops.Quality.averagePrecision]]). */
  private def qAvgPrecision(s: SparkSession, dir: String): DataFrame =
    ops.Quality.averagePrecision(nbConfidence(s, dir), col("conf"),
      col("pred_lab") === col("lang"))

  /** Mann–Kendall monotone-trend test + Theil–Sen robust slope over
    * the daily event-rate series per type — the outlier-proof
    * rate-of-change readout next to q221's rank correlation
    * ([[ops.Analytics.theilSenTrend]]); day-grid pair table, exact
    * integer S and tie correction. */
  private def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    ops.Analytics.theilSenTrend(daily, col("event_type"),
      datediff(col("day"), lit("1970-01-01").cast("date")), col("n"))
      .withColumnRenamed("grp", "event_type")
  }

  /** Diagonal-Fréchet distance between the even/odd embedding
    * snapshots — "did the embedding distribution move", the
    * embedding-space drift monitor next to q83/q175
    * ([[ops.Analytics.embeddingFrechet]]). */
  private def qEmbeddingFrechet(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    ops.Analytics.embeddingFrechet(emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0), col("embedding"))
  }

  /** Temperature-scaling scan (Guo et al.) over the shared NB holdout
    * score artifact: mean true-label NLL per grid temperature, argmin
    * flagged — `best ≠ 1.0` is the one-number miscalibration verdict
    * next to q169's ECE ([[ops.Quality.temperatureScan]]). */
  private def qTemperatureScan(s: SparkSession, dir: String): DataFrame = {
    val sc = sharedNbHoldoutScores(s, dir)._2
    val labels = t(s, dir, "documents").filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("lang").as("lab"))
    ops.Quality.temperatureScan(sc, labels)
  }

  /** Confident-learning label-noise audit of the lang labels
    * (Northcutt et al.): per-class self-confidence thresholds over the
    * NB posteriors, off-diagonal suspected-error matrix — the label
    * gate before training on weak labels
    * ([[ops.Quality.labelNoise]]). */
  private def qLabelNoise(s: SparkSession, dir: String): DataFrame =
    ops.Quality.labelNoise(t(s, dir, "documents"), col("doc_id"),
      col("text"), col("lang"),
      scores0 = Some(sharedNbFullScores(s, dir)))

  /** Unigram-LM Viterbi segmentation over each doc's 48-char prefix
    * (SentencePiece-style inference — completes the tokenizer family
    * next to the BPE merge loop): integer bit-length costs, packed
    * (cost, pieces) DP state, per-doc optimal piece count + total cost
    * ([[ops.Bpe.unigramSegment]]). */
  private def qUnigramSegment(s: SparkSession, dir: String): DataFrame =
    ops.Bpe.unigramSegment(t(s, dir, "documents"), col("doc_id"),
      col("text"))

  /** Template detection by shared 8-token affix over the corpus with
    * injected header/footer families (every 7th doc gains a template
    * header, every remaining 13th a footer — the q141/q176 injection
    * pattern): multi-source families are scraped boilerplate,
    * single-source are site templates. */
  private def qTemplateAffix(s: SparkSession, dir: String): DataFrame = {
    val header = "begin template header common tokens here now ok "
    val footer = " standard footer disclaimer terms apply here end now"
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
      when(col("doc_id") % 7 === 0, concat(lit(header), col("text")))
        .when(col("doc_id") % 13 === 0, concat(col("text"), lit(footer)))
        .otherwise(col("text")).as("text"))
    ops.TextDedup.templateAffixGroups(d, col("doc_id"), col("text"),
      col("source"), 8)
  }

  /** Two-sample KS statistic of the per-source NLL distribution
    * between the even and odd corpus halves — the binning-free drift
    * TEST next to q175's PSI; reads the shared score artifact. */
  private def qKsDrift(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(sharedUnigramNll(s, dir).select(col("doc_id"), col("nll")),
        "doc_id")
    ops.Analytics.ksDrift(d.filter(col("doc_id") % 2 === 0),
      d.filter(col("doc_id") % 2 === 1), col("source"), col("nll"))
      .withColumnRenamed("grp", "source")
  }

  /** Pairwise source-vocabulary Jaccard over each source's top-200
    * terms (by tf, from the session TF artifact) — the domain-
    * similarity matrix of the mixture. */
  private def qVocabOverlap(s: SparkSession, dir: String): DataFrame =
    ops.TextDedup.topVocabOverlap(
      sharedTermFreqs(s, dir).join(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id"),
      col("source"), col("term"), col("tf"), 200)

  /** The five-stage curation FUNNEL — the attrition report every
    * released corpus ships (how many docs/tokens each gate costs):
    * ingest → Gopher rules (q127) → near-dup canonical-only (q21/q63/
    * q125's LSH→CC→longest-member chain) → per-source p75 perplexity
    * gate (q137) → 5-gram decontamination (q54). Pure COMPOSITION of
    * audited parts: every per-doc flag derives from a shared session
    * artifact (TF table for token counts, LSH candidate pairs, NLL
    * scores), the flag table is materialized ONCE, and each stage
    * rollup is one aggregation over it with the cumulative flag
    * conjunction — the funnel costs flag-derivation + 5 tiny scans,
    * not 5 pipeline re-runs. Gate parameters/membership are computed
    * on the FULL corpus (the artifact semantic, matching each
    * component query), then applied cumulatively. keep_rate is
    * stage-over-previous-stage (ingest = 1.0).
    *
    * Session-scoped MATERIALIZED per-doc funnel flag table — the
    * (doc_id, source, n_tok, f2..f5) gate decisions q182's corpus
    * rollup and q183's per-source breakdown both read: the gates
    * evaluate once per session. */
  private val sharedFunnelFlags =
    Artifacts.declare("funnel_flags", "q182_curation_funnel") { (s, dir) =>
      val docs = t(s, dir, "documents")
      val ntok = sharedTermFreqs(s, dir).groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tok"))
      val gopher = TextStats.gopherRules(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("keep").as("f2"))
      val grp = ops.Graph.dedupGroups(docs, "doc_id",
        sharedLshCandidates(s, dir), "doc_a", "doc_b")
      val canon = grp.join(docs.select(col("doc_id"), col("n_chars")),
          "doc_id")
        .groupBy(col("group_id"))
        .agg(max_by(col("doc_id"),
          struct(col("n_chars"), (-col("doc_id")).as("neg"))).as("canon_id"))
      val kd = grp.select(col("doc_id"), col("group_id"))
        .join(canon, "group_id")
        .select(col("doc_id"), (col("doc_id") === col("canon_id")).as("f3"))
      val nll = sharedUnigramNll(s, dir).select(col("doc_id"), col("nll"))
      val thr = docs.select(col("doc_id"), col("source")).join(nll, "doc_id")
        .groupBy(col("source"))
        .agg(round(expr("percentile(nll, 0.75)"), 4).as("threshold"))
      val gAll = sharedShingles5(s, dir)
      val contam = TextDedup.contamination(gAll,
        gAll.filter(col("doc_id") < 20))
      docs.select(col("doc_id"), col("source"))
        .join(ntok, "doc_id")
        .join(gopher, "doc_id")
        .join(kd, Seq("doc_id"), "left")
        .join(nll, "doc_id")
        .join(broadcast(thr), "source")
        .join(contam.select(col("doc_id"), lit(true).as("bad")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_tok"), col("f2"),
          coalesce(col("f3"), lit(true)).as("f3"),
          (col("nll") <= col("threshold")).as("f4"),
          col("bad").isNull.as("f5"))
        .localCheckpoint(true)
    }

  /** The q182/q183 stage ladder: cumulative conjunction of the gates. */
  private def funnelStages: Seq[(Long, String, Column)] = Seq(
    (1L, "ingest", lit(true)),
    (2L, "gopher", col("f2")),
    (3L, "dedup", col("f2") && col("f3")),
    (4L, "perplexity", col("f2") && col("f3") && col("f4")),
    (5L, "decontam", col("f2") && col("f3") && col("f4") && col("f5")))

  private def qCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flags = sharedFunnelFlags(s, dir)
    val rows = funnelStages.map { case (i, nm, pred) =>
      flags.filter(pred)
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .select(lit(i).as("stage_idx"), lit(nm).as("stage"),
          col("n_docs"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    }.reduce(_.unionByName(_))
    val w = Window.orderBy(col("stage_idx"))
    rows.select(col("stage_idx"), col("stage"), col("n_docs"),
      col("n_tokens"),
      coalesce(round(col("n_docs").cast("double") /
        lag(col("n_docs").cast("double"), 1).over(w), 6), lit(1.0))
        .as("keep_rate"))
  }

  /** The funnel per SOURCE — which sources the gates cut and which
    * survive (the mixture-shift audit q163's reweighting needs next to
    * the corpus-level attrition): per (source, stage) surviving doc
    * counts over the same shared flag table. Only non-empty cells are
    * rows. */
  private def qFunnelBySource(s: SparkSession, dir: String): DataFrame =
    funnelStages.map { case (i, nm, pred) =>
      sharedFunnelFlags(s, dir).filter(pred)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .select(col("source"), lit(i).as("stage_idx"), lit(nm).as("stage"),
          col("n_docs"), col("n_tokens"))
    }.reduce(_.unionByName(_))

  /** Gate OVERLAP audit over the funnel flag artifact — which gates
    * are redundant and which do exclusive work: for every gate pair
    * the joint-failure count, and per gate the failures no other gate
    * would have caught (`n_exclusive`, diagonal rows only) — the
    * number that says whether a gate earns its runtime. ONE aggregation
    * pass over the materialized flag table (the q103 stack pattern:
    * one agg row exploded to long format in-plan), zero joins. */
  private def qGateOverlap(s: SparkSession, dir: String): DataFrame = {
    val flags = sharedFunnelFlags(s, dir)
    val gates = Seq("gopher" -> col("f2"), "dedup" -> col("f3"),
      "perplexity" -> col("f4"), "decontam" -> col("f5"))
    def cnt(pred: Column) = sum(when(pred, 1L).otherwise(0L))
    val aggs = (for {
      (i, (na, fa)) <- gates.zipWithIndex.map(_.swap)
      (j, (nb, fb)) <- gates.zipWithIndex.map(_.swap) if i <= j
    } yield {
      val key = s"p_${i}_$j"
      (key, na, nb,
        if (i == j) cnt(!fa) else cnt(!fa && !fb),
        if (i == j) Some(cnt(gates.zipWithIndex.map { case ((_, f), k) =>
          if (k == i) !f else f }.reduce(_ && _))) else None)
    })
    val exprs = aggs.flatMap { case (key, _, _, both, excl) =>
      Seq(both.as(key)) ++ excl.map(_.as(key + "_x"))
    }
    val row = flags.agg(exprs.head, exprs.tail: _*)
    val structs = aggs.map { case (key, na, nb, _, excl) =>
      struct(lit(na).as("gate_a"), lit(nb).as("gate_b"),
        col(key).as("n_fail_both"),
        (if (excl.isDefined) col(key + "_x")
         else lit(null).cast("long")).as("n_exclusive"))
    }
    row.select(explode(array(structs: _*)).as("kv"))
      .select(col("kv.gate_a"), col("kv.gate_b"), col("kv.n_fail_both"),
        col("kv.n_exclusive"))
  }

  /** Gate COST/benefit closure — q186 counts what each gate
    * exclusively catches; this prices it: per gate, the deterministic
    * WORK its machinery must touch (input rows — docs for the Gopher
    * rules, distinct 3-gram shingle rows for LSH dedup, (doc, term, tf)
    * rows for the perplexity gate, distinct 5-gram rows for decontam),
    * next to its lone-failure and exclusive-catch counts, and
    * exclusive catches per MILLION input rows — "does this gate earn
    * its runtime" as a hash-checkable table. Wall-clock itself is
    * non-deterministic (not oracle-comparable); it lives in the bench
    * record, where q127/q21/q137/q54 time exactly this machinery —
    * this table supplies the deterministic denominator to read those
    * timings against. All counts read shared session artifacts; one
    * flag-table pass + four count rows. */
  private def qGateCost(s: SparkSession, dir: String): DataFrame = {
    val flags = sharedFunnelFlags(s, dir)
    val gates = Seq(("gopher", col("f2")), ("dedup", col("f3")),
      ("perplexity", col("f4")), ("decontam", col("f5")))
    def excl(i: Int) = gates.zipWithIndex.map { case ((_, f), k) =>
      if (k == i) !f else f }.reduce(_ && _)
    val aggs = gates.zipWithIndex.flatMap { case ((_, f), i) =>
      Seq(sum(when(!f, 1L).otherwise(0L)).as(s"fail_$i"),
        sum(when(excl(i), 1L).otherwise(0L)).as(s"x_$i")) }
    val ben = flags.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(gates.zipWithIndex.map { case ((nm, _), i) =>
        struct(lit(nm).as("gate"), col(s"fail_$i").as("n_fail"),
          col(s"x_$i").as("n_exclusive")) }: _*)).as("kv"))
      .select(col("kv.gate"), col("kv.n_fail"), col("kv.n_exclusive"))
    def c1(nm: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_input_rows"))
        .select(lit(nm).as("gate"), col("n_input_rows"))
    val costs = c1("gopher", t(s, dir, "documents"))
      .unionByName(c1("dedup", docShingles(s, dir)))
      .unionByName(c1("perplexity", sharedTermFreqs(s, dir)))
      .unionByName(c1("decontam", sharedShingles5(s, dir)))
    ben.join(broadcast(costs), "gate")
      .select(col("gate"), col("n_input_rows"), col("n_fail"),
        col("n_exclusive"),
        round(col("n_exclusive").cast("double") * lit(1e6) /
          col("n_input_rows").cast("double"), 4).as("exclusive_per_mrow"))
  }

  /** Media near-dup pairs by keyframe-fingerprint overlap (32-byte
    * frames, stride 1, Jaccard ≥ 0.3) — the multimodal MinHash analog:
    * candidates from the frame-hash equi-join, never all-pairs. */
  private def qMediaNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaNearDup(
      Multimodal.asMediaTable(t(s, dir, "documents")), 0.3, 32, 1)

  /** Release-over-release DATASHEET DIFF: q166's per-source rollup
    * computed on the even/odd snapshot halves (the q72/q83/q175
    * convention) and differenced — the "what changed since the last
    * release" audit (doc/token deltas, mean-loss drift) a corpus
    * CHANGELOG needs next to the datasheet itself. One pass over the
    * shared score artifact (it already carries n_tokens); per-half
    * conditional aggregates, means guarded for empty halves, deltas
    * from the rounded means. */
  private def qDatasheetDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.expr.Snap
    val base = t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(sharedUnigramNll(s, dir), "doc_id")
      .withColumn("old", col("doc_id") % 2 === 0)
    base.groupBy(col("source"))
      .agg(
        sum(when(col("old"), 1L).otherwise(0L)).as("docs_old"),
        sum(when(!col("old"), 1L).otherwise(0L)).as("docs_new"),
        sum(when(col("old"), col("n_tokens")).otherwise(0L)).as("tokens_old"),
        sum(when(!col("old"), col("n_tokens")).otherwise(0L)).as("tokens_new"),
        Snap.snappedSum(when(col("old"), col("nll")).otherwise(lit(0.0)), 1e9)
          .as("s_old"),
        Snap.snappedSum(when(!col("old"), col("nll")).otherwise(lit(0.0)), 1e9)
          .as("s_new"))
      .select(col("source"), col("docs_old"), col("docs_new"),
        (col("docs_new") - col("docs_old")).as("delta_docs"),
        col("tokens_old"), col("tokens_new"),
        when(col("docs_old") > 0,
          round(col("s_old") / col("docs_old").cast("double"), 6))
          .as("mean_nll_old"),
        when(col("docs_new") > 0,
          round(col("s_new") / col("docs_new").cast("double"), 6))
          .as("mean_nll_new"))
      .withColumn("delta_nll",
        round(col("mean_nll_new") - col("mean_nll_old"), 6))
  }

  /** Contrastive triplets (anchor, hardest positive, hardest negative)
    * with margins — the metric-learning example constructor composing
    * q159's boundary-negative mining with its same-label dual in ONE
    * corpus pass. */
  private def qTriplets(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.contrastiveTriplets(emb, emb.filter(col("vec_id") < 10))
  }

  /** Per-cell PQ reconstruction error of the served index — the
    * index-quality table predicting q189's quantization losses. */
  private def qQuantError(s: SparkSession, dir: String): DataFrame =
    Ann.pqQuantError(t(s, dir, "embeddings"), sharedIvfPqIndex(s, dir))

  /** Miss attribution for the served IVF·PQ index: per (query, tier),
    * exact-top-10 misses split into probe losses (cell not probed) vs
    * quantization losses (cell probed, ADC outranked) — the "why"
    * behind q142's recall, on the shared artifacts. */
  private def qMissAttribution(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.missAttribution(emb, emb.filter(col("vec_id") < 5),
      sharedIvfPqIndex(s, dir), Seq(1, 2, 4), 10,
      exact0 = Some(sharedExactTopK(s, dir).select(col("q_id"), col("n_id"))))
  }

  /** MRR@10 of the served residual IVF·PQ index vs the exact ranking,
    * per nprobe tier — completes the retrieval-eval triptych (q142
    * recall / q157 nDCG / q178 MRR) on the shared session artifacts. */
  private def qMrr(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Ann.mrrEval(emb, emb.filter(col("vec_id") < 5),
      sharedIvfPqIndex(s, dir), Seq(1, 2, 4), 10,
      exact0 = Some(sharedExactTopK(s, dir).select(col("q_id"), col("n_id"))))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (qPricingSummary _),
    "q02_latest_per_user" -> (qLatestPerUser _),
    "q03_distinct_pairs" -> (qDistinctPairs _),
    "q04_status_filter" -> (qStatusFilter _),
    "q05_retention_window" -> (qRetentionWindow _),
    "q06_junk_guard" -> (qJunkGuard _),
    "q07_anti_join" -> (qAntiJoin _),
    "q08_alt_key_join" -> (qAltKeyJoin _),
    "q09_star_revenue" -> (qStarRevenue _),
    "q10_dim_upsert" -> (qDimUpsert _),
    "q11_fact_merge" -> (qFactMerge _),
    "q12_insert_if_absent" -> (qInsertIfAbsent _),
    "q13_incremental_export" -> (qIncrementalExport _),
    "q14_topk_routes" -> (qTopkRoutes _),
    "q15_ontime_trend" -> (qOntimeTrend _),
    "q16_avg_by_group" -> (qAvgByGroup _),
    "q17_clean_ts" -> (qCleanTs _),
    "q18_sessionize" -> (qSessionize _),
    "q19_distinct_count" -> (qDistinctCount _),
    "q20_dedup_exact" -> (qDedupExact _),
    "q21_minhash_lsh" -> (qMinhashLsh _),
    "q22_ngram_jaccard" -> sharedVerifiedJaccard,
    "q23_simhash" -> (qSimhash _),
    "q24_text_stats" -> (qTextStats _),
    "q25_ann_cosine" -> sharedExactTopK,
    "q26_media_meta" -> (qMediaMeta _),
    "q27_ann_ivf" -> (qAnnIvf _),
    "q28_stream_pipeline" -> (qStreamPipeline _),
    "q29_window_agg" -> (qWindowAgg _),
    "q30_sliding_window" -> (qSlidingWindow _),
    "q31_approx_distinct" -> (qApproxDistinct _),
    "q32_dedup_embedding" -> (qDedupEmbedding _),
    "q33_asof_join" -> (qAsofJoin _),
    "q34_media_features" -> (qMediaFeatures _),
    "q35_range_join" -> (qRangeJoin _),
    "q36_percentiles" -> (qPercentiles _),
    "q37_rollup" -> (qRollup _),
    "q38_pivot" -> (qPivot _),
    "q39_rolling_hash" -> (qRollingHash _),
    "q40_latest_window" -> (qLatestWindow _),
    "q41_approx_percentile" -> (qApproxPercentile _),
    "q42_hash_split" -> (qHashSplit _),
    "q43_export_render" -> (qExportRender _),
    "q44_cube" -> (qCube _),
    "q45_window_funcs" -> (qWindowFuncs _),
    "q46_warehouse_cycle" -> (qWarehouseCycle _),
    "q47_bitset_distinct" -> (qBitsetDistinct _),
    "q48_edit_distance" -> (qEditDistance _),
    "q49_stratified_sample" -> (qStratified _),
    "q50_vocab" -> (qVocab _),
    "q51_set_ops" -> (qSetOps _),
    "q52_span_dedup" -> (qSpanDedup _),
    "q53_pii_scrub" -> (qPiiScrub _),
    "q54_contamination" -> (qContamination _),
    "q55_ann_lsh" -> (qAnnLsh _),
    "q56_frame_sample" -> (qFrameSample _),
    "q57_weighted_sample" -> (qWeightedSample _),
    "q58_repetition" -> (qRepetition _),
    "q59_seq_pack" -> (qSeqPack _),
    "q60_vocab_encode" -> (qVocabEncode _),
    "q61_heavy_hitters" -> (qHeavyHitters _),
    "q62_bloom_prune" -> (qBloomPrune _),
    "q63_dedup_groups" -> (qDedupGroups _),
    "q64_tfidf" -> (qTfidf _),
    "q65_agg_merge" -> (qAggMerge _),
    "q66_bm25" -> (qBm25 _),
    "q67_quantize" -> (qQuantize _),
    "q68_hll_registers" -> (qHllRegisters _),
    "q69_zorder" -> (qZorder _),
    "q70_hist_quantiles" -> (qHistQuantiles _),
    "q71_mixture" -> (qMixture _),
    "q72_snapshot_diff" -> (qSnapshotDiff _),
    "q73_unigram_nll" -> sharedUnigramNll,
    "q74_centroids" -> (qCentroids _),
    "q75_or_join_rewrite" -> (qOrJoinRewrite _),
    "q76_kmeans" -> (qKmeans _),
    "q77_compaction" -> (qCompaction _),
    "q78_winsorize" -> (qWinsorize _),
    "q79_gap_fill" -> (qGapFill _),
    "q80_source_topic" -> (qSourceTopic _),
    "q81_ingest_oracle" -> (qIngestOracle _),
    "q82_sliding_chunks" -> (qSlidingChunks _),
    "q83_drift" -> (qDrift _),
    "q84_temperature" -> (qTemperature _),
    "q85_ivf_trained" -> (qIvfTrained _),
    "q86_ntile_bins" -> (qNtileBins _),
    "q87_scd2" -> (qScd2 _),
    "q88_cohort" -> (qCohort _),
    "q89_funnel" -> (qFunnel _),
    "q90_inverted_index" -> (qInvertedIndex _),
    "q91_pmi" -> (qPmi _),
    "q92_gram_matrix" -> (qGramMatrix _),
    "q93_pagerank" -> (qPagerank _),
    "q94_triangles" -> (qTriangles _),
    "q95_transitions" -> (qTransitions _),
    "q96_join_size_est" -> (qJoinSizeEst _),
    "q97_table_checksum" -> (qTableChecksum _),
    "q98_cdc_roundtrip" -> (qCdcRoundtrip _),
    "q99_rolling_window" -> (qRollingWindow _),
    "q100_incremental_mv" -> (qIncrementalMv _),
    "q101_twap" -> (qTwap _),
    "q102_group_regression" -> (qGroupRegression _),
    "q103_quality_report" -> (qQualityReport _),
    "q104_entropy" -> (qEntropy _),
    "q105_skew_gini" -> (qSkewGini _),
    "q106_quantile_norm" -> (qQuantileNorm _),
    "q107_attribution" -> (qAttribution _),
    "q108_streaks" -> (qStreaks _),
    "q109_rolling_distinct" -> (qRollingDistinct _),
    "q110_ab_test" -> (qAbTest _),
    "q111_time_to_convert" -> (qTimeToConvert _),
    "q112_bpe_merges" -> (qBpeMerges _),
    "q113_bigram_nll" -> (qBigramNll _),
    "q114_leakage_split" -> (qLeakageSplit _),
    "q115_silhouette" -> (qSilhouette _),
    "q116_prefix_simjoin" -> (qPrefixSimJoin _),
    "q117_cdc_chunks" -> (qCdcChunks _),
    "q118_min_k_sample" -> (qMinKSample _),
    "q119_zipf_fit" -> (qZipfFit _),
    "q120_semdedup" -> (qSemDedup _),
    "q121_source_budget" -> (qSourceBudget _),
    "q122_dsir_weight" -> (qDsirWeights _),
    "q123_shard_manifest" -> (qShardManifest _),
    "q124_rrf_fusion" -> (qRrfFusion _),
    "q125_canonical_pick" -> (qCanonicalPick _),
    "q126_bpe_fertility" -> (qBpeFertility _),
    "q127_gopher_rules" -> (qGopherRules _),
    "q128_length_batching" -> (qLengthBatching _),
    "q129_knn_graph" -> (qKnnGraph _),
    "q130_token_apportion" -> (qTokenApportion _),
    "q131_source_overlap" -> (qSourceOverlap _),
    "q132_substring_dedup" -> (qSubstringDedup _),
    "q133_pq_adc" -> (qPqAdc _),
    "q134_oov_rate" -> (qOovRate _),
    "q135_ivf_pq" -> (qIvfPq _),
    "q136_ngram_novelty" -> (qNgramNovelty _),
    "q137_perplexity_gate" -> (qPerplexityGate _),
    "q138_truncation_eval" -> (qTruncationEval _),
    "q139_dedup_audit" -> (qDedupChainAudit _),
    "q140_length_bias" -> (qLengthBias _),
    "q141_corrupt_ingest" -> (qCorruptIngest _),
    "q142_ivfpq_recall" -> (qIvfPqRecall _),
    "q143_ivfpq_rerank" -> (qIvfPqRerank _),
    "q144_containment" -> (qContainment _),
    "q145_sq8_ann" -> (qSq8 _),
    "q146_ivf_sq8" -> (qIvfSq8 _),
    "q147_index_drift" -> (qIndexDrift _),
    "q148_semantic_decontam" -> (qSemanticDecontam _),
    "q149_lsh_planner" -> (qLshPlanner _),
    "q150_minhash_calibration" -> (qMinhashCalibration _),
    "q151_block_dedup" -> (qBlockDedup _),
    "q152_incremental_cc" -> (qIncrementalCc _),
    "q153_diverse_topk" -> (qDiverseTopK _),
    "q154_nb_confusion" -> (qNbConfusion _),
    "q155_mmr_rerank" -> (qMmrRerank _),
    "q156_nb_holdout" -> (qNbHoldout _),
    "q157_ndcg" -> (qNdcg _),
    "q158_bloom_decontam" -> (qBloomDecontam _),
    "q159_hard_negatives" -> (qHardNegatives _),
    "q160_semantic_split" -> (qSemanticSplit _),
    "q161_curriculum" -> (qCurriculum _),
    "q162_span_corruption" -> (qSpanCorruption _),
    "q163_doremi_step" -> (qDoremi _),
    "q164_phrase_tags" -> (qPhraseTags _),
    "q165_decontam_apply" -> (qDecontamApply _),
    "q166_datasheet" -> (qDatasheet _),
    "q167_jl_eval" -> (qJlEval _),
    "q168_score_auc" -> (qScoreAuc _),
    "q169_nb_calibration" -> (qNbCalibration _),
    "q170_fim_split" -> (qFimSplit _),
    "q171_bradley_terry" -> (qBradleyTerry _),
    "q172_label_prop" -> (qLabelProp _),
    "q173_mad_outliers" -> (qMadOutliers _),
    "q174_kappa" -> (qKappa _),
    "q175_psi_drift" -> (qPsiDrift _),
    "q176_canonical_dedup" -> (qCanonicalDedup _),
    "q177_rouge1" -> (qRouge1 _),
    "q178_mrr" -> (qMrr _),
    "q179_template_affix" -> (qTemplateAffix _),
    "q180_ks_drift" -> (qKsDrift _),
    "q181_vocab_overlap" -> (qVocabOverlap _),
    "q182_curation_funnel" -> (qCurationFunnel _),
    "q183_funnel_by_source" -> (qFunnelBySource _),
    "q184_triplets" -> (qTriplets _),
    "q185_datasheet_diff" -> (qDatasheetDiff _),
    "q186_gate_overlap" -> (qGateOverlap _),
    "q187_media_neardup" -> (qMediaNearDup _),
    "q188_bt_calibration" -> (qBtCalibration _),
    "q189_miss_attribution" -> (qMissAttribution _),
    "q190_quant_error" -> (qQuantError _),
    "q191_opq_recall" -> (qOpqRecall _),
    "q192_gate_cost" -> (qGateCost _),
    "q193_opq_quant_error" -> (qOpqQuantError _),
    "q194_mojibake_gate" -> (qMojibake _),
    "q195_bleu2" -> (qBleu2 _),
    "q196_kn_bigram" -> (qKnBigramNll _),
    "q197_chrf" -> (qChrf _),
    "q198_distinct_ngrams" -> (qDistinctNgrams _),
    "q199_blocklist_gate" -> (qBlocklistGate _),
    "q200_unigram_segment" -> (qUnigramSegment _),
    "q201_logreg_distill" -> (qLogregDistill _),
    "q202_pca_power" -> (qPcaPower _),
    "q203_kmv_sketch" -> (qKmvSketch _),
    "q204_pass_at_k" -> (qPassAtK _),
    "q205_wilson_ci" -> (qWilsonCi _),
    "q206_chao1" -> (qChao1 _),
    "q207_jm_lambda" -> (qJmLambda _),
    "q208_srm_check" -> (qSrmCheck _),
    "q209_heaps_fit" -> (qHeapsFit _),
    "q210_fleiss_kappa" -> (qFleissKappa _),
    "q211_ab_sizing" -> (qAbSizing _),
    "q212_bh_fdr" -> (qBhFdr _),
    "q213_concentration" -> (qConcentration _),
    "q214_brier" -> (qBrier _),
    "q215_cusum" -> (qCusum _),
    "q216_event_funnel" -> (qEventFunnel _),
    "q217_mann_whitney" -> (qMannWhitney _),
    "q218_ewma" -> (qEwma _),
    "q219_chi2_drift" -> (qChi2Drift _),
    "q220_jsd" -> (qJsd _),
    "q221_spearman" -> (qSpearman _),
    "q222_sprt" -> (qSprt _),
    "q223_kfold_nb" -> (qKfoldNb _),
    "q224_dirichlet_ql" -> (qDirichletQl _),
    "q225_bootstrap_ci" -> (qBootstrapCi _),
    "q226_rm_expansion" -> (qRmExpansion _),
    "q227_label_noise" -> (qLabelNoise _),
    "q228_theil_sen" -> (qTheilSen _),
    "q229_embedding_frechet" -> (qEmbeddingFrechet _),
    "q230_temperature_scan" -> (qTemperatureScan _),
    "q231_binary_hamming" -> (qBinaryHamming _),
    "q232_krippendorff" -> (qKrippendorff _),
    "q233_skew_advisor" -> (qSkewAdvisor _),
    "q234_k_anonymity" -> (qKAnonymity _),
    "q235_k_center" -> (qKCenter _),
    "q236_phrase_search" -> (qPhraseSearch _),
    "q237_dp_counts" -> (qDpCounts _),
    "q238_skipgram" -> (qSkipgram _),
    "q239_dunning" -> (qDunning _),
    "q240_funnel_times" -> (qFunnelTimes _),
    "q241_risk_coverage" -> (qRiskCoverage _),
    "q242_avg_precision" -> (qAvgPrecision _),
    "q243_funnel_segment" -> (qFunnelSegment _),
    "q244_ess_report" -> (qEssReport _),
    "q245_cochran_q" -> (qCochranQ _),
    "q246_mcnemar" -> (qMcnemar _),
    "q247_quantile_shift" -> (qQuantileShift _),
    "q248_cuped" -> (qCuped _),
    "q249_jackknife_ratio" -> (qJackknife _),
    "q250_by_fdr" -> (qByFdr _),
    "q251_delta_method" -> (qDeltaMethod _),
    "q252_kmv_intersect" -> (qKmvIntersect _),
    "q253_kcore" -> (qKCore _),
    "q254_kaplan_meier" -> (qKaplanMeier _),
    "q255_logrank" -> (qLogRank _),
    "q256_cox_hazard" -> (qCoxHazard _),
    "q257_poststrat" -> (qPostStrat _),
    "q258_rmst_diff" -> (qRmstDiff _),
    "q259_km_greenwood" -> (qKmGreenwood _),
    "q260_weibull_fit" -> (qWeibullFit _),
    "q261_cif_competing" -> (qCifCompeting _),
    "q262_stratified_logrank" -> (qStratLogrank _),
    "q263_mantel_haenszel" -> (qMantelHaenszel _),
    "q264_msprt" -> (qMsprt _),
    "q265_good_turing" -> (qGoodTuring _),
    "q266_burstiness" -> (qBurstiness _),
    "q267_design_effect" -> (qDesignEffect _),
    "q268_winnowing" -> (qWinnowing _),
    "q269_rbo" -> (qRbo _),
    "q270_best_of_n" -> (qBestOfN _),
    "q271_entropy_rate" -> (qEntropyRate _),
    "q272_zonemap_advisor" -> (qZoneMap _),
    "q273_data_constrained" -> (qDataConstrained _),
    "q274_hedges_g" -> (qHedgesG _),
    "q275_seasonal_mase" -> (qSeasonalMase _),
    "q276_changepoint" -> (qChangepoint _),
    "q277_hits" -> (qHits _),
    "q278_clustering_coef" -> (qClusteringCoef _),
    "q279_kendall_tau" -> (qKendallTau _),
    "q280_newcombe_ci" -> (qNewcombe _),
    "q281_textrank" -> (qTextRank _),
    "q282_sparse_cosine" -> (qSparseCosine _),
    "q283_cvm_drift" -> (qCvmDrift _),
    "q284_wasserstein" -> (qWasserstein _),
    "q285_pettitt" -> (qPettitt _),
    "q286_jarque_bera" -> (qJarqueBera _),
    "q287_conformal" -> (qConformal _),
    "q288_isotonic" -> (qIsotonic _),
    "q289_ljung_box" -> (qLjungBox _),
    "q290_holt" -> (qHolt _),
    "q291_seasonal_decomp" -> (qSeasonalDecompose _),
    "q292_cartography" -> (qCartography _),
    "q293_benford" -> (qBenford _),
    "q294_theil" -> (qTheil _),
    "q295_chapman" -> (qChapman _),
    "q296_youden" -> (qYouden _),
    "q297_delong_auc" -> (qDelong _),
    "q298_randomization" -> (qRandomization _),
    "q299_stationary" -> (qStationary _),
    "q300_contingency" -> (qContingency _),
    "q301_obrien_fleming" -> (qObf _),
    "q302_mean_power" -> (qMeanPower _),
    "q303_assortativity" -> (qAssortativity _),
    "q304_neighborhood" -> (qNeighborhood _),
    "q305_anisotropy" -> (qAnisotropy _),
    "q306_family_tail" -> (qFamilyTail _),
    "q307_cohens_h" -> (qCohensH _),
    "q308_seasonal_cp" -> (qSeasonalChangepoint _),
    "q309_neyman" -> (qNeyman _),
    "q310_rbp" -> (qRbp _),
    "q311_clarity" -> (qClarity _),
    "q312_mann_kendall" -> (qMannKendall _),
    "q313_runs_test" -> (qRunsTest _),
    "q314_length_bias" -> (qDuelLengthBias _),
    "q315_tokenizer_econ" -> (qTokenizerEcon _),
    "q316_bloom_fpr" -> (qBloomFpr _),
    "q317_threshold_sweep" -> (qThresholdSweep _),
    "q318_cm_error" -> (qCmError _),
    "q319_markov_attrib" -> (qMarkovAttribution _),
    "q320_energy_dist" -> (qEnergyDistance _),
    "q321_median_ci" -> (qMedianCI _),
    "q322_yuen" -> (qYuen _),
    "q323_dhash_neardup" -> (qDhashNearDup _),
    "q324_media_gates" -> (qMediaGates _),
    "q325_media_semdedup" -> (qMediaSemDedup _),
    "q326_aes_sample" -> (qAesSample _),
    "q327_ips_offpolicy" -> (qIpsOffPolicy _),
    "q328_mauve" -> (qMauve _),
    "q329_platt" -> (qPlatt _),
    "q330_confident_learning" -> (qConfidentLearning _),
    "q331_adamic_adar" -> (qAdamicAdar _),
    "q332_overlap_join" -> (qOverlapJoin _),
    "q333_l_diversity" -> (qLDiversity _),
    "q334_shapley" -> (qShapley _),
    "q335_crossmodal_recall" -> (qCrossModalRecall _),
    "q336_t_closeness" -> (qTCloseness _),
    "q337_modularity" -> (qModularity _),
    "q338_qini" -> (qQini _))

  // =====================================================================
  // DuckDB oracle SQL — column names/aliases must match the Spark output.
  // =====================================================================

  private val latestSql =
    "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1"

  private def simhashSql: String = {
    val bcols = (0 until 16).map(j =>
      s"sum(CASE WHEN (strpos('0123456789abcdef', substr(h, ${j + 1}, 1)) - 1) % 2 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val bits = (0 until 16).map(j =>
      s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    "WITH tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
      "tok AS (SELECT DISTINCT doc_id, tok FROM tok0), " +
      "hh AS (SELECT doc_id, md5(tok) AS h FROM tok), " +
      s"agg AS (SELECT doc_id, $bcols FROM hh GROUP BY 1) " +
      s"SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM agg"
  }

  // the affine minhash family in SQL, in lockstep with
  // Similarity.minhashTerm: (hi, lo) = first 28 + next 32 md5 bits per
  // DISTINCT shingle (one digest for all 8 members),
  // h_i = (a_i·hi + b_i·lo + c_i) mod P with the coefficients derived
  // from the literal Knuth multipliers
  private val shingleCte =
    "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      "sh0 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN " +
      "list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')) " +
      "ELSE []::VARCHAR[] END) AS shingle FROM toks), " +
      "sh1 AS (SELECT DISTINCT doc_id, shingle FROM sh0), " +
      "sh AS (SELECT doc_id, shingle, " +
      "CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS hi, " +
      "CAST(('0x' || substr(md5(shingle), 8, 8)) AS BIGINT) AS lo FROM sh1), " +
      "hs AS (SELECT unnest(generate_series(0, 7)) AS h), " +
      "sigs AS (SELECT doc_id, h, " +
      "min((((2654435761 * (h + 1)) % 2147483647) * hi + " +
      "((2246822519 * (h + 1)) % 1073741789) * lo + 40503 * h) % 2147483647) AS minhash " +
      "FROM sh CROSS JOIN hs GROUP BY 1, 2), " +
      "bands AS (SELECT doc_id, h // 2 AS band, " +
      "CAST(min(minhash) AS VARCHAR) || '|' || CAST(max(minhash) AS VARCHAR) AS band_sig " +
      "FROM sigs GROUP BY 1, 2), " +
      "cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a " +
      "JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)"

  /** Shared per-user right-censored duration table for the survival
    * pair (q254/q255), as a `u(user_id, t, e, a)` CTE: t0 = first
    * view, event = first strictly-later purchase, censoring at last
    * activity, day quantization via exact integer `//`, arm = the
    * q208 md5 hash bucket. */
  private val survivalUnitsCte =
    "sv AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1), " +
      "sp AS (SELECT e.user_id, min(e.ts) AS tp FROM events e JOIN sv ON e.user_id = sv.user_id " +
      "WHERE e.event_type = 'purchase' AND e.ts > sv.t0 GROUP BY 1), " +
      "sl AS (SELECT user_id, max(ts) AS tl FROM events GROUP BY 1), " +
      "u AS (SELECT sv.user_id, " +
      "(epoch_us(coalesce(sp.tp, sl.tl)) - epoch_us(sv.t0)) // 86400000000 AS t, " +
      "sp.tp IS NOT NULL AS e, " +
      "CAST(('0x' || substr(md5(CAST(sv.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS a " +
      "FROM sv LEFT JOIN sp ON sp.user_id = sv.user_id JOIN sl ON sl.user_id = sv.user_id)"

  /** The exact-Jaccard verify stage over the LSH candidates as a `jac`
    * CTE (composes after [[shingleCte]]) — shared by q22 and the
    * planner/calibration evals built on the verified-pair table. */
  private val jaccardCte =
    "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
      "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cands c " +
      "JOIN sh sa ON c.doc_a = sa.doc_id " +
      "JOIN sh sb ON c.doc_b = sb.doc_id AND sa.shingle = sb.shingle GROUP BY 1, 2), " +
      "jac AS (SELECT c.doc_a, c.doc_b, " +
      "round(CAST(coalesce(n_inter, 0) AS DOUBLE) / (za.sz + zb.sz - coalesce(n_inter, 0)), 4) AS jaccard " +
      "FROM cands c LEFT JOIN inter ON c.doc_a = inter.doc_a AND c.doc_b = inter.doc_b " +
      "JOIN sz za ON c.doc_a = za.doc_id JOIN sz zb ON c.doc_b = zb.doc_id)"

  /** DuckDB replay of the `flight_events` topic through the ENTIRE
    * ingest pipeline (payload is a pure function of the row index —
    * FlightEventsSource contract): `stg` = the 28-column staging table.
    * `prmSql` supplies `nr` (topic length) and `nowsec` (the
    * once-per-cycle `now`, the topic's last event time) — literal for
    * q81, `count(*) FROM events` for the SF-sized q28/q46. */
  private def stagingReplayCte(prmSql: String): String =
    s"WITH prm AS ($prmSql), " +
      "idx AS (SELECT unnest(generate_series(0, nr - 1)) AS i FROM prm), " +
      "e AS (SELECT i, make_timestamp((1700000000 + i * 60) * 1000000) AS t, " +
      "make_timestamp(nowsec * CAST(1000000 AS BIGINT)) AS nowts " +
      "FROM idx CROSS JOIN prm WHERE i % 5 <> 0), " + // cancelled not in the allow-list
      "f AS (SELECT * FROM e WHERE t >= nowts - INTERVAL 3 DAY " +
      "OR t + INTERVAL 2 HOUR >= nowts - INTERVAL 3 DAY), " +
      "stg AS (SELECT (i % 150) || '_' || i AS flight_key, " +
      "CAST(t AS DATE) AS flight_date, 'active' AS status, " +
      "t AS ingest_time, 'AA' || i AS flight_number, " +
      "CAST(NULL AS VARCHAR) AS flight_iata, CAST(NULL AS VARCHAR) AS flight_icao, " +
      "'AA' AS airline_iata, 'AAL' AS airline_icao, 'American' AS airline_name, " +
      "'Origin Intl' AS dep_airport, 'ORG' AS dep_airport_iata, " +
      "'KORG' AS dep_airport_icao, 'A' AS dep_terminal, '1' AS dep_gate, " +
      "t AS dep_scheduled, CAST(NULL AS TIMESTAMP) AS dep_estimated, " +
      "CAST(NULL AS TIMESTAMP) AS dep_actual, CAST(i % 30 AS DOUBLE) AS dep_delay_min, " +
      "'Dest Intl' AS arr_airport, 'DST' AS arr_airport_iata, " +
      "'KDST' AS arr_airport_icao, 'B' AS arr_terminal, " +
      "CAST(NULL AS VARCHAR) AS arr_gate, " +
      "t + INTERVAL 2 HOUR AS arr_scheduled, " +
      "CAST(NULL AS TIMESTAMP) AS arr_estimated, " +
      "CAST(NULL AS TIMESTAMP) AS arr_actual, " +
      "CAST(NULL AS DOUBLE) AS arr_delay_min FROM f)"

  /** `CAST(('0x' || substr(md5(canon), 1, 15)) AS BIGINT)` — the DuckDB
    * replay of [[graft.expr.Flags.surrogateId]]. */
  private def sidSql(canonSql: String): String =
    s"CAST(('0x' || substr(md5($canonSql), 1, 15)) AS BIGINT)"

  /** DuckDB replay of the 2-round Lloyd trajectory (init = vec_id<4,
    * 6-dp floor-snap at every boundary, smallest-cell tie-break): CTEs
    * through `a2` = the trained assignment. Shared by q76 and q85. */
  /** Shared oracle stanza (q173/q174/q175 — q73/q137/q140/q168/q171
    * carry it inline): the per-doc unigram-NLL score table `nllt`. */
  private val unigramNllCte =
    "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
      "tot0 AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1), " +
      "g AS (SELECT CAST(sum(ctf) AS DOUBLE) AS gt FROM tot0), " +
      "p AS (SELECT term, ctf / gt AS p FROM tot0, g), " +
      "nllt AS (SELECT doc_id, " +
      "round(-(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(tf), 4) AS nll " +
      "FROM tf JOIN p USING (term) GROUP BY 1)"

  /** Shared oracle stanza (q156/q169): the NB model trained on the
    * doc_id%3≠0 slice, densely scored on the held-out third — exposes
    * `te` (the holdout), `sc` (doc_id, clab, 4-dp score) and `best`
    * (the label-ascending argmax). */
  /** The q169/q214 holdout-confidence stanza: [[nbHoldoutCte]] +
    * softmax posteriors + per-doc (conf, ok) — shared by the Brier
    * decomposition, the risk–coverage curve, and average precision. */
  private lazy val nbConfCte =
    nbHoldoutCte +
      ", mx AS (SELECT doc_id, max(score) AS mx FROM sc GROUP BY 1), " +
      "ex AS (SELECT sc.doc_id, sc.clab, exp(score - mx) AS ex " +
      "FROM sc JOIN mx USING (doc_id)), " +
      "z AS (SELECT doc_id, CAST(sum(CAST(floor(ex * 1000000000 + 0.5) " +
      "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS z FROM ex GROUP BY 1), " +
      "pp AS (SELECT ex.doc_id, ex.clab, round(ex.ex / z.z, 6) AS prob " +
      "FROM ex JOIN z USING (doc_id)), " +
      "cf AS (SELECT b.doc_id, b.clab AS pred_lab, pp.prob AS conf " +
      "FROM best b JOIN pp ON pp.doc_id = b.doc_id AND pp.clab = b.clab), " +
      "okt AS (SELECT cf.conf, CASE WHEN cf.pred_lab = te.lang THEN 1 ELSE 0 END AS ok " +
      "FROM cf JOIN te USING (doc_id))"

  private val nbHoldoutCte =
    "WITH tr AS (SELECT * FROM documents WHERE doc_id % 3 <> 0), " +
      "te AS (SELECT * FROM documents WHERE doc_id % 3 = 0), " +
      "tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM tr), " +
      "dt AS (SELECT doc_id, lang AS lab, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3), " +
      "ct AS (SELECT lab, term, sum(tf) AS ctf FROM dt GROUP BY 1, 2), " +
      "vv AS (SELECT count(DISTINCT term) AS v FROM ct), " +
      "cs AS (SELECT lab, sum(ctf) AS ctot FROM ct GROUP BY 1), " +
      "pr AS (SELECT lang AS lab, count(*) AS nd FROM tr GROUP BY 1), " +
      "nt AS (SELECT count(*) AS ntot FROM tr), " +
      "ls AS (SELECT cs.lab AS clab, " +
      "ln(CAST(nd AS DOUBLE) / CAST(ntot AS DOUBLE)) AS prior_ln, " +
      "ln(1.0 / CAST(ctot + v AS DOUBLE)) AS lp0 " +
      "FROM cs JOIN pr USING (lab) CROSS JOIN vv CROSS JOIN nt), " +
      "ttok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM te), " +
      "tdt AS (SELECT doc_id, term, count(*) AS tf FROM ttok GROUP BY 1, 2), " +
      "seen AS (SELECT tdt.doc_id, ct.lab AS clab, " +
      "CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(CAST(ctf + 1 AS DOUBLE)) * 1000000000 + 0.5) " +
      "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s1 " +
      "FROM tdt JOIN ct ON tdt.term = ct.term GROUP BY 1, 2), " +
      "dn AS (SELECT doc_id, sum(tf) AS n_tok FROM tdt GROUP BY 1), " +
      "sc AS (SELECT dn.doc_id, ls.clab, " +
      "round(prior_ln + CAST(n_tok AS DOUBLE) * lp0 + coalesce(s1, 0.0), 4) AS score " +
      "FROM dn CROSS JOIN ls LEFT JOIN seen ON seen.doc_id = dn.doc_id AND seen.clab = ls.clab), " +
      "best AS (SELECT doc_id, clab FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY score DESC, clab) AS rn FROM sc) WHERE rn = 1)"


  /** Shared oracle stanza (q182/q183): the full funnel-flag chain —
    * LSH cands + NLL + gopher + canonical pick + p75 threshold +
    * gram decontam composed into a per-doc `flags` table. */
  /** The q127 Gopher token-stats stanza (s + m CTEs) and its keep
    * predicate — ONE definition shared by the q201/q204/q205 oracles
    * (q127 itself emits the per-rule columns; funnelFlagsCte carries a
    * namespaced copy). A rule change edits exactly one string. */
  private val gopherStatsCte =
    "s AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
    "m AS (SELECT doc_id, len(tk) AS n, " +
    "list_sum(list_transform(tk, t -> length(t))) AS sumlen, " +
    "len(list_distinct(tk)) AS dst, " +
    "list_max(list_transform(tk, t -> length(t))) AS mx, " +
    "len(list_filter(tk, t -> list_contains(['the','a','of','and','to','in','is','on','for','with'], t))) AS stp FROM s)"
  private val gopherKeepPred =
    "(n >= 25 AND n <= 80) AND (sumlen >= n * 4 AND sumlen <= n * 5) AND " +
    "(dst * 2 >= n) AND (stp >= 1) AND (mx <= 7)"

  private val funnelFlagsCte = s"WITH RECURSIVE $shingleCte, " +
        unigramNllCte.stripPrefix("WITH ") + ", " +
        "ntok AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1), " +
        "gs AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "gm AS (SELECT doc_id, len(tk) AS n, " +
        "list_sum(list_transform(tk, x -> length(x))) AS sumlen, " +
        "len(list_distinct(tk)) AS dst, " +
        "list_max(list_transform(tk, x -> length(x))) AS mx, " +
        "len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) AS stp FROM gs), " +
        "gk AS (SELECT doc_id, ((n >= 25 AND n <= 80) AND (sumlen >= n * 4 AND sumlen <= n * 5) " +
        "AND (dst * 2 >= n) AND (stp >= 1) AND (mx <= 7)) AS f2 FROM gm), " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM cands " +
        "UNION ALL SELECT doc_b AS a, doc_a AS b FROM cands), " +
        "reach AS (SELECT doc_id AS node, doc_id AS comp FROM documents " +
        "UNION SELECT e.b AS node, r.comp AS comp FROM reach r JOIN edges e ON e.a = r.node), " +
        "comp AS (SELECT node AS doc_id, min(comp) AS group_id FROM reach GROUP BY 1), " +
        "cn AS (SELECT group_id, doc_id AS canon_id FROM (SELECT c.group_id, d.doc_id, " +
        "row_number() OVER (PARTITION BY c.group_id ORDER BY d.n_chars DESC, d.doc_id) AS rn " +
        "FROM comp c JOIN documents d ON d.doc_id = c.doc_id) WHERE rn = 1), " +
        "dk AS (SELECT c.doc_id, (c.doc_id = cn.canon_id) AS f3 FROM comp c JOIN cn USING (group_id)), " +
        "thr AS (SELECT d.source, round(quantile_cont(n.nll, 0.75), 4) AS threshold " +
        "FROM documents d JOIN nllt n USING (doc_id) GROUP BY 1), " +
        "ct5 AS (SELECT doc_id, string_split(text, ' ') AS t5 FROM documents), " +
        "cg0 AS (SELECT doc_id, unnest(CASE WHEN len(t5) >= 5 THEN " +
        "list_transform(generate_series(1, len(t5) - 4), i -> array_to_string(t5[i:i+4], ' ')) " +
        "ELSE []::VARCHAR[] END) AS shg FROM ct5), " +
        "cg AS (SELECT DISTINCT doc_id, shg FROM cg0), " +
        "bnch AS (SELECT DISTINCT shg FROM cg WHERE doc_id < 20), " +
        "bad AS (SELECT DISTINCT doc_id FROM cg WHERE shg IN (SELECT shg FROM bnch)), " +
        "flags AS (SELECT d.doc_id, nt.n_tok, gk.f2, dk.f3, " +
        "(n.nll <= th.threshold) AS f4, (b.doc_id IS NULL) AS f5 " +
        "FROM documents d JOIN ntok nt USING (doc_id) JOIN gk USING (doc_id) " +
        "JOIN dk USING (doc_id) JOIN nllt n USING (doc_id) " +
        "JOIN thr th ON th.source = d.source LEFT JOIN bad b ON b.doc_id = d.doc_id), "

  private val kmeansReplayCte =
    "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
      "c0 AS (SELECT vec_id AS cell, e AS c FROM v WHERE vec_id < 4), " +
      "d1 AS (SELECT v.vec_id, v.e, c0.cell, list_sum(list_transform(" +
      "list_zip(v.e, c0.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM v CROSS JOIN c0), " +
      "a1 AS (SELECT vec_id, e, cell FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY d, cell) AS rn FROM d1) WHERE rn = 1), " +
      "m1 AS (SELECT cell, i, floor(avg(x)*1000000 + 0.5)/1000000 AS m FROM " +
      "(SELECT cell, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM a1) GROUP BY 1, 2), " +
      "c1 AS (SELECT cell, list(m ORDER BY i) AS c FROM m1 GROUP BY 1), " +
      "d2 AS (SELECT v.vec_id, v.e, c1.cell, list_sum(list_transform(" +
      "list_zip(v.e, c1.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM v CROSS JOIN c1), " +
      "a2 AS (SELECT vec_id, e, cell FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY vec_id ORDER BY d, cell) AS rn FROM d2) WHERE rn = 1) "

  /** Shared oracle stanza (q157/q178): the full residual-IVFADC
    * serving replay with probe ranks retained - exposes `tiers`
    * (np in {1,2,4}), `rtop` (the served top-10 per tier) and `bf`
    * (the exact cosine top-10 baseline). */
  /** The residual-PQ subspace-training replay (init = vec_id<4, one
    * snapped M-step, positional codebook `bk`, final codes `code`) —
    * expects `rv` (per-vector residuals) and `sp` (subspaces) in
    * scope. ONE definition shared by ivfPqServeCte, ivfAdcResidualCte
    * and the q193 oracle, so a change to the PQ training replay (snap
    * grid, tie-break, init) cannot silently diverge between them. */
  private val residualPqTrainCte =
    "sv AS (SELECT vec_id, j, r[j*16+1:j*16+16] AS e FROM rv CROSS JOIN sp), " +
        "sc0 AS (SELECT j, vec_id AS cell, e AS c FROM sv WHERE vec_id < 4), " +
        "sd1 AS (SELECT sv.j, sv.vec_id, sv.e, sc0.cell, list_sum(list_transform(" +
        "list_zip(sv.e, sc0.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM sv JOIN sc0 ON sv.j = sc0.j), " +
        "sa1 AS (SELECT j, vec_id, e, cell FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, cell) AS rn FROM sd1) WHERE rn = 1), " +
        "sm1 AS (SELECT j, cell, i, floor(avg(x)*1000000 + 0.5)/1000000 AS m FROM " +
        "(SELECT j, cell, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM sa1) GROUP BY 1, 2, 3), " +
        "smc AS (SELECT j, cell, list(m ORDER BY i) AS c FROM sm1 GROUP BY 1, 2), " +
        "bk AS (SELECT j, cell, c, CAST(row_number() OVER (PARTITION BY j ORDER BY cell) AS INT) AS pos FROM smc), " +
        "sd2 AS (SELECT sv.j, sv.vec_id, bk.pos, list_sum(list_transform(" +
        "list_zip(sv.e, bk.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM sv JOIN bk ON sv.j = bk.j), " +
        "code AS (SELECT j, vec_id, pos FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, pos) AS rn FROM sd2) WHERE rn = 1), " +
        ""

  private val ivfPqServeCte = kmeansReplayCte +
        ", sp AS (SELECT unnest(generate_series(0, 3)) AS j), " +
        "rv AS (SELECT a2.vec_id, list_transform(list_zip(a2.e, c1.c), " +
        "t -> t[1]-t[2]) AS r FROM a2 JOIN c1 USING (cell)), " +
        residualPqTrainCte +
        "pq AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5), " +
        "pd AS (SELECT q_id, c1.cell, CAST(floor(list_sum(list_transform(" +
        "list_zip(qv, c1.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM pq CROSS JOIN c1), " +
        "probe AS (SELECT q_id, cell, pr FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dl, cell) AS pr FROM pd) WHERE pr <= 4), " +
        "qr AS (SELECT p.q_id, p.cell, list_transform(list_zip(pq.qv, c1.c), " +
        "t -> t[1]-t[2]) AS r FROM probe p JOIN pq USING (q_id) " +
        "JOIN c1 ON c1.cell = p.cell), " +
        "dtab AS (SELECT qr.q_id, qr.cell, bk.j, bk.pos, CAST(floor(list_sum(list_transform(" +
        "list_zip(qr.r[bk.j*16+1:bk.j*16+16], bk.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM qr CROSS JOIN bk), " +
        "cand AS (SELECT p.q_id, p.cell, p.pr, a2.vec_id AS n_id FROM probe p JOIN a2 ON a2.cell = p.cell " +
        "WHERE a2.vec_id <> p.q_id), " +
        "adc AS (SELECT cand.q_id, cand.pr, cand.n_id, CAST(sum(t.dl) AS BIGINT) AS s " +
        "FROM cand JOIN code c ON c.vec_id = cand.n_id " +
        "JOIN dtab t ON t.q_id = cand.q_id AND t.cell = cand.cell " +
        "AND t.j = c.j AND t.pos = c.pos GROUP BY 1, 2, 3), " +
        "tiers AS (SELECT unnest([1, 2, 4]) AS np), " +
        "rtop AS (SELECT np, q_id, n_id, rank FROM (SELECT t.np, a.q_id, a.n_id, " +
        "row_number() OVER (PARTITION BY t.np, a.q_id ORDER BY a.s, a.n_id) AS rank " +
        "FROM tiers t JOIN adc a ON a.pr <= t.np) WHERE rank <= 10), " +
        "bsc AS (SELECT b.q_id, v.vec_id AS n_id, round(list_dot_product(v.e, b.qv) / " +
        "nullif(sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(b.qv, b.qv)), 0), 6) AS cos " +
        "FROM pq b JOIN v ON v.vec_id <> b.q_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM bsc) WHERE rank <= 10), "

  /** The q135 IVFADC construction replayed through the per-candidate
    * snapped-ADC score table `adc` — shared by q135 (rank over ADC) and
    * q143 (shortlist + exact re-rank). Binds: v (corpus), c1/a2 (trained
    * coarse + assignment), bk/code (residual PQ books + codes), pq
    * (queries), probe (top-nprobe cells), dtab (per-cell residual ADC
    * tables), adc (candidate scores). */
  private lazy val ivfAdcResidualCte =
      (kmeansReplayCte +
        ", sp AS (SELECT unnest(generate_series(0, 3)) AS j), " +
        "rv AS (SELECT a2.vec_id, list_transform(list_zip(a2.e, c1.c), " +
        "t -> t[1]-t[2]) AS r FROM a2 JOIN c1 USING (cell)), " +
        residualPqTrainCte +
        "pq AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5), " +
        "pd AS (SELECT q_id, c1.cell, CAST(floor(list_sum(list_transform(" +
        "list_zip(qv, c1.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM pq CROSS JOIN c1), " +
        "probe AS (SELECT q_id, cell FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dl, cell) AS pr FROM pd) WHERE pr <= 2), " +
        "qr AS (SELECT p.q_id, p.cell, list_transform(list_zip(pq.qv, c1.c), " +
        "t -> t[1]-t[2]) AS r FROM probe p JOIN pq USING (q_id) " +
        "JOIN c1 ON c1.cell = p.cell), " +
        "dtab AS (SELECT qr.q_id, qr.cell, bk.j, bk.pos, CAST(floor(list_sum(list_transform(" +
        "list_zip(qr.r[bk.j*16+1:bk.j*16+16], bk.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM qr CROSS JOIN bk), " +
        "cand AS (SELECT p.q_id, p.cell, a2.vec_id AS n_id FROM probe p JOIN a2 ON a2.cell = p.cell " +
        "WHERE a2.vec_id <> p.q_id), " +
        "adc AS (SELECT cand.q_id, cand.n_id, CAST(sum(t.dl) AS BIGINT) AS s " +
        "FROM cand JOIN code c ON c.vec_id = cand.n_id " +
        "JOIN dtab t ON t.q_id = cand.q_id AND t.cell = cand.cell " +
        "AND t.j = c.j AND t.pos = c.pos GROUP BY 1, 2)")

  /** The residual-IVFADC replay PARAMETERIZED by CTE-name prefix `p`
    * and a training predicate over `vec_id` — training aggregates
    * (coarse init/M-step, book init/M-step) see only rows satisfying
    * `pred`, while assignment/encoding cover the WHOLE corpus: exactly
    * the [[graft.ops.Ann.ivfPqAppend]] frozen-book semantics when
    * `pred` selects the base split, and the q135 construction when
    * `pred` is TRUE. Expects shared CTEs `v` (corpus), `sp`
    * (subspaces), `pq` (queries) to be in scope; emits `${p}top` =
    * the served top-10 per query. Used twice by q147 (appended vs
    * retrained) with disjoint prefixes. */
  private def ivfAdcReplayFor(p: String, pred: String): String =
    s"${p}c0 AS (SELECT vec_id AS cell, e AS c FROM " +
      s"(SELECT vec_id, e FROM v WHERE $pred ORDER BY vec_id LIMIT 4)), " +
      s"${p}d1 AS (SELECT v.vec_id, v.e, ${p}c0.cell, list_sum(list_transform(" +
      s"list_zip(v.e, ${p}c0.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d " +
      s"FROM v CROSS JOIN ${p}c0 WHERE $pred), " +
      s"${p}a1 AS (SELECT vec_id, e, cell FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY vec_id ORDER BY d, cell) AS rn FROM ${p}d1) WHERE rn = 1), " +
      s"${p}m1 AS (SELECT cell, i, floor(avg(x)*1000000 + 0.5)/1000000 AS m FROM " +
      s"(SELECT cell, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM ${p}a1) GROUP BY 1, 2), " +
      s"${p}c1 AS (SELECT cell, list(m ORDER BY i) AS c FROM ${p}m1 GROUP BY 1), " +
      s"${p}d2 AS (SELECT v.vec_id, v.e, c.cell, list_sum(list_transform(" +
      s"list_zip(v.e, c.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM v CROSS JOIN ${p}c1 c), " +
      s"${p}a2 AS (SELECT vec_id, e, cell FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY vec_id ORDER BY d, cell) AS rn FROM ${p}d2) WHERE rn = 1), " +
      s"${p}rv AS (SELECT a.vec_id, list_transform(list_zip(a.e, c.c), " +
      s"t -> t[1]-t[2]) AS r FROM ${p}a2 a JOIN ${p}c1 c USING (cell)), " +
      s"${p}sv AS (SELECT vec_id, j, r[j*16+1:j*16+16] AS e FROM ${p}rv CROSS JOIN sp), " +
      s"${p}init AS (SELECT vec_id FROM v WHERE $pred ORDER BY vec_id LIMIT 4), " +
      s"${p}sc0 AS (SELECT j, vec_id AS cell, e AS c FROM ${p}sv JOIN ${p}init USING (vec_id)), " +
      s"${p}sd1 AS (SELECT s.j, s.vec_id, s.e, s0.cell, list_sum(list_transform(" +
      s"list_zip(s.e, s0.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d " +
      s"FROM ${p}sv s JOIN ${p}sc0 s0 ON s.j = s0.j WHERE $pred), " +
      s"${p}sa1 AS (SELECT j, vec_id, e, cell FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY j, vec_id ORDER BY d, cell) AS rn FROM ${p}sd1) WHERE rn = 1), " +
      s"${p}sm1 AS (SELECT j, cell, i, floor(avg(x)*1000000 + 0.5)/1000000 AS m FROM " +
      s"(SELECT j, cell, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM ${p}sa1) GROUP BY 1, 2, 3), " +
      s"${p}smc AS (SELECT j, cell, list(m ORDER BY i) AS c FROM ${p}sm1 GROUP BY 1, 2), " +
      s"${p}bk AS (SELECT j, cell, c, CAST(row_number() OVER (PARTITION BY j ORDER BY cell) AS INT) AS pos FROM ${p}smc), " +
      s"${p}sd2 AS (SELECT s.j, s.vec_id, b.pos, list_sum(list_transform(" +
      s"list_zip(s.e, b.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM ${p}sv s JOIN ${p}bk b ON s.j = b.j), " +
      s"${p}code AS (SELECT j, vec_id, pos FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY j, vec_id ORDER BY d, pos) AS rn FROM ${p}sd2) WHERE rn = 1), " +
      s"${p}pd AS (SELECT q_id, c.cell, CAST(floor(list_sum(list_transform(" +
      s"list_zip(qv, c.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
      s"FROM pq CROSS JOIN ${p}c1 c), " +
      s"${p}probe AS (SELECT q_id, cell FROM (SELECT *, row_number() OVER " +
      s"(PARTITION BY q_id ORDER BY dl, cell) AS pr FROM ${p}pd) WHERE pr <= 2), " +
      s"${p}qr AS (SELECT p2.q_id, p2.cell, list_transform(list_zip(pq.qv, c.c), " +
      s"t -> t[1]-t[2]) AS r FROM ${p}probe p2 JOIN pq USING (q_id) " +
      s"JOIN ${p}c1 c ON c.cell = p2.cell), " +
      s"${p}dtab AS (SELECT q2.q_id, q2.cell, b.j, b.pos, CAST(floor(list_sum(list_transform(" +
      s"list_zip(q2.r[b.j*16+1:b.j*16+16], b.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
      s"FROM ${p}qr q2 CROSS JOIN ${p}bk b), " +
      s"${p}cand AS (SELECT p2.q_id, p2.cell, a.vec_id AS n_id FROM ${p}probe p2 " +
      s"JOIN ${p}a2 a ON a.cell = p2.cell WHERE a.vec_id <> p2.q_id), " +
      s"${p}adc AS (SELECT cd.q_id, cd.n_id, CAST(sum(t.dl) AS BIGINT) AS s " +
      s"FROM ${p}cand cd JOIN ${p}code c2 ON c2.vec_id = cd.n_id " +
      s"JOIN ${p}dtab t ON t.q_id = cd.q_id AND t.cell = cd.cell " +
      s"AND t.j = c2.j AND t.pos = c2.pos GROUP BY 1, 2), " +
      s"${p}top AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
      s"(PARTITION BY q_id ORDER BY s, n_id) AS rank FROM ${p}adc) WHERE rank <= 10)"

  /** Shared oracle stanza (q171/q188): the consecutive-duel win
    * matrix and the 3-round MM replay - exposes `pw` (ordered-pair
    * wins), `nij`, `tot`, and `w3` (final strengths). */
  private val btReplayCte: String = {

      // the q73 NLL replay → consecutive-doc duels → source-pair win
      // matrix → 3 unrolled MM iterations (1e9-snapped Σs, 6-dp
      // normalized strengths each round — the q76 trajectory contract)
      val snap = (e: String) => s"CAST(sum(CAST(floor($e * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // MATERIALIZED on every multi-referenced CTE: DuckDB otherwise
      // re-INLINES the corpus-derived tf pipeline combinatorially
      // through the unrolled MM rounds (nij ×20, tot ×13, w0 ×11 —
      // measured >10 min at sf0.01 un-hinted; seconds hinted). Same
      // trap the q253/q256 oracles already guard against.
      val iters = (1 to 3).map { k =>
        s"d$k AS MATERIALIZED (SELECT nij.i, ${snap(s"CAST(nij AS DOUBLE) / (wa.w + wb.w)")} AS d " +
          s"FROM nij JOIN w${k - 1} wa ON wa.i = nij.i " +
          s"JOIN w${k - 1} wb ON wb.i = nij.j GROUP BY 1), " +
          s"u$k AS MATERIALIZED (SELECT tot.i, CAST(tot.wi AS DOUBLE) / d$k.d AS w0 " +
          s"FROM tot JOIN d$k ON d$k.i = tot.i), " +
          s"z$k AS MATERIALIZED (SELECT ${snap("w0")} AS z FROM u$k), " +
          s"w$k AS MATERIALIZED (SELECT i, round(w0 / z, 6) AS w FROM u$k CROSS JOIN z$k)"
      }.mkString(", ")
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "tot0 AS MATERIALIZED (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(sum(ctf) AS DOUBLE) AS gt FROM tot0), " +
        "p AS MATERIALIZED (SELECT term, ctf / gt AS p FROM tot0, g), " +
        "nllt AS MATERIALIZED (SELECT doc_id, " +
        "round(-(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(tf), 4) AS nll " +
        "FROM tf JOIN p USING (term) GROUP BY 1), " +
        "dd AS MATERIALIZED (SELECT d.doc_id, d.source, n.nll FROM documents d JOIN nllt n USING (doc_id)), " +
        "du AS MATERIALIZED (SELECT CASE WHEN a.nll <= b.nll THEN a.source ELSE b.source END AS win, " +
        "CASE WHEN a.nll <= b.nll THEN b.source ELSE a.source END AS lose " +
        "FROM dd a JOIN dd b ON b.doc_id = a.doc_id + 1 AND a.source <> b.source), " +
        // counts flow as DOUBLE end-to-end: bradleyTerry honors
        // fractional duel weights, so wij/nij/wi/ni are doubles
        "pw AS MATERIALIZED (SELECT win AS i, lose AS j, CAST(count(*) AS DOUBLE) AS wij FROM du GROUP BY 1, 2), " +
        "nij AS MATERIALIZED (SELECT i, j, CAST(sum(n) AS DOUBLE) AS nij FROM " +
        "(SELECT i, j, wij AS n FROM pw UNION ALL SELECT j AS i, i AS j, wij AS n FROM pw) GROUP BY 1, 2), " +
        "tot AS MATERIALIZED (SELECT nij.i, CAST(sum(nij) AS DOUBLE) AS ni, " +
        "CAST(coalesce(wt.wi, 0) AS DOUBLE) AS wi FROM nij LEFT JOIN " +
        "(SELECT i, sum(wij) AS wi FROM pw GROUP BY 1) wt USING (i) GROUP BY nij.i, wt.wi), " +
        "w0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS w FROM tot), " +
        iters
  }

  /** The cheap-OPQ replay through the TRAINED permuted-space index
    * (shared by q191 recall and q193 reconstruction error): raw-space
    * residual ENERGY per dimension (1e9-snapped Σx²) → rank desc →
    * snake-deal to 4 subspaces → a 1-based permutation list `operm`;
    * corpus and coarse centroids permute into that space (opv/opc1),
    * assignment (oza), residuals (orv), subspace Lloyd (obk) and
    * final codes (ocode) replay the q135 construction unchanged. */
  private lazy val opqReplayCte = kmeansReplayCte +
        ", sp AS (SELECT unnest(generate_series(0, 3)) AS j), " +
        // energy learning in RAW residual space (a2/c1 — the shared coarse)
        "rv AS (SELECT a2.vec_id, list_transform(list_zip(a2.e, c1.c), " +
        "t -> t[1]-t[2]) AS r FROM a2 JOIN c1 USING (cell)), " +
        "oen AS (SELECT i, CAST(sum(CAST(floor(x*x*1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)/1000000000 AS en " +
        "FROM (SELECT unnest(r) AS x, generate_subscripts(r, 1) AS i FROM rv) GROUP BY 1), " +
        "ork AS (SELECT i, CAST(row_number() OVER (ORDER BY en DESC, i) - 1 AS BIGINT) AS r FROM oen), " +
        "oasg AS (SELECT i, r, CASE WHEN ((r // 4) % 2) = 0 THEN r % 4 ELSE 3 - (r % 4) END AS j FROM ork), " +
        "operm AS (SELECT list(i ORDER BY j, r) AS pl FROM oasg), " +
        // permuted corpus + permuted coarse; assignment in permuted space
        "opv AS (SELECT vec_id, list_transform(pl, ii -> e[ii]) AS e FROM v CROSS JOIN operm), " +
        "opc1 AS (SELECT cell, list_transform(pl, ii -> c[ii]) AS c FROM c1 CROSS JOIN operm), " +
        "ozd AS (SELECT o.vec_id, o.e, c.cell, list_sum(list_transform(" +
        "list_zip(o.e, c.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM opv o CROSS JOIN opc1 c), " +
        "oza AS (SELECT vec_id, e, cell FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY d, cell) AS rn FROM ozd) WHERE rn = 1), " +
        // permuted residuals → subspace Lloyd (the q135 replay, o-prefixed)
        "orv AS (SELECT a.vec_id, list_transform(list_zip(a.e, c.c), " +
        "t -> t[1]-t[2]) AS r FROM oza a JOIN opc1 c USING (cell)), " +
        "osv AS (SELECT vec_id, j, r[j*16+1:j*16+16] AS e FROM orv CROSS JOIN sp), " +
        "osc0 AS (SELECT j, vec_id AS cell, e AS c FROM osv WHERE vec_id < 4), " +
        "osd1 AS (SELECT osv.j, osv.vec_id, osv.e, osc0.cell, list_sum(list_transform(" +
        "list_zip(osv.e, osc0.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM osv JOIN osc0 ON osv.j = osc0.j), " +
        "osa1 AS (SELECT j, vec_id, e, cell FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, cell) AS rn FROM osd1) WHERE rn = 1), " +
        "osm1 AS (SELECT j, cell, i, floor(avg(x)*1000000 + 0.5)/1000000 AS m FROM " +
        "(SELECT j, cell, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM osa1) GROUP BY 1, 2, 3), " +
        "osmc AS (SELECT j, cell, list(m ORDER BY i) AS c FROM osm1 GROUP BY 1, 2), " +
        "obk AS (SELECT j, cell, c, CAST(row_number() OVER (PARTITION BY j ORDER BY cell) AS INT) AS pos FROM osmc), " +
        "osd2 AS (SELECT osv.j, osv.vec_id, obk.pos, list_sum(list_transform(" +
        "list_zip(osv.e, obk.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM osv JOIN obk ON osv.j = obk.j), " +
        "ocode AS (SELECT j, vec_id, pos FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, pos) AS rn FROM osd2) WHERE rn = 1), "

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty, " +
        "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_base, " +
        s"round(CAST(sum($revenueSql) AS DOUBLE), 4) AS sum_disc, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty, " +
        "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_price, " +
        "count(*) AS n FROM lineitem GROUP BY 1, 2"),
    "q02_latest_per_user" ->
      s"SELECT user_id, event_id, ts, event_type, value FROM events $latestSql",
    "q03_distinct_pairs" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q04_status_filter" ->
      ("SELECT event_id, user_id, lower(event_type) AS status_lc FROM events " +
        "WHERE lower(event_type) IN ('click', 'purchase', 'signup')"),
    "q05_retention_window" ->
      ("SELECT event_id, ts, user_id, value FROM events " +
        "WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 3 DAY"),
    "q06_junk_guard" ->
      ("SELECT event_id, event_type, value FROM events " +
        "WHERE nullif(event_type, 'error') IS NOT NULL " +
        "AND value IS NOT NULL AND value >= 0"),
    "q07_anti_join" ->
      ("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),
    "q08_alt_key_join" ->
      ("SELECT o_orderkey, coalesce(c1.c_name, c2.c_name) AS cust_name, " +
        "coalesce(c1.c_mktsegment, c2.c_mktsegment) AS segment FROM orders " +
        "LEFT JOIN customer c1 ON o_custkey % 7 <> 0 AND c1.c_custkey = o_custkey " +
        "LEFT JOIN customer c2 ON o_custkey % 7 = 0 AND c2.c_custkey = o_custkey"),
    "q09_star_revenue" ->
      ("SELECT r_name, n_name, count(*) AS n_items, " +
        s"round(CAST(sum($revenueSql) AS DOUBLE), 4) AS revenue FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2"),
    "q10_dim_upsert" ->
      ("WITH e AS (SELECT user_id, ts AS last_ts, event_type AS last_type, " +
        s"CASE WHEN value >= 5 THEN value END AS last_value FROM events WHERE event_id % 2 = 0 $latestSql), " +
        "i AS (SELECT user_id, ts AS last_ts, event_type AS last_type, " +
        s"CASE WHEN value >= 5 THEN value END AS last_value FROM events WHERE event_id % 2 = 1 $latestSql) " +
        "SELECT coalesce(e.user_id, i.user_id) AS user_id, " +
        "coalesce(i.last_ts, e.last_ts) AS last_ts, " +
        "coalesce(i.last_type, e.last_type) AS last_type, " +
        "coalesce(i.last_value, e.last_value) AS last_value " +
        "FROM e FULL JOIN i ON e.user_id = i.user_id"),
    "q11_fact_merge" ->
      ("WITH t AS (SELECT user_id, event_type AS status, value AS val, " +
        s"nullif(event_type, 'error') AS pk, ts AS ingest FROM events WHERE event_id % 2 = 0 $latestSql), " +
        "s AS (SELECT user_id, event_type AS status, value AS val, " +
        s"nullif(event_type, 'error') AS pk, ts AS ingest FROM events WHERE event_id % 2 = 1 $latestSql) " +
        "SELECT coalesce(t.user_id, s.user_id) AS user_id, " +
        "CASE WHEN s.user_id IS NOT NULL THEN s.status ELSE t.status END AS status, " +
        "CASE WHEN s.user_id IS NOT NULL THEN s.val ELSE t.val END AS val, " +
        "coalesce(s.pk, t.pk) AS pk, " +
        "greatest(coalesce(s.ingest, t.ingest), coalesce(t.ingest, s.ingest)) AS ingest " +
        "FROM t FULL JOIN s ON t.user_id = s.user_id"),
    "q12_insert_if_absent" ->
      ("WITH e AS (SELECT user_id, event_type, min(ts) AS first_seen FROM events " +
        "WHERE event_id % 2 = 0 GROUP BY 1, 2), " +
        "i AS (SELECT user_id, event_type, min(ts) AS first_seen FROM events " +
        "WHERE event_id % 2 = 1 GROUP BY 1, 2) " +
        "SELECT * FROM e UNION ALL SELECT i.* FROM i WHERE NOT EXISTS " +
        "(SELECT 1 FROM e WHERE e.user_id = i.user_id AND e.event_type = i.event_type)"),
    "q13_incremental_export" ->
      ("SELECT event_id, ts, user_id, event_type, value FROM events " +
        "WHERE ts > (SELECT max(ts) - INTERVAL 1 DAY FROM events) " +
        "ORDER BY ts, event_id LIMIT 500"),
    "q14_topk_routes" ->
      ("SELECT concat(cn.n_name, '->', sn.n_name) AS route, count(*) AS n, " +
        s"round(CAST(sum($revenueSql) AS DOUBLE) / count(*), 4) AS avg_rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
        "GROUP BY 1 ORDER BY avg_rev DESC, route LIMIT 10"),
    "q15_ontime_trend" ->
      ("SELECT CAST(ts AS DATE) AS d, count(*) AS n, " +
        "round(CAST(sum(CASE WHEN value IS NULL THEN NULL WHEN value <= 5 THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "count(CASE WHEN value IS NOT NULL THEN 1 END), 4) AS rate " +
        "FROM events GROUP BY 1"),
    "q16_avg_by_group" ->
      ("SELECT event_type AS grp, count(*) AS n, " +
        "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value), 4) AS avg_measure " +
        "FROM events GROUP BY 1"),
    "q17_clean_ts" ->
      ("SELECT event_id, CASE event_id % 7 " +
        "WHEN 0 THEN date_trunc('second', ts) WHEN 1 THEN date_trunc('second', ts) " +
        "WHEN 3 THEN date_trunc('minute', ts) WHEN 4 THEN date_trunc('second', ts) " +
        "WHEN 5 THEN date_trunc('second', ts) END AS parsed_ts FROM events"),
    "q18_sessionize" ->
      ("WITH x AS (SELECT user_id, ts, event_id, CASE WHEN " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 " +
        "THEN 1 ELSE 0 END AS is_new FROM events), " +
        "y AS (SELECT user_id, ts, CAST(sum(is_new) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM x) " +
        "SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events, " +
        "(epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000 AS duration_sec " +
        "FROM y GROUP BY 1, 2"),
    "q19_distinct_count" ->
      ("SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n " +
        "FROM events GROUP BY 1"),
    "q20_dedup_exact" ->
      ("SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, " +
        "count(*) AS n_copies FROM documents GROUP BY 1"),
    "q21_minhash_lsh" ->
      s"WITH $shingleCte SELECT doc_a, doc_b FROM cands",
    "q22_ngram_jaccard" ->
      (s"WITH $shingleCte, $jaccardCte SELECT doc_a, doc_b, jaccard FROM jac"),
    "q23_simhash" -> simhashSql,
    "q24_text_stats" ->
      ("SELECT doc_id, " +
        "len(string_split(text, ' ')) AS n_tokens, " +
        "len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish, " +
        "len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) AS stop_cnt, " +
        "length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS punct_cnt, " +
        "round(CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS avg_tok_len, " +
        "CASE WHEN len(string_split(text, ' ')) > 0 AND " +
        "CAST(len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) AS DOUBLE) / len(string_split(text, ' ')) >= 0.05 " +
        "THEN 'en' ELSE 'unknown' END AS lang, " +
        "md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint, " +
        "round((CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END + " +
        "CASE WHEN length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 10 < length(text) THEN 1.0 ELSE 0.5 END + " +
        "CASE WHEN len(list_filter(string_split(text, ' '), x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) > 0 THEN 1.0 ELSE 0.5 END) / 3.0, 4) AS quality " +
        "FROM documents"),
    "q27_ann_ivf" ->
      // mirrors ivfTopK: label centroids, nprobe=3 nearest cells by L2,
      // exact cosine rank within probed cells (same fold parity as q25)
      ("WITH cent AS (SELECT label AS cell, list(m ORDER BY pos) AS centroid FROM (" +
        "SELECT label, i AS pos, avg(v) AS m " +
        "FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i FROM embeddings) " +
        "GROUP BY 1, 2) GROUP BY 1), " +
        "q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5), " +
        "qc AS (SELECT q_id, qv, cell, " +
        "sqrt(list_sum(list_transform(list_zip(qv, centroid), t -> (t[1]-t[2])*(t[1]-t[2])))) AS d " +
        "FROM q CROSS JOIN cent), " +
        "probe AS (SELECT q_id, qv, cell FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d, cell) AS pr FROM qc) WHERE pr <= 3), " +
        "c AS (SELECT label AS cell, vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
        "sc AS (SELECT q_id, n_id, round(list_dot_product(cv, qv) / " +
        "nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM probe JOIN c USING (cell) WHERE n_id <> q_id), " +
        "r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc) " +
        "SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM r WHERE rank <= 10"),
    "q25_ann_cosine" ->
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
        "sc AS (SELECT q_id, n_id, round(list_dot_product(cv, qv) / " +
        "nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM q JOIN c ON n_id <> q_id), " +
        "r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc) " +
        "SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM r WHERE rank <= 10"),
    "q26_media_meta" ->
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, " +
        "CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_chunks FROM documents"),
    "q29_window_agg" ->
      ("SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_measure " +
        "FROM events GROUP BY 1"),
    "q30_sliding_window" ->
      ("SELECT date_trunc('day', ts) - o * INTERVAL 1 DAY AS window_start, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_measure " +
        "FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) GROUP BY 1"),
    "q31_approx_distinct" ->
      ("SELECT event_type AS grp, count(DISTINCT user_id) AS n_exact, " +
        "TRUE AS ok FROM events GROUP BY 1"),
    "q32_dedup_embedding" ->
      ("WITH v AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_dot_product(a.e, b.e) / " +
        "nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0), 4) AS cos " +
        "FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id) " +
        "SELECT id_a, id_b, cos FROM p WHERE cos >= 0.28"),
    "q33_asof_join" ->
      ("WITH l AS (SELECT user_id, event_id, ts, value FROM events WHERE event_id % 2 = 1), " +
        "r AS (SELECT user_id, ts, max(value) AS value FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2) " +
        "SELECT l.user_id, l.event_id, l.ts, l.value, r.ts AS r_ts, r.value AS r_value " +
        "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts"),
    "q35_range_join" ->
      ("WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events), " +
        "iv AS (SELECT epoch_us(d + INTERVAL 6 HOUR) AS lo, " +
        "epoch_us(d + INTERVAL 18 HOUR) AS hi FROM days) " +
        "SELECT e.event_id, iv.lo, iv.hi FROM events e " +
        "JOIN iv ON epoch_us(e.ts) BETWEEN iv.lo AND iv.hi"),
    "q40_latest_window" ->
      s"SELECT user_id, event_id, ts, event_type, value FROM events $latestSql",
    "q42_hash_split" ->
      ("WITH b AS (SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS BIGINT) AS bkt FROM documents) " +
        "SELECT CASE WHEN bkt < 10 THEN 'val' WHEN bkt < 20 THEN 'test' ELSE 'train' END AS split, " +
        "count(*) AS n FROM b GROUP BY 1"),
    "q43_export_render" ->
      ("SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, " +
        "CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS value_str FROM events"),
    "q47_bitset_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY 1",
    "q51_set_ops" ->
      ("WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'), " +
        "b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 300), " +
        "u AS (SELECT user_id, 'click_and_buy' AS cohort FROM (SELECT * FROM c INTERSECT SELECT * FROM b) " +
        "UNION ALL SELECT user_id, 'click_no_buy' FROM (SELECT * FROM c EXCEPT SELECT * FROM b)) " +
        "SELECT cohort, count(*) AS n_users FROM u GROUP BY 1"),
    "q49_stratified_sample" ->
      ("SELECT event_id, event_type, user_id FROM events " +
        "QUALIFY row_number() OVER (PARTITION BY event_type " +
        "ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) <= 50"),
    "q50_vocab" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY 1 " +
        "ORDER BY n DESC, token LIMIT 200) " +
        "SELECT token, n, row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id FROM cnt"),
    "q48_edit_distance" ->
      (s"WITH $shingleCte SELECT c.doc_a, c.doc_b, " +
        "CAST(levenshtein(substr(da.text, 1, 64), substr(db.text, 1, 64)) AS BIGINT) AS edit_dist " +
        "FROM cands c JOIN documents da ON c.doc_a = da.doc_id " +
        "JOIN documents db ON c.doc_b = db.doc_id"),
    "q44_cube" ->
      ("SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n, " +
        "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_v " +
        "FROM events GROUP BY CUBE (event_type, CAST(ts AS DATE))"),
    "q45_window_funcs" ->
      ("SELECT user_id, event_id, " +
        "(epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000 AS gap_sec, " +
        "rank() OVER w AS rnk, lead(event_id) OVER w AS next_event " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),
    "q41_approx_percentile" ->
      ("SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50_exact, " +
        "TRUE AS ok FROM events GROUP BY 1"),
    "q39_rolling_hash" ->
      ("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), " +
        "(h, c) -> (h * 31 + c) % 1000000007) AS rhash FROM documents"),
    "q38_pivot" ->
      ("SELECT user_id % 10 AS user_bucket, " +
        "count(*) FILTER (event_type = 'click') AS click, " +
        "count(*) FILTER (event_type = 'purchase') AS purchase, " +
        "count(*) FILTER (event_type = 'signup') AS signup, " +
        "count(*) FILTER (event_type = 'view') AS view, " +
        "count(*) FILTER (event_type = 'error') AS error " +
        "FROM events GROUP BY 1"),
    "q36_percentiles" ->
      ("SELECT event_type, round(quantile_cont(value, 0.5), 4) AS p50, " +
        "round(quantile_cont(value, 0.95), 4) AS p95, count(*) AS n " +
        "FROM events GROUP BY 1"),
    "q37_rollup" ->
      ("SELECT r_name, n_name, count(*) AS n_items, " +
        s"round(CAST(sum($revenueSql) AS DOUBLE), 4) AS revenue FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY ROLLUP (r_name, n_name)"),
    "q52_span_dedup" ->
      (s"WITH $shingleCte, " +
        "dfq AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_spans, " +
        "CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans, " +
        "round(CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_ratio " +
        "FROM sh JOIN dfq USING (shingle) GROUP BY 1"),
    "q53_pii_scrub" -> {
      import graft.expr.Pii.{EmailPattern, Ipv4Pattern, PhonePattern}
      ("WITH aug AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END AS t FROM documents) " +
        // progressive counting, matching Pii.countPii: each class counts
        // on the text with earlier classes already redacted
        s"SELECT doc_id, CAST(len(regexp_extract_all(t, '$EmailPattern')) + " +
        s"len(regexp_extract_all(regexp_replace(t, '$EmailPattern', '[EMAIL]', 'g'), '$Ipv4Pattern')) + " +
        s"len(regexp_extract_all(regexp_replace(regexp_replace(t, '$EmailPattern', '[EMAIL]', 'g'), '$Ipv4Pattern', '[IP]', 'g'), '$PhonePattern')) AS BIGINT) AS n_pii, " +
        s"md5(regexp_replace(regexp_replace(regexp_replace(t, " +
        s"'$EmailPattern', '[EMAIL]', 'g'), " +
        s"'$Ipv4Pattern', '[IP]', 'g'), " +
        s"'$PhonePattern', '[PHONE]', 'g')) AS clean_hash FROM aug")
    },
    "q54_contamination" ->
      ("WITH toks5 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "g0 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN " +
        "list_transform(generate_series(1, len(t) - 4), i -> array_to_string(t[i:i+4], ' ')) " +
        "ELSE []::VARCHAR[] END) AS shingle FROM toks5), " +
        "g AS (SELECT DISTINCT doc_id, shingle FROM g0), " +
        "bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id < 20) " +
        "SELECT doc_id, count(*) AS n_shared_grams FROM g " +
        "WHERE doc_id >= 20 AND shingle IN (SELECT shingle FROM bench) GROUP BY 1"),
    "q55_ann_lsh" ->
      ("WITH pl AS (SELECT p, list_transform(generate_series(0, 63), i -> " +
        "CASE WHEN strpos('02468ace', substr(md5(CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 1)) > 0 " +
        "THEN 1.0 ELSE -1.0 END) AS signs FROM (SELECT unnest(generate_series(0, 3)) AS p)), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "sig AS (SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(e, signs) >= 0 " +
        "THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket FROM v CROSS JOIN pl GROUP BY 1), " +
        "q AS (SELECT vec_id AS q_id, e AS qv, bucket FROM v JOIN sig USING (vec_id) WHERE vec_id < 5), " +
        "c AS (SELECT vec_id AS n_id, e AS cv, bucket FROM v JOIN sig USING (vec_id)), " +
        "sc AS (SELECT q_id, n_id, round(list_dot_product(cv, qv) / " +
        "nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM q JOIN c ON q.bucket = c.bucket AND n_id <> q_id), " +
        "r AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc) " +
        "SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM r WHERE rank <= 10"),
    "q56_frame_sample" ->
      ("SELECT doc_id, frame_idx, " +
        "md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_hash " +
        "FROM (SELECT doc_id, text, unnest(range(0, octet_length(encode(text)) // 64, 4)) AS frame_idx " +
        "FROM documents WHERE octet_length(encode(text)) // 64 > 0)"),
    "q57_weighted_sample" ->
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents " +
        "WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS DOUBLE) / 1000000.0 " +
        "< least(1.0, greatest(0.0, length(text) / 400.0))"),
    "q58_repetition" ->
      ("WITH g0 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2 THEN " +
        "list_transform(generate_series(1, len(t) - 1), i -> array_to_string(t[i:i+1], ' ')) " +
        "ELSE []::VARCHAR[] END) AS gram " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)), " +
        "cnt AS (SELECT doc_id, gram, count(*) AS n FROM g0 GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(sum(n) AS BIGINT) AS total_2grams, " +
        "CAST(max(n) AS BIGINT) AS top_2gram_n, " +
        "round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS rep_ratio FROM cnt GROUP BY 1"),
    "q59_seq_pack" ->
      ("WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents), " +
        "o AS (SELECT doc_id, n_tokens, CAST(coalesce(sum(n_tokens) OVER " +
        "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off FROM d) " +
        "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, start_off, " +
        "start_off // 512 AS seq_first, " +
        "(start_off + n_tokens - 1) // 512 AS seq_last FROM o"),
    "q60_vocab_encode" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY 1 " +
        "ORDER BY n DESC, token LIMIT 200), " +
        "v AS (SELECT token, row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id FROM cnt), " +
        "g AS (SELECT doc_id, unnest(list_transform(string_split(text, ' '), " +
        "(x, i) -> struct_pack(pos := i - 1, token := x))) AS s FROM documents) " +
        "SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, " +
        "CAST(coalesce(v.token_id, -1) AS BIGINT) AS token_id " +
        "FROM g LEFT JOIN v ON s.token = v.token"),
    "q61_heavy_hitters" -> {
      def b(i: Int, item: String) =
        s"CAST(CAST(('0x' || substr(md5('$i' || '|' || $item), 1, 8)) AS BIGINT) % 64 AS BIGINT)"
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "exact AS (SELECT token, count(*) AS n FROM tok GROUP BY 1 HAVING count(*) >= 50), " +
        (0 until 3).map(i =>
          s"cms$i AS (SELECT ${b(i, "token")} AS bucket, count(*) AS cnt FROM tok GROUP BY 1) ")
          .mkString(", ") +
        "SELECT e.token, e.n, least(c0.cnt, c1.cnt, c2.cnt) AS cm_est, " +
        "least(c0.cnt, c1.cnt, c2.cnt) >= e.n AS ok FROM exact e " +
        (0 until 3).map(i =>
          s"JOIN cms$i c$i ON ${b(i, "e.token")} = c$i.bucket ").mkString)
    },
    "q62_bloom_prune" -> {
      def bb(i: Int, item: String) =
        s"CAST(CAST(('0x' || substr(md5('$i' || '|' || $item), 1, 8)) AS BIGINT) % 4096 AS BIGINT)"
      ("WITH ck AS (SELECT DISTINCT o_custkey FROM orders), " +
        "bits AS (SELECT DISTINCT " +
        s"CAST(CAST(('0x' || substr(md5(i || '|' || o_custkey), 1, 8)) AS BIGINT) % 4096 AS BIGINT) AS bit " +
        "FROM ck CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)), " +
        "pass AS (SELECT c_custkey FROM customer WHERE " +
        (0 until 3).map(i => s"${bb(i, "c_custkey")} IN (SELECT bit FROM bits)")
          .mkString(" AND ") + "), " +
        "tm AS (SELECT c_custkey FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)) " +
        "SELECT (SELECT count(*) FROM customer) AS n_customers, " +
        "(SELECT count(*) FROM pass) AS n_pass, " +
        "(SELECT count(*) FROM tm) AS n_true, " +
        "(SELECT count(*) FROM pass) - (SELECT count(*) FROM tm) AS n_fp")
    },
    "q63_dedup_groups" ->
      // transitive closure of the LSH candidate pairs via recursive CTE:
      // comp(node) = min id reachable over symmetrized edges
      (s"WITH RECURSIVE $shingleCte, " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM cands " +
        "UNION ALL SELECT doc_b AS a, doc_a AS b FROM cands), " +
        "reach AS (SELECT doc_id AS node, doc_id AS comp FROM documents " +
        "UNION SELECT e.b AS node, r.comp AS comp FROM reach r " +
        "JOIN edges e ON e.a = r.node), " +
        "comp AS (SELECT node AS doc_id, min(comp) AS group_id FROM reach GROUP BY 1), " +
        "sizes AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1) " +
        "SELECT c.doc_id, c.group_id, s.group_size, " +
        "c.doc_id = c.group_id AS keep FROM comp c JOIN sizes s USING (group_id)"),
    "q64_tfidf" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT doc_id, term, tf, df, " +
        "round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf " +
        "FROM tf JOIN idf USING (term) CROSS JOIN n), " +
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY tfidf DESC, term) AS rank FROM scored) " +
        "SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 3"),
    "q65_agg_merge" ->
      ("WITH partials AS (SELECT CAST(ts AS DATE) AS day, event_type, " +
        "count(*) AS n, sum(CAST(value AS DECIMAL(18,4))) AS sum_v, " +
        "min(value) AS min_v, max(value) AS max_v FROM events GROUP BY 1, 2) " +
        "SELECT event_type, CAST(sum(n) AS BIGINT) AS n, " +
        "round(CAST(sum(sum_v) AS DOUBLE), 4) AS sum_v, " +
        "min(min_v) AS min_v, max(max_v) AS max_v, count(*) AS n_partials " +
        "FROM partials GROUP BY 1"),
    "q66_bm25" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1), " +
        "stats AS (SELECT avg(dl) AS avgdl FROM dl), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "idf AS (SELECT term, ln((n_docs - count(*) + 0.5) / (count(*) + 0.5) + 1) AS idf " +
        "FROM tf CROSS JOIN n WHERE term IN ('data', 'model', 'system') GROUP BY term, n_docs) " +
        "SELECT tf.doc_id, " +
        "round(sum(idf.idf * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 4) AS bm25, " +
        "count(*) AS n_terms_hit " +
        "FROM tf JOIN idf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats " +
        "GROUP BY 1"),
    "q67_quantize" ->
      ("WITH vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
        "rng AS (SELECT vec_id, v, list_min(v) AS mn, " +
        "CASE WHEN list_max(v) > list_min(v) THEN (list_max(v) - list_min(v)) / 255 ELSE 1 END AS scale " +
        "FROM vv) " +
        "SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims, round(mn, 4) AS mn, " +
        "CAST(list_sum(list_transform(v, x -> CAST(floor((x - mn) / scale + 0.5) AS BIGINT))) AS BIGINT) AS code_sum, " +
        "round(list_max(list_transform(v, x -> abs(mn + floor((x - mn) / scale + 0.5) * scale - x))), 6) AS max_err " +
        "FROM rng"),
    "q68_hll_registers" ->
      // same register rule as Sketch.hllRegisters: 32-bit md5 prefix,
      // bucket = low 6 bits, reg = 1 + leading zeros of the high 26
      ("WITH h AS (SELECT event_type, " +
        "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "r AS (SELECT event_type, hv & 63 AS bucket, " +
        "MAX(CASE WHEN (hv >> 6) > 0 THEN 27 - length(bin(hv >> 6)) ELSE 27 END) AS reg " +
        "FROM h GROUP BY 1, 2), " +
        "s AS (SELECT event_type, COUNT(*) AS n_buckets, " +
        "SUM(pow(2.0, -reg)) AS sp, CAST(SUM(bucket * reg) AS BIGINT) AS reg_checksum " +
        "FROM r GROUP BY 1) " +
        "SELECT event_type, n_buckets, reg_checksum, " +
        "round(CASE WHEN raw <= 160 AND zeros > 0 THEN 64 * ln(64.0 / zeros) ELSE raw END, 3) AS est_distinct " +
        "FROM (SELECT *, 0.709 * 64 * 64 / (sp + (64 - n_buckets)) AS raw, " +
        "64 - n_buckets AS zeros FROM s)"),
    "q69_zorder" ->
      // same 16-bit min-max rank + magic-number Morton interleave as
      // the Spark side (integer div keeps both engines exact)
      ("WITH st AS (SELECT min(l_partkey) AS pk_lo, max(l_partkey) AS pk_hi, " +
        "min(l_suppkey) AS sk_lo, max(l_suppkey) AS sk_hi FROM lineitem), " +
        "base AS (SELECT l_partkey, l_suppkey, " +
        "((l_partkey - pk_lo) * 65535) // greatest(pk_hi - pk_lo, 1) AS x0, " +
        "((l_suppkey - sk_lo) * 65535) // greatest(sk_hi - sk_lo, 1) AS y0 " +
        "FROM lineitem, st), " +
        "s1 AS (SELECT *, (x0 | (x0 << 8)) & 16711935 AS x1, (y0 | (y0 << 8)) & 16711935 AS y1 FROM base), " +
        "s2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2, (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1), " +
        "s3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3, (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2), " +
        "s4 AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4, (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3) " +
        "SELECT (x4 | (y4 << 1)) >> 27 AS z_block, count(*) AS n, " +
        "min(l_partkey) AS p_min, max(l_partkey) AS p_max, " +
        "min(l_suppkey) AS s_min, max(l_suppkey) AS s_max " +
        "FROM s4 GROUP BY 1"),
    "q70_hist_quantiles" ->
      // same shared-edge equi-width binning as Sketch.histBins/Quantiles
      ("WITH st AS (SELECT event_type, min(value) AS lo, max(value) AS hi, " +
        "count(*) AS n FROM events WHERE value IS NOT NULL GROUP BY 1), " +
        "b AS (SELECT e.event_type, CASE WHEN hi > lo THEN " +
        "CAST(least(floor((value - lo) * 128 / (hi - lo)), 127) AS BIGINT) " +
        "ELSE 0 END AS bin " +
        "FROM events e JOIN st USING (event_type) WHERE value IS NOT NULL), " +
        "c AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2), " +
        "cum AS (SELECT event_type, bin, " +
        "sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum FROM c) " +
        "SELECT event_type, n, " +
        "round(lo + (min(CASE WHEN cum >= 0.5 * n THEN bin END) + 1) * (hi - lo) / 128, 4) AS p50, " +
        "round(lo + (min(CASE WHEN cum >= 0.9 * n THEN bin END) + 1) * (hi - lo) / 128, 4) AS p90, " +
        "round(lo + (min(CASE WHEN cum >= 0.99 * n THEN bin END) + 1) * (hi - lo) / 128, 4) AS p99 " +
        "FROM cum JOIN st USING (event_type) GROUP BY event_type, n, lo, hi"),
    "q71_mixture" ->
      // same hash-Bernoulli keep filter as Sampling.weightedSample
      ("WITH st AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS total FROM st), " +
        "rates AS (SELECT lang, n_docs, " +
        "round(n_docs / total, 4) AS share, " +
        "least(1.0, 0.25 / (n_docs / total)) AS rate FROM st, tot), " +
        "kept AS (SELECT d.lang, count(*) AS n_kept " +
        "FROM documents d JOIN rates r ON d.lang = r.lang " +
        "WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 AS DOUBLE) / 1000000.0 " +
        "< least(1.0, greatest(0.0, rate)) GROUP BY 1) " +
        "SELECT lang, n_docs, share, round(rate, 4) AS keep_rate, " +
        "coalesce(n_kept, 0) AS n_kept " +
        "FROM rates LEFT JOIN kept USING (lang)"),
    "q72_snapshot_diff" ->
      ("WITH v1 AS (SELECT o_orderkey, o_totalprice, o_orderpriority " +
        "FROM orders WHERE o_orderstatus IN ('O', 'F')), " +
        "v2 AS (SELECT o_orderkey, " +
        "CASE WHEN o_orderstatus = 'O' AND o_orderpriority = '1-URGENT' " +
        "THEN o_totalprice + 10 ELSE o_totalprice END AS o_totalprice, " +
        "o_orderpriority FROM orders WHERE o_orderstatus IN ('O', 'P')) " +
        "SELECT o_orderkey, change FROM (" +
        "SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS o_orderkey, " +
        "CASE WHEN v1.o_orderkey IS NULL THEN 'insert' " +
        "WHEN v2.o_orderkey IS NULL THEN 'delete' " +
        "WHEN NOT ((v1.o_totalprice IS NOT DISTINCT FROM v2.o_totalprice) " +
        "AND (v1.o_orderpriority IS NOT DISTINCT FROM v2.o_orderpriority)) " +
        "THEN 'update' ELSE 'unchanged' END AS change " +
        "FROM v1 FULL JOIN v2 ON v1.o_orderkey = v2.o_orderkey) " +
        "WHERE change <> 'unchanged'"),
    "q73_unigram_nll" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "tot AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(sum(ctf) AS DOUBLE) AS gt FROM tot), " +
        "p AS (SELECT term, ctf / gt AS p FROM tot, g) " +
        "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, " +
        "round(-(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(tf), 4) AS nll " +
        "FROM tf JOIN p USING (term) GROUP BY 1"),
    "q74_centroids" ->
      ("SELECT label, CAST(i AS BIGINT) AS dim, round(avg(v), 6) AS m, " +
        "count(*) AS n FROM (SELECT label, unnest(embedding) AS v, " +
        "generate_subscripts(embedding, 1) AS i FROM embeddings) " +
        "GROUP BY 1, 2"),
    "q75_or_join_rewrite" ->
      // the OR condition LITERALLY — DuckDB nested-loops it; our engine's
      // DisjunctiveJoinRewrite plans the same query as two hash joins
      ("SELECT o_orderkey, c_name AS cust_name, c_mktsegment AS segment " +
        "FROM (SELECT *, CASE WHEN o_custkey % 7 = 0 THEN NULL " +
        "ELSE o_custkey END AS key_iata FROM orders) o " +
        "LEFT JOIN customer ON key_iata = c_custkey " +
        "OR (key_iata IS NULL AND o_custkey = c_custkey)"),
    "q76_kmeans" ->
      // Lloyd unrolled: init = vec_id<4, two assign/update rounds, 6-dp
      // floor-snap at every boundary (bit-identical trajectory to Spark)
      (kmeansReplayCte +
        "SELECT cell AS cluster, CAST(i AS BIGINT) AS dim, " +
        "floor(avg(x)*1000000 + 0.5)/1000000 AS m, count(*) AS n " +
        "FROM (SELECT cell, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM a2) " +
        "GROUP BY 1, 2"),
    "q85_ivf_trained" ->
      // the q76 trajectory replay composed with the q27 probe/rank:
      // corpus cells = a2's trained assignment, cell centroids = per-cell
      // float means, nprobe=2 nearest by L2, exact cosine rank in-cell
      (kmeansReplayCte +
        ", cellsrc AS (SELECT a2.cell, em.vec_id, em.embedding " +
        "FROM a2 JOIN embeddings em USING (vec_id)), " +
        "cent AS (SELECT cell, list(m ORDER BY i) AS centroid FROM (" +
        "SELECT cell, i, avg(x) AS m FROM (SELECT cell, unnest(embedding) AS x, " +
        "generate_subscripts(embedding, 1) AS i FROM cellsrc) GROUP BY 1, 2) GROUP BY 1), " +
        "q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "qc AS (SELECT q_id, qv, cell, sqrt(list_sum(list_transform(" +
        "list_zip(qv, centroid), t -> (t[1]-t[2])*(t[1]-t[2])))) AS d FROM q CROSS JOIN cent), " +
        "probe AS (SELECT q_id, qv, cell FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY d, cell) AS pr FROM qc) WHERE pr <= 2), " +
        "cc AS (SELECT cell, vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM cellsrc), " +
        "sc AS (SELECT q_id, n_id, round(list_dot_product(cv, qv) / " +
        "nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM probe JOIN cc USING (cell) WHERE n_id <> q_id), " +
        "r AS (SELECT q_id, n_id, cos, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc) " +
        "SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM r WHERE rank <= 10"),
    "q86_ntile_bins" ->
      ("SELECT event_id, event_type, ntile(4) OVER " +
        "(PARTITION BY event_type ORDER BY value NULLS FIRST, event_id) AS quartile " +
        "FROM events"),
    "q87_scd2" ->
      ("WITH c AS (SELECT user_id, event_type, ts, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev " +
        "FROM events), " +
        "k AS (SELECT user_id, event_type, ts, event_id FROM c " +
        "WHERE prev IS DISTINCT FROM event_type) " +
        "SELECT user_id, event_type, ts AS valid_from, " +
        "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to, " +
        "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current " +
        "FROM k"),
    "q88_cohort" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events), " +
        "f AS (SELECT user_id, min(d) AS cohort FROM e GROUP BY 1) " +
        "SELECT cohort, date_diff('day', cohort, d) AS day_offset, " +
        "count(DISTINCT user_id) AS n_active " +
        "FROM e JOIN f USING (user_id) GROUP BY 1, 2"),
    "q89_funnel" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
        "WHERE event_type = 'click' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id) " +
        "WHERE event_type = 'purchase' AND ts > t1 GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id) " +
        "WHERE event_type = 'signup' AND ts > t2 GROUP BY 1) " +
        "SELECT 1 AS step, 'click' AS step_name, count(*) AS n_users FROM s1 " +
        "UNION ALL SELECT 2, 'purchase', count(*) FROM s2 " +
        "UNION ALL SELECT 3, 'signup', count(*) FROM s3"),
    "q77_compaction" ->
      ("WITH c AS (SELECT lang, doc_id, n_chars, " +
        "sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id) - n_chars AS strt " +
        "FROM documents) " +
        "SELECT lang, CAST(floor(strt / 4096.0) AS BIGINT) AS bin, " +
        "count(*) AS n_files, CAST(sum(n_chars) AS BIGINT) AS bytes FROM c GROUP BY 1, 2"),
    "q78_winsorize" ->
      ("WITH b AS (SELECT event_type AS g, quantile_cont(value, 0.05) AS lo, " +
        "quantile_cont(value, 0.95) AS hi FROM events GROUP BY 1) " +
        "SELECT event_id, event_type, " +
        "round(least(greatest(value, lo), hi), 4) AS clamped " +
        "FROM events JOIN b ON event_type = g"),
    "q79_gap_fill" ->
      ("WITH obs AS (SELECT user_id, date_trunc('day', ts) AS d, " +
        "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1, 2), " +
        "span AS (SELECT user_id, min(d) AS lo, max(d) AS hi FROM obs GROUP BY 1), " +
        "cal AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM span), " +
        "j AS (SELECT c.user_id, c.day, o.v, o.d IS NOT NULL AS observed " +
        "FROM cal c LEFT JOIN obs o ON c.user_id = o.user_id AND c.day = o.d) " +
        "SELECT user_id, day, last_value(v IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled, " +
        "observed FROM j"),
    "q80_source_topic" ->
      ("WITH idx AS (SELECT unnest(generate_series(0, 19999)) AS i), " +
        "e AS (SELECT i, " +
        "CASE WHEN i % 5 = 0 THEN 'cancelled' ELSE 'active' END AS status, " +
        "strftime(make_timestamp((1700000000 + i * 60) * 1000000), '%Y-%m-%d') AS flight_date, " +
        "CAST(i % 150 AS VARCHAR) AS u, i % 30 AS delay FROM idx) " +
        "SELECT flight_date, status, count(*) AS n, " +
        "count(DISTINCT u) AS n_users, round(avg(delay), 4) AS avg_delay " +
        "FROM e GROUP BY 1, 2"),
    "q81_ingest_oracle" ->
      (stagingReplayCte("SELECT 20000 AS nr, 1700000000 + 19999 * 60 AS nowsec") +
        " SELECT * FROM stg"),
    "q28_stream_pipeline" ->
      // SF-sized variant of q81: topic length and `now` derive from the
      // events table's cardinality, exactly as qStreamPipeline takes them
      (stagingReplayCte("SELECT count(*) AS nr, " +
        "1700000000 + (count(*) - 1) * 60 AS nowsec FROM events") +
        " SELECT * FROM stg"),
    "q46_warehouse_cycle" ->
      // full warehouse-cycle replay: staging → (first-cycle) dims are the
      // constant airline/airports of the topic, fact = latest-per-key
      // (keys are unique) with md5-derived surrogate ids resolved —
      // SQL-replayable since surrogateId switched from xxhash64 to md5
      (stagingReplayCte("SELECT count(*) AS nr, " +
        "1700000000 + (count(*) - 1) * 60 AS nowsec FROM events") +
        ", cut AS (SELECT max(ingest_time) AS cutoff FROM stg), " +
        // surrogateId canon: length-prefixed fields, '|'-joined
        s"ids AS (SELECT ${sidSql("'7:airline|4:i:AA'")} AS airline_id, " +
        s"${sidSql("'7:airport|5:i:ORG'")} AS dep_id, " +
        s"${sidSql("'7:airport|5:i:DST'")} AS arr_id) " +
        "SELECT flight_key, flight_date, status, flight_number, flight_iata, " +
        "flight_icao, dep_airport_iata, dep_airport_icao, dep_terminal, dep_gate, " +
        "dep_scheduled, dep_estimated, dep_actual, dep_delay_min, " +
        "arr_airport_iata, arr_airport_icao, arr_terminal, arr_gate, " +
        "arr_scheduled, arr_estimated, arr_actual, arr_delay_min, airline_id, " +
        sidSql("'5:route|' || len(CAST(dep_id AS VARCHAR)) || ':' || CAST(dep_id AS VARCHAR) " +
          "|| '|' || len(CAST(arr_id AS VARCHAR)) || ':' || CAST(arr_id AS VARCHAR)") +
        " AS route_id, ingest_time, cutoff AS last_updated " +
        "FROM stg CROSS JOIN cut CROSS JOIN ids"),
    "q34_media_features" ->
      // the stub decoder is md5-derived, so the oracle replays the whole
      // decode: media = utf-8 payload, feature j = md5(j || '|' || bytes)
      ("WITH j AS (SELECT unnest(generate_series(0, 7)) AS feat_idx), " +
        "d AS (SELECT doc_id, text, octet_length(encode(text)) AS n_bytes FROM documents) " +
        "SELECT doc_id, n_bytes, n_bytes % 640 AS width, n_bytes % 480 AS height, " +
        "feat_idx, round((CAST(('0x' || substr(md5(feat_idx || '|' || text), 1, 8)) AS BIGINT) % 1000) / 1000.0, 4) AS feat_val " +
        "FROM d CROSS JOIN j"),
    "q82_sliding_chunks" ->
      ("WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents), " +
        "c AS (SELECT doc_id, n, unnest(generate_series(0, n - 1, 64)) AS chunk_start " +
        "FROM d WHERE n > 0) " +
        "SELECT doc_id, chunk_start // 64 AS chunk_idx, chunk_start, " +
        "least(chunk_start + 128, n) AS chunk_end FROM c"),
    "q83_drift" ->
      ("WITH o AS (SELECT lang AS stratum, count(*) AS n_old FROM documents " +
        "WHERE doc_id % 2 = 0 GROUP BY 1), " +
        "n AS (SELECT lang AS stratum, count(*) AS n_new FROM documents " +
        "WHERE doc_id % 2 = 1 GROUP BY 1), " +
        "j AS (SELECT coalesce(o.stratum, n.stratum) AS stratum, " +
        "coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new " +
        "FROM o FULL JOIN n ON o.stratum = n.stratum), " +
        "t AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new, count(*) AS s FROM j) " +
        "SELECT stratum, n_old, n_new, " +
        "round(n_old / t_old, 4) AS share_old, " +
        "round(n_new / t_new, 4) AS share_new, " +
        "round(((n_new + 1.0) / (t_new + s)) * " +
        "ln(((n_new + 1.0) / (t_new + s)) / ((n_old + 1.0) / (t_old + s))), 6) AS kl_term " +
        "FROM j CROSS JOIN t"),
    "q84_temperature" ->
      ("WITH s AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1), " +
        "t AS (SELECT sum(n) AS total, sum(pow(n, 0.5)) AS powsum FROM s), " +
        "r AS (SELECT lang, n, n / total AS share, pow(n, 0.5) / powsum AS target " +
        "FROM s CROSS JOIN t), " +
        "m AS (SELECT max(target / share) AS maxlift FROM r) " +
        "SELECT lang, n AS n_docs, round(share, 6) AS share, " +
        "round(target, 6) AS target, " +
        "round((target / share) / maxlift, 6) AS keep_rate FROM r CROSS JOIN m"),
    "q90_inverted_index" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "stats AS (SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1), " +
        "ranked AS (SELECT term, doc_id, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM tf), " +
        "posts AS (SELECT term, array_to_string(list_sort(list(doc_id)), ',') AS postings " +
        "FROM ranked WHERE rn <= 32 GROUP BY 1) " +
        "SELECT s.term, s.df, s.cf, p.postings FROM stats s JOIN posts p USING (term)"),
    "q91_pmi" ->
      ("WITH d AS (SELECT string_split(text, ' ') AS tk FROM documents), " +
        "uni AS (SELECT tok, count(*) AS uc FROM (SELECT unnest(tk) AS tok FROM d) GROUP BY 1), " +
        "big AS (SELECT bigram, count(*) AS bc FROM (SELECT unnest(CASE WHEN len(tk) >= 2 THEN " +
        "list_transform(generate_series(1, len(tk) - 1), i -> array_to_string(tk[i:i+1], ' ')) " +
        "ELSE []::VARCHAR[] END) AS bigram FROM d) GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(uc) AS DOUBLE) AS t_tot FROM uni), " +
        "btot AS (SELECT CAST(sum(bc) AS DOUBLE) AS b_tot FROM big) " +
        "SELECT bigram, bc, u1.uc AS uc1, u2.uc AS uc2, " +
        "round(ln(CAST(bc AS DOUBLE) * t_tot * t_tot / " +
        "(b_tot * CAST(u1.uc AS DOUBLE) * CAST(u2.uc AS DOUBLE))), 6) AS pmi " +
        "FROM big CROSS JOIN tot CROSS JOIN btot " +
        "JOIN uni u1 ON u1.tok = string_split(bigram, ' ')[1] " +
        "JOIN uni u2 ON u2.tok = string_split(bigram, ' ')[2] " +
        "WHERE bc >= 5"),
    "q92_gram_matrix" ->
      ("WITH a AS (SELECT list_prepend(CAST(1.0 AS DOUBLE), " +
        "list_transform(embedding[1:5], x -> CAST(x AS DOUBLE))) AS a FROM embeddings), " +
        "ij AS (SELECT i.i, j.j FROM (SELECT unnest(generate_series(0, 5)) AS i) i " +
        "CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS j) j WHERE i.i <= j.j) " +
        "SELECT i, j, round(CAST(sum(CAST(a[i + 1] * a[j + 1] AS DECIMAL(30,12))) AS DOUBLE), 6) AS sxx, " +
        "count(*) AS n FROM a CROSS JOIN ij GROUP BY 1, 2"),
    "q93_pagerank" ->
      // two unrolled PageRank iterations, same snapping grid as Spark:
      // contributions floor-snapped at 1e-12 then summed as exact
      // decimals; ranks floor-snapped at 1e-6 every iteration
      ("WITH fwd AS (SELECT DISTINCT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst FROM lineitem), " +
        "e AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd), " +
        "nodes AS (SELECT DISTINCT src AS id FROM e), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "r0 AS (SELECT id, floor(1.0 / n * 1e6 + 0.5) / 1e6 AS rank FROM nodes CROSS JOIN nn), " +
        "c1 AS (SELECT e.dst AS id, sum(CAST(floor(r0.rank / deg.outdeg * 1e12 + 0.5) / 1e12 AS DECIMAL(28,14))) AS mass " +
        "FROM e JOIN deg ON e.src = deg.src JOIN r0 ON r0.id = e.src GROUP BY 1), " +
        "r1 AS (SELECT nodes.id, floor((0.15 / n + 0.85 * CAST(coalesce(c1.mass, 0) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS rank " +
        "FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.id = nodes.id), " +
        "c2 AS (SELECT e.dst AS id, sum(CAST(floor(r1.rank / deg.outdeg * 1e12 + 0.5) / 1e12 AS DECIMAL(28,14))) AS mass " +
        "FROM e JOIN deg ON e.src = deg.src JOIN r1 ON r1.id = e.src GROUP BY 1) " +
        "SELECT nodes.id, floor((0.15 / n + 0.85 * CAST(coalesce(c2.mass, 0) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS rank " +
        "FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.id = nodes.id"),
    "q94_triangles" ->
      // same degree orientation: lower degree → higher (ties by id);
      // each triangle counted once as fwd(a,b) ⋈ fwd(b,c) ⋈ fwd(a,c)
      ("WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0), " +
        "e AS (SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi FROM li a " +
        "JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "deg AS (SELECT n, count(*) AS d FROM " +
        "(SELECT lo AS n FROM e UNION ALL SELECT hi FROM e) GROUP BY 1), " +
        "fwd AS (SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND lo < hi) THEN lo ELSE hi END AS u, " +
        "CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND lo < hi) THEN hi ELSE lo END AS v " +
        "FROM e JOIN deg d1 ON d1.n = e.lo JOIN deg d2 ON d2.n = e.hi), " +
        "tri AS (SELECT f1.u AS a, f1.v AS b, f2.v AS c FROM fwd f1 " +
        "JOIN fwd f2 ON f2.u = f1.v " +
        "WHERE EXISTS (SELECT 1 FROM fwd f3 WHERE f3.u = f1.u AND f3.v = f2.v)) " +
        "SELECT node, count(*) AS triangles FROM " +
        "(SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) " +
        "GROUP BY 1"),
    "q95_transitions" ->
      ("WITH s AS (SELECT user_id, event_type, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type " +
        "FROM events), " +
        "p AS (SELECT event_type, next_type, count(*) AS n FROM s " +
        "WHERE next_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT event_type, next_type, n, " +
        "CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS row_total, " +
        "round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS p " +
        "FROM p"),
    "q96_join_size_est" -> {
      def b(i: Int, item: String) =
        s"CAST(CAST(('0x' || substr(md5('$i' || '|' || $item), 1, 8)) AS BIGINT) % 64 AS BIGINT)"
      ("WITH a AS (SELECT user_id FROM events WHERE event_id % 2 = 0), " +
        "bb AS (SELECT user_id FROM events WHERE event_id % 2 = 1), " +
        (0 until 3).map(i =>
          s"ca$i AS (SELECT ${b(i, "user_id")} AS bucket, count(*) AS cnt FROM a GROUP BY 1), " +
          s"cb$i AS (SELECT ${b(i, "user_id")} AS bucket, count(*) AS cnt FROM bb GROUP BY 1), " +
          s"d$i AS (SELECT sum(CAST(ca$i.cnt AS DECIMAL(19,0)) * CAST(cb$i.cnt AS DECIMAL(19,0))) AS dot " +
          s"FROM ca$i JOIN cb$i ON ca$i.bucket = cb$i.bucket) ").mkString(", ") + ", " +
        "est AS (SELECT CAST(least(d0.dot, d1.dot, d2.dot) AS DECIMAL(38,0)) AS est_join_size " +
        "FROM d0 CROSS JOIN d1 CROSS JOIN d2), " +
        "na AS (SELECT user_id, count(*) AS n FROM a GROUP BY 1), " +
        "nb AS (SELECT user_id, count(*) AS n FROM bb GROUP BY 1), " +
        "tr AS (SELECT CAST(sum(CAST(na.n AS DECIMAL(19,0)) * CAST(nb.n AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS true_join_size " +
        "FROM na JOIN nb ON na.user_id = nb.user_id) " +
        "SELECT CAST(est_join_size AS VARCHAR) AS est_join_size, " +
        "CAST(true_join_size AS VARCHAR) AS true_join_size, " +
        "round(CAST(est_join_size AS DOUBLE) / CAST(true_join_size AS DOUBLE), 4) AS over_ratio, " +
        "est_join_size >= true_join_size AS bound_holds FROM est CROSS JOIN tr")
    },
    "q97_table_checksum" ->
      ("WITH c AS (SELECT CAST(ts AS DATE) AS bucket, " +
        "concat_ws('|', coalesce(CAST(event_id AS VARCHAR), '␀'), " +
        "coalesce(CAST(user_id AS VARCHAR), '␀'), " +
        "coalesce(event_type, '␀'), " +
        "coalesce(strftime(ts, '%Y-%m-%d %H:%M:%S'), '␀'), " +
        "coalesce(CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR), '␀')) AS canon FROM events) " +
        "SELECT bucket, count(*) AS n_rows, " +
        "CAST(CAST(sum(CAST(('0x' || substr(md5(canon), 1, 15)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum " +
        "FROM c GROUP BY 1"),
    "q98_cdc_roundtrip" ->
      // the roundtrip law IS the oracle: applying the derived change
      // feed to the old snapshot must reproduce the new snapshot exactly
      ("SELECT c_custkey, c_name, c_acctbal AS bal FROM customer " +
        "WHERE c_custkey % 10 >= 2"),
    "q99_rolling_window" ->
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "sum(CAST(value AS DECIMAL(18,4))) AS day_v, count(*) AS day_n, " +
        "datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num " +
        "FROM events GROUP BY 1, 2, 5) " +
        "SELECT event_type, day, round(CAST(day_v AS DOUBLE), 4) AS day_v, day_n, " +
        "round(CAST(sum(day_v) OVER w AS DOUBLE), 4) AS roll3_v, " +
        "CAST(sum(day_n) OVER w AS BIGINT) AS roll3_n, " +
        "round(CAST(day_v - lag(day_v, 1) OVER (PARTITION BY event_type ORDER BY day_num) AS DOUBLE), 4) AS dod_delta " +
        "FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day_num " +
        "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)"),
    "q100_incremental_mv" ->
      // the maintenance law IS the oracle: the delta-applied MV must
      // equal the aggregate computed directly over the new snapshot
      ("WITH ns AS (SELECT " +
        "CASE WHEN event_id % 13 = 0 THEN 'moved' ELSE event_type END AS event_type, " +
        "CAST(CASE WHEN event_id % 7 = 0 THEN value + 1 ELSE value END AS DECIMAL(18,4)) AS value " +
        "FROM events WHERE event_id % 10 >= 2) " +
        "SELECT event_type, count(*) AS n, " +
        "round(CAST(sum(value) AS DOUBLE), 4) AS sum_v FROM ns GROUP BY 1"),
    "q101_twap" ->
      ("WITH s AS (SELECT event_type, ts, value, event_id, " +
        "lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_ts FROM events), " +
        "d AS (SELECT event_type, CAST(value AS DECIMAL(18,4)) AS v, " +
        "epoch_us(next_ts) - epoch_us(ts) AS dur FROM s WHERE next_ts IS NOT NULL) " +
        "SELECT event_type, CAST(sum(dur) AS BIGINT) AS total_us, " +
        "round(CAST(sum(v * CAST(dur AS DECIMAL(20,0))) AS DOUBLE) / CAST(sum(dur) AS DOUBLE), 6) AS twap, " +
        "round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS plain_mean " +
        "FROM d GROUP BY 1"),
    "q102_group_regression" ->
      ("WITH p AS (SELECT event_type, " +
        "CAST(datediff('day', DATE '2023-01-01', CAST(ts AS DATE)) AS DECIMAL(10,0)) AS x, " +
        "CAST(value AS DECIMAL(18,4)) AS y FROM events), " +
        "st AS (SELECT event_type, CAST(count(*) AS DECIMAL(20,0)) AS n, " +
        "sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx " +
        "FROM p GROUP BY 1) " +
        "SELECT event_type, CAST(n AS BIGINT) AS n, " +
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_per_day " +
        "FROM st"),
    "q103_quality_report" ->
      ("WITH m AS (SELECT " +
        "CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c0, " +
        "CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT) AS c1, " +
        "CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c2, " +
        "CAST(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS c3, " +
        "CAST(sum(CASE WHEN NOT (event_type IN ('click','view','purchase','signup','error')) THEN 1 ELSE 0 END) AS BIGINT) AS c4, " +
        "CAST(sum(CASE WHEN NOT (year(ts) = 2024) THEN 1 ELSE 0 END) AS BIGINT) AS c5 " +
        "FROM events), " +
        "ri AS (SELECT CAST(count(*) AS BIGINT) AS v FROM events e " +
        "WHERE user_id IS NOT NULL AND NOT EXISTS " +
        "(SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)) " +
        "SELECT \"constraint\", violations, violations = 0 AS pass FROM (" +
        "SELECT 'events.event_id not_null' AS \"constraint\", c0 AS violations FROM m " +
        "UNION ALL SELECT 'events.event_id unique', c1 FROM m " +
        "UNION ALL SELECT 'events.user_id not_null', c2 FROM m " +
        "UNION ALL SELECT 'events.value in [0,1000]', c3 FROM m " +
        "UNION ALL SELECT 'events.event_type allowed', c4 FROM m " +
        "UNION ALL SELECT 'events.ts in 2024', c5 FROM m " +
        "UNION ALL SELECT 'events.user_id references customer', v FROM ri)"),
    "q104_entropy" ->
      ("WITH c AS (SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2), " +
        "a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events, count(*) AS n_types, " +
        "sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e9 + 0.5) AS DECIMAL(28,0))) AS s9, " +
        "CAST(sum(c * c) AS BIGINT) AS sc2 FROM c GROUP BY 1) " +
        "SELECT user_id, n_events, n_types, " +
        "round(ln(CAST(n_events AS DOUBLE)) - (CAST(s9 AS DOUBLE) / 1e9) / CAST(n_events AS DOUBLE), 6) AS entropy, " +
        "round(1.0 - CAST(sc2 AS DOUBLE) / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)), 6) AS gini_simpson " +
        "FROM a"),
    "q105_skew_gini" ->
      ("WITH k AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1), " +
        "r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, user_id) AS r FROM k) " +
        "SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total_rows, " +
        "max(cnt) AS max_cnt, " +
        "round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS top_share, " +
        "round(2.0 * CAST(sum(r * cnt) AS DOUBLE) / " +
        "(CAST(count(*) AS DOUBLE) * CAST(sum(cnt) AS DOUBLE)) - " +
        "(CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE), 6) AS gini " +
        "FROM r"),
    "q106_quantile_norm" ->
      ("WITH r AS (SELECT event_id, event_type, " +
        "rank() OVER (PARTITION BY event_type ORDER BY value) AS r, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM events) " +
        "SELECT event_id, event_type, CAST(r AS BIGINT) AS r, " +
        "round(CAST(r - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6) AS qnorm FROM r"),
    "q107_attribution" ->
      ("WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts FROM (SELECT user_id, ts, count(*) AS n " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2)) " +
        "SELECT CAST(c.ts AS DATE) AS click_day, count(*) AS n_purchases, " +
        "round(CAST(sum(CAST(p.value AS DECIMAL(18,4))) AS DOUBLE), 4) AS attributed_revenue " +
        "FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts " +
        "GROUP BY 1"),
    "q108_streaks" ->
      ("WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "i AS (SELECT user_id, day, " +
        "datediff('day', DATE '1970-01-01', day) - dense_rank() OVER (PARTITION BY user_id ORDER BY day) AS island FROM d), " +
        "s AS (SELECT user_id, island, count(*) AS len, min(day) AS streak_start FROM i GROUP BY 1, 2), " +
        "b AS (SELECT user_id, len, streak_start, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY len DESC, streak_start DESC) AS rn, " +
        "count(*) OVER (PARTITION BY user_id) AS n_streaks FROM s) " +
        "SELECT user_id, len AS longest_streak, streak_start AS best_streak_start, " +
        "CAST(n_streaks AS BIGINT) AS n_streaks FROM b WHERE rn = 1"),
    "q109_rolling_distinct" ->
      // q68's register rule + full day×bucket grid + range-window merge
      ("WITH h AS (SELECT CAST(ts AS DATE) AS day, " +
        "CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS hv " +
        "FROM events WHERE user_id IS NOT NULL), " +
        "dr AS (SELECT day, hv & 63 AS bucket, " +
        "MAX(CASE WHEN (hv >> 6) > 0 THEN 27 - length(bin(hv >> 6)) ELSE 27 END) AS reg " +
        "FROM h GROUP BY 1, 2), " +
        "grid AS (SELECT day, b AS bucket FROM (SELECT DISTINCT day FROM h) " +
        "CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)), " +
        "g AS (SELECT grid.day, grid.bucket, dr.reg, " +
        "datediff('day', DATE '1970-01-01', grid.day) AS dn " +
        "FROM grid LEFT JOIN dr ON dr.day = grid.day AND dr.bucket = grid.bucket), " +
        "roll AS (SELECT day, bucket, max(reg) OVER " +
        "(PARTITION BY bucket ORDER BY dn RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS reg FROM g), " +
        "rr AS (SELECT day, bucket, reg FROM roll WHERE reg IS NOT NULL), " +
        "s AS (SELECT day, count(*) AS n_buckets, sum(pow(2.0, -reg)) AS sp, " +
        "CAST(sum(bucket * reg) AS BIGINT) AS reg_checksum FROM rr GROUP BY 1) " +
        "SELECT day, n_buckets, reg_checksum, " +
        "round(CASE WHEN raw <= 160 AND zeros > 0 THEN 64 * ln(64.0 / zeros) ELSE raw END, 3) AS est_distinct " +
        "FROM (SELECT *, 0.709 * 64 * 64 / (sp + (64 - n_buckets)) AS raw, " +
        "64 - n_buckets AS zeros FROM s)"),
    "q110_ab_test" ->
      ("WITH u AS (SELECT user_id, max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv " +
        "FROM events GROUP BY 1), " +
        // NULL user_id lands in NEITHER cohort (<> 0 on NULL is NULL →
        // ELSE 0), matching Spark's negated-when semantics exactly
        "a AS (SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a, " +
        "CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN user_id % 2 <> 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_b FROM u), " +
        "d AS (SELECT *, CAST(n_a AS DOUBLE) AS na, CAST(conv_a AS DOUBLE) AS ca, " +
        "CAST(n_b AS DOUBLE) AS nb, CAST(conv_b AS DOUBLE) AS cb, " +
        "(CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE)) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS p FROM a) " +
        "SELECT n_a, conv_a, n_b, conv_b, " +
        "round(ca / na, 6) AS rate_a, round(cb / nb, 6) AS rate_b, " +
        "round((ca / na - cb / nb) / sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb)), 6) AS z_score, " +
        "abs((ca / na - cb / nb) / sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))) > 1.96 AS significant_95 " +
        "FROM d"),
    "q111_time_to_convert" ->
      ("WITH fc AS (SELECT user_id, min(ts) AS t1 FROM events " +
        "WHERE event_type = 'click' GROUP BY 1), " +
        "cv AS (SELECT e.user_id, min(e.ts) AS t2, min(fc.t1) AS t1 " +
        "FROM events e JOIN fc ON e.user_id = fc.user_id " +
        "WHERE e.event_type = 'purchase' AND e.ts > fc.t1 GROUP BY 1), " +
        "d AS (SELECT epoch_us(t2) - epoch_us(t1) AS delta_us FROM cv) " +
        "SELECT count(*) AS n_converted, min(delta_us) AS min_us, " +
        "round(quantile_cont(delta_us, 0.25), 3) AS p25_us, " +
        "round(quantile_cont(delta_us, 0.5), 3) AS p50_us, " +
        "round(quantile_cont(delta_us, 0.75), 3) AS p75_us, " +
        "max(delta_us) AS max_us FROM d"),
    "q112_bpe_merges" ->
      // replay of the 2-merge BPE training trajectory: symbolize every
      // word (chars + </w> on the last), argmax adjacent-pair counts
      // weighted by word freq (count desc, pair-lex tie-break), apply
      // merge 1 greedily leftmost-first via a list_reduce fold (the
      // accumulator is chr(31)-joined; "last element = lhs and next =
      // rhs" appends rhs directly, fusing the pair), argmax again.
      // Oracle-side caveat: the chr(31) accumulator delimiter assumes
      // document text never contains U+001F (true of the testdata; the
      // ENGINE's array fold has no such constraint)
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "wf AS (SELECT w, count(*) AS freq FROM tok WHERE len(w) > 0 GROUP BY 1), " +
        "sym0 AS (SELECT freq, list_append(" +
        "list_transform(generate_series(1, len(w) - 1), i -> substr(w, i, 1)), " +
        "substr(w, len(w), 1) || '</w>') AS s FROM wf), " +
        "p1 AS (SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS n " +
        "FROM sym0, unnest(generate_series(1, len(s) - 1)) AS t(i) " +
        "WHERE len(s) >= 2 GROUP BY 1, 2), " +
        "m1 AS (SELECT a, b FROM p1 ORDER BY n DESC, a, b LIMIT 1), " +
        "sym1 AS (SELECT freq, string_split(list_reduce(s, " +
        "(acc, x) -> CASE WHEN x = m1.b AND (acc = m1.a OR suffix(acc, chr(31) || m1.a)) " +
        "THEN acc || m1.b ELSE acc || chr(31) || x END), chr(31)) AS s " +
        "FROM sym0 CROSS JOIN m1), " +
        "p2 AS (SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS n " +
        "FROM sym1, unnest(generate_series(1, len(s) - 1)) AS t(i) " +
        "WHERE len(s) >= 2 GROUP BY 1, 2), " +
        "m2 AS (SELECT a, b FROM p2 ORDER BY n DESC, a, b LIMIT 1) " +
        "SELECT CAST(1 AS BIGINT) AS merge_idx, a AS lhs, b AS rhs FROM m1 " +
        "UNION ALL SELECT 2, a, b FROM m2"),
    "q113_bigram_nll" ->
      // p = 0.5·(bc/ctx) + 0.5·(uc/T), fixed parenthesization both sides
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "uni AS (SELECT tok, count(*) AS uc FROM (SELECT unnest(tk) AS tok FROM d) GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(uc) AS DOUBLE) AS t FROM uni), " +
        "bg AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 2 THEN " +
        "list_transform(generate_series(1, len(tk) - 1), i -> array_to_string(tk[i:i+1], ' ')) " +
        "ELSE []::VARCHAR[] END) AS bigram FROM d), " +
        "big AS (SELECT bigram, count(*) AS bc FROM bg GROUP BY 1), " +
        "ctx AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(bc) AS ctx FROM big GROUP BY 1), " +
        "p AS (SELECT bigram, 0.5 * (CAST(bc AS DOUBLE) / CAST(ctx AS DOUBLE)) + " +
        "0.5 * (CAST(uc AS DOUBLE) / t) AS p FROM big " +
        "JOIN ctx ON string_split(bigram, ' ')[1] = ctx.w1 " +
        "JOIN uni ON uni.tok = string_split(bigram, ' ')[2] CROSS JOIN tot), " +
        "db AS (SELECT doc_id, bigram, count(*) AS k FROM bg GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams, " +
        "round(-(CAST(sum(CAST(floor(CAST(k AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(k), 4) AS nll " +
        "FROM db JOIN p USING (bigram) GROUP BY 1"),
    "q114_leakage_split" ->
      // q63's recursive-CTE connected components, then the q42 md5 split
      // keyed on group_id instead of doc_id
      (s"WITH RECURSIVE $shingleCte, " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM cands " +
        "UNION ALL SELECT doc_b AS a, doc_a AS b FROM cands), " +
        "reach AS (SELECT doc_id AS node, doc_id AS comp FROM documents " +
        "UNION SELECT e.b AS node, r.comp AS comp FROM reach r " +
        "JOIN edges e ON e.a = r.node), " +
        "comp AS (SELECT node AS doc_id, min(comp) AS group_id FROM reach GROUP BY 1), " +
        "b AS (SELECT group_id, CAST(CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS BIGINT) AS bkt FROM comp) " +
        "SELECT CASE WHEN bkt < 10 THEN 'val' WHEN bkt < 20 THEN 'test' ELSE 'train' END AS split, " +
        "count(*) AS n_docs, count(DISTINCT group_id) AS n_groups FROM b GROUP BY 1"),
    "q115_silhouette" ->
      // same snapping grids as the engine: centroids 1e-6, squared terms
      // 1e-12 decimal-summed, per-vector s 1e-9 decimal-summed
      ("WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "xx AS (SELECT vec_id, label, unnest(e) AS xv, generate_subscripts(e, 1) AS pos FROM v), " +
        "cent AS (SELECT label AS clabel, pos, floor(avg(xv) * 1000000 + 0.5) / 1000000 AS m " +
        "FROM xx GROUP BY 1, 2), " +
        "d AS (SELECT vec_id, label, clabel, " +
        "CAST(sum(CAST(floor((xv - m) * (xv - m) * 1000000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000000 AS d2 " +
        "FROM xx JOIN cent USING (pos) GROUP BY 1, 2, 3), " +
        "ab AS (SELECT vec_id, label, " +
        "min(CASE WHEN clabel = label THEN d2 END) AS a, " +
        "min(CASE WHEN clabel <> label THEN d2 END) AS b " +
        "FROM d GROUP BY 1, 2), " +
        "sc AS (SELECT label, (sqrt(b) - sqrt(a)) / greatest(sqrt(a), sqrt(b)) AS s " +
        "FROM ab WHERE b IS NOT NULL) " +
        "SELECT label, count(*) AS n_vectors, " +
        "round(CAST(sum(CAST(floor(s * 1000000000 + 0.5) AS DECIMAL(28,0))) AS DOUBLE) / 1000000000 / count(*), 4) AS silhouette " +
        "FROM sc GROUP BY 1"),
    "q116_prefix_simjoin" ->
      // prefix-filter lemma at t=3/5: rare-first prefixes of length
      // sz − ceil(t·sz) + 1; all keep/drop decisions are integer
      // cross-multiplications (×5 vs ×3), zero float
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "sh0 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3 THEN " +
        "list_transform(generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')) " +
        "ELSE []::VARCHAR[] END) AS shingle FROM toks), " +
        // 60-bit digest keys, as the engine: Jaccard over the HASHED
        // shingle universe — identical digests on both sides keep
        // outputs bit-equal even under (negligible) collisions
        "sh AS (SELECT DISTINCT doc_id, " +
        "CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle FROM sh0), " +
        "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
        "df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1), " +
        "rk AS (SELECT s.doc_id, s.shingle, z.sz, " +
        "row_number() OVER (PARTITION BY s.doc_id ORDER BY d.df, s.shingle) AS rn " +
        "FROM sh s JOIN df d USING (shingle) JOIN sz z USING (doc_id)), " +
        "pfx AS (SELECT doc_id, shingle, sz, rn FROM rk WHERE rn <= sz - ((sz * 3 + 4) // 5) + 1), " +
        // positional filter: the first shared element (min rn on BOTH
        // sides at once — same global order) caps achievable overlap at
        // min(sza-ia, szb-jb)+1, which must reach ceil(t(sza+szb)/(1+t))
        "cand0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sza, b.sz AS szb, " +
        "min(a.rn) AS ia, min(b.rn) AS jb " +
        "FROM pfx a JOIN pfx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id " +
        "AND a.sz * 5 >= b.sz * 3 AND b.sz * 5 >= a.sz * 3 GROUP BY 1, 2, 3, 4), " +
        "cand AS (SELECT doc_a, doc_b FROM cand0 " +
        "WHERE (least(sza - ia, szb - jb) + 1) * 8 >= (sza + szb) * 3), " +
        "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c " +
        "JOIN sh sa ON c.doc_a = sa.doc_id " +
        "JOIN sh sb ON c.doc_b = sb.doc_id AND sa.shingle = sb.shingle GROUP BY 1, 2) " +
        "SELECT i.doc_a, i.doc_b, " +
        "round(CAST(n_inter AS DOUBLE) / (za.sz + zb.sz - n_inter), 4) AS jaccard " +
        "FROM inter i JOIN sz za ON i.doc_a = za.doc_id JOIN sz zb ON i.doc_b = zb.doc_id " +
        "WHERE n_inter * 5 >= (za.sz + zb.sz - n_inter) * 3"),
    "q117_cdc_chunks" ->
      // cut token = last token of its chunk; chunk text re-sliced from
      // the token array by (start, len) — no order-sensitive reassembly
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "tok AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS pos FROM toks), " +
        "fl AS (SELECT doc_id, pos, CASE WHEN " +
        "CAST(('0x' || substr(md5(t[pos]), 1, 8)) AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS cut FROM tok), " +
        "ch AS (SELECT doc_id, pos, coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx FROM fl), " +
        "grp AS (SELECT doc_id, chunk_idx, min(pos) AS start_pos, count(*) AS n_tokens " +
        "FROM ch GROUP BY 1, 2), " +
        "h AS (SELECT g.doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, " +
        "CAST(start_pos AS BIGINT) AS start_pos, n_tokens, " +
        "md5(array_to_string(s.t[start_pos:start_pos + n_tokens - 1], ' ')) AS chunk_hash " +
        "FROM grp g JOIN toks s USING (doc_id)) " +
        "SELECT doc_id, chunk_idx, start_pos, n_tokens, chunk_hash, " +
        "count(*) OVER (PARTITION BY chunk_hash) AS n_copies FROM h"),
    "q118_min_k_sample" ->
      ("SELECT doc_id, source, lang, md5(CAST(doc_id AS VARCHAR)) AS rank_hash " +
        "FROM documents ORDER BY rank_hash LIMIT 100"),
    "q119_zipf_fit" ->
      // snapped-decimal Σ over ln terms (1e9 grid, as q104/q113/q115):
      // order-independent sums, then the closed-form OLS fit
      ("WITH tk AS (SELECT lang AS grp, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "fr AS (SELECT grp, tok, count(*) AS freq FROM tk GROUP BY 1, 2), " +
        "xy AS (SELECT grp, freq, " +
        "ln(CAST(row_number() OVER (PARTITION BY grp ORDER BY freq DESC, tok) AS DOUBLE)) AS x, " +
        "ln(CAST(freq AS DOUBLE)) AS y FROM fr), " +
        "s AS (SELECT grp, count(*) AS vocab_size, CAST(sum(freq) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CAST(floor(x * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sx, " +
        "CAST(sum(CAST(floor(y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy, " +
        "CAST(sum(CAST(floor(x * x * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxx, " +
        "CAST(sum(CAST(floor(x * y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxy, " +
        "CAST(sum(CAST(floor(y * y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS syy " +
        "FROM xy GROUP BY 1) " +
        "SELECT grp, vocab_size, n_tokens, " +
        "round((vocab_size * sxy - sx * sy) / (vocab_size * sxx - sx * sx), 4) AS slope, " +
        "round((sy - ((vocab_size * sxy - sx * sy) / (vocab_size * sxx - sx * sx)) * sx) / vocab_size, 4) AS intercept, " +
        "round(((vocab_size * sxy - sx * sy) * (vocab_size * sxy - sx * sy)) / " +
        "((vocab_size * sxx - sx * sx) * (vocab_size * syy - sy * sy)), 4) AS r2 " +
        "FROM s"),
    "q120_semdedup" ->
      // drop any vector with a smaller-id near-duplicate in its label
      // cluster (cos >= t on the 4-dp rounded value, as q32)
      ("WITH v AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_dot_product(a.e, b.e) / " +
        "nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0), 4) AS cos " +
        "FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id) " +
        "SELECT vec_id, label FROM embeddings " +
        "WHERE vec_id NOT IN (SELECT id_b FROM p WHERE cos >= 0.28)"),
    "q121_source_budget" ->
      ("SELECT doc_id, source, n_chars, cum_size FROM (" +
        "SELECT doc_id, source, n_chars, " +
        "CAST(sum(n_chars) OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_size " +
        "FROM documents) WHERE cum_size <= 6000"),
    "q122_dsir_weight" ->
      // Laplace-smoothed hashed-unigram log-ratios; snapped-decimal
      // per-doc Σ (1e9 grid, the shared Snap contract)
      ("WITH tok AS (SELECT doc_id, lang = 'en' AS is_target, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "dt AS (SELECT doc_id, is_target, " +
        "CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 1024 AS b, " +
        "count(*) AS tf FROM tok GROUP BY 1, 2, 3), " +
        "bs AS (SELECT b, sum(tf) AS craw, " +
        "sum(CASE WHEN is_target THEN tf ELSE 0 END) AS ctgt FROM dt GROUP BY 1), " +
        "tt AS (SELECT sum(craw) AS traw, sum(ctgt) AS ttgt FROM bs), " +
        "lr AS (SELECT b, " +
        "ln(CAST(ctgt + 1 AS DOUBLE) / CAST(ttgt + 1024 AS DOUBLE)) - " +
        "ln(CAST(craw + 1 AS DOUBLE) / CAST(traw + 1024 AS DOUBLE)) AS lr " +
        "FROM bs CROSS JOIN tt) " +
        "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, " +
        "round(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * lr * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000, 4) AS dsir_w " +
        "FROM dt JOIN lr USING (b) GROUP BY 1"),
    "q123_shard_manifest" ->
      ("SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard, " +
        "count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS tot_size, " +
        "min(doc_id) AS min_id, max(doc_id) AS max_id FROM documents GROUP BY 1"),
    "q124_rrf_fusion" ->
      // two integer-keyed top-50 lists, fused by 1/(60+rank); the rrf
      // expression is two IEEE ops over integer ranks — bit-stable
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok " +
        "WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2), " +
        "ca AS (SELECT doc_id, sum(tf) AS tfq, count(*) AS n_terms FROM tf GROUP BY 1), " +
        "cand AS (SELECT ca.doc_id, tfq, n_terms, d.n_chars " +
        "FROM ca JOIN documents d USING (doc_id)), " +
        "la AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY tfq DESC, doc_id) AS BIGINT) AS rank_a " +
        "FROM cand QUALIFY rank_a <= 50), " +
        "lb AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY n_terms DESC, n_chars, doc_id) AS BIGINT) AS rank_b " +
        "FROM cand QUALIFY rank_b <= 50), " +
        "f AS (SELECT coalesce(la.doc_id, lb.doc_id) AS doc_id, rank_a, rank_b, " +
        "round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_a), CAST(0 AS DOUBLE)) + " +
        "coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_b), CAST(0 AS DOUBLE)), 6) AS rrf " +
        "FROM la FULL JOIN lb ON la.doc_id = lb.doc_id) " +
        "SELECT doc_id, rank_a, rank_b, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 20"),
    "q125_canonical_pick" ->
      // q63's CC fixpoint, then the longest member (ties -> smallest id)
      // as the group representative
      (s"WITH RECURSIVE $shingleCte, " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM cands " +
        "UNION ALL SELECT doc_b AS a, doc_a AS b FROM cands), " +
        "reach AS (SELECT doc_id AS node, doc_id AS comp FROM documents " +
        "UNION SELECT e.b AS node, r.comp AS comp FROM reach r " +
        "JOIN edges e ON e.a = r.node), " +
        "comp AS (SELECT node AS doc_id, min(comp) AS group_id FROM reach GROUP BY 1), " +
        "sizes AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1), " +
        "m AS (SELECT c.group_id, s.group_size, d.doc_id, d.n_chars, " +
        "row_number() OVER (PARTITION BY c.group_id ORDER BY d.n_chars DESC, d.doc_id) AS rn " +
        "FROM comp c JOIN sizes s USING (group_id) JOIN documents d ON d.doc_id = c.doc_id) " +
        "SELECT group_id, group_size, doc_id AS canon_id, n_chars AS canon_chars " +
        "FROM m WHERE rn = 1"),
    "q126_bpe_fertility" ->
      // q112's 2-merge trajectory, then BOTH merges applied (in learned
      // order) to every distinct word via the same list_reduce greedy
      // fold; fertility = freq-weighted subwords per word, per language.
      // Same chr(31)-delimiter caveat as q112 (testdata has no U+001F).
      ("WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "wlf AS (SELECT lang, w, count(*) AS freq FROM tok WHERE len(w) > 0 GROUP BY 1, 2), " +
        "wf AS (SELECT w, sum(freq) AS freq FROM wlf GROUP BY 1), " +
        "sym0 AS (SELECT w, freq, list_append(" +
        "list_transform(generate_series(1, len(w) - 1), i -> substr(w, i, 1)), " +
        "substr(w, len(w), 1) || '</w>') AS s FROM wf), " +
        "p1 AS (SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS n " +
        "FROM sym0, unnest(generate_series(1, len(s) - 1)) AS t(i) " +
        "WHERE len(s) >= 2 GROUP BY 1, 2), " +
        "m1 AS (SELECT a, b FROM p1 ORDER BY n DESC, a, b LIMIT 1), " +
        "sym1 AS (SELECT w, freq, string_split(list_reduce(s, " +
        "(acc, x) -> CASE WHEN x = m1.b AND (acc = m1.a OR suffix(acc, chr(31) || m1.a)) " +
        "THEN acc || m1.b ELSE acc || chr(31) || x END), chr(31)) AS s " +
        "FROM sym0 CROSS JOIN m1), " +
        "p2 AS (SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS n " +
        "FROM sym1, unnest(generate_series(1, len(s) - 1)) AS t(i) " +
        "WHERE len(s) >= 2 GROUP BY 1, 2), " +
        "m2 AS (SELECT a, b FROM p2 ORDER BY n DESC, a, b LIMIT 1), " +
        "sym2 AS (SELECT w, freq, string_split(list_reduce(s, " +
        "(acc, x) -> CASE WHEN x = m2.b AND (acc = m2.a OR suffix(acc, chr(31) || m2.a)) " +
        "THEN acc || m2.b ELSE acc || chr(31) || x END), chr(31)) AS s " +
        "FROM sym1 CROSS JOIN m2), " +
        "enc AS (SELECT w, len(s) AS n_sub FROM sym2) " +
        "SELECT lang, CAST(sum(freq) AS BIGINT) AS n_words, " +
        "CAST(sum(freq * n_sub) AS BIGINT) AS n_subwords, " +
        "round(CAST(sum(freq * n_sub) AS DOUBLE) / sum(freq), 4) AS fertility " +
        "FROM wlf JOIN enc USING (w) GROUP BY 1"),
    "q127_gopher_rules" ->
      // integer-only rule comparisons (cross-multiplied rationals)
      ("WITH s AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "m AS (SELECT doc_id, len(tk) AS n, " +
        "list_sum(list_transform(tk, x -> length(x))) AS sumlen, " +
        "len(list_distinct(tk)) AS dst, " +
        "list_max(list_transform(tk, x -> length(x))) AS mx, " +
        "len(list_filter(tk, x -> list_contains(['the','a','of','and','to','in','is','on','for','with'], x))) AS stp " +
        "FROM s) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, " +
        "(n >= 25 AND n <= 80) AS r_len, " +
        "(sumlen >= n * 4 AND sumlen <= n * 5) AS r_wordlen, " +
        "(dst * 2 >= n) AS r_distinct, " +
        "(stp >= 1) AS r_stop, " +
        "(mx <= 7) AS r_longest, " +
        "((n >= 25 AND n <= 80) AND (sumlen >= n * 4 AND sumlen <= n * 5) AND " +
        "(dst * 2 >= n) AND (stp >= 1) AND (mx <= 7)) AS keep " +
        "FROM m"),
    "q128_length_batching" ->
      ("WITH b AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard, " +
        "doc_id, n_chars FROM documents), " +
        "r AS (SELECT shard, n_chars, " +
        "CAST((row_number() OVER (PARTITION BY shard ORDER BY n_chars DESC, doc_id) - 1) // 32 AS BIGINT) AS batch_idx FROM b) " +
        "SELECT shard, batch_idx, count(*) AS n_items, max(n_chars) AS max_len, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_len, " +
        "CAST(count(*) * max(n_chars) - sum(n_chars) AS BIGINT) AS padding " +
        "FROM r GROUP BY 1, 2"),
    "q129_knn_graph" ->
      ("WITH v AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "p AS (SELECT a.vec_id AS src, b.vec_id AS dst, " +
        "round(list_dot_product(a.e, b.e) / " +
        "nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0), 4) AS cos " +
        "FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id) " +
        "SELECT src, dst, cos, " +
        "CAST(row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS BIGINT) AS rank " +
        "FROM p QUALIFY rank <= 3"),
    "q130_token_apportion" ->
      // Hamilton apportionment: floor quotas + largest-remainder top-up;
      // sqrt weights (IEEE-exact), Snap-snapped normalizer
      ("WITH s AS (SELECT source AS stratum, CAST(sum(n_chars) AS BIGINT) AS sz " +
        "FROM documents GROUP BY 1), " +
        "t AS (SELECT CAST(sum(CAST(floor(sqrt(CAST(sz AS DOUBLE)) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS tot FROM s), " +
        "q AS (SELECT stratum, sz, " +
        "1000000 * sqrt(CAST(sz AS DOUBLE)) / tot AS quota FROM s CROSS JOIN t), " +
        "q2 AS (SELECT stratum, sz, CAST(floor(quota) AS BIGINT) AS base, " +
        "quota - floor(quota) AS frac FROM q), " +
        "r AS (SELECT stratum, sz, base, " +
        "row_number() OVER (ORDER BY frac DESC, stratum) AS rk, " +
        "(SELECT 1000000 - sum(base) FROM q2) AS rem FROM q2) " +
        "SELECT stratum, sz, " +
        "CAST(base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS BIGINT) AS alloc FROM r"),
    "q131_source_overlap" ->
      (s"WITH $shingleCte, " +
        "j AS (SELECT c.doc_a, c.doc_b, da.source AS sa, db.source AS sb " +
        "FROM cands c JOIN documents da ON c.doc_a = da.doc_id " +
        "JOIN documents db ON c.doc_b = db.doc_id) " +
        "SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b, " +
        "count(*) AS n_pairs FROM j GROUP BY 1, 2"),
    "q132_substring_dedup" ->
      // canonical = global min (doc, pos) per 5-gram via lexicographic
      // row() argmin (any doc length); every token of a non-canonical
      // duplicated window drops; cleaned text reassembled positionally
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+4], ' ') AS gram " +
        "FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i) WHERE len(t) >= 5), " +
        "st AS (SELECT gram, count(*) AS cnt, min(row(doc_id, pos)) AS canon FROM g GROUP BY 1), " +
        "rem AS (SELECT doc_id, pos FROM g JOIN st USING (gram) " +
        "WHERE cnt >= 2 AND row(doc_id, pos) <> canon), " +
        "rpos AS (SELECT DISTINCT doc_id, pos + o AS tokpos " +
        "FROM rem, unnest(generate_series(0, 4)) AS v(o)), " +
        "rl AS (SELECT doc_id, list(tokpos) AS rlist FROM rpos GROUP BY 1) " +
        "SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(len(rlist), 0) AS BIGINT) AS n_removed, " +
        // array_to_string([]) is NULL in DuckDB (Spark's array_join
        // gives '') — coalesce so a fully-removed doc hashes md5('')
        "md5(coalesce(array_to_string(list_filter(list_transform(generate_series(1, len(t)), " +
        "i -> CASE WHEN rlist IS NOT NULL AND list_contains(rlist, i) THEN NULL ELSE t[i] END), " +
        "x -> x IS NOT NULL), ' '), '')) AS clean_hash " +
        "FROM toks d LEFT JOIN rl USING (doc_id)"),
    "q133_pq_adc" ->
      // the q76 Lloyd replay PARTITIONED BY SUBSPACE j (4 × 16 dims,
      // init = sub-vectors of vec_id<4, one update round → c1 = trained
      // codebooks), positional codes, per-query snapped-long ADC tables,
      // exact-integer score sum (CAST: sum(BIGINT) is HUGEINT in DuckDB)
      ("WITH sp AS (SELECT unnest(generate_series(0, 3)) AS j), " +
        "v AS (SELECT vec_id, j, CAST(embedding AS DOUBLE[])[j*16+1:j*16+16] AS e " +
        "FROM embeddings CROSS JOIN sp), " +
        "c0 AS (SELECT j, vec_id AS cell, e AS c FROM v WHERE vec_id < 4), " +
        "d1 AS (SELECT v.j, v.vec_id, v.e, c0.cell, list_sum(list_transform(" +
        "list_zip(v.e, c0.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM v JOIN c0 ON v.j = c0.j), " +
        "a1 AS (SELECT j, vec_id, e, cell FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, cell) AS rn FROM d1) WHERE rn = 1), " +
        "m1 AS (SELECT j, cell, i, floor(avg(x)*1000000 + 0.5)/1000000 AS m FROM " +
        "(SELECT j, cell, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM a1) GROUP BY 1, 2, 3), " +
        "c1 AS (SELECT j, cell, list(m ORDER BY i) AS c FROM m1 GROUP BY 1, 2), " +
        "bk AS (SELECT j, cell, c, CAST(row_number() OVER (PARTITION BY j ORDER BY cell) AS INT) AS pos FROM c1), " +
        "d2 AS (SELECT v.j, v.vec_id, bk.pos, list_sum(list_transform(" +
        "list_zip(v.e, bk.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM v JOIN bk ON v.j = bk.j), " +
        "code AS (SELECT j, vec_id, pos FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, pos) AS rn FROM d2) WHERE rn = 1), " +
        "q AS (SELECT vec_id AS q_id, j, e AS qe FROM v WHERE vec_id < 5), " +
        "dtab AS (SELECT q.q_id, bk.j, bk.pos, CAST(floor(list_sum(list_transform(" +
        "list_zip(q.qe, bk.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM q JOIN bk ON q.j = bk.j), " +
        "sc AS (SELECT t.q_id, c.vec_id AS n_id, CAST(sum(t.dl) AS BIGINT) AS s " +
        "FROM code c JOIN dtab t ON c.j = t.j AND c.pos = t.pos " +
        "WHERE c.vec_id <> t.q_id GROUP BY 1, 2), " +
        "r AS (SELECT q_id, n_id, s, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY s, n_id) AS rank FROM sc) " +
        "SELECT q_id, rank, n_id, round(CAST(s AS DOUBLE)/1000000, 4) AS adc " +
        "FROM r WHERE rank <= 10"),
    "q134_oov_rate" ->
      // vocab = global top-16 tokens (count desc, token asc); per-lang
      // token-occurrence OOV rate (sum(BIGINT) → HUGEINT: cast back)
      ("WITH wc AS (SELECT lang AS grp, unnest(string_split(text, ' ')) AS token " +
        "FROM documents), " +
        "cnt AS (SELECT grp, token, count(*) AS n FROM wc GROUP BY 1, 2), " +
        "vocab AS (SELECT token FROM (SELECT token, sum(n) AS tn FROM cnt GROUP BY 1) " +
        "ORDER BY tn DESC, token ASC LIMIT 16) " +
        "SELECT grp, CAST(sum(n) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_oov, " +
        "round(CAST(sum(CASE WHEN v.token IS NULL THEN n ELSE 0 END) AS DOUBLE) / " +
        "CAST(sum(n) AS DOUBLE), 6) AS oov_rate " +
        "FROM cnt c LEFT JOIN vocab v ON c.token = v.token GROUP BY 1"),
    "q135_ivf_pq" ->
      // IVFADC: the q76 coarse replay (c1 = trained 4-cell codebook,
      // a2 = corpus assignment), then the q133 subspace replay run in
      // RESIDUAL space (rv = e − assigned trained centroid; s-prefixed
      // CTEs, bk/code) — candidates restricted to each query's 2
      // nearest coarse cells by snapped-long L2 (ties to lowest cell),
      // ADC tables from the per-probed-cell query residual
      (ivfAdcResidualCte +
        ", r AS (SELECT q_id, n_id, s, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY s, n_id) AS rank FROM adc) " +
        "SELECT q_id, rank, n_id, round(CAST(s AS DOUBLE)/1000000, 4) AS adc " +
        "FROM r WHERE rank <= 10"),
    "q143_ivfpq_rerank" ->
      // IVFADC+R: the q135 replay through `adc`, shortlist = top-20 by
      // ADC, exact 6-dp cosine re-rank of the shortlist (q25 contract),
      // serve top-10
      (ivfAdcResidualCte +
        ", r AS (SELECT q_id, n_id, s, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY s, n_id) AS rank FROM adc), " +
        "sl AS (SELECT q_id, n_id FROM r WHERE rank <= 20), " +
        "rr AS (SELECT sl.q_id, sl.n_id, " +
        "round(list_dot_product(nv.e, pq.qv) / " +
        "nullif(sqrt(list_dot_product(nv.e, nv.e)) * sqrt(list_dot_product(pq.qv, pq.qv)), 0), 6) AS cos " +
        "FROM sl JOIN v nv ON nv.vec_id = sl.n_id JOIN pq ON pq.q_id = sl.q_id), " +
        "rr2 AS (SELECT q_id, n_id, cos, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM rr) " +
        "SELECT q_id, rank, n_id, round(cos, 4) AS cos FROM rr2 WHERE rank <= 10"),
    "q144_containment" ->
      // asymmetric containment over the LSH candidates: |A∩B|/|A| and
      // /|B| (q139's sz/inter pattern; no-shingle docs drop via the
      // inner sz join, as the Spark array join)
      (s"WITH $shingleCte, " +
        "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
        "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cands c " +
        "JOIN sh sa ON c.doc_a = sa.doc_id " +
        "JOIN sh sb ON c.doc_b = sb.doc_id AND sa.shingle = sb.shingle GROUP BY 1, 2) " +
        "SELECT c.doc_a, c.doc_b, " +
        "round(CAST(coalesce(n_inter, 0) AS DOUBLE) / za.sz, 4) AS containment_a, " +
        "round(CAST(coalesce(n_inter, 0) AS DOUBLE) / zb.sz, 4) AS containment_b " +
        "FROM cands c LEFT JOIN inter ON c.doc_a = inter.doc_a AND c.doc_b = inter.doc_b " +
        "JOIN sz za ON c.doc_a = za.doc_id JOIN sz zb ON c.doc_b = zb.doc_id"),
    "q145_sq8_ann" ->
      // SQ8 replay: per-dim corpus min/max → 8-bit codes (clamped
      // floor) → midpoint reconstruction → snapped-long asymmetric L2
      // (list_sum over list_zip = Spark's left-to-right aggregate fold)
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM " +
        "(SELECT unnest(e) AS x, generate_subscripts(e, 1) AS i FROM v) GROUP BY 1), " +
        "sc AS (SELECT list(mn ORDER BY i) AS mnl, " +
        "list(CASE WHEN mx > mn THEN (mx - mn)/255 ELSE 0 END ORDER BY i) AS scl FROM st), " +
        "rec AS (SELECT vec_id, list_transform(list_zip(e, mnl, scl), " +
        "t -> CASE WHEN t[3] = 0 THEN t[2] ELSE t[2] + " +
        "(CAST(least(greatest(floor((t[1] - t[2]) / t[3]), 0), 255) AS INTEGER) + 0.5) * t[3] END) AS r " +
        "FROM v CROSS JOIN sc), " +
        "q AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5), " +
        "d AS (SELECT q.q_id, rec.vec_id AS n_id, " +
        "CAST(floor(list_sum(list_transform(list_zip(rec.r, q.qv), " +
        "t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM rec JOIN q ON rec.vec_id <> q.q_id), " +
        "r AS (SELECT q_id, n_id, dl, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dl, n_id) AS rank FROM d) " +
        "SELECT q_id, rank, n_id, round(CAST(dl AS DOUBLE)/1000000, 4) AS d2 " +
        "FROM r WHERE rank <= 10"),
    "q146_ivf_sq8" ->
      // IVF·SQ8: the q76 coarse replay (c1 trained cells, a2 corpus
      // assignment) + the q145 SQ8 replay, candidates restricted to
      // each query's 2 nearest cells by snapped-long L2
      (kmeansReplayCte +
        ", st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM " +
        "(SELECT unnest(e) AS x, generate_subscripts(e, 1) AS i FROM v) GROUP BY 1), " +
        "sc AS (SELECT list(mn ORDER BY i) AS mnl, " +
        "list(CASE WHEN mx > mn THEN (mx - mn)/255 ELSE 0 END ORDER BY i) AS scl FROM st), " +
        "rec AS (SELECT a2.vec_id, a2.cell, list_transform(list_zip(a2.e, mnl, scl), " +
        "t -> CASE WHEN t[3] = 0 THEN t[2] ELSE t[2] + " +
        "(CAST(least(greatest(floor((t[1] - t[2]) / t[3]), 0), 255) AS INTEGER) + 0.5) * t[3] END) AS r " +
        "FROM a2 CROSS JOIN sc), " +
        "pq AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5), " +
        "pd AS (SELECT q_id, c1.cell, CAST(floor(list_sum(list_transform(" +
        "list_zip(qv, c1.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM pq CROSS JOIN c1), " +
        "probe AS (SELECT q_id, cell FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dl, cell) AS pr FROM pd) WHERE pr <= 2), " +
        "cand AS (SELECT p.q_id, rec.vec_id AS n_id, rec.r FROM probe p " +
        "JOIN rec ON rec.cell = p.cell WHERE rec.vec_id <> p.q_id), " +
        "d AS (SELECT cand.q_id, cand.n_id, " +
        "CAST(floor(list_sum(list_transform(list_zip(cand.r, pq.qv), " +
        "t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM cand JOIN pq USING (q_id)), " +
        "r2 AS (SELECT q_id, n_id, dl, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dl, n_id) AS rank FROM d) " +
        "SELECT q_id, rank, n_id, round(CAST(dl AS DOUBLE)/1000000, 4) AS d2 " +
        "FROM r2 WHERE rank <= 10"),
    "q147_index_drift" ->
      // two full residual-IVFADC replays sharing v/sp/pq: `ap` trains
      // on the base split only (frozen-book append semantics — coarse
      // AND book aggregates see base rows, assignment/encoding cover
      // everything), `rt` trains on all; overlap vs exact per variant
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "sp AS (SELECT unnest(generate_series(0, 3)) AS j), " +
        "pq AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5), " +
        ivfAdcReplayFor("ap", "vec_id % 3 <> 0") + ", " +
        ivfAdcReplayFor("rt", "TRUE") + ", " +
        "bsc AS (SELECT b.q_id, v.vec_id AS n_id, round(list_dot_product(v.e, b.qv) / " +
        "nullif(sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(b.qv, b.qv)), 0), 6) AS cos " +
        "FROM pq b JOIN v ON v.vec_id <> b.q_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM bsc) WHERE rank <= 10), " +
        "o AS (SELECT 'appended' AS variant, b.q_id, count(t.n_id) AS n_overlap " +
        "FROM bf b LEFT JOIN aptop t USING (q_id, n_id) GROUP BY 1, 2 " +
        "UNION ALL SELECT 'retrained' AS variant, b.q_id, count(t.n_id) AS n_overlap " +
        "FROM bf b LEFT JOIN rttop t USING (q_id, n_id) GROUP BY 1, 2) " +
        "SELECT q_id, variant, n_overlap, " +
        "round(CAST(n_overlap AS DOUBLE) / 10.0, 4) AS recall FROM o"),
    "q148_semantic_decontam" ->
      // nearest benchmark item per corpus vector (6-dp cos, id
      // tie-break), flagged at the 4-dp 0.28 bar
      ("WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v " +
        "FROM embeddings WHERE vec_id % 10 <> 0), " +
        "b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS bv " +
        "FROM embeddings WHERE vec_id % 10 = 0), " +
        "sc AS (SELECT c.vec_id, bench_id, round(list_dot_product(v, bv) / " +
        "nullif(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(bv, bv)), 0), 6) AS cos " +
        "FROM c JOIN b ON c.vec_id <> bench_id), " +
        "r AS (SELECT vec_id, bench_id, cos, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rn FROM sc) " +
        "SELECT vec_id, bench_id, round(cos, 4) AS cos FROM r " +
        "WHERE rn = 1 AND round(cos, 4) >= 0.28"),
    "q149_lsh_planner" ->
      // S-curve p = 1 − (1 − s^r)^b over the verified-pair Jaccards;
      // powers are the SAME squaring chains as the engine (no libm pow),
      // s* the same sqrt chain; per-pair p snapped 6 dp before the sum
      (s"WITH $shingleCte, $jaccardCte, " +
        "g AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(8 AS BIGINT)), " +
        "(2, 4), (4, 2), (8, 1)) AS t(bands, rows_per_band)), " +
        "x AS (SELECT bands, rows_per_band, jaccard FROM jac CROSS JOIN g), " +
        "t1 AS (SELECT bands, rows_per_band, CASE rows_per_band WHEN 1 THEN jaccard " +
        "WHEN 2 THEN jaccard*jaccard WHEN 4 THEN (jaccard*jaccard)*(jaccard*jaccard) " +
        "ELSE ((jaccard*jaccard)*(jaccard*jaccard))*((jaccard*jaccard)*(jaccard*jaccard)) END AS jr FROM x), " +
        "t2 AS (SELECT bands, rows_per_band, 1 - jr AS qq FROM t1), " +
        "t3 AS (SELECT bands, rows_per_band, round(1 - CASE bands WHEN 1 THEN qq " +
        "WHEN 2 THEN qq*qq WHEN 4 THEN (qq*qq)*(qq*qq) " +
        "ELSE ((qq*qq)*(qq*qq))*((qq*qq)*(qq*qq)) END, 6) AS p FROM t2) " +
        "SELECT bands, rows_per_band, " +
        "round(CASE rows_per_band WHEN 1 THEN CAST(1 AS DOUBLE)/CAST(bands AS DOUBLE) " +
        "WHEN 2 THEN sqrt(CAST(1 AS DOUBLE)/CAST(bands AS DOUBLE)) " +
        "WHEN 4 THEN sqrt(sqrt(CAST(1 AS DOUBLE)/CAST(bands AS DOUBLE))) " +
        "ELSE sqrt(sqrt(sqrt(CAST(1 AS DOUBLE)/CAST(bands AS DOUBLE)))) END, 4) AS s_star, " +
        "count(*) AS n_pairs, round(sum(p), 4) AS expected_pairs, " +
        "round(sum(p) / CAST(count(*) AS DOUBLE), 4) AS expected_rate " +
        "FROM t3 GROUP BY 1, 2"),
    "q150_minhash_calibration" ->
      // signature-agreement estimate (matches/8) vs exact Jaccard per
      // candidate pair — sigs and jac replayed from the shared CTEs
      (s"WITH $shingleCte, $jaccardCte, " +
        "est AS (SELECT c.doc_a, c.doc_b, " +
        "CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS e " +
        "FROM cands c JOIN sigs sa ON c.doc_a = sa.doc_id " +
        "JOIN sigs sb ON c.doc_b = sb.doc_id AND sa.h = sb.h GROUP BY 1, 2) " +
        "SELECT est.doc_a, est.doc_b, round(e, 4) AS est_jaccard, jaccard, " +
        "round(abs(e - jaccard), 4) AS abs_err FROM est " +
        "JOIN jac ON est.doc_a = jac.doc_a AND est.doc_b = jac.doc_b"),
    "q151_block_dedup" ->
      // aligned 8-token blocks; any block with global count >= 2 drops
      // everywhere; cleaned text reassembled positionally and hashed
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "nn AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1), " +
        "blocks AS (SELECT doc_id, bi, array_to_string(t[bi*8+1:bi*8+8], ' ') AS blk " +
        "FROM nn, unnest(generate_series(0, CAST(ceil(n / 8.0) AS INT) - 1)) AS u(bi)), " +
        "freq AS (SELECT blk, count(*) AS cnt FROM blocks GROUP BY 1), " +
        "kept AS (SELECT doc_id, count(*) AS n_kept, " +
        "string_agg(blk, ' ' ORDER BY bi) AS clean_text " +
        "FROM blocks JOIN freq USING (blk) WHERE cnt <= 1 GROUP BY 1) " +
        "SELECT nn.doc_id, CAST(ceil(n / 8.0) AS BIGINT) AS n_blocks, " +
        "CAST(ceil(n / 8.0) AS BIGINT) - coalesce(n_kept, 0) AS n_dropped, " +
        "md5(coalesce(clean_text, '')) AS clean_hash " +
        "FROM nn LEFT JOIN kept USING (doc_id)"),
    "q152_incremental_cc" ->
      // base labeling = CC over history edges ((a+b)%4 <> 0); merged
      // labeling = CC over ALL candidate edges (incremental ≡ full
      // recompute is the operator's contract); changed = label moved
      (s"WITH RECURSIVE $shingleCte, " +
        "eb AS (SELECT doc_a AS a, doc_b AS b FROM cands WHERE (doc_a + doc_b) % 4 <> 0 " +
        "UNION ALL SELECT doc_b AS a, doc_a AS b FROM cands WHERE (doc_a + doc_b) % 4 <> 0), " +
        "ef AS (SELECT doc_a AS a, doc_b AS b FROM cands " +
        "UNION ALL SELECT doc_b AS a, doc_a AS b FROM cands), " +
        "rb AS (SELECT doc_id AS node, doc_id AS comp FROM documents " +
        "UNION SELECT e.b AS node, r.comp AS comp FROM rb r JOIN eb e ON e.a = r.node), " +
        "rf AS (SELECT doc_id AS node, doc_id AS comp FROM documents " +
        "UNION SELECT e.b AS node, r.comp AS comp FROM rf r JOIN ef e ON e.a = r.node), " +
        "cb AS (SELECT node, min(comp) AS base_comp FROM rb GROUP BY 1), " +
        "cf AS (SELECT node, min(comp) AS group_id FROM rf GROUP BY 1) " +
        "SELECT cb.node AS doc_id, group_id, group_id <> base_comp AS changed " +
        "FROM cb JOIN cf USING (node)"),
    "q153_diverse_topk" ->
      // trained-coarse cell assignment (a2), exact cosine, ≤2 per cell
      // then global top-5 — quota window before rank window
      (kmeansReplayCte +
        ", q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "sc AS (SELECT q_id, a2.vec_id AS n_id, a2.cell, " +
        "round(list_dot_product(a2.e, qv) / " +
        "nullif(sqrt(list_dot_product(a2.e, a2.e)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM q JOIN a2 ON a2.vec_id <> q_id), " +
        "cr AS (SELECT *, row_number() OVER (PARTITION BY q_id, cell " +
        "ORDER BY cos DESC, n_id) AS cell_rank FROM sc), " +
        "gr AS (SELECT q_id, n_id, cell, cos, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM cr " +
        "WHERE cell_rank <= 2) " +
        "SELECT q_id, rank, n_id, cell, round(cos, 4) AS cos FROM gr " +
        "WHERE rank <= 5"),
    "q154_nb_confusion" ->
      // Laplace-smoothed multinomial NB trained on (lang, term) counts,
      // scored sparsely (unseen-term mass folded into n_tok·lp0),
      // 4-dp-rounded argmax with label-asc tie-break, confusion rollup
      ("WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "dt AS (SELECT doc_id, lang AS lab, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3), " +
        "ct AS (SELECT lab, term, sum(tf) AS ctf FROM dt GROUP BY 1, 2), " +
        "vv AS (SELECT count(DISTINCT term) AS v FROM ct), " +
        "cs AS (SELECT lab, sum(ctf) AS ctot FROM ct GROUP BY 1), " +
        "pr AS (SELECT lang AS lab, count(*) AS nd FROM documents GROUP BY 1), " +
        "nt AS (SELECT count(*) AS ntot FROM documents), " +
        "ls AS (SELECT cs.lab AS clab, " +
        "ln(CAST(nd AS DOUBLE) / CAST(ntot AS DOUBLE)) AS prior_ln, " +
        "ln(1.0 / CAST(ctot + v AS DOUBLE)) AS lp0 " +
        "FROM cs JOIN pr USING (lab) CROSS JOIN vv CROSS JOIN nt), " +
        "seen AS (SELECT dt.doc_id, ct.lab AS clab, " +
        "CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(CAST(ctf + 1 AS DOUBLE)) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s1 " +
        "FROM dt JOIN ct ON dt.term = ct.term GROUP BY 1, 2), " +
        "dn AS (SELECT doc_id, lab, sum(tf) AS n_tok FROM dt GROUP BY 1, 2), " +
        "sc AS (SELECT dn.doc_id, dn.lab, ls.clab, " +
        "round(prior_ln + CAST(n_tok AS DOUBLE) * lp0 + coalesce(s1, 0.0), 4) AS score " +
        "FROM dn CROSS JOIN ls LEFT JOIN seen ON seen.doc_id = dn.doc_id AND seen.clab = ls.clab), " +
        "best AS (SELECT doc_id, lab, clab FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, clab) AS rn FROM sc) WHERE rn = 1) " +
        "SELECT lab AS lang, clab AS pred_lang, count(*) AS n_docs FROM best GROUP BY 1, 2"),
    "q155_mmr_rerank" -> {
      // greedy MMR unrolled: shortlist (6-dp rank, 4-dp rel), pairwise
      // 6-dp sims, then 4 argmax stages. The (1−λ) factor must be the
      // IEEE double subtraction Spark's lit(1.0 - lambda) performs —
      // DuckDB types a bare `1.0 - 0.7` as DECIMAL (exactly 0.3, which
      // casts to a DIFFERENT double), so both operands are CAST to
      // DOUBLE before the subtraction
      def sel(n: Int) = (1 to n).map(i => s"SELECT q_id, n_id FROM p$i")
        .mkString("(", " UNION ALL ", ")")
      def stage(t: Int) =
        s"r$t AS (SELECT sl.q_id, sl.n_id, sl.rel FROM sl WHERE NOT EXISTS " +
          s"(SELECT 1 FROM ${sel(t - 1)} s WHERE s.q_id = sl.q_id AND s.n_id = sl.n_id)), " +
          s"m$t AS (SELECT s.q_id, s.i AS n_id, max(s.sim) AS maxsim FROM sims s " +
          s"JOIN ${sel(t - 1)} p ON p.q_id = s.q_id AND p.n_id = s.j GROUP BY 1, 2), " +
          s"s$t AS (SELECT r.q_id, r.n_id, r.rel, coalesce(m.maxsim, CAST(0.0 AS DOUBLE)) AS maxsim, " +
          s"round(0.7 * r.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * coalesce(m.maxsim, CAST(0.0 AS DOUBLE)), 6) AS score " +
          s"FROM r$t r LEFT JOIN m$t m ON m.q_id = r.q_id AND m.n_id = r.n_id), " +
          s"p$t AS (SELECT q_id, CAST($t AS BIGINT) AS pos, n_id, rel, maxsim, score AS mmr " +
          s"FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rn " +
          s"FROM s$t) WHERE rn = 1), "
      "WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
        "sc0 AS (SELECT q_id, n_id, cv, round(list_dot_product(cv, qv) / " +
        "nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM q JOIN c ON n_id <> q_id), " +
        "sl AS (SELECT q_id, n_id, round(cos, 4) AS rel, cv FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc0) " +
        "WHERE rank <= 10), " +
        "sims AS (SELECT a.q_id, a.n_id AS i, b.n_id AS j, " +
        "round(list_dot_product(a.cv, b.cv) / " +
        "nullif(sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv)), 0), 6) AS sim " +
        "FROM sl a JOIN sl b ON a.q_id = b.q_id AND a.n_id <> b.n_id), " +
        "s1 AS (SELECT q_id, n_id, rel, CAST(0.0 AS DOUBLE) AS maxsim, " +
        "round(0.7 * rel, 6) AS score FROM sl), " +
        "p1 AS (SELECT q_id, CAST(1 AS BIGINT) AS pos, n_id, rel, maxsim, score AS mmr " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rn " +
        "FROM s1) WHERE rn = 1), " +
        stage(2) + stage(3) + stage(4) +
        "out AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 " +
        "UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4) " +
        "SELECT q_id, pos, n_id, rel, maxsim, mmr FROM out"
    },
    "q156_nb_holdout" ->
      // the q154 NB replay, trained on doc_id%3<>0 only, scored on the
      // held-out third, confusion vs actual lang
      (nbHoldoutCte +
        " SELECT te.lang, best.clab AS pred_lang, count(*) AS n_docs " +
        "FROM best JOIN te USING (doc_id) GROUP BY 1, 2"),
    "q169_nb_calibration" ->
      // the q156 dense-score stanza + softmax posteriors (exp of the
      // 4-dp scores, 1e9-snapped normalizer, 6-dp probs), confidence =
      // posterior of the argmax label, 10 equal-width bins; gap is
      // computed FROM the rounded per-bin values
      (nbHoldoutCte +
        ", mx AS (SELECT doc_id, max(score) AS mx FROM sc GROUP BY 1), " +
        "ex AS (SELECT sc.doc_id, sc.clab, exp(score - mx) AS ex " +
        "FROM sc JOIN mx USING (doc_id)), " +
        "z AS (SELECT doc_id, CAST(sum(CAST(floor(ex * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS z FROM ex GROUP BY 1), " +
        "pp AS (SELECT ex.doc_id, ex.clab, round(ex.ex / z.z, 6) AS prob " +
        "FROM ex JOIN z USING (doc_id)), " +
        "cf AS (SELECT b.doc_id, b.clab AS pred_lab, pp.prob AS conf " +
        "FROM best b JOIN pp ON pp.doc_id = b.doc_id AND pp.clab = b.clab), " +
        "okt AS (SELECT cf.conf, CASE WHEN cf.pred_lab = te.lang THEN 1 ELSE 0 END AS ok " +
        "FROM cf JOIN te USING (doc_id)), " +
        "bb AS (SELECT least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin, conf, ok FROM okt), " +
        "agg AS (SELECT bin, count(*) AS n_docs, " +
        "round(CAST(sum(CAST(floor(conf * 1000000000 + 0.5) AS DECIMAL(38,0))) " +
        "AS DOUBLE) / 1000000000 / count(*), 6) AS avg_conf, " +
        "round(CAST(sum(ok) AS DOUBLE) / count(*), 6) AS accuracy " +
        "FROM bb GROUP BY 1) " +
        "SELECT bin, n_docs, avg_conf, accuracy, " +
        "round(abs(accuracy - avg_conf), 6) AS gap FROM agg"),
    "q157_ndcg" ->
      // the q135 residual-IVFADC replay with probe RANKS retained, a
      // tier join (np ∈ {1,2,4}) re-ranking each tier's candidate set,
      // then binary-relevance nDCG vs the exact cosine top-10: per-hit
      // gain ln(2)/ln(rank+1) snapped to the 1e9 grid; IDCG is the same
      // snapped sum over ideal positions, computed relationally
      (ivfPqServeCte +
        "gain AS (SELECT r.np, r.q_id, CAST(floor((ln(2.0) / ln(CAST(r.rank AS DOUBLE) + 1.0)) " +
        "* 1000000000 + 0.5) AS DECIMAL(38,0)) AS gd " +
        "FROM rtop r JOIN bf b ON b.q_id = r.q_id AND b.n_id = r.n_id), " +
        "dcg AS (SELECT t.np, b.q_id, " +
        "coalesce(CAST(sum(g.gd) AS DOUBLE) / 1000000000, CAST(0.0 AS DOUBLE)) AS dcg " +
        "FROM (SELECT DISTINCT q_id FROM bf) b CROSS JOIN tiers t " +
        "LEFT JOIN gain g ON g.np = t.np AND g.q_id = b.q_id GROUP BY 1, 2), " +
        "idcg AS (SELECT CAST(sum(CAST(floor((ln(2.0) / ln(CAST(rank AS DOUBLE) + 1.0)) " +
        "* 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS idcg " +
        "FROM (SELECT unnest(generate_series(1, 10)) AS rank)) " +
        "SELECT q_id, CAST(np AS BIGINT) AS nprobe, round(dcg, 4) AS dcg, " +
        "round(dcg / idcg, 4) AS ndcg FROM dcg CROSS JOIN idcg"),
    "q176_canonical_dedup" ->
      // lower → non-alnum→space ('g' flag: DuckDB replaces first match
      // only by default) → collapse runs → trim; md5 group key; every
      // 11th doc gains a " !!" twin that only the canonical key catches
      ("WITH base AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text || ' !!' FROM documents WHERE doc_id % 11 = 0), " +
        "k AS (SELECT doc_id, md5(text) AS raw_hash, " +
        "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS canon_hash " +
        "FROM base) " +
        "SELECT canon_hash, count(*) AS n_docs, " +
        "CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_raw_variants, " +
        "min(doc_id) AS keep_doc FROM k GROUP BY 1 HAVING count(*) > 1"),
    "q177_rouge1" ->
      // distinct-unigram overlap of each doc vs its successor; exact
      // integer counts, 6-dp P/R/F1 (F1 = 2h/(nr+nc))
      ("WITH ta AS (SELECT doc_id AS pair_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents), " +
        "tb AS (SELECT doc_id - 1 AS pair_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents), " +
        "na AS (SELECT pair_id, count(*) AS n_ref FROM ta GROUP BY 1), " +
        "nb AS (SELECT pair_id, count(*) AS n_cand FROM tb GROUP BY 1), " +
        "hit AS (SELECT ta.pair_id, count(*) AS n_hit FROM ta JOIN tb " +
        "ON ta.pair_id = tb.pair_id AND ta.tok = tb.tok GROUP BY 1) " +
        "SELECT na.pair_id, n_ref, n_cand, coalesce(n_hit, 0) AS n_hit, " +
        "round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_cand, 6) AS p, " +
        "round(CAST(coalesce(n_hit, 0) AS DOUBLE) / n_ref, 6) AS r, " +
        "round(CAST(2.0 AS DOUBLE) * coalesce(n_hit, 0) / (n_ref + n_cand), 6) AS f1 " +
        "FROM na JOIN nb USING (pair_id) LEFT JOIN hit USING (pair_id)"),
    "q179_template_affix" ->
      // header/footer injection (CASE order matters: %7 wins over %13),
      // md5 of the first/last 8 tokens, families of 2+
      ("WITH base AS (SELECT doc_id, source, " +
        "CASE WHEN doc_id % 7 = 0 THEN 'begin template header common tokens here now ok ' || text " +
        "WHEN doc_id % 13 = 0 THEN text || ' standard footer disclaimer terms apply here end now' " +
        "ELSE text END AS text FROM documents), " +
        "tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM base), " +
        "el AS (SELECT * FROM tok WHERE len(t) >= 8), " +
        "u AS (SELECT 'prefix' AS kind, md5(array_to_string(t[1:8], ' ')) AS affix_hash, " +
        "doc_id, source FROM el " +
        "UNION ALL SELECT 'suffix' AS kind, md5(array_to_string(t[len(t)-7:len(t)], ' ')) AS affix_hash, " +
        "doc_id, source FROM el) " +
        "SELECT kind, affix_hash, count(*) AS n_docs, " +
        "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, " +
        "min(doc_id) AS example_doc FROM u GROUP BY 1, 2 HAVING count(*) > 1"),
    "q182_curation_funnel" ->
      // composition of the q21 LSH chain (cands), the q73 NLL, the q127
      // gopher rules, the q125 canonical pick, the q137 p75 gate, and
      // the q54 gram decontam into one per-doc flag table + five
      // cumulative-conjunction rollups; keep_rate = stage/prev via lag
      (funnelFlagsCte +
        "fin AS (SELECT 1 AS stage_idx, 'ingest' AS stage, count(*) AS n_docs, " +
        "CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM flags " +
        "UNION ALL SELECT 2, 'gopher', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM flags WHERE f2 " +
        "UNION ALL SELECT 3, 'dedup', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM flags WHERE f2 AND f3 " +
        "UNION ALL SELECT 4, 'perplexity', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM flags WHERE f2 AND f3 AND f4 " +
        "UNION ALL SELECT 5, 'decontam', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT) FROM flags WHERE f2 AND f3 AND f4 AND f5) " +
        "SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage, n_docs, n_tokens, " +
        "coalesce(round(CAST(n_docs AS DOUBLE) / lag(CAST(n_docs AS DOUBLE)) OVER (ORDER BY stage_idx), 6), 1.0) AS keep_rate FROM fin"),
    "q183_funnel_by_source" ->
      // the shared funnel-flag chain, rolled up per (source, stage);
      // only non-empty cells emit rows
      (funnelFlagsCte +
        "fin AS (SELECT source, 1 AS stage_idx, 'ingest' AS stage, " +
        "count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens " +
        "FROM (SELECT d.source, f.n_tok FROM flags f JOIN documents d USING (doc_id)) GROUP BY 1 " +
        "UNION ALL SELECT source, 2, 'gopher', count(*), CAST(sum(n_tok) AS BIGINT) " +
        "FROM (SELECT d.source, f.n_tok FROM flags f JOIN documents d USING (doc_id) WHERE f2) GROUP BY 1 " +
        "UNION ALL SELECT source, 3, 'dedup', count(*), CAST(sum(n_tok) AS BIGINT) " +
        "FROM (SELECT d.source, f.n_tok FROM flags f JOIN documents d USING (doc_id) WHERE f2 AND f3) GROUP BY 1 " +
        "UNION ALL SELECT source, 4, 'perplexity', count(*), CAST(sum(n_tok) AS BIGINT) " +
        "FROM (SELECT d.source, f.n_tok FROM flags f JOIN documents d USING (doc_id) WHERE f2 AND f3 AND f4) GROUP BY 1 " +
        "UNION ALL SELECT source, 5, 'decontam', count(*), CAST(sum(n_tok) AS BIGINT) " +
        "FROM (SELECT d.source, f.n_tok FROM flags f JOIN documents d USING (doc_id) WHERE f2 AND f3 AND f4 AND f5) GROUP BY 1) " +
        "SELECT source, CAST(stage_idx AS BIGINT) AS stage_idx, stage, n_docs, n_tokens FROM fin"),
    "q181_vocab_overlap" ->
      // per-source top-200 terms (tf desc, term tie-break), pairwise
      // common-term counts over the a<b scaffold, exact Jaccard
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "st AS (SELECT d.source AS grp, tf.term, CAST(sum(tf.tf) AS BIGINT) AS w " +
        "FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2), " +
        "top AS (SELECT grp, term FROM (SELECT grp, term, row_number() OVER " +
        "(PARTITION BY grp ORDER BY w DESC, term) AS rk FROM st) WHERE rk <= 200), " +
        "sz AS (SELECT grp, count(*) AS n FROM top GROUP BY 1), " +
        "sc0 AS (SELECT a.grp AS src_a, a.n AS n_a, b.grp AS src_b, b.n AS n_b " +
        "FROM sz a JOIN sz b ON a.grp < b.grp), " +
        "cm AS (SELECT a.grp AS src_a, b.grp AS src_b, count(*) AS nc " +
        "FROM top a JOIN top b ON a.term = b.term AND a.grp < b.grp GROUP BY 1, 2) " +
        "SELECT src_a, src_b, n_a, n_b, coalesce(nc, 0) AS n_common, " +
        "round(CAST(coalesce(nc, 0) AS DOUBLE) / (n_a + n_b - coalesce(nc, 0)), 6) AS jaccard " +
        "FROM sc0 LEFT JOIN cm USING (src_a, src_b)"),
    "q180_ks_drift" ->
      // pooled distinct-score grid, exact integer cumulative counts
      // per source, D = max |ECDF diff|, scaled by sqrt(ne*na/(ne+na))
      (unigramNllCte +
        ", dd AS (SELECT d.source AS grp, n.nll AS x, " +
        "CASE WHEN d.doc_id % 2 = 0 THEN 'e' ELSE 'a' END AS half " +
        "FROM documents d JOIN nllt n USING (doc_id)), " +
        "ct AS (SELECT grp, x, CAST(sum(CASE WHEN half = 'e' THEN 1 ELSE 0 END) AS BIGINT) AS ce, " +
        "CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca FROM dd GROUP BY 1, 2), " +
        "tt AS (SELECT grp, CAST(sum(ce) AS BIGINT) AS te, CAST(sum(ca) AS BIGINT) AS ta FROM ct GROUP BY 1), " +
        "cum AS (SELECT grp, sum(ce) OVER (PARTITION BY grp ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cce, " +
        "sum(ca) OVER (PARTITION BY grp ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca FROM ct), " +
        "dx AS (SELECT cum.grp, te, ta, " +
        "CASE WHEN te > 0 AND ta > 0 THEN " +
        "abs(CAST(cce AS DOUBLE) / te - CAST(cca AS DOUBLE) / ta) END AS dx " +
        "FROM cum JOIN tt USING (grp)), " +
        "agg AS (SELECT grp, max(te) AS n_expected, max(ta) AS n_actual, " +
        "round(max(dx), 6) AS d FROM dx GROUP BY 1) " +
        "SELECT grp AS source, n_expected, n_actual, d, " +
        "round(sqrt(CAST(n_expected AS DOUBLE) * CAST(n_actual AS DOUBLE) / " +
        "(n_expected + n_actual)) * d, 6) AS scaled_d FROM agg"),
    "q190_quant_error" ->
      // chosen-codeword distances (snapped to the ADC 1e6 grid) summed
      // over the m subspaces, rolled up per coarse cell
      (ivfPqServeCte +
        "ce AS (SELECT c.vec_id, c.j, CAST(floor(s.d * 1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM code c JOIN sd2 s ON s.j = c.j AND s.vec_id = c.vec_id AND s.pos = c.pos), " +
        "pe AS (SELECT vec_id, CAST(sum(dl) AS BIGINT) AS err FROM ce GROUP BY 1) " +
        "SELECT a2.cell, count(*) AS n_vectors, " +
        "round(CAST(sum(err) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000), 6) AS mean_err, " +
        "round(CAST(max(err) AS DOUBLE) / 1000000, 6) AS max_err " +
        "FROM pe JOIN a2 ON a2.vec_id = pe.vec_id GROUP BY 1"),
    "q189_miss_attribution" ->
      // misses = exact top-10 minus the served tier list; attribution
      // by whether the miss's cell sits in the tier's probe set
      (ivfPqServeCte +
        "ms AS (SELECT t.np, b.q_id, b.n_id FROM bf b CROSS JOIN tiers t " +
        "WHERE NOT EXISTS (SELECT 1 FROM rtop r WHERE r.np = t.np " +
        "AND r.q_id = b.q_id AND r.n_id = b.n_id)), " +
        "mc AS (SELECT ms.np, ms.q_id, ms.n_id, a2.cell FROM ms " +
        "JOIN a2 ON a2.vec_id = ms.n_id), " +
        "att AS (SELECT mc.np, mc.q_id, count(*) AS n_missed, " +
        "CAST(sum(CASE WHEN p.cell IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quant_loss, " +
        "CAST(sum(CASE WHEN p.cell IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_probe_loss " +
        "FROM mc LEFT JOIN probe p ON p.q_id = mc.q_id AND p.cell = mc.cell " +
        "AND p.pr <= mc.np GROUP BY 1, 2) " +
        "SELECT b.q_id, CAST(t.np AS BIGINT) AS nprobe, " +
        "coalesce(n_missed, 0) AS n_missed, " +
        "coalesce(n_quant_loss, 0) AS n_quant_loss, " +
        "coalesce(n_probe_loss, 0) AS n_probe_loss " +
        "FROM (SELECT DISTINCT q_id FROM bf) b CROSS JOIN tiers t " +
        "LEFT JOIN att ON att.np = t.np AND att.q_id = b.q_id"),
    "q178_mrr" ->
      // the shared residual-IVFADC serving replay; first true-neighbor
      // rank per (tier, query), rr = 1/first_rank (0 when the served
      // list misses the exact top-10 entirely)
      (ivfPqServeCte +
        "hit AS (SELECT r.np, r.q_id, min(r.rank) AS fr " +
        "FROM rtop r JOIN bf b ON b.q_id = r.q_id AND b.n_id = r.n_id GROUP BY 1, 2) " +
        "SELECT b.q_id, CAST(t.np AS BIGINT) AS nprobe, coalesce(fr, 0) AS first_rank, " +
        "round(coalesce(CAST(1.0 AS DOUBLE) / fr, 0.0), 6) AS rr " +
        "FROM (SELECT DISTINCT q_id FROM bf) b CROSS JOIN tiers t " +
        "LEFT JOIN hit ON hit.np = t.np AND hit.q_id = b.q_id"),
    "q158_bloom_decontam" -> {
      // md5-derived bloom positions (the q62 replay) over the q54 gram
      // split; exact verify on bloom survivors; FP accounting per doc
      def bb(i: Int) =
        s"CAST(CAST(('0x' || substr(md5('$i' || '|' || shingle), 1, 8)) AS BIGINT) % 4096 AS BIGINT)"
      ("WITH toks5 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "g0 AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 5 THEN " +
        "list_transform(generate_series(1, len(t) - 4), i -> array_to_string(t[i:i+4], ' ')) " +
        "ELSE []::VARCHAR[] END) AS shingle FROM toks5), " +
        "g AS (SELECT DISTINCT doc_id, shingle FROM g0), " +
        "bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id < 20), " +
        "bits AS (SELECT DISTINCT " +
        "CAST(CAST(('0x' || substr(md5(i || '|' || shingle), 1, 8)) AS BIGINT) % 4096 AS BIGINT) AS bit " +
        "FROM bench CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)), " +
        "pass AS (SELECT doc_id, shingle FROM g WHERE doc_id >= 20 AND " +
        (0 until 3).map(i => s"${bb(i)} IN (SELECT bit FROM bits)").mkString(" AND ") + "), " +
        "nb AS (SELECT doc_id, count(*) AS n_bloom_hits FROM pass GROUP BY 1), " +
        "ne AS (SELECT doc_id, count(*) AS n_exact_hits FROM pass " +
        "WHERE shingle IN (SELECT shingle FROM bench) GROUP BY 1) " +
        "SELECT nb.doc_id, n_bloom_hits, coalesce(n_exact_hits, 0) AS n_exact_hits, " +
        "n_bloom_hits - coalesce(n_exact_hits, 0) AS n_false_pos, " +
        "coalesce(n_exact_hits, 0) > 0 AS contaminated FROM nb LEFT JOIN ne USING (doc_id)")
    },
    "q186_gate_overlap" ->
      // joint/exclusive failure counts over the shared funnel-flag
      // chain; diagonal rows carry the exclusive count
      (funnelFlagsCte +
        "fin AS (SELECT 'gopher' AS gate_a, 'gopher' AS gate_b, CAST(sum(CASE WHEN NOT f2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_both, CAST(sum(CASE WHEN NOT f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive FROM flags UNION ALL SELECT 'gopher', 'dedup', CAST(sum(CASE WHEN NOT f2 AND NOT f3 THEN 1 ELSE 0 END) AS BIGINT), CAST(NULL AS BIGINT) FROM flags UNION ALL SELECT 'gopher', 'perplexity', CAST(sum(CASE WHEN NOT f2 AND NOT f4 THEN 1 ELSE 0 END) AS BIGINT), CAST(NULL AS BIGINT) FROM flags UNION ALL SELECT 'gopher', 'decontam', CAST(sum(CASE WHEN NOT f2 AND NOT f5 THEN 1 ELSE 0 END) AS BIGINT), CAST(NULL AS BIGINT) FROM flags UNION ALL SELECT 'dedup' AS gate_a, 'dedup' AS gate_b, CAST(sum(CASE WHEN NOT f3 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_both, CAST(sum(CASE WHEN NOT f3 AND f2 AND f4 AND f5 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive FROM flags UNION ALL SELECT 'dedup', 'perplexity', CAST(sum(CASE WHEN NOT f3 AND NOT f4 THEN 1 ELSE 0 END) AS BIGINT), CAST(NULL AS BIGINT) FROM flags UNION ALL SELECT 'dedup', 'decontam', CAST(sum(CASE WHEN NOT f3 AND NOT f5 THEN 1 ELSE 0 END) AS BIGINT), CAST(NULL AS BIGINT) FROM flags UNION ALL SELECT 'perplexity' AS gate_a, 'perplexity' AS gate_b, CAST(sum(CASE WHEN NOT f4 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_both, CAST(sum(CASE WHEN NOT f4 AND f2 AND f3 AND f5 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive FROM flags UNION ALL SELECT 'perplexity', 'decontam', CAST(sum(CASE WHEN NOT f4 AND NOT f5 THEN 1 ELSE 0 END) AS BIGINT), CAST(NULL AS BIGINT) FROM flags UNION ALL SELECT 'decontam' AS gate_a, 'decontam' AS gate_b, CAST(sum(CASE WHEN NOT f5 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_both, CAST(sum(CASE WHEN NOT f5 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive FROM flags) " +
        "SELECT gate_a, gate_b, n_fail_both, n_exclusive FROM fin"),
    "q187_media_neardup" ->
      // the q56 framer at 32 bytes/stride 1, distinct per-doc hash
      // sets, shared-frame equi-join candidates, exact Jaccard >= 0.3
      ("WITH m AS (SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents), " +
        "fr0 AS (SELECT doc_id, md5(substr(text, CAST(i * 32 + 1 AS INT), 32)) AS h " +
        "FROM (SELECT doc_id, text, unnest(range(0, nb // 32, 1)) AS i FROM m WHERE nb // 32 > 0)), " +
        "fr AS (SELECT DISTINCT doc_id, h FROM fr0), " +
        "sz AS (SELECT doc_id, count(*) AS n FROM fr GROUP BY 1), " +
        "sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared " +
        "FROM fr a JOIN fr b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "j AS (SELECT doc_a, doc_b, n_shared, za.n AS n_a, zb.n AS n_b, " +
        "round(CAST(n_shared AS DOUBLE) / (za.n + zb.n - n_shared), 4) AS jaccard " +
        "FROM sh JOIN sz za ON za.doc_id = doc_a JOIN sz zb ON zb.doc_id = doc_b) " +
        "SELECT doc_a, doc_b, n_shared, n_a, n_b, jaccard FROM j WHERE jaccard >= 0.3"),
    "q185_datasheet_diff" ->
      // per-source even/odd-half rollup over the NLL score table:
      // snapped mean per half (guarded for empty halves), deltas from
      // the rounded means
      (unigramNllCte +
        ", ntk AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens FROM tf GROUP BY 1), " +
        "dd AS (SELECT d.source, n.doc_id, ntk.n_tokens, n.nll, " +
        "(n.doc_id % 2 = 0) AS old FROM documents d JOIN nllt n USING (doc_id) " +
        "JOIN ntk USING (doc_id)), " +
        "ag AS (SELECT source, " +
        "CAST(sum(CASE WHEN old THEN 1 ELSE 0 END) AS BIGINT) AS docs_old, " +
        "CAST(sum(CASE WHEN NOT old THEN 1 ELSE 0 END) AS BIGINT) AS docs_new, " +
        "CAST(sum(CASE WHEN old THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_old, " +
        "CAST(sum(CASE WHEN NOT old THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_new, " +
        "CAST(sum(CAST(floor(CASE WHEN old THEN nll ELSE 0.0 END * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s_old, " +
        "CAST(sum(CAST(floor(CASE WHEN NOT old THEN nll ELSE 0.0 END * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s_new " +
        "FROM dd GROUP BY 1), " +
        "m AS (SELECT source, docs_old, docs_new, docs_new - docs_old AS delta_docs, " +
        "tokens_old, tokens_new, " +
        "CASE WHEN docs_old > 0 THEN round(s_old / CAST(docs_old AS DOUBLE), 6) END AS mean_nll_old, " +
        "CASE WHEN docs_new > 0 THEN round(s_new / CAST(docs_new AS DOUBLE), 6) END AS mean_nll_new FROM ag) " +
        "SELECT source, docs_old, docs_new, delta_docs, tokens_old, tokens_new, " +
        "mean_nll_old, mean_nll_new, round(mean_nll_new - mean_nll_old, 6) AS delta_nll FROM m"),
    "q184_triplets" ->
      // one scored pass with the label-match flag; top-1 per
      // (anchor, side); anchors missing either leg drop; margin from
      // the 4-dp outputs
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv, label AS ql " +
        "FROM embeddings WHERE vec_id < 10), " +
        "c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv, label AS n_label FROM embeddings), " +
        "sc AS (SELECT q_id, n_id, (n_label = ql) AS same, " +
        "round(list_dot_product(cv, qv) / " +
        "nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM q JOIN c ON n_id <> q_id), " +
        "r AS (SELECT q_id, n_id, same, cos, row_number() OVER " +
        "(PARTITION BY q_id, same ORDER BY cos DESC, n_id) AS rank FROM sc), " +
        "t1 AS (SELECT q_id, n_id, same, cos FROM r WHERE rank = 1), " +
        "pv AS (SELECT p.q_id, p.n_id AS pos_id, round(p.cos, 4) AS pos_cos, " +
        "n.n_id AS neg_id, round(n.cos, 4) AS neg_cos " +
        "FROM (SELECT * FROM t1 WHERE same) p " +
        "JOIN (SELECT * FROM t1 WHERE NOT same) n USING (q_id)) " +
        "SELECT q_id, pos_id, pos_cos, neg_id, neg_cos, " +
        "round(pos_cos - neg_cos, 4) AS margin FROM pv"),
    "q159_hard_negatives" ->
      // top-5 most-similar other-label vectors per anchor; 6-dp rank,
      // id tie-break, 4-dp output (the q25 contract + label mismatch)
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv, label AS ql " +
        "FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv, label AS n_label FROM embeddings), " +
        "sc AS (SELECT q_id, n_id, n_label, round(list_dot_product(cv, qv) / " +
        "nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM q JOIN c ON n_id <> q_id AND n_label <> ql), " +
        "r AS (SELECT q_id, n_id, n_label, cos, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc) " +
        "SELECT q_id, rank, n_id, n_label, round(cos, 4) AS cos FROM r WHERE rank <= 5"),
    "q160_semantic_split" ->
      // q32's cosine near-dup pairs → recursive-CTE components → the
      // q42/q114 md5 split keyed on group_id; per-vector assignment
      ("WITH RECURSIVE v AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b " +
        "ON a.label = b.label AND a.vec_id < b.vec_id AND " +
        "round(list_dot_product(a.e, b.e) / " +
        "nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0), 4) >= 0.28), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM p UNION ALL SELECT id_b AS a, id_a AS b FROM p), " +
        "reach AS (SELECT vec_id AS node, vec_id AS comp FROM embeddings " +
        "UNION SELECT e.b AS node, r.comp AS comp FROM reach r JOIN edges e ON e.a = r.node), " +
        "comp AS (SELECT node AS vec_id, min(comp) AS group_id FROM reach GROUP BY 1), " +
        "b AS (SELECT vec_id, group_id, " +
        "CAST(CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS BIGINT) AS bkt FROM comp) " +
        "SELECT vec_id, group_id, CASE WHEN bkt < 10 THEN 'val' " +
        "WHEN bkt < 20 THEN 'test' ELSE 'train' END AS split FROM b"),
    "q161_curriculum" ->
      // the q73 NLL replay, easy-first rank per source, closed-form
      // round-robin global position (rank-1)*n_sources + source_index
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "tot AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(sum(ctf) AS DOUBLE) AS gt FROM tot), " +
        "p AS (SELECT term, ctf / gt AS p FROM tot, g), " +
        "nll AS (SELECT doc_id, " +
        "round(-(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(tf), 4) AS nll " +
        "FROM tf JOIN p USING (term) GROUP BY 1), " +
        "src AS (SELECT source, row_number() OVER (ORDER BY source) AS si " +
        "FROM (SELECT DISTINCT source FROM documents)), " +
        "ns AS (SELECT count(*) AS n_src FROM src), " +
        "rk AS (SELECT d.doc_id, d.source, row_number() OVER " +
        "(PARTITION BY d.source ORDER BY n.nll, d.doc_id) AS src_rank " +
        "FROM documents d JOIN nll n USING (doc_id)) " +
        "SELECT doc_id, source, src_rank, " +
        "(src_rank - 1) * n_src + (si - 1) AS global_pos " +
        "FROM rk JOIN src USING (source) CROSS JOIN ns"),
    "q162_span_corruption" ->
      // md5-derived span starts (5% of positions, 3-token windows,
      // overlaps merged via gaps-and-islands), sentinel per run,
      // positional input/target rebuild, both md5-hashed
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "base AS (SELECT doc_id, t, len(t) AS n FROM toks), " +
        "tok AS (SELECT doc_id, n, i AS pos, t[i] AS tok " +
        "FROM base, unnest(generate_series(1, n)) AS u(i)), " +
        "starts AS (SELECT doc_id, pos AS s, n FROM tok WHERE " +
        "CAST(('0x' || substr(md5(doc_id || '|' || pos), 1, 8)) AS BIGINT) % 100 < 5), " +
        "masked AS (SELECT DISTINCT doc_id, mp FROM (SELECT doc_id, " +
        "unnest(generate_series(s, least(s + 2, n))) AS mp FROM starts)), " +
        "runs0 AS (SELECT doc_id, mp, mp - row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY mp) AS island FROM masked), " +
        "runs AS (SELECT doc_id, island, min(mp) AS run_start, count(*) AS run_len " +
        "FROM runs0 GROUP BY 1, 2), " +
        "rk AS (SELECT doc_id, run_start, run_len, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY run_start) AS k FROM runs), " +
        "flags AS (SELECT tok.doc_id, tok.pos, " +
        "CASE WHEN m.mp IS NULL THEN tok.tok " +
        "WHEN rk.k IS NOT NULL THEN '<extra_id_' || CAST(rk.k - 1 AS VARCHAR) || '>' " +
        "ELSE NULL END AS out FROM tok " +
        "LEFT JOIN masked m ON m.doc_id = tok.doc_id AND m.mp = tok.pos " +
        "LEFT JOIN rk ON rk.doc_id = tok.doc_id AND rk.run_start = tok.pos), " +
        "inp AS (SELECT doc_id, md5(string_agg(out, ' ' ORDER BY pos)) AS input_hash " +
        "FROM flags WHERE out IS NOT NULL GROUP BY 1), " +
        "tgt AS (SELECT rk.doc_id, count(*) AS n_spans, " +
        "md5(string_agg('<extra_id_' || CAST(k - 1 AS VARCHAR) || '> ' || " +
        "array_to_string(t[run_start:run_start+run_len-1], ' '), ' ' ORDER BY k)) AS target_hash " +
        "FROM rk JOIN base ON base.doc_id = rk.doc_id GROUP BY 1), " +
        "cnt AS (SELECT doc_id, count(*) AS n_masked FROM masked GROUP BY 1) " +
        "SELECT b.doc_id, CAST(n AS BIGINT) AS n_tokens, " +
        "coalesce(n_masked, 0) AS n_masked, coalesce(n_spans, 0) AS n_spans, " +
        "coalesce(input_hash, md5('')) AS input_hash, " +
        "coalesce(target_hash, md5('')) AS target_hash " +
        "FROM base b LEFT JOIN cnt ON cnt.doc_id = b.doc_id " +
        "LEFT JOIN inp ON inp.doc_id = b.doc_id " +
        "LEFT JOIN tgt ON tgt.doc_id = b.doc_id"),
    "q163_doremi_step" ->
      // the q73 NLL replay; per-source snapped mean, doc-weighted
      // baseline, snapped exp(excess) lift, normalized 4-dp weights
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "tot AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(sum(ctf) AS DOUBLE) AS gt FROM tot), " +
        "p AS (SELECT term, ctf / gt AS p FROM tot, g), " +
        "nll AS (SELECT doc_id, " +
        "round(-(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(tf), 4) AS nll " +
        "FROM tf JOIN p USING (term) GROUP BY 1), " +
        "ps AS (SELECT d.source, count(*) AS n_docs, " +
        "round(CAST(sum(CAST(floor(n.nll * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 / count(*), 6) AS mean_nll " +
        "FROM documents d JOIN nll n ON n.doc_id = d.doc_id GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS ntot, " +
        "round(CAST(sum(CAST(floor(mean_nll * n_docs * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 / sum(n_docs), 6) AS baseline FROM ps), " +
        "wr AS (SELECT source, n_docs, mean_nll, " +
        "round(mean_nll - baseline, 6) AS excess, n_docs / ntot AS w0, " +
        "(n_docs / ntot) * (floor(exp(1.0 * round(mean_nll - baseline, 6)) * 1000000000 + 0.5) / 1000000000) AS wraw " +
        "FROM ps CROSS JOIN tt), " +
        "z AS (SELECT CAST(sum(CAST(floor(wraw * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS z FROM wr) " +
        "SELECT source, n_docs, mean_nll, excess, round(w0, 4) AS weight0, " +
        "round(wraw / z, 4) AS weight FROM wr CROSS JOIN z"),
    "q164_phrase_tags" ->
      // 1- and 2-gram streams, literal IN-list dictionary, per-(doc,
      // phrase) hit count + first position
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "g1 AS (SELECT doc_id, i AS pos, t[i] AS gram " +
        "FROM toks, unnest(generate_series(1, len(t))) AS u(i)), " +
        "g2 AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+1], ' ') AS gram " +
        "FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i) WHERE len(t) >= 2), " +
        "gg AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2) " +
        "SELECT doc_id, gram AS phrase, count(*) AS n_hits, " +
        "CAST(min(pos) AS BIGINT) AS first_pos FROM gg " +
        "WHERE gram IN ('hash join', 'table scan', 'window agg', 'merge sort', 'stream') " +
        "GROUP BY 1, 2"),
    "q165_decontam_apply" ->
      // benchmark 5-grams (doc_id < 20, global DISTINCT — matches the
      // engine broadcast set) excise their covering token windows from
      // every corpus doc; q132's positional rebuild + md5
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "bg AS (SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS gram " +
        "FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i) " +
        "WHERE doc_id < 20 AND len(t) >= 5), " +
        "corp AS (SELECT doc_id, t FROM toks WHERE doc_id >= 20), " +
        "g AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+4], ' ') AS gram " +
        "FROM corp, unnest(generate_series(1, len(t) - 4)) AS u(i) WHERE len(t) >= 5), " +
        "rpos AS (SELECT DISTINCT doc_id, pos + o AS tokpos FROM g, " +
        "unnest(generate_series(0, 4)) AS v(o) WHERE gram IN (SELECT gram FROM bg)), " +
        "rl AS (SELECT doc_id, list(tokpos) AS rlist FROM rpos GROUP BY 1) " +
        "SELECT c.doc_id, CAST(len(t) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(len(rlist), 0) AS BIGINT) AS n_removed, " +
        "md5(coalesce(array_to_string(list_filter(list_transform(generate_series(1, len(t)), " +
        "i -> CASE WHEN rlist IS NOT NULL AND list_contains(rlist, i) THEN NULL ELSE t[i] END), " +
        "x -> x IS NOT NULL), ' '), '')) AS clean_hash " +
        "FROM corp c LEFT JOIN rl USING (doc_id)"),
    "q166_datasheet" ->
      // verified-pair replay (jaccard ≥ 0.5 bar) + the q73 NLL replay,
      // rolled into per-source release metrics
      (s"WITH $shingleCte, $jaccardCte, " +
        "dup AS (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM jac " +
        "WHERE jaccard >= 0.5 UNION ALL SELECT doc_b AS doc_id FROM jac WHERE jaccard >= 0.5)), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "tot AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(sum(ctf) AS DOUBLE) AS gt FROM tot), " +
        "p AS (SELECT term, ctf / gt AS p FROM tot, g), " +
        "nll AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens, " +
        "round(-(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(tf), 4) AS nll " +
        "FROM tf JOIN p USING (term) GROUP BY 1), " +
        "ds AS (SELECT d.source, n.n_tokens, n.nll, " +
        "CASE WHEN dp.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isdup " +
        "FROM documents d JOIN nll n ON n.doc_id = d.doc_id " +
        "LEFT JOIN dup dp ON dp.doc_id = d.doc_id) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(sum(isdup) AS BIGINT) AS n_near_dup_docs, " +
        "round(CAST(sum(CAST(floor(nll * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 / count(*), 6) AS mean_nll, " +
        "round(CAST(sum(isdup) AS DOUBLE) / count(*), 4) AS dup_rate " +
        "FROM ds GROUP BY 1"),
    "q167_jl_eval" ->
      // md5-Rademacher sign rows (j|i parity), 6-dp projected
      // components (the 8-dim tier is the PREFIX of the 16 sign rows),
      // q25-contract cosine top-10 per tier, overlap vs the exact
      // full-dim baseline
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "sg AS (SELECT j, list(s ORDER BY i) AS srow FROM (" +
        "SELECT j, i, CASE WHEN CAST(('0x' || substr(md5(j || '|' || i), 1, 1)) AS BIGINT) % 2 = 0 " +
        "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS s " +
        "FROM (SELECT unnest(generate_series(0, 15)) AS j), " +
        "(SELECT unnest(generate_series(0, 63)) AS i)) GROUP BY 1), " +
        "pv AS (SELECT v.vec_id, sg.j, round(list_dot_product(v.e, sg.srow), 6) AS c " +
        "FROM v CROSS JOIN sg), " +
        "pr8 AS (SELECT vec_id, list(c ORDER BY j) AS e FROM pv WHERE j < 8 GROUP BY 1), " +
        "pr16 AS (SELECT vec_id, list(c ORDER BY j) AS e FROM pv GROUP BY 1), " +
        "sc8 AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
        "round(list_dot_product(c.e, q.e) / " +
        "nullif(sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.e, q.e)), 0), 6) AS cos " +
        "FROM pr8 q JOIN pr8 c ON c.vec_id <> q.vec_id WHERE q.vec_id < 5), " +
        "t8 AS (SELECT q_id, n_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc8) WHERE rank <= 10), " +
        "sc16 AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, " +
        "round(list_dot_product(c.e, q.e) / " +
        "nullif(sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.e, q.e)), 0), 6) AS cos " +
        "FROM pr16 q JOIN pr16 c ON c.vec_id <> q.vec_id WHERE q.vec_id < 5), " +
        "t16 AS (SELECT q_id, n_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc16) WHERE rank <= 10), " +
        "bq AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5), " +
        "bsc AS (SELECT b.q_id, v.vec_id AS n_id, round(list_dot_product(v.e, b.qv) / " +
        "nullif(sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(b.qv, b.qv)), 0), 6) AS cos " +
        "FROM bq b JOIN v ON v.vec_id <> b.q_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM bsc) WHERE rank <= 10), " +
        "o AS (SELECT b.q_id, CAST(8 AS BIGINT) AS proj_dim, count(t.n_id) AS n_overlap " +
        "FROM bf b LEFT JOIN t8 t ON t.q_id = b.q_id AND t.n_id = b.n_id GROUP BY 1 " +
        "UNION ALL SELECT b.q_id, CAST(16 AS BIGINT) AS proj_dim, count(t.n_id) AS n_overlap " +
        "FROM bf b LEFT JOIN t16 t ON t.q_id = b.q_id AND t.n_id = b.n_id GROUP BY 1) " +
        "SELECT q_id, proj_dim, n_overlap, " +
        "round(CAST(n_overlap AS DOUBLE) / 10.0, 4) AS recall FROM o"),
    "q168_score_auc" ->
      // the q73 NLL replay, then ONE global tie-aware avg-rank pass
      // (cumulative window over the DISTINCT 4-dp score grid) and the
      // Mann–Whitney one-vs-rest AUC per source; avg ranks are exact
      // halves, so every double sum is exact and order-independent
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "tot AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(sum(ctf) AS DOUBLE) AS gt FROM tot), " +
        "p AS (SELECT term, ctf / gt AS p FROM tot, g), " +
        "nllt AS (SELECT doc_id, " +
        "round(-(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(tf), 4) AS nll " +
        "FROM tf JOIN p USING (term) GROUP BY 1), " +
        "scq AS (SELECT d.source, n.nll AS score FROM documents d JOIN nllt n USING (doc_id)), " +
        "gg AS (SELECT score, count(*) AS n_all FROM scq GROUP BY 1), " +
        "ar AS (SELECT score, coalesce(sum(n_all) OVER (ORDER BY score " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + (n_all + 1) / 2.0 AS avg_rank FROM gg), " +
        "per AS (SELECT source, score, count(*) AS n_g FROM scq GROUP BY 1, 2), " +
        "tt AS (SELECT count(*) AS t FROM scq), " +
        "ag AS (SELECT source, CAST(sum(n_g) AS BIGINT) AS p, " +
        "sum(CAST(n_g AS DOUBLE) * avg_rank) AS r FROM per JOIN ar USING (score) GROUP BY 1) " +
        "SELECT source, p AS n_docs, " +
        "round((r - CAST(p AS DOUBLE) * (p + 1) / 2.0) / " +
        "(CAST(p AS DOUBLE) * (t - p)), 6) AS auc FROM ag CROSS JOIN tt"),
    "q173_mad_outliers" ->
      // per-source median and MAD (exact interpolated quantile_cont,
      // 4-dp rounded), modified z-score flag in product form (no
      // division), MAD=0 groups flag nothing
      (unigramNllCte +
        ", dd AS (SELECT d.source, n.nll AS x FROM documents d JOIN nllt n USING (doc_id)), " +
        "md AS (SELECT source, round(quantile_cont(x, 0.5), 4) AS med FROM dd GROUP BY 1), " +
        "ad AS (SELECT dd.source, x, abs(x - med) AS ad, med FROM dd JOIN md USING (source)), " +
        "md2 AS (SELECT source, round(quantile_cont(ad, 0.5), 4) AS mad FROM ad GROUP BY 1) " +
        "SELECT ad.source, count(*) AS n_docs, max(med) AS med, max(mad) AS mad, " +
        "CAST(sum(CASE WHEN mad > 0.0 AND CAST(0.6745 AS DOUBLE) * ad > CAST(3.5 AS DOUBLE) * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "round(CAST(sum(CASE WHEN mad > 0.0 AND CAST(0.6745 AS DOUBLE) * ad > CAST(3.5 AS DOUBLE) * mad THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS outlier_rate " +
        "FROM ad JOIN md2 USING (source) GROUP BY 1"),
    "q174_kappa" ->
      // the q156 confusion → exact integer marginals → chance-corrected
      // agreement; kappa computes FROM the 6-dp-rounded po/pe
      (nbHoldoutCte +
        ", cf AS (SELECT te.lang AS a, best.clab AS pd, count(*) AS n " +
        "FROM best JOIN te USING (doc_id) GROUP BY 1, 2), " +
        "tt AS (SELECT CAST(sum(n) AS BIGINT) AS t, " +
        "CAST(sum(CASE WHEN a = pd THEN n ELSE 0 END) AS BIGINT) AS diag FROM cf), " +
        "rr AS (SELECT a, CAST(sum(n) AS BIGINT) AS ra FROM cf GROUP BY 1), " +
        "cc2 AS (SELECT pd, CAST(sum(n) AS BIGINT) AS ca FROM cf GROUP BY 1), " +
        "rc AS (SELECT CAST(sum(ra * ca) AS BIGINT) AS rc FROM rr JOIN cc2 ON rr.a = cc2.pd), " +
        "m AS (SELECT t AS n_docs, round(CAST(diag AS DOUBLE) / CAST(t AS DOUBLE), 6) AS po, " +
        "round(CAST(rc AS DOUBLE) / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS pe " +
        "FROM tt CROSS JOIN rc) " +
        "SELECT n_docs, po, pe, CASE WHEN pe < 1.0 THEN " +
        "round((po - pe) / (CAST(1.0 AS DOUBLE) - pe), 6) END AS kappa FROM m"),
    "q175_psi_drift" ->
      // global-min/max equal-width bins, full (source × bin) scaffold,
      // add-half smoothing, 1e9-snapped terms
      (unigramNllCte +
        ", dd AS (SELECT d.source AS grp, n.nll AS x, " +
        "CASE WHEN d.doc_id % 2 = 0 THEN 'e' ELSE 'a' END AS half " +
        "FROM documents d JOIN nllt n USING (doc_id)), " +
        "mm AS (SELECT min(x) AS mn, max(x) AS mx FROM dd), " +
        "bx AS (SELECT grp, half, CASE WHEN mx = mn THEN 0 " +
        "ELSE least(CAST(floor((x - mn) * 10.0 / (mx - mn)) AS BIGINT), 9) END AS bin " +
        "FROM dd CROSS JOIN mm), " +
        "ct AS (SELECT grp, bin, CAST(sum(CASE WHEN half = 'e' THEN 1 ELSE 0 END) AS BIGINT) AS ce, " +
        "CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca FROM bx GROUP BY 1, 2), " +
        "sc0 AS (SELECT grp, bin FROM (SELECT DISTINCT grp FROM ct) " +
        "CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin)), " +
        "fl AS (SELECT sc0.grp, sc0.bin, coalesce(ce, 0) AS ce, coalesce(ca, 0) AS ca " +
        "FROM sc0 LEFT JOIN ct USING (grp, bin)), " +
        "tt AS (SELECT grp, CAST(sum(ce) AS BIGINT) AS te, CAST(sum(ca) AS BIGINT) AS ta FROM fl GROUP BY 1), " +
        "tm AS (SELECT fl.grp, te, ta, " +
        "((CAST(ce AS DOUBLE) + 0.5) / (CAST(te AS DOUBLE) + 5.0) - " +
        "(CAST(ca AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 5.0)) * " +
        "ln(((CAST(ce AS DOUBLE) + 0.5) / (CAST(te AS DOUBLE) + 5.0)) / " +
        "((CAST(ca AS DOUBLE) + 0.5) / (CAST(ta AS DOUBLE) + 5.0))) AS term " +
        "FROM fl JOIN tt USING (grp)) " +
        "SELECT grp AS source, max(te) AS n_expected, max(ta) AS n_actual, " +
        "CASE WHEN max(te) > 0 AND max(ta) > 0 THEN " +
        "round(CAST(sum(CAST(floor(term * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000, 6) END AS psi " +
        "FROM tm GROUP BY 1"),
    "q172_label_prop" -> {
      // the q55 LSH-signature stanza → within-bucket top-3 kNN edges
      // (the q129 ranking contract) → undirected view → 2 unrolled
      // majority-vote rounds (ties: smaller label), scored vs truth
      val rounds = (1 to 2).map { r =>
        s"n$r AS (SELECT und.src, l.label, count(*) AS n FROM und " +
          s"JOIN lab${r - 1} l ON l.id = und.dst " +
          s"WHERE und.src NOT IN (SELECT id FROM lab${r - 1}) GROUP BY 1, 2), " +
          s"a$r AS (SELECT src AS id, label, CAST($r AS BIGINT) AS round FROM " +
          s"(SELECT src, label, row_number() OVER (PARTITION BY src " +
          s"ORDER BY n DESC, label) AS rn FROM n$r) WHERE rn = 1), " +
          s"lab$r AS (SELECT * FROM lab${r - 1} UNION ALL SELECT * FROM a$r)"
      }.mkString(", ")
      "WITH pl AS (SELECT p, list_transform(generate_series(0, 63), i -> " +
        "CASE WHEN strpos('02468ace', substr(md5(CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 1)) > 0 " +
        "THEN 1.0 ELSE -1.0 END) AS signs FROM (SELECT unnest(generate_series(0, 3)) AS p)), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "sig AS (SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(e, signs) >= 0 " +
        "THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket FROM v CROSS JOIN pl GROUP BY 1), " +
        "vb AS (SELECT v.vec_id, v.e, sig.bucket FROM v JOIN sig USING (vec_id)), " +
        "pr AS (SELECT a.vec_id AS src, b.vec_id AS dst, " +
        "round(list_dot_product(a.e, b.e) / " +
        "nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0), 4) AS cos " +
        "FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id), " +
        "kn AS (SELECT src, dst FROM (SELECT src, dst, row_number() OVER " +
        "(PARTITION BY src ORDER BY cos DESC, dst) AS rank FROM pr) WHERE rank <= 3), " +
        "und AS (SELECT DISTINCT src, dst FROM " +
        "(SELECT src, dst FROM kn UNION ALL SELECT dst AS src, src AS dst FROM kn)), " +
        "lab0 AS (SELECT vec_id AS id, label, CAST(0 AS BIGINT) AS round " +
        "FROM embeddings WHERE vec_id % 5 = 0), " +
        rounds +
        " SELECT l.id AS vec_id, l.label AS pred_label, l.round, " +
        "l.label = e.label AS correct FROM lab2 l JOIN embeddings e ON e.vec_id = l.id"
    },
    "q188_bt_calibration" ->
      // the shared BT replay; unordered-pair observed rates vs the
      // w3 strengths' predicted w_a/(w_a+w_b); errors on rounded rates
      (btReplayCte +
        ", sym AS (SELECT least(i, j) AS a, greatest(i, j) AS b, " +
        "CAST(sum(CASE WHEN i < j THEN wij ELSE 0 END) AS DOUBLE) AS wins_a, " +
        "CAST(sum(wij) AS DOUBLE) AS n_duels FROM pw GROUP BY 1, 2), " +
        "mm2 AS (SELECT a, b, n_duels, wins_a, " +
        "round(CAST(wins_a AS DOUBLE) / n_duels, 6) AS observed, " +
        "round(wa.w / (wa.w + wb.w), 6) AS predicted " +
        "FROM sym JOIN w3 wa ON wa.i = sym.a JOIN w3 wb ON wb.i = sym.b) " +
        "SELECT a AS src_a, b AS src_b, n_duels, wins_a, observed, predicted, " +
        "round(abs(observed - predicted), 6) AS abs_err FROM mm2"),
    "q171_bradley_terry" ->
      (btReplayCte +
        " SELECT w3.i AS source, w3.w AS strength, tot.wi AS n_wins, " +
        "tot.ni AS n_duels FROM w3 JOIN tot USING (i)"),

    "q170_fim_split" ->
      // md5-derived cut points a ∈ [1, n-2], b ∈ [a+1, n-1] (all three
      // segments non-empty), md5-chosen PSM/SPM coin, md5 of the
      // reassembled example; <3-token docs pass through as 'plain'
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "tn AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM toks), " +
        "c1 AS (SELECT doc_id, t, n, CASE WHEN n >= 3 THEN " +
        "1 + CAST(('0x' || substr(md5(doc_id || '|a'), 1, 8)) AS BIGINT) % (n - 2) END AS a FROM tn), " +
        "c2 AS (SELECT *, CASE WHEN n >= 3 THEN " +
        "a + 1 + CAST(('0x' || substr(md5(doc_id || '|b'), 1, 8)) AS BIGINT) % (n - a - 1) END AS b FROM c1), " +
        "md AS (SELECT *, CASE WHEN n < 3 THEN 'plain' " +
        "WHEN CAST(('0x' || substr(md5(doc_id || '|m'), 1, 8)) AS BIGINT) % 100 < 50 THEN 'spm' " +
        "ELSE 'psm' END AS mode FROM c2), " +
        "seg AS (SELECT doc_id, n, a, b, mode, " +
        "array_to_string(t[1:CAST(a AS INT)], ' ') AS p, " +
        "array_to_string(t[CAST(a + 1 AS INT):CAST(b AS INT)], ' ') AS m, " +
        "array_to_string(t[CAST(b + 1 AS INT):CAST(n AS INT)], ' ') AS s, " +
        "array_to_string(t, ' ') AS whole FROM md) " +
        "SELECT doc_id, n AS n_tokens, coalesce(a, 0) AS a, coalesce(b, 0) AS b, mode, " +
        "md5(CASE WHEN mode = 'plain' THEN whole " +
        "WHEN mode = 'spm' THEN concat_ws(' ', '<SUF>', s, '<PRE>', p, '<MID>', m) " +
        "ELSE concat_ws(' ', '<PRE>', p, '<SUF>', s, '<MID>', m) END) AS fim_hash, " +
        "coalesce(b - a, 0) AS n_middle FROM seg"),
    "q136_ngram_novelty" ->
      // novelty = fraction of a doc's trigram occurrences whose gram
      // first appears (min doc_id) in this doc
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "g AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram " +
        "FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i) WHERE len(t) >= 3), " +
        "f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_grams, " +
        "CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS novelty " +
        "FROM g JOIN f USING (gram) GROUP BY 1"),
    "q137_perplexity_gate" ->
      // the q73 NLL replay, then per-source p75 threshold (rounded 4 dp
      // BEFORE the keep comparison) and admission stats
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "tot AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(sum(ctf) AS DOUBLE) AS gt FROM tot), " +
        "p AS (SELECT term, ctf / gt AS p FROM tot, g), " +
        "nll AS (SELECT doc_id, " +
        "round(-(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(tf), 4) AS score " +
        "FROM tf JOIN p USING (term) GROUP BY 1), " +
        "sc AS (SELECT d.source, n.score FROM documents d JOIN nll n USING (doc_id)), " +
        "th AS (SELECT source, round(quantile_cont(score, 0.75), 4) AS threshold " +
        "FROM sc GROUP BY 1) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN score <= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "threshold FROM sc JOIN th USING (source) GROUP BY 1, threshold"),
    "q138_truncation_eval" ->
      // brute-force cosine top-10 (q25 contract) at full dim vs 16/32-dim
      // prefixes; overlap per (query, tier)
      ("WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv " +
        "FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
        "sc AS (SELECT q_id, n_id, round(list_dot_product(cv, qv) / " +
        "nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM q JOIN c ON n_id <> q_id), " +
        "rf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc) WHERE rank <= 10), " +
        "sc16 AS (SELECT q_id, n_id, round(list_dot_product(cv[1:16], qv[1:16]) / " +
        "nullif(sqrt(list_dot_product(cv[1:16], cv[1:16])) * sqrt(list_dot_product(qv[1:16], qv[1:16])), 0), 6) AS cos " +
        "FROM q JOIN c ON n_id <> q_id), " +
        "r16 AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc16) WHERE rank <= 10), " +
        "sc32 AS (SELECT q_id, n_id, round(list_dot_product(cv[1:32], qv[1:32]) / " +
        "nullif(sqrt(list_dot_product(cv[1:32], cv[1:32])) * sqrt(list_dot_product(qv[1:32], qv[1:32])), 0), 6) AS cos " +
        "FROM q JOIN c ON n_id <> q_id), " +
        "r32 AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sc32) WHERE rank <= 10), " +
        "o AS (SELECT f.q_id, 16 AS dim, count(t.n_id) AS n_overlap " +
        "FROM rf f LEFT JOIN r16 t USING (q_id, n_id) GROUP BY 1 " +
        "UNION ALL SELECT f.q_id, 32 AS dim, count(t.n_id) AS n_overlap " +
        "FROM rf f LEFT JOIN r32 t USING (q_id, n_id) GROUP BY 1) " +
        "SELECT q_id, dim, n_overlap, " +
        "round(CAST(n_overlap AS DOUBLE) / 10.0, 4) AS recall FROM o"),
    "q139_dedup_audit" ->
      // q22's exact-jaccard edges + q63's recursive-CTE components,
      // rolled up per group: weakest/mean edge and the chained flag
      (s"WITH RECURSIVE $shingleCte, " +
        "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
        "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cands c " +
        "JOIN sh sa ON c.doc_a = sa.doc_id " +
        "JOIN sh sb ON c.doc_b = sb.doc_id AND sa.shingle = sb.shingle GROUP BY 1, 2), " +
        "jac AS (SELECT c.doc_a, c.doc_b, " +
        "round(CAST(coalesce(n_inter, 0) AS DOUBLE) / (za.sz + zb.sz - coalesce(n_inter, 0)), 4) AS j " +
        "FROM cands c LEFT JOIN inter ON c.doc_a = inter.doc_a AND c.doc_b = inter.doc_b " +
        "JOIN sz za ON c.doc_a = za.doc_id JOIN sz zb ON c.doc_b = zb.doc_id), " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM cands " +
        "UNION ALL SELECT doc_b AS a, doc_a AS b FROM cands), " +
        "reach AS (SELECT doc_id AS node, doc_id AS comp FROM documents " +
        "UNION SELECT e.b AS node, r.comp AS comp FROM reach r " +
        "JOIN edges e ON e.a = r.node), " +
        "comp AS (SELECT node AS doc_id, min(comp) AS group_id FROM reach GROUP BY 1), " +
        "sizes AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY 1) " +
        "SELECT c.group_id, s.group_size, count(*) AS n_edges, " +
        "min(j) AS min_jaccard, " +
        "round(CAST(sum(CAST(floor(j * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 / count(*), 4) AS avg_jaccard, " +
        "min(j) < 0.5 AS chained " +
        "FROM jac JOIN comp c ON jac.doc_a = c.doc_id " +
        "JOIN sizes s USING (group_id) GROUP BY 1, 2"),
    "q140_length_bias" ->
      // q73 NLL replay, then per-source Pearson r over snapped-decimal
      // moment sums (x = n_chars on the 1e6 grid, y/NLL on 1e9)
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "tot AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY 1), " +
        "g AS (SELECT CAST(sum(ctf) AS DOUBLE) AS gt FROM tot), " +
        "p AS (SELECT term, ctf / gt AS p FROM tot, g), " +
        "nll AS (SELECT doc_id, " +
        "round(-(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(tf), 4) AS y " +
        "FROM tf JOIN p USING (term) GROUP BY 1), " +
        "b AS (SELECT d.source AS grp, CAST(d.n_chars AS DOUBLE) AS x, n.y " +
        "FROM documents d JOIN nll n USING (doc_id)), " +
        "a AS (SELECT grp, CAST(count(*) AS DOUBLE) AS n, " +
        "CAST(sum(CAST(floor(x * 1000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000 AS sx, " +
        "CAST(sum(CAST(floor(y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy, " +
        "CAST(sum(CAST(floor(x * x * 1000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000 AS sxx, " +
        "CAST(sum(CAST(floor(y * y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS syy, " +
        "CAST(sum(CAST(floor(x * y * 1000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000 AS sxy " +
        "FROM b GROUP BY 1) " +
        "SELECT grp AS source, CAST(n AS BIGINT) AS n_rows, " +
        "round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS corr " +
        "FROM a"),
    "q141_corrupt_ingest" ->
      // identical line synthesis + truncation corruption; bad = not
      // valid JSON (Spark side: NULL-on-fail from_json)
      ("WITH d AS (SELECT doc_id, lang, " +
        "'{\"doc_id\":' || doc_id || ',\"lang\":\"' || lang || '\"}' AS j FROM documents), " +
        "l AS (SELECT lang, CASE WHEN doc_id % 7 = 0 THEN substr(j, 1, length(j) - 2) " +
        "ELSE j END AS line FROM d) " +
        "SELECT lang, count(*) AS n_rows, " +
        "CAST(sum(CASE WHEN json_valid(line) THEN 0 ELSE 1 END) AS BIGINT) AS n_bad, " +
        "round(CAST(sum(CASE WHEN json_valid(line) THEN 0 ELSE 1 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS bad_rate FROM l GROUP BY 1"),
    "q142_ivfpq_recall" ->
      // the q135 replay run TWICE — w-prefix: raw sub-vector books
      // (q133), s-prefix: residual books (IVFADC) — searched at nprobe
      // tiers {1,2,4}, overlap-counted against the q25 exact cosine
      // top-10 (left join from the baseline, so 0-overlap rows survive)
      (kmeansReplayCte +
        ", sp AS (SELECT unnest(generate_series(0, 3)) AS j), " +
        // raw subspace training + codes (q133)
        "wsv AS (SELECT vec_id, j, e[j*16+1:j*16+16] AS e FROM v CROSS JOIN sp), " +
        "wc0 AS (SELECT j, vec_id AS cell, e AS c FROM wsv WHERE vec_id < 4), " +
        "wd1 AS (SELECT wsv.j, wsv.vec_id, wsv.e, wc0.cell, list_sum(list_transform(" +
        "list_zip(wsv.e, wc0.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM wsv JOIN wc0 ON wsv.j = wc0.j), " +
        "wa1 AS (SELECT j, vec_id, e, cell FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, cell) AS rn FROM wd1) WHERE rn = 1), " +
        "wm1 AS (SELECT j, cell, i, floor(avg(x)*1000000 + 0.5)/1000000 AS m FROM " +
        "(SELECT j, cell, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM wa1) GROUP BY 1, 2, 3), " +
        "wmc AS (SELECT j, cell, list(m ORDER BY i) AS c FROM wm1 GROUP BY 1, 2), " +
        "wbk AS (SELECT j, cell, c, CAST(row_number() OVER (PARTITION BY j ORDER BY cell) AS INT) AS pos FROM wmc), " +
        "wd2 AS (SELECT wsv.j, wsv.vec_id, wbk.pos, list_sum(list_transform(" +
        "list_zip(wsv.e, wbk.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM wsv JOIN wbk ON wsv.j = wbk.j), " +
        "wcode AS (SELECT j, vec_id, pos FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, pos) AS rn FROM wd2) WHERE rn = 1), " +
        // residual subspace training + codes (the q135 IVFADC replay)
        "rv AS (SELECT a2.vec_id, list_transform(list_zip(a2.e, c1.c), " +
        "t -> t[1]-t[2]) AS r FROM a2 JOIN c1 USING (cell)), " +
        "sv AS (SELECT vec_id, j, r[j*16+1:j*16+16] AS e FROM rv CROSS JOIN sp), " +
        "sc0 AS (SELECT j, vec_id AS cell, e AS c FROM sv WHERE vec_id < 4), " +
        "sd1 AS (SELECT sv.j, sv.vec_id, sv.e, sc0.cell, list_sum(list_transform(" +
        "list_zip(sv.e, sc0.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM sv JOIN sc0 ON sv.j = sc0.j), " +
        "sa1 AS (SELECT j, vec_id, e, cell FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, cell) AS rn FROM sd1) WHERE rn = 1), " +
        "sm1 AS (SELECT j, cell, i, floor(avg(x)*1000000 + 0.5)/1000000 AS m FROM " +
        "(SELECT j, cell, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM sa1) GROUP BY 1, 2, 3), " +
        "smc AS (SELECT j, cell, list(m ORDER BY i) AS c FROM sm1 GROUP BY 1, 2), " +
        "sbk AS (SELECT j, cell, c, CAST(row_number() OVER (PARTITION BY j ORDER BY cell) AS INT) AS pos FROM smc), " +
        "sd2 AS (SELECT sv.j, sv.vec_id, sbk.pos, list_sum(list_transform(" +
        "list_zip(sv.e, sbk.c), t -> (t[1]-t[2])*(t[1]-t[2]))) AS d FROM sv JOIN sbk ON sv.j = sbk.j), " +
        "scode AS (SELECT j, vec_id, pos FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY j, vec_id ORDER BY d, pos) AS rn FROM sd2) WHERE rn = 1), " +
        // probes (full query vs trained coarse, all ranks) + tiers
        "pq AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5), " +
        "pd AS (SELECT q_id, c1.cell, CAST(floor(list_sum(list_transform(" +
        "list_zip(qv, c1.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM pq CROSS JOIN c1), " +
        "prk AS (SELECT q_id, cell, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dl, cell) AS pr FROM pd), " +
        "tiers AS (SELECT unnest([1, 2, 4]) AS np), " +
        // ADC tables: raw = per query; residual = per (query, cell)
        "wqs AS (SELECT vec_id AS q_id, j, e AS qe FROM wsv WHERE vec_id < 5), " +
        "wdtab AS (SELECT wqs.q_id, wbk.j, wbk.pos, CAST(floor(list_sum(list_transform(" +
        "list_zip(wqs.qe, wbk.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM wqs JOIN wbk ON wqs.j = wbk.j), " +
        "qr AS (SELECT p.q_id, p.cell, list_transform(list_zip(pq.qv, c1.c), " +
        "t -> t[1]-t[2]) AS r FROM prk p JOIN pq USING (q_id) " +
        "JOIN c1 ON c1.cell = p.cell), " +
        "sdtab AS (SELECT qr.q_id, qr.cell, sbk.j, sbk.pos, CAST(floor(list_sum(list_transform(" +
        "list_zip(qr.r[sbk.j*16+1:sbk.j*16+16], sbk.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM qr CROSS JOIN sbk), " +
        // candidates per tier, scored per variant, top-10
        "cand AS (SELECT t.np, p.q_id, p.cell, a2.vec_id AS n_id FROM tiers t " +
        "JOIN prk p ON p.pr <= t.np JOIN a2 ON a2.cell = p.cell " +
        "WHERE a2.vec_id <> p.q_id), " +
        "wadc AS (SELECT cand.np, cand.q_id, cand.n_id, CAST(sum(t.dl) AS BIGINT) AS s " +
        "FROM cand JOIN wcode c ON c.vec_id = cand.n_id " +
        "JOIN wdtab t ON t.q_id = cand.q_id AND t.j = c.j AND t.pos = c.pos GROUP BY 1, 2, 3), " +
        "wtop AS (SELECT np, q_id, n_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY np, q_id ORDER BY s, n_id) AS rank FROM wadc) WHERE rank <= 10), " +
        "sadc AS (SELECT cand.np, cand.q_id, cand.n_id, CAST(sum(t.dl) AS BIGINT) AS s " +
        "FROM cand JOIN scode c ON c.vec_id = cand.n_id " +
        "JOIN sdtab t ON t.q_id = cand.q_id AND t.cell = cand.cell " +
        "AND t.j = c.j AND t.pos = c.pos GROUP BY 1, 2, 3), " +
        "rtop AS (SELECT np, q_id, n_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY np, q_id ORDER BY s, n_id) AS rank FROM sadc) WHERE rank <= 10), " +
        // exact cosine baseline (the q25 contract) + overlap counting
        "bsc AS (SELECT b.q_id, v.vec_id AS n_id, round(list_dot_product(v.e, b.qv) / " +
        "nullif(sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(b.qv, b.qv)), 0), 6) AS cos " +
        "FROM pq b JOIN v ON v.vec_id <> b.q_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM bsc) WHERE rank <= 10), " +
        "o AS (SELECT 'raw' AS variant, t.np, b.q_id, count(w.n_id) AS n_overlap " +
        "FROM bf b CROSS JOIN tiers t LEFT JOIN wtop w " +
        "ON w.np = t.np AND w.q_id = b.q_id AND w.n_id = b.n_id GROUP BY 1, 2, 3 " +
        "UNION ALL SELECT 'residual' AS variant, t.np, b.q_id, count(r.n_id) AS n_overlap " +
        "FROM bf b CROSS JOIN tiers t LEFT JOIN rtop r " +
        "ON r.np = t.np AND r.q_id = b.q_id AND r.n_id = b.n_id GROUP BY 1, 2, 3) " +
        "SELECT q_id, variant, CAST(np AS BIGINT) AS nprobe, n_overlap, " +
        "round(CAST(n_overlap AS DOUBLE) / 10.0, 4) AS recall FROM o"),
    "q191_opq_recall" ->
      // the shared opqReplayCte trained index, searched at the q142
      // tiers and overlap-counted against the raw-space q25 baseline
      (opqReplayCte +
        // permuted queries: probes + per-(query, cell) residual ADC tables
        "opq0 AS (SELECT vec_id AS q_id, e AS qv FROM opv WHERE vec_id < 5), " +
        "opd AS (SELECT q_id, c.cell, CAST(floor(list_sum(list_transform(" +
        "list_zip(qv, c.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM opq0 CROSS JOIN opc1 c), " +
        "oprk AS (SELECT q_id, cell, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dl, cell) AS pr FROM opd), " +
        "tiers AS (SELECT unnest([1, 2, 4]) AS np), " +
        "oqr AS (SELECT p.q_id, p.cell, list_transform(list_zip(opq0.qv, c.c), " +
        "t -> t[1]-t[2]) AS r FROM oprk p JOIN opq0 USING (q_id) " +
        "JOIN opc1 c ON c.cell = p.cell), " +
        "odtab AS (SELECT oqr.q_id, oqr.cell, obk.j, obk.pos, CAST(floor(list_sum(list_transform(" +
        "list_zip(oqr.r[obk.j*16+1:obk.j*16+16], obk.c), t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM oqr CROSS JOIN obk), " +
        "ocand AS (SELECT t.np, p.q_id, p.cell, oza.vec_id AS n_id FROM tiers t " +
        "JOIN oprk p ON p.pr <= t.np JOIN oza ON oza.cell = p.cell " +
        "WHERE oza.vec_id <> p.q_id), " +
        "oadc AS (SELECT ocand.np, ocand.q_id, ocand.n_id, CAST(sum(t.dl) AS BIGINT) AS s " +
        "FROM ocand JOIN ocode c ON c.vec_id = ocand.n_id " +
        "JOIN odtab t ON t.q_id = ocand.q_id AND t.cell = ocand.cell " +
        "AND t.j = c.j AND t.pos = c.pos GROUP BY 1, 2, 3), " +
        "otop AS (SELECT np, q_id, n_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY np, q_id ORDER BY s, n_id) AS rank FROM oadc) WHERE rank <= 10), " +
        // raw-space exact baseline (the q25 contract) + overlap
        "bsc AS (SELECT b.q_id, v.vec_id AS n_id, round(list_dot_product(v.e, b.qv) / " +
        "nullif(sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(b.qv, b.qv)), 0), 6) AS cos " +
        "FROM (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5) b " +
        "JOIN v ON v.vec_id <> b.q_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM bsc) WHERE rank <= 10) " +
        "SELECT b.q_id, 'opq' AS variant, CAST(t.np AS BIGINT) AS nprobe, " +
        "count(o.n_id) AS n_overlap, " +
        "round(CAST(count(o.n_id) AS DOUBLE) / 10.0, 4) AS recall " +
        "FROM bf b CROSS JOIN tiers t LEFT JOIN otop o " +
        "ON o.np = t.np AND o.q_id = b.q_id AND o.n_id = b.n_id GROUP BY 1, 2, 3"),
    "q193_opq_quant_error" ->
      // the shared opqReplayCte trained permuted index + the standard
      // residual subspace training (rv is already in scope), then the
      // q190 chosen-code error rollup per variant, per coarse cell
      (opqReplayCte +
        residualPqTrainCte +
        "rce AS (SELECT c.vec_id, CAST(floor(s.d * 1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM code c JOIN sd2 s ON s.j = c.j AND s.vec_id = c.vec_id AND s.pos = c.pos), " +
        "rpe AS (SELECT vec_id, CAST(sum(dl) AS BIGINT) AS err FROM rce GROUP BY 1), " +
        "oce AS (SELECT c.vec_id, CAST(floor(s.d * 1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM ocode c JOIN osd2 s ON s.j = c.j AND s.vec_id = c.vec_id AND s.pos = c.pos), " +
        "ope AS (SELECT vec_id, CAST(sum(dl) AS BIGINT) AS err FROM oce GROUP BY 1) " +
        "SELECT 'residual' AS variant, a2.cell, count(*) AS n_vectors, " +
        "round(CAST(sum(err) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000), 6) AS mean_err, " +
        "round(CAST(max(err) AS DOUBLE) / 1000000, 6) AS max_err " +
        "FROM rpe JOIN a2 ON a2.vec_id = rpe.vec_id GROUP BY 1, 2 " +
        "UNION ALL SELECT 'opq' AS variant, oza.cell, count(*) AS n_vectors, " +
        "round(CAST(sum(err) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1000000), 6) AS mean_err, " +
        "round(CAST(max(err) AS DOUBLE) / 1000000, 6) AS max_err " +
        "FROM ope JOIN oza ON oza.vec_id = ope.vec_id GROUP BY 1, 2"),
    "q195_bleu2" ->
      // clipped multiset n-gram precisions (n=1,2) over the
      // consecutive-doc pairing, 6-dp bp straight off the exp, bleu2
      // from the rounded pieces; <2-token candidates -> NULL p2/bleu2
      ("WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "cu AS (SELECT doc_id AS pair_id, 1 AS n, unnest(t) AS gram FROM tk), " +
        "cb AS (SELECT doc_id AS pair_id, 2 AS n, unnest(list_transform(generate_series(1, len(t) - 1), " +
        "i -> t[i] || ' ' || t[i+1])) AS gram FROM tk WHERE len(t) >= 2), " +
        "cg AS (SELECT pair_id, n, gram, count(*) AS c FROM " +
        "(SELECT * FROM cu UNION ALL SELECT * FROM cb) GROUP BY 1, 2, 3), " +
        "ru AS (SELECT doc_id - 1 AS pair_id, 1 AS n, unnest(t) AS gram FROM tk), " +
        "rb AS (SELECT doc_id - 1 AS pair_id, 2 AS n, unnest(list_transform(generate_series(1, len(t) - 1), " +
        "i -> t[i] || ' ' || t[i+1])) AS gram FROM tk WHERE len(t) >= 2), " +
        "rg AS (SELECT pair_id, n, gram, count(*) AS cr FROM " +
        "(SELECT * FROM ru UNION ALL SELECT * FROM rb) GROUP BY 1, 2, 3), " +
        "cl AS (SELECT cg.pair_id, cg.n, CAST(sum(cg.c) AS BIGINT) AS tot, " +
        "CAST(sum(least(cg.c, coalesce(rg.cr, 0))) AS BIGINT) AS hit " +
        "FROM cg LEFT JOIN rg ON rg.pair_id = cg.pair_id AND rg.n = cg.n AND rg.gram = cg.gram GROUP BY 1, 2), " +
        "pp AS (SELECT pair_id, " +
        "round(CAST(sum(CASE WHEN n = 1 THEN hit END) AS DOUBLE) / CAST(sum(CASE WHEN n = 1 THEN tot END) AS DOUBLE), 6) AS p1, " +
        "round(CAST(sum(CASE WHEN n = 2 THEN hit END) AS DOUBLE) / CAST(sum(CASE WHEN n = 2 THEN tot END) AS DOUBLE), 6) AS p2 " +
        "FROM cl GROUP BY 1), " +
        "ln0 AS (SELECT c.doc_id AS pair_id, CAST(len(c.t) AS BIGINT) AS len_cand, " +
        "CAST(len(r.t) AS BIGINT) AS len_ref FROM tk c JOIN tk r ON r.doc_id = c.doc_id + 1), " +
        "f AS (SELECT l.pair_id, len_cand, len_ref, p1, p2, " +
        "CASE WHEN len_cand >= len_ref THEN CAST(1.0 AS DOUBLE) " +
        "ELSE round(exp(CAST(1.0 AS DOUBLE) - CAST(len_ref AS DOUBLE) / CAST(len_cand AS DOUBLE)), 6) END AS bp " +
        "FROM ln0 l JOIN pp USING (pair_id)) " +
        "SELECT pair_id, len_cand, len_ref, p1, p2, bp, " +
        "CASE WHEN p2 IS NOT NULL THEN round(bp * sqrt(p1 * p2), 6) END AS bleu2 FROM f"),
    "q194_mojibake_gate" ->
      // identical corruption synthesis (chr(65533) fragment on every
      // 7th doc, chr(7) on every 11th), exact length-delta counts
      // under global char-class deletion, one rollup per source
      ("WITH a AS (SELECT doc_id, source, text || " +
        "CASE WHEN doc_id % 7 = 0 THEN ' x' || chr(65533) || 'y' ELSE '' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN chr(7) ELSE '' END AS t FROM documents), " +
        "m AS (SELECT source, length(t) AS nc, " +
        "length(t) - length(regexp_replace(t, chr(65533), '', 'g')) AS nr, " +
        "length(t) - length(regexp_replace(t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')) AS nx FROM a) " +
        "SELECT source, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN nr > 0 OR nx > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged, " +
        "round(CAST(sum(CASE WHEN nr > 0 OR nx > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS flag_rate, " +
        "CAST(sum(nr) AS BIGINT) AS n_repl, CAST(sum(nx) AS BIGINT) AS n_ctrl, " +
        "CASE WHEN sum(nc) > 0 THEN round(CAST(sum(nr) AS DOUBLE) * 1000 / CAST(sum(nc) AS DOUBLE), 4) END AS repl_per_kchar, " +
        "CASE WHEN sum(nc) > 0 THEN round(CAST(sum(nx) AS DOUBLE) * 1000 / CAST(sum(nc) AS DOUBLE), 4) END AS ctrl_per_kchar " +
        "FROM m GROUP BY 1"),
    "q192_gate_cost" ->
      // benefit from the shared flag chain (the q186 diagonal), cost =
      // deterministic input-row counts of each gate's machinery: docs
      // (gopher), distinct 3-gram shingles sh1 (dedup), tf rows
      // (perplexity), distinct 5-gram rows cg (decontam)
      (funnelFlagsCte +
        "ben AS (" +
        "SELECT 'gopher' AS gate, CAST(sum(CASE WHEN NOT f2 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail, " +
        "CAST(sum(CASE WHEN NOT f2 AND f3 AND f4 AND f5 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive FROM flags " +
        "UNION ALL SELECT 'dedup', CAST(sum(CASE WHEN NOT f3 THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN NOT f3 AND f2 AND f4 AND f5 THEN 1 ELSE 0 END) AS BIGINT) FROM flags " +
        "UNION ALL SELECT 'perplexity', CAST(sum(CASE WHEN NOT f4 THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN NOT f4 AND f2 AND f3 AND f5 THEN 1 ELSE 0 END) AS BIGINT) FROM flags " +
        "UNION ALL SELECT 'decontam', CAST(sum(CASE WHEN NOT f5 THEN 1 ELSE 0 END) AS BIGINT), " +
        "CAST(sum(CASE WHEN NOT f5 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) FROM flags), " +
        "cost AS (SELECT 'gopher' AS gate, CAST(count(*) AS BIGINT) AS n_input_rows FROM documents " +
        "UNION ALL SELECT 'dedup', CAST(count(*) AS BIGINT) FROM sh1 " +
        "UNION ALL SELECT 'perplexity', CAST(count(*) AS BIGINT) FROM tf " +
        "UNION ALL SELECT 'decontam', CAST(count(*) AS BIGINT) FROM cg) " +
        "SELECT b.gate, c.n_input_rows, b.n_fail, b.n_exclusive, " +
        "round(CAST(b.n_exclusive AS DOUBLE) * 1000000 / CAST(c.n_input_rows AS DOUBLE), 4) AS exclusive_per_mrow " +
        "FROM ben b JOIN cost c ON c.gate = b.gate"),
    "q196_kn_bigram" ->
      // interpolated KN (Chen & Goodman eq. 18, D = 0.75): every factor
      // a ratio of exact integer counts, fixed parenthesization both
      // sides; same snapped per-doc NLL sum as q113
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "bg AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 2 THEN " +
        "list_transform(generate_series(1, len(tk) - 1), i -> array_to_string(tk[i:i+1], ' ')) " +
        "ELSE []::VARCHAR[] END) AS bigram FROM d), " +
        "big AS (SELECT bigram, count(*) AS bc FROM bg GROUP BY 1), " +
        "ctx AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(bc) AS ctx, count(*) AS nfollow FROM big GROUP BY 1), " +
        "prec AS (SELECT string_split(bigram, ' ')[2] AS w2, count(*) AS nprec FROM big GROUP BY 1), " +
        "nt AS (SELECT CAST(greatest(count(*), 1) AS DOUBLE) AS nt FROM big), " +
        "p AS (SELECT bigram, " +
        "(greatest(CAST(bc AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE)) / CAST(ctx AS DOUBLE)) + " +
        "(CAST(0.75 AS DOUBLE) * CAST(nfollow AS DOUBLE) / CAST(ctx AS DOUBLE)) * (CAST(nprec AS DOUBLE) / nt) AS p " +
        "FROM big JOIN ctx ON string_split(bigram, ' ')[1] = ctx.w1 " +
        "JOIN prec ON string_split(bigram, ' ')[2] = prec.w2 CROSS JOIN nt), " +
        "db AS (SELECT doc_id, bigram, count(*) AS k FROM bg GROUP BY 1, 2) " +
        "SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams, " +
        "round(-(CAST(sum(CAST(floor(CAST(k AS DOUBLE) * ln(p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000) / sum(k), 4) AS nll " +
        "FROM db JOIN p USING (bigram) GROUP BY 1"),
    "q197_chrf" ->
      // whitespace-stripped char n-grams n=1..3, clipped hits both ways,
      // F_(beta^2=4) per n from 6-dp-rounded P/R pieces' formula in one
      // fixed parenthesization; chrf = mean of the ROUNDED per-n F
      ("WITH s0 AS (SELECT doc_id, replace(text, ' ', '') AS s FROM documents), " +
        "gr AS (SELECT doc_id, n, unnest(list_transform(generate_series(1, length(s) - n + 1), " +
        "i -> substr(s, i, n))) AS gram FROM s0 CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) " +
        "WHERE length(s) >= n), " +
        "cg AS (SELECT doc_id AS pair_id, n, gram, count(*) AS c FROM gr GROUP BY 1, 2, 3), " +
        "rg AS (SELECT doc_id - 1 AS pair_id, n, gram, count(*) AS cr FROM gr GROUP BY 1, 2, 3), " +
        "totc AS (SELECT pair_id, n, sum(c) AS totc FROM cg GROUP BY 1, 2), " +
        "totr AS (SELECT pair_id, n, sum(cr) AS totr FROM rg GROUP BY 1, 2), " +
        "hits AS (SELECT cg.pair_id, cg.n, sum(least(c, cr)) AS hit " +
        "FROM cg JOIN rg ON rg.pair_id = cg.pair_id AND rg.n = cg.n AND rg.gram = cg.gram GROUP BY 1, 2), " +
        "pern AS (SELECT pair_id, n, CASE WHEN coalesce(hit, 0) > 0 THEN " +
        "round((CAST(5 AS DOUBLE) * (CAST(hit AS DOUBLE) / CAST(totc AS DOUBLE)) * (CAST(hit AS DOUBLE) / CAST(totr AS DOUBLE))) / " +
        "(CAST(4 AS DOUBLE) * (CAST(hit AS DOUBLE) / CAST(totc AS DOUBLE)) + (CAST(hit AS DOUBLE) / CAST(totr AS DOUBLE))), 6) " +
        "ELSE CAST(0 AS DOUBLE) END AS f " +
        "FROM totc JOIN totr USING (pair_id, n) LEFT JOIN hits USING (pair_id, n)), " +
        "pp AS (SELECT pair_id, max(CASE WHEN n = 1 THEN f END) AS f1, " +
        "max(CASE WHEN n = 2 THEN f END) AS f2, max(CASE WHEN n = 3 THEN f END) AS f3 " +
        "FROM pern GROUP BY 1) " +
        "SELECT pair_id, f1, f2, f3, CASE WHEN f1 IS NOT NULL AND f2 IS NOT NULL AND f3 IS NOT NULL " +
        "THEN round((f1 + f2 + f3) / CAST(3 AS DOUBLE), 6) END AS chrf FROM pp"),
    "q198_distinct_ngrams" ->
      // distinct token n-grams / total n-grams per source, n=1..3;
      // distinct counted over the pre-grouped gram table (no expand)
      ("WITH d AS (SELECT source, string_split(text, ' ') AS tk FROM documents), " +
        "g AS (SELECT source, n, unnest(list_transform(generate_series(1, len(tk) - n + 1), " +
        "i -> array_to_string(tk[i:i+n-1], ' '))) AS gram FROM d CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) " +
        "WHERE len(tk) >= n), " +
        "gc AS (SELECT source, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3), " +
        "cnt AS (SELECT source, n, CAST(sum(c) AS BIGINT) AS total, count(*) AS dn FROM gc GROUP BY 1, 2) " +
        "SELECT source, max(CASE WHEN n = 1 THEN total END) AS n_tokens, " +
        "round(CAST(max(CASE WHEN n = 1 THEN dn END) AS DOUBLE) / CAST(max(CASE WHEN n = 1 THEN total END) AS DOUBLE), 6) AS d1, " +
        "round(CAST(max(CASE WHEN n = 2 THEN dn END) AS DOUBLE) / CAST(max(CASE WHEN n = 2 THEN total END) AS DOUBLE), 6) AS d2, " +
        "round(CAST(max(CASE WHEN n = 3 THEN dn END) AS DOUBLE) / CAST(max(CASE WHEN n = 3 THEN total END) AS DOUBLE), 6) AS d3 " +
        "FROM cnt GROUP BY 1"),
    "q199_blocklist_gate" ->
      // exact token membership, integer-only flag decision
      // (nh >= 3 OR nh*20 >= nt), per-source rollup
      ("WITH m AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt, " +
        "CAST(len(list_filter(string_split(text, ' '), tok -> tok IN ('slow', 'dup', 'junk'))) AS BIGINT) AS nh " +
        "FROM documents), " +
        "f AS (SELECT source, nt, nh, CASE WHEN nh >= 3 OR nh * 20 >= nt THEN 1 ELSE 0 END AS fl FROM m) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(fl) AS BIGINT) AS n_flagged, " +
        "round(CAST(sum(fl) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS flag_rate, " +
        "CAST(sum(nh) AS BIGINT) AS n_hits, " +
        "CASE WHEN sum(nt) > 0 THEN round(CAST(sum(nh) AS DOUBLE) * 1000 / CAST(sum(nt) AS DOUBLE), 4) END AS hits_per_ktok " +
        "FROM f GROUP BY 1"),
    "q200_unigram_segment" ->
      // identical integer Viterbi: substring bit-costs len(bin(T//f)),
      // packed cost*64+pieces state, recursive CTE advancing one char
      // per iteration with a maxPiece-wide carried window
      ("WITH RECURSIVE doc AS (SELECT doc_id, substr(text, 1, 48) AS s, " +
        "length(substr(text, 1, 48)) AS L FROM documents WHERE length(text) >= 1), " +
        "sub AS (SELECT unnest(list_transform(generate_series(1, length(text) - l + 1), " +
        "i -> substr(text, i, l))) AS piece FROM documents CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS l) " +
        "WHERE length(text) >= l), " +
        "voc AS (SELECT piece, count(*) AS f FROM sub GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(f) AS BIGINT) AS T FROM voc), " +
        "cost AS (SELECT piece, CAST(length(bin(T // f)) AS BIGINT) AS c FROM voc CROSS JOIN tt), " +
        "pr AS (SELECT d.doc_id, t.ii AS i, ls.l, substr(d.s, t.ii - ls.l + 1, ls.l) AS piece " +
        "FROM doc d, (SELECT unnest([1, 2, 3, 4]) AS l) ls, " +
        "unnest(generate_series(ls.l, d.L)) AS t(ii)), " +
        "cr AS (SELECT pr.doc_id, pr.i, pr.l, cost.c FROM pr JOIN cost USING (piece)), " +
        "cp AS (SELECT doc_id, i, " +
        "max(CASE WHEN l = 1 THEN c END) AS c1, max(CASE WHEN l = 2 THEN c END) AS c2, " +
        "max(CASE WHEN l = 3 THEN c END) AS c3, max(CASE WHEN l = 4 THEN c END) AS c4 " +
        "FROM cr GROUP BY 1, 2), " +
        "st AS (SELECT doc_id, 0 AS i, CAST(1000000000000 AS BIGINT) AS b0, " +
        "CAST(1000000000000 AS BIGINT) AS b1, CAST(1000000000000 AS BIGINT) AS b2, " +
        "CAST(0 AS BIGINT) AS b3 FROM doc " +
        "UNION ALL SELECT r.doc_id, r.i + 1, r.b1, r.b2, r.b3, " +
        "least(r.b3 + coalesce(c.c1, 1000000000000) * 64 + 1, " +
        "r.b2 + coalesce(c.c2, 1000000000000) * 64 + 1, " +
        "r.b1 + coalesce(c.c3, 1000000000000) * 64 + 1, " +
        "r.b0 + coalesce(c.c4, 1000000000000) * 64 + 1) AS b3 " +
        "FROM st r JOIN cp c ON c.doc_id = r.doc_id AND c.i = r.i + 1) " +
        "SELECT d.doc_id, CAST(d.L AS BIGINT) AS n_chars, " +
        "CAST(s.b3 // 64 AS BIGINT) AS cost_bits, CAST(s.b3 % 64 AS BIGINT) AS n_pieces " +
        "FROM st s JOIN doc d ON d.doc_id = s.doc_id AND s.i = d.L"),
    "q201_logreg_distill" ->
      // identical trajectory: q127's keep as the label, md5 % 32
      // hashed features, step-1 gradient exact halves, step-2 via
      // snapped margins/gradient, per-step 1e6-snapped weights
      (s"WITH $gopherStatsCte, " +
        s"y AS (SELECT doc_id, CASE WHEN $gopherKeepPred THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y FROM m), " +
        "x AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 32 AS bucket, " +
        "CAST(count(*) AS DOUBLE) AS x FROM (SELECT doc_id, unnest(tk) AS tok FROM s) GROUP BY 1, 2), " +
        "nn AS (SELECT CAST(greatest(count(*), 1) AS DOUBLE) AS n FROM y), " +
        "g1 AS (SELECT bucket, sum(x * (y - CAST(0.5 AS DOUBLE))) AS g FROM x JOIN y USING (doc_id) GROUP BY 1), " +
        "w1 AS (SELECT bucket, floor((CAST(0.5 AS DOUBLE) * g / n) * 1000000 + 0.5) / CAST(1000000 AS DOUBLE) AS w1 " +
        "FROM g1 CROSS JOIN nn), " +
        "mg AS (SELECT doc_id, CAST(sum(CAST(floor(x * w1 * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS m " +
        "FROM x JOIN w1 USING (bucket) GROUP BY 1), " +
        "p AS (SELECT doc_id, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-m)) AS p FROM mg), " +
        "g2 AS (SELECT bucket, CAST(sum(CAST(floor(x * (y - p) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS g " +
        "FROM x JOIN y USING (doc_id) JOIN p USING (doc_id) GROUP BY 1), " +
        "w2 AS (SELECT g2.bucket, floor((w1 + CAST(0.5 AS DOUBLE) * g / n) * 1000000 + 0.5) / CAST(1000000 AS DOUBLE) AS w2 " +
        "FROM g2 JOIN w1 USING (bucket) CROSS JOIN nn) " +
        "SELECT w1.bucket, w1, w2 FROM w1 JOIN w2 USING (bucket)"),
    "q202_pca_power" ->
      // identical trajectory: v0 = 1/sqrt(d) (correctly-rounded IEEE),
      // per-row dots as left-to-right list folds, accumulations
      // 1e9-snapped, per-iteration coordinates 1e6-snapped
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "d0 AS (SELECT CAST(1 AS DOUBLE) / sqrt(CAST(len(e) AS DOUBLE)) AS v0 FROM v LIMIT 1), " +
        "s1 AS (SELECT vec_id, e, list_sum(list_transform(e, x -> x * v0)) AS s FROM v CROSS JOIN d0), " +
        "u1 AS (SELECT pos, CAST(sum(CAST(floor(xv * s * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS u " +
        "FROM (SELECT s, unnest(e) AS xv, generate_subscripts(e, 1) AS pos FROM s1) GROUP BY 1), " +
        "n1 AS (SELECT sqrt(list_sum(list_transform(list(u ORDER BY pos), x -> x * x))) AS nrm FROM u1), " +
        "w1 AS (SELECT list(floor(u / nrm * 1000000 + 0.5) / CAST(1000000 AS DOUBLE) ORDER BY pos) AS wl FROM u1 CROSS JOIN n1), " +
        "s2 AS (SELECT vec_id, e, list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * wl[i])) AS s FROM v CROSS JOIN w1), " +
        "u2 AS (SELECT pos, CAST(sum(CAST(floor(xv * s * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS u " +
        "FROM (SELECT s, unnest(e) AS xv, generate_subscripts(e, 1) AS pos FROM s2) GROUP BY 1), " +
        "n2 AS (SELECT sqrt(list_sum(list_transform(list(u ORDER BY pos), x -> x * x))) AS nrm FROM u2), " +
        "w2 AS (SELECT list(floor(u / nrm * 1000000 + 0.5) / CAST(1000000 AS DOUBLE) ORDER BY pos) AS wl FROM u2 CROSS JOIN n2) " +
        "SELECT vec_id, round(list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * wl[i])), 4) AS pc1 " +
        "FROM v CROSS JOIN w2"),
    "q203_kmv_sketch" ->
      // identical 60-bit md5 hashes, k = 64 smallest per group +
      // __union row, est = 63·2^60/h_k; below-k groups report exact
      ("WITH e AS (SELECT event_type AS grp, " +
        "CAST(('0x' || substr(md5(user_id || '|' || strftime(ts, '%Y-%m-%d')), 1, 15)) AS BIGINT) AS h FROM events), " +
        "d AS (SELECT DISTINCT grp, h FROM e), " +
        "a AS (SELECT * FROM d UNION ALL SELECT DISTINCT '__union' AS grp, h FROM d), " +
        "r AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM a), " +
        "kth AS (SELECT grp, max(CASE WHEN rn = 64 THEN h END) AS kth FROM r WHERE rn <= 64 GROUP BY 1), " +
        "cnt AS (SELECT grp, count(*) AS n_exact FROM a GROUP BY 1) " +
        "SELECT cnt.grp, CAST(n_exact AS BIGINT) AS n_exact, kth, " +
        "CASE WHEN kth IS NOT NULL THEN round((CAST(63 AS DOUBLE) * 1152921504606846976) / CAST(kth AS DOUBLE), 4) " +
        "ELSE CAST(n_exact AS DOUBLE) END AS est " +
        "FROM cnt JOIN kth USING (grp)"),
    "q204_pass_at_k" ->
      // q127's keep as the pass bit, 8-doc problems, the unbiased
      // 1 − Π (n−c−i)/(n−i) product in the same fixed order
      (s"WITH $gopherStatsCte, " +
        "g AS (SELECT doc_id // 8 AS problem_id, " +
        s"CASE WHEN $gopherKeepPred THEN 1 ELSE 0 END AS p FROM m), " +
        "a AS (SELECT problem_id, count(*) AS n, CAST(sum(p) AS BIGINT) AS c FROM g GROUP BY 1) " +
        "SELECT problem_id, n, c, " +
        "CASE WHEN n < 1 THEN NULL WHEN c > n - 1 THEN CAST(1 AS DOUBLE) " +
        "ELSE round(CAST(1 AS DOUBLE) - (CAST(n - c - 0 AS DOUBLE) / CAST(n - 0 AS DOUBLE)), 6) END AS pass1, " +
        "CASE WHEN n < 2 THEN NULL WHEN c > n - 2 THEN CAST(1 AS DOUBLE) " +
        "ELSE round(CAST(1 AS DOUBLE) - (CAST(n - c - 0 AS DOUBLE) / CAST(n - 0 AS DOUBLE)) * " +
        "(CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)), 6) END AS pass2, " +
        "CASE WHEN n < 4 THEN NULL WHEN c > n - 4 THEN CAST(1 AS DOUBLE) " +
        "ELSE round(CAST(1 AS DOUBLE) - (CAST(n - c - 0 AS DOUBLE) / CAST(n - 0 AS DOUBLE)) * " +
        "(CAST(n - c - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)) * " +
        "(CAST(n - c - 2 AS DOUBLE) / CAST(n - 2 AS DOUBLE)) * " +
        "(CAST(n - c - 3 AS DOUBLE) / CAST(n - 3 AS DOUBLE)), 6) END AS pass4 " +
        "FROM a"),
    "q205_wilson_ci" ->
      // Wilson score interval over exact integer counts, z = 1.96,
      // one fixed parenthesization; q127's keep as the success bit
      (s"WITH $gopherStatsCte, " +
        s"f AS (SELECT doc_id, CASE WHEN $gopherKeepPred THEN 1 ELSE 0 END AS ok FROM m), " +
        "a AS (SELECT source, count(*) AS n_rows, CAST(sum(ok) AS BIGINT) AS n_pass " +
        "FROM documents JOIN f USING (doc_id) GROUP BY 1), " +
        "b AS (SELECT source, n_rows, n_pass, " +
        "CAST(n_pass AS DOUBLE) / CAST(n_rows AS DOUBLE) AS ph, " +
        "CAST(n_rows AS DOUBLE) AS n, CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2 FROM a), " +
        "c AS (SELECT source, n_rows, n_pass, ph, " +
        "(ph + z2 / (n * CAST(2 AS DOUBLE))) / (CAST(1 AS DOUBLE) + z2 / n) AS center, " +
        "(CAST(1.96 AS DOUBLE) / (CAST(1 AS DOUBLE) + z2 / n)) * " +
        "sqrt(ph * (CAST(1 AS DOUBLE) - ph) / n + z2 / (n * n * CAST(4 AS DOUBLE))) AS half FROM b) " +
        "SELECT source, n_rows, n_pass, round(ph, 6) AS rate, " +
        "round(center - half, 6) AS lo, round(center + half, 6) AS hi FROM c"),
    "q206_chao1" ->
      // counts-of-counts over per-source bigram types; chao1 =
      // D + F1(F1-1)/(2(F2+1)), all-integer inputs
      ("WITH d0 AS (SELECT source, string_split(text, ' ') AS tk FROM documents), " +
        "g AS (SELECT source, unnest(CASE WHEN len(tk) >= 2 THEN " +
        "list_transform(generate_series(1, len(tk) - 1), i -> array_to_string(tk[i:i+1], ' ')) " +
        "ELSE []::VARCHAR[] END) AS gram FROM d0), " +
        "k AS (SELECT source, gram, count(*) AS k FROM g GROUP BY 1, 2), " +
        "a AS (SELECT source, count(*) AS d, " +
        "CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1, " +
        "CAST(sum(CASE WHEN k = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2 FROM k GROUP BY 1) " +
        "SELECT source, d, f1, f2, " +
        "round(CAST(d AS DOUBLE) + (CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)) / CAST(2 * (f2 + 1) AS DOUBLE), 4) AS chao1 " +
        "FROM a"),
    "q207_jm_lambda" ->
      // identical EM trajectory: train on even docs, E-step posterior
      // w = lam*pb / (lam*pb + (1-lam)*pu) over the held-out bigram
      // events, snapped num at 1e9, lam snapped at 1e6 per iteration
      ("WITH tr AS (SELECT string_split(text, ' ') AS tk FROM documents WHERE doc_id % 2 = 0), " +
        "ho AS (SELECT string_split(text, ' ') AS tk FROM documents WHERE doc_id % 2 <> 0), " +
        "uni AS (SELECT tok, count(*) AS uc FROM (SELECT unnest(tk) AS tok FROM tr) GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(uc) AS DOUBLE) AS t FROM uni), " +
        "big AS (SELECT bigram, count(*) AS bc FROM (SELECT array_to_string(tk[i:i+1], ' ') AS bigram " +
        "FROM tr, unnest(generate_series(1, len(tk) - 1)) AS s1(i) WHERE len(tk) >= 2) GROUP BY 1), " +
        "ctx AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(bc) AS ctx FROM big GROUP BY 1), " +
        "hb AS (SELECT bigram, count(*) AS k FROM (SELECT array_to_string(tk[i:i+1], ' ') AS bigram " +
        "FROM ho, unnest(generate_series(1, len(tk) - 1)) AS s2(i) WHERE len(tk) >= 2) GROUP BY 1), " +
        "ev AS (SELECT k, coalesce(CAST(bc AS DOUBLE) / CAST(ctx AS DOUBLE), CAST(0 AS DOUBLE)) AS pb, " +
        "CAST(uc AS DOUBLE) / t AS pu FROM hb " +
        "JOIN uni ON uni.tok = string_split(bigram, ' ')[2] " +
        "LEFT JOIN big USING (bigram) " +
        "LEFT JOIN ctx ON ctx.w1 = string_split(bigram, ' ')[1] CROSS JOIN tt), " +
        "l1 AS (SELECT floor(CAST(sum(CAST(floor(CAST(k AS DOUBLE) * " +
        "((CAST(0.5 AS DOUBLE) * pb) / (CAST(0.5 AS DOUBLE) * pb + CAST(0.5 AS DOUBLE) * pu)) " +
        "* 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 / CAST(sum(k) AS DOUBLE) " +
        "* 1000000 + 0.5) / CAST(1000000 AS DOUBLE) AS lam FROM ev), " +
        "l2 AS (SELECT floor(CAST(sum(CAST(floor(CAST(k AS DOUBLE) * " +
        "((lam * pb) / (lam * pb + (CAST(1 AS DOUBLE) - lam) * pu)) " +
        "* 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 / CAST(sum(k) AS DOUBLE) " +
        "* 1000000 + 0.5) / CAST(1000000 AS DOUBLE) AS lam2 FROM ev CROSS JOIN l1) " +
        "SELECT CAST((SELECT sum(k) FROM ev) AS BIGINT) AS n_events, " +
        "l1.lam AS lambda1, l2.lam2 AS lambda2 FROM l1 CROSS JOIN l2"),
    "q208_srm_check" ->
      // 50/50 two-cell chi-square collapses to (n_a-n_b)^2/(n_a+n_b);
      // arm = q42 md5 bucket < 50, distinct (type, user) exposure
      ("WITH u AS (SELECT DISTINCT event_type, user_id, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS a FROM events), " +
        "c AS (SELECT event_type, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM u GROUP BY 1) " +
        "SELECT event_type, n_a, n_b, " +
        "round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / CAST(n_a + n_b AS DOUBLE), 6) AS chi2, " +
        "CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) > CAST(3.841 AS DOUBLE) AS srm " +
        "FROM c"),
    "q209_heaps_fit" ->
      // powers-of-two checkpoints over pos = doc_id + 1; V(2^j) by
      // cumulative first-occurrence counts; snapped 1e9 Σ + the q119
      // closed-form log-log OLS
      ("WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "f AS (SELECT term, min(doc_id) AS fd FROM tf GROUP BY 1), " +
        "jj AS (SELECT CAST(ceil(log2(CAST(fd AS DOUBLE) + CAST(1 AS DOUBLE))) AS INT) AS j, count(*) AS c FROM f GROUP BY 1), " +
        "nn AS (SELECT CAST(ceil(log2(CAST(max(doc_id) + 1 AS DOUBLE))) AS INT) AS jmax FROM documents), " +
        "grid AS (SELECT CAST(g.i AS INT) AS j FROM generate_series(0, 40) AS g(i), nn WHERE g.i <= jmax), " +
        "v AS (SELECT j, sum(coalesce(c, 0)) OVER (ORDER BY j) AS v FROM grid LEFT JOIN jj USING (j)), " +
        "pts AS (SELECT CAST(pow(CAST(2 AS DOUBLE), CAST(j AS DOUBLE)) AS BIGINT) AS n, CAST(v AS BIGINT) AS v, " +
        "ln(pow(CAST(2 AS DOUBLE), CAST(j AS DOUBLE))) AS x, ln(CAST(v AS DOUBLE)) AS y FROM v WHERE v > 0), " +
        "s AS (SELECT count(*) AS k, " +
        "CAST(sum(CAST(floor(x * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sx, " +
        "CAST(sum(CAST(floor(y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy, " +
        "CAST(sum(CAST(floor(x * x * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxx, " +
        "CAST(sum(CAST(floor(x * y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxy " +
        "FROM pts) " +
        "SELECT n, v, " +
        "round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS beta, " +
        "round((sy - ((k * sxy - sx * sy) / (k * sxx - sx * sx)) * sx) / k, 6) AS lnk " +
        "FROM pts CROSS JOIN s"),
    "q210_fleiss_kappa" ->
      // three binary raters (gopher keep / length band / lang = en);
      // all formula inputs exact integer counts, NULL kappa when
      // chance agreement saturates
      (s"WITH $gopherStatsCte, " +
        s"c AS (SELECT (CASE WHEN $gopherKeepPred THEN 1 ELSE 0 END) + " +
        "(CASE WHEN d.n_chars BETWEEN 100 AND 600 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS c1 " +
        "FROM m JOIN documents d USING (doc_id)), " +
        "a AS (SELECT count(*) AS n_items, CAST(sum(c1) AS BIGINT) AS tot1, " +
        "CAST(sum(c1 * (c1 - 1) + (3 - c1) * (3 - c1 - 1)) AS BIGINT) AS agree FROM c) " +
        "SELECT n_items, " +
        "round(CAST(agree AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(6 AS DOUBLE)), 6) AS p_bar, " +
        "round((CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) * (CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) + " +
        "(CAST(1 AS DOUBLE) - CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) * (CAST(1 AS DOUBLE) - CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))), 6) AS p_e, " +
        "CASE WHEN (CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) * (CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) + " +
        "(CAST(1 AS DOUBLE) - CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) * (CAST(1 AS DOUBLE) - CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) < CAST(1 AS DOUBLE) " +
        "THEN round((CAST(agree AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(6 AS DOUBLE)) - " +
        "((CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) * (CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) + " +
        "(CAST(1 AS DOUBLE) - CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) * (CAST(1 AS DOUBLE) - CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))))) / " +
        "(CAST(1 AS DOUBLE) - ((CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) * (CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) + " +
        "(CAST(1 AS DOUBLE) - CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))) * (CAST(1 AS DOUBLE) - CAST(tot1 AS DOUBLE) / (CAST(n_items AS DOUBLE) * CAST(3 AS DOUBLE))))), 6) END AS kappa " +
        "FROM a"),
    "q211_ab_sizing" ->
      // two-proportion sizing n = ceil((za+zb)^2 * 2p(1-p) / d^2);
      // exposure = event, any-converted collapse, fixed literals
      ("WITH u AS (SELECT event_type, event_id, " +
        "max(CASE WHEN value > CAST(50 AS DOUBLE) THEN 1 ELSE 0 END) AS c FROM events GROUP BY 1, 2), " +
        "a AS (SELECT event_type, count(*) AS n_units, CAST(sum(c) AS BIGINT) AS n_conv FROM u GROUP BY 1), " +
        "p AS (SELECT event_type, n_units, n_conv, CAST(n_conv AS DOUBLE) / CAST(n_units AS DOUBLE) AS ph FROM a) " +
        "SELECT event_type, n_units, n_conv, round(ph, 6) AS p_hat, " +
        "CAST(ceil((CAST(1.96 AS DOUBLE) + CAST(0.8416 AS DOUBLE)) * (CAST(1.96 AS DOUBLE) + CAST(0.8416 AS DOUBLE)) * CAST(2 AS DOUBLE) * ph * (CAST(1 AS DOUBLE) - ph) / " +
        "(CAST(0.02 AS DOUBLE) * CAST(0.02 AS DOUBLE))) AS BIGINT) AS n_per_arm " +
        "FROM p"),
    "q212_bh_fdr" ->
      // per-source two-proportion z vs the pooled rate, A&S 7.1.26
      // erfc p-values snapped to the 1e9 grid BEFORE the BH rank
      // comparisons, step-up k* via scalar windows
      (s"WITH $gopherStatsCte, " +
        s"kk AS (SELECT d.source, count(*) AS n_docs, CAST(sum(CASE WHEN $gopherKeepPred THEN 1 ELSE 0 END) AS BIGINT) AS n_keep " +
        "FROM m JOIN documents d USING (doc_id) GROUP BY 1), " +
        "gg AS (SELECT source, n_docs, n_keep, CAST(sum(n_docs) OVER () AS BIGINT) AS n, CAST(sum(n_keep) OVER () AS BIGINT) AS kall FROM kk), " +
        "st AS (SELECT source, n_docs, n_keep, " +
        "sqrt(CAST(kall AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(kall AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(1 AS DOUBLE) / CAST(n_docs AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(n AS DOUBLE))) AS se, " +
        "(CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) - CAST(kall AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        "sqrt(CAST(kall AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(kall AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(1 AS DOUBLE) / CAST(n_docs AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(n AS DOUBLE))) AS z FROM gg), " +
        "yy AS (SELECT *, abs(z) / sqrt(CAST(2 AS DOUBLE)) AS y FROM st), " +
        "tt AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * y) AS t FROM yy), " +
        "pv AS (SELECT *, floor(t * (CAST(0.254829592 AS DOUBLE) + t * (CAST(-0.284496736 AS DOUBLE) + t * (CAST(1.421413741 AS DOUBLE) + " +
        "t * (CAST(-1.453152027 AS DOUBLE) + t * CAST(1.061405429 AS DOUBLE))))) * exp(-(y * y)) " +
        "* CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000000 AS DOUBLE) AS praw FROM tt), " +
        "rr AS (SELECT source, n_docs, n_keep, round(z, 4) AS z, CASE WHEN se > CAST(0 AS DOUBLE) THEN praw END AS p FROM pv), " +
        "bh AS (SELECT source, p, row_number() OVER (ORDER BY p, source) AS rnk, count(p) OVER () AS mm FROM rr), " +
        "ok AS (SELECT *, CASE WHEN p <= CAST(rnk AS DOUBLE) * CAST(0.1 AS DOUBLE) / CAST(mm AS DOUBLE) THEN rnk END AS okr FROM bh), " +
        "ks AS (SELECT *, coalesce(max(okr) OVER (), 0) AS kstar FROM ok) " +
        "SELECT r.source, r.n_docs, r.n_keep, r.z, round(k.p, 6) AS p_value, " +
        "CAST(k.rnk AS BIGINT) AS rnk, k.rnk <= k.kstar AS reject " +
        "FROM rr r JOIN ks k USING (source)"),
    "q213_concentration" ->
      // exact-integer Gini numerators via the sorted-rank identity;
      // HHI / entropy as 1e9-snapped share sums
      ("WITH x AS (SELECT source AS grp, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS x FROM documents GROUP BY 1), " +
        "r AS (SELECT grp, x, row_number() OVER (ORDER BY x, grp) AS i, CAST(sum(x) OVER () AS BIGINT) AS tot FROM x), " +
        "a AS (SELECT count(*) AS n, CAST(max(tot) AS BIGINT) AS total, CAST(sum(i * x) AS BIGINT) AS six, " +
        "CAST(sum(CAST(floor((CAST(x AS DOUBLE) / CAST(tot AS DOUBLE)) * (CAST(x AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS hhi, " +
        "CAST(sum(CAST(floor((-(CAST(x AS DOUBLE) / CAST(tot AS DOUBLE))) * ln(CAST(x AS DOUBLE) / CAST(tot AS DOUBLE)) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS ent, " +
        "max(CAST(x AS DOUBLE) / CAST(tot AS DOUBLE)) AS top FROM r) " +
        "SELECT n AS n_groups, total, " +
        "round(CAST(six AS DOUBLE) * CAST(2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)) - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS gini, " +
        "round(hhi, 6) AS hhi, round(ent, 6) AS entropy, round(top, 6) AS top_share " +
        "FROM a"),
    "q214_brier" ->
      // the q169 confidence stanza, then Murphy 1973: per-bin exact
      // outcome rates + snapped forecast means, scalar second pass
      (nbConfCte +
        ", bb AS (SELECT least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin, conf, ok FROM okt), " +
        "pb AS (SELECT bin, count(*) AS nk, CAST(sum(ok) AS BIGINT) AS okk, " +
        "CAST(sum(CAST(floor(conf * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS confsum, " +
        "CAST(sum(CAST(floor((conf - CASE WHEN ok = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * " +
        "(conf - CASE WHEN ok = 1 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sqerr " +
        "FROM bb GROUP BY 1), " +
        "a AS (SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(okk) AS BIGINT) AS tot_ok, " +
        "CAST(sum(CAST(floor(sqerr * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS se, " +
        "CAST(sum(CAST(floor(CAST(nk AS DOUBLE) * (confsum / CAST(nk AS DOUBLE) - CAST(okk AS DOUBLE) / CAST(nk AS DOUBLE)) * " +
        "(confsum / CAST(nk AS DOUBLE) - CAST(okk AS DOUBLE) / CAST(nk AS DOUBLE)) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS rel, " +
        "CAST(sum(CAST(floor(CAST(nk AS DOUBLE) * (CAST(okk AS DOUBLE) / CAST(nk AS DOUBLE)) * (CAST(okk AS DOUBLE) / CAST(nk AS DOUBLE)) " +
        "* 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS reso2 FROM pb) " +
        "SELECT n, round(CAST(tot_ok AS DOUBLE) / CAST(n AS DOUBLE), 6) AS o_bar, " +
        "round(se / CAST(n AS DOUBLE), 6) AS brier, " +
        "round(rel / CAST(n AS DOUBLE), 6) AS reliability, " +
        "round((reso2 - CAST(n AS DOUBLE) * (CAST(tot_ok AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(tot_ok AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(n AS DOUBLE), 6) AS resolution, " +
        "round((CAST(tot_ok AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(1 AS DOUBLE) - CAST(tot_ok AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS uncertainty " +
        "FROM a"),
    "q215_cusum" ->
      // S_t = C_t − min(0, prefix-min C) with C the running sum of
      // 1e9-snapped INTEGER deviations (window engines may
      // re-associate double partials — the q99 decimal lesson)
      ("WITH dd AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), " +
        "m1 AS (SELECT event_type, day, n, CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) / " +
        "CAST(count(*) OVER (PARTITION BY event_type) AS DOUBLE) AS mu FROM dd), " +
        "d1 AS (SELECT *, CAST(floor((CAST(n AS DOUBLE) - mu * CAST(1.1 AS DOUBLE)) * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS di FROM m1), " +
        "c1 AS (SELECT *, CAST(sum(di) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c FROM d1), " +
        "c2 AS (SELECT *, CAST(min(c) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m FROM c1), " +
        "c3 AS (SELECT event_type, day, n, mu, c - least(m, 0) AS s FROM c2) " +
        "SELECT event_type, day, n AS n_events, " +
        "round(CAST(s AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6) AS cusum, " +
        "CAST(s AS DOUBLE) / CAST(1000000000 AS DOUBLE) > mu * CAST(0.5 AS DOUBLE) AS alarm " +
        "FROM c3"),
    "q216_event_funnel" ->
      // stage k = a stage-k event strictly after the unit's first
      // stage-(k−1) arrival; one min-timestamp per (user, stage),
      // never an event list
      ("WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.u " +
        "WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1), " +
        "s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.u " +
        "WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1), " +
        "c AS (SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage, count(*) AS n_units FROM s1 " +
        "UNION ALL SELECT CAST(2 AS BIGINT), 'click', count(*) FROM s2 " +
        "UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM s3) " +
        "SELECT stage_idx, stage, n_units, " +
        "round(CAST(n_units AS DOUBLE) / CAST(lag(n_units) OVER (ORDER BY stage_idx) AS DOUBLE), 6) AS conv_prev, " +
        "round(CAST(n_units AS DOUBLE) / CAST(first_value(n_units) OVER (ORDER BY stage_idx) AS DOUBLE), 6) AS conv_first " +
        "FROM c"),
    "q217_mann_whitney" ->
      // exact integer doubled rank sums over the distinct-value grid
      // (2·rankavg = 2(cum−n) + n + 1), tie-corrected variance,
      // A&S 7.1.26 erfc p; arm = the q208 md5 hash bucket
      ("WITH b AS (SELECT event_type AS grp, value AS v, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS a FROM events), " +
        "c AS (SELECT grp, v, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb FROM b GROUP BY 1, 2), " +
        "r AS (SELECT *, na + nb AS n, CAST(sum(na + nb) OVER (PARTITION BY grp ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM c), " +
        "s AS (SELECT grp, CAST(sum(na) AS BIGINT) AS na_tot, CAST(sum(nb) AS BIGINT) AS nb_tot, " +
        "CAST(sum(na * (2 * (cum - n) + n + 1)) AS BIGINT) AS r2a, " +
        "CAST(sum(n * n * n - n) AS BIGINT) AS ties FROM r GROUP BY 1), " +
        "t0 AS (SELECT grp, na_tot, nb_tot, r2a - na_tot * (na_tot + 1) AS u2, " +
        "CAST(na_tot AS DOUBLE) AS nad, CAST(nb_tot AS DOUBLE) AS nbd, " +
        "CAST(na_tot + nb_tot AS DOUBLE) AS nd, CAST(ties AS DOUBLE) AS tiesd FROM s), " +
        "t1 AS (SELECT *, nad * nbd / CAST(12 AS DOUBLE) * ((nd + CAST(1 AS DOUBLE)) - tiesd / (nd * (nd - CAST(1 AS DOUBLE)))) AS variance FROM t0), " +
        "t2 AS (SELECT *, CASE WHEN variance > CAST(0 AS DOUBLE) THEN " +
        "(CAST(u2 AS DOUBLE) - nad * nbd) / CAST(2 AS DOUBLE) / sqrt(variance) END AS z FROM t1), " +
        "yy AS (SELECT *, abs(z) / sqrt(CAST(2 AS DOUBLE)) AS y FROM t2), " +
        "tt AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * y) AS t FROM yy) " +
        "SELECT grp AS event_type, na_tot AS n_a, nb_tot AS n_b, " +
        "CAST(u2 AS DOUBLE) / CAST(2 AS DOUBLE) AS u, round(z, 4) AS z, " +
        "round(t * (CAST(0.254829592 AS DOUBLE) + t * (CAST(-0.284496736 AS DOUBLE) + t * (CAST(1.421413741 AS DOUBLE) + " +
        "t * (CAST(-1.453152027 AS DOUBLE) + t * CAST(1.061405429 AS DOUBLE))))) * exp(-(y * y)), 6) AS p_value " +
        "FROM tt"),
    "q218_ewma" ->
      // z_t = r^t·μ + λ·Σ_{j≤t} r^{t−j}·x_j over the day grid: each z_t
      // its own 1e9-snapped weighted sum (the grid self-join is
      // calendar-bounded); r replayed as the same IEEE subtraction
      ("WITH dd AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), " +
        "ix AS (SELECT event_type, day, CAST(n AS DOUBLE) AS x, " +
        "CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i FROM dd), " +
        "rr AS (SELECT CAST(1.0 AS DOUBLE) - CAST(0.2 AS DOUBLE) AS r, " +
        "CAST(0.2 AS DOUBLE) / (CAST(2.0 AS DOUBLE) - CAST(0.2 AS DOUBLE)) AS lf), " +
        "st AS (SELECT event_type, sum(x) / CAST(count(*) AS DOUBLE) AS mu, " +
        "CASE WHEN count(*) > 1 THEN sqrt((sum(x * x) - sum(x) * sum(x) / CAST(count(*) AS DOUBLE)) / CAST(count(*) - 1 AS DOUBLE)) " +
        "ELSE CAST(0.0 AS DOUBLE) END AS sigma FROM ix GROUP BY 1), " +
        "zt AS (SELECT a.event_type, a.day, a.x, a.i, " +
        "CAST(sum(CAST(floor(CAST(0.2 AS DOUBLE) * power(r, CAST(a.i - b.i AS DOUBLE)) * b.x " +
        "* 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS zsum " +
        "FROM ix a JOIN ix b ON b.event_type = a.event_type AND b.i <= a.i CROSS JOIN rr GROUP BY 1, 2, 3, 4), " +
        "o AS (SELECT zt.event_type, day, x, " +
        "round(power(r, CAST(i AS DOUBLE)) * mu + zsum, 6) AS ewma, " +
        "round(mu - CAST(3.0 AS DOUBLE) * sigma * sqrt(lf * (CAST(1.0 AS DOUBLE) - power(r, CAST(i AS DOUBLE) * 2.0))), 6) AS lcl, " +
        "round(mu + CAST(3.0 AS DOUBLE) * sigma * sqrt(lf * (CAST(1.0 AS DOUBLE) - power(r, CAST(i AS DOUBLE) * 2.0))), 6) AS ucl " +
        "FROM zt JOIN st ON st.event_type = zt.event_type CROSS JOIN rr) " +
        "SELECT event_type, day, x AS n_events, ewma, lcl, ucl, " +
        "ewma < lcl OR ewma > ucl AS alarm FROM o"),
    "q219_chi2_drift" ->
      // per-source lang contingency between the even/odd halves:
      // χ² from exact cell counts (1e9-snapped term sum), Cramér's V,
      // Wilson–Hilferty cube-root normal p (the A&S erfc replay)
      ("WITH b AS (SELECT source, lang AS cat, CASE WHEN doc_id % 2 = 0 THEN 'e' ELSE 'a' END AS half FROM documents), " +
        "cnt AS (SELECT source, cat, CAST(sum(CASE WHEN half = 'e' THEN 1 ELSE 0 END) AS BIGINT) AS ce, " +
        "CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca FROM b GROUP BY 1, 2), " +
        "tot AS (SELECT source, CAST(sum(ce) AS BIGINT) AS te, CAST(sum(ca) AS BIGINT) AS ta, count(*) AS k FROM cnt GROUP BY 1), " +
        "tm AS (SELECT cnt.source, ce, ca, te, ta, k, " +
        "CAST(te AS DOUBLE) * CAST(ce + ca AS DOUBLE) / CAST(te + ta AS DOUBLE) AS ee, " +
        "CAST(ta AS DOUBLE) * CAST(ce + ca AS DOUBLE) / CAST(te + ta AS DOUBLE) AS ea " +
        "FROM cnt JOIN tot ON tot.source = cnt.source), " +
        "s AS (SELECT source, max(te) AS n_e, max(ta) AS n_a, max(k) - 1 AS df, " +
        "CAST(sum(CAST(floor(((CAST(ce AS DOUBLE) - ee) * (CAST(ce AS DOUBLE) - ee) / ee + " +
        "(CAST(ca AS DOUBLE) - ea) * (CAST(ca AS DOUBLE) - ea) / ea) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS chi2raw FROM tm GROUP BY 1), " +
        "z0 AS (SELECT *, (power(chi2raw / CAST(df AS DOUBLE), CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) - " +
        "(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / (CAST(9.0 AS DOUBLE) * CAST(df AS DOUBLE)))) / " +
        "sqrt(CAST(2.0 AS DOUBLE) / (CAST(9.0 AS DOUBLE) * CAST(df AS DOUBLE))) AS zwh, " +
        "n_e > 0 AND n_a > 0 AND df > 0 AS ok FROM s), " +
        "yy AS (SELECT *, abs(zwh) / sqrt(CAST(2 AS DOUBLE)) AS y FROM z0), " +
        "tt AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * y) AS t FROM yy), " +
        "pv AS (SELECT *, t * (CAST(0.254829592 AS DOUBLE) + t * (CAST(-0.284496736 AS DOUBLE) + t * (CAST(1.421413741 AS DOUBLE) + " +
        "t * (CAST(-1.453152027 AS DOUBLE) + t * CAST(1.061405429 AS DOUBLE))))) * exp(-(y * y)) AS p2 FROM tt) " +
        "SELECT source, n_e, n_a, CASE WHEN ok THEN df END AS df, " +
        "CASE WHEN ok THEN round(chi2raw, 6) END AS chi2, " +
        "CASE WHEN ok THEN round(sqrt(chi2raw / CAST(n_e + n_a AS DOUBLE)), 6) END AS cramers_v, " +
        "CASE WHEN ok THEN round(CASE WHEN zwh >= 0 THEN p2 / CAST(2.0 AS DOUBLE) " +
        "ELSE CAST(1.0 AS DOUBLE) - p2 / CAST(2.0 AS DOUBLE) END, 6) END AS p_value FROM pv"),
    "q220_jsd" ->
      // the q83 Laplace-smoothed shares, JSD form: with m = (p+q)/2,
      // term = (p·ln(p/m) + q·ln(q/m)) / 2 — symmetric, ≤ ln 2
      ("WITH o AS (SELECT lang AS stratum, count(*) AS n_old FROM documents " +
        "WHERE doc_id % 2 = 0 GROUP BY 1), " +
        "n AS (SELECT lang AS stratum, count(*) AS n_new FROM documents " +
        "WHERE doc_id % 2 = 1 GROUP BY 1), " +
        "j AS (SELECT coalesce(o.stratum, n.stratum) AS stratum, " +
        "coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new " +
        "FROM o FULL JOIN n ON o.stratum = n.stratum), " +
        "t AS (SELECT sum(n_old) AS t_old, sum(n_new) AS t_new, count(*) AS s FROM j), " +
        "pq AS (SELECT stratum, n_old, n_new, " +
        "round(n_old / t_old, 4) AS share_old, round(n_new / t_new, 4) AS share_new, " +
        "(n_old + 1.0) / (t_old + s) AS p, (n_new + 1.0) / (t_new + s) AS q " +
        "FROM j CROSS JOIN t) " +
        "SELECT stratum AS lang, n_old, n_new, share_old, share_new, " +
        "round((p * ln(p / ((p + q) / CAST(2.0 AS DOUBLE))) + " +
        "q * ln(q / ((p + q) / CAST(2.0 AS DOUBLE)))) / CAST(2.0 AS DOUBLE), 6) AS jsd_term FROM pq"),
    "q221_spearman" ->
      // Pearson over tie-averaged DOUBLED ranks (exact integers from
      // the per-group distinct-value grids, q217's 2·rankavg identity);
      // moments as exact HUGEINT sums cast once to double
      ("WITH b AS (SELECT event_type AS grp, epoch_us(ts) AS vx, value AS vy FROM events), " +
        "cx AS (SELECT grp, vx, count(*) AS n FROM b GROUP BY 1, 2), " +
        "rx AS (SELECT grp, vx, 2 * (CAST(sum(n) OVER (PARTITION BY grp ORDER BY vx " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n) + n + 1 AS r_x FROM cx), " +
        "cy AS (SELECT grp, vy, count(*) AS n FROM b GROUP BY 1, 2), " +
        "ry AS (SELECT grp, vy, 2 * (CAST(sum(n) OVER (PARTITION BY grp ORDER BY vy " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n) + n + 1 AS r_y FROM cy), " +
        "rows0 AS (SELECT b.grp, r_x, r_y FROM b " +
        "JOIN rx ON rx.grp = b.grp AND rx.vx = b.vx " +
        "JOIN ry ON ry.grp = b.grp AND ry.vy = b.vy), " +
        "s AS (SELECT grp, count(*) AS n_rows, " +
        "CAST(sum(CAST(r_x AS HUGEINT)) AS DOUBLE) AS sx, CAST(sum(CAST(r_y AS HUGEINT)) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(r_x AS HUGEINT) * r_x) AS DOUBLE) AS sxx, CAST(sum(CAST(r_y AS HUGEINT) * r_y) AS DOUBLE) AS syy, " +
        "CAST(sum(CAST(r_x AS HUGEINT) * r_y) AS DOUBLE) AS sxy FROM rows0 GROUP BY 1), " +
        "f AS (SELECT *, CAST(n_rows AS DOUBLE) AS nn, " +
        "sqrt((CAST(n_rows AS DOUBLE) * sxx - sx * sx) * (CAST(n_rows AS DOUBLE) * syy - sy * sy)) AS den FROM s) " +
        "SELECT grp AS event_type, n_rows, " +
        "CASE WHEN den > 0.0 THEN round((nn * sxy - sx * sy) / den, 6) END AS rho FROM f"),
    "q222_sprt" -> {
      // Wald boundaries baked as round-trip double literals (the same
      // driver doubles Spark compares against); per-day LLR terms snap
      // to 1e9 integers BEFORE the cumulative window (exact addition);
      // first crossing freezes the decision
      val up = math.log((1.0 - 0.05) / 0.05)
      val lo = math.log(0.05 / (1.0 - 0.05))
      "WITH dd AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day, count(*) AS n, " +
        "CAST(sum(CASE WHEN value > 35.0 THEN 1 ELSE 0 END) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "p AS (SELECT *, CAST(sum(c) OVER (PARTITION BY grp) AS DOUBLE) / " +
        "CAST(sum(n) OVER (PARTITION BY grp) AS DOUBLE) AS p0 FROM dd), " +
        "p1t AS (SELECT *, least(p0 * CAST(1.25 AS DOUBLE), CAST(0.999 AS DOUBLE)) AS p1, " +
        "p0 > 0.0 AND p0 < 1.0 AS ok FROM p), " +
        "ti AS (SELECT *, CASE WHEN ok THEN CAST(floor((CAST(c AS DOUBLE) * ln(p1 / p0) + " +
        "CAST(n - c AS DOUBLE) * ln((CAST(1.0 AS DOUBLE) - p1) / (CAST(1.0 AS DOUBLE) - p0))) " +
        "* 1000000000 + 0.5) AS BIGINT) ELSE 0 END AS ti FROM p1t), " +
        "cum AS (SELECT *, CASE WHEN ok THEN CAST(CAST(sum(ti) OVER (PARTITION BY grp ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE) / 1000000000 END AS llr FROM ti), " +
        s"fz AS (SELECT *, min(CASE WHEN llr >= CAST($up AS DOUBLE) THEN day END) OVER (PARTITION BY grp) AS fu, " +
        s"min(CASE WHEN llr <= CAST($lo AS DOUBLE) THEN day END) OVER (PARTITION BY grp) AS fl FROM cum) " +
        "SELECT grp AS event_type, day, n, c, round(llr, 6) AS llr, " +
        "CASE WHEN llr IS NULL THEN NULL " +
        "WHEN fu IS NOT NULL AND (fl IS NULL OR fu <= fl) AND day >= fu THEN 'accept_h1' " +
        "WHEN fl IS NOT NULL AND (fu IS NULL OR fl < fu) AND day >= fl THEN 'accept_h0' " +
        "ELSE 'continue' END AS decision FROM fz"
    },
    "q223_kfold_nb" ->
      // the q154 NB replay with a fold axis: all 5 models train in one
      // statement (counts over fold <> f), each doc scores against ITS
      // fold's model, 4-dp argmax with label-asc ties, per-fold rollup
      ("WITH folds AS (SELECT range AS f FROM range(5)), " +
        "tok AS (SELECT doc_id, lang AS lab, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "dt AS (SELECT doc_id, doc_id % 5 AS fold, lab, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3, 4), " +
        "ct AS (SELECT f, lab, term, sum(tf) AS ctf FROM dt CROSS JOIN folds WHERE fold <> f GROUP BY 1, 2, 3), " +
        "vv AS (SELECT f, count(DISTINCT term) AS v FROM ct GROUP BY 1), " +
        "cs AS (SELECT f, lab, sum(ctf) AS ctot FROM ct GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, lang AS lab, doc_id % 5 AS fold FROM documents), " +
        "pr AS (SELECT f, lab, count(*) AS nd FROM dl CROSS JOIN folds WHERE fold <> f GROUP BY 1, 2), " +
        "nt AS (SELECT f, sum(nd) AS ntot FROM pr GROUP BY 1), " +
        "ls AS (SELECT cs.f, cs.lab AS clab, " +
        "ln(CAST(nd AS DOUBLE) / CAST(ntot AS DOUBLE)) AS prior_ln, " +
        "ln(1.0 / CAST(ctot + v AS DOUBLE)) AS lp0 " +
        "FROM cs JOIN pr ON pr.f = cs.f AND pr.lab = cs.lab " +
        "JOIN nt ON nt.f = cs.f JOIN vv ON vv.f = cs.f), " +
        "seen AS (SELECT dt.fold AS f, dt.doc_id, ct.lab AS clab, " +
        "CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(CAST(ctf + 1 AS DOUBLE)) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s1 " +
        "FROM dt JOIN ct ON ct.f = dt.fold AND ct.term = dt.term GROUP BY 1, 2, 3), " +
        "dn AS (SELECT fold AS f, doc_id, lab, sum(tf) AS n_tok FROM dt GROUP BY 1, 2, 3), " +
        "sc AS (SELECT dn.f, dn.doc_id, dn.lab, ls.clab, " +
        "round(prior_ln + CAST(n_tok AS DOUBLE) * lp0 + coalesce(s1, 0.0), 4) AS score " +
        "FROM dn JOIN ls ON ls.f = dn.f " +
        "LEFT JOIN seen ON seen.f = dn.f AND seen.doc_id = dn.doc_id AND seen.clab = ls.clab), " +
        "best AS (SELECT f, doc_id, lab, clab FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY f, doc_id ORDER BY score DESC, clab) AS rn FROM sc) WHERE rn = 1) " +
        "SELECT CAST(f AS BIGINT) AS fold, count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN clab = lab THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, " +
        "round(CAST(sum(CASE WHEN clab = lab THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS accuracy " +
        "FROM best GROUP BY 1"),
    "q224_dirichlet_ql" ->
      // Dirichlet QL: score = Σ_q ln((tf + μ·cf/T)/(len + μ)), every
      // doc scores (missing term = pure background), 1e9-snapped
      // per-doc sum, top-20 by (score DESC, doc_id)
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1), " +
        "cf AS (SELECT term, sum(tf) AS cf FROM tf WHERE term IN ('join', 'filter', 'scan') GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(tf) AS DOUBLE) AS t FROM tf), " +
        "j AS (SELECT dl.doc_id, dl.n_tok, cf.cf, tf.tf FROM dl CROSS JOIN cf " +
        "LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term), " +
        "s AS (SELECT doc_id, n_tok, CAST(sum(CAST(floor(ln(" +
        "(CAST(coalesce(tf, 0) AS DOUBLE) + CAST(2000.0 AS DOUBLE) * (CAST(cf AS DOUBLE) / t)) / " +
        "(CAST(n_tok AS DOUBLE) + CAST(2000.0 AS DOUBLE))) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s " +
        "FROM j CROSS JOIN tt GROUP BY 1, 2) " +
        "SELECT doc_id, n_tok, round(s, 6) AS score FROM s " +
        "ORDER BY score DESC, doc_id LIMIT 20"),
    "q225_bootstrap_ci" -> {
      // Poisson(1) weights from the md5 uniform via the inverse-CDF
      // ladder (cut points are the driver's round-trip doubles); 100
      // replicate means in one pass; CI = empirical order statistics
      val cuts = ops.Analytics.poisson1Cuts
      val ladder = cuts.zipWithIndex.map { case (c, i) =>
        s"WHEN u < CAST($c AS DOUBLE) THEN $i"
      }.mkString("CASE ", " ", s" ELSE ${cuts.length} END")
      val loQ = 0.05 / 2.0
      val hiQ = 1.0 - 0.05 / 2.0
      "WITH rep AS (SELECT event_type AS grp, CAST(event_id AS VARCHAR) AS k, value AS x, r " +
        "FROM events CROSS JOIN (SELECT range + 1 AS r FROM range(100))), " +
        "uu AS (SELECT grp, r, x, CAST(CAST(('0x' || substr(md5(k || ':' || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE) " +
        "/ CAST(4294967296.0 AS DOUBLE) AS u FROM rep), " +
        s"wt AS (SELECT grp, r, x, $ladder AS w FROM uu), " +
        "means AS (SELECT grp, r, CAST(sum(CAST(floor(CAST(w AS DOUBLE) * x * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS num, CAST(sum(w) AS BIGINT) AS den " +
        "FROM wt GROUP BY 1, 2), " +
        "m2 AS (SELECT grp, r, num / CAST(den AS DOUBLE) AS m FROM means WHERE den > 0), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY m, r) AS rk, " +
        "count(*) OVER (PARTITION BY grp) AS beff FROM m2), " +
        s"ci AS (SELECT grp, max(beff) AS b_eff, " +
        s"min(CASE WHEN rk = CAST(ceil(CAST(beff AS DOUBLE) * CAST($loQ AS DOUBLE)) AS BIGINT) THEN m END) AS lo, " +
        s"min(CASE WHEN rk = CAST(ceil(CAST(beff AS DOUBLE) * CAST($hiQ AS DOUBLE)) AS BIGINT) THEN m END) AS hi " +
        "FROM rk GROUP BY 1), " +
        "ov AS (SELECT event_type AS grp, count(*) AS n_rows, " +
        "CAST(sum(CAST(floor(value * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 " +
        "/ CAST(count(*) AS DOUBLE) AS mean FROM events GROUP BY 1) " +
        "SELECT ov.grp AS event_type, n_rows, round(mean, 6) AS mean, " +
        "round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi, coalesce(b_eff, 0) AS b_eff " +
        "FROM ov LEFT JOIN ci ON ci.grp = ov.grp"
    },
    "q226_rm_expansion" ->
      // the q224 replay LIMIT 10 as the feedback set, softmaxed
      // (q169's exp(score−max) with snapped normalizer) into p(d|q),
      // relevance model p(w|R) = Σ_d p(d|q)·tf/len over non-query terms
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1), " +
        "cf AS (SELECT term, sum(tf) AS cf FROM tf WHERE term IN ('join', 'filter', 'scan') GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(tf) AS DOUBLE) AS t FROM tf), " +
        "j AS (SELECT dl.doc_id, dl.n_tok, cf.cf, tf.tf FROM dl CROSS JOIN cf " +
        "LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term), " +
        "s AS (SELECT doc_id, n_tok, CAST(sum(CAST(floor(ln(" +
        "(CAST(coalesce(tf, 0) AS DOUBLE) + CAST(2000.0 AS DOUBLE) * (CAST(cf AS DOUBLE) / t)) / " +
        "(CAST(n_tok AS DOUBLE) + CAST(2000.0 AS DOUBLE))) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s " +
        "FROM j CROSS JOIN tt GROUP BY 1, 2), " +
        "fb AS (SELECT doc_id, n_tok, round(s, 6) AS score FROM s " +
        "ORDER BY score DESC, doc_id LIMIT 10), " +
        "mx AS (SELECT max(score) AS mx FROM fb), " +
        "wgt AS (SELECT doc_id, n_tok, exp(score - mx) AS w FROM fb CROSS JOIN mx), " +
        "z AS (SELECT CAST(sum(CAST(floor(w * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS z FROM wgt), " +
        "pd AS (SELECT doc_id, n_tok, w / z AS pd FROM wgt CROSS JOIN z), " +
        "rm AS (SELECT t2.term, CAST(sum(CAST(floor(pd * (CAST(t2.tf AS DOUBLE) / CAST(pd.n_tok AS DOUBLE)) " +
        "* 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS w " +
        "FROM pd JOIN tf t2 ON t2.doc_id = pd.doc_id " +
        "WHERE t2.term NOT IN ('join', 'filter', 'scan') GROUP BY 1) " +
        "SELECT term, round(w, 6) AS weight FROM rm " +
        "ORDER BY weight DESC, term LIMIT 15"),
    "q227_label_noise" ->
      // the q154 full-corpus NB + q169 softmax; per-class thresholds
      // t_j = mean self-confidence (snapped-sum / count); a doc is
      // suspected as its max-prob OFF-label class with prob ≥ t_j
      ("WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "dt AS (SELECT doc_id, lang AS lab, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3), " +
        "ct AS (SELECT lab, term, sum(tf) AS ctf FROM dt GROUP BY 1, 2), " +
        "vv AS (SELECT count(DISTINCT term) AS v FROM ct), " +
        "cs AS (SELECT lab, sum(ctf) AS ctot FROM ct GROUP BY 1), " +
        "pr AS (SELECT lang AS lab, count(*) AS nd FROM documents GROUP BY 1), " +
        "nt AS (SELECT count(*) AS ntot FROM documents), " +
        "ls AS (SELECT cs.lab AS clab, " +
        "ln(CAST(nd AS DOUBLE) / CAST(ntot AS DOUBLE)) AS prior_ln, " +
        "ln(1.0 / CAST(ctot + v AS DOUBLE)) AS lp0 " +
        "FROM cs JOIN pr USING (lab) CROSS JOIN vv CROSS JOIN nt), " +
        "seen AS (SELECT dt.doc_id, ct.lab AS clab, " +
        "CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * ln(CAST(ctf + 1 AS DOUBLE)) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s1 " +
        "FROM dt JOIN ct ON dt.term = ct.term GROUP BY 1, 2), " +
        "dn AS (SELECT doc_id, lab, sum(tf) AS n_tok FROM dt GROUP BY 1, 2), " +
        "sc AS (SELECT dn.doc_id, dn.lab, ls.clab, " +
        "round(prior_ln + CAST(n_tok AS DOUBLE) * lp0 + coalesce(s1, 0.0), 4) AS score " +
        "FROM dn CROSS JOIN ls LEFT JOIN seen ON seen.doc_id = dn.doc_id AND seen.clab = ls.clab), " +
        "mx AS (SELECT doc_id, max(score) AS mx FROM sc GROUP BY 1), " +
        "ex AS (SELECT sc.doc_id, sc.lab, sc.clab, exp(score - mx) AS ex " +
        "FROM sc JOIN mx USING (doc_id)), " +
        "z AS (SELECT doc_id, CAST(sum(CAST(floor(ex * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS z FROM ex GROUP BY 1), " +
        "pp AS (SELECT ex.doc_id, ex.lab, ex.clab, round(ex.ex / z.z, 6) AS prob " +
        "FROM ex JOIN z USING (doc_id)), " +
        "th AS (SELECT clab, CAST(sum(CAST(floor(prob * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) " +
        "/ 1000000000 / CAST(count(*) AS DOUBLE) AS t FROM pp WHERE clab = lab GROUP BY 1), " +
        "cand AS (SELECT pp.doc_id, pp.lab, pp.clab, pp.prob FROM pp " +
        "JOIN th ON th.clab = pp.clab WHERE pp.prob >= th.t AND pp.clab <> pp.lab), " +
        "sus AS (SELECT doc_id, lab, clab FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY prob DESC, clab) AS rn FROM cand) WHERE rn = 1) " +
        "SELECT lab, clab AS suspect_lab, count(*) AS n_docs FROM sus GROUP BY 1, 2"),
    "q228_theil_sen" ->
      // day-grid pair table: S = Σ sign, Sen slope = avg of the two
      // middle order statistics, MK tie-corrected variance, z with
      // continuity correction, A&S erfc p
      ("WITH dd AS (SELECT event_type AS grp, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), " +
        "base AS (SELECT grp, CAST(datediff('day', DATE '1970-01-01', day) AS DOUBLE) AS d, " +
        "CAST(n AS DOUBLE) AS x FROM dd), " +
        "pairs AS (SELECT a.grp, CAST(sign(b.x - a.x) AS BIGINT) AS sgn, " +
        "(b.x - a.x) / (b.d - a.d) AS slope " +
        "FROM base a JOIN base b ON b.grp = a.grp AND b.d > a.d), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY slope, sgn) AS rk, " +
        "count(*) OVER (PARTITION BY grp) AS m FROM pairs), " +
        "md AS (SELECT grp, (min(slope) + max(slope)) / CAST(2.0 AS DOUBLE) AS sen FROM rk " +
        "WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2 GROUP BY 1), " +
        "sagg AS (SELECT grp, CAST(sum(sgn) AS BIGINT) AS s, count(*) AS n_pairs FROM pairs GROUP BY 1), " +
        "tg AS (SELECT grp, x, count(*) AS t FROM base GROUP BY 1, 2), " +
        "ts AS (SELECT grp, CAST(sum(t) AS BIGINT) AS n_steps, " +
        "CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum FROM tg GROUP BY 1), " +
        "f AS (SELECT sagg.grp, n_steps, n_pairs, s, sen, " +
        "(CAST(n_steps AS DOUBLE) * (CAST(n_steps AS DOUBLE) - CAST(1.0 AS DOUBLE)) * " +
        "(CAST(2.0 AS DOUBLE) * CAST(n_steps AS DOUBLE) + CAST(5.0 AS DOUBLE)) - CAST(tsum AS DOUBLE)) " +
        "/ CAST(18.0 AS DOUBLE) AS vars " +
        "FROM sagg JOIN ts ON ts.grp = sagg.grp LEFT JOIN md ON md.grp = sagg.grp), " +
        "zz AS (SELECT *, CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(vars) " +
        "WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(vars) ELSE CAST(0.0 AS DOUBLE) END AS z FROM f), " +
        "yy AS (SELECT *, abs(z) / sqrt(CAST(2 AS DOUBLE)) AS y FROM zz), " +
        "tt AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * y) AS t FROM yy) " +
        "SELECT grp AS event_type, n_steps, n_pairs, s AS s_stat, " +
        "CASE WHEN vars > 0.0 THEN round(z, 4) END AS z, " +
        "CASE WHEN vars > 0.0 THEN round(t * (CAST(0.254829592 AS DOUBLE) + t * (CAST(-0.284496736 AS DOUBLE) + " +
        "t * (CAST(1.421413741 AS DOUBLE) + t * (CAST(-1.453152027 AS DOUBLE) + t * CAST(1.061405429 AS DOUBLE))))) " +
        "* exp(-(y * y)), 6) END AS p_value, " +
        "round(sen, 6) AS sen_slope FROM tt"),
    "q229_embedding_frechet" ->
      // per-dim moments from 1e9-snapped sums over DOUBLE-cast arrays,
      // population sigma clamped at 0, dim rollup snapped again
      ("WITH o AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 2 = 0), " +
        "nn AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 2 <> 0), " +
        "ao AS (SELECT unnest(e) AS v, generate_subscripts(e, 1) AS pos FROM o), " +
        "an AS (SELECT unnest(e) AS v, generate_subscripts(e, 1) AS pos FROM nn), " +
        "mo AS (SELECT pos, count(*) AS n_o, " +
        "CAST(sum(CAST(floor(v * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s_o, " +
        "CAST(sum(CAST(floor(v * v * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS ss_o " +
        "FROM ao GROUP BY 1), " +
        "mn AS (SELECT pos, count(*) AS n_n, " +
        "CAST(sum(CAST(floor(v * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s_n, " +
        "CAST(sum(CAST(floor(v * v * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS ss_n " +
        "FROM an GROUP BY 1), " +
        "m1 AS (SELECT pos, n_o, n_n, s_o / CAST(n_o AS DOUBLE) AS muo, s_n / CAST(n_n AS DOUBLE) AS mun, " +
        "ss_o, ss_n FROM mo JOIN mn USING (pos)), " +
        "m2 AS (SELECT pos, n_o, n_n, (muo - mun) * (muo - mun) AS t1, " +
        "(sqrt(greatest(ss_o / CAST(n_o AS DOUBLE) - muo * muo, CAST(0.0 AS DOUBLE))) - " +
        "sqrt(greatest(ss_n / CAST(n_n AS DOUBLE) - mun * mun, CAST(0.0 AS DOUBLE)))) AS ds FROM m1), " +
        "ag AS (SELECT count(*) AS dim, max(n_o) AS n_old, max(n_n) AS n_new, " +
        "CAST(sum(CAST(floor(t1 * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS m2s, " +
        "CAST(sum(CAST(floor(ds * ds * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS c2s FROM m2) " +
        "SELECT dim, n_old, n_new, round(m2s, 6) AS mean_dist2, " +
        "round(c2s, 6) AS cov_dist, round(m2s + c2s, 6) AS frechet FROM ag"),
    "q230_temperature_scan" -> {
      // the q156 holdout stanza + per-(doc, T) log-sum-exp:
      // nll_doc = ln Σ exp((s−mx)/T) − (s_true−mx)/T, snapped sums,
      // grid argmin with smaller-T ties
      val grid = (1 to 16).map(_ * 0.25)
        .map(t => s"CAST($t AS DOUBLE)").mkString("[", ", ", "]")
      nbHoldoutCte +
        ", mx AS (SELECT doc_id, max(score) AS mx FROM sc GROUP BY 1), " +
        s"grid AS (SELECT unnest($grid) AS temp), " +
        "zt AS (SELECT sc.doc_id, g.temp, " +
        "CAST(sum(CAST(floor(exp((score - mx) / g.temp) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS z " +
        "FROM sc JOIN mx USING (doc_id) CROSS JOIN grid g GROUP BY 1, 2), " +
        "tru AS (SELECT sc.doc_id, sc.score AS st, mx.mx FROM sc " +
        "JOIN mx USING (doc_id) JOIN te ON te.doc_id = sc.doc_id AND sc.clab = te.lang), " +
        "nl AS (SELECT temp, " +
        "CAST(sum(CAST(floor((ln(z) - (st - mx) / temp) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 / CAST(count(*) AS DOUBLE) AS nll0 " +
        "FROM zt JOIN tru USING (doc_id) GROUP BY 1) " +
        "SELECT temp, round(nll0, 6) AS nll, " +
        "row_number() OVER (ORDER BY nll0, temp) = 1 AS best FROM nl"
    },
    "q231_binary_hamming" ->
      // sign bits packed into two 32-bit words (sums stay inside
      // signed-64 on any engine), hamming = popcount(xor) per half,
      // top-10 by (hamming, id), overlap vs the exact cosine ranking
      ("WITH v AS (SELECT vec_id, embedding AS e FROM embeddings), " +
        "b AS (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS i FROM v), " +
        "wd AS (SELECT vec_id, " +
        "CAST(sum(CASE WHEN x > 0 AND i <= 32 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END) AS BIGINT) AS w0, " +
        "CAST(sum(CASE WHEN x > 0 AND i > 32 THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END) AS BIGINT) AS w1 " +
        "FROM b GROUP BY 1), " +
        "qw AS (SELECT vec_id AS q_id, w0 AS q0, w1 AS q1 FROM wd WHERE vec_id < 5), " +
        "hs AS (SELECT q.q_id, c.vec_id AS n_id, " +
        "bit_count(xor(c.w0, q.q0)) + bit_count(xor(c.w1, q.q1)) AS hamming " +
        "FROM wd c JOIN qw q ON c.vec_id <> q.q_id), " +
        "tp AS (SELECT q_id, n_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY hamming, n_id) AS rank FROM hs) WHERE rank <= 10), " +
        "v2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "bq AS (SELECT vec_id AS q_id, e AS qv FROM v2 WHERE vec_id < 5), " +
        "bsc AS (SELECT b2.q_id, v2.vec_id AS n_id, round(list_dot_product(v2.e, b2.qv) / " +
        "nullif(sqrt(list_dot_product(v2.e, v2.e)) * sqrt(list_dot_product(b2.qv, b2.qv)), 0), 6) AS cos " +
        "FROM bq b2 JOIN v2 ON v2.vec_id <> b2.q_id), " +
        "bf AS (SELECT q_id, n_id FROM (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM bsc) WHERE rank <= 10) " +
        "SELECT b3.q_id, CAST(count(t.n_id) AS BIGINT) AS n_overlap, " +
        "round(CAST(count(t.n_id) AS DOUBLE) / 10.0, 4) AS recall " +
        "FROM bf b3 LEFT JOIN tp t ON t.q_id = b3.q_id AND t.n_id = b3.n_id GROUP BY 1"),
    "q232_krippendorff" ->
      // binary-nominal Krippendorff with abstention: the lang rater is
      // NULL below 200 chars; D_o from per-item exact rationals
      // (snapped sum), D_e from pooled totals, alpha from the RAW
      // (unrounded) pair
      (s"WITH $gopherStatsCte, " +
        s"it AS (SELECT (CASE WHEN $gopherKeepPred THEN 1 ELSE 0 END) + " +
        "(CASE WHEN d.n_chars BETWEEN 100 AND 600 THEN 1 ELSE 0 END) + " +
        "(CASE WHEN d.n_chars >= 200 AND d.lang = 'en' THEN 1 ELSE 0 END) AS c, " +
        "2 + (CASE WHEN d.n_chars >= 200 THEN 1 ELSE 0 END) AS mr " +
        "FROM m JOIN documents d USING (doc_id)), " +
        "f AS (SELECT count(*) AS n_items, CAST(sum(mr) AS BIGINT) AS n, " +
        "CAST(sum(c) AS BIGINT) AS n1, " +
        "CAST(sum(CAST(floor(CAST(2.0 AS DOUBLE) * CAST(c AS DOUBLE) * CAST(mr - c AS DOUBLE) " +
        "/ CAST(mr - 1 AS DOUBLE) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS dsum " +
        "FROM it WHERE mr >= 2), " +
        "g AS (SELECT n_items, n, dsum / CAST(n AS DOUBLE) AS do0, " +
        "CAST(2.0 AS DOUBLE) * CAST(n1 AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(n1 AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))) AS de0 FROM f) " +
        "SELECT n_items, n AS n_ratings, round(do0, 6) AS d_o, round(de0, 6) AS d_e, " +
        "CASE WHEN de0 > 0.0 THEN round(CAST(1.0 AS DOUBLE) - do0 / de0, 6) END AS alpha FROM g"),
    "q233_skew_advisor" ->
      ("WITH c AS (SELECT event_type AS key, count(*) AS n_rows FROM events GROUP BY 1), " +
        "t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t, count(*) AS n_keys FROM c) " +
        "SELECT key AS event_type, n_rows, " +
        "round(CAST(n_rows AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share, " +
        "round(CAST(n_rows AS DOUBLE) / (CAST(t AS DOUBLE) / CAST(n_keys AS DOUBLE)), 4) AS skew_ratio, " +
        "CAST(ceil(CAST(n_rows AS DOUBLE) / CAST(500.0 AS DOUBLE)) AS BIGINT) AS salt " +
        "FROM c CROSS JOIN t ORDER BY n_rows DESC, key LIMIT 20"),
    "q234_k_anonymity" ->
      ("SELECT lang, source, n_chars // 100 AS chars_bin, " +
        "count(*) AS n_rows, count(*) < 5 AS at_risk " +
        "FROM documents GROUP BY 1, 2, 3"),
    "q235_k_center" -> {
      // the greedy farthest-point trajectory unrolled: seed = min id,
      // each round folds the new center into the running 6-dp
      // min-distance, argmax ties id-ascending
      def cos(a: String, b: String) =
        s"(list_dot_product($a, $b) / " +
          s"nullif(sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)), 0))"
      def round(i: Int) =
        s"p$i AS (SELECT vid, e, mind FROM d${i - 1} ORDER BY mind DESC, vid LIMIT 1), " +
          s"d$i AS (SELECT d.vid, d.e, least(d.mind, " +
          s"round(CAST(1.0 AS DOUBLE) - ${cos("d.e", "p.e")}, 6)) AS mind " +
          s"FROM d${i - 1} d CROSS JOIN p$i p), "
      "WITH v AS (SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "p1 AS (SELECT vid, e FROM v ORDER BY vid LIMIT 1), " +
        "d1 AS (SELECT v.vid, v.e, " +
        s"round(CAST(1.0 AS DOUBLE) - ${cos("v.e", "p.e")}, 6) AS mind " +
        "FROM v CROSS JOIN p1 p), " +
        round(2) + round(3) + round(4) +
        "p5 AS (SELECT vid, e, mind FROM d4 ORDER BY mind DESC, vid LIMIT 1) " +
        "SELECT CAST(1 AS BIGINT) AS pos, vid AS vec_id, CAST(NULL AS DOUBLE) AS dist FROM p1 " +
        "UNION ALL SELECT 2, vid, mind FROM p2 " +
        "UNION ALL SELECT 3, vid, mind FROM p3 " +
        "UNION ALL SELECT 4, vid, mind FROM p4 " +
        "UNION ALL SELECT 5, vid, mind FROM p5"
    },
    "q236_phrase_search" ->
      // positional adjacency: both engines' positions are per-doc
      // token indices (base offset cancels in the +1 join)
      ("WITH tokp AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term, " +
        "generate_subscripts(string_split(text, ' '), 1) AS p FROM documents), " +
        "m AS (SELECT a.doc_id, a.p FROM tokp a JOIN tokp b " +
        "ON b.doc_id = a.doc_id AND b.p = a.p + 1 " +
        "AND a.term = 'table' AND b.term = 'hash') " +
        "SELECT doc_id, count(*) AS n_matches FROM m GROUP BY 1"),
    "q237_dp_counts" ->
      // Laplace inverse-CDF on the md5-of-(cell, seed) uniform shifted
      // into the open interval; raw counts deliberately absent
      ("WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "u AS (SELECT *, (CAST(CAST(('0x' || substr(md5(" +
        "CAST(event_type AS VARCHAR) || '|' || CAST(day AS VARCHAR) || '|' || 'graft-r8'" +
        "), 1, 8)) AS BIGINT) AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(4294967296.0 AS DOUBLE) AS u FROM c) " +
        "SELECT event_type, day, " +
        "round(CAST(n AS DOUBLE) + -(CAST(1.0 AS DOUBLE) / CAST(1.0 AS DOUBLE)) * " +
        "sign(u - CAST(0.5 AS DOUBLE)) * " +
        "ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * abs(u - CAST(0.5 AS DOUBLE))), 4) AS n_noisy " +
        "FROM u"),
    "q238_skipgram" -> {
      // each offset d is one positional equi-join; both ordered
      // directions per found adjacency; count grid floored at 10
      def off(d: Int) =
        s"SELECT a.term AS center, b.term AS context FROM post a JOIN post b " +
          s"ON b.doc_id = a.doc_id AND b.p = a.p + $d " +
          s"UNION ALL SELECT b.term, a.term FROM post a JOIN post b " +
          s"ON b.doc_id = a.doc_id AND b.p = a.p + $d"
      "WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "post AS (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS p FROM s), " +
        s"pr AS (${off(1)} UNION ALL ${off(2)}) " +
        "SELECT center, context, count(*) AS n_cooc FROM pr " +
        "GROUP BY 1, 2 HAVING count(*) >= 10"
    },
    "q239_dunning" ->
      // 2x2 adjacency contingency per bigram from the bigram table's
      // own margins; zero cells contribute 0; one fixed-order double
      // expression per pair
      ("WITH d AS (SELECT string_split(text, ' ') AS tk FROM documents), " +
        "big AS (SELECT bigram, count(*) AS bc FROM (SELECT unnest(CASE WHEN len(tk) >= 2 THEN " +
        "list_transform(generate_series(1, len(tk) - 1), i -> array_to_string(tk[i:i+1], ' ')) " +
        "ELSE []::VARCHAR[] END) AS bigram FROM d) GROUP BY 1), " +
        "c1 AS (SELECT string_split(bigram, ' ')[1] AS w1, CAST(sum(bc) AS BIGINT) AS c1 FROM big GROUP BY 1), " +
        "c2 AS (SELECT string_split(bigram, ' ')[2] AS w2, CAST(sum(bc) AS BIGINT) AS c2 FROM big GROUP BY 1), " +
        "nt AS (SELECT CAST(sum(bc) AS DOUBLE) AS n FROM big), " +
        "sc AS (SELECT bigram, bc, CAST(bc AS DOUBLE) AS k11, " +
        "CAST(c1.c1 AS DOUBLE) AS r1, CAST(c2.c2 AS DOUBLE) AS r2, n " +
        "FROM big JOIN c1 ON c1.w1 = string_split(bigram, ' ')[1] " +
        "JOIN c2 ON c2.w2 = string_split(bigram, ' ')[2] CROSS JOIN nt " +
        "WHERE bc >= 5), " +
        "g AS (SELECT bigram, bc, CAST(2.0 AS DOUBLE) * (" +
        "(CASE WHEN k11 > 0.0 THEN k11 * ln(k11 / (r1 * r2 / n)) ELSE CAST(0.0 AS DOUBLE) END) + " +
        "(CASE WHEN r1 - k11 > 0.0 THEN (r1 - k11) * ln((r1 - k11) / (r1 * (n - r2) / n)) ELSE CAST(0.0 AS DOUBLE) END) + " +
        "(CASE WHEN r2 - k11 > 0.0 THEN (r2 - k11) * ln((r2 - k11) / ((n - r1) * r2 / n)) ELSE CAST(0.0 AS DOUBLE) END) + " +
        "(CASE WHEN n - r1 - r2 + k11 > 0.0 THEN (n - r1 - r2 + k11) * ln((n - r1 - r2 + k11) / ((n - r1) * (n - r2) / n)) ELSE CAST(0.0 AS DOUBLE) END)) AS g2 " +
        "FROM sc) " +
        "SELECT bigram, bc AS n_pair, round(g2, 4) AS g2 FROM g " +
        "ORDER BY g2 DESC, bigram LIMIT 20"),
    "q240_funnel_times" -> {
      // per stage k >= 2: exact type-1 quantiles of (t_k − t_1) micros
      // over the distinct-dwell grid, seconds at the 3-dp output
      def stage(k: Int, label: String) =
        s"d$k AS (SELECT s$k.t - s1.t AS d FROM s$k JOIN s1 USING (u)), " +
          s"g$k AS (SELECT d, count(*) AS n FROM d$k GROUP BY 1), " +
          s"c$k AS (SELECT *, CAST(sum(n) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
          s"CAST(sum(n) OVER () AS BIGINT) AS nt FROM g$k), " +
          s"a$k AS (SELECT max(nt) AS n_units, " +
          s"min(CASE WHEN cum >= CAST(ceil(CAST(nt AS DOUBLE) * CAST(0.5 AS DOUBLE)) AS BIGINT) THEN d END) AS q50, " +
          s"min(CASE WHEN cum >= CAST(ceil(CAST(nt AS DOUBLE) * CAST(0.9 AS DOUBLE)) AS BIGINT) THEN d END) AS q90 FROM c$k)"
      "WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS ts, event_type AS st FROM events), " +
        "s1 AS (SELECT u, min(ts) AS t FROM ev WHERE st = 'view' GROUP BY 1), " +
        "s2 AS (SELECT e.u, min(e.ts) AS t FROM ev e JOIN s1 ON e.u = s1.u " +
        "WHERE e.st = 'click' AND e.ts > s1.t GROUP BY 1), " +
        "s3 AS (SELECT e.u, min(e.ts) AS t FROM ev e JOIN s2 ON e.u = s2.u " +
        "WHERE e.st = 'purchase' AND e.ts > s2.t GROUP BY 1), " +
        stage(2, "click") + ", " + stage(3, "purchase") + " " +
        "SELECT CAST(2 AS BIGINT) AS stage_idx, 'click' AS stage, n_units, " +
        "round(CAST(q50 AS DOUBLE) / CAST(1000000 AS DOUBLE), 3) AS p50_sec, " +
        "round(CAST(q90 AS DOUBLE) / CAST(1000000 AS DOUBLE), 3) AS p90_sec FROM a2 " +
        "UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', n_units, " +
        "round(CAST(q50 AS DOUBLE) / CAST(1000000 AS DOUBLE), 3), " +
        "round(CAST(q90 AS DOUBLE) / CAST(1000000 AS DOUBLE), 3) FROM a3"
    },
    "q241_risk_coverage" ->
      // the shared confidence stanza, descending cumulative counts
      // over the 6-dp grid; chosen = smallest threshold at the 0.9
      // selective-accuracy bar (NULL comparison stays NULL if none)
      (nbConfCte +
        ", g AS (SELECT conf AS c, count(*) AS n, CAST(sum(ok) AS BIGINT) AS k FROM okt GROUP BY 1), " +
        "cum AS (SELECT *, CAST(sum(n) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_covered, " +
        "CAST(sum(k) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_correct, " +
        "CAST(sum(n) OVER () AS BIGINT) AS nt FROM g), " +
        "ch AS (SELECT min(CASE WHEN CAST(n_correct AS DOUBLE) / CAST(n_covered AS DOUBLE) >= CAST(0.9 AS DOUBLE) " +
        "THEN c END) AS ch FROM cum) " +
        "SELECT c AS threshold, n_covered, n_correct, " +
        "round(CAST(n_covered AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS coverage, " +
        "round(CAST(n_correct AS DOUBLE) / CAST(n_covered AS DOUBLE), 6) AS sel_acc, " +
        "c = ch AS chosen FROM cum CROSS JOIN ch"),
    "q242_avg_precision" ->
      // AP = Σ P(t)·ΔR(t) over the descending grid, snapped sum
      (nbConfCte +
        ", g AS (SELECT conf AS c, count(*) AS n, CAST(sum(ok) AS BIGINT) AS k FROM okt GROUP BY 1), " +
        "cum AS (SELECT *, CAST(sum(n) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn, " +
        "CAST(sum(k) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ck, " +
        "CAST(sum(n) OVER () AS BIGINT) AS nt, CAST(sum(k) OVER () AS BIGINT) AS kt FROM g) " +
        "SELECT max(nt) AS n, max(kt) AS n_pos, " +
        "CASE WHEN max(kt) > 0 THEN round(CAST(sum(CAST(floor(" +
        "(CAST(ck AS DOUBLE) / CAST(cn AS DOUBLE)) * (CAST(k AS DOUBLE) / CAST(kt AS DOUBLE)) " +
        "* 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000, 6) END AS ap FROM cum"),
    "q243_funnel_segment" ->
      // the q216 strictly-after chain, arrivals joined to the q208
      // hash-arm unit map, conversion windows per segment
      ("WITH sm AS (SELECT user_id AS u, min(CASE WHEN " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 " +
        "THEN 'a' ELSE 'b' END) AS seg FROM events GROUP BY 1), " +
        "s1 AS (SELECT user_id AS u, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.u " +
        "WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1), " +
        "s3 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.u " +
        "WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1), " +
        "c AS (SELECT seg AS segment, CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage, count(*) AS n_units " +
        "FROM s1 JOIN sm USING (u) GROUP BY 1 " +
        "UNION ALL SELECT seg, CAST(2 AS BIGINT), 'click', count(*) FROM s2 JOIN sm USING (u) GROUP BY 1 " +
        "UNION ALL SELECT seg, CAST(3 AS BIGINT), 'purchase', count(*) FROM s3 JOIN sm USING (u) GROUP BY 1) " +
        "SELECT segment, stage_idx, stage, n_units, " +
        "round(CAST(n_units AS DOUBLE) / CAST(lag(n_units) OVER (PARTITION BY segment ORDER BY stage_idx) AS DOUBLE), 6) AS conv_prev, " +
        "round(CAST(n_units AS DOUBLE) / CAST(first_value(n_units) OVER (PARTITION BY segment ORDER BY stage_idx) AS DOUBLE), 6) AS conv_first " +
        "FROM c"),
    "q244_ess_report" ->
      // the q122 DSIR replay joined to sources, per-source max-shifted
      // exponentiation (ESS is scale-invariant — the shift is free),
      // snapped moment sums, (Σw)²/Σw²
      ("WITH tok AS (SELECT doc_id, lang = 'en' AS is_target, " +
        "unnest(string_split(text, ' ')) AS tk FROM documents), " +
        "dt AS (SELECT doc_id, is_target, " +
        "CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 1024 AS b, " +
        "count(*) AS tf FROM tok GROUP BY 1, 2, 3), " +
        "bs AS (SELECT b, sum(tf) AS craw, " +
        "sum(CASE WHEN is_target THEN tf ELSE 0 END) AS ctgt FROM dt GROUP BY 1), " +
        "tt AS (SELECT sum(craw) AS traw, sum(ctgt) AS ttgt FROM bs), " +
        "lr AS (SELECT b, " +
        "ln(CAST(ctgt + 1 AS DOUBLE) / CAST(ttgt + 1024 AS DOUBLE)) - " +
        "ln(CAST(craw + 1 AS DOUBLE) / CAST(traw + 1024 AS DOUBLE)) AS lr " +
        "FROM bs CROSS JOIN tt), " +
        "wt AS (SELECT doc_id, " +
        "round(CAST(sum(CAST(floor(CAST(tf AS DOUBLE) * lr * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000, 4) AS lw " +
        "FROM dt JOIN lr USING (b) GROUP BY 1), " +
        "sw AS (SELECT d.source AS grp, lw FROM wt JOIN documents d USING (doc_id)), " +
        "mx AS (SELECT grp, max(lw) AS mx FROM sw GROUP BY 1), " +
        "m AS (SELECT sw.grp, count(*) AS n_docs, " +
        "CAST(sum(CAST(floor(exp(lw - mx) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s1, " +
        "CAST(sum(CAST(floor(exp(lw - mx) * exp(lw - mx) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s2 " +
        "FROM sw JOIN mx ON mx.grp = sw.grp GROUP BY 1) " +
        "SELECT grp AS source, n_docs, round(s1 * s1 / s2, 4) AS ess, " +
        "round(s1 * s1 / s2 / CAST(n_docs AS DOUBLE), 6) AS ess_ratio FROM m"),
    "q245_cochran_q" ->
      // integer-exact Q = (k−1)(kΣC² − T²)/(kT − ΣR²) over the gate
      // panel; Wilson–Hilferty p at df = 2 (driver-literal constants)
      (s"WITH $gopherStatsCte, " +
        s"it AS (SELECT (CASE WHEN $gopherKeepPred THEN 1 ELSE 0 END) AS r1, " +
        "(CASE WHEN d.n_chars BETWEEN 100 AND 600 THEN 1 ELSE 0 END) AS r2, " +
        "(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS r3 " +
        "FROM m JOIN documents d USING (doc_id)), " +
        "a AS (SELECT count(*) AS n, CAST(sum(r1) AS BIGINT) AS c1, " +
        "CAST(sum(r2) AS BIGINT) AS c2, CAST(sum(r3) AS BIGINT) AS c3, " +
        "CAST(sum(r1 + r2 + r3) AS BIGINT) AS t, " +
        "CAST(sum((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS rsq FROM it), " +
        "qq AS (SELECT n, 3 * t - rsq AS den, " +
        "CAST(2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - t * t) AS DOUBLE) / " +
        "CAST(3 * t - rsq AS DOUBLE) AS q FROM a), " +
        "zz AS (SELECT *, (power(q / CAST(2.0 AS DOUBLE), CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE)) - " +
        "(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) / CAST(18.0 AS DOUBLE))) / " +
        "sqrt(CAST(2.0 AS DOUBLE) / CAST(18.0 AS DOUBLE)) AS zwh FROM qq), " +
        "yy AS (SELECT *, abs(zwh) / sqrt(CAST(2 AS DOUBLE)) AS y FROM zz), " +
        "tt AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * y) AS tv FROM yy), " +
        "pv AS (SELECT *, tv * (CAST(0.254829592 AS DOUBLE) + tv * (CAST(-0.284496736 AS DOUBLE) + tv * (CAST(1.421413741 AS DOUBLE) + " +
        "tv * (CAST(-1.453152027 AS DOUBLE) + tv * CAST(1.061405429 AS DOUBLE))))) * exp(-(y * y)) AS p2 FROM tt) " +
        "SELECT n AS n_items, CAST(2 AS BIGINT) AS df, " +
        "CASE WHEN den > 0 THEN round(q, 4) END AS q_stat, " +
        "CASE WHEN den > 0 THEN round(CASE WHEN zwh >= 0 THEN p2 / CAST(2.0 AS DOUBLE) " +
        "ELSE CAST(1.0 AS DOUBLE) - p2 / CAST(2.0 AS DOUBLE) END, 6) END AS p_value FROM pv"),
    "q246_mcnemar" ->
      // discordant cells only; Edwards correction clamped at 0; exact
      // df=1 p = erfc(sqrt(chi2)/sqrt(2)) via the A&S ladder
      (s"WITH $gopherStatsCte, " +
        s"it AS (SELECT (CASE WHEN $gopherKeepPred THEN 1 ELSE 0 END) AS a, " +
        "(CASE WHEN d.n_chars BETWEEN 100 AND 600 THEN 1 ELSE 0 END) AS b " +
        "FROM m JOIN documents d USING (doc_id)), " +
        "mcs AS (SELECT count(*) AS n_items, " +
        "CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ab, " +
        "CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ba FROM it), " +
        "c AS (SELECT *, CAST(greatest(abs(n_ab - n_ba) - 1, 0) * greatest(abs(n_ab - n_ba) - 1, 0) AS DOUBLE) / " +
        "CAST(n_ab + n_ba AS DOUBLE) AS chi2raw FROM mcs), " +
        "yy AS (SELECT *, sqrt(chi2raw) / sqrt(CAST(2 AS DOUBLE)) AS y FROM c), " +
        "tt AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * y) AS tv FROM yy) " +
        "SELECT n_items, n_ab, n_ba, " +
        "CASE WHEN n_ab + n_ba > 0 THEN round(chi2raw, 4) END AS chi2, " +
        "CASE WHEN n_ab + n_ba > 0 THEN round(tv * (CAST(0.254829592 AS DOUBLE) + tv * (CAST(-0.284496736 AS DOUBLE) + " +
        "tv * (CAST(1.421413741 AS DOUBLE) + tv * (CAST(-1.453152027 AS DOUBLE) + tv * CAST(1.061405429 AS DOUBLE))))) " +
        "* exp(-(y * y)), 6) END AS p_value FROM tt"),
    "q247_quantile_shift" ->
      // exact type-1 deciles per (grp, arm) off the value-grid
      // cumulative windows; the 9-row decile axis is a bounded fanout
      ("WITH b0 AS (SELECT event_type AS grp, value AS x, " +
        "CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 " +
        "THEN 'e' ELSE 'a' END AS half FROM events), " +
        "cnt AS (SELECT grp, half, x, count(*) AS n FROM b0 GROUP BY 1, 2, 3), " +
        "cum AS (SELECT *, CAST(sum(n) OVER (PARTITION BY grp, half ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(n) OVER (PARTITION BY grp, half) AS BIGINT) AS nt FROM cnt), " +
        "dc AS (SELECT unnest(generate_series(1, 9)) * 10 AS pct), " +
        "q AS (SELECT grp, half, pct, min(x) AS q FROM cum JOIN dc " +
        "ON cum >= CAST(ceil(CAST(nt AS DOUBLE) * (CAST(pct AS DOUBLE) / CAST(100.0 AS DOUBLE))) AS BIGINT) " +
        "GROUP BY 1, 2, 3) " +
        "SELECT e.grp AS event_type, e.pct, e.q AS q_expected, a.q AS q_actual, " +
        "round(a.q - e.q, 6) AS shift FROM q e JOIN q a " +
        "ON a.grp = e.grp AND a.pct = e.pct AND e.half = 'e' AND a.half = 'a'"),
    "q248_cuped" ->
      // per-user pre/post value totals as 1e9-snapped sums, one pooled
      // moment pass, θ = Cov/Var(x), Var(y') via the variance identity
      ("WITH u AS (SELECT user_id, " +
        "CAST(sum(CAST(floor((CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN value ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS x, " +
        "CAST(sum(CAST(floor((CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS y, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS a " +
        "FROM events GROUP BY 1), " +
        "m AS (SELECT count(*) AS n, " +
        "CAST(sum(CAST(floor(x * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sx, " +
        "CAST(sum(CAST(floor(y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy, " +
        "CAST(sum(CAST(floor(x * x * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxx, " +
        "CAST(sum(CAST(floor(x * y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxy, " +
        "CAST(sum(CAST(floor(y * y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS syy, " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CAST(floor((CASE WHEN a THEN x ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sx_a, " +
        "CAST(sum(CAST(floor((CASE WHEN a THEN y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy_a, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CAST(floor((CASE WHEN NOT a THEN x ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sx_b, " +
        "CAST(sum(CAST(floor((CASE WHEN NOT a THEN y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy_b " +
        "FROM u), " +
        "d AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM m), " +
        "t0 AS (SELECT *, (sxx - sx * sx / nd) / nd AS varx, " +
        "(sxy - sx * sy / nd) / nd AS covxy, " +
        "(syy - sy * sy / nd) / nd AS vary, sx / nd AS xbar FROM d), " +
        "t1 AS (SELECT *, CASE WHEN varx > CAST(0 AS DOUBLE) THEN covxy / varx END AS theta FROM t0), " +
        "t2 AS (SELECT *, vary - theta * covxy AS varadj FROM t1) " +
        "SELECT 'treat' AS arm, n_a AS n_units, round(theta, 6) AS theta, " +
        "round(sy_a / CAST(n_a AS DOUBLE), 6) AS mean_y, " +
        "round(sy_a / CAST(n_a AS DOUBLE) - theta * (sx_a / CAST(n_a AS DOUBLE) - xbar), 6) AS mean_y_adj, " +
        "round(vary, 6) AS var_y, round(varadj, 6) AS var_y_adj, " +
        "CASE WHEN vary > CAST(0 AS DOUBLE) THEN round(CAST(1 AS DOUBLE) - varadj / vary, 6) END AS var_reduction FROM t2 " +
        "UNION ALL " +
        "SELECT 'ctrl', n_b, round(theta, 6), " +
        "round(sy_b / CAST(n_b AS DOUBLE), 6), " +
        "round(sy_b / CAST(n_b AS DOUBLE) - theta * (sx_b / CAST(n_b AS DOUBLE) - xbar), 6), " +
        "round(vary, 6), round(varadj, 6), " +
        "CASE WHEN vary > CAST(0 AS DOUBLE) THEN round(CAST(1 AS DOUBLE) - varadj / vary, 6) END FROM t2"),
    "q249_jackknife_ratio" ->
      // per-type snapped (Σvalue, Σ1) sums, leave-one-out ratios, the
      // (g−1)/g jackknife variance over snapped Σ-moments
      ("WITH pg AS (SELECT event_type AS grp, " +
        "CAST(sum(CAST(floor(value * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS n_i, " +
        "CAST(sum(CAST(floor(1.0 * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS d_i " +
        "FROM events GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(CAST(floor(n_i * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS nt, " +
        "CAST(sum(CAST(floor(d_i * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS dt, " +
        "count(*) AS ng FROM pg), " +
        "loo AS (SELECT ng, nt, dt, CASE WHEN dt - d_i <> CAST(0 AS DOUBLE) THEN (nt - n_i) / (dt - d_i) END AS r_i " +
        "FROM pg CROSS JOIN tot), " +
        "s AS (SELECT max(ng) AS n_groups, max(nt) AS nt, max(dt) AS dt, count(r_i) AS k, " +
        "CAST(sum(CAST(floor(coalesce(r_i, CAST(0 AS DOUBLE)) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sr, " +
        "CAST(sum(CAST(floor(coalesce(r_i * r_i, CAST(0 AS DOUBLE)) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS srr " +
        "FROM loo), " +
        "f AS (SELECT *, CAST(k AS DOUBLE) AS kd FROM s), " +
        "f2 AS (SELECT *, CASE WHEN k > 1 AND dt <> CAST(0 AS DOUBLE) THEN " +
        "sqrt(((srr - sr * sr / kd) / kd) * (kd - CAST(1 AS DOUBLE))) END AS se FROM f) " +
        "SELECT n_groups, round(nt / dt, 6) AS ratio, round(se, 6) AS se_jack, " +
        "round(nt / dt - CAST(1.96 AS DOUBLE) * se, 6) AS ci_lo, " +
        "round(nt / dt + CAST(1.96 AS DOUBLE) * se, 6) AS ci_hi FROM f2"),
    "q250_by_fdr" ->
      // q212's per-source z-tests under the Benjamini–Yekutieli
      // harmonic penalty c(m) = Σ 1/i (1e9-snapped decimal sum):
      // thresholds i·q/(m·c(m)) — valid under arbitrary dependence
      (s"WITH $gopherStatsCte, " +
        s"kk AS (SELECT d.source, count(*) AS n_docs, CAST(sum(CASE WHEN $gopherKeepPred THEN 1 ELSE 0 END) AS BIGINT) AS n_keep " +
        "FROM m JOIN documents d USING (doc_id) GROUP BY 1), " +
        "gg AS (SELECT source, n_docs, n_keep, CAST(sum(n_docs) OVER () AS BIGINT) AS n, CAST(sum(n_keep) OVER () AS BIGINT) AS kall FROM kk), " +
        "st AS (SELECT source, n_docs, n_keep, " +
        "sqrt(CAST(kall AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(kall AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(1 AS DOUBLE) / CAST(n_docs AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(n AS DOUBLE))) AS se, " +
        "(CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) - CAST(kall AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        "sqrt(CAST(kall AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(kall AS DOUBLE) / CAST(n AS DOUBLE)) * " +
        "(CAST(1 AS DOUBLE) / CAST(n_docs AS DOUBLE) + CAST(1 AS DOUBLE) / CAST(n AS DOUBLE))) AS z FROM gg), " +
        "yy AS (SELECT *, abs(z) / sqrt(CAST(2 AS DOUBLE)) AS y FROM st), " +
        "tt AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * y) AS t FROM yy), " +
        "pv AS (SELECT *, floor(t * (CAST(0.254829592 AS DOUBLE) + t * (CAST(-0.284496736 AS DOUBLE) + t * (CAST(1.421413741 AS DOUBLE) + " +
        "t * (CAST(-1.453152027 AS DOUBLE) + t * CAST(1.061405429 AS DOUBLE))))) * exp(-(y * y)) " +
        "* CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000000 AS DOUBLE) AS praw FROM tt), " +
        "rr AS (SELECT source, CASE WHEN se > CAST(0 AS DOUBLE) THEN praw END AS p FROM pv), " +
        "bh AS (SELECT source, p, row_number() OVER (ORDER BY p, source) AS rnk, count(p) OVER () AS mm FROM rr), " +
        "cm AS (SELECT *, CAST(sum(CASE WHEN p IS NOT NULL THEN " +
        "CAST(floor(CAST(1000000000 AS DOUBLE) / CAST(rnk AS DOUBLE) + 0.5) AS DECIMAL(38,0)) END) OVER () AS DOUBLE) / 1000000000 AS cmv FROM bh), " +
        "ok AS (SELECT *, CASE WHEN p <= CAST(rnk AS DOUBLE) * CAST(0.1 AS DOUBLE) / (CAST(mm AS DOUBLE) * cmv) THEN rnk END AS okr FROM cm), " +
        "ks AS (SELECT *, coalesce(max(okr) OVER (), 0) AS kstar FROM ok) " +
        "SELECT source, round(p, 6) AS p_value, CAST(rnk AS BIGINT) AS rnk, " +
        "rnk <= kstar AS reject FROM ks"),
    "q251_delta_method" ->
      // per-user (snapped Σvalue, event count) units, one snapped
      // moment pass per arm, Var(R) by the delta-method formula in the
      // same operation order, A&S 7.1.26 erfc p
      ("WITH u AS (SELECT user_id, " +
        "CAST(sum(CAST(floor(value * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS y, " +
        "CAST(count(*) AS DOUBLE) AS x, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS a " +
        "FROM events GROUP BY 1), " +
        "m AS (SELECT " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CAST(floor((CASE WHEN a THEN y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy_a, " +
        "CAST(sum(CAST(floor((CASE WHEN a THEN x ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sx_a, " +
        "CAST(sum(CAST(floor((CASE WHEN a THEN y * y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS syy_a, " +
        "CAST(sum(CAST(floor((CASE WHEN a THEN x * x ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxx_a, " +
        "CAST(sum(CAST(floor((CASE WHEN a THEN x * y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxy_a, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CAST(floor((CASE WHEN NOT a THEN y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy_b, " +
        "CAST(sum(CAST(floor((CASE WHEN NOT a THEN x ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sx_b, " +
        "CAST(sum(CAST(floor((CASE WHEN NOT a THEN y * y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS syy_b, " +
        "CAST(sum(CAST(floor((CASE WHEN NOT a THEN x * x ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxx_b, " +
        "CAST(sum(CAST(floor((CASE WHEN NOT a THEN x * y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sxy_b " +
        "FROM u), " +
        "t0 AS (SELECT *, CAST(n_a AS DOUBLE) AS nda, CAST(n_b AS DOUBLE) AS ndb FROM m), " +
        "t1 AS (SELECT *, " +
        "CASE WHEN sx_a <> CAST(0 AS DOUBLE) THEN sy_a / sx_a END AS ra, " +
        "CASE WHEN sx_b <> CAST(0 AS DOUBLE) THEN sy_b / sx_b END AS rb FROM t0), " +
        "t2 AS (SELECT *, " +
        "CASE WHEN n_a > 1 AND sx_a <> CAST(0 AS DOUBLE) THEN " +
        "((syy_a - sy_a * sy_a / nda) / (nda - CAST(1 AS DOUBLE)) - CAST(2 AS DOUBLE) * ra * ((sxy_a - sx_a * sy_a / nda) / (nda - CAST(1 AS DOUBLE))) + ra * ra * ((sxx_a - sx_a * sx_a / nda) / (nda - CAST(1 AS DOUBLE)))) / " +
        "(nda * (sx_a / nda) * (sx_a / nda)) END AS va, " +
        "CASE WHEN n_b > 1 AND sx_b <> CAST(0 AS DOUBLE) THEN " +
        "((syy_b - sy_b * sy_b / ndb) / (ndb - CAST(1 AS DOUBLE)) - CAST(2 AS DOUBLE) * rb * ((sxy_b - sx_b * sy_b / ndb) / (ndb - CAST(1 AS DOUBLE))) + rb * rb * ((sxx_b - sx_b * sx_b / ndb) / (ndb - CAST(1 AS DOUBLE)))) / " +
        "(ndb * (sx_b / ndb) * (sx_b / ndb)) END AS vb FROM t1), " +
        "t3 AS (SELECT *, CASE WHEN va + vb > CAST(0 AS DOUBLE) THEN (ra - rb) / sqrt(va + vb) END AS z FROM t2), " +
        "yy AS (SELECT *, abs(z) / sqrt(CAST(2 AS DOUBLE)) AS yv FROM t3), " +
        "tt AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * yv) AS t FROM yy) " +
        "SELECT n_a, n_b, round(ra, 6) AS ratio_a, round(rb, 6) AS ratio_b, " +
        "round(CASE WHEN va + vb > CAST(0 AS DOUBLE) THEN sqrt(va + vb) END, 6) AS se, " +
        "round(z, 6) AS z, " +
        "round(CASE WHEN va + vb > CAST(0 AS DOUBLE) THEN " +
        "t * (CAST(0.254829592 AS DOUBLE) + t * (CAST(-0.284496736 AS DOUBLE) + t * (CAST(1.421413741 AS DOUBLE) + " +
        "t * (CAST(-1.453152027 AS DOUBLE) + t * CAST(1.061405429 AS DOUBLE))))) * exp(-(yv * yv)) END, 6) AS p_value " +
        "FROM tt"),
    "q252_kmv_intersect" ->
      // identical 60-bit md5 hashes; θ = the union sketch's 64th
      // smallest hash; intersection samples = both-member hashes
      // STRICTLY below it; est = c·2^60/h_k; below-k → exact
      ("WITH a AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h " +
        "FROM events WHERE event_type = 'view'), " +
        "b AS (SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h " +
        "FROM events WHERE event_type = 'purchase'), " +
        "d AS (SELECT h, max(ia) AS ia, max(ib) AS ib FROM (" +
        "SELECT h, true AS ia, false AS ib FROM a " +
        "UNION ALL SELECT h, false, true FROM b) GROUP BY 1), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY h) AS rn FROM d), " +
        "st AS (SELECT max(CASE WHEN rn = 64 THEN h END) AS kth, " +
        "CAST(sum(CASE WHEN ia AND ib AND rn < 64 THEN 1 ELSE 0 END) AS BIGINT) AS c_both " +
        "FROM r WHERE rn <= 64), " +
        "ex AS (SELECT CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS n_a_exact, " +
        "CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_b_exact, " +
        "count(*) AS n_union_exact, " +
        "CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS n_inter_exact FROM d), " +
        "f AS (SELECT *, " +
        "CASE WHEN kth IS NOT NULL THEN round(CAST(63 AS DOUBLE) * 1152921504606846976 / CAST(kth AS DOUBLE), 4) " +
        "ELSE CAST(n_union_exact AS DOUBLE) END AS est_union, " +
        "CASE WHEN kth IS NOT NULL THEN round(CAST(c_both AS DOUBLE) * 1152921504606846976 / CAST(kth AS DOUBLE), 4) " +
        "ELSE CAST(n_inter_exact AS DOUBLE) END AS est_inter " +
        "FROM ex CROSS JOIN st) " +
        "SELECT n_a_exact, n_b_exact, n_union_exact, n_inter_exact, " +
        "est_union, est_inter, " +
        "CASE WHEN est_union > CAST(0 AS DOUBLE) THEN round(est_inter / est_union, 6) END AS jaccard_est " +
        "FROM f"),
    "q253_kcore" ->
      // 4 synchronous peel rounds unrolled (the q201 fixed-trajectory
      // contract): degrees over the shrinking canonical edge set, drop
      // deg < 2, converged = min(final degree) >= 2. Every CTE is
      // MATERIALIZED: DuckDB otherwise INLINES multi-referenced CTEs,
      // re-running the whole shingle pipeline ~3^rounds times
      // (measured: the un-hinted form did not finish)
      (s"WITH $shingleCte, " +
        "ke0 AS MATERIALIZED (SELECT DISTINCT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b FROM cands WHERE doc_a <> doc_b), " +
        "kd1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM ke0 UNION ALL SELECT b FROM ke0) GROUP BY 1), " +
        "ks1 AS MATERIALIZED (SELECT node FROM kd1 WHERE deg >= 2), " +
        "ke1 AS MATERIALIZED (SELECT e.a, e.b FROM ke0 e JOIN ks1 x ON x.node = e.a JOIN ks1 y ON y.node = e.b), " +
        "kd2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM ke1 UNION ALL SELECT b FROM ke1) GROUP BY 1), " +
        "ks2 AS MATERIALIZED (SELECT node FROM kd2 WHERE deg >= 2), " +
        "ke2 AS MATERIALIZED (SELECT e.a, e.b FROM ke1 e JOIN ks2 x ON x.node = e.a JOIN ks2 y ON y.node = e.b), " +
        "kd3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM ke2 UNION ALL SELECT b FROM ke2) GROUP BY 1), " +
        "ks3 AS MATERIALIZED (SELECT node FROM kd3 WHERE deg >= 2), " +
        "ke3 AS MATERIALIZED (SELECT e.a, e.b FROM ke2 e JOIN ks3 x ON x.node = e.a JOIN ks3 y ON y.node = e.b), " +
        "kd4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM (SELECT a AS node FROM ke3 UNION ALL SELECT b FROM ke3) GROUP BY 1), " +
        "ks4 AS MATERIALIZED (SELECT node FROM kd4 WHERE deg >= 2), " +
        "ke4 AS MATERIALIZED (SELECT e.a, e.b FROM ke3 e JOIN ks4 x ON x.node = e.a JOIN ks4 y ON y.node = e.b), " +
        "kdf AS MATERIALIZED (SELECT node, count(*) AS degree FROM (SELECT a AS node FROM ke4 UNION ALL SELECT b FROM ke4) GROUP BY 1), " +
        "kcv AS (SELECT coalesce(min(degree) >= 2, true) AS converged FROM kdf) " +
        "SELECT node, degree, converged FROM kdf CROSS JOIN kcv"),
    "q254_kaplan_meier" ->
      // right-censored view→purchase day durations; S via exp of the
      // snapped Σ ln(1−d/n) (order-free), Nelson–Aalen the same way;
      // the d = n last step carries a zero flag, never ln 0
      (s"WITH $survivalUnitsCte, " +
        "kp AS (SELECT t, CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d, count(*) AS leave FROM u GROUP BY 1), " +
        "kg AS (SELECT *, CAST(sum(leave) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM kp), " +
        "k2 AS (SELECT *, CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS frac FROM kg), " +
        "k3 AS (SELECT *, CASE WHEN d < n_risk THEN CAST(floor(ln(CAST(1 AS DOUBLE) - frac) * 1000000000 + 0.5) AS DECIMAL(38,0)) " +
        "ELSE CAST(0 AS DECIMAL(38,0)) END AS lnt, " +
        "CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END AS zh FROM k2), " +
        "k4 AS (SELECT *, CAST(sum(lnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000 AS lns, " +
        "max(zh) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z, " +
        "CAST(sum(CAST(floor(frac * 1000000000 + 0.5) AS DECIMAL(38,0))) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000 AS hh FROM k3) " +
        "SELECT t, n_risk, d, " +
        "CASE WHEN z = 1 THEN CAST(0 AS DOUBLE) ELSE round(exp(lns), 6) END AS km_surv, " +
        "round(hh, 6) AS na_cumhaz FROM k4 WHERE d > 0"),
    "q259_km_greenwood" ->
      // the q254 replay plus the Greenwood cumulative variance term
      // d/(n(n−d)) on the 1e12 grid; se = S·√Σ, linear CI clamped to
      // [0,1]; the d = n zero step NULLs the whole band
      (s"WITH $survivalUnitsCte, " +
        "kp AS (SELECT t, CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d, count(*) AS leave FROM u GROUP BY 1), " +
        "kg AS (SELECT *, CAST(sum(leave) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM kp), " +
        "k2 AS (SELECT *, CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS frac FROM kg), " +
        "k3 AS (SELECT *, CASE WHEN d < n_risk THEN CAST(floor(ln(CAST(1 AS DOUBLE) - frac) * 1000000000 + 0.5) AS DECIMAL(38,0)) " +
        "ELSE CAST(0 AS DECIMAL(38,0)) END AS lnt, " +
        "CASE WHEN d < n_risk THEN CAST(floor(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * CAST(n_risk - d AS DOUBLE)) * 1000000000000 + 0.5) AS DECIMAL(38,0)) " +
        "ELSE CAST(0 AS DECIMAL(38,0)) END AS gwt, " +
        "CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END AS zh FROM k2), " +
        "k4 AS (SELECT *, CAST(sum(lnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000 AS lns, " +
        "max(zh) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z, " +
        "CAST(sum(gwt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000000 AS gws FROM k3), " +
        "k5 AS (SELECT *, CASE WHEN z = 1 THEN NULL ELSE exp(lns) * sqrt(gws) END AS ser FROM k4) " +
        "SELECT t, n_risk, d, " +
        "CASE WHEN z = 1 THEN CAST(0 AS DOUBLE) ELSE round(exp(lns), 6) END AS km_surv, " +
        "round(ser, 6) AS se, " +
        "CASE WHEN ser IS NULL THEN NULL ELSE round(greatest(CAST(0 AS DOUBLE), exp(lns) - CAST(1.959964 AS DOUBLE) * ser), 6) END AS ci_lo, " +
        "CASE WHEN ser IS NULL THEN NULL ELSE round(least(CAST(1 AS DOUBLE), exp(lns) + CAST(1.959964 AS DOUBLE) * ser), 6) END AS ci_hi " +
        "FROM k5 WHERE d > 0"),
    "q260_weibull_fit" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // the q254 step replay -> Weibull plot points (t>0, z=0) ->
      // snapped closed-form OLS; slope = shape, exp(-b/k) = scale
      s"WITH $survivalUnitsCte, " +
        "kp AS (SELECT t, CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d, count(*) AS leave FROM u GROUP BY 1), " +
        "kg AS (SELECT *, CAST(sum(leave) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM kp), " +
        "k2 AS (SELECT *, CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS frac FROM kg), " +
        "k3 AS (SELECT *, CASE WHEN d < n_risk THEN CAST(floor(ln(CAST(1 AS DOUBLE) - frac) * 1000000000 + 0.5) AS DECIMAL(38,0)) " +
        "ELSE CAST(0 AS DECIMAL(38,0)) END AS lnt, " +
        "CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END AS zh FROM k2), " +
        "k4 AS (SELECT *, CAST(sum(lnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000 AS lns, " +
        "max(zh) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z FROM k3), " +
        "wp AS (SELECT ln(CAST(t AS DOUBLE)) AS x, ln(-lns) AS y FROM k4 WHERE d > 0 AND z = 0 AND t > 0), " +
        s"wm AS (SELECT count(*) AS n, ${snap("x")} AS sx, ${snap("y")} AS sy, " +
        s"${snap("x * x")} AS sxx, ${snap("x * y")} AS sxy, ${snap("y * y")} AS syy FROM wp), " +
        "wf AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx, " +
        "CAST(n AS DOUBLE) * syy - sy * sy AS vy, " +
        "CAST(n AS DOUBLE) * sxy - sx * sy AS cov FROM wm), " +
        "wk AS (SELECT *, CASE WHEN n >= 2 AND vx > CAST(0 AS DOUBLE) THEN cov / vx END AS k FROM wf) " +
        "SELECT n AS n_points, round(k, 6) AS shape, " +
        "round(CASE WHEN k IS NOT NULL AND k <> CAST(0 AS DOUBLE) THEN exp(-((sy - k * sx) / CAST(n AS DOUBLE)) / k) END, 6) AS scale, " +
        "round(CASE WHEN k IS NOT NULL AND vy > CAST(0 AS DOUBLE) THEN cov * cov / (vx * vy) END, 6) AS r2 FROM wk"
    },
    "q261_cif_competing" ->
      // competing first events (purchase vs error) after first view;
      // all-cause S(t_{j-1}) from the PRIOR-steps frame, per-cause
      // snapped CIF terms cumulated over a cause-partitioned window
      ("WITH cv AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'view' GROUP BY 1), " +
        "ce0 AS (SELECT e.user_id, e.ts, e.event_type FROM events e JOIN cv ON e.user_id = cv.user_id " +
        "WHERE e.event_type IN ('purchase', 'error') AND e.ts > cv.t0), " +
        "cm AS (SELECT user_id, min(ts) AS tm FROM ce0 GROUP BY 1), " +
        "cc AS (SELECT c0.user_id, min(c0.event_type) AS cause, min(cm.tm) AS tm " +
        "FROM ce0 c0 JOIN cm ON c0.user_id = cm.user_id AND c0.ts = cm.tm GROUP BY 1), " +
        "cl AS (SELECT user_id, max(ts) AS tl FROM events GROUP BY 1), " +
        "cu AS (SELECT cv.user_id, (epoch_us(coalesce(cc.tm, cl.tl)) - epoch_us(cv.t0)) // 86400000000 AS t, cc.cause " +
        "FROM cv LEFT JOIN cc ON cc.user_id = cv.user_id JOIN cl ON cl.user_id = cv.user_id), " +
        "ap AS (SELECT t, CAST(sum(CASE WHEN cause IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d, count(*) AS leave FROM cu GROUP BY 1), " +
        "ag AS (SELECT *, CAST(sum(leave) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM ap), " +
        "a2 AS (SELECT *, CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS frac FROM ag), " +
        "a3 AS (SELECT *, CASE WHEN d < n_risk AND d > 0 THEN CAST(floor(ln(CAST(1 AS DOUBLE) - frac) * 1000000000 + 0.5) AS DECIMAL(38,0)) " +
        "ELSE CAST(0 AS DECIMAL(38,0)) END AS lnt, " +
        "CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END AS zh FROM a2), " +
        "a4 AS (SELECT *, coalesce(CAST(sum(lnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE) / 1000000000, CAST(0 AS DOUBLE)) AS lnsp, " +
        "coalesce(max(zh) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS zp FROM a3), " +
        "a5 AS (SELECT t, n_risk, CASE WHEN zp = 1 THEN CAST(0 AS DOUBLE) ELSE exp(lnsp) END AS sprev FROM a4), " +
        "adk AS (SELECT t, cause, count(*) AS dk FROM cu WHERE cause IS NOT NULL GROUP BY 1, 2), " +
        "atm AS (SELECT adk.t, adk.cause, a5.n_risk, adk.dk, " +
        "CAST(floor(a5.sprev * CAST(adk.dk AS DOUBLE) / CAST(a5.n_risk AS DOUBLE) * 1000000000 + 0.5) AS DECIMAL(38,0)) AS term " +
        "FROM adk JOIN a5 ON a5.t = adk.t) " +
        "SELECT t, cause, n_risk, dk AS d, " +
        "round(CAST(sum(term) OVER (PARTITION BY cause ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000, 6) AS cif FROM atm"),
    "q262_stratified_logrank" ->
      // per-(stratum, step) hypergeometric O-E and V (at-risk windows
      // PARTITION BY stratum), pooled by snapped summation; q255's
      // erfc tail
      (s"WITH $survivalUnitsCte, " +
        "sb AS (SELECT user_id, CASE WHEN c < 20 THEN 'low' WHEN c < 40 THEN 'mid' ELSE 'high' END AS s FROM " +
        "(SELECT user_id, CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS c FROM events GROUP BY 1)), " +
        "su AS (SELECT u.t, u.e, u.a, sb.s FROM u JOIN sb ON sb.user_id = u.user_id), " +
        "lp AS (SELECT s, t, CAST(sum(CASE WHEN e AND a THEN 1 ELSE 0 END) AS BIGINT) AS da, " +
        "CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d, " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS la, count(*) AS l FROM su GROUP BY 1, 2), " +
        "lg AS (SELECT *, CAST(sum(la) OVER (PARTITION BY s ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS na, " +
        "CAST(sum(l) OVER (PARTITION BY s ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n FROM lp), " +
        "lf AS (SELECT * FROM lg WHERE d > 0), " +
        "ld AS (SELECT *, CAST(d AS DOUBLE) AS dd, CAST(na AS DOUBLE) AS nad, CAST(n AS DOUBLE) AS nd FROM lf), " +
        "ls AS (SELECT " +
        "CAST(sum(CAST(floor((CASE WHEN n > 1 THEN CAST(da AS DOUBLE) - dd * nad / nd ELSE CAST(0 AS DOUBLE) END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS oe, " +
        "CAST(sum(CAST(floor((CASE WHEN n > 1 THEN dd * (nad / nd) * (CAST(1 AS DOUBLE) - nad / nd) * (nd - dd) / (nd - CAST(1 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS vv " +
        "FROM ld), " +
        "lt AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_strata, " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN e AND a THEN 1 ELSE 0 END) AS BIGINT) AS events_a, " +
        "CAST(sum(CASE WHEN e AND NOT a THEN 1 ELSE 0 END) AS BIGINT) AS events_b FROM su), " +
        "lx AS (SELECT *, CASE WHEN vv > CAST(0 AS DOUBLE) THEN oe * oe / vv END AS chi2 FROM lt CROSS JOIN ls), " +
        "ly AS (SELECT *, sqrt(chi2) / sqrt(CAST(2 AS DOUBLE)) AS yv FROM lx), " +
        "lz AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * yv) AS tt FROM ly) " +
        "SELECT n_strata, n_a, n_b, events_a, events_b, round(chi2, 6) AS chi2, " +
        "round(tt * (CAST(0.254829592 AS DOUBLE) + tt * (CAST(-0.284496736 AS DOUBLE) + tt * (CAST(1.421413741 AS DOUBLE) + " +
        "tt * (CAST(-1.453152027 AS DOUBLE) + tt * CAST(1.061405429 AS DOUBLE))))) * exp(-(yv * yv)), 6) AS p_value " +
        "FROM lz"),
    "q263_mantel_haenszel" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // per-stratum 2x2 of arm x converted; snapped MH/CMH/RBG sums;
      // erfc p (the q255 tail)
      s"WITH $survivalUnitsCte, " +
        "sb AS (SELECT user_id, CASE WHEN c < 20 THEN 'low' WHEN c < 40 THEN 'mid' ELSE 'high' END AS s FROM " +
        "(SELECT user_id, CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS c FROM events GROUP BY 1)), " +
        "mu AS (SELECT u.a AS arm, u.e AS o, sb.s FROM u JOIN sb ON sb.user_id = u.user_id), " +
        "m2 AS (SELECT s, CAST(sum(CASE WHEN arm AND o THEN 1 ELSE 0 END) AS DOUBLE) AS ad, " +
        "CAST(sum(CASE WHEN arm AND NOT o THEN 1 ELSE 0 END) AS DOUBLE) AS bd, " +
        "CAST(sum(CASE WHEN NOT arm AND o THEN 1 ELSE 0 END) AS DOUBLE) AS cd, " +
        "CAST(sum(CASE WHEN NOT arm AND NOT o THEN 1 ELSE 0 END) AS DOUBLE) AS dd FROM mu GROUP BY 1), " +
        "mx AS (SELECT *, ad + bd + cd + dd AS n FROM m2), " +
        s"mm AS (SELECT count(*) AS n_strata, ${snap("ad * dd / n")} AS sr, ${snap("bd * cd / n")} AS ss, " +
        s"${snap("CASE WHEN n > 1 THEN ad ELSE CAST(0 AS DOUBLE) END")} AS sa, " +
        s"${snap("CASE WHEN n > 1 THEN (ad + bd) * (ad + cd) / n ELSE CAST(0 AS DOUBLE) END")} AS se_a, " +
        s"${snap("CASE WHEN n > 1 THEN (ad + bd) * (cd + dd) * (ad + cd) * (bd + dd) / (n * n * (n - 1)) ELSE CAST(0 AS DOUBLE) END")} AS sv, " +
        s"${snap("((ad + dd) / n) * (ad * dd / n)")} AS spr, " +
        s"${snap("((ad + dd) / n) * (bd * cd / n) + ((bd + cd) / n) * (ad * dd / n)")} AS spsqr, " +
        s"${snap("((bd + cd) / n) * (bd * cd / n)")} AS sqs FROM mx), " +
        "mo AS (SELECT *, CASE WHEN ss > CAST(0 AS DOUBLE) AND sr > CAST(0 AS DOUBLE) THEN sr / ss END AS ormh, " +
        "CASE WHEN ss > CAST(0 AS DOUBLE) AND sr > CAST(0 AS DOUBLE) THEN " +
        "spr / (2 * sr * sr) + spsqr / (2 * sr * ss) + sqs / (2 * ss * ss) END AS varln, " +
        "CASE WHEN sv > CAST(0 AS DOUBLE) THEN (sa - se_a) * (sa - se_a) / sv END AS chi2 FROM mm), " +
        "my AS (SELECT *, sqrt(chi2) / sqrt(CAST(2 AS DOUBLE)) AS yv FROM mo), " +
        "mz AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * yv) AS tt FROM my) " +
        "SELECT n_strata, round(ormh, 6) AS or_mh, " +
        "round(ormh * exp(CAST(-1.959964 AS DOUBLE) * sqrt(varln)), 6) AS ci_lo, " +
        "round(ormh * exp(CAST(1.959964 AS DOUBLE) * sqrt(varln)), 6) AS ci_hi, " +
        "round(chi2, 6) AS chi2, " +
        "round(tt * (CAST(0.254829592 AS DOUBLE) + tt * (CAST(-0.284496736 AS DOUBLE) + tt * (CAST(1.421413741 AS DOUBLE) + " +
        "tt * (CAST(-1.453152027 AS DOUBLE) + tt * CAST(1.061405429 AS DOUBLE))))) * exp(-(yv * yv)), 6) AS p_value " +
        "FROM mz"
    },
    "q264_msprt" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // per-user post-period snapped y totals; one moment pass; log-
      // space mixture likelihood ratio, p = exp(min(0, -lnLambda))
      "WITH pu AS (SELECT user_id, " +
        "CAST(sum(CAST(floor((CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS y, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS a " +
        "FROM events GROUP BY 1), " +
        "mm AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
        s"${snap("CASE WHEN a THEN y ELSE CAST(0 AS DOUBLE) END")} AS sya, " +
        s"${snap("CASE WHEN a THEN y * y ELSE CAST(0 AS DOUBLE) END")} AS syya, " +
        s"${snap("CASE WHEN NOT a THEN y ELSE CAST(0 AS DOUBLE) END")} AS syb, " +
        s"${snap("CASE WHEN NOT a THEN y * y ELSE CAST(0 AS DOUBLE) END")} AS syyb FROM pu), " +
        "mv AS (SELECT *, CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd FROM mm), " +
        "mw AS (SELECT *, sya / nad - syb / nbd AS diff, " +
        "((syya - sya * sya / nad) + (syyb - syb * syb / nbd)) / (nad + nbd - 2) * (1 / nad + 1 / nbd) AS v FROM mv), " +
        "mt AS (SELECT *, 0.5 * ln(v / (v + 1)) + diff * diff * 1 / (2 * v * (v + 1)) AS lnlam, " +
        "na > 0 AND nb > 0 AND nad + nbd > 2 AND v > CAST(0 AS DOUBLE) AS ok FROM mw) " +
        "SELECT na AS n_a, nb AS n_b, " +
        "round(CASE WHEN ok THEN diff END, 6) AS mean_diff, " +
        "round(CASE WHEN ok THEN lnlam END, 6) AS log_lambda, " +
        "round(CASE WHEN ok THEN exp(least(CAST(0 AS DOUBLE), -lnlam)) END, 6) AS p_always_valid " +
        "FROM mt"
    },
    "q265_good_turing" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // 3-gram shingle species; collection count spectrum capped at
      // r <= 50 (+1 for the lead); Gale-Sampson Z with neighbor
      // counts; snapped log-log OLS; both the raw Turing estimate
      // (NULL on spectrum gaps) and the LGT
      "WITH gtk AS (SELECT doc_id, string_split(text, ' ') AS tt FROM documents), " +
        "tok AS (SELECT doc_id, array_to_string(tt[i:i+2], ' ') AS term " +
        "FROM gtk, unnest(generate_series(1, len(tt) - 2)) AS gu(i)), " +
        "gt0 AS (SELECT term, count(*) AS r FROM tok GROUP BY 1), " +
        "gtt AS (SELECT CAST(sum(r) AS BIGINT) AS nt, CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1 FROM gt0), " +
        "gs AS (SELECT r, count(*) AS n_r FROM gt0 WHERE r <= 51 GROUP BY 1), " +
        "gz AS (SELECT *, coalesce(lag(r) OVER (ORDER BY r), 0) AS q, " +
        "lead(r) OVER (ORDER BY r) AS tn, lead(n_r) OVER (ORDER BY r) AS nn FROM gs), " +
        "g2 AS (SELECT *, coalesce(tn, 2 * r - q) AS t FROM gz), " +
        "g3 AS (SELECT *, CAST(n_r AS DOUBLE) / (0.5 * CAST(t - q AS DOUBLE)) AS z FROM g2 WHERE r <= 50), " +
        s"gf AS (SELECT count(*) AS n, ${snap("ln(CAST(r AS DOUBLE))")} AS sx, ${snap("ln(z)")} AS sy, " +
        s"${snap("ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))")} AS sxx, " +
        s"${snap("ln(CAST(r AS DOUBLE)) * ln(z)")} AS sxy FROM g3), " +
        "gb AS (SELECT *, CAST(n AS DOUBLE) * sxx - sx * sx AS vx FROM gf), " +
        "gc AS (SELECT *, (CAST(n AS DOUBLE) * sxy - sx * sy) / vx AS b FROM gb), " +
        "gd AS (SELECT *, (sy - b * sx) / CAST(n AS DOUBLE) AS a FROM gc) " +
        "SELECT r, n_r, " +
        "round(CASE WHEN tn = r + 1 THEN (CAST(r AS DOUBLE) + 1) * CAST(nn AS DOUBLE) / CAST(n_r AS DOUBLE) END, 6) AS r_star, " +
        "round(CASE WHEN n >= 2 AND vx > CAST(0 AS DOUBLE) THEN " +
        "(CAST(r AS DOUBLE) + 1) * exp(a + b * ln(CAST(r AS DOUBLE) + 1)) / exp(a + b * ln(CAST(r AS DOUBLE))) END, 6) AS r_star_lgt, " +
        "round(CAST(n1 AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS p_unseen " +
        "FROM g3 CROSS JOIN gd CROSS JOIN gtt"
    },
    "q266_burstiness" ->
      // per-term exact integer moments over per-doc counts (zero docs
      // count via D in the denominators); top-20 by collection freq
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "bt AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "bp AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf, count(*) AS df, " +
        "CAST(sum(tf * tf) AS BIGINT) AS stf2 FROM bt GROUP BY 1), " +
        "bd AS (SELECT count(*) AS nd FROM documents) " +
        "SELECT term, ctf, df, " +
        "round((CAST(stf2 AS DOUBLE) / CAST(nd AS DOUBLE) - " +
        "(CAST(ctf AS DOUBLE) / CAST(nd AS DOUBLE)) * (CAST(ctf AS DOUBLE) / CAST(nd AS DOUBLE))) / " +
        "(CAST(ctf AS DOUBLE) / CAST(nd AS DOUBLE)), 6) AS vmr " +
        "FROM bp CROSS JOIN bd ORDER BY ctf DESC, term LIMIT 20"),
    "q267_design_effect" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // per-user (m, snapped moment) rollup -> one-way ANOVA -> Kish
      // deff / ICC / ESS with the NULL-for-undefined guards
      "WITH dp AS (SELECT user_id AS c, count(*) AS m, " +
        s"${snap("value")} AS sy, ${snap("value * value")} AS syy FROM events GROUP BY 1), " +
        "ds AS (SELECT count(*) AS k, CAST(sum(m) AS BIGINT) AS n, CAST(sum(m * m) AS BIGINT) AS smm, " +
        s"${snap("sy")} AS syt, ${snap("syy")} AS syyt, ${snap("sy * sy / CAST(m AS DOUBLE)")} AS sb FROM dp), " +
        "de AS (SELECT *, CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd, " +
        "CAST(smm AS DOUBLE) / CAST(n AS DOUBLE) AS mkish FROM ds), " +
        "dff AS (SELECT *, (sb - syt * syt / nd) / (kd - 1) AS msb, " +
        "(syyt - sb) / (nd - kd) AS msw, (nd - mkish) / (kd - 1) AS n0 FROM de), " +
        "dg AS (SELECT *, (msb - msw) / n0 AS sb2 FROM dff), " +
        "dh AS (SELECT *, CASE WHEN sb2 + msw <> CAST(0 AS DOUBLE) THEN sb2 / (sb2 + msw) END AS icc, " +
        "k >= 2 AND n > k AS ok FROM dg), " +
        "di AS (SELECT *, 1 + (mkish - 1) * icc AS deff FROM dh) " +
        "SELECT k AS n_clusters, n AS n_units, round(mkish, 6) AS m_kish, " +
        "round(CASE WHEN ok THEN icc END, 6) AS icc, " +
        "round(CASE WHEN ok THEN deff END, 6) AS deff, " +
        "round(CASE WHEN ok AND deff > CAST(0 AS DOUBLE) THEN nd / deff END, 6) AS ess " +
        "FROM di"
    },
    "q268_winnowing" ->
      // char-8-gram md5 hashes; per-window-of-4 min with rightmost tie
      // via the h*2^21 + (2^20 - pos) encoding; df-capped fingerprint
      // equi-join, >= 5 shared
      ("WITH wd AS (SELECT doc_id, substr(text, 1, 1048576) AS s FROM documents), " +
        "wg AS (SELECT doc_id, i, " +
        "CAST(('0x' || substr(md5(substr(s, CAST(i AS INT), 8)), 1, 8)) AS BIGINT) * 2097152 + (1048576 - i) AS e " +
        "FROM wd, unnest(generate_series(1, CAST(length(s) AS BIGINT) - 7)) AS wu(i)), " +
        "ww AS (SELECT doc_id, " +
        "min(e) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS me, " +
        "count(*) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c FROM wg), " +
        "wf AS (SELECT DISTINCT doc_id, me FROM ww WHERE c = 4), " +
        "wh AS (SELECT DISTINCT doc_id, me // 2097152 AS h FROM wf), " +
        "wdf AS (SELECT h, count(*) AS df FROM wh GROUP BY 1), " +
        "wk AS (SELECT wh.doc_id, wh.h FROM wh JOIN wdf USING (h) WHERE df <= 20) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared " +
        "FROM wk a JOIN wk b ON a.h = b.h AND a.doc_id < b.doc_id " +
        "GROUP BY 1, 2 HAVING count(*) >= 5"),
    "q269_rbo" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // both rankings replayed (the q25 exact-cosine and q145 SQ8
      // stanzas); each shared item contributes the closed tail
      // constant for depth max(rankA, rankB) — the SAME doubles the
      // operator uses (exact-decimal p^i, fixed-order sum)
      val tails = ops.Ann.rboTails(10, 0.9)
      val tailCase = (1 to 10).map(i =>
        s"WHEN $i THEN CAST(${tails(i - 1)} AS DOUBLE)")
        .mkString("CASE m ", " ", " END")
      "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "st AS (SELECT i, min(x) AS mn, max(x) AS mx FROM " +
        "(SELECT unnest(e) AS x, generate_subscripts(e, 1) AS i FROM v) GROUP BY 1), " +
        "sc AS (SELECT list(mn ORDER BY i) AS mnl, " +
        "list(CASE WHEN mx > mn THEN (mx - mn)/255 ELSE 0 END ORDER BY i) AS scl FROM st), " +
        "rec AS (SELECT vec_id, list_transform(list_zip(e, mnl, scl), " +
        "t -> CASE WHEN t[3] = 0 THEN t[2] ELSE t[2] + " +
        "(CAST(least(greatest(floor((t[1] - t[2]) / t[3]), 0), 255) AS INTEGER) + 0.5) * t[3] END) AS r " +
        "FROM v CROSS JOIN sc), " +
        "q8 AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5), " +
        "d8 AS (SELECT q8.q_id, rec.vec_id AS n_id, " +
        "CAST(floor(list_sum(list_transform(list_zip(rec.r, q8.qv), " +
        "t -> (t[1]-t[2])*(t[1]-t[2])))*1000000 + 0.5) AS BIGINT) AS dl " +
        "FROM rec JOIN q8 ON rec.vec_id <> q8.q_id), " +
        "r8 AS (SELECT q_id, n_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY dl, n_id) AS rb FROM d8), " +
        "cq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5), " +
        "cc AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), " +
        "cs AS (SELECT q_id, n_id, round(list_dot_product(cv, qv) / " +
        "nullif(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 0), 6) AS cos " +
        "FROM cq JOIN cc ON n_id <> q_id), " +
        "cr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS ra FROM cs), " +
        "mm AS (SELECT cr.q_id, greatest(ra, rb) AS m FROM cr JOIN r8 " +
        "ON cr.q_id = r8.q_id AND cr.n_id = r8.n_id WHERE ra <= 10 AND rb <= 10), " +
        s"tc AS (SELECT q_id, count(*) AS n_shared, ${snap(tailCase)} AS s FROM mm GROUP BY 1), " +
        "bq AS (SELECT DISTINCT q_id FROM cr WHERE ra <= 10) " +
        "SELECT bq.q_id, coalesce(tc.n_shared, 0) AS n_shared, " +
        s"round(CAST(${(1.0 - 0.9) / 0.9} AS DOUBLE) * coalesce(tc.s, CAST(0 AS DOUBLE)), 6) AS rbo " +
        "FROM bq LEFT JOIN tc USING (q_id)"
    },
    "q270_best_of_n" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      def choose(a: Int, b: Int): Long =
        if (b < 0 || b > a) 0L
        else (1 to b).foldLeft(1L)((acc, j) => acc * (a - b + j) / j)
      // md5 min-20 sample per task; order-statistics weights as EXACT
      // small-long list literals; one snapped weighted sum per (task, n)
      val blocks = Seq(1, 5, 10).map { n =>
        val nums = (1 to 20).map(i => choose(i - 1, n - 1)).mkString("[", ", ", "]")
        val dens = (1 to 20).map(m => choose(m, n)).mkString("[", ", ", "]")
        s"SELECT t AS grp, $n AS n, m AS n_samples, " +
          s"round(CASE WHEN m >= $n THEN ${snap(
            s"CASE WHEN i >= $n THEN CAST(list_extract($nums, CAST(i AS INT)) AS DOUBLE) / " +
              s"CAST(list_extract($dens, CAST(m AS INT)) AS DOUBLE) * s ELSE CAST(0 AS DOUBLE) END")} END, 6) AS bon_est " +
          "FROM bp GROUP BY 1, 2, 3"
      }
      "WITH bs AS (SELECT event_type AS t, event_id AS id, value AS s, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS hr FROM events), " +
        "bp AS (SELECT t, id, s, row_number() OVER (PARTITION BY t ORDER BY s, id) AS i, " +
        "count(*) OVER (PARTITION BY t) AS m FROM bs WHERE hr <= 20) " +
        blocks.mkString(" UNION ALL ")
    },
    "q271_entropy_rate" ->
      // H = ln N − (Σ c·ln c)/N (the q104 trick, nats) over unigram
      // and bigram counts; F2 = H2 − H1; redundancy = 1 − F2/ln V
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "eu AS (SELECT term, count(*) AS uc FROM tok GROUP BY 1), " +
        "etk AS (SELECT doc_id, string_split(text, ' ') AS tt FROM documents), " +
        "ebg AS (SELECT array_to_string(tt[i:i+1], ' ') AS bigram " +
        "FROM etk, unnest(generate_series(1, len(tt) - 1)) AS eu2(i)), " +
        "eb AS (SELECT bigram, count(*) AS bc FROM ebg GROUP BY 1), " +
        "ua AS (SELECT count(*) AS vocab, CAST(sum(uc) AS BIGINT) AS n, " +
        "CAST(sum(CAST(floor(CAST(uc AS DOUBLE) * ln(CAST(uc AS DOUBLE)) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s1 FROM eu), " +
        "ba AS (SELECT CAST(sum(bc) AS BIGINT) AS nb, " +
        "CAST(sum(CAST(floor(CAST(bc AS DOUBLE) * ln(CAST(bc AS DOUBLE)) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s2 FROM eb), " +
        "ha AS (SELECT *, ln(CAST(n AS DOUBLE)) - s1 / CAST(n AS DOUBLE) AS h1, " +
        "ln(CAST(nb AS DOUBLE)) - s2 / CAST(nb AS DOUBLE) AS h2 FROM ua CROSS JOIN ba) " +
        "SELECT vocab, n AS n_tokens, nb AS n_bigrams, " +
        "round(h1, 6) AS h_unigram, round(h2, 6) AS h_bigram, " +
        "round(h2 - h1, 6) AS h_cond, " +
        "round(CASE WHEN vocab > 1 THEN 1 - (h2 - h1) / ln(CAST(vocab AS DOUBLE)) END, 6) AS redundancy " +
        "FROM ha"),
    "q272_zonemap_advisor" ->
      // equal-width zones under arrival-id vs value-sorted layouts;
      // md5 min-20 probes on the exact 2-dp integer key; scan_frac =
      // containment hits / (zones x probes)
      ("WITH zb AS (SELECT event_id AS aid, value AS v FROM events WHERE value IS NOT NULL), " +
        "zs AS (SELECT max(aid) AS amax, min(v) AS vmin, max(v) AS vmax FROM zb), " +
        "za AS (SELECT 'arrival' AS layout, " +
        "CAST(least(floor(CAST(aid AS DOUBLE) * 32 / (CAST(amax AS DOUBLE) + 1)), 31) AS BIGINT) AS seg, v FROM zb CROSS JOIN zs " +
        "UNION ALL SELECT 'sorted' AS layout, " +
        "CAST(CASE WHEN vmax > vmin THEN least(floor((v - vmin) / (vmax - vmin) * 32), 31) ELSE 0 END AS BIGINT) AS seg, v FROM zb CROSS JOIN zs), " +
        "zz AS (SELECT layout, seg, min(v) AS zmin, max(v) AS zmax FROM za GROUP BY 1, 2), " +
        "zp AS (SELECT CAST(pk AS DOUBLE) / 100 AS pv FROM " +
        "(SELECT DISTINCT CAST(floor(v * 100 + 0.5) AS BIGINT) AS pk FROM zb) " +
        "ORDER BY md5(CAST(pk AS VARCHAR)), pk LIMIT 20) " +
        "SELECT layout, count(DISTINCT seg) AS n_segments, count(DISTINCT pv) AS n_probes, " +
        "round(CAST(sum(CASE WHEN pv >= zmin AND pv <= zmax THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(DISTINCT seg) * count(DISTINCT pv) AS DOUBLE), 6) AS scan_frac " +
        "FROM zz CROSS JOIN zp GROUP BY 1"),
    "q273_data_constrained" ->
      // per-source unique tokens; equal split of 100k; R = epochs
      // beyond the first; D' = min(U + U·R*(1−exp(−R/R*)), alloc),
      // R* = 15 (the paper's fitted constant)
      ("WITH dc AS (SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents), " +
        "dp AS (SELECT source, CAST(sum(nt) AS BIGINT) AS u FROM dc GROUP BY 1), " +
        "dn AS (SELECT count(*) AS k FROM dp), " +
        "dx AS (SELECT source, u, CAST(100000 AS DOUBLE) / CAST(k AS DOUBLE) AS alloc, " +
        "CAST(u AS DOUBLE) AS ud FROM dp CROSS JOIN dn), " +
        "dy AS (SELECT *, greatest(CAST(0 AS DOUBLE), alloc / ud - 1) AS r FROM dx), " +
        "dz AS (SELECT *, CASE WHEN u > 0 THEN " +
        "least(ud + ud * 15 * (1 - exp(-r / 15)), alloc) END AS deff FROM dy) " +
        "SELECT source, u AS unique_tokens, round(alloc, 6) AS budget_tokens, " +
        "round(CASE WHEN u > 0 THEN r END, 6) AS repeats, " +
        "round(deff, 6) AS effective_tokens, " +
        "round(deff / alloc, 6) AS efficiency FROM dz"),
    "q274_hedges_g" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // one snapped moment pass; d = diff/s_pooled, J small-sample
      // correction, Borenstein se, 95% CI
      "WITH pu AS (SELECT user_id, " +
        "CAST(sum(CAST(floor((CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS y, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS a " +
        "FROM events GROUP BY 1), " +
        "hm AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
        s"${snap("CASE WHEN a THEN y ELSE CAST(0 AS DOUBLE) END")} AS sya, " +
        s"${snap("CASE WHEN a THEN y * y ELSE CAST(0 AS DOUBLE) END")} AS syya, " +
        s"${snap("CASE WHEN NOT a THEN y ELSE CAST(0 AS DOUBLE) END")} AS syb, " +
        s"${snap("CASE WHEN NOT a THEN y * y ELSE CAST(0 AS DOUBLE) END")} AS syyb FROM pu), " +
        "hv AS (SELECT *, CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd FROM hm), " +
        "hw AS (SELECT *, sya / nad - syb / nbd AS diff, nad + nbd - 2 AS df, " +
        "((syya - sya * sya / nad) + (syyb - syb * syb / nbd)) / (nad + nbd - 2) AS s2 FROM hv), " +
        "hx AS (SELECT *, diff / sqrt(s2) AS d, 1 - 3 / (4 * df - 1) AS j FROM hw), " +
        "hy AS (SELECT *, j * d AS g FROM hx), " +
        "hz AS (SELECT *, sqrt((nad + nbd) / (nad * nbd) + g * g / (2 * (nad + nbd))) AS se, " +
        "na > 0 AND nb > 0 AND df > 0 AND s2 > CAST(0 AS DOUBLE) AS ok FROM hy) " +
        "SELECT na AS n_a, nb AS n_b, " +
        "round(CASE WHEN ok THEN diff END, 6) AS mean_diff, " +
        "round(CASE WHEN ok THEN d END, 6) AS d_cohen, " +
        "round(CASE WHEN ok THEN g END, 6) AS g_hedges, " +
        "round(CASE WHEN ok THEN se END, 6) AS se, " +
        "round(CASE WHEN ok THEN g - CAST(1.959964 AS DOUBLE) * se END, 6) AS ci_lo, " +
        "round(CASE WHEN ok THEN g + CAST(1.959964 AS DOUBLE) * se END, 6) AS ci_hi " +
        "FROM hz"
    },
    "q275_seasonal_mase" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // DENSE daily counts (zero-event days = 0 — lag is a row offset,
      // so the grid must be contiguous); lag-1 vs lag-7 absolute-error
      // pools, snapped; MASE = MAE(seasonal)/MAE(naive)
      "WITH sdy0 AS (SELECT epoch_us(ts) // 86400000000 AS p, CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1), " +
        "spx AS (SELECT min(p) AS lo, max(p) AS hi FROM sdy0), " +
        "sdy AS (SELECT gx.p, coalesce(y, CAST(0 AS DOUBLE)) AS y " +
        "FROM (SELECT unnest(generate_series(lo, hi)) AS p FROM spx) gx LEFT JOIN sdy0 USING (p)), " +
        "sde AS (SELECT p, y, abs(y - lag(y, 1) OVER (ORDER BY p)) AS e1, " +
        "abs(y - lag(y, 7) OVER (ORDER BY p)) AS es FROM sdy), " +
        s"sdm AS (SELECT count(*) AS n, count(e1) AS n1, count(es) AS ns, " +
        s"${snap("coalesce(e1, CAST(0 AS DOUBLE))")} AS s1, ${snap("coalesce(es, CAST(0 AS DOUBLE))")} AS ss FROM sde), " +
        "sdo AS (SELECT *, CASE WHEN n1 > 0 THEN s1 / CAST(n1 AS DOUBLE) END AS maen, " +
        "CASE WHEN ns > 0 THEN ss / CAST(ns AS DOUBLE) END AS maes FROM sdm) " +
        "SELECT n AS n_periods, round(maen, 6) AS mae_naive, round(maes, 6) AS mae_seasonal, " +
        "round(CASE WHEN maen > CAST(0 AS DOUBLE) THEN maes / maen END, 6) AS mase, " +
        "round(1 - CASE WHEN maen > CAST(0 AS DOUBLE) THEN maes / maen END, 6) AS skill FROM sdo"
    },
    "q276_changepoint" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // CUSUM-normalized binseg: T_s = sqrt(s(n−s)/n)·|meanL−meanR|/sd
      // over snapped prefix sums; argmax by (T desc, p asc)
      "WITH sdy AS (SELECT epoch_us(ts) // 86400000000 AS p, CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1), " +
        "cb AS (SELECT p, y, row_number() OVER (ORDER BY p) AS i, " +
        "CAST(sum(CAST(floor(y * 1000000000 + 0.5) AS DECIMAL(38,0))) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000 AS cs FROM sdy), " +
        s"ct AS (SELECT count(*) AS n, ${snap("y")} AS sy, ${snap("y * y")} AS syy FROM sdy), " +
        "cu AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM ct), " +
        "cv AS (SELECT *, CASE WHEN nd > 1 AND sqrt((syy - sy * sy / nd) / (nd - 1)) > CAST(0 AS DOUBLE) " +
        "THEN sqrt((syy - sy * sy / nd) / (nd - 1)) END AS sdv FROM cu), " +
        "cw AS (SELECT cb.p, cb.i, cv.n, " +
        "round(sqrt(CAST(cb.i AS DOUBLE) * (cv.nd - CAST(cb.i AS DOUBLE)) / cv.nd) * " +
        "abs(cb.cs / CAST(cb.i AS DOUBLE) - (cv.sy - cb.cs) / (cv.nd - CAST(cb.i AS DOUBLE))) / cv.sdv, 6) AS t, " +
        "round(cb.cs / CAST(cb.i AS DOUBLE), 6) AS ml, " +
        "round((cv.sy - cb.cs) / (cv.nd - CAST(cb.i AS DOUBLE)), 6) AS mr " +
        "FROM cb CROSS JOIN cv WHERE cb.i < cv.n) " +
        "SELECT n AS n_periods, " +
        "CASE WHEN n >= 4 AND t IS NOT NULL THEN p END AS split_period, " +
        "CASE WHEN n >= 4 THEN t END AS t_stat, " +
        "CASE WHEN n >= 4 AND t IS NOT NULL THEN ml END AS mean_before, " +
        "CASE WHEN n >= 4 AND t IS NOT NULL THEN mr END AS mean_after " +
        "FROM (SELECT * FROM cw ORDER BY t DESC NULLS LAST, p LIMIT 1)"
    },
    "q277_hits" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // two unrolled HITS rounds from h = 1, each score L1-normalized
      // on the snapped total and 6-dp-snapped; MATERIALIZED hints on
      // every multi-referenced CTE (the q188 lesson)
      def norm(raw: String, prev: String, out: String, keyIn: String,
          keyOut: String): String =
        s"${raw}r AS MATERIALIZED (SELECT e.$keyOut AS id, " +
          s"${snap9(s"$prev.v")} AS s FROM e JOIN $prev ON $prev.id = e.$keyIn GROUP BY 1), " +
          s"${raw}z AS (SELECT ${snap9("s")} AS z FROM ${raw}r), " +
          s"$out AS MATERIALIZED (SELECT nodes.id, " +
          s"floor((CASE WHEN z > CAST(0 AS DOUBLE) THEN coalesce(s, CAST(0 AS DOUBLE)) / z ELSE CAST(0 AS DOUBLE) END) * 1000000 + 0.5) / 1000000 AS v " +
          s"FROM nodes CROSS JOIN ${raw}z LEFT JOIN ${raw}r ON ${raw}r.id = nodes.id)"
      "WITH e AS MATERIALIZED (SELECT DISTINCT l_partkey * 10 AS src, l_suppkey * 10 + 1 AS dst FROM lineitem), " +
        "nodes AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e), " +
        "h0 AS MATERIALIZED (SELECT id, CAST(1 AS DOUBLE) AS v FROM nodes), " +
        norm("a1", "h0", "a1", "src", "dst") + ", " +
        norm("h1", "a1", "h1", "dst", "src") + ", " +
        norm("a2", "h1", "a2", "src", "dst") + ", " +
        norm("h2", "a2", "h2", "dst", "src") + " " +
        "SELECT h2.id, h2.v AS hub, a2.v AS authority FROM h2 JOIN a2 ON a2.id = h2.id"
    },
    "q278_clustering_coef" ->
      // q94's oriented-wedge triangle replay + degree rollup;
      // coef = tri/(deg(deg−1))·2, NULL when deg < 2
      ("WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0), " +
        "e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi FROM li a " +
        "JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "deg AS MATERIALIZED (SELECT n, count(*) AS d FROM " +
        "(SELECT lo AS n FROM e UNION ALL SELECT hi FROM e) GROUP BY 1), " +
        "fwd AS MATERIALIZED (SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND lo < hi) THEN lo ELSE hi END AS u, " +
        "CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND lo < hi) THEN hi ELSE lo END AS v " +
        "FROM e JOIN deg d1 ON d1.n = e.lo JOIN deg d2 ON d2.n = e.hi), " +
        "tri AS (SELECT f1.u AS a, f1.v AS b, f2.v AS c FROM fwd f1 " +
        "JOIN fwd f2 ON f2.u = f1.v " +
        "WHERE EXISTS (SELECT 1 FROM fwd f3 WHERE f3.u = f1.u AND f3.v = f2.v)), " +
        "tc AS (SELECT node, count(*) AS triangles FROM " +
        "(SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY 1) " +
        "SELECT deg.n AS node, deg.d AS degree, coalesce(tc.triangles, 0) AS triangles, " +
        "round(CASE WHEN deg.d >= 2 THEN CAST(coalesce(tc.triangles, 0) AS DOUBLE) / CAST(deg.d * (deg.d - 1) AS DOUBLE) * 2 END, 6) AS coef " +
        "FROM deg LEFT JOIN tc ON tc.node = deg.n"),
    "q279_kendall_tau" ->
      // weighted distinct-(x,y) groups; unordered distinct-group pairs
      // once by struct order; tau-b with exact integer tie corrections
      ("WITH kp AS (SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens FROM documents GROUP BY 1), " +
        "kg AS (SELECT CAST(n_docs AS DOUBLE) AS x, CAST(n_tokens AS DOUBLE) AS y, count(*) AS w FROM kp " +
        "WHERE n_docs IS NOT NULL AND n_tokens IS NOT NULL GROUP BY 1, 2), " +
        "kpr AS (SELECT a.x AS xa, a.y AS ya, a.w AS wa, b.x AS xb, b.y AS yb, b.w AS wb " +
        "FROM kg a JOIN kg b ON (a.x, a.y) < (b.x, b.y)), " +
        "km AS (SELECT coalesce(sum(CASE WHEN (xa - xb) * (ya - yb) > CAST(0 AS DOUBLE) THEN wa * wb ELSE 0 END), 0) AS c, " +
        "coalesce(sum(CASE WHEN (xa - xb) * (ya - yb) < CAST(0 AS DOUBLE) THEN wa * wb ELSE 0 END), 0) AS d, " +
        "coalesce(sum(CASE WHEN xa = xb THEN wa * wb ELSE 0 END), 0) AS tx, " +
        "coalesce(sum(CASE WHEN ya = yb THEN wa * wb ELSE 0 END), 0) AS ty FROM kpr), " +
        "kt AS (SELECT count(*) AS ng, CAST(sum(w) AS BIGINT) AS n, " +
        "CAST(sum(w * (w - 1) // 2) AS BIGINT) AS txy FROM kg), " +
        "kx AS (SELECT *, CAST(n * (n - 1) // 2 AS DOUBLE) AS n0, " +
        "CAST(tx + txy AS DOUBLE) AS n1, CAST(ty + txy AS DOUBLE) AS n2 FROM km CROSS JOIN kt) " +
        "SELECT n, CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant, " +
        "round(CASE WHEN sqrt((n0 - n1) * (n0 - n2)) > CAST(0 AS DOUBLE) THEN " +
        "CAST(c - d AS DOUBLE) / sqrt((n0 - n1) * (n0 - n2)) END, 6) AS tau_b FROM kx"),
    "q280_newcombe_ci" ->
      // per-arm Wilson bounds composed by Newcombe's square-and-add
      (s"WITH $survivalUnitsCte, " +
        "nm AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
        "CAST(sum(CASE WHEN a AND e THEN 1 ELSE 0 END) AS BIGINT) AS sa, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
        "CAST(sum(CASE WHEN NOT a AND e THEN 1 ELSE 0 END) AS BIGINT) AS sb FROM u), " +
        "nw AS (SELECT *, CAST(1.959964 AS DOUBLE) * CAST(1.959964 AS DOUBLE) AS z2, " +
        "CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd FROM nm), " +
        "np AS (SELECT *, CAST(sa AS DOUBLE) / nad AS p1, CAST(sb AS DOUBLE) / nbd AS p2 FROM nw), " +
        "nc AS (SELECT *, (p1 + z2 / (2 * nad)) / (1 + z2 / nad) AS c1, " +
        "CAST(1.959964 AS DOUBLE) * sqrt(p1 * (1 - p1) / nad + z2 / (4 * nad * nad)) / (1 + z2 / nad) AS hw1, " +
        "(p2 + z2 / (2 * nbd)) / (1 + z2 / nbd) AS c2, " +
        "CAST(1.959964 AS DOUBLE) * sqrt(p2 * (1 - p2) / nbd + z2 / (4 * nbd * nbd)) / (1 + z2 / nbd) AS hw2 FROM np), " +
        "nb2 AS (SELECT *, c1 - hw1 AS l1, c1 + hw1 AS u1, c2 - hw2 AS l2, c2 + hw2 AS u2, p1 - p2 AS df, " +
        "na > 0 AND nb > 0 AS ok FROM nc) " +
        "SELECT na AS n_a, nb AS n_b, " +
        "round(CASE WHEN ok THEN p1 END, 6) AS rate_a, " +
        "round(CASE WHEN ok THEN p2 END, 6) AS rate_b, " +
        "round(CASE WHEN ok THEN df END, 6) AS diff, " +
        "round(CASE WHEN ok THEN df - sqrt((p1 - l1) * (p1 - l1) + (u2 - p2) * (u2 - p2)) END, 6) AS ci_lo, " +
        "round(CASE WHEN ok THEN df + sqrt((u1 - p1) * (u1 - p1) + (p2 - l2) * (p2 - l2)) END, 6) AS ci_hi " +
        "FROM nb2"),
    "q281_textrank" ->
      // +-2 co-occurrence edges (the q238 positional joins, floor 10),
      // words -> 60-bit md5-prefix ids, the q93 two-round pagerank
      // replay, top-20 by (rank desc, word)
      ("WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        "post AS MATERIALIZED (SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS p FROM s), " +
        "prs AS (SELECT a.term AS center, b.term AS context FROM post a JOIN post b ON b.doc_id = a.doc_id AND b.p = a.p + 1 " +
        "UNION ALL SELECT b.term, a.term FROM post a JOIN post b ON b.doc_id = a.doc_id AND b.p = a.p + 1 " +
        "UNION ALL SELECT a.term, b.term FROM post a JOIN post b ON b.doc_id = a.doc_id AND b.p = a.p + 2 " +
        "UNION ALL SELECT b.term, a.term FROM post a JOIN post b ON b.doc_id = a.doc_id AND b.p = a.p + 2), " +
        "eg AS MATERIALIZED (SELECT center, context FROM prs GROUP BY 1, 2 HAVING count(*) >= 10), " +
        "e AS MATERIALIZED (SELECT DISTINCT CAST(('0x' || substr(md5(center), 1, 15)) AS BIGINT) AS src, " +
        "CAST(('0x' || substr(md5(context), 1, 15)) AS BIGINT) AS dst FROM eg), " +
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM e), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)), " +
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1), " +
        "an AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), " +
        "r0 AS MATERIALIZED (SELECT id, floor(1.0 / n * 1e6 + 0.5) / 1e6 AS rank FROM an CROSS JOIN nn), " +
        "c1 AS (SELECT e.dst AS id, sum(CAST(floor(r0.rank / deg.outdeg * 1e12 + 0.5) / 1e12 AS DECIMAL(28,14))) AS mass " +
        "FROM e JOIN deg ON e.src = deg.src JOIN r0 ON r0.id = e.src GROUP BY 1), " +
        "r1 AS MATERIALIZED (SELECT an.id, floor((0.15 / n + 0.85 * CAST(coalesce(c1.mass, 0) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS rank " +
        "FROM an CROSS JOIN nn LEFT JOIN c1 ON c1.id = an.id), " +
        "c2 AS (SELECT e.dst AS id, sum(CAST(floor(r1.rank / deg.outdeg * 1e12 + 0.5) / 1e12 AS DECIMAL(28,14))) AS mass " +
        "FROM e JOIN deg ON e.src = deg.src JOIN r1 ON r1.id = e.src GROUP BY 1), " +
        "r2 AS (SELECT an.id, floor((0.15 / n + 0.85 * CAST(coalesce(c2.mass, 0) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS rank " +
        "FROM an CROSS JOIN nn LEFT JOIN c2 ON c2.id = an.id), " +
        "wd AS (SELECT DISTINCT center AS word, CAST(('0x' || substr(md5(center), 1, 15)) AS BIGINT) AS id FROM eg) " +
        "SELECT wd.word, r2.rank FROM r2 JOIN wd ON wd.id = r2.id " +
        "ORDER BY r2.rank DESC, wd.word LIMIT 20"),
    "q282_sparse_cosine" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // 3-gram tf-idf over the df-banded [2, 50] term space; snapped
      // dots/norms; 4-dp-rounded cosine thresholded at 0.3
      "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "sh AS (SELECT doc_id, CAST(('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 15)) AS BIGINT) AS g FROM toks, unnest(generate_series(1, len(t) - 2)) AS su(i)), " +
        "tfx AS MATERIALIZED (SELECT doc_id, g, count(*) AS tf FROM sh GROUP BY 1, 2), " +
        "dfx AS (SELECT g, count(*) AS df FROM tfx GROUP BY 1), " +
        "ndx AS (SELECT count(DISTINCT doc_id) AS nd FROM tfx), " +
        "w AS MATERIALIZED (SELECT tfx.doc_id, tfx.g, CAST(tf AS DOUBLE) * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)) AS w " +
        "FROM tfx JOIN dfx USING (g) CROSS JOIN ndx WHERE df >= 2 AND df <= 50), " +
        s"nrm AS MATERIALIZED (SELECT doc_id, ${snap("w * w")} AS n2 FROM w GROUP BY 1), " +
        s"dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ${snap("a.w * b.w")} AS dot " +
        "FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT * FROM (SELECT doc_a, doc_b, round(dot / sqrt(x.n2 * y.n2), 4) AS cos " +
        "FROM dots JOIN nrm x ON x.doc_id = doc_a JOIN nrm y ON y.doc_id = doc_b) " +
        "WHERE cos >= 0.3"
    },
    "q283_cvm_drift" ->
      // pooled distinct-value grid per type; T = nm/N² · Σ w·diff²
      // with diff² snapped at 1e9 times the EXACT integer multiplicity
      // (DECIMAL(18)×DECIMAL(18) product — both engines' width rule)
      ("WITH b0 AS (SELECT event_type AS grp, value AS x, " +
        "CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 " +
        "THEN 'e' ELSE 'a' END AS half FROM events), " +
        "cnt AS (SELECT grp, x, CAST(sum(CASE WHEN half = 'e' THEN 1 ELSE 0 END) AS BIGINT) AS ce, " +
        "CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca FROM b0 GROUP BY 1, 2), " +
        "tt AS (SELECT grp, CAST(sum(ce) AS BIGINT) AS te, CAST(sum(ca) AS BIGINT) AS ta FROM cnt GROUP BY 1), " +
        "cum AS (SELECT grp, ce, ca, CAST(sum(ce) OVER (PARTITION BY grp ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cce, " +
        "CAST(sum(ca) OVER (PARTITION BY grp ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cca FROM cnt), " +
        "dt AS (SELECT cum.grp, ce, ca, te, ta, " +
        "CAST(cce AS DOUBLE) / CAST(te AS DOUBLE) - CAST(cca AS DOUBLE) / CAST(ta AS DOUBLE) AS d " +
        "FROM cum JOIN tt USING (grp)), " +
        "tm AS (SELECT grp, te, ta, CASE WHEN te > 0 AND ta > 0 THEN " +
        "CAST(ce + ca AS DECIMAL(18,0)) * CAST(floor(d * d * 1000000000 + 0.5) AS DECIMAL(18,0)) END AS term FROM dt), " +
        "ag AS (SELECT grp, max(te) AS n_expected, max(ta) AS n_actual, sum(term) AS s FROM tm GROUP BY 1), " +
        "fin AS (SELECT grp, n_expected, n_actual, " +
        "CASE WHEN n_expected > 0 AND n_actual > 0 THEN " +
        "CAST(n_expected AS DOUBLE) * CAST(n_actual AS DOUBLE) / " +
        "((CAST(n_expected AS DOUBLE) + CAST(n_actual AS DOUBLE)) * (CAST(n_expected AS DOUBLE) + CAST(n_actual AS DOUBLE))) * " +
        "(CAST(s AS DOUBLE) / 1000000000) END AS t FROM ag) " +
        "SELECT grp AS event_type, n_expected, n_actual, round(t, 6) AS t, " +
        "CASE WHEN t IS NOT NULL THEN round(t, 6) > CAST(0.461 AS DOUBLE) END AS reject FROM fin"),
    "q284_wasserstein" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // W1 = Σ_grid |Fe−Fa|·(next_x − x); the last grid point's lead
      // is NULL (both CDFs are 1 past it) and coalesces to 0
      "WITH b0 AS (SELECT event_type AS grp, value AS x, " +
        "CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 " +
        "THEN 'e' ELSE 'a' END AS half FROM events), " +
        "cnt AS (SELECT grp, x, CAST(sum(CASE WHEN half = 'e' THEN 1 ELSE 0 END) AS BIGINT) AS ce, " +
        "CAST(sum(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca FROM b0 GROUP BY 1, 2), " +
        "tt AS (SELECT grp, CAST(sum(ce) AS BIGINT) AS te, CAST(sum(ca) AS BIGINT) AS ta FROM cnt GROUP BY 1), " +
        "cum AS (SELECT grp, x, CAST(sum(ce) OVER (PARTITION BY grp ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cce, " +
        "CAST(sum(ca) OVER (PARTITION BY grp ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cca, " +
        "lead(x, 1) OVER (PARTITION BY grp ORDER BY x) AS nx FROM cnt), " +
        "tm AS (SELECT cum.grp, te, ta, CASE WHEN te > 0 AND ta > 0 THEN " +
        "coalesce(abs(CAST(cce AS DOUBLE) / CAST(te AS DOUBLE) - CAST(cca AS DOUBLE) / CAST(ta AS DOUBLE)) * (nx - x), CAST(0 AS DOUBLE)) END AS term " +
        "FROM cum JOIN tt USING (grp)) " +
        s"SELECT grp AS event_type, max(te) AS n_expected, max(ta) AS n_actual, " +
        s"round(${snap("term")}, 6) AS w1 FROM tm GROUP BY 1"
    },
    "q285_pettitt" ->
      // exact integer U_t via average ranks (2r̄ = 2·#smaller + #equal
      // + 1); K = max|U_t|, argmax as a packed struct max (ties to the
      // earliest day); p = min(1, 2e^(−6K²/(n³+n²)))
      ("WITH sdy AS (SELECT epoch_us(ts) // 86400000000 AS p, CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1), " +
        "pc AS (SELECT y, count(*) AS c FROM sdy GROUP BY 1), " +
        "ps AS (SELECT y, 2 * coalesce(CAST(sum(c) OVER (ORDER BY y " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + c + 1 AS s2r FROM pc), " +
        "pt AS (SELECT count(*) AS n FROM sdy), " +
        "pu AS (SELECT sdy.p, CAST(sum(s2r - (n + 1)) OVER (ORDER BY sdy.p " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS u, " +
        "row_number() OVER (ORDER BY sdy.p) AS i, n " +
        "FROM sdy JOIN ps USING (y) CROSS JOIN pt), " +
        "pv AS (SELECT n, p, abs(u) AS k FROM pu WHERE i < n), " +
        "pw AS (SELECT CAST(coalesce(max(n), 0) AS BIGINT) AS n0, " +
        "max(struct_pack(k := k, np := -p, sp := p)) AS best FROM pv) " +
        "SELECT n0 AS n_periods, " +
        "CASE WHEN n0 >= 2 THEN best.sp END AS split_period, " +
        "CASE WHEN n0 >= 2 THEN best.k END AS k_stat, " +
        "round(CASE WHEN n0 >= 2 THEN least(CAST(1 AS DOUBLE), " +
        "2 * exp(-6 * CAST(best.k AS DOUBLE) * CAST(best.k AS DOUBLE) / " +
        "(CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE) + " +
        "CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)))) END, 6) AS p_value FROM pw"),
    "q286_jarque_bera" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // two passes: snapped Σy/Σy² → (μ, population σ) scalars, then
      // snapped Σz³/Σz⁴ (z·z·z association mirrored); p = e^(−JB/2)
      // is the EXACT χ²(2) survival
      "WITH b0 AS (SELECT event_type AS grp, value AS y FROM events), " +
        s"st AS MATERIALIZED (SELECT grp, count(*) AS n, ${snap("y")} AS sy, ${snap("y * y")} AS syy FROM b0 GROUP BY 1), " +
        "su AS (SELECT grp, n, sy / CAST(n AS DOUBLE) AS mu, " +
        "sqrt((syy - sy * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS sd FROM st), " +
        "zs AS (SELECT b0.grp, n, sd, CASE WHEN sd > CAST(0 AS DOUBLE) THEN (y - mu) / sd END AS z " +
        "FROM b0 JOIN su USING (grp)), " +
        s"m AS (SELECT grp, max(n) AS n, max(sd) AS sd, ${snap("z * z * z")} AS s3, ${snap("z * z * z * z")} AS s4 FROM zs GROUP BY 1), " +
        "f AS (SELECT grp, n, sd, s3 / CAST(n AS DOUBLE) AS skew, s4 / CAST(n AS DOUBLE) AS kurt FROM m), " +
        "g AS (SELECT *, CAST(n AS DOUBLE) / 6 * (skew * skew + (kurt - 3) * (kurt - 3) / 4) AS jb FROM f), " +
        "h AS (SELECT *, exp(-jb / 2) AS pv, n >= 2 AND sd > CAST(0 AS DOUBLE) AS ok FROM g) " +
        "SELECT grp AS event_type, n, " +
        "round(CASE WHEN ok THEN skew END, 6) AS skew, " +
        "round(CASE WHEN ok THEN kurt - 3 END, 6) AS kurt_excess, " +
        "round(CASE WHEN ok THEN jb END, 6) AS jb, " +
        "round(CASE WHEN ok THEN pv END, 6) AS p_value, " +
        "CASE WHEN ok THEN round(pv, 6) < CAST(0.05 AS DOUBLE) END AS reject FROM h"
    },
    "q287_conformal" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // md5 3-way split; ŷ = snapped train mean; residuals 6-dp-rounded
      // BEFORE ranking; q̂ = value at exact cum-count rank
      // ⌈(n_cal+1)(1−α)⌉ (the 1−α multiplier COMPUTED as 1−0.1 so the
      // IEEE product matches Spark's bit-for-bit); cal-starved groups
      // → q̂ NULL, coverage 1
      "WITH cb AS (SELECT event_type AS grp, value AS y, " +
        "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 AS role FROM events), " +
        s"ft AS MATERIALIZED (SELECT grp, count(*) AS n_train, ${snap("y")} / CAST(count(*) AS DOUBLE) AS yhat " +
        "FROM cb WHERE role = 0 GROUP BY 1), " +
        "rs AS MATERIALIZED (SELECT cb.grp, role, n_train, round(abs(y - yhat), 6) AS r " +
        "FROM cb JOIN ft USING (grp) WHERE role > 0), " +
        "cg AS (SELECT grp, r, count(*) AS c FROM rs WHERE role = 1 GROUP BY 1, 2), " +
        "cc AS MATERIALIZED (SELECT grp, r, CAST(sum(c) OVER (PARTITION BY grp ORDER BY r " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
        "CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n_cal FROM cg), " +
        "qh AS (SELECT grp, min(r) AS q_hat FROM cc " +
        "WHERE cum >= CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * (CAST(1 AS DOUBLE) - CAST(0.1 AS DOUBLE))) AS BIGINT) GROUP BY 1), " +
        "na AS (SELECT grp, CAST(max(n_cal) AS BIGINT) AS nc FROM cc GROUP BY 1), " +
        "tv AS (SELECT rs.grp, n_train, nc, r, q_hat " +
        "FROM rs JOIN na USING (grp) LEFT JOIN qh USING (grp) WHERE role = 2) " +
        "SELECT grp AS event_type, CAST(max(n_train) AS BIGINT) AS n_train, " +
        "CAST(max(nc) AS BIGINT) AS n_cal, count(*) AS n_test, max(q_hat) AS q_hat, " +
        "round(CAST(sum(CASE WHEN q_hat IS NULL OR r <= q_hat THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE), 6) AS coverage, " +
        "CAST(1 AS DOUBLE) - CAST(0.1 AS DOUBLE) AS target FROM tv GROUP BY 1"
    },
    "q288_isotonic" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // the q169 confidence stanza, then PAV via the closed-form
      // minimax over the occupied-bin lattice: iso_b =
      // max_{i≤b} min_{j≥b} pooled-rate(i..j) from cumulative
      // integer (n, k) — exact, iteration-free
      (nbHoldoutCte +
        ", mx AS (SELECT doc_id, max(score) AS mx FROM sc GROUP BY 1), " +
        "ex AS (SELECT sc.doc_id, sc.clab, exp(score - mx) AS ex " +
        "FROM sc JOIN mx USING (doc_id)), " +
        "z AS (SELECT doc_id, CAST(sum(CAST(floor(ex * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS z FROM ex GROUP BY 1), " +
        "pp AS (SELECT ex.doc_id, ex.clab, round(ex.ex / z.z, 6) AS prob " +
        "FROM ex JOIN z USING (doc_id)), " +
        "cf AS (SELECT b.doc_id, b.clab AS pred_lab, pp.prob AS conf " +
        "FROM best b JOIN pp ON pp.doc_id = b.doc_id AND pp.clab = b.clab), " +
        "okt AS (SELECT cf.conf, CASE WHEN cf.pred_lab = te.lang THEN 1 ELSE 0 END AS ok " +
        "FROM cf JOIN te USING (doc_id)), " +
        "bb AS (SELECT least(CAST(floor(conf * 10) AS BIGINT), 9) AS bin, conf, ok FROM okt), " +
        s"per AS (SELECT bin, count(*) AS n, CAST(sum(ok) AS BIGINT) AS k, ${snap("conf")} AS sc2 FROM bb GROUP BY 1), " +
        "cum AS MATERIALIZED (SELECT *, CAST(sum(n) OVER (ORDER BY bin " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn, " +
        "CAST(sum(k) OVER (ORDER BY bin " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ck FROM per), " +
        "lo AS (SELECT bin AS i, cn - n AS cn0, ck - k AS ck0 FROM cum), " +
        "hi AS (SELECT bin AS j, cn AS cn1, ck AS ck1 FROM cum), " +
        "pair AS (SELECT i, j, CAST(ck1 - ck0 AS DOUBLE) / CAST(cn1 - cn0 AS DOUBLE) AS m " +
        "FROM lo JOIN hi ON i <= j), " +
        "ax AS (SELECT bin AS b FROM cum), " +
        "inr AS (SELECT b, i, min(m) AS mn FROM pair JOIN ax ON i <= b AND b <= j GROUP BY 1, 2), " +
        "iso AS (SELECT b, max(mn) AS iso FROM inr GROUP BY 1) " +
        "SELECT cum.bin, cum.n AS n_docs, " +
        "round(sc2 / CAST(n AS DOUBLE), 6) AS avg_conf, " +
        "round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate_raw, " +
        "round(iso.iso, 6) AS rate_iso " +
        "FROM cum JOIN iso ON iso.b = cum.bin")
    },
    "q289_ljung_box" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // standardize first (snapped μ/σ scalars), Σz_t·z_{t+k} snapped
      // per lag, r = s_k/s_0, Q cumulative over the 7-row lag axis,
      // published χ² 5% criticals (no CDF approximation)
      "WITH sdy0 AS (SELECT epoch_us(ts) // 86400000000 AS p, CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1), " +
        "spx AS (SELECT min(p) AS lo, max(p) AS hi FROM sdy0), " +
        "sdy AS MATERIALIZED (SELECT gx.p, coalesce(y, CAST(0 AS DOUBLE)) AS y " +
        "FROM (SELECT unnest(generate_series(lo, hi)) AS p FROM spx) gx LEFT JOIN sdy0 USING (p)), " +
        s"stt AS (SELECT count(*) AS n, ${snap("y")} AS sy, ${snap("y * y")} AS syy FROM sdy), " +
        "su AS (SELECT n, sy / CAST(n AS DOUBLE) AS mu, " +
        "sqrt((syy - sy * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)) AS sd FROM stt), " +
        "zi AS MATERIALIZED (SELECT row_number() OVER (ORDER BY p) AS i, n, " +
        "CASE WHEN sd > CAST(0 AS DOUBLE) THEN (y - mu) / sd END AS z FROM sdy CROSS JOIN su), " +
        s"s0 AS (SELECT CAST(max(n) AS BIGINT) AS n, ${snap("z * z")} AS s0 FROM zi), " +
        "lgx AS (SELECT unnest(generate_series(1, 7)) AS lag), " +
        s"skx AS (SELECT lag, ${snap("a.z * b.z")} AS sk " +
        "FROM zi a CROSS JOIN lgx JOIN zi b ON b.i = a.i + lag GROUP BY 1), " +
        "rr AS (SELECT lag, n, sk / s0 AS r, " +
        "CASE WHEN n > lag THEN (sk / s0) * (sk / s0) / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)) END AS term " +
        "FROM skx CROSS JOIN s0), " +
        "qq AS (SELECT lag, r, CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2) * " +
        "sum(term) OVER (ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q0, " +
        "CASE lag WHEN 1 THEN CAST(3.841 AS DOUBLE) WHEN 2 THEN CAST(5.991 AS DOUBLE) " +
        "WHEN 3 THEN CAST(7.815 AS DOUBLE) WHEN 4 THEN CAST(9.488 AS DOUBLE) " +
        "WHEN 5 THEN CAST(11.07 AS DOUBLE) WHEN 6 THEN CAST(12.592 AS DOUBLE) " +
        "WHEN 7 THEN CAST(14.067 AS DOUBLE) END AS crit FROM rr) " +
        "SELECT lag, round(r, 6) AS r, round(q0, 6) AS q, crit, " +
        "CASE WHEN q0 IS NOT NULL THEN round(q0, 6) > crit END AS reject FROM qq"
    },
    "q290_holt" ->
      // the identical snapped (ℓ, b) trajectory as a recursive CTE
      // advancing one day per iteration (the q200 unrolled-recurrence
      // discipline); fpp3 init ℓ₁ = y₁, b₁ = y₂ − y₁; errors from t=3
      ("WITH RECURSIVE sdy0 AS (SELECT epoch_us(ts) // 86400000000 AS p, CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1), " +
        "spx AS (SELECT min(p) AS lo, max(p) AS hi FROM sdy0), " +
        "sdy AS MATERIALIZED (SELECT gx.p, coalesce(y, CAST(0 AS DOUBLE)) AS y " +
        "FROM (SELECT unnest(generate_series(lo, hi)) AS p FROM spx) gx LEFT JOIN sdy0 USING (p)), " +
        "dd AS MATERIALIZED (SELECT row_number() OVER (ORDER BY p) AS i, y FROM sdy), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dd), " +
        "ini AS (SELECT a.y AS y1, b.y AS y2 FROM dd a, dd b WHERE a.i = 1 AND b.i = 2), " +
        "st AS (" +
        "SELECT i, l, floor((CAST(0.3 AS DOUBLE) * (l - y1) + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * b1) * 1000000 + 0.5) / 1000000 AS b, CAST(0 AS DOUBLE) AS sae " +
        "FROM (SELECT CAST(2 AS BIGINT) AS i, y1, b1, " +
        "floor((CAST(0.5 AS DOUBLE) * y2 + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (y1 + b1)) * 1000000 + 0.5) / 1000000 AS l " +
        "FROM (SELECT y1, y2, floor((y2 - y1) * 1000000 + 0.5) / 1000000 AS b1 FROM ini)) " +
        "UNION ALL " +
        "SELECT i2 AS i, l2 AS l, " +
        "floor((CAST(0.3 AS DOUBLE) * (l2 - l0) + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * b0) * 1000000 + 0.5) / 1000000 AS b, sae2 AS sae " +
        "FROM (SELECT st.i + 1 AS i2, st.l AS l0, st.b AS b0, " +
        "floor((CAST(0.5 AS DOUBLE) * d.y + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE)) * (st.l + st.b)) * 1000000 + 0.5) / 1000000 AS l2, " +
        "st.sae + floor(abs(d.y - (st.l + st.b)) * 1000000 + 0.5) / 1000000 AS sae2 " +
        "FROM st JOIN dd d ON d.i = st.i + 1)), " +
        "fin AS (SELECT st.i, st.l, st.b, st.sae FROM st JOIN nn ON st.i = nn.n) " +
        "SELECT nn.n AS n_periods, " +
        "round(CASE WHEN nn.n >= 2 THEN fin.l END, 6) AS level, " +
        "round(CASE WHEN nn.n >= 2 THEN fin.b END, 6) AS trend, " +
        "round(CASE WHEN nn.n >= 2 THEN fin.l + 7 * fin.b END, 6) AS forecast, " +
        "round(CASE WHEN nn.n >= 3 THEN fin.sae / CAST(nn.n - 2 AS DOUBLE) END, 6) AS mae_1step " +
        "FROM nn LEFT JOIN fin ON true"),
    "q291_seasonal_decomp" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // centered MA(7) as a snapped window sum / 7 (NULL off the full
      // window); phase means of the detrended series, centered on the
      // snapped mean of the ≤7 phase means; remainder computed FROM
      // the UNROUNDED trend and the 6-dp seasonal
      "WITH sdy0 AS (SELECT epoch_us(ts) // 86400000000 AS p, CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1), " +
        "spx AS (SELECT min(p) AS lo, max(p) AS hi FROM sdy0), " +
        "sdy AS MATERIALIZED (SELECT gx.p, coalesce(y, CAST(0 AS DOUBLE)) AS y " +
        "FROM (SELECT unnest(generate_series(lo, hi)) AS p FROM spx) gx LEFT JOIN sdy0 USING (p)), " +
        "tr AS (SELECT p, y, count(*) OVER w AS cnt, " +
        "CAST(sum(CAST(floor(y * 1000000000 + 0.5) AS DECIMAL(38,0))) OVER w AS DOUBLE) / 1000000000 / 7 AS ma " +
        "FROM sdy WINDOW w AS (ORDER BY p ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "td AS MATERIALIZED (SELECT p, y, CASE WHEN cnt = 7 THEN ma END AS trend, p % 7 AS phase FROM tr), " +
        "ix AS MATERIALIZED (SELECT phase, CASE WHEN count(y - trend) > 0 THEN " +
        s"${snap("y - trend")} / CAST(count(y - trend) AS DOUBLE) END AS raw FROM td GROUP BY 1), " +
        s"ce AS (SELECT ${snap("raw")} AS sr, count(raw) AS cr FROM ix), " +
        "se AS (SELECT phase, round(raw - sr / CAST(cr AS DOUBLE), 6) AS seasonal FROM ix CROSS JOIN ce) " +
        "SELECT td.p, td.y, round(td.trend, 6) AS trend, td.phase, se.seasonal, " +
        "round(td.y - td.trend - se.seasonal, 6) AS remainder " +
        "FROM td LEFT JOIN se USING (phase)"
    },
    "q292_cartography" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // the q223 one-statement 5-model replay, but each doc scores
      // under the 4 models that TRAINED on it (fold <> f); q169
      // softmax; per-doc mean/std of the true-label posterior,
      // argmax-correct fraction, fixed-threshold regions
      ("WITH folds AS (SELECT range AS f FROM range(5)), " +
        "tok AS (SELECT doc_id, lang AS lab, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "dt AS MATERIALIZED (SELECT doc_id, doc_id % 5 AS fold, lab, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3, 4), " +
        "ct AS MATERIALIZED (SELECT f, lab, term, sum(tf) AS ctf FROM dt CROSS JOIN folds WHERE fold <> f GROUP BY 1, 2, 3), " +
        "vv AS (SELECT f, count(DISTINCT term) AS v FROM ct GROUP BY 1), " +
        "cs AS (SELECT f, lab, sum(ctf) AS ctot FROM ct GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, lang AS lab, doc_id % 5 AS fold FROM documents), " +
        "pr AS (SELECT f, lab, count(*) AS nd FROM dl CROSS JOIN folds WHERE fold <> f GROUP BY 1, 2), " +
        "nt AS (SELECT f, sum(nd) AS ntot FROM pr GROUP BY 1), " +
        "ls AS (SELECT cs.f, cs.lab AS clab, " +
        "ln(CAST(nd AS DOUBLE) / CAST(ntot AS DOUBLE)) AS prior_ln, " +
        "ln(1.0 / CAST(ctot + v AS DOUBLE)) AS lp0 " +
        "FROM cs JOIN pr ON pr.f = cs.f AND pr.lab = cs.lab " +
        "JOIN nt ON nt.f = cs.f JOIN vv ON vv.f = cs.f), " +
        "sv AS MATERIALIZED (SELECT dt.doc_id, dt.lab, dt.term, dt.tf, f FROM dt CROSS JOIN folds WHERE dt.fold <> f), " +
        "seen AS (SELECT sv.f, sv.doc_id, ct.lab AS clab, " +
        s"${snap("CAST(tf AS DOUBLE) * ln(CAST(ctf + 1 AS DOUBLE))")} AS s1 " +
        "FROM sv JOIN ct ON ct.f = sv.f AND ct.term = sv.term GROUP BY 1, 2, 3), " +
        "dn AS (SELECT f, doc_id, lab, sum(tf) AS n_tok FROM sv GROUP BY 1, 2, 3), " +
        "sc AS MATERIALIZED (SELECT dn.f, dn.doc_id, dn.lab, ls.clab, " +
        "round(prior_ln + CAST(n_tok AS DOUBLE) * lp0 + coalesce(s1, 0.0), 4) AS score " +
        "FROM dn JOIN ls ON ls.f = dn.f " +
        "LEFT JOIN seen ON seen.f = dn.f AND seen.doc_id = dn.doc_id AND seen.clab = ls.clab), " +
        "mx AS MATERIALIZED (SELECT f, doc_id, max(score) AS mx FROM sc GROUP BY 1, 2), " +
        s"z AS (SELECT sc.f, sc.doc_id, ${snap("exp(score - mx)")} AS z " +
        "FROM sc JOIN mx USING (f, doc_id) GROUP BY 1, 2), " +
        "pt AS (SELECT sc.f, sc.doc_id, sc.lab, round(exp(score - mx) / z, 6) AS p " +
        "FROM sc JOIN mx USING (f, doc_id) JOIN z USING (f, doc_id) WHERE sc.clab = sc.lab), " +
        "bs AS (SELECT f, doc_id, CASE WHEN clab = lab THEN 1 ELSE 0 END AS ok " +
        "FROM (SELECT *, row_number() OVER (PARTITION BY f, doc_id ORDER BY score DESC, clab) AS rn FROM sc) WHERE rn = 1), " +
        "pl AS (SELECT pt.f, pt.doc_id, pt.lab, CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS pl " +
        "FROM pt), " +
        "per AS (SELECT pl.doc_id, pl.lab, count(*) AS m, CAST(sum(pl) AS BIGINT) AS sp, " +
        "CAST(sum(pl * pl) AS BIGINT) AS spp, CAST(sum(ok) AS BIGINT) AS nok " +
        "FROM pl JOIN bs ON bs.f = pl.f AND bs.doc_id = pl.doc_id GROUP BY 1, 2) " +
        "SELECT doc_id, lab, m AS n_models, " +
        "floor(CAST(sp AS DOUBLE) / CAST(m AS DOUBLE) + 0.5) / 1000000 AS conf, " +
        "floor(sqrt(greatest(CAST(0 AS DOUBLE), CAST(m AS DOUBLE) * CAST(spp AS DOUBLE) - " +
        "CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))) / CAST(m AS DOUBLE) + 0.5) / 1000000 AS variability, " +
        "round(CAST(nok AS DOUBLE) / CAST(m AS DOUBLE), 6) AS correct_frac, " +
        "CASE WHEN floor(CAST(sp AS DOUBLE) / CAST(m AS DOUBLE) + 0.5) / 1000000 >= CAST(0.67 AS DOUBLE) THEN 'easy' " +
        "WHEN floor(CAST(sp AS DOUBLE) / CAST(m AS DOUBLE) + 0.5) / 1000000 <= CAST(0.33 AS DOUBLE) THEN 'hard' " +
        "ELSE 'ambiguous' END AS region FROM per")
    },
    "q293_benford" ->
      // first digit from the exact integer-cents STRING (no log10 at
      // power-of-10 boundaries); expected = ln((d+1)/d)/ln 10; χ²
      // terms snapped at 1e6; verdict at the χ²(8) 5% critical
      ("WITH cx AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS c FROM events), " +
        "bx AS (SELECT CASE WHEN c > 0 THEN CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) END AS d FROM cx), " +
        "per AS (SELECT d, count(*) AS o FROM bx GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(CASE WHEN d IS NOT NULL THEN o ELSE 0 END) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN d IS NULL THEN o ELSE 0 END) AS BIGINT) AS n_skipped FROM per), " +
        "dg AS (SELECT unnest(generate_series(1, 9)) AS digit), " +
        "rws AS (SELECT digit, coalesce(o, 0) AS n_obs, n, n_skipped, " +
        "ln((CAST(digit AS DOUBLE) + 1) / CAST(digit AS DOUBLE)) / ln(CAST(10 AS DOUBLE)) AS pe " +
        "FROM dg LEFT JOIN per ON per.d = dg.digit CROSS JOIN tot), " +
        "sc2 AS MATERIALIZED (SELECT *, CASE WHEN n > 0 THEN CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE) END AS po, " +
        "CASE WHEN n > 0 THEN (CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * pe) * " +
        "(CAST(n_obs AS DOUBLE) - CAST(n AS DOUBLE) * pe) / (CAST(n AS DOUBLE) * pe) END AS term FROM rws), " +
        "ch AS (SELECT CAST(sum(CAST(floor(term * 1000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000 AS chi2 FROM sc2) " +
        "SELECT digit, n_obs, round(pe, 6) AS p_expected, round(po, 6) AS p_observed, " +
        "round(term, 6) AS chi2_term, round(chi2, 6) AS chi2, " +
        "CASE WHEN chi2 IS NOT NULL THEN round(chi2, 6) > CAST(15.507 AS DOUBLE) END AS reject, " +
        "n, n_skipped FROM sc2 CROSS JOIN ch"),
    "q294_theil" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // exact-integer group sizes/sums; per-element entropy terms
      // snapped at 1e9 against the global and the group mean; the
      // |sources|-row decomposition re-snapped
      "WITH bt AS (SELECT source AS g, CAST(len(string_split(text, ' ')) AS BIGINT) AS x FROM documents), " +
        "per AS MATERIALIZED (SELECT g, count(*) AS ng, CAST(sum(x) AS BIGINT) AS xg FROM bt GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(xg) AS BIGINT) AS xt, count(*) AS k FROM per), " +
        "wj AS (SELECT bt.g, bt.x, per.ng, per.xg, tot.n, tot.xt FROM bt JOIN per USING (g) CROSS JOIN tot), " +
        "trm AS MATERIALIZED (SELECT g, " +
        s"${snap("CASE WHEN x > 0 THEN CAST(x AS DOUBLE) / (CAST(xt AS DOUBLE) / CAST(n AS DOUBLE)) * ln(CAST(x AS DOUBLE) / (CAST(xt AS DOUBLE) / CAST(n AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END")} AS tg, " +
        s"${snap("CASE WHEN x > 0 THEN CAST(x AS DOUBLE) / (CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE)) * ln(CAST(x AS DOUBLE) / (CAST(xg AS DOUBLE) / CAST(ng AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END")} AS tw " +
        "FROM wj GROUP BY 1), " +
        "dec AS (SELECT " +
        s"${snap("tg / CAST(n AS DOUBLE)")} AS t_total, " +
        s"${snap("CASE WHEN xg > 0 THEN CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE) * ln((CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE)) / (CAST(ng AS DOUBLE) / CAST(n AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END")} AS t_between, " +
        s"${snap("CAST(xg AS DOUBLE) / CAST(xt AS DOUBLE) * (tw / CAST(ng AS DOUBLE))")} AS t_within, " +
        "CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k " +
        "FROM per JOIN trm USING (g) CROSS JOIN tot) " +
        "SELECT n, k AS n_groups, round(t_total, 6) AS theil_total, " +
        "round(t_between, 6) AS theil_between, round(t_within, 6) AS theil_within, " +
        "round(CASE WHEN t_total > CAST(0 AS DOUBLE) THEN t_between / t_total END, 6) AS between_share FROM dec"
    },
    "q295_chapman" -> {
      val bcols = (0 until 16).map(j =>
        s"sum(CASE WHEN (strpos('0123456789abcdef', substr(h, ${j + 1}, 1)) - 1) % 2 = 1 THEN 1 ELSE -1 END) AS b$j")
        .mkString(", ")
      val bits = (0 until 16).map(j =>
        s"CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
      // catch 1 = the q21 LSH band candidates, catch 2 = exact
      // 16-bit SimHash collisions; Chapman point + Seber variance
      // over the three exact integer counts
      s"WITH $shingleCte, " +
        "tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "tokd AS (SELECT DISTINCT doc_id, tok FROM tok0), " +
        "hh AS (SELECT doc_id, md5(tok) AS h FROM tokd), " +
        s"agg2 AS (SELECT doc_id, $bcols FROM hh GROUP BY 1), " +
        s"sh2 AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM agg2), " +
        "pb AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sh2 a " +
        "JOIN sh2 b ON a.simhash = b.simhash AND a.doc_id < b.doc_id), " +
        "ca2 AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM cands), " +
        "pbd AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM pb), " +
        "nax AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM ca2), " +
        "nbx AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM pbd), " +
        "mx2 AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ca2 JOIN pbd USING (doc_a, doc_b)), " +
        "fx AS (SELECT n1, n2, m, " +
        "(CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1) / (CAST(m AS DOUBLE) + 1) - 1 AS nh, " +
        "sqrt((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1) * (CAST(n1 AS DOUBLE) - CAST(m AS DOUBLE)) * " +
        "(CAST(n2 AS DOUBLE) - CAST(m AS DOUBLE)) / ((CAST(m AS DOUBLE) + 1) * (CAST(m AS DOUBLE) + 1) * (CAST(m AS DOUBLE) + 2))) AS se " +
        "FROM nax CROSS JOIN nbx CROSS JOIN mx2) " +
        "SELECT n1 AS n_a, n2 AS n_b, m AS overlap, round(nh, 6) AS n_hat, " +
        "round(se, 6) AS se, " +
        "round(nh - CAST(1.959964 AS DOUBLE) * se, 6) AS ci_lo, " +
        "round(nh + CAST(1.959964 AS DOUBLE) * se, 6) AS ci_hi FROM fx"
    },
    "q296_youden" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // the q169 confidence stanza → 6-dp score grid, exact reverse-
      // cumulative TP/FP, J = TPR − FPR argmax via the (j, −t) struct
      // max (ties to the LOWEST threshold)
      (nbHoldoutCte +
        ", mx AS (SELECT doc_id, max(score) AS mx FROM sc GROUP BY 1), " +
        "ex AS (SELECT sc.doc_id, sc.clab, exp(score - mx) AS ex " +
        "FROM sc JOIN mx USING (doc_id)), " +
        s"z AS (SELECT doc_id, ${snap("ex")} AS z FROM ex GROUP BY 1), " +
        "pp AS (SELECT ex.doc_id, ex.clab, round(ex.ex / z.z, 6) AS prob " +
        "FROM ex JOIN z USING (doc_id)), " +
        "cf AS (SELECT b.doc_id, b.clab AS pred_lab, pp.prob AS conf " +
        "FROM best b JOIN pp ON pp.doc_id = b.doc_id AND pp.clab = b.clab), " +
        "okt AS (SELECT cf.conf, CASE WHEN cf.pred_lab = te.lang THEN 1 ELSE 0 END AS ok " +
        "FROM cf JOIN te USING (doc_id)), " +
        "g2 AS (SELECT round(conf, 6) AS s, CAST(sum(ok) AS BIGINT) AS np, " +
        "CAST(sum(1 - ok) AS BIGINT) AS nn FROM okt GROUP BY 1), " +
        "tt2 AS (SELECT coalesce(CAST(sum(np) AS BIGINT), 0) AS p, " +
        "coalesce(CAST(sum(nn) AS BIGINT), 0) AS n FROM g2), " +
        "cu2 AS (SELECT s, CAST(sum(np) OVER (ORDER BY s DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp, " +
        "CAST(sum(nn) OVER (ORDER BY s DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp FROM g2), " +
        "cd2 AS (SELECT struct_pack(j := CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) - CAST(fp AS DOUBLE) / CAST(n AS DOUBLE), " +
        "ns := -s, t := s, tp := tp, fp := fp) AS c FROM cu2 CROSS JOIN tt2 " +
        "WHERE CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) - CAST(fp AS DOUBLE) / CAST(n AS DOUBLE) IS NOT NULL), " +
        "bb2 AS (SELECT max(c) AS best FROM cd2), " +
        "fy AS (SELECT p, n, best, p > 0 AND n > 0 AND best IS NOT NULL AS ok FROM tt2 CROSS JOIN bb2) " +
        "SELECT p AS n_pos, n AS n_neg, " +
        "CASE WHEN ok THEN best.t END AS threshold, " +
        "round(CASE WHEN ok THEN CAST(best.tp AS DOUBLE) / CAST(p AS DOUBLE) END, 6) AS tpr, " +
        "round(CASE WHEN ok THEN CAST(best.fp AS DOUBLE) / CAST(n AS DOUBLE) END, 6) AS fpr, " +
        "round(CASE WHEN ok THEN best.j END, 6) AS j, " +
        "round(CASE WHEN ok THEN (CAST(best.tp AS DOUBLE) + (CAST(n AS DOUBLE) - CAST(best.fp AS DOUBLE))) / " +
        "(CAST(p AS DOUBLE) + CAST(n AS DOUBLE)) END, 6) AS accuracy FROM fy")
    },
    "q297_delong_auc" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      val snap6 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000"
      // placements u/(2N) off exclusive cumulative windows on the 6-dp
      // score grid; weighted moment sums snapped at 1e6; the DeLong
      // variance S²(V10)/P + S²(V01)/N
      (nbHoldoutCte +
        ", mx AS (SELECT doc_id, max(score) AS mx FROM sc GROUP BY 1), " +
        "ex AS (SELECT sc.doc_id, sc.clab, exp(score - mx) AS ex " +
        "FROM sc JOIN mx USING (doc_id)), " +
        s"z AS (SELECT doc_id, ${snap9("ex")} AS z FROM ex GROUP BY 1), " +
        "pp AS (SELECT ex.doc_id, ex.clab, round(ex.ex / z.z, 6) AS prob " +
        "FROM ex JOIN z USING (doc_id)), " +
        "cf AS (SELECT b.doc_id, b.clab AS pred_lab, pp.prob AS conf " +
        "FROM best b JOIN pp ON pp.doc_id = b.doc_id AND pp.clab = b.clab), " +
        "okt AS (SELECT cf.conf, CASE WHEN cf.pred_lab = te.lang THEN 1 ELSE 0 END AS ok " +
        "FROM cf JOIN te USING (doc_id)), " +
        "g2 AS (SELECT round(conf, 6) AS s, CAST(sum(ok) AS BIGINT) AS np, " +
        "CAST(sum(1 - ok) AS BIGINT) AS nn FROM okt GROUP BY 1), " +
        "tt2 AS (SELECT coalesce(CAST(sum(np) AS BIGINT), 0) AS p, " +
        "coalesce(CAST(sum(nn) AS BIGINT), 0) AS n FROM g2), " +
        "cu2 AS (SELECT s, np, nn, " +
        "coalesce(CAST(sum(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS negbelow, " +
        "coalesce(CAST(sum(np) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS posabove " +
        "FROM g2), " +
        "cu3 AS (SELECT np, nn, " +
        "CAST(2 * negbelow + nn AS DOUBLE) / (2 * CAST(n AS DOUBLE)) AS v10, " +
        "CAST(2 * posabove + np AS DOUBLE) / (2 * CAST(p AS DOUBLE)) AS v01, p, n " +
        "FROM cu2 CROSS JOIN tt2), " +
        "mom AS (SELECT CAST(max(p) AS BIGINT) AS p, CAST(max(n) AS BIGINT) AS n, " +
        s"${snap6("CAST(np AS DOUBLE) * v10")} AS s1, " +
        s"${snap6("CAST(np AS DOUBLE) * v10 * v10")} AS s2, " +
        s"${snap6("CAST(nn AS DOUBLE) * v01")} AS t1, " +
        s"${snap6("CAST(nn AS DOUBLE) * v01 * v01")} AS t2 FROM cu3), " +
        "fz AS (SELECT p, n, s1 / CAST(p AS DOUBLE) AS auc, " +
        "sqrt(greatest(CAST(0 AS DOUBLE), " +
        "((s2 - s1 * s1 / CAST(p AS DOUBLE)) / (CAST(p AS DOUBLE) - 1)) / CAST(p AS DOUBLE) + " +
        "((t2 - t1 * t1 / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) / CAST(n AS DOUBLE))) AS se, " +
        "p >= 2 AND n >= 2 AS ok FROM mom) " +
        "SELECT p AS n_pos, n AS n_neg, " +
        "round(CASE WHEN ok THEN auc END, 6) AS auc, " +
        "round(CASE WHEN ok THEN se END, 6) AS se, " +
        "round(CASE WHEN ok THEN auc - CAST(1.959964 AS DOUBLE) * se END, 6) AS ci_lo, " +
        "round(CASE WHEN ok THEN auc + CAST(1.959964 AS DOUBLE) * se END, 6) AS ci_hi FROM fz")
    },
    "q298_randomization" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // 199 md5-deterministic relabelings via the replicate axis;
      // per-replicate snapped arm sums; p = (1+b)/(R+1)
      "WITH uy0 AS (SELECT CAST(user_id AS VARCHAR) AS u, " +
        s"${snap9("value")} AS y FROM events GROUP BY 1), " +
        "uy AS MATERIALIZED (SELECT u, y, " +
        "CAST(('0x' || substr(md5(u), 1, 8)) AS BIGINT) % 100 < 50 AS a FROM uy0), " +
        "ob AS (SELECT count(*) AS nu, CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
        s"${snap9("CASE WHEN a THEN y ELSE CAST(0 AS DOUBLE) END")} AS sa, " +
        s"${snap9("CASE WHEN NOT a THEN y ELSE CAST(0 AS DOUBLE) END")} AS sb FROM uy), " +
        "obd AS (SELECT nu, CASE WHEN na > 0 AND na < nu THEN " +
        "sa / CAST(na AS DOUBLE) - sb / CAST(nu - na AS DOUBLE) END AS diff_obs FROM ob), " +
        "rx AS (SELECT unnest(generate_series(0, 198)) AS r), " +
        "rr2 AS (SELECT r, y, CAST(('0x' || substr(md5(u || '|' || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0 AS ra " +
        "FROM uy CROSS JOIN rx), " +
        "rd AS (SELECT r, count(*) AS nu, CAST(sum(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
        s"${snap9("CASE WHEN ra THEN y ELSE CAST(0 AS DOUBLE) END")} AS sa, " +
        s"${snap9("CASE WHEN NOT ra THEN y ELSE CAST(0 AS DOUBLE) END")} AS sb " +
        "FROM rr2 GROUP BY 1), " +
        "rdd AS (SELECT r, CASE WHEN na > 0 AND na < nu THEN " +
        "sa / CAST(na AS DOUBLE) - sb / CAST(nu - na AS DOUBLE) END AS diff FROM rd), " +
        "exx AS (SELECT CAST(sum(CASE WHEN abs(diff) >= abs(diff_obs) THEN 1 ELSE 0 END) AS BIGINT) AS b " +
        "FROM rdd CROSS JOIN obd) " +
        "SELECT CAST(nu AS BIGINT) AS n_units, CAST(199 AS BIGINT) AS n_reps, " +
        "round(diff_obs, 6) AS diff_obs, b AS n_extreme, " +
        "round(CASE WHEN diff_obs IS NOT NULL THEN CAST(b + 1 AS DOUBLE) / 200 END, 6) AS p_value, " +
        "CASE WHEN diff_obs IS NOT NULL THEN round(CAST(b + 1 AS DOUBLE) / 200, 6) <= CAST(0.05 AS DOUBLE) END AS reject " +
        "FROM obd CROSS JOIN exx"
    },
    "q299_stationary" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      def round6(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000"
      def step(prev: String, i: Int): String =
        s"r$i AS (SELECT dst AS state, ${snap9("pi * p")} AS raw " +
          s"FROM $prev JOIN pm ON $prev.state = pm.src GROUP BY 1), " +
          s"z$i AS (SELECT ${snap9("raw")} AS z FROM r$i), " +
          s"p$i AS MATERIALIZED (SELECT st.state, " +
          s"${round6(s"CASE WHEN z > CAST(0 AS DOUBLE) THEN coalesce(raw, CAST(0 AS DOUBLE)) / z ELSE CAST(0 AS DOUBLE) END")} AS pi " +
          s"FROM st LEFT JOIN r$i USING (state) CROSS JOIN z$i), "
      // q95's transition counts → row-stochastic P; three unrolled
      // snapped+renormalized passes from uniform; TV delta between
      // the last two iterates rides every row
      "WITH s0 AS (SELECT user_id, event_type, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events), " +
        "tc AS MATERIALIZED (SELECT event_type AS src, next_type AS dst, count(*) AS n FROM s0 " +
        "WHERE next_type IS NOT NULL GROUP BY 1, 2), " +
        "rt AS (SELECT src, CAST(sum(n) AS BIGINT) AS rt FROM tc GROUP BY 1), " +
        "pm AS MATERIALIZED (SELECT tc.src, tc.dst, CAST(n AS DOUBLE) / CAST(rt AS DOUBLE) AS p FROM tc JOIN rt USING (src)), " +
        "st AS MATERIALIZED (SELECT src AS state FROM tc UNION SELECT dst FROM tc), " +
        "kx AS (SELECT count(*) AS k FROM st), " +
        s"p0 AS MATERIALIZED (SELECT state, ${round6("CAST(1 AS DOUBLE) / CAST(k AS DOUBLE)")} AS pi FROM st CROSS JOIN kx), " +
        step("p0", 1) + step("p1", 2) + step("p2", 3) +
        s"tvx AS (SELECT ${snap9("abs(p3.pi - p2.pi)")} / 2 AS tv " +
        "FROM p3 JOIN p2 ON p3.state = p2.state) " +
        "SELECT p3.state, p3.pi AS p_stationary, round(tv, 6) AS tv_delta " +
        "FROM p3 CROSS JOIN tvx"
    },
    "q300_contingency" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      val snap6 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000"
      // full r×c grid (zero cells included — χ² needs their expected
      // mass; MI drops them by 0·log0 = 0); exact margins; MI bits
      // snapped at 1e9, χ² at 1e6
      (s"WITH $gopherStatsCte, " +
        s"kv AS (SELECT d.source AS r, CAST((CASE WHEN $gopherKeepPred THEN true ELSE false END) AS VARCHAR) AS c " +
        "FROM m JOIN documents d USING (doc_id)), " +
        "cell AS MATERIALIZED (SELECT r, c, count(*) AS n FROM kv GROUP BY 1, 2), " +
        "rm AS (SELECT r, CAST(sum(n) AS BIGINT) AS nr FROM cell GROUP BY 1), " +
        "cm AS (SELECT c, CAST(sum(n) AS BIGINT) AS nc FROM cell GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, " +
        "CAST(count(DISTINCT r) AS BIGINT) AS kr, CAST(count(DISTINCT c) AS BIGINT) AS kc FROM cell), " +
        "grid AS (SELECT nr, nc, coalesce(n, 0) AS n, nt, kr, kc " +
        "FROM rm CROSS JOIN cm LEFT JOIN cell USING (r, c) CROSS JOIN tot), " +
        "mm AS (SELECT max(nt) AS nt, max(kr) AS kr, max(kc) AS kc, " +
        s"${snap9("CASE WHEN n > 0 THEN CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) * (ln(CAST(n AS DOUBLE) * CAST(nt AS DOUBLE) / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE))) / ln(CAST(2 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END")} AS mi, " +
        s"${snap6("(CAST(n AS DOUBLE) - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE)) * (CAST(n AS DOUBLE) - CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE)) / (CAST(nr AS DOUBLE) * CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE))")} AS chi2 " +
        "FROM grid) " +
        "SELECT nt AS n, kr AS n_rows, kc AS n_cols, " +
        "round(CASE WHEN nt > 0 THEN mi END, 6) AS mi_bits, " +
        "round(CASE WHEN nt > 0 THEN chi2 END, 6) AS chi2, " +
        "round(CASE WHEN nt > 0 AND least(kr, kc) >= 2 THEN " +
        "sqrt(chi2 / (CAST(nt AS DOUBLE) * (CAST(least(kr, kc) AS DOUBLE) - 1))) END, 6) AS cramers_v FROM mm")
    },
    "q301_obrien_fleming" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // exact integer look cutoffs over the day range; per-look Welch
      // z from snapped moments; OBF K=5 two-sided bounds (J&T 2000)
      ("WITH bb AS (SELECT epoch_us(ts) // 86400000000 AS d, value AS y, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS a FROM events), " +
        "rg AS (SELECT min(d) AS dmin, max(d) AS dmax FROM bb), " +
        "lk AS (SELECT unnest(generate_series(1, 5)) AS look), " +
        "fan AS (SELECT look, dmin - 1 + CAST(floor(CAST((dmax - dmin + 1) * look AS DOUBLE) / 5.0) AS BIGINT) AS day_cut, " +
        "y, a, d FROM bb CROSS JOIN rg CROSS JOIN lk), " +
        "fl AS (SELECT look, day_cut, y, a FROM fan WHERE d <= day_cut), " +
        "m AS (SELECT look, day_cut, " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
        s"${snap9("CASE WHEN a THEN y ELSE CAST(0 AS DOUBLE) END")} AS sa, " +
        s"${snap9("CASE WHEN a THEN y * y ELSE CAST(0 AS DOUBLE) END")} AS saa, " +
        s"${snap9("CASE WHEN NOT a THEN y ELSE CAST(0 AS DOUBLE) END")} AS sb, " +
        s"${snap9("CASE WHEN NOT a THEN y * y ELSE CAST(0 AS DOUBLE) END")} AS sbb " +
        "FROM fl GROUP BY 1, 2), " +
        "f AS (SELECT *, CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd FROM m), " +
        "g AS (SELECT *, sa / nad - sb / nbd AS diff, " +
        "sqrt(((saa - sa * sa / nad) / (nad - 1)) / nad + ((sbb - sb * sb / nbd) / (nbd - 1)) / nbd) AS se, " +
        "CASE look WHEN 1 THEN CAST(4.562 AS DOUBLE) WHEN 2 THEN CAST(3.226 AS DOUBLE) " +
        "WHEN 3 THEN CAST(2.634 AS DOUBLE) WHEN 4 THEN CAST(2.281 AS DOUBLE) " +
        "WHEN 5 THEN CAST(2.04 AS DOUBLE) END AS bound FROM f), " +
        "h AS (SELECT *, na >= 2 AND nb >= 2 AND se > CAST(0 AS DOUBLE) AS ok FROM g) " +
        "SELECT look, day_cut, na AS n_a, nb AS n_b, " +
        "round(CASE WHEN ok THEN diff END, 6) AS mean_diff, " +
        "round(CASE WHEN ok THEN diff / se END, 6) AS z, bound, " +
        "CASE WHEN ok THEN abs(round(diff / se, 6)) > bound END AS crossed FROM h")
    },
    "q302_mean_power" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // observed per-user variance → n = 2(z_{α/2}+z_β)²σ²/δ² at a 5%
      // relative MDE, with Lehr's 16σ²/δ² as the cross-check
      "WITH uy AS (SELECT user_id, " +
        s"${snap9("value")} AS y FROM events GROUP BY 1), " +
        s"m AS (SELECT count(*) AS n, ${snap9("y")} AS sy, ${snap9("y * y")} AS syy FROM uy), " +
        "f AS (SELECT n, sy / CAST(n AS DOUBLE) AS mu, " +
        "(syy - sy * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS v FROM m), " +
        "g AS (SELECT *, CAST(0.05 AS DOUBLE) * mu AS delta, " +
        "n >= 2 AND v > CAST(0 AS DOUBLE) AND mu <> CAST(0 AS DOUBLE) AS ok FROM f) " +
        "SELECT CAST(n AS BIGINT) AS n_units, " +
        "round(CASE WHEN ok THEN mu END, 6) AS mean, " +
        "round(CASE WHEN ok THEN sqrt(v) END, 6) AS sd, " +
        "round(CASE WHEN ok THEN delta END, 6) AS mde_abs, " +
        "CAST(CASE WHEN ok THEN ceil(2 * ((CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) * " +
        "(CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))) * v / (delta * delta)) END AS BIGINT) AS n_per_arm, " +
        "CAST(CASE WHEN ok THEN ceil(16 * v / (delta * delta)) END AS BIGINT) AS lehr_n FROM g"
    },
    "q303_assortativity" ->
      // both-orientation endpoint-degree pairs; exact DECIMAL moment
      // sums of integer products; Pearson r in one IEEE composition
      ("WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0), " +
        "eg AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v FROM li a " +
        "JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "ee AS MATERIALIZED (SELECT u, v FROM eg UNION ALL SELECT v, u FROM eg), " +
        "deg AS MATERIALIZED (SELECT u AS node, count(*) AS d FROM ee GROUP BY 1), " +
        "pr AS (SELECT dx.d AS x, dy.d AS y FROM ee " +
        "JOIN deg dx ON dx.node = ee.u JOIN deg dy ON dy.node = ee.v), " +
        "mm AS (SELECT count(*) AS np, CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy, " +
        "CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS sxy, " +
        "CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sxx, " +
        "CAST(sum(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS syy FROM pr), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg) " +
        "SELECT n_nodes, CAST(np AS BIGINT) AS n_pairs, " +
        "round(CASE WHEN CAST(np AS DOUBLE) * sxx - sx * sx > CAST(0 AS DOUBLE) " +
        "AND CAST(np AS DOUBLE) * syy - sy * sy > CAST(0 AS DOUBLE) THEN " +
        "(CAST(np AS DOUBLE) * sxy - sx * sy) / " +
        "sqrt((CAST(np AS DOUBLE) * sxx - sx * sx) * (CAST(np AS DOUBLE) * syy - sy * sy)) END, 6) AS r_assortativity " +
        "FROM mm CROSS JOIN nn"),
    "q304_neighborhood" -> {
      def est(s: String, out: String): String =
        s"e_$out AS (SELECT node, count(*) AS n_buckets, SUM(pow(2.0, -reg)) AS sp FROM $s GROUP BY 1), " +
          s"x_$out AS (SELECT node, round(CASE WHEN raw <= 160 AND zeros > 0 " +
          s"THEN 64 * ln(64.0 / zeros) ELSE raw END, 3) AS $out " +
          s"FROM (SELECT node, 0.709 * 64 * 64 / (sp + (64 - n_buckets)) AS raw, " +
          s"64 - n_buckets AS zeros FROM e_$out)), "
      // ANF/HyperBall: q68's register rule per node, merged along
      // edges by integer max, two rounds; n1_exact = deg+1 rides as
      // the accuracy readout
      "WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0), " +
        "eg AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v FROM li a " +
        "JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "ee AS MATERIALIZED (SELECT u, v FROM eg UNION ALL SELECT v, u FROM eg), " +
        "deg AS MATERIALIZED (SELECT u AS node, count(*) AS d FROM ee GROUP BY 1), " +
        "h0 AS (SELECT node, CAST('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 8) AS BIGINT) AS hv FROM deg), " +
        "s0 AS MATERIALIZED (SELECT node, hv & 63 AS bucket, " +
        "MAX(CASE WHEN (hv >> 6) > 0 THEN 27 - length(bin(hv >> 6)) ELSE 27 END) AS reg FROM h0 GROUP BY 1, 2), " +
        "m1 AS (SELECT ee.u AS node, s0.bucket, s0.reg FROM ee JOIN s0 ON s0.node = ee.v " +
        "UNION ALL SELECT node, bucket, reg FROM s0), " +
        "s1 AS MATERIALIZED (SELECT node, bucket, max(reg) AS reg FROM m1 GROUP BY 1, 2), " +
        "m2 AS (SELECT ee.u AS node, s1.bucket, s1.reg FROM ee JOIN s1 ON s1.node = ee.v " +
        "UNION ALL SELECT node, bucket, reg FROM s1), " +
        "s2 AS MATERIALIZED (SELECT node, bucket, max(reg) AS reg FROM m2 GROUP BY 1, 2), " +
        est("s1", "est_1hop") + est("s2", "est_2hop") +
        "dd AS (SELECT node, CAST(d + 1 AS BIGINT) AS n1_exact FROM deg) " +
        "SELECT dd.node, dd.n1_exact, x_est_1hop.est_1hop, x_est_2hop.est_2hop " +
        "FROM dd JOIN x_est_1hop USING (node) JOIN x_est_2hop USING (node)"
    },
    "q305_anisotropy" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // E[random-pair cos] = ||mean unit vector||² exactly — one pass,
      // dim-sized rollup, snapped norms and unit sums
      "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "ex AS MATERIALIZED (SELECT vec_id, i, e[i] AS x FROM v, " +
        "unnest(generate_series(1, len(e))) AS s(i)), " +
        s"nr AS MATERIALIZED (SELECT vec_id, sqrt(${snap9("x * x")}) AS nrm FROM ex GROUP BY vec_id), " +
        "ct AS (SELECT CAST(sum(CASE WHEN nrm > CAST(0 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN nrm > CAST(0 AS DOUBLE) THEN 0 ELSE 1 END) AS BIGINT) AS nz, " +
        "(SELECT CAST(max(len(e)) AS BIGINT) FROM v) AS dim, " +
        s"${snap9("CASE WHEN nrm > CAST(0 AS DOUBLE) THEN nrm ELSE CAST(0 AS DOUBLE) END")} AS snrm FROM nr), " +
        s"un AS (SELECT i, ${snap9("x / nrm")} AS u FROM ex JOIN nr USING (vec_id) " +
        "WHERE nrm > CAST(0 AS DOUBLE) GROUP BY i), " +
        s"an AS (SELECT ${snap9("(u / CAST(n AS DOUBLE)) * (u / CAST(n AS DOUBLE))")} AS a FROM un CROSS JOIN ct) " +
        "SELECT n AS n_vectors, nz AS n_zero_norm, dim, " +
        "round(CASE WHEN n > 0 THEN snrm / CAST(n AS DOUBLE) END, 6) AS mean_norm, " +
        "round(CASE WHEN n > 0 THEN a END, 6) AS anisotropy_cos FROM ct CROSS JOIN an"
    },
    "q306_family_tail" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // q63's recursive-CC sizes → ≥2 spectrum + Hill α over the 20
      // largest against the 21st order statistic
      (s"WITH RECURSIVE $shingleCte, " +
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM cands " +
        "UNION ALL SELECT doc_b AS a, doc_a AS b FROM cands), " +
        "reach AS (SELECT doc_id AS node, doc_id AS comp FROM documents " +
        "UNION SELECT e.b AS node, r.comp AS comp FROM reach r " +
        "JOIN edges e ON e.a = r.node), " +
        "comp AS (SELECT node AS doc_id, min(comp) AS group_id FROM reach GROUP BY 1), " +
        "sizes AS MATERIALIZED (SELECT group_id, CAST(count(*) AS BIGINT) AS group_size FROM comp GROUP BY 1), " +
        "spec AS (SELECT group_size AS size, CAST(count(*) AS BIGINT) AS n_families " +
        "FROM sizes WHERE group_size >= 2 GROUP BY 1), " +
        "topx AS MATERIALIZED (SELECT * FROM (SELECT group_id, group_size, " +
        "row_number() OVER (ORDER BY group_size DESC, group_id) AS rn FROM sizes) WHERE rn <= 21), " +
        "thr AS (SELECT group_size AS xb FROM topx WHERE rn = 21), " +
        "fit AS (SELECT count(*) AS k_used, CAST(max(xb) AS BIGINT) AS x_boundary, " +
        s"${snap9("ln(CAST(group_size AS DOUBLE) / CAST(xb AS DOUBLE))")} AS slog " +
        "FROM topx CROSS JOIN thr WHERE rn <= 20), " +
        "fr AS (SELECT CAST(k_used AS BIGINT) AS k_used, x_boundary, " +
        "round(CASE WHEN k_used = 20 AND x_boundary > 0 AND slog > CAST(0 AS DOUBLE) " +
        "THEN CAST(k_used AS DOUBLE) / slog END, 6) AS alpha FROM fit) " +
        "SELECT spec.size, spec.n_families, fr.k_used, fr.x_boundary, fr.alpha " +
        "FROM spec CROSS JOIN fr")
    },
    "q307_cohens_h" ->
      // exact integer arm counts; h = 2·asin√p₁ − 2·asin√p₂; Cohen
      // magnitude labels on the 6-dp-rounded value
      (s"WITH $survivalUnitsCte, " +
        "hm AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS nb, " +
        "CAST(sum(CASE WHEN a AND e THEN 1 ELSE 0 END) AS BIGINT) AS ca, " +
        "CAST(sum(CASE WHEN NOT a AND e THEN 1 ELSE 0 END) AS BIGINT) AS cb FROM u), " +
        "hp AS (SELECT *, CAST(ca AS DOUBLE) / CAST(na AS DOUBLE) AS pa, " +
        "CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS pb, na > 0 AND nb > 0 AS ok FROM hm), " +
        "hh AS (SELECT *, round(CASE WHEN ok THEN 2 * asin(sqrt(pa)) - 2 * asin(sqrt(pb)) END, 6) AS h FROM hp) " +
        "SELECT na AS n_a, nb AS n_b, " +
        "round(CASE WHEN ok THEN pa END, 6) AS p_a, round(CASE WHEN ok THEN pb END, 6) AS p_b, h, " +
        "CASE WHEN ok THEN (CASE WHEN abs(h) >= CAST(0.8 AS DOUBLE) THEN 'large' " +
        "WHEN abs(h) >= CAST(0.5 AS DOUBLE) THEN 'medium' " +
        "WHEN abs(h) >= CAST(0.2 AS DOUBLE) THEN 'small' ELSE 'negligible' END) END AS magnitude FROM hh"),
    "q308_seasonal_cp" ->
      // q291's decomposition CTEs feeding q276's binseg over the
      // deseasonalized series y − seasonal
      ("WITH sdy0 AS (SELECT epoch_us(ts) // 86400000000 AS p, CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1), " +
        "spx AS (SELECT min(p) AS lo, max(p) AS hi FROM sdy0), " +
        "sdy AS MATERIALIZED (SELECT gx.p, coalesce(y, CAST(0 AS DOUBLE)) AS y " +
        "FROM (SELECT unnest(generate_series(lo, hi)) AS p FROM spx) gx LEFT JOIN sdy0 USING (p)), " +
        "tr AS (SELECT p, y, count(*) OVER w AS cnt, " +
        "CAST(sum(CAST(floor(y * 1000000000 + 0.5) AS DECIMAL(38,0))) OVER w AS DOUBLE) / 1000000000 / 7 AS ma " +
        "FROM sdy WINDOW w AS (ORDER BY p ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "td AS MATERIALIZED (SELECT p, y, CASE WHEN cnt = 7 THEN ma END AS trend, p % 7 AS phase FROM tr), " +
        "ix AS MATERIALIZED (SELECT phase, CASE WHEN count(y - trend) > 0 THEN " +
        "CAST(sum(CAST(floor((y - trend) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 / CAST(count(y - trend) AS DOUBLE) END AS raw FROM td GROUP BY 1), " +
        "ce AS (SELECT CAST(sum(CAST(floor(raw * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sr, count(raw) AS cr FROM ix), " +
        "se AS (SELECT phase, round(raw - sr / CAST(cr AS DOUBLE), 6) AS seasonal FROM ix CROSS JOIN ce), " +
        "adj AS MATERIALIZED (SELECT td.p, td.y - se.seasonal AS y FROM td LEFT JOIN se USING (phase)), " +
        "cb AS (SELECT p, y, row_number() OVER (ORDER BY p) AS i, " +
        "CAST(sum(CAST(floor(y * 1000000000 + 0.5) AS DECIMAL(38,0))) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000 AS cs FROM adj), " +
        "ct AS (SELECT count(*) AS n, " +
        "CAST(sum(CAST(floor(y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy, " +
        "CAST(sum(CAST(floor(y * y * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS syy FROM adj), " +
        "cu AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM ct), " +
        "cv AS (SELECT *, CASE WHEN nd > 1 AND sqrt((syy - sy * sy / nd) / (nd - 1)) > CAST(0 AS DOUBLE) " +
        "THEN sqrt((syy - sy * sy / nd) / (nd - 1)) END AS sdv FROM cu), " +
        "cw AS (SELECT cb.p, cb.i, cv.n, " +
        "round(sqrt(CAST(cb.i AS DOUBLE) * (cv.nd - CAST(cb.i AS DOUBLE)) / cv.nd) * " +
        "abs(cb.cs / CAST(cb.i AS DOUBLE) - (cv.sy - cb.cs) / (cv.nd - CAST(cb.i AS DOUBLE))) / cv.sdv, 6) AS t, " +
        "round(cb.cs / CAST(cb.i AS DOUBLE), 6) AS ml, " +
        "round((cv.sy - cb.cs) / (cv.nd - CAST(cb.i AS DOUBLE)), 6) AS mr " +
        "FROM cb CROSS JOIN cv WHERE cb.i < cv.n) " +
        "SELECT n AS n_periods, " +
        "CASE WHEN n >= 4 AND t IS NOT NULL THEN p END AS split_period, " +
        "CASE WHEN n >= 4 THEN t END AS t_stat, " +
        "CASE WHEN n >= 4 AND t IS NOT NULL THEN ml END AS mean_before, " +
        "CASE WHEN n >= 4 AND t IS NOT NULL THEN mr END AS mean_after " +
        "FROM (SELECT * FROM cw ORDER BY t DESC NULLS LAST, p LIMIT 1)"),
    "q309_neyman" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      val snap6 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000"
      // per-stratum snapped moments → population σ_h; Neyman shares
      // n_h ∝ N_h·σ_h with the variance pair and relative gain
      "WITH b0 AS (SELECT event_type AS h, value AS y FROM events), " +
        s"per AS (SELECT h, count(*) AS nh, ${snap9("y")} AS sy, ${snap9("y * y")} AS syy FROM b0 GROUP BY 1), " +
        "st AS MATERIALIZED (SELECT h, nh, " +
        "sqrt((syy - sy * sy / CAST(nh AS DOUBLE)) / CAST(nh AS DOUBLE)) AS sd FROM per), " +
        s"tot AS (SELECT CAST(sum(nh) AS BIGINT) AS nt, ${snap6("CAST(nh AS DOUBLE) * sd")} AS sns, " +
        s"${snap6("CAST(nh AS DOUBLE) * sd * sd")} AS sns2 FROM st), " +
        "tr2 AS (SELECT nt, sns, " +
        "(sns / CAST(nt AS DOUBLE)) * (sns / CAST(nt AS DOUBLE)) / 10000 AS vn, " +
        "(sns2 / CAST(nt AS DOUBLE)) / 10000 AS vp FROM tot) " +
        "SELECT st.h AS stratum, CAST(st.nh AS BIGINT) AS n_rows, round(st.sd, 6) AS sd, " +
        "round(CASE WHEN sns > CAST(0 AS DOUBLE) THEN 10000 * (CAST(nh AS DOUBLE) * sd) / sns END, 6) AS alloc_neyman, " +
        "round(10000 * CAST(nh AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS alloc_prop, " +
        "round(CASE WHEN sns > CAST(0 AS DOUBLE) THEN vn END, 9) AS v_neyman, " +
        "round(CASE WHEN sns > CAST(0 AS DOUBLE) THEN vp END, 9) AS v_prop, " +
        "round(CASE WHEN sns > CAST(0 AS DOUBLE) THEN (CAST(1 AS DOUBLE) - vn / vp) * 100 END, 6) AS gain_pct " +
        "FROM st CROSS JOIN tr2"
    },
    "q310_rbp" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // the q224 top-20 ranked by (score desc, doc_id); rel = doc
      // carries all 3 query terms; RBP at p = 0.8 with the residual
      // (the 1−0.8 factor COMPUTED so IEEE matches Spark's 1.0−p)
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1), " +
        "cf AS (SELECT term, sum(tf) AS cf FROM tf WHERE term IN ('join', 'filter', 'scan') GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(tf) AS DOUBLE) AS t FROM tf), " +
        "j AS (SELECT dl.doc_id, dl.n_tok, cf.cf, tf.tf FROM dl CROSS JOIN cf " +
        "LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term), " +
        "s AS (SELECT doc_id, n_tok, CAST(sum(CAST(floor(ln(" +
        "(CAST(coalesce(tf, 0) AS DOUBLE) + CAST(2000.0 AS DOUBLE) * (CAST(cf AS DOUBLE) / t)) / " +
        "(CAST(n_tok AS DOUBLE) + CAST(2000.0 AS DOUBLE))) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s " +
        "FROM j CROSS JOIN tt GROUP BY 1, 2), " +
        "rk AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r " +
        "FROM (SELECT doc_id, round(s, 6) AS score FROM s ORDER BY score DESC, doc_id LIMIT 20)), " +
        "hs AS (SELECT doc_id, count(DISTINCT term) AS nq FROM tf " +
        "WHERE term IN ('join', 'filter', 'scan') GROUP BY 1), " +
        "rl AS (SELECT rk.r, CASE WHEN coalesce(nq, 0) = 3 THEN 1 ELSE 0 END AS rel " +
        "FROM rk LEFT JOIN hs USING (doc_id)) " +
        "SELECT CAST(count(*) AS BIGINT) AS depth, CAST(sum(rel) AS BIGINT) AS n_rel, " +
        s"round((CAST(1 AS DOUBLE) - CAST(0.8 AS DOUBLE)) * ${snap9("pow(CAST(0.8 AS DOUBLE), CAST(r - 1 AS DOUBLE)) * CAST(rel AS DOUBLE)")}, 6) AS rbp, " +
        "round(pow(CAST(0.8 AS DOUBLE), CAST(count(*) AS DOUBLE)), 6) AS residual FROM rl")
    },
    "q311_clarity" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // the q226 feedback softmax WITHOUT query-term exclusion or
      // truncation (the mixture is already a distribution); KL bits
      // against exact-integer collection probabilities
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok FROM tf GROUP BY 1), " +
        "cf AS (SELECT term, sum(tf) AS cf FROM tf WHERE term IN ('join', 'filter', 'scan') GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(tf) AS DOUBLE) AS t FROM tf), " +
        "j AS (SELECT dl.doc_id, dl.n_tok, cf.cf, tf.tf FROM dl CROSS JOIN cf " +
        "LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term), " +
        "s AS (SELECT doc_id, n_tok, CAST(sum(CAST(floor(ln(" +
        "(CAST(coalesce(tf, 0) AS DOUBLE) + CAST(2000.0 AS DOUBLE) * (CAST(cf AS DOUBLE) / t)) / " +
        "(CAST(n_tok AS DOUBLE) + CAST(2000.0 AS DOUBLE))) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS s " +
        "FROM j CROSS JOIN tt GROUP BY 1, 2), " +
        "fb AS (SELECT doc_id, n_tok, round(s, 6) AS score FROM s " +
        "ORDER BY score DESC, doc_id LIMIT 10), " +
        "mx AS (SELECT max(score) AS mx FROM fb), " +
        "wgt AS (SELECT doc_id, n_tok, exp(score - mx) AS w FROM fb CROSS JOIN mx), " +
        s"z AS (SELECT ${snap9("w")} AS z, count(*) AS n_fb FROM wgt), " +
        "pd AS (SELECT doc_id, n_tok, w / z AS pd FROM wgt CROSS JOIN z), " +
        s"rm AS (SELECT t2.term, ${snap9("pd * (CAST(t2.tf AS DOUBLE) / CAST(pd.n_tok AS DOUBLE))")} AS w " +
        "FROM pd JOIN tf t2 ON t2.doc_id = pd.doc_id GROUP BY 1), " +
        "cfa AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1), " +
        "tta AS (SELECT CAST(sum(cf) AS BIGINT) AS t FROM cfa), " +
        "cl AS (SELECT count(*) AS n_terms, " +
        s"${snap9("CASE WHEN w > CAST(0 AS DOUBLE) THEN w * (ln(w / (CAST(cf AS DOUBLE) / CAST(t AS DOUBLE))) / ln(CAST(2 AS DOUBLE))) ELSE CAST(0 AS DOUBLE) END")} AS cl " +
        "FROM rm JOIN cfa USING (term) CROSS JOIN tta) " +
        "SELECT (SELECT CAST(n_fb AS BIGINT) FROM z) AS n_fb_docs, " +
        "CAST(n_terms AS BIGINT) AS n_terms, round(cl, 6) AS clarity_bits FROM cl")
    },
    "q312_mann_kendall" ->
      // exact integer S over the bounded day-pair join; tie-corrected
      // variance; continuity-corrected z; the shared erfc p
      ("WITH sdy AS (SELECT epoch_us(ts) // 86400000000 AS p, CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1), " +
        "pr AS (SELECT a.y AS yi, b.y AS yj FROM sdy a JOIN sdy b ON a.p < b.p), " +
        "sx AS (SELECT coalesce(CAST(sum(CAST(sign(yj - yi) AS BIGINT)) AS BIGINT), 0) AS s FROM pr), " +
        "nt AS (SELECT count(*) AS n FROM sdy), " +
        "tx AS (SELECT coalesce(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0) AS tsum " +
        "FROM (SELECT count(*) AS t FROM sdy GROUP BY y)), " +
        "vv AS (SELECT n, s, (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) * (2 * CAST(n AS DOUBLE) + 5) - " +
        "CAST(tsum AS DOUBLE)) / 18 AS vs FROM sx CROSS JOIN nt CROSS JOIN tx), " +
        "zz3 AS (SELECT *, CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sqrt(vs) " +
        "WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sqrt(vs) ELSE CAST(0 AS DOUBLE) END AS z, " +
        "n >= 2 AND vs > CAST(0 AS DOUBLE) AS ok FROM vv), " +
        "yy3 AS (SELECT *, abs(z) / sqrt(CAST(2 AS DOUBLE)) AS yv FROM zz3), " +
        "tt3 AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * yv) AS tt FROM yy3), " +
        "pp3 AS (SELECT *, round(CASE WHEN ok THEN " +
        "tt * (CAST(0.254829592 AS DOUBLE) + tt * (CAST(-0.284496736 AS DOUBLE) + tt * (CAST(1.421413741 AS DOUBLE) + " +
        "tt * (CAST(-1.453152027 AS DOUBLE) + tt * CAST(1.061405429 AS DOUBLE))))) * exp(-(yv * yv)) END, 6) AS p FROM tt3) " +
        "SELECT n AS n_periods, s, round(CASE WHEN ok THEN vs END, 6) AS var_s, " +
        "round(CASE WHEN ok THEN z END, 6) AS z, p AS p_value, " +
        "CASE WHEN ok THEN (CASE WHEN p < CAST(0.05 AS DOUBLE) AND s > 0 THEN 'increasing' " +
        "WHEN p < CAST(0.05 AS DOUBLE) AND s < 0 THEN 'decreasing' ELSE 'none' END) END AS trend FROM pp3"),
    "q313_runs_test" ->
      // low median off the value-grid cum; median-tied days excluded
      // and counted; runs = 1 + sign changes along the calendar
      ("WITH sdy AS (SELECT epoch_us(ts) // 86400000000 AS p, CAST(count(*) AS DOUBLE) AS y FROM events GROUP BY 1), " +
        "ct2 AS (SELECT y, count(*) AS c FROM sdy GROUP BY 1), " +
        "nt AS (SELECT count(*) AS nt FROM sdy), " +
        "md AS (SELECT min(y) AS med FROM (SELECT y, CAST(sum(c) OVER (ORDER BY y " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM ct2) CROSS JOIN nt " +
        "WHERE cum >= CAST(ceil(CAST(nt AS DOUBLE) / 2.0) AS BIGINT)), " +
        "sg AS (SELECT p, y > med AS up FROM sdy CROSS JOIN md WHERE y <> med), " +
        "rr3 AS (SELECT coalesce(CAST(sum(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT), 0) AS n1, " +
        "coalesce(CAST(sum(CASE WHEN NOT up THEN 1 ELSE 0 END) AS BIGINT), 0) AS n2, " +
        "1 + CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> up THEN 1 ELSE 0 END) AS BIGINT) AS r " +
        "FROM (SELECT up, lag(up) OVER (ORDER BY p) AS prev FROM sg)), " +
        "td2 AS (SELECT CAST(sum(CASE WHEN y = med THEN 1 ELSE 0 END) AS BIGINT) AS n_tied FROM sdy CROSS JOIN md), " +
        "mm3 AS (SELECT *, CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d FROM rr3), " +
        "vv3 AS (SELECT *, CAST(1 AS DOUBLE) + 2 * n1d * n2d / (n1d + n2d) AS mu, " +
        "2 * n1d * n2d * (2 * n1d * n2d - (n1d + n2d)) / " +
        "((n1d + n2d) * (n1d + n2d) * ((n1d + n2d) - 1)) AS v FROM mm3), " +
        "zz4 AS (SELECT *, (CAST(r AS DOUBLE) - mu) / sqrt(v) AS z, " +
        "n1 > 0 AND n2 > 0 AND v > CAST(0 AS DOUBLE) AS ok FROM vv3), " +
        "yy4 AS (SELECT *, abs(z) / sqrt(CAST(2 AS DOUBLE)) AS yv FROM zz4), " +
        "tt4 AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * yv) AS tt FROM yy4), " +
        "pp4 AS (SELECT *, round(CASE WHEN ok THEN " +
        "tt * (CAST(0.254829592 AS DOUBLE) + tt * (CAST(-0.284496736 AS DOUBLE) + tt * (CAST(1.421413741 AS DOUBLE) + " +
        "tt * (CAST(-1.453152027 AS DOUBLE) + tt * CAST(1.061405429 AS DOUBLE))))) * exp(-(yv * yv)) END, 6) AS p FROM tt4) " +
        "SELECT n1 AS n_above, n2 AS n_below, n_tied, r AS runs, " +
        "round(CASE WHEN ok THEN mu END, 6) AS mu_runs, " +
        "round(CASE WHEN ok THEN z END, 6) AS z, p AS p_value, " +
        "CASE WHEN ok THEN NOT (p < CAST(0.05 AS DOUBLE)) END AS random " +
        "FROM pp4 CROSS JOIN td2"),
    "q314_length_bias" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // the q171 duel construction + token lengths; arm = longer side
      // (equal-length duels NULL → dropped), outcome = A wins,
      // stratum = unordered source pair; then the q263 MH body
      (unigramNllCte +
        ", dd0 AS (SELECT d.doc_id, d.source, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS len, n.nll " +
        "FROM documents d JOIN nllt n USING (doc_id)), " +
        "du AS (SELECT CASE WHEN a.len > b.len THEN true WHEN a.len < b.len THEN false END AS arm, " +
        "a.nll <= b.nll AS o, " +
        "least(a.source, b.source) || '|' || greatest(a.source, b.source) AS s " +
        "FROM dd0 a JOIN dd0 b ON b.doc_id = a.doc_id + 1 AND a.source <> b.source), " +
        "mu AS (SELECT arm, o, s FROM du WHERE arm IS NOT NULL AND o IS NOT NULL AND s IS NOT NULL), " +
        "m2 AS (SELECT s, CAST(sum(CASE WHEN arm AND o THEN 1 ELSE 0 END) AS DOUBLE) AS ad, " +
        "CAST(sum(CASE WHEN arm AND NOT o THEN 1 ELSE 0 END) AS DOUBLE) AS bd, " +
        "CAST(sum(CASE WHEN NOT arm AND o THEN 1 ELSE 0 END) AS DOUBLE) AS cd, " +
        "CAST(sum(CASE WHEN NOT arm AND NOT o THEN 1 ELSE 0 END) AS DOUBLE) AS dd FROM mu GROUP BY 1), " +
        "mx AS (SELECT *, ad + bd + cd + dd AS n FROM m2), " +
        s"mm AS (SELECT count(*) AS n_strata, ${snap("ad * dd / n")} AS sr, ${snap("bd * cd / n")} AS ss, " +
        s"${snap("CASE WHEN n > 1 THEN ad ELSE CAST(0 AS DOUBLE) END")} AS sa, " +
        s"${snap("CASE WHEN n > 1 THEN (ad + bd) * (ad + cd) / n ELSE CAST(0 AS DOUBLE) END")} AS se_a, " +
        s"${snap("CASE WHEN n > 1 THEN (ad + bd) * (cd + dd) * (ad + cd) * (bd + dd) / (n * n * (n - 1)) ELSE CAST(0 AS DOUBLE) END")} AS sv, " +
        s"${snap("((ad + dd) / n) * (ad * dd / n)")} AS spr, " +
        s"${snap("((ad + dd) / n) * (bd * cd / n) + ((bd + cd) / n) * (ad * dd / n)")} AS spsqr, " +
        s"${snap("((bd + cd) / n) * (bd * cd / n)")} AS sqs FROM mx), " +
        "mo AS (SELECT *, CASE WHEN ss > CAST(0 AS DOUBLE) AND sr > CAST(0 AS DOUBLE) THEN sr / ss END AS ormh, " +
        "CASE WHEN ss > CAST(0 AS DOUBLE) AND sr > CAST(0 AS DOUBLE) THEN " +
        "spr / (2 * sr * sr) + spsqr / (2 * sr * ss) + sqs / (2 * ss * ss) END AS varln, " +
        "CASE WHEN sv > CAST(0 AS DOUBLE) THEN (sa - se_a) * (sa - se_a) / sv END AS chi2 FROM mm), " +
        "my AS (SELECT *, sqrt(chi2) / sqrt(CAST(2 AS DOUBLE)) AS yv FROM mo), " +
        "mz AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * yv) AS tt FROM my) " +
        "SELECT n_strata, round(ormh, 6) AS or_mh, " +
        "round(ormh * exp(CAST(-1.959964 AS DOUBLE) * sqrt(varln)), 6) AS ci_lo, " +
        "round(ormh * exp(CAST(1.959964 AS DOUBLE) * sqrt(varln)), 6) AS ci_hi, " +
        "round(chi2, 6) AS chi2, " +
        "round(tt * (CAST(0.254829592 AS DOUBLE) + tt * (CAST(-0.284496736 AS DOUBLE) + tt * (CAST(1.421413741 AS DOUBLE) + " +
        "tt * (CAST(-1.453152027 AS DOUBLE) + tt * CAST(1.061405429 AS DOUBLE))))) * exp(-(yv * yv)), 6) AS p_value " +
        "FROM mz")
    },
    "q315_tokenizer_econ" ->
      // whitespace vs the q24 BPE-ish regex, unioned token streams;
      // exact counts and integer-ratio rates
      ("WITH ws AS (SELECT 'whitespace' AS tokenizer, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "bp AS (SELECT 'bpeish' AS tokenizer, unnest(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\s]')) AS tok FROM documents), " +
        "per AS (SELECT tokenizer, count(*) AS total_tokens, count(DISTINCT tok) AS distinct_tokens " +
        "FROM (SELECT * FROM ws UNION ALL SELECT * FROM bp) GROUP BY 1), " +
        "base AS (SELECT count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars FROM documents) " +
        "SELECT tokenizer, CAST(n_docs AS BIGINT) AS n_docs, CAST(total_tokens AS BIGINT) AS total_tokens, " +
        "CAST(distinct_tokens AS BIGINT) AS distinct_tokens, " +
        "round(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS tokens_per_doc, " +
        "round(CAST(n_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6) AS chars_per_token " +
        "FROM per CROSS JOIN base"),
    "q316_bloom_fpr" -> {
      def bb(i: Int) =
        s"CAST(CAST(('0x' || substr(md5('$i' || '|' || it), 1, 8)) AS BIGINT) % 1024 AS BIGINT)"
      // the q62 bucket arithmetic at m=1024, k=3; probes are the odd
      // parity (disjoint by construction); exact finite-m analytic FPR
      ("WITH ub AS (SELECT DISTINCT user_id AS it FROM events WHERE user_id % 2 = 0), " +
        "up AS (SELECT DISTINCT user_id AS it FROM events WHERE user_id % 2 = 1), " +
        "bits AS MATERIALIZED (SELECT DISTINCT " +
        "CAST(CAST(('0x' || substr(md5(i || '|' || it), 1, 8)) AS BIGINT) % 1024 AS BIGINT) AS bit " +
        "FROM ub CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)), " +
        "fpx AS (SELECT count(*) AS n_false_pos FROM up WHERE " +
        (0 until 3).map(i => s"${bb(i)} IN (SELECT bit FROM bits)")
          .mkString(" AND ") + "), " +
        "nb AS (SELECT CAST(count(*) AS BIGINT) AS n_build FROM ub), " +
        "np AS (SELECT CAST(count(*) AS BIGINT) AS n_probe FROM up), " +
        "fx AS (SELECT n_build, n_probe, CAST(n_false_pos AS BIGINT) AS n_false_pos, " +
        "pow(CAST(1 AS DOUBLE) - pow(CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / 1024, " +
        "3 * CAST(n_build AS DOUBLE)), CAST(3 AS DOUBLE)) AS theo, " +
        "CAST(n_false_pos AS DOUBLE) / CAST(n_probe AS DOUBLE) AS meas, n_probe > 0 AS ok " +
        "FROM nb CROSS JOIN np CROSS JOIN fpx) " +
        "SELECT n_build, n_probe, n_false_pos, " +
        "round(CASE WHEN ok THEN meas END, 6) AS fpr_measured, " +
        "round(theo, 6) AS fpr_theoretical, " +
        "round(CASE WHEN ok AND theo > CAST(0 AS DOUBLE) THEN meas / theo END, 6) AS ratio FROM fx")
    },
    "q321_median_ci" ->
      // order-statistic median + 95% CI at the normal-approximation
      // ranks, read off exact per-group cumulative value-grid counts
      ("WITH b0 AS (SELECT event_type AS grp, value AS x FROM events), " +
        "cnt AS (SELECT grp, x, count(*) AS c FROM b0 GROUP BY 1, 2), " +
        "tt AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1), " +
        "cum AS MATERIALIZED (SELECT cnt.grp, x, CAST(sum(c) OVER (PARTITION BY cnt.grp ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM cnt), " +
        "rk AS MATERIALIZED (SELECT grp, n, CAST(ceil(CAST(n AS DOUBLE) / 2.0) AS BIGINT) AS rmed, " +
        "CAST(floor((CAST(n AS DOUBLE) - CAST(1.959964 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT) AS rlo, " +
        "least(n, CAST(ceil((CAST(n AS DOUBLE) + CAST(1.959964 AS DOUBLE) * sqrt(CAST(n AS DOUBLE))) / 2.0) + 1.0 AS BIGINT)) AS rhi FROM tt), " +
        "md2 AS (SELECT cum.grp, min(x) AS median FROM cum JOIN rk USING (grp) WHERE cum >= rmed GROUP BY 1), " +
        "lo2 AS (SELECT cum.grp, min(x) AS ci_lo FROM cum JOIN rk USING (grp) WHERE cum >= greatest(rlo, 1) GROUP BY 1), " +
        "hi2 AS (SELECT cum.grp, min(x) AS ci_hi FROM cum JOIN rk USING (grp) WHERE cum >= rhi GROUP BY 1) " +
        "SELECT rk.grp AS event_type, n, md2.median, " +
        "CASE WHEN n >= 2 AND rlo >= 1 THEN lo2.ci_lo END AS ci_lo, " +
        "CASE WHEN n >= 2 AND rlo >= 1 THEN hi2.ci_hi END AS ci_hi " +
        "FROM rk JOIN md2 USING (grp) LEFT JOIN lo2 USING (grp) LEFT JOIN hi2 USING (grp)"),
    "q322_yuen" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // per-arm value-grid interior multiplicities, winsorized tails
      // as g-weighted order stats, Welch df; normal-approx p through
      // the shared erfc
      "WITH uy0 AS (SELECT user_id, " +
        s"${snap9("value")} AS y FROM events GROUP BY 1), " +
        "uy AS (SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 " +
        "THEN 'a' ELSE 'b' END AS arm, y AS x FROM uy0), " +
        "cnt AS (SELECT arm, x, count(*) AS c FROM uy GROUP BY 1, 2), " +
        "tt AS (SELECT arm, CAST(sum(c) AS BIGINT) AS n, " +
        "CAST(floor(CAST(0.2 AS DOUBLE) * CAST(sum(c) AS DOUBLE)) AS BIGINT) AS g FROM cnt GROUP BY 1), " +
        "cum AS MATERIALIZED (SELECT cnt.arm, x, c, CAST(sum(c) OVER (PARTITION BY cnt.arm ORDER BY x " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, n, g " +
        "FROM cnt JOIN tt USING (arm)), " +
        "lox AS (SELECT arm, min(x) AS xlo FROM cum WHERE cum >= g + 1 GROUP BY 1), " +
        "hix AS (SELECT arm, min(x) AS xhi FROM cum WHERE cum >= n - g GROUP BY 1), " +
        "sms AS (SELECT arm, " +
        s"${snap9("x * CAST(greatest(CAST(0 AS BIGINT), least(cum, n - g) - greatest(cum - c, g)) AS DOUBLE)")} AS s1, " +
        s"${snap9("x * x * CAST(greatest(CAST(0 AS BIGINT), least(cum, n - g) - greatest(cum - c, g)) AS DOUBLE)")} AS s2 " +
        "FROM cum GROUP BY 1), " +
        "per AS (SELECT tt.arm, n, g, n - 2 * g AS h, s1, s2, xlo, xhi " +
        "FROM tt JOIN sms USING (arm) JOIN lox USING (arm) JOIN hix USING (arm)), " +
        "calc AS (SELECT arm, n, h, " +
        "round(CASE WHEN h >= 2 THEN s1 / CAST(h AS DOUBLE) END, 6) AS tm, " +
        "CASE WHEN h >= 2 THEN " +
        "((s2 + CAST(g AS DOUBLE) * (xlo * xlo) + CAST(g AS DOUBLE) * (xhi * xhi)) - " +
        "(s1 + CAST(g AS DOUBLE) * xlo + CAST(g AS DOUBLE) * xhi) * " +
        "(s1 + CAST(g AS DOUBLE) * xlo + CAST(g AS DOUBLE) * xhi) / CAST(n AS DOUBLE)) / " +
        "(CAST(h AS DOUBLE) * (CAST(h AS DOUBLE) - 1)) END AS d FROM per), " +
        "ax AS (SELECT n AS n_a, h AS h_a, tm AS tm_a, d AS d_a FROM calc WHERE arm = 'a'), " +
        "bx AS (SELECT n AS n_b, h AS h_b, tm AS tm_b, d AS d_b FROM calc WHERE arm = 'b'), " +
        "fz AS (SELECT *, d_a + d_b AS ds, (tm_a - tm_b) / sqrt(d_a + d_b) AS tst, " +
        "(d_a + d_b) * (d_a + d_b) / (d_a * d_a / (CAST(h_a AS DOUBLE) - 1) + d_b * d_b / (CAST(h_b AS DOUBLE) - 1)) AS dfy, " +
        "h_a >= 2 AND h_b >= 2 AND d_a + d_b > CAST(0 AS DOUBLE) AS ok FROM ax CROSS JOIN bx), " +
        "fy AS (SELECT *, abs(tst) / sqrt(CAST(2 AS DOUBLE)) AS yv FROM fz), " +
        "fw AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * yv) AS tt2 FROM fy) " +
        "SELECT n_a, n_b, h_a, h_b, tm_a, tm_b, " +
        "round(CASE WHEN ok THEN tm_a - tm_b END, 6) AS diff, " +
        "round(CASE WHEN ok THEN tst END, 6) AS t, " +
        "round(CASE WHEN ok THEN dfy END, 6) AS df, " +
        "round(CASE WHEN ok THEN " +
        "tt2 * (CAST(0.254829592 AS DOUBLE) + tt2 * (CAST(-0.284496736 AS DOUBLE) + tt2 * (CAST(1.421413741 AS DOUBLE) + " +
        "tt2 * (CAST(-1.453152027 AS DOUBLE) + tt2 * CAST(1.061405429 AS DOUBLE))))) * exp(-(yv * yv)) END, 6) AS p_value " +
        "FROM fw"
    },
    "q320_energy_dist" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // md5 min-40 samples per parity group; the q32 list_dot_product
      // decomposition for distances; snapped leg sums, exact counts
      "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label % 2 = 0 AS a FROM embeddings), " +
        "sx AS MATERIALIZED (SELECT vec_id, e FROM v WHERE a ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 40), " +
        "sy AS MATERIALIZED (SELECT vec_id, e FROM v WHERE NOT a ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 40), " +
        s"xy AS (SELECT count(*) AS nxy, ${snap9("sqrt(greatest(CAST(0 AS DOUBLE), list_dot_product(x.e, x.e) - 2 * list_dot_product(x.e, y.e) + list_dot_product(y.e, y.e)))")} AS sxy " +
        "FROM sx x CROSS JOIN sy y), " +
        s"xx AS (SELECT count(*) AS nxx, ${snap9("sqrt(greatest(CAST(0 AS DOUBLE), list_dot_product(x1.e, x1.e) - 2 * list_dot_product(x1.e, x2.e) + list_dot_product(x2.e, x2.e)))")} AS sxx " +
        "FROM sx x1 CROSS JOIN sx x2), " +
        s"yy AS (SELECT count(*) AS nyy, ${snap9("sqrt(greatest(CAST(0 AS DOUBLE), list_dot_product(y1.e, y1.e) - 2 * list_dot_product(y1.e, y2.e) + list_dot_product(y2.e, y2.e)))")} AS syy " +
        "FROM sy y1 CROSS JOIN sy y2), " +
        "na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM sx), " +
        "nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM sy), " +
        "fz AS (SELECT n_a, n_b, nxy, nxx, nyy, " +
        "sxy / CAST(nxy AS DOUBLE) AS mxy, sxx / CAST(nxx AS DOUBLE) AS mxx, syy / CAST(nyy AS DOUBLE) AS myy, " +
        "nxy > 0 AND nxx > 0 AND nyy > 0 AS ok " +
        "FROM na CROSS JOIN nb CROSS JOIN xy CROSS JOIN xx CROSS JOIN yy) " +
        "SELECT n_a, n_b, " +
        "round(CASE WHEN ok THEN mxy END, 6) AS mean_cross, " +
        "round(CASE WHEN ok THEN mxx END, 6) AS mean_within_a, " +
        "round(CASE WHEN ok THEN myy END, 6) AS mean_within_b, " +
        "round(CASE WHEN ok THEN 2 * mxy - mxx - myy END, 6) AS energy_dist, " +
        "round(CASE WHEN ok THEN CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) * (2 * mxy - mxx - myy) END, 6) AS t_stat " +
        "FROM fz"
    },
    "q319_markov_attrib" -> {
      val snap9 = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      def snap6(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000"
      val states = Seq("click", "error", "signup", "view")
      // variant v: base matrix (vb_v) → closed with absorbing
      // self-loops (v0) → four snapped squarings (v1..v4) → reach
      def chain(tag: String, baseSel: String): String = {
        def sq(from: String, to: String) =
          s"$to AS MATERIALIZED (SELECT * FROM (SELECT a.src, b.dst, " +
            s"${snap6(snap9("a.p * b.p"))} AS p " +
            s"FROM $from a JOIN $from b ON a.dst = b.src GROUP BY 1, 2) " +
            "WHERE p > CAST(0 AS DOUBLE)), "
        s"${tag}0 AS ($baseSel UNION ALL SELECT 'purchase', 'purchase', CAST(1 AS DOUBLE) " +
          "UNION ALL SELECT 'END', 'END', CAST(1 AS DOUBLE)), " +
          sq(s"${tag}0", s"${tag}1") + sq(s"${tag}1", s"${tag}2") +
          sq(s"${tag}2", s"${tag}3") + sq(s"${tag}3", s"${tag}4") +
          s"${tag}r AS (SELECT coalesce(max(CASE WHEN dst = 'purchase' THEN p END), CAST(0 AS DOUBLE)) AS reach, " +
          "coalesce(sum(p), CAST(0 AS DOUBLE)) AS absorbed " +
          s"FROM ${tag}4 WHERE src = 'START' AND dst IN ('purchase', 'END')), "
      }
      val variants = states.zipWithIndex.map { case (s, i) =>
        chain(s"v$i",
          s"SELECT src, CASE WHEN dst = '$s' THEN 'END' ELSE dst END AS dst, " +
            s"${snap6(snap9("p"))} AS p FROM p0f WHERE src <> '$s' GROUP BY 1, 2")
      }.mkString
      val effRows = states.zipWithIndex.map { case (s, i) =>
        s"SELECT '$s' AS state, (SELECT reach FROM fullr) AS rf, " +
          s"(SELECT reach FROM v${i}r) AS rr, " +
          s"(SELECT absorbed FROM v${i}r) AS ab"
      }.mkString(" UNION ALL ")
      // journeys truncate at the FIRST purchase; START/END framing;
      // exact-ratio row-stochastic matrix snapped to 6 dp
      ("WITH b0 AS (SELECT user_id AS u, ts AS t, event_id AS i, CAST(event_type AS VARCHAR) AS e FROM events), " +
        "b1 AS (SELECT *, sum(CASE WHEN e = 'purchase' THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY u ORDER BY t, i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS np FROM b0), " +
        "b2 AS (SELECT u, t, i, e FROM b1 WHERE coalesce(np, 0) = 0), " +
        "stx AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY u ORDER BY t, i) AS rn, " +
        "lead(e) OVER (PARTITION BY u ORDER BY t, i) AS nxt FROM b2), " +
        "ed AS MATERIALIZED (SELECT 'START' AS src, e AS dst, count(*) AS n FROM stx WHERE rn = 1 GROUP BY 1, 2 " +
        "UNION ALL SELECT e, nxt, count(*) FROM stx WHERE nxt IS NOT NULL GROUP BY 1, 2 " +
        "UNION ALL SELECT e, 'END', count(*) FROM stx WHERE nxt IS NULL AND e <> 'purchase' GROUP BY 1, 2), " +
        "rt AS (SELECT src, CAST(sum(n) AS BIGINT) AS rt FROM ed GROUP BY 1), " +
        s"p0f AS MATERIALIZED (SELECT ed.src, ed.dst, ${snap6("CAST(n AS DOUBLE) / CAST(rt AS DOUBLE)")} AS p " +
        "FROM ed JOIN rt USING (src)), " +
        chain("full", s"SELECT src, dst, p FROM p0f") +
        variants +
        s"ef AS (SELECT state, rf, rr, ab, ${snap6("CASE WHEN rf > CAST(0 AS DOUBLE) THEN CAST(1 AS DOUBLE) - rr / rf ELSE CAST(0 AS DOUBLE) END")} AS eff " +
        s"FROM ($effRows)), " +
        s"tx AS (SELECT ${snap9("eff")} AS teff FROM ef) " +
        "SELECT state, round(rf, 6) AS reach_full, round(rr, 6) AS reach_removed, " +
        "round(eff, 6) AS removal_effect, " +
        "round(CASE WHEN teff > CAST(0 AS DOUBLE) THEN eff / teff END, 6) AS attribution_share, " +
        "round(CAST(1 AS DOUBLE) - ab, 6) AS unabsorbed " +
        "FROM ef CROSS JOIN tx")
    },
    "q318_cm_error" ->
      // raw-stream CM cells at d=3, w=256 via the shared md5 bucket;
      // exact truth table; e and e^(-d) as closest-double literals
      ("WITH st0 AS (SELECT user_id AS it FROM events), " +
        "tr AS MATERIALIZED (SELECT it, CAST(count(*) AS BIGINT) AS tc FROM st0 GROUP BY 1), " +
        "cm AS MATERIALIZED (SELECT i AS row_, " +
        "CAST(CAST(('0x' || substr(md5(i || '|' || it), 1, 8)) AS BIGINT) % 256 AS BIGINT) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM st0 CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) GROUP BY 1, 2), " +
        "es AS (SELECT tr.it, min(cnt) AS est FROM tr CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) x " +
        "JOIN cm ON cm.row_ = x.i AND cm.bucket = " +
        "CAST(CAST(('0x' || substr(md5(x.i || '|' || tr.it), 1, 8)) AS BIGINT) % 256 AS BIGINT) GROUP BY 1), " +
        "nt AS (SELECT CAST(sum(tc) AS BIGINT) AS n_total FROM tr), " +
        "jd AS (SELECT est - tc AS err FROM tr JOIN es USING (it)), " +
        "mm AS (SELECT count(*) AS n_items, CAST(sum(err) AS BIGINT) AS serr, CAST(max(err) AS BIGINT) AS max_err, " +
        "CAST(sum(CASE WHEN CAST(err AS DOUBLE) > CAST(2.718281828459045 AS DOUBLE) / 256 * CAST(n_total AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT) AS n_over " +
        "FROM jd CROSS JOIN nt) " +
        "SELECT CAST(n_items AS BIGINT) AS n_items, (SELECT n_total FROM nt) AS n_total, " +
        "round(CAST(serr AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS mean_err, max_err, " +
        "round(CAST(2.718281828459045 AS DOUBLE) / 256 * CAST((SELECT n_total FROM nt) AS DOUBLE), 6) AS eps_bound, " +
        "n_over AS n_over_bound, " +
        "round(CAST(n_over AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS frac_over, " +
        "round(exp(CAST(-3 AS DOUBLE)), 6) AS bound_prob, " +
        "round(CAST(n_over AS DOUBLE) / CAST(n_items AS DOUBLE), 6) <= round(exp(CAST(-3 AS DOUBLE)), 6) AS guarantee_met " +
        "FROM mm"),
    "q317_threshold_sweep" ->
      // the q22 verified pairs × the 9-row threshold axis; absent
      // thresholds emit explicit zeros
      (s"WITH $shingleCte, $jaccardCte, " +
        "th AS (SELECT CAST(i AS DOUBLE) / 10.0 AS threshold " +
        "FROM (SELECT unnest(generate_series(1, 9)) AS i)), " +
        "hit AS (SELECT threshold, doc_a, doc_b FROM jac CROSS JOIN th WHERE jaccard >= threshold), " +
        "ppx AS (SELECT threshold, count(*) AS np FROM hit GROUP BY 1), " +
        "ddx AS (SELECT threshold, count(DISTINCT d) AS nd " +
        "FROM (SELECT threshold, unnest([doc_a, doc_b]) AS d FROM hit) GROUP BY 1) " +
        "SELECT th.threshold, CAST(coalesce(np, 0) AS BIGINT) AS n_pairs, " +
        "CAST(coalesce(nd, 0) AS BIGINT) AS n_docs_affected " +
        "FROM th LEFT JOIN ppx USING (threshold) LEFT JOIN ddx USING (threshold)"),
    "q255_logrank" ->
      // per-day (arm, pooled) deaths + reverse-cumulative at-risk,
      // hypergeometric E/V per step, snapped Σ(O−E) and ΣV, df=1 p
      // through the shared erfc primitive
      (s"WITH $survivalUnitsCte, " +
        "lp AS (SELECT t, CAST(sum(CASE WHEN e AND a THEN 1 ELSE 0 END) AS BIGINT) AS da, " +
        "CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d, " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS la, count(*) AS l FROM u GROUP BY 1), " +
        "lg AS (SELECT *, CAST(sum(la) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS na, " +
        "CAST(sum(l) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n FROM lp), " +
        "lf AS (SELECT * FROM lg WHERE d > 0), " +
        "ld AS (SELECT *, CAST(d AS DOUBLE) AS dd, CAST(na AS DOUBLE) AS nad, CAST(n AS DOUBLE) AS nd FROM lf), " +
        "ls AS (SELECT " +
        "CAST(sum(CAST(floor((CASE WHEN n > 1 THEN CAST(da AS DOUBLE) - dd * nad / nd ELSE CAST(0 AS DOUBLE) END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS oe, " +
        "CAST(sum(CAST(floor((CASE WHEN n > 1 THEN dd * (nad / nd) * (CAST(1 AS DOUBLE) - nad / nd) * (nd - dd) / (nd - CAST(1 AS DOUBLE)) ELSE CAST(0 AS DOUBLE) END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS vv " +
        "FROM ld), " +
        "lt AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN e AND a THEN 1 ELSE 0 END) AS BIGINT) AS events_a, " +
        "CAST(sum(CASE WHEN e AND NOT a THEN 1 ELSE 0 END) AS BIGINT) AS events_b FROM u), " +
        "lx AS (SELECT *, CASE WHEN vv > CAST(0 AS DOUBLE) THEN oe * oe / vv END AS chi2 FROM lt CROSS JOIN ls), " +
        "ly AS (SELECT *, sqrt(chi2) / sqrt(CAST(2 AS DOUBLE)) AS yv FROM lx), " +
        "lz AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * yv) AS tt FROM ly) " +
        "SELECT n_a, n_b, events_a, events_b, round(chi2, 6) AS chi2, " +
        "round(tt * (CAST(0.254829592 AS DOUBLE) + tt * (CAST(-0.284496736 AS DOUBLE) + tt * (CAST(1.421413741 AS DOUBLE) + " +
        "tt * (CAST(-1.453152027 AS DOUBLE) + tt * CAST(1.061405429 AS DOUBLE))))) * exp(-(yv * yv)), 6) AS p_value " +
        "FROM lz"),
    "q256_cox_hazard" ->
      // two unrolled Newton steps from β = 0 (the q201 fixed-
      // trajectory contract), Breslow ties; β re-enters each pass as
      // a one-row CROSS JOIN scalar; all Σ 1e9-snapped
      (s"WITH $survivalUnitsCte, " +
        "cp AS (SELECT t, CAST(sum(CASE WHEN e AND a THEN 1 ELSE 0 END) AS BIGINT) AS s1, " +
        "CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d, " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS la, count(*) AS l FROM u GROUP BY 1), " +
        "cg AS (SELECT *, CAST(sum(la) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1, " +
        "CAST(sum(l) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n FROM cp), " +
        "cst AS MATERIALIZED (SELECT CAST(s1 AS DOUBLE) AS s1, CAST(d AS DOUBLE) AS d, " +
        "CAST(n - n1 AS DOUBLE) AS n0, CAST(n1 AS DOUBLE) AS n1 FROM cg WHERE d > 0), " +
        "ca0 AS (SELECT " +
        "CAST(sum(CAST(floor((s1 - d * (n1 * CAST(1 AS DOUBLE)) / (n0 + n1 * CAST(1 AS DOUBLE))) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS uu, " +
        "CAST(sum(CAST(floor((d * (n0 * n1 * CAST(1 AS DOUBLE)) / ((n0 + n1 * CAST(1 AS DOUBLE)) * (n0 + n1 * CAST(1 AS DOUBLE)))) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS ii " +
        "FROM cst), " +
        "cb1 AS (SELECT CASE WHEN ii > CAST(0 AS DOUBLE) THEN uu / ii END AS beta FROM ca0), " +
        "ca1 AS (SELECT beta, " +
        "CAST(sum(CAST(floor((s1 - d * (n1 * exp(beta)) / (n0 + n1 * exp(beta))) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS uu, " +
        "CAST(sum(CAST(floor((d * (n0 * n1 * exp(beta)) / ((n0 + n1 * exp(beta)) * (n0 + n1 * exp(beta)))) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS ii " +
        "FROM cst CROSS JOIN cb1 GROUP BY beta), " +
        "cb2 AS (SELECT CASE WHEN ii > CAST(0 AS DOUBLE) THEN beta + uu / ii END AS beta FROM ca1), " +
        "ca2 AS (SELECT beta, " +
        "CAST(sum(CAST(floor((d * (n0 * n1 * exp(beta)) / ((n0 + n1 * exp(beta)) * (n0 + n1 * exp(beta)))) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS i2 " +
        "FROM cst CROSS JOIN cb2 GROUP BY beta), " +
        "ct AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CASE WHEN e AND a THEN 1 ELSE 0 END) AS BIGINT) AS events_a, " +
        "CAST(sum(CASE WHEN e AND NOT a THEN 1 ELSE 0 END) AS BIGINT) AS events_b FROM u), " +
        "cz AS (SELECT *, beta * sqrt(i2) AS z FROM ct CROSS JOIN ca2), " +
        "cy AS (SELECT *, abs(z) / sqrt(CAST(2 AS DOUBLE)) AS yv FROM cz), " +
        "cw AS (SELECT *, CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST(0.3275911 AS DOUBLE) * yv) AS tt FROM cy) " +
        "SELECT n_a, n_b, events_a, events_b, round(beta, 6) AS beta, " +
        "round(exp(beta), 6) AS hazard_ratio, " +
        "round(CASE WHEN i2 > CAST(0 AS DOUBLE) THEN CAST(1 AS DOUBLE) / sqrt(i2) END, 6) AS se, " +
        "round(CASE WHEN i2 > CAST(0 AS DOUBLE) THEN z END, 6) AS z, " +
        "round(CASE WHEN i2 > CAST(0 AS DOUBLE) THEN " +
        "tt * (CAST(0.254829592 AS DOUBLE) + tt * (CAST(-0.284496736 AS DOUBLE) + tt * (CAST(1.421413741 AS DOUBLE) + " +
        "tt * (CAST(-1.453152027 AS DOUBLE) + tt * CAST(1.061405429 AS DOUBLE))))) * exp(-(yv * yv)) END, 6) AS p_value " +
        "FROM cw"),
    "q257_poststrat" ->
      // pre-period activity bands as strata; per-(arm, stratum)
      // snapped moments; arm means reweighted by pooled shares; an
      // arm-empty stratum -> NULL estimator (min-cell guard)
      ("WITH pu AS (SELECT user_id, " +
        "CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS c, " +
        "CAST(sum(CAST(floor((CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN value ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS y, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS a " +
        "FROM events GROUP BY 1), " +
        "pb AS (SELECT CASE WHEN c < 20 THEN 'low' WHEN c < 40 THEN 'mid' ELSE 'high' END AS s, a, y FROM pu), " +
        "pm AS (SELECT s, count(*) AS ns, " +
        "CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CAST(floor((CASE WHEN a THEN y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy_a, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b, " +
        "CAST(sum(CAST(floor((CASE WHEN NOT a THEN y ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy_b " +
        "FROM pb GROUP BY 1), " +
        "pt AS (SELECT CAST(sum(ns) AS BIGINT) AS n, CAST(sum(n_a) AS BIGINT) AS na_tot, CAST(sum(n_b) AS BIGINT) AS nb_tot FROM pm), " +
        "ra AS (SELECT 'treat' AS arm, max(na_tot) AS n_units, " +
        "CAST(sum(CAST(floor(sy_a * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy_sum, " +
        "CAST(sum(CAST(floor((CAST(ns AS DOUBLE) / CAST(n AS DOUBLE)) * (CASE WHEN n_a > 0 THEN sy_a / CAST(n_a AS DOUBLE) END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS ps, " +
        "min(n_a) AS mn FROM pm CROSS JOIN pt), " +
        "rb AS (SELECT 'ctrl' AS arm, max(nb_tot) AS n_units, " +
        "CAST(sum(CAST(floor(sy_b * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS sy_sum, " +
        "CAST(sum(CAST(floor((CAST(ns AS DOUBLE) / CAST(n AS DOUBLE)) * (CASE WHEN n_b > 0 THEN sy_b / CAST(n_b AS DOUBLE) END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS ps, " +
        "min(n_b) AS mn FROM pm CROSS JOIN pt) " +
        "SELECT arm, n_units, " +
        "round(sy_sum / (CASE WHEN n_units > 0 THEN CAST(n_units AS DOUBLE) END), 6) AS mean_raw, " +
        "round(CASE WHEN mn > 0 THEN ps END, 6) AS mean_poststrat " +
        "FROM ra UNION ALL SELECT arm, n_units, " +
        "round(sy_sum / (CASE WHEN n_units > 0 THEN CAST(n_units AS DOUBLE) END), 6), " +
        "round(CASE WHEN mn > 0 THEN ps END, 6) FROM rb"),
    "q258_rmst_diff" ->
      // per-arm KM step functions integrated exactly on [0, 30]:
      // segment terms prevS*(min(t,30)-min(prevT,30)) snapped, the
      // post-last-step tail at the final S; no events -> RMST = 30
      (s"WITH $survivalUnitsCte, " +
        "rua AS MATERIALIZED (SELECT * FROM u WHERE a), " +
        "rub AS MATERIALIZED (SELECT * FROM u WHERE NOT a), " +
        "rpa AS (SELECT t, CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d, count(*) AS leave FROM rua GROUP BY 1), " +
        "rga AS (SELECT *, CAST(sum(leave) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM rpa), " +
        "r2a AS (SELECT *, CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS frac FROM rga), " +
        "r3a AS (SELECT *, CASE WHEN d < n_risk THEN CAST(floor(ln(CAST(1 AS DOUBLE) - frac) * 1000000000 + 0.5) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END AS lnt, " +
        "CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END AS zh FROM r2a), " +
        "r4a AS (SELECT *, CAST(sum(lnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000 AS lns, " +
        "max(zh) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z FROM r3a), " +
        "rka AS (SELECT t, CASE WHEN z = 1 THEN CAST(0 AS DOUBLE) ELSE round(exp(lns), 6) END AS km FROM r4a WHERE d > 0), " +
        "rsa AS (SELECT coalesce(lag(km) OVER (ORDER BY t), CAST(1 AS DOUBLE)) * " +
        "CAST(least(t, 30) - coalesce(lag(least(t, 30)) OVER (ORDER BY t), 0) AS DOUBLE) AS seg, t, km FROM rka), " +
        "raa AS (SELECT CAST(sum(CAST(floor(seg * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS area, " +
        "max_by(km, t) AS lasts, max(t) AS lastt FROM rsa), " +
        "rra AS (SELECT round(coalesce(area, CAST(0 AS DOUBLE)) + coalesce(lasts, CAST(1 AS DOUBLE)) * " +
        "CAST(30 - (CASE WHEN lastt IS NULL THEN 0 ELSE least(lastt, 30) END) AS DOUBLE), 6) AS rmst_treat FROM raa), " +
        "rpb AS (SELECT t, CAST(sum(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d, count(*) AS leave FROM rub GROUP BY 1), " +
        "rgb AS (SELECT *, CAST(sum(leave) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM rpb), " +
        "r2b AS (SELECT *, CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS frac FROM rgb), " +
        "r3b AS (SELECT *, CASE WHEN d < n_risk THEN CAST(floor(ln(CAST(1 AS DOUBLE) - frac) * 1000000000 + 0.5) AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END AS lnt, " +
        "CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END AS zh FROM r2b), " +
        "r4b AS (SELECT *, CAST(sum(lnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000000 AS lns, " +
        "max(zh) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z FROM r3b), " +
        "rkb AS (SELECT t, CASE WHEN z = 1 THEN CAST(0 AS DOUBLE) ELSE round(exp(lns), 6) END AS km FROM r4b WHERE d > 0), " +
        "rsb AS (SELECT coalesce(lag(km) OVER (ORDER BY t), CAST(1 AS DOUBLE)) * " +
        "CAST(least(t, 30) - coalesce(lag(least(t, 30)) OVER (ORDER BY t), 0) AS DOUBLE) AS seg, t, km FROM rkb), " +
        "rab AS (SELECT CAST(sum(CAST(floor(seg * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS area, " +
        "max_by(km, t) AS lasts, max(t) AS lastt FROM rsb), " +
        "rrb AS (SELECT round(coalesce(area, CAST(0 AS DOUBLE)) + coalesce(lasts, CAST(1 AS DOUBLE)) * " +
        "CAST(30 - (CASE WHEN lastt IS NULL THEN 0 ELSE least(lastt, 30) END) AS DOUBLE), 6) AS rmst_ctrl FROM rab), " +
        "rc AS (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a, " +
        "CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM u) " +
        "SELECT CAST(30 AS BIGINT) AS tau, n_a, n_b, rmst_treat, rmst_ctrl, " +
        "round(rmst_treat - rmst_ctrl, 6) AS rmst_diff " +
        "FROM rc CROSS JOIN rra CROSS JOIN rrb"),
    "q323_dhash_neardup" ->
      // the md5 grid stub replayed cell-by-cell: 8x9 grid, bit b =
      // cell(r, c) > cell(r, c+1); four 16-bit LSH bands; exact
      // Hamming over band-matched candidates only
      ("WITH dd AS (SELECT doc_id, text, greatest(1, length(text) // 72) AS L FROM documents), " +
        "bx AS MATERIALIZED (SELECT doc_id, b, " +
        "(CAST(('0x' || substr(md5(substr(text, ((b // 8) * 9 + (b % 8)) * L + 1, L)), 1, 8)) AS BIGINT) % 256) > " +
        "(CAST(('0x' || substr(md5(substr(text, ((b // 8) * 9 + (b % 8) + 1) * L + 1, L)), 1, 8)) AS BIGINT) % 256) AS bit " +
        "FROM dd CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b)), " +
        "bd AS MATERIALIZED (SELECT doc_id, b // 16 AS band, " +
        "CAST(sum(CASE WHEN bit THEN CAST(power(2, b % 16) AS BIGINT) ELSE 0 END) AS BIGINT) AS v " +
        "FROM bx GROUP BY 1, 2), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM bd a JOIN bd b ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id), " +
        "hm AS (SELECT cand.doc_a, cand.doc_b, " +
        "CAST(sum(CASE WHEN xa.bit <> xb.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming " +
        "FROM cand JOIN bx xa ON xa.doc_id = cand.doc_a " +
        "JOIN bx xb ON xb.doc_id = cand.doc_b AND xb.b = xa.b GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, hamming FROM hm WHERE hamming <= 6"),
    "q324_media_gates" ->
      // pure metadata arithmetic over the stub geometry
      // (width = n_bytes mod 640, height = n_bytes mod 480)
      ("WITH m AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents), " +
        "g AS (SELECT doc_id, n_bytes, n_bytes % 640 AS width, n_bytes % 480 AS height FROM m), " +
        "x AS (SELECT doc_id, n_bytes, width, height, " +
        "CASE WHEN height > 0 THEN round(CAST(width AS DOUBLE) / CAST(height AS DOUBLE), 4) END AS aspect, " +
        "CASE WHEN width > 0 AND height > 0 THEN round(CAST(n_bytes AS DOUBLE) / CAST(width * height AS DOUBLE), 4) END AS bytes_per_pixel " +
        "FROM g) " +
        "SELECT doc_id, n_bytes, width, height, aspect, bytes_per_pixel, " +
        "width >= 16 AND height >= 16 AS f_dims, " +
        "coalesce(aspect >= CAST(0.25 AS DOUBLE) AND aspect <= CAST(4.0 AS DOUBLE), false) AS f_aspect, " +
        "coalesce(bytes_per_pixel >= CAST(0.05 AS DOUBLE) AND bytes_per_pixel <= CAST(10.0 AS DOUBLE), false) AS f_density, " +
        "(width >= 16 AND height >= 16) AND " +
        "coalesce(aspect >= CAST(0.25 AS DOUBLE) AND aspect <= CAST(4.0 AS DOUBLE), false) AND " +
        "coalesce(bytes_per_pixel >= CAST(0.05 AS DOUBLE) AND bytes_per_pixel <= CAST(10.0 AS DOUBLE), false) AS admit " +
        "FROM x"),
    "q325_media_semdedup" ->
      // the q32 regime on the md5-decoded media features: 4-bit sign
      // bucket at 0.5, bucket-local cosine >= 0.99 pairs, smaller-id
      // survivor policy
      ("WITH f AS MATERIALIZED (SELECT doc_id, " +
        "list_transform(generate_series(0, 7), j -> " +
        "CAST(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || text), 1, 8)) AS BIGINT) % 1000 AS DOUBLE) / 1000.0) AS e " +
        "FROM documents), " +
        "bk AS MATERIALIZED (SELECT doc_id, e, " +
        "CAST(CASE WHEN e[1] >= CAST(0.5 AS DOUBLE) THEN 1 ELSE 0 END + " +
        "CASE WHEN e[2] >= CAST(0.5 AS DOUBLE) THEN 2 ELSE 0 END + " +
        "CASE WHEN e[3] >= CAST(0.5 AS DOUBLE) THEN 4 ELSE 0 END + " +
        "CASE WHEN e[4] >= CAST(0.5 AS DOUBLE) THEN 8 ELSE 0 END AS BIGINT) AS bucket FROM f), " +
        "p AS (SELECT DISTINCT b.doc_id AS id_b FROM bk a JOIN bk b " +
        "ON a.bucket = b.bucket AND a.doc_id < b.doc_id " +
        "WHERE round(list_dot_product(a.e, b.e) / " +
        "nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0), 4) >= CAST(0.99 AS DOUBLE)) " +
        "SELECT doc_id, bucket FROM bk WHERE doc_id NOT IN (SELECT id_b FROM p)"),
    "q326_aes_sample" ->
      // the md5-uniform u = (h+1)/(2^32+1); rank key ln(u)/w snapped
      // to 6 dp BEFORE the rank (id tie-break) so ordering never
      // hinges on a final-ulp ln() disagreement
      ("WITH b AS (SELECT source AS grp, doc_id AS id, CAST(n_chars AS DOUBLE) AS weight FROM documents WHERE CAST(n_chars AS DOUBLE) > 0), " +
        "k AS (SELECT grp, id, weight, " +
        "floor(ln((CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) + 1) / 4294967297.0) / weight * 1000000 + 0.5) / 1000000 AS key FROM b), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY key DESC, id) AS rank FROM k) " +
        "SELECT grp, id, weight, key, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10"),
    "q327_ips_offpolicy" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // empirical behavior propensities within the md5 user quartile;
      // uniform target; snapped weighted sums
      "WITH b AS (SELECT CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS BIGINT) AS x, " +
        "event_type AS a, CAST(value AS DOUBLE) AS r FROM events), " +
        "nx AS (SELECT x, count(*) AS n_x FROM b GROUP BY 1), " +
        "nxa AS (SELECT x, a, count(*) AS n_xa FROM b GROUP BY 1, 2), " +
        "na AS (SELECT count(DISTINCT a) AS n_actions FROM b), " +
        "wt AS (SELECT r, n_actions, CAST(n_x AS DOUBLE) / CAST(n_actions * n_xa AS DOUBLE) AS w " +
        "FROM b JOIN nxa USING (x, a) JOIN nx USING (x) CROSS JOIN na), " +
        s"sx AS (SELECT count(*) AS n, max(n_actions) AS n_actions, ${snap("w * r")} AS swr, " +
        s"${snap("w")} AS sw, ${snap("w * w")} AS sww, ${snap("least(w, 10.0) * r")} AS scr FROM wt) " +
        "SELECT CAST(n AS BIGINT) AS n, CAST(n_actions AS BIGINT) AS n_actions, " +
        "round(swr / CAST(n AS DOUBLE), 6) AS ips, round(swr / sw, 6) AS snips, " +
        "round(scr / CAST(n AS DOUBLE), 6) AS ips_clip, round(sw * sw / sww, 6) AS ess FROM sx"
    },
    "q328_mauve" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // sign-bucket cells; exact shares; per-lambda snapped KLs; the
      // trapezoid area over consecutive interior grid points
      "WITH v AS (SELECT label % 2 = 0 AS isp, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "cx AS (SELECT isp, CAST(CASE WHEN e[1] >= 0 THEN 1 ELSE 0 END + CASE WHEN e[2] >= 0 THEN 2 ELSE 0 END + " +
        "CASE WHEN e[3] >= 0 THEN 4 ELSE 0 END + CASE WHEN e[4] >= 0 THEN 8 ELSE 0 END AS BIGINT) AS cell FROM v), " +
        "h AS MATERIALIZED (SELECT cell, CAST(sum(CASE WHEN isp THEN 1 ELSE 0 END) AS BIGINT) AS np, " +
        "CAST(sum(CASE WHEN isp THEN 0 ELSE 1 END) AS BIGINT) AS nq FROM cx GROUP BY 1), " +
        "t AS (SELECT CAST(sum(np) AS BIGINT) AS tp, CAST(sum(nq) AS BIGINT) AS tq FROM h), " +
        "lam AS (SELECT CAST(i AS DOUBLE) / 10.0 AS lambda FROM (SELECT unnest(generate_series(1, 9)) AS i)), " +
        "kx AS MATERIALIZED (SELECT lambda, " +
        s"${snap("CASE WHEN np > 0 THEN (CAST(np AS DOUBLE) / CAST(tp AS DOUBLE)) * ln((CAST(np AS DOUBLE) / CAST(tp AS DOUBLE)) / (lambda * (CAST(np AS DOUBLE) / CAST(tp AS DOUBLE)) + (CAST(1 AS DOUBLE) - lambda) * (CAST(nq AS DOUBLE) / CAST(tq AS DOUBLE)))) ELSE CAST(0 AS DOUBLE) END")} AS klp, " +
        s"${snap("CASE WHEN nq > 0 THEN (CAST(nq AS DOUBLE) / CAST(tq AS DOUBLE)) * ln((CAST(nq AS DOUBLE) / CAST(tq AS DOUBLE)) / (lambda * (CAST(np AS DOUBLE) / CAST(tp AS DOUBLE)) + (CAST(1 AS DOUBLE) - lambda) * (CAST(nq AS DOUBLE) / CAST(tq AS DOUBLE)))) ELSE CAST(0 AS DOUBLE) END")} AS klq " +
        "FROM h CROSS JOIN t CROSS JOIN lam GROUP BY 1), " +
        "ky AS MATERIALIZED (SELECT lambda, round(klp, 6) AS kl_p_r, round(klq, 6) AS kl_q_r, " +
        "round(exp(-5.0 * klq), 6) AS x, round(exp(-5.0 * klp), 6) AS y FROM kx), " +
        "pt AS (SELECT 10 - CAST(floor(lambda * 10 + 0.5) AS BIGINT) AS i, x, y FROM ky " +
        "UNION ALL SELECT 0, CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) " +
        "UNION ALL SELECT 10, CAST(1 AS DOUBLE), CAST(0 AS DOUBLE)), " +
        "pa AS (SELECT i, x AS x0, y AS y0 FROM pt), " +
        "pb AS (SELECT i - 1 AS i, x AS x1, y AS y1 FROM pt), " +
        s"ar AS (SELECT coalesce(round(${snap("(x1 - x0) * (y0 + y1) / 2.0")}, 6), CAST(0 AS DOUBLE)) AS mauve " +
        "FROM pa JOIN pb USING (i)) " +
        "SELECT lambda, kl_p_r, kl_q_r, x, y, mauve FROM ky CROSS JOIN ar"
    },
    "q329_platt" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      def snap6(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000"
      // q = sigmoid(a*s+b) with (a, b) from the previous iteration CTE
      val q = "(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(CAST(0 AS DOUBLE) - (a * s + b))))"
      def step(prev: String, sums: String, next: String): String =
        s"$sums AS (SELECT a, b, ${snap(s"($q - t) * s")} AS g1, ${snap(s"$q - t")} AS g0, " +
          s"${snap(s"$q * (CAST(1 AS DOUBLE) - $q) * s * s")} AS hxx, " +
          s"${snap(s"$q * (CAST(1 AS DOUBLE) - $q) * s")} AS hx, " +
          s"${snap(s"$q * (CAST(1 AS DOUBLE) - $q)")} AS h0 " +
          s"FROM bz CROSS JOIN $prev GROUP BY a, b), " +
          s"$next AS (SELECT ${snap6("a - (g1 * (h0 + 0.000001) - g0 * hx) / ((hxx + 0.000001) * (h0 + 0.000001) - hx * hx)")} AS a, " +
          s"${snap6("b - (g0 * (hxx + 0.000001) - g1 * hx) / ((hxx + 0.000001) * (h0 + 0.000001) - hx * hx)")} AS b " +
          s"FROM $sums), "
      val chain = (0 until 8).map(i => step(s"it$i", s"sm$i", s"it${i + 1}"))
        .mkString
      // the overflow-safe softplus, branch at 30 (identical CASE)
      val spz = "CASE WHEN (CAST(0 AS DOUBLE) - (a * s + b)) > CAST(30 AS DOUBLE) THEN (CAST(0 AS DOUBLE) - (a * s + b)) " +
        "ELSE ln(CAST(1 AS DOUBLE) + exp(CAST(0 AS DOUBLE) - (a * s + b))) END"
      val spz2 = "CASE WHEN (a * s + b) > CAST(30 AS DOUBLE) THEN (a * s + b) " +
        "ELSE ln(CAST(1 AS DOUBLE) + exp(a * s + b)) END"
      "WITH r0 AS (SELECT CAST(value AS DOUBLE) AS s0, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events), " +
        s"stx AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS np, " +
        s"${snap("s0")} AS ss, ${snap("s0 * s0")} AS sss FROM r0), " +
        "mo AS (SELECT n, np, ss / CAST(n AS DOUBLE) AS mu, " +
        "sqrt(sss / CAST(n AS DOUBLE) - (ss / CAST(n AS DOUBLE)) * (ss / CAST(n AS DOUBLE))) AS sd FROM stx), " +
        "bz AS MATERIALIZED (SELECT (s0 - mu) / sd AS s, " +
        "CASE WHEN y = 1 THEN (CAST(np AS DOUBLE) + 1) / (CAST(np AS DOUBLE) + 2) " +
        "ELSE CAST(1 AS DOUBLE) / (CAST(n - np AS DOUBLE) + 2) END AS t FROM r0 CROSS JOIN mo), " +
        "it0 AS (SELECT CAST(0 AS DOUBLE) AS a, CAST(0 AS DOUBLE) AS b), " +
        chain +
        s"fin AS (SELECT ${snap(s"t * ($spz) + (CAST(1 AS DOUBLE) - t) * ($spz2)")} AS nll " +
        "FROM bz CROSS JOIN it8 GROUP BY a, b) " +
        "SELECT (SELECT n FROM mo) AS n, (SELECT np FROM mo) AS n_pos, " +
        s"(SELECT ${snap6("a")} FROM it8) AS a, (SELECT ${snap6("b")} FROM it8) AS b, " +
        "round((SELECT nll FROM fin), 6) AS nll"
    },
    "q330_confident_learning" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // the q292 k-fold NB replay, served HELD-OUT (each doc scored by
      // its own fold's model), then Northcutt thresholds + joint matrix
      ("WITH folds AS (SELECT range AS f FROM range(5)), " +
        "tok AS (SELECT doc_id, lang AS lab, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "dt AS MATERIALIZED (SELECT doc_id, doc_id % 5 AS fold, lab, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3, 4), " +
        "ct AS MATERIALIZED (SELECT f, lab, term, sum(tf) AS ctf FROM dt CROSS JOIN folds WHERE fold <> f GROUP BY 1, 2, 3), " +
        "vv AS (SELECT f, count(DISTINCT term) AS v FROM ct GROUP BY 1), " +
        "cs AS (SELECT f, lab, sum(ctf) AS ctot FROM ct GROUP BY 1, 2), " +
        "dl AS (SELECT doc_id, lang AS lab, doc_id % 5 AS fold FROM documents), " +
        "pr AS (SELECT f, lab, count(*) AS nd FROM dl CROSS JOIN folds WHERE fold <> f GROUP BY 1, 2), " +
        "nt AS (SELECT f, sum(nd) AS ntot FROM pr GROUP BY 1), " +
        "ls AS (SELECT cs.f, cs.lab AS clab, " +
        "ln(CAST(nd AS DOUBLE) / CAST(ntot AS DOUBLE)) AS prior_ln, " +
        "ln(1.0 / CAST(ctot + v AS DOUBLE)) AS lp0 " +
        "FROM cs JOIN pr ON pr.f = cs.f AND pr.lab = cs.lab " +
        "JOIN nt ON nt.f = cs.f JOIN vv ON vv.f = cs.f), " +
        "sv AS MATERIALIZED (SELECT doc_id, lab, term, tf, fold AS f FROM dt), " +
        "seen AS (SELECT sv.f, sv.doc_id, ct.lab AS clab, " +
        s"${snap("CAST(tf AS DOUBLE) * ln(CAST(ctf + 1 AS DOUBLE))")} AS s1 " +
        "FROM sv JOIN ct ON ct.f = sv.f AND ct.term = sv.term GROUP BY 1, 2, 3), " +
        "dn AS (SELECT f, doc_id, lab, sum(tf) AS n_tok FROM sv GROUP BY 1, 2, 3), " +
        "sc AS MATERIALIZED (SELECT dn.f, dn.doc_id, dn.lab, ls.clab, " +
        "round(prior_ln + CAST(n_tok AS DOUBLE) * lp0 + coalesce(s1, 0.0), 4) AS score " +
        "FROM dn JOIN ls ON ls.f = dn.f " +
        "LEFT JOIN seen ON seen.f = dn.f AND seen.doc_id = dn.doc_id AND seen.clab = ls.clab), " +
        "mx AS (SELECT doc_id, max(score) AS mx FROM sc GROUP BY 1), " +
        s"zz AS (SELECT sc.doc_id, ${snap("exp(score - mx)")} AS z " +
        "FROM sc JOIN mx USING (doc_id) GROUP BY 1), " +
        "po AS MATERIALIZED (SELECT sc.doc_id, sc.lab, sc.clab, " +
        "CAST(floor(round(exp(score - mx) / z, 6) * 1000000 + 0.5) AS BIGINT) AS pl " +
        "FROM sc JOIN mx USING (doc_id) JOIN zz USING (doc_id)), " +
        "thr AS (SELECT clab, CAST(floor(CAST(sum(pl) AS DOUBLE) / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS tl " +
        "FROM po WHERE clab = lab GROUP BY 1), " +
        "qd AS (SELECT doc_id, lab, clab, pl, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY pl DESC, clab) AS rn " +
        "FROM po JOIN thr USING (clab) WHERE pl >= tl) " +
        "SELECT lab AS lab_given, clab AS lab_suggested, " +
        "CAST(count(*) AS BIGINT) AS n_docs, lab <> clab AS off_diag " +
        "FROM qd WHERE rn = 1 GROUP BY 1, 2")
    },
    "q331_adamic_adar" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // shared-supplier candidates only, via-degree band [2, 1000]
      // (the served query's hub cap); 1/ln(deg) snapped; top-100 by
      // (score desc, ids)
      "WITH e AS (SELECT DISTINCT l_partkey AS node, l_suppkey AS via " +
        "FROM lineitem WHERE l_partkey % 4 = 0), " +
        "dg AS (SELECT via, count(*) AS deg FROM e GROUP BY 1), " +
        "ew AS MATERIALIZED (SELECT e.node, e.via, dg.deg FROM e JOIN dg USING (via) WHERE deg >= 2 AND deg <= 1000), " +
        "px AS (SELECT a.node AS node_a, b.node AS node_b, a.deg " +
        "FROM ew a JOIN ew b ON a.via = b.via AND a.node < b.node), " +
        "ag AS (SELECT node_a, node_b, CAST(count(*) AS BIGINT) AS n_common, " +
        s"round(${snap("CAST(1 AS DOUBLE) / ln(CAST(deg AS DOUBLE))")}, 6) AS aa_score " +
        "FROM px GROUP BY 1, 2) " +
        "SELECT * FROM ag ORDER BY aa_score DESC, node_a, node_b LIMIT 100"
    },
    "q332_overlap_join" ->
      // the naive overlap predicate IS the estimand; the engine's
      // binned equi-join + first-shared-bin reporting must reproduce
      // it exactly
      ("WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events), " +
        "sp AS (SELECT user_id, us // 86400000000 AS day, min(us) AS alo, max(us) + 1 AS ahi FROM ev GROUP BY 1, 2), " +
        "wd AS (SELECT DISTINCT us // 86400000000 AS wday FROM ev), " +
        "wn AS (SELECT wday * 86400000000 + 21600000000 AS blo, wday * 86400000000 + 64800000000 AS bhi FROM wd) " +
        "SELECT user_id, CAST(day AS BIGINT) AS day, CAST(blo AS BIGINT) AS win_lo, " +
        "CAST(least(ahi, bhi) - greatest(alo, blo) AS BIGINT) AS overlap " +
        "FROM sp JOIN wn ON alo < bhi AND blo < ahi"),
    "q333_l_diversity" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      "WITH c AS (SELECT lang, source, CAST(floor(n_chars / 100) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS nv FROM documents GROUP BY 1, 2, 3), " +
        "p AS (SELECT lang, source, CAST(sum(nv) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS distinct_l FROM c GROUP BY 1, 2), " +
        s"h AS (SELECT c.lang, c.source, ${snap("(CAST(nv AS DOUBLE) / CAST(n_rows AS DOUBLE)) * ln(CAST(n_rows AS DOUBLE) / CAST(nv AS DOUBLE))")} AS hh " +
        "FROM c JOIN p USING (lang, source) GROUP BY 1, 2) " +
        "SELECT p.lang, p.source, n_rows, distinct_l, " +
        "round(exp(hh), 4) AS entropy_l, " +
        "round(exp(hh), 4) >= CAST(2.0 AS DOUBLE) AS diverse " +
        "FROM p JOIN h USING (lang, source)"
    },
    "q334_shapley" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // journeys <= first purchase; touched-set bitmask; v(S) = exact
      // conversion rate at exactly-S (unobserved -> 0); exact factorial
      // weights as single divisions; snapped phi
      ("WITH b0 AS (SELECT user_id AS u, ts AS t, event_id AS i, CAST(event_type AS VARCHAR) AS e FROM events), " +
        "b1 AS (SELECT *, sum(CASE WHEN e = 'purchase' THEN 1 ELSE 0 END) OVER " +
        "(PARTITION BY u ORDER BY t, i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS np FROM b0), " +
        "b2 AS (SELECT u, e FROM b1 WHERE coalesce(np, 0) = 0), " +
        "pu AS (SELECT u, CAST(max(CASE WHEN e = 'click' THEN 1 ELSE 0 END) + " +
        "max(CASE WHEN e = 'error' THEN 2 ELSE 0 END) + " +
        "max(CASE WHEN e = 'signup' THEN 4 ELSE 0 END) + " +
        "max(CASE WHEN e = 'view' THEN 8 ELSE 0 END) AS BIGINT) AS mask, " +
        "CAST(max(CASE WHEN e = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv FROM b2 GROUP BY 1), " +
        "bm AS (SELECT mask, CAST(count(*) AS BIGINT) AS nu, CAST(sum(conv) AS BIGINT) AS nc FROM pu GROUP BY 1), " +
        "lat AS MATERIALIZED (SELECT CAST(g.m AS BIGINT) AS mask, " +
        "coalesce(CASE WHEN nu > 0 THEN CAST(nc AS DOUBLE) / CAST(nu AS DOUBLE) END, CAST(0 AS DOUBLE)) AS v " +
        "FROM (SELECT unnest(generate_series(0, 15)) AS m) g LEFT JOIN bm ON bm.mask = g.m), " +
        "ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)) AS t(channel, bit)), " +
        "tm AS (SELECT channel, " +
        "(CASE bit_count(l.mask) WHEN 0 THEN CAST(6.0 AS DOUBLE) / 24 WHEN 1 THEN CAST(2.0 AS DOUBLE) / 24 " +
        "WHEN 2 THEN CAST(2.0 AS DOUBLE) / 24 WHEN 3 THEN CAST(6.0 AS DOUBLE) / 24 END) * (ux.v - l.v) AS term " +
        "FROM lat l CROSS JOIN ch JOIN lat ux ON ux.mask = l.mask + bit WHERE (l.mask & bit) = 0), " +
        s"ph AS (SELECT channel, round(${snap("term")}, 6) AS shapley FROM tm GROUP BY 1), " +
        s"tt AS (SELECT ${snap("shapley")} AS tot FROM ph) " +
        "SELECT channel, shapley, round(CASE WHEN tot > CAST(0 AS DOUBLE) THEN shapley / tot END, 6) AS share " +
        "FROM ph CROSS JOIN tt")
    },
    "q335_crossmodal_recall" -> {
      val sb4 = (v: String) => "CAST(" + (0 until 4).map(j =>
        s"CASE WHEN $v[${j + 1}] >= CAST(0.5 AS DOUBLE) THEN ${1 << j} ELSE 0 END")
        .mkString(" + ") + " AS BIGINT)"
      // md5 media features (q325's grid); text query = own features +
      // (md5 'q' grid − 0.5)·0.25; cosine 6-dp rank with id tie-break;
      // recall@k = own-id hit rate, flat scan vs 4-bit sign bucket
      ("WITH f AS MATERIALIZED (SELECT doc_id, " +
        "list_transform(generate_series(0, 7), j -> " +
        "CAST(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || text), 1, 8)) AS BIGINT) % 1000 AS DOUBLE) / 1000.0) AS e " +
        "FROM documents), " +
        s"c AS MATERIALIZED (SELECT doc_id AS n_id, e, ${sb4("e")} AS bucket FROM f), " +
        "q0 AS (SELECT doc_id AS q_id, list_transform(generate_series(0, 7), j -> e[j + 1] + " +
        "(CAST(CAST(('0x' || substr(md5('q' || CAST(j AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS DOUBLE) / 1000.0 - CAST(0.5 AS DOUBLE)) * CAST(0.25 AS DOUBLE)) AS qv " +
        "FROM f WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 = 0), " +
        s"q AS MATERIALIZED (SELECT q_id, qv, ${sb4("qv")} AS q_bucket FROM q0), " +
        "nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q), " +
        "hs AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k), " +
        "sf AS (SELECT q_id, n_id, round(list_dot_product(qv, e) / " +
        "nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)), 0), 6) AS cos FROM q CROSS JOIN c), " +
        "rf AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sf), " +
        "hfl AS (SELECT q_id, min(rank) AS hit_rank FROM rf WHERE rank <= 10 AND n_id = q_id GROUP BY 1), " +
        "sb AS (SELECT q_id, n_id, round(list_dot_product(qv, e) / " +
        "nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e, e)), 0), 6) AS cos FROM q JOIN c ON q.q_bucket = c.bucket), " +
        "rb AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank FROM sb), " +
        "hbk AS (SELECT q_id, min(rank) AS hit_rank FROM rb WHERE rank <= 10 AND n_id = q_id GROUP BY 1), " +
        "hcf AS (SELECT k, CAST(count(*) AS BIGINT) AS h FROM hs, hfl WHERE hit_rank <= k GROUP BY 1), " +
        "hcb AS (SELECT k, CAST(count(*) AS BIGINT) AS h FROM hs, hbk WHERE hit_rank <= k GROUP BY 1) " +
        "SELECT method, k, n_queries, hits, round(CAST(hits AS DOUBLE) / CAST(n_queries AS DOUBLE), 6) AS recall_at_k FROM (" +
        "SELECT 'flat' AS method, hs.k, nq.n_queries, CAST(coalesce(hcf.h, 0) AS BIGINT) AS hits " +
        "FROM hs CROSS JOIN nq LEFT JOIN hcf ON hcf.k = hs.k " +
        "UNION ALL " +
        "SELECT 'bucket' AS method, hs.k, nq.n_queries, CAST(coalesce(hcb.h, 0) AS BIGINT) AS hits " +
        "FROM hs CROSS JOIN nq LEFT JOIN hcb ON hcb.k = hs.k) " +
        "ORDER BY method, k")
    },
    "q338_qini" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // per-user pre-period snapped spend as the targeting score, md5
      // arm, post-period purchase conversion; fixed-width score bins;
      // cumulative class counts score-DESC; Qini vs the diagonal;
      // trapezoid area on snapped segment terms
      ("WITH u AS (SELECT user_id, " +
        "CAST(sum(CAST(floor((CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN value ELSE 0.0 END) * 1000000000 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000000 AS x, " +
        "CAST(max(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y, " +
        "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50 AS t " +
        "FROM events GROUP BY 1), " +
        "sm AS (SELECT max(x) AS smax FROM u), " +
        "bn AS (SELECT CAST(CASE WHEN smax > CAST(0 AS DOUBLE) THEN " +
        "greatest(CAST(0 AS BIGINT), least(CAST(floor(x / smax * CAST(10 AS DOUBLE)) AS BIGINT), CAST(9 AS BIGINT))) " +
        "ELSE 0 END AS BIGINT) AS bin, t, y FROM u CROSS JOIN sm), " +
        "gr AS (SELECT bin, CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt, " +
        "CAST(sum(CASE WHEN t THEN y ELSE 0 END) AS BIGINT) AS ct, " +
        "CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc, " +
        "CAST(sum(CASE WHEN NOT t THEN y ELSE 0 END) AS BIGINT) AS cc FROM bn GROUP BY 1), " +
        "tt AS (SELECT CAST(sum(nt) AS BIGINT) AS tnt, CAST(sum(ct) AS BIGINT) AS tct, " +
        "CAST(sum(nc) AS BIGINT) AS tnc, CAST(sum(cc) AS BIGINT) AS tcc FROM gr), " +
        "cm AS (SELECT bin, " +
        "CAST(sum(nt) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cnt, " +
        "CAST(sum(ct) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cct, " +
        "CAST(sum(nc) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cnc, " +
        "CAST(sum(cc) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ccc " +
        "FROM gr), " +
        "qq AS (SELECT bin, cnt, cnc, cct, ccc, " +
        "CASE WHEN cnc > 0 THEN CAST(cct AS DOUBLE) - CAST(ccc AS DOUBLE) * CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE) ELSE CAST(cct AS DOUBLE) END AS qini_raw, " +
        "CAST(cnt + cnc AS DOUBLE) / CAST(tnt + tnc AS DOUBLE) AS xfrac, " +
        "CASE WHEN tnc > 0 THEN CAST(tct AS DOUBLE) - CAST(tcc AS DOUBLE) * CAST(tnt AS DOUBLE) / CAST(tnc AS DOUBLE) ELSE CAST(tct AS DOUBLE) END AS qtot " +
        "FROM cm CROSS JOIN tt), " +
        "sg AS (SELECT (xfrac - coalesce(lag(xfrac) OVER (ORDER BY xfrac), CAST(0 AS DOUBLE))) * " +
        "((qini_raw - xfrac * qtot) + coalesce(lag(qini_raw - xfrac * qtot) OVER (ORDER BY xfrac), CAST(0 AS DOUBLE))) / CAST(2.0 AS DOUBLE) AS seg FROM qq), " +
        s"ar AS (SELECT round(${snap("seg")}, 6) AS qini_coef FROM sg) " +
        "SELECT bin, cnt AS n_t, cnc AS n_c, cct AS conv_t, ccc AS conv_c, " +
        "round(xfrac, 6) AS frac_targeted, round(qini_raw, 6) AS qini, " +
        "round(xfrac * qtot, 6) AS qini_random, qini_coef " +
        "FROM qq CROSS JOIN ar ORDER BY bin DESC")
    },
    "q337_modularity" -> {
      val snap = (e: String) => s"CAST(sum(CAST(floor(($e) * 1000000000 + 0.5) " +
        "AS DECIMAL(38,0))) AS DOUBLE) / 1000000000"
      // deduped undirected co-purchase edges; per-brand e_in/deg_sum;
      // Q_c = e_c/m - (d_c/2m)^2 as one fixed IEEE composition; total
      // snapped at 1e9
      "WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0), " +
        "e0 AS (SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi FROM li a JOIN li b " +
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0), " +
        "dg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM " +
        "(SELECT lo AS n FROM e0 UNION ALL SELECT hi AS n FROM e0) GROUP BY 1), " +
        "lab AS (SELECT p_partkey AS n, p_brand AS c FROM part), " +
        "dc AS (SELECT c, CAST(sum(d) AS BIGINT) AS deg_sum, CAST(count(*) AS BIGINT) AS n_nodes " +
        "FROM dg JOIN lab USING (n) GROUP BY 1), " +
        "ei AS (SELECT la.c, CAST(count(*) AS BIGINT) AS e_in FROM e0 " +
        "JOIN lab la ON la.n = e0.lo JOIN lab lb ON lb.n = e0.hi WHERE la.c = lb.c GROUP BY 1), " +
        "pc AS (SELECT dc.c AS community, n_nodes, CAST(coalesce(e_in, 0) AS BIGINT) AS e_in, deg_sum, " +
        "CAST(coalesce(e_in, 0) AS DOUBLE) / CAST(m AS DOUBLE) - " +
        "(CAST(deg_sum AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE))) * " +
        "(CAST(deg_sum AS DOUBLE) / (CAST(2.0 AS DOUBLE) * CAST(m AS DOUBLE))) AS contrib_raw " +
        "FROM dc LEFT JOIN ei USING (c) CROSS JOIN mm), " +
        s"tt AS (SELECT round(${snap("contrib_raw")}, 6) AS q_total FROM pc) " +
        "SELECT community, n_nodes, e_in, deg_sum, round(contrib_raw, 6) AS contrib, q_total " +
        "FROM pc CROSS JOIN tt ORDER BY community"
    },
    "q336_t_closeness" ->
      // EMD over the ordered decile grid: per-value diff snapped at 1e9
      // into exact integer prefix sums (the q276 window discipline);
      // the two divisions (1e9, m-1) happen once at the end
      ("WITH c AS (SELECT lang, source, CAST(floor(n_chars / 100) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS nv FROM documents GROUP BY 1, 2, 3), " +
        "g AS (SELECT sv, CAST(sum(nv) AS BIGINT) AS gv FROM c GROUP BY 1), " +
        "gt AS (SELECT CAST(sum(gv) AS BIGINT) AS gn, CAST(count(*) AS BIGINT) AS m FROM g), " +
        "p AS (SELECT lang, source, CAST(sum(nv) AS BIGINT) AS n_rows FROM c GROUP BY 1, 2), " +
        "gr AS (SELECT p.lang, p.source, p.n_rows, g.sv, g.gv, coalesce(c.nv, 0) AS nv " +
        "FROM p CROSS JOIN g LEFT JOIN c ON c.lang = p.lang AND c.source = p.source AND c.sv = g.sv), " +
        "cu AS (SELECT lang, source, n_rows, m, " +
        "sum(CAST(floor((CAST(nv AS DOUBLE) / CAST(n_rows AS DOUBLE) - CAST(gv AS DOUBLE) / CAST(gn AS DOUBLE)) * 1000000000 + 0.5) AS DECIMAL(38,0))) " +
        "OVER (PARTITION BY lang, source ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum9, " +
        "row_number() OVER (PARTITION BY lang, source ORDER BY sv) AS rn " +
        "FROM gr CROSS JOIN gt), " +
        "e AS (SELECT lang, source, max(n_rows) AS n_rows, max(m) AS m, sum(abs(cum9)) AS ss9 " +
        "FROM cu WHERE rn < m OR m = 1 GROUP BY 1, 2) " +
        "SELECT lang, source, n_rows, " +
        "round(CASE WHEN m > 1 THEN CAST(ss9 AS DOUBLE) / 1000000000 / CAST(m - 1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END, 6) AS emd, " +
        "round(CASE WHEN m > 1 THEN CAST(ss9 AS DOUBLE) / 1000000000 / CAST(m - 1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END, 6) <= CAST(0.2 AS DOUBLE) AS close " +
        "FROM e")
    )
}
