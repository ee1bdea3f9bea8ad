package graft

import org.apache.spark.sql.DataFrame

/** Plan contracts: the physical-plan properties the 100 TB design
  * depends on, asserted as tests so a regression (a lost pushdown, an
  * accidental cartesian, a de-broadcast) fails CI instead of surfacing
  * as a cluster incident. Complements PLANS.md (human-readable
  * evidence) and ScaleSpec (storage-layout proofs).
  */
class PlanContractSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("q04: allow-list evaluates in-scan; only referenced columns read") {
    val p = plan("q04_status_filter")
    // lower() keeps the IN out of parquet row-group pushdown (case
    // insensitivity is reference semantics) — but it still evaluates
    // inside the scan's DataFilters, and column pruning holds: 3 of the
    // table's 5 columns read
    assert(p.contains("DataFilters: [lower(event_type"), p.take(800))
    assert(p.contains(
      "ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string>"),
      p.take(800))
  }

  test("q06: junk-guard numeric predicates push down to parquet") {
    val p = plan("q06_junk_guard")
    assert(p.contains("PushedFilters: [IsNotNull(value)"), p.take(800))
  }

  test("q09: star revenue — dims broadcast, fact joins the enriched " +
    "order side by SHUFFLE (never broadcast, never joined per-dim)") {
    val p = plan("q09_star_revenue")
    // customer/nation/region enrich the orders side via broadcasts;
    // the fact participates in exactly ONE join, pinned to shuffle
    // (orders is fact-sized at scale; un-hinted stats invert and
    // broadcast the pruned fact scan)
    assert(count(p, "BroadcastHashJoin") >= 3, p.take(800))
    assert(p.contains("SortMergeJoin [l_orderkey"),
      s"fact join is not a shuffle join:\n${p.take(800)}")
  }

  test("q14: top-k plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("q14_topk_routes")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    // a global sort would plan as a rangepartitioning exchange + Sort;
    // the merge-join's partition-LOCAL sorts (global=false) are fine
    assert(!p.contains("rangepartitioning"),
      "global sort materialization crept in")
  }

  test("q25: ANN corpus side scores in place — queries broadcast, no corpus shuffle before scoring") {
    // q25 now SERVES the shared materialized exact ranking (every
    // retrieval eval measures against it), so the brute-force BUILD
    // shape is asserted on the builder itself
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.ops.Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(500))
    // the only exchange is the per-query top-k window, after scoring
    assert(count(p, "Exchange hashpartitioning") <= 1, p.take(800))
    // and the query itself reads the artifact, not the corpus
    assert(!plan("q25_ann_cosine").contains("Scan parquet"),
      "q25 re-derived the exact ranking instead of serving the artifact")
  }

  test("q55: rank<=k filter plans as WindowGroupLimit (partial top-k pushdown)") {
    val p = plan("q55_ann_lsh")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("q21: native signatures — no exchange before the band aggregation") {
    val p = plan("q21_minhash_lsh")
    // exchanges: fanout repartition, band agg, dedup of candidate pairs,
    // plus the band self-join sides — but NO shingle-set distinct (the
    // composed form's extra exchange). RoundRobin fanout + ≤4 hash.
    assert(count(p, "Exchange hashpartitioning") <= 4, p.take(1200))
    assert(p.contains("graft_minhash") || p.contains("minhashsig"),
      "native signature expression missing from plan")
  }

  test("q61: sketch estimates are broadcast joins (matrix never shuffles the probe side)") {
    val p = plan("q61_heavy_hitters")
    assert(count(p, "BroadcastHashJoin") >= 3, p.take(800))
  }

  test("q67: quantization is pure elementwise — zero exchanges, pruned scan") {
    val p = plan("q67_quantize")
    assert(!p.contains("Exchange"), p.take(800))
    // label column never read
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array"),
      p.take(800))
  }

  test("q68: HLL registers combine map-side — partial_max precedes the exchange") {
    val p = plan("q68_hll_registers")
    assert(p.contains("partial_max"), p.take(800))
    // register groupBy + estimate groupBy: exactly two hash exchanges
    assert(count(p, "Exchange hashpartitioning") <= 2, p.take(1000))
  }

  test("q71: mixture rates broadcast — the corpus is never sort-merge shuffled") {
    val p = plan("q71_mixture")
    assert(!p.contains("SortMergeJoin"), "corpus-sized shuffle join crept in")
    assert(count(p, "BroadcastExchange") >= 2, p.take(800)) // rates + total
  }

  test("q72: snapshot diff is ONE full-outer join with pushed status filters") {
    val p = plan("q72_snapshot_diff")
    assert(count(p, "FullOuter") == 1, p.take(800))
    assert(p.contains("PushedFilters: [In(o_orderstatus"), p.take(1200))
  }

  test("q74: centroid explosion combines before the single exchange") {
    val p = plan("q74_centroids")
    assert(p.contains("partial_avg"), p.take(800))
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(800))
  }

  test("q75: the OR-join plans as two hash joins, never a nested loop") {
    val p = plan("q75_or_join_rewrite")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"DisjunctiveJoinRewrite did not fire:\n${p.take(1200)}")
    assert(count(p, "BroadcastHashJoin") == 2, p.take(1200))
    assert(p.contains("Union"), p.take(1200))
  }

  test("q75: building the query leaves its session's optimizer rules alone") {
    // the rule comes from GraftExtensions; a query must not append it
    val before = spark.experimental.extraOptimizations
    plan("q75_or_join_rewrite")
    assert(spark.experimental.extraOptimizations == before)
    assert(!before.contains(graft.plans.DisjunctiveJoinRewrite))
  }

  test("q76: k-means assignment is joinless — literal centroids, one exchange") {
    val p = plan("q76_kmeans")
    // the output plan is the final assign+M-step: argmin over literal
    // centroids (no join anywhere) and the k×dim partial-avg exchange
    assert(!p.contains("Join"), p.take(1200))
    assert(p.contains("partial_avg"), p.take(1200))
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(1200))
  }

  test("q77: compaction plans ONE exchange — the bin agg reuses the window's partitioning") {
    val p = plan("q77_compaction")
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(1200))
    assert(p.contains("WindowExec") || p.contains("Window"), p.take(600))
  }

  test("q78: winsorize never shuffles the corpus — bounds broadcast back") {
    val p = plan("q78_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // the only exchange feeds the tiny percentile aggregate, never the
    // probe side: no sort-merge/shuffled-hash join anywhere
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(800))
  }

  test("q79: gap fill — obs side broadcasts, carry-forward window needs no new exchange") {
    val p = plan("q79_gap_fill")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // exchanges: one per aggregated side (span, obs); the window rides
    // the span agg's partitioning
    assert(count(p, "Exchange hashpartitioning") <= 2, p.take(1200))
  }

  test("q80/q81: the connector scan carries only the referenced columns") {
    val p = plan("q80_source_topic")
    assert(p.contains("BatchScan flight_events"), p.take(600))
    assert(p.contains("cols=json"), p.take(600)) // event_id/ts pruned away
  }

  test("q82: chunk generation is one codegen span with zero exchanges") {
    val p = plan("q82_sliding_chunks")
    assert(!p.contains("Exchange"), p.take(800))
    assert(p.contains("Generate explode"), p.take(800))
  }

  test("q84: temperature rates — corpus aggregated once, normalizer broadcast") {
    val p = plan("q84_temperature")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q90: posting cap plans as WindowGroupLimit — a stopword never ships its corpus") {
    val p = plan("q90_inverted_index")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("q92: gram matrix is ONE exchange — the sufficient-statistics aggregation") {
    val p = plan("q92_gram_matrix")
    // fanout RoundRobin + the (i,j) hash agg; nothing else may shuffle
    assert(count(p, "Exchange hashpartitioning") <= 1, p.take(1000))
    assert(p.contains("partial_sum"),
      "cell sums must combine map-side before the exchange")
  }

  test("q94: triangle orientation joins broadcast the node-sized degree table") {
    val p = plan("q94_triangles")
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(1200))
  }

  test("q95: transition matrix — one stream-sized window shuffle, matrix-sized everything else") {
    val p = plan("q95_transitions")
    // exchanges: the (user) window partitioning, the (type, next) agg,
    // and the matrix-sized row-total window — never a fourth
    assert(count(p, "Exchange hashpartitioning") <= 3, p.take(1200))
  }

  test("q97: the reconciliation fingerprint is ONE bucket-keyed exchange") {
    val p = plan("q97_table_checksum")
    assert(count(p, "Exchange hashpartitioning") <= 1, p.take(1000))
    assert(p.contains("partial_sum"), "checksum must combine map-side")
  }

  test("q101: TWAP — one window shuffle, then a map-side-combined agg") {
    val p = plan("q101_twap")
    // the (key) window partitioning is reused by the groupBy (same key):
    // at most 2 exchanges ever, and products combine before any shuffle
    assert(count(p, "Exchange hashpartitioning") <= 2, p.take(1000))
    assert(p.contains("partial_sum"), p.take(1000))
  }

  test("q102: a million regressions cost ONE exchange of sufficient statistics") {
    val p = plan("q102_group_regression")
    assert(count(p, "Exchange hashpartitioning") <= 1, p.take(1000))
    assert(p.contains("partial_sum"), p.take(1000))
    // the slope arithmetic runs post-agg in-plan: no driver step exists,
    // so nothing but the agg exchange may appear
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q103: N quality checks cost ONE aggregation pass (plus the RI anti join)") {
    val p = plan("q103_quality_report")
    // the per-column report: one agg (partial+final) over events; the
    // only join in the whole plan is the referential anti join
    assert(count(p, "HashAggregate") <= 6, p.take(1200))
    assert(count(p, "Join") <= 1 ||
      count(p, "BroadcastHashJoin LeftAnti") + count(p, "SortMergeJoin") >= 1,
      p.take(1200))
  }

  test("q109: the register grid broadcasts; rolling merge reads the " +
    "MATERIALIZED registers") {
    val p = plan("q109_rolling_distinct")
    // both consumers (day domain + rolling merge) read the
    // localCheckpoint'd register table — the raw events feed the
    // register build only, so the served plan carries ZERO parquet scans
    assert(count(p, "Scan ExistingRDD") >= 2, p.take(1500))
    assert(count(p, "FileScan parquet") == 0, p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "bucket grid must broadcast")
  }

  test("q110: the z-test is two aggregation levels, no join at all") {
    val p = plan("q110_ab_test")
    assert(!p.contains("Join"), p.take(800))
    assert(p.contains("partial_max") || p.contains("partial_sum"), p.take(800))
  }

  test("q113: bigram-LM scoring — vocab tables broadcast, bounded exchanges") {
    val p = plan("q113_bigram_nll")
    // ctx and unigram probability tables are vocabulary-sized and must
    // broadcast into the scoring join (a shuffled join there would
    // re-exchange the bigram table twice for no reduction)
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(1200))
    // doc-bigram agg, probs-join redistribution, final per-doc agg —
    // the corpus-sized stream never exchanges a fourth time
    assert(count(p, "Exchange hashpartitioning") <= 3, p.take(1200))
  }

  test("q114: leakage split — group labeling joins on one id partitioning") {
    val p = plan("q114_leakage_split")
    // no cartesian anywhere in the CC/label/split composition
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // the split aggregation itself is group-keyed: map-side partial
    // then one exchange on split
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("ShingleGen generates inside WholeStageCodegen (no fallback wall)") {
    import org.apache.spark.sql.functions.{col, lit, count => fcount}
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "x y")).toDF("doc_id", "text")
    val df = docs.select(col("doc_id"),
      org.apache.spark.sql.GraftBridge.column(
        graft.expr.catalyst.ShingleGen(
          org.apache.spark.sql.GraftBridge.expression(col("text")), 3))
        .as("shingle"))
      .groupBy(col("shingle")).agg(fcount(lit(1)).as("n"))
    // execute with fallback disabled: a codegen compile error fails here
    // instead of silently reverting to interpreted mode. AQE only
    // inserts WholeStageCodegen into the FINAL plan, so run first…
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try assert(df.collect().map(r => r.getString(0)).contains("a b c"))
    finally spark.conf.set("spark.sql.codegen.fallback", "true")
    // …then assert the executed plan's Generate carries the '*' (inside
    // a codegen stage), not a fallback wall
    val p = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Generate""".r.findFirstIn(p).isDefined,
      s"Generate not whole-stage-codegen'd:\n${p.take(900)}")
  }

  test("q116: prefix-filter join is equi-joins only — no cartesian, no " +
    "nested-loop; the prefix window is per-doc") {
    val p = plan("q116_prefix_simjoin")
    assert(count(p, "CartesianProduct") == 0, "cartesian crept in")
    assert(count(p, "BroadcastNestedLoopJoin") == 0,
      "candidate join degenerated to nested loop")
    // the production query checkpoints the prefix subtree (it feeds both
    // sides of the self-join), hiding the window from the final plan —
    // assert the per-doc window contract on the un-materialized form
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val full = ops.TextDedup.prefixFilterJoin(
        docs, col("doc_id"), col("text"), 3, 3, 5, materialize = identity)
      .queryExecution.optimizedPlan.toString
    // prefix extraction: window partitioned by doc_id (per-doc state),
    // rarest-first order
    assert(full.contains("windowspecdefinition(doc_id"), full.take(1500))
    assert(count(full, "CartesianProduct") == 0, "cartesian crept in")
  }

  test("q14: route top-k — the fact joins orders by SHUFFLE (stats " +
    "otherwise invert and broadcast the fact); top-k never global-sorts") {
    val p = plan("q14_topk_routes")
    // the merge hint pins the fact⋈orders join to a shuffle join: orders
    // is fact-sized at scale, and the un-hinted planner broadcast the
    // pruned lineitem scan (driver-fatal at real SF)
    assert(p.contains("SortMergeJoin [l_orderkey"),
      s"fact join is not a shuffle join:\n${p.take(1200)}")
  }

  test("q37: rollup — fact joins the order side by SHUFFLE; one Expand " +
    "feeding one aggregation exchange") {
    val p = plan("q37_rollup")
    assert(p.contains("SortMergeJoin [l_orderkey"),
      s"fact join is not a shuffle join:\n${p.take(800)}")
    // ROLLUP = Expand (3 grouping sets) then ONE map-side-combined agg
    assert(count(p, "Expand") >= 1 && count(p, "partial_count") >= 1,
      p.take(800))
  }

  test("q113: bigram NLL — corpus scanned ONCE in the scoring plan " +
    "(uni/bigram tables are checkpointed vocabulary-sized inputs); " +
    "model joins broadcast; no nested loop") {
    val p = plan("q113_bigram_nll")
    // ALL THREE inputs are session artifacts now (unigram counts from
    // the TF artifact, global bigram counts, per-doc bigram counts):
    // the served plan touches no parquet at all
    assert(count(p, "FileScan parquet") == 0,
      s"scoring plan re-reads the corpus:\n${p.take(1200)}")
    assert(count(p, "ExistingRDD") >= 3, "artifact count tables missing")
    // ctx + unigram model tables are forced broadcasts (vocab-sized)
    assert(count(p, "BroadcastExchange") >= 2, p.take(1200))
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, "non-equi join crept in")
    // exchanges: fanout round-robin + (doc,bigram) agg + ctx agg + final
    // per-doc agg — nothing else may shuffle
    assert(count(p, "Exchange hashpartitioning") <= 3,
      s"extra shuffle crept into the scoring DAG:\n${p.take(1200)}")
  }

  test("q85: trained IVF — probed search is a broadcast hash join on the " +
    "cell key; corpus rows never cross an exchange; top-k is group-limited") {
    val p = plan("q85_ivf_trained")
    // the ONLY nested loop is queries × k-centroid aggregate (both
    // broadcast-tiny); the corpus-side candidate join must be hash
    assert(count(p, "BroadcastNestedLoopJoin") <= 1, p.take(1200))
    assert(count(p, "BroadcastHashJoin") >= 1,
      "probed-cell search is not a broadcast hash join")
    assert(count(p, "SortMergeJoin") == 0, "corpus-side join de-broadcast")
    // rank-window top-k prunes per-partition BEFORE its exchange
    assert(count(p, "WindowGroupLimit") >= 2, p.take(1200))
    // scans read only (vec_id, embedding)
    assert(p.contains("struct<vec_id:bigint,embedding:array<float>>"),
      p.take(1200))
  }

  test("q135: IVF·PQ — ADC scoring is a broadcast hash equi-join on the " +
    "probed cell, NOT the exhaustive corpus×queries nested loop") {
    val p = plan("q135_ivf_pq")
    // q133's exhaustive ADC scan is a documented BroadcastNestedLoopJoin;
    // the IVF composition exists to kill exactly that — at 100 TB the
    // code table is only ever joined on the cell key
    assert(count(p, "BroadcastNestedLoopJoin") == 0,
      "IVF pruning lost: ADC scan degenerated to a full nested loop")
    assert(count(p, "CartesianProduct") == 0, "cartesian crept in")
    assert(count(p, "BroadcastHashJoin") >= 1,
      s"probed-cell candidate join is not a broadcast hash join:\n${p.take(1200)}")
  }

  test("q136: n-gram novelty — gram table checkpointed once (ExistingRDD " +
    "feeds both consumers); shuffles carry keys+counts, no windows") {
    val p = plan("q136_ngram_novelty")
    assert(count(p, "FileScan parquet") == 0 && count(p, "ExistingRDD") >= 2,
      s"gram table not shared via checkpoint:\n${p.take(1000)}")
    assert(count(p, "Window") == 0 && count(p, "CartesianProduct") == 0,
      p.take(1000))
  }

  test("q137: perplexity gate — score table checkpointed once; the " +
    "threshold table joins back by BROADCAST") {
    val p = plan("q137_perplexity_gate")
    assert(count(p, "ExistingRDD") >= 2,
      s"score table not shared via checkpoint:\n${p.take(1000)}")
    assert(count(p, "BroadcastHashJoin") >= 1,
      "per-source threshold join is not broadcast")
    assert(count(p, "Exchange SinglePartition") == 0, p.take(1000))
  }

  test("q138: truncation eval — per-tier brute passes keep the q25 " +
    "shape: corpus scores in place, top-k group-limited, no corpus " +
    "shuffle before scoring") {
    val p = plan("q138_truncation_eval")
    assert(count(p, "WindowGroupLimit") >= 2, p.take(1000))
    assert(count(p, "CartesianProduct") == 0, p.take(1000))
    // exchanges: only the per-query rank windows + final overlap aggs —
    // corpus rows never hash-shuffle (scoring is against broadcasts)
    assert(p.contains("struct<vec_id:bigint,embedding:array<float>>"),
      p.take(1000))
  }

  test("q117: CDC chunking — every window is partitioned (no single-" +
    "partition funnel) and the scan reads only (doc_id, text)") {
    val p = plan("q117_cdc_chunks")
    assert(count(p, "Exchange SinglePartition") == 0,
      "an unpartitioned window would funnel the corpus to one task")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(1200))
  }

  test("q118: min-k sample is TakeOrderedAndProject with ZERO exchanges " +
    "— a k-row heap per task, never a corpus sort") {
    val p = plan("q118_min_k_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(400))
    assert(count(p, "Exchange") == 0, p.take(600))
    assert(!p.contains("Sort ["), "global sort materialization crept in")
  }

  test("q119: zipf fit — rank window and final OLS agg share the group " +
    "partitioning (2 hash exchanges total, both vocabulary-sized)") {
    val p = plan("q119_zipf_fit")
    assert(count(p, "Exchange hashpartitioning") <= 2, p.take(1500))
    assert(count(p, "Exchange SinglePartition") == 0, p.take(1500))
  }

  test("q120: semdedup — pair generation stays bucket-local (equi-join " +
    "on the cluster, no cartesian) and the prune is an anti-join") {
    val p = plan("q120_semdedup")
    assert(count(p, "CartesianProduct") == 0, "all-pairs crept in")
    assert(p.contains("LeftAnti"), p.take(800))
  }

  test("q121: source budget — two-level prefix sum: the running-sum " +
    "window partitions by (source, bucket), offsets broadcast back") {
    val p = plan("q121_source_budget")
    assert(count(p, "Exchange SinglePartition") == 0,
      "unpartitioned running sum would funnel the corpus to one task")
    // the corpus-sized window is (source, bucket)-parallel — a head
    // source spreads over 256 tasks instead of serializing through one
    assert(p.contains("windowspecdefinition(source"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), "offsets must broadcast back")
    assert(count(p, "Exchange hashpartitioning") <= 3, p.take(1500))
  }

  test("q122: dsir — bucket stats broadcast back; the corpus-sized " +
    "docTf aggregates ONCE (both its consumers read the checkpoint)") {
    val p = plan("q122_dsir_weight")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    // the only SinglePartition reduce is the grand total over the
    // BUCKET-SIZED stats table (1024 rows), never the corpus
    assert(count(p, "Exchange SinglePartition") <= 1, p.take(1200))
    // one corpus-keyed exchange: the final per-doc aggregation (the
    // bucket-stats agg lives behind its own checkpoint)
    assert(count(p, "Exchange hashpartitioning") <= 1, p.take(1600))
  }

  test("q123: shard manifest is ONE map-side-combined aggregation") {
    val p = plan("q123_shard_manifest")
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(1200))
    assert(p.contains("partial_"), "no map-side combine before the exchange")
  }

  test("q124: rrf — both candidate lists and the fused top-20 plan as " +
    "TakeOrderedAndProject (k-row heaps); any residual sort is over " +
    "the k-row lists, not the corpus") {
    val p = plan("q124_rrf_fusion")
    assert(count(p, "TakeOrderedAndProject") >= 3, p.take(1500))
    // the full-outer fusion join may sort — but only BELOW a limit(50),
    // so every Sort in the plan is k-row; what must NOT appear is a
    // corpus-sized range exchange
    assert(count(p, "Exchange rangepartitioning") == 0,
      "corpus-wide sort exchange crept in")
    assert(count(p, "CartesianProduct") == 0)
  }

  test("q127: gopher rules are a PURE PROJECTION — zero exchanges, " +
    "2 of 5 columns read") {
    val p = plan("q127_gopher_rules")
    assert(count(p, "Exchange") == 0, p.take(800))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(1000))
  }

  test("q128: length batching — ONE exchange: the batch aggregation " +
    "reuses the shard window's partitioning") {
    val p = plan("q128_length_batching")
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(1500))
    assert(count(p, "Exchange SinglePartition") == 0, p.take(1500))
    assert(p.contains("windowspecdefinition(shard"), p.take(1500))
  }

  test("q129: knn graph — bucket-local equi-join (no cartesian), " +
    "top-k pushed down as WindowGroupLimit") {
    val p = plan("q129_knn_graph")
    assert(count(p, "CartesianProduct") == 0, "all-pairs crept in")
    assert(p.contains("WindowGroupLimit"), p.take(1200))
  }

  test("q130: apportionment — one corpus aggregation; every window " +
    "after it runs on the strata-sized table") {
    val p = plan("q130_token_apportion")
    // the corpus touches exactly one exchange (the stratum-size agg,
    // map-side combined); the rank/remainder windows are strata-sized
    assert(count(p, "Exchange hashpartitioning") <= 1, p.take(1500))
    assert(p.contains("partial_sum"), "no map-side combine")
  }

  test("q131: source overlap — the source lookups broadcast into the " +
    "pair-sized table; no cartesian") {
    val p = plan("q131_source_overlap")
    assert(count(p, "CartesianProduct") == 0)
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q132: substring dedup — gram-keyed joins only; no corpus-wide " +
    "sort or single-partition funnel") {
    val p = plan("q132_substring_dedup")
    assert(count(p, "CartesianProduct") == 0)
    assert(count(p, "Exchange SinglePartition") == 0, p.take(1200))
    assert(count(p, "Exchange rangepartitioning") == 0, p.take(1200))
  }

  test("q125: canonical pick — no cartesian; the representative argmax " +
    "is a hash aggregation, not a window over the corpus") {
    val p = plan("q125_canonical_pick")
    assert(count(p, "CartesianProduct") == 0, p.take(800))
    assert(count(p, "Exchange SinglePartition") == 0, p.take(1200))
  }

  test("q143: rerank — the ADC stage is a cell-keyed broadcast hash " +
    "join and the exact stage joins only the shortlist; no nested " +
    "loop or cartesian") {
    val p = plan("q143_ivfpq_rerank")
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1500))
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // stage-1 cell join + stage-2 vector/query lookups are all hash joins
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(1500))
  }

  test("q144: containment — candidates come from the materialized " +
    "artifact (no re-mining: zero band-aggregation in this plan); " +
    "verify is per-pair array work behind hash joins") {
    val p = plan("q144_containment")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
    assert(p.contains("array_intersect"), "per-pair verify missing")
    // the LSH mining DAG (minhash signature aggregation) must NOT be
    // in this plan — it reads the localCheckpoint'd candidate table
    assert(!p.contains("minhashsig") && !p.contains("graft_minhash"),
      "candidate mining re-ran inside the consumer plan")
  }

  test("q146: IVF-SQ8 — probed scoring is a cell-keyed broadcast hash " +
    "join; no nested loop; corpus read once") {
    val p = plan("q146_ivf_sq8")
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(count(p, "Scan parquet") <= 2, // corpus + broadcast query side
      s"extra corpus scans:\n${p.take(1200)}")
  }

  test("q142: recall eval — every tiered search is a broadcast hash " +
    "join on the probed cell; no nested loop or cartesian anywhere in " +
    "the union (the baseline and code tables are materialized, so the " +
    "q25 BNLJ shape never reaches this plan)") {
    val p = plan("q142_ivfpq_recall")
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1500))
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // 6 searches (2 variants × 3 nprobe tiers), each a cell-keyed BHJ
    assert(count(p, "BroadcastHashJoin") >= 6, p.take(1500))
  }

  test("q148: semantic decontam — benchmark broadcast, corpus scored " +
    "in place, argmax is ONE partial-aggregated exchange, no window") {
    val p = plan("q148_semantic_decontam")
    assert(count(p, "CartesianProduct") == 0, p.take(1000))
    // the only exchange is the vec_id argmax agg (map-side combined)
    assert(count(p, "Exchange hashpartitioning") <= 1, p.take(1200))
    assert(count(p, "Window") == 0, "argmax degenerated to a window")
    assert(p.contains("max_by") || p.contains("MaxBy"), p.take(1200))
  }

  test("q149: LSH planner — reads the materialized verified-pair " +
    "artifact (no re-mining, no parquet), grid is a literal explode " +
    "(zero joins)") {
    val p = plan("q149_lsh_planner")
    assert(count(p, "Scan parquet") == 0 && count(p, "FileScan parquet") == 0,
      s"planner re-derived the pair table from the corpus:\n${p.take(1000)}")
    assert(!p.contains("Join"), s"grid explode became a join:\n${p.take(1000)}")
    assert(!p.contains("minhashsig") && !p.contains("graft_minhash"),
      "candidate mining re-ran inside the planner plan")
  }

  test("q150: minhash calibration — candidates and exact Jaccard come " +
    "from the artifacts; the signature fan-join is hash-only") {
    val p = plan("q150_minhash_calibration")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
    // signatures ARE in this plan (native single-pass expression)…
    assert(p.contains("minhashsig") || p.contains("graft_minhash"),
      p.take(1200))
    // …but band-aggregation/verify are not: both pair tables are
    // materialized artifacts (ExistingRDD), so no shingle explode
    assert(count(p, "ExistingRDD") >= 2,
      s"pair artifacts not read from checkpoint:\n${p.take(1200)}")
  }

  test("q151: block boilerplate — no windows, no pair joins; the " +
    "frequency/removal stages hash-join on the block key") {
    val p = plan("q151_block_dedup")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
    assert(count(p, "Window") == 0,
      "positional rebuild degenerated to a window")
    // block table is materialized ONCE for its two consumers
    assert(count(p, "ExistingRDD") >= 1,
      s"block table rebuilt per consumer:\n${p.take(1200)}")
  }

  test("q152: incremental CC — the remap of the maintained labeling is " +
    "hash-joined (no cartesian, no BNLJ); the labeling artifact is " +
    "read from checkpoint, not re-derived") {
    val p = plan("q152_incremental_cc")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
    assert(count(p, "ExistingRDD") >= 2,
      s"labeling artifact re-derived inside the query:\n${p.take(1200)}")
  }

  test("q154: NB confusion — model tables broadcast, argmax is a " +
    "struct-min aggregation (no window), no cartesian beyond the " +
    "label-sized broadcast cross") {
    val p = plan("q154_nb_confusion")
    assert(count(p, "Window") == 0, "argmax degenerated to a window")
    // the scoring join and the label-stats cross are all broadcast;
    // the only cartesian-shaped node is the |labels|-sized cross
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(1500))
    // doc-term table materialized once for model + scoring consumers
    assert(count(p, "ExistingRDD") >= 1, p.take(1500))
  }

  test("q155: MMR — the whole greedy loop is ONE native expression " +
    "over a per-query collect_list (no per-step barriers, no " +
    "cartesian), serving the session shortlist artifact") {
    val p = plan("q155_mmr_rerank")
    // the shortlist artifact is the one materialized input; the greedy
    // stage itself has NO checkpointed intermediates (job count is
    // k-independent — VERDICT r13 #1)
    assert(count(p, "ExistingRDD") >= 1, p.take(1200))
    // the greedy selection is the MmrSelect expression above ONE
    // grouping aggregate — not k unrolled join/agg stages
    assert(p.contains("graft_mmr_select"), p.take(1500))
    assert(count(p, "graft_mmr_select") <= 2, "greedy loop re-unrolled")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // internal-shortlist path: still cartesian-free, still one
    // expression
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val bp = graft.ops.Ann.mmrRerank(emb, emb.filter(col("vec_id") < 3),
      10, 2, 0.7)
      .queryExecution.executedPlan.toString
    assert(count(bp, "CartesianProduct") == 0, bp.take(1500))
    assert(bp.contains("graft_mmr_select"), bp.take(1500))
  }

  test("q156: NB holdout — serving plan: model tables are materialized " +
    "artifacts, scoring joins broadcast, argmax is a struct-min agg") {
    val p = plan("q156_nb_holdout")
    assert(count(p, "Window") == 0, "argmax degenerated to a window")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // the confusion rollup reads the session NB-holdout artifact (the
    // materialized dense score frame shared with q169) — neither the
    // model tables nor the training corpus re-enter the plan
    assert(count(p, "ExistingRDD") >= 1,
      s"scores re-derived at serving time:\n${p.take(1500)}")
    assert(count(p, "FileScan parquet") <= 2, p.take(1500))
  }

  test("q157: nDCG — serves the shared index and exact baseline (no " +
    "corpus re-scan for the baseline), per-tier searches are hash-" +
    "joined with no cartesian") {
    val p = plan("q157_ndcg")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // the only nested-loop shapes are the ONE-ROW idcg broadcast
    // crosses (one per tier) — never a corpus-sized pairing
    assert(count(p, "BroadcastNestedLoopJoin") <= 3, p.take(1500))
    // exact baseline + index codes come from the session artifacts
    assert(count(p, "ExistingRDD") >= 2, p.take(1500))
  }

  test("q158: bloom decontam — the probe path is a FILTER, not a join " +
    "(mask broadcast as one row); exact verify joins only survivors") {
    val p = plan("q158_bloom_decontam")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    // stage 1 materialized once; both counting consumers read it
    assert(count(p, "ExistingRDD") >= 1, p.take(1500))
    // the k-probe membership test must NOT plan as k semi-joins
    assert(count(p, "LeftSemi") <= 1,
      s"bloom degenerated to per-probe semi-joins:\n${p.take(1500)}")
  }

  test("q159: hard negatives — anchors broadcast with the label-" +
    "mismatch predicate fused into the join; top-k is WindowGroupLimit") {
    val p = plan("q159_hard_negatives")
    assert(count(p, "WindowGroupLimit") >= 1, p.take(1000))
    assert(count(p, "Exchange hashpartitioning") <= 1, p.take(1000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1000))
  }

  test("q160-q166: the curation batch — no cartesians anywhere; " +
    "artifact consumers read checkpoints; q164's dictionary is a " +
    "joinless in-scan filter") {
    for (q <- Seq("q160_semantic_split", "q161_curriculum",
        "q162_span_corruption", "q163_doremi_step", "q165_decontam_apply",
        "q166_datasheet")) {
      val p = plan(q)
      assert(count(p, "CartesianProduct") == 0, s"$q:\n${p.take(1000)}")
    }
    // q161/q163/q166 serve the materialized NLL artifact
    for (q <- Seq("q161_curriculum", "q163_doremi_step", "q166_datasheet"))
      assert(count(plan(q), "ExistingRDD") >= 1,
        s"$q re-derived the score table")
    // q164: dictionary matching is a literal IN-list inside the scan
    // projection — the plan has no join operator at all
    val p164 = plan("q164_phrase_tags")
    assert(!p164.contains("Join"), s"q164 dictionary became a join:\n${p164.take(1000)}")
    assert(count(p164, "FileScan parquet") <= 2, p164.take(800))
    // q165: removal is ONE broadcast semi-join against the gram set
    val p165 = plan("q165_decontam_apply")
    assert(p165.contains("LeftSemi"), p165.take(1000))
    assert(count(p165, "BroadcastNestedLoopJoin") == 0, p165.take(1000))
  }

  test("q167: JL eval — the corpus is projected ONCE (tiers slice the " +
    "materialized projection); per-tier top-k keeps WindowGroupLimit; " +
    "no cartesian") {
    val p = plan("q167_jl_eval")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    // projected corpus + shared exact baseline are both artifacts
    assert(count(p, "ExistingRDD") >= 2, p.take(1200))
    assert(count(p, "WindowGroupLimit") >= 2, p.take(1200))
  }

  test("q153: diverse top-k — queries broadcast, corpus scored in one " +
    "pass, BOTH rank windows plan as WindowGroupLimit") {
    val p = plan("q153_diverse_topk")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "WindowGroupLimit") >= 2,
      s"quota/rank windows lost partial top-k pushdown:\n${p.take(1200)}")
    // one corpus scan + one query scan feed scoring; the quota window's
    // input is the scored stream, the global one's is quota-sized
    assert(count(p, "FileScan parquet") <= 2, p.take(1200))
  }

  test("q168: AUC — the corpus never re-enters the rank pass: zero " +
    "parquet scans (grid table + NLL artifact only); TWO-LEVEL " +
    "ranking: the within-bucket window partitions BY bucket, only the " +
    "bounded bucket-offset window is global; ranks broadcast back") {
    val p = plan("q168_score_auc")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    // the one corpus pass happened INTO the materialized grid table;
    // the visible plan only touches bounded frames
    assert(count(p, "FileScan parquet") == 0, p.take(1200))
    assert(count(p, "Scan ExistingRDD") >= 2, p.take(1200))
    // bucket-offset window + within-bucket window — and the big one
    // (the distinct-score grid) is the PARTITIONED one
    assert(count(p, "Window") == 2, p.take(1200))
    assert(p.contains("Window [sum") && p.contains("], [b#"),
      "within-bucket window lost its bucket partitioning:\n" + p.take(1500))
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(1200))
  }

  test("q169: calibration — reads the shared holdout score artifact " +
    "(no training-corpus scans), lang join broadcast, no cartesian") {
    val p = plan("q169_nb_calibration")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    // argmax + softmax + normalizer all read the materialized frame
    assert(count(p, "Scan ExistingRDD") >= 3, p.take(1200))
    // only the holdout lang projection (plus Spark's own runtime-filter
    // subquery) touches parquet — never the training corpus text
    assert(count(p, "FileScan parquet") <= 2, p.take(1600))
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(1200))
  }

  test("q170: FIM — ZERO exchanges, zero joins, zero windows: one " +
    "parquet scan through one codegen'd projection") {
    val p = plan("q170_fim_split")
    assert(count(p, "Exchange") == 0, p.take(1200))
    assert(count(p, "Join") == 0 && count(p, "Window") == 0, p.take(1200))
    assert(count(p, "FileScan parquet") == 1, p.take(1200))
    // every operator fused into codegen stage 1; no second stage exists
    assert(p.contains("*(1)") && !p.contains("*(2)"), p.take(400))
  }

  test("q171: Bradley-Terry — the served plan is LOCAL-relation only " +
    "(the strength vector and totals are driver-bounded artifacts; " +
    "the MM rounds ran inside per-round actions): no parquet, no " +
    "cartesian, no distributed scan survives") {
    // r14 shape: the per-round normalization moved to the driver (the
    // vector is broadcast every round anyway — collecting it is the
    // same size class), so the RETURNED frame joins two local
    // relations; the MM-step join shapes are exercised inside the
    // loop's own actions, and the trajectory's VALUES are pinned by
    // PrefSpec + the q171/q188 oracles
    val p = plan("q171_bradley_terry")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "LocalTableScan") >= 2,
      s"vector/totals no longer local artifacts:\n${p.take(1200)}")
    assert(count(p, "FileScan parquet") == 0, p.take(1200))
  }

  test("q173: MAD gate — score artifact in, median/MAD tables " +
    "BROADCAST back, one corpus projection at most, no cartesian") {
    val p = plan("q173_mad_outliers")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    // the (source, score) projection is materialized ONCE; the median,
    // MAD, and count passes read the artifact — zero parquet re-scans
    assert(count(p, "Scan ExistingRDD") >= 3, p.take(1200))
    assert(count(p, "FileScan parquet") == 0, p.take(1200))
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"median/MAD join de-broadcast:\n${p.take(1200)}")
  }

  test("q174: kappa — |labels|²-sized algebra over the holdout " +
    "artifact; the corpus appears only as the lang projection") {
    val p = plan("q174_kappa")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    // the materialized |labels|²-row confusion table feeds totals and
    // both margins — the corpus never appears in the kappa algebra
    assert(count(p, "Scan ExistingRDD") >= 3, p.take(1200))
    assert(count(p, "FileScan parquet") == 0, p.take(1200))
  }

  test("q175: PSI — one-row min/max and the bin scaffold are the only " +
    "nested-loop joins; score artifact in; one corpus projection") {
    val p = plan("q175_psi_drift")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    // both corpora aggregate ONCE into the materialized grid count
    // table; min/max, binning, scaffold, and terms derive from it —
    // zero parquet scans; nested loops are only the one-row min/max
    // and |bins|-row scaffold broadcasts
    assert(count(p, "Scan ExistingRDD") >= 2, p.take(1200))
    assert(count(p, "FileScan parquet") == 0, p.take(1200))
    assert(count(p, "BroadcastNestedLoopJoin") <= 6, p.take(1200))
  }

  test("q176: canonical dedup — one aggregation over a hash-only " +
    "projection: no joins, no windows, shuffles carry md5s not text") {
    val p = plan("q176_canonical_dedup")
    assert(count(p, "Join") == 0 && count(p, "Window") == 0, p.take(1200))
    // base ∪ variant slice = two scans of the same table; the variant
    // scan reads doc_id+text only, same as the base
    assert(count(p, "FileScan parquet") <= 2, p.take(1200))
    assert(count(p, "Exchange") <= 2, p.take(1200))
  }

  test("q177: ROUGE-1 — token-keyed equi-join only (no cartesian, no " +
    "window); aggregations are map-side combined") {
    val p = plan("q177_rouge1")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "Window") == 0, p.take(1200))
    assert(p.contains("partial_count"),
      s"pair aggregations lost map-side combine:\n${p.take(1200)}")
  }

  test("q178: MRR — serves the shared index and exact baseline (no " +
    "brute-force recompute); per-tier WindowGroupLimit serving plan") {
    val p = plan("q178_mrr")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "Scan ExistingRDD") >= 2, p.take(1200))
    assert(count(p, "WindowGroupLimit") >= 1, p.take(1200))
  }

  test("q179: template affix — no joins at all: two hash-only " +
    "projections unioned into map-side-combined aggregations") {
    val p = plan("q179_template_affix")
    assert(count(p, "Join") == 0, p.take(1200))
    assert(p.contains("partial_count"), p.take(1200))
    // prefix and suffix sides each scan the 3-column projection once
    assert(count(p, "FileScan parquet") <= 2, p.take(1200))
  }

  test("q180: KS — grid count table materialized, cumulative window " +
    "PARTITIONED by source, totals broadcast, zero parquet scans") {
    val p = plan("q180_ks_drift")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "FileScan parquet") == 0, p.take(1200))
    assert(count(p, "Scan ExistingRDD") >= 2, p.take(1200))
    assert(p.contains("windowspecdefinition(grp"),
      s"running ECDF window lost its partitioning:\n${p.take(1200)}")
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(1200))
  }

  test("q182/q183: funnel rollups read ONLY the materialized flag " +
    "table — zero parquet scans, one ExistingRDD scan per stage") {
    for (q <- Seq("q182_curation_funnel", "q183_funnel_by_source")) {
      val p = plan(q)
      assert(count(p, "CartesianProduct") == 0, s"$q:\n${p.take(1200)}")
      assert(count(p, "FileScan parquet") == 0, s"$q:\n${p.take(1200)}")
      assert(count(p, "Scan ExistingRDD") >= 5, s"$q:\n${p.take(1200)}")
    }
  }

  test("q184: triplets — anchors broadcast, ONE scored corpus pass " +
    "feeds both legs, the per-side top-1 keeps WindowGroupLimit") {
    val p = plan("q184_triplets")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "BroadcastHashJoin") + count(p, "BroadcastNestedLoopJoin") >= 1,
      p.take(1200))
    assert(count(p, "FileScan parquet") <= 2, p.take(1200))
    assert(count(p, "WindowGroupLimit") >= 1,
      s"per-side top-1 lost partial pushdown:\n${p.take(1200)}")
  }

  test("q188/q189/q190: the eval closers serve from artifacts — no " +
    "cartesian, materialized inputs present, broadcast model joins") {
    for (q <- Seq("q188_bt_calibration", "q189_miss_attribution",
        "q190_quant_error", "q193_opq_quant_error")) {
      val p = plan(q)
      assert(count(p, "CartesianProduct") == 0, s"$q:\n${p.take(1200)}")
      assert(count(p, "Scan ExistingRDD") >= 1, s"$q:\n${p.take(1200)}")
    }
    // q190's encode/assign/codeword lookups are literal maps: the only
    // join is code-table ⋈ corpus — no window, no exchange explosion
    val p190 = plan("q190_quant_error")
    assert(count(p190, "Window") == 0, p190.take(1200))
    // q188's strength vector joins broadcast (items are dim-sized)
    val p188 = plan("q188_bt_calibration")
    assert(count(p188, "BroadcastHashJoin") >= 2, p188.take(1200))
  }

  test("q172: label propagation round = one dst-keyed hash join + one " +
    "frontier anti-join, label table as materialized artifact, no " +
    "cartesian (unmaterialized round plan)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq((1L, "x")).toDF("id", "lab")
    // materialize = identity exposes the per-round shape in ONE plan
    val p = graft.ops.Graph.labelProp(edges, "src", "dst", seeds, "id",
        "lab", 1, materialize = df => df)
      .queryExecution.executedPlan.toString
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "LeftAnti") >= 1,
      s"frontier restriction lost its anti-join:\n${p.take(1200)}")
    val served = plan("q172_label_prop")
    assert(count(served, "CartesianProduct") == 0, served.take(1200))
    assert(count(served, "Scan ExistingRDD") >= 1, served.take(1200))
    assert(count(served, "FileScan parquet") <= 1, served.take(1200))
  }

  test("q191: OPQ recall — 3 tiered searches over the materialized " +
    "permuted-space code table, each a cell-keyed broadcast hash join; " +
    "no nested loop or cartesian; the training DAG never re-runs in " +
    "the served plan") {
    val p = plan("q191_opq_recall")
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1500))
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    assert(count(p, "BroadcastHashJoin") >= 3, p.take(1500))
    // codes + exact baseline are session artifacts (Scan ExistingRDD);
    // the only parquet reads are the 3 query-batch permute projections
    assert(count(p, "Scan ExistingRDD") >= 4, p.take(1500))
  }

  test("q195: BLEU-2 — the clip is ONE equi-join on (pair, n, gram); " +
    "no cartesian, no nested loop; rollups map-side combine") {
    val p = plan("q195_bleu2")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "gram counts lost their map-side combine")
  }

  test("q194: mojibake gate — pure projection into one map-side-" +
    "combined rollup: no joins, a single hash exchange, pruned scan") {
    val p = plan("q194_mojibake_gate")
    assert(!p.contains("Join"), p.take(1000))
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(1000))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "rollup lost its map-side combine")
    assert(p.contains(
      "ReadSchema: struct<doc_id:bigint,text:string,source:string>") ||
      p.contains("ReadSchema: struct<doc_id:bigint,source:string,text:string>"),
      s"column pruning lost:\n${p.take(1000)}")
  }

  test("q192: gate cost/benefit — the benefit side reads the " +
    "materialized flag artifact (one pass, no joins back to the " +
    "corpus); the cost side is count-only aggregations; no cartesian " +
    "beyond the 4-row broadcast") {
    val p = plan("q192_gate_cost")
    assert(count(p, "CartesianProduct") == 0, p.take(1200))
    assert(count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
    // flags + tf + 5-gram artifacts are materialized; parquet scans are
    // only the two un-memoized cost counts (docs, 3-gram shingles)
    assert(count(p, "Scan ExistingRDD") >= 3, p.take(1200))
  }

  test("q196: KN scoring — vocabulary-sized model tables broadcast onto " +
    "the shared doc-bigram artifact; zero parquet, no sort-merge") {
    val p = plan("q196_kn_bigram")
    // the corpus is never rescanned: both count tables are session
    // artifacts and every model join is a broadcast hash join
    assert(!p.contains("FileScan parquet"), p.take(1200))
    assert(count(p, "BroadcastHashJoin") >= 3, p.take(1200))
    assert(count(p, "SortMergeJoin") == 0 &&
      count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
  }

  test("q197: chrF — the clip is an equi-join on (pair, n, gram); the " +
    "totals are length arithmetic, never a gram-table scan") {
    val p = plan("q197_chrf")
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
    // denominators come from len − n + 1 off the pruned (doc_id, text)
    // scan — the exploded gram table has exactly one consumer per side
    assert(p.contains("__len"), p.take(1200))
  }

  test("q201: logreg distillation — the hashed feature table is " +
    "materialized once (three consumers), weight vectors broadcast, " +
    "no cartesian") {
    val p = plan("q201_logreg_distill")
    assert(count(p, "Scan ExistingRDD") >= 2, p.take(1200))
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
  }

  test("q203: KMV — the rank ≤ k filter plans as WindowGroupLimit " +
    "(a group never ships more than k hashes per partition)") {
    val p = plan("q203_kmv_sketch")
    assert(p.contains("WindowGroupLimit"), p.take(1200))
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(1200))
  }

  test("q200: Viterbi scoring — 4 broadcast cost lookups, ONE hash " +
    "exchange (the per-doc collect); the fold is in-plan") {
    val p = plan("q200_unigram_segment")
    assert(count(p, "BroadcastHashJoin") == 4, p.take(1500))
    assert(count(p, "Exchange hashpartitioning") == 1, p.take(1500))
    assert(count(p, "SortMergeJoin") == 0 &&
      count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(1500))
  }

  test("q225: Poisson bootstrap — the ×B expansion is an in-task " +
    "Generate (never a join); all B replicate means reduce in one " +
    "map-side-combined aggregation, no cartesian anywhere") {
    val p = plan("q225_bootstrap_ci")
    // sequence(1, B) constant-folds to a literal array — the Generate
    // is the witness that the fanout is in-task, not a join
    assert(p.contains("Generate explode("), p.take(1500))
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(1500))
    // partial_sum before the (grp, r) exchange = map-side combine of
    // the replicate sums (the one-pass bootstrap claim)
    assert(p.contains("partial_sum") || p.contains("partial sum"),
      p.take(2000))
  }

  test("q223: k-fold NB — serves the session fold-score artifact " +
    "(no training-corpus scan, no fold fanout at serve time); argmax " +
    "is a struct-min agg, never a window") {
    // r14 shape: the fold models and dense scores live in the shared
    // kfoldScores artifact (q292/q330's table); this query's plan is
    // its held-out slice + the accuracy rollup
    val p = plan("q223_kfold_nb")
    assert(count(p, "CartesianProduct") == 0, p.take(1500))
    assert(count(p, "Scan ExistingRDD") >= 1,
      s"scores re-derived at serve time:\n${p.take(1500)}")
    assert(count(p, "FileScan parquet") == 0, p.take(1500))
    assert(count(p, "Window") == 0, "argmax degenerated to a window")
  }

  test("q228: Theil–Sen — the pair table builds AFTER the corpus " +
    "collapses to the day grid (aggregates below the self-join), " +
    "no cartesian/BNLJ") {
    val p = plan("q228_theil_sen")
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(1500))
    // both join inputs are ExistingRDD scans of the materialized grid,
    // not parquet: the corpus never enters the pair join
    assert(count(p, "Scan ExistingRDD") >= 2, p.take(1500))
  }

  test("q238: skip-gram — ONE parquet scan, zero joins; TWO codegen " +
    "Generates (positions, then per-position pair candidates) with no " +
    "interpreted HOF between them") {
    val p = plan("q238_skipgram")
    assert(count(p, "FileScan parquet") == 1, p.take(1500))
    assert(count(p, "Join") == 0, p.take(1500))
    // the q200 template: explode(sequence) streams positions,
    // explode(array(when…)) emits ≤2·window pairs per position —
    // nothing per-doc materializes and no transform/flatten survives
    assert(count(p, "Generate explode(") == 2, p.take(1500))
    assert(!p.contains("flatten(") && !p.contains("transform("),
      p.take(1500))
  }

  test("q268: winnowing — fingerprint pairs come from an equi-join on " +
    "the hash (never all-pairs), both sides the MATERIALIZED " +
    "fingerprint table; no cartesian/BNLJ") {
    val p = plan("q268_winnowing")
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(1500))
    // the pair join reads the localCheckpointed fingerprint set, not
    // parquet: the corpus is scanned exactly once (inside the
    // materialization), zero times in the served plan
    assert(count(p, "Scan ExistingRDD") >= 2, p.take(1500))
    assert(count(p, "FileScan parquet") == 0, p.take(1500))
  }

  test("q270: best-of-n — each n-branch reads the MATERIALIZED sample " +
    "table (one corpus scan total), zero joins anywhere") {
    val p = plan("q270_best_of_n")
    assert(count(p, "Join") == 0, p.take(1500))
    assert(count(p, "FileScan parquet") == 0, p.take(1500))
    assert(count(p, "Scan ExistingRDD") >= 3, p.take(1500))
  }

  test("q221: Spearman — rank tables come from grid-bounded windows " +
    "(partitioned by group), never a corpus-wide single-partition " +
    "window; no cartesian") {
    val p = plan("q221_spearman")
    // every window is PARTITIONED (a global rank over the corpus
    // would print 'windowspecdefinition(' without the grp prefix and
    // plan a single-partition exchange)
    assert(!p.contains("Exchange SinglePartition"), p.take(1500))
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0, p.take(1500))
  }
  test("writeBucketed: two same-bucketed tables join with ZERO " +
    "exchange and zero sort — the pay-shuffle-once-at-write layout") {
    import graft.ops.Layout
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    val a = (1L to 500L).map(i => (i, s"u$i")).toDF("k", "va")
    val b = (1L to 500L).map(i => (i, i * 2.0)).toDF("k", "vb")
    Layout.writeBucketed(a, "graft_bkt_a", "k", 8)
    Layout.writeBucketed(b, "graft_bkt_b", "k", 8)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = spark.table("graft_bkt_a")
        .join(spark.table("graft_bkt_b"), "k")
      val plan = j.queryExecution.executedPlan.toString
      // the core claim: the at-read shuffle is GONE
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // correctness unchanged vs the plain join
      assert(j.count() == 500L &&
        j.agg(sum(col("vb"))).collect()(0).getDouble(0) ==
          (1L to 500L).map(_ * 2.0).sum)
      // sort elision: Spark 3+ only trusts bucket sort order under the
      // legacy flag AND one file per bucket (which writeBucketed
      // guarantees via the pre-repartition) — demonstrate it holds
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val j2 = spark.table("graft_bkt_a")
        .join(spark.table("graft_bkt_b"), "k")
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(!plan2.contains("Exchange") && !plan2.contains("Sort "),
        s"one-file-per-bucket sorted scan must elide the sort:\n$plan2")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.conf.unset(
        "spark.sql.legacy.bucketedTableScan.outputOrdering")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  test("q323: dHash candidates come ONLY through the (band, value) " +
    "equi-join — no nested loop anywhere; top of the pipeline is one " +
    "codegen explode") {
    val p = plan("q323_dhash_neardup")
    // (the bit table is localCheckpoint'd, so the explode's Generate
    // runs in its own already-materialized stage — the served plan's
    // contract is the join discipline)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(800))
  }

  test("q331: Adamic-Adar top-k plans as TakeOrderedAndProject, " +
    "candidates only via the shared-vertex equi-join") {
    val p = plan("q331_adamic_adar")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    assert(!p.contains("rangepartitioning"),
      "global sort materialization crept in")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(800))
    // the r13 AQE-coalesce fix, pinned as a MECHANISM contract: both
    // the incidence frame (via) and the pair aggregation (node_a,
    // node_b) must ride USER-OWNED exchanges — REPARTITION_BY_NUM is
    // AQE-coalesce-exempt, so neither the ~|pairs| expansion nor its
    // aggregation can collapse to one task (ScaleSpec asserts the
    // behavior; this asserts the plan shape that guarantees it)
    assert(count(p, "REPARTITION_BY_NUM") >= 2,
      s"user-pinned exchanges lost:\n${p.take(1200)}")
  }

  /** The pin-placement contract as a reusable helper (VERDICT r13 #5;
    * the q331 lesson promoted from PLANS.md prose): a `Fanout.pin`
    * must OWN its exchange — a pin placed directly above a child that
    * already hash-partitions on the same keys is optimized out by
    * EnsureRequirements, and AQE then coalesces the surviving
    * ENSURE_REQUIREMENTS exchange to one task. This DRIVES the query
    * and asserts a REPARTITION_BY_NUM hash exchange on exactly `keys`
    * survives into the FINAL adaptive plan — the initial plan can show
    * a pin that the executed plan no longer has. */
  private def assertPinOwned(name: String, keys: Seq[String]): Unit = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.count() // drive AQE to its final plan
    val p = df.queryExecution.executedPlan.toString
    val re = ("Exchange hashpartitioning\\(" +
      keys.map(k => java.util.regex.Pattern.quote(k) + "#\\d+[A-Za-z]?")
        .mkString(",\\s*") + ",\\s*\\d+\\), REPARTITION_BY_NUM").r
    assert(re.findFirstIn(p).isDefined,
      s"$name: no surviving REPARTITION_BY_NUM exchange on " +
        keys.mkString("(", ", ", ")") +
        s" in the final adaptive plan:\n${p.take(2000)}")
  }

  test("q331: both pins OWN their exchanges in the final adaptive " +
    "plan (via on the incidence frame; node_a,node_b on the pair " +
    "aggregate)") {
    assertPinOwned("q331_adamic_adar", Seq("via"))
    assertPinOwned("q331_adamic_adar", Seq("node_a", "node_b"))
  }

  test("q332: the interval-overlap join is an equi-join on the bin — " +
    "the naive O(|A|x|B|) nested loop never appears") {
    val p = plan("q332_overlap_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(800))
  }

  test("q334: Shapley runs ONE corpus pass — everything after the " +
    "per-user rollup is lattice-sized (single corpus-keyed exchange " +
    "chain, no corpus self-join)") {
    val p = plan("q334_shapley")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the per-user window + rollup chain: user-partitioned exchanges
    // only; the 16-row lattice joins broadcast
    assert(count(p, "SortMergeJoin") == 0,
      s"corpus-sized merge join crept in:\n${p.take(800)}")
  }

  test("q335: cross-modal scoring broadcasts the query side — the " +
    "bucket probe is a HASH join, the flat scan the intentional " +
    "broadcast product (the q25 brute-force contract), the corpus " +
    "never shuffles for scoring, and top-k is a WindowGroupLimit") {
    val p = plan("q335_crossmodal_recall")
    // bucket path: bucket-keyed BHJ with the broadcast query side
    assert(count(p, "BroadcastHashJoin") >= 1,
      s"bucket probe must broadcast-hash:\n${p.take(1200)}")
    // no corpus-sized shuffle join anywhere (the rollup joins are
    // |ks|-row broadcasts)
    assert(count(p, "SortMergeJoin") == 0,
      s"corpus-sized merge join crept in:\n${p.take(800)}")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // rank <= kMax prunes per-task: the k-row heap, never a full sort
    assert(p.contains("WindowGroupLimit"), p.take(1200))
  }

  test("q336: t-closeness windows are CLASS-partitioned (no global " +
    "window), the value-grid joins broadcast, no cartesian") {
    val p = plan("q336_t_closeness")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // every Window in the plan partitions by the quasi keys — the
    // corpus-global single-partition window hazard never appears.
    // Assert it DIRECTLY on each windowspecdefinition's first
    // argument (the r12 form's && / || precedence made the guard
    // vacuously true — ADVICE r12): a partitioned spec leads with its
    // partition keys (lang…), an unpartitioned one leads with the
    // ORDER column.
    val specs = "windowspecdefinition\\(([^,)#]*)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specs.nonEmpty &&
      specs.forall(_.startsWith("lang")),
      s"unpartitioned window crept in: $specs\n${p.take(1200)}")
    assert(p.contains("BroadcastExchange"), p.take(800))
  }

  test("q337: modularity joins are node-/edge-keyed with the label " +
    "table broadcast — no cartesian, no corpus-global window") {
    val p = plan("q337_modularity")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(count(p, "BroadcastHashJoin") >= 2,
      s"label joins should broadcast at this scale:\n${p.take(1200)}")
    assert(!p.contains("Window ["), "no window belongs in this plan")
  }

}
