package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.{Similarity, TextStats}

/** Near-duplicate detection for document corpora at training-data scale:
  * MinHash + LSH banding, SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every stage is a groupBy/join on bounded-width keys —
  * signatures and band hashes, never raw text — so the shuffles carry
  * O(docs × bands) small rows. Candidate generation is strictly
  * band-bucket joins (no quadratic pair enumeration); exact Jaccard runs
  * only on LSH candidates.
  */
object TextDedup {

  import Fanout.fanout

  /** Exploded distinct (id, shingle) pairs — the set representation.
    * Shingles stream from the native generator
    * ([[graft.expr.catalyst.ShingleGen]]): no per-document shingle
    * array is materialized before the rows exist (the
    * `explode(shingles(...))` twin builds one — ≡-tested). */
  def shingleSet(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    rawShingles(docs, id, text, n).distinct()

  /** Exploded (id, shingle) pairs BEFORE set dedup — multiset rows. */
  private def rawShingles(docs: DataFrame, id: Column, text: Column,
      n: Int): DataFrame =
    fanout(docs).select(id.as("doc_id"),
      org.apache.spark.sql.GraftBridge.column(
        graft.expr.catalyst.ShingleGen(
          org.apache.spark.sql.GraftBridge.expression(text), n))
        .as("shingle"))

  /** MinHash signatures in long format: (doc_id, h, minhash) for h in
    * [0, numHashes). The affine family over one md5 base per shingle
    * ([[graft.expr.Similarity.minhashTerm]]) emulates a random
    * permutation per member at ONE digest per shingle — the digest is
    * the signature CPU at corpus scale, so the family width is ~free.
    *
    * All `numHashes` minima are computed as ONE wide aggregation over a
    * single pass of the shingle set — not an explode×numHashes + tall
    * groupBy, which would push numHashes× the rows through the hash-agg
    * operator for the same digest work. The wide form's map-side partial
    * state is one row of `numHashes` longs per doc per task; the long
    * (doc_id, h, minhash) contract is restored by unpivoting the tiny
    * per-doc result. */
  def minhashSignatures(shingles: DataFrame, numHashes: Int): DataFrame = {
    val minCols = (0 until numHashes).map(h =>
      min(Similarity.minhashTerm(h, col("shingle"))).as(s"m$h"))
    shingles.groupBy(col("doc_id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"), explode(array((0 until numHashes).map(h =>
          struct(lit(h).as("h"), col(s"m$h").as("minhash"))): _*)).as("s"))
      .select(col("doc_id"), col("s.h").as("h"), col("s.minhash").as("minhash"))
  }

  /** Native single-pass form of [[shingleSet]] + [[minhashSignatures]]:
    * the codegen'd [[graft.expr.catalyst.MinhashSig]] computes a doc's
    * whole signature per row — signature generation is a narrow
    * projection with NO shuffle (the composed form exchanges the
    * exploded shingle set twice). Same (doc_id, h, minhash) contract,
    * property-tested ≡; docs shorter than `n` tokens yield no rows in
    * both forms (NULL signature → explode drops them). */
  def minhashSignaturesNative(docs: DataFrame, id: Column, text: Column,
      n: Int, numHashes: Int): DataFrame =
    docs.select(id.as("doc_id"),
        posexplode(org.apache.spark.sql.GraftBridge.column(
          graft.expr.catalyst.MinhashSig(
            org.apache.spark.sql.GraftBridge.expression(text), n, numHashes)))
          .as(Seq("h", "minhash")))

  /** The LSH band index: one (doc_id, band, band_sig) row per band,
    * rows-per-band = 2, band signature = concat of the
    * (order-independent) min and max member hash. This is the table a
    * production dedup pipeline MAINTAINS (written bucketed by
    * (band, band_sig) at scale) so new shards check against it without
    * re-banding the corpus — see [[incrementalCandidates]]. */
  def bandTable(signatures: DataFrame): DataFrame =
    signatures
      .groupBy(col("doc_id"), shiftright(col("h"), 1).as("band"))
      .agg(concat_ws("|", min(col("minhash")).cast("string"),
        max(col("minhash")).cast("string")).as("band_sig"))

  /** LSH banding: docs sharing any band signature become candidate
    * pairs (the full-corpus self-join form). */
  def lshCandidates(signatures: DataFrame): DataFrame = {
    val bands = bandTable(signatures)
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Incremental near-dup candidates: a NEW shard's band table joins the
    * maintained corpus [[bandTable]] (plus the shard's own self-join) —
    * the production form of corpus dedup, where arriving data checks
    * against an INDEX instead of re-banding 100 TB. Work scales with
    * |new shard| × collision rate; the corpus is touched only through
    * the (bucketed, pre-partitioned) index join. Pairs are
    * (doc_a = corpus-or-smaller id, doc_b) with the same contract as
    * [[lshCandidates]] restricted to pairs involving a new doc. */
  def incrementalCandidates(newSigs: DataFrame,
      corpusBands: DataFrame): DataFrame = {
    val newBands = bandTable(newSigs)
    val vsCorpus = newBands.as("n")
      .join(corpusBands.as("c"),
        col("n.band") === col("c.band") &&
          col("n.band_sig") === col("c.band_sig") &&
          col("n.doc_id") =!= col("c.doc_id"))
      .select(least(col("n.doc_id"), col("c.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("c.doc_id")).as("doc_b"))
    val withinNew = newBands.as("a")
      .join(newBands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    vsCorpus.unionByName(withinNew).distinct()
  }

  /** Exact n-gram Jaccard for candidate pairs: each pair joins to the
    * two per-doc shingle ARRAYS and counts |A∩B| elementwise with
    * `array_intersect` — per-pair CPU instead of a pair×shingle row
    * explode through a join+aggregate (the [[prefixFilterJoin]] verify
    * shape; at 100 TB the arrays are doc-bounded rows, and AQE
    * broadcasts the array table when the candidate semi-join has
    * shrunk it). |A∪B| = |A|+|B|−|A∩B|; integer arithmetic until the
    * final division. A pair whose doc has NO shingles (shorter than the
    * n-gram) drops, exactly like the historical sizes inner join. */
  def jaccard(candidates: DataFrame, shingles: DataFrame,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    // doc-sized; materialized because both pair sides join against it
    val shArr = materialize(shingles.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("shset")))
    candidates
      .join(shArr.select(col("doc_id"), col("shset").as("seta")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(shArr.select(col("doc_id"), col("shset").as("setb")),
        col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("n_inter",
        size(array_intersect(col("seta"), col("setb"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") /
          (size(col("seta")).cast("long") + size(col("setb")).cast("long") -
            col("n_inter")), 4).as("jaccard"))
  }

  /** Exact shingle CONTAINMENT for candidate pairs — |A∩B|/|A| and
    * |A∩B|/|B| — the asymmetric near-dup signal Jaccard resemblance
    * misses: a short document wholly quoted inside a long one has low
    * Jaccard (the union is big) but containment ≈ 1 on the short side,
    * which is exactly the "boilerplate/quotation/sub-document copy"
    * case a corpus-curation policy treats differently from a mirror.
    * Same verify shape and scale contract as [[jaccard]]: per-pair
    * `array_intersect` over the two doc-bounded shingle arrays
    * (materialized once for both join sides), never a pair×shingle
    * explode; pairs whose doc has no shingles drop with the inner
    * join. Integer arithmetic until the two final divisions, both
    * rounded 4 dp (engine-replayable). */
  def containment(candidates: DataFrame, shingles: DataFrame,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    val shArr = materialize(shingles.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("shset")))
    candidates
      .join(shArr.select(col("doc_id"), col("shset").as("seta")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(shArr.select(col("doc_id"), col("shset").as("setb")),
        col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("n_inter",
        size(array_intersect(col("seta"), col("setb"))).cast("long"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") /
          size(col("seta")).cast("long"), 4).as("containment_a"),
        round(col("n_inter").cast("double") /
          size(col("setb")).cast("long"), 4).as("containment_b"))
  }

  /** Per-document span-duplication signal: what fraction of a doc's
    * distinct n-gram spans also appear in at least one other document.
    * The practical approximation of suffix-array substring dedup — the
    * signal that drives "drop or trim documents that are mostly copies".
    *
    * No join back on the span column: a span seen in exactly one doc has
    * a well-defined owner (`min(doc_id)` of its single row), so per-doc
    * UNIQUE-span counts fall out of the span-frequency aggregation
    * itself, and dup counts are `n_spans − n_unique`. Every shuffle is an
    * aggregation with map-side combine; the only join carries doc-level
    * rows (|docs|, not |spans|). */
  def spanDupStats(shingles: DataFrame): DataFrame = {
    val sizes = shingles.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"))
    val uniquePerDoc = shingles.groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("owner"))
      .filter(col("n_docs") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    sizes.join(uniquePerDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_unique"))
      .select(col("doc_id"), col("n_spans"),
        (col("n_spans") - col("n_unique")).as("n_dup_spans"),
        round((col("n_spans") - col("n_unique")).cast("double") /
          col("n_spans"), 4).as("dup_ratio"))
  }

  /** Benchmark-contamination check: for each corpus doc, the number of
    * distinct n-gram spans it shares with a held-out benchmark/eval set
    * (the n-gram-overlap decontamination step every LLM data pipeline
    * runs before training). Returns only contaminated docs.
    *
    * Scale shape: eval sets are tiny relative to the corpus, so the
    * benchmark's distinct span set broadcasts and the corpus side never
    * shuffles — contamination is a broadcast semi-join + one count
    * aggregation, a single pass over the corpus spans. */
  def contamination(corpusShingles: DataFrame,
      benchShingles: DataFrame): DataFrame = {
    val benchSpans = broadcast(
      benchShingles.select(col("shingle")).distinct())
    corpusShingles.join(benchSpans, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** AllPairs/PPJoin-style prefix-filtered EXACT Jaccard self-join — the
    * deterministic complement to [[lshCandidates]]: no probabilistic
    * recall loss, candidates come from a rare-first prefix index instead
    * of banded signatures. For threshold t = tNum/tDen, two sets with
    * J ≥ t MUST share an element among their first |x| − ⌈t·|x|⌉ + 1
    * elements under any single global element order (prefix-filter
    * lemma), so joining on prefix elements alone is lossless. Ordering
    * elements rarest-first (by global document frequency) makes those
    * prefixes join-selective: candidate fan-out per prefix element is
    * its df, and the rarest shingles have df ≈ 1.
    *
    * Raw prefix matches are further pruned by PPJoin's POSITIONAL
    * filter before any verification: J ≥ t forces the overlap to reach
    * o_min = ⌈t·(|A|+|B|)/(1+t)⌉, and the globally-FIRST shared element
    * (which for a true pair provably sits inside both prefixes) at
    * ranks (i, j) caps the achievable overlap at min(|A|−i, |B|−j)+1 —
    * every common element is ≥ it in both ranked lists. Because both
    * docs rank by the same total order, the first shared element
    * minimizes rn on BOTH sides at once, so it falls out of the
    * match-dedup aggregation as (min(rn_a), min(rn_b)) — the filter
    * costs nothing beyond the group-by that replaces DISTINCT. On the
    * synthetic corpus at sf0.1 it cuts 193k raw candidates to ~2k
    * survivors, which is what keeps the verify join's fan-out
    * (candidates × shingles-per-doc) off the corpus scale.
    *
    * Scale shape: df is one map-side-combined aggregation over the
    * shingle set; prefix extraction is a per-doc window (partitioned by
    * doc_id — state bounded by one doc's shingles); the candidate join
    * carries prefix rows only (a ~(1−t) fraction of the shingle set,
    * skew-bounded because high-df shingles sort OUT of rare-first
    * prefixes). The exact verify joins each surviving pair to the two
    * per-doc shingle ARRAYS (doc-bounded rows — AQE broadcasts the
    * array table when it is small and shuffle-joins it when it is
    * corpus-sized) and counts the overlap elementwise with
    * `array_intersect` — per-pair CPU instead of a pair×shingle row
    * explode through a join+aggregate, which at 68k candidates already
    * dwarfed everything else. Every threshold comparison is integer
    * cross-multiplication (tDen·|A∩B| ≥ tNum·|A∪B|) — no float in any
    * keep/drop decision, so results are bit-stable across engines and
    * partitionings.
    *
    * Output: (doc_a, doc_b, jaccard ROUND 4) for all pairs with
    * J ≥ tNum/tDen, doc_a < doc_b. */
  def prefixFilterJoin(docs: DataFrame, id: Column, text: Column, n: Int,
      tNum: Int, tDen: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true)): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"prefixFilterJoin: need 0 < tNum ($tNum) <= tDen ($tDen)")
    // 60-bit digest keys BEFORE the set dedup: every downstream sort,
    // exchange, join and intersect operates on 8-byte longs instead of
    // n-gram strings (the sorts are the cost at corpus scale). Jaccard
    // is computed exactly over the HASHED shingle universe — both
    // engines apply the identical digest, so outputs stay bit-equal
    // even in the ~2^-25-per-pair collision case; widen the digest if
    // that bound ever matters.
    val keyed = rawShingles(docs, id, text, n).select(col("doc_id"),
      graft.expr.Similarity.md5PrefixLong(col("shingle"), 15).as("shingle"))
    // materialized once: feeds the df aggregation, the prefix window
    // build, and the verify's set arrays (checkpoint scans are cheap;
    // recomputing the explode per consumer is not)
    val sh = materialize(keyed.distinct())
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // prefix length |x| − ⌈t·|x|⌉ + 1, via integer ceil-div; rank within
    // doc by (df asc, shingle asc) — the one global order both sides of
    // the self-join must agree on. sz rides the same WindowExec as a
    // full-frame count — no size join, no extra exchange.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val wAll = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // materialized because BOTH sides of the self-join consume it — a
    // broadcast self-join re-executes the window subtree per side
    // (no ReusedExchange under BHJ), doubling the most expensive stage
    val prefixes = materialize(sh.join(freq, Seq("shingle"))
      .withColumn("rn", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(wAll))
      .filter(col("rn") <=
        col("sz") - floor((col("sz") * tNum + (tDen - 1)) / tDen) + 1L)
      .select(col("doc_id"), col("shingle"), col("sz"), col("rn")))
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          // size filter: J ≥ t forces t·|A| ≤ |B| and t·|B| ≤ |A|
          col("a.sz") * tDen >= col("b.sz") * tNum &&
          col("b.sz") * tDen >= col("a.sz") * tNum)
      // match-dedup (one row per pair) and positional filter in ONE
      // aggregation: min(rn) on each side is the same (globally first)
      // shared element, whose ranks bound the achievable overlap
      .groupBy(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sza"), col("b.sz").as("szb"))
      .agg(min(col("a.rn")).as("ia"), min(col("b.rn")).as("jb"))
      .filter(
        (least(col("sza") - col("ia"), col("szb") - col("jb")) + 1L) *
          (tNum + tDen) >= (col("sza") + col("szb")) * tNum)
      .select(col("doc_a"), col("doc_b"), col("sza"), col("szb"))
    // doc-sized (one row per doc); materialized because seta AND setb
    // join against it — two aggregate executions otherwise
    val shArr = materialize(sh.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("shset")))
    cands
      .join(shArr.select(col("doc_id"), col("shset").as("seta")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(shArr.select(col("doc_id"), col("shset").as("setb")),
        col("doc_b") === col("doc_id")).drop("doc_id")
      .withColumn("n_inter",
        size(array_intersect(col("seta"), col("setb"))).cast("long"))
      .filter(col("n_inter") * tDen >=
        (col("sza") + col("szb") - col("n_inter")) * tNum)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") /
          (col("sza") + col("szb") - col("n_inter")), 4).as("jaccard"))
  }

  /** SimHash (16-bit): per distinct token, derive 16 pseudo-random bits
    * from the md5 nibbles; majority-vote each bit over the token set.
    * Oracle-portable (md5 + string ops only) yet still one groupBy. */
  def simhash16(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = fanout(docs).select(id.as("doc_id"),
        explode(array_distinct(TextStats.tokens(text))).as("tok"))
    val h = md5(col("tok"))
    // bit j = parity of md5 nibble j
    val contribs = (0 until 16).map { j =>
      val nibble = conv(substring(h, j + 1, 1), 16, 10).cast("int")
      sum(when(nibble % 2 === 1, 1).otherwise(-1)).as(s"b$j")
    }
    tok.groupBy(col("doc_id"))
      .agg(contribs.head, contribs.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(j => when(col(s"b$j") > 0, lit(1L << j))
          .otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }
  /** Exact substring DEDUP APPLY (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): remove every token covered by
    * a duplicated `l`-token gram whose occurrence is not the corpus's
    * canonical FIRST occurrence (global min (doc_id, pos) per gram) —
    * the token-level approximation of suffix-array substring dedup,
    * taken through to the cleaned text (q52's spanDupStats is the
    * signal; this is the surgery). Emits per doc: token counts, removed
    * count, and the md5 of the reassembled cleaned text.
    *
    * Deterministic: the keep set is a pure function of the corpus (the
    * canonical occurrence is an integer argmin; no hashing in any
    * decision), so every engine removes the same spans.
    *
    * Scale shape: the gram table is corpus-sized but every stage over
    * it is an equi-keyed aggregation or join (gram stats map-side
    * combine; removal join keyed by gram; position explode bounded by
    * l× the removal windows); reassembly is a doc-keyed array op over
    * each doc's own tokens — no corpus-wide sort or window anywhere.
    * `canon` is min(struct(doc_id, pos)) — a lexicographic struct
    * argmin, correct for ANY document length (no packing shift to
    * overflow). */
  /** Positional l-gram stream (doc_id, pos, gram) over a
    * (doc_id, t, n) token frame — the shared stanza behind
    * [[exactSubstringDedup]], [[decontamApply]], and [[ngramNovelty]]. */
  private def positionalGrams(toks: DataFrame, l: Int): DataFrame =
    fanout(toks).filter(col("n") >= l)
      .select(col("doc_id"),
        explode(sequence(lit(1), col("n") - lit(l - 1))).as("pos"),
        col("t"))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("t"), col("pos"), lit(l)), " ").as("gram"))

  /** Excise the l-token windows starting at `removedStarts`
    * (doc_id, pos) from a (doc_id, t, n) token frame: union the
    * covered positions, rebuild the cleaned text positionally, hash —
    * the single definition of the surgery tail shared by
    * [[exactSubstringDedup]] and [[decontamApply]]. */
  private def exciseWindows(toks: DataFrame, removedStarts: DataFrame,
      l: Int): DataFrame = {
    val removedPos = removedStarts
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(l - 1))).as("tokpos"))
      .distinct()
    val rl = removedPos.groupBy(col("doc_id"))
      .agg(collect_set(col("tokpos")).as("rlist"))
    toks.join(rl, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        // size(NULL) is -1 in non-ANSI Spark — guard on the array itself
        when(col("rlist").isNull, lit(0L))
          .otherwise(size(col("rlist")).cast("long")).as("n_removed"),
        md5(array_join(filter(
          transform(col("t"), (x, i) =>
            when(array_contains(col("rlist"), i + 1), lit(null)
              .cast("string")).otherwise(x)),
          x => x.isNotNull), " ")).as("clean_hash"))
  }

  def exactSubstringDedup(docs: DataFrame, id: Column, text: Column,
      l: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    require(l >= 2, s"exactSubstringDedup: need l >= 2 ($l)")
    val withN = docs.select(id.as("doc_id"),
      graft.expr.TextStats.tokens(text).as("t"))
      .withColumn("n", size(col("t")))
    // (doc, pos, gram) occurrences — feeds the stats agg AND the
    // removal join; materialized so the explode runs once
    val grams = materialize(positionalGrams(withN, l))
    val st = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("canon"))
    val removedStarts = grams.join(st, Seq("gram"))
      .filter(col("cnt") >= 2L &&
        !(struct(col("doc_id"), col("pos")) === col("canon")))
      .select(col("doc_id"), col("pos"))
    exciseWindows(withN, removedStarts, l)
  }

  /** Per-document l-gram novelty (growth/contribution profiling — the
    * data-ordering signal of dedup-aware curation): the fraction of a
    * document's gram occurrences whose gram FIRST appears (min doc_id
    * over the corpus) in this document. A doc whose grams are all
    * corpus-first contributes new text; one whose grams all premiered in
    * earlier docs is derivative even when no single span repeats
    * verbatim (the q132 criterion) — the vocabulary-growth view of
    * redundancy (Heaps' law, doc-granular).
    *
    * Deterministic: first-occurrence is an integer min per gram; the
    * novelty ratio is one double division on exact longs.
    *
    * Scale shape: the gram table is corpus-sized but checkpointed ONCE
    * for its two consumers (first-occurrence aggregation and the rollup
    * join); the (gram → min doc_id) aggregation is map-side combined;
    * the join back is keyed by gram; the final rollup is per-doc. No
    * windows, no sorts, no pair joins. Docs shorter than l tokens have
    * no grams and are absent. */
  def ngramNovelty(docs: DataFrame, id: Column, text: Column, l: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    require(l >= 1, s"ngramNovelty: need l >= 1 ($l)")
    val toks = docs.select(id.as("doc_id"),
      graft.expr.TextStats.tokens(text).as("t"))
      .withColumn("n", size(col("t")))
    val grams = materialize(positionalGrams(toks, l)
      .select(col("doc_id"), col("gram")))
    val first = grams.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6)
          .as("novelty"))
  }

  /** x^e for power-of-two e as an explicit squaring chain — plain IEEE
    * multiplications, so any engine replays it bit-identically (general
    * `pow` is NOT correctly rounded in the JDK and may differ from
    * another engine's libm in the last ulp). */
  private def ipow(x: Column, e: Column, maxLog: Int): Column = {
    val sq = Iterator.iterate(x)(c => c * c).take(maxLog + 1).toSeq
    (1 to maxLog).foldLeft(when(e === 1L, sq(0))) { (c, i) =>
      c.when(e === (1L << i).toLong, sq(i)) }
  }

  /** LSH banding planner, grounded on the OBSERVED pair-similarity
    * distribution: for every power-of-two (bands b, rows-per-band r)
    * split of the signature, the S-curve detection probability
    * p(s) = 1 − (1 − s^r)^b is evaluated at each verified pair's exact
    * Jaccard, giving the EXPECTED number of true near-dup pairs that
    * (b, r) would surface as candidates — plus the curve's threshold
    * s* = (1/b)^(1/r) (the similarity at ~50% detection). The query
    * that justifies q21's (b=4, r=2) instead of hand-waving it.
    *
    * Determinism: s^r and (·)^b are squaring chains ([[ipow]]) and s*
    * a sqrt chain — no libm `pow` anywhere; per-pair probabilities are
    * 6-dp-snapped before the sum, the sum rounded to 4.
    *
    * Scale shape: input is the (LSH-selective) verified-pair table —
    * pair-sized, not corpus-sized; the grid is a literal-array explode
    * (|pairs|×|grid| rows, no join); output is |grid| rows. */
  def lshPlanner(verified: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes > 0 && (numHashes & (numHashes - 1)) == 0,
      s"lshPlanner: numHashes=$numHashes must be a power of two")
    val maxLog = 31 - Integer.numberOfLeadingZeros(numHashes)
    val grid: Seq[(Long, Long)] = (0 to maxLog)
      .map(i => (1L << i, (numHashes >> i).toLong))
    val g = verified.select(col("jaccard"), explode(typedLit(grid)).as("g"))
      .select(col("jaccard"), col("g._1").as("bands"),
        col("g._2").as("rows_per_band"))
    val p = lit(1.0) -
      ipow(lit(1.0) - ipow(col("jaccard"), col("rows_per_band"), maxLog),
        col("bands"), maxLog)
    val inv = lit(1.0) / col("bands").cast("double")
    val sStar = (1 to maxLog).foldLeft(when(col("rows_per_band") === 1L, inv)) {
      (c, i) => c.when(col("rows_per_band") === (1L << i).toLong,
        Iterator.iterate(inv)(sqrt).drop(i).next()) }
    g.groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(p, 6)).as("e"))
      .select(col("bands"), col("rows_per_band"),
        round(sStar, 4).as("s_star"), col("n_pairs"),
        round(col("e"), 4).as("expected_pairs"),
        round(col("e") / col("n_pairs").cast("double"), 4)
          .as("expected_rate"))
  }

  /** Decontamination SURGERY — q54 detects, this removes: every corpus
    * token covered by an `l`-gram that appears in the benchmark set is
    * excised (ALL occurrences — eval text has no canonical copy to
    * keep, unlike [[exactSubstringDedup]]'s first-occurrence rule), and
    * the cleaned text is reassembled positionally and hashed. The
    * "remove eval overlap, keep the rest of the document" policy — a
    * doc quoting one benchmark sentence loses that sentence, not its
    * training value.
    *
    * Scale shape: the benchmark gram set is eval-sized and BROADCAST
    * (swap in the q158 bloom mask when it outgrows broadcast comfort —
    * identical downstream shape); the corpus gram stream is l-windowed
    * narrow rows; removal is one broadcast semi-join; the token-window
    * explode is bounded by l× the matched grams; reassembly is the
    * doc-keyed array rebuild of q132. Deterministic: exact membership,
    * integer positions. */
  def decontamApply(corpus: DataFrame, bench: DataFrame, id: Column,
      text: Column, l: Int): DataFrame = {
    require(l >= 1, s"decontamApply: l=$l")
    val benchGrams = broadcast(bench
      .select(graft.expr.TextStats.shingleGen(text, l).as("gram"))
      .distinct())
    val toks = corpus.select(id.as("doc_id"),
      graft.expr.TextStats.tokens(text).as("t"))
      .withColumn("n", size(col("t")))
    val removedStarts = positionalGrams(toks, l)
      .join(benchGrams, Seq("gram"), "left_semi")
      .select(col("doc_id"), col("pos"))
    exciseWindows(toks, removedStarts, l)
  }

  /** Bloom-STAGED n-gram decontamination — the 100 TB shape of q54's
    * exact check: stage 1 broadcasts a [[Sketch.bloomMask]] of the
    * benchmark gram set (bits/8 BYTES — a fixed-size bitmask instead of
    * the full gram-string set) and drops non-matching corpus grams
    * inside ONE codegen'd filter (no join on the probe path); stage 2
    * exact-verifies only the bloom SURVIVORS against the true gram set.
    * No false negatives by construction, so the contaminated verdict is
    * EXACT; the per-doc accounting (bloom hits vs exact hits) also
    * surfaces the filter's realized false-positive cost — the number
    * the bits/k sizing decision needs.
    *
    * Scale: when the benchmark gram set outgrows broadcast comfort
    * (eval suites × paraphrase expansions), the mask stays constant-
    * size; stage 2's semi-join then runs over survivor-sized input
    * (FP-rate × corpus grams), not the corpus. Deterministic: bloom
    * positions are md5-derived ([[Sketch.cmBucket]]), both stages
    * integer-exact. */
  def bloomStagedContamination(corpusShingles: DataFrame,
      benchShingles: DataFrame, bits: Int = 4096, k: Int = 3,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    val bench = benchShingles.select(col("shingle")).distinct()
    val mask = Sketch.bloomMask(bench, col("shingle"), bits, k)
    // survivor-sized; materialized for its two consumers (bloom count,
    // exact verify)
    val pruned = materialize(
      Sketch.bloomPruneMask(corpusShingles, col("shingle"), mask, bits, k))
    val exact = pruned.join(broadcast(bench), Seq("shingle"), "left_semi")
    val nb = pruned.groupBy(col("doc_id")).agg(count(lit(1)).as("n_bloom_hits"))
    val ne = exact.groupBy(col("doc_id")).agg(count(lit(1)).as("n_exact_hits"))
    nb.join(ne, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bloom_hits"),
        coalesce(col("n_exact_hits"), lit(0L)).as("n_exact_hits"),
        (col("n_bloom_hits") - coalesce(col("n_exact_hits"), lit(0L)))
          .as("n_false_pos"),
        (coalesce(col("n_exact_hits"), lit(0L)) > 0L).as("contaminated"))
  }

  /** Block-level global-frequency boilerplate removal (the CCNet /
    * Dolma paragraph-dedup shape, Wenzek et al. 2020 §3.1): the corpus
    * is cut into aligned `b`-token blocks (the token-stream stand-in
    * for paragraphs — this corpus has no newline structure), every
    * block's GLOBAL occurrence count is measured, and every occurrence
    * of a block seen more than `maxFreq` times is dropped from every
    * document — headers, navigation chrome, license banners: text
    * whose duplication is corpus-wide, not pairwise (q22's near-dup
    * view) and not canonical-first (q132's substring view; this one
    * keeps NO copy once a block is over the bar). Emits per doc the
    * block counts and the md5 of the reassembled cleaned text.
    *
    * Deterministic: the drop decision is a pure integer count on exact
    * block text (no hashing, no sampling); reassembly is positional.
    *
    * Scale shape: blocks are a narrow projection of the corpus (n/b
    * rows per doc — SMALLER than the token stream, vs l× for shingle
    * explodes), materialized once for its two consumers (frequency agg
    * and removal join); the frequency aggregation is map-side combined
    * on the block text; the removal join is keyed by block text; the
    * rebuild is one doc-keyed aggregation. At 100 TB every stage is an
    * equi-keyed exchange over at-most-corpus-sized rows — the frequency
    * table is the only global structure and it shrinks with dedup. */
  def blockBoilerplate(docs: DataFrame, id: Column, text: Column,
      b: Int, maxFreq: Long = 1L,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    require(b >= 1 && maxFreq >= 1, s"blockBoilerplate: b=$b maxFreq=$maxFreq")
    val toks = docs.select(id.as("doc_id"),
      graft.expr.TextStats.tokens(text).as("t"))
      .withColumn("n", size(col("t")))
    val blocks = materialize(fanout(toks).filter(col("n") >= 1)
      .select(col("doc_id"),
        explode(sequence(lit(0),
          ceil(col("n").cast("double") / lit(b.toDouble)).cast("int") - 1))
          .as("bi"),
        col("t"))
      .select(col("doc_id"), col("bi"),
        array_join(slice(col("t"), col("bi") * lit(b) + 1, lit(b)), " ")
          .as("blk")))
    val freq = blocks.groupBy(col("blk"))
      .agg(count(lit(1)).as("cnt"))
    val kept = blocks.join(freq, Seq("blk"))
      .filter(col("cnt") <= maxFreq)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("bi"), col("blk")))),
          x => x.getField("blk")), " ").as("clean_text"))
    toks.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        ceil(col("n").cast("double") / lit(b.toDouble)).cast("long")
          .as("n_blocks"),
        (ceil(col("n").cast("double") / lit(b.toDouble)).cast("long") -
          coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        md5(coalesce(col("clean_text"), lit(""))).as("clean_hash"))
  }

  /** MinHash estimator calibration: per candidate pair, the signature-
    * agreement estimate of Jaccard (matching components / numHashes)
    * against the exact shingle-set Jaccard, with the absolute error —
    * the query that measures whether `numHashes` permutations are
    * enough for the banding decisions downstream (the estimator is
    * unbiased; its per-pair spread at n=8 is what this surfaces).
    *
    * Scale shape: candidates and the verified table are pair-sized;
    * the signature join fans each pair to numHashes rows (bounded);
    * everything is equi-joined and map-side aggregable. */
  def minhashCalibration(candidates: DataFrame, signatures: DataFrame,
      verified: DataFrame, numHashes: Int): DataFrame = {
    require(numHashes > 0, s"minhashCalibration: numHashes=$numHashes")
    val sa = signatures.select(col("doc_id").as("doc_a"), col("h"),
      col("minhash").as("ma"))
    val sb = signatures.select(col("doc_id").as("doc_b"), col("h"),
      col("minhash").as("mb"))
    val est = candidates.join(sa, Seq("doc_a")).join(sb, Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((sum(when(col("ma") === col("mb"), 1L).otherwise(0L))
        .cast("double") / lit(numHashes.toDouble)).as("e"))
    est.join(verified, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), round(col("e"), 4).as("est_jaccard"),
        col("jaccard"), round(abs(col("e") - col("jaccard")), 4).as("abs_err"))
  }

  /** The canonical dedup key: lowercase, non-alphanumerics to spaces,
    * runs of spaces collapsed, trimmed — the CCNet/C4-style
    * normalization that makes "Hello, World!" and "hello world"
    * collide. Exposed so batch dedup and any streaming admission path
    * share ONE normalization definition. */
  def canonicalKey(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Exact dedup on the CANONICAL key ([[canonicalKey]]) — catches the
    * case/punctuation/whitespace variants raw-hash dedup (q20) is
    * blind to, without any similarity machinery: one narrow projection
    * to (canon-md5, raw-md5), one map-side-combined aggregation,
    * groups with 2+ members survive. `n_raw_variants > 1` counts the
    * groups ONLY normalization could see. Keep-doc is the min id (the
    * q125 canonical-pick tie-break). Scale: the shuffle carries two
    * 32-char hashes per doc — never text. */
  def canonicalDupGroups(docs: DataFrame, id: Column, text: Column)
      : DataFrame =
    docs.select(id.as("doc_id"), md5(text).as("raw_hash"),
        md5(canonicalKey(text)).as("canon_hash"))
      .groupBy(col("canon_hash"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_hash")).as("n_raw_variants"),
        min(col("doc_id")).as("keep_doc"))
      .filter(col("n_docs") > 1)

  /** Pairwise top-k-vocabulary Jaccard between groups (sources) — the
    * domain-similarity matrix of a mixture: two sources sharing most
    * of their head vocabulary are near-duplicate DOMAINS (budget them
    * jointly in q121/q130-style apportionment), while low overlap
    * flags genuinely novel data. The group-level cousin of doc-level
    * MinHash — computed exactly, because the per-group object is the
    * k-term head, not the corpus.
    *
    * Scale shape: one (group, term) weight aggregation (map-side
    * combined — or free when fed the session TF artifact), a per-group
    * top-k window (WindowGroupLimit, (w desc, term) deterministic
    * order), then ALL work is (|groups|·k)-sized: the pair join is an
    * equi-join on term over top-k rows, and the full a<b pair scaffold
    * keeps zero-overlap pairs as rows (the diagnostic's most
    * interesting output), not gaps. Returns
    * (src_a, src_b, n_a, n_b, n_common, jaccard). */
  def topVocabOverlap(termsByGrp: DataFrame, grp: Column, term: Column,
      weight: Column, k: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    require(k >= 1, s"topVocabOverlap: k=$k")
    import org.apache.spark.sql.expressions.Window
    val agg = termsByGrp.select(grp.as("grp"), term.as("term"),
        weight.cast("long").as("w"))
      .groupBy(col("grp"), col("term")).agg(sum(col("w")).as("w"))
    val top = materialize(agg.withColumn("rk",
        row_number().over(Window.partitionBy(col("grp"))
          .orderBy(col("w").desc, col("term"))))
      .filter(col("rk") <= k).select(col("grp"), col("term")))
    val sz = top.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val grps = sz.select(col("grp"), col("n"))
    val scaffold = grps.select(col("grp").as("src_a"), col("n").as("n_a"))
      .join(grps.select(col("grp").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    val common = top.as("a").join(top.as("b"),
        col("a.term") === col("b.term") && col("a.grp") < col("b.grp"))
      .groupBy(col("a.grp").as("src_a"), col("b.grp").as("src_b"))
      .agg(count(lit(1)).as("nc"))
    scaffold.join(common, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("nc"), lit(0L)).as("n_common"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Template detection by shared affix: docs whose first (or last)
    * `k` tokens are IDENTICAL — the boilerplate-header/footer and
    * template-spam signal that similarity dedup underweights (a shared
    * 8-token header is a tiny Jaccard fraction of a long doc but marks
    * machine-generated families precisely). Only docs with ≥ k tokens
    * participate (shorter docs would alias whole-doc equality, which
    * is q20/q176's job). Output one row per (kind, affix) family with
    * 2+ members: member and distinct-source counts (a multi-source
    * template is scraped boilerplate; single-source is a site
    * template) and the min-id example.
    *
    * Scale shape: one narrow projection to (kind, affix-md5) — the
    * shuffle carries md5s, never text — and one map-side-combined
    * aggregation; both affixes come from the SAME scan (union of two
    * projections of one cached read at worst). */
  def templateAffixGroups(docs: DataFrame, id: Column, text: Column,
      source: Column, k: Int = 8): DataFrame = {
    require(k >= 1, s"templateAffixGroups: k=$k")
    val base = docs.select(id.as("doc_id"), source.as("src"),
        TextStats.tokens(text).as("t"))
      .filter(size(col("t")) >= k)
    def grouped(kind: String, affix: Column) =
      base.select(lit(kind).as("kind"),
          md5(array_join(affix, " ")).as("affix_hash"),
          col("doc_id"), col("src"))
        .groupBy(col("kind"), col("affix_hash"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("src")).as("n_sources"),
          min(col("doc_id")).as("example_doc"))
        .filter(col("n_docs") > 1)
    grouped("prefix", slice(col("t"), 1, k))
      .unionByName(grouped("suffix", slice(col("t"), -k, k)))
  }

  /** ROUGE-1 set-overlap precision/recall/F1 between paired texts
    * (Lin 2004, distinct-unigram form) — the reference-overlap scorer
    * of summarization/paraphrase data curation, and the asymmetric
    * complement of exact Jaccard (q22): P charges the candidate's
    * excess, R the reference's missed content. With set counts the F1
    * collapses to the exact integer form 2·|A∩B| / (|A| + |B|).
    *
    * Scale shape: per side one distinct-token explode (narrow (pair,
    * token) rows), one equi-join on (pair, token), three map-side-
    * combined aggregations — all shuffles carry tokens, never texts.
    * Deterministic: counts are exact integers; P/R/F are single IEEE
    * divisions rounded to 6 dp. */
  /** BLEU-2 with brevity penalty between paired texts (Papineni et al.
    * 2002) — the PRECISION-side complement of [[rouge1Prf]] and the
    * standard scorer of generated-vs-reference data (distillation
    * filtering, paraphrase mining): per pair, CLIPPED n-gram precision
    * p_n = Σ_g min(cnt_cand(g), cnt_ref(g)) / Σ_g cnt_cand(g) for
    * n ∈ {1, 2} over token MULTISETS (clipping is what stops "the the
    * the" from scoring), brevity penalty
    * bp = 1 if len_c ≥ len_r else e^(1 − len_r/len_c), and
    * bleu2 = bp · √(p1·p2). A candidate with < 2 tokens has no bigram
    * precision — p2 and bleu2 are NULL (the ksDrift undefined
    * convention), not a silent zero.
    *
    * Determinism: all counts are exact integers; p1/p2 round to 6 dp,
    * bp rounds to 6 dp straight off the one exp() call, and bleu2
    * computes FROM the rounded pieces (a last-ulp libm divergence
    * would have to land exactly on a rounding boundary to surface).
    *
    * Scale shape: per side one n-gram explode to (pair, n, gram, cnt)
    * rows (map-side combined), ONE equi-join on (pair, n, gram) for
    * the clip, two conditional-sum rollups — every shuffle carries
    * grams, never texts. */
  def bleu2Pairs(refs: DataFrame, refId: Column, refText: Column,
      cands: DataFrame, candId: Column, candText: Column): DataFrame = {
    def grams(df: DataFrame, id: Column, text: Column): DataFrame = {
      val tk = TextStats.tokens(text)
      val uni = df.select(id.as("pair_id"), lit(1).as("n"),
        explode(tk).as("gram"))
      // bigrams stream from the native shingle generator (≡ the old
      // explode-of-transform, PropertySpec-pinned) — no per-doc
      // bigram array, no interpreted HOF in the pair hot path
      val bi = df.select(id.as("pair_id"), lit(2).as("n"),
        TextStats.shingleGen(text, 2).as("gram"))
      uni.unionByName(bi)
        .groupBy(col("pair_id"), col("n"), col("gram"))
        .agg(count(lit(1)).as("c"))
    }
    val cg = grams(cands, candId, candText)
    val rg = grams(refs, refId, refText)
      .select(col("pair_id"), col("n"), col("gram"), col("c").as("cr"))
    val clip = cg.join(rg, Seq("pair_id", "n", "gram"), "left")
      .groupBy(col("pair_id"), col("n"))
      .agg(sum(col("c")).as("tot"),
        sum(least(col("c"), coalesce(col("cr"), lit(0L)))).as("hit"))
    val lens = cands
      .select(candId.as("pair_id"),
        size(TextStats.tokens(candText)).cast("long").as("len_cand"))
      .join(refs.select(refId.as("pair_id"),
        size(TextStats.tokens(refText)).cast("long").as("len_ref")),
        "pair_id")
    val p = clip.groupBy(col("pair_id"))
      .agg(
        round(sum(when(col("n") === 1, col("hit"))).cast("double") /
          sum(when(col("n") === 1, col("tot"))).cast("double"), 6).as("p1"),
        round(sum(when(col("n") === 2, col("hit"))).cast("double") /
          sum(when(col("n") === 2, col("tot"))).cast("double"), 6).as("p2"))
    lens.join(p, "pair_id")
      .withColumn("bp", when(col("len_cand") >= col("len_ref"), lit(1.0))
        .otherwise(round(exp(lit(1.0) - col("len_ref").cast("double") /
          col("len_cand").cast("double")), 6)))
      .select(col("pair_id"), col("len_cand"), col("len_ref"),
        col("p1"), col("p2"), col("bp"),
        when(col("p2").isNotNull,
          round(col("bp") * sqrt(col("p1") * col("p2")), 6)).as("bleu2"))
  }

  def rouge1Prf(refs: DataFrame, refId: Column, refText: Column,
      cands: DataFrame, candId: Column, candText: Column): DataFrame = {
    def side(df: DataFrame, id: Column, text: Column) =
      df.select(id.as("pair_id"),
        explode(array_distinct(TextStats.tokens(text))).as("tok"))
    val a = side(refs, refId, refText)
    val b = side(cands, candId, candText)
    val na = a.groupBy(col("pair_id")).agg(count(lit(1)).as("n_ref"))
    val nb = b.groupBy(col("pair_id")).agg(count(lit(1)).as("n_cand"))
    val hit = a.join(b, Seq("pair_id", "tok"))
      .groupBy(col("pair_id")).agg(count(lit(1)).as("n_hit"))
    na.join(nb, "pair_id")
      .join(hit, Seq("pair_id"), "left")
      .select(col("pair_id"), col("n_ref"), col("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col("pair_id"), col("n_ref"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_cand").cast("double"), 6)
          .as("p"),
        round(col("n_hit").cast("double") / col("n_ref").cast("double"), 6)
          .as("r"),
        round(lit(2.0) * col("n_hit").cast("double") /
          (col("n_ref") + col("n_cand")).cast("double"), 6).as("f1"))
  }

  /** chrF over id-aligned (candidate, reference) pairs (Popović 2015):
    * whitespace-stripped CHARACTER n-grams n = 1..3, clipped multiset
    * hits both directions, per-n F_β with β² = 4 (recall-weighted, the
    * paper's chrF3-style balance), and the macro-average `chrf` of the
    * ROUNDED per-n pieces (the q195 discipline — downstream doubles
    * derive from already-snapped 6-dp values, so any engine replays
    * them). A per-n row with zero shared grams scores F = 0 (standard);
    * a side too short for n (impossible at n ≤ 3 on this corpus but
    * guarded anyway) leaves F_n and `chrf` NULL.
    *
    * Character grams complement the token-level q195/q177 scorers:
    * morphology-robust, tokenizer-free — the generated-text eval used
    * where word tokenization is unreliable. Scale shape identical to
    * [[bleu2Pairs]]: grams explode once per side, one (pair, n, gram)
    * exchange, everything after is pair-count-sized. */
  /** Char n-gram multiset counts (pair_id, n, gram, c) for one chrF
    * side, n = 1..`maxN`, whitespace stripped. */
  private def chrfGrams(df: DataFrame, id: Column, text: Column,
      maxN: Int): DataFrame = {
    // TWO codegen Generates in ONE corpus pass for ALL n (the
    // q200/q238 template): positions stream out of sequence(1, len),
    // each position emits its ≤maxN (n, gram) candidates from a
    // fixed-width array — replacing maxN separate scans each running
    // an interpreted transform that materialized a per-doc gram array
    val s = regexp_replace(text, " ", "")
    val cand = (1 to maxN).map { n =>
      when(col("__i") + lit(n - 1) <= length(col("__s")),
        struct(lit(n).as("n"),
          col("__s").substr(col("__i"), lit(n)).as("gram")))
    }
    df.select(id.as("pair_id"), s.as("__s"))
      .filter(length(col("__s")) >= 1)
      .select(col("pair_id"), col("__s"),
        explode(sequence(lit(1), length(col("__s")))).as("__i"))
      .select(col("pair_id"), explode(array(cand: _*)).as("g"))
      .filter(col("g").isNotNull)
      .select(col("pair_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy(col("pair_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
  }

  /** Per-(pair, n) TOTAL char n-gram counts by pure arithmetic —
    * `Σ_gram c = len − n + 1` counting multiplicity — so the chrF
    * denominators never touch the exploded gram table (which then has
    * exactly one consumer per side: the clip join). */
  private def chrfTotals(df: DataFrame, id: Column, text: Column,
      maxN: Int, totName: String): DataFrame =
    df.select(id.as("pair_id"),
        length(regexp_replace(text, " ", "")).as("__len"))
      .select(col("pair_id"), col("__len"),
        explode(sequence(lit(1), lit(maxN))).as("n"))
      .filter(col("__len") >= col("n"))
      .select(col("pair_id"), col("n"),
        (col("__len") - col("n") + 1).cast("long").as(totName))

  def chrfPairs(refs: DataFrame, refId: Column, refText: Column,
      cands: DataFrame, candId: Column, candText: Column): DataFrame = {
    val cg = chrfGrams(cands, candId, candText, 3)
    val rg = chrfGrams(refs, refId, refText, 3)
      .select(col("pair_id"), col("n"), col("gram"), col("c").as("cr"))
    chrfFromGrams(cg, rg, chrfTotals(cands, candId, candText, 3, "totc"),
      chrfTotals(refs, refId, refText, 3, "totr"))
  }

  /** [[chrfPairs]] for the self-pairing corpus sweep (candidate doc i
    * scored against reference doc i+`shift`): both clip-join sides are
    * id-shifted projections of ONE gram aggregation — the aggregation
    * exchange is identical on both sides, so AQE's exchange reuse
    * computes the corpus explode once; the totals are arithmetic
    * (`len − n + 1`), never a gram-table scan. */
  def chrfSelfPairs(docs: DataFrame, id: Column, text: Column,
      shift: Int = 1): DataFrame = {
    val g = chrfGrams(docs, id, text, 3)
    val rg = g.select((col("pair_id") - shift).as("pair_id"), col("n"),
      col("gram"), col("c").as("cr"))
    val tc = chrfTotals(docs, id, text, 3, "totc")
    val tr = tc.select((col("pair_id") - shift).as("pair_id"), col("n"),
      col("totc").as("totr"))
    chrfFromGrams(g, rg, tc, tr)
  }

  private def chrfFromGrams(cg: DataFrame, rg: DataFrame,
      totc: DataFrame, totr: DataFrame): DataFrame = {
    val hits = cg.join(rg, Seq("pair_id", "n", "gram"))
      .groupBy(col("pair_id"), col("n"))
      .agg(sum(least(col("c"), col("cr"))).as("hit"))
    // base rows exist only where BOTH sides have n-grams; clipped hit
    // defaults to 0 (disjoint gram sets), F = 0 there by convention
    val p = col("hit").cast("double") / col("totc").cast("double")
    val r = col("hit").cast("double") / col("totr").cast("double")
    val perN = totc.join(totr, Seq("pair_id", "n"))
      .join(hits, Seq("pair_id", "n"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0L)))
      .select(col("pair_id"), col("n"),
        when(col("hit") > 0,
          round((lit(5.0) * p * r) / (lit(4.0) * p + r), 6))
          .otherwise(lit(0.0)).as("f"))
    perN.groupBy(col("pair_id"))
      .agg(
        max(when(col("n") === 1, col("f"))).as("f1"),
        max(when(col("n") === 2, col("f"))).as("f2"),
        max(when(col("n") === 3, col("f"))).as("f3"))
      .select(col("pair_id"), col("f1"), col("f2"), col("f3"),
        when(col("f1").isNotNull && col("f2").isNotNull &&
          col("f3").isNotNull,
          round((col("f1") + col("f2") + col("f3")) / lit(3.0), 6))
          .as("chrf"))
  }

  /** Sparse TF-IDF all-pairs cosine similarity (Bayardo, Ma &
    * Srikant, WWW 2007 "Scaling up all pairs similarity search") —
    * the TERM-SPACE near-dup scorer next to the set-based Jaccard
    * (q22) and the dense embedding cosine (q32): multiset tf·idf
    * weighting catches "same content, different emphasis" pairs that
    * set overlap flattens. Candidate pairs generate ONLY through the
    * inverted index restricted to DISCRIMINATIVE terms
    * (dfMin ≤ df ≤ dfCap — boilerplate terms carry no signal AND are
    * the hot join buckets; the similarity is DEFINED over that capped
    * term space, norms included, so the decision is exact for the
    * stated estimand, not a truncation of another one). Dot products
    * and squared norms are 1e9-snapped Σs; the threshold compares the
    * 4-dp-rounded cosine (the q32 convention — float-order-
    * independent). Returns ordered (doc_a, doc_b, cos ≥ threshold).
    *
    * Scale shape: one pass to the (doc, term, w) index, df filter
    * BEFORE the self-join, pair generation as a term equi-join (never
    * all-pairs), norms joined doc-keyed. */
  def sparseCosinePairs(docs: DataFrame, id: Column, text: Column,
      threshold: Double, dfMin: Long = 2L, dfCap: Long = 50L,
      tf0: Option[DataFrame] = None,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    import graft.expr.Snap
    require(threshold > 0.0 && dfMin >= 1L && dfCap >= dfMin,
      s"sparseCosinePairs: threshold=$threshold dfMin=$dfMin dfCap=$dfCap")
    // materialize the TF index (ONE corpus pass — the only stage that
    // reads the documents; everything after is index-sized), then
    // derive df as a COUNT WINDOW over the term partition instead of a
    // groupBy + join-back: the window re-runs per consumer over the
    // cached index (cheap), the df-band filter and idf weighting run
    // in place, and the pair self-join below matches the term
    // partitioning the window already established.
    val tf = materialize(tf0.getOrElse(fanout(docs)
      .select(id.as("doc_id"), explode(TextStats.tokens(text)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))))
    // N as a one-row broadcast, not a driver action: idf evaluates
    // entirely in-plan
    val nd = tf.agg(countDistinct(col("doc_id")).as("nd"))
    val wTerm = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
    val w = tf
      .withColumn("df", count(lit(1)).over(wTerm))
      .filter(col("df") >= dfMin && col("df") <= dfCap)
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") *
          log(col("nd").cast("double") / col("df").cast("double"))).as("w"))
    val nrm = w.groupBy(col("doc_id"))
      .agg(Snap.snappedSum(col("w") * col("w"), 1e9).as("n2"))
    val dots = w.select(col("term"), col("doc_id").as("doc_a"),
        col("w").as("wa"))
      .join(w.select(col("term"), col("doc_id").as("doc_b"),
        col("w").as("wb")), "term")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(Snap.snappedSum(col("wa") * col("wb"), 1e9).as("dot"))
    dots
      .join(nrm.select(col("doc_id").as("doc_a"), col("n2").as("na")),
        "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("n2").as("nb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("dot") / sqrt(col("na") * col("nb")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** MOSS winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003):
    * the guaranteed-coverage local fingerprinting scheme behind code-
    * plagiarism detection — every shared substring of length ≥ w+k−1
    * is CAUGHT by at least one shared fingerprint (the property random
    * k-gram sampling can't give), while selecting only ~2/(w+1) of the
    * gram hashes. Per document: char k-gram hashes (md5-derived, the
    * repo convention — engine-portable), then in every window of w
    * consecutive hashes select the minimum, ties to the RIGHTMOST
    * position (the paper's rule). The (hash, position) pair encodes
    * into ONE long — h·2²¹ + (2²⁰ − pos) — so a plain min() implements
    * "min hash, rightmost tie" in any engine; the text caps at 2²⁰
    * chars to keep the position lane exact. Documents with fewer than
    * w k-grams yield no fingerprints (the scheme's own precondition).
    *
    * Scale shape: one position explode per doc (codegen Generate), the
    * min/count windows PARTITION BY doc (never global), one distinct.
    * Returns the fingerprint table (doc_id, pos, h). */
  def winnowFingerprints(docs: DataFrame, id: Column, text: Column,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"winnowFingerprints: k=$k w=$w")
    val HLANE = 2097152L // 2^21
    val PLANE = 1048576L // 2^20
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(0, w - 1)
    Fanout.fanout(docs)
      .select(id.as("doc_id"),
        substring(text, 1, PLANE.toInt).as("__s"))
      .filter(length(col("__s")) >= k)
      .select(col("doc_id"), col("__s"),
        explode(sequence(lit(1), length(col("__s")) - (k - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        (graft.expr.Similarity.md5PrefixLong(col("__s").substr(col("i"), lit(k)), 8) * lit(HLANE) +
          (lit(PLANE) - col("i").cast("long"))).as("e"))
      .select(col("doc_id"), min(col("e")).over(win).as("me"),
        count(lit(1)).over(win).as("c"))
      .filter(col("c") === w)
      .select(col("doc_id"), col("me")).distinct()
      .select(col("doc_id"),
        (lit(PLANE) - pmod(col("me"), lit(HLANE))).as("pos"),
        // integer DIV, not `/` (double division truncated could slip
        // an ulp at lane boundaries)
        expr("me DIV 2097152").as("h"))
  }

  /** Winnowing near-duplicate candidates: fingerprint-set overlap with
    * a document-frequency cap. Fingerprints shared by more than
    * `dfCap` documents are boilerplate (and hot join buckets) — they
    * carry no dedup signal and are dropped BEFORE the pair join, the
    * same common-member discipline as the shingle LSH path; remaining
    * pairs generate by hash equi-join (never all-pairs) and keep
    * `minShared`+ shared fingerprints. Returns ordered
    * (doc_a, doc_b, n_shared). */
  def winnowNearDup(docs: DataFrame, id: Column, text: Column,
      k: Int = 8, w: Int = 4, dfCap: Int = 20, minShared: Int = 5,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    require(dfCap >= 1 && minShared >= 1,
      s"winnowNearDup: dfCap=$dfCap minShared=$minShared")
    // distinct (doc, h): positions don't matter for set overlap
    val fp = materialize(winnowFingerprints(docs, id, text, k, w)
      .select(col("doc_id"), col("h")).distinct())
    val hd = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val keep = fp.join(hd.filter(col("df") <= dfCap), "h")
    keep.select(col("h"), col("doc_id").as("doc_a"))
      .join(keep.select(col("h"), col("doc_id").as("doc_b")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Dedup-threshold policy sweep over a verified similarity-pair
    * table: for each candidate threshold t ∈ {0.1 … 0.9}, how many
    * pairs fire and how many distinct documents get touched — the
    * tuning curve behind every "dedup at Jaccard ≥ 0.8" decision
    * (Lee et al. 2022 pick thresholds off exactly this curve). Read
    * next to q150's calibration (what the MINHASH ESTIMATE does at a
    * threshold) this is what the EXACT similarity does.
    *
    * Deterministic: similarities arrive 4-dp rounded (the q22
    * contract), thresholds are i/10 doubles computed identically in
    * both engines, counts exact. Scale: the pair table × the 9-row
    * threshold axis (bounded fanout of an already-selective pair
    * set), two map-side-combined rollups; absent thresholds emit 0
    * rows via the axis left-join, not silence. Returns 9 rows:
    * (threshold, n_pairs, n_docs_affected). */
  def dedupThresholdSweep(pairs: DataFrame, a: Column, b: Column,
      sim: Column): DataFrame = {
    val ths = pairs.sparkSession.range(1, 10)
      .select((col("id").cast("double") / lit(10.0)).as("threshold"))
    val p = pairs.select(a.as("a"), b.as("b"), sim.cast("double").as("s"))
    val hit = p.crossJoin(broadcast(ths)).filter(col("s") >= col("threshold"))
    val np = hit.groupBy(col("threshold")).agg(count(lit(1)).as("np"))
    val nd = hit.select(col("threshold"),
        explode(array(col("a"), col("b"))).as("d"))
      .groupBy(col("threshold")).agg(countDistinct(col("d")).as("nd"))
    ths.join(broadcast(np), Seq("threshold"), "left")
      .join(broadcast(nd), Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_docs_affected"))
  }

  /** Chapman capture–recapture estimate of the TOTAL duplicate-pair
    * population from two independent dedup methods' catches (Chapman
    * 1951's bias-corrected Lincoln–Petersen; Seber 1982 §3.1 for the
    * variance) — the question every recall-free dedup pipeline can't
    * otherwise answer: "how many near-dup pairs did BOTH methods
    * miss?" Catch 1 = method A's pair set, catch 2 = method B's; the
    * overlap plays the marked-recapture count:
    *   N̂  = (n₁+1)(n₂+1)/(m+1) − 1
    *   v̂ar = (n₁+1)(n₂+1)(n₁−m)(n₂−m)/((m+1)²(m+2))
    * The independence assumption is real (and stated): LSH-Jaccard
    * and SimHash-Hamming miss DIFFERENT pairs, which is exactly why
    * the pairing is informative.
    *
    * Exactness: three exact integer counts; the estimator is a fixed
    * parenthesization of their doubles (IEEE-identical); m = 0 is
    * fine by construction (the +1s are Chapman's point). Scale: two
    * pair-table distincts + one pair-keyed join + three one-row
    * aggregates — never touches the corpus. Returns one row:
    * (n_a, n_b, overlap, n_hat, se, ci_lo, ci_hi). */
  def captureRecapture(pairsA: DataFrame, pairsB: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val a = pairsA.select(col(aCol).as("pa"), col(bCol).as("pb")).distinct()
    val b = pairsB.select(col(aCol).as("pa"), col(bCol).as("pb")).distinct()
    val na = a.agg(count(lit(1)).as("n1"))
    val nb = b.agg(count(lit(1)).as("n2"))
    val m = a.join(b, Seq("pa", "pb")).agg(count(lit(1)).as("m"))
    val n1D = col("n1").cast("double"); val n2D = col("n2").cast("double")
    val mD = col("m").cast("double")
    val nHat = (n1D + lit(1.0)) * (n2D + lit(1.0)) / (mD + lit(1.0)) -
      lit(1.0)
    val varHat = (n1D + lit(1.0)) * (n2D + lit(1.0)) * (n1D - mD) *
      (n2D - mD) / ((mD + lit(1.0)) * (mD + lit(1.0)) * (mD + lit(2.0)))
    val se = sqrt(varHat)
    na.crossJoin(nb).crossJoin(m)
      .select(col("n1").as("n_a"), col("n2").as("n_b"),
        col("m").as("overlap"),
        round(nHat, 6).as("n_hat"), round(se, 6).as("se"),
        round(nHat - lit(1.959964) * se, 6).as("ci_lo"),
        round(nHat + lit(1.959964) * se, 6).as("ci_hi"))
  }
}
