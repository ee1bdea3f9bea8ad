package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, batched per-partition feature extraction.
  *
  * The decode step is STUBBED (no image/audio codecs in this
  * environment) with a deterministic fake — `fakeDecodeFeatures` derives
  * a fixed-width float vector from the bytes — but the Spark-side shape
  * is real: binary column + metadata struct, `mapPartitions` batching
  * (one iterator per partition ≈ one model/codec instance per executor
  * core at scale), and a typed output schema that downstream ANN/dedup
  * operators consume directly.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, media: Array[Byte],
      format: String, n_bytes: Long)
  case class MediaFeatures(doc_id: Long, n_bytes: Long, width: Int,
      height: Int, features: Array[Float])

  /** Wrap a text corpus as a media table: payload = utf-8 bytes, metadata
    * derived. Stand-in for reading real image/audio blobs. */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      to_binary(col("text"), lit("utf-8")).as("media"),
      lit("utf8-text").as("format"),
      octet_length(col("text")).cast("long").as("n_bytes"))

  /** Batched per-partition "decode" — the distributed shape of a codec or
    * model-inference pass. Replace `fakeDecodeFeatures` with a real codec
    * when available; everything else stays identical. */
  def decodeFeatures(media: Dataset[MediaRow], dim: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init point (codec/model handle) goes here
      it.map { r =>
        val f = fakeDecodeFeatures(r.media, dim)
        MediaFeatures(r.doc_id, r.n_bytes,
          width = r.media.length % 640, height = r.media.length % 480, f)
      }
    }
  }

  /** Deterministic stand-in for a real decoder: feature `j` is an
    * md5-derived bucket of the payload — the library's one shared
    * hashing vocabulary (see `Sampling.hashBucket`), so the fake is
    * replayable by ANY engine with md5 and q34 sits under the full
    * DuckDB oracle instead of a rows-only check. (The previous
    * rolling-hash fake leaned on Java wraparound arithmetic no SQL
    * engine reproduces.) */
  def fakeDecodeFeatures(bytes: Array[Byte], dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { j =>
      md.reset()
      md.update(s"$j|".getBytes("UTF-8"))
      md.update(bytes)
      val hex = md.digest().take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 1000L) / 1000.0f
    }
  }

  /** Batched per-partition inference shape: rows are grouped into
    * fixed-size batches INSIDE each partition iterator (`grouped(n)`),
    * the per-batch callback runs once per batch (≈ one model forward
    * pass per batch on an accelerator), and results flatten back to
    * rows. This is the exact plumbing a GPU embedding/captioning stage
    * needs — bounded batch memory, one model handle per partition, no
    * shuffle — with the model call stubbed. */
  def batchedInfer(media: Dataset[MediaRow], batchSize: Int, dim: Int = 8)(
      infer: Seq[MediaRow] => Seq[Array[Float]] = defaultInfer(dim))
      : Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init point (load model once per task) goes here
      it.grouped(batchSize).flatMap { batch =>
        val feats = infer(batch)
        require(feats.length == batch.length,
          s"infer returned ${feats.length} results for ${batch.length} inputs")
        batch.lazyZip(feats).map { (r, f) =>
          MediaFeatures(r.doc_id, r.n_bytes,
            width = r.media.length % 640, height = r.media.length % 480, f)
        }
      }
    }
  }

  /** Stub "model": deterministic per-row features (the batch boundary
    * must not change results — asserted by spec). */
  private def defaultInfer(dim: Int)(batch: Seq[MediaRow]): Seq[Array[Float]] =
    batch.map(r => fakeDecodeFeatures(r.media, dim))

  /** Length-bucketed micro-batch PLANNING for [[batchedInfer]]: sort
    * items by decreasing payload length within a hash shard, cut into
    * fixed-size batches, and report each batch's padding waste
    * (n·max − Σ) — the sort-by-length batching every accelerator
    * serving stack uses to keep pad tokens off the matmul. The manifest
    * quantifies what arrival-order batching would have wasted.
    *
    * Deterministic (md5 shard + (len desc, id) order) and shard-
    * parallel: the rank window partitions by shard, and the batch
    * aggregation REUSES the shard partitioning (its keys extend the
    * window's) — one exchange total, manifest-sized output. */
  def lengthBatchingManifest(df: DataFrame, id: Column, len: Column,
      shards: Int, batchSize: Int): DataFrame = {
    require(shards > 0 && batchSize > 0,
      s"lengthBatchingManifest: need shards ($shards), batchSize ($batchSize) > 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("len").desc, col("id"))
    df.select(graft.ops.Sampling.hashBucket(id, shards).as("shard"),
        id.as("id"), len.cast("long").as("len"))
      .withColumn("batch_idx",
        ((row_number().over(w) - 1) / batchSize).cast("long"))
      .groupBy(col("shard"), col("batch_idx"))
      .agg(count(lit(1)).as("n_items"), max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .withColumn("padding",
        col("n_items") * col("max_len") - col("sum_len"))
  }

  /** Frame sampling over an opaque media payload: treat the binary as a
    * stream of fixed-size frames, keep every `stride`-th frame, emit a
    * stable content hash per sampled frame. The Spark shape of
    * "ffmpeg -r"-style keyframe extraction: a per-row `sequence` +
    * `explode` (no shuffle, no UDF), with the byte slicing and hashing
    * inside whole-stage codegen. A real codec replaces the
    * substring+md5 with a decode of the same slice; the plan is
    * unchanged. Documents shorter than one frame yield no rows. */
  def frameSample(media: DataFrame, frameBytes: Int = 64,
      stride: Int = 4): DataFrame = {
    val nFrames = floor(col("n_bytes") / lit(frameBytes)).cast("long")
    graft.ops.Fanout.fanout(media)
      .select(col("doc_id"), col("media"),
        explode(when(nFrames > 0,
            sequence(lit(0L), nFrames - 1L, lit(stride.toLong)))
          .otherwise(array().cast("array<long>"))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        md5(expr(s"substring(media, frame_idx * $frameBytes + 1, $frameBytes)"))
          .as("frame_hash"))
  }

  /** Media NEAR-dup detection by keyframe-fingerprint overlap — the
    * multimodal analog of text MinHash (q21): two media payloads are
    * near-duplicates when their sampled-frame hash SETS overlap (the
    * video-dedup shape: re-encodes, container changes, and trailing
    * edits keep most keyframes bit-identical while the file hash
    * changes completely). Candidates come from an equi-join on the
    * frame hash — a doc pair is enumerated ONLY if it shares at least
    * one frame (never all-pairs; shared-frame counts aggregate from
    * the join), then exact Jaccard over the distinct-hash sets keeps
    * pairs ≥ `minJaccard`.
    *
    * Scale shape: the frame table is [[frameSample]]'s narrow
    * (doc, hash) stream; the candidate join keys on the 32-char hash
    * and the shuffles carry hashes, never media bytes; set sizes come
    * from one map-side-combined count. The decode boundary stays
    * where [[frameSample]] put it — swap the substring framer for a
    * real keyframe extractor and nothing downstream changes. Returns
    * (doc_a, doc_b, n_shared, n_a, n_b, jaccard). */
  def mediaNearDup(media: DataFrame, minJaccard: Double,
      frameBytes: Int = 64, stride: Int = 4): DataFrame = {
    val fr = frameSample(media, frameBytes, stride)
      .select(col("doc_id"), col("frame_hash")).distinct()
    val sz = fr.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared = fr.as("a").join(fr.as("b"),
        col("a.frame_hash") === col("b.frame_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"),
        col("n_b"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  case class Thumb(doc_id: Long, width: Int, height: Int, thumb: Array[Byte])

  /** Resize/transcode shape: per-partition batched transform of the
    * media payload to a fixed-size thumbnail. The codec is STUBBED
    * (crop-or-cycle the source bytes into a w×h buffer — deterministic,
    * content-dependent) but the plumbing is the real thing: binary in,
    * binary out, fixed output geometry, one codec instance per
    * partition, no shuffle. */
  def resizeStub(media: Dataset[MediaRow], w: Int, h: Int): Dataset[Thumb] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec init goes here
      it.map { r =>
        val out = new Array[Byte](w * h)
        if (r.media.nonEmpty) {
          var i = 0
          while (i < out.length) { out(i) = r.media(i % r.media.length); i += 1 }
        }
        Thumb(r.doc_id, w, h, out)
      }
    }
  }

  /** Catalyst-only metadata projection (no decode): chunking plan for a
    * fixed batch size — demonstrates pushdown-friendly metadata access. */
  def mediaMeta(docs: DataFrame, chunkBytes: Int = 256): DataFrame =
    docs.select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("byte_len"),
      ceil(octet_length(col("text")) / lit(chunkBytes.toDouble)).cast("long")
        .as("n_chunks"))

  /** The md5-derived "decoded pixel" at grid cell `idx` of a payload:
    * the cell reads a CONTIGUOUS payload slice (length `sliceLen`,
    * offset idx·sliceLen) and buckets its md5 — LOCALITY-preserving
    * like a real downsampled grayscale read (two payloads sharing a
    * region share those cells; md5-of-the-whole would avalanche every
    * cell on a one-byte edit). A real decoder replaces this one
    * expression with a resampled pixel read of the same cell; every
    * consumer below is unchanged. Engine-replayable: md5 + substring
    * only. */
  private def gridCell(idx: Column, payload: Column,
      sliceLen: Column): Column =
    pmod(graft.expr.Similarity.md5PrefixLong(payload.substr(idx * sliceLen + 1, sliceLen), 8), lit(256L))

  /** dHash perceptual fingerprint BITS (Krawetz's difference hash — the
    * standard gradient perceptual hash): decode to an 8-row × 9-column
    * grid of locality-preserving cells ([[gridCell]] — contiguous
    * payload slices), bit b (row r = b div 8, col c = b mod 8) =
    * cell(r,c) > cell(r,c+1). Gradient direction survives brightness/contrast
    * shifts that break byte-exact hashing — the media twin of q23's
    * text SimHash. One codegen pass: 64 exploded rows per doc, both
    * cells evaluated inline (the decode boundary is [[gridCell]]).
    * Returns (doc_id, b ∈ 0..63, bit). */
  def dhashBits(media: DataFrame, id: Column, payload: Column): DataFrame =
    graft.ops.Fanout.fanout(media)
      .select(id.as("doc_id"), payload.as("__p"),
        // 72 cells tile the payload: slice length = max(1, len/72)
        greatest(lit(1), floor(length(payload) / lit(72)).cast("int"))
          .as("__l"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .select(col("doc_id"), col("b"),
        (gridCell(floor(col("b") / lit(8)).cast("int") * 9 +
            pmod(col("b"), lit(8)), col("__p"), col("__l")) >
          gridCell(floor(col("b") / lit(8)).cast("int") * 9 +
            pmod(col("b"), lit(8)) + 1, col("__p"), col("__l"))).as("bit"))

  /** Perceptual-hash near-duplicates by LSH BANDING over the 64 dHash
    * bits: the hash splits into four 16-bit bands; a pair is a
    * CANDIDATE iff some band matches exactly (pigeonhole: every pair
    * with Hamming distance ≤ 3 shares a band — guaranteed; larger
    * distances are caught with the usual LSH recall falloff), then the
    * EXACT 64-bit Hamming distance is verified over the candidates and
    * pairs ≤ `maxHamming` survive. The estimand is "banded candidates
    * at ≤ maxHamming" — the q21/q150 candidates-only-through-the-index
    * discipline, stated, never all-pairs.
    *
    * Scale shape: band values aggregate map-side (4 rows/doc); the
    * candidate join is a (band, value) equi-join; the Hamming verify
    * joins 64 bit-rows per side ONLY for candidate pairs. Returns
    * ordered (doc_a, doc_b, hamming ≤ maxHamming). */
  def dhashNearDup(media: DataFrame, id: Column, payload: Column,
      maxHamming: Int = 6,
      materialize: DataFrame => DataFrame = _.localCheckpoint(true))
      : DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 64,
      s"dhashNearDup: maxHamming=$maxHamming")
    val bits = materialize(dhashBits(media, id, payload))
    val bands = bits.groupBy(col("doc_id"),
      floor(col("b") / lit(16)).cast("int").as("band"))
      .agg(sum(when(col("bit"),
        pow(lit(2.0), pmod(col("b"), lit(16)).cast("double")).cast("long"))
        .otherwise(0L)).as("v"))
    val cand = bands.select(col("band"), col("v"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band"), col("v"), col("doc_id").as("doc_b")),
        Seq("band", "v"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(bits.select(col("doc_id").as("doc_a"), col("b"),
        col("bit").as("bit_a")), "doc_a")
      .join(bits.select(col("doc_id").as("doc_b"), col("b"),
        col("bit").as("bit_b")), Seq("doc_b", "b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(when(col("bit_a") =!= col("bit_b"), 1L).otherwise(0L))
        .as("hamming"))
      .filter(col("hamming") <= maxHamming.toLong)
  }

  /** Media metadata quality gates — the Gopher rules of images: decode
    * NOTHING, read the typed metadata (here the stub geometry
    * width = n_bytes mod 640, height = n_bytes mod 480 — [[decodeFeatures]]'s
    * convention; a real EXIF/container parser fills the same columns)
    * and gate on (a) minimum dimensions, (b) aspect ratio in
    * [1/maxAspect, maxAspect] — banners and scanlines out, (c) bytes
    * per pixel in [bppLo, bppHi] — both the truncated-payload and the
    * padded-junk tails. Pure per-row projection: predicate-pushdown
    * friendly, zero shuffle. Returns per doc the geometry, the three
    * flags, and the conjunctive `admit`. */
  def mediaQualityGates(media: DataFrame, minDim: Int = 16,
      maxAspect: Double = 4.0, bppLo: Double = 0.05,
      bppHi: Double = 10.0): DataFrame = {
    require(minDim > 0 && maxAspect >= 1.0 && bppLo > 0.0 && bppHi > bppLo,
      s"mediaQualityGates: minDim=$minDim maxAspect=$maxAspect " +
        s"bpp=[$bppLo,$bppHi]")
    val w = pmod(col("n_bytes"), lit(640L))
    val h = pmod(col("n_bytes"), lit(480L))
    val aspect = when(col("height") > 0L,
      round(col("width").cast("double") / col("height").cast("double"), 4))
    val bpp = when(col("width") > 0L && col("height") > 0L,
      round(col("n_bytes").cast("double") /
        (col("width") * col("height")).cast("double"), 4))
    media.select(col("doc_id"), col("n_bytes"), w.as("width"), h.as("height"))
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
        aspect.as("aspect"), bpp.as("bytes_per_pixel"))
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
        col("aspect"), col("bytes_per_pixel"),
        (col("width") >= minDim.toLong && col("height") >= minDim.toLong)
          .as("f_dims"),
        coalesce(col("aspect") >= lit(1.0 / maxAspect) &&
          col("aspect") <= lit(maxAspect), lit(false)).as("f_aspect"),
        coalesce(col("bytes_per_pixel") >= bppLo &&
          col("bytes_per_pixel") <= bppHi, lit(false)).as("f_density"))
      .withColumn("admit",
        col("f_dims") && col("f_aspect") && col("f_density"))
  }

  /** The [[fakeDecodeFeatures]] vector as ONE in-plan array expression
    * (no Dataset hop): feature j = md5(j + "|" + payload) bucket / 1000
    * — the same md5 vocabulary as the mapPartitions stub, but
    * consumable by the embedding operators (SemDeDup, ANN) directly
    * inside codegen. Elements are DOUBLE (k/1000 at full precision —
    * the exact value any engine computes), not the stub's display
    * floats. */
  def mediaFeatureArray(payload: Column, dim: Int = 8): Column =
    transform(sequence(lit(0), lit(dim - 1)), j =>
      pmod(graft.expr.Similarity.md5PrefixLong(concat(j.cast("string"), lit("|"), payload), 8), lit(1000L)).cast("double") /
        lit(1000.0))

  /** SemDeDup over the MEDIA modality (Abbas et al., the q32 regime on
    * decoded-media features instead of text embeddings): feature
    * vectors from [[mediaFeatureArray]], blocking bucket = the 4-bit
    * sign pattern of the first four features around 0.5 (16 cells —
    * the quantized-embedding bucketing of q120), candidate pairs
    * bucket-local via [[graft.ops.Ann.cosineNearDupPairs]], smaller-id
    * survivor policy via [[graft.ops.Ann.semDedup]]. Returns the
    * surviving (doc_id, bucket) rows — the kept corpus.
    *
    * Scale shape: inherited from semDedup — the corpus never
    * self-joins outside its bucket; everything before the pair join is
    * one codegen projection. */
  def mediaSemDedup(media: DataFrame, id: Column, payload: Column,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"mediaSemDedup: threshold=$threshold")
    val feats = media.select(id.as("doc_id"),
      mediaFeatureArray(payload).as("feat"))
    val bucketed = feats.withColumn("bucket",
      (0 until 4).map(j => when(element_at(col("feat"), j + 1) >= 0.5f,
        lit(1L << j)).otherwise(lit(0L))).reduce(_ + _))
    graft.ops.Ann.semDedup(bucketed, "bucket", threshold,
        idCol = "doc_id", vecCol = "feat")
      .select(col("doc_id"), col("bucket"))
  }

  /** Cross-modal (text → media) retrieval eval — recall@k of a
    * joint-embedding TEXT query against the MEDIA feature corpus, the
    * retrieval-quality rung the multimodal shelf lacked next to its
    * dedup (dhash / SemDeDup) and gates (VERDICT r11 #6). The paired
    * setup every image↔caption eval uses: each sampled document's text
    * query has exactly ONE relevant item — its own media — so
    * recall@k = hit@k of the own id in the top k.
    *
    * The joint encoder is the md5 STUB, shaped like the real thing:
    * the text query embeds as the doc's own [[mediaFeatureArray]]
    * vector plus a deterministic md5 perturbation
    * (q_j = feat_j + (md5("q"+j+"|"+id) grid − 0.5)·0.25 — the ±0.125
    * displacement a real encoder's text↔image gap plays; 0.25 is a
    * power of two so the scaling is IEEE-exact in any engine). A real
    * joint encoder replaces ONE expression (the query construction);
    * ranking, probing, and scoring are unchanged. Queries are the
    * md5-stable 1/`queryMod` document sample (the eval set is
    * caller-bounded — stated; it BROADCASTS).
    *
    * Two retrieval paths score side by side, the q142 flat-vs-ANN
    * regime:
    *  - `flat`: brute-force cosine over the full corpus — the exact
    *    baseline. The all-pairs product is an INTENTIONAL |Q|·|corpus|
    *    scan (the estimand, exactly [[graft.ops.Ann.bruteForceTopK]]'s
    *    shape): the bounded query side broadcasts and the corpus
    *    streams through in place — the broadcast nested-loop plan IS
    *    the brute-force scan, not a planning accident.
    *  - `bucket`: candidates only from the query vector's 4-bit
    *    sign-bucket cell (the q325 blocking) — the scale path; its
    *    recall deficit vs `flat` prices the perturbation crossing a
    *    sign boundary, exactly the type-II readout IVF probing buys.
    *
    * Exactness: features and perturbations are md5-grid arithmetic,
    * cosine rounds to 6 dp before the (cos desc, id) rank, recall is
    * an exact integer ratio rounded at 6 dp — fully DuckDB-replayable.
    * Scale shape: one codegen projection per side, two broadcast hash
    * joins, per-query top-k as a rank-k window (WindowGroupLimit's
    * k-row heap per task), |ks|-row rollups.
    * Returns (method, k, n_queries, hits, recall_at_k). */
  def crossModalRecall(media: DataFrame, id: Column, payload: Column,
      ks: Seq[Int] = Seq(1, 5, 10), queryMod: Int = 16): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"crossModalRecall: ks=$ks")
    require(queryMod >= 1, s"crossModalRecall: queryMod=$queryMod")
    val corpus = crossModalCorpus(media, id, payload)
    val feats = media.select(id.cast("long").as("doc_id"),
      mediaFeatureArray(payload).as("feat"))
    val queries = crossModalQueries(feats
      .filter(pmod(graft.expr.Similarity.md5PrefixLong(col("doc_id").cast("string"), 8), lit(queryMod.toLong)) === 0L))
    crossModalFromCells(crossModalHitCells(corpus, queries, ks))
      .orderBy(col("method"), col("k"))
  }

  /** The 4-bit sign-pattern blocking cell of the q325/q335 media
    * feature space — first four features around 0.5. */
  private def signBucketOf(vec: Column): Column =
    (0 until 4).map(j => when(element_at(vec, j + 1) >= 0.5,
      lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)

  /** The STATIC side of [[crossModalRecall]]: media rows embedded and
    * sign-bucketed into the searchable (n_id, feat, bucket) corpus —
    * built ONCE as the serving index artifact the streaming monitor
    * probes every epoch ([[graft.stream.StreamCuration
    * .startCrossModalRecallSink]]'s train-once convention). */
  def crossModalCorpus(media: DataFrame, id: Column, payload: Column)
      : DataFrame = {
    val feats = media.select(id.cast("long").as("doc_id"),
      mediaFeatureArray(payload).as("feat"))
    feats.select(col("doc_id").as("n_id"), col("feat"),
      signBucketOf(col("feat")).as("bucket"))
  }

  /** The QUERY side of [[crossModalRecall]]: each (doc_id, feat) row
    * becomes its own text query — the doc's feature vector plus the
    * deterministic md5 perturbation (the joint-encoder stub; see
    * [[crossModalRecall]]). Returns (q_id, q_vec). */
  def crossModalQueries(feats: DataFrame): DataFrame = {
    val noise = transform(sequence(lit(0), lit(7)), j =>
      (pmod(graft.expr.Similarity.md5PrefixLong(concat(lit("q"), j.cast("string"),
        lit("|"), col("doc_id").cast("string")), 8), lit(1000L)).cast("double") / lit(1000.0) -
        lit(0.5)) * lit(0.25))
    feats.select(col("doc_id").as("q_id"),
      zip_with(col("feat"), noise, (a, b) => a + b).as("q_vec"))
  }

  /** The ADDITIVE sufficient statistic of [[crossModalRecall]]: per
    * (method, k), this query set's size and its top-k self-retrieval
    * hit count against the given corpus. Against a FIXED corpus each
    * query's hit rank is independent of every other query, so cells
    * from disjoint query batches merge by ADDITION — the *FromCells
    * contract that lets the streaming monitor maintain the grid
    * incrementally ([[graft.stream.StreamCuration
    * .startCrossModalRecallSink]]). Both retrieval paths (flat
    * baseline, sign-bucket probe) emit all |ks| rows even at zero
    * hits (the state grid is fixed-shape). Returns (method, k,
    * n_queries, hits). */
  def crossModalHitCells(corpus: DataFrame, queries: DataFrame,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"crossModalHitCells: $ks")
    // duplicate k values would emit duplicate (method, k) grid rows,
    // and the streaming sink's full-outer merge on those keys would
    // then cross-multiply state rows every epoch (ADVICE r13)
    require(ks.distinct.size == ks.size,
      s"crossModalHitCells: duplicate k in $ks")
    import graft.expr.Similarity
    import org.apache.spark.sql.expressions.Window
    val kMax = ks.max
    val spark0 = corpus.sparkSession
    val qb = broadcast(queries.select(col("q_id"), col("q_vec"),
      signBucketOf(col("q_vec")).as("q_bucket")))
    val kdf = spark0.createDataFrame(
      ks.map(k => Tuple1(k.toLong))).toDF("k")
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    def evalOf(scored: DataFrame, method: String): DataFrame = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("n_id"))
      val hitRank = scored
        .select(col("q_id"), col("n_id"),
          round(Similarity.cosine(col("feat"), col("q_vec")), 6).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= kMax && col("n_id") === col("q_id"))
        .groupBy(col("q_id")).agg(min(col("rank")).as("hit_rank"))
      val hitsPerK = hitRank.crossJoin(broadcast(kdf))
        .filter(col("hit_rank") <= col("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("h"))
      kdf.join(broadcast(hitsPerK), Seq("k"), "left")
        .crossJoin(broadcast(nq))
        .select(lit(method).as("method"), col("k"), col("n_queries"),
          coalesce(col("h"), lit(0L)).as("hits"))
    }
    val flat = evalOf(corpus.crossJoin(qb), "flat")
    val probed = evalOf(
      corpus.join(qb, col("bucket") === col("q_bucket")), "bucket")
    flat.unionByName(probed)
  }

  /** [[crossModalRecall]]'s readout off the (method, k, n_queries,
    * hits) cell grid — one division per row, so the streaming
    * monitor's merged state replays the batch computation verbatim. */
  def crossModalFromCells(cells: DataFrame): DataFrame =
    cells.select(col("method"), col("k"), col("n_queries"), col("hits"),
      round(col("hits").cast("double") /
        col("n_queries").cast("double"), 6).as("recall_at_k"))
}
