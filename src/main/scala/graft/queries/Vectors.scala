package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Banded, Multimodal, Similarity}

/** Embedding similarity-search + multimodal operator inventory
  * (SURVEY.md §2.11), oracle-gated via the scaled-integer determinism of
  * [[graft.operators.Similarity]].
  */
object Vectors {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")

  /** The gated queries whose SEMANTICS follow the corpus scale (the
    * adaptive-banding twins): their oracles bake the clamp-region
    * constants, so they are oracle-valid only where
    * `adaptiveBandBits(n) == 4`. Verify's pre-flight error-marks them
    * with a clear message at any other scale (the r13-ADVICE "fail
    * loud, not a bare hash mismatch" posture) — Bench and production
    * callers run them at ANY scale, which is their whole point. Every
    * OTHER banded query in this module pins the oracle-baked
    * `nBits=16, bandBits=4` (and `k=8` clusters) EXPLICITLY, so its
    * oracle replays bit-identically at every adjudicated scale while
    * the production default of the underlying operator stays
    * scale-adaptive.
    *
    * Since r15 the twins are ALSO hash-adjudicated OUTSIDE the clamp:
    * tools/gen_adaptive_overrides.py bakes the scale's adaptive
    * banding into exact override oracles (24/6 at sf1 full-row, 36/9
    * at sf10 on a deterministic qid sample) and Verify runs the twins
    * there under `SPARK_GRAFT_ADAPTIVE_GATES=run` — receipts in
    * tools/receipts/r15/. The pre-flight default stays fail-loud for
    * any run WITHOUT scale-matched override oracles downstream. */
  val adaptiveGateNames: Seq[String] =
    Seq("q302_ann_adaptive", "q303_hard_negatives_adaptive")

  /** True iff `n` embeddings resolve to the oracle-baked clamp-region
    * constants (16/4 banding, 8 clusters) — Verify's pre-flight. */
  def oracleClampHolds(n: Long): Boolean =
    Similarity.adaptiveBandBits(n) == 4 && Similarity.adaptiveClusterK(n) == 8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q42_embed_stats" -> ((s, d) =>
      Similarity.prepare(emb(s, d), "embedding")
        .select(col("vec_id"), col("label"),
          size(col("embedding")).as("dim"), col("n2"))),

    "q43_knn_brute" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10)
    }),

    "q44_embed_dup_pairs" -> ((s, d) =>
      Similarity.cosineDupPairs(emb(s, d), "vec_id", "embedding",
        "label", threshold = 0.35)),

    "q45_ivf_ann" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopK(e,
        e.select("vec_id").filter(col("vec_id").between(100, 109)),
        e.select("vec_id").filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
    }),

    "q46_multimodal_features" -> ((s, d) =>
      Multimodal.featureColumns(
        Tables.read(s, d, "documents"), "doc_id", "text")),

    // REAL image decode: synthesize one grayscale PNG per doc (dims +
    // pixels are pure functions of doc_id), then decode with
    // javax.imageio and checksum the recovered pixels — the oracle
    // replays the same arithmetic, so a hash match proves a true
    // lossless decode round-trip, not a stub.
    "q61_image_decode" -> ((s, d) =>
      Multimodal.decodeImages(
        Multimodal.synthesizePngs(Tables.read(s, d, "documents"), "doc_id"))
        .toDF),

    // REAL audio decode: synthesize one 8-bit PCM WAV per doc (length +
    // samples pure functions of doc_id), decode with javax.sound.sampled
    // and checksum the recovered samples — the audio twin of q61's
    // lossless-decode proof. A hash match proves real container parsing
    // + PCM recovery, not a stub.
    // ---- q129: nearest-centroid classification ----
    // Train on 80% (vec_id % 5 != 0): per-label exact integer-mean
    // centroids; classify the held-out 20% by max cosine (tie → smaller
    // label); output the confusion matrix. 100 TB shape: centroids are
    // one tiny broadcast table, the corpus streams through a windowless
    // argmax — the only shuffle is the per-id aggregate, and the final
    // confusion matrix is label²-bounded.
    "q129_centroid_classify" -> ((s, d) => {
      val e = Similarity.prepare(emb(s, d), "embedding")
      val cent = Similarity.labelCentroids(
        e.filter(col("vec_id") % 5 =!= 0), "label")
      Similarity.classifyByCentroid(
          e.filter(col("vec_id") % 5 === 0)
            .select(col("vec_id"), col("label"), col("q"), col("n2")),
          cent, "vec_id", keep = Seq("label"))
        .groupBy("label", "pred")
        .agg(count(lit(1)).as("n"))
    }),

    "q92_audio_decode" -> ((s, d) =>
      Multimodal.decodeAudio(
        Multimodal.synthesizeWavs(Tables.read(s, d, "documents"), "doc_id"))
        .toDF),

    // ---- q162: windowed audio energy from decoded samples ----
    // Real DSP over real decode: 64-sample windows of each WAV's PCM
    // stream, energy = sum of squared samples in exact BIGINTs — the
    // silence/clipping detector. The oracle replays the synthesized
    // sample function per window, so hash-green proves the energies
    // came from truly decoded samples, windowed in-row.
    "q162_audio_energy" -> ((s, d) =>
      Multimodal.audioFrameEnergy(
        Multimodal.synthesizeWavs(Tables.read(s, d, "documents"), "doc_id"))
        .toDF),

    // ---- q251: audio clipping / level audit from decoded PCM ----
    // Rail-pinned sample counts (0/255 — clipped or corrupted audio)
    // and peak deviation from the 8-bit midpoint, per doc, over the
    // REAL decoded stream — the curation gate run before any audio
    // feature extraction. Oracle replays the synthesized sample
    // function, so hash-green proves true decode + exact counting.
    "q251_audio_clipping" -> ((s, d) =>
      Multimodal.audioClipStats(
        Multimodal.synthesizeWavs(Tables.read(s, d, "documents"), "doc_id"))
        .toDF
        .withColumn("clip_ppm", expr("n_rail * 1000000 DIV n_samples"))),

    // ---- q163: pixel-value histogram from decoded images ----
    // Brightness distribution (16 equal-width bins) of each synthesized
    // PNG's REAL decoded pixels, accumulated in-row — the
    // exposure/contrast feature. Oracle replays the pixel function
    // bucketed the same way.
    "q163_pixel_histogram" -> ((s, d) =>
      Multimodal.pixelHistogram(
        Multimodal.synthesizePngs(Tables.read(s, d, "documents"), "doc_id"))
        .toDF),

    // ---- q184: REAL multi-frame container decode (animated GIF) ----
    // The video-shaped decode the frame-sample stub stood in for:
    // synthesize one animated GIF per doc (2 + id%4 frames, pixels a
    // pure function of (id, frame, x, y)), parse the container with
    // ImageIO, decode EVERY frame, checksum recovered pixels. The
    // oracle replays the per-frame pixel function, so hash-green
    // proves true container parsing + per-frame lossless decode —
    // not byte slicing.
    "q184_gif_frames" -> ((s, d) =>
      Multimodal.gifFrames(
        Multimodal.synthesizeGifs(Tables.read(s, d, "documents"), "doc_id"))
        .toDF),

    // ---- q216: near-dup video pairs via decoded-frame overlap ----
    // Video dedup from REAL container decodes: q184's per-frame
    // fingerprints, videos paired when >= 2 distinct frame hashes
    // coincide, overlap normalized by the shorter video (containment
    // semantics — a clip inside a longer cut scores full overlap).
    // Candidates only from the fingerprint equi-join; the oracle
    // replays synth -> decode -> fingerprint -> overlap end to end.
    "q216_video_dup" -> ((s, d) =>
      Multimodal.frameOverlapPairs(
        Multimodal.gifFrames(
          Multimodal.synthesizeGifs(Tables.read(s, d, "documents"),
            "doc_id")).toDF,
        minShared = 2)),

    // ---- q165: perceptual-hash (aHash) image dup clusters ----
    // The image-modality dedup move: 8x8 average-hash over REAL decoded
    // pixels (same floor-index resample as q84, mean threshold in exact
    // integers), then exact-match clusters of >= 2 images. The oracle
    // replays synthesize->resample->threshold->pack per doc, so
    // hash-green proves the fingerprints came from truly decoded
    // pixels. 100 TB shape: one narrow decode pass, one 16-byte
    // fingerprint per image, one hash agg — the near-dup extension is
    // q40's Hamming-chunk banding over the same 64 bits.
    "q165_image_ahash" -> ((s, d) =>
      Multimodal.aHash(
          Multimodal.synthesizePngs(Tables.read(s, d, "documents"), "doc_id"))
        .groupBy("ahash_hi", "ahash_lo")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep_doc"))
        .filter(col("n_docs") >= 2)),

    // ---- q185: Hamming-ball aHash near-dup pairs ----
    // q165's exact clusters miss re-encodes whose hash flips a few
    // bits; this finds every pair within Hamming 3 of the 64-bit aHash
    // via 16-bit chunk-pigeonhole banding (Multimodal.aHashPairs —
    // never all-pairs; candidates from a 4x65536-bucket equi-join,
    // popcount verify on candidates only). The oracle IS the
    // brute-force all-pairs join over the replayed hashes, so
    // hash-green proves the banding's exact-recall claim, not just
    // plausibility.
    "q185_ahash_near_dup" -> ((s, d) =>
      Multimodal.aHashPairs(
        Multimodal.aHash(
          Multimodal.synthesizePngs(Tables.read(s, d, "documents"), "doc_id"))
          .toDF)),

    // ---- q188: INCREMENTAL image dedup vs persisted aHash index ----
    // The image twin of q85's daily-ingest shape: corpus images
    // (doc_id % 5 != 0) are hashed and chunk-indexed ONCE, bucketed on
    // the (ci, cv) probe key; the new batch (doc_id % 5 == 0) decodes
    // and probes with zero corpus-side exchange — corpus pixels are
    // never re-decoded, corpus chunks never re-shuffled. Emits every
    // Hamming<=3 pair touching the batch; the oracle brute-forces all
    // batch-touching pairs over the replayed hashes, proving both the
    // pigeonhole recall AND that the persisted index is complete.
    "q188_incr_image_dedup" -> ((s, d) => {
      val docs = Tables.read(s, d, "documents")
      def hashesOf(part: DataFrame) =
        Multimodal.aHash(Multimodal.synthesizePngs(part, "doc_id")).toDF
      Multimodal.writeAHashIndex(
        hashesOf(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)),
        "graft_ahash_index")
      Multimodal.incrementalAHashPairs(
        hashesOf(docs.filter(pmod(col("doc_id"), lit(5)) === 0)),
        "graft_ahash_index")
    }),

    // ---- q291: STREAMING image near-dup admission ----
    // q188's admission maintained from a document stream, completing
    // the multimodal lattice (q185 one-shot : q188 batch-incremental :
    // q291 streaming — the q193 : q85 relationship on images). Shares
    // q188's brute-force oracle verbatim: pair discovery is symmetric
    // and idempotent and batches are disjoint, so the accumulated pair
    // set is invariant to the micro-batch chopping. See
    // EventStreams.streamingImageDedupStream for the probe/append
    // cycle and replay posture.
    "q291_stream_image_dedup" -> ((s, d) =>
      graft.streaming.EventStreams.streamingImageDedupStream(s, d)),

    // REAL image resize: synthesize PNGs (as q61), decode, and resample
    // 16x16 by nearest-neighbor with floor index arithmetic; checksum
    // the OUTPUT pixels. The oracle replays srcX = X*w_in DIV 16 /
    // srcY = Y*h_in DIV 16 over the synthesized pixel function, so a
    // hash match proves real decoded pixels went through the rescale.
    "q84_image_resize" -> ((s, d) => {
      import s.implicits._
      Multimodal.resizeImages(
        Multimodal.synthesizePngs(Tables.read(s, d, "documents"), "doc_id"),
        16, 16)
        .map(r => (r.doc_id, r.width, r.height,
          r.pixels.foldLeft(0L)((a, b) => a + (b & 0xFF))))
        .toDF("doc_id", "width", "height", "px_sum")
    }),

    // IVF with TRAINED centroids (fixed-seed k-means, 2 iterations) and
    // nprobe=2 — no caller-given structure, unlike q45.
    "q62_ivf_trained" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopKTrained(e,
        e.select("vec_id").filter(col("vec_id").between(100, 109)),
        "vec_id", "embedding", k = 5, nCentroids = 8, iters = 2, nprobe = 2)
    }),

    // Build-once/query-many ANN: persist the trained IVF index
    // (centroids + cell assignments bucketed by cell), then answer the
    // SAME query as q62 from the persisted layout — no k-means on the
    // query path (ScaleSpec asserts zero jobs at plan-build time).
    // Deterministic k-means means the result must be bit-identical to
    // q62's, so this shares q62's oracle.
    "q86_ivf_persisted" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.writeIvfIndex(e, "vec_id", "embedding",
        "graft_ivf", nCentroids = 8, iters = 2, nBuckets = 8)
      Similarity.ivfTopKFromIndex(s, "graft_ivf",
        e.select("vec_id").filter(col("vec_id").between(100, 109)),
        "vec_id", k = 5, nprobe = 2)
    }),

    // Label-free near-dup pairs: random-hyperplane LSH bucketing, no
    // blocking column needed (q44 requires one). Banding pinned to the
    // oracle-baked 16/4 (the production DEFAULT is scale-adaptive —
    // q302/q303 gate the adaptivity, OperatorSpec pins the clamp
    // identity per operator).
    "q63_lsh_dup_pairs" -> ((s, d) =>
      Similarity.lshDupPairs(emb(s, d), "vec_id", "embedding",
        threshold = 0.35, nBits = 16, bandBits = 4)),

    // ---- q135: approximate k-NN JOIN (every vector, top-3) ----
    // The corpus-wide "nearest neighbors for EVERY row" primitive:
    // candidates only from LSH band collisions (never all-pairs), one
    // exact-cosine verify, one per-qid window on the candidate set.
    // Unlike q43/q62 (query SET searches) this ranks neighbors for all
    // rows at once — the semantic-dedup / retrieval-curation join.
    "q135_ann_knn_join" -> ((s, d) =>
      Similarity.lshKnnJoin(emb(s, d), "vec_id", "embedding", k = 3,
        nBits = 16, bandBits = 4)),

    // ---- q302: scale-adaptive k-NN join ----
    // q135 with the banding chosen from the corpus count
    // (Similarity.adaptiveBandBits = clamp(ceil(log2(n/cap)), 4, 12)):
    // at both oracle-gate scales the clamp resolves to the fixed
    // default (gate = q135's oracle shape, exact), while one decade
    // past the cap regime the finer banding is what preserves recall
    // (SURVEY §6 r13 recall table: 4-bit 0.65→~0 vs 8-bit 1.0→0.665,
    // the 8-bit run also FASTER). The formula itself is spec-pinned.
    "q302_ann_adaptive" -> ((s, d) =>
      Similarity.lshKnnJoin(emb(s, d), "vec_id", "embedding", k = 3)),

    // ---- q304: Hamming-1 MULTIPROBE k-NN join ----
    // q135's shape with the radius-1 probe fan-out (Lv et al. 2007):
    // each query probes its own bucket + the bandBits one-bit-flip
    // neighbors per band, against the IDENTICAL capped collision side.
    // This is the recall lever the r17 banding study singled out for
    // marginal-cosine corpora at scale (where NO banding choice helps
    // — receipts tools/receipts/r17/banding_study.txt): probes are
    // spent per query at probe time, the index never grows or rebuilds.
    "q304_ann_multiprobe" -> ((s, d) =>
      Similarity.lshKnnJoinMultiprobe(emb(s, d), "vec_id", "embedding",
        k = 3, nBits = 16, bandBits = 4)),

    // ---- q305/q306: QUERY-SET search against the corpus index ----
    // The deployment shape of an ANN index: band + cap the corpus
    // once, probe it for a query batch (here the deterministic
    // vec_id % 20 == 0 slice). q305 probes each query's own buckets;
    // q306 adds the Hamming-1 probe fan-out — the multiprobe spend is
    // per QUERY BATCH (|Q| × nBands × (bandBits+1) × cap candidates),
    // never a corpus-volume multiplier like the self-join variant.
    "q305_ann_search" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.lshKnnSearch(e, e.filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 3, nBits = 16, bandBits = 4)
    }),
    "q306_ann_search_multiprobe" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.lshKnnSearchMultiprobe(
        e, e.filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 3, nBits = 16, bandBits = 4)
    }),

    // ---- q256: k-NN graph hubness audit (in-degree distribution) ----
    // How often does each vector appear in OTHER vectors' top-3 — the
    // hubness diagnostic for ANN quality (high-dimensional hubs absorb
    // neighbor slots and poison retrieval; Radovanović et al. 2010).
    // Reuses q135's LSH-bounded k-NN join verbatim, then one in-degree
    // agg + a left join filling never-retrieved vectors at 0 — the
    // histogram is degree-bounded, so the report is tiny at any corpus
    // size.
    "q256_knn_hubness" -> ((s, d) => {
      val knn = Similarity.lshKnnJoin(emb(s, d), "vec_id", "embedding",
        k = 3, nBits = 16, bandBits = 4)
      val indeg = knn.groupBy(col("vec_id").as("node"))
        .agg(count(lit(1)).as("deg"))
      emb(s, d).select(col("vec_id").as("node"))
        .join(indeg, Seq("node"), "left")
        .withColumn("in_deg", coalesce(col("deg"), lit(0L)))
        .groupBy("in_deg").agg(count(lit(1)).as("n_nodes"))
    }),

    // ---- q205: hard-negative mining (contrastive training pairs) ----
    // For every anchor, the top-3 most-similar vectors with a DIFFERENT
    // label — the highest-loss negatives a triplet/InfoNCE fine-tune
    // mines from its own corpus. Same LSH-collision candidate bound as
    // q135 (no all-pairs anywhere); same-label pairs drop before the
    // exact-cosine verify so only true negatives compete for the top-k.
    "q205_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(emb(s, d), "vec_id", "embedding",
        "label", k = 3, nBits = 16, bandBits = 4)),

    // ---- q303: scale-adaptive hard negatives (q302's pattern) ----
    // q205 with the banding resolved from the corpus count — the
    // production default. Oracle = q205's (the [4,12] clamp makes the
    // adaptivity the identity at every gate corpus); outside the clamp
    // region Verify pre-flight error-marks it instead of running a
    // knowingly mismatched oracle, while Bench runs it at ANY scale —
    // it is the sf10 bench vehicle for the adaptive mining path.
    "q303_hard_negatives_adaptive" -> ((s, d) =>
      Similarity.hardNegatives(emb(s, d), "vec_id", "embedding",
        "label", k = 3)),

    // ---- q206: int8 scalar-quantization audit ----
    // The compression step a 100 TB ANN index actually ships: each
    // dimension linearly mapped to an 8-bit code over its global
    // [lo, hi]. Everything runs on the exact scaled-integer grid of
    // Similarity.prepare, so codes AND reconstruction errors are pure
    // BIGINT arithmetic — hash-gated, no float tolerance. Plan shape:
    // the per-dim [lo, hi] agg map-side-combines to dim-count rows per
    // partition, packs into ONE broadcast row of two arrays, and the
    // corpus then streams through a windowless in-row transform (no
    // explode shuffle on the per-vector leg). Output per vector: code
    // checksum, saturated-code count, max reconstruction error (in the
    // 1e-4 quantization grid's units).
    "q206_embed_quantize" -> ((s, d) => {
      val e = Similarity.prepare(emb(s, d), "embedding")
        .select(col("vec_id"), col("label"), col("q"))
      val mm = e.select(posexplode(col("q")).as(Seq("i", "v")))
        .groupBy("i").agg(min("v").as("lo"), max("v").as("hi"))
      val packed = mm
        .agg(sort_array(collect_list(struct(col("i"), col("lo"),
          col("hi")))).as("m"))
        .select(expr("transform(m, x -> x.lo)").as("los"),
          expr("transform(m, x -> x.hi)").as("his"))
      e.crossJoin(broadcast(packed))
        .withColumn("codes", expr(
          """transform(q, (x, i) -> CASE
            |  WHEN element_at(his, i+1) = element_at(los, i+1)
            |    THEN CAST(0 AS BIGINT)
            |  ELSE ((x - element_at(los, i+1)) * 255)
            |    DIV (element_at(his, i+1) - element_at(los, i+1))
            |  END)""".stripMargin))
        .withColumn("recon", expr(
          """transform(codes, (c, i) -> element_at(los, i+1) + CASE
            |  WHEN element_at(his, i+1) = element_at(los, i+1)
            |    THEN CAST(0 AS BIGINT)
            |  ELSE (c * (element_at(his, i+1) - element_at(los, i+1)))
            |    DIV 255
            |  END)""".stripMargin))
        .select(col("vec_id"), col("label"),
          expr("aggregate(codes, CAST(0 AS BIGINT), (a, c) -> a + c)")
            .as("code_sum"),
          expr("CAST(size(filter(codes, c -> c = 0 OR c = 255)) AS BIGINT)")
            .as("n_sat"),
          expr("""aggregate(zip_with(q, recon, (x, r) -> abs(x - r)),
            | CAST(0 AS BIGINT), (a, e) -> greatest(a, e))""".stripMargin)
            .as("max_err"))
    }),

    // ---- q211: product-quantization encode (m=8 × k=8 codebooks) ----
    // The codebook compression a 100 TB ANN index actually ships: 64
    // dims → 8 subspace codes (256 bytes → 8). Squared-L2 Lloyd
    // training and encoding run entirely on the exact scaled-integer
    // grid — codes and reconstruction errors are pure BIGINT, so the
    // oracle replays the full train+encode chain bit-for-bit. The
    // subspace axis is data (in-row explode), so all 8 codebooks train
    // in the same broadcast+agg passes; assignment is a windowless
    // min-struct argmin.
    "q211_pq_encode" -> ((s, d) =>
      Similarity.pqEncode(emb(s, d), "vec_id", "embedding",
        m = 8, k = 8, iters = 2, subLen = 8, keep = Seq("label"))),

    // ---- q212: PQ asymmetric-distance (ADC) top-k search ----
    // The search side of q211's compression: each query builds a tiny
    // (m × k) exact-distance lookup table against the trained
    // codebooks, and the corpus is ranked from CODES alone — m table
    // lookups summed per vector, never a raw-vector scan. The LUT
    // broadcasts; the code table takes one equi-join + per-pair sum +
    // per-qid window over candidates. All BIGINT, oracle-replayed
    // through the identical train/encode/LUT chain.
    "q212_pq_adc_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.pqAdcTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", m = 8, k = 8, iters = 2, subLen = 8,
        topK = 5)
    }),

    // ---- q214: incremental PQ encode vs a persisted codebook ----
    // PQ's production loop: codebooks train ONCE on history and
    // persist; each ingest batch encodes against the saved table with
    // zero training jobs — only the batch is sliced and assigned, the
    // history corpus is never rescanned (the q86 persisted-IVF story
    // for PQ, and the vector sibling of q85's persisted band index).
    // The oracle retrains on the identical history split and encodes
    // the identical batch, so codes and errors gate hash-exactly.
    "q214_incr_pq_encode" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.writePqCodebook(
        e.filter(pmod(col("vec_id"), lit(4)) < 3), "vec_id", "embedding",
        m = 8, k = 8, iters = 2, subLen = 8, "graft_pq_codebook")
      Similarity.pqEncodeAgainst(
        e.filter(pmod(col("vec_id"), lit(4)) === 3), "vec_id", "embedding",
        m = 8, subLen = 8, "graft_pq_codebook", keep = Seq("label"))
    }),

    // ---- q294: STREAMING PQ encode ----
    // q214's frozen-codebook encode maintained from a vector stream,
    // completing the PQ lattice (q211 one-shot : q214 incremental :
    // q294 streaming). Encode is a pure per-row map under the frozen
    // broadcast codebook — zero training jobs per trigger, invariant
    // to the micro-batch chopping — so this shares q214's oracle
    // verbatim. See EventStreams.streamingPqEncodeStream.
    "q294_stream_pq_encode" -> ((s, d) =>
      graft.streaming.EventStreams.streamingPqEncodeStream(s, d)),

    // ---- q222: maximal-marginal-relevance diversified rerank ----
    // The retrieval diversification step: greedy MMR selection of 3
    // results from each query's brute-force top-10 pool at λ=0.7, all
    // ppm fixed point so both engines replay the greedy chain
    // bit-for-bit. Per-query work is constant (poolK² sims, selectK
    // picks) — linear in query count at any corpus size.
    "q222_mmr_rerank" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.mmrRerank(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", poolK = 10, selectK = 3, lam10 = 7)
    }),

    // ---- q220: Johnson–Lindenstrauss ±1 random projection 64 → 16 ----
    // The cheap dimensionality reduction an ANN/clustering pipeline
    // runs before the expensive index: a Rademacher (±1) projection
    // matrix derived from md5("jl:j:i") AT PLAN BUILD (the same signs
    // are baked into the oracle SQL, so both engines multiply identical
    // literals), applied to the scaled-integer grid — projections are
    // exact BIGINTs. jl_n2_ppm audits the JL guarantee per vector:
    // E[sum_j p_j^2] = outDim * ||q||^2 for Rademacher signs, so the
    // ratio concentrates at 1e6. Pure narrow column math — streams at
    // scan speed, no shuffle at any corpus size.
    "q220_jl_project" -> ((s, d) => {
      val signs = jlSigns(16, 64)
      val proj = signs.zipWithIndex.map { case (sv, j) =>
        expr(sv.zipWithIndex.map { case (sgn, i) =>
          s"${if (sgn > 0) "+" else "-"} element_at(q, ${i + 1})"
        }.mkString(" ")).as(s"p$j")
      }
      Similarity.prepare(emb(s, d), "embedding")
        .select(col("vec_id") +: col("n2") +: proj: _*)
        .withColumn("n2p",
          expr((0 until 16).map(j => s"p$j * p$j").mkString(" + ")))
        .select(col("vec_id") +: (0 until 16).map(j => col(s"p$j")) :+
          expr("n2p * 1000000 DIV greatest(16 * n2, 1)")
            .as("jl_n2_ppm"): _*)
    }),

    // ---- q213: PQ recall@5 self-evaluation ----
    // The eval that decides whether q211's compression is usable: per
    // query, how many of the ADC top-5 (ranked from codes alone) are
    // in the EXACT squared-L2 top-5 over the raw vectors — q152's
    // recall methodology applied to the PQ index. Both rankings are
    // deterministic BIGINT, so the recall numbers gate hash-exactly.
    "q213_pq_recall" -> ((s, d) => {
      val e = emb(s, d)
      val qset = e.filter(col("vec_id") < 5)
      val topK = 5
      val adc = Similarity.pqAdcTopK(e, qset, "vec_id", "embedding",
          m = 8, k = 8, iters = 2, subLen = 8, topK = topK)
        .select(col("qid"), col("vec_id"))
      val exact = Similarity.l2TopK(e, qset, "vec_id", "embedding", k = topK)
        .select(col("qid"), col("vec_id"))
      val hits = adc.intersect(exact)
        .groupBy("qid").agg(count(lit(1)).as("hits"))
      adc.select("qid").distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          (coalesce(col("hits"), lit(0L)) * 100 / topK).cast("long")
            .as("recall_pct"))
    }),

    // ---- q171: cluster-quality report (centroid cohesion vs margin) ----
    // The eval a clustering/labeling pipeline runs before trusting its
    // labels: per label, mean cosine of members to their OWN centroid
    // vs to the best FOREIGN centroid, and the margin between them —
    // silhouette's shape with centroid surrogates. Per-vector cosines
    // become ppm BIGINTs (DetMath.fixed) BEFORE averaging, so the group
    // means are order-independent exact integers. Plan: one broadcast
    // of the label-cardinality centroid table, one windowless per-
    // vector reduction, one label agg — the corpus streams through
    // once.
    "q171_cluster_quality" -> ((s, d) => {
      val p = Similarity.prepare(emb(s, d), "embedding")
        .select(col("vec_id"), col("label"), col("q"), col("n2"))
      val cent = Similarity.labelCentroids(p, "label")
      val sc = p.crossJoin(broadcast(cent))
        .withColumn("cos_ppm", graft.functions.DetMath.fixed(
          Similarity.cosine(Similarity.dotQ("q", "cq"),
            col("n2"), col("cn2")), 6))
      sc.groupBy("vec_id", "label")
        .agg(max(when(col("label") === col("cl"), col("cos_ppm")))
            .as("own"),
          max(when(col("label") =!= col("cl"), col("cos_ppm")))
            .as("other"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          expr("CAST(SUM(own) AS BIGINT) DIV COUNT(*)").as("own_ppm"),
          expr("CAST(SUM(other) AS BIGINT) DIV COUNT(*)").as("other_ppm"))
        .withColumn("margin_ppm", col("own_ppm") - col("other_ppm"))
    }),

    // ---- q166: triangle listing on the semantic k-NN graph ----
    // Build the corpus similarity graph (q135's LSH k-NN join, k=3,
    // undirected unique edges) and list its triangles — the local-
    // density/clustering-coefficient signal that separates tight
    // semantic clusters from chains of pairwise near-dups. The ordered
    // 3-way edge self-join (a < b < c by construction of the
    // normalized edge) counts each triangle exactly once; because
    // every node has out-degree <= k, the edge table is O(kN) and each
    // join's fan-out is degree-bounded — two equi-join shuffles total,
    // no enumeration blow-up at 100 TB.
    "q166_knn_triangles" -> ((s, d) => {
      val knn = Similarity.lshKnnJoin(emb(s, d), "vec_id", "embedding",
        k = 3, nBits = 16, bandBits = 4)
      val e = knn.select(least(col("qid"), col("vec_id")).as("a"),
        greatest(col("qid"), col("vec_id")).as("b")).distinct()
      val e2 = e.select(col("a").as("b2"), col("b").as("c2"))
      val e3 = e.select(col("a").as("a3"), col("b").as("c3"))
      e.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c2") === col("c3"))
        .select(col("a"), col("b"), col("c2").as("c"))
    }),

    // ---- q199: label-propagation communities on the knn graph ----
    // The community pass over q166's knn edge set: 3 synchronous
    // rounds of "adopt the most frequent neighbor label, ties -> min"
    // (Graph.labelPropagate) — the cheap clustering every similarity
    // graph gets before sampling one exemplar per community. The
    // deterministic synchronous schedule + fixed rounds make the whole
    // evolution a pure function of the edge set, so the oracle replays
    // all 3 rounds as chained CTEs. Per round: one edges->labels join
    // (node table broadcast-gated), two hash aggs; rounds lineage-cut.
    "q199_label_prop" -> ((s, d) => {
      val knn = Similarity.lshKnnJoin(emb(s, d), "vec_id", "embedding",
        k = 3, nBits = 16, bandBits = 4)
      val e = knn.select(least(col("qid"), col("vec_id")).as("a"),
        greatest(col("qid"), col("vec_id")).as("b")).distinct()
      graft.operators.Graph.labelPropagate(e, "a", "b", iters = 3)
        .select(col("id").as("vec_id"), col("lbl").as("community"))
    }),

    // ---- q157: k-NN label classification (LSH neighbors vote) ----
    // The neighbor-based alternative to q129's centroid classifier,
    // same 80/20 split: each held-out vector takes its top-3 nearest
    // TRAIN vectors from LSH band collisions (exact cosine rank), the
    // majority label wins (ties -> smaller label); output the
    // confusion matrix. Candidates only test x train band collisions —
    // never all-pairs; vote + argmax are windowless-style tiny aggs.
    // Held-out vectors with no train collision yield no row (the
    // brute-force fallback is q43's shape).
    "q157_knn_classify" -> ((s, d) => {
      val e = emb(s, d)
      // oracle-baked 16/4 banding, pinned (production default is the
      // adaptive rule; clamp identity spec-pinned in OperatorSpec)
      val bands = Similarity.lshBands(e, "vec_id", "embedding",
        nBits = 16, bandBits = 4)
      val layout = Similarity.bandLayout("vec_id", 16, 4)
      // train = collision side → posting-capped by TRAIN bucket sizes
      // (same rule as every LSH join; identity at gate scale)
      val train = Banded.truncate(bands.filter(col("vec_id") % 5 =!= 0),
        layout, Similarity.DefaultBucketCap)
      val cand = Banded.collide(bands.filter(col("vec_id") % 5 === 0),
          train, layout)
        .select(col("x.vec_id").as("qid"), col("y.vec_id").as("vid"))
        .dropDuplicates("qid", "vid")
      val p = Similarity.prepare(e, "embedding")
        .select(col("vec_id"), col("label"), col("q"), col("n2"))
      // same ranking machinery as lshKnnJoin (shared helper), with the
      // neighbor's label riding along for the vote
      val top = Similarity.rankCandidates(cand, p, "vec_id", k = 3,
        keepVidCols = Seq("label"))
      val pred = top.groupBy("qid", "label")
        .agg(count(lit(1)).as("c"))
        .groupBy("qid")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("wv"))
        .select(col("qid"), (-col("wv.nl")).as("pred"))
      pred.join(p.select(col("vec_id").as("qid"),
          col("label").as("true_label")), "qid")
        .groupBy("true_label", "pred")
        .agg(count(lit(1)).as("cnt"))
    }),

    // ---- q238: classifier evaluation metrics (per-label P/R/F1) ----
    // The eval report on q157's confusion matrix: per true label,
    // support, true positives, precision, recall and F1 in exact ppm
    // (F1 = 2PR DIV (P+R) on the ppm values — no floats). Reuses the
    // q157 pipeline verbatim, so the oracle derives from the IDENTICAL
    // confusion SQL and the two gates cannot drift. The matrix is
    // |labels|² rows; everything here is driver-negligible arithmetic
    // on that tiny frame — the corpus-scale work is q157's candidate
    // generation, unchanged.
    "q238_classifier_metrics" -> ((s, d) => {
      val cm = queries("q157_knn_classify")(s, d)
      val bt = cm.select(col("true_label").as("label"), col("cnt"))
        .groupBy("label").agg(sum("cnt").as("n_true"))
      val bp = cm.select(col("pred").as("label"), col("cnt"))
        .groupBy("label").agg(sum("cnt").as("n_pred"))
      val tp = cm.filter(col("true_label") === col("pred"))
        .select(col("true_label").as("label"), col("cnt").as("tp0"))
      bt.join(tp, Seq("label"), "left").join(bp, Seq("label"), "left")
        .select(col("label"), col("n_true"),
          coalesce(col("tp0"), lit(0L)).as("tp"),
          coalesce(expr("tp0 * 1000000 DIV n_pred"), lit(0L))
            .as("precision_ppm"),
          coalesce(expr("tp0 * 1000000 DIV n_true"), lit(0L))
            .as("recall_ppm"))
        .withColumn("f1_ppm",
          when(col("precision_ppm") + col("recall_ppm") === 0, 0L)
            .otherwise(expr("2 * precision_ppm * recall_ppm" +
              " DIV (precision_ppm + recall_ppm)")))
    }),

    // ---- q239: balanced class weights (inverse frequency) ----
    // The sklearn "balanced" formula in exact ppm: w = total DIV
    // (n_classes · n_label) — the label-imbalance correction a
    // training pipeline feeds its loss. One label-cardinality agg +
    // the 1-row totals broadcast (the allow-listed q80 shape).
    "q239_class_weights" -> ((s, d) => {
      val per = emb(s, d).groupBy("label").agg(count(lit(1)).as("n"))
      val tot = per.agg(sum("n").as("total"),
        count(lit(1)).as("n_labels"))
      per.crossJoin(broadcast(tot))
        .select(col("label"), col("n"),
          expr("total * 1000000 DIV (n_labels * n)").as("w_ppm"))
    }),

    // ---- q240: embedding-quality audit per label ----
    // The data-quality gate before any vector workload: per label,
    // vector count, zero-norm count (unusable for cosine), exact
    // min/max/mean quantized squared norms, and distinct dimension
    // count (n_dims > 1 = schema break). Norms are the exact BIGINT
    // n2 the similarity stack already computes (Similarity.prepare),
    // so the audit is one two-phase agg over the prepared frame and
    // every statistic replays bit-for-bit in the oracle.
    "q240_embedding_audit" -> ((s, d) =>
      Similarity.prepare(emb(s, d), "embedding")
        .select(col("label"), col("n2"),
          size(col("embedding")).as("dim"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
          min("n2").as("min_n2"), max("n2").as("max_n2"),
          expr("sum(n2) DIV count(1)").as("avg_n2"),
          countDistinct("dim").as("n_dims"))),

    // ---- q152: ANN recall@5 self-evaluation ----
    // The engine measures its own index quality: q62's trained-IVF
    // top-5 against the exact brute-force top-5 for the same queries,
    // recall in exact ppm integers. Both sides are deterministic, so
    // even the QUALITY METRIC is oracle-gated — the eval loop every
    // ANN deployment runs before trusting an index, here as one query.
    "q152_ann_recall" -> ((s, d) => {
      val e = emb(s, d)
      val qids = e.select("vec_id").filter(col("vec_id").between(100, 109))
      val ivf = Similarity.ivfTopKTrained(e, qids, "vec_id", "embedding",
        k = 5, nCentroids = 8, iters = 2, nprobe = 2)
      val brute = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id").between(100, 109)), "vec_id", "embedding",
        k = 5)
      val hits = ivf.join(brute.select("qid", "vec_id"), Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n_hits"))
      qids.select(col("vec_id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          expr("coalesce(n_hits, 0) * 1000000 DIV 5").as("recall_ppm"))
    }),

    // ---- q137: weighted Bernoulli sample ----
    // Keep each doc with probability min(1, n_chars/600) decided by a
    // 16-bit id hash in pure BIGINT arithmetic — the quality/length-
    // weighted corpus downsample, still a narrow pushdown-able filter
    // (no shuffle, no state, no rand() seed drift).
    "q137_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedHashSample(
          Tables.read(s, d, "documents"), "doc_id", "n_chars", wCap = 600)
        .select("doc_id", "lang", "n_chars")),

    // INCREMENTAL embedding dedup (the q85 shape for the embedding
    // modality): persist the corpus LSH band table bucketed on the band
    // key, then find near-dup pairs touching a new 20% batch
    // (vec_id % 5 == 0) by probing only the batch's bands. Oracle =
    // the one-shot q63 pipeline restricted to batch-touching pairs, so
    // hash-green proves incremental == full recompute.
    "q87_incr_embed_dedup" -> ((s, d) => {
      val all = emb(s, d)
      val corpus = all.filter(col("vec_id") % 5 =!= 0)
      val batch = all.filter(col("vec_id") % 5 === 0)
      Similarity.writeLshIndex(corpus, "vec_id", "embedding",
        "graft_lsh_index", nBits = 16, bandBits = 4, nBuckets = 8)
      Similarity.incrementalLshPairs(batch, "graft_lsh_index", all,
        "vec_id", "embedding", threshold = 0.35)
    }),

    // ---- q295: STREAMING embedding near-dup pairs ----
    // q87's admission maintained from a vector stream, closing the
    // tree's last lattice asymmetry (q63 one-shot : q87 incremental :
    // q295 streaming — the q193 : q85 cycle on embeddings). Shares
    // q87's batch-touching oracle verbatim. See
    // EventStreams.streamingEmbedDedupStream.
    "q295_stream_embed_dedup" -> ((s, d) =>
      graft.streaming.EventStreams.streamingEmbedDedupStream(s, d)),

    // Clusters over the label-free LSH pairs: min-label propagation vs
    // the recursive-CTE oracle — pairwise similarity turned into dedup
    // decisions for embeddings, like q60 does for text.
    "q75_embed_dup_clusters" -> ((s, d) =>
      graft.operators.Dedup.dupClusters(
          Similarity.lshDupPairs(emb(s, d), "vec_id", "embedding",
            threshold = 0.35, nBits = 16, bandBits = 4))
        .select(col("doc_id").as("vec_id"), col("canonical"))),

    // Reproducible train/test split: assignment is a pure function of
    // the id hash — stable under retries, repartitioning, engines.
    "q76_train_split" -> ((s, d) =>
      graft.operators.Sampling.hashSplit(
          Tables.read(s, d, "documents"), "doc_id", trainNibbles = 13)
        .select("doc_id", "split")),

    // Deterministic ~25% sample — a pushdown-able narrow filter.
    "q81_hash_sample" -> ((s, d) =>
      graft.operators.Sampling.hashSample(
          Tables.read(s, d, "documents"), "doc_id", keepNibbles = 4)
        .select("doc_id", "n_chars")),

    // Deterministic STRATIFIED sample: downsample the dominant language
    // to 4/16, keep every other stratum whole — the corpus-rebalancing
    // move, still one narrow pushdown-able filter.
    "q89_stratified_sample" -> ((s, d) =>
      graft.operators.Sampling.stratifiedHashSample(
          Tables.read(s, d, "documents"), "doc_id", "lang",
          Map("en" -> 4), defaultNibbles = 16)
        .select("doc_id", "lang")),

    // Cross-modal join: text metadata (documents) x vectors (embeddings)
    // on doc_id = vec_id, filtered by a doc-side predicate that prunes
    // before the join, aggregated per (lang, label). The join key is
    // unique per side -> plain equi-join; exact integer n2 keeps the
    // aggregate oracle-stable.
    // ---- q192: SemDeDup — cluster-blocked semantic dedup ----
    // (Abbas et al. 2023.) The trained k-means cells (q62's exact
    // chain: k=8, 2 iterations, exact-BIGINT centroids) are the
    // blocking index; within a cell every vector with a lower-id
    // neighbor at cosine >= 0.35 is dropped (greedy keep-lowest-id in
    // place of the paper's random exemplar, for determinism). The
    // oracle replays centroids, assignment, and the keep rule
    // bit-for-bit. 100 TB: the quadratic is per-cell, never corpus².
    "q192_semdedup" -> ((s, d) =>
      // k pinned to the oracle-baked 8 (production default is the
      // adaptive max(8, ceil(n/1024)); clamp identity spec-pinned)
      Similarity.semDedup(emb(s, d), "vec_id", "embedding",
        k = 8, iters = 2, threshold = 0.35)),

    // ---- q264: reciprocal-rank fusion (hybrid retrieval) ----
    // THE hybrid-search move: fuse keyword rankings (q164's BM25 top-5
    // per query term) with a vector ranking (brute-force cosine top-20
    // for query vec 100) by RRF — score(doc) = Σ_lists 1e6 DIV
    // (60 + rank), exact integers, so the fused order hash-matches
    // (Cormack et al. 2009's k=60). Each input list is already
    // top-k-bounded, so the fusion agg and global top-10 run on a few
    // dozen rows no matter the corpus size; doc_id and vec_id share
    // the id space (q69's cross-modal join relation).
    "q264_rrf_fusion" -> ((s, d) => {
      val bm = graft.queries.Curation.bm25Ranks(s, d)
        .select(col("doc_id"), col("rank"))
      val e = emb(s, d)
      val vr = Similarity.bruteForceTopK(e,
          e.filter(col("vec_id") === 100), "vec_id", "embedding", k = 20)
        .select(col("vec_id").as("doc_id"), col("rank"))
      bm.unionByName(vr)
        .groupBy("doc_id")
        .agg(sum(expr("CAST(1000000 AS BIGINT) DIV (60 + rank)"))
          .as("rrf"), count(lit(1)).as("n_lists"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }),

    // ---- q263: c-TF-IDF cluster labeling (BERTopic-style) ----
    // The 3 most DISTINCTIVE terms of each semantic cluster: q62's
    // deterministic k-means cells (the SemDedup blocking index) joined
    // to the documents' tokens, term scores = cluster-tf × the exact
    // rational idf (k·1e6) DIV cluster-df — the label a topic browser
    // shows per cluster. Scale shape: the cell assignment is the
    // broadcast probe (no corpus shuffle), the per-cluster term table
    // is vocabulary-bounded and its df table broadcasts, and the top-3
    // window partitions on cent_id.
    "q263_cluster_terms" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val prep = Similarity.prepare(emb(s, d), "embedding")
        .select(col("vec_id"), col("q"), col("n2"))
      val cents = Similarity.kmeansCentroids(prep, "vec_id", k = 8,
        iters = 2)
      val cells = Similarity.cellAssignments(prep, cents, "vec_id")
        .select(col("vec_id").as("doc_id"), col("cent_id"))
      val toks = Tables.read(s, d, "documents")
        .select(col("doc_id"),
          explode(expr(graft.functions.TextExpr.toksSpark("text")))
            .as("term"))
      val ct = toks.join(cells, "doc_id")
        .groupBy("cent_id", "term").agg(count(lit(1)).as("ctf"))
      val dfc = ct.groupBy("term").agg(count(lit(1)).as("dfc"))
      val w = Window.partitionBy("cent_id")
        .orderBy(col("score").desc, col("term"))
      ct.join(broadcast(dfc), "term")
        .withColumn("score", expr("ctf * ((8 * 1000000) DIV dfc)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("cent_id", "term", "ctf", "dfc", "score", "rk")
    }),

    "q69_doc_embed_join" -> ((s, d) => {
      val docsQ = Tables.read(s, d, "documents")
        .filter(col("n_chars").between(150, 450))
        .select(col("doc_id"), col("lang"))
      Similarity.prepare(emb(s, d), "embedding")
        .select(col("vec_id").as("doc_id"), col("label"), col("n2"))
        .join(docsQ, "doc_id")
        .groupBy("lang", "label")
        .agg(count(lit(1)).as("n"),
          expr("CAST(SUM(n2) AS BIGINT)").as("sum_n2"))
    })
  )

  /** Deterministic Rademacher sign matrix for the JL projection:
    * sign(j, i) = +1 iff the first md5 byte of "jl:j:i" is even. Java
    * md5 here is the SAME function both engines would compute — the
    * signs are rendered as literals into the Spark expression AND the
    * DuckDB oracle, so no hashing happens at row time at all. */
  private[queries] def jlSigns(outDim: Int, inDim: Int): Seq[Seq[Int]] =
    (0 until outDim).map { j =>
      (0 until inDim).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"jl:$j:$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1 else -1
      }
    }

  // ---- DuckDB oracle: same scaled-integer algorithm ----

  private val prepCte =
    """p AS (SELECT vec_id, label, len(embedding) AS dim,
      |  [CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT) FOR x IN embedding] AS q
      | FROM embeddings),
      |n AS (SELECT vec_id, label, dim, q,
      |  CAST(list_aggregate([q[i] * q[i] FOR i IN range(1, len(q)+1)], 'sum')
      |       AS BIGINT) AS n2
      | FROM p)""".stripMargin

  /** Exact integer dot product of two scaled-int (|v| <= 10^4) BIGINT
    * lists, via DuckDB's NATIVE list_dot_product rather than a
    * `[a[i]*b[i] FOR i ...]` comprehension: the comprehension
    * MATERIALIZES a 64-element intermediate list per row, which at sf1
    * (~10^8 candidate pairs in the LSH oracles) is ~50 GB of transient
    * lists — the allocation that filled the disk with DuckDB spill
    * during the r11 sf1 adjudication and took every later oracle down
    * with it. Exactness is unchanged: every product is <= 10^8 and
    * every partial sum <= 64·10^8 < 2^53, so the native double
    * accumulation is the exact integer in ANY summation order, and
    * every caller routes the result through cosDuck's CAST(AS DOUBLE)
    * anyway. */
  private def dotDuck(a: String, b: String): String =
    s"list_dot_product($a, $b)"

  /** q157's full confusion-matrix SQL (test×train band collisions →
    * exact-cosine top-3 → majority vote → matrix) — shared verbatim by
    * the q157 gate and q238's derived metrics so they cannot drift. */
  private lazy val knnClassifySql: String =
    s"""WITH $prepCte,
      | $lshBandCtes,
      | bt AS (SELECT * FROM b WHERE vec_id % 5 <> 0),
      | btsz AS (SELECT band, bucket, count(*) AS bn FROM bt GROUP BY 1, 2),
      | btr AS (SELECT bt.vec_id, bt.band, bt.bucket
      |  FROM bt JOIN btsz USING (band, bucket)
      |  WHERE ${graft.operators.BucketCap.keepDuck(
                  "bt.vec_id", "btsz.bn", lshCap)}),
      | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
      |  FROM b x JOIN btr y ON x.band = y.band AND x.bucket = y.bucket
      |    AND x.vec_id % 5 = 0),
      | sc AS (SELECT kc.qid, kc.vid, c.label,
      |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
      |  FROM kc JOIN n a ON a.vec_id = kc.qid
      |   JOIN n c ON c.vec_id = kc.vid),
      | rk AS (SELECT qid, vid, label,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY cos DESC, vid) AS rank FROM sc),
      | votes AS (SELECT qid, label, count(*) AS c FROM rk
      |  WHERE rank <= 3 GROUP BY 1, 2),
      | pred AS (SELECT qid, label AS pred FROM (
      |   SELECT qid, label, ROW_NUMBER() OVER (PARTITION BY qid
      |     ORDER BY c DESC, label) AS r FROM votes) WHERE r = 1)
      |SELECT t.label AS true_label, p.pred, count(*) AS cnt
      |FROM pred p JOIN n t ON t.vec_id = p.qid
      |GROUP BY 1, 2""".stripMargin

  private def cosDuck(dot: String, na: String, nb: String): String =
    s"CAST($dot AS DOUBLE) / SQRT(CAST($na AS DOUBLE) * CAST($nb AS DOUBLE))"

  /** q211/q212 oracle: per-subspace Lloyd chains as CTEs. Everything
    * BIGINT (squared L2 on the scaled-integer grid), so the replay is
    * exact; `//` vs DIV agrees as in the green q62/q171 recipe. */
  private def pqDist(subLen: Int)(v: String, c: String): String =
    s"list_aggregate([(($v)[j] - ($c)[j]) * (($v)[j] - ($c)[j]) " +
      s"FOR j IN range(1, ${subLen + 1})], 'sum')"

  /** The shared train+encode CTE block: s{i} slices, c{i}_t codebooks,
    * e{i} final per-subspace (code, err) assignments. `trainWhere`
    * restricts which vectors train the codebooks, `encodeWhere` which
    * vectors receive codes — q214's incremental split. */
  private def pqChains(m: Int, k: Int, iters: Int, subLen: Int,
      trainWhere: String = "TRUE", encodeWhere: String = "TRUE"): String = {
    val dist = pqDist(subLen) _
    (0 until m).map { i =>
      val lo = i * subLen + 1
      val hi = (i + 1) * subLen
      val parts = Seq.newBuilder[String]
      parts += s"s$i AS (SELECT vec_id, q[$lo:$hi] AS sq FROM n)"
      parts += s"c${i}_0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id)" +
        s" AS cid, sq AS cq FROM (SELECT vec_id, sq FROM s$i" +
        s" WHERE $trainWhere ORDER BY vec_id LIMIT $k))"
      for (t <- 1 to iters) {
        parts += s"""a${i}_$t AS (SELECT vec_id, sq, cid FROM (
          |  SELECT v.vec_id, v.sq, c.cid,
          |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
          |      ORDER BY ${dist("v.sq", "c.cq")}, c.cid) AS r
          |  FROM (SELECT * FROM s$i WHERE $trainWhere) v
          |   CROSS JOIN c${i}_${t - 1} c) WHERE r = 1)""".stripMargin
        parts += s"""r${i}_$t AS (SELECT cid, pos,
          |  CAST(SUM(sq[pos]) // COUNT(*) AS BIGINT) AS mv
          | FROM a${i}_$t, range(1, ${subLen + 1}) t(pos) GROUP BY 1, 2)""".stripMargin
        parts += s"c${i}_$t AS (SELECT cid, list(mv ORDER BY pos) AS cq" +
          s" FROM r${i}_$t GROUP BY 1)"
      }
      parts += s"""e$i AS (SELECT vec_id, cid AS code$i,
        |  CAST(d AS BIGINT) AS err$i FROM (
        |  SELECT v.vec_id, c.cid, ${dist("v.sq", "c.cq")} AS d,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
        |      ORDER BY ${dist("v.sq", "c.cq")}, c.cid) AS r
        |  FROM (SELECT * FROM s$i WHERE $encodeWhere) v
        |   CROSS JOIN c${i}_$iters c) WHERE r = 1)""".stripMargin
      parts.result().mkString(",\n ")
    }.mkString(",\n ")
  }

  private def pqDuck(m: Int, k: Int, iters: Int, subLen: Int): String = {
    val joins = (0 until m).map(i => s"JOIN e$i USING (vec_id)").mkString(" ")
    val codes = (0 until m).map(i => s"code$i").mkString(", ")
    val errs = (0 until m).map(i => s"err$i").mkString(" + ")
    s"""WITH $prepCte,
      | ${pqChains(m, k, iters, subLen)}
      |SELECT n.vec_id, n.label, $codes,
      | CAST($errs AS BIGINT) AS qerr
      |FROM n $joins""".stripMargin
  }

  /** ADC CTE tail shared by q212/q213: per-query LUT replay + rank. */
  private def pqAdcCtes(m: Int, iters: Int, subLen: Int): String = {
    val dist = pqDist(subLen) _
    val luts = (0 until m).map { i =>
      s"""l$i AS (SELECT qv.vec_id AS qid, c.cid,
        |  CAST(${dist("qv.sq", "c.cq")} AS BIGINT) AS d
        | FROM s$i qv CROSS JOIN c${i}_$iters c WHERE qv.vec_id < 5),
        |t$i AS (SELECT l.qid, e.vec_id, l.d
        | FROM e$i e JOIN l$i l ON l.cid = e.code$i)""".stripMargin
    }.mkString(",\n ")
    val joins = (1 until m).map(i => s"JOIN t$i USING (qid, vec_id)")
      .mkString(" ")
    val dsum = (0 until m).map(i => s"t$i.d").mkString(" + ")
    s"""$luts,
      | adc0 AS (SELECT qid, vec_id, CAST($dsum AS BIGINT) AS adc
      |  FROM t0 $joins WHERE vec_id <> qid),
      | ark AS (SELECT qid, vec_id, adc,
      |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc, vec_id)
      |     AS rank FROM adc0)""".stripMargin
  }

  /** q212 oracle: chains + ADC rank. */
  private def pqAdcDuck(m: Int, k: Int, iters: Int, subLen: Int,
      topK: Int): String =
    s"""WITH $prepCte,
      | ${pqChains(m, k, iters, subLen)},
      | ${pqAdcCtes(m, iters, subLen)}
      |SELECT qid, vec_id, rank, adc FROM ark WHERE rank <= $topK""".stripMargin

  /** q213 oracle: ADC top-k vs exact full-vector L2 top-k overlap. */
  private def pqRecallDuck(m: Int, k: Int, iters: Int, subLen: Int,
      topK: Int): String = {
    val dim = m * subLen
    val l2 = s"list_aggregate([(c.q[j] - qv.q[j]) * (c.q[j] - qv.q[j]) " +
      s"FOR j IN range(1, ${dim + 1})], 'sum')"
    s"""WITH $prepCte,
      | ${pqChains(m, k, iters, subLen)},
      | ${pqAdcCtes(m, iters, subLen)},
      | ar AS (SELECT qid, vec_id FROM ark WHERE rank <= $topK),
      | ex AS (SELECT qv.vec_id AS qid, c.vec_id, $l2 AS d
      |  FROM n c CROSS JOIN n qv
      |  WHERE qv.vec_id < 5 AND c.vec_id <> qv.vec_id),
      | erk AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
      |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS r
      |  FROM ex) WHERE r <= $topK),
      | h AS (SELECT ar.qid, count(*) AS hits
      |  FROM ar JOIN erk ON ar.qid = erk.qid AND ar.vec_id = erk.vec_id
      |  GROUP BY 1)
      |SELECT q.qid, COALESCE(h.hits, 0) AS hits,
      | (COALESCE(h.hits, 0) * 100) // $topK AS recall_pct
      |FROM (SELECT DISTINCT qid FROM ar) q LEFT JOIN h USING (qid)""".stripMargin
  }

  // ---- k-means oracle building blocks (dim is 64 in every SF corpus;
  // DuckDB's range() can't take a lateral column bound, so the oracle
  // hardcodes it — the Spark side stays dim-agnostic) ----

  /** Assign each vector of `vecs` to its `nprobe` nearest centroids. */
  private def assignDuck(cent: String, out: String, nprobe: Int,
      vecs: String = "n"): String =
    s"""$out AS (SELECT vec_id, q, n2, cent_id FROM (
      |  SELECT v.vec_id, v.q, v.n2, c.cent_id,
      |    ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
      |      ${cosDuck(dotDuck("v.q", "c.cq"), "v.n2", "c.cn2")} DESC,
      |      c.cent_id) AS r
      |  FROM $vecs v CROSS JOIN $cent c) WHERE r <= $nprobe)""".stripMargin

  /** Element-wise integer-mean centroid recompute (SUM // COUNT). */
  private def recomputeDuck(assigned: String, out: String): String =
    s"""${out}_m AS (SELECT cent_id, list(s ORDER BY pos) AS cq FROM (
      |  SELECT cent_id, i AS pos, CAST(SUM(q[i]) // COUNT(*) AS BIGINT) AS s
      |  FROM $assigned, range(1, 65) t(i) GROUP BY 1, 2) GROUP BY cent_id),
      |$out AS (SELECT cent_id, cq,
      |  CAST(list_aggregate([cq[i]*cq[i] FOR i IN range(1,65)], 'sum')
      |       AS BIGINT) AS cn2
      | FROM ${out}_m)""".stripMargin

  /** LCG hyperplane weight — must stay in lockstep with
    * Similarity.hyperplaneWeight. */
  private def hpwDuck(j: String, d: String): String =
    s"(((CAST(1103515245 AS BIGINT) * ($j * 128 + $d) + 12345) % 19) - 9)"

  /** Random-hyperplane LSH candidate + exact-cosine verify CTEs
    * (expects the prep CTEs in scope; yields `scored(ida, idb, cos)`).
    * Shared by q63 (pairs) and q75 (clusters).
    *
    * NOTE: this oracle hardcodes the corpus configuration — dim=64
    * (`range(1, 65)`), nBits=16, bandBits=4 — while the Scala operator
    * is parameterized; only that configuration is oracle-gated.
    * Non-default args are covered by OperatorSpec only. */
  /** The collision-side posting cap — interpolated from the ONE Scala
    * constant so operator and oracle truncation rules cannot drift. */
  private val lshCap = graft.operators.Similarity.DefaultBucketCap

  /** Sign-bit signature + band/bucket CTEs alone (yields `b(vec_id,
    * band, bucket)` plus its capped collision side `br`) — shared by
    * the pair queries (via [[lshCtes]]) and the q135 knn join, which
    * ranks directed collisions instead of thresholding undirected
    * ones. `br` mirrors Banded.truncate via the shared
    * BucketCap.keepDuck spelling (hash(id) ≡ 0 mod ⌈bn/cap⌉ when
    * bn > cap); at gate scale every bucket is under the cap so
    * `br` = `b` exactly. */
  private val lshBandCtes: String =
    s"""s AS (SELECT vec_id, q, n2,
      |   [CASE WHEN CAST(list_aggregate(
      |      [q[d] * ${hpwDuck("j", "d")} FOR d IN range(1, 65)],
      |      'sum') AS BIGINT) >= 0 THEN 1 ELSE 0 END
      |    FOR j IN range(0, 16)] AS sig
      |  FROM n),
      | b AS (SELECT vec_id, t.b AS band,
      |    8*sig[4*t.b+1] + 4*sig[4*t.b+2] + 2*sig[4*t.b+3] + sig[4*t.b+4]
      |      AS bucket
      |  FROM s, range(0, 4) t(b)),
      | bsz AS (SELECT band, bucket, count(*) AS bn FROM b GROUP BY 1, 2),
      | br AS (SELECT b.vec_id, b.band, b.bucket
      |  FROM b JOIN bsz USING (band, bucket)
      |  WHERE ${graft.operators.BucketCap.keepDuck(
                  "b.vec_id", "bsz.bn", lshCap)})"""
      .stripMargin

  /** Hard-negative mining replay (q205 and its adaptive twin q303 —
    * one string so the two gates cannot drift): band collisions,
    * label-mismatch filter before scoring, exact-cosine top-3. */
  private val hardNegSql: String =
    s"""WITH $prepCte,
      | $lshBandCtes,
      | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
      |  FROM b x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
      |    AND x.vec_id <> y.vec_id),
      | neg AS (SELECT kc.qid, kc.vid FROM kc
      |  JOIN n a ON a.vec_id = kc.qid
      |  JOIN n c ON c.vec_id = kc.vid
      |  WHERE a.label <> c.label),
      | sc AS (SELECT neg.qid, neg.vid AS vec_id,
      |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
      |  FROM neg JOIN n a ON a.vec_id = neg.qid
      |   JOIN n c ON c.vec_id = neg.vid),
      | rk AS (SELECT qid, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY cos DESC, vec_id) AS rank FROM sc)
      |SELECT qid, vec_id, rank, cos FROM rk WHERE rank <= 3""".stripMargin

  private val lshCtes: String =
    s"""$lshBandCtes,
      | cand AS (SELECT DISTINCT x.vec_id AS ida, y.vec_id AS idb
      |  FROM b x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
      |    AND x.vec_id < y.vec_id),
      | scored AS (SELECT cand.ida, cand.idb,
      |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
      |  FROM cand JOIN n a ON a.vec_id = cand.ida
      |   JOIN n c ON c.vec_id = cand.idb)""".stripMargin

  /** Replays both k-means iterations + cell-local search in SQL —
    * shared by q62 (train-at-query) and q86 (persisted index). */
  private lazy val ivfTrainedSql: String =
    s"""WITH $prepCte,
      | c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cent_id,
      |   q AS cq, n2 AS cn2 FROM (SELECT * FROM n ORDER BY vec_id LIMIT 8)),
      | ${assignDuck("c0", "a1", 1)},
      | ${recomputeDuck("a1", "c1")},
      | ${assignDuck("c1", "a2", 1)},
      | ${recomputeDuck("a2", "c2")},
      | ${assignDuck("c2", "cells", 1)},
      | qids AS (SELECT vec_id, q AS qq, n2 AS qn2 FROM n
      |   WHERE vec_id BETWEEN 100 AND 109),
      | ${assignDuck("c2", "qcells", 2,
           "(SELECT n.vec_id, n.q, n.n2 FROM qids JOIN n USING (vec_id))")},
      | scored AS (SELECT qc.vec_id AS qid, c.vec_id,
      |    ${cosDuck(dotDuck("c.q", "qs.qq"), "c.n2", "qs.qn2")} AS cos
      |  FROM cells c JOIN qcells qc ON c.cent_id = qc.cent_id
      |    AND c.vec_id <> qc.vec_id
      |  JOIN qids qs ON qs.vec_id = qc.vec_id),
      | ranked AS (SELECT qid, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT qid, vec_id, rank, cos FROM ranked WHERE rank <= 5""".stripMargin

  /** Shared CTE chain replaying synthesize→resample→threshold→pack to
    * the per-doc 64-bit aHash halves (q165 clusters, q185 pairs). */
  private val ahashCte: String =
    """d AS (SELECT doc_id,
      |   CAST(8 + doc_id % 24 AS INT) AS wi,
      |   CAST(8 + (doc_id // 7) % 24 AS INT) AS hi FROM documents),
      | px AS (SELECT doc_id,
      |   [(doc_id*31 + (((i % 8) * wi) // 8)*7 + (((i // 8) * hi) // 8)) % 256
      |    FOR i IN range(0, 64)] AS p FROM d),
      | s AS (SELECT doc_id, p,
      |   CAST(list_aggregate(p, 'sum') AS BIGINT) AS total FROM px),
      | ah AS (SELECT doc_id,
      |   CAST(list_aggregate([CASE WHEN p[i+1]*64 >= total
      |       THEN CAST(1 AS BIGINT) << (i - 32) ELSE CAST(0 AS BIGINT) END
      |     FOR i IN range(32, 64)], 'sum') AS BIGINT) AS ahash_hi,
      |   CAST(list_aggregate([CASE WHEN p[i+1]*64 >= total
      |       THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END
      |     FOR i IN range(0, 32)], 'sum') AS BIGINT) AS ahash_lo
      |  FROM s)""".stripMargin

  /** q214's oracle — shared verbatim with q294 (frozen-codebook encode
    * is a pure per-row map, so the streaming face lands on the
    * identical codes). */
  private lazy val incrPqEncodeSql: String = {
    val (m, subLen) = (8, 8)
    val joins = (0 until m).map(i => s"JOIN e$i USING (vec_id)")
      .mkString(" ")
    val codes = (0 until m).map(i => s"code$i").mkString(", ")
    val errs = (0 until m).map(i => s"err$i").mkString(" + ")
    s"""WITH $prepCte,
      | ${pqChains(m, k = 8, iters = 2, subLen = subLen,
          trainWhere = "vec_id % 4 < 3", encodeWhere = "vec_id % 4 = 3")}
      |SELECT n.vec_id, n.label, $codes,
      | CAST($errs AS BIGINT) AS qerr
      |FROM n $joins""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q42_embed_stats" ->
      s"""WITH $prepCte
        |SELECT vec_id, label, dim, n2 FROM n""".stripMargin,

    "q43_knn_brute" ->
      s"""WITH $prepCte,
        | qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n WHERE vec_id < 5),
        | scored AS (SELECT qs.qid, n.vec_id,
        |   ${cosDuck(dotDuck("n.q", "qs.qq"), "n.n2", "qs.qn2")} AS cos
        |  FROM n CROSS JOIN qs WHERE n.vec_id <> qs.qid),
        | ranked AS (SELECT qid, vec_id, cos,
        |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, vec_id, rank, cos FROM ranked WHERE rank <= 10""".stripMargin,

    "q44_embed_dup_pairs" ->
      s"""WITH $prepCte
        |SELECT a.vec_id AS ida, b.vec_id AS idb,
        | ${cosDuck(dotDuck("a.q", "b.q"), "a.n2", "b.n2")} AS cos
        |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ${cosDuck(dotDuck("a.q", "b.q"), "a.n2", "b.n2")} >= 0.35""".stripMargin,

    "q45_ivf_ann" ->
      s"""WITH $prepCte,
        | cent AS (SELECT vec_id AS cent_id, q AS centq, n2 AS centn2
        |  FROM n WHERE vec_id < 8),
        | assigned AS (SELECT vec_id, q, n2, cent_id,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
        |     ${cosDuck(dotDuck("q", "centq"), "n2", "centn2")} DESC, cent_id) AS crank
        |  FROM n CROSS JOIN cent),
        | cells AS (SELECT vec_id, q, n2, cent_id FROM assigned WHERE crank = 1),
        | qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2, cent_id AS qcell
        |  FROM cells WHERE vec_id BETWEEN 100 AND 109),
        | scored AS (SELECT qs.qid, c.vec_id,
        |   ${cosDuck(dotDuck("c.q", "qs.qq"), "c.n2", "qs.qn2")} AS cos
        |  FROM cells c JOIN qs ON c.cent_id = qs.qcell AND c.vec_id <> qs.qid),
        | ranked AS (SELECT qid, vec_id, cos,
        |   ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT qid, vec_id, rank, cos FROM ranked WHERE rank <= 5""".stripMargin,

    "q46_multimodal_features" ->
      Multimodal.featureSqlDuck("documents", "doc_id", "text"),

    "q62_ivf_trained" -> ivfTrainedSql,

    "q192_semdedup" ->
      s"""WITH $prepCte,
        | c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cent_id,
        |   q AS cq, n2 AS cn2 FROM (SELECT * FROM n ORDER BY vec_id LIMIT 8)),
        | ${assignDuck("c0", "a1", 1)},
        | ${recomputeDuck("a1", "c1")},
        | ${assignDuck("c1", "a2", 1)},
        | ${recomputeDuck("a2", "c2")},
        | ${assignDuck("c2", "cells", 1)},
        | drops AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
        |    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        |  WHERE ${cosDuck(dotDuck("a.q", "b.q"), "a.n2", "b.n2")} >= 0.35)
        |SELECT c.vec_id, c.cent_id,
        |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
        |FROM cells c LEFT JOIN drops d ON c.vec_id = d.vec_id""".stripMargin,

    "q129_centroid_classify" ->
      s"""WITH $prepCte,
        | cm AS (SELECT label AS cl, i AS pos,
        |   CAST(SUM(q[i]) // COUNT(*) AS BIGINT) AS m
        |  FROM n, range(1, 65) t(i) WHERE vec_id % 5 <> 0 GROUP BY 1, 2),
        | cc AS (SELECT cl, list(m ORDER BY pos) AS cq FROM cm GROUP BY 1),
        | cn AS (SELECT cl, cq,
        |   CAST(list_aggregate([cq[i]*cq[i] FOR i IN range(1,65)], 'sum')
        |        AS BIGINT) AS cn2 FROM cc),
        | te AS (SELECT vec_id, label, q, n2 FROM n WHERE vec_id % 5 = 0),
        | sc AS (SELECT te.vec_id, te.label, cn.cl,
        |   ${cosDuck(dotDuck("te.q", "cn.cq"), "te.n2", "cn.cn2")} AS cos
        |  FROM te CROSS JOIN cn),
        | pk AS (SELECT vec_id, label, cl FROM (SELECT *,
        |   ROW_NUMBER() OVER (PARTITION BY vec_id
        |     ORDER BY cos DESC, cl) AS r FROM sc) WHERE r = 1)
        |SELECT label, cl AS pred, count(*) AS n FROM pk GROUP BY 1, 2""".stripMargin,

    // The persisted-index path must reproduce the freshly-trained
    // answer exactly (deterministic k-means) — same oracle as q62.
    "q86_ivf_persisted" -> ivfTrainedSql,

    "q63_lsh_dup_pairs" ->
      s"""WITH $prepCte,
        | $lshCtes
        |SELECT ida, idb, cos FROM scored WHERE cos >= 0.35""".stripMargin,

    // Directed band collisions ranked per query — the knn-join twin of
    // q63's thresholded pairs, over the same band CTEs.
    "q135_ann_knn_join" ->
      s"""WITH $prepCte,
        | $lshBandCtes,
        | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
        |  FROM b x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id <> y.vec_id),
        | sc AS (SELECT kc.qid, kc.vid AS vec_id,
        |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
        |  FROM kc JOIN n a ON a.vec_id = kc.qid
        |   JOIN n c ON c.vec_id = kc.vid),
        | rk AS (SELECT qid, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, vec_id) AS rank FROM sc)
        |SELECT qid, vec_id, rank, cos FROM rk WHERE rank <= 3""".stripMargin,

    // The adaptive join's banding clamp resolves to the fixed default
    // at every oracle-gate corpus (n/cap <= 16 -> bandBits 4), so the
    // oracle IS q135's — the gate pins that the adaptivity is exactly
    // the identity where the oracle can see, and the spec pins the
    // formula everywhere else.
    "q302_ann_adaptive" ->
      s"""WITH $prepCte,
        | $lshBandCtes,
        | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
        |  FROM b x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id <> y.vec_id),
        | sc AS (SELECT kc.qid, kc.vid AS vec_id,
        |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
        |  FROM kc JOIN n a ON a.vec_id = kc.qid
        |   JOIN n c ON c.vec_id = kc.vid),
        | rk AS (SELECT qid, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, vec_id) AS rank FROM sc)
        |SELECT qid, vec_id, rank, cos FROM rk WHERE rank <= 3""".stripMargin,

    // q135's oracle with the probe fan-out CTE: probe 0 is the
    // identity bucket, probes 1..4 flip one signature bit each
    // (xor(bucket, 1 << (p-1))) — the collision side `br` (banding,
    // cap, keep rule) is UNTOUCHED, exactly like the engine.
    "q304_ann_multiprobe" ->
      s"""WITH $prepCte,
        | $lshBandCtes,
        | xp AS (SELECT vec_id, band,
        |    CASE WHEN t.p = 0 THEN bucket
        |         ELSE xor(bucket, 1 << (t.p - 1)) END AS bucket
        |  FROM b, range(0, 5) t(p)),
        | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
        |  FROM xp x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id <> y.vec_id),
        | sc AS (SELECT kc.qid, kc.vid AS vec_id,
        |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
        |  FROM kc JOIN n a ON a.vec_id = kc.qid
        |   JOIN n c ON c.vec_id = kc.vid),
        | rk AS (SELECT qid, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, vec_id) AS rank FROM sc)
        |SELECT qid, vec_id, rank, cos FROM rk WHERE rank <= 3""".stripMargin,

    // Query-set search: q135's candidate join with the probe side
    // restricted to the vec_id % 20 = 0 batch; the collision side `br`
    // (the corpus index: full-corpus banding, sizes, cap) is untouched.
    "q305_ann_search" ->
      s"""WITH $prepCte,
        | $lshBandCtes,
        | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
        |  FROM b x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id <> y.vec_id
        |  WHERE x.vec_id % 20 = 0),
        | sc AS (SELECT kc.qid, kc.vid AS vec_id,
        |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
        |  FROM kc JOIN n a ON a.vec_id = kc.qid
        |   JOIN n c ON c.vec_id = kc.vid),
        | rk AS (SELECT qid, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, vec_id) AS rank FROM sc)
        |SELECT qid, vec_id, rank, cos FROM rk WHERE rank <= 3""".stripMargin,

    // ... and with q304's Hamming-1 probe fan-out on the query batch.
    "q306_ann_search_multiprobe" ->
      s"""WITH $prepCte,
        | $lshBandCtes,
        | xp AS (SELECT vec_id, band,
        |    CASE WHEN t.p = 0 THEN bucket
        |         ELSE xor(bucket, 1 << (t.p - 1)) END AS bucket
        |  FROM b, range(0, 5) t(p)
        |  WHERE vec_id % 20 = 0),
        | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
        |  FROM xp x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id <> y.vec_id),
        | sc AS (SELECT kc.qid, kc.vid AS vec_id,
        |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
        |  FROM kc JOIN n a ON a.vec_id = kc.qid
        |   JOIN n c ON c.vec_id = kc.vid),
        | rk AS (SELECT qid, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, vec_id) AS rank FROM sc)
        |SELECT qid, vec_id, rank, cos FROM rk WHERE rank <= 3""".stripMargin,

    // q135's ranked top-3 reduced to per-node in-degrees, zero-filled
    // from the full vector table
    "q256_knn_hubness" ->
      s"""WITH $prepCte,
        | $lshBandCtes,
        | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
        |  FROM b x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id <> y.vec_id),
        | sc AS (SELECT kc.qid, kc.vid AS vec_id,
        |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
        |  FROM kc JOIN n a ON a.vec_id = kc.qid
        |   JOIN n c ON c.vec_id = kc.vid),
        | rk AS (SELECT qid, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, vec_id) AS rank FROM sc),
        | indeg AS (SELECT vec_id AS node, count(*) AS deg
        |  FROM rk WHERE rank <= 3 GROUP BY 1)
        |SELECT COALESCE(indeg.deg, 0) AS in_deg, count(*) AS n_nodes
        |FROM n LEFT JOIN indeg ON indeg.node = n.vec_id
        |GROUP BY 1""".stripMargin,

    // q205's oracle verbatim: the adaptive banding clamps to the
    // oracle-baked 16/4 at every gate corpus (q302's pattern applied
    // to the mining path); outside the clamp region Verify pre-flight
    // error-marks the query instead of comparing a knowingly
    // different banding.
    "q303_hard_negatives_adaptive" -> hardNegSql,

    // q135's band-collision CTEs with a label-mismatch filter on the
    // candidate pairs before scoring — only true negatives rank.
    "q205_hard_negatives" -> hardNegSql,


    // int8 scalar quantization on the exact scaled-integer grid; DuckDB
    // // is floor division but every numerator here is non-negative, so
    // it agrees with Spark's truncating DIV.
    "q206_embed_quantize" ->
      s"""WITH $prepCte,
        | ex AS (SELECT vec_id, label, i, q[i] AS v
        |  FROM n, range(1, 65) t(i)),
        | mm AS (SELECT i, MIN(v) AS lo, MAX(v) AS hi FROM ex GROUP BY 1),
        | c AS (SELECT vec_id, label, v, lo, hi,
        |   CASE WHEN hi = lo THEN 0
        |     ELSE ((v - lo) * 255) // (hi - lo) END AS code
        |  FROM ex JOIN mm USING (i)),
        | r AS (SELECT vec_id, label, code,
        |   ABS(v - (lo + CASE WHEN hi = lo THEN 0
        |     ELSE (code * (hi - lo)) // 255 END)) AS err
        |  FROM c)
        |SELECT vec_id, label, CAST(SUM(code) AS BIGINT) AS code_sum,
        | CAST(SUM(CASE WHEN code IN (0, 255) THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_sat,
        | CAST(MAX(err) AS BIGINT) AS max_err
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q211_pq_encode" -> pqDuck(m = 8, k = 8, iters = 2, subLen = 8),

    "q212_pq_adc_topk" ->
      pqAdcDuck(m = 8, k = 8, iters = 2, subLen = 8, topK = 5),

    "q213_pq_recall" ->
      pqRecallDuck(m = 8, k = 8, iters = 2, subLen = 8, topK = 5),

    // identical Lloyd replay, restricted: codebooks from the history
    // split, codes only for the batch split
    "q214_incr_pq_encode" -> incrPqEncodeSql,

    // the streamed-and-merged codes must equal the one-shot frozen-
    // codebook encode (q214's oracle verbatim — encode is a pure
    // per-row map, so micro-batch boundaries are invisible)
    "q294_stream_pq_encode" -> incrPqEncodeSql,

    // greedy MMR chain replayed step by step: each pick k is one
    // (max-sim vs selected) agg + one argmax CTE, exactly the Spark
    // iteration's shape
    "q222_mmr_rerank" -> {
      val (lam10, poolK, selectK) = (7, 10, 3)
      val steps = (2 to selectK).map { k =>
        val prev = if (k == 2) "sel1" else s"sel${k - 1}"
        s"""ms$k AS (SELECT s.qid, s.va, MAX(s.sim_ppm) AS maxsim
          |  FROM sims s JOIN $prev t ON s.qid = t.qid AND s.vb = t.vec_id
          |  GROUP BY 1, 2),
          | sc$k AS (SELECT p.qid, p.vec_id, p.rel_ppm,
          |   p.rel_ppm * $lam10 - m.maxsim * ${10 - lam10} AS obj10
          |  FROM pool p JOIN ms$k m ON m.qid = p.qid AND m.va = p.vec_id
          |  LEFT JOIN $prev t ON t.qid = p.qid AND t.vec_id = p.vec_id
          |  WHERE t.vec_id IS NULL),
          | pick$k AS (SELECT qid, vec_id, $k AS sel_rank, rel_ppm, obj10
          |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
          |    ORDER BY obj10 DESC, vec_id) AS rn FROM sc$k) WHERE rn = 1),
          | sel$k AS (SELECT * FROM $prev UNION ALL SELECT * FROM pick$k)"""
          .stripMargin
      }.mkString(",\n ")
      s"""WITH $prepCte,
        | qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n
        |  WHERE vec_id < 5),
        | scored AS (SELECT qs.qid, n.vec_id,
        |   ${cosDuck(dotDuck("n.q", "qs.qq"), "n.n2", "qs.qn2")} AS cos
        |  FROM n CROSS JOIN qs WHERE n.vec_id <> qs.qid),
        | pool AS (SELECT qid, vec_id,
        |   CAST(FLOOR(cos * 1000000 + 0.5) AS BIGINT) AS rel_ppm
        |  FROM (SELECT qid, vec_id, cos, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
        |   FROM scored) WHERE rk <= $poolK),
        | sims AS (SELECT a.qid, a.vec_id AS va, b.vec_id AS vb,
        |   CAST(FLOOR(${cosDuck(dotDuck("na.q", "nb.q"), "na.n2", "nb.n2")}
        |     * 1000000 + 0.5) AS BIGINT) AS sim_ppm
        |  FROM pool a JOIN pool b ON a.qid = b.qid AND a.vec_id <> b.vec_id
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = b.vec_id),
        | sel1 AS (SELECT qid, vec_id, 1 AS sel_rank, rel_ppm,
        |   rel_ppm * $lam10 AS obj10
        |  FROM (SELECT qid, vec_id, rel_ppm, ROW_NUMBER() OVER (
        |    PARTITION BY qid ORDER BY rel_ppm DESC, vec_id) AS rn
        |   FROM pool) WHERE rn = 1),
        | $steps
        |SELECT qid, vec_id, sel_rank, rel_ppm, obj10 FROM sel$selectK"""
        .stripMargin
    },

    // identical sign literals (built once in Scala), identical
    // scaled-integer grid — the projection replays term-for-term
    "q220_jl_project" -> {
      val signs = jlSigns(16, 64)
      val projCols = signs.zipWithIndex.map { case (sv, j) =>
        sv.zipWithIndex.map { case (sgn, i) =>
          s"${if (sgn > 0) "+" else "-"} q[${i + 1}]"
        }.mkString(" ") + s" AS p$j"
      }.mkString(",\n   ")
      val n2p = (0 until 16).map(j => s"p$j * p$j").mkString(" + ")
      val ps = (0 until 16).map(j => s"p$j").mkString(", ")
      s"""WITH $prepCte,
        | pr AS (SELECT vec_id, n2,
        |   $projCols
        |  FROM n)
        |SELECT vec_id, $ps,
        | (($n2p) * 1000000) // greatest(16 * n2, 1) AS jl_n2_ppm
        |FROM pr""".stripMargin
    },

    // label centroids over ALL vectors (q129's integer-mean spelling),
    // ppm-fixed cosines, own-vs-best-foreign margins
    "q171_cluster_quality" ->
      s"""WITH $prepCte,
        | cm AS (SELECT label AS cl, i AS pos,
        |   CAST(SUM(q[i]) // COUNT(*) AS BIGINT) AS m
        |  FROM n, range(1, 65) t(i) GROUP BY 1, 2),
        | cc AS (SELECT cl, list(m ORDER BY pos) AS cq FROM cm GROUP BY 1),
        | cn AS (SELECT cl, cq,
        |   CAST(list_aggregate([cq[i]*cq[i] FOR i IN range(1,65)], 'sum')
        |        AS BIGINT) AS cn2 FROM cc),
        | sc AS (SELECT n.vec_id, n.label, cn.cl,
        |   CAST(FLOOR(${cosDuck(dotDuck("n.q", "cn.cq"), "n.n2", "cn.cn2")}
        |     * 1000000 + 0.5) AS BIGINT) AS cos_ppm
        |  FROM n CROSS JOIN cn),
        | per AS (SELECT vec_id, label,
        |   MAX(CASE WHEN label = cl THEN cos_ppm END) AS own,
        |   MAX(CASE WHEN label <> cl THEN cos_ppm END) AS other
        |  FROM sc GROUP BY 1, 2),
        | agg AS (SELECT label, count(*) AS n,
        |   CAST(SUM(own) AS BIGINT) // COUNT(*) AS own_ppm,
        |   CAST(SUM(other) AS BIGINT) // COUNT(*) AS other_ppm
        |  FROM per GROUP BY label)
        |SELECT label, n, own_ppm, other_ppm,
        | own_ppm - other_ppm AS margin_ppm FROM agg""".stripMargin,

    // q135's CTEs through the rank filter, then normalized undirected
    // edges and the ordered 3-way triangle join.
    "q166_knn_triangles" ->
      s"""WITH $prepCte,
        | $lshBandCtes,
        | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
        |  FROM b x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id <> y.vec_id),
        | sc AS (SELECT kc.qid, kc.vid,
        |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
        |  FROM kc JOIN n a ON a.vec_id = kc.qid
        |   JOIN n c ON c.vec_id = kc.vid),
        | rk AS (SELECT qid, vid,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, vid) AS rank FROM sc),
        | e AS (SELECT DISTINCT LEAST(qid, vid) AS a, GREATEST(qid, vid) AS b
        |   FROM rk WHERE rank <= 3)
        |SELECT e1.a, e1.b, e2.b AS c
        |FROM e e1 JOIN e e2 ON e2.a = e1.b
        | JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,

    "q199_label_prop" -> {
      // 3 LPA rounds as chained CTEs over q166's knn edge derivation
      val rounds = (1 to 3).map { k =>
        s"""v$k AS (SELECT ed.a, l.lbl, count(*) AS c
          |  FROM ed JOIN l${k - 1} l ON l.id = ed.b GROUP BY 1, 2),
          | a$k AS (SELECT a AS id, lbl FROM (SELECT a, lbl,
          |    row_number() OVER (PARTITION BY a ORDER BY c DESC, lbl)
          |      AS rn FROM v$k) WHERE rn = 1),
          | l$k AS (SELECT n.id, COALESCE(a$k.lbl, p.lbl) AS lbl
          |  FROM nodes n JOIN l${k - 1} p USING (id)
          |  LEFT JOIN a$k USING (id))""".stripMargin
      }.mkString(",\n ")
      s"""WITH $prepCte,
        | $lshBandCtes,
        | kc AS (SELECT DISTINCT x.vec_id AS qid, y.vec_id AS vid
        |  FROM b x JOIN br y ON x.band = y.band AND x.bucket = y.bucket
        |    AND x.vec_id <> y.vec_id),
        | sc AS (SELECT kc.qid, kc.vid,
        |    ${cosDuck(dotDuck("a.q", "c.q"), "a.n2", "c.n2")} AS cos
        |  FROM kc JOIN n a ON a.vec_id = kc.qid
        |   JOIN n c ON c.vec_id = kc.vid),
        | rk AS (SELECT qid, vid,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY cos DESC, vid) AS rank FROM sc),
        | e AS (SELECT DISTINCT LEAST(qid, vid) AS a, GREATEST(qid, vid) AS b
        |   FROM rk WHERE rank <= 3),
        | ed AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        | nodes AS (SELECT DISTINCT a AS id FROM ed),
        | l0 AS (SELECT id, id AS lbl FROM nodes),
        | $rounds
        |SELECT id AS vec_id, lbl AS community FROM l3""".stripMargin
    },

    "q137_weighted_sample" -> {
      val h16 = graft.functions.TextExpr.hexIntDuck(
        "md5(CAST(doc_id AS VARCHAR))", 4)
      s"""SELECT doc_id, lang, n_chars FROM documents
        |WHERE $h16 * 600 < n_chars * 65536""".stripMargin
    },

    // test x train band collisions -> exact-cosine top-3 -> majority
    // vote -> confusion matrix, over the shared band CTEs
    "q157_knn_classify" -> knnClassifySql,

    // one oracle chain, two gates: q238's metrics are derived from the
    // IDENTICAL confusion-matrix SQL as q157, so the two cannot drift
    "q238_classifier_metrics" ->
      s"""WITH cm AS ($knnClassifySql),
        | bt AS (SELECT true_label AS label,
        |   CAST(SUM(cnt) AS BIGINT) AS n_true FROM cm GROUP BY 1),
        | bp AS (SELECT pred AS label,
        |   CAST(SUM(cnt) AS BIGINT) AS n_pred FROM cm GROUP BY 1),
        | tp AS (SELECT true_label AS label, cnt AS tp0 FROM cm
        |  WHERE true_label = pred),
        | m AS (SELECT bt.label, bt.n_true,
        |   CAST(COALESCE(tp.tp0, 0) AS BIGINT) AS tp,
        |   CAST(COALESCE(tp.tp0 * 1000000 // bp.n_pred, 0) AS BIGINT)
        |     AS precision_ppm,
        |   CAST(COALESCE(tp.tp0 * 1000000 // bt.n_true, 0) AS BIGINT)
        |     AS recall_ppm
        |  FROM bt LEFT JOIN tp USING (label)
        |   LEFT JOIN bp USING (label))
        |SELECT label, n_true, tp, precision_ppm, recall_ppm,
        | CAST(CASE WHEN precision_ppm + recall_ppm = 0 THEN 0
        |   ELSE 2 * precision_ppm * recall_ppm
        |     // (precision_ppm + recall_ppm) END AS BIGINT) AS f1_ppm
        |FROM m""".stripMargin,

    "q239_class_weights" ->
      """WITH per AS (SELECT label, count(*) AS n FROM embeddings
        |  GROUP BY 1),
        | tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |   count(*) AS n_labels FROM per)
        |SELECT label, n,
        | CAST(total * 1000000 // (n_labels * n) AS BIGINT) AS w_ppm
        |FROM per CROSS JOIN tot""".stripMargin,

    "q240_embedding_audit" ->
      s"""WITH $prepCte
        |SELECT label, count(*) AS n_vecs,
        | CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_zero,
        | CAST(MIN(n2) AS BIGINT) AS min_n2,
        | CAST(MAX(n2) AS BIGINT) AS max_n2,
        | CAST(SUM(n2) // count(*) AS BIGINT) AS avg_n2,
        | CAST(count(DISTINCT dim) AS BIGINT) AS n_dims
        |FROM n GROUP BY 1""".stripMargin,

    // q62's full trained-IVF replay and an exact brute-force top-5,
    // each as a nested-WITH CTE, joined into the recall metric
    "q152_ann_recall" ->
      s"""WITH ivf AS ($ivfTrainedSql),
        | brute AS (WITH $prepCte,
        |  qs AS (SELECT vec_id AS qid, q AS qq, n2 AS qn2 FROM n
        |    WHERE vec_id BETWEEN 100 AND 109),
        |  scored AS (SELECT qs.qid, n.vec_id,
        |    ${cosDuck(dotDuck("n.q", "qs.qq"), "n.n2", "qs.qn2")} AS cos
        |   FROM n CROSS JOIN qs WHERE n.vec_id <> qs.qid),
        |  ranked AS (SELECT qid, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
        |      AS rank FROM scored)
        |  SELECT qid, vec_id FROM ranked WHERE rank <= 5),
        | hits AS (SELECT i.qid, count(*) AS n_hits FROM ivf i
        |  JOIN brute b ON b.qid = i.qid AND b.vec_id = i.vec_id
        |  GROUP BY 1),
        | qids AS (SELECT vec_id AS qid FROM embeddings
        |  WHERE vec_id BETWEEN 100 AND 109)
        |SELECT qids.qid, COALESCE(h.n_hits, 0) AS n_hits,
        | (COALESCE(h.n_hits, 0) * 1000000) // 5 AS recall_ppm
        |FROM qids LEFT JOIN hits h USING (qid)""".stripMargin,

    // Full-recompute LSH pairs restricted to those touching the 20%
    // batch: the incremental path must find exactly these.
    "q87_incr_embed_dedup" ->
      s"""WITH $prepCte,
        | $lshCtes
        |SELECT ida, idb, cos FROM scored WHERE cos >= 0.35
        |  AND (ida % 5 = 0 OR idb % 5 = 0)""".stripMargin,

    // the streamed-and-merged pair set must equal the same one-shot
    // batch-touching recompute (q87's oracle verbatim)
    "q295_stream_embed_dedup" ->
      s"""WITH $prepCte,
        | $lshCtes
        |SELECT ida, idb, cos FROM scored WHERE cos >= 0.35
        |  AND (ida % 5 = 0 OR idb % 5 = 0)""".stripMargin,

    // One pair machinery, two gates (q63 pairs / q75 clusters) — shared
    // CTEs so the spellings cannot drift apart.
    "q75_embed_dup_clusters" ->
      s"""WITH RECURSIVE $prepCte,
        | $lshCtes,
        | pairs AS (SELECT ida, idb FROM scored WHERE cos >= 0.35),
        | ed AS (SELECT ida AS src, idb AS dst FROM pairs
        |        UNION SELECT idb, ida FROM pairs),
        | cc AS (SELECT src AS n, src AS m FROM ed
        |        UNION SELECT e.dst, c.m FROM cc c JOIN ed e ON e.src = c.n)
        |SELECT n AS vec_id, MIN(m) AS canonical FROM cc GROUP BY n""".stripMargin,

    "q76_train_split" ->
      """SELECT doc_id,
        | CASE WHEN (strpos('0123456789abcdef',
        |   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) < 13
        |  THEN 'train' ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    "q81_hash_sample" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE (strpos('0123456789abcdef',
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) < 4""".stripMargin,

    "q89_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE (strpos('0123456789abcdef',
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
        | < CASE WHEN lang = 'en' THEN 4 ELSE 16 END""".stripMargin,

    // q164's full oracle embedded as a derived table (zero drift) +
    // the q43-shaped vector leg, fused by integer RRF
    "q264_rrf_fusion" ->
      s"""WITH $prepCte,
        | bm AS (SELECT doc_id, rank FROM
        |   (${graft.queries.Curation.oracles("q164_bm25")})),
        | vq AS (SELECT q AS qq, n2 AS qn2 FROM n WHERE vec_id = 100),
        | vs AS (SELECT n.vec_id AS doc_id,
        |    ${cosDuck(dotDuck("n.q", "vq.qq"), "n.n2", "vq.qn2")} AS cos
        |  FROM n CROSS JOIN vq WHERE n.vec_id <> 100),
        | vr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC,
        |    doc_id) AS rank FROM vs),
        | lists AS (SELECT doc_id, rank FROM bm
        |  UNION ALL SELECT doc_id, rank FROM vr WHERE rank <= 20),
        | f AS (SELECT doc_id,
        |   CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf,
        |   count(*) AS n_lists
        |  FROM lists GROUP BY 1)
        |SELECT doc_id, rrf, n_lists FROM f
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    // q62's k-means CTE chain to final cells, then the c-TF-IDF scoring
    "q263_cluster_terms" ->
      s"""WITH $prepCte,
        | c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cent_id,
        |   q AS cq, n2 AS cn2 FROM (SELECT * FROM n ORDER BY vec_id LIMIT 8)),
        | ${assignDuck("c0", "a1", 1)},
        | ${recomputeDuck("a1", "c1")},
        | ${assignDuck("c1", "a2", 1)},
        | ${recomputeDuck("a2", "c2")},
        | ${assignDuck("c2", "cells", 1)},
        | cd AS (SELECT vec_id AS doc_id, cent_id FROM cells),
        | tk AS (SELECT doc_id,
        |   unnest(${graft.functions.TextExpr.toksDuck("text")}) AS term
        |  FROM documents),
        | ct AS (SELECT cent_id, term, count(*) AS ctf
        |  FROM tk JOIN cd USING (doc_id) GROUP BY 1, 2),
        | dfc AS (SELECT term, count(*) AS dfc FROM ct GROUP BY 1),
        | sc AS (SELECT ct.cent_id, ct.term, ct.ctf, dfc.dfc,
        |   ct.ctf * ((8 * 1000000) // dfc.dfc) AS score
        |  FROM ct JOIN dfc USING (term)),
        | rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY cent_id
        |     ORDER BY score DESC, term) AS BIGINT) AS rk FROM sc)
        |SELECT cent_id, term, ctf, dfc, score, rk FROM rk
        |WHERE rk <= 3""".stripMargin,

    "q69_doc_embed_join" ->
s"""WITH $prepCte
        |SELECT d.lang, n.label, COUNT(*) AS n,
        | CAST(SUM(n.n2) AS BIGINT) AS sum_n2
        |FROM n JOIN documents d ON d.doc_id = n.vec_id
        |WHERE d.n_chars BETWEEN 150 AND 450
        |GROUP BY d.lang, n.label""".stripMargin,

    "q61_image_decode" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(8 + doc_id % 24 AS INT) AS width,
        |   CAST(8 + (doc_id // 7) % 24 AS INT) AS height
        | FROM documents)
        |SELECT doc_id, width, height, CAST(1 AS INT) AS channels,
        | CAST(list_aggregate(
        |   [(doc_id*31 + (i % width)*7 + (i // width)) % 256
        |    FOR i IN range(0, CAST(width AS BIGINT) * height)],
        |   'sum') AS BIGINT) AS px_sum
        |FROM d""".stripMargin,

    // Replays the synthesized PCM: sample(i) = (id*17 + 5i) % 256 over
    // 256 + id%256 samples, 8 kHz / 8-bit / mono.
    "q92_audio_decode" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(256 + doc_id % 256 AS BIGINT) AS n_samples FROM documents)
        |SELECT doc_id, n_samples, CAST(8000 AS INT) AS sample_rate,
        | CAST(8 AS INT) AS bits, CAST(1 AS INT) AS channels,
        | CAST(list_aggregate(
        |   [(doc_id*17 + i*5) % 256 FOR i IN range(0, n_samples)],
        |   'sum') AS BIGINT) AS sample_sum
        |FROM d""".stripMargin,

    // per-window replay of the synthesized sample function
    "q162_audio_energy" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(256 + doc_id % 256 AS BIGINT) AS ns FROM documents),
        | f AS (SELECT doc_id, ns,
        |   unnest(range(0, (ns + 63) // 64)) AS fi FROM d)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        | CAST(LEAST(CAST(64 AS BIGINT), ns - fi * 64) AS INT) AS n,
        | CAST(list_aggregate(
        |   [((doc_id*17 + i*5) % 256) * ((doc_id*17 + i*5) % 256)
        |    FOR i IN range(fi * 64, least(ns, fi * 64 + 64))],
        |   'sum') AS BIGINT) AS energy
        |FROM f""".stripMargin,

    // sample function (id*17 + i*5) % 256 over ns = 256 + id % 256
    "q251_audio_clipping" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(256 + doc_id % 256 AS BIGINT) AS ns FROM documents),
        | s AS (SELECT doc_id, ns,
        |   unnest([(doc_id*17 + i*5) % 256 FOR i IN range(0, ns)]) AS v
        |  FROM d)
        |SELECT doc_id, CAST(MAX(ns) AS BIGINT) AS n_samples,
        | CAST(SUM(CASE WHEN v IN (0, 255) THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_rail,
        | CAST(MAX(ABS(v - 128)) AS BIGINT) AS peak_dev,
        | CAST(SUM(CASE WHEN v IN (0, 255) THEN 1 ELSE 0 END) AS BIGINT)
        |   * 1000000 // CAST(MAX(ns) AS BIGINT) AS clip_ppm
        |FROM s GROUP BY 1""".stripMargin,

    // pixel function (id*31 + x*7 + y) % 256 bucketed into 16 bins
    "q163_pixel_histogram" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(8 + doc_id % 24 AS INT) AS wi,
        |   CAST(8 + (doc_id // 7) % 24 AS INT) AS hi FROM documents),
        | px AS (SELECT doc_id,
        |   unnest([(doc_id*31 + (i % wi)*7 + (i // wi)) % 256
        |     FOR i IN range(0, wi * hi)]) AS v FROM d)
        |SELECT doc_id, CAST(v // 16 AS INT) AS bin, count(*) AS n
        |FROM px GROUP BY 1, 2""".stripMargin,

    // per-frame replay of the synthesized GIF pixel function
    "q184_gif_frames" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(2 + doc_id % 4 AS INT) AS nf FROM documents),
        | f AS (SELECT doc_id, unnest(range(0, nf)) AS fi FROM d)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        | CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        | CAST(list_aggregate(
        |   [(doc_id*31 + fi*11 + (i % 8)*7 + (i // 8)) % 256
        |    FOR i IN range(0, 64)], 'sum') AS BIGINT) AS px_sum
        |FROM f""".stripMargin,

    // q184's frame replay -> distinct per-doc fingerprints -> shared
    // fingerprint counting -> containment-normalized overlap.
    "q216_video_dup" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(2 + doc_id % 4 AS INT) AS nf FROM documents),
        | f AS (SELECT doc_id, unnest(range(0, nf)) AS fi FROM d),
        | fr AS (SELECT doc_id, CAST(list_aggregate(
        |   [(doc_id*31 + fi*11 + (i % 8)*7 + (i // 8)) % 256
        |    FOR i IN range(0, 64)], 'sum') AS BIGINT) AS fp FROM f),
        | fd AS (SELECT DISTINCT doc_id, fp FROM fr),
        | sz AS (SELECT doc_id, count(*) AS nf FROM fd GROUP BY 1),
        | sh AS (SELECT x.doc_id AS ida, y.doc_id AS idb,
        |   count(*) AS shared
        |  FROM fd x JOIN fd y ON x.fp = y.fp AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT sh.ida, sh.idb, sh.shared,
        | a.nf AS nfa, b.nf AS nfb,
        | (sh.shared * 1000000) // least(a.nf, b.nf) AS overlap_ppm
        |FROM sh JOIN sz a ON a.doc_id = sh.ida
        | JOIN sz b ON b.doc_id = sh.idb""".stripMargin,

    // Replays the aHash pipeline: synthesized pixel function through
    // the 8x8 floor-index resample, exact-integer mean threshold,
    // row-major bit pack into two unsigned 32-bit halves.
    "q165_image_ahash" ->
      s"""WITH $ahashCte
        |SELECT ahash_hi, ahash_lo, count(*) AS n_docs,
        | MIN(doc_id) AS rep_doc
        |FROM ah GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // BRUTE-FORCE all-pairs Hamming join over the replayed hashes: the
    // chunk-banded Spark side must find EXACTLY these pairs (pigeonhole
    // recall proof — the oracle has no banding to agree with by
    // accident).
    "q185_ahash_near_dup" ->
      s"""WITH $ahashCte
        |SELECT x.doc_id AS ida, y.doc_id AS idb,
        | CAST(bit_count(xor(x.ahash_hi, y.ahash_hi))
        |   + bit_count(xor(x.ahash_lo, y.ahash_lo)) AS INT) AS hamming
        |FROM ah x JOIN ah y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.ahash_hi, y.ahash_hi))
        |   + bit_count(xor(x.ahash_lo, y.ahash_lo)) <= 3""".stripMargin,

    // every Hamming<=3 pair with at least one member in the batch
    // slice — brute force over the replayed hashes (no banding, no
    // index to agree with by accident)
    "q188_incr_image_dedup" ->
      s"""WITH $ahashCte
        |SELECT x.doc_id AS ida, y.doc_id AS idb,
        | CAST(bit_count(xor(x.ahash_hi, y.ahash_hi))
        |   + bit_count(xor(x.ahash_lo, y.ahash_lo)) AS INT) AS hamming
        |FROM ah x JOIN ah y ON x.doc_id < y.doc_id
        | AND (x.doc_id % 5 = 0 OR y.doc_id % 5 = 0)
        |WHERE bit_count(xor(x.ahash_hi, y.ahash_hi))
        |   + bit_count(xor(x.ahash_lo, y.ahash_lo)) <= 3""".stripMargin,

    // the streamed-and-merged pair set must equal the one-shot
    // batch-touching brute force (q188's oracle verbatim)
    "q291_stream_image_dedup" ->
      s"""WITH $ahashCte
        |SELECT x.doc_id AS ida, y.doc_id AS idb,
        | CAST(bit_count(xor(x.ahash_hi, y.ahash_hi))
        |   + bit_count(xor(x.ahash_lo, y.ahash_lo)) AS INT) AS hamming
        |FROM ah x JOIN ah y ON x.doc_id < y.doc_id
        | AND (x.doc_id % 5 = 0 OR y.doc_id % 5 = 0)
        |WHERE bit_count(xor(x.ahash_hi, y.ahash_hi))
        |   + bit_count(xor(x.ahash_lo, y.ahash_lo)) <= 3""".stripMargin,

    // Replays q84's nearest-neighbor rescale: output pixel (X,Y) reads
    // synthesized input pixel (X*w_in//16, Y*h_in//16), whose value is
    // the q61 pixel function (id*31 + x*7 + y) % 256.
    "q84_image_resize" ->
      """WITH d AS (SELECT doc_id,
        |   CAST(8 + doc_id % 24 AS INT) AS wi,
        |   CAST(8 + (doc_id // 7) % 24 AS INT) AS hi
        | FROM documents)
        |SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        | CAST(list_aggregate(
        |   [(doc_id*31 + (((i % 16) * wi) // 16)*7 + (((i // 16) * hi) // 16)) % 256
        |    FOR i IN range(0, 256)], 'sum') AS BIGINT) AS px_sum
        |FROM d""".stripMargin
  )
}
