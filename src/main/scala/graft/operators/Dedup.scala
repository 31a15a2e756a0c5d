package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextExpr._

/** Deduplication operators for LLM data pipelines (SURVEY.md §2.11).
  *
  * Scale discipline (100 TB): every variant is shuffle-bounded —
  *  - exact dedup: one hash-aggregate on a 128-bit fingerprint;
  *  - MinHash-LSH: candidate generation via band-key equi-join (only
  *    docs sharing a band collide; never all-pairs), then exact Jaccard
  *    verification on the candidates only;
  *  - SimHash: explode + one hash-aggregate per doc;
  *  - n-gram Jaccard: all-pairs only *within caller-supplied blocking
  *    keys* (language, length band, …) so the quadratic term is bounded
  *    by block size.
  * Nothing gathers to the driver. All hashing is md5-hex based and
  * integer-decoded, so results are engine-portable (see TextExpr).
  */
object Dedup {

  /** doc → normalized tokens + distinct 3-gram shingle set. Tokenization
    * uses the fused native expression (functions.TextNative), whose
    * output is spec-identical to TextExpr.toksSpark. */
  def withShingles(df: DataFrame, textCol: String): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    // ONE fused native pass (functions.ShinglesExpr — see its scaladoc
    // for why the declarative stacked-alias spelling is both slower
    // per element and exposed to pushed-predicate alias inlining).
    // Par.widen: shingling is the text family's per-row hot loop — a
    // bytes-sized scan plans far too few splits for it (r13 sf10).
    Par.widen(df).withColumn("sh", expr(s"graft_shingles($textCol)"))
      .withColumn("shset", array_distinct(col("sh")))
  }

  /** Exact-duplicate fingerprint: md5 of the sorted distinct token set
    * (classic "key collision" fingerprinting). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    Par.widen(df).withColumn("toks", expr(s"graft_tokens($textCol)"))
      .select(col(idCol), expr(fingerprintSpark("toks")).as("fp"))
  }

  /** Exact-dup clusters: one row per fingerprint with the canonical
    * (minimum) id and member count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    fingerprint(df, idCol, textCol)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical"))

  /** Prefix-filter similarity join (AllPairs/PPJoin family): ALL pairs
    * with shingle-set Jaccard >= tNum/tDen — EXACT RECALL, unlike
    * MinHash-LSH's probabilistic candidates. Prefix-filter theorem:
    * under any fixed global element order (lexicographic here), two
    * sets with Jaccard >= t must share an element among each set's
    * first n − ⌈t·n⌉ + 1 elements — so candidates come from an
    * equi-join on PREFIX elements only, then exact verification via
    * pure integer cross-multiplication (inter·tDen >= uni·tNum; no
    * float threshold). Choose LSH (q39) when approximate recall is
    * acceptable and sets are hostile to prefixes; choose this when the
    * answer must be complete (legal/contractual dedup, eval-set
    * hygiene).
    *
    * `dfOrdered = true` (default) canonically orders every set by
    * ASCENDING corpus document frequency (ties → lexicographic) — the
    * Chaudhuri/Vernica prefix-filter optimization: prefixes then carry
    * each set's RAREST elements, so the candidate equi-join fans out
    * by the df of rare tokens instead of whatever happens to sort
    * first alphabetically. The pigeonhole theorem holds under ANY one
    * global order, so the pair set is identical either way (the spec
    * pins both facts); the price is one extra (doc, element) shuffle
    * to attach frequencies — at 100 TB that linear pass is noise next
    * to the quadratic-in-df candidate blowup it prevents. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      tNum: Int = 1, tDen: Int = 2,
      dfOrdered: Boolean = true): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen)
    val sets = orderedSets(df, idCol, textCol, dfOrdered)
      // prefix length = n - ceil(t*n) + 1, all integer
      .withColumn("plen",
        expr(s"n - (($tNum * n + ${tDen - 1}) DIV $tDen) + 1"))
    val cand = prefixCandidates(sets, idCol)
    val a = sets.select(col(idCol).as("ida"), col("ss").as("sa"),
      col("n").as("na"))
    val b = sets.select(col(idCol).as("idb"), col("ss").as("sb"),
      col("n").as("nb"))
    cand.join(a, "ida").join(b, "idb")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * tDen >= col("uni") * tNum)
      .select("ida", "idb", "inter", "uni")
  }

  /** (idCol, ss, n): each doc's distinct shingle set under the chosen
    * global order — lexicographic, or ascending-df with lexicographic
    * ties (one extra linear shuffle to attach frequencies). */
  private[graft] def orderedSets(df: DataFrame, idCol: String,
      textCol: String, dfOrdered: Boolean): DataFrame = {
    val base = withShingles(df, textCol).select(col(idCol), col("shset"))
    val ordered =
      if (!dfOrdered) base.select(col(idCol), array_sort(col("shset")).as("ss"))
      else {
        val pairs = base.select(col(idCol), explode(col("shset")).as("el"))
        val freq = pairs.groupBy("el").agg(count(lit(1)).as("dfc"))
        pairs.join(freq, "el")
          .groupBy(idCol)
          .agg(expr(
            "transform(array_sort(collect_list(struct(dfc, el))), x -> x.el)")
            .as("ss"))
      }
    ordered.withColumn("n", size(col("ss"))).filter(col("n") > 0)
  }

  /** The prefix-collision candidate pairs of a `sets` frame carrying
    * (idCol, ss, plen) — split out so the spec can count how much the
    * df ordering shrinks the candidate set before verification. */
  private[graft] def prefixCandidates(sets: DataFrame,
      idCol: String): DataFrame = {
    val pref = sets.select(col(idCol),
      explode(expr("slice(ss, 1, plen)")).as("p"))
    pref.as("x").join(pref.as("y"),
        col("x.p") === col("y.p") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"))
      .dropDuplicates("ida", "idb")
  }

  /** Directed CONTAINMENT join: pairs (a, b) with
    * |A∩B| / |A| >= tNum/tDen — "doc a's content is (mostly) inside
    * doc b", the quote/subset detector symmetric Jaccard structurally
    * misses (a small doc embedded in a large one has LOW Jaccard, so
    * neither MinHash bands nor the Jaccard prefix filter can find it).
    * Same prefix-filter pigeonhole as [[prefixJaccardPairs]] applied
    * one-sided: if |A∩B| >= t·|A|, then B contains one of A's first
    * n − ⌈t·n⌉ + 1 elements under any one global order — so candidates
    * come from A-prefix elements equi-joined against B's FULL element
    * list (the asymmetric cost: the container side explodes fully,
    * bounded by per-element document frequency), verify is integer
    * cross-multiplication. EXACT recall. A-prefixes are df-ordered by
    * default (as [[prefixJaccardPairs]]): the contained side's prefix
    * then probes with its RAREST elements, which is what bounds the
    * equi-join against the fully-exploded container side. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      tNum: Int = 3, tDen: Int = 4,
      dfOrdered: Boolean = true): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen)
    val sets = orderedSets(df, idCol, textCol, dfOrdered)
    val prefA = sets
      .withColumn("plen",
        expr(s"n - (($tNum * n + ${tDen - 1}) DIV $tDen) + 1"))
      .select(col(idCol).as("ida"), explode(expr("slice(ss, 1, plen)")).as("p"))
    val allB = sets.select(col(idCol).as("idb"), explode(col("ss")).as("p"))
    val cand = prefA.join(allB,
        prefA("p") === allB("p") && col("ida") =!= col("idb"))
      .select("ida", "idb").dropDuplicates("ida", "idb")
    val a = sets.select(col(idCol).as("ida"), col("ss").as("sa"),
      col("n").as("na"))
    val b = sets.select(col(idCol).as("idb"), col("ss").as("sb"))
    cand.join(a, "ida").join(b, "idb")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(col("inter") * tDen >= col("na") * tNum)
      .select(col("ida"), col("idb"),
        col("inter").cast("long").as("inter"),
        col("na").cast("long").as("na"))
  }

  /** MinHash signature: k lexicographic-min seeded md5s over shingles.
    * Returns id, shset, s0..s{k-1}. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val base = withShingles(df, textCol)
      .withColumn("_sig", expr(s"graft_minhash($textCol, $k)"))
    val sigs = (0 until k).map(i =>
      element_at(col("_sig"), i + 1).as(s"s$i"))
    base.select(col(idCol) +: col("shset") +: sigs: _*)
  }

  /** MinHash-LSH near-duplicate pairs, exact-Jaccard-verified.
    *
    * k signature components are grouped into `k/rows` bands; docs sharing
    * any band key become candidates (the [[Banded]] band-key equi-join —
    * the shuffle-bounded step); candidates are verified with exact
    * Jaccard over distinct shingle sets and filtered by `threshold`.
    *
    * The collision side is capped at `bucketCap` per bucket (identity at
    * gated scale; [[BucketCap]]'s hash rule above it), so a degenerate
    * band value — the boilerplate-heavy near-dup-rich corpus this
    * operator exists for — costs `nBands × N × cap` candidates (linear
    * in N) instead of Σ n_b² before verify. Every doc still probes with
    * its full band set, so recall is exact only for buckets at or under
    * the cap; above it the cap trades bounded recall, never precision
    * (all emitted pairs are exact-verified). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = AdaptiveMinhash, rows: Int = AdaptiveMinhash,
      threshold: Double = 0.5,
      bucketCap: Int = BucketCap.DefaultCap): DataFrame = {
    val (kk, rr) = resolveMinhash(df, k, rows)
    graft.functions.TextNative.register(df.sparkSession)
    // Signatures only (~100 B/doc), cached so band construction can't
    // re-evaluate the minhash per band reference
    val sig = Scratch.cache(Par.widen(df).select(col(idCol),
      expr(s"graft_minhash($textCol, $kk)").as("_sig")))
    val cand = Banded.pairs(bandsOf(sig, idCol, kk, rr), bandLayout(idCol),
      bucketCap)
    verifyJaccard(cand, df, idCol, textCol, threshold)
  }

  /** The text band table's [[Banded.Layout]]: md5 band values are
    * unbounded-cardinality, so no size table over them is broadcast
    * corpus-wide (an incremental probe counts its batch instead). */
  private[graft] def bandLayout(idCol: String): Banded.Layout =
    Banded.Layout(Seq("bi", "bv"), idCol, None)

  private val Banding = Banded.Params("k", "rows", "writeBandIndex")

  /** Sentinel default for `k`/`rows`: resolve the minhash banding from
    * the corpus count at plan-build time ([[adaptiveMinhashParams]]).
    * Pass explicit values to pin a banding (persisted-index probes must
    * match their index — see the `_banding` metadata). */
  val AdaptiveMinhash: Int = Banded.Adaptive

  /** Scale-adaptive minhash banding (k signature size, rows per band):
    * rows r grows by ONE per decade past 65,536 docs, clamped to
    * [2, 4]; the band count grows as b = 2^r, so the LSH S-curve
    * midpoint (1/b)^(1/r) stays EXACTLY at the 0.5 Jaccard threshold
    * every operator here defaults to — recall AT the threshold is
    * preserved by construction while sub-threshold collision mass
    * (what overfills buckets past BucketCap and erodes capped recall
    * at scale) falls geometrically: a pair at jaccard j collides per
    * band with probability j^r. k = r · 2^r: (8, 2) → (24, 3) →
    * (64, 4). Every gated corpus (≤ 50k docs at sf1) resolves to
    * (8, 2), the constants the oracles interpolate. At sf10
    * (tools.TextScaleProbe, SURVEY §6) (8,2) and (24,3) both recover
    * recall 1.0 at near-identical cost: the tier is kept for the
    * S-curve-midpoint invariant on adversarial corpora, not to rescue a
    * measured collapse. */
  def adaptiveMinhashParams(n: Long): (Int, Int) = {
    require(n >= 0)
    val r = if (n <= 65536L) 2 else if (n <= 655360L) 3 else 4
    (r * (1 << r), r)
  }

  /** Resolve a (k, rows) pair that may carry the [[AdaptiveMinhash]]
    * sentinel ([[Banded.resolve]]). */
  private def resolveMinhash(df: DataFrame, k: Int, rows: Int)
      : (Int, Int) =
    Banded.resolve(df, Banding, k, rows, adaptiveMinhashParams)

  /** Band rows (id, bi, bv) from a signature frame (id, _sig). */
  private def bandsOf(sig: DataFrame, idCol: String, k: Int, rows: Int)
      : DataFrame = {
    val nBands = k / rows
    val bandCols = (0 until nBands).map { b =>
      val parts = (b * rows until (b + 1) * rows)
        .map(i => element_at(col("_sig"), i + 1))
      struct(lit(b).as("bi"), md5(concat(parts: _*)).as("bv"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.bi").as("bi"), col("band.bv").as("bv"))
      .filter(col("bv").isNotNull)
  }

  /** MinHash band table (id, bi, bv) for a corpus — the LSH key table
    * [[writeBandIndex]] persists and [[incrementalPairs]] probes. */
  def bandTable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, rows: Int = 2): DataFrame = {
    require(k % rows == 0,
      s"band rows ($rows) must divide signature size ($k)")
    graft.functions.TextNative.register(df.sparkSession)
    bandsOf(Par.widen(df).select(col(idCol),
      expr(s"graft_minhash($textCol, $k)").as("_sig")), idCol, k, rows)
  }

  /** Exact-Jaccard verify: recompute shingle sets for candidate docs
    * only (from `df`, which must cover every id in `cand`). Near-dup
    * candidates are a vanishing fraction of a 100 TB corpus —
    * recomputing beats carrying a shingle array per doc through the
    * shuffle. `oneShot` follows [[Banded]]'s storage convention: a
    * loop caller's verify pins nothing. */
  private def verifyJaccard(cand0: DataFrame, df: DataFrame, idCol: String,
      textCol: String, threshold: Double,
      oneShot: Boolean = true): DataFrame = {
    // referenced three times below: one eager cut (id pairs only) makes
    // each reference a scan, not a re-planned collision-join subtree
    val cand = if (oneShot) Scratch.cut(cand0) else cand0
    val candIds = cand.select(col("ida").as(idCol))
      .union(cand.select(col("idb").as(idCol))).distinct()
    // read twice (sa/sb): cached, candidate docs are shingled once
    val sets0 = withShingles(df.join(candIds, idCol), textCol)
      .select(col(idCol), col("shset"))
    val sets = if (oneShot) Scratch.cache(sets0) else sets0
    val sa = sets.select(col(idCol).as("ida"), col("shset").as("seta"))
    val sb = sets.select(col(idCol).as("idb"), col("shset").as("setb"))
    cand.join(sa, "ida").join(sb, "idb")
      .withColumn("inter", size(array_intersect(col("seta"), col("setb"))))
      .withColumn("uni",
        size(col("seta")) + size(col("setb")) - col("inter"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= threshold)
      .select("ida", "idb", "jac")
  }

  /** Persist a corpus's minhash band table BUCKETED on the band key —
    * the "index build" half of incremental dedup ([[Banded.writeIndex]]:
    * crash-ordered, with `_banding` and `_sizes` side tables). Pay the
    * corpus shuffle once at write time; every later batch probes it with
    * zero corpus-side exchange ([[incrementalPairs]]). The banding
    * (defaults adaptive) is recorded, so a probe never silently bands
    * differently from its index. */
  def writeBandIndex(df: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = AdaptiveMinhash, rows: Int = AdaptiveMinhash,
      nBuckets: Int = 32): Unit = {
    val (kk, rr) = resolveMinhash(df, k, rows)
    Banded.writeIndex(bandTable(df, idCol, textCol, kk, rr), bandLayout(idCol),
      table, nBuckets, Some((Banding, (kk, rr))))
  }

  /** Incremental near-dup dedup: pairs touching a NEW batch, against a
    * [[writeBandIndex]]-persisted corpus — the daily-ingest shape a
    * production pipeline runs (the one-shot [[minhashPairs]] recomputes
    * the whole corpus every time).
    *
    * Candidates come from [[Banded.probe]] (only the batch moves), then
    * exact-Jaccard verification reading texts from `verifySource` (must
    * cover corpus + batch ids). Result = exactly [[minhashPairs]] over
    * (corpus ∪ batch) restricted to pairs with at least one batch
    * member, for disjoint batches. The probe bands as the index did:
    * the recorded banding is read back and any explicit k/rows are
    * cross-checked against it. `batchBands`: a caller-owned
    * [[bandTable]] of the batch ([[Banded]]'s storage convention); a
    * long-lived loop calling this per batch must pass one. */
  def incrementalPairs(batch: DataFrame, bandIndexTable: String,
      verifySource: DataFrame, idCol: String, textCol: String,
      k: Int = AdaptiveMinhash, rows: Int = AdaptiveMinhash,
      threshold: Double = 0.5,
      batchBands: Option[DataFrame] = None,
      bucketCap: Int = BucketCap.DefaultCap): DataFrame = {
    val (kk, rr) = Banded.recorded(batch.sparkSession, bandIndexTable,
      Banding, k, rows)
    val cand = Banded.probe(bandIndexTable, batchBands,
      bandTable(batch, idCol, textCol, kk, rr), bandLayout(idCol), bucketCap)
      .distinct()
    verifyJaccard(cand, verifySource, idCol, textCol, threshold,
      oneShot = batchBands.isEmpty)
  }

  /** LSH band-configuration tuning audit: for each candidate (bands ×
    * rows) split of the k-component MinHash signature, measure the
    * config's candidate count, recall, and precision against EXACT
    * ground truth — the numbers that decide how a 100 TB dedup run
    * spends its shuffle budget (more bands = higher recall, more
    * candidate volume). Everything is bounded:
    *   - the audit runs on a deterministic md5 doc sample
    *     (`sampleNibbles`/16 of the corpus, pushdown-able filter);
    *   - ground truth comes from [[prefixJaccardPairs]] — the
    *     exact-RECALL prefix-filter join, so no all-pairs scan exists
    *     even inside the audit;
    *   - per config, candidates are the same capped band equi-join
    *     [[minhashPairs]] runs ([[Banded.pairs]]), so the audit
    *     measures the candidate volume the production operator would
    *     actually generate (and inherits its linear bound).
    * Output: one row per config — n_bands, band_rows, n_cand, n_truth,
    * n_hit, recall_ppm, prec_ppm (exact integer ppm). The three
    * one-row aggregates combine via 1-row broadcast joins (benign
    * BNLJ, allow-listed in the plan audit). */
  def lshTuningAudit(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, rowConfigs: Seq[Int] = Seq(1, 2, 4),
      tNum: Int = 1, tDen: Int = 2, sampleNibbles: Int = 8,
      bucketCap: Int = BucketCap.DefaultCap): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    val sample = Sampling.hashSample(df, idCol, sampleNibbles)
    val truth = prefixJaccardPairs(sample, idCol, textCol, tNum, tDen)
      .select("ida", "idb")
    val truthN = truth.agg(count(lit(1)).as("n_truth"))
    val sig = sample.select(col(idCol),
      expr(s"graft_minhash($textCol, $k)").as("_sig"))
    rowConfigs.map { r =>
      val cand = Banded.pairs(bandsOf(sig, idCol, k, r), bandLayout(idCol),
        bucketCap)
      val candN = cand.agg(count(lit(1)).as("n_cand"))
      val hitN = cand.join(truth, Seq("ida", "idb"))
        .agg(count(lit(1)).as("n_hit"))
      candN.crossJoin(hitN).crossJoin(truthN)
        .select(lit(k / r).as("n_bands"), lit(r).as("band_rows"),
          col("n_cand"), col("n_truth"), col("n_hit"),
          expr("n_hit * 1000000 DIV greatest(n_truth, 1)")
            .as("recall_ppm"),
          expr("n_hit * 1000000 DIV greatest(n_cand, 1)")
            .as("prec_ppm"))
    }.reduce(_ union _)
  }

  /** MOSS-style robust-winnowing fingerprints (Schleimer et al. 2003):
    * per doc, hash the in-order word 3-grams (md5 hex — lexicographic
    * min == 128-bit numeric min) and keep the MINIMUM hash of every
    * sliding window of `w` consecutive gram hashes; the distinct
    * selected mins are the doc's fingerprint set, exploded to
    * (id, n_fp, fp) rows. Winnowing's guarantee: any shared substring
    * of >= w+2 grams yields at least one shared fingerprint, while
    * storing only ~2/(w+1) of the grams — the standard
    * plagiarism/overlap detector at corpus scale. All per-row array
    * ops, no shuffle until the caller aggregates. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      w: Int = 4): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    // ONE fused native pass (functions.WinnowExpr). The previous
    // declarative spelling — array_distinct over transform(sequence,
    // i -> array_min(slice(gh, i, w))) — was an optimizer trap:
    // PushDownPredicates substitutes the aliased gram chain into the
    // downstream explode/join's inferred filters, re-running
    // tokenize+shingle+md5 PER WINDOW element — O(tokens²) per doc
    // (see WinnowExpr's scaladoc and ScaleSpec's detector regression).
    // q219 was the one query the r10/r11 sf1 sweeps could not finish
    // (2h+); the fused pass is O(tokens × w).
    Par.widen(df).withColumn("fps", expr(s"graft_winnow($textCol, $w)"))
      .select(col(idCol), size(col("fps")).as("n_fp"),
        explode(col("fps")).as("fp"))
  }

  /** Winnowed-fingerprint overlap pairs: docs sharing >= `minShared`
    * fingerprints, with the shared count and an overlap ratio in exact
    * ppm of the smaller fingerprint set. The pair generator is ONE
    * equi-join on the fingerprint value — the same shuffle-bounded
    * shape as the MinHash band join — and `maxPostings` drops
    * fingerprints shared by more docs than that (boilerplate mins)
    * BEFORE the join, so a template phrase in a billion docs caps the
    * join fanout instead of producing a quadratic bucket. */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
      w: Int = 4, minShared: Int = 2, maxPostings: Int = 50): DataFrame = {
    val fp = winnowingFingerprints(df, idCol, textCol, w)
    val cold = fp.groupBy("fp").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxPostings)
    val keep = fp.join(cold.select("fp"), "fp")
    keep.as("x").join(keep.as("y"),
        col("x.fp") === col("y.fp") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .groupBy(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"),
        col("x.n_fp").as("nfa"), col("y.n_fp").as("nfb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("ida"), col("idb"), col("n_shared"),
        expr("n_shared * 1000000 DIV least(nfa, nfb)").as("ov_ppm"))
  }

  /** 32-bit SimHash per doc (docs with zero tokens produce no row, like
    * the oracle's unnest). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    // ONE fused per-doc pass (functions.SimHashExpr; NULL = zero-token
    // doc = "no row", the explode+groupBy contract). The declarative
    // explode shape shuffled a token-level row stream (~200× corpus
    // rows) into the per-doc aggregation, with an interpreted
    // md5+nibble projection and `bits` SUMs per token row on the way.
    // Fused: each token hashes once, and the operator is a narrow
    // map — no shuffle (Par.widen only repairs a too-narrow source).
    Par.widen(df).select(col(idCol),
        expr(s"graft_simhash($textCol, 32)").as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** `bits`-wide simhash (Manku-style fingerprint; q40's 32-bit
    * [[simhash]] stays as the reference-surface shape). Uses bits/4 md5
    * nibbles per token. */
  def simhashWide(df: DataFrame, idCol: String, textCol: String,
      bits: Int): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    // same fused shape as [[simhash]] (see the rationale there)
    Par.widen(df).select(col(idCol),
        expr(s"graft_simhash($textCol, $bits)").as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`
    * (must be < 4 for exactness): a 60-bit fingerprint splits into 4
    * 15-bit chunks, and by pigeonhole any pair within Hamming 3 shares
    * at least one exact chunk — so candidates come from the [[Banded]]
    * chunk equi-join (uncapped: recall is exact) and only candidates
    * pay the bit_count(xor) verification, row-local on chunk rows that
    * carry the fingerprint. Chunk width is the scale lever: 15-bit
    * chunks give 4x32768 join buckets, so random collisions are
    * ~N²/131072 rather than the near-all-pairs an 8-bit chunking would
    * produce — and the chunk table is cached (4 × ~24 B/doc) so its
    * plan references don't re-tokenize the corpus. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "4 chunks only guarantee recall for Hamming <= 3")
    val chunks = Scratch.cache(simhashWide(df, idCol, textCol, bits = 60)
      .select(col(idCol), col("simhash"), posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(simhash, c * 15) & 32767)"))
        .as(Seq("ci", "cv"))))
    Banded.selfJoin(chunks,
        Banded.Layout(Seq("ci", "cv"), idCol, Some(4L << 15)), Banded.Uncapped)
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The admission decision an ingest pipeline actually outputs: keep
    * each batch doc unless it near-dups the corpus (the corpus member
    * is already admitted, so it always wins) or a smaller-id batch
    * member (the batch's own canonical). `pairs` is
    * [[incrementalPairs]] output (ida < idb, every pair touches the
    * batch): a batch doc is rejected when it appears as `idb` (the
    * other side is smaller — corpus or batch, either way it wins), or
    * as `ida` of a pair whose `idb` is outside the batch (a larger-id
    * corpus doc). Two anti-join-shaped set ops — no new shuffle
    * machinery at any scale. */
  def admitBatch(batch: DataFrame, pairs: DataFrame, idCol: String)
      : DataFrame = {
    val rejectedAsB = pairs.select(col("idb").as(idCol))
    val rejectedAsA = pairs
      .join(batch.select(col(idCol).as("idb")), Seq("idb"), "left_anti")
      .select(col("ida").as(idCol))
    batch.join(rejectedAsB.union(rejectedAsA).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Connected components over near-dup pairs → cluster canonicals: the
    * step that turns pairwise similarity into dedup decisions (keep the
    * canonical, drop the rest).
    *
    * Min-label propagation: every member node starts labeled with itself;
    * each iteration joins labels across edges (both directions) and takes
    * the min; stops at fixpoint. Iterations = cluster diameter, which for
    * near-dup clusters is tiny (they're near-cliques — LSH links most
    * members directly), so this is a handful of hash joins, each an
    * ordinary shuffle on ids. maxIter bounds pathological chains.
    */
  def dupClusters(pairs: DataFrame, a: String = "ida", b: String = "idb",
      maxIter: Int = 25): DataFrame = {
    // Eager lineage cuts, twice over: (1) the pair pipeline (LSH join +
    // verify) executes exactly once even though the union references it
    // twice; (2) each iteration's lineage is severed — an iterative
    // plan that kept its history would double the logical tree every
    // round (with a wide upstream expression tree that is an OOM in
    // plan rendering alone, observed with the 16-hyperplane LSH
    // lineage). Intermediates are unpersisted as soon as the next
    // round's result is materialized, so at most ~3 corpus-scale
    // materializations are live at once.
    val p = Scratch.cut(pairs)
    // undirected edges + one self-loop per node, so the per-round
    // neighbor-min is a single join+agg (no in-loop Union: a Union over
    // a join-derived checkpoint trips Catalyst's union constraint
    // rewrite on the checkpoint's stale origin constraints)
    val undirected = p.select(col(a).as("src"), col(b).as("dst"))
      .union(p.select(col(b).as("src"), col(a).as("dst")))
    val edges = Scratch.cut(undirected
      .union(undirected.select(col("src"), col("src").as("dst")))
      .distinct())
    Scratch.release(p)
    var labels = Scratch.cut(edges.select(col("src").as("id"))
      .distinct().withColumn("lbl", col("id")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor-min (self-loop carries each node's own label) — cached,
      // NOT checkpointed: its lineage is one join+agg over already-cut
      // frames (no lineage growth), so a plain persist suffices and no
      // checkpoint is written per iteration
      val combined = Scratch.cache(edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst")).agg(min(col("lbl")).as("lbl"))
        .withColumnRenamed("dst", "id"))
      combined.count() // fill the cache so the self-join reads it twice
      // pointer-doubling shortcut: also adopt the label OF my label
      // (lbl is always a member id, so the inner self-join keeps every
      // row). Neighbor-min alone walks one hop per round — convergence
      // in O(diameter) rounds, which a chain-shaped cluster turns into
      // a wrong answer at maxIter (observed at sf0.1); with the jump
      // it is O(log diameter).
      val next = Scratch.cut(combined.as("l")
        .join(combined.as("m"), col("l.lbl") === col("m.id"))
        .select(col("l.id").as("id"), least(col("l.lbl"), col("m.lbl")).as("lbl")))
      Scratch.release(combined)
      converged = next.join(labels.withColumnRenamed("lbl", "old"), "id")
        .filter(col("lbl") =!= col("old")).isEmpty
      Scratch.release(labels)
      labels = next
      i += 1
    }
    Scratch.release(edges)
    if (!converged)
      System.err.println(s"[dedup] dupClusters stopped at maxIter=$maxIter " +
        "before convergence — canonicals may split one true component " +
        "(raise maxIter for long chain-shaped clusters)")
    labels.select(col("id").as("doc_id"), col("lbl").as("canonical"))
  }

  /** Exact n-gram Jaccard near-dup pairs within blocking keys. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], threshold: Double): DataFrame = {
    val s = withShingles(df, textCol)
      .select((idCol +: blockCols).map(col) :+ col("shset"): _*)
    val blockCond = blockCols.map(c => col(s"x.$c") === col(s"y.$c"))
      .reduce(_ && _)
    s.as("x").join(s.as("y"),
        blockCond && col(s"x.$idCol") < col(s"y.$idCol"))
      .withColumn("inter",
        size(array_intersect(col("x.shset"), col("y.shset"))))
      .withColumn("uni",
        size(col("x.shset")) + size(col("y.shset")) - col("inter"))
      .withColumn("jac", col("inter") / col("uni"))
      .filter(col("jac") >= threshold)
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"),
        col("jac"))
  }
}
