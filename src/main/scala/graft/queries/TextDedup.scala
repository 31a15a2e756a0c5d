package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.DetMath._
import graft.functions.TextExpr._
import graft.operators.{Dedup, TextAnalysis}

/** Text-analysis + dedup operator inventory over the documents table
  * (SURVEY.md §2.11 extension ops), each with a DuckDB oracle that runs
  * the *same* md5/integer-based algorithm (see TextExpr).
  */
object TextDedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  /** The minhash-banded gates run the operators' scale-ADAPTIVE
    * banding (the production default): their DuckDB oracles bake the
    * clamp-region (k=8, rows=2) parameters, which
    * `Dedup.adaptiveMinhashParams` resolves identically for every
    * adjudicated corpus (n ≤ 65,536 docs covers sf0.001 through sf1)
    * — so unlike the vector family (whose sf1 corpus EXITS its clamp,
    * forcing explicit pins there), these queries stay adaptive and
    * the sf10 bench measures the true production banding (24/3).
    * Verify's pre-flight error-marks exactly these names with a
    * regenerate-the-oracles message if a gate corpus ever leaves the
    * clamp region, instead of a bare hash mismatch (ADVICE r13).
    * Since r15 the production (24, 3) banding is itself
    * hash-adjudicated at sf10: gen_text_adaptive_override.py bakes it
    * into q39's oracle (full-corpus banding + truncation, candidate
    * endpoints md5-sampled 1/16) and the engine's ADAPTIVE run matched
    * it exactly over 1.74M pairs (tools/receipts/r15/
    * sf10_adaptive_spotcheck.txt). */
  val adaptiveGateNames: Seq[String] = Seq(
    "q39_minhash_pairs", "q60_dup_clusters", "q85_incremental_dedup",
    "q88_batch_admission", "q145_cluster_canonical",
    "q149_leakage_safe_split", "q193_stream_admission",
    "q278_split_leakage", "q279_split_repair",
    "q281_dedup_token_budget", "q283_epoch_plan",
    "q298_dedup_diversity", "q300_curation_funnel", "q301_funnel_order")

  /** True iff `n` documents resolve to the oracle-baked (8, 2)
    * minhash banding — Verify's pre-flight companion to
    * [[graft.queries.Vectors.oracleClampHolds]]. */
  def oracleClampHolds(n: Long): Boolean =
    Dedup.adaptiveMinhashParams(n) == ((8, 2))

  /** Per-doc dedup keep decision — q145's canonical rule (longest
    * n_chars, ties to the smaller id) over q60's LSH-bounded clusters:
    * (doc_id, source, n_toks, keep). Shared by q281/q283 (budgets)
    * and q298 (diversity) so every view of the decision is the same
    * decision. */
  private def dedupKeeps(s: SparkSession, d: String): DataFrame = {
    val clusters = Dedup.dupClusters(
      Dedup.minhashPairs(docs(s, d), "doc_id", "text",
        threshold = 0.5))
    val assigned = TextAnalysis.withTokens(docs(s, d), "text")
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(col("toks")).cast("long").as("n_toks"))
      .join(clusters.withColumnRenamed("canonical", "cl0"),
        Seq("doc_id"), "left")
      .withColumn("cl", coalesce(col("cl0"), col("doc_id")))
    val best = assigned.groupBy("cl")
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("w"))
      .select(col("cl"), (-col("w.nid")).as("keep_id"))
    assigned.join(best, "cl")
      .withColumn("keep", col("doc_id") === col("keep_id"))
      .select("doc_id", "source", "n_toks", "keep")
  }

  /** Per-source raw vs dedup-surviving token counts — q281's core,
    * shared with q283 so the two views of the budget cannot drift. */
  private def dedupBudget(s: SparkSession, d: String): DataFrame =
    dedupKeeps(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_toks").as("toks_raw"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L))
          .as("toks_kept"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- q248: blocked edit-distance record linkage ----
    // Near-identical part names found by BLOCKED Levenshtein — the
    // record-linkage primitive (Fellegi-Sunter blocking stage): an
    // equi-join on the cheap blocking key (p_brand, p_size) generates
    // candidates, and the quadratic edit-distance verifier runs on
    // in-block pairs ONLY — never all-pairs. (p_brand, p_size) is a
    // FIXED ~1,250-value vocabulary, so uncapped block size grows
    // O(N/1250) and pair work O(N²/1250); like q78, each block is
    // therefore capped at BucketCap's 512 representatives via the
    // shared keep rule (mirrored in the oracle) — the identity at
    // every gated scale (sf1 max block = 280 < 512) that bounds
    // verify work to blocks x cap² at any corpus size. At 100 TB the
    // block key is the partition key, so the verify stage is
    // shuffle-local. Both engines run the identical Levenshtein
    // (exact integers).
    "q248_name_linkage" -> ((s, d) => {
      val cap = graft.operators.BucketCap.DefaultCap
      val sized = Tables.read(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"),
          col("p_name"))
        .withColumn("bsz", count(lit(1))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy("p_brand", "p_size")))
      val p = sized
        .filter(expr(graft.operators.BucketCap.keepSql("p_partkey", "bsz", cap)))
        .drop("bsz")
      val a = p.select(col("p_brand"), col("p_size"),
        col("p_partkey").as("id1"), col("p_name").as("name1"))
      val b = p.select(col("p_brand"), col("p_size"),
        col("p_partkey").as("id2"), col("p_name").as("name2"))
      a.join(b, Seq("p_brand", "p_size"))
        .filter(col("id1") < col("id2"))
        .withColumn("dist",
          levenshtein(col("name1"), col("name2")).cast("long"))
        .filter(col("dist") <= 12)
        .select("id1", "id2", "dist")
    }),

    "q32_text_stats" -> ((s, d) =>
      TextAnalysis.stats(docs(s, d), "doc_id", "text")),

    "q33_text_quality" -> ((s, d) =>
      TextAnalysis.quality(docs(s, d), "doc_id", "text")),

    "q34_lang_id" -> ((s, d) =>
      TextAnalysis.langId(docs(s, d), "doc_id", "text")),

    "q35_token_count" -> ((s, d) =>
      TextAnalysis.tokenCounts(docs(s, d), "doc_id", "text")),

    // ---- q299: stored-label vs detector agreement audit ----
    // Labeled corpora lie: the per-(source, label) agreement between
    // the stored `lang` column and q34's n-gram detector, in exact
    // ppm — low agreement on one source flags mislabeled ingestion;
    // uniformly-low agreement on one LABEL (zh here, which the 4-list
    // detector cannot emit) flags a detector coverage gap rather than
    // bad labels. Both failure modes surface in the same 20-row
    // report. Scale shape: q34's fused per-doc pass, one doc_id join
    // to the narrow label projection, one (source, lang) aggregate.
    "q299_lang_agreement" -> ((s, d) => {
      val pred = TextAnalysis.langId(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("pred_lang"))
      docs(s, d).select("doc_id", "source", "lang")
        .join(pred, "doc_id")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
            .as("n_agree"),
          expr("SUM(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)" +
            " * 1000000 DIV COUNT(*)").as("agree_ppm"))
    }),

    "q36_fingerprint" -> ((s, d) =>
      Dedup.fingerprint(docs(s, d), "doc_id", "text")),

    "q37_dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(docs(s, d), "doc_id", "text")),

    "q38_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignature(docs(s, d), "doc_id", "text", k = 8)
        .drop("shset")),

    "q39_minhash_pairs" -> ((s, d) =>
      Dedup.minhashPairs(docs(s, d), "doc_id", "text",
        threshold = 0.5)),

    "q40_simhash" -> ((s, d) =>
      Dedup.simhash(docs(s, d), "doc_id", "text")),

    // ---- q278: cross-split near-dup leakage (decontamination audit) ----
    // The audit every train/valid/test split must pass before a
    // training run: assign each doc a split by md5 range (90/5/5 — a
    // pure function of the id, reproducible on any engine or cluster),
    // then ask whether any MinHash near-dup pair (q39's capped LSH
    // pipeline, identical thresholds) CROSSES splits — a near-duplicate
    // of a training doc sitting in test silently inflates eval. Output
    // is the split-pair matrix (canonically ordered by split rank so
    // (train,test) counts once per pair) with a leaky flag on the
    // off-diagonal rows. Scale: the pair table is the LSH-bounded
    // candidate set; the split lookups are two id-keyed equi-joins
    // against a narrow (id, split) projection — no new self-join.
    "q278_split_leakage" -> ((s, d) => {
      val pairs = Dedup.minhashPairs(docs(s, d), "doc_id", "text",
        threshold = 0.5)
      val sp = docs(s, d).select(col("doc_id"),
        expr(splitRkSpark("doc_id")).as("rk"))
      def nm(c: Column): Column = splitName(c)
      pairs.join(sp.as("a"), col("ida") === col("a.doc_id"))
        .join(sp.as("b"), col("idb") === col("b.doc_id"))
        .select(least(col("a.rk"), col("b.rk")).as("rlo"),
          greatest(col("a.rk"), col("b.rk")).as("rhi"))
        .groupBy("rlo", "rhi")
        .agg(count(lit(1)).as("n_pairs"))
        .select(nm(col("rlo")).as("split_lo"), nm(col("rhi")).as("split_hi"),
          col("n_pairs"), (col("rlo") =!= col("rhi")).as("leaky"))
    }),

    // ---- q279: cluster-aware split repair ----
    // The FIX for what q278 detects: every near-dup cluster moves
    // wholesale to the split of its canonical member (md5 range of the
    // canonical id — a pure function, so the repair is reproducible and
    // needs no vote or tiebreak). After this reassignment the q278
    // leakage matrix has zero off-diagonal mass BY CONSTRUCTION — both
    // endpoints of any surviving near-dup pair share a canonical, hence
    // a split (OperatorSpec pins that law end-to-end). Output is the
    // full per-doc assignment with a moved flag, so the blast radius of
    // the repair (how many docs change split, and in which direction)
    // is the query result. Scale: the cluster table is q60's
    // LSH-bounded pipeline; the repair itself is ONE id-keyed left join
    // against the narrow (doc_id, canonical) table plus two in-row
    // md5 evals — no new self-join, no window, no extra shuffle.
    "q279_split_repair" -> ((s, d) => {
      val clusters = Dedup.dupClusters(
        Dedup.minhashPairs(docs(s, d), "doc_id", "text",
          threshold = 0.5))
      docs(s, d).select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cl", coalesce(col("canonical"), col("doc_id")))
        .select(col("doc_id"), col("cl"),
          splitName(expr(splitRkSpark("doc_id"))).as("split_old"),
          splitName(expr(splitRkSpark("cl"))).as("split_new"))
        .withColumn("moved", col("split_old") =!= col("split_new"))
    }),

    // ---- q281: dedup-aware token budget per source ----
    // The number a data mixture is actually planned against: raw token
    // counts per source versus the tokens that SURVIVE near-dup
    // canonicalization (q145's keep rule — longest n_chars, ties to
    // the smaller id — so the two queries cannot disagree about who
    // survives). dup_tok_ppm is each source's token-level duplication
    // tax; a mixture built on raw counts over-weights duplicated
    // sources by exactly this factor. Scale: the cluster machinery is
    // q60's LSH-bounded pipeline; on top of it this adds one id-keyed
    // join, the per-cluster 1-row argmax (map-side partial, no
    // window), and a |sources|-row aggregate — nothing new grows
    // faster than the corpus scan.
    // ---- q298: dedup's effect on n-gram diversity ----
    // The counterpart measurement to q281's token tax: dedup removes
    // tokens roughly in proportion to the dup rate, but how much
    // DISTINCT content does it cost? Per source, count distinct token
    // 3-grams over all docs vs over q145-canonical survivors only (a
    // gram survives iff ANY kept doc of that source carries it) and
    // report the retained share in exact ppm — the justification
    // number for dedup ("near-dups carry the same grams, so diversity
    // survives") made measurable, per source. Scale shape: one fused
    // gram explode joined to the narrow per-doc keep table on doc_id,
    // one (source, gram)-keyed aggregate with map-side partials, one
    // |sources|-row rollup — no self-joins, nothing quadratic.
    "q298_dedup_diversity" -> ((s, d) => {
      graft.functions.TextNative.register(s)
      val grams = docs(s, d).select(col("doc_id"),
        explode(expr("graft_ngrams(text, 3)")).as("g"))
      grams.join(dedupKeeps(s, d).select("doc_id", "source", "keep"),
          "doc_id")
        .groupBy("source", "g")
        .agg(max(when(col("keep"), 1L).otherwise(0L)).as("kept_g"))
        .groupBy("source")
        .agg(count(lit(1)).as("grams_raw"),
          sum("kept_g").as("grams_kept"),
          expr("SUM(kept_g) * 1000000 DIV COUNT(*)").as("retained_ppm"))
    }),

    // GREATEST(toks_raw, 1): the q300/q301 zero-guard convention — a
    // source whose docs all tokenize to zero tokens yields NULL in
    // Spark's DIV but a hard division-by-zero error in DuckDB's //,
    // so without the guard the engines diverge instead of agreeing
    // on the row (ADVICE r12).
    "q281_dedup_token_budget" -> ((s, d) =>
      dedupBudget(s, d).withColumn("dup_tok_ppm",
        expr("(toks_raw - toks_kept) * 1000000" +
          " DIV GREATEST(toks_raw, 1)"))),

    // ---- q283: epoch plan (mixture weights over the DEDUPED corpus) ----
    // Closes the loop between q170's sqrt-temperature mixture and
    // q281's surviving-token budget: allocate a training budget of
    // B = Σ toks_raw (one raw-corpus-equivalent of tokens) across
    // sources by the q170 weight formula, then express each source's
    // allocation as EPOCHS over its deduped tokens — the repeat count
    // the data-constrained-scaling literature says to cap (flagged
    // here at >4 epochs). target_toks = B·w_ppm/1e6 is computed by
    // quotient/remainder split so the product never exceeds ~2e13·1e6
    // intermediates (exact floor identity, overflow-safe past 9e15
    // corpus tokens; epochs_milli's direct spelling is safe to the
    // same bound — both spellings documented for the §8 rail table).
    // Everything below the cluster machinery is |sources|-row.
    "q283_epoch_plan" -> ((s, d) => {
      val per = dedupBudget(s, d).withColumn("isq",
        expr("CAST(FLOOR(SQRT(CAST(toks_raw AS DOUBLE))) AS BIGINT)"))
      val tot = per.agg(sum("isq").as("isq_tot"), sum("toks_raw").as("b"))
      per.crossJoin(broadcast(tot))
        .withColumn("w_ppm", expr("isq * 1000000 DIV isq_tot"))
        .withColumn("target_toks", expr(
          "(b DIV 1000000) * w_ppm + ((b % 1000000) * w_ppm) DIV 1000000"))
        // GREATEST guard: q281's zero-token-source convention applied
        // to the kept-token divisor (all-duplicate source → toks_kept
        // could only be 0 if toks_raw is 0 too, but the guard keeps
        // Spark and DuckDB agreeing instead of NULL-vs-error).
        .withColumn("epochs_milli",
          expr("target_toks * 1000 DIV GREATEST(toks_kept, 1)"))
        .select(col("source"), col("toks_raw"), col("toks_kept"),
          col("w_ppm"), col("target_toks"), col("epochs_milli"),
          (col("epochs_milli") > 4000).as("oversampled"))
    }),

    // ---- q168: shard-boundary overlap (suffix == prefix) ----
    // Detect document pairs where A's trailing k tokens equal B's
    // leading k tokens — the signature of one source document split
    // across shard/file boundaries during ingest (each half passes
    // whole-doc dedup, the seam gives the split away). Candidates come
    // from ONE equi-join on the boundary gram string, which is also the
    // exact verify — no post-filter needed. At 100 TB this is two
    // narrow k-token projections and a string-keyed shuffle of
    // 2 rows/doc; directed output (ida's tail, idb's head), self-pairs
    // excluded, boundary text carried for triage.
    "q168_boundary_overlap" -> ((s, d) => {
      val k = 3
      val b = TextAnalysis.withTokens(docs(s, d), "text")
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= k)
      val tails = b.select(col("doc_id").as("ida"),
        array_join(expr(s"slice(toks, n - ${k - 1}, $k)"), " ").as("boundary"))
      val heads = b.select(col("doc_id").as("idb"),
        array_join(slice(col("toks"), 1, k), " ").as("boundary"))
      tails.join(heads, Seq("boundary"))
        .filter(col("ida") =!= col("idb"))
        .select("ida", "idb", "boundary")
    }),

    // ---- q154: prefix-filter similarity join (exact recall) ----
    // ALL shingle-set pairs with Jaccard >= 1/2 via the prefix-filter
    // theorem — the exact-recall twin of q39's MinHash-LSH (same
    // similarity space, complete answer; OperatorSpec proves equality
    // with brute force AND that it covers every q39 pair). Verify is
    // integer cross-multiplication, no float threshold. Prefixes are
    // df-ordered (rarest elements first), so candidate fan-out follows
    // rare-token frequencies — the pair set is order-invariant, so the
    // oracle needs no notion of the ordering.
    "q154_prefix_join" -> ((s, d) =>
      Dedup.prefixJaccardPairs(docs(s, d), "doc_id", "text")
        .select(col("ida"), col("idb"),
          col("inter").cast("long").as("inter"),
          col("uni").cast("long").as("uni"))),

    // Gopher-style repetition score: top-bigram share of each doc's
    // word bigrams — the boilerplate/template-spam filter.
    "q93_repetition" -> ((s, d) =>
      TextAnalysis.repetition(docs(s, d), "doc_id", "text")),

    // ---- q172: token Gini diversity (entropy without the log) ----
    // Per-doc lexical concentration: gini = 1 - Σ pᵢ² over the token
    // distribution, in exact ppm integers — (n² - Σcᵢ²)·1e6 DIV n².
    // Shannon entropy needs log() (libm rounding differs per engine);
    // Gini impurity carries the same low-diversity signal (spam /
    // keyword-stuffing / template pages score near 0) in pure BIGINT
    // arithmetic. Computed fully IN-ROW (distinct-token counts via
    // array ops, no explode-shuffle): a narrow scan-speed column at
    // any corpus size. Overflow: n²·1e6 needs n ≤ ~3e6 tokens/doc.
    "q172_token_gini" -> ((s, d) =>
      TextAnalysis.withTokens(docs(s, d), "text")
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") > 0)
        .withColumn("sumsq", expr(
          """aggregate(
            |  transform(array_distinct(toks),
            |    t -> size(filter(toks, x -> x = t))),
            |  CAST(0 AS BIGINT), (a, c) -> a + CAST(c AS BIGINT) * c)"""
            .stripMargin))
        .select(col("doc_id"), col("n").as("n_toks"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
          expr("(n * n - sumsq) * 1000000 DIV (n * n)").as("gini_ppm"))),

    "q60_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(
        Dedup.minhashPairs(docs(s, d), "doc_id", "text",
          threshold = 0.5))),

    // ---- q145: canonical selection per near-dup cluster ----
    // The curation DECISION the cluster machinery exists for: every doc
    // maps to its cluster (singletons to themselves) and each cluster
    // keeps its best member — longest n_chars, ties to the smaller id.
    // Selection is the q119 windowless argmax (max over (n_chars, -id)
    // structs with map-side partial combine; the tiny per-cluster
    // aggregate is the only extra shuffle on top of the clustering).
    "q145_cluster_canonical" -> ((s, d) => {
      val clusters = Dedup.dupClusters(
        Dedup.minhashPairs(docs(s, d), "doc_id", "text",
          threshold = 0.5))
      val assigned = docs(s, d).select(col("doc_id"), col("n_chars"))
        .join(clusters.withColumnRenamed("canonical", "cl0"),
          Seq("doc_id"), "left")
        .withColumn("cl", coalesce(col("cl0"), col("doc_id")))
      val best = assigned.groupBy("cl")
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("w"))
        .select(col("cl"), (-col("w.nid")).as("keep_id"))
      assigned.join(best, "cl")
        .select(col("doc_id"), col("cl"),
          (col("doc_id") === col("keep_id")).as("keep"))
    }),

    // ---- q149: leakage-safe train/test split ----
    // ML-hygiene: a plain per-doc hash split (q76) can put two NEAR-
    // DUPLICATES on opposite sides — test-set leakage. Split on the
    // near-dup CLUSTER canonical instead: every cluster member shares
    // its canonical, so the whole cluster lands on one side (the
    // property OperatorSpec asserts pair-by-pair). Still a pure
    // function of content ids — stable across runs/engines/layouts.
    "q149_leakage_safe_split" -> ((s, d) => {
      val clusters = Dedup.dupClusters(
        Dedup.minhashPairs(docs(s, d), "doc_id", "text",
          threshold = 0.5))
      graft.operators.Sampling.hashSplit(
          docs(s, d).select("doc_id")
            .join(clusters.withColumnRenamed("canonical", "cl0"),
              Seq("doc_id"), "left")
            .withColumn("canonical", coalesce(col("cl0"), col("doc_id"))),
          "canonical", trainNibbles = 13)
        .select("doc_id", "canonical", "split")
    }),

    // ---- q159: containment join (quote/subset detection) ----
    // Directed pairs where >= 3/4 of doc a's shingles appear in doc b —
    // the embedded-quote case symmetric Jaccard misses (a small doc
    // inside a large one has LOW Jaccard). One-sided prefix filter:
    // exact recall, integer verify.
    "q159_containment_join" -> ((s, d) =>
      Dedup.containmentPairs(docs(s, d), "doc_id", "text")),

    // ---- q146: per-source duplication-rate report ----
    // How redundant is each source? Exact-dup fingerprints per source:
    // doc count, distinct-content count, duplicate fraction in ppm —
    // the triage number that decides which feed needs dedup attention.
    // One fingerprint pass + one two-level agg.
    "q146_dup_rate" -> ((s, d) =>
      docs(s, d)
        .withColumn("fp", expr(fingerprintSpark(toksSpark("text"))))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_distinct"),
          expr("(n_docs - n_distinct) * 1000000 DIV n_docs")
            .as("dup_ppm"))),

    // SimHash Hamming-ball join: chunk-banded candidates + exact
    // bit_count verify (the 32-bit complement to MinHash-LSH's
    // set-similarity pairs).
    "q72_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxHamming = 3)),

    // End-to-end training-data curation pipeline: quality thresholds +
    // language filter + exact-dedup (keep only each fingerprint's
    // canonical doc). ONE tokenization pass (TextAnalysis.enrich fuses
    // quality + language + fingerprint per row) and one shuffle (the
    // per-fingerprint window choosing the canonical doc) — at 100 TB
    // tokenization dominates, so the three-operator spelling would cost
    // 3 full-corpus scans for the same answer.
    "q67_corpus_filter" -> ((s, d) => {
      val e = TextAnalysis.enrich(docs(s, d), "doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      e.withColumn("keep_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keep_id") &&
          col("len_ok") === 1 && col("stop_ratio") >= 0.02 &&
          col("digit_ratio") <= 0.2 && col("pred_lang") === "en")
        .select("doc_id", "pred_lang", "n_toks", "stop_ratio")
    }),

    // Corpus vocabulary heavy-hitters: explode tokens → hash-agg →
    // top-k via TakeOrderedAndProject (partial agg + bounded heap per
    // partition — no global sort at any scale). Tie-break on the token
    // keeps the boundary deterministic.
    "q71_vocab_topk" -> ((s, d) =>
      TextAnalysis.withTokens(docs(s, d), "text")
        .select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)),

    // TF-IDF feature extraction: top-3 characteristic terms per doc.
    // idf is the exact rational (N+1)/(df+1) rather than its log — one
    // IEEE division on exact integers, so the value is bit-stable
    // cross-engine (ln() implementations are not guaranteed identical),
    // and per-term the induced ranking matches log-idf's since log is
    // monotone in the ratio. tf*(N+1) stays well under 2^53, so the
    // double conversion is exact.
    "q80_tfidf_terms" -> ((s, d) => {
      val tk = TextAnalysis.withTokens(docs(s, d), "text")
        .select(col("doc_id"), explode(col("toks")).as("tok"))
      val tf = tk.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val nn = docs(s, d).agg(countDistinct(col("doc_id")).as("nn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
      tf.join(dfq, "tok").crossJoin(broadcast(nn))
        .withColumn("score",
          (col("tf") * (col("nn") + 1)).cast("double") / (col("df") + 1))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "tok", "rank", "score")
    }),

    "q41_ngram_jaccard" -> ((s, d) => {
      val blocked = docs(s, d)
        .withColumn("lb", floor(col("n_chars") / 100).cast("long"))
      Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
        Seq("lang", "lb"), threshold = 0.3)
    }),

    // INCREMENTAL dedup: persist the corpus band index bucketed on the
    // band key, then dedup a "new batch" (doc_id % 5 == 0, a
    // deterministic 20% split) by probing only ITS bands against the
    // persisted table — zero corpus-side exchange (ScaleSpec proves it
    // on the plan). The oracle runs the one-shot q39 pipeline over the
    // whole corpus restricted to pairs touching the batch, so a hash
    // match proves the incremental path finds exactly the pairs a full
    // recompute would.
    "q85_incremental_dedup" -> ((s, d) => {
      val all = docs(s, d)
      val corpus = all.filter(col("doc_id") % 5 =!= 0)
      val batch = all.filter(col("doc_id") % 5 === 0)
      // banding defaults ADAPTIVE at build; the probe reads it back
      // from the index's _banding metadata — never repeated by hand
      Dedup.writeBandIndex(corpus, "doc_id", "text",
        "graft_band_index", nBuckets = 8)
      Dedup.incrementalPairs(batch, "graft_band_index", all,
        "doc_id", "text", threshold = 0.5)
    }),

    // The ingest DECISION on top of q85's pairs: admit each batch doc
    // unless it near-dups the corpus (corpus always wins) or a
    // smaller-id batch member. This is the row set a daily pipeline
    // appends to the corpus.
    "q88_batch_admission" -> ((s, d) => {
      val all = docs(s, d)
      val corpus = all.filter(col("doc_id") % 5 =!= 0)
      val batch = all.filter(col("doc_id") % 5 === 0)
      Dedup.writeBandIndex(corpus, "doc_id", "text",
        "graft_band_index_q88", nBuckets = 8)
      val pairs = Dedup.incrementalPairs(batch, "graft_band_index_q88",
        all, "doc_id", "text", threshold = 0.5)
      Dedup.admitBatch(batch, pairs, "doc_id").select("doc_id")
    }),

    // ---- q193: STREAMING near-dup admission (foreachBatch) ----
    // q88's ingest decision maintained from a document stream — the
    // continuous form of the daily-ingest shape (q186 : q94 for
    // dedup). Each micro-batch probes the persisted corpus band index
    // + earlier batches' bands, appends verified pairs and its own
    // bands; the admission anti-join over the accumulated (symmetric,
    // idempotent) pair set equals one-shot q88 regardless of
    // micro-batch boundaries, so this shares q88's oracle.
    "q193_stream_admission" -> ((s, d) =>
      graft.streaming.EventStreams.streamingAdmissionStream(s, d)),

    // ---- q221: LSH band-configuration tuning audit ----
    // The measurement that picks (bands, rows) before a corpus-wide
    // dedup run: per config, candidate volume vs recall/precision
    // against exact prefix-filter ground truth, on a deterministic md5
    // doc sample. See Dedup.lshTuningAudit for the bounded-work story.
    "q221_lsh_tuning" -> ((s, d) =>
      Dedup.lshTuningAudit(docs(s, d), "doc_id", "text")),

    // ---- q218: Gopher-rules composite quality gate ----
    // The pre-training filter suite as ONE operator: five integer-exact
    // rule flags plus their conjunction, per document, so the audit
    // tells you which rule rejects what (see TextAnalysis.gopherRules
    // for the rule list and the scan-speed/one-join plan shape).
    "q218_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(docs(s, d), "doc_id", "text")),

    // ---- q300: the per-source curation funnel ----
    // The one report a pipeline owner reads: per source, document and
    // token attrition through the three standing gates — q218's Gopher
    // quality rules, q37's exact-fingerprint canonicalization, and
    // q145's near-dup canonical rule — composed as successive
    // intersections of the corpus-wide stage decisions (exactly the
    // decisions the standalone gates emit, so every stage is already
    // individually oracle-proven; this query proves their
    // COMPOSITION). survive_ppm is the end-to-end token survival rate
    // the mixture planner (q170/q283) actually needs per source.
    // Scale shape: three narrow per-doc decision tables joined on
    // doc_id (each gate's own plan shape is unchanged), one
    // |sources|-row aggregate; conjunctions are int products inside
    // the agg — no new shuffles beyond the gates' own.
    "q300_curation_funnel" -> ((s, d) => {
      val dd = docs(s, d)
      val q = TextAnalysis.gopherRules(dd, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("kq"))
      val fp = Dedup.fingerprint(dd, "doc_id", "text")
      val ke = fp.join(
          fp.groupBy("fp").agg(min("doc_id").as("canon")), "fp")
        .select(col("doc_id"),
          (col("doc_id") === col("canon")).cast("int").as("ke"))
      val kn = dedupKeeps(s, d)
        .select(col("doc_id"), col("n_toks"),
          col("keep").cast("int").as("kn"))
      dd.select("doc_id", "source")
        .join(q, "doc_id").join(ke, "doc_id").join(kn, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_raw"),
          sum("n_toks").as("toks_raw"),
          sum("kq").as("n_q"),
          sum(expr("kq * ke")).as("n_qe"),
          sum(expr("kq * ke * kn")).as("n_qen"),
          sum(expr("n_toks * kq * ke * kn")).as("toks_kept"),
          expr("SUM(n_toks * kq * ke * kn) * 1000000" +
            " DIV GREATEST(SUM(n_toks), 1)").as("survive_ppm"))
    }),

    // ---- q301: funnel stage-order sensitivity ----
    // The pipeline design decision q300 cannot see: when the near-dup
    // CANONICAL is chosen before quality filtering (dedup→quality), a
    // cluster whose longest member fails the quality gate loses the
    // whole cluster; choosing the canonical AMONG quality survivors
    // (quality→dedup) rescues it by keeping the best passing member.
    // Per source: surviving tokens under both orders, each as exact
    // ppm of raw — the measured answer to "filter before dedup?". The
    // two orders share every ingredient (q60 clusters, q145 tie rule,
    // q218 quality), so the delta isolates ordering alone. Scale
    // shape: one extra per-cluster argmax over the quality-filtered
    // assignment — same key, same plan family as the global argmax.
    "q301_funnel_order" -> ((s, d) => {
      val dd = docs(s, d)
      val kq = TextAnalysis.gopherRules(dd, "doc_id", "text")
        .select(col("doc_id"), col("keep").as("kq"))
      val clusters = Dedup.dupClusters(
        Dedup.minhashPairs(dd, "doc_id", "text",
          threshold = 0.5))
      val assigned = TextAnalysis.withTokens(dd, "text")
        .select(col("doc_id"), col("source"), col("n_chars"),
          size(col("toks")).cast("long").as("n_toks"))
        .join(clusters.withColumnRenamed("canonical", "cl0"),
          Seq("doc_id"), "left")
        .withColumn("cl", coalesce(col("cl0"), col("doc_id")))
        .join(kq, "doc_id")
      def argmax(df: DataFrame, out: String) = df.groupBy("cl")
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("w"))
        .select(col("cl"), (-col("w.nid")).as(out))
      assigned
        .join(argmax(assigned, "keep_g"), "cl")
        .join(argmax(assigned.filter(col("kq") === 1), "keep_q"),
          Seq("cl"), "left")
        .groupBy("source")
        .agg(sum("n_toks").as("toks_raw"),
          sum(expr("n_toks * kq * CAST(doc_id = keep_g AS INT)"))
            .as("toks_dedup_then_q"),
          sum(when(col("doc_id") === col("keep_q"), col("n_toks"))
            .otherwise(0L)).as("toks_q_then_dedup"),
          expr("SUM(n_toks * kq * CAST(doc_id = keep_g AS INT))" +
            " * 1000000 DIV GREATEST(SUM(n_toks), 1)")
            .as("ppm_dedup_then_q"),
          expr("SUM(CASE WHEN doc_id = keep_q THEN n_toks ELSE 0 END)" +
            " * 1000000 DIV GREATEST(SUM(n_toks), 1)")
            .as("ppm_q_then_dedup"))
    })
  )

  /** md5-range split rank of an id expression (90/5/5 train/valid/
    * test): first 16 md5 bits of the decimal id string, banded by
    * percentage of the 16-bit space. A pure function of the id, so any
    * engine or cluster reproduces the same split (shared by q278/q279
    * and their oracles via splitRkDuck — the two spellings cannot
    * drift). */
  private[queries] def splitRkSpark(idExpr: String): String = {
    val h = s"CAST(conv(substring(md5(CAST($idExpr AS STRING)), " +
      "1, 4), 16, 10) AS BIGINT)"
    s"CASE WHEN $h * 100 < 65536 * 90 THEN 0 " +
      s"WHEN $h * 100 < 65536 * 95 THEN 1 ELSE 2 END"
  }

  /** Split rank -> name, as a 1-indexed literal-array lookup. */
  private[queries] def splitName(c: Column): Column =
    element_at(array(Seq("train", "valid", "test").map(lit): _*),
      (c + 1).cast("int"))

  // ---- oracle SQL (DuckDB dialect, same algorithms) ----

  /** DuckDB twin of splitRkSpark. */
  private[queries] def splitRkDuck(idExpr: String): String =
    s"CASE WHEN ${hexIntDuck(s"md5(CAST($idExpr AS VARCHAR))", 4)}" +
      s" * 100 < 65536 * 90 THEN 0" +
      s" WHEN ${hexIntDuck(s"md5(CAST($idExpr AS VARCHAR))", 4)}" +
      s" * 100 < 65536 * 95 THEN 1 ELSE 2 END"

  /** DuckDB twin of splitName over a rank expression. */
  private[queries] def splitNameDuck(rkExpr: String): String =
    s"CASE $rkExpr WHEN 0 THEN 'train' WHEN 1 THEN 'valid' " +
      "ELSE 'test' END"

  private val toksCte =
    s"toks AS (SELECT doc_id, lang, n_chars, LENGTH(text) AS len, " +
      s"${toksDuck("text")} AS t FROM documents)"

  private def shCte(from: String = "toks") =
    s"sh AS (SELECT doc_id, lang, n_chars, ${shinglesDuck("t")} AS sg, " +
      s"list_distinct(${shinglesDuck("t")}) AS shset FROM $from)"

  private def sigSelect(k: Int): String =
    (0 until k).map(i => s"${minhashDuck("sg", i)} AS s$i").mkString(", ")

  private val boundaryOverlapSql: String =
    s"""WITH $toksCte,
      | b AS (SELECT doc_id, len(t) AS n, t FROM toks WHERE len(t) >= 3),
      | tails AS (SELECT doc_id AS ida,
      |    array_to_string(t[n-2:n], ' ') AS boundary FROM b),
      | heads AS (SELECT doc_id AS idb,
      |    array_to_string(t[1:3], ' ') AS boundary FROM b)
      |SELECT tails.ida, heads.idb, tails.boundary
      |FROM tails JOIN heads ON tails.boundary = heads.boundary
      |WHERE tails.ida <> heads.idb""".stripMargin

  /** The text collision-side posting cap — same shared constant and
    * keepDuck rule as the embedding oracles, so the Spark operator
    * (Banded.truncate) and the oracle cannot drift. At gate scale
    * every (bi, bv) bucket is far under the cap, so `bandsr` = `bands`
    * exactly. */
  private val mhCap = graft.operators.BucketCap.DefaultCap

  /** The bsz + capped-collision-side CTE pair over a band CTE named
    * `bands` — appended wherever the oracle joins bands against
    * themselves, mirroring Dedup.minhashPairs' y-side truncation. */
  private lazy val bandCapCtes: String =
    s"""bsz AS (SELECT bi, bv, count(*) AS bn FROM bands GROUP BY 1, 2),
      | bandsr AS (SELECT b.doc_id, b.bi, b.bv
      |  FROM bands b JOIN bsz USING (bi, bv)
      |  WHERE ${graft.operators.BucketCap.keepDuck(
                  "b.doc_id", "bsz.bn", mhCap)})""".stripMargin

  /** q218's per-doc quality decision as DuckDB CTEs ending at
    * `kqt`(doc_id, kq) — expects `toks` in scope (any chain built on
    * toksCte); shared by q300/q301. */
  private lazy val gopherKeepCtes: String =
    s"""qn AS (SELECT doc_id, len(t) AS n_toks,
      |   ${tokCharsDuck("t")} AS tok_chars,
      |   len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
      |   ${hitCountDuck("list_distinct(t)", langWords.toMap.apply("en"))} AS n_stop_d,
      |   t FROM toks),
      | qg AS (SELECT doc_id, CASE WHEN len(t) >= 2
      |    THEN [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
      |    ELSE [] END AS grams FROM toks),
      | qf AS (SELECT doc_id, unnest(grams) AS gram FROM qg),
      | qc AS (SELECT doc_id, gram, COUNT(*) AS c FROM qf GROUP BY 1, 2),
      | qa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
      |    CAST(MAX(c) AS BIGINT) AS max_gram FROM qc GROUP BY doc_id),
      | kqt AS (SELECT qn.doc_id,
      |   CAST(n_toks >= 20 AND n_toks <= 1000 AS INT)
      |   * CAST(n_toks > 0 AND tok_chars * 10 >= n_toks * 30
      |     AND tok_chars * 10 <= n_toks * 100 AS INT)
      |   * CAST(n_toks > 0 AND n_alpha * 10 >= n_toks * 8 AS INT)
      |   * CAST(n_stop_d >= 1 AS INT)
      |   * CAST(COALESCE(qa.max_gram, 0) * 5
      |     <= GREATEST(COALESCE(qa.n_grams, 0), 1) AS INT) AS kq
      |  FROM qn LEFT JOIN qa USING (doc_id))""".stripMargin

  /** DuckDB twin of dedupBudget (ends at `g`: per-source n_docs/n_kept/
    * toks_raw/toks_kept), shared by q281/q283. Needs WITH RECURSIVE. */
  private lazy val dedupBudgetCtes: String =
    s"""$minhashPairCtes,
      | pairs AS (SELECT ida, idb FROM j WHERE inter / uni >= 0.5),
      | ed AS (SELECT ida AS src, idb AS dst FROM pairs
      |        UNION SELECT idb, ida FROM pairs),
      | cc AS (SELECT src AS n, src AS m FROM ed
      |        UNION SELECT e.dst, c.m FROM cc c JOIN ed e ON e.src = c.n),
      | cl0 AS (SELECT n AS doc_id, MIN(m) AS canonical FROM cc GROUP BY n),
      | tk AS (SELECT doc_id, len(t) AS n_toks FROM toks),
      | asg AS (SELECT d.doc_id, d.source, d.n_chars, tk.n_toks,
      |   COALESCE(cl0.canonical, d.doc_id) AS cl
      |  FROM documents d
      |  JOIN tk USING (doc_id)
      |  LEFT JOIN cl0 USING (doc_id)),
      | best AS (SELECT cl, doc_id AS keep_id FROM (
      |   SELECT cl, doc_id, ROW_NUMBER() OVER (PARTITION BY cl
      |     ORDER BY n_chars DESC, doc_id) AS rn FROM asg) WHERE rn = 1),
      | g AS (SELECT source,
      |   CAST(count(*) AS BIGINT) AS n_docs,
      |   CAST(SUM(CASE WHEN asg.doc_id = best.keep_id
      |     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |   CAST(SUM(n_toks) AS BIGINT) AS toks_raw,
      |   CAST(SUM(CASE WHEN asg.doc_id = best.keep_id
      |     THEN n_toks ELSE 0 END) AS BIGINT) AS toks_kept
      |  FROM asg JOIN best USING (cl) GROUP BY 1)""".stripMargin

  /** One-shot MinHash-LSH pair pipeline CTEs (ends at `j`), shared by
    * q39/q85/q88 so the spellings cannot drift. */
  private lazy val minhashPairCtes: String =
    s"""$toksCte, ${shCte()},
      | sig AS (SELECT doc_id, shset, ${sigSelect(8)} FROM sh),
      | bands AS (${(0 until 4).map(b =>
          s"SELECT doc_id, $b AS bi, md5(s${2 * b} || s${2 * b + 1}) AS bv FROM sig")
          .mkString("\n  UNION ALL ")}),
      | $bandCapCtes,
      | cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
      |   FROM bands a JOIN bandsr b
      |   ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
      | j AS (SELECT c.ida, c.idb,
      |   len(list_intersect(x.shset, y.shset)) AS inter,
      |   len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset)) AS uni
      |  FROM cand c
      |  JOIN sig x ON x.doc_id = c.ida
      |  JOIN sig y ON y.doc_id = c.idb)""".stripMargin

  /** Final pair select with an optional extra predicate (q85's batch
    * restriction). */
  private def minhashPairsSql(extraWhere: String): String =
    s"""WITH $minhashPairCtes
      |SELECT ida, idb, inter / uni AS jac FROM j
      |WHERE inter / uni >= 0.5$extraWhere""".stripMargin

  /** One-shot batch-admission decision — shared by q88 (batch) and
    * q193 (streaming maintenance of the same decision). */
  private lazy val admissionSql: String =
    s"""WITH $minhashPairCtes,
      | rp AS (SELECT ida, idb FROM j WHERE inter / uni >= 0.5
      |   AND (ida % 5 = 0 OR idb % 5 = 0)),
      | rej AS (SELECT idb AS doc_id FROM rp
      |         UNION SELECT ida FROM rp WHERE idb % 5 <> 0)
      |SELECT doc_id FROM documents
      |WHERE doc_id % 5 = 0
      |  AND doc_id NOT IN (SELECT doc_id FROM rej)""".stripMargin

  val oracles: Map[String, String] = Map(

    "q248_name_linkage" ->
      s"""WITH p0 AS (SELECT p_partkey, p_brand, p_size, p_name,
        |  count(*) OVER (PARTITION BY p_brand, p_size) AS bsz FROM part),
        | p AS (SELECT p_partkey, p_brand, p_size, p_name FROM p0
        |  WHERE ${graft.operators.BucketCap.keepDuck(
                   "p_partkey", "bsz", graft.operators.BucketCap.DefaultCap)})
        |SELECT a.p_partkey AS id1, b.p_partkey AS id2,
        | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 12""".stripMargin,

    "q32_text_stats" ->
      s"""WITH $toksCte,
        | u AS (SELECT doc_id, len, len(t) AS n_toks,
        |   len(list_distinct(t)) AS n_uniq, ${tokCharsDuck("t")} AS tok_chars
        |  FROM toks)
        |SELECT doc_id, len, n_toks, n_uniq,
        | ${rndSql("n_uniq / GREATEST(n_toks, 1)", 4)} AS ttr,
        | ${rndSql("tok_chars / GREATEST(n_toks, 1)", 4)} AS mean_tok_len
        |FROM u""".stripMargin,

    "q33_text_quality" ->
      s"""WITH $toksCte,
        | u AS (SELECT doc_id, len(t) AS n_toks,
        |   ${hitCountDuck("t", langWords.toMap.apply("en"))} AS n_stop,
        |   len(list_filter(t, x -> regexp_matches(x, '^[0-9]+$$'))) AS n_digit
        |  FROM toks)
        |SELECT doc_id, n_toks, n_stop, n_digit,
        | ${rndSql("n_stop / GREATEST(n_toks, 1)", 4)} AS stop_ratio,
        | ${rndSql("n_digit / GREATEST(n_toks, 1)", 4)} AS digit_ratio,
        | CAST(n_toks >= 20 AND n_toks <= 1000 AS INT) AS len_ok
        |FROM u""".stripMargin,

    "q34_lang_id" ->
      s"""WITH $toksCte,
        | u AS (SELECT doc_id,
        |${langWords.map { case (l, ws) => s"   ${hitCountDuck("t", ws)} AS c_$l" }.mkString(",\n")}
        |  FROM toks)
        |SELECT doc_id, c_en, c_es, c_de, c_fr,
        | $langPick AS pred_lang
        |FROM u""".stripMargin,

    // q34's detector replayed, agreement vs the stored label per
    // (source, label)
    "q299_lang_agreement" ->
      s"""WITH $toksCte,
        | u AS (SELECT doc_id,
        |${langWords.map { case (l, ws) => s"   ${hitCountDuck("t", ws)} AS c_$l" }.mkString(",\n")}
        |  FROM toks),
        | p AS (SELECT doc_id, $langPick AS pred_lang FROM u)
        |SELECT d.source, d.lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(SUM(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_agree,
        | CAST(SUM(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END)
        |   * 1000000 // count(*) AS BIGINT) AS agree_ppm
        |FROM documents d JOIN p USING (doc_id) GROUP BY 1, 2""".stripMargin,

    "q35_token_count" ->
      s"""WITH $toksCte
        |SELECT doc_id, len(t) AS ws_toks,
        | (SELECT ${bpeCountDuck("text")} FROM documents d2 WHERE d2.doc_id = toks.doc_id) AS bpe_toks,
        | CAST(CEIL(len / 4.0) AS BIGINT) AS approx_toks
        |FROM toks""".stripMargin,

    "q36_fingerprint" ->
      s"""WITH $toksCte
        |SELECT doc_id, ${fingerprintDuck("t")} AS fp FROM toks""".stripMargin,

    "q93_repetition" ->
      s"""WITH $toksCte,
        | g AS (SELECT doc_id, CASE WHEN len(t) >= 2
        |    THEN [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
        |    ELSE [] END AS grams FROM toks),
        | f AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        | cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM f GROUP BY 1, 2),
        | agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |    CAST(MAX(c) AS BIGINT) AS max_gram FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id,
        | COALESCE(a.n_grams, 0) AS n_grams,
        | COALESCE(a.max_gram, 0) AS max_gram,
        | ${rndSql("COALESCE(a.max_gram, 0) / GREATEST(COALESCE(a.n_grams, 0), 1)", 4)} AS rep_ratio
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q71_vocab_topk" ->
      s"""WITH $toksCte,
        | flat AS (SELECT unnest(t) AS tok FROM toks)
        |SELECT tok, COUNT(*) AS n FROM flat
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,

    "q67_corpus_filter" ->
      s"""WITH $toksCte,
        | q AS (SELECT doc_id, len(t) AS n_toks,
        |   ${hitCountDuck("t", langWords.toMap.apply("en"))} AS n_stop,
        |   len(list_filter(t, x -> regexp_matches(x, '^[0-9]+$$'))) AS n_digit
        |  FROM toks),
        | qual AS (SELECT doc_id, n_toks,
        |   ${rndSql("n_stop / GREATEST(n_toks, 1)", 4)} AS stop_ratio,
        |   ${rndSql("n_digit / GREATEST(n_toks, 1)", 4)} AS digit_ratio,
        |   CAST(n_toks >= 20 AND n_toks <= 1000 AS INT) AS len_ok
        |  FROM q),
        | lang AS (SELECT doc_id, pred_lang FROM (SELECT doc_id,
        |${langWords.map { case (l, ws) => s"   ${hitCountDuck("t", ws)} AS c_$l" }.mkString(",\n")},
        |   $langPick AS pred_lang FROM toks)),
        | fps AS (SELECT doc_id, ${fingerprintDuck("t")} AS fp FROM toks),
        | canon AS (SELECT MIN(doc_id) AS doc_id FROM fps GROUP BY fp)
        |SELECT q.doc_id, l.pred_lang, q.n_toks, q.stop_ratio
        |FROM qual q
        |JOIN lang l ON l.doc_id = q.doc_id AND l.pred_lang = 'en'
        |JOIN canon c ON c.doc_id = q.doc_id
        |WHERE q.len_ok = 1 AND q.stop_ratio >= 0.02
        |  AND q.digit_ratio <= 0.2""".stripMargin,

    "q37_dedup_exact" ->
      s"""WITH $toksCte,
        | fps AS (SELECT doc_id, ${fingerprintDuck("t")} AS fp FROM toks)
        |SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS canonical
        |FROM fps GROUP BY fp""".stripMargin,

    "q38_minhash_sig" ->
      s"""WITH $toksCte, ${shCte()}
        |SELECT doc_id, ${sigSelect(8)} FROM sh""".stripMargin,

    "q39_minhash_pairs" -> minhashPairsSql(""),

    "q278_split_leakage" ->
      s"""WITH $minhashPairCtes,
        | pr AS (SELECT ida, idb FROM j WHERE inter / uni >= 0.5),
        | sp AS (SELECT doc_id, ${splitRkDuck("doc_id")} AS rk
        |  FROM documents),
        | x AS (SELECT least(a.rk, b.rk) AS rlo, greatest(a.rk, b.rk) AS rhi
        |  FROM pr
        |  JOIN sp a ON pr.ida = a.doc_id
        |  JOIN sp b ON pr.idb = b.doc_id)
        |SELECT
        |  ${splitNameDuck("rlo")} AS split_lo,
        |  ${splitNameDuck("rhi")} AS split_hi,
        |  CAST(count(*) AS BIGINT) AS n_pairs, rlo <> rhi AS leaky
        |FROM x GROUP BY rlo, rhi""".stripMargin,

    // q145's cluster + keep CTEs, rolled up to per-source token budgets
    // the identical keep decision replayed, then gram distinctness per
    // source over all docs vs survivors (a gram survives iff ANY kept
    // doc carries it)
    "q298_dedup_diversity" ->
      s"""WITH RECURSIVE $dedupBudgetCtes,
        | keeps AS (SELECT asg.doc_id, asg.source,
        |   CASE WHEN asg.doc_id = best.keep_id THEN 1 ELSE 0 END AS keep
        |  FROM asg JOIN best USING (cl)),
        | g3 AS (SELECT doc_id,
        |   unnest(${ngramsDuck(s"(${toksDuck("text")})", 3)}) AS g
        |  FROM documents),
        | gr AS (SELECT k.source, g3.g, MAX(k.keep) AS kept_g
        |  FROM g3 JOIN keeps k USING (doc_id) GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS grams_raw,
        | CAST(SUM(kept_g) AS BIGINT) AS grams_kept,
        | CAST(SUM(kept_g) * 1000000 // count(*) AS BIGINT)
        |   AS retained_ppm
        |FROM gr GROUP BY 1""".stripMargin,

    "q281_dedup_token_budget" ->
      s"""WITH RECURSIVE $dedupBudgetCtes
        |SELECT source, n_docs, n_kept, toks_raw, toks_kept,
        | (toks_raw - toks_kept) * 1000000 // GREATEST(toks_raw, 1)
        |   AS dup_tok_ppm
        |FROM g""".stripMargin,

    // the budget CTEs + q170's weight formula + the epoch arithmetic
    "q283_epoch_plan" ->
      s"""WITH RECURSIVE $dedupBudgetCtes,
        | w AS (SELECT *, CAST(FLOOR(SQRT(CAST(toks_raw AS DOUBLE)))
        |   AS BIGINT) AS isq FROM g),
        | tot AS (SELECT CAST(SUM(isq) AS BIGINT) AS isq_tot,
        |   CAST(SUM(toks_raw) AS BIGINT) AS b FROM w),
        | x AS (SELECT w.*, isq * 1000000 // tot.isq_tot AS w_ppm, tot.b
        |  FROM w, tot),
        | y AS (SELECT *, (b // 1000000) * w_ppm
        |   + ((b % 1000000) * w_ppm) // 1000000 AS target_toks FROM x),
        | z AS (SELECT *,
        |   target_toks * 1000 // GREATEST(toks_kept, 1)
        |     AS epochs_milli FROM y)
        |SELECT source, toks_raw, toks_kept, w_ppm, target_toks,
        | epochs_milli, epochs_milli > 4000 AS oversampled
        |FROM z""".stripMargin,

    // q60's cluster CTEs + the canonical-split reassignment
    "q279_split_repair" ->
      s"""WITH RECURSIVE $minhashPairCtes,
        | pairs AS (SELECT ida, idb FROM j WHERE inter / uni >= 0.5),
        | ed AS (SELECT ida AS src, idb AS dst FROM pairs
        |        UNION SELECT idb, ida FROM pairs),
        | cc AS (SELECT src AS n, src AS m FROM ed
        |        UNION SELECT e.dst, c.m FROM cc c JOIN ed e ON e.src = c.n),
        | cl0 AS (SELECT n AS doc_id, MIN(m) AS canonical FROM cc GROUP BY n),
        | asg AS (SELECT d.doc_id,
        |   COALESCE(cl0.canonical, d.doc_id) AS cl
        |  FROM documents d LEFT JOIN cl0 USING (doc_id))
        |SELECT doc_id, cl,
        |  ${splitNameDuck(splitRkDuck("doc_id"))} AS split_old,
        |  ${splitNameDuck(splitRkDuck("cl"))} AS split_new,
        |  ${splitRkDuck("doc_id")} <> ${splitRkDuck("cl")} AS moved
        |FROM asg""".stripMargin,

    // Full-recompute pairs restricted to those touching the 20% batch:
    // the incremental path must find exactly these.
    "q85_incremental_dedup" ->
      minhashPairsSql(" AND (ida % 5 = 0 OR idb % 5 = 0)"),

    // Admission = batch minus rejects: a batch doc loses to any pair
    // partner that is corpus (always) or a smaller batch id.
    "q88_batch_admission" -> admissionSql,

    // streaming maintenance must land on the identical admission set
    "q193_stream_admission" -> admissionSql,

    "q60_dup_clusters" ->
      s"""WITH RECURSIVE $toksCte, ${shCte()},
        | sig AS (SELECT doc_id, shset, ${sigSelect(8)} FROM sh),
        | bands AS (${(0 until 4).map(b =>
            s"SELECT doc_id, $b AS bi, md5(s${2 * b} || s${2 * b + 1}) AS bv FROM sig")
            .mkString("\n  UNION ALL ")}),
        | $bandCapCtes,
        | cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
        |   FROM bands a JOIN bandsr b
        |   ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
        | j AS (SELECT c.ida, c.idb,
        |   len(list_intersect(x.shset, y.shset)) AS inter,
        |   len(x.shset) + len(y.shset) - len(list_intersect(x.shset, y.shset)) AS uni
        |  FROM cand c
        |  JOIN sig x ON x.doc_id = c.ida
        |  JOIN sig y ON y.doc_id = c.idb),
        | pairs AS (SELECT ida, idb FROM j WHERE inter / uni >= 0.5),
        | ed AS (SELECT ida AS src, idb AS dst FROM pairs
        |        UNION SELECT idb, ida FROM pairs),
        | cc AS (SELECT src AS n, src AS m FROM ed
        |        UNION SELECT e.dst, c.m FROM cc c JOIN ed e ON e.src = c.n)
        |SELECT n AS doc_id, MIN(m) AS canonical FROM cc GROUP BY n""".stripMargin,

    // q60's cluster CTEs + the longest-member argmax per cluster
    "q145_cluster_canonical" ->
      s"""WITH RECURSIVE $minhashPairCtes,
        | pairs AS (SELECT ida, idb FROM j WHERE inter / uni >= 0.5),
        | ed AS (SELECT ida AS src, idb AS dst FROM pairs
        |        UNION SELECT idb, ida FROM pairs),
        | cc AS (SELECT src AS n, src AS m FROM ed
        |        UNION SELECT e.dst, c.m FROM cc c JOIN ed e ON e.src = c.n),
        | cl0 AS (SELECT n AS doc_id, MIN(m) AS canonical FROM cc GROUP BY n),
        | asg AS (SELECT d.doc_id, d.n_chars,
        |   COALESCE(cl0.canonical, d.doc_id) AS cl
        |  FROM documents d LEFT JOIN cl0 USING (doc_id)),
        | best AS (SELECT cl, doc_id AS keep_id FROM (
        |   SELECT cl, doc_id, ROW_NUMBER() OVER (PARTITION BY cl
        |     ORDER BY n_chars DESC, doc_id) AS rn FROM asg) WHERE rn = 1)
        |SELECT asg.doc_id, asg.cl, asg.doc_id = best.keep_id AS keep
        |FROM asg JOIN best USING (cl)""".stripMargin,

    // prefix-filter candidates + integer cross-multiplied verify over
    // the same shingle sets the minhash oracle uses
    "q154_prefix_join" ->
      s"""WITH $toksCte, ${shCte()},
        | ss AS (SELECT doc_id, list_sort(shset) AS ss, len(shset) AS n
        |   FROM sh WHERE len(shset) > 0),
        | pl AS (SELECT doc_id, ss, n,
        |   n - ((1 * n + 1) // 2) + 1 AS plen FROM ss),
        | pref AS (SELECT doc_id, unnest(ss[1:plen]) AS p FROM pl),
        | cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
        |  FROM pref x JOIN pref y ON x.p = y.p AND x.doc_id < y.doc_id),
        | v AS (SELECT cand.ida, cand.idb,
        |   len(list_intersect(a.ss, b.ss)) AS inter,
        |   a.n + b.n - len(list_intersect(a.ss, b.ss)) AS uni
        |  FROM cand JOIN pl a ON a.doc_id = cand.ida
        |   JOIN pl b ON b.doc_id = cand.idb)
        |SELECT ida, idb, CAST(inter AS BIGINT) AS inter,
        | CAST(uni AS BIGINT) AS uni
        |FROM v WHERE inter * 2 >= uni * 1""".stripMargin,

    // one-sided prefix filter: A-prefix vs B-full element join,
    // containment verified by integer cross-multiplication
    "q159_containment_join" ->
      s"""WITH $toksCte, ${shCte()},
        | ss AS (SELECT doc_id, list_sort(shset) AS ss, len(shset) AS n
        |   FROM sh WHERE len(shset) > 0),
        | pa AS (SELECT doc_id AS ida,
        |   unnest(ss[1:(n - ((3 * n + 3) // 4) + 1)]) AS p FROM ss),
        | ab AS (SELECT doc_id AS idb, unnest(ss) AS p FROM ss),
        | cand AS (SELECT DISTINCT pa.ida, ab.idb
        |  FROM pa JOIN ab ON pa.p = ab.p AND pa.ida <> ab.idb),
        | v AS (SELECT cand.ida, cand.idb,
        |   len(list_intersect(a.ss, b.ss)) AS inter, a.n AS na
        |  FROM cand JOIN ss a ON a.doc_id = cand.ida
        |   JOIN ss b ON b.doc_id = cand.idb)
        |SELECT ida, idb, CAST(inter AS BIGINT) AS inter,
        | CAST(na AS BIGINT) AS na
        |FROM v WHERE inter * 4 >= na * 3""".stripMargin,

    "q149_leakage_safe_split" ->
      s"""WITH RECURSIVE $minhashPairCtes,
        | pairs AS (SELECT ida, idb FROM j WHERE inter / uni >= 0.5),
        | ed AS (SELECT ida AS src, idb AS dst FROM pairs
        |        UNION SELECT idb, ida FROM pairs),
        | cc AS (SELECT src AS n, src AS m FROM ed
        |        UNION SELECT e.dst, c.m FROM cc c JOIN ed e ON e.src = c.n),
        | cl0 AS (SELECT n AS doc_id, MIN(m) AS canonical FROM cc GROUP BY n),
        | asg AS (SELECT d.doc_id,
        |   COALESCE(cl0.canonical, d.doc_id) AS canonical
        |  FROM documents d LEFT JOIN cl0 USING (doc_id))
        |SELECT doc_id, canonical,
        | CASE WHEN ${nibbleDuck("md5(CAST(canonical AS VARCHAR))", 0)} < 13
        |   THEN 'train' ELSE 'test' END AS split
        |FROM asg""".stripMargin,

    "q146_dup_rate" ->
      s"""WITH fp AS (SELECT source,
        |   ${fingerprintDuck(s"(${toksDuck("text")})")} AS fp
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        | count(DISTINCT fp) AS n_distinct,
        | ((count(*) - count(DISTINCT fp)) * 1000000) // count(*) AS dup_ppm
        |FROM fp GROUP BY 1""".stripMargin,

    "q40_simhash" ->
      s"""WITH $toksCte,
        | tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
        | h AS (SELECT doc_id, md5(tk) AS hh FROM tok),
        | nib AS (SELECT doc_id, ${(0 until 8).map(kk =>
            s"${nibbleDuck("hh", kk)} AS n$kk").mkString(", ")} FROM h)
        |SELECT doc_id,
        | ${simhashFromSumsDuck(j => s"SUM(${bitSignDuck(j)})")} AS simhash
        |FROM nib GROUP BY doc_id""".stripMargin,

    "q168_boundary_overlap" -> boundaryOverlapSql,

    "q172_token_gini" ->
      s"""WITH $toksCte,
        | s AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n,
        |   CAST(list_aggregate(
        |     [x * x FOR x IN [len(list_filter(t, x -> x = d))
        |        FOR d IN list_distinct(t)]],
        |     'sum') AS BIGINT) AS sumsq,
        |   CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq
        |  FROM toks WHERE len(t) > 0)
        |SELECT doc_id, n AS n_toks, n_uniq,
        | ((n * n - sumsq) * 1000000) // (n * n) AS gini_ppm
        |FROM s""".stripMargin,

    "q80_tfidf_terms" ->
      s"""WITH $toksCte,
        | flat AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        | tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM flat GROUP BY 1, 2),
        | dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        | nn AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM documents),
        | scored AS (SELECT tf.doc_id, tf.tok,
        |   CAST(tf.tf * (nn.nn + 1) AS DOUBLE) / (dfq.df + 1) AS score
        |  FROM tf JOIN dfq USING (tok) CROSS JOIN nn),
        | ranked AS (SELECT doc_id, tok, score,
        |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
        |  FROM scored)
        |SELECT doc_id, tok, rank, score FROM ranked WHERE rank <= 3""".stripMargin,

    "q72_simhash_pairs" ->
      s"""WITH $toksCte,
        | tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
        | h AS (SELECT doc_id, md5(tk) AS hh FROM tok),
        | nib AS (SELECT doc_id, ${(0 until 15).map(kk =>
            s"${nibbleDuck("hh", kk)} AS n$kk").mkString(", ")} FROM h),
        | sh AS (SELECT doc_id,
        |   ${simhashBits(60)(j => s"SUM(${bitSignDuck(j)})")} AS simhash
        |  FROM nib GROUP BY doc_id),
        | chunks AS (SELECT doc_id, c.c AS ci,
        |    (simhash >> (c.c * 15)) & 32767 AS cv
        |  FROM sh, range(0, 4) c(c)),
        | cand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
        |  FROM chunks x JOIN chunks y
        |  ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id)
        |SELECT cand.ida, cand.idb,
        | CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM cand JOIN sh a ON a.doc_id = cand.ida
        | JOIN sh b ON b.doc_id = cand.idb
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q41_ngram_jaccard" ->
      s"""WITH $toksCte, ${shCte()},
        | s AS (SELECT doc_id, lang,
        |   CAST(FLOOR(n_chars / 100) AS BIGINT) AS lb, shset FROM sh),
        | j AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
        |   len(list_intersect(a.shset, b.shset)) AS inter,
        |   len(a.shset) + len(b.shset) - len(list_intersect(a.shset, b.shset)) AS uni
        |  FROM s a JOIN s b
        |  ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id)
        |SELECT ida, idb, inter / uni AS jac FROM j
        |WHERE inter / uni >= 0.3""".stripMargin,

    // q221's ground-truth CTE mirrors the façade's bounded-work shape
    // (prefix-filter candidates, threshold 1/2, then exact verify) —
    // NOT an all-pairs join over the md5 half-sample: the prefix
    // filter has exact recall at the threshold (any pair with
    // jac >= 1/2 shares a token in both docs' (n - ceil(n/2) + 1)-
    // prefix of the sorted shingle list), so the truth SET is
    // identical to the old O(sample²) spelling, but the oracle now
    // terminates at sf1+ where the all-pairs join stalled the r10
    // sweep adjudication (VERDICT r10 "What's wrong" #3).
    "q221_lsh_tuning" -> {
      val configs = Seq(1, 2, 4)
      val bandCtes = configs.map { r =>
        val nBands = 8 / r
        val bands = (0 until nBands).map { b =>
          val parts = (b * r until (b + 1) * r).map(i => s"s$i")
            .mkString(" || ")
          s"SELECT doc_id, $b AS bi, md5($parts) AS bv FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""bands$r AS ($bands),
          | bsz$r AS (SELECT bi, bv, count(*) AS bn
          |  FROM bands$r GROUP BY 1, 2),
          | bandsr$r AS (SELECT b.doc_id, b.bi, b.bv
          |  FROM bands$r b JOIN bsz$r USING (bi, bv)
          |  WHERE ${graft.operators.BucketCap.keepDuck(
                      "b.doc_id", s"bsz$r.bn", mhCap)}),
          | cand$r AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
          |  FROM bands$r x JOIN bandsr$r y
          |  ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id),
          | cn$r AS (SELECT count(*) AS n_cand FROM cand$r),
          | h$r AS (SELECT count(*) AS n_hit
          |  FROM cand$r JOIN truth USING (ida, idb))""".stripMargin
      }.mkString(",\n ")
      val rows = configs.map { r =>
        s"""SELECT CAST(${8 / r} AS INT) AS n_bands,
          | CAST($r AS INT) AS band_rows, cn$r.n_cand, tn.n_truth,
          | h$r.n_hit,
          | (h$r.n_hit * 1000000) // greatest(tn.n_truth, 1) AS recall_ppm,
          | (h$r.n_hit * 1000000) // greatest(cn$r.n_cand, 1) AS prec_ppm
          |FROM cn$r, tn, h$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $toksCte, ${shCte()},
        | smp AS (SELECT doc_id, sg, shset FROM sh
        |  WHERE ${nibbleDuck("md5(CAST(doc_id AS VARCHAR))", 0)} < 8),
        | ptss AS (SELECT doc_id, list_sort(shset) AS ss, len(shset) AS n
        |  FROM smp WHERE len(shset) > 0),
        | ptpl AS (SELECT doc_id, ss, n,
        |   n - ((1 * n + 1) // 2) + 1 AS plen FROM ptss),
        | ptpref AS (SELECT doc_id, unnest(ss[1:plen]) AS p FROM ptpl),
        | ptcand AS (SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb
        |  FROM ptpref x JOIN ptpref y
        |  ON x.p = y.p AND x.doc_id < y.doc_id),
        | truth AS (SELECT ptcand.ida, ptcand.idb
        |  FROM ptcand JOIN ptpl a ON a.doc_id = ptcand.ida
        |   JOIN ptpl b ON b.doc_id = ptcand.idb
        |  WHERE len(list_intersect(a.ss, b.ss)) * 2
        |    >= a.n + b.n - len(list_intersect(a.ss, b.ss))),
        | tn AS (SELECT count(*) AS n_truth FROM truth),
        | sig AS (SELECT doc_id, ${sigSelect(8)} FROM smp),
        | $bandCtes
        |$rows""".stripMargin
    },

    // the three stage decisions replayed from their own shared CTE
    // chains (near-dup keep = dedupBudget's asg/best, quality = q218's
    // rule conjunction, exact = fingerprint first-owner) and composed
    // by the identical int-product conjunctions
    "q300_curation_funnel" ->
      s"""WITH RECURSIVE $dedupBudgetCtes,
        | $gopherKeepCtes,
        | fpc AS (SELECT doc_id, ${fingerprintDuck("t")} AS fp FROM toks),
        | kec AS (SELECT doc_id,
        |   CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp)
        |     THEN 1 ELSE 0 END AS ke FROM fpc),
        | knc AS (SELECT asg.doc_id, asg.source, asg.n_toks,
        |   CASE WHEN asg.doc_id = best.keep_id THEN 1 ELSE 0 END AS kn
        |  FROM asg JOIN best USING (cl))
        |SELECT knc.source, CAST(count(*) AS BIGINT) AS n_raw,
        | CAST(SUM(knc.n_toks) AS BIGINT) AS toks_raw,
        | CAST(SUM(kqt.kq) AS BIGINT) AS n_q,
        | CAST(SUM(kqt.kq * kec.ke) AS BIGINT) AS n_qe,
        | CAST(SUM(kqt.kq * kec.ke * knc.kn) AS BIGINT) AS n_qen,
        | CAST(SUM(knc.n_toks * kqt.kq * kec.ke * knc.kn) AS BIGINT)
        |   AS toks_kept,
        | CAST(SUM(knc.n_toks * kqt.kq * kec.ke * knc.kn) * 1000000
        |   // GREATEST(SUM(knc.n_toks), 1) AS BIGINT) AS survive_ppm
        |FROM knc JOIN kqt USING (doc_id) JOIN kec USING (doc_id)
        |GROUP BY 1""".stripMargin,

    // both orderings replayed from the shared chains: global argmax
    // (best) vs quality-restricted argmax (bq), identical tie rule
    "q301_funnel_order" ->
      s"""WITH RECURSIVE $dedupBudgetCtes,
        | $gopherKeepCtes,
        | bq AS (SELECT cl, doc_id AS keep_q FROM (
        |   SELECT asg.cl, asg.doc_id, ROW_NUMBER() OVER (
        |     PARTITION BY asg.cl
        |     ORDER BY asg.n_chars DESC, asg.doc_id) AS rn
        |   FROM asg JOIN kqt USING (doc_id) WHERE kqt.kq = 1)
        |  WHERE rn = 1)
        |SELECT asg.source, CAST(SUM(asg.n_toks) AS BIGINT) AS toks_raw,
        | CAST(SUM(asg.n_toks * kqt.kq * CASE WHEN asg.doc_id = best.keep_id
        |   THEN 1 ELSE 0 END) AS BIGINT) AS toks_dedup_then_q,
        | CAST(SUM(CASE WHEN asg.doc_id = bq.keep_q
        |   THEN asg.n_toks ELSE 0 END) AS BIGINT) AS toks_q_then_dedup,
        | CAST(SUM(asg.n_toks * kqt.kq * CASE WHEN asg.doc_id = best.keep_id
        |   THEN 1 ELSE 0 END) * 1000000
        |   // GREATEST(SUM(asg.n_toks), 1) AS BIGINT) AS ppm_dedup_then_q,
        | CAST(SUM(CASE WHEN asg.doc_id = bq.keep_q
        |   THEN asg.n_toks ELSE 0 END) * 1000000
        |   // GREATEST(SUM(asg.n_toks), 1) AS BIGINT) AS ppm_q_then_dedup
        |FROM asg JOIN kqt USING (doc_id) JOIN best USING (cl)
        |LEFT JOIN bq USING (cl)
        |GROUP BY 1""".stripMargin,

    "q218_gopher_rules" ->
      s"""WITH $toksCte,
        | n AS (SELECT doc_id, len(t) AS n_toks,
        |   ${tokCharsDuck("t")} AS tok_chars,
        |   len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
        |   ${hitCountDuck("list_distinct(t)", langWords.toMap.apply("en"))} AS n_stop_d,
        |   t FROM toks),
        | g AS (SELECT doc_id, CASE WHEN len(t) >= 2
        |    THEN [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
        |    ELSE [] END AS grams FROM toks),
        | f AS (SELECT doc_id, unnest(grams) AS gram FROM g),
        | cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM f GROUP BY 1, 2),
        | agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
        |    CAST(MAX(c) AS BIGINT) AS max_gram FROM cnt GROUP BY doc_id),
        | fl AS (SELECT n.doc_id, n.n_toks,
        |   CAST(n_toks >= 20 AND n_toks <= 1000 AS INT) AS len_ok,
        |   CAST(n_toks > 0 AND tok_chars * 10 >= n_toks * 30
        |     AND tok_chars * 10 <= n_toks * 100 AS INT) AS mean_len_ok,
        |   CAST(n_toks > 0 AND n_alpha * 10 >= n_toks * 8 AS INT) AS alpha_ok,
        |   CAST(n_stop_d >= 1 AS INT) AS stop_ok,
        |   CAST(COALESCE(a.max_gram, 0) * 5
        |     <= GREATEST(COALESCE(a.n_grams, 0), 1) AS INT) AS rep_ok
        |  FROM n LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, n_toks, len_ok, mean_len_ok, alpha_ok, stop_ok,
        | rep_ok,
        | len_ok * mean_len_ok * alpha_ok * stop_ok * rep_ok AS keep
        |FROM fl""".stripMargin
  )
}
