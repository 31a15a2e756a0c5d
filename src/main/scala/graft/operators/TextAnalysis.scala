package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextExpr._
import graft.functions.DetMath._

/** Text-analysis operators for LLM data pipelines (SURVEY.md §2.11):
  * per-document statistics, quality scoring, language identification,
  * token counting. All are pure column expressions — narrow, no shuffle,
  * fully inside whole-stage codegen — so they stream over 100 TB at scan
  * speed and compose with any downstream filter/agg.
  */
object TextAnalysis {

  /** Append the normalized token array (fused native tokenizer,
    * spec-identical to TextExpr.toksSpark). [[Par.widen]]ed: per-doc
    * tokenization is the text-stats hot loop, and a bytes-sized scan
    * plans far too few splits for it (see Par's scaladoc — r13 sf10). */
  def withTokens(df: DataFrame, textCol: String, out: String = "toks"): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    Par.widen(df).withColumn(out, expr(s"graft_tokens($textCol)"))
  }

  /** Per-doc surface statistics: char length, token counts, type-token
    * ratio, mean token length. Ratios are exact-integer divisions →
    * deterministic doubles. */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withTokens(df, textCol)
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("tok_chars", expr(tokCharsSpark("toks")))
      .select(col(idCol),
        length(col(textCol)).as("len"),
        col("n_toks"), col("n_uniq"),
        rnd(col("n_uniq") / greatest(col("n_toks"), lit(1)), 4).as("ttr"),
        rnd(col("tok_chars") / greatest(col("n_toks"), lit(1)), 4).as("mean_tok_len"))

  /** Heuristic quality score: stopword ratio, digit ratio, length band. */
  def quality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val en = langWords.toMap.apply("en")
    withTokens(df, textCol)
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_stop", expr(hitCountSpark("toks", en)))
      .withColumn("n_digit", size(expr("filter(toks, x -> x rlike '^[0-9]+$')")))
      .select(col(idCol), col("n_toks"), col("n_stop"), col("n_digit"),
        rnd(col("n_stop") / greatest(col("n_toks"), lit(1)), 4).as("stop_ratio"),
        rnd(col("n_digit") / greatest(col("n_toks"), lit(1)), 4).as("digit_ratio"),
        (col("n_toks") >= 20 && col("n_toks") <= 1000).cast("int").as("len_ok"))
  }

  /** Gopher-style repetition scoring: the fraction of the document's
    * word bigrams taken by its single most frequent bigram (boilerplate
    * and template spam repeat themselves; clean prose doesn't). One
    * explode + one two-level hash-agg — the shuffle key is (doc, gram)
    * then doc, so parallelism grows with the corpus. The ratio is one
    * exact-integer division → deterministic double both engines. */
  def repetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.TextNative.register(df.sparkSession)
    // graft_ngrams(text, 2) is the fused twin of the old declarative
    // bigram spelling (empty array below 2 tokens, identical join
    // separator) — one tight loop instead of interpreted per-element
    // lambda dispatch in the generator expression. Par.widen: the
    // per-doc gram loop outweighs the scan (see Par's scaladoc).
    Par.widen(df).select(col(idCol),
        posexplode_outer(expr(s"graft_ngrams($textCol, 2)"))
          .as(Seq("_p", "gram")))
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(
        // gram null (empty/1-token doc) → count that row as 0 grams
        sum(when(col("gram").isNotNull, col("c")).otherwise(0L)).as("n_grams"),
        max(when(col("gram").isNotNull, col("c")).otherwise(0L)).as("max_gram"))
      .select(col(idCol), col("n_grams"), col("max_gram"),
        rnd(col("max_gram") / greatest(col("n_grams"), lit(1)), 4)
          .as("rep_ratio"))
  }

  /** Stopword-list language ID with deterministic tie-break (first
    * language in TextExpr.langWords order wins). */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withScores = langWords.foldLeft(withTokens(df, textCol)) {
      case (d, (lang, words)) =>
        d.withColumn(s"c_$lang", expr(hitCountSpark("toks", words)))
    }
    withScores.select(
      (col(idCol) +: langWords.map { case (l, _) => col(s"c_$l") }) :+
        expr(langPick).as("pred_lang"): _*)
  }

  /** ONE-PASS curation enrichment: quality metrics + language scores +
    * content fingerprint from a single tokenization of each row — the
    * fusion a corpus-curation pipeline wants (calling quality/langId/
    * fingerprint separately tokenizes the corpus once per operator;
    * at 100 TB tokenization IS the dominant cost). Emits every column
    * [[quality]] and [[langId]] emit, plus `fp`. */
  def enrich(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val en = langWords.toMap.apply("en")
    val withScores = langWords.foldLeft(withTokens(df, textCol)) {
      case (d, (lang, words)) =>
        d.withColumn(s"c_$lang", expr(hitCountSpark("toks", words)))
    }
    withScores
      .withColumn("n_toks", size(col("toks")))
      .withColumn("n_stop", expr(hitCountSpark("toks", en)))
      .withColumn("n_digit", size(expr("filter(toks, x -> x rlike '^[0-9]+$')")))
      .withColumn("stop_ratio",
        rnd(col("n_stop") / greatest(col("n_toks"), lit(1)), 4))
      .withColumn("digit_ratio",
        rnd(col("n_digit") / greatest(col("n_toks"), lit(1)), 4))
      .withColumn("len_ok",
        (col("n_toks") >= 20 && col("n_toks") <= 1000).cast("int"))
      .withColumn("pred_lang", expr(langPick))
      .withColumn("fp", expr(fingerprintSpark("toks")))
      .drop("toks")
  }

  /** Token-count estimators: whitespace tokens, BPE-ish regex tokens,
    * chars/4 heuristic. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withTokens(df, textCol)
      .select(col(idCol),
        size(col("toks")).as("ws_toks"),
        expr(bpeCountSpark(textCol)).as("bpe_toks"),
        ceil(length(col(textCol)) / 4.0).cast("long").as("approx_toks"))

  /** Gopher-style composite quality gate (Rae et al. 2021 §A.1.1,
    * adapted to this corpus's scale): five independent pass flags plus
    * the conjunction, each spelled in pure integer arithmetic so the
    * oracle agrees bit-for-bit:
    *   - len_ok        20 <= n_toks <= 1000
    *   - mean_len_ok   mean token length in [3, 10] chars
    *                   (tok_chars*10 between n_toks*30 and n_toks*100)
    *   - alpha_ok      >= 80% of tokens contain a letter
    *   - stop_ok       >= 1 *distinct* stopword present (Gopher asks
    *                   for 2 of 8; this corpus's synthetic vocabulary
    *                   carries exactly one list word, so 1 is the
    *                   threshold that discriminates here)
    *   - rep_ok        top bigram takes <= 20% of all bigrams
    * Emitting per-rule flags (not just `keep`) is the point: a corpus
    * audit needs the reject-reason breakdown to see WHICH rule is
    * eating the data. The four narrow flags are scan-speed column
    * expressions; rep_ok reuses the (doc, gram) two-level hash-agg of
    * [[repetition]] and joins back on the id — one extra doc-keyed
    * shuffle of 3-column rows, which at 100 TB is noise next to the
    * gram explode itself. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val en = langWords.toMap.apply("en")
    val narrow = withTokens(df, textCol)
      .withColumn("n_toks", size(col("toks")))
      .withColumn("tok_chars", expr(tokCharsSpark("toks")))
      .withColumn("n_alpha",
        size(expr("filter(toks, x -> x rlike '[a-z]')")))
      .withColumn("n_stop_d",
        expr(hitCountSpark("array_distinct(toks)", en)))
      .select(col(idCol), col("n_toks"),
        (col("n_toks") >= 20 && col("n_toks") <= 1000)
          .cast("int").as("len_ok"),
        (col("n_toks") > 0 &&
          col("tok_chars") * 10 >= col("n_toks") * 30 &&
          col("tok_chars") * 10 <= col("n_toks") * 100)
          .cast("int").as("mean_len_ok"),
        (col("n_toks") > 0 && col("n_alpha") * 10 >= col("n_toks") * 8)
          .cast("int").as("alpha_ok"),
        (col("n_stop_d") >= 1).cast("int").as("stop_ok"))
    val rep = repetition(df, idCol, textCol)
      .select(col(idCol),
        (col("max_gram") * 5 <= greatest(col("n_grams"), lit(1)))
          .cast("int").as("rep_ok"))
    narrow.join(rep, idCol)
      .withColumn("keep",
        (col("len_ok") * col("mean_len_ok") * col("alpha_ok") *
          col("stop_ok") * col("rep_ok")).cast("int"))
  }

  /** ITERATIVE BPE merge training (Sennrich et al. 2016) — the greedy
    * loop q203's one-shot pair scoring approximates: K rounds, each
    * counting adjacent-piece pairs over the CURRENT segmentation
    * (weighted by word frequency), merging the argmax, and re-counting.
    * Only the iterative loop can learn multi-character merges (round r
    * can fuse a piece produced by round r-1 — e.g. "p"+"ar" → "par"),
    * which is what makes real BPE vocabularies.
    *
    * Pinned semantics (shared with [[graft.functions.TextNative.bpeApply]]
    * and the q270 DuckDB oracle): a pair is identified by the
    * CONCATENATION of its two adjacent pieces — exactly the match rule
    * bpeApply's fuse pass uses — counted once per occurrence weighted by
    * the word's corpus frequency; argmax ties break lexicographically on
    * the merged string; each round's segmentation is bpeApply(w,
    * merges-so-far). Merge counts are provably non-increasing across
    * rounds (a post-merge pair either existed before with ≥ its new
    * count, or contains the new symbol and is bounded by the chosen
    * pair's count) — PropertySpec pins the law.
    *
    * Scale shape: the corpus is scanned ONCE to build `tf` (w, f) —
    * vocabulary-bounded, cached — and every round runs only on that
    * table (segment via graft_bpe with the merges-so-far literal, one
    * narrow explode + hash agg + top-1 heap). The per-round 1-row argmax
    * collect is the q202 bounded-k driver-loop precedent; K is a small
    * constant. This is exactly why industrial BPE trainers operate on
    * word-frequency lists, never the raw corpus.
    *
    * @param tf vocabulary table (w: string, f: long) — word frequencies
    * @param k  number of merges to learn
    * @return (rk, merge, cnt): learned merges in training order with
    *         their at-selection corpus-weighted pair counts
    */
  def bpeTrain(tf: DataFrame, k: Int): DataFrame = {
    val spark = tf.sparkSession
    graft.functions.TextNative.register(spark)
    Scratch.scoped(spark) {
      val vocab = Scratch.cache(tf.filter(length(col("w")) >= 2)
        .select(col("w"), col("f").cast("long").as("f")))
      val merges = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      var r = 1
      var done = false
      while (r <= k && !done) {
        // Merged strings are interpolated into SQL text as bare-quoted
        // array literals. That is safe only while every learned merge is
        // [a-z0-9]+ — an invariant inherited from graft_tokens, which
        // lives in a different file. Enforce it HERE so widening the
        // tokenizer (e.g. keeping apostrophes) fails loudly instead of
        // generating broken/injectable SQL.
        require(merges.forall(_._2.matches("[a-z0-9]+")),
          s"bpeTrain merges must be [a-z0-9]+ to embed as SQL literals: " +
            merges.map(_._2).filterNot(_.matches("[a-z0-9]+")).take(3))
        val arr =
          if (merges.isEmpty) "CAST(array() AS array<string>)"
          else merges.map(m => s"'${m._2}'").mkString("array(", ",", ")")
        val top = vocab
          .select(col("f"), expr(s"graft_bpe(w, $arr)").as("p"))
          .filter(size(col("p")) >= 2)
          .select(col("f"), explode(expr(
            "transform(sequence(1, size(p) - 1), " +
              "i -> concat(element_at(p, i), element_at(p, i + 1)))"))
            .as("pair"))
          .groupBy("pair").agg(sum("f").as("cnt"))
          .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
        if (top.isEmpty) done = true
        else {
          merges += ((r.toLong, top(0).getString(0), top(0).getLong(1)))
          r += 1
        }
      }
      import spark.implicits._
      merges.toSeq.toDF("rk", "merge", "cnt")
    }
  }
}
