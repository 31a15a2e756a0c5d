package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (SURVEY.md §2.11).
  *
  * Determinism strategy: float embeddings are quantized once to exact
  * scaled integers (`floor(double(x) * 10000)` — float→double is exact,
  * the product and floor are single IEEE ops), so dot products are
  * *integer* sums — order-independent and identical on every engine.
  * Cosine is then `dot / sqrt(n2a * n2b)` built only from
  * correctly-rounded IEEE ops on exact inputs → bit-identical doubles
  * in Spark and the DuckDB oracle. 64 dims × 10^8 per term stays far
  * below 2^63, no overflow.
  *
  * Scale discipline:
  *  - brute-force top-k: cross join is bounded by the (small) query set;
  *    ranking is a per-query window (shuffle on query id), top-k via
  *    filter — no global sort, no driver gather;
  *  - IVF: the corpus is assigned to coarse cells once (broadcast of the
  *    tiny centroid set), a query probes only its cell — the classic
  *    inverted-file layout where each cell is a partition-local scan.
  */
object Similarity {

  /** Exact scaled-integer quantization of a float-array embedding. */
  def quantized(embCol: String): Column =
    expr(s"transform($embCol, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT))")

  /** Integer dot product of two quantized vectors — the codegen'd native
    * expression (graft.functions.LongArrayDot); callers must have gone
    * through [[prepare]]/[[bruteForceTopK]]/… which register it. The
    * interpreted fallback spelling is kept for reference/testing. */
  def dotQ(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  def dotQInterpreted(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)")

  /** Deterministic cosine from integer dot and squared norms. */
  def cosine(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / sqrt(n2a.cast("double") * n2b.cast("double"))

  /** vec table → (idCol, payload..., q: quantized, n2: squared norm).
    * [[Par.widen]]ed first: quantization + the LSH signatures computed
    * on top of `q` are the embedding family's per-row hot loop, and a
    * bytes-sized scan plans far too few splits for it. The widen floor
    * is 0 HERE (text paths keep [[Par.DefaultWidenFloor]]): the
    * embedding family makes few widen calls per query while its per-row
    * cost dwarfs any gate-scale exchange (sf0.1: q135's collision side
    * otherwise ran as ONE 2.1 s task off the 1-split embeddings scan;
    * widened, q135 4.4/3.2 → 2.2/1.9 s warm reps). */
  def prepare(df: DataFrame, embCol: String): DataFrame = {
    graft.functions.LongArrayDot.register(df.sparkSession)
    Par.widen(df, 0L).withColumn("q", quantized(embCol))
      .withColumn("n2", dotQ("q", "q"))
  }

  /** Brute-force cosine top-k for each query vector. Output:
    * qid, vec_id, rank, cos — rank deterministic via (cos desc, id). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val c = prepare(corpus, embCol)
      .select(col(idCol).as("vec_id"), col("q").as("cq"), col("n2").as("cn2"))
    val qs = prepare(queries, embCol)
      .select(col(idCol).as("qid"), col("q").as("qq"), col("n2").as("qn2"))
    val scored = c.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot", dotQ("cq", "qq"))
      .withColumn("cos", cosine(col("dot"), col("cn2"), col("qn2")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "cos")
  }

  /** Assign every vector to its nearest centroid (max cosine, ties → min
    * centroid id). Centroids are broadcast — they are tiny by design. */
  def assignCells(corpus: DataFrame, centroids: DataFrame, idCol: String)
      : DataFrame = {
    val cent = centroids
      .select(col(idCol).as("cent_id"), col("q").as("centq"), col("n2").as("centn2"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("ccos").desc, col("cent_id"))
    corpus.crossJoin(broadcast(cent))
      .withColumn("cdot", dotQ("q", "centq"))
      .withColumn("ccos", cosine(col("cdot"), col("n2"), col("centn2")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .drop("centq", "centn2", "cdot", "crank")
  }

  /** IVF approximate top-k with nprobe=1: search only the query's cell. */
  def ivfTopK(corpus: DataFrame, queryIds: DataFrame, centroidIds: DataFrame,
      idCol: String, embCol: String, k: Int): DataFrame = {
    val prep = prepare(corpus, embCol).select(col(idCol), col("q"), col("n2"))
    val centroids = prep.join(centroidIds, idCol)
    val cells = assignCells(prep, centroids, idCol)
    val qs = cells.join(queryIds, idCol)
      .select(col(idCol).as("qid"), col("q").as("qq"),
        col("n2").as("qn2"), col("cent_id").as("qcell"))
    val cand = cells.select(col(idCol).as("vec_id"), col("q").as("cq"),
      col("n2").as("cn2"), col("cent_id").as("vcell"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.join(broadcast(qs), col("vcell") === col("qcell") &&
        col("vec_id") =!= col("qid"))
      .withColumn("dot", dotQ("cq", "qq"))
      .withColumn("cos", cosine(col("dot"), col("cn2"), col("qn2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "cos")
  }

  // ---- trained IVF: fixed-seed k-means + nprobe>1 ----

  /** Assign each vector to its `nprobe` nearest centroids (cos desc,
    * tie → min cent_id). `vecs`: (idCol, q, n2); `cent`: (cent_id, cq,
    * cn2), tiny and broadcast. */
  private def probe(vecs: DataFrame, cent: DataFrame, idCol: String,
      nprobe: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("ccos").desc, col("cent_id"))
    vecs.crossJoin(broadcast(cent))
      .withColumn("ccos", cosine(dotQ("q", "cq"), col("n2"), col("cn2")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nprobe)
      .drop("cq", "cn2", "ccos", "crank")
  }

  /** Final-cell assignment of every vector against TRAINED centroids
    * (max cosine, tie → min cent_id): vecs (idCol, q, n2) × cent
    * (cent_id, cq, cn2) via the broadcast probe — the blocking index
    * [[semDedup]] uses internally, exposed for cluster-level analytics
    * (e.g. c-TF-IDF cluster labeling, q263). */
  def cellAssignments(vecs: DataFrame, cent: DataFrame, idCol: String)
      : DataFrame = probe(vecs, cent, idCol, nprobe = 1)

  /** Deterministic k-means over quantized vectors: init = the k
    * lowest-id vectors; each iteration reassigns by max cosine and
    * recomputes centroids as the element-wise integer mean (`SUM DIV
    * COUNT` — exact BIGINT arithmetic, so the DuckDB oracle replays it
    * bit-for-bit; cosine is scale-invariant so the integer truncation
    * costs nothing material). Returns (cent_id, cq, cn2).
    *
    * Scale shape: one broadcast-join pass + one element-wise hash-agg
    * per iteration — no driver-side loops over data, only over the
    * (constant) iteration count. */
  def kmeansCentroids(prep: DataFrame, idCol: String, k: Int, iters: Int)
      : DataFrame = {
    var cent = prep.orderBy(col(idCol)).limit(k)
      .withColumn("cent_id", row_number().over(Window.orderBy(col(idCol))))
      .select(col("cent_id"), col("q").as("cq"), col("n2").as("cn2"))
    // Each iteration's centroid table is CUT (eagerly materialized,
    // lineage severed) — without it every loop wraps the previous plan
    // in another broadcast-join + two-level agg and analysis time/plan
    // size balloon with iters. The table is k rows, so the cut is
    // near-free; the prior iteration's cut is released once its
    // successor is materialized.
    var prevCut: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val assigned = probe(prep, cent, idCol, nprobe = 1)
      val next = Scratch.cut(assigned
        .select(col("cent_id"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos")
        .agg(expr("SUM(v) DIV COUNT(*)").as("m"))
        .groupBy("cent_id")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("cq"))
        .withColumn("cn2", dotQ("cq", "cq")))
      prevCut.foreach(Scratch.release)
      prevCut = Some(next)
      cent = next
    }
    cent
  }

  /** Product quantization (PQ) encode — the OTHER compression a 100 TB
    * ANN index ships (beside int8 scalar quantization): the vector
    * splits into `m` contiguous subvectors, each subspace trains its
    * own `k`-centroid codebook (deterministic Lloyd iterations: init =
    * the k lowest-id vectors' slices, assignment by MIN squared-L2
    * distance with cid tiebreak, recompute = element-wise SUM DIV
    * COUNT), and every vector encodes as m small codes — dim×4 bytes
    * compressed to m bytes. Squared L2 on the scaled-integer grid is
    * pure BIGINT ((x-y)² summed — max |x-y| ≈ 2e4, ×16 dims ≈ 6e9,
    * far from overflow), so codes AND reconstruction errors replay
    * exactly in the oracle: no float distance anywhere.
    *
    * Scale shape: the subspace axis lives in the DATA (an in-row
    * explode to m slim rows per vector), so all m codebooks train in
    * the SAME broadcast-join + hash-agg passes — per Lloyd iteration
    * one broadcast of the m·k-row codebook table and one element-wise
    * agg, identical to [[kmeansCentroids]]' loop shape; iteration
    * tables are lineage-cut. Output: one row per vector with its m
    * codes and total squared reconstruction error. */
  def pqEncode(df: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, iters: Int, subLen: Int,
      keep: Seq[String] = Nil): DataFrame = {
    // ONE prepare+slice pass, cached: every Lloyd iteration AND the
    // encode pass reads the same sliced table — previously each of the
    // iters+1 jobs re-parsed and re-sliced the full corpus (guide §1.2:
    // fix the passes before the per-task work). MEMORY_AND_DISK
    // spills rather than OOMs at scale.
    val prep = prepare(df, embCol)
    val sub = Scratch.cache(pqSlices(prep, idCol, m, subLen))
    val cent = pqTrainOn(prep, sub, idCol, m, k, iters, subLen)
    val coded = pqAssign(sub, cent, idCol)
      .select(col(idCol), col("sub"),
        col("w.cid").as("code"), col("w.d").as("err"))
    val codeCols = (0 until m).map(i =>
      max(when(col("sub") === i, col("code"))).as(s"code$i"))
    val out = coded.groupBy(col(idCol))
      .agg(codeCols.head, codeCols.tail :+ sum("err").as("qerr"): _*)
    if (keep.isEmpty) out
    else out.join(df.select(col(idCol) +: keep.map(col): _*), idCol)
  }

  /** Shared encode tail of [[pqEncode]] and [[pqEncodeAgainst]]: slice,
    * assign against `cent`, pivot codes wide, attach keep columns. */
  private def pqEncodeTail(src: DataFrame, cent: DataFrame, idCol: String,
      embCol: String, m: Int, subLen: Int, keep: Seq[String]): DataFrame = {
    val sub = pqSlices(prepare(src, embCol), idCol, m, subLen)
    val coded = pqAssign(sub, cent, idCol)
      .select(col(idCol), col("sub"),
        col("w.cid").as("code"), col("w.d").as("err"))
    val codeCols = (0 until m).map(i =>
      max(when(col("sub") === i, col("code"))).as(s"code$i"))
    val out = coded.groupBy(col(idCol))
      .agg(codeCols.head, codeCols.tail :+ sum("err").as("qerr"): _*)
    if (keep.isEmpty) out
    else out.join(src.select(col(idCol) +: keep.map(col): _*), idCol)
  }

  /** PQ asymmetric-distance (ADC) top-k search — WHY a PQ index exists:
    * each query computes a tiny (m × k) lookup table of exact
    * squared-L2 distances from its own (uncompressed) subvectors to
    * every codebook centroid, and a corpus vector's distance is then m
    * table lookups summed — the corpus is scanned as CODES (m bytes a
    * row), never as raw vectors. Plan: the LUT is (queries × m × k)
    * rows — broadcast; the code table streams through one equi-join on
    * (sub, code) and a per-(qid, vec) sum, then a per-qid window ranks
    * only the summed candidates. Exact BIGINT throughout, so the
    * oracle replays train + encode + LUT + rank bit-for-bit. */
  def pqAdcTopK(df: DataFrame, queryIds: DataFrame, idCol: String,
      embCol: String, m: Int, k: Int, iters: Int, subLen: Int,
      topK: Int): DataFrame = {
    // one cached prepare+slice pass shared by training, the code table
    // and the query LUT (as in [[pqEncode]])
    val prep = prepare(df, embCol)
    val sub = Scratch.cache(pqSlices(prep, idCol, m, subLen))
    val cent = pqTrainOn(prep, sub, idCol, m, k, iters, subLen)
    val codes = pqAssign(sub, cent, idCol)
      .select(col(idCol).as("vec_id"), col("sub"),
        col("w.cid").as("code"))
    val lut = sub.join(queryIds.select(col(idCol)), idCol)
      .select(col(idCol).as("qid"), col("sub"), col("sq"))
      .join(cent, "sub")
      .withColumn("d", pqD2)
      .select(col("qid"), col("sub").as("lsub"), col("cid"), col("d"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc"), col("vec_id"))
    codes.join(broadcast(lut),
        col("sub") === col("lsub") && col("code") === col("cid"))
      .groupBy("qid", "vec_id")
      .agg(sum("d").as("adc"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("qid", "vec_id", "rank", "adc")
  }

  /** Brute-force exact squared-L2 top-k per query vector — the ground
    * truth [[pqAdcTopK]]'s recall is measured against (the L2 sibling
    * of [[bruteForceTopK]]'s cosine ranking; same scale shape: the
    * query set broadcasts, the corpus streams, rank is a per-qid
    * window over the scored rows). Output: (qid, vec_id, rank, d). */
  def l2TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    val c = prepare(corpus, embCol)
      .select(col(idCol).as("vec_id"), col("q").as("cq2"))
    val qs = prepare(queries, embCol)
      .select(col(idCol).as("qid"), col("q").as("qq2"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("d"), col("vec_id"))
    c.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("d", expr(
        "aggregate(zip_with(cq2, qq2, (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS BIGINT), (a, v) -> a + v)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "d")
  }

  /** Exact squared-L2 distance of two same-length BIGINT slices. */
  private def pqD2: Column = expr(
    "aggregate(zip_with(sq, cq, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS BIGINT), (a, v) -> a + v)")

  /** (id, sub, sq): each prepared vector exploded into its m contiguous
    * subLen-wide subvector slices — the subspace axis as data. A row
    * whose vector is not exactly m·subLen wide raises at execution
    * (slice would otherwise silently truncate or short-pad and encode
    * garbage codes). */
  private def pqSlices(src: DataFrame, idCol: String, m: Int,
      subLen: Int): DataFrame =
    src
      // assert_true yields NULL when the predicate holds and raises
      // otherwise, so this filter keeps every valid row and turns a
      // geometry mismatch into an immediate execution error
      .filter(expr(s"assert_true(size(q) = ${m * subLen}, " +
        s"'pq geometry: vector dim != ${m * subLen} = m*subLen') IS NULL"))
      .select(col(idCol), explode(array(
        (0 until m).map(i => struct(lit(i).as("sub"),
          expr(s"slice(q, ${i * subLen + 1}, $subLen)").as("sq"))): _*))
      .as("z"))
      .select(col(idCol), col("z.sub").as("sub"), col("z.sq").as("sq"))

  /** Windowless nearest-codebook-entry argmin: (d, cid) is unique per
    * (vector, subspace), so MIN over the struct picks the closest
    * centroid with the cid tiebreak and combines map-side. */
  private def pqAssign(sub: DataFrame, cent: DataFrame,
      idCol: String): DataFrame =
    sub.join(broadcast(cent), "sub")
      .withColumn("d", pqD2)
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("d"), col("cid"), col("sq"))).as("w"))

  /** Persist trained PQ codebooks as a table — "build once": later
    * ingest batches encode against the saved codebooks with zero
    * training jobs (the q86 persisted-IVF story for PQ). */
  def writePqCodebook(df: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, iters: Int, subLen: Int, table: String): Unit =
    graft.sources.Tables.writeTable(
      pqTrain(df, idCol, embCol, m, k, iters, subLen), table)

  /** Encode a batch against a PERSISTED codebook table: only the batch
    * is sliced and assigned — the training corpus is never rescanned,
    * and the codebook (m·k rows) broadcasts. Output matches
    * [[pqEncode]]: (id, code0.., qerr) + keep columns. */
  def pqEncodeAgainst(batch: DataFrame, idCol: String, embCol: String,
      m: Int, subLen: Int, codebookTable: String,
      keep: Seq[String] = Nil): DataFrame = {
    val spark = batch.sparkSession
    // geometry gate: a codebook saved with different (m, subLen) would
    // otherwise zip_with-pad against the batch slices and emit silent
    // null distances. The gate must stay LAZY — an eager take(1) here
    // would launch a job at plan-construction time and break the
    // "encode path launches zero jobs until acted on" scale law — so
    // it rides the codebook scan as an execution-time assert_true
    // (NULL when the row's geometry is right, raises otherwise).
    val cent = spark.table(codebookTable)
      .filter(expr(
        s"assert_true(size(cq) = $subLen AND sub >= 0 AND sub < $m, " +
          s"'codebook $codebookTable does not have geometry " +
          s"m=$m subLen=$subLen') IS NULL"))
    pqEncodeTail(batch, cent, idCol, embCol, m, subLen, keep)
  }

  /** Train the m per-subspace k-centroid PQ codebooks (deterministic
    * Lloyd as in [[pqEncode]]'s doc). Returns (sub, cid, cq). */
  def pqTrain(df: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, iters: Int, subLen: Int): DataFrame = {
    val prep = prepare(df, embCol)
    // cached: each Lloyd iteration's cut job re-read this sliced table
    // instead of re-parsing + re-slicing the corpus per iteration
    val sub = Scratch.cache(pqSlices(prep, idCol, m, subLen))
    pqTrainOn(prep, sub, idCol, m, k, iters, subLen)
  }

  /** [[pqTrain]]'s Lloyd loop over an ALREADY prepared+sliced (and
    * typically cached) corpus — shared with [[pqEncode]]/[[pqAdcTopK]]
    * so train+encode pipelines slice the corpus exactly once. */
  private def pqTrainOn(prep: DataFrame, sub: DataFrame, idCol: String,
      m: Int, k: Int, iters: Int, subLen: Int): DataFrame = {
    // init: the k lowest-id vectors' slices, cid 1..k per subspace
    var cent = pqSlices(prep.orderBy(col(idCol)).limit(k), idCol, m, subLen)
      .withColumn("cid", row_number().over(
        Window.partitionBy(col("sub")).orderBy(col(idCol))))
      .select(col("sub"), col("cid"), col("sq").as("cq"))
    var prevCut: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val next = Scratch.cut(pqAssign(sub, cent, idCol)
        .select(col("sub"), col("w.cid").as("cid"),
          posexplode(col("w.sq")).as(Seq("pos", "v")))
        .groupBy("sub", "cid", "pos")
        .agg(expr("SUM(v) DIV COUNT(*)").as("mv"))
        .groupBy("sub", "cid")
        .agg(expr(
          "transform(array_sort(collect_list(struct(pos, mv))), x -> x.mv)")
          .as("cq")))
      prevCut.foreach(Scratch.release)
      prevCut = Some(next)
      cent = next
    }
    cent
  }

  /** Per-label element-wise integer-mean centroids (SUM DIV COUNT per
    * position) from a prepared frame — the train step of
    * nearest-centroid classification. Same exact-BIGINT recipe as
    * [[kmeansCentroids]]' recompute, keyed by a given label instead of
    * a learned cell, so the oracle replays it bit-for-bit. Returns
    * (cl, cq, cn2) — one row per label, tiny by construction. */
  def labelCentroids(prep: DataFrame, labelCol: String): DataFrame =
    prep.select(col(labelCol).as("cl"),
        posexplode(col("q")).as(Seq("pos", "v")))
      .groupBy("cl", "pos")
      .agg(expr("SUM(v) DIV COUNT(*)").as("m"))
      .groupBy("cl")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
        .as("cq"))
      .withColumn("cn2", dotQ("cq", "cq"))

  /** Assign each prepared vector its nearest centroid label by cosine
    * (ties → smaller label). Broadcast centroids + a windowless argmax
    * (max over (cos, -label) structs with map-side partial combine), so
    * the corpus side streams: no shuffle of the vectors at all —
    * the only exchange is the tiny per-id aggregate. `keep` columns
    * ride along for the caller (e.g. the true label for a confusion
    * matrix). */
  def classifyByCentroid(vecs: DataFrame, cent: DataFrame, idCol: String,
      keep: Seq[String] = Nil): DataFrame =
    vecs.crossJoin(broadcast(cent))
      .withColumn("ccos", cosine(dotQ("q", "cq"), col("n2"), col("cn2")))
      .groupBy(col(idCol) +: keep.map(col): _*)
      .agg(max(struct(col("ccos"), (-col("cl")).as("ncl"))).as("w"))
      .select(col(idCol) +: keep.map(col) :+ (-col("w.ncl")).as("pred"): _*)

  /** IVF top-k with TRAINED centroids (no caller-given structure) and
    * nprobe cells searched per query: corpus vectors live in exactly one
    * cell; a query probes its `nprobe` nearest cells, so candidate sets
    * are disjoint unions of cell-local scans. */
  def ivfTopKTrained(corpus: DataFrame, queryIds: DataFrame, idCol: String,
      embCol: String, k: Int, nCentroids: Int, iters: Int, nprobe: Int)
      : DataFrame = {
    val prep = prepare(corpus, embCol).select(col(idCol), col("q"), col("n2"))
    val cent = kmeansCentroids(prep, idCol, nCentroids, iters)
    val cells = probe(prep, cent, idCol, nprobe = 1)
    searchCells(cells, cent, queryIds, idCol, k, nprobe)
  }

  /** Cell-local search shared by the trained and persisted-index paths:
    * probe queries to `nprobe` cells, scan only those cells, rank per
    * query. `cells`: (idCol, q, n2, cent_id); queries are corpus
    * members selected by `queryIds`. */
  private def searchCells(cells: DataFrame, cent: DataFrame,
      queryIds: DataFrame, idCol: String, k: Int, nprobe: Int): DataFrame = {
    val qs = probe(cells.select(col(idCol), col("q"), col("n2"))
        .join(queryIds, idCol), cent, idCol, nprobe)
      .select(col(idCol).as("qid"), col("q").as("qq"),
        col("n2").as("qn2"), col("cent_id").as("qcell"))
    val cand = cells.select(col(idCol).as("vec_id"), col("q").as("cq"),
      col("n2").as("cn2"), col("cent_id").as("vcell"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.join(broadcast(qs), col("vcell") === col("qcell") &&
        col("vec_id") =!= col("qid"))
      .withColumn("cos", cosine(dotQ("cq", "qq"), col("cn2"), col("qn2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "vec_id", "rank", "cos")
  }

  /** Persist a trained IVF index — "build once, query many". Centroids
    * land as a plain (tiny) table, cell assignments bucketed by cell
    * id, so every later query scans the layout in place. At 100 TB the
    * k-means build is the expensive half; this pays it exactly once
    * (the one-shot [[ivfTopKTrained]] retrains per call). */
  def writeIvfIndex(corpus: DataFrame, idCol: String, embCol: String,
      prefix: String, nCentroids: Int, iters: Int, nBuckets: Int = 32)
      : Unit = {
    val prep = prepare(corpus, embCol).select(col(idCol), col("q"), col("n2"))
    val cent = kmeansCentroids(prep, idCol, nCentroids, iters)
    graft.sources.Tables.writeTable(cent, s"${prefix}_centroids")
    graft.sources.Tables.writeBucketed(
      probe(prep, cent, idCol, nprobe = 1),
      s"${prefix}_cells", Seq("cent_id"), nBuckets)
  }

  /** Query a [[writeIvfIndex]]-persisted index. Identical results to
    * [[ivfTopKTrained]] with the build-time parameters (k-means is
    * deterministic, so the persisted cells ARE the retrained cells) but
    * the plan only scans: constructing it launches no training jobs —
    * ScaleSpec asserts zero jobs at plan-build time. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      prefix: String, queryIds: DataFrame, idCol: String, k: Int,
      nprobe: Int): DataFrame = {
    graft.functions.LongArrayDot.register(spark)
    searchCells(spark.table(s"${prefix}_cells"),
      spark.table(s"${prefix}_centroids"), queryIds, idCol, k, nprobe)
  }

  // ---- label-free near-dup pairs: random-hyperplane LSH ----

  /** Integer hyperplane weight w(j,d) — an LCG over (j,d) mapped to
    * [-9, 9]. Pure arithmetic, so both engines spell it identically.
    * This is the SPEC spelling of graft_lshsig's fused loop (the
    * oracle's hpwDuck and OperatorSpec's parity test both derive from
    * it). */
  private[graft] def hyperplaneWeight(j: String, d: String): String =
    s"(((CAST(1103515245 AS BIGINT) * ($j * 128 + $d) + 12345) % 19) - 9)"

  /** Label-free embedding near-duplicate pairs: `nBits` sign bits from
    * deterministic random hyperplanes, banded into `nBits/bandBits`
    * OR-amplified buckets; candidates = pairs colliding in >=1 band;
    * exact cosine verify on candidates only. The equi-join on
    * (band, bucket) is the whole shuffle story — no all-pairs stage
    * anywhere — and the [[Banded]] core caps the collision-side
    * posting list per bucket, so candidate volume is
    * `nBands × N × bucketCap` (linear in N) even when the hash is
    * uninformative for a dense region. Recall is exact only for buckets
    * at or under the cap. That cap is what lets the DEFAULT parameters
    * run unblocked at 100 TB; tuning `bandBits` up (more, smaller
    * buckets) remains the recall-preserving lever. */
  def lshDupPairs(df: DataFrame, idCol: String, embCol: String,
      threshold: Double, nBits: Int = AdaptiveBands,
      bandBits: Int = AdaptiveBands,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val (nb, bb) = resolveBanding(df, nBits, bandBits, bucketCap)
    // scored inline in the collision join (both vectors row-local
    // there) — the dedup exchange and threshold filter see 24-byte
    // scalars, never array payloads; same pairs, same cos values
    scoredCandidates(df, idCol, embCol, nb, bb, bucketCap,
        guard = _ < _)
      .filter(col("cos") >= threshold)
      .select(col("qid").as("ida"), col("vid").as("idb"), col("cos"))
  }

  /** Sentinel default for `nBits`/`bandBits`: resolve the banding from
    * the corpus count at plan-build time ([[adaptiveBandBits]]). A fixed
    * 16/4 banding's recall@3 falls to ~0.00 one decade past the cap
    * regime (SURVEY §6 recall table) while the adaptive banding holds,
    * so the default adapts. Pass explicit values to pin a banding
    * (persisted-index probes must match their index — see the
    * `_banding` metadata). */
  val AdaptiveBands: Int = Banded.Adaptive

  private val Banding = Banded.Params("nBits", "bandBits", "writeLshIndex")

  /** The sign-bit band table's [[Banded.Layout]]: at most
    * nBands·2^bandBits buckets, whatever the corpus size. */
  private[graft] def bandLayout(idCol: String, nBits: Int, bandBits: Int)
      : Banded.Layout =
    Banded.Layout(Seq("band", "bucket"), idCol,
      Some((nBits / bandBits).toLong << bandBits))

  /** Resolve an (nBits, bandBits) pair that may carry the
    * [[AdaptiveBands]] sentinel ([[Banded.resolve]]: one narrow count
    * job eagerly at plan-build time; streaming frames must pass explicit
    * values). nBands stays 4, the measured sweet spot: recall is
    * re-supplied by more hyperplanes per band, not more bands. */
  private def resolveBanding(df: DataFrame, nBits: Int, bandBits: Int,
      bucketCap: Int): (Int, Int) =
    Banded.resolve(df, Banding, nBits, bandBits, { n =>
      val bb = adaptiveBandBits(n, bucketCap)
      (4 * bb, bb)
    })

  /** The capped collision side of an LSH join ([[Banded.truncate]]),
    * broadcast-hinted whenever its CONSTRUCTIVE row bound — ~`cap`
    * survivors × `nBands × 2^bandBits` buckets, corpus-size independent
    * — fits [[MaxBroadcastCollisionRows]]. Without the hint, Catalyst
    * (blind to the cap) plans a shuffle join on at most 64 distinct
    * keys, which AQE coalesces to ~1 reducer: the candidate explosion
    * would run single-threaded. A finer banding (bandBits >= 8) falls
    * back to the shuffle join, which its key space distributes, and
    * whose ~520 B-per-row broadcast would be hundreds of MB (sf10: a
    * 36/9 banding ran 159 s broadcast vs 83 s shuffled). */
  private def collisionSide(banded: DataFrame, idCol: String, nBits: Int,
      bandBits: Int, bucketCap: Int): DataFrame = {
    val truncated = Banded.truncate(banded, bandLayout(idCol, nBits, bandBits),
      bucketCap)
    // EXPECTED bound, not hard: BucketCap.keepSql is a modulo sampler
    // whose survivors per bucket land in (cap/2, cap] in expectation but
    // can exceed cap for adversarial id patterns, so the broadcast is
    // forced only with a 2x safety factor between the expected bound
    // and the row ceiling.
    val bound = (nBits / bandBits).toLong * (1L << bandBits) * bucketCap
    if (bound * 2 <= MaxBroadcastCollisionRows) broadcast(truncated)
    else truncated
  }

  /** Collision-side broadcast ceiling, in ROWS. Unlike
    * [[Banded.MaxBroadcastKeys]] (key-only rows, ~50 B each) the
    * scored collision side carries the quantized vector (~520 B at 64
    * dims), so 2^16 rows ≈ 35 MB — comfortably broadcastable — while
    * the default banding's 4 × 16 × 512 = 32k-row bound sits inside it
    * with 2× headroom. */
  val MaxBroadcastCollisionRows: Long = 1L << 16

  /** Default collision-side posting cap for the LSH joins — the shared
    * [[BucketCap.DefaultCap]] the DuckDB oracles interpolate too. */
  val DefaultBucketCap: Int = BucketCap.DefaultCap

  /** Approximate k-NN JOIN: every vector gets its top-`k` neighbors
    * from among its LSH band collisions — the all-rows companion to the
    * query-set searches ([[bruteForceTopK]]/[[ivfTopKTrained]]) and the
    * ranking companion to [[lshDupPairs]]' thresholding. This is the
    * "nearest neighbor for EVERY row" primitive semantic dedup and
    * retrieval-curation pipelines run corpus-wide, where a per-query
    * search or a brute cross join is off the table.
    *
    * Scale shape: candidates come only from the (band, bucket)
    * equi-join — never an all-pairs stage, and the collision side is
    * [[Banded.truncate]]-capped so volume is `nBands × N × bucketCap`
    * (linear in N) — then one exact-cosine verify and one per-qid
    * window on the candidate set. Every row still queries with its
    * full band set, so coverage is unchanged by the cap. Vectors whose
    * buckets contain no other member yield no row (an isolated vector
    * has no approximate neighbor — callers needing total coverage fall
    * back to [[bruteForceTopK]] on the leftover ids, which is tiny). */
  def lshKnnJoin(df: DataFrame, idCol: String, embCol: String, k: Int,
      nBits: Int = AdaptiveBands, bandBits: Int = AdaptiveBands,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val (nb, bb) = resolveBanding(df, nBits, bandBits, bucketCap)
    lshKnnJoinSeeded(df, idCol, embCol, k, nb, bb, bucketCap)
  }

  /** Scale-adaptive band width: `bandBits = clamp(ceil(log2(n / cap)),
    * 4, 12)` — the measured recall lever (SURVEY §6 recall table). The cap
    * bounds WORK at any corpus size (volume ≤ nBands × N × cap), but
    * once buckets overfill, survivors become a shrinking random sample
    * of each bucket and recall decays (measured: the 4-bit default's
    * recall@3 fell 0.65 → ~0 between sf1 and sf10, while 8-bit held
    * 0.665 AND ran faster — under-cap buckets emit less junk to
    * exact-verify). Keeping expected fill `n / 2^bandBits` near `cap`
    * preserves recall; the [4, 12] clamp keeps the gate-scale behavior
    * identical to the fixed default (≤ ~8k vectors → 4) and the
    * collision-side broadcast bound intact (12 → 8.4M-row bound is the
    * documented fallback edge).
    *
    * Not the 12-bit ceiling everywhere (seeded study, receipt
    * tools/receipts/r17/banding_study.txt): on near-dup corpora the
    * ceiling wins on recall and time (sf1: 1.000 vs 0.87–0.89), but on
    * a MARGINAL-COSINE corpus ([[graft.tools.MarginalCorpus]], planted
    * neighbors at cos ≈ 0.70–0.80, per-hyperplane agreement ~0.77) a
    * 12-bit band match costs 0.77¹² ≈ 0.04 and recall@3 falls with band
    * width (0.23 at 6 bits → 0.12 at 12). The fill-targeted rule is the
    * default; callers that KNOW their corpus is near-dup pass an
    * explicit finer banding (every public entry point takes (nBits,
    * bandBits)). Marginal-corpus recall is re-supplied by more bands or
    * probes, not finer ones. */
  def adaptiveBandBits(n: Long, bucketCap: Int = DefaultBucketCap): Int = {
    require(n >= 0 && bucketCap >= 1)
    // desired bucket count per band: enough that expected fill <= cap
    val target = math.max(1L, (n + bucketCap - 1L) / bucketCap)
    // ceil(log2(target)), in integers
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, target - 1L))
    math.max(4, math.min(12, bits))
  }

  /** STUDY-ONLY [[lshKnnJoin]] with an explicit hyperplane-index offset
    * (see [[graft.functions.LshSigExpr]]): the seed-stability probes
    * need INDEPENDENT hyperplane draws per banding to
    * tell a real recall ordering from a lucky draw, and the production
    * LCG is seedless by design (both engines spell it identically).
    * Offsets that are multiples of 64 give disjoint draws for
    * nBits <= 64; offset 0 is bit-identical to [[lshKnnJoin]]. Never a
    * production default — gated queries pin offset-free bandings. */
  private[graft] def lshKnnJoinSeeded(df: DataFrame, idCol: String,
      embCol: String, k: Int, nBits: Int, bandBits: Int,
      bucketCap: Int = DefaultBucketCap, hpOffset: Int = 0): DataFrame = {
    rankScored(scoredCandidates(df, idCol, embCol, nBits, bandBits,
      bucketCap, guard = _ =!= _, hpOffset = hpOffset, dedup = false), k)
  }

  /** Hamming-1 MULTIPROBE [[lshKnnJoin]] (Lv et al., VLDB 2007 —
    * multi-probe LSH, here with the deterministic radius-1 probe set):
    * every query row probes its own (band, bucket) PLUS the `bandBits`
    * buckets one bit-flip away — `1 + bandBits` probes per band
    * against the SAME capped collision side as [[lshKnnJoin]]. On a
    * marginal-cosine corpus (per-hyperplane agreement p ≈ 0.77) no
    * banding choice rescues recall at n=200k (receipt
    * tools/receipts/r17/banding_study.txt); the radius-1 ball also
    * admits bands with one disagreeing hyperplane, p^bb +
    * bb·p^(bb−1)(1−p) ≈ 3.7× the per-band match rate at bb = 9. The
    * INDEX does not change (same banding, cap, truncation and
    * broadcast bound); only probe-side work fans out ×(bandBits+1), so
    * candidate volume stays bounded by nBands × (bandBits+1) × N × cap
    * and recall is spent per QUERY at probe time. Output shape is
    * [[lshKnnJoin]]'s (qid, vec_id, rank, cos); the candidate set is a
    * SUPERSET of the single-probe candidates (probe 0 is the identity
    * bucket), so per (qid, rank) the reported cosine dominates the
    * single-probe one — spec-pinned. */
  def lshKnnJoinMultiprobe(df: DataFrame, idCol: String, embCol: String,
      k: Int, nBits: Int = AdaptiveBands, bandBits: Int = AdaptiveBands,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    lshKnnJoinMultiprobeSeeded(df, idCol, embCol, k, nBits, bandBits,
      bucketCap)

  /** [[lshKnnJoinMultiprobe]] with the study-only hyperplane offset of
    * [[lshKnnJoinSeeded]] (offset 0 = the production spelling). */
  private[graft] def lshKnnJoinMultiprobeSeeded(df: DataFrame,
      idCol: String, embCol: String, k: Int, nBits: Int, bandBits: Int,
      bucketCap: Int = DefaultBucketCap, hpOffset: Int = 0): DataFrame = {
    val (nb, bb) = resolveBanding(df, nBits, bandBits, bucketCap)
    val banded = bandedQ(df, idCol, embCol, nb, bb, Nil, hpOffset)
    val scored = scoreProbes(probeExplode(banded, bb), banded, idCol,
      nb, bb, bucketCap)
    rankScored(scored, k)
  }

  /** Radius-1 probe fan-out: the original bucket (probe 0) + one
    * single-bit flip per signature position — a narrow map-local
    * ×(bandBits+1) inflation, same shape as the band explosion itself;
    * the collision side is untouched. */
  private def probeExplode(banded: DataFrame, bandBits: Int): DataFrame =
    banded.withColumn("bucket",
      explode(array(col("bucket") +:
        (0 until bandBits).map(i =>
          col("bucket").bitwiseXOR(lit(1 << i))): _*)))

  /** Score a (possibly probe-exploded) banded probe side against the
    * capped collision side of `index` — the one collision-join
    * spelling of every LSH path. Emits the raw multi-collision stream
    * (qid, vid, cos): [[rankScored]]'s aggregate dedups while it ranks. */
  private def scoreProbes(probes: DataFrame, index: DataFrame,
      idCol: String, nBits: Int, bandBits: Int, bucketCap: Int,
      guard: (Column, Column) => Column = _ =!= _,
      extraFilter: Column = lit(true)): DataFrame =
    Banded.collide(probes,
        collisionSide(index, idCol, nBits, bandBits, bucketCap),
        bandLayout(idCol, nBits, bandBits), guard, extraFilter)
      .select(col(s"x.$idCol").as("qid"), col(s"y.$idCol").as("vid"),
        cosine(expr("graft_dot(x.q, y.q)"),
          col("x.n2"), col("y.n2")).as("cos"))

  /** QUERY-SET LSH search: rank the corpus top-k for each row of
    * `queries` only — the deployment shape of an ANN index (band and
    * cap the corpus ONCE; each query batch probes it), vs
    * [[lshKnnJoin]]'s all-corpus self-join. Candidate volume is
    * `|queries| × nBands × cap` — INDEPENDENT of corpus size on the
    * probe side, so a query batch stays cheap at any N. Same banding,
    * cap, truncation and broadcast rules as the self-join; a query
    * whose id also appears in the corpus never matches itself. */
  def lshKnnSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, k: Int, nBits: Int = AdaptiveBands,
      bandBits: Int = AdaptiveBands,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    lshKnnSearchSeeded(corpus, queries, idCol, embCol, k, nBits,
      bandBits, bucketCap, multiprobe = false)

  /** [[lshKnnSearch]] with the Hamming-1 probe fan-out of
    * [[lshKnnJoinMultiprobe]]: ×(bandBits+1) probe rows PER QUERY,
    * zero change to the corpus index: a radius-1 probe set lifts recall
    * 2.4–5× where no banding choice helps (tools/receipts/r17/), at
    * `|queries| × nBands × (bandBits+1) × cap` candidates — a
    * per-query-batch spend, where the SELF-join multiprobe multiplies
    * the whole corpus's candidate volume by (bandBits+1). */
  def lshKnnSearchMultiprobe(corpus: DataFrame, queries: DataFrame,
      idCol: String, embCol: String, k: Int, nBits: Int = AdaptiveBands,
      bandBits: Int = AdaptiveBands,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    lshKnnSearchSeeded(corpus, queries, idCol, embCol, k, nBits,
      bandBits, bucketCap, multiprobe = true)

  /** Seeded spelling behind both search variants (offset 0 = the
    * production hyperplanes; the banding resolves adaptively from the
    * CORPUS — the index side — when left at [[AdaptiveBands]]). */
  private[graft] def lshKnnSearchSeeded(corpus: DataFrame,
      queries: DataFrame, idCol: String, embCol: String, k: Int,
      nBits: Int, bandBits: Int, bucketCap: Int = DefaultBucketCap,
      multiprobe: Boolean = false, hpOffset: Int = 0): DataFrame = {
    val (nb, bb) = resolveBanding(corpus, nBits, bandBits, bucketCap)
    val bandedCorpus = bandedQ(corpus, idCol, embCol, nb, bb, Nil, hpOffset)
    val bandedQueries = bandedQ(queries, idCol, embCol, nb, bb, Nil, hpOffset)
    val probes =
      if (multiprobe) probeExplode(bandedQueries, bb) else bandedQueries
    val scored = scoreProbes(probes, bandedCorpus, idCol, nb, bb, bucketCap)
    rankScored(scored, k)
  }

  /** Rank pre-scored (qid, vid, cos) rows per qid (cos desc, id
    * tiebreak), keep top-k as (qid, vec_id, rank, cos) — the tail of
    * every LSH-candidate search.
    * Dedup aggregate (multi-band collisions score identically, so
    * max(cos) is exact dedup) + row_number window, both memory-ROBUST:
    * scalar hash-agg state and a spill-friendly radix sort.
    *
    * Deliberately NOT a fused single-exchange
    * collect_set/sort_array/slice tail: that spelling assembles every
    * qid's full candidate set (≤ nBands × (bandBits+1) × bucketCap
    * entries ≈ 100 KB at sf1 parameters) in the MAP-SIDE partial
    * aggregation buffer — per-task memory = (qids per task) × set
    * size, a multi-GB object-agg map at sf1 / 32 concurrent tasks that
    * collapses into a spill cascade (10–30× task-time inflation,
    * tools/receipts/r18/), and it is no faster at gate scale. Callers
    * still feed
    * the RAW scored stream (`dedup = false`) — the dedup happens here,
    * in a scalar two-phase HashAggregate whose partials combine
    * map-side and spill gracefully. */
  private def rankScored(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vid"))
    scored.groupBy("qid", "vid").agg(max(col("cos")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vid").as("vec_id"), col("rank"), col("cos"))
  }

  /** Band/bucket rows CARRYING the quantized vectors (and optional
    * ride-along columns): (idCol, q, n2, extra..., band, bucket). The
    * arrays ride the band explosion — a narrow, map-local ×nBands
    * inflation — so the collision join scores candidates INLINE and
    * only (qid, vid, cos) scalars ever reach a shuffle (joining vectors
    * onto the candidate table instead multiplies shuffle volume ~50× at
    * sf10). */
  private def bandedQ(df: DataFrame, idCol: String, embCol: String,
      nBits: Int, bandBits: Int, extra: Seq[String] = Nil,
      hpOffset: Int = 0): DataFrame = {
    require(nBits % bandBits == 0, "nBits must be a multiple of bandBits")
    val nBands = nBits / bandBits
    val keep = col(idCol) +: col("q") +: col("n2") +: extra.map(col)
    // hpOffset != 0 is STUDY-ONLY (seed-stability probes — disjoint
    // hyperplane draws from the seedless LCG); the production spelling
    // stays the historical two-arg call so plans are byte-identical.
    val sigCall = if (hpOffset == 0) s"graft_lshsig(q, $nBits)"
      else s"graft_lshsig(q, $nBits, $hpOffset)"
    val sig = prepare(df, embCol)
      .select(keep :+ expr(sigCall).as("sig"): _*)
    sig.select(keep :+
      posexplode(expr(s"""transform(sequence(0, ${nBands - 1}), b ->
        | aggregate(sequence(1, $bandBits), 0,
        |   (acc, i) -> acc * 2 + element_at(sig, b * $bandBits + i)))"""
        .stripMargin)).as(Seq("band", "bucket")): _*)
  }

  /** Directed, INLINE-SCORED (qid, vid, cos) band-collision pairs of a
    * corpus against its own capped collision side ([[scoreProbes]]) —
    * ONE spelling of the LSH candidate space for [[lshDupPairs]],
    * [[lshKnnJoin]] and [[hardNegatives]]. The exact cosine is computed
    * IN the collision join, so everything downstream shuffles 24-byte
    * scalars, never array payloads. A pair colliding in several bands
    * scores the identical cos once per band, so the per-pair MAX
    * aggregate is exact dedup (a plain two-level hash aggregate). */
  private def scoredCandidates(df: DataFrame, idCol: String, embCol: String,
      nBits: Int, bandBits: Int, bucketCap: Int,
      guard: (Column, Column) => Column,
      extraFilter: Column = lit(true), extra: Seq[String] = Nil,
      hpOffset: Int = 0, dedup: Boolean = true)
      : DataFrame = {
    val banded = bandedQ(df, idCol, embCol, nBits, bandBits, extra, hpOffset)
    val raw = scoreProbes(banded, banded, idCol, nBits, bandBits,
      bucketCap, guard, extraFilter)
    // `dedup = false` hands the raw multi-collision stream to
    // [[rankScored]], whose single fused aggregate dedups while it
    // ranks — pair-set consumers ([[lshDupPairs]]) keep the exact
    // max-dedup exchange here
    if (dedup) raw.groupBy("qid", "vid").agg(max(col("cos")).as("cos"))
    else raw
  }

  /** Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998):
    * per query, greedily select `selectK` results from the brute-force
    * cosine top-`poolK` pool maximizing
    * `lam10/10 · rel − (10−lam10)/10 · max-sim-to-already-selected` —
    * the diversification step a retrieval pipeline runs so near-dup
    * results don't crowd the answer set. All scoring is ppm fixed
    * point (rel and pairwise sims via [[DetMath.fixed]]); ties break
    * on id, so selection is bit-deterministic. Work is bounded by
    * construction: poolK² pairwise sims per query and `selectK`
    * dataframe iterations — per-query cost is CONSTANT, total scales
    * linearly with the query count at any corpus size (the corpus
    * only participates through the top-k pool). Output: (qid, vec_id,
    * sel_rank, rel_ppm, obj10 = the scaled objective the pick won on).
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      embCol: String, poolK: Int = 10, selectK: Int = 3,
      lam10: Int = 7): DataFrame = {
    require(lam10 >= 0 && lam10 <= 10 && selectK >= 1)
    val cand = bruteForceTopK(corpus, queries, idCol, embCol, poolK)
      .withColumn("rel_ppm", graft.functions.DetMath.fixed(col("cos"), 6))
      .select(col("qid"), col("vec_id"), col("rel_ppm"))
    val prep = prepare(corpus, embCol)
      .select(col(idCol).as("vec_id"), col("q"), col("n2"))
    val pa = cand.select(col("qid"), col("vec_id").as("va"))
      .join(prep.select(col("vec_id").as("va"), col("q").as("qa"),
        col("n2").as("na")), "va")
    val pb = cand.select(col("qid"), col("vec_id").as("vb"))
      .join(prep.select(col("vec_id").as("vb"), col("q").as("qb"),
        col("n2").as("nb")), "vb")
    val sims = pa.join(pb, "qid").filter(col("va") =!= col("vb"))
      .withColumn("sim_ppm", graft.functions.DetMath.fixed(
        cosine(dotQ("qa", "qb"), col("na"), col("nb")), 6))
      .select("qid", "va", "vb", "sim_ppm")
    val w = Window.partitionBy("qid")
    var selected = cand
      .withColumn("rn", row_number().over(
        w.orderBy(col("rel_ppm").desc, col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("qid"), col("vec_id"), lit(1).as("sel_rank"),
        col("rel_ppm"), (col("rel_ppm") * lam10).as("obj10"))
    for (step <- 2 to selectK) {
      val rem = cand.join(selected.select("qid", "vec_id"),
        Seq("qid", "vec_id"), "left_anti")
      val msel = sims
        .join(selected.select(col("qid"), col("vec_id").as("vb")),
          Seq("qid", "vb"))
        .groupBy("qid", "va").agg(max("sim_ppm").as("maxsim_ppm"))
      val pick = rem
        .join(msel.select(col("qid"), col("va").as("vec_id"),
          col("maxsim_ppm")), Seq("qid", "vec_id"))
        .withColumn("obj10",
          col("rel_ppm") * lam10 - col("maxsim_ppm") * (10 - lam10))
        .withColumn("rn", row_number().over(
          w.orderBy(col("obj10").desc, col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id"), lit(step).as("sel_rank"),
          col("rel_ppm"), col("obj10"))
      selected = selected.unionByName(pick)
    }
    selected
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * vector, the `k` most-similar vectors carrying a DIFFERENT label —
    * the pairs a triplet / InfoNCE loss learns the most from, mined
    * corpus-wide (every row is an anchor, the shape an embedding-model
    * data pipeline actually runs — not a per-query search). Candidates
    * are the same sign-bit LSH band collisions as [[lshKnnJoin]], so
    * there is never an all-pairs stage: the (band, bucket) equi-join
    * bounds work to near-collisions at any corpus size. The label
    * rides the banded sides as a column, so same-label pairs drop
    * INSIDE the collision join — positives neither score nor rank; the
    * surviving negatives rank through the shared window tail verbatim.
    * Anchors whose buckets hold only same-label vectors yield no row
    * (no near-collision negative ⇒ nothing hard to mine). Output:
    * (qid, vec_id, rank, cos). */
  def hardNegatives(df: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int,
      nBits: Int = AdaptiveBands, bandBits: Int = AdaptiveBands,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val (nb, bb) = resolveBanding(df, nBits, bandBits, bucketCap)
    val scored = scoredCandidates(df, idCol, embCol, nb, bb,
      bucketCap, guard = _ =!= _,
      extraFilter = col(s"x.$labelCol") =!= col(s"y.$labelCol"),
      extra = Seq(labelCol), dedup = false)
    rankScored(scored, k)
  }

  /** Shared tail of every candidate-based search: exact-cosine score
    * each (qid, vid) candidate pair, rank per qid (cos desc, id
    * tiebreak), keep top-k. `vecs` must provide (idCol, q, n2) for
    * every id on either side; `keepVidCols` ride along from the vid
    * side (e.g. a label for voting classifiers). One spelling for
    * [[lshKnnJoin]] and the q157 classifier, so the ranking semantics
    * cannot drift between them. */
  private[graft] def rankCandidates(cand: DataFrame, vecs: DataFrame,
      idCol: String, k: Int, keepVidCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vid"))
    cand
      .join(vecs.select(col(idCol).as("qid"), col("q").as("qq"),
        col("n2").as("qn2")), "qid")
      .join(vecs.select(col(idCol).as("vid") +: col("q").as("cq") +:
        col("n2").as("cn2") +: keepVidCols.map(col): _*), "vid")
      .withColumn("cos", cosine(dotQ("cq", "qq"), col("cn2"), col("qn2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid") +: col("vid") +: col("rank") +: col("cos") +:
        keepVidCols.map(col): _*)
  }

  /** Sign-bit band/bucket rows (id, band, bucket) — the LSH key table
    * [[writeLshIndex]] persists and [[incrementalLshPairs]] probes. */
  def lshBands(df: DataFrame, idCol: String, embCol: String,
      nBits: Int = 16, bandBits: Int = 4): DataFrame =
    // ONE banding spelling ([[bandedQ]]: graft_lshsig, which enforces
    // the dim <= 128 weight-stride guard per ROW) serves both this
    // persisted-index shape and the inline-scored self-joins
    bandedQ(df, idCol, embCol, nBits, bandBits)
      .select(col(idCol), col("band"), col("bucket"))

  /** Exact-cosine verify on candidate pairs, embeddings re-read from
    * `df` (must cover every id in `cand`). */
  private def verifyCosine(cand: DataFrame, df: DataFrame, idCol: String,
      embCol: String, threshold: Double): DataFrame = {
    val p = prepare(df, embCol).select(col(idCol), col("q"), col("n2"))
    val a = p.select(col(idCol).as("ida"), col("q").as("qa"), col("n2").as("na"))
    val b = p.select(col(idCol).as("idb"), col("q").as("qb"), col("n2").as("nb"))
    cand.join(a, "ida").join(b, "idb")
      .withColumn("cos", cosine(dotQ("qa", "qb"), col("na"), col("nb")))
      .filter(col("cos") >= threshold)
      .select("ida", "idb", "cos")
  }

  /** Persist a corpus's LSH band table BUCKETED on the band key — the
    * embedding twin of Dedup.writeBandIndex ([[Banded.writeIndex]]:
    * crash-ordered, with `_banding` and `_sizes` side tables): pay the
    * corpus shuffle once, probe it per batch with zero corpus-side
    * exchange. The banding (defaults adaptive) is recorded, and
    * [[incrementalLshPairs]] reads it back — so a probe never silently
    * bands differently from its index. */
  def writeLshIndex(df: DataFrame, idCol: String, embCol: String,
      table: String, nBits: Int = AdaptiveBands,
      bandBits: Int = AdaptiveBands,
      nBuckets: Int = 32): Unit = {
    val (nb, bb) = resolveBanding(df, nBits, bandBits, DefaultBucketCap)
    Banded.writeIndex(lshBands(df, idCol, embCol, nb, bb),
      bandLayout(idCol, nb, bb), table, nBuckets, Some((Banding, (nb, bb))))
  }

  /** Incremental embedding near-dup pairs touching a NEW batch, against
    * a [[writeLshIndex]]-persisted corpus: [[Banded.probe]] candidates
    * (only the batch moves), exact-cosine verify on candidates only.
    * Result = exactly [[lshDupPairs]] over (corpus ∪ batch) restricted
    * to pairs with at least one batch member, for disjoint batches.
    *
    * `unionSizesOverride`: when a batch streams as MICRO-batches, every
    * probe must truncate under the same FINAL union sizes the one-shot
    * recompute uses — the caller computes them once when the batch
    * manifest lands ([[Banded.unionSizes]]) and passes them here;
    * without them each micro-batch would truncate under its own smaller
    * sizes and, wherever the cap binds, keep more rows than the one-shot
    * cap. `batchBands`: a caller-owned [[lshBands]] table of the batch
    * ([[Banded]]'s storage convention). */
  def incrementalLshPairs(batch: DataFrame, lshIndexTable: String,
      verifySource: DataFrame, idCol: String, embCol: String,
      threshold: Double, nBits: Int = AdaptiveBands,
      bandBits: Int = AdaptiveBands,
      bucketCap: Int = DefaultBucketCap,
      unionSizesOverride: Option[DataFrame] = None,
      batchBands: Option[DataFrame] = None): DataFrame = {
    val (nb, bb) = Banded.recorded(batch.sparkSession, lshIndexTable,
      Banding, nBits, bandBits)
    val cand = Banded.probe(lshIndexTable, batchBands,
        lshBands(batch, idCol, embCol, nb, bb), bandLayout(idCol, nb, bb),
        bucketCap, unionSizesOverride)
      .dropDuplicates("ida", "idb")
    verifyCosine(cand, verifySource, idCol, embCol, threshold)
  }

  /** SemDeDup (Abbas et al. 2023): cluster-blocked semantic dedup.
    * K-means the embeddings ([[kmeansCentroids]] — deterministic,
    * exact-BIGINT, so the DuckDB oracle replays the whole chain), then
    * compare pairs ONLY within a cluster and drop every vector that has
    * a lower-id same-cell neighbor with cosine >= threshold (greedy
    * keep-lowest-id — deterministic where the paper keeps a random
    * exemplar). Output: (vec_id, cent_id, keep 1/0) for every vector.
    *
    * Scale shape: the clusters are the blocking structure — the
    * quadratic is bounded per cell (sum over cells of |cell|^2, never
    * corpus^2), and k grows with the corpus so cell sizes stay flat; the
    * self-join is a shuffle on cent_id, the drop-set anti-probe is one
    * more shuffle on vec_id. This is the same candidate-bounding story
    * as the LSH paths (q44/q135) with the cluster index in place of
    * hash buckets. */
  def semDedup(df: DataFrame, idCol: String, embCol: String,
      k: Int = AdaptiveBands,
      iters: Int = 2, threshold: Double = 0.35): DataFrame = {
    // k = AdaptiveBands: scale the cluster count with the corpus so the
    // per-cell quadratic stays bounded (the cluster index is this
    // operator's banding). One eager count at plan-build time, memoized
    // per corpus snapshot ([[AdaptiveCount]]).
    val kk = if (k == AdaptiveBands) {
      require(!df.isStreaming,
        "adaptive cluster count needs an eager count — pass explicit k " +
          "for streaming frames")
      adaptiveClusterK(AdaptiveCount.of(df))
    } else k
    val prep = prepare(df, embCol).select(col(idCol), col("q"), col("n2"))
    val cent = kmeansCentroids(prep, idCol, kk, iters)
      .select(col("cent_id").as(idCol), col("cq").as("q"),
        col("cn2").as("n2"))
    val cells = assignCells(prep, cent, idCol)
      .select(col(idCol), col("q"), col("n2"), col("cent_id"))
    val drops = cells.as("x").join(cells.as("y"),
        col("x.cent_id") === col("y.cent_id") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .withColumn("cos", cosine(dotQ("x.q", "y.q"),
        col("x.n2"), col("y.n2")))
      .filter(col("cos") >= threshold)
      .select(col(s"y.$idCol").as(idCol)).distinct
      .withColumn("dropped", lit(1))
    cells.join(drops, Seq(idCol), "left")
      .select(col(idCol), col("cent_id"),
        when(col("dropped").isNull, lit(1)).otherwise(lit(0)).as("keep"))
  }

  /** Scale-adaptive SemDeDup cluster count: `max(8, ceil(n /
    * targetCell))` — expected cell size stays near `targetCell`, so
    * the per-cell quadratic (Σ |cell|²) stays ~`n × targetCell`,
    * linear in the corpus, at any scale. The floor of 8 pins today's
    * gate behavior (every gated corpus resolves to exactly 8, so the
    * q192 oracle — which replays the k=8 k-means chain — is
    * unchanged; the registration asserts this precondition). The
    * k-means cost of a larger k is per-iteration linear in n with a
    * broadcast centroid table ≤ k rows — at 100 TB, k ~ n/1024
    * centroids is millions of rows, still broadcastable as quantized
    * ints. */
  def adaptiveClusterK(n: Long, targetCell: Int = 1024): Int = {
    require(n >= 0 && targetCell >= 1)
    math.max(8L, (n + targetCell - 1) / targetCell).toInt
  }

  /** Embedding near-duplicate pairs within a blocking column (e.g.
    * label or an LSH bucket): cosine >= threshold. */
  def cosineDupPairs(df: DataFrame, idCol: String, embCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val p = prepare(df, embCol)
      .select(col(idCol), col(blockCol), col("q"), col("n2"))
    p.as("x").join(p.as("y"),
        col(s"x.$blockCol") === col(s"y.$blockCol") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .withColumn("dot", dotQ(s"x.q", s"y.q"))
      .withColumn("cos", cosine(col("dot"), col("x.n2"), col("y.n2")))
      .filter(col("cos") >= threshold)
      .select(col(s"x.$idCol").as("ida"), col(s"y.$idCol").as("idb"),
        col("cos"))
  }
}
