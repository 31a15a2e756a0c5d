package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic probabilistic membership / frequency structures.
  *
  * The reference keeps only exact structures (its dedup/count paths are
  * hash tables, `/root/reference/src/aggregation.cpp`); at 100 TB the
  * first question a pipeline asks — "have I seen this document before?",
  * "what are the hottest tokens?" — needs an answer whose STATE does not
  * grow with the corpus. Bloom filters and count-min sketches are the
  * standard answers; both are implemented here from md5-derived hash
  * positions so that (unlike library implementations with private seeds)
  * every bit is reproducible cross-engine and the DuckDB oracle can
  * replay the structure exactly.
  *
  * Scale shape:
  *  - The Bloom "bit set" is a DISTINCT-position table: at most `m` rows
  *    no matter how large the corpus — a bounded broadcastable probe side
  *    (m = 2^18 default ≈ 256k positions ≈ 2 MB). Build is one
  *    projection + one hash-distinct; probe is one equi-join + count.
  *  - The count-min sketch is at most `d × w` rows; the build groupBy
  *    partially aggregates map-side, so shuffle volume is bounded by
  *    d×w per input partition regardless of token count.
  */
object Sketches {

  /** Default count-min dimensions — ONE source of truth shared by the
    * one-shot (q99), incremental (q272) and streaming (q273) paths so
    * their sketches stay cell-compatible (SUM-merging sketches of
    * different d×w would be meaningless). */
  val CmsDefD = 4
  val CmsDefW = 1024

  /** Hash position `seed` of string column `v` in [0, m): the top 7 hex
    * digits of md5("seed:" ++ v) (28 bits, exactly what the oracle's
    * nibble polynomial decodes — see TextExpr.hexIntDuck) mod m. */
  def position(v: Column, seed: Int, m: Int): Column =
    conv(substring(md5(concat(lit(s"$seed:"), v.cast("string"))
      .cast("binary")), 1, 7), 16, 10).cast("long") % m

  private def positions(v: Column, k: Int, m: Int): Column =
    array((0 until k).map(position(v, _, m)): _*)

  /** Build the Bloom bit set of `fpCol` over `df`: the distinct hash
    * positions, one row each — bounded at `m` rows total. */
  def bloomBuild(df: DataFrame, fpCol: String, k: Int, m: Int): DataFrame =
    df.select(explode(positions(col(fpCol), k, m)).as("pos")).distinct()

  /** Probe: `maybe_present` iff all `k` positions of a row's `fpCol` are
    * set (`idCol` must be unique per row — the hit count is grouped on
    * it). One equi-join against the bounded bit set + one count — no
    * false negatives by construction; false-positive rate is bounded by
    * the standard (1 - e^{-kn/m})^k. */
  def bloomProbe(batch: DataFrame, idCol: String, fpCol: String,
      bits: DataFrame, k: Int, m: Int): DataFrame = {
    val probe = batch.select(col(idCol),
      explode(positions(col(fpCol), k, m)).as("pos"))
    val hits = probe.join(bits, "pos")
      .groupBy(idCol).agg(count(lit(1)).as("hits"))
    batch.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("hits"), lit(0L)) === k).as("maybe_present"))
  }

  /** Runtime-filter join pruning: drop probe rows whose key cannot be in
    * the build side before the join pays for them. Expressed as `k`
    * successive LEFT SEMI joins of the probe's hash positions against
    * the bounded bit set — each is a broadcast (bits ≤ m rows), so the
    * probe is filtered map-side with ZERO extra shuffles and no driver
    * collect. No false negatives: every true match survives; false
    * positives are killed by the real join that follows (q106 is
    * oracle-gated on exact equality with the unpruned join). This is
    * the declarative spelling of Spark's own AQE bloom runtime filter,
    * usable where that doesn't fire (e.g. non-equi follow-up joins or
    * pre-aggregation pruning). */
  def bloomPrune(probe: DataFrame, keyCol: Column, bits: DataFrame,
      k: Int, m: Int, cacheBits: Boolean = true): DataFrame = {
    // The bit set feeds k joins; without a cache the build subtree
    // (scan + distinct) re-executes per join (ReuseExchange does not
    // fire across the per-join column renames). It is ≤ m rows by
    // construction, so cache it by default — same deliberate trade as
    // the minhash signature cache (Dedup.minhashPairs): the entry must
    // outlive this call because the result is lazy, and Spark evicts
    // LRU if memory is ever tight. A caller looping over batches should
    // pass cacheBits=false and persist/unpersist the bits itself around
    // the loop (the Banded probes' batchBands storage convention).
    val cached =
      if (cacheBits)
        bits.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else bits
    (0 until k).foldLeft(probe) { (df, i) =>
      df.join(cached.withColumnRenamed("pos", s"_bp$i"),
        position(keyCol, i, m) === col(s"_bp$i"), "left_semi")
    }
  }

  /** [[bloomPrune]] whose cache the CALLER releases: returns the pruned
    * frame plus an unpersist handle to call after the result is
    * materialized. Use this from loops / long-lived sessions where the
    * default cacheBits=true entry (deliberately left for the session,
    * see bloomPrune) would accumulate — the same persist/release
    * convention as the Banded probes' batchBands. */
  def bloomPruneReleasable(probe: DataFrame, keyCol: Column,
      bits: DataFrame, k: Int, m: Int): (DataFrame, () => Unit) = {
    val cached =
      bits.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pruned = bloomPrune(probe, keyCol, cached, k, m, cacheBits = false)
    (pruned, () => { cached.unpersist(); () })
  }

  /** Register rows of the deterministic HLL-style distinct sketch
    * (functions.DetSketch) over `valueCol`, one row per (group, bucket)
    * — at most DetSketch.M rows per group no matter the corpus size.
    * The map-side partial MAX bounds shuffle volume at M rows per
    * (partition, group); union across frames ≡ MAX of `rv`, which is
    * what makes a persisted incremental path exact. */
  def detRegisters(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    import graft.functions.DetSketch._
    val g = groupCols.map(col)
    df.select(g :+ expr(hSpark(valueCol)).as("h"): _*)
      .select(g ++ Seq(expr(bucketSpark("h")).as("rb"),
        expr(wSpark("h")).as("w40")): _*)
      .select(g ++ Seq(col("rb"), expr(rankCase("w40")).as("r")): _*)
      .groupBy(g :+ col("rb"): _*)
      .agg(max("r").as("rv"))
  }

  /** Distinct-count estimates from register rows (possibly merged from
    * several frames via MAX): fixed-point harmonic mean + integer
    * linear counting — bit-identical to the DuckDB rendering. */
  def detEstimate(regs: DataFrame, groupCols: Seq[String],
      outCol: String): DataFrame =
    regs.groupBy(groupCols.map(col): _*)
      .agg(expr(graft.functions.DetSketch.estimateSpark).as(outCol))

  /** Build a count-min sketch over `tokCol` occurrences: `d` hash rows ×
    * `w` cells, counters as rows (r, cell, cnt) — at most d×w rows. */
  def cmsBuild(tokens: DataFrame, tokCol: String, d: Int, w: Int): DataFrame =
    tokens.select(explode(array((0 until d).map(r =>
        struct(lit(r).as("r"), position(col(tokCol), r, w).as("cell"))): _*))
        .as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for candidate tokens: min over the d counters each
    * token hashes to. Always >= the true count (one-sided error). */
  def cmsEstimate(cands: DataFrame, tokCol: String, sketch: DataFrame,
      d: Int, w: Int): DataFrame = {
    val cells = cands.select(col(tokCol),
      explode(array((0 until d).map(r =>
        struct(lit(r).as("r"), position(col(tokCol), r, w).as("cell"))): _*))
        .as("rc"))
      .select(col(tokCol), col("rc.r").as("r"), col("rc.cell").as("cell"))
    cells.join(sketch, Seq("r", "cell"), "left")
      .groupBy(tokCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
