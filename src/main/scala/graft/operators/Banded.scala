package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The banded-LSH core shared by the near-duplicate families — text
  * MinHash and SimHash chunks ([[Dedup]]), sign-bit embeddings
  * ([[Similarity]]) and image aHash chunks ([[Multimodal]]). Each family
  * owns its signature (how a row becomes band keys) and its
  * verification (Jaccard, cosine, Hamming); everything between the two
  * lives here once:
  *
  *   band keys → per-bucket sizes → [[BucketCap]] truncation →
  *   collision equi-join → bucketed index with `_banding`/`_sizes` side
  *   tables → incremental batch probe.
  *
  * A family describes its band table with a [[Layout]] — the band-key
  * columns, the id column and the key table's row bound — and that is
  * all the core needs to know about it. From the bound and
  * [[MaxBroadcastKeys]] the core decides whether a size table is
  * broadcast; the window-free truncation then costs one small
  * aggregate plus a row-local filter.
  *
  * Storage convention (every incremental probe): a caller that passes
  * its own band table of the batch (`batchBands = Some(...)`) owns that
  * table's storage, and the probe pins nothing — no cache, no lineage
  * cut — so a loop can band once per micro-batch, share the table
  * between probes and the index append, and unpersist it. Without one,
  * the probe bands the batch itself, caches it, and cuts the batch-sized
  * subtrees its plan references more than once. */
object Banded {

  /** A family's band table: key columns (with `idCol`, the table's
    * columns), and an upper bound on the rows of any table keyed by
    * them — constructive (sign-bit buckets: nBands·2^bandBits; aHash
    * chunks: 4·2^16) or None for unbounded keys (md5 band values). */
  final case class Layout(keys: Seq[String], idCol: String,
      rowBound: Option[Long])

  /** A family's two banding parameters — signature width and band
    * width, e.g. ("k", "rows") — and the index writer named in errors. */
  final case class Params(total: String, perBand: String, writer: String)

  /** Sentinel for a banding resolved from the corpus count. */
  val Adaptive: Int = -1

  /** A cap under which truncation is the identity: the core then skips
    * the size table altogether. */
  val Uncapped: Int = Int.MaxValue

  /** Largest size/key table the core will broadcast-hint: ~1M keys of
    * (int, md5-string, long) ≈ 50 MB serialized. Past it the same joins
    * run as shuffles on the band key (same results). */
  val MaxBroadcastKeys: Long = 1L << 20

  private val Bsz = "graft_bsz"

  /** Resolve a banding that may carry the [[Adaptive]] sentinel: one
    * eager count, memoized per corpus snapshot ([[AdaptiveCount]]).
    * Explicit pairs pass through once the band width divides the
    * signature (a remainder would silently drop components). */
  def resolve(df: DataFrame, p: Params, total: Int, perBand: Int,
      rule: Long => (Int, Int)): (Int, Int) = {
    if (total != Adaptive && perBand != Adaptive) {
      require(perBand > 0 && total % perBand == 0,
        s"band width (${p.perBand}=$perBand) must divide signature size " +
          s"(${p.total}=$total) — trailing components would be silently " +
          "dropped")
      return (total, perBand)
    }
    require(total == Adaptive && perBand == Adaptive,
      s"pass BOTH ${p.total} and ${p.perBand} or NEITHER (got " +
        s"${p.total}=$total, ${p.perBand}=$perBand) — a half-adaptive " +
        "banding is undefined")
    require(!df.isStreaming,
      "adaptive banding resolves via an eager count, which a streaming " +
        s"frame cannot run — pass the explicit (${p.total}, ${p.perBand}) " +
        "the persisted index or setup phase chose")
    rule(AdaptiveCount.of(df))
  }

  /** Per-bucket sizes `(keys..., graft_bsz)` of a band table. */
  def sizes(bands: DataFrame, keys: Seq[String]): DataFrame =
    bands.groupBy(keys.map(col): _*).agg(count(lit(1)).as(Bsz))

  private def broadcastable(layout: Layout): Boolean =
    layout.rowBound.exists(_ <= MaxBroadcastKeys)

  /** Bound each bucket's posting list to ~`cap` deterministic
    * representatives by the [[BucketCap]] keep rule (identity for
    * buckets at or under `cap`). Sizes default to the table's own;
    * a caller-supplied `sizes(keys..., graft_bsz)` — the union sizes of
    * an incremental probe — truncates this table exactly as the union
    * table would be truncated, because keep(id) is a pure function of
    * (id, bucket size). Window-free: a degenerate bucket never lands in
    * one task. */
  def truncate(bands: DataFrame, layout: Layout, cap: Int,
      sizes: Option[DataFrame] = None): DataFrame =
    if (cap == Uncapped) bands
    else {
      val s = sizes.getOrElse {
        val own = this.sizes(bands, layout.keys)
        if (broadcastable(layout)) broadcast(own) else own
      }
      bands.join(s, layout.keys)
        .filter(expr(BucketCap.keepSql(s"`${layout.idCol}`", Bsz, cap)))
        .drop(Bsz)
    }

  /** Band-key equi-join of `x` against `y`, aliased `x`/`y` for the
    * caller's projection, with an id guard (`_ < _` for undirected
    * pairs, `_ =!= _` for directed neighbors) and an optional extra
    * predicate evaluated inside the join. */
  def collide(x: DataFrame, y: DataFrame, layout: Layout,
      guard: (Column, Column) => Column = (_, _) => lit(true),
      extra: Column = lit(true)): DataFrame = {
    val id = layout.idCol
    x.as("x").join(y.as("y"),
      layout.keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
        guard(col(s"x.$id"), col(s"y.$id")) && extra)
  }

  /** Undirected self-join of a band table against its capped collision
    * side (x < y): every row probes with its full band set, while no row
    * meets more than ~`cap` partners per bucket — candidate volume
    * `nBands × N × cap`, linear in N. */
  def selfJoin(bands: DataFrame, layout: Layout, cap: Int): DataFrame =
    collide(bands, truncate(bands, layout, cap), layout, _ < _)

  /** Candidate `(ida, idb)` pairs of a band table, ida < idb. */
  def pairs(bands: DataFrame, layout: Layout, cap: Int): DataFrame =
    selfJoin(bands, layout, cap)
      .select(col(s"x.${layout.idCol}").as("ida"),
        col(s"y.${layout.idCol}").as("idb"))
      .distinct()

  /** Union bucket sizes over the keys a batch touches: the corpus
    * `_sizes` partials (summed per key, so growers may append partials)
    * plus the batch's own counts. Untouched buckets cannot produce a
    * batch-touching pair, so the table stays batch-sized. */
  def unionSizes(corpusSizes: DataFrame, batchBands: DataFrame,
      keys: Seq[String],
      hint: DataFrame => DataFrame = identity): DataFrame = {
    val batch = sizes(batchBands, keys).withColumnRenamed(Bsz, "graft_nsz")
    val corpus = corpusSizes
      .join(hint(batch.select(keys.map(col): _*)), keys, "left_semi")
      .groupBy(keys.map(col): _*).agg(sum(Bsz).as("graft_csz"))
    batch.join(corpus, keys, "left_outer")
      .select(keys.map(col) :+
        (col("graft_nsz") + coalesce(col("graft_csz"), lit(0L))).as(Bsz): _*)
  }

  /** Persist a corpus band table BUCKETED on its keys, with its side
    * tables, in crash order: drop the old bands, then write `_banding`
    * (the banding the probe must repeat), then `_sizes` (per-bucket
    * counts; readers SUM per key, so growers append partials), then
    * the bands. A crash anywhere leaves missing bands — the probe fails
    * loudly — never new sizes beside old bands (silent truncation skew)
    * nor bands without sizes. This and [[appendIndex]] are the only
    * supported writers of an index. */
  def writeIndex(bands: DataFrame, layout: Layout, table: String,
      nBuckets: Int, banding: Option[(Params, (Int, Int))],
      withSizes: Boolean = true): Unit = {
    val spark = bands.sparkSession
    // both writes read the bands: banded once, released after
    val b = if (withSizes) bands.cache() else bands
    graft.sources.Tables.dropTable(spark, table)
    banding.foreach { case (p, (t, pb)) =>
      graft.sources.Tables.writeTable(
        spark.range(1).select(lit(t).as(p.total.toLowerCase),
          lit(pb).as(p.perBand.toLowerCase)),
        s"${table}_banding")
    }
    if (withSizes)
      graft.sources.Tables.writeTable(sizes(b, layout.keys), s"${table}_sizes")
    graft.sources.Tables.writeBucketed(b, table, layout.keys, nBuckets)
    if (withSizes) b.unpersist(blocking = false)
    ()
  }

  /** Grow an index by `bands` — the append-partials convention: their
    * per-bucket counts are appended to `_sizes` FIRST, so a crash
    * between the appends over-counts (recall-only, inside over-cap
    * buckets) rather than under-counts, and a replay double-appends
    * both tables, so the sizes keep matching the rows the probes see.
    * The bands are bucketed as the build, so appended files keep the
    * bucket-pruned probe path. An index without `_sizes` gets it seeded
    * from the index once — appending partials alone would under-count
    * the original corpus. */
  def appendIndex(bands: DataFrame, layout: Layout, table: String,
      nBuckets: Int): Unit = {
    val spark = bands.sparkSession
    val (k, ks) = (layout.keys.head, layout.keys.tail)
    if (!spark.catalog.tableExists(s"${table}_sizes"))
      graft.sources.Tables.writeTable(sizes(spark.table(table), layout.keys),
        s"${table}_sizes")
    sizes(bands, layout.keys).write.mode("append").format("parquet")
      .saveAsTable(s"${table}_sizes")
    bands.write.mode("append").bucketBy(nBuckets, k, ks: _*)
      .sortBy(k, ks: _*).format("parquet").saveAsTable(table)
  }

  /** The banding an index was built with, from its `_banding` table.
    * Explicit values must MATCH it: band keys from another banding join
    * but match nothing. An adaptive probe of an index without the
    * table fails loudly too — the build-time banding cannot be
    * inferred, and guessing a default would silently match nothing. */
  def recorded(spark: SparkSession, table: String, p: Params,
      total: Int, perBand: Int): (Int, Int) = {
    val rec =
      try {
        val r = spark.table(s"${table}_banding").head()
        Some((r.getInt(0), r.getInt(1)))
      } catch { case _: org.apache.spark.sql.AnalysisException => None }
    (rec, total == Adaptive) match {
      case (Some(r), true) => r
      case (Some(r @ (rt, rp)), false) =>
        require(rt == total && rp == perBand,
          s"probe banding (${p.total}=$total, ${p.perBand}=$perBand) != " +
            s"index $table's recorded banding (${p.total}=$rt, " +
            s"${p.perBand}=$rp) — band keys would join but match nothing")
        r
      case (None, true) => throw new IllegalArgumentException(
        s"index $table has no ${table}_banding metadata and the probe " +
          s"asked for ADAPTIVE banding — the build-time (${p.total}, " +
          s"${p.perBand}) cannot be inferred. Rebuild the index via " +
          s"${p.writer} (records the metadata) or pass the explicit " +
          "banding it was built with")
      case (None, false) => (total, perBand)
    }
  }

  /** Candidate pairs touching a batch, probed against an index table
    * bucketed on the keys (only the batch moves). Output `(ida, idb,
    * out...)`, ida < idb, not deduplicated; `out` are caller columns
    * over the `x`/`y` aliases, symmetric in x and y. `band` bands the
    * batch when the caller passes no `batchBands` (see the storage
    * convention above).
    *
    * Capped: both collision sides truncate by the union (corpus +
    * batch) sizes — the caller's `unionSizes` (a micro-batched stream
    * must truncate every micro-batch under the FINAL union sizes), else
    * the index's `_sizes` partials, else a recompute over the index.
    * The one-shot x < y join truncates the larger-id side, so the
    * batch-vs-corpus candidates split by id order, plus the
    * within-batch join. Result = the one-shot self-join over (corpus ∪
    * batch) restricted to batch-touching pairs, exactly, for disjoint
    * batches; a replayed batch double-counts its sizes (recall-only,
    * inside over-cap buckets) and x < y strips its self-pairs.
    * Uncapped: one batch-vs-corpus join (x ≠ y) plus the within-batch
    * join. */
  def probe(index: String, batchBands: Option[DataFrame],
      band: => DataFrame, layout: Layout, cap: Int,
      unionSizes: Option[DataFrame] = None,
      out: Seq[Column] = Nil): DataFrame = {
    val owned = batchBands.isDefined
    val batch = batchBands.getOrElse(band.cache())
    val corpus = batch.sparkSession.table(index)
    val id = layout.idCol
    if (cap == Uncapped) {
      def leg(y: DataFrame, guard: (Column, Column) => Column) =
        collide(batch, y, layout, guard)
          .select(Seq(least(col(s"x.$id"), col(s"y.$id")).as("ida"),
            greatest(col(s"x.$id"), col(s"y.$id")).as("idb")) ++ out: _*)
      return leg(corpus, _ =!= _).union(leg(batch, _ < _))
    }
    // the size tables are broadcast when their rows are bounded: by the
    // layout, or else by counting the batch's band rows (a superset of
    // the keys it touches; the count also fills the batch cache)
    val small = layout.rowBound.fold(batch.count() <= MaxBroadcastKeys)(
      _ <= MaxBroadcastKeys)
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // one-shot probes cut the batch-sized subtrees referenced more than
    // once (union sizes: both truncated sides; truncated batch: two
    // legs), so each plan reference is a scan rather than a re-planned
    // copy of the subtree
    def pinned(df: DataFrame): DataFrame = if (owned) df else Dedup.cut(df)
    val sizes = hinted(unionSizes.getOrElse(pinned {
      val corpusSizes =
        try batch.sparkSession.table(s"${index}_sizes")
        catch {
          case _: org.apache.spark.sql.AnalysisException =>
            this.sizes(corpus, layout.keys)
        }
      this.unionSizes(corpusSizes, batch, layout.keys, hinted)
    }))
    val truncCorpus = truncate(corpus, layout, cap, Some(sizes))
    val truncBatch = pinned(truncate(batch, layout, cap, Some(sizes)))
    def leg(x: DataFrame, y: DataFrame) =
      collide(x, y, layout, _ < _)
        .select(Seq(col(s"x.$id").as("ida"), col(s"y.$id").as("idb")) ++
          out: _*)
    leg(batch, truncCorpus).union(leg(corpus, truncBatch))
      .union(leg(batch, truncBatch))
  }
}
