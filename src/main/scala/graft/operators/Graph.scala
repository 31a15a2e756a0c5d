package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge tables — the power-iteration
  * companion to [[Dedup.dupClusters]]' label propagation. The reference
  * has no graph surface (tables only, SURVEY.md §1.1); this is the
  * extension tier a pipeline reaches for link-based quality signals
  * (domain authority for crawl curation, co-citation weighting).
  *
  * Determinism strategy: ranks are exact scaled BIGINTs and every
  * per-iteration step is integer arithmetic (per-edge `rank DIV
  * out_degree`, damping as `(pct * sum) DIV 100`), so sums are
  * order-independent and the DuckDB oracle replays each iteration
  * bit-for-bit — no float accumulation drift across engines, executor
  * counts, or retries.
  */
object Graph {

  /** PageRank with a fixed iteration count over a directed edge table.
    *
    * Scale shape: the edge table is joined with its source's out-degree
    * ONCE and lineage-cut — at 100 TB edges dwarf nodes, so the
    * per-iteration work is one shuffle of the (small) rank table onto
    * the edge partitioning plus one hash-agg by dst; the edge side is
    * cached/partitioned once and never re-shuffled. Each iteration's
    * rank table is lineage-cut (the k-means/q62 discipline) so the plan
    * does not balloon with `iters`, and the previous cut is released as
    * soon as its successor materializes.
    *
    * Dangling nodes (no out-edges) simply leak their mass — the
    * classic simplified formulation; with damping the ranks stay
    * bounded and the ORDERING (what curation thresholds on) is intact.
    * Returns (node, rank): rank after `iters` iterations, init =
    * `scale`, teleport = scale*(100-dampPct) DIV 100.
    *
    * `cutEvery`: lineage-cut cadence. 1 (default) checkpoints every
    * iteration — the safe cadence for large `iters`. Raising it makes
    * the uncut stretch compile into one job whose per-iteration
    * broadcasts nest (each subplan still executes exactly once).
    * Measured at q130's 3 iterations / sf0.1 the two cadences are
    * within noise — node-cardinality checkpoints are cheap — so the
    * knob matters only when `iters` is large enough that analyzer cost
    * or driver plan size becomes the constraint. The arithmetic is
    * identical either way; cuts only bound plan growth.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000L, dampPct: Int = 85,
      cutEvery: Int = 1): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100 && cutEvery >= 1)
    // The edge derivation (typically a distinct over a big relation —
    // q130's part↔supplier projection) is CUT ONCE and read by both the
    // node table and the degree join below; uncut, each of those
    // materialization jobs re-ran the full upstream scan + distinct
    // shuffle (guide §1.2: don't compute things twice).
    val e = Scratch.cut(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    // out-degree rides WITH the broadcast RANK table, not the edge
    // table (r18; guide §1.2): the r17 spelling materialized an
    // edge-cardinality `eDeg = e ⋈ deg` cut — a full second edge-scale
    // write+read whose only purpose was carrying `deg` next to each
    // edge row. Joining `deg` onto the NODE-cardinality rank table
    // inside the loop's broadcast side computes the identical per-edge
    // `rank DIV deg` (every src in `e` has a degree row; the inner
    // join keeps exactly the contributing nodes) while the edge table
    // is materialized ONCE and never re-derived, re-joined at scale,
    // or re-shuffled (broadcast regime). The degree cut is
    // node-cardinality — near-free.
    val deg = Scratch.cut(e.groupBy("src").agg(count(lit(1)).as("deg")))
    // nodes = src ∪ dst, with the src leg read from `deg` (already
    // distinct, node-cardinality) instead of `e` — the union-distinct
    // then shuffles |e| + |srcs| rows rather than 2|e| (r18).
    val nodes = Scratch.cut(deg.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // Rank/contribution tables are NODE-cardinality while the loop's
    // joins run against EDGE-cardinality — when nodes fit a broadcast
    // (the overwhelmingly common case: ranks are 16 B/node, so even
    // 10^8 nodes are ~1.6 GB while edges are orders larger), pin both
    // loop joins map-side so the edge table is NEVER shuffled after
    // its one up-front cut. nodes is already materialized, so the
    // count is free. Beyond the threshold, fall back to shuffle joins.
    val small = nodes.count() < 5000000L
    def side(df: DataFrame) = if (small) broadcast(df) else df
    val teleport = scale * (100 - dampPct) / 100
    // no cut for the initial ranks: they are the (already-cut) node
    // table plus a literal column, so "recomputing" them is free and
    // a checkpoint here would only add a materialization job
    var ranks = nodes.withColumn("rank", lit(scale))
    var prevCut: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = e
        .join(side(ranks.withColumnRenamed("node", "src").join(deg, "src")),
          "src")
        .select(col("dst"), expr("rank DIV deg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      val next = nodes
        .join(side(contrib.withColumnRenamed("dst", "node")),
          Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) +
            expr(s"$dampPct * coalesce(s, CAST(0 AS BIGINT)) DIV 100"))
            .as("rank"))
      // the final ranks are always cut (callers get a materialized,
      // re-readable frame exactly as before)
      ranks = if (i % cutEvery == 0 || i == iters) {
        val c = Scratch.cut(next)
        if (prevCut != null) Scratch.release(prevCut)
        prevCut = c
        c
      } else next
    }
    // the loop-support checkpoints are dead once the final rank table
    // is materialized — free them now
    Scratch.release(nodes)
    Scratch.release(e)
    Scratch.release(deg)
    ranks
  }

  /** BFS distances from a source node set, bounded at `maxHops`:
    * iterative relaxation — each round extends the known-distance table
    * one hop along the edges and keeps the per-node minimum. Exact
    * integers; each round's table is lineage-cut, and (like
    * [[pageRank]]) the node-cardinality distance table broadcasts into
    * the edge join so the edge side never shuffles — gated PER HOP on
    * the just-materialized table's row count (the frontier grows as the
    * search expands, so unlike pageRank's static node-count gate this
    * one re-decides each round: early hops broadcast a tiny frontier,
    * and once the reachable set exceeds `broadcastLimit` rows the join
    * flips to a plain shuffle — the Pregel layout — instead of pushing
    * an ever-larger table through the driver). The count is free: the
    * checkpoint already materialized the table. Returns (node, d) for
    * every node within `maxHops` of a source. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      sourceIds: Seq[Long], maxHops: Int,
      broadcastLimit: Long = 5000000L): DataFrame = {
    require(maxHops >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Scratch.cut(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst")))
    var dist = Scratch.cut(
      sourceIds.toDF("node").withColumn("d", lit(0)))
    var prev = dist
    for (_ <- 1 to maxHops) {
      val renamed = dist.withColumnRenamed("node", "src")
      val side =
        if (dist.count() < broadcastLimit) broadcast(renamed) else renamed
      val hop = e
        .join(side, "src")
        .select(col("dst").as("node"), (col("d") + 1).as("d"))
      val next = Scratch.cut(dist.unionAll(hop)
        .groupBy("node").agg(min("d").as("d")))
      Scratch.release(prev)
      prev = next
      dist = next
    }
    Scratch.release(e) // edge checkpoint is dead once dist is materialized
    dist
  }

  /** Synchronous label propagation over an UNDIRECTED edge table —
    * community detection (not connected components: [[Dedup.dupClusters]]'
    * pointer-doubling finds components exactly; LPA finds denser-than-
    * surroundings regions and is the standard cheap community pass over
    * a similarity/knn graph). Every node starts as its own label; each
    * round every node adopts the label most frequent among its
    * neighbors, ties broken by the SMALLEST label (the determinism
    * anchor: with a fixed iteration count the whole evolution is a pure
    * function of the edge set, so the DuckDB oracle replays it
    * bit-for-bit — no async/random visit order like the original
    * Raghavan et al. formulation). Isolated or vote-less nodes keep
    * their current label.
    *
    * Scale shape per round: one equi-join of the edge table against the
    * node-cardinality label table (broadcast-gated like [[pageRank]],
    * shuffle fallback beyond `broadcastLimit`), one (node, label) count
    * agg — partials combine map-side — and one argmax agg. Each round's
    * label table is lineage-cut and the previous cut released, so the
    * plan stays flat for any `iters`. */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, broadcastLimit: Long = 5000000L): DataFrame = {
    require(iters >= 1)
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val und = Scratch.cut(
      e0.unionAll(e0.select(col("b").as("a"), col("a").as("b"))).distinct())
    val nodes = Scratch.cut(und.select(col("a").as("id")).distinct())
    val small = nodes.count() < broadcastLimit
    def side(df: DataFrame) = if (small) broadcast(df) else df
    var labels = nodes.withColumn("lbl", col("id"))
    var prevCut: DataFrame = null
    for (i <- 1 to iters) {
      val votes = und
        .join(side(labels.withColumnRenamed("id", "b")), "b")
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax as one agg: max(struct(count, -label)) sorts count desc
      // then label asc — the q119 windowless latest-per-key move
      val arg = votes.groupBy("a")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("w"))
        .select(col("a").as("id"), (-col("w.nl")).as("lbl2"))
      val next = labels.join(side(arg), Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
      val c = Scratch.cut(next)
      if (prevCut != null) Scratch.release(prevCut)
      prevCut = c
      labels = c
    }
    Scratch.release(und)
    Scratch.release(nodes)
    labels
  }

  /** Directed bipartite edges in BOTH directions from a two-column
    * relation, with the two id spaces interleaved into one BIGINT
    * namespace (left*2, right*2+1). Edge generation is LINEAR in the
    * distinct relation — the scale-safe alternative to [[coEdges]]'
    * per-key quadratic fan-out when the relation is dense (a key
    * shared by m nodes costs m edges here vs m² there). */
  def bipartiteEdges(df: DataFrame, leftCol: String, rightCol: String)
      : DataFrame = {
    val ps = df.select((col(leftCol) * 2).as("src"),
      (col(rightCol) * 2 + 1).as("dst")).distinct()
    ps.unionAll(ps.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Undirected co-occurrence edges: nodes sharing a key become edges
    * in BOTH directions (a≠b). Per-key fan-out is quadratic in the
    * key's member count — bounded by design for natural co-occurrence
    * keys (suppliers per part, authors per paper); a power-law key
    * should be capped upstream before edge generation. */
  def coEdges(df: DataFrame, keyCol: String, nodeCol: String): DataFrame = {
    val m = df.select(col(keyCol).as("k"), col(nodeCol).as("n")).distinct()
    m.as("a").join(m.as("b"),
        col("a.k") === col("b.k") && col("a.n") =!= col("b.n"))
      .select(col("a.n").as("src"), col("b.n").as("dst"))
      .distinct()
  }
}
