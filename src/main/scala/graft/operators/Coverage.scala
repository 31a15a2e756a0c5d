package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy maximum-coverage selection — the submodular data-selection
  * primitive ("pick the k documents that together cover the most
  * features"): each round selects the item whose feature set adds the
  * most not-yet-covered features, ties broken by the SMALLEST item id
  * (determinism anchor), then marks its features covered. The classic
  * greedy gives the (1 - 1/e) approximation to optimal coverage, and
  * because the schedule is a pure function of the (item, feature) set,
  * a DuckDB oracle replays every round bit-for-bit.
  *
  * Extension operator (no reference counterpart — the reference has no
  * text/selection surface, SURVEY.md §1.1).
  *
  * Scale shape per round: one anti-join of the pair table against the
  * covered-feature set (feature-keyed equi shuffle; at real scale the
  * covered side is the small one — broadcast or bloom-prune it), one
  * map-side-combining count per item, and a top-1 via TakeOrdered (a
  * k=1 heap, never a global sort). The pair table is lineage-cut once
  * and re-scanned k times; the covered set is cut per round and the
  * previous cut released, so the plan stays flat in k. The only
  * driver-side traffic is k single-row argmax results — the same
  * bounded pattern as the k-means trainer.
  */
object Coverage {

  /** Returns one row per selection round:
    * (round, item, gain, covered_cum) — the chosen item, how many new
    * features it contributed, and total coverage after the round. */
  def greedyCover(pairs: DataFrame, itemCol: String, featureCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = Scratch.cut(
      pairs.select(col(itemCol).as("item"), col(featureCol).as("f"))
        .distinct())
    var covered: DataFrame = null // feature set covered so far
    var prevCut: DataFrame = null
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var cum = 0L
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      val remaining =
        if (covered == null) p else p.join(covered, Seq("f"), "left_anti")
      val top = remaining.groupBy("item")
        .agg(count(lit(1)).as("gain"))
        .orderBy(col("gain").desc, col("item"))
        .limit(1)
        .as[(Long, Long)].collect()
      if (top.isEmpty) {
        // every feature covered: remaining rounds select nothing
        exhausted = true
      } else {
        val (item, gain) = top.head
        cum += gain
        picks += ((round, item, gain, cum))
        val c = Scratch.cut(
          if (covered == null)
            p.filter(col("item") === item).select("f")
          else
            covered.unionAll(
              p.filter(col("item") === item).select("f")).distinct())
        if (prevCut != null) Scratch.release(prevCut)
        prevCut = c
        covered = c
        round += 1
      }
    }
    Scratch.release(p)
    if (prevCut != null) Scratch.release(prevCut)
    picks.toSeq.toDF("round", "item", "gain", "covered_cum")
  }
}
