package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Chunk-parallel running windows over LOW-CARDINALITY partition keys
  * (guide §2.5): a running aggregate partitioned by a 3-value key caps
  * its parallelism at 3 — one reducer per key value owns the ENTIRE
  * key's rows, which at 100 TB is tens of terabytes on a single task
  * (the one plan shape in the headline set that did not survive
  * scale). The classic fix is the two-phase parallel prefix:
  * range-partition the rows into P contiguous chunks of the same total
  * order, compute each window function LOCALLY per chunk in parallel,
  * then merge with per-chunk offsets computed on a ≤P-row summary.
  * Every output value is a pure function of the per-partition total
  * order, so the result is row-identical to the single-window
  * spelling — OperatorSpec pins the equivalence on a tie-rich fixture,
  * a null-rich fixture, and on real corpus data.
  *
  * r18 rewrite (the r17 VERDICT's "single-streaming-pass" follow-up):
  * the r17 implementation paid a SECOND full exchange (the per-chunk
  * local Window's hash clustering), a wide consistency cache, and two
  * broadcast-join merge passes — and measured SLOWER than classic at
  * every probed decade. This version is the single-pass design:
  *
  *   1. ONE range exchange + sortWithinPartitions (local sort, no
  *      exchange), lineage-cut so both passes read the SAME chunk
  *      assignment (without the cut, each pass re-samples range
  *      boundaries under its own column pruning and the passes can
  *      disagree on row→chunk assignment — the documented r17 lineitem
  *      null-rank failure);
  *   2. a per-partition STREAMING summary pass — one row per
  *      (chunk, part) segment: count, non-null running-sum partials,
  *      last lag value, head/tail order keys, tail tie-group start —
  *      collected to the driver (≤ P·|parts| rows; this operator is
  *      for low-cardinality partition keys by contract);
  *   3. a driver-side prefix scan over that summary ([[chunkOffsets]],
  *      unit-tested directly — including tie groups spanning chunks,
  *      which range partitioning never produces on real input since
  *      equal keys hash to one chunk, so the spec exercises the merge
  *      arithmetic synthetically);
  *   4. a second per-partition streaming pass that computes
  *      rn/rank/lag/running-sum in one loop seeded with the broadcast
  *      offsets. No Window operator, no second exchange, no join.
  *
  * Null semantics match the classic plan exactly: the running sum is
  * NULL until the first non-null sumCol value of the part (the merge
  * carries (sum, non-null count) partials — the r17 ADVICE
  * null-divergence is closed by construction), and lag carries the
  * previous row's value, null included. Rows with a NULL partCol or
  * order key are filtered on BOTH paths (previously the parallel path
  * filtered silently while classic kept them — the precondition is now
  * uniform and documented: keys must be non-null).
  */
object ParWindow {

  /** Input-size gate between the two physically different,
    * row-identical plans, in ESTIMATED bytes of the input plan
    * (`optimizedPlan.stats.sizeInBytes` — file-size-derived for scans,
    * the same statistic Spark's own planner gates broadcast joins on;
    * reading it costs NO job).
    *
    * r18: the streaming-pass rewrite was measured against classic under
    * TWO protocols (receipt tools/receipts/r18/q22_parwindow_scale.txt,
    * every probe full-row xxhash64-identical):
    *
    * warm in-session (ParWindowReceipt):
    *   600k rows (~5.2 MB est):  classic   2.6 s | parallel 0.9 s
    *   1.8M rows (~16 MB est):   classic   4.3 s | parallel 1.0 s
    *   6M rows  (~55 MB est):    classic  12.0 s | parallel 1.0 s
    *   60M rows (~555 MB est):   classic 171.5 s | parallel 6.4 s
    * cold bench protocol (isolated median-of-3, the driver's shape):
    *   600k rows:  classic 1.29 s | parallel 1.83 s
    *   1.8M rows:  classic 3.50 s | parallel 4.43 s
    *   6M rows:    classic 9.69 s | parallel 9.44 s
    *
    * The r17 two-phase version LOST both upper decades (17.1 s /
    * 259.8 s warm); removing its second exchange, wide cache and
    * join-based merge flipped the verdict, and the margin widens with
    * scale (3 reducers vs P; 27× at 60M). Cold, the parallel plan's
    * fixed costs (range-boundary sampling pass + checkpoint + two
    * row-converted passes) keep classic ahead until ~6M rows, where
    * they tie and the task-bound trend takes over. Gate: 32 MB of
    * estimated input — above the last classic cold win (16 MB) and
    * just below the cold tie (55 MB), so gate-scale corpora (sf0.1 is
    * ~5 MB) keep the measured-faster classic plan while every decade
    * past the tie runs the plan that survives 100 TB. Lowered from
    * r17's 4 GB on this two-sided evidence. */
  val GateBytes: Long = 32L << 20

  /** The q22 running-window family — row_number, rank, lag(1) and a
    * running integer sum over (partCol; orderKeys) — computed with
    * P-way chunk parallelism, row-identical to the single-window plan.
    *
    * `orderKeys` are (column name, ascending) pairs; key columns and
    * `partCol` must be non-null (enforced by an explicit filter on
    * BOTH paths, so a violating caller gets the same row set on either
    * side of the gate). `sumCol` must be an integer-typed expression
    * (exact, order-independent merges; cast to BIGINT internally,
    * matching the classic sum-over-window result type). `chunks`
    * defaults to the session's default parallelism — cluster-derived,
    * never a data-shape constant. */
  def runningWindow(df: DataFrame, partCol: String,
      orderKeys: Seq[(String, Boolean)], lagCol: String, sumCol: Column,
      rnName: String, rkName: String, prevName: String, runName: String,
      chunks: Int = 0, gateBytes: Long = GateBytes): DataFrame = {
    require(orderKeys.nonEmpty)
    val part = col(partCol)
    val sortExprs = orderKeys.map { case (c, asc) =>
      if (asc) col(c).asc else col(c).desc }
    require(!df.isStreaming,
      "ParWindow.runningWindow is a batch operator (running windows " +
        "over an unbounded stream need a watermark design this " +
        "operator does not claim)")
    // uniform non-null precondition: the SAME filter on both paths, so
    // the row set can never depend on which side of the gate the input
    // lands (r17 ADVICE)
    val keyed = df.filter(orderKeys.map(k => col(k._1).isNotNull)
      .foldLeft(part.isNotNull)(_ && _))
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        BigInt(gateBytes)) {
      // classic single-exchange spelling — identical output columns.
      // ONE select, not chained withColumns: chaining creates stacked
      // Window logical nodes that the collapse rule leaves as two
      // physical Window operators (an extra pass over the sorted
      // rows); a single projection plans the single-Window node.
      val w = Window.partitionBy(part).orderBy(sortExprs: _*)
      return keyed.select(keyed.columns.map(col) ++ Seq(
        row_number().over(w).as(rnName),
        rank().over(w).as(rkName),
        lag(col(lagCol), 1).over(w).as(prevName),
        sum(sumCol.cast("bigint")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).as(runName)): _*)
    }
    val spark = df.sparkSession
    val p =
      if (chunks > 0) chunks
      else spark.sparkContext.defaultParallelism

    // ONE exchange: contiguous range chunks of the global
    // (part, orderKeys) order, locally sorted, then lineage-cut so the
    // summary pass and the merge pass read the SAME materialized chunk
    // assignment (range boundaries are a deterministic sample of the
    // input, but each independent evaluation re-samples under its own
    // column pruning — one materialization = one boundary array for
    // every consumer; task retries re-read the same blocks).
    // the sum value rides as an appended internal column whose name no
    // input column takes (case-insensitively), dropped by index below
    val taken = keyed.columns.map(_.toLowerCase).toSet
    val sv = Iterator.from(0).map(i => s"_sv$i").find(n => !taken(n)).get
    val ranged = Scratch.cut(keyed
      .withColumn(sv, sumCol.cast("bigint"))
      .repartitionByRange(p, (part +: sortExprs): _*)
      .sortWithinPartitions((part +: sortExprs): _*))
    val schema = ranged.schema
    val pi = schema.fieldIndex(partCol)
    val kis = orderKeys.map(k => schema.fieldIndex(k._1)).toArray
    val li = schema.fieldIndex(lagCol)
    val si = schema.fieldIndex(sv)

    // ---- pass 1: one summary row per (chunk, part) segment ----
    val segs: Array[SegSum] = ranged.rdd.mapPartitionsWithIndex {
      (cid, it) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[SegSum]
        var curPart: Any = null
        var started = false
        var cnt = 0L; var sum = 0L; var nn = 0L
        var lastLag: Any = null
        var headKey: Seq[Any] = null
        var curKey: Seq[Any] = null
        var groupStart = 1L
        def flush(): Unit = if (started) {
          out += SegSum(cid, curPart, cnt, sum, nn, lastLag, headKey,
            curKey, groupStart)
        }
        while (it.hasNext) {
          val r = it.next()
          val pv = r.get(pi)
          if (!started || pv != curPart) {
            flush()
            curPart = pv; started = true
            cnt = 0L; sum = 0L; nn = 0L; lastLag = null
            headKey = null; curKey = null; groupStart = 1L
          }
          cnt += 1
          val key: Seq[Any] = kis.toSeq.map(r.get)
          if (headKey == null) { headKey = key; curKey = key }
          else if (key != curKey) { curKey = key; groupStart = cnt }
          if (!r.isNullAt(si)) { sum += r.getLong(si); nn += 1 }
          lastLag = r.get(li)
        }
        flush()
        out.iterator
    }.collect()

    // ---- driver-side prefix scan over the ≤ P·|parts| summary ----
    val offsets = chunkOffsets(segs.toSeq)
    val bc = spark.sparkContext.broadcast(offsets)

    // ---- pass 2: one streaming merge pass per chunk ----
    val lagType = schema(li).dataType
    val outSchema = StructType(
      schema.fields.patch(si, Nil, 1) ++ Seq(
        StructField(rnName, IntegerType, nullable = false),
        StructField(rkName, IntegerType, nullable = false),
        StructField(prevName, lagType, nullable = true),
        StructField(runName, LongType, nullable = true)))
    val outRows = ranged.rdd.mapPartitionsWithIndex { (cid, it) =>
      val off = bc.value
      var curPart: Any = null
      var started = false
      var o: ChunkOff = null
      var localRn = 0L
      var runSum = 0L; var nnSeen = 0L
      var lastKey: Seq[Any] = null
      var lastLagVal: Any = null
      var groupStart = 0L
      it.map { r =>
        val pv = r.get(pi)
        if (!started || pv != curPart) {
          started = true; curPart = pv
          o = off((cid, pv))
          localRn = 0L; runSum = o.offSum; nnSeen = o.offNn
          lastKey = null; lastLagVal = null; groupStart = 0L
        }
        localRn += 1
        val grn = o.offRn + localRn
        val key: Seq[Any] = kis.toSeq.map(r.get)
        val rk =
          if (localRn == 1L) o.headStart
          else if (key != lastKey) grn
          else groupStart
        groupStart = rk
        val prev = if (localRn == 1L) o.prevLast else lastLagVal
        if (!r.isNullAt(si)) { runSum += r.getLong(si); nnSeen += 1 }
        val run: Any = if (nnSeen == 0L) null else java.lang.Long.valueOf(runSum)
        lastKey = key
        lastLagVal = r.get(li)
        Row.fromSeq(r.toSeq.patch(si, Nil, 1) ++
          Seq(grn.toInt, rk.toInt, prev, run))
      }
    }
    spark.createDataFrame(outRows, outSchema)
  }

  /** One (chunk, part) segment's summary: row count, running-sum
    * partials (non-null sum + non-null count — the null-correct merge),
    * the last lag value, the first and last order keys, and the
    * 1-based local position where the LAST tie group starts. */
  private[graft] final case class SegSum(cid: Int, part: Any,
      cnt: Long, sum: Long, nn: Long, lastLag: Any,
      headKey: Seq[Any], tailKey: Seq[Any], tailStart: Long)

  /** A chunk-segment's merge seed: global row-number offset, running
    * sum / non-null-count carried in from earlier chunks of the same
    * part, the previous chunk's last lag value, and the GLOBAL rank of
    * the segment's leading tie group (which may have started several
    * chunks earlier — the recurrence propagates it). */
  private[graft] final case class ChunkOff(offRn: Long, offSum: Long,
      offNn: Long, prevLast: Any, headStart: Long)

  /** The driver-side prefix scan: per part, walk the chunk segments in
    * chunk order accumulating counts/sums and propagating tie-group
    * starts across chunk boundaries. Package-visible and unit-tested
    * DIRECTLY on synthetic summaries whose tie groups span several
    * chunks: repartitionByRange keeps equal keys in one chunk on real
    * input (the RangePartitioner maps equal keys to one partition), so
    * the cross-chunk branch is defensive — the spec exercises it here
    * rather than through a fixture that cannot actually split a tie. */
  private[graft] def chunkOffsets(segs: Seq[SegSum])
      : Map[(Int, Any), ChunkOff] = {
    val out = Map.newBuilder[(Int, Any), ChunkOff]
    segs.groupBy(_.part).foreach { case (part, ss) =>
      var cumCnt = 0L; var cumSum = 0L; var cumNn = 0L
      var lastLag: Any = null
      var prevTailKey: Seq[Any] = null
      var prevTailStart = 0L
      ss.sortBy(_.cid).foreach { s =>
        val headStart =
          if (prevTailKey != null && prevTailKey == s.headKey) prevTailStart
          else cumCnt + 1
        val tailStart =
          if (s.tailKey == s.headKey) headStart
          else cumCnt + s.tailStart
        out += ((s.cid, part) ->
          ChunkOff(cumCnt, cumSum, cumNn, lastLag, headStart))
        cumCnt += s.cnt; cumSum += s.sum; cumNn += s.nn
        lastLag = s.lastLag
        prevTailKey = s.tailKey; prevTailStart = tailStart
      }
    }
    out.result()
  }
}
