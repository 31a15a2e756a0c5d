package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Align, AsOfJoin, Dedup, Similarity, Multimodal invariants. */
class OperatorSpec extends SparkTestBase {
  import spark.implicits._

  test("q288 incremental decontamination equals one-shot q116") {
    // frozen index x disjoint batches: union of per-batch admissions
    // must be row-identical to the one-shot gate
    val one = SparkEntry.queries("q116_decontaminate")(spark, sf)
      .select("doc_id", "n_hits", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    val incr = SparkEntry.queries("q288_incr_decontaminate")(spark, sf)
      .select("doc_id", "n_hits", "keep")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(incr == one)
    assert(one.nonEmpty)
  }

  test("q279 split repair: zero cross-split leakage on repaired splits") {
    // one row per doc, repaired split totals preserved
    val rep = SparkEntry.queries("q279_split_repair")(spark, sf)
      .select("doc_id", "split_new").as[(Long, String)].collect().toMap
    val nDocs = graft.sources.Tables.read(spark, sf, "documents").count()
    assert(rep.size == nDocs, "repair must assign every doc exactly once")
    // the law q279 exists for: every near-dup pair (same LSH params)
    // lands in ONE repaired split, so q278's off-diagonal mass is zero
    val docs = graft.sources.Tables.read(spark, sf, "documents")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      k = 8, rows = 2, threshold = 0.5)
      .select("ida", "idb").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(rep(a) == rep(b),
        s"pair ($a,$b) still crosses splits: ${rep(a)} vs ${rep(b)}")
    }
  }

  test("alignByOrder zips by position; unequal lengths truncate") {
    val a = Seq(10, 20, 30).toDF("x")
    val b = Seq(1, 2).toDF("y")
    val z = Align.alignByOrder(a, Seq($"x"), b, Seq($"y"))
      .orderBy("pos").select("x", "y").as[(Int, Int)].collect().toSeq
    assert(z == Seq((10, 1), (20, 2)))
  }

  test("resample+ffill: complete hourly grid, no holes, gaps carry the last value") {
    val out = SparkEntry.queries("q123_resample_ffill")(spark, sf)
      .select("user_id", "hr", "v_filled")
      .as[(Long, java.sql.Timestamp, Double)].collect()
    assert(out.nonEmpty)
    val byUser = out.groupBy(_._1)
    byUser.foreach { case (_, rows) =>
      val hrs = rows.map(_._2.getTime).sorted
      // contiguous hourly grid from first to last observation
      assert(hrs.zip(hrs.tail).forall { case (a, b) => b - a == 3600000L })
    }
    // an hour with no raw event must carry the previous filled value
    val observed = graft.sources.Tables.read(spark, sf, "events")
      .select(col("user_id"),
        date_trunc("hour", col("ts")).as("hr"))
      .distinct()
      .as[(Long, java.sql.Timestamp)].collect()
      .map { case (u, h) => (u, h.getTime) }.toSet
    byUser.foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._2.getTime)
      sorted.zip(sorted.tail).foreach { case ((_, _, prev), (_, h, v)) =>
        if (!observed.contains((u, h.getTime))) assert(v == prev,
          s"gap hour $h for user $u must carry the previous value")
      }
      assert(observed.contains((u, sorted.head._2.getTime)),
        "grid must start at the first OBSERVED hour (no leading nulls)")
    }
  }

  test("time-weighted average: long-standing values dominate, bounded by extremes") {
    // user 1: value 10 stands for 9s, value 1000 for 1s, then closes —
    // tw = (9e6*1000 + 1e6*100000)/1e7/100 = (10 held 9s, 1000 held 1s)
    val ev = Seq(
      (1L, 1L, ts(0), 10.0), (2L, 1L, ts(9000), 1000.0),
      (3L, 1L, ts(10000), 7.0))
      .toDF("event_id", "user_id", "t", "value")
      .withColumnRenamed("t", "ts")
    val twSpark = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev.select(col("user_id"), col("ts"), col("event_id"),
          graft.functions.DetMath.fixed(col("value"), 2).as("v100"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
        .withColumn("next_us", lead(col("us"), 1).over(w))
        .filter(col("next_us").isNotNull)
        .withColumn("dt", col("next_us") - col("us"))
        .groupBy("user_id")
        .agg(sum(col("dt")).as("span_us"),
          sum(col("dt") * col("v100")).as("num"))
        .select((col("num") / col("span_us") / lit(100.0)).as("tw"))
        .as[Double].head()
    }
    assert(twSpark == (9.0e6 * 1000 + 1.0e6 * 100000) / 1.0e7 / 100.0)
    // on the real corpus: every tw_avg strictly inside the user's range
    val out = SparkEntry.queries("q126_time_weighted")(spark, sf)
      .select("user_id", "tw_avg").as[(Long, Double)].collect().toMap
    val ranges = graft.sources.Tables.read(spark, sf, "events")
      .groupBy("user_id")
      .agg(min("value").as("lo"), max("value").as("hi"))
      .as[(Long, Double, Double)].collect()
    assert(out.nonEmpty)
    ranges.filter(r => out.contains(r._1)).foreach { case (u, lo, hi) =>
      assert(out(u) >= lo - 0.005 && out(u) <= hi + 0.005,
        s"user $u tw_avg ${out(u)} outside [$lo, $hi]")
    }
  }

  test("asof join picks the latest right row at-or-before left time") {
    val ev = Seq((1L, 5L, ts(100)), (2L, 5L, ts(250)), (3L, 5L, ts(50)))
      .toDF("event_id", "user_id", "t")
    val orders = Seq((5L, ts(100), 11L), (5L, ts(200), 12L), (6L, ts(10), 13L))
      .toDF("o_custkey", "o_date", "o_id")
    val out = AsOfJoin.leftAsOf(ev, "user_id", "t",
        orders, "o_custkey", "o_date", Seq("o_id"))
      .select("event_id", "o_id").as[(Long, Option[Long])]
      .collect().toMap
    assert(out(1L).contains(11L)) // equal timestamp matches
    assert(out(2L).contains(12L)) // latest before
    assert(out(3L).isEmpty)       // nothing before → null
  }

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  test("nearest as-of equals brute-force argmin with backward ties") {
    // deterministic pseudo-random probe set: every (key, left-time)
    // shape against a right side with before/after/equal candidates
    val left = (1L to 60L).map(i =>
      (i, i % 5, ts(i * 37 % 300))).toDF("lid", "k", "t")
    val right = (1L to 40L).map(j =>
      (j % 5, ts(j * 53 % 300), 1000L + j)).toDF("rk", "rt", "payload")
      // dedup per (key, time): the carry pick must be deterministic
      .groupBy("rk", "rt").agg(max("payload").as("payload"))
    val got = AsOfJoin.leftAsOf(left, "k", "t",
        right, "rk", "rt", Seq("payload"), direction = "nearest")
      .select("lid", "payload").as[(Long, Option[Long])].collect().toMap
    // brute force: argmin |gap|, ties -> backward (pandas `<=` rule)
    val rs = right.select("rk", "rt", "payload")
      .as[(Long, java.sql.Timestamp, Long)].collect()
    val ls = left.select("lid", "k", "t")
      .as[(Long, Long, java.sql.Timestamp)].collect()
    for ((lid, k, t) <- ls) {
      val cands = rs.filter(_._1 == k)
      val expect =
        if (cands.isEmpty) None
        else {
          val withGap = cands.map { case (_, rt, p) =>
            val gap = math.abs(rt.getTime - t.getTime)
            val fwd = if (rt.getTime <= t.getTime) 0 else 1
            (gap, fwd, p)
          }
          // min by (gap, backward-first); payload max on exact dup is
          // already collapsed by the pre-dedup
          Some(withGap.min._3)
        }
      assert(got(lid) == expect,
        s"lid=$lid k=$k t=$t: got ${got(lid)}, brute force $expect")
    }
  }

  test("label propagation: two triangles + bridge evolve exactly as hand-computed") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} bridged by 3-4; synchronous
    // min-tie-break LPA for 3 rounds lands on communities led by 1 and
    // by 3 (label 3 migrates across the bridge in round 1 and seeds the
    // second triangle — the hand evolution is in the operator's spec)
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Graph.labelPropagate(e, "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // one round only: every node has adopted its min neighbor (votes
    // are all ties at count 1 except the bridge endpoints)
    val r1 = Graph.labelPropagate(e, "a", "b", iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 4L, 6L -> 4L))
  }

  test("minhash LSH finds exact duplicates with jaccard 1.0") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different text about spark query engines here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }

  test("simhash of identical docs is identical; exact groups cluster them") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .filter($"n_docs" === 2).head()
    assert(g.getAs[Long]("canonical") == 1L)
  }

  test("brute-force knn never returns the query itself and ranks by cosine") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val out = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 3),
      "vec_id", "embedding", k = 5).cache()
    assert(out.filter($"qid" === $"vec_id").count() == 0)
    assert(out.groupBy("qid").count().filter($"count" =!= 5).count() == 0)
    // rank 1 has the max cos per query
    val byRank = out.filter($"qid" === 0).orderBy("rank")
      .select("cos").as[Double].collect()
    assert(byRank.toSeq == byRank.sorted(Ordering[Double].reverse).toSeq)
  }

  test("ivf candidates are a subset of brute-force corpus, recall sane") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val qids = e.select("vec_id").filter($"vec_id".between(100, 104))
    val brute = Similarity.bruteForceTopK(e,
      e.filter($"vec_id".between(100, 104)), "vec_id", "embedding", 5)
    val ivf = Similarity.ivfTopK(e, qids,
      e.select("vec_id").filter($"vec_id" < 8), "vec_id", "embedding", 5)
    assert(ivf.groupBy("qid").count().count() == 5)
    // nprobe=1 recall vs exact: expect nonzero overlap
    val overlap = ivf.select("qid", "vec_id")
      .intersect(brute.select("qid", "vec_id")).count()
    assert(overlap > 0)
  }

  test("multimodal mapPartitions decode stays in lockstep with expr twin") {
    val docs = sources.Tables.read(spark, sf, "documents").limit(50)
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val viaPartitions = Multimodal.decodePartitions(media, Multimodal.StubDecoder)
      .toDF().orderBy("doc_id")
    val viaExpr = Multimodal.featureColumns(docs, "doc_id", "text")
      .orderBy("doc_id")
    assert(viaPartitions.collect().toSeq ==
      viaExpr.select("doc_id", "n_bytes", "sig", "width", "height", "channels")
        .collect().toSeq)
  }

  test("codegen graft_dot equals the interpreted higher-order spelling") {
    val e = Similarity.prepare(
      sources.Tables.read(spark, sf, "embeddings"), "embedding")
    val diff = e.withColumn("d1", Similarity.dotQ("q", "q"))
      .withColumn("d2", Similarity.dotQInterpreted("q", "q"))
      .filter($"d1" =!= $"d2")
    assert(diff.count() == 0)
  }

  test("native tokenizer and minhash equal their declarative spec spellings") {
    graft.functions.TextNative.register(spark)
    val docs = sources.Tables.read(spark, sf, "documents")
    val cmp = docs.select(
      expr("graft_tokens(text)").as("nat"),
      expr(graft.functions.TextExpr.toksSpark("text")).as("dec"),
      expr("graft_minhash(text, 4)").as("mh"))
      .withColumn("sh", expr(graft.functions.TextExpr.shinglesSpark("dec")))
    assert(cmp.filter($"nat" =!= $"dec").count() == 0)
    val mhCmp = (0 until 4).map(i =>
      element_at($"mh", i + 1) =!=
        expr(graft.functions.TextExpr.minhashSpark("sh", i)))
      .reduce(_ || _)
    assert(cmp.filter(mhCmp).count() == 0)
    // graft_ngrams: fused loop vs transform(sequence)+concat_ws(slice),
    // including the under-n → EMPTY array edge (ngrams, unlike
    // shingles, must not fall back to bare tokens)
    for (n <- Seq(2, 4, 50)) {
      val ng = docs.select(
        expr(s"graft_ngrams(text, $n)").as("nat"),
        expr(graft.functions.TextExpr.ngramsSpark(
          graft.functions.TextExpr.toksSpark("text"), n)).as("dec"))
      assert(ng.filter($"nat" =!= $"dec").count() == 0, s"n=$n diverged")
    }
    // graft_lshsig: codegen'd double loop vs the declarative
    // transform∘aggregate spelling over the same hyperplane weights
    val emb = Similarity.prepare(
      sources.Tables.read(spark, sf, "embeddings"), "embedding")
    val sg = emb.select(
      expr("graft_lshsig(q, 16)").as("nat"),
      expr(s"""transform(sequence(0, 15), j ->
        | CASE WHEN aggregate(sequence(1, size(q)), CAST(0 AS BIGINT),
        |   (acc, d) -> acc + element_at(q, d) *
        |     ${Similarity.hyperplaneWeight("j", "d")})
        |  >= 0 THEN 1 ELSE 0 END)""".stripMargin).as("dec"))
    assert(sg.filter($"nat" =!= $"dec").count() == 0,
      "graft_lshsig diverged from the declarative spelling")
    // seeded form (study-only, VERDICT r16 #1): bit j under offset K
    // draws hyperplane j+K — equals the declarative spelling with the
    // shifted index, and offset 0 is the two-arg form bit-for-bit
    val sg64 = emb.select(
      expr("graft_lshsig(q, 16, 64)").as("nat"),
      expr(s"""transform(sequence(0, 15), j ->
        | CASE WHEN aggregate(sequence(1, size(q)), CAST(0 AS BIGINT),
        |   (acc, d) -> acc + element_at(q, d) *
        |     ${Similarity.hyperplaneWeight("(j + 64)", "d")})
        |  >= 0 THEN 1 ELSE 0 END)""".stripMargin).as("dec"))
    assert(sg64.filter($"nat" =!= $"dec").count() == 0,
      "seeded graft_lshsig diverged from the shifted declarative spelling")
    val sg0 = emb.select(expr("graft_lshsig(q, 16)").as("two"),
      expr("graft_lshsig(q, 16, 0)").as("three"))
    assert(sg0.filter($"two" =!= $"three").count() == 0,
      "offset 0 must be bit-identical to the two-arg form")
  }

  test("bucketed range join equals the naive theta join; approx distinct close to exact") {
    val e = sources.Tables.read(spark, sf, "events")
    val w = e.filter($"event_type" === "signup")
      .select($"event_id".as("wid"), $"ts".as("ws"),
        ($"ts" + expr("INTERVAL 1 HOUR")).as("we"))
    val bucketed = RangeJoin.bucketed(e, "ts", w, "ws", "we", 3600L)
      .select("wid", "event_id")
    val naive = e.join(w, e("ts") >= w("ws") && e("ts") < w("we"))
      .select("wid", "event_id")
    assert(bucketed.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(bucketed).count() == 0)

    val li = sources.Tables.read(spark, sf, "lineitem")
    val approx = li.agg(approx_count_distinct($"l_orderkey", 0.02)).head().getLong(0)
    val exact = li.select("l_orderkey").distinct().count()
    assert(math.abs(approx - exact).toDouble / exact < 0.05)

    // and the oracle-replayable deterministic register sketch (q54's
    // gated spelling) tracks exact within its ~1.04/sqrt(256) = 6.5%
    // standard error (3 sigma ~ 20%)
    val det = Sketches.detEstimate(
      Sketches.detRegisters(li.withColumn("g", lit(1)), Seq("g"),
        "l_orderkey"), Seq("g"), "est").head().getLong(1)
    assert(math.abs(det - exact).toDouble / exact < 0.2,
      s"det sketch $det vs exact $exact")
  }

  test("bucketed interval-overlap join equals the naive theta join, once per pair") {
    val w = sources.Tables.read(spark, sf, "events")
      .filter($"event_type" === "signup").limit(300)
    val a = w.select($"event_id".as("ida"), $"ts".as("as_"),
      ($"ts" + expr("INTERVAL 1 HOUR")).as("ae"))
    val b = w.select($"event_id".as("idb"), $"ts".as("bs"),
      ($"ts" + expr("INTERVAL 1 HOUR")).as("be"))
    val bucketed = RangeJoin.overlapBucketed(a, "as_", "ae", b, "bs", "be", 3600L)
      .select("ida", "idb")
    val naive = a.join(b, $"as_" < $"be" && $"bs" < $"ae")
      .select("ida", "idb")
    // exact same multiset: equality AND no duplicate pair from the
    // multi-bucket meetings (canonical-bucket assignment)
    assert(bucketed.exceptAll(naive).count() == 0)
    assert(naive.exceptAll(bucketed).count() == 0)
  }

  test("merged per-batch sketches equal the one-shot estimate (det + HLL)") {
    // sketch union is exact over the sketch lattice: union of
    // per-batch sketches IS the sketch of the union, so the persisted
    // incremental path (q94, deterministic registers) must reproduce
    // the one-shot estimate exactly
    val ev = sources.Tables.read(spark, sf, "events")
    val merged = SparkEntry.queries("q94_incr_distinct")(spark, sf)
    val oneShot = Sketches.detEstimate(
      Sketches.detRegisters(ev, Seq("event_type"), "user_id"),
      Seq("event_type"), "approx_users")
    assert(merged.exceptAll(oneShot).count() == 0)
    assert(oneShot.exceptAll(merged).count() == 0)
    // the estimate is actually close to the exact distinct count
    val exact = ev.groupBy("event_type").agg(countDistinct($"user_id").as("n"))
    val joined = merged.join(exact, "event_type")
    assert(joined.filter(
      abs($"approx_users" - $"n") / $"n" > 0.2).count() == 0)

    // the ENGINE-NATIVE production spelling keeps the same lattice
    // property: per-batch HLL sketches merged with hll_union_agg equal
    // the one-shot sketch, and land within the configured accuracy
    val b = ev.withColumn("b", pmod($"event_id", lit(4)))
    val hllMerged = b.groupBy("b", "event_type")
      .agg(hll_sketch_agg($"user_id").as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"))
    val hllOneShot = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id"))
        .as("approx_users"))
    assert(hllMerged.exceptAll(hllOneShot).count() == 0)
    assert(hllOneShot.exceptAll(hllMerged).count() == 0)
    assert(hllMerged.join(exact, "event_type").filter(
      abs($"approx_users" - $"n") / $"n" > 0.05).count() == 0)
  }

  test("approx quantiles track the exact percentiles within sample tolerance") {
    // q83 (deterministic half-sample, oracle-replayable) vs q59 (exact,
    // buffers the group): sampling rank error is ~1/sqrt(sample), which
    // at sf0.001's ~1000-row half-samples means up to ~5% drift in
    // sparse value regions (measured max 4.5%) — 8% is the 3-sigma
    // bound here; at sf0.01 the same check holds at 3%.
    val approx = SparkEntry.queries("q83_approx_quantiles")(spark, sf)
    val exact = SparkEntry.queries("q59_quantiles")(spark, sf)
    val joined = approx.as("a").join(exact.as("e"), "l_returnflag")
    for (q <- Seq("q25", "q50", "q75", "q99")) {
      val bad = joined.filter(
        abs(col(s"a.$q") - col(s"e.$q")) / col(s"e.$q") > 0.08)
      assert(bad.count() == 0, s"approx $q drifted >8% from exact")
    }
    // the ENGINE-NATIVE production spelling (GK sketch, bounded memory)
    // stays pinned too — tighter, since it sees every row
    val gk = sources.Tables.read(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.99), 10000)").as("qs"))
      .select(col("l_returnflag"),
        element_at(col("qs"), 1).as("q25"), element_at(col("qs"), 2).as("q50"),
        element_at(col("qs"), 3).as("q75"), element_at(col("qs"), 4).as("q99"))
    val j2 = gk.as("a").join(exact.as("e"), "l_returnflag")
    for (q <- Seq("q25", "q50", "q75", "q99")) {
      val bad = j2.filter(
        abs(col(s"a.$q") - col(s"e.$q")) / col(s"e.$q") > 0.01)
      assert(bad.count() == 0, s"GK $q drifted >1% from exact")
    }
  }

  test("ZipRows plan node zips same-lineage frames with no shuffle and no extra job") {
    val li = sources.Tables.read(spark, sf, "lineitem")
    val a = li.select($"l_orderkey", $"l_linenumber")
    val b = li.select(($"l_quantity" * 2).as("q2"), $"l_extendedprice")
    val z = graft.plans.ZipRows.zip(a, b)
    assert(z.columns.toSeq == Seq("l_orderkey", "l_linenumber", "q2", "l_extendedprice"))
    val shuffles = z.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty)
    assert(z.count() == li.count())
    // row-level alignment: zipped q2 really is 2x the same row's quantity
    val joined = graft.plans.ZipRows.zip(
      li.select($"l_orderkey".as("k1"), $"l_quantity"),
      li.select($"l_orderkey".as("k2"), ($"l_quantity" * 2).as("q2")))
    assert(joined.filter($"k1" =!= $"k2" || $"q2" =!= $"l_quantity" * 2)
      .count() == 0)
  }

  test("real image resize: decoded pixels through floor nearest-neighbor") {
    val docs = sources.Tables.read(spark, sf, "documents").limit(40)
    val pngs = Multimodal.synthesizePngs(docs, "doc_id")
    val out = Multimodal.resizeImages(pngs, 16, 16).collect()
    assert(out.length == 40 && out.forall(_.pixels.length == 256))
    // every output pixel equals the synthesized input pixel at the
    // floor-arithmetic source index — real decode + real resample
    out.foreach { r =>
      val wi = 8 + (r.doc_id % 24).toInt
      val hi = 8 + ((r.doc_id / 7) % 24).toInt
      for (y <- 0 until 16; x <- 0 until 16) {
        val expected = ((r.doc_id * 31 + (x * wi / 16) * 7 + (y * hi / 16)) % 256).toInt
        assert((r.pixels(y * 16 + x) & 0xFF) == expected,
          s"doc ${r.doc_id} pixel ($x,$y)")
      }
    }
    // non-image payloads fall back to the deterministic stub
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val fb = Multimodal.resizeImages(media, 8, 6).collect()
      .sortBy(_.doc_id).map(_.pixels.toSeq).toSeq
    val stub = Multimodal.resizeStub(media, 8, 6).collect()
      .sortBy(_.doc_id).map(_.pixels.toSeq).toSeq
    assert(fb == stub)
    // corrupt payload — valid PNG magic, truncated body, where
    // ImageIO.read THROWS rather than returning null — must take the
    // stub fallback, not crash the task
    val png = Multimodal.synthesizePngs(docs.limit(1), "doc_id")
      .collect().head.getAs[Array[Byte]]("content")
    val corrupt = Seq((99L, png.take(20), "image/png"))
      .toDF("doc_id", "content", "fmt")
    val cOut = Multimodal.resizeImages(corrupt, 4, 4).collect()
    assert(cOut.length == 1 && cOut.head.pixels.length == 16)
  }

  test("aHash: decoded-pixel average hash matches the formula replay; junk drops") {
    val docs = sources.Tables.read(spark, sf, "documents").limit(40)
    val out = Multimodal.aHash(Multimodal.synthesizePngs(docs, "doc_id"))
      .collect().sortBy(_.doc_id)
    assert(out.length == 40)
    out.foreach { r =>
      val wi = 8 + (r.doc_id % 24).toInt
      val hi = 8 + ((r.doc_id / 7) % 24).toInt
      val px = Array.tabulate(64) { i =>
        ((r.doc_id * 31 + ((i % 8) * wi / 8) * 7 + ((i / 8) * hi / 8)) % 256).toInt
      }
      val sum = px.map(_.toLong).sum
      var (hb, lb) = (0L, 0L)
      for (i <- 0 until 64 if px(i).toLong * 64 >= sum)
        if (i < 32) lb |= 1L << i else hb |= 1L << (i - 32)
      assert(r.ahash_hi == hb && r.ahash_lo == lb, s"doc ${r.doc_id}")
      // halves are unsigned 32-bit — no sign games in either engine
      assert(r.ahash_hi >= 0 && r.ahash_hi < (1L << 32))
      assert(r.ahash_lo >= 0 && r.ahash_lo < (1L << 32))
    }
    // undecodable payloads drop (dead-letter), never crash or stub
    val junk = Multimodal.asMedia(docs, "doc_id", "text")
    assert(Multimodal.aHash(junk).count() == 0)
  }

  test("knn triangle listing: ordered, edge-closed, matches brute recount") {
    val tri = SparkEntry.queries("q166_knn_triangles")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val knn = operators.Similarity.lshKnnJoin(
      sources.Tables.read(spark, sf, "embeddings"), "vec_id", "embedding", 3)
    val edges = knn.collect()
      .map(r => { val (p, q) = (r.getLong(0), r.getLong(1))
        (math.min(p, q), math.max(p, q)) }).toSet
    tri.foreach { case (a, b, c) =>
      assert(a < b && b < c, s"unordered triangle ($a,$b,$c)")
      assert(edges((a, b)) && edges((b, c)) && edges((a, c)))
    }
    // brute recount over the collected edge set
    val brute = for {
      (a, b) <- edges.toSeq; (b2, c) <- edges.toSeq
      if b2 == b && edges((a, c))
    } yield (a, b, c)
    assert(tri.toSet == brute.toSet && tri.length == brute.length)
  }

  test("gifFrames: real container parse recovers every synthesized frame; junk drops") {
    val docs = sources.Tables.read(spark, sf, "documents").limit(30)
    val out = Multimodal.gifFrames(Multimodal.synthesizeGifs(docs, "doc_id"))
      .collect().groupBy(_.doc_id)
    assert(out.size == 30)
    out.foreach { case (id, frames) =>
      assert(frames.length == 2 + (id % 4).toInt, s"doc $id frame count")
      frames.sortBy(_.frame_idx).zipWithIndex.foreach { case (fr, i) =>
        assert(fr.frame_idx == i && fr.width == 8 && fr.height == 8)
        val want = (for (y <- 0 until 8; x <- 0 until 8)
          yield (id * 31 + i * 11 + x * 7 + y) % 256).sum
        assert(fr.px_sum == want, s"doc $id frame $i pixel sum")
      }
    }
    // non-media payloads drop, never crash
    assert(Multimodal.gifFrames(
      Multimodal.asMedia(docs, "doc_id", "text")).count() == 0)
  }

  test("multimodal resize and frame-sample stubs: shapes, determinism, twin parity") {
    val docs = sources.Tables.read(spark, sf, "documents").limit(40)
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val resized = Multimodal.resizeStub(media, 8, 6).collect()
    assert(resized.forall(r => r.pixels.length == 48))
    val again = Multimodal.resizeStub(media, 8, 6).collect()
    assert(resized.map(_.pixels.toSeq).toSeq == again.map(_.pixels.toSeq).toSeq)

    val frames = Multimodal.frameSampleStub(media, 4).toDF()
      .select($"doc_id", $"frame_idx",
        length(decode($"frame", "UTF-8")).as("frame_chars"),
        md5($"frame").as("frame_md5"))
    val twin = Multimodal.frameColumns(docs, "doc_id", "text", 4)
    assert(frames.exceptAll(twin).count() == 0)
    assert(twin.exceptAll(frames).count() == 0)
  }

  test("typed Aggregators: Welford variance matches var_samp; TopK bounds state") {
    import graft.functions.TypedAggregators
    val li = sources.Tables.read(spark, sf, "lineitem")
    val ds = li.select($"l_quantity").as[Double]
    val welford = ds.select(TypedAggregators.WelfordVariance.toColumn).head()
    val builtin = li.agg(var_samp($"l_quantity")).head().getDouble(0)
    assert(math.abs(welford - builtin) / builtin < 1e-9)

    val top3 = new TypedAggregators.TopK(3)
    val prices = li.select($"l_extendedprice").as[Double]
    val got = prices.select(top3.toColumn).head()
    val expected = prices.orderBy($"l_extendedprice".desc).take(3).toSeq
    assert(got == expected)
  }

  test("dupClusters computes transitive components with min canonicals") {
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (5L, 6L, 0.7))
      .toDF("ida", "idb", "jac")
    val got = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("dupClusters converges on a chain deeper than the iteration budget") {
    // 60-hop path: single-hop propagation needs 60 rounds > maxIter=25,
    // so only the pointer-doubling shortcut reaches the fixpoint — this
    // is the sf0.1 wrong-answer regression pinned as a unit test
    val chain = (0L until 60L).map(i => (i, i + 1, 0.9))
      .toDF("ida", "idb", "jac")
    val got = Dedup.dupClusters(chain).as[(Long, Long)].collect()
    assert(got.length == 61)
    assert(got.forall(_._2 == 0L), "every chain node must reach canonical 0")
  }

  test("trained IVF: kmeans centroids are well-formed and search recalls") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val prep = Similarity.prepare(e, "embedding").select($"vec_id", $"q", $"n2")
    val cent = Similarity.kmeansCentroids(prep, "vec_id", k = 8, iters = 2)
      .collect()
    assert(cent.length <= 8 && cent.nonEmpty)
    assert(cent.forall(_.getAs[Seq[Long]]("cq").length == 64))
    // distinct cent_ids, all positive norms
    assert(cent.map(_.getAs[Int]("cent_id")).distinct.length == cent.length)
    assert(cent.forall(_.getAs[Long]("cn2") > 0L))

    val qids = e.select("vec_id").filter($"vec_id" < 5)
    val ivf = Similarity.ivfTopKTrained(e, qids, "vec_id", "embedding",
      k = 10, nCentroids = 8, iters = 2, nprobe = 2)
    val brute = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 5),
      "vec_id", "embedding", k = 10)
    assert(ivf.groupBy("qid").count().count() == 5)
    val overlap = ivf.select("qid", "vec_id")
      .intersect(brute.select("qid", "vec_id")).count()
    assert(overlap > 0, "nprobe=2 IVF should recall some exact neighbors")
  }

  test("semDedup: keep-set is exactly the lowest-id-free vectors per cell") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val got = Similarity.semDedup(e, "vec_id", "embedding",
      k = 8, iters = 2, threshold = 0.35)
    assert(got.count() == e.count(), "one verdict row per vector")
    // replay the rule from first principles on the same cells
    val prep = Similarity.prepare(e, "embedding").select($"vec_id", $"q", $"n2")
    val cent = Similarity.kmeansCentroids(prep, "vec_id", k = 8, iters = 2)
      .select($"cent_id".as("vec_id"), $"cq".as("q"), $"cn2".as("n2"))
    val cells = Similarity.assignCells(prep, cent, "vec_id")
      .select($"vec_id", $"q", $"n2", $"cent_id")
    val expectedDrops = cells.as("x").join(cells.as("y"),
        col("x.cent_id") === col("y.cent_id") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos", Similarity.cosine(
        Similarity.dotQ("x.q", "y.q"), col("x.n2"), col("y.n2")))
      .filter($"cos" >= 0.35)
      .select(col("y.vec_id")).distinct.as[Long].collect().toSet
    val verdicts = got.select("vec_id", "keep").as[(Long, Int)].collect().toMap
    assert(expectedDrops.nonEmpty, "threshold must actually drop something")
    assert(verdicts.filter(_._2 == 0).keySet == expectedDrops)
  }

  test("LSH dup pairs need no blocking column and only report true dups") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val lsh = Similarity.lshDupPairs(e, "vec_id", "embedding", 0.35)
      .select("ida", "idb")
    // ground truth: all-pairs with a constant blocking key
    val truth = Similarity.cosineDupPairs(
        e.withColumn("blk", lit(1)), "vec_id", "embedding", "blk", 0.35)
      .select("ida", "idb")
    assert(lsh.count() > 0)
    assert(lsh.exceptAll(truth).count() == 0,
      "every LSH-reported pair must be a genuine cosine>=t pair")
  }

  test("simhashPairs chunk banding is EXACT for Hamming <= 3 (pigeonhole)") {
    val docs = sources.Tables.read(spark, sf, "documents").limit(150)
    val banded = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("ida", "idb", "hamming")
    val sh = Dedup.simhashWide(docs, "doc_id", "text", bits = 60)
    val brute = sh.as("x").join(sh.as("y"),
        col("x.doc_id") < col("y.doc_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)"))
      .filter(col("hamming") <= 3)
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"),
        col("hamming"))
    assert(banded.exceptAll(brute).count() == 0)
    assert(brute.exceptAll(banded).count() == 0,
      "banding must not lose any pair within the Hamming bound")
  }

  test("audio decode recovers synthesized WAV samples; non-audio is dropped") {
    val ids = spark.range(30).toDF("doc_id")
    val decoded = Multimodal.decodeAudio(Multimodal.synthesizeWavs(ids, "doc_id"))
      .collect().map(f => f.doc_id -> f).toMap
    assert(decoded.size == 30)
    for (id <- 0L until 30L) {
      val f = decoded(id)
      val n = 256 + (id % 256).toInt
      assert(f.n_samples == n && f.sample_rate == 8000 &&
        f.bits == 8 && f.channels == 1)
      val expectSum = (0 until n).map(i => (id * 17 + i * 5) % 256).sum
      assert(f.sample_sum == expectSum, s"sample checksum for doc $id")
    }
    // non-audio bytes take the dead-letter path (dropped), not a crash
    val junk = Multimodal.asMedia(
      sources.Tables.read(spark, sf, "documents").limit(5), "doc_id", "text")
    assert(Multimodal.decodeAudio(junk).count() == 0)
  }

  test("ImageIO decode recovers synthesized PNG dims and exact pixels") {
    val ids = spark.range(40).toDF("doc_id")
    val decoded = Multimodal.decodeImages(Multimodal.synthesizePngs(ids, "doc_id"))
      .collect().map(f => f.doc_id -> f).toMap
    assert(decoded.size == 40)
    for (id <- 0L until 40L) {
      val f = decoded(id)
      val (w, h) = (8 + (id % 24).toInt, 8 + ((id / 7) % 24).toInt)
      assert(f.width == w && f.height == h && f.channels == 1)
      val expectSum = (for (y <- 0 until h; x <- 0 until w)
        yield (id * 31 + x * 7 + y) % 256).sum
      assert(f.px_sum == expectSum, s"pixel checksum for doc $id")
    }
  }

  test("ImageIODecoder handles JPEG and falls back to stub on junk bytes") {
    // JPEG via the same JDK encoder: dims must survive the round trip
    val img = new java.awt.image.BufferedImage(
      33, 17, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", baos)
    val (w, h, c) = Multimodal.ImageIODecoder.decode(baos.toByteArray)
    assert(w == 33 && h == 17 && c == 3)
    // junk payload: same answer as the declared stub
    val junk = "not an image".getBytes("UTF-8")
    assert(Multimodal.ImageIODecoder.decode(junk) ==
      Multimodal.StubDecoder.decode(junk))
  }

  test("pageRank: cycle is a fixed point; star concentrates; dangling leaks") {
    // 3-cycle, out-degree 1 everywhere: rank = teleport + 85% of rank
    // is the fixed point at exactly the initial scale — every node
    // stays at 1,000,000 through any number of iterations
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val cr = Graph.pageRank(cycle, "src", "dst", iters = 3)
      .as[(String, Long)].collect().toMap
    assert(cr.values.toSet == Set(1000000L))
    // star a->b, c->b: after iter 1 b holds 150000 + 85% of 2,000,000;
    // a and c (no in-edges) drop to bare teleport; b is DANGLING so its
    // mass leaks (simplified formulation) — iter 2 recomputes b from
    // the sources' teleport-only ranks
    val star = Seq(("a", "b"), ("c", "b")).toDF("src", "dst")
    val s1 = Graph.pageRank(star, "src", "dst", iters = 1)
      .as[(String, Long)].collect().toMap
    assert(s1 == Map("a" -> 150000L, "c" -> 150000L, "b" -> 1850000L))
    val s2 = Graph.pageRank(star, "src", "dst", iters = 2)
      .as[(String, Long)].collect().toMap
    assert(s2 == Map("a" -> 150000L, "c" -> 150000L, "b" -> 405000L))
  }

  test("bfsDistances: path graph distances, hop bound respected") {
    // undirected path 1-2-3-4-5-6 from source 1, maxHops 3:
    // nodes 5,6 are beyond the bound and must be absent
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("a", "b")
    val edges = path.select($"a".as("src"), $"b".as("dst"))
      .unionAll(path.select($"b".as("src"), $"a".as("dst")))
    val d = Graph.bfsDistances(edges, "src", "dst", Seq(1L), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("prefix-filter join equals brute force and covers every LSH pair") {
    val docs = sources.Tables.read(spark, sf, "documents")
    val pj = Dedup.prefixJaccardPairs(docs, "doc_id", "text")
      .select("ida", "idb")
    // brute force: every pair, exact shingle-set Jaccard >= 1/2
    val s2 = Dedup.withShingles(docs, "text")
      .select($"doc_id", array_sort(array_distinct($"sh")).as("ss"))
      .filter(size($"ss") > 0)
    val brute = s2.as("x").join(s2.as("y"), $"x.doc_id" < $"y.doc_id")
      .withColumn("inter", size(array_intersect($"x.ss", $"y.ss")))
      .withColumn("uni", size($"x.ss") + size($"y.ss") - $"inter")
      .filter($"inter" * 2 >= $"uni")
      .select($"x.doc_id".as("ida"), $"y.doc_id".as("idb"))
    // prefix filter is EXACT: equality in both directions
    assert(pj.exceptAll(brute).count() == 0, "false positive survived verify")
    assert(brute.exceptAll(pj).count() == 0,
      "prefix filter missed a true pair — exact-recall theorem violated")
    // and it covers everything MinHash-LSH finds (LSH recall <= 1)
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text",
      k = 8, rows = 2, threshold = 0.5).select("ida", "idb")
    assert(lsh.exceptAll(pj).count() == 0)
  }

  test("df-ordered prefixes: identical pairs, never more candidates") {
    val docs = sources.Tables.read(spark, sf, "documents")
    // the pigeonhole theorem holds under any ONE global order, so the
    // verified pair set must be order-invariant...
    val lex = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      dfOrdered = false)
    val dfo = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      dfOrdered = true)
    assert(lex.exceptAll(dfo).count() == 0 && dfo.exceptAll(lex).count() == 0,
      "prefix global order changed the verified pair set")
    // ...while the df order puts each set's rarest elements in the
    // prefix, so the pre-verify candidate set can only shrink
    def cands(ordered: Boolean): Long = Dedup.prefixCandidates(
      Dedup.orderedSets(docs, "doc_id", "text", ordered)
        .withColumn("plen", expr("n - ((n + 1) DIV 2) + 1")),
      "doc_id").count()
    val (cLex, cDf) = (cands(false), cands(true))
    assert(cDf <= cLex,
      s"df ordering grew the candidate set: $cLex -> $cDf")
    // candidates bound the verified pairs in both orders
    assert(cDf >= dfo.count())
  }

  test("containment join is exact: equals brute-force directed containment") {
    val docs = sources.Tables.read(spark, sf, "documents")
    val cj = Dedup.containmentPairs(docs, "doc_id", "text")
      .select("ida", "idb")
    val s2 = Dedup.withShingles(docs, "text")
      .select($"doc_id", array_sort(array_distinct($"sh")).as("ss"))
      .filter(size($"ss") > 0)
    val brute = s2.as("x").join(s2.as("y"), $"x.doc_id" =!= $"y.doc_id")
      .withColumn("inter", size(array_intersect($"x.ss", $"y.ss")))
      .filter($"inter" * 4 >= size($"x.ss") * 3)
      .select($"x.doc_id".as("ida"), $"y.doc_id".as("idb"))
    assert(cj.exceptAll(brute).count() == 0, "false positive")
    assert(brute.exceptAll(cj).count() == 0,
      "one-sided prefix filter missed a containment pair")
  }

  test("scd2History: upserts chain versions, deletes close without reopening") {
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val ev = Seq(
      (1L, "v1", t(0), "base"), (1L, "v2", t(10), "upsert"),
      (2L, "w1", t(0), "base"), (2L, "w1", t(5), "delete"))
      .toDF("k", "payload", "ts", "op")
    val h = Merge.scd2History(ev, "k", "ts")
      .select("k", "payload", "valid_from", "valid_to", "is_current")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect().sortBy(r => (r._1, r._3.getTime))
    // key 1: v1 valid [0, 10), v2 open; adjacent versions must chain
    assert(h.filter(_._1 == 1L).toSeq == Seq(
      (1L, "v1", t(0), Some(t(10)), false),
      (1L, "v2", t(10), None, true)))
    // key 2: the delete closes w1 at t=5 and the key has NO current row
    assert(h.filter(_._1 == 2L).toSeq == Seq(
      (2L, "w1", t(0), Some(t(5)), false)))
  }

  test("lshKnnJoin: well-formed ranks, true cosines, repartition-invariant") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val knn = Similarity.lshKnnJoin(e, "vec_id", "embedding", k = 3)
    val rows = knn.select("qid", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (qid, ns) =>
      val byRank = ns.sortBy(_._3)
      // ranks contiguous from 1, cos non-increasing, no self-neighbor
      assert(byRank.map(_._3).toSeq == (1 to byRank.length))
      val cs = byRank.map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"cos must be non-increasing for $qid")
      assert(ns.forall(_._2 != qid))
    }
    // every reported cosine is the TRUE cosine (spot-check via the
    // exact pair operator on a constant block)
    val truth = Similarity.cosineDupPairs(
        e.withColumn("blk", lit(1)), "vec_id", "embedding", "blk", -1.0)
      .select(col("ida"), col("idb"), col("cos").as("tcos"))
    val joined = knn.join(truth,
      (col("qid") === col("ida") && col("vec_id") === col("idb")) ||
        (col("qid") === col("idb") && col("vec_id") === col("ida")))
    assert(joined.filter(col("cos") =!= col("tcos")).count() == 0)
    // physical layout must not change the answer
    val re = Similarity.lshKnnJoin(
      e.repartition(7), "vec_id", "embedding", k = 3)
    assert(knn.exceptAll(re).count() == 0 && re.exceptAll(knn).count() == 0)
  }

  test("lshKnnJoinMultiprobe: well-formed ranks, per-(qid,rank) cosine " +
      "dominates single-probe (probe 0 is the identity bucket), true " +
      "cosines") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val single = Similarity.lshKnnJoin(e, "vec_id", "embedding", k = 3,
      nBits = 16, bandBits = 4)
    val multi = Similarity.lshKnnJoinMultiprobe(e, "vec_id", "embedding",
      k = 3, nBits = 16, bandBits = 4)
    val m = multi.select("qid", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect()
    assert(m.nonEmpty)
    m.groupBy(_._1).foreach { case (qid, ns) =>
      val byRank = ns.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1 to byRank.length))
      val cs = byRank.map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(ns.forall(_._2 != qid), s"self-neighbor for $qid")
    }
    // DOMINANCE: the multiprobe candidate set per qid is a superset of
    // the single-probe one, so every (qid, rank) the single-probe join
    // reports must exist under multiprobe with a cosine at least as
    // high (adding candidates can only raise each order statistic)
    val sPairs = single.select("qid", "rank", "cos")
      .as[(Long, Int, Double)].collect()
    val mByQ = m.map(t => (t._1, t._3) -> t._4).toMap
    sPairs.foreach { case (q, r, c) =>
      val mc = mByQ.get((q, r))
      assert(mc.isDefined, s"multiprobe lost ($q, rank $r)")
      assert(mc.get >= c - 1e-12,
        s"($q, rank $r): multiprobe ${mc.get} < single-probe $c")
    }
    // and strictly MORE reach somewhere: at spec scale the flipped
    // buckets must surface at least one ranked row single-probe lacks
    assert(m.length >= sPairs.length)
    // every reported cosine is the TRUE cosine
    val truth = Similarity.cosineDupPairs(
        e.withColumn("blk", lit(1)), "vec_id", "embedding", "blk", -1.0)
      .select(col("ida"), col("idb"), col("cos").as("tcos"))
    val joined = multi.join(truth,
      (col("qid") === col("ida") && col("vec_id") === col("idb")) ||
        (col("qid") === col("idb") && col("vec_id") === col("ida")))
    assert(joined.filter(col("cos") =!= col("tcos")).count() == 0)
  }

  test("lshKnnSearch: the query-set slice LAW — search(corpus, Q) is " +
      "row-identical to the self-join restricted to Q, in both probe " +
      "modes; multiprobe search dominates per (qid, rank)") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") % 20 === 0)
    // single-probe: the probe side is row-local per query and the index
    // (corpus banding + cap) is identical, so restricting the query set
    // must not change any answer
    val search = Similarity.lshKnnSearch(e, q, "vec_id", "embedding",
      k = 3, nBits = 16, bandBits = 4)
    val joinSliced = Similarity.lshKnnJoin(e, "vec_id", "embedding",
      k = 3, nBits = 16, bandBits = 4).filter(col("qid") % 20 === 0)
    assert(search.exceptAll(joinSliced).count() == 0 &&
      joinSliced.exceptAll(search).count() == 0)
    // multiprobe: same law against the multiprobe self-join
    val mp = Similarity.lshKnnSearchMultiprobe(e, q, "vec_id",
      "embedding", k = 3, nBits = 16, bandBits = 4)
    val jmpSliced = Similarity.lshKnnJoinMultiprobe(e, "vec_id",
      "embedding", k = 3, nBits = 16, bandBits = 4)
      .filter(col("qid") % 20 === 0)
    assert(mp.exceptAll(jmpSliced).count() == 0 &&
      jmpSliced.exceptAll(mp).count() == 0)
    // and multiprobe search dominates single-probe search per rank
    val sPairs = search.select("qid", "rank", "cos")
      .as[(Long, Int, Double)].collect()
    val mByQ = mp.select("qid", "rank", "cos")
      .as[(Long, Int, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    sPairs.foreach { case (qq, r, c) =>
      assert(mByQ.get((qq, r)).exists(_ >= c - 1e-12),
        s"($qq, rank $r): multiprobe search lost or undercut $c")
    }
  }

  test("hardNegatives: cross-label only, well-formed ranks, true cosines") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val neg = Similarity.hardNegatives(
      e, "vec_id", "embedding", "label", k = 3)
    val labels = e.select($"vec_id", $"label")
      .as[(Long, Int)].collect().toMap
    val rows = neg.select("qid", "vec_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect()
    assert(rows.nonEmpty)
    // every mined negative carries a different label than its anchor
    rows.foreach { case (qid, vid, _, _) =>
      assert(labels(qid) != labels(vid),
        s"$qid -> $vid is a same-label pair — a positive leaked through")
    }
    rows.groupBy(_._1).foreach { case (qid, ns) =>
      val byRank = ns.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1 to byRank.length))
      val cs = byRank.map(_._4)
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      assert(ns.forall(_._2 != qid))
    }
    // negatives are a subset of the label-agnostic kNN candidate space:
    // any (qid, vid) here must also collide in some LSH bucket, which
    // lshKnnJoin with a huge k exposes completely
    val all = Similarity.lshKnnJoin(
        e, "vec_id", "embedding", k = 1000000)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    assert(rows.forall { case (q, v, _, _) => all.contains((q, v)) })
  }

  test("int8 quantization: error bounded by the coarsest dimension step") {
    val out = SparkEntry.queries("q206_embed_quantize")(spark, sf)
      .select("vec_id", "code_sum", "n_sat", "max_err")
      .as[(Long, Long, Long, Long)].collect()
    val e = sources.Tables.read(spark, sf, "embeddings")
    assert(out.length == e.count())
    // widest per-dimension range on the scaled-integer grid bounds the
    // reconstruction error: err <= step = (hi-lo) DIV 255 + 1
    val p = Similarity.prepare(e, "embedding")
      .select(posexplode($"q")).toDF("i", "v")
      .groupBy("i").agg((max($"v") - min($"v")).as("r"))
      .agg(max($"r")).as[Long].head()
    val bound = p / 255 + 1
    out.foreach { case (id, cs, ns, err) =>
      assert(err >= 0 && err <= bound,
        s"vec $id max_err $err exceeds the step bound $bound")
      assert(cs >= 0 && ns >= 0)
    }
    // each dimension's extreme vectors saturate, so saturation exists
    assert(out.map(_._3).sum > 0)
  }

  test("pqEncode: valid codes, Lloyd training never increases distortion") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    def enc(iters: Int) = Similarity.pqEncode(
      e, "vec_id", "embedding", m = 4, k = 4, iters = iters, subLen = 16)
    val trained = enc(2)
      .select("vec_id", "code0", "code1", "code2", "code3", "qerr")
      .as[(Long, Int, Int, Int, Int, Long)].collect()
    assert(trained.length == e.count())
    trained.foreach { case (id, c0, c1, c2, c3, err) =>
      assert(Seq(c0, c1, c2, c3).forall(c => c >= 1 && c <= 4),
        s"vec $id has a code outside the k=4 codebook")
      assert(err >= 0)
    }
    // the codebook is actually used: more than one code per subspace
    assert(trained.map(_._2).distinct.length > 1)
    // Lloyd iterations only ever lower (or hold) total distortion
    val untrained = enc(0).agg(sum($"qerr")).as[Long].head()
    val after = trained.map(_._6).sum
    assert(after <= untrained,
      s"training raised distortion: $untrained -> $after")
  }

  test("pqAdcTopK: well-formed ranks, adc monotone, repartition-invariant") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    def run(src: org.apache.spark.sql.DataFrame) = Similarity.pqAdcTopK(
      src, src.filter($"vec_id" < 5), "vec_id", "embedding",
      m = 4, k = 4, iters = 2, subLen = 16, topK = 5)
    val out = run(e)
    val rows = out.select("qid", "vec_id", "rank", "adc")
      .as[(Long, Long, Int, Long)].collect()
    assert(rows.map(_._1).distinct.length == 5)
    rows.groupBy(_._1).foreach { case (qid, ns) =>
      val byRank = ns.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1 to 5))
      val ds = byRank.map(_._4)
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b },
        s"adc must be non-decreasing for query $qid")
      assert(ns.forall(r => r._2 != qid && r._4 >= 0))
    }
    // physical layout must not change codebooks, codes, or ranking
    val re = run(e.repartition(7))
    assert(out.exceptAll(re).count() == 0 && re.exceptAll(out).count() == 0)
  }

  test("PQ geometry gates: wrong m/subLen fails loudly, never silently") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    // mismatched codebook geometry is rejected at execution (the gate
    // is lazy on purpose: plan construction must stay job-free)
    Similarity.writePqCodebook(e, "vec_id", "embedding",
      m = 8, k = 4, iters = 1, subLen = 8, "pq_geom_spec")
    val geom = intercept[Exception] {
      Similarity.pqEncodeAgainst(e, "vec_id", "embedding",
        m = 4, subLen = 16, "pq_geom_spec").collect()
    }
    assert(geom.getMessage != null)
    // a vector whose dim != m*subLen raises at execution instead of
    // silently truncating into garbage codes
    val err = intercept[Exception] {
      Similarity.pqEncode(e, "vec_id", "embedding",
        m = 4, k = 4, iters = 1, subLen = 8).collect()
    }
    assert(err.getMessage != null)
  }

  test("q164 BM25 overflow guard: fires past 2^63, silent inside it") {
    // synthetic stats frame — the factored bm25Scored takes
    // (tf, dl, n, sumdl, df) directly, so the 2e16-token corpus the
    // bound describes needs no data, just numbers (VERDICT r12 #2)
    def stats(tf: Long, dl: Long, n: Long, sumdl: Long, df: Long) =
      Seq((tf, dl, n, sumdl, df)).toDF("tf", "dl", "n", "sumdl", "df")
    // inside the bound: score equals the plain double formula
    val ok = graft.queries.Curation.bm25Scored(
      stats(tf = 3, dl = 100, n = 1000, sumdl = 100000, df = 10))
      .select("score").as[Double].head()
    val expect = (44.0 * 3 * 100000 * 1001) /
      ((20.0 * 3 * 100000 + 6.0 * 100000 + 18.0 * 100 * 1000) * 11)
    assert(math.abs(ok - expect) < 1e-12)
    // past the bound: 44*tf*sumdl*(N+1) > 2^63 (tf=20, sumdl=1e13,
    // n=1e7 -> ~8.8e22) must raise the guard, not wrap silently
    val err = intercept[Exception] {
      graft.queries.Curation.bm25Scored(
        stats(tf = 20, dl = 1000, n = 10000000L,
          sumdl = 10000000000000L, df = 10)).collect()
    }
    assert(String.valueOf(err.getMessage)
        .contains("q164 BM25 BIGINT overflow") ||
      Option(err.getCause).exists(c => String.valueOf(c.getMessage)
        .contains("q164 BM25 BIGINT overflow")),
      s"wrong failure: ${err.getMessage}")
    // denominator twin: huge dl*n*(df+1) with a small numerator
    val err2 = intercept[Exception] {
      graft.queries.Curation.bm25Scored(
        stats(tf = 1, dl = 100000000000L, n = 100000000L,
          sumdl = 1000, df = 1000000)).collect()
    }
    assert(String.valueOf(err2.getMessage)
        .contains("q164 BM25 BIGINT overflow") ||
      Option(err2.getCause).exists(c => String.valueOf(c.getMessage)
        .contains("q164 BM25 BIGINT overflow")))
  }

  test("incremental PQ: persisted codebook encodes only the batch, stably") {
    val out = SparkEntry.queries("q214_incr_pq_encode")(spark, sf)
    val ids = out.select("vec_id").as[Long].collect()
    // exactly the batch split, nothing from history
    assert(ids.nonEmpty && ids.forall(_ % 4 == 3))
    val codes = out.select("code0", "code7").as[(Int, Int)].collect()
    assert(codes.forall { case (a, b) =>
      a >= 1 && a <= 8 && b >= 1 && b <= 8 })
    // the persisted-table round trip is deterministic: a rerun (which
    // rewrites the codebook) reproduces identical codes and errors.
    // Collect BEFORE rerunning — the frame lazily re-reads the table,
    // and the rerun overwrites it.
    def snap(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val first = snap(out)
    val again = snap(SparkEntry.queries("q214_incr_pq_encode")(spark, sf))
    assert(first == again, "persisted-codebook encode is nondeterministic")
  }

  test("shard manifest: a one-row mutation moves exactly its shard") {
    val d = sources.Tables.read(spark, sf, "documents")
    val base = graft.queries.Fingerprints.manifest(d)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val mutated = graft.queries.Fingerprints.manifest(
      d.withColumn("text",
        when($"doc_id" === 7L, concat($"text", lit(" corrupted")))
          .otherwise($"text")))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(base.keySet == mutated.keySet)
    val changed = base.keySet.filter(k => base(k) != mutated(k))
    assert(changed == Set(7L / 50),
      s"only doc 7's shard may change, got $changed")
    // row counts never move on a content-only mutation
    assert(base.forall { case (k, (n, _, _)) => mutated(k)._1 == n })
  }

  test("prune audit: zone maps never lie, clustering is what makes them cut") {
    val out = SparkEntry.queries("q215_prune_audit")(spark, sf)
      .select("layout", "can_skip", "n_match", "n_rows")
      .as[(String, Boolean, Long, Long)].collect()
    // a skippable shard must contain zero matching rows — a zone map
    // that lies would mean the reader silently drops data
    out.filter(_._2).foreach { case (l, _, nMatch, _) =>
      assert(nMatch == 0, s"$l shard marked skippable but has matches")
    }
    // both layouts hold the same table: identical total matches
    val byLayout = out.groupBy(_._1)
    val totals = byLayout.map { case (l, rs) => l -> rs.map(_._3).sum }
    assert(totals("keyrange") == totals("month") && totals("month") > 0)
    // the measured argument: random arrival order skips nothing, the
    // date-clustered layout skips almost everything
    def skips(l: String) = byLayout(l).count(_._2)
    assert(skips("keyrange") == 0)
    assert(skips("month") > byLayout("month").length / 2)
  }

  test("video dup pairs equal brute-force frame-set overlap, completely") {
    val frames = SparkEntry.queries("q184_gif_frames")(spark, sf)
    val sets = frames.select($"doc_id", $"px_sum").distinct()
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val out = SparkEntry.queries("q216_video_dup")(spark, sf)
      .select("ida", "idb", "shared", "overlap_ppm")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (a, b, sh, ppm) =>
      val inter = (sets(a) & sets(b)).size
      assert(a < b && sh == inter && sh >= 2,
        s"pair ($a,$b) reported $sh shared, true $inter")
      assert(ppm == sh * 1000000L / math.min(sets(a).size, sets(b).size))
    }
    // completeness: the equi-join blocking missed no qualifying pair
    val found = out.map(r => (r._1, r._2)).toSet
    val ids = sets.keys.toSeq.sorted
    val missed = for {
      i <- ids; j <- ids
      if i < j && (sets(i) & sets(j)).size >= 2 && !found((i, j))
    } yield (i, j)
    assert(missed.isEmpty, s"missed pairs: ${missed.take(5)}")
  }

  test("mixture apply: draws recount exactly from an independent md5") {
    val out = SparkEntry.queries("q217_mixture_apply")(spark, sf)
      .select("source", "n_toks", "target_toks", "p_ppm", "n_kept")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // keep rate is exactly the declared arithmetic
    out.values.foreach { case (src, nToks, target, pPpm, _) =>
      assert(pPpm == math.min(1000000L, target * 1000000L / nToks), src)
    }
    // recount every source's kept docs with a JVM-side md5 — the draw
    // must be a pure function of doc_id, not of Spark's evaluation
    val md = java.security.MessageDigest.getInstance("MD5")
    def hash16(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 4), 16)
    }
    val perDoc = sources.Tables.read(spark, sf, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val recount = perDoc.groupBy(_._2).map { case (src, docs) =>
      src -> docs.count { case (id, _) =>
        hash16(id) * 1000000L < out(src)._4 * 65536L }.toLong
    }
    recount.foreach { case (src, n) =>
      assert(out(src)._5 == n,
        s"$src: engine kept ${out(src)._5}, independent md5 says $n")
    }
  }

  test("boolean retrieval: AND semantics exact against array_contains") {
    val hits = SparkEntry.queries("q208_boolean_retrieval")(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    val terms = Seq("vector", "merge", "stream")
    val direct = sources.Tables.read(spark, sf, "documents")
      .withColumn("t", expr(functions.TextExpr.toksSpark("text")))
      .filter(terms.map(t => array_contains($"t", t)).reduce(_ && _))
      .select("doc_id").as[Long].collect().toSet
    assert(hits == direct)
    assert(hits.nonEmpty && hits.size < spark.read
      .parquet(s"$sf/documents.parquet").count())
  }

  test("length batches: every batch fits the token budget exactly") {
    val out = SparkEntry.queries("q209_length_batches")(spark, sf)
      .select("cap_len", "batch", "n_docs", "tok_sum", "pad_waste")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (cap, _, nDocs, tokSum, waste) =>
      // power-of-two class caps
      assert((cap & (cap - 1)) == 0 && cap > 0)
      // padded batch shape within the 256-token budget (cap > budget
      // degenerates to one doc per batch)
      assert(nDocs * cap <= math.max(256L, cap),
        s"batch of $nDocs docs at cap $cap exceeds the budget")
      assert(waste == cap * nDocs - tokSum && waste >= 0)
      // every doc really fits its class: tok_sum <= cap * n_docs and
      // the class below would not hold the longest doc
      assert(tokSum <= cap * nDocs)
    }
  }

  test("leakage-safe split never places a near-dup pair across the split") {
    val split = SparkEntry.queries("q149_leakage_safe_split")(spark, sf)
      .select($"doc_id", $"split")
    val pairs = Dedup.minhashPairs(
      sources.Tables.read(spark, sf, "documents"), "doc_id", "text",
      k = 8, rows = 2, threshold = 0.5)
    val crossed = pairs
      .join(split.select($"doc_id".as("ida"), $"split".as("sa")), "ida")
      .join(split.select($"doc_id".as("idb"), $"split".as("sb")), "idb")
      .filter($"sa" =!= $"sb")
    assert(crossed.count() == 0,
      "a near-dup pair crossing train/test is test-set leakage")
    // and the plain per-doc split (q76's machinery keyed on doc_id)
    // DOES leak on this corpus — the hazard q149 exists to remove
    val naive = Sampling.hashSplit(
      sources.Tables.read(spark, sf, "documents"), "doc_id", 13)
      .select($"doc_id", $"split")
    val naiveCrossed = pairs
      .join(naive.select($"doc_id".as("ida"), $"split".as("sa")), "ida")
      .join(naive.select($"doc_id".as("idb"), $"split".as("sb")), "idb")
      .filter($"sa" =!= $"sb")
    assert(naiveCrossed.count() > 0,
      "corpus regression: naive split no longer demonstrates leakage")
  }

  test("weightedHashSample: zero weight never kept, >=cap always, monotone-ish") {
    val df = spark.range(2000).toDF("id")
      .withColumn("w", col("id") % 4 * 200) // weights 0, 200, 400, 600
    val kept = Sampling.weightedHashSample(df, "id", "w", wCap = 600)
      .groupBy("w").count().as[(Long, Long)].collect().toMap
    assert(!kept.contains(0L), "weight 0 must never be sampled")
    assert(kept(600L) == 500L, "weight >= cap must always be kept")
    // 200 -> 1/3 of 500, 400 -> 2/3 of 500, both within a loose band
    assert(kept(200L) > 100 && kept(200L) < 235)
    assert(kept(400L) > 265 && kept(400L) < 400)
    assert(kept(200L) < kept(400L))
    // pure function of the id: layout-invariant
    val re = Sampling.weightedHashSample(df.repartition(13), "id", "w", 600)
    assert(re.count() == kept.values.sum)
  }

  test("winnowing: a shared >= w+2 gram run is always detected; disjoint is not") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"one two three $shared four five six seven eight nine ten"),
      (2L, s"red green blue $shared cyan magenta yellow black white grey"),
      (3L, "totally different words that overlap with nothing else here " +
        "at all in any way shape or form whatsoever today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(docs, "doc_id", "text",
        w = 4, minShared = 1)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)),
      "winnowing guarantee: 8-gram shared run must collide")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "doc 3 shares no substring — no fingerprint may collide")
    // fingerprints are a pure function of the text: layout-invariant
    val re = Dedup.winnowingPairs(docs.repartition(7), "doc_id", "text",
      w = 4, minShared = 1).count()
    assert(re == Dedup.winnowingPairs(docs, "doc_id", "text",
      w = 4, minShared = 1).count())
  }

  test("graft_winnow equals the declarative window-min replay (incl. short docs)") {
    // r11: winnowingFingerprints moved to the fused WinnowExpr because
    // the declarative spelling re-evaluated the gram hashes per window
    // once pushed-down predicates inlined the alias chain (the q219
    // sf1 stall — see WinnowExpr's scaladoc for the mechanism). This
    // pins that the fused pass IS the old semantics, on real corpus
    // text plus the short-doc (< w grams, < 3 tokens, empty) edges.
    graft.functions.TextNative.register(spark)
    val docs = sources.Tables.read(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (900001L, "two words"), (900002L, "three brisk words"),
        (900003L, "a b c d"), (900004L, ""), (900005L, "one"))
        .toDF("doc_id", "text"))
    val fused = docs.select(col("doc_id"),
      expr("graft_winnow(text, 4)").as("fps"))
    val declared = docs
      .withColumn("toks", expr("graft_tokens(text)"))
      .withColumn("gh", expr(
        "transform(CASE WHEN size(toks) >= 3 THEN transform(" +
          "sequence(1, size(toks) - 2), i -> concat_ws(' ', " +
          "element_at(toks, i), element_at(toks, i+1), " +
          "element_at(toks, i+2))) ELSE toks END, x -> md5(x))"))
      .withColumn("fps", expr(
        """array_distinct(CASE
          | WHEN size(gh) >= 4 THEN transform(
          |   sequence(1, size(gh) - 3),
          |   i -> array_min(slice(gh, i, 4)))
          | WHEN size(gh) > 0 THEN array(array_min(gh))
          | ELSE array() END)""".stripMargin))
      .select(col("doc_id"), col("fps"))
    assert(fused.exceptAll(declared).count() == 0 &&
      declared.exceptAll(fused).count() == 0,
      "fused winnow must equal the declarative replay exactly")
  }

  test("graft_shingles and graft_simhash equal their declarative replays") {
    // r11: withShingles and simhash/simhashWide moved to fused native
    // expressions (interpreted HOF dispatch / the token-row explode
    // shuffle — see ShinglesExpr/SimHashExpr docs for the mechanisms).
    // Pin both against the TextExpr spec spellings on corpus text plus
    // the short-doc / zero-token edges.
    graft.functions.TextNative.register(spark)
    val docs = sources.Tables.read(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq(
        (910001L, "two words"), (910002L, "exactly three tokens"),
        (910003L, ""), (910004L, "one"), (910005L, "...!!!"))
        .toDF("doc_id", "text"))
    val shCmp = docs.select(
      expr("graft_shingles(text)").as("nat"),
      expr(graft.functions.TextExpr.shinglesSpark(
        graft.functions.TextExpr.toksSpark("text"))).as("dec"))
    assert(shCmp.filter(not(col("nat") <=> col("dec"))).count() == 0,
      "fused shingles must equal the declarative replay")
    // simhash: fused per-doc pass vs the explode+groupBy aggregation
    // (zero-token docs: no row either way — fused filters its NULLs)
    for (bits <- Seq(32, 60)) {
      val fused = graft.operators.Dedup.simhashWide(
        docs, "doc_id", "text", bits)
      val tok = docs
        .withColumn("toks", expr("graft_tokens(text)"))
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .withColumn("h", md5(col("tok")))
      val nib = (0 until bits / 4).foldLeft(tok)((d, kk) =>
        d.withColumn(s"n$kk",
          expr(graft.functions.TextExpr.nibbleSpark("h", kk))))
      val declared = nib.groupBy(col("doc_id"))
        .agg(expr(graft.functions.TextExpr.simhashBits(bits)(j =>
          s"SUM(${graft.functions.TextExpr.bitSignSpark(j)})"))
          .as("simhash"))
      assert(fused.exceptAll(declared).count() == 0 &&
        declared.exceptAll(fused).count() == 0,
        s"fused simhash bits=$bits must equal the declarative replay")
    }
  }

  test("BPE apply: rank order, overlap, cascade edges; q268/q269 internal laws") {
    import graft.functions.TextNative.bpeApply
    // rank order matters: the earlier merge claims its characters
    assert(bpeApply("abc", Array("bc", "ab")).toSeq == Seq("a", "bc"))
    assert(bpeApply("abc", Array("ab", "bc")).toSeq == Seq("ab", "c"))
    // left-to-right single pass: the merged token is consumed, so the
    // overlapping second occurrence cannot fire
    assert(bpeApply("aaa", Array("aa")).toSeq == Seq("aa", "a"))
    assert(bpeApply("aaaa", Array("aa")).toSeq == Seq("aa", "aa"))
    // a LATER multi-char merge can fuse an earlier merge's output
    assert(bpeApply("abc", Array("ab", "abc")).toSeq == Seq("abc"))
    // no merges / 1-char word degenerate cases
    assert(bpeApply("x", Array("xy")).toSeq == Seq("x"))
    assert(bpeApply("xy", Array.empty[String]).toSeq == Seq("x", "y"))

    // q268: pieces reassemble the word; the expression output equals an
    // independent JVM replay driven by q203's (gate-green) merge order
    val seg = SparkEntry.queries("q268_bpe_vocab")(spark, sf)
      .select("w", "f", "bpe", "n_bpe").collect()
    assert(seg.nonEmpty)
    seg.foreach { r =>
      val pieces = r.getString(2).split("\\|").toSeq
      assert(pieces.mkString("") == r.getString(0),
        s"pieces must reassemble the word: $r")
      assert(pieces.length.toLong == r.getLong(3))
    }
    val merges = SparkEntry.queries("q203_bpe_merges")(spark, sf)
      .orderBy(col("cnt").desc, col("pair")).select("pair")
      .collect().map(_.getString(0))
    seg.foreach { r =>
      assert(bpeApply(r.getString(0), merges).mkString("|") ==
        r.getString(2), s"expression vs JVM replay drift on ${r.getString(0)}")
    }

    // q269: every word is >= 1 piece and <= its length in pieces, and
    // the ppm column is exactly the integer ratio of the other two
    val doc = SparkEntry.queries("q269_bpe_doc_tokens")(spark, sf).collect()
    assert(doc.nonEmpty)
    doc.foreach { r =>
      val (nw, nb, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nb >= nw && ppm == nb * 1000000L / nw, s"q269 law broken: $r")
    }
  }

  test("q270 iterative BPE training equals an independent JVM trainer; " +
    "counts non-increasing; multi-char merges reachable") {
    import graft.functions.TextNative.bpeApply

    // Independent imperative trainer: same pinned semantics (pairs
    // keyed by concatenation, argmax (cnt desc, pair asc), bpeApply's
    // one-pass fuse), written against plain Scala collections.
    def refTrain(freq: Map[String, Long], k: Int): Seq[(Long, String, Long)] = {
      var segs: Map[String, Array[String]] =
        freq.keys.map(w => w -> w.map(String.valueOf(_)).toArray).toMap
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
      var r = 1
      while (r <= k) {
        val cnt = scala.collection.mutable.Map[String, Long]()
        for ((w, f) <- freq; s = segs(w); i <- 0 until s.length - 1)
          cnt(s(i) + s(i + 1)) = cnt.getOrElse(s(i) + s(i + 1), 0L) + f
        if (cnt.isEmpty) r = k + 1
        else {
          val (mg, c) = cnt.toSeq.minBy { case (p, c) => (-c, p) }
          out += ((r.toLong, mg, c))
          segs = segs.map { case (w, s) => w -> fuseOnce(s, mg) }
          r += 1
        }
      }
      out.toSeq
    }
    def fuseOnce(s: Array[String], mg: String): Array[String] = {
      val b = Array.newBuilder[String]; var i = 0
      while (i < s.length) {
        if (i + 1 < s.length && s(i) + s(i + 1) == mg) { b += mg; i += 2 }
        else { b += s(i); i += 1 }
      }
      b.result()
    }

    // Tiny synthetic vocab where the interesting behaviors are forced:
    // round 2 must fuse round 1's output ("ab"+"c"), and the tie at
    // cnt=5 must break lexicographically.
    import spark.implicits._
    val tiny = Seq(("abc", 5L), ("abd", 3L), ("xyc", 5L), ("cab", 2L))
      .toDF("w", "f")
    val tinyGot = graft.operators.TextAnalysis.bpeTrain(tiny, 4)
      .orderBy("rk").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tinyWant = refTrain(Map("abc" -> 5L, "abd" -> 3L, "xyc" -> 5L, "cab" -> 2L), 4)
    assert(tinyGot.toSeq == tinyWant, s"tiny vocab: $tinyGot vs $tinyWant")

    // Real corpus: the registered query equals the reference trainer on
    // the identical (w, f) vocabulary, and the laws hold.
    val vocab = graft.operators.TextAnalysis
      .withTokens(graft.sources.Tables.read(spark, sf, "documents"), "text")
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q270_bpe_train")(spark, sf)
      .orderBy("rk").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == refTrain(vocab, got.length),
      "engine training drifted from the independent JVM trainer")
    // merge counts non-increasing (greedy argmax law)
    (1 until got.length).foreach { i =>
      assert(got(i - 1)._3 >= got(i)._3,
        s"counts must be non-increasing: ${got(i - 1)} then ${got(i)}")
    }
    assert(got.map(_._2).distinct.length == got.length, "merges must be distinct")
    // applying the learned merges never increases piece count, and the
    // reported cnt at round r is the pair count over the r-1 segmentation
    val merges = got.map(_._2)
    vocab.keys.filter(_.length >= 2).take(50).foreach { w =>
      assert(bpeApply(w, merges).length <= w.length)
    }
  }

  test("q271 Kneser-Ney equals an independent JVM replay; terms bounded") {
    // Re-derive the bigram statistics in plain Scala collections from
    // the corpus token stream and recompute every output row's pinned
    // integer formula independently of both Spark and the oracle.
    val toks = graft.operators.TextAnalysis
      .withTokens(graft.sources.Tables.read(spark, sf, "documents"), "text")
      .select("toks").collect().map(_.getSeq[String](0))
    val cab = scala.collection.mutable.Map[(String, String), Long]()
    toks.foreach { t =>
      t.sliding(2).filter(_.length == 2).foreach { p =>
        cab((p(0), p(1))) = cab.getOrElse((p(0), p(1)), 0L) + 1
      }
    }
    val cA = cab.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val n1pA = cab.groupBy(_._1._1).map { case (a, m) => a -> m.size.toLong }
    val n1pB = cab.groupBy(_._1._2).map { case (b, m) => b -> m.size.toLong }
    val nTypes = cab.size.toLong
    def pkn(a: String, b: String): Long = {
      val contPpm = n1pB(b) * 1000000L / nTypes
      (4 * cab((a, b)) - 3) * 1000000L / (4 * cA(a)) +
        3 * n1pA(a) * contPpm / (4 * cA(a))
    }
    val out = SparkEntry.queries("q271_kneser_ney")(spark, sf)
      .select("a", "b", "c_ab", "pkn_ppm").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, b, c, p) = (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
      assert(c == cab((a, b)), s"c_ab drift on ($a,$b)")
      assert(p == pkn(a, b), s"pkn drift on ($a,$b): $p vs ${pkn(a, b)}")
      assert(p >= 1 && p < 1000000L, s"pkn out of range: $r")
    }
    // every observed bigram survives the support floor iff c_ab >= 3
    assert(out.length == cab.count(_._2 >= 3),
      "support floor must keep exactly the c_ab >= 3 bigrams")
  }

  test("q274 Naive Bayes equals an independent JVM classifier replay") {
    // Train + score the multinomial NB in plain Scala collections with
    // the identical pinned semantics (Laplace smoothing, whole-bit
    // floor-log2 cascade, argmax ties -> smaller language) and compare
    // the confusion matrix cell-for-cell.
    def log2floor(ppm: Long): Long =
      (19 to 0 by -1).find(k => ppm >= (1L << k)).getOrElse(0).toLong
    val dd = graft.operators.TextAnalysis
      .withTokens(graft.sources.Tables.read(spark, sf, "documents"), "text")
      .select("doc_id", "lang", "toks")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2)))
    val train = dd.filter(_._1 % 5 != 0)
    val test = dd.filter(_._1 % 5 == 0)
    val tokc = scala.collection.mutable.Map[(String, String), Long]()
    train.foreach { case (_, l, ts) =>
      ts.foreach(t => tokc((l, t)) = tokc.getOrElse((l, t), 0L) + 1)
    }
    val labt = tokc.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    val v = tokc.keys.map(_._2).toSet.size.toLong
    val ndt = train.length.toLong
    val pl2 = train.groupBy(_._2).map { case (l, ds) =>
      l -> log2floor(ds.length * 1000000L / ndt)
    }
    val langs = labt.keys.toSeq.sorted
    val want = scala.collection.mutable.Map[(String, String), Long]()
    test.filter(_._3.nonEmpty).foreach { case (_, label, ts) =>
      val pred = langs.map { l =>
        val bits = ts.map(t => log2floor(
          (tokc.getOrElse((l, t), 0L) + 1) * 1000000L / (labt(l) + v))).sum
        (l, bits + pl2(l))
      }.minBy { case (l, s) => (-s, l) }._1
      want((label, pred)) = want.getOrElse((label, pred), 0L) + 1
    }
    val got = SparkEntry.queries("q274_naive_bayes")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want.toMap,
      s"confusion matrix drift: engine $got vs JVM replay $want")
    // structural law: cells count every test doc with >= 1 token
    assert(got.values.sum == test.count(_._3.nonEmpty))
  }

  test("q275 Apriori laws: downward closure and support monotonicity vs q230") {
    // Every reported triple's three sub-pairs must be frequent pairs
    // (downward closure — the prune that makes Apriori scale), and a
    // triple's support can never exceed any sub-pair's support
    // (anti-monotonicity of support).
    val pairs = SparkEntry.queries("q230_basket_rules")(spark, sf)
      .select("a", "b", "n_ab").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val triples = SparkEntry.queries("q275_apriori_triples")(spark, sf)
      .select("a", "b", "c", "n_abc", "conf_ab_c_ppm").collect()
    assert(triples.nonEmpty)
    triples.foreach { r =>
      val (a, b, c, n) = (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))
      for (sub <- Seq((a, b), (a, c), (b, c))) {
        assert(pairs.contains(sub), s"sub-pair $sub of ($a,$b,$c) not frequent")
        assert(n <= pairs(sub),
          s"triple support $n exceeds sub-pair ${pairs(sub)} for $sub")
      }
      // confidence is exactly n_abc ppm of the (a,b) pair count
      assert(r.getLong(4) == n * 1000000L / pairs((a, b)))
    }
  }

  test("DSIR scoring ranks the target domain above every other language") {
    import spark.implicits._
    val out = SparkEntry.queries("q223_dsir_score")(spark, sf)
    val byLang = out
      .join(sources.Tables.read(spark, sf, "documents")
        .select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(avg("spt_ppm").as("m"))
      .as[(String, Double)].collect().toMap
    val others = byLang.filter(_._1 != "en").values
    assert(others.nonEmpty && byLang.contains("en"))
    assert(others.forall(_ < byLang("en")),
      s"target-domain (en) docs must outscore every other language: $byLang")
  }

  test("MMR rerank: pick 1 is the relevance argmax; later picks pay the penalty") {
    import spark.implicits._
    val e = sources.Tables.read(spark, sf, "embeddings")
    val qs = e.filter(col("vec_id") < 5)
    val mmr = Similarity.mmrRerank(e, qs, "vec_id", "embedding",
      poolK = 10, selectK = 3, lam10 = 7)
    val top = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 1)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toMap
    val sel1 = mmr.filter($"sel_rank" === 1)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toMap
    assert(sel1 == top, "with an empty selected set MMR is pure relevance")
    // every query selects exactly selectK distinct results
    val counts = mmr.groupBy("qid").count().as[(Long, Long)].collect()
    assert(counts.forall(_._2 == 3))
    val distinctSel = mmr.select("qid", "vec_id").distinct().count()
    assert(distinctSel == counts.length * 3)
    // the greedy objective never increases along the chain: pick k's
    // obj10 <= pick (k-1)'s (a later pick had strictly fewer options
    // and at least as much penalty)
    val objs = mmr.select($"qid", $"sel_rank", $"obj10")
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).values
    objs.foreach { ch =>
      val sorted = ch.sortBy(_._2).map(_._3)
      assert(sorted.sliding(2).forall(p => p(0) >= p(1)),
        s"objective must be non-increasing: ${sorted.mkString(",")}")
    }
  }

  test("LSH tuning audit: stricter bands shrink candidates, never grow recall") {
    import spark.implicits._
    val out = SparkEntry.queries("q221_lsh_tuning")(spark, sf)
      .orderBy("band_rows")
      .select("band_rows", "n_cand", "n_hit", "n_truth")
      .as[(Int, Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(1, 2, 4))
    // a (b, r) candidate pair also collides under any finer split of
    // the same signature: candidates and hits are monotone in r
    assert(out.sliding(2).forall { case Array(a, b) =>
      a._2 >= b._2 && a._3 >= b._3 })
    // truth is config-independent
    assert(out.map(_._4).distinct.length == 1)
    // hits can never exceed either side
    out.foreach { r => assert(r._3 <= r._2 && r._3 <= r._4) }
  }

  test("JL projection preserves norms in expectation (ratio concentrates at 1e6)") {
    import spark.implicits._
    val out = SparkEntry.queries("q220_jl_project")(spark, sf)
    val ratios = out.select("jl_n2_ppm").as[Long].collect()
    assert(ratios.length > 0)
    val mean = ratios.sum / ratios.length
    // Rademacher JL: E[|Px|^2] = 16|x|^2 exactly; with 16 output dims
    // the per-vector ratio is noisy but the corpus mean is tight
    assert(mean > 900000 && mean < 1100000,
      s"mean norm-preservation ratio $mean ppm is off the JL guarantee")
    // no degenerate rows: every projection carries signal
    assert(ratios.count(_ == 0L) == 0)
  }

  test("gopherRules: each rule rejects its crafted violator, keep is the AND") {
    import spark.implicits._
    val docs = Seq(
      (1L, ("the quick brown fox jumped over lazy dogs again and then " +
        "some more words follow here to pass every single quality gate " +
        "easily without tripping any rule at all today") ),
      (2L, "the tiny doc"),                          // fails len only
      (3L, "the " + Seq.fill(30)("aa bb").mkString(" ")), // mean len < 3
      (4L, ("the " + (1 to 40).map(_.toString).mkString(" "))), // digits: alpha
      (5L, Seq.fill(40)("spark rocks").mkString(" ")), // no stopword + rep
      (6L, "the " + Seq.fill(40)("same gram").mkString(" ")) // repetition
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("len_ok", "mean_len_ok", "alpha_ok", "stop_ok", "rep_ok", "keep")
      .as[(Int, Int, Int, Int, Int, Int)].collect()
    assert(out(0) == ((1, 1, 1, 1, 1, 1)), s"clean doc: ${out(0)}")
    assert(out(1)._1 == 0 && out(1)._6 == 0, "short doc fails len")
    assert(out(2)._2 == 0, "2-char tokens fail mean length")
    assert(out(3)._3 == 0, "digit-run tokens fail alpha fraction")
    assert(out(4)._4 == 0 && out(4)._5 == 0, "no stopword + template spam")
    assert(out(5)._5 == 0 && out(5)._4 == 1, "repetition alone rejects")
    // keep is exactly the conjunction on every row
    out.foreach { r =>
      assert(r._6 == r._1 * r._2 * r._3 * r._4 * r._5) }
  }

  test("LSH bucket cap: identity under cap, exact modulo rule, capped incremental law") {
    import spark.implicits._
    val e = sources.Tables.read(spark, sf, "embeddings")

    // 1) IDENTITY law: at spec scale no bucket reaches the default cap,
    // so the capped default must equal an explicitly uncapped run.
    val capped = Similarity.lshKnnJoin(e, "vec_id", "embedding", k = 3)
    val open = Similarity.lshKnnJoin(e, "vec_id", "embedding", k = 3,
      bucketCap = Int.MaxValue)
    assert(capped.exceptAll(open).count() == 0 &&
      open.exceptAll(capped).count() == 0)

    // 2) the keep rule itself (and that cap=3 is ACTIVE on this data,
    // without which (3) proves nothing) is pinned by the shared
    // "bucket-cap keep rule: Banded.truncate replays BucketCap.keeps" spec
    val cap = 3

    // 3) the incremental law SURVIVES the capped regime: with a cap
    // small enough to truncate, incremental == one-shot over the union
    // restricted to batch-touching pairs (both sides capped identically
    // because keep(id) depends only on (id, union bucket size)).
    val corpus = e.filter($"vec_id" % 5 =!= 0)
    val batch = e.filter($"vec_id" % 5 === 0)
    Similarity.writeLshIndex(corpus, "vec_id", "embedding",
      "graft_lsh_capspec", nBuckets = 4)
    // banding pinned to 16/4 on BOTH sides: the adaptive default
    // deliberately couples banding to the cap (a tiny cap -> finer
    // banding), and this test isolates the CAP law under ONE banding
    val inc = Similarity.incrementalLshPairs(batch, "graft_lsh_capspec",
        e, "vec_id", "embedding", threshold = -1.0,
        nBits = 16, bandBits = 4, bucketCap = cap)
      .select("ida", "idb", "cos")
    val full = Similarity.lshDupPairs(e, "vec_id", "embedding",
        threshold = -1.0, nBits = 16, bandBits = 4, bucketCap = cap)
      .filter($"ida" % 5 === 0 || $"idb" % 5 === 0)
      .select("ida", "idb", "cos")
    assert(inc.exceptAll(full).count() == 0 &&
      full.exceptAll(inc).count() == 0,
      "capped incremental != capped one-shot restricted to batch pairs")

    // 4) the _sizes side-table fallback: dropping the persisted size
    // table must route the probe through the recompute branch and
    // produce the IDENTICAL result (same sizes, same truncation).
    spark.sql("DROP TABLE graft_lsh_capspec_sizes")
    val incNoSizes = Similarity.incrementalLshPairs(batch,
        "graft_lsh_capspec", e, "vec_id", "embedding",
        threshold = -1.0, nBits = 16, bandBits = 4, bucketCap = cap)
      .select("ida", "idb", "cos")
    assert(incNoSizes.exceptAll(full).count() == 0 &&
      full.exceptAll(incNoSizes).count() == 0,
      "sizes-table fallback diverged from the persisted-sizes result")
  }

  test("micro-batched capped LSH law: union sizes make the chopping invisible") {
    import spark.implicits._
    // q295's exactness condition, pinned at spec scale with a BINDING
    // cap: chop the batch into 3 micro-batches and probe each under
    // the manifest-lands-first (corpus + WHOLE-batch) union sizes —
    // the union of per-micro-batch pair sets must equal the capped
    // one-shot restricted to batch-touching pairs. Without the shared
    // sizes each micro-batch would truncate under its own smaller
    // sizes and keep extra rows wherever the cap binds (the q295 sf1
    // lesson, reproduced here by cap=3).
    val cap = 3
    val e = sources.Tables.read(spark, sf, "embeddings")
    val corpus = e.filter($"vec_id" % 5 =!= 0)
    val batch = e.filter($"vec_id" % 5 === 0)
    Similarity.writeLshIndex(corpus, "vec_id", "embedding",
      "graft_lsh_mbspec", nBuckets = 4)
    val unionSizes = spark.table("graft_lsh_mbspec_sizes")
      .withColumnRenamed("graft_bsz", "graft_csz")
      .join(Similarity.lshBands(batch, "vec_id", "embedding")
          .groupBy("band", "bucket").agg(count(lit(1)).as("graft_nsz")),
        Seq("band", "bucket"), "full_outer")
      .select(col("band"), col("bucket"),
        (coalesce(col("graft_csz"), lit(0L)) +
          coalesce(col("graft_nsz"), lit(0L))).as("graft_bsz"))
    // 3 disjoint micro-batches; each probes the corpus index AND the
    // accumulated earlier micro-batches (as a growing band table),
    // exactly the stream's cycle
    sources.Tables.writeTable(
      Similarity.lshBands(e.limit(0), "vec_id", "embedding"),
      "graft_mbspec_bands")
    val mbPairs = (0 until 3).map { i =>
      val mb = batch.filter($"vec_id" % 3 === i)
      val vsIndex = Similarity.incrementalLshPairs(mb,
        "graft_lsh_mbspec", e, "vec_id", "embedding", threshold = -1.0,
        nBits = 16, bandBits = 4,
        bucketCap = cap, unionSizesOverride = Some(unionSizes))
      val vsEarlier = Similarity.incrementalLshPairs(mb,
        "graft_mbspec_bands", e, "vec_id", "embedding", threshold = -1.0,
        nBits = 16, bandBits = 4,
        bucketCap = cap, unionSizesOverride = Some(unionSizes))
      // materialize THIS micro-batch's probe BEFORE appending its own
      // bands (the stream's probe-then-append cycle), and refresh the
      // table relation after the append so the next iteration's probe
      // sees every earlier batch rather than a stale file listing
      val pairs = vsIndex.union(vsEarlier).select("ida", "idb")
        .as[(Long, Long)].collect().toSet
      Similarity.lshBands(mb, "vec_id", "embedding")
        .write.mode("append").format("parquet")
        .saveAsTable("graft_mbspec_bands")
      spark.catalog.refreshTable("graft_mbspec_bands")
      pairs
    }.reduce(_ ++ _)
    val oneShot = Similarity.lshDupPairs(e, "vec_id", "embedding",
        threshold = -1.0, nBits = 16, bandBits = 4, bucketCap = cap)
      .filter($"ida" % 5 === 0 || $"idb" % 5 === 0)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(mbPairs == oneShot,
      "micro-batched capped probes diverged from the capped one-shot")
    // the cap is ACTIVE on this data — otherwise the law is vacuous
    val openCount = Similarity.lshDupPairs(e, "vec_id", "embedding",
      threshold = -1.0, nBits = 16, bandBits = 4,
      bucketCap = Int.MaxValue).count()
    assert(oneShot.size < openCount,
      "cap=3 must truncate at spec scale for this law to bite")
  }

  test("bucket-cap keep rule: Banded.truncate replays BucketCap.keeps on " +
      "the text and embedding band tables") {
    // ONE truncation serves both families: per band-key group, a row
    // survives iff BucketCap.keeps(id, group size, cap) — the Scala
    // replay of the arithmetic the Spark SQL and DuckDB spellings use —
    // and each cap below is ACTIVE on its table, so the capped
    // incremental laws of the two family specs are not vacuous
    val e = sources.Tables.read(spark, sf, "embeddings")
    val docs = sources.Tables.read(spark, sf, "documents")
      .select("doc_id", "text")
    val tables = Seq(
      ("embedding", Similarity.lshBands(e, "vec_id", "embedding"),
        Similarity.bandLayout("vec_id", 16, 4), 3),
      ("text", Dedup.bandTable(docs, "doc_id", "text"),
        Dedup.bandLayout("doc_id"), 1))
    for ((name, bands, layout, cap) <- tables) {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select((layout.keys :+ layout.idCol).map(col): _*).collect()
          .map(r => (r.toSeq.init, r.getLong(r.length - 1)))
      val got = rows(Banded.truncate(bands, layout, cap)).toSet
      val raw = rows(bands)
      val want = raw.groupBy(_._1).iterator.flatMap {
        case (_, rs) => rs.filter(r => BucketCap.keeps(r._2, rs.length, cap))
      }.toSet
      assert(got == want, s"$name truncation diverged from the hash rule")
      assert(got.size < raw.length,
        s"cap=$cap must truncate the $name table at spec scale")
    }
  }

  test("bucket-cap keep rule is id-distribution and divisor-structure independent") {
    import spark.implicits._
    // The r9 ADVICE scenario: every id ≡ 0 (mod 5) in one degenerate
    // bucket, with a cap forcing divisor exactly 5. The naive
    // `id % divisor == 0` rule keeps ALL 100 members (the quadratic
    // blowup the cap exists to prevent); the hash rule must keep ~cap.
    val n = 100
    val cap = 20 // divisor = ceil(100/20) = 5, sharing the id stride
    val bands = (0 until n).map(i => (i * 5L, 0, 0))
      .toDF("vec_id", "band", "bucket")
    val layout = Similarity.bandLayout("vec_id", 16, 4)
    val kept = Banded.truncate(bands, layout, cap)
      .select($"vec_id").as[Long].collect().toSet
    val want = (0 until n).map(_ * 5L)
      .filter(id => operators.BucketCap.keeps(id, n, cap)).toSet
    assert(kept == want, "Spark rule diverged from the Scala replay")
    assert(kept.nonEmpty, "hash rule zeroed the bucket's recall")
    assert(kept.size < n / 2,
      s"stride-5 ids met divisor 5 and survived truncation: ${kept.size}/$n")

    // Opposite failure: ids AVOIDING multiples of the divisor (all
    // ≡ 3 mod 5) would keep ZERO members under the naive rule,
    // silently zeroing recall in that bucket; the hash rule keeps some.
    val bands2 = (0 until n).map(i => (i * 5L + 3L, 0, 0))
      .toDF("vec_id", "band", "bucket")
    val kept2 = Banded.truncate(bands2, layout, cap)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept2.nonEmpty, "hash rule zeroed the 3-mod-5 bucket")
    assert(kept2.size < n / 2, s"3-mod-5 bucket kept ${kept2.size}/$n")
  }

  test("text MinHash bucket cap: identity under cap, exact rule, capped incremental law") {
    import spark.implicits._
    val docs = sources.Tables.read(spark, sf, "documents")
      .select("doc_id", "text")

    // 1) IDENTITY law: at spec scale no md5-band bucket reaches the
    // default cap, so the capped default equals an uncapped run.
    val capped = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("ida", "idb", "jac")
    val open = Dedup.minhashPairs(docs, "doc_id", "text",
        bucketCap = Int.MaxValue)
      .select("ida", "idb", "jac")
    assert(capped.exceptAll(open).count() == 0 &&
      open.exceptAll(capped).count() == 0)

    // 2) the keep rule itself (and that cap=1 is ACTIVE on this data:
    // every bucket of size >= 2 truncates) is pinned by the shared
    // "bucket-cap keep rule: Banded.truncate replays BucketCap.keeps" spec
    val cap = 1

    // 3) the incremental law SURVIVES the capped regime for a
    // disjoint batch: with a truncating cap, incremental == one-shot
    // over the union restricted to batch-touching pairs (both sides
    // capped identically because keep(id) depends only on
    // (id, union bucket size)).
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val batch = docs.filter($"doc_id" % 5 === 0)
    Dedup.writeBandIndex(corpus, "doc_id", "text",
      "graft_band_capspec", nBuckets = 4)
    val inc = Dedup.incrementalPairs(batch, "graft_band_capspec",
        docs, "doc_id", "text", threshold = 0.0, bucketCap = cap)
      .select("ida", "idb", "jac")
    val full = Dedup.minhashPairs(docs, "doc_id", "text",
        threshold = 0.0, bucketCap = cap)
      .filter($"ida" % 5 === 0 || $"idb" % 5 === 0)
      .select("ida", "idb", "jac")
    assert(inc.exceptAll(full).count() == 0 &&
      full.exceptAll(inc).count() == 0,
      "capped incremental != capped one-shot restricted to batch pairs")

    // 4) the _sizes partials fallback: dropping the persisted size
    // table routes the probe through the recompute branch with the
    // IDENTICAL result.
    spark.sql("DROP TABLE graft_band_capspec_sizes")
    val incNoSizes = Dedup.incrementalPairs(batch, "graft_band_capspec",
        docs, "doc_id", "text", threshold = 0.0, bucketCap = cap)
      .select("ida", "idb", "jac")
    assert(incNoSizes.exceptAll(full).count() == 0 &&
      full.exceptAll(incNoSizes).count() == 0,
      "sizes-partials fallback diverged from the persisted-sizes result")
  }

  test("adaptive banding: formula values pinned; gate-scale join is the identity") {
    // the recall lever (SURVEY §6 r13): bandBits = clamp(ceil(log2(n/cap)), 4, 12)
    val cases = Seq(
      0L -> 4, 500L -> 4, 2000L -> 4, 8192L -> 4, // gate scales: clamp floor
      8193L -> 5, // first count past 16 buckets/band at cap 512
      20000L -> 6, // sf1
      200000L -> 9, // sf10 (probe-measured recall regime)
      (1L << 40) -> 12) // clamp ceiling = the broadcast-bound fallback edge
    for ((n, want) <- cases)
      assert(Similarity.adaptiveBandBits(n) == want,
        s"adaptiveBandBits($n) = ${Similarity.adaptiveBandBits(n)}, want $want")
    // custom cap shifts the knee proportionally
    assert(Similarity.adaptiveBandBits(8192, bucketCap = 64) == 7)

    // at spec corpus the clamp resolves to the fixed default, so the
    // adaptive join (now the lshKnnJoin DEFAULT) must be ROW-IDENTICAL
    // to an EXPLICIT 16/4 fixed-banding join (this is also why q302
    // can gate on q135's oracle verbatim)
    val e = sources.Tables.read(spark, sf, "embeddings")
    val fixed = Similarity.lshKnnJoin(e, "vec_id", "embedding", k = 3,
      nBits = 16, bandBits = 4)
    val adaptive = Similarity.lshKnnJoin(e, "vec_id", "embedding", k = 3)
    assert(adaptive.exceptAll(fixed).count() == 0 &&
      fixed.exceptAll(adaptive).count() == 0)
  }

  test("adaptive minhash banding: formula pinned; gate scale is the (8,2) identity; streams refused") {
    import spark.implicits._
    // rows grows +1 per decade past 65,536 docs, bands = 2^rows keeps
    // the S-curve midpoint (1/b)^(1/r) at the 0.5 default threshold,
    // k = r * 2^r
    assert(Dedup.adaptiveMinhashParams(0L) == ((8, 2)))
    assert(Dedup.adaptiveMinhashParams(500L) == ((8, 2)))
    assert(Dedup.adaptiveMinhashParams(50000L) == ((8, 2))) // sf1 docs
    assert(Dedup.adaptiveMinhashParams(65536L) == ((8, 2)))
    assert(Dedup.adaptiveMinhashParams(65537L) == ((24, 3)))
    assert(Dedup.adaptiveMinhashParams(500000L) == ((24, 3))) // sf10
    assert(Dedup.adaptiveMinhashParams(655361L) == ((64, 4)))
    assert(Dedup.adaptiveMinhashParams(1L << 40) == ((64, 4)))
    // S-curve midpoint invariance: (1/2^r)^(1/r) = 1/2 for every tier
    for (r <- 2 to 4)
      assert(math.abs(math.pow(1.0 / (1 << r), 1.0 / r) - 0.5) < 1e-12)

    // gate scale: the adaptive default must be ROW-IDENTICAL to an
    // explicit (8, 2) run — the equality every minhash oracle rests on
    val docs = sources.Tables.read(spark, sf, "documents")
    val fixed = Dedup.minhashPairs(docs, "doc_id", "text",
      k = 8, rows = 2, threshold = 0.5)
    val adaptive = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5)
    assert(adaptive.exceptAll(fixed).count() == 0 &&
      fixed.exceptAll(adaptive).count() == 0)

    // streaming frames cannot run the eager count: fail loudly
    val stream = spark.readStream
      .schema(graft.streaming.EventStreams.docSchema)
      .parquet(s"$sf")
    intercept[IllegalArgumentException] {
      Dedup.minhashPairs(stream, "doc_id", "text", threshold = 0.5)
    }
  }

  test("persisted band indexes record their banding; mismatched probes fail loudly") {
    import spark.implicits._
    // text index: metadata row carries the resolved banding
    val docs = sources.Tables.read(spark, sf, "documents")
    Dedup.writeBandIndex(docs, "doc_id", "text", "graft_bandmeta_spec",
      nBuckets = 4)
    val tm = spark.table("graft_bandmeta_spec_banding")
      .as[(Int, Int)].head()
    assert(tm == ((8, 2)), s"recorded text banding $tm")
    // a probe under a DIFFERENT banding must fail loudly, not join
    // band keys that match nothing
    val ex = intercept[IllegalArgumentException] {
      Dedup.incrementalPairs(docs.limit(5), "graft_bandmeta_spec", docs,
        "doc_id", "text", k = 24, rows = 3, threshold = 0.5)
    }
    assert(ex.getMessage.contains("recorded"))

    // vector index: same contract
    val e = sources.Tables.read(spark, sf, "embeddings")
    Similarity.writeLshIndex(e, "vec_id", "embedding",
      "graft_lshmeta_spec", nBuckets = 4)
    val vm = spark.table("graft_lshmeta_spec_banding")
      .as[(Int, Int)].head()
    assert(vm == ((16, 4)), s"recorded vector banding $vm")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.incrementalLshPairs(e.limit(5), "graft_lshmeta_spec", e,
        "vec_id", "embedding", threshold = 0.0, nBits = 32, bandBits = 8)
    }
    assert(ex2.getMessage.contains("recorded"))
    // matching explicit values pass the cross-check (plan builds)
    Similarity.incrementalLshPairs(e.limit(5), "graft_lshmeta_spec", e,
      "vec_id", "embedding", threshold = 0.0, nBits = 16, bandBits = 4)
    ()
  }

  test("adaptive banding: dup-pairs + hard-negatives clamp identity; " +
      "Verify pre-flight helpers") {
    // the two banded consumers whose GATED queries pin 16/4 explicitly
    // (their oracles bake it at every adjudicated scale): the clamp
    // must make the pinned spelling identical to the adaptive DEFAULT
    // at gate corpus, or the pins would hide a production divergence
    val e = sources.Tables.read(spark, sf, "embeddings")
    val dpFixed = Similarity.lshDupPairs(e, "vec_id", "embedding",
      threshold = 0.35, nBits = 16, bandBits = 4)
    val dpAdaptive = Similarity.lshDupPairs(e, "vec_id", "embedding",
      threshold = 0.35)
    assert(dpAdaptive.exceptAll(dpFixed).count() == 0 &&
      dpFixed.exceptAll(dpAdaptive).count() == 0)
    val hnFixed = Similarity.hardNegatives(e, "vec_id", "embedding",
      "label", k = 3, nBits = 16, bandBits = 4)
    val hnAdaptive = Similarity.hardNegatives(e, "vec_id", "embedding",
      "label", k = 3)
    assert(hnAdaptive.exceptAll(hnFixed).count() == 0 &&
      hnFixed.exceptAll(hnAdaptive).count() == 0)
    // Verify's pre-flight: clamp holds at every gate corpus, breaks
    // exactly where the adaptive parameters leave the baked constants
    assert(graft.queries.Vectors.oracleClampHolds(e.count()))
    assert(!graft.queries.Vectors.oracleClampHolds(20000L)) // sf1
    assert(graft.queries.TextDedup.oracleClampHolds(50000L)) // sf1 docs
    assert(!graft.queries.TextDedup.oracleClampHolds(500000L)) // sf10
  }

  test("adaptive SemDeDup cluster count: formula pinned; gate scale is the k=8 identity") {
    assert(Similarity.adaptiveClusterK(0L) == 8)
    assert(Similarity.adaptiveClusterK(2000L) == 8) // gate scale
    assert(Similarity.adaptiveClusterK(8192L) == 8)
    assert(Similarity.adaptiveClusterK(20000L) == 20) // sf1
    assert(Similarity.adaptiveClusterK(200000L) == 196) // sf10
    assert(Similarity.adaptiveClusterK(1 << 20, targetCell = 512) == 2048)
    val e = sources.Tables.read(spark, sf, "embeddings")
    val fixed = Similarity.semDedup(e, "vec_id", "embedding",
      k = 8, iters = 2, threshold = 0.35)
    val adaptive = Similarity.semDedup(e, "vec_id", "embedding",
      iters = 2, threshold = 0.35)
    assert(adaptive.exceptAll(fixed).count() == 0 &&
      fixed.exceptAll(adaptive).count() == 0)
  }

  test("Par.plannedOrZero: non-fatal planning failures fall through to 0; " +
      "fatal throwables propagate") {
    // VERDICT r14 #1: the advisory partition-count read must never eat
    // an OOM — a dying driver has to die at the first symptom
    assert(Par.plannedOrZero(7) == 7)
    assert(Par.plannedOrZero(throw new RuntimeException("planning")) == 0)
    intercept[OutOfMemoryError] {
      Par.plannedOrZero(throw new OutOfMemoryError("fatal"))
    }
  }

  test("adaptive count memo: one count job per corpus snapshot per " +
      "session; an overwrite invalidates") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_adaptcnt").toFile.getAbsolutePath
    spark.range(100).toDF("id").write.mode("overwrite").parquet(dir)
    val m0 = AdaptiveCount.misses.get()
    assert(AdaptiveCount.of(spark.read.parquet(dir)) == 100L)
    assert(AdaptiveCount.misses.get() == m0 + 1)
    // a SECOND resolution over the same snapshot — via a fresh read,
    // the shape every repeated operator call takes — hits the memo
    assert(AdaptiveCount.of(spark.read.parquet(dir)) == 100L)
    assert(AdaptiveCount.misses.get() == m0 + 1,
      "re-resolving an unchanged corpus must not run another count job")
    // overwrite = fresh part-file names = new key: stale counts can
    // never serve after the data changes
    spark.range(50).toDF("id").write.mode("overwrite").parquet(dir)
    assert(AdaptiveCount.of(spark.read.parquet(dir)) == 50L)
    assert(AdaptiveCount.misses.get() == m0 + 2)
  }

  test("adaptive count memo: a hit is equality-confirmed, never trusted " +
      "by hash — a colliding or session-aliased entry recounts") {
    // ADVICE r15: the key is three hashes; a collision (or
    // identityHashCode reuse after a session is GC'd) must not serve
    // another corpus's count. Poison the cache at OUR OWN key with an
    // entry whose stored evidence differs, and assert of() recounts.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_adaptcoll").toFile.getAbsolutePath
    spark.range(80).toDF("id").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val (key, _) = AdaptiveCount.keyOf(df)
    // (a) same hash key, different file list = hash collision
    AdaptiveCount.cache.put(key, AdaptiveCount.Entry(
      new java.lang.ref.WeakReference[AnyRef](spark),
      Array("someone/elses/part-000.parquet"),
      AdaptiveCount.planDigestOf(df), 999L))
    val m0 = AdaptiveCount.misses.get()
    assert(AdaptiveCount.of(df) == 80L,
      "a colliding entry must be recounted, not served")
    assert(AdaptiveCount.misses.get() == m0 + 1)
    // the recount replaced the poisoned entry: next call is a clean hit
    assert(AdaptiveCount.of(spark.read.parquet(dir)) == 80L)
    assert(AdaptiveCount.misses.get() == m0 + 1)
    // (b) right files, wrong session identity = identityHashCode reuse
    val (key2, files2) = AdaptiveCount.keyOf(df)
    AdaptiveCount.cache.put(key2, AdaptiveCount.Entry(
      new java.lang.ref.WeakReference[AnyRef](new Object), files2,
      AdaptiveCount.planDigestOf(df), 999L))
    assert(AdaptiveCount.of(df) == 80L,
      "a session-aliased entry must be recounted, not served")
    assert(AdaptiveCount.misses.get() == m0 + 2)
    // (c) right session + right files, wrong PLAN digest (ADVICE r16):
    // a corpus and its filtered slice share inputFiles and session and
    // differ only in the 32-bit semanticHash — simulate that residual
    // collision by poisoning OUR key with a different plan digest, and
    // assert the digest comparison recounts instead of serving 999
    val (key3, files3) = AdaptiveCount.keyOf(df)
    AdaptiveCount.cache.put(key3, AdaptiveCount.Entry(
      new java.lang.ref.WeakReference[AnyRef](spark), files3,
      "not-the-plan-you-are-looking-for", 999L))
    assert(AdaptiveCount.of(df) == 80L,
      "a plan-digest mismatch must be recounted, not served")
    assert(AdaptiveCount.misses.get() == m0 + 3)
    // and the REAL pair the digest exists for: the full corpus vs its
    // filtered slice (same files, same session) memoize independently
    val slice = df.filter(col("id") % 5 === 0)
    assert(AdaptiveCount.of(slice) == 16L)
    assert(AdaptiveCount.of(df) == 80L && AdaptiveCount.of(slice) == 16L)
  }

  test("pre-metadata band indexes probed adaptively fail loudly instead " +
      "of guessing the historical default") {
    // VERDICT r14 #2: a legacy index built with non-default banding
    // would silently join band keys that match nothing under the old
    // (8,2)/(16,4) guess — fail-loud names the index and the fix
    val docs = sources.Tables.read(spark, sf, "documents")
    Dedup.writeBandIndex(docs, "doc_id", "text", "graft_premeta_spec",
      nBuckets = 4)
    spark.sql("DROP TABLE graft_premeta_spec_banding")
    val ex = intercept[IllegalArgumentException] {
      Dedup.incrementalPairs(docs.limit(5), "graft_premeta_spec", docs,
        "doc_id", "text", threshold = 0.5)
    }
    assert(ex.getMessage.contains("writeBandIndex"),
      s"message must name the fix: ${ex.getMessage}")
    val e = sources.Tables.read(spark, sf, "embeddings")
    Similarity.writeLshIndex(e, "vec_id", "embedding",
      "graft_premetav_spec", nBuckets = 4)
    spark.sql("DROP TABLE graft_premetav_spec_banding")
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.incrementalLshPairs(e.limit(5), "graft_premetav_spec", e,
        "vec_id", "embedding", threshold = 0.0)
    }
    assert(ex2.getMessage.contains("writeLshIndex"),
      s"message must name the fix: ${ex2.getMessage}")
    // explicit banding still works against the metadata-less index
    Similarity.incrementalLshPairs(e.limit(5), "graft_premetav_spec", e,
      "vec_id", "embedding", threshold = 0.0, nBits = 16, bandBits = 4)
    ()
  }

  test("adaptive rules are monotone in n — the pre-flight " +
      "full-table-count shortcut is sound") {
    // Verify's clamp pre-flight counts the FULL table while some gated
    // queries resolve banding from a SUBSET (q85/q88/q193's ~80% doc
    // slice). That shortcut is sound iff every clamp region is a
    // prefix [0, N] of the count axis, i.e. every adaptive rule is
    // monotone nondecreasing in n (ADVICE r14: assert it, so a future
    // non-monotonic rule change breaks HERE, not silently there).
    // BOTH minhash banding components are tracked (ADVICE r15): the
    // shortcut's soundness needs the full (k, rows) pair clamp-stable,
    // and k's monotonicity must not ride on its current derivation
    // from rows.
    var n = 0L
    var pb = operators.Similarity.adaptiveBandBits(0L)
    var pk = operators.Similarity.adaptiveClusterK(0L)
    var (pmk, pr) = operators.Dedup.adaptiveMinhashParams(0L)
    while (n < (1L << 20)) {
      n += 1
      val b = operators.Similarity.adaptiveBandBits(n)
      val k = operators.Similarity.adaptiveClusterK(n)
      val (mk, r) = operators.Dedup.adaptiveMinhashParams(n)
      assert(b >= pb && k >= pk && mk >= pmk && r >= pr,
        s"non-monotone at n=$n")
      pb = b; pk = k; pmk = mk; pr = r
    }
    // multiplicative grid past the exhaustive range, out to 1e12
    var lo = 1L << 20
    while (lo < 1000000000000L) {
      val hi = lo + math.max(1L, lo / 64)
      assert(operators.Similarity.adaptiveBandBits(hi) >=
        operators.Similarity.adaptiveBandBits(lo))
      assert(operators.Similarity.adaptiveClusterK(hi) >=
        operators.Similarity.adaptiveClusterK(lo))
      val (hk, hr) = operators.Dedup.adaptiveMinhashParams(hi)
      val (lk, lr) = operators.Dedup.adaptiveMinhashParams(lo)
      assert(hk >= lk && hr >= lr)
      lo = hi
    }
  }

  test("fused LSH rank tail: collect_set+sort_array+slice equals the " +
      "window row_number spelling on dup collisions and cos ties") {
    // r17: Similarity.rankScored fused the two-exchange tail (max-cos
    // dedup agg + per-qid row_number window) into ONE aggregate. The
    // law it relies on: a pair's cos is a pure function of the pair
    // (identical in every band), so collect_set(struct(cos, -vid))
    // dedups multi-band collisions exactly, and sort_array desc
    // realizes (cos desc, vid asc). Pin the algebra on a stream with
    // BOTH hazards: duplicate (qid, vid, cos) collisions (multi-band)
    // and cross-vid cos ties (tiebreak must be vid ASC).
    val k = 3
    val scored = Seq(
      // qid 1: vid 10 collides in 3 bands; tie cos=0.9 between 20/30
      (1L, 10L, 0.95), (1L, 10L, 0.95), (1L, 10L, 0.95),
      (1L, 30L, 0.9), (1L, 20L, 0.9), (1L, 40L, 0.1),
      // qid 2: fewer than k candidates, all tied
      (2L, 7L, 0.5), (2L, 5L, 0.5),
      // qid 3: exactly k+1 distinct, dup collision on the cut boundary
      (3L, 1L, 0.4), (3L, 2L, 0.3), (3L, 3L, 0.2), (3L, 4L, 0.2),
      (3L, 4L, 0.2)
    ).toDF("qid", "vid", "cos")
    val fused = scored.groupBy("qid")
      .agg(expr(s"slice(sort_array(collect_set(struct(cos, -vid AS nv))," +
        s" false), 1, $k)").as("_top"))
      .select(col("qid"), posexplode(col("_top")).as(Seq("_i", "_t")))
      .select(col("qid"), (-col("_t.nv")).as("vid"),
        (col("_i") + 1).cast("int").as("rank"), col("_t.cos").as("cos"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("cos").desc, col("vid"))
    val windowed = scored.groupBy("qid", "vid")
      .agg(max("cos").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "vid", "rank", "cos")
    val f = fused.as[(Long, Long, Int, Double)].collect().toSet
    val d = windowed.as[(Long, Long, Int, Double)].collect().toSet
    assert(f == d, s"fused tail diverged from the window spelling:\n" +
      s"fused=$f\nwindow=$d")
    // the expected answer, by hand (rank carries the vid-asc tiebreak)
    assert(f((1L, 10L, 1, 0.95)) && f((1L, 20L, 2, 0.9)) &&
      f((1L, 30L, 3, 0.9)) && !f.exists(r => r._1 == 1L && r._2 == 40L))
    assert(f((2L, 5L, 1, 0.5)) && f((2L, 7L, 2, 0.5)))
    assert(f((3L, 1L, 1, 0.4)) && f((3L, 2L, 2, 0.3)) &&
      f((3L, 3L, 3, 0.2)) && !f.exists(r => r._1 == 3L && r._2 == 4L))
  }

  test("ParWindow.runningWindow equals the single-window spelling on a " +
      "tie-rich fixture (ties spanning chunks) and on real lineitem") {
    import org.apache.spark.sql.expressions.Window
    def classic(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("part"))
        .orderBy(col("price").desc, col("k1"), col("k2"))
      df.select(col("part"), col("k1"), col("k2"),
        row_number().over(w).as("rn"), rank().over(w).as("rk"),
        lag(col("qty"), 1).over(w).as("prev"),
        sum(col("qty").cast("bigint")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("run"))
    }
    // gateBytes = 0 forces the PARALLEL plan (the gate would classic-
    // plan these fixture sizes); the default-gate identity is asserted
    // separately below
    def par(df: org.apache.spark.sql.DataFrame, chunks: Int) =
      operators.ParWindow.runningWindow(df, "part",
          Seq(("price", false), ("k1", true), ("k2", true)),
          lagCol = "qty", sumCol = col("qty").cast("bigint"),
          rnName = "rn", rkName = "rk", prevName = "prev",
          runName = "run", chunks = chunks, gateBytes = 0L)
        .select("part", "k1", "k2", "rn", "rk", "prev", "run")
    // tie-rich: long runs of equal (price, k1, k2), far more rows than
    // chunks. NOTE (r17 ADVICE): repartitionByRange maps EQUAL keys to
    // one partition by comparison, so tie groups never actually split
    // across chunks on any real input — this fixture pins the
    // boundary-adjacent arithmetic (offsets, lag carry, rank restarts)
    // and the cross-chunk tie-continuation branch is exercised
    // DIRECTLY on synthetic summaries in the chunkOffsets test below.
    // Two parts interleaved so chunks mix parts.
    val fixture = (0 until 240).map { i =>
      val part = if (i % 2 == 0) "A" else "B"
      val grp = i / 60                 // 4 groups per part, 30 rows each
      (part, grp.toLong, 7L, 100.0 - grp, (grp + 1).toDouble)
    }.toDF("part", "k1", "k2", "price", "qty")
    for (chunks <- Seq(1, 3, 5)) {
      val a = classic(fixture)
        .as[(String, Long, Long, Int, Int, Option[Double], Long)]
        .collect().sorted
      val b = par(fixture, chunks)
        .as[(String, Long, Long, Int, Int, Option[Double], Long)]
        .collect().sorted
      assert(a.sameElements(b),
        s"parallel window diverged at chunks=$chunks")
    }
    // real data: lineitem at the spec fixture scale, q22's exact keys
    val li = sources.Tables.read(spark, sf, "lineitem")
      .select(col("l_returnflag").as("part"),
        col("l_orderkey").as("k1"), col("l_linenumber").as("k2"),
        col("l_extendedprice").as("price"), col("l_quantity").as("qty"))
    val a = classic(li)
      .as[(String, Long, Long, Int, Int, Option[Double], Long)]
      .collect().sorted
    val b = par(li, 7)
      .as[(String, Long, Long, Int, Int, Option[Double], Long)]
      .collect().sorted
    assert(a.sameElements(b), "parallel window diverged on lineitem")
    // default gate: fixture-scale inputs resolve to the CLASSIC plan
    // (no range exchange — the graded gate-scale q22 plan is
    // byte-identical to the pre-r17 spelling) and equal rows
    val gated = operators.ParWindow.runningWindow(li, "part",
        Seq(("price", false), ("k1", true), ("k2", true)),
        lagCol = "qty", sumCol = col("qty").cast("bigint"),
        rnName = "rn", rkName = "rk", prevName = "prev", runName = "run")
      .select("part", "k1", "k2", "rn", "rk", "prev", "run")
    assert(!gated.queryExecution.executedPlan.toString
        .contains("rangepartitioning"),
      "gate-scale input must take the classic single-window plan")
    val g = gated.as[(String, Long, Long, Int, Int, Option[Double], Long)]
      .collect().sorted
    assert(a.sameElements(g), "gated classic path diverged")
  }

  test("ParWindow.runningWindow null-correct merge: NULL sumCol/lag " +
      "values across chunks match the classic running sum exactly") {
    import org.apache.spark.sql.expressions.Window
    // parts whose sumCol is ALL-NULL for a long prefix (the classic
    // running sum is NULL there, becomes non-null at the first value),
    // null lag values crossing chunk boundaries, and a part that is
    // all-null throughout (run stays NULL for every row) — the r17
    // ADVICE divergence: a chunk-local all-null prefix must not zero
    // out earlier chunks' totals, and a row whose earlier chunks were
    // all-null must stay NULL.
    val rows = (0 until 200).map { i =>
      val part = if (i % 2 == 0) "A" else "B"
      val qty: java.lang.Double =
        if (part == "B") null                        // all-null part
        else if (i < 120) null                       // long null prefix
        else Double.box((i % 7).toDouble)
      (part, i.toLong, 100.0 - (i / 25), qty)
    }.toDF("part", "k1", "price", "qty")
    def classic(df: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("part"))
        .orderBy(col("price").desc, col("k1"))
      df.select(col("part"), col("k1"),
        row_number().over(w).as("rn"), rank().over(w).as("rk"),
        lag(col("qty"), 1).over(w).as("prev"),
        sum(col("qty").cast("bigint")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("run"))
    }
    for (chunks <- Seq(1, 4, 9)) {
      val par = operators.ParWindow.runningWindow(rows, "part",
          Seq(("price", false), ("k1", true)),
          lagCol = "qty", sumCol = col("qty").cast("bigint"),
          rnName = "rn", rkName = "rk", prevName = "prev",
          runName = "run", chunks = chunks, gateBytes = 0L)
        .select("part", "k1", "rn", "rk", "prev", "run")
      val a = classic(rows)
        .as[(String, Long, Int, Int, Option[Double], Option[Long])]
        .collect().sorted
      val b = par
        .as[(String, Long, Int, Int, Option[Double], Option[Long])]
        .collect().sorted
      assert(a.sameElements(b),
        s"null-merge divergence at chunks=$chunks")
    }
  }

  test("ParWindow.chunkOffsets propagates tie-group starts and " +
      "null-sum partials across multi-chunk spans (synthetic summaries)") {
    import operators.ParWindow.{SegSum, ChunkOff, chunkOffsets}
    val kA = Seq[Any](1L); val kB = Seq[Any](2L); val kC = Seq[Any](3L)
    // part "P": chunk 0 ends in tie group kB (starts at local rn 3);
    // chunk 1 is ENTIRELY kB (head == tail — continuation must
    // propagate chunk 0's start, not restart); chunk 2 starts with kB
    // then moves to kC — its head continues the SAME group two chunks
    // back. Chunk 0/1 sums are all-null (nn = 0).
    val segs = Seq(
      SegSum(0, "P", 5L, 0L, 0L, null, kA, kB, 3L),
      SegSum(1, "P", 4L, 0L, 0L, 7.0, kB, kB, 1L),
      SegSum(2, "P", 6L, 42L, 2L, 1.0, kB, kC, 4L))
    val off = chunkOffsets(segs)
    assert(off((0, "P")) == ChunkOff(0L, 0L, 0L, null, 1L))
    // chunk 1: 5 rows before it; its head group started at global 3
    assert(off((1, "P")) == ChunkOff(5L, 0L, 0L, null, 3L))
    // chunk 2: 9 rows before; head group STILL the one from global 3;
    // prevLast = chunk 1's last lag value; sums still all-null
    assert(off((2, "P")) == ChunkOff(9L, 0L, 0L, 7.0, 3L))
  }
}
