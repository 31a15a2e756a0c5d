package graft

import org.apache.spark.sql.functions._
import graft.operators.{Sketches, Skew}
import graft.functions.DetMath

/** Round-4 pipeline operators: Bloom admission, count-min sketch,
  * chunking/packing, PII scrub, typed mapGroups, salted aggregation,
  * unpivot, stream-stream join parity. */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("bloom filter: no false negatives, bit set bounded at m") {
    val out = q("q98_bloom_admission")
      .as[(Long, Boolean, Boolean)].collect()
    assert(out.nonEmpty)
    // every true duplicate must be flagged (Bloom guarantees it)
    assert(out.forall { case (_, maybe, truth) => !truth || maybe })

    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("fp", md5(col("text").cast("binary")))
    val bits = Sketches.bloomBuild(docs, "fp", k = 3, m = 1 << 10)
    assert(bits.count() <= (1 << 10))
  }

  test("count-min sketch: one-sided error (est >= exact), d*w bounded") {
    val out = q("q99_cms_heavy").as[(String, Long, Long)].collect()
    assert(out.length > 0)
    assert(out.forall { case (_, est, exact) => est >= exact })

    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
      .filter(col("tok") =!= "")
    val sketch = Sketches.cmsBuild(toks, "tok", d = 4, w = 64)
    assert(sketch.count() <= 4 * 64)
    // total mass per hash row equals the total token count
    val n = toks.count()
    val rowMass = sketch.groupBy("r").agg(sum("cnt").as("mass"))
      .select("mass").as[Long].collect()
    assert(rowMass.length == 4 && rowMass.forall(_ == n))
  }

  test("doc chunks: windows cover every token, stride/size respected") {
    val C = 40; val S = 32
    val chunks = q("q100_doc_chunks")
      .groupBy("doc_id")
      .agg(max("chunk_idx").as("last"), count(lit(1)).as("k"),
        max("n_toks").as("max_toks"),
        max(col("chunk_idx") * S + col("n_toks")).as("max_end"))
    val nToks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        expr(graft.functions.TextExpr.toksSpark("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("n"))
    val joined = chunks.join(nToks, "doc_id")
      .select("doc_id", "last", "k", "max_toks", "max_end", "n")
      .as[(Long, Int, Long, Int, Int, Int)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (id, last, k, maxToks, maxEnd, n) =>
      assert(k == last + 1, s"doc $id: contiguous chunk indexes")
      assert(maxToks <= C, s"doc $id: chunk size bound")
      // chunk ends never pass the doc and the final chunk reaches
      // exactly the last token — together: full coverage, no overrun
      assert(maxEnd == n, s"doc $id: coverage (maxEnd=$maxEnd n=$n)")
    }
  }

  test("pack budget: bins contiguous per source, overflow bounded by one doc") {
    val B = 500
    val out = q("q101_pack_budget")
      .select("source", "bin", "n_docs", "tok_sum")
      .as[(String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val bySource = out.groupBy(_._1)
    bySource.foreach { case (src, rows) =>
      val bins = rows.map(_._2).sorted.toSeq
      assert(bins == (0L until bins.length), s"$src bins contiguous from 0")
    }
    // a bin exceeds B only via its final (boundary-crossing) doc
    val maxDocToks = spark.read.parquet(s"$sf/documents.parquet")
      .select(expr(s"size(${graft.functions.TextExpr.toksSpark("text")})"))
      .as[Int].collect().max
    assert(out.forall(_._4 <= B + maxDocToks))
  }

  test("pii scrub removes all emails and long digit runs") {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}".r
    val out = q("q102_pii_scrub")
      .select("doc_id", "n_emails", "n_nums")
      .as[(Long, Int, Int)].collect()
    assert(out.nonEmpty)
    // every row gained exactly one synthetic email
    assert(out.forall(_._2 == 1))
    // and scrubbing is idempotent: rebuild one row and check by hand
    val one = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") === 5L).select("text").as[String].head()
    val raw = s"$one contact user5@mail.example.com ref ${5 * 7919}"
    val scrubbed = raw
      .replaceAll("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>")
      .replaceAll("[0-9]{4,}", "<NUM>")
    assert(!scrubbed.contains("@") && email.findFirstIn(scrubbed).isEmpty)
  }

  test("typed mapGroups profile matches the declarative aggregation") {
    val got = q("q103_grouped_map")
      .select("l_returnflag", "n_rows", "sum_qty", "sum_price")
      .as[(String, Long, Double, Double)].collect().toSet
    val want = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        (sum(DetMath.fixed(col("l_quantity"), 2)) / 100.0).as("sum_qty"),
        (sum(DetMath.fixed(col("l_extendedprice"), 2)) / 100.0).as("sum_price"))
      .as[(String, Long, Double, Double)].collect().toSet
    assert(got == want) // byte-identical doubles, not approx
  }

  test("salted aggregation is byte-identical to the plain groupBy") {
    val got = q("q104_salted_agg").collect().toSet
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val want = li.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        (sum(DetMath.fixed(col("l_quantity"), 2)) / 100.0).as("sum_qty"),
        (sum(DetMath.fixed(col("l_extendedprice"), 2)) / 100.0).as("sum_price"))
      .collect().toSet
    assert(got == want)
  }

  test("saltedAgg spreads a hot key over (key, salt) partials") {
    val df = Seq.fill(100)(("hot", 1L)).toDF("k", "v")
    val out = Skew.saltedAgg(df, Seq("k"), Seq("v"), n = 8,
      Seq("n" -> count(lit(1)), "s" -> sum(col("v"))))
    val row = out.as[(String, Long, Long)].collect()
    assert(row.toSeq == Seq(("hot", 100L, 100L)))
  }

  test("unpivot emits one row per (row, measure) with no shuffle") {
    val out = q("q97_unpivot")
    val nLi = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(out.count() == 4 * nLi)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "unpivot must be a projection-only reshape")
  }

  test("bloom-pruned join: pruning drops probe rows, result unchanged") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val urgent = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bits = Sketches.bloomBuild(urgent, "o_orderkey", k = 3, m = 1 << 18)
    val pruned = Sketches.bloomPrune(li, col("l_orderkey"), bits,
      k = 3, m = 1 << 18)
    // the filter actually prunes (urgent is a selective build side) ...
    assert(pruned.count() < li.count())
    // ... but the joined result is exactly the plain join's
    val got = pruned.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").count().as[(String, Long)].collect().toSet
    val want = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").count().as[(String, Long)].collect().toSet
    assert(got == want)
  }

  test("corr matrix: 6 pairs per group, each in [-1, 1], matches corr()") {
    val out = q("q107_corr_matrix")
      .select("l_returnflag", "pair", "corr")
      .as[(String, String, Double)].collect()
    val flags = out.map(_._1).distinct
    assert(out.length == 6 * flags.length)
    assert(out.forall { case (_, _, c) => c >= -1.0 && c <= 1.0 })
    // spot-check one cell against Spark's own corr() (float-order
    // tolerant — ours is the deterministic integer-moment variant)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("x", col("l_quantity").cast("long").cast("double"))
      .withColumn("y", DetMath.fixed(col("l_discount"), 2).cast("double"))
    val ref = li.groupBy("l_returnflag").agg(corr("x", "y").as("c"))
      .as[(String, Double)].collect().toMap
    out.filter(_._2 == "qty_disc").foreach { case (f, _, c) =>
      assert(math.abs(c - ref(f)) < 1e-9, s"flag $f")
    }
  }

  test("vocab oov: ratio in [0,1] and consistent with the anti join") {
    val out = q("q108_vocab_oov")
      .select("doc_id", "n_toks", "oov_cnt", "oov_ratio")
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, n, oov, r) =>
      assert(oov <= n && r >= 0.0 && r <= 1.0, s"doc $id")
      assert(r == oov.toDouble / n, s"doc $id exact rational")
    }
  }

  test("feature bins: all rows binned into [1, 10], totals preserved") {
    val out = q("q109_feature_bins")
      .select("bucket", "cnt").as[(Long, Long)].collect()
    assert(out.forall { case (b, _) => b >= 1 && b <= 10 })
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(out.map(_._2).sum == total)
  }

  test("z-score: per-group mean ~0, sample std ~1, totals preserved") {
    val out = q("q110_zscore")
      .select("l_returnflag", "z").as[(String, Double)].collect()
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(out.length == total)
    out.groupBy(_._1).foreach { case (flag, rows) =>
      val zs = rows.map(_._2)
      val mean = zs.sum / zs.length
      val varS = zs.map(z => (z - mean) * (z - mean)).sum / (zs.length - 1)
      assert(math.abs(mean) < 1e-9, s"$flag mean $mean")
      // dollar quantization perturbs std from exactly 1 only slightly
      assert(math.abs(math.sqrt(varS) - 1.0) < 1e-6, s"$flag std")
    }
  }

  test("funnel stages are monotonically non-increasing") {
    val out = q("q111_funnel")
      .select("stage", "users").as[(String, Long)].collect().toMap
    assert(out("signup") >= out("click_after_signup"))
    assert(out("click_after_signup") >= out("purchase_after_click"))
    assert(out("signup") > 0)
  }

  test("cdc merge: deletes gone, upserts applied, rest untouched") {
    val out = q("q112_cdc_merge")
      .select("o_orderkey", "o_orderpriority")
      .as[(Long, String)].collect()
    val byKey = out.toMap
    assert(out.length == byKey.size, "keys unique after merge")
    assert(!byKey.keys.exists(_ % 7 == 2), "deleted keys removed")
    assert(byKey.filter(_._1 % 7 == 1).values.forall(_ == "9-CHANGED"))
    val orig = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
      .as[(Long, String)].collect().toMap
    assert(byKey.filter(_._1 % 7 > 2) == orig.filter(_._1 % 7 > 2),
      "untouched rows pass through unchanged")
    assert(byKey.size ==
      orig.size - orig.keys.count(_ % 7 == 2))
  }

  test("cdc merge: unknown ops ignored, duplicate upserts latest-wins") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "v")
    val changes = Seq(
      (1L, "typo'd op must NOT delete key 1", "upsrt", 10L),
      (2L, "old", "upsert", 1L),
      (2L, "new", "upsert", 2L), // higher seq wins
      (3L, "gone", "delete", 5L))
      .toDF("k", "v", "op", "seq")
    val merged = graft.operators.Merge
      .applyChanges(base, changes, "k", seqCol = Some("seq"))
      .as[(Long, String)].collect().toMap
    assert(merged == Map(1L -> "a", 2L -> "new"))

    // without seqCol: deterministic winner = greatest payload
    val merged2 = graft.operators.Merge
      .applyChanges(base, changes.drop("seq"), "k")
      .as[(Long, String)].collect().toMap
    assert(merged2 == Map(1L -> "a", 2L -> "old"))
  }

  test("cdc merge seqCol: newest op wins across upsert/delete, ties deterministic") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (1L, "stale", "upsert", 1L),
      (1L, "x", "delete", 5L), // newer delete beats the upsert: no resurrect
      (2L, "late", "upsert", 5L),
      (2L, "x", "delete", 1L), // older delete loses to the newer upsert
      (3L, "tieA", "upsert", 7L),
      (3L, "tieB", "upsert", 7L)) // seq tie → greatest payload wins
      .toDF("k", "v", "op", "seq")
    // repartition shuffles the batch arbitrarily; the winner must not move
    for (parts <- Seq(1, 7)) {
      val merged = graft.operators.Merge
        .applyChanges(base, changes.repartition(parts), "k",
          seqCol = Some("seq"))
        .as[(Long, String)].collect().toMap
      assert(merged == Map(2L -> "late", 3L -> "tieB"))
    }
  }

  test("decontamination: keep == zero hits, flagged docs really share a gram") {
    val out = q("q116_decontaminate")
      .select("doc_id", "n_hits", "keep")
      .as[(Long, Long, Boolean)].collect()
    assert(out.forall { case (_, hits, keep) => keep == (hits == 0) })
    assert(out.exists(_._2 > 0) && out.exists(_._3),
      "corpus should contain both contaminated and clean training docs")
    // recompute ground truth with a plain gram join for flagged docs
    val grams = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(expr(
        graft.functions.TextExpr.ngramsSpark(
          graft.functions.TextExpr.toksSpark("text"), 4))).as("g"))
    val truth = grams.filter(col("doc_id") % 19 =!= 0).as("tr")
      .join(grams.filter(col("doc_id") % 19 === 0).as("be"), Seq("g"))
      .select(col("tr.doc_id")).distinct()
      .as[Long].collect().toSet
    assert(out.filter(_._2 > 0).map(_._1).toSet == truth)
  }

  test("inverted index: postings sorted, df == postings length") {
    // postings are gated as a ','-joined string (the driver's
    // canonicalizer is scalar-only) — parse back and hold the same
    // invariants: sorted, unique, df == length
    val out = q("q118_inverted_index")
      .as[(String, Long, String)].collect()
    assert(out.nonEmpty)
    assert(out.forall { case (_, df, ps) =>
      val p = ps.split(',').map(_.toLong).toSeq
      df == p.length && p == p.sorted && p.distinct.length == p.length })
  }

  test("hourly gaps: arithmetic identity and grid membership") {
    val out = q("q200_hourly_gaps")
      .select("event_type", "n_expected", "n_present", "n_missing")
      .as[(String, Long, Long, Long)].collect()
    assert(out.length == 5)
    assert(out.forall { case (_, exp, pres, miss) =>
      miss == exp - pres && pres >= 1 && miss >= 0 && pres <= exp })
  }

  test("drift: l1 bounded by 2M ppm, totals partition the corpus") {
    val out = q("q201_dist_drift")
      .as[(String, Long, Long, Long)].collect()
    assert(out.length == 5)
    // L1 of two ppm distributions is at most 2,000,000 (disjoint
    // support); >= 0 trivially. ppm floor-division undercounts at most
    // #bins ppm, never over.
    assert(out.forall { case (_, na, nb, l1) =>
      l1 >= 0 && l1 <= 2000000 && na > 0 && nb > 0 })
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(out.map(r => r._2 + r._3).sum == total)
  }

  test("bpe merges: 2-char pairs, counts non-increasing, weighted by token freq") {
    val out = q("q203_bpe_merges").as[(String, Long)].collect()
    assert(out.length == 10)
    assert(out.forall { case (p, c) => p.length == 2 && c > 0 })
    assert(out.map(_._2).sliding(2).forall(w => w(0) >= w(1)))
  }

  test("lm score: every doc scored, ppm bounded, pairs = tokens - 1") {
    graft.functions.TextNative.register(spark)
    val out = q("q204_lm_score").as[(Long, Long, Long)].collect()
    assert(out.length == 500)
    assert(out.forall { case (_, np, s) => np >= 1 && s > 0 && s <= 1000000 })
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), expr("size(graft_tokens(text))").as("nt"))
      .as[(Long, Int)].collect().toMap
    assert(out.forall { case (id, np, _) => np == toks(id) - 1 })
  }

  test("greedy cover: gains non-increasing, cum is the running sum, round-1 argmax") {
    val out = q("q202_greedy_cover")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.length == 5)
    assert(out.map(_._1).toSeq == (1 to 5))
    // submodularity: the best marginal gain can only shrink as coverage grows
    assert(out.sliding(2).forall(w => w(0)._3 >= w(1)._3))
    assert(out.scanLeft(0L)(_ + _._3).tail.sameElements(out.map(_._4)))
    // round 1 is the plain argmax over distinct per-doc gram counts
    graft.functions.TextNative.register(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val counts = docs.select(col("doc_id"), explode(expr(
      "transform(sequence(1, greatest(size(graft_tokens(text)) - 3, 1)), " +
        "i -> concat_ws(' ', slice(graft_tokens(text), i, 4)))")).as("g"))
      .filter(expr("size(split(g, ' ')) = 4")).distinct()
      .groupBy("doc_id").count()
      .orderBy(col("count").desc, col("doc_id")).limit(1)
      .as[(Long, Long)].collect().head
    assert((out.head._2, out.head._3) == counts)
  }

  test("dup spans: counts bounded, runs imply shared spans, short docs zeroed") {
    val out = q("q195_dup_spans")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 500)
    // n_dup never exceeds n_grams; a max run implies at least one dup
    // position and is at least gram width (4 tokens) when present
    assert(out.forall { case (_, ng, nd, mr) =>
      nd <= ng && (if (nd == 0) mr == 0 else mr >= 4 && mr <= ng + 3) })
    // the synthetic corpus genuinely contains cross-doc repeats
    assert(out.exists(_._3 > 0))
    // re-derive n_dup independently: positional grams joined against
    // the set of grams seen in >= 2 distinct docs, counted per doc
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    graft.functions.TextNative.register(spark)
    val pos = docs.select(col("doc_id"), explode(expr(
      "transform(sequence(1, greatest(size(graft_tokens(text)) - 3, 1)), " +
        "i -> concat_ws(' ', slice(graft_tokens(text), i, 4)))")).as("g"))
      .filter(length(col("g")) > 0)
      .filter(expr("size(split(g, ' ')) = 4"))
    val shared = pos.select("doc_id", "g").distinct()
      .groupBy("g").count().filter(col("count") >= 2).select("g")
    val nd2 = pos.join(shared, "g").groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(out.forall { case (id, _, nd, _) =>
      nd2.getOrElse(id, 0L) == nd })
  }

  test("latest-per-key argmax agrees with the window spelling") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val viaWindow = orders
      .withColumn("rn", row_number().over(win)).filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderdate").as("last_date"),
        col("o_orderkey").as("last_key"),
        col("o_totalprice").as("last_price"))
    val viaAgg = q("q119_latest_order")
    assert(viaAgg.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("shard assignment: stable, in range, and partitionBy lays out shard dirs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sharded = graft.operators.Sampling.assignShard(docs, "doc_id", 8)
    val shards = sharded.select("shard").distinct().as[Int].collect().toSet
    assert(shards.subsetOf((0 until 8).toSet) && shards.size > 1)
    // pure function of the id: re-deriving moves nothing
    assert(graft.operators.Sampling.assignShard(docs, "doc_id", 8)
      .exceptAll(sharded).isEmpty)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shards").toString
    sharded.select("doc_id", "shard")
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    val dirs = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    assert(dirs == shards.map(s => s"shard=$s"))
    graft.queries.Ingest.cleanupNow(dir)
  }

  test("group quota sample: exactly min(K, stratum size) rows per stratum, stable") {
    val out = q("q124_group_quota")
      .select("lang", "doc_id").as[(String, Long)].collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sizes = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val taken = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(taken == sizes.map { case (l, n) => l -> math.min(40L, n) })
    // pure function of the ids: a second run picks the same docs
    assert(q("q124_group_quota").select("lang", "doc_id")
      .as[(String, Long)].collect().toSet == out.toSet)
  }

  test("winsorize: bounds are group order statistics, clip fraction ~5% per tail") {
    val out = q("q125_winsorize")
      .select("g", "x_clip").as[(String, Double)].collect()
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag").as("g"),
        col("l_extendedprice").as("x"))
      .as[(String, Double)].collect()
    raw.groupBy(_._1).foreach { case (g, rows) =>
      val xs = rows.map(_._2).sorted
      val n = xs.length
      val lo = xs((n * 5 + 99) / 100 - 1)
      val hi = xs((n * 95 + 99) / 100 - 1)
      val clipped = out.filter(_._1 == g).map(_._2)
      assert(clipped.forall(v => v >= lo && v <= hi))
      // each tail clamps at most ~5% of the group (+ ties at the bound)
      assert(clipped.count(_ == lo) >= n * 5 / 100)
      assert(clipped.count(_ == hi) >= n * 5 / 100)
      assert(clipped.count(v => v == lo || v == hi) <= n * 11 / 100)
    }
  }

  test("equi-depth bins: sizes within 1, ranges ordered, totals preserved") {
    val out = q("q127_equidepth_bins")
      .select("g", "bin", "n", "lo", "hi")
      .as[(String, Long, Long, Double, Double)].collect()
    val total = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(out.map(_._3).sum == total)
    out.groupBy(_._1).foreach { case (_, bins) =>
      val sorted = bins.sortBy(_._2)
      assert(sorted.map(_._2) sameElements Array(1L, 2L, 3L, 4L))
      assert(sorted.map(_._3).max - sorted.map(_._3).min <= 1,
        "ntile bins must differ by at most one row")
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._5 <= b._4, "bin ranges must be non-decreasing") }
    }
  }

  test("sliding windows: every event lands in exactly two windows") {
    val out = q("q128_sliding_counts")
      .agg(sum("cnt")).as[Long].head()
    val events = graft.sources.Tables.read(spark, sf, "events").count()
    assert(out == 2 * events)
  }

  test("centroid classification: confusion totals = test set, windowless broadcast plan") {
    val df = q("q129_centroid_classify")
    val out = df.select("label", "pred", "n")
      .as[(Long, Long, Long)].collect()
    val test = graft.sources.Tables.read(spark, sf, "embeddings")
      .filter(col("vec_id") % 5 === 0).count()
    assert(out.map(_._3).sum == test)
    val labels = (0L to 9L).toSet
    assert(out.forall(r => labels.contains(r._1) && labels.contains(r._2)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastExchange"),
      s"centroids must broadcast and the argmax must be windowless:\n$plan")
  }

  test("co-occurrence counts match the self-join spelling") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val toks = docs.select(col("doc_id"), explode(expr(
        graft.functions.TextExpr.toksSpark("text"))).as("tok"))
      .distinct()
    val selfJoin = toks.as("x").join(toks.as("y"),
        col("x.doc_id") === col("y.doc_id") &&
          col("x.tok") < col("y.tok"))
      .groupBy(col("x.tok").as("a"), col("y.tok").as("b"))
      .agg(count(lit(1)).as("n_docs"))
    val rowLocal = q("q121_cooccurrence")
    assert(rowLocal.exceptAll(selfJoin).isEmpty &&
      selfJoin.exceptAll(rowLocal).isEmpty)
  }

  test("bloomPrune: same result as the uncached bit set, cache released " +
      "with its scope") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val urgent = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val (k, m) = (3, 1 << 18)
    val bits = Sketches.bloomBuild(urgent, "o_orderkey", k, m)
    // the same k semi-joins against the bit set, uncached
    val plain = (0 until k).foldLeft(li) { (df, i) =>
      df.join(bits.withColumnRenamed("pos", s"_bp$i"),
        Sketches.position(col("l_orderkey"), i, m) === col(s"_bp$i"),
        "left_semi")
    }
    val want = plain.count()
    val held = operators.Scratch.scoped(spark) {
      val pruned = Sketches.bloomPrune(li, col("l_orderkey"), bits, k, m)
      assert(pruned.count() == want)
      spark.sparkContext.getPersistentRDDs.size
    }
    assert(spark.sparkContext.getPersistentRDDs.size < held,
      "the scope must drop the cached bit set")
  }

  test("snapshot diff round-trips: applyChanges(old, diff(old, new)) == new") {
    val old = sources.Tables.read(spark, sf, "orders")
    // a second-generation state: re-priced, deleted, AND re-keyed rows
    val changed = operators.Merge.applyChanges(old,
      old.filter($"o_orderkey" % 7 === 1)
        .withColumn("o_orderpriority", org.apache.spark.sql.functions.lit("9-X"))
        .withColumn("op", org.apache.spark.sql.functions.lit("upsert"))
        .unionAll(old.filter($"o_orderkey" % 7 === 2)
          .withColumn("op", org.apache.spark.sql.functions.lit("delete"))),
      "o_orderkey")
    val diff = operators.Merge.diffSnapshots(old, changed, "o_orderkey")
    // the diff is MINIMAL: only the touched keys appear
    assert(diff.filter($"o_orderkey" % 7 === 0).count() == 0)
    val replayed = operators.Merge.applyChanges(old, diff, "o_orderkey")
    assert(replayed.exceptAll(changed).count() == 0 &&
      changed.exceptAll(replayed).count() == 0,
      "diff + apply must reproduce the new snapshot exactly")
  }

  test("orc round-trip is lossless row-for-row") {
    q("q122_orc_roundtrip").collect()
    val back = spark.read
      .orc(graft.queries.Ingest.stagingDir(spark, "q122_orc"))
    val orig = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_returnflag", "l_linestatus")
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("csv and json round-trips are lossless row-for-row") {
    // run the queries (they write + re-read), then compare the staged
    // files' contents against the original rows directly
    q("q113_csv_roundtrip").collect()
    q("q114_json_roundtrip").collect()
    val csvBack = spark.read.option("header", "true")
      .schema("o_orderkey BIGINT, o_orderpriority STRING, o_custkey BIGINT")
      .csv(graft.queries.Ingest.stagingDir(spark, "q113_csv"))
      .as[(Long, String, Long)].collect().toSet
    val csvOrig = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderpriority", "o_custkey")
      .as[(Long, String, Long)].collect().toSet
    assert(csvBack == csvOrig)
    val jsonBack = spark.read
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey BIGINT")
      .json(graft.queries.Ingest.stagingDir(spark, "q114_json"))
      .as[(Long, String, Long)].collect().toSet
    val jsonOrig = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_name", "c_nationkey")
      .as[(Long, String, Long)].collect().toSet
    assert(jsonBack == jsonOrig)
  }

  test("stream-stream join run matches the batch interval join") {
    val got = q("q105_stream_join")
      .select("signup_id", "purchase_id").as[(Long, Long)].collect().toSet
    val ev = graft.sources.Tables.read(spark, sf, "events")
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("su"),
        col("ts").as("sts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        col("ts").as("pts"))
    val want = p.join(s, col("pu") === col("su") &&
        col("pts") >= col("sts") &&
        col("pts") < col("sts") + expr("INTERVAL 1 HOUR"))
      .select("signup_id", "purchase_id").as[(Long, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
  }
}
