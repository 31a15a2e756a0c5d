package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Scale-mechanics evidence: bucketed co-located joins, partitioned-sink
  * pruning, SQL extensions, streaming dedup. */
class ScaleSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed tables join with zero shuffle exchanges") {
    val o = sources.Tables.read(spark, sf, "orders")
    val c = sources.Tables.read(spark, sf, "customer")
    // clean any stale managed-table locations from prior JVMs
    for (t <- Seq("orders_b", "cust_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    sources.Tables.writeBucketed(o, "orders_b", Seq("o_custkey"), 8)
    sources.Tables.writeBucketed(c, "cust_b", Seq("c_custkey"), 8)
    val ob = spark.table("orders_b")
    val cb = spark.table("cust_b")
    val joined = ob.join(cb, ob("o_custkey") === cb("c_custkey"))
    val shuffles = joined.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty,
      s"bucketed join should not shuffle, found: $shuffles")
    assert(joined.count() ==
      o.join(c, o("o_custkey") === c("c_custkey")).count())
  }

  test("AQE skew-join splits a deliberately skewed key at runtime") {
    // The receipt behind SURVEY §0's "AQE plays the reference's
    // histogram balancer" claim (src/partition.cpp:1444-1482 balances
    // shuffle buckets by a global key histogram): on a join whose left
    // side piles ~all rows onto one key, AQE's OptimizeSkewedJoin must
    // split the oversized partition at RUNTIME — no manual salting
    // (q70/q104 prove salting==plain separately). Thresholds are
    // lowered so a test-sized corpus trips the same code path a 100 TB
    // skewed key would.
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // 300k-row left side, ~70% on key 0; right side one row per key
      val left = spark.range(300000).select(
        when(pmod(col("id"), lit(10)) < 7, lit(0L))
          .otherwise(pmod(col("id"), lit(1000))).as("k"),
        col("id").as("v"))
      val right = spark.range(1000).select(
        col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // collect() (not count()) so THIS queryExecution is the one that
      // runs to a final adaptive plan — count() plans its own query
      val n = joined.collect().length
      assert(n == 300000, s"join lost rows: $n")
      // after execution the adaptive plan is final; the skew split is
      // visible as skew=true on the join node
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not activate:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partitioned sink enables partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val li = sources.Tables.read(spark, sf, "lineitem")
    sources.Tables.writePartitioned(li, dir, Seq("l_returnflag"))
    val pruned = spark.read.parquet(dir).filter($"l_returnflag" === "R")
    // runtime ground truth: every file actually scanned lives under the
    // R partition directory
    val filesRead = pruned.select(input_file_name()).distinct()
      .as[String].collect()
    assert(filesRead.nonEmpty && filesRead.forall(_.contains("l_returnflag=R")))
    assert(pruned.count() == li.filter($"l_returnflag" === "R").count())
  }

  test("GraftExtensions exposes graft_* functions to plain SQL sessions") {
    val old = spark // keep the shared session to restore
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]").appName("graft-ext")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2.sql("SELECT graft_dot(array(1L,2L), array(3L,4L)) AS d")
        .head().getLong(0) == 11L)
      assert(s2.sql("SELECT graft_tokens('The FAST, dog!') AS t")
        .head().getSeq[String](0) == Seq("the", "fast", "dog"))
      assert(s2.sql("SELECT size(graft_minhash('a b c d e', 4)) AS n")
        .head().getInt(0) == 4)
      assert(s2.sql("SELECT graft_rollhash('ab') AS h")
        .head().getLong(0) == (97L * 31 + 98))
      assert(s2.sql("SELECT graft_ngrams('a b c', 2) AS g")
        .head().getSeq[String](0) == Seq("a b", "b c"))
      assert(s2.sql("SELECT size(graft_lshsig(array(1L, 2L), 16)) AS n")
        .head().getInt(0) == 16)
    } finally {
      SparkSession.setActiveSession(old)
      SparkSession.setDefaultSession(old)
    }
  }

  test("streaming dedup drops replayed events") {
    // stage the same events file twice -> every event_id duplicated
    val dir = java.nio.file.Files.createTempDirectory("graft-dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"))
    val stream = streaming.EventStreams.fromDirectory(spark, dir.toString)
    val q = streaming.EventStreams.dedupedEvents(stream)
      .writeStream.format("memory").queryName("dedup").outputMode("append")
      .start()
    q.processAllAvailable(); q.stop()
    val n = sources.Tables.read(spark, sf, "events")
      .select("event_id").distinct().count()
    assert(spark.table("dedup").count() == n)
  }

  test("csv/json/parquet sinks round-trip") {
    val base = java.nio.file.Files.createTempDirectory("graft-io").toString
    val src = sources.Tables.read(spark, sf, "nation")
    sources.Tables.writeParquet(src, s"$base/p")
    sources.Tables.writeCsv(src, s"$base/c")
    sources.Tables.writeJson(src, s"$base/j")
    val p = spark.read.parquet(s"$base/p")
    val c = sources.Tables.readCsv(spark, s"$base/c")
    val j = sources.Tables.readJson(spark, s"$base/j")
    assert(p.exceptAll(src).count() == 0 && src.exceptAll(p).count() == 0)
    assert(c.count() == src.count() && j.count() == src.count())
    // csv/json round-trip preserves values modulo column order
    val cols = src.columns.sorted.toSeq
    assert(c.selectExpr(cols: _*).exceptAll(src.selectExpr(cols: _*)).count() == 0)
    assert(j.selectExpr(cols: _*).exceptAll(src.selectExpr(cols: _*)).count() == 0)
  }

  test("corpus-filter pipeline plans exactly one documents scan") {
    val plan = SparkEntry.queries("q67_corpus_filter")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1,
      s"one-pass curation must read the corpus once, found $scans scans")
  }

  test("high-cardinality window needs one exchange and no extra sort layers") {
    // string count: the AQE wrapper hides children from SparkPlan.collect
    val plan = SparkEntry.queries("q64_window_highcard")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"window over one partitioning should shuffle once, found $exchanges in:\n$plan")
  }

  test("decontamination broadcasts the benchmark grams, never shuffles the corpus side") {
    val plan = SparkEntry.queries("q116_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    // the gram match must be a broadcast semi join (benchmark side is
    // tiny by contract) — if it ever degrades to a shuffled join on g,
    // the whole exploded corpus gram stream would exchange
    assert("BroadcastHashJoin \\[g#".r.findFirstIn(plan).isDefined
        && plan.contains("LeftSemi"),
      s"gram filter must be a broadcast LEFT SEMI join:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin) \\[g#".r.findFirstIn(plan).isEmpty,
      s"no shuffled join on the gram column is allowed:\n$plan")
  }

  test("latest-per-key argmax is one hash aggregate, no window sort") {
    val plan = SparkEntry.queries("q119_latest_order")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "argmax spelling must not fall back to a window")
    // struct max buffers are sort-based, but the scale property is the
    // map-side combine: partial_max BEFORE the exchange means the
    // shuffle carries one row per (partition, key), not every row
    assert(plan.contains("partial_max"),
      s"expected map-side partial aggregation in:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"one shuffle on the group key expected:\n$plan")
  }

  test("bucketed join: no Exchange and no Sort under the merge join") {
    val df = SparkEntry.queries("q198_bucketed_join")(spark, sf)
    df.collect() // materialize through AQE so the final plan is real
    val plan = df.queryExecution.executedPlan.toString
    // matching bucketing + in-bucket sort on both sides: the join zips
    // buckets locally. The only exchange allowed is the post-join
    // re-key onto the 5-row priority aggregate.
    val joinPart = plan.split("SortMergeJoin").last
    assert(plan.contains("SortMergeJoin"),
      s"merge hint should plan a sort-merge join:\n$plan")
    assert(!joinPart.contains("Exchange"),
      s"bucketed sides must not re-shuffle:\n$plan")
    assert(!joinPart.contains("Sort "),
      s"bucketed sortBy must satisfy the join ordering:\n$plan")
  }

  test("co-occurrence pairs are generated in-row: no join anywhere in the plan") {
    val plan = SparkEntry.queries("q121_cooccurrence")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"),
      s"pair generation must be row-local, not a self-join:\n$plan")
  }

  test("trained k-means centroids are run-to-run deterministic") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    def run() = {
      val prep = operators.Similarity.prepare(e, "embedding")
        .select($"vec_id", $"q", $"n2")
      operators.Similarity.kmeansCentroids(prep, "vec_id", k = 8, iters = 2)
        .orderBy("cent_id").collect()
        .map(r => (r.getAs[Int]("cent_id"), r.getAs[Seq[Long]]("cq"), r.getAs[Long]("cn2")))
        .toSeq
    }
    assert(run() == run())
  }

  test("incremental dedup probes the band index with zero corpus-side exchange") {
    val all = sources.Tables.read(spark, sf, "documents")
    val corpus = all.filter($"doc_id" % 5 =!= 0)
    val batch = all.filter($"doc_id" % 5 === 0)
    spark.sql("DROP TABLE IF EXISTS band_idx_spec")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "band_idx_spec")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    operators.Dedup.writeBandIndex(corpus, "doc_id", "text",
      "band_idx_spec", nBuckets = 8)
    // Force the bucket-aligned (non-broadcast) regime — the one that
    // matters when the batch outgrows the broadcast threshold: the only
    // shuffle may be the BATCH side aligning to the corpus buckets.
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpusBands = spark.table("band_idx_spec")
      val batchBands = operators.Dedup.bandTable(batch, "doc_id", "text")
      val cand = batchBands.as("x").join(corpusBands.as("y"),
        $"x.bi" === $"y.bi" && $"x.bv" === $"y.bv")
      // string count: the AQE wrapper hides children from SparkPlan.collect
      val plan = cand.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected only the batch-side exchange, found $exchanges in:\n$plan")
      // the one exchange hashes the BATCH bands, not the corpus scan:
      // the corpus side reads its buckets in place
      assert(plan.contains("Bucketed: true"),
        s"corpus scan should use buckets:\n$plan")
      // end-to-end: incremental result == full recompute restricted to
      // pairs touching the batch
      val inc = operators.Dedup.incrementalPairs(batch, "band_idx_spec",
        all, "doc_id", "text")
      val full = operators.Dedup.minhashPairs(all, "doc_id", "text")
        .filter($"ida" % 5 === 0 || $"idb" % 5 === 0)
      assert(inc.exceptAll(full).count() == 0)
      assert(full.exceptAll(inc).count() == 0)
      // replay safety: probing a batch whose ids are ALREADY in the
      // index must not emit jac=1 self-pairs (which would make
      // admitBatch silently drop the whole replayed batch)
      operators.Dedup.writeBandIndex(all, "doc_id", "text",
        "band_idx_replay", nBuckets = 8)
      val replay = operators.Dedup.incrementalPairs(batch,
        "band_idx_replay", all, "doc_id", "text")
      assert(replay.filter($"ida" === $"idb").count() == 0)
      val admitted = operators.Dedup.admitBatch(batch, replay, "doc_id")
      assert(admitted.count() > 0,
        "a replayed batch must not be wholly rejected by self-pairs")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
  }

  test("persisted IVF index: query path launches no training jobs") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    spark.sql("DROP TABLE IF EXISTS ivf_spec_centroids")
    spark.sql("DROP TABLE IF EXISTS ivf_spec_cells")
    for (t <- Seq("ivf_spec_centroids", "ivf_spec_cells")) {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    // build once (this DOES run k-means jobs)...
    operators.Similarity.writeIvfIndex(e, "vec_id", "embedding",
      "ivf_spec", nCentroids = 8, iters = 2, nBuckets = 8)
    // ...query many: plan construction must launch ZERO jobs (the
    // trained path eagerly materializes k-means iterations here)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val qids = e.select($"vec_id").filter($"vec_id".between(100, 109))
    val fromIndex =
      try {
        val df = operators.Similarity.ivfTopKFromIndex(
          spark, "ivf_spec", qids, "vec_id", k = 5, nprobe = 2)
        Thread.sleep(500) // listener bus is async
        assert(jobs == 0, s"query-path plan construction ran $jobs jobs")
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    // the persisted layout answers exactly like a fresh train
    val trained = operators.Similarity.ivfTopKTrained(e, qids,
      "vec_id", "embedding", k = 5, nCentroids = 8, iters = 2, nprobe = 2)
    assert(fromIndex.exceptAll(trained).count() == 0)
    assert(trained.exceptAll(fromIndex).count() == 0)
    assert(fromIndex.count() > 0)
  }

  test("persisted PQ codebook: encode path launches no training jobs") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    // build once (this DOES run the Lloyd jobs)...
    operators.Similarity.writePqCodebook(
      e.filter($"vec_id" % 4 < 3), "vec_id", "embedding",
      m = 8, k = 8, iters = 2, subLen = 8, "pq_spec_codebook")
    // ...encode many batches: plan construction against the saved
    // table must launch ZERO jobs (pqTrain eagerly cuts each
    // iteration here, so an accidental retrain is visible as jobs)
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val batch = e.filter($"vec_id" % 4 === 3)
    val encoded =
      try {
        val df = operators.Similarity.pqEncodeAgainst(
          batch, "vec_id", "embedding", m = 8, subLen = 8,
          "pq_spec_codebook")
        Thread.sleep(500) // listener bus is async
        assert(jobs == 0, s"encode-path plan construction ran $jobs jobs")
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(encoded.count() == batch.count())
  }

  test("k-means plan size stays constant across iterations (lineage cut)") {
    val e = sources.Tables.read(spark, sf, "embeddings")
    val prep = operators.Similarity.prepare(e, "embedding")
      .select($"vec_id", $"q", $"n2")
    // Without the per-iteration cut, each loop nests the previous plan
    // inside another join+agg and the logical tree grows without bound;
    // with it, iters=8 both completes promptly and ends at a constant
    // single-node plan (the checkpoint scan).
    val cent = operators.Similarity.kmeansCentroids(prep, "vec_id", k = 4, iters = 8)
    assert(cent.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD],
      s"expected a lineage-cut scan, got:\n${cent.queryExecution.logical}")
    assert(cent.count() == 4)
  }

  test("pageRank plan size stays constant across iterations (lineage cut)") {
    val edges = operators.Graph.coEdges(
      sources.Tables.read(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey"),
      "l_partkey", "l_suppkey")
    // same discipline as k-means: every iteration ends at a
    // lineage-cut scan, so iters=8 neither balloons the logical tree
    // nor re-derives earlier iterations
    val pr = operators.Graph.pageRank(edges, "src", "dst", iters = 8)
    assert(pr.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD],
      s"expected a lineage-cut scan, got:\n${pr.queryExecution.logical}")
    assert(pr.count() > 0)
  }

  test("compaction shrinks file count, preserves content, never shuffles") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
      .resolve("t").toString
    val src = sources.Tables.read(spark, sf, "orders")
    src.repartition(32).write.mode("overwrite").parquet(dir)
    def parts(p: String) = new java.io.File(p).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(parts(dir) == 32)
    sources.Tables.compact(spark, dir, targetFiles = 4)
    assert(parts(dir) <= 4, "compaction must merge small files")
    val after = spark.read.parquet(dir)
    assert(after.exceptAll(src).count() == 0 &&
      src.exceptAll(after).count() == 0, "compaction changed content")
  }

  test("z-ordered layout bounds BOTH dimensions per partition") {
    val li = sources.Tables.read(spark, sf, "lineitem")
    val z = operators.Layout.zOrdered(li, "l_partkey", "l_suppkey",
        bits = 8, nFiles = 16)
      .select(expr("l_partkey % 256").as("pa"),
        expr("l_suppkey % 256").as("sb"),
        expr("spark_partition_id()").as("pid"))
      .groupBy("pid")
      .agg(max($"pa") - min($"pa"), max($"sb") - min($"sb"))
      .as[(Int, Long, Long)].collect()
    assert(z.length > 8, "range partitioner should produce ~nFiles partitions")
    // each range partition fixes the top z-bits, so both dimensions are
    // confined to a fraction of their global 0..255 range; sampled
    // boundaries can straddle one z-cell, hence the slack vs the
    // theoretical 64. A plain repartition would give ~255 everywhere.
    val paMean = z.map(_._2).sum.toDouble / z.length
    val sbMean = z.map(_._3).sum.toDouble / z.length
    assert(paMean < 110 && sbMean < 110,
      s"mean per-partition ranges pa=$paMean sb=$sbMean — z-locality lost")
  }

  test("incremental image dedup probes the aHash index with zero corpus-side exchange") {
    // q188's plan evidence, mirroring the band-index test: with
    // broadcast off (the at-scale regime), the only hash exchange in
    // the probe join is the BATCH chunk side aligning to the corpus
    // buckets — the persisted index is read in place.
    val all = sources.Tables.read(spark, sf, "documents").limit(120)
    val hashes = operators.Multimodal.aHash(
      operators.Multimodal.synthesizePngs(all, "doc_id")).toDF
    spark.sql("DROP TABLE IF EXISTS ahash_idx_spec")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      "ahash_idx_spec")
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    val corpusH = hashes.filter($"doc_id" % 5 =!= 0)
    val batchH = hashes.filter($"doc_id" % 5 === 0)
    operators.Multimodal.writeAHashIndex(corpusH, "ahash_idx_spec",
      nBuckets = 8)
    val savedBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val inc = operators.Multimodal.incrementalAHashPairs(
        batchH, "ahash_idx_spec")
      val plan = inc.queryExecution.executedPlan.toString
      // exchanges: batch side of the index probe + the batch-batch
      // self-join's two sides + the final distinct — but NONE may hash
      // the bucketed corpus scan, which must read its buckets in place
      assert(plan.contains("Bucketed: true"),
        s"corpus aHash index scan should use buckets:\n$plan")
      // end-to-end: incremental == one-shot pairs restricted to the batch
      val full = operators.Multimodal.aHashPairs(hashes)
        .filter($"ida" % 5 === 0 || $"idb" % 5 === 0)
      assert(inc.exceptAll(full).count() == 0 &&
        full.exceptAll(inc).count() == 0,
        "incremental aHash pairs diverged from one-shot restriction")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
  }

  test("bfsDistances shuffle fallback returns identical distances") {
    // the per-hop broadcast gate (Graph.bfsDistances broadcastLimit):
    // forcing the limit to 0 exercises the shuffle-join path a
    // too-large reachable set takes at scale — the distances must be
    // identical to the broadcast path's
    val rel = sources.Tables.read(spark, sf, "lineitem")
      .select($"l_partkey", $"l_suppkey").limit(2000)
    val edges = operators.Graph.bipartiteEdges(rel, "l_partkey", "l_suppkey")
    val bcast = operators.Graph.bfsDistances(
      edges, "src", "dst", Seq(2L), maxHops = 3)
    val shuf = operators.Graph.bfsDistances(
      edges, "src", "dst", Seq(2L), maxHops = 3, broadcastLimit = 0L)
    assert(bcast.exceptAll(shuf).count() == 0 &&
      shuf.exceptAll(bcast).count() == 0,
      "shuffle-path BFS diverged from broadcast-path BFS")
  }

  test("round-7 analytics windows all partition (no global sorts)") {
    // the market/temporal analytics family promises every running-sum
    // or rank window partitions (by nation, type, user, cohort …) so
    // no reducer ever sorts more than one partition's slice — pin it
    // on the optimized plan, where an empty partitionSpec is the
    // single-partition scale-killer ExplainAudit also scans for
    // (q233's day-offset cumulative window is the one deliberate,
    // bounded exception)
    val names = Seq("q224_event_transitions", "q225_cusum_changepoint",
      "q227_abc_segmentation", "q228_diurnal_profile", "q229_wow_growth",
      "q231_gini_concentration", "q232_rfm_segments", "q242_bounce_rate",
      "q243_cohort_ltv", "q244_linear_attribution")
    for (n <- names) {
      val globals = SparkEntry.queries(n)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
      assert(globals.isEmpty, s"$n plans a global (unpartitioned) window")
    }
  }

  test("round-8 analytics windows all partition (no global sorts)") {
    // same pin for the round-8 family: session KPIs partition on
    // user_id, seasonality on event_type, tie-aware top-k on n_name,
    // tf-idf/cluster top-k on doc_id/cent_id, SCD-2 on o_orderkey
    val names = Seq("q249_active_streaks", "q250_asof_nearest",
      "q253_tfidf_terms", "q257_scd2_pit", "q258_weekday_seasonality",
      "q259_session_conversion", "q260_topk_ties",
      "q261_concurrent_sessions", "q263_cluster_terms")
    for (n <- names) {
      val globals = SparkEntry.queries(n)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
      assert(globals.isEmpty, s"$n plans a global (unpartitioned) window")
    }
  }

  test("nearest as-of computes both carries under ONE exchange") {
    // q250's scale promise: the backward and forward carry windows
    // share the _k hash partitioning — two Sorts, one Exchange; a
    // second exchange would mean the union is reshuffled between the
    // carries
    val plan = SparkEntry.queries("q250_asof_nearest")(spark, sf)
      .queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one exchange for the union's window partitioning + one for the
    // right side's (user, ts) dedup agg — nothing between the windows
    assert(exchanges.size <= 2,
      s"expected <=2 shuffles (dedup agg + ONE window partitioning), " +
        s"got ${exchanges.size}:\n$plan")
  }

  test("fulfillment snapshot reduces lineitem to order grain before the join") {
    // q237's scale property: the per-order min/max ship dates combine
    // map-side (partial_min/partial_max BEFORE the exchange), so the
    // join input is order-grain — the shuffle never carries raw lines
    val plan = SparkEntry.queries("q237_fulfillment_snapshot")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") && plan.contains("partial_max"),
      s"expected map-side partial min/max under the join:\n$plan")
  }

  test("plan audit: zero un-allow-listed scale-killers over the FULL inventory") {
    // tools.ExplainAudit --scan, wired into CI (VERDICT r8 directive 5):
    // every CartesianProduct/BroadcastNestedLoopJoin and every
    // single-partition window in any of the 267 query plans must carry
    // an allow-list reason — a stray broadcast or global sort added by
    // a future change turns this test red instead of relying on a
    // pre-commit habit. Construction errors fail too (a scan that skips
    // queries would pass vacuously).
    val findings = tools.ExplainAudit.scan(spark, sf)
    val bad = findings.filter(l => l.contains("[REVIEW]") || l.contains("ERROR"))
    assert(bad.isEmpty,
      s"plan audit found un-allow-listed scale risks:\n${bad.mkString("\n")}")
  }

  test("plan audit: the invariant-lambda detector catches the inlining trap") {
    // Detector regression (r11): the PRE-FIX q219 winnow spelling must
    // be flagged. Mechanism (established by plan read, not folklore):
    // CollapseProject actually REFUSES to inline a non-cheap alias
    // referenced twice, but PushDownPredicates substitutes aliases
    // into pushed filter predicates unconditionally — the explode's
    // inferred size(fps)>0 / isnotnull filter lands below the
    // projections with graft_tokens(text) textually inlined INSIDE the
    // window lambda bodies, i.e. re-tokenizing per element per row
    // (the O(tokens²) q219 sf1 stall). The fused spelling must be
    // clean. Without this case the audit above could pass vacuously if
    // a Spark upgrade changed the shapes it matches on.
    graft.functions.TextNative.register(spark)
    val docs = sources.Tables.read(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val trapped = docs
      .withColumn("toksw", expr("graft_tokens(text)"))
      .withColumn("gh", expr(
        "transform(CASE WHEN size(toksw) >= 3 THEN " +
          "transform(sequence(1, size(toksw) - 2), i -> concat_ws(' ', " +
          "element_at(toksw, i), element_at(toksw, i+1), " +
          "element_at(toksw, i+2))) ELSE toksw END, x -> md5(x))"))
      .withColumn("fps", expr(
        """array_distinct(CASE
          | WHEN size(gh) >= 4 THEN transform(
          |   sequence(1, size(gh) - 3),
          |   i -> array_min(slice(gh, i, 4)))
          | WHEN size(gh) > 0 THEN array(array_min(gh))
          | ELSE array() END)""".stripMargin))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
    assert(tools.ExplainAudit.invariantLambdaExprs(trapped).nonEmpty,
      "the known-bad pushed-filter inlining must be flagged")
    val fused = docs.select(col("doc_id"),
      explode(expr("graft_winnow(text, 4)")).as("fp"))
    assert(tools.ExplainAudit.invariantLambdaExprs(fused).isEmpty,
      "the fused spelling must be clean")
  }

  test("Par.widen: repairs a byte-starved plan, no-ops below the floor " +
      "and on a pre-split one") {
    val target = spark.sparkContext.defaultParallelism
    val starved = sources.Tables.read(spark, sf, "documents")
    // gate-scale input (~0.1 MB): UNDER the 2 MB floor → untouched.
    // The r14 attribution A/B measured the floorless widen costing
    // ~20 s across the sf0.1 suite while repairing nothing — tiny
    // inputs have tiny per-row compute, so the exchange + per-call
    // physical-planning overhead is all cost.
    assert(operators.Par.widen(starved) eq starved,
      "an input below the widen floor must pass through untouched")
    // same input with the floor lowered beneath it: byte-starved AND
    // under-split → widened to one split per core (the sf10 repair)
    spark.conf.set(operators.Par.WidenFloorKey, "1024")
    try {
      assert(operators.Par.widen(starved).rdd.getNumPartitions == target,
        "a byte-starved, under-split input above the floor must " +
          "repartition to one split per core")
      // tiny but ALREADY split at/above target: bytes alone said
      // "repartition", the partition-count gate must say no (VERDICT
      // r13 directive 6 — widen used to pay a shuffle for nothing).
      // eq-reference: the gated path returns the input frame itself.
      val preSplit = starved.repartition(target)
      assert(operators.Par.widen(preSplit) eq preSplit,
        "an input already planned at >= target/2 partitions must " +
          "pass through untouched")
      // kill switch: a floor above every input disables the repair
      spark.conf.set(operators.Par.WidenFloorKey, Long.MaxValue.toString)
      assert(operators.Par.widen(starved) eq starved,
        "a floor above the input must bypass the repair")
    } finally spark.conf.unset(operators.Par.WidenFloorKey)
  }
}
