package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}.
  *
  * Each query is materialized through the `noop` sink so the full plan
  * executes (a bare count() would let Catalyst prune most of the work).
  * A warmup action first absorbs session/codegen init so per-query times
  * measure the operators, not JVM startup.
  */
object Bench {

  /** Headline set: one per operator family — scan+agg, join+agg (the
    * reference Demo pipeline shape), sort/top-k, window, dedup (minhash
    * LSH one-shot + incremental), similarity (brute knn + the
    * corpus-wide LSH knn join), text stats, time bucketing, as-of,
    * iterative graph (PageRank), duplicated-span detection (positional
    * grams), co-bucketed join (index build + zero-exchange join),
    * iterative label propagation, LSH hard-negative mining, PQ
    * train+encode, rolling distinct users (dedup-then-fanout), and
    * multi-window RFM segmentation. q85 times the full incremental
    * cycle (index build + batch probe + verify); q211 times codebook
    * training AND corpus encoding. */
  val headline: Seq[String] = Seq(
    "q05_groupby_sum", "q07_join_inner", "q16_sort_topk", "q22_window",
    "q27_demo_pipeline", "q29_events_hourly", "q31_asof_join",
    "q32_text_stats", "q39_minhash_pairs", "q43_knn_brute",
    "q47_pricing_summary", "q49_local_supplier_volume",
    "q64_window_highcard", "q67_corpus_filter", "q85_incremental_dedup",
    "q116_decontaminate", "q119_latest_order", "q130_pagerank",
    "q135_ann_knn_join", "q195_dup_spans", "q198_bucketed_join",
    "q199_label_prop", "q205_hard_negatives", "q211_pq_encode",
    "q226_rolling_distinct", "q232_rfm_segments",
    // the scale-ADAPTIVE twins of q135/q205 (production-default
    // banding): identical work at gate scale (clamp), the honest
    // measurement at sf1/sf10 where the pinned 16/4 banding is
    // measured recall-blind — benching BOTH variants puts the
    // fixed-vs-adaptive wall-time comparison in every artifact.
    "q302_ann_adaptive", "q303_hard_negatives_adaptive")

  /** The documented high-variance family (VERDICT r16 #2): exactly the
    * six queries that moved >=1.3x between the r16 graded artifact and
    * the quiet triple at the SAME commit (cold page-cache/scratch draw
    * on the LSH/dedup family). Deliberately NOT wider: an r17 probe
    * that warmed 12 heads made the suite's in-JVM history longer and
    * q39's TIMED run slower (12.6 s vs its 6.2 s solo — accumulated
    * JVM state, not data coldness), eating the warm pass's own win.
    * These get BOTH stabilizers: one uncounted warm execution before
    * the timed loop (absorbs cold page cache / JIT), and a median of
    * 3 timed reps (absorbs the residual I/O draw — q85 persists a band
    * index to disk and was measured swinging 8.9→14.1 s WARM across
    * otherwise-identical fresh runs; a median shrugs one outlier while
    * best-of would understate a genuinely loaded machine). Every rep
    * lands in the diag artifact (query_runs).
    *
    * POLICY (r18, VERDICT r17 #7): this list is FROZEN — any change to
    * it (or to any other timing semantics in this file) requires an
    * explicit verdict directive and a disclosure in the round's
    * OPTIMIZATION notes, because editing it silently changes what the
    * round-over-round comparison measures. */
  val warmPassQueries: Seq[String] = Seq(
    "q29_events_hourly", "q85_incremental_dedup", "q119_latest_order",
    "q211_pq_encode", "q226_rolling_distinct",
    "q303_hard_negatives_adaptive")

  /** SPARK_GRAFT_WARMPASS_EXTRA parser (spec-pinned): a comma-separated
    * list of ADDITIONAL query names to stabilize (warm execution +
    * median-of-3), for variance that is SCALE-scoped rather than
    * universal — the r17 sf10 receipts caught q130_pagerank swinging
    * 51.8→118.6 s on a GC-pressure draw (kept-run gc_ms 6427 vs 1531)
    * while its sf0.1 number is stable at ~6 s, so the sf10 protocol
    * opts it in without widening the graded default (the 12-head warm
    * experiment showed wider lists cost q39's timed run). Unknown
    * names fail loudly naming the offender — a typo must not silently
    * run the unstabilized protocol while the receipt claims otherwise. */
  private[graft] def warmPassExtraFn(env: Option[String],
                                     known: Set[String]): Seq[String] = {
    val names =
      env.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    names.foreach { n =>
      require(known.contains(n),
        s"SPARK_GRAFT_WARMPASS_EXTRA names unknown query '$n' — valid " +
        "names are SparkEntry.queries keys (e.g. q130_pagerank)")
    }
    names.distinct
  }

  /** Lower-median of the non-failure observations; -1 if none succeeded
    * (the stabilized-family and SPARK_GRAFT_RUNS aggregation — median
    * shrugs one contended outlier, while best-of would understate a
    * genuinely loaded machine). Package-visible: spec-pinned. */
  private[graft] def medianOf(vs: Seq[Double]): Double = {
    val ok = vs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2)
  }

  /** JSON string escaper for env-derived values interpolated into the
    * hand-built diag/gate lines (ADVICE r16 #2: a quote or backslash in
    * SPARK_GRAFT_WARMUP_NOTE used to corrupt target/bench.json —
    * silently, in the very field that exists to harden the artifact). */
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // bench-only tuning knobs for A/B runs
    val shuffleParts = sys.env.get("SPARK_GRAFT_SHUFFLE")
      .map(_.toInt).getOrElse(cpus.toInt)
    // --- load gate (VERDICT r14 #3): the committed artifact should be
    // a quiet run, automatically — not via receipt archaeology. If the
    // 1-min load exceeds the gate (default 2.0; SPARK_GRAFT_LOADGATE=N
    // overrides, =off disables) BEFORE any work starts, wait once for
    // the window to drain (90 s ≈ the 1-min loadavg decay horizon from
    // the contamination band the r14 artifact recorded) and re-read;
    // still-loaded runs proceed but carry "contended": true so the
    // artifact indicts itself.
    val loadGate: Double = sys.env.get("SPARK_GRAFT_LOADGATE") match {
      case Some(v) if v.equalsIgnoreCase("off") => Double.MaxValue
      case Some(v) => v.toDouble
      case None => 2.0
    }
    def load1(): Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // getSystemLoadAverage returns -1.0 where the platform can't report
    // it — which silently disables the gate. Say so (ADVICE r15 /
    // VERDICT r15 wrong #3) instead of letting a quiet-looking artifact
    // hide an ungated run on such a platform.
    if (load1() < 0)
      System.err.println("[bench] WARNING: OS load average unavailable " +
        "(getSystemLoadAverage = -1) — the load gate is inoperative here")
    var contended = false
    if (load1() > loadGate) {
      System.err.println(f"[bench] load_avg ${load1()}%.2f > gate " +
        f"$loadGate%.1f — backing off 90 s for a quiet window")
      Thread.sleep(90000)
      if (load1() > loadGate) {
        contended = true
        System.err.println(f"[bench] still loaded (${load1()}%.2f) after " +
          "backoff — proceeding; artifact tagged \"contended\": true")
      }
    }
    // SPARK_GRAFT_MASTER overrides the master URL — the two-JVM realism
    // probe (VERDICT r14 optional 8) runs the heavy family under
    // local-cluster[2,16,...] so broadcast/exchange decisions meet real
    // serialization + network boundaries; default stays local[cpus].
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // local-cluster workers launch separate executor JVMs from the
    // Spark dist: ship the engine classes and size their heap (same
    // recipe RescaleDemo proved; SPARK_GRAFT_EXEC_MEM per executor).
    val clusterExtra: Map[String, String] =
      if (master.startsWith("local-cluster")) Map(
        "spark.executor.extraClassPath" ->
          new java.io.File("target/scala-2.13/classes").getAbsolutePath,
        "spark.executor.memory" ->
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "8g"))
      else Map.empty
    val spark = Graft.session(
      master = master,
      appName = "graft-bench",
      shufflePartitions = shuffleParts,
      extra = clusterExtra)
    sys.env.get("SPARK_GRAFT_PREFER_SHJ").foreach(v =>
      spark.conf.set("spark.sql.join.preferSortMergeJoin", (v != "1").toString))

    val startedAt = java.time.Instant.now().toString
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    def materialize(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // Cumulative stop-the-world GC millis across all collectors: diffed
    // around each query so a regression can be attributed to GC pressure
    // (the 8 GiB driver-heap pin makes GC the likeliest in-JVM
    // confounder across a 26-query suite) in one read of the artifact.
    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    def heapUsedMb(): Long = {
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
    }

    // Per-query executor task-time (Σ executorRunTime over the query's
    // stages): where wall ≈ flat across core counts but task-time ≫
    // wall, the query parallelized fine and the wall floor is latency,
    // not compute. A passive listener read outside the timed region,
    // after the post-query release and GC, so async stragglers land in
    // the right bucket in practice — a diagnostic field, not a gate.
    // Removed once the diag is written.
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong()
    val taskTimeListener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        taskTimeMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        ()
      }
    }
    spark.sparkContext.addSparkListener(taskTimeListener)

    // warmup: session + whole-stage-codegen init
    materialize(SparkEntry.queries("q05_groupby_sum")(spark, sfDir))

    val gcByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val heapByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val taskByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Long]

    // SPARK_GRAFT_QUERIES=q85_…,q130_…: subset (or extend) the headline
    // list for scale sweeps — the sf10 measurement runs the heavy family
    // only, since the cheap queries' sub-linearity is already proven at
    // sf1. Unknown names fail loudly rather than silently timing nothing.
    val headlineRun: Seq[String] = sys.env.get("SPARK_GRAFT_QUERIES")
      .map { s =>
        val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        names.foreach(n => require(SparkEntry.queries.contains(n),
          s"SPARK_GRAFT_QUERIES: unknown query $n"))
        names
      }.getOrElse(headline)

    // Each headline query and warm-pass run is one operators.Scratch
    // scope: the caches and cuts it takes are released when it ends, so
    // they never accumulate and starve later queries' execution memory
    // (execution evicts storage only down to storageFraction). Cache
    // population happens inside each query's own timer, so timings stay
    // cold-start honest; the release and a GC nudge sit outside it.

    // --- warm pass: ONE uncounted execution of the documented
    // high-variance family before anything is timed, absorbing the
    // cold page cache (input parquet + /tmp index scratch) and JIT of
    // the heavy operator paths, so a SINGLE fresh run measures the
    // engine, not the page cache.
    // SPARK_GRAFT_WARMPASS=0/off disables (A/B attribution knob).
    val warmPass = !sys.env.get("SPARK_GRAFT_WARMPASS")
      .exists(v => v == "0" || v.equalsIgnoreCase("off"))
    val warmExtra = warmPassExtraFn(
      sys.env.get("SPARK_GRAFT_WARMPASS_EXTRA"), SparkEntry.queries.keySet)
    val stabilized: Set[String] = warmPassQueries.toSet ++ warmExtra
    val warmed: Seq[String] =
      if (!warmPass) Nil
      else headlineRun.filter(stabilized.contains)
    if (warmed.nonEmpty) {
      System.err.println(s"[bench] warm pass (uncounted) over " +
        s"${warmed.size} high-variance queries")
      warmed.foreach { name =>
        try graft.operators.Scratch.scoped(spark)(
          materialize(SparkEntry.queries(name)(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[bench] warm pass $name failed " +
            s"(ignored — the timed run reports it): ${e.getMessage}")
        }
        System.gc()
      }
    }

    // per-query rep times of the stabilized family (diag artifact) —
    // the spread stays inspectable even though only the median grades
    val repsByQuery =
      scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]

    def runSuite(): Seq[(String, Double)] = headlineRun.map { name =>
      // the warmed family is also MEDIAN-OF-3 timed (see
      // warmPassQueries), each rep in its own scope
      val reps = if (warmPass && stabilized.contains(name)) 3 else 1
      val times = (1 to reps).map { _ =>
        val g0 = gcMillis()
        val tt0 = taskTimeMs.get()
        val (ok, elapsed) = graft.operators.Scratch.scoped(spark) {
          val t0 = System.nanoTime()
          val ok =
            try { materialize(SparkEntry.queries(name)(spark, sfDir)); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
            }
          // read before the scope's release: the release and the GC
          // below never inflate the reported time
          val elapsed = (System.nanoTime() - t0) / 1e9
          gcByQuery(name) = gcMillis() - g0
          heapByQuery(name) = heapUsedMb()
          (ok, elapsed)
        }
        System.gc()
        // task-time read after the release (the listener bus drains);
        // last rep wins, as for gc_ms/heap_mb
        taskByQuery(name) = taskTimeMs.get() - tt0
        // -1 marks a failure so a fast crash can't masquerade as fast
        if (ok) elapsed else -1.0
      }
      if (reps > 1) repsByQuery(name) = times
      name -> (if (times.exists(_ < 0)) -1.0 else medianOf(times))
    }

    // --- SPARK_GRAFT_RUNS=N (VERDICT r16 optional 7): run the whole
    // headline loop N times and report the per-query MEDIAN, turning
    // the three-command round-close quiet triple into one artifact.
    // Every individual run lands in the diag line (suite_runs) so the
    // spread stays inspectable. Default 1: the driver's single-run
    // protocol, unchanged.
    val suiteReps = sys.env.getOrElse("SPARK_GRAFT_RUNS", "1").toInt
    require(suiteReps >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $suiteReps")
    val suiteRuns: Seq[Seq[(String, Double)]] =
      (1 to suiteReps).map(_ => runSuite())
    val results: Seq[(String, Double)] = headlineRun.map { name =>
      name -> medianOf(suiteRuns.map(_.toMap.apply(name)))
    }
    // Like-for-like reproduction of the reference's only published number
    // (BASELINE.md): inner join of two 2,000,000-row tables on TWO string
    // key columns -> groupby(city).count -> collect, 10.718802 s on one
    // 32-PE node (examples/Demo.ipynb). Same data shape as
    // examples/datagen.py: first_name "A%i" / last_name "B%i" all
    // distinct, ~101 cities, right side a permutation of the left keys.
    //
    // The inputs are MATERIALIZED to parquet before the timed region
    // (matching the reference's read-then-time shape) so generation cost
    // can't leak into the timing, and the gated 2M number is the best
    // of 3 runs (contention can only inflate a run, never deflate it).
    import org.apache.spark.sql.functions._
    val demoDir = sys.props("java.io.tmpdir") + "/graft_bench_demo"

    def writeDemoInputs(n: Long, tag: String): (String, String) = {
      val userIds = spark.range(n).select(
        concat(lit("A"), col("id")).as("first_name"),
        concat(lit("B"), col("id")).as("last_name"),
        col("id").cast("int").as("user_id"),
        concat(lit("C"), pmod(hash(col("id")), lit(101))).as("city"))
      val perm = spark.range(n)
        .select(pmod(col("id") * 2654435761L + 12345L, lit(n)).as("pid"))
      val ages = perm.select(
        concat(lit("A"), col("pid")).as("first_name"),
        concat(lit("B"), col("pid")).as("last_name"),
        (col("pid") % 100).as("age"))
      val (up, ap) = (s"$demoDir/users_$tag", s"$demoDir/ages_$tag")
      userIds.write.mode("overwrite").parquet(up)
      ages.write.mode("overwrite").parquet(ap)
      (up, ap)
    }

    def timedDemo(usersPath: String, agesPath: String): Double = {
      val t0 = System.nanoTime()
      val out = spark.read.parquet(usersPath)
        .join(spark.read.parquet(agesPath),
          Seq("first_name", "last_name"), "inner")
        .groupBy("city").agg(count(col("user_id")).as("count(user_id)"))
        .collect()
      require(out.length > 0)
      (System.nanoTime() - t0) / 1e9
    }

    // Demo runs degrade to the same -1 failure marker as headline
    // queries: an OOM in the most memory-hungry query must not discard
    // the JSON line (and the already-computed numbers) entirely.
    def guarded(label: String)(f: => Double): Double =
      try f catch { case e: Throwable =>
        System.err.println(s"[bench] $label failed: ${e.getMessage}"); -1.0
      }

    // Individual run times are emitted into the JSON (demo_runs) so a
    // contended machine is self-evident in the artifact, and the gated
    // number is the BEST of 3: the gate measures the engine, not the
    // neighbors — a loaded sandbox can only inflate a run, never
    // deflate it, so min is the least-contended observation.
    // per-REP guarding: a crash in rep N must not discard the N-1
    // successful observations the demo_runs artifact exists to preserve.
    // A triple whose spread exceeds 2x is retried ONCE: contention is
    // transient, so a second quiet triple usually replaces the warning
    // with a trustworthy number — all runs (both triples) go into the
    // artifact, and the warning is only kept if the RETRY is also
    // spread-y (then it is real, or the machine is loaded all round).
    def spreadOf(runs: Seq[Double]): Double = {
      val ok = runs.filter(_ >= 0)
      if (ok.size >= 2) ok.max / ok.min else 1.0
    }
    def timedRuns(label: String, reps: Int)(f: => Double): Seq[Double] = {
      val first = (1 to reps).map(_ => guarded(label)(f))
      val runs =
        if (spreadOf(first) > 2.0) {
          System.err.println(f"[bench] $label spread ${spreadOf(first)}%.1fx " +
            s"(runs: ${first.mkString(", ")}) — retrying the triple once")
          first ++ (1 to reps).map(_ => guarded(label)(f))
        } else first
      val retry = runs.drop(reps)
      if (spreadOf(first) > 2.0 && (retry.isEmpty || spreadOf(retry) > 2.0))
        System.err.println(f"[bench] WARNING: $label spread ${spreadOf(runs)}%.1fx " +
          s"(runs: ${runs.mkString(", ")}) — machine contention likely")
      runs
    }

    val demo2mRuns = {
      val n = sys.env.getOrElse("SPARK_GRAFT_DEMO2M_N", "2000000").toLong
      val g0 = gcMillis()
      val tt0 = taskTimeMs.get()
      val runs = guarded("demo_2m_setup") { writeDemoInputs(n, "2m"); 0.0 } match {
        case x if x < 0 => Seq(-1.0)
        case _ => timedRuns("demo_2m", 3) {
          timedDemo(s"$demoDir/users_2m", s"$demoDir/ages_2m")
        }
      }
      gcByQuery("demo_2m_join_groupby") = gcMillis() - g0
      heapByQuery("demo_2m_join_groupby") = heapUsedMb()
      taskByQuery("demo_2m_join_groupby") = taskTimeMs.get() - tt0
      runs
    }
    val demoSecs = if (demo2mRuns.exists(_ < 0)) -1.0 else demo2mRuns.min

    // 10x scale-up probe: same pipeline at 20M rows with a data-sized
    // shuffle width. This line tracks scale-up regressions
    // round-over-round; it is not gated against the 2M baseline.
    val demo20Runs = {
      val n = sys.env.getOrElse("SPARK_GRAFT_DEMO20_N", "20000000").toLong
      val width = sys.env.getOrElse("SPARK_GRAFT_DEMO20_SHUFFLE", "256")
      val g0 = gcMillis()
      val tt0 = taskTimeMs.get()
      val runs = guarded("demo_20m_setup") { writeDemoInputs(n, "20m"); 0.0 } match {
        case x if x < 0 => Seq(-1.0)
        case _ =>
          val savedWidth = spark.conf.get("spark.sql.shuffle.partitions")
          val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
          // data-sized width, AQE off: measured 4-7s vs 8-14s with AQE's
          // runtime re-plan at this shape (tools.DemoProbe) — the static
          // plan is already the right one here
          spark.conf.set("spark.sql.shuffle.partitions", width)
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          try timedRuns("demo_20m", 3) {
            timedDemo(s"$demoDir/users_20m", s"$demoDir/ages_20m")
          } finally {
            spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
            spark.conf.set("spark.sql.shuffle.partitions", savedWidth)
          }
      }
      gcByQuery("demo_20m_join_groupby") = gcMillis() - g0
      heapByQuery("demo_20m_join_groupby") = heapUsedMb()
      taskByQuery("demo_20m_join_groupby") = taskTimeMs.get() - tt0
      runs
    }
    val demo20Secs = if (demo20Runs.exists(_ < 0)) -1.0 else demo20Runs.min

    val allQs = results :+ ("demo_2m_join_groupby" -> demoSecs) :+
      ("demo_20m_join_groupby" -> demo20Secs)
    val qs = allQs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // failures (-1 markers) are excluded from the total and listed —
    // a crash must not shrink the graded number
    val failed = allQs.filter(_._2 < 0).map(_._1)
    val total = results.filter(_._2 >= 0).map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // All individual demo run times go into the artifact: a contended
    // run window is then self-evident (large spread / uniformly slow
    // runs) rather than silently poisoning the gated number.
    def runsJson(rs: Seq[Double]) = rs.mkString("[", ",", "]")
    val demoRuns = s"""{"demo_2m":${runsJson(demo2mRuns)},"demo_20m":${runsJson(demo20Runs)}}"""
    // gc_ms / heap_mb per query: attributes a cross-round wall-time move
    // to GC pressure (or rules it out) without a rerun — see VERDICT r8.
    val gcJson = gcByQuery.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // task_time_ms: Σ executorRunTime per query (see the listener note
    // above) — the scaling-contract companion to the wall-time map
    val taskJson = taskByQuery.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val heapJson = heapByQuery.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // OS 1/5/15-min load averages at run END (plus the start-of-run
    // value captured before warmup): a contended window — the r9→r10
    // "everything 1.4x slower" investigation — becomes one read of the
    // artifact instead of a cross-round bisect. -1 if the platform
    // bean can't report it.
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Full-diagnostics line: everything a cross-round investigation
    // needs (per-run demo times, GC, heap, load averages). Written to
    // target/bench.json AND printed FIRST on stdout.
    // adaptive_count_misses: the one-count-per-corpus-per-session
    // contract ([[graft.operators.AdaptiveCount]]) observable in every
    // committed artifact, not just its unit test (VERDICT r15 #5) — a
    // regression to N-counts-per-session shows up as this number
    // jumping far past the handful of distinct corpora the suite reads.
    val adaptMisses = graft.operators.AdaptiveCount.misses.get()
    // warmup: the sf10 receipt protocol tag (VERDICT r15 #6) — the
    // runner that discards a cold first run stamps the kept artifacts
    // SPARK_GRAFT_WARMUP_NOTE=discarded_first_run so round-over-round
    // comparisons know the number is settled, not cold.
    val warmupNote = sys.env.getOrElse("SPARK_GRAFT_WARMUP_NOTE", "none")
    // suite_runs: every individual per-query time of the N-run medians
    // mode (empty-object when N=1 — the value field IS the single run)
    val suiteRunsJson =
      if (suiteReps <= 1) "{}"
      else headlineRun.map { name =>
        jq(name) + ":" + suiteRuns.map(_.toMap.apply(name))
          .mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    // query_runs: the per-rep times behind each stabilized-family median
    val queryRunsJson = repsByQuery.map { case (k, vs) =>
      jq(k) + ":" + vs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val diag = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":${jq(sfDir)},"failed":$failedJson,"demo_runs":$demoRuns,"demo_gate":"best_of_runs","gc_ms":$gcJson,"heap_mb":$heapJson,"started_at":"$startedAt","load_avg_start":$loadStart,"load_avg_end":$loadEnd,"contended":$contended,"master":${jq(master)},"adaptive_count_misses":$adaptMisses,"warmup":${jq(warmupNote)},"warmpass":${warmed.size},"warmpass_extra":${warmExtra.map(jq).mkString("[", ",", "]")},"runs":$suiteReps,"suite_runs":$suiteRunsJson,"query_runs":$queryRunsJson,"task_time_ms":$taskJson,"baseline_demo_2m_sec":10.718802}"""
    // Compact gate line, printed LAST: the driver keeps only the final
    // ~2000 chars of stdout, and the full diagnostics line is ~2.6k —
    // in r11 it was front-truncated past parseability ("parsed": null).
    // Times rounded to ms (plenty for a seconds-scale gate) keep this
    // line ~1.3k so it survives the tail window whole.
    // Locale.ROOT: f"%.3f" uses the JVM default locale, and a
    // comma-decimal locale (de_DE) would emit "1,234" — invalid JSON
    // in the very line this exists to keep parseable (ADVICE r12).
    def ms(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qsCompact = allQs.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val gate = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qsCompact,"sf":${jq(sfDir)},"failed":$failedJson,"load_avg":[$loadStart,$loadEnd],"contended":$contended,"adaptive_count_misses":$adaptMisses,"warmpass":${warmed.size},"runs":$suiteReps,"baseline_demo_2m_sec":10.718802}"""
    println(diag)
    try {
      val p = java.nio.file.Paths.get("target/bench.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, diag.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write target/bench.json: ${e.getMessage}")
    }
    spark.sparkContext.removeSparkListener(taskTimeListener)
    stopThenGate(() => spark.stop(), gate)
  }

  /** stop() BEFORE the gate line: any shutdown chatter Spark emits
    * lands above the JSON, keeping the gate the LAST stdout line — the
    * other half of the parsed:null fix (build.sbt suppresses sbt's own
    * trailing "[success]" line; VERDICT r14 #2). But stop() CAN throw
    * (executor-loss races on local-cluster teardown), and an uncaught
    * throw here would lose the gate line — the exact "parsed": null
    * failure the ordering exists to fix, reintroduced through a
    * different door (ADVICE r15). So the stop is guarded and the gate
    * prints no matter what; package-visible so the guarantee is
    * spec-pinned with a throwing stub. */
  private[graft] def stopThenGate(stop: () => Unit, gate: String): Unit = {
    try stop() catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop() failed — gate line " +
        s"printed anyway: $e")
    }
    println(gate)
    Console.out.flush()
  }
}
