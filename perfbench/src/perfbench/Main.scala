package perfbench

import java.io.{ByteArrayInputStream, File}
import java.lang.management.ManagementFactory
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A workload: the corpus tables it reads, at scale factor `sf`, and the
  * query mix one client issues pass after pass. `fetch` workloads go
  * through the Table facade and fetch every result as an Arrow stream; the
  * others materialise each result to the noop sink. */
final case class Workload(tables: Seq[String], sf: Double, mix: Seq[String], fetch: Boolean)

/** Closed-loop benchmark: one JVM at local[N], one client thread.
  *
  * Set-up (JVM and session start, input generation, one warm pass that
  * also verifies every output) is timed apart from the measured passes.
  * Each query is timed as build (the call returning the DataFrame),
  * execute (the action) and, on fetch workloads, fetch (decoding the
  * Arrow stream the client received). `--trace 1` runs half the time
  * untraced and half with the listeners of [[Tracer]] registered, and
  * reports per-layer numbers from the traced half. The names and units of
  * the reported metrics come from the `end_to_end` and `per_layer` lists of
  * the benchmark spec; a run whose metrics differ from them fails.
  *
  * Usage: Main --workload W --seed S --seconds T --trace 0|1 --work DIR
  *             --out DIR --expected FILE --spec BENCHMARK.json [--corrupt QUERY]
  */
object Main {

  val CorpusSeed = 42L
  val DemoRows = 2000000L
  /** Input generations per run; set-up reports their median. */
  val GenReps = 3
  /** Untimed passes after the verify pass (JIT warm-up of the mix). */
  val WarmPasses = 1
  val PaperDemo2mS = 10.718802

  val workloads: LinkedHashMap[String, Workload] = LinkedHashMap(
    "demo_frame" -> Workload(Seq("customer", "orders", "lineitem"), 0.01,
      Seq("demo_2m", "q66_pandas_facade", "q05_groupby_sum",
        "q07_join_inner", "q16_sort_topk", "q27_demo_pipeline"),
      fetch = true),
    "llm_ingest" -> Workload(Seq("documents", "embeddings"), 0.1,
      Seq("q38_minhash_sig", "q39_minhash_pairs", "q43_knn_brute",
        "q289_stream_decontaminate"),
      fetch = false))

  val allQueries: Seq[String] = workloads.values.flatMap(_.mix).toSeq.distinct

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  val MiB = 1024.0 * 1024.0

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val name = args("workload")
    val w = workloads.getOrElse(name, sys.error(
      s"unknown workload $name (known: ${workloads.keys.mkString(", ")})"))
    val code = try new Run(name, w, args).run() catch {
      case e: Throwable => e.printStackTrace(); 2
    }
    System.exit(code)
  }

  private def parseArgs(argv: Array[String]): Map[String, String] = {
    val out = LinkedHashMap.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      require(i + 1 < argv.length, s"missing value for --$k")
      out(k) = argv(i + 1)
      i += 2
    }
    Seq("workload", "seed", "seconds", "trace", "work", "out", "expected", "spec")
      .foreach(k => require(out.contains(k), s"missing --$k"))
    out.toMap
  }

  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.toIndexedSeq.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-independent 64-bit digest of canonical row strings. */
  def digest(rows: Iterable[String]): String = {
    var acc = 0L
    rows.foreach { r =>
      acc += (MurmurHash3.stringHash(r, 0x5eed).toLong << 32) ^
        (MurmurHash3.stringHash(r, 0xface).toLong & 0xffffffffL)
    }
    f"$acc%016x"
  }

  def canonRow(values: Seq[Any]): String =
    values.map(v => String.valueOf(v)).mkString("\u0001")

  def json(v: Any): String = mapper.writeValueAsString(v)

  private[perfbench] def readJson(f: File): Map[String, Any] =
    mapper.readValue(f, classOf[Map[String, Any]])

  private[perfbench] def writeJson(f: File, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(f, v)
}

/** One benchmark run in this JVM. */
final class Run(name: String, w: Workload, args: Map[String, String]) {
  import Main._

  private val seed = args("seed").toLong
  private val seconds = args("seconds").toDouble
  private val traced = args("trace") == "1"
  private val work = new File(args("work")).getAbsoluteFile
  private val outDir = new File(args("out")).getAbsoluteFile
  private val cores = Runtime.getRuntime.availableProcessors()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val spans = new Spans

  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]

  private case class Pass(span: Span, cpuS: Double, retainedMb: Double,
                          rddsLeft: Int, memLeftMb: Double, traced: Boolean,
                          fetchBytes: Long)
  private val passes = ArrayBuffer.empty[Pass]
  private var passCount = 0
  /** Set while traced passes run on a fetch workload's Arrow path. */
  private var fetchPlans: Option[Tracer] = None

  def run(): Int = {
    val spec = readJson(new File(args("spec")))
    def listed(key: String): Seq[(String, String)] =
      spec(key).asInstanceOf[Seq[Map[String, Any]]].map(m => m("name").toString -> m("unit").toString)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val load0 = os.getSystemLoadAverage
    val ticks0 = cpuTicks()
    val cpu0 = os.getProcessCpuTime
    val wall0 = spans.now()
    val spark = graft.Graft.session(
      master = s"local[$cores]", appName = s"perfbench-$name",
      shufflePartitions = cores,
      extra = Map(
        "spark.local.dir" -> new File(work, "local").getPath,
        "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath,
        "spark.hadoop.hadoop.tmp.dir" -> new File(work, "hadoop").getPath))
    val sessionS = (spans.now() - jvmStart) / 1000
    val gen = new Corpus(spark, CorpusSeed)
    val demoGen = new Corpus(spark, seed)
    val genS = (0 until GenReps).map { i =>
      val t0 = spans.now()
      generate(spark, gen, demoGen, new File(work, s"in$i"))
      (spans.now() - t0) / 1000
    }
    (1 until GenReps).foreach(i => deleteTree(new File(work, s"in$i")))
    val in = new File(work, "in0").getPath
    val expected = expectations(demoGen)
    val t0 = spans.now()
    verifyPass(spark, in, expected)
    val verifyS = (spans.now() - t0) / 1000
    val warmS = (1 to WarmPasses).map(_ => pass(spark, in, expected, "warm").span.ms / 1000).sum
    val setupS = sessionS + median(genS) + verifyS + warmS

    val tracer = new Tracer(spark)
    if (traced) {
      loop(spark, in, expected, seconds / 2, tracedPass = false)
      tracer.register()
      fetchPlans = Some(tracer)
      loop(spark, in, expected, seconds / 2, tracedPass = true)
      fetchPlans = None
      tracer.unregister()
    } else loop(spark, in, expected, seconds, tracedPass = false)

    val runWall = (spans.now() - wall0) / 1000
    val cpuShare = (os.getProcessCpuTime - cpu0) / 1e9 / (runWall * cores)
    val load1 = os.getSystemLoadAverage
    val ticks1 = cpuTicks()
    val timed = passes.filter(_.traced == traced)
    val perQuery = w.mix.map(q => q -> median(timed.map(p => queryMs(p, q)))).toMap
    val values: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> setupS,
        "pass_s" -> median(timed.map(_.span.ms / 1000)),
        "query_geomean_ms" -> math.exp(perQuery.values.map(math.log).sum / perQuery.size))
      else {
        val layer = timed.map(p => layerMetrics(tracer, p))
        val untracedMs = median(passes.filterNot(_.traced).map(_.span.ms))
        layer.head.keys.map(k => k -> median(layer.map(_(k)))).toMap ++ Map(
          "trace.overhead_ratio" -> (median(timed.map(_.span.ms)) / untracedMs - 1),
          "failed_ratio" -> failed.toDouble / attempted,
          "process.cpu_s" -> median(timed.map(_.cpuS)),
          "mem.peak_rss_mb" -> vmHwmMb(),
          "mem.retained_heap_mb" -> passes.map(_.retainedMb).max)
      }
    val names = listed(if (traced) "per_layer" else "end_to_end")
    val unlisted = values.keySet -- names.map(_._1)
    val missing = names.map(_._1).filterNot(values.contains)
    if (unlisted.nonEmpty || missing.nonEmpty) {
      System.err.println(s"[perfbench] metrics differ from ${args("spec")}: " +
        s"not listed there ${unlisted.mkString(", ")}; not produced ${missing.mkString(", ")}")
      spark.stop()
      return 2
    }
    val metrics = names.map { case (k, unit) => (k, values(k), unit) }
    val report = LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> traced,
      "nproc" -> cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / MiB,
      "load_avg_1m_start" -> load0, "load_avg_1m_end" -> load1,
      "process_cpu_share" -> cpuShare,
      "cpu_steal_share" -> (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2),
      "session_s" -> sessionS, "generate_s" -> genS, "verify_pass_s" -> verifyS,
      "warm_pass_s" -> warmS, "peak_rss_mb" -> vmHwmMb(),
      "retained_heap_mb" -> passes.map(_.retainedMb).max,
      "passes" -> passes.map(p => Map("s" -> p.span.ms / 1000,
        "traced" -> p.traced, "cpu_s" -> p.cpuS, "retained_heap_mb" -> p.retainedMb,
        "rdds_released" -> p.rddsLeft, "mem_mb_released" -> p.memLeftMb)),
      "query_median_ms" -> perQuery,
      "failures" -> failures)
    if (w.mix.contains("demo_2m"))
      report("demo_2m_vs_paper_s") = Map("graft_local" -> perQuery("demo_2m") / 1000,
        "paper_32pe" -> PaperDemo2mS)
    if (traced) report("accounting_ms") = accounting(tracer)
    outDir.mkdirs()
    writeJson(new File(outDir, s"trace-$name-seed$seed-t${args("trace")}.json"),
      Map("report" -> report,
        "spans" -> spans.all.values.map(s => Seq(s.id, s.parent, s.kind, s.name, s.start, s.end)),
        "jobs" -> tracer.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
          Seq(j.id, j.group, j.start, j.end, j.stages, j.sums.tasks))))
    println(json(Map("report" -> report)))
    spark.stop()
    println(json(LinkedHashMap("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> LinkedHashMap("value" -> v, "unit" -> u) }: _*))))
    Console.out.flush()
    if (failed == 0) 0 else 1
  }

  // ---- inputs ------------------------------------------------------------

  private def generate(spark: SparkSession, gen: Corpus, demoGen: Corpus,
                       dir: File): Unit = {
    val all = gen.tables(w.sf)
    w.tables.foreach { t =>
      all(t)().coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    if (w.mix.contains("demo_2m")) {
      val (users, ages) = demoGen.demo(DemoRows)
      users.write.mode("overwrite").parquet(s"$dir/demo_users")
      ages.write.mode("overwrite").parquet(s"$dir/demo_ages")
    }
  }

  /** query -> (rows, digest). The Demo answer is derived from the users
    * definition; corpus queries use the fixed expectations for this
    * workload's corpus in expected.json, which must name the same corpus
    * seed and scale factor. */
  private def expectations(demoGen: Corpus): Map[String, (Long, String)] = {
    val rec = readJson(new File(args("expected")))
    val corpus = rec("workloads").asInstanceOf[Map[String, Any]].get(name)
      .map(_.asInstanceOf[Map[String, Any]]).getOrElse(Map.empty)
    require(rec("corpus_seed").toString.toLong == CorpusSeed &&
      corpus.get("sf").exists(_.toString.toDouble == w.sf),
      s"${args("expected")} has no expectations for $name at corpus seed $CorpusSeed, sf ${w.sf}")
    val stored = corpus("queries").asInstanceOf[Map[String, Any]].map { case (q, v) =>
      val m = v.asInstanceOf[Map[String, Any]]
      q -> (m("rows").toString.toLong, m("digest").toString)
    }
    val demo =
      if (!w.mix.contains("demo_2m")) Map.empty
      else {
        val e = demoGen.demoExpected(DemoRows)
        Map("demo_2m" -> (e.size.toLong, digest(e.map { case (c, n) => canonRow(Seq(c, n)) })))
      }
    val all = stored ++ demo
    args.get("corrupt") match {
      case Some(q) =>
        require(all.contains(q), s"--corrupt: no expectation for $q")
        all.updated(q, (all(q)._1, "corrupted-" + all(q)._2))
      case None => all
    }
  }

  // ---- queries -------------------------------------------------------------

  private def build(spark: SparkSession, in: String, q: String): DataFrame =
    if (q == "demo_2m")
      graft.Table.readParquet(spark, s"$in/demo_users")
        .merge(graft.Table.readParquet(spark, s"$in/demo_ages"),
          on = Seq("first_name", "last_name"))
        .groupby("city").agg("user_id" -> "count").df
    else graft.SparkEntry.queries(q)(spark, in)

  /** Arrow IPC stream -> (rows, canonical row strings if asked), the
    * client-side materialisation of a fetch. */
  private def decode(payload: Array[Byte], canon: Boolean): (Long, Seq[String]) = {
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new ByteArrayInputStream(payload), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      var n = 0L
      val out = ArrayBuffer.empty[String]
      while (reader.loadNextBatch()) {
        val rc = root.getRowCount
        n += rc
        if (canon) {
          val vs = root.getFieldVectors.asScala
          (0 until rc).foreach(i => out += canonRow(vs.map(_.getObject(i)).toSeq))
        }
      }
      (n, out.toSeq)
    } finally { reader.close(); alloc.close() }
  }

  /** Runs one query as build / execute / fetch spans under `parent`.
    * Returns (rows, canonical rows if `canon`, fetched bytes). */
  private def runQuery(spark: SparkSession, in: String, q: String, parent: Int,
                       canon: Boolean): (Long, Seq[String], Long) = {
    val sc = spark.sparkContext
    val qid = spans.open()
    val qStart = spans.now()
    def phase[T](kind: String)(f: => T): T = {
      val id = spans.open()
      val t0 = spans.now()
      sc.setJobGroup(s"pb-$id", s"$q/$kind")
      try f finally {
        sc.clearJobGroup()
        spans.close(id, qid, kind, q, t0)
      }
    }
    try {
      val df = phase("build")(build(spark, in, q))
      if (w.fetch) {
        val payload = phase("execute")(graft.Table(df).getArrowStream())
        fetchPlans.foreach(_.record(df.queryExecution))
        val (n, rows) = phase("fetch")(decode(payload, canon))
        (n, rows, payload.length.toLong)
      } else if (canon) {
        val rows = phase("execute")(df.collect())
        (rows.length.toLong, rows.toSeq.map(r => canonRow(r.toSeq)), 0L)
      } else {
        phase("execute")(df.write.mode("overwrite").format("noop").save())
        (-1L, Nil, 0L)
      }
    } finally spans.close(qid, parent, "query", q, qStart)
  }

  private def fail(q: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$q: $why"
    System.err.println(s"[perfbench] FAILED $q: $why")
  }

  /** The cold pass: every query once, every output checked against its
    * expected row count and digest. */
  private def verifyPass(spark: SparkSession, in: String,
                         expected: Map[String, (Long, String)]): Unit = {
    val pid = spans.open()
    val t0 = spans.now()
    w.mix.foreach { q =>
      attempted += 1
      try {
        val (n, rows, _) = runQuery(spark, in, q, pid, canon = true)
        val d = digest(rows)
        expected.get(q) match {
          case None => fail(q, "no expectation recorded")
          case Some((en, ed)) =>
            if (en != n || ed != d) fail(q, s"rows $n digest $d, expected rows $en digest $ed")
        }
      } catch { case e: Throwable => fail(q, String.valueOf(e)) }
    }
    spans.close(pid, 0, "verify", name, t0)
    release(spark)
  }

  /** Closed loop: passes over the shuffled mix until the next pass would
    * overrun `budgetS` (at least one pass). */
  private def loop(spark: SparkSession, in: String, expected: Map[String, (Long, String)],
                   budgetS: Double, tracedPass: Boolean): Unit = {
    val start = spans.now()
    var last = 0.0
    var k = 0
    while (k == 0 || (spans.now() - start) / 1000 + last <= budgetS) {
      val p = pass(spark, in, expected, "pass", tracedPass)
      passes += p
      last = p.span.ms / 1000
      k += 1
    }
  }

  /** One pass over the mix in this pass's seeded order; then, outside the
    * timed region, a full GC (live heap) and the release of leftovers. */
  private def pass(spark: SparkSession, in: String, expected: Map[String, (Long, String)],
                   kind: String, tracedPass: Boolean = false): Pass = {
    val order = new scala.util.Random(seed * 1000003L + passCount).shuffle(w.mix)
    passCount += 1
    val pid = spans.open()
    val c0 = os.getProcessCpuTime
    val t0 = spans.now()
    var bytes = 0L
    order.foreach { q =>
      attempted += 1
      try {
        val (n, _, b) = runQuery(spark, in, q, pid, canon = false)
        bytes += b
        if (w.fetch && n != expected.get(q).map(_._1).getOrElse(-1L))
          fail(q, s"fetched $n rows, expected ${expected.get(q).map(_._1)}")
      } catch { case e: Throwable => fail(q, String.valueOf(e)) }
    }
    val span = spans.close(pid, 0, kind, name, t0)
    val cpuS = (os.getProcessCpuTime - c0) / 1e9
    System.gc()
    val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MiB
    val (rdds, memMb) = release(spark)
    Pass(span, cpuS, retained, rdds, memMb, tracedPass, bytes)
  }

  /** Drops what the session still holds after a pass (cached tables and
    * persistent RDDs); returns how many RDDs and MiB it had to release. */
  private def release(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val held = sc.getPersistentRDDs.values.toSeq
    val memMb = sc.getRDDStorageInfo.map(_.memSize).sum / MiB
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    (held.size, memMb)
  }

  /** (steal, all) CPU ticks of the box from /proc/stat: the share of CPU
    * time the hypervisor gave to other guests. */
  private def cpuTicks(): (Long, Long) = {
    val v = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (v.lift(7).getOrElse(0L), v.sum)
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  // ---- per-layer attribution --------------------------------------------------

  private def queryMs(p: Pass, q: String): Double =
    spans.children(p.span.id).filter(_.name == q).map(_.ms).sum

  private def phasesOf(p: Pass): Seq[Span] =
    spans.children(p.span.id).flatMap(qs => spans.children(qs.id))

  /** Jobs per phase span: by job group; jobs from threads that set their
    * own group (streaming micro-batches) go to the phase running when
    * they started. */
  private def jobsByPhase(tracer: Tracer, phases: Seq[Span]): Map[Int, Seq[JobRec]] = {
    val byId = phases.map(s => s.id -> s).toMap
    tracer.jobs.values.asScala.toSeq.flatMap { j =>
      val g = if (j.group.startsWith("pb-")) j.group.stripPrefix("pb-").toIntOption else None
      g.filter(byId.contains).orElse(
        phases.find(s => j.start >= s.start && j.start <= s.end).map(_.id))
        .map(_ -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  private def interval(j: JobRec): (Double, Double) =
    (j.start.toDouble, (if (j.end < 0) j.start else j.end).toDouble)

  private def planIntervals(tracer: Tracer): Seq[(Double, Double)] =
    tracer.plans.asScala.toSeq.flatMap(_.phases.values.map { case (a, b) => (a.toDouble, b.toDouble) })

  private def layerMetrics(tracer: Tracer, p: Pass): Map[String, Double] = {
    val m = LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val phases = phasesOf(p)
    val byPhase = jobsByPhase(tracer, phases)
    val jobs = byPhase.values.flatten.toSeq
    val (lo, hi) = (p.span.start, p.span.end)
    Seq("build.ms", "build.jobs", "plan.analysis_ms", "plan.optimization_ms",
      "plan.planning_ms", "plan.nodes", "plan.exchanges").foreach(m(_) = 0.0)
    phases.filter(_.kind == "build").foreach { s =>
      m("build.ms") += s.ms; m("build.jobs") += byPhase.getOrElse(s.id, Nil).size }
    tracer.plans.asScala.foreach { pr =>
      def clip(k: String) = pr.phases.get(k).map { case (a, b) =>
        math.max(0.0, math.min(b.toDouble, hi) - math.max(a.toDouble, lo)) }.getOrElse(0.0)
      m("plan.analysis_ms") += clip("analysis")
      m("plan.optimization_ms") += clip("optimization")
      m("plan.planning_ms") += clip("planning")
      if (pr.phases.get("planning").exists { case (a, _) => a >= lo && a <= hi }) {
        m("plan.nodes") += pr.nodes; m("plan.exchanges") += pr.exchanges }
    }
    m("driver.jobs") = jobs.size
    m("driver.stages") = jobs.map(_.stages).sum
    m("driver.tasks") = jobs.map(_.sums.tasks).sum
    m("driver.gap_ms") = p.span.ms - Tracer.cover(jobs.map(interval), lo, hi)
    val t = jobs.map(_.sums)
    m("exec.cpu_ms") = t.map(_.cpuNs).sum / 1e6
    m("exec.run_ms") = t.map(_.runMs).sum.toDouble
    m("exec.gc_ms") = t.map(_.gcMs).sum.toDouble
    m("exec.peak_task_mem_mb") = (0L +: t.map(_.peakMem)).max / MiB
    m("exec.task_failures") = t.map(_.failures).sum.toDouble
    m("exec.blocked_ratio") =
      if (m("exec.run_ms") > 0) 1 - m("exec.cpu_ms") / m("exec.run_ms") else 0.0
    m("exec.slot_busy_ratio") = m("exec.run_ms") / (p.span.ms * cores)
    m("shuffle.write_mb") = t.map(_.shuffleWrite).sum / MiB
    m("shuffle.read_mb") = t.map(_.shuffleRead).sum / MiB
    m("shuffle.fetch_wait_ms") = t.map(_.fetchWaitMs).sum.toDouble
    m("spill.mem_mb") = t.map(_.spillMem).sum / MiB
    m("spill.disk_mb") = t.map(_.spillDisk).sum / MiB
    m("sources.read_mb") = t.map(_.inBytes).sum / MiB
    m("sources.read_rows") = t.map(_.inRows).sum.toDouble
    m("sources.write_mb") = t.map(_.outBytes).sum / MiB
    m("sources.write_rows") = t.map(_.outRows).sum.toDouble
    m("cache.rdds_left") = p.rddsLeft
    m("cache.mem_mb_left") = p.memLeftMb
    m("table.fetch_ms") = phases.filter(_.kind == "fetch").map(_.ms).sum
    m("table.fetch_kb") = p.fetchBytes / 1024.0
    val batches = tracer.batches.asScala.filter { case (ts, _) => ts >= lo && ts <= hi }
    m("streaming.batches") = batches.size
    m("streaming.batch_ms") = batches.map(_._2).sum.toDouble
    accountPass(tracer, p, byPhase).foreach { case (k, v) => m(s"account.$k") = v }
    m("trace.pass_ms") = p.span.ms
    allQueries.foreach { q =>
      m(s"query.$q.ms") = queryMs(p, q)
      m(s"query.$q.build_ms") = phases.filter(s => s.kind == "build" && s.name == q).map(_.ms).sum
    }
    m.toMap
  }

  /** Splits a pass's wall time into self times: each phase span minus
    * the jobs and planning phases inside it, planning outside jobs, the
    * jobs themselves, and the residual outside any phase span. The parts
    * sum to the pass. */
  private def accountPass(tracer: Tracer, p: Pass,
                          byPhase: Map[Int, Seq[JobRec]]): Map[String, Double] = {
    val m = LinkedHashMap("build_self_ms" -> 0.0, "build_jobs_ms" -> 0.0,
      "plan_self_ms" -> 0.0, "execute_self_ms" -> 0.0, "execute_jobs_ms" -> 0.0,
      "fetch_self_ms" -> 0.0, "residual_ms" -> p.span.ms)
    val plans = planIntervals(tracer)
    phasesOf(p).foreach { s =>
      val js = byPhase.getOrElse(s.id, Nil).map(interval)
      val jobsMs = Tracer.cover(js, s.start, s.end)
      val busy = Tracer.cover(js ++ plans, s.start, s.end)
      m("plan_self_ms") += busy - jobsMs
      m(s"${s.kind}_self_ms") += s.ms - busy
      // fetch jobs (none: the Arrow fetch decodes on the client) count as fetch self
      if (s.kind == "fetch") m("fetch_self_ms") += jobsMs
      else m(s"${s.kind}_jobs_ms") += jobsMs
      m("residual_ms") -= s.ms
    }
    m.toMap
  }

  private def accounting(tracer: Tracer): Map[String, Any] = {
    val traced = passes.filter(_.traced)
    val parts = traced.map(p => accountPass(tracer, p, jobsByPhase(tracer, phasesOf(p))))
    val keys = parts.head.keys.toSeq
    Map("pass_ms_median" -> median(traced.map(_.span.ms))) ++
      keys.map(k => k -> median(parts.map(_(k)))).toMap
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
    ()
  }
}
