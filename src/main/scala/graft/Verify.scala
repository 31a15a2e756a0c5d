package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Minimal parse of the flat {"name": "msg", ...} map errors.json
    * always holds (it is written only by this object's own escaper, so
    * keys/values never contain an unescaped quote). Package-visible so
    * the resume-seeding behavior is spec-pinned: without seeding, the
    * eager startup dump overwrites a prior crash's recorded failures
    * with an empty map before the retried queries can re-fail.
    *
    * Hand-rolled LINEAR scan, deliberately not a regex: the previous
    * `"((?:[^"\\]|\\.)*)"` spelling backtrack-recurses ~10 stack
    * frames per matched character in java.util.regex, so seeding from
    * an oracle_sql.json whose values are multi-KB SQL strings (the
    * filtered-top-up path, r17: q199's 2.8 KB staged oracle) overflowed
    * the main thread's stack BEFORE the session even started — a
    * fully-healthy replay reported VERIFY-CRASH. Values this parser
    * reads are bounded only by what the dump wrote, so the parse must
    * be O(1) stack at any value length. */
  private[graft] def parseErrors(txt: String): Map[String, String] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    // reads one "..."-quoted span starting at txt(i) == '"'; returns
    // its RAW contents (escapes intact — unescape() handles them) and
    // leaves i just past the closing quote
    def quoted(): String = {
      i += 1
      val start = i
      while (i < txt.length && txt(i) != '"') {
        if (txt(i) == '\\' && i + 1 < txt.length) i += 2 else i += 1
      }
      val raw = txt.substring(start, math.min(i, txt.length))
      i += 1
      raw
    }
    while (i < txt.length) {
      if (txt(i) == '"') {
        val k = quoted()
        var sawColon = false
        while (i < txt.length &&
            (txt(i).isWhitespace || (!sawColon && txt(i) == ':'))) {
          if (txt(i) == ':') sawColon = true
          i += 1
        }
        // a key is only a PAIR if a colon and a quoted value follow —
        // same shape the regex spelling required
        if (sawColon && i < txt.length && txt(i) == '"')
          out(unescape(k)) = unescape(quoted())
      } else i += 1
    }
    out.toMap
  }

  /** Inverse of the escaper in main — without it, each resume cycle
    * would re-escape the seeded messages (\n → \\n → \\\\n ...). */
  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) {
        s(i + 1) match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' if i + 6 <= s.length =>
            sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case o => sb += o; i += 2 // covers \" and \\
        }
      } else { sb += s(i); i += 1 }
    }
    sb.toString
  }

  /** SPARK_GRAFT_ADAPTIVE_GATES parser (spec-pinned): a comma-separated
    * name list bypasses the clamp pre-flight for exactly those names.
    * Scoped is the only posture (ADVICE r15; blanket "run" RETIRED in
    * r17 per VERDICT r16 #8): a blanket bypass with overrides for only
    * one family turns the other family's PRECONDITION markers into bare
    * hash mismatches the moment the corpus outgrows its clamp — and
    * certify has named exact twins since r16, so nothing needed the
    * footgun. A leftover blanket value fails loudly with the fix. */
  private[graft] def adaptiveBypassFn(
      env: Option[String]): String => Boolean = env match {
    case Some(v) if v.trim.equalsIgnoreCase("run") =>
      throw new IllegalArgumentException(
        "SPARK_GRAFT_ADAPTIVE_GATES=run (the blanket bypass) is retired " +
          "— name the gates whose scale-matched override oracles this " +
          "run carries, e.g. q302_ann_adaptive,q303_hard_negatives_adaptive")
    case Some(v) =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      names.contains(_)
    case None => _ => false
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev iteration
    // on a subset; the driver always runs the full inventory)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER: the two-JVM realism leg (VERDICT r15 #2) runs
    // the FULL inventory under local-cluster[2,16,...] so every custom
    // expression/aggregator crosses real executor serialization
    // boundaries, not just the bench heavy family. Same recipe as
    // Bench: ship the engine classes, size the executor heap.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val clusterExtra: Map[String, String] =
      if (master.startsWith("local-cluster")) Map(
        "spark.executor.extraClassPath" ->
          new java.io.File("target/scala-2.13/classes").getAbsolutePath,
        "spark.executor.memory" ->
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "8g"))
      else Map.empty
    val spark = Graft.session(
      master = master,
      appName = "graft-verify",
      shufflePartitions = cpus.toInt,
      extra = clusterExtra)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json lands BEFORE any query runs: a sweep that dies
    // mid-inventory still leaves a complete oracle map, so the partial
    // outputs can be adjudicated (the r9 sf1 crash lost 26 minutes of
    // finished work because nothing could be checked).
    // a filtered dev run dumps only the matching oracle entries so
    // tools/check.py gates exactly the subset that was produced — but
    // MERGED over any oracle map already in outDir: a filtered top-up
    // into a finished sweep's directory (the r11 q268/q269 sf1 case)
    // must extend the 267-entry map, not replace it with a 2-entry one
    // and orphan every other output the directory still holds.
    val prior: Map[String, String] =
      if (only.isDefined && Files.exists(Paths.get(s"$outDir/oracle_sql.json")))
        parseErrors(Files.readString(Paths.get(s"$outDir/oracle_sql.json")))
      else Map.empty
    val oracleJson = (prior ++ SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) })
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    // Submit queries concurrently: most are small jobs, so overlapping
    // them keeps the local cores busy instead of serializing 51 rounds
    // of job-submission latency. Spark actions are thread-safe.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // Failures are DATA, not just stderr: a throwing query writes a 1-row
    // error-marker parquet under its own output name (the downstream
    // compare then reports a red row instead of silent absence — the r7
    // lesson, where 9 analysis-time errors showed up as missing rows) and
    // lands in errors.json for the gate to print verbatim.
    val errs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    import scala.jdk.CollectionConverters._
    // errors.json is rewritten after EVERY failure (atomic tmp+move),
    // not only at clean exit — a sweep killed mid-run keeps the real
    // failures it saw instead of losing them behind the crash.
    def dumpErrors(): Unit = errs.synchronized {
      val tmp = Paths.get(s"$outDir/errors.json.tmp")
      Files.writeString(tmp,
        errs.asScala.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)}: ${q(v)}" }
          .mkString("{", ",", "}"))
      Files.move(tmp, Paths.get(s"$outDir/errors.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // RESUME SEEDING: a resume run must not erase the prior crash's
    // recorded failures before the retried queries re-fail (or succeed)
    // — the eager dump below would otherwise overwrite errors.json with
    // an empty map, and a second early crash would lose the only record
    // of them. Seed errs with every entry from the existing file whose
    // query has NOT since finished (no _GRAFT_OK marker); a retried
    // query that succeeds is removed on success below.
    val existing = Paths.get(s"$outDir/errors.json")
    if (Files.exists(existing)) {
      parseErrors(Files.readString(existing)).foreach { case (name, msg) =>
        if (!Files.exists(Paths.get(s"$outDir/$name/_GRAFT_OK")))
          errs.put(name, msg)
      }
    }
    dumpErrors() // an untouched resume still yields a (empty) file
    // PRE-FLIGHT (ADVICE r13): the adaptive-banded gates are
    // oracle-valid only inside the clamp region where the adaptive
    // parameters equal their oracle-baked constants (16/4 bands + 8
    // clusters for embeddings; (8,2) minhash for documents). If this
    // corpus sits outside that region, error-mark those names with a
    // clear regenerate-the-oracles message INSTEAD of running a
    // knowingly mismatched compare — a gate-scale bump fails loudly
    // here, never as a bare hash mismatch. Bench and production
    // callers never pass through this check: the adaptive operators
    // are built to run at any scale. Counts are parquet-metadata
    // reads, paid only when an affected name is selected.
    //
    // Soundness note (ADVICE r14): this gates on the FULL table count,
    // while some gated queries resolve their banding from a SUBSET
    // (q85/q88/q193 band the ~80% `doc_id % 5 =!= 0` corpus slice).
    // That is valid because every clamp region is a PREFIX [0, N] of
    // the count axis and the adaptive rules are MONOTONE in n (spec:
    // OperatorSpec "adaptive rules are monotone…") — full-n inside the
    // clamp implies every subset is too. A future non-monotonic
    // adaptive rule would invalidate this shortcut; the spec pins it.
    //
    // SPARK_GRAFT_ADAPTIVE_GATES bypasses the exclusion PER NAME: the
    // adjudication path for a run whose downstream check carries
    // override oracles baked at THIS scale's adaptive banding (the r15
    // 24/6 sf1 receipts) — without overrides the comparison the bypass
    // enables is known-invalid, so the default stays fail-loud. The
    // value is a comma-separated list of gate names to bypass (certify
    // names exactly the twins its overrides file carries); the legacy
    // blanket "run" is RETIRED (r17, VERDICT r16 #8) — it fails loudly
    // in adaptiveBypassFn, because under a regrown corpus it would turn
    // the OTHER family's explanatory PRECONDITION markers into bare
    // hash MISMATCHes.
    val adaptiveBypass: String => Boolean =
      adaptiveBypassFn(sys.env.get("SPARK_GRAFT_ADAPTIVE_GATES"))
    val clampExcluded: Map[String, String] = {
      def excluded(names: Seq[String], table: String,
          holds: Long => Boolean, baked: String): Map[String, String] = {
        val sel = names.filter(n =>
          only.forall(_.contains(n)) && !adaptiveBypass(n))
        if (sel.isEmpty) Map.empty
        else scala.util.Try(
            graft.sources.Tables.read(spark, sfDir, table).count()) match {
          // an unreadable/corrupt gate table error-marks ONLY these
          // gate names (ADVICE r14: an unguarded count here aborted
          // the ENTIRE sweep before any query ran); the per-query
          // reads of the same table will record their own failures.
          case scala.util.Failure(e) =>
            sel.map(_ -> (s"PRE-FLIGHT: $table.parquet unreadable " +
              s"(${String.valueOf(e.toString).take(300)}) — the clamp " +
              "check could not run")).toMap
          case scala.util.Success(n) =>
            if (holds(n)) Map.empty
            else sel.map(_ -> (s"PRECONDITION: $table corpus n=$n is " +
              s"outside the clamp region where the adaptive banding " +
              s"equals the oracle-baked $baked; regenerate the banded " +
              "oracles for this scale (or adjudicate via overrides) — " +
              "the engine-side operator runs fine, only the oracle " +
              "comparison is invalid")).toMap
        }
      }
      excluded(graft.queries.Vectors.adaptiveGateNames, "embeddings",
        graft.queries.Vectors.oracleClampHolds, "16/4 bands, 8 clusters") ++
        excluded(graft.queries.TextDedup.adaptiveGateNames, "documents",
          graft.queries.TextDedup.oracleClampHolds, "(k=8, rows=2) minhash")
    }
    clampExcluded.foreach { case (name, msg) =>
      System.err.println(s"[verify] $name pre-flight excluded: $msg")
      errs.put(name, msg)
      try {
        import spark.implicits._
        Seq(msg).toDF("graft_error")
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        // the marker parquet is what reaches check.py's per-name
        // output; if writing it fails, say so instead of letting the
        // query surface as a misleading MISSING OUTPUT (ADVICE r14)
        System.err.println(s"[verify] $name pre-flight marker write " +
          s"failed: $e")
      }
    }
    if (clampExcluded.nonEmpty) dumpErrors()
    def runOne(name: String, fn: (org.apache.spark.sql.SparkSession,
        String) => org.apache.spark.sql.DataFrame): Unit = {
        // RESUME: a query dir carrying the success marker is finished
        // work from a previous (killed/crashed) sweep — skip it, so a
        // rerun continues instead of restarting. The marker is ours,
        // not Spark's _SUCCESS: the error-marker parquet below also
        // gets a _SUCCESS, but must be retried on resume (the r9 sf1
        // crash turned 1 real failure into 184 unretryable "stopped
        // SparkContext" cascade rows).
        val okMarker = Paths.get(s"$outDir/$name/_GRAFT_OK")
        if (!Files.exists(okMarker)) {
          // Plain multi-file write: no coalesce(1) funnel — at sf0.1+ a
          // single-task write serializes the whole result through one
          // core; pyarrow/duckdb read part-file directories natively.
          try {
            fn(spark, sfDir).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            Files.createFile(okMarker)
            // a retried query that now succeeds clears its seeded
            // (resume) or earlier-attempt error record
            if (errs.remove(name) != null) dumpErrors()
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            errs.put(name, String.valueOf(e.toString).take(800))
            dumpErrors()
            try {
              import spark.implicits._
              Seq(String.valueOf(e.toString).take(800)).toDF("graft_error")
                .write.mode("overwrite").parquet(s"$outDir/$name")
            } catch { case e2: Throwable =>
              System.err.println(
                s"[verify] $name error-marker write failed: $e2")
            }
          }
        }
    }
    // Each query runs in its own operators.Scratch scope on its pool
    // thread: the caches and cuts it takes are released as soon as its
    // output is written, so a 306-query sweep never accumulates them
    // (the storageFraction memory pressure Bench documents).
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) =>
        only.forall(_.contains(name)) && !clampExcluded.contains(name) }
      .map { case (name, fn) =>
        scala.concurrent.Future {
          // runOne records its own failures; a failed release only leaks
          try graft.operators.Scratch.scoped(spark)(runOne(name, fn))
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[verify] $name storage release failed: $e")
          }
        }
      }
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    dumpErrors()
    // diag.json: run-level observability riding the output dir —
    // adaptive_count_misses pins the one-count-per-corpus-per-session
    // contract in every committed Verify receipt (VERDICT r15 #5).
    try Files.writeString(Paths.get(s"$outDir/diag.json"),
      s"""{"adaptive_count_misses":${
        graft.operators.AdaptiveCount.misses.get()},"master":${q(master)}}""")
    catch { case e: Throwable =>
      System.err.println(s"[verify] diag.json write failed: $e")
    }
    // Guarded like Bench.stopThenGate and ChaosClusterProbe: stop() can
    // throw on local-cluster teardown races, and every output this run
    // exists to produce (parquet, errors.json, diag.json) is already on
    // disk — an unguarded throw here would turn a fully-successful
    // sweep into a nonzero exit, which certify.sh records as
    // VERIFY-CRASH and skips the DuckDB check (ADVICE r16 #1).
    try spark.stop() catch { case e: Throwable =>
      System.err.println(s"[verify] spark.stop() failed (outputs already " +
        s"written — exiting clean): $e")
    }
  }
}
