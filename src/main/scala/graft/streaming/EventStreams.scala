package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.functions.DetMath._

/** Structured Streaming façade over the events stream table
  * (SURVEY.md §2.8 — the reference has no streaming; this is the
  * extension surface for the driver's `events` corpus).
  *
  * The same transforms run batch or streaming: `readStream` over a
  * parquet directory, watermarked event-time windows, session windows,
  * and `flatMapGroupsWithState` for custom per-key state. Batch twins of
  * the aggregations are oracle-gated as q29 (hourly) — streaming output
  * equality with the batch twin is asserted in StreamingSpec.
  *
  * Scale notes: windowed aggregation shuffles once on (window, type);
  * the watermark bounds state; session windows use Spark's native
  * session_window (state merges, no per-event driver work).
  */
object EventStreams {

  /** events schema for the ns-long storage vintage (ts int64
    * ns-since-epoch, read as long under Graft.session's `nanosAsLong`). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** events schema for the native-timestamp storage vintage
    * (timestamp[us]; the session zone is UTC so zoneless wall-clock
    * values read identically to zoned ones). */
  val tsSchema: StructType = StructType(rawSchema.map(f =>
    if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  /** Open a streaming source over a directory of events parquet with ts
    * canonicalized to TimestampType exactly like the batch reader
    * (sources.Tables.canonicalTs). A streaming reader must DECLARE its
    * schema before starting, so the storage vintage is sniffed from the
    * directory's parquet footers first (one driver-side read) — the
    * reference's read-what-the-file-holds dispatch
    * (`/root/reference/src/partition.cpp:1387-1393`), moved to stream
    * open time. */
  def fromDirectory(spark: SparkSession, dir: String): DataFrame =
    if (graft.sources.Tables.tsStoredAsLong(spark, dir))
      spark.readStream.schema(rawSchema)
        .parquet(dir)
        // integer DIV — see sources.Tables.canonicalTs (double division
        // loses sub-us bits at ns magnitudes)
        .withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
    else
      spark.readStream.schema(tsSchema).parquet(dir)

  /** Unbounded synthetic source: Spark's `rate-micro-batch` generator
    * shaped into the events schema (deterministic rows per batch, ids
    * monotonic) — the seam a Kafka/kinesis reader drops into: every
    * downstream transform ([[hourlyCounts]], [[sessions]], dedup, the
    * stream-stream join) works unchanged because they only see the
    * schema, not the source. */
  def fromRate(spark: SparkSession, rowsPerBatch: Long = 1000L): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toString)
      .load()
      .select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        pmod(col("value"), lit(997L)).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("signup"), lit("purchase")),
          (pmod(col("value"), lit(4L)) + 1).cast("int")).as("event_type"),
        (pmod(col("value") * 31L, lit(10000L)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(col("value"), lit(100L)), lit("}"))
          .as("props"))

  /** Tumbling 1-hour counts per event type (streaming twin of
    * q29_events_hourly). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sumFixed(col("value"), 2).as("sum_val"))
      .select(col("window.start").as("hr"), col("event_type"),
        col("cnt"), col("sum_val"))

  /** Tumbling 1-hour APPROXIMATE distinct users per event type — the
    * streaming face of the sketch-based distinct family (q54/q94).
    * approx_count_distinct keeps one bounded HLL sketch per (window,
    * type) key instead of a distinct-user set, so state is O(windows ×
    * types), not O(users) — the only shape that survives unbounded
    * streams. Sketch merge is commutative, so the streamed estimate
    * equals the batch twin's exactly (StreamingSpec asserts it). */
  def hourlyUniques(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .select(col("window.start").as("hr"), col("event_type"),
        col("approx_users"))

  /** Per-user session windows with a 30-minute inactivity gap. */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sumFixed(col("value"), 2).as("sum_val"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("sum_val"))

  /** Drive the session-window STREAM to completion over a staged copy of
    * `sfDir`'s events table and return the final result as a batch
    * DataFrame — the oracle-gated face of [[sessions]] (q65): complete
    * output mode so every session is emitted, then read back from the
    * memory sink. Batch/stream parity is thereby driver-hash-checked,
    * not just spec-asserted. */
  def sessionsBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sfDir, "graft_q65_sessions", sessions(_))

  /** Same gate for the tumbling-hour aggregation (q68): the streaming
    * twin of q29 must hash-match q29's own oracle. */
  def hourlyBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sfDir, "graft_q68_hourly", hourlyCounts(_))

  /** Oracle-gated face of the STREAM-STREAM join (q105): run
    * [[purchasesAfterSignup]] to exhaustion over a staged copy of the
    * events table and return all emitted matches. Inner stream-stream
    * joins emit eagerly in the micro-batch where both sides have
    * arrived (the watermark only bounds retained state), so Append mode
    * yields every match of the finite input — which must hash-match the
    * batch interval-join twin the oracle runs.
    *
    * That completeness claim leans on the file source ingesting ALL
    * staged files in ONE micro-batch (no maxFilesPerTrigger set): with
    * the input split across batches, watermark state eviction on
    * out-of-event-time-order arrival could silently drop valid matches.
    * [[runToCompletion]] asserts the single data batch at runtime so a
    * future source/trigger change fails loudly instead of weakening the
    * gate. */
  def joinBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sfDir, "graft_q105_join",
      purchasesAfterSignup(_), OutputMode.Append)

  /** q180: stream-static ENRICHMENT join — the canonical streaming
    * dimension lookup: each streamed event joins the static customer
    * dim on user_id (stateless, no watermark needed — the static side
    * is re-planned per micro-batch, which is exactly how a slowly-
    * changing dim stays fresh), then rolls up per (segment, type).
    * Complete-mode aggregation makes the finite run's final table the
    * batch answer, which the oracle replays as a plain join+group. */
  def enrichedSegmentRollup(spark: SparkSession, sfDir: String)
      (events: DataFrame): DataFrame = {
    val dim = graft.sources.Tables.read(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    events.join(dim, "user_id")
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("cnt"), sumFixed(col("value"), 2).as("sum_val"))
  }

  /** Oracle-gated face of [[enrichedSegmentRollup]] (q180). */
  def enrichBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sfDir, "graft_q180_enrich",
      enrichedSegmentRollup(spark, sfDir))

  /** q169: signup→purchase conversion via LEFT OUTER stream-stream
    * join — every signup emits exactly once, joined to each purchase by
    * the same user within the next hour, or with NULL purchase columns
    * if none came. The outer side makes this the funnel/conversion
    * report streaming pipelines actually run (q105's inner join only
    * shows converters). Unmatched rows can only emit once the watermark
    * passes a signup's join window, so the gate stages a far-future
    * SENTINEL event (see [[joinBatchEquivalent]]'s single-batch note):
    * the post-data no-data micro-batch then evicts all join state and
    * flushes every outer row. */
  def signupConversions(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    signups.join(purchases,
        col("p_user") === col("s_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("signup_id"), col("s_user").as("user_id"),
        col("purchase_id"), col("value"))
  }

  /** Oracle-gated face of [[signupConversions]] (q169). The negative-id
    * guard strips the sentinel signup should it ever surface — by the
    * watermark arithmetic it can't (its own join window END sits past
    * the final watermark, so it stays in state), but the gate must not
    * depend on that margin. */
  def conversionsBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sfDir, "graft_q169_conv",
      signupConversions(_), OutputMode.Append, sentinel = true)
      .filter(col("signup_id") >= 0)

  /** q254: FULL OUTER stream-stream join — the complete
    * reconciliation view: converting signups matched to their in-window
    * purchases, non-converting signups with NULL purchase columns, AND
    * orphan purchases (no signup in the preceding hour) with NULL
    * signup columns. Completes the streaming join-type surface (q105
    * inner, q169 left outer). Both sides' unmatched rows emit only on
    * watermark-driven eviction, so the gate rides the same sentinel
    * machinery as q169 — the sentinel pair advances BOTH per-side
    * watermarks past every join window. */
  def fullReconciliation(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    signups.join(purchases,
        col("p_user") === col("s_user") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"),
        "full_outer")
      .select(col("signup_id"),
        coalesce(col("s_user"), col("p_user")).as("user_id"),
        col("purchase_id"), col("value"))
  }

  /** Oracle-gated face of [[fullReconciliation]] (q254). Both sentinel
    * rows carry negative user ids; in a full outer join either can
    * surface as an unmatched row, so the guard strips on user_id. */
  def reconciliationBatchEquivalent(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sfDir, "graft_q254_recon",
      fullReconciliation(_), OutputMode.Append, sentinel = true)
      .filter(col("user_id") >= 0)

  // Far-future sentinel event time (2035-01-01 UTC, ns): past every
  // corpus timestamp by decades, so watermark = sentinel - delay clears
  // every real join window; lexicographic ISO floor the waiter polls
  // for. TWO sentinel rows — one per join side — because watermarks
  // attach to the FILTERED side streams and the global watermark is
  // their MIN (multipleWatermarkPolicy=min): a single typed row would
  // advance only its own side. The sentinel purchase (user -2) matches
  // no signup and a left join drops unmatched right rows; the sentinel
  // signup (user -1) out-waits the watermark inside the state store.
  private val SentinelNs = 2051222400L * 1000000000L
  private val SentinelWmFloor = "2034-01-01"

  /** Stage `sfDir`'s events table into a directory, run `transform` on
    * it as a stream to exhaustion, return the final memory-sink table.
    * Complete mode for aggregations (every group re-emitted at the end);
    * Append for stream-stream joins (matches emit exactly once).
    *
    * `sentinel = true` additionally stages TWO far-future events — one
    * typed "signup" (user -1), one typed "purchase" (user -2), because
    * per-side watermarks only advance from rows that survive that
    * side's type filter and the global watermark is their MIN. The
    * negative user ids keep them out of every real result: the
    * sentinel purchase matches no signup (unmatched right rows drop in
    * a left join) and the sentinel signup's own row is stripped by the
    * negative-id guard in the transforms that would otherwise emit it.
    * After the data batch, the waiter polls for the no-data micro-batch
    * to report a watermark past [[SentinelWmFloor]] — the signal that
    * outer-join state was evicted and unmatched rows reached the sink
    * (left-outer rows emit on eviction, not on arrival). */
  private def runToCompletion(spark: SparkSession, sfDir: String,
      name: String, transform: DataFrame => DataFrame,
      mode: OutputMode = OutputMode.Complete,
      sentinel: Boolean = false,
      copies: Int = 1): DataFrame = {
    // NOTE: calling this EXECUTES the streaming job (it is an action, not
    // a lazy plan) and the complete-mode memory sink materializes the
    // final aggregate on the driver — correct for the oracle gate's
    // bounded result (thousands of rows), not a pattern for unbounded
    // production output. Staged copies are reclaimed at JVM exit.
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory(s"$name-events")
    val staged = dir.resolve("events.parquet")
    val src = Paths.get(s"$sfDir/events.parquet")
    // deleteOnExit runs LIFO: registrations go parents-first (dir, then
    // each tree entry in walk order) so children are deleted first and
    // the then-empty dirs can actually be removed
    dir.toFile.deleteOnExit()
    if (Files.isDirectory(src)) {
      // Spark-written parquet is a DIRECTORY of part files; a bare
      // Files.copy of it yields an empty dir and a zero-row stream —
      // stage the whole tree instead
      val walk = Files.walk(src)
      try walk.forEach { pth =>
        val dst = staged.resolve(src.relativize(pth).toString)
        if (Files.isDirectory(pth)) Files.createDirectories(dst)
        else Files.copy(pth, dst)
        dst.toFile.deleteOnExit()
      } finally walk.close()
    } else {
      Files.copy(src, staged)
      staged.toFile.deleteOnExit()
    }
    // extra staged copies model at-least-once redelivery: the source
    // sees every event `copies` times (flat-file staging only — the
    // driver corpus ships events as one flat parquet file)
    for (k <- 1 until copies) {
      require(!Files.isDirectory(src),
        "replay staging supports flat-file sources only")
      val replay = dir.resolve(s"events_replay$k.parquet")
      Files.copy(src, replay)
      replay.toFile.deleteOnExit()
    }
    if (sentinel) {
      import spark.implicits._
      // the source lists top-level FILES only (the staged events table
      // is a flat file, so nothing triggers recursive listing) — write
      // the sentinel to a scratch dir and move its part file up as a
      // sibling FILE of the staged events
      val scratch = Files.createTempDirectory(s"$name-sentinel")
      // the sentinel file must carry the SAME ts dtype as the staged
      // corpus file — the stream reader declares one schema for the
      // whole directory, so a vintage mismatch between the two files
      // would misread one of them
      val sentinelBase =
        Seq((-1L, SentinelNs, -1L, "signup", 0.0, "{}"),
            (-2L, SentinelNs, -2L, "purchase", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val sentinelShaped =
        if (graft.sources.Tables.tsStoredAsLong(spark, src.toString))
          sentinelBase
        else sentinelBase.withColumn("ts",
          expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
      sentinelShaped
        .coalesce(1)
        .write.mode("overwrite").parquet(scratch.toString)
      val listing = Files.list(scratch)
      val part =
        try listing.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst.get
        finally listing.close()
      Files.move(part, dir.resolve("zz_sentinel.parquet"))
      deleteTree(scratch.toFile)
      // staged files written after the walk above — recursive exit hook
      registerTreeCleanup(dir.toFile)
    }
    val q = transform(fromDirectory(spark, dir.toString))
      .writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      q.processAllAvailable()
      if (mode == OutputMode.Append) {
        // Append-mode gates (stream-stream joins) are only complete if
        // all input arrived in one micro-batch — see joinBatchEquivalent
        // note: recentProgress retains the last 100 updates by default
        // (spark.sql.streaming.numRecentProgressUpdates) — plenty for a
        // processAllAvailable() run over one staged directory, but a
        // much longer run could age the data batch out of the window
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        // 0 data batches is a legitimately empty source (the sink is
        // then empty too and the caller's comparison judges that); >1
        // means a source/trigger change split the input and the
        // stream-stream join completeness assumption no longer holds
        require(dataBatches <= 1,
          s"append-mode gate expects at most one data micro-batch, saw " +
            s"$dataBatches — a source/trigger change broke the " +
            "single-batch completeness assumption")
      }
      if (sentinel) {
        // wait for the no-data micro-batch: its progress reports the
        // ADVANCED watermark (the data batch reports the one it ran
        // under), and its sink commit carries the flushed outer rows.
        // ISO-8601 strings compare lexicographically.
        val deadline = System.nanoTime + 60L * 1000000000L
        def wm = Option(q.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark")))
        while (wm.forall(_ < SentinelWmFloor) && System.nanoTime < deadline)
          Thread.sleep(50)
        require(wm.exists(_ >= SentinelWmFloor),
          s"watermark never passed $SentinelWmFloor — outer rows not flushed")
      }
    } finally { q.stop() }
    spark.table(name)
  }

  /** STREAMING incremental rollup (q142 — the streaming face of q140's
    * batch delta-merge): history partials (batches 0-2 of the events
    * table) land once via a batch write; the remaining slice is
    * re-staged as files and STREAMED, each micro-batch writing ONLY
    * its own hourly (count, exact-cents) partials through foreachBatch
    * — the lakehouse materialized-view maintenance loop. Because
    * count/scaled-int-sum partials are associative and commutative,
    * the final merge equals a full recompute REGARDLESS of how the
    * source split the stream into micro-batches (no single-batch
    * assumption needed, unlike the stream-stream join gate). SUM
    * partials are NOT idempotent, and foreachBatch is only
    * AT-LEAST-ONCE (a crash between the side effect and the checkpoint
    * commit replays the batch), so the side effect is made idempotent
    * the q290 way: each micro-batch OVERWRITES its own
    * `batch_id=<bid>` partition directory — the file source's offset
    * log pins a replayed batch to identical content, so a replay
    * rewrites the same partials in place instead of double-counting
    * (VERDICT r13 #1; the chaos spec kills BETWEEN the write and the
    * commit to prove it). The seed lands at `batch_id=-1`. */
  def incrementalRollupStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 1,
      chaosKillAfter: Option[Int] = None,
      chaosKillBeforeCommit: Option[Int] = None): DataFrame = {
    import graft.operators.Rollup.{hourlyPartials, mergePartials}
    val dir = java.nio.file.Files.createTempDirectory("graft_q142_partials")
    registerTreeCleanup(dir.toFile)
    runDeltaStream(spark, sfDir, "graft_q142", maxFilesPerTrigger,
      deltaFiles,
      seed = hist => hourlyPartials(hist).write.mode("overwrite")
        .parquet(s"$dir/batch_id=-1"),
      onBatch = (batch, bid) => hourlyPartials(batch).write
        .mode("overwrite").parquet(s"$dir/batch_id=$bid"),
      chaosKillAfter = chaosKillAfter,
      chaosKillBeforeCommit = chaosKillBeforeCommit)
    val partials = spark.read.parquet(dir.toString)
    // inspection surface (batch_id rides as the partition column):
    // StreamingSpec proves several micro-batches really ran
    partials.createOrReplaceTempView("graft_stream_rollup_partials")
    mergePartials(partials.select("hr", "event_type", "cnt", "cents"))
  }

  /** STREAMING incremental distinct counting (q186 — the streaming face
    * of q94's batch register-merge, exactly as q142 is to q140):
    * history DetSketch registers land once via a batch write; the delta
    * slice is re-staged as files and STREAMED, each micro-batch
    * appending ONLY its own md5-register rows through foreachBatch.
    * Register union is MAX over the sketch lattice — associative,
    * commutative, idempotent — so the query-time MAX-merge equals a
    * one-shot sketch over all events REGARDLESS of micro-batch
    * boundaries (idempotence even makes a replayed batch harmless,
    * which count-partials do NOT give you), and the same brute-replay
    * DuckDB oracle as q94 gates it hash-exactly. State stays bounded:
    * ≤ DetSketch.M register rows per (event_type) per micro-batch, and
    * the merge reads register rows only — never raw history. */
  def incrementalDistinctStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 1,
      chaosKillAfter: Option[Int] = None): DataFrame = {
    import graft.operators.Sketches.{detRegisters, detEstimate}
    def regsOf(df: DataFrame) =
      detRegisters(df, Seq("event_type"), "user_id")
    runDeltaStream(spark, sfDir, "graft_q186", maxFilesPerTrigger,
      deltaFiles,
      seed = hist => graft.sources.Tables.writeTable(
        regsOf(hist), "graft_stream_distinct"),
      onBatch = (batch, _) => regsOf(batch).write.mode("append")
        .format("parquet").saveAsTable("graft_stream_distinct"),
      chaosKillAfter = chaosKillAfter)
    detEstimate(
      spark.table("graft_stream_distinct")
        .groupBy("event_type", "rb").agg(max("rv").as("rv")),
      Seq("event_type"), "approx_users")
  }

  /** STREAMING DAU/WAU maintenance (q234 — the streaming face of
    * q226's rolling distinct users; the q186 : q94 relationship
    * applied to engagement reporting): the (day, user) presence SET is
    * the persisted summary. Set union is associative, commutative and
    * IDEMPOTENT — each micro-batch appends its own deduped pairs and
    * the query-time distinct collapses any overlap, so the merged
    * table equals a one-shot dedup of all events REGARDLESS of
    * micro-batch boundaries (and, like q186's register MAX, a replayed
    * batch is harmless). Appended state per trigger is bounded by the
    * batch's own (day, user) pairs; the DAU/WAU rollup reads presence
    * rows only — never raw history — and q226's DuckDB oracle gates
    * the result hash-exactly. */
  def dauStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 1,
      chaosKillAfter: Option[Int] = None): DataFrame = {
    def dayUser(df: DataFrame) =
      df.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    runDeltaStream(spark, sfDir, "graft_q234", maxFilesPerTrigger,
      deltaFiles,
      seed = hist => graft.sources.Tables.writeTable(
        dayUser(hist), "graft_stream_dau"),
      onBatch = (batch, _) => dayUser(batch).write.mode("append")
        .format("parquet").saveAsTable("graft_stream_dau"),
      chaosKillAfter = chaosKillAfter)
    val du = spark.table("graft_stream_dau").distinct()
    val u1 = du.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val roll = du
      .withColumn("rday", explode(expr("sequence(day, date_add(day, 6))")))
      .groupBy("rday").agg(countDistinct("user_id").as("wau"))
    u1.join(roll, col("day") === col("rday"))
      .select(col("day").cast("timestamp").as("day"), col("dau"),
        col("wau"))
  }

  /** q210: STREAMING shard-manifest maintenance — q207's integrity
    * manifest kept current from a document stream (the q186 : q94
    * relationship applied to data versioning). Seed: the history
    * slice's per-shard partial manifests (doc batches 0-2) land once;
    * the remaining slice is staged as landed files and STREAMED, each
    * micro-batch appending ONLY its own per-shard partials — one scan
    * of the batch, never of history. The query-time merge (SUM of
    * n_rows and fp_sum, XOR of fp_xor) is associative and commutative
    * over disjoint row sets, so it equals the one-shot q207 manifest
    * REGARDLESS of micro-batch boundaries, and the same DuckDB oracle
    * gates it hash-exactly. Unlike q186's register MAX these partials
    * are NOT idempotent (a replayed batch would double-count n_rows
    * and fp_sum and xor-cancel fp_xor) and foreachBatch is only
    * AT-LEAST-ONCE, so each micro-batch OVERWRITES its own
    * `batch_id=<bid>` partition directory (the q290 posture — a
    * replayed batch rewrites identical partials in place; VERDICT r13
    * #1 replaced the earlier append-and-hope spelling, whose docstring
    * claimed an exactly-once source contract Spark does not have).
    * 100 TB: each trigger's cost is batch-sized, and the published
    * manifest is shard-count rows — the snapshot-diff artifact stays
    * queryable mid-ingest. */
  def manifestStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 2,
      chaosKillBeforeCommit: Option[Int] = None): DataFrame = {
    import graft.queries.Fingerprints.manifest
    val all = graft.sources.Tables.read(spark, sfDir, "documents")
    val hist = all.filter(pmod(col("doc_id"), lit(4)) < 3)
    val delta = all.filter(pmod(col("doc_id"), lit(4)) === 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_q210_partials")
    registerTreeCleanup(dir.toFile)
    manifest(hist).write.mode("overwrite").parquet(s"$dir/batch_id=-1")
    runStagedStream(spark, "graft_q210", delta, docSchema,
      maxFilesPerTrigger, deltaFiles,
      onBatch = (b, bid) => manifest(b).write.mode("overwrite")
        .parquet(s"$dir/batch_id=$bid"),
      chaosKillBeforeCommit = chaosKillBeforeCommit)
    val partials = spark.read.parquet(dir.toString)
    partials.createOrReplaceTempView("graft_stream_manifest_partials")
    partials
      .groupBy("shard")
      .agg(sum("n_rows").as("n_rows"), sum("fp_sum").as("fp_sum"),
        expr("bit_xor(fp_xor)").as("fp_xor"))
  }

  /** Shared delta-replay harness for the incremental-maintenance
    * streams (q142 rollup, q186 distinct): `seed` persists the history
    * slice's summary (event batches 0-2), then the remaining slice
    * (batch 3) is re-staged in the RAW file shape (ns longs) and
    * STREAMED with `onBatch` invoked per micro-batch — the landed-file
    * ingest loop a production pipeline runs. `maxFilesPerTrigger`
    * splits the staged delta into one micro-batch per file —
    * StreamingSpec uses it to PROVE the merge equals the full recompute
    * regardless of batch boundaries; `deltaFiles > 1` splits the
    * staged drop into several files so that run really produces
    * several micro-batches (a small sf writes one part file
    * otherwise). Staging + checkpoint trees are exit-hook deleted
    * RECURSIVELY (deleteOnExit on a non-empty dir is a no-op — the
    * Ingest.stagingDir trap). */
  private def runDeltaStream(spark: SparkSession, sfDir: String,
      tmpPrefix: String, maxFilesPerTrigger: Option[Int], deltaFiles: Int,
      seed: DataFrame => Unit, onBatch: (DataFrame, Long) => Unit,
      chaosKillAfter: Option[Int] = None,
      chaosKillBeforeCommit: Option[Int] = None): Unit = {
    val ev = graft.sources.Tables.read(spark, sfDir, "events")
      .withColumn("b", pmod(col("event_id"), lit(4)))
    seed(ev.filter(col("b") < 3))
    val deltaCanon = ev.filter(col("b") === 3)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    // re-stage the delta in the SAME physical shape the corpus vintage
    // uses (ns longs vs native timestamp) — the landed files a
    // production ingest loop would actually see
    if (graft.sources.Tables.tsStoredAsLong(spark, s"$sfDir/events.parquet"))
      runStagedStream(spark, tmpPrefix,
        deltaCanon.withColumn("ts",
          expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)")),
        rawSchema, maxFilesPerTrigger, deltaFiles, onBatch, postRead =
          _.withColumn("ts",
            expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")),
        chaosKillAfter = chaosKillAfter,
        chaosKillBeforeCommit = chaosKillBeforeCommit)
    else
      runStagedStream(spark, tmpPrefix, deltaCanon, tsSchema,
        maxFilesPerTrigger, deltaFiles, onBatch,
        chaosKillAfter = chaosKillAfter,
        chaosKillBeforeCommit = chaosKillBeforeCommit)
  }

  /** Stage `delta` as landed parquet files and stream them back with
    * `onBatch` invoked per micro-batch — the shared file-ingest loop
    * under [[runDeltaStream]] (events, raw ns shape) and
    * [[streamingAdmissionStream]] (documents). Staging + checkpoint
    * trees are exit-hook deleted recursively. */
  private def runStagedStream(spark: SparkSession, tmpPrefix: String,
      delta: DataFrame, schema: StructType,
      maxFilesPerTrigger: Option[Int], deltaFiles: Int,
      onBatch: (DataFrame, Long) => Unit,
      postRead: DataFrame => DataFrame = identity,
      chaosKillAfter: Option[Int] = None,
      chaosKillBeforeCommit: Option[Int] = None): Unit = {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(s"${tmpPrefix}_delta")
    registerTreeCleanup(dir.toFile)
    val ckpt = Files.createTempDirectory(s"${tmpPrefix}_ckpt")
    registerTreeCleanup(ckpt.toFile)
    (if (deltaFiles > 1) delta.repartition(deltaFiles) else delta)
      .write.mode("overwrite").parquet(dir.toString)
    // Two chaos timings, both followed by a restart from the SAME
    // checkpoint that must run to completion (StreamingSpec drives
    // them to prove the maintenance lattices survive the 100 TB
    // operational reality):
    //  - chaosKillAfter = Some(n): crash BEFORE batch n+1's side
    //    effect (the kill-between-micro-batches shape) — the restart
    //    resumes at the first uncommitted batch, no batch skipped, no
    //    committed batch's side effect re-run.
    //  - chaosKillBeforeCommit = Some(n): crash AFTER batch n+1's side
    //    effect returns but BEFORE the checkpoint commit — the
    //    at-least-once window VERDICT r13 #1 named. The restart
    //    REPLAYS that batch's side effect (same content — the file
    //    source's offset log pins it), so only an IDEMPOTENT side
    //    effect (batch_id-partition overwrite, register MAX, dedup by
    //    key) survives with the one-shot answer; an append of additive
    //    partials would double-count exactly here.
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val midFired = new java.util.concurrent.atomic.AtomicBoolean(false)
    def start(killTop: Option[Int], killMid: Option[Int]) = {
      val reader = spark.readStream.schema(schema)
      maxFilesPerTrigger.foreach(nf =>
        reader.option("maxFilesPerTrigger", nf.toString))
      postRead(reader.parquet(dir.toString))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
          if (killTop.exists(done.get() >= _))
            throw new RuntimeException("graft-chaos-kill")
          onBatch(batch.toDF(), bid)
          // fires ONCE (the restart must re-run this same batch to
          // completion), after the side effect, before the counter —
          // the commit for this batch never happens on this run
          if (killMid.exists(done.get() >= _) &&
              midFired.compareAndSet(false, true))
            throw new RuntimeException("graft-chaos-kill")
          done.incrementAndGet()
          ()
        }
        .start()
    }
    def runDying(killTop: Option[Int], killMid: Option[Int]): Boolean = {
      val q1 = start(killTop, killMid)
      try { q1.processAllAvailable(); false }
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException
          if String.valueOf(e.getMessage).contains("graft-chaos-kill") ||
            Option(e.getCause).exists(c =>
              String.valueOf(c.getMessage).contains("graft-chaos-kill")) =>
        true
      } finally q1.stop()
    }
    chaosKillAfter.foreach { n =>
      val died = runDying(Some(n), None)
      require(died && done.get() == n,
        s"chaos kill did not fire after $n batches (committed=${done.get()})" +
          " — raise deltaFiles or lower the kill point")
    }
    chaosKillBeforeCommit.foreach { n =>
      val died = runDying(None, Some(n))
      require(died && done.get() == n && midFired.get(),
        s"before-commit chaos kill did not fire after $n batches " +
          s"(committed=${done.get()}) — raise deltaFiles or lower the " +
          "kill point")
    }
    val q = start(None, None)
    try q.processAllAvailable() finally q.stop()
  }

  /** documents schema as stored (for staging doc deltas as stream
    * sources — no timestamp columns, so no ns handling needed). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** embeddings schema as stored (for staging vector deltas as stream
    * sources). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** q193: STREAMING near-dup admission — q88's ingest decision
    * maintained from a document stream (exactly the q186 : q94
    * relationship). Seed: the corpus (doc_id % 5 != 0) band index,
    * built ONCE, bucketed on the band key. The q88 batch (doc_id % 5
    * == 0) streams through [[runBandedStream]] (exact-Jaccard verify
    * per micro-batch), so the accumulated pair set — and therefore the
    * admission anti-join — equals the one-shot q88 computation no
    * matter how the landed files were chopped into micro-batches; a
    * replayed file is harmless (the probe's self-pair guard strips the
    * jac=1 echoes). 100 TB: per-trigger work is batch-sized; the corpus
    * never re-exchanges. */
  def streamingAdmissionStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 2): DataFrame = {
    import graft.operators.Dedup
    val all = graft.sources.Tables.read(spark, sfDir, "documents")
    val corpus = all.filter(col("doc_id") % 5 =!= 0)
    val batchDocs = all.filter(col("doc_id") % 5 === 0)
    // banding resolved ONCE at setup from the corpus count (the
    // stream can't count itself) and threaded through every band
    // write and probe — the text twin of q295's posture
    val (k, rows) = Dedup.adaptiveMinhashParams(corpus.count())
    val thr = 0.5
    Dedup.writeBandIndex(corpus, "doc_id", "text",
      "graft_band_index_q193", k = k, rows = rows, nBuckets = 8)
    val pairs = runBandedStream(spark, "graft_q193", "graft_band_index_q193",
      batchDocs.select("doc_id", "text", "lang", "source", "n_chars"),
      docSchema, maxFilesPerTrigger, deltaFiles, None,
      Dedup.bandTable(_, "doc_id", "text", k, rows),
      (mb, index, bands) => Dedup.incrementalPairs(mb, index, all,
        "doc_id", "text", k, rows, thr, batchBands = Some(bands)))
    Dedup.admitBatch(batchDocs, pairs, "doc_id").select("doc_id")
  }

  /** The banded near-dup stream cycle of q193 (text), q291 (images) and
    * q295 (embeddings): stage `delta` as landed files and stream it.
    * Each micro-batch is banded ONCE — persisted, shared by both probes
    * and the append, released before the next batch (the probes pin
    * nothing: [[graft.operators.Banded]]'s storage convention) — and
    *   (a) probes the persisted corpus `index` (bucket-aligned — zero
    *       corpus-side exchange) AND `${prefix}_batch_bands`, the
    *       accumulated bands of earlier micro-batches (delta-scale),
    *   (b) appends its verified pairs to `${prefix}_pairs`, and
    *   (c) appends its own bands so later micro-batches see them.
    * Pairs are normalized (ida < idb) and idempotent and ids are unique,
    * so the returned read-side dropDuplicates(ida, idb) absorbs replays
    * and makes the pair set invariant to the micro-batch chopping.
    * Both tables are seeded empty with the schemas `band` and `probe`
    * produce on an empty batch. */
  private def runBandedStream(spark: SparkSession, prefix: String,
      index: String, delta: DataFrame, schema: StructType,
      maxFilesPerTrigger: Option[Int], deltaFiles: Int,
      chaosKillAfter: Option[Int], band: DataFrame => DataFrame,
      probe: (DataFrame, String, DataFrame) => DataFrame): DataFrame = {
    val (bandsTable, pairsTable) = (s"${prefix}_batch_bands", s"${prefix}_pairs")
    val none = band(delta.limit(0))
    graft.sources.Tables.writeTable(none, bandsTable)
    graft.sources.Tables.writeTable(probe(delta.limit(0), index, none),
      pairsTable)
    runStagedStream(spark, prefix, delta, schema, maxFilesPerTrigger,
      deltaFiles, onBatch = (mb, _) => {
        val bands = band(mb)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        probe(mb, index, bands).union(probe(mb, bandsTable, bands))
          .dropDuplicates("ida", "idb")
          .write.mode("append").format("parquet").saveAsTable(pairsTable)
        bands.write.mode("append").format("parquet").saveAsTable(bandsTable)
        bands.unpersist()
        ()
      }, chaosKillAfter = chaosKillAfter)
    spark.table(pairsTable).dropDuplicates("ida", "idb")
  }

  /** q289: STREAMING decontamination admission — q288's frozen-index
    * benchmark gate maintained from a document stream (the q193 : q88
    * relationship applied to exact-gram contamination). The benchmark
    * gram set is built once and persisted before the stream starts
    * (the eval suite is frozen by definition); each micro-batch then
    * probes it with a broadcast semi-join over ITS OWN gram stream
    * only and appends its admission rows — no corpus rescan, no
    * cross-batch state at all, so the union over any micro-batch
    * chopping equals one-shot q116 and this shares q116's oracle
    * verbatim. The read-side dropDuplicates(doc_id) is the q193
    * replay posture: a replayed batch re-appends identical rows, so
    * dedup-by-key makes the result idempotent under at-least-once
    * delivery. */
  def streamingDecontaminationStream(spark: SparkSession, sfDir: String,
      gramN: Int,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 2,
      chaosKillAfter: Option[Int] = None): DataFrame = {
    val all = graft.sources.Tables.read(spark, sfDir, "documents")
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(expr(s"graft_ngrams(text, $gramN)")).as("g"))
    graft.functions.TextNative.register(spark)
    graft.sources.Tables.writeTable(
      grams(all.filter(col("doc_id") % 19 === 0)).select("g").distinct(),
      "graft_gram_index_q289")
    graft.sources.Tables.writeTable(
      all.limit(0).select(col("doc_id"), col("source"),
        col("doc_id").as("n_hits"), lit(true).as("keep")),
      "graft_q289_admission")
    runStagedStream(spark, "graft_q289",
      all.filter(col("doc_id") % 19 =!= 0)
        .select("doc_id", "text", "lang", "source", "n_chars"),
      docSchema, maxFilesPerTrigger, deltaFiles, onBatch = (mb, _) => {
        val hits = grams(mb)
          .join(broadcast(spark.table("graft_gram_index_q289")),
            Seq("g"), "left_semi")
          .distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        mb.join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            col("n_hits").isNull.as("keep"))
          .write.mode("append").format("parquet")
          .saveAsTable("graft_q289_admission")
        ()
      }, chaosKillAfter = chaosKillAfter)
    spark.table("graft_q289_admission").dropDuplicates("doc_id")
  }

  /** q290: STREAMING approximate-quantile maintenance — the streaming
    * face of q190's persisted sample (completing the order-statistics
    * lattice: q83 one-shot : q190 batch-incremental : q290 streaming,
    * the q94 : q186 relationship applied to the SET-UNION sample
    * lattice). The deterministic md5 half-sample is a pure per-row
    * content-hash predicate, so the union of per-micro-batch samples
    * IS the sample of the union no matter how the source chops the
    * delta: seed rows (l_orderkey % 4 < 3) sample once via a batch
    * write; the delta (== 3) is staged as landed files and STREAMED,
    * each micro-batch filtering ITSELF with the same predicate and
    * writing only its surviving sample rows. Replay posture (q273's,
    * not q193's): lineitem has NO unique row key in this corpus —
    * (l_orderkey, l_linenumber) collides — so read-side dedup-by-key
    * is unsound, and foreachBatch is only AT-LEAST-ONCE (a crash
    * between the side effect and the checkpoint commit replays the
    * batch). The side effect is therefore made IDEMPOTENT instead of
    * assumed-once: each micro-batch OVERWRITES its own
    * `batch_id=<id>` partition directory (the file source's offset
    * log pins a replayed batch to identical content, so a replay
    * rewrites the same rows in place rather than appending
    * duplicates — ADVICE r12). The kill-restart chaos spec
    * additionally proves a restart resumes at the first uncommitted
    * batch. Exact ranks over the merged sample then reproduce the
    * one-shot q83 answer EXACTLY — same oracle. 100 TB: per-trigger
    * work is batch-sized, sample state is a fixed fraction of the
    * corpus, and the rank windows partition by the group key over
    * sample rows only. */
  def streamingQuantilesStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 2,
      chaosKillAfter: Option[Int] = None,
      chaosKillBeforeCommit: Option[Int] = None): DataFrame = {
    val li = graft.sources.Tables.read(spark, sfDir, "lineitem")
      .withColumn("rid",
        concat_ws(":", col("l_orderkey"), col("l_linenumber")))
      .withColumn("b", pmod(col("l_orderkey"), lit(4)))
      .select(col("rid"), col("l_returnflag"),
        col("l_extendedprice").as("x"), col("b"))
    def sampOf(part: DataFrame) =
      graft.operators.Sampling.hashSample(part, "rid", 8)
        .select("l_returnflag", "x")
    // Hive-layout sample store: the seed lands at batch_id=-1 and each
    // micro-batch OVERWRITES batch_id=<its id>, so an at-least-once
    // replay rewrites its own partition instead of appending dupes.
    val sampDir =
      java.nio.file.Files.createTempDirectory("graft_q290_samples")
    registerTreeCleanup(sampDir.toFile)
    sampOf(li.filter(col("b") < 3)).write.mode("overwrite")
      .parquet(s"$sampDir/batch_id=-1")
    val sampleSchema = StructType(Seq(
      StructField("rid", StringType), StructField("l_returnflag", StringType),
      StructField("x", org.apache.spark.sql.types.DoubleType)))
    runStagedStream(spark, "graft_q290",
      li.filter(col("b") === 3).select("rid", "l_returnflag", "x"),
      sampleSchema, maxFilesPerTrigger, deltaFiles,
      onBatch = (mb, bid) => sampOf(mb).write.mode("overwrite")
        .parquet(s"$sampDir/batch_id=$bid"),
      chaosKillAfter = chaosKillAfter,
      chaosKillBeforeCommit = chaosKillBeforeCommit)
    val merged = spark.read.parquet(sampDir.toString)
      .select("l_returnflag", "x")
    val ranked = merged
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy("x")).cast("long"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")))
    def pick(p: Int) =
      max(when(expr(s"rn = ((n - 1) * $p) DIV 100 + 1"), col("x")))
    ranked.groupBy("l_returnflag").agg(
      pick(25).as("q25"), pick(50).as("q50"),
      pick(75).as("q75"), pick(99).as("q99"))
  }

  /** q291: STREAMING image near-dup admission — q188's incremental
    * aHash dedup maintained from a document stream (the q193 : q85
    * relationship applied to the multimodal index, completing the
    * image lattice: q185 one-shot : q188 batch-incremental : q291
    * streaming). The corpus chunk index is built and bucketed ONCE;
    * each micro-batch of [[runBandedStream]] then decodes and hashes
    * ONLY ITS OWN images and appends its Hamming<=3 pairs, so the union
    * over any micro-batch chopping equals one-shot q188 and this shares
    * q188's brute-force oracle verbatim. 100 TB: per-trigger
    * decode+probe work is batch-sized; the corpus never re-exchanges
    * and its pixels are never touched again. */
  def streamingImageDedupStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 2,
      chaosKillAfter: Option[Int] = None): DataFrame = {
    import graft.operators.Multimodal
    val docs = graft.sources.Tables.read(spark, sfDir, "documents")
    def hashesOf(part: DataFrame) =
      Multimodal.aHash(Multimodal.synthesizePngs(part, "doc_id")).toDF
    Multimodal.writeAHashIndex(
      hashesOf(docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)),
      "graft_ahash_index_q291")
    runBandedStream(spark, "graft_q291", "graft_ahash_index_q291",
      docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select("doc_id", "text", "lang", "source", "n_chars"),
      docSchema, maxFilesPerTrigger, deltaFiles, chaosKillAfter,
      mb => Multimodal.aHashChunkTable(hashesOf(mb)),
      (mb, index, chunks) => Multimodal.incrementalAHashPairs(
        hashesOf(mb), index, batchBands = Some(chunks)))
  }

  /** q293: STREAMING Bloom-bit maintenance — the Bloom face of the
    * maintenance lattices (q98 one-shot : q292 batch-incremental :
    * q293 streaming), and the cleanest of them all: the bit set is the
    * DISTINCT of hash positions, a set-union lattice, so per-batch bit
    * appends are associative, commutative AND idempotent — the
    * read-side distinct() makes replays exactly harmless (q186's
    * register-MAX argument, without even needing MAX). History corpus
    * bits (doc_id % 4 < 3 of the corpus slice) land once via a batch
    * write; the corpus delta (== 3) streams, each micro-batch
    * fingerprinting ONLY ITS OWN documents and appending its own
    * ≤ k·|batch| bit rows. Returns the merged ≤ m-row bit set — the
    * caller probes it exactly as q98 does, and because the union of
    * per-batch position sets IS the position set of the union, the
    * probe decisions equal one-shot q98 bit-for-bit (same oracle).
    * 100 TB: state is bounded at m rows regardless of corpus size;
    * per-trigger work is batch-sized; raw history is never rescanned. */
  def streamingBloomBits(spark: SparkSession, sfDir: String,
      k: Int, m: Int,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 2,
      chaosKillAfter: Option[Int] = None): DataFrame = {
    import graft.functions.TextExpr
    import graft.operators.Sketches
    def withFp(df: DataFrame) = df.withColumn("fp",
      expr(TextExpr.fingerprintSpark(TextExpr.toksSpark("text"))))
    val corpus = graft.sources.Tables.read(spark, sfDir, "documents")
      .filter(col("doc_id") % 5 =!= 0)
      .withColumn("b", pmod(col("doc_id"), lit(4)))
    graft.sources.Tables.writeTable(
      Sketches.bloomBuild(withFp(corpus.filter(col("b") < 3)), "fp", k, m),
      "graft_q293_bits")
    runStagedStream(spark, "graft_q293",
      corpus.filter(col("b") === 3)
        .select("doc_id", "text", "lang", "source", "n_chars"),
      docSchema, maxFilesPerTrigger, deltaFiles,
      onBatch = (mb, _) => Sketches.bloomBuild(withFp(mb), "fp", k, m)
        .write.mode("append").format("parquet")
        .saveAsTable("graft_q293_bits"),
      chaosKillAfter = chaosKillAfter)
    spark.table("graft_q293_bits").distinct()
  }

  /** q295: STREAMING embedding near-dup pairs — q87's incremental LSH
    * dedup maintained from a vector stream (the q193 : q85 cycle on
    * the embedding modality, closing the last one-shot :
    * batch-incremental : streaming asymmetry in the tree: q63 : q87 :
    * q295). The corpus band index + its `_sizes` side table are built
    * ONCE, bucketed on the band key; each micro-batch of
    * [[runBandedStream]] then exact-cosine-verifies and appends its
    * pairs. The cap GENUINELY binds one decade up
    * (16-value LSH buckets grow linearly with the corpus), so every
    * probe truncates under the same FINAL union sizes the one-shot
    * recompute uses — computed manifest-lands-first (see the sizes
    * write below); with that, the union over any micro-batch chopping
    * equals the one-shot batch-touching pair set EXACTLY — q87's
    * oracle verbatim, proven at sf0.01 (cap identity) AND sf1 (cap
    * binding). 100 TB: per-trigger work is batch-sized; the corpus
    * never re-exchanges; candidate volume stays `nBands × N × cap`. */
  def streamingEmbedDedupStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 2,
      chaosKillAfter: Option[Int] = None): DataFrame = {
    import graft.operators.Similarity
    val all = graft.sources.Tables.read(spark, sfDir, "embeddings")
    val corpus = all.filter(col("vec_id") % 5 =!= 0)
    val batch = all.filter(col("vec_id") % 5 === 0)
    // banding pinned to q87's oracle-baked 16/4 (a production stream
    // resolves Similarity.adaptiveBandBits at setup and threads it the
    // same way; the _banding check fails loudly on any mismatch)
    val bandBits = 4
    val nBits = 4 * bandBits
    Similarity.writeLshIndex(corpus, "vec_id", "embedding",
      "graft_lsh_index_q295", nBits, bandBits, nBuckets = 8)
    // manifest-lands-first sizes: one narrow band-count pass over the
    // landed batch, merged with the corpus `_sizes` BEFORE contents
    // stream, so every micro-batch probe truncates under the FINAL union
    // sizes the one-shot recompute uses (the capped law's exactness).
    graft.sources.Tables.writeTable(
      graft.operators.Banded.unionSizes(
        spark.table("graft_lsh_index_q295_sizes"),
        Similarity.lshBands(batch, "vec_id", "embedding", nBits, bandBits),
        Seq("band", "bucket")),
      "graft_q295_union_sizes")
    runBandedStream(spark, "graft_q295", "graft_lsh_index_q295",
      batch.select("vec_id", "embedding", "label"),
      embSchema, maxFilesPerTrigger, deltaFiles, chaosKillAfter,
      Similarity.lshBands(_, "vec_id", "embedding", nBits, bandBits),
      (mb, index, bands) => Similarity.incrementalLshPairs(mb, index, all,
        "vec_id", "embedding", threshold = 0.35, nBits = nBits,
        bandBits = bandBits,
        unionSizesOverride = Some(spark.table("graft_q295_union_sizes")),
        batchBands = Some(bands)))
  }

  /** q294: STREAMING PQ encode — q214's frozen-codebook encode
    * maintained from a vector stream, the last maintainable family's
    * streaming face (q211 one-shot : q214 batch-incremental : q294
    * streaming). The codebook is trained ONCE on the history split and
    * persisted; each micro-batch then encodes ONLY ITS OWN vectors
    * against the broadcast m·k-row codebook — zero training jobs per
    * trigger, the history corpus never rescanned (the q86/q85
    * persisted-index story on the PQ path). Encode is a pure per-row
    * map under a frozen codebook, so the appended codes are invariant
    * to the micro-batch chopping and the merged table equals one-shot
    * q214 row-for-row — same oracle. vec_id IS unique, so the
    * read-side dropDuplicates(vec_id) is the exact q193 replay
    * posture. 100 TB: per-trigger work is batch-sized and map-only
    * (no shuffle at all on the encode path); state is the codebook +
    * the code table, 8 bytes of codes per vector. */
  def streamingPqEncodeStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 2,
      chaosKillAfter: Option[Int] = None): DataFrame = {
    import graft.operators.Similarity
    val e = graft.sources.Tables.read(spark, sfDir, "embeddings")
    Similarity.writePqCodebook(
      e.filter(pmod(col("vec_id"), lit(4)) < 3), "vec_id", "embedding",
      m = 8, k = 8, iters = 2, subLen = 8, "graft_pq_codebook_q294")
    graft.sources.Tables.writeTable(
      Similarity.pqEncodeAgainst(e.limit(0), "vec_id", "embedding",
        m = 8, subLen = 8, "graft_pq_codebook_q294", keep = Seq("label")),
      "graft_q294_codes")
    runStagedStream(spark, "graft_q294",
      e.filter(pmod(col("vec_id"), lit(4)) === 3)
        .select("vec_id", "embedding", "label"),
      embSchema, maxFilesPerTrigger, deltaFiles,
      onBatch = (mb, _) => Similarity.pqEncodeAgainst(mb, "vec_id",
          "embedding", m = 8, subLen = 8, "graft_pq_codebook_q294",
          keep = Seq("label"))
        .write.mode("append").format("parquet")
        .saveAsTable("graft_q294_codes"),
      chaosKillAfter = chaosKillAfter)
    spark.table("graft_q294_codes").dropDuplicates("vec_id")
  }

  /** q273: STREAMING incremental count-min maintenance — the streaming
    * face of q272's persisted CMS (exactly the q186 : q94 and
    * q142 : q140 relationships, applied to the SUM lattice). History
    * cells (doc_id % 4 < 3) land once via a batch write; the document
    * delta (doc_id % 4 == 3) is staged as landed files and STREAMED,
    * each micro-batch writing ONLY its own d×w-bounded cell partials
    * through foreachBatch. Cell counts are plain addends, so the
    * query-time SUM-merge equals the one-shot sketch EXACTLY no matter
    * how the source chopped the delta into micro-batches — q99's
    * DuckDB oracle gates the heavy-hitter output verbatim. The additive
    * caveat carries over from q140/q272: a REPLAYED batch double-counts
    * (SUM is not idempotent, unlike q186's register MAX), and
    * foreachBatch is only AT-LEAST-ONCE — so the side effect is made
    * idempotent the q290 way: each micro-batch OVERWRITES its own
    * `batch_id=<bid>` partition directory, and a replay rewrites the
    * same d×w cells in place instead of double-counting (VERDICT r13
    * #1; the chaos spec kills between write and commit to prove it).
    * State per trigger: ≤ d×w cell rows; the merge reads cell partials
    * only, never raw history. */
  def incrementalCmsStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      deltaFiles: Int = 1,
      chaosKillAfter: Option[Int] = None,
      chaosKillBeforeCommit: Option[Int] = None): DataFrame = {
    import graft.operators.Sketches
    import graft.operators.Sketches.{CmsDefD, CmsDefW}
    val all = graft.sources.Tables.read(spark, sfDir, "documents")
      .withColumn("b", pmod(col("doc_id"), lit(4)))
    def cells(df: DataFrame) = Sketches.cmsBuild(
      df.select(explode(expr(
        graft.functions.TextExpr.toksSpark("text"))).as("tok")),
      "tok", CmsDefD, CmsDefW)
    val dir = java.nio.file.Files.createTempDirectory("graft_q273_cells")
    registerTreeCleanup(dir.toFile)
    cells(all.filter(col("b") < 3)).write.mode("overwrite")
      .parquet(s"$dir/batch_id=-1")
    runStagedStream(spark, "graft_q273",
      all.filter(col("b") === 3)
        .select("doc_id", "text", "lang", "source", "n_chars"),
      docSchema, maxFilesPerTrigger, deltaFiles,
      onBatch = (batch, bid) => cells(batch).write.mode("overwrite")
        .parquet(s"$dir/batch_id=$bid"),
      chaosKillAfter = chaosKillAfter,
      chaosKillBeforeCommit = chaosKillBeforeCommit)
    val merged = spark.read.parquet(dir.toString)
      .groupBy("r", "cell").agg(sum("cnt").as("cnt"))
    val toks = all.select(explode(expr(
      graft.functions.TextExpr.toksSpark("text"))).as("tok"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
    Sketches.cmsEstimate(exact.select("tok"), "tok", merged,
        CmsDefD, CmsDefW)
      .join(exact, "tok")
      .orderBy(col("est").desc, col("tok"))
      .limit(20)
  }

  private val cleanupDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()

  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      cleanupDirs.forEach(deleteTree)))

  /** Register a directory tree for recursive deletion at JVM exit —
    * covers files Spark creates AFTER registration, which
    * File.deleteOnExit cannot. */
  private[graft] def registerTreeCleanup(dir: java.io.File): Unit = {
    cleanupHook
    cleanupDirs.add(dir)
    ()
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
    ()
  }

  /** Streaming exact dedup on event_id: watermark-bounded state drops
    * replays/late duplicates inside the 1-hour horizon — the streaming
    * face of the dedup operator family (operators.Dedup handles batch). */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")

  /** q197: exactly-once dedup of an at-least-once delivery — the events
    * feed staged TWICE (every row redelivered, the Kafka-rewind /
    * redeployed-producer scenario) and collapsed back to one row per
    * event_id by [[dedupedEvents]]'s watermark-bounded state. The
    * result must equal the single-delivery table bit-for-bit (the
    * DuckDB oracle reads the original), proving the dedup state absorbs
    * the entire replay; at 100 TB the 1-hour watermark keeps that state
    * proportional to one hour of arrivals, not corpus history. Append
    * mode — deduped rows emit immediately; payload columns are
    * identical across deliveries so which copy wins is unobservable. */
  def replayedDedupStream(spark: SparkSession, sfDir: String): DataFrame =
    runToCompletion(spark, sfDir, "graft_q197",
      ev => dedupedEvents(ev)
        .select("event_id", "ts", "user_id", "event_type", "value"),
      OutputMode.Append, copies = 2)

  /** Stream-stream join: purchases attributed to the same user's signup
    * within the following hour. Both sides are watermarked so Spark can
    * discard join state beyond the interval bound — the streaming twin of
    * the batch interval join (q52), with state kept finite by exactly the
    * range condition. */
  def purchasesAfterSignup(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(signups,
      col("p_user") === col("s_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("signup_id"), col("purchase_id"), col("p_user").as("user_id"),
        col("value"))
  }

  /** Production sink pattern: foreachBatch gives each micro-batch a full
    * batch DataFrame, here appended to partitioned parquet — the shape
    * used for exactly-once-ish upserts into lakehouse tables. */
  def sinkToParquet(df: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // overwrite the batchId directory: a replayed micro-batch (restart
        // after partial write) lands idempotently instead of duplicating
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()

  /** Custom keyed state via flatMapGroupsWithState: running per-user
    * event count + cumulative value, emitted on every update. */
  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserState(n: Long, total: Double)
  case class UserUpdate(user_id: Long, n: Long, total: Double)

  def runningUserTotals(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { e => n += 1; total += e.value }
          state.update(UserState(n, total))
          Iterator(UserUpdate(uid, n, total))
      }.toDF()
  }
}
