package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Parquet source layer.
  *
  * The reference's only source is `read_parquet` — each chare reads a
  * contiguous row-range of every matched file using row-group metadata
  * (`/root/reference/src/partition.cpp:748-849`). Spark's
  * `FileSourceScanExec` does the identical split planning (plus row-group
  * and page-level predicate pruning, which the reference lacks), so the
  * source layer here is deliberately thin: path resolution + schema-stable
  * readers for the driver's test corpus.
  *
  * The reference has **no write sink at all** (results leave only via
  * fetch, `src/partition.cpp:363-383`); we expose parquet write as the
  * canonical sink since any real 100 TB pipeline needs one.
  *
  * Schema memo. Every parquet read here ([[read]], [[readParquet]],
  * [[tsStoredAsLong]]) infers a source's schema once per file snapshot
  * per session: Spark's inference runs a one-task footer job, which would
  * otherwise run during plan construction on every call.
  *  - Key: the session, the read's path list, and the confs that change
  *    parquet inference ([[InferenceConfs]]).
  *  - Evidence: the snapshot — path, length and modification time of
  *    every file — taken from the file index the read itself built, so a
  *    hit lists the files once, like any read, and runs no job.
  *  - A hit reads with the memoized schema. A changed snapshot (a file
  *    added, removed, or rewritten in place), a changed conf, or a read
  *    that fails with the memoized schema falls back to a plain inferring
  *    read, which raises what an unmemoized read raises, and replaces the
  *    entry.
  *  - The key cannot see a file whose bytes change while its path,
  *    length and modification time all stay the same, nor a conf outside
  *    [[InferenceConfs]]. No Spark writer produces the former.
  */
object Tables {

  /** Session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles")

  private val schemas =
    new SnapshotMemo[(Seq[Option[String]], Seq[String]), Seq[(String, Long, Long)], StructType]

  /** `spark.read.parquet(paths)` with the schema memo described above. */
  private def parquet(spark: SparkSession, paths: String*): DataFrame =
    schemas(spark, (InferenceConfs.map(spark.conf.getOption), paths)) { schema =>
      scala.util.Try(spark.read.schema(schema).parquet(paths: _*)).toOption
        .flatMap(df => snapshotOf(df).map(df -> _))
    } {
      val df = spark.read.parquet(paths: _*)
      (df, snapshotOf(df).getOrElse(Nil), df.schema)
    }

  /** Path, length and modification time of every file `df` scans, read
    * from the file index its relation holds (no second listing). None
    * when the plan holds no file relation: such a read is never served
    * from the memo. */
  private def snapshotOf(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation =>
        r.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sorted
      }

  /** Read one table of the driver corpus: `{dir}/{name}.parquet`.
    *
    * The `events.ts` column's PHYSICAL storage varies by corpus vintage
    * (the reference reads whatever Arrow type the parquet holds and
    * dispatches per type — `/root/reference/src/partition.cpp:1387-1393`);
    * [[canonicalTs]] folds every vintage to one engine-side type so
    * downstream operators never see the storage difference.
    */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") canonicalTs(df) else df
  }

  /** Canonicalize an events frame's `ts` to session-zone TimestampType
    * (us precision, UTC session — Graft.session pins the zone) no matter
    * how the source stored it:
    *
    *  - int64 ns-since-epoch (Arrow TimeUnit::NANO, read as long under
    *    Graft.session's `nanosAsLong`) → `timestamp_micros(ts DIV 1000)`.
    *    Integer DIV, not floor(x/1000): long/int promotes to DOUBLE
    *    division in Spark SQL, and ~1.7e18 ns exceeds a double's 2^53
    *    integer range — the lost bits showed up as ±1us timestamps.
    *    ns→us is floor-truncation (reference stores ns,
    *    `/root/reference/src/partition.cpp:703-708`; SURVEY.md §1.2).
    *  - timestamp[us] / TIMESTAMP_NTZ → plain cast, no division (the
    *    session zone is UTC, so NTZ wall-clock values are preserved).
    *  - already TimestampType → no-op.
    */
  def canonicalTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** True when `path`'s events parquet stores `ts` as int64 ns (the
    * `nanosAsLong` vintage); false for native timestamp storage. Used by
    * streaming readers, which must DECLARE a schema up front and so need
    * the storage class before opening the stream. Goes through the
    * schema memo, so reopening a stream on an unchanged directory runs
    * no inference job.
    *
    * A directory with NO parquet footers yet (an empty landing dir a
    * stream is opened on before the first file arrives — the normal
    * streaming-source startup order) defaults to native timestamp
    * storage: Spark's own writers produce timestamp[us], so a dir that
    * will be populated by Spark jobs holds that vintage. A later
    * ns-vintage producer on a pre-sniffed empty dir would need the
    * stream reopened — sniffing is open-time, documented at
    * [[graft.streaming.EventStreams.fromDirectory]]. */
  def tsStoredAsLong(spark: SparkSession, path: String): Boolean =
    try
      parquet(spark, path).schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
    catch {
      case _: org.apache.spark.sql.AnalysisException => false
    }

  /** Reference-parity reader: the path's last component is a REGEX
    * fully matched against the parent directory's entry names — the
    * reference lists the directory and `std::regex_match`es each file
    * (`src/partition.cpp:51-63`), so `data_[0-9]+\.parquet` selects
    * exactly the numbered files and nothing else. A path that exists
    * literally is read directly (also the reference's fast path: a
    * non-pattern path matches only itself). The listing goes through
    * the Hadoop FileSystem API, so the same semantics hold on
    * HDFS/object stores, and the matched files are passed to ONE
    * multi-path parquet scan — split planning, pushdown and row-group
    * pruning all still apply across the whole set.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(hPath)) parquet(spark, path)
    else {
      val parent = hPath.getParent
      require(parent != null && fs.exists(parent),
        s"readParquet: neither '$path' nor its parent directory exist")
      val re = java.util.regex.Pattern.compile(hPath.getName)
      val matched = fs.listStatus(parent).map(_.getPath)
        .filter(p => re.matcher(p.getName).matches())
        .map(_.toString).sorted
      require(matched.nonEmpty,
        s"readParquet: no entry of $parent matches regex '${hPath.getName}'")
      parquet(spark, matched: _*)
    }
  }

  /** Canonical sink. `mode=overwrite` matches the reference's
    * store-under-new-handle semantics (a handle is always fresh).
    */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** CSV/JSON sources+sinks — free Spark superset (the reference reads
    * parquet only, SURVEY.md §2.1). Schema inference on read; header on
    * CSV. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Partitioned sink: directory-partition by low-cardinality columns so
    * downstream filters on them become partition pruning (zero I/O for
    * excluded values) — the 100 TB layout discipline the flat reference
    * lacks entirely. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed sink (managed table): pre-hash rows into `n` buckets on the
    * join/agg key. Two tables bucketed the same way join with NO shuffle
    * on either side — at 100 TB this converts every fact-fact join on the
    * bucket key from a full network exchange into a local zip. This is
    * the durable version of the reference's one-shot hash redistribution
    * (src/partition.cpp:1326-1409): pay the shuffle once at write time,
    * reuse it for every query after. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      nBuckets: Int): Unit = {
    resetTable(df.sparkSession, table)
    // repartition on the bucket key first (same murmur3 hash as
    // bucketBy): each bucket then lands in exactly ONE file, which is
    // the condition under which the scan reports the sortBy ordering —
    // downstream merge joins then skip BOTH the Exchange and the Sort
    // (ScaleSpec pins that plan for q198). Without it every input task
    // writes its own file per bucket and readers re-sort.
    df.repartition(nBuckets,
        bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Small-file compaction (lakehouse OPTIMIZE): rewrite a parquet
    * directory into ~`targetFiles` files. Streaming sinks and
    * per-batch appends accumulate thousands of small files whose
    * open/footer cost eventually dominates scans; compaction restores
    * scan-sized files. Write-to-side-dir, then a two-rename swap
    * (original → `_old`, compacted → live, drop `_old`): no
    * half-written directory is ever at the live path, and a crash at
    * ANY point leaves the full dataset recoverable — before the first
    * rename the original is live; between renames it sits intact under
    * `_old`. The rename window does mean a concurrent reader can
    * briefly miss the path: this is a single-writer MAINTENANCE op
    * (run it when the table is quiesced), not a transactional commit —
    * that is what table formats' metadata pointers add on top.
    * Content is untouched — ScaleSpec asserts byte-equal rows and the
    * reduced file count. `coalesce` (not repartition): compaction must
    * not pay a shuffle, only a narrow re-read. */
  def compact(spark: SparkSession, dir: String, targetFiles: Int): Unit = {
    require(targetFiles >= 1)
    val tmp = dir + "_compacting"
    spark.read.parquet(dir).coalesce(targetFiles)
      .write.mode("overwrite").parquet(tmp)
    val p = new org.apache.hadoop.fs.Path(dir)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val old = new org.apache.hadoop.fs.Path(dir + "_old")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(old, true) // stale leftover from a prior crash
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"compact: rename $dir -> $old failed")
    if (!fs.rename(t, p)) {
      fs.rename(old, p) // restore the original before failing
      throw new java.io.IOException(s"compact: rename $tmp -> $dir failed")
    }
    fs.delete(old, true)
    ()
  }

  /** Plain managed-table sink (tiny dimension/centroid tables). */
  def writeTable(df: DataFrame, table: String): Unit = {
    resetTable(df.sparkSession, table)
    df.write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** Drop `table` (and its warehouse files) WITHOUT rewriting it —
    * index writers call this on the main table before overwriting its
    * `_sizes` side table so a crash anywhere in the rebuild leaves
    * missing-bands (loud probe failure) and never NEW sizes beside OLD
    * bands (a silent sizes/bands mismatch: over-cap buckets would
    * truncate against the wrong counts — recall skew with no error). */
  def dropTable(spark: SparkSession, table: String): Unit =
    resetTable(spark, table)

  /** Drop `table` AND its warehouse location. saveAsTable(overwrite)
    * refuses to create a table whose location survives from a previous
    * JVM (dropped catalogs don't delete files on session teardown), so
    * index-building operators must clear both before rewriting. */
  private def resetTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }
}
