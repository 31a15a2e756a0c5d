package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-vintage posture pin: the engine must land ONE canonical ts
  * type (session-zone TimestampType) no matter which physical storage
  * the events parquet holds. The corpus has changed storage twice
  * between rounds (int64 ns → timestamp[us]); this spec pre-arms every
  * vintage that can plausibly ship next, so a regeneration that flips
  * the storage again fails HERE, in one focused spec, instead of across
  * a dozen downstream gates (the r7 lesson).
  *
  * Vintage matrix (all written with REAL parquet footers, then read
  * batch AND stream):
  *  - `ns-long`:  int64 ns-since-epoch, no logical type (the reference's
  *    Arrow TimeUnit::NANO shape, `/root/reference/src/partition.cpp:703-708`)
  *  - `ns-typed`: int64 annotated TIMESTAMP(NANOS, adjustedToUTC=true) —
  *    written via parquet-java directly since Spark cannot author it;
  *    under Graft.session's `nanosAsLong` it reads as LongType like
  *    ns-long
  *  - `us-ltz`:   TIMESTAMP(MICROS, adjustedToUTC=true) — zone-annotated,
  *    Spark TimestampType write
  *  - `us-ntz`:   TIMESTAMP(MICROS, adjustedToUTC=false) — the pyarrow
  *    zoneless shape (current driver corpus), Spark TIMESTAMP_NTZ write;
  *    reads as TimestampType under `inferTimestampNTZ=false` (session
  *    zone UTC ⇒ wall-clock values preserved bit-for-bit)
  */
class TsPostureSpec extends SparkTestBase {
  import spark.implicits._
  import TsPostureSpec.writeNsTyped

  test("batch read lands canonical TimestampType on the shipped corpus") {
    val ev = sources.Tables.read(spark, sf, "events")
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts must canonicalize to TimestampType, got ${ev.schema("ts").dataType}")
    // values must be sane event times, not 1970-epoch collapse (the
    // ns-vs-us misread divides real times by 1000)
    val yr = ev.agg(min(year(col("ts"))).as("y0"), max(year(col("ts"))).as("y1"))
      .head()
    assert(yr.getInt(0) >= 2000 && yr.getInt(1) <= 2100,
      s"events.ts years [${yr.getInt(0)}, ${yr.getInt(1)}] look misscaled")
  }

  /** Write the sf events slice in EVERY storage vintage and assert the
    * batch reader and the streaming reader agree with each other and
    * across vintages. */
  test("all ts storage vintages read identically, batch and stream") {
    val canon = sources.Tables.read(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

    val base = java.nio.file.Files.createTempDirectory("graft-vintage")
    // ns-long vintage: int64 ns-since-epoch, no annotation
    canon.withColumn("ts",
        expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)"))
      .write.parquet(s"$base/ns-long/events.parquet")
    // ns-typed vintage: int64 TIMESTAMP(NANOS) via parquet-java
    writeNsTyped(
      canon.withColumn("ts",
          expr("unix_micros(CAST(ts AS TIMESTAMP)) * CAST(1000 AS BIGINT)"))
        .collect().toSeq,
      s"$base/ns-typed/events.parquet")
    // us-ltz vintage: zone-annotated TIMESTAMP(MICROS, adjustedToUTC=true)
    withOutputTimestampType("TIMESTAMP_MICROS") {
      canon.write.parquet(s"$base/us-ltz/events.parquet")
    }
    // us-ntz vintage: zoneless TIMESTAMP(MICROS, adjustedToUTC=false)
    withOutputTimestampType("TIMESTAMP_MICROS") {
      canon.withColumn("ts", col("ts").cast(TimestampNTZType))
        .write.parquet(s"$base/us-ntz/events.parquet")
    }

    for (v <- Seq("ns-long", "ns-typed", "us-ltz", "us-ntz")) {
      val dir = s"$base/$v"
      val b = sources.Tables.read(spark, dir, "events")
      assert(b.schema("ts").dataType == TimestampType, s"$v batch type")
      assert(b.exceptAll(canon).isEmpty && canon.exceptAll(b).isEmpty,
        s"$v batch read diverges from canonical")

      // the stream source reads a directory OF parquet files — the
      // written events.parquet dir itself, not its parent
      val stream = streaming.EventStreams.fromDirectory(spark,
        s"$dir/events.parquet")
      assert(stream.schema("ts").dataType == TimestampType, s"$v stream type")
      val name = s"vintage_${v.replace('-', '_')}"
      val q = streaming.EventStreams.hourlyCounts(stream)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table(name)
      val batchTwin = canon
        .groupBy(date_trunc("hour", $"ts").as("hr"), $"event_type")
        .agg(count(lit(1)).as("cnt"),
          functions.DetMath.sumFixed($"value", 2).as("sum_val"))
      assert(streamed.exceptAll(batchTwin).isEmpty &&
        batchTwin.exceptAll(streamed).isEmpty,
        s"$v streamed hourly counts diverge from the batch twin")
    }
    graft.streaming.EventStreams.registerTreeCleanup(base.toFile)
  }

  test("streaming open on an EMPTY landing directory defaults to the " +
    "native-timestamp vintage instead of throwing") {
    val empty = java.nio.file.Files.createTempDirectory("graft-empty-landing")
    // sniff must not throw on a footerless dir (ADVICE r8: streams open
    // before the first file arrives)
    assert(!sources.Tables.tsStoredAsLong(spark, empty.toString))
    val stream = streaming.EventStreams.fromDirectory(spark, empty.toString)
    assert(stream.schema("ts").dataType == TimestampType)
    // and the stream actually STARTS and consumes files that arrive
    // AFTER open, in the defaulted vintage
    val canon = sources.Tables.read(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = streaming.EventStreams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("vintage_empty_landing")
      .outputMode("complete").start()
    try {
      withOutputTimestampType("TIMESTAMP_MICROS") {
        canon.write.mode("append").parquet(empty.toString)
      }
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("vintage_empty_landing").count() > 0,
      "stream opened on an empty dir never consumed the late-arriving files")
    graft.streaming.EventStreams.registerTreeCleanup(empty.toFile)
  }

  private def withOutputTimestampType[A](t: String)(f: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.get(key)
    spark.conf.set(key, t)
    try f finally spark.conf.set(key, saved)
  }
}

object TsPostureSpec {
  /** Author a TIMESTAMP(NANOS)-typed events parquet file — the one
    * vintage Spark itself cannot write — through parquet-java's example
    * writer. Test-only driver-side loop over the tiny sf0.001 slice. */
  def writeNsTyped(rows: Seq[org.apache.spark.sql.Row],
      dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val schema = Types.buildMessage()
      .optional(INT64).named("event_id")
      .optional(INT64).as(LogicalTypeAnnotation.timestampType(true,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .optional(INT64).named("user_id")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .optional(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    new java.io.File(dir).mkdirs()
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-00000.parquet"))
      .withConf(conf).withType(schema).build()
    val fac = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = fac.newGroup()
      if (!r.isNullAt(0)) g.add("event_id", r.getLong(0))
      if (!r.isNullAt(1)) g.add("ts", r.getLong(1)) // ns since epoch
      if (!r.isNullAt(2)) g.add("user_id", r.getLong(2))
      if (!r.isNullAt(3)) g.add("event_type", r.getString(3))
      if (!r.isNullAt(4)) g.add("value", r.getDouble(4))
      if (!r.isNullAt(5)) g.add("props", r.getString(5))
      w.write(g)
    } finally w.close()
  }
}
