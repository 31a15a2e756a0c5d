package graft

import org.apache.spark.sql.functions._

/** Façade semantics vs the reference client API
  * (charmpandas/dataframe.py): join types incl. side-swapped right_semi/
  * right_anti, pandas/Acero `_l`/`_r` suffixing, `op(field)` agg naming,
  * sort, concat, scalar reductions. */
class TableSpec extends SparkTestBase {
  import spark.implicits._

  private def left = Table(Seq((1, "a"), (2, "b"), (3, "c"))
    .toDF("k", "lv"))
  private def right = Table(Seq((2, "x"), (3, "y"), (4, "z"))
    .toDF("k", "rv"))

  test("all 8 reference join types produce the right row sets") {
    assert(left.merge(right, on = Seq("k"), how = "inner").count() == 2)
    assert(left.merge(right, on = Seq("k"), how = "left").count() == 3)
    assert(left.merge(right, on = Seq("k"), how = "right").count() == 3)
    assert(left.merge(right, on = Seq("k"), how = "full").count() == 4)
    assert(left.merge(right, on = Seq("k"), how = "left_semi")
      .df.columns.toSeq == Seq("k", "lv"))
    assert(left.merge(right, on = Seq("k"), how = "left_semi").count() == 2)
    assert(left.merge(right, on = Seq("k"), how = "left_anti").count() == 1)
    // right_semi/right_anti: rows OF THE RIGHT table (side swap)
    val rs = left.merge(right, on = Seq("k"), how = "right_semi")
    assert(rs.df.columns.toSeq == Seq("k", "rv"))
    assert(rs.df.select("k").as[Int].collect().sorted.toSeq == Seq(2, 3))
    val ra = left.merge(right, on = Seq("k"), how = "right_anti")
    assert(ra.df.select("k").as[Int].collect().toSeq == Seq(4))
  }

  test("colliding non-key columns get _l/_r suffixes like Acero") {
    val a = Table(Seq((1, 10)).toDF("k", "v"))
    val b = Table(Seq((1, 20)).toDF("k", "v"))
    val m = a.merge(b, on = Seq("k"), how = "inner")
    assert(m.df.columns.toSet == Set("k_l", "v_l", "k_r", "v_r"))
    assert(m.df.select("v_l").as[Int].head() == 10)
    assert(m.df.select("v_r").as[Int].head() == 20)
  }

  test("groupby agg names results op(field) like the reference client") {
    val t = Table(Seq(("a", 1.0), ("a", 2.0), ("b", 5.0)).toDF("g", "v"))
    val out = t.groupby("g").agg("v" -> "sum", "v" -> "count")
    assert(out.df.columns.toSeq == Seq("g", "sum(v)", "count(v)"))
    val row = out.df.filter($"g" === "a").head()
    assert(row.getDouble(1) == 3.0 && row.getLong(2) == 2L)
  }

  test("full reference agg vocabulary evaluates") {
    val t = Table(Seq(("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 5.0))
      .toDF("g", "v"))
    val out = t.groupby("g").agg(
      "v" -> "approximate_median", "v" -> "count_distinct",
      "v" -> "distinct", "v" -> "first", "v" -> "last").df
    assert(out.columns.contains("approximate_median(v)"))
    val a = out.filter($"g" === "a").head()
    assert(a.getDouble(out.columns.indexOf("approximate_median(v)")) == 2.0)
    assert(a.getLong(out.columns.indexOf("count_distinct(v)")) == 2L)
  }

  test("approximate_median: exact and approx spellings pinned against quantile semantics") {
    // both spellings agree on ODD-sized groups (the true middle
    // element); on EVEN sizes the exact path interpolates while the
    // percentile_approx path returns the lower middle element — the
    // documented divergence of the 100 TB spelling.
    val t = Table(Seq(
      ("odd", 1.0), ("odd", 7.0), ("odd", 3.0),            // median 3.0
      ("even", 1.0), ("even", 2.0), ("even", 10.0), ("even", 20.0))
      .toDF("g", "v"))
    def medians(): Map[String, Double] =
      t.groupby("g").agg("v" -> "approximate_median").df
        .as[(String, Double)].collect().toMap
    val exact = medians()
    assert(exact == Map("odd" -> 3.0, "even" -> 6.0),
      s"exact median path diverged: $exact") // (2+10)/2 interpolated
    spark.conf.set(Graft.ApproxMedianConf, "approx")
    try {
      val approx = medians()
      assert(approx == Map("odd" -> 3.0, "even" -> 2.0),
        s"percentile_approx path diverged: $approx") // lower middle
    } finally spark.conf.unset(Graft.ApproxMedianConf)
  }

  test("sortValues matches reference asc/desc semantics") {
    val t = Table(Seq(3, 1, 2).toDF("x"))
    assert(t.sortValues(Seq("x")).df.as[Int].collect().toSeq == Seq(1, 2, 3))
    assert(t.sortValues(Seq("x"), ascending = false)
      .df.as[Int].collect().toSeq == Seq(3, 2, 1))
  }

  test("concat is n-ary union-all; reductions reduce") {
    val t = Table(Seq(1, 2).toDF("x"))
    assert(Table.concat(Seq(t, t, t)).count() == 6)
    assert(t.sum("x") == 3.0)
    assert(t.countCol("x") == 2L)
    assert(t.min("x") == 1 && t.max("x") == 2)
  }

  test("cross-table expressions work through the facade (filter+set_column)") {
    val t = Table(spark.read.parquet(s"$sf/lineitem.parquet"))
    val f = t.filter(t("l_quantity") > 30)
      .setColumn("rev", t("l_extendedprice") * (lit(1) - t("l_discount")))
    assert(f.df.columns.contains("rev"))
    assert(f.count() > 0)
  }

  test("first_last agg yields a {first,last} struct; alignWith zips tables") {
    val t = Table(Seq(("a", 1.0), ("a", 9.0)).toDF("g", "v"))
    val fl = t.groupby("g").agg("v" -> "first_last").df
    assert(fl.columns.contains("first_last(v)"))
    val row = fl.head().getStruct(1)
    assert(row.getDouble(0) == 1.0 && row.getDouble(1) == 9.0)

    val a = Table(Seq((1, 10.0), (2, 20.0)).toDF("ids", "x"))
    val b = Table(Seq((5, 2.0), (6, 1.0)).toDF("k2", "age"))
    // reference semantics: df1["ids"] + 2*df2["age"] by position
    val z = a.alignWith(b, Seq("ids"), Seq("k2"))
    val combo = z.setColumn("combo", z("ids") + lit(2) * z("age"))
      .sortValues(Seq("pos")).df.select("combo")
      .as[Double].collect().toSeq
    assert(combo == Seq(1 + 2 * 2.0, 2 + 2 * 1.0))
  }

  test("readParquet accepts regex-ish .* paths like the reference") {
    val t = Table.readParquet(spark, s"$sf/line.*\\.parquet".replace("\\", ""))
    assert(t.count() > 0)
  }

  test("readParquet regex-matches file names like the reference's directory scan") {
    // reference semantics (src/partition.cpp:51-63): list the parent
    // dir, std::regex_match each name — character classes included, not
    // just `.*` globs. part_0/part_1 match `part_[0-9]+\.parquet`;
    // other.parquet and part_x.parquet must NOT.
    val dir = java.nio.file.Files.createTempDirectory("graft-regex").toString
    val two = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    two.limit(1).coalesce(1).write.parquet(s"$dir/part_0.parquet")
    two.filter($"id" === 2L).coalesce(1).write.parquet(s"$dir/part_1.parquet")
    Seq((99L, "z")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/other.parquet")
    Seq((98L, "y")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/part_x.parquet")
    val t = Table.readParquet(spark, s"$dir/part_[0-9]+\\.parquet")
    assert(t.df.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // a literal existing path is read directly, no regex interpretation
    assert(Table.readParquet(spark, s"$dir/other.parquet").count() == 1)
    // and a pattern matching nothing fails loudly, like the reference
    intercept[IllegalArgumentException] {
      Table.readParquet(spark, s"$dir/missing_[0-9]+\\.parquet")
    }
  }

  test("getArrow round-trips rows through Arrow IPC batches") {
    // S2 parity: the reference's fetch ships Arrow record batches
    // (interface.py:23-33) — encode, decode, and get the same rows back
    val t = Table.readParquet(spark, s"$sf/nation.parquet")
    val batches = t.getArrow()
    assert(batches.nonEmpty && batches.forall(_.nonEmpty))
    val back = org.apache.spark.sql.GraftShim.fromArrowBatches(
      spark, batches.iterator, t.df.schema.json)
    assert(back.exceptAll(t.df).count() == 0 &&
      t.df.exceptAll(back).count() == 0,
      "Arrow round-trip changed the rows")
  }

  test("getArrowStream is a self-describing IPC stream a plain Arrow reader decodes") {
    // the wire contract tools/pyclient.py depends on: schema header +
    // batches + EOS, decodable WITHOUT any Spark-side schema JSON (a
    // vanilla ArrowStreamReader here; pyarrow.ipc.open_stream in the
    // Python client)
    val t = Table.readParquet(spark, s"$sf/nation.parquet")
    val bytes = t.getArrowStream()
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      import scala.jdk.CollectionConverters._
      val names = reader.getVectorSchemaRoot.getSchema.getFields.asScala
        .map(_.getName)
      assert(names == t.df.columns.toSeq,
        s"stream schema drifted: $names vs ${t.df.columns.toSeq}")
      var rows = 0L
      while (reader.loadNextBatch())
        rows += reader.getVectorSchemaRoot.getRowCount
      assert(rows == t.count(), s"stream carried $rows rows")
    } finally { reader.close(); alloc.close() }
  }

  test("barrier is a sync no-op; join aliases merge") {
    val t = Table(Seq((1, "a")).toDF("k", "v"))
    t.barrier() // must not throw
    val j = t.join(Table(Seq((1, "b")).toDF("k", "w")), Seq("k"))
    assert(j.count() == 1)
  }

  test("pandas conveniences: dropna/fillna/rename/astype/head/value_counts/nunique") {
    val t = Table(Seq(
      (1, Some(2.7), "x"), (2, None, "x"), (3, Some(-1.9), "y"))
      .toDF("id", "v", "g"))
    assert(t.dropna(Seq("v")).count() == 2)
    assert(t.dropna().count() == 2)
    val filled = t.fillna(0.0, Seq("v"))
    assert(filled.df.filter($"v".isNull).count() == 0)
    // astype double→long truncates toward zero (documented cast rule)
    val cast = filled.astype("v", "bigint").df
      .orderBy("id").select("v").as[Long].collect().toSeq
    assert(cast == Seq(2L, 0L, -1L))
    // pandas parity: an INTEGER fill also covers floating-point columns
    // (pins Spark's na.fill(Long)-targets-all-NumericType behavior,
    // which Table.fillna relies on)
    val intFilled = t.fillna(0, Seq("v"))
    assert(intFilled.df.filter($"v".isNull).count() == 0)
    assert(intFilled.df.orderBy("id").select("v").as[Double].collect()
      .toSeq == Seq(2.7, 0.0, -1.9))
    assert(t.rename("g" -> "grp").df.columns.contains("grp"))
    // explode keeps empty-array rows with a null element (pandas parity)
    val ex = Table(Seq((1, Seq("a", "b")), (2, Seq.empty[String]))
      .toDF("id", "xs")).explodeCol("xs")
    assert(ex.df.count() == 3 &&
      ex.df.filter($"id" === 2 && $"xs".isNull).count() == 1)
    assert(t.head(2).count() == 2)
    val vc = t.valueCounts("g").df.as[(String, Long)].collect().toSeq
    assert(vc == Seq(("x", 2L), ("y", 1L)))
    assert(t.nunique("g") == 2L)
  }

  test("printShards pretty-prints every shard executor-side (print parity)") {
    // local mode: task println lands on this JVM's stdout — capture it.
    // On a cluster the same lines land in each executor's stdout log,
    // exactly where the reference's per-PE CkPrintf output goes.
    val t = Table(sources.Tables.read(spark, sf, "nation").repartition(3))
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.out
    System.setOut(new java.io.PrintStream(buf, true, "UTF-8"))
    try { t.printShards(maxRowsPerShard = 5); Console.out.flush() }
    finally System.setOut(old)
    val out = new String(buf.toByteArray, "UTF-8")
    val headers = "\\[\\d+\\] shard rows=".r.findAllIn(out).size
    assert(headers == 3, s"expected 3 shard blocks, got $headers:\n$out")
    assert(out.contains("n_nationkey"), "schema header missing")
  }

  /** Result of `f` and the number of Spark jobs it started from this
    * thread, counted by job group. A marker job started afterwards is
    * awaited: the listener bus delivers events in order, so once its
    * start is seen every earlier job start has been counted. */
  private def withJobCount[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"table-spec-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      def inGroup[B](g: String)(body: => B): B = {
        sc.setJobGroup(g, g)
        try body finally sc.clearJobGroup()
      }
      val a = inGroup(group)(f)
      inGroup(group + "-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(group + "-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(group + "-marker"), "listener bus never delivered the marker job")
      import scala.jdk.CollectionConverters._
      (a, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  test("parquet schema memo: an unchanged snapshot is read with no Spark " +
      "job; a rewritten file, a toggled conf or an emptied path is not served from it") {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("graft-schema-memo")
    try {
      // unchanged path: the first read infers (one footer job), the
      // second is served from the memo with no job, same schema and rows
      sources.Tables.read(spark, sf, "nation")
        .write.parquet(s"$base/nation.parquet")
      val (first, inferJobs) = withJobCount(sources.Tables.read(spark, base.toString, "nation"))
      assert(inferJobs >= 1, "the first read of a fresh path must infer its schema")
      val (second, jobs) = withJobCount(sources.Tables.read(spark, base.toString, "nation"))
      assert(jobs == 0, s"re-reading an unchanged path ran $jobs Spark jobs")
      assert(second.schema == first.schema)
      assert(second.exceptAll(first).isEmpty && first.exceptAll(second).isEmpty)

      // a file rewritten in place under the same name with another
      // schema: ns-typed ts (LongType) replaced by a timestamp[us] file
      val events = sources.Tables.read(spark, sf, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val ev = s"$base/ev/events.parquet"
      TsPostureSpec.writeNsTyped(events.withColumn("ts",
          expr("unix_micros(ts) * CAST(1000 AS BIGINT)")).collect().toSeq, ev)
      assert(Table.readParquet(spark, ev).df.schema("ts").dataType == LongType)
      assert(sources.Tables.tsStoredAsLong(spark, ev))
      events.coalesce(1).write.parquet(s"$base/us")
      val usFile = Files.list(Paths.get(s"$base/us")).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).head
      Files.copy(usFile, Paths.get(ev, "part-00000.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      Files.deleteIfExists(Paths.get(ev, ".part-00000.parquet.crc"))
      val rewritten = Table.readParquet(spark, ev).df
      assert(rewritten.schema("ts").dataType == TimestampType,
        "a file rewritten in place was read with its stale memoized schema")
      assert(!sources.Tables.tsStoredAsLong(spark, ev))
      assert(rewritten.exceptAll(events).isEmpty && events.exceptAll(rewritten).isEmpty)

      // toggling nanosAsLong on the ns-vintage fixture flips what ts
      // infers to, exactly as an unmemoized read does
      val ns = s"$base/ns/events.parquet"
      TsPostureSpec.writeNsTyped(events.withColumn("ts",
          expr("unix_micros(ts) * CAST(1000 AS BIGINT)")).collect().toSeq, ns)
      def tsType(read: => org.apache.spark.sql.DataFrame): Either[String, Any] =
        scala.util.Try(read.schema("ts").dataType).toEither.left.map(_.getMessage)
      assert(tsType(Table.readParquet(spark, ns).df) == Right(LongType))
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val saved = spark.conf.get(key)
      spark.conf.set(key, "false")
      try {
        val memo = tsType(Table.readParquet(spark, ns).df)
        assert(memo != Right(LongType), "nanosAsLong=false was served the LongType schema")
        assert(memo == tsType(spark.read.parquet(ns)))
      } finally spark.conf.set(key, saved)
      assert(tsType(Table.readParquet(spark, ns).df) == Right(LongType))

      // a path emptied after a successful read fails exactly as an
      // unmemoized read of it does
      val gone = s"$base/nation.parquet"
      Files.list(Paths.get(gone)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .foreach(Files.delete)
      val viaMemo = intercept[Exception](sources.Tables.read(spark, base.toString, "nation"))
      val plain = intercept[Exception](spark.read.parquet(gone))
      assert(viaMemo.getClass == plain.getClass && viaMemo.getMessage == plain.getMessage)
    } finally graft.streaming.EventStreams.registerTreeCleanup(base.toFile)
  }
}
