package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}

/** Pandas-like façade with the exact operator surface of the reference
  * client (`/root/reference/charmpandas/dataframe.py`), re-expressed over
  * Spark DataFrames. Everything here builds a *lazy* Catalyst plan — the
  * reference executes each op eagerly per-command
  * (`src/partition.cpp:580-669`), Spark's deferred DAG is strictly
  * stronger (fusion, pushdown, pruning happen across ops).
  *
  * Operator mapping (SURVEY.md §2):
  *   - filter (op=7, `src/partition.cpp:478-489`)  -> `filter`
  *   - set_column (op=2, `src/partition.cpp:463-476`) -> `setColumn`
  *   - merge (op=4, 8 join types, `src/partition.cpp:1068-1106`) -> `merge`
  *   - groupby+agg (op=3, `src/partition.cpp:1042-1066`) -> `groupby`
  *   - sort_values (op=13, sample sort `src/partition.cpp:1135-1265`) -> `sortValues`
  *   - concat (op=6, `src/partition.cpp:405-423`) -> `Table.concat`
  *   - scalar reductions (op=12, `src/partition.cpp:509-550`) -> `sum`/`count`/...
  *   - fetch (op=1) -> `get`; print (op=5) -> `show`; fetch_size (op=10) -> `count`
  */
final case class Table(df: DataFrame) {

  /** Column reference: `df["x"]` (`dataframe.py:171`). */
  def apply(name: String): Column = df(name)

  /** Boolean-mask selection: `df[df["x"] > 5]`. Catalyst pushes the
    * predicate into the parquet scan — the reference re-evaluates its AST
    * against fully-materialized Arrow tables instead.
    */
  def filter(cond: Column): Table = Table(df.filter(cond))

  /** set_column — add or replace a column (`src/operations.hpp:77-86`). */
  def setColumn(name: String, value: Column): Table =
    Table(df.withColumn(name, value))

  def select(cols: String*): Table = Table(df.select(cols.map(df(_)): _*))

  /** Equi hash join, all 8 reference types
    * (`/root/reference/src/utils.hpp` join enum via
    * `charmpandas/interface.py:90-112`):
    * inner, left, right, full, left_semi, left_anti, right_semi, right_anti.
    *
    * `right_semi` / `right_anti` have no Spark `how` — planned as the
    * side-swapped left variant, which is semantically identical.
    *
    * Colliding non-key column names get pandas/Acero-style `_l`/`_r`
    * suffixes (HashJoinNodeOptions suffixes, `src/partition.cpp:1099-1102`);
    * Spark would otherwise raise an ambiguity error.
    *
    * Scale note: this emits a plain Catalyst `Join`, so the planner is free
    * to choose broadcast / shuffled-hash / sort-merge, and AQE re-plans
    * skew at runtime — the reference hard-codes a shuffled hash join with
    * its own histogram balancer (`src/partition.cpp:1444-1482`).
    */
  def merge(
      other: Table,
      on: Seq[String] = Nil,
      leftOn: Seq[String] = Nil,
      rightOn: Seq[String] = Nil,
      how: String = "inner"
  ): Table = {
    val (lk, rk) =
      if (on.nonEmpty) (on, on)
      else {
        require(leftOn.nonEmpty && rightOn.nonEmpty && leftOn.size == rightOn.size,
          "merge needs `on` or equal-length `leftOn`/`rightOn`")
        (leftOn, rightOn)
      }
    val (swapped, sparkHow) = how match {
      case "right_semi" => (true, "left_semi")
      case "right_anti" => (true, "left_anti")
      case "left"       => (false, "left_outer")
      case "right"      => (false, "right_outer")
      case "full" | "outer" => (false, "full_outer")
      case h            => (false, h) // inner, left_semi, left_anti, left_outer...
    }
    val (a, b, ak, bk) =
      if (swapped) (other.df, df, rk, lk) else (df, other.df, lk, rk)

    if (sparkHow == "left_semi" || sparkHow == "left_anti") {
      val cond = ak.zip(bk).map { case (l, r) => a(l) === b(r) }.reduce(_ && _)
      Table(a.join(b, cond, sparkHow))
    } else {
      // Suffix colliding names (keys included when both sides share the
      // name — Acero suffixes any collision).
      val collide = a.columns.toSet.intersect(b.columns.toSet)
      def suffixed(d: DataFrame, sfx: String) =
        if (collide.isEmpty) d
        else d.withColumnsRenamed(collide.map(c => c -> (c + sfx)).toMap)
      val al = suffixed(a, "_l")
      val bl = suffixed(b, "_r")
      def ln(c: String) = if (collide(c)) c + "_l" else c
      def rn(c: String) = if (collide(c)) c + "_r" else c
      val cond = ak.zip(bk).map { case (l, r) => al(ln(l)) === bl(rn(r)) }
        .reduce(_ && _)
      Table(al.join(bl, cond, sparkHow))
    }
  }

  /** groupby — returns a grouped handle; terminal agg calls mirror
    * `DataFrameGroupBy` (`dataframe.py:38-95`).
    */
  def groupby(keys: String*): GroupedTable = GroupedTable(df, keys)

  /** Global sort. The reference implements a sample sort (samples →
    * splitters → range shuffle → local sort, `src/partition.cpp:1135-1265`)
    * for a single key; Spark's `SortExec` over `RangePartitioning` is the
    * same algorithm, and multi-key ordering is a free superset.
    */
  def sortValues(by: Seq[String], ascending: Boolean = true): Table = {
    val cols = by.map(c => if (ascending) df(c).asc else df(c).desc)
    Table(df.orderBy(cols: _*))
  }

  /** fetch — collect to the client (`interface.py:203-214`, sync). */
  def get(): Array[Row] = df.collect()

  /** fetch, Arrow wire format: the reference's get() ships Arrow IPC
    * record batches to its Python client and materializes a pandas
    * frame (`charmpandas/interface.py:23-33`); this returns the same
    * payload — one encoded Arrow record batch per byte array, schema
    * available as `df.schema.json`. Encoding happens ON THE EXECUTORS
    * (only the compact batches travel to the driver), so a client
    * bridge pays no row-by-row JVM serialization. Decode with
    * [[org.apache.spark.sql.GraftShim.fromArrowBatches]] or any Arrow
    * reader. */
  def getArrow(): Array[Array[Byte]] =
    org.apache.spark.sql.GraftShim.toArrowBatches(df)

  /** fetch as ONE self-describing Arrow IPC stream (schema header +
    * the [[getArrow]] batches verbatim + EOS) — what a non-JVM client
    * actually wants on the wire: `pyarrow.ipc.open_stream(payload)
    * .read_all().to_pandas()` is the whole decode, exactly the
    * reference client's fetch materialization
    * (`charmpandas/interface.py:23-33`). tools/pyclient.py round-trips
    * the Demo pipeline over this. */
  def getArrowStream(): Array[Byte] =
    org.apache.spark.sql.GraftShim.toArrowStream(df)

  /** print (op=5) — per-partition pretty print in the reference;
    * driver-side show here. */
  def show(n: Int = 20): Unit = df.show(n, truncate = false)

  /** print, reference-parity form: EACH partition pretty-prints its own
    * shard executor-side, prefixed `[partitionId]` — exactly the
    * reference's `operation_print`, where every chare PrettyPrints its
    * Arrow shard to its own stdout (`src/partition.cpp:385-403`). On a
    * cluster the output lands in each executor's stdout log (the same
    * place CkPrintf lands per PE); in local mode it interleaves on the
    * driver console. `maxRowsPerShard` bounds the per-task formatting
    * work so a 100 TB shard can't try to stringify itself. */
  def printShards(maxRowsPerShard: Int = 20): Unit = {
    val names = df.columns
    df.foreachPartition {
      (rows: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        // manual take: the original iterator is undefined after
        // Iterator.take, and we need hasNext afterwards to decide the
        // '+' marker — a shard holding exactly maxRowsPerShard rows is
        // fully shown, not truncated
        val head = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (rows.hasNext && head.size < maxRowsPerShard) head += rows.next()
        val truncated = rows.hasNext
        val body = head.map(r => names.indices
          .map(i => String.valueOf(r.get(i))).mkString(" | "))
        // one println per shard: concurrent tasks interleave BLOCKS,
        // not lines. System.out (re-read per call), not Scala's cached
        // Console.out — executor stdout redirection sees it.
        System.out.println((s"[$pid] shard rows=${head.size}${
          if (truncated) "+" else ""}" +:
          names.mkString(" | ") +: body).mkString("\n"))
    }
  }

  /** fetch_size (op=10). */
  def count(): Long = df.count()

  /** barrier (op=11) — the reference blocks the client until all
    * partitions reach the epoch (`src/partition.cpp:502-507`). Spark
    * actions already synchronize, so this is a trivial sync action kept
    * only for API parity. */
  def barrier(): Unit = {
    df.sparkSession.sparkContext.parallelize(Seq(0), 1).count(); ()
  }

  /** Alias for [[merge]] — the reference's Demo.ipynb calls `df.join`
    * even though the client only defines `merge` (SURVEY.md §4.2 code
    * health note); support both spellings. */
  def join(other: Table, on: Seq[String], how: String = "inner"): Table =
    merge(other, on = on, how = how)

  // --- scalar reductions (op=12): whole-column, tree-reduced in the
  //     reference (`src/reduction.hpp:102-131`); one-stage agg action here.
  private def scalar(c: Column): Row = df.agg(c).head()
  /** Empty/all-null column sums to 0.0 (pandas semantics — SQL SUM would
    * be NULL and getDouble would NPE). */
  def sum(col: String): Double = {
    val r = scalar(F.sum(df(col)).cast("double"))
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }
  def countCol(col: String): Long = scalar(F.count(df(col))).getLong(0)
  def min(col: String): Any = scalar(F.min(df(col))).get(0)
  def max(col: String): Any = scalar(F.max(df(col))).get(0)

  /** Cross-table positional alignment (the reference's
    * `df1["ids"] + 2*df2["age"]`, examples/create_table.py:17-18): zip
    * this table with `other` by row position under the given total
    * orders, yielding one table carrying both column sets for ordinary
    * Column arithmetic. See operators.Align for the scalable mechanics.
    */
  def alignWith(other: Table, mySort: Seq[String], otherSort: Seq[String])
      : Table =
    Table(graft.operators.Align.alignByOrder(
      df, mySort.map(df(_)), other.df, otherSort.map(other.df(_))))

  def limit(n: Int): Table = Table(df.limit(n))
  def distinct(): Table = Table(df.distinct())
  def unionAll(other: Table): Table = Table(df.unionByName(other.df))
  def intersect(other: Table): Table = Table(df.intersect(other.df))
  def except(other: Table): Table = Table(df.except(other.df))

  // --- pandas-convenience supersets (no reference counterpart; kept
  //     thin so every call is still one Catalyst plan node) ---

  /** pandas df.head(n) — alias of limit. */
  def head(n: Int = 5): Table = limit(n)

  /** pandas dropna: drop rows with any null in `subset` (all columns
    * when empty). */
  def dropna(subset: Seq[String] = Nil): Table =
    Table(if (subset.isEmpty) df.na.drop() else df.na.drop(subset))

  /** pandas fillna over `subset` (all columns when empty). An integer
    * fill covers floating-point columns too — Spark's na.fill(Long)
    * targets all NumericType columns (verified against Spark 4.1.2;
    * TableSpec pins the double-column case). */
  def fillna(value: Any, subset: Seq[String] = Nil): Table = {
    val cols = if (subset.isEmpty) df.columns.toSeq else subset
    Table(value match {
      case v: Long    => df.na.fill(v, cols)
      case v: Int     => df.na.fill(v.toLong, cols)
      case v: Double  => df.na.fill(v, cols)
      case v: String  => df.na.fill(v, cols)
      case v: Boolean => df.na.fill(v, cols)
      case other => throw new IllegalArgumentException(
        s"fillna: unsupported fill type ${other.getClass}")
    })
  }

  /** pandas rename(columns={...}). */
  def rename(mapping: (String, String)*): Table =
    Table(df.withColumnsRenamed(mapping.toMap))

  /** pandas df.explode(column): one row per array element, other
    * columns repeated; empty/null arrays keep their row with a null
    * element (pandas semantics — Spark's bare explode() would drop
    * them). */
  def explodeCol(column: String): Table =
    Table(df.withColumn(column,
      org.apache.spark.sql.functions.explode_outer(df(column))))

  /** pandas astype — cast one column in place. NOTE double→integral
    * truncates toward zero (Spark cast); an oracle must spell
    * CAST(TRUNC(x)) in DuckDB, which rounds on a bare cast. */
  def astype(colName: String, to: String): Table =
    Table(df.withColumn(colName, df(colName).cast(to)))

  /** pandas value_counts: (value, count) descending. */
  def valueCounts(colName: String): Table =
    Table(df.groupBy(colName).agg(F.count(F.lit(1)).as("count"))
      .orderBy(F.col("count").desc, F.col(colName)))

  /** pandas nunique. */
  def nunique(colName: String): Long =
    scalar(F.count_distinct(df(colName))).getLong(0)
}

object Table {
  def readParquet(spark: SparkSession, path: String): Table =
    Table(graft.sources.Tables.readParquet(spark, path))

  /** concat (op=6) — n-ary union-all. The reference concatenates local
    * shards per partition with zero shuffle (`src/partition.cpp:405-423`);
    * Spark `unionByName` is likewise a zero-shuffle plan node.
    * Schema alignment is by name (safer than the reference's positional
    * `arrow::ConcatenateTables`, same result on identical schemas).
    */
  def concat(tables: Seq[Table]): Table = {
    require(tables.nonEmpty, "concat of zero tables")
    tables.reduce(_ unionAll _)
  }
}

/** Grouped-table handle; agg results are named `op(field)` exactly like
  * the reference (`charmpandas/interface.py:78-82`).
  */
final case class GroupedTable(df: DataFrame, keys: Seq[String]) {

  /** Full server-side aggregation vocabulary
    * (`/root/reference/src/types.hpp:17-29` → Arrow fn names in
    * `src/reduction.hpp:58-95`): sum, count, all, any, approximate_median,
    * count_distinct, distinct, first, last. Spark's `HashAggregateExec`
    * does the partial/final two-level split (incl. the count→sum merge
    * the reference hand-codes in `src/reduction.hpp:182-191`)
    * automatically.
    */
  def agg(specs: (String, String)*): Table = {
    val exprs = specs.map { case (field, op) =>
      val c = df(field)
      val e: Column = op match {
        case "sum"                => F.sum(c)
        case "count"              => F.count(c)
        case "all"                => F.every(c)
        case "any"                => F.some(c)
        // Arrow's approximate_median is a t-digest; Spark's exact median
        // is deterministic and at least as accurate — the DEFAULT,
        // used deliberately. At 100 TB an exact median per group sorts
        // each group's values, so Graft.ApproxMedianConf = "approx"
        // switches the spelling to percentile_approx (bounded-memory
        // GK sketch, the scale path). Semantics divergence is pinned
        // by spec: identical on odd-sized groups UP TO the sketch's
        // accuracy parameter (10000) — beyond ~10000 values per group
        // the GK rank guarantee is ±n/10000, so large odd groups can
        // return a near-median element rather than THE median; on even
        // sizes median interpolates while percentile_approx returns
        // the lower middle element.
        case "approximate_median" =>
          if (df.sparkSession.conf
              .getOption(Graft.ApproxMedianConf).contains("approx"))
            F.percentile_approx(c, F.lit(0.5), F.lit(10000))
          else F.median(c)
        case "count_distinct"     => F.countDistinct(c)
        case "distinct"           => F.sort_array(F.collect_set(c))
        case "first"              => F.first(c)
        case "last"               => F.last(c)
        // Arrow's first_last returns a {first, last} struct
        // (src/reduction.hpp:58-95)
        case "first_last"         => F.struct(F.first(c).as("first"),
                                              F.last(c).as("last"))
        case "mean" | "avg"       => F.avg(c)
        case "min"                => F.min(c)
        case "max"                => F.max(c)
        case other => throw new IllegalArgumentException(s"unknown agg: $other")
      }
      e.as(s"$op($field)")
    }
    Table(df.groupBy(keys.map(df(_)): _*).agg(exprs.head, exprs.tail: _*))
  }

  def sum(field: String): Table = agg(field -> "sum")
  def count(field: String): Table = agg(field -> "count")
}
