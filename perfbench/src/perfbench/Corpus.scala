package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Seeded input generator.
  *
  * Every value is a pure function of (seed, table, row id, column), built
  * from Spark's `xxhash64`, so the same seed gives byte-identical tables
  * whatever the partitioning. The tables the benchmark's queries read
  * have the schemas and value ranges of the engine's test corpus
  * (customer, orders, lineitem; `documents` with 5% near-duplicates;
  * unit-norm 64-d `embeddings` with 5% near-duplicates); row counts scale
  * with `sf` as that corpus does (lineitem = 6M x sf).
  */
final class Corpus(spark: SparkSession, seed: Long) {

  private def h(tag: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(tag) +: cols): _*)
  private def pick(n: Long, tag: String, cols: Column*): Column =
    pmod(h(tag, cols: _*), lit(n))
  private def elem(values: Seq[String], tag: String, cols: Column*): Column =
    element_at(array(values.map(lit): _*),
      (pick(values.size.toLong, tag, cols: _*) + 1).cast("int"))
  private def rows(n: Long, parts: Int): DataFrame =
    spark.range(0L, n, 1L, parts).toDF()
  private val epoch1995 = 788918400L // 1995-01-01T00:00:00Z
  private val day = 86400L

  val vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def tables(sf: Double): Map[String, () => DataFrame] = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val (nC, nS, nP, nO, nL) =
      (n(150000), n(10000), n(200000), n(1500000), n(6000000))
    val id = col("id")
    Map(
      "customer" -> (() => rows(nC, 1).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        pick(25, "c_nat", id).cast("int").as("c_nationkey"),
        ((pick(1100000, "c_bal", id) - 100000) / 100.0).as("c_acctbal"),
        elem(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"), "c_seg", id).as("c_mktsegment"))),
      "orders" -> (() => rows(nO, 2).select(id.as("o_orderkey"),
        pick(nC, "o_cust", id).as("o_custkey"),
        elem(Seq("F", "O", "P"), "o_status", id).as("o_orderstatus"),
        ((pick(49900000, "o_price", id) + 100000) / 100.0).as("o_totalprice"),
        timestamp_seconds(lit(epoch1995) + pick(2404, "o_date", id) * day)
          .as("o_orderdate"),
        elem(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW"), "o_prio", id).as("o_orderpriority"))),
      "lineitem" -> (() => rows(nL, 4).select(
        pick(nO, "l_order", id).as("l_orderkey"),
        pick(nP, "l_part", id).as("l_partkey"),
        pick(nS, "l_supp", id).as("l_suppkey"),
        (pick(7, "l_line", id) + 1).cast("int").as("l_linenumber"),
        (pick(50, "l_qty", id) + 1).cast("double").as("l_quantity"),
        ((pick(10410000, "l_price", id) + 90000) / 100.0)
          .as("l_extendedprice"),
        (pick(11, "l_disc", id) / 100.0).as("l_discount"),
        (pick(9, "l_tax", id) / 100.0).as("l_tax"),
        elem(Seq("A", "N", "R"), "l_flag", id).as("l_returnflag"),
        elem(Seq("F", "O"), "l_status", id).as("l_linestatus"),
        timestamp_seconds(lit(epoch1995 + day) + pick(2500, "l_ship", id) * day)
          .as("l_shipdate"))),
      "documents" -> (() => documents(n(50000))),
      "embeddings" -> (() => embeddings(n(50000)))
    )
  }

  /** Word-salad documents over [[vocab]]; 5% are a copy of an earlier
    * document plus the token "dup" (near-duplicates), 0.16% exact copies. */
  def documents(nD: Long): DataFrame = {
    val id = col("id")
    val base = rows(nD, 1).select(id,
      concat_ws(" ", transform(sequence(lit(1L), pick(88, "d_len", id) + 8),
        i => element_at(array(vocab.map(lit): _*),
          (pick(vocab.size.toLong, "d_w", id, i) + 1).cast("int"))))
        .as("base_text"))
    val nearDup = id > 0 && pick(20, "d_nd", id) === 0
    val exactDup = id > 0 && pick(625, "d_ed", id) === 1
    val src = base.select(col("id").as("src"), col("base_text").as("src_text"))
    base.withColumn("src",
        when(id > 0, pmod(h("d_src", id), id)).otherwise(lit(0L)))
      .join(src, "src")
      .select(id.as("doc_id"),
        when(nearDup, concat(col("src_text"), lit(" dup")))
          .when(exactDup, col("src_text"))
          .otherwise(col("base_text")).as("text"),
        elem(Seq("en", "en", "en", "en", "en", "en", "en", "en", "de", "de",
          "de", "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh"),
          "d_lang", id).as("lang"),
        concat(lit("src"), pmod(id, lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
  }

  /** Unit-norm 64-d float vectors with labels 0..9; 5% are an earlier
    * vector plus 5% noise (near-duplicates). */
  def embeddings(nV: Long): DataFrame = {
    val id = col("id")
    def comp(of: Column, j: Column, tag: String): Column =
      pmod(h(tag, of, j), lit(1L << 20)) / (1L << 19).toDouble - 1.0
    val nearDup = id > 0 && pick(20, "v_nd", id) === 0
    val src = when(nearDup, pmod(h("v_src", id), id)).otherwise(id)
    val raw = transform(sequence(lit(0), lit(63)), j =>
      comp(src, j, "v_c") + when(nearDup, comp(id, j, "v_n") * 0.05)
        .otherwise(lit(0.0)))
    rows(nV, 1).select(id.as("vec_id"), raw.as("raw"),
        pick(10, "v_label", id).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y)))).cast("array<float>").as("embedding"),
        col("label"))
  }

  /** The reference Demo pair (examples/datagen.py shape): `users` with
    * distinct "A<i>"/"B<i>" names and ~101 seeded cities, `ages` holding a
    * seeded permutation of the same name pairs, so an inner join on both
    * names matches every user exactly once. */
  def demo(n: Long): (DataFrame, DataFrame) = {
    require(n % Corpus.PermStride != 0, s"demo size $n shares a factor with the permutation stride")
    val users = rows(n, 4).select(
      concat(lit("A"), col("id")).as("first_name"),
      concat(lit("B"), col("id")).as("last_name"),
      col("id").cast("int").as("user_id"),
      concat(lit("C"), pmod(xxhash64(col("id"), lit(seed)), lit(101L)))
        .as("city"))
    val pid = pmod(col("id") * Corpus.PermStride + pmod(lit(seed), lit(n)), lit(n))
    val ages = rows(n, 4).select(pid.as("pid")).select(
      concat(lit("A"), col("pid")).as("first_name"),
      concat(lit("B"), col("pid")).as("last_name"),
      pmod(col("pid"), lit(100L)).as("age"))
    (users, ages)
  }

  /** Expected Demo answer, computed from the users definition alone (not
    * through Spark): every key matches once, so the answer is the user
    * count per city. */
  def demoExpected(n: Long): Map[String, Long] = {
    val counts = new Array[Long](101)
    var i = 0L
    while (i < n) {
      counts(java.lang.Math.floorMod(XXH64.hashLong(seed, XXH64.hashLong(i, 42L)), 101L).toInt) += 1
      i += 1
    }
    counts.zipWithIndex.collect { case (c, k) if c > 0 => s"C$k" -> c }.toMap
  }
}

object Corpus {
  /** Prime stride of the Demo key permutation (bijective for any n it does
    * not divide; id x stride stays far below 2^63 for n < 10^12). */
  val PermStride = 1000003L
}
