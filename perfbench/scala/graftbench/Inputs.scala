package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs, shaped like the TPC-H-style sf0.1 fixture the engine's
  * gates use: every column is a pure function of (seed, row key), so the
  * same seed gives the same rows however Spark partitions the work.
  *
  * Sizes: orders 40k rows over 24 months (730 days from 1992-01-01, keys
  * increasing with date), lineitem 80k (2 lines per order), customer 4k,
  * documents 200 plus the planted duplicates of [[documents]]. */
final class Inputs(spark: SparkSession, seed: Long) {
  val Orders = 40000L
  val Customers = 4000L
  val LinesPerOrder = 2
  val Months = 24
  val Days = 730
  val Docs = 200L
  val Vocab = 2000

  /** Deterministic 64-bit hash of (seed, salt, cols). */
  private def h(salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)
  private def pick(salt: Int, n: Long, cols: Column*): Column = pmod(h(salt, cols: _*), lit(n))
  private def oneOf(salt: Int, key: Column, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (pick(salt, xs.size.toLong, key) + 1).cast("int"))

  /** o_orderdate of order `key`: keys are assigned in date order, as an
    * OLTP source's auto-increment keys are, so a key range maps to a
    * date range. Also dates the order's lineitems. */
  def orderDate(key: Column): Column =
    date_add(lit("1992-01-01").cast("date"), ((key - 1) * Days / Orders).cast("int"))
      .cast("timestamp")

  def orders: DataFrame = {
    val k = col("id") + 1
    spark.range(0, Orders, 1, 4).select(
      k.as("o_orderkey"),
      (pick(2, Customers, k) + 1).as("o_custkey"),
      oneOf(3, k, "O", "F", "P").as("o_orderstatus"),
      (pick(4, 50000000L, k) / 100.0).as("o_totalprice"),
      orderDate(k).as("o_orderdate"),
      oneOf(5, k, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))
  }

  def lineitem: DataFrame = {
    val id = col("id")
    val okey = (id / LinesPerOrder).cast("long") + 1
    spark.range(0, Orders * LinesPerOrder, 1, 4).select(
      okey.as("l_orderkey"),
      (pick(6, 20000L, id) + 1).as("l_partkey"),
      (pick(7, 1000L, id) + 1).as("l_suppkey"),
      (pmod(id, lit(LinesPerOrder.toLong)) + 1).cast("int").as("l_linenumber"),
      (pick(8, 50L, id) + 1).cast("double").as("l_quantity"),
      (pick(9, 10000000L, id) / 100.0).as("l_extendedprice"),
      (pick(10, 11L, id) / 100.0).as("l_discount"),
      (pick(11, 9L, id) / 100.0).as("l_tax"),
      oneOf(12, id, "A", "N", "R").as("l_returnflag"),
      oneOf(13, id, "F", "O").as("l_linestatus"),
      (orderDate(okey) + expr("INTERVAL 1 DAY") * pick(14, 120L, id).cast("int"))
        .as("l_shipdate"))
  }

  def customer: DataFrame = {
    val k = col("id") + 1
    spark.range(0, Customers, 1, 4).select(
      k.as("c_custkey"),
      concat(lit("Customer#"), lpad(k.cast("string"), 9, "0")).as("c_name"),
      pick(15, 25L, k).cast("int").as("c_nationkey"),
      (pick(16, 1100000L, k) / 100.0 - 1000.0).as("c_acctbal"),
      oneOf(17, k, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .as("c_mktsegment"))
  }

  /** `documents` (doc_id 1..Docs, 40..119 words each from a 2,000-word
    * vocabulary) plus planted copies: `exact` verbatim copies and `near`
    * copies with one extra word appended. Returns the corpus and the
    * planted near pairs (src, copy). */
  def documents(exact: Int, near: Int): (DataFrame, Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val syl = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "qu", "an", "el")
    val words = Iterator.continually(Seq.fill(2 + rnd.nextInt(3))(syl(rnd.nextInt(syl.size))).mkString)
      .distinct.take(Vocab).toVector
    val langs = Seq("en", "es", "de")
    val sources = Seq("web", "books", "code")
    val base = (1L to Docs).map { id =>
      (id, Seq.fill(40 + rnd.nextInt(80))(words(rnd.nextInt(Vocab))).mkString(" "),
        langs(rnd.nextInt(3)), sources(rnd.nextInt(3)))
    }
    val srcs = rnd.shuffle(base.indices.toVector).take(exact + near)
    val copies = srcs.zipWithIndex.map { case (b, i) =>
      val (id, text, lang, source) = base(b)
      val copy = Docs + 1 + i
      (id, (copy, if (i < exact) text else s"$text ${words.head}", lang, source))
    }
    val rows = base ++ copies.map(_._2)
    val corpus = spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    (corpus, copies.drop(exact).map { case (src, c) => (src, c._1) })
  }

  /** `df` with an `updated_at` version column (`asOf` plus 30 days), plus
    * `frac` of its rows again as OLDER versions: the same key with
    * `updated_at` one day earlier and a changed `touch` column — what the
    * ingest path's dedup-latest must drop. */
  def withStaleVersions(df: DataFrame, keys: Seq[String], asOf: Column,
      touch: String, frac: Double, salt: Int): DataFrame = {
    val cur = df.withColumn("updated_at", asOf + expr("INTERVAL 30 DAYS"))
    val stale = cur
      .filter(pick(salt, 1000L, keys.map(col): _*) < lit((frac * 1000).toLong))
      .withColumn("updated_at", col("updated_at") - expr("INTERVAL 1 DAY"))
      .withColumn(touch, col(touch) + 1)
    cur.unionByName(stale)
  }
}
