package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthesis of every input the benchmark feeds the program.
  *
  * Each value is a pure function of (seed, row id, column salt), never
  * of partitioning or task order, so the same seed yields byte-identical
  * tables on any core count. The shapes follow the TPC-H-ish star
  * schema of the repository's test data plus the `events`, `documents`
  * and `embeddings` tables the registry queries read (uniform keys, 5
  * event types, 20 document sources, 64-dim embeddings with 10 labels). */
object Data {
  private val day0Us = 1704067200000000L // 2024-01-01T00:00:00Z

  /** Uniform integer in [0, n) for row `id` under (seed, salt). */
  def u(seed: Long, salt: Int, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))

  private def pick(seed: Long, salt: Int, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, salt, id, xs.size) + 1).cast("int"))

  val eventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")

  /** `events(event_id, ts, user_id, event_type, value, props)`: `n` rows
    * spread uniformly over 30 days, 1500 users. */
  def events(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(n).select(
      id.as("event_id"),
      timestamp_micros(lit(day0Us) + u(seed, 1, id, 30L * 86400L * 1000000L)).as("ts"),
      u(seed, 2, id, 1500).as("user_id"),
      pick(seed, 3, id, eventTypes).as("event_type"),
      (u(seed, 4, id, 56022) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(seed, 5, id, 100).cast("string"), lit("}")).as("props"))
  }

  private val words = Seq("a", "the", "spark", "stream", "batch", "data", "table",
    "row", "column", "query", "scan", "join", "hash", "sort", "merge", "filter",
    "group", "agg", "window", "key", "value", "part", "line", "order", "customer",
    "vector", "fast", "slow", "big", "small")

  /** Writes the tables the `analytics_mix` queries read at `sf` (sf 0.1
    * = 600k lineitem rows) as parquet under `dir`, named as the
    * registry's table loader expects. */
  def writeTables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Long) = math.max(1L, math.round(base * sf))
    val id = col("id")
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val nCust = n(150000); val nPart = n(200000); val nSupp = n(10000)
    val nOrders = n(1500000); val nLines = n(6000000)
    save("customer", spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(seed, 11, id, 25).cast("int").as("c_nationkey"),
      ((u(seed, 12, id, 1099999) - 99999) / 100.0).as("c_acctbal"),
      pick(seed, 13, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    val day1995Us = 788918400000000L // 1995-01-01T00:00:00Z
    save("orders", spark.range(nOrders).select(id.as("o_orderkey"),
      u(seed, 41, id, nCust).as("o_custkey"),
      pick(seed, 42, id, Seq("F", "O", "P")).as("o_orderstatus"),
      (lit(1000.0) + u(seed, 43, id, 50000000) / 100.0).as("o_totalprice"),
      timestamp_micros(lit(day1995Us) + u(seed, 44, id, 2404) * 86400000000L)
        .as("o_orderdate"),
      pick(seed, 45, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    val qty = (u(seed, 54, id, 50) + 1).cast("double")
    save("lineitem", spark.range(nLines).select(
      u(seed, 51, id, nOrders).as("l_orderkey"),
      u(seed, 52, id, nPart).as("l_partkey"),
      u(seed, 53, id, nSupp).as("l_suppkey"),
      (u(seed, 55, id, 7) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(seed, 56, id, 110000) / 100.0), 2).as("l_extendedprice"),
      (u(seed, 57, id, 11) / 100.0).as("l_discount"),
      (u(seed, 58, id, 9) / 100.0).as("l_tax"),
      pick(seed, 59, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 60, id, Seq("F", "O")).as("l_linestatus"),
      timestamp_micros(lit(day1995Us + 2L * 86400000000L) +
        u(seed, 61, id, 2497) * 86400000000L).as("l_shipdate")))
    save("events", events(spark, n(1000000), seed))
    val nDocs = math.max(500L, n(50000))
    val docWords = transform(sequence(lit(0), (u(seed, 71, id, 60) + 8).cast("int")),
      j => element_at(array(words.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(72), id, j), lit(words.size.toLong)) + 1).cast("int")))
    save("documents", spark.range(nDocs)
      .select(id.as("doc_id"), array_join(docWords, " ").as("text"),
        pick(seed, 73, id, Seq("en", "en", "en", "zh", "de", "es", "fr")).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val nVecs = math.max(500L, n(20000))
    save("embeddings", spark.range(nVecs).select(id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        ((pmod(xxhash64(lit(seed), lit(81), id, j), lit(2000001L)) - 1000000) / 4.0e6)
          .cast("float")).as("embedding"),
      u(seed, 82, id, 10).cast("int").as("label")))
  }
}
