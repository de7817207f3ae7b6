package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs in the fixture layout `graft.Tables` loads: one parquet
  * directory per table, named `<table>.parquet`, under a data directory.
  * Every value is a hash of (seed, row id, column salt), so the same seed
  * gives the same rows whatever the partitioning; the program receives
  * only these files.
  *
  * Sizes are set by `orders`: lineitem has 4 rows per order, events 2/3
  * of an order each, documents 1/30.
  */
final case class Sizes(orders: Long) {
  def lineitem: Long = orders * 4
  def events: Long = orders * 2 / 3
  def documents: Long = math.max(200L, orders / 30)
  def customers: Long = math.max(50L, orders / 10)
}

object Gen {

  /** Uniform draw in [0, m) from (seed, id, salt). */
  def h(seed: Long, id: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(lit(seed), id, lit(salt)), lit(m))

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  val Statuses = Seq("F", "O", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Orders with keys in [from, from + n). Prices carry two decimals. */
  def orders(spark: SparkSession, seed: Long, from: Long, n: Long,
             customers: Long): DataFrame = {
    val id = col("id")
    spark.range(from, from + n, 1, 4).select(
      id.as("o_orderkey"),
      h(seed, id, 1, customers).as("o_custkey"),
      pick(Statuses, h(seed, id, 2, 3)).as("o_orderstatus"),
      ((h(seed, id, 3, 49000000L) + 100000L) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + h(seed, id, 4, 2400L) * 86400L)
        .as("o_orderdate"),
      pick(Priorities, h(seed, id, 5, 5)).as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, seed: Long, orders: Long): DataFrame = {
    val id = col("id")
    val qty = (h(seed, id, 13, 50L) + 1).cast("double")
    spark.range(0, orders * 4, 1, 4).select(
      (id / 4).cast("long").as("l_orderkey"),
      h(seed, id, 11, 2000L).as("l_partkey"),
      h(seed, id, 12, 100L).as("l_suppkey"),
      ((id % 4) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      (qty * (h(seed, id, 14, 100000L) + 90000L) / 100.0).as("l_extendedprice"),
      (h(seed, id, 15, 11L) / 100.0).as("l_discount"),
      (h(seed, id, 16, 9L) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), h(seed, id, 17, 3)).as("l_returnflag"),
      pick(Seq("F", "O"), h(seed, id, 18, 2)).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + h(seed, id, 19, 2500L) * 86400L)
        .as("l_shipdate"))
  }

  val EventTypes = Seq("click", "view", "purchase", "signup", "error")

  def events(spark: SparkSession, seed: Long, n: Long, users: Long): DataFrame = {
    val id = col("id")
    spark.range(0, n, 1, 4).select(
      id.as("event_id"),
      timestamp_seconds(lit(1704067200L) + h(seed, id, 21, 90L * 86400L)).as("ts"),
      h(seed, id, 22, users).as("user_id"),
      pick(EventTypes, h(seed, id, 23, 5)).as("event_type"),
      (h(seed, id, 24, 50000L) / 100.0).as("value"),
      concat(lit("{\"k\": "), h(seed, id, 25, 100L).cast("string"), lit("}"))
        .as("props"))
  }

  val Vocab = Seq("the", "fast", "key", "order", "sort", "table", "scan", "merge",
    "part", "window", "small", "hash", "join", "batch", "stream", "spark",
    "group", "query", "row", "data", "slow", "filter", "customer", "line",
    "value", "agg", "column", "vector", "big", "a", "commit", "log", "file",
    "snapshot", "version", "index", "delta", "bloom", "shuffle", "plan")
  val Langs = Seq("en", "zh", "es", "de", "fr")

  /** Bag-of-words documents. One in ten is a near-copy of an earlier one
    * (one word changed), one in seven carries an e-mail address, one in
    * eleven a URL — so dedup, PII scrub and decontamination all have work.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val isCopy = h(seed, id, 31, 10L) === 0 && id > 5
    val src = when(isCopy, id - 1 - h(seed, id, 32, 5L)).otherwise(id)
    val len = (h(seed, src, 33, 60L) + 20).cast("int")
    val words = transform(sequence(lit(0), len - 1), i =>
      when(isCopy && i === 3, lit("changed"))
        .otherwise(element_at(array(Vocab.map(lit): _*),
          (pmod(xxhash64(lit(seed), src, i), lit(Vocab.size.toLong)) + 1).cast("int"))))
    val body = array_join(words, " ")
    val text = concat(body,
      when(h(seed, id, 34, 7L) === 0,
        concat(lit(" contact user"), h(seed, id, 35, 1000L).cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(h(seed, id, 36, 11L) === 0,
        concat(lit(" see https://example.org/p/"), id.cast("string")))
        .otherwise(lit("")))
    spark.range(0, n, 1, 4)
      .select(id.as("doc_id"), text.as("text"),
        pick(Langs, h(seed, src, 37, 5)).as("lang"),
        concat(lit("src"), h(seed, id, 38, 5L).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Write the tables `names` (of orders, lineitem, events, documents)
    * under `dir`. */
  def write(spark: SparkSession, seed: Long, sizes: Sizes, dir: String,
            names: Seq[String]): Unit = names.foreach { name =>
    val df = name match {
      case "orders" => orders(spark, seed, 0, sizes.orders, sizes.customers)
      case "lineitem" => lineitem(spark, seed, sizes.orders)
      case "events" => events(spark, seed, sizes.events, sizes.customers)
      case "documents" => documents(spark, seed, sizes.documents)
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }
}
