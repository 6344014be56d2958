package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the benchmark's inputs. Every table has the
  * schema of the engine's test tables (the TPC-H-ish star plus
  * `events`, `documents` and `embeddings`), and each parameter below is
  * set from a statistic measured on those tables with
  * `perfbench/corpus_stats.py` (the figures are in `LAYERS.md`). Values
  * come from `xxhash64(row, seed, salt)`, so one seed always gives the
  * same rows.
  */
object Gen {

  /** Row counts of the test tables at sf0.01, the registry's scale. */
  val Sizes: Map[String, Long] = Map(
    "region" -> 5L, "nation" -> 25L, "customer" -> 1500L,
    "supplier" -> 100L, "part" -> 2000L, "orders" -> 15000L,
    "lineitem" -> 60000L, "events" -> 10000L, "documents" -> 500L,
    "embeddings" -> 500L)

  /** Uniform double in [0, 1) from (id, seed, salt). */
  def u(id: Column, seed: Long, salt: Int): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(1L << 30))
      .cast("double") / (1L << 30).toDouble

  /** Uniform long in [0, n). */
  def ui(id: Column, seed: Long, salt: Int, n: Long): Column =
    floor(u(id, seed, salt) * n).cast("long")

  private def pick(id: Column, seed: Long, salt: Int,
      values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (ui(id, seed, salt, values.size.toLong) + 1).cast("int"))

  private def money(c: Column): Column = round(c, 2)

  private def date(id: Column, seed: Long, salt: Int, from: String,
      days: Long): Column =
    date_add(to_date(lit(from)), ui(id, seed, salt, days).cast("int"))
      .cast("timestamp_ntz")

  /** Report events as in the test tables at every scale: timestamps
    * rising with the id over 30 days from 2024-01-01, users numbering
    * 1.5% of the events, the five event types equally likely (so 20%
    * `error`), `value` exponential with mean 50, and 100 distinct
    * `props`.
    */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val spanUs = 30L * 86400L * 1000000L
    spark.range(n).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        id * (spanUs / n) + ui(id, seed, 1, spanUs / n))
        .cast("timestamp_ntz").as("ts"),
      ui(id, seed, 2, math.max(1L, n * 3L / 200L)).as("user_id"),
      pick(id, seed, 3, Seq("view", "click", "purchase", "signup",
        "error")).as("event_type"),
      money(-log1p(-u(id, seed, 4)) * 50.0).as("value"),
      concat(lit("{\"k\": "), ui(id, seed, 5, 100L).cast("string"),
        lit("}")).as("props"))
  }

  private val vocab = Seq("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash",
    "slow", "group", "agg", "filter", "query", "big", "key", "window",
    "row", "table", "stream", "merge", "data", "vector", "the", "join",
    "customer")

  /** Bag-of-words documents of 10-99 words over the test tables'
    * 30-word vocabulary. As there, 5% are near-duplicates: the text of
    * another document (any id) with the word `dup` appended; 40% are
    * `en` and 15% each `fr`, `de`, `es`, `zh`; sources cycle over 20.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val words = array(vocab.map(lit): _*)
    def text(base: Column) = {
      val len = ui(base, seed, 11, 90L) + 10L
      array_join(transform(sequence(lit(1L), len), i =>
        element_at(words, (pmod(xxhash64(base, i, lit(seed)),
          lit(vocab.size.toLong)) + 1).cast("int"))), " ")
    }
    val isDup = u(id, seed, 12) < 0.05
    val other = pmod(id + 1 + ui(id, seed, 13, n - 1), lit(n))
    val base = text(when(isDup, other).otherwise(id))
    spark.range(n).select(id.as("doc_id"),
      when(isDup, concat(base, lit(" dup"))).otherwise(base).as("text"),
      pick(id, seed, 15, Seq.fill(8)("en") ++ Seq("fr", "de", "es", "zh")
        .flatMap(Seq.fill(3)(_))).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-d unit vectors in uniformly random directions (normalised
    * Gaussians), each with one of ten labels. The test tables' labels
    * carry no geometry: a vector's cosine to its own label's centre is
    * what random vectors give (about 1 / sqrt(label size)).
    */
  def embeddings(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val label = ui(id, seed, 21, 10L)
    def unit(d: Column, salt: Int): Column =
      (pmod(xxhash64(id, d, lit(seed), lit(salt)), lit(1L << 30))
        .cast("double") + 0.5) / (1L << 30).toDouble
    // Box-Muller: a standard normal from two uniforms
    val raw = transform(sequence(lit(0), lit(63)), d =>
      sqrt(log(unit(d, 22)) * -2.0) * cos(unit(d, 23) * (2 * math.Pi)))
    spark.range(n).select(id.as("vec_id"), raw.as("raw"),
      label.cast("int").as("label"))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float"))
          .as("embedding"),
        col("label"))
  }

  /** Every table of the registry corpus, written as
    * `<dir>/<table>.parquet` (one file each, like the test tables).
    */
  def corpus(spark: SparkSession, seed: Long, dir: String): Unit = {
    val id = col("id")
    val n = Sizes
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("region", spark.range(n("region")).select(
      id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
        "MIDDLE EAST").map(lit): _*), (id + 1).cast("int")).as("r_name")))
    write("nation", spark.range(n("nation")).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")))
    write("customer", spark.range(n("customer")).select(
      id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0"))
        .as("c_name"),
      ui(id, seed, 31, 25L).cast("int").as("c_nationkey"),
      money(u(id, seed, 32) * 10999.0 - 999.0).as("c_acctbal"),
      pick(id, seed, 33, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    write("supplier", spark.range(n("supplier")).select(
      id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0"))
        .as("s_name"),
      ui(id, seed, 41, 25L).cast("int").as("s_nationkey"),
      money(u(id, seed, 42) * 10999.0 - 999.0).as("s_acctbal")))
    write("part", spark.range(n("part")).select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(id, seed, 51, Seq("small", "large", "red", "blue", "hot",
          "old", "cold", "new")),
        pick(id, seed, 52, Seq("ring", "bolt", "gear", "widget", "gizmo",
          "plate", "anvil", "rod"))).as("p_name"),
      concat(lit("Brand#"), (ui(id, seed, 53, 25L) + 1).cast("string"))
        .as("p_brand"),
      pick(id, seed, 54, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL",
        "MEDIUM", "PROMO")).as("p_type"),
      (ui(id, seed, 55, 50L) + 1).cast("int").as("p_size"),
      money(lit(900.0) + (id % 1000).cast("double") / 10.0)
        .as("p_retailprice")))
    write("orders", spark.range(n("orders")).select(
      id.as("o_orderkey"),
      ui(id, seed, 61, n("customer")).as("o_custkey"),
      pick(id, seed, 62, Seq("O", "F", "P")).as("o_orderstatus"),
      money(u(id, seed, 63) * 499000.0 + 1000.0).as("o_totalprice"),
      date(id, seed, 64, "1995-01-01", 2404L).as("o_orderdate"),
      pick(id, seed, 65, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    write("lineitem", spark.range(n("lineitem")).select(
      ui(id, seed, 71, n("orders")).as("l_orderkey"),
      ui(id, seed, 72, n("part")).as("l_partkey"),
      ui(id, seed, 73, n("supplier")).as("l_suppkey"),
      (ui(id, seed, 74, 7L) + 1).cast("int").as("l_linenumber"),
      (ui(id, seed, 75, 50L) + 1).cast("double").as("l_quantity"),
      money(u(id, seed, 76) * 104100.0 + 900.0).as("l_extendedprice"),
      (ui(id, seed, 77, 11L).cast("double") / 100.0).as("l_discount"),
      (ui(id, seed, 78, 9L).cast("double") / 100.0).as("l_tax"),
      pick(id, seed, 79, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, seed, 80, Seq("O", "F")).as("l_linestatus"),
      date(id, seed, 81, "1995-01-02", 2498L).as("l_shipdate")))
    write("events", events(spark, seed, n("events")))
    write("documents", documents(spark, seed, n("documents")))
    write("embeddings", embeddings(spark, seed, n("embeddings")))
  }
}
