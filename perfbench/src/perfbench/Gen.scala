package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs in the layout and value domains of the engine's star
  * schema (region … lineitem, events, documents, embeddings) at scale
  * factor `sf`. Every value is a hash of (row id, seed, salt), so a seed
  * fixes the tables on any partitioning, and another seed changes them. */
final class Gen(spark: SparkSession, seed: Long, sf: Double) {

  private def h(salt: Int, cs: Column*): Column = xxhash64((cs :+ lit(seed * 1000003L + salt)): _*)
  private def pick(salt: Int, n: Long, cs: Column*): Column = pmod(h(salt, cs: _*), lit(n))
  private def oneOf(salt: Int, vs: Seq[String], cs: Column*): Column =
    element_at(array(vs.map(lit): _*), (pick(salt, vs.size.toLong, cs: _*) + 1).cast("int"))
  private def rows(n: Long): DataFrame = spark.range(n.max(1L)).toDF()
  private def n(base: Long): Long = (base * sf).round.max(1L)
  private def ts(date: String): Column = to_timestamp(lit(date))

  val nOrders: Long = n(1500000L)
  val nCustomers: Long = n(150000L)
  val nParts: Long = n(200000L)
  val nSuppliers: Long = n(10000L)

  def region: DataFrame = rows(5).select(col("id").cast("int").as("r_regionkey"),
    element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
      (col("id") + 1).cast("int")).as("r_name"))

  def nation: DataFrame = rows(25).select(col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey"))

  def customer: DataFrame = rows(nCustomers).select(col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    pick(1, 25, col("id")).cast("int").as("c_nationkey"),
    ((pick(2, 1099966, col("id")) - 99985) / 100.0).as("c_acctbal"),
    oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), col("id"))
      .as("c_mktsegment"))

  def supplier: DataFrame = rows(nSuppliers).select(col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    pick(4, 25, col("id")).cast("int").as("s_nationkey"),
    ((pick(5, 1099966, col("id")) - 99985) / 100.0).as("s_acctbal"))

  def part: DataFrame = rows(nParts).select(col("id").as("p_partkey"),
    concat_ws(" ", oneOf(6, Seq("blue", "hot", "large", "red", "tiny", "green", "bright"), col("id")),
      oneOf(7, Seq("ring", "bolt", "nut", "gear", "pipe", "wire"), col("id"))).as("p_name"),
    concat(lit("Brand#"), pick(8, 25, col("id")) + 1).as("p_brand"),
    oneOf(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), col("id")).as("p_type"),
    (pick(10, 50, col("id")) + 1).cast("int").as("p_size"),
    (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice"))

  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def orders: DataFrame = rows(nOrders).select(col("id").as("o_orderkey"),
    pick(11, nCustomers, col("id")).as("o_custkey"),
    oneOf(12, Seq("F", "O", "P"), col("id")).as("o_orderstatus"),
    ((pick(13, 49899128, col("id")) + 100191) / 100.0).as("o_totalprice"),
    timestamp_seconds(unix_timestamp(lit("1995-01-01 00:00:00")) +
      pick(14, 2404, col("id")) * 86400L).as("o_orderdate"),
    oneOf(15, Priorities, col("id")).as("o_orderpriority"))

  def lineitem: DataFrame = rows(nOrders * 4).select(
    pick(16, nOrders, col("id")).as("l_orderkey"),
    pick(17, nParts, col("id")).as("l_partkey"),
    pick(18, nSuppliers, col("id")).as("l_suppkey"),
    (pick(19, 7, col("id")) + 1).cast("int").as("l_linenumber"),
    (pick(20, 50, col("id")) + 1).cast("double").as("l_quantity"),
    ((pick(21, 10409924, col("id")) + 90068) / 100.0).as("l_extendedprice"),
    (pick(22, 11, col("id")) / 100.0).as("l_discount"),
    (pick(23, 9, col("id")) / 100.0).as("l_tax"),
    oneOf(24, Seq("A", "N", "R"), col("id")).as("l_returnflag"),
    oneOf(25, Seq("F", "O"), col("id")).as("l_linestatus"),
    timestamp_seconds(unix_timestamp(lit("1995-01-02 00:00:00")) +
      pick(26, 2498, col("id")) * 86400L).as("l_shipdate"))

  def events: DataFrame = rows(n(1000000L)).select(col("id").as("event_id"),
    timestamp_micros(unix_micros(ts("2024-01-01 00:00:00")) +
      pick(27, 30L * 86400L * 1000000L, col("id"))).as("ts"),
    pick(28, n(15000L), col("id")).as("user_id"),
    oneOf(29, Seq("click", "error", "purchase", "signup", "view"), col("id")).as("event_type"),
    (pick(30, 56022, col("id")) / 100.0).as("value"),
    format_string("{\"k\": %d}", pick(31, 100, col("id"))).as("props"))

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Texts are word draws; one document in twenty copies an earlier one
    * with a single word changed, so the dedup queries find near-duplicates. */
  def documents: DataFrame = {
    val id = col("id")
    val dup = pick(32, 20, id) === 0 && id > 10
    val base = when(dup, id - 1 - pick(33, 10, id)).otherwise(id)
    val words = pick(34, 81, col("base")) + 10
    val mut = pick(35, 1000, id) % words + 1
    val vocab = array(Vocab.map(lit): _*)
    def word(src: Column, i: Column): Column =
      element_at(vocab, (pmod(xxhash64(src, i, lit(seed * 1000003L + 36)), lit(Vocab.size.toLong)) + 1)
        .cast("int"))
    rows(n(50000L)).select(id, base.as("base"), dup.as("dup")).select(
      col("id").as("doc_id"),
      array_join(transform(sequence(lit(1L), words), i =>
        when(col("dup") && i === mut, word(id, i)).otherwise(word(col("base"), i))), " ").as("text"),
      oneOf(37, Seq("en", "en", "en", "de", "es", "fr", "zh"), id).as("lang"),
      concat(lit("src"), id % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim vectors scattered around ten label centroids; one in fifty is
    * a jittered copy of another vector. */
  def embeddings: DataFrame = {
    val id = col("id")
    val label = pick(38, 10, id)
    val copyOf = when(pick(39, 50, id) === 0, pmod(id * 7919L, lit(n(20000L)))).otherwise(id)
    def unit(salt: Int, k: Column, j: Column): Column = (pick(salt, 20001, k, j) - 10000) / 10000.0
    rows(n(20000L)).select(id.as("vec_id"), label.as("label"), copyOf.as("src")).select(
      col("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (unit(40, col("label"), j) * 0.15 + unit(41, col("src"), j) * 0.12 +
          unit(42, col("vec_id"), j) * 0.002).cast("float")).as("embedding"),
      col("label").cast("int").as("label"))
  }

  def all: Seq[(String, DataFrame)] = Seq(
    "region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
    "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings)

  /** Writes every table as parquet under `dir`: the three largest in one
    * file per core-sized slice of the id range, the rest in one file. */
  def land(dir: String): Unit = all.foreach { case (name, df) =>
    val big = Set("lineitem", "orders", "events")(name)
    (if (big) df else df.coalesce(1)).write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }
}
