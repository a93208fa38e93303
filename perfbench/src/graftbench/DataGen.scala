package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the TPC-H-ish star schema the engine's
  * queries read (`graft.Tables`): region, nation, customer, supplier,
  * part, orders, lineitem, events and documents, in the same column
  * names and types. Every value is a pure function of the row id and a
  * fixed salt, so a scale factor always yields the same tables: the
  * benchmark's seed never changes them, which is what lets output pins
  * hold across seeds. Row counts follow TPC-H ratios (customer 150k·sf,
  * orders 1.5M·sf, ~4 lines per order).
  */
object DataGen {
  private val Salt = 42L

  /** Uniform hash of (id, column tag), non-negative. */
  private def h(id: Column, tag: Int): Column =
    pmod(xxhash64(id, lit(Salt), lit(tag)), lit(Long.MaxValue))

  private def pick(id: Column, tag: Int, values: Seq[String]): Column =
    element_at(typedLit(values), (pmod(h(id, tag), lit(values.size.toLong)) + 1).cast("int"))

  private def keyName(prefix: String, id: Column): Column =
    concat(lit(prefix), lpad(id.cast("string"), 9, "0"))

  private val Vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "a", "batch", "window", "spark", "order", "data",
    "column", "join", "small", "line", "customer", "query", "filter",
    "stream", "merge", "the", "big", "sort", "vector", "index", "log", "page")

  def generate(spark: SparkSession, dir: String, sf: Double): Unit = {
    def n(base: Double): Long = math.max(10L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nEvt = n(1000000); val nDoc = n(50000)
    val nUsers = n(15000)
    val day0 = "DATE'1995-01-01'"
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")

    write("region", spark.range(5).select(id.cast("int").as("r_regionkey"),
      concat(lit("REGION_"), id).as("r_name")))
    write("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5L)).cast("int").as("n_regionkey")))
    write("customer", spark.range(nCust).select(id.as("c_custkey"),
      keyName("Customer#", id).as("c_name"),
      pmod(h(id, 1), lit(25L)).cast("int").as("c_nationkey"),
      (pmod(h(id, 2), lit(1000000L)) / 100.0).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    write("supplier", spark.range(nSupp).select(id.as("s_suppkey"),
      keyName("Supplier#", id).as("s_name"),
      pmod(h(id, 4), lit(25L)).cast("int").as("s_nationkey"),
      (pmod(h(id, 5), lit(1000000L)) / 100.0).as("s_acctbal")))
    write("part", spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(id, 6, Seq("blue", "hot", "small", "old", "red", "new", "cold", "large")),
        pick(id, 7, Seq("bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "gizmo")))
        .as("p_name"),
      concat(lit("Brand#"), pmod(h(id, 8), lit(25L)) + 1).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (pmod(h(id, 10), lit(50L)) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)) / 10.0).as("p_retailprice")))
    val orders = spark.range(nOrd).select(id.as("o_orderkey"),
      pmod(h(id, 11), lit(nCust)).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      (pmod(h(id, 13), lit(50000000L)) / 100.0 + 1.0).as("o_totalprice"),
      expr(s"$day0 + CAST(pmod(xxhash64(id, ${Salt}L, 14), 2404) AS INT)")
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    write("orders", orders)
    val lines = spark.range(nOrd)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (pmod(h(id, 16), lit(7L)) + 1).cast("int"))).as("l_linenumber"),
        expr(s"$day0 + CAST(pmod(xxhash64(id, ${Salt}L, 14), 2404) AS INT)").as("od"))
      .withColumn("lk", col("l_orderkey") * 8 + col("l_linenumber"))
    val lk = col("lk")
    val qty = (pmod(h(lk, 17), lit(50L)) + 1).cast("double")
    write("lineitem", lines.select(col("l_orderkey"),
      pmod(h(lk, 18), lit(nPart)).as("l_partkey"),
      pmod(h(lk, 19), lit(nSupp)).as("l_suppkey"),
      col("l_linenumber").cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + pmod(h(lk, 18), lit(1000L)) / 10.0), 2).as("l_extendedprice"),
      (pmod(h(lk, 20), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(lk, 21), lit(9L)) / 100.0).as("l_tax"),
      pick(lk, 22, Seq("A", "N", "R")).as("l_returnflag"),
      pick(lk, 23, Seq("F", "O")).as("l_linestatus"),
      date_add(col("od"), (pmod(h(lk, 24), lit(120L)) + 1).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate")))
    write("events", spark.range(nEvt).select(id.as("event_id"),
      (lit(1704067200000000L) + pmod(h(id, 25), lit(30L * 86400L * 1000000L)))
        .cast("long").as("us"),
      pmod(h(id, 26), lit(nUsers)).as("user_id"),
      pick(id, 27, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
      (pmod(h(id, 28), lit(20000L)) / 100.0).as("value"),
      concat(lit("{\"k\": "), pmod(h(id, 29), lit(100L)), lit("}")).as("props"))
      .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props")))
    val words = typedLit(Vocab)
    write("documents", spark.range(nDoc)
      .select(id.as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), (pmod(h(id, 30), lit(60L)) + 20).cast("int")),
          i => element_at(words, (pmod(xxhash64(id, lit(Salt), i), lit(Vocab.size.toLong)) + 1)
            .cast("int")))).as("text"),
        pick(id, 31, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), pmod(h(id, 32), lit(18L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
  }
}
