package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generates the catalog tables the `SparkEntry.queries` entries read
  * (`T.*`), in the shapes and value ranges of the repository's sf0.1
  * fixtures (FIXTURES.md): TPC-H-like star schema, an events stream,
  * a word-soup document corpus with near-duplicates, and unit-norm
  * 64-dim embeddings in ten label clusters.
  *
  * The tables are a fixed input: every value is a hash of the row id
  * and a per-column salt, so the same scale always writes the same
  * rows. Timestamps are written as TIMESTAMP_NTZ (Parquet
  * isAdjustedToUTC=false), the footer the fixtures carry, so Spark and
  * the DuckDB oracle both read naive timestamps.
  */
object CatalogData {
  private val Vocab = Seq("query", "row", "stream", "the", "spark", "line",
    "small", "fast", "group", "customer", "batch", "sort", "value", "hash",
    "filter", "big", "data", "part", "column", "order", "scan", "a", "slow",
    "agg", "key", "window", "table", "merge", "vector", "join")

  /** Uniform long in [0, n) from the row id and a salt. */
  private def pick(salt: Int, n: Long, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(salt)), lit(n))
  /** Uniform double in [0, 1). */
  private def unit(salt: Int, id: Column = col("id")): Column =
    pick(salt, 1000000007L, id) / lit(1000000007.0)
  private def oneOf(salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(salt, xs.size.toLong) + 1).cast("int"))
  /** Naive timestamp `micros` after the epoch (the session zone is UTC). */
  private def ntz(micros: Column): Column =
    timestamp_micros(micros).cast("timestamp_ntz")
  private def dayFrom(startDay: Long, salt: Int, days: Long): Column =
    ntz((lit(startDay) + pick(salt, days)) * 86400000000L)

  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    def rows(base: Long) = math.max(1L, math.round(base * sf))
    val nCust = rows(150000); val nSupp = rows(10000); val nPart = rows(200000)
    val nOrd = rows(1500000); val nLine = rows(6000000)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def range(n: Long) = spark.range(n)

    save("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    save("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + unit(2) * 11000.0, 2).as("c_acctbal"),
      oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    save("supplier", range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(4, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + unit(5) * 11000.0, 2).as("s_acctbal")))
    save("part", range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", oneOf(6, Seq("blue", "old", "small", "new", "large", "hot", "cold", "red")),
        oneOf(7, Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"))).as("p_name"),
      concat(lit("Brand#"), pick(8, 25) + 1).as("p_brand"),
      oneOf(9, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
      (pick(10, 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 1).as("p_retailprice")))
    save("orders", range(nOrd).select(col("id").as("o_orderkey"),
      pick(11, nCust).as("o_custkey"),
      oneOf(12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + unit(13) * 499000.0, 2).as("o_totalprice"),
      dayFrom(9131, 14, 2404).as("o_orderdate"),
      oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    save("lineitem", range(nLine).select(pick(16, nOrd).as("l_orderkey"),
      pick(17, nPart).as("l_partkey"), pick(18, nSupp).as("l_suppkey"),
      (pick(19, 7) + 1).cast("int").as("l_linenumber"),
      (pick(20, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + unit(21) * 104100.0, 2).as("l_extendedprice"),
      (pick(22, 11) / 100.0).as("l_discount"),
      (pick(23, 9) / 100.0).as("l_tax"),
      oneOf(24, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(25, Seq("F", "O")).as("l_linestatus"),
      dayFrom(9132, 26, 2498).as("l_shipdate")))
    save("events", range(rows(1000000)).select(col("id").as("event_id"),
      ntz(lit(1704067200000000L) + pick(27, 2592000000000L)).as("ts"),
      pick(28, 1500).as("user_id"),
      oneOf(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(unit(30) * unit(31) * 560.0, 2).as("value"),
      concat(lit("{\"k\": "), pick(32, 100), lit("}")).as("props")))

    // One document in ten repeats an earlier one with its first word
    // replaced, so the near-duplicate tiers have pairs to find.
    val nDoc = rows(50000)
    val vocab = array(Vocab.map(lit): _*)
    val docs = range(nDoc)
      .withColumn("src", when(unit(33) < 0.1 && col("id") > 0, pick(34, nDoc, col("id")) % col("id"))
        .otherwise(col("id")))
      .withColumn("w", transform(sequence(lit(1), (pick(35, 91, col("src")) + 10).cast("int")),
        i => element_at(vocab, (pmod(xxhash64(col("src"), i), lit(Vocab.size.toLong)) + 1).cast("int"))))
      .withColumn("w", when(col("src") =!= col("id"),
        concat(array(lit("dup")), slice(col("w"), 2, 1000))).otherwise(col("w")))
      .withColumn("text", array_join(col("w"), " "))
    save("documents", docs.select(col("id").as("doc_id"), col("text"),
      oneOf(36, Seq("de", "en", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"),
      length(col("text")).cast("long").as("n_chars")))

    // label centre + noise, normalized to unit length
    val emb = range(rows(20000))
      .withColumn("label", pick(37, 10).cast("int"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), j =>
        (pmod(xxhash64(col("label"), j, lit(38)), lit(2001L)) - 1000) / 4000.0 +
          (pmod(xxhash64(col("id"), j, lit(39)), lit(2001L)) - 1000) / 1000.0 * 0.1))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
    save("embeddings", emb.select(col("id").as("vec_id"),
      transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
      col("label")))
  }
}
