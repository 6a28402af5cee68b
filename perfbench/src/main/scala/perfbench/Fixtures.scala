package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the ten tables the dashboard tiles and the operator suite read,
  * in the layout `graft.Tables` expects (`<dir>/<name>.parquet`, one file
  * with one row group per table). Row counts, key ranges, column types and
  * value distributions follow the star-schema-plus-events fixture the
  * program is developed against (FIXTURES.md §B), at scale factor `sf`.
  *
  * Every value is a pure hash of its row id and a per-column salt, so the
  * tables are identical on every machine and at any parallelism; the
  * benchmark's seed does not change them. Freezing the tables keeps a
  * seed's effect to the order and choice of operations, so run-to-run
  * spread measures the program, not the data.
  *
  * Run: `Fixtures <dir> [sf]` (sf defaults to 0.1).
  */
object Fixtures {

  /** Uniform in [0, 1) from (id, salt). */
  private def u(id: Column, salt: Int): Column =
    pmod(xxhash64(id, lit(salt)), lit(1L << 53)).cast("double") / (1L << 53).toDouble

  /** Integer in [0, m) from (id, salt). */
  private def h(id: Column, salt: Int, m: Long): Column =
    pmod(xxhash64(id, lit(salt)), lit(m))

  private def pick(id: Column, salt: Int, choices: Seq[String]): Column =
    element_at(array(choices.map(lit): _*), (h(id, salt, choices.size) + 1).cast("int"))

  private def money(lo: Double, hi: Double, id: Column, salt: Int): Column =
    round(lit(lo) + u(id, salt) * (hi - lo), 2)

  private def daysAfter(day: String, id: Column, salt: Int, span: Int): Column =
    date_add(lit(day).cast("date"), h(id, salt, span).cast("int"))
      .cast("timestamp_ntz")

  private val words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    import spark.implicits._
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    def ids(rows: Long): (DataFrame, Column) = (spark.range(rows).toDF("id"), col("id"))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nEvents = n(1000000)

    val region = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name")
    val nation = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")

    val customer = { val (df, id) = ids(nCust); df.select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      h(id, 1, 25).cast("int").as("c_nationkey"),
      money(-999.99, 9999.99, id, 2).as("c_acctbal"),
      pick(id, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")) }

    val supplier = { val (df, id) = ids(nSupp); df.select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      h(id, 4, 25).cast("int").as("s_nationkey"),
      money(-999.99, 9999.99, id, 5).as("s_acctbal")) }

    val part = { val (df, id) = ids(nPart); df.select(
      id.as("p_partkey"),
      concat_ws(" ",
        pick(id, 6, Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")),
        pick(id, 7, Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
          "widget"))).as("p_name"),
      concat(lit("Brand#"), (h(id, 8, 25) + 1).cast("string")).as("p_brand"),
      pick(id, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (h(id, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + pmod(id, lit(1000L)).cast("double") / 10.0).as("p_retailprice")) }

    val orders = { val (df, id) = ids(nOrd); df.select(
      id.as("o_orderkey"),
      h(id, 11, nCust).as("o_custkey"),
      pick(id, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(1000.0, 500000.0, id, 13).as("o_totalprice"),
      daysAfter("1995-01-01", id, 14, 2405).as("o_orderdate"),
      pick(id, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")) }

    val lineitem = { val (df, id) = ids(n(6000000)); df.select(
      h(id, 16, nOrd).as("l_orderkey"),
      h(id, 17, nPart).as("l_partkey"),
      h(id, 18, nSupp).as("l_suppkey"),
      (h(id, 19, 7) + 1).cast("int").as("l_linenumber"),
      (h(id, 20, 50) + 1).cast("double").as("l_quantity"),
      money(900.0, 105000.0, id, 21).as("l_extendedprice"),
      (h(id, 22, 11).cast("double") / 100.0).as("l_discount"),
      (h(id, 23, 9).cast("double") / 100.0).as("l_tax"),
      pick(id, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 25, Seq("F", "O")).as("l_linestatus"),
      daysAfter("1995-01-02", id, 26, 2499).as("l_shipdate")) }

    // events arrive in time order over 30 days, as the fixture's do
    val events = { val (df, id) = ids(nEvents); df.select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200L * 1000000L) +
        ((id.cast("double") + u(id, 27)) * (30.0 * 86400 * 1e6 / nEvents)).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      h(id, 28, math.max(1L, nEvents * 3 / 200)).as("user_id"),
      pick(id, 29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u(id, 30)), 2).as("value"),
      format_string("{\"k\": %d}", h(id, 31, 100)).as("props")) }

    val documents = { val (df, id) = ids(n(50000)); df.select(
      id.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1L), h(id, 32, 91) + 10),
        i => element_at(array(words.map(lit): _*),
          (pmod(xxhash64(id, i, lit(33)), lit(words.size.toLong)) + 1).cast("int"))))
        .as("text"),
      when(u(id, 34) < 0.41, "en").when(u(id, 34) < 0.56, "zh")
        .when(u(id, 34) < 0.71, "es").when(u(id, 34) < 0.86, "fr")
        .otherwise("de").as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")) }

    // unit vectors from 64 Box-Muller normals; labels independent of them
    val embeddings = { val (df, id) = ids(n(20000)); df.select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        sqrt(lit(-2.0) * log(lit(1.0) - pmod(xxhash64(id, j, lit(35)), lit(1L << 53))
          .cast("double") / (1L << 53).toDouble)) *
          cos(lit(2 * math.Pi) * pmod(xxhash64(id, j, lit(36)), lit(1L << 53))
            .cast("double") / (1L << 53).toDouble)).as("g"),
      h(id, 37, 10).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label")) }

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  def write(spark: SparkSession, dir: String, sf: Double): Unit =
    tables(spark, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Fixtures <dir> [sf]")
    val sf = args.lift(1).map(_.toDouble).getOrElse(0.1)
    val spark = Session.build(cores = Runtime.getRuntime.availableProcessors())
    try write(spark, args(0), sf) finally spark.stop()
  }
}
