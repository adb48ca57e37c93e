package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, table, row id, column salt), so the same seed yields the same
  * rows regardless of partitioning or core count. */
object Gen {

  /** A driver-side generator for (seed, stream); the seed is mixed so
    * that nearby seeds give unrelated streams. */
  def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(new java.util.SplittableRandom(seed * 1000003L + stream).nextLong())

  /** Uniform integer in [0, n) for row `id` of `table`. */
  def u(seed: Long, table: String, salt: Int, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(table), lit(salt), id), lit(n))

  /** Uniform double in [0, 1). */
  def unit(seed: Long, table: String, salt: Int, id: Column): Column =
    u(seed, table, salt, id, 1000000L).cast("double") / 1e6

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Flags = Seq("A", "N", "R")
  /** First order date and the number of distinct order dates (TPC-H span). */
  val Epoch = "1992-01-01"
  val OrderDays = 2406

  final case class StarSizes(supplier: Long, customer: Long, part: Long,
                             orders: Long)

  def starSizes(sf: Double): StarSizes =
    StarSizes((10000 * sf).toLong, (150000 * sf).toLong,
      (200000 * sf).toLong, (1500000 * sf).toLong)

  /** A TPC-H shaped star schema at scale factor `sf`: table name → frame. */
  def star(spark: SparkSession, seed: Long, sf: Double): Seq[(String, DataFrame)] = {
    val n = starSizes(sf)
    val id = col("id")
    val region = spark.range(5).select(id.as("r_regionkey"),
      pick(Regions, id).as("r_name"))
    val nation = spark.range(25).select(id.as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).as("n_regionkey"))
    val supplier = spark.range(1, n.supplier + 1).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), id).as("s_name"),
      u(seed, "s", 1, id, 25).as("s_nationkey"),
      round(unit(seed, "s", 2, id) * 11000 - 1000, 2).as("s_acctbal"))
    val customer = spark.range(1, n.customer + 1).select(id.as("c_custkey"),
      concat(lit("Customer#"), id).as("c_name"),
      u(seed, "c", 1, id, 25).as("c_nationkey"),
      round(unit(seed, "c", 2, id) * 11000 - 1000, 2).as("c_acctbal"),
      pick(Segments, u(seed, "c", 3, id, 5)).as("c_mktsegment"))
    val part = spark.range(1, n.part + 1).select(id.as("p_partkey"),
      concat(lit("Brand#"), u(seed, "p", 1, id, 5) + 1,
        u(seed, "p", 2, id, 5) + 1).as("p_brand"),
      pick(Types, u(seed, "p", 3, id, 6)).as("p_type"),
      (u(seed, "p", 4, id, 50) + 1).cast("int").as("p_size"),
      round(unit(seed, "p", 5, id) * 1000 + 900, 2).as("p_retailprice"))
    val orders = spark.range(1, n.orders + 1).select(id.as("o_orderkey"),
      (u(seed, "o", 1, id, n.customer) + 1).as("o_custkey"),
      pick(Flags, u(seed, "o", 2, id, 3)).as("o_orderstatus"),
      round(unit(seed, "o", 3, id) * 400000 + 900, 2).as("o_totalprice"),
      date_add(to_date(lit(Epoch)), u(seed, "o", 4, id, OrderDays).cast("int"))
        .as("o_orderdate"),
      pick(Priorities, u(seed, "o", 5, id, 5)).as("o_orderpriority"))
    // one to seven lines per order (four on average, as in TPC-H)
    val lk = col("l_orderkey") * 8 + col("l_linenumber")
    val lineitem = orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate"),
        explode(sequence(lit(1), (u(seed, "o", 6, col("o_orderkey"), 7) + 1)
          .cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (u(seed, "l", 1, lk, n.part) + 1).as("l_partkey"),
        (u(seed, "l", 2, lk, n.supplier) + 1).as("l_suppkey"),
        (u(seed, "l", 3, lk, 50) + 1).cast("double").as("l_quantity"),
        round(unit(seed, "l", 4, lk) * 100000 + 900, 2).as("l_extendedprice"),
        (u(seed, "l", 5, lk, 11).cast("double") / 100).as("l_discount"),
        (u(seed, "l", 6, lk, 9).cast("double") / 100).as("l_tax"),
        pick(Flags, u(seed, "l", 7, lk, 3)).as("l_returnflag"),
        date_add(col("o_orderdate"), (u(seed, "l", 8, lk, 121) + 1).cast("int"))
          .as("l_shipdate"))
    Seq("region" -> region, "nation" -> nation, "supplier" -> supplier,
      "customer" -> customer, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem)
  }

  val Vocabulary: Array[String] = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "de", "fi", "go", "hu", "ja", "be")
    (for (a <- syll; b <- syll; c <- Seq("", "n", "r")) yield a + b + c)
  }
  val Stopwords = Seq("the", "of", "and", "to", "in", "is", "that", "for")
}
