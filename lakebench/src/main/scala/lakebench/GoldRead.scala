package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sinks.{Layout, Snapshots}
import graft.sql.{LakeSql, ResultCache}

/** Analysts reading the gold star schema: a seeded stream of analytical
  * SQL through the cached SQL front door over z-ordered lake tables. */
final class GoldRead(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  import GoldRead._

  private val sf = GoldRead.ScaleFactor
  private var root = ""
  private val rng = Gen.rng(seed, 1)
  private val recent = mutable.ArrayBuffer.empty[(Int, Int)]
  private val issued = mutable.LinkedHashMap.empty[(Int, Int), Int]
  private var repeats = 0

  private var raw: Map[String, DataFrame] = Map.empty

  /** The seeded star schema, held in memory outside graft's lake layers;
    * the lake loads read it and the output checks query it directly. */
  def generate(): Unit = {
    raw = Gen.star(spark, seed, sf).map { case (t, df) =>
      t -> df.localCheckpoint()
    }.toMap
    raw.foreach { case (t, df) => df.createOrReplaceTempView(s"raw_$t") }
  }

  def setup(): Unit = {
    root = s"$work/lake"
    ResultCache.reset()
    // the tables load concurrently; each is an independent table root
    val pool = java.util.concurrent.Executors.newFixedThreadPool(LoadThreads)
    try Tables.map { case (t, cols, n) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val data = s"$root/$t/data"
          val m = s"$root/$t/m"
          Layout.zorderWrite(raw(t), cols, data, n)
          Snapshots.commit(spark, Layout.buildManifest(spark, data, cols), m)
          LakeSql.register(t, LakeSql.LakeTableSpec(data, m, cols, n))
          // cache fill: the first manifest read of the only version
          Snapshots.manifestAt(spark, m, Snapshots.latestVersion(spark, m)).count()
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** Every template once, parameters outside the measured pool. */
  def warmup(): Unit = {
    Templates.indices.foreach(ti => Workload.materialize(LakeSql.sql(spark,
      Templates(ti)(LakeNames, Pool + ti))))
    ResultCache.enable(s"$work/result_cache")
  }

  /** The next text of the seeded stream: a minority repeats a recent
    * text, the rest draw fresh parameters from a pool larger than the
    * result cache. */
  private def nextText(): String = {
    val q =
      if (recent.nonEmpty && rng.nextDouble() < RepeatShare)
        recent(rng.nextInt(recent.size))
      else (rng.nextInt(Templates.size), rng.nextInt(Pool))
    if (issued.contains(q)) repeats += 1
    issued(q) = issued.getOrElse(q, 0) + 1
    recent += q
    if (recent.size > RecentWindow) recent.remove(0)
    Templates(q._1)(LakeNames, q._2)
  }

  def op(i: Int): Long = {
    val text = nextText()
    val before = ResultCache.stats
    val df = Facts.timed("sql.front_ms")(ResultCache.sql(spark, text))
    Workload.materialize(df)
    val after = ResultCache.stats
    Facts.add("sql.result_cache.hits", (after.hits - before.hits).toDouble)
    Facts.add("sql.result_cache.misses", (after.misses - before.misses).toDouble)
    Facts.add("sql.result_cache.uncacheable",
      (after.uncacheable - before.uncacheable).toDouble)
    1L
  }

  /** A repeat read of a cached manifest, outside the op's latency. */
  override def afterOp(i: Int): Unit =
    Facts.timed("sinks.manifest_repeat_ms")(
      Snapshots.manifestAt(spark, s"$root/lineitem/m", 1).count())

  /** Each distinct text once, against plain Spark over the raw parquet. */
  def checks(): Seq[Check] = issued.keys.toSeq.map { case (ti, p) =>
    val text = Templates(ti)(LakeNames, p)
    val got = ResultCache.sql(spark, text).collect().toSeq
    val want = spark.sql(Templates(ti)(RawNames, p)).collect().toSeq
    val ok = Rows.sameBag(got, want)
    Check("gold_read_result", ok,
      if (ok) s"${got.size} rows"
      else s"mismatch for: $text; got ${Rows.diff(got, want)}; " +
        s"expected ${Rows.diff(want, got)}")
  }

  def inputs: Map[String, Any] = {
    val n = Gen.starSizes(sf)
    val lakeFiles = Tables.map { case (t, _, _) =>
      t -> graft.sinks.Dv.entries(Snapshots.manifestAt(spark, s"$root/$t/m", 1)).size
    }.toMap
    Map("scale_factor" -> sf,
      "rows" -> Map("customer" -> n.customer, "orders" -> n.orders,
        "part" -> n.part, "supplier" -> n.supplier,
        "lineitem" -> raw("lineitem").count()),
      "lake_files" -> lakeFiles, "versions_per_table" -> 1,
      "distinct_texts_in_pool" -> Templates.size * Pool,
      "result_cache_capacity" -> 64,
      "queries_issued" -> issued.values.sum,
      "distinct_texts_issued" -> issued.size,
      "repeated_text_share" ->
        (if (issued.isEmpty) 0.0 else repeats.toDouble / issued.values.sum))
  }

  def endFacts(): Map[String, Any] = {
    val live = Tables.map { case (t, _, _) =>
      graft.sinks.Dv.entries(Snapshots.manifestAt(spark, s"$root/$t/m", 1)).size
    }.sum
    Map("sinks.live_files" -> live,
      "sinks.versions" -> Tables.size,
      "sinks.bytes_on_disk" -> Files.bytesUnder(spark, root),
      "lake.data_prefixes" -> Tables.map { case (t, _, _) => s"$root/$t/data" },
      "lake.live_files_by_prefix" -> Tables.map { case (t, _, _) =>
        s"$root/$t/data" -> graft.sinks.Dv.entries(
          Snapshots.manifestAt(spark, s"$root/$t/m", 1)).size }.toMap)
  }

  override def lakeBytes(): Long = Files.bytesUnder(spark, root)
}

object GoldRead {
  /** Share of the stream that repeats one of the last [[RecentWindow]]
    * texts; well below one half so the median stays among misses. */
  val RepeatShare = 0.2
  val RecentWindow = 16
  /** Parameter draws per template: 6 × 64 texts, well over the 64-entry
    * result cache. */
  val Pool = 64
  val ScaleFactor = 0.01
  val LoadThreads = 4
  private val Sizes = Gen.starSizes(ScaleFactor)
  /** Start of the p-th of `Pool` equal slices of 1..n. */
  private def slice(n: Long, p: Int): Long = 1 + p * n / Pool

  /** (table, z-order / stats columns, files). */
  val Tables: Seq[(String, Seq[String], Int)] = Seq(
    ("region", Seq("r_regionkey"), 1),
    ("nation", Seq("n_nationkey"), 1),
    ("supplier", Seq("s_suppkey"), 2),
    ("customer", Seq("c_custkey"), 4),
    ("part", Seq("p_partkey"), 4),
    ("orders", Seq("o_orderdate", "o_orderkey"), 8),
    ("lineitem", Seq("l_shipdate", "l_orderkey"), 16))

  val LakeNames: String => String = identity
  val RawNames: String => String = t => s"raw_$t"

  private def day(offset: Int): String =
    java.time.LocalDate.parse(Gen.Epoch).plusDays(offset.toLong).toString

  /** Query templates: (table naming, parameter) → SQL text. */
  val Templates: IndexedSeq[(String => String, Int) => String] = IndexedSeq(
    // fact ⋈ dims, group-by, shipdate window the manifest stats prune
    (t, p) => s"""SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue,
       |count(*) AS n FROM ${t("lineitem")} JOIN ${t("orders")} ON l_orderkey = o_orderkey
       |JOIN ${t("customer")} ON o_custkey = c_custkey JOIN ${t("nation")} ON c_nationkey = n_nationkey
       |WHERE l_shipdate >= DATE'${day(37 * p)}' AND l_shipdate < DATE'${day(37 * p + 30)}'
       |GROUP BY n_name""".stripMargin,
    // window: running totals per customer over a customer-key range
    (t, p) => s"""SELECT o_custkey, o_orderkey, sum(o_totalprice) OVER (PARTITION BY o_custkey
       |ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS running
       |FROM ${t("orders")} WHERE o_custkey BETWEEN ${slice(Sizes.customer, p)}
       |AND ${slice(Sizes.customer, p) + Sizes.customer / 100}""".stripMargin,
    // top-k over a shipdate window
    (t, p) => s"""SELECT l_partkey, sum(l_quantity) AS qty FROM ${t("lineitem")}
       |WHERE l_shipdate >= DATE'${day(37 * p + 11)}' AND l_shipdate < DATE'${day(37 * p + 25)}'
       |GROUP BY l_partkey ORDER BY qty DESC, l_partkey LIMIT 10""".stripMargin,
    // order-key range the manifest stats prune
    (t, p) => s"""SELECT o_orderpriority, count(*) AS n, avg(o_totalprice) AS avg_price
       |FROM ${t("orders")} WHERE o_orderkey BETWEEN ${slice(Sizes.orders, p)}
       |AND ${slice(Sizes.orders, p) + Sizes.orders / 25}
       |GROUP BY o_orderpriority""".stripMargin,
    // fact ⋈ part on an order-key range
    (t, p) => s"""SELECT p_brand, sum(l_extendedprice) AS revenue, count(*) AS n
       |FROM ${t("lineitem")} JOIN ${t("part")} ON l_partkey = p_partkey
       |WHERE l_orderkey BETWEEN ${slice(Sizes.orders, p)}
       |AND ${slice(Sizes.orders, p) + Sizes.orders / 12} AND p_size < ${10 + p % 30}
       |GROUP BY p_brand""".stripMargin,
    // fact ⋈ supplier ⋈ nation ⋈ region over a two-month window
    (t, p) => s"""SELECT r_name, count(DISTINCT s_suppkey) AS suppliers,
       |sum(l_extendedprice * (1 + l_tax)) AS gross
       |FROM ${t("lineitem")} JOIN ${t("supplier")} ON l_suppkey = s_suppkey
       |JOIN ${t("nation")} ON s_nationkey = n_nationkey JOIN ${t("region")} ON n_regionkey = r_regionkey
       |WHERE l_shipdate >= DATE'${day(37 * p + 5)}' AND l_shipdate < DATE'${day(37 * p + 65)}'
       |GROUP BY r_name""".stripMargin)
}

/** Row-bag comparison: rows pair up by their non-double fields, and
  * doubles (sums whose order of addition differs between plans) agree to
  * a relative tolerance. */
object Rows {
  val Tolerance = 1e-9

  private def key(r: Row): String = r.toSeq.map {
    case _: Double => ""
    case v => String.valueOf(v)
  }.mkString("|")

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= Tolerance * math.max(math.abs(x), math.abs(y))
    case _ => a == b
  }

  private def sorted(rs: Seq[Row]): Seq[Row] =
    rs.sortBy(r => (key(r), r.toSeq.collect { case d: Double => d }.mkString("|")))

  def sameBag(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && sorted(a).zip(sorted(b)).forall { case (x, y) =>
      x.size == y.size && x.toSeq.zip(y.toSeq).forall { case (u, v) => close(u, v) }
    }

  /** Up to five rows of `a` with no close match in `b`, for messages. */
  def diff(a: Seq[Row], b: Seq[Row]): String =
    a.filterNot(x => b.exists(y => sameBag(Seq(x), Seq(y))))
      .take(5).map(_.mkString("|")).mkString("[", "; ", "]")
}
