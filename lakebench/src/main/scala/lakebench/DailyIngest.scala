package lakebench

import scala.collection.immutable.HashMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Cleaning, Upsert}
import graft.pipeline.Pipeline
import graft.sinks.{Dv, Layout, Sinks, Snapshots}
import graft.sql.{LakeSql, ResultCache}

/** The daily medallion batch: each simulated day lands a bronze batch,
  * cleans it to silver, merges it into the fact table, applies retention,
  * updates an SCD2 customer dimension, compacts the small files and reads
  * a small gold report. Each day commits several new table versions. */
final class DailyIngest(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  import DailyIngest._

  private var root = ""
  private def lake = s"$root/lake"
  private def factPath = s"$lake/payments/z"
  private def factRoot = s"$lake/payments/m"
  private def histPath = s"$lake/customers_hist/z"
  private def histRoot = s"$lake/customers_hist/m"

  // generator / replay state, advanced one day at a time
  private var day = 0
  private var nextId = 0L
  private var nextCust = 0L
  private var facts: HashMap[Long, Pay] = HashMap.empty
  private var custs: HashMap[Long, Cust] = HashMap.empty
  /** Replay state and fact version after each processed day. */
  private val history = mutable.ArrayBuffer.empty[(Int, HashMap[Long, Pay], Int)]
  private var measuredFrom = 0
  private var lastLakeBytes = 0L

  def generate(): Unit = ()

  private def initialFacts(): Seq[Pay] = {
    val r = Gen.rng(seed, 1)
    (1L to InitialRows).map { id =>
      Pay(id, 1 + r.nextInt(InitialCustomers), cents(r),
        -RetentionDays + ((id - 1) * RetentionDays / InitialRows).toInt,
        Statuses(r.nextInt(Statuses.size)))
    }
  }

  private def initialCustomers(): Seq[Cust] = {
    val r = Gen.rng(seed, 2)
    (1L to InitialCustomers).map(id => Cust(id, s"Customer#$id",
      s"c$id@example.com", Gen.Segments(r.nextInt(Gen.Segments.size))))
  }

  def setup(): Unit = {
    root = s"$work/ingest"
    LakeSql.unregister("payments")
    LakeSql.unregister("customers_hist")
    ResultCache.reset()
    day = 0
    history.clear()
    val pays = initialFacts()
    val cs = initialCustomers()
    facts = HashMap.from(pays.map(p => p.id -> p))
    custs = HashMap.from(cs.map(c => c.id -> c))
    nextId = InitialRows + 1
    nextCust = InitialCustomers + 1
    load(payFrame(pays.map(p => (p.id, p.cust, p.amount, p.day, p.status)),
      amountType = DoubleType), FactCols, factPath, factRoot, 4)
    LakeSql.register("payments", LakeSql.LakeTableSpec(factPath, factRoot, FactCols, 1))
    load(custFrame(cs).withColumn("valid_from", lit(Opening))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true)), HistCols, s"$histPath/d=init", histRoot, 1)
    LakeSql.register("customers_hist",
      LakeSql.LakeTableSpec(histPath, histRoot, HistCols, 1))
  }

  /** The first days of the stream. */
  def warmup(): Unit = {
    ResultCache.enable(s"$root/result_cache")
    (0 until WarmupDays).foreach(_ => runDay())
    measuredFrom = day
    lastLakeBytes = lakeBytes()
  }

  override def afterOp(i: Int): Unit = {
    val now = lakeBytes()
    Facts.add("sinks.bytes_written", (now - lastLakeBytes).toDouble)
    lastLakeBytes = now
  }

  private def load(df: DataFrame, cols: Seq[String], path: String,
                   m: String, n: Int): Unit = {
    Layout.zorderWrite(df, cols, path, n)
    Snapshots.commit(spark, Layout.buildManifest(spark, path, cols), m)
    Snapshots.manifestAt(spark, m, Snapshots.latestVersion(spark, m)).count()
  }

  private def payFrame(rows: Seq[(Long, Long, Any, Int, String)],
                       amountType: DataType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (a, b, c, d, e) =>
        org.apache.spark.sql.Row(a, b, c, d, e) }, 1),
      StructType(Seq(StructField("payment_id", LongType),
        StructField("customer_id", LongType), StructField("amount", amountType),
        StructField("day", IntegerType), StructField("status", StringType))))

  private def custFrame(cs: Seq[Cust]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(cs.map(c =>
        org.apache.spark.sql.Row(c.id, c.name, c.email, c.segment)), 1),
      StructType(Seq(StructField("id", LongType), StructField("name", StringType),
        StructField("email", StringType), StructField("segment", StringType))))

  /** The bronze batch of the current day and the replay states it leads
    * to; generated outside any timer. */
  private def bronze(): (Seq[(Long, Long, Any, Int, String)], Seq[Cust],
                         HashMap[Long, Pay], HashMap[Long, Cust]) = {
    val r = Gen.rng(seed, 1000L + day)
    def amount(): String = if (r.nextDouble() < MalformedShare) "n/a" else
      f"${1 + r.nextInt(99900) / 100.0}%.2f"
    val fresh = (0 until NewRows).map { k =>
      (nextId + k, 1L + r.nextInt(custs.size), amount(), day,
        Statuses(r.nextInt(Statuses.size)))
    }
    // updates favour recent keys: uniform over the newest UpdateWindow ids
    // (a fresh row with a malformed amount never landed, so it is skipped)
    val updIds = mutable.LinkedHashSet.empty[Long]
    while (updIds.size < UpdateRows) {
      val id = nextId - 1 - r.nextInt(UpdateWindow)
      if (facts.contains(id)) updIds += id
    }
    val updates = updIds.toSeq.map { id =>
      val old = facts(id)
      (id, old.cust, amount(), old.day, Statuses(r.nextInt(Statuses.size)))
    }
    val dups = fresh.filter(_ => r.nextDouble() < DuplicateShare)
    val rows = r.shuffle_(fresh ++ updates ++ dups)
    val changed = (0 until CustomerChanges).map { _ =>
      val c = custs(1L + r.nextInt(custs.size))
      c.copy(email = s"c${c.id}.d$day@example.com",
        segment = Gen.Segments(r.nextInt(Gen.Segments.size)))
    }.groupBy(_.id).map(_._2.last).toSeq
    val added = (0 until NewCustomers).map(k => Cust(nextCust + k,
      s"Customer#${nextCust + k}", s"c${nextCust + k}@example.com",
      Gen.Segments(r.nextInt(Gen.Segments.size))))
    // replay: malformed amounts drop, duplicates collapse, merge upserts,
    // retention removes old days
    val valid = (fresh ++ updates).collect {
      case (id, c, a: String, d, s) if a != "n/a" => id -> Pay(id, c, a.toDouble, d, s)
    }
    val cutoff = day - RetentionDays
    val nextFacts = (facts ++ valid).filter(_._2.day >= cutoff)
    val nextCusts = custs ++ (changed ++ added).map(c => c.id -> c)
    (rows, changed ++ added, nextFacts, nextCusts)
  }

  private implicit class Shuffle(r: java.util.Random) {
    def shuffle_[T: scala.reflect.ClassTag](xs: Seq[T]): Seq[T] = {
      val a = xs.toArray
      for (i <- a.indices.reverse if i > 0) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
  }

  /** One simulated day, landing through report read. */
  private def runDay(): Long = {
    val (rows, custRows, nextFacts, nextCusts) = bronze()
    val bronzeDf = payFrame(rows, StringType)
    val custDf = custFrame(custRows)
    val runDate = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString
    val cfg = Pipeline.LakeConfig(s"$root/medallion", runDate)

    Facts.timed("sinks.land_ms") {
      Sinks.writeJsonl(bronzeDf,
        Pipeline.bronzeRef(Domain, "payments").path(cfg.root, runDate))
      Sinks.writeJsonl(custDf,
        Pipeline.bronzeRef(Domain, "customers").path(cfg.root, runDate))
    }
    val (silver, custSilver) = Facts.timed("pipeline.clean_ms") {
      (Pipeline.toSilver(spark, cfg, Domain, "payments", Cleaning.cleanPayments),
        Pipeline.toSilver(spark, cfg, Domain, "customers", Cleaning.cleanCustomers))
    }
    val kept = silver.filter(col("amount").isNotNull)
      .select(col("payment_id").cast("long"), col("customer_id").cast("long"),
        col("amount").cast("double"), col("day").cast("int"), col("status"))
    val merged = Facts.timed("sinks.merge_ms")(
      Snapshots.mergeCommit(spark, kept, "payment_id", FactCols, factPath, factRoot, 1))
    val expected = history.lastOption.fold(1)(_._3) + 1
    Facts.add("sinks.commit_conflicts", if (merged.version == expected) 0 else 1)
    Facts.add("sinks.files_rewritten", merged.filesRewritten.toDouble)
    Facts.add("sinks.files_total", merged.filesTotal.toDouble)
    Facts.add("pipeline.rows_in", rows.size.toDouble)
    Facts.add("pipeline.rows_kept",
      (merged.rowsUpdated + merged.rowsInserted).toDouble)
    Facts.timed("sinks.manifest_first_ms")(
      Snapshots.manifestAt(spark, factRoot, merged.version).count())
    Facts.timed("sinks.manifest_repeat_ms")(
      Snapshots.manifestAt(spark, factRoot, merged.version).count())

    val cutoff = day - RetentionDays
    Facts.timed("sinks.delete_ms")(
      Snapshots.deleteWherePred(spark, factPath, factRoot, FactCols,
        col("min_day") < cutoff, col("day") < cutoff,
        Some((col("max_day") < cutoff, Seq("day")))))
    Facts.timed("sinks.scd2_ms") {
      val current = Snapshots.tableAt(spark, histRoot,
        Snapshots.latestVersion(spark, histRoot))
      val next = Upsert.scd2(current, custSilver.select(col("id").cast("long"),
        col("name"), col("email"), col("segment")), Seq("id"), runDate)
      val dir = s"$histPath/d=$day"
      Layout.zorderWrite(next, HistCols, dir, 1)
      Snapshots.commit(spark, Layout.buildManifest(spark, dir, HistCols), histRoot)
    }
    Facts.timed("sinks.optimize_ms")(
      Snapshots.compactSmallCommit(spark, factPath, factRoot, FactCols,
        SmallFileBytes, 1))
    Facts.timed("sql.report_ms") {
      val before = ResultCache.stats
      val df = Facts.timed("sql.front_ms")(ResultCache.sql(spark, Report))
      Workload.materialize(df)
      val after = ResultCache.stats
      Facts.add("sql.result_cache.hits", (after.hits - before.hits).toDouble)
      Facts.add("sql.result_cache.misses", (after.misses - before.misses).toDouble)
      Facts.add("sql.result_cache.uncacheable",
        (after.uncacheable - before.uncacheable).toDouble)
    }
    silver.unpersist()
    custSilver.unpersist()

    facts = nextFacts
    custs = nextCusts
    nextId += NewRows
    nextCust += NewCustomers
    history += ((day, facts, Snapshots.latestVersion(spark, factRoot)))
    day += 1
    rows.size + custRows.size
  }

  def op(i: Int): Long = runDay()

  private def factRowsAt(version: Int): Map[Long, Pay] =
    Snapshots.tableAt(spark, factRoot, version).collect().map { r =>
      r.getLong(0) -> Pay(r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getString(4))
    }.toMap

  /** Final table, one mid-run version and the SCD2 current rows against
    * a plain replay of the same generated batches. */
  def checks(): Seq[Check] = {
    def compare(name: String, got: Map[Long, Pay], want: Map[Long, Pay]) = {
      val ok = got == want
      Check(name, ok, if (ok) s"${got.size} rows"
        else s"${got.size} rows vs ${want.size} expected, " +
          s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} differ")
    }
    val (_, last, lastV) = history.last
    val measured = history.filter(_._1 >= measuredFrom)
    val (midDay, mid, midV) = measured(measured.size / 2)
    val current = spark.sql(
      "SELECT id, name, email, segment FROM customers_hist WHERE is_current")
      .collect().map(r => r.getLong(0) -> Cust(r.getLong(0), r.getString(1),
        r.getString(2), r.getString(3))).toMap
    val dimOk = current == custs
    val rc = ResultCache.stats
    Seq(
      compare("ingest_final_table", factRowsAt(lastV), last),
      compare(s"ingest_time_travel_day_$midDay", factRowsAt(midV), mid),
      Check("ingest_scd2_current", dimOk,
        s"${current.size} current rows vs ${custs.size} expected"),
      Check("ingest_report_never_hits", rc.hits == 0L,
        s"result cache hits ${rc.hits} on post-commit reads"))
  }

  def inputs: Map[String, Any] = Map(
    "initial_fact_rows" -> InitialRows, "initial_customers" -> InitialCustomers,
    "bronze_rows_per_day" -> (NewRows + UpdateRows + CustomerChanges + NewCustomers),
    "days_processed" -> day, "measured_days" -> (day - measuredFrom),
    "fact_versions" -> Snapshots.versions(spark, factRoot).size,
    "fact_live_files" -> Dv.entries(Snapshots.manifestAt(spark, factRoot,
      Snapshots.latestVersion(spark, factRoot))).size,
    "lake_bytes" -> Files.bytesUnder(spark, lake),
    "retention_days" -> RetentionDays)

  def endFacts(): Map[String, Any] = {
    val v = Snapshots.latestVersion(spark, factRoot)
    val m = Snapshots.manifestAt(spark, factRoot, v)
    val live = Dv.entries(m).map(_.file)
    Map("sinks.live_files" -> live.size,
      "sinks.versions" -> Snapshots.versions(spark, factRoot).size,
      "sinks.bytes_on_disk" -> Files.bytesUnder(spark, s"$lake/payments"),
      "sinks.live_data_bytes" -> Files.fileBytes(spark, live),
      "sinks.live_rows" -> m.agg(sum("rows")).head().getLong(0),
      "lake.data_prefixes" -> Seq(factPath),
      "lake.live_files_by_prefix" -> Map(factPath -> live.size))
  }

  override def lakeBytes(): Long = Files.bytesUnder(spark, s"$lake/payments")
}

object DailyIngest {
  final case class Pay(id: Long, cust: Long, amount: Double, day: Int, status: String)
  final case class Cust(id: Long, name: String, email: String, segment: String)

  val Domain = "superoperator"
  val FactCols = Seq("payment_id", "day")
  val HistCols = Seq("id")
  /** valid_from of the initial dimension rows. */
  val Opening = "2023-12-31"
  val Statuses = Seq("paid", "pending", "refunded")
  val InitialRows = 20000L
  val InitialCustomers = 2000
  val NewRows = 300
  val UpdateRows = 100
  val UpdateWindow = 2000
  val CustomerChanges = 20
  val NewCustomers = 5
  val DuplicateShare = 0.1
  val MalformedShare = 0.03
  val RetentionDays = 10
  val SmallFileBytes: Long = 128L * 1024
  /** Days run before the measured phase: a day keeps getting faster for
    * several days as the JIT compiles, and the first measured day is the
    * run's maximum, so one warm-up day leaves too much of that in the tail. */
  val WarmupDays = 2
  val Report =
    """SELECT c.segment, count(*) AS n, round(sum(p.amount), 2) AS amount
      |FROM payments p JOIN customers_hist c ON p.customer_id = c.id
      |WHERE c.is_current GROUP BY c.segment""".stripMargin

  private def cents(r: java.util.Random): Double = 1 + r.nextInt(99900) / 100.0
}
