package graft.sql

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** QUERY RESULT CACHE over the lake SQL surface — the Databricks SQL
  * result-cache shape (public behavior: a repeated SELECT whose inputs
  * are unchanged is answered from the cached result set, never
  * re-executed; any data change invalidates).
  *
  * Key = sha-256 of (exact statement text, every referenced lake table's
  * HEAD VERSION, the policy-bypass conf). Versions make invalidation
  * free: a commit to any input bumps its head, the next lookup misses,
  * and the stale entry ages out of the LRU — no invalidation bus. The
  * governance-bypass conf is in the key because the SAME text reads
  * different rows under a privileged session ([[LakeSql]] row filters /
  * masks); the policies themselves need no key component — they are
  * property COMMITS, already covered by the version.
  *
  * Results are spilled to PARQUET under the cache dir (the remote-
  * result-cache shape), never driver memory: the write is the query's
  * own executor-parallel job, a hit is a parquet scan of exactly the
  * result set. At 100 TB the cacheable win is the dashboard/BI repeat
  * read — the cache stores RESULT-sized bytes, so entry cost tracks the
  * answer, not the inputs. Capacity is entry-count LRU; eviction drops
  * the entry but leaves its parquet for the cache-dir owner to reclaim
  * (previously-returned DataFrames are lazy and must stay readable).
  *
  * Cacheability ([[LakeSql.lakeOnlyReads]]): every leaf relation —
  * subquery plans included — must be a registered lake table, because a
  * temp view or catalog table carries no version to key on; anything
  * else passes through uncached (counted, so a fixture can assert it).
  */
object ResultCache {

  final case class Stats(hits: Long, misses: Long, uncacheable: Long)

  private final case class Entry(path: String, schema: StructType)

  // access-ordered ⇒ LinkedHashMap iteration order IS the LRU order
  private val entries =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
  private val hitN = new AtomicLong
  private val missN = new AtomicLong
  private val uncacheableN = new AtomicLong
  @volatile private var cacheRoot: Option[String] = None
  @volatile private var maxEntries: Int = 64
  @volatile private var maxEntryBytes: Long = 256L << 20

  def stats: Stats = Stats(hitN.get, missN.get, uncacheableN.get)

  /** Enable against a cache directory (idempotent); `capacity` bounds the
    * LRU entry count, `entryBytes` the size of any ONE entry — a result
    * bigger than that executes-and-serves but is never retained (the
    * result-cache contract is to cache ANSWERS, not to become a second
    * copy of the lake). */
  def enable(dir: String, capacity: Int = 64,
             entryBytes: Long = 256L << 20): Unit = {
    require(capacity > 0, "result cache capacity must be positive")
    require(entryBytes > 0, "result cache entry cap must be positive")
    cacheRoot = Some(dir)
    maxEntries = capacity
    maxEntryBytes = entryBytes
  }

  /** Disable and forget every entry (files are left for the dir's owner —
    * tests use tmp dirs reaped at exit). */
  def reset(): Unit = {
    cacheRoot = None
    entries.synchronized(entries.clear())
    hitN.set(0); missN.set(0); uncacheableN.set(0)
  }

  /** The front door with the cache in the loop: serve a repeat SELECT
    * from its cached parquet when every input is version-unchanged;
    * execute-and-store on a miss; pass through (counted) when disabled,
    * not a SELECT/WITH read, or not lake-only. The text is parsed once
    * ([[LakeSql.parser]]) and every path routes that one plan. */
  def sql(spark: SparkSession, text: String): DataFrame = {
    val plan = LakeSql.parser(spark).parsePlan(text)
    // the statement's heads: a key's versions are the ones its read resolves
    val hs = new LakeSql.Heads(spark)
    val root = cacheRoot.getOrElse(return LakeSql.sqlParsed(hs, plan))
    val trimmed = text.trim
    val head = trimmed.take(6).toUpperCase(java.util.Locale.ROOT)
    // Only SELECT/WITH reads cache, and NONDETERMINISTIC ones never do
    // (the result-cache contract): rand()/uuid()/current_timestamp-family
    // calls make a repeat of the same text a DIFFERENT answer, so serving
    // the first result forever would be silently wrong.
    if ((!head.startsWith("SELECT") && !head.startsWith("WITH")) ||
        hasNondeterministic(plan)) {
      uncacheableN.incrementAndGet()
      return LakeSql.sqlParsed(hs, plan)
    }
    LakeSql.lakeOnlyReads(spark, plan) match {
      case None =>
        uncacheableN.incrementAndGet()
        LakeSql.sqlParsed(hs, plan)
      case Some(tables) =>
        val versions = tables.sortBy(_._1).map { case (n, spec) =>
          s"$n=${hs(spec).version}"
        }
        val bypass = spark.conf.get("graft.policy.bypass", "false")
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest((trimmed + "\u0000" + versions.mkString(",") +
            "\u0000" + bypass).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        entries.synchronized(Option(entries.get(digest))) match {
          case Some(e) =>
            hitN.incrementAndGet()
            spark.read.schema(e.schema).parquet(e.path)
          case None =>
            missN.incrementAndGet()
            val df = LakeSql.sqlParsed(hs, plan)
            // UNIQUE spill per miss: a re-miss of an evicted digest (or
            // two sessions missing the same digest concurrently) must
            // never overwrite a path a previously-returned lazy DataFrame
            // still reads — mode("overwrite") on a shared $root/$digest
            // would delete those files mid-flight. Each miss gets its own
            // subdir; stale spills join the evicted ones, reclaimed with
            // the cache dir by its owner.
            val path = s"$root/$digest/${java.util.UUID.randomUUID()}"
            df.write.parquet(path)
            // ENTRY-SIZE CAP: an oversize result is served from the spill
            // it just wrote but never RETAINED as an entry — the cache
            // stores ANSWERS, not a second copy of the lake. (The spill
            // itself is reclaimed with the cache dir; a repeat of the
            // oversize query re-executes, which is the cheap side of the
            // trade at result sizes past the cap.)
            if (dirBytes(spark, path) <= maxEntryBytes)
              entries.synchronized {
                entries.put(digest, Entry(path, df.schema))
                val it = entries.entrySet().iterator()
                while (entries.size() > maxEntries && it.hasNext) {
                  it.next()
                  // Eviction drops the ENTRY but leaves its parquet on
                  // disk: a DataFrame handed out for it earlier is lazy,
                  // and deleting under it would fail a later action with
                  // FileNotFoundException. Evicted spills join the
                  // oversize spills under the cache dir, reclaimed with
                  // the dir by its owner (the reset() contract) — disk is
                  // bounded by the owner's reap cadence, live entries by
                  // `maxEntries`.
                  it.remove()
                }
              }
            spark.read.schema(df.schema).parquet(path)
        }
    }
  }

  /** Function names whose value varies per call or per clock read —
    * the parse-level stand-in for the analyzer's `deterministic` flag
    * (the parsed plan is unresolved, so we classify by name).
    * `unix_timestamp` is nondeterministic only in its zero-arg
    * current-clock form, handled separately. */
  private val nondetFns = Set(
    "rand", "randn", "random", "uuid", "shuffle",
    "monotonically_increasing_id", "input_file_name", "spark_partition_id",
    "current_timestamp", "now", "localtimestamp", "current_date",
    "curdate", "current_timezone")

  /** True when any expression of the parsed plan — subquery plans
    * included — calls a nondeterministic function. Checks
    * [[UnresolvedFunction]] by name and the niladic CURRENT_DATE /
    * CURRENT_TIMESTAMP forms the parser may leave as attributes. */
  private def hasNondeterministic(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Boolean = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.Sample
    var found = false
    plan.foreach { node =>
      // TABLESAMPLE is nondeterministic as a PLAN NODE, not a function —
      // its seed differs per parse, so a cached sample would be served
      // forever in violation of the never-cache-nondeterministic contract
      node match {
        case _: Sample => found = true
        case _ => ()
      }
      node.expressions.foreach(_.foreach {
        case f: UnresolvedFunction =>
          val n = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
          if (nondetFns(n) ||
              (n == "unix_timestamp" && f.arguments.isEmpty)) found = true
        case a: UnresolvedAttribute if a.nameParts.size == 1 &&
            nondetFns(a.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
          found = true
        case s: SubqueryExpression =>
          if (hasNondeterministic(s.plan)) found = true
        case _ => ()
      })
    }
    found
  }

  private def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

}
