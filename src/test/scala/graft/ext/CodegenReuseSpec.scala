package graft.ext

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.StaticSQLConf

import graft.SparkSpec
import graft.sql.GraftSparkExtensions

/** Generated code stays compiled across ops: a curation chain needs more
  * distinct classes than Spark's default 100-entry codegen cache holds, so
  * at that size every repeat recompiles them through Janino. With the
  * cache sized by [[GraftSparkExtensions]], a repeat compiles almost
  * nothing. */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  private val words = ("alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliet kilo lima mike november oscar papa quebec romeo sierra " +
    "tango uniform victor whiskey xray yankee zulu").split(" ")

  /** 60 seeded documents, 6 exact copies and 6 two-word edits. */
  private def docs: DataFrame = {
    val r = new scala.util.Random(7)
    val base = (0 until 60).map(i =>
      (i.toLong, Seq.fill(40)(words(r.nextInt(words.length))).mkString(" ")))
    val copies = (0 until 6).map(i => (100L + i, base(i * 7)._2))
    val edits = (0 until 6).map { i =>
      val ws = base(i * 5 + 1)._2.split(" ")
      ws(3) = "edited"; ws(20) = "words"
      (200L + i, ws.mkString(" "))
    }
    (base ++ copies ++ edits).toDF("doc_id", "text")
  }

  private def vectors: DataFrame = {
    val r = new scala.util.Random(11)
    (0L until 80L).map(i => (i, Array.fill(8)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** The curation chain of one lakebench pass, materialized step by step. */
  private def chain(d: DataFrame, v: DataFrame): Unit = {
    val pairs = Dedup.minHashDedupPairs(d, "doc_id", "text").localCheckpoint()
    Dedup.clusters(pairs).localCheckpoint()
    ExactSubstr.removeDuplicates(d, "doc_id", "text", 5)
      .write.format("noop").mode("overwrite").save()
    Knng.buildGraph(v, k = 4, iters = 1, blocks = 4)
      .write.format("noop").mode("overwrite").save()
  }

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a repeated curation chain reuses its generated classes") {
    val (d, v) = (docs.localCheckpoint(), vectors.localCheckpoint())
    // Empty the JVM-wide class cache (private to CodeGenerator) so the
    // first run is cold whatever suites ran before it in this JVM.
    val cacheField = CodeGenerator.getClass.getDeclaredField("cache")
    cacheField.setAccessible(true)
    val cache = cacheField.get(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = compiles(chain(d, v))
    val second = compiles(chain(d, v))
    info(s"Janino compiles: first run $first, second run $second")
    // more classes than Spark's default cache holds ...
    assert(first > 100, s"first run compiled only $first classes")
    // ... yet the repeat finds (nearly) all of them compiled
    assert(second <= 20, s"second run recompiled $second classes")
  }

  test("the extension sizes the cache unless the user chose a size") {
    assert(spark.conf.get(key) ==
      GraftSparkExtensions.CodegenCacheEntries.toString)
    val conf: SparkConf = GraftSqlBridge.activeSparkConf.get
    val prior = conf.get(key)
    conf.set(key, "333")
    try {
      new GraftSparkExtensions()(new SparkSessionExtensions)
      assert(conf.get(key) == "333")
    } finally conf.set(key, prior)
  }
}
