package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth smoke: run the heaviest driver queries at sf0.1 and at a
  * synthetic 10×/100× of it, and report the wall-time ratio per query.
  *
  * The scaled dataset is built by unioning `copies` re-keyed copies of each
  * sf0.1 table: every key AND foreign-key column is offset by
  * `copy * 100M`, so referential integrity, join fan-outs, and group
  * cardinalities scale together the way real growth scales them (10× the
  * orders ⇒ 10× the customers, not 10× the lines per order). `region` and
  * `nation` stay single-copy — dimensions don't grow with fact volume.
  * Document text is copied verbatim: cross-copy exact duplicates are what
  * a dedup pipeline exists to find, so q27/q59/q92 see copies-deep duplicate
  * groups — a harder, not easier, input.
  *
  * Usage:
  *   runMain graft.ScaleSmoke [srcSfDir] [scaledDir] [copies] [reps]
  *     — growth smoke; each wall is the MEDIAN of `reps` timed passes
  *       (default 3; single passes on this VM spread ±40%).
  *   runMain graft.ScaleSmoke skew [srcSfDir] [skewDir] [copies] [reps]
  *     — skewed-key smoke: same copy step, but lineitem's join key and
  *       events' group key are re-drawn zipf-style (a few hot keys own
  *       half the rows). Runs the salted q60/q61 against their unsalted
  *       twins (with and without AQE skew-split) and the unsalted q3 star
  *       join, reporting the salted-vs-unsalted wall gap.
  *   runMain graft.ScaleSmoke lake [srcSfDir] [scaledDir] [copies] [reps]
  *     — table-format growth smoke: versioned z-layouts of orders at 1×
  *       and `copies`×, then a CONSTANT batch appended/merged and a gold
  *       view maintained from the change feed vs recomputed from scratch.
  *       The claims under test: append, feed, IVM, and merge cost track
  *       the commit's TOUCH SET (≈flat as the table grows); only the
  *       recompute tracks table size.
  *
  * A build is only reused when its `_SCALE_OK` marker exists AND records
  * the same `copies` — an interrupted or differently-sized build rebuilds
  * instead of silently producing wrong ratios.
  */
object ScaleSmoke {

  /** Per-table key/FK columns to offset per copy. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val dims = Seq("region", "nation")

  /** The bench tail (the queries whose sf0.1 medians dominate BENCH_r06)
    * plus three data-bound baselines (scan-agg, star join, bloom semi join
    * over the 6M-row scaled lineitem) whose wall SHOULD track data volume —
    * they separate fixed replay/iteration overhead from real scan cost. */
  private val heavy = Seq(
    "q80_stream_interval_join", "q62_stream_dedup", "q63_stream_stateful",
    "q86_medallion_e2e", "q92_leakage_safe_split", "q59_dedup_clusters",
    "q27_minhash_pairs", "q65_partition_overwrite", "q45_ann_ivf",
    "q83_load_plan", "q1_agg", "q3_join_agg", "q76_bloom_semi_join",
    "q28_simhash_pairs", "q100_passage_dedup",
    // round-8/9 compositions: streamed warehouse MERGE, incremental near-dup
    // screen, semantic dedup (bounded verify plane — its scale path is
    // measured separately by [[q103BandedGrowth]]), incremental exact screen
    "q101_stream_warehouse", "q102_incremental_neardup", "q103_semantic_dedup",
    "q104_incremental_exact_screen",
    // round-14: ExactSubstr — O(corpus tokens) through one fingerprint
    // sort-shuffle; expected growth is ≈linear-in-corpus (the honest
    // suffix-array-equivalent cost), never super-linear
    "q187_exact_substr",
    // round-14: DSIR importance selection (one (doc,bucket) shuffle +
    // 256-row broadcast + top-k) and the CCNet LM score (count hash-aggs
    // + token-keyed shuffle joins) — both honestly linear-in-corpus
    "q197_dsir_select", "q200_lm_perplexity",
    // round-9 additions: image near-dup (collapse-bounded gates — copies
    // share text ⇒ identical images, so the rep plane stays sf-sized), the
    // z-order layout write + manifest-pruned 2-D scan, the streaming
    // exact-dedup screen, and the manifest-targeted delete
    "q105_image_neardup", "q106_zorder_pruned_scan",
    "q108_stream_exact_screen", "q109_targeted_delete",
    // round-15: lexical retrieval (postings/df hash-aggs grow with the
    // corpus, the bounded 3-query scoring join must NOT), PageRank (edge
    // build + 3 flat checkpointed iterations — expected ≈linear in the
    // edge count), chi² feature selection (two hash-aggs, linear), BPE
    // (first agg linear-in-corpus, the 8 merge rounds are VOCAB-bounded —
    // copies duplicate text, so distinct words stay constant and the
    // iteration cost should be flat), corpus re-encode (one codegen map
    // pass, linear), hybrid RRF (arms linear, fusion bounded), and the
    // k-means SemDeDup generator (cell-bounded pairs; its emitted exact
    // plane is the same bounded-by-fixture q103 verify arm)
    "q223_bm25_search", "q226_pagerank", "q227_chi2_terms",
    "q228_bpe_train", "q229_bpe_encode", "q230_hybrid_rrf",
    "q231_semdedup_kmeans",
    // round-15 second wave: A-ES weighted sampling (one TakeOrdered pass —
    // linear scan, k-bounded merge), late-interaction MaxSim (probe-token
    // plane is bounded, corpus tokens stream once — linear), session paths
    // (one user_id shuffle — linear), the streaming Misra-Gries monitor
    // (k counters of state at ANY corpus size — linear in stream length),
    // and the per-key ordered smoothing fold (per-key bounded)
    "q236_weighted_sample", "q240_late_interaction", "q241_session_paths",
    "q242_stream_heavy_hitters", "q245_exp_smoothing")

  def buildScaled(s: SparkSession, src: String, target: String,
                  copies: Int, skewed: Boolean = false): Unit = {
    val offset = 100000000L
    dims.foreach { t =>
      graft.model.Tables.load(s, src, t)
        .write.mode("overwrite").parquet(s"$target/$t.parquet")
    }
    keyCols.foreach { case (t, keys) =>
      // Tables.load normalizes the nanos-timestamp events table; the scaled
      // copy is re-landed with plain µs timestamps (loadEvents passes those
      // through)
      val base = graft.model.Tables.load(s, src, t)
      val scaled = (0 until copies).map { i =>
        keys.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(i * offset))
        }
      }.reduce(_ unionAll _)
      val out = if (!skewed) scaled else skewTable(t, scaled)
      out.write.mode("overwrite").parquet(s"$target/$t.parquet")
    }
    writeMarker(src, target, copies, skewed)
  }

  /** Adversarial hot keys, deterministically drawn: 70% of lineitem's rows
    * collapse onto ONE hot order key (at 100× that is ~42M rows in a single
    * shuffle partition — a ~20× straggler over the 1.9M average), and 70%
    * of events collapse onto one hot group key. Everything else is
    * untouched, so the same driver queries run unchanged against the
    * skewed dir. */
  private def skewTable(t: String, df: DataFrame): DataFrame = t match {
    case "lineitem" =>
      val h = pmod(xxhash64(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey")), lit(100L))
      df.withColumn("l_orderkey",
        when(h < 70, lit(1L)).otherwise(col("l_orderkey")))
    case "events" =>
      val h = pmod(xxhash64(col("event_id"), col("user_id")), lit(100L))
      df.withColumn("event_type",
        when(h < 70, lit("hot_type")).otherwise(col("event_type")))
    case _ => df
  }

  /** Bump when [[skewTable]]'s shape changes — rides the reuse marker so a
    * stale skew build can't silently serve a new shape. */
  private val skewShape = "v2"

  private def markerFile(target: String) = new java.io.File(s"$target/_SCALE_OK")

  /** The marker records the SOURCE dir too: re-running with the same target
    * but a different src (sf0.1 → sf1) must invalidate the cached build, or
    * the smoke would silently report ratios against stale data. */
  private def markerText(src: String, copies: Int, skewed: Boolean): String =
    s"src=$src copies=$copies skewed=$skewed" +
      (if (skewed) s" shape=$skewShape" else "")

  /** Reuse gate: the marker is written as the LAST build step, so a partial
    * or differently-parameterized build never passes as current. */
  private def markerOk(srcDir: String, target: String, copies: Int,
                       skewed: Boolean): Boolean = {
    val f = markerFile(target)
    f.exists() && {
      val src = scala.io.Source.fromFile(f)
      try src.mkString.trim == markerText(srcDir, copies, skewed)
      finally src.close()
    }
  }

  private def writeMarker(srcDir: String, target: String, copies: Int,
                          skewed: Boolean): Unit = {
    val w = new java.io.PrintWriter(markerFile(target))
    try w.print(markerText(srcDir, copies, skewed)) finally w.close()
  }

  private def ensureBuilt(s: SparkSession, src: String, target: String,
                          copies: Int, skewed: Boolean): Unit =
    if (!markerOk(src, target, copies, skewed)) {
      System.err.println(
        s"[scale] building ${copies}x${if (skewed) " (skewed)" else ""} of $src at $target")
      buildScaled(s, src, target, copies, skewed)
    }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("skew")) skewMain(args.drop(1))
    else if (args.headOption.contains("lake")) lakeMain(args.drop(1))
    else if (args.headOption.contains("dv")) dvMain(args.drop(1))
    else if (args.headOption.contains("retention")) retentionMain(args.drop(1))
    else if (args.headOption.contains("cdc")) cdcMain(args.drop(1))
    else if (args.headOption.contains("exactsubstr"))
      exactSubstrMain(args.drop(1))
    else if (args.headOption.contains("applychanges"))
      applyChangesMain(args.drop(1))
    else if (args.headOption.contains("sqlwave")) sqlWaveMain(args.drop(1))
    else if (args.headOption.contains("mvminmax")) mvMinMaxMain(args.drop(1))
    else if (args.headOption.contains("abench")) abenchMain(args.drop(1))
    else growthMain(args)

  /** INTERLEAVED A/B BENCH (round-16 verdict item 7, standing mode): the
    * only regression test this host's weather respects ([[SCALE.md]]
    * "Round-16 anchor context": same-code full-board runs swing 9% on the
    * sum, so anchor-vs-anchor deltas under ~15% are noise). This mode
    * settles any bench delta mechanically:
    *
    *   sbt "runMain graft.ScaleSmoke abench <ref> [queriesCsv] [reps]"
    *
    * checks `<ref>` out into a git worktree, compiles it once, then runs
    * `graft.Bench` ALTERNATING strictly between HEAD and the worktree —
    * both sides as identical cold java processes (same flags, same env,
    * never the warm outer JVM for one side), so JVM warmth and page-cache
    * drift hit both sides equally. Emits the per-query median table
    * (HEAD / ref / ratio) as markdown on stdout AND appends it to
    * SCALE.md with the refs and rep count recorded. */
  private def abenchMain(args: Array[String]): Unit = {
    import scala.sys.process._
    val ref = args.lift(0).getOrElse(
      sys.error("abench needs a git ref to compare HEAD against"))
    val queriesCsv = args.lift(1).getOrElse("")
    val reps = args.lift(2).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repo = new java.io.File(".").getCanonicalPath
    val shortRef = Seq("git", "-C", repo, "rev-parse", "--short", ref).!!.trim
    val wt = s"/tmp/graft_abench_$shortRef"
    if (!new java.io.File(wt, "build.sbt").exists()) {
      Seq("git", "-C", repo, "worktree", "add", "--force", wt, ref).!! : Unit
      println(s"[abench] compiling $ref in $wt …")
      require(Process(Seq("sbt", "-batch", "compile"),
        new java.io.File(wt)).! == 0, s"sbt compile failed in $wt")
    }
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def bench(tree: String): Map[String, Double] = {
      val cp = s"/opt/spark/jars/*:$tree/target/scala-2.13/classes"
      val cmd = Seq("java") ++ addOpens ++ Seq(
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
        "-cp", cp, "graft.Bench")
      val env = Seq("SPARK_GRAFT_SF_DIR" -> sfDir,
        "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")) ++
        (if (queriesCsv.nonEmpty) Seq("SPARK_GRAFT_BENCH_ONLY" -> queriesCsv)
         else Nil)
      val out = new StringBuilder
      val rc = Process(cmd, new java.io.File(tree), env: _*)
        .!(ProcessLogger(l => out.append(l).append('\n'), _ => ()))
      require(rc == 0, s"bench in $tree exited $rc")
      // Bench prints TWO JSON lines: the full one (with "queries") and
      // a trailing compact one (without) — take the full one
      val line = out.toString.linesIterator
        .filter(l => l.startsWith("{\"metric\"") && l.contains("\"queries\":"))
        .toSeq.lastOption.getOrElse(
        sys.error(s"no bench JSON line from $tree"))
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(line).get("queries")
      val it = m.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        if (!e.getValue.isNull) b += e.getKey -> e.getValue.asDouble()
      }
      b.result()
    }
    val aRuns = collection.mutable.Buffer.empty[Map[String, Double]]
    val bRuns = collection.mutable.Buffer.empty[Map[String, Double]]
    // one DISCARDED warm-up per side: the ref-worktree compile that just
    // ran (and anything else the host was digesting) otherwise lands on
    // the first counted HEAD rep — the round-17 trial measured a phantom
    // 1.25× that two clean re-runs dissolved to 0.96-1.07
    println(s"[abench] warm-up (discarded) …")
    bench(repo) : Unit
    bench(wt) : Unit
    for (i <- 1 to reps) {
      println(s"[abench] rep $i/$reps HEAD …"); aRuns += bench(repo)
      println(s"[abench] rep $i/$reps $ref …"); bRuns += bench(wt)
    }
    val names = aRuns.flatMap(_.keys).toSet
      .intersect(bRuns.flatMap(_.keys).toSet).toSeq.sorted
    def med(rs: Seq[Map[String, Double]], q: String): Double =
      median(rs.flatMap(_.get(q)))
    val rows = names.map { q =>
      val a = med(aRuns.toSeq, q); val b = med(bRuns.toSeq, q)
      (q, a, b, a / b)
    }
    val sumA = rows.map(_._2).sum
    val sumB = rows.map(_._3).sum
    val table = new StringBuilder
    table.append(s"\n## Interleaved A/B: HEAD vs $ref ($shortRef), " +
      s"$reps reps/side, sf=$sfDir\n\n")
    table.append("| query | HEAD med s | ref med s | HEAD/ref |\n")
    table.append("|---|---|---|---|\n")
    rows.foreach { case (q, a, b, r) =>
      table.append(f"| $q | $a%.2f | $b%.2f | $r%.2f |%n")
    }
    table.append(f"| **sum** | $sumA%.1f | $sumB%.1f | ${sumA / sumB}%.3f |%n")
    print(table)
    val sc = new java.io.FileWriter(s"$repo/SCALE.md", true)
    try sc.write(table.toString) finally sc.close()
    println(s"[abench] appended to SCALE.md; worktree kept at $wt")
  }

  /** Round-16 SQL-wave growth smoke (round-15 verdict item 8): the
    * governance/result-cache/UDF surfaces at 1× and `copies`× input.
    * Claims under test:
    *  - q251 shape: the POLICY TAX (policed read / bypass read of the
    *    same scan-forcing aggregate) is a small constant at both scales
    *    — policy lookup is metadata-bounded, application is one extra
    *    codegen filter+projection in the same scan;
    *  - q255 shape: a result-cache HIT tracks the RESULT size (flat
    *    across growth) while the MISS tracks the input;
    *  - q262 shape: an inlined SQL UDF aggregate runs at parity with
    *    the hand-written expression (no call-boundary cost) at both
    *    scales. */
  private def sqlWaveMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = false)
    import graft.sql.{LakeSql, ResultCache}
    def run(label: String, dir: String): Map[String, Double] = {
      val root =
        java.nio.file.Files.createTempDirectory("sqlwave").toString
      val tn = s"sw_cust_$label"
      LakeSql.unregister(tn)
      graft.model.Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_nationkey"))
        .createOrReplaceTempView(s"${tn}_src")
      LakeSql.setWarehouse(root)
      LakeSql.sql(spark, s"CREATE TABLE $tn TBLPROPERTIES(" +
        s"'stats_cols'='c_custkey','files'='8') AS SELECT * FROM ${tn}_src")
      LakeSql.sql(spark, s"ALTER TABLE $tn SET ROW FILTER (c_nationkey < 20)")
      LakeSql.sql(spark, s"ALTER TABLE $tn ALTER COLUMN c_name " +
        "SET MASK (concat('***', substring(c_name, 10)))")
      // scan-forcing aggregate (bare count(*) is metadata-only served)
      val aggSql = s"SELECT count(*) AS n, round(sum(c_acctbal), 2) AS s " +
        s"FROM $tn WHERE c_custkey % 3 = 0"
      spark.conf.set("graft.policy.bypass", "true")
      val raw = median((1 to reps).map(_ =>
        timed(LakeSql.sql(spark, aggSql).collect())).toSeq)
      spark.conf.set("graft.policy.bypass", "false")
      val policed = median((1 to reps).map(_ =>
        timed(LakeSql.sql(spark, aggSql).collect())).toSeq)
      // result cache: one miss, then repeated hits
      ResultCache.reset()
      ResultCache.enable(s"$root/rc")
      val cq = s"SELECT c_nationkey, count(*) AS n, " +
        s"round(sum(c_acctbal), 2) AS s FROM $tn GROUP BY c_nationkey"
      val miss = timed(ResultCache.sql(spark, cq).collect())
      val hit = median((1 to reps).map(_ =>
        timed(ResultCache.sql(spark, cq).collect())).toSeq)
      require(ResultCache.stats.hits >= reps, "smoke repeats did not hit")
      ResultCache.reset()
      // SQL UDF inlining parity over lineitem
      graft.model.Tables.load(spark, dir, "lineitem")
        .select(col("l_extendedprice"), col("l_discount"))
        .createOrReplaceTempView(s"sw_li_$label")
      spark.sql("DROP TEMPORARY FUNCTION IF EXISTS sw_disc")
      spark.sql("CREATE TEMPORARY FUNCTION sw_disc(p DOUBLE, d DOUBLE) " +
        "RETURNS BIGINT RETURN CAST(floor(p * (1 - d) * 100) AS BIGINT)")
      val udfT = median((1 to reps).map(_ => timed(spark.sql(
        s"SELECT sum(sw_disc(l_extendedprice, l_discount)) AS s " +
          s"FROM sw_li_$label").collect())).toSeq)
      val manT = median((1 to reps).map(_ => timed(spark.sql(
        "SELECT sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) " +
          s"AS BIGINT)) AS s FROM sw_li_$label").collect())).toSeq)
      LakeSql.unregister(tn)
      Map("policy_raw" -> raw, "policy_policed" -> policed,
        "cache_miss" -> miss, "cache_hit" -> hit,
        "udf" -> udfT, "manual" -> manT)
    }
    val a = run("x1", src)
    val b = run(s"x$copies", target)
    def j(m: Map[String, Double]) = m.toSeq.sorted
      .map { case (k, v) => f""""$k": $v%.3f""" }.mkString("{", ", ", "}")
    println(s"""{"smoke": "sqlwave", "copies": $copies, """ +
      s""""x1": ${j(a)}, "x$copies": ${j(b)}}""")
  }

  /** APPLY CHANGES → SCD2 growth smoke (round 15, the cdcMain treatment
    * applied to q256's history maintenance): source and SCD2 target at 1×
    * and `copies`× table size, then CONSTANT-SIZE update commits applied
    * incrementally. Per-apply cost = the commit's feed (constant) + the
    * CLOSE merge (touch set pruned by the target's key stats — the
    * affected keys live in one narrow z-order band) + the OPEN append
    * (batch-sized). The claim under test: per-apply wall ≈flat as both
    * tables grow 10× — only the excluded bootstrap tracks table size. */
  private def applyChangesMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = false)
    import graft.sinks.{Layout, Snapshots}
    import graft.sql.{ApplyChanges, LakeSql}
    val statsCols = Seq("o_orderkey", "o_custkey")
    def orders(dir: String) = graft.model.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    def measure(label: String, df: DataFrame, nFiles: Int): Double = {
      val root = java.nio.file.Files.createTempDirectory("acgrowth").toString
      Layout.zorderWrite(df, statsCols, s"$root/src/z", nFiles)
      Snapshots.commit(spark,
        Layout.buildManifest(spark, s"$root/src/z", statsCols),
        s"$root/src/m")
      val tname = s"ac_growth_$label"
      LakeSql.unregister(tname)
      LakeSql.register(tname, graft.sql.LakeSql.LakeTableSpec(
        s"$root/scd/z", s"$root/scd/m", Seq("o_orderkey", "start_at"), 4))
      Snapshots.createEmptyTable(spark, s"$root/scd/m",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_custkey",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("o_totalprice",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("start_at",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("end_at",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("is_current",
            org.apache.spark.sql.types.BooleanType))),
        Seq("o_orderkey", "start_at"))
      // bootstrap = full-history seed by design; excluded from timing
      ApplyChanges.scd2(spark, s"$root/src/m", tname, "o_orderkey",
        Seq("o_custkey", "o_totalprice"))
      var band = 0
      val wall = median((1 to reps).map { _ =>
        band += 1
        // one CONSTANT-size update commit: a narrow custkey band doubles
        val lo = band * 3; val hi = lo + 2
        Snapshots.updateWhere(spark, s"$root/src/z", s"$root/src/m",
          statsCols, Seq(("o_custkey", lo.toDouble, hi.toDouble)),
          Map("o_totalprice" -> (col("o_totalprice") * 2)))
        timed(ApplyChanges.scd2(spark, s"$root/src/m", tname,
          "o_orderkey", Seq("o_custkey", "o_totalprice")))
      })
      LakeSql.unregister(tname)
      wall
    }
    val small = measure("small", orders(src), 8)
    val big = measure("big", orders(target), 8 * copies)
    println(f"""{"query":"q256_apply_growth","sf01_sec":$small%.2f,"grown_${copies}x_sec":$big%.2f,"ratio":${big / small}%.2f,"copies":$copies,"reps":$reps}""")
    spark.stop()
  }

  /** CDC replication + size-policy compaction at 1× and `copies`× table
    * size. The commits are CONSTANT-SIZE across scales (same appended
    * batch rows, same 5-tiny-file fragmentation), so the claims under
    * test are exactly the per-commit-cost ones: `Cdc.sync` applies a
    * commit at feed cost (wall ~flat as the table grows 10×), and
    * `compactSmallCommit` packs the small tail at tail cost (wall ~flat
    * — the healthy files are never read, only status-probed). The mirror
    * bootstrap (a full copy by design) is excluded from timing. */
  private def cdcMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = false)
    import graft.sinks.{Cdc, Dv, Layout, Snapshots}
    val zcols = Seq("o_custkey", "o_totalprice")
    val statsCols = zcols :+ "o_orderkey"
    def orders(dir: String) = graft.model.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val batchBase = orders(src).filter(col("o_orderkey") % 7 === 0)
      .localCheckpoint()
    def measure(label: String, df: DataFrame, nFiles: Int): Unit = {
      val root = java.nio.file.Files.createTempDirectory("cdcgrowth").toString
      Layout.zorderWrite(df, zcols, s"$root/src/z", nFiles)
      Snapshots.commit(spark,
        Layout.buildManifest(spark, s"$root/src/z", statsCols), s"$root/src/m")
      // bootstrap = full copy by design; excluded from per-commit timing
      Cdc.sync(spark, s"$root/src/m", s"$root/mir/z", s"$root/mir/m",
        "o_orderkey", statsCols)
      var shift = 0L
      val tSync = median((1 to reps).map { _ =>
        shift += 1
        val b = batchBase.select(
          (col("o_orderkey") + lit(90000000000L) + lit(shift * 1000000L))
            .as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
        Snapshots.appendCommit(spark, b, statsCols, s"$root/src/z",
          s"$root/src/m", nFiles = 4)
        timed(Cdc.sync(spark, s"$root/src/m", s"$root/mir/z", s"$root/mir/m",
          "o_orderkey", statsCols))
      })
      def threshold(): Long = {
        val v = Snapshots.latestVersion(spark, s"$root/src/m")
        val fs = new org.apache.hadoop.fs.Path(s"$root/src/z")
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Dv.entries(Snapshots.manifestAt(spark, s"$root/src/m", v))
          .map(e => fs.getFileStatus(
            new org.apache.hadoop.fs.Path(e.file)).getLen).max / 2
      }
      val tPack = median((1 to reps).map { _ =>
        (0 until 5).foreach { _ =>
          shift += 1
          val b = batchBase.limit(200).select(
            (col("o_orderkey") + lit(95000000000L) + lit(shift * 1000000L))
              .as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"))
          Snapshots.appendCommit(spark, b, statsCols, s"$root/src/z",
            s"$root/src/m", nFiles = 1)
        }
        timed(Snapshots.compactSmallCommit(spark, s"$root/src/z",
          s"$root/src/m", statsCols, smallBytes = threshold(), nFiles = 1))
      })
      println(f"""{"query":"cdc_growth","scale":"$label","sync_commit_sec":$tSync%.2f,"compact_small_sec":$tPack%.2f,"reps":$reps}""")
    }
    measure("1x", orders(src), nFiles = 32)
    measure(s"${copies}x", orders(target),
      nFiles = math.min(32 * copies, 2048))
    spark.stop()
  }

  /** Copy-on-write vs merge-on-read delete at 1× and `copies`× table
    * size. The bands/keys are FRACTIONS of the key domain, so each scale
    * deletes a comparable slice of ITS table; the claims under test:
    * a MoR delete never writes data files (cost = touch-set scan + an
    * O(deleted-rows) sidecar) while CoW pays a rewrite of every touched
    * file; a scattered-KEY MoR delete stays cheap however many files the
    * keys cross; and the masked read's anti-join overhead is confined to
    * the DV'd files. */
  /** Whole-file-drop retention delete at 1× and `copies`× table size. The
    * deleted fraction scales WITH the table (same date cutoff over the
    * same date domain), so the REWRITE path's work grows ~linearly with
    * the data while the DROP path's cost is one boundary-file rewrite
    * plus file-count-bounded footer probes — the claim under test is
    * that `DELETE … WHERE d < cutoff` with the coverage proof stays
    * ~flat as the table (and its deleted slice) grows 10×. Each rep
    * rebuilds a fresh table (a delete mutates it); only the delete is
    * timed. */
  private def retentionMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = false)
    import graft.sinks.{Layout, Maintenance, Snapshots}
    def orders(dir: String) = graft.model.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val cutoff = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    def measure(label: String, df: DataFrame, nFiles: Int): Unit = {
      def run(cover: Boolean): (Double, Layout.DeleteResult) = {
        var last: Layout.DeleteResult = null
        val t = median((1 to reps).map { _ =>
          val root =
            java.nio.file.Files.createTempDirectory("retention").toString
          Maintenance.writeSorted(df, s"$root/z", nFiles,
            col("o_orderdate"))
          Snapshots.commit(spark,
            Layout.buildManifest(spark, s"$root/z", Seq("o_orderdate")),
            s"$root/m")
          val prune = col("min_o_orderdate") < lit(cutoff)
          val pred = col("o_orderdate") < lit(cutoff)
          val cov = if (cover)
            Some((col("max_o_orderdate") < lit(cutoff), Seq("o_orderdate")))
          else None
          timed {
            last = Snapshots.deleteWherePred(spark, s"$root/z", s"$root/m",
              Seq("o_orderdate"), prune, pred, cov)
          }
        })
        require(last.rowsDeleted > 0, s"retention $label: vacuous delete")
        if (cover) require(last.filesDropped > 0,
          s"retention $label: coverage proof never fired")
        (t, last)
      }
      val (tDrop, rDrop) = run(cover = true)
      val (tRewrite, rRewrite) = run(cover = false)
      println(f"retention $label%-6s dropPath=$tDrop%.2fs " +
        f"(dropped=${rDrop.filesDropped} rewritten=${rDrop.filesRewritten}) " +
        f"rewritePath=$tRewrite%.2fs " +
        f"(rewritten=${rRewrite.filesRewritten}) " +
        f"rows=${rDrop.rowsDeleted}")
    }
    measure("1x", orders(src), 16)
    measure(s"${copies}x", orders(target), 16 * copies)
    spark.stop()
  }

  private def dvMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = false)
    import graft.sinks.{Dv, Layout, Snapshots}
    val zcols = Seq("o_custkey", "o_totalprice")
    val statsCols = zcols :+ "o_orderkey"
    def orders(dir: String) = graft.model.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    def measure(label: String, df: DataFrame, nFiles: Int): Unit = {
      val root = java.nio.file.Files.createTempDirectory("dvgrowth").toString
      Layout.zorderWrite(df, zcols, s"$root/z", nFiles)
      Snapshots.commit(spark,
        Layout.buildManifest(spark, s"$root/z", statsCols), s"$root/m")
      // row-fraction bands via quantiles (NOT domain fractions: the scaled
      // builds offset custkey per copy, so the value domain is mostly
      // void and a narrow domain slice can miss every row)
      def band(a: Double, b: Double) = {
        val Array(lo, hi) = df.stat
          .approxQuantile("o_custkey", Array(a, b), 0.0005)
        Seq(("o_custkey", lo, hi))
      }
      def scan(): Unit =
        Snapshots.tableAt(spark, s"$root/m",
            Snapshots.latestVersion(spark, s"$root/m"))
          .agg(count(lit(1)), sum("o_totalprice"))
          .write.format("noop").mode("overwrite").save()
      val tScanPlain = median((1 to reps).map(_ => timed(scan())))
      // per-rep disjoint NARROW bands (0.5% of the domain): at a fixed
      // file-size policy the touched FILES carry far more rows than the
      // band — the regime where CoW pays the file bytes and MoR only the
      // band rows. CoW deletes low in the domain, MoR high.
      var cowFiles = 0L; var morFiles = 0L; var keyFiles = 0L
      val tCow = median((1 to reps).map { r =>
        timed {
          val res = Snapshots.deleteWhere(spark, s"$root/z", s"$root/m",
            statsCols, band(0.02 * r, 0.02 * r + 0.005))
          cowFiles = math.max(cowFiles, res.filesRewritten)
        }
      })
      val tMor = median((1 to reps).map { r =>
        timed {
          val res = Dv.deleteWhereMoR(spark, s"$root/z", s"$root/m",
            band(0.5 + 0.02 * r, 0.5 + 0.02 * r + 0.005))
          morFiles = math.max(morFiles, res.filesMasked)
        }
      })
      // constant ~2000-key scatter drawn from the WHOLE scaled table (a
      // hash remainder class, new each rep) — the keys cross every file,
      // the case where CoW would rewrite the table for a few thousand rows
      val n = df.count()
      val p = math.max(1L, n / 2000L)
      val tKeys = median((1 to reps).map { r =>
        timed {
          val keys = df.filter(pmod(xxhash64(col("o_orderkey")), lit(p)) === r)
            .select(col("o_orderkey"))
          val res = Dv.deleteKeysMoR(spark, s"$root/z", s"$root/m",
            "o_orderkey", keys)
          keyFiles = math.max(keyFiles, res.filesMasked)
        }
      })
      val tScanMasked = median((1 to reps).map(_ => timed(scan())))
      println(f"""{"query":"dv_growth","scale":"$label","scan_plain_sec":$tScanPlain%.2f,"cow_band_sec":$tCow%.2f,"mor_band_sec":$tMor%.2f,"mor_keys_sec":$tKeys%.2f,"scan_masked_sec":$tScanMasked%.2f,"cow_files_rewritten":$cowFiles,"mor_files_masked":$morFiles,"keys_files_masked":$keyFiles,"reps":$reps}""")
    }
    // nFiles CONSTANT across scales: real tables hold file SIZE policy
    // (128 MB–1 GB) and let count grow with data; holding count instead
    // makes each 100× file carry 100× rows — the honest per-file-bytes
    // regime for a narrow delete (count-growing files would shrink the
    // touch set's bytes back to the 1× case and hide CoW's cost).
    measure("1x", orders(src), nFiles = 32)
    measure(s"${copies}x", orders(target), nFiles = 32)
    spark.stop()
  }

  /** Table-format growth: the versioned-lake operations against a 1× and a
    * `copies`× orders layout, with a CONSTANT batch — so any wall growth is
    * the table's fault, not the work's. appendCommit, the append's change
    * feed + IVM fold, and mergeCommit should all be ≈flat (their cost is
    * the touch set: batch files, band files, manifest reads — never the
    * table); the from-scratch gold recompute is the control that SHOULD
    * grow ~linearly, and its ratio divided by the IVM ratio is the
    * maintenance win at scale. */
  private def lakeMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = false)
    import graft.ops.Ivm
    import graft.sinks.{Layout, Snapshots}
    val zcols = Seq("o_orderkey", "o_custkey")
    def orders(dir: String) = graft.model.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    def gold(df: DataFrame): DataFrame =
      df.groupBy(pmod(col("o_custkey"), lit(8)).as("bucket"))
        .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("total"))
    def withBucket(df: DataFrame): DataFrame =
      df.withColumn("bucket", pmod(col("o_custkey"), lit(8)))
    // constant across scales: keys far above every copy's offset range
    val batch = orders(src).filter(col("o_orderkey") % 5 === 0)
      .select((col("o_orderkey") + 77000000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice")).localCheckpoint()
    val updates = orders(src).filter(col("o_orderkey").between(1000, 4000))
      .withColumn("o_totalprice", col("o_totalprice") * 2).localCheckpoint()
    val inserts = orders(src).filter(col("o_orderkey") % 97 === 0)
      .select((col("o_orderkey") + 88000000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice")).localCheckpoint()
    def measure(label: String, df: DataFrame, nFiles: Int): Unit = {
      val root = java.nio.file.Files.createTempDirectory("lakegrowth").toString
      Layout.zorderWrite(df, zcols, s"$root/z", nFiles)
      Snapshots.commit(spark,
        Layout.buildManifest(spark, s"$root/z", zcols), s"$root/m")
      val view = gold(Snapshots.tableAt(spark, s"$root/m", 1)).localCheckpoint()
      val tAppend = median((1 to reps).map { _ =>
        timed(Snapshots.appendCommit(spark, batch, zcols, s"$root/z",
          s"$root/m", nFiles = 8))
      })
      val vL = Snapshots.latestVersion(spark, s"$root/m")
      val tIvm = median((1 to reps).map { _ =>
        timed(Ivm.applyFeed(view,
            withBucket(Snapshots.changesBetween(spark, s"$root/m",
              vL - 1, vL).df),
            Seq("bucket"), Seq("total" -> "o_totalprice"), "cnt")
          .write.format("noop").mode("overwrite").save())
      })
      val tRecompute = median((1 to reps).map { _ =>
        timed(gold(Snapshots.tableAt(spark, s"$root/m", vL))
          .write.format("noop").mode("overwrite").save())
      })
      val tMerge = median((1 to reps).map { _ =>
        timed(Snapshots.mergeCommit(spark, updates.unionByName(inserts),
          "o_orderkey", zcols, s"$root/z", s"$root/m", nFiles = 8))
      })
      // constant custkey band: copies offset custkeys by 100M, so [40,70]
      // lives entirely in copy 0 — the touch set must not grow with the
      // table (updateWhere's whole claim)
      val tUpdate = median((1 to reps).map { _ =>
        timed(Snapshots.updateWhere(spark, s"$root/z", s"$root/m", zcols,
          Seq(("o_custkey", 40.0, 70.0)),
          Map("o_totalprice" -> (col("o_totalprice") * 1.01))))
      })
      println(f"""{"query":"lake_growth","scale":"$label","append_sec":$tAppend%.2f,"ivm_maintain_sec":$tIvm%.2f,"recompute_sec":$tRecompute%.2f,"merge_sec":$tMerge%.2f,"update_sec":$tUpdate%.2f,"reps":$reps}""")
    }
    measure("1x", orders(src), nFiles = 32)
    measure(s"${copies}x", orders(target),
      nFiles = math.min(32 * copies, 2048))
    spark.stop()
  }

  /** MIN/MAX materialized-view growth smoke (round 18): the claim under
    * test is that a DELETE refresh's touched-group recompute tracks the
    * commit's TOUCH SET — per-rep wall ≈ flat as the base grows, with
    * the stats-pruned base read a small fraction of the manifest — while
    * `REFRESH FULL` (the recompute fallback) tracks table size. Each rep
    * deletes one band of one dim group and times the incremental
    * refresh; FULL is timed once per scale. */
  private def mvMinMaxMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = false)
    import graft.sinks.{Layout, Snapshots}
    import graft.sql.{LakeSql, MatViews}
    def orders(dir: String) = graft.model.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        pmod(col("o_custkey"), lit(8)).as("grp"), col("o_totalprice"))
    def measure(label: String, df: DataFrame, nFiles: Int): Unit = {
      val root = java.nio.file.Files.createTempDirectory("mvgrowth").toString
      LakeSql.unregister("mvsmoke_base"); MatViews.drop(spark, "mvsmoke_mv")
      // two clustering columns: a single 8-valued dim collapses the
      // z-space to 8 files no matter what nFiles asks — pairing it with
      // the high-cardinality custkey keeps file count scaling with data
      // while per-file grp stats stay narrow enough to prune
      val zc = Seq("grp", "o_custkey")
      Layout.zorderWrite(df, zc, s"$root/z", nFiles)
      Snapshots.commit(spark,
        Layout.buildManifest(spark, s"$root/z", zc), s"$root/m")
      LakeSql.register("mvsmoke_base", graft.sql.LakeSql.LakeTableSpec(
        s"$root/z", s"$root/m", zc, nFiles))
      MatViews.create(spark, "mvsmoke_mv", Some(s"$root/mv"),
        "SELECT grp, sum(o_custkey) AS sck, min(o_totalprice) AS mn, " +
          "max(o_totalprice) AS mx, count(*) AS cnt FROM mvsmoke_base " +
          "GROUP BY grp")
      var lastRead = 0L; var lastTotal = 0L
      val tRefresh = median((1 to reps).map { r =>
        // one band of one group per rep — the commit-bounded touch set
        LakeSql.sql(spark,
          s"DELETE FROM mvsmoke_base WHERE grp = $r AND " +
            s"o_totalprice < ${20000 * r}")
        timed {
          val res = MatViews.refresh(spark, "mvsmoke_mv")
          lastRead = res.baseFilesRead; lastTotal = res.baseFilesTotal
        }
      })
      val tFull = median((1 to reps).map { _ =>
        timed(MatViews.refresh(spark, "mvsmoke_mv", full = true))
      })
      println(f"""{"query":"mv_minmax_growth","scale":"$label","refresh_sec":$tRefresh%.2f,"full_sec":$tFull%.2f,"base_files_read":$lastRead,"base_files_total":$lastTotal,"reps":$reps}""")
      LakeSql.unregister("mvsmoke_base"); MatViews.drop(spark, "mvsmoke_mv")
    }
    measure("1x", orders(src), nFiles = 32)
    measure(s"${copies}x", orders(target),
      nFiles = math.min(32 * copies, 2048))
    spark.stop()
  }

  private def growthMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = false)

    def wall(name: String, dir: String): Double = median((1 to reps).map { _ =>
      timed(SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save())
    })
    try wall("q1_agg", src) catch { case _: Throwable => () } // warm-up

    // dev dial: SPARK_GRAFT_SCALE_EXTRAS=only re-runs just the dedicated
    // q102/q103 growth measurements against an already-built scaled dir
    // dev dial (the Bench.SPARK_GRAFT_BENCH_ONLY twin): comma-separated
    // names restrict the heavy loop — for measuring a newly added query
    // against an already-built scaled dir without re-running the full set
    val only = sys.env.get("SPARK_GRAFT_SMOKE_ONLY").map(_.split(",").toSet)
    if (!sys.env.get("SPARK_GRAFT_SCALE_EXTRAS").contains("only")) {
      var sumSmall = 0.0
      var sumBig = 0.0
      heavy.filter(n => only.forall(_.contains(n))).foreach { name =>
        val small = wall(name, src)
        val big = wall(name, target)
        sumSmall += small; sumBig += big
        println(f"""{"query":"$name","sf01_sec":$small%.2f,"sf1_sec":$big%.2f,"ratio":${big / small}%.2f,"reps":$reps}""")
      }
      println(f"""{"query":"TOTAL","sf01_sec":$sumSmall%.2f,"sf1_sec":$sumBig%.2f,"ratio":${sumBig / sumSmall}%.2f,"copies":$copies,"reps":$reps}""")
    }
    if (only.isEmpty) {
      q102StoreGrowth(spark, src, target, copies, reps)
      q103BandedGrowth(spark, src, target, reps)
    }
    spark.stop()
  }

  /** q102's daily-cadence claim measured DIRECTLY: screening wall for a
    * CONSTANT batch against the signature store of the small corpus vs the
    * `copies`×-grown corpus. The store grows with the corpus; the batch
    * (and so the banded probe side) does not — the screen should be ≈flat,
    * because the grown side contributes only a linear scan of k-long
    * signatures (a tiny fraction of the corpus bytes they stand in for)
    * into a banded equi-join whose output is probe-bounded. Store build
    * time is excluded: building signatures is the once-per-corpus ingest
    * cost, precisely what the incremental screen exists to avoid repeating. */
  private def q102StoreGrowth(s: SparkSession, src: String, target: String,
                              copies: Int, reps: Int): Unit = {
    import graft.ext.Dedup
    val srcDocs = graft.model.Tables.load(s, src, "documents")
      .select(col("doc_id"), col("text"))
    val bigDocs = graft.model.Tables.load(s, target, "documents")
      .select(col("doc_id"), col("text"))
    // NO underscore prefix: `_`-prefixed paths are invisible to parquet
    // reads (Hadoop hidden-file convention) — an `_q102_store` dir would be
    // silently ignored and the screen would time an empty store.
    val smallStore = s"$target/q102store_small"
    val bigStore = s"$target/q102store_big"
    Dedup.minHashSignaturesWords(srcDocs, "doc_id", "text", n = 3, k = 32)
      .write.mode("overwrite").parquet(smallStore)
    Dedup.minHashSignaturesWords(bigDocs, "doc_id", "text", n = 3, k = 32)
      .write.mode("overwrite").parquet(bigStore)
    // constant re-ingest batch (q102's shape), sketched once
    val batch = srcDocs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 50000000000L).as("doc_id"), col("text"))
    val newSigs = Dedup.minHashSignaturesWords(batch, "doc_id", "text",
      n = 3, k = 32).localCheckpoint()
    def screen(store: String): Double = median((1 to reps).map { _ =>
      timed(Dedup.incrementalNearDupPairs(newSigs, s.read.parquet(store),
        k = 32, bands = 8, threshold = 0.9)
        .write.format("noop").mode("overwrite").save())
    })
    val small = screen(smallStore)
    val big = screen(bigStore)
    println(f"""{"query":"q102_store_growth","small_store_sec":$small%.2f,"grown_store_${copies}x_sec":$big%.2f,"ratio":${big / small}%.2f,"reps":$reps}""")
  }

  /** ExactSubstr growth smoke (round 15 — the q102/q104 treatment applied
    * to q190/q191's substring machinery):
    *
    *  - REMOVAL (q190's `removeDuplicates`) at 1× and `copies`× corpus.
    *    The scaled build replicates every document verbatim under fresh
    *    doc_ids, so EVERY window is duplicated `copies`-deep — the
    *    adversarial case for the keep-one policy. The claim under test is
    *    O(corpus tokens): wall should grow ≈linearly with the corpus
    *    (ratio ≈ copies), never quadratically (all-pairs would be
    *    copies² on this fixture by construction).
    *  - INCREMENTAL SCREEN (q191's `spansAgainstStore`): a CONSTANT batch
    *    probed against the window store of the small vs the grown corpus.
    *    The batch side broadcasts into the store scan, so the per-batch
    *    cost is the store's one column-pruned parquet scan — the claim is
    *    that the grown screen costs a scan, not a corpus re-tokenize
    *    (store build time is excluded as the once-per-corpus ingest).
    */
  private def exactSubstrMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = false)
    import graft.ext.ExactSubstr
    val minLen = 20
    def docs(dir: String) = graft.model.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // removal: 1x vs copies-x corpus, same operator, same minLen
    def removalWall(dir: String): Double = median((1 to reps).map { _ =>
      timed(ExactSubstr.removeDuplicates(docs(dir), "doc_id", "text",
        minLen = minLen)
        .write.format("noop").mode("overwrite").save())
    })
    val rSmall = removalWall(src)
    val rBig = removalWall(target)
    println(f"""{"query":"q190_removal_growth","sf01_sec":$rSmall%.2f,"grown_${copies}x_sec":$rBig%.2f,"ratio":${rBig / rSmall}%.2f,"copies":$copies,"reps":$reps}""")
    // incremental screen: constant batch vs small/grown window stores
    val smallStore = s"$target/q191store_small"
    val bigStore = s"$target/q191store_big"
    ExactSubstr.windowStore(docs(src), "doc_id", "text", minLen = minLen)
      .write.mode("overwrite").parquet(smallStore)
    ExactSubstr.windowStore(docs(target), "doc_id", "text", minLen = minLen)
      .write.mode("overwrite").parquet(bigStore)
    val batch = docs(src).filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 50000000000L).as("doc_id"), col("text"))
      .localCheckpoint()
    def screen(store: String): Double = median((1 to reps).map { _ =>
      timed(ExactSubstr.spansAgainstStore(batch,
        spark.read.parquet(store), "doc_id", "text", minLen = minLen)
        .write.format("noop").mode("overwrite").save())
    })
    val sSmall = screen(smallStore)
    val sBig = screen(bigStore)
    println(f"""{"query":"q191_screen_growth","small_store_sec":$sSmall%.2f,"grown_store_${copies}x_sec":$sBig%.2f,"ratio":${sBig / sSmall}%.2f,"reps":$reps}""")
    spark.stop()
  }

  /** q103's SCALE PATH measured: semantic-dedup decisions over the FULL
    * (grown) embedding plane with the banded pair source
    * (cosineNearDupPairsBanded) swapped in for the exact pair join — the
    * pluggable substitution the q103 scaladoc prescribes. rowsPerBand=16
    * (vs the sf0.1-tuned 8×2 default) holds random-collision candidate
    * volume at n²·bands/2^16 — the documented dial turned the way a grown
    * corpus requires. Cross-copy identical vectors collide in EVERY band
    * (recall 1.0 for them), so the decision layer sees copies-deep
    * clusters — the duplicate structure it exists to resolve. */
  private def q103BandedGrowth(s: SparkSession, src: String, target: String,
                               reps: Int): Unit = {
    import graft.ext.{Dedup, Similarity}
    def wallOf(dir: String): Double = {
      val emb = graft.model.Tables.load(s, dir, "embeddings")
      median((1 to reps).map { _ =>
        timed {
          val pairs = Similarity.cosineNearDupPairsBanded(emb,
            threshold = 0.99, bands = 8, rowsPerBand = 16)
          Dedup.dedupByPairs(emb, pairs, "vec_id", aCol = "id_a", bCol = "id_b")
            .write.format("noop").mode("overwrite").save()
        }
      })
    }
    val small = wallOf(src)
    val big = wallOf(target)
    println(f"""{"query":"q103_banded_full_plane","sf01_sec":$small%.2f,"sf1_sec":$big%.2f,"ratio":${big / small}%.2f,"reps":$reps}""")
  }

  /** Skewed-key smoke: the salted operators' 100-TB claim is that they
    * neutralize hot keys that would otherwise straggle one shuffle
    * partition. Three-way comparison on a genuinely skewed key:
    * salted (ops/Skew) vs unsalted-with-AQE (Spark's own skew-split) vs
    * unsalted-without-AQE-skew-split (the worst case the salt guards
    * against on plans AQE can't rewrite). */
  private def skewMain(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val target = args.lift(1).getOrElse("/tmp/graft_scale/skew100")
    val copies = args.lift(2).map(_.toInt).getOrElse(100)
    val reps = args.lift(3).map(_.toInt)
      .orElse(sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)).getOrElse(3)
    val spark = DevSession()
    ensureBuilt(spark, src, target, copies, skewed = true)

    def t(name: String) = spark.read.parquet(s"$target/$name.parquet")

    // the q60 join shape with a pluggable join strategy: plain (AQE decides),
    // statically salted, or the dispatcher itself. q60 now routes through
    // Skew.joinSkewAware (AQE-first), so the STATIC salt must be invoked
    // directly here to keep measuring it.
    def q60Shape(join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
      val li = t("lineitem")
      val ord = t("orders")
        .filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      join(li, ord)
        .groupBy(coalesce(col("o_orderpriority"), lit("UNMATCHED"))
          .as("o_orderpriority"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
    }
    def plainJoin(): DataFrame =
      q60Shape((li, ord) => li.join(ord, Seq("l_orderkey"), "left"))
    def saltedJoin(): DataFrame =
      q60Shape((li, ord) => graft.ops.Skew.saltedJoin(li, ord,
        Seq("l_orderkey"), factor = 8, joinType = "left"))
    def dispatchedJoin(): DataFrame =
      q60Shape((li, ord) => graft.ops.Skew.joinSkewAware(li, ord,
        Seq("l_orderkey"), factor = 8, joinType = "left"))

    // unsalted twin of q61 (plain group-by)
    def plainAgg(): DataFrame =
      graft.model.Tables.load(spark, target, "events")
        .groupBy(col("event_type"))
        .agg(round(sum(col("value")), 2).as("total_value"),
          count(lit(1)).as("n_events"))

    def run(df: => DataFrame): Double = median((1 to reps).map { _ =>
      timed(df.write.format("noop").mode("overwrite").save())
    })
    def runQ(name: String): Double = median((1 to reps).map { _ =>
      timed(SparkEntry.queries(name)(spark, target)
        .write.format("noop").mode("overwrite").save())
    })
    try plainAgg().write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () } // warm-up

    def withSkewSplit(enabled: Boolean)(body: => Double): Double = {
      val key = "spark.sql.adaptive.skewJoin.enabled"
      val prev = spark.conf.get(key)
      spark.conf.set(key, enabled.toString)
      try body finally spark.conf.set(key, prev)
    }

    val results = Seq(
      "q60_salted_join" -> run(saltedJoin()),
      "q60_dispatched_joinSkewAware" -> run(dispatchedJoin()),
      "q60_unsalted_aqe" -> run(plainJoin()),
      "q60_unsalted_noskewsplit" ->
        withSkewSplit(enabled = false)(run(plainJoin())),
      "q61_salted_agg" -> runQ("q61_salted_agg"),
      "q61_unsalted" -> run(plainAgg()),
      "q3_star_join_unsalted" -> runQ("q3_join_agg"))
    results.foreach { case (name, sec) =>
      println(f"""{"variant":"$name","sec":$sec%.2f,"copies":$copies,"reps":$reps}""")
    }
    spark.stop()
  }
}
