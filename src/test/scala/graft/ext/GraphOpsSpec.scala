package graft.ext

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int): Map[String, Double] =
    GraphOps.pageRank(edges.toDF("src", "dst"), iters, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("two-node cycle is the uniform fixed point") {
    val r = ranks(Seq("a" -> "b", "b" -> "a"), iters = 3)
    assert(math.abs(r("a") - 0.5) < 1e-12)
    assert(math.abs(r("b") - 0.5) < 1e-12)
  }

  test("dangling sink: hand-computed two-iteration values") {
    // a→b, N=2: r1(a)=0.075, r1(b)=0.5; r2(b)=0.075+0.85·0.075=0.13875
    val r = ranks(Seq("a" -> "b"), iters = 2)
    assert(math.abs(r("a") - 0.075) < 1e-12)
    assert(math.abs(r("b") - 0.13875) < 1e-12)
  }

  test("in-degree hub outranks leaves; mass is bounded by 1") {
    val r = ranks(Seq("a" -> "hub", "b" -> "hub", "c" -> "hub",
      "hub" -> "a"), iters = 3)
    assert(r("hub") > r("a")) // hub has in-degree 3
    assert(r("a") > r("b")) // a is fed by the hub; b only gets (1-d)/N
    assert(r("hub") > r("b") && r("hub") > r("c"))
    assert(r.values.sum <= 1.0 + 1e-9)
    // b and c are symmetric — identical rank
    assert(math.abs(r("b") - r("c")) < 1e-12)
  }

  test("duplicate edges collapse before outdegree is computed") {
    val once = ranks(Seq("a" -> "b", "a" -> "c"), iters = 2)
    val dup = ranks(Seq("a" -> "b", "a" -> "b", "a" -> "c"), iters = 2)
    assert(once == dup)
  }

  test("the rank-vector broadcast is gated on the session threshold") {
    val edges = Seq("a" -> "hub", "b" -> "hub", "c" -> "hub", "hub" -> "a",
      "a" -> "b")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    // the broadcast side of a join runs its own collect job, tagged
    // "broadcast exchange (runId …)" by BroadcastExchangeExec
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .getOrElse("") + "|" +
          js.stageInfos.headOption.map(_.name).getOrElse(""))
    }
    def run(threshold: String): (Map[String, Double], Int) = {
      spark.conf.set(key, threshold)
      jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = ranks(edges, iters = 3)
        // the listener bus is asynchronous: wait for the final collect
        val deadline = System.currentTimeMillis() + 30000L
        def seen = jobs.toArray.map(_.toString)
        while (!seen.exists(_.contains("collect at GraphOpsSpec")) &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
        (r, seen.count(_.contains("broadcast exchange")))
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    try {
      val (small, broadcastsSmall) = run("10485760") // 5 vertices ≪ 10 MB
      val (large, broadcastsLarge) = run("64") // 5 × 48 bytes > 64 bytes
      assert(broadcastsSmall > 0)
      assert(broadcastsLarge == 0)
      assert(small.keySet == large.keySet)
      small.foreach { case (k, v) => assert(math.abs(v - large(k)) < 1e-12) }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
