package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.{Dedup, Ivf, Knng}

/** Spark jobs per operator call on small fixed inputs, the companion of
  * [[ListingBudgetSpec]]. At test scale every job is mostly fixed cost,
  * which wall time cannot separate from noise; a count can. Each budget is
  * the count the operator runs today: a change that adds a job to an
  * iteration fails here even when no benchmark can see it. Inputs are
  * checkpointed frames rooted at an RDD (as the curation benchmark's
  * are), so no input is driver-local to begin with. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def pinnedInput(df: DataFrame): DataFrame = {
    val in = df.repartition(4).localCheckpoint()
    in.count()
    in
  }

  /** 60 documents: 40 distinct texts, 10 exact copies, 10 near-copies
    * with one word edited. */
  private lazy val docs = pinnedInput {
    val words = (0 until 400).map(i => s"w${(i * 7919) % 997}")
    val base = (0 until 40).map(i =>
      (i.toLong, (0 until 30).map(j => words((i * 31 + j * 3) % 400)).mkString(" ")))
    val exact = (0 until 10).map(i => (100L + i, base(i * 3)._2))
    val near = (0 until 10).map { i =>
      val ws = base(i * 3 + 1)._2.split(" ")
      ws(5) = "edited"
      (200L + i, ws.mkString(" "))
    }
    spark.sparkContext.parallelize(base ++ exact ++ near, 4).toDF("doc_id", "text")
  }

  /** 160 vectors in 8 separable clusters. */
  private lazy val vectors = pinnedInput {
    val rows = (0L until 160L).map { i =>
      val c = (i % 8).toInt
      val v = Array.fill(16)(0.01f)
      v(c * 2) = 1.0f
      v((c * 2 + 1) % 16) = 0.3f + (i % 7).toFloat / 50f
      (i, v.toSeq)
    }
    spark.sparkContext.parallelize(rows, 4).toDF("vec_id", "embedding")
  }

  /** 30 pairs: ten 3-node chains, diameter 2. */
  private lazy val pairs = pinnedInput {
    val ps = (0L until 10L).flatMap(c => Seq((c * 10, c * 10 + 1), (c * 10 + 1, c * 10 + 2)))
    spark.sparkContext.parallelize(ps, 4).toDF("doc_a", "doc_b")
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def jobs(body: => Unit): Int = jobsOf(body).size

  test("job budgets of the iterative ext/ operators") {
    val got = Seq(
      "Dedup.clusters" -> jobs(materialize(Dedup.clusters(pairs))),
      "Dedup.minHashDedupPairs" ->
        jobs(materialize(Dedup.minHashDedupPairs(docs, "doc_id", "text"))),
      "Knng.buildGraph" -> jobs(materialize(Knng.buildGraph(vectors, 4, iters = 1))),
      "Ivf.buildIndex" -> jobs {
        val (c, a) = Ivf.buildIndex(vectors, 4, iters = 1)
        materialize(c); materialize(a)
      })
    // before measured pins: 35, 29, 30 and 11
    val budget = Map(
      "Dedup.clusters" -> 17,
      "Dedup.minHashDedupPairs" -> 19,
      "Knng.buildGraph" -> 17,
      "Ivf.buildIndex" -> 9)
    got.foreach { case (op, n) =>
      assert(n <= budget(op), s"$op ran $n jobs, budget ${budget(op)}")
    }
  }
}
