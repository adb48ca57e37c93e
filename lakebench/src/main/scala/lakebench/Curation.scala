package lakebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, ExactSubstr, Ivf, Knng, Similarity, TextAnalysis}

/** LLM-data curation: seeded passes over a document corpus with injected
  * exact copies and word-edited near-duplicates, plus an embedding set,
  * through the quality, dedup, exact-substring, ANN and kNN-graph
  * operators. No commits and no SQL front door. */
final class Curation(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  import Curation._

  private var docRows: Seq[Row] = Seq.empty
  private var exactTruth: Seq[(Long, Long)] = Seq.empty
  private var nearTruth: Seq[(Long, Long)] = Seq.empty
  private var lowQuality = 0
  private var embRows: Seq[Row] = Seq.empty
  private var probeRows: Seq[Row] = Seq.empty
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var probes: DataFrame = _
  private var last: Map[String, DataFrame] = Map.empty

  def generate(): Unit = {
    val r = Gen.rng(seed, 3)
    def words(n: Int) = Seq.fill(n) {
      if (r.nextDouble() < 0.3) {
        if (r.nextBoolean()) "the" else Gen.Stopwords(r.nextInt(Gen.Stopwords.size))
      } else Gen.Vocabulary(r.nextInt(Gen.Vocabulary.length))
    }
    val base = (0 until BaseDocs).map { i =>
      val kind = r.nextDouble()
      val text =
        if (kind < 0.04) // another language: no English stopwords at all
          Seq.fill(60 + r.nextInt(30))(Gen.Vocabulary(r.nextInt(64))).mkString(" ")
        else if (kind < 0.07) { // repetitive filler
          val few = Seq.fill(3)(Gen.Vocabulary(r.nextInt(Gen.Vocabulary.length)))
          Seq.fill(60 + r.nextInt(30))(
            if (r.nextDouble() < 0.3) "the" else few(r.nextInt(3))).mkString(" ")
        } else words(60 + r.nextInt(30)).mkString(" ")
      if (kind < 0.07) lowQuality += 1
      (i.toLong, text, kind >= 0.07)
    }
    val good = base.filter(_._3)
    var nextId = BaseDocs.toLong
    val exact = (0 until ExactCopies).map { _ =>
      val src = good(r.nextInt(good.size))
      nextId += 1
      (nextId, src._1, src._2)
    }
    val near = (0 until NearDups).map { _ =>
      val src = good(r.nextInt(good.size))
      val ws = src._2.split(" ")
      (0 until EditsPerNearDup).foreach(_ =>
        ws(r.nextInt(ws.length)) = Gen.Vocabulary(r.nextInt(Gen.Vocabulary.length)))
      nextId += 1
      (nextId, src._1, ws.mkString(" "))
    }
    exactTruth = exact.map(e => (e._1, e._2))
    nearTruth = near.map(e => (e._1, e._2))
    docRows = base.map(b => Row(b._1, b._2)) ++
      (exact ++ near).map(e => Row(e._1, e._3))

    val centers = Array.fill(Clusters, Dim)(r.nextGaussian())
    def around(c: Int) = centers(c).map(x => (x + 0.35 * r.nextGaussian()).toFloat).toSeq
    embRows = (0 until Vectors).map(i =>
      Row(i.toLong, around(r.nextInt(Clusters))))
    probeRows = (0 until Probes).map(i =>
      Row(i.toLong, around(r.nextInt(Clusters))))
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .localCheckpoint()

  def setup(): Unit = {
    docs = frame(docRows, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))))
    emb = frame(embRows, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
    probes = frame(probeRows, StructType(Seq(StructField("probe_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
  }

  /** One pass over a slice of the inputs: the same plans as a full pass,
    * so the measured passes run warm, at a fraction of the cost. */
  def warmup(): Unit = {
    val (d, e) = (docs, emb)
    docs = d.limit(WarmupDocs).localCheckpoint()
    emb = e.limit(WarmupVectors).localCheckpoint()
    try last = pass() finally { docs = d; emb = e }
  }

  private def pass(): Map[String, DataFrame] = {
    val good = Facts.timed("ext.quality_ms")(docs.filter(
      TextAnalysis.qualityScore(col("text")) >= QualityFloor &&
        TextAnalysis.langIdHeuristic(col("text")) === "en").localCheckpoint())
    val groups = Facts.timed("ext.exact_dedup_ms")(Dedup.exactGroups(good,
      "doc_id", TextAnalysis.fingerprint(col("text"))).localCheckpoint())
    val (cands, pairs) = Facts.timed("ext.minhash_ms") {
      val c = Dedup.minHashDedupPairs(good, "doc_id", "text", threshold = 0.0)
        .localCheckpoint()
      (c, c.filter(col("jaccard") >= PairThreshold).localCheckpoint())
    }
    val nCands = cands.count()
    val nPairs = pairs.count()
    Facts.add("ext.minhash.candidates", nCands.toDouble)
    Facts.add("ext.minhash.pairs", nPairs.toDouble)
    val clusters = Facts.timed("ext.cluster_ms")(Dedup.clusters(pairs).localCheckpoint())
    Facts.timed("ext.exact_substr_ms")(
      Workload.materialize(ExactSubstr.removeDuplicates(good, "doc_id", "text", MinSubstrTokens)))
    val (centroids, assignment) = Facts.timed("ext.ivf_build_ms")(
      Ivf.buildIndex(emb, Cells, iters = 1))
    val ann = Facts.timed("ext.ann_ms")(Ivf.ivfTopK(probes, emb, centroids, K,
      nProbe = NProbe, assignment = Some(assignment)).localCheckpoint())
    Facts.timed("ext.knng_ms")(Workload.materialize(Knng.buildGraph(emb, KnnK, iters = 1)))
    Map("good" -> good, "groups" -> groups, "clusters" -> clusters, "ann" -> ann)
  }

  def op(i: Int): Long = {
    last = pass()
    docRows.size.toLong
  }

  def checks(): Seq[Check] = {
    val kept = last("good").count()
    val expectKept = docRows.count(r => keeps(r.getString(1)))
    val cluster = last("clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def recall(truth: Seq[(Long, Long)]) = truth.count { case (a, b) =>
      cluster.get(a).exists(c => cluster.get(b).contains(c))
    }.toDouble / truth.size
    val copies = last("groups").filter(col("n_copies") > 1)
      .agg(sum(col("n_copies") - 1)).head().getLong(0)
    val exactTopK = Similarity.bruteForceTopK(probes, emb, K).collect()
      .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val annTopK = last("ann").collect()
      .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val annRecall = exactTopK.map { case (p, want) =>
      (want intersect annTopK.getOrElse(p, Set.empty)).size.toDouble / want.size
    }.sum / exactTopK.size
    val exactRecall = recall(exactTruth)
    val nearRecall = recall(nearTruth)
    Seq(
      Check("curation_quality_filter", kept == expectKept,
        s"kept $kept of ${docRows.size}, expected $expectKept"),
      Check("curation_exact_groups", copies >= exactTruth.size * ExactRecallFloor,
        s"$copies extra copies grouped, ${exactTruth.size} injected"),
      Check("curation_exact_dup_recall", exactRecall >= ExactRecallFloor,
        f"recall $exactRecall%.3f, floor $ExactRecallFloor"),
      Check("curation_near_dup_recall", nearRecall >= NearDupRecallFloor,
        f"recall $nearRecall%.3f, floor $NearDupRecallFloor"),
      Check("curation_ivf_recall", annRecall >= AnnRecallFloor,
        f"recall@$K $annRecall%.3f vs brute force, floor $AnnRecallFloor"))
  }

  /** The pass's quality and language rule evaluated in plain Scala, with
    * the same double arithmetic as `TextAnalysis.qualityScore` and
    * `TextAnalysis.langIdHeuristic`: a document is kept when its score
    * reaches [[QualityFloor]] and "the" makes up at least 4 % of its
    * tokens. The generator's low-quality label is only a tendency: a
    * filler document with few "the" tokens can still score above the
    * floor. */
  private def keeps(text: String): Boolean = {
    val toks = text.split(" ", -1)
    val n = toks.length.toDouble
    val stop = toks.count(TextAnalysis.Stopwords.contains).toDouble / n
    val score = (1.0 - stop) * 0.5 + math.min(n, 100.0) / 100.0 * 0.25 +
      toks.distinct.length.toDouble / n * 0.25
    score >= QualityFloor && toks.count(_ == "the").toDouble / n >= 0.04
  }

  def inputs: Map[String, Any] = Map(
    "base_docs" -> BaseDocs, "exact_copies" -> ExactCopies,
    "near_dups" -> NearDups, "corpus_docs" -> docRows.size,
    "low_quality_docs" -> lowQuality,
    "corpus_text_bytes" -> docRows.map(_.getString(1).length.toLong).sum,
    "vectors" -> Vectors, "dim" -> Dim, "probes" -> Probes)

  def endFacts(): Map[String, Any] = Map.empty
}

object Curation {
  val BaseDocs = 1000
  val ExactCopies = 50
  val NearDups = 50
  val EditsPerNearDup = 2
  val Vectors = 400
  val Probes = 30
  val Dim = 64
  val Clusters = 20
  val Cells = 16
  val NProbe = 4
  val K = 10
  val KnnK = 8
  val QualityFloor = 0.6
  val PairThreshold = 0.5
  val MinSubstrTokens = 50
  val WarmupDocs = 400
  val WarmupVectors = 200
  val ExactRecallFloor = 0.98
  val NearDupRecallFloor = 0.9
  val AnnRecallFloor = 0.8
}
