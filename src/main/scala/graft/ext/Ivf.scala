package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin

/** IVF (inverted-file) approximate nearest neighbor — the centroid-bucketed
  * alternative to random-hyperplane LSH ([[Similarity.annTopK]]).
  *
  * Index build = a small declarative Lloyd's k-means (no MLlib): centroids
  * live in a C-row DataFrame (broadcast everywhere), assignment is a
  * broadcast join + per-vector argmax. Each round scans the corpus exactly
  * ONCE: the argmax aggregation carries the vector through, the round's
  * assignment is checkpointed, and the new centroids are the per-cell means
  * of that checkpointed frame (a tiny follow-up job over C×dims rows — no
  * second corpus scan). The final round's carried assignment doubles as the
  * index's inverted-list store, so search never has to join back to the
  * corpus. Search probes only the `nProbe` nearest cells' inverted lists —
  * the recall/throughput dial. All cosines go through the native codegen'd
  * [[Similarity.cosine]].
  *
  * The returned centroids are by construction the MEANS of the returned
  * inverted lists — each list is summarized by exactly the vector average
  * of its members, which is the property probe-ranking relies on.
  */
object Ivf {

  /** Driver-side farthest-point seeding (k-means++ without the probability
    * weighting: each next seed is the vector least similar to its nearest
    * existing seed; deterministic with id tiebreak) over a bounded,
    * deterministic hash-ordered sample of ~100×c vectors. ONE Spark job
    * (TakeOrdered: map-side top-k per partition, single merge) — no
    * corpus count, no full scan collect; the pool stays ~100×c rows no
    * matter the corpus size.
    *
    * Driver-side selection is O(c² × sample) — fine for the coarse-
    * quantizer regime (c ≲ ~1000 cells); [[seedCentroidsLarge]] covers
    * bigger c with distributed k-means‖ seeding ([[trainCentroids]] and
    * [[buildIndex]] dispatch on c automatically).
    */
  /** Driver-side float cosine for the bounded seeding pools (executor-side
    * cosines go through the codegen'd [[Similarity.cosine]]). */
  private def cosArr(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private[ext] def seedCentroids(corpus: DataFrame, c: Int,
                                 idCol: String, vecCol: String): DataFrame = {
    require(c > 0, s"seedCentroids: c must be positive, got $c")
    require(c <= 1024,
      s"seedCentroids: driver-side farthest-point seeding is bounded to c <= 1024, got $c")
    val spark = corpus.sparkSession
    import spark.implicits._
    val pool: Array[(Long, Array[Float])] = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h"), col("id"))
      .limit(100 * c)
      .select(col("id"), col("v"))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
    require(pool.nonEmpty, "seedCentroids: empty corpus")
    val seedVecs = scala.collection.mutable.ArrayBuffer(pool.head._2)
    while (seedVecs.length < math.min(c, pool.length)) {
      // farthest = minimal similarity to its nearest existing seed; id asc tiebreak
      val next = pool.minBy { case (id, v) =>
        (seedVecs.map(s => cosArr(v, s)).max, id)
      }
      seedVecs += next._2
    }
    // A plain local relation — broadcast directly, nothing to checkpoint.
    seedVecs.zipWithIndex.map { case (v, i) => (i, v.map(_.toDouble)) }
      .toSeq.toDF("centroid_id", "centroid")
  }

  /** Distributed k-means‖ seeding (Bahmani et al., VLDB 2012) for the
    * c > 1024 regime where driver-side farthest-point selection would be
    * quadratic in c. Fully deterministic — the paper's independent coin
    * flips become hash-threshold acceptance (`xxhash64(id, round)`), so
    * re-runs and retried stages sample identically.
    *
    *  1. Start from the lowest-id vector.
    *  2. `rounds` times: score every point's cost (1 − max cos to the
    *     current candidate set; one broadcast + hash-agg job), then accept
    *     each point with probability min(1, l·cost/φ) where
    *     l = oversample·c and φ = the total cost (one scalar agg per
    *     round — the only driver values in the loop).
    *  3. Weight each candidate by the number of points it is nearest to,
    *     collect the O(rounds·l) weighted candidates (NOT the corpus, and
    *     never anything c²-sized), and reduce to exactly c driver-side
    *     with deterministic weighted farthest-point selection
    *     (incremental best-similarity updates: O(c·m) work, m = #candidates).
    *
    * Each round's cost scan is O(n·|C|) cosines through the codegen'd
    * [[Similarity.cosine]] — the same asymptotics as the published
    * algorithm, all shuffle-free except the per-candidate weight count. */
  private[ext] def seedCentroidsLarge(corpus: DataFrame, c: Int,
                                      rounds: Int = 3, oversample: Double = 2.0,
                                      idCol: String = "vec_id",
                                      vecCol: String = "embedding"): DataFrame = {
    require(c > 0, s"seedCentroidsLarge: c must be positive, got $c")
    val spark = corpus.sparkSession
    import spark.implicits._
    val l = math.max((oversample * c).toLong, 1L)
    val pts = Pin(corpus
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<float>").as("v")))
    var candidates = Pin(pts.orderBy(col("id")).limit(1))
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val scored = Pin(pts.as("p")
        .crossJoin(broadcast(candidates.select(col("v").as("cv"))))
        .select(col("p.id"), col("p.v"),
          Similarity.cosine(col("p.v"), col("cv")).as("cos"))
        .groupBy(col("id"))
        .agg(first(col("v")).as("v"),
          greatest(lit(0.0), lit(1.0) - max(col("cos"))).as("cost")))
      val phi = scored.agg(sum(col("cost"))).head().getDouble(0)
      if (phi <= 1e-12) exhausted = true // every point already covered
      else {
        val accepted = scored
          .filter(pmod(xxhash64(col("id"), lit(round)), lit(1000000L))
            .cast("double") / 1e6 < least(lit(1.0), lit(l.toDouble) * col("cost") / phi))
          .select(col("id"), col("v"))
        // a candidate's own residual cost is ~1e-16 (float cosine), so a
        // hash fluke can re-accept it — dedup by id keeps the candidate set
        // (and the distinct-centroid guarantee downstream) honest
        candidates = Pin(candidates.unionAll(accepted)
          .dropDuplicates("id"))
      }
      round += 1
    }
    // weight = how many points each candidate is nearest to (argmax by cos,
    // lowest candidate id on ties); candidates nobody claims weigh 0
    val nearest = pts.as("p")
      .crossJoin(broadcast(candidates.select(col("id").as("cid"), col("v").as("cv"))))
      .select(col("p.id"),
        Similarity.cosine(col("p.v"), col("cv")).as("cos"), col("cid"))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("w"))
    val weighted: Array[(Long, Array[Float], Long)] = candidates
      .join(nearest, candidates("id") === nearest("cid"), "left")
      .select(candidates("id"), col("v"), coalesce(col("w"), lit(0L)).as("w"))
      .as[(Long, Array[Float], Long)]
      .collect()
      .sortBy(_._1)
    require(weighted.length >= c,
      s"seedCentroidsLarge: only ${weighted.length} distinct candidates for c=$c — " +
        "corpus too small for this cell count (raise oversample/rounds or lower c)")
    // deterministic weighted k-means++-style reduction: seed with the
    // heaviest candidate, then repeatedly take argmax of w·(1 − best cos to
    // the selected set), maintaining best-cos incrementally (O(c·m)).
    val m = weighted.length
    val selected = new Array[Int](c)
    val best = new Array[Double](m)
    var first0 = 0
    for (j <- 1 until m)
      if (weighted(j)._3 > weighted(first0)._3) first0 = j
    selected(0) = first0
    for (j <- 0 until m) best(j) = cosArr(weighted(j)._2, weighted(first0)._2)
    val taken = new Array[Boolean](m)
    taken(first0) = true
    for (k <- 1 until c) {
      var arg = -1; var bestScore = -1.0
      for (j <- 0 until m) if (!taken(j)) {
        val score = weighted(j)._3.toDouble * math.max(0.0, 1.0 - best(j))
        if (score > bestScore) { bestScore = score; arg = j }
      }
      // all remaining scores zero (duplicate vectors / zero weights): fall
      // back to the first untaken candidate to still return exactly c rows
      if (arg < 0) arg = (0 until m).find(!taken(_)).get
      selected(k) = arg; taken(arg) = true
      for (j <- 0 until m) if (!taken(j)) {
        val cs = cosArr(weighted(j)._2, weighted(arg)._2)
        if (cs > best(j)) best(j) = cs
      }
    }
    selected.zipWithIndex.map { case (j, i) =>
      (i, weighted(j)._2.map(_.toDouble))
    }.toSeq.toDF("centroid_id", "centroid")
  }

  /** (vec_id, centroid_id, vec): nearest centroid per vector with the vector
    * carried through the argmax aggregation — one corpus scan, one shuffle,
    * and the output doubles as the inverted-list store (no join back to the
    * corpus needed downstream). */
  private def assignCarry(corpus: DataFrame, centroids: DataFrame,
                          idCol: String, vecCol: String): DataFrame =
    corpus.crossJoin(broadcast(centroids))
      .select(col(idCol), col(vecCol), col("centroid_id"),
        Similarity.cosine(col(vecCol),
          col("centroid").cast("array<float>")).as("cos"))
      .groupBy(col(idCol))
      .agg(max_by(col("centroid_id"),
        struct(col("cos"), -col("centroid_id"))).as("centroid_id"),
        first(col(vecCol)).as(vecCol))

  /** Per-cell vector means of a carried assignment: posexplode by dimension
    * then two hash aggregations — codegen'd with map-side partials, keyed on
    * (centroid, dim) so the work scales with the corpus, not C×corpus. */
  private def cellMeans(carried: DataFrame, vecCol: String): DataFrame =
    carried
      .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("i", "v")))
      .groupBy(col("centroid_id"), col("i"))
      .agg(avg(col("v").cast("double")).as("m"))
      .groupBy(col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("i"), col("m")))).as("dims"))
      .select(col("centroid_id"),
        transform(col("dims"), d => d.getField("m")).as("new_centroid"))

  /** Build the full IVF index: seed (driver farthest-point for c ≤ 1024,
    * distributed k-means‖ beyond — see [[seedCentroidsLarge]]), run `iters`
    * Lloyd rounds (each = one corpus scan), return (centroids, assignment)
    * where the centroids are exactly the per-cell means of the returned
    * assignment and the assignment carries the vectors (the inverted lists,
    * checkpointed — every search reuses one materialization). Cells that
    * lose all members keep their previous centroid. */
  def buildIndex(corpus: DataFrame, c: Int, iters: Int = 2,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    var centroids =
      if (c <= 1024) seedCentroids(corpus, c, idCol, vecCol)
      else seedCentroidsLarge(corpus, c, idCol = idCol, vecCol = vecCol)
    var carried: DataFrame = null
    (0 until math.max(iters, 0)).foreach { _ =>
      carried = Pin(assignCarry(corpus, centroids, idCol, vecCol))
      centroids = Pin(centroids
        .join(cellMeans(carried, vecCol), Seq("centroid_id"), "left")
        .select(col("centroid_id"),
          coalesce(col("new_centroid"), col("centroid")).as("centroid")))
    }
    // iters = 0 is seeding-only: no Lloyd round, but the index still needs
    // an assignment against the (seed) centroids
    if (carried == null)
      carried = Pin(assignCarry(corpus, centroids, idCol, vecCol))
    (centroids, carried)
  }

  /** (centroid_id, centroid: array<double>) — seeding plus `iters` Lloyd
    * rounds; the centroids-only view of [[buildIndex]]. */
  def trainCentroids(corpus: DataFrame, c: Int, iters: Int = 2,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    buildIndex(corpus, c, iters, idCol, vecCol)._1

  /** (vec_id, centroid_id): nearest centroid per vector — broadcast the
    * C-row centroid table, argmax by cosine via `max_by` on a
    * (cos, −centroid_id) struct (deterministic tiebreak to the lowest id).
    * A hash aggregate with map-side partials — no sort window. */
  def assign(corpus: DataFrame, centroids: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.crossJoin(broadcast(centroids))
      .select(col(idCol), col("centroid_id"),
        Similarity.cosine(col(vecCol),
          col("centroid").cast("array<float>")).as("cos"))
      .groupBy(col(idCol))
      .agg(max_by(col("centroid_id"),
        struct(col("cos"), -col("centroid_id"))).as("centroid_id"))

  /** IVF search: each probe visits its `nProbe` closest cells and ranks
    * that union exactly. Pass the assignment from [[buildIndex]] to reuse
    * the already-materialized inverted lists (when it carries the vector
    * column, as buildIndex's does, the corpus is never touched); otherwise
    * the assignment is recomputed from the corpus. */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, nProbe: Int = 2,
              probeId: String = "probe_id", corpusId: String = "vec_id",
              vecCol: String = "embedding",
              assignment: Option[DataFrame] = None): DataFrame = {
    val lists = assignment match {
      case Some(a) if a.columns.contains(vecCol) => a // carried: already the lists
      case Some(a) => corpus.join(a, corpusId)
      case None => corpus.join(assign(corpus, centroids, corpusId, vecCol), corpusId)
    }
    searchLists(probes, lists, centroids, k, nProbe, probeId, corpusId, vecCol)
  }

  /** The shared probe-and-rank tail: visit each probe's `nProbe` closest
    * cells, rank the union of their inverted lists exactly. */
  private def searchLists(probes: DataFrame, lists: DataFrame,
                          centroids: DataFrame, k: Int, nProbe: Int,
                          probeId: String, corpusId: String,
                          vecCol: String): DataFrame = {
    val probeCells = {
      val w = Window.partitionBy(col(probeId))
        .orderBy(col("cos").desc, col("centroid_id").asc)
      probes.crossJoin(broadcast(centroids))
        .select(col(probeId), col(vecCol), col("centroid_id"),
          Similarity.cosine(col(vecCol),
            col("centroid").cast("array<float>")).as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= nProbe)
        .select(col(probeId), col(vecCol), col("centroid_id"))
    }
    val scored = probeCells.as("p")
      .join(lists.as("c"), col("p.centroid_id") === col("c.centroid_id"))
      .select(col(s"p.$probeId").as("probe_id"),
        col(s"c.$corpusId").as("neighbor_id"),
        round(Similarity.cosine(col(s"p.$vecCol"), col(s"c.$vecCol")), 6).as("cos_sim"))
      .distinct()
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** FILTERED ANN — the vector-store "search with metadata filter" staple:
    * top-k among corpus vectors satisfying `pred`, served from the IVF
    * index. The predicate is applied to the inverted lists BEFORE ranking
    * (pre-filter), so the result is rank-exact within the probed cells of
    * the FILTERED corpus — no over-fetch slack, and never silently fewer
    * than k the way rank-then-filter degrades. A selective filter thins
    * the probed cells, which costs recall exactly like a small `nProbe`
    * does; the mitigation dial is the same (raise `nProbe`). Metadata
    * columns come from `corpus` (the lists join back by id), so any
    * attribute the corpus carries can filter. */
  def ivfTopKFiltered(probes: DataFrame, corpus: DataFrame,
                      centroids: DataFrame, pred: Column,
                      k: Int, nProbe: Int = 2,
                      probeId: String = "probe_id",
                      corpusId: String = "vec_id",
                      vecCol: String = "embedding",
                      assignment: Option[DataFrame] = None): DataFrame = {
    val assigned = assignment
      .getOrElse(assign(corpus, centroids, corpusId, vecCol))
      .select(col(corpusId), col("centroid_id"))
    val lists = corpus.join(assigned, corpusId).filter(pred)
    searchLists(probes, lists, centroids, k, nProbe, probeId, corpusId, vecCol)
  }

  /** INCREMENTAL index maintenance (the q127 bloom-append shape, for ANN):
    * a new vector batch is assigned to the EXISTING centroids and its
    * postings appended to the inverted lists — the indexed corpus is never
    * re-read and existing postings are byte-untouched, so maintenance
    * costs O(batch × C) instead of a rebuild. Centroids drift from the
    * true cell means as batches accumulate — the accepted IVF practice;
    * retrain when recall decays. */
  def extendIndex(centroids: DataFrame, assignment: DataFrame,
                  newVecs: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    assignment.unionByName(
      assignCarry(newVecs, centroids, idCol, vecCol),
      allowMissingColumns = true)

  /** DELETE vectors from the index — the other half of the maintenance
    * lifecycle ([[extendIndex]] adds): an anti-join drops the tombstoned
    * ids' postings, so a deleted vector can never be served again, the
    * surviving postings are byte-identical, and the cost is one
    * anti-join over the lists (broadcast when the tombstone set is
    * small). Centroids are untouched — like [[extendIndex]]'s drift,
    * the accepted IVF practice until a retrain. */
  def removeFromIndex(assignment: DataFrame, deletedIds: DataFrame,
                      idCol: String = "vec_id"): DataFrame =
    assignment.join(deletedIds.select(col(idCol)).distinct(),
      Seq(idCol), "left_anti")
}
