package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin

/** k-NN-GRAPH approximate nearest neighbor — the GRAPH-index family
  * (the production niche HNSW/NSW occupy), re-expressed Spark-first:
  *
  *  - BUILD is NN-descent (Dong, Moses & Li 2011, "Efficient k-nearest
  *    neighbor graph construction for generic similarity measures"): a
  *    deterministic blocked initialization (hash-partition the corpus,
  *    exact top-k inside each block) refined by rounds of the NN-descent
  *    step — a node's candidate set is its neighbors, its REVERSE
  *    neighbors, and its neighbors-of-neighbors; score the candidates,
  *    keep the best k. Every round is joins + one window rank: no
  *    sequential insert order, no driver-resident graph — the properties
  *    that make textbook HNSW construction a poor fit for a shared-
  *    nothing engine, and NN-descent the public distributed alternative.
  *  - SEARCH is best-first beam expansion over the finished graph: a
  *    probe starts at fixed deterministic entry nodes, each hop joins the
  *    current per-probe beam with the adjacency lists, scores the newly
  *    reached nodes, and keeps the best `beam` visited so far; after
  *    `hops` bounded rounds the best k visited are the answer. Each hop
  *    is one join keyed on the graph's source id — frontier size is
  *    probes × beam, never corpus-shaped.
  *
  * Scale shape: blocked init costs Σ per-block² ≈ n²/blocks — `blocks`
  * scales with the corpus so block size stays bounded (the per-partition
  * small-graph recipe); each NN-descent round materializes ≤ n·(k² + 2k)
  * candidate edges (k-bounded fan-out, never all-pairs) and shuffles by
  * node id; search cost is probes × beam × k per hop with a bounded hop
  * count. Cosines round to 6 decimals BEFORE every ranking with id
  * tiebreaks — the [[Similarity.bruteForceTopK]] determinism contract,
  * so build and search are oracle-reproducible.
  */
object Knng {

  /** Directed k-NN graph as (src, dst, cos) — `k` best outgoing edges
    * per node after `iters` NN-descent rounds over the blocked init.
    * `seeds` independent hash-blockings initialize the graph: one
    * blocking alone can strand a neighborhood in disconnected islands
    * (nodes meet only their blockmates, and NN-descent explores only
    * through existing edges); each extra salt re-partitions the corpus
    * differently, so the union init is connected with overwhelming
    * probability — the distributed stand-in for the paper's random
    * init. */
  def buildGraph(corpus: DataFrame, k: Int, iters: Int = 2,
                 blocks: Int = 8, seeds: Int = 2, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    // joined every round from both sides
    val v = Pin(corpus.select(col(idCol).as("_id"), col(vecCol).as("_v")))
    def topK(cand: DataFrame): DataFrame = {
      // score candidate (src, dst) pairs and keep each src's best k
      val scored = cand
        .join(v.select(col("_id").as("src"), col("_v").as("_sv")), Seq("src"))
        .join(v.select(col("_id").as("dst"), col("_v").as("_dv")), Seq("dst"))
        .select(col("src"), col("dst"),
          round(Similarity.cosine(col("_sv"), col("_dv")), 6).as("cos"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cos").desc, col("dst").asc)
      scored.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= k).drop("_rk")
    }
    // deterministic blocked init: exact neighbors within each hash
    // block, across `seeds` independent blockings
    val init = topK((1 to seeds).map { s =>
      val blocked = v.withColumn("_b",
        pmod(xxhash64(col("_id"), lit(s)), lit(blocks)))
      blocked.select(col("_b"), col("_id").as("src"))
        .join(blocked.select(col("_b"), col("_id").as("dst")), Seq("_b"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
    }.reduce(_ union _).distinct())
    var g = Pin(init)
    for (_ <- 1 to iters) {
      val e = g.select(col("src"), col("dst"))
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      // neighbors-of-neighbors via an ALIASED self-join (qualified keys —
      // an unqualified self-join on a shared-lineage frame mis-resolves)
      val hop2 = e.as("l").join(e.as("r"), col("l.dst") === col("r.src"))
        .select(col("l.src").as("src"), col("r.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
      g = Pin(topK(e.union(rev).union(hop2).distinct()))
    }
    // NSW-style NAVIGABILITY augmentation (Kleinberg small-world /
    // Malkov-Yashunin NSW long links, public knowledge): a pure kNN
    // graph clusters perfectly — and is therefore UNREACHABLE across
    // clusters; greedy search could never leave its entry neighborhood.
    // Add similarity-AGNOSTIC long-range edges: within each salt-block,
    // each node links to its hash-order successor (a random ring per
    // block — parallel window work, no global sort). The links are kept
    // with their true cosine, so search ranks them like any edge.
    val long = (1 to seeds).map { s =>
      val blocked = v.withColumn("_b",
        pmod(xxhash64(col("_id"), lit(s)), lit(blocks)))
        .withColumn("_h", xxhash64(col("_id"), lit(s + 7919)))
      val w = Window.partitionBy(col("_b"))
        .orderBy(col("_h").asc, col("_id").asc)
      blocked.withColumn("_nx", lead(col("_id"), 1).over(w))
        .filter(col("_nx").isNotNull)
        .select(col("_id").as("src"), col("_nx").as("dst"))
    }.reduce(_ union _)
    val longScored = long.union(long.select(col("dst").as("src"),
        col("src").as("dst"))).distinct()
      .join(v.select(col("_id").as("src"), col("_v").as("_sv")), Seq("src"))
      .join(v.select(col("_id").as("dst"), col("_v").as("_dv")), Seq("dst"))
      .select(col("src"), col("dst"),
        round(Similarity.cosine(col("_sv"), col("_dv")), 6).as("cos"))
    // materialize the finished index ONCE: every search hop joins the
    // graph, and an unpinned plan re-derives this union+distinct (and the
    // long-link scoring joins) per hop — k-bounded rows, same contract as
    // the per-round checkpoints above
    Pin(g.union(longScored).distinct())
  }

  /** Beam search over a [[buildGraph]] graph: per-probe top-k by cosine
    * with the [[Similarity.bruteForceTopK]] output schema
    * (probe_id, neighbor_id, cos_sim, rank). Entry points are the
    * `entries` smallest corpus ids (deterministic). */
  def searchTopK(probes: DataFrame, corpus: DataFrame, graph: DataFrame,
                 k: Int, beam: Int = 32, hops: Int = 3, entries: Int = 4,
                 probeId: String = "probe_id", corpusId: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val v = corpus.select(col(corpusId).as("_nid"), col(vecCol).as("_nv"))
    val p = probes.select(col(probeId).as("probe_id"), col(vecCol).as("_pv"))
    def score(cand: DataFrame): DataFrame = cand
      .join(v, Seq("_nid"))
      .join(broadcast(p), Seq("probe_id"))
      .select(col("probe_id"), col("_nid"),
        round(Similarity.cosine(col("_pv"), col("_nv")), 6).as("cos"))
    // hash-spread entry points: deterministic, but scattered across the
    // corpus rather than clustered at the low ids
    val entry = corpus.select(col(corpusId).as("_nid"))
      .orderBy(xxhash64(col("_nid")).asc, col("_nid").asc).limit(entries)
    var visited = Pin(score(broadcast(entry)
      .crossJoin(p.select(col("probe_id")))))
    val wBeam = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("_nid").asc)
    for (_ <- 1 to hops) {
      val frontier = visited.withColumn("_rk", row_number().over(wBeam))
        .filter(col("_rk") <= beam).select(col("probe_id"), col("_nid"))
      val reached = frontier
        .join(graph.select(col("src").as("_nid"), col("dst")), Seq("_nid"))
        .select(col("probe_id"), col("dst").as("_nid")).distinct()
        .join(visited.select(col("probe_id"), col("_nid")),
          Seq("probe_id", "_nid"), "left_anti")
      visited = Pin(visited.union(score(reached)))
    }
    visited.withColumn("rank", row_number().over(wBeam))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("_nid").as("neighbor_id"),
        col("cos").as("cos_sim"), col("rank").cast("long").as("rank"))
  }
}
