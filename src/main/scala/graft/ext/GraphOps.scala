package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pin

/** Graph analytics over edge-list DataFrames — PageRank as the canonical
  * iterative-propagation operator (the same join+agg skeleton as the dedup
  * family's min-label propagation in [[Dedup]], with rank mass instead of
  * labels).
  *
  * Scale shape (per iteration): one shuffle join of the rank vector to the
  * edge list on `src`, one hash aggregate on `dst` — both partition on the
  * vertex key, so a cluster reuses the edge partitioning across iterations
  * (edges are repartitioned by `src` ONCE up front and cached by the
  * caller if iterating many times). Iteration count is driver-bounded and
  * fixed (a hyperparameter, not data-dependent); at production depths the
  * caller should checkpoint every ~10 iterations to truncate lineage —
  * with the small fixed depths used here the declarative plan is fine.
  *
  * Determinism: rank sums are hash-agg double sums (order varies in the
  * last ulp); consumers round before ranking, as everywhere else in the
  * engine.
  */
object GraphOps {

  /** Estimated bytes of one (node, rank) row in a broadcast rank vector:
    * an UnsafeRow's null bitset, the double, the string's offset word and
    * a short vertex key. */
  private[ext] val RankRowBytes = 48L

  /** PageRank over a directed edge list (`src`, `dst` string columns),
    * uniform init 1/N, fixed iteration count, no dangling-mass
    * redistribution (dangling nodes keep contributing nothing — the
    * simple/classic formulation, chosen because it is exactly
    * reproducible in plain SQL):
    *
    *   rank0(v)   = 1/N
    *   rank_k+1(v) = (1-d)/N + d * Σ_{u→v} rank_k(u) / outdeg(u)
    *
    * Returns (node, rank) over ALL nodes (sources and sinks).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double): DataFrame = {
    // Edge list, vertex set, and out-degrees materialize ONCE
    // (a pin truncates lineage — without it every iteration's
    // plan re-derives the upstream edge construction, and the work grows
    // quadratically in the iteration count).
    val e = Pin(edges.select(col("src"), col("dst")).distinct())
    val nodes = Pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    // N read once from the pinned vertex set (a bounded scalar, like
    // the engine's other single-row stat reads) and folded in as a literal
    // — a per-iteration broadcast subplan would re-run its little job every
    // round.
    val n = Pin.count(nodes).toDouble
    // out-degrees are joined ONTO THE EDGE LIST once up front — the
    // degree of an edge's source is iteration-invariant, and joining it
    // inside the loop paid one extra shuffle join per round (the agg
    // input multiset is identical either way)
    val eDeg = Pin(e.join(
        e.groupBy(col("src"))
          .agg(count(lit(1)).cast("double").as("outdeg")), "src"))
    // the rank vector is O(vertices) — broadcast it onto the (much
    // wider) edge list so the join never shuffles edges; only the
    // per-destination aggregate shuffles, and it shuffles partial
    // aggregates, not edges (guide §2.4/§3.1). The hint is gated on the
    // session's broadcast threshold: a vertex set whose rank vector
    // (estimated at RankRowBytes per vertex) outgrows it drops the hint,
    // and both sides shuffle-join on the vertex key — ranks identical.
    val threshold = edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val small = threshold >= 0 && n * RankRowBytes <= threshold
    def vertexSide(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    var rank = nodes.select(col("node"), (lit(1.0) / lit(n)).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = vertexSide(rank)
        .join(eDeg, rank("node") === eDeg("src"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("outdeg")).as("mass"))
      // Checkpoint the rank vector each round: iteration cost stays flat
      // (one vertex-keyed join + one agg), the GraphX/Pregel discipline.
      rank = Pin(nodes
        .join(vertexSide(contrib), nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) / lit(n) +
            lit(damping) * coalesce(col("mass"), lit(0.0))).as("rank")))
    }
    rank
  }
}
