package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin

/** IVF-PQ — the COMPOSITION of the coarse quantizer ([[Ivf]] inverted
  * lists) with the compressed code plane ([[Pq]]): the standard 100 TB ANN
  * deployment shape (Jégou et al., "Product quantization for nearest
  * neighbor search", TPAMI 2011 §V; the FAISS `IVFPQ` default). Flat PQ
  * ([[Pq.pqTopK]]) compresses memory 32× but still scans the WHOLE code
  * plane per probe batch; IVF alone bounds the scan to `nProbe` cells but
  * stores raw vectors. Composed: vectors are coarse-assigned to `c` cells,
  * each vector's RESIDUAL from its cell anchor is PQ-encoded, and search
  * scans only the probed cells' codes — cell-bounded I/O over 32×-smaller
  * data, which is the difference between "PQ compresses memory" and "ANN
  * works at 100 TB".
  *
  * Exactness of the decomposition: with normalized query q̂, normalized
  * vector v̂, and the cell's NORMALIZED centroid ĉ as anchor,
  * `q̂·v̂ = q̂·ĉ + q̂·(v̂−ĉ)` holds for ANY fixed per-cell anchor —
  * quantization error enters ONLY through the PQ approximation of the
  * residual `r = v̂−ĉ`. Residuals of a coherent cell are short (‖r‖² =
  * 2−2cos(v̂,ĉ)), which is precisely why residual-PQ beats raw-PQ at equal
  * code size (the TPAMI paper's IVFADC argument). The anchor term `q̂·ĉ`
  * is one double per (probe, cell); the residual term is `m` ADC table
  * lookups.
  *
  * Scale shape: the code plane persists PARTITIONED BY CELL, so a probe
  * batch's scan is partition-pruned to its `nProbe` cells before any byte
  * is read — the Spark-native analogue of FAISS's per-list storage. The
  * per-(probe, cell) ADC tables are `nProbe·m·k` doubles — KBs, broadcast.
  * Everything driver-side is probe- or cell-bounded; the corpus is touched
  * only by the one residual-encode pass at build time and the
  * shortlist-bounded exact-refine fetch at search time.
  */
object IvfPq {

  /** The driver-resident index head: per-cell anchors (the NORMALIZED
    * coarse centroids) + the residual codebook. Both are KB-scale and
    * broadcast; the heavy part — the `(id, cell, code)` plane — stays
    * distributed (see [[build]]'s second return). */
  final case class Index(anchors: Array[Array[Float]], cb: Pq.Codebook)
      extends Serializable {
    def c: Int = anchors.length
  }

  /** Build the index: coarse-quantize with [[Ivf.buildIndex]] (c cells,
    * `iters` Lloyd rounds — each one corpus scan), then ONE typed pass over
    * the carried assignment computes every vector's residual from its
    * cell's normalized centroid, trains the residual codebook on a bounded
    * hash-ordered sample, and encodes. Returns (index head, code plane)
    * where the code plane is `(idCol, cell, code)` — the frame a 100 TB
    * deployment persists partitioned by `cell` instead of raw vectors. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            c: Int, m: Int, k: Int, iters: Int = 1,
            sampleCap: Int = 20000): (Index, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (centroidsDf, carried) =
      Ivf.buildIndex(corpus, c, iters, idCol, vecCol)
    val anchors: Array[Array[Float]] = centroidsDf
      .select(col("centroid_id"), col("centroid"))
      .collect()
      .sortBy(_.getInt(0))
      .map(r => Pq.normalize(r.getSeq[Double](1).map(_.toFloat).toArray))
    val bcAnchors = spark.sparkContext.broadcast(anchors)
    // residual plane: one typed pass over the carried assignment (the
    // inverted lists already hold the vectors — the corpus is not re-read)
    val residuals = Pin(carried
      .select(col(idCol).cast("long"), col("centroid_id").cast("int"),
        col(vecCol).cast("array<float>"))
      .as[(Long, Int, Array[Float])]
      .map { case (id, cell, v) =>
        val nv = Pq.normalize(v)
        val a = bcAnchors.value(cell)
        val r = new Array[Float](nv.length)
        var i = 0
        while (i < nv.length) { r(i) = nv(i) - a(i); i += 1 }
        (id, cell, r)
      }
      .toDF(idCol, "cell", "residual"))
    val cb = Pq.train(residuals, idCol, "residual", m, k, sampleCap,
      normalizeInput = false)
    val bcCb = spark.sparkContext.broadcast(cb)
    val codes = residuals
      .as[(Long, Int, Array[Float])]
      .map { case (id, cell, r) => (id, cell, Pq.encodeOne(r, bcCb.value)) }
      .toDF(idCol, "cell", "code")
    (Index(anchors, cb), codes)
  }

  /** Cells each probe will visit: rank by `q̂·ĉ` (= cosine — both unit
    * norm), lowest cell id on ties. Driver-side over the bounded probe set
    * and the c-row anchor table. Returns (probe id, normalized query,
    * probed cell ids). */
  private def probePlans(probes: DataFrame, index: Index, probeIdCol: String,
                         vecCol: String,
                         nProbe: Int): Array[(Long, Array[Float], Array[Int])] =
    probes
      .select(col(probeIdCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map { r =>
        val q = Pq.normalize(r.getSeq[Float](1).toArray)
        val ranked = index.anchors.indices
          .map(cid => (-Pq.dot(q, index.anchors(cid)), cid))
          .sorted.take(nProbe).map(_._2).toArray
        (r.getLong(0), q, ranked)
      }

  /** The union of cells a probe batch will visit at the given `nProbe` —
    * the cell-boundedness evidence: rows of the code plane outside these
    * cells are never scanned by [[adcShortlist]]. */
  def probedCells(probes: DataFrame, index: Index, probeIdCol: String,
                  vecCol: String, nProbe: Int): Seq[Int] =
    probePlans(probes, index, probeIdCol, vecCol, nProbe)
      .flatMap(_._3).distinct.sorted.toSeq

  /** Each probe's own cell plan — the PER-PROBE scan cost evidence: a
    * probe's search reads exactly its `nProbe` cells' codes, regardless of
    * how many cells the whole batch's union covers. */
  def perProbeCells(probes: DataFrame, index: Index, probeIdCol: String,
                    vecCol: String, nProbe: Int): Map[Long, Seq[Int]] =
    probePlans(probes, index, probeIdCol, vecCol, nProbe)
      .map { case (pid, _, cells) => pid -> cells.toSeq }.toMap

  /** ADC shortlist over the probed cells ONLY: each (probe, cell) pair gets
    * an anchor offset `q̂·ĉ` and an `m × k` residual-ADC table (driver-side,
    * probe×nProbe-bounded, broadcast); the code plane is FILTERED to the
    * union of probed cells — against a cell-partitioned store this is
    * partition pruning, the cell-bounded scan that lifts flat ADC's
    * full-plane pass — and each surviving code scores against only the
    * probes that probed ITS cell. Returns (probe_id, neighbor_id,
    * adc_score, rank ≤ shortlist). */
  def adcShortlist(probes: DataFrame, index: Index, codes: DataFrame,
                   probeIdCol: String, vecCol: String,
                   shortlist: Int, nProbe: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val plans = probePlans(probes, index, probeIdCol, vecCol, nProbe)
    require(plans.nonEmpty, "IVF-PQ search needs at least one probe")
    val cb = index.cb
    // cell -> [(probe, anchor offset, residual ADC table)]
    val byCell: Map[Int, Array[(Long, Double, Array[Array[Double]])]] =
      plans.flatMap { case (pid, q, cells) =>
        val tab = Array.tabulate(cb.m) { s =>
          val sub = java.util.Arrays.copyOfRange(q, s * cb.subDim,
            (s + 1) * cb.subDim)
          Array.tabulate(cb.k)(cc => Pq.dot(sub, cb.centroids(s)(cc)))
        }
        cells.map(cell => (cell, (pid, Pq.dot(q, index.anchors(cell)), tab)))
      }.groupBy(_._1).map { case (cell, xs) => cell -> xs.map(_._2) }
    val probedCells = byCell.keys.toSeq.sorted
    val bc = spark.sparkContext.broadcast(byCell)
    codes
      .filter(col("cell").isin(probedCells: _*)) // partition-prunable
      .select(col(codes.columns.head).cast("long"), col("cell").cast("int"),
        col("code"))
      .as[(Long, Int, Seq[Int])]
      .flatMap { case (nid, cell, code) =>
        bc.value.get(cell).iterator.flatten.map { case (pid, off, tab) =>
          var s = off
          var i = 0
          while (i < code.length) { s += tab(i)(code(i)); i += 1 }
          (pid, nid, s)
        }
      }
      .toDF("probe_id", "neighbor_id", "adc_score")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("adc_score").desc, col("neighbor_id"))))
      .filter(col("rank") <= shortlist)
  }

  /** Full IVF-PQ search: cell-bounded ADC shortlist + exact cosine
    * re-rank of ONLY the shortlist rows' raw vectors (the FAISS refine
    * stage — a shortlist-bounded semi-join, the few-KB random read per
    * query that raw-vector storage would make a full scan). Returns
    * (probe_id, neighbor_id, cos_sim, rank ≤ topK). */
  def search(probes: DataFrame, index: Index, codes: DataFrame,
             corpus: DataFrame, probeIdCol: String, corpusIdCol: String,
             vecCol: String, topK: Int, nProbe: Int,
             shortlist: Int): DataFrame = {
    val cand = adcShortlist(probes, index, codes, probeIdCol, vecCol,
      shortlist, nProbe)
      .select(col("probe_id"), col("neighbor_id"))
    cand
      .join(corpus.select(col(corpusIdCol).cast("long").as("neighbor_id"),
        col(vecCol).as("_nv")), Seq("neighbor_id"))
      .join(broadcast(probes.select(
        col(probeIdCol).cast("long").as("probe_id"), col(vecCol).as("_pv"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        round(Similarity.cosine(col("_pv"), col("_nv")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rank") <= topK)
  }
}
