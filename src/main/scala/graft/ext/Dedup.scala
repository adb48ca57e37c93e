package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Pin

/** Deduplication operators for LLM-training-data pipelines (north-star
  * extension): exact (hash groupBy), n-gram Jaccard (inverted shingle index),
  * MinHash+LSH (banded signature bucketing), and SimHash (shuffle-free
  * per-document sketch + banded pairing).
  *
  * Scale stance (100 TB): MinHash/SimHash signatures are computed per-row in
  * codegen (no shuffle); the only shuffles are the groupBy on the dedup key
  * and the candidate-pair joins, whose volume is controlled by banding —
  * never an all-pairs cross join. Exact-Jaccard verification runs only on
  * LSH candidates. Signature/hash arrays are materialized once in a named
  * column so Catalyst's CollapseProject does not duplicate the (expensive)
  * shingling expression per signature slot.
  */
object Dedup {

  /** Exact dedup: group by a content fingerprint, keep the minimum id per
    * group (deterministic keep-first). One hash-aggregate shuffle on the
    * fingerprint — the canonical scalable exact-dedup plan. */
  def exactGroups(docs: DataFrame, idCol: String, fp: Column): DataFrame =
    docs
      .select(col(idCol), fp.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard similarity pairs via an inverted shingle index:
    * explode distinct shingles, self-join on shingle (co-occurrence count =
    * intersection size), then |A∪B| = |A|+|B|−|A∩B|. All joins are
    * shuffle-hash on the shingle / id keys; intersection counts use map-side
    * partial aggregation. Exact but quadratic in the worst case — at scale,
    * run it only on candidates from [[minHashCandidates]], or bound the
    * input set. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame = {
    val sh = docs
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.shingles(col(textCol), n)).as("s"))
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** (doc, shingle-hash) exploded frame — the shared scan for MinHash
    * signatures, sizes, and Jaccard verification. */
  /** Codegen shingling: explode the offset range and `substr` each shingle —
    * scalar expressions all the way (the array-of-shingles `transform` form
    * runs interpreted per element). MULTISET semantics (duplicate shingles
    * kept): min-aggregates are insensitive to duplicates, so signatures can
    * skip the dedup shuffle; use [[shingleHashSets]] where set semantics
    * matter. */
  private def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    docs
      .select(col(idCol).as("doc"), col(textCol).as("t"),
        explode(sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))))
          .as("i"))
      .select(col("doc"), xxhash64(col("t").substr(col("i"), lit(n))).as("h"))

  /** (doc, sig) frame: k-permutation MinHash signature (array<long>) over
    * character n-gram shingles. Permutation i re-hashes the base shingle hash
    * with the slot index (`xxhash64(h, i)`) — k independent hash families
    * with no overflowing affine arithmetic (Spark 4 ANSI mode rejects
    * wrapping multiplies).
    *
    * Implementation note: explode + groupBy(min×k) rather than
    * `transform`/`array_min` — Spark's higher-order array functions are
    * interpreted per element, while `min` aggregates of scalar hash calls
    * stay in whole-stage codegen with map-side partial aggregation, so the
    * shuffle carries only k longs per document (measured ~6× faster at
    * sf0.1, and the same plan shape scales to billions of documents). */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int): DataFrame =
    signaturesFromHashes(shingleHashes(docs, idCol, textCol, n), k)

  /** Word-shingle MinHash signatures — the document-scale variant (char
    * n-grams explode one row per character offset; word n-grams are ~6×
    * fewer rows for prose). The store/batch sides of the incremental
    * screen ([[incrementalNearDupPairs]]) must use the same family. */
  def minHashSignaturesWords(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, k: Int): DataFrame =
    signaturesFromHashes(wordShingleHashes(docs, idCol, textCol, n), k)

  /** k min-aggregates over a (doc, h) shingle-hash frame → (doc, sig). */
  private def signaturesFromHashes(hashes: DataFrame, k: Int): DataFrame = {
    val mins = hashes
      .groupBy(col("doc"))
      .agg(min(xxhash64(col("h"), lit(0))).as("m0"),
        (1 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i")): _*)
    mins.select(col("doc"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash + LSH candidate pairs: split the k-long signature into `bands`
    * bands of k/bands slots, hash each band, and join documents that share
    * any (band index, band hash) bucket. Probability a pair with Jaccard j
    * becomes a candidate: 1 − (1 − j^(k/bands))^bands — the standard
    * S-curve. The join is on the band bucket, so work is proportional to
    * bucket collisions, not |docs|². */
  def minHashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int): DataFrame =
    bandedCandidates(minHashSignatures(docs, idCol, textCol, n, k), k, bands)

  /** Candidate pairs from a precomputed (doc, sig) frame — split out so
    * callers can materialize the signature frame once and fan multiple
    * consumers off it. */
  def bandedCandidates(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val banded = bandedForm(sig, k, bands)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
  }

  /** (doc, band, bucket) banding of a (doc, sig) frame — the join key shape
    * shared by the self-join ([[bandedCandidates]]) and the incremental
    * new-vs-store join ([[incrementalNearDupPairs]]). */
  private def bandedForm(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val rows = k / bands
    val bandHashes = array((0 until bands).map { b =>
      xxhash64(slice(col("sig"), b * rows + 1, rows))
    }: _*)
    sig.select(col("doc"), posexplode(bandHashes).as(Seq("band", "bucket")))
  }

  /** Incremental near-dup: screen a NEW batch's signatures against a
    * persisted corpus signature STORE — the daily-ingest shape at 100 TB,
    * where re-sketching the corpus per batch is the thing you must never do
    * (the store keeps one k-long signature per document, a tiny fraction of
    * corpus bytes; append today's signatures after screening).
    *
    * Both sides band identically; candidates come from the banded equi-join
    * (new × store, never store × store); the score is the signature
    * agreement estimate — the store intentionally does not retain text, so
    * exact-Jaccard confirmation, when needed, is a follow-up join against
    * the lake restricted to the few emitted pairs.
    *
    * Returns (new_doc, store_doc, est) with est ≥ threshold. */
  def incrementalNearDupPairs(newSigs: DataFrame, storeSigs: DataFrame,
                              k: Int, bands: Int,
                              threshold: Double): DataFrame = {
    val bn = bandedForm(newSigs, k, bands)
    val bs = bandedForm(storeSigs, k, bands)
    val cands = bn.as("a")
      .join(bs.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc").as("new_doc"), col("b.doc").as("store_doc"))
      .distinct()
    cands
      .join(newSigs.select(col("doc"), col("sig").as("sn")),
        col("new_doc") === col("doc")).drop("doc")
      .join(storeSigs.select(col("doc"), col("sig").as("ss")),
        col("store_doc") === col("doc")).drop("doc")
      .select(col("new_doc"), col("store_doc"),
        (size(filter(zip_with(col("sn"), col("ss"), (x, y) => x === y),
          b => b)).cast("double") / k).as("est"))
      .filter(col("est") >= threshold)
  }

  /** Word n-gram shingle hashes — the standard unit for document-level
    * MinHash (char n-grams suit short strings): far fewer shingles per
    * document and better discrimination between documents drawn from a
    * shared vocabulary. Codegen throughout (split once, `slice`+`concat_ws`
    * per offset). */
  private def wordShingleHashes(docs: DataFrame, idCol: String, textCol: String,
                                n: Int): DataFrame =
    docs
      .select(col(idCol).as("doc"), split(col(textCol), " ").as("w"))
      .select(col("doc"), col("w"),
        explode(sequence(lit(1), greatest(size(col("w")) - (n - 1), lit(1))))
          .as("i"))
      .select(col("doc"),
        xxhash64(concat_ws(" ", slice(col("w"), col("i"), lit(n)))).as("h"))

  /** MinHash LSH near-dup pairs, verified: exact-duplicate collapse →
    * banded candidates → cheap signature-estimate pre-filter (fraction of
    * agreeing slots ≥ half the threshold; for a true-jaccard-θ pair the
    * estimate is Binomial(k, θ)/k, so the half-threshold margin loses < 1%
    * recall at k=32) → exact Jaccard via the candidate-restricted inverted
    * index on the surviving few. The shingle-hash multiset is materialized
    * once — signatures, band joins, and verification all derive from it,
    * and Catalyst would re-execute the unshared subtree for every consumer
    * otherwise. At scale this is also the right pipeline shape: the hash
    * frame is one long per shingle, far smaller than the corpus text, and
    * dedup pipelines stage it.
    *
    * The EXACT-COLLAPSE front end is load-bearing at corpus scale: a
    * boilerplate page duplicated d times shares every band bucket with all
    * its copies, so banding the raw corpus explodes into O(d²) wide
    * candidate rows per group BEFORE verification (observed as an OOM in
    * the 10× scale smoke, where duplicate groups are 100 deep). Instead,
    * identical texts (128-bit content fingerprint) collapse to one
    * representative; banding + verification run on UNIQUE content only;
    * afterwards within-group pairs are emitted directly (jaccard 1 by
    * definition) and representative-level near-dup pairs expand back to all
    * member cross pairs. The candidate-derived pair set is unchanged; the
    * exact-collapse path is also the AUTHORITATIVE channel for degenerate
    * identical documents (empty or shorter than one shingle): such texts
    * still emit one clamped shingle (`greatest(…, 1)`) — only null texts
    * shingle to nothing — but byte-identical texts are exact duplicates
    * regardless of what they shingle to, so their within-group pairs are
    * emitted with jaccard 1 without relying on the banding to find them.
    * The intermediate stays linear in unique content instead of quadratic
    * in duplication depth. */
  def minHashDedupPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 32, bands: Int = 8,
                        threshold: Double = 0.5,
                        wordShingles: Boolean = true): DataFrame = {
    val (members, uniques) = exactCollapse(docs, idCol, textCol)
    expandCollapsed(members,
      minHashRepPairs(uniques, n, k, bands, threshold, wordShingles),
      "jaccard", lit(1.0))
  }

  /** Representative-level banded MinHash near-dup pairs over a collapsed
    * `uniques` frame — the banded pipeline of [[minHashDedupPairs]] minus
    * the expansion, shared with the q27 gate. */
  private def minHashRepPairs(uniques: DataFrame, n: Int, k: Int, bands: Int,
                              threshold: Double,
                              wordShingles: Boolean): DataFrame = {
    val base =
      if (wordShingles) wordShingleHashes(uniques, "doc", "txt", n)
      else shingleHashes(uniques, "doc", "txt", n)
    val full = Pin(base)
    val sig = Pin(signaturesFromHashes(full, k))
    val cands = bandedCandidates(sig, k, bands)
      .join(sig.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sa.sig"), col("sb.sig"), (x, y) => x === y),
          b => b)).cast("double") / k).as("est"))
      .filter(col("est") >= threshold / 2)
      .select(col("doc_a"), col("doc_b"))
    val sh = full.distinct()
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = cands
      .join(sh.as("x"), col("doc_a") === col("x.doc"))
      .join(sh.as("y"), col("doc_b") === col("y.doc") && col("x.h") === col("y.h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT word-n-gram Jaccard pairs over the whole corpus — the exact twin
    * the banded MinHash path ([[minHashDedupPairs]]) is recall/precision-
    * gated against under the driver's oracle (q27). Same shingle family
    * (distinct word-shingle hash sets) as the banded path's verification, so
    * the banded output is a strict subset of this one by construction.
    *
    * Runs behind the same exact-collapse front end, so the quadratic
    * inverted-index join touches UNIQUE content only — on a duplicate-heavy
    * corpus (the 100-deep groups of the scale smoke) cost tracks unique
    * texts, not duplication depth. Still an exact all-true-pairs computation:
    * a verification plane sized by unique content, not the 100 TB path (that
    * is the banded query it gates). */
  def jaccardPairsWords(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val (members, uniques) = exactCollapse(docs, idCol, textCol)
    expandCollapsed(members, jaccardRepPairsWords(uniques, n, threshold),
      "jaccard", lit(1.0))
  }

  /** Representative-level exact word-shingle Jaccard pairs over a collapsed
    * `uniques` frame — the bounded verify plane (cost tracks UNIQUE content
    * only) shared by [[jaccardPairsWords]] and the q27 gate. */
  private def jaccardRepPairsWords(uniques: DataFrame, n: Int,
                                   threshold: Double): DataFrame = {
    val sh = Pin(wordShingleHashes(uniques, "doc", "txt", n)
      .distinct()) // set semantics; feeds sizes AND the join
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** q27's SELF-GATING form: ONE exact-collapse feeds both the banded
    * MinHash pipeline and the exact word-shingle Jaccard plane; the banded
    * retrieval is recall/precision-gated against the exact AT REPRESENTATIVE
    * LEVEL — the unique-content plane, bounded regardless of duplication
    * depth (gating the EXPANDED pair sets would cache O(dup²)-sized frames:
    * the 100× smoke OOM'd exactly there before this form existed). Rep-level
    * equivalence is the right gate plane: both sides expand through the SAME
    * deterministic members mapping, so rep-level recall/precision carry to
    * the expanded sets. Returns the expanded exact pair set (the oracle's
    * plane) with the verdict booleans riding every row. */
  def minHashGatedExactPairs(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, k: Int = 32, bands: Int = 8,
                             threshold: Double = 0.5,
                             recallFloor: Double = 0.75): DataFrame = {
    val (members, uniques) = exactCollapse(docs, idCol, textCol)
    val exactRep = Pin(jaccardRepPairsWords(uniques, n, threshold))
    val bandedRep = minHashRepPairs(uniques, n, k, bands, threshold,
      wordShingles = true)
    val v = graft.qc.RecallGate.check(exactRep, bandedRep,
      Seq("doc_a", "doc_b"), recallFloor,
      "q27 MinHash banded near-dup (rep plane)")
    expandCollapsed(members, exactRep, "jaccard", lit(1.0))
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .withColumn("recall_ok", lit(v.recallOk))
      .withColumn("precision_ok", lit(v.precisionOk.contains(true)))
  }

  /** Byte-identical duplicate pairs (128-bit content-fingerprint equality) —
    * the oracle-computable exact pair set the SimHash gate (q28) anchors on:
    * identical texts have identical sketches, so every one of these pairs
    * MUST surface from the banded SimHash join with hamming 0. One hash-agg
    * + one fingerprint equi-join; null texts excluded (SQL text-equality
    * semantics). */
  def exactDupPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (members, _) = exactCollapse(docs, idCol, textCol)
    members.as("a")
      .join(members.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
  }

  /** Brute-force SimHash pairs — the exact twin ON THE ENGINE'S OWN SKETCH
    * PLANE that the banded path ([[simHashPairs]]) is equivalence-gated
    * against: every unique-content pair within `maxHamming`, no banding.
    * By the pigeonhole argument (4 chunks, ≤3 differing bits) the banded
    * output must equal this set EXACTLY — asserted in-query by the q28 gate
    * and in RecallSpec. O(u²) over unique representatives: a verification
    * plane, not a scale path. */
  def simHashPairsBrute(docs: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3): DataFrame = {
    val (members, uniques) = exactCollapse(docs, idCol, textCol)
    val sk = Pin(simHashSketches(uniques, "doc", "txt"))
    expandCollapsed(members, simHashRepPairsBrute(sk, maxHamming),
      "hamming", lit(0).cast("int"))
  }

  /** Exact-duplicate collapse front end shared by the near-dup pipelines:
    * identical texts (128-bit content fingerprint; null texts excluded —
    * they shingle to nothing and can never pair) group under one
    * representative (the minimum id). Returns (members, uniques):
    * members = (fp, doc, rep) for every doc; uniques = (doc, txt, fp)
    * restricted to representatives — the frame the sketching pipeline runs
    * on, making its cost a function of UNIQUE content rather than
    * duplication depth. */
  private def exactCollapse(docs: DataFrame, idCol: String,
                            textCol: String): (DataFrame, DataFrame) = {
    val keyed = docs.select(col(idCol).as("doc"), col(textCol).as("txt"))
      .filter(col("txt").isNotNull)
      .withColumn("fp", md5(col("txt").cast("binary")))
    val members = Pin(keyed.select(col("doc"), col("fp"))
      .join(keyed.groupBy(col("fp")).agg(min(col("doc")).as("rep")), "fp"))
    val uniques = keyed.join(
      members.filter(col("doc") === col("rep")).select(col("doc")), "doc")
    (members, uniques)
  }

  /** Expand representative-level near-dup pairs back to member pairs
    * (output-bound, narrow id rows): pairs WITHIN an exact group are
    * identical by definition (metric = `identical`: jaccard 1, hamming 0);
    * a rep-level pair implies the same metric for every cross pair of the
    * two groups' members (identical texts). Package-visible: [[ImageDedup]]
    * expands its identical-hash collapse through the same mapping. */
  private[ext] def expandCollapsed(members: DataFrame, repPairs: DataFrame,
                              metricCol: String,
                              identical: Column): DataFrame = {
    val within = members.as("a")
      .join(members.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        identical.as(metricCol))
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("doc").as("da")),
        col("doc_a") === col("ra"))
      .join(members.select(col("rep").as("rb"), col("doc").as("db")),
        col("doc_b") === col("rb"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col(metricCol))
    within.unionByName(cross)
  }

  /** (doc, sk) frame: 64-bit SimHash over whitespace tokens. For bit j the
    * signed vote is 2·|{tokens with bit j set}| − |tokens|; bit j of the
    * sketch is 1 iff the vote is positive.
    *
    * Implementation: explode tokens → one hash-aggregate computing all 64
    * bit-counts as conditional sums (whole-stage codegen, map-side partial
    * aggregation — the shuffle carries 65 longs per document), then assemble
    * the sketch from the counts. Array higher-order functions would keep it
    * shuffle-free but run interpreted per element — measurably slower. */
  def simHashSketches(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc"),
        explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .select(col("doc"), xxhash64(col("t")).as("h"))
    val counts = tok.groupBy(col("doc")).agg(
      count(lit(1)).as("n"),
      (0 until 64).map(j =>
        sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"c$j")): _*)
    val sk = (0 until 64).map { j =>
      when(col(s"c$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _) // disjoint bit values: sum == bitwise OR
    counts.select(col("doc"), sk.as("sk"))
  }

  /** Connected components of a near-dup pair graph — the step that turns
    * PAIRS into DEDUP DECISIONS: transitively-linked documents form one
    * cluster, labeled by the cluster's minimum id (deterministic canonical
    * representative).
    *
    * Iterative min-label propagation: each round every node takes the
    * minimum label among itself and its neighbors — one equi-join + one
    * hash-agg per round, converging in O(graph diameter) rounds. Near-dup
    * graphs are dense blobs of mutual duplicates (diameter ≲ 3), so this
    * converges in a handful of shuffles; if an adversarially long chain
    * exhausts `maxIters`, the computation AUTO-DISPATCHES to
    * [[starContraction]] (large-star/small-star, O(log² n) rounds
    * regardless of diameter) instead of iterating on. Each round is
    * pinned ([[graft.Pin]]): the lineage would otherwise grow one join per
    * round.
    *
    * Returns (node, cluster_id); nodes not present in `pairs` are absent
    * (singletons — callers coalesce to self, see [[dedupByPairs]]). */
  def clusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
               maxIters: Int = 20): DataFrame = {
    val fwd = pairs.select(col(aCol).as("x"), col(bCol).as("y"))
    val edges = Pin(fwd.union(fwd.select(col("y").as("x"), col("x").as("y"))))
    var labels = Pin(edges.select(col("x").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("node").as("y"), col("label").as("nl")), "y")
        .groupBy(col("x").as("node"))
        .agg(min(col("nl")).as("cand"))
      // prev label rides along so the convergence probe is a filter over
      // the pinned frame, not another join
      val updated = Pin(labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("cand"), col("label"))).as("label"),
          col("label").as("prev")))
      // existence probe, not a full count; job-free on a driver-local pin
      converged =
        Pin.count(updated.filter(col("label") =!= col("prev")).limit(1)) == 0
      labels = updated.select(col("node"), col("label"))
      i += 1
    }
    if (converged) labels.select(col("node"), col("label").as("cluster_id"))
    else starContraction(pairs, aCol, bCol) // diameter > maxIters: switch
  }

  /** Connected components by alternating large-star / small-star contraction
    * (the MapReduce-era CC algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — public literature):
    * converges in O(log² n) rounds REGARDLESS of graph diameter, so it is
    * the fallback [[clusters]] dispatches to when min-label propagation
    * (O(diameter) rounds) hits its round budget on a long-chain graph.
    *
    * Each half-round is one hash-agg (per-node min neighbor) + one equi-join
    * — no per-node neighbor lists are ever materialized, so a high-degree
    * hub costs the same as any other node at 100 TB:
    *  - large-star: every neighbor v > u re-attaches to m = min(N(u) ∪ u)
    *  - small-star: every neighbor v < u (and u itself) attaches to
    *    m = min of u's smaller neighborhood
    * The fixed point is a forest of stars whose centers are the component
    * minima. Edges are kept canonical (hi → lo) between rounds; each round
    * is pinned to cut lineage.
    *
    * Returns (node, cluster_id) for every node in `pairs`, cluster labeled
    * by its minimum id — the same contract as [[clusters]]. */
  def starContraction(pairs: DataFrame, aCol: String = "doc_a",
                      bCol: String = "doc_b", maxRounds: Int = 40): DataFrame = {
    val fwd = pairs.select(col(aCol).as("x"), col(bCol).as("y"))
    // canonical hi → lo, self-loops dropped
    var canon = Pin(fwd.union(fwd.select(col("y").as("x"), col("x").as("y")))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("x"),
        least(col("x"), col("y")).as("y"))
      .distinct())
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      val e = canon.union(canon.select(col("y").as("x"), col("x").as("y")))
      // large-star: m(u) = min(N(u) ∪ u); re-attach strictly-larger nbrs
      val m = e.groupBy(col("x").as("u")).agg(min(col("y")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = e.filter(col("y") > col("x"))
        .join(m, col("x") === col("u"))
        .select(col("y").as("x"), col("m").as("y"))
        .filter(col("x") =!= col("y")).distinct()
      // small-star over the large-star output: m = min of the ≤-neighborhood
      val e2 = ls.union(ls.select(col("y").as("x"), col("x").as("y")))
      val sm = e2.filter(col("y") < col("x"))
      val ms = sm.groupBy(col("x").as("u")).agg(min(col("y")).as("m"))
      val next = Pin(sm.join(ms, col("x") === col("u"))
        .select(col("y").as("x"), col("m").as("y"))
        .filter(col("x") =!= col("y"))
        .select(greatest(col("x"), col("y")).as("x"),
          least(col("x"), col("y")).as("y"))
        .union(ms.select(col("u").as("x"), col("m").as("y"))) // u > m always
        .distinct())
      // fixed point: the canonical edge set stopped changing (star forest)
      converged = Pin.count(next) == Pin.count(canon) &&
        next.except(canon).limit(1).count() == 0
      canon = next
      i += 1
    }
    require(converged,
      s"starContraction: no fixed point in $maxRounds rounds (theory bound " +
        "is O(log^2 n) — raise maxRounds for astronomically large graphs)")
    // stars: every edge is (node, componentMin); centers label themselves
    val labeled = canon.select(col("x").as("node"), col("y").as("cluster_id"))
      .union(canon.select(col("y").as("node"), col("y").as("cluster_id")))
      .distinct()
    // self-loop-only nodes were dropped with the x =!= y filter, but
    // [[clusters]]' min-propagation labels them (node -> node); restore the
    // same contract so auto-dispatch never changes the returned node set
    val allNodes = fwd.select(col("x").as("node"))
      .union(fwd.select(col("y").as("node"))).distinct()
    allNodes.join(labeled, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("cluster_id"), col("node")).as("cluster_id"))
  }

  /** Cluster-aware dedup verdict per document: every doc gets its cluster id
    * (itself when unpaired) and whether it is the cluster's canonical keeper
    * (the minimum id — same keep-first rule as [[exactGroups]]). */
  def dedupByPairs(docs: DataFrame, pairs: DataFrame, idCol: String,
                   aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val cl = clusters(pairs, aCol, bCol)
      .withColumnRenamed("node", idCol)
    docs.select(col(idCol))
      .join(cl, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
  }

  /** Cross-document repeated-passage stats — the passage-level dedup signal
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better", public literature): a document that shares long verbatim token
    * windows with OTHER documents carries boilerplate/templated content that
    * exact- and near-dup (whole-document) dedup both miss.
    *
    * Strided rolling windows of `window` tokens (stride bounds the blowup to
    * ~|tokens|/stride rows per doc) are fingerprinted with md5 of the joined
    * token slice — deterministic, so the driver's DuckDB oracle reproduces
    * the exact hashes; a window is "shared" when its fingerprint occurs in
    * more than one distinct document. Per doc: window count, shared-window
    * count, shared ratio.
    *
    * Scale: one explode (linear in corpus tokens / stride), one hash-agg on
    * the window fingerprint, one equi-join back — no pairwise work anywhere,
    * so a passage repeated across d documents costs d rows, not d². */
  def repeatedPassageStats(docs: DataFrame, idCol: String, textCol: String,
                           window: Int = 10, stride: Int = 5): DataFrame = {
    val wins = Pin(docs
      .select(col(idCol).as("doc"), split(col(textCol), " ").as("w"))
      .select(col("doc"),
        explode(sequence(lit(1),
          greatest(size(col("w")) - (window - 1), lit(1)), lit(stride)))
          .as("i"),
        col("w"))
      .select(col("doc"),
        md5(concat_ws(" ", slice(col("w"), col("i"), lit(window))).cast("binary"))
          .as("wkey"))) // feeds both the share-count agg and the re-join
    val shared = wins.groupBy(col("wkey"))
      .agg(countDistinct(col("doc")).as("ndocs"))
      .filter(col("ndocs") > 1)
    wins.join(shared, Seq("wkey"), "left")
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_windows"),
        count(col("ndocs")).as("n_shared"))
      .select(col(idCol), col("n_windows"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_windows"), 6)
          .as("shared_ratio"))
  }

  /** SimHash near-dup pairs: band the 64-bit sketch into four 16-bit chunks
    * (a pair within Hamming distance 3 shares ≥1 exact chunk — pigeonhole),
    * join on (chunk index, chunk value), verify `bit_count(xor) <= maxHamming`.
    * Runs behind the same exact-duplicate collapse as [[minHashDedupPairs]]:
    * identical docs share all four chunks, so a d-deep duplicate group would
    * otherwise put O(d²) rows through every chunk bucket. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val (members, uniques) = exactCollapse(docs, idCol, textCol)
    // one sketch pass feeds both self-join sides (see minHashDedupPairs)
    val sk = Pin(simHashSketches(uniques, "doc", "txt"))
    expandCollapsed(members, simHashRepPairs(sk, maxHamming),
      "hamming", lit(0).cast("int"))
  }

  /** Banded hamming pairs over an arbitrary 64-bit sketch plane (doc, sk) —
    * the SimHash pairing machinery decoupled from the text sketch, so any
    * 64-bit perceptual/content hash (e.g. [[ImageDedup]]'s dHash) reuses
    * the same pigeonhole-banded join + exact-hamming verify. The pigeonhole
    * guarantee (4 chunks of 16 bits catch every pair within hamming 3)
    * holds for any sketch source. */
  def hammingPairsBanded(sk: DataFrame, maxHamming: Int = 3): DataFrame =
    simHashRepPairs(sk, maxHamming)

  /** All-pairs hamming twin of [[hammingPairsBanded]] — the O(n²)
    * verification plane, not a scale path. */
  def hammingPairsBrute(sk: DataFrame, maxHamming: Int = 3): DataFrame =
    simHashRepPairsBrute(sk, maxHamming)

  /** Representative-level banded SimHash pairs over a (doc, sk) sketch
    * frame — [[simHashPairs]] minus collapse/expansion, shared with the
    * q28 gate. */
  private def simHashRepPairs(sk: DataFrame, maxHamming: Int): DataFrame = {
    val chunks = array((0 until 4).map { b =>
      shiftright(col("sk"), b * 16).bitwiseAND(lit(0xFFFFL))
    }: _*)
    val banded = sk.select(col("doc"), col("sk"),
      posexplode(chunks).as(Seq("chunk", "v")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.sk").bitwiseXOR(col("b.sk"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Representative-level brute-force SimHash pairs — all unique pairs
    * within `maxHamming`, no banding. */
  private def simHashRepPairsBrute(sk: DataFrame, maxHamming: Int): DataFrame =
    sk.as("a")
      .join(sk.as("b"), col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.sk").bitwiseXOR(col("b.sk"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** q28's SELF-GATING form: one exact-collapse + one sketch pass feed
    * (a) the rep-level PIGEONHOLE gate — the banded pair set must EXACTLY
    * equal the brute-force all-pairs hamming≤max set on the unique-content
    * plane (bounded at any duplication depth; both sides expand through the
    * same members mapping, so rep-level equivalence carries to the expanded
    * sets), and (b) a SAMPLED end-to-end containment gate — every
    * byte-identical pair with doc_a ≡ 0 (mod `sampleMod`) must appear in
    * the fully EXPANDED banded output at hamming 0 (the modulo filter
    * pushes below the expansion joins, so the probe stays bounded while
    * still exercising the real expansion path). Returns the exact-duplicate
    * pair set (the oracle's text-equality plane) with both verdicts riding
    * every row. */
  def simHashGatedExactDupPairs(docs: DataFrame, idCol: String, textCol: String,
                                maxHamming: Int = 3,
                                sampleMod: Int = 101): DataFrame = {
    val (members, uniques) = exactCollapse(docs, idCol, textCol)
    val sk = Pin(simHashSketches(uniques, "doc", "txt"))
    val bandedRep = simHashRepPairs(sk, maxHamming)
    val bruteRep = simHashRepPairsBrute(sk, maxHamming)
    val pigeonholeOk = graft.qc.RecallGate.equivalent(bandedRep, bruteRep,
      Seq("doc_a", "doc_b", "hamming"),
      "q28 SimHash banded vs brute force (rep plane)")
    // feeds the sampled probe AND the emission
    val exact = Pin(members.as("a")
      .join(members.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b")))
    val expandedSlice =
      expandCollapsed(members, bandedRep, "hamming", lit(0).cast("int"))
        .filter(col("doc_a") % sampleMod === 0 && col("hamming") === 0)
    val exactSlice = exact.filter(col("doc_a") % sampleMod === 0)
    val v = graft.qc.RecallGate.check(exactSlice, expandedSlice,
      Seq("doc_a", "doc_b"), recallFloor = 1.0,
      what = "q28 sampled exact-dup retrieval (expanded plane)",
      requireExactPrecision = false)
    exact.select(col("doc_a"), col("doc_b"), lit(0).as("hamming"))
      .withColumn("recall_ok", lit(v.recallOk))
      .withColumn("pigeonhole_ok", lit(pigeonholeOk))
  }

  /** PREFIX-FILTERED set-similarity join (the AllPairs/PPJoin family,
    * Bayardo et al. WWW'07 — public): EXACT word-set Jaccard ≥ t pairs
    * without the all-pairs product OR the full inverted index. Each
    * document's distinct tokens are ordered by ascending GLOBAL document
    * frequency (rarest first, lexicographic tiebreak) and only its
    * PREFIX — the first |S| − ⌈t·|S|⌉ + 1 tokens — enters the candidate
    * join: two sets with Jaccard ≥ t provably share a prefix token (if
    * the prefixes were disjoint, the overlap is confined to the suffixes
    * and falls below the required ⌈t·|S|⌉). Candidates verify by exact
    * intersection. Rarest-first ordering makes the candidate buckets the
    * SMALLEST ones — at 100 TB the join volume tracks rare-token
    * co-occurrence, not corpus². Contrast MinHash (probabilistic recall)
    * — this is exact, the right tool when t is high and misses are
    * unacceptable. Returns (doc_a < doc_b, jaccard). */
  def prefixJaccardPairsWords(docs: DataFrame, idCol: String,
                              textCol: String, threshold: Double): DataFrame = {
    val sets = Pin(docs.select(col(idCol).as("id"),
      array_distinct(split(col(textCol), " ")).as("s")))
    val toks = sets.select(col("id"), explode(col("s")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df").asc, col("tok").asc)
    val prefix = toks.join(freq, "tok")
      .withColumn("rn", row_number().over(w))
      .withColumn("sz",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("id"))))
      .filter(col("rn") <=
        col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("tok"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    cand.join(sets.select(col("id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("s").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter / (size(col("sa")) + size(col("sb")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
