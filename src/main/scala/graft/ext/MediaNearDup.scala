package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pin
import graft.qc.RecallGate

/** Shared machinery of the perceptual-hash media dedup family
  * ([[ImageDedup]] for still images, [[AudioDedup]] for PCM audio): a
  * 64-bit perceptual hash per payload, identical-hash collapse, pigeonhole-
  * banded hamming pairing over unique content, member expansion, and the
  * self-gating oracle fixture that renders the documents table into
  * content-keyed media. The modality plugs in as two functions — a
  * renderer (text → valid container bytes) and a hasher (bytes → 64-bit
  * perceptual hash) — everything downstream of the hash plane is
  * modality-blind, which is the point: at 100 TB the pairing cost profile
  * is the measured SimHash/banding behavior regardless of what decoded.
  */
private[ext] object MediaNearDup {

  /** (doc, sk) perceptual-hash plane of a media corpus: executor-side
    * decode+hash in one flatMap — the exact input shape
    * [[Dedup.hammingPairsBanded]] pairs on. Undecodable payloads emit
    * nothing (a crawl's poison rows must skip, not kill the stage). */
  def hashes(media: Dataset[MediaRecord],
             hash: Array[Byte] => Option[Long]): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      try hash(r.payload).map(h => (r.media_id, h))
      catch { case scala.util.control.NonFatal(_) => None }
    }.toDF("doc", "sk")
  }

  /** Collapse identical hashes to one representative (minimum doc id) —
    * the dedup family's exact-collapse applied on the HASH plane: a crawl's
    * d-deep byte-identical media groups share every chunk bucket, so
    * banding uncollapsed would put O(d²) rows through each bucket (the
    * q27 OOM shape). Returns (members, uniques). */
  def hashCollapse(sk: DataFrame): (DataFrame, DataFrame) = {
    val members = Pin(sk.select(col("doc"), col("sk").as("fp"))
      .join(sk.groupBy(col("sk").as("fp")).agg(min(col("doc")).as("rep")),
        "fp"))
    val uniques = members.filter(col("doc") === col("rep"))
      .select(col("doc"), col("fp").as("sk"))
    (members, uniques)
  }

  /** Near-dup pairs of a media corpus: hash plane → identical-hash
    * collapse → pigeonhole-banded hamming join over unique hashes only →
    * member expansion. Work is proportional to UNIQUE content, bounded at
    * any duplication depth. */
  def nearDupPairs(media: Dataset[MediaRecord],
                   hash: Array[Byte] => Option[Long],
                   maxHamming: Int): DataFrame = {
    val (members, uniques) = hashCollapse(hashes(media, hash))
    Dedup.expandCollapsed(members,
      Dedup.hammingPairsBanded(uniques, maxHamming),
      "hamming", lit(0).cast("int"))
  }

  // --- Deterministic text-derived corpora (oracle fixtures) ---------------

  /** SplitMix64 — the standard public-domain 64-bit mix (Steele et al.,
    * "Fast splittable pseudorandom number generators", OOPSLA'14). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def textSeed(text: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** The documents table rendered into content-keyed media; rows with id ≥
    * `jitterIdFloor` render with the modality's one-bit jitter — genuine
    * near-duplicates, not byte dups. Null texts have no payload. */
  def textCorpus(spark: SparkSession, docs: DataFrame,
                 render: (String, Boolean) => Array[Byte],
                 jitterIdFloor: Long): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .as[(Long, String)]
      .map { case (id, text) => MediaRecord(id, render(text, id >= jitterIdFloor)) }
  }

  /** The SELF-GATING driver-query form shared by q105 (image) and q125
    * (audio) — see `ImageDedup.gatedTextDupImagePairs` for the full gate
    * rationale (pigeonhole slice equivalence, sampled end-to-end
    * recall/precision probe, rep-level gating bounded by unique content).
    * Emits the text-identity pair set (oracle-reproducible SQL) with the
    * three verdict booleans riding every row. */
  def gatedTextDupPairs(spark: SparkSession, docs: DataFrame,
                        render: (String, Boolean) => Array[Byte],
                        hash: Array[Byte] => Option[Long],
                        what: String,
                        copyMod: Int, copyIdOffset: Long,
                        maxHamming: Int,
                        sampleMod: Int,
                        gateSampleMod: Int): DataFrame = {
    require(copyIdOffset % gateSampleMod == 0,
      s"gateSampleMod=$gateSampleMod must divide copyIdOffset=$copyIdOffset " +
        "or the pigeonhole slice loses every base↔copy near-dup pair")
    val base = docs.select(col("doc_id"), col("text"))
    val aug = base.unionByName(
      base.filter(col("doc_id") % copyMod === 0)
        .select((col("doc_id") + copyIdOffset).as("doc_id"), col("text")))
    val media = textCorpus(spark, aug, render, jitterIdFloor = copyIdOffset)
    val (members, uniques0) = hashCollapse(hashes(media, hash))
    val uniques = Pin(uniques0)
    val repBanded = Dedup.hammingPairsBanded(uniques, maxHamming)
    val gateUniques = uniques.filter(col("doc") % gateSampleMod === 0)
    val pigeonholeOk = RecallGate.equivalent(
      Dedup.hammingPairsBanded(gateUniques, maxHamming),
      Dedup.hammingPairsBrute(gateUniques, maxHamming),
      Seq("doc_a", "doc_b", "hamming"),
      s"$what banded vs brute force (sampled rep hash plane)")
    val expandedSlice = Dedup.expandCollapsed(members, repBanded,
        "hamming", lit(0).cast("int"))
      .filter(col("doc_a") % sampleMod === 0)
    val txt = aug.filter(col("text").isNotNull)
    val exact = Pin(txt.as("a")
      .join(txt.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")))
    val exactSlice = exact.filter(col("doc_a") % sampleMod === 0)
    val v = RecallGate.check(exactSlice, expandedSlice, Seq("doc_a", "doc_b"),
      recallFloor = 1.0,
      what = s"$what sampled retrieval (expanded plane)",
      requireExactPrecision = true)
    exact
      .withColumn("recall_ok", lit(v.recallOk))
      .withColumn("precision_ok", lit(v.precisionOk.getOrElse(false)))
      .withColumn("pigeonhole_ok", lit(pigeonholeOk))
  }
}
