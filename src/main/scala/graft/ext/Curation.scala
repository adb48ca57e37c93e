package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftSqlBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pin
import graft.functions.{MisraGriesAggregator, NormalizeText}

/** Training-data curation operators (north-star extension, SURVEY §2.11 [N]):
  * PII redaction, deterministic dataset splits, repetition/boilerplate stats,
  * context-window sequence packing, and benchmark-contamination checks.
  *
  * Everything here is shuffle-minimal and codegen-friendly: redaction and
  * split assignment are pure column expressions (zero data movement at
  * 100 TB); repetition and contamination shuffle once on the document id /
  * shingle hash with map-side partial aggregation; packing uses a two-phase
  * distributed prefix sum instead of the naive single-partition global
  * window.
  *
  * Regex parity note: the patterns below restrict themselves to the syntax
  * subset shared by Java's regex (Spark) and RE2 (DuckDB oracle) — character
  * classes, bounded repetition, alternation-free word boundaries. No
  * lookaround, no backreferences.
  */
object Curation {

  /** PII patterns, ordered so earlier redactions cannot create or destroy
    * later matches (emails contain no spaces; SSN is disjoint from the
    * 3-3-4 phone shape because of its 2-digit middle group). */
  val EmailRe: String = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val SsnRe: String = """\b\d{3}-\d{2}-\d{4}\b"""
  val PhoneRe: String = """\b\d{3}[-.]\d{3}[-.]\d{4}\b"""
  val Ipv4Re: String = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  /** Scrub emails / SSNs / phone numbers / IPv4 addresses, replacing each
    * with a typed placeholder token. Chained `regexp_replace` — one codegen
    * expression, no shuffle, idempotent (placeholders match no pattern). */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailRe, "<EMAIL>")
    val s = regexp_replace(e, SsnRe, "<SSN>")
    val p = regexp_replace(s, PhoneRe, "<PHONE>")
    regexp_replace(p, Ipv4Re, "<IP>")
  }

  /** Count of matches of `re` in `text` (detection side of redaction). */
  def piiCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast("long")

  /** Deterministic train/val/test assignment from a stable id: bucket by the
    * first two hex chars of md5(id), split at 'cc' (≈79.7% train) and 'e6'
    * (≈10.2% val, ≈10.2% test). Pure expression — the split is a property of
    * the ROW, not of a sampling pass, so it is reproducible under
    * repartitioning, retries, and incremental appends (a re-run at 100 TB
    * assigns every old row to the same split; `rand()`-based sampling does
    * not). Lexicographic hex comparison keeps the rule portable to any
    * SQL engine with md5. */
  def splitAssign(id: Column): Column = {
    val p = substring(md5(id.cast("string")), 1, 2)
    when(p < "cc", "train").when(p < "e6", "val").otherwise("test")
  }

  /** Efraimidis–Spirakis (A-ES) WEIGHTED sampling-without-replacement key:
    * a row with weight w gets key u^(1/w) for u ~ Uniform(0,1), and the
    * top-k keys are a weighted sample without replacement of size k — the
    * one-pass, merge-friendly form of weighted reservoir sampling
    * (Efraimidis & Spirakis 2006). We keep the ORDER-EQUIVALENT log form
    * ln(u)/w (monotone in u^(1/w), numerically far better for the tiny u
    * and large w a corpus produces), with u derived from the salted-md5
    * row property the other sampling ops use: u = (h+0.5)/2^32 for h the
    * first 8 hex chars of md5(id:salt) — strictly inside (0,1), so ln
    * never sees 0, and the key is a property of the ROW: stable under
    * repartitioning, retries, and appends, and mergeable across shards
    * (the global top-k of per-shard top-ks is the sample — at 100 TB this
    * is one TakeOrdered, never a global sort).
    *
    * The key rounds to 12 decimals so cross-engine last-ulp ln/division
    * differences cannot reorder the sample; callers break ties on id. */
  def weightedSampleKey(id: Column, weight: Column, salt: String): Column = {
    val h = conv(substring(md5(concat(id.cast("string"), lit(":" + salt))),
      1, 8), 16, 10).cast("double")
    val u = (h + lit(0.5)) / lit(4294967296.0)
    round(log(u) / weight, 12)
  }

  /** Deterministic hash sampling: keep a row iff the first eight hex chars
    * of md5(id:salt) fall below `fraction`·16⁸ (granularity 2⁻³², so even
    * a 1e-8 sample of a 100 TB corpus keeps rows instead of silently
    * rounding to zero). Like [[splitAssign]], the keep decision is a
    * property of the row — stable under repartitioning, retries, and
    * appends, and different salts give independent samples. Combine with a
    * stratum CASE for stratified rates (see q77). */
  def hashSampleExpr(id: Column, fraction: Double, salt: String): Column = {
    val threshold = (fraction * 4294967296.0).toLong
    if (fraction >= 1.0) lit(true)
    else if (threshold <= 0L) lit(false)
    else substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 8) <
      f"$threshold%08x"
  }

  /** Temperature-weighted (α = 1/2) multi-group sampling thresholds — the
    * multilingual/multi-source mixing rule (sample group g with weight
    * ∝ n_g^α, the XLM-R/mT5 α-sampling shape that up-weights low-resource
    * groups relative to proportional sampling). The per-group keep rate is
    *   rate_g = (targetNum/targetDen · Σn) · w_g / n_g,  w_g = ⌊√n_g⌋ / Σ⌊√n_t⌋
    * computed ENTIRELY in integer arithmetic (⌊√n⌋ via correctly-rounded
    * IEEE sqrt — exact for n < 2⁵²; BigInt products; one integer division
    * into 2⁻³² threshold units), so an ANSI oracle with HUGEINT division
    * reproduces every threshold bit-for-bit — no float summation whose
    * association order could flip a boundary row. Group sizes are one
    * small aggregate (group-count-bounded driver work, like every planner
    * read here); the keep decision itself is [[hashSampleExpr]]'s
    * row-property hash — stable under repartition/retry/append. */
  def temperatureMixThresholds(df: DataFrame, groupCol: String,
                               targetNum: Long, targetDen: Long): Map[String, BigInt] = {
    val Unit32 = BigInt(4294967296L)
    val sizes = df.groupBy(col(groupCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(sizes.nonEmpty, "temperature mix over an empty frame")
    val sq = sizes.map { case (g, n) => g -> BigInt(math.sqrt(n.toDouble).toLong) }
    val sumSq = sq.values.sum
    val target = BigInt(sizes.values.sum) * targetNum / targetDen
    sizes.map { case (g, n) =>
      (g, (target * sq(g) * Unit32 / (sumSq * BigInt(n))).min(Unit32))
    }
  }

  /** The keep predicate for [[temperatureMixThresholds]]: a CASE over the
    * (few) groups comparing the row's salted hash against the group's
    * exact threshold. Unknown groups (appeared after threshold planning)
    * are dropped — re-plan to admit them. */
  def temperatureMixKeep(group: Column, id: Column,
                         thresholds: Map[String, BigInt],
                         salt: String): Column = {
    val hex = substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 8)
    thresholds.toSeq.sortBy(_._1).foldLeft(lit(false)) {
      case (acc, (g, t)) =>
        val cond =
          if (t >= BigInt(4294967296L)) lit(true)
          else if (t <= 0) lit(false)
          else hex < f"${t.toLong}%08x"
        when(group === g, cond).otherwise(acc)
    }
  }

  /** Near-dup-safe train/val/test assignment: every document gets the split
    * of its near-dup CLUSTER representative (min id via
    * [[Dedup.dedupByPairs]]), so two near-duplicates can never straddle
    * train and test — the leakage mode a per-document [[splitAssign]]
    * cannot prevent (a paraphrased test answer sitting in train). Documents
    * with no near-dup are their own cluster and split exactly as
    * [[splitAssign]] would. Cost on top of the pairs the dedup pipeline
    * already computes: the label-propagation rounds of
    * [[Dedup.clusters]] (O(graph diameter) joins over the PAIR graph, not
    * the corpus) plus one hash per row. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
                       aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    Dedup.dedupByPairs(docs, pairs, idCol, aCol, bCol)
      .select(col(idCol), col("cluster_id"),
        splitAssign(col("cluster_id")).as("split"))

  /** EXACT heavy hitters in two bounded passes — the keys (tokens, domains,
    * users) with share ≥ `minShare` of all non-null rows, with exact counts:
    *
    *   1. sketch pass: one scan through a fixed-k [[MisraGriesAggregator]]
    *      (map-side partials merge up the aggregation tree; only k-counter
    *      states move). `minShare > 1/k` (enforced) makes the candidate set
    *      a guaranteed SUPERSET of the qualifying keys — MG cannot evict a
    *      key with count > n/k;
    *   2. verify pass: re-scan, broadcast-semi-join against the ≤ k−1
    *      candidates, exact-count the survivors, keep those ≥
    *      ceil(minShare·n).
    *
    * Neither pass shuffles the corpus: pass 1 moves O(k) state per
    * partition, pass 2 moves only rows whose key is a candidate. The
    * alternative — `groupBy(key).count()` then filter — shuffles one row
    * per DISTINCT key (at 100 TB of tokens, billions of rows for a
    * handful of answers). The one driver materialization is the ≤ k−1
    * candidate sketch, bounded by construction. */
  def heavyHitters(rows: DataFrame, keyCol: String, minShare: Double,
                   k: Int = 1024): DataFrame = {
    require(minShare > 0.0 && minShare <= 1.0, s"minShare out of (0,1]: $minShare")
    require(minShare * k > 1.0,
      s"minShare=$minShare needs k > ${1.0 / minShare} counters for the " +
        s"sketch superset guarantee, got k=$k")
    val spark = rows.sparkSession
    val keyed = rows.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as(keyCol))
    val sketch = keyed.as[String](Encoders.STRING)
      .select(new MisraGriesAggregator(k).toColumn)
      .head() // one row, ≤ k−1 keys — bounded driver materialization
    val minCount = math.ceil(minShare * sketch.n).toLong
    val candidates = spark.createDataset(sketch.keys.toSeq)(Encoders.STRING)
      .toDF(keyCol)
    keyed
      .join(broadcast(candidates), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** [[graft.functions.NormalizeText]] as a column: NFC + control-strip +
    * whitespace-collapse + trim, one codegen walk, no shuffle. */
  def normalizeText(text: Column): Column =
    GraftSqlBridge.column(NormalizeText(GraftSqlBridge.expression(text)))

  /** Host part of an http(s) URL ('' if no match) — RE2-safe regex so an
    * ANSI oracle extracts identically. */
  val UrlHostRe: String = """https?://([A-Za-z0-9.-]+)"""

  def domainOf(url: Column): Column = regexp_extract(url, UrlHostRe, 1)

  /** Drop rows whose URL's domain appears in `blocked(domainCol)` — the
    * crawl-blocklist filter. The blocklist is tiny by nature: broadcast
    * anti-join, corpus side never shuffles. */
  def filterBlockedDomains(df: DataFrame, urlCol: String,
                           blocked: DataFrame, domainCol: String): DataFrame = {
    val b = blocked.select(col(domainCol).as("__blocked_domain")).distinct()
    df.join(broadcast(b), domainOf(col(urlCol)) === col("__blocked_domain"),
      "left_anti")
  }

  /** Cap each key's contribution at `k` rows (per-domain/source quota — the
    * standard guard against one crawl domain dominating a training mix).
    * Deterministic for a unique `order` column. One shuffle on the key; the
    * per-key sort is bounded by the group, not the corpus. */
  def capPerKey(df: DataFrame, keyCol: String, orderCol: String, k: Int): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col(orderCol))))
      .filter(col("__rn") <= k)
      .drop("__rn")

  /** Per-document repetition statistics: total tokens, repeated-token ratio
    * (1 − distinct/total), and the frequency share of the single most common
    * token (boilerplate signal — crawl boilerplate repeats nav/footer tokens).
    * Two hash aggregations on (id, token) then (id), both with map-side
    * partials; shuffle volume is one row per distinct (doc, token). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum("c").as("n"), count(lit(1)).as("u"), max("c").as("m"))
      .select(col(idCol),
        col("n").cast("long").as("n_tokens"),
        round(lit(1.0) - col("u").cast("double") / col("n").cast("double"), 6)
          .as("rep_ratio"),
        round(col("m").cast("double") / col("n").cast("double"), 6)
          .as("top_tok_ratio"))

  /** Pack documents (in id order) into fixed token-budget context windows:
    * bin k holds the docs whose EXCLUSIVE running token count lands in
    * [k·maxTokens, (k+1)·maxTokens). The global running sum is computed as a
    * two-phase distributed prefix sum — per-bucket inner prefix (parallel
    * window partitioned by `floor(id / bucketSize)`) plus a cumulative
    * bucket-offset table (one window over ONE ROW PER BUCKET, broadcast back)
    * — never as a single-partition window over the corpus, which at 100 TB
    * would funnel every row through one task. The offset window touches
    * |corpus|/bucketSize rows (pick bucketSize so that stays ≤ ~10⁶).
    * Matches `sum() OVER (ORDER BY id ROWS UNBOUNDED PRECEDING TO 1
    * PRECEDING)` exactly. */
  def packSequences(docs: DataFrame, idCol: String, nTokens: Column,
                    maxTokens: Long, bucketSize: Long = 1L << 20): DataFrame = {
    // (id, n, bucket) is consumed by two subplans (bucket totals + the
    // inner-prefix join); Catalyst has no common-subplan elimination, so
    // without a checkpoint the full scan + tokenize runs twice. The frame
    // is three longs per document — negligible next to the corpus.
    val d = Pin(docs.select(col(idCol).as("id"), nTokens.cast("long").as("n"))
      .withColumn("bucket", floor(col("id") / lit(bucketSize.toDouble)).cast("long")))
    val offsets = d.groupBy("bucket").agg(sum("n").as("btot"))
      .select(col("bucket"),
        coalesce(sum(col("btot")).over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("boff"))
    val inner = Window.partitionBy("bucket").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.join(broadcast(offsets), Seq("bucket"))
      .select(col("id").as(idCol), col("n").as("n_tokens"),
        floor((col("boff") + coalesce(sum(col("n")).over(inner), lit(0L))) /
          lit(maxTokens.toDouble)).cast("long").as("bin_id"))
  }

  /** Split documents into overlapping token-window chunks (stride <
    * chunkTokens ⇒ overlap) — the standard pre-training/RAG chunking shape.
    * One generate per row, scalar slice/concat in codegen, no shuffle at
    * all: chunking is embarrassingly parallel and stays that way at 100 TB.
    * The final (short) tail window is emitted like any other chunk. */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, stride: Int): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol), col("w"),
        explode(sequence(lit(1), size(col("w")), lit(stride))).as("st"))
      .select(col(idCol),
        floor((col("st") - 1) / lit(stride.toDouble)).cast("long").as("chunk_idx"),
        concat_ws(" ", slice(col("w"), col("st"), lit(chunkTokens))).as("chunk_text"),
        least(size(col("w")) - col("st") + 1, lit(chunkTokens)).cast("long")
          .as("n_tokens"))

  /** Distinct md5 hashes of word `n`-gram shingles: (id, h). Documents with
    * fewer than `n` tokens emit nothing. Scalar slice/concat/md5 stay in
    * whole-stage codegen; `distinct` is a hash aggregate. */
  def wordShingleHashes(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    rawShingleHashes(docs, idCol, textCol, n).distinct()

  /** As [[wordShingleHashes]] but WITHOUT the distinct — callers that filter
    * the stream down first (e.g. a broadcast contamination join) dedup after
    * the filter, when rows are few, instead of shuffling every corpus
    * shingle for a distinct up front. */
  private def rawShingleHashes(docs: DataFrame, idCol: String, textCol: String,
                               n: Int): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col(idCol), col("w"),
        explode(sequence(lit(1), size(col("w")) - (n - 1))).as("i"))
      .select(col(idCol),
        md5(concat_ws(" ", slice(col("w"), col("i"), lit(n)))).as("h"))

  /** Benchmark-contamination check: training docs that share at least one
    * word `n`-gram with any document in `bench` — the standard eval-leakage
    * guard before training. Returns (id, n_shared) with the count of distinct
    * shared shingles. The benchmark side is tiny relative to the corpus, so
    * its hash set is broadcast: the corpus-side scan joins against it with NO
    * shuffle of the 100 TB side (plan: BroadcastHashJoin on h), then
    * aggregates per doc. */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    contaminationAgainstHashes(train,
      wordShingleHashes(bench, idCol, textCol, n).select(col("h")).distinct(),
      idCol, textCol, n)

  /** The corpus-side half of [[contamination]] against a PRE-BUILT bench
    * hash set (column `h`) — the shape the STREAMING screen reuses every
    * micro-batch without re-shingling the benchmark. The corpus side stays
    * UN-deduped until after the broadcast join: the join filters
    * ~everything, so the per-doc distinct runs on the few surviving rows
    * instead of shuffling every corpus shingle hash first. */
  def contaminationAgainstHashes(train: DataFrame, benchH: DataFrame,
                                 idCol: String, textCol: String,
                                 n: Int): DataFrame =
    rawShingleHashes(train, idCol, textCol, n)
      .join(broadcast(benchH), Seq("h"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("h")).as("n_shared"))

  /** Cross-source overlap matrix — the dataset-overlap report run before
    * mixing corpora (the Pile/Dolma-style duplication audit between
    * sources): for every unordered source pair, the shingle-set Jaccard
    * plus BOTH directional containments (|A∩B|/|A| — "how much of A is
    * already inside B"), over distinct character `k`-shingles. High
    * containment of a small source in a big one means mixing adds mostly
    * duplicates; the directional numbers catch that where symmetric
    * Jaccard hides it.
    *
    * Shuffle shape at 100 TB: ONE hash-agg distinct on (source, shingle)
    * — map-side combined, output bounded by sources × shingle-vocabulary,
    * not corpus rows; per-source sizes ride the same frame; the
    * intersection is a shuffle-hash self-join on the shingle key whose
    * per-key expansion is bounded by the number of SOURCES sharing the
    * shingle (≤ S, never corpus-sized), aggregated map-side into at most
    * S² counting rows. The matrix itself is S²/2 rows — driver-safe for
    * any real source count. Shingles stay raw strings for engine-exact
    * parity; production corpora would xxhash64 them first (same plan,
    * 8-byte keys). */
  def sourceOverlapMatrix(docs: DataFrame, groupCol: String, textCol: String,
                          k: Int): DataFrame = {
    val sh = Pin(docs
      .select(col(groupCol).as("g"),
        explode(TextAnalysis.shingles(col(textCol), k)).as("s"))
      .distinct()) // one scan feeds sizes AND both join sides
    val sz = sh.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("source_a"), col("b.g").as("source_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sz.select(col("g").as("source_a"), col("n").as("na")), "source_a")
      .join(sz.select(col("g").as("source_b"), col("n").as("nb")), "source_b")
      .select(col("source_a"), col("source_b"),
        round(col("c").cast("double") / (col("na") + col("nb") - col("c")),
          6).as("jaccard"),
        round(col("c").cast("double") / col("na"), 6).as("a_in_b"),
        round(col("c").cast("double") / col("nb"), 6).as("b_in_a"))
  }

  /** Importance-resampling weights over hashed n-gram features — the DSIR
    * shape (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw document by how much more
    * likely its hashed-unigram bag is under the TARGET domain's feature
    * distribution than under the raw corpus's, then keep the top-k.
    *
    * Features are word unigrams hashed into 256 buckets by the first two
    * hex chars of md5 (the same engine-portable trick as [[splitAssign]]).
    * Bucket distributions use add-one smoothing; the per-doc weight is
    *   w(d) = Σ_b n_b(d) · [ ln((ct_b+1)/(T_t+256)) − ln((cr_b+1)/(T_r+256)) ]
    * i.e. the log-likelihood ratio of the doc's bag under target vs raw.
    *
    * Shuffle shape at 100 TB: ONE shuffle on (id, bucket) with map-side
    * partial counts (doc × ≤256 rows, bounded regardless of doc length);
    * the bucket distribution table is ≤256 rows — computed in the same
    * pass and broadcast back, never a shuffle of the corpus side; the
    * final top-k is TakeOrderedAndProject (k-bounded driver work). The
    * weight is rounded to 6 decimals BEFORE ranking and tie-broken on id,
    * so selection is deterministic and engine-portable. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column): DataFrame = {
    val buckets = 256
    val toks = docs
      .select(col(idCol), isTarget.as("is_target"),
        explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col(idCol), col("is_target"),
        substring(md5(col("tok")), 1, 2).as("bucket"))
    // Per-(doc, bucket) counts: the one corpus-proportional shuffle, with
    // map-side combine; carries is_target along (constant per doc).
    val docBucket = Pin(toks.groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("n"), first(col("is_target")).as("is_target")))
    // Bucket totals for the two distributions: ≤256 rows, derived from the
    // already-aggregated per-doc counts (no second pass over the corpus).
    val bucketStats = docBucket.groupBy(col("bucket"))
      .agg(sum(when(col("is_target"), col("n")).otherwise(lit(0L))).as("ct"),
        sum(when(!col("is_target"), col("n")).otherwise(lit(0L))).as("cr"))
    val totals = bucketStats.agg(
      sum(col("ct")).cast("double").as("tt"),
      sum(col("cr")).cast("double").as("tr"))
    docBucket.filter(!col("is_target"))
      .join(broadcast(bucketStats), Seq("bucket"))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(round(sum(col("n") *
        (log((col("ct") + 1) / (col("tt") + buckets)) -
          log((col("cr") + 1) / (col("tr") + buckets)))), 6)
        .as("dsir_weight"))
  }

  /** Chi-squared token↔class association — supervised feature selection
    * for quality/language classifiers (which tokens most predict a
    * document class). Presence-based 2×2 contingency per token:
    *
    *   a = docs with token in class, b = docs with token outside class,
    *   c = class docs without token,  d = the rest
    *   χ² = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * One distinct-presence pass (explode + per-doc distinct absorbed into
    * the (token, doc) hash-agg) then one token-grain agg; N and the class
    * prior join in as a broadcast one-row frame. All counts are integers —
    * bit-exact across engines; the ratio rounds to 6. Tokens with document
    * frequency below `minDf` are dropped (rare-token χ² is noise), top `k`
    * by (χ² desc, token asc).
    */
  def chiSquaredTerms(docs: DataFrame, idCol: String, textCol: String,
                      isClass: Column, minDf: Long, k: Int): DataFrame = {
    val present = docs
      .select(col(idCol), isClass.cast("boolean").as("cls"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
    val totals = docs.agg(
      count(lit(1)).cast("double").as("nn"),
      sum(isClass.cast("int")).cast("double").as("p"))
    val counts = present.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"),
        sum(col("cls").cast("int")).cast("double").as("a"))
    val scored = counts.crossJoin(broadcast(totals))
      // df ∈ [minDf, N-1]: a token in EVERY doc has a zero marginal
      // ((c+d) = 0) — χ² is undefined there, and it carries no signal.
      .filter(col("df") >= minDf && col("df") < col("nn"))
      .select(
      col("token"), col("df").cast("long").as("df"),
      col("a").cast("long").as("class_df"), {
        val a = col("a")
        val b = col("df") - col("a")
        val c = col("p") - col("a")
        val d = col("nn") - col("df") - c
        round(col("nn") * (a * d - b * c) * (a * d - b * c) /
          ((a + b) * (c + d) * (a + c) * (b + d)), 6).as("chi2")
      })
    scored.orderBy(col("chi2").desc, col("token").asc).limit(k)
  }
}
