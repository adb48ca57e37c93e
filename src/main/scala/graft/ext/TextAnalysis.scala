package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Pin

/** Text-analysis operators for LLM-training-data pipelines (north-star
  * extension, SURVEY.md §2.11 [N]): tokenization, quality scoring,
  * language-ID heuristics, shingling, and document fingerprinting.
  *
  * All of these are pure column expressions — no UDFs, no shuffles — so they
  * run inside whole-stage codegen and scale linearly with the scan: at 100 TB
  * each executor computes its partition's stats with zero data movement.
  *
  * Determinism/parity: the column-expression functions avoid libm-dependent
  * transcendental math (no log/exp) so results are bit-identical to an
  * ANSI-SQL oracle computing the same rational arithmetic. The one
  * exception is [[lmScore]] (cross-entropy is a log by definition), which
  * rounds its per-doc sum to 6 decimals — the established tolerance for
  * summation-order ulp noise — before emitting.
  */
object TextAnalysis {

  /** Stopword list used by [[stopRatio]] / quality scoring. Deliberately small
    * and declared once so the DuckDB oracle can inline the identical list. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Whitespace tokenization: `split` on single spaces (the documents table is
    * single-space separated; for general text use the regex variant). */
  def tokens(text: Column): Column = split(text, " ")

  /** Regex tokenization for general text: word-ish runs (BPE-ish pre-split). */
  def tokensRegex(text: Column): Column =
    filter(split(text, "[^A-Za-z0-9']+"), t => length(t) > 0)

  def nTokens(text: Column): Column = size(tokens(text)).cast("long")

  def nUniqueTokens(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  /** Fraction of tokens that are stopwords — exact rational in double. */
  def stopRatio(text: Column): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") /
      size(toks).cast("double")
  }

  /** Type–token ratio (lexical diversity): unique/total. */
  def typeTokenRatio(text: Column): Column =
    nUniqueTokens(text).cast("double") / nTokens(text).cast("double")

  /** Mean word length — exact integer sum over tokens divided once, so an
    * ANSI oracle summing the same lengths reproduces it bit-for-bit. */
  def meanWordLen(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, w) => acc + length(w).cast("long"))
      .cast("double") / size(toks).cast("double")
  }

  /** Number of DISTINCT words from `words` present in the document — the
    * Gopher-style "must contain ≥k stop words" rule's measurement. */
  def stopHitCount(text: Column, words: Seq[String]): Column =
    size(array_intersect(array_distinct(tokens(text)),
      array(words.map(lit): _*))).cast("long")

  /** Quality score in [0,1]: rewards length (capped) and lexical diversity,
    * penalizes stopword stuffing. Pure +,*,/ arithmetic so an oracle engine
    * reproduces it bit-for-bit (no ln/exp whose libm rounding could differ).
    */
  def qualityScore(text: Column): Column = {
    val lenTerm = least(nTokens(text).cast("double"), lit(100.0)) / lit(100.0)
    (lit(1.0) - stopRatio(text)) * lit(0.5) +
      lenTerm * lit(0.25) + typeTokenRatio(text) * lit(0.25)
  }

  /** N-gram-frequency language-ID heuristic: English text has a high rate of
    * the bigram "th" and of the token "the"; score those and bucket. (A real
    * system uses per-language character-n-gram profiles — this is the same
    * mechanism with a single profile, kept oracle-expressible.) */
  def langIdHeuristic(text: Column): Column = {
    val toks = tokens(text)
    val theRatio = size(filter(toks, t => t === "the")).cast("double") /
      size(toks).cast("double")
    // occurrences of "th" = (len - len(remove "th")) / 2
    val thRatio =
      (length(text) - length(regexp_replace(text, "th", ""))).cast("double") /
        lit(2.0) / length(text).cast("double")
    when(theRatio >= 0.04, "en")
      .when(theRatio >= 0.015 || thRatio >= 0.02, "en_like")
      .otherwise("other")
  }

  /** Distinct character n-gram shingles of `text` (dedup primitive). Uses
    * `Column.substr(pos, len)` inside a higher-order `transform`, so shingling
    * stays a codegen'd expression — no explode needed until a join wants rows. */
  def shingles(text: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n))))

  /** MD5 whole-document fingerprint over whitespace-normalized, lowercased
    * text — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Winnowing-style robust fingerprint: minimum shingle hash (MinHash with
    * one permutation). Survives small edits anywhere except at the minimal
    * shingle itself; used as a cheap near-dup blocking key. */
  def minShingleFingerprint(text: Column, n: Int): Column =
    array_min(transform(shingles(text, n), s => md5(s)))

  /** Scalable form of [[minShingleFingerprint]] over WORD n-grams:
    * (id, min_shingle_fp) via explode + min aggregate. Scalar
    * `slice`/`concat_ws`/`md5` stay in whole-stage codegen and map-side
    * partial `min` shuffles one row per document — preferred over the
    * interpreted array-`transform` column form when fingerprinting a whole
    * corpus (and word units cut shingle volume ~6× vs char n-grams). */
  def minShingleFingerprints(docs: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String,
                             n: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol), col("w"),
        explode(sequence(lit(1), greatest(size(col("w")) - (n - 1), lit(1))))
          .as("i"))
      .select(col(idCol),
        md5(concat_ws(" ", slice(col("w"), col("i"), lit(n)))).as("m"))
      .groupBy(col(idCol))
      .agg(min(col("m")).as("min_shingle_fp"))

  /** Top-`k` distinctive terms per document: highest term frequency among
    * tokens whose document frequency is ≤ `maxDf` (suppresses corpus-common
    * terms — the same signal log-idf weights, kept RATIONAL so an ANSI
    * oracle reproduces ranks bit-for-bit; `log` differs in the last ulp
    * across libm implementations and can flip top-k ties). Tie-break is
    * (tf desc, term asc) — fully deterministic.
    *
    * The (doc, term, tf) frame feeds both the vocabulary DF aggregate and
    * the per-doc ranking, so it is checkpointed once (no common-subplan
    * elimination). DF is a hash-agg over the vocabulary; the re-join is an
    * equi-join on the term. Per-doc ranking is a bounded window (group =
    * one document's distinct terms). */
  def distinctiveTerms(docs: org.apache.spark.sql.DataFrame,
                       idCol: String, textCol: String,
                       maxDf: Long, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Pin(docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    tf.join(dfreq, "term")
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("tf").desc, col("term").asc)))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"))
  }

  /** (id, fp, min_shingle_fp) in ONE pass: the whole-document fingerprint is
    * computed before the shingle explode and carried as a grouping key
    * (functionally dependent on the id, so groups are unchanged) — one scan
    * and one hash-agg shuffle instead of [[fingerprint]]-select JOIN
    * [[minShingleFingerprints]] (two scans + a join shuffle). */
  def fingerprintFrame(docs: org.apache.spark.sql.DataFrame,
                       idCol: String, textCol: String,
                       n: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col(idCol), fingerprint(col(textCol)).as("fp"),
        split(col(textCol), " ").as("w"))
      .select(col(idCol), col("fp"), col("w"),
        explode(sequence(lit(1), greatest(size(col("w")) - (n - 1), lit(1))))
          .as("i"))
      .select(col(idCol), col("fp"),
        md5(concat_ws(" ", slice(col("w"), col("i"), lit(n)))).as("m"))
      .groupBy(col(idCol), col("fp"))
      .agg(min(col("m")).as("min_shingle_fp"))

  /** LINE-LEVEL BOILERPLATE REMOVAL — the CCNet/RefinedWeb web-corpus
    * cleaning step: a line appearing (near-)verbatim in ≥
    * `max(minDocs, ceil(minDocFrac × corpus))` DISTINCT documents is
    * template chrome (cookie banners, nav bars, copyright footers), not
    * content, and is stripped from every document while line order is
    * preserved.
    *
    * Plan shape at 100 TB: posexplode lines → one hash-agg
    * (line → distinct-doc count) → anti-join the lines against the
    * boilerplate set → re-group per doc (collect_list of (pos, line),
    * array_sort restores order). Two shuffles on line/doc keys, no
    * driver data path (one scalar count() fixes the threshold), and the
    * boilerplate set is frequency-bounded — only lines crossing the doc
    * fraction survive the HAVING, so the anti-join's build side tracks
    * template diversity, not corpus size. Documents whose every line is
    * boilerplate are preserved as empty text (left join), never dropped
    * silently.
    *
    * Returns (idCol, cleaned, n_lines, n_removed). */
  def removeBoilerplateLines(docs: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String,
                             minDocFrac: Double,
                             minDocs: Long = 2L): org.apache.spark.sql.DataFrame = {
    val threshold = math.max(minDocs,
      math.ceil(minDocFrac * docs.count()).toLong)
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("pos", "line")))
    val boiler = lines.groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .filter(col("ndocs") >= threshold)
      .select(col("line"))
    val kept = lines.join(boiler, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(expr("transform(array_sort(collect_list(" +
          "struct(pos, line))), x -> x.line)"), "\n").as("cleaned"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol),
        (size(split(col(textCol), "\n"))).cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cleaned"), lit("")).as("cleaned"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Gopher REPETITION signals (Rae et al. 2021 Table A1 — the
    * repetitious-text half of the quality rules; the lexical/TTR half is
    * [[qualityScore]]-side, q135): per document,
    *
    *   - `top_gram` / `top_frac` — the most frequent word `nTop`-gram
    *     (ties break to the lexicographically smallest, deterministic)
    *     and the fraction of non-space characters its occurrences cover;
    *   - `dup_frac` — the fraction of non-space characters covered by
    *     ANY `nDup`-gram occurring ≥ 2 times in the document.
    *
    * Coverage is a POSITION UNION: a token inside three overlapping
    * duplicated grams counts once — the fraction is bounded by 1 and
    * matches what "characters contained within duplicated n-grams"
    * means, where the naive count×len/total overshoots on overlap.
    *
    * Scale shape: grams build as codegen array expressions over the
    * split (no shuffle); the count tables are (doc, gram) hash-aggs with
    * map-side combine; coverage is explode→distinct→join keyed on
    * (doc, pos). Every shuffle key embeds the doc id, so groups are
    * document-bounded — hot boilerplate grams never concentrate on one
    * reducer the way a global gram key would. Fractions are exact
    * integer ratios; round-6 before emit for engine portability. */
  def repetitionSignals(docs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String,
                        nTop: Int = 2, nDup: Int = 5): org.apache.spark.sql.DataFrame = {
    require(nTop >= 1 && nDup >= 1, "n-gram sizes must be positive")
    val base = docs.select(col(idCol), tokens(col(textCol)).as("ws"))
      .withColumn("nchars",
        expr("aggregate(ws, 0L, (a, t) -> a + length(t))"))
    val toks = base.select(col(idCol),
      posexplode(col("ws")).as(Seq("pos", "tok")))
      .select(col(idCol), col("pos"), length(col("tok")).as("len"))
    def grams(n: Int) = base.filter(size(col("ws")) >= n)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), " +
          s"i -> array_join(slice(ws, i, $n), ' '))")).as(Seq("pos", "gram")))
    def coverChars(hits: org.apache.spark.sql.DataFrame, n: Int) = hits
      .select(col(idCol),
        explode(expr(s"sequence(pos, pos + ${n - 1})")).as("pos"))
      .distinct()
      .join(toks, Seq(idCol, "pos"))
      .groupBy(col(idCol)).agg(sum(col("len")).as("ch"))
    val gTop = Pin(grams(nTop))
    val top = gTop.groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(col("c").desc, col("gram"))))
      .filter(col("rn") === 1)
      .select(col(idCol), col("gram").as("top_gram"))
    val topChars =
      coverChars(gTop.join(top, Seq(idCol))
        .filter(col("gram") === col("top_gram")), nTop)
        .withColumnRenamed("ch", "topch")
    val gDup = Pin(grams(nDup))
    val dupVals = gDup.groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col(idCol), col("gram"))
    val dupChars = coverChars(gDup.join(dupVals, Seq(idCol, "gram")), nDup)
      .withColumnRenamed("ch", "dupch")
    base.select(col(idCol), col("nchars"))
      .join(top, Seq(idCol), "left")
      .join(topChars, Seq(idCol), "left")
      .join(dupChars, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("top_gram"), lit("")).as("top_gram"),
        when(col("nchars") === 0, lit(0.0)).otherwise(
          round(coalesce(col("topch"), lit(0L)) / col("nchars"), 6))
          .as("top_frac"),
        when(col("nchars") === 0, lit(0.0)).otherwise(
          round(coalesce(col("dupch"), lit(0L)) / col("nchars"), 6))
          .as("dup_frac"))
  }

  /** Target-trained language-model quality score — the CCNet shape
    * (Wenzek et al. 2020: score every raw document by the perplexity of a
    * small LM trained on the target domain; low-score ≈ target-like).
    * The LM is a Jelinek-Mercer-interpolated bigram model over the
    * `isTrain` documents:
    *   p(w2 | w1) = 0.9·c2(w1,w2)/c1(w1) + 0.1·(c1(w2)+1)/(T+V)
    * (unseen-context first term drops to 0; the add-one unigram back-off
    * keeps p > 0 for OOV tokens). Returned per doc with ≥ 2 tokens:
    * `lm_score` = round(−Σ ln p / n, 6) — cross-entropy in nats, the
    * perplexity's log (monotone-equivalent, avoids exp divergence).
    *
    * Scale shape: bigram/unigram count tables come from one hash-agg
    * each with map-side combine; scoring is two shuffle joins keyed on
    * the token n-grams (NOT broadcast — at 100 TB the LM tables are
    * corpus-vocabulary-sized; CCNet prunes its LM, here AQE handles the
    * skewed head tokens) plus a broadcast of the 2-scalar totals; the
    * per-doc reduce is one more hash-agg. Round-6 before emitting keeps
    * the score engine-portable under summation-order ulp noise. */
  def lmScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, isTrain: Column): org.apache.spark.sql.DataFrame = {
    val w = docs.select(col(idCol), isTrain.as("tr"),
      split(col(textCol), " ").as("ws"))
    val bg = w.filter(size(col("ws")) >= 2)
      .select(col(idCol), col("tr"),
        explode(expr("transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS w1, ws[i + 1] AS w2))")).as("p"))
      .select(col(idCol), col("tr"), col("p.w1"), col("p.w2"))
    val c2 = bg.filter(col("tr")).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n2"))
    // joined twice (context + back-off legs)
    val c1 = Pin(w.filter(col("tr")).select(explode(col("ws")).as("tk"))
      .groupBy(col("tk")).agg(count(lit(1)).as("n1")))
    val tot = c1.agg(sum(col("n1")).cast("double").as("t"),
      count(lit(1)).cast("double").as("v"))
    bg.join(c2, Seq("w1", "w2"), "left")
      .join(c1.select(col("tk").as("w1"), col("n1").as("n1a")),
        Seq("w1"), "left")
      .join(c1.select(col("tk").as("w2"), col("n1").as("n1b")),
        Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("p",
        coalesce(lit(0.9) * (col("n2") / col("n1a")), lit(0.0)) +
          lit(0.1) * ((coalesce(col("n1b"), lit(0L)) + 1) /
            (col("t") + col("v"))))
      .groupBy(col(idCol))
      .agg(round(-sum(log(col("p"))) / count(lit(1)), 6).as("lm_score"),
        count(lit(1)).as("n_bigrams"))
  }

  /** LEARNED text classifier — supervised multinomial Naive Bayes over
    * bag-of-words features (the linear-model-over-n-gram-counts family
    * language-ID classifiers belong to; trained weights are closed-form
    * count ratios, so the "model" is exactly reproducible — the same
    * train-on-fixture determinism as [[lmScore]]). Laplace-smoothed:
    *
    *   score(d, c) = ln(P(c)) + Σ_{w ∈ d} ln((n(w,c) + 1) / (T_c + V))
    *
    * with P(c) the training class prior, n(w,c) the class's training
    * count of word w, T_c the class token total, V the training
    * vocabulary size. Prediction is the round-6 argmax (class-name
    * ascending tiebreak, so the argmax is engine-portable like every
    * other round-6 surface). Returns one row per input doc:
    * (idCol, pred, nb_score).
    *
    * The intended use is DISTILLATION (weak supervision): train on
    * labels a rules engine produced for a slice, score the whole corpus
    * with the learned model — the public fastText-style recipe for
    * language-ID at scale, where the teacher is too slow or too
    * fragmented to run everywhere. Held-out agreement with the teacher
    * is the caller's gate.
    *
    * Scale shape: training is one hash-agg over (class, word) with
    * map-side combine plus a class-count prior agg; the count table is
    * vocabulary×classes-sized, joined on the WORD key as a shuffle join
    * (never broadcast at 100 TB — same contract as [[lmScore]]'s LM
    * tables); the per-(doc, class) reduce is one more hash-agg over
    * exploded tokens × |classes| (classes are enumerable, so the fan-out
    * is a bounded constant factor); the final argmax is a per-doc window
    * over |classes| rows. */
  def nbClassify(docs: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, labelCol: String,
                 isTrain: Column): org.apache.spark.sql.DataFrame =
    nbApply(nbTrain(docs, idCol, textCol, labelCol, isTrain),
      docs, idCol, textCol)

  /** A trained [[nbClassify]] model AS DATA — three small tables
    * (per-(class, word) counts; per-class priors/token totals; global
    * train-size/vocab constants), exactly the closed-form count ratios
    * the formula needs. Being plain DataFrames they persist to parquet
    * ([[nbSave]]/[[nbLoad]]) — the train-once-score-many contract
    * (q110's persisted-index pattern applied to the model): at 100 TB
    * the distillation pass runs once, every later intake reloads the
    * vocab×classes-sized tables instead of re-reading the corpus. */
  final case class NbModel(counts: org.apache.spark.sql.DataFrame,
                           classes: org.apache.spark.sql.DataFrame,
                           consts: org.apache.spark.sql.DataFrame)

  /** Train the Laplace-smoothed count tables on the `isTrain` slice. */
  def nbTrain(docs: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, labelCol: String,
              isTrain: Column): NbModel = {
    val base = docs.select(col(idCol), col(labelCol).as("_lbl"),
      isTrain.as("_tr"), split(lower(col(textCol)), " ").as("_ws"))
    val feats = base.select(col(idCol), col("_lbl"), col("_tr"),
      explode(col("_ws")).as("_f"))
    val cnt = Pin(feats.filter(col("_tr")).groupBy(col("_lbl"), col("_f"))
      .agg(count(lit(1)).as("_n"))) // three downstream consumers (tot, vocab, join)
    val classes = base.filter(col("_tr")).groupBy(col("_lbl"))
      .agg(count(lit(1)).as("_p"))
      .join(cnt.groupBy(col("_lbl")).agg(sum(col("_n")).as("_t")),
        Seq("_lbl"))
      .select(col("_lbl").as("_cls"), col("_p"), col("_t"))
    val consts = classes.agg(sum(col("_p")).cast("double").as("_ntr"))
      .crossJoin(cnt.agg(
        countDistinct(col("_f")).cast("double").as("_v")))
    NbModel(cnt, classes, consts)
  }

  /** Score `docs` with a trained model. The count table joins on the
    * WORD key as a shuffle join by default (an open-vocabulary model is
    * corpus-sized — never broadcast at 100 TB, the [[lmScore]]
    * contract); `broadcastModel = true` is for the bounded-vocabulary
    * case (language-ID: the persisted model is a few thousand rows),
    * where a broadcast hash join keeps the corpus side shuffle-free. */
  def nbApply(model: NbModel, docs: org.apache.spark.sql.DataFrame,
              idCol: String, textCol: String,
              broadcastModel: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = docs
      .select(col(idCol), split(lower(col(textCol)), " ").as("_ws"))
      .select(col(idCol), explode(col("_ws")).as("_f"))
    val cntTbl = model.counts
      .select(col("_lbl").as("_cls"), col("_f"), col("_n"))
    val scored = feats
      .crossJoin(broadcast(model.classes)) // |classes| — bounded fan-out
      .join(if (broadcastModel) broadcast(cntTbl) else cntTbl,
        Seq("_cls", "_f"), "left")
      .crossJoin(broadcast(model.consts))
      .groupBy(col(idCol), col("_cls"))
      .agg(round(
        log(first(col("_p")).cast("double") / first(col("_ntr"))) +
          sum(log((coalesce(col("_n"), lit(0L)) + lit(1)).cast("double") /
            (col("_t").cast("double") + col("_v")))), 6).as("_s"))
    scored
      .withColumn("_rk", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("_s").desc, col("_cls").asc)))
      .filter(col("_rk") === 1)
      .select(col(idCol), col("_cls").as("pred"), col("_s").as("nb_score"))
  }

  /** Cap the model's vocabulary at the `topN` highest-count words PER
    * CLASS (ties broken word-ascending, so the cut is deterministic).
    * The smoothing denominators (`_t` per-class token totals, `_v`
    * vocab size) keep their FULL-training values: a pruned word scores
    * exactly like an unseen one — the Laplace floor 1/(t+v) — so
    * pruning only coarsens, never redefines, the formula. This is what
    * makes `broadcastModel = true` sound at scale: an OPEN-vocabulary
    * count table grows with the training corpus (corpus-vocab-sized at
    * 100 TB — never broadcastable), while a pruned model is ≤
    * classes×topN rows BY CONSTRUCTION regardless of corpus size. */
  def nbPrune(model: NbModel, topN: Int): NbModel = {
    import org.apache.spark.sql.expressions.Window
    val kept = model.counts
      .withColumn("_rk", row_number().over(Window.partitionBy(col("_lbl"))
        .orderBy(col("_n").desc, col("_f").asc)))
      .filter(col("_rk") <= topN)
      .drop("_rk")
    NbModel(kept, model.classes, model.consts)
  }

  /** Persist a trained model (three parquet tables under `dir`). */
  def nbSave(model: NbModel, dir: String): Unit = {
    model.counts.write.mode("overwrite").parquet(s"$dir/counts")
    model.classes.write.mode("overwrite").parquet(s"$dir/classes")
    model.consts.write.mode("overwrite").parquet(s"$dir/consts")
  }

  /** Reload a persisted model. */
  def nbLoad(spark: org.apache.spark.sql.SparkSession,
             dir: String): NbModel =
    NbModel(spark.read.parquet(s"$dir/counts"),
      spark.read.parquet(s"$dir/classes"),
      spark.read.parquet(s"$dir/consts"))
}
