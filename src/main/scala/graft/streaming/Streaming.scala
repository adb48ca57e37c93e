package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming surface (SURVEY.md §2.10 [N]).
  *
  * The reference is batch-daily with a 7-day `updated_since` re-pull window
  * (reference `rest_api.py:70-72`, `endpoints.yml:26-29`) — i.e. a coarse
  * event-time watermark with late-data upsert. This module expresses the same
  * semantics natively: every transform is `DataFrame => DataFrame`, so the
  * identical code runs in batch (oracle-verifiable) and as a stream
  * (`readStream` → transform → `writeStream`).
  *
  * Scale: windowed aggregations are keyed by (window, group) — state is
  * bounded by the watermark, partitions by group key across executors, and
  * late rows past the watermark are dropped instead of growing state forever.
  * For billion-key state (corpus-wide streaming dedup), configure the
  * RocksDB state store (`spark.sql.streaming.stateStore.providerClass` →
  * `RocksDBStateStoreProvider`) so state spills to executor-local disk
  * instead of living on the heap — every transform here is provider-
  * agnostic (proven by StreamingSpec's RocksDB run).
  */
object Streaming {

  /** Tumbling-window counts/sums per event type. Batch and streaming share
    * this plan; in streaming the watermark bounds state. */
  def tumblingAgg(events: DataFrame, windowLen: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Sliding-window variant. */
  def slidingAgg(events: DataFrame, windowLen: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows (gap-based) per user — native `session_window`. */
  def sessionAgg(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** Open a streaming read over the events table (parquet file source —
    * the streaming analogue of the reference's daily bronze drops: new files
    * arriving in the directory are the stream). */
  def readEventsStream(spark: SparkSession, path: String): DataFrame = {
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema).parquet(path)
  }

  /** Watermarked tumbling aggregation over a stream: the streaming form of
    * [[tumblingAgg]], with allowed lateness. */
  def streamingTumblingAgg(stream: DataFrame, windowLen: String,
                           lateness: String): DataFrame =
    tumblingAgg(stream.withWatermark("ts", lateness), windowLen)

  /** Watermarked session-window aggregation over a stream: the streaming
    * form of [[sessionAgg]]. Sessions are merge-on-overlap state — a session
    * only EMITS (append mode) once the watermark passes its end, so a
    * bounded replay must advance the watermark past the data (see the q98
    * driver query's sentinel-flush pattern). */
  def streamingSessionAgg(stream: DataFrame, gap: String,
                          lateness: String): DataFrame =
    sessionAgg(stream.withWatermark("ts", lateness), gap)

  /** Stateful streaming dedup on a key within the watermark horizon — the
    * streaming form of the reference's re-pull-then-upsert late-data handling
    * (`dropDuplicatesWithinWatermark` keeps state only as long as the
    * watermark requires). */
  def streamingDedup(stream: DataFrame, keys: Seq[String],
                     lateness: String): DataFrame =
    stream.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(keys)

  /** Write a streaming result to parquet with checkpointing; Trigger once
    * processes everything available then stops (batch-like replay used by
    * tests and the reference's daily cadence). */
  def writeOnce(df: DataFrame, outDir: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .format("parquet")
      .option("path", outDir)

  /** STREAM-STATIC BROADCAST ENRICHMENT (the simplest production streaming
    * shape): join a watermarked event stream to a static dimension with the
    * dim explicitly broadcast — each micro-batch hash-joins against the
    * executor-resident dim copy, no shuffle of the stream side, no state
    * store (stream-static inner joins are stateless). At 100 TB/day of
    * events the stream side never repartitions for the join; the dim ships
    * once per executor per batch plan. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
                    joinExpr: org.apache.spark.sql.Column): DataFrame =
    stream.join(broadcast(dim), joinExpr)

  /** foreachBatch landing sink: each micro-batch lands as an
    * overwrite-mode `batch=<id>` partition dir — the same exactly-once
    * idempotence the screen streams use (a replayed batch rewrites
    * identical bytes instead of duplicating). */
  def landBatchesStream(df: DataFrame, outDir: String,
                        checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }

  /** Watermarked stream-stream interval join: for each left event, right
    * events of the same key within `[left.ts, left.ts + interval]`. Both
    * sides carry watermarks and the join condition bounds event-time, so
    * Spark can expire join state — without the time bound a stream-stream
    * join's state grows forever. Batch form of the same shape: q41. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame, key: String,
                         interval: String, lateness: String): DataFrame = {
    val l = left.withWatermark("ts", lateness).as("l")
    val r = right.withWatermark("ts", lateness).as("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL $interval"))
  }

  /** [[streamIntervalJoin]]'s LEFT OUTER form — the attribution shape that
    * also EMITS the no-conversion rows: a left event that matches nothing
    * inside its interval is null-padded and emitted once the combined
    * watermark passes `left.ts + interval` (Spark holds the unmatched row
    * in join state until no late right row could still match it). Matched
    * pairs emit eagerly, exactly as in the inner form. Callers replaying a
    * bounded input must push the final watermark past every real left
    * row's expiry (trailing sentinel rows on BOTH sides — the emission
    * trigger is the min of the two sides' watermarks) or the unmatched
    * rows never flush. */
  def streamIntervalJoinOuter(left: DataFrame, right: DataFrame, key: String,
                              interval: String, lateness: String): DataFrame = {
    val l = left.withWatermark("ts", lateness).as("l")
    val r = right.withWatermark("ts", lateness).as("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL $interval"),
      "left_outer")
  }

  /** [[streamIntervalJoinOuter]]'s FULL OUTER form — both unmatched sides
    * null-pad: a left event with no right match inside `[l.ts, l.ts +
    * interval]` emits `(l, null)` once the combined watermark passes its
    * expiry (exactly the left-outer behavior), and a right event no left
    * row could claim emits `(null, r)` once the watermark passes ITS state
    * bound symmetrically. Matched pairs emit eagerly. The same replay
    * caveat applies doubled: BOTH sides need trailing sentinels, since
    * each side's unmatched rows flush on the min of the two watermarks. */
  def streamIntervalJoinFullOuter(left: DataFrame, right: DataFrame,
                                  key: String, interval: String,
                                  lateness: String): DataFrame = {
    val l = left.withWatermark("ts", lateness).as("l")
    val r = right.withWatermark("ts", lateness).as("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL $interval"),
      "full_outer")
  }

  /** [[streamIntervalJoinOuter]]'s RIGHT OUTER mirror — unmatched RIGHT
    * events null-pad the left side once the combined watermark passes
    * their state bound (the purchases-without-any-view audit shape).
    * The q124 replay caveat applies to the right side's flush: trailing
    * sentinels on both streams. */
  def streamIntervalJoinRightOuter(left: DataFrame, right: DataFrame,
                                   key: String, interval: String,
                                   lateness: String): DataFrame = {
    val l = left.withWatermark("ts", lateness).as("l")
    val r = right.withWatermark("ts", lateness).as("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL $interval"),
      "right_outer")
  }

  /** [[streamIntervalJoin]]'s LEFT SEMI form — "which left events
    * converted" without materializing the pairs: a left row emits AT MOST
    * ONCE, as soon as its first in-interval right match arrives (Spark's
    * stream-stream left-semi drops it from state immediately after — the
    * state bound is the same as inner, the OUTPUT is one row per
    * converted left event instead of one per pair). The deduplicating
    * shape product funnels want, without an extra dropDuplicates state
    * store on top of an inner join. */
  def streamIntervalJoinSemi(left: DataFrame, right: DataFrame, key: String,
                             interval: String, lateness: String): DataFrame = {
    val l = left.withWatermark("ts", lateness).as("l")
    val r = right.withWatermark("ts", lateness).as("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL $interval"),
      "left_semi")
  }

  /** Streaming upsert: apply each micro-batch to a keyed target via the
    * lake-native MERGE ([[graft.ops.Upsert]]). This is the streaming form of
    * the reference's late-data story — re-pulled rows within the lateness
    * window arrive as updates and are idempotently merged on the key
    * (reference `rest_api.py:70-72` + `run_load.py:57-96`) — expressed as
    * `foreachBatch`, so any batch sink (parquet lake dir, JDBC warehouse)
    * becomes a streaming sink. */
  def upsertStream(stream: DataFrame, keys: Seq[String], checkpoint: String)(
      readTarget: SparkSession => DataFrame,
      writeTarget: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val merged = graft.ops.Upsert.upsert(readTarget(spark), batch, keys)
        writeTarget(merged)
      }

  /** CONTINUOUS benchmark-decontamination screen (round 15): each
    * micro-batch of arriving training docs is checked for word-n-gram
    * overlap against a STATIC benchmark hash set — the q72 eval-leakage
    * guard run incrementally as corpora land, instead of re-scanning the
    * whole corpus per release. The bench set is pre-shingled ONCE by the
    * caller ([[graft.ext.Curation.wordShingleHashes]] + localCheckpoint)
    * and broadcast into every batch's join, so per-batch cost is one scan
    * of the batch — the store-free little sibling of [[exactScreenStream]]
    * (no state evolves: the benchmark is fixed, verdicts are a pure
    * per-doc property, so batching cannot change results and replays
    * rewrite their own `batch=<id>` dir byte-identically). Emits only
    * contaminated docs, (id, throughCols..., n_shared), q72's contract. */
  def contaminationScreenStream(stream: DataFrame, idCol: String,
                                textCol: String, throughCols: Seq[String],
                                benchHashes: DataFrame, n: Int,
                                outDir: String,
                                checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.localCheckpoint() // one scan feeds shingles + verdict
        val flagged = graft.ext.Curation.contaminationAgainstHashes(
          b, benchHashes, idCol, textCol, n)
        b.select(col(idCol) +: throughCols.map(col): _*)
          .join(flagged, Seq(idCol))
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }

  /** STREAMING ANOMALY SCREEN (q254's robust median/MAD baseline applied
    * per micro-batch — the alerting loop a monitoring pipeline runs as
    * data lands): each batch's per-(type, day) volumes join the STATIC
    * baseline (broadcast — types×2 doubles, never a shuffle) and land
    * verdict rows. Day boundaries must align with batch files (the q233
    * landing discipline), so per-day counts are complete per trigger and
    * the output is batching-independent; replays overwrite their own
    * `batch=<id>` directory (foreachBatch at-least-once idempotence).
    * Per-trigger cost = the batch's one hash-agg; the baseline is fixed
    * history — at 100 TB the stream never rescans it. */
  def anomalyScreenStream(stream: DataFrame, typeCol: String, tsCol: String,
                          baseline: DataFrame, outDir: String,
                          checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch
          .groupBy(col(typeCol),
            date_format(col(tsCol), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n"))
          .join(broadcast(baseline), Seq(typeCol))
          .select(col(typeCol), col("day"), col("n"),
            round(col("med"), 2).as("med"), round(col("mad"), 2).as("mad"),
            round((col("n") - col("med")) / (lit(1.4826) * col("mad")), 6)
              .as("robust_z"),
            (abs(col("n") - col("med")) > lit(3 * 1.4826) * col("mad"))
              .as("is_anomaly"))
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }

  /** CONTINUOUS exact-dedup screen: each micro-batch is screened against a
    * persisted fingerprint store (per-row `is_dup` verdict — the q104 daily
    * screen as a stream), then the store is extended with the batch's novel
    * fingerprints. The scale shape is q104's: the store is only ever
    * SCANNED, never shuffled — the batch's fingerprints broadcast into the
    * store probe and the (batch-bounded) matches broadcast back onto the
    * batch.
    *
    * Replay idempotence (foreachBatch is at-least-once): both the verdict
    * output and the store append are written as `batch=<id>` partition
    * directories in OVERWRITE mode, and the store probe reads only
    * partitions with `batch < id` (partition-pruned) — a replayed batch
    * rewrites its own directories byte-identically and never sees its own
    * failed half-append. The store is a [[GenStore]]: every `compactEvery`
    * triggers the prior batches fold into one dir, so store file count
    * stays bounded at any trigger count (fold is a pure re-layout of
    * `batch < id` rows — verdicts are unchanged by construction). The
    * `matched` probe result is distinct-ed so verdicts stay exactly
    * per-doc even if a crashed fold ever leaves a fingerprint present in
    * two store files. */
  def exactScreenStream(stream: DataFrame, idCol: String, textCol: String,
                        throughCols: Seq[String], storeDir: String,
                        outDir: String, checkpoint: String,
                        compactEvery: Int = 8): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        GenStore.maybeFold(s, storeDir, id, compactEvery)
        val b = batch
          .withColumn("fp", md5(col(textCol).cast("binary")))
          .localCheckpoint() // one batch scan feeds the probe AND the verdict
        val prior = priorStore(s, storeDir, id)
        val out = Seq(col(idCol)) ++ throughCols.map(col) :+ col("is_dup")
        val verdicts = prior match {
          case Some(store) =>
            val matched = store
              .join(broadcast(b.select(col("fp")).distinct()), "fp")
              .select(col("fp")).distinct()
              .withColumn("hit", lit(true))
            b.join(broadcast(matched), Seq("fp"), "left")
              .withColumn("is_dup", coalesce(col("hit"), lit(false)))
              .select(out: _*)
          case None => b.withColumn("is_dup", lit(false)).select(out: _*)
        }
        verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        val fps = b.select(col("fp")).distinct()
        val novel = prior.fold(fps)(store =>
          fps.join(store, Seq("fp"), "left_anti")).localCheckpoint()
        GenStore.append(novel, storeDir, id)
      }

  /** STREAMING HEAVY HITTERS: a Misra-Gries summary maintained across
    * micro-batches — the frequent-items monitor whose state is k counters
    * FOREVER, regardless of how many distinct keys the stream has seen
    * (the exact alternative, a streaming `groupBy(key).count()`, keeps one
    * state row per distinct key — unbounded on a token stream).
    *
    * Per trigger: the batch folds through the typed
    * [[graft.functions.MisraGriesAggregator]] (one aggregate job, k-counter
    * partials), the prior summary (≤ k−1 rows, read driver-side) merges in
    * via the mergeable-summaries combine — the n/k undercount bound
    * survives ANY merge tree (Agarwal et al., PODS '12), so batch
    * boundaries cannot break the guarantee — and the merged summary lands
    * as a `batch=<id>` overwrite dir: replay of a crashed trigger
    * recomputes from summary_{id−1} + the same batch and overwrites its
    * own dir, never compounding (the q108 idempotence discipline; no
    * GenStore needed — the store IS one k-bounded summary per batch, and
    * summary_{id} subsumes everything before it).
    *
    * The candidates are a guaranteed SUPERSET of every key with true share
    * > 1/k; callers finish with an exact broadcast re-count of the ≤ k−1
    * candidates (the [[graft.ext.Curation.heavyHitters]] verify step). */
  def heavyHitterStream(stream: DataFrame, keyCol: String, k: Int,
                        storeDir: String,
                        checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        import graft.functions.{HeavyHitterSketch, MisraGriesAggregator, MisraGriesState}
        val s = batch.sparkSession
        val agg = new MisraGriesAggregator(k)
        def stateOf(h: HeavyHitterSketch): MisraGriesState = {
          val st = new MisraGriesState
          st.n = h.n
          h.keys.zip(h.residuals).foreach { case (key, v) =>
            st.counters.update(key, v) }
          st
        }
        val batchSketch = batch.filter(col(keyCol).isNotNull)
          .select(col(keyCol).cast("string"))
          .as[String](org.apache.spark.sql.Encoders.STRING)
          .select(agg.toColumn).head()
        val merged = latestSummary(s, storeDir, id) match {
          case Some(prior) =>
            agg.finish(agg.merge(stateOf(prior), stateOf(batchSketch)))
          case None => batchSketch
        }
        import s.implicits._
        Seq((merged.n, merged.keys.toSeq, merged.residuals.toSeq))
          .toDF("n", "keys", "residuals")
          .write.mode("overwrite").parquet(s"$storeDir/batch=$id")
      }

  /** The newest committed summary from batches STRICTLY BEFORE `id` (None
    * before the first); also how callers read the FINAL summary after the
    * drain (id = Long.MaxValue). One single-row parquet read. */
  def latestSummary(s: SparkSession, storeDir: String,
                    id: Long): Option[graft.functions.HeavyHitterSketch] = {
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val prior = fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .filter(_ < id)
    if (prior.isEmpty) None
    else {
      val r = s.read.parquet(s"$storeDir/batch=${prior.max}").head()
      Some(graft.functions.HeavyHitterSketch(r.getLong(0),
        r.getSeq[String](1).toArray, r.getSeq[Long](2).toArray))
    }
  }

  /** The fingerprint store as of batches STRICTLY BEFORE `id`. */
  private def priorStore(s: SparkSession, storeDir: String,
                         id: Long): Option[DataFrame] =
    priorBatches(s, storeDir, id).map(_.select(col("fp")))

  /** All rows landed by batches STRICTLY BEFORE `id`, read from the live
    * generation of a [[GenStore]] — partition discovery over its
    * `batch=<j>` dirs with a partition-pruned file list; None when no
    * prior batch has committed. Shared by the exact and near-dup screen
    * loops for their store/lake reads. */
  private def priorBatches(s: SparkSession, dir: String,
                           id: Long): Option[DataFrame] = {
    if (!GenStore.exists(s, dir)) None
    else {
      val genDir = GenStore.liveGenDir(s, dir)
      val prior = GenStore.batchDirs(s, genDir).filter(_._1 < id)
      if (prior.isEmpty) None
      else Some(s.read.option("basePath", genDir)
        .parquet(prior.map(_._2): _*))
    }
  }

  /** Bounded-growth persisted state for the screen streams (the r9 verdict
    * watch item: one `batch=N` dir per trigger forever is the small-file
    * problem [[graft.sinks.Maintenance]] solves for batch tables, recreated
    * in streaming). Batches land as `<root>/gen=G/batch=N` overwrite dirs;
    * once the live generation holds `compactEvery` prior-batch dirs, the
    * handler FOLDS them into a single `batch=<max folded>` dir of
    * generation G+1 before screening. A generation is visible iff its
    * `_COMMITTED` marker exists (written last), so the fold has snapshot
    * visibility — the [[graft.sinks.Snapshots]] commit pattern applied to
    * stream state:
    *  - crash mid-fold: G+1 has no marker → readers stay on G (complete);
    *    the debris is deleted and the fold redone on replay;
    *  - crash after marker, before input cleanup: readers pick the highest
    *    committed generation (G+1) and [[open]] finishes deleting G;
    *  - fold is a pure re-layout of `batch < id` rows relabeled to the
    *    highest folded batch number (all strictly below the in-flight
    *    batch, so every future/replayed read of `batch < id'` sees exactly
    *    the same row set) — verdicts are byte-identical with or without
    *    folding, which is what keeps replay idempotence intact.
    * Fold output file count shrinks geometrically (input files /
    * `compactEvery`, floor 1) — no forced single-file bottleneck at scale,
    * and no shuffle (a coalesce re-layout, like flat compaction). */
  private[streaming] object GenStore {
    private val BatchPrefix = "batch="
    private val GenRe = "gen=(\\d+)".r

    private def hfs(s: SparkSession, p: String) =
      new org.apache.hadoop.fs.Path(p)
        .getFileSystem(s.sparkContext.hadoopConfiguration)

    def exists(s: SparkSession, root: String): Boolean =
      hfs(s, root).exists(new org.apache.hadoop.fs.Path(root))

    private def marker(root: String, g: Long) =
      new org.apache.hadoop.fs.Path(s"$root/gen=$g/_COMMITTED")

    /** (gen, committed?) pairs present under the root. */
    private def gens(s: SparkSession, root: String): Seq[(Long, Boolean)] = {
      val fs = hfs(s, root)
      val p = new org.apache.hadoop.fs.Path(root)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.collect {
        case st if st.isDirectory =>
          st.getPath.getName match {
            case GenRe(n) => Some(n.toLong -> fs.exists(marker(root, n.toLong)))
            case _ => None
          }
      }.flatten
    }

    /** The live (highest committed) generation, initializing `gen=0` on a
      * fresh root and clearing debris: uncommitted gens (crashed folds to
      * redo) and committed gens below the live one (fold inputs whose
      * cleanup was interrupted). Single-writer per store (one streaming
      * query), like the screens themselves. */
    def open(s: SparkSession, root: String): Long = {
      val fs = hfs(s, root)
      val all = gens(s, root)
      val committed = all.collect { case (g, true) => g }
      if (committed.isEmpty) {
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/gen=0"))
        fs.create(marker(root, 0), true).close()
        all.foreach { case (g, _) =>
          if (g != 0)
            fs.delete(new org.apache.hadoop.fs.Path(s"$root/gen=$g"), true)
        }
        0L
      } else {
        val live = committed.max
        all.foreach { case (g, _) =>
          if (g != live)
            fs.delete(new org.apache.hadoop.fs.Path(s"$root/gen=$g"), true)
        }
        live
      }
    }

    def liveGenDir(s: SparkSession, root: String): String =
      s"$root/gen=${open(s, root)}"

    /** (batch id, dir path) for every batch dir of a generation. */
    def batchDirs(s: SparkSession, genDir: String): Seq[(Long, String)] = {
      val fs = hfs(s, genDir)
      val p = new org.apache.hadoop.fs.Path(genDir)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter { st =>
        st.isDirectory && st.getPath.getName.startsWith(BatchPrefix)
      }.map(st => st.getPath.getName.drop(BatchPrefix.length).toLong ->
        st.getPath.toString)
    }

    /** Land batch `id`'s rows (replay-idempotent overwrite dir). */
    def append(df: DataFrame, root: String, id: Long): Unit = {
      val g = open(df.sparkSession, root)
      df.write.mode("overwrite").parquet(s"$root/gen=$g/batch=$id")
    }

    /** Fold the live generation's `batch < id` dirs into one dir of the
      * next generation when they number ≥ `every` (see object doc for the
      * crash story). */
    def maybeFold(s: SparkSession, root: String, id: Long,
                  every: Int): Unit = {
      if (!exists(s, root)) return
      val g = open(s, root)
      val genDir = s"$root/gen=$g"
      val prior = batchDirs(s, genDir).filter(_._1 < id)
      if (prior.size < every) return
      val fs = hfs(s, root)
      val target = prior.map(_._1).max
      val inputFiles = prior.map { case (_, d) =>
        fs.listStatus(new org.apache.hadoop.fs.Path(d))
          .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
      }.sum
      s.read.option("basePath", genDir).parquet(prior.map(_._2): _*)
        .drop("batch")
        .coalesce(math.max(1, (inputFiles / every).toInt))
        .write.mode("overwrite")
        .parquet(s"$root/gen=${g + 1}/batch=$target")
      fs.create(marker(root, g + 1), true).close() // the commit point
      fs.delete(new org.apache.hadoop.fs.Path(genDir), true)
    }
  }

  /** CONTINUOUS near-dup screen — the q102 daily near-dup loop as a stream:
    * each micro-batch's word-shingle MinHash signatures are banded against
    * the persisted SIGNATURE store of the prior batches (retrieval), the
    * candidates are exact-text-confirmed against the prior batches' landed
    * text (precision), and each doc gets a per-row `is_dup` verdict; then
    * the store grows by the batch's signatures and the lake by its text.
    *
    * Scale shape is q102's at every trigger: the banded join is new×store
    * (never store×store — the corpus is never re-sketched), and the confirm
    * leg reads the lake PRUNED to the candidate store ids (a broadcast
    * semi-join, plan-guarded — never a driver-collected literal list), so
    * confirm cost tracks emitted pairs, not lake size. Replay idempotence as in
    * [[exactScreenStream]]: verdicts, store, and lake all land as
    * `batch=<id>` overwrite-mode partition dirs, and reads see only
    * `batch < id`. Signature store AND text lake are [[GenStore]]s, folded
    * every `compactEvery` triggers — both otherwise grow one dir per
    * trigger forever. */
  def nearDupScreenStream(stream: DataFrame, idCol: String, textCol: String,
                          throughCols: Seq[String], storeDir: String,
                          lakeDir: String, outDir: String, checkpoint: String,
                          n: Int = 3, k: Int = 32, bands: Int = 8,
                          threshold: Double = 0.9,
                          compactEvery: Int = 8): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        GenStore.maybeFold(s, storeDir, id, compactEvery)
        GenStore.maybeFold(s, lakeDir, id, compactEvery)
        val b = batch.localCheckpoint()
        val sigs = graft.ext.Dedup
          .minHashSignaturesWords(b, idCol, textCol, n, k).localCheckpoint()
        val out = Seq(col(idCol)) ++ throughCols.map(col) :+ col("is_dup")
        val verdicts = priorBatches(s, storeDir, id) match {
          case Some(store) =>
            val cands = graft.ext.Dedup.incrementalNearDupPairs(
              sigs, store.drop("batch"), k, bands, threshold).localCheckpoint()
            val lake = priorBatches(s, lakeDir, id).get // committed with store
            // candidate-pruned lake read as a BROADCAST SEMI-JOIN at every
            // size (round-12 advice: the former sub-cap arm collected the
            // ids and planned a 100k-literal In expression — a plan/codegen
            // size hazard; the semi-join is the right plan at ANY candidate
            // count and keeps the driver out of the data path entirely)
            val lakeSlice = lake.join(
              broadcast(cands.select(col("store_doc").as(idCol)).distinct()),
              Seq(idCol), "left_semi")
            graft.plans.PlanGuard.requireInPlan(lakeSlice, "Broadcast",
              "near-dup confirm leg must broadcast-prune the lake scan")
            val confirmed = cands
              .join(b.select(col(idCol).as("new_doc"),
                col(textCol).as("nt")), "new_doc")
              .join(lakeSlice.select(col(idCol).as("store_doc"),
                col(textCol).as("st")), "store_doc")
              .filter(col("nt") === col("st"))
              .select(col("new_doc").as(idCol)).distinct()
              .withColumn("hit", lit(true))
            b.join(broadcast(confirmed), Seq(idCol), "left")
              .withColumn("is_dup", coalesce(col("hit"), lit(false)))
              .select(out: _*)
          case None => b.withColumn("is_dup", lit(false)).select(out: _*)
        }
        verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        GenStore.append(sigs, storeDir, id)
        GenStore.append(b.select(col(idCol), col(textCol)), lakeDir, id)
      }

  /** CONTINUOUS materialized view over a versioned lake table: each
    * micro-batch is append-committed to the table, its change feed is
    * derived from exactly the manifests that commit touched
    * ([[graft.sinks.Snapshots.changesBetween]] — reads the batch's files,
    * never the table), and the feed's ± deltas are folded into a persisted
    * sum/count view ([[graft.ops.Ivm.applyFeed]]). Per-trigger cost is
    * batch-sized while the table grows without bound — the streaming form
    * of q116's maintenance loop.
    *
    * Exactly-once table commits under at-least-once foreachBatch: every
    * commit is TAGGED with the batch id, and the tag marker travels inside
    * the atomically-renamed manifest dir, so a replayed batch finds its
    * tag already committed ([[graft.sinks.Snapshots.versionForTag]]) and
    * skips the append instead of double-writing — the Delta
    * txnAppId/txnVersion contract on the version log. The view is a
    * `batch=<id>` overwrite-dir chain seeded by the caller at `batch=-1`:
    * view(id) = applyFeed(view(max prior id), feed(id)) is a pure function
    * of committed state, so a replay rewrites its dir byte-identically.
    * Single-writer stream assumed (the feed is vTo's own commit);
    * concurrent DML on the same table would need the feed to span
    * tag(id−1)→tag(id). */
  def ivmStream(stream: DataFrame, zcols: Seq[String], keys: Seq[String],
                sums: Seq[(String, String)], cnt: String, path: String,
                manifestRoot: String, viewDir: String, checkpoint: String,
                nFiles: Int = 2): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        if (!batch.isEmpty) {
          val tag = s"ivm_$id"
          val vTo = graft.sinks.Snapshots.versionForTag(s, manifestRoot, tag)
            .getOrElse(graft.sinks.Snapshots.appendCommit(s, batch, zcols,
              path, manifestRoot, nFiles, tag = Some(tag))._1)
          val feed = graft.sinks.Snapshots.changeFeed(s, manifestRoot,
            graft.sinks.Snapshots.commits(s, manifestRoot, vTo - 1, vTo)
              .next())
          graft.ops.Ivm.applyFeed(priorView(s, viewDir, id), feed.df,
              keys, sums, cnt)
            .coalesce(1).write.mode("overwrite").parquet(s"$viewDir/batch=$id")
        }
      }

  private val ViewBatchDir = "batch=(-?\\d+)".r

  /** The most recent committed view strictly before `id` (the `batch=-1`
    * bootstrap written by the caller counts). Listing is dir-count-bounded
    * driver work; empty batches leave gaps the max() skips over. */
  private def priorView(s: SparkSession, viewDir: String,
                        id: Long): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(viewDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prior = fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case ViewBatchDir(n) if n.toLong < id => Some(n.toLong)
          case _ => None
        }
    }.flatten
    require(prior.nonEmpty,
      s"no bootstrap view under $viewDir — seed batch=-1 before streaming")
    s.read.parquet(s"$viewDir/batch=${prior.max}")
  }

  /** Streaming upsert into a JDBC WAREHOUSE: each micro-batch runs the
    * staged transactional MERGE ([[graft.sinks.JdbcUpsert]]) against the
    * warehouse table — the reference's full production loop composed
    * (incremental re-pull `rest_api.py:70-72` arriving as micro-batches +
    * keyed warehouse upsert `run_load.py:57-96`), with foreachBatch turning
    * the batch JDBC sink into a streaming one. Idempotent per key, so a
    * replayed batch (checkpoint recovery) re-MERGEs harmlessly. */
  def jdbcUpsertStream(stream: DataFrame, url: String, table: String,
                       keys: Seq[String], props: java.util.Properties,
                       dialect: graft.sinks.JdbcUpsert.Dialect,
                       checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sinks.JdbcUpsert.upsert(batch, url, table, keys, props, dialect)
      }
}
