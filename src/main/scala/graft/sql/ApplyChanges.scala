package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.Snapshots

/** APPLY CHANGES → SCD TYPE 2 (the Delta Live Tables `APPLY CHANGES INTO
  * … STORED AS SCD TYPE 2` shape, public behavior): consume a lake
  * table's CHANGE FEED incrementally and maintain a full-history target —
  * one row per (key, validity interval) with `start_at`/`end_at` version
  * bounds and an `is_current` flag. A source UPDATE (delete+insert of the
  * same key in one feed) closes the key's current interval and opens a
  * new one; a DELETE closes it; an INSERT of a new key opens one.
  *
  * Scale shape, per source commit:
  *  - the feed is [[Snapshots.changesBetween]] — bounded by the commit's
  *    own added/removed files, never the table;
  *  - CLOSE is one SQL MERGE keyed on the distinct affected keys, whose
  *    touch set the target's key stats prune (history rows of the same
  *    key match the ON but fail the `is_current` clause condition);
  *  - OPEN is one staged z-ordered append of the feed's inserts.
  * So per-poll cost tracks the COMMIT, the same 100 TB property as
  * [[graft.sinks.Cdc]] replication.
  *
  * Exactly-once: the consumer CURSOR is derived from `scd2_<v>` txn tags
  * on the target's own log (never separate state that can desync), and
  * the tag rides the apply's FINAL commit. Crash replay is safe in both
  * windows: a replayed CLOSE matches nothing (the affected intervals are
  * already closed, and the fresh intervals opened at `v` are excluded by
  * `start_at < v`), and a fully-applied version is skipped before either
  * half runs.
  */
object ApplyChanges {

  final case class ApplyResult(fromVersion: Int, toVersion: Int,
                               commitsApplied: Long)

  /** Highest source version whose `scd2_` tag is on the target log.
    *
    * The newest tag is the max: applies run source versions in order and
    * each tag rides the apply's own final commit, so tag values are
    * monotone over target versions. The walk stops at the first tagged
    * version, descending, so it visits only the target commits since the
    * last apply, not all versions — the bound a long-lived DLT-style
    * target needs. */
  private def appliedCursor(spark: SparkSession, targetRoot: String): Int =
    cursorScan(spark, targetRoot)._1

  /** (cursor, version dirs walked) — the walk-count half exists so the
    * boundedness claim is spec-testable, not asserted. */
  private[sql] def cursorScan(spark: SparkSession,
                              targetRoot: String): (Int, Int) = {
    val vs = Snapshots.versions(spark, targetRoot)
    Snapshots.tags(spark, targetRoot, "scd2_").nextOption() match {
      case Some((v, tag)) => (tag.toInt, vs.count(_ >= v))
      case None => (0, vs.size)
    }
  }

  /** Bring the SCD2 target up to the source head. The target must be a
    * REGISTERED lake table whose schema is (key, payload…, start_at
    * BIGINT, end_at BIGINT, is_current BOOLEAN) and whose stats columns
    * include `key` (so the CLOSE merge prunes). A fresh target bootstraps
    * from the oldest visible source version f (opening intervals at f; a
    * VACUUM may have dropped v1), then applies f+1..head. A target whose
    * cursor lags past a source VACUUM refuses ([[Snapshots.commits]]). */
  def scd2(spark: SparkSession, srcRoot: String, targetName: String,
           key: String, payload: Seq[String]): ApplyResult = {
    val spec = LakeSql.specOf(targetName).getOrElse(
      throw new IllegalArgumentException(
        s"'$targetName' is not a registered lake table"))
    require(spec.cols.contains(key),
      s"target stats columns must include the key '$key' for merge pruning")
    val src = Snapshots.tableHead(spark, srcRoot)
    var applied = 0L
    var cursor = appliedCursor(spark, spec.manifestRoot)
    val from = cursor
    if (cursor == 0) {
      // the oldest visible version of the head's own listing
      val first = src.listing.find(Snapshots.txnVisible(spark, srcRoot, _)).get
      val snap = Snapshots.tableAt(spark, src.at(first))
        .select((key +: payload).map(col): _*)
        .withColumn("start_at", lit(first.toLong))
        .withColumn("end_at", lit(null).cast("long"))
        .withColumn("is_current", lit(true))
      Snapshots.appendCommit(spark, snap, spec.cols, spec.path,
        spec.manifestRoot, spec.nFiles, tag = Some(s"scd2_$first"))
      applied += 1
      cursor = first
    }
    // visible source commits only: an aborted txn stage is not history
    Snapshots.commits(spark, srcRoot, cursor, src.version).foreach { c =>
      val v = c.version
      // cache the feed: it feeds the CLOSE keys, the OPEN batch, and the
      // empty-insert branch — recomputing the exceptAll diff thrice is
      // the exact waste localCheckpoint exists for
      val feed = Snapshots.changeFeed(spark, srcRoot, c).df.localCheckpoint()
      val closeKeys = feed.select(col(key)).distinct()
      val view = s"_scd2_close_${targetName.replace('.', '_')}_$v"
      closeKeys.createOrReplaceTempView(view)
      LakeSql.sql(spark,
        s"""MERGE INTO $targetName t USING $view s ON t.$key = s.$key
           |WHEN MATCHED AND t.is_current = true AND t.start_at < ${v}L
           |THEN UPDATE SET end_at = ${v}L, is_current = false
           |""".stripMargin)
      spark.catalog.dropTempView(view)
      val opens = feed.filter(col("change_type") === "insert")
        .select((key +: payload).map(col): _*)
        .withColumn("start_at", lit(v.toLong))
        .withColumn("end_at", lit(null).cast("long"))
        .withColumn("is_current", lit(true))
      if (opens.isEmpty)
        // pure-delete commit: the cursor tag still has to land atomically
        Snapshots.metadataCommit(spark,
          Snapshots.tableHead(spark, spec.manifestRoot), Some(s"scd2_$v"))(Nil)
      else
        Snapshots.appendCommit(spark, opens, spec.cols, spec.path,
          spec.manifestRoot, spec.nFiles, tag = Some(s"scd2_$v"))
      applied += 1
    }
    ApplyResult(from, src.version, applied)
  }
}
