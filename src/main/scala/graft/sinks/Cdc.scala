package graft.sinks

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Incremental table REPLICATION over the version log's change feed — the
  * CDC-consumer shape (mirror a table into another table/region by applying
  * each commit's diff, never re-copying the table; north-star depth beyond
  * the reference's full-table loads, run_load.py:61).
  *
  * Design:
  *  - The mirror is itself a versioned lake table; each source commit is
  *    applied as feed-sized DML — deletes via [[Dv.deleteKeysMoR]] (zero
  *    data files, touch set bounded by key stats), inserts via
  *    [[Snapshots.appendCommit]] — so per-poll cost tracks the COMMIT, not
  *    table size: the property that makes replication viable at 100 TB.
  *  - The consumer CURSOR is not separate state that can desync: it is
  *    derived from `cdc_<srcVersion>` txn tags on the mirror's own log
  *    (the [[Snapshots.versionForTag]] exactly-once contract). The tag
  *    rides the apply's final commit atomically.
  *  - Crash-window correctness: an apply is (MoR delete, tagged append).
  *    A crash after the delete but before the append replays cleanly —
  *    re-masking already-masked rows masks nothing ([[Dv.deleteKeysMoR]]
  *    commits nothing when zero rows match), then the append lands with
  *    its tag. A fully-applied commit replays as a pure skip (tag found
  *    BEFORE either half runs — critical, because re-running the delete
  *    half after the insert half landed would eat updated rows).
  */
object Cdc {

  /** `replaysSkipped` is non-zero only when a CONCURRENT consumer tagged a
    * version above this sync's cursor snapshot mid-loop — in the
    * single-consumer replay case the cursor already sits at the head and
    * the sync reports `commitsApplied == 0, fromVersion == toVersion`. */
  final case class SyncResult(fromVersion: Int, toVersion: Int,
                              commitsApplied: Long, replaysSkipped: Long,
                              feedFilesRead: Long, feedFilesTotal: Long)

  /** Highest source version whose `cdc_` tag is on the mirror log — the
    * derived cursor. A max over every tag, not the newest one: concurrent
    * consumers can tag out of order. */
  def appliedCursor(spark: SparkSession, mirrorRoot: String): Int =
    Snapshots.tags(spark, mirrorRoot, "cdc_").map(_._2.toInt).maxOption
      .getOrElse(0)

  /** Bring the mirror up to the source head. Fresh mirror ⇒ one full
    * snapshot copy tagged with the source head version; otherwise every
    * unapplied source commit (v > cursor) is applied as feed-sized DML.
    * Safe to call concurrently with crashes/replays — see the class doc.
    * `cols` are the mirror's z-order/stats columns and MUST include `key`
    * so the MoR delete's planner can stats-prune. */
  def sync(spark: SparkSession, srcRoot: String, mirrorPath: String,
           mirrorRoot: String, key: String, cols: Seq[String],
           nFiles: Int = 8): SyncResult = {
    require(cols.contains(key),
      s"mirror stats columns must include the key '$key' for delete pruning")
    val to = Snapshots.latestVersion(spark, srcRoot)
    var applied = 0L; var skipped = 0L; var fRead = 0L; var fTotal = 0L
    val from =
      if (Snapshots.versions(spark, mirrorRoot).nonEmpty)
        appliedCursor(spark, mirrorRoot)
      else {
        // initial snapshot sync: one full copy of the source head, tagged
        // so a replayed bootstrap cannot double-copy
        Layout.zorderWrite(Snapshots.tableAt(spark, srcRoot, to), cols,
          mirrorPath, nFiles)
        Snapshots.commit(spark,
          Layout.buildManifest(spark, mirrorPath, cols), mirrorRoot,
          tag = Some(s"cdc_$to"))
        applied += 1
        to
      }
    // visible source commits only: an aborted txn stage is not history
    Snapshots.commits(spark, srcRoot, from, to).foreach { c =>
      val tag = s"cdc_${c.version}"
      if (Snapshots.versionForTag(spark, mirrorRoot, tag).nonEmpty)
        skipped += 1
      else {
        val feed = Snapshots.changeFeed(spark, srcRoot, c)
        fRead += feed.filesRead; fTotal += feed.filesTotal
        val df = feed.df.localCheckpoint()
        val delKeys = df.filter(col("change_type") === "delete")
          .select(col(key))
        if (!delKeys.isEmpty)
          Dv.deleteKeysMoR(spark, mirrorPath, mirrorRoot, key, delKeys)
        val ins = df.filter(col("change_type") === "insert")
          .drop("change_type")
        if (ins.isEmpty)
          // pure-delete commit: the tag still needs a commit to ride —
          // re-commit the current manifest as a metadata-only version
          Snapshots.metadataCommit(spark,
            Snapshots.tableHead(spark, mirrorRoot), Some(tag))(Seq.empty)
        else
          Snapshots.appendCommit(spark, ins, cols, mirrorPath, mirrorRoot,
            nFiles, tag = Some(tag))
        applied += 1
      }
    }
    SyncResult(from, to, applied, skipped, fRead, fTotal)
  }
}
