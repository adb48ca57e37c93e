package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.Snapshots

/** CROSS-TABLE ATOMIC PUBLISH — the multi-statement-transaction core
  * (the Databricks multi-table txn shape, public behavior): stage
  * commits on N lake tables, then make them ALL visible with one atomic
  * filesystem create. The reference's load plan touches two tables per
  * run (`run_load.py:113-124`) — this is what keeps a reader from ever
  * seeing the pair torn.
  *
  * Protocol (coordinator-file two-phase):
  *  1. each table stages a NORMAL version commit that additionally
  *     carries a `_txn_pending.txt` content marker naming (txnDir, id) —
  *     the stage takes its version slot (so no later write can bury it;
  *     [[Snapshots]] refuses concurrent commits past an unresolved
  *     stage) but is INVISIBLE to readers: `latestVersion` resolves past
  *     it while `<txnDir>/commit_<id>` does not exist;
  *  2. after every table staged, ONE `fs.create(commit_<id>)` — the
  *     atomic instant. Before it: every reader of every staged table
  *     serves the pre-txn snapshot. After it: all serve the staged one.
  *     There is no per-table flip to interleave with.
  *
  * Crash discipline: a death before the commit file leaves the stages
  * pending — readers keep the old snapshot indefinitely (correct, not
  * torn) and writers are refused with a loud conflict until [[abort]]
  * writes `abort_<id>` (stages stay in the log as permanently-invisible
  * versions, reclaimed by vacuum like any expired version) or a retry
  * publishes the commit file. Replaying a FULL publish is naturally
  * safe: the commit file create is idempotent-or-loud.
  *
  * Scale shape: staging is the ordinary append path (z-ordered staging
  * write + manifest commit per table); the publish adds exactly one
  * file create and each read one memoized marker probe. Nothing global
  * is locked — tables not in the txn never see it.
  */
object LakeTxn {

  final case class PublishResult(txnId: String, versions: Map[String, Int])

  private def specOf(name: String) =
    LakeSql.specOf(name.toLowerCase(java.util.Locale.ROOT)).getOrElse(
      throw new IllegalArgumentException(
        s"'$name' is not a registered lake table"))

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Stage ONE table's append under the txn — exposed (rather than
    * private) so crash-window tests exercise the REAL halves. */
  def stagePending(spark: SparkSession, txnDir: String, id: String,
                   name: String, batch: DataFrame): Int = {
    val spec = specOf(name)
    Snapshots.appendCommit(spark, batch, spec.cols, spec.path,
      spec.manifestRoot, spec.nFiles,
      contentFiles = Seq(Snapshots.TxnPendingMarker -> s"$txnDir\n$id"))._1
  }

  /** The atomic publish instant: one create. Loud if the txn was
    * already aborted (a resolved txn must never flip). */
  def commitMarker(spark: SparkSession, txnDir: String, id: String): Unit = {
    val f = fs(spark, txnDir)
    require(!f.exists(new org.apache.hadoop.fs.Path(txnDir, s"abort_$id")),
      s"txn $id was aborted — cannot commit")
    f.create(new org.apache.hadoop.fs.Path(txnDir, s"commit_$id"),
      false).close()
  }

  /** Mark a crashed/abandoned txn aborted: its stages become permanently
    * invisible and concurrent writers unblock. Loud if already
    * committed. */
  def abort(spark: SparkSession, txnDir: String, id: String): Unit = {
    val f = fs(spark, txnDir)
    require(!f.exists(new org.apache.hadoop.fs.Path(txnDir, s"commit_$id")),
      s"txn $id already committed — cannot abort")
    f.create(new org.apache.hadoop.fs.Path(txnDir, s"abort_$id"),
      false).close()
  }

  /** Append `batch_i` to `table_i`, all-or-nothing. */
  def publishAppends(spark: SparkSession, txnDir: String,
                     appends: Seq[(String, DataFrame)]): PublishResult = {
    require(appends.nonEmpty, "publishAppends with no tables")
    require(appends.map(_._1.toLowerCase(java.util.Locale.ROOT))
      .distinct.size == appends.size,
      "publishAppends stages each table at most once")
    fs(spark, txnDir).mkdirs(new org.apache.hadoop.fs.Path(txnDir))
    val id = java.util.UUID.randomUUID().toString
    val staged = appends.map { case (name, batch) =>
      name -> stagePending(spark, txnDir, id, name, batch)
    }
    commitMarker(spark, txnDir, id)
    PublishResult(id, staged.toMap)
  }

  /** One table's intent inside an OPTIMISTIC cross-table transaction:
    * append `batch`, computed against snapshot `readVersion`, depending
    * on the content of `readSet` files (empty for a blind append — the
    * Delta/Iceberg disjoint-files rule: appends conflict with nothing
    * that did not remove what they read). */
  final case class OptimisticStage(name: String, batch: DataFrame,
                                   readVersion: Int,
                                   readSet: Set[String] = Set.empty)

  /** OPTIMISTIC cross-table publish — [[publishAppends]] without the
    * long write-refusal window: tables are NOT staged while the txn
    * composes, so concurrent single-table commits land freely the whole
    * time. At publish, each table runs the [[Snapshots.commitTxn]]
    * discipline — walk the commits since `readVersion`, raise
    * [[Snapshots.CommitConflictException]] if any removed a `readSet`
    * file (the snapshot the txn planned against is gone), otherwise
    * REBASE the append atop the current head — and takes its version
    * slot WITH the pending marker; after every table staged, one marker
    * create flips them all, exactly like the pessimistic path. The
    * refusal window shrinks from the whole composition to the
    * seconds-long publish instant.
    *
    * Failure atomicity: a conflict on table k aborts the txn (earlier
    * stages become permanently invisible via the abort marker) and
    * re-raises — NOTHING of the transaction is ever visible on any
    * table. Data files landed before the failure are unreferenced
    * orphans, vacuum's problem, never a torn read. */
  def publishOptimistic(spark: SparkSession, txnDir: String,
                        stages: Seq[OptimisticStage]): PublishResult = {
    require(stages.nonEmpty, "publishOptimistic with no tables")
    require(stages.map(_.name.toLowerCase(java.util.Locale.ROOT))
      .distinct.size == stages.size,
      "publishOptimistic stages each table at most once")
    fs(spark, txnDir).mkdirs(new org.apache.hadoop.fs.Path(txnDir))
    val id = java.util.UUID.randomUUID().toString
    val staged = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    try {
      stages.foreach { st =>
        val spec = specOf(st.name)
        val moved = Snapshots.land(spark, spec.path,
            gatedBy = Some(spec.manifestRoot))(
          graft.sinks.Layout.zorderWrite(st.batch, spec.cols, _, spec.nFiles))
        val r = Snapshots.commitTxn(spark, spec.manifestRoot,
          Snapshots.Txn(st.readVersion, Set.empty,
            Snapshots.statsFor(spark, moved, spec.cols), st.readSet),
          contentFiles = Seq(Snapshots.TxnPendingMarker -> s"$txnDir\n$id"))
        staged += st.name -> r.version
      }
      commitMarker(spark, txnDir, id)
      PublishResult(id, staged.toMap)
    } catch {
      case e: Throwable =>
        if (staged.nonEmpty) abort(spark, txnDir, id)
        throw e
    }
  }

  /** A CONSISTENT version pin across tables: resolve every head, then
    * re-validate the first table still resolves the same — on success
    * the returned pins all coexisted at one instant (any txn commit
    * flips every staged table together, so a stable re-read means no
    * flip happened inside the window). */
  def snapshotAll(spark: SparkSession,
                  tables: Seq[String]): Map[String, Int] = {
    var attempt = 0
    while (attempt < 100) {
      val pins = tables.map(t =>
        t -> Snapshots.latestVersion(spark, specOf(t).manifestRoot))
      val recheck = tables.map(t =>
        t -> Snapshots.latestVersion(spark, specOf(t).manifestRoot))
      if (pins == recheck) return pins.toMap
      attempt += 1
    }
    throw new IllegalStateException(
      "snapshotAll could not stabilize in 100 attempts — a writer is " +
        "committing continuously")
  }
}
