package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pin

/** ROW TRACKING — stable per-row identities that survive re-layout, the
  * Delta Lake "row tracking" feature (public contract: every data file
  * carries a `baseRowId`; a row's default id is `baseRowId + position`;
  * rewrites MATERIALIZE ids into a physical column so identity survives
  * compaction; a monotone high-water mark guarantees ids are never
  * reused). Row ids are what downstream CDC consumers, ML feature stores,
  * and incremental materializations key on when the table has no natural
  * primary key — and they must not churn when OPTIMIZE rewrites files.
  *
  * Implementation over the [[Snapshots]] version log, no engine changes:
  *
  *  - '''Fresh appends''' assign each staged file a `base_row_id` from the
  *    table's high-water mark (files ordered by name — deterministic), so
  *    a fresh row's id is `base_row_id + _metadata.row_index`: ZERO write
  *    amplification — ids are virtual, derived at read time from one
  *    manifest column plus the row's physical position.
  *  - '''Rewrites''' ([[compactTracked]]) read rows WITH their ids and
  *    write the id as a physical `_row_id` column (`rid_mat = true` in the
  *    manifest) — materialization is what lets a pure re-layout preserve
  *    identity while rows move across files and positions.
  *  - '''The high-water mark''' rides every manifest row as a constant
  *    `row_hw` column (commit metadata, O(files) like the manifest
  *    itself) and only ever increases — deleting or compacting away the
  *    file holding the max base id can never cause id reuse, because the
  *    next allocation reads `row_hw`, not `max(base_row_id + rows)`.
  *
  * Scale shape: allocation is file-count-bounded driver arithmetic over
  * the staged batch's manifest rows; reads add one broadcast join of the
  * (file → base) map — KBs — against `_metadata.file_path`; nothing is
  * ever renumbered. At 100 TB the id plane costs one BIGINT column on
  * rewritten files only.
  *
  * Reference anchor: the reference's warehouse MERGE keys on business
  * columns (`run_load.py:113-124`); row tracking is what a lakehouse
  * offers when no such key exists (and what `GENERATED ALWAYS AS
  * IDENTITY` keys resolve to under the hood in production formats).
  */
object RowTracking {

  /** Read the high-water mark from a manifest (0 for an untracked/empty
    * table). */
  private def highWater(m: DataFrame): Long =
    if (!m.columns.contains("row_hw")) 0L
    else m.agg(coalesce(max(col("row_hw")), lit(0L))).head().getLong(0)

  /** Z-ordered batch append with row-id assignment: lands like
    * [[Snapshots.appendCommit]] (constraint-gated), then allocates each
    * landed file a `base_row_id` from the high-water mark (files in name
    * order, offsets by cumulative row counts) and commits with `row_hw`
    * advanced by the batch's row total. A fresh root starts at 0. Returns
    * (version, files appended). */
  def appendTracked(spark: SparkSession, batch: DataFrame, cols: Seq[String],
                    path: String, manifestRoot: String,
                    nFiles: Int): (Int, Int) = {
    val prev = Snapshots.headOption(spark, manifestRoot).map(_.manifest)
    val hw = prev.map(highWater).getOrElse(0L)
    val moved = Snapshots.land(spark, path,
        gatedBy = prev.map(_ => manifestRoot))(
      Layout.zorderWrite(batch, cols, _, nFiles))
    val stats = Layout.buildManifestFor(spark, moved, cols)
    // (file, rows) in name order → cumulative base offsets; file-count-
    // bounded driver arithmetic, the same order both engines of a restart
    // would compute (names are the moved-in part files)
    val perFile = stats.select(col("file"), col("rows")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val bases = perFile.scanLeft(hw) { case (acc, (_, n)) => acc + n }
    val baseMap = perFile.map(_._1).zip(bases).toMap
    val hwNext = bases.last
    val baseOf = typedlit(baseMap)
    val fresh = stats
      .withColumn("base_row_id", element_at(baseOf, col("file")))
      .withColumn("rid_mat", lit(false))
    val next = prev.fold(fresh)(_.unionByName(fresh,
        allowMissingColumns = true))
      .withColumn("row_hw", lit(hwNext))
    (Snapshots.commit(spark, next, manifestRoot), moved.size)
  }

  /** The table at `version` WITH its `_row_id` column: materialized files
    * serve the physical column; fresh files derive `base_row_id +
    * _metadata.row_index` through a broadcast join of the (file → base)
    * map. The union is by name, so mixed snapshots (post-compaction table
    * plus later appends) read as one frame. */
  def readTracked(spark: SparkSession, manifestRoot: String,
                  version: Int): DataFrame = {
    val m = Pin.checkpoint(
      Snapshots.manifestAt(spark, manifestRoot, version))
    // deletion vectors are out of this path's scope: refuse loudly rather
    // than resurrect masked rows (a DV-aware read would thread
    // Dv.readLive's anti-join before the id derivation — positions are
    // still valid under masking since DVs never move surviving rows)
    if (m.columns.contains("dv"))
      require(m.filter(col("dv").isNotNull).isEmpty,
        "readTracked over a DV-masked snapshot — fold masks (compact) first")
    val entries = m.select(col("file"), col("rid_mat")).collect()
    val (mat, fresh) = entries.partition(_.getBoolean(1))
    val parts = Seq(
      if (fresh.isEmpty) None else Some {
        // (file → base) is O(manifest) — broadcast-joined, never a plan
        // literal, so a million-file table stays codegen-friendly
        val baseDf = m.filter(!col("rid_mat"))
          .select(col("file").as("_rt_file"), col("base_row_id"))
        spark.read.parquet(fresh.map(_.getString(0)): _*)
          .withColumn("_rt_path", col("_metadata.file_path"))
          .withColumn("_rt_pos", col("_metadata.row_index"))
          .join(broadcast(baseDf), col("_rt_path") === col("_rt_file"))
          .withColumn("_row_id", col("base_row_id") + col("_rt_pos"))
          .drop("_rt_path", "_rt_pos", "_rt_file", "base_row_id")
      },
      if (mat.isEmpty) None
      else Some(spark.read.parquet(mat.map(_.getString(0)): _*))
    ).flatten
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Compaction that PRESERVES row identity: reads the snapshot with ids,
    * rewrites into `nFiles` fresh z-ordered files carrying `_row_id` as a
    * physical column (`rid_mat = true`), and commits. `row_hw` propagates
    * unchanged — a re-layout allocates nothing. Returns (version, files
    * in, files out). */
  def compactTracked(spark: SparkSession, path: String, manifestRoot: String,
                     cols: Seq[String], nFiles: Int): (Int, Int, Int) = {
    val h = Snapshots.tableHead(spark, manifestRoot)
    val hw = highWater(h.manifest)
    val nIn = Pin.count(h.manifest).toInt
    val moved = Snapshots.land(spark, path, gatedBy = None)(
      Layout.zorderWrite(readTracked(spark, manifestRoot, h.version), cols,
        _, nFiles))
    val next = Layout.buildManifestFor(spark, moved, cols)
      .withColumn("base_row_id", lit(null).cast("long"))
      .withColumn("rid_mat", lit(true))
      .withColumn("row_hw", lit(hw))
    (Snapshots.commit(spark, next, manifestRoot), nIn, moved.size)
  }
}
