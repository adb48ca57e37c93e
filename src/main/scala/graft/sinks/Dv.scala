package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional DELETION VECTORS — merge-on-read deletes over the
  * [[Snapshots]] version log (the Delta deletion-vector / Iceberg
  * positional-delete model re-expressed on plain parquet).
  *
  * A copy-on-write delete ([[Snapshots.deleteWhere]]) pays a rewrite of
  * every file the predicate touches; fine for rare band deletes, wrong for
  * frequent small ones (GDPR erasure, dedup verdict application) where the
  * touch set is wide but the row count is tiny. Merge-on-read inverts the
  * cost: the delete commit writes only a DV sidecar — (file, row position)
  * pairs, positions being the parquet row ordinal `_metadata.row_index` —
  * and flips the affected manifest rows' `dv` column to the sidecar path.
  * Data files are immutable forever; a read subtracts the DV with an
  * anti-join on exactly the DV'd files. Compaction pays the rewrite later,
  * once, batched — and drops the DVs.
  *
  * Scale shape: the delete's write cost is O(deleted rows), not O(touched
  * bytes); the read-side anti-join runs ONLY over DV'd files (plain files
  * take the unmodified scan path) and joins against a DV bounded by the
  * table's accumulated deletes — broadcast-sized until compaction folds
  * it. The manifest stays the single planning object: `dv` is one nullable
  * string column, min/max stats remain valid superset bounds under
  * deletion (deletes only shrink a file's value set), so stats pruning is
  * untouched.
  *
  * Reference: the repo models Databricks table behavior the way
  * run_transform.py:1 consumes it; deletion vectors are the lake-side
  * delete mechanics a Databricks pipeline gets from Delta.
  */
object Dv {

  /** DV sidecar schema: the parquet file (as `_metadata.file_path` — the
    * same canonical form the manifests' `file` column uses) and the
    * 0-based parquet row ordinal within it. */
  val FileCol = "file"
  val PosCol = "pos"

  /** Normalize a manifest to carry the nullable `dv` column, so manifests
    * committed before the MoR tier joined (all-null dv) and after mix
    * freely in unions and diffs. */
  def ensureDv(m: DataFrame): DataFrame =
    if (m.columns.contains("dv")) m
    else m.withColumn("dv", lit(null).cast("string"))

  /** One manifest entry as planner data: data file path + optional DV
    * sidecar path. */
  final case class Entry(file: String, dv: Option[String])

  /** Collect (file, dv) entries from manifest rows — driver-side planner
    * work, file-count-bounded like every manifest read. */
  def entries(m: DataFrame): Seq[Entry] =
    ensureDv(m).select(col("file"), col("dv")).collect().toSeq
      .map(r => Entry(r.getString(0), Option(r.getString(1))))

  /** The live rows of the given manifest entries: plain files take the
    * direct scan; DV'd files are read with the parquet row ordinal and
    * anti-joined against their sidecars. Grouping by sidecar path reads
    * each DV once however many files share it (a MoR commit writes ONE
    * sidecar for its whole touch set). `mergeSchema` on every branch so a
    * snapshot spanning a schema evolution serves the superset schema on
    * the DV path exactly as on the plain path. */
  def readLive(spark: SparkSession, entries: Seq[Entry],
               declared: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    readLiveWithPos(spark, entries, declared).drop("_dv_f", "_dv_p")

  // Memo of assembled read plans, keyed on the EXACT (session, entries,
  // declared) triple. Data files and DV sidecars are immutable once a
  // manifest references them, and a DataFrame is an immutable lazy plan —
  // so the same entry set re-reads through the same plan instead of paying
  // plan assembly again per call (each assembly runs a mergeSchema footer
  // job + a file-index listing; DML queries re-read the same snapshot's
  // entries many times for gates/diffs/feeds). The session is part of the
  // key because the memoized plan is analyzed against (and pins scan conf
  // of) the session that assembled it — a second/restarted session must
  // assemble its own. LRU-bounded; emptied by [[MetaCache.forget]] on root
  // re-creation and vacuum (the only paths that delete referenced files).
  private type ReadLiveKey =
    (SparkSession, Seq[Entry], Option[org.apache.spark.sql.types.StructType])
  private val readLiveCache =
    new java.util.LinkedHashMap[ReadLiveKey, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[ReadLiveKey, DataFrame])
          : Boolean = size() > 512
    }

  private[sinks] def clearReadLiveCache(): Unit =
    readLiveCache.synchronized(readLiveCache.clear())

  /** Relation-level nullable normalization (what `DataType.asNullable`
    * does; it is `private[sql]`): file-based relations serve every field
    * nullable regardless of the writer's declared nullability. */
  private def relaxNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relaxNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = relaxNullable(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = relaxNullable(m.keyType),
        valueType = relaxNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** The Spark schema of ONE parquet file, read from its footer on the
    * DRIVER — semantically `spark.read.parquet(file).schema` (the embedded
    * `org.apache.spark.sql.parquet.row.metadata` Spark schema is honored
    * first, exactly as `ParquetFileFormat.readSchemaFromFooter` does, then
    * relation-level nullable normalization) WITHOUT the Spark job that
    * schema inference launches per call: `ParquetFileFormat.inferSchema`
    * runs `mergeSchemasInParallel`, one job + a gzip'd Hadoop-conf
    * broadcast each — the r19 profiler measured 48–64 such jobs per DML
    * query, the single largest job source after r18's manifest work.
    * Fidelity is pinned by DvFooterSchemaSpec (footer path == inference
    * path across every column type the engine writes). */
  private[sinks] def footerSchema(spark: SparkSession, file: String)
      : org.apache.spark.sql.types.StructType =
    readFooter(spark, org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file),
      spark.sparkContext.hadoopConfiguration)).schema

  /** One parquet part file as its footer describes it. */
  private[sinks] final case class Part(rows: Long,
                                       schema: org.apache.spark.sql.types.StructType)

  /** Open `in`'s footer once: its row count and [[footerSchema]]. */
  private def readFooter(spark: SparkSession,
                         in: org.apache.parquet.hadoop.util.HadoopInputFile)
      : Part = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val (rows, msg, kv) =
      try {
        val md = reader.getFooter.getFileMetaData
        (reader.getRecordCount, md.getSchema, md.getKeyValueMetaData)
      } finally reader.close()
    val fromMeta =
      Option(kv.get("org.apache.spark.sql.parquet.row.metadata")).flatMap(j =>
        scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption)
    val sch = fromMeta.getOrElse(
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(msg))
    Part(rows,
      relaxNullable(sch).asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** The part files of a FLAT dir (a manifest version or checkpoint, a DV
    * sidecar, a staging dir; `_`/`.` names skipped), each footer opened
    * once on the driver. None when the dir cannot be listed, holds a
    * nested dir (a parquet read would scan it too) or a footer cannot be
    * read. Nothing is memoized: a staging dir is renamed away right after
    * its read, and a manifest dir's rows are cached whole by the caller. */
  private[sinks] def flatParts(spark: SparkSession,
                               dir: String): Option[Seq[Part]] =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val conf = spark.sparkContext.hadoopConfiguration
      val listing = p.getFileSystem(conf).listStatus(p).toSeq.filterNot { st =>
        st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")
      }
      if (listing.exists(_.isDirectory)) None
      else Some(listing.map(st => readFooter(spark,
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The single schema shared by ALL of `files`, if they agree — each new
    * file costs one driver-side footer read (memoized thereafter); any
    * disagreement or read failure returns None so the caller falls back
    * to Spark's distributed mergeSchema. Files are immutable, so the
    * memo lives in [[MetaCache]] keyed by file path. */
  private def fileSchemas(spark: SparkSession, files: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] = try {
    var agreed: Option[org.apache.spark.sql.types.StructType] = None
    files.foreach { f =>
      val s = MetaCache.getOrElseUpdate(MetaCache.FileRoot, f)(
        footerSchema(spark, f))
      agreed match {
        case None => agreed = Some(s)
        case Some(a) if a == s => ()
        case _ => return None
      }
    }
    agreed
  } catch { case scala.util.control.NonFatal(_) => None }

  /** `spark.read.parquet(dir)` over a FLAT dir of part files with the
    * schema taken from their footers ([[flatParts]], read by the caller)
    * instead of one schema-inference job per call. The inferring read
    * stays the fallback when the footers disagree or `parts` is None, so
    * a missing dir fails exactly as before. */
  private[sinks] def readParts(spark: SparkSession, dir: String,
                               parts: Option[Seq[Part]]): DataFrame =
    parts.map(_.map(_.schema).distinct) match {
      case Some(Seq(sch)) => spark.read.schema(sch).parquet(dir)
      case _ => spark.read.parquet(dir)
    }

  /** [[readParts]] over `dir`'s own listing. */
  private[sinks] def readDir(spark: SparkSession, dir: String): DataFrame =
    readParts(spark, dir, flatParts(spark, dir))

  /** [[readLive]] with the row's provenance retained as `_dv_f` (canonical
    * file path) and `_dv_p` (parquet row ordinal) — what a delete needs to
    * turn matched rows into sidecar entries. The columns must be captured
    * ON the scan relation (`_metadata` resolves only there, not across the
    * joins/unions this frame goes through). */
  def readLiveWithPos(spark: SparkSession, entries: Seq[Entry],
                      declared: Option[org.apache.spark.sql.types.StructType]
                        = None): DataFrame = {
    val key = (spark, entries, declared)
    readLiveCache.synchronized(Option(readLiveCache.get(key))) match {
      case Some(df) => df
      case None =>
        val df = assembleReadLive(spark, entries, declared)
        readLiveCache.synchronized(readLiveCache.put(key, df)): Unit
        df
    }
  }

  private def assembleReadLive(spark: SparkSession, entries: Seq[Entry],
                               declared: Option[org.apache.spark.sql.types.StructType])
      : DataFrame = {
    require(entries.nonEmpty, "readLive needs at least one manifest entry")
    val plain = entries.collect { case Entry(f, None) => f }
    val masked = entries.collect { case Entry(f, Some(d)) => (f, d) }
    // `declared` pins the READ schema (nullable-relaxed) instead of
    // letting footer merge infer it — the TYPE-WIDENING read contract:
    // after `ALTER COLUMN … TYPE`, old narrow-typed files and new
    // wide-typed files coexist in one snapshot, footer merge would fail
    // on INT32 vs INT64, and Spark's parquet readers already serve the
    // widening promotions (int→long/double, float→double, decimal
    // precision growth) when handed the wide schema explicitly.
    def scan(files: Seq[String]): DataFrame = {
      val base = declared match {
        case Some(sch) =>
          val relaxed = org.apache.spark.sql.types.StructType(
            sch.fields.map(_.copy(nullable = true)))
          spark.read.schema(relaxed).parquet(files: _*)
        case None =>
          // mergeSchema launches a distributed footer-merge job per plan
          // assembly. Data files are immutable, so per-file schemas memoize;
          // when every file agrees (the overwhelmingly common case — only a
          // snapshot SPANNING a schema evolution mixes schemas) the agreed
          // schema is pinned explicitly, which reads one footer driver-side
          // at most per NEW file and no job. Disagreeing schemas keep the
          // distributed merge — identical semantics, it just costs the job.
          fileSchemas(spark, files) match {
            case Some(sch) => spark.read.schema(sch).parquet(files: _*)
            case None =>
              spark.read.option("mergeSchema", "true").parquet(files: _*)
          }
      }
      base
        .withColumn("_dv_f", col("_metadata.file_path"))
        .withColumn("_dv_p", col("_metadata.row_index").cast("long"))
    }
    val parts =
      (if (plain.isEmpty) Seq.empty[DataFrame] else Seq(scan(plain))) ++
        masked.groupBy(_._2).toSeq.map { case (dvPath, group) =>
          val data = scan(group.map(_._1))
          // restrict the sidecar to this group's files: other files may
          // share the sidecar but carry a NEWER dv in the same manifest
          val dv = readDir(spark, dvPath)
            .filter(col(FileCol).isInCollection(group.map(_._1)))
          data.join(dv,
              data("_dv_f") === dv(FileCol) && data("_dv_p") === dv(PosCol),
              "left_anti")
        }
    parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Write one DV sidecar under the table's `_dv/` dir (underscore-hidden:
    * plain parquet scans of the table path never see it) and return its
    * path. Coalesced to one part — a sidecar is O(deleted rows), planner-
    * adjacent data, not a table. */
  def writeSidecar(spark: SparkSession, tablePath: String,
                   dvRows: DataFrame): String = {
    val out = s"$tablePath/_dv/dv_${java.util.UUID.randomUUID()}"
    dvRows.select(col(FileCol), col(PosCol).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(out)
    out
  }

  /** The current mask rows of `files`, one read per sidecar, restricted
    * to those files (a sidecar is shared by its commit's whole touch set,
    * and other files may carry a NEWER sidecar in the same manifest). */
  private def priorMasks(spark: SparkSession,
                         files: Seq[Entry]): Seq[DataFrame] =
    files.collect { case Entry(f, Some(d)) => (f, d) }
      .groupBy(_._2).toSeq.map { case (dvPath, group) =>
        readDir(spark, dvPath)
          .filter(col(FileCol).isInCollection(group.map(_._1)))
      }

  /** Rows the current masks of `files` hide — what a manifest `rows` sum
    * over them must lose to count live rows. */
  private[sinks] def maskedRows(spark: SparkSession, files: Seq[Entry]): Long =
    priorMasks(spark, files).map(_.count()).sum

  /** Write the ONE sidecar that replaces the masks of `files`: their
    * CARRIED-FORWARD prior mask rows (the new pointer replaces the old one
    * on their manifest rows, so every earlier delete must ride along) plus
    * the `fresh` (file, pos) positions. Returns the sidecar path. */
  private[sinks] def remask(spark: SparkSession, tablePath: String,
                            files: Seq[Entry], fresh: DataFrame): String =
    writeSidecar(spark, tablePath,
      (priorMasks(spark, files) :+ fresh).reduce(_.unionByName(_)))

  /** `m` with the manifest rows of `files` pointing at `sidecar`. */
  private[sinks] def repoint(m: DataFrame, files: Seq[String],
                             sidecar: String): DataFrame =
    m.withColumn("dv",
      when(col("file").isInCollection(files), lit(sidecar))
        .otherwise(col("dv")))

  /** The (file, pos) sidecar columns of rows read by [[readLiveWithPos]]. */
  private[sinks] def positionCols(matched: DataFrame): DataFrame =
    matched.select(col("_dv_f").as(FileCol), col("_dv_p").as(PosCol))

  /** [[positionCols]] pinned: the positions feed the deleted-row count
    * AND the sidecar, and must not recompute once the manifest starts
    * moving. */
  private def positions(matched: DataFrame): DataFrame =
    positionCols(matched).localCheckpoint()

  /** MERGE-ON-READ targeted delete as a version commit. Plans the touch
    * set by manifest stats exactly like the copy-on-write twin, but
    * instead of staging survivor rewrites it:
    *
    *  1. reads the touched files' LIVE rows (existing DVs applied — a
    *     second delete on an already-masked file must extend, not reset,
    *     its mask) with file/ordinal attached,
    *  2. writes ONE sidecar = prior DV rows of the touched files ∪ the
    *     newly matched positions,
    *  3. commits vN+1 where only the touched manifest rows' `dv` pointer
    *     moved. Zero data files written, zero rewritten.
    *
    * Prior sidecars stay for pinned readers and other manifest rows that
    * still reference them; [[Snapshots.vacuum]] reclaims sidecars no
    * retained version references. Returns the commit and its evidence:
    * `filesMasked`/`filesTotal` (stats pruning still bounds the touch
    * set), `rowsDeleted` (newly masked positions), and `dataFilesWritten`
    * — structurally 0, the number the whole design exists to produce. */
  final case class MoRDeleteResult(version: Int, filesMasked: Long,
                                   filesTotal: Long, rowsDeleted: Long,
                                   dataFilesWritten: Long,
                                   filesDropped: Long = 0L)

  def deleteWhereMoR(spark: SparkSession, path: String, manifestRoot: String,
                     box: Seq[(String, Double, Double)]): MoRDeleteResult =
    deleteWhereMoRPred(spark, path, Snapshots.tableHead(spark, manifestRoot),
      Layout.intersectsExpr(box), Layout.inBoxExpr(box))

  /** [[deleteWhereMoR]] generalized to the (prune, predicate) pair the SQL
    * front door's typed compiler emits (see `Snapshots.deleteWherePred`
    * for the contract), plus the whole-file-drop `cover` proof: a file
    * whose stats + footer null counts prove EVERY row matches is REMOVED
    * from the manifest outright instead of masked (the Delta DV-mode
    * behavior for fully-matched files — masking a fully-dead file would
    * make every later read scan it just to anti-join everything away).
    * The remaining touched files take the sidecar mask as before; zero
    * data files are written on either path. */
  def deleteWhereMoRPred(spark: SparkSession, path: String,
                         at: Snapshots.TableHead,
                         prune: org.apache.spark.sql.Column,
                         pred: org.apache.spark.sql.Column,
                         cover: Option[(org.apache.spark.sql.Column, Seq[String])] = None)
      : MoRDeleteResult = {
    val total = Snapshots.localCount(at.manifest)
    val hit = entries(at.manifest.filter(prune))
    if (hit.isEmpty) return MoRDeleteResult(at.version, 0, total, 0, 0)
    val dropped = Snapshots.wholeFileDrops(spark, at.manifest, prune, cover)
    val mask = hit.filterNot(e => dropped.contains(e.file))
    // newly deleted among the files that stay = their live in-predicate
    // rows (null-predicate rows survive: filter(pred) keeps TRUE only)
    val fresh =
      if (mask.isEmpty) None
      else Some(positions(readLiveWithPos(spark, mask).filter(pred)))
    val freshRows = fresh.fold(0L)(_.count())
    if (freshRows == 0 && dropped.isEmpty)
      return MoRDeleteResult(at.version, 0, total, 0, 0)
    val next =
      if (freshRows == 0) at.manifest
      else repoint(at.manifest, mask.map(_.file),
        remask(spark, path, mask, fresh.get))
    MoRDeleteResult(Snapshots.swapCommit(spark, at.root, next,
        dropped.keys.toSeq, None),
      (if (freshRows == 0) 0 else mask.size).toLong, total,
      freshRows + dropped.values.sum, 0, dropped.size.toLong)
  }

  /** PLAN a MoR band delete against the current snapshot WITHOUT
    * committing — the optimistic-concurrency form: the returned
    * [[Snapshots.Txn]] carries the touched files as removes+readSet and
    * the re-pointed manifest rows (new sidecar already written — sidecars
    * are invisible until a manifest references them, so planning is
    * side-effect-free from a reader's view) as adds.
    * [[Snapshots.commitTxn]] then rebases it over any disjoint commits
    * that landed since, or raises [[Snapshots.CommitConflictException]]
    * if one of them invalidated a touched file — in which case the caller
    * re-plans from the fresh snapshot (the orphaned sidecar is vacuum
    * fodder). Returns None when the box misses every file. */
  def planDeleteMoR(spark: SparkSession, path: String, manifestRoot: String,
                    box: Seq[(String, Double, Double)])
      : Option[(Snapshots.Txn, Long)] = {
    val h = Snapshots.tableHead(spark, manifestRoot)
    val hit = entries(h.manifest.filter(Layout.intersectsExpr(box)))
    if (hit.isEmpty) return None
    val fresh = positions(readLiveWithPos(spark, hit)
      .filter(Layout.inBoxExpr(box)))
    val rowsDeleted = fresh.count()
    if (rowsDeleted == 0) return None
    val hitFiles = hit.map(_.file).toSet
    // the pinned head makes the re-pointed rows immutable already
    val adds = h.manifest.filter(col("file").isInCollection(hitFiles.toSeq))
      .withColumn("dv", lit(remask(spark, path, hit, fresh)))
    Some((Snapshots.Txn(h.version, hitFiles, Some(adds), hitFiles),
      rowsDeleted))
  }

  /** Point-delete by KEY (the GDPR / dedup-verdict shape): mask exactly
    * the rows whose `key` value is in `keys`, planning the touch set by
    * manifest [min,max] stats on `key`. Same commit mechanics as
    * [[deleteWhereMoR]]; the matcher is a semi-join against the
    * (broadcast-sized) key set instead of a box predicate — O(deleted
    * rows) written regardless of how many files the keys scatter across,
    * which is precisely where copy-on-write loses.
    *
    * `deltaCommit = true` commits LOG-STRUCTURED ([[Snapshots.commitDelta]]):
    * only the re-pointed manifest rows are written, as upserts — the commit
    * is O(touched files) instead of O(table files), the natural pairing for
    * this delete shape (tiny row count, frequent cadence). Verdicts are
    * identical either way; readers fold transparently. */
  def deleteKeysMoR(spark: SparkSession, path: String, manifestRoot: String,
                    key: String, keys: DataFrame,
                    deltaCommit: Boolean = false): MoRDeleteResult = {
    val h = Snapshots.tableHead(spark, manifestRoot)
    val manifest = h.manifest
    val total = Snapshots.localCount(manifest)
    // Stats-prune the touch set ONLY when the manifest actually carries
    // [min,max] stats for the delete key — a manifest built with stats for
    // other columns (or none) degrades to the full file set. Correctness
    // never depended on the prune: the semi-join below masks exactly the
    // matching rows either way; stats only bound how many files get read.
    val hasKeyStats = manifest.columns.contains(s"min_$key") &&
      manifest.columns.contains(s"max_$key")
    val hitFiles =
      if (!hasKeyStats)
        manifest.select(col("file")).collect().map(_.getString(0)).toSeq
      else {
        val k = keys.select(col(key).cast("double").as("k")).distinct()
          .localCheckpoint()
        k.join(broadcast(manifest.select(col("file"),
              col(s"min_$key").cast("double").as("lo"),
              col(s"max_$key").cast("double").as("hi"))),
            col("k") >= col("lo") && col("k") <= col("hi"))
          .select(col("file")).distinct()
          .collect().map(_.getString(0)).toSeq
      }
    if (hitFiles.isEmpty) return MoRDeleteResult(h.version, 0, total, 0, 0)
    val hit = entries(manifest.filter(col("file").isInCollection(hitFiles)))
    val fresh = positions(readLiveWithPos(spark, hit)
      .join(keys.select(col(key)).distinct(), Seq(key), "left_semi"))
    val rowsDeleted = fresh.count()
    if (rowsDeleted == 0) return MoRDeleteResult(h.version, 0, total, 0, 0)
    val sidecar = remask(spark, path, hit, fresh)
    val committed =
      if (deltaCommit)
        Snapshots.commitDelta(spark, manifestRoot,
          Some(manifest.filter(col("file").isInCollection(hitFiles))
            .withColumn("dv", lit(sidecar))))
      else
        Snapshots.commit(spark, repoint(manifest, hitFiles, sidecar),
          manifestRoot)
    MoRDeleteResult(committed, hitFiles.size.toLong, total, rowsDeleted, 0)
  }

  /** PURGE deletion vectors (the Delta `REORG TABLE ... APPLY (PURGE)`
    * shape): rewrite ONLY the masked files' LIVE rows into fresh clean
    * files and commit a manifest where those rows reference the new files
    * with no dv pointer; unmasked files are untouched, so the purge's
    * cost tracks the MASKED set, not table size. Read-side economics:
    * after a purge, scans pay no anti-join against sidecars — the purge
    * is what converts MoR's cheap-write debt back into clean-read files
    * once enough masks accumulate. Prior versions still MoR-read through
    * their sidecars until [[Snapshots.vacuum]] expires them. Row-identical
    * rewrite means the purge commit is INVISIBLE to the change feed —
    * live(old masked files) and the new files annihilate in the multiset
    * diff, the same pure-re-layout contract as compaction. */
  final case class PurgeResult(version: Int, filesPurged: Long,
                               filesTotal: Long, dataFilesWritten: Long)

  def purgeDv(spark: SparkSession, path: String, manifestRoot: String,
              cols: Seq[String]): PurgeResult = {
    val h = Snapshots.tableHead(spark, manifestRoot)
    val total = Snapshots.localCount(h.manifest)
    val masked = entries(h.manifest.filter(col("dv").isNotNull))
    if (masked.isEmpty) return PurgeResult(h.version, 0, total, 0)
    // an empty landing means every masked file was fully dead
    val moved = Snapshots.land(spark, path, gatedBy = None)(
      readLive(spark, masked).write.parquet(_))
    PurgeResult(Snapshots.swapCommit(spark, manifestRoot, h.manifest,
        masked.map(_.file), Snapshots.statsFor(spark, moved, cols)),
      masked.size.toLong, total, moved.size.toLong)
  }
}
