package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.Pin

/** Versioned manifests over a [[Layout]] — snapshot isolation, time-travel
  * reads, and vacuum on plain parquet, the table-format (Delta/Iceberg)
  * metadata model re-expressed with the file-stats manifest as the commit
  * object.
  *
  * The flat-manifest flavor ([[Layout.deleteWhere]]) swaps the single
  * manifest in place and physically deletes superseded files, so only the
  * latest table state is readable. Here every commit writes a NEW manifest
  * version under `manifestRoot/v=N` and superseded data files are RETAINED:
  * a reader pinned to version N sees exactly the files N references —
  * a complete, immutable snapshot — regardless of later deletes/appends.
  * Storage is reclaimed explicitly by [[vacuum]], which drops expired
  * versions and deletes only data files no retained version references.
  *
  * Commit protocol: the next manifest is written to a hidden uniquely-named
  * temp dir and `rename`d to `v=N` — readers list versions and see N fully
  * or not at all (the same single-rename visibility [[Layout.deleteWhere]]
  * uses for its swap). Concurrent writers are arbitrated by the rename
  * itself as a compare-and-swap on the version number: on a store with
  * atomic rename, renaming onto an existing (non-empty) `v=N` fails, and
  * the loser retries with the next free version — its already-staged
  * manifest, re-targeted. Losing a race never loses an update; it can at
  * worst commit a manifest computed against a stale parent (write-write
  * conflicts between concurrent delete/compact jobs need real conflict
  * detection, which daily batch cadence doesn't — see [[commit]]).
  *
  * Scale shape: a version is one file-count-bounded parquet manifest, so
  * the version log grows by O(files) per commit, never O(rows); time-travel
  * planning is a manifest read (driver work bounded by file count, like any
  * catalog); vacuum is a set-difference over file NAMES across retained
  * manifests plus per-file FS deletes — no data scan at any step.
  */
object Snapshots {

  final case class VacuumResult(filesDeleted: Long, versionsDropped: Long)

  private def hfs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VersionDir = "v=(\\d+)".r
  private val CkptDir = "ckpt=(\\d+)".r
  private val DeltaMarker = "_delta"
  private val ActionCol = "action"
  private val TsPrefix = "_ts_"
  private val CmapPrefix = "_cmap_"
  private val AddColPrefix = "_addcol_"
  private val CkPrefix = "_ck_"
  private val CopyPrefix = "_copy_"
  private val TagPrefix = "_txn_"

  /** Committed version numbers, ascending (empty for a fresh root) — the
    * listing every reader starts from, and so the one place the root's
    * cached metadata resets: a head LOWER than the highest this JVM has
    * seen means the root was deleted and re-created behind its back
    * (another process, plain FS calls), and every entry describes the old
    * log. */
  def versions(spark: SparkSession, manifestRoot: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(manifestRoot)
    val fs = hfs(spark, manifestRoot)
    val vs =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.collect {
        case st if st.isDirectory =>
          st.getPath.getName match {
            case VersionDir(n) => Some(n.toInt)
            case _ => None
          }
      }.flatten.sorted
    val head = vs.lastOption.getOrElse(0)
    val seen = MetaCache.get[Int](manifestRoot, "head").getOrElse(0)
    if (head < seen) MetaCache.forget(manifestRoot)
    if (head > 0 && head != seen) MetaCache.put(manifestRoot, "head", head)
    vs
  }

  // ------------------------------------------------------------------
  // THE VERSION-DIR READER — table metadata rides each commit as
  // underscore-prefixed markers inside its `v=N` dir: properties, column
  // mapping, CHECK set, ADD COLUMN types, COPY INTO keys, tags, the `_ts_`
  // stamp, `_delta`, `_schema.json` and the txn pending marker. Every read
  // of them goes through [[markerNames]] (ONE listing per committed
  // version) and three resolvers over it: [[inForce]] (superseding kinds),
  // [[accumulated]] (accumulating kinds) and [[tags]].
  // ------------------------------------------------------------------

  /** The underscore-prefixed names in `v=N`, sorted — listed ONCE per
    * (root, v) and memoized in [[MetaCache]]. Sound because a committed
    * version dir is immutable: the CAS rename is its last write, except
    * [[vacuum]]'s marker re-homing, which forgets the root after it.
    * Keeping only `_`-names also leaves out part files and a lost rename's
    * transient `.tmp_` nest. A dir that is not there lists as empty and
    * is not stored. */
  private def markerNames(spark: SparkSession, manifestRoot: String,
                          v: Int): Seq[String] =
    listedNames(spark, manifestRoot, v).getOrElse(Seq.empty)

  /** [[markerNames]], or None when `v=N` is not there. */
  private def listedNames(spark: SparkSession, manifestRoot: String,
                          v: Int): Option[Seq[String]] =
    MetaCache.get[Seq[String]](manifestRoot, ("names", v)).orElse {
      try {
        val names = hfs(spark, manifestRoot)
          .listStatus(new org.apache.hadoop.fs.Path(s"$manifestRoot/v=$v"))
          .toSeq.map(_.getPath.getName).filter(_.startsWith("_")).sorted
        MetaCache.put(manifestRoot, ("names", v), names)
        Some(names)
      } catch { case _: java.io.FileNotFoundException => None }
    }

  /** The newest version ≤ `v` carrying a `prefix` marker, with all of its
    * `prefix` markers (a map may chunk across several) — "the marker in
    * force at v" for every superseding kind, resolved over the caller's
    * root `listing` (evaluated only on a miss). Memoized once `v` is
    * committed: no later commit can change what is in force at it. */
  private def inForce(spark: SparkSession, manifestRoot: String, v: Int,
                      prefix: String,
                      listing: => Seq[Int]): Option[(Int, Seq[String])] = {
    val key = ("inForce", prefix, v)
    MetaCache.get[Option[(Int, Seq[String])]](manifestRoot, key).getOrElse {
      val vs = listing
      val hit = vs.reverseIterator.filter(_ <= v)
        .map(x => x -> markerNames(spark, manifestRoot, x)
          .filter(_.startsWith(prefix)))
        .find(_._2.nonEmpty)
      if (vs.lastOption.exists(_ >= v)) MetaCache.put(manifestRoot, key, hit)
      hit
    }
  }

  /** Every `prefix` marker of every version ≤ `v`, oldest first — the
    * accumulating kinds (ADD COLUMN types, COPY INTO keys). */
  private def accumulated(spark: SparkSession, manifestRoot: String, v: Int,
                          prefix: String, listing: Seq[Int]): Seq[String] =
    listing.filter(_ <= v).flatMap(x =>
      markerNames(spark, manifestRoot, x).filter(_.startsWith(prefix)))

  /** Every commit tag starting `prefix`, as (version, rest of the tag),
    * newest version first — the one reader behind [[versionForTag]] and
    * the consumer cursors derived from tags (CDC mirrors, SCD2 targets,
    * materialized views). */
  private[graft] def tags(spark: SparkSession, manifestRoot: String,
                         prefix: String): Iterator[(Int, String)] =
    versions(spark, manifestRoot).reverseIterator.flatMap(v =>
      markerNames(spark, manifestRoot, v).collect {
        case n if n.startsWith(TagPrefix + prefix) =>
          v -> n.stripPrefix(TagPrefix + prefix)
      })

  /** The body of content marker `name` in `v=N`, if listed there. */
  private def markerContent(spark: SparkSession, manifestRoot: String, v: Int,
                            name: String): Option[String] =
    Option.when(markerNames(spark, manifestRoot, v).contains(name)) {
      val in = hfs(spark, manifestRoot).open(
        new org.apache.hadoop.fs.Path(s"$manifestRoot/v=$v", name))
      try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    }

  def latestVersion(spark: SparkSession, manifestRoot: String): Int =
    tableHead(spark, manifestRoot).version

  /** The [[TableHead]] of `manifestRoot`: the newest txn-visible version
    * of ONE root listing. */
  def tableHead(spark: SparkSession, manifestRoot: String): TableHead = {
    val vs = versions(spark, manifestRoot)
    require(vs.nonEmpty, s"no committed versions under $manifestRoot")
    // CROSS-TABLE TXN visibility: a version staged by [[graft.sql.LakeTxn]]
    // carries a pending marker and is INVISIBLE until its transaction's
    // single commit file exists — that file creation is the one atomic
    // instant at which every table's staged version appears together.
    // Pending stages can only occupy the log TAIL (commitStaged refuses
    // to build past an unresolved one), so this walk is O(1) amortized:
    // resolved states memoize, an unresolved head re-checks one file.
    new TableHead(spark, manifestRoot, vs,
      vs.reverseIterator.find(v => txnVisible(spark, manifestRoot, v))
        .getOrElse(throw new IllegalStateException(
          s"every version under $manifestRoot is an unresolved or aborted " +
            "transaction stage — nothing visible to read")))
  }

  /** A table's head as one statement sees it: the visible `version`, the
    * root `listing` it was resolved from, and the metadata in force at
    * that version — properties, column mapping, CHECK set and declared
    * schema — each resolved over that same listing, on first use. A
    * statement resolves it once per table ([[tableHead]]: one root
    * listing) and hands it to every reader and writer of the table; the
    * DML planners also read its pinned `manifest`. A head built for a
    * named version ([[headAt]]) takes its listing only when a marker
    * lookup misses its memo or the version is empty. */
  final class TableHead private[Snapshots] (spark: SparkSession,
      val root: String, listed: => Seq[Int], val version: Int) {
    lazy val listing: Seq[Int] = listed
    lazy val props: Map[String, String] =
      Props.at(spark, root, version, listing).getOrElse(Map.empty)
    lazy val mapping: Option[Map[String, String]] =
      Cmap.at(spark, root, version, listing)
    lazy val checks: Map[String, String] =
      Ck.at(spark, root, version, listing).getOrElse(Map.empty)
    /** The manifest at `version`, DV-normalized and pinned with
      * [[graft.Pin.checkpoint]] on first use (only a DML planner uses it), so a
      * planner never sees a commit that lands while it works. */
    lazy val manifest: DataFrame =
      Pin.checkpoint(Dv.ensureDv(manifestAt(spark, root, version)))
    lazy val schema: Option[StructType] =
      inForce(spark, root, version, SchemaMarker, listing).map { case (v, _) =>
        MetaCache.getOrElseUpdate(root, ("schema", v)) {
          org.apache.spark.sql.types.DataType.fromJson(
            markerContent(spark, root, v, SchemaMarker).get)
            .asInstanceOf[StructType]
        }
      }

    /** The same table pinned at version `v` (`VERSION AS OF`), over this
      * head's listing. */
    def at(v: Int): TableHead = new TableHead(spark, root, listing, v)

    /** This head after the statement's own commit landed at `v`: the
      * slots between this listing's tail and `v` were taken by commits
      * the CAS loop raced past, so the listing extends without a fresh
      * root listing. */
    def after(v: Int): TableHead = new TableHead(spark, root,
      listing ++ (listing.lastOption.getOrElse(0) + 1 to v), v)
  }

  /** `manifestRoot` at `version`, listing the root only on a memo miss. */
  private def headAt(spark: SparkSession, manifestRoot: String,
                     version: Int): TableHead =
    new TableHead(spark, manifestRoot, versions(spark, manifestRoot), version)

  /** Content-marker filename a cross-table txn stage travels in (body =
    * txn dir + txn id, newline-separated). */
  private[graft] val TxnPendingMarker = "_txn_pending.txt"

  /** The (txnDir, txnId) of a pending-staged version, if any. */
  private[graft] def pendingInfo(spark: SparkSession, manifestRoot: String,
                                 v: Int): Option[(String, String)] =
    markerContent(spark, manifestRoot, v, TxnPendingMarker).map { body =>
      val Array(dir, id) = body.split("\n", 2)
      (dir, id)
    }

  // (root, v) → resolved visibility in [[MetaCache]]. Only RESOLVED
  // states of a version dir that is there are stored (plain version →
  // true; txn committed → true; txn aborted → false); an unresolved
  // pending stage re-checks its txn file every call because the commit
  // file can appear at any moment.
  private[graft] def txnVisible(spark: SparkSession, manifestRoot: String,
                                v: Int): Boolean =
    MetaCache.get[Boolean](manifestRoot, ("txn", v)).getOrElse {
      // a slot no dir holds yet resolves nothing: a txn stage may land
      // there later (a failed read of a future version must not poison it)
      val there = listedNames(spark, manifestRoot, v).isDefined
      val resolved = pendingInfo(spark, manifestRoot, v) match {
        case None => Some(true)
        case Some((dir, id)) =>
          val fs = hfs(spark, dir)
          if (fs.exists(new org.apache.hadoop.fs.Path(dir, s"commit_$id")))
            Some(true)
          else if (fs.exists(new org.apache.hadoop.fs.Path(dir, s"abort_$id")))
            Some(false)
          else None // unresolved: re-check next call, never memoize
      }
      if (there) resolved.foreach(MetaCache.put(manifestRoot, ("txn", v), _))
      resolved.getOrElse(false)
    }

  /** True when version `v` is a txn stage whose transaction is neither
    * committed nor aborted — the one state a concurrent committer must
    * never build past (landing a manifest above it silently buries the
    * staged content when its txn later commits). */
  private def unresolvedStage(spark: SparkSession, manifestRoot: String,
                              v: Int): Boolean =
    pendingInfo(spark, manifestRoot, v).exists { case (dir, id) =>
      val f = hfs(spark, dir)
      !f.exists(new org.apache.hadoop.fs.Path(dir, s"commit_$id")) &&
        !f.exists(new org.apache.hadoop.fs.Path(dir, s"abort_$id"))
    }

  /** Committed AND txn-visible versions, ascending — the version set
    * every READER (batch pin, stream discovery, delta fold) must walk:
    * pending/aborted txn stages occupy version slots in the raw log but
    * are not part of table history (an unresolved stage becomes history
    * only at its txn's commit instant; an aborted one never does). */
  private[graft] def visibleVersions(spark: SparkSession,
                                     manifestRoot: String): Seq[Int] =
    versions(spark, manifestRoot)
      .filter(v => txnVisible(spark, manifestRoot, v))

  /** Commit `manifest` as the next version; returns the number it actually
    * landed at. The write stages once into a hidden uniquely-named temp dir
    * (two racing committers must never share a staging path), then loops
    * the rename as a compare-and-swap: if `v=N` already exists — or the
    * rename fails because another writer won it between the existence check
    * and the rename — the committer retries the SAME staged manifest at the
    * next version number. Bounded retries so a broken store surfaces as an
    * error, not a spin. */
  def commit(spark: SparkSession, manifest: DataFrame,
             manifestRoot: String, tag: Option[String] = None,
             markers: Seq[String] = Seq.empty,
             contentFiles: Seq[(String, String)] = Seq.empty): Int =
    commitStaged(spark, manifest, manifestRoot, tag, delta = false, markers,
      contentFiles)

  /** The CAS-rename loop behind [[commit]] (full manifests) and
    * [[commitDelta]] (log-structured commits): stage the version dir
    * once, then claim the next free slot, retrying the SAME staged dir one
    * slot higher after each lost race. Bounded retries so a broken store
    * surfaces as an error, not a spin. */
  private def commitStaged(spark: SparkSession, content: DataFrame,
                           manifestRoot: String, tag: Option[String],
                           delta: Boolean,
                           markers: Seq[String] = Seq.empty,
                           contentFiles: Seq[(String, String)] = Seq.empty)
      : Int = {
    // ONE listing serves the tail check, the stamp and the first slot
    val vs = versions(spark, manifestRoot)
    // write-write conflict with an in-flight cross-table transaction:
    // committing past an unresolved stage would silently bury it when
    // its txn commits — refuse loudly (before staging anything); the txn
    // owner resolves first.
    require(!vs.lastOption.exists(last =>
        !txnVisible(spark, manifestRoot, last) &&
          unresolvedStage(spark, manifestRoot, last)),
      s"$manifestRoot head is an unresolved cross-table transaction " +
        "stage — concurrent write refused (commit or abort the " +
        "transaction first)")
    val staged = stageVersion(spark, manifestRoot, vs, content, tag, delta,
      markers, contentFiles)
    var next = vs.lastOption.getOrElse(0) + 1
    var attempts = 0
    while (attempts < 100) {
      attempts += 1
      // the tail was checked once BEFORE the loop — a concurrent
      // txn stage can take a version slot between that check and any
      // rename attempt here (lost CAS or stale versions() read), and
      // landing our manifest past it would silently bury the staged
      // content when its txn commits. Pending stages are tail-only, so
      // re-checking the slot directly below the one we are about to take
      // closes every such path.
      require(next <= 1 ||
        !unresolvedStage(spark, manifestRoot, next - 1),
        s"$manifestRoot v=${next - 1} is an unresolved cross-table " +
          "transaction stage that landed mid-commit — concurrent write " +
          "refused (commit or abort the transaction first)")
      if (claimSlot(spark, manifestRoot, staged, next)) return next
      next += 1
    }
    throw new IllegalStateException(
      s"version commit gave up after $attempts attempts under $manifestRoot")
  }

  /** A staged, not yet visible manifest dir, plus the rows it holds when
    * they were staged from the driver (they warm the cache on a win). */
  private final case class Staged(dir: org.apache.hadoop.fs.Path,
                                  rows: Option[(StructType, Array[Row])])

  /** Stage `content` as ONE parquet part file in a hidden, uniquely-named
    * dir under the root (two racing committers never share one).
    * DRIVER-SIDE write when the content is cache-bounded and simply-typed
    * ([[stageManifestLocal]]): a manifest is file-count-bounded planner
    * metadata (the Delta commit-log shape — Delta writes its JSON commit
    * from the driver too), and a Spark write job per commit was the single
    * largest fixed cost of every DML version commit. Oversized or
    * exotically-typed manifests keep the distributed write. */
  private def stageManifest(spark: SparkSession, manifestRoot: String,
                            content: DataFrame): Staged = {
    val tmp = new org.apache.hadoop.fs.Path(
      s"$manifestRoot/.tmp_${java.util.UUID.randomUUID()}")
    val rows = stageManifestLocal(spark, content, tmp)
    if (rows.isEmpty)
      content.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    Staged(tmp, rows)
  }

  /** Stage a whole version dir: the manifest plus every marker that must
    * become visible with it. Each marker is underscore-prefixed (parquet
    * readers skip it) and travels INSIDE the staged dir, so content and
    * classification appear in the same atomic rename — a version is never
    * observable untagged, unclassified or unstamped. `vs` is a listing of
    * the log taken just before: the stamp follows its newest stamp. */
  private def stageVersion(spark: SparkSession, manifestRoot: String,
                           vs: Seq[Int],
                           content: DataFrame, tag: Option[String],
                           delta: Boolean, markers: Seq[String],
                           contentFiles: Seq[(String, String)]): Staged = {
    val fs = hfs(spark, manifestRoot)
    val staged = stageManifest(spark, manifestRoot, content)
    def put(name: String, body: String = ""): Unit = {
      require(name.startsWith("_"), s"marker must be underscore-prefixed: $name")
      val out = fs.create(new org.apache.hadoop.fs.Path(staged.dir, name), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    tag.foreach(t => put(s"_txn_$t"))
    if (delta) put(DeltaMarker)
    // the commit TIMESTAMP (the Delta in-commit-timestamp model): stamped
    // strictly after the latest existing stamp so single-writer logs
    // resolve `AS OF <timestamp>` unambiguously even when two commits land
    // within one clock tick. (Racing writers can still interleave stamps
    // out of version order — resolution is max-version-at-or-below-
    // timestamp, matching Delta.)
    put(TsPrefix + math.max(System.currentTimeMillis(),
      vs.flatMap(commitTimestamp(spark, manifestRoot, _)).maxOption
        .getOrElse(0L) + 1))
    markers.foreach(put(_))
    // CONTENT-bearing markers (the declared schema JSON, a txn's pending
    // marker — bodies that do not fit a filename)
    contentFiles.foreach { case (name, body) => put(name, body) }
    staged
  }

  /** Claim slot `n` for a staged version — the rename IS the
    * compare-and-swap. On a win, a v=1 commit forgets the root's cached
    * metadata (a root BEGINNING — fresh, or re-created at a path whose old
    * life left entries behind; version numbers restart, so stale (root, v)
    * entries would otherwise be served; every initialization path
    * converges here), and driver-staged rows warm the new version's
    * manifest entry so the first post-commit read is job-free (after the
    * forget, never before it). On a loss the staged dir stays for the next
    * attempt. */
  private def claimSlot(spark: SparkSession, manifestRoot: String,
                        staged: Staged, n: Int): Boolean = {
    val won = renameOnto(hfs(spark, manifestRoot), staged.dir,
      new org.apache.hadoop.fs.Path(s"$manifestRoot/v=$n"))
    if (won) {
      if (n == 1) MetaCache.forget(manifestRoot)
      staged.rows.foreach { case (schema, rows) =>
        // asNullable: lit()-built staging columns are non-nullable but a
        // fresh parquet read of the committed version serves an
        // all-nullable schema — cached and uncached readers of one version
        // must observe the identical schema
        val relaxed = StructType(schema.fields.map(_.copy(nullable = true)))
        cacheManifest(manifestRoot, ("manifest", n), relaxed, rows)
      }
    }
    won
  }

  /** Rename `src` onto `dest` if `dest` does not exist; false on a lost
    * race. Some local FSes "succeed" a rename onto an existing dir by
    * moving the source INSIDE it — that is a loss too: the nesting is
    * undone, so `src` is intact for a retry. */
  private def renameOnto(fs: org.apache.hadoop.fs.FileSystem,
                         src: org.apache.hadoop.fs.Path,
                         dest: org.apache.hadoop.fs.Path): Boolean =
    !fs.exists(dest) && fs.rename(src, dest) && {
      val nested = new org.apache.hadoop.fs.Path(dest, src.getName)
      if (fs.exists(nested)) {
        require(fs.rename(nested, src), s"un-nest failed: $nested")
        false
      } else true
    }

  /** The version whose commit carried `tag`, if any — the idempotence
    * lookup for exactly-once writers (the Delta txnAppId/txnVersion
    * contract re-expressed on the version log): an at-least-once appender
    * tags each commit with its batch id, and a replay that finds the tag
    * already committed skips the append instead of double-writing. Driver
    * work is a walk over the memoized marker names ([[tags]]). */
  def versionForTag(spark: SparkSession, manifestRoot: String,
                    tag: String): Option[Int] =
    tags(spark, manifestRoot, tag).collectFirst { case (v, "") => v }

  /** The wall-clock commit stamp (epoch millis) of `version`, if stamped —
    * the `_ts_<millis>` marker that rode the commit's atomic rename.
    * Versions committed before timestamping existed return None and are
    * invisible to timestamp resolution. */
  def commitTimestamp(spark: SparkSession, manifestRoot: String,
                      version: Int): Option[Long] =
    markerNames(spark, manifestRoot, version)
      .collectFirst { case n if n.startsWith(TsPrefix) =>
        n.stripPrefix(TsPrefix).toLong }

  /** `AS OF <timestamp>` resolution: the LAST visible version whose stamp
    * is at or below `tsMillis` (the Delta/Iceberg timestamp-travel
    * contract; a pending or aborted txn stage is stamped but is not table
    * history). Rejects a timestamp earlier than every stamped commit —
    * "before the table existed" must be an error, not an empty table. Pass
    * the result to [[manifestAt]]/[[tableAt]]/[[readAt]]; timestamp travel
    * is a resolution step, not a second read path. */
  def versionAtTimestamp(spark: SparkSession, manifestRoot: String,
                         tsMillis: Long): Int =
    versionAtTimestamp(spark, tableHead(spark, manifestRoot), tsMillis)

  /** [[versionAtTimestamp]] over the listing of a statement's head. */
  def versionAtTimestamp(spark: SparkSession, at: TableHead,
                         tsMillis: Long): Int = {
    val stamped = at.listing.filter(txnVisible(spark, at.root, _))
      .flatMap(v => commitTimestamp(spark, at.root, v).map(v -> _))
    require(stamped.nonEmpty, s"no timestamped versions under ${at.root}")
    val atOrBefore = stamped.filter(_._2 <= tsMillis)
    require(atOrBefore.nonEmpty,
      s"timestamp $tsMillis predates the first commit " +
        s"(${stamped.map(_._2).min}) under ${at.root}")
    atOrBefore.map(_._1).max
  }

  /** True when `v=N` is a log-structured delta commit (adds/removes) rather
    * than a full manifest — classified by the `_delta` marker that rode the
    * commit's atomic rename. */
  def isDelta(spark: SparkSession, manifestRoot: String, version: Int): Boolean =
    markerNames(spark, manifestRoot, version).contains(DeltaMarker)

  /** LOG-STRUCTURED COMMIT — the Delta-log model: instead of writing the
    * whole manifest every commit (O(table files) write volume, which a
    * frequent writer on a wide table cannot afford), commit only the CHANGE:
    * `adds` as manifest rows (an add for a file already in the table is an
    * UPSERT — how a MoR delete re-points a `dv` without touching the rest)
    * and `removes` as bare file names. Readers reconstruct any version by
    * folding deltas over the nearest full manifest or [[writeCheckpoint]]
    * at or below it — transparently, inside [[manifestAt]], so time travel,
    * CDC, pruning, and vacuum all work unchanged over delta commits.
    *
    * Scale shape: commit cost is O(commit delta) in both write volume and
    * planner work — the previous manifest is never read. Read-side fold
    * cost is bounded by checkpoint cadence (every K commits a checkpoint
    * re-bases the log), the same amortization Delta's `_last_checkpoint`
    * buys. A fresh root must start with a FULL commit (or carry a
    * checkpoint): a delta chain with no base is unreadable by construction
    * and [[manifestAt]] rejects it. */
  def commitDelta(spark: SparkSession, manifestRoot: String,
                  adds: Option[DataFrame], removes: Seq[String] = Seq.empty,
                  tag: Option[String] = None): Int = {
    require(adds.nonEmpty || removes.nonEmpty, "empty delta commit")
    import spark.implicits._
    val addRows = adds.map(a =>
      Dv.ensureDv(a).withColumn(ActionCol, lit("add")))
    val removeRows =
      if (removes.isEmpty) None
      else Some(removes.toDF("file").withColumn(ActionCol, lit("remove")))
    val delta = (addRows.toSeq ++ removeRows.toSeq)
      .reduce(_.unionByName(_, allowMissingColumns = true))
    commitStaged(spark, delta, manifestRoot, tag, delta = true)
  }

  /** Checkpoint versions present under the root, ascending. A checkpoint
    * `ckpt=N` is the MATERIALIZED full manifest of version N — a derived
    * cache object, not a commit: writing one never creates a version, and
    * any reader folding to a version ≥ N may start from it instead of
    * walking the delta chain below. */
  def checkpoints(spark: SparkSession, manifestRoot: String): Seq[Int] = {
    val root = new org.apache.hadoop.fs.Path(manifestRoot)
    val fs = hfs(spark, manifestRoot)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case CkptDir(n) => Some(n.toInt)
          case _ => None
        }
    }.flatten.sorted
  }

  /** Materialize the full manifest of `version` as `ckpt=version`.
    * Idempotent and race-safe without coordination: the content is a pure
    * function of the (immutable) log prefix, so two writers racing to the
    * same checkpoint stage identical bytes and the rename loser simply
    * discards its copy. */
  def writeCheckpoint(spark: SparkSession, manifestRoot: String,
                      version: Int): Unit = {
    val fs = hfs(spark, manifestRoot)
    val dest = new org.apache.hadoop.fs.Path(s"$manifestRoot/ckpt=$version")
    if (fs.exists(dest)) return
    val staged = stageManifest(spark, manifestRoot,
      manifestAt(spark, manifestRoot, version))
    if (!renameOnto(fs, staged.dir, dest))
      fs.delete(staged.dir, true) // lost a benign race
  }

  /** How [[manifestAt]] would reconstruct `version`: the base it folds from
    * (a full version or a checkpoint) and how many delta commits sit on
    * top. The gate-visible evidence that checkpoints actually re-base the
    * log (`deltasFolded` drops back to the post-checkpoint tail). */
  // ------------------------------------------------------------------
  // MANIFEST CACHE — a committed version dir is IMMUTABLE, so the
  // collected manifest rows of a (root, version) — and the delta FOLD over
  // an explicit visible version set — are served from [[MetaCache]]
  // instead of re-running a parquet scan job per planner read (the
  // Delta/Iceberg snapshot-state cache re-expressed on the version log:
  // every DML query reads its table's manifest dozens of times for
  // touch-set planning, gates, change feeds and stream admission). A
  // manifest of more than [[MetaCache.MaxEntryRows]] rows is never
  // collected (a 100 TB table's manifest stays a distributed read), and a
  // per-serve existence probe makes a DROPped-but-not-recreated root fail
  // exactly like the uncached read.
  // ------------------------------------------------------------------

  private def cacheManifest(manifestRoot: String, key: Product,
                            schema: StructType, rows: Array[Row]): Unit =
    MetaCache.put(manifestRoot, key, (schema, rows), rows.length.max(1).toLong)

  /** Stage `content` into `tmpDir` as ONE parquet part file written from
    * the DRIVER (parquet-mr Group writer — no Spark job), when every
    * column is a simple primitive and the row count is cache-bounded.
    * Returns the (schema, rows) staged so the committer can warm the
    * manifest cache, or None when the caller must fall back to the
    * distributed write. Types written match Spark's own parquet writer
    * for these primitives (BINARY+STRING / INT64 / INT32 / DOUBLE /
    * FLOAT / BOOLEAN, all optional), so a reader cannot tell the two
    * staging paths apart. */
  private def stageManifestLocal(spark: SparkSession, content: DataFrame,
                                 tmpDir: org.apache.hadoop.fs.Path)
      : Option[(StructType, Array[Row])] = {
    import org.apache.spark.sql.types._
    val schema = content.schema
    val simple = schema.fields.forall(_.dataType match {
      case StringType | LongType | IntegerType | DoubleType | FloatType |
           BooleanType => true
      case _ => false
    })
    if (!simple || schema.isEmpty) return None
    // only when every row already sits on the driver ([[graft.Pin.rows]]: the
    // shape cached manifests, footer manifest builds and their unions
    // produce) — no Spark job at all. A distributed content plan
    // (scan-fallback stats build, un-cached fold) keeps the parallel
    // write: collecting it first would serialize the computation through
    // one partition.
    val local = Pin.rows(content).getOrElse(return None)
    if (local.length > MetaCache.MaxEntryRows) return None
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    val rows = local.map(r => toRow(r).asInstanceOf[Row]).toArray
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types => PTypes}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val builder = PTypes.buildMessage()
    schema.fields.foreach { f =>
      val leaf = f.dataType match {
        case StringType =>
          PTypes.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case LongType => PTypes.optional(INT64)
        case IntegerType => PTypes.optional(INT32)
        case DoubleType => PTypes.optional(DOUBLE)
        case FloatType => PTypes.optional(FLOAT)
        case BooleanType => PTypes.optional(BOOLEAN)
        case other => throw new IllegalStateException(s"unreachable: $other")
      }
      builder.addField(leaf.named(f.name))
    }
    val msg = builder.named("spark_schema")
    val conf = spark.sparkContext.hadoopConfiguration
    val file = new org.apache.hadoop.fs.Path(tmpDir,
      s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    hfs(spark, tmpDir.toString).mkdirs(tmpDir)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, conf))
      .withType(msg)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(msg)
      var i = 0
      while (i < schema.length) {
        if (!r.isNullAt(i)) schema(i).dataType match {
          case StringType => g.add(i, r.getString(i))
          case LongType => g.add(i, r.getLong(i))
          case IntegerType => g.add(i, r.getInt(i))
          case DoubleType => g.add(i, r.getDouble(i))
          case FloatType => g.add(i, r.getFloat(i))
          case BooleanType => g.add(i, r.getBoolean(i))
          case _ => ()
        }
        i += 1
      }
      writer.write(g)
    } finally writer.close()
    Some((schema, rows))
  }

  /** Serve `build`'s rows from the cache under `key`, populating it on
    * miss with ONE straight collect job — or pass `build` through
    * untouched when `probeDir` no longer exists or the parquet footers of
    * `probeDir` + `inputDirs` hold more than [[MetaCache.MaxEntryRows]]
    * rows (or cannot be read). That footer sum is an exact upper bound on
    * the rows `build` yields (a fold never outgrows its inputs), so an
    * oversized manifest is never collected. (A `limit(cap + 1)` collect
    * would instead run executeTake's incremental partition waves: several
    * jobs per miss.) Each input dir is listed and its footers opened once
    * per miss: `build` reads a dir through the `read` it is handed, which
    * takes the schema from those same footers. */
  private def cachedManifestDf(spark: SparkSession, manifestRoot: String,
                               key: Product, probeDir: String,
                               inputDirs: Seq[String] = Seq.empty)
                              (build: (String => DataFrame) => DataFrame)
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    val exists = hfs(spark, probeDir)
      .exists(new org.apache.hadoop.fs.Path(probeDir))
    if (exists)
      MetaCache.get[(StructType, Array[Row])](manifestRoot, key)
        .foreach { case (schema, rows) =>
          return spark.createDataFrame(rows.toSeq.asJava, schema)
        }
    val parts = (probeDir +: inputDirs).distinct
      .map(d => d -> (if (exists) Dv.flatParts(spark, d) else None)).toMap
    val df = build(d => Dv.readParts(spark, d, parts(d)))
    val bound = parts.values.foldLeft(Option(0L)) { (acc, ps) =>
      for (a <- acc; p <- ps) yield a + p.map(_.rows).sum }
    if (!bound.exists(_ <= MetaCache.MaxEntryRows)) return df
    val rows = df.collect()
    cacheManifest(manifestRoot, key, df.schema, rows)
    spark.createDataFrame(rows.toSeq.asJava, df.schema)
  }

  /** The raw content of ONE committed version dir — a full manifest, or a
    * delta commit's add/remove rows — served through the manifest cache. */
  private def versionRows(spark: SparkSession, manifestRoot: String,
                          v: Int): DataFrame = {
    val dir = s"$manifestRoot/v=$v"
    cachedManifestDf(spark, manifestRoot, ("manifest", v), dir)(_(dir))
  }

  final case class FoldInfo(base: Int, baseIsCheckpoint: Boolean,
                            deltasFolded: Int)

  def foldInfo(spark: SparkSession, manifestRoot: String,
               version: Int): FoldInfo = {
    // visible versions only: an ABORTED txn stage occupies a version slot
    // with a full manifest that was never table history — choosing it as
    // the fold base (or counting it in the delta tail) would serve the
    // aborted content to every read of a later delta commit
    val vs = visibleVersions(spark, manifestRoot).filter(_ <= version)
    require(vs.contains(version), s"version $version not committed")
    val fulls = vs.filterNot(isDelta(spark, manifestRoot, _))
    val ckpts = checkpoints(spark, manifestRoot).filter(_ <= version)
    require(fulls.nonEmpty || ckpts.nonEmpty,
      s"version $version is an unreadable delta chain: no full manifest or " +
        s"checkpoint at or below it under $manifestRoot — a fresh root must " +
        "start with a full commit")
    val base = (fulls ++ ckpts).max
    FoldInfo(base, baseIsCheckpoint = !fulls.contains(base),
      vs.count(v => v > base))
  }

  /** The manifest of `version`. A full commit reads directly; a delta
    * commit folds: nearest base (full version or checkpoint) ≤ N, then
    * last-action-wins per file across the delta tail — an `add` upserts
    * the file's row, a `remove` drops it. Sound because data files are
    * immutable and never re-added under the same name after a remove. All
    * inputs are file-count-bounded manifests; the fold is one window over
    * their union. */
  def manifestAt(spark: SparkSession, manifestRoot: String,
                 version: Int): DataFrame = {
    // TXN VISIBILITY for pinned reads: a version staged by an unresolved
    // or aborted cross-table txn is not table history — an explicit
    // `VERSION AS OF` of it must refuse loudly, not leak pre-publish (or
    // never-published) content
    require(txnVisible(spark, manifestRoot, version),
      s"version $version of $manifestRoot is a cross-table transaction " +
        "stage that is not (or never became) visible — reads serve only " +
        "committed history")
    if (!isDelta(spark, manifestRoot, version))
      return versionRows(spark, manifestRoot, version)
    val info = foldInfo(spark, manifestRoot, version)
    val deltaVs = visibleVersions(spark, manifestRoot)
      .filter(v => v > info.base && v <= version)
    // the fold is keyed on its COMPLETE input set (base + visible delta
    // versions): visibility changes (a txn stage resolving) change the
    // set and therefore the key, so a cached fold can never serve a
    // different-visibility answer
    cachedManifestDf(spark, manifestRoot,
      ("fold", version, info.base, info.baseIsCheckpoint, deltaVs.toList),
      s"$manifestRoot/v=$version",
      inputDirs = (if (info.baseIsCheckpoint) s"$manifestRoot/ckpt=${info.base}"
        else s"$manifestRoot/v=${info.base}") +:
        deltaVs.map(v => s"$manifestRoot/v=$v")) { read =>
      val baseDf = (if (info.baseIsCheckpoint)
          read(s"$manifestRoot/ckpt=${info.base}")
        else versionRows(spark, manifestRoot, info.base))
        .withColumn(ActionCol, lit("add")).withColumn("_v", lit(info.base))
      val deltas = deltaVs
        .map(v => versionRows(spark, manifestRoot, v).withColumn("_v", lit(v)))
      val all = (baseDf +: deltas)
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("file").orderBy(col("_v").desc)
      all.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && col(ActionCol) === "add")
        .drop(ActionCol, "_v", "_rn")
    }
  }

  /** The complete table as of `version`: exactly the files that version's
    * manifest references (the snapshot read — later deletes/appends are
    * invisible because their files are not in this manifest). Schemas are
    * MERGED across the version's files (footer union — file-count-bounded
    * planner work), so a version that mixes pre- and post-evolution files
    * serves the superset schema with nulls for the rows that predate a
    * column, while a version pinned before the evolution never shows the
    * column at all — schema evolution rides the same snapshot mechanics
    * as data DML, no rewrite. */
  def tableAt(spark: SparkSession, manifestRoot: String,
              version: Int): DataFrame =
    tableAt(spark, headAt(spark, manifestRoot, version))

  /** [[tableAt]] at a statement's head (or a version pinned through it). */
  def tableAt(spark: SparkSession, at: TableHead): DataFrame = {
    val entries = Dv.entries(manifestAt(spark, at.root, at.version))
    if (entries.nonEmpty) Dv.readLive(spark, entries, at.schema)
    else {
      // EMPTY version — reachable once a covering DELETE can drop every
      // file, or from birth via CREATE TABLE ([[createEmptyTable]]). The
      // manifest stores stats, not schema, so serve a zero-row frame with
      // the schema of the nearest EARLIER non-empty version (its files
      // are the last schema authority; limit(0) folds to an empty
      // LocalRelation — footers only, no data read). A declared-schema
      // table that has never held data serves its DECLARED schema (the
      // `graft.schema` table property CREATE TABLE commits); a table with
      // neither has no schema to serve and fails loudly.
      at.listing.filter(v => v < at.version && txnVisible(spark, at.root, v))
        .sorted.reverse.view
        .map(v => Dv.entries(manifestAt(spark, at.root, v)))
        .find(_.nonEmpty) match {
        case Some(prior) => Dv.readLive(spark, prior, at.schema).limit(0)
        case None =>
          val declared = at.schema.getOrElse(throw new IllegalStateException(
              s"version ${at.version} of ${at.root} references no files, no " +
                "prior version does either, and no declared schema is " +
                "recorded — empty table with unknowable schema"))
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), declared)
      }
    }
  }

  /** [[Layout.prunedRead]] against a pinned version's manifest: stats-pruned
    * AND time-traveled in one plan. */
  def readAt(spark: SparkSession, manifestRoot: String, version: Int,
             ranges: Seq[(String, Double, Double)]): Layout.PrunedScan = {
    val m = manifestAt(spark, manifestRoot, version)
    val total = Pin.count(m)
    val hit = Dv.entries(m.filter(Layout.intersectsExpr(ranges)))
    val df =
      if (hit.isEmpty) tableAt(spark, manifestRoot, version).filter(lit(false))
      else Dv.readLive(spark, hit,
          declaredSchemaAt(spark, manifestRoot, version))
        .filter(Layout.inBoxExpr(ranges))
    Layout.PrunedScan(df, hit.size.toLong, total)
  }

  /** Targeted delete as a VERSION COMMIT: survivors of the manifest-
    * intersecting files are staged and moved in (same mechanics as
    * [[Layout.deleteWhere]]), then a new manifest version referencing
    * unaffected + survivor files is committed. The superseded files are
    * NOT deleted — prior versions still reference them, so time travel
    * keeps working until [[vacuum]] expires those versions. */
  def deleteWhere(spark: SparkSession, path: String, manifestRoot: String,
                  cols: Seq[String],
                  box: Seq[(String, Double, Double)]): Layout.DeleteResult =
    deleteWherePred(spark, path, manifestRoot, cols,
      Layout.intersectsExpr(box), Layout.inBoxExpr(box))

  /** [[deleteWhere]] generalized from the numeric box to an arbitrary
    * (prune, predicate) pair — the shape the SQL front door's TYPED
    * predicate compiler targets (string equality, date ranges, IN lists):
    * `prune` is a manifest-side expression over the `min_`/`max_` stats
    * columns that must select a SUPERSET of the files containing matching
    * rows (stats can only over-include; correctness never depends on
    * them), and `pred` is the exact row predicate deciding which rows die.
    * Same commit mechanics as the box form: touched files' LIVE rows are
    * read (DV-masked rows stay dead and the mask folds away), survivors
    * staged and moved in, vN+1 = (manifest − touched) ∪ survivor stats.
    *
    * `cover` is the optional WHOLE-FILE DROP proof (the retention-delete
    * fast path — at 100 TB a date-keyed `DELETE … WHERE d < cutoff` on a
    * date-clustered table should DROP the interior files metadata-only
    * and rewrite only the boundary): a manifest-side expression proving
    * every NON-null row of a file satisfies `pred`, plus the stats
    * columns whose null-freedom completes the proof (checked against the
    * parquet footers' null counts — file-count-bounded, no data read). A
    * file passing both proofs leaves the manifest without being opened:
    * its deleted-row count is served from the manifest `rows` column.
    * DV-masked files never whole-drop (their manifest stats include dead
    * rows the proof must not lean on) and take the rewrite as before;
    * files failing either proof likewise — the cover only ever REMOVES
    * work, never changes which rows die. */
  def deleteWherePred(spark: SparkSession, path: String, manifestRoot: String,
                      cols: Seq[String], prune: org.apache.spark.sql.Column,
                      pred: org.apache.spark.sql.Column,
                      cover: Option[(org.apache.spark.sql.Column, Seq[String])] = None)
      : Layout.DeleteResult =
    deleteWherePred(spark, path, tableHead(spark, manifestRoot), cols, prune,
      pred, cover)

  def deleteWherePred(spark: SparkSession, path: String, at: TableHead,
                      cols: Seq[String], prune: org.apache.spark.sql.Column,
                      pred: org.apache.spark.sql.Column,
                      cover: Option[(org.apache.spark.sql.Column, Seq[String])])
      : Layout.DeleteResult = {
    val total = Pin.count(at.manifest)
    val hit = Dv.entries(at.manifest.filter(prune))
    if (hit.isEmpty) return Layout.DeleteResult(0, total, 0)
    val dropped = wholeFileDrops(spark, at.manifest, prune, cover)
    val rewrite = hit.filterNot(e => dropped.contains(e.file))
    // survivors come from the LIVE rows (existing deletion vectors
    // applied — a copy-on-write rewrite of a masked file must not
    // resurrect its masked rows); the rewrite also FOLDS the DV away: the
    // new files carry no mask
    lazy val live = Dv.readLive(spark, rewrite, at.schema)
    // survivors = NOT(pred), with null-match rows kept: a WHERE that
    // evaluates to null on a row must not delete it (SQL three-valued
    // logic — DELETE removes rows where the predicate is TRUE)
    val moved =
      if (rewrite.isEmpty) Seq.empty[String]
      else land(spark, path, gatedBy = None)(
        live.filter(!coalesce(pred, lit(false))).write.parquet(_))
    val survivorStats = statsFor(spark, moved, cols)
    // deleted = live(rewrite set) − survivors, by ARITHMETIC, not a second
    // data scan: every live row is either pred-TRUE (deleted) or not
    // (written out), so the counts close the books. Live rows of an
    // UNMASKED file are its manifest `rows`; a DV-masked file's live count
    // needs its mask size, so that (rare post-purge) shape keeps the
    // counting scan. Survivor rows come from the new files' manifest stats
    // (footer reads — no job). This halves the data read of every
    // copy-on-write DELETE: one pass instead of count-then-rewrite. A file
    // whose `rows` stat is null cannot close the books either, so it also
    // takes the counting scan.
    val arithmetic =
      if (rewrite.isEmpty) Some(0L)
      else if (rewrite.forall(_.dv.isEmpty)) {
        for {
          liveRows <- Pin.longSum(at.manifest
            .filter(col("file").isInCollection(rewrite.map(_.file))), "rows")
          survivorRows <-
            survivorStats.map(Pin.longSum(_, "rows")).getOrElse(Some(0L))
        } yield liveRows - survivorRows
      } else None
    val deleted = arithmetic.getOrElse(live.filter(pred).count())
    swapCommit(spark, at.root, at.manifest, hit.map(_.file), survivorStats)
    Layout.DeleteResult(rewrite.size.toLong, total,
      deleted + dropped.values.sum, dropped.size.toLong)
  }

  final case class TruncateResult(version: Int, rowsDeleted: Long,
                                  filesDropped: Long)

  /** TRUNCATE — remove EVERY live row as one metadata-only commit: the
    * next version simply references no files. No predicate means no
    * coverage proof is needed (nulls included, every row dies), so
    * nothing is read or rewritten — sidecars are opened only to report
    * the live-row count (mask-size-bounded, never data). Dropped files
    * and their sidecars stay on disk for pinned readers until [[vacuum]];
    * reads of the empty version serve a zero-row frame with the prior
    * version's schema ([[tableAt]]), and later INSERTs refill normally. */
  def truncateCommit(spark: SparkSession, at: TableHead)
      : TruncateResult = {
    val files = Pin.count(at.manifest)
    if (files == 0) return TruncateResult(at.version, 0, 0)
    val phys = at.manifest.agg(sum(col("rows"))).head().getLong(0)
    // masked rows are already dead
    val masked = Dv.maskedRows(spark, Dv.entries(at.manifest))
    val v = commit(spark, at.manifest.filter(lit(false)), at.root)
    TruncateResult(v, phys - masked, files)
  }

  final case class FsckResult(version: Int, filesMissing: Long,
                              filesTotal: Long, rowsLost: Long)

  /** FSCK — repair a table whose manifest references data files that no
    * longer exist on disk (an external delete, a crashed manual cleanup,
    * a partial restore): status-probe every manifest entry (driver-side,
    * file-count-bounded — the listing cost any planner already pays) and
    * commit a new HEAD referencing only the files still present. Pure
    * metadata: nothing is read or written besides the manifest. The lost
    * LIVE rows (manifest counts minus any deletion-vector masks on the
    * missing files) are reported as `rowsLost` so the caller knows the
    * blast radius before re-ingesting. Prior versions keep referencing
    * the missing files and stay broken if pinned — repair moves the HEAD
    * forward; history keeps the truth and [[vacuum]] eventually expires
    * it. `dryRun` runs the same probe and returns the would-be result
    * plus the missing-file list WITHOUT committing. */
  def fsckCommit(spark: SparkSession, manifestRoot: String,
                 dryRun: Boolean = false): (FsckResult, Seq[String]) = {
    val h = tableHead(spark, manifestRoot)
    val total = Pin.count(h.manifest)
    val conf = spark.sparkContext.hadoopConfiguration
    val missing = h.manifest.select(col("file"), col("rows"), col("dv"))
      .collect().filterNot { r =>
        val p = new org.apache.hadoop.fs.Path(r.getString(0))
        p.getFileSystem(conf).exists(p)
      }
    if (missing.isEmpty) return (FsckResult(h.version, 0, total, 0), Seq.empty)
    val files = missing.map(_.getString(0)).toSeq
    val masked = Dv.maskedRows(spark,
      missing.map(r => Dv.Entry(r.getString(0), Option(r.getString(2)))).toSeq)
    val lost = missing.map(_.getLong(1)).sum - masked
    if (dryRun)
      return (FsckResult(h.version, files.size.toLong, total, lost), files)
    val nv = swapCommit(spark, manifestRoot, h.manifest, files, None)
    (FsckResult(nv, files.size.toLong, total, lost), files)
  }

  /** The whole-file drop set for a DML touch set: manifest rows matching
    * `prune && cover`, unmasked (a DV'd file's stats include dead rows
    * the proof must not lean on), whose parquet footers prove the
    * cover's stats columns null-free — as file → row count (all live,
    * all provably matching, so the whole count is the file's deleted-row
    * contribution). A file without its `rows` stat is left out, so it
    * takes the rewrite path. See [[deleteWherePred]] for the proof
    * contract. */
  private[sinks] def wholeFileDrops(spark: SparkSession, manifest: DataFrame,
                                    prune: org.apache.spark.sql.Column,
                                    cover: Option[(org.apache.spark.sql.Column, Seq[String])])
      : Map[String, Long] = cover match {
    case Some((cov, needCols)) =>
      val cand = manifest
        .filter(prune && cov && col("dv").isNull && col("rows").isNotNull)
        .select(col("file"), col("rows")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val proven = Layout.nullFreeFiles(spark, cand.keys.toSeq, needCols)
      cand.view.filterKeys(proven).toMap
    case None => Map.empty
  }

  final case class UpdateResult(filesRewritten: Long, filesTotal: Long,
                                rowsUpdated: Long)

  /** Targeted UPDATE as a version commit — the Delta `UPDATE … WHERE`
    * shape completing the DML matrix next to [[deleteWhere]]/
    * [[mergeCommit]]: the touch set is the manifest-∩-box files (stats
    * pruning, never a table rewrite), their LIVE rows are rewritten with
    * `assignments` applied to in-box rows — every right-hand side
    * evaluates against the PRE-update row (one simultaneous projection,
    * never sequential column mutation, the SQL UPDATE contract) — rows
    * outside the box in touched files pass through unchanged, and
    * vN+1 = (manifest − touched) ∪ new-file stats. A DV-masked touched
    * file is rewritten from its live rows only (the mask folds away, no
    * resurrection). Superseded files stay for pinned readers until
    * [[vacuum]]. Stats columns MAY be assigned: the new files' manifest
    * stats are recomputed from the rewritten rows. */
  def updateWhere(spark: SparkSession, path: String, manifestRoot: String,
                  cols: Seq[String], box: Seq[(String, Double, Double)],
                  assignments: Map[String, org.apache.spark.sql.Column]): UpdateResult =
    updateWherePred(spark, path, tableHead(spark, manifestRoot), cols,
      Layout.intersectsExpr(box), Layout.inBoxExpr(box), assignments)

  /** [[updateWhere]] generalized to a (prune, predicate) pair — see
    * [[deleteWherePred]] for the contract: `prune` over-selects touched
    * files from manifest stats, `pred` is the exact row predicate gating
    * each assignment (null-predicate rows pass through unchanged, the SQL
    * three-valued UPDATE contract). */
  def updateWherePred(spark: SparkSession, path: String, at: TableHead,
                      cols: Seq[String], prune: org.apache.spark.sql.Column,
                      pred: org.apache.spark.sql.Column,
                      assignments: Map[String, org.apache.spark.sql.Column]): UpdateResult = {
    require(assignments.nonEmpty, "UPDATE with no assignments")
    val total = Pin.count(at.manifest)
    val hit = Dv.entries(at.manifest.filter(prune))
    if (hit.isEmpty) return UpdateResult(0, total, 0)
    val live = Dv.readLive(spark, hit, at.schema)
    val lower = assignments.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    val unknown = lower.keySet.diff(
      live.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
    require(unknown.isEmpty,
      s"UPDATE assigns unknown column(s) ${unknown.mkString(", ")} " +
        s"(table has ${live.columns.mkString(", ")})")
    val updated = live.filter(pred).count()
    val rewritten = live.select(live.columns.toIndexedSeq.map { c =>
      lower.get(c.toLowerCase(java.util.Locale.ROOT))
        .map(rhs => when(coalesce(pred, lit(false)), rhs).otherwise(col(c)).as(c))
        .getOrElse(col(c))
    }: _*)
    val moved = land(spark, path, gatedBy = Some(at.root))(
      rewritten.write.parquet(_))
    swapCommit(spark, at.root, at.manifest, hit.map(_.file),
      statsFor(spark, moved, cols))
    UpdateResult(hit.size.toLong, total, updated)
  }

  final case class MoRUpdateResult(version: Int, filesMasked: Long,
                                   filesTotal: Long, rowsUpdated: Long,
                                   filesAppended: Long)

  /** MERGE-ON-READ targeted UPDATE — the write-heavy twin of
    * [[updateWherePred]] (the Delta DV-mode UPDATE shape): instead of
    * rewriting every touched file, ONE commit (a) masks the matched rows
    * via a deletion-vector sidecar and (b) appends ONLY their updated
    * versions as new z-ordered files. Cost tracks O(matched rows), never
    * O(touched-file bytes) — at 100 TB an UPDATE matching 1 % of the
    * rows in every file stops being a table rewrite. Assignments
    * evaluate against the PRE-update row in one simultaneous projection
    * (every row here matched, so no per-row `when` gate is needed);
    * unmatched rows in touched files are never rewritten. The staged
    * update files pass the same CHECK-constraint validation as every
    * other write path BEFORE the sidecar or manifest move anything;
    * files with no matched rows keep their existing mask pointer
    * untouched. `REORG … APPLY (PURGE)` repays the mask debt later. */
  def updateWhereMoRPred(spark: SparkSession, path: String,
                         at: TableHead, cols: Seq[String],
                         prune: org.apache.spark.sql.Column,
                         pred: org.apache.spark.sql.Column,
                         assignments: Map[String, org.apache.spark.sql.Column],
                         nFiles: Int): MoRUpdateResult = {
    require(assignments.nonEmpty, "UPDATE with no assignments")
    val total = Pin.count(at.manifest)
    val hit = Dv.entries(at.manifest.filter(prune))
    if (hit.isEmpty) return MoRUpdateResult(at.version, 0, total, 0, 0)
    val live = Dv.readLiveWithPos(spark, hit, at.schema)
    val dataCols = live.columns.toIndexedSeq
      .filterNot(c => c == "_dv_f" || c == "_dv_p")
    val lower = assignments.map { case (k, a) =>
      k.toLowerCase(java.util.Locale.ROOT) -> a }
    val unknown = lower.keySet.diff(
      dataCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
    require(unknown.isEmpty,
      s"UPDATE assigns unknown column(s) ${unknown.mkString(", ")} " +
        s"(table has ${dataCols.mkString(", ")})")
    // pin: the matched set feeds the count, the staged payload, AND the
    // sidecar — it must not recompute after the manifest starts moving
    val matched = live.filter(coalesce(pred, lit(false))).localCheckpoint()
    val rowsUpdated = matched.count()
    if (rowsUpdated == 0) return MoRUpdateResult(at.version, 0, total, 0, 0)
    // (b) the updated payload, staged and constraint-checked FIRST — a
    // violating update aborts before anything becomes visible
    val updatedRows = matched.select(dataCols.map(c =>
      lower.get(c.toLowerCase(java.util.Locale.ROOT))
        .map(_.as(c)).getOrElse(col(c))): _*)
    val moved = land(spark, path, gatedBy = Some(at.root))(
      Layout.zorderWrite(updatedRows, cols, _, nFiles))
    // (a) mask exactly the matched rows' files
    val maskFiles = matched.select(col("_dv_f")).distinct()
      .collect().map(_.getString(0)).toSeq
    val sidecar = Dv.remask(spark, path,
      hit.filter(e => maskFiles.contains(e.file)),
      Dv.positionCols(matched))
    MoRUpdateResult(swapCommit(spark, at.root,
        Dv.repoint(at.manifest, maskFiles, sidecar), Nil,
        statsFor(spark, moved, cols)),
      maskFiles.size.toLong, total, rowsUpdated, moved.size.toLong)
  }

  /** Z-ordered batch APPEND as a version commit — the versioned twin of
    * [[Layout.appendWithManifest]], closing the {append, delete, compact}
    * × versioned matrix. The batch is z-ordered by its own quantile bounds
    * and staged OUTSIDE the table dir, the staged part files are moved in,
    * and vN+1 = vN ∪ the new files' stats is committed; base files are
    * never touched or rescanned. Staging-then-move (rather than a direct
    * `mode("append")` write + listing diff) is what makes the append
    * ATOMIC under versioning: a crash before the commit leaves data files
    * that NO manifest references — invisible to every pinned read and
    * reclaimed by [[vacuum]] — instead of files a later listing diff would
    * silently adopt into someone else's commit. Returns (version,
    * appended file count). */
  def appendCommit(spark: SparkSession, batch: DataFrame, cols: Seq[String],
                   path: String, manifestRoot: String, nFiles: Int,
                   tag: Option[String] = None,
                   markers: Seq[String] = Seq.empty,
                   contentFiles: Seq[(String, String)] = Seq.empty)
      : (Int, Int) =
    appendCommit(spark, batch, cols, path, tableHead(spark, manifestRoot),
      nFiles, tag, markers, contentFiles)

  def appendCommit(spark: SparkSession, batch: DataFrame, cols: Seq[String],
                   path: String, at: TableHead, nFiles: Int,
                   tag: Option[String], markers: Seq[String],
                   contentFiles: Seq[(String, String)]): (Int, Int) = {
    val moved = land(spark, path, gatedBy = Some(at.root))(
      Layout.zorderWrite(batch, cols, _, nFiles))
    (swapCommit(spark, at.root, at.manifest, Nil,
      statsFor(spark, moved, cols), tag, markers, contentFiles), moved.size)
  }

  /** LAND one write into the table's DATA dir without committing any
    * manifest — the one staging path every writer takes. `write` fills a
    * fresh, uniquely-named staging dir (two writers never share one, so a
    * concurrent writer's in-flight files are never overwritten or adopted);
    * when `gatedBy` names a manifest root, the staged rows must pass that
    * table's constraint set ([[enforceStagedConstraints]]); then every part
    * file moves in and the staging dir is dropped. New rows are gated;
    * survivor and re-layout rewrites only move rows the table already
    * holds, so they pass None. Returns the landed file paths. A crash
    * after this leaves only unreferenced files (invisible to every read,
    * reclaimed by [[vacuum]]) — which is also what lets optimistic
    * transactions land first and commit the manifest later. */
  private[graft] def land(spark: SparkSession, path: String,
                          gatedBy: Option[String])
                         (write: String => Unit): Seq[String] = {
    val staging = s"$path.staging_${java.util.UUID.randomUUID()}"
    write(staging)
    gatedBy.foreach(enforceStagedConstraints(spark, _, staging))
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = hfs(spark, path)
    // part-file names embed the writing job's UUID, so moves from distinct
    // jobs never collide
    val moved = fs.listStatus(new org.apache.hadoop.fs.Path(staging)).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map { st =>
        val dest = new org.apache.hadoop.fs.Path(dir, st.getPath.getName)
        require(fs.rename(st.getPath, dest), s"move failed: ${st.getPath}")
        dest.toString
      }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    moved
  }

  /** Manifest rows (stats over `cols`) for freshly landed files; None
    * when nothing landed. */
  private[graft] def statsFor(spark: SparkSession, files: Seq[String],
                              cols: Seq[String]): Option[DataFrame] =
    if (files.isEmpty) None else Some(Layout.buildManifestFor(spark, files, cols))

  /** The one MANIFEST SWAP every DML planner ends with: vN+1 = `base`
    * minus the `removed` files, plus the `added` manifest rows, committed
    * as the next version (see [[commit]]). Returns the version it landed
    * at. */
  private[graft] def swapCommit(spark: SparkSession, manifestRoot: String,
                                base: DataFrame, removed: Seq[String],
                                added: Option[DataFrame],
                                tag: Option[String] = None,
                                markers: Seq[String] = Seq.empty,
                                contentFiles: Seq[(String, String)] = Seq.empty)
      : Int =
    commit(spark, swapped(base, removed, added), manifestRoot, tag, markers,
      contentFiles)

  private def swapped(base: DataFrame, removed: Seq[String],
                      added: Option[DataFrame]): DataFrame = {
    val keep =
      if (removed.isEmpty) base
      else base.filter(!col("file").isInCollection(removed))
    added.fold(keep)(keep.unionByName(_, allowMissingColumns = true))
  }

  /** [[appendCommit]] in LOG-STRUCTURED form: the batch is staged and moved
    * in identically, but the commit is a [[commitDelta]] of ONLY the new
    * files' stats — the previous manifest is never read, so both planner
    * work and commit write volume are O(batch), independent of how many
    * files the table has accumulated. This is the shape a frequent
    * (streaming) writer needs: [[appendCommit]] re-writes an O(table-files)
    * manifest every trigger and re-reads it first.
    *
    * `checkpointEvery > 0` amortizes the read side: once the delta tail
    * since the last base (full version or checkpoint) reaches that many
    * commits, the just-committed version is checkpointed — an O(table)
    * materialization every K commits instead of per commit, after which
    * readers fold from the new checkpoint. */
  def appendCommitDelta(spark: SparkSession, batch: DataFrame,
                        cols: Seq[String], path: String, manifestRoot: String,
                        nFiles: Int, tag: Option[String] = None,
                        checkpointEvery: Int = 0): (Int, Int) = {
    val moved = land(spark, path, gatedBy = Some(manifestRoot))(
      Layout.zorderWrite(batch, cols, _, nFiles))
    val v = commitDelta(spark, manifestRoot, statsFor(spark, moved, cols),
      tag = tag)
    if (checkpointEvery > 0 &&
        foldInfo(spark, manifestRoot, v).deltasFolded >= checkpointEvery)
      writeCheckpoint(spark, manifestRoot, v)
    (v, moved.size)
  }

  /** REPLACE-table commit: the next version references ONLY the fresh
    * z-ordered batch — the whole previous content is superseded in one
    * atomic commit, while every pinned pre-replace version stays readable
    * until vacuum (the Delta `CREATE OR REPLACE` contract: replace is a
    * history event, not a wipe). Staging-then-move keeps the append-path
    * crash discipline: a crash pre-commit leaves only unreferenced files.
    * Returns (version, files written). */
  def replaceCommit(spark: SparkSession, df: DataFrame, cols: Seq[String],
                    path: String, manifestRoot: String,
                    nFiles: Int, tag: Option[String] = None): (Int, Int) = {
    val moved = land(spark, path, gatedBy = None)(
      Layout.zorderWrite(df, cols, _, nFiles))
    (commit(spark, Layout.buildManifestFor(spark, moved, cols),
      manifestRoot, tag = tag), moved.size)
  }

  /** COMPACTION as a version commit: the latest snapshot's files are
    * rewritten into `nFiles` freshly z-ordered files (quantile sketch +
    * one range shuffle over exactly the referenced files — per-batch
    * appends degrade the global interleave over time; this restores it),
    * staged outside the table dir, moved in, and committed as a manifest
    * referencing ONLY the compacted files. The superseded inputs stay on
    * disk for older pinned readers and are reclaimed by [[vacuum]] once
    * their versions expire — compaction under versioning is a pure
    * re-layout, never a destructive swap (contrast
    * [[Maintenance]]'s flat-table compaction, which deletes its inputs).
    * Returns (version, input file count, output file count).
    *
    * `zorderCols` re-clusters on a DIFFERENT column set than the manifest
    * stats (the `OPTIMIZE … ZORDER BY (…)` statement): the interleave —
    * and therefore which files a range predicate can prune — follows the
    * named columns, while the manifest keeps stats for every `cols` column
    * so existing pruned-read paths stay valid (stats are sound bounds
    * under ANY row order; clustering only changes how TIGHT they are). */
  def compactCommit(spark: SparkSession, path: String, manifestRoot: String,
                    cols: Seq[String], nFiles: Int,
                    zorderCols: Option[Seq[String]] = None): (Int, Int, Int) =
    compactCommit(spark, path, tableHead(spark, manifestRoot), cols, nFiles,
      zorderCols)

  def compactCommit(spark: SparkSession, path: String, at: TableHead,
                    cols: Seq[String], nFiles: Int,
                    zorderCols: Option[Seq[String]]): (Int, Int, Int) = {
    val entries = Dv.entries(at.manifest)
    // compaction reads LIVE rows: it is also the fold point for deletion
    // vectors — the rewritten files carry no mask, and the superseded
    // sidecars expire with the versions that referenced them
    val moved = land(spark, path, gatedBy = None)(
      Layout.zorderWrite(Dv.readLive(spark, entries, at.schema),
        zorderCols.getOrElse(cols), _, nFiles))
    val next = Layout.buildManifestFor(spark, moved, cols)
    (commit(spark, next, at.root), entries.size, moved.size)
  }

  final case class CompactSmallResult(version: Int, filesCompacted: Long,
                                      filesSkipped: Long, filesOut: Long)

  /** SIZE-POLICY COMPACTION — the production `OPTIMIZE` shape: bin-pack
    * ONLY the files under `smallBytes` into `nFiles` fresh outputs and
    * leave already-healthy files byte-untouched, so the rewrite cost
    * tracks the SMALL-FILE DEBT, not table size (a full-rewrite
    * [[compactCommit]] on a 100 TB table is a 100 TB job; this is a
    * job over the tail the streaming appends actually fragmented).
    * Reads the small files' LIVE rows (masks fold away exactly as in
    * [[compactCommit]]); row-identical rewrite ⇒ invisible to the change
    * feed. Returns the latest version unchanged when fewer than two
    * small files exist (nothing to pack). File sizes come from the
    * filesystem — one status call per file, file-count-bounded planner
    * work like every manifest operation here. */
  def compactSmallCommit(spark: SparkSession, path: String,
                         manifestRoot: String, cols: Seq[String],
                         smallBytes: Long, nFiles: Int): CompactSmallResult = {
    val h = tableHead(spark, manifestRoot)
    val entries = Dv.entries(h.manifest)
    val fs = hfs(spark, path)
    val (small, big) = entries.partition { e =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(e.file)).getLen < smallBytes
    }
    if (small.size < 2)
      return CompactSmallResult(h.version, 0, entries.size.toLong, 0)
    val moved = land(spark, path, gatedBy = None)(
      Layout.zorderWrite(Dv.readLive(spark, small, h.schema), cols, _, nFiles))
    CompactSmallResult(swapCommit(spark, manifestRoot, h.manifest,
        small.map(_.file), statsFor(spark, moved, cols)),
      small.size.toLong, big.size.toLong, moved.size.toLong)
  }

  final case class CompactScopedResult(version: Int, filesRewritten: Long,
                                       filesSkipped: Long, filesOut: Long)

  /** PREDICATE-SCOPED COMPACTION — the `OPTIMIZE <t> WHERE <cond>` shape
    * (Delta's partition-scoped OPTIMIZE, generalized from partition
    * predicates to the manifest's stats boxes): rewrite ONLY the files
    * whose [min,max] stats box intersects `scope`, leaving every other
    * file byte-untouched — so a daily re-layout over yesterday's ingest
    * scope costs yesterday's bytes, not the table's. The condition
    * selects FILES, never rows: the rewrite carries EVERY live row of a
    * selected file (rows outside the WHERE included, exactly Delta's
    * OPTIMIZE WHERE contract), so the statement is a pure re-layout —
    * logical contents identical, change feed empty. Selected files'
    * deletion vectors fold away in the rewrite ([[Dv.readLive]], as in
    * [[compactCommit]]); a SINGLE in-scope file still rewrites when it
    * carries a DV (folding is the point), otherwise <2 selected files is
    * a commit-free no-op. */
  def compactScopedCommit(spark: SparkSession, path: String,
                          at: TableHead, cols: Seq[String],
                          scope: Column, nFiles: Int,
                          zorderCols: Option[Seq[String]] = None): CompactScopedResult = {
    val total = Pin.count(at.manifest)
    val selected = Dv.entries(at.manifest.filter(scope))
    if (selected.size < 2 && !selected.exists(_.dv.isDefined))
      return CompactScopedResult(at.version, 0, total, 0)
    val moved = land(spark, path, gatedBy = None)(
      Layout.zorderWrite(Dv.readLive(spark, selected, at.schema),
        zorderCols.getOrElse(cols), _, nFiles))
    CompactScopedResult(swapCommit(spark, at.root, at.manifest,
        selected.map(_.file), statsFor(spark, moved, cols)),
      selected.size.toLong, total - selected.size, moved.size.toLong)
  }

  /** Manifest column marking a data file as belonging to a CLUSTERED
    * generation (the Delta liquid-clustering per-file tag shape): set
    * true on files written by [[clusterIncrementalCommit]]; every other
    * writer's rows join manifests without it (null ⇒ unclustered), so an
    * append/MERGE automatically queues its files for the next OPTIMIZE. */
  val ClusteredCol = "clustered"

  final case class ClusterResult(version: Int, filesReclustered: Long,
                                 filesPreserved: Long, filesOut: Long)

  /** INCREMENTAL CLUSTERING — the `OPTIMIZE` shape for a table with
    * clustering keys as a TABLE PROPERTY (the Databricks liquid-
    * clustering successor to static z-order): re-cluster ONLY the files
    * not already marked [[ClusteredCol]], leaving the clustered base
    * byte-untouched. Cost therefore tracks the UNCLUSTERED INCREMENT
    * (yesterday's appends), never table size — the property that makes a
    * daily OPTIMIZE affordable at 100 TB where a full re-layout is a
    * 100 TB job.
    *
    * A clustered file that has since acquired a deletion vector is
    * re-clustered too (the rewrite folds the mask away, as in
    * [[compactCommit]]). Output file count scales with the increment's
    * share of the table, so a small append produces a small rewrite.
    * Zero unclustered files ⇒ commit-free no-op. Clustering uses the
    * same z-order layout as [[Layout.zorderWrite]] — multi-key tight
    * stats boxes, pruning parity with the static path. */
  def clusterIncrementalCommit(spark: SparkSession, path: String,
                               at: TableHead, cols: Seq[String],
                               clusterCols: Seq[String],
                               nFiles: Int,
                               full: Boolean = false): ClusterResult = {
    require(clusterCols.nonEmpty, "incremental clustering needs keys")
    val manifest =
      if (at.manifest.columns.contains(ClusteredCol)) at.manifest
      else at.manifest.withColumn(ClusteredCol, lit(null).cast("boolean"))
    val flagged = manifest
      .select(col("file"), col("dv"), col(ClusteredCol)).collect().toSeq
      .map(r => (Dv.Entry(r.getString(0), Option(r.getString(1))),
        !r.isNullAt(2) && r.getBoolean(2)))
    // `full` forces every live file into the rewrite set (OPTIMIZE FULL:
    // re-establish the incremental baseline after key changes)
    val (keep, rewrite) = flagged.partition { case (e, isClustered) =>
      !full && isClustered && e.dv.isEmpty
    }
    if (rewrite.isEmpty)
      return ClusterResult(at.version, 0, keep.size.toLong, 0)
    // increment-proportional output width: a 1-file append re-clusters
    // into ~1 file, a first-time OPTIMIZE into the table's full width
    val nOut = math.max(1, math.ceil(
      nFiles.toDouble * rewrite.size / flagged.size).toInt)
    val moved = land(spark, path, gatedBy = None)(
      Layout.zorderWrite(Dv.readLive(spark, rewrite.map(_._1), at.schema),
        clusterCols, _, nOut))
    ClusterResult(swapCommit(spark, at.root, manifest,
        rewrite.map(_._1.file), statsFor(spark, moved, cols)
          .map(_.withColumn(ClusteredCol, lit(true)))),
      rewrite.size.toLong, keep.size.toLong, moved.size.toLong)
  }

  final case class MergeResult(version: Int, filesRewritten: Long,
                               filesTotal: Long, rowsUpdated: Long,
                               rowsInserted: Long)

  /** COPY-ON-WRITE MERGE (upsert) as a version commit — the Delta-style
    * `MERGE INTO t USING s ON t.key = s.key WHEN MATCHED THEN UPDATE SET *
    * WHEN NOT MATCHED THEN INSERT *` shape, closing the {append, delete,
    * merge, compact} DML matrix over the version log. `key` must be one of
    * the manifest stats columns: the touch set is the files whose
    * `[min_key, max_key]` interval contains at least one source key, found
    * by joining the source's distinct keys against the BROADCAST manifest
    * (file-count-bounded — the join is keys × manifest, never keys ×
    * table). Touch-set completeness is what makes the not-matched
    * classification sound: any table row sharing a key with the source
    * lives in a file whose stats interval contains that key, so a source
    * row that matches nothing in the touched files matches nothing
    * anywhere. The rewrite is `(touched rows whose key is NOT in the
    * source) ∪ source` — matched rows take the source row wholesale,
    * unmatched source rows are inserts — z-ordered, staged outside the
    * table, moved in, and committed as vN+1 = (manifest − touched files) ∪
    * new-file stats. Superseded files stay for pinned readers (vacuum
    * reclaims them); the commit's change feed is therefore the old row
    * images as deletes plus updated+inserted rows as inserts, with
    * untouched cohabitants cancelling. */
  def mergeCommit(spark: SparkSession, source: DataFrame, key: String,
                  cols: Seq[String], path: String, manifestRoot: String,
                  nFiles: Int): MergeResult =
    mergeCommit(spark, source, key, cols, path, tableHead(spark, manifestRoot),
      nFiles)

  def mergeCommit(spark: SparkSession, source: DataFrame, key: String,
                  cols: Seq[String], path: String, at: TableHead,
                  nFiles: Int): MergeResult = {
    require(cols.contains(key),
      s"merge key $key needs manifest stats — not in ${cols.mkString(",")}")
    val total = Pin.count(at.manifest)
    val hit = source.select(col(key).cast("double").as("k")).distinct()
      .join(broadcast(at.manifest.select(col("file"),
          col(s"min_$key").cast("double").as("lo"),
          col(s"max_$key").cast("double").as("hi"))),
        col("k") >= col("lo") && col("k") <= col("hi"))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
    val srcKeys = source.select(col(key)).distinct()
    val (newData, updated, matchedSrc, srcTotal) =
      if (hit.isEmpty) (source, 0L, 0L, source.count())
      else {
        // live rows only: a merge rewriting a DV-masked file must not
        // resurrect its masked rows (the rewrite folds the mask away)
        val hitRows = Dv.readLive(spark,
          Dv.entries(at.manifest.filter(col("file").isInCollection(hit))),
          at.schema)
        // ONE aggregate job yields all three metric scalars (rows
        // updated = touched-target rows sharing a key with the source;
        // matched source rows; source total): per-key counts on each
        // side, full-outer joined — replaces three separate count jobs
        // (two of which re-scanned the touched files / the source)
        val hitCnt = hitRows.groupBy(col(key))
          .agg(count(lit(1)).as("_tc"))
        val srcCnt = source.groupBy(col(key))
          .agg(count(lit(1)).as("_sc"))
        val m = hitCnt.join(srcCnt, Seq(key), "full_outer").agg(
          sum(when(col("_sc").isNotNull, col("_tc"))).as("u"),
          sum(when(col("_tc").isNotNull, col("_sc"))).as("m"),
          sum(col("_sc")).as("t")).head()
        def metric(i: Int) = if (m.isNullAt(i)) 0L else m.getLong(i)
        val survivors = hitRows.join(srcKeys, Seq(key), "left_anti")
        // allowMissingColumns = MERGE WITH SCHEMA EVOLUTION: a source
        // column the target lacks null-fills the survivors (and the
        // untouched files serve it as null through the footer-merge read,
        // the q118 mechanics); a target column absent from the source
        // null-fills the source rows
        (survivors.unionByName(source, allowMissingColumns = true),
          metric(0), metric(1), metric(2))
      }
    val inserted = srcTotal - matchedSrc
    val moved = land(spark, path, gatedBy = Some(at.root))(
      Layout.zorderWrite(newData, cols, _, nFiles))
    MergeResult(swapCommit(spark, at.root, at.manifest, hit,
        statsFor(spark, moved, cols)), hit.size.toLong, total,
      updated, inserted)
  }

  final case class MergeFullResult(version: Int, filesRewritten: Long,
                                   filesTotal: Long, rowsUpdated: Long,
                                   rowsInserted: Long, rowsDeleted: Long)

  /** One `WHEN MATCHED` clause of the general MERGE matrix. Expressions
    * (conditions, assignment right-hand sides) evaluate over the joined
    * (target, source) pair: target columns under their own names, source
    * columns under the [[Snapshots.srcCol]] `_s_` prefix. `cond = None`
    * means unconditional. */
  sealed trait WhenMatched { def cond: Option[org.apache.spark.sql.Column] }
  /** `UPDATE SET col = expr, …` — unassigned target columns keep their
    * target value. */
  final case class MatchedUpdateSet(cond: Option[org.apache.spark.sql.Column],
                                    set: Map[String, org.apache.spark.sql.Column])
    extends WhenMatched
  /** `UPDATE SET *` — the source row replaces the target row by name. */
  final case class MatchedUpdateStar(cond: Option[org.apache.spark.sql.Column])
    extends WhenMatched
  /** `DELETE` — the matched target row is dropped. */
  final case class MatchedDelete(cond: Option[org.apache.spark.sql.Column])
    extends WhenMatched

  /** One `WHEN NOT MATCHED` clause: expressions evaluate over the SOURCE
    * row alone (plain source column names — there is no target side). */
  sealed trait WhenNotMatched { def cond: Option[org.apache.spark.sql.Column] }
  /** `INSERT *` — the source row inserts by name. */
  final case class InsertStar(cond: Option[org.apache.spark.sql.Column])
    extends WhenNotMatched
  /** `INSERT (cols) VALUES (exprs)` — unassigned target columns null. */
  final case class InsertValues(cond: Option[org.apache.spark.sql.Column],
                                values: Map[String, org.apache.spark.sql.Column])
    extends WhenNotMatched

  /** Source-column reference inside a [[WhenMatched]] expression — the
    * joined pair carries source columns under this prefix so `t.x` and
    * `s.x` stay distinguishable after the join. */
  def srcCol(name: String): org.apache.spark.sql.Column = col(s"_s_$name")

  /** One `WHEN NOT MATCHED BY SOURCE` clause: expressions evaluate over
    * the TARGET row alone (there is no source side — the row's key is
    * absent from the source). Because "key absent from the source" is a
    * predicate no file stats can prune, every clause must be SCOPED: the
    * caller passes the manifest-prune expression covering all clause
    * conditions (`bySourcePrune`), and each clause's `cond` must imply it
    * row-wise — the same 100 TB honesty contract as [[mergeCommitFull]]. */
  sealed trait WhenNotMatchedBySource {
    def cond: Option[org.apache.spark.sql.Column]
  }
  /** `UPDATE SET col = expr, …` over the target row (Delta's
    * sync-from-authoritative-feed "mark retired rows" clause). */
  final case class BySourceUpdateSet(cond: Option[org.apache.spark.sql.Column],
                                     set: Map[String, org.apache.spark.sql.Column])
    extends WhenNotMatchedBySource
  /** `DELETE` — the unmatched target row is dropped. */
  final case class BySourceDelete(cond: Option[org.apache.spark.sql.Column])
    extends WhenNotMatchedBySource

  /** The FULL MERGE clause matrix over a composite equi-key — explicit
    * `SET col = expr` assignments, conditional `WHEN MATCHED AND cond`
    * clauses (first applicable clause wins, the SQL MERGE contract),
    * matched DELETE, conditional/explicit inserts, any number of key
    * columns. Generalizes [[mergeCommit]] (which stays as the lean
    * star-clause fast path).
    *
    * Scale shape is unchanged from [[mergeCommit]]: the touch set is the
    * files whose per-key stats boxes admit at least one source key TUPLE
    * (distinct source tuples × BROADCAST manifest, file-count-bounded),
    * matched pairs come from ONE shuffle join of touched live rows ×
    * source on the composite key, and the clause cascade compiles to a
    * single codegen'd CASE projection — never a per-clause pass. The
    * rewrite is (unmatched touched rows) ∪ (clause-projected matched
    * rows minus deletes) ∪ (clause-projected unmatched source rows),
    * z-ordered, staged outside the table, committed as vN+1.
    *
    * Source keys must be UNIQUE on the composite key: a target row
    * matched by two source rows has no deterministic outcome (the SQL
    * cardinality-violation error, checked here with one count). */
  def mergeCommitClauses(spark: SparkSession, source: DataFrame,
                         keys: Seq[String], cols: Seq[String], path: String,
                         at: TableHead, nFiles: Int,
                         matched: Seq[WhenMatched],
                         notMatched: Seq[WhenNotMatched],
                         bySource: Seq[WhenNotMatchedBySource] = Seq.empty,
                         bySourcePrune: Option[org.apache.spark.sql.Column] = None,
                         targetSchemaHint: Option[org.apache.spark.sql.types.StructType] = None)
      : MergeFullResult = {
    require(keys.nonEmpty, "MERGE needs at least one key column")
    keys.foreach(k => require(cols.contains(k),
      s"merge key $k needs manifest stats — not in ${cols.mkString(",")}"))
    require(bySource.isEmpty || bySourcePrune.isDefined,
      "NOT MATCHED BY SOURCE clauses need a manifest-prune scope — " +
        "unscoped, 'rows whose key is absent from the source' touches " +
        "every file of the table")
    val dup = source.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"MERGE source has duplicate key tuples (e.g. ${dup.headOption}) — " +
        "a target row matched twice has no deterministic outcome")
    val manifest = at.manifest
    val total = Pin.count(manifest)
    // touch set: distinct source key tuples × broadcast manifest, file
    // hit iff the tuple sits inside the file's stats box on EVERY key
    val keyTuples = source.select(keys.map(k => col(k).as(s"_k_$k")): _*)
      .distinct()
    val keyHit = keyTuples
      .join(broadcast(manifest.select(col("file") +:
          keys.flatMap(k => Seq(col(s"min_$k"), col(s"max_$k"))): _*)),
        keys.map(k => col(s"_k_$k") >= col(s"min_$k") &&
          col(s"_k_$k") <= col(s"max_$k")).reduce(_ && _))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
    // by-source clauses widen the touch set by their stats scope: a row
    // they may act on lives in a scope-hit file (pred ⊆ prune), so files
    // outside both hit sets are provably untouched
    val bsHit = bySourcePrune match {
      case Some(p) if bySource.nonEmpty =>
        manifest.filter(p).select(col("file"))
          .collect().map(_.getString(0)).toSeq
      case _ => Seq.empty[String]
    }
    val hit = (keyHit ++ bsHit).distinct
    val srcKeys = source.select(keys.map(col): _*).distinct()
    // the target schema: the caller's hint (the head VISIBLE schema in
    // physical names — carries declared-but-unmaterialized ADD COLUMN /
    // schema-evolution columns the raw files lack), else the read schema
    val rawHitRows =
      if (hit.isEmpty) None
      else Some(Dv.readLive(spark,
          Dv.entries(manifest.filter(col("file").isInCollection(hit))),
          at.schema))
    val targetSchema = targetSchemaHint.getOrElse(
      rawHitRows.map(_.schema).getOrElse(
        tableAt(spark, at).schema))
    // align touched rows to the target schema: declared columns the data
    // files don't carry yet serve as typed nulls (the footer-merge
    // null-fill, applied to the rewrite input)
    val hitRows = rawHitRows.map { rows =>
      targetSchema.fields.foldLeft(rows) { (df, f) =>
        if (df.columns.exists(_.equalsIgnoreCase(f.name))) df
        else df.withColumn(f.name, lit(null).cast(f.dataType))
      }.localCheckpoint()
    }
    val targetCols = targetSchema.fieldNames.toSeq
    // clause cascade → one integer action column: first applicable wins
    def actionOf(conds: Seq[Option[org.apache.spark.sql.Column]]) =
      conds.zipWithIndex.foldRight(lit(-1): org.apache.spark.sql.Column) {
        case ((c, i), els) => when(c.getOrElse(lit(true)), lit(i)).otherwise(els)
      }
    val delIdx = matched.zipWithIndex.collect {
      case (_: MatchedDelete, i) => i }
    val (matchedKept, updated, deleted, matchedSrcKeys) = hitRows match {
      case None => (None, 0L, 0L, srcKeys.limit(0))
      case Some(rows) =>
        val srcRenamed = source.select(
          source.columns.toIndexedSeq.map(c => col(c).as(s"_s_$c")): _*)
        val withAction = rows.join(srcRenamed,
            keys.map(k => col(k) === col(s"_s_$k")).reduce(_ && _), "inner")
          .withColumn("__action", actionOf(matched.map(_.cond)))
          .localCheckpoint()
        val isDel =
          if (delIdx.isEmpty) lit(false)
          else col("__action").isInCollection(delIdx)
        val counts = withAction.agg(
          sum(when(col("__action") >= 0 && !isDel, 1L).otherwise(0L)).as("upd"),
          sum(when(isDel, 1L).otherwise(0L)).as("del")).head()
        // projected matched rows: per target column, a CASE over the
        // action index picking that clause's value (codegen'd, one pass)
        val projected = withAction.filter(!isDel).select(targetCols.map { c =>
          matched.zipWithIndex.foldRight(col(c)) {
            case ((MatchedUpdateSet(_, set), i), els) =>
              set.get(c).map(v => when(col("__action") === i, v)
                .otherwise(els)).getOrElse(els)
            case ((MatchedUpdateStar(_), i), els) =>
              when(col("__action") === i, col(s"_s_$c")).otherwise(els)
            case ((_: MatchedDelete, _), els) => els
          }.as(c)
        }: _*)
        (Some(projected),
          if (counts.isNullAt(0)) 0L else counts.getLong(0),
          if (counts.isNullAt(1)) 0L else counts.getLong(1),
          withAction.select(keys.map(k => col(s"_s_$k").as(k)): _*).distinct())
    }
    // inserts: source rows whose key tuple matched no touched row —
    // complete because any table row sharing a tuple lives in a touched
    // file (the stats-interval argument, per key column)
    val unmatchedSrc = source.join(matchedSrcKeys, keys, "left_anti")
    val insActioned = unmatchedSrc
      .withColumn("__action", actionOf(notMatched.map(_.cond)))
      .filter(col("__action") >= 0)
      .localCheckpoint()
    val insRows = insActioned.select(targetCols.map { c =>
      val absent: org.apache.spark.sql.Column =
        lit(null).cast(targetSchema(c).dataType)
      notMatched.zipWithIndex.foldRight(absent) {
        case ((InsertStar(_), i), els) =>
          if (unmatchedSrc.columns.contains(c))
            when(col("__action") === i, col(c)).otherwise(els)
          else els
        case ((InsertValues(_, values), i), els) =>
          values.get(c).map(v => when(col("__action") === i, v)
            .otherwise(els)).getOrElse(els)
      }.as(c)
    }: _*)
    val inserted = insActioned.count()
    // unmatched touched target rows: by default they survive unchanged;
    // with BY SOURCE clauses they run their own cascade (same codegen'd
    // CASE shape as the matched side, over the bare target frame)
    val rawSurvivors = hitRows.map(_.join(srcKeys, keys, "left_anti"))
    val bsDelIdx = bySource.zipWithIndex.collect {
      case (_: BySourceDelete, i) => i }
    val (survivors, bsUpdated, bsDeleted) = rawSurvivors match {
      case Some(rows) if bySource.nonEmpty =>
        val withBs = rows
          .withColumn("__action", actionOf(bySource.map(_.cond)))
          .localCheckpoint()
        val isDel =
          if (bsDelIdx.isEmpty) lit(false)
          else col("__action").isInCollection(bsDelIdx)
        val counts = withBs.agg(
          sum(when(col("__action") >= 0 && !isDel, 1L).otherwise(0L)).as("upd"),
          sum(when(isDel, 1L).otherwise(0L)).as("del")).head()
        val projected = withBs.filter(!isDel).select(targetCols.map { c =>
          bySource.zipWithIndex.foldRight(col(c)) {
            case ((BySourceUpdateSet(_, set), i), els) =>
              set.get(c).map(v => when(col("__action") === i, v)
                .otherwise(els)).getOrElse(els)
            case ((_: BySourceDelete, _), els) => els
          }.as(c)
        }: _*)
        (Some(projected),
          if (counts.isNullAt(0)) 0L else counts.getLong(0),
          if (counts.isNullAt(1)) 0L else counts.getLong(1))
      case other => (other, 0L, 0L)
    }
    val pieces = survivors.toSeq ++ matchedKept.toSeq ++ Seq(insRows)
    val newData = pieces.reduce(
      _.unionByName(_, allowMissingColumns = true))
    val moved = land(spark, path, gatedBy = Some(at.root))(
      Layout.zorderWrite(newData, cols, _, nFiles))
    MergeFullResult(swapCommit(spark, at.root, manifest, hit,
        statsFor(spark, moved, cols)), hit.size.toLong,
      total, updated + bsUpdated, inserted, deleted + bsDeleted)
  }

  /** The COMPLETE three-clause MERGE matrix: WHEN MATCHED UPDATE (source
    * row replaces the target row), WHEN NOT MATCHED INSERT, and WHEN NOT
    * MATCHED BY SOURCE DELETE — the clause [[mergeCommit]] lacks, which is
    * what sync-from-authoritative-feed pipelines use to retire rows the
    * source stopped sending. The delete clause is SCOPED to `deleteBox`
    * (stats ranges): an unscoped not-matched-by-source delete must touch
    * every file of the table by definition — no stats can prune "rows
    * whose key is absent from the source" — so the API makes the
    * 100 TB-honest form (bound the clause to the slice the feed is
    * authoritative for, the Delta guidance for the same clause) the only
    * form. Touch set = key-range-hit files ∪ box-hit files; everything
    * else is untouched. Within the touch set, live rows matched by source
    * keys are replaced, unmatched rows inside the box are dropped, and
    * unmatched rows outside it survive the rewrite. */
  def mergeCommitFull(spark: SparkSession, source: DataFrame, key: String,
                      cols: Seq[String], path: String, manifestRoot: String,
                      nFiles: Int,
                      deleteBox: Seq[(String, Double, Double)]): MergeFullResult =
    mergeCommitFullPred(spark, source, key, cols, path,
      tableHead(spark, manifestRoot), nFiles,
      Layout.intersectsExpr(deleteBox), Layout.inBoxExpr(deleteBox))

  /** [[mergeCommitFull]] with the delete scope as a (prune, predicate)
    * pair instead of the numeric box — see [[deleteWherePred]] for the
    * contract. The SQL front door's typed WHERE compiler targets this
    * form (string/date-scoped NOT MATCHED BY SOURCE DELETE). */
  def mergeCommitFullPred(spark: SparkSession, source: DataFrame, key: String,
                          cols: Seq[String], path: String, at: TableHead,
                          nFiles: Int, deletePrune: org.apache.spark.sql.Column,
                          deletePred: org.apache.spark.sql.Column): MergeFullResult = {
    require(cols.contains(key),
      s"merge key $key needs manifest stats — not in ${cols.mkString(",")}")
    val manifest = at.manifest
    val total = Pin.count(manifest)
    val keyHit = source.select(col(key).cast("double").as("k")).distinct()
      .join(broadcast(manifest.select(col("file"),
          col(s"min_$key").cast("double").as("lo"),
          col(s"max_$key").cast("double").as("hi"))),
        col("k") >= col("lo") && col("k") <= col("hi"))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSet
    val boxHit = manifest.filter(deletePrune)
      .select(col("file")).collect().map(_.getString(0)).toSet
    val hit = (keyHit ++ boxHit).toSeq
    val srcKeys = source.select(col(key)).distinct()
    val (survivors, updated, matchedSrc, deleted) =
      if (hit.isEmpty) (None, 0L, 0L, 0L)
      else {
        val hitRows = Dv.readLive(spark,
          Dv.entries(manifest.filter(col("file").isInCollection(hit))),
          at.schema)
          .localCheckpoint()
        val hitKeys = hitRows.select(col(key)).distinct().localCheckpoint()
        val unmatched = hitRows.join(srcKeys, Seq(key), "left_anti")
        val kept = unmatched.filter(!coalesce(deletePred, lit(false)))
        (Some(kept),
          hitRows.join(srcKeys, Seq(key), "left_semi").count(),
          source.join(hitKeys, Seq(key), "left_semi").count(),
          unmatched.filter(deletePred).count())
      }
    val newData = survivors // schema evolution: see mergeCommit's note
      .map(_.unionByName(source, allowMissingColumns = true))
      .getOrElse(source)
    val inserted = source.count() - matchedSrc
    val moved = land(spark, path, gatedBy = Some(at.root))(
      Layout.zorderWrite(newData, cols, _, nFiles))
    MergeFullResult(swapCommit(spark, at.root, manifest, hit,
        statsFor(spark, moved, cols)), hit.size.toLong,
      total, updated, inserted, deleted)
  }

  // ------------------------------------------------------------------
  // THE COMMIT DIFF — "what did visible commit v change" is decided here
  // and nowhere else: the (file, dv) pairs removed and added against the
  // nearest VISIBLE version below it. The snapshot identity of a file is
  // the PAIR — a MoR delete leaves the data file in place but moves its
  // dv pointer, and that pair change is what a change reader must see; a
  // pair present on both sides is immutable on both axes and changed
  // nothing. A pending or aborted txn stage is never a commit nor a base.
  // Clients: the optimistic-txn conflict check, the change feed and the
  // relayout gate, history, both commit streams, CDC mirrors and SCD2
  // apply.
  // ------------------------------------------------------------------

  /** What `version` changed against `base` (0 = the empty table before
    * the first commit): `before` and `entries` are the whole pair sets at
    * `base` and at `version`. */
  final case class CommitDiff(base: Int, version: Int,
                              before: Set[Dv.Entry], entries: Set[Dv.Entry]) {
    lazy val removed: Set[Dv.Entry] = before -- entries
    lazy val added: Set[Dv.Entry] = entries -- before

    /** The files an APPEND-ONLY stream emits for this commit, sorted. A
      * commit that removed pairs fails the stream loudly unless
      * `ignoreDeletes` (then only its added files stream). */
    def appendedFiles(root: String,
                      ignoreDeletes: Boolean): IndexedSeq[String] = {
      if (removed.nonEmpty && !ignoreDeletes)
        throw new IllegalStateException(
          s"streamed table $root has a non-append commit v=$version " +
            s"(${removed.size} removed file/dv pairs) — the append-only " +
            "stream cannot express it; use Cdc.sync for row-level " +
            "replication or set ignoreDeletes=true")
      added.iterator.map(_.file).toIndexedSeq.sorted
    }
  }

  private def pairsAt(spark: SparkSession, manifestRoot: String,
                      v: Int): Set[Dv.Entry] =
    if (v == 0) Set.empty
    else Dv.entries(manifestAt(spark, manifestRoot, v)).toSet

  /** The pair diff `vFrom → vTo` between two visible versions. */
  private[graft] def diff(spark: SparkSession, manifestRoot: String,
                          vFrom: Int, vTo: Int): CommitDiff =
    CommitDiff(vFrom, vTo, pairsAt(spark, manifestRoot, vFrom),
      pairsAt(spark, manifestRoot, vTo))

  /** The visible commits in `(after, upTo]`, oldest first, each diffed
    * against the visible version before it (the first against the newest
    * visible version ≤ `after`). The walk carries the running pair set, so
    * each manifest is read once, and applies a delta commit's add/remove
    * rows to it instead of folding the chain again. Lazy: a consumer that
    * stops early reads no further manifest.
    *
    * A base that [[vacuum]] dropped is refused: diffing the first retained
    * commit against the empty table would report its whole manifest as
    * added and the dropped versions' removals as nothing, so a lagging
    * mirror would duplicate rows and a txn whose snapshot was vacuumed
    * would pass its conflict check blind. The empty table is the base
    * only while the log still starts at v=1 (vacuum drops a prefix, so
    * then every version ≤ `after` is an invisible txn stage). */
  private[graft] def commits(spark: SparkSession, manifestRoot: String,
                             after: Int, upTo: Int = Int.MaxValue)
      : Iterator[CommitDiff] = {
    val raw = versions(spark, manifestRoot)
    val vs = raw.filter(v => txnVisible(spark, manifestRoot, v))
    val todo = vs.filter(v => v > after && v <= upTo)
    if (todo.isEmpty) return Iterator.empty
    val start = vs.takeWhile(_ <= after).lastOption.getOrElse(0)
    if (start == 0 && after > 0 && !raw.headOption.contains(1))
      throw new IllegalStateException(s"$manifestRoot: the changes after " +
        s"v$after were vacuumed — re-read its current snapshot instead")
    todo.iterator.scanLeft(CommitDiff(0, start, Set.empty,
        pairsAt(spark, manifestRoot, start))) { (prev, v) =>
      CommitDiff(prev.version, v, prev.entries,
        if (!isDelta(spark, manifestRoot, v)) pairsAt(spark, manifestRoot, v)
        else {
          val rows = Dv.ensureDv(versionRows(spark, manifestRoot, v))
            .select(col("file"), col("dv"), col(ActionCol)).collect()
          val touched = rows.map(_.getString(0)).toSet
          prev.entries.filterNot(e => touched.contains(e.file)) ++
            rows.iterator.filter(_.getString(2) == "add")
              .map(r => Dv.Entry(r.getString(0), Option(r.getString(1))))
        })
    }.drop(1)
  }

  /** Thrown when an optimistic transaction's read set was invalidated by a
    * commit that landed between its snapshot and its commit attempt — the
    * caller must re-plan against the current snapshot and retry. */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** What an optimistic transaction did, expressed in manifest terms:
    * computed against snapshot `readVersion`, it wants to REMOVE the
    * manifest rows for `removes` (files it rewrote or re-pointed) and add
    * `adds` (manifest rows for files it wrote; empty for pure removals).
    * `readSet` is every file whose CONTENT the outcome depends on — for a
    * delete/merge that is the touched files it read; for a blind append,
    * nothing. */
  final case class Txn(readVersion: Int, removes: Set[String],
                       adds: Option[DataFrame], readSet: Set[String])

  /** `rebasedOver` counts the visible commits between the txn's snapshot
    * and the version it landed on top of. */
  final case class TxnResult(version: Int, rebasedOver: Int)

  /** OPTIMISTIC COMMIT with conflict detection — the layer ABOVE the CAS
    * slot arbitration (which only guarantees two committers never clobber
    * the same `v=N`; a loser could still land a manifest computed against
    * a stale parent, silently undoing the winner). Protocol, per attempt:
    *
    *  1. read the CURRENT latest visible version L and walk every visible
    *     commit in (readVersion, L] ([[commits]]): the (file, dv) pairs it
    *     removed. If any removed pair names a file in this txn's `readSet`
    *     or `removes`, the snapshot this txn planned against is gone —
    *     throw [[CommitConflictException]] (the caller re-plans; blind
    *     retry would resurrect the winner's deletes or double-apply its
    *     merge).
    *  2. otherwise REBASE: next = manifestAt(L) − removes + adds. The
    *     intermediate commits touched only files this txn never read, so
    *     the rebased manifest composes both outcomes (Delta/Iceberg's
    *     disjoint-files rule).
    *  3. CAS-commit at the next slot. Losing the slot is not a conflict —
    *     loop back to 1 and re-diff against the new winner.
    *
    * Scale: conflict checking is manifest-pair set algebra — file-count-
    * bounded driver work per intermediate commit, no data reads. */
  def commitTxn(spark: SparkSession, manifestRoot: String, txn: Txn,
                contentFiles: Seq[(String, String)] = Seq.empty)
      : TxnResult = {
    val fs = hfs(spark, manifestRoot)
    val mine = txn.readSet ++ txn.removes
    var attempts = 0
    while (attempts < 100) {
      attempts += 1
      val h = tableHead(spark, manifestRoot)
      val latest = h.version
      var rebased = 0
      commits(spark, manifestRoot, txn.readVersion, latest).foreach { c =>
        val clash = c.removed.map(_.file).intersect(mine)
        if (clash.nonEmpty)
          throw new CommitConflictException(
            s"commit v${c.version} invalidated ${clash.size} file(s) this " +
              s"txn read (snapshot v${txn.readVersion}): " +
              s"${clash.take(3).mkString(", ")} …")
        rebased += 1
      }
      // content markers (e.g. a cross-table txn's pending marker) become
      // visible in the same atomic rename as the manifest
      val vs = versions(spark, manifestRoot)
      val staged = stageVersion(spark, manifestRoot, vs,
        swapped(h.manifest, txn.removes.toSeq, txn.adds.map(Dv.ensureDv)),
        tag = None, delta = false, markers = Seq.empty, contentFiles)
      // CAS at exactly latest+1: if another writer takes the slot first we
      // must NOT slide to the next free one (that would skip re-diffing
      // its commit) — re-enter the loop and re-check instead. The one
      // exception: when every raw version above the visible head is an
      // ABORTED txn stage, CAS just above the raw tail — an aborted stage
      // is not history, so skipping it needs no re-diff (and its slot can
      // never be won). The slot may be held by ANOTHER txn's unresolved
      // stage — that is a held write lock, not a lost race: spinning
      // would never free it, so refuse loudly like every other writer does
      val above = vs.filter(_ > latest)
      val slot =
        if (above.nonEmpty && above.forall(v =>
            !txnVisible(spark, manifestRoot, v) &&
              !unresolvedStage(spark, manifestRoot, v))) above.last + 1
        else latest + 1
      if (unresolvedStage(spark, manifestRoot, slot)) {
        fs.delete(staged.dir, true)
        throw new IllegalStateException(
          s"$manifestRoot v=$slot is an unresolved cross-table " +
            "transaction stage — concurrent write refused (commit or " +
            "abort the transaction first)")
      }
      if (claimSlot(spark, manifestRoot, staged, slot))
        return TxnResult(slot, rebased)
      fs.delete(staged.dir, true)
    }
    throw new IllegalStateException(
      s"optimistic commit gave up after $attempts attempts under $manifestRoot")
  }

  /** A row-level change feed between two versions plus its pruning
    * evidence: how many files the diff actually read vs the union of both
    * manifests. */
  final case class ChangeScan(df: DataFrame, filesRead: Long,
                              filesTotal: Long)

  /** CHANGE DATA FEED between two committed versions — the row-level diff
    * `vFrom → vTo`, emitted as the snapshot rows plus a `change_type`
    * column (`insert` = present at vTo, absent at vFrom; `delete` = the
    * reverse). The 100 TB shape comes from the manifests: a file present
    * in BOTH versions contributes no changes by construction (versioned
    * data files are immutable — commits add/remove file references, never
    * rewrite contents in place), so only the files REMOVED and ADDED
    * between the manifests are read, and the row diff (`exceptAll`, both
    * directions — multiset semantics, so duplicate identical rows diff
    * correctly) runs over that bounded slice, never the table. Follows
    * directly: an append's feed is exactly its batch as inserts, a
    * targeted delete's is the band as deletes (its survivor rewrites
    * cancel between removed and added files), and a compaction's is EMPTY
    * — a pure re-layout moves every row from removed to added files, the
    * diff annihilates, and CDC consumers correctly see nothing. */
  def changesBetween(spark: SparkSession, manifestRoot: String,
                     vFrom: Int, vTo: Int): ChangeScan =
    changeFeed(spark, manifestRoot, diff(spark, manifestRoot, vFrom, vTo))

  /** The row-level feed of one [[CommitDiff]] — [[changesBetween]]'s body,
    * and what the per-commit consumers (CDC mirrors, SCD2 apply, the IVM
    * stream) read for each step of [[commits]]. */
  private[graft] def changeFeed(spark: SparkSession, manifestRoot: String,
                                d: CommitDiff): ChangeScan = {
    val read = (d.removed ++ d.added).map(_.file).size.toLong
    // mergeSchema (inside readLive) so a feed whose side spans a schema
    // evolution serves the superset schema; a diff whose removed AND added
    // sides have drifted apart (delete/compact across an evolution) would
    // need explicit column alignment before exceptAll — evolution here
    // arrives by append, whose feed has no removed side to clash with
    def rows(es: Iterable[Dv.Entry]): Option[DataFrame] =
      if (es.isEmpty) None
      else Some(Dv.readLive(spark, es.toSeq,
        declaredSchemaAt(spark, manifestRoot, d.version)))
    val df = (rows(d.removed), rows(d.added)) match {
      case (None, None) =>
        // no file-level change at all: an empty feed with the table schema
        tableAt(spark, manifestRoot, d.version).filter(lit(false))
          .withColumn("change_type", lit(""))
      case (Some(r), None) => r.withColumn("change_type", lit("delete"))
      case (None, Some(a)) => a.withColumn("change_type", lit("insert"))
      case (Some(r), Some(a)) =>
        r.exceptAll(a).withColumn("change_type", lit("delete"))
          .unionByName(a.exceptAll(r).withColumn("change_type", lit("insert")))
    }
    ChangeScan(df, read, (d.before ++ d.entries).map(_.file).size.toLong)
  }

  /** Prove a commit was a PURE RE-LAYOUT (compaction/purge: same rows,
    * different files) without materializing the exceptAll diff: the
    * removed and added file sets' live rows are each reduced to an
    * order-invariant multiset fingerprint — (count, Σ xxhash64(row),
    * Σ xxhash64(7, row)) with exact decimal accumulation, columns aligned
    * by sorted name — and compared. One scan + one scalar aggregate per
    * side, NO shuffle of rows, vs [[changesBetween]]'s two full exceptAll
    * shuffles; equality is multiset equality up to a ~2⁻¹²⁸ two-hash
    * collision, the driver's own hash-compare epistemics. Use for
    * invisibility GATES; use [[changesBetween]] when a consumer needs the
    * actual diff rows. */
  def relayoutInvisible(spark: SparkSession, manifestRoot: String,
                        vFrom: Int, vTo: Int): Boolean = {
    val d = diff(spark, manifestRoot, vFrom, vTo)
    if (d.removed.isEmpty && d.added.isEmpty) return true
    if (d.removed.isEmpty || d.added.isEmpty) return false
    def fp(es: Seq[Dv.Entry]): Seq[Any] = {
      val df = Dv.readLive(spark, es,
        declaredSchemaAt(spark, manifestRoot, vTo))
      val cs = df.columns.sorted.map(col)
      df.agg(count(lit(1)),
          sum(xxhash64(cs: _*).cast("decimal(38,0)")),
          sum(xxhash64((lit(7) +: cs): _*).cast("decimal(38,0)")))
        .collect()(0).toSeq
    }
    fp(d.removed.toSeq) == fp(d.added.toSeq)
  }

  // ------------------------------------------------------------------
  // COLUMN MAPPING — non-additive schema evolution (rename/drop) without
  // touching a single data file: the Iceberg/Delta "column mapping"
  // indirection re-expressed on the version log. A mapping is a
  // logical→physical name table that rides a commit as an
  // underscore-prefixed marker (visible in the same atomic rename as the
  // manifest, like the txn tag); data files always store PHYSICAL names,
  // so a rename commit rewrites ONLY the mapping — zero data files, like
  // a DV re-point — while pinned reads below the commit still serve the
  // old names and stats/pruning follow the map by translating logical
  // range columns to physical before touching the manifest.
  // Contract: when a mapping exists at a version, the visible schema is
  // EXACTLY the mapping's logical keys. Reads below the first mapping
  // commit serve raw physical names. Writers appending after a rename
  // route batches through [[toPhysical]] so every data file keeps the one
  // physical schema.
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // TABLE PROPERTIES — the Delta TBLPROPERTIES store, re-expressed on the
  // version log: the full property map rides a commit as an underscore-
  // prefixed marker (same superseding-set semantics as the column
  // mapping: the marker at the largest version ≤ v is the map in force at
  // v; pinned reads see the properties of THEIR version). Keys and values
  // are base64-coded independently, so any characters survive.
  // ------------------------------------------------------------------

  private val PropsPrefix = "_props_"

  private def b64e(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes("UTF-8"))

  private def b64d(s: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(s), "UTF-8")

  /** The codec of one MAP-VALUED marker kind (properties, column mapping,
    * CHECK set): the map's sorted entries joined into marker-name bodies
    * by `join`, split back out of one body by `split`.
    *
    * A map too big for ONE path segment (most filesystems cap a name at
    * 255 bytes — nine ANALYZE statistics, a rename on a table of a dozen
    * columns, two long CHECK conditions) CHUNKS across several markers in
    * the same commit dir: entries pack greedily while a body stays within
    * 180 chars. Readers merge every chunk of the newest version carrying
    * any (keys are disjoint across chunks, and the atomic dir rename
    * publishes all chunks together or none). A map that fits one chunk is
    * one marker, byte-identical to the unchunked encoding. */
  private[graft] final class MapMarker(prefix: String,
                                       join: Seq[(String, String)] => String,
                                       split: String => Seq[(String, String)]) {
    def names(m: Map[String, String]): Seq[String] = {
      val chunks =
        scala.collection.mutable.ArrayBuffer(Seq.empty[(String, String)])
      m.toSeq.sorted.foreach { e =>
        val alone = join(Seq(e)).length
        require(alone <= 230, s"entry ${e._1} too long for a name-encoded " +
          s"marker ($alone chars) — oversized values belong in a content " +
          "marker like _schema.json")
        if (chunks.last.nonEmpty && join(chunks.last :+ e).length > 180)
          chunks += Seq(e)
        else chunks(chunks.size - 1) = chunks.last :+ e
      }
      chunks.map(c => prefix + join(c)).toSeq
    }

    def parse(chunks: Seq[String]): Map[String, String] =
      chunks.map(_.stripPrefix(prefix)).filter(_.nonEmpty)
        .flatMap(split).toMap

    /** The map in force at `version`, if any commit at or below set one,
      * over the root `listing` (evaluated only on a miss). */
    def at(spark: SparkSession, manifestRoot: String, version: Int,
           listing: => Seq[Int]): Option[Map[String, String]] =
      inForce(spark, manifestRoot, version, prefix, listing)
        .map(h => parse(h._2))
  }

  // separators '~' and ',' (and '.') are outside the base64url alphabet
  // AND legal in a Hadoop path segment (':' is not — it reads as a URI
  // scheme)
  private[graft] val Props = new MapMarker(PropsPrefix,
    _.map { case (k, v) => s"${b64e(k)}~${b64e(v)}" }.mkString(","),
    _.split(",").toSeq.map { kv =>
      val Array(k, v) = kv.split("~", 2)
      b64d(k) -> b64d(v)
    })

  private val Cmap = new MapMarker(CmapPrefix,
    m => b64e(m.map { case (l, p) => s"$l=$p" }.mkString(",")),
    body => b64d(body).split(",").toSeq.map { kv =>
      val Array(l, p) = kv.split("=", 2)
      l -> p
    })

  private val Ck = new MapMarker(CkPrefix,
    _.map { case (n, c) => s"${b64e(n)}.${b64e(c)}" }.mkString(","),
    _.split(",").toSeq.map { kv =>
      val Array(n, c) = kv.split("\\.", 2)
      b64d(n) -> b64d(c)
    })

  /** ONE metadata-only commit: the manifest of head `at` carried forward
    * unchanged, plus the `files` markers computed from that same head as
    * (name, body) pairs — a name-encoded marker has an empty body. No
    * files and no tag commits nothing and returns the head (the IF EXISTS
    * no-op). */
  private[graft] def metadataCommit(spark: SparkSession, at: TableHead,
                                    tag: Option[String] = None)
                                   (files: Seq[(String, String)]): Int =
    if (files.isEmpty && tag.isEmpty) at.version
    else commit(spark, manifestAt(spark, at.root, at.version), at.root, tag,
      contentFiles = files)

  private def named(markers: Seq[String]): Seq[(String, String)] =
    markers.map(_ -> "")

  /** The property map in force at `version` — empty before any SET. A
    * committed version's marker set is immutable (every property change
    * is a NEW commit), so this is a walk over memoized marker names. */
  def tableProperties(spark: SparkSession, manifestRoot: String,
                      version: Int): Map[String, String] =
    headAt(spark, manifestRoot, version).props

  /** SET TBLPROPERTIES — Delta merge semantics (existing keys overwrite,
    * others persist), as ONE metadata-only marker commit: the next
    * version carries the current manifest content unchanged plus the
    * merged map. */
  def setProperties(spark: SparkSession, manifestRoot: String,
                    props: Map[String, String]): Int =
    setProperties(spark, tableHead(spark, manifestRoot), props)

  def setProperties(spark: SparkSession, at: TableHead,
                    props: Map[String, String]): Int = {
    require(props.nonEmpty, "SET TBLPROPERTIES with no properties")
    metadataCommit(spark, at)(named(Props.names(at.props ++ props)))
  }

  /** UNSET TBLPROPERTIES — removes the keys (missing keys are a no-op,
    * the IF EXISTS convention), one metadata-only marker commit. */
  def unsetProperties(spark: SparkSession, manifestRoot: String,
                      keys: Seq[String]): Int =
    unsetProperties(spark, tableHead(spark, manifestRoot), keys)

  def unsetProperties(spark: SparkSession, at: TableHead,
                      keys: Seq[String]): Int = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES with no keys")
    metadataCommit(spark, at)(named(Props.names(at.props -- keys)))
  }

  /** Table property carrying the DECLARED schema (StructType JSON) of a
    * table created empty by `CREATE TABLE` — the schema authority until
    * the first data file lands ([[tableAt]] falls back to it). */
  val SchemaProp = "graft.schema"

  /** Content-marker filename the declared schema travels in (schema JSON
    * is too long for the name-encoded props marker). */
  private val SchemaMarker = "_schema.json"

  /** The DECLARED schema in force at `version`: the content of the
    * newest `_schema.json` marker at or below it (a CREATE TABLE writes
    * one into v1). None for tables born from data (CTAS, CONVERT,
    * register()). The parsed content is memoized per carrying version in
    * [[MetaCache]] — a committed `_schema.json` is immutable (schema
    * changes are NEW commits) — and opened only where it is listed. */
  def declaredSchemaAt(spark: SparkSession, manifestRoot: String,
                       version: Int): Option[StructType] =
    headAt(spark, manifestRoot, version).schema

  /** Re-declare the table's schema — ONE metadata-only commit carrying a
    * fresh `_schema.json` whose content is `update(current)`. This is how
    * column-level contract changes that live in field METADATA (e.g.
    * `ALTER COLUMN … SET/DROP DEFAULT`) land: the manifest is carried
    * forward untouched, pinned reads below the commit keep the old
    * declaration, and every later write path reads the new one through
    * [[declaredSchemaAt]]. Fails on tables born from data (no declared
    * schema to amend). */
  def updateDeclaredSchema(spark: SparkSession, at: TableHead)
                          (update: StructType => StructType): Int = {
    val cur = at.schema.getOrElse(throw new IllegalArgumentException(
      "no declared schema to alter — the table was born from data " +
        "(CTAS/CONVERT/register), not CREATE TABLE"))
    metadataCommit(spark, at)(Seq(SchemaMarker -> update(cur).json))
  }

  /** Is `from → to` a lossless TYPE WIDENING — the Delta type-widening
    * whitelist (public contract): integral up-casts, int→double,
    * float→double, and decimal precision growth at the same scale. Every
    * member is value-preserving AND served natively by Spark's parquet
    * readers when handed the wide schema, which is what keeps the widen
    * commit METADATA-ONLY (old narrow files are read as the wide type,
    * never rewritten). */
  def widenOk(from: org.apache.spark.sql.types.DataType,
              to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** `ALTER TABLE … ALTER COLUMN … TYPE` as ONE metadata-only commit:
    * the next version carries (a) the declared schema with the column
    * widened (synthesized from the live read schema for tables born from
    * data — widening works on CTAS tables too) and (b) the SAME manifest
    * content with the column's min/max stats cast to the wide type — a
    * FULL manifest commit, so later delta folds never mix narrow and
    * wide stat columns (a full commit is a fold base). Nothing is
    * scanned, no data file is touched: reads serve old narrow files AS
    * the wide type through the declared-schema read path
    * ([[graft.sinks.Dv.readLive]]), pinned pre-widen reads keep the
    * narrow type (their version's declaration is unchanged), and the
    * typed DML stats compiler sees wide native stat types from the new
    * manifest on. Refused on column-mapped tables (the declared schema
    * records logical names; the physical read pin would miss). */
  def widenColumn(spark: SparkSession, manifestRoot: String,
                  column: String,
                  newType: org.apache.spark.sql.types.DataType): Int = {
    val at = tableHead(spark, manifestRoot)
    require(at.mapping.isEmpty,
      "ALTER COLUMN TYPE under a column mapping is not supported")
    val lower = column.toLowerCase(java.util.Locale.ROOT)
    val current = at.schema.getOrElse(tableAt(spark, at).schema)
    val field = current.fields.find(
      _.name.toLowerCase(java.util.Locale.ROOT) == lower).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER COLUMN TYPE: no column '$column' " +
          s"(have ${current.fieldNames.mkString(", ")})"))
    require(widenOk(field.dataType, newType),
      s"ALTER COLUMN TYPE: ${field.dataType.sql} → ${newType.sql} is not " +
        "a lossless widening (supported: integral up-casts, int→double, " +
        "float→double, decimal precision growth at the same scale)")
    val widened = StructType(current.fields.map(f =>
      if (f.name.toLowerCase(java.util.Locale.ROOT) == lower)
        f.copy(dataType = newType)
      else f))
    val m = Dv.ensureDv(manifestAt(spark, manifestRoot, at.version))
    val statMin = m.columns.find(_.equalsIgnoreCase(s"min_$lower"))
    val statMax = m.columns.find(_.equalsIgnoreCase(s"max_$lower"))
    val m2 = (statMin, statMax) match {
      case (Some(mn), Some(mx)) =>
        m.withColumn(mn, col(mn).cast(newType))
          .withColumn(mx, col(mx).cast(newType))
      case _ => m
    }
    commit(spark, m2, manifestRoot,
      contentFiles = Seq(SchemaMarker -> widened.json))
  }

  /** `CREATE TABLE` — a table that exists BEFORE any data does: v1 is an
    * empty manifest whose `min_`/`max_` stats fields already carry the
    * declared stats columns' NATIVE types (so the typed DML predicate
    * compiler works from the first INSERT), plus a props marker recording
    * the declared schema ([[SchemaProp]]) and any user table properties.
    * Metadata-only: nothing is scanned, no data dir is touched. Fails if
    * the manifest root already has versions. */
  def createEmptyTable(spark: SparkSession, manifestRoot: String,
                       schema: StructType, statsCols: Seq[String],
                       props: Map[String, String] = Map.empty): Int = {
    require(versions(spark, manifestRoot).isEmpty,
      s"CREATE TABLE: $manifestRoot already has versions")
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val missing = statsCols.filterNot(byName.contains)
    require(missing.isEmpty,
      s"stats columns ${missing.mkString(", ")} not in the declared " +
        s"schema (${schema.fieldNames.mkString(", ")})")
    val manifestSchema = StructType(
      StructField("file", org.apache.spark.sql.types.StringType,
        nullable = false) +:
      StructField("rows", org.apache.spark.sql.types.LongType,
        nullable = false) +:
      statsCols.flatMap(c => Seq(
        StructField(s"min_$c", byName(c), nullable = true),
        StructField(s"max_$c", byName(c), nullable = true))))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), manifestSchema)
    commit(spark, empty, manifestRoot,
      markers = if (props.isEmpty) Seq.empty else Props.names(props),
      contentFiles = Seq(SchemaMarker -> schema.json))
  }

  /** DETERMINISTIC identity assignment (the surrogate-key generator a
    * gold star schema needs — reference `run_load.py:113-124`): ids are
    * `next + step * rank`, where rank is the row's position under a
    * RANGE-partitioned sort on all the batch's columns — a distributed
    * partition-offset PREFIX SUM, never `monotonically_increasing_id`
    * (whose values depend on task scheduling) and never a single-
    * partition window (which would serialize a 100 TB ingest through one
    * task). Cost: one range shuffle + one per-partition count pass over
    * the batch — the same order of work as the z-order staging write
    * that follows. Equal rows tie arbitrarily BETWEEN themselves, which
    * leaves the (row, id) multiset deterministic — the property the
    * oracle checks. Returns (batch + id column, next high-water). */
  def assignIdentity(df: DataFrame, name: String,
                     dt: org.apache.spark.sql.types.DataType,
                     next: Long, step: Long): (DataFrame, Long) = {
    val spark = df.sparkSession
    val sortCols = df.columns.toSeq.map(col)
    val base =
      if (sortCols.isEmpty) df.coalesce(1)
      else {
        val n = math.max(1, df.rdd.getNumPartitions)
        df.repartitionByRange(n, sortCols: _*)
          .sortWithinPartitions(sortCols: _*)
      }
    val cached = base.localCheckpoint()
    val counts = cached.rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
      .collect().toMap // one small row per partition — never data
    val nParts = cached.rdd.getNumPartitions
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, i) => acc + counts.getOrElse(i, 0L))
    val rows = counts.values.sum
    val narrow = dt == org.apache.spark.sql.types.IntegerType
    val rdd = cached.rdd.mapPartitionsWithIndex { (i, it) =>
      var j = 0L
      it.map { r =>
        val v = next + step * (offsets(i) + j)
        j += 1
        Row.fromSeq(r.toSeq :+ (if (narrow) v.toInt else v))
      }
    }
    val out = spark.createDataFrame(rdd,
      StructType(cached.schema.fields :+
        StructField(name, dt, nullable = false)))
    (out, next + step * rows)
  }

  /** The column mapping in force at `version`: the marker of the LARGEST
    * version at or below it that carries one (a mapping, once committed,
    * applies to every later version until superseded). None ⇒ physical
    * names are the visible schema. */
  def columnMapping(spark: SparkSession, manifestRoot: String,
                    version: Int): Option[Map[String, String]] =
    headAt(spark, manifestRoot, version).mapping

  /** The mapping to commit against at head `at`: the one in force, or
    * identity over the snapshot's physical schema when none exists yet. */
  private def currentMapping(spark: SparkSession,
                             at: TableHead): Map[String, String] =
    at.mapping.getOrElse(tableAt(spark, at).columns.map(c => c -> c).toMap)

  /** RENAME a logical column — a metadata-only commit: the next version
    * carries the current manifest CONTENT unchanged plus the updated
    * mapping marker; no data file is written, moved, or rewritten (the
    * q119 DV-re-point economics, applied to schema). Pinned reads below
    * the commit keep serving the old name. */
  def renameColumn(spark: SparkSession, manifestRoot: String,
                   logicalOld: String, logicalNew: String): Int = {
    val at = tableHead(spark, manifestRoot)
    val cur = currentMapping(spark, at)
    require(cur.contains(logicalOld),
      s"rename: no visible column '$logicalOld' (have ${cur.keys.toSeq.sorted})")
    require(!cur.contains(logicalNew),
      s"rename: '$logicalNew' already visible")
    metadataCommit(spark, at)(named(
      Cmap.names((cur - logicalOld) + (logicalNew -> cur(logicalOld)))))
  }

  /** DROP a logical column — metadata-only like [[renameColumn]]: the
    * column vanishes from the visible schema at this version; pinned reads
    * below it still serve it; the physical bytes stay (reclaimed only if a
    * later rewrite drops them). */
  def dropColumn(spark: SparkSession, manifestRoot: String,
                 logical: String): Int =
    dropColumn(spark, tableHead(spark, manifestRoot), logical)

  def dropColumn(spark: SparkSession, at: TableHead, logical: String): Int = {
    val cur = currentMapping(spark, at)
    require(cur.contains(logical),
      s"drop: no visible column '$logical' (have ${cur.keys.toSeq.sorted})")
    require(cur.size > 1, "drop would leave an empty visible schema")
    metadataCommit(spark, at)(named(Cmap.names(cur - logical)))
  }

  /** EXTEND the mapping with a new logical column (schema-evolution ADD
    * after a rename/drop): once a mapping exists, an appended physical
    * column is invisible until mapped — the writer evolves the mapping
    * (one metadata commit), then appends batches carrying the column
    * through [[toPhysical]] as usual. The physical name defaults to the
    * logical one (a fresh column has nothing to indirect). */
  def extendMapping(spark: SparkSession, manifestRoot: String,
                    logical: String, physical: Option[String] = None): Int = {
    val at = tableHead(spark, manifestRoot)
    val cur = currentMapping(spark, at)
    require(!cur.contains(logical), s"extend: '$logical' already visible")
    val phys = physical.getOrElse(logical)
    require(!cur.values.exists(_ == phys),
      s"extend: physical '$phys' already mapped")
    metadataCommit(spark, at)(named(Cmap.names(cur + (logical -> phys))))
  }

  /** ALTER TABLE ADD COLUMN — ONE metadata-only commit that (a) extends
    * the mapping with the new logical column and (b) declares its TYPE in
    * a companion marker, so the column is visible IMMEDIATELY as typed
    * nulls (the Delta ADD COLUMN contract) instead of waiting for the
    * first batch that materializes it. No data file is written; pinned
    * reads below the commit keep the old schema. Appended batches carry
    * the column physically from then on (the q118 footer-merge
    * mechanics), at which point the real values shadow the null fill. */
  def addColumn(spark: SparkSession, at: TableHead, logical: String,
                dataType: org.apache.spark.sql.types.DataType): Int = {
    val cur = currentMapping(spark, at)
    require(!cur.contains(logical), s"add: '$logical' already visible")
    require(!cur.values.exists(_ == logical),
      s"add: physical '$logical' already exists")
    metadataCommit(spark, at)(named(Cmap.names(cur + (logical -> logical)) :+
      addColMarker(logical, dataType)))
  }

  private def addColMarker(physical: String,
                           dt: org.apache.spark.sql.types.DataType): String =
    AddColPrefix + b64e(s"$physical:${dt.catalogString}")

  /** Declared (physical name → type) of every ADD COLUMN commit at or
    * below `version` — the types [[mappedTableAt]] null-fills with until
    * data materializes the column. */
  private def declaredTypes(spark: SparkSession, manifestRoot: String,
                            version: Int, listing: Seq[Int])
      : Map[String, org.apache.spark.sql.types.DataType] =
    accumulated(spark, manifestRoot, version, AddColPrefix, listing).map { n =>
      val Array(p, ddl) = b64d(n.stripPrefix(AddColPrefix)).split(":", 2)
      p -> org.apache.spark.sql.types.DataType.fromDDL(ddl)
    }.toMap

  /** Route a LOGICAL-schema batch to PHYSICAL names for writing — what an
    * appender uses after a rename so every data file keeps the one
    * physical schema. Columns outside the mapping are rejected (a writer
    * must evolve the mapping first, not invent physical names). */
  def toPhysical(batch: DataFrame, mapping: Map[String, String]): DataFrame = {
    val unknown = batch.columns.filterNot(mapping.contains)
    require(unknown.isEmpty,
      s"toPhysical: columns not in the mapping: ${unknown.toSeq.sorted}")
    batch.select(batch.columns.map(c => col(c).as(mapping(c))): _*)
  }

  /** [[tableAt]] through the mapping in force at `version`: physical
    * columns served under their logical names, in physical-schema order;
    * unmapped physical columns (dropped, or never mapped) are invisible.
    * A mapped column declared by [[addColumn]] but not yet materialized
    * by any data file serves as typed nulls (appended last, in logical
    * name order). */
  def mappedTableAt(spark: SparkSession, manifestRoot: String,
                    version: Int): DataFrame =
    mappedTableAt(spark, headAt(spark, manifestRoot, version))

  /** [[mappedTableAt]] at a statement's head (or a version pinned
    * through it). */
  def mappedTableAt(spark: SparkSession, at: TableHead): DataFrame = {
    val t = tableAt(spark, at)
    at.mapping match {
      case None => t
      case Some(m) =>
        val declared = declaredTypes(spark, at.root, at.version, at.listing)
        val order = t.columns.zipWithIndex.toMap
        val cols = m.toSeq
          .filter { case (_, p) => order.contains(p) }
          .sortBy { case (_, p) => order(p) }
          .map { case (l, p) => col(p).as(l) }
        val synthesized = m.toSeq
          .filter { case (_, p) => !order.contains(p) && declared.contains(p) }
          .sortBy(_._1)
          .map { case (l, p) => lit(null).cast(declared(p)).as(l) }
        require(cols.nonEmpty,
          s"mapping at v${at.version} matches no physical column of the snapshot")
        t.select(cols ++ synthesized: _*)
    }
  }

  /** [[readAt]] with ranges over LOGICAL names: ranges translate to
    * physical before touching the manifest — so the stats columns
    * (`min_<physical>`/`max_<physical>`) keep pruning across renames —
    * and the emitted rows come back under logical names. */
  def mappedReadAt(spark: SparkSession, manifestRoot: String, version: Int,
                   ranges: Seq[(String, Double, Double)]): Layout.PrunedScan = {
    columnMapping(spark, manifestRoot, version) match {
      case None => readAt(spark, manifestRoot, version, ranges)
      case Some(m) =>
        val phys = ranges.map { case (l, lo, hi) =>
          require(m.contains(l), s"pruned read on unmapped column '$l'")
          (m(l), lo, hi)
        }
        val pr = readAt(spark, manifestRoot, version, phys)
        val order = pr.df.columns.zipWithIndex.toMap
        val cols = m.toSeq
          .filter { case (_, p) => order.contains(p) }
          .sortBy { case (_, p) => order(p) }
          .map { case (l, p) => col(p).as(l) }
        Layout.PrunedScan(pr.df.select(cols: _*), pr.filesRead, pr.filesTotal)
    }
  }

  /** [[changesBetween]] served under the DESTINATION version's mapping —
    * how a CDC consumer reads a feed that crosses a rename: the diff runs
    * on physical rows (key-correct by construction — a rename commit
    * changes no (file, dv) pair, so it contributes no row changes), and
    * only the emitted column names translate. */
  def mappedChangesBetween(spark: SparkSession, manifestRoot: String,
                           vFrom: Int, vTo: Int): ChangeScan = {
    val cs = changesBetween(spark, manifestRoot, vFrom, vTo)
    columnMapping(spark, manifestRoot, vTo) match {
      case None => cs
      case Some(m) =>
        val order = cs.df.columns.zipWithIndex.toMap
        val cols = m.toSeq
          .filter { case (_, p) => order.contains(p) }
          .sortBy { case (_, p) => order(p) }
          .map { case (l, p) => col(p).as(l) } :+ col("change_type")
        ChangeScan(cs.df.select(cols: _*), cs.filesRead, cs.filesTotal)
    }
  }

  /** Reclaim storage: drop all but the last `retainLast` versions, then
    * delete every data file under `path` that no RETAINED version
    * references (compared by unique part-file name, like
    * [[Layout.appendWithManifest]]'s listing diff, so URI scheme
    * differences can't alias). Hidden/_-prefixed files are never touched.
    * Files referenced only by expired versions are exactly the superseded
    * delete/compaction inputs — after vacuum, time travel to an expired
    * version is gone by construction. */
  final case class VacuumPlan(dropVersions: Seq[Int], deadFiles: Seq[String],
                              deadDvDirs: Seq[String])

  /** Plan a [[vacuum]] WITHOUT touching anything — the `VACUUM … DRY RUN`
    * contract: exactly the versions, data files, and DV sidecar dirs the
    * real vacuum would reclaim, computed from the same retained-reference
    * sets the destructive path uses (shared code, so the listing can
    * never drift from what vacuum actually deletes). */
  def vacuumPlan(spark: SparkSession, path: String, manifestRoot: String,
                 retainLast: Int): VacuumPlan = {
    require(retainLast >= 1, "must retain at least the latest version")
    val vs = versions(spark, manifestRoot)
    require(vs.nonEmpty, s"no committed versions under $manifestRoot")
    val (drop, keep) = vs.splitAt((vs.size - retainLast).max(0))
    // a txn stage in the kept range is read raw ([[manifestAt]] refuses
    // it): an unresolved stage's files must outlive the vacuum, since its
    // txn may still commit
    val retained = keep.map(v => Dv.entries(
      if (txnVisible(spark, manifestRoot, v)) manifestAt(spark, manifestRoot, v)
      else versionRows(spark, manifestRoot, v)))
    val referenced = retained.flatten.map(e => Layout.fileName(e.file)).toSet
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = hfs(spark, path)
    val dead = fs.listStatus(dir).toSeq.filter { st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        !referenced.contains(st.getPath.getName)
    }.map(_.getPath.toString)
    // deletion-vector sidecars are versioned metadata like the data files:
    // a sidecar dir under _dv/ that no RETAINED manifest's dv column
    // references belongs only to expired masks — reclaim it the same way
    val dvDir = new org.apache.hadoop.fs.Path(path, "_dv")
    val deadDv =
      if (!fs.exists(dvDir)) Seq.empty
      else {
        val liveDv = retained.flatten
          .flatMap(_.dv).map(Layout.fileName).toSet
        fs.listStatus(dvDir).toSeq.filter { st =>
          st.isDirectory && !liveDv.contains(st.getPath.getName)
        }.map(_.getPath.toString)
      }
    VacuumPlan(drop, dead, deadDv)
  }

  def vacuum(spark: SparkSession, path: String, manifestRoot: String,
             retainLast: Int): VacuumResult = {
    val plan = vacuumPlan(spark, path, manifestRoot, retainLast)
    val vs = versions(spark, manifestRoot)
    val drop = plan.dropVersions
    // log-structured tails must stay self-contained: if the oldest retained
    // version is a delta whose fold base is about to be dropped,
    // materialize it as a checkpoint FIRST — every retained version then
    // folds from a base ≥ the cut. (writeCheckpoint is a no-op when the
    // base is already a retained full version or surviving checkpoint.)
    val cut = vs.drop(drop.size).head
    if (drop.nonEmpty && isDelta(spark, manifestRoot, cut) &&
        foldInfo(spark, manifestRoot, cut).base < cut)
      writeCheckpoint(spark, manifestRoot, cut)
    val fs = hfs(spark, path)
    plan.deadFiles.foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
    plan.deadDvDirs.foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
    // a marker commit (column mapping / declared column types / constraint
    // set) governs every LATER version until superseded — dropping its dir
    // must not lose the table's schema indirection or write contracts
    preserveMarkers(spark, manifestRoot, drop, cut)
    drop.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$manifestRoot/v=$v"), true)
    }
    // checkpoints below the cut cache expired log prefixes — reclaim them
    // (after the version drop, so a crash mid-vacuum never leaves a delta
    // tail whose base was deleted first)
    val mfs = hfs(spark, manifestRoot)
    checkpoints(spark, manifestRoot).filter(_ < cut).foreach { c =>
      mfs.delete(new org.apache.hadoop.fs.Path(s"$manifestRoot/ckpt=$c"), true)
    }
    // vacuum is the one operation that DELETES version dirs and data/DV
    // files a cached manifest or read plan may reference (vacuum cadence
    // is rare; the cache re-warms in one read)
    MetaCache.forget(manifestRoot)
    VacuumResult(plan.deadFiles.size.toLong + plan.deadDvDirs.size.toLong,
      drop.size.toLong)
  }

  /** Metadata-only aggregates: COUNT(*) and per-column MIN/MAX served
    * entirely from the manifest — sum of per-file row counts, min of
    * per-file mins, max of per-file maxes — with ZERO data files opened.
    * This is the "SELECT count(*) answered from table metadata" fast path
    * every table format serves; at 100 TB it is the difference between a
    * sub-second planner read and a full scan. SOUNDNESS GUARD: a manifest
    * carrying deletion-vector pointers cannot serve metadata counts (the
    * footer row counts include masked rows) — this refuses LOUDLY rather
    * than answer wrong; purge or compact first. MIN/MAX stay sound under
    * DVs in general table formats only as bounds, not exact extremes, so
    * they ride the same guard. */
  final case class StatsAgg(rows: Long, mins: Map[String, Double],
                            maxs: Map[String, Double])

  def statsAggAt(spark: SparkSession, manifestRoot: String, version: Int,
                 cols: Seq[String]): StatsAgg = {
    val m = statsManifestGuarded(spark, manifestRoot, version, cols)
    val aggs = sum(col("rows")).as("_n") +:
      cols.flatMap(c => Seq(
        min(col(s"min_$c")).cast("double").as(s"_lo_$c"),
        max(col(s"max_$c")).cast("double").as(s"_hi_$c")))
    val r = m.agg(aggs.head, aggs.tail: _*).collect()(0)
    StatsAgg(r.getLong(0),
      cols.zipWithIndex.map { case (c, i) => c -> r.getDouble(1 + 2 * i) }.toMap,
      cols.zipWithIndex.map { case (c, i) => c -> r.getDouble(2 + 2 * i) }.toMap)
  }

  /** [[statsAggAt]] with the stats columns' NATIVE types preserved: one
    * Row `(rows: Long, min_c1, max_c1, …)` in `cols` order, each extreme
    * typed exactly as the manifest (= data) column. For callers that
    * substitute the values INTO a plan — the metadata-only aggregate
    * rewrite — where a double round-trip would corrupt 64-bit or string
    * extremes. Same soundness guards: refuses DV-masked versions (footer
    * row counts include masked rows) and manifests mixing stats-bearing
    * and stats-less files (min/max silently skip nulls). */
  def statsAggRowAt(spark: SparkSession, manifestRoot: String, version: Int,
                    cols: Seq[String]): Row = {
    val m = statsManifestGuarded(spark, manifestRoot, version, cols)
    val aggs = coalesce(sum(col("rows")), lit(0L)).as("_n") +:
      cols.flatMap(c => Seq(
        min(col(s"min_$c")).as(s"_lo_$c"),
        max(col(s"max_$c")).as(s"_hi_$c")))
    m.agg(aggs.head, aggs.tail: _*).collect()(0)
  }

  private def statsManifestGuarded(spark: SparkSession, manifestRoot: String,
                                   version: Int, cols: Seq[String]): DataFrame = {
    val m = Dv.ensureDv(manifestAt(spark, manifestRoot, version))
    require(m.filter(col("dv").isNotNull).isEmpty,
      s"metadata-only aggregates are unsound over DV-masked files " +
        s"(v$version of $manifestRoot carries masks) — purge or compact first")
    cols.foreach { c =>
      require(m.columns.contains(s"min_$c") && m.columns.contains(s"max_$c"),
        s"no manifest stats for '$c' — was it in the stats column list?")
    }
    // a manifest MIXING stats-bearing and stats-less rows (e.g. a
    // generation committed without stats for a column) must not serve
    // extremes computed over the subset that happens to carry them —
    // min/max aggregates silently skip nulls, so guard loudly instead
    val partial = cols.filter(c =>
      !m.filter(col(s"min_$c").isNull || col(s"max_$c").isNull).isEmpty)
    require(partial.isEmpty,
      s"metadata-only extremes are unsound: manifest rows lack stats for " +
        s"${partial.sorted.mkString(", ")} — rebuild the manifest with " +
        "stats for every file, or aggregate by scan")
    m
  }

  /** Thrown by [[appendCommitChecked]] when a batch violates the table's
    * CHECK constraint — nothing is staged, moved, or committed. */
  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** CHECK-constraint-enforced append (the Delta `ALTER TABLE ... ADD
    * CONSTRAINT` enforcement point re-expressed on the version log): the
    * batch is validated BEFORE any staging, in one counting pass; a
    * violating batch raises [[ConstraintViolationException]] and leaves
    * the table byte-identical — no data files, no version, the write-path
    * atomicity every constraint system needs. SQL CHECK semantics: NULL
    * passes, only an explicit FALSE violates. */
  def appendCommitChecked(spark: SparkSession, batch: DataFrame,
                          cols: Seq[String], path: String,
                          manifestRoot: String, nFiles: Int,
                          constraint: org.apache.spark.sql.Column,
                          constraintName: String): (Int, Int) = {
    val bad = batch.filter(!coalesce(constraint, lit(true))).count()
    if (bad > 0)
      throw new ConstraintViolationException(
        s"CHECK constraint '$constraintName' violated by $bad rows — " +
          "nothing committed")
    appendCommit(spark, batch, cols, path, manifestRoot, nFiles)
  }

  // ------------------------------------------------------------------
  // PERSISTED CHECK CONSTRAINTS — the Delta `ALTER TABLE ADD CONSTRAINT`
  // table property, re-expressed on the version log: the constraint SET
  // (name → SQL condition over PHYSICAL column names) rides a commit as an
  // underscore-prefixed marker, exactly like the column mapping — visible
  // in the same atomic rename as the manifest, superseding-set semantics
  // (the marker at the largest version ≤ v is the set in force at v).
  // Enforcement is at the staged-files seam every write path already
  // passes through ([[enforceStagedConstraints]]): the about-to-be-moved
  // staging dir is validated in ONE fused counting pass, and a violation
  // drops the staging and aborts BEFORE the move — no data file is ever
  // referenced, the table stays byte-identical (the same validate-before-
  // visibility contract as [[appendCommitChecked]], but persisted and
  // writer-independent: ANY committer against the log obeys it).
  // ------------------------------------------------------------------

  /** Every source-file key ever loaded by [[copyIntoCommit]] (union over
    * all committed versions: the keys ride each append's atomic rename as
    * `_copy_<key>` markers and accumulate, and vacuum re-homes them).
    * Lists only the versions committed since the last call. */
  def copiedKeys(spark: SparkSession, manifestRoot: String): Set[String] =
    accumulated(spark, manifestRoot, Int.MaxValue, CopyPrefix,
      versions(spark, manifestRoot)).map(_.stripPrefix(CopyPrefix)).toSet

  final case class CopyResult(version: Int, filesLoaded: Long,
                              rowsLoaded: Long, filesSkipped: Long)

  /** Idempotent file-tracking ingest — the Databricks `COPY INTO` shape:
    * `srcFiles` are (absolute path, idempotency key) pairs for the source
    * directory's data files; files whose key the ledger already carries
    * are SKIPPED, the rest are read by `read`, staged z-ordered, and
    * committed as ONE append whose version dir also records the new keys
    * (marker + data land in the same atomic rename — a crash can lose the
    * whole commit but never double-load, and a re-run after success loads
    * nothing). Zero new files → metadata no-op: NO version committed.
    *
    * Scale shape: the ledger scan is O(new commits) FS listings
    * (memoized); skip/load partitioning is file-count-bounded driver
    * work; the data path is the ordinary staged z-ordered append — the
    * daily-ingest cadence cost is the new files' bytes, never the
    * table's. */
  def copyIntoCommit(spark: SparkSession, path: String, at: TableHead,
                     cols: Seq[String], nFiles: Int,
                     srcFiles: Seq[(String, String)],
                     read: Seq[String] => DataFrame): CopyResult = {
    val loaded = accumulated(spark, at.root, Int.MaxValue, CopyPrefix,
      at.listing).map(_.stripPrefix(CopyPrefix)).toSet
    val (skip, fresh) = srcFiles.partition(f => loaded.contains(f._2))
    if (fresh.isEmpty) return CopyResult(at.version, 0L, 0L, skip.size.toLong)
    val batch = read(fresh.map(_._1)).localCheckpoint()
    val rows = batch.count()
    val (version, _) = appendCommit(spark, batch, cols, path, at, nFiles,
      None, fresh.map(f => CopyPrefix + f._2), Seq.empty)
    CopyResult(version, fresh.size.toLong, rows, skip.size.toLong)
  }

  /** The CHECK-constraint set in force at `version`: the marker of the
    * largest version at or below it carrying one (a set, once committed,
    * governs every later version until superseded). Conditions are SQL
    * expression text over PHYSICAL column names. */
  def checkConstraints(spark: SparkSession, manifestRoot: String,
                       version: Int): Map[String, String] =
    headAt(spark, manifestRoot, version).checks

  /** ADD a named CHECK constraint — ONE metadata-only commit after
    * validating that every EXISTING live row satisfies it (the Delta ADD
    * CONSTRAINT contract: a constraint that is already false cannot be
    * declared; one O(live-rows) counting pass, the unavoidable cost).
    * From this commit on, every write path refuses staged batches that
    * violate it. NULL passes; only explicit FALSE violates (SQL CHECK
    * three-valued semantics). */
  def addConstraint(spark: SparkSession, manifestRoot: String,
                    name: String, condition: String): Int =
    addConstraint(spark, tableHead(spark, manifestRoot), name, condition)

  def addConstraint(spark: SparkSession, at: TableHead,
                    name: String, condition: String): Int = {
    require(name != null && name.nonEmpty, "constraint needs a name")
    require(!at.checks.contains(name),
      s"constraint '$name' already exists (${at.checks(name)})")
    // an EMPTY table (a plain CREATE TABLE before any INSERT) trivially
    // satisfies every constraint — nothing to validate, no scan
    val entries = Dv.entries(Dv.ensureDv(manifestAt(spark, at.root, at.version)))
    val bad =
      if (entries.isEmpty) 0L
      else Dv.readLive(spark, entries, at.schema)
        .filter(!coalesce(expr(condition), lit(true))).count()
    if (bad > 0)
      throw new ConstraintViolationException(
        s"cannot ADD CONSTRAINT '$name' CHECK ($condition): $bad existing " +
          "rows violate it — nothing committed")
    metadataCommit(spark, at)(named(Ck.names(at.checks + (name -> condition))))
  }

  /** FOREIGN KEY constraints in force at head `at` —
    * name → (column, parent manifest root, parent key column). Stored as
    * `graft.fk.<name>` table properties (the parent is resolved to its
    * manifest root at ADD time, so enforcement never needs a name
    * registry). Unlike RELY constraints ([[graft.plans.RelyConstraints]],
    * optimizer hints the engine TRUSTS), these are ENFORCED: they gate
    * every staged write. */
  def foreignKeys(at: TableHead): Map[String, (String, String, String)] =
    at.props.collect {
      case (k, v) if k.startsWith("graft.fk.") =>
        val Array(c, root, key) = v.split("\t", 3)
        k.stripPrefix("graft.fk.") -> ((c, root, key))
    }

  /** ADD an ENFORCED foreign key: existing rows validate first (an
    * orphan-carrying table cannot adopt the contract — nothing commits),
    * then the edge lands as ONE metadata-only property commit. NULL child
    * values pass (the SQL MATCH SIMPLE convention, mirroring CHECK's
    * three-valued logic); enforcement on later writes is a key-distinct
    * anti-join of the staged batch against the parent's live keys —
    * batch-keys-bounded, the parent streams once. */
  def addForeignKey(spark: SparkSession, at: TableHead, name: String,
                    column: String, parent: TableHead,
                    parentKey: String): Int = {
    require(!foreignKeys(at).contains(name),
      s"foreign key '$name' already exists")
    val entries = Dv.entries(Dv.ensureDv(manifestAt(spark, at.root, at.version)))
    if (entries.nonEmpty) {
      val orphans = orphanCount(spark,
        Dv.readLive(spark, entries, at.schema), column, parent, parentKey)
      if (orphans > 0)
        throw new ConstraintViolationException(
          s"cannot ADD FOREIGN KEY '$name' ($column → $parentKey): " +
            s"$orphans existing rows have no parent — nothing committed")
    }
    setProperties(spark, at, Map(
      s"graft.fk.$name" -> s"$column\t${parent.root}\t$parentKey"))
  }

  /** Child rows of `df` whose non-null `column` has no match in the
    * parent's live `parentKey` set — the FK violation count. Distinct
    * child keys anti-join the parent (both sides key-distinct, so the
    * join is keys × keys, never rows × rows), then matches broadcast
    * back. */
  private def orphanCount(spark: SparkSession, df: DataFrame, column: String,
                          parentHead: TableHead, parentKey: String): Long = {
    val parent = Dv.readLive(spark,
        Dv.entries(manifestAt(spark, parentHead.root, parentHead.version)),
        parentHead.schema)
      .select(col(parentKey).as("_fk_p")).distinct()
    df.filter(col(column).isNotNull)
      .select(col(column).as("_fk_c")).distinct()
      .join(parent, col("_fk_c") === col("_fk_p"), "left_anti")
      .count()
  }

  /** DROP a named CHECK constraint — metadata-only commit superseding the
    * set without it; later writes stop enforcing it, pinned reads below
    * the commit are unaffected (constraints gate writes, not reads). */
  def dropConstraint(spark: SparkSession, manifestRoot: String,
                     name: String, ifExists: Boolean = false): Int =
    dropConstraint(spark, tableHead(spark, manifestRoot), name, ifExists)

  def dropConstraint(spark: SparkSession, at: TableHead, name: String,
                     ifExists: Boolean): Int = {
    require(at.checks.contains(name) || ifExists,
      s"no constraint '$name' (have ${at.checks.keys.toSeq.sorted.mkString(", ")})")
    metadataCommit(spark, at)(
      if (at.checks.contains(name)) named(Ck.names(at.checks - name))
      else Seq.empty)
  }

  /** The write-path enforcement seam: validate a finished staging dir
    * against the constraint set in force at the log head NOW (at staging
    * time, so a concurrent ADD CONSTRAINT that landed after the writer
    * planned still gates it), resolved once for both legs. The FOREIGN
    * KEY leg runs first: a batch-keys-bounded anti-join per edge (see
    * [[orphanCount]]); the CHECK and NOT NULL constraints then share ONE
    * fused counting pass over the staged bytes (zero extra compute of the
    * input frame — the rows were just written; reading them back costs
    * one local columnar scan). A violation deletes the staging dir and
    * aborts: nothing was moved or referenced, so the table stays
    * byte-identical. No-op (and no read) when the table has no
    * constraints. */
  private def enforceStagedConstraints(spark: SparkSession,
                                       manifestRoot: String,
                                       staging: String): Unit = {
    val at = tableHead(spark, manifestRoot)
    val fks = foreignKeys(at).toSeq.sortBy(_._1)
    val cs = at.checks.toSeq.sorted
    // NOT NULL (the OTHER write-side contract a Databricks table
    // carries): declared-nullable=false columns gate alongside the CHECK
    // constraints, in the SAME fused single-pass aggregate. Note the
    // semantics difference the fixture pins: a NULL PASSES a CHECK
    // (three-valued logic — only FALSE rejects) but FAILS NOT NULL.
    val nn = at.schema.map(_.fields.filter(!_.nullable).map(_.name).toSeq)
      .getOrElse(Seq.empty)
    if (fks.isEmpty && cs.isEmpty && nn.isEmpty) return
    val df = Dv.readDir(spark, staging)
    val present = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    def reject(what: String): Nothing = {
      val p = new org.apache.hadoop.fs.Path(staging)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true) : Unit
      throw new ConstraintViolationException(
        s"$what — staging dropped, nothing committed")
    }
    fks.foreach { case (name, (column, parentRoot, parentKey)) =>
      if (present(column.toLowerCase(java.util.Locale.ROOT))) {
        val orphans = orphanCount(spark, df, column,
          tableHead(spark, parentRoot), parentKey)
        if (orphans > 0)
          reject(s"FOREIGN KEY '$name' ($column → $parentKey) violated by " +
            s"$orphans staged rows with no parent")
      }
    }
    val nnHere = nn.filter(c =>
      present(c.toLowerCase(java.util.Locale.ROOT))).sorted
    val checks: Seq[(String, org.apache.spark.sql.Column)] =
      cs.map { case (n, c) =>
        s"CHECK constraint '$n' ($c)" -> !coalesce(expr(c), lit(true)) } ++
      nnHere.map(c => s"NOT NULL constraint on '$c'" -> col(c).isNull)
    if (checks.isEmpty) return
    val aggs = checks.zipWithIndex.map { case ((_, bad), i) =>
      sum(when(bad, 1L).otherwise(0L)).as(s"_c$i") }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    checks.zipWithIndex.foreach { case ((what, _), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (bad > 0) reject(s"$what violated by $bad staged rows")
    }
  }

  final case class ReplaceResult(version: Int, filesRewritten: Long,
                                 filesTotal: Long, rowsDeleted: Long,
                                 filesAppended: Long, filesDropped: Long = 0L)

  /** Scoped atomic OVERWRITE — the Delta `replaceWhere` shape: ONE commit
    * replaces exactly the predicate's rows with `batch`. Files whose stats
    * intersect `prune` are rewritten to their surviving (non-matching LIVE)
    * rows, the batch stages z-ordered, and vN+1 = (manifest − touched) ∪
    * survivors ∪ batch lands in a single manifest swap — a reader sees the
    * old state or the new, never the gap a separate DELETE + INSERT would
    * open. Untouched files are never read (the deleteWhere pruning
    * economics). Every batch row must satisfy `pred` — an overwrite scoped
    * to a slice must not smuggle rows outside it (checked FIRST, before
    * any staging; the Delta replaceWhere contract) — and the batch passes
    * the table's CHECK constraints like every other write. A crash at any
    * point pre-commit leaves only unreferenced files. */
  def replaceWhereCommit(spark: SparkSession, batch: DataFrame,
                         cols: Seq[String], path: String, at: TableHead,
                         nFiles: Int, prune: org.apache.spark.sql.Column,
                         pred: org.apache.spark.sql.Column,
                         cover: Option[(org.apache.spark.sql.Column, Seq[String])] = None)
      : ReplaceResult = {
    val escaped = batch.filter(!coalesce(pred, lit(false))).count()
    require(escaped == 0,
      s"REPLACE WHERE batch has $escaped rows OUTSIDE the replaced " +
        "predicate — a scoped overwrite cannot smuggle rows past its " +
        "scope; nothing committed")
    val total = Pin.count(at.manifest)
    val hit = Dv.entries(at.manifest.filter(prune))
    // whole-file drops (same proof as [[deleteWherePred]]): the daily
    // `REPLACE WHERE run_date = X` re-land is THE partition-overwrite
    // workload — on a date-clustered layout the old partition's files are
    // fully covered, so the replace removes them metadata-only and pays
    // for writing the new batch, not rewriting the old one
    val dropped = wholeFileDrops(spark, at.manifest, prune, cover)
    val rewrite = hit.filterNot(e => dropped.contains(e.file))
    // batch lands (and constraint-checks) FIRST: a rejected batch aborts
    // before any survivor rewrite work is spent
    val bMoved = land(spark, path, gatedBy = Some(at.root))(
      Layout.zorderWrite(batch, cols, _, nFiles))
    val (survivorFiles, deleted) =
      if (rewrite.isEmpty) (Seq.empty[String], 0L)
      else {
        val live = Dv.readLive(spark, rewrite, at.schema)
        val del = live.filter(pred).count()
        (land(spark, path, gatedBy = None)(
          live.filter(!coalesce(pred, lit(false))).write.parquet(_)), del)
      }
    ReplaceResult(swapCommit(spark, at.root, at.manifest, hit.map(_.file),
        statsFor(spark, survivorFiles ++ bMoved, cols)), rewrite.size.toLong,
      total, deleted + dropped.values.sum, bMoved.size.toLong,
      dropped.size.toLong)
  }

  final case class HistoryEntry(version: Int, operation: String, rows: Long)

  /** DESCRIBE HISTORY over the version log: one entry per commit with the
    * OPERATION inferred from the log itself — no writer cooperation
    * needed. Markers classify what manifests can't (`_restore_*`,
    * column-mapping commits); everything else falls out of the
    * (file, dv)-pair diff against the previous visible version
    * ([[commits]]: an aborted txn stage is not history) plus the manifest
    * row counts: adds-only ⇒ append, dv-pointer-only movement ⇒
    * mor-delete, equal rows across a changed file set ⇒ relayout
    * (compaction/purge), shrinking rows ⇒ delete, growing rows with
    * rewrites ⇒ merge. Planner-side work, version × file-count bounded;
    * `rows` is the manifest row count (for MoR versions that includes
    * masked rows — the physical count, like the formats' own histories). */
  def history(spark: SparkSession, manifestRoot: String): Seq[HistoryEntry] = {
    var prevRows = 0L
    commits(spark, manifestRoot, 0).map { c =>
      // Σ rows job-free on a cached manifest; a null `rows` stat falls
      // back to counting the version's files
      val rows = Pin.longSum(manifestAt(spark, manifestRoot, c.version),
          "rows")
        .getOrElse(spark.read.parquet(c.entries.toSeq.map(_.file): _*)
          .count())
      val markers = markerNames(spark, manifestRoot, c.version)
      val op =
        if (markers.exists(_.startsWith("_restore_"))) "restore"
        else if (c.base == 0) "create"
        else if (markers.exists(_.startsWith(CmapPrefix))) "schema"
        else if (c.added.isEmpty && c.removed.isEmpty) "metadata"
        else if (c.added.map(_.file) == c.removed.map(_.file)) "mor-delete"
        else if (c.removed.isEmpty) "append"
        else if (rows == prevRows) "relayout"
        else if (rows < prevRows) "delete"
        else "merge"
      prevRows = rows
      HistoryEntry(c.version, op, rows)
    }.toSeq
  }

  /** Re-home governing markers out of about-to-drop version dirs into the
    * oldest RETAINED version's dir (the cut):
    *  - the superseding kinds (column mapping, constraint set, properties
    *    — every chunk of each — and the declared schema): the newest
    *    marker at-or-below the cut is the one in force for every retained
    *    version — if it lives in a dropped dir, recreate it at the cut
    *    (superseding-set semantics at every surviving version are
    *    unchanged; history below the cut is gone anyway);
    *  - the accumulating kinds (ADD COLUMN types, COPY INTO keys): every
    *    one in a dropped dir moves to the cut.
    * Without this, a vacuum reaching past the last schema/constraint
    * commit would silently strip the table of its renames, declared
    * columns, or write contracts. */
  private def preserveMarkers(spark: SparkSession, manifestRoot: String,
                              drop: Seq[Int], cut: Int): Unit = {
    if (drop.isEmpty) return
    val fs = hfs(spark, manifestRoot)
    val dropSet = drop.toSet
    def rehome(from: Int, marker: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$manifestRoot/v=$cut/$marker"), true)
      try out.write(markerContent(spark, manifestRoot, from, marker).get
        .getBytes("UTF-8"))
      finally out.close()
    }
    for (prefix <- Seq(CmapPrefix, CkPrefix, PropsPrefix, SchemaMarker))
      inForce(spark, manifestRoot, cut, prefix, versions(spark, manifestRoot))
        .foreach { case (v, ms) =>
        if (dropSet.contains(v)) ms.foreach(rehome(v, _)) }
    drop.foreach(v => markerNames(spark, manifestRoot, v)
      .filter(n => n.startsWith(AddColPrefix) || n.startsWith(CopyPrefix))
      .foreach(rehome(v, _)))
  }

  /** [[vacuum]] by RETENTION PERIOD (the `VACUUM ... RETAIN n HOURS`
    * form): expires every version whose commit timestamp (q130's
    * in-commit stamps) is strictly older than `cutoffMs`, always
    * retaining at least the latest version — then reclaims files exactly
    * as [[vacuum]] does. Resolution reuses [[versionAtTimestamp]]: the
    * newest version at-or-before the cutoff is the oldest survivor
    * (pinning it keeps `AS OF cutoff` time travel working — the retention
    * contract users actually rely on). */
  def vacuumRetention(spark: SparkSession, path: String, manifestRoot: String,
                      cutoffMs: Long): VacuumResult =
    vacuum(spark, path, manifestRoot,
      retainLast = retentionRetain(spark, manifestRoot, cutoffMs))

  /** [[vacuumPlan]] for the retention-period form — same resolution as
    * [[vacuumRetention]], nothing touched. */
  def vacuumRetentionPlan(spark: SparkSession, path: String,
                          manifestRoot: String, cutoffMs: Long): VacuumPlan =
    vacuumPlan(spark, path, manifestRoot,
      retainLast = retentionRetain(spark, manifestRoot, cutoffMs))

  private def retentionRetain(spark: SparkSession, manifestRoot: String,
                              cutoffMs: Long): Int = {
    val vs = versions(spark, manifestRoot)
    require(vs.nonEmpty, s"no committed versions under $manifestRoot")
    val survivor =
      try versionAtTimestamp(spark, manifestRoot, cutoffMs)
      catch { case _: Exception => vs.head } // cutoff predates the log
    vs.count(_ >= survivor).max(1)
  }

  /** RESTORE to `toVersion` as a NEW head commit (the Delta `RESTORE
    * TABLE ... TO VERSION AS OF` shape — north-star depth beyond the
    * reference's overwrite loads, run_load.py:61): the restored manifest
    * is the target version's
    * manifest re-committed at the head — roll-FORWARD, so history between
    * the target and the old head stays pinnable, and the bad commits can
    * still be audited through the change feed. Zero data files are
    * written, moved, or deleted: the commit re-references files every
    * prior version already references (which is also why a restore is
    * only valid while those versions survive [[vacuum]]). When the table
    * carries a column mapping, the mapping IN FORCE AT THE TARGET is
    * re-asserted on the restore commit — otherwise marker resolution
    * (largest version ≤ head) would serve the abandoned head's schema
    * over restored data. */
  def restoreCommit(spark: SparkSession, manifestRoot: String,
                    toVersion: Int): Int = {
    val vs = versions(spark, manifestRoot)
    require(vs.contains(toVersion),
      s"restore: no version $toVersion under $manifestRoot (have $vs)")
    val head = vs.last
    val targetMap = columnMapping(spark, manifestRoot, toVersion)
    val headMap = columnMapping(spark, manifestRoot, head)
    val markers =
      if (targetMap == headMap) Seq.empty
      else Cmap.names(targetMap.getOrElse(
        // the head mapped names but the target predates every mapping:
        // the restore must re-expose raw physical names → identity map
        tableAt(spark, manifestRoot, toVersion).columns
          .map(c => c -> c).toMap))
    commit(spark, manifestAt(spark, manifestRoot, toVersion), manifestRoot,
      markers = markers :+ s"_restore_$toVersion")
  }

  /** SHALLOW CLONE: initialize a fresh manifest root whose v=1 is the
    * source's pinned manifest — zero data files copied; the clone
    * references the source's files by the same absolute paths the source
    * manifest carries. From that point the two logs evolve independently:
    * commits on the clone (appends/deletes staged into the CLONE's data
    * dir) are invisible to the source and vice versa, because immutable
    * data files are only ever superseded by new manifests, never edited.
    * The source's column mapping at the pinned version travels with the
    * clone. Documented hazard (shared with every shallow-clone design):
    * a [[vacuum]] on the SOURCE can reclaim files the clone still
    * references — don't vacuum a cloned-from table, or deep-copy first. */
  def cloneCommit(spark: SparkSession, srcRoot: String, dstRoot: String,
                  version: Int): Int = {
    require(versions(spark, dstRoot).isEmpty,
      s"clone destination $dstRoot already has commits")
    val markers = columnMapping(spark, srcRoot, version).toSeq
      .flatMap(Cmap.names)
    commit(spark, manifestAt(spark, srcRoot, version), dstRoot,
      markers = markers :+ s"_clone_v$version")
  }

  final case class DeepCloneResult(version: Int, filesCopied: Long,
                                   bytesCopied: Long)

  /** DEEP CLONE — an independent PHYSICAL copy of one version: every live
    * data file and referenced DV sidecar is copied into the destination
    * directory by an EXECUTOR-PARALLEL job, and the destination's v1
    * references the copies. Unlike [[cloneCommit]] (the zero-copy fork)
    * the result shares no storage with the source, so vacuuming, purging,
    * or deleting the source can never invalidate it — the migration /
    * backup statement. At 100 TB the byte copy IS the whole cost, which
    * is why it runs as a Spark job over the file list (driver work stays
    * file-count-bounded: listing, name mapping, the manifest remap) —
    * never a driver-side byte loop. Executors resolve filesystems from a
    * BROADCAST of the session's Hadoop configuration
    * ([[org.apache.spark.util.SerializableConfiguration]]), so schemes
    * that need session config (s3a credentials, custom FS impls) resolve
    * the same FS on executors as on the driver. Column mapping is
    * re-asserted like the shallow twin; stats carry over unchanged (a
    * byte copy cannot move min/max). */
  def deepCloneCommit(spark: SparkSession, srcRoot: String, dstPath: String,
                      dstRoot: String, version: Int): DeepCloneResult = {
    require(versions(spark, dstRoot).isEmpty,
      s"clone destination $dstRoot already has commits")
    val m = Pin.checkpoint(Dv.ensureDv(manifestAt(spark, srcRoot, version)))
    val entries = Dv.entries(m)
    require(entries.nonEmpty, "DEEP CLONE of an empty version")
    val conf = spark.sparkContext.hadoopConfiguration
    val dstDir = new org.apache.hadoop.fs.Path(dstPath)
    val fs = dstDir.getFileSystem(conf)
    fs.mkdirs(dstDir) : Unit
    def base(p: String) = new org.apache.hadoop.fs.Path(p).getName
    require(entries.map(e => base(e.file)).distinct.size == entries.size,
      "DEEP CLONE source has colliding data-file names")
    val dataPairs = entries.map(e => e.file ->
      fs.makeQualified(new org.apache.hadoop.fs.Path(dstDir, base(e.file)))
        .toString)
    // data files: plain executor-parallel byte copy; the session conf
    // rides along as a broadcast so executor-side FS resolution matches
    // the driver's (credentials, custom schemes)
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))
    val bytes = spark.sparkContext
      .parallelize(dataPairs, math.max(1, math.min(dataPairs.size, 64)))
      .map { case (s, d) =>
        val c = bcConf.value.value
        val sp = new org.apache.hadoop.fs.Path(s)
        val dp = new org.apache.hadoop.fs.Path(d)
        val dfs = dp.getFileSystem(c)
        org.apache.hadoop.fs.FileUtil.copy(
          sp.getFileSystem(c), sp, dfs, dp, false, true, c) : Unit
        dfs.getFileStatus(dp).getLen
      }
      .fold(0L)(_ + _)
    // sidecars canNOT be byte-copied: their rows key masks by the SOURCE
    // file paths. Each referenced sidecar is REWRITTEN through the path
    // remap (a small Spark job per sidecar, mask-size-bounded); rows for
    // files outside this version's manifest drop (a shared sidecar may
    // carry other versions' masks the clone never references)
    val remap = spark.createDataFrame(dataPairs).toDF("_of", "_nf")
    val dvDirs = entries.flatMap(_.dv).distinct
    val dvDirMap = dvDirs.map { d =>
      d -> fs.makeQualified(
        new org.apache.hadoop.fs.Path(s"$dstPath/_dv/${base(d)}")).toString
    }.toMap
    val dvBytes = dvDirMap.toSeq.map { case (srcDv, dstDv) =>
      spark.read.parquet(srcDv)
        .join(org.apache.spark.sql.functions.broadcast(remap),
          col(Dv.FileCol) === col("_of"))
        .select(col("_nf").as(Dv.FileCol), col(Dv.PosCol))
        .coalesce(1).write.mode("overwrite").parquet(dstDv)
      val dp = new org.apache.hadoop.fs.Path(dstDv)
      dp.getFileSystem(conf).getContentSummary(dp).getLength
    }.sum
    // manifest remap through broadcast joins (file-count-bounded frames);
    // stats columns ride along untouched
    val fdf = spark.createDataFrame(dataPairs).toDF("file", "_nf")
    val remappedFile = m
      .join(org.apache.spark.sql.functions.broadcast(fdf), Seq("file"))
      .withColumn("file", col("_nf")).drop("_nf")
    val next =
      if (dvDirMap.isEmpty) remappedFile
      else {
        val ddf = spark.createDataFrame(dvDirMap.toSeq).toDF("dv", "_nd")
        remappedFile
          .join(org.apache.spark.sql.functions.broadcast(ddf), Seq("dv"),
            "left")
          .withColumn("dv", coalesce(col("_nd"), col("dv"))).drop("_nd")
      }
    val markers = columnMapping(spark, srcRoot, version).toSeq
      .flatMap(Cmap.names)
    val v = commit(spark, next, dstRoot,
      markers = markers :+ s"_deepclone_v$version")
    DeepCloneResult(v, (dataPairs.size + dvDirMap.size).toLong,
      bytes + dvBytes)
  }
}
