package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsRead, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sinks.Snapshots
import graft.sources.v2.CommitsTable
import graft.sql.LakeSql.LakeTableSpec

/** DataSource V2 [[TableCatalog]] for lake tables — the integration that
  * makes the warehouse consumer's `catalog.schema.table` addressing work
  * through Spark's OWN catalog plumbing (the DeltaCatalog shape; the
  * reference feeds Power BI through exactly such three-part names,
  * reference `README.md:23-27`):
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.catalog.lake", "graft.sql.LakeCatalog")
  *     .config("spark.sql.catalog.lake.warehouse", "/data/lake")
  * }}}
  *
  * after which plain `spark.sql` serves, with no front-door wrapper:
  *   - `CREATE NAMESPACE lake.sales` / `SHOW NAMESPACES IN lake`
  *   - `CREATE TABLE lake.sales.dim (id BIGINT, name STRING) USING lake
  *      TBLPROPERTIES ('stats_cols' = 'id')` — an EMPTY declared-schema
  *      table ([[Snapshots.createEmptyTable]]): v1 is a typed empty
  *      manifest + the declared schema as a table property, so the first
  *      INSERT already validates schema-on-write and DML predicates
  *      compile against native stats types
  *   - `SELECT … FROM lake.sales.dim [VERSION AS OF n]` — resolution
  *      yields a [[LakeRowTable]] relation that [[ResolveLakeTables]]
  *      rewrites to the SAME manifest-read plan as the `LakeSql.sql`
  *      front door (sameResult by construction; metadata-only aggregates
  *      keep working through the scan tag)
  *   - DELETE / UPDATE / MERGE / INSERT against `lake.db.t` — claimed at
  *      the PARSER ([[GraftSqlParser]]) while the tree is still fully
  *      unresolved, routed through the front door's own DML handlers
  *   - `spark.readStream.table("lake.db.t")` — a ROW-NATIVE streaming
  *      source over the version log ([[LakeRowsMicroBatchStream]]):
  *      offsets are versions, each micro-batch reads exactly the files
  *      its commits appended; and `lake.db.`t$commits`` serves the
  *      metadata-only (version, file) bridge ([[CommitsTable]]) for
  *      consumers that want the file-manifest pattern
  *   - `DROP TABLE` / `SHOW TABLES IN lake.db` / `ALTER TABLE … SET
  *      TBLPROPERTIES`
  *
  * LAYOUT: one directory level per namespace (`<warehouse>/<db>`), one
  * directory per table (`<warehouse>/<db>/<t>` holding `z/` data and
  * `m/` manifest — the CTAS layout). `LOCATION` overrides the table
  * root; `data_dir`/`manifest_dir` table properties override the halves
  * (what [[LakeSql]]'s SHOW CREATE emits for tables registered at
  * non-conventional paths). A loaded table self-registers in the
  * [[LakeSql]] registry under `db.t`, so the extension grammar
  * (OPTIMIZE, VACUUM, time-travel TVFs, …) addresses catalog tables
  * too.
  *
  * SCALE: every operation here is metadata-only — namespace/table
  * listing is directory status, createTable commits one empty manifest,
  * loadTable lists the manifest root once and reads the head manifest
  * (its footer on a cache miss, plus the delta tail of a log-structured
  * head), and the statement reuses that head. No data file is ever
  * opened by the catalog itself.
  */
class LakeCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.warehouse"))
    LakeCatalog.catalogNames.add(name.toLowerCase(java.util.Locale.ROOT)) : Unit
  }

  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nsPath(ns: Array[String]): Path = {
    require(ns.length == 1,
      s"lake namespaces are one level, got ${ns.mkString(".")}")
    new Path(warehouse, ns(0).toLowerCase(java.util.Locale.ROOT))
  }

  private def tableRoot(ident: Identifier): Path =
    new Path(nsPath(ident.namespace),
      ident.name.toLowerCase(java.util.Locale.ROOT))

  /** `db.t` — the [[LakeSql]] registry key for a catalog table (the
    * catalog prefix is stripped there by name normalization). */
  private def registryKey(ident: Identifier): String =
    (ident.namespace :+ ident.name).mkString(".")
      .toLowerCase(java.util.Locale.ROOT)

  // ------------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] = {
    val p = new Path(warehouse)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).sortBy(_.head)
  }

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (namespaceExists(ns)) Array.empty // one level deep
    else throw new NoSuchNamespaceException(ns)

  override def loadNamespaceMetadata(ns: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(ns)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(ns)

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.length == 1 && fs.exists(nsPath(ns))

  override def createNamespace(ns: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    require(!namespaceExists(ns),
      s"namespace ${ns.mkString(".")} already exists")
    fs.mkdirs(nsPath(ns)) : Unit
  }

  override def alterNamespace(ns: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "ALTER NAMESPACE is not supported on a lake catalog")

  override def dropNamespace(ns: Array[String],
                             cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) return false
    if (!cascade)
      require(listTables(ns).isEmpty,
        s"namespace ${ns.mkString(".")} is not empty (use CASCADE)")
    listTables(ns).foreach(dropTable(_): Unit)
    fs.delete(nsPath(ns), true)
  }

  // ----------------------------------------------------------- tables

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    fs.listStatus(nsPath(ns)).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(t => Snapshots.versions(spark,
        new Path(new Path(nsPath(ns), t), "m").toString).nonEmpty)
      .sorted.map(Identifier.of(ns, _))
  }

  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true }
    catch { case _: NoSuchTableException => false }

  /** Load `ident` from ONE head, the listing of `<root>/m` (a second
    * only when a `manifest_dir` property points the manifest elsewhere):
    * an empty root is a missing table; stats columns come from the head
    * manifest's `min_` fields (the schema authority for the prune
    * domain), rewrite fan-out and non-conventional dirs from the
    * properties CREATE TABLE recorded. Self-registers under `db.t`. */
  private def load(ident: Identifier,
                   pinnedVersion: Snapshots.TableHead => Option[Int])
      : LakeRowTable = {
    def missing = new NoSuchTableException(ident.namespace :+ ident.name)
    if (ident.namespace.length != 1) throw missing
    val root = tableRoot(ident)
    val conventional = new Path(root, "m").toString
    val h = Snapshots.headOption(spark, conventional).getOrElse(throw missing)
    val manifestRoot = h.props.getOrElse("manifest_dir", conventional)
    val head =
      if (manifestRoot == conventional) h
      else Snapshots.tableHead(spark, manifestRoot)
    val statsCols = Snapshots.manifestAt(spark, head).schema.fieldNames
      .filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq
    val spec = LakeTableSpec(
      h.props.getOrElse("data_dir", new Path(root, "z").toString),
      manifestRoot, statsCols, h.props.get("files").map(_.toInt).getOrElse(8))
    LakeSql.register(registryKey(ident), spec)
    LakeRowTable(registryKey(ident), spec, pinnedVersion(head))(head)
  }

  override def loadTable(ident: Identifier): Table = {
    // `t$commits` — the metadata-only (version, file) streaming bridge
    // over t's version log, addressed by name like Delta's CDC suffix
    if (ident.name.endsWith("$commits")) {
      val base = Identifier.of(ident.namespace,
        ident.name.stripSuffix("$commits"))
      return new CommitsTable(
        Map("manifestRoot" -> load(base, _ => None).spec.manifestRoot))
    }
    load(ident, _ => None)
  }

  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, _ => Some(version.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF wants an integer version, got '$version'"))))

  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, h => Some(
      Snapshots.versionAtTimestamp(spark, h, timestampMicros / 1000L)))

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "CREATE TABLE with PARTITIONED BY is not supported — the lake " +
        "layout is z-ordered on stats_cols instead")
    require(namespaceExists(ident.namespace),
      s"namespace ${ident.namespace.mkString(".")} does not exist " +
        "(CREATE NAMESPACE first)")
    val props = properties.asScala.toMap
    val statsCols = props.getOrElse("stats_cols",
      throw new IllegalArgumentException(
        "CREATE TABLE needs TBLPROPERTIES ('stats_cols' = 'c1,c2,...') — " +
          "the table's prune/merge-key domain"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val root = props.get(TableCatalog.PROP_LOCATION)
      .map(new Path(_)).getOrElse(tableRoot(ident))
    val manifestRoot = props.getOrElse("manifest_dir",
      new Path(root, "m").toString)
    val dataDir = props.getOrElse("data_dir", new Path(root, "z").toString)
    if (Snapshots.versions(spark, manifestRoot).nonEmpty)
      throw new IllegalArgumentException(
        s"lake table ${registryKey(ident)} already exists")
    // persist only the USER properties (plus the structural dirs when
    // non-conventional) — Spark's bookkeeping props (provider, location,
    // owner) stay out of the manifest
    val keep = props -- Seq(TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_COMMENT, "path")
    Snapshots.createEmptyTable(spark, manifestRoot,
      StructType(schema.fields.map(f =>
        f.copy(name = f.name.toLowerCase(java.util.Locale.ROOT)))),
      statsCols, keep) : Unit
    val spec = LakeTableSpec(dataDir, manifestRoot, statsCols,
      props.get("files").map(_.toInt).getOrElse(8))
    LakeSql.register(registryKey(ident), spec)
    LakeRowTable(registryKey(ident), spec, pinnedVersion = None)(
      Snapshots.tableHead(spark, manifestRoot))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spec = load(ident, _ => None).spec
    val sets = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value }
    val unsets = changes.collect {
      case r: TableChange.RemoveProperty => r.property }
    require(sets.size + unsets.size == changes.size,
      "only SET/UNSET TBLPROPERTIES are supported through ALTER TABLE " +
        "on the catalog — schema changes go through the LakeSql front " +
        "door (ALTER TABLE ADD/RENAME/DROP COLUMN)")
    if (sets.nonEmpty)
      Snapshots.setProperties(spark, spec.manifestRoot, sets.toMap) : Unit
    if (unsets.nonEmpty)
      Snapshots.unsetProperties(spark, spec.manifestRoot, unsets.toSeq) : Unit
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = tableRoot(ident)
    val existed = Snapshots.versions(spark,
      new Path(root, "m").toString).nonEmpty
    LakeSql.unregister(registryKey(ident))
    if (fs.exists(root)) fs.delete(root, true) : Unit
    existed
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE is not supported on a lake catalog")
}

object LakeCatalog {
  /** Lowercased names under which a [[LakeCatalog]] instance is
    * registered this session — [[LakeSql]]'s name normalization strips
    * them, so `lake.db.t` and `db.t` address the same registry entry. */
  private[sql] val catalogNames =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[sql] def isLakeCatalog(name: String): Boolean =
    catalogNames.contains(name.toLowerCase(java.util.Locale.ROOT))
}

/** The catalog's table handle. Batch reads never reach a DSv2 scan:
  * [[ResolveLakeTables]] rewrites the relation to the manifest-read plan
  * (same plan as the `LakeSql.sql` front door — DV anti-joins, column
  * mapping, metadata-agg scan tag all included). Streaming reads ARE
  * served natively: `spark.readStream.table` plans one micro-batch per
  * commit range, reading exactly the files those commits appended.
  * `head` is the table's head as [[LakeCatalog.loadTable]] resolved it:
  * schema, properties and the rewrite all read it, so a catalog statement
  * lists the root once. It stays out of the relation's equality, which is
  * `(tableName, spec, pinnedVersion)`. */
final case class LakeRowTable(tableName: String, spec: LakeTableSpec,
                              pinnedVersion: Option[Int])
                             (val head: Snapshots.TableHead)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  override def name(): String = tableName

  /** The head, or the pinned version over its listing. */
  private def read: Snapshots.TableHead = pinnedVersion.fold(head)(head.at)

  override def schema(): StructType =
    Snapshots.mappedTableAt(spark, read).schema

  /** The manifest's property map (what SHOW TBLPROPERTIES / DESCRIBE
    * EXTENDED read through Spark's v2 execs) plus the structural facts. */
  override def properties(): util.Map[String, String] = {
    (read.props ++ Map(
      TableCatalog.PROP_PROVIDER -> "lake",
      "stats_cols" -> spec.cols.mkString(","),
      "data_dir" -> spec.path,
      "manifest_dir" -> spec.manifestRoot)).asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val tableSchema = schema()
    val opts = options.asScala.toMap
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream =
          new LakeRowsMicroBatchStream(spec.manifestRoot, tableSchema, opts)
      }
    }
  }
}

/** ROW-NATIVE streaming source over a lake table's version log (the
  * `spark.readStream.table("lake.db.t")` Delta UX): offsets are VERSION
  * NUMBERS — each micro-batch covers the commits in `(start, end]` and
  * reads the rows of exactly the data files those commits APPENDED, one
  * input partition per file (per-trigger work is bounded by the batch's
  * own files; a 1000-executor cluster spreads the files, never the
  * history). Exactly-once falls out of the offset contract, same as the
  * commits bridge.
  *
  * APPEND-ONLY semantics (the Delta streaming-source default): a commit
  * that removes (file, dv) pairs fails loudly unless `ignoreDeletes`;
  * a commit that ADDS a deletion vector cannot be expressed as appended
  * rows at all and always fails; a table with column mapping in force
  * must stream through the `$commits` bridge (the reader serves physical
  * file bytes — renames would silently change the emitted schema
  * mid-stream).
  *
  * The per-file reader materializes records via parquet-hadoop's example
  * Group API — record-at-a-time, not vectorized, which is the right
  * trade for a STREAMING tail read (each trigger touches only the new
  * files); bulk backfill belongs to the batch path. Supported leaf
  * types: boolean/int/long/float/double/string/binary/date/timestamp —
  * a file carrying anything else fails loudly at read, never a silent
  * null. */
/** Sub-version offset for ADMISSION CONTROL: `(v, files)` means every
  * commit below `v` is fully consumed and the first `files` of `v`'s
  * added-file list (sorted — the list is immutable once committed) are
  * too. `files = Int.MaxValue` marks a fully-consumed version; a legacy
  * plain-int checkpoint deserializes to exactly that, so pre-admission
  * checkpoints restart cleanly. */
final case class LakeRowsOffset(v: Int, files: Int) extends Offset {
  override def json: String =
    if (files == Int.MaxValue) v.toString else s"$v/$files"
}

object LakeRowsOffset {
  def parse(json: String): LakeRowsOffset = json.trim.split("/") match {
    case Array(v) => LakeRowsOffset(v.toInt, Int.MaxValue)
    case Array(v, f) => LakeRowsOffset(v.toInt, f.toInt)
    case _ => throw new IllegalArgumentException(
      s"unreadable lake stream offset: '$json'")
  }
}

final class LakeRowsMicroBatchStream(root: String, schema: StructType,
                                     opts: Map[String, String])
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadLimit, ReadMaxBytes, ReadMaxFiles}

  private val starting = opts.getOrElse("startingversion",
    opts.getOrElse("startingVersion", "0")).toInt
  private val ignoreDeletes =
    opts.getOrElse("ignoredeletes",
      opts.getOrElse("ignoreDeletes", "false")).toBoolean
  // ADMISSION CONTROL (the Delta maxFilesPerTrigger knob): cap how many
  // added files one micro-batch covers — a huge backfill commit streams
  // as several bounded batches with (version, fileIndex) offsets instead
  // of one trigger-sized spike. Unset ⇒ whole-commit batches (previous
  // behavior).
  private val maxFiles = opts.get("maxfilespertrigger")
    .orElse(opts.get("maxFilesPerTrigger")).map(_.toInt)
  maxFiles.foreach(n => require(n > 0,
    s"maxFilesPerTrigger must be positive, got $n"))
  // BYTE-based admission (the Delta maxBytesPerTrigger knob): file
  // counts are a memory proxy that breaks exactly when compaction
  // changes file sizes — a byte budget bounds the trigger no matter how
  // fat the files are. Files admit until the budget is crossed, always
  // at least one per trigger (a file larger than the whole budget still
  // streams, alone). Composes with maxFilesPerTrigger: both set ⇒ the
  // stricter budget cuts first.
  private val maxBytes = opts.get("maxbytespertrigger")
    .orElse(opts.get("maxBytesPerTrigger")).map(_.toLong)
  maxBytes.foreach(n => require(n > 0,
    s"maxBytesPerTrigger must be positive, got $n"))

  private def spark = SparkSession.active

  // per-stream memo of each version's validated added-file list: commits
  // are immutable once renamed in, and the validation (append-only, no
  // masks, no column mapping) is version-local — so one manifest diff per
  // version per stream lifetime, shared by admission planning and batch
  // planning. A failed validation is memoized too and thrown only when
  // the stream reaches that version.
  private val addedMemo = scala.collection.concurrent.TrieMap
    .empty[Int, scala.util.Try[IndexedSeq[String]]]

  // per-file byte sizes for the byte-budget walk: one driver status
  // probe per file per stream lifetime (data files are immutable once
  // committed), touched only when maxBytesPerTrigger is in force
  private val sizeMemo =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private def sizeOf(file: String): Long =
    sizeMemo.getOrElseUpdate(file, {
      val p = new Path(file)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen
    })

  /** TXN-VISIBLE versions only (ADVICE r18, high): version discovery
    * through raw Snapshots.versions streamed an UNRESOLVED cross-table
    * txn stage to sinks before its commit marker existed — and kept the
    * rows even if the txn later aborted. All stream planning walks this
    * list instead; an invisible stage enters it only at (and if) its
    * txn's atomic commit instant, exactly like batch readers. */
  private def visible: Seq[Int] = Snapshots.visibleVersions(spark, root)

  private def appended(c: Snapshots.CommitDiff): IndexedSeq[String] = {
    require(Snapshots.columnMapping(spark, root, c.version).isEmpty,
      s"streamed table $root has column mapping in force at v=${c.version} " +
        "— row-native streaming serves physical file bytes; stream the " +
        "$commits bridge instead")
    val files = c.appendedFiles(root, ignoreDeletes)
    val masked = c.added.filter(_.dv.isDefined)
    require(masked.isEmpty,
      s"commit v=${c.version} of $root adds deletion-vector-masked files " +
        s"(${masked.map(_.file).mkString(", ")}) — appended ROWS " +
        "cannot express a mask; REORG … APPLY (PURGE) first")
    files
  }

  /** The commits offset `s` has not fully consumed (`s.v` itself only
    * while some of its files are unconsumed), oldest first, each with its
    * validated added files. A memo miss walks the commits once
    * ([[Snapshots.commits]], one listing of the root) from the newest
    * memoized commit below it, or from the last version `s` fully
    * consumed, and memoizes every commit it passes. The memo is stable
    * because pending stages are tail-only, so once v is visible every
    * version below it is permanently resolved. */
  private def pending(s: LakeRowsOffset)
      : Seq[(Int, scala.util.Try[IndexedSeq[String]])] = {
    val base = if (s.files == Int.MaxValue) s.v else s.v - 1
    val vs = visible.filter(_ > base)
    vs.find(!addedMemo.contains(_)).foreach { miss =>
      Snapshots.commits(spark, root,
          (addedMemo.keysIterator.filter(_ < miss) ++ Iterator(base)).max)
        .foreach(c => addedMemo(c.version) = scala.util.Try(appended(c)))
    }
    vs.map(v => v -> addedMemo(v))
  }

  override def initialOffset(): Offset =
    LakeRowsOffset(starting, Int.MaxValue)

  override def latestOffset(): Offset =
    LakeRowsOffset(visible.lastOption.getOrElse(starting), Int.MaxValue)

  override def getDefaultReadLimit: ReadLimit =
    (maxFiles.map(ReadLimit.maxFiles),
      maxBytes.map(ReadLimit.maxBytes)) match {
      case (Some(f), Some(b)) => ReadLimit.compositeLimit(Array(f, b))
      case (Some(f), None) => f
      case (None, Some(b)) => b
      case (None, None) => ReadLimit.allAvailable()
    }

  // Trigger.AvailableNow: pin the drain target at start; each bounded
  // batch then advances toward it and the query stops when it's reached
  // (without this interface Spark falls back to ONE unbounded batch,
  // defeating admission control under the drain-and-stop trigger).
  @volatile private var availableTarget: Option[LakeRowsOffset] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableTarget = Some(latestOffset().asInstanceOf[LakeRowsOffset])

  private def offsetLeq(a: LakeRowsOffset, b: LakeRowsOffset): Boolean =
    a.v < b.v || (a.v == b.v && a.files <= b.files)

  /** Walk versions from `start`, spending the file AND byte budgets; the
    * returned offset cuts INSIDE a version when a budget runs out
    * mid-commit — that cut is what splits one huge commit across
    * triggers. Byte budgets admit at least one file per trigger (a file
    * fatter than the whole budget streams alone, never starves). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LakeRowsOffset]
    def budgets(l: ReadLimit): (Option[Int], Option[Long]) = l match {
      case mf: ReadMaxFiles => (Some(mf.maxFiles()), None)
      case mb: ReadMaxBytes => (None, Some(mb.maxBytes()))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(budgets).foldLeft(
          (Option.empty[Int], Option.empty[Long])) {
          case ((f1, b1), (f2, b2)) =>
            ((f1 ++ f2).minOption, (b1 ++ b2).minOption)
        }
      case _ => (None, None)
    }
    val (fb, bb) = budgets(limit)
    if (fb.isEmpty && bb.isEmpty) return latestOffset()
    var endV = s.v
    var endF = s.files
    var fileBudget = fb.map(_.toLong).getOrElse(Long.MaxValue)
    var byteBudget = bb.getOrElse(Long.MaxValue)
    var admitted = 0L
    val it = pending(s).iterator
    var cut = false
    while (it.hasNext && !cut) {
      val (v, added) = it.next()
      val fs = added.get
      val from = if (v == s.v) math.min(s.files, fs.size) else 0
      var i = from
      while (i < fs.size && !cut) {
        val sz = if (bb.isDefined) sizeOf(fs(i)) else 0L
        if (admitted > 0 && (fileBudget <= 0 || byteBudget < sz)) cut = true
        else {
          admitted += 1; fileBudget -= 1; byteBudget -= sz; i += 1
        }
      }
      endV = v
      endF = if (!cut && i == fs.size) Int.MaxValue else i
    }
    val end0 = LakeRowsOffset(endV, endF)
    // AvailableNow drain target: never advance past the offset pinned at
    // query start (commits landing mid-drain belong to the next run)
    val end = availableTarget match {
      case Some(t) if !offsetLeq(end0, t) => t
      case _ => end0
    }
    if (end.v == s.v && (end.files == s.files ||
        (s.files != Int.MaxValue && end.files == Int.MaxValue &&
          s.files >= addedMemo(s.v).get.size)))
      s // no progress: hand back the start so the engine idles
    else end
  }

  override def deserializeOffset(json: String): Offset =
    LakeRowsOffset.parse(json)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeRowsOffset]
    val e = end.asInstanceOf[LakeRowsOffset]
    pending(s).filter(_._1 <= e.v).flatMap { case (v, added) =>
      val fs = added.get
      val from = if (v == s.v) math.min(s.files, fs.size) else 0
      val to = if (v == e.v) math.min(e.files, fs.size) else fs.size
      if (from >= to) Seq.empty
      else fs.slice(from, to).map(f => LakeRowsPartition(f): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LakeRowsReaderFactory(schema.json, new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class LakeRowsPartition(file: String) extends InputPartition

/** Executor-side parquet record reader: parquet-hadoop's example Group
  * API materializes one record at a time; each leaf converts by the
  * TABLE schema's declared Spark type (missing columns null-fill — the
  * schema-evolution contract batch reads serve via footer merge). */
final class LakeRowsReaderFactory(schemaJson: String,
                                  conf: SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val path = new Path(p.asInstanceOf[LakeRowsPartition].file)
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        path)
      .withConf(conf.value)
      .build()
    new PartitionReader[InternalRow] {
      private var current: org.apache.parquet.example.data.Group = _
      override def next(): Boolean = {
        current = reader.read()
        current != null
      }
      override def get(): InternalRow =
        new GenericInternalRow(schema.fields.map(f =>
          LakeRowsReaderFactory.leaf(current, f)))
      override def close(): Unit = reader.close()
    }
  }
}

object LakeRowsReaderFactory {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.schema.LogicalTypeAnnotation
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  /** One leaf value of `g` under the DECLARED Spark type `f.dataType`,
    * as the catalyst-internal representation `GenericInternalRow`
    * expects. Absent column or unset field → null. */
  private[sql] def leaf(g: Group, f: StructField): Any = {
    val idx = try g.getType.getFieldIndex(f.name) catch {
      case _: org.apache.parquet.io.InvalidRecordException => return null
    }
    if (g.getFieldRepetitionCount(idx) == 0) return null
    val pt = g.getType.getType(idx)
    require(pt.isPrimitive,
      s"column '${f.name}' is ${pt} — row-native streaming serves " +
        "primitive leaves only")
    val prim = pt.asPrimitiveType().getPrimitiveTypeName
    (f.dataType, prim) match {
      case (BooleanType, BOOLEAN) => g.getBoolean(idx, 0)
      case (IntegerType, INT32) => g.getInteger(idx, 0)
      case (DateType, INT32) => g.getInteger(idx, 0) // days since epoch
      case (LongType, INT64) => g.getLong(idx, 0)
      case (TimestampType | TimestampNTZType, INT64) =>
        val ann = pt.getLogicalTypeAnnotation
        ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => g.getLong(idx, 0)
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                g.getLong(idx, 0) * 1000L
              case other => throw new IllegalArgumentException(
                s"timestamp column '${f.name}' stored in $other — only " +
                  "MICROS/MILLIS are served")
            }
          case _ => g.getLong(idx, 0) // bare INT64 under a timestamp type
        }
      case (TimestampType | TimestampNTZType, INT96) =>
        // Spark's DEFAULT parquet timestamp encoding: 12 bytes —
        // nanos-of-day (little-endian INT64) + julian day (LE INT32)
        val bytes = g.getInt96(idx, 0).getBytes
        val buf = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
      case (FloatType, FLOAT) => g.getFloat(idx, 0)
      case (DoubleType, DOUBLE) => g.getDouble(idx, 0)
      case (StringType, BINARY) =>
        UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
      case (BinaryType, BINARY) => g.getBinary(idx, 0).getBytes
      case (dt, p) => throw new IllegalArgumentException(
        s"column '${f.name}': declared ${dt.sql} stored as $p — " +
          "row-native streaming serves " +
          "boolean/int/long/float/double/string/binary/date/timestamp")
    }
  }
}
