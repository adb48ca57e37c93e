package graft.sql

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import scala.annotation.tailrec
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Exists, Expression, GreaterThan, GreaterThanOrEqual, In, InSubquery, LessThan, LessThanOrEqual, Like, ListQuery, Literal, ScalarSubquery}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min, substring, sum, when}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, AddColumns, AlterColumns, Assignment, CreateTable, CreateTableAsSelect, DeleteAction, DeleteFromTable, DescribeRelation, DropColumns, DropConstraint, DropTable, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, RenameColumn, ReplaceTableAsSelect, SetTableProperties, ShowTableProperties, ShowTables, SubqueryAlias, TruncateTable, UnsetTableProperties, UnresolvedTableSpec, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, NullType, NumericType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sinks.{Layout, MetaCache, Snapshots}

/** SQL-TEXT FRONT DOOR over the versioned lake tables (round-12 verdict lead
  * item): the reference's consumers speak SQL — Power BI over Databricks
  * SQL / Azure SQL (reference `README.md:23-27`) and QBO's SQL-text query
  * endpoint (`endpoints.yml:49`) — so the snapshot tables need a SQL
  * surface, not just the Scala [[Snapshots]] API.
  *
  * Mechanics are Spark-first: the text is parsed ONCE, by
  * [[GraftSqlParser]] — the session's own parser, or Spark's wrapped in
  * one — which delegates everything outside the extension grammar to
  * Spark's OWN parser, so the grammar — `VERSION AS OF` /
  * `TIMESTAMP AS OF`, `MERGE INTO … WHEN MATCHED THEN UPDATE SET *`,
  * `DELETE FROM … WHERE` — is genuine Spark SQL, not a homegrown dialect.
  * This layer only RE-POINTS the parsed Catalyst nodes:
  *
  *  - [[RelationTimeTravel]] / bare [[UnresolvedRelation]] over a registered
  *    lake table become the logical plan of [[Snapshots.tableAt]] at the
  *    resolved version (timestamp travel resolves through
  *    [[Snapshots.versionAtTimestamp]] — a resolution step, not a second
  *    read path), wrapped in a [[SubqueryAlias]] so qualified column
  *    references keep resolving. Everything downstream — analysis,
  *    optimization, codegen — is stock Catalyst, which is what makes the
  *    SQL and DataFrame paths produce the SAME plan (spec-asserted via
  *    `sameResult`).
  *  - A root [[MergeIntoTable]] maps onto [[Snapshots.mergeCommit]] (or
  *    [[Snapshots.mergeCommitFull]] when a box-scoped
  *    `WHEN NOT MATCHED BY SOURCE THEN DELETE` clause is present) and
  *    returns the commit metrics as a one-row frame — the Delta pattern of
  *    MERGE-as-command. The source side may be ANY query (view, subquery,
  *    another lake table): it is recursively routed through the same read
  *    resolution.
  *  - A root [[InsertIntoStatement]] maps onto [[Snapshots.appendCommit]]
  *    (staged z-ordered batch + atomic version commit; INSERT OVERWRITE
  *    rejected — on a versioned table replace-all must be spelled out).
  *  - A root [[UpdateTable]] maps onto [[Snapshots.updateWhere]]: the
  *    WHERE compiles to the stats box (file-pruned touch set), assignment
  *    RHSs resolve against the live rows, all against the PRE-update row.
  *  - A root [[CreateTableAsSelect]] creates a NEW lake table: the query
  *    result z-ordered on the `stats_cols` table property, committed as
  *    v1, and registered — SQL-born tables serve every other statement.
  *  - `ALTER TABLE … RENAME COLUMN / DROP COLUMN` map onto the
  *    metadata-only column-mapping commits ([[Snapshots.renameColumn]]/
  *    [[Snapshots.dropColumn]]); reads resolve through
  *    [[Snapshots.mappedTableAt]] so renamed columns serve under their
  *    logical names (pinned reads keep old names), and every DML
  *    statement translates logical→physical through the head mapping —
  *    predicates, merge keys, update targets and RHS, inserted frames.
  *  - A root [[DeleteFromTable]] maps onto [[Snapshots.deleteWhere]]; the
  *    WHERE conjunction is compiled to the stats-box form, so the delete
  *    keeps the manifest-pruned touch set (files whose stats intersect the
  *    box) instead of a full-table rewrite. Predicates that cannot prune by
  *    stats are rejected loudly — at 100 TB an unpruned DELETE is a
  *    full-table rewrite the caller must opt into via the DataFrame API.
  *    A predicate that FULLY covers a file ([[compileCover]] + footer
  *    null counts) drops it metadata-only — the retention-delete fast
  *    path; `TBLPROPERTIES ('delete.mode'/'update.mode' = 'mor')` flip
  *    DELETE/UPDATE to deletion-vector masking (zero-rewrite writes,
  *    repaid by `REORG … APPLY (PURGE)`).
  *  - Lifecycle/maintenance grammar (Delta-extension shapes, each
  *    declared once in [[extendedStatement]] and matched by the parser
  *    before Spark's grammar): OPTIMIZE [WHERE] [ZORDER BY] / VACUUM
  *    [DRY RUN] / REORG APPLY (PURGE) / RESTORE / SHALLOW CLONE /
  *    CONVERT TO LAKE / COPY INTO / TRUNCATE TABLE (metadata-only empty
  *    commit; empty versions stay readable) / FSCK REPAIR TABLE
  *    [DRY RUN] / DESCRIBE DETAIL / SHOW CREATE TABLE / SHOW TABLES /
  *    SHOW TBLPROPERTIES. Statements that are ALSO valid Spark SQL
  *    (TRUNCATE, SHOW CREATE TABLE) are claimed only for registered
  *    lake names.
  *
  * Unregistered relations pass through untouched, so lake tables compose
  * with temp views and ordinary SQL in one statement.
  */
object LakeSql {

  /** Registration record for one lake table: data dir, manifest root, the
    * manifest stats columns (z-order/prune/merge-key domain), and the
    * rewrite fan-out used by DML commits. */
  final case class LakeTableSpec(path: String, manifestRoot: String,
                                 cols: Seq[String], nFiles: Int = 8)

  private val registry = TrieMap.empty[String, LakeTableSpec]

  /** Register `name` as a SQL-addressable lake table. Names are
    * case-insensitive, session-global (the driver runs queries
    * sequentially; use distinct names per fixture). */
  def register(name: String, spec: LakeTableSpec): Unit = {
    MetaCache.forget(spec.manifestRoot)
    registry.put(name.toLowerCase(java.util.Locale.ROOT), spec) : Unit
  }

  def unregister(name: String): Unit =
    registry.remove(name.toLowerCase(java.util.Locale.ROOT))
      .foreach(spec => MetaCache.forget(spec.manifestRoot))

  // Maintenance statements, the Delta-extension grammar shape — Spark's
  // parser has no OPTIMIZE/VACUUM productions, so [[GraftSqlParser]]
  // matches these on the statement head before Spark's parser, through
  // [[extendedStatement]] (exactly how Delta extends the SQL surface,
  // minus the ANTLR ceremony):
  //   OPTIMIZE <t>                      → full re-layout compactCommit
  //   OPTIMIZE <t> SMALLFILES <bytes>   → size-policy compactSmallCommit
  //                                       (bin-pack only the small tail)
  //   VACUUM <t> RETAIN <n> VERSIONS    → vacuum(retainLast = n)
  //   VACUUM <t> RETAIN <n> HOURS       → vacuumRetention by commit stamp
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([A-Za-z0-9_.]+)(?:\s+SMALLFILES\s+(\d+))?\s*""".r
  //   … DRY RUN suffix lists what WOULD be reclaimed (one row per item:
  //   expired version dir, unreferenced data file, dead DV sidecar dir)
  //   without touching anything — the Delta VACUUM DRY RUN contract,
  //   served from the SAME plan the destructive path executes.
  private val VacuumRe =
    """(?is)\s*VACUUM\s+([A-Za-z0-9_.]+)\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS)(\s+DRY\s+RUN)?\s*""".r
  //   REORG TABLE <t> APPLY (PURGE) → fold deletion vectors away: rewrite
  //   ONLY the masked files' live rows, cost tracks the masked set —
  //   the statement that converts MoR write debt back into clean reads
  //   (and re-arms the metadata-only aggregate fast path)
  private val ReorgRe =
    """(?is)\s*REORG\s+TABLE\s+([A-Za-z0-9_.]+)\s+APPLY\s*\(\s*PURGE\s*\)\s*""".r
  //   FSCK REPAIR TABLE <t> [DRY RUN] → drop manifest entries whose data
  //   files no longer exist on disk (Delta's FSCK): status probes only,
  //   metadata-only commit; DRY RUN lists the missing files instead
  private val FsckRe =
    """(?is)\s*FSCK\s+REPAIR\s+TABLE\s+([A-Za-z0-9_.]+)(\s+DRY\s+RUN)?\s*""".r
  //   SHOW CREATE TABLE <t> → one row: a CREATE statement reconstructing
  //   the table's logical schema, location, stats cols, and properties
  //   (the BI-tool introspection statement; valid Spark SQL, so claimed
  //   only for registered lake names like TRUNCATE)
  private val ShowCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z0-9_.]+)\s*""".r
  //   RESTORE TABLE <t> TO VERSION AS OF <n>      → roll-forward commit
  //   RESTORE TABLE <t> TO TIMESTAMP AS OF '<ts>' → ditto, stamp-resolved
  //   CREATE TABLE <dst> SHALLOW CLONE <src>
  //     [VERSION AS OF <n>] [LOCATION '<dir>']    → zero-copy fork
  private val RestoreRe =
    """(?is)\s*RESTORE\s+TABLE\s+([A-Za-z0-9_.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+TABLE\s+([A-Za-z0-9_.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+([A-Za-z0-9_.]+)\s+SHALLOW\s+CLONE\s+([A-Za-z0-9_.]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?(?:\s+LOCATION\s+'([^']+)')?\s*""".r
  //   CREATE TABLE <dst> DEEP CLONE <src> [VERSION AS OF n] LOCATION '…'
  //     → independent PHYSICAL copy (executor-parallel file copy job);
  //       unlike the shallow fork, vacuuming the source never touches it
  private val DeepCloneRe =
    """(?is)\s*CREATE\s+TABLE\s+([A-Za-z0-9_.]+)\s+DEEP\s+CLONE\s+([A-Za-z0-9_.]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?(?:\s+LOCATION\s+'([^']+)')?\s*""".r
  //   OPTIMIZE <t> ZORDER BY (c1, c2)  → full re-layout RE-CLUSTERED on
  //     the named columns (manifest keeps stats for ALL the table's stats
  //     columns — clustering changes how tight they are, never soundness)
  private val OptimizeZRe =
    """(?is)\s*OPTIMIZE\s+([A-Za-z0-9_.]+)\s+ZORDER\s+BY\s*\(([^)]*)\)\s*""".r
  //   OPTIMIZE <t> WHERE <cond> [ZORDER BY (c1, c2)] → PREDICATE-SCOPED
  //     re-layout: only the files whose manifest stats box intersects the
  //     WHERE's scope rewrite (Delta's partition-scoped OPTIMIZE,
  //     generalized to stats boxes). The condition selects FILES, never
  //     rows — contents identical, out-of-scope files byte-untouched; the
  //     WHERE compiles through the same typed predicate compiler as DML,
  //     so an unprunable condition is rejected loudly, never a silent
  //     full-table rewrite.
  private val OptimizeWhereRe =
    """(?is)\s*OPTIMIZE\s+([A-Za-z0-9_.]+)\s+WHERE\s+(.*?)(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*""".r
  //   INSERT INTO <t> REPLACE WHERE <cond> <query>  → scoped ATOMIC
  //     overwrite (the Delta replaceWhere): one commit = delete the
  //     predicate's rows + append the batch; every batch row must satisfy
  //     the predicate. Spark's parser has no REPLACE WHERE production, so
  //     this dispatches on the statement head like OPTIMIZE/VACUUM; the
  //     condition and query halves re-enter Spark's own parser.
  private val InsertReplaceRe =
    """(?is)\s*INSERT\s+INTO\s+([A-Za-z0-9_.]+)\s+REPLACE\s+WHERE\s+(.*?)\s+((?:SELECT|WITH|VALUES|TABLE|FROM)\b.*)""".r
  //   CONVERT TO LAKE <name> FROM '<dir>' STATS COLS (c1, c2) [FILES n]
  //     → adopt an EXISTING parquet directory as a lake table IN PLACE
  //     (the Delta CONVERT TO DELTA shape): v1 is a manifest built over
  //     the directory's files — footer stats when the columns allow it,
  //     zero data files written or moved either way.
  private val ConvertRe =
    """(?is)\s*CONVERT\s+TO\s+LAKE\s+([A-Za-z0-9_.]+)\s+FROM\s+'([^']+)'\s+STATS\s+COLS\s*\(([^)]*)\)(?:\s+FILES\s+(\d+))?\s*""".r
  //   COPY INTO <t> FROM '<dir>' [FILEFORMAT = PARQUET|JSON]
  //     → idempotent file-tracking ingest (the Databricks COPY INTO
  //     shape): source files whose (name:size) key the version log
  //     already records are SKIPPED; the rest land as ONE staged
  //     z-ordered append whose commit also records their keys (marker +
  //     data in the same atomic rename — re-runs load nothing, a crash
  //     never double-loads). Zero new files → NO commit.
  private val CopyIntoRe =
    """(?is)\s*COPY\s+INTO\s+([A-Za-z0-9_.]+)\s+FROM\s+'([^']+)'(?:\s+FILEFORMAT\s*=\s*(PARQUET|JSON))?\s*""".r

  //   DESCRIBE DETAIL <t> → one metadata row (the Delta DESCRIBE DETAIL
  //     shape): location, live file count + byte size, version count,
  //     stats columns — all manifest/filesystem-status reads,
  //     file-count-bounded, zero data files opened.
  private val DescribeDetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+([A-Za-z0-9_.]+)\s*""".r
  //   ALTER TABLE <t> ADD CONSTRAINT <n> FOREIGN KEY (<col>)
  //     REFERENCES <parent> (<key>) [ENFORCED] → an ENFORCED referential
  //     edge (unlike RELY, which the optimizer merely trusts): existing
  //     rows validate first, later staged writes anti-join the parent's
  //     live keys — batch-keys-bounded. One metadata-only property
  //     commit. Claimed only for registered lake names.
  private val AddFkRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z0-9_.]+)\s+ADD\s+CONSTRAINT\s+([A-Za-z0-9_]+)\s+FOREIGN\s+KEY\s*\(\s*([A-Za-z0-9_]+)\s*\)\s+REFERENCES\s+([A-Za-z0-9_.]+)\s*\(\s*([A-Za-z0-9_]+)\s*\)(\s+ENFORCED)?\s*""".r
  //   ANALYZE TABLE <t> COMPUTE STATISTICS [FOR ALL COLUMNS] → ONE
  //     aggregate job over the live rows computing the table row count
  //     (plus exact per-column distinct/null counts under FOR ALL
  //     COLUMNS), persisted as `stats.*` TBLPROPERTIES in one
  //     metadata-only commit — the Databricks ANALYZE shape, feeding any
  //     CBO-style consumer through SHOW TBLPROPERTIES / DESCRIBE
  //     EXTENDED. Valid Spark SQL, so claimed only for registered lake
  //     names (the TRUNCATE discipline).
  private val AnalyzeRe =
    """(?is)\s*ANALYZE\s+TABLE\s+([A-Za-z0-9_.]+)\s+COMPUTE\s+STATISTICS(\s+FOR\s+ALL\s+COLUMNS)?\s*""".r
  //   ALTER TABLE <t> SET ROW FILTER (<cond>) / DROP ROW FILTER
  //   ALTER TABLE <t> ALTER COLUMN <c> SET MASK (<expr>) / DROP MASK
  //     → table-attached GOVERNANCE policies (the Databricks row-filter /
  //     column-mask shape, re-expressed over table properties): one
  //     metadata-only property commit each; every read through the SQL
  //     surface applies the HEAD policies — row filter first (over raw
  //     values), then masks — including time-travel reads (a pinned
  //     version is not a policy bypass). Sessions with
  //     `graft.policy.bypass=true` (the privileged-principal model) read
  //     raw. Validated at DDL time against the live schema.
  private val SetRowFilterRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z0-9_.]+)\s+SET\s+ROW\s+FILTER\s*\((.*)\)\s*""".r
  private val DropRowFilterRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z0-9_.]+)\s+DROP\s+ROW\s+FILTER\s*""".r
  private val SetMaskRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z0-9_.]+)\s+ALTER\s+COLUMN\s+([A-Za-z0-9_]+)\s+SET\s+MASK\s*\((.*)\)\s*""".r
  private val DropMaskRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z0-9_.]+)\s+ALTER\s+COLUMN\s+([A-Za-z0-9_]+)\s+DROP\s+MASK\s*""".r
  //   ALTER TABLE <t> ALTER COLUMN <c> TYPE <widerType> → the Delta
  //     TYPE-WIDENING contract as ONE metadata-only commit: declared
  //     schema widens, manifest stats re-type, zero data files touched;
  //     old narrow files read AS the wide type from then on, pinned
  //     pre-widen reads keep the narrow type. Valid Spark SQL, so
  //     claimed only for registered lake names (TRUNCATE discipline).
  private val AlterColTypeRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z0-9_.]+)\s+ALTER\s+COLUMN\s+([A-Za-z0-9_]+)\s+TYPE\s+([A-Za-z0-9_(),\s]+?)\s*""".r

  /** Table-property keys the governance policies ride. */
  private[sql] val RowFilterProp = "graft.policy.rowfilter"
  private[sql] val MaskPropPrefix = "graft.policy.mask."

  //   ALTER TABLE <t> CLUSTER BY (c1, c2) / CLUSTER BY NONE → persist /
  //     clear the table's CLUSTERING KEYS as a property (the Databricks
  //     liquid-clustering shape: keys are table state, not per-call
  //     arguments) — one metadata-only commit; a later plain OPTIMIZE
  //     re-clusters only the unclustered increment
  //     ([[Snapshots.clusterIncrementalCommit]]). Valid Spark SQL, so
  //     claimed only for registered lake names (TRUNCATE discipline).
  private val AlterClusterRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z0-9_.]+)\s+CLUSTER\s+BY\s*\(([^)]*)\)\s*""".r
  private val AlterClusterNoneRe =
    """(?is)\s*ALTER\s+TABLE\s+([A-Za-z0-9_.]+)\s+CLUSTER\s+BY\s+NONE\s*""".r
  //   OPTIMIZE <t> FULL → force a FULL re-cluster of a CLUSTER BY table
  //     (the Databricks liquid `OPTIMIZE FULL`): every live file rewrites
  //     into the clustered layout and is tagged clustered — the statement
  //     that re-establishes the incremental baseline after key changes
  //     or an explicit ZORDER BY reset the per-file tags.
  private val OptimizeFullRe =
    """(?is)\s*OPTIMIZE\s+([A-Za-z0-9_.]+)\s+FULL\s*""".r
  //   CREATE MATERIALIZED VIEW <n> [LOCATION '<dir>'] AS <agg query>
  //   REFRESH MATERIALIZED VIEW <n>   → incremental change-feed fold
  //   DROP MATERIALIZED VIEW <n>      → unregister (files stay, like
  //                                     every other unregister)
  //   (the Databricks MV surface; semantics in [[MatViews]])
  private val CreateMvRe =
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+([A-Za-z0-9_.]+)\s+(?:LOCATION\s+'([^']+)'\s+)?AS\s+(.+)""".r
  private val RefreshMvRe =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+([A-Za-z0-9_.]+)\s*(FULL)?\s*""".r
  private val DropMvRe =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+([A-Za-z0-9_.]+)\s*""".r

  /** Table property carrying the clustering keys (comma-joined). Set by
    * `CREATE TABLE … CLUSTER BY` / `ALTER TABLE … CLUSTER BY`; read by
    * plain OPTIMIZE to pick the incremental path. */
  private[sql] val ClusterByProp = "graft.cluster.by"

  /** The clustering keys in force at head `h`, if any. */
  private def clusterCols(h: Snapshots.TableHead): Seq[String] =
    h.props.get(ClusterByProp)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** All-Long metric-row schema — the shape every commit-returning
    * statement reports; [[LakeDmlCommand]] zero-fills these. */
  private[sql] def longSchema(names: Seq[String]): StructType =
    StructType(names.map(n => StructField(n, LongType, nullable = false)))

  private def strSchema(names: String*): StructType =
    StructType(names.map(n => StructField(n, StringType, nullable = false)))

  /** QUALIFY — the window-filter clause (Databricks/DuckDB/Snowflake
    * surface; Spark's grammar has no production for it). Rewritten at
    * the TEXT level into the standard nested form before parsing:
    *
    *   <select…> QUALIFY <cond> [ORDER BY…/LIMIT…]
    *     ⇒ SELECT * FROM (<select…>) __qualify WHERE (<cond>) [tail]
    *
    * The scan is quote- (' " ` — incl. backslash-escaped quote chars
    * inside a literal), line- AND block-comment- and paren-aware, so a
    * QUALIFY inside a string literal, a comment or a subquery is never
    * touched; only the OUTERMOST query block of a SELECT/WITH statement
    * rewrites (QUALIFY is meaningless in DML/DDL, so anything else is
    * never scanned — a table or column literally named `qualify` in an
    * UPDATE can't trigger a bogus rewrite). If the rewritten text still
    * fails to parse (a bare identifier `qualify` at depth 0 in a query),
    * [[GraftSqlParser]] falls back to parsing the ORIGINAL text. The
    * condition must reference select-list ALIASES (`row_number() … AS
    * rn … QUALIFY rn = 1`) — a bare window expression in the condition
    * fails analysis loudly rather than silently misbinding. */
  /** QUALIFY anywhere in the statement: rewrite parenthesized subquery
    * blocks (FROM-subselects, CTE bodies, scalar subqueries) INNERMOST
    * FIRST — each paren whose body gates as a query statement recurses
    * through the same rewrite — then apply the single-block rewrite to
    * the outermost level. Non-query parens (expression lists, IN lists)
    * fail the SELECT/WITH gate immediately and are copied verbatim. */
  private[sql] def rewriteQualify(text: String): Option[String] = {
    val deep = rewriteQualifySubqueries(text)
    val base = deep.getOrElse(text)
    rewriteQualifyBlock(base).orElse(deep)
  }

  /** Rewrite QUALIFY inside every top-level parenthesized region whose
    * body is itself a query; literal/comment-aware, innermost-first via
    * recursion. Some(text') iff any block changed. */
  private def rewriteQualifySubqueries(text: String): Option[String] = {
    def skipQuoted(start: Int, quote: Char): Int = {
      var j = start
      while (j < text.length && text(j) != quote) {
        if (text(j) == '\\' && j + 1 < text.length) j += 1
        j += 1
      }
      j
    }
    // index just past the ')' matching the '(' at `open` — the same
    // literal/comment skip rules as the block scanner, so a paren inside
    // a string or comment never closes a block
    def matchParen(open: Int): Int = {
      var j = open + 1; var depth = 1
      while (j < text.length && depth > 0) {
        text(j) match {
          case '\'' => j = skipQuoted(j + 1, '\'')
          case '"' => j = skipQuoted(j + 1, '"')
          case '`' =>
            j += 1; while (j < text.length && text(j) != '`') j += 1
          case '-' if j + 1 < text.length && text(j + 1) == '-' =>
            while (j < text.length && text(j) != '\n') j += 1
          case '/' if j + 1 < text.length && text(j + 1) == '*' =>
            val e = text.indexOf("*/", j + 2)
            j = if (e < 0) text.length else e + 1
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ => ()
        }
        j += 1
      }
      if (depth == 0) j else -1
    }
    val sb = new StringBuilder
    var changed = false
    var i = 0
    while (i < text.length) {
      text(i) match {
        case '\'' =>
          val e = skipQuoted(i + 1, '\'')
          sb.append(text.substring(i, math.min(e + 1, text.length)))
          i = e + 1
        case '"' =>
          val e = skipQuoted(i + 1, '"')
          sb.append(text.substring(i, math.min(e + 1, text.length)))
          i = e + 1
        case '`' =>
          var e = i + 1
          while (e < text.length && text(e) != '`') e += 1
          sb.append(text.substring(i, math.min(e + 1, text.length)))
          i = e + 1
        case '-' if i + 1 < text.length && text(i + 1) == '-' =>
          var e = i
          while (e < text.length && text(e) != '\n') e += 1
          sb.append(text.substring(i, e)); i = e
        case '/' if i + 1 < text.length && text(i + 1) == '*' =>
          val e = text.indexOf("*/", i + 2)
          val stop = if (e < 0) text.length else e + 2
          sb.append(text.substring(i, stop)); i = stop
        case '(' =>
          val close = matchParen(i)
          if (close < 0) { sb.append(text.substring(i)); i = text.length }
          else {
            val inner = text.substring(i + 1, close - 1)
            rewriteQualify(inner) match {
              case Some(r) =>
                sb.append('(').append(r).append(')'); changed = true
              case None => sb.append(text.substring(i, close))
            }
            i = close
          }
        case c => sb.append(c); i += 1
      }
    }
    if (changed) Some(sb.toString) else None
  }

  /** The single-block rewrite: a depth-0 QUALIFY in `text` becomes a
    * wrapping `SELECT * FROM (…) WHERE (cond)`, preserving a trailing
    * ORDER/LIMIT/OFFSET. Parenthesized sub-blocks are handled by
    * [[rewriteQualifySubqueries]], never here. */
  private def rewriteQualifyBlock(text: String): Option[String] = {
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'
    def kwAt(i: Int, kw: String): Boolean =
      i + kw.length <= text.length &&
        text.regionMatches(true, i, kw, 0, kw.length) &&
        (i == 0 || !isWordChar(text(i - 1))) &&
        (i + kw.length == text.length || !isWordChar(text(i + kw.length)))
    // gate: only a query statement can carry QUALIFY — find the first
    // code char (skipping whitespace and both comment forms) and require
    // SELECT or WITH there
    var g = 0; var gated = false
    while (g < text.length && !gated) {
      val c = text(g)
      if (c.isWhitespace) g += 1
      else if (c == '-' && g + 1 < text.length && text(g + 1) == '-') {
        while (g < text.length && text(g) != '\n') g += 1
      } else if (c == '/' && g + 1 < text.length && text(g + 1) == '*') {
        val e = text.indexOf("*/", g + 2)
        g = if (e < 0) text.length else e + 2
      } else if (c == '(') g += 1 // parenthesized query head
      else {
        if (!kwAt(g, "SELECT") && !kwAt(g, "WITH")) return None
        gated = true
      }
    }
    if (!gated) return None
    // in-literal scan helper: a backslash escapes the next char (Spark's
    // default string-literal escaping), so \' or \" never closes a quote
    def skipQuoted(start: Int, quote: Char): Int = {
      var j = start
      while (j < text.length && text(j) != quote) {
        if (text(j) == '\\' && j + 1 < text.length) j += 1
        j += 1
      }
      j
    }
    var i = 0; var depth = 0; var q = -1; var tail = -1
    while (i < text.length) {
      text(i) match {
        case '\'' => i = skipQuoted(i + 1, '\'')
        case '"' => i = skipQuoted(i + 1, '"')
        case '`' => i += 1; while (i < text.length && text(i) != '`') i += 1
        case '-' if i + 1 < text.length && text(i + 1) == '-' =>
          while (i < text.length && text(i) != '\n') i += 1
        case '/' if i + 1 < text.length && text(i + 1) == '*' =>
          val e = text.indexOf("*/", i + 2)
          i = if (e < 0) text.length else e + 1 // +1 more below lands past "*/"
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && q < 0 && kwAt(i, "QUALIFY") =>
          q = i; i += 6
        case _ if depth == 0 && q >= 0 && tail < 0 &&
            (kwAt(i, "ORDER") || kwAt(i, "LIMIT") || kwAt(i, "OFFSET")) =>
          tail = i; i = text.length
        case _ => ()
      }
      i += 1
    }
    if (q < 0) None
    else {
      val head = text.substring(0, q)
      val (cond, rest) =
        if (tail < 0) (text.substring(q + 7), "")
        else (text.substring(q + 7, tail), text.substring(tail))
      Some(s"SELECT * FROM ($head\n) __qualify WHERE ($cond)\n$rest")
    }
  }

  /** Parse + route one SQL statement. Reads return the query's rows; DML
    * and maintenance statements execute the commit and return its metrics
    * as one row. The text is parsed ONCE, by [[GraftSqlParser]] (QUALIFY
    * rewrite, extension grammar, Spark's grammar, lake claims), and the
    * plan is routed by [[sqlParsed]]. */
  def sql(spark: SparkSession, text: String): DataFrame =
    sqlParsed(new Heads(spark), parser(spark).parsePlan(text))

  /** The session's parser when the session carries [[GraftSparkExtensions]],
    * else Spark's wrapped in a [[GraftSqlParser]] — so this entry point
    * serves the full statement surface in every session. */
  private[sql] def parser(spark: SparkSession): GraftSqlParser =
    spark.sessionState.sqlParser match {
      case g: GraftSqlParser => g
      case other => new GraftSqlParser(other)
    }

  /** One lake statement as a command: its declared result schema and the
    * handler producing its rows, run when the command runs. */
  private def command(schema: StructType)(rows: SparkSession => Seq[Row])
      : Option[LakeDmlCommand] =
    Some(LakeDmlCommand(schema,
      s => s.createDataFrame(rows(s).asJava, schema)))

  /** A commit statement's one all-Long metric row: `names` and the
    * handler's values line up by position. */
  private def metrics(names: String*)(values: SparkSession => Seq[Long])
      : Option[LakeDmlCommand] =
    command(longSchema(names))(s => Seq(Row(values(s): _*)))

  /** The EXTENSION GRAMMAR, each statement declared once — regex, guard,
    * result schema and handler. [[GraftSqlParser]] tries it before Spark's
    * parser (the DeltaSqlParser shape); a match becomes a [[LakeDmlCommand]]
    * whose handler runs at command run time, never at parse time. None ⇒
    * not ours, delegate. Statements that are ALSO valid Spark SQL (SHOW
    * CREATE TABLE, ANALYZE, ALTER … TYPE / CLUSTER BY / FOREIGN KEY) are
    * claimed only for registered lake names, so a catalog table's statement
    * still reaches Spark's own parser and command. */
  private[sql] def extendedStatement(text: String): Option[LakeDmlCommand] =
    text match {
      // OPTIMIZE … WHERE: scoped re-layout — the statement a consumer runs
      // after a day's fragmented ingest into one key range; cost tracks the
      // scope's bytes, not the table's. DVs on selected files fold away.
      case OptimizeWhereRe(name, condText, colList) =>
        metrics("version", "files_rewritten", "files_skipped", "files_out") {
          spark =>
            val spec = specByName(name)
            val hs = new Heads(spark)
            val h = hs(spec)
            val zcols = Option(colList).map(zorderCols(spec, h.mapping, _))
            val cond = spark.sessionState.sqlParser.parseExpression(condText)
            val (prune, _) = compileWhere(cond, spec, h.mapping, Some(hs))
            val r = Snapshots.compactScopedCommit(spark, spec.path, h,
              spec.cols, prune, spec.nFiles, zcols)
            Seq(r.version.toLong, r.filesRewritten, r.filesSkipped, r.filesOut)
        }
      // OPTIMIZE … ZORDER BY: re-layout the latest snapshot CLUSTERED on
      // the named columns — the statement a consumer runs when the query
      // workload's hot predicate column isn't the one the table was loaded
      // clustered by. The manifest still records stats for every stats
      // column (sound bounds under any order), so this changes PRUNING
      // TIGHTNESS, not correctness — and it is a pure re-layout: the change
      // feed across the commit is empty.
      case OptimizeZRe(name, colList) =>
        metrics("version", "files_in", "files_out") { spark =>
          val spec = specByName(name)
          val h = Snapshots.tableHead(spark, spec.manifestRoot)
          val zcols = zorderCols(spec, h.mapping, colList)
          val (version, nIn, nOut) = Snapshots.compactCommit(spark, spec.path,
            h, spec.cols, spec.nFiles, Some(zcols))
          Seq(version.toLong, nIn.toLong, nOut.toLong)
        }
      case OptimizeFullRe(name) =>
        metrics("version", "files_in", "files_out") { spark =>
          val spec = specByName(name)
          val h = Snapshots.tableHead(spark, spec.manifestRoot)
          require(clusterCols(h).nonEmpty,
            s"OPTIMIZE $name FULL needs clustering keys — set them with " +
              "CREATE/ALTER TABLE … CLUSTER BY (…)")
          recluster(spark, spec, h, full = true)
        }
      case OptimizeRe(name, small) =>
        if (small == null)
          metrics("version", "files_in", "files_out") { spark =>
            // a table with clustering keys as a property takes the
            // INCREMENTAL path: only unclustered files rewrite, the
            // clustered base stays byte-identical (liquid shape); tables
            // without keys keep the full re-layout compaction
            val spec = specByName(name)
            val h = Snapshots.tableHead(spark, spec.manifestRoot)
            if (clusterCols(h).nonEmpty) recluster(spark, spec, h, full = false)
            else {
              val (version, nIn, nOut) = Snapshots.compactCommit(spark,
                spec.path, h, spec.cols, spec.nFiles, None)
              Seq(version.toLong, nIn.toLong, nOut.toLong)
            }
          }
        else
          metrics("version", "files_compacted", "files_skipped", "files_out") {
            spark =>
              val spec = specByName(name)
              val r = Snapshots.compactSmallCommit(spark, spec.path,
                spec.manifestRoot, spec.cols, smallBytes = small.toLong,
                nFiles = 1)
              Seq(r.version.toLong, r.filesCompacted, r.filesSkipped,
                r.filesOut)
          }
      case ReorgRe(name) =>
        metrics("version", "files_purged", "files_total", "files_written") {
          spark =>
            val spec = specByName(name)
            val r = graft.sinks.Dv.purgeDv(spark, spec.path, spec.manifestRoot,
              spec.cols)
            Seq(r.version.toLong, r.filesPurged, r.filesTotal,
              r.dataFilesWritten)
        }
      case FsckRe(name, dry) =>
        if (dry == null)
          metrics("version", "files_missing", "files_total", "rows_lost") {
            spark =>
              val spec = specByName(name)
              val (r, _) = Snapshots.fsckCommit(spark, spec.manifestRoot,
                dryRun = false)
              Seq(r.version.toLong, r.filesMissing, r.filesTotal, r.rowsLost)
          }
        else
          command(strSchema("file")) { spark =>
            val spec = specByName(name)
            Snapshots.fsckCommit(spark, spec.manifestRoot, dryRun = true)._2
              .map(Row(_))
          }
      case ShowCreateRe(name) if isRegisteredName(name) =>
        command(strSchema("createtab_stmt"))(spark =>
          Seq(Row(showCreate(spark, name))))
      case VacuumRe(name, n, unit, dry) =>
        val byVersions = unit.equalsIgnoreCase("VERSIONS")
        def cutoffMs = System.currentTimeMillis() - n.toLong * 3600000L
        if (dry != null)
          // DRY RUN: the reclaim listing, nothing touched — shares the
          // plan code with the destructive path so it can never drift.
          command(strSchema("item", "kind")) { spark =>
            val spec = specByName(name)
            val p =
              if (byVersions)
                Snapshots.vacuumPlan(spark, spec.path, spec.manifestRoot,
                  retainLast = n.toInt)
              else
                Snapshots.vacuumRetentionPlan(spark, spec.path,
                  spec.manifestRoot, cutoffMs)
            p.dropVersions.map(v => Row(s"${spec.manifestRoot}/v=$v",
              "version")) ++
              p.deadFiles.map(Row(_, "data")) ++
              p.deadDvDirs.map(Row(_, "dv"))
          }
        else
          metrics("files_deleted", "versions_dropped") { spark =>
            val spec = specByName(name)
            val r =
              if (byVersions)
                Snapshots.vacuum(spark, spec.path, spec.manifestRoot,
                  retainLast = n.toInt)
              else
                Snapshots.vacuumRetention(spark, spec.path, spec.manifestRoot,
                  cutoffMs)
            Seq(r.filesDeleted, r.versionsDropped)
          }
      // DESCRIBE DETAIL: one metadata row from manifest + file status —
      // the table-inventory read a catalog browser issues; never a scan.
      case DescribeDetailRe(name) =>
        command(StructType(Seq(
            StructField("name", StringType, nullable = false),
            StructField("location", StringType, nullable = false),
            StructField("num_files", LongType, nullable = false),
            StructField("size_bytes", LongType, nullable = false),
            StructField("num_versions", LongType, nullable = false),
            StructField("stats_cols", StringType, nullable = false)))) {
          spark =>
            val spec = specByName(name)
            val h = Snapshots.tableHead(spark, spec.manifestRoot)
            val entries = graft.sinks.Dv.entries(Snapshots.manifestAt(spark, h))
            val p = new org.apache.hadoop.fs.Path(spec.path)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val bytes = entries.map(e =>
              fs.getFileStatus(new org.apache.hadoop.fs.Path(e.file)).getLen)
              .sum
            Seq(Row(name.toLowerCase(java.util.Locale.ROOT), spec.path,
              entries.size.toLong, bytes, h.listing.size.toLong,
              spec.cols.mkString(",")))
        }
      // ALTER TABLE … ADD CONSTRAINT … FOREIGN KEY: the enforced
      // referential contract — parent resolved to its manifest root NOW
      // (renaming the parent later does not silently detach the edge),
      // column names translated through each table's mapping.
      case AddFkRe(name, cname, column, parent, key, _)
          if isRegisteredName(name) && isRegisteredName(parent) =>
        metrics("version") { spark =>
          val hs = new Heads(spark)
          val (h, ph) = (hs(specByName(name)), hs(specByName(parent)))
          val childCol = physicalName(
            column.toLowerCase(java.util.Locale.ROOT),
            h.mapping, "FOREIGN KEY column")
          val parentCol = physicalName(
            key.toLowerCase(java.util.Locale.ROOT),
            ph.mapping, "REFERENCES column")
          Seq(Snapshots.addForeignKey(spark, h,
            cname.toLowerCase(java.util.Locale.ROOT), childCol,
            ph, parentCol).toLong)
        }
      case AlterColTypeRe(name, colName, typeStr) if isRegisteredName(name) =>
        metrics("version") { spark =>
          val dt = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseDataType(typeStr.trim)
          Seq(Snapshots.widenColumn(spark, specByName(name).manifestRoot,
            colName, dt).toLong)
        }
      // GOVERNANCE POLICIES: row filter + column masks as property commits;
      // applied to every read by [[aliasedTableAt]] → [[applyPolicies]].
      case SetRowFilterRe(name, cond) =>
        metrics("version") { spark =>
          val h = Snapshots.tableHead(spark, specByName(name).manifestRoot)
          validatePolicyExpr(spark, h, cond.trim, None)
          Seq(Snapshots.setProperties(spark, h,
            Map(RowFilterProp -> cond.trim)).toLong)
        }
      case DropRowFilterRe(name) =>
        metrics("version")(spark => Seq(Snapshots.unsetProperties(spark,
          specByName(name).manifestRoot, Seq(RowFilterProp)).toLong))
      case SetMaskRe(name, colName, maskExpr) =>
        metrics("version") { spark =>
          val h = Snapshots.tableHead(spark, specByName(name).manifestRoot)
          val c = colName.toLowerCase(java.util.Locale.ROOT)
          validatePolicyExpr(spark, h, maskExpr.trim, Some(c))
          Seq(Snapshots.setProperties(spark, h,
            Map(s"$MaskPropPrefix$c" -> maskExpr.trim)).toLong)
        }
      case DropMaskRe(name, colName) =>
        metrics("version")(spark => Seq(Snapshots.unsetProperties(spark,
          specByName(name).manifestRoot,
          Seq(MaskPropPrefix + colName.toLowerCase(java.util.Locale.ROOT)))
          .toLong))
      // MATERIALIZED VIEWS (the Databricks MV surface; [[MatViews]]):
      // CREATE materializes the algebraic aggregate as a lake table with
      // the definition in its properties and an mvref_<baseVersion> cursor
      // tag; REFRESH folds the base change feed since the cursor; DROP
      // unregisters. Serving is the injected [[ServeFromMatViews]] rule.
      case CreateMvRe(name, loc, query) =>
        metrics("version", "base_version") { spark =>
          val r = MatViews.create(spark, name, Option(loc), query)
          Seq(r.version.toLong, r.baseVersion.toLong)
        }
      case RefreshMvRe(name, full) =>
        metrics("version", "from_version", "to_version", "feed_rows",
            "groups_recomputed", "base_files_read", "base_files_total") {
          spark =>
            val r = MatViews.refresh(spark, name, full = full != null)
            Seq(r.version.toLong, r.fromVersion.toLong, r.toVersion.toLong,
              r.feedRows, r.groupsRecomputed, r.baseFilesRead,
              r.baseFilesTotal)
        }
      case DropMvRe(name) =>
        metrics("dropped")(spark =>
          Seq(if (MatViews.drop(spark, name)) 1L else 0L))
      // CLUSTERING KEYS as table state (liquid shape): one metadata-only
      // property commit; plain OPTIMIZE reads the keys back and
      // re-clusters only the unclustered increment. Keys must carry
      // manifest stats (same rule as ZORDER BY — clustering a column no
      // stats can prune buys nothing).
      case AlterClusterNoneRe(name) if isRegisteredName(name) =>
        metrics("version")(spark => Seq(Snapshots.unsetProperties(spark,
          specByName(name).manifestRoot, Seq(ClusterByProp)).toLong))
      case AlterClusterRe(name, colList) if isRegisteredName(name) =>
        metrics("version") { spark =>
          val spec = specByName(name)
          val h = Snapshots.tableHead(spark, spec.manifestRoot)
          val ccols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
            .map(_.toLowerCase(java.util.Locale.ROOT))
          require(ccols.nonEmpty, "CLUSTER BY needs at least one column")
          val physical =
            ccols.map(c => physicalName(c, h.mapping, "CLUSTER BY column"))
          val missing = physical.filterNot(spec.cols.contains)
          require(missing.isEmpty,
            s"CLUSTER BY columns must carry manifest stats (have " +
              s"${spec.cols.mkString(", ")}; missing ${missing.mkString(", ")})")
          Seq(Snapshots.setProperties(spark, h,
            Map(ClusterByProp -> ccols.mkString(","))).toLong)
        }
      // ANALYZE TABLE: one aggregate job over the LIVE rows (DV-masked rows
      // excluded — statistics describe what readers see); row count always,
      // exact per-visible-column distinct + null counts under FOR ALL
      // COLUMNS. Persisted as stats.* properties in one metadata commit so
      // SHOW TBLPROPERTIES / DESCRIBE EXTENDED serve them back; at 100 TB
      // the job is a single pass with map-side partials (the multi-distinct
      // plans through Spark's expand, still one scan).
      case AnalyzeRe(name, forCols) if isRegisteredName(name) =>
        metrics("version", "row_count", "columns_analyzed") { spark =>
          val h = Snapshots.tableHead(spark, specByName(name).manifestRoot)
          val df = Snapshots.mappedTableAt(spark, h)
          val cols =
            if (forCols == null) Seq.empty[String] else df.columns.toSeq
          val aggs = count(lit(1)).as("_rc") +: cols.flatMap(c => Seq(
            countDistinct(col(c)).as(s"_ndv_$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nulls_$c")))
          val row = df.agg(aggs.head, aggs.tail: _*).head()
          def longAt(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
          val rc = longAt(0)
          val props = Map("stats.rowCount" -> rc.toString) ++
            cols.zipWithIndex.flatMap { case (c, i) => Seq(
              s"stats.$c.distinctCount" -> longAt(1 + 2 * i).toString,
              s"stats.$c.nullCount" -> longAt(2 + 2 * i).toString) }
          Seq(Snapshots.setProperties(spark, h, props).toLong, rc,
            cols.size.toLong)
        }
      // RESTORE TABLE (the Delta RESTORE statement): ONE metadata-only
      // roll-FORWARD commit re-referencing the target version's files —
      // zero data files written, history above the target stays pinnable
      // (Snapshots.restoreCommit re-asserts the target's column mapping).
      case RestoreRe(name, v) =>
        metrics("version", "restored_to")(spark => Seq(
          Snapshots.restoreCommit(spark, specByName(name).manifestRoot,
            v.toInt).toLong, v.toLong))
      case RestoreTsRe(name, ts) =>
        metrics("version", "restored_to") { spark =>
          val spec = specByName(name)
          val zone = java.time.ZoneId.of(
            spark.sessionState.conf.sessionLocalTimeZone)
          val raw = ts.trim
          val ldt =
            if (raw.contains(' ') || raw.contains('T'))
              java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
            else java.time.LocalDate.parse(raw).atStartOfDay()
          val ms = ldt.atZone(zone).toInstant.toEpochMilli
          val target =
            Snapshots.versionAtTimestamp(spark, spec.manifestRoot, ms)
          Seq(Snapshots.restoreCommit(spark, spec.manifestRoot, target).toLong,
            target.toLong)
        }
      // CREATE TABLE … SHALLOW CLONE (the Delta CLONE statement): the
      // clone's v=1 IS the source's pinned manifest — zero data files
      // copied; both logs evolve independently from there (clone-side DML
      // stages into the CLONE's data dir). Same documented hazard as every
      // shallow clone: don't vacuum the source while clones reference it.
      case CloneRe(dst, src, ver, loc) =>
        metrics("version", "cloned_from") { spark =>
          cloneInto(spark, dst, src, ver, loc, "SHALLOW") {
            (srcSpec, dstSpec, version) =>
              Seq(Snapshots.cloneCommit(spark, srcSpec.manifestRoot,
                dstSpec.manifestRoot, version).toLong, version.toLong)
          }
        }
      // DEEP CLONE: same naming/registration contract as SHALLOW, but the
      // destination owns PHYSICAL copies (executor-parallel copy job) —
      // source vacuum/purge/delete can never invalidate it
      case DeepCloneRe(dst, src, ver, loc) =>
        metrics("version", "cloned_from", "files_copied", "bytes_copied") {
          spark =>
            cloneInto(spark, dst, src, ver, loc, "DEEP") {
              (srcSpec, dstSpec, version) =>
                val r = Snapshots.deepCloneCommit(spark, srcSpec.manifestRoot,
                  dstSpec.path, dstSpec.manifestRoot, version)
                Seq(r.version.toLong, version.toLong, r.filesCopied,
                  r.bytesCopied)
            }
        }
      // INSERT INTO … REPLACE WHERE: scoped ATOMIC overwrite — one commit
      // deletes exactly the predicate's rows and lands the batch; a reader
      // sees the old slice or the new, never the gap a DELETE;INSERT pair
      // opens. The predicate compiles through the same typed stats-box
      // compiler as DELETE/UPDATE (file-pruned touch set, loud rejection
      // when nothing prunes), the batch passes the same schema-on-write
      // alignment as INSERT INTO, and every batch row must satisfy the
      // predicate (a scoped overwrite cannot smuggle rows past its scope).
      case InsertReplaceRe(name, condText, queryText) =>
        metrics("version", "files_rewritten", "files_total", "rows_deleted",
            "files_appended", "files_dropped") { spark =>
          val spec = specByName(name)
          val hs = new Heads(spark)
          val h = hs(spec)
          requireDmlClearance(spark, h, "INSERT ... REPLACE WHERE")
          val cond = spark.sessionState.sqlParser.parseExpression(condText)
          val (prune, pred) = compileWhere(cond, spec, h.mapping, Some(hs))
          val batch = alignedPhysicalBatch(hs, spec,
            spark.sessionState.sqlParser.parsePlan(queryText))
          val r = Snapshots.replaceWhereCommit(spark, batch, spec.cols,
            spec.path, h, spec.nFiles, prune, pred,
            compileCover(cond, spec, h.mapping, Some(hs)))
          Seq(r.version.toLong, r.filesRewritten, r.filesTotal,
            r.rowsDeleted, r.filesAppended, r.filesDropped)
        }
      // CONVERT TO LAKE: adopt an existing parquet directory IN PLACE — v1
      // is a manifest over the directory's current files (footer stats when
      // every stats column is plain numeric — a metadata-only read; one
      // column-pruned scan otherwise), no data file written, moved, or
      // rewritten. From v1 on the directory serves the whole surface:
      // time travel, DML, OPTIMIZE, constraints. The manifest lives INSIDE
      // the directory under an underscore-prefixed subdir, so plain
      // spark.read.parquet over the dir keeps working untouched.
      case ConvertRe(name, dir, colList, nf) =>
        metrics("version", "files_converted") { spark =>
          val lname = name.toLowerCase(java.util.Locale.ROOT)
          require(!registry.contains(lname),
            s"lake table '$lname' already exists")
          val cols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          require(cols.nonEmpty, "CONVERT needs at least one stats column")
          val manifestRoot = s"$dir/_lake_manifest"
          require(Snapshots.versions(spark, manifestRoot).isEmpty,
            s"$dir is already a lake table (manifest exists)")
          val manifest = Layout.buildManifest(spark, dir, cols)
          val version = Snapshots.commit(spark, manifest, manifestRoot)
          register(lname, LakeTableSpec(dir, manifestRoot, cols,
            Option(nf).map(_.toInt).getOrElse(8)))
          Seq(version.toLong, manifest.count())
        }
      // COPY INTO: idempotent file-tracking ingest. Keys are name:size of
      // each visible source data file; the batch passes the same
      // schema-on-write gate as INSERT (mapping-aware), then lands as one
      // marker-carrying append. JSON reads use the table's LOGICAL schema
      // (no inference — drifted files fail the gate loudly, never null-fill).
      case CopyIntoRe(name, dir, fmtOrNull) =>
        metrics("version", "files_loaded", "rows_loaded", "files_skipped") {
          spark =>
            val r = copyInto(spark, specByName(name), dir, fmtOrNull)
            Seq(r.version.toLong, r.filesLoaded, r.rowsLoaded,
              r.filesSkipped)
        }
      case _ => None
    }

  /** ZORDER BY's column list in physical names; each must carry manifest
    * stats — clustering a column no stats can prune buys nothing. */
  private def zorderCols(spec: LakeTableSpec,
                         mapping: Option[Map[String, String]],
                         colList: String): Seq[String] = {
    val zcols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map(c => physicalName(c, mapping, "ZORDER BY column"))
    require(zcols.nonEmpty, "ZORDER BY needs at least one column")
    val missing = zcols.filterNot(spec.cols.contains)
    require(missing.isEmpty,
      s"ZORDER BY columns must carry manifest stats (have " +
        s"${spec.cols.mkString(", ")}; missing ${missing.mkString(", ")}) " +
        "— clustering a column no stats can prune buys nothing")
    zcols
  }

  /** Re-cluster on the table's CLUSTER BY keys (incremental, or every
    * live file when `full`): the (version, files_in, files_out) values. */
  private def recluster(spark: SparkSession, spec: LakeTableSpec,
                        h: Snapshots.TableHead, full: Boolean): Seq[Long] = {
    val physical = clusterCols(h)
      .map(c => physicalName(c, h.mapping, "CLUSTER BY column"))
    val r = Snapshots.clusterIncrementalCommit(spark, spec.path, h,
      spec.cols, physical, spec.nFiles, full = full)
    Seq(r.version.toLong, r.filesReclustered, r.filesOut)
  }

  /** The naming/registration contract SHALLOW and DEEP CLONE share: the
    * destination name must be free, the source version defaults to its
    * head, the root comes from LOCATION or the warehouse; `commit` runs
    * the clone and the destination registers after it. */
  private def cloneInto[A](spark: SparkSession, dst: String, src: String,
                           ver: String, loc: String, kind: String)
                          (commit: (LakeTableSpec, LakeTableSpec, Int) => A): A = {
    val dstName = dst.toLowerCase(java.util.Locale.ROOT)
    val srcSpec = specByName(src)
    require(!registry.contains(dstName),
      s"lake table '$dstName' already exists")
    val version =
      if (ver == null) Snapshots.latestVersion(spark, srcSpec.manifestRoot)
      else ver.toInt
    val root = Option(loc).orElse(warehouse.get().map(w => s"$w/$dstName"))
      .getOrElse(throw new IllegalArgumentException(
        s"$kind CLONE needs a LOCATION clause or LakeSql.setWarehouse"))
    val dstSpec = LakeTableSpec(s"$root/z", s"$root/m", srcSpec.cols,
      srcSpec.nFiles)
    val out = commit(srcSpec, dstSpec, version)
    register(dstName, dstSpec)
    out
  }

  /** SHOW CREATE TABLE's one statement: the LOGICAL schema (column
    * mapping applied) — what a new consumer would re-create; physical
    * layout is an implementation detail. The statement is VALID Spark DDL
    * that ROUND-TRIPS: feeding it back through LakeSql.sql (or spark.sql
    * against a lake catalog) re-creates an empty table with this schema,
    * layout, and stats domain — the structural halves travel as table
    * properties, the form CREATE TABLE reads them back in. Column
    * contracts (NOT NULL / DEFAULT / identity / generated) live in the
    * DECLARED schema's field metadata and print back too. */
  private def showCreate(spark: SparkSession, name: String): String = {
    val spec = specByName(name)
    val h = Snapshots.tableHead(spark, spec.manifestRoot)
    val declaredByName = h.schema
      .map(_.fields.map(f =>
        f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap)
      .getOrElse(Map.empty)
    val fields = Snapshots.mappedTableAt(spark, h).schema.fields.toSeq
      .map { f =>
        val clauses = declaredByName
          .get(f.name.toLowerCase(java.util.Locale.ROOT)).toSeq
          .flatMap { d =>
            val m = d.metadata
            (if (m.contains(IdentityStartKey))
              Seq("GENERATED ALWAYS AS IDENTITY (START WITH " +
                s"${m.getLong(IdentityStartKey)} INCREMENT BY " +
                s"${m.getLong(IdentityStepKey)})")
            else Seq.empty) ++
            (if (m.contains(GenerationKey))
              Seq(s"GENERATED ALWAYS AS (${m.getString(GenerationKey)})")
            else Seq.empty) ++
            (if (m.contains(DefaultKey))
              Seq(s"DEFAULT ${m.getString(DefaultKey)}") else Seq.empty) ++
            (if (!d.nullable && !m.contains(IdentityStartKey))
              Seq("NOT NULL") else Seq.empty)
          }
        (s"  ${f.name} ${f.dataType.sql}" +: clauses).mkString(" ")
      }
    val props = h.props
    val all = Seq(
      "stats_cols" -> spec.cols.mkString(","),
      "files" -> spec.nFiles.toString,
      "data_dir" -> spec.path,
      "manifest_dir" -> spec.manifestRoot) ++
      (props -- Seq(Snapshots.SchemaProp, "stats_cols", "files",
        "data_dir", "manifest_dir")).toSeq.sorted
    s"CREATE TABLE ${canonicalName(name)} (\n" +
      fields.mkString(",\n") + "\n) USING lake\nTBLPROPERTIES (" +
      all.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")"
  }

  /** COPY INTO's load: list the source dir, key each visible file by
    * qualified path : size : mtime, read the unseen ones through the
    * schema-on-write gate, and land them as one marker-carrying append
    * (then the table's auto-compaction, like every other write). */
  private def copyInto(spark: SparkSession, spec: LakeTableSpec, dir: String,
                       fmtOrNull: String): Snapshots.CopyResult = {
    val fmt = Option(fmtOrNull).map(_.toUpperCase(java.util.Locale.ROOT))
      .getOrElse("PARQUET")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"COPY INTO source '$dir' does not exist")
    val files = fs.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.toString,
        java.security.MessageDigest.getInstance("MD5")
          // key = full qualified path : size : mtime — the Databricks
          // COPY INTO contract. Base name alone would silently skip a
          // NEW file that shares name+size with any previously loaded
          // one (fixed-name daily exports from another directory);
          // mtime makes an in-place rewrite load again, as it should.
          .digest((s"${st.getPath.toString}:${st.getLen}:" +
              st.getModificationTime)
            .getBytes("UTF-8")).map("%02x".format(_)).mkString))
    val h = Snapshots.tableHead(spark, spec.manifestRoot)
    val logicalSchema = Snapshots.mappedTableAt(spark, h).schema
    def read(paths: Seq[String]): DataFrame = {
      val raw = fmt match {
        case "PARQUET" => spark.read.parquet(paths: _*)
        case "JSON" => spark.read.schema(logicalSchema).json(paths: _*)
      }
      alignedPhysicalFrame(spark, h, toPhysicalFrame(raw, h.mapping))
    }
    val r = Snapshots.copyIntoCommit(spark, spec.path, h, spec.cols,
      spec.nFiles, files, read)
    maybeAutoCompact(spark, spec, h)
    r
  }

  /** Route one parsed statement: a command the parser claimed and lake
    * DML / property statements ([[dmlCommand]]) run their handler now;
    * everything else is lake DDL or a read. */
  private[sql] def sqlParsed(hs: Heads, plan: LogicalPlan): DataFrame =
    plan match {
      case c: LakeDmlCommand => c.exec(hs.spark)
      case _ => dmlCommand(plan, _ => false)
        .fold(ddlOrRead(hs, plan))(_.exec(hs.spark))
    }

  /** The heads one statement acts on: each lake table's
    * [[Snapshots.TableHead]] resolved ONCE, on first use, and handed to
    * every reader and writer of that table in the statement — a self-join,
    * a subquery and a DML statement's source read the version its target
    * resolved. It lives only as long as its statement. */
  private[sql] final class Heads(val spark: SparkSession) {
    private val byRoot =
      scala.collection.mutable.Map.empty[String, Snapshots.TableHead]

    def apply(spec: LakeTableSpec): Snapshots.TableHead =
      byRoot.getOrElseUpdate(spec.manifestRoot,
        Snapshots.tableHead(spark, spec.manifestRoot))

    /** `h` as its table's head, unless the statement already resolved
      * one — a catalog handle hands down the head it was loaded with. */
    def seed(h: Snapshots.TableHead): Snapshots.TableHead =
      byRoot.getOrElseUpdate(h.root, h)

    /** Run a metadata-only commit (`run`) against `spec`'s head; the
      * head then moves to the version the commit returned. */
    def commit(spec: LakeTableSpec)(run: Snapshots.TableHead => Int): Int = {
      val v = run(apply(spec))
      byRoot(spec.manifestRoot) = apply(spec).after(v)
      v
    }
  }

  private def ddlOrRead(hs: Heads, plan: LogicalPlan): DataFrame = {
    val spark = hs.spark
    plan match {
      case cts: CreateTableAsSelect =>
        runCtas(hs, cts)
      case rts: ReplaceTableAsSelect =>
        runReplaceTas(hs, rts)
      case rc: RenameColumn if isLake(rc.table) =>
        val (_, spec) = lookup(rc.table).get
        val v = Snapshots.renameColumn(spark, spec.manifestRoot,
          rc.column.name.mkString("."), rc.newName)
        metricsRow(spark, Seq("version" -> v.toLong))
      case dc: DropColumns if isLake(dc.table) =>
        val (_, spec) = lookup(dc.table).get
        val v = dc.columnsToDrop.map(f => hs.commit(spec)(
          Snapshots.dropColumn(spark, _, f.name.mkString(".")))).last
        metricsRow(spark, Seq("version" -> v.toLong))
      // SHOW TBLPROPERTIES: the Delta table-property store's read side
      // (SET/UNSET TBLPROPERTIES commit through [[dmlCommand]];
      // superseding-set semantics, pinned reads see THEIR version's map)
      case sp: ShowTableProperties if isLake(sp.table) =>
        val props = hs(lookup(sp.table).get._2).props
        val sel = sp.propertyKey match {
          case Some(k) => props.view.filterKeys(_ == k).toMap
          case None => props
        }
        spark.createDataFrame(
          sel.toSeq.sorted.map { case (k, v) => Row(k, v) }.asJava,
          StructType(Seq(StructField("key", StringType, nullable = false),
            StructField("value", StringType, nullable = false))))
      // ALTER TABLE … ADD COLUMN(S): one metadata-only commit per column
      // (mapping extension + declared type) — the column is immediately
      // visible as typed nulls, pinned reads keep the old schema, and
      // later appends materialize it (the q118 footer-merge mechanics)
      case ac: AddColumns if isLake(ac.table) =>
        val (_, spec) = lookup(ac.table).get
        val v = ac.columnsToAdd.map { qct =>
          require(qct.path.isEmpty,
            "nested ADD COLUMN is not supported (top-level columns only)")
          require(qct.position.isEmpty,
            "ADD COLUMN FIRST/AFTER is not supported — added columns " +
              "append last")
          require(qct.default.isEmpty,
            "ADD COLUMN DEFAULT is not supported — added columns " +
              "null-fill until data arrives")
          hs.commit(spec)(
            Snapshots.addColumn(spark, _, qct.colName, qct.dataType))
        }.last
        metricsRow(spark, Seq("version" -> v.toLong,
          "columns_added" -> ac.columnsToAdd.size.toLong))
      // ALTER TABLE … ALTER COLUMN c SET DEFAULT <const> / DROP DEFAULT:
      // one metadata-only commit re-declaring the schema with the default
      // expression in the column's field metadata ([[DefaultKey]]).
      // WRITE-default semantics (the Delta contract): existing rows are
      // untouched, pinned reads below the commit keep the old default,
      // and only INSERTs whose column list omits the column from then on
      // fill the new value. Type/nullability/comment/position changes are
      // rejected — the lake's columns are re-typed by rewrite, not ALTER.
      case alc: AlterColumns if isLake(alc.table) =>
        val (_, spec) = lookup(alc.table).get
        val v = alc.specs.map { s =>
          require(s.newDataType.isEmpty && s.newNullability.isEmpty &&
            s.newComment.isEmpty && s.newPosition.isEmpty,
            "ALTER COLUMN supports SET DEFAULT / DROP DEFAULT only")
          require(s.newDefaultExpression.nonEmpty || s.dropDefault,
            "ALTER COLUMN: nothing to change")
          val cname = s.column.name.mkString(".")
          hs.commit(spec)(Snapshots.updateDeclaredSchema(spark, _) { cur =>
            val i = cur.fieldIndex(cname.toLowerCase(java.util.Locale.ROOT))
            val f = cur.fields(i)
            require(!f.metadata.contains(IdentityStartKey) &&
              !f.metadata.contains(GenerationKey),
              s"column '$cname' is engine-assigned (identity/generated) " +
                "— it cannot carry a DEFAULT")
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            s.newDefaultExpression match {
              case Some(dv) =>
                validateDefault(spark, cname, f.dataType, dv.originalSQL)
                mb.putString(DefaultKey, dv.originalSQL)
              case None => mb.remove(DefaultKey)
            }
            StructType(cur.fields.updated(i,
              f.copy(metadata = mb.build())))
          })
        }.last
        metricsRow(spark, Seq("version" -> v.toLong))
      // ALTER TABLE … ADD CONSTRAINT <n> CHECK (<cond>): a PERSISTED
      // write-path contract — one metadata-only commit after validating
      // every existing live row (the Delta ADD CONSTRAINT shape); from
      // then on EVERY write path (INSERT, UPDATE, MERGE, REPLACE WHERE,
      // Scala API appends) validates its staged rows and aborts loudly
      // before anything becomes visible. Stored over PHYSICAL names so
      // later renames don't orphan it mid-flight (renaming a constrained
      // column keeps the constraint's semantics pinned to the data).
      // the parser encodes the target as Filter(NOT cond, relation) — the
      // "find violating rows" plan — so the table is the Filter's child
      case acc: AddCheckConstraint if isLake(constraintTarget(acc)) =>
        val h = hs(lookup(constraintTarget(acc)).get._2)
        val cc = acc.checkConstraint
        val name = Option(cc.userProvidedName).getOrElse(
          throw new IllegalArgumentException(
            "ADD CONSTRAINT needs an explicit name (generated names are " +
              "not stable across sessions)"))
        val condition = h.mapping match {
          case None => cc.condition
          case Some(m) => toPhysicalExpr(cc.child, m).sql
        }
        val v = Snapshots.addConstraint(spark, h, name, condition)
        metricsRow(spark, Seq("version" -> v.toLong))
      case dcn: DropConstraint if isLake(dcn.table) =>
        val h = hs(lookup(dcn.table).get._2)
        // the name may be a CHECK or a FOREIGN KEY — FK edges live as
        // graft.fk.* properties, CHECKs as _ck_ markers
        val v =
          if (Snapshots.foreignKeys(h).contains(dcn.name))
            Snapshots.unsetProperties(spark, h, Seq(s"graft.fk.${dcn.name}"))
          else Snapshots.dropConstraint(spark, h, dcn.name, dcn.ifExists)
        metricsRow(spark, Seq("version" -> v.toLong))
      // DROP TABLE: unregisters the name; PURGE also deletes the data
      // and manifest dirs (without it, files stay — the external-table
      // contract). Non-lake names fall through to Spark's own DDL.
      case DropTable(child, ifExists, purge)
          if isLake(child) || (ifExists && singlePartName(child).isDefined) =>
        lookup(child) match {
          case Some((name, spec)) =>
            unregister(name)
            if (purge) {
              val conf = spark.sparkContext.hadoopConfiguration
              Seq(spec.path, spec.manifestRoot).foreach { d =>
                val p = new org.apache.hadoop.fs.Path(d)
                p.getFileSystem(conf).delete(p, true) : Unit
              }
            }
            metricsRow(spark, Seq("dropped" -> 1L))
          case None =>
            require(ifExists, "unreachable: guarded by isLake")
            metricsRow(spark, Seq("dropped" -> 0L))
        }
      // SHOW TABLES: the lake registry (name, path, stats_cols), LIKE
      // pattern honored with the usual * wildcard
      case ShowTables(_, pattern, _) =>
        val re = pattern.map(p =>
          ("(?i)" + p.replace("*", ".*").replace("|", ".*")).r)
        val rows = registry.toSeq.sortBy(_._1)
          .filter { case (n, _) => re.forall(_.matches(n)) }
          .map { case (n, spec) =>
            Row(n, spec.path, spec.cols.mkString(",")) }
        spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("table_name", StringType, nullable = false),
          StructField("path", StringType, nullable = false),
          StructField("stats_cols", StringType, nullable = false))))
      // DESCRIBE <lake table>: the visible (mapped) schema at head; the
      // extended form appends the # Detailed Table Information block
      case DescribeRelation(rel, _, isExtended, _) if isLake(rel) =>
        val (name, spec) = lookup(rel).get
        val schema = Snapshots.mappedTableAt(spark, hs(spec)).schema
        val colRows = schema.fields.toSeq.map(f =>
          Row(f.name, f.dataType.catalogString, ""))
        val extra =
          if (!isExtended) Seq.empty
          else Seq(
            Row("", "", ""),
            Row("# Detailed Table Information", "", ""),
            Row("Name", name, ""),
            Row("Location", spec.path, ""),
            Row("Stats Columns", spec.cols.mkString(","), ""),
            Row("Version", hs(spec).version.toString, ""))
        spark.createDataFrame((colRows ++ extra).asJava, StructType(Seq(
          StructField("col_name", StringType, nullable = false),
          StructField("data_type", StringType, nullable = false),
          StructField("comment", StringType, nullable = false))))
      case read =>
        GraftSqlBridge.ofRows(spark, resolveReads(hs, read))
    }
  }

  // ---------------------------------------------------------------- reads

  /** Re-point every registered lake relation in a read plan. Top-down so a
    * [[RelationTimeTravel]] is resolved as a unit (bottom-up would rewrite
    * its child [[UnresolvedRelation]] first and orphan the travel spec).
    *
    * PRECEDENCE: Spark's normal resolution order — temp views and CTEs
    * win over catalog tables — is preserved: a bare relation whose name
    * is defined as a CTE in this statement or registered as a (local or
    * global) temp view is left for Spark's own resolver, even when a
    * lake table shares the name. Explicit `VERSION/TIMESTAMP AS OF` still
    * binds to the lake table — time travel is a lake-only capability, so
    * the travel clause IS the disambiguation. Subquery plans resolve in
    * the same pass, against the same heads. */
  private def resolveReads(hs: Heads, plan: LogicalPlan): LogicalPlan = {
    val cteNames = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase(java.util.Locale.ROOT))
    }.flatten.toSet
    def shadowed(name: String): Boolean =
      cteNames.contains(name) ||
        hs.spark.sessionState.catalog.isTempView(Seq(name))
    plan.transformDownWithSubqueries(substitutions(hs, shadowed))
  }

  /** The relation-substitution cases themselves — shared between
    * [[resolveReads]] (the `LakeSql.sql` front door, which also handles
    * CTE/temp-view shadowing) and [[ResolveLakeTables]] (the injected
    * analyzer rule behind plain `spark.sql`, where Spark's own
    * substitution/resolution rules have already consumed CTEs and temp
    * views by the time an [[UnresolvedRelation]] reaches us). */
  private[sql] def substitutions(hs: Heads,
                                 shadowed: String => Boolean): PartialFunction[LogicalPlan, LogicalPlan] = {
      case rtt: RelationTimeTravel if isLake(rtt.relation) =>
        val (name, spec) = lookup(rtt.relation).get
        val h = hs(spec)
        val read = (rtt.version, rtt.timestamp) match {
          case (Some(v), _) => h.at(v.toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"VERSION AS OF wants an integer version, got '$v'")))
          case (_, Some(ts)) => h.at(
            Snapshots.versionAtTimestamp(hs.spark, h, evalTimestampMillis(ts)))
          case _ => h
        }
        aliasedTableAt(hs.spark, name, spec, read, h)
      case ur: UnresolvedRelation
          if isLake(ur) && !shadowed(lookup(ur).get._1) =>
        val (name, spec) = lookup(ur).get
        aliasedTableAt(hs.spark, name, spec, hs(spec), hs(spec))
      // table-valued functions over the version log — the Delta-idiom SQL
      // surface for CDC and DESCRIBE HISTORY:
      //   table_changes('<table>', vFrom, vTo)  → the change feed between
      //     two versions (reads ONLY the files the manifests disagree on)
      //   table_history('<table>')              → (version, operation,
      //     rows) inferred from markers + manifest diffs
      case tvf: UnresolvedTableValuedFunction
          if tvf.name.size == 1 &&
            tvf.name.head.equalsIgnoreCase("table_changes") =>
        tableChangesPlan(hs.spark, tvf.functionArgs)
      case tvf: UnresolvedTableValuedFunction
          if tvf.name.size == 1 &&
            tvf.name.head.equalsIgnoreCase("table_history") =>
        tableHistoryPlan(hs.spark, tvf.functionArgs)
  }

  /** `table_changes('<table>', vFrom, vTo)` → the change feed between two
    * versions (reads ONLY the files the manifests disagree on). Shared by
    * the front door's substitution arm and the session-registered TVF
    * ([[GraftSparkExtensions]]). */
  private[sql] def tableChangesPlan(spark: SparkSession,
                                    args: Seq[Expression]): LogicalPlan =
    args match {
      case Seq(Literal(t: UTF8String, StringType),
          Literal(from: Int, IntegerType), Literal(to: Int, IntegerType)) =>
        val spec = specByName(t.toString)
        SubqueryAlias("table_changes",
          Snapshots.changesBetween(spark, spec.manifestRoot, from, to)
            .df.queryExecution.logical)
      case other => throw new IllegalArgumentException(
        "table_changes wants ('<lake table>', vFrom, vTo), got " +
          other.mkString(", "))
    }

  /** `table_history('<table>')` → (version, operation, rows) inferred
    * from markers + manifest diffs. */
  private[sql] def tableHistoryPlan(spark: SparkSession,
                                    args: Seq[Expression]): LogicalPlan =
    args match {
      case Seq(Literal(t: UTF8String, StringType)) =>
        val spec = specByName(t.toString)
        val rows = Snapshots.history(spark, spec.manifestRoot)
          .map(h => Row(h.version.toLong, h.operation, h.rows))
        SubqueryAlias("table_history",
          spark.createDataFrame(rows.asJava, StructType(Seq(
              StructField("version", LongType, nullable = false),
              StructField("operation", StringType, nullable = false),
              StructField("rows", LongType, nullable = false))))
            .queryExecution.logical)
      case other => throw new IllegalArgumentException(
        s"table_history wants ('<lake table>'), got ${other.mkString(", ")}")
    }

  /** Registry key of a dotted NAME STRING (the extension-grammar regex
    * captures): strips a lake catalog qualifier like [[registryName]]. */
  private def canonicalName(name: String): String =
    registryName(name.toLowerCase(java.util.Locale.ROOT)
      .split('.').toIndexedSeq).getOrElse(name.toLowerCase(
      java.util.Locale.ROOT))

  private def isRegisteredName(name: String): Boolean =
    registry.contains(canonicalName(name))

  private def specByName(name: String): LakeTableSpec =
    registry.getOrElse(canonicalName(name),
      throw new IllegalArgumentException(
        s"'$name' is not a registered lake table " +
          s"(registered: ${registry.keys.toSeq.sorted.mkString(", ")})"))

  /** Marker the metadata-only aggregate rewrite ([[ServeAggFromManifest]])
    * keys on: `(manifestRoot, version, statsCols)` riding the lake scan's
    * relation node. Set only when the version has NO column mapping, so a
    * tagged relation's attribute names ARE the manifest's stats names. */
  private[sql] val LakeScanTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[
      (String, Int, Seq[String])]("graft.lake.scan")

  /** The governance policies in force at head `h`: the row filter and
    * the column masks by column — none for a privileged session
    * (`graft.policy.bypass=true`). */
  private def policies(spark: SparkSession, h: Snapshots.TableHead)
      : (Option[String], Map[String, String]) =
    if (spark.conf.get("graft.policy.bypass", "false").toBoolean)
      (None, Map.empty)
    else (h.props.get(RowFilterProp), h.props.collect {
      case (k, v) if k.startsWith(MaskPropPrefix) =>
        k.stripPrefix(MaskPropPrefix) -> v
    })

  /** Read-dependent DML (DELETE / UPDATE / MERGE / REPLACE WHERE /
    * TRUNCATE) on a policy-protected table requires the PRIVILEGED
    * session: the rewrite paths operate on the raw rows, so an
    * unprivileged statement would silently reach rows its own reads
    * cannot see — the Databricks contract is that policies govern DML
    * too, and this engine enforces it by refusal rather than silent
    * raw-row DML. (Plain INSERT stays open — it reads nothing.) */
  private[sql] def requireDmlClearance(spark: SparkSession,
                                       h: Snapshots.TableHead,
                                       stmt: String): Unit = {
    val (filter, masks) = policies(spark, h)
    require(filter.isEmpty && masks.isEmpty,
      s"$stmt on a policy-protected table (row filter/mask in force) " +
        "requires the privileged session (graft.policy.bypass=true) — " +
        "an unprivileged rewrite would silently touch rows its own " +
        "reads cannot see")
  }

  /** Apply the table's HEAD governance policies (row filter, then column
    * masks — masks see RAW values, the Unity-Catalog evaluation order) to
    * a read plan. Head, not the read's pinned version: a `VERSION AS OF`
    * is not a policy bypass. Sessions with `graft.policy.bypass=true`
    * read raw (the privileged-principal model). Soundness with the
    * metadata-only aggregate rule is structural: a row filter interposes
    * a `Filter`, a mask a non-attribute `Project` — either breaks
    * [[ServeAggFromManifest]]'s match, so policied counts always scan. */
  private def applyPolicies(spark: SparkSession, df: DataFrame,
                            h: Snapshots.TableHead): DataFrame = {
    val (filter, masks) = policies(spark, h)
    val filtered = filter match {
      case Some(f) => df.filter(org.apache.spark.sql.functions.expr(f))
      case None => df
    }
    if (masks.isEmpty) filtered
    else filtered.select(filtered.schema.fields.toSeq.map { f =>
      masks.get(f.name.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(m) => org.apache.spark.sql.functions.expr(m)
          .cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }: _*)
  }

  /** DDL-time validation of a policy expression: it must ANALYZE against
    * the table's live logical schema (and, for a mask, cast to the masked
    * column's type) — driver-side analysis only, no job. */
  private def validatePolicyExpr(spark: SparkSession, h: Snapshots.TableHead,
                                 sql: String, maskCol: Option[String]): Unit = {
    val df = Snapshots.mappedTableAt(spark, h)
    maskCol match {
      case None =>
        df.filter(org.apache.spark.sql.functions.expr(sql))
          .queryExecution.analyzed
      case Some(c) =>
        val f = df.schema.fields.find(
          _.name.toLowerCase(java.util.Locale.ROOT) == c).getOrElse(
          throw new IllegalArgumentException(
            s"SET MASK: no visible column '$c' " +
              s"(have ${df.columns.mkString(", ")})"))
        df.select(org.apache.spark.sql.functions.expr(sql).cast(f.dataType))
          .queryExecution.analyzed
    }
    ()
  }

  /** The plan reading `read` (the head, or a version pinned through it)
    * under the policies in force at head `h`. */
  private def aliasedTableAt(spark: SparkSession, name: String,
                             spec: LakeTableSpec, read: Snapshots.TableHead,
                             h: Snapshots.TableHead,
                             analyzed: Boolean = false): LogicalPlan = {
    // mappedTableAt = tableAt when no column mapping exists (identical
    // plan, so the q169 sameResult gate holds); under a mapping it serves
    // physical columns under the LOGICAL names in force AT the read's
    // version — SQL reads are rename-aware and pinned reads keep old names
    val df = applyPolicies(spark, Snapshots.mappedTableAt(spark, read), h)
    val inner =
      if (analyzed) df.queryExecution.analyzed else df.queryExecution.logical
    if (read.mapping.isEmpty)
      inner.foreach {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.setTagValue(LakeScanTag,
            (spec.manifestRoot, read.version, spec.cols))
        case _ => ()
      }
    SubqueryAlias(name, inner)
  }

  /** [[ResolveLakeTables]]'s rewrite of a CATALOG-resolved lake relation
    * ([[LakeRowTable]], the [[LakeCatalog]] handle) into the SAME
    * manifest-read plan the front door serves — DV anti-joins, column
    * mapping, the metadata-agg scan tag, time-travel pin all included,
    * so `spark.sql("… FROM lake.db.t")` and `LakeSql.sql("… FROM
    * db.t")` produce the same result by construction (the DeltaAnalysis
    * relation-rewrite shape). The relation may already be bound into a
    * resolved parent, so the replacement preserves the relation's output
    * attribute IDs via an aliasing projection. */
  private[sql] def rewriteCatalogRelation(
      hs: Heads,
      r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation,
      t: LakeRowTable): LogicalPlan = {
    val h = hs.seed(t.head)
    val inner = aliasedTableAt(hs.spark, t.tableName, t.spec,
      t.pinnedVersion.fold(h)(h.at), h, analyzed = true)
    val byName = inner.output
      .map(a => a.name.toLowerCase(java.util.Locale.ROOT) -> a).toMap
    val projs: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression] =
      r.output.map { a =>
        val src = byName.getOrElse(a.name.toLowerCase(java.util.Locale.ROOT),
          throw new IllegalArgumentException(
            s"lake table ${t.tableName} no longer serves column " +
              s"'${a.name}' (schema changed between resolution and " +
              "rewrite — re-run the query)"))
        org.apache.spark.sql.catalyst.expressions.Alias(src, a.name)(
          exprId = a.exprId, qualifier = a.qualifier)
      }
    org.apache.spark.sql.catalyst.plans.logical.Project(projs, inner)
  }

  private def physicalName(logical: String,
                           mapping: Option[Map[String, String]],
                           what: String): String = mapping match {
    case None => logical
    case Some(m) => m.getOrElse(logical, throw new IllegalArgumentException(
      s"no visible column '$logical' ($what; visible: " +
        s"${m.keys.toSeq.sorted.mkString(", ")})"))
  }

  /** Rewrite every attribute of a parsed expression to physical names. */
  private def toPhysicalExpr(e: Expression,
                             m: Map[String, String]): Expression =
    e.transform {
      case a: UnresolvedAttribute =>
        UnresolvedAttribute(Seq(
          physicalName(a.nameParts.last, Some(m), "expression")))
    }

  /** Route a logical-schema source frame to physical names (identity when
    * the table has no mapping). */
  private def toPhysicalFrame(df: DataFrame,
                              mapping: Option[Map[String, String]]): DataFrame =
    mapping.fold(df)(m => Snapshots.toPhysical(df, m))

  /** `TIMESTAMP AS OF` operand → epoch millis. Accepts a timestamp/date
    * string literal (ISO instant, `yyyy-MM-dd HH:mm:ss[.SSS]`, or bare
    * date — all read as UTC, the session zone everywhere in this engine)
    * or an integer literal of epoch millis. */
  private def evalTimestampMillis(e: Expression): Long = e match {
    case Literal(s: UTF8String, StringType) =>
      val str = s.toString
      Try(Instant.parse(str)).toOption
        .orElse(Try(LocalDateTime.parse(str.replace(' ', 'T'))
          .toInstant(ZoneOffset.UTC)).toOption)
        .orElse(Try(LocalDate.parse(str).atStartOfDay
          .toInstant(ZoneOffset.UTC)).toOption)
        .getOrElse(throw new IllegalArgumentException(
          s"cannot parse TIMESTAMP AS OF '$str'"))
        .toEpochMilli
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"TIMESTAMP AS OF wants a literal timestamp, got $other")
  }

  // ----------------------------------------------------------------- DML

  /** DELETE routing: copy-on-write by default; `TBLPROPERTIES
    * ('delete.mode' = 'mor')` switches the table to merge-on-read —
    * matched rows are MASKED via a deletion-vector sidecar (zero data
    * files written; write-heavy 100 TB tables pay O(deleted rows), not
    * O(touched files)) and the read side anti-joins until `REORG …
    * APPLY (PURGE)` folds the debt. Both modes share the typed predicate
    * compiler and the whole-file drop proof: a fully-covered file leaves
    * the manifest outright on either path. Metrics are the superset
    * (`files_masked` 0 under CoW, `files_rewritten` 0 under MoR), in
    * [[dmlCommand]]'s DELETE order. */
  private def runDelete(hs: Heads, target: LogicalPlan,
                        condition: Expression): Seq[Long] = {
    val (_, spec) = lookup(target).get
    val h = hs(spec)
    requireDmlClearance(hs.spark, h, "DELETE")
    val (prune, pred) = compileWhere(condition, spec, h.mapping, Some(hs))
    val cover = compileCover(condition, spec, h.mapping, Some(hs))
    if (h.props.get("delete.mode").exists(_.equalsIgnoreCase("mor"))) {
      val r = graft.sinks.Dv.deleteWhereMoRPred(hs.spark, spec.path, h,
        prune, pred, cover)
      require(r.dataFilesWritten == 0, s"MoR delete wrote data files: $r")
      Seq(0L, r.filesTotal, r.rowsDeleted, r.filesDropped, r.filesMasked)
    } else {
      val r = Snapshots.deleteWherePred(hs.spark, spec.path, h, spec.cols,
        prune, pred, cover)
      Seq(r.filesRewritten, r.filesTotal, r.rowsDeleted, r.filesDropped, 0L)
    }
  }

  private def runMerge(hs: Heads, m: MergeIntoTable): DataFrame = {
    val spark = hs.spark
    val (tname, spec) = lookup(m.targetTable).get
    val h0 = hs(spec)
    requireDmlClearance(spark, h0, "MERGE")
    // the source arrives in the LOGICAL schema; the lake's rows are
    // physical — route it through the mapping before the commit
    val source = toPhysicalFrame(
      GraftSqlBridge.ofRows(spark, resolveReads(hs, m.sourceTable)),
      h0.mapping)
    // WITH SCHEMA EVOLUTION (the Delta clause, parsed natively by Spark):
    // source columns absent from the table's visible schema are DECLARED
    // first — metadata-only ADD COLUMN commits, old rows serve typed
    // nulls — and the merge then proceeds against the evolved schema, so
    // SET * / INSERT * carry the new columns. WITHOUT the clause, extra
    // source columns are REJECTED loudly (the schema-on-write default) —
    // never silently dropped, never silently evolved.
    val visible0 = Snapshots.mappedTableAt(spark, h0).schema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val extras = source.schema.fields.toSeq.filterNot(f =>
      visible0.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
    if (extras.nonEmpty) {
      require(m.withSchemaEvolution,
        s"MERGE source carries columns the table lacks " +
          s"[${extras.map(_.name).mkString(", ")}] — nothing committed; " +
          "add WITH SCHEMA EVOLUTION to declare them, or drop them from " +
          "the source")
      extras.foreach(f => hs.commit(spec)(
        Snapshots.addColumn(spark, _, f.name, f.dataType)))
    }
    // the head after any evolution commits: its VISIBLE schema in
    // physical names is the merge's write schema (carries
    // declared-but-unmaterialized columns)
    val h = hs(spec)
    val mapping = h.mapping
    val expectPhysical = org.apache.spark.sql.types.StructType(
      Snapshots.mappedTableAt(spark, h).schema.fields.map(f =>
        f.copy(name = mapping.fold(f.name)(mp => mp(f.name)))))
    val keys = equiJoinKeys(m.mergeCondition)
      .map(k => physicalName(k, mapping, "MERGE key"))
    keys.foreach(key => require(spec.cols.contains(key),
      s"MERGE key '$key' must be a manifest stats column " +
        s"(${spec.cols.mkString(", ")}) — anything else cannot prune the " +
        "touch set and degenerates to a full-table rewrite"))
    val r = (m.matchedActions, m.notMatchedActions,
        m.notMatchedBySourceActions) match {
      // star fast paths (single key, unconditional SET */INSERT *, no
      // evolved columns) keep the lean mergeCommit/mergeCommitFull plans
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)), Seq())
          if keys.sizeIs == 1 && extras.isEmpty =>
        val u = Snapshots.mergeCommit(spark, source, keys.head, spec.cols,
          spec.path, h, spec.nFiles)
        Snapshots.MergeFullResult(u.version, u.filesRewritten, u.filesTotal,
          u.rowsUpdated, u.rowsInserted, rowsDeleted = 0L)
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)),
          Seq(DeleteAction(Some(cond))))
          if keys.sizeIs == 1 && extras.isEmpty =>
        // the three-clause matrix: the delete clause must be stats-scoped
        // — same 100 TB honesty contract as Snapshots.mergeCommitFull
        val (prune, pred) = compileWhere(cond, spec, mapping, Some(hs))
        Snapshots.mergeCommitFullPred(spark, source, keys.head,
          spec.cols, spec.path, h, spec.nFiles, prune, pred)
      case (_, _, Seq(DeleteAction(None))) =>
        throw new IllegalArgumentException(
          "WHEN NOT MATCHED BY SOURCE THEN DELETE needs a scoping " +
            "condition (a stats-column range): unscoped it must touch " +
            "every file of the table — no stats can prune 'rows whose " +
            "key is absent'")
      case (matchedActs, notMatchedActs, bySrcActs) =>
        // the GENERAL clause matrix: conditional clauses, explicit SET
        // assignments and INSERT values, composite keys, matched DELETE,
        // and stats-scoped NOT MATCHED BY SOURCE UPDATE/DELETE
        val rw = new MergeRewriter(spark, m, tname, h, source.columns.toSet)
        val matched = matchedActs.map {
          case UpdateStarAction(c) =>
            Snapshots.MatchedUpdateStar(c.map(rw.pairExpr))
          case UpdateAction(c, assigns, _) =>
            Snapshots.MatchedUpdateSet(c.map(rw.pairExpr),
              assigns.map(a => rw.assignTarget(a) -> rw.pairExpr(a.value))
                .toMap)
          case DeleteAction(c) => Snapshots.MatchedDelete(c.map(rw.pairExpr))
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE matched clause: $other")
        }
        val notMatched = notMatchedActs.map {
          case InsertStarAction(c) => Snapshots.InsertStar(c.map(rw.srcExpr))
          case InsertAction(c, assigns) =>
            Snapshots.InsertValues(c.map(rw.srcExpr),
              assigns.map(a => rw.assignTarget(a) -> rw.srcExpr(a.value))
                .toMap)
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE not-matched clause: $other")
        }
        // BY SOURCE clauses: each condition compiles through the typed
        // WHERE compiler — its prune half scopes the touch set, its row
        // half becomes the cascade condition over the bare target frame.
        // An unconditioned clause is rejected: no stats can prune "rows
        // whose key is absent from the source".
        val scopeErr = "WHEN NOT MATCHED BY SOURCE needs a scoping " +
          "condition (a stats-column range): unscoped it must touch " +
          "every file of the table — no stats can prune 'rows whose " +
          "key is absent'"
        val compiledBySrc = bySrcActs.map {
          case DeleteAction(Some(c)) =>
            val (prune, pred) = compileWhere(c, spec, mapping, Some(hs))
            (prune, Snapshots.BySourceDelete(Some(pred)))
          case UpdateAction(Some(c), assigns, _) =>
            val (prune, pred) = compileWhere(c, spec, mapping, Some(hs))
            (prune, Snapshots.BySourceUpdateSet(Some(pred),
              assigns.map(a => rw.assignTarget(a) -> rw.tgtExpr(a.value))
                .toMap))
          case DeleteAction(None) | UpdateAction(None, _, _) =>
            throw new IllegalArgumentException(scopeErr)
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE not-matched-by-source clause: $other")
        }
        Snapshots.mergeCommitClauses(spark, source, keys, spec.cols,
          spec.path, h, spec.nFiles, matched, notMatched,
          compiledBySrc.map(_._2),
          compiledBySrc.map(_._1).reduceOption(_ || _),
          targetSchemaHint = Some(expectPhysical))
    }
    metricsRow(spark,
      Seq("version" -> r.version.toLong,
        "files_rewritten" -> r.filesRewritten,
        "files_total" -> r.filesTotal,
        "rows_updated" -> r.rowsUpdated,
        "rows_inserted" -> r.rowsInserted,
        "rows_deleted" -> r.rowsDeleted))
  }

  /** Rewrites parsed MERGE clause expressions onto the frames
    * [[Snapshots.mergeCommitClauses]] evaluates them over: matched-clause
    * expressions see the joined (target, source) pair — target columns
    * under their physical names, source columns under the `_s_` prefix —
    * and insert-clause expressions see the bare source frame. Qualifier
    * resolution: the source alias wins its qualified refs, the target
    * alias (or table name) wins its own; unqualified refs resolve
    * target-first (matched context) / source-only (insert context). */
  private final class MergeRewriter(spark: SparkSession, m: MergeIntoTable,
                                    tname: String, h: Snapshots.TableHead,
                                    sourceCols: Set[String]) {
    private def aliasOf(p: LogicalPlan): Option[String] = p match {
      case SubqueryAlias(id, _) => Some(id.name)
      case _ => None
    }
    private val tgtAlias = aliasOf(m.targetTable).getOrElse(tname)
    private val srcAlias = aliasOf(m.sourceTable)
    // visible LOGICAL target columns: the mapping's keys when one exists,
    // else the table's physical schema (plan-only read, no job)
    private val targetLogical: Set[String] = h.mapping match {
      case Some(mp) => mp.keySet
      case None => Snapshots.tableAt(spark, h).columns.toSet
    }
    private val srcLower = sourceCols.map(_.toLowerCase(java.util.Locale.ROOT))

    private def isSrcQ(q: String) = srcAlias.exists(_.equalsIgnoreCase(q))
    private def isTgtQ(q: String) = tgtAlias.equalsIgnoreCase(q)
    private def phys(n: String) = physicalName(n, h.mapping, "MERGE expression")
    private def inSource(physical: String) =
      srcLower.contains(physical.toLowerCase(java.util.Locale.ROOT))

    /** matched-clause context: joined (target, source) pair. */
    def pairExpr(e: Expression): Column = GraftSqlBridge.column(e.transform {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if isSrcQ(q) => UnresolvedAttribute(Seq("_s_" + phys(n)))
        case Seq(q, n) if isTgtQ(q) => UnresolvedAttribute(Seq(phys(n)))
        case Seq(n) if targetLogical.exists(_.equalsIgnoreCase(n)) =>
          UnresolvedAttribute(Seq(phys(n)))
        case Seq(n) if inSource(phys(n)) =>
          UnresolvedAttribute(Seq("_s_" + phys(n)))
        case parts => throw new IllegalArgumentException(
          s"cannot resolve MERGE reference ${parts.mkString(".")} against " +
            s"target '$tgtAlias' or source ${srcAlias.getOrElse("<unaliased>")}")
      }
    })

    /** insert-clause context: the bare source frame. */
    def srcExpr(e: Expression): Column = GraftSqlBridge.column(e.transform {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if isSrcQ(q) => UnresolvedAttribute(Seq(phys(n)))
        case Seq(n) => UnresolvedAttribute(Seq(phys(n)))
        case parts => throw new IllegalArgumentException(
          s"INSERT clause reference ${parts.mkString(".")} must name a " +
            "source column")
      }
    })

    /** by-source clause context: the bare TARGET frame — there is no
      * source row to reference ("key absent from source"). */
    def tgtExpr(e: Expression): Column = GraftSqlBridge.column(e.transform {
      case a: UnresolvedAttribute => a.nameParts match {
        case Seq(q, n) if isTgtQ(q) => UnresolvedAttribute(Seq(phys(n)))
        case Seq(n) if targetLogical.exists(_.equalsIgnoreCase(n)) =>
          UnresolvedAttribute(Seq(phys(n)))
        case parts => throw new IllegalArgumentException(
          "NOT MATCHED BY SOURCE expressions see only the target row; " +
            s"cannot resolve ${parts.mkString(".")} against '$tgtAlias'")
      }
    })

    /** assignment target (SET k = … / INSERT (k) …) → physical name. */
    def assignTarget(a: Assignment): String = a.key match {
      case k: UnresolvedAttribute => phys(k.nameParts.last)
      case other => throw new IllegalArgumentException(
        s"unsupported MERGE assignment target: $other")
    }
  }

  /** ADD CONSTRAINT's table node: the parser wraps it as
    * `Filter(NOT condition, relation)` (the violating-rows plan). */
  private def constraintTarget(acc: AddCheckConstraint): LogicalPlan =
    acc.child match {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.child
      case other => other
    }

  /** `ON t.k = s.k` → the shared column name `k`. */
  private def equiJoinKeys(cond: Expression): Seq[String] =
    splitAnd(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        a.nameParts.last
      case other => throw new IllegalArgumentException(
        "supported MERGE condition: a conjunction of target.<key> = " +
          s"source.<key> same-name equalities (got $other)")
    }

  /** `INSERT INTO t SELECT …` → [[Snapshots.appendCommit]]: the batch is
    * z-ordered on the table's stats columns, staged OUTSIDE the table, and
    * committed as a new version — base files never touched or rescanned,
    * a crash leaves only unreferenced files (the atomic-append contract).
    * `INSERT OVERWRITE` is rejected: on a versioned lake table the
    * replace-everything semantic is a delete+insert the caller must spell
    * out (an accidental OVERWRITE at 100 TB is not a typo to forgive). */
  private def runInsert(hs: Heads, ins: InsertIntoStatement): Seq[Long] = {
    val spark = hs.spark
    val (_, spec) = lookup(ins.table).get
    require(!ins.overwrite,
      "INSERT OVERWRITE is not supported on a versioned lake table — " +
        "spell out DELETE + INSERT (or use the DataFrame API)")
    require(ins.partitionSpec.isEmpty,
      "supported form: INSERT INTO <table> [(column list)] <query> " +
        "(no partition spec)")
    val h = hs(spec)
    val declared = h.schema
    val engineCols = declared.map(_.fields.filter(f =>
      f.metadata.contains(IdentityStartKey) ||
        f.metadata.contains(GenerationKey)).toSeq).getOrElse(Seq.empty)
    if (engineCols.isEmpty && ins.userSpecifiedCols.isEmpty) {
      val aligned = alignedPhysicalBatch(hs, spec, ins.query)
      val (version, files) = Snapshots.appendCommit(spark, aligned, spec.cols,
        spec.path, h, spec.nFiles, None, Seq.empty, Seq.empty)
      return Seq(version.toLong, files.toLong)
    }
    // ENGINE-ASSIGNED columns (identity / generated): the batch supplies
    // only OTHER columns — GENERATED ALWAYS means an explicit value is
    // rejected, never silently overwritten (the Databricks contract). A
    // VALUES-shaped batch (anonymous col1/col2 names) maps positionally
    // onto the target columns in declared order. An explicit COLUMN LIST
    // narrows the target: omitted columns fill from their DEFAULT
    // ([[DefaultKey]]) when declared, typed NULL when nullable, and are
    // rejected loudly otherwise — the write-default contract.
    require(declared.nonEmpty,
      "INSERT with a column list needs a declared schema (CREATE TABLE) " +
        "— tables born from data (CTAS/CONVERT) take full-width batches")
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val src = GraftSqlBridge.ofRows(spark, resolveReads(hs, ins.query))
    val engineNames = engineCols.map(f => lower(f.name)).toSet
    val explicit = (src.columns.map(lower).toSet ++
      ins.userSpecifiedCols.map(lower)).intersect(engineNames)
    require(explicit.isEmpty,
      s"columns ${explicit.mkString(", ")} are GENERATED ALWAYS — the " +
        "engine assigns them; remove them from the INSERT batch")
    val userFields = declared.get.fields.filterNot(f =>
      engineNames(lower(f.name)))
    val targetFields: Seq[StructField] =
      if (ins.userSpecifiedCols.isEmpty) userFields.toSeq
      else {
        val byName = userFields.map(f => lower(f.name) -> f).toMap
        val names = ins.userSpecifiedCols.map(lower)
        require(names.distinct.size == names.size,
          s"INSERT column list repeats a column: ${names.mkString(", ")}")
        names.map(n => byName.getOrElse(n,
          throw new IllegalArgumentException(
            s"INSERT column '$n' is not an insertable column of the " +
              s"table (have ${userFields.map(_.name).mkString(", ")})")))
      }
    require(src.columns.length == targetFields.length,
      s"INSERT batch has ${src.columns.length} columns; the statement " +
        (if (ins.userSpecifiedCols.isEmpty)
          s"wants the ${targetFields.length} non-generated ones "
        else s"targets ${targetFields.length} ") +
        s"(${targetFields.map(_.name).mkString(", ")})")
    // An explicit COLUMN LIST assigns the source POSITIONALLY onto the
    // listed columns (standard SQL: INSERT INTO t (a, b) SELECT b, a
    // swaps the values) — by-name mapping applies only to the no-list
    // form, where a batch whose names exactly cover the insertable
    // columns is taken as a named record.
    val srcNames = src.columns.map(lower).toSet
    val named = ins.userSpecifiedCols.isEmpty &&
      targetFields.map(f => lower(f.name)).toSet == srcNames
    var out = if (named) src
      else src.toDF(targetFields.map(_.name).toIndexedSeq: _*)
    // fill the OMITTED insertable columns (column-list form only)
    val targetNames = targetFields.map(f => lower(f.name)).toSet
    userFields.filterNot(f => targetNames(lower(f.name))).foreach { f =>
      if (f.metadata.contains(DefaultKey))
        out = out.withColumn(f.name,
          org.apache.spark.sql.functions.expr(
            f.metadata.getString(DefaultKey)).cast(f.dataType))
      else {
        require(f.nullable,
          s"column '${f.name}' is NOT NULL and has no DEFAULT — the " +
            "INSERT column list must supply it")
        out = out.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType))
      }
    }
    // declared order, so positional mechanics downstream stay stable
    out = out.select(userFields.map(f =>
      org.apache.spark.sql.functions.col(f.name)).toIndexedSeq: _*)
    var hwm = Map.empty[String, String]
    engineCols.foreach { f =>
      if (f.metadata.contains(IdentityStartKey)) {
        val step = f.metadata.getLong(IdentityStepKey)
        val next = h.props.get(s"identity.next.${f.name}").map(_.toLong)
          .getOrElse(f.metadata.getLong(IdentityStartKey))
        val (assigned, after) =
          Snapshots.assignIdentity(out, f.name, f.dataType, next, step)
        out = assigned
        hwm += (s"identity.next.${f.name}" -> after.toString)
      } else
        // generated expression: computed over the batch's user columns
        out = out.withColumn(f.name,
          org.apache.spark.sql.functions.expr(
            f.metadata.getString(GenerationKey)).cast(f.dataType))
    }
    val aligned = alignedPhysicalFrame(spark, h, toPhysicalFrame(out, h.mapping))
    // the identity HIGH-WATER MARK rides the same atomic commit as the
    // data — a crash can never assign the same id range twice
    val markers = if (hwm.isEmpty) Seq.empty
      else Snapshots.Props.names(h.props ++ hwm)
    val (version, files) = Snapshots.appendCommit(spark, aligned, spec.cols,
      spec.path, h, spec.nFiles, None, markers, Seq.empty)
    Seq(version.toLong, files.toLong)
  }

  /** Resolve an INSERT-shaped source query and align it to the table's
    * physical schema — the SCHEMA-ON-WRITE gate (the Delta contract):
    * extra, missing, or incompatibly typed columns are rejected BEFORE
    * staging (validate-before-stage, the appendCommitChecked shape),
    * because a drifted batch would otherwise commit silently and later
    * reads would null-fill or drop columns depending on parquet footer
    * order. Safe upcasts are aligned in place; the projection also fixes
    * column ORDER to the table's, so footer order never varies by writer.
    * Shared by INSERT INTO and INSERT INTO … REPLACE WHERE. */
  private def alignedPhysicalBatch(hs: Heads, spec: LakeTableSpec,
                                   query: LogicalPlan): DataFrame =
    alignedPhysicalFrame(hs.spark, hs(spec), toPhysicalFrame(
      GraftSqlBridge.ofRows(hs.spark, resolveReads(hs, query)),
      hs(spec).mapping))

  /** Frame-level half of [[alignedPhysicalBatch]] — the batch is already
    * in PHYSICAL names; shared with COPY INTO. */
  private def alignedPhysicalFrame(spark: SparkSession, h: Snapshots.TableHead,
                                   batch0: DataFrame): DataFrame = {
    val headMap = h.mapping
    val visible = Snapshots.mappedTableAt(spark, h).schema
    // the batch is already physical; compare against the VISIBLE schema
    // translated to physical names (covers ADD-COLUMN-declared columns
    // the data files don't carry yet)
    val expect = org.apache.spark.sql.types.StructType(visible.fields.map(
      f => f.copy(name = headMap.fold(f.name)(m => m(f.name)))))
    // POSITIONAL adoption (the SQL standard for `INSERT … VALUES` and
    // anonymous selects, whose columns arrive as col1/col2/…): when the
    // batch's column-name SET shares nothing with the table's and the
    // arity matches, rename by position and let the per-column type gate
    // below do the rest. A batch whose names DO match the table keeps
    // strict name alignment — an out-of-order named SELECT never
    // silently transposes columns.
    val batchNames = batch0.columns
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val expectNames = expect.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val batch =
      if (batchNames.intersect(expectNames).isEmpty &&
          batch0.columns.length == expect.fields.length)
        batch0.toDF(expect.fieldNames.toIndexedSeq: _*)
      else batch0
    val bFields = batch.schema.fields.map(f =>
      f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    val eNames = expect.fields
      .map(_.name.toLowerCase(java.util.Locale.ROOT)).toSet
    val missing = eNames -- bFields.keySet
    val extra = bFields.keySet -- eNames
    require(missing.isEmpty && extra.isEmpty,
      s"INSERT batch schema drift: missing [${missing.mkString(", ")}], " +
        s"unexpected [${extra.mkString(", ")}] vs table schema " +
        s"[${expect.fieldNames.mkString(", ")}] — nothing committed " +
        "(evolve the schema through the DataFrame API explicitly)")
    batch.select(expect.fields.toIndexedSeq.map { f =>
      val bf = bFields(f.name.toLowerCase(java.util.Locale.ROOT))
      if (bf.dataType == f.dataType) col(bf.name).as(f.name)
      else if (org.apache.spark.sql.catalyst.expressions.Cast
          .canUpCast(bf.dataType, f.dataType) ||
        // the ANSI store-assignment contract (what Spark's own v2 writes
        // allow): covers the numeric-literal shapes VALUES produces —
        // DECIMAL(2,1) into DOUBLE — while still rejecting string→number
        // and other lossy coercions loudly
        org.apache.spark.sql.catalyst.expressions.Cast
          .canANSIStoreAssign(bf.dataType, f.dataType))
        col(bf.name).cast(f.dataType).as(f.name)
      else throw new IllegalArgumentException(
        s"INSERT column '${f.name}' arrives as ${bf.dataType.sql} but the " +
          s"table stores ${f.dataType.sql} and the cast is not a safe " +
          "upcast — nothing committed")
    }: _*)
  }

  private val warehouse =
    new java.util.concurrent.atomic.AtomicReference[Option[String]](None)

  /** Root dir under which CTAS-created tables live (`<warehouse>/<name>`)
    * unless the statement carries an explicit `LOCATION`. */
  def setWarehouse(dir: String): Unit = warehouse.set(Some(dir))

  private[sql] def warehouseDir: Option[String] = warehouse.get()

  /** `CREATE TABLE name [TBLPROPERTIES(...)] [LOCATION path] AS query` →
    * a NEW versioned lake table: the query result is z-ordered on the
    * `stats_cols` table property (REQUIRED — it is the table's prune/
    * merge-key domain; a lake table without stats columns cannot serve
    * pruned DML), committed as v1, and registered for every other
    * statement. `IF NOT EXISTS` on an existing table is a no-op (version 0
    * metrics row); a bare CREATE on an existing table is an error. */
  private def runCtas(hs: Heads, cts: CreateTableAsSelect): DataFrame = {
    val spark = hs.spark
    val name = cts.name match {
      case UnresolvedIdentifier(Seq(n), _) =>
        n.toLowerCase(java.util.Locale.ROOT)
      case other => throw new IllegalArgumentException(
        s"CTAS wants a single-part table name, got $other")
    }
    require(cts.partitioning.isEmpty,
      "CTAS with PARTITIONED BY is not supported — the lake layout is " +
        "z-ordered on stats_cols instead")
    val (props, location) = cts.tableSpec match {
      case ts: UnresolvedTableSpec => (ts.properties, ts.location)
      case other => throw new IllegalArgumentException(
        s"unsupported CTAS table spec: $other")
    }
    val root = location.orElse(warehouse.get().map(w => s"$w/$name"))
      .getOrElse(throw new IllegalArgumentException(
        "CTAS needs a LOCATION clause or LakeSql.setWarehouse(dir)"))
    val spec = LakeTableSpec(s"$root/z", s"$root/m",
      props.getOrElse("stats_cols", throw new IllegalArgumentException(
        "CTAS needs TBLPROPERTIES('stats_cols'='c1,c2,...') — the " +
          "table's prune/merge-key domain")).split(",").map(_.trim).toSeq,
      props.get("files").map(_.toInt).getOrElse(8))
    val exists = registry.contains(name) ||
      Snapshots.versions(spark, spec.manifestRoot).nonEmpty
    if (exists) {
      if (cts.ignoreIfExists)
        return metricsRow(spark, Seq("version" -> 0L, "files" -> 0L))
      throw new IllegalArgumentException(
        s"lake table '$name' already exists (use IF NOT EXISTS)")
    }
    val df = GraftSqlBridge.ofRows(spark, resolveReads(hs, cts.query))
    val missing = spec.cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"stats_cols ${missing.mkString(", ")} not in the CTAS query's " +
        s"columns (${df.columns.mkString(", ")})")
    Layout.zorderWrite(df, spec.cols, spec.path, spec.nFiles)
    val version = Snapshots.commit(spark,
      Layout.buildManifest(spark, spec.path, spec.cols), spec.manifestRoot)
    register(name, spec)
    metricsRow(spark, Seq("version" -> version.toLong,
      "files" -> spec.nFiles.toLong))
  }

  /** `CREATE OR REPLACE TABLE name [TBLPROPERTIES(...)] AS query` — the
    * Delta REPLACE contract: on an EXISTING lake table, one atomic commit
    * supersedes the whole content with the query's rows (stats columns
    * re-declarable via `stats_cols`); every pinned pre-replace version
    * stays time-travelable until vacuum, because replace is a HISTORY
    * EVENT on the same version log, never a wipe. On a missing table it
    * is plain CTAS (that is what OR REPLACE means — `REPLACE TABLE`
    * without it requires existence). Refused loudly under column mapping
    * or CHECK constraints: those contracts ride version markers that
    * would silently re-apply to the replaced schema. */
  private[sql] def runReplaceTas(hs: Heads,
                                 rts: ReplaceTableAsSelect): DataFrame = {
    val spark = hs.spark
    val name = rts.name match {
      case UnresolvedIdentifier(Seq(n), _) =>
        n.toLowerCase(java.util.Locale.ROOT)
      case other => throw new IllegalArgumentException(
        s"REPLACE TABLE wants a single-part table name, got $other")
    }
    require(rts.partitioning.isEmpty,
      "REPLACE TABLE with PARTITIONED BY is not supported — the lake " +
        "layout is z-ordered on stats_cols instead")
    val props = rts.tableSpec match {
      case ts: UnresolvedTableSpec => ts.properties
      case other => throw new IllegalArgumentException(
        s"unsupported REPLACE TABLE table spec: $other")
    }
    registry.get(name) match {
      case None =>
        require(rts.orCreate,
          s"REPLACE TABLE: lake table '$name' does not exist " +
            "(use CREATE OR REPLACE TABLE)")
        runCtas(hs, CreateTableAsSelect(rts.name, rts.partitioning,
          rts.query, rts.tableSpec, rts.writeOptions, ignoreIfExists = false))
      case Some(spec0) =>
        val h = hs(spec0)
        require(h.mapping.isEmpty,
          s"REPLACE TABLE '$name' under a column mapping is not supported " +
            "— the mapping markers would re-apply to the new schema; " +
            "DROP and recreate instead")
        require(h.checks.isEmpty,
          s"REPLACE TABLE '$name' with CHECK constraints in force is not " +
            "supported — drop the constraints first (they would silently " +
            "gate the new schema)")
        val statsCols = props.get("stats_cols")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(spec0.cols)
        val df = GraftSqlBridge.ofRows(spark, resolveReads(hs, rts.query))
        val missing = statsCols.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"stats_cols ${missing.mkString(", ")} not in the REPLACE " +
            s"query's columns (${df.columns.mkString(", ")})")
        val nFiles = props.get("files").map(_.toInt).getOrElse(spec0.nFiles)
        val (version, files) = Snapshots.replaceCommit(spark, df, statsCols,
          spec0.path, spec0.manifestRoot, nFiles)
        register(name, spec0.copy(cols = statsCols, nFiles = nFiles))
        metricsRow(spark, Seq("version" -> version.toLong,
          "files" -> files.toLong))
    }
  }

  /** Parser-level claim for `CREATE OR REPLACE TABLE t USING lake … AS
    * query` (the [[claimableCreate]] discipline applied to RTAS): plain
    * `spark.sql` replaces through the same commit path as the front
    * door. */
  private[sql] def claimableReplace(rts: ReplaceTableAsSelect): Boolean =
    (rts.name match {
      case UnresolvedIdentifier(parts, _) => parts.size == 1
      case _ => false
    }) && (rts.tableSpec match {
      case ts: UnresolvedTableSpec =>
        ts.provider.exists(_.equalsIgnoreCase("lake"))
      case _ => false
    })

  /** Is this CreateTable ours to claim? Single-part name + `USING lake`
    * — the front-door / parser-level path. Catalog-qualified names
    * (`lake.db.t`) are NOT claimed: Spark routes those to the
    * [[LakeCatalog]]'s own createTable. */
  private[sql] def claimableCreate(ct: CreateTable): Boolean =
    (ct.name match {
      // one- or two-part names (`t`, `db.t` — the form SHOW CREATE
      // prints for catalog tables); THREE-part names are never claimed,
      // Spark routes them to the named catalog itself
      case UnresolvedIdentifier(parts, _) => parts.size <= 2
      case _ => false
    }) && (ct.tableSpec match {
      case ts: UnresolvedTableSpec =>
        ts.provider.exists(_.equalsIgnoreCase("lake"))
      case _ => false
    })

  /** Declared-schema metadata keys for column contracts ([[runCreate]]). */
  private[sql] val IdentityStartKey = "graft.identity.start"
  private[sql] val IdentityStepKey = "graft.identity.step"
  private[sql] val GenerationKey = "graft.generation.expr"
  private[sql] val DefaultKey = "graft.default.expr"

  /** Validate a column DEFAULT expression (CREATE TABLE column clause or
    * `ALTER COLUMN … SET DEFAULT`): it must be CONSTANT — no column
    * references (that is what GENERATED ALWAYS AS is for) — and castable
    * to the column's declared type. Both checked at DDL time with
    * driver-side analysis only, so a bad default fails the statement
    * loudly instead of the first INSERT that trips over it. */
  private def validateDefault(spark: SparkSession, colName: String,
                              dt: org.apache.spark.sql.types.DataType,
                              sql: String): Unit = {
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    require(parsed.references.isEmpty,
      s"column '$colName': DEFAULT must be a constant expression " +
        s"(got '$sql', which references ${parsed.references.mkString(", ")})" +
        " — a column-derived value is GENERATED ALWAYS AS, not DEFAULT")
    // analysis-only castability probe (no job): resolve CAST(expr AS type)
    spark.sql(s"SELECT CAST(($sql) AS ${dt.sql})").queryExecution.analyzed
  }

  /** Plain `CREATE TABLE t (cols…) USING lake TBLPROPERTIES
    * ('stats_cols' = '…', …)` — a table that exists BEFORE any data
    * ([[Snapshots.createEmptyTable]]): v1 is a typed empty manifest plus
    * the declared schema as a table property, so schema-on-write and the
    * typed DML predicate compiler work from the first INSERT. This is
    * the statement [[ShowCreateRe]] emits — SHOW CREATE TABLE output
    * round-trips through here. Layout from `LOCATION` (or the
    * warehouse), overridable per-half via `data_dir`/`manifest_dir`
    * properties. */
  private[sql] def runCreate(spark: SparkSession, ct: CreateTable): DataFrame = {
    val name = ct.name match {
      case UnresolvedIdentifier(parts, _) if parts.size <= 2 =>
        parts.map(_.toLowerCase(java.util.Locale.ROOT)).mkString(".")
      case other => throw new IllegalArgumentException(
        s"CREATE TABLE wants a one- or two-part table name here, got " +
          s"$other (catalog-qualified tables go through the lake catalog)")
    }
    // CLUSTER BY (Spark's own clause) persists the keys as table state
    // ([[ClusterByProp]]) — the liquid-clustering contract: a later plain
    // OPTIMIZE re-clusters only the unclustered increment. PARTITIONED BY
    // stays rejected (the lake layout is clustered, not hive-partitioned).
    val clusterCols: Seq[String] = ct.partitioning.toSeq match {
      case Seq() => Seq.empty
      case Seq(org.apache.spark.sql.connector.expressions
          .ClusterByTransform(refs)) =>
        refs.map(_.fieldNames.mkString(".")
          .toLowerCase(java.util.Locale.ROOT))
      case _ => throw new IllegalArgumentException(
        "CREATE TABLE with PARTITIONED BY is not supported — the lake " +
          "layout is clustered (CLUSTER BY / z-ordered stats_cols) instead")
    }
    val (props0, location) = ct.tableSpec match {
      case ts: UnresolvedTableSpec => (ts.properties, ts.location)
      case other => throw new IllegalArgumentException(
        s"unsupported CREATE TABLE table spec: $other")
    }
    val props =
      if (clusterCols.isEmpty) props0
      else props0 + (ClusterByProp -> clusterCols.mkString(","))
    // layout: explicit data_dir/manifest_dir properties win (the SHOW
    // CREATE round-trip form); otherwise derive from LOCATION or the
    // session warehouse
    def root: String = location
      .orElse(warehouse.get().map(w => s"$w/${name.replace('.', '/')}"))
      .getOrElse(throw new IllegalArgumentException(
        "CREATE TABLE needs a LOCATION clause, data_dir/manifest_dir " +
          "properties, or LakeSql.setWarehouse(dir)"))
    val statsCols = props.getOrElse("stats_cols",
      throw new IllegalArgumentException(
        "CREATE TABLE needs TBLPROPERTIES('stats_cols'='c1,c2,...') — " +
          "the table's prune/merge-key domain"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val badCluster = clusterCols.filterNot(statsCols.contains)
    require(badCluster.isEmpty,
      s"CLUSTER BY columns must carry manifest stats (stats_cols has " +
        s"${statsCols.mkString(", ")}; missing ${badCluster.mkString(", ")})")
    val spec = LakeTableSpec(
      props.getOrElse("data_dir", s"$root/z"),
      props.getOrElse("manifest_dir", s"$root/m"),
      statsCols, props.get("files").map(_.toInt).getOrElse(8))
    val exists = registry.contains(name) ||
      Snapshots.versions(spark, spec.manifestRoot).nonEmpty
    if (exists) {
      if (ct.ignoreIfExists)
        return metricsRow(spark, Seq("version" -> 0L))
      throw new IllegalArgumentException(
        s"lake table '$name' already exists (use IF NOT EXISTS)")
    }
    // Column contracts ride the declared schema's field METADATA (which
    // survives the schema JSON round-trip): NOT NULL as nullable=false,
    // `GENERATED ALWAYS AS IDENTITY (START WITH s INCREMENT BY k)` as
    // identity start/step, `GENERATED ALWAYS AS (expr)` as the expression
    // text. Identity/generated columns are implicitly engine-assigned:
    // INSERT batches must not supply them ([[runInsert]]).
    val schema = StructType(ct.columns.map { c =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      c.identityColumnSpec.foreach { is =>
        require(!is.isAllowExplicitInsert,
          s"column '${c.name}': GENERATED BY DEFAULT AS IDENTITY is not " +
            "supported — use GENERATED ALWAYS (engine-assigned, " +
            "deterministic)")
        require(is.getStep != 0, s"column '${c.name}': IDENTITY step 0")
        mb.putLong(IdentityStartKey, is.getStart)
        mb.putLong(IdentityStepKey, is.getStep)
      }
      c.generationExpression.foreach(g => mb.putString(GenerationKey, g))
      require(c.identityColumnSpec.isEmpty || c.generationExpression.isEmpty,
        s"column '${c.name}' cannot be both identity and generated")
      // DEFAULT <constant>: fills the column when an INSERT's column list
      // omits it ([[runInsert]]) — write-time only, the Delta WRITE-default
      // contract (existing rows are untouched; there is no existence
      // default because the lake null-fills unmaterialized columns).
      c.defaultValue.foreach { dv =>
        require(c.identityColumnSpec.isEmpty && c.generationExpression.isEmpty,
          s"column '${c.name}': DEFAULT cannot combine with identity/" +
            "generated (those are engine-assigned on every row)")
        validateDefault(spark, c.name, c.dataType, dv.originalSQL)
        mb.putString(DefaultKey, dv.originalSQL)
      }
      StructField(c.name.toLowerCase(java.util.Locale.ROOT), c.dataType,
        c.nullable && c.identityColumnSpec.isEmpty, mb.build())
    })
    val keep = props -- Seq("data_dir", "manifest_dir")
    val version = Snapshots.createEmptyTable(spark, spec.manifestRoot,
      schema, statsCols,
      keep ++ Map("data_dir" -> spec.path,
        "manifest_dir" -> spec.manifestRoot))
    register(name, spec)
    metricsRow(spark, Seq("version" -> version.toLong))
  }

  /** `UPDATE t SET c = expr, … WHERE <stats box>` →
    * [[Snapshots.updateWhere]]: the WHERE compiles to the manifest-stats
    * box (file-pruned touch set), assignment right-hand sides re-enter the
    * DataFrame API as unresolved columns and resolve against the live
    * rows. An UPDATE without WHERE is rejected — unscoped it is a
    * full-table rewrite the caller must spell out via the DataFrame API. */
  private def runUpdate(hs: Heads, u: UpdateTable): Seq[Long] = {
    val (_, spec) = lookup(u.table).get
    val h = hs(spec)
    requireDmlClearance(hs.spark, h, "UPDATE")
    val mapping = h.mapping
    val cond = u.condition.getOrElse(throw new IllegalArgumentException(
      "UPDATE needs a WHERE over stats columns — unscoped it must rewrite " +
        "every file of the table"))
    val assignments = u.assignments.map {
      case Assignment(k: UnresolvedAttribute, v) =>
        // assignment target AND every column its RHS reads are logical
        // names — both sides route through the mapping (the RHS resolves
        // against the PHYSICAL live rows)
        physicalName(k.nameParts.last, mapping, "UPDATE target") ->
          GraftSqlBridge.column(
            mapping.fold(v)(m => toPhysicalExpr(v, m)))
      case other => throw new IllegalArgumentException(
        s"unsupported UPDATE assignment target: $other")
    }.toMap
    val (prune, pred) = compileWhere(cond, spec, mapping, Some(hs))
    // `TBLPROPERTIES ('update.mode' = 'mor')` flips the table to
    // merge-on-read updates: mask the matched rows, append only their
    // updated versions — O(matched rows), never a touched-file rewrite
    if (h.props.get("update.mode").exists(_.equalsIgnoreCase("mor"))) {
      val r = Snapshots.updateWhereMoRPred(hs.spark, spec.path, h, spec.cols,
        prune, pred, assignments, spec.nFiles)
      Seq(0L, r.filesTotal, r.rowsUpdated, r.filesMasked, r.filesAppended)
    } else {
      val r = Snapshots.updateWherePred(hs.spark, spec.path, h, spec.cols,
        prune, pred, assignments)
      Seq(r.filesRewritten, r.filesTotal, r.rowsUpdated, 0L, 0L)
    }
  }

  // ------------------------------------------ predicate → (prune, residual)

  /** Compile a WHERE conjunction into the (manifest-prune, exact row
    * predicate) pair [[Snapshots.deleteWherePred]]/[[Snapshots.updateWherePred]]
    * execute: the prune expression over-selects touched files from the
    * manifest's native-typed `min_`/`max_` stats (strings prune on lexical
    * bounds — the q153 machinery; dates/timestamps natively; numerics in
    * their OWN type, so a 64-bit key never round-trips through double),
    * and the row predicate is the WHERE itself, re-entered through the
    * DataFrame API — exact by construction, so pruning only has to be a
    * superset. Pruning conjuncts: `col {=,<,<=,>,>=} literal` (either
    * operand order), `col IN (literals)`, and prefix-only `col LIKE 'p%'`.
    * Other conjuncts ride along as row-level residual — but at least ONE
    * conjunct must prune, or the statement is rejected loudly: at 100 TB a
    * DML no stats can prune is a full-table rewrite the caller must opt
    * into via the DataFrame API.
    *
    * SUBQUERY predicates (when `subEval` carries the statement's heads): an
    * uncorrelated scalar subquery folds to a literal ONCE (so the prune
    * and the row predicate see the same value — the watermark-delete
    * shape `WHERE d > (SELECT max(d) FROM w)`); `col IN (SELECT …)`
    * prunes on the subquery's [min, max] bounds (one 2-scalar agg —
    * any matching row's stats box must intersect that interval) and the
    * row side stays the subquery itself, which Catalyst rewrites into a
    * semi-join on the touched rows — the key-list never collects to the
    * driver. NOT IN / EXISTS ride as residuals (no interval can bound
    * "absent" or a correlated condition) and need a prunable companion
    * conjunct, same contract as any residual. */
  private[graft] def compileWhere(cond: Expression, spec: LakeTableSpec,
                                  mapping: Option[Map[String, String]] = None,
                                  subEval: Option[Heads] = None): (Column, Column) = {
    // BETWEEN arrives from the parser as the unresolved `between`
    // function (the analyzer would rewrite it later — this path runs
    // pre-analysis); desugar to the >= AND <= pair so both halves
    // participate in the prune/residual split like any other conjunct
    val cond0 = cond.transformUp {
      case org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
          Seq(fn), Seq(c, lo, hi), false, _, _, _, _)
          if fn.equalsIgnoreCase("between") =>
        And(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))
    }
    // fold uncorrelated scalar subqueries to literals ONCE, before the
    // prune/residual split, so both halves see the identical value
    val folded = subEval match {
      case Some(hs) => cond0.transformUp {
        case sq: ScalarSubquery =>
          val df = GraftSqlBridge.ofRows(hs.spark, resolveReads(hs, sq.plan))
          require(df.columns.length == 1,
            s"scalar subquery must return ONE column, got " +
              df.columns.mkString(", "))
          val rows = df.limit(2).collect()
          require(rows.length <= 1,
            "scalar subquery returned more than one row")
          Literal.create(if (rows.isEmpty) null else rows(0).get(0),
            df.schema.fields(0).dataType)
      }
      case None => cond0
    }
    // native stats types (when the heads are available): cross-type
    // literal conjuncts whose coercion is not stats-monotone are refused
    // a prune term — they ride as row residual or reject loudly below
    val natTypes = subEval.map(statsNativeTypes(_, spec))
    val prunes = splitAnd(folded).flatMap(c =>
      pruneOf(c, spec, mapping, subEval, natTypes))
    require(prunes.nonEmpty,
      "DML WHERE has no conjunct the manifest stats can prune (need " +
        "<stats col> {=,<,<=,>,>=} <literal>, IN (literals or subquery), " +
        "or prefix LIKE over " +
        s"stats cols ${spec.cols.mkString(", ")}) — unpruned it is a " +
        s"full-table rewrite; use the DataFrame API to opt in. WHERE: $cond")
    // row predicate: the WHERE itself, with attribute qualifiers stripped
    // (it resolves against the bare live-rows frame, where `t.id` has no
    // `t` to bind to) and logical names routed through the column mapping.
    // Subquery plans resolve their lake reads here; expression transform
    // does NOT descend into them, so inner attributes stay untouched.
    val mapped = folded.transform {
      case a: UnresolvedAttribute => UnresolvedAttribute(Seq(
        physicalName(a.nameParts.last, mapping, "predicate column")))
    }
    val rowPred = GraftSqlBridge.column(subEval match {
      case Some(hs) => mapped.transform {
        case q: ListQuery => q.copy(plan = resolveReads(hs, q.plan))
        case e: Exists => e.copy(plan = resolveReads(hs, e.plan))
      }
      case None => mapped
    })
    (prunes.reduce(_ && _), rowPred)
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Native type of each stats column, from the statement head's
    * manifest `min_` field schema — a footer-only, file-count-bounded
    * metadata read. */
  private def statsNativeTypes(hs: Heads,
                               spec: LakeTableSpec): Map[String, DataType] =
    Snapshots.manifestAt(hs.spark, hs(spec))
      .schema.fields.iterator.filter(_.name.startsWith("min_"))
      .map(f => f.name.stripPrefix("min_") -> f.dataType).toMap

  /** Soundness gate for a stats-box comparison against a literal of type
    * `lt`: Spark coerces cross-type comparisons, and a cast applied to
    * the STATS side is sound only when it is (weakly) MONOTONE w.r.t. the
    * native order the min_/max_ stats were computed in. String stats
    * compared to a numeric literal coerce the LEXICAL min/max to doubles
    * — not monotone ("99" is a lexical max but not a numeric one) — so an
    * unchecked cover drops files that still hold surviving rows (silent
    * data loss) and an unchecked prune skips files that need a rewrite
    * (silent missed deletes). Allowed: identical types; numeric↔numeric
    * (common-type widening is weakly monotone, incl. long→double
    * rounding); datetime↔datetime; numeric-or-datetime stats vs STRING
    * literal (the coercion casts the LITERAL side — string vs numeric
    * compares both as double, but numeric→double stays monotone; string
    * vs date/timestamp casts the string); null literal (matches nothing
    * on either side). `types = None` means the caller vouches (the
    * unit-test back door — every DML front door passes the manifest
    * schema); an UNKNOWN column under `Some` rejects. */
  private def statLitOk(types: Option[Map[String, DataType]],
                        c: String, lt: DataType): Boolean = types match {
    case None => true
    case Some(m) => m.get(c).exists { st =>
      (st, lt) match {
        case (a, b) if a == b => true
        case (_, NullType) => true
        case (_: NumericType, _: NumericType) => true
        case (_: NumericType, StringType) => true
        case (DateType | TimestampType | TimestampNTZType,
              DateType | TimestampType | TimestampNTZType) => true
        case (DateType | TimestampType | TimestampNTZType, StringType) =>
          true
        case _ => false
      }
    }
  }

  /** LIKE prunes/covers reason over the LEXICAL order of the stats, so
    * the stored stats must BE strings — LIKE over a numeric column casts
    * the column to string, and numeric→string is not monotone. */
  private def likeStatsOk(types: Option[Map[String, DataType]],
                          c: String): Boolean =
    types.forall(_.get(c).contains(StringType))

  /** The manifest-prune contribution of one conjunct, or None when it can
    * only serve as row residual. Literals stay in their parsed Catalyst
    * type ([[GraftSqlBridge.column]]), so the stats comparison coerces by
    * Spark's own (monotone) rules — a file is pruned only when NO value
    * in its [min,max] can satisfy the comparison. */
  private def pruneOf(e: Expression, spec: LakeTableSpec,
                      mapping: Option[Map[String, String]],
                      subEval: Option[Heads] = None,
                      types: Option[Map[String, DataType]] = None)
      : Option[Column] = {
    // physical stats-column name, or None when the conjunct's column has
    // no manifest stats OR the literal's coercion is not stats-monotone
    // ([[statLitOk]]) — either way the conjunct is residual-only
    def stats(a: UnresolvedAttribute, lt: DataType): Option[String] = {
      val phys = physicalName(a.nameParts.last, mapping, "predicate column")
      if (spec.cols.contains(phys) && statLitOk(types, phys, lt)) Some(phys)
      else None
    }
    def l(v: Literal): Column = GraftSqlBridge.column(v)
    e match {
      case EqualTo(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType)
          .map(c => col(s"min_$c") <= l(v) && col(s"max_$c") >= l(v))
      case EqualTo(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType)
          .map(c => col(s"min_$c") <= l(v) && col(s"max_$c") >= l(v))
      case LessThan(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType).map(c => col(s"min_$c") < l(v))
      case GreaterThan(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType).map(c => col(s"min_$c") < l(v))
      case LessThanOrEqual(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType).map(c => col(s"min_$c") <= l(v))
      case GreaterThanOrEqual(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType).map(c => col(s"min_$c") <= l(v))
      case GreaterThan(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType).map(c => col(s"max_$c") > l(v))
      case LessThan(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType).map(c => col(s"max_$c") > l(v))
      case GreaterThanOrEqual(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType).map(c => col(s"max_$c") >= l(v))
      case LessThanOrEqual(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType).map(c => col(s"max_$c") >= l(v))
      case In(a: UnresolvedAttribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) &&
            vs.forall { case v: Literal =>
              stats(a, v.dataType).isDefined } =>
        // per-value point intersects, OR'd: a file survives if ANY listed
        // value falls inside its stats box (null list entries contribute
        // null terms, which match no file on their own — sound, since a
        // null never matches a row either). EVERY listed value must pass
        // the type gate — one lexically-unsound term poisons the OR.
        stats(a, vs.head.asInstanceOf[Literal].dataType)
          .map(c => vs.map { case v: Literal =>
            col(s"min_$c") <= l(v) && col(s"max_$c") >= l(v)
          }.reduce(_ || _))
      case Like(a: UnresolvedAttribute, Literal(p: UTF8String, StringType), _)
          if isPrefixPattern(p.toString) =>
        // 'p%' — lexical prefix range: every match s has s >= p, and
        // prefix-truncation is monotone, so substring(min, |p|) <= p.
        // Sound only over NATIVE string stats ([[likeStatsOk]]).
        val prefix = p.toString.dropRight(1)
        stats(a, StringType).filter(c => likeStatsOk(types, c))
          .map(c => col(s"max_$c") >= lit(prefix) &&
            substring(col(s"min_$c"), 1, prefix.length) <= lit(prefix))
      case InSubquery(Seq(a: UnresolvedAttribute), q: ListQuery) =>
        // interval prune: any row matching the IN lives inside the
        // subquery's [min, max], so a file whose stats box misses that
        // interval is provably untouched. ONE 2-scalar agg over the
        // subquery — the key list itself never reaches the driver; the
        // row side keeps the subquery (Catalyst semi-join rewrite).
        subEval match {
          case Some(hs) =>
            val sub = GraftSqlBridge.ofRows(hs.spark, resolveReads(hs, q.plan))
            require(sub.columns.length == 1,
              s"IN subquery must return ONE column, got " +
                sub.columns.mkString(", "))
            // the interval bounds become literals of the SUBQUERY
            // column's type — same monotone-coercion gate as a literal
            stats(a, sub.schema.fields(0).dataType) match {
              case None => None
              case Some(c) =>
            val mm = sub.agg(min(col(sub.columns(0))).as("lo"),
              max(col(sub.columns(0))).as("hi")).head()
                if (mm.isNullAt(0)) Some(lit(false)) // empty list: no match
                else Some(col(s"min_$c") <= lit(mm.get(1)) &&
                  col(s"max_$c") >= lit(mm.get(0)))
            }
          case _ => None
        }
      case _ => None
    }
  }

  /** literal-prefix-then-% patterns only (no mid-pattern wildcards). */
  private def isPrefixPattern(p: String): Boolean =
    p.nonEmpty && p.endsWith("%") &&
      !p.dropRight(1).exists(ch => ch == '%' || ch == '_' || ch == '\\')

  // ------------------------------------------- predicate → whole-file cover

  /** Compile the WHERE into the WHOLE-FILE DROP proof
    * [[Snapshots.deleteWherePred]] takes as `cover`: a manifest-side
    * expression true only when a file's stats PROVE every non-null row
    * satisfies the predicate, plus the stats columns whose footer null
    * counts must be zero to complete it (a null-predicate row survives a
    * DELETE, so one null in the file forbids the drop). The proof exists
    * only when EVERY conjunct covers — one residual conjunct means some
    * rows of a covered file might survive, so the whole statement falls
    * back to the rewrite path. Subqueries disable it outright: the prune
    * side folds them exactly once, and re-evaluating here could see a
    * different value. Pure optimization by contract: `pred` still decides
    * which rows die; a None here only costs a rewrite, never correctness. */
  private[graft] def compileCover(cond: Expression, spec: LakeTableSpec,
                                  mapping: Option[Map[String, String]] = None,
                                  typeEval: Option[Heads] = None)
      : Option[(Column, Seq[String])] = {
    val hasSubquery = cond.exists {
      case _: ScalarSubquery | _: ListQuery | _: Exists => true
      case _ => false
    }
    if (hasSubquery) return None
    val natTypes = typeEval.map(statsNativeTypes(_, spec))
    val parts = splitAnd(cond).map(c => coverOf(c, spec, mapping, natTypes))
    if (parts.exists(_.isEmpty)) None
    else {
      val cs = parts.flatten
      Some((cs.map(_._1).reduce(_ && _), cs.flatMap(_._2).distinct))
    }
  }

  /** One conjunct's whole-file cover, or None when its stats can't prove
    * "every non-null row matches". Dual of [[pruneOf]]: prune asks "can
    * ANY value in [min,max] match" (over-selects files to touch), cover
    * asks "does EVERY value in [min,max] match" (under-selects files to
    * drop) — both lean on the same monotone-coercion contract. */
  private def coverOf(e: Expression, spec: LakeTableSpec,
                      mapping: Option[Map[String, String]],
                      types: Option[Map[String, DataType]] = None)
      : Option[(Column, Seq[String])] = {
    // stats-column name, gated by the same monotone-coercion contract as
    // [[pruneOf]] — here an unsound cast DROPS files with surviving rows
    // (the ADVICE r14 silent-data-loss shape: string stats {"99","300"},
    // cover max_s < 200 casts lexical-max "99" → 99 < 200, file dropped,
    // row "300" dies though 300 < 200 is false), so a gate failure must
    // fall back to the rewrite path, never cover.
    def stats(a: UnresolvedAttribute, lt: DataType): Option[String] = {
      val phys = physicalName(a.nameParts.last, mapping, "predicate column")
      if (spec.cols.contains(phys) && statLitOk(types, phys, lt)) Some(phys)
      else None
    }
    def l(v: Literal): Column = GraftSqlBridge.column(v)
    def mk(c: String, cov: Column) = (cov, Seq(c))
    e match {
      case EqualTo(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType).map(c => mk(c,
          col(s"min_$c") === l(v) && col(s"max_$c") === l(v)))
      case EqualTo(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType).map(c => mk(c,
          col(s"min_$c") === l(v) && col(s"max_$c") === l(v)))
      case LessThan(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType).map(c => mk(c, col(s"max_$c") < l(v)))
      case GreaterThan(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType).map(c => mk(c, col(s"max_$c") < l(v)))
      case LessThanOrEqual(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType).map(c => mk(c, col(s"max_$c") <= l(v)))
      case GreaterThanOrEqual(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType).map(c => mk(c, col(s"max_$c") <= l(v)))
      case GreaterThan(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType).map(c => mk(c, col(s"min_$c") > l(v)))
      case LessThan(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType).map(c => mk(c, col(s"min_$c") > l(v)))
      case GreaterThanOrEqual(a: UnresolvedAttribute, v: Literal) =>
        stats(a, v.dataType).map(c => mk(c, col(s"min_$c") >= l(v)))
      case LessThanOrEqual(v: Literal, a: UnresolvedAttribute) =>
        stats(a, v.dataType).map(c => mk(c, col(s"min_$c") >= l(v)))
      case In(a: UnresolvedAttribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) &&
            vs.forall { case v: Literal =>
              stats(a, v.dataType).isDefined } =>
        // single-valued file whose one value is listed — conservative,
        // but exactly the shape a category-partitioned layout produces
        stats(a, vs.head.asInstanceOf[Literal].dataType)
          .map(c => mk(c, col(s"min_$c") === col(s"max_$c") &&
            col(s"min_$c").isin(vs.map { case v: Literal =>
              GraftSqlBridge.column(v) }: _*)))
      case Like(a: UnresolvedAttribute, Literal(p: UTF8String, StringType), _)
          if isPrefixPattern(p.toString) =>
        // both bounds carry the prefix ⇒ every string between them does
        // (the first |p| chars are pinned by the lexical order) — native
        // string stats only ([[likeStatsOk]])
        val prefix = p.toString.dropRight(1)
        stats(a, StringType).filter(c => likeStatsOk(types, c))
          .map(c => mk(c,
            substring(col(s"min_$c"), 1, prefix.length) === lit(prefix) &&
              substring(col(s"max_$c"), 1, prefix.length) === lit(prefix)))
      case _ => None
    }
  }

  // ------------------------------------------------------------- plumbing

  @tailrec
  private def stripAlias(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, child) => stripAlias(child)
    case other => other
  }

  /** Registry key of a multi-part identifier: single-part names key
    * verbatim; `db.t` keys dotted (only a [[LakeCatalog]] registers such
    * keys); `cat.db.t` strips a registered lake CATALOG name first, so
    * the catalog-qualified and catalog-relative spellings address the
    * same entry. Anything else is not ours. */
  private[sql] def registryName(parts: Seq[String]): Option[String] = {
    val lower = parts.map(_.toLowerCase(java.util.Locale.ROOT))
    lower match {
      case Seq(n) => Some(n)
      case Seq(db, t) => Some(s"$db.$t")
      case Seq(cat, db, t) if LakeCatalog.isLakeCatalog(cat) =>
        Some(s"$db.$t")
      case _ => None
    }
  }

  /** Registry key of a relation-naming node, if it is one. */
  private def singlePartName(p: LogicalPlan): Option[String] = {
    val parts = stripAlias(p) match {
      case ur: UnresolvedRelation => Some(ur.multipartIdentifier)
      case ut: UnresolvedTable => Some(ut.multipartIdentifier) // ALTER target
      case ui: UnresolvedIdentifier => Some(ui.nameParts) // DROP TABLE target
      case utv: UnresolvedTableOrView => Some(utv.multipartIdentifier) // DESCRIBE
      case _ => None
    }
    parts.flatMap(registryName)
  }

  private def lookup(p: LogicalPlan): Option[(String, LakeTableSpec)] =
    singlePartName(p).flatMap(name => registry.get(name).map(name -> _))

  /** Registry access for sibling SQL-surface modules ([[ApplyChanges]]). */
  private[sql] def specOf(name: String): Option[LakeTableSpec] =
    registry.get(name.toLowerCase(java.util.Locale.ROOT))

  /** The result cache's CACHEABILITY classification of a parsed read
    * plan: Some(every referenced lake table) when EVERY leaf relation —
    * subquery plans included — is either an in-scope CTE reference or a
    * registered, un-shadowed lake table; None (uncacheable) the moment
    * any leaf is a temp view, catalog table, or unknown name, because a
    * non-versioned input has no invalidation signal.
    *
    * CTE names are resolved SCOPE-AWARE — a name only counts as a CTE
    * reference where its defining [[UnresolvedWith]] is an ancestor
    * (each CTE body additionally sees the CTEs defined before it, the
    * Spark sequential-WITH rule). A relation OUTSIDE a WITH's scope that
    * merely shares a nested CTE's name is classified on its own merits,
    * so a same-named temp view can never slip through as "cacheable". */
  private[sql] def lakeOnlyReads(spark: SparkSession, plan: LogicalPlan)
      : Option[Seq[(String, LakeTableSpec)]] = {
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    var ok = true
    val acc = scala.collection.mutable.ListBuffer.empty[(String, LakeTableSpec)]
    def walk(p: LogicalPlan, ctes: Set[String]): Unit = p match {
      case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
        var scope = ctes
        w.cteRelations.foreach { case (name, body, _) =>
          walk(body, scope) // a CTE body sees only the CTEs BEFORE it
          scope += lower(name)
        }
        walk(w.child, scope)
      case ur: UnresolvedRelation =>
        val parts = ur.multipartIdentifier
        if (!(parts.size == 1 && ctes.contains(lower(parts.head))))
          registryName(parts) match {
            case Some(n) if registry.contains(n) &&
                !spark.sessionState.catalog.isTempView(Seq(n)) =>
              acc += (n -> registry(n))
            case _ => ok = false
          }
      case other =>
        other.expressions.foreach(_.foreach {
          case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            walk(s.plan, ctes)
          case _ => ()
        })
        other.children.foreach(walk(_, ctes))
    }
    walk(plan, Set.empty)
    if (!ok) None else Some(acc.toList.distinct)
  }

  private def isLake(p: LogicalPlan): Boolean = lookup(p).isDefined

  /** Lake DML and property statements, each declared once as a command:
    * when a parsed statement root is DML (or SET/UNSET TBLPROPERTIES)
    * against a registered lake table, the [[LakeDmlCommand]] carrying its
    * metric schema and handler. Three callers share it: [[sqlParsed]]
    * (runs the handler now), [[GraftSqlParser]] (namespaced targets,
    * `multipartOnly`) and the injected analyzer rule
    * ([[ResolveLakeTables]]), where execution is DEFERRED to command run
    * time, never performed during analysis (analysis may run many times;
    * a commit must happen exactly once, when `spark.sql` eagerly executes
    * the command). MERGE declares the superset of its clause shapes'
    * metrics ([[LakeDmlCommand.run]] zero-fills the ones a shape does not
    * report). */
  private[sql] def dmlCommand(plan: LogicalPlan,
                              shadowed: String => Boolean,
                              multipartOnly: Boolean = false)
      : Option[LakeDmlCommand] = {
    // a lake DML target SHADOWED by a temp view must fail loudly: the
    // session's reads resolve the view (Spark precedence), so silently
    // committing DML against the lake table would split one name across
    // two tables — the round-13 resolution-precedence contract. (In the
    // spark.sql path Spark's own view substitution claims the name before
    // the injected rule runs and rejects delete-on-a-view itself; this
    // guard is the backstop for any caller handing us a still-unresolved
    // shadowed target.)
    def claim(target: LogicalPlan): Boolean = lookup(target) match {
      // multipartOnly: the PARSER-level claim (namespaced catalog
      // targets, which Spark's analyzer would otherwise resolve to a
      // write-incapable V2 relation before the injected rule runs).
      // Registry keys with a dot only come from a LakeCatalog, so the
      // dot IS the multipart marker; single-part names keep the
      // analyzer-rule path and its temp-view precedence.
      case Some((name, _)) if !multipartOnly || name.contains('.') =>
        if (shadowed(name)) throw new IllegalArgumentException(
          s"DML target '$name' names BOTH a temp view (which reads " +
            "resolve to) and a registered lake table — drop the view or " +
            "rename one of them")
        true
      case _ => false
    }
    plan match {
      case DeleteFromTable(t, c) if claim(t) =>
        metrics("files_rewritten", "files_total", "rows_deleted",
          "files_dropped", "files_masked")(s =>
          withAutoCompact(s, t)(runDelete(_, t, c)))
      // TRUNCATE TABLE <t> → remove every live row as ONE metadata-only
      // commit (the next version references no files; nothing read or
      // rewritten, pinned readers keep the data until VACUUM)
      case TruncateTable(t) if claim(t) =>
        val spec = lookup(t).get._2
        metrics("version", "rows_deleted", "files_dropped") { s =>
          val h = Snapshots.tableHead(s, spec.manifestRoot)
          requireDmlClearance(s, h, "TRUNCATE")
          val r = Snapshots.truncateCommit(s, h)
          Seq(r.version.toLong, r.rowsDeleted, r.filesDropped)
        }
      case u: UpdateTable if claim(u.table) =>
        metrics("files_rewritten", "files_total", "rows_updated",
          "files_masked", "files_appended")(s =>
          withAutoCompact(s, u.table)(runUpdate(_, u)))
      // MERGE's clause shapes report different metric sets, so its
      // handler builds its own row and the command declares the superset
      case m: MergeIntoTable if claim(m.targetTable) =>
        Some(LakeDmlCommand(longSchema(Seq("version", "files_rewritten",
          "files_total", "rows_updated", "rows_inserted", "rows_deleted")),
          s => withAutoCompact(s, m.targetTable)(runMerge(_, m))))
      case i: InsertIntoStatement if claim(i.table) =>
        metrics("version", "files_appended")(s =>
          withAutoCompact(s, i.table)(runInsert(_, i)))
      // ALTER TABLE … SET/UNSET TBLPROPERTIES: the Delta table-property
      // store as metadata-only marker commits
      case stp: SetTableProperties if claim(stp.table) =>
        val spec = lookup(stp.table).get._2
        metrics("version")(s => Seq(Snapshots.setProperties(s,
          spec.manifestRoot, stp.properties).toLong))
      case utp: UnsetTableProperties if claim(utp.table) =>
        val spec = lookup(utp.table).get._2
        metrics("version")(s => Seq(Snapshots.unsetProperties(s,
          spec.manifestRoot, utp.propertyKeys).toLong))
      case _ => None
    }
  }

  /** Follow-on AUTO-COMPACTION (the Delta autoOptimize.autoCompact table
    * property): after a mutating statement's commit, when
    * `'auto_compact' = 'true'` is in force, bin-pack the small-file tail
    * as ITS OWN commit (visible in history, change feed empty — a pure
    * re-layout). Threshold via `'auto_compact.small_bytes'` (default
    * 128 MiB, the production target size); fewer than 2 small files
    * no-ops without committing, so a steady-state table pays one status
    * probe per statement, never a rewrite. The DML's own metric row is
    * untouched — compaction is a separate operation, as in Delta. */
  private def maybeAutoCompact(spark: SparkSession, spec: LakeTableSpec,
                               h: Snapshots.TableHead): Unit =
    if (h.props.get("auto_compact").contains("true")) {
      val smallBytes = h.props.get("auto_compact.small_bytes")
        .map(_.toLong).getOrElse(134217728L)
      Snapshots.compactSmallCommit(spark, spec.path, spec.manifestRoot,
        spec.cols, smallBytes, spec.nFiles) : Unit
    }

  /** Run one DML statement over fresh heads, then the target's follow-on
    * auto-compaction, decided by the statement head's properties. */
  private def withAutoCompact[A](spark: SparkSession, target: LogicalPlan)
                                (run: Heads => A): A = {
    val hs = new Heads(spark)
    val out = run(hs) // the DML's own commit + eager metric row
    lookup(target).foreach { case (_, spec) =>
      maybeAutoCompact(spark, spec, hs(spec)) }
    out
  }

  private def metricsRow(spark: SparkSession,
                         fields: Seq[(String, Long)]): DataFrame =
    spark.createDataFrame(
      java.util.Collections.singletonList(Row(fields.map(_._2): _*)),
      StructType(fields.map(f => StructField(f._1, LongType, nullable = false))))
}
