package graft.sql

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.Pin
import graft.ops.Ivm
import graft.plans.MatView
import graft.sinks.{Dv, Snapshots}
import graft.sql.LakeSql.LakeTableSpec

/** MATERIALIZED VIEWS as SQL objects over the versioned lake — the
  * Databricks `CREATE MATERIALIZED VIEW` / `REFRESH MATERIALIZED VIEW`
  * shape (public behavior), composing the two halves this engine already
  * has: change-feed incremental maintenance ([[graft.ops.Ivm]], the q116
  * discipline) and the transparent aggregate rewrite
  * ([[graft.plans.MatView]], q155). Reference motivation: the gold layer
  * exists exactly to BE a materialized summary
  * (`run_transform.py:76-92`, `README.md:60`).
  *
  *  - `CREATE MATERIALIZED VIEW mv AS SELECT dims…, sum(x) AS sx,
  *    min(y) AS mn, max(z) AS mx, count(*) AS cnt FROM base [WHERE pred]
  *    GROUP BY dims…` — a grouped aggregate over ONE registered lake
  *    table. sum/count are algebraic (self-inverting under deletion);
  *    MIN/MAX are maintainable too, via the split refresh below; an
  *    optional WHERE restricts the view to the predicate's rows (the
  *    same predicate filters every refresh feed). The view materializes
  *    as its own lake table — z-ordered on the dims, versioned,
  *    time-travelable — whose creating commit carries the definition as
  *    table properties and a `mvref_<v>` txn tag pinning the BASE version
  *    it reflects.
  *  - `REFRESH MATERIALIZED VIEW mv` — reads the base's CHANGE FEED from
  *    the last-reflected version (the tag cursor, never separate state
  *    that can desync) to its head and folds it into the stored view:
  *    an INSERT-ONLY feed folds purely ([[Ivm.applyFeedInsertOnly]] —
  *    extrema can only improve under inserts); a feed carrying DELETES
  *    for a MIN/MAX-bearing view instead recomputes ONLY the
  *    feed-touched groups from the base, stats-pruned to the touched
  *    groups' dim bounding box (extrema cannot shrink incrementally —
  *    but the recompute is scoped by the commit's touch set, never the
  *    whole table). The folded/merged view commits with the new cursor
  *    tag riding the SAME atomic commit. Crash replay is safe by
  *    construction: both paths read the PRE-refresh view, so a replayed
  *    refresh recomputes the identical result.
  *  - `REFRESH MATERIALIZED VIEW mv FULL` — the recompute fallback:
  *    re-aggregate the base head from scratch and replace the view
  *    (repairs any accumulated residue, e.g. float drift or the
  *    documented NULL-sum corner of the pure fold).
  *  - Transparent serving: [[ServeFromMatViews]] (injected session-wide)
  *    rewrites a coarser-or-equal aggregation over the base onto the
  *    view — `sum→sum`, `count→sum(cnt)`, `min→min(min)`, `max→max(max)`
  *    — but ONLY when the scanned base version EQUALS the view's cursor
  *    (freshness is checked per scan, so a stale view silently falls
  *    back to the base, and a pinned `VERSION AS OF` read of any other
  *    version is never served a head-reflecting summary). WHERE-filtered
  *    views are excluded from serving: their summary reflects a row
  *    subset, and the rewrite rule cannot prove a query's filter equal
  *    to the view's.
  *
  * Scale shape at 100 TB: an insert-only refresh reads the feed (bounded
  * by the commits' touch set — [[Snapshots.changesBetween]] opens only
  * changed files, never the table) plus the view itself
  * (gold-summary-sized, usually 10⁴–10⁶× smaller than the base). A
  * delete refresh of a MIN/MAX view reads the feed plus the stats-pruned
  * slice of base files intersecting the touched groups — the same
  * file-skipping discipline as a banded DELETE, never a full re-scan
  * unless the touch set genuinely spans the table. A served dashboard
  * aggregation reads KBs from the view instead of re-scanning the fact
  * table.
  */
object MatViews {

  final case class MvMeta(name: String, base: String, dims: Seq[String],
                          sums: Seq[(String, String)],
                          mins: Seq[(String, String)],
                          maxs: Seq[(String, String)],
                          cnt: String, where: Option[String])

  // in-JVM registry; re-attachable from the view's own table properties
  // (the definition is durable — a fresh JVM re-registers the table and
  // the first REFRESH/serve re-reads the props)
  private val mvs = TrieMap.empty[String, MvMeta]

  private[sql] def isEmpty: Boolean = mvs.isEmpty

  private def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)

  private def parsePairs(s: String): Seq[(String, String)] =
    s.split(",").filter(_.nonEmpty).toSeq
      .map { kv => val Array(v, c) = kv.split(":", 2); (v, c) }

  /** The meta for `name`: in-JVM registry first, else re-attached from
    * the view table's head properties. */
  private[sql] def metaOf(spark: SparkSession, name: String): Option[MvMeta] =
    mvs.get(lower(name)).orElse {
      LakeSql.specOf(lower(name)).flatMap { spec =>
        val p = Snapshots.tableHead(spark, spec.manifestRoot).props
        p.get("graft.mv.base").map { base =>
          val m = MvMeta(lower(name), base,
            p("graft.mv.dims").split(",").toSeq,
            parsePairs(p.getOrElse("graft.mv.sums", "")),
            parsePairs(p.getOrElse("graft.mv.mins", "")),
            parsePairs(p.getOrElse("graft.mv.maxs", "")),
            p("graft.mv.cnt"),
            p.get("graft.mv.where").filter(_.nonEmpty))
          mvs.put(m.name, m)
          m
        }
      }
    }

  /** Parse the AS-query into the maintainable definition. Loud on
    * anything outside the maintainable shape: one registered lake base
    * (optionally WHERE-filtered by a deterministic predicate), grouping
    * on plain columns, aggregates limited to `sum/min/max(col) AS a`
    * and exactly one `count(*)/count(1) AS c` (the count is REQUIRED —
    * it is what lets deletions retire groups incrementally). */
  private[sql] def parseDef(spark: SparkSession, name: String,
                            queryText: String): MvMeta = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"CREATE MATERIALIZED VIEW: $why — the definition must be " +
        "SELECT <dims…>, sum|min|max(<col>) AS <a>…, count(*) AS <c> " +
        s"FROM <lake table> [WHERE <pred>] GROUP BY <dims…>; " +
        s"got: $queryText")
    val plan = spark.sessionState.sqlParser.parsePlan(queryText)
    val agg = plan match {
      case a: Aggregate => a
      case other => fail(s"not a grouped aggregate (${other.nodeName})")
    }
    // optional WHERE between the aggregate and the relation: kept as SQL
    // text so creation AND every refresh apply the SAME predicate (to
    // the base at create/recompute, to the change feed on fold)
    val (rel, where) = agg.child match {
      case Filter(cond, child) => (child, Some(cond.sql))
      case other => (other, None)
    }
    val base = rel match {
      case UnresolvedRelation(Seq(n), _, _) => lower(n)
      case SubqueryAlias(_, UnresolvedRelation(Seq(n), _, _)) => lower(n)
      case other => fail(s"FROM must be one registered lake table, got " +
        other.nodeName)
    }
    if (LakeSql.specOf(base).isEmpty)
      fail(s"'$base' is not a registered lake table")
    val dims = agg.groupingExpressions.map {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        lower(a.nameParts.head)
      case other => fail(s"grouping on '${other.sql}' — dims must be " +
        "plain base columns")
    }
    var sums = Vector.empty[(String, String)]
    var mins = Vector.empty[(String, String)]
    var maxs = Vector.empty[(String, String)]
    var cnt = Option.empty[String]
    agg.aggregateExpressions.foreach {
      case a: UnresolvedAttribute if a.nameParts.size == 1 &&
          dims.contains(lower(a.nameParts.head)) => ()
      case Alias(UnresolvedFunction(Seq(fn), Seq(arg), false, None, _, _, _),
          aliasName) if Set("sum", "min", "max")(lower(fn)) => arg match {
        case ua: UnresolvedAttribute if ua.nameParts.size == 1 =>
          val pair = (lower(aliasName), lower(ua.nameParts.head))
          lower(fn) match {
            case "sum" => sums :+= pair
            case "min" => mins :+= pair
            case "max" => maxs :+= pair
          }
        case other => fail(s"${lower(fn)} over '${other.sql}' — aggregate " +
          "args must be plain base columns")
      }
      case Alias(UnresolvedFunction(Seq(fn), args, false, None, _, _, _),
          aliasName) if lower(fn) == "count" &&
          (args.isEmpty || (args.lengthCompare(1) == 0 && (args.head match {
            case Literal(_, _) => true
            case _: UnresolvedStar => true
            case _ => false
          }))) =>
        if (cnt.isDefined) fail("more than one count(*) column")
        cnt = Some(lower(aliasName))
      case other => fail(s"'${other.sql}' is not maintainable — only " +
        "dims, sum/min/max(col) AS a, and count(*) AS c are")
    }
    if (cnt.isEmpty) fail("a count(*) AS <name> column is required " +
      "(it is what retires groups whose rows are all deleted)")
    MvMeta(lower(name), base, dims, sums, mins, maxs, cnt.get, where)
  }

  /** The definition's aggregate over `df0` — WHERE applied first, so
    * create, FULL refresh, and the touched-group recompute all share one
    * semantics. */
  private def aggOf(m: MvMeta)(df0: DataFrame): DataFrame = {
    val df = m.where.map(w => df0.filter(expr(w))).getOrElse(df0)
    val aggs = m.sums.map { case (v, s) => sum(col(s)).as(v) } ++
      m.mins.map { case (v, s) => min(col(s)).as(v) } ++
      m.maxs.map { case (v, s) => max(col(s)).as(v) } :+
      count(lit(1)).as(m.cnt)
    df.groupBy(m.dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  final case class CreateResult(version: Int, baseVersion: Int)

  /** CREATE: aggregate the base AT ITS HEAD, materialize as a new lake
    * table (z-ordered on the dims), one atomic commit carrying content +
    * definition properties + the `mvref_<baseHead>` cursor tag. */
  def create(spark: SparkSession, name: String, location: Option[String],
             queryText: String): CreateResult = {
    val m = parseDef(spark, name, queryText)
    val nm = m.name
    require(LakeSql.specOf(nm).isEmpty && !mvs.contains(nm),
      s"materialized view or table '$nm' already exists")
    val baseSpec = LakeSql.specOf(m.base).get
    val base = Snapshots.tableHead(spark, baseSpec.manifestRoot)
    val baseHead = base.version
    LakeSql.requireDmlClearance(spark, base, "CREATE MATERIALIZED VIEW")
    require(base.mapping.isEmpty,
      "CREATE MATERIALIZED VIEW over a column-mapped base is not " +
        "supported — the feed fold would mix logical and physical names")
    val root = location.orElse(LakeSql.warehouseDir.map(w => s"$w/$nm"))
      .getOrElse(throw new IllegalArgumentException(
        "CREATE MATERIALIZED VIEW needs a LOCATION clause or " +
          "LakeSql.setWarehouse(dir)"))
    val spec = LakeTableSpec(s"$root/z", s"$root/m", m.dims, nFiles = 4)
    require(Snapshots.versions(spark, spec.manifestRoot).isEmpty,
      s"'$root' already holds a versioned table")
    val content = aggOf(m)(Snapshots.tableAt(spark, base))
    graft.sinks.Layout.zorderWrite(content, m.dims, spec.path, spec.nFiles)
    val props = Map(
      "graft.mv.base" -> m.base,
      "graft.mv.dims" -> m.dims.mkString(","),
      "graft.mv.sums" -> m.sums.map { case (v, s) => s"$v:$s" }.mkString(","),
      "graft.mv.mins" -> m.mins.map { case (v, s) => s"$v:$s" }.mkString(","),
      "graft.mv.maxs" -> m.maxs.map { case (v, s) => s"$v:$s" }.mkString(","),
      "graft.mv.cnt" -> m.cnt) ++
      m.where.map("graft.mv.where" -> _)
    val version = Snapshots.commit(spark,
      graft.sinks.Layout.buildManifest(spark, spec.path, m.dims),
      spec.manifestRoot, tag = Some(s"mvref_$baseHead"),
      markers = Snapshots.Props.names(props))
    LakeSql.register(nm, spec)
    mvs.put(nm, m)
    CreateResult(version, baseHead)
  }

  /** Highest base version whose `mvref_` tag is on the view's log —
    * descending stop-at-first, the [[ApplyChanges]] cursor discipline
    * (tags are monotone over view versions because every refresh both
    * advances the cursor and commits). */
  private[sql] def cursorOf(spark: SparkSession, mvRoot: String): Int =
    Snapshots.tags(spark, mvRoot, "mvref_").nextOption().fold(0)(_._2.toInt)

  final case class RefreshResult(version: Int, fromVersion: Int,
                                 toVersion: Int, feedRows: Long,
                                 feedFilesRead: Long, feedFilesTotal: Long,
                                 groupsRecomputed: Long,
                                 baseFilesRead: Long, baseFilesTotal: Long)

  /** Recompute ONLY the feed-touched groups from the base at `head` and
    * merge them over the stored view: the delete path for MIN/MAX
    * measures (an extremum cannot shrink incrementally). Base files are
    * stats-pruned to the touched groups' per-dim bounding box (skipped
    * entirely when a dim carries no manifest stats or the feed holds
    * NULL dim values — stats cannot witness nulls); the group scoping
    * itself is a distributed null-safe semi-join, never a driver-side
    * value list, so a commit touching millions of groups still plans in
    * O(files). Returns (merged view, touched groups, base files read,
    * base files total). */
  private def recomputeTouched(spark: SparkSession, m: MvMeta,
                               baseSpec: LakeTableSpec, head: Int,
                               current: DataFrame, feed: DataFrame)
      : (DataFrame, Long, Long, Long) = {
    val touched = feed.select(m.dims.map(col): _*).distinct()
      .localCheckpoint()
    val nTouched = touched.count()
    val mf = Pin.checkpoint(
      Snapshots.manifestAt(spark, baseSpec.manifestRoot, head))
    val total = Pin.count(mf)
    val statCols = mf.schema.fieldNames.toSet
    val feedHasNullDim = m.dims.nonEmpty &&
      touched.filter(m.dims.map(col(_).isNull).reduce(_ || _))
        .limit(1).count() > 0
    val boundsRow =
      if (feedHasNullDim) null
      else {
        val bAggs = m.dims.zipWithIndex.flatMap { case (d, i) =>
          Seq(min(col(d)).as(s"_lo_$i"), max(col(d)).as(s"_hi_$i")) }
        touched.agg(bAggs.head, bAggs.tail: _*).head()
      }
    val pruneConds = m.dims.zipWithIndex.flatMap { case (d, i) =>
      if (feedHasNullDim || !statCols.contains(s"min_$d") ||
          !statCols.contains(s"max_$d")) None
      else {
        val lo = boundsRow.getAs[Any](s"_lo_$i")
        val hi = boundsRow.getAs[Any](s"_hi_$i")
        if (lo == null || hi == null) None
        // a file whose stats are NULL for the dim (all-null rows) may
        // hold rows of a NULL-dim group only — excluded above — but keep
        // it anyway: stats may only over-include, never drop
        else Some((col(s"min_$d") <= lit(hi) &&
          col(s"max_$d") >= lit(lo)) || col(s"min_$d").isNull)
      }
    }
    val prunedMf =
      if (pruneConds.isEmpty) mf else mf.filter(pruneConds.reduce(_ && _))
    val entries = Dv.entries(prunedMf)
    val schemaHint =
      Snapshots.declaredSchemaAt(spark, baseSpec.manifestRoot, head)
    val baseRows =
      if (entries.isEmpty)
        Snapshots.tableAt(spark, baseSpec.manifestRoot, head).limit(0)
      else Dv.readLive(spark, entries, schemaHint)
    // null-safe group scoping: a NULL dim value is a real group
    val tAlias = touched.toDF(m.dims.map(d => s"_t_$d"): _*)
    def dimCond(df: DataFrame) =
      m.dims.map(d => df(d) <=> tAlias(s"_t_$d")).reduce(_ && _)
    val scoped = baseRows.join(tAlias, dimCond(baseRows), "left_semi")
    val recomputed = aggOf(m)(scoped)
    val merged = current.join(tAlias, dimCond(current), "left_anti")
      .unionByName(recomputed)
    (merged, nTouched, entries.size.toLong, total)
  }

  /** REFRESH: fold the base feed (cursor, head] into the stored view and
    * commit with the advanced cursor tag. Insert-only feeds fold purely;
    * delete-bearing feeds on MIN/MAX views recompute only the touched
    * groups; `full = true` re-aggregates the base head outright
    * (replacing the view even when already at head — FULL is the repair
    * path). No-op (no commit) when incremental and already at head. */
  def refresh(spark: SparkSession, name: String,
              full: Boolean = false): RefreshResult = {
    val nm = lower(name)
    val m = metaOf(spark, nm).getOrElse(throw new IllegalArgumentException(
      s"'$nm' is not a materialized view"))
    val spec = LakeSql.specOf(nm).get
    val baseSpec = LakeSql.specOf(m.base).getOrElse(
      throw new IllegalArgumentException(
        s"materialized view '$nm': base table '${m.base}' is not registered"))
    val base = Snapshots.tableHead(spark, baseSpec.manifestRoot)
    val head = base.version
    LakeSql.requireDmlClearance(spark, base, "REFRESH MATERIALIZED VIEW")
    val cursor = cursorOf(spark, spec.manifestRoot)
    require(cursor > 0, s"'$nm' carries no mvref cursor tag — not a " +
      "materialized view commit history")
    require(head >= cursor, s"base '${m.base}' head $head is BEHIND the " +
      s"view cursor $cursor — was the base log truncated or re-created?")
    require(base.mapping.isEmpty,
      "REFRESH over a column-mapped base is not supported")
    if (full) {
      val content = aggOf(m)(Snapshots.tableAt(spark, base))
      val (version, _) = Snapshots.replaceCommit(spark, content, m.dims,
        spec.path, spec.manifestRoot, spec.nFiles,
        tag = Some(s"mvref_$head"))
      val total = Dv.entries(Snapshots.manifestAt(spark,
        baseSpec.manifestRoot, head)).size.toLong
      return RefreshResult(version, cursor, head, 0L, 0L, 0L, 0L,
        total, total)
    }
    if (head == cursor)
      return RefreshResult(
        Snapshots.latestVersion(spark, spec.manifestRoot),
        cursor, head, 0L, 0L, 0L, 0L, 0L, 0L)
    val scan = Snapshots.changesBetween(spark, baseSpec.manifestRoot,
      cursor, head)
    // localCheckpoint: the feed feeds the delta aggregation AND the row
    // count below — and exceptAll twice is the waste it exists to avoid.
    // The view's WHERE scopes the feed too: rows outside the predicate
    // never touch the view in either direction.
    val feed = m.where
      .map(w => scan.df.filter(expr(w))).getOrElse(scan.df)
      .localCheckpoint()
    val current = Snapshots.tableAt(spark, spec.manifestRoot,
      Snapshots.latestVersion(spark, spec.manifestRoot))
    val hasExtrema = m.mins.nonEmpty || m.maxs.nonEmpty
    // lazy: sum/count-only views never pay the delete probe
    lazy val hasDeletes =
      feed.filter(col("change_type") === "delete").limit(1).count() > 0
    val (folded, nTouched, baseRead, baseTotal) =
      if (hasExtrema && hasDeletes)
        recomputeTouched(spark, m, baseSpec, head, current, feed)
      else if (hasExtrema)
        (Ivm.applyFeedInsertOnly(current, feed, m.dims, m.sums, m.mins,
          m.maxs, m.cnt), 0L, 0L, 0L)
      else
        (Ivm.applyFeed(current, feed, m.dims, m.sums, m.cnt), 0L, 0L, 0L)
    val (version, _) = Snapshots.replaceCommit(spark, folded, m.dims,
      spec.path, spec.manifestRoot, spec.nFiles,
      tag = Some(s"mvref_$head"))
    RefreshResult(version, cursor, head, feed.count(),
      scan.filesRead, scan.filesTotal, nTouched, baseRead, baseTotal)
  }

  /** DROP: unregister the view (its files stay for the dir's owner, the
    * registry discipline every other unregister here follows). */
  def drop(spark: SparkSession, name: String): Boolean = {
    val nm = lower(name)
    val was = mvs.remove(nm).isDefined || LakeSql.specOf(nm).isDefined
    LakeSql.unregister(nm)
    was
  }

  /** The serving rules for every registered view: each wraps the q155
    * rewrite with an exact scan-tag matcher — (base manifestRoot, scanned
    * version == view cursor) — so ONLY reads of the exact base version
    * the view reflects are served. WHERE-filtered views are excluded
    * (their summary is a row subset — serving an unfiltered aggregate
    * from it would be wrong, and the rule cannot prove a query filter
    * equal to the view's). Rules are built per call but the summary plan
    * is lazy inside [[MatView.RewriteRule]], so a plan with no candidate
    * base scan pays nothing beyond the match walk. */
  private[sql] def servingRules(spark: SparkSession)
      : Seq[Rule[LogicalPlan]] =
    mvs.values.toSeq.filter(_.where.isEmpty).sortBy(_.name).flatMap { m =>
      for {
        mvSpec <- LakeSql.specOf(m.name)
        baseSpec <- LakeSql.specOf(m.base)
      } yield {
        lazy val cursor = cursorOf(spark, mvSpec.manifestRoot)
        lazy val summary = Snapshots.tableAt(spark, mvSpec.manifestRoot,
          Snapshots.latestVersion(spark, mvSpec.manifestRoot))
        val d = MatView.SummaryDef(baseSpec.path, summary, m.dims,
          m.sums.map(_.swap).toMap, m.cnt,
          mins = m.mins.map(_.swap).toMap, maxs = m.maxs.map(_.swap).toMap)
        new MatView.RewriteRule(d, matchRelation = Some(
          (lr: LogicalRelation) =>
            lr.getTagValue(LakeSql.LakeScanTag).exists {
              case (root, v, _) =>
                root == baseSpec.manifestRoot && cursor > 0 && v == cursor
            }))
      }
    }
}

/** Session-wide transparent MV serving (injected by
  * [[GraftSparkExtensions]]): applies every registered view's rewrite
  * rule. Early-outs keep the tax on non-candidate plans to one registry
  * probe + one tree walk; soundness (grain subset, decomposable
  * aggregates, no interposed compute, exact version freshness) lives in
  * [[MatView.RewriteRule]] + the scan-tag matcher. */
final case class ServeFromMatViews(spark: SparkSession)
  extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MatViews.isEmpty) return plan
    if (spark.conf.get("graft.mv.serve", "true") != "true") return plan
    if (!plan.exists { case _: Aggregate => true; case _ => false })
      return plan
    MatViews.servingRules(spark).foldLeft(plan)((p, r) => r.apply(p))
  }
}
