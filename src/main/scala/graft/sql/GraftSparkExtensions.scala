package graft.sql

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.{DataType, LongType, StructType}

/** SESSION-CATALOG INTEGRATION (round-13 verdict item 3): plain
  * `spark.sql(...)` resolves lake tables, time travel, and the
  * `table_changes`/`table_history` TVFs — no `LakeSql.sql` wrapper
  * needed for reads — via a [[SparkSessionExtensions]] analyzer rule,
  * the same integration shape Delta uses for its SQL surface.
  *
  * Register at session build:
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
  * }}}
  *
  * The injected rule is the LakeSql front door's OWN substitution block
  * ([[LakeSql.substitutions]]), so `spark.sql` and `LakeSql.sql` produce
  * the SAME plan for the same text (spec-asserted via `sameResult`).
  * Precedence is Spark's: the rule lands at the END of the analyzer's
  * resolution batch, after Spark's own relation resolution — a temp view
  * or catalog table with a lake table's name wins, and CTE references
  * are substituted before resolution ever starts. Only still-unresolved
  * relations over registered lake names are re-pointed.
  *
  * DML works through plain `spark.sql` too, the way Delta does it: the
  * rule rewrites a root `DELETE`/`UPDATE`/`MERGE`/`INSERT`/`TRUNCATE`
  * against a lake table into a [[LakeDmlCommand]] — a runnable command
  * that executes the SAME handler `LakeSql.sql` runs (so both produce the
  * same commit and the same metric row), deferred to command run time so
  * analysis never side-effects. The EXTENSION grammar (OPTIMIZE, VACUUM,
  * RESTORE, CLONE, REPLACE WHERE, CONVERT TO LAKE, …) and QUALIFY reach
  * plain spark.sql through the injected [[GraftSqlParser]], the one text
  * dispatcher `LakeSql.sql` parses through too. Only the Catalyst-parsed
  * DDL (CTAS, ALTER) remains front-door-only.
  *
  * Registering the extension also sizes Spark's generated-class cache to
  * graft's working set ([[GraftSparkExtensions.CodegenCacheEntries]]).
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Keep generated code compiled across ops. Extensions run after the
    // SparkContext starts and before the session state copies its conf,
    // so the size reaches SQLConf; a size the user set wins. LIMIT:
    // CodeGenerator reads the size once per JVM, when it first generates
    // code, so this only takes effect if a graft-extended session is the
    // first in the JVM to generate code.
    GraftSqlBridge.activeSparkConf.foreach(_.setIfMissing(
      StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key,
      GraftSparkExtensions.CodegenCacheEntries.toString))
    ext.injectResolutionRule(ResolveLakeTables)
    // metadata-only aggregates: COUNT(*)/MIN/MAX over a bare lake scan
    // answered from the manifest, zero data files opened
    ext.injectOptimizerRule(ServeAggFromManifest)
    // RELY pk/fk join elimination: a declared-integrity fact⋈dim join
    // whose projection reads only fact columns drops the dim scan and the
    // join from the plan (graft.plans.RelyConstraints)
    ext.injectOptimizerRule(graft.plans.EliminateRelyJoins)
    // transparent materialized-view serving: a coarser-or-equal
    // aggregation over a base whose scanned version equals a registered
    // MV's cursor is answered from the MV (graft.sql.MatViews)
    ext.injectOptimizerRule(ServeFromMatViews)
    // EXTENSION GRAMMAR and QUALIFY through plain spark.sql — the
    // DeltaSqlParser shape: a delegating parser intercepts the statements
    // Spark's ANTLR grammar has no productions for (OPTIMIZE, VACUUM,
    // RESTORE, CLONE, INSERT … REPLACE WHERE, CONVERT TO LAKE, …) and
    // wraps each into a runnable command executing its one declared
    // handler. Everything else delegates to Spark's parser untouched.
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
    // the version-log TVFs register as REAL session table functions —
    // an appended resolution rule cannot serve them, because Spark's own
    // ResolveFunctions raises UNRESOLVABLE_TABLE_VALUED_FUNCTION earlier
    // in the same batch. The builder reaches the session through
    // SparkSession.active (set for the resolving thread).
    ext.injectTableFunction((FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[GraftSparkExtensions].getName,
        "table_changes"),
      args => LakeSql.tableChangesPlan(SparkSession.active, args)))
    ext.injectTableFunction((FunctionIdentifier("table_history"),
      new ExpressionInfo(classOf[GraftSparkExtensions].getName,
        "table_history"),
      args => LakeSql.tableHistoryPlan(SparkSession.active, args)))
  }
}

object GraftSparkExtensions {
  /** Entries in Spark's generated-class cache (an LRU keyed by source
    * text; Spark's default is 100). Measured working sets: one curation
    * pass (quality filter, exact and MinHash dedup, clusters, exact
    * substrings, IVF, kNN graph) needs ~290 distinct classes and one
    * daily-ingest day ~160, so at 100 entries they cycle through the LRU
    * and nearly every repeat recompiles through Janino. 1024 holds a pass
    * with 3.5x headroom; classes tied to one input (inlined constants)
    * age out of the LRU. A retained class costs ~28 KB of heap. */
  val CodegenCacheEntries = 1024
}

/** The analyzer-rule twin of `LakeSql.sql`'s read resolution. Nothing
  * shadows here: by the time an [[org.apache.spark.sql.catalyst.analysis.UnresolvedRelation]]
  * reaches this rule, Spark's substitution batch has consumed CTEs and
  * its own resolution rules (earlier in the same batch) have claimed
  * temp views and catalog tables. */
final case class ResolveLakeTables(spark: SparkSession)
  extends Rule[LogicalPlan] {
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // CATALOG-resolved lake relations (a LakeCatalog `lake.db.t` read):
    // Spark's own resolution turned the name into a V2 relation holding
    // a LakeRowTable handle; rewrite it to the front door's manifest-read
    // plan (the DeltaAnalysis shape). This must run even on RESOLVED
    // plans — a V2 relation IS resolved — so it sits before the fast
    // path; the `exists` probe keeps the non-catalog common case to one
    // cheap type walk, and the rewrite erases the match so the fixpoint
    // cannot loop.
    val hs = new LakeSql.Heads(spark)
    val p =
      if (plan.exists {
        case r: DataSourceV2Relation => r.table.isInstanceOf[LakeRowTable]
        case _ => false
      }) plan.resolveOperatorsDown {
        case r: DataSourceV2Relation if r.table.isInstanceOf[LakeRowTable] =>
          LakeSql.rewriteCatalogRelation(hs, r,
            r.table.asInstanceOf[LakeRowTable])
      }
      else plan
    // Fast path: everything else this rule rewrites — unresolved
    // relations, time travel, the TVFs, claimable DML roots — keeps the
    // tree UNRESOLVED, so a resolved plan has nothing for us. The
    // analyzer re-runs its resolution batch to fixpoint over EVERY
    // session query (and every streaming micro-batch), so without this
    // guard the full-tree substitution walk taxes every non-lake query
    // too. `resolved` is a cached lazy val — the check is near-free at
    // fixpoint. (DML against a RESOLVED non-lake target, e.g. a temp
    // view, skips us and fails loudly in Spark's own v2-table check —
    // the same outcome the shadowed-target backstop produces.)
    if (p.resolved) p
    else LakeSql.dmlCommand(p,
      n => spark.sessionState.catalog.isTempView(Seq(n))).getOrElse(
      p.resolveOperatorsDown(LakeSql.substitutions(hs, _ => false)))
  }
}

/** METADATA-ONLY AGGREGATE rewrite (the "SELECT count(*) answered from
  * table metadata" fast path every production table format serves — at
  * 100 TB the difference between a sub-second manifest read and a full
  * scan): an ungrouped, unfiltered `Aggregate` whose child is a bare lake
  * scan (tagged by the resolution layer with its manifest root + pinned
  * version) and whose every output is `count(*)` or `min`/`max` over a
  * stats column is replaced with a one-row [[LocalRelation]] computed
  * from the manifest via [[graft.sinks.Snapshots.statsAggRowAt]] —
  * native-typed, so 64-bit and string extremes survive exactly.
  *
  * Soundness is layered: structurally, any `Filter`, grouping, join, or
  * DV anti-join between the aggregate and the relation breaks the match
  * (those plans MUST scan); `count(col)` (null-sensitive), `DISTINCT`,
  * FILTER clauses, and non-stats columns refuse; and `statsAggRowAt`
  * itself re-checks the version for deletion-vector masks and partial
  * stats, falling back to the scan plan on refusal rather than failing
  * the query. Extreme types are required to match the aggregate's
  * declared output type exactly — never a silent cast. Time travel
  * composes: a pinned read's tag carries the pinned version, so
  * `SELECT count(*) FROM t VERSION AS OF 3` is also metadata-served. */
final case class ServeAggFromManifest(spark: SparkSession)
  extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, Project}
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate if agg.groupingExpressions.isEmpty =>
      serve(agg).getOrElse(agg)
  }

  private def scanInfo(p: LogicalPlan): Option[(String, Int, Seq[String])] =
    p match {
      case lr: LogicalRelation => lr.getTagValue(LakeSql.LakeScanTag)
      case Project(ps, lr: LogicalRelation)
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        lr.getTagValue(LakeSql.LakeScanTag)
      case _ => None
    }

  /** What one output column needs from the manifest row: None = count. */
  private sealed trait Want
  private case object WantRows extends Want
  private final case class WantLo(c: String) extends Want
  private final case class WantHi(c: String) extends Want

  private def serve(agg: Aggregate): Option[LogicalPlan] =
    scanInfo(agg.child).flatMap { case (root, version, statsCols) =>
      val wants: Seq[Option[Want]] = agg.aggregateExpressions.map(classify(_, statsCols))
      if (wants.exists(_.isEmpty)) None
      else {
        val needed = wants.flatten.collect {
          case WantLo(c) => c
          case WantHi(c) => c
        }.distinct
        val row =
          try graft.sinks.Snapshots.statsAggRowAt(spark, root, version, needed)
          catch { case _: IllegalArgumentException => return None }
        // extreme types must equal the declared aggregate output types —
        // a manifest built before a column retype must not serve it
        val byName = row.schema.fieldNames.zipWithIndex.toMap
        val out = agg.aggregateExpressions.map(_.toAttribute)
        val vals = wants.flatten.zip(out).map {
          case (WantRows, a) =>
            if (a.dataType != LongType) return None else row.get(0)
          case (WantLo(c), a) =>
            val i = byName(s"_lo_$c")
            if (row.schema(i).dataType != a.dataType) return None
            row.get(i)
          case (WantHi(c), a) =>
            val i = byName(s"_hi_$c")
            if (row.schema(i).dataType != a.dataType) return None
            row.get(i)
        }
        Some(LocalRelation.fromExternalRows(out, Seq(Row(vals: _*))))
      }
    }

  private def classify(e: NamedExpression,
                       statsCols: Seq[String]): Option[Want] = e match {
    case Alias(ae: AggregateExpression, _)
        if ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        // count(*) / count(1): any non-null literal counts every row
        case Count(Seq(l: Literal)) if l.value != null => Some(WantRows)
        case Min(a: AttributeReference) if statsCols.contains(a.name) =>
          Some(WantLo(a.name))
        case Max(a: AttributeReference) if statsCols.contains(a.name) =>
          Some(WantHi(a.name))
        case _ => None
      }
    case _ => None
  }
}

/** A lake statement as a command (the Delta DeleteCommand/UpdateCommand
  * shape): its declared output schema plus the handler that runs it.
  * [[LakeSql.extendedStatement]] and [[LakeSql.dmlCommand]] declare one
  * per statement; `spark.sql` executes it eagerly exactly once, so the
  * commit happens in [[run]], never during analysis, while
  * [[LakeSql.sql]] calls `exec` directly and returns the handler's own
  * frame. Output is declared up front (commands must know their schema
  * before running); MERGE clause shapes that report fewer metrics
  * zero-fill the rest. */
final case class LakeDmlCommand(outSchema: StructType,
                                exec: SparkSession => DataFrame)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    outSchema.fields.toSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable)())
  override def run(session: SparkSession): Seq[Row] = {
    val metrics = exec(session)
    if (outSchema.fields.forall(_.dataType == LongType)) {
      // metric-row statements: ONE row, zero-filled for clause shapes
      // that report fewer metrics
      val have = metrics.columns.toSet
      val row = metrics.head()
      Seq(Row(outSchema.fieldNames.toSeq
        .map(n => if (have(n)) row.getAs[Long](n) else 0L): _*))
    } else
      // listing statements (VACUUM DRY RUN, DESCRIBE DETAIL): the
      // handler's rows verbatim — bounded by file/version counts
      metrics.collect().toSeq
  }
}

/** The one SQL TEXT DISPATCHER (the DeltaSqlParser integration shape),
  * shared by plain `spark.sql` (injected by [[GraftSparkExtensions]]) and
  * [[LakeSql.sql]] (which wraps Spark's parser in one when the session
  * lacks the extension). Per statement, in order:
  *
  *  1. QUALIFY ([[LakeSql.rewriteQualify]]) rewrites at the text level —
  *     Spark's grammar has no production for it. A scanner false positive
  *     (a bare identifier `qualify`) yields unparseable text, and then the
  *     original statement is parsed instead.
  *  2. The extension grammar ([[LakeSql.extendedStatement]]) parses to a
  *     [[LakeDmlCommand]].
  *  3. Everything else delegates to Spark's parser verbatim, followed by
  *     the post-parse claims on CATALOG-SHAPED statements Spark's grammar
  *     DOES have productions for but whose semantics are ours:
  *      - DML whose target is a NAMESPACED lake-catalog table
  *        (`DELETE FROM lake.db.t …`): claimed here, while the tree is
  *        still fully unresolved, because by the time the injected
  *        analyzer rule would see it Spark's own resolution has already
  *        turned the target into a write-incapable V2 relation and
  *        resolved the condition's attributes — the front door's typed
  *        predicate compiler wants the raw unresolved form. Single-part
  *        targets are NOT claimed here (multipartOnly) — they keep the
  *        analyzer-rule path and its temp-view-precedence contract.
  *      - `CREATE TABLE t (…) USING lake` / `CREATE OR REPLACE TABLE t
  *        USING lake … AS query`: the session catalog would try to own
  *        them; the lake provider makes them ours
  *        ([[LakeSql.claimableCreate]], [[LakeSql.claimableReplace]]).
  *        Catalog-qualified creates are NOT claimed — Spark routes them to
  *        the LakeCatalog itself.
  */
final class GraftSqlParser(delegate: ParserInterface)
  extends ParserInterface {

  private def claim(plan: LogicalPlan): LogicalPlan = plan match {
    case ct: org.apache.spark.sql.catalyst.plans.logical.CreateTable
        if LakeSql.claimableCreate(ct) =>
      LakeDmlCommand(LakeSql.longSchema(Seq("version")),
        s => LakeSql.runCreate(s, ct))
    case rts: org.apache.spark.sql.catalyst.plans.logical.ReplaceTableAsSelect
        if LakeSql.claimableReplace(rts) =>
      LakeDmlCommand(LakeSql.longSchema(Seq("version", "files")),
        s => LakeSql.runReplaceTas(new LakeSql.Heads(s), rts))
    case _ =>
      LakeSql.dmlCommand(plan, _ => false, multipartOnly = true)
        .getOrElse(plan)
  }

  private def dispatch(text: String)(parse: String => LogicalPlan)
      : LogicalPlan = {
    def one(t: String): LogicalPlan =
      LakeSql.extendedStatement(t).getOrElse(claim(parse(t)))
    LakeSql.rewriteQualify(text) match {
      case Some(r) =>
        try one(r) catch { case _: ParseException => one(text) }
      case None => one(text)
    }
  }

  override def parsePlan(text: String): LogicalPlan =
    dispatch(text)(delegate.parsePlan)
  override def parsePlanWithParameters(text: String,
                                       ctx: ParameterContext): LogicalPlan =
    dispatch(text)(delegate.parsePlanWithParameters(_, ctx))
  override def parseExpression(t: String): Expression =
    delegate.parseExpression(t)
  override def parseTableIdentifier(t: String): TableIdentifier =
    delegate.parseTableIdentifier(t)
  override def parseFunctionIdentifier(t: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(t)
  override def parseMultipartIdentifier(t: String): Seq[String] =
    delegate.parseMultipartIdentifier(t)
  override def parseQuery(t: String): LogicalPlan = delegate.parseQuery(t)
  override def parseRoutineParam(t: String): StructType =
    delegate.parseRoutineParam(t)
  override def parseTableSchema(t: String): StructType =
    delegate.parseTableSchema(t)
  override def parseDataType(t: String): DataType = delegate.parseDataType(t)
}
