package graft.plans

import graft.sources.{GraftTableV2, MergeIntoClause, MergeIntoDelete, MergeIntoInsert, MergeIntoUpdate}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge

/** SQL DML over graft catalog tables — the analyzer hook that routes
  * `DELETE FROM` / `UPDATE` / `MERGE INTO` a [[GraftTableV2]] relation
  * into the engine's native day-pruned, file-granular, snapshot-
  * committed executors ([[graft.sources.WarehouseTable.deleteWhere]] /
  * `updateWhere` / `mergeInto`) instead of Spark's group-based
  * row-level-operation rewrite (which would demand a full DSv2
  * BatchWrite and rewrite every scanned group). Same interception
  * pattern as Delta's DeltaAnalysis: claim the resolved logical node
  * inside the analyzer's fixed point, before the optimizer's
  * RewriteMergeIntoTable/RewriteDeleteFromTable reject the table for
  * not implementing SupportsRowLevelOperations.
  *
  * Installed by [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions=graft.functions.GraftExtensions`).
  *
  * Column-reference handoff: by match time the statement is fully
  * resolved, so target references are `AttributeReference`s of the
  * target relation. The executors build their OWN scans, so target
  * refs are rewritten to late-bound names — bare for single-relation
  * DELETE/UPDATE, `__t.`-qualified for MERGE (the dest alias in
  * `mergeInto`) — while source-side refs keep their resolved
  * attributes (the source plan rides along unchanged). The rewritten
  * trees are carried as opaque [[Column]]s, NOT as command
  * expressions: a late-bound `UnresolvedAttribute` inside a command's
  * expression list would (correctly) fail CheckAnalysis; as Columns
  * they resolve where they belong — against the executor's scan.
  */
case class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan): Option[GraftTableV2] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTableV2] =>
        r.table.asInstanceOf[GraftTableV2]
    }

  private def targetIds(plan: LogicalPlan): Set[Long] =
    plan.output.map(_.exprId.id).toSet

  /** Rewrite resolved target-relation references to late-bound names
    * and wrap as an opaque Column (`prefix` = Seq("__t") for MERGE,
    * Nil for single-relation DML).
    */
  private def retarget(e: Expression, tIds: Set[Long],
      prefix: Seq[String]): Column = Bridge.column(e.transform {
    case a: AttributeReference if tIds.contains(a.exprId.id) =>
      UnresolvedAttribute(prefix :+ a.name)
  })

  private def assignName(key: Expression): String = key match {
    case a: AttributeReference => a.name
    case u: UnresolvedAttribute if u.nameParts.length == 1 => u.nameParts.head
    case other => throw new UnsupportedOperationException(
      s"graft DML: cannot assign nested field ${other.sql} — " +
        "graft assignments are whole top-level columns")
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(target, condition) if d.resolved =>
      graftTarget(target) match {
        case Some(gt) =>
          GraftDeleteCommand(gt, retarget(condition, targetIds(target), Nil))
        case None => d
      }

    case u @ UpdateTable(target, assignments, condition) if u.resolved =>
      graftTarget(target) match {
        case Some(gt) =>
          val tIds = targetIds(target)
          val assigns = assignments.map(a =>
            assignName(a.key) -> retarget(a.value, tIds, Nil))
          GraftUpdateCommand(gt,
            assigns, condition.map(retarget(_, tIds, Nil)))
        case None => u
      }

    // Dynamic INSERT OVERWRITE (partitionOverwriteMode=dynamic): no V1
    // write fallback exists for OverwritePartitionsDynamic (the
    // capability check demands a full V2 BatchWrite), so it is claimed
    // here like the other DML and routed to the staged slice swap —
    // exactly the days present in the data replace, one commit.
    case o @ OverwritePartitionsDynamic(target, query, _, _, _)
        if o.resolved =>
      graftTarget(target) match {
        case Some(gt) => GraftDynamicOverwriteCommand(gt, query)
        case None => o
      }

    // WITH SCHEMA EVOLUTION: do NOT claim while the widen is pending —
    // ResolveMergeIntoSchemaEvolution (enabled by the table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability) alters the table through
    // the catalog and swaps in the widened relation; the next analyzer
    // fixed-point pass claims the re-resolved merge, whose target
    // attributes (and star-expansions) already include the new columns.
    case m @ MergeIntoTable(target, source, mergeCond,
        matchedActions, notMatchedActions, notMatchedBySourceActions,
        _) if m.resolved && !m.needSchemaEvolution =>
      graftTarget(target) match {
        case Some(gt) =>
          val tIds = targetIds(target)
          val tNames = target.output.map(_.name)
          val sByName = source.output.map(a => a.name -> a).toMap
          def rt(e: Expression): Column = retarget(e, tIds, Seq("__t"))
          def starAssigns: Seq[(String, Column)] = tNames.map { n =>
            n -> Bridge.column(sByName.getOrElse(n,
              throw new IllegalArgumentException(
                s"graft MERGE: * needs source column '$n' " +
                  "(present in the target schema)")))
          }
          def clause(a: MergeAction): MergeIntoClause = a match {
            case UpdateAction(c, as, _) => MergeIntoUpdate(c.map(rt),
              as.map(x => assignName(x.key) -> rt(x.value)).toMap)
            case UpdateStarAction(c) =>
              MergeIntoUpdate(c.map(rt), starAssigns.toMap)
            case DeleteAction(c) => MergeIntoDelete(c.map(rt))
            case InsertAction(c, as) => MergeIntoInsert(c.map(rt),
              as.map(x => assignName(x.key) -> rt(x.value)).toMap)
            case InsertStarAction(c) =>
              MergeIntoInsert(c.map(rt), starAssigns.toMap)
            case other => throw new UnsupportedOperationException(
              s"graft MERGE: unsupported action $other")
          }
          GraftMergeCommand(gt, source, rt(mergeCond),
            matchedActions.map(clause),
            notMatchedActions.map(clause),
            notMatchedBySourceActions.map(clause))
        case None => m
      }
  }
}

/** `DELETE FROM t WHERE cond` → file-granular
  * [[graft.sources.WarehouseTable.deleteWhere]].
  */
final case class GraftDeleteCommand(gt: GraftTableV2,
    condition: Column) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    require(gt.versionAsOf.isEmpty, "graft: cannot DELETE from a time-travel snapshot")
    gt.table.deleteWhere(condition)
    Seq.empty
  }
}

/** `UPDATE t SET ... WHERE cond` → file-granular
  * [[graft.sources.WarehouseTable.updateWhere]]; assigning the
  * partition slice (moving rows between days) is a MERGE-shaped
  * rewrite and is redirected there.
  */
final case class GraftUpdateCommand(gt: GraftTableV2,
    assigns: Seq[(String, Column)],
    condition: Option[Column]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    require(gt.versionAsOf.isEmpty, "graft: cannot UPDATE a time-travel snapshot")
    require(!assigns.exists(_._1 == GraftTableV2.PDay),
      s"graft UPDATE: assigning ${GraftTableV2.PDay} moves rows between " +
        "partitions — use MERGE INTO (which handles day moves)")
    gt.table.updateWhere(
      condition.getOrElse(lit(true)), assigns.toMap)
    Seq.empty
  }
}

/** Dynamic `INSERT OVERWRITE t SELECT ...` →
  * [[graft.sources.WarehouseTable.overwriteRouted]] scoped to the staged
  * days: the day slices present in the query's rows swap atomically in
  * one commit; all others are untouched. The query arrives conformed
  * to the table schema (value fields + `_pday`), so rows are already
  * routed.
  */
final case class GraftDynamicOverwriteCommand(gt: GraftTableV2,
    query: LogicalPlan) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    require(gt.versionAsOf.isEmpty,
      "graft: cannot INSERT OVERWRITE a time-travel snapshot")
    gt.table.overwriteRouted(Bridge.ofRows(session, query),
      "written slices", staged => staged)
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON cond WHEN ...` →
  * [[graft.sources.WarehouseTable.mergeInto]] (day-pruned
  * copy-on-write, one snapshot commit).
  */
final case class GraftMergeCommand(gt: GraftTableV2, source: LogicalPlan,
    condition: Column, matched: Seq[MergeIntoClause],
    notMatched: Seq[MergeIntoClause],
    notMatchedBySource: Seq[MergeIntoClause]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    require(gt.versionAsOf.isEmpty, "graft: cannot MERGE into a time-travel snapshot")
    val sourceDf = Bridge.ofRows(session, source)
    gt.table.mergeInto(sourceDf, condition, matched, notMatched,
      notMatchedBySource)
    Seq.empty
  }
}
