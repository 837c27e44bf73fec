package graft.catalog

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, PlanExpression, And => CatalystAnd}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{EqualTo => CatalystEqualTo}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, Command, DeleteAction, InsertAction, LeafNode, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions
import org.apache.spark.sql.sources.Filter

import graft.functions.{CmsAggExpr, ShinglesExpr}
import graft.sources.{IcebergLiteTable, PrunePredicate}
import graft.table.IcebergLite

/** Session extensions for the graft engine — `--conf
  * spark.sql.extensions=graft.catalog.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions()(_))`).
  *
  * Adds the SQL row-level-mutation surface Spark's built-in planner only
  * offers to `SupportsRowLevelOperations` tables:
  * `UPDATE graft.db.t SET col = expr, ... WHERE pred`. The post-hoc rule
  * rewrites a resolved [[UpdateTable]] over a graft relation into
  * [[GraftUpdateCommand]], planned by [[GraftCommandStrategy]] into an
  * eager command exec that calls [[IcebergLite.updateWhere]] — the engine's
  * manifest-pruned copy-on-write rewrite. Deliberately NOT Spark's generic
  * group-based `ReplaceData` path: that rewrite streams every row of every
  * affected group through a full distributed write and loses the engine's
  * per-epoch lineage grouping, while the engine rewrite touches only
  * matched files, preserves source epochs (incremental streams serve
  * patched deltas), row order, bucket ids and recomputed stats, and prunes
  * candidates with the same manifest stats the scan path uses.
  *
  * It also registers the engine's native SQL functions (`graft_shingles`,
  * `graft_cms_sketch`, `graft_cms_est`; see [[graft.functions.GraftFunctions]]).
  *
  * Scale note: the conjuncts of the WHERE clause that translate to pushable
  * V1 filters feed [[PrunePredicate]] (ts-interval + conv_id-bucket file
  * pruning) — a conv-scoped UPDATE at 10^12-turn scale rewrites one
  * bucket's files per epoch, not the table. Untranslatable conjuncts only
  * cost pruning, never correctness (the full predicate is re-evaluated
  * exactly per candidate row).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(session => GraftUpdateRewrite(session))
    ext.injectPlannerStrategy(_ => GraftCommandStrategy)
    ext.injectFunction(ShinglesExpr.registration)
    ext.injectFunction(CmsAggExpr.registration)
    ext.injectFunction(CmsAggExpr.estRegistration)
  }
}

/** Logical command carrying everything [[GraftUpdateExec]] needs, with
  * expressions already rendered to SQL text: per-file rewrites re-resolve
  * them against each data file's own relation, so carrying resolved
  * `AttributeReference`s (whose expr-ids belong to the UPDATE's relation)
  * would be wrong — the text form is the stable cross-plan contract. */
final case class GraftUpdateCommand(root: String,
                                    assignSql: Seq[(String, String)],
                                    condSql: Option[String],
                                    pruneFilters: Seq[Filter],
                                    predicateText: String)
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
}

/** Post-hoc resolution rule: resolved `UPDATE` over a graft table →
  * [[GraftUpdateCommand]]. Fires after the main resolution batch (names and
  * types are resolved) and before Spark's check rules would reject
  * `UpdateTable` for a table without `SupportsRowLevelOperations`. */
final case class GraftUpdateRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  private def relationOf(p: LogicalPlan): Option[DataSourceV2Relation] = p match {
    case r: DataSourceV2Relation => Some(r)
    case SubqueryAlias(_, child) => relationOf(child)
    case _                       => None
  }

  /** Qualifier-free SQL text: attribute references are rendered as bare
    * column names so `functions.expr` re-resolves them against the per-file
    * DataFrame (where no alias qualifier exists). */
  private def toSql(e: Expression): String =
    e.transform { case a: AttributeReference => UnresolvedAttribute(Seq(a.name)) }.sql

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CatalystAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case other             => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u @ UpdateTable(tableChild, assignments, condition) if u.resolved =>
      relationOf(tableChild) match {
        case Some(r) if r.table.isInstanceOf[IcebergLiteTable] =>
          val t = r.table.asInstanceOf[IcebergLiteTable]
          if (t.asOfEpoch.isDefined)
            throw new UnsupportedOperationException(
              s"cannot UPDATE the time-travel view ${t.name()} — updates " +
                "apply to the live table")
          val exprs = condition.toSeq ++ assignments.flatMap(a => Seq(a.key, a.value))
          if (exprs.exists(_.exists(_.isInstanceOf[PlanExpression[_]])))
            throw new UnsupportedOperationException(
              "graft UPDATE does not support subqueries in SET or WHERE — " +
                "materialize the subquery and use literal predicates")
          // the predicate is evaluated per candidate file (probe count +
          // rewrite projection), not once per statement: rand() would
          // match one set of rows and rewrite another, and wall-clock
          // functions would fold to a different instant per file
          if (exprs.exists(_.exists(!_.deterministic)))
            throw new UnsupportedOperationException(
              "graft UPDATE does not support non-deterministic expressions " +
                "in SET or WHERE — they would evaluate differently per " +
                "rewritten file")
          if (exprs.exists(_.exists {
            case _: org.apache.spark.sql.catalyst.expressions.CurrentTimestampLike => true
            case _: org.apache.spark.sql.catalyst.expressions.CurrentDate => true
            case _: org.apache.spark.sql.catalyst.expressions.LocalTimestamp => true
            case _ => false
          }))
            throw new UnsupportedOperationException(
              "graft UPDATE does not support wall-clock functions " +
                "(current_timestamp/current_date/localtimestamp) — they " +
                "would fold to a different instant per rewritten file; " +
                "pass the timestamp as a literal")
          val assignSql = assignments.map { a =>
            a.key match {
              case k: AttributeReference => k.name -> toSql(a.value)
              case other => throw new UnsupportedOperationException(
                s"graft UPDATE targets top-level columns only, got: ${other.sql}")
            }
          }
          val pruneFilters = condition.toSeq.flatMap(conjuncts)
            .flatMap(c => org.apache.spark.sql.GraftInternals.translateFilter(c))
          GraftUpdateCommand(t.rootPath, assignSql, condition.map(toSql),
            pruneFilters, u.simpleString(50))
        case _ => plan
      }

    // NOTE matched even when unresolved: the table advertises
    // ACCEPT_ANY_SCHEMA (the lineage-column write path needs it), which
    // makes Spark's analyzer deliberately SKIP reference resolution for
    // MERGE ("the connector handles names") — so this rule resolves the
    // restricted shapes it supports by name itself.
    case m @ MergeIntoTable(targetChild, sourcePlan, cond, matchedActions,
        notMatchedActions, notMatchedBySource, withSchemaEvolution)
        if targetChild.resolved && sourcePlan.resolved =>
      relationOf(targetChild) match {
        case Some(r) if r.table.isInstanceOf[IcebergLiteTable] =>
          val t = r.table.asInstanceOf[IcebergLiteTable]
          if (t.asOfEpoch.isDefined)
            throw new UnsupportedOperationException(
              s"cannot MERGE into the time-travel view ${t.name()}")
          if (withSchemaEvolution)
            throw new UnsupportedOperationException(
              "graft MERGE does not support WITH SCHEMA EVOLUTION — " +
                "ALTER TABLE ... ADD COLUMN first")
          if (notMatchedBySource.nonEmpty)
            throw new UnsupportedOperationException(
              "graft MERGE does not support WHEN NOT MATCHED BY SOURCE")
          val resolver = session.sessionState.conf.resolver
          // (column name, isTargetSide) of a reference, resolved against
          // exactly one side — ambiguous or unknown names are rejected
          def sideOf(e: Expression): Option[(String, Boolean)] = e match {
            case a: AttributeReference =>
              if (targetChild.outputSet.contains(a)) Some((a.name, true))
              else if (sourcePlan.outputSet.contains(a)) Some((a.name, false))
              else None
            case u: UnresolvedAttribute =>
              (targetChild.resolve(u.nameParts, resolver),
                sourcePlan.resolve(u.nameParts, resolver)) match {
                case (Some(a), None) => Some((a.name, true))
                case (None, Some(a)) => Some((a.name, false))
                case _               => None
              }
            case _ => None
          }

          // the ON clause must be the table's natural key, equi-joined to
          // same-name source columns — the shape the engine's bucket-set
          // pruning and per-file key joins are built on
          val onPairs = conjuncts(cond).map { c =>
            val pair = c match {
              case CatalystEqualTo(l, r2) =>
                (sideOf(l), sideOf(r2)) match {
                  case (Some((tn, true)), Some((sn, false))) => Some((tn, sn))
                  case (Some((sn, false)), Some((tn, true))) => Some((tn, sn))
                  case _                                     => None
                }
              case _ => None
            }
            pair.getOrElse(throw new UnsupportedOperationException(
              "graft MERGE requires ON target.conv_id = source.conv_id AND " +
                s"target.turn_idx = source.turn_idx; got conjunct: ${c.sql}"))
          }
          if (onPairs.toSet != Set(("conv_id", "conv_id"), ("turn_idx", "turn_idx")))
            throw new UnsupportedOperationException(
              "graft MERGE is keyed by (conv_id, turn_idx): the ON clause " +
                "must equi-join exactly those columns to same-name source " +
                s"columns; got: ${onPairs.mkString(", ")}")

          // assignment keys are TARGET columns by SQL MERGE scoping
          // (an unqualified key must not be rejected as "ambiguous")
          def targetColOf(e: Expression): Option[String] = e match {
            case a: AttributeReference
                if targetChild.outputSet.contains(a) => Some(a.name)
            case u: UnresolvedAttribute =>
              targetChild.resolve(u.nameParts, resolver).map(_.name)
            case _ => None
          }
          def assignedCol(a: Assignment, what: String): String =
            (targetColOf(a.key), sideOf(a.value)) match {
              case (Some(kn), Some((vn, false))) if kn == vn => kn
              case _ => throw new UnsupportedOperationException(
                s"graft MERGE $what assignments must be <col> = " +
                  s"<source same-name col>; got: ${a.key.sql} = ${a.value.sql}")
            }
          val matchedOpt: Option[graft.table.MergeMatched] = matchedActions match {
            case Seq() => None
            case Seq(UpdateAction(None, assigns, _)) =>
              Some(graft.table.MergeUpdateCols(
                assigns.map(assignedCol(_, "UPDATE")).toSeq))
            case Seq(DeleteAction(None)) => Some(graft.table.MergeDeleteMatched)
            case _ => throw new UnsupportedOperationException(
              "graft MERGE supports ONE unconditioned WHEN MATCHED action: " +
                "THEN UPDATE SET <cols from source> or THEN DELETE")
          }
          val insert = notMatchedActions match {
            case Seq() => false
            case Seq(InsertAction(None, assigns)) =>
              val declared = org.apache.spark.sql.types.StructType
                .fromDDL(new IcebergLite(t.rootPath).schemaDdl).fieldNames.toSet
              val provided = assigns.map(assignedCol(_, "INSERT")).toSet
              val miss = declared -- provided
              if (miss.nonEmpty) throw new UnsupportedOperationException(
                "graft MERGE INSERT must provide every declared column " +
                  s"from same-name source columns; missing: ${miss.mkString(", ")}")
              true
            case _ => throw new UnsupportedOperationException(
              "graft MERGE supports ONE unconditioned WHEN NOT MATCHED " +
                "THEN INSERT (cols) VALUES (source same-name cols)")
          }
          if (matchedOpt.isEmpty && !insert)
            throw new UnsupportedOperationException(
              "graft MERGE requires at least one WHEN MATCHED / WHEN NOT " +
                "MATCHED action")
          GraftMergeCommand(t.rootPath, sourcePlan, matchedOpt, insert,
            m.simpleString(50))
        case _ => plan
      }
    case _ => plan
  }
}

/** Logical command for SQL `MERGE INTO` over a graft table. The resolved
  * source plan is carried as a FIELD (not a child): the engine
  * re-materializes it as a DataFrame at execution — one job over the feed —
  * so Spark never plans a merge join over the 10^12-turn target. */
final case class GraftMergeCommand(root: String,
                                   sourcePlan: LogicalPlan,
                                   matched: Option[graft.table.MergeMatched],
                                   insertNotMatched: Boolean,
                                   description: String)
    extends LeafNode with Command {
  override def output: Seq[Attribute] = Nil
  // the source plan is part of this command's identity (innerChildren
  // also gets it rendered in EXPLAIN)
  override def innerChildren: Seq[LogicalPlan] = Seq(sourcePlan)
}

object GraftCommandStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftUpdateCommand(root, assignSql, condSql, pruneFilters, text) =>
      GraftUpdateExec(root, assignSql, condSql, pruneFilters, text) :: Nil
    case GraftMergeCommand(root, sourcePlan, matched, insert, text) =>
      GraftMergeExec(root, sourcePlan, matched, insert, text) :: Nil
    case _ => Nil
  }
}

/** Eager MERGE exec: materializes the source feed from its resolved plan
  * and hands it to [[IcebergLite.merge]] (validation, bucket-set pruning,
  * per-file rewrites, pending-activation insert epoch — one atomic
  * manifest). */
final case class GraftMergeExec(root: String,
                                sourcePlan: LogicalPlan,
                                matched: Option[graft.table.MergeMatched],
                                insertNotMatched: Boolean,
                                description: String)
    extends LeafExecNode {
  override def output: Seq[Attribute] = Nil

  private lazy val done: Unit = {
    val spark = SparkSession.active
    val src = org.apache.spark.sql.GraftInternals.ofRows(spark, sourcePlan)
    new IcebergLite(root).merge(spark, src, "sql-merge", matched,
      insertNotMatched, description)
    ()
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    done; sparkContext.emptyRDD[InternalRow]
  }
}

/** Eager command exec: one engine call, no distributed plan of its own —
  * the engine's per-file rewrites run their own (small, column-pruned)
  * Spark jobs. */
final case class GraftUpdateExec(root: String,
                                 assignSql: Seq[(String, String)],
                                 condSql: Option[String],
                                 pruneFilters: Seq[Filter],
                                 predicateText: String)
    extends LeafExecNode {
  override def output: Seq[Attribute] = Nil

  private lazy val done: Unit = {
    val spark = SparkSession.active
    val cond = condSql.map(functions.expr).getOrElse(functions.lit(true))
    val assigns = assignSql.map { case (n, s) => n -> functions.expr(s) }
    val pred = PrunePredicate.from(pruneFilters.filter(PrunePredicate.prunable))
    new IcebergLite(root).updateWhere(spark, cond, assigns, predicateText,
      pred.prune)
    ()
  }

  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    done; sparkContext.emptyRDD[InternalRow]
  }
}
