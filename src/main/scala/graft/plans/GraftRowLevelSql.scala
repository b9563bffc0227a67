package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, CommonExpressionRef, Expression, SubqueryExpression, With}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.{ColumnExpr, SessionIsolation}

import graft.sources.ManifestTable
import graft.sources.v2.GraftTable

/** Native ANSI row-level DML on graft_lake catalog tables — Spark's own
  * `UPDATE` / `MERGE INTO` / `DELETE FROM` statements, without
  * SupportsRowLevelOperations: an injected analyzer rule (the same move
  * Delta ships in DeltaAnalysis) intercepts the RESOLVED logical nodes
  * and rewrites them onto the manifest mutators, which already own the
  * hard parts — conservative file pruning, copy-on-write rewrite of only
  * the touched files, CAS commit, change-feed records:
  *
  * {{{
  * UPDATE graft_lake.ns.t SET v = v * 2 WHERE day = '2026-01-01'
  * DELETE FROM graft_lake.ns.t WHERE length(s) > 80   -- any deterministic predicate
  * MERGE INTO graft_lake.ns.t t USING src s ON t.k = s.k
  *   WHEN MATCHED THEN UPDATE SET v = t.v + s.v
  *   WHEN NOT MATCHED THEN INSERT *
  *   WHEN NOT MATCHED BY SOURCE THEN DELETE
  * }}}
  *
  * The rule fires only once the node is fully resolved (conditions and
  * assignments bound), then UN-resolves the expressions back to
  * name-based Columns — the mutators re-resolve them against their own
  * scan of the table, which is exactly the evaluate-against-old-row
  * semantics SQL demands. Translation limits are refused loudly, never
  * silently narrowed: no subqueries in conditions, single unconditional
  * WHEN clauses (the manifest merge applies one action per branch), and
  * a MERGE ON that is a conjunction of target-column = source-column
  * equalities (the key-join shape the O(matched-files) merge is built
  * on). Everything else still has the programmatic/GRAFT-grammar escape
  * hatch. */
class GraftRowLevelSql(spark: SparkSession) extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan): Option[GraftTable] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable => Some(t)
      case _ => None
    }
    case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(_, child) =>
      graftTarget(child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftTarget(target).isDefined =>
      val t = graftTarget(target).get
      GraftSqlUpdateCommand(t.root,
        condition.map(RowLevelTranslate.targetColumn(_, "UPDATE")),
        RowLevelTranslate.targetAssignments(assignments, "UPDATE"))

    case d @ DeleteFromTable(target, condition)
        if d.resolved && graftTarget(target).isDefined =>
      val t = graftTarget(target).get
      GraftSqlDeleteCommand(t.root,
        RowLevelTranslate.targetColumn(condition, "DELETE"))

    case m: MergeIntoTable
        if m.resolved && graftTarget(m.targetTable).isDefined =>
      RowLevelTranslate.mergeCommand(m, graftTarget(m.targetTable).get)
  }
}

private[plans] object RowLevelTranslate {
  import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}

  private def checkNoSubquery(e: Expression, stmt: String): Unit =
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft catalog $stmt: subqueries in conditions/assignments are not " +
        "supported — materialize the subquery into a source and use MERGE")

  /** A resolved expression un-resolved back to a name-based Column the
    * mutator re-resolves against its own scan, each attribute renamed by
    * `name`. `With` scopes (BETWEEN's replacement binds its input once)
    * inline first: a definition over un-resolved attributes has no type,
    * and re-resolving the scope asks it for one. */
  private def unresolve(e: Expression, stmt: String)
                       (name: AttributeReference => String): Column = {
    checkNoSubquery(e, stmt)
    val inlined = e.transformUp {
      case w: With =>
        require(w.defs.forall(_.child.deterministic),
          s"graft catalog $stmt: a non-deterministic BETWEEN/common " +
            "expression cannot be translated")
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transform { case r: CommonExpressionRef => defs(r.id) }
    }
    ColumnExpr.column(inlined.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(name(a)))
    })
  }

  /** A resolved expression over TARGET attributes. */
  def targetColumn(e: Expression, stmt: String): Column =
    unresolve(e, stmt)(_.name)

  def targetAssignments(assignments: Seq[Assignment],
                        stmt: String): Map[String, Column] = {
    val set = assignments.map { asg =>
      val key = asg.key match {
        case a: AttributeReference => a.name
        case other => sys.error(
          s"graft catalog $stmt: only top-level columns can be assigned, got $other")
      }
      key -> targetColumn(asg.value, stmt)
    }
    require(set.map(_._1).distinct.size == set.size,
      s"graft catalog $stmt: duplicate assignment targets")
    set.toMap
  }

  /** An expression over target + source attributes, source references
    * rewritten onto the manifest merge's `_src_` join seam. */
  private def mergeColumn(e: Expression, sourceAttrs: AttributeSet,
                          branch: String, allowSource: Boolean): Column =
    unresolve(e, "MERGE") { a =>
      if (sourceAttrs.contains(a)) {
        require(allowSource,
          s"graft catalog MERGE: $branch cannot reference the source " +
            s"(got ${a.name}) — no source row exists on that branch")
        "_src_" + a.name
      } else a.name
    }

  /** A bare column reference, possibly under the LOSSLESS widening cast
    * the analyzer inserts to reconcile key types (`ON t.k = s.k` with a
    * BIGINT target and an INT source arrives as `t.k = cast(s.k)`).
    * Only `Cast.canUpCast` shapes unwrap. */
  private def keyAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      c.child match {
        case a: AttributeReference
            if org.apache.spark.sql.catalyst.expressions.Cast
              .canUpCast(a.dataType, c.dataType) => Some(a)
        case _ => None
      }
    case _ => None
  }

  /** The ON condition as equality key pairs: a conjunction of
    * `target.col = source.col` (either side order), refused otherwise.
    * The analyzer's widening cast is accepted ONLY around the SOURCE
    * attribute ([[keyAttr]]): the engine joins in the TARGET column's
    * type, so `cast(s.k) = t.k` with an INT source is the same join
    * after the source batch widens — but a cast around the TARGET
    * (`cast(t.k AS DOUBLE) = s.k`, a DOUBLE source against a BIGINT
    * key) means SQL compares in the WIDE domain while the engine would
    * compare narrowed — 1.5 must match nothing, not row 1 — so that
    * shape keeps the refusal. */
  private def keyPairs(cond: Expression, targetAttrs: AttributeSet,
                       sourceAttrs: AttributeSet)
      : Seq[(String, String)] = cond match {
    case And(l, r) =>
      keyPairs(l, targetAttrs, sourceAttrs) ++ keyPairs(r, targetAttrs, sourceAttrs)
    case EqualTo(l, r) =>
      def bareTarget(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference if targetAttrs.contains(a) => Some(a)
        case _ => None
      }
      def srcSide(e: Expression): Option[AttributeReference] =
        keyAttr(e).filter(sourceAttrs.contains)
      (bareTarget(l), srcSide(r)) match {
        case (Some(t), Some(s)) => Seq(t.name -> s.name)
        case _ => (bareTarget(r), srcSide(l)) match {
          case (Some(t), Some(s)) => Seq(t.name -> s.name)
          case _ => sys.error(
            "graft catalog MERGE: ON must be a conjunction of target-column = " +
              s"source-column equalities (the key-join merge shape), got: " +
              s"${EqualTo(l, r)} — non-equi merge conditions (including keys " +
              "the analyzer must WIDEN the target to compare) are not supported")
        }
      }
    case other => sys.error(
      "graft catalog MERGE: ON must be a conjunction of target-column = " +
        s"source-column equalities (the key-join merge shape), got: $other — " +
        "non-equi merge conditions are not supported")
  }

  def mergeCommand(m: MergeIntoTable, t: GraftTable): GraftSqlMergeCommand = {
    val sourceAttrs = AttributeSet(m.sourceTable.output)
    val targetAttrs = AttributeSet(m.targetTable.output)
    val keys = keyPairs(m.mergeCondition, targetAttrs, sourceAttrs)
    require(keys.nonEmpty, "graft catalog MERGE: ON names no key columns")

    def unconditional(cond: Option[Expression], what: String): Unit =
      require(cond.isEmpty,
        s"graft catalog MERGE: a conditional $what clause (WHEN … AND <cond>) " +
          "is not supported here — fold the condition into the source query")

    def assignKey(asg: Assignment): String = asg.key match {
      case a: AttributeReference => a.name
      case other => sys.error(
        s"graft catalog MERGE: only top-level columns can be assigned, got $other")
    }

    /** Ordered UPDATE clauses (conditions allowed, first match wins)
      * folded into ONE per-column cascade — `when(c1, v1).when(c2, v2)
      * .otherwise(old)` — which the manifest merge's single MatchUpdate
      * evaluates row-by-row: pure translation, the Delta multi-clause
      * semantics with no engine change. A clause that does not assign a
      * column leaves it at the OLD value on its branch (per-row
      * first-match-wins, not per-column). */
    def updateCascade(clauses: Seq[(Option[Expression], Seq[Assignment])],
                      branch: String, allowSource: Boolean)
        : Map[String, Column] = {
      val translated = clauses.map { case (cond, asgs) =>
        (cond.map(mergeColumn(_, sourceAttrs, branch, allowSource)),
          asgs.map(a => assignKey(a) ->
            mergeColumn(a.value, sourceAttrs, branch, allowSource)).toMap)
      }
      translated.dropRight(1).foreach { case (c, _) => require(c.isDefined,
        s"graft catalog MERGE: only the LAST $branch clause may be " +
          "unconditional (an earlier one would shadow the rest)") }
      val cols = translated.flatMap(_._2.keys).distinct
      cols.map { c =>
        c -> translated.foldRight(org.apache.spark.sql.functions.col(c)) {
          case ((cond, set), acc) =>
            val branchValue = set.getOrElse(c, org.apache.spark.sql.functions.col(c))
            cond match {
              case Some(cc) => org.apache.spark.sql.functions
                .when(cc, branchValue).otherwise(acc)
              case None => branchValue
            }
        }
      }.toMap
    }

    def asUpdateClause(a: org.apache.spark.sql.catalyst.plans.logical.MergeAction)
        : Option[(Option[Expression], Seq[Assignment])] = a match {
      case u: UpdateAction => Some((u.condition, u.assignments))
      case u: UpdateStarAction =>
        // star = assign every target column from its same-named source
        // attribute (resolution guarantees they exist once aligned; if
        // we see the star un-expanded, synthesize the assignments)
        val byName = m.sourceTable.output.map(x => x.name -> x).toMap
        Some((u.condition, m.targetTable.output.map { t =>
          val s = byName.getOrElse(t.name, sys.error(
            s"graft catalog MERGE: UPDATE SET * needs source column '${t.name}'"))
          Assignment(t, s)
        }))
      case _ => None
    }

    // WHEN MATCHED → one action; several (conditional) UPDATE clauses
    // fold into a first-match-wins cascade
    val whenMatched: ManifestTable.WhenMatched = m.matchedActions match {
      case Seq() => ManifestTable.MatchUpdate(Map.empty)
      case Seq(u: UpdateStarAction) if u.condition.isEmpty =>
        ManifestTable.MatchUpdateAll
      case Seq(d: DeleteAction) =>
        unconditional(d.condition, "MATCHED"); ManifestTable.MatchDelete
      case Seq(u: UpdateAction) if u.condition.isEmpty =>
        // an aligned UPDATE SET * arrives as a full column list of bare
        // source references — collapse it to the wholesale replace
        val wholesale = u.assignments.nonEmpty && u.assignments.forall {
          case Assignment(k: AttributeReference, v: AttributeReference) =>
            sourceAttrs.contains(v) && k.name == v.name
          case _ => false
        } && u.assignments.size == m.targetTable.output.size
        if (wholesale) ManifestTable.MatchUpdateAll
        else ManifestTable.MatchUpdate(updateCascade(
          Seq((None, u.assignments)), "MATCHED", allowSource = true))
      case updates if updates.forall(asUpdateClause(_).isDefined) =>
        ManifestTable.MatchUpdate(updateCascade(
          updates.map(asUpdateClause(_).get), "MATCHED", allowSource = true))
      case other => sys.error(
        "graft catalog MERGE: WHEN MATCHED supports one DELETE (unconditional) " +
          s"or any number of UPDATE clauses (first match wins), got $other — " +
          "a conditional DELETE needs the GRAFT grammar or a delete+merge pair")
    }

    // WHEN NOT MATCHED → insert the source row wholesale, or nothing
    val insertUnmatched = m.notMatchedActions match {
      case Seq() => false
      case Seq(i: InsertStarAction) => unconditional(i.condition, "NOT MATCHED"); true
      case Seq(i: InsertAction) =>
        unconditional(i.condition, "NOT MATCHED")
        val wholesale = i.assignments.forall {
          case Assignment(k: AttributeReference, v: AttributeReference) =>
            sourceAttrs.contains(v) && k.name == v.name
          case _ => false
        } && i.assignments.size == m.targetTable.output.size
        require(wholesale,
          "graft catalog MERGE: WHEN NOT MATCHED supports INSERT * (insert " +
            "the source row) — project the shape you want in the source query")
        true
      case other => sys.error(
        s"graft catalog MERGE: at most one WHEN NOT MATCHED clause, got ${other.size}")
    }

    // WHEN NOT MATCHED BY SOURCE → unconditional delete, or (conditional)
    // target-only UPDATE clauses folded like the matched branch
    val bySource: Option[ManifestTable.WhenNotMatchedBySource] =
      m.notMatchedBySourceActions match {
        case Seq() => None
        case Seq(d: DeleteAction) =>
          unconditional(d.condition, "NOT MATCHED BY SOURCE")
          Some(ManifestTable.SourceMissDelete)
        case updates if updates.forall(_.isInstanceOf[UpdateAction]) =>
          Some(ManifestTable.SourceMissUpdate(updateCascade(
            updates.map { case u: UpdateAction => (u.condition, u.assignments) },
            "NOT MATCHED BY SOURCE", allowSource = false)))
        case other => sys.error(
          "graft catalog MERGE: WHEN NOT MATCHED BY SOURCE supports one " +
            s"unconditional DELETE or UPDATE clauses (first match wins), got $other")
      }

    GraftSqlMergeCommand(t.root, m.sourceTable, keys, whenMatched,
      insertUnmatched, bySource)
  }
}

/** ANSI `UPDATE` on a catalog table: copy-on-write rewrite of only the
  * files the (conservatively pruned) predicate can touch. */
final case class GraftSqlUpdateCommand(root: String, condition: Option[Column],
                                       set: Map[String, Column])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    ManifestTable.retryOnConflict()(
      ManifestTable.update(session, root, condition.getOrElse(lit(true)), set))
    Seq.empty
  }
}

/** ANSI `DELETE FROM` on a catalog table — ANY deterministic predicate
  * (not just source-filter-convertible ones: the mutator re-resolves the
  * full expression against its own scan). */
final case class GraftSqlDeleteCommand(root: String, condition: Column)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    ManifestTable.retryOnConflict()(
      ManifestTable.delete(session, root, condition))
    Seq.empty
  }
}

/** ANSI `MERGE INTO` on a catalog table, translated onto the manifest
  * key-join merge: keys from the ON equalities (source columns aliased
  * to the target spelling), one action per branch. */
final case class GraftSqlMergeCommand(root: String, source: LogicalPlan,
                                      keys: Seq[(String, String)],
                                      whenMatched: ManifestTable.WhenMatched,
                                      insertUnmatched: Boolean,
                                      bySource: Option[ManifestTable.WhenNotMatchedBySource])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    var src = SessionIsolation.planFrame(session, source)
    // the manifest merge joins on SHARED key names: alias source keys
    // onto the target spelling where they differ. A source that ALREADY
    // carries a column spelled like the target key (MERGE ON t.k =
    // s.other_k with the source also holding k) would yield duplicate
    // column names and an opaque ambiguity failure deep in the merge
    // plan — refuse up front with the actionable shape instead.
    keys.foreach { case (tName, sName) =>
      if (tName != sName) {
        // the mapped column itself may differ from the target spelling
        // only by case — that rename is unambiguous; refuse only a
        // genuinely DISTINCT pre-existing column with the target name
        require(!src.columns.exists(c =>
            c.equalsIgnoreCase(tName) && !c.equalsIgnoreCase(sName)),
          s"MERGE INTO: the ON clause maps source column '$sName' onto " +
            s"target key '$tName', but the source already has a column " +
            s"named '$tName' — alias or drop it in the source query so " +
            "the key mapping is unambiguous")
        src = src.withColumnRenamed(sName, tName)
      }
    }
    // SQL sources arrive with SQL-literal types (INT ids, DECIMAL
    // prices); a V2 table write would get the analyzer's implicit
    // store-assignment coercion, so this surface applies the same
    // contract (Cast.canANSIStoreAssign — decimal→double yes,
    // string→int no). KEY columns can never narrow here: keyPairs
    // only accepted casts AROUND THE SOURCE, so their source type
    // up-casts losslessly to the table's by construction. Remaining
    // differences stay for the manifest merge's type check to refuse.
    val tableTypes = ManifestTable.logicalSchema(session, root, None)
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    src.schema.foreach { f =>
      tableTypes.get(f.name.toLowerCase).foreach { tt =>
        if (tt != f.dataType &&
            org.apache.spark.sql.catalyst.expressions.Cast
              .canANSIStoreAssign(f.dataType, tt))
          src = src.withColumn(f.name,
            org.apache.spark.sql.functions.col(f.name).cast(tt))
      }
    }
    ManifestTable.retryOnConflict()(
      ManifestTable.merge(session, root, src, keys.map(_._1),
        whenMatched, insertUnmatched = insertUnmatched,
        notMatchedBySource = bySource))
    Seq.empty
  }
}
