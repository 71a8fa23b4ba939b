package graft.store

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{AppendData, Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, LogicalPlan, MergeAction, MergeIntoTable, OverwriteByExpression, Project, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.types.LongType

/** The analysis rule that makes [[GraftCatalog]] tables first-class to
  * `spark.sql` (injected by `graft.store.GraftSqlExtensions`):
  *
  *   1. A RESOLVED `UPDATE / DELETE / MERGE INTO` whose target is a
  *      [[GraftTable]] becomes a runnable command dispatching the
  *      MergeStore verb — Spark's analyzer has already resolved names,
  *      aligned assignments, and type-checked conditions against the
  *      catalog schema; the verb re-resolves the (de-qualified)
  *      expressions inside its own pinned-snapshot plan. This runs in
  *      the RESOLUTION batch, so Spark's own row-level-operation
  *      machinery (which would demand SupportsRowLevelOperations and a
  *      full DSv2 write stack) never sees the node.
  *   2. Any remaining GraftTable relation is a pure READ: it is swapped
  *      for the [[GraftFileIndex]] skipping plan (manifest-pruned file
  *      listing, deletion vectors, column mapping), with a projection
  *      re-binding the relation's original attribute ids so references
  *      above stay valid. Relations that are WRITE targets (AppendData
  *      / INSERT, or a still-unresolved DML target) are left alone —
  *      the V1 write fallback and a later pass of this rule handle them.
  *
  * Catalyst sees one declarative plan end to end: filters over the
  * swapped read push into the parquet scan through the skipping index
  * exactly as in [[GraftFileIndex.readSkipping]]. */
final case class GraftResolution(spark: SparkSession)
  extends Rule[LogicalPlan] {

  private def graftOf(plan: LogicalPlan)
      : Option[(DataSourceV2Relation, GraftTable)] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable => Some((r, t))
      case _ => None
    }
    case SubqueryAlias(_, child) => graftOf(child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Cheap bail-out: the extension is injected into EVERY session
    // query's analyzer fixpoint (including each streaming micro-batch's
    // re-analysis), so a plan with no Graft relation anywhere must pay
    // ONE read-only traversal, not two transform passes + a collect.
    // Subquery expressions analyze through their own nested analyzer
    // execution (which re-enters this rule), so the main-plan probe
    // never misses a Graft relation a subquery holds. V2 write
    // commands are UNARY (their `table` relation is a field, not a
    // child), so the probe checks those fields explicitly.
    if (!plan.exists {
      case r: DataSourceV2Relation => r.table.isInstanceOf[GraftTable]
      case a: AppendData => graftOf(a.table).isDefined
      case o: OverwriteByExpression => graftOf(o.table).isDefined
      case o: org.apache.spark.sql.catalyst.plans.logical
          .OverwritePartitionsDynamic => graftOf(o.table).isDefined
      case _ => false
    }) return plan
    val afterDml = plan.resolveOperatorsDown {
      // INSERT OVERWRITE under the session's dynamic
      // partitionOverwriteMode plans OverwritePartitionsDynamic, which
      // has NO V1 write fallback. Graft tables are unpartitioned, so
      // dynamic overwrite ≡ truncate-overwrite: rewrite to the
      // OverwriteByExpression(true) form the V1 path executes.
      case o: org.apache.spark.sql.catalyst.plans.logical
          .OverwritePartitionsDynamic if graftOf(o.table).isDefined =>
        if (o.isByName)
          org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
            .byName(o.table, o.query,
              org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral,
              o.writeOptions)
        else
          org.apache.spark.sql.catalyst.plans.logical.OverwriteByExpression
            .byPosition(o.table, o.query,
              org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral,
              o.writeOptions)
      case u @ UpdateTable(rel, assignments, cond)
          if u.resolved && graftOf(rel).isDefined =>
        GraftUpdateCommand(graftOf(rel).get._2.path,
          assignments.map { case Assignment(k, v) =>
            targetColName(k) -> dequalify(v)
          },
          cond.map(dequalify))
      case d @ DeleteFromTable(rel, cond)
          if d.resolved && graftOf(rel).isDefined =>
        GraftDeleteCommand(graftOf(rel).get._2.path, dequalify(cond))
      case m: MergeIntoTable
          if m.resolved && graftOf(m.targetTable).isDefined =>
        toMergeCommand(m)
      // ALTER TABLE ... ADD CONSTRAINT name CHECK (cond): Spark's own
      // exec would validate via the child scan then call
      // catalog.alterTable — but its session-catalog V1 check crashes
      // on a LogicalRelation without a catalogTable (the shape this
      // rule's read swap produces). MergeStore.addConstraint already
      // validates the existing rows (over the same skipping read) and
      // publishes the policy commit, so dispatch it directly and drop
      // the scan child.
      case a: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint
          if a.child.exists(p => graftOf(p).isDefined) =>
        val t = a.child.collect {
          case p if graftOf(p).isDefined => graftOf(p).get._2
        }.head
        GraftAddConstraintCommand(t.path, a.checkConstraint.name,
          a.checkConstraint.condition)
    }
    // Write targets keep their v2 relation (the V1 fallback writer and
    // un-resolved DML need it); everything else Graft-backed is a read.
    val writeTargets = afterDml.collect {
      case u: UpdateTable => graftOf(u.table).map(_._1)
      case d: DeleteFromTable => graftOf(d.table).map(_._1)
      case m: MergeIntoTable => graftOf(m.targetTable).map(_._1)
      case a: AppendData => graftOf(a.table).map(_._1)
      case o: OverwriteByExpression => graftOf(o.table).map(_._1)
      case o: org.apache.spark.sql.catalyst.plans.logical
          .OverwritePartitionsDynamic => graftOf(o.table).map(_._1)
      case i: InsertIntoStatement => graftOf(i.table).map(_._1)
    }.flatten
    afterDml.resolveOperatorsDown {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftTable] &&
            !writeTargets.exists(_ eq r) =>
        replaceRead(r)
    }
  }

  /** The skipping read under the relation's ORIGINAL attribute ids. */
  private def replaceRead(r: DataSourceV2Relation): LogicalPlan = {
    val t = r.table.asInstanceOf[GraftTable]
    val read = GraftFileIndex.readSkipping(spark, t.path, t.pinnedVersion)
      .queryExecution.analyzed
    val byName = read.output.map(a => a.name.toLowerCase -> a).toMap
    val proj = r.output.map { out =>
      val in = byName.getOrElse(out.name.toLowerCase, sys.error(
        s"catalog schema drift at ${t.path}: column '${out.name}' has " +
          "no match in the manifest read — reload the table"))
      Alias(in, out.name)(exprId = out.exprId)
    }
    Project(proj, read)
  }

  /** Resolved attribute references → bare unresolved names, so the
    * expression re-resolves inside the verb's own plan over the same
    * table. Single-relation statements only (UPDATE/DELETE). A
    * subquery cannot round-trip through `Expression.sql` — refuse it
    * loudly here instead of failing with a parse error downstream. */
  private def dequalify(e: Expression): String = {
    require(!e.exists(_.isInstanceOf[org.apache.spark.sql.catalyst
        .expressions.SubqueryExpression]),
      "subqueries in UPDATE/DELETE conditions are not supported — " +
        "materialize the subquery as a temp view and use MERGE INTO " +
        s"(got: ${e.sql})")
    e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    }.sql
  }

  private def targetColName(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case a: UnresolvedAttribute => a.nameParts.last
    case other => sys.error(
      s"only top-level column assignments are supported; got ${other.sql}")
  }

  /** Resolved MERGE → command. Attribute sides are decided by exprId
    * membership (target vs source output), then spelled onto the verb's
    * `t` / `s` aliases. */
  private def toMergeCommand(m: MergeIntoTable): LogicalPlan = {
    val (_, table) = graftOf(m.targetTable).get
    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet
    def targetOnlySql(e: Expression): String = e.transform {
      case a: AttributeReference if tOut.contains(a) =>
        UnresolvedAttribute(Seq(a.name))
      case a: AttributeReference => sys.error(
        "NOT MATCHED BY SOURCE expressions may reference only the " +
          s"MERGE target; '${a.name}' does not")
    }.sql
    def sideSql(e: Expression): String = e.transform {
      case a: AttributeReference if tOut.contains(a) =>
        UnresolvedAttribute(Seq("t", a.name))
      case a: AttributeReference if sOut.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
    }.sql
    def sourceOnlySql(e: Expression): String = e.transform {
      case a: AttributeReference if sOut.contains(a) =>
        UnresolvedAttribute(Seq("s", a.name))
      case a: AttributeReference => sys.error(
        s"INSERT values may reference only the MERGE source; " +
          s"'${a.name}' does not")
    }.sql
    val pk = keyColumns(m.mergeCondition, tOut, sOut)

    def assignMap(assignments: Seq[Assignment],
                  spell: Expression => String): Seq[(String, String)] =
      assignments.map { case Assignment(k, v) =>
        targetColName(k) -> spell(v)
      }

    // Every assignment is `c = s.c` over the same name — the analyzer's
    // expansion of SET * / INSERT * (over the EVOLVED column set when
    // WITH SCHEMA EVOLUTION added source columns to the target).
    def isStarAssign(assignments: Seq[Assignment]): Boolean =
      assignments.nonEmpty && assignments.forall {
        case Assignment(k, v: AttributeReference) =>
          sOut.contains(v) &&
            v.name.equalsIgnoreCase(targetColName(k))
        case _ => false
      }

    // MERGE WITH SCHEMA EVOLUTION: only the canonical star upsert can
    // evolve (a conditioned or column-listed clause over new columns
    // has no defined value for carried rows) — route it to the merge
    // verb's own evolution (batch-only columns append, carried files
    // null-fill), refuse anything else loudly.
    if (m.withSchemaEvolution) {
      (m.matchedActions, m.notMatchedActions,
          m.notMatchedBySourceActions) match {
        case (Seq(u: UpdateAction), Seq(ia: InsertAction), Seq())
            if u.condition.isEmpty && ia.condition.isEmpty &&
              isStarAssign(u.assignments) && isStarAssign(ia.assignments) =>
          return GraftMergeEvolveCommand(table.path, m.sourceTable, pk)
        case _ => sys.error(
          "MERGE WITH SCHEMA EVOLUTION supports the canonical star " +
            "upsert only (WHEN MATCHED THEN UPDATE SET * WHEN NOT " +
            "MATCHED THEN INSERT *) — a conditioned or column-listed " +
            "clause cannot define the evolved columns' carried values")
      }
    }

    val bySource = m.notMatchedBySourceActions match {
      case Seq() => None
      case Seq(DeleteAction(c)) => Some((c.map(targetOnlySql), None))
      case Seq(u: UpdateAction) => Some((u.condition.map(targetOnlySql),
        Some(assignMap(u.assignments, targetOnlySql))))
      case other => sys.error(
        "WHEN NOT MATCHED BY SOURCE supports one DELETE or UPDATE SET " +
          s"action; got $other")
    }
    // Sole unconditioned WHEN MATCHED DELETE = key-set removal — the
    // cheaper dedicated verb (no pair build at all).
    m.matchedActions match {
      case Seq(DeleteAction(None))
          if m.notMatchedActions.isEmpty && bySource.isEmpty =>
        return GraftMergeDeleteCommand(table.path, m.sourceTable, pk)
      case _ => ()
    }
    // The full matched-clause family, in declaration order (first true
    // condition wins — the verb enforces all-but-last-conditioned):
    // UPDATE [AND cond] SET ... and DELETE [AND cond], any mix.
    val matched: Seq[MergeMatchedSpec] = m.matchedActions.map {
      case u: UpdateAction => MatchedUpdateSpec(u.condition.map(sideSql),
        Some(assignMap(u.assignments, sideSql)))
      case DeleteAction(c) => MatchedDeleteSpec(c.map(sideSql))
      case other => sys.error(
        s"unsupported WHEN MATCHED action: $other — MERGE supports " +
          "UPDATE [AND cond] SET ... and DELETE [AND cond]")
    }
    // Not-matched clauses, in declaration order (first true condition
    // claims the unmatched source row). A not-matched row HAS no
    // target side — conditions and values may reference only the
    // source (sourceOnlySql refuses the rest).
    val inserts: Seq[InsertSpec] = m.notMatchedActions.map {
      case ia: InsertAction =>
        InsertSpec(ia.condition.map(sourceOnlySql),
          Some(assignMap(ia.assignments, sourceOnlySql)))
      case other => sys.error(
        s"unsupported WHEN NOT MATCHED action: $other — only INSERT " +
          "is defined for unmatched source rows")
    }
    GraftMergeCommand(table.path, m.sourceTable, pk, matched,
      inserts, bySource)
  }

  /** ON-clause key columns of a RESOLVED merge condition: a conjunction
    * of target-col = source-col equalities over the SAME column name. */
  private def keyColumns(cond: Expression, tOut: AttributeSet,
                         sOut: AttributeSet): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name.equalsIgnoreCase(b.name) &&
            ((tOut.contains(a) && sOut.contains(b)) ||
              (sOut.contains(a) && tOut.contains(b))) => a.name
      case other => sys.error(
        "MERGE ON clause must be a conjunction of same-named column " +
          s"equalities (t.k = s.k); offending conjunct: ${other.sql} — " +
          "a non-key predicate belongs in WHEN MATCHED AND <cond>, not " +
          "the ON clause")
    }.distinct
  }
}

/** Session extension wiring the catalog's analysis rule and the
  * `table_changes` TVF —
  * `spark.sql.extensions = graft.store.GraftSqlExtensions` (GraftSession
  * sets it). The optional latest-per-key optimizer rewrite stays in
  * `graft.plans.GraftExtensions`, opt-in, so plans without the catalog
  * are untouched. */
class GraftSqlExtensions
  extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(
      e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectResolutionRule(GraftResolution.apply)
    e.injectTableFunction(GraftTableChanges.registration)
  }
}

/** `ALTER TABLE ... ADD CONSTRAINT name CHECK (cond)` at execution
  * time: [[MergeStore.addConstraint]] validates the EXISTING rows (one
  * scan over the skipping read, Delta's add-constraint contract) and
  * publishes the policy as a metadata-only commit. */
final case class GraftAddConstraintCommand(path: String, name: String,
                                           condition: String)
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    MergeStore.addConstraint(spark, path, name, condition): Unit
    Seq.empty
  }
}

/** `UPDATE graft.db.t SET ... WHERE ...` at execution time. */
final case class GraftUpdateCommand(path: String,
                                    set: Seq[(String, String)],
                                    cond: Option[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("rows_updated", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val where = cond.map(expr).getOrElse(lit(true))
    val assigns = set.map { case (k, v) => k -> expr(v) }.toMap
    val rows =
      if (GraftCatalog.isMor(path))
        MergeStore.updateWhereMor(spark, path, where, assigns,
          maxRetries = 3).rowsUpdated
      else MergeStore.updateWhere(spark, path, where, assigns,
        maxRetries = 3).rowsUpdated
    Seq(Row(rows))
  }
}

/** `DELETE FROM graft.db.t WHERE ...` at execution time. */
final case class GraftDeleteCommand(path: String, cond: String)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("rows_deleted", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val rows =
      if (GraftCatalog.isMor(path))
        MergeStore.deleteWhereMor(spark, path, expr(cond),
          maxRetries = 3).rowsDeleted
      else MergeStore.deleteWhere(spark, path, expr(cond),
        maxRetries = 3).rowsDeleted
    Seq(Row(rows))
  }
}

/** `MERGE INTO` with a sole WHEN MATCHED DELETE: key-set removal. The
  * resolved source plan rides along as data (not a child — the command
  * is a leaf; the plan is already analyzed). */
final case class GraftMergeDeleteCommand(path: String,
                                         source: LogicalPlan,
                                         pk: Seq[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("rows_deleted", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graftshim.PlanFrames.ofRows(spark, source)
    val st = MergeStore.delete(spark, path, src, pk, maxRetries = 3)
    Seq(Row(st.rowsDeleted))
  }
}

/** One `WHEN MATCHED` clause, spelled as re-resolvable SQL strings (the
  * command is a leaf; expressions re-resolve inside the verb's own
  * t/s-aliased plan). `assign = None` on an update is `SET *`. */
sealed trait MergeMatchedSpec { def cond: Option[String] }
final case class MatchedUpdateSpec(cond: Option[String],
                                   assign: Option[Seq[(String, String)]])
  extends MergeMatchedSpec
final case class MatchedDeleteSpec(cond: Option[String])
  extends MergeMatchedSpec

/** One `WHEN NOT MATCHED [AND cond] THEN INSERT` clause (source-only
  * scope), same spelling contract as [[MergeMatchedSpec]]. */
final case class InsertSpec(cond: Option[String],
                            vals: Option[Seq[(String, String)]])

/** `MERGE WITH SCHEMA EVOLUTION` — canonical star upsert only, routed
  * to the merge verb's own evolution: batch-only columns APPEND to the
  * table schema, carried files null-fill them on read (Delta's
  * mergeSchema shape), everything else is the ordinary file-granular
  * COW upsert with OCC. */
final case class GraftMergeEvolveCommand(path: String,
                                         source: LogicalPlan,
                                         pk: Seq[String])
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("rows_updated", LongType)(),
      AttributeReference("rows_inserted", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graftshim.PlanFrames.ofRows(spark, source)
    val st = MergeStore.merge(spark, src, path, pk, maxRetries = 3,
      allowSchemaEvolution = true)
    Seq(Row(st.rowsUpdated, st.rowsInserted))
  }
}

/** `MERGE INTO` general form. The canonical full-star upsert (every
  * column assigned `c = s.c`, no condition, star insert) dispatches the
  * cheaper [[MergeStore.merge]] / filtered-merge paths; anything
  * conditioned, column-listed, or multi-clause goes to
  * [[MergeStore.mergeConditional]] (matched clauses in declaration
  * order, first true condition wins — the CDC-apply family). */
final case class GraftMergeCommand(path: String, source: LogicalPlan,
                                   pk: Seq[String],
                                   matched: Seq[MergeMatchedSpec],
                                   inserts: Seq[InsertSpec],
                                   bySource: Option[(Option[String],
                                     Option[Seq[(String, String)]])] = None)
  extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("rows_updated", LongType)(),
      AttributeReference("rows_inserted", LongType)())

  /** The analyzer expands `SET * / INSERT *` into one assignment per
    * table column, each exactly `c = s.c` — detect that shape to
    * dispatch the cheaper star-form verbs. */
  private def isStarMap(vals: Seq[(String, String)],
                        cols: Seq[String]): Boolean =
    vals.map(_._1).sorted == cols.sorted && vals.forall { case (k, v) =>
      v == UnresolvedAttribute(Seq("s", k)).sql
    }

  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.graftshim.PlanFrames.ofRows(spark, source)
    val v = MergeStore.version(path)
      .getOrElse(sys.error(s"no committed version at $path"))
    val fields = MergeStore.manifestSchema(path, v).fields.toSeq
    val cols = fields.map(_.name)
    def asMap(s: Seq[(String, String)]) =
      s.map { case (k, sql) => k -> expr(sql) }.toMap
    val st = (matched, inserts) match {
      // INSERT-only, single clause: matched target rows stay untouched
      // — the filtered merge (anti-join against the statement
      // snapshot) avoids rewriting the matched files at all. A
      // conditional INSERT pre-filters the source (the condition is
      // source-only by construction), which is the same algebra.
      case (Seq(), Seq(InsertSpec(insertCond, insertVals)))
          if bySource.isEmpty =>
        // sourceOnlySql spells the condition over the verb's `s` alias —
        // re-alias here (the statement's own source alias is arbitrary).
        val conditioned = insertCond.map(c =>
            src.alias("s").where(expr(c))) match {
          case Some(f) => f
          case None => src
        }
        val aligned = insertVals match {
          case Some(vals) if !isStarMap(vals, cols) =>
            // A column list that skips a key column would insert
            // NULL-keyed rows the key-probing verbs then drop — refuse
            // (same contract as the no-catalog route).
            val missingPk = pk.filterNot(k => vals.exists(_._1 == k))
            require(missingPk.isEmpty,
              s"INSERT column list must assign every ON-clause key " +
                s"column; missing: ${missingPk.mkString(", ")}")
            val m = asMap(vals)
            conditioned.alias("s").select(fields.map { f =>
              m.getOrElse(f.name, MergeStore.defaultFill(f))
                .cast(MergeStore.nullableForm(f.dataType)).as(f.name)
            }.toIndexedSeq: _*)
          case _ => conditioned.select(cols.map(
            org.apache.spark.sql.functions.col): _*)
        }
        SqlVerbs.mergeFiltered(spark, path, aligned, pk, "left_anti", 3)
      // Canonical upsert: star update + star insert, unconditioned.
      case (Seq(MatchedUpdateSpec(None, Some(ma))),
            Seq(InsertSpec(None, iv)))
          if bySource.isEmpty && isStarMap(ma, cols) &&
            iv.forall(isStarMap(_, cols)) =>
        MergeStore.merge(spark, src.select(cols.map(
          org.apache.spark.sql.functions.col): _*), path, pk,
          maxRetries = 3)
      // Conditional / column-list / multi-clause / update-only /
      // by-source family — one generalized verb call.
      case _ =>
        val actions: Seq[MergeStore.MatchedAction] = matched.map {
          case MatchedUpdateSpec(c, a) =>
            MergeStore.MatchedUpdate(c.map(expr), a.map(asMap))
          case MatchedDeleteSpec(c) =>
            MergeStore.MatchedDelete(c.map(expr))
        }
        MergeStore.mergeConditional(spark, src, path, pk,
          notMatchedBySource = bySource.map { case (c, a) =>
            MergeStore.BySourceAction(c.map(expr), a.map(asMap))
          },
          maxRetries = 3,
          matchedActions = Some(actions),
          insertClauses = Some(inserts.map { case InsertSpec(c, v) =>
            MergeStore.InsertClause(c.map(expr), v.map(asMap))
          }))
    }
    Seq(Row(st.rowsUpdated, st.rowsInserted))
  }
}
