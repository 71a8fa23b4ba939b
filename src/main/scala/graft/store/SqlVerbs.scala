package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.functions.{col, expr, lit}

/** SQL text surface for the MergeStore table verbs: the thin dispatcher
  * that lets an analyst's `UPDATE / DELETE FROM / MERGE INTO` statement
  * drive the format without touching the Scala API — the BI-facing
  * route the reference's documented consumers
  * (`architecture.md:50-56`) would use. Spark's OWN parser produces
  * the standard DML logical plans (`UpdateTable`, `DeleteFromTable`,
  * `MergeIntoTable` — the DSv2 grammar); this walks the UNRESOLVED
  * plan, maps the named table through a caller-supplied
  * name → MergeStore-path catalog, and dispatches to the matching
  * verb. No SQL dialect is invented and no expression is re-parsed by
  * hand: conditions and SET values round-trip through
  * `Expression.sql` back into `functions.expr`, so they evaluate with
  * Spark's exact semantics inside the verb's own plan.
  *
  * Supported statements (refusals are loud and name the limit):
  *   - `UPDATE t SET c = e [, ...] [WHERE p]` → [[MergeStore.updateWhere]]
  *     (or [[MergeStore.updateWhereMor]] with `mor = true`)
  *   - `DELETE FROM t [WHERE p]` → [[MergeStore.deleteWhere]] /
  *     [[MergeStore.deleteWhereMor]]
  *   - `INSERT INTO t [(cols)] VALUES ... | SELECT ...` →
  *     [[MergeStore.append]]; `INSERT OVERWRITE` →
  *     [[MergeStore.overwriteTable]]
  *   - `MERGE INTO t USING s ON t.k = s.k [AND ...]` with the full
  *     action family: MULTIPLE `WHEN MATCHED [AND cond] THEN UPDATE
  *     SET * | SET c = e, ... | DELETE` clauses (declaration order,
  *     first true condition wins, all but the last conditioned —
  *     Delta's contract, covering the CDC-apply statement `WHEN
  *     MATCHED AND s.del THEN DELETE WHEN MATCHED THEN UPDATE SET *`),
  *     `WHEN NOT MATCHED [AND cond] THEN INSERT * | (cols) VALUES
  *     (...)` (condition is source-only scope), and `WHEN NOT MATCHED
  *     BY SOURCE [AND cond] THEN DELETE | UPDATE SET ...`. The
  *     canonical star upsert dispatches [[MergeStore.merge]];
  *     conditioned/column-list/multi-clause/by-source forms dispatch
  *     [[MergeStore.mergeConditional]]; single-action forms keep SQL
  *     semantics (UPDATE-only ignores unmatched source rows,
  *     INSERT-only leaves matched target rows untouched — source
  *     filtered against the statement's snapshot, [[mergeFiltered]]).
  *
  * Concurrency, constraints, stats upkeep, and the change feed are the
  * dispatched verb's own — SQL is a spelling, not a second engine.
  * The DSv2 catalog ([[GraftCatalog]] + [[GraftResolution]]) is the
  * analyzer-resolved route to the same verbs; this object remains the
  * no-catalog path and the shared dispatch target. */
object SqlVerbs {

  sealed trait VerbResult
  final case class Updated(stats: MergeStore.UpdateStats) extends VerbResult
  final case class Deleted(stats: MergeStore.DeleteStats) extends VerbResult
  final case class MorDeleted(stats: MergeStore.MorDeleteStats)
    extends VerbResult
  final case class Merged(stats: MergeStore.MergeStats) extends VerbResult
  final case class Appended(stats: MergeStore.AppendStats) extends VerbResult

  /** Parse and execute one DML statement against `tables`
    * (logical name → MergeStore table path). `mor = true` routes
    * UPDATE/DELETE through the merge-on-read (deletion-vector) verbs. */
  def execute(spark: SparkSession, sqlText: String,
              tables: Map[String, String], mor: Boolean = false,
              maxRetries: Int = 3): VerbResult = {
    val plan = spark.sessionState.sqlParser.parsePlan(sqlText)
    plan match {
      case UpdateTable(rel, assignments, cond) =>
        val path = pathOf(rel, tables)
        lazy val roots = columnRoots(spark, path)
        val strip = stripSelfQualifier(selfNames(rel), roots) _
        val set = assignments.map { case Assignment(k, v) =>
          attrName(k, selfNames(rel)) -> expr(strip(v).sql)
        }.toMap
        val where = cond.map(c => expr(strip(c).sql))
          .getOrElse(org.apache.spark.sql.functions.lit(true))
        if (mor) Updated(MergeStore.updateWhereMor(spark, path, where, set,
          maxRetries = maxRetries))
        else Updated(MergeStore.updateWhere(spark, path, where, set,
          maxRetries = maxRetries))
      case DeleteFromTable(rel, cond) =>
        val path = pathOf(rel, tables)
        val where = expr(stripSelfQualifier(selfNames(rel),
          columnRoots(spark, path))(cond).sql)
        if (mor) MorDeleted(MergeStore.deleteWhereMor(spark, path, where,
          maxRetries = maxRetries))
        else Deleted(MergeStore.deleteWhere(spark, path, where,
          maxRetries = maxRetries))
      case m: MergeIntoTable =>
        executeMerge(spark, m, tables, maxRetries)
      case i: InsertIntoStatement =>
        executeInsert(spark, i, tables, maxRetries)
      case other => sys.error(
        s"SqlVerbs supports UPDATE / DELETE FROM / MERGE INTO / INSERT " +
          s"INTO; got ${other.getClass.getSimpleName} — run queries " +
          "through spark.sql over MergeStore.read, and DDL through the " +
          "Scala API")
    }
  }

  /** `INSERT INTO t [(cols)] VALUES ... / SELECT ...` →
    * [[MergeStore.append]] (blind append — duplicate keys land as
    * duplicate rows, exactly SQL INSERT; use MERGE for upsert);
    * `INSERT OVERWRITE` → [[MergeStore.overwriteTable]]. A column list
    * maps the query's output onto the named columns and NULL-fills the
    * rest; without one the query maps positionally onto the table's
    * columns. Values cast to the table column types (store-assignment). */
  private def executeInsert(spark: SparkSession, i: InsertIntoStatement,
                            tables: Map[String, String],
                            maxRetries: Int): VerbResult = {
    val path = pathOf(i.table, tables)
    require(i.partitionSpec.isEmpty,
      "INSERT ... PARTITION is not supported — MergeStore tables are " +
        "file-clustered, not hive-partitioned")
    val data =
      org.apache.spark.sql.graftshim.PlanFrames.ofRows(spark, i.query)
    val fields = tableFields(path)
    val aligned =
      if (i.userSpecifiedCols.isEmpty) {
        require(data.columns.length == fields.length,
          s"INSERT query produces ${data.columns.length} columns but the " +
            s"table has ${fields.length} " +
            s"(${fields.map(_.name).mkString(", ")}) — list the insert " +
            "columns to assign a subset")
        data.toDF(fields.map(_.name): _*)
          .select(fields.map(f => col(f.name).cast(MergeStore.nullableForm(f.dataType)).as(f.name))
            .toIndexedSeq: _*)
      } else {
        val unknown = i.userSpecifiedCols.filterNot(c =>
          fields.exists(_.name == c))
        require(unknown.isEmpty,
          s"INSERT column(s) ${unknown.mkString(", ")} are not columns " +
            s"of the table (${fields.map(_.name).mkString(", ")})")
        require(i.userSpecifiedCols.length == data.columns.length,
          s"INSERT lists ${i.userSpecifiedCols.length} columns but the " +
            s"query produces ${data.columns.length}")
        val named = data.toDF(i.userSpecifiedCols: _*)
        named.select(fields.map { f =>
          (if (named.columns.contains(f.name)) col(f.name)
           else MergeStore.defaultFill(f))
            .cast(MergeStore.nullableForm(f.dataType)).as(f.name)
        }.toIndexedSeq: _*)
      }
    Appended(
      if (i.overwrite) MergeStore.overwriteTable(spark, aligned, path,
        maxRetries = maxRetries)
      else MergeStore.append(spark, aligned, path, maxRetries = maxRetries))
  }

  private def tableFields(path: String)
      : Seq[org.apache.spark.sql.types.StructField] = {
    val v = MergeStore.version(path)
      .getOrElse(sys.error(s"no committed version at $path"))
    MergeStore.manifestSchema(path, v).fields.toSeq
  }

  private def executeMerge(spark: SparkSession, m: MergeIntoTable,
                           tables: Map[String, String],
                           maxRetries: Int): VerbResult = {
    val path = pathOf(m.targetTable, tables)
    // Lazy: unsupported action shapes must refuse BEFORE the source
    // resolves (a misspelled view would otherwise mask the real error).
    lazy val source = sourceDf(spark, m.sourceTable)
    val pk = keyColumns(m.mergeCondition)
    require(pk.nonEmpty,
      "MERGE ON clause must be a conjunction of same-named column " +
        s"equalities (t.k = s.k); got: ${m.mergeCondition.sql}")
    val tNames = selfNames(m.targetTable)
    val sNames = selfNames(m.sourceTable)
    // Struct-field roots (lazy — consulted only when a multi-part
    // reference is neither alias): a head naming a COLUMN is struct
    // access, not a table qualifier.
    lazy val tRoots = columnRoots(spark, path)
    lazy val sRoots = source.columns.map(_.toLowerCase).toSet
    lazy val bothRoots = tRoots ++ sRoots
    // WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE | UPDATE SET:
    // target-only scope, dispatched as the verb's BySourceAction.
    val bySource: Option[MergeStore.BySourceAction] =
      m.notMatchedBySourceActions match {
        case Seq() => None
        case Seq(DeleteAction(c)) => Some(MergeStore.BySourceAction(
          c.map(e => mapTargetOnly(e, tNames, sNames, tRoots)), None))
        case Seq(u: UpdateAction) => Some(MergeStore.BySourceAction(
          u.condition.map(e => mapTargetOnly(e, tNames, sNames, tRoots)),
          Some(u.assignments.map { case Assignment(k, v) =>
            attrName(k, tNames) -> mapTargetOnly(v, tNames, sNames, tRoots)
          }.toMap)))
        case other => sys.error(
          "WHEN NOT MATCHED BY SOURCE supports one DELETE or UPDATE " +
            s"SET action; got $other")
      }
    // Matched clauses, in declaration order: UPDATE [AND cond] SET
    // (star or column-list) and DELETE [AND cond], any mix — the verb
    // runs the first clause whose condition holds per row and enforces
    // all-but-last-conditioned (Delta's multi-clause contract; `WHEN
    // MATCHED AND s.del THEN DELETE WHEN MATCHED THEN UPDATE SET *` is
    // the canonical CDC-apply statement).
    def matchedActions: Seq[MergeStore.MatchedAction] =
      m.matchedActions.map {
        case UpdateStarAction(c) => MergeStore.MatchedUpdate(
          c.map(e => mapBoth(e, tNames, sNames, bothRoots)), None)
        case u: UpdateAction => MergeStore.MatchedUpdate(
          u.condition.map(e => mapBoth(e, tNames, sNames, bothRoots)),
          Some(u.assignments.map { case Assignment(k, v) =>
            attrName(k, tNames) -> mapBoth(v, tNames, sNames, bothRoots)
          }.toMap))
        case DeleteAction(c) => MergeStore.MatchedDelete(
          c.map(e => mapBoth(e, tNames, sNames, bothRoots)))
        case other => sys.error(
          s"unsupported WHEN MATCHED action: $other — MERGE supports " +
            "UPDATE [AND cond] SET ... and DELETE [AND cond]")
      }
    // Not-matched clauses, in declaration order (first true condition
    // claims the unmatched source row). A not-matched row has no
    // target side, so conditions and values are source-only scope
    // (mapSourceOnly refuses target references).
    def insertClauses: Seq[MergeStore.InsertClause] =
      m.notMatchedActions.map {
        case InsertStarAction(c) => MergeStore.InsertClause(
          c.map(e => mapSourceOnly(e, tNames, sNames, sRoots)), None)
        case ia: InsertAction => MergeStore.InsertClause(
          ia.condition.map(e => mapSourceOnly(e, tNames, sNames, sRoots)),
          Some(ia.assignments.map { case Assignment(k, v) =>
            attrName(k, tNames) -> mapSourceOnly(v, tNames, sNames, sRoots)
          }.toMap))
        case other => sys.error(
          s"unsupported WHEN NOT MATCHED action: $other — only INSERT " +
            "is defined for unmatched source rows")
      }
    // MERGE WITH SCHEMA EVOLUTION: only the canonical star upsert can
    // evolve — the merge verb's own evolution appends batch-only
    // columns and null-fills carried files; any conditioned or
    // column-listed clause has no defined value for the new columns.
    if (m.withSchemaEvolution) {
      (m.matchedActions, m.notMatchedActions,
          m.notMatchedBySourceActions) match {
        case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)),
              Seq()) =>
          return Merged(MergeStore.merge(spark, source, path, pk,
            maxRetries = maxRetries, allowSchemaEvolution = true))
        case _ => sys.error(
          "MERGE WITH SCHEMA EVOLUTION supports the canonical star " +
            "upsert only (WHEN MATCHED THEN UPDATE SET * WHEN NOT " +
            "MATCHED THEN INSERT *) — a conditioned or column-listed " +
            "clause cannot define the evolved columns' carried values")
      }
    }
    (m.matchedActions, m.notMatchedActions) match {
      // The canonical upsert: UPDATE SET * + INSERT *.
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)))
          if bySource.isEmpty =>
        Merged(MergeStore.merge(spark, source, path, pk,
          maxRetries = maxRetries))
      // UPDATE-only: SQL says unmatched source rows are IGNORED, so
      // the source filters to keys PRESENT in the statement's snapshot
      // before the upsert verb runs (a bare merge would insert them).
      case (Seq(UpdateStarAction(None)), Seq()) if bySource.isEmpty =>
        Merged(mergeFiltered(spark, path, source, pk, "left_semi",
          maxRetries))
      // INSERT-only, single clause: matched target rows must stay
      // UNTOUCHED, so the source filters to keys ABSENT from the
      // snapshot. A condition pre-filters the source (same algebra —
      // it is source-only); a column list aligns the source onto the
      // table first (unlisted columns NULL).
      case (Seq(), Seq(notMatched)) if bySource.isEmpty =>
        val insertCond = insertClauses.head.condition
        val conditioned = insertCond
          .map(c => source.alias("s").where(c)).getOrElse(source)
        val aligned = notMatched match {
          case InsertStarAction(_) => conditioned
          case ia: InsertAction =>
            alignInsertSource(spark, path, conditioned, ia, sNames, pk)
          case other => sys.error(s"unreachable action shape: $other")
        }
        Merged(mergeFiltered(spark, path, aligned, pk, "left_anti",
          maxRetries))
      // Sole unconditioned WHEN MATCHED THEN DELETE: key-set removal —
      // the dedicated verb, no pair build at all.
      case (Seq(DeleteAction(None)), Seq()) if bySource.isEmpty =>
        Deleted(MergeStore.delete(spark, path, source, pk,
          maxRetries = maxRetries))
      // Conditional / column-list / multi-clause / by-source family —
      // one generalized verb call.
      case _ =>
        Merged(MergeStore.mergeConditional(spark, source, path, pk,
          notMatchedBySource = bySource, maxRetries = maxRetries,
          matchedActions = Some(matchedActions),
          insertClauses = Some(insertClauses)))
    }
  }

  /** Column-list INSERT-only MERGE: align the source onto the table's
    * columns (assigned values under their target names, the rest NULL)
    * so the star-shaped filtered-merge path can run it. */
  private def alignInsertSource(spark: SparkSession, path: String,
                                source: DataFrame, ia: InsertAction,
                                sNames: Set[String],
                                pk: Seq[String]): DataFrame = {
    val fields = tableFields(path)
    val vals = ia.assignments.map { case Assignment(k, v) =>
      attrName(k, Set.empty) -> mapSourceOnly(v, Set.empty, sNames,
        source.columns.map(_.toLowerCase).toSet)
    }.toMap
    val missingPk = pk.filterNot(vals.contains)
    require(missingPk.isEmpty,
      s"INSERT column list must assign every ON-clause key column; " +
        s"missing: ${missingPk.mkString(", ")}")
    source.alias("s").select(fields.map { f =>
      vals.getOrElse(f.name, MergeStore.defaultFill(f))
        .cast(MergeStore.nullableForm(f.dataType)).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Rewrite a MERGE expression's column qualifiers onto the verb's
    * own `t` (target) / `s` (source) aliases, preserving struct-field
    * tails (`tgt.meta.kind` → `t.meta.kind`). A bare column — or a
    * multi-part reference whose head names a COLUMN of either side
    * (struct access) — stays as written; the verb's join resolves it,
    * or names the ambiguity. Any other qualifier refuses loudly. */
  private def mapBoth(e: Expression, tNames: Set[String],
                      sNames: Set[String],
                      roots: => Set[String]): Column =
    expr(e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        val head = a.nameParts.head.toLowerCase
        if (tNames.contains(head))
          UnresolvedAttribute("t" +: a.nameParts.tail)
        else if (sNames.contains(head))
          UnresolvedAttribute("s" +: a.nameParts.tail)
        else if (roots.contains(head)) a // struct-field access
        else sys.error(
          s"column reference '${a.nameParts.mkString(".")}' qualifies " +
            s"by '${a.nameParts.head}', which is neither the MERGE " +
            "target nor its source (nor a struct column of either)")
    }.sql)

  /** NOT MATCHED BY SOURCE expressions see only the TARGET row: the
    * verb evaluates them over bare target columns, so target-qualified
    * references strip their alias (struct tails preserved) and a
    * source-qualified reference refuses (SQL scope rule — no source
    * row exists for these rows). */
  private def mapTargetOnly(e: Expression, tNames: Set[String],
                            sNames: Set[String],
                            tRoots: => Set[String]): Column =
    expr(e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        val head = a.nameParts.head.toLowerCase
        if (tNames.contains(head)) UnresolvedAttribute(a.nameParts.tail)
        else if (tRoots.contains(head)) a // struct-field access
        else sys.error(
          "NOT MATCHED BY SOURCE expressions may reference only the " +
            s"MERGE target; '${a.nameParts.mkString(".")}' does not")
    }.sql)

  /** INSERT VALUES expressions see only the SOURCE row: bare columns
    * (and bare struct paths) scope to it, source-qualified references
    * map to `s`, and a target-qualified reference refuses (SQL scope
    * rule). */
  private def mapSourceOnly(e: Expression, tNames: Set[String],
                            sNames: Set[String],
                            sRoots: => Set[String]): Column =
    expr(e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        UnresolvedAttribute(Seq("s", a.nameParts.head))
      case a: UnresolvedAttribute =>
        val head = a.nameParts.head.toLowerCase
        if (sNames.contains(head))
          UnresolvedAttribute("s" +: a.nameParts.tail)
        else if (sRoots.contains(head))
          UnresolvedAttribute("s" +: a.nameParts)
        else sys.error(
          s"INSERT values may reference only the MERGE source; " +
            s"'${a.nameParts.mkString(".")}' does not")
    }.sql)

  /** Single-action MERGE forms: the source semi/anti-joins the
    * statement's PINNED snapshot on the key (update-only keeps matched
    * keys, insert-only keeps unmatched), then the upsert verb runs
    * against that SAME snapshot. On a lost CAS the whole
    * filter-then-merge REPLAYS against the fresh head — retrying only
    * the inner merge would re-match a stale filter (a key a rival
    * inserted mid-flight must count as "matched" for SQL's
    * NOT-MATCHED evaluation, exactly OCC's serializability story).
    * The inner merge may still resolve a provably file-disjoint rival
    * by rebase: its read set and this filter share one snapshot. */
  private[store] def mergeFiltered(spark: SparkSession, path: String,
                                   source: DataFrame, pk: Seq[String],
                                   joinType: String, maxRetries: Int)
      : MergeStore.MergeStats = {
    val v = MergeStore.version(path)
      .getOrElse(sys.error(s"no committed version at $path"))
    val filtered = source.join(
      MergeStore.read(spark, path, Some(v)).select(pk.map(
        org.apache.spark.sql.functions.col): _*),
      pk, joinType)
    try MergeStore.merge(spark, filtered, path, pk,
      snapshotVersion = Some(v))
    catch {
      case _: java.util.ConcurrentModificationException
          if maxRetries > 0 =>
        val st = mergeFiltered(spark, path, source, pk, joinType,
          maxRetries - 1)
        st.copy(recomputes = st.recomputes + 1)
    }
  }

  private def pathOf(rel: LogicalPlan,
                     tables: Map[String, String]): String = rel match {
    case r: UnresolvedRelation =>
      val name = r.multipartIdentifier.mkString(".")
      tables.getOrElse(name, tables.getOrElse(
        r.multipartIdentifier.last,
        sys.error(s"unknown MergeStore table '$name' — register it in " +
          s"the catalog map (known: ${tables.keys.toSeq.sorted.mkString(", ")})")))
    case SubqueryAlias(_, child) => pathOf(child, tables)
    case other => sys.error(
      s"expected a bare table name, got ${other.getClass.getSimpleName}")
  }

  /** MERGE source: a table / temp view name (optionally aliased). A
    * registered MergeStore table name resolves through [[MergeStore.read]];
    * anything else goes to the session catalog (temp views, catalog
    * tables). Subqueries: register a temp view first. */
  private def sourceDf(spark: SparkSession, rel: LogicalPlan): DataFrame =
    rel match {
      case r: UnresolvedRelation => spark.table(r.multipartIdentifier
        .mkString("."))
      case SubqueryAlias(_, child) => sourceDf(spark, child)
      case other => sys.error(
        "MERGE USING must name a table or temp view (register a " +
          s"subquery as a temp view first); got ${other.getClass.getSimpleName}")
    }

  /** The names a statement may use to qualify its own target's columns:
    * the alias if one was written (`UPDATE ord t SET t.x ...`), plus the
    * table's own (possibly dotted) name. */
  private def selfNames(rel: LogicalPlan): Set[String] = rel match {
    case SubqueryAlias(id, child) => selfNames(child) + id.name.toLowerCase
    case r: UnresolvedRelation =>
      Set(r.multipartIdentifier.mkString(".").toLowerCase,
        r.multipartIdentifier.last.toLowerCase)
    case _ => Set.empty
  }

  /** The table's top-level column names (lowercased) — a multi-part
    * reference whose head is one of these is STRUCT-FIELD access, not
    * a table qualifier. */
  private def columnRoots(spark: SparkSession, path: String): Set[String] =
    tableFields(path).map(_.name.toLowerCase).toSet

  /** Strip the statement's OWN alias/table qualifier from column
    * references (`t.x` → `x`, `t.meta.kind` → `meta.kind` when `t`
    * names the target), so the condition round-trips through
    * `Expression.sql` into a frame that carries no alias. A head that
    * names a table COLUMN is struct-field access and passes through
    * untouched. Any OTHER qualifier refuses loudly here — left alone
    * it would surface later as an unrelated-looking
    * unresolved-attribute error deep inside the verb. */
  private def stripSelfQualifier(self: Set[String],
                                 roots: => Set[String])(e: Expression)
      : Expression = e.transformUp {
    case a: UnresolvedAttribute if a.nameParts.length > 1 =>
      val head = a.nameParts.head.toLowerCase
      if (self.contains(head)) UnresolvedAttribute(a.nameParts.tail)
      else if (a.nameParts.length > 2 &&
          self.contains(a.nameParts.take(2).mkString(".").toLowerCase))
        UnresolvedAttribute(a.nameParts.drop(2))
      else if (roots.contains(head)) a // struct-field access
      else sys.error(
        s"column reference '${a.nameParts.mkString(".")}' qualifies by " +
          s"'${a.nameParts.head}', which is neither this statement's " +
          "target table/alias nor one of its columns — UPDATE/DELETE " +
          "conditions may reference only the target's own columns")
  }

  private def attrName(e: Expression, self: Set[String]): String = e match {
    case a: UnresolvedAttribute if a.nameParts.length == 1 =>
      a.nameParts.head
    case a: UnresolvedAttribute
        if self.contains(a.nameParts.init.mkString(".").toLowerCase) =>
      a.nameParts.last
    case a: UnresolvedAttribute => sys.error(
      s"SET target '${a.nameParts.mkString(".")}' qualifies by " +
        s"'${a.nameParts.init.mkString(".")}', which is not this " +
        "statement's target table or alias")
    case other => sys.error(
      s"SET target must be a bare column, got: ${other.sql}")
  }

  /** Key columns of a MERGE ON conjunction: every conjunct must be an
    * equality between the SAME column name on both sides. A refusal
    * names the offending conjunct — a user mixing equalities with an
    * extra predicate (`t.k = s.k AND t.ts < s.ts`) should move the
    * predicate into WHEN MATCHED AND, not the ON clause. */
  private def keyColumns(cond: Expression): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val keys = conjuncts(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.last == b.nameParts.last => a.nameParts.last
      case other => sys.error(
        "MERGE ON clause must be a conjunction of same-named column " +
          s"equalities (t.k = s.k); offending conjunct: ${other.sql} — " +
          "a non-key predicate belongs in WHEN MATCHED AND <cond>, not " +
          "the ON clause")
    }
    keys.distinct
  }
}
