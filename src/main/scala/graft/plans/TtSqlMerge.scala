package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand

import graft.ops.Mutations
import graft.sources.TtLog

/** src29 — SQL `MERGE INTO` over a tt-catalog table, intercepted at
  * resolution and routed to up18's transactional [[graft.ops.Mutations
  * .ttMergeInto]] — how a table format owns a row-level SQL verb: the
  * parser/analyzer provide the front end, the format provides the
  * commit. (Delta/Iceberg do this through DSv2's
  * `SupportsRowLevelOperations` plumbing; the engine's MERGE is a
  * whole-commit verb, so a direct command substitution expresses it
  * with none of the distributed-rewrite scaffolding that API exists to
  * coordinate.)
  *
  * Supported shape = exactly the engine verb:
  * `ON t.event_id = s.event_id, WHEN MATCHED THEN UPDATE SET *, WHEN
  * NOT MATCHED THEN INSERT *` (star or the equivalent fully-aligned
  * column assignments). Anything else over a tt target dies loudly at
  * analysis — never a silent partial merge.
  */
case class TtSqlMergeRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def ttTableOf(target: LogicalPlan): Option[graft.sources.TtTable] =
    target.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.table.isInstanceOf[graft.sources.TtTable] =>
        r.table.asInstanceOf[graft.sources.TtTable]
    }

  private def isKeyEq(cond: Expression): Boolean = cond match {
    case EqualTo(a: AttributeReference, b: AttributeReference) =>
      a.name.equalsIgnoreCase("event_id") && b.name.equalsIgnoreCase("event_id")
    case _ => false
  }

  /** UPDATE SET * / INSERT *, literally or after the analyzer expanded
    * the star into straight same-name column assignments.
    */
  private def straightAssignments(as: Seq[Assignment]): Boolean =
    as.nonEmpty && as.forall {
      case Assignment(k: Attribute, v: Attribute) =>
        k.name.equalsIgnoreCase(v.name)
      case _ => false
    }
  private def isUpdateAll(actions: Seq[MergeAction]): Boolean = actions match {
    case Seq(UpdateStarAction(None)) => true
    case Seq(UpdateAction(None, as, _)) => straightAssignments(as)
    case _ => false
  }
  private def isInsertAll(actions: Seq[MergeAction]): Boolean = actions match {
    case Seq(InsertStarAction(None)) => true
    case Seq(InsertAction(None, as)) => straightAssignments(as)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m @ MergeIntoTable(target, source, cond,
        matched, notMatched, notMatchedBySource, _)
        if ttTableOf(target).isDefined && source.resolved =>
      val ok = isKeyEq(cond) && isUpdateAll(matched) &&
        isInsertAll(notMatched) && notMatchedBySource.isEmpty
      if (!ok) throw new org.apache.spark.sql.AnalysisException(
        errorClass = "_LEGACY_ERROR_TEMP_0035",
        messageParameters = Map("message" ->
          ("tt MERGE supports exactly: ON t.event_id = s.event_id, " +
            "WHEN MATCHED THEN UPDATE SET *, WHEN NOT MATCHED THEN INSERT * — got: " +
            m.simpleString(3))))
      TtSqlMergeCommand(ttTableOf(target).get.storeDir, source)

    // src30 — SQL DELETE FROM over a tt target routes to up20's
    // MERGE-ON-READ deletion-vector commit: the predicate's matched rows
    // get a (file, key) sidecar, NO data file is rewritten, and every
    // subsequent read (SQL or DataFrame) applies the DV. Arbitrary
    // resolved predicates are supported — the DV job re-applies the
    // expression to the snapshot by column name.
    case d @ DeleteFromTable(target, condition)
        if ttTableOf(target).isDefined && d.resolved =>
      TtSqlDeleteCommand(ttTableOf(target).get.storeDir, condition)

    // src31 — SQL UPDATE over a tt target routes to up21's merge-on-read
    // update: one commit = DV over the old images + a batch of updated
    // images. Assignment keys must be plain columns (SET c = <expr>).
    case u @ UpdateTable(target, assignments, condition)
        if ttTableOf(target).isDefined && u.resolved =>
      val sets = assignments.map {
        case Assignment(k: Attribute, v) => k.name -> v
        case other => throw new org.apache.spark.sql.AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_0035",
          messageParameters = Map("message" ->
            s"tt UPDATE supports only plain column assignments, got $other"))
      }
      TtSqlUpdateCommand(ttTableOf(target).get.storeDir, sets,
        condition.getOrElse(org.apache.spark.sql.catalyst.expressions
          .Literal.TrueLiteral))
  }
}

/** The substituted command: one ttMergeInto commit through
  * [[graft.ops.Mutations.ttOcc]], which re-runs the probe/rewrite against
  * the head that won a lost claim, never publishing a stale rewrite. Runs
  * eagerly under `spark.sql` like every command.
  */
case class TtSqlMergeCommand(dir: String, source: LogicalPlan)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = org.apache.spark.sql.GraftColumns.ofRows(spark, source)
      .select("event_id", "event_type", "cents", "day")
    Mutations.ttOcc(TtLog.listCommitted(spark, dir))(log =>
      Mutations.ttMergeInto(spark, log, src, s"m${log.next}"))
    Seq.empty
  }
}

/** SQL DELETE → one DV commit, re-derived per attempt of
  * [[graft.ops.Mutations.ttOcc]]. The parsed predicate re-binds
  * to the snapshot DataFrame by column NAME (exprIds belong to the SQL
  * relation instance and mean nothing to the snapshot read).
  */
case class TtSqlDeleteCommand(dir: String, condition: Expression)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Mutations.ttOcc(TtLog.listCommitted(spark, dir))(log =>
      Mutations.ttDvDelete(spark, log, s"dv${log.next}", TtSqlCommands.byName(condition),
        dayScope = TtSqlCommands.dayScope(condition)))
    Seq.empty
  }
}

/** SQL UPDATE → one up21 merge-on-read update commit,
  * re-derived per attempt of [[graft.ops.Mutations.ttOcc]].
  */
case class TtSqlUpdateCommand(dir: String, sets: Seq[(String, Expression)],
    condition: Expression) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Mutations.ttOcc(TtLog.listCommitted(spark, dir))(log =>
      Mutations.ttDvUpdate(spark, log, s"u${log.next}", TtSqlCommands.byName(condition),
        sets.map { case (c, e) => c -> TtSqlCommands.byName(e) },
        dayScope = TtSqlCommands.dayScope(condition)))
    Seq.empty
  }
}

private[graft] object TtSqlCommands {
  /** Re-bind a parsed expression to the snapshot DataFrame by column
    * NAME — the SQL relation's exprIds mean nothing to the snapshot
    * read the commands execute against.
    */
  def byName(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftColumns.column(e.transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
    })

  private def nameOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(u.name)
    case _ => None
  }

  /** Partition-scope extraction (r18, the SQL half of the write-path
    * checkpoint-relation resolution): a `day = 'D'` / `day IN (...)`
    * conjunct anywhere in the predicate's top-level AND chain scopes
    * the verb's candidate files to those days — `UPDATE ... WHERE day
    * = 'D' AND type = 'x'` lists only day-D files on the driver. SOUND
    * by implication: the predicate can only match rows inside the
    * extracted days, so out-of-scope files can't contain matches.
    * Anything non-extractable (ORs, functions of day, other columns)
    * returns None and the verb resolves unscoped — never wrong, only
    * unpruned.
    */
  def dayScope(e: Expression): Option[Set[String]] = {
    import org.apache.spark.sql.catalyst.expressions.{And, In, Literal}
    def conjuncts(x: Expression): Seq[Expression] = x match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(e).flatMap {
      case EqualTo(a, Literal(v, org.apache.spark.sql.types.StringType))
          if nameOf(a).exists(_.equalsIgnoreCase("day")) =>
        Some(Set(String.valueOf(v)))
      case EqualTo(Literal(v, org.apache.spark.sql.types.StringType), a)
          if nameOf(a).exists(_.equalsIgnoreCase("day")) =>
        Some(Set(String.valueOf(v)))
      case In(a, vs) if nameOf(a).exists(_.equalsIgnoreCase("day")) &&
          vs.nonEmpty && vs.forall {
            case Literal(_, org.apache.spark.sql.types.StringType) => true
            case _ => false
          } =>
        Some(vs.map { case Literal(v, _) => String.valueOf(v) }.toSet)
      case _ => None
    }.headOption
  }
}
