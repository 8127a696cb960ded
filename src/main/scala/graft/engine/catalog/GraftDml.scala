package graft.engine.catalog

import graft.engine.GraftTable
import graft.engine.source.CarbonishTable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.expr

/** SQL `UPDATE <table> SET ... WHERE ...` for carbonish catalog tables.
  *
  * Spark's own parser produces an analyzed [[UpdateTable]] command, but
  * only executes it for `SupportsRowLevelOperations` sources; for
  * everything else the built-in strategy throws. This strategy (injected
  * ahead of the built-ins by [[graft.engine.Graft.install]]) intercepts
  * the analyzed plan and routes it to the engine's copy-on-write
  * [[graft.engine.Mutation]] path — only segments containing matching
  * rows are rewritten, so a point UPDATE on a 100 TB table touches ~1
  * segment. `DELETE FROM` needs no strategy: the source implements DSv2
  * `SupportsDelete` and Spark plans it natively.
  *
  * Reference semantics: CarbonSpark2SqlParser.scala:239 (deleteRecords)
  * and :259 (updateTable) — there a bespoke parser; here Spark's parser +
  * a planner hook, so aliases/subqueries/ANSI quirks are all inherited.
  */
class GraftDmlStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case UpdateTable(rel, assignments, condition) =>
      carbonishPath(rel) match {
        case Some(path) =>
          val set = assignments.map {
            case Assignment(k: AttributeReference, v) => k.name -> unqualifiedSql(v)
            case Assignment(k, _) => throw new UnsupportedOperationException(
              s"UPDATE of nested field not supported: ${k.sql}")
          }.toMap
          GraftUpdateExec(path, set, condition.map(unqualifiedSql)) :: Nil
        case None => Nil
      }
    // Native `spark.sql("MERGE INTO …")` for carbonish catalog tables
    // (reference ships MERGE as first-class SQL, CarbonAntlrParser.scala:
    // 25-40 → CarbonMergeIntoSQLCommand). Spark 4 parses + fully resolves
    // MergeIntoTable; for tables without SupportsRowLevelOperations the
    // command survives analysis and only dies in the planner
    // (SparkStrategies$BasicOperators "MERGE INTO TABLE is not supported
    // temporarily") — so this earlier strategy can claim it and route to
    // the single-projection copy-on-write MergeBuilder. Star actions are
    // already expanded by the analyzer; expressions arrive resolved, and
    // are re-rendered with the builder's `t.`/`s.` aliases by exprId
    // ownership (target vs source output sets).
    // schema evolution would silently widen the target mid-merge —
    // reject with a specific message instead of the generic planner one
    case m: MergeIntoTable
        if m.withSchemaEvolution && carbonishPath(m.targetTable).isDefined =>
      throw new UnsupportedOperationException(
        "MERGE INTO ... WITH SCHEMA EVOLUTION is not supported on carbonish " +
          "tables; ALTER TABLE ... ADD COLUMNS first, then merge")
    case m: MergeIntoTable if !m.withSchemaEvolution =>
      carbonishPath(m.targetTable) match {
        case Some(path) =>
          val tgtSet = m.targetTable.outputSet
          val srcSet = m.sourceTable.outputSet
          def qualSql(e: Expression): String = e.transform {
            case a: AttributeReference if tgtSet.contains(a) => a.withQualifier(Seq("t"))
            case a: AttributeReference if srcSet.contains(a) => a.withQualifier(Seq("s"))
            case a: AttributeReference => a.withQualifier(Nil)
          }.sql
          def assigns(as: Seq[Assignment]): Seq[(String, String)] = as.map {
            case Assignment(k: AttributeReference, v) => k.name -> qualSql(v)
            case Assignment(k, _) => throw new UnsupportedOperationException(
              s"MERGE assignment to nested field not supported: ${k.sql}")
          }
          def conv(actions: Seq[MergeAction]): Seq[SqlMergeAction] = actions.map {
            case UpdateAction(cond, as, _) =>
              SqlMergeAction("update", cond.map(qualSql), assigns(as))
            case DeleteAction(cond) => SqlMergeAction("delete", cond.map(qualSql), Nil)
            case InsertAction(cond, as) =>
              SqlMergeAction("insert", cond.map(qualSql), assigns(as))
            case other => throw new UnsupportedOperationException(
              s"unsupported MERGE action: $other")
          }
          GraftMergeExec(path, m.sourceTable, qualSql(m.mergeCondition),
            conv(m.matchedActions), conv(m.notMatchedActions),
            conv(m.notMatchedBySourceActions)) :: Nil
        case None => Nil
      }
    case _ => Nil
  }

  /** Resolved attributes render as `catalog.ns.table.col`, which doesn't
    * resolve against the mutation's own table read — strip qualifiers. */
  private def unqualifiedSql(e: Expression): String =
    e.transform {
      case a: AttributeReference => a.withQualifier(Nil)
    }.sql

  /** The planner sees the OPTIMIZED tree, where V2ScanRelationPushDown
    * has already turned the relation into a DataSourceV2ScanRelation —
    * match both shapes so the strategy fires regardless of phase. */
  private def carbonishPath(rel: LogicalPlan): Option[String] =
    rel.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[CarbonishTable] =>
        r.table.asInstanceOf[CarbonishTable].tablePath
      case r: DataSourceV2ScanRelation if r.relation.table.isInstanceOf[CarbonishTable] =>
        r.relation.table.asInstanceOf[CarbonishTable].tablePath
    }
}

/** Eagerly-executed command node: Spark's command execution calls
  * `executeCollect()` once on the analyzed command, which runs the
  * mutation. The expressions travel as SQL text (they were resolved
  * against the relation during analysis, so names are valid) and are
  * re-resolved against the table's own read — the mutation job plans its
  * scan from the tablestatus exactly like the API path. */
case class GraftUpdateExec(
    path: String,
    set: Map[String, String],
    condSql: Option[String]) extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  private def run(): Unit = {
    val t = GraftTable.at(SparkSession.active, path)
    t.update(expr(condSql.getOrElse("true")),
      set.map { case (k, v) => k -> expr(v) })
  }

  override def executeCollect(): Array[InternalRow] = { run(); Array.empty }

  protected override def doExecute(): RDD[InternalRow] = {
    run(); sparkContext.emptyRDD
  }
}

/** One WHEN clause of a SQL MERGE, carried as re-parseable SQL text
  * (expressions were resolved during analysis, then rendered with the
  * builder's `t.`/`s.` qualifiers — re-resolution against the builder's
  * aliased join is exact). kind ∈ update|delete|insert. */
case class SqlMergeAction(kind: String, cond: Option[String], sets: Seq[(String, String)])

/** Eagerly-executed MERGE INTO command: routes the analyzed statement to
  * the engine's [[graft.engine.MergeBuilder]] (one full-outer join, one
  * projection, file-grain copy-on-write victims). The source keeps its
  * analyzed plan — arbitrary queries (views, subselects, joins) work.
  * Note: Spark's MERGE_CARDINALITY_VIOLATION check is not enforced —
  * like the reference, a multi-matching source applies per joined row. */
case class GraftMergeExec(
    path: String,
    @transient source: LogicalPlan,
    condSql: String,
    matched: Seq[SqlMergeAction],
    notMatched: Seq[SqlMergeAction],
    bySource: Seq[SqlMergeAction]) extends LeafExecNode {

  override def output: Seq[Attribute] = Nil

  private def run(): Unit = {
    val spark = SparkSession.active
    val t = GraftTable.at(spark, path)
    val src = org.apache.spark.sql.graft.Shims.ofRows(spark, source)
    var b = t.merge(src, expr(condSql))
    def setMap(sets: Seq[(String, String)]): Map[String, org.apache.spark.sql.Column] =
      sets.map { case (k, v) => k -> expr(v) }.toMap
    def cnd(c: Option[String]): org.apache.spark.sql.Column = c.map(expr).orNull
    matched.foreach {
      case SqlMergeAction("update", c, sets) => b = b.whenMatched(cnd(c)).updateExpr(setMap(sets))
      case SqlMergeAction("delete", c, _) => b = b.whenMatched(cnd(c)).delete()
      case a => throw new UnsupportedOperationException(s"WHEN MATCHED ${a.kind}")
    }
    notMatched.foreach {
      case SqlMergeAction("insert", c, sets) => b = b.whenNotMatched(cnd(c)).insertExpr(setMap(sets))
      case a => throw new UnsupportedOperationException(s"WHEN NOT MATCHED ${a.kind}")
    }
    bySource.foreach {
      case SqlMergeAction("update", c, sets) =>
        b = b.whenNotMatchedAndExistsOnlyOnTarget(cnd(c)).updateExpr(setMap(sets))
      case SqlMergeAction("delete", c, _) =>
        b = b.whenNotMatchedAndExistsOnlyOnTarget(cnd(c)).delete()
      case a => throw new UnsupportedOperationException(s"WHEN NOT MATCHED BY SOURCE ${a.kind}")
    }
    b.execute()
  }

  override def executeCollect(): Array[InternalRow] = { run(); Array.empty }

  protected override def doExecute(): RDD[InternalRow] = {
    run(); sparkContext.emptyRDD
  }
}
