package graft.engine.index

import graft.engine.GraftTable
import graft.engine.source.CarbonishScan
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Automatic SI acceleration for plain SQL/DataFrame filters — the
  * reference's CarbonSITransformationRule + BroadCastSIFilterPushJoin
  * pair (secondary_index/.../CarbonSITransformationRule.scala:59): a
  * `WHERE indexed_col = v` / `IN (…)` over a carbonish scan is
  * rewritten to the SI-pinned read ([[Si.pinnedFor]]: row-group →
  * file → segment grain) with the ORIGINAL filter kept as the exact
  * residual, so users get index pruning without calling
  * [[Si.readWhereIn]] themselves. Installed by
  * [[graft.engine.Graft.install]]. */
class SiRewriteRule extends Rule[LogicalPlan] {

  /** Past this many literals an index probe stops being a point lookup
    * (the IN-list itself scans a meaningful index fraction) — leave
    * the plan to the ordinary stats ladder. */
  private val MaxValues = 256

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(_, _) =>
        try rewrite(f).getOrElse(f)
        catch { case scala.util.control.NonFatal(_) => f } // never break a query
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** (attribute, external literal values) of an equality/IN conjunct —
    * the shapes the SI can serve. Optimizer may have turned a long IN
    * into InSet; nulls never match an isin lookup so they drop out. */
  private def lookupOf(e: Expression): Option[(Attribute, Seq[Any])] = {
    def ext(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
      CatalystTypeConverters.createToScalaConverter(dt)(v)
    e match {
      case EqualTo(a: Attribute, Literal(v, dt)) if v != null => Some((a, Seq(ext(v, dt))))
      case EqualTo(Literal(v, dt), a: Attribute) if v != null => Some((a, Seq(ext(v, dt))))
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val lits = vs.collect { case Literal(v, dt) if v != null => ext(v, dt) }
        if (lits.isEmpty) None else Some((a, lits))
      case InSet(a: Attribute, vs) if vs.nonEmpty =>
        val lits = vs.toSeq.filter(_ != null).map(ext(_, a.dataType))
        if (lits.isEmpty) None else Some((a, lits))
      case _ => None
    }
  }

  /** The scan is only safe to pin when every node between the filter
    * and the relation is row-1:1 and filter-transparent (Project /
    * Filter / SubqueryAlias). Anything else — Limit (changes WHICH
    * rows survive), Window / Aggregate (values computed over the
    * peer set), Sample, joins — could observe the removed rows, so
    * the rewrite declines (same safety set as Catalyst's own
    * predicate pushdown). */
  @scala.annotation.tailrec
  private def scanBelow(p: LogicalPlan)
      : Option[(DataSourceV2ScanRelation, CarbonishScan)] = p match {
    case r @ DataSourceV2ScanRelation(_, cs: CarbonishScan, _, _, _) =>
      // a pinned scan is this rule's own output — or an explicit
      // insegment/readFiles read — and must not re-trigger
      // (fixed-point batches would otherwise loop)
      if (cs.scanOptions.containsKey("segments")) None else Some((r, cs))
    case Project(_, child) => scanBelow(child)
    case Filter(_, child) => scanBelow(child)
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      scanBelow(s.child)
    case _ => None
  }

  private def rewrite(f: Filter): Option[LogicalPlan] = {
    val spark = SparkSession.active
    // pure expression analysis first — most filters carry no equality/
    // IN conjunct, and they must not pay the plan walk or a table-meta
    // stat call on every optimizer pass
    val lookups = splitConjuncts(f.condition).flatMap(lookupOf)
      .filter(_._2.size <= MaxValues)
    if (lookups.isEmpty) return None
    val found = scanBelow(f.child)
    if (found.isEmpty) return None
    val (rel, cs) = found.get
    val t = GraftTable.at(spark, cs.layout.tablePath)
    val siCols = t.meta.properties.keys
      .filter(_.startsWith("si.")).map(_.stripPrefix("si.")).toSet
    if (siCols.isEmpty) return None
    // first conjunct the SI can serve; the WHOLE original condition
    // stays above as the exact residual (the pinned base is a superset)
    val hit = lookups.collectFirst {
      case (a, vs) if siCols.exists(_.equalsIgnoreCase(a.name)) &&
        rel.output.exists(_.exprId == a.exprId) => (a, vs)
    }
    hit.flatMap { case (attr, values) =>
      val colName = siCols.find(_.equalsIgnoreCase(attr.name)).get
      Si.pinnedFor(t, colName, values).map { base =>
        // plan the pinned read with exactly the relation's columns, then
        // project back onto the original attribute ids so everything
        // above (residual filter included) resolves unchanged
        val pruned = graft.engine.mv.MvRewriteRule.withoutRewrite {
          base.select(rel.output.map(a =>
            org.apache.spark.sql.functions.col(a.name)).toSeq: _*)
            .queryExecution.optimizedPlan
        }
        val byName = pruned.output.map(a => a.name.toLowerCase -> a).toMap
        val newRel: LogicalPlan = Project(rel.output.map(a =>
          Alias(byName(a.name.toLowerCase), a.name)(exprId = a.exprId)), pruned)
        val newChild = f.child.transformUp { case r if r eq rel => newRel }
        Filter(f.condition, newChild)
      }
    }
  }
}
