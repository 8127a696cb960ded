package graft.engine.mv

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The MV query-rewrite rule (reference MVRewriteRule.scala:44 +
  * MVMatcher subsumption, scoped to groupby-rollup — see [[Mv]]).
  *
  * Matching is purely structural: the query Aggregate's child must be
  * canonically identical to the MV's child; groupings must map into the
  * MV's grouping outputs; each aggregate must decompose over the MV's
  * partial results. The rewritten plan re-aggregates the MV table, so
  * a 100 TB fact scan becomes a scan of the (tiny) MV segment.
  */
object MvRewriteRule {
  private val disabled = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  /** Run `body` with rewriting off (MV create/refresh must see base data).
    * Nests: the SI and text rules call this from inside the optimizer,
    * and must not turn rewriting back on for an enclosing create or
    * refresh. */
  def withoutRewrite[T](body: => T): T = {
    val was = disabled.get()
    disabled.set(true)
    try body finally disabled.set(was)
  }
  private[mv] def isDisabled: Boolean = disabled.get()
}

class MvRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvRewriteRule.isDisabled || MvCatalog.all.isEmpty) plan
    else {
      val afterAgg = plan.transformUp {
        case agg: Aggregate =>
          MvCatalog.all.view
            .flatMap { mv =>
              // an MV must never break a query: any matching hiccup means
              // "no rewrite", not a failure
              try tryRewrite(agg, mv)
              catch { case scala.util.control.NonFatal(_) => None }
            }
            .headOption.getOrElse(agg)
      }
      // select-only (SPJ) MV serving — reference MVMatcher
      // SelectSelectNoChildDelta (MVMatcher.scala:613): a filtered
      // projection is served by a select-only MV whose filter it
      // subsumes. Attempted at the plan ROOT only: rewriting interior
      // Project/Filter nodes would break the canonical-equality matches
      // of any enclosing Aggregate (and a groupby MV serving the whole
      // aggregate always beats a select MV serving its input).
      if (!afterAgg.fastEquals(plan)) afterAgg
      else MvCatalog.all.view
        .flatMap { mv =>
          try trySelectRewrite(afterAgg, mv)
          catch { case scala.util.control.NonFatal(_) => None }
        }
        .headOption.getOrElse(afterAgg)
    }

  private def stripAlias(e: Expression): Expression = e match {
    case Alias(c, _) => c
    case other => other
  }

  /** timeseries()/date_trunc granularity lattice: rank of each
    * TruncTimestamp level on the nested chain (week is off-chain —
    * month/quarter/year boundaries are not week boundaries). */
  private def truncLevel(fmt: String): Option[Int] = fmt.toUpperCase match {
    case "MICROSECOND" => Some(0)
    case "MILLISECOND" => Some(1)
    case "SECOND" => Some(2)
    case "MINUTE" => Some(3)
    case "HOUR" => Some(4)
    case "DAY" | "DD" => Some(5)
    case "WEEK" => Some(6)
    case "MON" | "MONTH" | "MM" => Some(7)
    case "QUARTER" => Some(8)
    case "YEAR" | "YYYY" | "YY" => Some(9)
    case _ => None
  }

  /** Can `date_trunc(coarse, x)` be computed as
    * `date_trunc(coarse, date_trunc(fine, x))`? True when every coarse
    * boundary is a fine boundary: the non-week levels nest linearly;
    * week derives from day or finer, and nothing derives from week
    * (except week itself, which the exact-match path already covers). */
  private def truncDerivable(coarse: String, fine: String): Boolean =
    (truncLevel(coarse), truncLevel(fine)) match {
      case (Some(c), Some(f)) =>
        if (f == 6) false // week reproduces only week (exact match path)
        else if (c == 6) f <= 5 // week from day/hour/…
        else c >= f
      case _ => false
    }

  /** Drop pure column-pruning Projects — the optimizer inserts different
    * ones for the MV and for each query over the same child. Only the
    * top-level chain is stripped: recursing into n-ary nodes (Union,
    * Join) can change per-branch arities and break their output
    * contracts. */
  private def stripPruning(p: LogicalPlan): LogicalPlan = p match {
    case org.apache.spark.sql.catalyst.plans.logical.Project(list, child)
        if list.forall(_.isInstanceOf[AttributeReference]) =>
      stripPruning(child)
    case other => other
  }

  /** Unwrap the carbonish runtime-filtering wrapper to the delegated
    * parquet scan (matching must see through it, or two reads of the
    * same carbonish table would never line up). */
  private def unwrap(s: org.apache.spark.sql.connector.read.Scan)
      : org.apache.spark.sql.connector.read.Scan = s match {
    case cs: graft.engine.source.CarbonishScan => cs.currentInner
    case other => other
  }


  /** A parquet scan acceptable on the QUERY side: bare, or carrying only
    * data filters that are conjuncts of the residual Filter above it
    * (V2ScanRelationPushDown pushes the Filter's conjuncts into the scan
    * but keeps the Filter node — re-applying the full predicate over the
    * MV preserves exactness, so such pushed filters are safe to accept). */
  private def queryParquetScan(
      s: org.apache.spark.sql.connector.read.Scan,
      allowedCanon: Set[Expression]): Boolean =
    unwrap(s) match {
      case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        ps.partitionFilters.isEmpty &&
          ps.dataFilters.forall(f => allowedCanon.contains(f.canonicalized))
      case _ => false
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Map query-child attributes into MV-child attributes, or None if the
    * children don't line up. Supported shapes:
    *   - both children are bare scans of the same DSv2 (carbonish) table:
    *     column pruning happens inside the relation, so map by NAME;
    *   - both are Joins of the same type: branches match recursively
    *     (each branch may be pruned differently — a rollup query reads
    *     fewer columns than its MV) and the join conditions must be
    *     canonically equal once query attributes are mapped into MV
    *     attributes (reference MVMatcher join subsumption,
    *     MVMatcher.scala SelectSelectNoChildDelta over joins);
    *   - both are Filters: equal conditions under the map, recurse;
    *   - otherwise the pruning-stripped plans must be canonically equal
    *     (covers arbitrary plans over file relations) → map by position. */
  private def childAttrMap(
      qChild0: LogicalPlan, mChild0: LogicalPlan,
      allowedFilterCanon: Set[Expression] = Set.empty,
      mvFilterCanon: Set[Expression] = Set.empty): Option[AttributeMap[Attribute]] = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val qChild = stripPruning(qChild0)
    val mChild = stripPruning(mChild0)
    // a pinned-segment read (insegment) is NOT the same relation as the
    // full table — matching across different pins would serve stale or
    // partial data
    def pin(r: DataSourceV2ScanRelation): String =
      Option(r.relation.options.get("segments")).getOrElse("")
    def mapped(m: AttributeMap[Attribute], e: Expression): Expression =
      e.transform { case a: Attribute => m.getOrElse(a, a) }
    (qChild, mChild) match {
      case (q: DataSourceV2ScanRelation, m: DataSourceV2ScanRelation)
          if queryParquetScan(q.scan, allowedFilterCanon) &&
            queryParquetScan(m.scan, mvFilterCanon) &&
            q.relation.table.name == m.relation.table.name &&
            pin(q) == pin(m) =>
        val byName = m.output.map(a => a.name -> a).toMap
        if (q.output.forall(a => byName.contains(a.name)))
          Some(AttributeMap(q.output.map(a => a -> byName(a.name))))
        else None
      case (qj: Join, mj: Join) if qj.joinType == mj.joinType =>
        for {
          lm <- childAttrMap(qj.left, mj.left)
          rm <- childAttrMap(qj.right, mj.right)
          combined = AttributeMap(lm.toSeq ++ rm.toSeq)
          if ((qj.condition.map(c => mapped(combined, c).canonicalized),
            mj.condition.map(_.canonicalized)) match {
            case (None, None) => true
            case (Some(a), Some(b)) => a == b
            case _ => false
          })
        } yield combined
      case (Filter(qc, qin), Filter(mc, min)) =>
        // both sides keep their residual Filter while its conjuncts are
        // pushed into the scan below — thread each side's conjuncts down
        // so the scan comparison accepts exactly those pushed filters
        childAttrMap(qin, min,
          allowedFilterCanon ++ conjuncts(qc).map(_.canonicalized),
          mvFilterCanon ++ conjuncts(mc).map(_.canonicalized)).flatMap { m =>
          if (mapped(m, qc).canonicalized == mc.canonicalized) Some(m) else None
        }
      case _ if qChild.canonicalized == mChild.canonicalized =>
        Some(AttributeMap(qChild.output.zip(mChild.output)))
      case _ => None
    }
  }

  /** Undo PullOutGroupingExpressions: the optimizer extracts computed
    * grouping expressions (e.g. `date_trunc(...) AS _groupingexpression`)
    * into a Project under the Aggregate, which would hide them from
    * structural matching. Inline every deterministic alias back into the
    * aggregate and drop the Project — both the query and the MV
    * definition get the same normalization, so `timeseries()` buckets
    * line up again. */
  private def inlineProject(agg: Aggregate): Aggregate = agg.child match {
    case org.apache.spark.sql.catalyst.plans.logical.Project(list, inner)
        if list.exists(_.isInstanceOf[Alias]) &&
          list.forall(ne => ne.isInstanceOf[AttributeReference] || ne.isInstanceOf[Alias]) &&
          list.collect { case a: Alias => a }.forall(_.child.deterministic) =>
      val sub = AttributeMap(list.collect { case a: Alias => a.toAttribute -> a.child })
      def subst(e: Expression): Expression =
        e.transformUp { case attr: Attribute if sub.contains(attr) => sub(attr) }
      val g2 = agg.groupingExpressions.map(subst)
      val a2 = agg.aggregateExpressions.map {
        case attr: Attribute if sub.contains(attr) =>
          Alias(sub(attr), attr.name)(exprId = attr.exprId)
        case ne => subst(ne).asInstanceOf[NamedExpression]
      }
      inlineProject(Aggregate(g2, a2, inner))
    case _ => agg
  }

  /** Freshness gate shared by both matchers: every carbonish base under
    * `mvPlan` must still show exactly the visible-segment fingerprints
    * the MV folded in — anything else (growth, delete, in-place shrink)
    * means serving would drop or duplicate rows. */
  private def basesFresh(mv: MvDef, mvPlan: LogicalPlan,
      spark: SparkSession): Boolean = {
    val carbonPaths = mvPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.relation.table match {
          case ct: graft.engine.source.CarbonishTable => Some(ct.tablePath)
          case _ => None
        }
    }.flatten.distinct
    val foldedByPath = MvCatalog.refreshedSegments(mv.name)
    carbonPaths.forall { p =>
      val visibleNow = new graft.engine.format.TableLayout(
        p, spark.sessionState.newHadoopConf())
        .readStatus().visible.map(s => s.id -> s.rowCount).toMap
      // a base with no recorded snapshot (pre-upgrade def) can't be
      // verified fresh — treat as stale. Strict equality over
      // (id → rowCount) fingerprints, not just id additions: DELETE
      // SEGMENT / truncate shrink the visible SET, and file-grain
      // mutation / metadata DROP PARTITION shrink a segment IN PLACE
      // (same id, fewer rows) — serving the MV in either case would
      // still include the dropped rows.
      val folded = foldedByPath.getOrElse(p, Map.empty[Long, Long])
      val fresh = visibleNow == folded
      if (!fresh) {
        val added = (visibleNow.keySet -- folded.keySet).toSeq.sorted
        val removed = (folded.keySet -- visibleNow.keySet).toSeq.sorted
        val shrunk = folded.keys.filter(id =>
          visibleNow.get(id).exists(_ != folded(id))).toSeq.sorted
        logInfo(s"[graft] MV '${mv.name}' is stale (base $p segments " +
          s"added=[${added.mkString(",")}] removed=[${removed.mkString(",")}] " +
          s"resized=[${shrunk.mkString(",")}]) — not rewriting")
      }
      fresh
    }
  }

  private def tryRewrite(query0: Aggregate, mv: MvDef): Option[LogicalPlan] = {
    val query = inlineProject(query0)
    val mvAgg = inlineProject(mv.asAgg.getOrElse(return None))
    val mvChild = mvAgg.child
    // exact child match, or filter subsumption (reference MVMatcher
    // SelectSelectNoChildDelta, MVMatcher.scala:613): query = Filter over
    // the MV's child, with a predicate derivable from the MV's grouping
    // outputs — rewritten as the same Filter over the MV scan, applied
    // BEFORE re-aggregation (group-constant predicates pass for every
    // row of a group or none, so pre-filtering groups is exact).
    val (attrMap, residual): (AttributeMap[Attribute], Option[Expression]) =
      childAttrMap(query.child, mvChild) match {
        case Some(m) => (m, None)
        case None => stripPruning(query.child) match {
          case Filter(cond, inner) =>
            childAttrMap(inner, mvChild, conjuncts(cond).map(_.canonicalized).toSet) match {
              case Some(m) => (m, Some(cond))
              case None => return None
            }
          case _ => return None
        }
      }
    val spark = SparkSession.active
    // freshness: a carbonish base records which segments the MV folded
    // in (create/refresh snapshot); any drift means serving would drop
    // or duplicate data — bail and let the query hit the base.
    // Parquet-directory bases have no segment ledger and are treated as
    // immutable (the reference tracks the same thing via loadName
    // watermarks in its MV status).
    if (!basesFresh(mv, mvChild, spark)) return None
    def remap(e: Expression): Expression =
      e.transform { case a: Attribute => attrMap.getOrElse(a, a) }

    // the MV's stored table, already pushed down to a scan relation
    val mvRel = MvRewriteRule.withoutRewrite {
      spark.read.format("carbonish").load(mv.path).queryExecution.optimizedPlan
    }
    if (mvRel.output.size != mvAgg.aggregateExpressions.size) return None
    val mvOut: Seq[(NamedExpression, Attribute)] =
      mvAgg.aggregateExpressions.zip(mvRel.output)
    val mvGroupCanon = mvAgg.groupingExpressions.map(_.canonicalized).toSet

    // mv grouping outputs: canonical grouping expr → mv table column
    def groupColFor(e: Expression): Option[Attribute] =
      mvOut.collectFirst {
        case (ne, attr)
          if mvGroupCanon.contains(stripAlias(ne).canonicalized) &&
            stripAlias(ne).canonicalized == e.canonicalized => attr
      }

    // find the mv column holding aggregate fn F(child)
    def aggColFor(fn: AggregateFunction, distinct: Boolean): Option[Attribute] =
      mvOut.collectFirst {
        case (ne, attr) if (stripAlias(ne) match {
          case ae: AggregateExpression =>
            ae.filter.isEmpty && ae.isDistinct == distinct &&
              ae.aggregateFunction.canonicalized == fn.canonicalized
          case _ => false
        }) => attr
      }

    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.nonEmpty) return None
      val rolled: Option[Expression] = ae.aggregateFunction match {
        case s: Sum if !ae.isDistinct =>
          aggColFor(s, distinct = false).map(m =>
            AggregateExpression(Sum(m), ae.mode, isDistinct = false))
        case c: Count if !ae.isDistinct =>
          // COUNT over an EMPTY base must stay 0: SUM over the empty MV
          // yields NULL, so coalesce the rolled-up sum back to 0
          aggColFor(c, distinct = false).map(m =>
            Coalesce(Seq(
              AggregateExpression(Sum(m), ae.mode, isDistinct = false),
              Literal(0L))))
        case m: Min =>
          aggColFor(m, distinct = false).map(x =>
            AggregateExpression(Min(x), ae.mode, isDistinct = false))
        case m: Max =>
          aggColFor(m, distinct = false).map(x =>
            AggregateExpression(Max(x), ae.mode, isDistinct = false))
        case a @ Average(child, _) if !ae.isDistinct =>
          // only for types where sum/count reconstruction is exact-enough
          // (decimal avg has bespoke scale rules — stay out)
          child.dataType match {
            case _: DecimalType => None
            case _ =>
              for {
                ms <- aggColFor(Sum(child), distinct = false)
                mc <- aggColFor(Count(Seq(child)), distinct = false)
              } yield Divide(
                Cast(AggregateExpression(Sum(ms), ae.mode, isDistinct = false), DoubleType),
                Cast(AggregateExpression(Sum(mc), ae.mode, isDistinct = false), DoubleType))
          }
        case _ => None
      }
      rolled.map(r => if (r.dataType == ae.dataType) r else Cast(r, ae.dataType))
    }

    val mvChildOutput = AttributeSet(stripPruning(mvChild).output)

    /** Timeseries granularity hierarchy (reference: timeseries MVs
      * answer coarser granularities from a finer rollup,
      * docs/mv-guide.md "Time Series Support"): a query bucket
      * `date_trunc(COARSE, ts)` is served from an MV grouped by
      * `date_trunc(FINE, ts)` as `date_trunc(COARSE, <mv bucket col>)`
      * when every COARSE boundary is a FINE boundary — re-truncating
      * the finer bucket is then exact, and the aggregates roll up
      * across buckets like any groupby-rollup. */
    def timeseriesRollup(tt: TruncTimestamp): Option[Expression] = tt.format match {
      case fq @ Literal(fmtQ: org.apache.spark.unsafe.types.UTF8String, _) =>
        mvOut.collectFirst {
          case (ne, attr) if (stripAlias(ne) match {
            case TruncTimestamp(Literal(fmtF: org.apache.spark.unsafe.types.UTF8String, _), tsF, tzF) =>
              mvGroupCanon.contains(stripAlias(ne).canonicalized) &&
                truncDerivable(fmtQ.toString, fmtF.toString) &&
                tsF.canonicalized == tt.timestamp.canonicalized &&
                tzF == tt.timeZoneId
            case _ => false
          }) => TruncTimestamp(fq, attr, tt.timeZoneId): Expression
        }
      case _ => None
    }

    def rewriteExpr(e: Expression): Option[Expression] = {
      var ok = true
      val step1 = remap(e).transformUp {
        case ae: AggregateExpression =>
          rewriteAgg(ae) match {
            case Some(x) => x
            case None => ok = false; ae
          }
      }
      if (!ok) return None
      val step2 = step1.transformDown {
        case sub if groupColFor(sub).isDefined => groupColFor(sub).get
        case tt: TruncTimestamp if timeseriesRollup(tt).isDefined =>
          timeseriesRollup(tt).get
      }
      // anything still referencing the base child is underivable
      if (step2.references.exists(mvChildOutput.contains)) None else Some(step2)
    }

    val newGroupings = query.groupingExpressions.map(rewriteExpr)
    val newAggs = query.aggregateExpressions.map { ne =>
      rewriteExpr(ne).map {
        case a: Alias => Alias(a.child, ne.name)(exprId = ne.exprId)
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    // the residual predicate must also be fully derivable (its columns
    // map to MV grouping outputs), else the MV cannot serve this query
    val newResidual = residual.map(rewriteExpr)
    if (newGroupings.exists(_.isEmpty) || newAggs.exists(_.isEmpty) ||
      newResidual.exists(_.isEmpty)) None
    else {
      logInfo(s"[graft] MV rewrite: query aggregate served by MV '${mv.name}' (${mv.path})")
      val base = newResidual.flatten.map(c => Filter(c, mvRel)).getOrElse(mvRel)
      Some(Aggregate(newGroupings.map(_.get), newAggs.map(_.get), base))
    }
  }

  /** Select-only (SPJ) MV serving — reference MVMatcher
    * SelectSelectNoChildDelta (MVMatcher.scala:613). A query
    * `Project(qList, Filter(Fq, inner))` is served by MV
    * `Project(mvList, Filter(Fm, inner'))` when
    *   - inner matches inner' under [[childAttrMap]] (same scans /
    *     joins / interior filters),
    *   - Fm's conjuncts ⊆ Fq's conjuncts (under the attribute map), so
    *     the MV keeps at least the query's rows — the leftover
    *     conjuncts re-apply over the MV, and
    *   - every query output and leftover conjunct is derivable from
    *     mvList's stored columns.
    * A select MV stores one row PER BASE ROW (Project preserves
    * multiplicity), so re-filtering + re-projecting the MV is exact —
    * no re-aggregation involved. */
  private def trySelectRewrite(query0: LogicalPlan, mv: MvDef): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    if (mv.asAgg.isDefined) return None
    // only filtered-projection roots participate (an Aggregate root is
    // the other matcher's territory; anything else is unsupported)
    query0 match {
      case _: Project | _: Filter => ()
      case _ => return None
    }
    def split(p: LogicalPlan): (Seq[NamedExpression], Seq[Expression], LogicalPlan) = {
      val (list, c0) = p match {
        case Project(l, c) => (l, c)
        case other => (other.output, other)
      }
      c0 match {
        case Filter(cond, inner) => (list, conjuncts(cond), inner)
        case other => (list, Nil, other)
      }
    }
    val (qList, qConds, qInner) = split(query0)
    val (mvList, mvConds, mvInner) = split(mv.plan)
    if (!qList.forall(_.deterministic) || !mvList.forall(_.deterministic))
      return None
    val attrMap = childAttrMap(qInner, mvInner,
      qConds.map(_.canonicalized).toSet,
      mvConds.map(_.canonicalized).toSet).getOrElse(return None)
    def remap(e: Expression): Expression =
      e.transform { case a: Attribute => attrMap.getOrElse(a, a) }
    // containment: every MV conjunct must appear among the query's —
    // then MV rows ⊇ query rows and the leftover conjuncts re-filter
    val mvCondCanon = mvConds.map(_.canonicalized).toSet
    val qMapped = qConds.map(c => remap(c) -> remap(c).canonicalized)
    if (!mvCondCanon.subsetOf(qMapped.map(_._2).toSet)) return None
    val residual = qMapped.collect { case (c, canon) if !mvCondCanon.contains(canon) => c }

    val spark = SparkSession.active
    if (!basesFresh(mv, mv.plan, spark)) return None

    val mvRel = MvRewriteRule.withoutRewrite {
      spark.read.format("carbonish").load(mv.path).queryExecution.optimizedPlan
    }
    if (mvRel.output.size != mvList.size) return None
    val mvOut: Seq[(Expression, Attribute)] =
      mvList.map(stripAlias).zip(mvRel.output)
    val mvOutCanon = mvOut.map { case (e, a) => e.canonicalized -> a }.toMap

    def derive(e: Expression): Option[Expression] = {
      val substituted = remap(e).transformDown {
        case sub if mvOutCanon.contains(sub.canonicalized) =>
          mvOutCanon(sub.canonicalized)
      }
      if (substituted.references.subsetOf(AttributeSet(mvRel.output)))
        Some(substituted)
      else None
    }

    val newList = qList.map { ne =>
      derive(ne).map {
        case a: Alias => Alias(a.child, ne.name)(exprId = ne.exprId)
        case other => Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    val newResidual = residual.map(derive)
    if (newList.exists(_.isEmpty) || newResidual.exists(_.isEmpty)) None
    else {
      logInfo(s"[graft] MV rewrite: select-only query served by MV '${mv.name}' (${mv.path})")
      val filtered = newResidual.flatten
        .reduceOption(org.apache.spark.sql.catalyst.expressions.And)
        .map(c => Filter(c, mvRel)).getOrElse(mvRel)
      Some(Project(newList.map(_.get), filtered))
    }
  }
}
