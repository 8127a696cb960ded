package graft.engine.index

import graft.engine.GraftTable
import graft.engine.source.CarbonishScan

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** `text_match('col:query')` / `text_match_with_limit('col:query', n)`
  * as SQL functions (reference TextMatchUDF.scala:23-30,
  * TextMatchMaxDocUDF): registered UDFs are markers only — an optimizer
  * rule spots them in a Filter over a carbonish scan, consults the
  * term-posting index for the candidate segment set, swaps the scan to
  * those segments, and replaces the marker with the exact
  * token-membership residual. The UDF bodies THROW, so a query whose
  * rewrite cannot fire (no carbonish relation under the filter) fails
  * loudly instead of silently matching nothing. The functions and the
  * rule are installed by [[graft.engine.Graft.install]].
  *
  * Query syntax mirrors the reference's lucene `field:terms` form:
  * `text_match('text:big data OR carbon')` = token index lookup on
  * column `text` for (big AND data) OR carbon.
  */
object TextMatchSql {

  private[graft] def parseArg(s: String): (String, String) = {
    val i = s.indexOf(':')
    require(i > 0 && i < s.length - 1,
      s"text_match argument must be 'column:query', got '$s'")
    val col = s.take(i).trim
    (col, stripFieldPrefixes(s.drop(i + 1).trim, col))
  }

  /** Per-term field scoping, lucene-style (`TEXT_MATCH('name:n10* AND
    * name:abc')`): a term-leading `field:` naming the indexed column is
    * stripped; a DIFFERENT field is a loud error — one text index
    * serves one column. Quoted phrases pass through untouched. */
  private[graft] def stripFieldPrefixes(query: String, col: String): String = {
    val FieldTerm = "^(-?)([A-Za-z_][A-Za-z0-9_]*):(.+)$".r
    val out = new StringBuilder
    var i = 0
    while (i < query.length) {
      val c = query(i)
      if (c == '"') {
        // phrases pass through verbatim, colons and all
        val j = query.indexOf('"', i + 1)
        val end = if (j < 0) query.length else j + 1
        out.append(query.substring(i, end)); i = end
      } else if (c.isWhitespace) {
        out.append(c); i += 1
      } else {
        var j = i
        while (j < query.length && !query(j).isWhitespace) j += 1
        out.append(query.substring(i, j) match {
          case FieldTerm(neg, f, rest) =>
            require(f.equalsIgnoreCase(col),
              s"text_match field '$f' does not match the indexed column '$col' " +
                "(multi-field queries are not supported)")
            neg + rest
          case t => t
        })
        i = j
      }
    }
    out.toString
  }
}

/** One text_match occurrence: column, query, optional index-layer cap. */
private case class TmCall(column: String, query: String, limit: Option[Int])

class TextMatchRule extends Rule[LogicalPlan] {

  private def tmOf(e: Expression): Option[TmCall] = e match {
    case u: ScalaUDF if u.udfName.contains("text_match") =>
      u.children match {
        case Seq(Literal(s, _)) =>
          val (c, q) = TextMatchSql.parseArg(s.toString); Some(TmCall(c, q, None))
        case _ => None
      }
    case u: ScalaUDF if u.udfName.contains("text_match_with_limit") =>
      u.children match {
        case Seq(Literal(s, _), Literal(n: Int, _)) =>
          val (c, q) = TextMatchSql.parseArg(s.toString); Some(TmCall(c, q, Some(n)))
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, _) if cond.exists(e => tmOf(e).isDefined) =>
      // a failed rewrite keeps the marker UDF, which THROWS at runtime —
      // never a silent wrong answer
      rewrite(f).getOrElse(f)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Exact token-membership residual over the scan attribute — the
    * resolved-expression form of [[TextIndex.tokenMatch]], covering the
    * full lucene-subset grammar (tokens, `p*` prefixes, `"phrases"`,
    * NOT). */
  private def residual(attr: Attribute, query: String): Expression = {
    import graft.functions.GraftFunctions.TextTerm
    val toks = ArrayDistinct(StringSplit(Lower(StringTrim(attr)), Literal(" "), Literal(-1)))
    // position-preserving token array: proximity windows and fuzzy
    // scans must see the original sequence, not the distinct set
    def toksRaw = StringSplit(Lower(StringTrim(attr)), Literal(" "), Literal(-1))
    def one(t: TextTerm): Expression = t match {
      case TextTerm.Tok(s) => ArrayContains(toks, Literal(s))
      case TextTerm.Prefix(p) =>
        val x = NamedLambdaVariable("x",
          org.apache.spark.sql.types.StringType, nullable = true)
        ArrayExists(toks, LambdaFunction(StartsWith(x, Literal(p)), Seq(x)))
      case TextTerm.Phrase(ws) =>
        Contains(
          Concat(Seq(Literal(" "), Lower(StringTrim(attr)), Literal(" "))),
          Literal(" " + ws.mkString(" ") + " "))
      // `term~N`: banded-threshold levenshtein over tokens, the resolved
      // form of GraftFunctions.fuzzyPred (-1 past the threshold, so
      // between(0, n) is exactly distance <= n)
      case TextTerm.Fuzzy(s, n) =>
        val x = NamedLambdaVariable("x",
          org.apache.spark.sql.types.StringType, nullable = true)
        val lev = Levenshtein(x, Literal(s), Some(Literal(n)))
        ArrayExists(toks, LambdaFunction(
          And(GreaterThanOrEqual(lev, Literal(0)), LessThanOrEqual(lev, Literal(n))),
          Seq(x)))
      // `"w1 w2"~k`: the native sliding-window co-occurrence scan
      case TextTerm.Near(ws, k) =>
        org.apache.spark.sql.graft.WindowCoOccur(toksRaw, ws, ws.length + k)
    }
    graft.functions.GraftFunctions.parseLucene(query)
      .map(_.map(l => if (l.negated) Not(one(l.term)) else one(l.term))
        .reduce(And(_, _)))
      .reduce(Or(_, _))
  }

  private def rewrite(f: Filter): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val conjuncts = splitConjuncts(f.condition)
    val (tmConjs, rest) = conjuncts.partition(e => tmOf(e).isDefined)
    val calls = tmConjs.flatMap(tmOf)
    if (calls.isEmpty || calls.size != tmConjs.size) return None
    // index-layer cap only composes when the text predicate stands alone
    val cap: Option[Int] =
      if (calls.size == 1 && rest.isEmpty) calls.head.limit else None

    // exactly one carbonish scan carrying every referenced column
    val rels = f.child.collect {
      case r @ DataSourceV2ScanRelation(_, cs: CarbonishScan, _, _, _) => (r, cs)
    }.filter { case (r, cs) =>
      calls.forall(c => cs.tableSchema.fieldNames.exists(_.equalsIgnoreCase(c.column)))
    }
    if (rels.size != 1) return None
    val (rel, cs) = rels.head

    val t = GraftTable.at(spark, cs.layout.tablePath)
    // AND of text predicates = intersection of candidate sets; a column
    // without an index contributes no pruning (residual-only)
    var candidates: Option[Set[Long]] = None
    calls.foreach { c =>
      TextIndex.candidates(t, c.column, c.query).foreach { s =>
        candidates = Some(candidates.map(_ intersect s).getOrElse(s))
      }
    }

    // read columns: the relation's current output plus the text columns
    // the residual needs (they may have been pruned away — the marker
    // UDF reads only its literal, so nothing kept them alive)
    val needed = (rel.output.map(_.name) ++ calls.map(c =>
      cs.tableSchema.fieldNames.find(_.equalsIgnoreCase(c.column)).get)).distinct
    graft.engine.ExplainCollector.record(candidates match {
      case Some(ids) =>
        s"text index: pinned ${ids.size}/${t.status.visible.size} segments " +
          s"for ${calls.map(c => s"${c.column}:'${c.query}'").mkString(", ")}"
      case None =>
        s"text_match served residually (no index on " +
          s"${calls.map(_.column).mkString(",")})"
    })
    val newRel: LogicalPlan = candidates match {
      case Some(ids) if ids.isEmpty =>
        LocalRelation(rel.output) // provably empty
      case _ =>
        val base = candidates match {
          case Some(ids) => t.readSegments(ids.toSeq.sorted)
          case None => t.read
        }
        val pruned = graft.engine.mv.MvRewriteRule.withoutRewrite {
          base.select(needed.map(org.apache.spark.sql.functions.col).toSeq: _*)
            .queryExecution.optimizedPlan
        }
        val byName = pruned.output.map(a => a.name.toLowerCase -> a).toMap
        // residual + cap live UNDER the projection back to the original
        // attribute ids (the text column need not survive above it)
        val res = calls.map(c => residual(byName(c.column.toLowerCase), c.query))
          .reduce(And(_, _))
        val filtered = Filter(res, pruned)
        val capped = cap.map(n => Limit(Literal(n), filtered)).getOrElse(filtered)
        Project(rel.output.map(a =>
          Alias(byName(a.name.toLowerCase), a.name)(exprId = a.exprId)), capped)
    }
    val newChild = f.child.transformUp { case r if r eq rel => newRel }
    Some(if (rest.isEmpty) newChild else Filter(rest.reduce(And(_, _)), newChild))
  }
}
