package graftbench

import graft.engine.GraftTable
import graft.engine.index.{Si, TextIndex}
import graft.engine.mv.Mv
import graft.engine.source.CarbonishScan
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

/** The read-side tables: lineitem (one sorted load), orders (seeded
  * date batches with one empty insert, secondary index on o_custkey),
  * documents (two loads, text index) and an aggregate MV over
  * lineitem. All live in the benchmark catalog `gb` under namespace
  * `ns`, so SQL reaches them by name. */
final case class OlapTables(ns: String, wh: String, mvName: String) {
  def lineitem: String = s"$wh/$ns/lineitem"
  def orders: String = s"$wh/$ns/orders"
  def docs: String = s"$wh/$ns/docs"
  def mvPath: String = s"$wh/${ns}_mv/$mvName"
}

/** Facts read from one read's own query execution. */
final case class PlanFacts(
    analysisMs: Double, optimizationMs: Double, planningMs: Double,
    graftRuleMs: Double, graftRuleRuns: Long, graftRuleEffective: Long,
    scanRows: Long, fileScans: Int, mvServed: Boolean)

object Plans {
  /** Every node of an executed plan, through adaptive stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
  }

  def facts(df: DataFrame, mvPath: Option[String]): PlanFacts = {
    val qe = df.queryExecution
    def phase(n: String) = qe.tracker.phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val rules = qe.tracker.rules.filter(_._1.startsWith("graft.")).values
    val scans = nodes(qe.executedPlan).collect { case b: BatchScanExec => b }
    val served = mvPath.exists { p =>
      qe.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan match {
          case c: CarbonishScan => c.layout.tablePath
          case _ => ""
        }
        case r: DataSourceV2Relation => r.table.name()
      }.exists(_.contains(p))
    }
    PlanFacts(phase("analysis"), phase("optimization"), phase("planning"),
      rules.map(_.totalTimeNs).sum / 1e6, rules.map(_.numInvocations).sum,
      rules.map(_.numEffectiveInvocations).sum,
      scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum,
      scans.size, served)
  }
}

object Olap {
  val Shapes = Seq("range_scan", "q1_agg", "meta_agg", "si_lookup", "text_lookup", "mv_rollup", "join_agg")
  val Catalog = "gb"
  /** Many row groups per file, so the secondary and text indexes have
    * something finer than a file to pin. */
  val SmallRowGroups = Map("parquet.block.size" -> "16384")

  /** Seeded parameter pools: a few values per shape, so each distinct
    * (shape, parameter) pair is checked once against plain Spark. */
  final case class Params(values: Map[String, IndexedSeq[String]]) {
    def pick(shape: String, rng: scala.util.Random): String = {
      val xs = values(shape); xs(rng.nextInt(xs.size))
    }
  }

  def params(seed: Long): Params = {
    val r = new scala.util.Random(seed * 31 + 7)
    def date(): String = java.time.LocalDate.parse(Data.Epoch).plusDays(r.nextInt(Data.Days - 30).toLong).toString
    val words = Data.vocab :+ Data.DupToken
    def word(): String = words(r.nextInt(words.size))
    Params(Map(
      "range_scan" -> IndexedSeq.fill(2)(date()),
      "q1_agg" -> IndexedSeq.fill(2)((60 + r.nextInt(61)).toString),
      "meta_agg" -> IndexedSeq("o_orderkey", "o_orderdate", "o_totalprice"),
      "si_lookup" -> IndexedSeq.fill(2)(Seq.fill(3)(1 + r.nextInt(Data.Customers)).mkString(",")),
      "text_lookup" -> IndexedSeq.fill(2)(r.nextInt(3) match {
        case 0 => word()
        case 1 => s"${word()} OR ${word()}"
        case _ => s"${word()} ${word()}"
      }),
      "mv_rollup" -> IndexedSeq("all", "F", "O"),
      "join_agg" -> IndexedSeq.fill(2)((Data.FirstYear + r.nextInt(Data.LastYear - Data.FirstYear + 1)).toString)))
  }

  /** Build the read tables from the run's generated inputs. */
  def setup(spark: SparkSession, input: String => DataFrame, wh: String, ns: String, seed: Long): OlapTables = {
    val t = OlapTables(ns, wh, s"li_rollup_$ns")
    Seq(s"$wh/$ns", s"$wh/${ns}_mv", s"$wh/${ns}_idx").foreach(d => new java.io.File(d).mkdirs())
    // three independent chains: lineitem and its MV, orders and its SI,
    // documents and their text index
    Main.parallel(() => {
      val li = input("lineitem")
      Main.step("lineitem")(GraftTable.createAsSelect(spark, t.lineitem, li, sortColumns = Seq("l_shipdate", "l_orderkey")))
      val base = GraftTable.at(spark, t.lineitem).read
      Main.step("lineitem mv")(Mv.create(spark, t.mvName, base.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt")), t.mvPath))
    }, () => {
      // orders arrive as three date-range loads (seeded cut points, seeded
      // order) plus one empty insert (a load whose filter matched nothing)
      // at a seeded slot
      val od = input("orders")
      val ord = GraftTable.create(spark, t.orders, od.schema, Seq("o_orderdate", "o_orderkey"),
        properties = SmallRowGroups)
      val rng = new scala.util.Random(seed * 17 + 3)
      val cuts = rng.shuffle((Data.FirstYear + 1 to Data.LastYear).toList).take(2).sorted
      val ranges = rng.shuffle(List((Data.FirstYear, cuts(0)), (cuts(0), cuts(1)), (cuts(1), Data.LastYear + 1)))
      val batches = ranges.map(Some(_)).patch(rng.nextInt(ranges.size + 1), Seq(None), 0)
      Main.step("orders")(batches.foreach {
        case Some((a, b)) => ord.insert(od.filter(year(col("o_orderdate")) >= a && year(col("o_orderdate")) < b))
        case None => ord.insert(od.filter(lit(false)))
      })
      Main.step("orders si")(Si.create(ord, "o_custkey", s"$wh/${ns}_idx/orders_si"))
    }, () => {
      val dd = input("documents")
      val docs = GraftTable.create(spark, t.docs, dd.schema, Seq("doc_id"), properties = SmallRowGroups)
      val n = Data.Docs
      Main.step("docs")(Seq(0 -> n / 2, n / 2 -> n).foreach { case (a, b) =>
        docs.insert(dd.filter(col("doc_id") >= a && col("doc_id") < b))
      })
      Main.step("docs text index")(TextIndex.create(docs, "text", s"$wh/${ns}_idx/docs_text"))
    })
    SessionRules.install(spark)
    t
  }

  private def d(s: String): Column = lit(s).cast("date")

  /** The DataFrame shapes over `li` and `ord`; the reference runs the
    * same function over the generated inputs. */
  def query(shape: String, p: String, li: => DataFrame, ord: => DataFrame): DataFrame = shape match {
    case "range_scan" =>
      li.filter(col("l_shipdate") >= d(p) && col("l_shipdate") < date_add(d(p), 14))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
    case "q1_agg" =>
      val price = col("l_extendedprice"); val disc = col("l_discount")
      li.filter(col("l_shipdate") <= date_sub(d("1998-12-01"), p.toInt))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"), sum(price).as("sum_base_price"),
          sum(price * (lit(1) - disc)).as("sum_disc_price"),
          sum(price * (lit(1) - disc) * (lit(1) + col("l_tax"))).as("sum_charge"),
          avg(col("l_quantity")).as("avg_qty"), avg(price).as("avg_price"),
          avg(disc).as("avg_disc"), count(lit(1)).as("count_order"))
    case "meta_agg" =>
      ord.agg(count(lit(1)).as("cnt"), min(col(p)).as("lo"), max(col(p)).as("hi"))
    case "mv_rollup" =>
      val f = if (p == "all") li else li.filter(col("l_linestatus") === p)
      f.groupBy("l_returnflag").agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
    case "join_agg" =>
      ord.filter(col("o_orderdate") >= d(s"$p-01-01") && col("o_orderdate") < d(s"${p.toInt + 1}-01-01"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("qty"),
          sum(col("l_extendedprice")).as("price"))
  }

  /** The SQL shapes, over a table name. */
  def sql(shape: String, p: String, table: String): String = shape match {
    case "si_lookup" =>
      s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM $table WHERE o_custkey IN ($p)"
    case "text_lookup" =>
      s"SELECT doc_id, lang, n_chars FROM $table WHERE text_match('text:$p')"
  }

  /** Plain-Spark answer over the inputs `li`, `ord`, `docs`. */
  def reference(spark: SparkSession, li: DataFrame, ord: DataFrame, docs: DataFrame,
      shape: String, p: String): (Long, Long) = shape match {
    case "si_lookup" =>
      ord.createOrReplaceTempView("ref_orders")
      Checksum.of(spark.sql(sql(shape, p, "ref_orders")))
    case "text_lookup" =>
      val toks = array_distinct(split(lower(trim(col("text"))), " "))
      val pred = p.split(" OR ").map(_.trim.split(" ").map(w => array_contains(toks, w)).reduce(_ && _)).reduce(_ || _)
      Checksum.of(docs.filter(pred).select("doc_id", "lang", "n_chars"))
    case other => Checksum.of(query(other, p, li, ord))
  }

  def tableRows(shape: String): Long = shape match {
    case "range_scan" | "q1_agg" | "mv_rollup" => Data.Orders.toLong * Data.LinesPerOrder
    case "si_lookup" | "meta_agg" => Data.Orders
    case "text_lookup" => Data.Docs
    case "join_agg" => Data.Orders.toLong * (Data.LinesPerOrder + 1)
  }

  /** One read: build the DataFrame through the engine's public entry
    * points, then collect. Returns the rows and the plan facts. */
  def read(tr: Tracer, spark: SparkSession, t: OlapTables, shape: String, p: String)
      : (Array[Row], Map[String, Double]) = {
    val b0 = System.nanoTime()
    def table(path: String) = tr.call("GraftTable.read", "engine")(GraftTable.at(spark, path).read)
    val df = shape match {
      case "si_lookup" =>
        tr.call("spark.sql", "engine.catalog")(spark.sql(sql(shape, p, s"$Catalog.${t.ns}.orders")))
      case "text_lookup" =>
        tr.call("spark.sql", "engine.catalog")(spark.sql(sql(shape, p, s"$Catalog.${t.ns}.docs")))
      case _ => tr.call("Dataset", "spark.analysis")(query(shape, p, table(t.lineitem), table(t.orders)))
    }
    val b1 = System.nanoTime()
    val rows = tr.call("Dataset.collect", "spark.execution")(df.collect())
    val b2 = System.nanoTime()
    val f = Plans.facts(df, if (shape == "mv_rollup") Some(t.mvPath) else None)
    (rows, Map(
      "build_ms" -> (b1 - b0) / 1e6, "collect_ms" -> (b2 - b1) / 1e6,
      "analysis_ms" -> f.analysisMs, "optimization_ms" -> f.optimizationMs,
      "planning_ms" -> f.planningMs, "graft_rule_ms" -> f.graftRuleMs,
      "graft_rule_runs" -> f.graftRuleRuns.toDouble, "graft_rule_eff" -> f.graftRuleEffective.toDouble,
      "scan_rows" -> f.scanRows.toDouble, "file_scans" -> f.fileScans.toDouble,
      "mv_served" -> (if (f.mvServed) 1.0 else 0.0), "table_rows" -> tableRows(shape).toDouble))
  }

  /** Compare against the plain-Spark reference of (shape, p), computed
    * once per distinct pair after the timed loop. */
  final class References(spark: SparkSession, input: String => DataFrame) {
    private val cache = new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]()
    private lazy val inputs = Seq("lineitem", "orders", "documents").map(input)
    def get(shape: String, p: String): (Long, Long) =
      cache.computeIfAbsent((shape, p), _ => reference(spark, inputs(0), inputs(1), inputs(2), shape, p))
    /** Compute the answers of these (shape, parameter) pairs, three at a time. */
    def prefetch(keys: Seq[(String, String)]): Unit = {
      inputs
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try keys.distinct.map(k => pool.submit(() => get(k._1, k._2))).foreach(_.get())
      finally pool.shutdown()
    }
    /** A deferred check: the checksum is taken now, the reference later. */
    def expect(shape: String, p: String)(rows: Array[Row]): () => Option[String] = {
      val got = Checksum.of(rows)
      () => {
        val want = get(shape, p)
        if (got == want) None else Some(s"$shape($p) rows/checksum $got, reference $want")
      }
    }
  }

  /** Every shape with every parameter the loop can pick: a literal is
    * compiled into the generated code, so a parameter's first read pays
    * for code generation that its later reads do not. */
  def warmUp(ctx: Ctx, t: OlapTables): Unit = {
    val ps = params(ctx.args.seed)
    Shapes.foreach(s => ps.values(s).foreach(p => read(ctx.tr, ctx.spark, t, s, p)))
  }
}

/** The seven read shapes: their tables and one timed read at a time. */
final class OlapRead {
  private var t: OlapTables = _

  def setup(ctx: Ctx, ns: String): Unit = t = Olap.setup(ctx.spark, ctx.input, ctx.wh, ns, ctx.args.seed)
  def warmUp(ctx: Ctx): Unit = Olap.warmUp(ctx, t)

  private var refs: Olap.References = _
  private var ps: Olap.Params = _
  private val used = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  def startLoop(ctx: Ctx): Unit = {
    ps = Olap.params(ctx.args.seed)
    refs = new Olap.References(ctx.spark, ctx.input)
  }

  /** One timed read of `shape` with a seeded parameter. */
  def readOnce(ctx: Ctx, shape: String, rng: scala.util.Random): Unit = {
    val p = ps.pick(shape, rng)
    used += (shape -> p)
    ctx.op(shape, "read")(Olap.read(ctx.tr, ctx.spark, t, shape, p)) {
      case (rows, facts) => (refs.expect(shape, p)(rows), facts)
    }
  }

  /** Compute the plain-Spark answers of every (shape, parameter) read. */
  def beforeChecks(ctx: Ctx): Unit = refs.prefetch(used.toSeq)
}
