package graft.engine

import graft.engine.catalog.GraftDmlStrategy
import graft.engine.index.{Si, SiRewriteRule, TextIndex, TextMatchRule}
import graft.engine.mv.{Mv, MvRewriteRule}
import graft.engine.source.CarbonishScan
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** [[Graft.install]] is the one way graft's rules reach a session: a
  * session gets them the first time it touches a graft table, through
  * [[GraftTable]] or the catalog, with no per-feature enable call. */
class GraftInstallSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  // catalog layout <warehouse>/<namespace>/<table>: the tables double as
  // `gi.default.<name>` for sessions that register the catalog
  private lazy val wh = Files.createTempDirectory("graft_install_").toString
  private def path(name: String) = s"$wh/default/$name"

  private def rollup(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag").agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("c"))

  override def beforeAll(): Unit = {
    import spark.implicits._
    val li = GraftTable.createAsSelect(spark, path("li"),
      spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_returnflag", "l_linestatus", "l_quantity"))
    Mv.create(spark, "gi_mv", rollup(li.read), s"$wh/gi_mv")
    val src = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderstatus")
    val orders = GraftTable.create(spark, path("orders"), src.schema, Seq("o_orderkey"))
    Seq("O", "F", "P").foreach(s0 => orders.insert(src.filter(col("o_orderstatus") === s0)))
    Si.create(orders, "o_orderstatus", s"$wh/orders_si")
    val seg0 = Seq((0L, "alpha shared"), (1L, "alpha bravo")).toDF("id", "body")
    val docs = GraftTable.create(spark, path("docs"), seg0.schema)
    docs.insert(seg0)
    docs.insert(Seq((10L, "charlie shared"), (11L, "charlie delta")).toDF("id", "body"))
    docs.insert(Seq((20L, "echo foxtrot")).toDF("id", "body"))
    TextIndex.create(docs, "body", s"$wh/docs_text")
  }

  override def afterAll(): Unit = Mv.drop(spark, "gi_mv")

  private def withCatalog(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.catalog.gi", "graft.engine.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.gi.warehouse", wh)
    s
  }

  private def assertMvServed(q: DataFrame): Unit = {
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("gi_mv"), s"MV rewrite did not fire:\n$plan")
  }

  private def assertSiPinned(q: DataFrame): Unit = {
    val pinned = q.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }.exists {
      case cs: CarbonishScan => cs.scanOptions.containsKey("segments")
      case _ => false
    }
    assert(pinned, s"SI rewrite did not pin the scan:\n${q.queryExecution.optimizedPlan}")
    assert(q.count() == spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderstatus") === "P").count())
  }

  private def assertTextServed(q: DataFrame): Unit = {
    val opt = q.queryExecution.optimizedPlan
    assert(!opt.exists(_.expressions.exists(_.exists {
      case u: ScalaUDF => u.udfName.exists(_.startsWith("text_match"))
      case _ => false
    })), s"text_match marker survived optimization:\n$opt")
    assert(q.collect().map(_.getLong(0)).toSet == Set(10L, 11L))
  }

  /** The three rewrites, with every table opened through [[GraftTable]]. */
  private def servesThroughGraftTable(s: SparkSession): Unit = {
    assertMvServed(rollup(GraftTable.at(s, path("li")).read))
    assertSiPinned(GraftTable.at(s, path("orders")).read
      .filter(col("o_orderstatus") === "P"))
    GraftTable.at(s, path("docs")).read.createOrReplaceTempView("gi_docs")
    assertTextServed(s.sql("SELECT id FROM gi_docs WHERE text_match('body:charlie')"))
  }

  private def ours(s: SparkSession) =
    (s.experimental.extraOptimizations.filter(r => r.isInstanceOf[MvRewriteRule] ||
      r.isInstanceOf[SiRewriteRule] || r.isInstanceOf[TextMatchRule]),
      s.experimental.extraStrategies.filter(_.isInstanceOf[GraftDmlStrategy]))

  test("a newSession() child serves MV, SI and text_match with no install call") {
    val child = spark.newSession()
    assert(ours(child) == ((Nil, Nil)), "a fresh session starts without graft's rules")
    servesThroughGraftTable(child)
    val (rules, strategies) = ours(child)
    assert(rules.map(_.getClass) ==
      Seq(classOf[MvRewriteRule], classOf[SiRewriteRule], classOf[TextMatchRule]))
    assert(strategies.size == 1)
  }

  test("a newSession() child reaching tables only through the catalog is served") {
    val child = withCatalog(spark.newSession())
    // the first catalog load installs; later statements see text_match
    assertSiPinned(child.sql("SELECT * FROM gi.default.orders WHERE o_orderstatus = 'P'"))
    assertMvServed(child.sql("SELECT l_returnflag, sum(l_quantity) AS sq, count(1) AS c " +
      "FROM gi.default.li GROUP BY l_returnflag"))
    assertTextServed(child.sql("SELECT id FROM gi.default.docs WHERE text_match('body:charlie')"))
  }

  test("text_match as a session's first statement needs an explicit install") {
    // Spark looks functions up before it resolves relations, so the
    // catalog load comes too late for the statement that triggers it
    val child = withCatalog(spark.newSession())
    val q = "SELECT id FROM gi.default.docs WHERE text_match('body:charlie')"
    intercept[AnalysisException](child.sql(q))
    Graft.install(child)
    assertTextServed(child.sql(q))
  }

  test("a cloneSession() child serves all three rewrites without installing again") {
    GraftTable.at(spark, path("li")) // the parent has the set
    val clone = org.apache.spark.sql.graft.Shims.cloneSession(spark)
    servesThroughGraftTable(clone)
    val (pr, ps) = ours(spark)
    val (cr, cs) = ours(clone)
    assert(cr.size == 3 && cr.zip(pr).forall { case (a, b) => a eq b },
      "the clone's rules must be the parent's instances")
    assert(cs.size == 1 && (cs.head eq ps.head))
  }

  test("a rule removed after install is not put back by a later table access") {
    val s = spark.newSession()
    GraftTable.at(s, path("orders"))
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations.filterNot(_.isInstanceOf[SiRewriteRule])
    GraftTable.at(s, path("orders"))
    assert(!s.experimental.extraOptimizations.exists(_.isInstanceOf[SiRewriteRule]))
  }

  test("8 threads racing to touch a fresh session install exactly one set") {
    val fresh = spark.newSession()
    val start = new java.util.concurrent.CyclicBarrier(8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 8).map(_ => new Thread(() =>
      try { start.await(); GraftTable.at(fresh, path("li")) }
      catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    val (rules, strategies) = ours(fresh)
    assert(rules.map(_.getClass) ==
      Seq(classOf[MvRewriteRule], classOf[SiRewriteRule], classOf[TextMatchRule]))
    assert(fresh.experimental.extraOptimizations.size == 3)
    assert(strategies.size == 1 && fresh.experimental.extraStrategies.size == 1)
  }

  test("only Graft.scala installs session extensions") {
    val writes = Seq(
      """\bextra(Optimizations|Strategies)\s*(\+\+|:\+|\+)?=(?!=)""".r,
      """register\(\s*"text_match(_with_limit)?"""".r)
    val root = new java.io.File("src/main")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    def text(f: java.io.File) =
      new String(Files.readAllBytes(f.toPath), java.nio.charset.StandardCharsets.UTF_8)
    val (installer, others) = sources.partition(_.getName == "Graft.scala")
    assert(installer.size == 1)
    // the patterns must find the real installer, or they prove nothing
    writes.foreach(re => assert(re.findFirstIn(text(installer.head)).isDefined, re))
    val offenders = for (f <- others; re <- writes; m <- re.findFirstIn(text(f))) yield s"$f: $m"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
