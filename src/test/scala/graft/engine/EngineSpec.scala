package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Unwrap the carbonish runtime-filtering scan to the delegated
    * parquet scan (plan-inspection helper for the specs). */
  def parquetScanOf(s: org.apache.spark.sql.connector.read.Scan)
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =
    s match {
      case cs: graft.engine.source.CarbonishScan => cs.currentInner
      case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan => ps
      case other => throw new IllegalArgumentException(s"not a parquet-backed scan: $other")
    }
}

/** M0 engine slice: segment format + DSv2 source + insert/lifecycle.
  * Differential pattern follows the reference's QueryTest.checkAnswer
  * (integration/spark/.../test/util/QueryTest.scala:89-107): the same
  * query through the engine vs plain parquet must agree row-for-row. */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_tbl_").toString + "/t"

  private def checkSame(a: DataFrame, b: DataFrame): Unit = {
    val ac = a.collect().map(_.toString).sorted
    val bc = b.collect().map(_.toString).sorted
    assert(ac.length == bc.length, s"row count ${ac.length} vs ${bc.length}")
    assert(ac.sameElements(bc), {
      val diff = ac.zip(bc).find { case (x, y) => x != y }
      s"first diff: $diff"
    })
  }

  test("create + insert + read roundtrip equals plain parquet") {
    val src = spark.read.parquet(s"$sf/lineitem.parquet")
    val path = tmpTable()
    val t = GraftTable.create(spark, path, src.schema,
      sortColumns = Seq("l_shipdate", "l_orderkey"))
    t.insert(src)
    checkSame(t.read, src)
    assert(t.segments.map(_.status) == Seq("SUCCESS"))
    assert(t.segments.head.rowCount == src.count())
    assert(t.segments.head.stats.contains("l_shipdate"))
  }

  test("filters and projections agree with plain parquet") {
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val path = tmpTable()
    val t = GraftTable.createAsSelect(spark, path, src, Seq("o_orderdate"))
    val q = (df: DataFrame) => df
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderstatus") === "O")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
    checkSame(q(t.read), q(src))
  }

  test("metadata count(*) answers from tablestatus without scanning") {
    val src = spark.read.parquet(s"$sf/nation.parquet")
    val path = tmpTable()
    val t = GraftTable.createAsSelect(spark, path, src)
    val cnt = t.read.agg(count(lit(1)).as("cnt"))
    // the MetadataCountScan (a LocalScan) plans as LocalTableScan — the
    // executed plan must not touch any file scan
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"expected driver-local metadata count in plan:\n$plan")
    assert(cnt.collect().head.getLong(0) == 25)
    assert(t.countStar == 25)
    // with a filter the metadata path must NOT kick in
    val cntF = t.read.filter(col("n_regionkey") === 0).agg(count(lit(1)))
    val planF = cntF.queryExecution.executedPlan.toString
    assert(planF.contains("BatchScan"), s"filtered count must scan:\n$planF")
    assert(cntF.collect().head.getLong(0) ==
      src.filter(col("n_regionkey") === 0).count())
  }

  test("metadata min/max answers from segment stats without scanning") {
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val path = tmpTable()
    val t = GraftTable.create(spark, path, src.schema, Seq("o_orderkey"))
    t.insert(src.filter(col("o_orderkey") < 700))
    // an empty insert commits a 0-row segment with no min/max; it has no
    // value to contribute and must not turn the metadata answer off
    t.insert(src.filter(lit(false)))
    t.insert(src.filter(col("o_orderkey") >= 700))
    assert(t.status.visible.exists(_.rowCount == 0), "fixture needs a 0-row segment")
    // numeric min/max only: Spark's pushdown layer never offers string/
    // timestamp min/max to DSv2 sources, so those fall back to a scan
    val q = t.read.agg(
      min(col("o_orderkey")).as("min_k"), max(col("o_orderkey")).as("max_k"),
      count(lit(1)).as("cnt"), max(col("o_totalprice")).as("max_p"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"expected metadata-answered min/max in plan:\n$plan")
    val exp = src.agg(min(col("o_orderkey")), max(col("o_orderkey")),
      count(lit(1)), max(col("o_totalprice"))).collect().head
    assert(q.collect().head == exp)
    // an aggregate the stats can't answer (sum) must fall through to a scan
    val planSum = t.read.agg(sum(col("o_orderkey"))).queryExecution.executedPlan.toString
    assert(planSum.contains("Scan"), s"sum must scan:\n$planSum")
  }

  test("metadata min/max declines when a segment with rows has an all-null column") {
    val src = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val t = GraftTable.create(spark, tmpTable(), src.schema, Seq("o_orderkey"))
    t.insert(src.filter(col("o_orderkey") < 700))
    t.insert(src.filter(col("o_orderkey") >= 700)
      .withColumn("o_totalprice", lit(null).cast(src.schema("o_totalprice").dataType)))
    val q = t.read.agg(max(col("o_totalprice")).as("max_p"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"all-null segment must fall back to a scan:\n$plan")
    assert(q.collect().head.get(0) ==
      src.filter(col("o_orderkey") < 700).agg(max(col("o_totalprice"))).collect().head.get(0))
  }

  test("segment min/max pruning skips disjoint segments") {
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val path = tmpTable()
    val t = GraftTable.create(spark, path, src.schema, Seq("o_orderkey"))
    t.insert(src.filter(col("o_orderkey") < 500))
    t.insert(src.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1000))
    t.insert(src.filter(col("o_orderkey") >= 1000))
    assert(t.segments.count(_.isVisible) == 3)
    // stats-level check: only one segment survives the pruner
    import graft.engine.format.SegmentPruner
    import org.apache.spark.sql.sources.LessThan
    val kept = SegmentPruner.prune(t.status.visible,
      Seq(LessThan("o_orderkey", 250L)))
    assert(kept.size == 1, s"kept ${kept.map(_.id)}")
    // end-to-end correctness with the pruning file index in the loop
    val q = (df: DataFrame) => df.filter(col("o_orderkey") < 250)
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("sum_price"))
    checkSame(q(t.read), q(src))
    // PLAN-level check: the planned DSv2 scan must carry only segment 0's
    // files (regression: unqualified index keys made the skip a no-op)
    val scan = t.read.filter(col("o_orderkey") < 250)
    val planned = scan.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.flatten.collect {
          case f: org.apache.spark.sql.execution.datasources.FilePartition =>
            f.files.map(_.filePath.toString)
        }.flatten
    }.flatten
    assert(planned.nonEmpty && planned.forall(_.contains("/segments/0/")),
      s"expected only segment 0 files in the planned scan:\n${planned.mkString("\n")}")
  }

  test("insert overwrite retires previous segments") {
    val src = spark.read.parquet(s"$sf/region.parquet")
    val path = tmpTable()
    val t = GraftTable.createAsSelect(spark, path, src)
    t.insert(src.limit(2), overwrite = true)
    assert(t.read.count() == 2)
    assert(t.status.visible.size == 1)
    assert(t.segments.count(_.status == "MARKED_FOR_DELETE") == 1)
  }

  test("segment lifecycle: show, delete by id, clean files") {
    val src = spark.read.parquet(s"$sf/region.parquet")
    val path = tmpTable()
    val t = GraftTable.create(spark, path, src.schema)
    t.insert(src); t.insert(src); t.insert(src)
    assert(t.showSegments.count() == 3)
    assert(t.read.count() == 15)
    t.deleteSegmentsById(Seq(1))
    assert(t.read.count() == 10)
    // dry run first (reference clean-files.md DRY RUN OPTION): reports
    // the doomed segment with its size, deletes nothing
    val dry = GraftSql.command(spark,
      s"CLEAN FILES FOR TABLE $path OPTIONS('dryrun'='true')").get.collect()
    assert(dry.map(_.getLong(0)).toSeq == Seq(1L))
    assert(dry.head.getString(1) == "MARKED_FOR_DELETE" && dry.head.getLong(2) > 0)
    assert(t.layout.fs.exists(t.layout.segmentDir(1)),
      "dry run must not delete anything")
    val removed = t.cleanFiles()
    assert(removed == Seq(1))
    assert(!t.layout.fs.exists(t.layout.segmentDir(1)))
    assert(t.read.count() == 10)
    // pinned-segment read (insegment analog)
    assert(t.readSegments(Seq(0)).count() == 5)
  }

  test("compaction merges segments and preserves answers") {
    val src = spark.read.parquet(s"$sf/supplier.parquet")
    val path = tmpTable()
    val t = GraftTable.create(spark, path, src.schema, Seq("s_suppkey"))
    val parts = src.randomSplit(Array(1, 1, 1, 1), seed = 42)
    parts.foreach(p => t.insert(p))
    // decimal sum: accumulation-order independent across the rewrite
    val agg = (df: DataFrame) =>
      df.agg(sum(col("s_acctbal").cast("decimal(18,4)")), count(lit(1)))
    val before = agg(t.read).collect().head
    val newId = t.compact("MINOR")
    assert(newId.isDefined)
    assert(t.status.visible.size == 1)
    val after = agg(t.read).collect().head
    assert(before == after)
    t.cleanFiles()
    assert(t.segments.size == 1)
    checkSame(t.read, src)
  }

  test("add external segment (mixed format: parquet)") {
    val src = spark.read.parquet(s"$sf/nation.parquet")
    val path = tmpTable()
    val t = GraftTable.createAsSelect(spark, path, src.limit(10))
    val ext = Files.createTempDirectory("graft_ext_").toString
    src.filter(col("n_nationkey") >= 10).write.mode("overwrite").parquet(ext)
    t.addSegment(ext, "parquet")
    checkSame(t.read, src.limit(10).union(src.filter(col("n_nationkey") >= 10)))
  }

  test("SQL surface: CREATE TABLE USING carbonish + INSERT INTO + SELECT") {
    val path = tmpTable()
    val src = spark.read.parquet(s"$sf/region.parquet")
    GraftTable.create(spark, path, src.schema)
    spark.sql(s"CREATE TABLE graft_sql_region USING carbonish LOCATION '$path'")
    try {
      src.createOrReplaceTempView("region_src")
      spark.sql("INSERT INTO graft_sql_region SELECT * FROM region_src")
      checkSame(spark.sql("SELECT * FROM graft_sql_region"), src)
      spark.sql("INSERT INTO graft_sql_region SELECT * FROM region_src")
      assert(spark.sql("SELECT count(*) AS c FROM graft_sql_region")
        .collect().head.getLong(0) == 10)
      spark.sql("INSERT OVERWRITE graft_sql_region SELECT * FROM region_src")
      assert(spark.sql("SELECT count(*) AS c FROM graft_sql_region")
        .collect().head.getLong(0) == 5)
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_region")
  }
}
