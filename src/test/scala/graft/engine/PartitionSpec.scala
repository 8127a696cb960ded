package graft.engine

import graft.engine.format.{Partitions, SegmentStatus}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Hive-style partitioned tables: per-value file layout inside segments,
  * file-grain pruning, SHOW/ADD/DROP PARTITION through Spark's v2
  * commands, INSERT OVERWRITE PARTITION (static + dynamic), and
  * metadata-only DROP PARTITION (reference partition surface:
  * CarbonAlterTableAddHivePartitionCommand.scala:52,
  * docs/ddl-of-carbondata.md:62-67). */
class PartitionSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft_part_").toString + "/t"

  private def mkPartitioned(): GraftTable = {
    val src = spark.range(0, 300)
      .selectExpr("id AS k", "CAST(id % 3 AS INT) AS p", "CAST(id AS DOUBLE) AS x")
    val t = GraftTable.create(spark, tmp(), src.schema,
      sortColumns = Seq("k"), partitionColumns = Seq("p"))
    t.insert(src)
    t
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    }.flatten
    scans(df.queryExecution.executedPlan)
      .flatMap(_.scan.toBatch.planInputPartitions())
      .flatMap { case fp: FilePartition => fp.files.map(_.filePath.toString) }
  }

  test("partitioned write: per-value dirs, real column kept, read matches") {
    val t = mkPartitioned()
    val seg = t.status.visible.head
    assert(seg.files.nonEmpty)
    assert(seg.files.forall(_.startsWith("__p_p=")),
      s"files should sit in partition dirs: ${seg.files.take(3)}")
    assert(seg.files.flatMap(Partitions.tupleFromPath).map(_._2).distinct.size == 3)
    // the real column survives in the data files
    assert(t.read.select("p").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
    assert(t.read.count() == 300)
    assert(t.read.filter(col("p") === 1).count() == 100)
    // per-file footer meta recorded (rows sum = segment rows)
    assert(seg.fileMeta.values.map(_.rows).sum == 300)
  }

  test("partition filter prunes to the partition's files at plan time") {
    val t = mkPartitioned()
    val files = plannedFiles(t.read.filter(col("p") === 2).select("k"))
    assert(files.nonEmpty)
    assert(files.forall(_.contains("__p_p=2")),
      s"expected only __p_p=2 files, got:\n${files.mkString("\n")}")
  }

  test("file-grain sort-column pruning from footer stats") {
    // 3 partitions × global sort on k: within a partition dir, files carry
    // tight k ranges; a k filter should not read every file of the
    // matching partitions when multiple files per partition exist
    val src = spark.range(0, 4000)
      .selectExpr("id AS k", "CAST(id % 2 AS INT) AS p", "CAST(id AS DOUBLE) AS x")
    val t = GraftTable.create(spark, tmp(), src.schema,
      sortColumns = Seq("k"), partitionColumns = Seq("p"),
      properties = Map("global_sort_partitions" -> "4"))
    t.insert(src)
    val all = plannedFiles(t.read.select("k"))
    val pruned = plannedFiles(t.read.filter(col("k") < 100).select("k"))
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"footer-grain skip should drop files: ${pruned.size} vs ${all.size}")
  }

  test("SHOW PARTITIONS / ADD / DROP PARTITION by name") {
    val wh = Files.createTempDirectory("graft_pwh_").toString
    spark.conf.set("spark.sql.catalog.gp", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gp.ns")
    spark.sql("CREATE TABLE gp.ns.pt (k INT, dt STRING) USING carbonish PARTITIONED BY (dt)")
    spark.sql("INSERT INTO gp.ns.pt VALUES (1, '2020-01-01'), (2, '2020-01-02'), (3, '2020-01-01')")
    val parts = spark.sql("SHOW PARTITIONS gp.ns.pt").collect().map(_.getString(0)).sorted
    assert(parts.toSeq == Seq("dt=2020-01-01", "dt=2020-01-02"), parts.mkString(","))

    spark.sql("ALTER TABLE gp.ns.pt ADD PARTITION (dt='2020-01-03')")
    val withAdded = spark.sql("SHOW PARTITIONS gp.ns.pt").collect().map(_.getString(0)).sorted
    assert(withAdded.contains("dt=2020-01-03"))

    spark.sql("ALTER TABLE gp.ns.pt DROP PARTITION (dt='2020-01-01')")
    val after = spark.sql("SHOW PARTITIONS gp.ns.pt").collect().map(_.getString(0)).sorted
    assert(after.toSeq == Seq("dt=2020-01-02", "dt=2020-01-03"))
    assert(spark.sql("SELECT * FROM gp.ns.pt").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("DROP PARTITION is metadata-only: counts adjust, tombstones reclaimed by CLEAN FILES") {
    val t = mkPartitioned()
    val before = t.status.visible.head
    val pSchema = PartitionOps.partitionSchema(t.meta, t.schema)
    val ident = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](1))
    val segCountBefore = t.status.segments.size
    assert(PartitionOps.dropPartition(t, pSchema, ident))
    // metadata path: same segment, fewer files, exact row decrement, no new segment
    assert(t.status.segments.size == segCountBefore, "no rewrite segment expected")
    val after = t.status.visible.head
    assert(after.id == before.id)
    assert(after.rowCount == 200)
    assert(after.files.forall(!_.contains("__p_p=1")))
    assert(after.removedFiles.nonEmpty)
    assert(t.read.count() == 200)
    assert(t.countStar == 200)
    // tombstoned files still on disk until CLEAN FILES
    val fs = t.layout.fs
    val gone = after.removedFiles.map(f =>
      new org.apache.hadoop.fs.Path(t.layout.segmentDir(after.id), f))
    assert(gone.forall(fs.exists))
    t.cleanFiles()
    assert(gone.forall(p => !fs.exists(p)))
    assert(t.status.visible.head.removedFiles.isEmpty)
    assert(t.read.count() == 200)
  }

  test("INSERT OVERWRITE PARTITION: static and dynamic") {
    val wh = Files.createTempDirectory("graft_pwh2_").toString
    spark.conf.set("spark.sql.catalog.gp2", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gp2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gp2.ns")
    spark.sql("CREATE TABLE gp2.ns.ow (k INT, p STRING) USING carbonish PARTITIONED BY (p)")
    spark.sql("INSERT INTO gp2.ns.ow VALUES (1, 'a'), (2, 'b'), (3, 'b')")

    // static: only partition b replaced
    spark.sql("INSERT OVERWRITE gp2.ns.ow PARTITION (p='b') SELECT 9")
    val afterStatic = spark.sql("SELECT k, p FROM gp2.ns.ow ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(afterStatic == Seq((1, "a"), (9, "b")), afterStatic.toString)

    // dynamic via SQL: the real DSv2 BatchWrite path
    // (OverwritePartitionsDynamic → DynamicOverwriteWrite)
    val old = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql("INSERT OVERWRITE gp2.ns.ow VALUES (7, 'a'), (8, 'c')")
    finally old match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val afterDyn = spark.sql("SELECT k, p FROM gp2.ns.ow ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(afterDyn == Seq((7, "a"), (8, "c"), (9, "b")), afterDyn.toString)

    // dynamic via the API form too (bucketed tables / path-addressed use)
    val t = GraftTable.at(spark, s"$wh/ns/ow")
    import spark.implicits._
    t.insertOverwriteDynamic(Seq((5, "c"), (6, "d")).toDF("k", "p"))
    val afterApi = spark.sql("SELECT k, p FROM gp2.ns.ow ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(afterApi == Seq((5, "c"), (6, "d"), (7, "a"), (9, "b")), afterApi.toString)
    // new-segment metadata from the BatchWrite path is exact
    assert(t.countStar == 4)
  }

  test("GROUP BY partition column + count(*) answers from metadata, zero files") {
    val t = mkPartitioned()
    val df = t.read.groupBy("p").agg(count(lit(1)).as("cnt"))
    val rows = df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows == Map(0 -> 100, 1 -> 100, 2 -> 100), rows.toString)
    // the metadata LocalScan plans as LocalTableScan — zero file scans
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"grouped count must plan as a driver-local metadata scan:\n$plan")
    // a data filter disables the metadata path (falls back to real scan)
    val filtered = t.read.filter(col("k") > 10).groupBy("p").agg(count(lit(1)).as("cnt"))
    assert(filtered.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(filtered.collect().map(_.getLong(1)).sum == 289)
  }

  test("metadata MIN/MAX stays correct after metadata-only DROP PARTITION") {
    // p=0 holds k ∈ {0,3,6,...}; dropping it moves min(k) to 1 — a stale
    // segment stat would answer 0 from the zero-IO metadata agg path
    val src = spark.range(0, 300).selectExpr("id AS k", "CAST(id % 3 AS INT) AS p")
    val t = GraftTable.create(spark, tmp(), src.schema,
      sortColumns = Seq("k"), partitionColumns = Seq("p"))
    t.insert(src)
    val pSchema = PartitionOps.partitionSchema(t.meta, t.schema)
    val ident = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](0))
    assert(PartitionOps.dropPartition(t, pSchema, ident))
    val r = t.read.agg(min("k"), max("k"), count(lit(1))).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 299L, 200L)), r.toString)
    // IsNotNull pruning must not skip the surviving rows either
    assert(t.read.filter(col("k").isNotNull).count() == 200)
  }

  test("null partition value round-trips via the default-partition dir") {
    // int partition: the default dir is unambiguous → IS NULL prunes
    val srcI = spark.sql("SELECT * FROM VALUES (1, 10), (2, CAST(NULL AS INT)) AS t(k, p)")
    val ti = GraftTable.create(spark, tmp(), srcI.schema, partitionColumns = Seq("p"))
    ti.insert(srcI)
    assert(ti.status.visible.head.files.exists(_.contains(Partitions.DefaultPartitionName)))
    assert(ti.read.filter(col("p").isNull).collect().map(_.getInt(0)).toSeq == Seq(2))
    val files = plannedFiles(ti.read.filter(col("p").isNull).select("k"))
    assert(files.forall(_.contains(Partitions.DefaultPartitionName)),
      s"IS NULL should prune to the default-partition file: $files")

    // string partition: null AND '' share the default dir (hive
    // convention), so no pruning claim — but values stay correct because
    // the real column lives in the data files
    val srcS = spark.sql(
      "SELECT * FROM VALUES (1, 'x'), (2, CAST(NULL AS STRING)), (3, '') AS t(k, p)")
    val ts = GraftTable.create(spark, tmp(), srcS.schema, partitionColumns = Seq("p"))
    ts.insert(srcS)
    assert(ts.read.filter(col("p").isNull).collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(ts.read.filter(col("p") === "").collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(ts.read.filter(col("p") === "x").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("UPDATE on a partition column relocates rows across partition dirs") {
    // pinned semantics (SURVEY §7.4): the reference REJECTS updates to
    // partition columns (CarbonProjectForUpdateCommand.scala:48 path);
    // we are deliberately STRONGER — SegmentWriter re-derives partition
    // dirs from row values, so the CoW rewrite physically relocates the
    // row and every partition-level view stays consistent.
    val t = mkPartitioned() // k 0..299, p = k % 3
    val n = t.update(col("k") === 5L, Map("p" -> lit(9)))
    assert(n == 1L)
    // the row physically landed in the new partition dir
    assert(t.status.visible.exists(_.files.exists(_.contains("__p_p=9"))),
      t.status.visible.flatMap(_.files).mkString(","))
    // value-level reads agree on both sides of the move
    assert(t.read.filter(col("p") === 9).collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(t.read.filter(col("k") === 5L).select("p").head().getInt(0) == 9)
    assert(t.read.filter(col("p") === 2).filter(col("k") === 5L).count() == 0)
    assert(t.read.count() == 300)
    // partition-pruned plans stay partition-pinned after the relocation
    val newFiles = plannedFiles(t.read.filter(col("p") === 9).select("k"))
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("__p_p=9")), newFiles.toString)
    val oldFiles = plannedFiles(t.read.filter(col("p") === 2).select("k"))
    assert(oldFiles.nonEmpty && oldFiles.forall(_.contains("__p_p=2")), oldFiles.toString)
    assert(t.read.filter(col("p") === 2).count() == 99) // lost exactly k=5
  }

  test("SQL UPDATE moving a partition value updates SHOW PARTITIONS") {
    val wh = Files.createTempDirectory("graft_pwh2_").toString
    spark.conf.set("spark.sql.catalog.gpu", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gpu.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpu.ns")
    spark.sql("CREATE TABLE gpu.ns.pm (k INT, dt STRING) USING carbonish PARTITIONED BY (dt)")
    spark.sql("INSERT INTO gpu.ns.pm VALUES (1, '2020-01-01'), (2, '2020-01-02')")
    spark.sql("UPDATE gpu.ns.pm SET dt = '2020-03-03' WHERE k = 1")
    val parts = spark.sql("SHOW PARTITIONS gpu.ns.pm").collect().map(_.getString(0)).sorted
    assert(parts.contains("dt=2020-03-03"), parts.mkString(","))
    assert(!parts.contains("dt=2020-01-01"),
      s"emptied partition should drop from data-derived SHOW PARTITIONS: ${parts.mkString(",")}")
    assert(spark.sql("SELECT k FROM gpu.ns.pm WHERE dt = '2020-03-03'")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("compaction preserves the partition layout") {
    val mk = (lo: Int, hi: Int) => spark.range(lo, hi)
      .selectExpr("id AS k", "CAST(id % 2 AS INT) AS p")
    val first = mk(0, 50)
    val t = GraftTable.create(spark, tmp(), first.schema,
      sortColumns = Seq("k"), partitionColumns = Seq("p"))
    t.insert(first); t.insert(mk(50, 100)); t.insert(mk(100, 150))
    val cid = t.compact("CUSTOM", customIds = t.status.visible.map(_.id))
    assert(cid.isDefined)
    val seg = t.status.visible.head
    assert(t.status.visible.size == 1)
    assert(seg.files.forall(_.startsWith("__p_p=")), seg.files.take(3).toString)
    assert(t.read.count() == 150)
    val files = plannedFiles(t.read.filter(col("p") === 0).select("k"))
    assert(files.nonEmpty && files.forall(_.contains("__p_p=0")))
  }
}
