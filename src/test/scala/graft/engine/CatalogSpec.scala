package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Name-based SQL surface: CREATE/CTAS/INSERT/SELECT/ALTER/RENAME/DROP
  * plus UPDATE/DELETE DML, all through `spark.sql` on `graft.<ns>.<t>`
  * identifiers (reference surface: CarbonSource + CarbonSpark2SqlParser,
  * SURVEY §2.7/§2.8). */
class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val wh: String = {
    val w = Files.createTempDirectory("graft_wh_").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", w)
    w
  }

  test("CREATE TABLE / INSERT INTO / SELECT by name") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns1")
    spark.sql("CREATE TABLE graft.ns1.t1 (k INT, v STRING) USING carbonish " +
      "TBLPROPERTIES ('sort_columns'='k')")
    spark.sql("INSERT INTO graft.ns1.t1 VALUES (3, 'c'), (1, 'a'), (2, 'b')")
    val rows = spark.sql("SELECT k, v FROM graft.ns1.t1 ORDER BY k").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // the catalog table is a normal carbonish table by path too
    val t = GraftTable.at(spark, s"$wh/ns1/t1")
    assert(t.meta.sortColumns == Seq("k"))
    assert(t.read.count() == 3)
  }

  test("CTAS, SHOW TABLES, DROP TABLE") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns2")
    spark.sql("CREATE TABLE graft.ns2.ctas USING carbonish AS SELECT 1 AS a, 'x' AS b")
    assert(spark.sql("SELECT * FROM graft.ns2.ctas").count() == 1)
    val names = spark.sql("SHOW TABLES IN graft.ns2").collect().map(_.getString(1)).toSet
    assert(names.contains("ctas"))
    spark.sql("DROP TABLE graft.ns2.ctas")
    assert(spark.sql("SHOW TABLES IN graft.ns2").collect().isEmpty)
  }

  test("INSERT OVERWRITE replaces table contents") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ns3")
    spark.sql("CREATE TABLE graft.ns3.ow (k INT) USING carbonish")
    spark.sql("INSERT INTO graft.ns3.ow VALUES (1), (2)")
    spark.sql("INSERT OVERWRITE graft.ns3.ow VALUES (9)")
    assert(spark.sql("SELECT * FROM graft.ns3.ow").collect().map(_.getInt(0)).toSeq == Seq(9))
  }

  test("SQL UPDATE routes through copy-on-write mutation") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql("CREATE TABLE graft.dml.u (k INT, p STRING, x DOUBLE) USING carbonish " +
      "TBLPROPERTIES ('sort_columns'='k')")
    spark.sql("INSERT INTO graft.dml.u VALUES (1,'a',10.0), (2,'b',20.0), (3,'c',30.0)")
    spark.sql("UPDATE graft.dml.u SET p = 'upd', x = x * 2 WHERE k >= 2")
    val got = spark.sql("SELECT k, p, x FROM graft.dml.u ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1, "a", 10.0), (2, "upd", 40.0), (3, "upd", 60.0)))
  }

  test("native SQL MERGE INTO routes through the merge builder") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql("CREATE TABLE graft.dml.m (k INT, v STRING, x DOUBLE) USING carbonish " +
      "TBLPROPERTIES ('sort_columns'='k')")
    spark.sql("INSERT INTO graft.dml.m VALUES (1,'a',10.0), (2,'b',20.0), (3,'c',30.0), (4,'d',40.0)")
    import spark.implicits._
    Seq((2, 200.0), (3, 300.0), (9, 900.0))
      .toDF("sk", "sx").createOrReplaceTempView("m_src")
    spark.sql(
      """MERGE INTO graft.dml.m AS tgt USING m_src AS src ON tgt.k = src.sk
        |WHEN MATCHED AND src.sk = 3 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = concat(tgt.v, '!'), x = src.sx
        |WHEN NOT MATCHED THEN INSERT (k, v, x) VALUES (src.sk, 'new', src.sx)
        |WHEN NOT MATCHED BY SOURCE AND tgt.k = 4 THEN UPDATE SET v = 'lone'
        |""".stripMargin)
    val got = spark.sql("SELECT k, v, x FROM graft.dml.m ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((1, "a", 10.0), (2, "b!", 200.0), (4, "lone", 40.0), (9, "new", 900.0)))
  }

  test("SQL MERGE with star actions (UPDATE SET * / INSERT *)") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql("CREATE TABLE graft.dml.ms (k INT, v STRING) USING carbonish")
    spark.sql("INSERT INTO graft.dml.ms VALUES (1,'a'), (2,'b')")
    import spark.implicits._
    Seq((2, "B"), (5, "E")).toDF("k", "v").createOrReplaceTempView("ms_src")
    spark.sql(
      """MERGE INTO graft.dml.ms t USING ms_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT k, v FROM graft.dml.ms ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "B"), (5, "E")))
  }

  test("SQL DELETE via DSv2 SupportsDelete") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql("CREATE TABLE graft.dml.d (k INT, v STRING) USING carbonish")
    spark.sql("INSERT INTO graft.dml.d VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    spark.sql("DELETE FROM graft.dml.d WHERE k IN (2, 4)")
    assert(spark.sql("SELECT k FROM graft.dml.d ORDER BY k").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3))
    // TRUNCATE TABLE goes through truncateTable()
    spark.sql("TRUNCATE TABLE graft.dml.d")
    assert(spark.sql("SELECT * FROM graft.dml.d").count() == 0)
  }

  test("mixed-format table reads by catalog name after ADD SEGMENT csv") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mix")
    spark.sql("CREATE TABLE graft.mix.m (k INT, v STRING) USING carbonish")
    spark.sql("INSERT INTO graft.mix.m VALUES (1,'a'), (2,'b')")
    import spark.implicits._
    val ext = Files.createTempDirectory("graft_mixcsv_").toString
    Seq((3, "c"), (4, "d")).toDF("k", "v")
      .coalesce(1).write.option("header", "true").mode("overwrite").csv(ext)
    GraftTable.at(spark, s"$wh/mix/m").addSegment(ext, "csv")
    spark.catalog.clearCache()
    val got = spark.sql("SELECT k, v FROM graft.mix.m ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // filters still apply (residual above the mixed scan)
    assert(spark.sql("SELECT k FROM graft.mix.m WHERE v = 'c'").collect()
      .map(_.getInt(0)).toSeq == Seq(3))
  }

  test("ALTER TABLE add/rename/drop column + properties, RENAME table") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl")
    spark.sql("CREATE TABLE graft.ddl.a (k INT, v STRING) USING carbonish")
    spark.sql("INSERT INTO graft.ddl.a VALUES (1,'a')")
    spark.sql("ALTER TABLE graft.ddl.a ADD COLUMN extra INT")
    spark.sql("ALTER TABLE graft.ddl.a RENAME COLUMN v TO w")
    assert(spark.sql("SELECT k, w, extra FROM graft.ddl.a").collect().length == 1)
    spark.sql("ALTER TABLE graft.ddl.a DROP COLUMN extra")
    spark.sql("ALTER TABLE graft.ddl.a SET TBLPROPERTIES ('note'='hi')")
    assert(GraftTable.at(spark, s"$wh/ddl/a").meta.properties.get("note").contains("hi"))
    spark.sql("ALTER TABLE graft.ddl.a UNSET TBLPROPERTIES ('note')")
    assert(!GraftTable.at(spark, s"$wh/ddl/a").meta.properties.contains("note"))
    // v2 RENAME TO resolves the new name inside the same catalog
    spark.sql("ALTER TABLE graft.ddl.a RENAME TO ddl.b")
    assert(spark.sql("SELECT * FROM graft.ddl.b").count() == 1)
  }

  test("external LOCATION: adopt, query by name, drop keeps data") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ext")
    // a carbonish table living outside the warehouse
    val loc = Files.createTempDirectory("graft_ext_").toString + "/data"
    val src = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    GraftTable.createAsSelect(spark, loc, src, sortColumns = Seq("k"))
    // adopt it by name (schema comes from the location)
    spark.sql(s"CREATE TABLE graft.ext.adopted USING carbonish LOCATION '$loc'")
    assert(spark.sql("SELECT * FROM graft.ext.adopted").count() == 10)
    // writes by name land at the external location
    spark.sql("INSERT INTO graft.ext.adopted VALUES (100, 'x')")
    assert(GraftTable.at(spark, loc).read.count() == 11)
    // DROP removes the name, not the data (hive external semantics)
    spark.sql("DROP TABLE graft.ext.adopted")
    assert(spark.sql("SHOW TABLES IN graft.ext").collect().isEmpty)
    assert(GraftTable.at(spark, loc).read.count() == 11)
    // CREATE ... LOCATION with a schema at a fresh path creates there
    val loc2 = Files.createTempDirectory("graft_ext2_").toString + "/data"
    spark.sql("CREATE TABLE graft.ext.fresh (k INT, v STRING) USING carbonish " +
      s"TBLPROPERTIES ('sort_columns'='k') LOCATION '$loc2'")
    spark.sql("INSERT INTO graft.ext.fresh VALUES (1, 'a')")
    assert(GraftTable.at(spark, loc2).read.count() == 1)
    assert(GraftTable.at(spark, loc2).meta.sortColumns == Seq("k"))
  }

  test("CREATE TABLE LIKE clones schema/sort/partition spec, no data") {
    wh
    val base = Files.createTempDirectory("graft_like_").toString
    val src = spark.range(0, 10).selectExpr(
      "id AS k", "CAST(id % 3 AS INT) AS p", "CAST(id AS DOUBLE) AS v")
    GraftTable.createAsSelect(spark, s"$base/src", src,
      sortColumns = Seq("k"), partitionColumns = Seq("p"),
      properties = Map("note" -> "n1"))
    val res = GraftSql.command(spark, s"CREATE TABLE $base/dst LIKE $base/src")
    assert(res.isDefined)
    val dst = GraftTable.at(spark, s"$base/dst")
    assert(dst.schema == GraftTable.at(spark, s"$base/src").schema)
    assert(dst.meta.sortColumns == Seq("k"))
    assert(dst.meta.partitionColumns == Seq("p"))
    assert(dst.meta.properties.get("note").contains("n1"))
    assert(dst.read.count() == 0, "LIKE clones structure, not data")
    // CarbonCli-style per-file summary rides the same command surface
    val summary = GraftSql.command(spark, s"SHOW SUMMARY FOR TABLE $base/src").get
    assert(summary.columns.toSeq ==
      Seq("segment", "file", "format", "live_rows", "bytes",
        "delta_files", "sort_col", "sort_min", "sort_max"))
    assert(summary.agg(sum("live_rows")).collect().head.getLong(0) == 10L)
  }

  test("SHOW CREATE TABLE renders a v2 carbonish table") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.sct")
    spark.sql("CREATE TABLE graft.sct.t (k INT, v STRING) USING carbonish " +
      "TBLPROPERTIES ('sort_columns'='k')")
    val ddl = spark.sql("SHOW CREATE TABLE graft.sct.t").collect().head.getString(0)
    assert(ddl.contains("carbonish") && ddl.contains("sort_columns"), ddl)
  }

  test("catalog read keeps segment pruning (filters reach the DSv2 scan)") {
    wh
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.scan")
    spark.sql("CREATE TABLE graft.scan.s (k INT, v STRING) USING carbonish " +
      "TBLPROPERTIES ('sort_columns'='k')")
    // two segments with disjoint k ranges
    spark.range(0, 100).selectExpr("CAST(id AS INT) k", "CAST(id AS STRING) v")
      .createOrReplaceTempView("lo")
    spark.range(1000, 1100).selectExpr("CAST(id AS INT) k", "CAST(id AS STRING) v")
      .createOrReplaceTempView("hi")
    spark.sql("INSERT INTO graft.scan.s SELECT * FROM lo")
    spark.sql("INSERT INTO graft.scan.s SELECT * FROM hi")
    val df = spark.sql("SELECT k FROM graft.scan.s WHERE k >= 1000")
    assert(df.count() == 100)
    // segment min/max skip: the lo segment must not survive the pruner
    val t = GraftTable.at(spark, s"$wh/scan/s")
    import graft.engine.format.SegmentPruner
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val kept = SegmentPruner.prune(t.status.visible,
      Seq(GreaterThanOrEqual("k", 1000)))
    assert(t.status.visible.size == 2 && kept.size == 1, s"kept ${kept.map(_.id)}")
  }
}
