package graft.engine

import graft.engine.index.TextIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class TextIndexSpec extends AnyFunSuite {
  import TestSpark._

  test("posting index prunes to segments containing the query terms") {
    val root = Files.createTempDirectory("graft_ti_").toString
    import spark.implicits._
    // three segments with disjoint vocabularies + one shared term
    val seg0 = Seq((0L, "alpha shared kilo"), (1L, "alpha bravo"))
    val seg1 = Seq((10L, "charlie shared"), (11L, "charlie delta"))
    val seg2 = Seq((20L, "echo foxtrot"), (21L, "echo shared golf"))
    val t = GraftTable.create(spark, s"$root/t",
      seg0.toDF("id", "body").schema)
    Seq(seg0, seg1, seg2).foreach(s0 => t.insert(s0.toDF("id", "body")))

    TextIndex.create(t, "body", s"$root/ti_body")

    def scannedSegments(q: org.apache.spark.sql.DataFrame): Seq[String] =
      q.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .headOption.map { s =>
          TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq.flatMap(
            "/segments/([0-9]+)/".r.findFirstMatchIn(_).map(_.group(1))).distinct.sorted
        }.getOrElse(Nil)

    // single term confined to one segment
    val q1 = TextIndex.readMatching(t, "body", "charlie")
    assert(q1.select("id").collect().map(_.getLong(0)).toSet == Set(10L, 11L))
    assert(scannedSegments(q1) == Seq("1"))

    // AND across terms: 'echo shared' only co-occurs in segment 2
    val q2 = TextIndex.readMatching(t, "body", "echo shared")
    assert(q2.select("id").collect().map(_.getLong(0)).toSet == Set(21L))
    assert(scannedSegments(q2) == Seq("2"))

    // OR across clauses unions posting sets
    val q3 = TextIndex.readMatching(t, "body", "bravo OR delta")
    assert(q3.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 11L))
    assert(scannedSegments(q3) == Seq("0", "1"))

    // unknown term: provably empty, no scan needed
    assert(TextIndex.readMatching(t, "body", "zulu").count() == 0)

    // stale after insert; refresh catches up
    t.insert(Seq((30L, "zulu shared")).toDF("id", "body"))
    TextIndex.refresh(t, "body")
    assert(TextIndex.readMatching(t, "body", "zulu").count() == 1)

    TextIndex.drop(t, "body")
    // fallback still answers correctly without the index
    assert(TextIndex.readMatching(t, "body", "charlie").count() == 2)
  }

  test("text index file grain: selective query opens fewer files than the segment holds") {
    val root = Files.createTempDirectory("graft_ti_fg_").toString
    import spark.implicits._
    // ONE segment range-split over many files by id; each file gets its
    // own marker token, plus a token shared by every file
    val df = (0L until 4000L)
      .map(i => (i, s"tok${i / 500} common filler w$i"))
      .toDF("id", "body")
    val t = GraftTable.create(spark, s"$root/t", df.schema)
    t.insert(df.repartitionByRange(8, org.apache.spark.sql.functions.col("id")))
    val segFiles = t.status.visible.head.files
    assert(t.status.visible.size == 1 && segFiles.size >= 4,
      s"fixture wants a multi-file segment, got ${segFiles.size} files")
    TextIndex.create(t, "body", s"$root/ti_body")

    def scannedFiles(q: org.apache.spark.sql.DataFrame): Seq[String] =
      q.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .headOption.map(s =>
          TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq).getOrElse(Nil)

    // a marker token lives in one or two files — the planned scan must
    // pin those files, not the whole segment (position grain, the
    // FileGrainSpec assertion shape)
    val q = TextIndex.readMatching(t, "body", "tok3")
    assert(q.select("id").collect().map(_.getLong(0)).toSet ==
      (1500L until 2000L).toSet)
    val sf1 = scannedFiles(q)
    assert(sf1.nonEmpty && sf1.size < segFiles.size,
      s"expected < ${segFiles.size} files planned, got ${sf1.size}")

    // a token in every file still answers right (no over-pruning)
    assert(TextIndex.readMatching(t, "body", "common").count() == 4000L)

    // a fresh insert auto-folds into the index at load time (the
    // SILoadEventListener analog) — the new rows appear immediately and
    // the lookup STILL prunes below the full file set
    t.insert(Seq((9000L, "tok3 extra")).toDF("id", "body"))
    val q2 = TextIndex.readMatching(t, "body", "tok3")
    assert(q2.select("id").collect().map(_.getLong(0)).toSet ==
      (1500L until 2000L).toSet + 9000L,
      "rows loaded after index build must not be dropped")
    val allFiles = t.status.visible.flatMap(_.files).size
    val sf2 = scannedFiles(q2)
    assert(sf2.nonEmpty && sf2.size < allFiles,
      s"auto-refreshed lookup should stay file-pinned: $sf2")
  }

  test("lucene grammar: prefix wildcard prunes via index prefix scan; phrase and NOT") {
    val root = Files.createTempDirectory("graft_tiwild_").toString
    import spark.implicits._
    // disjoint vocabularies per segment; n10/n11 live in segment 1 only
    val seg0 = Seq((0L, "alpha bravo kilo"), (1L, "alpha big data golf"))
    val seg1 = Seq((10L, "n10 shared"), (11L, "n115 delta"))
    val seg2 = Seq((20L, "echo foxtrot"), (21L, "echo data big"))
    val t = GraftTable.create(spark, s"$root/t", seg0.toDF("id", "body").schema)
    Seq(seg0, seg1, seg2).foreach(s0 => t.insert(s0.toDF("id", "body")))
    TextIndex.create(t, "body", s"$root/ti_body")

    def scannedSegments(q: org.apache.spark.sql.DataFrame): Seq[String] =
      q.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .headOption.map { s =>
          TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq.flatMap(
            "/segments/([0-9]+)/".r.findFirstMatchIn(_).map(_.group(1))).distinct.sorted
        }.getOrElse(Nil)

    // reference TEXT_MATCH('name:n10*'): prefix wildcard — the posting
    // index answers it with a term-prefix scan and prunes to segment 1
    val qw = TextIndex.readMatching(t, "body", "n1*")
    assert(qw.select("id").collect().map(_.getLong(0)).toSet == Set(10L, 11L))
    assert(scannedSegments(qw) == Seq("1"), "prefix candidates must prune the scan")

    // phrase: words co-occur in segments 0 and 2, but IN ORDER only in 0
    val qp = TextIndex.readMatching(t, "body", "\"big data\"")
    assert(qp.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
    assert(scannedSegments(qp).toSet.subsetOf(Set("0", "2")),
      "phrase candidates prune to segments containing every word")

    // NOT cannot prune (other rows of a segment may lack the term) but
    // must filter exactly
    val qn = TextIndex.readMatching(t, "body", "echo NOT data")
    assert(qn.select("id").collect().map(_.getLong(0)).toSet == Set(20L))

    // SQL marker route understands the same grammar
    t.read.createOrReplaceTempView("tiwild_v")
    val qs = spark.sql("SELECT id FROM tiwild_v WHERE text_match('body:n1* OR \"big data\"')")
    assert(qs.collect().map(_.getLong(0)).toSet == Set(1L, 10L, 11L))
  }

  test("SQL index DDL + text_match() UDF rewrite prunes segments") {
    val root = Files.createTempDirectory("graft_tisql_").toString
    import spark.implicits._
    val seg0 = Seq((0L, "alpha shared"), (1L, "alpha bravo"))
    val seg1 = Seq((10L, "charlie shared"), (11L, "charlie delta"))
    val seg2 = Seq((20L, "echo foxtrot"), (21L, "echo shared"))
    val t = GraftTable.create(spark, s"$root/t", seg0.toDF("id", "body").schema)
    Seq(seg0, seg1, seg2).foreach(s0 => t.insert(s0.toDF("id", "body")))

    // CREATE INDEX … AS 'lucene' through the SQL command surface
    assert(GraftSql.command(spark, s"CREATE INDEX bidx ON TABLE ${t.path} (body) AS 'lucene'").isDefined)
    val shown = GraftSql.command(spark, s"SHOW INDEXES ON TABLE ${t.path}").get.collect()
    assert(shown.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("bidx", "lucene", "body")))

    t.read.createOrReplaceTempView("tisql_v")
    val q = spark.sql("SELECT id FROM tisql_v WHERE text_match('body:charlie')")
    assert(q.collect().map(_.getLong(0)).toSet == Set(10L, 11L))
    // rewrite fired: no marker UDF survives optimization
    val opt = q.queryExecution.optimizedPlan
    assert(!opt.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))),
      s"text_match marker must be rewritten away:\n$opt")
    // index prune: only segment 1 is scanned
    val scanned = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collect { case cs: graft.engine.source.CarbonishScan =>
      cs.visible.map(_.id).sorted }
    assert(scanned == Seq(Seq(1L)), s"expected only segment 1 scanned, got $scanned")

    // composes with other predicates (residual + pruning intact)
    val q2 = spark.sql(
      "SELECT id FROM tisql_v WHERE text_match('body:shared OR delta') AND id >= 10")
    assert(q2.collect().map(_.getLong(0)).toSet == Set(10L, 11L, 21L))

    // text_match_with_limit caps at the index layer
    val q3 = spark.sql(
      "SELECT count(*) AS c FROM tisql_v WHERE text_match_with_limit('body:shared', 2)")
    assert(q3.collect().head.getLong(0) == 2L)

    // provably-empty term folds to an empty scan
    assert(spark.sql("SELECT id FROM tisql_v WHERE text_match('body:zulu')").count() == 0)

    // fuzzy and proximity through the SQL grammar: the rewrite's
    // residual must cover them (previously a MatchError at plan time)
    assert(spark.sql("SELECT id FROM tisql_v WHERE text_match('body:charly~2')")
      .collect().map(_.getLong(0)).toSet == Set(10L, 11L))
    assert(spark.sql("SELECT id FROM tisql_v WHERE text_match('body:\"echo shared\"~1')")
      .collect().map(_.getLong(0)).toSet == Set(21L))

    // a non-carbonish relation fails loudly instead of matching nothing
    Seq((1L, "alpha")).toDF("id", "body").createOrReplaceTempView("plain_v")
    val e = intercept[Exception] {
      spark.sql("SELECT id FROM plain_v WHERE text_match('body:alpha')").collect()
    }
    assert(e.getMessage != null)

    // DROP INDEX clears the registry and the index table
    GraftSql.command(spark, s"DROP INDEX bidx ON TABLE ${t.path}")
    assert(GraftSql.command(spark, s"SHOW INDEXES ON TABLE ${t.path}").get.collect().isEmpty)
    assert(t.meta.properties.get("textindex.body").isEmpty)
  }

  test("REINDEX repairs incrementally: only uncovered segments are scanned") {
    val root = Files.createTempDirectory("graft_reidx_").toString
    import spark.implicits._
    val seg0 = Seq((0L, "alpha bravo"), (1L, "alpha kilo"))
    val t = GraftTable.create(spark, s"$root/t", seg0.toDF("id", "body").schema)
    t.insert(seg0.toDF("id", "body"))
    GraftSql.command(spark, s"CREATE INDEX ridx ON TABLE ${t.path} (body) AS 'lucene'")
    // this test exercises the MANUAL repair path — opt out of the
    // load-time auto-fold so inserts leave coverage stale on purpose
    t.setProperties(Map("index.autorefresh" -> "false"))
    val idxPath = t.meta.properties("textindex.body")
    val idx = GraftTable.at(spark, idxPath)
    val idxSegsAfterCreate = idx.status.visible.map(_.id).toSet

    // new base segment appears; index is stale for it
    t.insert(Seq((10L, "charlie delta")).toDF("id", "body"))
    GraftSql.command(spark, s"REINDEX INDEX TABLE ridx ON ${t.path}")
    // coverage caught up and the query uses the indexed path
    val q = TextIndex.readMatching(t, "body", "charlie")
    assert(q.select("id").collect().map(_.getLong(0)).toSet == Set(10L))
    // incremental: repair APPENDED a segment (no full overwrite) …
    val afterRepair = idx.status.visible.map(_.id).toSet
    assert(idxSegsAfterCreate.subsetOf(afterRepair) &&
      afterRepair.size == idxSegsAfterCreate.size + 1,
      s"expected one appended index segment: $idxSegsAfterCreate -> $afterRepair")
    // … and a second REINDEX with nothing uncovered is a metadata no-op
    GraftSql.command(spark, s"REINDEX ON ${t.path}")
    assert(idx.status.visible.map(_.id).toSet == afterRepair)

    // WHERE SEGMENT.ID IN (…) restricts the repair set
    t.insert(Seq((20L, "echo fox")).toDF("id", "body"))
    t.insert(Seq((30L, "golf hotel")).toDF("id", "body"))
    val baseNew = t.status.visible.map(_.id).sorted.takeRight(2)
    GraftSql.command(spark,
      s"REINDEX ON ${t.path} WHERE SEGMENT.ID IN (${baseNew.head})")
    val covered = idx.meta.properties("indexed_segments")
      .split(",").map(_.toLong).toSet
    assert(covered.contains(baseNew.head) && !covered.contains(baseNew.last))
  }

  test("SQL bloomfilter index DDL toggles bloom_columns") {
    val root = Files.createTempDirectory("graft_tibloom_").toString
    import spark.implicits._
    val t = GraftTable.create(spark, s"$root/t",
      Seq((1L, "x")).toDF("id", "body").schema)
    GraftSql.command(spark, s"CREATE INDEX idb ON TABLE ${t.path} (id) AS 'bloomfilter'")
    assert(t.meta.properties("bloom_columns") == "id")
    GraftSql.command(spark, s"REFRESH INDEX idb ON TABLE ${t.path}") // no-op, must not throw
    GraftSql.command(spark, s"DROP INDEX idb ON TABLE ${t.path}")
    assert(t.meta.properties.getOrElse("bloom_columns", "") == "")
    // IF EXISTS tolerates a missing name
    GraftSql.command(spark, s"DROP INDEX IF EXISTS nope ON TABLE ${t.path}")
  }

  test("text_match_with_limit caps at the index layer with early stop") {
    val root = Files.createTempDirectory("graft_ti_").toString
    import spark.implicits._
    // 3 segments, each with 10 'common' docs; one segment with a rare term
    def seg(base: Long, extra: String = "") =
      (0 until 10).map(i => (base + i, s"common filler$extra"))
    val t = GraftTable.create(spark, s"$root/t",
      seg(0).toDF("id", "body").schema)
    t.insert(seg(0).toDF("id", "body"))
    t.insert(seg(100).toDF("id", "body"))
    t.insert(seg(200, " rare").toDF("id", "body"))
    TextIndex.create(t, "body", s"$root/ti_body")

    // limit < hits: exactly `limit` rows, all real matches, and only the
    // FIRST candidate segment probed (probe group of 1 → early stop)
    val capped = TextIndex.readMatchingWithLimit(t, "body", "common", 7,
      segmentsPerProbe = 1)
    val got = capped.collect()
    assert(got.length == 7)
    assert(got.forall(_.getString(1).contains("common")))
    assert(got.map(_.getLong(0)).forall(_ < 100), "early stop: only segment 0 probed")

    // limit > hits: every match comes back, no phantom rows
    assert(TextIndex.readMatchingWithLimit(t, "body", "rare", 50).count() == 10)
    // no index on column → plain capped scan fallback
    TextIndex.drop(t, "body")
    assert(TextIndex.readMatchingWithLimit(t, "body", "common", 7).count() == 7)
  }
}
