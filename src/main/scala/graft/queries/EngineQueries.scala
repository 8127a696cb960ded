package graft.queries

import graft.engine.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** CORRECTNESS rows that exercise the carbonish ENGINE, not raw parquet:
  * the driver's DuckDB oracle still reads the original parquet fixtures,
  * so these queries prove the engine's load → segment → scan path is
  * value-identical to the source data (the reference's own differential
  * methodology, SURVEY §5).
  *
  * Fixture tables are built once per (sf, table) under Fixtures.root
  * and reused across JVMs (Verify and Bench run separately).
  */
object EngineQueries {

  private val lock = new Object
  private def fixturePath(sfDir: String, name: String): String = {
    val base = new java.io.File(sfDir).getName
    s"${Fixtures.root}/$base/$name"
  }

  /** lineitem as one GLOBAL_SORT segment sorted by (l_shipdate, l_orderkey). */
  def lineitem(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = fixturePath(d, "lineitem")
    val layout = new graft.engine.format.TableLayout(p, s.sessionState.newHadoopConf())
    if (layout.exists && layout.readStatus().visible.nonEmpty) GraftTable.at(s, p)
    else {
      if (layout.exists) GraftTable.drop(s, p)
      GraftTable.createAsSelect(s, p, t(s, d, "lineitem"),
        sortColumns = Seq("l_shipdate", "l_orderkey"))
    }
  }

  /** orders split into 3 date-range segments (exercises segment skip). */
  def orders3(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = fixturePath(d, "orders3")
    val layout = new graft.engine.format.TableLayout(p, s.sessionState.newHadoopConf())
    if (layout.exists && layout.readStatus().visible.size == 3) GraftTable.at(s, p)
    else {
      if (layout.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderdate", "o_orderkey"))
      val c1 = lit("1995-01-01").cast("timestamp")
      val c2 = lit("1997-01-01").cast("timestamp")
      tbl.insert(src.filter(col("o_orderdate") < c1))
      tbl.insert(src.filter(col("o_orderdate") >= c1 && col("o_orderdate") < c2))
      tbl.insert(src.filter(col("o_orderdate") >= c2))
      tbl
    }
  }

  /** customer with a bloom index on c_custkey, keys dealt round-robin
    * over 3 segments so every segment's (min, max) spans the whole key
    * range — the one pruning tier that can serve a point lookup here is
    * the bloom row-group skip (BloomPruneSpec asserts the skip; this
    * fixture's row oracle-checks the VALUES through that path). Small
    * row groups make the skip real even at sf0.001. */
  def custBloom(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = fixturePath(d, "cust_bloom")
    val layout = new graft.engine.format.TableLayout(p, s.sessionState.newHadoopConf())
    if (layout.exists && layout.readStatus().visible.size == 3) GraftTable.at(s, p)
    else {
      if (layout.exists) GraftTable.drop(s, p)
      val src = t(s, d, "customer")
      val tbl = GraftTable.create(s, p, src.schema,
        sortColumns = Seq("c_name"),
        properties = Map(
          "bloom_columns" -> "c_custkey",
          "parquet.block.size" -> "65536"))
      (0 until 3).foreach(i => tbl.insert(src.filter(col("c_custkey") % 3 === i)))
      tbl
    }
  }

  /** orders with a secondary index on o_custkey — a NON-sort column,
    * so neither segment min-max nor the write-time sort chain can
    * serve the lookup: only the SI's value → (file, row-group)
    * postings prune (reference BroadCastSIFilterPushJoin shape). Own
    * table (not orders3) so the SI registration never perturbs the
    * shared fixture's cache check. */
  def ordersSi(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = fixturePath(d, "orders_si")
    val layout = new graft.engine.format.TableLayout(p, s.sessionState.newHadoopConf())
    val ok = layout.exists && {
      try layout.readStatus().visible.size == 3 &&
        layout.readTableMeta().properties.contains("si.o_custkey")
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (ok) GraftTable.at(s, p)
    else {
      if (layout.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderdate", "o_orderkey"))
      val c1 = lit("1995-01-01").cast("timestamp")
      val c2 = lit("1997-01-01").cast("timestamp")
      tbl.insert(src.filter(col("o_orderdate") < c1))
      tbl.insert(src.filter(col("o_orderdate") >= c1 && col("o_orderdate") < c2))
      tbl.insert(src.filter(col("o_orderdate") >= c2))
      graft.engine.index.Si.create(tbl, "o_custkey", s"$p/_si")
      tbl
    }
  }

  /** orders as a hive-style partitioned table: PARTITIONED BY
    * (o_orderstatus), sorted by o_orderkey within partitions — each
    * segment splits into per-status dirs (see format.Partitions). */
  def ordersPart(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = fixturePath(d, "orders_part")
    val layout = new graft.engine.format.TableLayout(p, s.sessionState.newHadoopConf())
    val ok = layout.exists && layout.readStatus().visible.nonEmpty &&
      layout.readTableMeta().partitionColumns == Seq("o_orderstatus")
    if (ok) GraftTable.at(s, p)
    else {
      if (layout.exists) GraftTable.drop(s, p)
      GraftTable.createAsSelect(s, p, t(s, d, "orders"),
        sortColumns = Seq("o_orderkey"),
        partitionColumns = Seq("o_orderstatus"))
    }
  }

  /** documents split into 3 doc_id-range segments with a text posting
    * index on `text` (TextIndex pruning exercised end-to-end). */
  def docs3(s: SparkSession, d: String): graft.engine.GraftTable = lock.synchronized {
    val p = fixturePath(d, "docs3")
    val layout = new graft.engine.format.TableLayout(p, s.sessionState.newHadoopConf())
    val existing =
      if (layout.exists && layout.readStatus().visible.size == 3) {
        val t0 = GraftTable.at(s, p)
        // a persisted index from before the coverage ledger can't prune —
        // rebuild the fixture so the pruning path stays exercised
        val idxCurrent = t0.meta.properties.get("textindex.text").exists { ip =>
          val il = new graft.engine.format.TableLayout(ip, s.sessionState.newHadoopConf())
          il.exists && il.readTableMeta().properties.contains("indexed_segments")
        }
        if (idxCurrent) Some(t0) else None
      } else None
    existing.getOrElse {
      if (layout.exists) GraftTable.drop(s, p)
      val src = t(s, d, "documents")
      val n = src.agg(max("doc_id")).collect().head.getLong(0) + 1
      val tbl = GraftTable.create(s, p, src.schema, Seq("doc_id"))
      tbl.insert(src.filter(col("doc_id") < n / 3))
      tbl.insert(src.filter(col("doc_id") >= n / 3 && col("doc_id") < 2 * n / 3))
      tbl.insert(src.filter(col("doc_id") >= 2 * n / 3))
      graft.engine.index.TextIndex.create(tbl, "text", s"${p}_textindex")
      tbl
    }
  }

  def queries: Map[String, QFn] = Map(
    // flagship TPC-H Q1 through the engine: sorted segment + DSv2 scan
    "q1_agg_carbonish" -> ((s, d) => {
      lineitem(s, d).read
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dpsum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
            .as("sum_disc_price"),
          dpsum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
            * (one + dec(col("l_tax")))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
    }),
    // metadata-only count(*) (reference CarbonCountStar.scala:44-50):
    // plans as a driver-local scan, zero files opened
    "q_countstar_meta" -> ((s, d) =>
      lineitem(s, d).read.agg(count(lit(1)).as("cnt"))),
    // metadata-only MIN/MAX/COUNT: answered from segment stats, zero
    // file IO (plan-asserted in EngineSpec)
    "q_minmax_meta" -> ((s, d) =>
      orders3(s, d).read.agg(
        min(col("o_orderkey")).as("min_k"), max(col("o_orderkey")).as("max_k"),
        max(col("o_totalprice")).as("max_p"), count(lit(1)).as("cnt"))),
    // sort-column filter over a multi-segment table: segment min/max skip
    // drops 2 of 3 segments before any file IO
    "q_engine_prune" -> ((s, d) => {
      orders3(s, d).read
        .filter(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
    }),
    // bloom point lookup on a NON-sort high-cardinality column over
    // fully-overlapping segments: min-max stats keep nothing out, the
    // parquet bloom filter skips the row groups (BloomPruneSpec asserts
    // the skip count; this row checks the answer) — the reference's
    // bloom CG index query shape (BloomCoarseGrainIndex.java:70,134)
    "q_engine_bloom" -> ((s, d) => {
      custBloom(s, d).read
        .filter(col("c_custkey").isin(7L, 421L, 1033L))
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"))
    }),
    // SI-accelerated IN lookup on a NON-sort column (reference
    // BroadCastSIFilterPushJoin): the posting index pins the matched
    // files and clips their splits to the value-bearing row groups
    // (r13 fine grain); the exact IN predicate runs as residual. The
    // oracle checks the VALUES through that path end-to-end —
    // SiSpec/TextRowGroupSpec assert the pruning itself.
    "q_si_lookup" -> ((s, d) => {
      graft.engine.index.Si.readWhereIn(ordersSi(s, d), "o_custkey",
          Seq(7L, 21L, 404L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
    }),
    // the AUTOMATIC form (reference CarbonSITransformationRule): a plain
    // DataFrame filter — no readWhereIn — rewritten by SiRewriteRule to
    // the same pinned read; SiSqlRewriteSpec asserts the pruning
    "q_si_sql_lookup" -> ((s, d) => {
      ordersSi(s, d).read.filter(col("o_custkey").isin(7L, 21L, 404L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
    }),
    // insegment('1')-style pinned read (reference CarbonEnv.scala:100):
    // segment 1 holds exactly the 1995-1996 date range by construction
    "q_engine_insegment" -> ((s, d) => {
      orders3(s, d).readSegments(Seq(1))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
    }),
    // ORDER BY sort-column LIMIT k: SupportsPushDownTopN plans a scan of
    // only the k-covering segments (TopNSpec asserts the file set); the
    // aggregate on top makes the result tie-insensitive and hashable
    "q_engine_topn" -> ((s, d) => {
      orders3(s, d).read.orderBy("o_orderdate").limit(500)
        .agg(count(lit(1)).as("cnt"), max(col("o_orderdate")).as("max_d"))
    }),
    // hive-style partition pruning: the o_orderstatus filter resolves to
    // the partition's own files at plan time (PartitionSpec asserts the
    // planned file set); the real column stays in the data files so the
    // values themselves are oracle-checked here
    "q_partition_prune" -> ((s, d) => {
      ordersPart(s, d).read
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
    }),
    // GROUP BY partition column + count(*) answered purely from the
    // path-encoded tuples and footer row counts — zero files opened
    // (plan-asserted in PartitionSpec)
    "q_partition_groupby_meta" -> ((s, d) =>
      ordersPart(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"))),
    // text posting index: candidate segments from term postings, exact
    // token-membership residual (lucene-FG analog, TextIndex)
    "q_text_index" -> ((s, d) => {
      import graft.engine.index.TextIndex
      TextIndex.readMatching(docs3(s, d), "text", "row data OR und")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
    }),
    // indexed lucene grammar: prefix wildcard answered by a term-PREFIX
    // scan over the sorted posting index + phrase/NOT residual
    "q_text_wildcard" -> ((s, d) => {
      import graft.engine.index.TextIndex
      TextIndex.readMatching(docs3(s, d), "text", "quer* NOT spark OR \"row data\"")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
    }),
    // lucene fuzzy (`term~N`): dictionary tokens within edit distance
    // are expanded right in the sorted posting-index scan (length
    // bracket + levenshtein), their postings union like a wildcard's,
    // and the exact token-level edit-distance residual runs on the
    // pinned row groups (reference LuceneFineGrainIndex accepts the
    // raw lucene fuzzy syntax, LuceneFineGrainIndex.java:137-142)
    "q_text_fuzzy" -> ((s, d) => {
      import graft.engine.index.TextIndex
      TextIndex.readMatching(docs3(s, d), "text",
          "tabel~2 scann~1 OR quer~1 NOT spark")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
    }),
    // proximity (`"w1 w2"~k`): window co-occurrence — all words within
    // a span of len+k tokens; index pruning intersects the words'
    // postings (a necessary condition), the window test is the residual
    "q_text_near" -> ((s, d) => {
      import graft.engine.index.TextIndex
      TextIndex.readMatching(docs3(s, d), "text", "\"query scan\"~2")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
    }),
    // text_match() as a SQL function: the marker UDF is rewritten by
    // TextMatchRule into index-pruned segments + exact token residual
    // (reference TextMatchUDF.scala:23-30). The UDF body THROWS, so
    // this row FAILS outright if the rewrite doesn't fire.
    "q_sql_text_match" -> ((s, d) => {
      docs3(s, d).read.createOrReplaceTempView("docs3_sql")
      s.sql("""SELECT lang, count(*) AS cnt FROM docs3_sql
               WHERE text_match('text:row data OR und') GROUP BY lang""")
    }),
    // text_match_with_limit: cap applied at the index layer (candidate
    // segments probed in order, scan stops at `limit` matches); counting
    // the capped result makes the row order-insensitive
    "q_text_limit" -> ((s, d) => {
      import graft.engine.index.TextIndex
      TextIndex.readMatchingWithLimit(docs3(s, d), "text", "join", 100)
        .agg(count(lit(1)).as("cnt"))
    }),
    // MV rollup: a finer-grained MV answers a coarser aggregate; the row
    // FAILS (exception) if the rewrite doesn't fire, so CORRECTNESS
    // guards the rewrite rule, not just the answer
    "q_mv_rollup" -> ((s, d) =>
      mvServed(s, d, "mv_li_roll", t(s, d, "lineitem").groupBy("l_returnflag")
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt")))(liRoll(s, d))),
    // MV filter subsumption: a residual filter on an MV grouping column
    // is applied over the MV scan before re-aggregation (reference
    // MVMatcher SelectSelectNoChildDelta); fails if the rewrite doesn't
    // fire
    "q_mv_filter" -> ((s, d) =>
      mvServed(s, d, "mv_li_roll", t(s, d, "lineitem")
        .filter(col("l_linestatus") === "O")
        .groupBy("l_returnflag")
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("cnt")))(liRoll(s, d))),
    // timeseries MV hierarchy (reference mv-guide.md "Time Series
    // Support"): a DAY-granularity query served from an HOUR-grain MV —
    // the bucket re-truncates, the aggregates roll up; fails if the
    // rewrite doesn't fire
    "q_mv_timeseries" -> ((s, d) =>
      mvServed(s, d, "mv_ev_ts", t(s, d, "events")
        .groupBy(graft.functions.GraftFunctions.timeseries(col("ts"), "day").as("bucket"))
        .agg(dsum(col("value")).as("sum_value"), count(lit(1)).as("cnt")))(
        // HOUR-grain MV: the DAY query re-truncates its buckets
        t(s, d, "events")
          .groupBy(graft.functions.GraftFunctions.timeseries(col("ts"), "hour").as("b"))
          .agg(sum(dec(col("value"))).as("pv"), count(lit(1)).as("pc")))),
    // join MV (reference MVMatcher join subsumption): a coarser rollup
    // over the orders⋈customer join is served by the join MV — branch
    // pruning differs between query and MV, so this row fails if the
    // branch-wise matcher regresses
    "q_mv_join" -> ((s, d) =>
      mvServed(s, d, "mv_oc_join", t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(dsum(col("o_totalprice")).as("sum_price"),
          count(lit(1)).as("cnt")))(
        t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment", "o_orderstatus")
          .agg(sum(dec(col("o_totalprice"))).as("pp"), count(lit(1)).as("pc")))),
    // select-only MV (reference MVMatcher SelectSelectNoChildDelta):
    // a filtered projection is served by a filtered-projection MV, the
    // extra conjunct re-applied over the stored rows; fails if the
    // rewrite doesn't fire
    "q_mv_select" -> ((s, d) =>
      mvServed(s, d, "mv_li_sel", t(s, d, "lineitem")
        .filter(col("l_quantity") > 40 && col("l_extendedprice") > 30000)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")))(
        t(s, d, "lineitem")
          .filter(col("l_quantity") > 40)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice")))),
    // paged read (PaginationCarbonReader analog): committed order on the
    // orders3 fixture IS (o_orderdate, o_orderkey) order — loads arrived
    // in date-range order and each is GLOBAL_SORT — so page(1234, 200)
    // must equal ORDER BY ... LIMIT 200 OFFSET 1234; only the covering
    // files are opened (PaginationSpec asserts the planned file set)
    "q_page" -> ((s, d) =>
      orders3(s, d).page(1234, 200)
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec(col("o_totalprice")).cast("double").as("price"))),
    // streaming SOURCE: the orders3 fixture's committed segments drain
    // as micro-batches through readStream (fresh checkpoint → all
    // segments re-emit, making the row deterministic); the drained rows
    // must equal the table contents exactly
    "q_stream_source" -> ((s, d) => {
      val tbl = orders3(s, d)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ss_q_").toString
      val out = java.nio.file.Files.createTempDirectory("graft_ss_out_").toString
      // drained micro-batches land in a parquet sink (distributed —
      // rows never touch the driver) and the result reads them back
      val q = s.readStream.format("carbonish").load(tbl.path)
        .select(col("o_orderkey"), col("o_orderstatus"),
          dec(col("o_totalprice")).cast("double").as("price"))
        .writeStream
        .format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
    })
  )

  /** The (l_returnflag, l_linestatus) rollup MV over lineitem that
    * q_mv_rollup and q_mv_filter share. */
  private def liRoll(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(dec(col("l_quantity"))).as("pq"), count(lit(1)).as("pc"))

  /** Ensure the shared MV `name`, built from `mvq`, exists and serves
    * `query`; the row FAILS if the rewrite does not fire. Locked like
    * every shared-fixture builder: two rows racing the drop+create would
    * corrupt the MV under each other. */
  private def mvServed(s: SparkSession, d: String, name: String, query: => DataFrame)(
      mvq: => DataFrame): DataFrame = lock.synchronized {
    import graft.engine.mv.{Mv, MvCatalog}
    val mvPath = s"${Fixtures.root}/${new java.io.File(d).getName}/$name"
    def rewrites: Boolean = query.queryExecution.optimizedPlan.toString.contains(name)
    val registered = MvCatalog.get(name).isDefined
    // the MV is a graft table: opening it brings the rewrite rule to a
    // session that has touched no graft table yet (a bench client)
    if (registered) GraftTable.at(s, mvPath)
    // reuse a registered or persisted def (possibly from a previous JVM
    // — the base parquet fixtures are immutable, so a loadable MV is
    // fresh); any doubt (no def, plan drift) → rebuild from scratch
    if (!((registered || Mv.load(s, mvPath).isDefined) && rewrites)) {
      Mv.drop(s, name)
      Mv.create(s, name, mvq, mvPath)
    }
    val q = query
    val plan = q.queryExecution.optimizedPlan.toString
    require(plan.contains(name), s"MV $name rewrite did not fire; plan:\n$plan")
    q
  }

  def oracle: Map[String, String] = Map(
    "q1_agg_carbonish" -> RelationalQueries.oracle("q1_agg"),
    "q_countstar_meta" -> "SELECT count(*) AS cnt FROM lineitem",
    "q_engine_prune" ->
      s"""SELECT o_orderstatus, count(*) AS cnt, ${oDsum("o_totalprice")} AS sum_price
          FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01'
          GROUP BY o_orderstatus""",
    "q_engine_bloom" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
         WHERE c_custkey IN (7, 421, 1033)""",
    "q_si_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_custkey IN (7, 21, 404)""",
    "q_si_sql_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_custkey IN (7, 21, 404)""",
    "q_engine_insegment" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
         GROUP BY o_orderpriority""",
    "q_minmax_meta" ->
      """SELECT min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
          max(o_totalprice) AS max_p, count(*) AS cnt FROM orders""",
    "q_engine_topn" ->
      """SELECT count(*) AS cnt, max(o_orderdate) AS max_d FROM
         (SELECT o_orderdate FROM orders ORDER BY o_orderdate LIMIT 500)""",
    "q_partition_prune" ->
      s"""SELECT o_orderpriority, count(*) AS cnt, ${oDsum("o_totalprice")} AS sum_price
          FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000
          GROUP BY o_orderpriority""",
    "q_partition_groupby_meta" ->
      "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus",
    "q_text_index" -> {
      val toks = "string_split(lower(trim(text)), ' ')"
      s"""SELECT lang, count(*) AS cnt FROM documents
          WHERE (list_contains($toks, 'row') AND list_contains($toks, 'data'))
             OR list_contains($toks, 'und')
          GROUP BY lang"""
    },
    "q_sql_text_match" -> {
      val toks = "string_split(lower(trim(text)), ' ')"
      s"""SELECT lang, count(*) AS cnt FROM documents
          WHERE (list_contains($toks, 'row') AND list_contains($toks, 'data'))
             OR list_contains($toks, 'und')
          GROUP BY lang"""
    },
    "q_text_wildcard" ->
      s"""SELECT lang, count(*) AS cnt FROM documents
          WHERE ${graft.functions.GraftFunctions.oTokenMatch("text", "quer* NOT spark OR \"row data\"")}
          GROUP BY lang""",
    "q_text_fuzzy" ->
      s"""SELECT lang, count(*) AS cnt FROM documents
          WHERE ${graft.functions.GraftFunctions.oTokenMatch("text", "tabel~2 scann~1 OR quer~1 NOT spark")}
          GROUP BY lang""",
    "q_text_near" ->
      s"""SELECT lang, count(*) AS cnt FROM documents
          WHERE ${graft.functions.GraftFunctions.oTokenMatch("text", "\"query scan\"~2")}
          GROUP BY lang""",
    "q_text_limit" -> {
      val toks = "string_split(lower(trim(text)), ' ')"
      s"""SELECT count(*) AS cnt FROM
          (SELECT 1 FROM documents WHERE list_contains($toks, 'join') LIMIT 100)"""
    },
    "q_mv_rollup" ->
      s"""SELECT l_returnflag, CAST(sum(${oDec("l_quantity")}) AS DOUBLE) AS sum_qty,
          count(*) AS cnt
          FROM lineitem GROUP BY l_returnflag""",
    "q_mv_filter" ->
      s"""SELECT l_returnflag, CAST(sum(${oDec("l_quantity")}) AS DOUBLE) AS sum_qty,
          count(*) AS cnt
          FROM lineitem WHERE l_linestatus = 'O' GROUP BY l_returnflag""",
    "q_mv_timeseries" ->
      s"""SELECT date_trunc('day', ts) AS bucket, ${oDsum("value")} AS sum_value,
          count(*) AS cnt
          FROM events GROUP BY 1""",
    "q_mv_join" ->
      s"""SELECT c_mktsegment, ${oDsum("o_totalprice")} AS sum_price,
          count(*) AS cnt
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment""",
    "q_mv_select" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         WHERE l_quantity > 40 AND l_extendedprice > 30000""",
    "q_page" ->
      s"""SELECT o_orderkey, o_orderstatus,
          CAST(${oDec("o_totalprice")} AS DOUBLE) AS price
          FROM (SELECT * FROM orders ORDER BY o_orderdate, o_orderkey
                LIMIT 200 OFFSET 1234)""",
    "q_stream_source" ->
      s"""SELECT o_orderkey, o_orderstatus,
          CAST(${oDec("o_totalprice")} AS DOUBLE) AS price FROM orders"""
  )
}
