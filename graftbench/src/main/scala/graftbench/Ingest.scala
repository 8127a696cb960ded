package graftbench

import graft.engine.GraftTable
import graft.engine.format.{MetaCache, TableLayout}
import graft.engine.index.Si
import graft.engine.mv.Mv
import graft.engine.streaming.GraftStreaming
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Commit-path closed loop, one client: a seeded stream of the ten
  * commit kinds on small batches against an orders table that carries a
  * secondary index and an aggregate MV, each commit followed by a
  * `read_back` of the keys it touched. A driver-side model of every
  * live (key, price) pair is the expected answer. */
final class IngestMutate extends Workload {
  val primaryRoles = Set("commit")

  private var path: String = _
  private var ns: String = _
  private var model: mutable.Map[Long, java.math.BigDecimal] = _
  private var nextKey = 0L
  private var batchId = 0L
  private var csvBytes = 0L
  private var csvMs = 0.0
  private var hits = 0L
  private var misses = 0L

  private def dirs(ctx: Ctx): Seq[String] =
    Seq(path, s"${ctx.wh}/${ns}_idx", s"${ctx.wh}/${ns}_mv")
  private def mvName = s"mut_mv_$ns"

  def setup(ctx: Ctx, ns: String): Unit = {
    val spark = ctx.spark
    this.ns = ns
    path = s"${ctx.wh}/$ns/mut"
    Seq(s"${ctx.wh}/$ns", s"${ctx.wh}/${ns}_idx", s"${ctx.wh}/${ns}_mv").foreach(d => new java.io.File(d).mkdirs())
    val src = ctx.input("orders")
    val t = GraftTable.createAsSelect(spark, path, src, sortColumns = Seq("o_orderkey"))
    Si.create(t, "o_custkey", s"${ctx.wh}/${ns}_idx/mut_si")
    Mv.create(spark, mvName, t.read.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("total")), s"${ctx.wh}/${ns}_mv/mut_mv")
    SessionRules.install(spark)
    model = mutable.Map(src.select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toSeq: _*)
    nextKey = 10000000L
  }

  /** Small unrecorded commits over the copy-on-write, merge-on-read
    * and merge paths. */
  def warmUp(ctx: Ctx): Unit = {
    val rng = new scala.util.Random(ctx.args.seed + 99)
    Seq("insert", "update_mor", "merge").foreach(k => commit(ctx, k, rng, small = true, record = false))
  }

  /** One round: every commit kind once, in seeded order. The handoff
    * directly follows the stream append: the engine refuses to mutate a
    * table while a streaming segment is open. The MINOR compaction comes
    * last, when the round's loads have left enough small segments for
    * it to merge; earlier it may find nothing to do. */
  private def schedule(rng: scala.util.Random): Seq[String] = {
    val xs = rng.shuffle(Metrics.Commits.filterNot(k => k == "handoff" || k == "compact"))
    xs.patch(xs.indexOf("stream_append") + 1, Seq("handoff"), 0) :+ "compact"
  }

  private def table(ctx: Ctx): GraftTable = GraftTable.at(ctx.spark, path)

  /** New orders with fresh keys, materialized on the driver first. */
  private def fresh(ctx: Ctx, n: Int): Array[Row] = {
    val rows = Data.orders(ctx.spark, ctx.args.seed, nextKey, n).collect()
    nextKey += n
    rows
  }
  private def local(ctx: Ctx, rows: Array[Row]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), Data.orders(ctx.spark, 0).schema)

  private def liveKeys(rng: scala.util.Random, n: Int): Seq[Long] = {
    val ks = model.keysIterator.toIndexedSeq
    Seq.fill(n)(ks(rng.nextInt(ks.size))).distinct
  }

  private def cacheCounts(): (Long, Long) = {
    val es = MetaCache.entries(Some(path))
    (es.map(_._5).sum, es.map(_._6).sum)
  }
  /** MetaCache counters reset when a commit writes an entry through, so
    * a drop between two samples means the later sample is all new. */
  private def noteCache(before: (Long, Long)): Unit = {
    val (h, m) = cacheCounts()
    hits += (if (h >= before._1) h - before._1 else h)
    misses += (if (m >= before._2) m - before._2 else m)
  }

  private def commit(ctx: Ctx, kind: String, rng: scala.util.Random, small: Boolean, record: Boolean): Unit = {
    val spark = ctx.spark
    val tr = ctx.tr
    def size(lo: Int, hi: Int) = if (small) 10 else lo + rng.nextInt(hi - lo)
    def upd(d: java.math.BigDecimal, by: Int) = d.add(java.math.BigDecimal.valueOf(by.toLong))
    // inputs and the model change are prepared untimed; `body` is the commit
    val (touched: Seq[Long], rows: Long, body: (() => Unit), after: (() => Unit)) = kind match {
      case "insert" | "stream_append" | "load_csv" =>
        val rs = fresh(ctx, size(100, 1000))
        val keys = rs.map(_.getLong(0)).toSeq
        val apply = () => rs.foreach(r => model(r.getLong(0)) = r.getDecimal(3))
        val b: () => Unit = kind match {
          case "insert" =>
            val df = local(ctx, rs)
            () => tr.call("GraftTable.insert", "engine")(table(ctx).insert(df))
          case "stream_append" =>
            val df = local(ctx, rs); batchId += 1; val id = batchId
            () => tr.call("GraftStreaming.appendBatch", "engine.streaming")(
              GraftStreaming.appendBatch(table(ctx), df, id))
          case _ =>
            val f = s"${ctx.args.work}/csv/batch-${nextKey}.csv"
            writeCsv(f, rs)
            val bytes = new java.io.File(f).length()
            () => {
              val t0 = System.nanoTime()
              tr.call("GraftTable.loadCsv", "engine")(table(ctx).loadCsv(f))
              if (record) { csvBytes += bytes; csvMs += (System.nanoTime() - t0) / 1e6 }
            }
        }
        (keys, keys.size.toLong, b, apply)
      case "update" | "update_mor" =>
        val ks = liveKeys(rng, size(5, 50))
        val cond = col("o_orderkey").isin(ks: _*)
        val set = Map("o_totalprice" -> (col("o_totalprice") + 1))
        val b: () => Unit =
          if (kind == "update") () => tr.call("GraftTable.update", "engine")(table(ctx).update(cond, set))
          else () => tr.call("GraftTable.updateMor", "engine")(table(ctx).updateMor(cond, set))
        (ks, ks.size.toLong, b, () => ks.foreach(k => model(k) = upd(model(k), 1)))
      case "delete" | "delete_mor" =>
        val ks = liveKeys(rng, size(5, 50))
        val cond = col("o_orderkey").isin(ks: _*)
        val b: () => Unit =
          if (kind == "delete") () => tr.call("GraftTable.delete", "engine")(table(ctx).delete(cond))
          else () => tr.call("GraftTable.deleteMor", "engine")(table(ctx).deleteMor(cond))
        (ks, ks.size.toLong, b, () => ks.foreach(model.remove))
      case "merge" =>
        val ks = liveKeys(rng, size(5, 40))
        val rs = fresh(ctx, size(5, 40))
        val srcDf = table(ctx).read.filter(col("o_orderkey").isin(ks: _*))
          .withColumn("o_totalprice", col("o_totalprice") + 2)
        val src = local(ctx, srcDf.collect() ++ rs)
        val b = () => tr.call("MergeBuilder.execute", "engine") {
          table(ctx).merge(src.as("s"), col("t.o_orderkey") === col("s.o_orderkey"))
            .whenMatched().updateAll().whenNotMatched().insertAll().execute()
          ()
        }
        (ks ++ rs.map(_.getLong(0)), (ks.size + rs.length).toLong, b, () => {
          ks.foreach(k => model(k) = upd(model(k), 2))
          rs.foreach(r => model(r.getLong(0)) = r.getDecimal(3))
        })
      case "compact" =>
        (liveKeys(rng, 50), 0L,
          () => tr.call("GraftTable.compact", "engine")(table(ctx).compact("MINOR"): Unit), () => ())
      case "handoff" =>
        (liveKeys(rng, 50), 0L,
          () => tr.call("GraftStreaming.handoff", "engine.streaming")(GraftStreaming.handoff(table(ctx)): Unit), () => ())
    }
    if (!record) { body(); after(); readBack(ctx, touched); return }
    val before = Disk.snap(dirs(ctx))
    val c0 = cacheCounts()
    ctx.op(kind, "commit")(body()) { _ =>
      noteCache(c0)
      val now = Disk.snap(dirs(ctx))
      val added = now.files -- before.files
      val facts = Map(
        "bytes_added" -> math.max(0L, now.bytes - before.bytes).toDouble,
        "meta_bytes_added" -> math.max(0L, now.metaBytes - before.metaBytes).toDouble,
        "files_added" -> added.size.toDouble,
        "rows_touched" -> rows.toDouble)
      (() => None, facts)
    }.foreach(_ => after())
    val r0 = cacheCounts()
    val expected = touched.map(k => k -> model.get(k)).toMap
    ctx.op("read_back", "read")(readBack(ctx, touched)) { got =>
      noteCache(r0)
      val want = expected.collect { case (k, Some(v)) => k -> v.stripTrailingZeros }
      val have = got.map(r => r.getLong(0) -> r.getDecimal(1).stripTrailingZeros).toMap
      val chk = if (have == want && got.length == have.size) None
        else Some(s"after $kind: ${want.size} live keys expected, read ${got.length}; " +
          s"mismatched ${(want.toSet diff have.toSet).take(3)}")
      (() => chk, Map.empty)
    }
  }

  private def readBack(ctx: Ctx, keys: Seq[Long]): Array[Row] = {
    val df = ctx.tr.call("Dataset", "spark.analysis")(
      ctx.tr.call("GraftTable.read", "engine")(table(ctx).read)
        .filter(col("o_orderkey").isin(keys: _*)).select("o_orderkey", "o_totalprice"))
    ctx.tr.call("Dataset.collect", "spark.execution")(df.collect())
  }

  private def writeCsv(f: String, rows: Array[Row]): Unit = {
    new java.io.File(f).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority")
      rows.foreach(r => w.println(r.toSeq.map {
        case d: java.math.BigDecimal => d.toPlainString
        case v => v.toString
      }.mkString(",")))
    } finally w.close()
  }

  def run(ctx: Ctx): Unit = {
    TableLayout.resetLockHold()
    hits = 0; misses = 0; csvBytes = 0; csvMs = 0
    val rng = new scala.util.Random(ctx.args.seed)
    ctx.rounds(schedule(rng).foreach(k => commit(ctx, k, rng, small = false, record = true)))
  }

  override def finish(ctx: Ctx): Unit = {
    val t = table(ctx)
    val st = t.status
    ctx.layer("format.lock_hold_max_ms") = TableLayout.lockHoldMaxNanos / 1e6
    ctx.layer("format.metacache_hit_frac") = if (hits + misses > 0) hits.toDouble / (hits + misses) else 0.0
    ctx.layer("format.segments_visible") = st.visible.size.toDouble
    ctx.layer("format.log_versions") = st.version.toDouble
    if (csvMs > 0) ctx.layer("load_mb_per_s") = csvBytes / 1e6 / (csvMs / 1e3)
    // the live rows written once as plain parquet: the space baseline
    val plain = s"${ctx.args.work}/space_baseline"
    t.read.coalesce(1).write.mode("overwrite").parquet(plain)
    val base = Disk.snap(Seq(plain)).bytes
    if (base > 0) ctx.layer("space_amp") = Disk.snap(Seq(path)).bytes.toDouble / base
  }
}
