package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Everything a workload needs during one run. */
final class Ctx(val args: Args, val spark: SparkSession, val tr: Tracer, val rec: Recorder) {
  /** The seeded input `name` (see Data.input). */
  def input(name: String): DataFrame = Data.input(spark, args.seed, name)
  val wh: String = s"${args.work}/wh"
  /** Extra per-layer values a workload computes outside the op records. */
  val layer: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  /** Run one op of the closed loop: the body is timed, `post` runs
    * after the clock stops and returns the deferred correctness check
    * and any plan facts. An exception is a failed op. */
  def op[R](kind: String, role: String)(body: => R)(
      post: R => (() => Option[String], Map[String, Double])): Option[R] = {
    val id = rec.newId()
    val c0 = Machine.threadCpu()
    val t0 = System.nanoTime()
    val res = try Right(tr.op(spark, id, kind)(body)) catch {
      case scala.util.control.NonFatal(e) => Left(e)
    }
    val t1 = System.nanoTime()
    val cpu = Machine.threadCpuMsSince(c0)
    res match {
      case Right(r) =>
        val (chk, facts) =
          try post(r) catch { case scala.util.control.NonFatal(e) => (() => Some(s"check: $e"), Map.empty[String, Double]) }
        rec.add(OpRecord(id, kind, role, t0, t1, chk, facts, cpu))
        Some(r)
      case Left(e) =>
        val msg = s"$kind failed: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        rec.add(OpRecord(id, kind, role, t0, t1, () => Some(msg), cpuMs = cpu))
        None
    }
  }

  /** The timed closed loop: whole rounds until `--seconds` have passed
    * and at least Main.MinRounds rounds are done, so that every op kind
    * has several samples. */
  def rounds(round: => Unit): Unit = {
    val end = System.nanoTime() + args.seconds * 1000000000L
    var i = 0
    while (i < Main.MinRounds || System.nanoTime() < end) { round; i += 1 }
  }
}

trait Workload {
  /** Build tables, indexes and MVs in namespace `ns`. */
  def setup(ctx: Ctx, ns: String): Unit
  /** Run every op kind once, unrecorded, on the set-up's tables. */
  def warmUp(ctx: Ctx): Unit
  /** The timed closed loop (see Ctx.rounds). */
  def run(ctx: Ctx): Unit
  /** The op roles whose latencies are the end-to-end metrics. */
  def primaryRoles: Set[String]
  /** Untimed, after the loop: work the deferred checks need. */
  def beforeChecks(ctx: Ctx): Unit = ()
  /** Untimed end-of-run facts (disk, format, ...) into ctx.layer. */
  def finish(ctx: Ctx): Unit = ()
}

object Main {
  /** Fewest rounds of the timed loop: each op kind's median then has at
    * least this many samples, whatever `--seconds` says. */
  val MinRounds = 3

  def workload(name: String): Workload = name match {
    case "read_mix" => new ReadMix
    case "ingest_mutate" => new IngestMutate
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val t00 = System.nanoTime()
  /** Phase progress on stderr (the run log): seconds since main started. */
  def log(msg: String): Unit = System.err.println(f"graftbench: ${(System.nanoTime() - t00) / 1e9}%7.2fs $msg")
  /** Run one set-up step and log how long it took. */
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally log(f"  $name ${(System.nanoTime() - t0) / 1e6}%.0fms")
  }

  /** Run independent set-up chains on threads of their own and wait for
    * all of them; the first failure is rethrown. Chains that build
    * disjoint tables overlap their per-commit driver work, which leaves
    * more of a run's time budget to the timed loop. */
  def parallel(chains: (() => Unit)*): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = chains.map { c =>
      val t = new Thread(() => try c() catch { case e: Throwable => errors.add(e) })
      t.start(); t
    }
    ts.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val wl = workload(a.workload)
    val loadStart = Machine.load1
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      .config(s"spark.sql.catalog.${Olap.Catalog}", "graft.engine.catalog.GraftCatalog")
      .config(s"spark.sql.catalog.${Olap.Catalog}.warehouse", s"${a.work}/wh")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(a.trace)
    tr.register(spark)
    val ctx = new Ctx(a, spark, tr, new Recorder)
    val cpu0 = Machine.cpuMs; val gc0 = Machine.gcMs
    log("spark session up")
    val t0 = System.nanoTime()
    wl.setup(ctx, "s0")
    val tablesS = (System.nanoTime() - t0) / 1e9
    log(f"tables built in $tablesS%.2fs")
    wl.warmUp(ctx)
    // setup_s: from process start until the tables, indexes and MVs are
    // built and the warm-up is done
    val setupS = (System.currentTimeMillis() - Machine.processStartMs) / 1e3
    log("warm-up done")
    val calibPre = Machine.calibMs(spark, a.cpus)

    val cpuLoop0 = Machine.cpuMs; val gcLoop0 = Machine.gcMs
    val jif0 = Machine.cpuJiffies
    val loop0 = System.nanoTime()
    wl.run(ctx)
    val loopS = (System.nanoTime() - loop0) / 1e9
    val cpuLoop = Machine.cpuMs - cpuLoop0; val gcLoop = Machine.gcMs - gcLoop0
    log(f"loop done: ${ctx.rec.all.size} ops in $loopS%.2fs")
    val jif1 = Machine.cpuJiffies
    val stealFrac = { val busy = jif1._1 - jif0._1; if (busy > 0) (jif1._2 - jif0._2).toDouble / busy else 0.0 }
    val calibPost = Machine.calibMs(spark, a.cpus)

    val ops = ctx.rec.all
    wl.beforeChecks(ctx)
    val failures = ops.flatMap(o => o.check().map(o.kind + ": " + _))
    log(s"checked: ${failures.size} wrong")
    wl.finish(ctx)
    tr.drain(spark)
    tr.attachSparkSpans(ops)

    val primary = ops.filter(o => wl.primaryRoles(o.role))
    val e2e = Metrics.endToEnd(primary, setupS)
    val layer = Metrics.perLayer(ctx, ops, primary, failures.size, loopS) ++ Map(
      "jvm.gc_ms" -> gcLoop, "jvm.cpu_ms" -> cpuLoop,
      "env.calib_ms.pre" -> calibPre, "env.calib_ms.post" -> calibPost, "env.steal_frac" -> stealFrac,
      "peak_rss_mb" -> Machine.peakRssMb)
    val env = Map[String, Any]("nproc" -> Machine.nproc, "load_start" -> loadStart,
      "load_end" -> Machine.load1, "calib_pre_ms" -> calibPre, "calib_post_ms" -> calibPost,
      "tables_s" -> tablesS, "steal_frac" -> stealFrac,
      "loop_s" -> loopS, "jvm_cpu_ms" -> (Machine.cpuMs - cpu0), "jvm_gc_ms" -> (Machine.gcMs - gc0))
    if (a.trace) tr.writeJsonl(s"${a.out}/trace.jsonl", a.workload, ops)
    failures.take(20).foreach(f => System.err.println(s"graftbench: WRONG $f"))

    val result = Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> ops.size, "failed" -> failures.size,
      "failures" -> failures.take(50),
      "end_to_end" -> e2e, "per_layer" -> layer, "env" -> env,
      "op_kinds" -> ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "kind_ms" -> primary.groupBy(_.kind).map { case (k, v) => k -> v.map(_.ms) },
      "kind_cpu_ms" -> primary.groupBy(_.kind).map { case (k, v) => k -> v.map(_.cpuMs) }))
    val w = new java.io.PrintWriter(s"${a.out}/result.json", "UTF-8")
    try w.println(result) finally w.close()
    spark.stop()
    log("done")
  }
}
