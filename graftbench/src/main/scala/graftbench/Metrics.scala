package graftbench

import scala.collection.mutable

/** Turns a run's op records into the metrics BENCHMARK.json names. */
object Metrics {
  val Commits = Seq("insert", "load_csv", "update", "delete", "update_mor", "delete_mor",
    "merge", "compact", "stream_append", "handoff")
  val Pipeline = Seq("dedup_exact", "dedup_minhash", "dedup_ngram", "dedup_simhash",
    "ann_ivf", "ann_ivfpq", "vector_search", "decontaminate")
  val ScanFracShapes = Seq("range_scan", "si_lookup", "text_lookup", "join_agg")
  val CandidateOps = Seq("dedup_minhash", "dedup_ngram", "ann_ivf", "ann_ivfpq", "vector_search")

  /** Every per-layer metric name, in BENCHMARK.json order. */
  val perLayerNames: Seq[String] =
    Seq("build_ms", "analysis_ms", "optimization_ms", "planning_ms", "execution_ms")
      .flatMap(p => Olap.Shapes.map(s => s"read.$p.$s")) ++
    Seq("rules.graft_ms", "rules.graft_effective_frac", "read.tasks", "read.task_cpu_ms",
      "read.sched_delay_ms") ++
    ScanFracShapes.map(s => s"source.scan_rows_frac.$s") ++
    Seq("source.metadata_only_frac", "mv.rewrite_frac") ++
    Seq("call_ms", "driver_ms", "jobs").flatMap(p => Commits.map(c => s"commit.$p.$c")) ++
    Seq("format.bytes_per_commit", "format.meta_bytes_per_commit", "format.files_per_commit",
      "format.metacache_hit_frac", "format.lock_hold_max_ms", "format.segments_visible",
      "format.log_versions") ++
    Seq("call_ms", "task_cpu_ms").flatMap(p => Pipeline.map(o => s"ops.$p.$o")) ++
    CandidateOps.map(o => s"ops.candidates_per_result.$o") ++
    Seq("ops.shuffle_mb", "jvm.gc_ms", "jvm.cpu_ms", "env.calib_ms.pre", "env.calib_ms.post",
      "env.steal_frac") ++
    Seq("op_mean_ms", "op_gmean_ms") ++
    Seq("read_p50_ms", "read_p95_ms", "read_qps", "commit_p50_ms", "commit_p95_ms",
      "load_mb_per_s", "write_bytes_per_row", "space_amp", "pipeline_op_p50_ms",
      "pipeline_rows_per_s", "failed_ops_frac", "peak_rss_mb")

  private def gmean(xs: Iterable[Double]): Double = math.exp(Stats.mean(xs.map(math.log).toSeq))
  private def kindMedians(ops: Seq[OpRecord], f: OpRecord => Double): Iterable[Double] =
    ops.groupBy(_.kind).values.map(xs => Stats.median(xs.map(f)))

  /** The end-to-end metrics, over the primary ops (commits on
    * ingest_mutate, reads and pipeline operators on read_mix). CPU time
    * rather than wall time: on a shared host the guest's CPUs are
    * intermittently stolen, which stretches wall time but not the CPU
    * time of the program's threads. The mean weighs each op by its cost;
    * the geometric mean of the per-kind medians weighs each kind alike.
    * The wall-time forms are per-layer metrics (`perLayer`). */
  def endToEnd(primary: Seq[OpRecord], setupS: Double): Map[String, Double] =
    Map("setup_s" -> setupS, "op_cpu_ms" -> Stats.mean(primary.map(_.cpuMs)),
      "op_cpu_gmean_ms" -> gmean(kindMedians(primary, _.cpuMs)))

  private def fact(o: OpRecord, k: String): Double = o.facts.getOrElse(k, 0.0)

  /** Length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  def perLayer(ctx: Ctx, ops: Seq[OpRecord], primary: Seq[OpRecord], failed: Int, loopS: Double): Map[String, Double] = {
    val m = mutable.LinkedHashMap(perLayerNames.map(_ -> 0.0): _*)
    m("op_mean_ms") = Stats.mean(primary.map(_.ms))
    m("op_gmean_ms") = gmean(kindMedians(primary, _.ms))
    val tr = ctx.tr
    val reads = ops.filter(_.role == "read")
    val shaped = reads.filter(o => Olap.Shapes.contains(o.kind))
    for ((shape, rs) <- shaped.groupBy(_.kind)) {
      m(s"read.build_ms.$shape") = Stats.median(rs.map(o => math.max(0.0, fact(o, "build_ms") - fact(o, "analysis_ms"))))
      m(s"read.analysis_ms.$shape") = Stats.median(rs.map(fact(_, "analysis_ms")))
      m(s"read.optimization_ms.$shape") = Stats.median(rs.map(fact(_, "optimization_ms")))
      m(s"read.planning_ms.$shape") = Stats.median(rs.map(fact(_, "planning_ms")))
      m(s"read.execution_ms.$shape") = Stats.median(rs.map(o =>
        math.max(0.0, fact(o, "collect_ms") - fact(o, "optimization_ms") - fact(o, "planning_ms"))))
      if (ScanFracShapes.contains(shape))
        m(s"source.scan_rows_frac.$shape") = Stats.median(rs.map(o => fact(o, "scan_rows") / fact(o, "table_rows")))
    }
    if (shaped.nonEmpty) {
      m("rules.graft_ms") = Stats.mean(shaped.map(fact(_, "graft_rule_ms")))
      val runs = shaped.map(fact(_, "graft_rule_runs")).sum
      m("rules.graft_effective_frac") = if (runs > 0) shaped.map(fact(_, "graft_rule_eff")).sum / runs else 0.0
    }
    val metaReads = shaped.filter(_.kind == "meta_agg")
    if (metaReads.nonEmpty) m("source.metadata_only_frac") = metaReads.count(fact(_, "file_scans") == 0).toDouble / metaReads.size
    val mvReads = shaped.filter(_.kind == "mv_rollup")
    if (mvReads.nonEmpty) m("mv.rewrite_frac") = mvReads.count(fact(_, "mv_served") > 0).toDouble / mvReads.size
    if (tr.enabled && reads.nonEmpty) {
      val ts = reads.map(o => tr.tasksOf(o.id))
      m("read.tasks") = Stats.mean(ts.map(_.tasks.toDouble))
      m("read.task_cpu_ms") = Stats.mean(ts.map(_.cpuNs / 1e6))
      val n = ts.map(_.tasks).sum
      m("read.sched_delay_ms") = if (n > 0) ts.map(_.schedDelayMs).sum.toDouble / n else 0.0
    }

    val commits = ops.filter(_.role == "commit")
    for ((k, cs) <- commits.groupBy(_.kind) if Commits.contains(k)) {
      m(s"commit.call_ms.$k") = Stats.median(cs.map(_.ms))
      if (tr.enabled) {
        m(s"commit.driver_ms.$k") = Stats.median(cs.map(o =>
          o.ms - unionMs(tr.jobsOf(o.id).filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)))))
        m(s"commit.jobs.$k") = Stats.mean(cs.map(o => tr.jobsOf(o.id).size.toDouble))
      }
    }
    val disk = commits.filter(_.facts.contains("bytes_added"))
    if (disk.nonEmpty) {
      m("format.bytes_per_commit") = Stats.mean(disk.map(fact(_, "bytes_added")))
      m("format.meta_bytes_per_commit") = Stats.mean(disk.map(fact(_, "meta_bytes_added")))
      m("format.files_per_commit") = Stats.mean(disk.map(fact(_, "files_added")))
      val rows = disk.map(fact(_, "rows_touched")).sum
      if (rows > 0) m("write_bytes_per_row") = disk.map(fact(_, "bytes_added")).sum / rows
    }

    val pops = ops.filter(_.role == "pipeline")
    for ((k, ps) <- pops.groupBy(_.kind)) {
      m(s"ops.call_ms.$k") = Stats.median(ps.map(_.ms))
      if (tr.enabled) m(s"ops.task_cpu_ms.$k") = Stats.mean(ps.map(o => tr.tasksOf(o.id).cpuNs / 1e6))
      if (CandidateOps.contains(k)) m(s"ops.candidates_per_result.$k") = Stats.median(ps.map(fact(_, "cand_ratio")))
    }
    if (pops.nonEmpty) {
      if (tr.enabled) m("ops.shuffle_mb") = Stats.mean(pops.map(o => tr.tasksOf(o.id).shuffleBytes / 1e6))
      m("pipeline_op_p50_ms") = Stats.median(pops.map(_.ms))
      m("pipeline_rows_per_s") = pops.map(fact(_, "input_rows")).sum / (pops.map(_.ms).sum / 1e3)
    }
    if (reads.nonEmpty) {
      m("read_p50_ms") = Stats.median(reads.map(_.ms))
      m("read_p95_ms") = Stats.tailPct(reads.map(_.ms))
      m("read_qps") = reads.size / loopS
    }
    if (commits.nonEmpty) {
      m("commit_p50_ms") = Stats.median(commits.map(_.ms))
      m("commit_p95_ms") = Stats.tailPct(commits.map(_.ms))
    }
    m("failed_ops_frac") = if (ops.isEmpty) 0.0 else failed.toDouble / ops.size
    ctx.layer.foreach { case (k, v) => if (m.contains(k)) m(k) = v }
    m.toMap
  }
}
