package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Command-line arguments of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    out: String,
    cpus: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      work = need("work"),
      out = need("out"),
      cpus = m.getOrElse("cpus", "4").toInt)
  }
}

/** One timed operation of a workload's closed loop. `kind` is the
  * shape / op / operator name; `check` is evaluated after the timed
  * loop and returns None when the result is right, else the reason.
  * `cpuMs` is the CPU time the JVM's Java threads spent during the op
  * (see Machine.threadCpu). */
final case class OpRecord(
    id: Long,
    kind: String,
    role: String, // "read" | "commit" | "pipeline"
    startNs: Long,
    endNs: Long,
    check: () => Option[String],
    facts: Map[String, Double] = Map.empty,
    cpuMs: Double = 0.0) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Stats {
  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile on a sorted copy. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      s(math.min(s.size - 1, math.max(0, rank - 1)))
    }

  /** p95 when at least 200 samples exist; otherwise the highest
    * percentile that still leaves 10 samples above it, but never below
    * the median. */
  def tailPct(xs: Seq[Double]): Double =
    if (xs.size >= 200) pct(xs, 95)
    else pct(xs, math.max(50.0, 100.0 * (xs.size - 10) / math.max(1, xs.size)))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Order-independent result fingerprint: row count plus the sum of
  * per-row 64-bit hashes of the rows' string forms. Doubles are printed
  * with 9 significant digits so that summation order cannot flip them. */
object Checksum {
  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => f"$d%.9g"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }
  def rowHash(r: Row): Long = {
    val s = cell(r)
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x85ebca6b)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }
  def of(rows: Array[Row]): (Long, Long) = (rows.length.toLong, rows.map(rowHash).sum)
  def of(df: DataFrame): (Long, Long) = of(df.collect())
}

/** Process-level machine channel: CPU count, load average, steal, the
  * fixed pure-Spark calibration probe, JVM GC/CPU time and the RSS peak. */
object Machine {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def load1: Double = os.getSystemLoadAverage
  def cpuMs: Double = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
    case _ => 0.0
  }
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time of every live Java thread, by thread id: the driver, the
    * task threads and every pool the engine or Spark starts. The JIT
    * compiler and GC threads are not Java threads, so they are not in
    * it, and neither is time the host stole from this machine. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    ids.indices.collect { case i if ns(i) >= 0 => ids(i) -> ns(i) }.toMap
  }
  /** Java-thread CPU ms since `before`; a thread that ended meanwhile
    * is not counted. */
  def threadCpuMsSince(before: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e6
  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
  }
  /** VmHWM of this process in MB (0 where /proc is unavailable). */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0.0 }
  /** System-wide (busy, steal) jiffies from /proc/stat: the steal share
    * of a window is time this machine's CPUs were runnable but the host
    * ran something else. Zeros where /proc is unavailable. */
  def cpuJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum - f(3) - f(4), if (f.length > 7) f(7) else 0L)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }
  def processStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A fixed codegen'd aggregation with no engine code and no IO: its
    * time moves only with the machine. Median of three. */
  def calibMs(spark: SparkSession, cpus: Int): Double = {
    val xs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 5000000L, 1L, cpus)
        .agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("id") % 7))
        .collect()
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(xs)
  }
}

/** Filesystem facts of table directories, gathered untimed. */
object Disk {
  final case class Snap(bytes: Long, metaBytes: Long, files: Set[String])
  def snap(dirs: Seq[String]): Snap = {
    var bytes = 0L; var meta = 0L
    val files = Set.newBuilder[String]
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) {
        val n = f.getName
        // hidden checksum files are a local-filesystem artifact
        if (!n.startsWith(".")) {
          bytes += f.length()
          if (!n.endsWith(".parquet")) meta += f.length()
          files += f.getPath
        }
      }
    dirs.foreach(d => walk(new java.io.File(d)))
    Snap(bytes, meta, files.result())
  }
}

/** Session extensions that the engine installs per session. Called by
  * reflection so the benchmark keeps compiling when an installer is
  * folded into another one: a missing installer is skipped. */
object SessionRules {
  private val installers = Seq(
    "graft.engine.index.SiSql" -> "enable",
    "graft.engine.index.TextMatchSql" -> "enable",
    "graft.engine.mv.Mv" -> "install",
    "graft.engine.catalog.GraftDml" -> "enable")
  def install(spark: SparkSession): Unit = installers.foreach { case (cls, m) =>
    try {
      val c = Class.forName(cls + "$")
      val obj = c.getField("MODULE$").get(null)
      c.getMethod(m, classOf[SparkSession]).invoke(obj, spark)
    } catch {
      case _: ClassNotFoundException | _: NoSuchMethodException => ()
    }
  }
}

/** A thread-safe record of everything one run measured. */
final class Recorder {
  private val ops = ArrayBuffer.empty[OpRecord]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  def newId(): Long = nextId.getAndIncrement()
  def add(r: OpRecord): Unit = synchronized { ops += r }
  def all: Seq[OpRecord] = synchronized { ops.toList }
}
