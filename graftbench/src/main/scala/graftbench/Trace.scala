package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch microseconds. `op` groups the
  * spans of one operation; `parent` is the enclosing span's id. */
final case class Span(op: Long, id: Long, parent: Long, name: String,
    layer: String, startUs: Long, endUs: Long)

/** A query execution as the benchmark's QueryExecutionListener saw it. */
final case class QeInfo(execId: Long, funcName: String,
    phases: Seq[(String, Long, Long)], // (phase, startMs, endMs)
    graftRuleNs: Long, graftRuleRuns: Long, graftRuleEffective: Long)

final case class JobInfo(jobId: Int, group: String, startMs: Long, stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final case class TaskAgg(var tasks: Long = 0, var cpuNs: Long = 0,
    var schedDelayMs: Long = 0, var shuffleBytes: Long = 0)

object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us(ns: Long): Long = baseUs + (ns - baseNs) / 1000L
  def nowUs: Long = us(System.nanoTime())
}

/** In-memory span recorder plus the Spark listeners that feed it. When
  * disabled every call is a plain pass-through and no listener is
  * registered. */
final class Tracer(val enabled: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val spanIds = new java.util.concurrent.atomic.AtomicLong(1)
  import Tracer.Frame
  private val stack = new ThreadLocal[List[Frame]] { override def initialValue() = Nil }

  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeInfo]()
  val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val groupTasks = new ConcurrentHashMap[String, TaskAgg]()

  def group(op: Long): String = s"graftbench-op-$op"

  /** Root span of one operation; the op's Spark jobs run under its job group. */
  def op[T](spark: SparkSession, opId: Long, kind: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group(opId), kind, interruptOnCancel = false)
    try {
      if (!enabled) body
      else {
        val id = spanIds.getAndIncrement()
        val t0 = System.nanoTime()
        stack.set(Frame(opId, id) :: Nil)
        try body
        finally {
          spans.add(Span(opId, id, 0L, kind, "unattributed", Clock.us(t0), Clock.nowUs))
          stack.set(Nil)
        }
      }
    } finally sc.clearJobGroup()
  }

  /** Child span around one call into an engine module's public function. */
  def call[T](name: String, layer: String)(body: => T): T =
    if (!enabled || stack.get.isEmpty) body
    else {
      val parent = stack.get.head
      val id = spanIds.getAndIncrement()
      stack.set(Frame(parent.op, id) :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(parent.op, id, parent.span, name, layer, Clock.us(t0), Clock.nowUs))
        stack.set(stack.get.tail)
      }
    }

  def addSpan(op: Long, parent: Long, name: String, layer: String, s: Long, e: Long): Unit =
    if (enabled) spans.add(Span(op, spanIds.getAndIncrement(), parent, name, layer, s, e))

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def tasksOf(op: Long): TaskAgg = Option(groupTasks.get(group(op))).getOrElse(TaskAgg())
  def jobsOf(op: Long): Seq[JobInfo] = jobs.values.asScala.filter(_.group == group(op)).toSeq

  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  private def isGraftRule(name: String): Boolean = name.startsWith("graft.")

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val rules = qe.tracker.rules.filter { case (n, _) => isGraftRule(n) }.values
      qes.add(QeInfo(qe.id, funcName, ph,
        rules.map(_.totalTimeNs).sum, rules.map(_.numInvocations).sum,
        rules.map(_.numEffectiveInvocations).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, JobInfo(e.jobId, g, e.time, e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitMs.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    private def groupOfStage(stage: Int): Option[String] =
      Option(stageJob.get(stage): java.lang.Integer).flatMap(j => Option(jobs.get(j.intValue))).map(_.group)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      groupOfStage(e.stageId).foreach { g =>
        val a = groupTasks.computeIfAbsent(g, _ => TaskAgg())
        a.synchronized {
          a.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            a.cpuNs += m.executorCpuTime
            a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
          val sub = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
          a.schedDelayMs += math.max(0L, e.taskInfo.launchTime - sub)
        }
      }
  }

  /** Wait until Spark's listener bus has delivered every event so far. */
  def drain(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.graftbench.Bus.waitUntilEmpty(spark.sparkContext)

  /** Phase, graft-rule and job spans of each op: listener query
    * executions join to the op whose window holds their start (one
    * client runs the ops one after another); jobs join by job group. */
  def attachSparkSpans(ops: Seq[OpRecord]): Unit = if (enabled) {
    val byStart = ops.sortBy(_.startNs).toArray
    qes.asScala.foreach { q =>
      val start = q.phases.map(_._2).filter(_ > 0).minOption.getOrElse(0L) * 1000L
      byStart.find(o => Clock.us(o.startNs) - 1000L <= start && start <= Clock.us(o.endNs)).foreach { o =>
        q.phases.foreach { case (n, s, e) =>
          if (e >= s && s > 0) addSpan(o.id, 0L, n, "spark." + n, s * 1000L, e * 1000L)
        }
        q.phases.find(_._1 == "optimization").foreach { case (_, s, e) =>
          if (q.graftRuleNs > 0)
            addSpan(o.id, 0L, "graft-rules", "graft.rules",
              s * 1000L, math.min(e * 1000L, s * 1000L + q.graftRuleNs / 1000L))
        }
      }
    }
    val opById = ops.map(o => group(o.id) -> o).toMap
    jobs.values.asScala.foreach { j =>
      opById.get(j.group).foreach { o =>
        if (j.endMs >= j.startMs) addSpan(o.id, 0L, s"job-${j.jobId}", "spark.jobs", j.startMs * 1000L, j.endMs * 1000L)
      }
    }
  }

  /** Spans as JSON lines, one per span, tagged with the op's kind. */
  def writeJsonl(path: String, workload: String, ops: Seq[OpRecord]): Unit = {
    val kindOf = ops.map(o => o.id -> (o.kind, o.role)).toMap
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.sortBy(s => (s.op, s.startUs)).foreach { s =>
      val (k, r) = kindOf(s.op)
      w.println(Json.obj(Seq("workload" -> workload, "op" -> s.op, "kind" -> k, "role" -> r,
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_us" -> s.startUs, "end_us" -> s.endUs)))
    } finally w.close()
  }
}

object Tracer {
  private final case class Frame(op: Long, span: Long)
}

/** Minimal JSON writer for flat values. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
