package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and executor counts for one segment of a run. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, gcMs: Long = 0, shuffleBytes: Long = 0,
    spillBytes: Long = 0, inputBytes: Long = 0) {
  private def zip(o: Counts, f: (Long, Long) => Long): Counts = Counts(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks), f(cpuNs, o.cpuNs),
    f(gcMs, o.gcMs), f(shuffleBytes, o.shuffleBytes),
    f(spillBytes, o.spillBytes), f(inputBytes, o.inputBytes))
  def +(o: Counts): Counts = zip(o, _ + _)
  def -(o: Counts): Counts = zip(o, _ - _)
}

/** Counts jobs, stages and tasks, with executor CPU, GC, shuffle-write,
  * spill and input bytes. The benchmark runs one thing at a time and
  * reads a segment's counts as the difference of two snapshots taken with
  * the bus drained, so a segment's counts include the jobs of any
  * streaming query it started, which run under the query's own job group.
  */
final class SchedulerProbe extends SparkListener {
  private var total = Counts()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { total += Counts(jobs = 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { total += Counts(stages = 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    total += (
      if (m == null) Counts(tasks = 1)
      else Counts(tasks = 1, cpuNs = m.executorCpuTime,
        gcMs = m.jvmGCTime, shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        inputBytes = m.inputMetrics.bytesRead))
  }

  def snapshot(): Counts = synchronized(total)
}

/** Catalyst phase times and executed-plan shape of every finished query. */
final class PlanProbe extends QueryExecutionListener {
  final case class Done(analysisMs: Long, optimizationMs: Long,
      planningMs: Long, exchanges: Int, broadcastJoins: Int)
  private val done = mutable.ArrayBuffer.empty[Done]

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = PlanProbe.nodes(qe.executedPlan)
    val d = Done(ms("analysis"), ms("optimization"), ms("planning"),
      nodes.count(_.isInstanceOf[ShuffleExchangeExec]),
      nodes.count(n => n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec]))
    synchronized(done += d)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Queries finished since `mark` (a value of [[size]]). */
  def since(mark: Int): Seq[Done] = synchronized(done.drop(mark).toSeq)
  def size: Int = synchronized(done.size)
}

object PlanProbe {
  /** Every node of a physical plan, looking inside adaptive plans and
    * query stages, so the count is of the plan that ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Spans kept in memory and written as one JSON file when the run ends. */
class Trace(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int,
      startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var next = 0

  def span[A](name: String)(body: => A): A = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      spans += Span(id, name, parent, t0, System.nanoTime())
    }
  }

  def write(path: String, counts: Map[String, Double]): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"run_id":${Json.str(runId)},"spans":["""
    sb ++= spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":${Json.str(runId)}}"""
    }.mkString(",")
    sb ++= "],\"counts\":" + Json.obj(counts) + "}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

/** A do-nothing stand-in for untraced runs, so workloads call `span` the
  * same way whether the run is traced or not. */
object Trace {
  def off: Trace = new Trace("") {
    override def span[A](name: String)(body: => A): A = body
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString("{", ",", "}")
}

object Sys {
  /** The JVM's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Bytes of the regular files under a directory, recursively. */
  def du(dir: java.io.File): Long =
    if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}
