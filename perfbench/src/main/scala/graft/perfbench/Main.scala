package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What a workload hands back: end-to-end metrics (untraced runs),
  * per-layer metrics (traced runs), the operations it attempted and
  * those that threw, and any facts the output checks need. */
final case class Outcome(metrics: Map[String, Double],
    layers: Map[String, Double], attempted: Long, failed: Long,
    facts: Map[String, Double] = Map.empty)

/** Everything a workload may use: the session, the probes, the trace and
  * the run's parameters. */
final class Ctx(val spark: SparkSession, val args: Map[String, String]) {
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val work: String = args("work")
  val trace: Trace = if (traced) new Trace(args("run-id")) else Trace.off
  val sched = new SchedulerProbe
  val plans = new PlanProbe
  val streams = new StreamProbe
  /** Wall clock (epoch ms) at which set-up ended and measuring began. */
  var setupEndMs: Long = 0L

  if (traced) {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(plans)
  }
  spark.streams.addListener(streams)

  def markSetupDone(): Unit = setupEndMs = System.currentTimeMillis()
  def deadline: Long = System.nanoTime() + (seconds * 1e9).toLong
}

/** Whole rounds for the run's seconds, counted from construction: another
  * round starts only while the longest round so far would still end by
  * the deadline, and there is always at least one. */
final class Rounds(ctx: Ctx) {
  private val deadline = ctx.deadline
  private var longest = 0L
  private var done = 0

  def another(): Boolean = done == 0 || System.nanoTime() + longest <= deadline

  def timed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally {
      longest = math.max(longest, System.nanoTime() - t0)
      done += 1
    }
  }
}

/** Progress of every streaming query, kept in arrival order. */
final class StreamProbe extends StreamingQueryListener {
  private val events = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(events += e.progress)
  def size: Int = synchronized(events.size)
  /** The progress events since `mark` (a value of [[size]]). */
  def since(mark: Int): Seq[StreamingQueryProgress] = synchronized(events.drop(mark).toSeq)
}

/** Runs one workload in this JVM and writes its outcome as JSON.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * work (the run's scratch directory), data (the query-suite tables),
  * inputs (the telemetry logs), result (the outcome file), trace-out and
  * run-id (traced runs), cpus. `perfbench/run.py` supplies them; see the
  * README.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cpus = args.getOrElse("cpus", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, args)
    val out =
      try args("workload") match {
        case "query_suite" => QuerySuite.run(ctx, args("data"), args("inputs"))
        case "telemetry_stream" => TelemetryStream.run(ctx)
        case w => sys.error(s"unknown workload $w")
      } finally spark.streams.active.foreach(_.stop())
    // the drains' temp roots (graft_*) left in the run's own java.io.tmpdir;
    // the native libraries Spark's codecs unpack there are not counted
    val leftRoots = Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.startsWith("graft_"))
    val peakRss = Sys.peakRssMb()
    val layers = if (!ctx.traced) out.layers else out.layers ++ Map(
      "streaming.drain_tmp_mb" -> leftRoots.map(Sys.du).sum / 1048576.0,
      "jvm.peak_rss_mb" -> peakRss)
    val metrics = out.metrics
    spark.stop()
    if (ctx.traced) ctx.trace.write(args("trace-out"), layers)
    val json =
      s"""{"setup_end_ms":${ctx.setupEndMs},"attempted":${out.attempted},""" +
        s""""failed":${out.failed},"metrics":${Json.obj(metrics)},""" +
        s""""layers":${Json.obj(layers)},"facts":${Json.obj(out.facts)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("result")), json + "\n")
  }

  /** Scheduler and executor counts of a segment, as per-layer metrics. */
  def countLayers(c: Counts): Map[String, Double] = Map(
    "scheduler.jobs" -> c.jobs.toDouble,
    "scheduler.stages" -> c.stages.toDouble,
    "scheduler.tasks" -> c.tasks.toDouble,
    "executor.cpu_s" -> c.cpuNs / 1e9,
    "executor.gc_s" -> c.gcMs / 1e3,
    "executor.shuffle_mb" -> c.shuffleBytes / 1048576.0,
    "executor.spill_mb" -> c.spillBytes / 1048576.0)

  /** Trigger and state layers from streaming progress events: phase times
    * of the `control` triggers, batch work and state of the `data`
    * triggers, and the duration of the no-data triggers among `all`. Times
    * are means over triggers: Spark reports whole milliseconds, so a median
    * of them would read the same from run to run. */
  def triggerLayers(control: Seq[StreamingQueryProgress], data: Seq[StreamingQueryProgress],
      all: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def dur(ps: Seq[StreamingQueryProgress], k: String): Double =
      mean(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val lastState = data.lastOption.toSeq.flatMap(_.stateOperators)
    Map(
      "trigger.planning_ms" -> dur(control, "queryPlanning"),
      "trigger.wal_commit_ms" -> dur(control, "walCommit"),
      "trigger.commit_offsets_ms" -> dur(control, "commitOffsets"),
      "trigger.latest_offset_ms" -> dur(control, "latestOffset"),
      "trigger.empty_ms" -> dur(all.filter(_.numInputRows == 0), "triggerExecution"),
      "trigger.add_batch_ms" -> dur(data, "addBatch"),
      "state.rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
      "state.memory_mb" -> lastState.map(_.memoryUsedBytes).sum / 1048576.0,
      "state.commit_ms" -> mean(data.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)))
  }

  /** Per-key medians of a list of per-round metric maps. */
  def medians(rounds: Seq[Map[String, Double]]): Map[String, Double] =
    rounds.flatMap(_.keys).distinct.map { k =>
      k -> Sys.median(rounds.flatMap(_.get(k)))
    }.toMap
}
