package graft.perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{SparkEntry, Tables}

/** `query_suite`: the batch side of graft in a fresh JVM. One client runs,
  * one at a time, a fixed list of `SparkEntry.queries` over the sf0.01
  * tables, each result written as parquet, then the star-schema ETL of
  * seeded wind and solar logs and its dashboard reads ([[TelemetryEtl]]).
  * A pass is that whole list of operations. Passes repeat for the run's
  * seconds, at least one; at this size one pass takes longer than a run's
  * seconds, so the first pass in a fresh JVM is the measured unit. It pays
  * the JIT and codegen warm-up the same way in every run, and it repeated
  * more closely from run to run than later passes in one JVM did. The
  * checked results are the timed ones.
  */
object QuerySuite {

  /** The query list, by group; the README says why each is in it. */
  val Reference: Seq[String] = Seq("p05_dedup_first", "d03_time_features",
    "a16_low_power_alerts", "j07_asof_join", "o03_rank_window")
  val Drains: Seq[String] = Seq("s08_stream_parity")
  val Loops: Seq[String] = Seq("x234_dawid_skene")
  val Kernels: Seq[String] = Seq("x207_texttiling")
  val All: Seq[String] = Reference ++ Drains ++ Loops ++ Kernels

  /** The tables the list reads, for the direct `Tables` calls. */
  val TableNames: Seq[String] = Seq("events", "lineitem", "orders", "documents")

  def run(ctx: Ctx, data: String, logs: String): Outcome = {
    val spark = ctx.spark
    val fns = All.map(n => n -> SparkEntry.queries(n))
    val oracle = All.map(n => s"${Json.str(n)}:${Json.str(SparkEntry.oracleSql(n))}")
      .mkString("{", ",", "}")
    new java.io.File(s"${ctx.work}/out").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${ctx.work}/out/oracle_sql.json"), oracle)
    // set-up ends once the session has run one job, as in graft.Bench
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    ctx.markSetupDone()

    val rounds = new Rounds(ctx)
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val opWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passLayers = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted, failed = 0L
    while (rounds.another()) {
      val p = new PassLayers(ctx)
      val queries = fns.map { case (n, f) => n -> { () =>
        val df = ctx.trace.span(s"SparkEntry.construct:$n")(p.construct(f(spark, data)))
        ctx.trace.span(s"SparkEntry.execute:$n") {
          p.execute(df.write.mode("overwrite").parquet(s"${ctx.work}/out/$n"))
        }
      }}
      val t0 = System.nanoTime()
      rounds.timed(ctx.trace.span("query_suite.pass") {
        for ((n, op) <- queries ++ TelemetryEtl.ops(spark, logs, s"${ctx.work}/etl")) {
          attempted += 1
          val q0 = System.nanoTime()
          try {
            p.query(n)(ctx.trace.span(n)(op()))
            opWalls += (System.nanoTime() - q0) / 1e9
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $n failed: $e")
            failed += 1
          }
        }
      })
      passWalls += (System.nanoTime() - t0) / 1e9
      if (ctx.traced) passLayers += p.finish(data)
    }
    val etlLayers =
      if (ctx.traced) TelemetryEtl.tracedRound(ctx, logs, s"${ctx.work}/etl-traced")
      else Map.empty[String, Double]
    Outcome(
      metrics = Map(
        "throughput_per_s" -> attempted / passWalls.size / Sys.median(passWalls.toSeq),
        "latency_p50_ms" -> Sys.median(opWalls.toSeq) * 1000),
      layers = Main.medians(passLayers.toSeq) ++ etlLayers,
      attempted = attempted, failed = failed,
      facts = Map("passes" -> passWalls.size.toDouble))
  }

  /** The per-layer split of one traced pass. Untraced, every hook is a
    * plain call. */
  private final class PassLayers(ctx: Ctx) {
    private val spark = ctx.spark
    private var constructNs, executeNs, loopNs, drainNs = 0L
    private var constructJobs, loopJobs = 0L
    private val drainProgress = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    private var blocks = 0L
    private var pinnedBytes = 0L
    private val start = if (ctx.traced) { Sys.drain(spark); ctx.sched.snapshot() } else Counts()
    private val planMark = ctx.plans.size

    private def jobsNow(): Long = { Sys.drain(spark); ctx.sched.snapshot().jobs }

    def construct[A](body: => A): A = timed(body)((ns, jobs) => {
      constructNs += ns; constructJobs += jobs })

    def execute[A](body: => A): A = timed(body)((ns, _) => executeNs += ns)

    def query[A](name: String)(body: => A): A =
      if (!ctx.traced) body
      else {
        val streamMark = ctx.streams.size
        val r = timed(body) { (ns, jobs) =>
          if (Loops.contains(name)) { loopNs += ns; loopJobs += jobs }
          if (Drains.contains(name)) {
            drainNs += ns
            Sys.drain(spark)
            drainProgress ++= ctx.streams.since(streamMark)
          }
        }
        val held = spark.sparkContext.getRDDStorageInfo
        blocks += held.map(_.numCachedPartitions.toLong).sum
        pinnedBytes += held.map(i => i.memSize + i.diskSize).sum
        r
      }

    private def timed[A](body: => A)(record: (Long, Long) => Unit): A =
      if (!ctx.traced) body
      else {
        val j0 = jobsNow()
        val t0 = System.nanoTime()
        val r = body
        val ns = System.nanoTime() - t0
        record(ns, jobsNow() - j0)
        r
      }

    /** Close the pass: direct `Tables` calls, then the pass's counts. */
    def finish(data: String): Map[String, Double] = {
      Sys.drain(spark)
      val counts = ctx.sched.snapshot() - start
      val done = ctx.plans.since(planMark)
      var loadNs, loadJobs = 0L
      for (t <- TableNames) ctx.trace.span(s"Tables.load:$t") {
        val j0 = jobsNow()
        val t0 = System.nanoTime()
        t match {
          case "events" => Tables.events(spark, data)
          case "documents" => Tables.documents(spark, data)
          case "embeddings" => Tables.embeddings(spark, data)
          case other => Tables.load(spark, data, other)
        }
        loadNs += System.nanoTime() - t0
        loadJobs += jobsNow() - j0
      }
      val drainData = drainProgress.toSeq.filter(_.numInputRows > 0)
      Main.countLayers(counts) ++ Main.triggerLayers(drainData, drainData, drainProgress.toSeq) ++ Map(
        "Tables.load_ms" -> loadNs / 1e6,
        "Tables.load_jobs" -> loadJobs.toDouble,
        "SparkEntry.construct_s" -> constructNs / 1e9,
        "SparkEntry.construct_jobs" -> constructJobs.toDouble,
        "SparkEntry.execute_s" -> executeNs / 1e9,
        "catalyst.analysis_ms" -> done.map(_.analysisMs).sum.toDouble,
        "catalyst.optimization_ms" -> done.map(_.optimizationMs).sum.toDouble,
        "catalyst.planning_ms" -> done.map(_.planningMs).sum.toDouble,
        "plans.Loops.jobs" -> loopJobs.toDouble,
        "plans.Loops.wall_s" -> loopNs / 1e9,
        "streaming.drain_s" -> drainNs / 1e9,
        "streaming.drain_batches" -> drainProgress.size.toDouble,
        "materialize.blocks" -> blocks.toDouble,
        "materialize.pinned_mb" -> pinnedBytes / 1048576.0)
    }
  }
}
