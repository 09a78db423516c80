package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.clean.Validation
import graft.streaming.Pipeline

/** `telemetry_stream`: the live path. A wind-shaped generator over Spark's
  * rate sources feeds `Pipeline.transform(streaming = true)` (range
  * filter, default fill, watermarked dedup, time features) into
  * `Pipeline.parquetSink`, with a checkpoint. Two measured phases:
  *
  *  - saturated: [[SatBatches]] micro-batches of [[SatRows]] rows from
  *    `rate-micro-batch`, which is always ahead of the engine; the first
  *    [[WarmupBatches]] pay the query's planning and the JIT warm-up and
  *    are left out of its throughput;
  *  - paced: open-loop `rate` at [[PacedRate]] rows/s for the run's
  *    seconds; latency runs from each row's creation stamp to the end of
  *    the trigger that committed it.
  *
  * After measuring, `Pipeline.windowedStats` runs over the saturated
  * phase's detail sink (a bounded file-stream drain into its own parquet
  * sink), so the output checks can compare every window the watermark
  * closed with the detail rows beneath it.
  */
object TelemetryStream {
  val WarmupBatches = 2
  val SatBatches = 8
  val SatRows = 10000
  val PacedRate = 2000
  val MinPacedTriggers = 5
  val Stations: Seq[String] = Seq("WBWF", "GZWF", "ZFWF")
  /** Event time of tick 0: 2025-11-04T00:00:00Z; ticks are 5 s apart. */
  val StartEpoch = 1762214400L

  /** The wind-shaped rows for rate-source row `value`. Each station logs
    * one row per 5 s tick. About 1% of rows repeat the previous tick's row
    * exactly, 0.5% have a wind speed above the range bound and 1% have no
    * pressure or humidity. Every choice is integer arithmetic on (tick,
    * station, seed), so the output checks can recompute it in SQL.
    */
  def generate(rate: DataFrame, seed0: Long): DataFrame = {
    val seed = Math.floorMod(seed0, 1000003L)
    val v = col("value")
    val tick = v.divide(3).cast("long")
    val st = pmod(v, lit(3L))
    val dup = pmod(v * 7 + seed, lit(100L)) === 0 && tick > 0
    val k = when(dup, tick - 1).otherwise(tick)
    def u(salt: Int): Column =
      pmod(k * 2654435761L + st * 40503L + lit(seed * 97L + salt * 7919L),
        lit(1000003L)).cast("double") / 1000003.0
    val farm = round(u(7) * 700000.0, 2)
    val fill = u(2) < 0.01
    rate.select(
      timestamp_seconds(lit(StartEpoch) + k * 5).as("timestamp"),
      element_at(array(Stations.map(lit): _*), (st + 1).cast("int")).as("station_id"),
      when(u(1) < 0.005, lit(72.5)).otherwise(round(lit(1.5) + u(3) * 14.5, 2))
        .as("wind_speed_mps"),
      round(lit(18.0) + u(4) * 10.0, 2).as("air_temperature_C"),
      when(fill, lit(null).cast("double")).otherwise(round(lit(1008.0) + u(5) * 10.0, 2))
        .as("air_pressure_hPa"),
      when(fill, lit(null).cast("double")).otherwise(round(lit(30.0) + u(6) * 40.0, 2))
        .as("humidity_percent"),
      farm.as("farm_power_kW"),
      round(farm / 6.0, 6).as("farm_energy_kWh_10min"),
      v.as("seq"),
      col("timestamp").as("created_at"))
  }

  def clean(df: DataFrame): DataFrame =
    Pipeline.transform(df, Validation.windBounds, Validation.windDefaults,
      streaming = true, validCols = ("wind_speed_mps", "farm_power_kW"))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val w = s"${ctx.work}/stream"
    // set-up ends once the session has run one job, as in graft.Bench
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    ctx.markSetupDone()
    val c0 = if (ctx.traced) { Sys.drain(spark); ctx.sched.snapshot() } else Counts()
    val sat = ctx.trace.span("stream.saturated")(saturated(ctx, s"$w/sat", SatBatches))
    val c1 = if (ctx.traced) { Sys.drain(spark); ctx.sched.snapshot() } else Counts()
    val paced = ctx.trace.span("stream.paced")(this.paced(ctx, s"$w/paced", ctx.seconds))
    val c2 = if (ctx.traced) { Sys.drain(spark); ctx.sched.snapshot() } else Counts()
    ctx.trace.span("stream.windows")(windows(ctx, s"$w/sat/detail", s"$w/windows"))

    // saturated throughput: the median, over the data triggers after the
    // first WarmupBatches, of rows per trigger second. The first trigger
    // plans the query and creates the state stores, and the first few pay
    // the JIT warm-up of the streaming path; a median leaves out a trigger
    // that a burst of host load slowed.
    val satData = sat.filter(p => p.numInputRows > 0 && p.batchId >= WarmupBatches)
    val satRows = satData.map(_.numInputRows).sum.toDouble

    // paced latency: data triggers after the first, as for throughput
    val pacedData = paced.filter(p => p.numInputRows > 0 && p.batchId > 0)
    val satAll = sat.map(_.numInputRows).sum
    val pacedAll = paced.map(_.numInputRows).sum
    val rows = stamps(ctx, s"$w/paced/detail")
    val lat = latencies(rows, pacedData)
    val backlog = backlogs(rows, pacedData)
    val half = backlog.size / 2
    val growing = backlog.size >= 2 &&
      Sys.median(backlog.drop(half)) > Sys.median(backlog.take(half)) + PacedRate

    val layers = if (!ctx.traced) Map.empty[String, Double] else
      Main.countLayers(c2 - c0) ++ Main.triggerLayers(pacedData, satData, sat ++ paced) ++ Map(
        "executor.cpu_us_per_row" -> (c1 - c0).cpuNs / 1e3 / satRows,
        "stream.backlog_rows" -> Sys.median(backlog),
        "generator.lag_ms" -> Sys.median(lags(rows, pacedData)))
    Outcome(
      metrics = Map(
        "throughput_per_s" -> Sys.median(satData.map(p => p.numInputRows * 1000.0 / trig(p))),
        "latency_p50_ms" -> Sys.median(lat)),
      layers = layers,
      // operations: the rows the two measured phases committed
      attempted = satAll + pacedAll,
      failed = 0L,
      facts = Map("sat_rows" -> satAll.toDouble, "paced_rows" -> pacedAll.toDouble,
        "paced_backlog_grows" -> (if (growing) 1.0 else 0.0),
        "paced_triggers" -> pacedData.size.toDouble,
        "sat_rows_per_batch" -> SatRows.toDouble,
        "paced_rate" -> PacedRate.toDouble))
  }

  private def trig(p: StreamingQueryProgress): Double =
    p.durationMs.get("triggerExecution").toDouble

  /** `batches` micro-batches from `rate-micro-batch` into `dir/detail`. */
  def saturated(ctx: Ctx, dir: String, batches: Int): Seq[StreamingQueryProgress] = {
    val src = ctx.spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", SatRows.toString)
      .option("numPartitions", ctx.spark.sparkContext.defaultParallelism.toString)
      .load()
    val mark = ctx.streams.size
    val q = Pipeline.parquetSink(clean(generate(src, ctx.seed)), s"$dir/detail",
      s"$dir/checkpoint").start()
    try {
      while (Option(q.lastProgress).forall(_.batchId < batches - 1) && q.isActive)
        Thread.sleep(5)
    } finally q.stop()
    q.exception.foreach(e => throw e)
    Sys.drain(ctx.spark)
    mine(ctx, mark, q)
  }

  /** Open-loop `rate` at [[PacedRate]] rows/s into `dir/detail`. */
  def paced(ctx: Ctx, dir: String, seconds: Double): Seq[StreamingQueryProgress] = {
    val src = ctx.spark.readStream.format("rate")
      .option("rowsPerSecond", PacedRate.toString)
      .option("numPartitions", ctx.spark.sparkContext.defaultParallelism.toString)
      .load()
    val mark = ctx.streams.size
    val q = Pipeline.parquetSink(clean(generate(src, ctx.seed)), s"$dir/detail",
      s"$dir/checkpoint").start()
    // at least MinPacedTriggers data triggers after the first, so that a slow
    // start cannot leave the phase without latency samples
    val until = System.nanoTime() + (seconds * 1e9).toLong
    def dataTriggers = ctx.streams.since(mark).count(_.numInputRows > 0)
    try {
      while (q.isActive && (System.nanoTime() < until || dataTriggers <= MinPacedTriggers))
        Thread.sleep(10)
    } finally q.stop()
    q.exception.foreach(e => throw e)
    Sys.drain(ctx.spark)
    mine(ctx, mark, q)
  }

  private def mine(ctx: Ctx, mark: Int, q: StreamingQuery): Seq[StreamingQueryProgress] =
    ctx.streams.since(mark).filter(_.runId == q.runId).sortBy(_.batchId)

  /** `Pipeline.windowedStats` over a finished detail sink, drained. */
  def windows(ctx: Ctx, detail: String, dir: String): Unit = {
    val src = ctx.spark.readStream.schema(ctx.spark.read.parquet(detail).schema)
      .parquet(detail)
    val q = Pipeline.parquetSink(Pipeline.windowedStats(src, "10 minutes", "5 minutes"),
      s"$dir/out", s"$dir/checkpoint", boundedDrain = true).start()
    try {
      if (!q.awaitTermination(120000L)) sys.error("window drain did not finish in 120 s")
    } finally q.stop()
    q.exception.foreach(e => throw e)
  }

  /** The rate source's value range of each trigger: rows
    * [start × rate, end × rate), with offsets in whole seconds. */
  private def ranges(ps: Seq[StreamingQueryProgress]): Seq[(Long, Long, Double)] =
    ps.map { p =>
      val s = p.sources.head
      val lo = Option(s.startOffset).map(_.trim.toLong).getOrElse(0L) * PacedRate
      val hi = s.endOffset.trim.toLong * PacedRate
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + trig(p)
      (lo, hi, end)
    }

  /** Creation-to-commit latency of every row the paced phase committed. */
  private def latencies(rows: Seq[(Long, Double)],
      ps: Seq[StreamingQueryProgress]): Seq[Double] = {
    val rs = ranges(ps)
    rows.flatMap { case (seq, created) =>
      rs.find { case (lo, hi, _) => seq >= lo && seq < hi }
        .map { case (_, _, end) => end - created }
    }
  }

  /** (seq, creation stamp in epoch ms) of every committed detail row. */
  private def stamps(ctx: Ctx, detail: String): Seq[(Long, Double)] =
    ctx.spark.read.parquet(detail)
      .select(col("seq"), (unix_micros(col("created_at")) / 1000.0).as("ms"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Source creation time (epoch ms): row `seq` is stamped at
    * creation + seq / rate seconds. */
  private def origin(rows: Seq[(Long, Double)]): Double = {
    val (seq, ms) = rows.minBy(_._1)
    ms - seq * 1000.0 / PacedRate
  }

  /** Rows created by the end of each trigger but not yet in it. */
  private def backlogs(rows: Seq[(Long, Double)],
      ps: Seq[StreamingQueryProgress]): Seq[Double] = {
    val c = origin(rows)
    ranges(ps).map { case (_, hi, end) => (end - c) / 1000.0 * PacedRate - hi }
  }

  /** How far the source's newest offset trailed the clock at each
    * trigger's start. */
  private def lags(rows: Seq[(Long, Double)],
      ps: Seq[StreamingQueryProgress]): Seq[Double] = {
    val c = origin(rows)
    ps.zip(ranges(ps)).map { case (p, (_, hi, _)) =>
      java.time.Instant.parse(p.timestamp).toEpochMilli - c - hi * 1000.0 / PacedRate
    }
  }
}
