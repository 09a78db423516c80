package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Alerts
import graft.ingest.Sources
import graft.schema.Schemas
import graft.streaming.Pipeline
import graft.warehouse.StarSchema

/** The star-schema ETL of the `query_suite` workload: the batch path from
  * raw telemetry logs to the star schema and the dashboard reads over it.
  *
  * Per log: `Sources.csvWithTimestamp` → `Pipeline.windBatch` or
  * `solarBatch` → `StarSchema.buildFactWind` or `buildFactSolar` → the fact
  * table and its three dimensions written as parquet. Then two dashboard
  * reads per log over the written tables: `Alerts.lowPower` on each
  * station's latest reading, and hourly energy per station.
  */
object TelemetryEtl {

  /** One log: its name, raw schema, pipeline and fact builder,
    * and the measures the dashboard reads. */
  final case class Log(name: String, schema: org.apache.spark.sql.types.StructType,
      clean: DataFrame => DataFrame,
      star: DataFrame => (DataFrame, DataFrame, DataFrame, DataFrame),
      power: String, energy: String, thresholdKw: Double)

  val Logs: Seq[Log] = Seq(
    Log("wind", Schemas.windRaw, Pipeline.windBatch, StarSchema.buildFactWind,
      "farm_power_kW", "farm_energy_MWh_10min", Alerts.WindThresholdKw),
    Log("solar", Schemas.solarRaw, Pipeline.solarBatch, StarSchema.buildFactSolar,
      "power_kW", "energy_kWh_10min", Alerts.SolarThresholdKw))

  val Tables: Seq[String] = Seq("fact", "dim_station", "dim_datetime", "dim_weather")

  /** The ETL's operations, in order: each log's load into the star schema
    * under `dir`, then each log's two dashboard reads over the written
    * tables. A read's rows go to `dir/dashboard` for the output checks. */
  def ops(spark: SparkSession, inputs: String, dir: String): Seq[(String, () => Unit)] =
    Logs.map(l => s"etl.load:${l.name}" -> (() => load(spark, inputs, dir, l))) ++
      Logs.flatMap(l => Seq(
        s"dashboard:${l.name}_alerts" -> (() => keep(dir, s"${l.name}_alerts", alerts(spark, dir, l))),
        s"dashboard:${l.name}_hourly" -> (() => keep(dir, s"${l.name}_hourly", hourly(spark, dir, l)))))

  def load(spark: SparkSession, inputs: String, dir: String, l: Log): Unit = {
    val (fact, st, dt, wx) = l.star(l.clean(read(spark, inputs, l)))
    for ((t, df) <- Tables.zip(Seq(fact, st, dt, wx)))
      df.write.mode("overwrite").parquet(s"$dir/${l.name}/$t")
  }

  private def keep(dir: String, name: String, df: DataFrame): Unit = {
    val rows = df.collect()
    val dash = new java.io.File(s"$dir/dashboard")
    dash.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(dash, s"$name.json").toPath,
      rows.map(_.json).mkString("", "\n", "\n"))
  }

  def read(spark: SparkSession, inputs: String, l: Log): DataFrame =
    Sources.csvWithTimestamp(spark, s"$inputs/${l.name}.csv", l.schema)

  /** Each station's detail rows: the fact joined back to its station and
    * datetime dimensions. */
  private def detail(spark: SparkSession, dir: String, l: Log): DataFrame = {
    def t(n: String) = spark.read.parquet(s"$dir/${l.name}/$n")
    t("fact").join(t("dim_station"), "station_key")
      .join(t("dim_datetime").select("datetime_key", "timestamp"), "datetime_key")
  }

  /** `Alerts.lowPower` on each station's latest reading. */
  def alerts(spark: SparkSession, dir: String, l: Log): DataFrame =
    Alerts.lowPower(detail(spark, dir, l), Seq(col("station_id")),
        Seq(col("timestamp")), col(l.power), l.thresholdKw)
      .select(col("station_id"), unix_micros(col("timestamp")).as("ts_us"),
        col(l.power).as("power"), col("alert"))

  /** Energy per station and hour. */
  def hourly(spark: SparkSession, dir: String, l: Log): DataFrame =
    detail(spark, dir, l)
      .groupBy(col("station_id"),
        unix_micros(date_trunc("hour", col("timestamp"))).as("hour_us"))
      .agg(sum(col(l.energy)).as("energy"), count(lit(1)).as("readings"))

  /** A traced round: cumulative prefixes of the pipeline, each run to the
    * noop sink, so a layer's self time is the difference between two
    * consecutive prefixes. The star schema's four frames are then
    * materialized (`localCheckpoint`) and written from there, so the sink's
    * time is the writes alone; then the dashboard reads.
    */
  def tracedRound(ctx: Ctx, inputs: String, dir: String): Map[String, Double] = {
    val spark = ctx.spark
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def measured(name: String)(body: => Unit): (Double, Counts) = {
      Sys.drain(spark)
      val c0 = ctx.sched.snapshot()
      val t0 = System.nanoTime()
      ctx.trace.span(name)(body)
      val s = (System.nanoTime() - t0) / 1e9
      Sys.drain(spark)
      (s, ctx.sched.snapshot() - c0)
    }
    var ingest, clean, wh, sink = 0.0
    var readC, cleanC, whC = Counts()
    var exchanges, broadcasts = 0
    for (l <- Logs) {
      val (t1, c1) = measured(s"ingest.read:${l.name}")(noop(read(spark, inputs, l)))
      val (t2, c2) = measured(s"clean:${l.name}")(noop(l.clean(read(spark, inputs, l))))
      val mark = ctx.plans.size
      var frames = Seq.empty[DataFrame]
      val (t3, c3) = measured(s"warehouse:${l.name}") {
        val (f, a, b, c) = l.star(l.clean(read(spark, inputs, l)))
        frames = Seq(f, a, b, c).map(_.localCheckpoint())
      }
      Sys.drain(spark)
      val plans = ctx.plans.since(mark)
      exchanges += plans.map(_.exchanges).sum
      broadcasts += plans.map(_.broadcastJoins).sum
      val (t4, _) = measured(s"sink.write:${l.name}") {
        for ((t, df) <- Tables.zip(frames))
          df.write.mode("overwrite").parquet(s"$dir/${l.name}/$t")
      }
      frames.foreach(_.unpersist())
      ingest += t1; clean += t2 - t1; wh += t3 - t2; sink += t4
      readC += c1; cleanC += c2 - c1; whC += c3 - c2
    }
    val (_, dashC) = measured("dashboard") {
      for (l <- Logs) { alerts(spark, dir, l).collect(); hourly(spark, dir, l).collect() }
    }
    val outBytes = Sys.du(new java.io.File(dir))
    val parts = partFiles(new java.io.File(dir))
    deleteTree(new java.io.File(dir))
    Map(
      "ingest.read_s" -> ingest,
      "ingest.input_mb" -> readC.inputBytes / 1048576.0,
      "clean.self_s" -> clean,
      "clean.shuffle_mb" -> cleanC.shuffleBytes / 1048576.0,
      "warehouse.self_s" -> wh,
      "warehouse.shuffle_mb" -> whC.shuffleBytes / 1048576.0,
      "warehouse.exchanges" -> exchanges.toDouble,
      "warehouse.broadcast_joins" -> broadcasts.toDouble,
      "sink.write_s" -> sink,
      "sink.output_mb" -> outBytes / 1048576.0,
      "sink.files" -> parts.toDouble,
      "dashboard.input_mb" -> dashC.inputBytes / 1048576.0)
  }

  /** Parquet part files under `dir`, not the commit markers beside them. */
  private def partFiles(dir: java.io.File): Long =
    if (dir.isFile) (if (dir.getName.startsWith("part-")) 1L else 0L)
    else Option(dir.listFiles()).map(_.map(partFiles).sum).getOrElse(0L)

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
