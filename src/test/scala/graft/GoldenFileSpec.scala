package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.Sources
import graft.schema.Schemas
import graft.streaming.Pipeline

/** Golden-file replication (SURVEY.md §5.1) against the reference's
  * processed CSVs (`Solar_Processing.py:14-58`, `Wind_Processing.py:15-65`).
  *
  * Provenance caveat (verified against the raw logs): the golden outputs
  * were produced from a bounded Kafka drain, not from the full CSV logs —
  * solar's 339 rows are the first 342 log rows minus 3, and wind's 1144
  * include 10 rows whose timestamps failed to parse at generation time. So
  * exact row-count equality against the full logs is NOT reproducible; the
  * faithful check is SUBSET parity: every golden row with a parseable
  * timestamp must appear in our full-log output with identical values
  * (payload exact, derived features equal, doubles to 1e-9).
  */
class GoldenFileSpec extends SparkSpec {

  private val Ref = "/root/reference"

  private def compareGolden(ours: DataFrame, goldenPath: String,
      doubleCols: Seq[String]): Unit = {
    val golden = spark.read.option("header", "true").csv(goldenPath)

    val key = Seq("station_id", "ts_key")
    def keyed(df: DataFrame, ts: org.apache.spark.sql.Column) =
      df.withColumn("ts_key", date_format(ts, "yyyy-MM-dd HH:mm:ss.SSSSSS"))

    val o = keyed(ours, col("timestamp"))
    // golden local_timestamp renders Cairo wall clock + offset; our
    // from_utc_timestamp value IS the wall clock, so strip the offset.
    val g = keyed(golden, Sources.sanitizeTimestamp(col("timestamp")))
      .filter(col("ts_key").isNotNull)
      .withColumn("local_wall",
        regexp_replace(col("local_timestamp"), "\\+0[23]:00$", ""))
    val nGolden = g.count()
    assert(nGolden > 0)

    val joined = o.join(g.select(
        (key.map(col) ++ Seq(col("local_wall"), col("hour").as("g_hour"),
          col("day_of_week").as("g_dow"), col("time_of_day").as("g_tod"),
          col("is_valid").as("g_valid")) ++
          doubleCols.map(c => col(c).as(s"g_$c"))): _*),
      key)
    assert(joined.count() === nGolden,
      "every parseable golden row appears in our output")

    val mismatches = joined.filter(
      doubleCols.map(c =>
        abs(col(c) - col(s"g_$c").cast("double")) > 1e-9).reduce(_ || _) ||
      date_format(col("local_timestamp"), "yyyy-MM-dd HH:mm:ss.SSSSSS") =!= col("local_wall") ||
      col("hour").cast("double") =!= col("g_hour").cast("double") ||
      col("day_of_week") =!= col("g_dow") ||
      col("time_of_day") =!= col("g_tod") ||
      (when(col("is_valid"), "True").otherwise("False") =!= col("g_valid")))
    val n = mismatches.count()
    if (n > 0) mismatches.show(5, truncate = false)
    assert(n === 0, s"$n rows diverge from golden output")
  }

  testOnFiles("solar pipeline output contains every golden row with identical values",
      s"$Ref/solar_farm_data_log.csv", s"$Ref/solar_data_processed.csv") {
    val raw = Sources.csvWithTimestamp(spark, s"$Ref/solar_farm_data_log.csv",
      Schemas.solarRaw)
    val cleaned = Pipeline.solarBatch(raw)
    // full log: every row parses, passes the range filter, and is key-unique
    assert(cleaned.count() === 522)
    compareGolden(cleaned, s"$Ref/solar_data_processed.csv",
      Seq("temperature_C", "panel_temperature_C", "solar_irradiance_Wm2",
        "effective_efficiency", "power_kW", "energy_kWh_10min"))
  }

  testOnFiles("wind pipeline output contains every golden row with identical values",
      s"$Ref/wind_farm_data_log.csv", s"$Ref/wind_data_processed.csv") {
    val raw = Sources.csvWithTimestamp(spark, s"$Ref/wind_farm_data_log.csv",
      Schemas.windRaw)
    val cleaned = Pipeline.windBatch(raw)
    assert(cleaned.count() === 1309)
    compareGolden(cleaned, s"$Ref/wind_data_processed.csv",
      Seq("wind_speed_mps", "wind_dir_deg", "air_temperature_C",
        "air_pressure_hPa", "humidity_percent", "air_density_kgm3",
        "wind_speed_hub_mps", "turbine_power_kW", "farm_power_kW",
        "farm_energy_kWh_10min", "farm_energy_MWh_10min", "wind_power_density"))
  }
}
