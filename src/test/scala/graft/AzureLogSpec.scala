package graft

import org.apache.spark.sql.functions._
import graft.ingest.Sources
import graft.schema.Schemas
import graft.streaming.Pipeline

/** The larger Azure-producer logs (3702 / 4098 rows, SURVEY.md §5) as extra
  * input volume: every timestamp must parse and the full pipelines must run
  * with the documented yields.
  */
class AzureLogSpec extends SparkSpec {

  private val Dir = "/root/reference/Azure/Azure script Proceucers"

  testOnFiles("azure solar log: all rows parse, clean, and feature",
      s"$Dir/solar_farm_data_log.csv") {
    val raw = Sources.csvWithTimestamp(spark, s"$Dir/solar_farm_data_log.csv",
      Schemas.solarRaw)
    assert(raw.count() === 3702)
    assert(raw.filter(col("timestamp").isNull).count() === 0)
    val cleaned = Pipeline.solarBatch(raw)
    assert(cleaned.count() > 3000)
    assert(cleaned.filter(!col("is_valid")).count() === 0)
    assert(cleaned.filter(!col("time_of_day").isin("Day", "Night")).count() === 0)
  }

  testOnFiles("azure wind log: all rows parse, clean, and feature",
      s"$Dir/wind_farm_data_log.csv") {
    val raw = Sources.csvWithTimestamp(spark, s"$Dir/wind_farm_data_log.csv",
      Schemas.windRaw)
    assert(raw.count() === 4098)
    assert(raw.filter(col("timestamp").isNull).count() === 0)
    val cleaned = Pipeline.windBatch(raw)
    assert(cleaned.count() > 3500)
    // wind_power_density consistent with its inputs on every row
    val bad = cleaned.filter(
      abs(col("wind_power_density") - lit(0.5) * col("air_density_kgm3") *
        col("wind_speed_mps") * col("wind_speed_mps") * col("wind_speed_mps")) > 1e-9)
    assert(bad.count() === 0)
  }
}
