package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, IsNotNull, JsonToStructs, Round}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.clean.Validation
import graft.ingest.Sources
import graft.plans.CodegenStats
import graft.streaming.Pipeline

/** `Validation.rangeFilter` keeps exactly the rows `between` keeps, and
  * evaluates each bounded column once: a structural gate on the live
  * path's per-row floor, asserted on plans rather than on wall time. */
class RangeFilterSpec extends SparkSpec {
  import spark.implicits._

  private val Types = Seq(DoubleType, FloatType, IntegerType, LongType, DecimalType(10, 2))
  private val Bounds = Seq((-2.0, 3.0), (-0.0, 0.0), (0.5, 60.0),
    (0.0, Double.PositiveInfinity), (Double.NegativeInfinity, Double.NaN))

  /** Every edge value of every bound pair: NaN, ±0.0, ±∞, null, each bound
    * and the doubles just outside it. */
  private val values: Seq[Option[Double]] =
    (Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity, 1.25)
      .map(Some(_)) :+ None) ++
      Bounds.flatMap { case (lo, hi) =>
        Seq(lo, hi, Math.nextUp(hi), Math.nextDown(lo)).map(Some(_))
      }
  private val rows: Seq[(Long, Option[Double])] = values.zipWithIndex.map {
    case (v, i) => (i.toLong, v)
  }

  /** The (case, id) rows `keep` keeps, over every column type and bound
    * pair, as one frame: a union of one filtered branch per case. */
  private def kept(frame: DataFrame,
      keep: (DataFrame, (Double, Double)) => DataFrame): DataFrame =
    (for (t <- Types; b <- Bounds) yield
      keep(frame.select(col("id"), col("v").try_cast(t).as("c")), b)
        .select(lit(s"${t.simpleString} $b").as("case"), col("id")))
      .reduce(_ unionByName _)

  private def between(df: DataFrame, b: (Double, Double)): DataFrame =
    df.filter(col("c").between(b._1, b._2))
  private def ranged(df: DataFrame, b: (Double, Double)): DataFrame =
    Validation.rangeFilter(df, Map("c" -> b))

  private def cases(df: DataFrame): Set[(String, Long)] =
    df.as[(String, Long)].collect().toSet

  test("rangeFilter keeps exactly the rows between keeps: double, float, " +
      "int, long, decimal; NaN, ±0, ±∞, null and the bounds' neighbours") {
    val local = rows.toDF("id", "v")
    val expected = cases(kept(local, between))
    // by hand, on doubles (row ids: 0 NaN, 1 0.0, 2 -0.0, 3 +∞, 4 -∞, 5 1.25,
    // 6 null, then per bound pair j: 7+4j lo, 8+4j hi, 9+4j nextUp(hi),
    // 10+4j nextDown(lo)): NaN sorts above +∞ and equals itself, -0.0
    // equals 0.0, null is dropped, and the bounds are inclusive
    def ids(b: (Double, Double)): Set[Long] =
      expected.collect { case (c, id) if c == s"double $b" => id }
    assert(Set(1L, 2L, 5L, 7L, 8L).subsetOf(ids((-2.0, 3.0))))
    assert((Set(0L, 3L, 4L, 6L, 9L, 10L) & ids((-2.0, 3.0))).isEmpty)
    assert(Set(1L, 2L).subsetOf(ids((-0.0, 0.0))) && !ids((-0.0, 0.0)).contains(5L))
    assert(Set(0L, 3L, 4L).subsetOf(ids((Double.NegativeInfinity, Double.NaN))))
    assert(!expected.exists(_._2 == 6L), "a null row was kept")

    // interpreted: the filter over a local relation is evaluated in place
    assert(cases(kept(local, ranged)) === expected)
    // generated code: the filter runs in a whole-stage codegen stage
    val dir = Pipeline.tempRoot("range")
    local.write.parquet(s"$dir/v")
    val scanned = spark.read.parquet(s"$dir/v")
    assert(cases(kept(scanned, ranged)) === expected)
    // a stream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Option[Double])]
    val q = kept(input.toDF().toDF("id", "v"), ranged).writeStream
      .format("memory").queryName("range_cases").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    assert(cases(spark.table("range_cases")) === expected)
  }

  test("rangeFilter keeps isnotnull on the bounded column for constraint inference") {
    val dir = Pipeline.tempRoot("rangenn")
    Seq((1L, 2.0, 3)).toDF("id", "d", "i").write.parquet(s"$dir/v")
    val df = Validation.rangeFilter(spark.read.parquet(s"$dir/v"),
      Map("d" -> (0.0, 10.0), "i" -> (0.0, 10.0)))
    val notNull = df.queryExecution.optimizedPlan.collect { case f: Filter =>
      f.condition.collect { case IsNotNull(a) => a.sql }
    }.flatten.toSet
    assert(Set("d", "i").subsetOf(notNull), s"isnotnull on $notNull")
  }

  /** The benchmark generator's shape: every bounded column is computed
    * from the source row by `pmod` arithmetic under `round`. */
  private def generate(src: DataFrame): DataFrame = {
    val v = col("value")
    val tick = v.divide(3).cast("long")
    val st = pmod(v, lit(3L))
    val dup = pmod(v * 7 + 5L, lit(100L)) === 0 && tick > 0
    val k = when(dup, tick - 1).otherwise(tick)
    def u(salt: Int): Column =
      pmod(k * 2654435761L + st * 40503L + lit(485L + salt * 7919L),
        lit(1000003L)).cast("double") / 1000003.0
    val farm = round(u(7) * 700000.0, 2)
    val fill = u(2) < 0.01
    src.select(
      timestamp_seconds(lit(1762214400L) + k * 5).as("timestamp"),
      element_at(array(lit("WBWF"), lit("GZWF"), lit("ZFWF")), (st + 1).cast("int"))
        .as("station_id"),
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

  /** `e` as SQL with every column renamed to `x`: the shape of an
    * expression, whichever source attribute it reads. */
  private def shape(e: Expression): String =
    e.transform { case a: AttributeReference => AttributeReference("x", a.dataType)() }.sql

  /** The nodes of `plan`'s own codegen stage, not crossing into the
    * stages under its input adapters. */
  private def stageNodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case _: InputAdapter => Nil
    case p => p.children.flatMap(stageNodes)
  })

  test("a generator-shaped stream evaluates each bounded column once in its " +
      "filter, and that stage compiles below HotSpot's huge-method limit") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Pipeline.tempRoot("rangegate")
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val gen = generate(input.toDF().toDF("value", "timestamp"))
    // no trailing no-data batch, so the last execution is the data batch's
    val q = graft.streaming.Scoped.conf(spark,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false") {
      Pipeline.parquetSink(
        Pipeline.transform(gen, Validation.windBounds, Validation.windDefaults,
          streaming = true, validCols = ("wind_speed_mps", "farm_power_kW")),
        s"$dir/data", s"$dir/ckpt").start()
    }
    try {
      val t0 = java.sql.Timestamp.valueOf("2025-11-04 00:00:00")
      input.addData((0L until 3000L).map(v => (v, t0)))
      q.processAllAvailable()
    } finally q.stop()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    val filters = plan.collect { case f: FilterExec => f }
    assert(filters.size === 1, s"one pushed range filter expected:\n$plan")
    val condition = filters.head.condition

    // the value core of each bounded column: the `round` that computes it,
    // read from the same generator over a batch scan of a `value` column
    spark.range(1).select(col("id").as("value"), current_timestamp().as("timestamp"))
      .write.parquet(s"$dir/values")
    val batchGen = generate(spark.read.parquet(s"$dir/values"))
    val defs: Map[String, Expression] = batchGen.queryExecution.optimizedPlan.collectFirst {
      case p: Project => p.projectList.collect { case a: Alias => a.name -> a.child }.toMap
    }.get
    for (c <- Validation.windBounds.keys) {
      val cores = defs(c).collect { case r: Round => shape(r) }
      assert(cores.size === 1, s"$c: ${defs(c).sql}")
      val copies = condition.collect { case r: Round if shape(r) == cores.head => r }.size
      assert(copies === 1, s"$c is evaluated $copies times in the filter: ${condition.sql}")
    }

    val stage = plan.collect {
      case w: WholeStageCodegenExec if stageNodes(w.child).contains(filters.head) => w
    }
    assert(stage.size === 1)
    val bytes = CodegenStats.maxMethodBytes(plan)(stage.head.codegenStageId)
    assert(bytes < CodegenStats.HugeMethodLimit,
      s"the filter's stage has a $bytes-byte method; HotSpot will not compile it")
    assert(spark.read.parquet(s"$dir/data").count() > 2900)
  }

  test("a JSON-decoded frame is parsed once per bounded column in the pushed filter") {
    val dir = Pipeline.tempRoot("rangejson")
    val schema = StructType(Seq(
      StructField("timestamp", StringType), StructField("station_id", StringType),
      StructField("wind_speed_mps", DoubleType), StructField("air_temperature_C", DoubleType),
      StructField("farm_power_kW", DoubleType)))
    Seq("""{"timestamp":"2025-01-01 10:00:00","station_id":"S1",""" +
        """"wind_speed_mps":5.0,"air_temperature_C":10.0,"farm_power_kW":100.0}""",
      """{"timestamp":"2025-01-01 10:00:05","station_id":"S1",""" +
        """"wind_speed_mps":75.0,"air_temperature_C":10.0,"farm_power_kW":100.0}""")
      .toDF("value").write.parquet(s"$dir/raw")
    val df = Validation.rangeFilter(
      Sources.decodeJson(spark.read.parquet(s"$dir/raw"), schema), Validation.windBounds)
    val parses = df.queryExecution.optimizedPlan.collect { case f: Filter =>
      f.condition.collect { case j: JsonToStructs => j }.size
    }.sum
    assert(parses === Validation.windBounds.size, df.queryExecution.optimizedPlan.toString)
    assert(df.select("wind_speed_mps").as[Double].collect().toSeq === Seq(5.0))
  }
}
