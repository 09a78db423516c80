package graft

import org.apache.spark.sql.functions._
import graft.ingest.Sources
import graft.schema.Schemas
import graft.streaming.Pipeline
import graft.warehouse.StarSchema

/** J5 star schema (ref `dwh.docx:2-89`) + J6 source comparison
  * (ref `Wind_Genration.py:437-454`).
  */
class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  /** A committed raw-log fixture (FIXTURES.md A.7) as a local file path. */
  private def fixture(name: String): String = {
    val url = Option(getClass.getResource(s"/fixtures/$name")).getOrElse(
      fail(s"raw-log fixture fixtures/$name is not on the test classpath"))
    new java.io.File(url.toURI).getPath
  }

  test("J5 Fact_Wind: fact grain = cleaned rows; keys resolve; join-back is lossless") {
    val cleaned = Pipeline.windBatch(Sources.csvWithTimestamp(spark,
      fixture("wind_farm_data_log.csv"), Schemas.windRaw))
    val (fact, dimStation, dimDateTime, dimWeather) = StarSchema.buildFactWind(cleaned)
    val n = cleaned.count()
    assert(fact.count() === n)
    assert(dimStation.count() === 3)
    // surrogate keys are dense 1..k and deterministic
    assert(dimStation.agg(min(col("station_key")), max(col("station_key")))
      .head().toSeq === Seq(1, 3))
    // no orphan keys: star join returns every fact row exactly once
    val star = fact
      .join(dimStation, "station_key")
      .join(dimDateTime, "datetime_key")
      .join(dimWeather, "weather_key")
    assert(star.count() === n)
    // measures survive the round trip
    val total = cleaned.agg(sum("farm_power_kW")).head().getDouble(0)
    val fromStar = star.agg(sum("farm_power_kW")).head().getDouble(0)
    assert(math.abs(total - fromStar) < 1e-6)
  }

  private def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")

  private lazy val scd2History = Seq(
    (1L, t("2024-01-01"), "A"),
    (1L, t("2024-01-02"), "A"), // unchanged — merges into the A version
    (1L, t("2024-01-03"), "B"), // change — closes A, opens B
    (2L, t("2024-01-01"), "X")
  ).toDF("k", "ts", "attr")

  test("SCD2 from history: unchanged runs collapse, versions are contiguous") {
    val dim = StarSchema.scd2FromHistory(scd2History, Seq("k"), Seq("attr"), "ts")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4))).toMap
    assert(dim.size === 3)
    assert(dim((1L, "A")) === ((t("2024-01-01"), Some(t("2024-01-03")), false)))
    assert(dim((1L, "B")) === ((t("2024-01-03"), None, true)))
    assert(dim((2L, "X")) === ((t("2024-01-01"), None, true)))
  }

  test("scd2Merge: change / no-op / new key / late arrival / idempotence") {
    val dim = StarSchema.scd2FromHistory(scd2History, Seq("k"), Seq("attr"), "ts")
    val updates = Seq(
      (1L, t("2024-01-04"), "C"), // change → closes B, opens C
      (2L, t("2024-01-05"), "X"), // no-op → merges into the open X version
      (3L, t("2024-01-02"), "Z")  // new key → one open version
    ).toDF("k", "ts", "attr")
    val merged = StarSchema.scd2Merge(dim, updates, Seq("k"), Seq("attr"), "ts")
    val got = merged.collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4))).toMap
    assert(got.size === 5)
    assert(got((1L, "B")) === ((t("2024-01-03"), Some(t("2024-01-04")), false)))
    assert(got((1L, "C")) === ((t("2024-01-04"), None, true)))
    assert(got((2L, "X")) === ((t("2024-01-01"), None, true)))
    assert(got((3L, "Z")) === ((t("2024-01-02"), None, true)))
    // replayed batch is a fixed point — at-least-once ingestion is safe
    val again = StarSchema.scd2Merge(merged, updates, Seq("k"), Seq("attr"), "ts")
    assert(again.collect().toSet === merged.collect().toSet)
    // a late-arriving change SPLICES into history instead of stacking at
    // the end: B at noon of Jan 2 splits the A version and absorbs the
    // pre-existing Jan 3 B row into one run
    val late = Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 12:00:00"), "B"))
      .toDF("k", "ts", "attr")
    val spliced = StarSchema.scd2Merge(merged, late, Seq("k"), Seq("attr"), "ts")
      .filter(col("k") === 1L).collect()
      .map(r => r.getString(1) -> (r.getTimestamp(2), Option(r.getTimestamp(3))))
      .toMap
    assert(spliced("A") ===
      ((t("2024-01-01"), Some(java.sql.Timestamp.valueOf("2024-01-02 12:00:00")))))
    assert(spliced("B") ===
      ((java.sql.Timestamp.valueOf("2024-01-02 12:00:00"), Some(t("2024-01-04")))))
  }

  test("resolveScd2 attaches the version valid at each event time") {
    val dim = StarSchema.scd2FromHistory(scd2History, Seq("k"), Seq("attr"), "ts")
    val facts = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 05:00:00"), 10.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-02 05:00:00"), 20.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-03 05:00:00"), 30.0),
      (1L, java.sql.Timestamp.valueOf("2023-12-31 05:00:00"), 40.0) // pre-history
    ).toDF("k", "ts", "v")
    val resolved = StarSchema.resolveScd2(facts, dim, "k", "ts", Seq("attr"))
      .collect().map(r => r.getDouble(2) -> Option(r.getString(3))).toMap
    assert(resolved === Map(10.0 -> Some("A"), 20.0 -> Some("A"),
      30.0 -> Some("B"), 40.0 -> None))
  }

  test("compact rewrites a small-files directory into few files, rows intact") {
    import graft.warehouse.Layout
    val dir = new java.io.File(Pipeline.tempRoot("compact"))
    val path = new java.io.File(dir, "t").getAbsolutePath
    // a streaming sink's worth of fragments: 40 files for ~3 MiB of data
      val df = spark.range(120000)
        .select(col("id"), (col("id") % 97).as("x"), (col("id") % 89).as("y"),
          concat(lit("padpadpadpadpadpadpadpad-"), col("id")).as("payload"))
      df.repartition(40).write.parquet(path)
      def files() = new java.io.File(path).listFiles
        .count(f => f.getName.endsWith(".parquet"))
      val before = files()
      assert(before === 40)
      def rowHash(df: org.apache.spark.sql.DataFrame) = df
        .agg(sum(xxhash64(col("id"), col("x"), col("y"), col("payload"))
          .cast("decimal(38,0)"))).head().getDecimal(0)
      val hashBefore = rowHash(spark.read.parquet(path))
      val n = Layout.compact(spark, path, targetFileBytes = 1L << 20)
      assert(n === files() && n < before && n >= 1)
      val after = spark.read.parquet(path)
      assert(after.count() === 120000)
      assert(rowHash(after) === hashBefore)
      // z-order rewrite: same rows, and each file's footer min/max on x
      // is a narrow slice of the domain (the pruning the interleave buys)
      val nz = Layout.compact(spark, path, targetFileBytes = 1L << 20,
        zorderCols = Some((col("x"), col("y"))), zBits = 7)
      assert(nz === files())
      val zed = spark.read.parquet(path)
      assert(zed.count() === 120000)
      assert(rowHash(zed) === hashBefore)
      if (nz > 1) {
        val spans = spark.read.parquet(path)
          .select(input_file_name().as("f"), col("x"))
          .groupBy(col("f")).agg((max(col("x")) - min(col("x"))).as("span"))
          .collect().map(_.getLong(1))
        assert(spans.min < 96, s"z-ordered files should not all span the " +
          s"full x domain, got ${spans.toSeq}")
      }
  }

  test("x221 encodingAdvisor: hand byte math — dict wins on repeats, " +
      "inflates on unique, nulls cost nothing") {
    import graft.warehouse.Encoding
    val df = Seq(
      ("aaaa", "u1", Option("x")), ("aaaa", "u2", None),
      ("aaaa", "u3", Option("x")), ("bbbb", "u4", None))
      .toDF("rep", "uniq", "sparse")
    val got = Encoding.encodingAdvisor(df, Seq(
        "rep" -> col("rep"), "uniq" -> col("uniq"),
        "sparse" -> col("sparse")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5),
          r.getLong(6), r.getString(7)))).toMap
    // rep: plain 4·4=16; dict = 8 values + 4 rows · 1 byte (1-bit width
    // rounds up) = 12 → DICTIONARY
    assert(got("rep") === ((4L, 0L, 2L, 16L, 12L, "DICTIONARY")))
    // uniq: plain 4·2=8; dict = 8 values + 4·1 (2-bit width) = 12 → PLAIN
    assert(got("uniq") === ((4L, 0L, 4L, 8L, 12L, "PLAIN")))
    // sparse: nulls excluded from both costs; 1 distinct → 0-bit index
    assert(got("sparse") === ((4L, 2L, 1L, 2L, 1L, "DICTIONARY")))
  }

  test("x218 on files: footer stats of the z-order compaction prune a " +
      "value band the round-robin layout cannot") {
    import graft.warehouse.Layout
    val dir = new java.io.File(Pipeline.tempRoot("footer"))
    val path = new java.io.File(dir, "t").getAbsolutePath
    // enough data for ~12 one-MiB files: with a dozen contiguous
    // z-ranges the interleave's x-bits are genuinely constrained per
    // file (2 files only split on the leading y-bit — no x pruning yet)
    val df = spark.range(480000)
      .select(col("id"), (col("id") % 97).cast("double").as("x"),
        (col("id") % 89).as("y"),
        concat(lit("padpadpadpadpadpadpadpad-"), col("id")).as("payload"))
    df.repartition(40).write.parquet(path)
    // round-robin compaction: every file spans the whole x domain — the
    // footer audit must find nothing to skip
    Layout.compact(spark, path, targetFileBytes = 1L << 20)
    val rr = Layout.filePruningAudit(spark, path, "x", 80.0, 90.0).head()
    assert(rr.getLong(4) === 480000L, "footer row counts must cover the table")
    assert(rr.getLong(5) === 0L, s"round-robin should skip no rows, got $rr")
    // z-order compaction: contiguous z-ranges → the x<64 quadrants'
    // files carry footer max < 80 and a high-x band prunes them
    val nz = Layout.compact(spark, path, targetFileBytes = 1L << 20,
      zorderCols = Some((col("x"), col("y"))), zBits = 7)
    val z = Layout.filePruningAudit(spark, path, "x", 80.0, 90.0).head()
    assert(z.getLong(4) === 480000L)
    assert(nz > 4, s"fixture must compact to several files, got $nz")
    assert(z.getLong(1) > 0L && z.getLong(5) > 0L,
      s"z-order footers must skip files outside [80,90], got $z")
    assert(z.getDouble(6) < 1.0)
    // the footers tell the truth: global min/max from statistics equal
    // the data's — the stats being audited are the stats in the files
    val fs = Layout.footerStats(spark, path, "x")
      .agg(min(col("min_value")), max(col("max_value")),
        sum(col("n_rows")), sum(when(col("n_nulls") < 0L, 1L).otherwise(0L)))
      .head()
    assert(fs.getDouble(0) === 0.0 && fs.getDouble(1) === 96.0)
    assert(fs.getLong(2) === 480000L)
    assert(fs.getLong(3) === 0L, "spark-written doubles must carry stats")
  }

  test("J5 Fact_Solar builds with the solar weather grain") {
    val cleaned = Pipeline.solarBatch(Sources.csvWithTimestamp(spark,
      fixture("solar_farm_data_log.csv"), Schemas.solarRaw))
    val (fact, _, _, dimWeather) = StarSchema.buildFactSolar(cleaned)
    assert(fact.count() === cleaned.count())
    assert(fact.columns.toSeq === Seq("station_key", "datetime_key",
      "weather_key", "power_kW", "energy_kWh_10min"))
    assert(dimWeather.count() <= cleaned.count())
  }

  test("high-cardinality dims build without a single-partition exchange") {
    val cleaned = Pipeline.windBatch(Sources.csvWithTimestamp(spark,
      fixture("wind_farm_data_log.csv"), Schemas.windRaw))
    val (_, dimStation, dimDateTime, dimWeather) = StarSchema.buildFactWind(cleaned)
    // hashed surrogates: distinct + projection only, fully parallel
    for (d <- Seq(dimDateTime, dimWeather)) {
      val plan = d.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"), s"ordered exchange in dim build:\n$plan")
    }
    // the small station dim intentionally keeps the dense-rank build
    assert(dimStation.queryExecution.executedPlan.toString.contains("SinglePartition"))
  }

  test("fact assembly carries no forced broadcast hints") {
    // dimDateTime/dimWeather have ~fact cardinality — resolveKey must
    // leave the join strategy to AQE (broadcasting a fact-sized dim is an
    // OOM at scale); the genuinely constant dims still broadcast at
    // runtime, just not by hint
    val cleaned = Pipeline.windBatch(Sources.csvWithTimestamp(spark,
      fixture("wind_farm_data_log.csv"), Schemas.windRaw))
    val (fact, _, _, _) = StarSchema.buildFactWind(cleaned)
    val hinted = fact.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.isEmpty, "buildFact must not force broadcast on dims")
  }

  test("J6 sourceDiff: latest API vs latest PREDICTION per parameter") {
    val df = Seq(
      ("S1", "API", 1L, 10.0, 100.0),
      ("S1", "API", 2L, 12.0, 110.0),        // latest API
      ("S1", "PREDICTION", 3L, 13.0, 130.0), // latest PREDICTION
      ("S2", "API", 4L, 5.0, 50.0))
      .toDF("station_id", "data_source", "seq", "wind_speed_mps", "farm_power_kW")
    val out = graft.analytics.Comparison.sourceDiff(df, "station_id",
      "data_source", "API", "PREDICTION",
      Seq("wind_speed_mps", "farm_power_kW"), Seq(col("seq")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(("S1", "Wind Speed Mps")) === ((12.0, 13.0, 1.0)))
    assert(out(("S1", "Farm Power Kw")) === ((110.0, 130.0, 20.0)))
    assert(!out.contains(("S2", "Wind Speed Mps"))) // no PREDICTION side
  }

  test("j13 regionRevenue: Q5 semantics — region, date slice, local commerce") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val region = Seq((1L, "ASIA"), (2L, "EUROPE")).toDF("r_regionkey", "r_name")
    val nation = Seq((10L, "JP", 1L), (11L, "DE", 2L))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val supplier = Seq((100L, 10L), (101L, 11L)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((200L, 10L), (201L, 11L)).toDF("c_custkey", "c_nationkey")
    val orders = Seq(
      (300L, 200L, ts("1996-06-01 00:00:00")), // in range, JP customer
      (301L, 200L, ts("1997-06-01 00:00:00")), // out of range
      (302L, 201L, ts("1996-06-01 00:00:00"))) // DE customer
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val lineitem = Seq(
      (300L, 100L, 100.0, 0.10), // JP cust × JP supp → revenue 90
      (300L, 101L, 50.0, 0.00),  // JP cust × DE supp → cross-nation, dropped
      (301L, 100L, 70.0, 0.00),  // out-of-range order
      (302L, 101L, 40.0, 0.25))  // DE customer: EUROPE region, dropped
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val out = StarSchema.regionRevenue(lineitem, orders, customer, supplier,
        nation, region, "ASIA", "1996-01-01 00:00:00", "1997-01-01 00:00:00")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out === Map("JP" -> 90.0))
    // plan shape: region/nation/supplier side arrives via broadcast joins
    // (descend into the AQE wrapper — its inner plan is not a child)
    val plan = StarSchema.regionRevenue(lineitem, orders, customer, supplier,
        nation, region, "ASIA", "1996-01-01 00:00:00", "1997-01-01 00:00:00")
      .queryExecution.executedPlan
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case _ => p +: p.children.flatMap(walk)
      }
    val broadcasts = walk(plan).count {
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case _ => false
    }
    assert(broadcasts >= 2, plan.toString.take(1500))
  }

  test("scd2: runs collapse to versioned validity rows, last one open") {
    import java.sql.Timestamp
    def ts(m: Int) = new Timestamp(m * 60000L)
    // A: x,x,y,y,x → three runs; B: one event → one open row
    val ev = Seq(
      (1L, "A", ts(1), "x"), (2L, "A", ts(2), "x"), (3L, "A", ts(3), "y"),
      (4L, "A", ts(4), "y"), (5L, "A", ts(5), "x"),
      (6L, "B", ts(2), "q")
    ).toDF("event_id", "k", "ts", "state").repartition(3)
    val got = StarSchema.scd2(ev, key = "k", time = "ts",
        order = Seq(col("ts"), col("event_id")), attrs = Seq(col("state")))
      .collect().map(r => (r.getString(0), r.getLong(5)) ->
        (r.getString(1), r.getTimestamp(2), Option(r.getTimestamp(3)),
          r.getBoolean(4))).toMap
    assert(got === Map(
      ("A", 1L) -> (("x", ts(1), Some(ts(3)), false)),
      ("A", 2L) -> (("y", ts(3), Some(ts(5)), false)),
      ("A", 3L) -> (("x", ts(5), None, true)),
      ("B", 1L) -> (("q", ts(2), None, true))))
  }

  test("x218 zoneMapAudit: z-order prunes value bands a hash layout " +
      "cannot; hand bucket stats") {
    import spark.implicits._
    import graft.warehouse.Layout
    // values {1,5,9,13} × users {0..3}; bits=4 → zBucket(4 buckets) =
    // [y3, x3]: users < 8 keep y3=0, so two live buckets split at
    // value 8 — predicate [0,7] skips exactly the v≥8 bucket
    val rows = (for (v <- Seq(1, 5, 9, 13); u <- 0 to 3)
      yield (v.toLong * 100 + u, v.toDouble, u.toLong))
      .toDF("id", "value", "user_id")
    val z = Layout.zValue(floor(col("value")).cast("long"),
      col("user_id"), bits = 4)
    val zr = Layout.zoneMapAudit(rows, "zorder",
      Layout.zBucket(z, 4, numBuckets = 4), col("value"), 0.0, 7.0)
      .head()
    assert(zr.getAs[Long]("n_buckets") === 2L)
    assert(zr.getAs[Long]("skippable_buckets") === 1L)
    assert(zr.getAs[Double]("bucket_scan_fraction") === 0.5)
    assert(zr.getAs[Long]("skipped_rows") === 8L)
    assert(zr.getAs[Double]("row_scan_fraction") === 0.5)
    // the id-hash layout interleaves values through every bucket: no
    // bucket's [min, max] clears the predicate, nothing skips
    val hr = Layout.zoneMapAudit(rows, "hash", col("id") % 2,
      col("value"), 0.0, 7.0).head()
    assert(hr.getAs[Long]("skippable_buckets") === 0L)
    assert(hr.getAs[Double]("bucket_scan_fraction") === 1.0)
  }
}
