package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.Pipeline

/** §3.1 streaming ETL: watermarked dedup (T4), event-time windows (T5),
  * checkpointed parquet sink (S8/T3), stream monitoring (S11).
  */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  case class Tele(station_id: String, timestamp: Timestamp, value: Double)

  private def ts(s: String) = Timestamp.valueOf(s)
  // instant micros of the same Timestamp the fixture stores (tz-invariant:
  // unix_micros reads the stored instant, which getTime also is)
  private def us(s: String) = ts(s).getTime * 1000L

  test("T4 streaming dedup drops same-key duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tele]
    val out = Pipeline.transform(input.toDF(),
      Map("value" -> (0.0, 100.0)), Map.empty, streaming = true)
    val q = out.writeStream.format("memory").queryName("etl_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Tele("S1", ts("2025-01-01 10:00:00"), 10.0),
        Tele("S1", ts("2025-01-01 10:00:00"), 11.0), // dup key
        Tele("S1", ts("2025-01-01 10:05:00"), 200.0), // out of range
        Tele("S2", ts("2025-01-01 10:00:00"), 20.0))
      q.processAllAvailable()
      val rows = spark.table("etl_out")
      assert(rows.count() === 2)
      // derived feature columns present (D1-D6)
      assert(Seq("local_timestamp", "hour", "day_of_week", "time_of_day",
        "is_valid").forall(rows.columns.contains))
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins a dimension onto the stream") {
    // the standard enrichment pattern: a streaming fact joins a static
    // catalog; with the static side broadcast, each micro-batch adds no
    // stream-side shuffle and no state store
    implicit val sqlCtx = spark.sqlContext
    val catalog = Seq(("S1", "north", 2500.0), ("S2", "south", 1800.0))
      .toDF("station_id", "region", "rated_kw")
    val input = MemoryStream[Tele]
    val out = input.toDF()
      .join(org.apache.spark.sql.functions.broadcast(catalog), "station_id")
      .select(col("station_id"), col("region"),
        org.apache.spark.sql.functions.round(
          col("value") / col("rated_kw") * 100.0, 6).as("pct_of_rated"))
    val q = out.writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Tele("S1", ts("2025-01-01 10:00:00"), 250.0),
        Tele("S2", ts("2025-01-01 10:00:00"), 900.0),
        Tele("S9", ts("2025-01-01 10:00:00"), 5.0)) // not in the catalog
      q.processAllAvailable()
      val rows = spark.table("enrich_out").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap
      assert(rows === Map("S1" -> ("north", 10.0), "S2" -> ("south", 50.0)))
    } finally q.stop()
  }

  test("streaming content-dedup keeps first arrival per fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, timestamp: Timestamp, text: String)
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = Pipeline.contentDedup(
      input.toDF().toDF("doc_id", "timestamp", "text"),
      col("text"), "timestamp")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        (1L, ts("2025-01-01 10:00:00"), "the quick brown fox"),
        (2L, ts("2025-01-01 10:00:30"), "  The QUICK  brown fox "), // normalized dup
        (3L, ts("2025-01-01 10:01:00"), "something else entirely"))
      q.processAllAvailable()
      input.addData(
        (4L, ts("2025-01-01 10:02:00"), "the quick brown fox")) // dup, later batch
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 3L)) // first arrival of each content survives
    } finally q.stop()
  }

  test("nearDupSink: micro-batched incremental pairs equal the one-shot dedup") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Pipeline.tempRoot("ndsink")
    val d1 = "the quick brown fox jumps over the lazy dog"
    val d2 = d1 // exact dup, same batch
    val d3 = "the quick brown fox leaps over the lazy dog" // near dup, LATER batch
    val d4 = "completely different content about spark engines"
    val d5 = "unrelated text entirely about streaming state stores"
    val input = MemoryStream[(Long, String)]
    val q = Pipeline.nearDupSink(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/corpus", s"$dir/pairs", s"$dir/ckpt",
      threshold = 0.5).start()
    try {
      input.addData((1L, d1), (2L, d2), (4L, d4))
      q.processAllAvailable()
      input.addData((3L, d3), (5L, d5))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$dir/pairs")
      .select(col("doc_a"), col("doc_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // every pair lands exactly once, emitted by whichever side arrived
    // later — so the union over micro-batches IS the one-shot batch result
    val all = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4), (5L, d5))
      .toDF("doc_id", "text")
    val oneShot = graft.dedup.Dedup
      .nearDuplicates(all, col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === oneShot)
    assert(streamed.exists { case (a, b, _) => (a, b) == ((1L, 2L)) },
      "same-batch exact dup must pair")
    assert(streamed.exists { case (a, b, _) => (a, b) == ((1L, 3L)) },
      "cross-batch near dup must pair against the stored corpus")
    // the corpus state table accumulated both micro-batches
    assert(spark.read.parquet(s"$dir/corpus").count() === 5)
  }

  test("batch content-dedup keeps the EARLIEST row per fingerprint") {
    // reversed arrival order: the later timestamp is listed first — an
    // arbitrary-winner dedup (plain dropDuplicates) could keep doc 4
    val docs = Seq(
      (4L, ts("2025-01-01 10:02:00"), "the quick brown fox"),
      (1L, ts("2025-01-01 10:00:00"), "  The QUICK  brown fox "),
      (3L, ts("2025-01-01 10:01:00"), "something else entirely"))
      .toDF("doc_id", "timestamp", "text").repartition(5)
    val ids = Pipeline.contentDedup(docs, col("text"), "timestamp")
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L))
  }

  test("s16 homoglyph-safe content-dedup merges a Cyrillic spoof; the " +
      "default key does not") {
    // doc 2 swaps Latin e/o for Cyrillic е/о — byte-different, skeleton-equal
    val docs = Seq(
      (1L, ts("2025-01-01 10:00:00"), "free money now"),
      (2L, ts("2025-01-01 10:01:00"), "frее mоnеy now"),
      (3L, ts("2025-01-01 10:02:00"), "something else"))
      .toDF("doc_id", "timestamp", "text")
    val plain = Pipeline.contentDedup(docs, col("text"), "timestamp")
      .collect().map(_.getLong(0)).toSet
    assert(plain === Set(1L, 2L, 3L), "byte-level dedup must NOT merge the spoof")
    val safe = Pipeline.contentDedup(docs, col("text"), "timestamp",
        homoglyphSafe = true)
      .collect().map(_.getLong(0)).toSet
    assert(safe === Set(1L, 3L), "skeleton dedup keeps the earliest of the spoof pair")
  }

  test("intervalJoinStream pairs events within the lookback, streaming == batch") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      ("u1", ts("2025-01-01 10:20:00"), 1L),
      ("u1", ts("2025-01-01 11:30:00"), 2L), // no error within 30 min before
      ("u2", ts("2025-01-01 10:20:00"), 3L)) // other user's error must not match
    val errors = Seq(
      ("u1", ts("2025-01-01 10:00:00"), 100L),
      ("u1", ts("2025-01-01 10:10:00"), 101L))
    def expectPairs(df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.select(col("click_id"), col("r_err_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 100L), (1L, 101L)))
    }
    // batch face
    expectPairs(Pipeline.intervalJoinStream(
      clicks.toDF("uid", "t", "click_id"),
      errors.toDF("uid", "t", "err_id"),
      "uid", "t", "t", lookback = "30 minutes"))
    // streaming face: both sides MemoryStreams, same expected pairs
    val lIn = MemoryStream[(String, Timestamp, Long)]
    val rIn = MemoryStream[(String, Timestamp, Long)]
    val joined = Pipeline.intervalJoinStream(
      lIn.toDF().toDF("uid", "t", "click_id"),
      rIn.toDF().toDF("uid", "t", "err_id"),
      "uid", "t", "t", lookback = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ivj_out")
      .outputMode(OutputMode.Append()).start()
    try {
      rIn.addData(errors: _*)
      lIn.addData(clicks: _*)
      q.processAllAvailable()
      expectPairs(spark.table("ivj_out"))
    } finally q.stop()
  }

  test("sessionAgg merges session windows across micro-batches under a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val sessions = graft.analytics.Sessions.sessionAgg(
      input.toDF().toDF("uid", "t", "v").withWatermark("t", "1 hour"),
      "uid", "t", gapSeconds = 1800,
      Seq(count(lit(1)).as("cnt"), sum(col("v")).as("sum_v")))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(("u1", ts("2025-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // second batch extends the first session (10:10 within the 30-min
      // gap) and opens a new one at 11:00 — state must merge windows
      input.addData(
        ("u1", ts("2025-01-01 10:10:00"), 2.0),
        ("u1", ts("2025-01-01 11:00:00"), 3.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .orderBy(col("session_start"))
        .collect().map(r => (r.getAs[Long]("cnt"), r.getAs[Double]("sum_v")))
      assert(rows.toSeq === Seq((2L, 3.0), (1L, 3.0)))
    } finally q.stop()
  }

  test("streaming sessionize labels events identically to the batch face") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Sessionize
    // two keys, three sessions for S1 (gap 1800 s), one for S2; split across
    // micro-batches so the (lastTs, idx) state must carry over — batch 2
    // both EXTENDS S1's second session (11:20 is within 30 min of 11:00)
    // and OPENS its third (13:00)
    val batch1 = Seq(
      Sessionize.Event("S1", ts("2025-01-01 10:00:00"), 1.0),
      Sessionize.Event("S1", ts("2025-01-01 10:10:00"), 2.0),
      Sessionize.Event("S1", ts("2025-01-01 11:00:00"), 3.0),
      Sessionize.Event("S2", ts("2025-01-01 10:00:00"), 9.0))
    val batch2 = Seq(
      Sessionize.Event("S1", ts("2025-01-01 11:20:00"), 4.0),
      Sessionize.Event("S1", ts("2025-01-01 13:00:00"), 5.0),
      Sessionize.Event("S2", ts("2025-01-01 10:20:00"), 8.0))
    val input = MemoryStream[Sessionize.Event]
    val labeled = Sessionize.streaming(spark, input.toDS(), gapSeconds = 1800)
    val q = labeled.writeStream.format("memory").queryName("sessionize_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("station_id"), r.getAs[Timestamp]("timestamp").getTime)
    val streamed = spark.table("sessionize_out").collect()
      .map(r => key(r) -> r.getAs[Long]("session_idx")).toMap
    val batchFace = graft.analytics.Sessions.sessionize(
      (batch1 ++ batch2).toDF(), "station_id", "timestamp", gapSeconds = 1800)
      .collect().map(r => key(r) -> r.getAs[Long]("session_idx")).toMap
    assert(streamed === batchFace)
    assert(streamed.values.max === 3L) // S1 reached its third session
  }

  test("T5 windowed stats aggregate per station and window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Tele]
    val agg = Pipeline.windowedStats(
      input.toDF().withColumnRenamed("value", "farm_power_kW")
        .withColumn("farm_energy_kWh_10min", col("farm_power_kW") * (10.0 / 60.0)),
      "10 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Tele("S1", ts("2025-01-01 10:01:00"), 10.0),
        Tele("S1", ts("2025-01-01 10:04:00"), 30.0),
        Tele("S1", ts("2025-01-01 10:11:00"), 50.0))
      q.processAllAvailable()
      // close the first window by advancing the watermark past it
      input.addData(Tele("S1", ts("2025-01-01 10:30:00"), 1.0))
      q.processAllAvailable()
      val first = spark.table("win_out")
        .filter(col("window.start") === ts("2025-01-01 10:00:00")).collect()
      assert(first.length === 1)
      assert(first.head.getAs[Double]("avg_power_kW") === 20.0)
      assert(first.head.getAs[Double]("max_power_kW") === 30.0)
    } finally q.stop()
  }

  test("T2 bounded drain: AvailableNow processes the backlog then stops") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Pipeline.tempRoot("drain")
    val input = MemoryStream[Tele]
    input.addData(
      Tele("S1", ts("2025-01-01 10:00:00"), 1.0),
      Tele("S2", ts("2025-01-01 10:00:05"), 2.0))
    val q = Pipeline.parquetSink(input.toDF(), s"$dir/data", s"$dir/ckpt",
      boundedDrain = true).start()
    q.awaitTermination(60000) // AvailableNow self-terminates
    assert(!q.isActive)
    assert(spark.read.parquet(s"$dir/data").count() === 2)
  }

  test("S8/T3 checkpointed parquet sink is exactly-once across restarts") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Pipeline.tempRoot("sink")
    val input = MemoryStream[Tele]
    def start() = Pipeline.parquetSink(input.toDF(),
      s"$dir/data", s"$dir/ckpt").start()
    val q1 = start()
    input.addData(Tele("S1", ts("2025-01-01 10:00:00"), 1.0))
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from checkpoint — no reprocessing
    input.addData(Tele("S1", ts("2025-01-01 10:01:00"), 2.0))
    q2.processAllAvailable()
    assert(Pipeline.activeQueries(spark).nonEmpty) // S11
    q2.stop()
    assert(spark.read.parquet(s"$dir/data").count() === 2)
  }

  test("checkpoints restart exactly-once across graft's and Spark's default " +
      "checkpoint managers, dedup state included") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Pipeline.tempRoot("xmgr")
    val input = MemoryStream[Tele]
    val cleaned = Pipeline.transform(input.toDF(), Map("value" -> (0.0, 100.0)),
      Map.empty, streaming = true)
    def viaGraft() = Pipeline.parquetSink(cleaned, s"$dir/data", s"$dir/ckpt").start()
    def viaSpark() = cleaned.writeStream.format("parquet")
      .option("path", s"$dir/data").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    // the data batches one start committed
    def run(start: () => org.apache.spark.sql.streaming.StreamingQuery,
        rows: Tele*): Seq[Long] = {
      val q = start()
      try { input.addData(rows); q.processAllAvailable() } finally q.stop()
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    }
    // the default manager leaves a hidden Hadoop sidecar beside each
    // offset file it writes; graft's leaves none — so the sidecars show
    // which manager wrote each batch
    def sidecar(batch: Long) = java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/ckpt/offsets/.$batch.crc"))
    val first = run(viaGraft, Tele("S1", ts("2025-01-01 10:00:00"), 1.0),
      Tele("S2", ts("2025-01-01 10:00:00"), 2.0))
    // each restart replays a key the other manager's state already holds
    val second = run(viaSpark, Tele("S1", ts("2025-01-01 10:00:00"), 7.0),
      Tele("S1", ts("2025-01-01 10:01:00"), 3.0))
    val third = run(viaGraft, Tele("S1", ts("2025-01-01 10:01:00"), 8.0),
      Tele("S2", ts("2025-01-01 10:02:00"), 4.0))
    assert(Seq(first, second, third).forall(_.nonEmpty))
    assert(!first.exists(sidecar) && second.forall(sidecar) && !third.exists(sidecar),
      s"batches $first / $second / $third were not written by graft / Spark / graft")
    assert(spark.conf.getOption(graft.streaming.StreamSink.ManagerKey).isEmpty,
      "the manager is named only around start()")
    val out = spark.read.parquet(s"$dir/data")
    assert(out.count() === 4)
    assert(out.select("value").as[Double].collect().sorted.toSeq ===
      Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("a session's own checkpoint manager choice survives a graft start") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Pipeline.tempRoot("ownmgr")
    val key = graft.streaming.StreamSink.ManagerKey
    val theirs = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileContextBasedCheckpointFileManager"
    val input = MemoryStream[Tele]
    spark.conf.set(key, theirs)
    try {
      val q = Pipeline.parquetSink(input.toDF(), s"$dir/data", s"$dir/ckpt").start()
      try {
        input.addData(Tele("S1", ts("2025-01-01 10:00:00"), 1.0))
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.conf.get(key) === theirs)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/ckpt/offsets/.0.crc")))
    } finally spark.conf.unset(key)
  }

  test("a drain's wait is bounded: a stuck stream is stopped and named; " +
      "a failed one rethrows its error") {
    val dir = Pipeline.tempRoot("await")
    val stuck = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.format("noop").queryName("never_drains")
      .option("checkpointLocation", s"$dir/stuck").start()
    val timeout = intercept[java.util.concurrent.TimeoutException](
      Pipeline.awaitDrain(stuck, timeoutMs = 200L))
    assert(timeout.getMessage.contains("never_drains"))
    assert(timeout.getMessage.contains("last progress"))
    assert(!stuck.isActive, "a timed-out drain must stop its query")
    val failing = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream.foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        throw new IllegalStateException("sink exploded")
      }.option("checkpointLocation", s"$dir/failing").start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      Pipeline.awaitDrain(failing))
    assert(err.getMessage.contains("sink exploded"))
  }

  test("s09: sentinel-flushed window drain equals the batch tumbling agg") {
    // three hours of out-of-order events across 3 input files; the
    // span-length watermark means no file order can drop rows, and the
    // sentinel flushes EVERY real window — including the last one, which
    // a bare 0-second watermark would leave stuck in state
    val ev = Seq(
      ("a", ts("2025-03-01 10:05:00"), 1.0),
      ("b", ts("2025-03-01 12:55:00"), 8.0), // latest hour first
      ("a", ts("2025-03-01 10:45:00"), 2.5),
      ("b", ts("2025-03-01 11:10:00"), 4.0),
      ("a", ts("2025-03-01 12:59:59"), 0.5),
      ("a", ts("2025-03-01 11:59:00"), 3.0)
    ).toDF("event_type", "ts", "value")
    val got = Pipeline.windowDrainParity(spark, ev, eventTimeCol = "ts",
        keyCol = "event_type", valueCol = "value", width = "1 hour",
        delay = "7 days", inputFiles = 3)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val want = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("s"))
      .select(unix_timestamp(col("window.start")), col("event_type"),
        col("cnt"), col("s"))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got === want)
    assert(got.size === 5) // (10h,a)(11h,a)(11h,b)(12h,a)(12h,b)
  }

  test("s11: sentinel-flushed session drain equals the batch session agg") {
    // key "a" chains one session through three 20-min-apart rows — split
    // across 3 files, the chain MUST merge session state across micro-batch
    // boundaries (the transition s08-s10 never exercise) — plus a second
    // session 80 min later; key "b" holds a singleton per session. The
    // sentinel must flush even the session nearest max(ts).
    val ev = Seq(
      ("a", ts("2025-03-01 10:40:00"), 3.0), // chain, out of order
      ("b", ts("2025-03-01 11:30:00"), 9.0),
      ("a", ts("2025-03-01 10:00:00"), 1.0),
      ("a", ts("2025-03-01 12:00:00"), 4.0), // second session
      ("b", ts("2025-03-01 10:05:00"), 8.0),
      ("a", ts("2025-03-01 10:20:00"), 2.0)
    ).toDF("user_id", "ts", "value")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getDouble(4))
    val got = Pipeline.sessionDrainParity(spark, ev, eventTimeCol = "ts",
        keyCol = "user_id", valueCol = "value", gapSeconds = 1800L,
        delay = "7 days", inputFiles = 3)
      .collect().map(key).toMap
    val want = graft.analytics.Sessions.sessionAgg(ev, "user_id", "ts", 1800L,
        Seq(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value")))
      .select(col("user_id"), unix_micros(col("session_start")).as("s"),
        unix_micros(col("session_end")).as("e"), col("cnt"), col("sum_value"))
      .collect().map(key).toMap
    assert(got === want)
    assert(got.size === 4) // a:[10:00-10:40],[12:00]; b:[10:05],[11:30]
    // the merged chain is one 3-row session, not three singletons
    assert(got(("a", us("2025-03-01 10:00:00"), us("2025-03-01 11:10:00"))) ===
      ((3L, 6.0)))
  }

  test("s12: join drain equals the batch interval join at any file split") {
    // purchases and clicks interleave so a 3-file split necessarily
    // separates some matching pairs into different micro-batches — the
    // parity then PROVES the two-sided buffers carry across triggers
    val rows = (0 until 12).map { i =>
      val kind = if (i % 3 == 0) "purchase" else "click"
      (i.toLong, ts(f"2025-01-01 10:${i * 4}%02d:00"), (i % 2).toLong, kind, i * 1.0)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Pipeline.joinDrainParity(spark, df, "ts", "user_id",
        col("event_type") === "purchase", col("event_type") === "click",
        lookback = "10 minutes", delay = "2 days", inputFiles = 3)
      .select(col("event_id"), col("r_event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (p, pt, pu, pk, _) <- rows if pk == "purchase"
      (c, ct, cu, ck, _) <- rows if ck == "click" && cu == pu &&
        ct.getTime <= pt.getTime && ct.getTime >= pt.getTime - 600000L
    } yield (p, c)).toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("s15: outer-join drain null-completes unmatched lefts via the sentinel") {
    // user 0's purchases interleave with clicks (some match); user 5 has
    // ONE purchase and no clicks at all — its row exists ONLY if the
    // sentinel pushes the watermark past its match window before the
    // bounded drain stops (the semantics this drain shape pins)
    val rows = ((0 until 12).map { i =>
      val kind = if (i % 3 == 0) "purchase" else "click"
      (i.toLong, ts(f"2025-01-01 10:${i * 4}%02d:00"), (i % 2).toLong, kind, i * 1.0)
    } :+ ((99L, ts("2025-01-01 11:00:00"), 5L, "purchase", 9.0)))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Pipeline.outerJoinDrainParity(spark, df, "ts", "event_id",
        "user_id", "event_type", "purchase", "click",
        lookback = "10 minutes", delay = "2 days", inputFiles = 3)
      .select(col("event_id"),
        coalesce(col("r_event_id"), lit(-99L)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val matched = (for {
      (p, pt, pu, pk, _) <- rows if pk == "purchase"
      (c, ct, cu, ck, _) <- rows if ck == "click" && cu == pu &&
        ct.getTime <= pt.getTime && ct.getTime >= pt.getTime - 600000L
    } yield (p, c)).toSet
    val matchedLefts = matched.map(_._1)
    val nullLefts = rows.filter(r => r._4 == "purchase" &&
      !matchedLefts.contains(r._1)).map(r => (r._1, -99L)).toSet
    assert(got === (matched ++ nullLefts))
    // both faces genuinely present, incl. the clickless user's purchase
    assert(matched.nonEmpty && nullLefts.contains((99L, -99L)))
  }

  test("s13: upsert drain keeps the last writer per key; replay is idempotent") {
    val rows = Seq(
      (1L, ts("2025-01-01 10:00:00"), 10L, "a", 1.0),
      (1L, ts("2025-01-01 11:00:00"), 11L, "b", 2.0), // later ts wins
      (2L, ts("2025-01-01 10:00:00"), 12L, "c", 3.0),
      (2L, ts("2025-01-01 10:00:00"), 13L, "d", 4.0), // ts tie → higher id
      (3L, ts("2025-01-01 09:00:00"), 14L, "e", 5.0))
    val df = rows.toDF("user_id", "ts", "event_id", "event_type", "value")
    val got = Pipeline.upsertDrainParity(spark, df,
        keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        inputFiles = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(got === Map(1L -> ((11L, "b")), 2L -> ((13L, "d")),
      3L -> ((14L, "e"))))
  }

  test("s14: stream-static enrichment equals the batch join; misses drop") {
    val events = Seq((1L, 10L, "a"), (2L, 11L, "b"), (9L, 12L, "c"))
      .toDF("user_id", "event_id", "event_type")
    val dim = Seq((1L, "S1"), (2L, "S2"), (3L, "S3"))
      .toDF("user_id", "segment")
    val got = Pipeline.enrichDrainParity(spark, events, dim, "user_id")
      .collect().map(r => r.getLong(1) -> r.getString(3)).toMap
    // user 9 has no dim row → inner join drops event 12
    assert(got === Map(10L -> "S1", 11L -> "S2"))
  }

  /** A prepared drain input holding one `part-*` file per frame, in order. */
  private def stagedFiles(frames: Seq[org.apache.spark.sql.DataFrame]): String = {
    val root = Pipeline.tempRoot("staged")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/in"))
    frames.zipWithIndex.foreach { case (f, i) =>
      f.coalesce(1).write.parquet(s"$root/f$i")
      val part = new java.io.File(s"$root/f$i").listFiles()
        .filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(f"$root/in/part-$i%05d.parquet"))
    }
    s"$root/in"
  }

  test("s16: homoglyph-safe drain over 3 files drops a spoof that arrives " +
      "in a different file from its original") {
    // one file per micro-batch: doc 5 (Cyrillic е/о for Latin e/o) sits two
    // files after doc 1, so only dedup state carried across batches drops it
    val files = Seq(
      Seq((1L, ts("2025-01-01 10:00:00"), "free money now"),
        (2L, ts("2025-01-01 10:01:00"), "meeting at noon")),
      Seq((3L, ts("2025-01-01 10:02:00"), "something else"),
        (4L, ts("2025-01-01 10:03:00"), "quarterly report")),
      Seq((5L, ts("2025-01-01 10:04:00"), "frее mоnеy now"),
        (6L, ts("2025-01-01 10:05:00"), "last words")))
      .map(_.toDF("doc_id", "ts", "text"))
    val all = files.reduce(_ union _)
    val got = Pipeline.contentDedupDrainParity(spark, all, textCol = "text",
        eventTimeCol = "ts", watermark = "7 days", inputFiles = 3,
        preparedIn = Some(stagedFiles(files)))
      .as[String].collect().toSet
    val want = all.select(graft.text.TextAnalysis.fingerprint(
        graft.text.Confusables.skeleton(col("text"))))
      .distinct().as[String].collect().toSet
    assert(got === want)
    assert(want.size === 5, "the spoof pair shares one skeleton fingerprint")
  }

  test("s17: heavy-hitter drain over 3 files equals the exact per-window " +
      "counts when capacity exceeds the distinct items") {
    val ev = Seq(
      ("a", "2025-03-01 10:05:00"), ("b", "2025-03-01 12:55:00"),
      ("a", "2025-03-01 10:45:00"), ("c", "2025-03-01 11:10:00"),
      ("a", "2025-03-01 12:59:59"), ("b", "2025-03-01 10:30:00"),
      ("c", "2025-03-01 11:20:00"), ("a", "2025-03-01 11:59:00"),
      ("b", "2025-03-01 12:01:00"))
      .map { case (k, t) => (k, ts(t)) }.toDF("item", "ts")
    def triple(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getLong(2))
    val got = Pipeline.heavyHitterDrainParity(spark, ev, eventTimeCol = "ts",
        itemCol = "item", capacity = 4, width = "1 hour", delay = "7 days",
        inputFiles = 3)
      .collect().map(triple).toSet
    val want = ev.groupBy(window(col("ts"), "1 hour"), col("item")).count()
      .select(unix_timestamp(col("window.start")), col("item"), col("count"))
      .collect().map(triple).toSet
    assert(got === want)
    assert(want.size === 6) // 10h:(a,2)(b,1) 11h:(c,2)(a,1) 12h:(b,2)(a,1)
  }

  test("every drain that takes a prepared input rejects one that holds a " +
      "single bulk file, with or without a sentinel") {
    val ev = (0 until 6).map(i => (i.toLong, ts(f"2025-01-01 10:${i * 5}%02d:00"),
        i % 2L, if (i % 3 == 0) "purchase" else "click", i * 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val readings = ev.select(col("user_id").cast("string").as("station_id"),
      col("ts").as("timestamp"), col("value"))
    def prepared(stage: String => Unit): Option[String] = {
      val in = s"${Pipeline.tempRoot("onefile")}/in"
      stage(in)
      Some(in)
    }
    def bulk = prepared(ev.coalesce(1).write.parquet(_))
    def window1h = prepared(Pipeline.stageWindowDrainInput(spark, ev, "ts",
      "1 hour", "7 days", _, inputFiles = 1))
    val drains: Seq[(String, () => Any)] = Seq(
      "s08" -> (() => Pipeline.dedupDrainParity(spark, ev, "ts",
        Seq("user_id"), "7 days", preparedIn = bulk)),
      "s09" -> (() => Pipeline.windowDrainParity(spark, ev, "ts", "event_type",
        "value", "1 hour", "7 days", preparedIn = window1h)),
      "s10" -> (() => graft.streaming.Ewma.drainParity(spark, readings,
        preparedIn = prepared { in =>
          // two time-ordered slices, then drop the second
          graft.streaming.Ewma.stageOrderedInput(spark, readings, in)
          val last = new org.apache.hadoop.fs.Path(s"$in/slice-001.parquet")
          assert(last.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(last, false))
        })),
      "s11" -> (() => Pipeline.sessionDrainParity(spark, ev, "ts", "user_id",
        "value", 1800L, "7 days", preparedIn = prepared(
          Pipeline.stageSessionDrainInput(spark, ev, "ts", 1800L, "7 days", _,
            inputFiles = 1)))),
      "s12" -> (() => Pipeline.joinDrainParity(spark, ev, "ts", "user_id",
        col("event_type") === "purchase", col("event_type") === "click",
        "10 minutes", "7 days", preparedIn = bulk)),
      "s13" -> (() => Pipeline.upsertDrainParity(spark, ev, Seq("user_id"),
        Seq("ts", "event_id"), preparedIn = bulk)),
      "s15" -> (() => Pipeline.outerJoinDrainParity(spark, ev, "ts",
        "event_id", "user_id", "event_type", "purchase", "click",
        "10 minutes", "7 days", preparedIn = prepared(
          Pipeline.stageOuterJoinDrainInput(spark, ev, "ts", "event_id",
            "user_id", "event_type", "purchase", "click", "10 minutes",
            "7 days", _, inputFiles = 1)))),
      "s16" -> (() => Pipeline.contentDedupDrainParity(spark, ev, "event_type",
        "ts", "7 days", preparedIn = bulk)),
      "s17" -> (() => Pipeline.heavyHitterDrainParity(spark, ev, "ts",
        "event_type", 8, "1 hour", "7 days", preparedIn = window1h)))
    for ((name, run) <- drains) withClue(s"$name: ") {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(
        "prepared input must span >= 2 files for cross-batch state"))
    }
  }

  test("latestVersion picks the highest published version, below-bound excluded") {
    val root = Pipeline.tempRoot("lv")
    assert(Pipeline.latestVersion(spark, root).isEmpty)
    Seq(0L, 2L, 10L).foreach { v =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$root/v=$v"))
    }
    assert(Pipeline.latestVersion(spark, root) === Some(10L))
    // the replay-safe read: batch 10 must NOT see its own partial output
    assert(Pipeline.latestVersion(spark, root, below = Some(10L)) === Some(2L))
    assert(Pipeline.latestVersion(spark, root, below = Some(0L)) === None)
  }

  test("withDrainPartitions serializes concurrent drains and restores " +
      "the session shuffle-partition count") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // two "drains" race on the ONE session: without the lock the second
    // would capture prev = 4 (the first's pinned value) and "restore" it
    // permanently — the exact leak the round-12 verdict flagged
    val threads = (1 to 2).map { _ =>
      new Thread(() =>
        graft.streaming.Pipeline.withDrainPartitions(spark) {
          if (active.incrementAndGet() != 1) overlapped.set(true)
          seen.add(spark.conf.get(key))
          Thread.sleep(100)
          active.decrementAndGet()
          ()
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(!overlapped.get, "two drains held the pinned conf at once")
    assert(seen.toArray(new Array[String](0)).toSeq === Seq("4", "4"),
      s"each drain must see the pinned count, got $seen")
    assert(spark.conf.get(key) === before,
      "session shuffle-partition count must be restored after both drains")
  }

  test("a fixed-point loop and a drain run on two threads of one session: " +
      "both equal their oracles and the session conf is unchanged after") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val before = spark.conf.getAll
    // x251 kCore at k=2 on a triangle plus a pendant: d peels in round 1
    val graph = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
      .toDF("s", "d").repartition(3)
    // the s08 drain: distinct keys through a watermarked dedup stream
    val events = (0 until 40).map(i =>
      (i % 7L, s"k${i % 5}", ts(s"2025-01-01 10:${10 + i}:00")))
      .toDF("user_id", "event_type", "ts")
    val loop = Future(graft.analytics.Graph.kCore(graph, col("s"), col("d"), 2)
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), Option(r.get(2)))).toMap)
    val drain = Future(Pipeline.dedupDrainParity(spark, events, eventTimeCol = "ts",
        keys = Seq("user_id", "event_type"), watermark = "60 days")
      .as[(Long, String)].collect().toSet)
    val core = Await.result(loop, 10.minutes)
    val keys = Await.result(drain, 10.minutes)
    assert(core === Map("a" -> (true, None), "b" -> (true, None),
      "c" -> (true, None), "d" -> (false, Some(1))))
    assert(keys === events.select("user_id", "event_type").as[(Long, String)]
      .collect().toSet)
    assert(spark.conf.getAll === before)
  }
}
