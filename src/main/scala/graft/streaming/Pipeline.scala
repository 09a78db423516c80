package graft.streaming

import graft.clean.Validation
import graft.features.Features
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

/** The reference's streaming ETL (SURVEY.md §3.1): stream →
  * parse/validate/clean → feature-engineer → checkpointed parquet sink.
  *
  * Differences from the reference, by design (SURVEY.md §2.7 T4): streaming
  * dedup runs behind a watermark so state is bounded — the notebook's
  * unwatermarked `dropDuplicates` (databricks.docx:69) grows state forever,
  * which is exactly what kills a 1000-executor job on week two.
  *
  * Every stream this object starts goes through one seam: the sinks return
  * a [[StreamSink]], whose `start()` runs the query on
  * [[LocalCheckpointFileManager]] so that a `file:` checkpoint's per-trigger
  * writes fork no process. On disk that drops Hadoop's hidden `.crc`
  * sidecars and keeps Spark's own state-store checksums (see [[sink]]).
  * The drains wait with a fixed bound ([[awaitDrain]]) and work in temp
  * roots deleted at JVM exit ([[tempRoot]]).
  */
object Pipeline {

  /** Bounded parity drains run with a small FIXED state partitioning.
    *
    * Streaming state-store and checkpoint overhead scales with
    * (shuffle partitions) × (micro-batches) × (state stores per
    * operator): every trigger commits a delta file per state partition
    * (a stream-stream join keeps FOUR stores per partition), so a 32-way
    * session default spends a parity drain's wall-clock on hundreds of
    * tiny commit files for kilobytes of data — measured 45.2 s across
    * the eight drains in round 10, 14 % of the whole bench. The drains
    * are correctness harnesses over bounded input: 4 state partitions
    * keeps the semantics honest (state still crosses partitions AND
    * micro-batches) while cutting the per-trigger commit fan-out 8×. A
    * production stream sizes this to throughput instead — state
    * partition count is frozen into the checkpoint at first start from
    * this same conf, which is also why it must be set per-query here
    * and not globally.
    */
  private[graft] val DrainStatePartitions = 4

  /** Run `body` (a bounded drain: build stream → start → await) with
    * `spark.sql.shuffle.partitions` pinned to [[DrainStatePartitions]],
    * restoring the session's value after. The swap mutates SESSION-global
    * conf, so it runs under [[Scoped.conf]]'s lock: two drains racing on
    * one SparkSession cannot pin each other's (or an unrelated query's)
    * shuffle count, and "drains run one at a time" is an enforced
    * invariant. Every drain is a bounded `AvailableNow` run, so the hold
    * time is one drain's drain.
    */
  private[graft] def withDrainPartitions[A](
      spark: org.apache.spark.sql.SparkSession)(body: => A): A =
    Scoped.conf(spark,
      "spark.sql.shuffle.partitions" -> DrainStatePartitions.toString)(body)

  /** A drain's fixed bound on waiting for its stream: far above any drain
    * this library runs, low enough that a stuck stream fails the caller. */
  private val DrainTimeoutMs = 10 * 60 * 1000L

  /** Wait for a bounded drain's query to finish. On [[DrainTimeoutMs]] it
    * stops the query and throws, naming the query and its last progress;
    * a query that failed rethrows its exception. */
  private[graft] def awaitDrain(q: StreamingQuery,
      timeoutMs: Long = DrainTimeoutMs): Unit = {
    if (!q.awaitTermination(timeoutMs)) {
      val last = Option(q.lastProgress).fold("none")(_.json)
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"drain ${Option(q.name).getOrElse(q.id.toString)} did not finish in " +
          s"$timeoutMs ms; last progress: $last")
    }
    q.exception.foreach(e => throw e)
  }

  private[this] val tempRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private[this] lazy val tempRootsCleanup: Unit = {
    sys.addShutdownHook(tempRoots.forEach { r =>
      try LocalCheckpointFileManager.deleteTree(r)
      catch { case scala.util.control.NonFatal(_) => }
    })
    ()
  }

  /** A fresh `graft_<tag>_*` directory under `java.io.tmpdir`, deleted
    * with everything under it when the JVM exits. A drain keeps its input,
    * checkpoint and sink here; the frame it returns reads the sink lazily,
    * so no earlier point is safe to delete it. */
  private[graft] def tempRoot(tag: String): String = {
    tempRootsCleanup
    val root = java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
    tempRoots.add(root)
    root.toString
  }

  /** Drain `stream` into the checkpointed parquet sink under `root` and
    * return the sink's rows. */
  private[streaming] def drainToParquet(stream: DataFrame, root: String): DataFrame = {
    awaitDrain(parquetSink(stream, s"$root/out", s"$root/ckpt",
      boundedDrain = true).start())
    stream.sparkSession.read.parquet(s"$root/out")
  }

  /** Clean + feature a parsed telemetry frame. Works identically on batch
    * and streaming DataFrames (same Catalyst plan either way) — this is the
    * transformation core shared by both reference implementations
    * (`Wind_Processing.py:15-65` and databricks.docx:47-94).
    */
  def transform(df: DataFrame, bounds: Map[String, (Double, Double)],
      defaults: Map[String, Any], streaming: Boolean,
      validCols: (String, String) = ("timestamp", "station_id")): DataFrame = {
    val bounded = Validation.rangeFilter(df, bounds)
    val filled = Validation.fillDefaults(bounded, defaults)
    val deduped0 =
      if (streaming)
        // watermark bounds dedup state to 10 min of event time
        filled.withWatermark("timestamp", "10 minutes")
          .dropDuplicates("station_id", "timestamp")
      else {
        // "keep first" needs a tiebreak that varies WITHIN the key group:
        // prefer the ingest-order column (pandas file-order semantics) when
        // the source captured it, else order by all payload columns so the
        // survivor is at least reproducible across partitionings.
        val tiebreak =
          if (filled.columns.contains(graft.ingest.Sources.IngestOrderCol))
            Seq(col(graft.ingest.Sources.IngestOrderCol))
          else
            filled.columns.filterNot(Set("station_id", "timestamp"))
              .sorted.map(col).toSeq
        Validation.dedupeFirst(filled, Seq("station_id", "timestamp"), tiebreak)
      }
    // drop the ingest-order helper on BOTH branches — a streaming source
    // that captured it would otherwise leak it into the output schema
    val deduped = deduped0.drop(graft.ingest.Sources.IngestOrderCol)
    Features.withTimeFeatures(deduped, validCols = validCols)
  }

  /** The full solar batch pipeline (`Solar_Processing.py:14-58`): P1 require,
    * P2 coerce via the source's sanitizer, P3-P5 clean, D1-D6 features with
    * the solar validity pair (irradiance, power).
    */
  def solarBatch(df: DataFrame): DataFrame = {
    val checked = Validation.requireColumns(df,
      Seq("station_id", "timestamp", "solar_irradiance_Wm2", "power_kW"))
    transform(checked, Validation.solarBounds,
      Map("temperature_C" -> 25.0), streaming = false,
      validCols = ("solar_irradiance_Wm2", "power_kW"))
  }

  /** The full wind batch pipeline (`Wind_Processing.py:15-65`): adds D7
    * wind_power_density before the validity flag.
    */
  def windBatch(df: DataFrame): DataFrame = {
    val checked = Validation.requireColumns(df,
      Seq("station_id", "timestamp", "wind_speed_mps", "farm_power_kW"))
    transform(checked, Validation.windBounds, Validation.windDefaults,
        streaming = false, validCols = ("wind_speed_mps", "farm_power_kW"))
      .withColumn("wind_power_density",
        Features.windPowerDensity(col("air_density_kgm3"), col("wind_speed_mps")))
  }

  /** Streaming content-dedup for document feeds: exact dedup by normalized
    * md5 fingerprint (the streaming face of
    * [[graft.dedup.Dedup.exactDuplicates]]), with the dedup state bounded
    * by an event-time watermark — the first arrival of each distinct
    * content survives; re-arrivals inside the watermark horizon are
    * dropped, state for expired horizons is evicted.
    *
    * Winner semantics: on a batch frame the EARLIEST row by event time wins
    * (ties by the remaining columns — make the frame carry a unique id for
    * a total order), via the same order-aware dedup as
    * [[graft.clean.Validation.dedupeFirst]]. On a stream, "first" is
    * arrival order: duplicates inside one micro-batch are broken
    * arbitrarily by `dropDuplicates` — streaming state has no global sort,
    * so event-time order cannot be enforced there.
    */
  def contentDedup(df: DataFrame, text: org.apache.spark.sql.Column,
      eventTimeCol: String, watermark: String = "10 minutes",
      homoglyphSafe: Boolean = false): DataFrame = {
    // homoglyphSafe folds TR39 confusables BEFORE fingerprinting, so a
    // Cyrillic spoof collides with its Latin original on the streaming
    // path too — the x208 protection the batch spoofGroups face has
    val keyed = if (homoglyphSafe) graft.text.Confusables.skeleton(text)
      else text
    val fp = df.withColumn("__fp", graft.text.TextAnalysis.fingerprint(keyed))
    val deduped =
      if (df.isStreaming) fp.withWatermark(eventTimeCol, watermark).dropDuplicates("__fp")
      else {
        val rest = fp.columns.filter(c => c != "__fp" && c != eventTimeCol)
        graft.clean.Validation.dedupeFirst(fp, Seq("__fp"),
          col(eventTimeCol) +: rest.map(col).toSeq)
      }
    deduped.drop("__fp")
  }

  /** Stream-stream interval join: pair each left event with right events
    * of the same key whose event time falls in
    * [left.time - `lookback`, left.time] — the streaming face of
    * [[graft.analytics.Temporal.rangeJoin]] (enrich clicks with the errors
    * that preceded them, trades with recent quotes). Both sides carry
    * watermarks, so Spark bounds the join state to the lookback + delay
    * window and evicts behind them — the only formulation of a
    * stream-stream join that holds memory constant on an unbounded stream.
    * Works identically on batch frames (watermarks become no-ops), which
    * is how the spec cross-checks it against the batch range join.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, lookback: String,
      delay: String = "10 minutes", prefix: String = "r_",
      joinType: String = "inner"): DataFrame = {
    val rPayload = right.columns.filter(_ != key).toSeq
    val l = left.withWatermark(leftTime, delay)
    val r = rPayload.foldLeft(right)((d, c) => d.withColumnRenamed(c, prefix + c))
      .withColumnRenamed(key, "__rk")
      .withWatermark(prefix + rightTime, delay)
    l.join(r,
      col(key) === col("__rk") &&
        col(prefix + rightTime) >= col(leftTime) - expr(s"INTERVAL $lookback") &&
        col(prefix + rightTime) <= col(leftTime),
      joinType)
      .drop("__rk")
  }

  /** S8: checkpointed append-mode parquet sink. `boundedDrain` runs with
    * `Trigger.AvailableNow` — process everything available, then stop —
    * the structured-streaming analog of the reference consumer's
    * `consumer_timeout_ms` bounded drain (T2, ref `Solar_Processing.py:61-69`).
    *
    * Returned as a [[StreamSink]]: its `start()` runs the query on
    * [[LocalCheckpointFileManager]] (see [[sink]]).
    */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
      boundedDrain: Boolean = false): StreamSink =
    sink(df, df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append"), boundedDrain)

  /** The one start seam of every stream graft starts ([[parquetSink]],
    * [[upsertSink]], [[nearDupSink]] and the drains built on them).
    *
    * On a `file:` checkpoint, Spark's default checkpoint file manager
    * forks a `chmod` and a `readlink` for each checkpoint file when
    * Hadoop's native library is absent, about 70 processes per trigger of
    * the telemetry stream. [[StreamSink]] starts the query on
    * [[LocalCheckpointFileManager]] instead, which makes the same writes
    * with plain syscalls. On disk the checkpoint then has no hidden Hadoop
    * `.<name>.crc` sidecars; Spark's own state-store checksum files
    * (`<n>.delta.crc`) stay. Both managers read and restart each other's
    * checkpoints. A session that sets
    * `spark.sql.streaming.checkpointFileManagerClass` itself keeps its
    * choice.
    */
  private def sink(df: DataFrame, w: DataStreamWriter[Row],
      boundedDrain: Boolean): StreamSink =
    new StreamSink(
      if (boundedDrain) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      else w,
      df.sparkSession)

  /** T2/T3/T4 exercised end-to-end as an ORACLE-CHECKABLE batch query:
    * materialize `batchDf` as `inputFiles` parquet files, re-read them as
    * a bounded STREAM (`maxFilesPerTrigger = 1`, so the run crosses
    * ≥ `inputFiles` micro-batches and dedup state genuinely carries
    * between them), run watermarked `dropDuplicates(keys)` into the
    * checkpointed append parquet sink under `Trigger.AvailableNow`, drain
    * to termination, and return the sink's contents.
    *
    * Determinism contract: the output projects ONLY the dedup keys — the
    * key SET is invariant to which physical row survives and to how files
    * split into micro-batches — and the caller picks a watermark longer
    * than the data's event-time span, so no state is evicted mid-run and
    * the result equals exactly `SELECT DISTINCT keys FROM batch` (the
    * DuckDB-checkable statement; with a shorter horizon, keys whose
    * duplicates straddle an eviction would re-emit — real streaming
    * semantics, but not a batch-expressible oracle). Every run uses a
    * fresh input/checkpoint/sink directory, so each invocation times the
    * FULL cold pipeline (no checkpoint reuse masquerading as work).
    *
    * `inputFiles` defaults to the MINIMUM (2) that still forces state
    * across a batch boundary: drain cost is ~all trigger machinery (state
    * store commits, checkpoint writes), so each extra file buys another
    * trigger's wall-time without adding coverage — 2 batches + the
    * terminal no-data batch already exercise carry, flush and commit.
    */
  def dedupDrainParity(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, keys: Seq[String],
      watermark: String, inputFiles: Int = 2,
      preparedIn: Option[String] = None): DataFrame =
      withDrainPartitions(spark) {
    require(keys.nonEmpty, "dedup needs at least one key column")
    require(inputFiles >= 2,
      s"state must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    val root = tempRoot("s08")
    // no sentinel here (the key set drains by input exhaustion), so a
    // shared bulk fixture is read untouched — the s12 discipline
    val in = preparedIn.getOrElse {
      val p = s"$root/in"
      batchDf.repartition(inputFiles).write.mode("overwrite").parquet(p)
      p
    }
    require(partFileCount(spark, in) >= 2,
      s"prepared input must span >= 2 files for cross-batch state: $in")
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .withWatermark(eventTimeCol, watermark)
      .dropDuplicates(keys)
      .select(keys.map(col): _*)
    drainToParquet(stream, root)
  }

  /** s16: [[contentDedup]]'s homoglyph-safe rung through a REAL
    * checkpointed drain (the [[dedupDrainParity]] pattern applied to the
    * content-dedup operator itself): the batch corpus is materialized as
    * `inputFiles` parquet files, re-read as a bounded stream
    * (`maxFilesPerTrigger = 1`, so spoof/original pairs genuinely
    * straddle micro-batches and the watermarked `dropDuplicates` state
    * carries between them), deduped on the SKELETON fingerprint, and the
    * sink's key set returned.
    *
    * Determinism contract: the output projects only the skeleton
    * fingerprint recomputed from each SURVIVOR's text — every member of
    * a key group shares it by construction, so the set is invariant to
    * which physical row survives and to how files split into batches.
    * With a watermark longer than the data's event-time span nothing
    * evicts mid-run, so the result equals exactly `SELECT DISTINCT
    * md5(normalized(skeleton(text)))` — the DuckDB-checkable statement.
    */
  def contentDedupDrainParity(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, textCol: String, eventTimeCol: String,
      watermark: String, inputFiles: Int = 2,
      preparedIn: Option[String] = None): DataFrame =
      withDrainPartitions(spark) {
    require(inputFiles >= 2,
      s"state must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    val root = tempRoot("s16")
    // no sentinel (skeleton-key set drains by exhaustion): a shared bulk
    // fixture is read untouched — the s12 discipline
    val in = preparedIn.getOrElse {
      val p = s"$root/in"
      batchDf.repartition(inputFiles).write.mode("overwrite").parquet(p)
      p
    }
    require(partFileCount(spark, in) >= 2,
      s"prepared input must span >= 2 files for cross-batch state: $in")
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val survivors = contentDedup(stream, col(textCol), eventTimeCol,
      watermark, homoglyphSafe = true)
      .select(graft.text.TextAnalysis.fingerprint(
        graft.text.Confusables.skeleton(col(textCol))).as("sk_fp"))
    drainToParquet(survivors, root)
  }

  /** T5's streaming tumbling-window aggregation exercised end-to-end as an
    * ORACLE-CHECKABLE drain (the [[dedupDrainParity]] pattern, lifted to
    * stateful windows): materialize the batch as files, stream them with
    * `maxFilesPerTrigger = 1` through a watermarked windowed
    * count/sum into the checkpointed append parquet sink, drain under
    * `Trigger.AvailableNow`, and return the sink's rows.
    *
    * Append mode only emits a window once the watermark passes its end —
    * with a span-length delay nothing would ever emit, with a `0 seconds`
    * delay out-of-order FILES would drop each other's rows. Both are
    * solved by a SENTINEL row: the bulk files carry a `delay` (> the
    * data's event-time span) watermark so no real row is ever late no
    * matter how the source orders the files, and one final single-row file
    * at `max(ts) + delay + 2·width` (written last, so the
    * modification-time-ordered file source processes it last) pushes the
    * watermark past every real window's end in the terminal no-data batch
    * — every real window emits, the sentinel's own window (and its
    * null-key group) stays in state and is discarded with the drain. The
    * sink then equals exactly the BATCH tumbling aggregate — the
    * DuckDB-checkable statement. This is also the production shape for
    * "close the books at end of day": a horizon event, not a restart.
    */
  def windowDrainParity(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, keyCol: String,
      valueCol: String, width: String, delay: String,
      inputFiles: Int = 2,
      preparedIn: Option[String] = None): DataFrame = withDrainPartitions(spark) {
    require(inputFiles >= 2,
      s"state must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    val root = tempRoot("s09")
    // preparedIn: a FULLY staged dir (bulk + sentinel, built by
    // stageWindowDrainInput) — the fixture path; read untouched, so it
    // stays shareable. Checkpoint and sink stay fresh per run either way.
    val in = preparedIn.getOrElse(stageDrainInput(spark, batchDf,
      eventTimeCol, col("__mx") + expr(s"INTERVAL '$delay'") +
        expr(s"2 * INTERVAL '$width'"), root, inputFiles))
    require(partFileCount(spark, in) >= 2,
      s"prepared input must span >= 2 files for cross-batch state: $in")
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), width), col(keyCol))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col(valueCol)), 2).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("ws"), col(keyCol),
        col("cnt"), col("sum_value"))
    drainToParquet(stream, root)
  }

  /** s17: the CUSTOM typed-imperative aggregate under streaming state —
    * [[windowDrainParity]]'s shape with the per-window aggregate swapped
    * for [[graft.plans.MisraGries]]. This is the machinery claim no
    * batch face can make: the heavy-hitter summary's object buffer is
    * serialized into the state store between micro-batches, deserialized
    * and MERGED when later files add to an open window, and only then
    * emitted — the capacity-bounded buffer is exactly what makes a
    * windowed heavy-hitter feasible on an unbounded-domain stream (the
    * state per window is `capacity` entries, never the item domain).
    *
    * Oracle contract: `capacity` must exceed the per-window distinct
    * item count, so no decrement ever fires and the drained summaries
    * are EXACT per-window counts — the DuckDB-checkable statement (the
    * approximation bound under eviction stays spec-tested, as for a23).
    * Same sentinel/watermark discipline as the windowed drain.
    */
  def heavyHitterDrainParity(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, itemCol: String,
      capacity: Int, width: String, delay: String,
      inputFiles: Int = 2,
      preparedIn: Option[String] = None): DataFrame = withDrainPartitions(spark) {
    require(inputFiles >= 2,
      s"state must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    val root = tempRoot("s17")
    // preparedIn: fully staged (stageWindowDrainInput — same sentinel
    // formula as the windowed drain); read untouched
    val in = preparedIn.getOrElse(stageDrainInput(spark, batchDf,
      eventTimeCol, col("__mx") + expr(s"INTERVAL '$delay'") +
        expr(s"2 * INTERVAL '$width'"), root, inputFiles))
    require(partFileCount(spark, in) >= 2,
      s"prepared input must span >= 2 files for cross-batch state: $in")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val mg = graft.plans.MisraGries(
      ColumnBridge.expression(col(itemCol)), capacity)
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), width))
      .agg(ColumnBridge.column(mg.toAggregateExpression()).as("__hh"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("__hh"))
    drainToParquet(stream, root)
      .select(col("ws"), explode(col("__hh")).as("e"))
      .select(col("ws"), col("e.item").as("item"),
        col("e.est_count").as("est_count"))
  }

  /** Materialize `batchDf` as `inputFiles` bulk parquet files plus ONE
    * sentinel row whose event time is `sentinelTs` (an expression over
    * `__mx` = the batch's max event time), staged so the sentinel replays
    * LAST. Shared by the windowed/session drains: the sentinel is the
    * "close the books" horizon event that pushes the watermark past every
    * real window/session end in the terminal no-data batch.
    *
    * The sentinel must replay LAST. A plain append would give it a UUID
    * part name interleaving arbitrarily with the bulk files under a
    * path-ordered listing (observed reorders in the s10 EWMA drain), so
    * write it aside and MOVE it in under a name that sorts last — last
    * in both path and mtime order, whichever the file source uses.
    * (Bulk files may replay in any order: the span watermark drops
    * nothing; only the sentinel's position matters.)
    */
  private def stageDrainInput(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, sentinelTs: org.apache.spark.sql.Column,
      root: String, inputFiles: Int): String = {
    val in = s"$root/in"
    stageDrainInputTo(spark, batchDf, eventTimeCol, sentinelTs, in, inputFiles)
    in
  }

  /** [[stageDrainInput]] writing into a caller-chosen directory — the
    * entry point the build-once input FIXTURES use (the s12/s15 shared
    * drain-input discipline, extended round 14 to the sentinel'd drains):
    * the staged dir is the previous stage's persisted output a production
    * drain consumes, so a harness invocation prices the drain lifecycle,
    * not the re-staging of its source files. The sentinel scratch dir is
    * a SIBLING of `in` so a directory-level publish of `in` carries
    * nothing extra.
    */
  private[graft] def stageDrainInputTo(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String,
      sentinelTs: org.apache.spark.sql.Column, in: String,
      inputFiles: Int): Unit = {
    batchDf.repartition(inputFiles).write.mode("overwrite").parquet(in)
    val sentinel = batchDf
      .agg(max(col(eventTimeCol)).as("__mx"))
      .select(batchDf.schema.fields.map { f =>
        if (f.name == eventTimeCol) sentinelTs.cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    sentinel.coalesce(1).write.mode("overwrite").parquet(s"${in}__sentinel")
    val inPath = new org.apache.hadoop.fs.Path(in)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"${in}__sentinel/part-*")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$in/zzz-sentinel.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"${in}__sentinel"), true)
  }

  /** [[outerJoinDrainParity]]'s staged input: bulk files plus TWO
    * sentinel rows — one passes each side's filter — at
    * `mx + delay + 2·lookback` on key −1: after they replay, the global
    * watermark sits at `mx + 2·lookback`, strictly past every real left
    * row's match-window close (bounded by mx). One formula definition
    * shared by the inline path and the fixture builder.
    */
  def stageOuterJoinDrainInput(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, idCol: String, key: String,
      sideCol: String, leftSide: String, rightSide: String,
      lookback: String, delay: String, in: String,
      inputFiles: Int = 2): Unit = {
    batchDf.repartition(inputFiles).write.mode("overwrite").parquet(in)
    val sentinelTs = col("__mx") + expr(s"INTERVAL $delay") +
      expr(s"2 * INTERVAL $lookback")
    val sentinel = batchDf.agg(max(col(eventTimeCol)).as("__mx"))
      .select(explode(array(lit(leftSide), lit(rightSide))).as("__side"),
        col("__mx"))
      .select(batchDf.schema.fields.map { f =>
        if (f.name == eventTimeCol) sentinelTs.cast(f.dataType).as(f.name)
        else if (f.name == sideCol) col("__side").cast(f.dataType).as(f.name)
        else if (f.name == key || f.name == idCol)
          lit(-1L).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    sentinel.coalesce(1).write.mode("overwrite").parquet(s"${in}__sentinel")
    val inPath = new org.apache.hadoop.fs.Path(in)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.globStatus(
      new org.apache.hadoop.fs.Path(s"${in}__sentinel/part-*")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$in/zzz-sentinel.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"${in}__sentinel"), true)
  }

  /** Fully-staged input (bulk + horizon sentinel) for a
    * [[windowDrainParity]]/[[heavyHitterDrainParity]] drain — ONE
    * definition of the sentinel formula shared by the inline path and
    * the fixture builders, so the two can never drift.
    */
  def stageWindowDrainInput(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, width: String,
      delay: String, in: String, inputFiles: Int = 2): Unit =
    stageDrainInputTo(spark, batchDf, eventTimeCol,
      col("__mx") + expr(s"INTERVAL '$delay'") +
        expr(s"2 * INTERVAL '$width'"), in, inputFiles)

  /** [[sessionDrainParity]]'s staged input — sentinel at
    * `max(ts) + delay + 2·gap` (see that method's contract).
    */
  def stageSessionDrainInput(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, gapSeconds: Long,
      delay: String, in: String, inputFiles: Int = 2): Unit =
    stageDrainInputTo(spark, batchDf, eventTimeCol,
      col("__mx") + expr(s"INTERVAL '$delay'") +
        expr(s"INTERVAL '${2 * gapSeconds} seconds'"), in, inputFiles)

  /** T5's SESSION-window aggregation exercised end-to-end as an
    * ORACLE-CHECKABLE drain — the 4th distinct stateful shape under the
    * harness (s08 keyed dedup state, s09 per-window accumulators, s10
    * ordered per-key fold, s11 MERGING session state): Spark's streaming
    * `session_window` holds one state entry per open session and MERGES
    * entries when a row bridges two of them — a row arriving in a later
    * micro-batch can fuse sessions opened in earlier batches, a state
    * transition none of the other drains exercise.
    *
    * Same harness contract as [[windowDrainParity]]: bulk files carry a
    * watermark `delay` longer than the data's event-time span (no real row
    * is ever late regardless of file replay order — session results are
    * order-independent ONCE nothing is dropped, unlike the s10 fold), and
    * the staged-last sentinel at `max(ts) + delay + 2·gap` pushes the
    * watermark `2·gap` past the last event — past every real session's
    * end (`last event + gap`) — so append mode emits every real session in
    * the terminal batch. The sentinel's own session (null-key group) stays
    * in state and is discarded with the drain. The sink then equals the
    * batch gap-island sessionization — the DuckDB-checkable statement
    * (islands depend only on each key's sorted event-time multiset, so no
    * tie-break column is needed: same-timestamp rows have gap 0 and land
    * in the same session under any order).
    */
  def sessionDrainParity(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, keyCol: String,
      valueCol: String, gapSeconds: Long, delay: String,
      inputFiles: Int = 2,
      preparedIn: Option[String] = None): DataFrame = withDrainPartitions(spark) {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    require(inputFiles >= 2,
      s"state must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    val root = tempRoot("s11")
    // preparedIn: fully staged (stageSessionDrainInput); read untouched
    val in = preparedIn.getOrElse(stageDrainInput(spark, batchDf,
      eventTimeCol, col("__mx") + expr(s"INTERVAL '$delay'") +
        expr(s"INTERVAL '${2 * gapSeconds} seconds'"), root, inputFiles))
    require(partFileCount(spark, in) >= 2,
      s"prepared input must span >= 2 files for cross-batch state: $in")
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .withWatermark(eventTimeCol, delay)
      .groupBy(col(keyCol),
        session_window(col(eventTimeCol), s"$gapSeconds seconds").as("sw"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col(valueCol)), 2).as("sum_value"))
      .select(col(keyCol), unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"), col("cnt"),
        col("sum_value"))
    drainToParquet(stream, root)
  }

  /** STREAM-STREAM interval join exercised end-to-end as an
    * ORACLE-CHECKABLE drain — the 5th distinct stateful shape under the
    * harness (s08 keyed dedup, s09 per-window accumulators, s10 ordered
    * fold, s11 merging sessions, s12 TWO-SIDED JOIN BUFFERS): both sides
    * of [[intervalJoinStream]] buffer rows in join state, and a
    * right-side row arriving in a later micro-batch matches left-side
    * rows buffered from earlier ones (and vice versa — inner-join
    * emission is symmetric and immediate, so no sentinel is needed).
    *
    * Both branches filter the SAME bounded file stream
    * (`maxFilesPerTrigger = 1`, so matches genuinely cross micro-batch
    * boundaries), and the caller passes a watermark `delay` longer than
    * the data's event-time span, so no buffered row is evicted before its
    * partner can arrive — under that contract the drained sink equals the
    * BATCH interval join row for row (the DuckDB-checkable statement;
    * with a shorter horizon, late partners beyond the watermark would be
    * dropped — real streaming semantics, but not a batch-expressible
    * oracle).
    */
  /** Number of parquet part files under `dir` — the micro-batch count a
    * `maxFilesPerTrigger = 1` drain will replay from it. */
  private def partFileCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(new org.apache.hadoop.fs.Path(s"$dir/part-*")).length
  }

  def joinDrainParity(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, key: String,
      leftFilter: org.apache.spark.sql.Column,
      rightFilter: org.apache.spark.sql.Column, lookback: String,
      delay: String, inputFiles: Int = 2,
      preparedIn: Option[String] = None): DataFrame = withDrainPartitions(spark) {
    require(inputFiles >= 2,
      s"state must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    val root = tempRoot("s12")
    // a caller that drains several joins over the SAME batch frame can
    // materialize it once (the x123 fixture discipline) and pass the dir;
    // the stream reads it untouched, so the fixture stays shareable
    val in = preparedIn.getOrElse {
      val p = s"$root/in"
      batchDf.repartition(inputFiles).write.mode("overwrite").parquet(p)
      p
    }
    require(partFileCount(spark, in) >= 2,
      s"prepared input must span >= 2 files for cross-batch state: $in")
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val joined = intervalJoinStream(stream.filter(leftFilter),
      stream.filter(rightFilter), key, eventTimeCol, eventTimeCol,
      lookback, delay)
    drainToParquet(joined, root)
  }

  /** Stream-stream LEFT OUTER interval join exercised as an
    * ORACLE-CHECKABLE drain — the 7th distinct stateful shape, and the
    * one [[joinDrainParity]] (inner) cannot exercise: NULL COMPLETION.
    * An unmatched left row is emitted with nulls only when the WATERMARK
    * passes its match window (before that, a matching right row could
    * still arrive) — so a bounded drain that just runs out of input
    * leaves every pending left row in state and silently emits nothing
    * for it. This drain closes the books the way the s09/s10/s11 drains
    * do: two SENTINEL rows (one per filter side, on a key no real event
    * uses) replay strictly last and push both sides' watermarks past
    * every real row's match bound, forcing the null-completions out
    * before the AvailableNow drain stops. The sentinels are then dropped
    * from the sink read-back; the oracle states the plain batch LEFT
    * JOIN over the real events.
    */
  def outerJoinDrainParity(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, eventTimeCol: String, idCol: String, key: String,
      sideCol: String, leftSide: String, rightSide: String,
      lookback: String, delay: String, inputFiles: Int = 2,
      preparedIn: Option[String] = None): DataFrame = withDrainPartitions(spark) {
    require(inputFiles >= 2,
      s"state must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    val root = tempRoot("s15")
    // preparedIn: a FULLY staged dir (bulk + the two-sided sentinel,
    // built once by [[stageOuterJoinDrainInput]]) — read untouched, so
    // the fixture stays shareable; round 14: the per-run part-file copy
    // + sentinel write this drain used to do moved behind the same
    // build-once fixture discipline as the bulk input itself.
    val in = preparedIn.getOrElse {
      val p = s"$root/in"
      stageOuterJoinDrainInput(spark, batchDf, eventTimeCol, idCol, key,
        sideCol, leftSide, rightSide, lookback, delay, p, inputFiles)
      p
    }
    require(partFileCount(spark, in) >= 2,
      s"prepared input must span >= 2 files for cross-batch state: $in")
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val joined = intervalJoinStream(
      stream.filter(col(sideCol) === leftSide),
      stream.filter(col(sideCol) === rightSide),
      key, eventTimeCol, eventTimeCol, lookback, delay,
      joinType = "leftOuter")
    drainToParquet(joined, root).filter(col(key) >= 0)
  }

  /** Stream-STATIC broadcast enrichment exercised as an ORACLE-CHECKABLE
    * drain — the canonical "join the stream to the dimension table"
    * shape (the reference's dict-merge catalog enrichment, done
    * relationally): the static side broadcasts into every micro-batch's
    * join, no state, no watermark — so the drained sink equals the batch
    * join by construction, and the drain proves the STREAMING planner
    * accepts and broadcasts the static side (stream-static is planned
    * per micro-batch, which is also why a HUGE dim belongs in a
    * bucketed/bloom pre-join, not a broadcast).
    */
  def enrichDrainParity(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, dim: DataFrame, key: String,
      inputFiles: Int = 2): DataFrame = withDrainPartitions(spark) {
    require(inputFiles >= 2,
      s"the stream must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    val root = tempRoot("s14")
    val in = s"$root/in"
    batchDf.repartition(inputFiles).write.mode("overwrite").parquet(in)
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .join(broadcast(dim), Seq(key))
    drainToParquet(stream, root)
  }

  /** SCD Type-1 upsert sink: `foreachBatch` MERGE of each micro-batch
    * into a versioned parquet table — the "materialized dimension from a
    * CDC stream" shape. Each batch unions the latest published version
    * with its own rows and keeps the last writer per key (`orderCols`
    * descending, which must end in a unique column so the winner is
    * deterministic), publishing to `v=<batchId>`.
    *
    * Idempotence without a transaction log: foreachBatch is
    * at-least-once on failure, but a replayed batch reads the latest
    * version STRICTLY BELOW its own id (never its own partial output)
    * and overwrites `v=<batchId>` — same inputs, same deterministic
    * merge, same bytes. Readers take the highest version directory
    * ([[latestVersion]]); a crash mid-write leaves a higher-numbered
    * partial that the next successful publication of that id overwrites.
    *
    * Scale honesty: the merge rewrites the FULL table every trigger —
    * the portable stand-in for a transaction-log table format (Delta /
    * Iceberg MERGE INTO), whose row-level operation this same
    * union+last-writer logic expresses. The per-key window runs over
    * |keys| + |batch| rows, partition-pruned to the key shuffle.
    */
  def upsertSink(df: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      tablePath: String, checkpoint: String,
      boundedDrain: Boolean = false): StreamSink = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(orderCols.nonEmpty, "upsert needs a deterministic write order")
    sink(df, df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val cur = latestVersion(s, tablePath, below = Some(id))
          .map(v => s.read.parquet(s"$tablePath/v=$v"))
        val all = cur.fold(batch)(c => c.unionByName(batch))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCols.map(col): _*)
          .orderBy(orderCols.map(c => col(c).desc): _*)
        all.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
          .write.mode("overwrite").parquet(s"$tablePath/v=$id")
        ()
      }, boundedDrain)
  }

  /** Highest published `v=<n>` under `tablePath` (optionally only below a
    * bound — the replay-safe read for [[upsertSink]]'s own merges). */
  def latestVersion(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, below: Option[Long] = None): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .filter(v => below.forall(v < _))
      .sorted(Ordering[Long].reverse)
      .headOption
  }

  /** [[upsertSink]] exercised end-to-end as an ORACLE-CHECKABLE drain:
    * stream the batch as `inputFiles` micro-batches through the
    * versioned upsert, then read the final published version. A key
    * updated in a later micro-batch must overwrite its earlier
    * publication, so the final table equals the BATCH latest-per-key
    * (the p14 statement) — the DuckDB-checkable contract.
    */
  def upsertDrainParity(spark: org.apache.spark.sql.SparkSession,
      batchDf: DataFrame, keyCols: Seq[String], orderCols: Seq[String],
      inputFiles: Int = 2,
      preparedIn: Option[String] = None): DataFrame = withDrainPartitions(spark) {
    require(inputFiles >= 2,
      s"state must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    val root = tempRoot("s13")
    // shared-fixture path (the s12/s15 discipline): the stream reads the
    // materialized dir untouched
    val in = preparedIn.getOrElse {
      val p = s"$root/in"
      batchDf.repartition(inputFiles).write.mode("overwrite").parquet(p)
      p
    }
    require(partFileCount(spark, in) >= 2,
      s"prepared input must span >= 2 files for cross-batch state: $in")
    val stream = spark.readStream.schema(batchDf.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    awaitDrain(upsertSink(stream, keyCols, orderCols, s"$root/tbl",
      s"$root/ckpt", boundedDrain = true).start())
    val v = latestVersion(spark, s"$root/tbl")
      .getOrElse(sys.error("upsert drain published no version"))
    spark.read.parquet(s"$root/tbl/v=$v")
  }

  /** Streaming face of [[graft.dedup.Dedup.incrementalNearDuplicates]]:
    * each micro-batch probes the parquet-backed historical corpus for
    * near-duplicate pairs it touches, appends the verified pairs to
    * `pairsPath`, and appends itself to the corpus at `corpusPath` — the
    * continuous-ingestion shape where candidate work per trigger is
    * proportional to the buckets the batch touches, never to |corpus|²
    * (old×old pairs are never generated; re-running the batch near-dup
    * over the whole corpus every trigger would).
    *
    * Both sinks are partitioned by micro-batch id and written with
    * DYNAMIC partition overwrite, so a replayed batch (foreachBatch is
    * at-least-once on failure) overwrites its own partition instead of
    * duplicating rows — idempotent without a transaction log. Pair
    * emission order across batches follows arrival order: a pair is
    * emitted by whichever side arrived LATER, so the union of all
    * `pairsPath` partitions equals the one-shot batch near-dup over the
    * concatenated input (spec-asserted).
    */
  def nearDupSink(df: DataFrame, idCol: String, textCol: String,
      corpusPath: String, pairsPath: String, checkpoint: String,
      threshold: Double = 0.7, maxBucket: Int = 1000): StreamSink =
    sink(df, df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val docs = batch.select(col(idCol), col(textCol))
        val fs = new org.apache.hadoop.fs.Path(corpusPath)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val old =
          if (fs.exists(new org.apache.hadoop.fs.Path(corpusPath)))
            s.read.parquet(corpusPath).select(col(idCol), col(textCol))
          else docs.limit(0)
        val pairs = graft.dedup.Dedup.incrementalNearDuplicates(
          old, docs, col(idCol), col(textCol), threshold, maxBucket)
        pairs.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(pairsPath)
        docs.withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(corpusPath)
      }, boundedDrain = false)

  /** T5/A14: watermarked sliding-window aggregation — the streaming form of
    * the dashboards' recency stats (`Wind_Genration.py:466-478`).
    */
  def windowedStats(df: DataFrame, width: String, slide: String,
      watermark: String = "10 minutes"): DataFrame =
    df.withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), width, slide), col("station_id"))
      .agg(
        avg(col("farm_power_kW")).as("avg_power_kW"),
        max(col("farm_power_kW")).as("max_power_kW"),
        sum(col("farm_energy_kWh_10min")).as("energy_kWh"))

  /** S10: console debug sink (ref databricks.docx:154-159). */
  def consoleSink(df: DataFrame, numRows: Int = 20): DataStreamWriter[Row] =
    df.writeStream.format("console").option("numRows", numRows.toString)

  /** S3/S4: Kafka/Event-Hub sink — key = partition key so per-station
    * ordering survives the broker (T7, ref `Wind_Genration.py:35-47,88`).
    * Returned unstarted (no broker in tests); the projection it shares with
    * [[graft.ingest.Sources.toKafkaShape]] is oracle-checked in batch.
    */
  def kafkaSink(df: DataFrame, bootstrap: String, topic: String,
      keyCol: String, checkpoint: String): DataStreamWriter[Row] =
    graft.ingest.Sources.toKafkaShape(df, keyCol)
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** S11: enumerate active streaming queries (databricks.docx:132-133). */
  def activeQueries(spark: org.apache.spark.sql.SparkSession): Seq[StreamingQuery] =
    spark.streams.active.toSeq
}
