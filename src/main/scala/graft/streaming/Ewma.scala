package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** EWMA smoothing — the reference's one genuinely stateful per-key operator
  * (ref `producer_wind.py:218-228`: `0.35·new + 0.65·prev` against the
  * previously *emitted* value, i.e. a recursive filter, not a moving
  * average).
  *
  * Batch form: the recursion unrolls to a closed-form weighted sum
  * e_n = Σ_{k=2..n} α(1−α)^{n−k}·x_k + (1−α)^{n−1}·x_1, computed with one
  * window (row_number + count) — no sequential scan, fully parallel per key.
  *
  * Streaming form: `flatMapGroupsWithState` carrying the previous smoothed
  * value per key — O(1) state per key, watermark-free because state is one
  * double (no growth), emitting one smoothed record per input.
  */
object Ewma {

  case class Reading(station_id: String, timestamp: java.sql.Timestamp, value: Double)
  case class Smoothed(station_id: String, timestamp: java.sql.Timestamp,
      value: Double, ewma: Double)

  /** Batch EWMA, running value per row: repartition on the key, sort within
    * partitions, sequential fold per key run. One shuffle total; the fold is
    * the only non-declarative op in the engine and is inherent to a
    * recursive filter (each output depends on the previous output).
    */
  def batchRunning(spark: SparkSession, df: Dataset[Reading],
      alpha: Double = 0.35): Dataset[Smoothed] = {
    import spark.implicits._
    df.repartition(col("station_id"))
      .sortWithinPartitions(col("station_id"), col("timestamp"))
      .mapPartitions { rows =>
        var curKey: String = null
        var prev = 0.0
        var has = false
        rows.map { r =>
          if (r.station_id != curKey) { curKey = r.station_id; has = false }
          val e = if (has) alpha * r.value + (1 - alpha) * prev else r.value
          prev = e; has = true
          Smoothed(r.station_id, r.timestamp, r.value, e)
        }
      }
  }

  /** Batch EWMA final value per key via the closed-form weighted sum.
    * Weights (1−α)^{n−k} ≤ 1 underflow gracefully for old rows, so this is
    * numerically stable at any history length and fully declarative (one
    * window + one aggregate, no sequential scan).
    */
  def batchFinal(df: DataFrame, key: String, order: Seq[String], valueCol: String,
      alpha: Double = 0.35): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(order.map(col): _*)
    val wk = Window.partitionBy(col(key))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wk))
      .withColumn("__w",
        when(col("__rn") === 1, pow(lit(1 - alpha), col("__n") - 1))
          .otherwise(lit(alpha) * pow(lit(1 - alpha), col("__n") - col("__rn"))))
      .groupBy(col(key))
      .agg(round(sum(col("__w") * col(valueCol)), 6).as("ewma"))
  }

  /** Streaming EWMA via flatMapGroupsWithState (SURVEY.md T6/D22). */
  def streaming(spark: SparkSession, input: Dataset[Reading],
      alpha: Double = 0.35): Dataset[Smoothed] = {
    import spark.implicits._
    input
      .groupByKey(_.station_id)
      .flatMapGroupsWithState[Double, Smoothed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Reading], state: GroupState[Double]) =>
          // micro-batches can carry several rows per key: fold in event
          // order at FULL microsecond precision — getTime truncates to ms
          // and would leave sub-ms ties in arrival order (the a180f4e
          // funnel/rate-spike fix; one shared conversion, not a re-roll).
          // value is the deterministic tie-break for same-microsecond
          // rows (the s10 oracle's recursive CTE orders by (ts, value)
          // identically); a (ts, value) tie is order-invariant — folding
          // equal values in either order yields the same output multiset
          val sorted = rows.toSeq
            .sortBy(r => (FunnelStream.micros(r.timestamp), r.value))
          var prev = state.getOption
          val out = sorted.map { r =>
            val e = prev.fold(r.value)(p => alpha * r.value + (1 - alpha) * p)
            prev = Some(e)
            Smoothed(key, r.timestamp, r.value, e)
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** The time-ordered staged input of [[drainParity]], also the
    * build-once fixture builder: the batch is sliced at exact percentile
    * boundaries of the event time and each slice written in its own
    * sequential job into `in` under an index-ordered name — ascending in
    * BOTH path and mtime, so the file source replays slices in time order
    * whichever it sorts by (UUID part names in one dir do not guarantee
    * that — observed reorders). coalesce(1) is harness-fidelity, not a
    * 100 TB shape: production ordered replay is a Kafka partition, not a
    * file queue.
    */
  def stageOrderedInput(spark: SparkSession, batch: DataFrame,
      in: String, inputFiles: Int = 2): Unit = {
    require(inputFiles >= 2,
      s"state must cross a micro-batch boundary: inputFiles >= 2, got $inputFiles")
    // persist: the percentile scan plus every slice filter re-reads this
    // frame — without the cache the upstream plan executes inputFiles+1
    // times inside the staging
    val shaped = shape(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = (1 until inputFiles).map(_.toDouble / inputFiles)
    val bounds = shaped
      .agg(percentile(unix_micros(col("timestamp")), lit(qs.toArray)).as("b"))
      .head().getSeq[Double](0).map(_.toLong)
    val edges = (Long.MinValue +: bounds) :+ Long.MaxValue
    val inPath = new org.apache.hadoop.fs.Path(in)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(inPath)
    edges.sliding(2).zipWithIndex.foreach { case (w, i) =>
      val tmp = s"${in}__slice_$i"
      shaped.filter(unix_micros(col("timestamp")) >= w(0) &&
          unix_micros(col("timestamp")) < w(1))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val parts = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmp/part-*"))
      if (parts.nonEmpty) // a degenerate percentile edge can leave a slice empty
        fs.rename(parts.head.getPath, new org.apache.hadoop.fs.Path(
          f"$in/slice-$i%03d.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    shaped.unpersist(false)
  }

  private def shape(batch: DataFrame): DataFrame =
    batch.select(
      col("station_id").cast("string").as("station_id"),
      col("timestamp"), col("value").cast("double").as("value"))

  /** T6's stateful streaming EWMA exercised end-to-end as an
    * ORACLE-CHECKABLE drain (the s08/s09 pattern, lifted to
    * order-sensitive state). Unlike dedup (order-free) and windows
    * (watermark-flushed), the EWMA fold depends on EVENT ORDER across
    * micro-batches, so the input files must replay in time order
    * ([[stageOrderedInput]]). Within a slice, [[streaming]]'s per-batch
    * sort handles row order; across slices the carried state does. The
    * drained sink then equals the batch recursive filter row for row
    * (`0.35·new + 0.65·prev`), which a DuckDB recursive CTE can restate —
    * the statement the oracle checks. The parity rounds at 3 decimals
    * (one past the data's 2): the two engines' 60-odd-step double folds
    * drift by ULPs (measured ~5e-11), and a 6-decimal rounding puts ~1 in
    * 10⁴ rows on a tie boundary where the engines round apart; at 1e-3
    * units the collision odds are ~1e-7 per row.
    */
  def drainParity(spark: SparkSession, batch: DataFrame,
      alpha: Double = 0.35, inputFiles: Int = 2,
      preparedIn: Option[String] = None): DataFrame = {
    import spark.implicits._
    Pipeline.drain(spark, "s10", shape(batch).schema, inputFiles, preparedIn)(
        stageOrderedInput(spark, batch, _, inputFiles)) { (stream, root) =>
      Pipeline.drainToParquet(streaming(spark, stream.as[Reading], alpha)
        .select(col("station_id"), unix_micros(col("timestamp")).as("ts_us"),
          col("value"), round(col("ewma"), 3).as("ewma")), root)
    }
  }
}
