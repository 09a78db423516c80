package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * All parquet reads go through here so every query benefits from the same
  * source settings (vectorized parquet reader, filter pushdown, column
  * pruning are Spark defaults). At 100 TB these would be partitioned tables
  * behind a catalog; the single-parquet layout is a test-only detail — the
  * query code never assumes row counts or file layout.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The testdata's `ts` physical type has changed across driver rounds —
    * TIMESTAMP(NANOS) through r6, TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (= Spark's TIMESTAMP_NTZ) from r7 — so this loader normalizes BOTH to
    * a session-tz TimestampType in one place rather than teaching every
    * operator about parquet footer variants:
    *   - nanos: read as long (legacy conf) and `ts div 1000` in Long space
    *     (µs-aligned data, so the truncation is exact; a double division
    *     would lose precision above 2^53 ns);
    *   - NTZ: cast to TimestampType. All entry points pin
    *     `spark.sql.session.timeZone=UTC`, so the cast relabels the same
    *     instant — bit-exact, no wall-clock shift.
    * Downstream `unix_micros`/window arithmetic then always sees TIMESTAMP.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // nanosAsLong only needs to hold while the parquet footer is resolved
    // (schema is captured in the relation); scoped so a later nanos-typed
    // parquet read in the same session isn't silently re-typed
    val raw0 = graft.streaming.Scoped.conf(spark,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true")(load(spark, dir, "events"))
    // spread sized by INPUT BYTES, not core count (round 14, guide §2.2
    // "make partitioning scale-adaptive — derive from input size"): a
    // cluster reads events from a multi-file layout whose scan
    // parallelism follows data volume; the single-test-file repartition
    // emulates that split, so its width must track bytes too. Events
    // consumers are codegen arithmetic (no interpreted per-row kernels),
    // so below one partition's worth of bytes the emulation is a no-op
    // and the fixed-width repartition — measured at ~0.25 s of pure
    // shuffle overhead per bench query at sf0.1 — disappears (§2.4's
    // "accidental repartition(n) added for parallelism"). The avg-based
    // oracles are partition-order-robust (fixedPointAvg quantizes to
    // exact-integer sums, plain sums round at the data's own decimal
    // scale, corr/std/regr margins ≫ merge noise), re-verified at both
    // SFs after this change.
    val raw = spreadBySize(spark, raw0, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")

  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")

  /** documents/embeddings ship as ONE small parquet file → one input split
    * → one task, which serializes the interpreted higher-order text/vector
    * expressions. Spread rows across the cores; a real deployment gets this
    * parallelism from the file layout and needs no repartition. These two
    * tables keep the CORE-COUNT width (unlike [[spreadBySize]]): their
    * consumers run ~ms-per-row interpreted kernels, so the split is sized
    * to CPU, not bytes — measured round 14: tfidfTopK over documents is
    * 2.2× slower without it at sf0.1.
    */
  private def spread(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)

  /** Bytes of compressed parquet per emulated input split for tables
    * whose per-row work is plain codegen arithmetic (events): ~4 MB
    * compressed ≈ 16–32 MB raw — small enough that the 10× scale
    * replica still fans out, large enough that the sf0.1 file is ONE
    * partition and pays no shuffle at all.
    */
  private val SpreadBytesPerPartition = 4L * 1024 * 1024

  /** Scale-adaptive spread: width = ceil(input bytes / split bytes),
    * capped at the session's parallelism, floored at
    * min(parallelism, 4). The floor keeps a small multi-partition merge
    * tree in play at every scale factor — the partial-aggregate merge
    * coverage the fixed-width spread provided (and the exact partition
    * geometry the ≤4-core oracle-verify paths have always run, so the
    * small-SF correctness trees are unchanged by this round) — while
    * the cap stops the width from tracking core count on wide hosts,
    * where the measured cost of a 32-way repartition of a 2 MB table
    * was ~0.25 s of pure shuffle overhead per bench query.
    */
  private def spreadBySize(spark: SparkSession, df: DataFrame, dir: String,
      name: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val want = (fs.getContentSummary(p).getLength +
      SpreadBytesPerPartition - 1) / SpreadBytesPerPartition
    val dp = spark.sparkContext.defaultParallelism.toLong
    val parts = math.max(math.min(dp, 4L), math.min(dp, want)).toInt
    df.repartition(parts)
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    spread(spark, load(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spread(spark, load(spark, dir, "embeddings"))
}
