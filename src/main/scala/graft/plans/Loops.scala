package graft.plans

import org.apache.spark.sql.SparkSession

import graft.streaming.Scoped

/** Execution-shape helpers for fixed-point loops (round 14, guide §1/§2).
  *
  * Every iterative operator in this repo (PageRank/HITS/label-propagation,
  * Sinkhorn scaling, Bradley–Terry MM, Dawid–Skene EM, pointer-jumping
  * connected components, k-means) drives its own per-round
  * materializations through `localCheckpoint(true)`. Under adaptive query
  * execution each shuffle stage of each round becomes its OWN scheduler
  * job: the round-14 structural profile measured 112 jobs for
  * x176_sinkhorn_residual and 111 for x231_bradley_terry at sf0.1 — at
  * ~25 ms of driver scheduling per job that is effectively the entire
  * query time, and none of it is data work.
  *
  * AQE exists to re-optimize UNKNOWN shapes mid-query. A fixed-point loop
  * is the opposite situation: the loop author knows the per-round frames
  * (checkpointed, shape-invariant across rounds — model vectors, kernel
  * spines, label frames), and re-planning the identical round plan every
  * iteration buys nothing while tripling the scheduler traffic. It also
  * de-stabilizes partition counts round to round (runtime coalescing),
  * which is exactly what prevents one round's output partitioning from
  * satisfying the next round's join/aggregate distribution. Pinning AQE
  * off for the LOOP BODY ONLY keeps partition counts equal to
  * `spark.sql.shuffle.partitions` every round, so exchanges that line up
  * round-over-round actually get elided — this is scale-independent: the
  * same reasoning holds on a 1000-executor cluster, where the loop sizes
  * its shuffle partitioning once (session conf) rather than letting each
  * round re-decide.
  *
  * The final returned frame of an operator executes OUTSIDE the scope
  * (callers' actions), so top-level queries still get AQE for their
  * surrounding plan.
  */
object Loops {

  /** Run `body` with `spark.sql.adaptive.enabled=false`, restoring the
    * previous value after. Conf mutation is session-global, so the flip
    * runs under [[graft.streaming.Scoped.conf]]'s one lock, which also
    * serializes it against drains. Re-entrant use (a loop composing
    * another loop, e.g. the entity-resolution closure inside the
    * incremental golden-record path) is safe: the inner scope sets
    * "false" to "false" and restores "false".
    */
  def withoutAqe[A](spark: SparkSession)(body: => A): A =
    Scoped.conf(spark, AqeKey -> "false")(body)

  /** Rows per post-shuffle partition a fixed-point round targets: loop
    * frames here are narrow (2–4 longs/strings per row), so 1M rows is
    * ~50–100 MB — the guide §2.2 advisory partition size. The SAME dial
    * AQE's `advisoryPartitionSizeInBytes` turns, just decided once per
    * loop instead of re-measured per stage.
    */
  val RowsPerPartition = 1000000L

  /** Shuffle-partition count for a loop over `rows`-row frames: enough
    * partitions to keep each under [[RowsPerPartition]], capped at the
    * session's configured parallelism (never MORE parallel than the
    * surrounding job, never a hard-coded constant). Scale-adaptive by
    * construction: sf0.1's ~10⁴-row label frames run 1-partition rounds
    * (what AQE would coalesce to anyway, minus its per-stage job), a
    * 10¹⁰-row frame on a cluster takes the full configured width.
    */
  def loopPartitions(spark: SparkSession, rows: Long): Int = {
    val sess = spark.conf.get(PartitionsKey).toInt
    val want = (rows + RowsPerPartition - 1) / RowsPerPartition
    math.max(1L, math.min(sess.toLong, want)).toInt
  }

  /** Run `body` (the per-round section of a fixed-point loop) with AQE
    * off AND `spark.sql.shuffle.partitions` pinned to
    * [[loopPartitions]](rows) — the loop-shape contract in one scope:
    * constant round plans, partition counts stable round-over-round
    * (so checkpointed output partitioning lines up with the next
    * round's requirement), and reduce width sized to the frames the
    * loop actually moves rather than to the session default. Nested
    * scopes (a loop composing another loop) re-pin for their own rows
    * and restore the outer pin on exit.
    */
  def fixedPoint[A](spark: SparkSession, rows: Long)(body: => A): A =
    // the outer scope only takes the lock, so the width is read from the
    // same conf the inner scope restores
    Scoped.conf(spark) {
      Scoped.conf(spark, AqeKey -> "false",
        PartitionsKey -> loopPartitions(spark, rows).toString)(body)
    }

  private val AqeKey = "spark.sql.adaptive.enabled"
  private val PartitionsKey = "spark.sql.shuffle.partitions"
}
