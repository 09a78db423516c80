package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Aggregates, Comparison, Correlation, Distribution, Evaluation, Graph, Ranking, Sessions, Temporal}
import graft.clean.Validation
import graft.dedup.{Decontaminate, Dedup}
import graft.features.Features
import graft.ingest.Sources
import graft.multimodal.{MediaHeaders, Multimodal}
import graft.normalize.ColumnDetect
import graft.physics.Power
import graft.similarity.Similarity
import graft.streaming.{Cusum, Ewma}
import graft.text.TextAnalysis
import graft.warehouse.StarSchema

/** Driver contract — one `queries` entry (plus a DuckDB `oracleSql` twin)
  * per operator from SURVEY.md §2 and per LLM-pipeline operator.
  *
  * Oracle-compat rules used throughout (see also `graft.Verify`):
  *  - every aggregate/computed column is aliased identically on both sides;
  *  - doubles produced by *arithmetic* are rounded (2 for sums of 2-dp data,
  *    6 for ratios/physics) so partial-agg merge order can't flip a bit;
  *    raw pass-through doubles are left exact;
  *  - oracle SQL mirrors the Spark expression tree's association order so
  *    per-row double math is bit-identical;
  *  - ints stay ints: Spark `size`/`hour`/`row_number` are 32-bit, DuckDB's
  *    are 64-bit, so oracles CAST accordingly.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" => Tables.events(s, dir)
    case "documents" => Tables.documents(s, dir)
    case "embeddings" => Tables.embeddings(s, dir)
    case _ => Tables.load(s, dir, name)
  }

  /** x191/x195 shared Fellegi–Sunter pieces (one definition behind the
    * model fit and its application, mirrored by the oracle's
    * FsWeightChain macro): the metadata fields scored for agreement, and
    * the deterministic offset-171 pair sample that estimates u.
    */
  private def fsFields: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "lang" -> col("lang"), "source" -> col("source"),
    "len_band" -> floor(col("n_chars") / 100),
    "tok1" -> element_at(TextAnalysis.tokens(col("text")), 1))

  private def fsOffsetPairs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b")),
        col("doc_b") === col("doc_a") + 171)

  /** x120/x123 dirty-registry fixture (ONE builder so the two faces and
    * the shared oracle can never drift): per entity a base record with an
    * md5-derived 9-char key (cross-entity distance-1 collisions ~absent;
    * when one occurs both engines see the same edge) plus up to two
    * single-deletion variants at different deterministic positions —
    * distance 1 OF BASE, typically 2 of each other, so only transitive
    * closure merges a full entity.
    */
  private def entityRegistry(s: SparkSession, dir: String): DataFrame = {
    val t = T(s, dir, "documents").filter(col("doc_id") < 2000)
      .select(col("doc_id"), concat(lit("u"),
        substring(md5(col("doc_id").cast("string")), 1, 8)).as("tok"))
    def del(k: org.apache.spark.sql.Column,
        p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat(k.substr(lit(1), p - 1), k.substr(p + 1, length(k) - p))
    val rval = (col("doc_id") % 97).cast("double")
    val base = t.select((col("doc_id") * 3).as("rid"),
      col("tok").as("rkey"), rval.as("rval"))
    val typo1 = t.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") * 3 + 1).as("rid"),
        del(col("tok"), (col("doc_id") % 9 + 1).cast("int")).as("rkey"),
        rval.as("rval"))
    val typo2 = t.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") * 3 + 2).as("rid"),
        del(col("tok"), ((col("doc_id") * 7 + 3) % 9 + 1).cast("int")).as("rkey"),
        rval.as("rval"))
    // materialize once: every consumer (x120/x123/x219/x226/x200/x206/
    // x211) evaluates this frame 2–4 times per query (variant explode per
    // join side, survivorship union, assignment join), and each lazy
    // evaluation re-pays the documents scan + its 32-way spread + the
    // 3-branch union — ~registry-sized rows, so the eager checkpoint is
    // one tiny job that replaces up to four table scans (round 14, guide
    // §2.4 "don't compute the same subtree twice"; the Dedup gram-frame
    // discipline). Values are exact (long ids, md5 keys, integer-valued
    // doubles), so materialization cannot move any oracle-checked number.
    // Width: the union inherits documents' core-count spread ×3 branches
    // (~96 partitions of ~60 rows each on a 32-core host), and every
    // consumer scan paid one task per partition — ~1000 scheduler tasks
    // per entity query for a frame the FIXTURE CONTRACT caps at 6000 rows
    // (doc_id < 2000, ≤3 variants). Size the layout to the data, not the
    // host (round 14, guide §2.2): the spreadBySize floor width keeps the
    // multi-partition merge coverage the verify paths always had while
    // cutting consumer scans to ≤4 tasks.
    base.union(typo1).union(typo2)
      .repartition(math.min(s.sparkContext.defaultParallelism, 4))
      .localCheckpoint(true)
  }

  private val fixtureLock = new Object

  /** Build-once / rename-publish a fixture table under target/fixtures/:
    * the bench's min-of-3 then times the read path (pass 1 pays the
    * one-off build), and Verify builds it on first touch. Returns the
    * published path; see [[materializeStagedFixture]] for the publish and
    * the cache key.
    */
  private def materializeFixture(s: SparkSession, name: String, dir: String)(
      build: => DataFrame): String =
    materializeStagedFixture(s, name, dir)(
      tmp => build.write.mode("overwrite").parquet(tmp))

  /** x123's persisted-oldPairs fixture: in production the previous run's
    * match edges are a STORED table (the `goldenRecordsDelta` contract —
    * "persist oldPairs ∪ deltaPairs for the next increment"), so the
    * delta face must price deltaPairs + closure + survivorship, not the
    * re-derivation of old edges it would never do. A stale fixture fails
    * x123's oracle loudly (it is x120's SQL verbatim), it cannot pass
    * silently.
    */
  private def oldPairsFixture(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(materializeFixture(s, "x123_oldpairs", dir) {
      graft.analytics.Entities.matchEdges(
        entityRegistry(s, dir).filter(col("rid") % 2 === 0),
        col("rid"), col("rkey"))
    })

  /** x123's persisted-assignments fixture: the previous run's
    * `(rid, entity_id)` partition, published alongside its golden records
    * (the `goldenRecordsIncremental` contract) — so the delta face's
    * closure runs only over the subgraph the increment touches, and the
    * identical closure+survivorship x120 already prices is not re-run
    * corpus-wide here (round-13 verdict item 4). Staleness fails x123's
    * oracle loudly: the oracle is x120's SQL verbatim.
    */
  private def oldAssignmentsFixture(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(materializeFixture(s, "x123_oldassign", dir) {
      graft.analytics.Entities.entityAssignments(
        entityRegistry(s, dir).filter(col("rid") % 2 === 0),
        col("rid"), col("rkey"))
    })

  /** x219's persisted previous-run state: edges + assignments for the
    * 15/16 "old" corpus slice, so the small-increment face prices what a
    * production nightly increment actually runs — delta candidates over
    * the 1/16 arrival plus a closure over only the touched subgraph.
    */
  private def incrementFixtures(s: SparkSession, dir: String):
      (DataFrame, DataFrame) = {
    def old = entityRegistry(s, dir).filter(col("rid") % 16 =!= 7)
    (s.read.parquet(materializeFixture(s, "x219_oldpairs", dir) {
      graft.analytics.Entities.matchEdges(old, col("rid"), col("rkey"))
    }),
      s.read.parquet(materializeFixture(s, "x219_oldassign", dir) {
        graft.analytics.Entities.entityAssignments(old, col("rid"), col("rkey"))
      }))
  }

  /** x209/x225's shared perturbed corpus (one builder so the ladder and
    * the saturation estimate can never drift from the oracle's base
    * CTE): documents ∪ exact copies (%17) ∪ upper-cased (%7) ∪
    * space-doubled (%11) ∪ '!!'-suffixed (%13).
    */
  private def perturbedCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
    d.select(col("text"))
      .union(d.filter(col("doc_id") % 17 === 0).select(col("text")))
      .union(d.filter(col("doc_id") % 7 === 0).select(upper(col("text"))))
      .union(d.filter(col("doc_id") % 11 === 0)
        .select(regexp_replace(col("text"), " ", "  ")))
      .union(d.filter(col("doc_id") % 13 === 0)
        .select(concat(col("text"), lit("!!"))))
  }

  /** x234/x235's shared synthetic rater panel (one builder so the
    * per-item and per-rater faces can never drift from the oracle's
    * `vt` CTE): r1/r2 label the doc language reliably with sporadic
    * 'zz' abstain-noise (%7/%5), r3 is systematically useless ('zz'
    * except %3).
    */
  private def dsVotes(s: SparkSession, dir: String): DataFrame = {
    val d = T(s, dir, "documents").select(col("doc_id"), col("lang"))
    def rater(name: String, lab: org.apache.spark.sql.Column) =
      d.select(col("doc_id").as("item"), lit(name).as("rater"),
        lab.as("lab"))
    rater("r1", when(col("doc_id") % 7 === 0, lit("zz"))
        .otherwise(col("lang")))
      .union(rater("r2", when(col("doc_id") % 5 === 0, lit("zz"))
        .otherwise(col("lang"))))
      .union(rater("r3", when(col("doc_id") % 3 === 0, col("lang"))
        .otherwise(lit("zz"))))
  }

  /** The shared bulk drain input of s08, s12 and s13: the 5-column
    * events projection, materialized ONCE per sf dir as 2 part files by
    * the drains' own bulk stager (= 2 micro-batches, so state still
    * crosses a batch boundary). Sharing it prices the drains on their
    * stateful work, not on rebuilding an identical write stage; each
    * drain streams it read-only. The sentinel'd drains (s09/s17, s11,
    * s15) and s10's ordered slices have fixtures of their own.
    */
  private def drainInputFixture(s: SparkSession, dir: String): String =
    materializeStagedFixture(s, "drain_events", dir) {
      graft.streaming.Pipeline.stageBulkInput(drainEventsFrame(s, dir), _, 2)
    }

  /** The 5-column events projection every file-source drain streams —
    * one definition so the fixture schema and each drain's declared
    * `batchDf` schema can never drift.
    */
  private def drainEventsFrame(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))

  /** Where a fixture built from the tables under `dir` is cached: keyed by
    * the directory's name AND by the identity of its input files (relative
    * name, length and modification time of every file under it), so a
    * changed input under an unchanged path builds a fresh fixture instead
    * of reading a stale one. A listing, not a content hash: the key costs
    * one directory walk, not a read of the tables. A change to a builder's
    * CODE is not in the key: delete target/fixtures/ then — every fixture
    * feeds an oracle-checked face, so a stale one fails loudly.
    */
  private def fixturePath(s: SparkSession, name: String, dir: String): String = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(dirPath)
    def files(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) files(st.getPath)
        else Seq(s"${root.toUri.relativize(st.getPath.toUri)}:${st.getLen}:" +
          st.getModificationTime)
      }
    val identity = scala.util.hashing.MurmurHash3.seqHash(files(root).sorted)
    s"target/fixtures/${name}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
      f"$identity%08x"
  }

  /** Build-once / rename-publish a fixture DIRECTORY under
    * [[fixturePath]]. `stage` writes the final file layout into a scratch
    * path: a DataFrame write ([[materializeFixture]]), or drain inputs whose
    * file names/order are load-bearing — the sentinel must sort last, the
    * EWMA slices must sort in time order. The explicit _SUCCESS marker is
    * touched only after `stage` returns, so a crashed build is retried,
    * never half-read. The lock serializes threads in THIS JVM; against a
    * concurrent second process each builder writes to a process-unique
    * scratch path and atomically RENAMES it into place (first rename wins,
    * losers read the winner's output) — an overwrite-in-place would let
    * process B's job delete process A's in-flight files.
    */
  private def materializeStagedFixture(s: SparkSession, name: String,
      dir: String)(stage: String => Unit): String = {
    val path = fixturePath(s, name, dir)
    fixtureLock.synchronized {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(path + "/_SUCCESS"))) {
        val tmp = path + s"__tmp_${java.lang.ProcessHandle.current().pid()}"
        val (tmpP, dstP) = (new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(path))
        fs.delete(tmpP, true)
        stage(tmp)
        fs.create(new org.apache.hadoop.fs.Path(tmp + "/_SUCCESS"), true)
          .close()
        if (fs.exists(dstP) || !fs.rename(tmpP, dstP))
          fs.delete(tmpP, true)
        val nested = new org.apache.hadoop.fs.Path(dstP, tmpP.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
      }
    }
    path
  }

  /** Flagship query on sf=0.001 (SURVEY.md §7 step 1): clean (P3-P5) →
    * time features (D1-D6) → multi-metric per-group aggregate (A2/A4) over
    * the `events` telemetry analog.
    */
  def entry(spark: SparkSession): DataFrame = {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumnRenamed("ts", "timestamp")
      .withColumnRenamed("event_type", "station_id")
    val cleaned = graft.streaming.Pipeline.transform(
      ev, Map("value" -> (0.0, 1000.0)), Map("value" -> 0.0), streaming = false)
    Aggregates.groupedStats(cleaned,
      Seq(col("station_id"), col("time_of_day")),
      Seq(count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("sum_value"),
        round(avg(col("value")), 6).as("avg_value")))
  }

  // deterministic hyperplanes shared by x10/x11 and their oracles
  private val Planes8 = Similarity.deterministicPlanes(8, 64)
  private val Planes6 = Similarity.deterministicPlanes(6, 64, seed = 7L)
  // JL projection planes shared by x58 and its oracle
  private[graft] val PlanesJL = Similarity.deterministicPlanes(16, 64, seed = 13L)

  // split weights / stratum fractions shared by x19/x20 and their oracles
  val TrainSplit: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  val StratFractions: Map[String, Double] =
    Map("view" -> 0.05, "click" -> 0.2, "purchase" -> 1.0, "error" -> 1.0)

  // BM25 query terms / Z-order bit width / token budget / label-prop
  // rounds shared with oracles (single source of truth on both sides)
  val Bm25Terms: Seq[String] = Seq("vector", "hash", "stream")
  val ZBits: Int = 10
  val TokenBudget: Long = 15000L
  val CommunityRounds: Int = 4
  // HITS synchronous rounds (x141) — shared with the unrolled oracle CTEs
  val HitsRounds: Int = 3
  // x145 power-iteration dials, shared with the unrolled oracle CTEs
  // (scale 10⁵ is the documented overflow budget: d·10⁶·scale² < 2⁶³)
  val PcaRounds: Int = 3
  val PcaScale: Long = 100000L
  // personalized-PageRank seed domains (x95) — must exist in the x62
  // co-citation graph; shared with the oracle
  val PprSeeds: Seq[String] = Seq("cdn.example.net", "site0.example.com")
  // x104 recall-audit dial — a target SAMPLED-ROW count, not a corpus
  // fraction: the exhaustive truth side is QUADRATIC in the sampled rows,
  // so a fixed bucket fraction grows as corpus² (measured 72.6× on the
  // 10× sf1 replica). 1000 rows keeps today's sf0.1 sample exactly (5000
  // docs → 2000 of 10000 buckets) while corpora ≤1000 docs clamp to the
  // whole corpus (sf0.01's 500 docs → all buckets — safely above the
  // truth-pair-extinction floor, since sampling MORE docs keeps MORE
  // pairs). Both sides derive buckets = clamp(ceil(target·B / count), 1,
  // B) with integer arithmetic; the oracle mirrors it as a BIGINT
  // floor-division scalar subquery. Shared with the oracle.
  val RecallTargetRows: Long = 1000L
  // x122 matryoshka prefix widths (last = full width of the embeddings
  // table, so the curve ends at recall 1.0 by construction)
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 64)
  // x135 fractional epoch factors (unlisted sources train 1 epoch);
  // dials precomputed at the driver so the oracle renders the same
  // integers (Sampling.epochDials)
  val EpochFactors: Map[String, Double] =
    Map("src0" -> 3.5, "src1" -> 0.25, "src2" -> 2.0)
  // x121 mojibake fixture: damaged suffixes injected on two residue
  // classes. A: "cafÃ© naÃ¯ve â€”" (2×Ã + 1×â€ = 3 hits); B: "donâ€™t Â 5 �"
  // (1×â€ + 1×Â + 1×U+FFFD = 3 hits). Escapes pin the exact codepoints;
  // shared with the oracle so both engines inject byte-identical text
  val MojibakeSuffixA: String =
    " cafÃ© naÃ¯ve â€” ok"
  val MojibakeSuffixB: String =
    " donâ€™t Â 5 �"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── P: projection / filter / cleaning ────────────────────────────────
    "p01_project" -> ((s, dir) => {
      val li = Validation.requireColumns(T(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_quantity"))
      li.filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),
    "p02_coerce" -> ((s, dir) => {
      val dirty = T(s, dir, "events").withColumn("dirty",
        when(col("event_id") % 7 === 0, col("props"))
          .otherwise(col("value").cast("string")))
      Validation.coerceNumeric(dirty, Seq("dirty"))
        .select(col("event_id"), col("dirty").as("coerced"))
    }),
    "p03_range_filter" -> ((s, dir) =>
      Validation.rangeFilter(T(s, dir, "lineitem"),
          Map("l_quantity" -> (10.0, 40.0), "l_discount" -> (0.02, 0.08)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_discount"))),
    "p04_fill_defaults" -> ((s, dir) => {
      val withNulls = T(s, dir, "events").withColumn("v",
        when(col("event_type") === "error", lit(null).cast("double"))
          .otherwise(col("value")))
      Validation.fillDefaults(withNulls, Map("v" -> -1.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("v")), 2).as("sum_v"))
    }),
    "p05_dedup_first" -> ((s, dir) =>
      Validation.dedupeFirst(T(s, dir, "events"), Seq("user_id"),
          Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("value"))),
    "p06_flag_filter" -> ((s, dir) =>
      T(s, dir, "events").withColumn("is_valid", col("value") > 100)
        .filter(col("is_valid"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))),
    "p07_station_filter" -> ((s, dir) =>
      T(s, dir, "events").filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))),
    "p08_time_filter" -> ((s, dir) =>
      T(s, dir, "events")
        .filter(col("ts") >= to_timestamp(lit("2024-01-20 00:00:00")))
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))),
    "p15_dead_letter" -> ((s, dir) => {
      val rules = Seq(
        "value_range" -> col("value").between(0.0, 450.0),
        "not_error" -> (col("event_type") =!= "error"))
      Validation.withRejectReason(T(s, dir, "events"), rules)
        .filter(col("reject_reason").isNotNull)
        .groupBy(col("reject_reason"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value")), 2).as("sum_value"))
    }),
    "p10_normalize_rename" -> ((s, dir) => {
      val odd = T(s, dir, "events").select(
        col("ts").as("record_time"), col("event_type").as("site_id"),
        col("value").as("power_kw"), (col("value") * 0.1).as("volt_lvl"),
        (col("value") * 0.05).as("amps"))
      val canon = ColumnDetect.normalizeSolar(odd)
      canon.groupBy(col("station"))
        .agg(round(sum(col("power_output")), 2).as("total_power"),
          // voltage = 2-dp value x 0.1 -> 3-dp exact; quantize at 3
          round(Aggregates.fixedPointAvg(col("voltage"), 3), 6).as("avg_volt"),
          count(lit(1)).as("cnt"))
    }),
    "p12_limit" -> ((s, dir) =>
      T(s, dir, "orders").orderBy(col("o_orderkey")).limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),
    "p13_last_n_per_key" -> ((s, dir) =>
      Ranking.lastNPerKey(T(s, dir, "events"), Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), 3)
        .select(col("user_id"), col("event_id"), col("rn"))),
    "p14_latest_per_key" -> ((s, dir) =>
      Ranking.lastPerKey(T(s, dir, "events"), Seq(col("event_type")),
          Seq(col("ts"), col("event_id")))
        .select(col("event_type"), col("event_id"), col("value"))),

    // ── D: derived columns ───────────────────────────────────────────────
    "d01_local_time" -> ((s, dir) =>
      T(s, dir, "events")
        .select(hour(Features.localTimestamp(col("ts"))).as("local_hour"))
        .groupBy(col("local_hour")).agg(count(lit(1)).as("cnt"))),
    "d02_sanitize_ts" -> ((s, dir) => {
      val dirty = T(s, dir, "events").withColumn("raw_ts",
        when(col("event_id") % 3 === 0,
          concat(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), lit("+00:00")))
          .when(col("event_id") % 3 === 1,
            date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))
          .otherwise(concat(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), lit(" UTC"))))
      dirty.select(col("event_id"),
        unix_timestamp(Sources.sanitizeTimestamp(col("raw_ts"))).as("epoch_s"))
    }),
    "d03_time_features" -> ((s, dir) => {
      val f = T(s, dir, "events")
        .withColumn("hour", Features.hourOf(col("ts")))
        .withColumn("day_of_week", Features.dayOfWeekName(col("ts")))
        .withColumn("time_of_day", Features.timeOfDay(col("hour")))
      f.groupBy(col("hour"), col("day_of_week"), col("time_of_day"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "d06_validity_flag" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("a", when(col("value") > 300, lit(null).cast("double"))
          .otherwise(col("value")))
        .withColumn("is_valid", Features.isValid(col("a"), col("props")))
        .groupBy(col("is_valid")).agg(count(lit(1)).as("cnt"))),
    "d07_wind_power_density" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .withColumn("wpd", Features.windPowerDensity(
          lit(1.0) + col("l_tax"), col("l_quantity") / 10.0))
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("wpd")), 2).as("sum_wpd"))),
    "d08_capacity_utilization" -> ((s, dir) =>
      T(s, dir, "events")
        // scale 6: the ratios are exact 3-4dp decimals, so rounding at 2
        // sits on the half-boundary and engines disagree; 6 is unambiguous
        .withColumn("cap_util", Features.capacityUtilization(col("value"),
          col("event_type"), Map("click" -> 500.0, "view" -> 400.0,
            "purchase" -> 380.0, "signup" -> 360.0, "error" -> 350.0),
          scale = 6))
        .groupBy(col("event_type"))
        // 6-dp-exact per-row values -> quantize at 6 for an order-free mean
        .agg(round(Aggregates.fixedPointAvg(col("cap_util"), 6), 6).as("avg_util"))),
    "d09_hub_air_density" -> ((s, dir) =>
      T(s, dir, "events").select(col("event_id"),
        round(Power.hubWindSpeed(col("value") / 50.0), 6).as("hub_mps"),
        round(Power.airDensity(lit(1000.0) + col("value") / 10.0,
          col("value") / 20.0), 6).as("density"))),
    "d11_turbine_power_curve" -> ((s, dir) =>
      T(s, dir, "events").select(col("event_id"),
        round(Power.turbinePowerKw(lit(1.225), col("value") / 12.0), 4)
          .as("power_kw"))),
    "d11_curve_native" -> ((s, dir) => {
      // the custom codegen Expression, registered as a SQL function on the
      // live session and invoked through the SQL surface
      org.apache.spark.sql.graftbridge.ColumnBridge.registerFunction(s,
        graft.plans.GraftExtensions.turbinePower)
      T(s, dir, "events").createOrReplaceTempView("graft_events")
      s.sql("""SELECT event_id,
        round(turbine_power_kw(1.225D, value / 12.0D), 4) AS power_kw
        FROM graft_events""")
    }),
    "d12_farm_energy" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .withColumn("farm_kw", Power.farmPowerKw(
          col("l_extendedprice") / 1000.0, col("l_linenumber")))
        .withColumn("energy", Power.energyKwh10min(col("farm_kw")))
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("energy")), 2).as("sum_energy"))),
    "d13_solar_power" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .withColumn("irr", Power.irradianceFromClouds(col("value") / 5.0))
        .withColumn("eff", Power.effectiveEfficiency(col("value") / 10.0))
      // eff is an exact 9-dp decimal (0.18 - 8.1e-7*k): round at 9, where
      // the decimal is representable, never at 6, where k=50 mod 100 rows
      // sit exactly on the half-boundary
      ev.select(col("event_id"), round(col("irr"), 6).as("irradiance"),
        round(col("eff"), 9).as("efficiency"),
        round(Power.solarPowerKw(col("irr"), col("eff"), lit(1000.0)), 4)
          .as("power_kw"))
    }),
    "d16_daytime_gate" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("gated", Power.gateDaytime(col("value"), hour(col("ts"))))
        .groupBy(col("event_type"))
        .agg(round(sum(col("gated")), 2).as("sum_gated"))),
    "d17_power_from_vi" -> ((s, dir) =>
      T(s, dir, "lineitem")
        .withColumn("p", Power.powerFromVI(col("l_extendedprice"), col("l_quantity")))
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("p")), 2).as("sum_power"))),
    "d18_power_coefficient" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("pc", Power.powerCoefficient(col("value"), col("value") / 30.0))
        .groupBy(col("event_type"))
        .agg(round(avg(col("pc")), 4).as("avg_pc"))),
    "d19_wind_class" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumn("wind_class", Features.windClass(col("value") / 5.0))
        .groupBy(col("wind_class")).agg(count(lit(1)).as("cnt"))),
    "d20_round" -> ((s, dir) =>
      // D20 presentation rounding — denominators chosen non-terminating
      // (7, 9) or finer than the data's 2dp (x1.37 -> 4dp) so the rounded
      // value never sits on a cross-engine half-boundary
      T(s, dir, "events").select(col("event_id"),
        round(col("value") / 7.0, 3).as("r3"),
        round(col("value") / 9.0, 4).as("r4"),
        round(col("value") * 1.37, 6).as("r6"))),
    "d21_simulator" -> ((s, _) =>
      graft.ingest.Simulator.solarTicks(s, 2000)),
    "d22_ewma_batch" -> ((s, dir) =>
      Ewma.batchFinal(T(s, dir, "events"), "event_type",
        Seq("ts", "event_id"), "value")),
    "d23_prettify" -> ((s, dir) =>
      T(s, dir, "events").select(col("event_type")).distinct()
        .select(col("event_type"), Features.prettify(col("event_type")).as("label"))),

    // ── A: aggregations ──────────────────────────────────────────────────
    "a01_global_stats" -> ((s, dir) =>
      Aggregates.globalStats(T(s, dir, "lineitem"), Seq(
        round(sum(col("l_extendedprice")), 2).as("sum_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        max(col("l_quantity")).as("max_qty"),
        count(lit(1)).as("cnt")))),
    "a02_group_stats" -> ((s, dir) =>
      Aggregates.groupedStats(T(s, dir, "lineitem"),
        Seq(col("l_returnflag"), col("l_linestatus")),
        Seq(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          max(col("l_quantity")).as("max_qty"),
          count(lit(1)).as("cnt")))),
    "a02_salted_sum" -> ((s, dir) =>
      // skew-safe two-phase sum — must equal the plain grouped sum
      Aggregates.saltedSum(T(s, dir, "lineitem"), col("l_returnflag"),
        col("l_orderkey"), col("l_quantity"), saltBuckets = 16,
        outName = "sum_qty")),
    "a03_hourly_agg" -> ((s, dir) =>
      Aggregates.groupedStats(T(s, dir, "events"),
        Seq(hour(col("ts")).as("hour")),
        Seq(round(sum(col("value")), 2).as("sum_value"),
          count(lit(1)).as("cnt")))),
    "a16_low_power_alerts" -> ((s, dir) =>
      graft.analytics.Alerts.lowPower(T(s, dir, "events"),
          Seq(col("event_type")), Seq(col("ts"), col("event_id")),
          col("value"), thresholdKw = 100.0)
        .select(col("event_type"), col("event_id"), col("value"),
          col("alert"), col("threshold_kW"))),
    "a05_capacity_factor" -> ((s, dir) =>
      Aggregates.capacityFactor(T(s, dir, "events"),
        col("event_type"), col("value"), valueScale = 2)),
    "a06_category_counts" -> ((s, dir) =>
      Distribution.countPerCategory(T(s, dir, "events"), col("event_type"))),
    "a07_distinct_count" -> ((s, dir) =>
      Distribution.distinctPerGroup(T(s, dir, "events"),
        col("event_type"), col("user_id"))),
    "a07_approx_distinct" -> ((s, dir) =>
      Distribution.approxDistinctWithinTolerance(T(s, dir, "events"),
        col("event_type"), col("user_id"))),
    "a19_cms_frequency" -> ((s, dir) =>
      Distribution.cmsFrequencyReport(T(s, dir, "events"), col("event_type"))),
    // incremental distinct: the stream split into two halves, each
    // sketched independently, sketches merged — within 5% of the exact
    // distinct over the union (mergeable-state face of a07)
    "a21_hll_merge" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      Distribution.hllMergeReport(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0), col("event_type"), col("user_id"))
    }),
    // mergeable KLL quantile sketches: two disjoint halves sketched
    // independently, sketches merged, each quantile estimate rank-checked
    // against the exact union (mergeable-state face of a08, the a21
    // pattern for quantiles)
    "a24_quantile_merge" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      Distribution.quantileMergeReport(ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0), col("event_type"), col("value"))
    }),
    // three per-day-shard partial rollups merged ≡ a one-shot aggregate
    // over the union — incremental MV maintenance, no rescan
    "a29_rollup_merge" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      def part(m: Int) = Aggregates.partialRollup(
        ev.filter(col("event_id") % 3 === m), col("event_type"), col("value"))
      Aggregates.finishRollup(
        Aggregates.mergeRollups(part(0), part(1), part(2)))
        .withColumnRenamed("key", "event_type")
    }),
    // per-type autocorrelation of the value series at lags 1..3 (one
    // window pass computes all lags; event_id breaks ts ties so the
    // series order is total) — the seasonality/persistence probe
    "a30_autocorr" -> ((s, dir) =>
      Correlation.autocorrelation(T(s, dir, "events"), col("event_type"),
          Seq(col("ts"), col("event_id")), col("value"), maxLag = 3)
        .withColumnRenamed("key", "event_type")),
    // ordered view→click→purchase funnel per user: stage i qualifies only
    // at-or-after the user's earliest qualifying stage i-1 event
    "a31_funnel" -> ((s, dir) =>
      graft.analytics.Funnel.funnel(T(s, dir, "events"), col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase"))),
    // 16 equal-population value bins via the exact distributed rank —
    // the quantile-binned histogram a fixed-width a09 can't give on skew
    "a27_equidepth_hist" -> ((s, dir) =>
      Distribution.equiDepthHistogram(T(s, dir, "events"), col("event_id"),
        col("value"), bins = 16)),
    // interior silences > 6 h per user — the downtime complement of
    // a18's sessionization; micros-precision bounds, gap-sized output
    "a26_sensor_gaps" -> ((s, dir) =>
      Temporal.gaps(T(s, dir, "events"), "user_id", "ts",
          minGapSeconds = 21600, order = Seq("event_id"))
        .select(col("user_id"),
          unix_micros(col("gap_start")).as("gap_start_us"),
          unix_micros(col("gap_end")).as("gap_end_us"), col("gap_secs"))),
    // two-sided CUSUM drift per user over the event stream; value
    // quantized to centi-units so every running statistic is an
    // integer-valued double — EXACT in any summation order (the x62
    // fixed-point discipline), hence bit-stable against the oracle
    "a25_cusum_drift" -> ((s, dir) =>
      Cusum.batch(
          T(s, dir, "events").select(col("user_id"), col("ts"),
            col("event_id"), round(col("value") * 100, 0).as("vq")),
          col("user_id"), Seq(col("ts"), col("event_id")), col("vq"),
          target = 5000.0, slack = 1000.0, threshold = 20000.0)
        .select(col("user_id"), unix_timestamp(col("ts")).as("ts_s"),
          col("event_id"), col("vq").cast("long").as("value_centi"),
          col("cusum_hi").cast("long").as("cusum_hi"),
          col("cusum_lo").cast("long").as("cusum_lo"), col("drift"))),
    "a08_describe" -> ((s, dir) =>
      Aggregates.describe(T(s, dir, "events"), col("event_type"), col("value"),
        valueScale = 2)),
    "a09_histogram" -> ((s, dir) =>
      Distribution.histogram(T(s, dir, "events"), col("value"), 25.0,
        Seq(col("event_type")))),
    "a10_corr" -> ((s, dir) =>
      Correlation.corrByGroup(T(s, dir, "events"), col("event_type"),
        col("value"), hour(col("ts")))),
    "a11_corr_matrix" -> ((s, dir) =>
      Correlation.corrMatrix(T(s, dir, "events"), to_date(col("ts")),
        col("event_type"), col("value"), valueScale = 2)),
    "a12_linear_trend" -> ((s, dir) =>
      Correlation.linearTrend(T(s, dir, "events"), col("event_type"),
        hour(col("ts")), col("value"))),
    "a13_pivot_wide" -> ((s, dir) =>
      Correlation.pivotWide(T(s, dir, "events"), to_date(col("ts")).as("date"),
        col("event_type"), Seq("click", "error", "purchase", "signup", "view"),
        round(Aggregates.fixedPointAvg(col("value"), 2), 6))),
    "a14_tumbling_window" -> ((s, dir) =>
      Aggregates.tumblingAgg(T(s, dir, "events"), col("ts"), "1 hour",
          Seq(round(sum(col("value")), 2).as("sum_value"),
            count(lit(1)).as("cnt")))
        .select(unix_timestamp(col("window_start")).as("ws"),
          col("sum_value"), col("cnt"))),
    // report-by-exception compaction: keep a user's event only when its
    // type changed from the previous row (first row always kept)
    "p16_debounce" -> ((s, dir) =>
      Validation.debounce(T(s, dir, "events"), Seq("user_id"),
          Seq(col("ts").asc, col("event_id").asc), Seq(col("event_type")))
        .select(col("event_id"), col("user_id"), col("event_type"))),
    // exact distinct users per hopping window — the windowed face of a07
    // (the 5%-sketch property stays with a07/a21, where per-key counts
    // are large enough for the HLL bound to be meaningful; at ~5 users a
    // window, ±1 is already 20%)
    "a35_window_distinct" -> ((s, dir) =>
      Aggregates.hoppingAgg(T(s, dir, "events"), col("ts"), "1 hour",
          "30 minutes", Nil,
          Seq(countDistinct(col("user_id")).as("exact_users")))
        .select(unix_timestamp(col("window_start")).as("ws"),
          col("exact_users"))),
    // 1 h windows hopping every 30 min: every event in exactly two
    // windows — the overlapping face beside a14's tumbling one
    "a34_hopping_window" -> ((s, dir) =>
      Aggregates.hoppingAgg(T(s, dir, "events"), col("ts"), "1 hour",
          "30 minutes", Seq(col("event_type")),
          Seq(round(sum(col("value")), 2).as("sum_value"),
            count(lit(1)).as("cnt")))
        .select(unix_timestamp(col("window_start")).as("ws"),
          col("event_type"), col("sum_value"), col("cnt"))),
    "a18_sessions" -> ((s, dir) =>
      Sessions.sessionize(
          T(s, dir, "events")
            .select(col("user_id"), col("ts"), col("event_id"), col("value")),
          "user_id", "ts", gapSeconds = 1800, order = Seq("event_id"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(unix_timestamp(min(col("ts"))).as("session_start"),
          unix_timestamp(max(col("ts"))).as("session_end"),
          count(lit(1)).as("cnt"),
          round(sum(col("value")), 2).as("sum_value"))),
    "a15_power_curve_table" -> ((s, _) =>
      s.range(0, 100).select(col("id"),
        round(Power.turbinePowerKw(lit(1.225),
          col("id").cast("double") * 0.4), 4).as("power_kw"))),

    // ── J: joins / set ops ───────────────────────────────────────────────
    "j01_union" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      li.filter(col("l_returnflag") === "A")
        .unionByName(li.filter(col("l_returnflag") === "R"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),
    "j02_extend_columns" -> ((s, dir) =>
      T(s, dir, "events")
        .withColumns(Map("v2" -> col("value") * 2.0, "high" -> (col("value") > 100)))
        .groupBy(col("high"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("v2")), 2).as("sum_v2"))),
    "j03_broadcast_lookup" -> ((s, dir) => {
      import s.implicits._
      val dim = Seq(("click", 1.0), ("view", 0.5), ("purchase", 5.0),
        ("signup", 2.0), ("error", 0.0)).toDF("event_type", "weight")
      T(s, dir, "events").join(broadcast(dim), Seq("event_type"))
        .groupBy(col("event_type"))
        // value x weight is 3-dp exact (weights are halves); round-to-int
        // at 3dp -> exact integer sums at any merge order, one division
        .agg(round(sum(round(col("value") * col("weight") * 1000.0)) / 1000.0, 2)
          .as("weighted_sum"),
          count(lit(1)).as("cnt"))
    }),
    "j04_aligned_join" -> ((s, dir) =>
      Correlation.pivotWide(T(s, dir, "events"), to_date(col("ts")).as("date"),
          col("event_type"), Seq("click", "purchase"),
          round(Aggregates.fixedPointAvg(col("value"), 2), 6))
        .na.drop()),
    "j05_star_schema" -> ((s, dir) => {
      val cust = T(s, dir, "customer")
      val dimCust = StarSchema.buildDim(cust, Seq(col("c_custkey")),
        Seq(col("c_name"), col("c_mktsegment")), "customer_key")
      val ordersRaw = T(s, dir, "orders")
        .withColumn("date", to_date(col("o_orderdate")))
      val dimDate = StarSchema.buildDateDim(ordersRaw, col("o_orderdate"))
      val fact = StarSchema.buildFact(
        ordersRaw.withColumnRenamed("o_custkey", "c_custkey"),
        Seq((dimCust, Seq("c_custkey"), "customer_key"),
          (dimDate, Seq("date"), "date_key")),
        Seq("o_orderkey", "o_totalprice"))
      // dimCust scales with the corpus (one row per customer) — no forced
      // broadcast, AQE decides; dimDate is calendar-bounded, so its hint
      // is safe at any scale
      fact.join(dimCust.select(col("customer_key"), col("c_mktsegment")),
          Seq("customer_key"))
        .join(broadcast(dimDate.select(col("date_key"), col("year"))), Seq("date_key"))
        .groupBy(col("c_mktsegment"), col("year"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"),
          countDistinct(col("customer_key")).as("n_cust"))
    }),
    "j06_source_diff" -> ((s, dir) =>
      Comparison.sourceDiff(
        T(s, dir, "events").filter(col("event_type").isin("click", "view")),
        "user_id", "event_type", "click", "view", Seq("value"),
        Seq(col("ts"), col("event_id")))),
    "j07_asof_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      Temporal.asofJoin(clicks, purchases, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("t"), col("value"),
          unix_timestamp(col("asof_ts")).as("purchase_t"),
          col("asof_purchase_value").as("purchase_value"))
    }),
    "j07_asof_forward" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      Temporal.asofJoin(clicks, purchases, "user_id", "ts",
          direction = "forward")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("t"),
          unix_timestamp(col("asof_ts")).as("purchase_t"),
          col("asof_purchase_value").as("purchase_value"))
    }),
    "j07_asof_salted" -> ((s, dir) => {
      // identical semantics to j07_asof_join (same oracle SQL), via the
      // skew-safe variant: left rows salted 8 ways by event_id, right side
      // replicated per bucket — result must be row-identical
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      Temporal.asofJoinSalted(clicks, purchases, "user_id", "ts",
          saltSource = Seq("event_id"), saltBuckets = 8)
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("t"), col("value"),
          unix_timestamp(col("asof_ts")).as("purchase_t"),
          col("asof_purchase_value").as("purchase_value"))
    }),
    "j08_range_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      // every click within 30 minutes after an error by the same user
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          col("ts").as("error_ts"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("until_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
      Temporal.rangeJoin(clicks, errors, "user_id", "ts",
          "error_ts", "until_ts", grainSeconds = 600)
        .select(col("user_id"), col("click_id"), col("iv_error_id").as("error_id"))
    }),
    // SCD2 dimension build from a change history: each user's event_type
    // timeline collapses into effective-dated version rows (half-open
    // [valid_from, valid_to), last version current). Pre-aggregated to the
    // (user, ts) grain first so row order inside a timestamp can never
    // make the window tiebreak engine-dependent.
    "j11_scd2" -> ((s, dir) => {
      val changes = T(s, dir, "events").filter(col("user_id") < 20)
        .groupBy(col("user_id"), col("ts"))
        .agg(min(col("event_type")).as("event_type"))
      StarSchema.scd2FromHistory(changes, Seq("user_id"), Seq("event_type"), "ts")
    }),
    "j10_salted_join" -> ((s, dir) =>
      // must equal the plain lineitem-orders inner join (oracle is the
      // unsalted SQL); only the shuffle distribution differs
      graft.analytics.Joins.saltedJoin(T(s, dir, "lineitem"),
          T(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
            col("o_orderpriority")),
          "l_orderkey", col("l_linenumber"), saltBuckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))),
    "j09_bloom_semijoin" -> ((s, dir) => {
      val urgent = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.plans.BloomJoin.bloomSemiJoin(T(s, dir, "lineitem"),
          col("l_orderkey"), urgent, col("o_orderkey"),
          expectedItems = 1L << 20)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // ── O: ordering / ranking ────────────────────────────────────────────
    "o01_rank_by_aggregate" -> ((s, dir) =>
      Ranking.rankByAggregate(T(s, dir, "events"), col("event_type"),
        round(sum(col("value")), 2), "total_value")),
    "o02_time_order" -> ((s, dir) =>
      T(s, dir, "events").orderBy(col("ts"), col("event_id")).limit(20)
        .select(col("event_id"))),
    "o03_rank_window" -> ((s, dir) => {
      val grouped = T(s, dir, "events").groupBy(col("event_type"), col("user_id"))
        .agg(round(sum(col("value")), 2).as("total"))
      Ranking.lastNPerKey(grouped, Seq(col("event_type")),
          Seq(col("total"), col("user_id")), 3)
        .select(col("event_type"), col("user_id"), col("total"), col("rn"))
    }),

    // ── S: sources / sinks (broker-free batch shapes) ────────────────────
    "s01_kafka_roundtrip" -> ((s, dir) => {
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      val wire = Sources.toKafkaShape(ev, "event_type")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      Sources.decodeJson(wire, schema, tsCol = "none")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
    }),
    "s06_partitioned_parquet" -> ((s, dir) => {
      val path = graft.streaming.Pipeline.tempRoot("s06_parquet")
      Sources.writePartitionedParquet(
        T(s, dir, "events").select(col("event_id"), col("event_type"),
          col("user_id"), col("value")),
        path, partitionCols = Seq("event_type"), filesPerPartition = 2,
        sortCols = Seq("event_id"))
      s.read.parquet(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value")), 2).as("sum_value"),
          countDistinct(col("user_id")).as("users"))
    }),
    "s05_csv_roundtrip" -> ((s, dir) => {
      val path = graft.streaming.Pipeline.tempRoot("s05_csv")
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      Sources.writeCsv(ev, path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      Sources.csv(s, path, schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
    }),
    // ORC interchange roundtrip (schema travels in the file) — the s05
    // identity-through-the-format proof shape for the Hive/Trino handoff
    "s08_orc_roundtrip" -> ((s, dir) => {
      val path = graft.streaming.Pipeline.tempRoot("s08_orc")
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      Sources.writeOrc(ev, path)
      Sources.orc(s, path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
    }),
    // score-aware dedup apply: keep each cluster's LONGEST member (ties →
    // min id) instead of x27's min-id rule
    "x94_dedup_keep_best" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.survivorsBy(docs.select(col("doc_id"), col("n_chars")),
          col("doc_id"), col("n_chars"),
          Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.3))
        .select(col("doc_id"))
    }),
    // T2/T3/T4 with a DuckDB oracle: events re-read as a bounded stream
    // (2 files, maxFilesPerTrigger=1 → dedup state carries across ≥2
    // micro-batches), watermarked dropDuplicates into the checkpointed
    // parquet sink, AvailableNow drain, sink read back. Output = the
    // dedup-key SET (survivor-invariant), watermark (60 d) > the events
    // span (30 d) so nothing evicts mid-run and the result is exactly
    // SELECT DISTINCT user_id, event_type — the statement the oracle makes
    "s08_stream_parity" -> ((s, dir) =>
      // shared bulk fixture (with s12/s13): the key set only reads ts +
      // the key columns, so the 5-col drain frame is the same
      // distinct-keys oracle statement
      graft.streaming.Pipeline.dedupDrainParity(s, drainEventsFrame(s, dir),
        eventTimeCol = "ts", keys = Seq("user_id", "event_type"),
        watermark = "60 days",
        preparedIn = Some(drainInputFixture(s, dir)))),
    // T5's stateful windowed aggregation through a REAL checkpointed
    // drain: span-length watermark (no drops under any file order) + a
    // sentinel horizon row emitting every window → equals the a14-style
    // batch tumbling aggregate, so DuckDB can check it
    "s09_window_drain" -> ((s, dir) =>
      // build-once staged input incl. the horizon sentinel (shared with
      // s17 — same frame, same sentinel formula); the windowed aggregate
      // reads only ts/event_type/value, so the 5-col frame leaves the
      // oracle statement unchanged
      graft.streaming.Pipeline.windowDrainParity(s, drainEventsFrame(s, dir),
        eventTimeCol = "ts", keyCol = "event_type", valueCol = "value",
        width = "1 hour", delay = "60 days",
        preparedIn = Some(materializeStagedFixture(s, "drain_win1h", dir) {
          p => graft.streaming.Pipeline.stageWindowDrainInput(s,
            drainEventsFrame(s, dir), "ts", "1 hour", "60 days", p)
        }))),
    // T6's order-SENSITIVE stateful fold through a real drain: time-range
    // files replayed in order carry the EWMA state across micro-batches →
    // equals the batch recursive filter, restated as a recursive CTE
    "s10_ewma_drain" -> ((s, dir) => {
      val shaped = T(s, dir, "events").select(col("user_id").as("station_id"),
        col("ts").as("timestamp"), col("value"))
      // build-once time-ordered slices (percentile split + per-slice
      // sequential writes) — the staging the fold's order contract
      // needs, now behind the fixture discipline
      graft.streaming.Ewma.drainParity(s, shaped,
        preparedIn = Some(materializeStagedFixture(s, "drain_ewma", dir) {
          p => graft.streaming.Ewma.stageOrderedInput(s, shaped, p)
        }))
    }),
    // T5's SESSION-window variant through a real drain — the 4th distinct
    // stateful shape under the oracle (s08 keyed dedup, s09 per-window
    // accumulators, s10 ordered fold, s11 MERGING session state): a row in
    // a later micro-batch can fuse sessions opened in earlier batches.
    // Parity target is the batch gap-island sessionization (a38's shape)
    "s11_session_drain" -> ((s, dir) =>
      // build-once staged input incl. the session-horizon sentinel; the
      // session aggregate reads only ts/user_id/value, so the 5-col
      // frame leaves the oracle statement unchanged
      graft.streaming.Pipeline.sessionDrainParity(s, drainEventsFrame(s, dir),
        eventTimeCol = "ts", keyCol = "user_id", valueCol = "value",
        gapSeconds = 1800L, delay = "60 days",
        preparedIn = Some(materializeStagedFixture(s, "drain_sess30m", dir) {
          p => graft.streaming.Pipeline.stageSessionDrainInput(s,
            drainEventsFrame(s, dir), "ts", 1800L, "60 days", p)
        }))),
    // 5th stateful drain shape: TWO-SIDED stream-stream join buffers — a
    // click buffered in one micro-batch matches a purchase arriving in a
    // later one; span-length watermark ⇒ drained sink = batch interval
    // join (clicks within 2 h before each purchase, per user)
    "s12_join_drain" -> ((s, dir) =>
      graft.streaming.Pipeline.joinDrainParity(s,
        T(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")),
        eventTimeCol = "ts", key = "user_id",
        leftFilter = col("event_type") === "purchase",
        rightFilter = col("event_type") === "click",
        lookback = "2 hours", delay = "60 days",
        preparedIn = Some(drainInputFixture(s, dir)))
        .select(col("user_id"), col("event_id").as("p_event_id"),
          unix_micros(col("ts")).as("p_us"),
          col("r_event_id").as("c_event_id"),
          unix_micros(col("r_ts")).as("c_us"),
          col("r_value").as("c_value"))),
    // 7th stateful drain shape: stream-stream LEFT OUTER interval join —
    // NULL COMPLETION under watermark eviction, forced out by per-side
    // sentinels before the bounded drain stops; oracle = batch left join
    "s15_outer_join_drain" -> ((s, dir) =>
      graft.streaming.Pipeline.outerJoinDrainParity(s,
        drainEventsFrame(s, dir),
        eventTimeCol = "ts", idCol = "event_id", key = "user_id",
        sideCol = "event_type", leftSide = "purchase", rightSide = "click",
        lookback = "2 hours", delay = "60 days",
        // fully staged incl. the two-sided sentinel (previously: bulk
        // fixture + per-run part-file copy + per-run sentinel write)
        preparedIn = Some(materializeStagedFixture(s, "drain_outerjoin", dir) {
          p => graft.streaming.Pipeline.stageOuterJoinDrainInput(s,
            drainEventsFrame(s, dir), "ts", "event_id", "user_id",
            "event_type", "purchase", "click", "2 hours", "60 days", p)
        }))
        .select(col("user_id"), col("event_id").as("p_event_id"),
          unix_micros(col("ts")).as("p_us"),
          col("r_event_id").as("c_event_id"),
          unix_micros(col("r_ts")).as("c_us"),
          col("r_value").as("c_value"))),
    // 9th drain shape: the CUSTOM MisraGries aggregate under streaming
    // state — the object buffer serializes into the state store, merges
    // across micro-batches, and (capacity 8 > 5 distinct types) drains
    // EXACT per-window counts, so the oracle is the plain windowed count
    "s17_heavy_hitter_drain" -> ((s, dir) =>
      // shares s09's staged fixture verbatim (same frame, same width/
      // delay sentinel); the Misra–Gries windows read only ts/event_type
      graft.streaming.Pipeline.heavyHitterDrainParity(s,
        drainEventsFrame(s, dir),
        eventTimeCol = "ts", itemCol = "event_type", capacity = 8,
        width = "1 hour", delay = "60 days",
        preparedIn = Some(materializeStagedFixture(s, "drain_win1h", dir) {
          p => graft.streaming.Pipeline.stageWindowDrainInput(s,
            drainEventsFrame(s, dir), "ts", "1 hour", "60 days", p)
        }))),
    // 8th drain shape: the x208 homoglyph protection on the STREAMING
    // path — contentDedup(homoglyphSafe) through a real checkpointed
    // drain over the x208 perturbed corpus (%19 Cyrillic spoofs, spoof
    // and original straddling micro-batches), keyed on the skeleton
    // fingerprint; output = the survivor-invariant key SET, so the
    // oracle is exactly DISTINCT md5(normalized(skeleton(text)))
    "s16_homoglyph_dedup_drain" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            translate(col("text"), "aeo", "аео").as("text")))
        // day-bounded event times at ANY sf, so the no-evict watermark
        // contract (horizon > span) can never silently break on scale-up
        .withColumn("ts",
          timestamp_seconds(lit(1700000000L) + col("doc_id") % 86400L))
      graft.streaming.Pipeline.contentDedupDrainParity(s, corpus,
        textCol = "text", eventTimeCol = "ts", watermark = "60 days",
        // build-once bulk fixture (no sentinel — the key set drains by
        // exhaustion), staged by the drains' own bulk stager
        preparedIn = Some(materializeStagedFixture(s, "drain_homoglyph", dir) {
          graft.streaming.Pipeline.stageBulkInput(corpus, _, 2)
        }))
    }),
    // stream-static broadcast enrichment drained under the oracle: the
    // dimension joins into every micro-batch; stateless, so sink = batch
    // join by construction (and the streaming planner must broadcast)
    "s14_enrich_drain" -> ((s, dir) =>
      graft.streaming.Pipeline.enrichDrainParity(s,
        T(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type")),
        T(s, dir, "customer")
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment")),
        key = "user_id")),
    // 6th stateful drain shape: foreachBatch SCD1 upsert — a key updated
    // in a later micro-batch overwrites its earlier publication in the
    // versioned table; final version = batch latest-per-key (p14's
    // statement over (ts, event_id) last-writer-wins)
    "s13_upsert_drain" -> ((s, dir) =>
      graft.streaming.Pipeline.upsertDrainParity(s,
        T(s, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")),
        keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
        preparedIn = Some(drainInputFixture(s, dir)))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"))),
    // JSONL interchange roundtrip (schema-on-read, no inference pass) —
    // same identity-through-the-format proof shape as s05
    "s07_jsonl_roundtrip" -> ((s, dir) => {
      val path = graft.streaming.Pipeline.tempRoot("s07_jsonl")
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      Sources.writeJsonl(ev, path)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      Sources.jsonl(s, path, schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
    }),

    // ── X: LLM-pipeline operators (documents / embeddings) ───────────────
    "x01_token_counts" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"))),
    "x02_quality_score" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))),
    "x03_lang_id" -> ((s, dir) =>
      TextAnalysis.withLangId(T(s, dir, "documents"), col("text"))
        .select(col("doc_id"), col("score_de"), col("score_en"), col("score_es"),
          col("score_fr"), col("score_zh"), col("detected_lang"))),
    "x04_exact_dedup" -> ((s, dir) =>
      Dedup.exactDuplicates(T(s, dir, "documents"), col("doc_id"), col("text"))),
    "x05_minhash_signature" -> ((s, dir) =>
      Dedup.signatures(T(s, dir, "documents"), col("doc_id"), col("text"))),
    "x06_near_duplicates" -> ((s, dir) =>
      Dedup.nearDuplicates(T(s, dir, "documents"), col("doc_id"), col("text"),
        threshold = 0.3)),
    "x07_simhash" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        Dedup.simhash16(col("text")).as("simhash"))
        .withColumn("popcount", Dedup.hammingDistance(col("simhash"), lit(0L)))),
    "x08_knn_bruteforce" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 5), 3)
    }),
    // x08's exact top-k with the x11 near-dup pairs excluded BEFORE the
    // heap — the contrastive-training negatives that are close but not
    // duplicates
    "x77_hard_negatives" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val dups = Dedup.cosinePairs(
        Similarity.cosineCandidates(emb, col("vec_id"), col("embedding"),
          Planes6), col("va"), col("vb"))
        .filter(col("is_near_dup"))
        .select(col("id_a"), col("id_b"))
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5), dups, 5)
    }),
    "x09_knn_ivf" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfKnn(emb, emb.filter(col("vec_id") % 50 === 0),
        Seq(1L, 2L, 3L), 3)
    }),
    "x09_knn_ivf_nprobe2" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfKnn(emb, emb.filter(col("vec_id") % 50 === 0),
        Seq(1L, 2L, 3L), 3, nprobe = 2)
    }),
    "x09_recall" -> ((s, dir) => {
      // recall@3 of IVF vs exact brute force, per nprobe — the measurable
      // recall/cost curve a production ANN operator needs
      val emb = T(s, dir, "embeddings")
      val qids = Seq(1L, 2L, 3L)
      val cents = emb.filter(col("vec_id") % 50 === 0)
      val brute = Similarity.bruteForceKnn(emb,
          emb.filter(col("vec_id").isInCollection(qids)), 3)
        .select(col("query_id"), col("neighbor_id"))
      val total = brute.agg(count(lit(1)).as("total"))
      def recallOf(np: Int): DataFrame = {
        val hits = Similarity.ivfKnn(emb, cents, qids, 3, np)
          .select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
        hits.crossJoin(broadcast(total)).select(lit(np).as("nprobe"),
          round(col("hits").cast("double") / col("total").cast("double"), 6)
            .as("recall"))
      }
      recallOf(1).unionByName(recallOf(2))
    }),
    // PQ index build + ADC search: codes against the deterministic seed
    // codebook (vec_id % 50), then asymmetric-distance top-5 for two probe
    // queries — the compressed-index face of the ANN tier (brute force →
    // IVF → PQ)
    "x43_pq_adc" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.pqAdcKnn(emb, emb.filter(col("vec_id") % 50 === 0),
        queryIds = Seq(0L, 1L), m = 8, k = 5)
    }),
    // IVF+PQ composed: coarse probe (nprobe=2 cosine lists) + ADC over
    // the compressed codes of just those lists — the FAISS-style
    // architecture assembled from the oracled x09 + x43 pieces
    "x44_ivfpq" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfPqKnn(emb, emb.filter(col("vec_id") % 50 === 0),
        queryIds = Seq(0L, 1L), m = 8, k = 5, nprobe = 2)
    }),
    // the batch face of x44: the same queries as a query TABLE, scored in
    // one codes-frame pass (probe lists + ADC tables are a projection on
    // the query frame, broadcast into the scan) — shares x44's oracle, so
    // the hash match proves batch ≡ per-query on identical probes
    "x47_ivfpq_batch" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.ivfPqKnnBatch(emb, emb.filter(col("vec_id") % 50 === 0),
        queries = emb.filter(col("vec_id").isin(0L, 1L)),
        queryId = col("vec_id"), queryVec = col("embedding"),
        m = 8, k = 5, nprobe = 2)
    }),
    // recall@5 of the COMPRESSED ANN tier (IVF-PQ) against exact cosine
    // brute force, per nprobe — x09_recall gauges coarse-probe loss on the
    // uncompressed tier; this adds the quantization loss end-to-end, the
    // number a pipeline watches when it turns PQ on
    "x71_pq_recall" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") % 50 === 0)
      val qframe = emb.filter(col("vec_id").isin(0L, 1L))
      val brute = Similarity.bruteForceKnn(emb, qframe, 5)
        .select(col("query_id"), col("neighbor_id"))
      val total = brute.agg(count(lit(1)).as("total"))
      def recallOf(np: Int): DataFrame = {
        val hits = Similarity.ivfPqKnnBatch(emb, cents, queries = qframe,
            queryId = col("vec_id"), queryVec = col("embedding"),
            m = 8, k = 5, nprobe = np)
          .select(col("query_id"), col("neighbor_id"))
          .join(brute, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
        hits.crossJoin(broadcast(total)).select(lit(np).as("nprobe"),
          round(col("hits").cast("double") / col("total").cast("double"), 6)
            .as("recall"))
      }
      recallOf(1).unionByName(recallOf(2))
    }),
    "x16_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(T(s, dir, "documents"), col("doc_id"), col("text"),
        maxHamming = 2)),
    // rolling-hash document fingerprinting (winnowing): the distinct
    // window-minima of positional 4-gram hashes, window 4 — locality
    // where x04's whole-doc md5 is identity
    "x48_winnow_fingerprints" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        explode(TextAnalysis.winnowFingerprints(col("text"), k = 4, w = 4))
          .as("fingerprint"))),
    // copy-detection face: docs sharing >= 2 winnow fingerprints — catches
    // the partial overlaps (shared spans >= w+k-1 tokens) that whole-doc
    // and high-Jaccard dedup miss; fingerprint is the blocking key, with
    // the standard bucket cap (never triggers on this fixture)
    "x49_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(T(s, dir, "documents"), col("doc_id"), col("text"),
        k = 4, w = 4, minShared = 2)),
    // wide-signature near-dup: 8 seeded minhashes banded 4 × 2 — more
    // bands raise candidate recall at the same exact-Jaccard verify (the
    // LSH dial the narrow 4-hash chain pins at b=2)
    "x51_neardup_wide" -> ((s, dir) =>
      Dedup.nearDuplicatesWide(T(s, dir, "documents"), col("doc_id"),
        col("text"), threshold = 0.3, numHashes = 8, rowsPerBand = 2)),
    // entity-resolution fuzzy join: synthetic user names vs deterministic
    // one-char-deleted typos (mirrored in the oracle). The oracle states
    // the naive cross-join rule (every pair at levenshtein <= 1); the
    // Spark side blocks on exploded deletion neighborhoods — the hash
    // match proves the blocking loses no pair
    "x50_fuzzy_join" -> ((s, dir) => {
      val names = T(s, dir, "documents").select(col("doc_id"),
        concat(lit("user_"), col("doc_id").cast("string")).as("name"))
      val p = ((col("doc_id") % length(col("name"))) + 1).cast("int")
      val typos = names.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("typo_id"),
          concat(col("name").substr(lit(1), p - 1),
            col("name").substr(p + 1, length(col("name")) - p)).as("typo_name"))
      graft.analytics.Joins.fuzzyJoin(names, col("doc_id"), col("name"),
        typos, col("typo_id"), col("typo_name"))
    }),
    "x17_kmeans_step" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.kmeansStep(emb, emb.filter(col("vec_id") % 50 === 0), dim = 64)
    }),
    "x35_cluster_sample" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.clusterBalancedSample(emb,
        emb.filter(col("vec_id") % 50 === 0), perCluster = 10)
    }),
    "x18_dup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
        Dedup.nearDuplicates(T(s, dir, "documents"), col("doc_id"), col("text"),
          threshold = 0.3))),
    "x21_repetition" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.repetitionScore(col("text")).as("repetition"))),
    "x22_sequence_pack" -> ((s, dir) =>
      graft.sampling.Packing.packSequences(
          T(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id"), TextAnalysis.tokenCount(col("text")),
          budgetTokens = 2048, numBuckets = 8)
        .select(col("doc_id"), col("bucket"), col("pack_id"),
          col("pack_offset"))),
    "x23_corpus_mixture" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"))
      def src(i: Int) = docs.filter(col("doc_id") % 3 === i)
      graft.sampling.Sampling.mixture(Seq(
          ("curated", src(0), 1.0), ("web", src(1), 0.5),
          ("boiler", src(2), 0.1)), col("doc_id"))
        .select(col("doc_id"), col("source"))
    }),
    "x19_train_split" -> ((s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        graft.sampling.Sampling.splitLabel(col("doc_id"), TrainSplit)
          .as("split"))),
    "x20_stratified_sample" -> ((s, dir) =>
      graft.sampling.Sampling.stratifiedSample(T(s, dir, "events"),
          col("event_type"), col("event_id"), StratFractions)
        .select(col("event_id"), col("event_type"))),
    "x10_lsh_bucket" -> ((s, dir) =>
      T(s, dir, "embeddings").select(col("vec_id"),
        Similarity.hyperplaneBucket(
          Similarity.asDouble(col("embedding")), Planes8).as("bucket"))),
    // candidate generation through Similarity.cosineCandidates — capped
    // buckets (the cap never triggers on this fixture, so the uncapped
    // oracle still matches); the harness pins Planes6 so DuckDB can
    // re-derive the buckets, production sizes planes via planeCountFor
    "x11_cosine_pairs" -> ((s, dir) => {
      val cands = Similarity.cosineCandidates(T(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), Planes6)
      Dedup.cosinePairs(cands, col("va"), col("vb"))
        .select(col("id_a"), col("id_b"), col("cosine"), col("is_near_dup"))
    }),
    "x12_media_metadata" -> ((s, dir) =>
      Multimodal.mediaMetadata(Multimodal.asMediaTable(T(s, dir, "documents")))),
    "x13_media_decode" -> ((s, dir) =>
      Multimodal.decodeFeatures(s,
        Multimodal.asMediaTable(T(s, dir, "documents"))).toDF()),
    // real (pure-JVM) container parsing: synthesize valid PNG/JPEG/GIF
    // header bytes per doc_id, parse them back; the oracle computes the
    // expected dimensions in closed form, so any misread offset/endianness/
    // CRC in the parser breaks the hash match
    "x13_real_headers" -> ((s, dir) =>
      MediaHeaders.parseHeaders(s,
        MediaHeaders.synthesize(s, T(s, dir, "documents").select(col("doc_id"))))),
    "x14_media_resize" -> ((s, dir) =>
      Multimodal.resizePlan(Multimodal.decodeFeatures(s,
        Multimodal.asMediaTable(T(s, dir, "documents"))), 224, 224)),
    "x15_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.decodeFeatures(s,
        Multimodal.asMediaTable(T(s, dir, "documents"))), everyN = 5)),
    "x24_decontaminate" -> ((s, dir) => {
      // 20% of docs stand in for a benchmark set; report every training doc
      // sharing an 8-gram (the realistic collision width — round 4 ran
      // bigrams, which over-flag on common word pairs) with any of them.
      // The probe fraction is large enough that the synthetic corpus's
      // near-dup clones actually collide: 8-grams only match copied spans.
      val docs = T(s, dir, "documents")
      val bk = graft.sampling.Sampling.hashBucket(col("doc_id"), "probe")
      Decontaminate.contaminationReport(
        docs.filter(bk >= 2000), col("doc_id"), col("text"),
        docs.filter(bk < 2000), col("text"), gramWidth = 8)
    }),
    // same fixture as x24 through the bloom path: probe grams too big to
    // broadcast at real scale, so they aggregate into a plan-constant
    // bloom filter probed at the corpus scan; the exact join removes fpp
    "x41_decontaminate_bloom" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val bk = graft.sampling.Sampling.hashBucket(col("doc_id"), "probe")
      Decontaminate.contaminationReportBloom(
        docs.filter(bk >= 2000), col("doc_id"), col("text"),
        docs.filter(bk < 2000), col("text"),
        expectedGrams = 100000L, gramWidth = 8)
    }),
    "x25_corpus_shuffle" -> ((s, dir) =>
      graft.sampling.Sampling.shuffled(
          T(s, dir, "documents").select(col("doc_id")), col("doc_id"),
          numBuckets = 8)
        .select(col("doc_id"), col("bucket"), col("pos"))),
    "x26_embed_quantize" -> ((s, dir) =>
      graft.similarity.Quantize.int8Report(T(s, dir, "embeddings"),
        col("vec_id"), col("embedding"))),
    "x27_dedup_apply" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.survivors(docs.select(col("doc_id")), col("doc_id"),
        Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.3))
    }),
    // dedup as implicit re-weighting: per-source corpus share before vs
    // after the x27 survivors pass (one keyed join + |sources| aggregate)
    "x83_dedup_mixture_shift" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val kept = Dedup.survivors(docs.select(col("doc_id")), col("doc_id"),
        Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.3))
      Dedup.mixtureShift(docs.select(col("doc_id"), col("source")),
        col("doc_id"), col("source"), kept)
    }),
    // embedding-space decontamination: the probe "eval suite" contains an
    // exact clone of every 50th training vector (ids +100000, the x37
    // planting pattern, mirrored in the oracle) — those sources must flag
    // at cos 1.0 while the fixture's background cosines stay < 0.46
    "x82_semantic_decontaminate" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val probes = emb.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      Similarity.semanticContamination(emb, probes, threshold = 0.9)
    }),
    // memorization-risk scalar: fraction of each doc's distinct 8-grams
    // found verbatim in another doc (cross-doc, where x76 is intra-doc);
    // groupBy+join on the gram key, linear in total grams
    "x81_gram_novelty" -> ((s, dir) =>
      Dedup.gramNovelty(T(s, dir, "documents"), col("doc_id"), col("text"))),
    // dedup-policy view: near-dup pair volume + mean jaccard per unordered
    // source pair — which feeds mirror each other (the x06 chain's pairs,
    // broadcast into the source lookup; only shuffle is the |sources|^2 agg)
    "x80_cross_source_dups" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.crossSourceReport(
        Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.3),
        docs.select(col("doc_id"), col("source")))
    }),
    // soft dedup: 1/cluster_size weights over the x18 cluster graph
    // instead of dropping — per-source raw vs effective doc/char mass
    "x86_soft_dedup_weights" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.softDedupWeights(docs, col("doc_id"), col("source"),
        col("n_chars"),
        Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.3))
    }),
    // per-doc lexical diversity: word-histogram entropy, normalized
    // entropy, type-token ratio (Gopher-rule signals the adjacency-based
    // x28 repetition check can miss)
    "x87_token_entropy" -> ((s, dir) =>
      graft.text.TfIdf.tokenEntropy(T(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // pairwise cosine between per-label embedding centroids — the
    // label-collapse / crawl-redundancy audit over embedding space
    "x88_centroid_similarity" -> ((s, dir) =>
      Similarity.centroidSimilarity(T(s, dir, "embeddings"),
        col("label"), col("embedding"))),
    // per-language corpus datacard: doc/source/char/token totals and the
    // exact-dup rate, distinct'd over md5 digests (never full bodies)
    "x89_corpus_datacard" -> ((s, dir) =>
      graft.text.Datacard.byLang(T(s, dir, "documents"), col("lang"),
        col("source"), col("text"), col("n_chars"))),
    // tokenizer-equity audit: subwords/word and chars/subword per lang
    // under the x01 subword model — two codegen kernels, one aggregate
    "x90_token_fertility" -> ((s, dir) =>
      graft.text.Datacard.tokenizerFertility(T(s, dir, "documents"),
        col("lang"), col("text"), col("n_chars"))),
    // embedding QA gate: corpus has no broken rows, so every 97th vector
    // is zeroed (deterministic fixture, mirrored in the oracle) — the
    // zero-norm accounting and norm envelope are what's under test
    "x91_embedding_qa" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val withBroken = emb.select(col("vec_id"), col("label"),
        when(col("vec_id") % 97 === 0,
          transform(col("embedding"), _ => lit(0.0f)))
          .otherwise(col("embedding")).as("embedding"))
      Similarity.embeddingQa(withBroken, col("label"), col("embedding"))
    }),
    // per-source unigram KL from the corpus distribution — the
    // information-theoretic mixture diagnostic beside x83/x85
    "x92_source_divergence" -> ((s, dir) =>
      graft.text.TfIdf.sourceDivergence(T(s, dir, "documents"),
        col("source"), col("text"))),
    // per-source distinct-n diversity (self-BLEU-style mode-collapse
    // check for synthetic feeds) — cross-doc, where x87 is per-doc
    "x93_ngram_diversity" -> ((s, dir) =>
      graft.text.TfIdf.ngramDiversity(T(s, dir, "documents"),
        col("source"), col("text"))),
    // END-TO-END pipeline: quality gate → near-dup survivors → per-lang
    // datacard of the release corpus — the library's stages composed in
    // one oracle-checked query (each stage's macro chain is the shared
    // one its standalone query uses, so the composition cannot drift)
    "x110_pipeline_e2e" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // the gate output feeds dedup, survivorship AND the datacard —
      // materialize the kernel pass once (round 14; at corpus scale this
      // is the released-tier checkpoint a pipeline persists anyway)
      val gated = graft.text.QualityRules.filterPassing(docs, col("doc_id"),
        col("text")).localCheckpoint(true)
      val released = Dedup.survivors(gated, col("doc_id"),
        Dedup.nearDuplicates(gated, col("doc_id"), col("text"), threshold = 0.3))
      graft.text.Datacard.byLang(released, col("lang"), col("source"),
        col("text"), col("n_chars"))
    }),
    // first-tier crawl dedup: canonicalize six surface forms of each
    // logical URL (case/www/port/fragment/utm/slash) and collapse — no
    // document text is ever read
    "x113_url_canonical" -> ((s, dir) =>
      graft.text.Urls.canonicalDedup(
        T(s, dir, "documents").select(col("doc_id"), messyUrlColumn.as("url")),
        col("doc_id"), col("url"))),
    // leakage-SAFE split: split drawn from the near-dup CLUSTER id, so
    // the pairs x57 flags can never straddle train/test by construction
    "x111_cluster_split" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(
        Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.3))
      graft.sampling.Sampling.clusterSplit(docs.select(col("doc_id")),
        col("doc_id"), clusters, TrainSplit)
    }),
    // corpus concentration indices over the source mix (HHI / Gini /
    // entropy / top share) — the one-row "is this corpus one crawl
    // wearing twenty hats" datacard block
    "x116_source_concentration" -> ((s, dir) =>
      graft.analytics.Distribution.concentrationReport(
        T(s, dir, "documents"), col("source"))),
    // media-dedup first tier: per-item aHash perceptual fingerprint (8x8
    // stub thumbnail over the fake decode, documented) + exact-collision
    // group size; blob never crosses a shuffle, only the 64-bit hash does
    "x119_media_phash" -> ((s, dir) =>
      graft.multimodal.Multimodal.phashGroups(s,
        graft.multimodal.Multimodal.asMediaTable(T(s, dir, "documents")))),
    // content-defined chunking: every (hash, len) chunk fingerprint shared
    // by >= 2 docs — sub-document boilerplate detection where boundaries
    // are content-local (an edit never moves another chunk's cut)
    "x117_cdc_shared" -> ((s, dir) =>
      graft.text.Chunking.sharedChunks(T(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // per-doc CDC chunk-mass redundancy: the fraction of each document's
    // qualifying chunk mass carried by at least one OTHER document — the
    // keep / trim / drop curation dial at chunk granularity
    "x118_cdc_redundancy" -> ((s, dir) =>
      graft.text.Chunking.redundancy(T(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // entity resolution → golden records: registry of base + two typo
    // variants per entity (variants are distance 1 OF BASE but often
    // distance 2 of each other — only the transitive closure merges
    // them); md5-derived keys so cross-entity collisions are ~absent and
    // WHEN one occurs both engines see the same edge set anyway
    "x120_entity_resolution" -> ((s, dir) =>
      graft.analytics.Entities.goldenRecords(
        entityRegistry(s, dir), col("rid"), col("rkey"), col("rval"))),
    // incremental resolution == batch resolution: records arrive in two
    // rid-parity batches (an entity's variants straddle them), the first
    // batch's edges AND assignments are PERSISTED (parquet fixtures — so
    // the timing prices the delta operator, not old-edge re-derivation),
    // only new-touching candidate work runs for the second, and the
    // CLOSURE re-converges only the subgraph the increment touches
    // (untouched entities keep their persisted labels) — the oracle is
    // x120's SQL VERBATIM, so batch-equivalence is hash-checked, not
    // argued
    "x123_entity_delta" -> ((s, dir) => {
      val reg = entityRegistry(s, dir)
      val old = reg.filter(col("rid") % 2 === 0)
      val fresh = reg.filter(col("rid") % 2 === 1)
      graft.analytics.Entities.goldenRecordsIncremental(old, fresh,
        oldPairsFixture(s, dir), oldAssignmentsFixture(s, dir),
        col("rid"), col("rkey"), col("rval"))._2
    }),
    // the PRODUCTION increment shape: a 1/16 arrival against a 15/16
    // persisted corpus — delta candidates probe only the increment, the
    // closure re-converges only the touched subgraph (x123 with a
    // half-corpus increment cannot show that asymmetry; this face's cost
    // is ∝ increment, the 100 TB nightly-run claim). Oracle: x120's SQL
    // verbatim again — the union is the full registry, so incremental ==
    // batch is hash-checked on a second partition geometry
    "x219_entity_increment" -> ((s, dir) => {
      val reg = entityRegistry(s, dir)
      val (pairsFix, asgFix) = incrementFixtures(s, dir)
      graft.analytics.Entities.goldenRecordsIncremental(
        reg.filter(col("rid") % 16 =!= 7), reg.filter(col("rid") % 16 === 7),
        pairsFix, asgFix, col("rid"), col("rkey"), col("rval"))._2
    }),
    // the MDM triage view golden records hide: per multi-variant
    // entity, the key variants and value spread survivorship papered
    // over — tiny spread = typo, wide spread = false merge or a dirty
    // source, both human-review queues
    "x226_entity_conflicts" -> ((s, dir) =>
      graft.analytics.Entities.entityConflicts(entityRegistry(s, dir),
        col("rid"), col("rkey"), col("rval"))),
    // encoding-damage gate: mojibake marker counts over a fixture with
    // damaged suffixes injected on two residue classes (clean docs must
    // count 0). Markers + suffixes are shared constants with the oracle
    // matryoshka audit: recall@3 of prefix-dimension cosine top-k vs the
    // full-width truth — the "search narrow, re-rank wide" decision curve
    "x122_matryoshka_recall" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.matryoshkaRecall(emb, emb.filter(col("vec_id") < 5),
        MatryoshkaDims, k = 3)
    }),
    // t-closeness beside x131/x107: classes whose sensitive distribution
    // sits > t total-variation from the corpus marginal — skew leaks
    // even when l distinct values are present
    "x134_t_closeness" -> ((s, dir) =>
      Validation.tClosenessViolations(T(s, dir, "documents"),
        Seq(col("source"),
          floor(col("n_chars") / 256).cast("long").as("len_bucket")),
        col("lang"), t = 0.35)),
    // fractional per-source epoch replication plan (3.5× = 3 whole
    // epochs + a hash-gated half at epoch 3) — map-only, no shuffle
    "x135_epoch_mix" -> ((s, dir) =>
      graft.sampling.Sampling.epochMix(T(s, dir, "documents"),
        col("doc_id"), col("source"),
        EpochFactors.map { case (k, v) =>
          k -> graft.sampling.Sampling.epochDials(v) })),
    // bounded-size training-shard assignment via the DISTRIBUTED prefix
    // scan (range partition + local cumsum + partition offsets — never a
    // single-partition global window); greedy sequential packing over
    // the hash-shuffled order
    "x132_shard_assign" -> ((s, dir) =>
      graft.sampling.Sharding.assignShards(T(s, dir, "documents"),
        col("doc_id"), col("n_chars"), shardChars = 20000L)),
    // length-matched control set: non-en docs bucket-matched to the en
    // length histogram — the ablation-eval control builder
    "x133_matched_sample" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.sampling.Sharding.matchedSample(
        docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"),
        col("doc_id"), col("n_chars"), bucketWidth = 64L)
    }),
    // asymmetric near-dup: containment |A∩B|/|A| over rare-shingle-blocked
    // candidates — the short-doc-inside-long-doc pairs the symmetric x06
    // threshold dilutes away (contain ≫ jaccard = embedded excerpt)
    "x136_containment" -> ((s, dir) =>
      Dedup.containmentPairs(T(s, dir, "documents"),
        col("doc_id"), col("text"), threshold = 0.15)),
    // two-sample KS drift per source vs rest-of-corpus over the n_chars
    // distribution — the bin-free companion to the x85 PSI gate
    "x137_ks_drift" -> ((s, dir) =>
      Comparison.ksDrift(T(s, dir, "documents"),
        col("source"), col("n_chars"))),
    // Spearman (mid-rank, tie-corrected) between doc length and the x02
    // quality score per language — "does the quality gate just reward
    // length?" asked with a monotone-robust statistic
    "x138_spearman" -> ((s, dir) =>
      Correlation.spearmanByGroup(
        T(s, dir, "documents").withColumn("__q",
          graft.text.TextAnalysis.qualityScore(col("text"))),
        col("lang"), col("n_chars"), col("__q"))),
    // modularity of the x78 label-prop communities over the same domain
    // co-occurrence graph, BESIDE the singleton baseline (every node its
    // own community) — the lp partition must out-score it; the baseline's
    // per-node negative contributions also pin the degree arithmetic on a
    // fixture whose lp partition collapses to one community (Q = 0)
    "x139_modularity" -> ((s, dir) => {
      val edges = domainCooccurrenceEdges(T(s, dir, "documents"))
        .localCheckpoint(true)
      val lp = Graph.labelPropagation(edges, col("src"), col("dst"),
        rounds = CommunityRounds)
      val singleton = lp.select(col("node"), col("node").as("label"))
      Graph.modularity(edges, col("src"), col("dst"), lp)
        .withColumn("partition", lit("lp"))
        .unionByName(Graph.modularity(edges, col("src"), col("dst"), singleton)
          .withColumn("partition", lit("singleton")))
    }),
    // per-domain triangle count + local clustering coefficient over the
    // co-occurrence graph: clique neighborhoods (topic hubs) vs star
    // spokes (link-farm shape) — degree-ordered wedge orientation
    "x140_triangles" -> ((s, dir) =>
      Graph.triangles(domainCooccurrenceEdges(T(s, dir, "documents")),
        col("src"), col("dst"))),
    // HITS hubs/authorities beside x62's PageRank: fixed-point integer
    // L1 normalization, HitsRounds synchronous rounds
    "x141_hits" -> ((s, dir) =>
      Graph.hits(domainCooccurrenceEdges(T(s, dir, "documents")),
        col("src"), col("dst"), rounds = HitsRounds)),
    // chance-corrected agreement between the labeled lang column and the
    // x03 lang-id heuristic, per source — the scalar companion to x97's
    // confusion matrix (raw accuracy flatters majority-label sources)
    "x142_kappa" -> ((s, dir) =>
      Evaluation.kappaBy(
        TextAnalysis.withLangId(T(s, dir, "documents"), col("text")),
        col("source"), col("lang"), col("detected_lang"))),
    // degree assortativity of the co-occurrence graph: one-row structural
    // fingerprint (hub-to-hub vs hub-and-spoke) from four integer sums
    "x143_assortativity" -> ((s, dir) =>
      Graph.assortativity(domainCooccurrenceEdges(T(s, dir, "documents")),
        col("src"), col("dst"))),
    // cross-source quantile normalization of the x02 quality score: the
    // (source, score) → pooled-score-at-same-quantile mapping that makes
    // one corpus-wide threshold meaningful (x65 ranks WITHIN a source;
    // this aligns the sources against each other)
    "x144_quantile_normalize" -> ((s, dir) =>
      Distribution.quantileNormalize(
        T(s, dir, "documents").withColumn("__q",
          graft.text.TextAnalysis.qualityScore(col("text"))),
        col("source"), col("__q"))),
    // dominant principal direction of the embedding corpus (anisotropy /
    // all-but-the-top audit): global integer quantization, exact long
    // Gram accumulation, fixed-point power iteration
    "x145_dominant_pc" -> ((s, dir) =>
      graft.similarity.Pca.dominantComponent(T(s, dir, "embeddings"),
        "embedding", rounds = PcaRounds, scale = PcaScale)),
    // Welch's t per source vs rest over n_chars — the signed effect-size
    // companion to x137's KS distance, from one (n, Σx, Σx²) aggregate
    "x146_welch_t" -> ((s, dir) =>
      Comparison.welchT(T(s, dir, "documents"), col("source"),
        col("n_chars"))),
    // per-event-type burstiness: Fano factor of hourly counts over the
    // corpus hour spine (silent hours as zeros) — Poisson≈1, bursty≫1
    "x147_fano_burstiness" -> ((s, dir) =>
      Temporal.fanoFactor(T(s, dir, "events"), col("event_type"),
        col("ts"))),
    // EXACT shingle-Jaccard-threshold join via rare-first prefix
    // filtering — the zero-false-negative complement to x06's LSH. The
    // oracle states the naive all-pairs rule; the hash match proves the
    // prefix candidate generation loses no pair (the x50 blocking-proof
    // pattern)
    "x148_prefix_join" -> ((s, dir) =>
      Dedup.prefixJaccardJoin(T(s, dir, "documents"), col("doc_id"),
        col("text"), threshold = 0.5, gramWidth = 3)),
    // Heaps'-law vocabulary-growth fit (V ≈ K·nᵝ) over a 64-bucket
    // id-range curve — "is the next slice of this corpus still minting
    // new types?" beside x126's static Zipf rank fit
    "x149_heaps_fit" -> ((s, dir) =>
      graft.text.TfIdf.heapsFit(T(s, dir, "documents"), col("doc_id"),
        col("text"), buckets = 64)),
    // Mann–Whitney rank-sum per source vs rest over n_chars — the
    // moment-free member of the drift panel (x137 KS, x146 Welch):
    // doubled integer midranks, tie-corrected normal z
    "x150_mann_whitney" -> ((s, dir) =>
      Comparison.mannWhitney(T(s, dir, "documents"), col("source"),
        col("n_chars"))),
    // truncated rank-biased overlap (p=.5) between the x53 lexical and
    // semantic top-10 rankings — "how much do the two retrieval modes
    // agree?", top-weighted, per query
    "x151_rank_overlap" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "vector hash"), (2L, "stream merge sort"))
        .toDF("query_id", "query_text")
      val lex = graft.text.Bm25.topKBatch(T(s, dir, "documents"),
        col("doc_id"), col("text"), qs, col("query_id"), col("query_text"),
        k = 10)
      val emb = T(s, dir, "embeddings")
      val sem = Similarity.bruteForceKnn(emb,
          emb.filter(col("vec_id").isin(1L, 2L)), 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk"))
      graft.text.Fusion.rbo(lex, sem, k = 10, p = 0.5)
    }),
    // χ² discriminative tokens for the lang='en' document class — the
    // feature-selection table behind the x79 quality classifier's
    // vocabulary (integer 2×2 presence contingencies, bounded top-50)
    "x152_chi2_tokens" -> ((s, dir) =>
      graft.text.TfIdf.chiSqTokens(T(s, dir, "documents"), col("doc_id"),
        col("text"), col("lang") === "en", topK = 50, minDf = 5L)),
    // 1-D Wasserstein (earth-mover's) distance per source vs rest over
    // n_chars — the drift panel's magnitude member: "the length profile
    // moved by ~this many characters", where KS only says "it moved"
    "x153_wasserstein" -> ((s, dir) =>
      Comparison.wassersteinDrift(T(s, dir, "documents"), col("source"),
        col("n_chars"))),
    // the drift panel's decision layer: asymptotic KS p per source +
    // Benjamini–Hochberg step-up at FDR 5% — "WHICH feeds drifted",
    // not just by how much
    "x154_ks_fdr" -> ((s, dir) =>
      Comparison.ksFdr(T(s, dir, "documents"), col("source"),
        col("n_chars"), alpha = 0.05)),
    // maximal-marginal-relevance reranking of a brute-force cosine pool:
    // greedy 4-of-8 per query at λ=.5 — the diversity selector that keeps
    // near-dup candidates from being PICKED together
    "x155_mmr_rerank" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val pool = Similarity.bruteForceKnn(emb,
          emb.filter(col("vec_id").isin(1L, 2L, 3L)), 8)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("cosine").as("rel"))
      Similarity.mmrRerank(pool, emb, selectK = 4, lambda = 0.5)
    }),
    // Krippendorff's alpha over THREE lang raters (declared label,
    // full-text detector, truncated-text detector on even ids) — the
    // multi-rater, missing-tolerant generalization of x142's kappa
    "x156_krippendorff" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val declared = docs.select(col("doc_id"), col("lang").as("r"))
      val full = TextAnalysis.withLangId(docs, col("text"))
        .select(col("doc_id"), col("detected_lang").as("r"))
      val trunc = TextAnalysis.withLangId(
          docs.filter(col("doc_id") % 2 === 0)
            .withColumn("text", substring(col("text"), 1, 200)),
          col("text"))
        .select(col("doc_id"), col("detected_lang").as("r"))
      Evaluation.krippendorffAlpha(
        declared.unionByName(full).unionByName(trunc),
        col("doc_id"), col("r"))
    }),
    // the x50 fuzzy pairs GRADED: Jaro–Winkler on every verified pair via
    // the native kernel (Spark has no Jaro family; semantics pinned to
    // DuckDB's jaro_winkler_similarity so the oracle is the reference)
    "x158_jw_pairs" -> ((s, dir) => {
      val names = T(s, dir, "documents").select(col("doc_id"),
        concat(lit("user_"), col("doc_id").cast("string")).as("name"))
      val p = ((col("doc_id") % length(col("name"))) + 1).cast("int")
      val typos = names.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("typo_id"),
          concat(col("name").substr(lit(1), p - 1),
            col("name").substr(p + 1, length(col("name")) - p)).as("typo_name"))
      graft.analytics.Joins.fuzzyJoinScored(names, col("doc_id"),
        col("name"), typos, col("typo_id"), col("typo_name"))
    }),
    // LSH banding planner: expected candidates + high-band recall per
    // (bands, rows) config, integrated against x115's MEASURED pair
    // histogram — pick b,r from this corpus, not folklore
    "x159_lsh_planner" -> ((s, dir) =>
      Dedup.lshPlanner(
        Dedup.thresholdSweep(T(s, dir, "documents"), col("doc_id"),
          col("text")),
        configs = Seq((4, 2), (8, 2), (8, 4), (16, 4), (32, 4), (16, 8)))),
    // Theil–Sen robust slope over the x126 zipf points (top-40 ln-ln
    // curve per source): the median-of-pairwise-slopes fit an outlier
    // head term can't drag the way it drags OLS
    "x160_theil_sen" -> ((s, dir) => {
      val counts = T(s, dir, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text")))
          .as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("__f"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("__f").desc, col("term").asc)
      val pts = counts.withColumn("__rnk", row_number().over(w))
        .filter(col("__rnk") <= 40)
        .select(col("source"), log(col("__rnk").cast("double")).as("__x"),
          log(col("__f").cast("double")).as("__y"))
      Correlation.theilSenByGroup(pts, col("source"), col("__x"), col("__y"))
    }),
    // stationary distribution of the a43 behavior chain: 8 power
    // iterations on round-6 probabilities from the uniform start —
    // where user behavior concentrates once transients wash out
    "x170_stationary_dist" -> ((s, dir) =>
      Temporal.stationaryDistribution(T(s, dir, "events"), "user_id", "ts",
        col("event_type"), order = Seq("event_id"), iters = 8)),
    // split-conformal quality floor: the ⌊α(n_cal+1)⌋-th smallest
    // calibration score guarantees P(new < thr) ≤ α distribution-free;
    // per-source flag rates far above α are calibrated drift alarms
    "x171_conformal_gate" -> ((s, dir) =>
      graft.analytics.Evaluation.conformalGate(T(s, dir, "documents"),
        col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")), alpha = 0.1)),
    // Sinkhorn transport plan between two sources' length profiles —
    // x153 (W₁) says HOW FAR apart, this says WHICH buckets to re-sample
    // to close the gap; 5 round-6-resynchronized scaling iterations
    "x172_sinkhorn_plan" -> ((s, dir) =>
      graft.analytics.Comparison.sinkhornPlan(T(s, dir, "documents"),
        col("source"), floor(col("n_chars") / 64), "src0", "src1",
        eps = 2.0, iters = 5)),
    // per-shard reproducibility manifest: order-independent md5-slice
    // checksum — "same data as last run" as a verifiable per-shard claim
    "x173_shard_manifest" -> ((s, dir) =>
      graft.sampling.Sharding.shardManifest(T(s, dir, "documents"),
        pmod(graft.sampling.Sampling.hashKey(col("doc_id"), lit("manifest")),
          lit(8L)), col("doc_id"), col("text"))),
    // Mondrian (per-group) conformal gate beside x171's global one: each
    // source calibrated against ITSELF, so a legitimately low-scoring
    // source doesn't alarm forever; same salt → identical cal/eval split.
    // α=0.25 (not x171's 0.1) so the per-group small-n regime is LIVE at
    // sf0.01 (~5 cal docs/source → k=1 for most, a few vacuous) instead
    // of every group reading null-thr — and 0.25·(n+1) exercises the
    // CAST-to-double oracle discipline on a value exact in both numeric
    // systems
    "x174_mondrian_gate" -> ((s, dir) =>
      graft.analytics.Evaluation.mondrianGate(T(s, dir, "documents"),
        col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")), alpha = 0.25)),
    // manifest DIFF — the run-over-run operator x173's artifact exists
    // for: run A drops shard 5 (missing_a), run B drops shard 9
    // (missing_b), loses ~1% of rows (count_drift) and reverses ~1% of
    // texts (checksum_drift: same count, same chars, different content);
    // untouched shards must read unchanged. 64 shards so each verdict
    // class is populated at sf0.01+
    "x175_manifest_diff" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val shard = pmod(
        graft.sampling.Sampling.hashKey(col("doc_id"), lit("manifest")),
        lit(64L))
      val runA = graft.sampling.Sharding.shardManifest(
        docs, shard, col("doc_id"), col("text"))
        .filter(col("shard") =!= 5L)
      val docsB = docs
        .filter(pmod(graft.sampling.Sampling.hashKey(col("doc_id"),
          lit("diffdrop")), lit(97L)) =!= 0L)
        .withColumn("text", when(pmod(graft.sampling.Sampling.hashKey(
          col("doc_id"), lit("diffmut")), lit(89L)) === 1L,
          reverse(col("text"))).otherwise(col("text")))
      val runB = graft.sampling.Sharding.shardManifest(
        docsB, shard, col("doc_id"), col("text"))
        .filter(col("shard") =!= 9L)
      graft.sampling.Sharding.manifestDiff(runA, runB)
    }),
    // Sinkhorn convergence meter for x172: per-round worst marginal
    // deviation per side — res_b is the live signal and must fall to the
    // rounding floor; a non-converged plan is now detectable, not silent
    "x176_sinkhorn_residual" -> ((s, dir) =>
      graft.analytics.Comparison.sinkhornResiduals(T(s, dir, "documents"),
        col("source"), floor(col("n_chars") / 64), "src0", "src1",
        eps = 2.0, iters = 5)),
    // AMS F2 / self-join-size audit over the token key (Zipfian — the
    // skew case): 64-counter tug-of-war estimate beside the exact
    // Σ c², the join-size answer a planner gets WITHOUT the skewed
    // groupBy. Coarse by design (std ≈ 0.18·F₂); the audit reports it
    "x177_ams_selfjoin" -> ((s, dir) =>
      Distribution.amsSelfJoinAudit(
        T(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
        col("tok"))),
    // one-permutation-hashing audit beside x168's b-bit one: Jaccard
    // recoverable from ONE hash pass per gram (16 densified bins) vs the
    // exact value, per verified candidate pair — the k-fold hashing-cost
    // cut of wide signatures, measured
    "x178_oph_minhash" -> ((s, dir) =>
      Dedup.ophEstimate(T(s, dir, "documents"), col("doc_id"),
        col("text"), bins = 16)),
    // hashing-trick collision audit: per hashed dimension, occupancy,
    // distinct-vocabulary load, and the NET signed weight surviving
    // cancellation — the "is 64 dims enough" dial, vocabulary-free
    "x179_feature_hashing" -> ((s, dir) =>
      graft.text.FeatureHash.collisionAudit(T(s, dir, "documents"),
        col("text"), dims = 64)),
    // competence-based curriculum plan: per epoch, the corpus slice at
    // difficulty percentile ≤ √(e/E) (n_chars as difficulty) — the
    // schedule sizes, from one spine pass, no per-epoch corpus copies
    "x180_curriculum" -> ((s, dir) =>
      graft.sampling.Curriculum.schedule(T(s, dir, "documents"),
        col("n_chars"), epochs = 5)),
    // vocabulary coverage curve from the count-of-counts spine: share of
    // token occurrences the top-k terms cover (k=1000 exercises the
    // vocab-size clamp on the synthetic corpus's 31-term vocabulary)
    "x181_vocab_coverage" -> ((s, dir) =>
      graft.text.TfIdf.vocabCoverage(T(s, dir, "documents"), col("text"),
        ks = Seq(5L, 10L, 20L, 1000L))),
    // greedy k-center coreset over the embedding table: 5 maximally
    // spread exemplars + the covering-radius sequence
    "x182_kcenter_coreset" -> ((s, dir) =>
      Similarity.kCenterCoreset(T(s, dir, "embeddings"), col("vec_id"),
        col("embedding"), k = 5)),
    // Poisson-bootstrap error bar on the mean document length: 32
    // hash-seeded replicates from one aggregate — the datacard number
    // WITH its uncertainty, no second pass, no RNG state
    "x183_bootstrap_ci" -> ((s, dir) =>
      graft.analytics.Evaluation.bootstrapCi(T(s, dir, "documents"),
        col("doc_id"), col("n_chars"))),
    // ARI + NMI between the ground-truth labels and the x105 IVF
    // assignment — the chance-corrected agreement panel purity can't
    // give (an all-one-cluster assignment games purity, not ARI)
    "x184_cluster_agreement" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val asg = Similarity.assignClusters(emb,
        emb.filter(col("vec_id") % 50 === 0))
      val j = asg.select(col("vec_id"), col("centroid_id"))
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      graft.analytics.Evaluation.clusterAgreement(j,
        col("label").cast("long"), col("centroid_id"))
    }),
    // Wald SPRT source vetting: walk each source in doc order
    // accumulating the defect-rate LLR (defect = under 45 tokens,
    // p0=0.3 vs p1=0.5, α=β=0.05); first crossing decides, and n_seen
    // is what the decision cost — populated accept/reject/undecided
    // across the 20 sources at sf0.01+
    "x185_sprt_gate" -> ((s, dir) =>
      graft.analytics.Evaluation.sprtGate(T(s, dir, "documents"),
        col("source"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))) < 45)),
    // Simple Good-Turing adjusted counts r* = (r+1)·N_{r+1}/N_r over the
    // count-of-counts spine — the unseen-mass reallocation KN discounting
    // builds on, as its own auditable face
    "x186_good_turing" -> ((s, dir) =>
      graft.text.TfIdf.goodTuring(T(s, dir, "documents"), col("text"),
        maxClasses = 10)),
    // vocabulary-richness asymptote: GT unseen mass P0 = N1/N and the
    // Chao1 lower bound on true vocabulary size — has the vocab budget
    // converged, from one spine aggregate
    "x187_vocab_richness" -> ((s, dir) =>
      graft.text.TfIdf.vocabRichness(T(s, dir, "documents"), col("text"))),
    // word2vec-style negative-sampling table: unigram^0.75 as
    // sqrt(c·sqrt(c)) (bit-reproducible, unlike pow) — rare-token boost
    // and head damping per vocabulary entry
    "x189_negative_sampling" -> ((s, dir) =>
      graft.text.TfIdf.negativeSamplingTable(T(s, dir, "documents"),
        col("text"))),
    // Count-Min point-query audit beside x177's AMS (F2) and a23's
    // Misra-Gries (top items): per top-20 term, exact count vs the
    // min-over-3-rows estimate from a deliberately tight 3x8 grid —
    // width 8 forces collisions on the synthetic vocabulary so the
    // overcount column actually exercises the bound
    "x190_cms_audit" -> ((s, dir) =>
      Distribution.cmsAudit(
        T(s, dir, "documents")
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
        col("tok"), depth = 3, width = 8, topK = 20)),
    // Fellegi-Sunter linkage weights: per-field m/u probabilities and
    // base-2 agreement/disagreement LLRs, m estimated on the x06
    // verified near-dup pairs, u on a deterministic offset-pair sample
    "x191_fellegi_sunter" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val matches = Dedup.nearDuplicates(docs, col("doc_id"), col("text"),
        threshold = 0.3).select(col("doc_a"), col("doc_b"))
      graft.analytics.Linkage.fieldWeights(docs, col("doc_id"), fsFields,
        matches, fsOffsetPairs(docs))
    }),
    // the APPLY face of x191: every LSH candidate pair scored by the
    // trained FS weights (cheap metadata) BESIDE its exact Jaccard
    // (expensive content) — the audit that says whether metadata FS can
    // pre-filter candidates before the content pass at scale
    "x195_fs_score" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // threshold 0.0 keeps EVERY banding candidate with its jaccard —
      // the same `scored` frame the oracle chain exposes
      val cands = Dedup.nearDuplicatesWide(docs, col("doc_id"),
        col("text"), threshold = 0.0, numHashes = 4, rowsPerBand = 2)
      val w = graft.analytics.Linkage.fieldWeights(docs, col("doc_id"),
        fsFields,
        cands.filter(col("jaccard") >= 0.3).select(col("doc_a"), col("doc_b")),
        fsOffsetPairs(docs))
      graft.analytics.Linkage.scorePairs(docs, col("doc_id"), fsFields, w,
          cands.select(col("doc_a"), col("doc_b")))
        .join(cands, Seq("doc_a", "doc_b"))
        .withColumn("content_match", col("jaccard") >= 0.3)
    }),
    // label-free clustering quality beside x105's purity and x184's
    // ARI/NMI: simplified silhouette per IVF cluster from the
    // nearest-vs-second-nearest centroid cosine distances
    "x197_silhouette" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.silhouetteByCluster(emb,
        emb.filter(col("vec_id") % 50 === 0))
    }),
    // TextRank keywords: PageRank over the adjacent-token co-occurrence
    // graph — centrality, not frequency; ranks are exact fixed-point
    // longs so the top-15 is a hash match, not a tolerance judgement
    "x198_textrank" -> ((s, dir) =>
      graft.text.Keywords.textRank(T(s, dir, "documents"), col("doc_id"),
        col("text"))),
    // leakage-safe categorical encoding: LOO target mean (null on
    // singletons) + smoothed shrinkage toward the global prior, target
    // = (lang = 'en') — the quality-classifier feature-prep step
    "x199_loo_encoding" -> ((s, dir) =>
      graft.analytics.Encoding.looTargetEncode(T(s, dir, "documents"),
        col("doc_id"), col("source"), (col("lang") === "en").cast("int"),
        smoothing = 10.0)),
    // per-source pass-rate gate with Wilson 95% bounds: small-sample
    // honesty a raw rate cut lacks (3-for-3 is not evidence; the lower
    // bound orders it correctly). pass = quality >= 0.75 and tau = 0.25
    // split the 20 sources 10/10 at sf0.01 with the nearest bounds
    // 0.234/0.267 — no decision near the cut
    "x202_wilson_gate" -> ((s, dir) =>
      Evaluation.wilsonGate(T(s, dir, "documents"), col("source"),
        TextAnalysis.qualityScore(col("text")) >= 0.75, tau = 0.25)),
    // freshness-decay weights (half-life 90d over a deterministic
    // doc_id%365 age) + the Kish effective-sample-size diagnostic per
    // source — how many equal-weight rows the decayed group is worth
    "x203_freshness_ess" -> ((s, dir) =>
      graft.sampling.Importance.freshnessEss(T(s, dir, "documents"),
        col("source"), col("doc_id") % 365, halfLifeDays = 90.0)),
    // chunk-level code-switch detection: every 40th doc gets a 25-token
    // German tail (deterministic fixture, mirrored in the oracle) that
    // whole-doc lang-id (x03) would average away; per-20-token-chunk
    // argmax surfaces it as a mixed doc
    "x204_code_switch" -> ((s, dir) =>
      TextAnalysis.codeSwitchReport(
        T(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 40 === 0,
            concat(col("text"), repeat(lit(" der die und nicht das"), 5)))
            .otherwise(col("text")).as("text")),
        col("doc_id"), col("text"), chunkTokens = 20)),
    // operating-point table for the x125 score/label pair: per distinct
    // score threshold the confusion matrix, P/R/F1 and Youden's J with
    // argmax flags — WHERE to cut the score, not just whether it ranks
    "x201_operating_point" -> ((s, dir) =>
      Evaluation.operatingPoints(T(s, dir, "documents"),
        TextAnalysis.qualityScore(col("text")), col("lang") === "en")),
    // B-cubed evaluation of entity resolution against the fixture's
    // KNOWN truth (rid div 3 = the real entity): per-record purity/
    // completeness — the ER metric a mega-merge cannot game. The scored
    // run resolves on 6-char TRUNCATED keys (a lossy upstream) so both
    // error modes are live: truncation breaks true matches (recall
    // ~0.77) and collides strangers (precision ~0.97); the exact-key
    // run scores a flat 1.0 here (x120's spec pins that equivalence)
    // the truncated-key resolution run is a PERSISTED fixture (the x123
    // discipline): in production the scored run is a stored table the
    // evaluator reads, so this face prices the contingency aggregate +
    // metric, not a re-resolution it would never do
    "x200_bcubed" -> ((s, dir) => {
      val asg = s.read.parquet(materializeFixture(s, "x200_assignments", dir) {
        graft.analytics.Entities.entityAssignments(
          entityRegistry(s, dir), col("rid"), substring(col("rkey"), 1, 6))
      }).withColumn("truth_id", expr("rid div 3"))
      Evaluation.bcubed(asg, col("entity_id"), col("truth_id"))
    }),
    // exact KNN-Shapley data valuation (Jia et al. closed form): every
    // corpus vector's Shapley value for a 3-NN classifier utility over
    // the 8-probe test set — negative-value rows are the curation
    // targets (mislabeled / off-distribution points)
    "x205_knn_shapley" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      graft.analytics.Valuation.knnShapley(
        emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8),
        col("vec_id"), col("label"), col("embedding"),
        col("vec_id"), col("label"), col("embedding"), k = 3)
    }),
    // blocking-strategy audit for the x200 lossy upstream (6-char
    // truncated keys): reduction ratio / pairs completeness / pairs
    // quality, all from size histograms — no pair ever enumerated
    "x206_blocking_audit" -> ((s, dir) =>
      graft.analytics.Valuation.blockingAudit(entityRegistry(s, dir),
        col("rid"), substring(col("rkey"), 1, 6), expr("rid div 3"))),
    // normalization dedup ladder over a deterministically perturbed
    // corpus (the x175 mutation-harness idiom — the clean fixture has no
    // duplicates, so each rung is fed its own perturbation class:
    // %17 exact copies, %7 case-mangled, %11 space-doubled, %13
    // punctuation-suffixed); the marginal column attributes dups to the
    // rung that first collapses them
    "x209_dedup_ladder" -> ((s, dir) =>
      graft.dedup.Dedup.normalizationLadder(
        perturbedCorpus(s, dir), col("text"))),
    // crawl-saturation estimate over the same perturbed corpus:
    // Good–Turing on the fingerprint spectrum — marginal_dup_rate is
    // the probability the NEXT crawled doc's content is already seen
    // (the "stop crawling this source" number), Chao1 bounds the true
    // distinct-content population the dedup'd corpus converges to
    "x225_dup_saturation" -> ((s, dir) =>
      graft.dedup.Dedup.dupSaturation(perturbedCorpus(s, dir), col("text"))),
    // homoglyph-spoof report: %19 docs re-enter the corpus with their
    // Latin a/e/o swapped for Cyrillic lookalikes — invisible to every
    // byte-level dedup key; the TR39-style skeleton fold pairs each
    // spoof with its original (pure-ASCII fixture, so the perturbation
    // IS the signal, the x175 mutation-harness idiom)
    "x208_homoglyphs" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val spoofed = d.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          translate(col("text"), "aeo", "аео").as("text"))
      graft.text.Confusables.spoofGroups(d.union(spoofed),
        col("doc_id"), col("text"))
    }),
    // TextTiling topic segmentation: per doc, the deepest inter-block
    // cohesion valley (20-token blocks, round-6 adjacent-block cosine,
    // Hearst ±2-neighborhood depth) — the content-aware cut table a
    // chunking policy reads instead of slicing mid-topic (x42's
    // fixed-window complement)
    "x207_texttiling" -> ((s, dir) =>
      graft.text.Segmentation.cutReport(T(s, dir, "documents"),
        col("doc_id"), col("text"), w = 20)),
    // column-encoding advisor: exact dictionary-vs-plain byte costs per
    // column (bit widths via integer bin-length, never float log2) —
    // the table-format encoding decision priced from the data before a
    // 100 TB rewrite commits to it. Low-cardinality source/lang must
    // read DICTIONARY; near-unique text must read PLAIN
    "x221_encoding_advisor" -> ((s, dir) =>
      graft.warehouse.Encoding.encodingAdvisor(T(s, dir, "documents"),
        Seq("source" -> col("source"), "lang" -> col("lang"),
          "text" -> col("text")))),
    // x207's EVALUATION face: planted topic seams — adjacent document
    // pairs concatenated, ground-truth seam = token count of the first
    // part — scored as deepest-valley cut vs the content-blind midpoint
    // baseline (the x104 recall idiom applied to segmentation). The
    // recall gap DECIDES whether tiling is worth its pass: on this
    // vocabulary-flat synthetic corpus the midpoint baseline wins
    // (similar-length pairs, no real topic shift) — the honest reading;
    // the spec pins the genuine-shift case where tiling wins
    "x220_segment_recovery" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val paired = d.filter(col("doc_id") % 2 === 0).alias("a")
        .join(d.alias("b"),
          col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("doc_id"),
          concat_ws(" ", col("a.text"), col("b.text")).as("text"),
          size(TextAnalysis.tokens(col("a.text"))).as("seam"))
      graft.text.Segmentation.boundaryRecovery(paired,
        col("doc_id"), col("text"), col("seam"), w = 20)
    }),
    // robust per-type telemetry outliers: median/MAD (exact percentile,
    // the a08 pairing) so the threshold is not dragged by the spikes it
    // hunts; flags |x − med| > 3·1.4826·MAD
    "x210_robust_outliers" -> ((s, dir) =>
      graft.analytics.Distribution.robustOutliers(T(s, dir, "events"),
        col("event_type"), col("value"), k = 3.0)),
    // sorted-neighborhood (SNM) blocking audit on the same registry +
    // truth as x206's hash-blocking audit — the two completeness numbers
    // side by side are the blocker-selection evidence
    "x211_sorted_neighborhood" -> ((s, dir) =>
      graft.analytics.Entities.sortedNeighborhood(entityRegistry(s, dir),
        col("rid"), col("rkey"), expr("rid div 3"), window = 5)),
    // zone-map pruning audit: min/max file statistics per bucket under
    // a hash layout vs the x39 z-order layout, and the bucket/row
    // fraction a value-range predicate can skip under each — the
    // measurable benefit the z-order write exists to buy
    "x218_zonemap_audit" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      // bits = 9: the smallest width holding the value domain (< 512),
      // so the bucket id's top bits carry LIVE value bands — at ZBits
      // (10) the leading interleave bits are all zero here and the
      // layout degenerates to 2 buckets
      val z = graft.warehouse.Layout.zValue(
        floor(col("value")).cast("long"), col("user_id"), bits = 9)
      val zb = graft.warehouse.Layout.zBucket(z, 9, numBuckets = 16)
      val hb = graft.sampling.Sampling.hashKey(col("event_id"),
        lit("layout")) % 16
      graft.warehouse.Layout.zoneMapAudit(ev, "hash", hb,
          col("value"), 100.0, 120.0)
        .unionByName(graft.warehouse.Layout.zoneMapAudit(ev, "zorder",
          zb, col("value"), 100.0, 120.0))
    }),
    // continuation stitching over a pagination fixture: every 23rd doc
    // (with >= 24 tokens) re-enters as two halves sharing an 8-token
    // seam; the tail→head boundary join names each (predecessor,
    // successor) pair for reassembly
    "x216_stitch" -> ((s, dir) => {
      val t0 = T(s, dir, "documents")
        .select(col("doc_id"),
          graft.text.TextAnalysis.tokens(col("text")).as("t"),
          col("text"))
      val sp = t0.filter(col("doc_id") % 23 === 0 && size(col("t")) >= 24)
        .withColumn("m", (size(col("t")) / 2).cast("int"))
      val parts = sp.select((col("doc_id") + 6000000L).as("doc_id"),
          array_join(slice(col("t"), lit(1), col("m") + 4), " ").as("text"))
        .union(sp.select((col("doc_id") + 7000000L).as("doc_id"),
          array_join(slice(col("t"), col("m") - 3,
            size(col("t")) - col("m") + 4), " ").as("text")))
      graft.dedup.Dedup.stitchCandidates(
        t0.select(col("doc_id"), col("text")).union(parts),
        col("doc_id"), col("text"), g = 8)
    }),
    // k-anonymity sweep over every QI subset (lang / source / 128-char
    // length band): which column combinations re-identify, from ONE
    // finest-grain scan + 7 tuple-frame aggregates
    "x217_qi_sweep" -> ((s, dir) =>
      Validation.qiSubsetSweep(T(s, dir, "documents"),
        Seq("lang" -> col("lang"), "source" -> col("source"),
          "len_bucket" -> floor(col("n_chars") / 128).cast("long")),
        k = 5)),
    // join-size estimate by universe (key-synchronized) sampling at a
    // 20 % key budget — the planner number BEFORE a 100 TB shuffle join,
    // audited against the exact Σ cA·cB (never the enumerated join)
    "x215_join_size" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      graft.analytics.Joins.joinSizeEstimate(
        ev.filter(col("event_type") === "click"), col("user_id"),
        ev.filter(col("event_type") === "purchase"), col("user_id"),
        sampleBuckets = 2000)
    }),
    // quality cut dialed by TOKEN retention: the exact round-6-spine
    // threshold keeping >= 60 % of corpus tokens, with the per-source
    // winners/losers report under that single global cut
    "x213_retention_cut" -> ((s, dir) => {
      val t = T(s, dir, "documents")
      graft.sampling.BudgetSelect.retentionCut(
        t.select(col("source"),
          graft.text.TextAnalysis.qualityScore(col("text")).as("q"),
          graft.text.TextAnalysis.tokenCount(col("text")).as("tk")),
        col("source"), col("q"), col("tk"), retain = 0.6)
    }),
    // stride-scheduled source interleave (start-time fair queueing,
    // integer ⌊√count⌋ temperature weights): every training prefix holds
    // each source near its target share — audited at 4 prefix sizes
    "x214_stride_interleave" -> ((s, dir) =>
      graft.sampling.Sharding.strideInterleave(T(s, dir, "documents"),
        col("doc_id"), col("source"),
        prefixes = Seq(64L, 256L, 1024L, 4096L))),
    // clipped-importance diagnostics on a fast-decay freshness weighting
    // (half-life 30 d over the x203 age construction): ESS before/after
    // the per-source p95 clip, kept-mass bias bound beside the gain
    "x212_weight_clip" -> ((s, dir) =>
      graft.sampling.Importance.clippedEss(
        T(s, dir, "documents").select(col("source"),
          graft.sampling.Importance.freshnessWeight(col("doc_id") % 365,
            lit(30.0)).as("w")),
        col("source"), col("w"), p = 0.95)),
    // epsilon-DP noisy release of per-source doc counts: hash-seeded
    // Laplace(1/0.8) + post-noise floor at 24 — true count kept beside
    // the noisy one as the audit face (production publishes noisy only)
    "x192_dp_release" -> ((s, dir) =>
      Validation.dpNoisyCounts(T(s, dir, "documents"), col("source"),
        eps = 0.8, threshold = 24.0)),
    // index-size planner: full delta-encoded posting lists priced under
    // LEB128 varints vs raw 8-byte ids, per doc-frequency band — bit
    // lengths via base-2 string conv, no float log at the band edges
    "x193_posting_bytes" -> ((s, dir) =>
      graft.text.Postings.compressionPlan(T(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // Burrows' delta stylometry: pairwise style distance between sources
    // over the top-15 corpus terms' z-scored relative frequencies — the
    // same-generator-two-names signal content overlap (x98) cannot see
    "x194_burrows_delta" -> ((s, dir) =>
      graft.text.Stylometry.burrowsDelta(T(s, dir, "documents"),
        col("source"), col("text"), topM = 15)),
    // compression-ratio proxy gate: char-bigram entropy per doc; every
    // 50th doc is replaced by a one-word wall (deterministic fixture,
    // mirrored in the oracle) that the word-level signals can miss but
    // a sub-0.25 implied compression ratio flags
    "x196_compress_gate" -> ((s, dir) =>
      TextAnalysis.bigramCompressionReport(
        T(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 50 === 0, repeat(lit("spam "), 40))
            .otherwise(col("text")).as("text")),
        col("doc_id"), col("text"), maxRatio = 0.25)),
    // tokenizer-swap audit: the corpus encoded under the 4-merge
    // incumbent vs the 8-merge candidate — per-source token-budget
    // shift and re-encode blast radius, the upgrade-decision numbers
    "x188_bpe_swap" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // greedy BPE with the deterministic tie-break is prefix-stable:
      // train(4) ≡ train(8).take(4), so one training run serves both
      val m8 = graft.text.Bpe.train(docs, col("text"), numMerges = 8)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.Bpe.swapAudit(docs, col("doc_id"), col("text"),
        col("source"), m8.take(4), m8)
    }),
    // b-bit minwise audit: Jaccard recoverable from the LOW 4 BITS of
    // each minhash slice vs the exact value, per verified candidate pair
    // — the 64x-smaller-signature storage trade, measured
    "x168_bbit_minhash" -> ((s, dir) =>
      Dedup.bBitEstimate(T(s, dir, "documents"), col("doc_id"),
        col("text"), hexChars = 1)),
    // diversity meter for x155: mean pairwise cosine of the pure top-4
    // vs the MMR-selected 4 per query — MMR must buy measurable
    // diversity, not just reorder
    "x169_rerank_diversity" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val pool = Similarity.bruteForceKnn(emb,
        emb.filter(col("vec_id").isin(1L, 2L, 3L)), 8)
      val top = pool.filter(col("rnk") <= 4)
        .select(col("query_id"), col("neighbor_id").as("doc_id"))
      val mmr = Similarity.mmrRerank(
        pool.select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("cosine").as("rel")),
        emb, selectK = 4, lambda = 0.5)
        .select(col("query_id"), col("doc_id"))
      Similarity.intraListSimilarity(top, emb)
        .withColumnRenamed("mean_sim", "mean_sim_top")
        .join(Similarity.intraListSimilarity(mmr, emb)
          .select(col("query_id"), col("mean_sim").as("mean_sim_mmr")),
          Seq("query_id"))
    }),
    // Benford first-digit audit of the event metric — integer-side digit
    // extraction (no float log10 at power-of-ten boundaries)
    "x164_benford" -> ((s, dir) =>
      graft.clean.Profile.benfordAudit(T(s, dir, "events"), col("value"),
        scaleDecimals = 2)),
    // lang-id decisiveness: top-vs-runner-up marker margin per detected
    // language, abstain rate below 2 hits — the gate's precision lever
    "x165_langid_margin" -> ((s, dir) =>
      TextAnalysis.langIdMargin(T(s, dir, "documents"), col("text"),
        minMargin = 2)),
    // Kaplan–Meier retention over user activity spans (right-censored
    // within 3 days of observation end) — the survival curve a naive
    // mean-lifetime dashboard biases low for new cohorts
    "x166_kaplan_meier" -> ((s, dir) =>
      Temporal.kaplanMeier(T(s, dir, "events"), col("user_id"), col("ts"),
        censorDays = 3)),
    // semi-structured extraction: get_json_object over the props column,
    // bucketed histogram with the null/malformed bucket kept visible
    "x167_json_props" -> ((s, dir) =>
      graft.clean.Profile.jsonFieldHistogram(T(s, dir, "events"),
        col("props"), "$.k", bucketWidth = 10L)),
    // padding-waste economics per candidate sequence-length bucket — the
    // measurement that picks batching edges instead of 2^k folklore
    "x162_padding_waste" -> ((s, dir) =>
      graft.sampling.Packing.paddingWaste(T(s, dir, "documents"),
        TextAnalysis.tokenCount(col("text")), edges = Seq(16, 32, 64, 128))),
    // one-row join-key skew profile + the measured p19 decision rule as
    // a verdict: count-of-counts Gini, hottest-key share, strategy
    "x163_skew_strategy" -> ((s, dir) =>
      Validation.skewStrategy(T(s, dir, "events"), col("user_id"))),
    // Hill tail-index per source over the top-20 term frequencies (the
    // templated per-source vocabulary is ~30 terms; the estimator needs
    // the (k+1)-th order statistic at every SF) — the
    // order-statistics twin of x126's regression slope; they disagree
    // exactly when template mass owns the mid-ranks
    "x161_hill_tail" -> ((s, dir) =>
      graft.text.TfIdf.hillTailIndex(T(s, dir, "documents"), col("source"),
        col("text"), k = 20)),
    // CUPED variance reduction: per-user morning activity (covariate)
    // against afternoon outcome, pooled theta, per-variant before/after
    // variances — how much A/B sample the covariate buys back
    "x157_cuped" -> ((s, dir) => {
      val units = T(s, dir, "events").groupBy(col("user_id"))
        .agg(round(sum(when(hour(col("ts")) < 12, col("value"))
          .otherwise(lit(0.0))), 6).as("x"),
          round(sum(when(hour(col("ts")) >= 12, col("value"))
            .otherwise(lit(0.0))), 6).as("y"))
      Evaluation.cuped(
        units.withColumn("variant", pmod(col("user_id"), lit(2L))),
        col("variant"), col("x"), col("y"))
    }),
    // difference-in-differences: per-user purchase value averaged into a
    // pre/post panel split at Jan 16, even user_ids "treated" — the
    // quasi-experimental sibling of x157 (same unit-frame contract);
    // Welch SE from the four cell variances
    "x227_did" -> ((s, dir) => {
      val up = T(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"),
          (col("ts") >= to_timestamp(lit("2024-01-16 00:00:00")))
            .as("post"))
        .agg(round(avg(col("value")), 6).as("y"))
      Evaluation.did(
        up.withColumn("treated", pmod(col("user_id"), lit(2L)) === 0L),
        col("treated"), col("post"), col("y"))
    }),
    // covariate-balance SMD audit for the x227 comparison: per-user
    // pre-period covariates (event count, mean value, error share),
    // logistic propensity from cnt_pre -> round-6 clamped IPW weights;
    // raw vs weighted standardized mean differences + Kish ESS per arm
    "x228_smd_balance" -> ((s, dir) => {
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val u = T(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("cnt_pre"),
          round(avg(when(col("ts") < cut, col("value"))), 6).as("val_pre"),
          round(avg(when(col("ts") < cut,
            when(col("event_type") === "error", 1.0).otherwise(0.0))), 6)
            .as("err_share"))
        .withColumn("t", pmod(col("user_id"), lit(2L)) === 0L)
        .withColumn("p", least(greatest(
          round(lit(1.0) / (lit(1.0) +
            exp(-(col("cnt_pre").cast("double") - 30.0) / 10.0)), 6),
          lit(0.000001)), lit(0.999999)))
        .withColumn("w", round(when(col("t"), lit(1.0) / col("p"))
          .otherwise(lit(1.0) / (lit(1.0) - col("p"))), 6))
      Evaluation.covariateBalance(u, col("t"), col("w"), Seq(
        "cnt_pre" -> col("cnt_pre").cast("double"),
        "val_pre" -> col("val_pre"),
        "err_share" -> col("err_share")))
        .orderBy(col("covariate"))
    }),
    // seasonal-naive forecast backtest: hourly mean value per event
    // type, yhat = the bucket 24h earlier (attached by a shifted-spine
    // JOIN, gap-safe), last week held out — MAE/RMSE/sMAPE plus MASE
    // scaled by the pre-cutoff seasonal-naive MAE
    "x229_seasonal_backtest" -> ((s, dir) =>
      graft.analytics.Temporal.seasonalBacktest(T(s, dir, "events"),
        col("event_type"), col("ts"), col("value"),
        to_timestamp(lit("2024-01-24 00:00:00")), seasonHours = 24)),
    // Flesch readability profile per source: regex-only word/sentence/
    // vowel-run syllable counts, round-6 per-doc scores, then one
    // map-side-combinable rollup (avg reading ease, FK grade, share of
    // docs under FRE 50)
    "x230_readability" -> ((s, dir) => {
      val r = graft.text.TextAnalysis.readability(
        T(s, dir, "documents").select(col("source"), col("text")),
        col("text"))
      val wps = col("n_words").cast("double") /
        col("n_sentences").cast("double")
      val spw = col("n_syllables").cast("double") /
        col("n_words").cast("double")
      r.groupBy(col("source")).agg(count(lit(1)).as("n_docs"),
        round(avg(when(col("n_words") > 0L, wps)), 6)
          .as("avg_words_per_sentence"),
        round(avg(when(col("n_words") > 0L, spw)), 6)
          .as("avg_syllables_per_word"),
        round(avg(col("fre")), 6).as("avg_fre"),
        round(avg(col("fk_grade")), 6).as("avg_fk_grade"),
        round(avg(when(col("fre") < 50.0, 1.0).otherwise(0.0)), 6)
          .as("hard_share"))
    }),
    // Bradley-Terry strengths over hourly dominance matches: event type
    // A "beats" B in an hour when its round-6 value total is strictly
    // higher; 10 fixed-point MM rounds (exact longs, the x62 pageRank
    // discipline) turn ~7k pairwise outcomes into one strength ranking
    "x231_bradley_terry" -> ((s, dir) => {
      val cells = T(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"),
          col("event_type").as("it"))
        .agg(round(sum(col("value")), 6).as("v"))
      val mt = cells.alias("a").join(cells.alias("b"),
          col("a.h") === col("b.h") && col("a.v") > col("b.v") &&
            col("a.it") =!= col("b.it"))
        .select(col("a.it").as("w"), col("b.it").as("l"))
      graft.analytics.Preference.bradleyTerry(mt, col("w"), col("l"),
        iterations = 10)
    }),
    // NDCG@10 of the x45 BM25 ranking against graded relevance (rel =
    // #distinct query terms the doc contains) — the position-sensitive
    // retrieval report card beside x09_recall and x71
    "x129_ndcg" -> ((s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      val qs = Seq((1L, "vector hash"), (2L, "stream merge sort"))
        .toDF("query_id", "query_text")
      val ranked = graft.text.Bm25.topKBatch(docs, col("doc_id"), col("text"),
        qs, col("query_id"), col("query_text"), k = 10)
      val qt = qs.select(col("query_id"),
        explode(TextAnalysis.tokens(col("query_text"))).as("term")).distinct()
      val rels = docs.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("term")).distinct()
        .join(broadcast(qt), "term")
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("rel"))
      graft.analytics.Evaluation.ndcg(
        ranked.select(col("query_id"), col("doc_id"), col("rnk")), rels, k = 10)
    }),
    // real RIFF/WAVE chunk-walk parsing over synthesized valid blobs —
    // the audio face of x13_real_headers (closed-form oracle: any
    // misread offset/endianness/pad rule breaks the hash)
    "x130_wav_headers" -> ((s, dir) =>
      MediaHeaders.parseAudioHeaders(s,
        MediaHeaders.synthesizeWav(s,
          T(s, dir, "documents").select(col("doc_id"))))),
    // real ISO-BMFF box-walk parsing over synthesized valid MP4s — the
    // VIDEO face beside x13 (images) and x130 (audio): ftyp brand,
    // mvhd timescale/duration, tkhd 16.16 presentation size; %13==5 is
    // audio-only (moov without trak → null dims, a real shape), %7==0
    // garbage. Closed-form oracle: any misread offset breaks the hash
    "x222_mp4_headers" -> ((s, dir) =>
      MediaHeaders.parseVideoHeaders(s,
        MediaHeaders.synthesizeMp4(s,
          T(s, dir, "documents").select(col("doc_id"))))),
    // frame census from the MP4 SAMPLE TABLES (trak→mdia→mdhd +
    // stbl/stts run-length walk): frame count, exact duration and
    // milli-fps — the numbers x15's frame-sampling budget needs, read
    // from container bytes instead of assumed; a zero-length tail run
    // at %30==0 exercises the (0, delta) entry
    "x223_frame_census" -> ((s, dir) =>
      MediaHeaders.parseFrameCensuses(s,
        MediaHeaders.synthesizeMp4WithSamples(s,
          T(s, dir, "documents").select(col("doc_id"))))),
    // label-noise audit (confident-learning screen): probes whose k=5
    // embedding neighbors out-vote their own label are mislabel
    // candidates; fixed probe set (vec_id < 200), exact-kNN oracle
    // tier, IVF as the documented corpus-scale probe
    "x224_label_noise" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.labelNoise(emb, emb.filter(col("vec_id") < 200),
        col("label"), k = 5)
    }),
    // l-diversity beside x107's k-anonymity: classes whose sensitive
    // attribute (lang) is near-homogeneous — the homogeneity attack
    "x131_l_diversity" -> ((s, dir) =>
      Validation.lDiversityViolations(T(s, dir, "documents"),
        Seq(col("source"),
          floor(col("n_chars") / 256).cast("long").as("len_bucket")),
        col("lang"), l = 3)),
    // margin-based bitext mining (ratio margin): best cross-side match
    // per probe, scored against both local kNN densities — hub vectors
    // score near 1, mutually-exceptional pairs score high
    "x124_bitext_margin" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      val src = emb.filter(col("vec_id") % 2 === 0)
      val tgt = emb.filter(col("vec_id") % 2 === 1)
      Similarity.bitextMargin(src, tgt, src.filter(col("vec_id") < 40), k = 4)
    }),
    // ranking power of the quality score against the lang='en' label:
    // exact Mann-Whitney AUC with midrank ties, long half-rank arithmetic
    "x125_classifier_auc" -> ((s, dir) =>
      graft.analytics.Evaluation.auc(T(s, dir, "documents"),
        TextAnalysis.qualityScore(col("text")), col("lang") === "en")),
    // per-source Zipf fit over each source's top-50 terms: the
    // one-number lexical-health signature (natural text ≈ −1)
    "x126_zipf_slope" -> ((s, dir) =>
      graft.text.TfIdf.zipfSlope(T(s, dir, "documents"), col("source"),
        col("text"), topK = 50)),
    // reliability table of the quality score as a probability: per-bin
    // confidence vs observed rate; ece_term sums to the ECE
    // capture-recapture crawl-coverage estimate: two independent hash
    // snapshots of the doc population (60% and 50%), Chapman estimator
    // + SE — the two-source twin of x225's one-crawl Chao1
    "x238_capture_recapture" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"))
      graft.dedup.Dedup.captureRecapture(
        d.filter(graft.sampling.Sampling.hashBucket(col("doc_id"),
          "cr1") < 6000),
        d.filter(graft.sampling.Sampling.hashBucket(col("doc_id"),
          "cr2") < 5000),
        col("doc_id"))
    }),
    // Horvitz-Thompson audit: size-proportional (PPS, p = value/200)
    // deterministic Poisson sample, per-type HT total vs the true total
    // the full frame still has, with the Poisson-design SE — the
    // "price corpus stats from the 20% you can afford to scan" gauge
    "x237_horvitz_thompson" -> ((s, dir) =>
      graft.sampling.Sampling.horvitzThompson(T(s, dir, "events"),
        col("event_type"), col("event_id"), col("value"),
        round(col("value") / 200.0, 6))),
    // Nelson-Aalen cumulative hazard on the SAME at-risk spine as
    // x166's Kaplan-Meier (shared riskSpine builder): is churn risk
    // front-loaded or flat — plus its variance and exp(-H) survival,
    // which needs no d=n special case where KM's product hits exact 0
    "x236_nelson_aalen" -> ((s, dir) =>
      graft.analytics.Temporal.nelsonAalen(T(s, dir, "events"),
        col("user_id"), col("ts"), censorDays = 3)),
    // Dawid-Skene truth inference over three synthetic raters of the
    // doc language: r1/r2 are reliable (sporadic 'zz' abstain-noise at
    // %7/%5), r3 is systematically useless ('zz' except %3) — EM learns
    // the confusion matrices and discounts r3 where majority vote can't
    "x234_dawid_skene" -> ((s, dir) =>
      graft.analytics.Crowd.dawidSkene(dsVotes(s, dir), col("item"),
        col("rater"), col("lab"), iterations = 4)),
    // per-rater quality from the SAME DS fit: r1/r2 read high posterior
    // agreement, the systematically-'zz' r3 reads low on both faces
    "x235_rater_quality" -> ((s, dir) =>
      graft.analytics.Crowd.raterQuality(dsVotes(s, dir), col("item"),
        col("rater"), col("lab"), iterations = 4)),
    // approximate-FD audit over orders: the key FD holds at g3 0, the
    // customer->status/priority candidates read their violation mass --
    // one exploded pass, three cascading hash aggregates, 4-row output
    "x233_fd_audit" -> ((s, dir) =>
      graft.clean.Profile.fdAudit(T(s, dir, "orders"), Seq(
        "o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderstatus",
        "o_custkey" -> "o_orderpriority",
        "o_orderstatus" -> "o_orderpriority"))),
    // Goh-Barabasi burstiness + memory per user over inter-event gaps:
    // the waiting-time fingerprint (human-bursty vs machine-regular)
    // beside x147's count-based Fano factor
    "x252_burstiness" -> ((s, dir) =>
      graft.analytics.Temporal.burstiness(T(s, dir, "events"),
        col("user_id"), col("ts"))),
    // negative-binomial overdispersion per event type on daily counts
    // (zero days inside the span count via the sum/sumsq identity) —
    // x147 Fano flags burstier-than-Poisson, this SIZES it
    "x250_nb_overdispersion" -> ((s, dir) =>
      graft.analytics.Temporal.nbOverdispersion(T(s, dir, "events"),
        col("event_type"), col("ts"))),
    // MMD two-sample test between label-0 and label-1 embeddings
    // (capped 100 each, RBF sigma^2 = dim): the vector-space drift
    // test beside the scalar KS/Wasserstein faces
    "x249_mmd" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      def grp(l: Int) = emb.filter(col("label") === l)
        .orderBy(col("vec_id")).limit(100)
      graft.analytics.Drift.mmd(grp(0), grp(1), col("embedding"),
        sigma2 = 64.0)
    }),
    // Monroe 'Fightin' Words': the statistically honest "which words
    // distinguish en from the rest" — informative-Dirichlet log-odds
    // z-scores, top 15 each way (the modern replacement for x152's chi2)
    "x248_fightin_words" -> ((s, dir) =>
      graft.text.Stylometry.fightinWords(T(s, dir, "documents"),
        col("text"), col("lang") === "en")),
    // restricted mean survival time over x166's KM curve: of the next
    // 14 days, how many does a user survive in expectation — the one
    // number a retention dashboard wants from the whole curve
    "x247_rmst" -> ((s, dir) =>
      graft.analytics.Temporal.rmst(T(s, dir, "events"), col("user_id"),
        col("ts"), censorDays = 3, tauDays = 14)),
    // RFM segmentation without the global-ntile cliff: exact quintile
    // breaks off per-metric value spines (integer k thresholds), ties
    // share a score, rule-based segments in fixed CASE order
    "x246_rfm" -> ((s, dir) =>
      graft.analytics.Ranking.rfm(T(s, dir, "events"), col("user_id"),
        col("ts"), col("value"), col("event_type") === "purchase")),
    // Qini uplift curve: pre-period activity as the targeting score,
    // even-user treatment, post-period purchase as response — the
    // incremental-conversions-vs-random curve that scores a model
    // claiming to FIND the responsive users
    "x245_qini" -> ((s, dir) => {
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val u = T(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("score"),
          max(when(col("ts") >= cut && col("event_type") === "purchase",
            1.0).otherwise(0.0)).as("y"))
      graft.analytics.Evaluation.qiniCurve(
        u.withColumn("t", pmod(col("user_id"), lit(2L)) === 0L),
        col("score"), col("t"), col("y"))
    }),
    // multi-touch attribution: each purchase's credit spread over the
    // user's view/click touches in the 24h lookback under four models
    // at once (first/last/linear/U-shaped) — which upstream channel
    // earns the budget, with the unattributable gap visible
    "x244_attribution" -> ((s, dir) =>
      graft.analytics.Funnel.attribution(T(s, dir, "events"),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        Seq("view", "click"), "purchase", lookbackHours = 24)),
    // Gumbel EVT return levels from daily block maxima: the threshold
    // this metric exceeds ~once per 30/365 days — what an alert
    // threshold should BE, sized for the tail not yet seen
    "x243_gumbel" -> ((s, dir) =>
      graft.analytics.Alerts.gumbelReturnLevels(T(s, dir, "events"),
        col("event_type"), col("ts"), col("value"))),
    // Mann-Kendall monotone-trend test on the hourly series (the
    // WHETHER to x160 Theil-Sen's HOW STEEP): integer S and
    // tie-corrected variance, continuity-corrected z, 5% verdict
    "x242_mann_kendall" -> ((s, dir) => {
      val series = T(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(round(avg(col("value")), 6).as("v"))
      Correlation.mannKendall(series, col("event_type"), col("h"),
        col("v"))
    }),
    // empirical-Bayes beta-binomial shrinkage of the per-source
    // lang=en rate: MoM Beta prior over the 20 source rates, posterior
    // means — the leaderboard fix where a 2/2 source outranks 950/1000
    "x241_eb_shrinkage" -> ((s, dir) =>
      graft.analytics.Distribution.ebShrinkRates(
        T(s, dir, "documents"), col("source"), col("lang") === "en")),
    // quantile treatment effect on the x227 comparison: per-decile
    // exact order-stat difference of purchase value between arms — the
    // distributional story one mean (did) cannot tell
    "x240_qte" -> ((s, dir) =>
      graft.analytics.Evaluation.quantileTreatmentEffect(
        T(s, dir, "events").filter(col("event_type") === "purchase"),
        pmod(col("user_id"), lit(2L)) === 0L, col("value"))),
    // Platt scaling of the same score/label as x232: 5 full Newton
    // steps (one 5-sum aggregate + a closed-form 2x2 solve each, round-6
    // params per step) — the parametric calibration beside x232's
    // isotonic fit, with mean NLL as the comparable loss
    "x239_platt" -> ((s, dir) =>
      graft.analytics.Evaluation.plattScaling(T(s, dir, "documents"),
        round(TextAnalysis.qualityScore(col("text")), 6),
        col("lang") === "en", iterations = 5)),
    // isotonic (PAV) calibration of the quality score against lang=en
    // per source, on a round-2 score spine (caps the minimax self-join
    // at 101 spine rows per group) — the learned-bin upgrade of x127's
    // fixed-bin reliability table
    "x232_isotonic" -> ((s, dir) =>
      graft.analytics.Evaluation.isotonicCalibration(
        T(s, dir, "documents"), col("source"),
        round(TextAnalysis.qualityScore(col("text")) * 100).cast("long"),
        col("lang") === "en")),
    "x127_calibration" -> ((s, dir) =>
      graft.analytics.Evaluation.calibration(T(s, dir, "documents"),
        TextAnalysis.qualityScore(col("text")), col("lang") === "en")),
    "x121_mojibake" -> ((s, dir) => {
      val tx = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(MojibakeSuffixA)))
        .when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(MojibakeSuffixB)))
        .otherwise(col("text"))
      T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.mojibakeHits(tx).as("mojibake_hits"))
        .withColumn("is_mojibake", col("mojibake_hits") > 0)
    }),
    // verified-Jaccard histogram + descending cumulative over ALL LSH
    // candidates: how many pairs each threshold would merge, in one pass
    "x115_threshold_sweep" -> ((s, dir) =>
      Dedup.thresholdSweep(T(s, dir, "documents"), col("doc_id"),
        col("text"))),
    // duplicate-cluster size histogram over the WHOLE corpus (singletons
    // included): the datacard breakdown behind "dedup drops N rows"
    "x112_dup_inflation" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val clusters = Dedup.duplicateClusters(
        Dedup.nearDuplicates(docs, col("doc_id"), col("text"), threshold = 0.3))
      Dedup.dupInflation(docs, col("doc_id"), clusters)
    }),
    // top-10 heaviest user keys + global skew ratio — the measurement
    // that decides plain shuffle vs AQE-skew vs the salted twins
    "p19_key_skew" -> ((s, dir) =>
      Validation.keySkewAudit(T(s, dir, "events"), col("user_id"), topK = 10)),
    // SCD Type-2 dimension from the event stream: versioned validity
    // ranges of each user's event_type state (p16's change points +
    // lead-closed intervals)
    "j12_scd2_dim" -> ((s, dir) =>
      graft.warehouse.StarSchema.scd2(T(s, dir, "events"), key = "user_id",
          time = "ts", order = Seq(col("ts"), col("event_id")),
          attrs = Seq(col("event_type")))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("effective_from")).as("ef_us"),
          unix_micros(col("effective_to")).as("et_us"),
          col("is_current"), col("version"))),
    // interval×interval overlap join: per-user daily activity spans vs
    // two fixed maintenance windows per day — bucketed equi-join with
    // ownership dedup, never a BroadcastNestedLoop theta join
    "j11_overlap_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val spans = ev
        .groupBy(col("ts").cast("date").as("day"), col("user_id"))
        .agg(min(col("ts")).as("span_start"), max(col("ts")).as("span_end"))
      val windows = spans.select(col("day")).distinct()
        .select(col("day"), explode(array(
          struct(lit(1L).as("window_id"),
            (col("day").cast("timestamp") + expr("INTERVAL 2 HOURS"))
              .as("w_start"),
            (col("day").cast("timestamp") + expr("INTERVAL 6 HOURS"))
              .as("w_end")),
          struct(lit(2L).as("window_id"),
            (col("day").cast("timestamp") + expr("INTERVAL 14 HOURS"))
              .as("w_start"),
            (col("day").cast("timestamp") + expr("INTERVAL 18 HOURS"))
              .as("w_end")))).as("w"))
        .select(col("day"), col("w.window_id"), col("w.w_start"),
          col("w.w_end"))
      Temporal.intervalOverlapJoin(spans, windows, "day",
          "span_start", "span_end", "w_start", "w_end",
          grainSeconds = 21600)
        .select(col("day"), col("user_id"),
          col("r_window_id").as("window_id"),
          unix_micros(col("overlap_start")).as("overlap_start_us"),
          unix_micros(col("overlap_end")).as("overlap_end_us"),
          col("overlap_us"))
    }),
    // event-time disorder vs arrival order — the measurement that picks
    // a streaming watermark delay (p19's sibling for the time axis)
    "p20_disorder_audit" -> ((s, dir) =>
      Validation.disorderAudit(T(s, dir, "events"), col("user_id"),
        col("ts"), order = Seq(col("event_id")))),
    // per-user event-type Markov matrix: every path and its mass (the
    // funnel asserts one path; this shows all of them)
    "a43_transition_matrix" -> ((s, dir) =>
      Temporal.transitionMatrix(T(s, dir, "events"), "user_id", "ts",
        col("event_type"), order = Seq("event_id"))),
    // weekly cohort retention matrix: share of each first-seen-week
    // cohort still active at each week offset
    "a44_cohort_retention" -> ((s, dir) =>
      Temporal.cohortRetention(T(s, dir, "events"), col("user_id"),
        col("ts"))),
    // where the a31 funnel leaks TIME: per-transition delay count /
    // median / p90 between qualifying timestamps
    "a45_funnel_timing" -> ((s, dir) =>
      graft.analytics.Funnel.funnelTiming(T(s, dir, "events"),
        col("user_id"), col("ts"), col("event_type"),
        Seq("view", "click", "purchase"))),
    // quantity-weighted median price per return flag: RANGE-frame cumsum
    // (ties summed together), integral weights so the crossing is exact
    "a46_weighted_median" -> ((s, dir) =>
      Aggregates.weightedMedian(T(s, dir, "lineitem"),
        Seq(col("l_returnflag")), col("l_extendedprice"), col("l_quantity"))),
    // per-type winsorization at the exact [p05, p95]: clip, don't drop
    "p18_winsorize" -> ((s, dir) =>
      Validation.winsorize(T(s, dir, "events"), col("event_type"),
          col("value"), pLow = 0.05, pHigh = 0.95)
        .select(col("event_id"), col("event_type"), col("clipped"),
          col("was_clipped"))),
    // counter-reset audit per user: consecutive decreases + largest drop
    "a42_counter_monotonic" -> ((s, dir) =>
      Temporal.monotonicityAudit(T(s, dir, "events"), "user_id", "ts",
        col("value"), order = Seq("event_id"))),
    // variance-optimal (Neyman) sampling allocation per type — the
    // estimator-variance counterpart of x102's fairness water level
    "x109_neyman_alloc" -> ((s, dir) =>
      graft.sampling.BudgetSelect.neymanAllocation(T(s, dir, "events"),
        col("event_type"), col("value"), budget = 1000L)),
    // duration-weighted mean per type — the correct average for sampled
    // state signals (row means are cadence artifacts)
    "a41_time_weighted" -> ((s, dir) =>
      Temporal.timeWeightedMean(T(s, dir, "events"), "event_type", "ts",
        col("value"), order = Seq("event_id"))),
    // sub-k quasi-identifier classes over (lang, source, length bucket) —
    // the re-identification audit beside the x31 PII scrub
    "x107_k_anonymity" -> ((s, dir) =>
      Validation.kAnonymityViolations(T(s, dir, "documents"),
        Seq(col("lang"), col("source"),
          floor(col("n_chars") / 128).cast("long").as("len_bucket")), k = 5)),
    // purity of the x17 nearest-centroid clusters vs the embeddings'
    // ground-truth labels — the clustering report card beside x97
    "x105_cluster_purity" -> ((s, dir) => {
      val emb = T(s, dir, "embeddings")
      Similarity.clusterPurity(emb, emb.filter(col("vec_id") % 50 === 0),
        col("label"))
    }),
    // split-exchangeability χ²: doc-length distribution between the two
    // halves of a deterministic hash split (the pre-eval sanity gate)
    "x106_split_chisq" -> ((s, dir) =>
      graft.analytics.Drift.splitChiSquare(T(s, dir, "documents"),
        col("doc_id"), col("n_chars"), bucketWidth = 64, maxBucketIdx = 8,
        salt = "chisq", cutBuckets = 5000)),
    // recall of the production near-dup chain vs exhaustive truth on a
    // FIXED-ROW-COUNT hash sample, per Jaccard band — the x71 harness for
    // dedup. The dial is a target sampled-row count (not a corpus
    // fraction): the truth side is quadratic in the sample, so only a
    // fixed row count keeps the audit flat at 100 TB (a 20% fraction
    // measured 72.6× growth on 10× data)
    "x104_neardup_recall" -> ((s, dir) =>
      Dedup.recallAuditAdaptive(T(s, dir, "documents"), col("doc_id"),
        col("text"), threshold = 0.3, targetRows = RecallTargetRows)),
    // top-3 trending event types per hopping window (a34 hop + a ranking
    // window over the ALREADY-AGGREGATED (window, type) frame)
    "a40_trending" -> ((s, dir) => {
      val counts = Aggregates.hoppingAgg(T(s, dir, "events"), col("ts"),
        "1 hour", "30 minutes", Seq(col("event_type")),
        Seq(count(lit(1)).as("cnt")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("window_start"))
        .orderBy(col("cnt").desc, col("event_type").asc)
      counts.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(unix_timestamp(col("window_start")).as("ws"),
          col("event_type"), col("cnt"), col("rnk"))
    }),
    // two-proportion z-test of each source's quality-gate pass rate vs
    // the rest of the corpus — which feeds the x28 gate is biased against
    "x103_gate_bias" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val rep = graft.text.QualityRules.report(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("passes_all"))
      graft.analytics.Drift.proportionBias(
          docs.select(col("doc_id"), col("source")).join(rep, "doc_id"),
          col("source"), col("passes_all"))
        .select(col("group").as("source"), col("n").as("n_docs"),
          col("n_flagged").as("n_pass"), col("rate").as("pass_rate"),
          col("z"))
    }),
    // max-min-fair token allocation: the TokenBudget water level over
    // per-source capacities, closed form (no iteration)
    "x102_water_fill" -> ((s, dir) =>
      graft.sampling.BudgetSelect.waterFill(
          T(s, dir, "documents").groupBy(col("source"))
            .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long"))
              .as("cap")),
          col("source"), col("cap"), budget = TokenBudget)
        .withColumnRenamed("key", "source")),
    // strict local maxima ≥ 400 per event type (lag+lead share one sort)
    "a39_peaks" -> ((s, dir) =>
      graft.analytics.Alerts.localPeaks(T(s, dir, "events"),
          col("event_type"), Seq(col("ts"), col("event_id")), col("event_id"),
          col("value"), minHeight = 200.0)
        .withColumnRenamed("id", "event_id")
        .withColumnRenamed("key", "event_type")),
    // leakage-free LM eval: eval-split docs scored under TRAIN-split
    // counts with Laplace smoothing (x33's self-scoring is biased low)
    "x101_heldout_surprise" -> ((s, dir) =>
      graft.text.TfIdf.heldoutSurprise(T(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // the x98 matrix via 8-hash source minhash signatures: one
    // |sources|×8 aggregate, no gram-level join — the 100 TB face
    "x100_source_overlap_est" -> ((s, dir) =>
      Dedup.sourceOverlapEstimate(T(s, dir, "documents"), col("source"),
        col("text"), numHashes = 8)),
    // Spark's native session_window face of a18 — same strict-> boundary
    // as sessionize (an exact-duration gap still MERGES, spec-asserted);
    // only the reported end differs (last event + gap)
    "a38_session_window" -> ((s, dir) =>
      T(s, dir, "events").select(col("user_id"), col("ts"), col("value"))
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
          unix_micros(col("w.end")).as("session_end_us"), col("cnt"),
          col("sum_value"))),
    // top-5 bigram signature phrases per source (post-aggregate window)
    "x99_source_signatures" -> ((s, dir) =>
      graft.text.TfIdf.signaturePhrases(T(s, dir, "documents"),
        col("source"), col("text"), k = 5)),
    // warehouse referential audit: intact star relations report 0; the
    // even-orders relation is deliberately broken (mirrored in the
    // oracle) so the orphan-counting path is actually exercised
    "j14_ref_integrity" -> ((s, dir) => {
      val orders = T(s, dir, "orders")
      Validation.refIntegrity(Seq(
        ("lineitem->orders", T(s, dir, "lineitem"), "l_orderkey",
          orders, "o_orderkey"),
        ("orders->customer", orders, "o_custkey",
          T(s, dir, "customer"), "c_custkey"),
        ("customer->nation", T(s, dir, "customer"), "c_nationkey",
          T(s, dir, "nation"), "n_nationkey"),
        ("nation->region", T(s, dir, "nation"), "n_regionkey",
          T(s, dir, "region"), "r_regionkey"),
        ("lineitem->orders_even", T(s, dir, "lineitem"), "l_orderkey",
          orders.filter(col("o_orderkey") % 2 === 0), "o_orderkey")))
    }),
    // single change-point per event type: WHERE the mean shifted (a25's
    // CUSUM says THAT it shifted) — max variance-reduction split
    "a37_changepoint" -> ((s, dir) =>
      graft.analytics.Drift.changePoint(T(s, dir, "events"),
          col("event_type"), col("ts"), Seq(col("event_id")), col("value"),
          valueScale = 2)
        .withColumnRenamed("key", "event_type")
        .select(col("event_type"), col("split_idx"),
          unix_micros(col("split_ts")).as("split_t_us"), col("n"),
          col("score"))),
    // exact per-source-pair content Jaccard over distinct 8-gram sets —
    // corpus-level mirror detection where x80 counts near-dup DOC pairs
    "x98_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(T(s, dir, "documents"), col("source"),
        col("text"))),
    // market-basket lift over per-user event-type baskets: which event
    // types attract / repel within the same user population
    "a36_type_affinity" -> ((s, dir) =>
      Distribution.itemAffinity(T(s, dir, "events"), col("user_id"),
        col("event_type"))),
    // lang-id evaluated against the corpus's ground-truth labels:
    // (actual, predicted) cells + per-actual recall — x03's report card
    "x97_lang_confusion" -> ((s, dir) =>
      TextAnalysis.langConfusion(T(s, dir, "documents"), col("lang"),
        col("text"))),
    // deterministic per-source cap (bounded-heap top-k on the salted
    // hash): no source contributes more than 15 docs to the mixture
    "x96_group_cap" -> ((s, dir) =>
      graft.sampling.Sampling.capPerGroup(T(s, dir, "documents"),
          col("source"), col("doc_id"), cap = 15, salt = "cap")
        .select(col("id").as("doc_id"), col("group").as("source"))),
    // one-pass generic column profiler (SUMMARIZE shape) over the raw
    // events feed — the trust-a-new-feed gate before any cleaning rule
    "p15_profile" -> ((s, dir) =>
      graft.clean.Profile.profile(T(s, dir, "events"))),
    // per-sensor SLA rollup of the a26 gap rule: span, downtime from
    // >6 h silences, availability ratio; singleton keys report null
    "a33_availability" -> ((s, dir) =>
      Temporal.availability(T(s, dir, "events"), "user_id", "ts",
        minGapSeconds = 21600, order = Seq("event_id"))),
    // nearest-in-time join (either direction, ties favor the past) —
    // the sensor-fusion alignment beside j07's point-in-time backward face
    // TPC-H Q5-shaped star join: nation/region/supplier broadcast, two
    // corpus shuffles, date filter pushed to the orders scan; fixed-point
    // revenue → hash-exact
    // fact-fact join through BUCKETED tables: both sides pre-shuffled on
    // the join key at write time, so the join itself plans with no
    // exchange (ScaleSpec asserts the plan; this query proves the result
    // through the bucketed path). j13's fixed-point revenue discipline.
    "j15_bucketed_join" -> ((s, dir) => {
      val suf = Integer.toHexString(dir.hashCode)
      graft.warehouse.Bucketing.writeBucketed(
        T(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount")),
        s"graft_j15_lineitem_$suf", "l_orderkey", 8)
      graft.warehouse.Bucketing.writeBucketed(
        T(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        s"graft_j15_orders_$suf", "o_orderkey", 8)
      graft.warehouse.Bucketing.read(s, s"graft_j15_lineitem_$suf")
        .join(graft.warehouse.Bucketing.read(s, s"graft_j15_orders_$suf"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          (sum(round(col("l_quantity") * 100)) / 100).as("total_qty"),
          (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            10000)) / 10000).as("revenue"))
    }),
    // per-language AUC of the quality score against the en label: the
    // fairness slice — groups with one class report null, not 0.5
    "x128_auc_by_source" -> ((s, dir) =>
      graft.analytics.Evaluation.aucBy(T(s, dir, "documents"),
        col("source"), TextAnalysis.qualityScore(col("text")),
        col("lang") === "en")
        .withColumnRenamed("grp", "source")),
    "j13_region_revenue" -> ((s, dir) =>
      StarSchema.regionRevenue(T(s, dir, "lineitem"), T(s, dir, "orders"),
        T(s, dir, "customer"), T(s, dir, "supplier"), T(s, dir, "nation"),
        T(s, dir, "region"), regionName = "ASIA",
        fromDate = "1996-01-01 00:00:00", toDate = "1997-01-01 00:00:00")),
    "j12_asof_nearest" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
      Temporal.asofNearest(clicks, purchases, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("value"),
          unix_micros(col("near_ts")).as("near_t_us"),
          col("near_purchase_value").as("purchase_value"))
    }),
    // physical-plausibility screen: per-type first difference over elapsed
    // seconds, flagged at |rate| > 0.5/s; dt-0 ties are rate-null (a rate
    // across zero elapsed time is undefined, not infinite)
    "a32_rate_spikes" -> ((s, dir) =>
      graft.analytics.Alerts.rateSpikes(T(s, dir, "events"), col("event_type"),
          col("ts"), Seq(col("event_id")), col("event_id"), col("value"),
          threshold = 0.5)
        .withColumnRenamed("id", "event_id")
        .withColumnRenamed("key", "event_type")),
    "x28_quality_rules" -> ((s, dir) =>
      graft.text.QualityRules.report(T(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // monitoring face of the x28 gate: how the quality filter reshapes the
    // token-count distribution (PSI over fixed 64-token buckets) — one
    // corpus scan (the pass flag rides the report), bucket-keyed aggregate
    "x85_quality_gate_psi" -> ((s, dir) =>
      graft.analytics.Drift.psiGateShift(
        graft.text.QualityRules.report(T(s, dir, "documents"),
          col("doc_id"), col("text")),
        col("n_words"), col("passes_all"), bucketWidth = 64, maxBucketIdx = 16)),
    "x29_tfidf_topk" -> ((s, dir) =>
      graft.text.TfIdf.tfidfTopK(T(s, dir, "documents"),
        col("doc_id"), col("text"), k = 3)),
    "x30_vocab_stats" -> ((s, dir) =>
      graft.text.TfIdf.vocabStats(T(s, dir, "documents"),
        col("doc_id"), col("text"), topK = 20)),
    "x31_pii_redact" -> ((s, dir) => {
      // corpus text carries no PII, so inject deterministic emails/phones
      // for a subset of docs (PiiInjections — the shared table the oracle
      // renders too) — the scrub and the per-pattern counts are under test
      val docs = T(s, dir, "documents")
      val injected = PiiInjections.map { case (m, lead, pad, trail) =>
        val idPart = pad.fold(col("doc_id").cast("string")) {
          case (w, c) => lpad(col("doc_id").cast("string"), w, c)
        }
        when(col("doc_id") % m === 0, concat(lit(lead), idPart, lit(trail)))
          .otherwise(lit(""))
      }
      val withPii = docs.select(col("doc_id"),
        concat(col("text") +: injected: _*).as("text"))
      graft.text.Redact.scrub(withPii, col("doc_id"), col("text"))
    }),
    "x32_domain_stats" -> ((s, dir) => {
      // synthesize deterministic outlinks (DomainStatsRules — the shared
      // rule table the oracle renders too): the extraction + per-domain
      // aggregation is what's under test
      val docs = T(s, dir, "documents")
      graft.text.Urls.domainStats(urlEnrich(docs, DomainStatsRules),
        col("doc_id"), col("text"))
    }),
    "a08_approx_quartiles" -> ((s, dir) =>
      Aggregates.approxQuartilesWithin(T(s, dir, "events"),
        col("event_type"), col("value"))),
    "x33_unigram_surprise" -> ((s, dir) =>
      graft.text.TfIdf.unigramSurprise(T(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // interpolated bigram LM (0.75 bigram + 0.25 unigram back-off) — the
    // order-aware rung above x33 on the perplexity-gate ladder
    "x52_bigram_surprise" -> ((s, dir) =>
      graft.text.TfIdf.bigramSurprise(T(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // x52 with Kneser-Ney smoothing: the back-off mass goes to the
    // continuation probability (distinct-context counts), not raw
    // unigram frequency
    "x74_kn_surprise" -> ((s, dir) =>
      graft.text.TfIdf.kneserNeySurprise(T(s, dir, "documents"),
        col("doc_id"), col("text"))),
    // top collocations by pointwise mutual information — the
    // corpus-analysis face of the bigram tier
    "x54_pmi_collocations" -> ((s, dir) =>
      graft.text.TfIdf.pmiCollocations(T(s, dir, "documents"),
        col("doc_id"), col("text"), minCount = 2, topK = 50)),
    // corpus snapshot diff: before drops every 13th doc (-> added), after
    // drops every 11th (-> removed) and edits every 7th (-> changed);
    // fingerprints compare, text never crosses the join
    "x55_snapshot_diff" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val before = docs.filter(col("doc_id") % 13 =!= 0)
      val after = docs.filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [edited]")))
            .otherwise(col("text")).as("text"))
      graft.analytics.Comparison.snapshotDiff(before, after,
        col("doc_id"), col("text"))
    }),
    "x34_line_dedup" -> ((s, dir) => {
      // inject a shared two-line footer into a third of the docs; the
      // line-level pass must strip exactly those lines and keep the docs
      val docs = T(s, dir, "documents")
      val withBp = docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\nsubscribe to our newsletter for updates\nall rights reserved"))
            .otherwise(lit(""))).as("text"))
      graft.text.Boilerplate.dropBoilerplateLines(withBp,
        col("doc_id"), col("text"), maxDocs = 5)
    }),
    // a17 against the (type × hour-of-day) profile: catches readings
    // normal for the day but anomalous for their hour
    "a28_seasonal_outliers" -> ((s, dir) =>
      graft.analytics.Alerts.seasonalOutliers(T(s, dir, "events"),
          col("event_type"), hour(col("ts")), col("value"), 3.0)
        .select(col("event_id"), col("event_type"),
          hour(col("ts")).as("hr"))),
    "a17_zscore_outliers" -> ((s, dir) =>
      graft.analytics.Alerts.zscoreOutliers(T(s, dir, "events"),
          col("event_type"), col("value"), 3.0)
        .select(col("event_id"), col("event_type"))),
    // robust twin of a17: median/MAD instead of mean/stddev — immune to
    // the masking that lets an outlier cluster inflate its own stddev
    "a20_mad_outliers" -> ((s, dir) =>
      graft.analytics.Alerts.madOutliers(T(s, dir, "events"),
          col("event_type"), col("value"), 3.5)
        .select(col("event_id"), col("event_type"))),
    "x36_bm25_topk" -> ((s, dir) =>
      graft.text.Bm25.topK(T(s, dir, "documents"), col("doc_id"), col("text"),
        Bm25Terms, k = 25)),
    // batch face: a query TABLE scored in one corpus pass (the production
    // shape — literal isin terms don't scale past ad-hoc use)
    "x45_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "vector hash"), (2L, "stream merge sort"))
        .toDF("query_id", "query_text")
      graft.text.Bm25.topKBatch(T(s, dir, "documents"), col("doc_id"),
        col("text"), qs, col("query_id"), col("query_text"), k = 10)
    }),
    // hybrid retrieval: the x45 lexical ranking fused with a semantic
    // (cosine kNN) ranking for the same query ids by reciprocal rank —
    // rank domains are opaque to the fusion, raw scores never compared
    "x53_rrf_fusion" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "vector hash"), (2L, "stream merge sort"))
        .toDF("query_id", "query_text")
      val lex = graft.text.Bm25.topKBatch(T(s, dir, "documents"),
        col("doc_id"), col("text"), qs, col("query_id"), col("query_text"),
        k = 10)
      val emb = T(s, dir, "embeddings")
      val sem = Similarity.bruteForceKnn(emb,
          emb.filter(col("vec_id").isin(1L, 2L)), 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk"))
      graft.text.Fusion.rrfFuse(lex, sem, k = 10)
    }),
    // SemDeDup-style apply: LSH-bucketed cosine pairs (x11's candidate
    // shape) → greedy keep-lowest-id — the O(1)-round embedding dedup an
    // ε-ball semantic dedup actually wants (no transitive components).
    // The synthetic embeddings carry no true near-dups (max candidate
    // cosine ≈ 0.47), so every 20th vector gets an exact clone (mirrored
    // in the oracle); the bucketing, verify, and apply are under test.
    "x37_semantic_dedup" -> ((s, dir) => {
      val base = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val all = base.unionByName(base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      val cands = Similarity.cosineCandidates(all, col("vec_id"),
        col("embedding"), Planes6)
      val near = Dedup.cosinePairs(cands, col("va"), col("vb"))
        .filter(col("is_near_dup"))
      Dedup.greedySurvivors(all.select(col("vec_id")), col("vec_id"), near)
    }),
    // DSIR-style importance weights: every 10th doc stands in for the
    // target domain sample; the rest of the corpus is scored against it
    "x38_importance_weights" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.sampling.Importance.logRatioWeights(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        col("doc_id"), col("text"))
    }),
    // fastText-style two-class LLR quality filter: src0 docs are the
    // positive seeds, src1 the negative, and the rest of the corpus is
    // scored against the trained weight table (OOV tokens land on the
    // smoothed-zero constant, so disjoint-vocabulary docs still score)
    "x79_quality_classifier" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.text.Classifier.scoreLlr(
        docs.filter(col("source") =!= "src0" && col("source") =!= "src1"),
        col("doc_id"), col("text"),
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") === "src1"))
    }),
    // best-k docs per language by quality through the bounded-heap
    // aggregate — the corpus-curation face of the top-k kernel (x08/x43
    // use it for ANN; here groups are few and large, exactly where a
    // row_number window degenerates to one reducer per group)
    "x46_topk_per_group" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      graft.analytics.Ranking.topKPerGroup(docs, col("lang"),
          TextAnalysis.qualityScore(col("text")), col("doc_id"), k = 10)
        .select(col("group").as("lang"), col("id").as("doc_id"),
          col("score").as("quality"), col("rnk"))
    }),
    "x42_chunk_windows" -> ((s, dir) =>
      graft.text.Chunking.slidingChunks(T(s, dir, "documents"),
        col("doc_id"), col("text"), chunkTokens = 32, strideTokens = 24)),
    "x40_budget_select" -> ((s, dir) =>
      graft.sampling.BudgetSelect.selectUnderBudget(T(s, dir, "documents"),
        col("doc_id"), TextAnalysis.qualityScore(col("text")),
        TextAnalysis.tokenCount(col("text")), budget = TokenBudget)),
    // exact global percentile rank of the quality score without a global
    // sort — the x40 decomposition with one "token" per doc
    "x56_percentile_rank" -> ((s, dir) =>
      graft.sampling.BudgetSelect.percentileRanks(T(s, dir, "documents"),
        col("doc_id"), TextAnalysis.qualityScore(col("text")))),
    // split-integrity audit: near-dup pairs (x06's chain) whose members
    // landed in different train/val/test splits — eval leakage evidence
    "x57_split_leakage" -> ((s, dir) =>
      graft.sampling.Sampling.splitLeakage(
        Dedup.nearDuplicates(T(s, dir, "documents"), col("doc_id"),
          col("text"), threshold = 0.3), TrainSplit)),
    "x39_zorder_layout" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val z = graft.warehouse.Layout.zValue(
        floor(col("value")).cast("long"), col("user_id"), bits = ZBits)
      ev.select(col("event_id"), z.as("zval"),
        graft.warehouse.Layout.zBucket(z, ZBits, numBuckets = 16)
          .as("file_bucket"))
    }),
    // JL random projection 64 → 16 dims — the dim-reduction front of the
    // ANN tier (pure projection, planes pinned so DuckDB re-derives them)
    "x58_jl_projection" -> ((s, dir) =>
      graft.similarity.Reduce.jlProject(T(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), PlanesJL)),
    // per-dimension z-scores via merge-order-exact fixed-point moments
    "x59_embed_standardize" -> ((s, dir) =>
      graft.similarity.Reduce.standardizeDims(T(s, dir, "embeddings"),
        col("vec_id"), col("embedding"))),
    // delta-encoded inverted index through the bounded-heap aggregate —
    // at most maxPostings ids per term cross the shuffle per map task
    "x60_posting_lists" -> ((s, dir) =>
      graft.text.Postings.postingLists(T(s, dir, "documents"),
        col("doc_id"), col("text"), maxPostings = 32, minDf = 3)),
    // temperature-scaled (alpha = 0.3) per-source sampling weights and
    // implied epochs at a 200k-token training budget
    "x61_temperature_mix" -> ((s, dir) =>
      graft.sampling.Temperature.mixtureWeights(T(s, dir, "documents"),
        col("source"), TextAnalysis.tokenCount(col("text")), alpha = 0.3,
        budgetTokens = 200000L)),
    // domain-authority PageRank over the co-citation graph of synthetic
    // outlinks (x32's deterministic-link construction, mirrored in the
    // oracle): 5 fixed-point rounds, ranks exact integers so the
    // iterative float-free loop hash-matches across engines
    "x62_domain_pagerank" -> ((s, dir) =>
      Graph.pageRank(domainCooccurrenceEdges(T(s, dir, "documents")),
          col("src"), col("dst"), iterations = 5)
        .select(col("node").as("domain"), col("rank_fp"))),
    // 3-core of the same domain graph: synchronous peeling (8 bounded
    // rounds + honest converged flag) — the densely-interlinked kernel
    // star-shaped spam cannot fake, beside x62's authority and x78's
    // communities
    "x251_kcore" -> ((s, dir) =>
      Graph.kCore(domainCooccurrenceEdges(T(s, dir, "documents")),
        col("src"), col("dst"), k = 3, rounds = 8)
        .select(col("node").as("domain"), col("in_core"),
          col("peeled_round"), col("core_degree"), col("converged"))),
    // teleport restricted to the PprSeeds trust set: rank = authority as
    // seen FROM the seeds (linked-trust distance), same integer
    // fixed-point loop as x62
    "x95_personalized_pagerank" -> ((s, dir) =>
      Graph.personalizedPageRank(
          domainCooccurrenceEdges(T(s, dir, "documents")),
          col("src"), col("dst"), PprSeeds, iterations = 5)
        .select(col("node").as("domain"), col("rank_fp"))),
    // community labels over the same co-citation graph: CommunityRounds
    // synchronous majority rounds, min-label ties — the grouping behind
    // per-community sampling caps (a link farm is ONE community)
    "x78_domain_communities" -> ((s, dir) =>
      Graph.labelPropagation(domainCooccurrenceEdges(T(s, dir, "documents")),
          col("src"), col("dst"), rounds = CommunityRounds)
        .select(col("node").as("domain"), col("label").as("community"))),
    // CUBE over (event_type, hour): all grouping sets in one pass with the
    // grouping-id disambiguator — the OLAP subtotal surface
    "a22_cube_report" -> ((s, dir) =>
      T(s, dir, "events").withColumn("hour", hour(col("ts")))
        .cube(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value")), 2).as("sum_value"),
          grouping_id().cast("int").as("gid"))),
    // Misra-Gries heavy hitters: capacity 8 > 5 distinct event types, so
    // no decrement ever fires and the summary is EXACT — the oracle is the
    // plain exact count; eviction/merge bounds are spec-tested
    "a23_heavy_hitters" -> ((s, dir) => {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      val mg = graft.plans.MisraGries(
        ColumnBridge.expression(col("event_type")), capacity = 8)
      T(s, dir, "events")
        .agg(ColumnBridge.column(mg.toAggregateExpression()).as("__hh"))
        .select(explode(col("__hh")).as("e"))
        .select(col("e.item").as("item"), col("e.est_count").as("est_count"))
    }),
    // one BPE merge iteration's pair counting: corpus pass -> vocabulary,
    // pair explode over the VOCABULARY (never the corpus), ranked merges
    "x63_bpe_pairs" -> ((s, dir) =>
      graft.text.Bpe.pairCounts(T(s, dir, "documents"), col("text"),
        topK = 20)),
    // fixed-size per-language uniform sample through the bounded heap —
    // the oracle states the naive per-group hash-order window rule
    "x64_reservoir_sample" -> ((s, dir) =>
      graft.sampling.Sampling.reservoirSample(T(s, dir, "documents"),
          col("lang"), col("doc_id"), k = 25)
        .select(col("group").as("lang"), col("id").as("doc_id"), col("rnk"))),
    // per-source quality calibration: exact within-group percentile ranks
    // through the grouped x40 decomposition; oracle states the naive
    // per-group window rule
    "x65_source_calibration" -> ((s, dir) =>
      graft.sampling.BudgetSelect.percentileRanksByGroup(
          T(s, dir, "documents"), col("source"), col("doc_id"),
          TextAnalysis.qualityScore(col("text")))
        .select(col("group").as("source"), col("doc_id"), col("score"),
          col("rnk"), col("pct_rank"))),
    // irregular telemetry -> regular 6-hour grid with linear
    // interpolation, composed from the backward + forward as-of joins;
    // integer-microsecond ratio inputs keep both engines bit-identical
    "d24_resample_interpolate" -> ((s, dir) =>
      Temporal.resampleInterpolate(T(s, dir, "events"), "event_type", "ts",
        col("value"), stepSeconds = 21600L)),
    // D16's astral-fidelity face: NOAA per-lat/lon sunrise/sunset instead
    // of the fixed 06-18 window (ref Solar_Generation.py:110-125 via
    // astral). Stations assigned round-robin by event_id (the x32
    // synthetic-enrichment pattern, mirrored in the oracle). Sun times are
    // pure trig columns; the oracle mirrors the association order of every
    // expression, and outputs round at 6 dp (60 µs) so a 1-ulp libm
    // difference between engines can't flip the hash. Gate decisions
    // compare whole-second event times against sub-second sun times, so
    // no decision sits on a float boundary.
    "d25_astral_gate" -> ((s, dir) => {
      val st = col("event_id") % 3
      val ev = T(s, dir, "events")
        .withColumn("station_id",
          when(st === 0, "BSPP").when(st === 1, "KOSPP").otherwise("ZFSPP"))
        .withColumn("lat",
          when(st === 0, 24.4539).when(st === 1, 24.4764).otherwise(29.1097))
        .withColumn("lon",
          when(st === 0, 32.7469).when(st === 1, 32.9447).otherwise(32.5964))
      val (sr, ss) = graft.physics.SunTimes.sunriseSunsetUtcMinutes(
        to_date(col("ts")), col("lat"), col("lon"))
      val mins = graft.physics.SunTimes.minutesOfDayUtc(col("ts"))
      ev.withColumn("sr", sr).withColumn("ss", ss)
        .withColumn("gated",
          when(mins >= col("sr") && mins <= col("ss"), col("value"))
            .otherwise(0.0))
        .withColumn("is_day", mins >= col("sr") && mins <= col("ss"))
        .groupBy(col("station_id"))
        .agg(count(when(col("is_day"), 1)).as("day_rows"),
          round(sum(col("gated")), 2).as("sum_gated"),
          round(min(col("sr")), 6).as("min_sunrise"),
          round(max(col("ss")), 6).as("max_sunset"))
    }),
    // DISCO-style sparse all-pairs cosine: the df cap prunes the pair
    // fan-out structurally (a stop word can never go quadratic); weights
    // quantize at 1e-4 so sums are merge-order exact and the scale
    // cancels in the ratio. The fixture vocabulary is ~31 near-ubiquitous
    // terms (no rare-term signal exists), so deterministic topic/aspect
    // markers are appended (the x32 synthetic-enrichment pattern,
    // mirrored in the oracle) — docs sharing a marker pair up with
    // doc_len-varying cosines
    "x66_sparse_allpairs" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" topic"), (col("doc_id") % 25).cast("string"),
          lit(" aspect"), (col("doc_id") % 40).cast("string")).as("text"))
      graft.similarity.SparsePairs.tfidfPairs(docs,
        col("doc_id"), col("text"), maxDf = 25L, threshold = 0.05)
    }),
    // incremental ingestion dedup: every 20th doc re-arrives as a clone
    // (id + 100000, x37's pattern); the delta pass pairs the new batch
    // against corpus + batch without ever re-pairing old x old. Oracle:
    // the x06 chain over the union, filtered to new-touching pairs
    "x67_delta_neardup" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val newBatch = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.incrementalNearDuplicates(docs, newBatch, col("doc_id"),
        col("text"), threshold = 0.3)
    }),
    // Efraimidis-Spirakis weighted sampling without replacement, weights
    // = quality scores; oracle states the naive global-sort rule over the
    // same deterministic ln(u)/w keys
    "x68_weighted_sample" -> ((s, dir) =>
      graft.sampling.Sampling.weightedSample(T(s, dir, "documents"),
        col("doc_id"), TextAnalysis.qualityScore(col("text")), k = 100)),
    // INTRA-document repeats: every 25th doc gets the license block
    // stamped twice with filler between — the template/degenerate-
    // generation pattern a distinct-bigram ratio (x21) cannot see
    "x75_self_repeats" -> ((s, dir) =>
      Dedup.selfRepeatedSpans(selfRepeatEnrich(T(s, dir, "documents")),
        col("doc_id"), col("text"), minSpanTokens = 12)),
    // the per-doc gate over the same evidence: fraction of positions
    // covered by a repeated span's later occurrence
    "x76_repeat_fraction" -> ((s, dir) => {
      val enriched = selfRepeatEnrich(T(s, dir, "documents"))
      Dedup.selfRepeatFraction(enriched, col("doc_id"), col("text"),
        Dedup.selfRepeatedSpans(enriched, col("doc_id"), col("text"),
          minSpanTokens = 12))
    }),
    // cross-document substring-level dedup: plant two distinct ~20-token
    // boilerplate spans (every 40th doc gets the license block, every
    // 40th+7 the export-tool block — the x32 synthetic-enrichment
    // pattern), then extract every maximal shared span >= 12 tokens.
    // The oracle states the naive positional-gram rule; hash equality
    // proves the winnow-prefiltered two-stage plan drops no span.
    "x69_shared_spans" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val enriched = docs.select(col("doc_id"),
        when(col("doc_id") % 40 === 0,
            concat(col("text"), lit(" " + SharedSpan1)))
          .when(col("doc_id") % 40 === 7,
            concat(col("text"), lit(" " + SharedSpan2)))
          .otherwise(col("text")).as("text"))
      Dedup.sharedSpans(enriched, col("doc_id"), col("text"),
        minSpanTokens = 12)
    }),
    // the APPLY step of the substring tier: every span x69 finds is
    // removed from its higher-id copy (one surviving copy per duplicated
    // span, the Lee et al. rule), re-emitting the whole corpus with
    // token-level surgery done
    "x73_span_removal" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val enriched = docs.select(col("doc_id"),
        when(col("doc_id") % 40 === 0,
            concat(col("text"), lit(" " + SharedSpan1)))
          .when(col("doc_id") % 40 === 7,
            concat(col("text"), lit(" " + SharedSpan2)))
          .otherwise(col("text")).as("text"))
      val spans = Dedup.sharedSpans(enriched, col("doc_id"), col("text"),
        minSpanTokens = 12)
      Dedup.removeSpans(enriched, col("doc_id"), col("text"), spans)
    }),
    // surgical decontamination: the two planted x69 passages act as the
    // leaked benchmark set; every corpus copy of a probe span is excised
    // (unlike x73, where the lowest-id copy survives) while corpus-corpus
    // duplication is untouched. Probe ids sit below the shifted corpus
    // ids per the surgical() contract; the shift is undone on output.
    "x84_surgical_decontaminate" -> ((s, dir) => {
      import s.implicits._
      val docs = T(s, dir, "documents")
      val corpus = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 40 === 0,
            concat(col("text"), lit(" " + SharedSpan1)))
          .when(col("doc_id") % 40 === 7,
            concat(col("text"), lit(" " + SharedSpan2)))
          .otherwise(col("text")).as("text"))
      val probes = Seq((1L, SharedSpan1), (2L, SharedSpan2))
        .toDF("doc_id", "text")
      graft.dedup.Decontaminate.surgical(corpus, col("doc_id"), col("text"),
          probes, col("doc_id"), col("text"), minSpanTokens = 12)
        .select((col("doc_id") - 1000000L).as("doc_id"),
          col("text_clean"), col("n_removed"))
    }),
    // full BPE training loop: one corpus pass, then 8 vocabulary-sized
    // recount->argmax->re-segment rounds; the oracle replays the same 8
    // rounds in chained CTEs over the same literal-replace encoding
    "x70_bpe_train" -> ((s, dir) =>
      graft.text.Bpe.train(T(s, dir, "documents"), col("text"),
        numMerges = 8)),
    // tokenizer inference: the x70-trained merge table replayed over the
    // corpus as a map-only replace chain — the 8-row model collect is the
    // documented driver-held-model pattern (the merge table IS the model)
    "x72_bpe_encode" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = graft.text.Bpe.train(docs, col("text"), numMerges = 8)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.text.Bpe.encode(docs, col("doc_id"), col("text"), merges)
    })
  )

  /** Planted boilerplate spans for x69 — mirrored verbatim in the DuckDB
    * oracle ([[OracleSql]]).
    */
  /** One synthetic-URL enrichment rule of the x62/x78/x95 fixture: docs
    * with `doc_id % docMod == 0` gain a URL whose host is
    * `hostPrefix + (doc_id % hostMod) + hostSuffix` (a fixed host when
    * `hostMod == 0`). Defined ONCE and rendered both as Spark columns
    * ([[domainCooccurrenceEdges]]) and as the oracle's SQL CASE chain
    * (`OracleSql.DomainGraphChainSql`), so the graph construction cannot
    * drift between the two sides (the DomainGraphChainSql/
    * QualityRuleChain shared-definition pattern).
    */
  private[graft] final case class UrlEnrichRule(docMod: Long, lead: String,
      scheme: String, hostPrefix: String, hostMod: Long, hostSuffix: String,
      path: String, pathCarriesId: Boolean)

  private[graft] val UrlEnrichRules: Seq[UrlEnrichRule] = Seq(
    UrlEnrichRule(2, " see ", "https://", "site", 7, ".example.com", "/p/",
      pathCarriesId = true),
    UrlEnrichRule(3, " via ", "https://", "hub", 5, ".example.org", "/h",
      pathCarriesId = false),
    UrlEnrichRule(6, " and ", "http://", "cdn", 0, ".example.net", "/x",
      pathCarriesId = false))

  /** Renders one [[UrlEnrichRule]] as the Spark column appended to
    * `text` — the single Scala-side renderer behind both the x32 and the
    * x62/x78/x95 fixtures.
    */
  private def urlEnrichColumn(r: UrlEnrichRule): org.apache.spark.sql.Column = {
    val host =
      if (r.hostMod > 0)
        concat(lit(r.scheme + r.hostPrefix),
          (col("doc_id") % r.hostMod).cast("string"), lit(r.hostSuffix))
      else lit(r.scheme + r.hostPrefix + r.hostSuffix)
    val url =
      if (r.pathCarriesId)
        concat(host, lit(r.path), col("doc_id").cast("string"))
      else concat(host, lit(r.path))
    when(col("doc_id") % r.docMod === 0, concat(lit(r.lead), url))
      .otherwise(lit(""))
  }

  /** x31 fixture: deterministic PII injections, `(mod, lead, pad, trail)`
    * — docs with `doc_id % mod == 0` get `lead + id + trail` appended
    * (`pad = Some((w, c))` left-pads the id to width w with c). Shared
    * with the oracle's SQL renderer so the fixture exists once. Beyond
    * the two happy-path rows, the adversarial rows pin the Java/RE2
    * regex agreement by data: mixed-case email with dots/plus in the
    * local part and subdomains; a near-miss email (1-char TLD, must NOT
    * match) beside a real one with a trailing dot (greedy TLD must stop
    * before it); a minimum-length 9-digit phone; a dashed phone at the
    * exact `{7,}` boundary next to digit runs too short to match.
    */
  private[graft] val PiiInjections: Seq[(Int, String, Option[(Int, String)], String)] = Seq(
    (4, " contact user", None, "@example.com"),
    (5, " call +1 555 123 ", Some((4, "0")), ""),
    (7, " mail A.B+tag", None, "@Mail.Sub.Example.CO"),
    (9, " ref x@y.z or u", None, "@ex.com."),
    (11, " tel ", Some((9, "1")), ""),
    (13, " fax ", None, "-code 1234-5678"),
    (17, " short 12 34 x", None, ""))

  /** x113 fixture: surface forms of the same logical URL per group
    * (`doc_id / |variants|`) — one per canonicalization rule (host case,
    * trailing slash, www+fragment, default port, lone utm, utm beside a
    * real param) PLUS the adversarial rows that pin the Java/RE2
    * rule-for-rule agreement by data rather than authorship: mixed-case
    * scheme with `:80` and a case-preserved path, `:8080` (must survive
    * the `:80` rule), utm first+middle beside a trailing real param, a
    * fragment containing `?` (fragment rule must win), trailing-slash
    * runs, utm-only beside a fragment, and mixed-case scheme+www
    * together. `(prefix, suffix)` templates shared with the oracle's SQL
    * renderer so the fixture exists once.
    */
  private[graft] val MessyUrlVariants: Seq[(String, String)] = Seq(
    ("https://Example.com/a/", ""),
    ("https://example.com/a/", "/"),
    ("https://www.example.com/a/", "#sec"),
    ("https://example.com:443/a/", ""),
    ("https://example.com/a/", "?utm_source=x"),
    ("https://example.com/a/", "?id=1&utm_campaign=y"),
    ("HTTP://EXAMPLE.com:80/Path/", ""),
    ("https://example.com:8080/a/", ""),
    ("https://example.com/a/", "?utm_a=1&utm_b=2&id=3"),
    ("https://example.com/a/", "#frag?x=1"),
    ("https://example.com/a/", "///"),
    ("https://example.com/b", "?utm_only=1#f"),
    ("HTTPS://WWW.Example.COM/a/", ""))

  private def messyUrlColumn: org.apache.spark.sql.Column = {
    val n = MessyUrlVariants.size
    val g = floor(col("doc_id") / n).cast("long").cast("string")
    MessyUrlVariants.zipWithIndex.foldRight(lit(""): org.apache.spark.sql.Column) {
      case (((pre, suf), i), rest) =>
        when(col("doc_id") % n === i, concat(lit(pre), g, lit(suf)))
          .otherwise(rest)
    }
  }

  /** The x32 fixture enriches with the %2 and %6 rules only (one
    * id-parameterized host family + one fixed host) — shared with its
    * oracle via [[UrlEnrichRules]].
    */
  private[graft] val DomainStatsRules: Seq[UrlEnrichRule] =
    UrlEnrichRules.filterNot(_.docMod == 3)

  private def urlEnrich(docs: DataFrame, rules: Seq[UrlEnrichRule]): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text") +: rules.map(urlEnrichColumn): _*).as("text"))

  /** x62/x78 fixture: the synthetic-URL enrichment and the co-citation
    * edge frame (two domains linked when one doc cites both; both
    * directions present, multi-edges acting as weights).
    */
  private def domainCooccurrenceEdges(docs: DataFrame): DataFrame = {
    val withUrls = urlEnrich(docs, UrlEnrichRules)
    val dom = graft.text.Urls.extractDomains(withUrls, col("doc_id"),
      col("text")).distinct()
    dom.select(col("doc_id"), col("domain").as("src"))
      .join(dom.select(col("doc_id").as("__d2"), col("domain").as("dst")),
        col("doc_id") === col("__d2") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
  }

  /** x75/x76 fixture: stamp the license block twice into every 25th doc. */
  private def selfRepeatEnrich(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 25 === 0,
          concat(col("text"), lit(" " + SharedSpan1 + " " + SelfRepeatFiller +
            " " + SharedSpan1)))
        .otherwise(col("text")).as("text"))

  private[graft] val SelfRepeatFiller: String =
    "meanwhile unrelated narrative content continues between the stamps"

  private[graft] val SharedSpan1: String =
    "this corpus is distributed under the creative commons attribution " +
      "license and may be used for research purposes only without warranty"
  private[graft] val SharedSpan2: String =
    "the following section is auto generated boilerplate inserted by the " +
      "export tool and should be removed before model training begins"

  def oracleSql: Map[String, String] = OracleSql.all
}
