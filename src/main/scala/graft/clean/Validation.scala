package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The validation/cleaning operator family (SURVEY.md §2.2, P1-P5).
  *
  * All operators are plain narrow transformations except [[dedupeFirst]],
  * which shuffles once on its key columns — at 100 TB that shuffle is the
  * dominant cost, so dedup is expressed as a single window (one exchange,
  * no join-back) and the ordering column makes "keep first" deterministic,
  * unlike `dropDuplicates` whose survivor is partition-order dependent.
  */
object Validation {

  /** P1: fail fast if required columns are missing
    * (ref `Solar_Processing.py:15-18`).
    */
  def requireColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing required columns: ${missing.mkString(", ")}")
    df
  }

  /** P2: null-on-error numeric coercion (pandas `to_numeric(errors='coerce')`,
    * ref `Solar_Dashboard.py:111-114`). `try_cast` keeps rows, nulls bad cells.
    */
  def coerceNumeric(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumns(cols.map(c => c -> col(c).try_cast("double")).toMap)

  /** P3: conjunctive range-validation filter
    * (ref `Solar_Processing.py:23-26`, `Wind_Processing.py:30-34`).
    * Bounds as a map col -> (lo, hi), inclusive; keeps exactly the rows
    * that `col(c).between(lo, hi)` keeps.
    *
    * Each bound is one [[graft.plans.InRange]] over `col(c)` cast to
    * double, so the filter evaluates each bounded column once per row.
    * Catalyst pushes the filter below the projection that computes the
    * column and substitutes the column's defining expression into it; with
    * `between` that expression ran once per comparison, twice per row, so
    * on a JSON-decoded frame each bound re-parsed the message twice.
    *
    * Given up: the bounds are no longer pushed to the source as filters
    * (parquet row-group min/max, the CSV parser). Validation bounds are
    * physical limits that almost every row meets, so min/max pruning
    * almost never skips a row group for them.
    */
  def rangeFilter(df: DataFrame, bounds: Map[String, (Double, Double)]): DataFrame =
    if (bounds.isEmpty) df
    else df.filter(bounds.map { case (c, (lo, hi)) =>
      graft.plans.Native.inRange(col(c).cast("double"), lo, hi)
    }.reduce(_ && _))

  /** Dead-letter tagging: label each row with the FIRST failing rule's
    * name (rules checked in the given order), null when all pass. A null
    * rule result counts as failing — an unevaluable quality check must
    * land in the dead-letter stream, not silently pass. One narrow
    * projection; works identically on streams (no state).
    */
  def withRejectReason(df: DataFrame, rules: Seq[(String, Column)],
      outCol: String = "reject_reason"): DataFrame = {
    require(rules.nonEmpty, "no rules given")
    df.withColumn(outCol,
      rules.foldRight(lit(null).cast("string")) { case ((name, ok), rest) =>
        when(!coalesce(ok, lit(false)), lit(name)).otherwise(rest)
      })
  }

  /** Split into (valid, deadLetter) frames — the quarantine pattern: the
    * pipeline continues on `valid`, `deadLetter` keeps every original
    * column plus the reason for audit/replay. Both sides derive from one
    * tagged plan, so Catalyst shares the scan under either consumer.
    */
  def partitionValid(df: DataFrame, rules: Seq[(String, Column)]):
      (DataFrame, DataFrame) = {
    val tagged = withRejectReason(df, rules)
    (tagged.filter(col("reject_reason").isNull).drop("reject_reason"),
      tagged.filter(col("reject_reason").isNotNull))
  }

  /** P4: fill nulls with per-column defaults (ref `Solar_Processing.py:29-32`:
    * temp→25, humidity→50, pressure→1013.25).
    */
  def fillDefaults(df: DataFrame, defaults: Map[String, Any]): DataFrame =
    df.na.fill(defaults)

  /** P5: keyed deduplication, keep FIRST row per key by `order`
    * (ref `drop_duplicates(subset=["station_id","timestamp"])`,
    * `Solar_Processing.py:34`). Deterministic: ties broken by the full
    * `order` sequence, which callers should make unique.
    */
  def dedupeFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** P19: join/aggregation key-skew audit — the heaviest key values, each
    * with its corpus share, plus the global skew ratio (heaviest key ÷
    * mean key load). This is the measurement that DECIDES between a plain
    * shuffle, AQE skew handling, and an explicit salted twin (the library
    * ships salted faces — a02_salted_sum, j10 — precisely for the keys
    * this report surfaces); running it before a 100 TB join is the
    * difference between engineering and hoping.
    *
    * Shape: one grouped count; the top-K cut is `orderBy+limit`, which
    * Spark plans as TakeOrderedAndProject (per-partition bounded heaps,
    * merge on the driver) — NOT a global row_number window, which would
    * serialize every distinct key through one task, exactly the
    * single-reducer shape this audit exists to prevent. The rank column
    * is then a window over the ≤topK-row cut (dial-bounded, the
    * post-aggregate window contract); totals ride back as a 1-row
    * broadcast. The cut is deterministic: (cnt desc, key asc) is a total
    * order because keys are distinct after the aggregate.
    */
  def keySkewAudit(df: DataFrame, key: Column, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // |keys|-sized; top-k + stats both read it
    val stats = counts.agg(count(lit(1)).as("__nk"), sum(col("cnt")).as("__tot"),
      max(col("cnt")).as("__mx"))
    val top = counts.orderBy(col("cnt").desc, col("key").asc).limit(topK)
      .localCheckpoint(true) // ≤topK rows; pins the cut so the rank window
                             // below cannot re-derive it as a global sort
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("key").asc)
    top.withColumn("rnk", row_number().over(w))
      .crossJoin(broadcast(stats))
      .select(col("rnk"), col("key"), col("cnt"),
        round(col("cnt").cast("double") / col("__tot").cast("double"), 6)
          .as("share"),
        round(col("__mx").cast("double") /
          (col("__tot").cast("double") / col("__nk").cast("double")), 6)
          .as("skew_ratio"))
  }

  /** One-row join-key skew profile + strategy recommendation — the
    * measured p19 decision rule (PLANS.md skew A/B: at a ~30 %-hot-key
    * shape, broadcast > salt > AQE-skew > plain) turned into an operator,
    * so pipelines pick a join strategy from the key histogram instead of
    * discovering the straggler at 100 TB. Emits row count, distinct keys,
    * the hottest key's share, the Gini concentration of the key
    * distribution, and the rule's verdict.
    *
    * Scale shape: the Gini never sorts the |keys| frame — it reduces to
    * the COUNT-OF-COUNTS (one row per distinct multiplicity, bounded by
    * the count domain, not the key domain): a block of m keys each seen
    * c times occupies ranks r₀+1..r₀+m in the ascending order, so
    * Σrank·count = Σ_blocks c·(m·r₀ + m(m+1)/2) with r₀ a running sum
    * over the tiny frame. All longs until the two final divisions
    * (Σ c·m·D < 2⁶³ bounds N·D — shard the audit per partition key past
    * ~10⁹·10⁹; a skew PROFILE needs nothing like that resolution).
    */
  def skewStrategy(df: DataFrame, key: Column,
      hotShare: Double = 0.2, mildShare: Double = 0.05): DataFrame = {
    require(hotShare > mildShare && mildShare > 0.0,
      s"need hotShare > mildShare > 0, got ($hotShare, $mildShare)")
    val counts = df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
    val cc = counts.groupBy(col("cnt").as("c"))
      .agg(count(lit(1)).as("m"))
    val wAsc = org.apache.spark.sql.expressions.Window.orderBy(col("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val d = (x: Column) => x.cast("double")
    cc.withColumn("__r0", coalesce(sum(col("m")).over(wAsc), lit(0L)))
      .agg(sum(col("c") * col("m")).as("n"),
        sum(col("m")).as("n_keys"),
        max(col("c")).as("__mx"),
        // m(m+1) is even, so the halving is exact; floor() of the double
        // division keeps it integral (Spark `/` on longs is IEEE division)
        sum(col("c") * (col("m") * col("__r0") +
          floor((col("m") * (col("m") + 1L)).cast("double") / 2.0)
            .cast("long"))).as("__s"))
      .withColumn("top1_share", round(d(col("__mx")) / d(col("n")), 6))
      .withColumn("gini", round(
        lit(2.0) * d(col("__s")) / (d(col("n_keys")) * d(col("n"))) -
          (d(col("n_keys")) + 1.0) / d(col("n_keys")), 6))
      .select(col("n"), col("n_keys"), col("top1_share"), col("gini"),
        when(col("top1_share") >= hotShare, lit("broadcast_dim_else_salt"))
          .when(col("top1_share") >= mildShare, lit("aqe_skew_join"))
          .otherwise(lit("plain_shuffle_join")).as("strategy"))
  }

  /** P20: event-time disorder audit — the measurement that picks a
    * streaming watermark delay the way [[keySkewAudit]] picks a join
    * strategy. Within each key's ARRIVAL sequence (`order`: an ingest
    * sequence number — the per-partition offset a queue would give), a
    * row is "late" when its event time precedes the running max of what
    * already arrived; `late_us` is by how much. A watermark shorter than
    * the observed lateness tail silently drops those rows in every
    * stateful streaming operator; one longer than needed holds state.
    * Emits ONE row: totals, disorder fraction, max and p95 lateness.
    *
    * Shape: one KEY-partitioned running-max window (arrival order within
    * an entity/partition is where out-of-orderness is even defined — a
    * global cummax would both serialize the stream through one task and
    * measure cross-partition interleaving that watermarks don't care
    * about), then a single global aggregate. The p95 is exact
    * `percentile` for the oracle; `percentile_approx` at the 100 TB tier.
    */
  def disorderAudit(df: DataFrame, key: Column, ts: Column,
      order: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val us = unix_micros(ts)
    val lateUs = greatest(coalesce(max(us).over(w) - us, lit(0L)), lit(0L))
    df.select(lateUs.as("__late_us"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("__late_us") > 0).cast("long")).as("n_late"),
        round(sum((col("__late_us") > 0).cast("long")).cast("double") /
          count(lit(1)).cast("double"), 6).as("disorder_pct"),
        max(col("__late_us")).as("max_late_us"),
        // seconds at ms rounding: the engines' percentile lerps differ in
        // the last ulp of µs-scale values (the a45 discipline)
        round(percentile(col("__late_us"), lit(0.95)) / lit(1e6), 3)
          .as("p95_late_secs"))
  }

  /** P18: per-group winsorization — clip values to the group's exact
    * [pLow, pHigh] interpolated percentiles and flag what was clipped:
    * the robust-scaling cleaner for heavy-tailed sensor/metric columns
    * where [[rangeFilter]]'s fixed physical bounds are right for
    * impossibilities but wrong for legitimate-but-extreme tails (dropping
    * tails biases means; clipping preserves the row and bounds the
    * influence).
    *
    * Shape: one grouped exact-percentile aggregate to |groups| rows,
    * broadcast back, narrow clip — the [[graft.analytics.Alerts.zscoreOutliers]]
    * cost envelope (exact percentiles sort per group inside the
    * aggregate; at extreme group sizes swap in approx_percentile).
    */
  def winsorize(df: DataFrame, group: Column, value: Column,
      pLow: Double, pHigh: Double): DataFrame = {
    require(pLow >= 0 && pHigh <= 1 && pLow < pHigh,
      s"need 0 <= pLow < pHigh <= 1, got ($pLow, $pHigh)")
    val bounds = df.groupBy(group.as("__g"))
      .agg(percentile(value, lit(pLow)).as("__lo"),
        percentile(value, lit(pHigh)).as("__hi"))
    df.join(broadcast(bounds), group === col("__g"))
      .withColumn("clipped", round(least(greatest(value, col("__lo")),
        col("__hi")), 6))
      .withColumn("was_clipped", value < col("__lo") || value > col("__hi"))
      .drop("__g", "__lo", "__hi")
  }

  /** k-anonymity audit: equivalence classes of the quasi-identifier
    * columns with fewer than `k` members — the data-release check that
    * complements PII scrubbing ([[graft.text.Redact]]): a corpus can be
    * free of literal emails and still re-identify people through rare
    * attribute COMBINATIONS (the classic zip+birthdate+sex result), and
    * any class below k is such a fingerprint. Emits the violating classes
    * with their sizes; an empty result is the release criterion.
    *
    * Scale shape: one grouped count over the quasi columns (map-side
    * partials), one narrow filter — output is violation-sized.
    */
  def kAnonymityViolations(df: DataFrame, quasi: Seq[Column],
      k: Int): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2, got $k")
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("class_size"))
      .filter(col("class_size") < k)
  }

  /** k-anonymity SWEEP over every non-empty quasi-identifier SUBSET —
    * the audit [[kAnonymityViolations]] runs for one fixed QI tuple,
    * answered for all 2^m − 1 of them at once: which column
    * combinations actually re-identify, and how much each added column
    * costs in minimum class size. This is the question a release
    * reviewer asks ("is it lang+source that fingerprints people, or
    * only once length joins them?") and the anonymization dial it
    * yields is WHICH columns to generalize first.
    *
    * Scale shape: ONE corpus scan into the finest-grain class counts
    * (all m columns — localCheckpoint'd, |distinct tuples| rows), then
    * every subset aggregates THAT frame (the classic cube
    * decomposition), so 2^m − 1 reports cost one scan + 2^m − 1
    * tuple-frame aggregates. m is a dial (≤ 10 enforced); the subsets
    * union into a 2^m − 1-row report.
    */
  def qiSubsetSweep(df: DataFrame, quasi: Seq[(String, Column)],
      k: Int): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(quasi.size <= 10,
      s"subset sweep is exponential in columns: m <= 10, got ${quasi.size}")
    require(k >= 2, s"k must be >= 2, got $k")
    val names = quasi.map(_._1)
    val finest = df.select(quasi.map { case (n, c) => c.as(n) }: _*)
      .groupBy(names.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true) // every subset aggregate reads it
    val reports = (1 to names.size).flatMap(names.combinations).map { s =>
      finest.groupBy(s.map(col): _*)
        .agg(sum(col("__c")).as("__cs"))
        .agg(count(lit(1)).as("n_classes"),
          min(col("__cs")).as("min_class"),
          sum(when(col("__cs") < k, col("__cs")).otherwise(0L))
            .as("n_violating_records"),
          sum(col("__cs")).as("__n"))
        .select(lit(s.mkString("+")).as("qi_set"),
          lit(s.size).as("n_qi"), col("n_classes"), col("min_class"),
          col("n_violating_records"),
          round(col("n_violating_records").cast("double") /
            col("__n").cast("double"), 6).as("violation_rate"))
    }
    reports.reduce(_ unionByName _)
  }

  /** l-diversity audit: quasi-identifier classes whose SENSITIVE
    * attribute carries fewer than `l` distinct values — k-anonymity's
    * blind spot: a size-50 class protects nothing if all 50 rows share
    * one sensitive value (the homogeneity attack). Run beside
    * [[kAnonymityViolations]]; a release gate wants BOTH empty.
    *
    * Same scale shape: one grouped aggregate on the quasi tuple
    * (count-distinct shuffles the (class, sensitive) pairs — bounded by
    * |classes|·|sensitive domain|, not by rows), output bounded by the
    * violating classes.
    */
  def lDiversityViolations(df: DataFrame, quasi: Seq[Column],
      sensitive: Column, l: Int): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, s"l must be >= 2, got $l")
    df.groupBy(quasi: _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(sensitive).as("n_sensitive"))
      .filter(col("n_sensitive") < l)
  }

  /** t-closeness audit — the third rung of the privacy ladder
    * ([[kAnonymityViolations]] → [[lDiversityViolations]] → here):
    * classes whose SENSITIVE-value distribution sits far from the
    * corpus-wide distribution leak through the skew itself (a class that
    * is 90% one disease in a 10% corpus reveals plenty even with l
    * distinct values present). Distance is total variation
    * (`½ Σ |p_class − p_corpus|` — the earth-mover distance under the
    * uniform categorical ground metric), so integer counts give an exact
    * rational per term and one rounded sum.
    *
    * One pass to (class, sensitive) counts; class totals and corpus
    * marginals derive from that frame (the corpus is scanned once); the
    * per-class sum runs over the |classes|·|sensitive domain| frame.
    * Classes ABOVE `t` are returned — the release gate wants this empty.
    */
  def tClosenessViolations(df: DataFrame, quasi: Seq[Column],
      sensitive: Column, t: Double): DataFrame = {
    require(quasi.nonEmpty, "need at least one quasi-identifier column")
    require(t > 0 && t < 1, s"t must be in (0,1), got $t")
    val cs = df.groupBy(quasi :+ sensitive.as("__s"): _*)
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val names = cs.columns.dropRight(2).toSeq // the quasi output names
    val classTot = cs.groupBy(names.map(col): _*)
      .agg(sum(col("__c")).as("__ct"))
    val corpus = cs.groupBy(col("__s")).agg(sum(col("__c")).as("__sc"))
    val corpusTot = cs.agg(sum(col("__c")).as("__n"))
    // |p_class − p_corpus| summed over the sensitive domain: terms where
    // the class count is zero contribute p_corpus — fold them in via
    // (Σ_present |pc − pg|) + (1 − Σ_present pg), since Σ_absent pg =
    // 1 − Σ_present pg and pc = 0 there
    cs.join(classTot, names)
      .join(broadcast(corpus), Seq("__s"))
      .crossJoin(broadcast(corpusTot))
      .groupBy(names.map(col): _*)
      .agg(max(col("__ct")).as("class_size"),
        round((sum(abs(col("__c").cast("double") / col("__ct") -
            col("__sc").cast("double") / col("__n"))) +
          lit(1.0) - sum(col("__sc").cast("double") / col("__n"))) / 2.0, 6)
          .as("tv_distance"))
      .filter(col("tv_distance") > t)
  }

  /** Referential-integrity audit: for each named (child, fk, parent, pk)
    * relation, the child row count and the count of orphans (child rows
    * whose non-null FK matches no parent key) — the warehouse smoke test
    * that runs before every star-schema load (j05/j13 joins silently DROP
    * orphans; this makes the drop visible and attributable). Null FKs are
    * not orphans (SQL semantics: a null FK is "unknown", not "dangling").
    *
    * Scale shape: per relation, one distinct on the parent KEY column
    * (key-sized, not row-sized) and one anti-join — AQE broadcasts the
    * parent side when it fits, exactly like the production join would.
    * Output is |relations| rows.
    */
  def refIntegrity(
      relations: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(relations.nonEmpty, "refIntegrity needs at least one relation")
    relations.map { case (name, child, fk, parent, pk) =>
      val orphans = child.select(col(fk).as("__fk"))
        .filter(col("__fk").isNotNull)
        .join(parent.select(col(pk).as("__pk")).distinct(),
          col("__fk") === col("__pk"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans)
        .select(lit(name).as("relation"), col("n_child"), col("n_orphans"))
    }.reduce(_.unionByName(_))
  }

  /** P16: report-by-exception compaction (debounce): within each key, in
    * `order`, keep only rows where at least one of `watch` changed from
    * the PREVIOUS ROW (the first row of a key always survives) — the
    * standard IoT uplink compression (a sensor that reports the same
    * state for an hour contributes one row, RLE-style) and, corpus-side,
    * the crawl-snapshot compactor (keep a page only when its fingerprint
    * changed since the last fetch).
    *
    * Row-to-row semantics, stated deliberately: change is measured
    * against the previous OBSERVED row, not the last KEPT row — the
    * last-kept variant is a running fold (not window-expressible) and
    * differs only under slow drift within a tolerance band; for the
    * exact-equality rule here the two coincide. NULL-safe comparison:
    * null→value and value→null are changes, null→null is not.
    *
    * Scale shape: one per-key window (lag on the watched columns), narrow
    * filter — the [[dedupeFirst]] cost envelope.
    */
  def debounce(df: DataFrame, keys: Seq[String], order: Seq[Column],
      watch: Seq[Column]): DataFrame = {
    require(watch.nonEmpty, "debounce needs at least one watched column")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val changed = watch.map(c => !(c <=> lag(c, 1).over(w)))
    // first row of each key is kept explicitly: its lags are all null, and
    // a leading null watch value (null <=> null → "unchanged") must not
    // drop it
    val keep = row_number().over(w) === 1 || changed.reduce(_ || _)
    df.withColumn("__keep", keep).filter(col("__keep")).drop("__keep")
  }

  /** Hash-seeded Laplace(1/ε) draw for `key` — the inverse-CDF noise
    * behind [[dpNoisyCounts]], shared with the `laplace_noise` SQL
    * function so the two surfaces can never drift. `-1.0/eps` is a
    * constant-folded double division, bit-identical to the Scala-side
    * literal the oracle interpolates.
    *
    * Requires eps > 0 — ENFORCED with a null result otherwise: a
    * non-positive ε would silently yield sign-flipped (ε < 0) or
    * infinite (ε = 0) noise on the public SQL surface, where
    * [[dpNoisyCounts]]'s `require` cannot reach.
    */
  def laplaceNoise(key: Column, eps: Column): Column = {
    val u = (graft.sampling.Sampling.hashKey(key, lit("dplap"))
      .cast("double") + 0.5) / 4294967296.0
    val c = u - 0.5
    when(eps > 0.0,
      (lit(-1.0) / eps) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c)))
  }

  /** ε-differentially-private release of per-key counts — the fourth
    * rung of the privacy ladder here ([[kAnonymityViolations]] →
    * [[lDiversityViolations]] → [[tClosenessViolations]] audit what the
    * data LEAKS; this changes what gets RELEASED): Laplace(1/ε) noise on
    * each count (counting queries have sensitivity 1) plus a
    * post-noise floor `threshold` that suppresses keys whose noisy count
    * is too small to publish — the "noisy histogram with thresholding"
    * mechanism behind every DP datacard ("docs per source/domain"
    * tables released alongside a corpus).
    *
    * Noise is HASH-SEEDED (inverse-CDF on the md5-uniform of the key,
    * the repo's x183/x68 idiom): the same key draws the same noise in
    * both engines and across re-runs, so the release is reproducible and
    * oracle-checkable. The uniform offsets by +0.5/2³² so u is never
    * exactly 0, ½, or 1 (where the inverse CDF is singular or signless).
    * A REAL deployment must draw fresh randomness per release — a
    * replayed seed across repeated releases of CHANGING data leaks by
    * averaging; this face is the plumbing + the audit (true count beside
    * noisy — production publishes only `noisy_count`/`released`).
    *
    * Suppression compares the UNROUNDED noisy count; outputs round at
    * 6 dp. One grouped count (map-side combinable), per-row noise math —
    * |keys|-sized everything. ln is within 1 ulp on both engines and the
    * output rounding absorbs it (the x68 ln-key precedent).
    */
  def dpNoisyCounts(df: DataFrame, key: Column, eps: Double,
      threshold: Double): DataFrame = {
    require(eps > 0, s"eps must be > 0, got $eps")
    require(threshold >= 0, s"threshold must be >= 0, got $threshold")
    df.groupBy(key.as("key")).agg(count(lit(1)).as("n_true"))
      .withColumn("__noise", laplaceNoise(col("key"), lit(eps)))
      .withColumn("__noisy", col("n_true").cast("double") + col("__noise"))
      .select(col("key"), col("n_true"),
        round(col("__noise"), 6).as("noise"),
        round(col("__noisy"), 6).as("noisy_count"),
        (col("__noisy") >= threshold).as("released"))
  }

  /** Reference solar validation bounds (`Solar_Processing.py:23-26`). */
  val solarBounds: Map[String, (Double, Double)] = Map(
    "solar_irradiance_Wm2" -> (0.0, 1200.0),
    "power_kW" -> (0.0, 2e6))

  /** Reference wind validation bounds (`Wind_Processing.py:30-34`). */
  val windBounds: Map[String, (Double, Double)] = Map(
    "wind_speed_mps" -> (0.0, 60.0),
    "air_temperature_C" -> (-50.0, 60.0),
    "farm_power_kW" -> (0.0, 2e7))

  /** Reference fill defaults (`Wind_Processing.py:37-38`). */
  val windDefaults: Map[String, Any] = Map(
    "air_pressure_hPa" -> 1013.25,
    "humidity_percent" -> 50.0)
}
