package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.Land.CkptOps

/** Data-profiling operators — the catalog-building pass a pipeline runs
  * over an unfamiliar 100 TB corpus before it writes a single query:
  * sketch-based frequency estimation and join-key (FK) inference. Both
  * are exact-arithmetic and engine-portable: the sketch is md5-derived
  * integer hashing (same automaton both engines), the profiler is
  * distinct-set algebra on one full-outer join.
  */
object ProfileOps {

  private val Depths  = 4   // CMS rows (independent hash functions)
  private val Width   = 64L // CMS buckets per row

  /** Count-min-sketch heavy hitters over lineitem.l_partkey, audited
    * against the exact counts. The sketch state is DepthsxWidth = 256
    * cells regardless of data volume — built by one map-side-combinable
    * groupBy over a 4x depth explode — where the exact computation's
    * state is O(distinct keys). That fixed size is the 100 TB story:
    * cells merge associatively across any partitioning (the same
    * property BloomFunctions exploits), and heavy-hitter candidates are
    * then probed against 256 broadcast cells instead of re-scanning. The
    * entry probes ALL distinct keys so the oracle can audit the CMS
    * guarantee (est >= exact, overestimate = collision mass) key by key;
    * a production probe set would come from a sample or prior top-k.
    *
    * Top-10 by estimate (tie-broken by key) with the exact count and
    * overestimate beside — integer arithmetic end to end.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    cmsAudit(Tables.lineitem(spark, dir).select(col("l_partkey")), "l_partkey")
      .orderBy(col("est").desc, col("l_partkey"))
      .limit(10)

  /** CMS estimate vs exact count for every distinct value of `key` —
    * the unlimited audit frame behind [[heavyHitters]].
    *
    * All [[Depths]] hash functions come from ONE md5 digest per row: an
    * md5 is 32 hex chars, and 4 disjoint 8-char slices are 4 independent
    * 32-bit hashes. The naive form (md5 per (row, depth)) made digesting
    * the dominant cost of the build scan at sf0.1 — 4x the hashing for
    * zero extra information. One digest, [[Depths]] buckets; the DuckDB
    * oracle slices the same digest at the same offsets.
    */
  /** The [[Depths]] CMS bucket coordinates of a key — 4 disjoint 8-hex
    * slices of ONE md5 digest (see [[cmsAudit]]). Shared by the
    * frequency audit and the join-size estimator. */
  private def cmsBuckets(k: Column): Column = array((0 until Depths).map { i =>
    conv(substring(md5(k.cast(StringType)), 1 + 8 * i, 8), 16, 10)
      .cast(LongType) % Width
  }: _*)

  private[queries] def cmsAudit(df: DataFrame, key: String): DataFrame = {
    def buckets(k: Column): Column = cmsBuckets(k)
    // build: one digest per row, posexplode its 4 slices -> <=256 cells
    val cms = df.select(col(key), posexplode(buckets(col(key))).as(Seq("depth", "bucket")))
      .groupBy(col("depth"), col("bucket"))
      .agg(count(lit(1)).as("cell"))
    // probe: each candidate's 4 (depth, bucket) coords -> min cell
    val exact = df.groupBy(col(key)).agg(count(lit(1)).as("exact"))
    exact.select(col(key), col("exact"),
        posexplode(buckets(col(key))).as(Seq("depth", "bucket")))
      .join(cms, Seq("depth", "bucket"))
      .groupBy(col(key), col("exact"))
      .agg(min(col("cell")).as("est"))
      .select(col(key), col("est"), col("exact"),
        (col("est") - col("exact")).as("overestimate"))
  }

  /** Join-key inference: for each candidate (child column, parent key)
    * pair, the distinct-set containment — what fraction of child values
    * exist in the parent. Containment 1.0 marks an FK candidate; the
    * deliberately-included events.user_id vs customer.c_custkey pair
    * shows a non-FK reading (user ids are not customer keys at every SF).
    *
    * Per pair: distinct-project both sides (map-side partial dedup),
    * one full-outer join with presence markers, one count aggregate —
    * no cross join, no collect. Work is O(distinct keys), not O(rows),
    * so profiling cost is set by key cardinality alone at any volume.
    */
  def fkProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val cu = Tables.customer(spark, dir)
    pair(li, "l_orderkey", "lineitem.l_orderkey", o, "o_orderkey", "orders.o_orderkey")
      .unionAll(pair(li, "l_partkey", "lineitem.l_partkey",
        Tables.part(spark, dir), "p_partkey", "part.p_partkey"))
      .unionAll(pair(o, "o_custkey", "orders.o_custkey", cu, "c_custkey", "customer.c_custkey"))
      .unionAll(pair(Tables.events(spark, dir), "user_id", "events.user_id",
        cu, "c_custkey", "customer.c_custkey"))
      .orderBy(col("child_col"), col("parent_col"))
  }

  /** Distributed ordinary-least-squares fit via exact integer moment
    * aggregates — the normal-equations shape, which is how a linear
    * scorer (a quality/length model, a drift baseline, a feature
    * calibration) trains at 100 TB: ONE map-side-combinable aggregate
    * collects (n, Σx, Σy, Σxy, Σx², Σy²) per group, and the closed-form
    * slope/intercept/R² are computed from those six numbers at the
    * O(groups)-sized output edge. No iteration, no gradient steps, no
    * driver-side data — the moments ARE the sufficient statistics, and
    * they merge associatively across any partitioning because they are
    * exact int64 sums (never a float accumulation — the q_dsir
    * arithmetic discipline).
    *
    * Fit here: n_chars ~ n_tokens per language over `documents` — the
    * chars-per-token line whose residual is a cheap gibberish signal.
    * int64 headroom: Σxy sums x·y ≈ 2e5 per doc; ~1e11 docs at 100 TB
    * stay ~2 orders under 2^63. The final arithmetic is double with a
    * FIXED association order — each moment cast once, every product and
    * difference mirrored verbatim in the oracle SQL — so both engines
    * round identically (the kmeans floor-division precedent). Degenerate
    * groups (constant x, or fewer than 2 rows) yield NULL slope/R² via
    * nullif, identically in both engines.
    */
  def olsFit(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(TextOps.toksAll).cast(LongType).as("x"),
        col("n_chars").cast(LongType).as("y"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(Seq(col("lang"), col("n")) ++ {
        def dbl(c: String): Column = col(c).cast(DoubleType)
        val num = dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")
        val dn = dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")
        val dy = dbl("n") * dbl("syy") - dbl("sy") * dbl("sy")
        val slope = num / nullif(dn, lit(0.0))
        Seq(
          slope.as("slope"),
          ((dbl("sy") - slope * dbl("sx")) / dbl("n")).as("intercept"),
          ((num * num) / nullif(dn * dy, lit(0.0))).as("r2"))
      }: _*)
      .orderBy(col("lang"))
  }

  /** One containment row for a (child column, parent key) pair. */
  private[queries] def pair(
      child: DataFrame, childCol: String, childName: String,
      parent: DataFrame, parentCol: String, parentName: String): DataFrame = {
      val c = child.select(col(childCol).as("k")).distinct()
        .withColumn("is_c", lit(1L))
      val p = parent.select(col(parentCol).as("k")).distinct()
        .withColumn("is_p", lit(1L))
      c.join(p, Seq("k"), "full_outer")
        .agg(
          sum(coalesce(col("is_c"), lit(0L))).as("n_child_keys"),
          sum(coalesce(col("is_p"), lit(0L))).as("n_parent_keys"),
          sum(coalesce(col("is_c"), lit(0L)) * coalesce(col("is_p"), lit(0L)))
            .as("n_matched"))
        .select(lit(childName).as("child_col"), lit(parentName).as("parent_col"),
          col("n_child_keys"), col("n_parent_keys"), col("n_matched"),
          (col("n_matched").cast(DoubleType) / col("n_child_keys"))
            .as("containment"),
          (col("n_matched") === col("n_child_keys")).as("is_fk_candidate"))
  }

  /** Buckets for [[equidepth]] — shared with the oracle SQL. */
  private[graft] val EquidepthBuckets = 8

  /** Equi-depth histogram of lineitem.l_extendedprice: boundaries at the
    * exact i/8 quantiles, then every row assigned to the bucket counted
    * above it — per bucket the row count, min and max. This is the
    * statistic a planner derives range-partition split points from
    * (Spark's own RangePartitioner approximates exactly this by
    * sampling): near-equal `n` across buckets is the definition of a
    * balanced range shuffle.
    *
    * Window-free by construction — the naive form is `ntile(8)` over a
    * GLOBAL ordering, a single-task sort of the whole table that this
    * codebase bans (PlanGuardSpec). Instead: one holistic percentile
    * aggregate produces the 7 interior boundaries (ONE row), which
    * broadcast back onto the scan where bucket assignment is a map-side
    * comparison sum — the [[ScaleOps.winsorize]] bounds-join shape. The
    * exact percentile is the only holistic cost; `approx_percentile` is
    * the documented sketch escape hatch at 100 TB (same trade as
    * [[ScaleOps.quantiles]]). Boundary quantiles i/8 are exact binary
    * fractions and both engines interpolate identically, so the
    * boundaries — and therefore every bucket count — hash-match.
    * Rows equal to a boundary go to the lower bucket (`>`, not `>=`),
    * the same closed-left rule in both engines.
    */
  def equidepth(spark: SparkSession, dir: String): DataFrame = {
    val B = EquidepthBuckets
    val l = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").cast(DoubleType).as("price"))
    val bounds = l.agg(
      percentile(col("price"),
        typedLit((1 until B).map(_.toDouble / B))).as("bs"))
    val bucket = (1 until B)
      .map(i => (col("price") > element_at(col("bs"), i)).cast(IntegerType))
      .reduce(_ + _) + 1
    l.join(broadcast(bounds))
      .select(col("price"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("price")).as("lo"), max(col("price")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Event-time lateness profile per event type — the measurement that
    * SIZES a streaming watermark: for each event, how far behind the
    * per-key running-max event time (in arrival order, stood in by the
    * monotone event_id) did it arrive? `withWatermark("ts", X)` silently
    * DROPS every event whose lateness exceeds X, so X is chosen from
    * this distribution's tail — p99/max lateness — not guessed.
    * ([[graft.streaming.Streams]]' windowed aggregations are the
    * consumers of exactly this number.)
    *
    * One rank-window per user (running max over arrival order — the
    * per-key holistic pattern winsorize/MAD already pay, partitioned,
    * never global) and one grouped aggregate with exact lateness
    * percentiles over integer microseconds. At 100 TB this runs over a
    * bounded sample window of the stream (the statistic converges fast);
    * the percentile's approx escape is the standard quantiles trade.
    */
  def latenessProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("late_us", max(col("ts_us")).over(w) - col("ts_us"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        count(when(col("late_us") > 0, 1)).as("n_late"),
        percentile(col("late_us").cast(DoubleType), lit(0.5)).as("p50_late_us"),
        percentile(col("late_us").cast(DoubleType), lit(0.99)).as("p99_late_us"),
        max(col("late_us")).as("max_late_us"))
      .withColumn("late_rate",
        col("n_late").cast(DoubleType) / col("n").cast(DoubleType))
      .orderBy(col("event_type"))
  }

  /** One-pass column profile ("describe") over the numeric columns a
    * catalog records first: row/non-null/distinct counts and min/max,
    * one output row per column. The whole profile of a table is ONE
    * aggregate — every statistic map-side-combines in the same shuffle —
    * then a row-per-column explode of the single wide result row; a
    * 100 TB table is profiled in exactly one scan. (The exact
    * multi-column COUNT(DISTINCT) pays the Expand the two-phase
    * rewrite documents; HLL `approx_count_distinct` is the at-scale
    * swap.) events.value rides a second scan because it lives in a
    * different table, not a different pass.
    */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, table: String, cols: Seq[String]): DataFrame = {
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"nn_$c"),
          countDistinct(col(c)).as(s"nd_$c"),
          min(col(c).cast(DoubleType)).as(s"mn_$c"),
          max(col(c).cast(DoubleType)).as(s"mx_$c"))
      }
      val wide = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val entries = cols.map { c =>
        struct(lit(s"$table.$c").as("column_name"), col("n_rows"),
          col(s"nn_$c").as("n_nonnull"), col(s"nd_$c").as("n_distinct"),
          col(s"mn_$c").as("min_val"), col(s"mx_$c").as("max_val"))
      }
      wide.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
    }
    profile(Tables.orders(spark, dir), "orders",
        Seq("o_orderkey", "o_custkey", "o_totalprice"))
      .unionByName(profile(Tables.events(spark, dir), "events", Seq("value")))
      .orderBy(col("column_name"))
  }

  /** Gini coefficient of order-value concentration per priority class —
    * the inequality statistic a mixture/quota designer reads before
    * rebalancing (a source where 1% of orders carry 90% of value behaves
    * very differently under sampling than a flat one). Uses the sorted
    * form G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n.
    *
    * Exactness discipline: values become integer CENTS via the exact
    * DECIMAL(12,2) cast (the q1_agg precedent), so Σx and the
    * rank-weighted Σ i·xᵢ are exact int64 sums — order-independent under
    * any partitioning, headroom ~4 orders at sf0.1 — and only the final
    * closed-form arithmetic runs in doubles with a fixed association
    * order mirrored in the oracle. The rank window is per-group
    * (priority), the winsorize holistic trade.
    */
  def gini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents"), col("o_orderkey"))
    def dbl(c: String): Column = col(c).cast(DoubleType)
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"))
      .withColumn("i", row_number().over(w).cast(LongType))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents")).as("s"),
        sum(col("i") * col("cents")).as("s1"))
      .withColumn("gini",
        lit(2.0) * dbl("s1") / (dbl("n") * dbl("s")) -
          (dbl("n") + lit(1.0)) / dbl("n"))
      .select(col("o_orderpriority"), col("n"), col("s").as("total_cents"),
        col("gini"))
      .orderBy(col("o_orderpriority"))
  }

  /** Sketch-based JOIN-SIZE estimation — the statistic a planner wants
    * BEFORE committing to a join strategy at 100 TB: |A ⋈ B| on a key,
    * estimated from two [[Depths]]×[[Width]]-cell CMS sketches as the
    * bucket-wise inner product Σ_b cA_b·cB_b, minimized over the
    * [[Depths]] independent hash rows, audited against the exact join
    * cardinality. The sketches are the same fixed-size, merge-
    * associative state as [[heavyHitters]] — each side is ONE map-side-
    * combinable pass, the inner product touches 256 cells, and the
    * estimate is one-sided (collisions only ADD mass, so est ≥ exact —
    * asserted over the corpus in the spec): a planner reading it gets a
    * guaranteed upper bound on the join's output.
    *
    * The exact audit side aggregates both inputs to per-key counts
    * first (O(distinct keys) rows into the join, the fkProfile
    * discipline) and sums the count products — never materializing the
    * join itself. Integer arithmetic end to end.
    */
  def joinSizeEst(spark: SparkSession, dir: String): DataFrame = {
    def cells(df: DataFrame, key: String, out: String): DataFrame =
      df.select(posexplode(cmsBuckets(col(key))).as(Seq("depth", "bucket")))
        .groupBy(col("depth"), col("bucket"))
        .agg(count(lit(1)).as(out))
    val la = cells(Tables.lineitem(spark, dir), "l_orderkey", "ca")
    val ob = cells(Tables.orders(spark, dir), "o_orderkey", "cb")
    // count products ride DECIMAL(38,0): two 10¹⁰-row cells at 100 TB
    // multiply past int64
    val est = la.join(ob, Seq("depth", "bucket"))
      .groupBy(col("depth"))
      .agg(sum(col("ca").cast(DecimalType(38, 0)) * col("cb")).as("depth_est"))
      .agg(min(col("depth_est")).cast(LongType).as("est"))
    val exact = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("na"))
      .join(Tables.orders(spark, dir)
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("nb")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum(col("na").cast(DecimalType(38, 0)) * col("nb"))
        .cast(LongType).as("exact"))
    est.crossJoin(exact)
      .select(lit("lineitem*orders@orderkey").as("join_key"),
        col("est"), col("exact"), (col("est") - col("exact")).as("overestimate"))
  }

  /** Top-share Pareto point per priority class: the smallest number of
    * orders (ranked by value) that carries ≥ 80% of the class's total
    * value — the "how top-heavy is this key" statistic that decides
    * whether a quota/mixture treats a source as broad or as a few whales
    * ([[gini]]'s actionable companion: gini says HOW unequal, this says
    * WHERE the 80% line sits).
    *
    * Exactness discipline: values are exact integer cents (the gini
    * precedent), the running total is an integer window cumsum over a
    * total order (value desc, key — ROWS frame pinned explicitly both
    * engines), and the 80% test is the integer cross-multiplication
    * 5·cum ≥ 4·total — no float enters until the final share division.
    * Per-group rank window is the winsorize holistic trade; headroom:
    * cum ≤ 10¹¹ cents at sf0.1, ×5 three orders under int64 at 100×.
    */
  def pareto(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
        (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
          .cast(LongType).as("cents"))
    val w = Window.partitionBy(col("pri"))
      .orderBy(col("cents").desc, col("o_orderkey"))
    val ranked = o
      .withColumn("rk", row_number().over(w).cast(LongType))
      .withColumn("cum", sum(col("cents"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = o.groupBy(col("pri"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))
    ranked.join(broadcast(totals), Seq("pri"))
      .filter(col("cum") * 5 >= col("total_cents") * 4)
      .groupBy(col("pri"), col("n_orders"), col("total_cents"))
      .agg(min(col("rk")).as("n_top80"))
      .select(col("pri"), col("n_orders"), col("total_cents"), col("n_top80"),
        (col("n_top80").cast(DoubleType) / col("n_orders").cast(DoubleType))
          .as("top_share"))
      .orderBy(col("pri"))
  }

  /** Robust outlier profile per event type: lower median, median absolute
    * deviation (MAD), and how many readings sit beyond 3·MAD — the
    * outlier gate a feature pipeline applies where mean/stddev would be
    * dragged by the very outliers it hunts (one corrupt sensor shifts a
    * mean arbitrarily; it moves a median by at most one rank).
    *
    * Exactness discipline: medians are ELEMENT-PICKED (row_number to the
    * lower-median rank, ties broken by event_id), never interpolated —
    * the picked value is a datum, so `|value − med|`, the second
    * element-pick over deviations, and the `dev > 3·MAD` comparison are
    * single correctly-rounded IEEE ops that agree bit-for-bit across
    * engines. NULL values are excluded up front (the two engines default
    * NULL sort order differently; B2's validation tier owns NULL
    * accounting).
    *
    * Scale shape: two rank windows partitioned by event_type — the
    * per-group holistic sort winsorize already pays, with the same
    * salt-or-sketch escape for monstrous groups — and two broadcast
    * joins of GROUP-CARDINALITY frames; the events table itself never
    * shuffles beyond the rank exchanges.
    */
  /** HLL register count (m). 64 registers ⇒ ~13% standard error — small
    * deliberately, so the estimate-vs-exact gap the entry surfaces is
    * visible, not noise-floor. Shared with the oracle SQL. */
  private[graft] val HllRegisters = 64L

  /** The full HLL estimate numerator α·m²·2³³ as ONE double constant,
    * interpolated digit-for-digit into the oracle SQL so both engines
    * perform a single identical division (`Double.toString` round-trips,
    * so the parsed literal is bit-identical). α_64 = 0.7213/(1+1.079/m). */
  private[graft] val HllEstNum: Double =
    0.7213 / (1.0 + 1.079 / HllRegisters) * HllRegisters * HllRegisters * 8589934592.0

  /** HyperLogLog distinct-user estimate per event type, audited against
    * the exact COUNT(DISTINCT) — the sketch that REPLACES exact distinct
    * counting at 100 TB, the way [[heavyHitters]]' CMS replaces exact
    * frequency. Exact distinct state is O(keys) and its final merge
    * concentrates per group; the HLL state is [[HllRegisters]] fixed
    * bytes per group, merges by register-wise MAX (associative,
    * commutative, idempotent — re-delivered rows are absorbed), and is
    * what Spark's own `approx_count_distinct` maintains internally. The
    * entry builds it OPENLY (register index + leading-zero rank from md5
    * slices) so the DuckDB oracle can replay it bit-for-bit, which a
    * black-box sketch blob never could.
    *
    * Mergeability is demonstrated structurally, not claimed: registers
    * are built at (event_type, day) grain — the partial a per-partition
    * or per-ingest-batch build would emit — then max-merged across days
    * into the per-type sketch. At 100 TB the daily register tables are
    * the incremental state (64 rows per type-day); re-estimating after
    * a new day lands is a merge, never a re-scan.
    *
    * Exactness discipline: rank = 33 − bitlength(w) over the second
    * 32-bit md5 slice (pure integer; `bin()` string length in both
    * engines), the harmonic-mean denominator Σ 2^(33−M_r) is an exact
    * int64 sum of power-of-two terms (≤ 64·2³³ ≈ 2⁴⁰ — empty registers
    * contribute 2³³ each), and the only floating-point op is the final
    * single division by [[HllEstNum]]. No small-range linear-counting
    * correction (it needs ln(), whose last ulp differs across libm
    * implementations); the raw estimator is biased low at tiny
    * cardinalities, identically in both engines — the documented trade
    * for bit-exact portability.
    */
  def hllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    val daily = hllRegisters(e, col("user_id"),
      col("event_type"), to_date(col("ts")).as("day"))
    val merged = daily.groupBy(col("event_type"), col("r"))
      .agg(max(col("m_r")).as("m_r"))
    val est = merged.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_registers"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - m_r AS INT))")).as("s_present"))
      .withColumn("denom",
        col("s_present") + (lit(HllRegisters) - col("n_registers")) * lit(8589934592L))
      .withColumn("hll_est", lit(HllEstNum) / col("denom").cast(DoubleType))
    val exact = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_registers"), col("hll_est"),
        ((col("hll_est") - col("n_exact").cast(DoubleType))
          / col("n_exact").cast(DoubleType)).as("rel_err"))
      .orderBy(col("event_type"))
  }

  /** The HLL register table of `df` keyed by `grain`: one row per
    * (grain, register index r) with the max leading-zero rank m_r —
    * the merge-by-MAX partial every sketch consumer shares. Factored so
    * the spec can assert the merge law (registers at finer grain,
    * max-merged, equal registers built at the coarser grain directly).
    */
  private[graft] def hllRegisters(
      df: DataFrame, key: Column, grain: Column*): DataFrame = {
    val h = md5(key.cast(StringType))
    val w = conv(substring(h, 9, 8), 16, 10).cast(LongType)
    val sel = df.select((grain :+
      (conv(substring(h, 1, 8), 16, 10).cast(LongType) % HllRegisters).as("r") :+
      when(w === 0, lit(33L))
        .otherwise(lit(33L) - length(bin(w)).cast(LongType)).as("rk")): _*)
    sel.groupBy(sel.columns.dropRight(1).map(col): _*)
      .agg(max(col("rk")).as("m_r"))
  }

  /** Sliding (users-to-date) HLL curve: the distinct-user count THROUGH
    * each day, estimated by merging the per-day register partials
    * cumulatively — the incremental-state story [[hllDistinct]] tells
    * once, told as a TIME SERIES. At 100 TB this is how "cumulative
    * uniques" dashboards actually run: the nightly job appends one
    * 64-row register table and max-merges it into yesterday's state;
    * nothing ever re-scans history, while the exact curve would carry
    * O(users) distinct state per day.
    *
    * Shapes: the cumulative register merge is a window MAX partitioned
    * by register index over a (days × 64)-row literal-bounded grid
    * (the explode keeps absent registers visible as NULLs so each
    * day's estimate sees exactly the registers present SO FAR); the
    * exact comparison curve never windows the corpus either — each
    * user collapses to a first-seen day (one combining aggregate),
    * first-day counts collapse to O(days) rows, and the ≤-theta join
    * against the day list is a broadcast nested loop over two
    * day-scale frames (the clamped-bucket prefix-sum discipline).
    * Arithmetic is the [[hllDistinct]] contract unchanged: integer
    * ranks, exact power-of-two sums, one final division by the
    * digit-identical [[HllEstNum]].
    */
  def hllSliding(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val daily = hllRegisters(e, col("user_id"), col("day"))
    // day spine from the day-scale register table, NOT a third corpus
    // scan (every day has events, hence >= 1 register row)
    val days = daily.select(col("day")).distinct()
    val grid = days.withColumn("r",
      explode(expr(s"sequence(0L, ${HllRegisters - 1}L)")))
    val w = Window.partitionBy(col("r")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.join(daily, Seq("day", "r"), "left")
      .withColumn("cm", max(col("m_r")).over(w))
    val est = cum.groupBy(col("day"))
      .agg(count(col("cm")).as("n_registers"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - cm AS INT))"))
          .as("s_present"))
      .withColumn("denom",
        col("s_present") + (lit(HllRegisters) - col("n_registers")) * lit(8589934592L))
      .withColumn("hll_est", lit(HllEstNum) / col("denom").cast(DoubleType))
    val firstCounts = e.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
      .groupBy(col("first_day")).agg(count(lit(1)).as("n_new"))
    // broadcast the DAY SPINE, not the first-day counts: both are
    // day-scale, but the spine's key domain is PROVABLY calendar-bounded
    // (a cast-to-date grouping key), while first_day flows through a
    // min() whose boundedness a plan audit cannot see (PlanGuardSpec's
    // aggregate-result dead end — the audit is the contract, so the plan
    // carries the side it can prove)
    val exact = firstCounts.join(broadcast(days), col("first_day") <= col("day"))
      .groupBy(col("day")).agg(sum(col("n_new")).as("n_exact"))
    est.join(exact, Seq("day"))
      .select(col("day"), col("n_exact"), col("n_registers"), col("hll_est"),
        ((col("hll_est") - col("n_exact").cast(DoubleType))
          / col("n_exact").cast(DoubleType)).as("rel_err"))
      .orderBy(col("day"))
  }

  /** KMV sketch size (k minimum values). 64 keeps the set-algebra error
    * visible (~1/√62 ≈ 13%, matching [[HllRegisters]]' deliberate
    * smallness) and the per-group state at 64 longs. */
  private[graft] val KmvK = 64L

  /** KMV (k-minimum-values / theta) sketch set algebra — the sketch that
    * completes the quintet: CMS answers frequency, HLL cardinality,
    * MinHash pairwise similarity, q-digest quantiles; KMV is the one
    * that supports UNION AND INTERSECTION estimates between groups,
    * which HLL registers cannot express. Per event type the sketch is
    * the [[KmvK]] smallest distinct user hashes; for every type pair the
    * combined k-min sketch estimates |A∪B| = (k−1)·2³²/h₍ₖ₎ and
    * |A∩B| = ĵ·|A∪B| where ĵ is the fraction of combined-sketch values
    * present in both sides' sketches. Both estimates are audited
    * against the exact overlap (the `q_audience_overlap` self-join).
    *
    * Scale shape: the sketch build is ONE distinct + one rank window
    * per type whose `rank ≤ k` filter Spark pushes into the sort as a
    * WindowGroupLimit (per-partition top-k before the exchange — the
    * engine's bounded-top-k path); everything pairwise runs on the
    * |types|² × 2k sketch-row frame — group-domain scale, like the
    * source×source KL matrix. A sketch with fewer than k values IS its
    * exact set, so small groups take the exact count path (CASE on the
    * sketch size). Hashes are h32-uniform on [0, 2³²); the only floats
    * are the two mirrored final divisions and their product.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    // the distinct (type, user) frame feeds FOUR consumers (sizes, the
    // sketch build, and both sides of the exact self-join) — persisted so
    // the corpus is scanned once, released after the |types|²-row result
    // materializes into its checkpoint (the hammingClustersFrom pattern)
    val tu = kmvTu(spark, dir).persist()
    val out = kmvOverlapFrom(tu).graftCheckpoint()
    tu.unpersist(blocking = false)
    out.orderBy(col("type_a"), col("type_b"))
  }

  /** The distinct (event_type, user_id) frame [[kmvOverlap]] sketches. */
  private def kmvTu(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).distinct()

  /** Pre-checkpoint shape for plan audits (ADVICE r14): [[kmvOverlap]]'s
    * final frame digests as an RDDScan because the checkpoint (which
    * exists to release the persisted `tu`) truncates the plan, so the
    * committed digest in `plan_digests.json` cannot see the documented
    * scale shape. The WindowGroupLimit top-k and broadcast pair-frame
    * claims are audited HERE (ProfileOpsSpec's shape test), on the exact
    * frame [[kmvOverlap]] checkpoints. */
  private[graft] def kmvOverlapUnchecked(spark: SparkSession, dir: String): DataFrame =
    kmvOverlapFrom(kmvTu(spark, dir)).orderBy(col("type_a"), col("type_b"))

  private def kmvOverlapFrom(tu: DataFrame): DataFrame = {
    import graft.queries.TextOps.h32
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val hashed = tu
      .select(col("event_type"),
        h32(concat(lit("kmv|"), col("user_id").cast(StringType))).as("h"))
      .distinct()
    val rkW = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val sk = hashed.withColumn("rk", row_number().over(rkW))
      .filter(col("rk") <= KmvK)
      .select(col("event_type"), col("h"))
    // |types| rows per side: the non-equi pair frame is the sanctioned
    // bounded-key broadcast (the source×source KL-matrix shape)
    val pairs = sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        col("type_a") < col("type_b"))
    val su = pairs.select(col("type_a"), col("type_b"))
      .join(sk.select(col("event_type").as("type_a"), col("h")), Seq("type_a"))
      .withColumn("src", lit("a"))
      .unionByName(pairs.select(col("type_a"), col("type_b"))
        .join(sk.select(col("event_type").as("type_b"), col("h")), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("h"))
        .withColumn("src", lit("b")))
    val comb = su.groupBy(col("type_a"), col("type_b"), col("h"))
      .agg(max(when(col("src") === "a", 1).otherwise(0)).as("in_a"),
        max(when(col("src") === "b", 1).otherwise(0)).as("in_b"))
    val pw = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("h"))
    val est = comb.withColumn("rk", row_number().over(pw))
      .filter(col("rk") <= KmvK)
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("sk_k"), max(col("h")).as("hk"),
        sum((col("in_a") * col("in_b")).cast(LongType)).as("sk_inter"))
      .withColumn("est_union",
        when(col("sk_k") < KmvK, col("sk_k").cast(DoubleType))
          .otherwise(lit((KmvK - 1).toDouble * 4294967296.0)
            / col("hk").cast(DoubleType)))
      .withColumn("est_inter",
        (col("sk_inter").cast(DoubleType) / col("sk_k").cast(DoubleType))
          * col("est_union"))
    val exact = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_inter"))
    // LEFT join (ADVICE r14): a type pair with zero shared users has no
    // exact row — dropping it would silently omit disjoint pairs from a
    // "for every type pair" result. n_inter coalesces to 0; n_union is
    // then n_a + n_b ≥ 2 > 0, so the rel_err division stays safe.
    pairs.join(exact, Seq("type_a", "type_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .join(est, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("n_union"), col("n_inter"),
        col("sk_k"), col("est_union"), col("est_inter"),
        ((col("est_union") - col("n_union").cast(DoubleType))
          / col("n_union").cast(DoubleType)).as("rel_err_union"))
  }

  /** Fixed-point scale for [[entropyProfile]]'s per-value log2 terms:
    * 2²⁰ micro-bits. Shared with the oracle SQL. */
  private[graft] val EntScale = 1048576L

  /** Shannon entropy (bits) of the categorical columns a corpus catalog
    * profiles first — events.event_type, documents.lang,
    * documents.source. Low entropy on a supposedly-diverse dimension is
    * the classic skew flag (one source swamping a mixture); it is also
    * the direct predictor of how badly that column skews as a join or
    * partition key.
    *
    * Each dimension is one hash aggregate to value counts (O(distinct)
    * rows) then one scalar aggregate — two map-side-combinable stages,
    * no window, no sort, linear at any volume. Exactness discipline:
    * entropy = log2(n) − (Σ c·log2(c))/n is computed in FIXED-POINT
    * micro-bits — each log2 is quantized per row via
    * floor(x·2²⁰ + 0.5) (floor, not round: identical half-up semantics
    * in both engines), the weighted sum is exact integer/decimal
    * arithmetic, and only the final division runs in doubles with the
    * association order mirrored in the oracle. The c·term products are
    * carried as DECIMAL(38,0) — at 100 TB a group count of 10¹² times a
    * 4·10⁷ micro-log would overflow int64.
    */
  def entropyProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    entropyDim(Tables.events(spark, dir), "event_type", "events.event_type")
      .unionByName(entropyDim(d, "lang", "documents.lang"))
      .unionByName(entropyDim(d, "source", "documents.source"))
      .orderBy(col("dim"))
  }

  /** One [[entropyProfile]] row: the fixed-point Shannon entropy of
    * column `c` of `df`. Factored so the spec can pin exact entropies
    * on constructed distributions (powers of two make the quantization
    * exact: uniform over 8 values of count 4 is EXACTLY 3.0 bits). */
  private[graft] def entropyDim(df: DataFrame, c: String, name: String): DataFrame = {
    val counts = df.filter(col(c).isNotNull)
      .groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("lc",
        floor(log2(col("cnt").cast(DoubleType)) * lit(EntScale.toDouble) + lit(0.5))
          .cast(LongType))
    counts.agg(
        sum(col("cnt")).as("n"),
        count(lit(1)).as("k"),
        sum(col("cnt").cast(DecimalType(38, 0)) * col("lc")).as("s"))
      .select(
        lit(name).as("dim"), col("n"), col("k"),
        ((col("n").cast(DecimalType(38, 0))
            * floor(log2(col("n").cast(DoubleType)) * lit(EntScale.toDouble) + lit(0.5))
              .cast(LongType)
          - col("s")).cast(DoubleType)
          / (col("n").cast(DoubleType) * lit(EntScale.toDouble))).as("entropy_bits"))
  }

  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"))
    def lowerMedian(df: DataFrame, ord: String, out: String): DataFrame = {
      val w  = Window.partitionBy(col("event_type")).orderBy(col(ord), col("event_id"))
      val wn = Window.partitionBy(col("event_type"))
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wn))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col(ord).as(out))
    }
    val med = lowerMedian(e, "value", "med")
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = lowerMedian(dev, "dev", "mad")
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("med")).as("med"),
        min(col("mad")).as("mad"),
        count(when(col("dev") > lit(3) * col("mad"), 1)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  // ------------------------------------------------ q-digest quantile sketch
  /** Quantile-sketch universe: event values quantize to cents clamped to
    * [0, 2^[[QdLevels]]) — the psi bin-clamp idiom, enforced identically
    * in both engines (observed max at sf0.1 is 56 021 cents, inside the
    * 65 536-cent universe with headroom). */
  private[graft] val QdLevels   = 16
  private[graft] val QdUniverse = 1L << QdLevels
  /** Digest capacity: the compression threshold is T = ⌈mass⌉/K (min 1) —
    * nodes lighter than T push their mass to the dyadic parent. Rank
    * error of any estimate is < 2·[[QdLevels]]·T (≈ 0.016·n at K = 2048):
    * a rank query miscounts only nodes whose dyadic range straddles the
    * query point; straddling nodes form one root path (≤ L of them), and
    * a retained internal node carries < 2T (it accumulated two children
    * that each pushed < T). */
  private[graft] val QdK = 2048L

  /** Q-digest compression (Shrivastava et al. 2004, adapted to a
    * deterministic level-synchronous sweep): `nodes` is any
    * (level, bin, c) table — level-0 histogram rows for a fresh build,
    * mixed-level digest unions for a MERGE — and the sweep walks levels
    * 0..[[QdLevels]] retaining nodes with c ≥ T and pushing lighter mass
    * to the parent (level+1, bin div 2), where it combines with whatever
    * else arrives there before its own ≥ T test. Pure function of the
    * combined counts — merge is union-then-recompress, and mass is
    * preserved exactly (the spec pins both).
    *
    * 100 TB shape: this is the scale path for the exact-percentile
    * entries (q_quantiles/q_equidepth sort the full column): ONE
    * map-side-combinable groupBy to the ≤ 2^16-bin histogram — fixed-size
    * mergeable state regardless of data volume, the CMS/HLL property —
    * then 16 chained aggregates over ≤ 65 536 rows. No full sort
    * anywhere; nothing in the plan scales past the universe size.
    */
  private[graft] def qdigestCompress(nodes: DataFrame): DataFrame = {
    // canonical union semantics: same-(level, bin) mass COMBINES before
    // any threshold test — a merge input carries one node per digest, and
    // testing fragments individually could step a light fragment past a
    // sibling that stays (identity for fresh single-histogram builds)
    val combined = nodes.groupBy(col("level"), col("bin")).agg(sum(col("c")).as("c"))
    val tot = combined.agg(sum(col("c")).as("nmass"))
      .select(expr(s"greatest(nmass div $QdK, 1)").as("t"))
    var state = combined.crossJoin(broadcast(tot))
      .select(col("level"), col("bin"), col("c"), lit(false).as("done"), col("t"))
    for (lvl <- 0 until QdLevels) {
      // level >= QdLevels forces done at the ROOT: on mixed-level MERGE
      // input a light root node must accumulate there, not step to a
      // phantom level 17+ where done/not-done groups never recombine —
      // that non-canonical shape kept mass and estimates (upper clamps to
      // the universe) but voided the uniform 2·L·T bound (ADVICE r11).
      // Fresh level-0 builds cannot reach the root mid-sweep, so their
      // digests are bit-identical with or without the clause.
      val keep = col("done") || col("c") >= col("t") || col("level") >= QdLevels
      val stepped = state.select(
        when(keep, col("level")).otherwise(col("level") + 1).as("level"),
        when(keep, col("bin")).otherwise(expr("bin div 2")).as("bin"),
        col("c"), keep.as("done"), col("t"))
      state = stepped.groupBy(col("level"), col("bin"), col("done"))
        .agg(sum(col("c")).as("c"), max(col("t")).as("t"))
        .select(col("level"), col("bin"), col("c"), col("done"), col("t"))
      // lineage truncation every 4 levels (r15): the unbroken 16-level
      // chain planned as ONE ~33-stage tree whose Catalyst optimization
      // + whole-stage codegen dominated the leg at universe-bounded
      // state sizes (the per-row work is trivial — ≤ 2^16 rows by the
      // clamp); four bounded checkpoint jobs replace a 170 KB plan.
      // Values are untouched — a checkpoint is a materialization
      // boundary, not an operator — and the state is universe-bounded
      // at ANY corpus volume, so this is not a local[32] constant.
      if ((lvl + 1) % 4 == 0) state = state.graftCheckpoint()
    }
    state.groupBy(col("level"), col("bin")).agg(sum(col("c")).as("c"))
  }

  /** Per-decile report: digest estimate vs exact answer — the truth audit
    * completing the sketch quartet (CMS, HLL, MinHash each carry one).
    * The estimate is the upper bound of the first digest node (sorted by
    * (upper, level, bin)) whose running mass reaches ⌈φ·n⌉; the exact
    * answer and the estimate's rank INTERVAL re-read the level-0
    * histogram. `abs_rank_err` is the distance from the target rank to
    * [rank(<est)+1, rank(≤est)] — zero when the target falls inside it:
    * a heavy point mass AT the estimated value widens the interval for
    * any algorithm that returns a value, so counting it as sketch error
    * would fail even an exact computation (the hand fixture pins this).
    * Folds run over COLLECTED arrays — bounded by the universe (≤ 2^16
    * structs, ~1 MB), never by the data — so no global window appears;
    * `err_bound` is the 2·L·T straddle guarantee the spec asserts. */
  private[graft] def qdigestReport(spark: SparkSession, h0: DataFrame,
      digest: DataFrame): DataFrame = {
    val dArr = digest
      .select(expr(s"least(shiftleft(bin + 1, level) - 1, ${QdUniverse - 1})")
          .as("upper"),
        col("level"), col("bin"), col("c"))
      .agg(
        sort_array(collect_list(struct(col("upper"), col("level"), col("bin"),
          col("c")))).as("nodes"),
        sum(col("c")).as("n"), count(lit(1)).as("n_nodes"))
    val hArr = h0.agg(
      sort_array(collect_list(struct(col("bin"), col("c")))).as("h0nodes"))
    spark.range(1, 10).select(col("id").as("p"))
      .crossJoin(broadcast(dArr))
      .crossJoin(broadcast(hArr))
      .withColumn("t", expr(s"greatest(n div $QdK, 1)"))
      .withColumn("target", expr("(p * n + 9) div 10"))
      .withColumn("est_cents", expr(
        """aggregate(nodes,
          |  named_struct('cum', CAST(0 AS BIGINT), 'est', CAST(-1 AS BIGINT)),
          |  (a, x) -> IF(a.est >= 0, a, named_struct('cum', a.cum + x.c,
          |    'est', IF(a.cum + x.c >= target, x.upper, CAST(-1 AS BIGINT))))).est"""
          .stripMargin))
      .withColumn("true_cents", expr(
        """aggregate(h0nodes,
          |  named_struct('cum', CAST(0 AS BIGINT), 'v', CAST(-1 AS BIGINT)),
          |  (a, x) -> IF(a.v >= 0, a, named_struct('cum', a.cum + x.c,
          |    'v', IF(a.cum + x.c >= target, x.bin, CAST(-1 AS BIGINT))))).v"""
          .stripMargin))
      .withColumn("rank_of_est", expr(
        "aggregate(h0nodes, CAST(0 AS BIGINT), " +
          "(a, x) -> a + IF(x.bin <= est_cents, x.c, CAST(0 AS BIGINT)))"))
      .withColumn("rank_below_est", expr(
        "aggregate(h0nodes, CAST(0 AS BIGINT), " +
          "(a, x) -> a + IF(x.bin < est_cents, x.c, CAST(0 AS BIGINT)))"))
      .select(
        (col("p") * 10).cast(IntegerType).as("phi_pct"),
        col("target").as("target_rank"),
        col("est_cents"), col("true_cents"), col("rank_of_est"),
        greatest(lit(0L), col("rank_below_est") + 1 - col("target"),
          col("target") - col("rank_of_est")).as("abs_rank_err"),
        (lit(2L * QdLevels) * col("t")).as("err_bound"),
        col("n_nodes"))
      .orderBy(col("phi_pct"))
  }

  /** Level-0 histogram over event-value cents (the digest's input and the
    * audit's exact reference). */
  private[graft] def qdigestH0(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(greatest(least((col("value").cast(DecimalType(12, 2)) * 100)
          .cast(LongType), lit(QdUniverse - 1)), lit(0L)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("c"))

  /** Deterministic q-digest quantile sketch over event values with its
    * truth audit: per decile φ, the digest's estimate, the exact quantile,
    * the estimate's true rank, and the 2·L·T error guarantee. */
  def qdigest(spark: SparkSession, dir: String): DataFrame = {
    // ONE events pass (r15): the digest build and the report's exact
    // reference both consume h0 — uncheckpointed, each re-scanned the
    // corpus (2 full scans for a ≤ 2^16-row histogram). The checkpoint
    // is universe-bounded at any data volume (guide §1.2 step 1 /
    // §5 caching: reused and expensive to recompute).
    val h0 = qdigestH0(spark, dir).graftCheckpoint()
    qdigestReport(spark, h0,
      qdigestCompress(h0.select(lit(0).as("level"), col("bin"), col("c"))))
  }

  /** Per-group q-digest compression: the [[qdigestCompress]] sweep with a
    * group key carried through every round — each group gets its OWN
    * threshold T = max(⌊group mass / K⌋, 1), so the output is one
    * independent digest per key. This is the per-source/per-shard build a
    * 100 TB ingest runs: ONE map-side-combinable histogram aggregate, then
    * 16 chained groupBys over ≤ |keys|·2^16 rows. The key joins broadcast
    * because the per-key threshold frame is group-domain scale. */
  private[graft] def qdigestCompressBy(nodes: DataFrame, key: String): DataFrame = {
    val tot = nodes.groupBy(col(key)).agg(sum(col("c")).as("nmass"))
      .select(col(key), expr(s"greatest(nmass div $QdK, 1)").as("t"))
    var state = nodes.join(broadcast(tot), Seq(key))
      .select(col(key), col("level"), col("bin"), col("c"),
        lit(false).as("done"), col("t"))
    for (lvl <- 0 until QdLevels) {
      val keep = col("done") || col("c") >= col("t") || col("level") >= QdLevels
      val stepped = state.select(col(key),
        when(keep, col("level")).otherwise(col("level") + 1).as("level"),
        when(keep, col("bin")).otherwise(expr("bin div 2")).as("bin"),
        col("c"), keep.as("done"), col("t"))
      state = stepped.groupBy(col(key), col("level"), col("bin"), col("done"))
        .agg(sum(col("c")).as("c"), max(col("t")).as("t"))
        .select(col(key), col("level"), col("bin"), col("c"), col("done"), col("t"))
      // same 4-level lineage truncation as [[qdigestCompress]] (r15):
      // state is ≤ |keys|·2^16 rows — bounded — while the unbroken
      // chain's planning/codegen cost is what the leg actually paid
      if ((lvl + 1) % 4 == 0) state = state.graftCheckpoint()
    }
    state.groupBy(col(key), col("level"), col("bin")).agg(sum(col("c")).as("c"))
  }

  /** Distributed q-digest MERGE, end to end (VERDICT r11 #3): per-event-
    * type digests built independently — the per-source/per-day shards a
    * 100 TB pipeline actually produces — then union-and-recompress
    * ([[qdigestCompress]] accepts the mixed-level node union directly;
    * the root clamp keeps the merged digest canonical), and the merged
    * digest audited against the WHOLE data's exact histogram. The plan is
    * the mergeability claim made executable: per-shard aggregate → union
    * → 16 bounded recompress rounds, no full sort anywhere. The reported
    * `err_bound` is the single-sweep 2·L·T; the principled merged bound
    * is 2× it (shard sweeps inherit ≤ 2·L·(ΣT_i) ≤ 2·L·T_m, the
    * recompress adds ≤ 2·L·T_m — ProfileOpsSpec asserts it). */
  def qdigestMerge(spark: SparkSession, dir: String): DataFrame = {
    // ONE events pass (r15, the [[qdigest]] note): the per-type sweep
    // and the merged audit's exact histogram both consume h0ByType —
    // uncheckpointed, each paid its own full corpus scan. The
    // checkpoint is ≤ |types|·2^16 rows, bounded at any volume.
    val h0ByType = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        greatest(least((col("value").cast(DecimalType(12, 2)) * 100)
          .cast(LongType), lit(QdUniverse - 1)), lit(0L)).as("bin"))
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("c"))
      .graftCheckpoint()
    val perType = qdigestCompressBy(
      h0ByType.select(col("event_type"), lit(0).as("level"), col("bin"), col("c")),
      "event_type")
    val merged = qdigestCompress(perType.select(col("level"), col("bin"), col("c")))
    val h0 = h0ByType.groupBy(col("bin")).agg(sum(col("c")).as("c"))
    qdigestReport(spark, h0, merged)
  }
}
