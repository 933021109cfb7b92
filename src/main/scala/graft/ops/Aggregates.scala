package graft.ops

import graft.Tables
import graft.functions.{freqItems, tdigest}
import graft.ops.Checkpoints.CutOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregations (SURVEY §2.E): hash aggregates with partial (map-side)
  * combine, multi-distinct expansion, rollup/cube/grouping-sets, stats,
  * sorted array agg, approx sketches, pivot.
  *
  * All money math follows the exact-decimal protocol in [[Cols]]; averages
  * are one double division of an exact decimal sum, rounded to 6 dp.
  */
object Aggregates {

  /** E1 — TPC-H Q1 pricing summary: the canonical partial+final hash agg. */
  def aggPricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(Cols.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(Cols.dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(Cols.revenue).cast("double").as("sum_disc_price"),
        sum(Cols.charge).cast("double").as("sum_charge"),
        Cols.avg6(col("l_quantity")).as("avg_qty"),
        Cols.avg6(col("l_extendedprice")).as("avg_price"),
        Cols.avg6(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** E2 — COUNT(DISTINCT) per nation with a post-aggregation HAVING. */
  def aggCountDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .where(col("n_orders") > 10)
      .orderBy(col("n_name"))

  /** E3 — multiple DISTINCT aggregates in one group-by (Expand-based). */
  def aggMultiDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        sum(Cols.dec2(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag"))

  /** E4 — ROLLUP(region, nation) over order totals with grouping flags. */
  def aggRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir)
      .join(Tables.nation(spark, sfDir), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"),
        grouping(col("r_name")).cast("int").as("g_r"),
        grouping(col("n_name")).cast("int").as("g_n"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))

  /** E5 — CUBE over flag/status with counts and exact decimal sums. */
  def aggCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(Cols.dec2(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** E6 — explicit GROUPING SETS via SQL (same text runs on DuckDB). */
  def aggGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(graft.oracle.OracleSql.all("agg_grouping_sets"))
  }

  /** E7 — sample stats (stddev/var/corr/covar), rounded to 6 dp. */
  def aggStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_extendedprice")), 6).as("sd_price"),
        round(var_samp(col("l_quantity")), 6).as("var_qty"),
        // + 0.0: corr/covar are signed — normalize IEEE -0.0 (§5.3)
        (round(corr(col("l_extendedprice"), col("l_quantity")), 6) + lit(0.0)).as("corr_pq"),
        (round(covar_samp(col("l_extendedprice"), col("l_quantity")), 6) + lit(0.0)).as("cov_pq"))
      .orderBy(col("l_returnflag"))

  /** E8 — deterministic array agg: collect_list is unordered by contract,
    * so sort_array makes the result a pure function of the group. The final
    * projection serializes the array to a CSV string: the driver's
    * comparator cannot hash array cells (VERDICT r1 — unhashable ndarray),
    * and a delimited string is the portable wire form.
    */
  def aggCollectSorted(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lns_arr"))
      .select(col("l_orderkey"),
        array_join(transform(col("lns_arr"), x => x.cast("string")), ",")
          .as("linenumbers"))
      .orderBy(col("l_orderkey"))

  /** E9 — HLL sketch: approx_count_distinct per event type. Engine-specific
    * sketch → no SQL oracle; unit-tested within ±5% of exact (SURVEY E9).
    */
  def aggApproxHll(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** agg_percentiles — exact interpolated percentiles per group (both
    * engines use the standard (n-1)·p interpolation), rounded 6 dp.
    * 100 TB note: exact percentile sorts per group; the approximate path
    * for huge groups is percentile_approx / t-digest (the E9 pattern).
    */
  def aggPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price"),
        round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"),
        round(expr("percentile(l_quantity, 0.25)"), 6).as("q1_qty"))
      .orderBy(col("l_returnflag"))

  /** agg_percentile_approx — the huge-group scale path promised at
    * [[aggPercentiles]]: `percentile_approx` is a mergeable quantile sketch
    * (Greenwald-Khanna variant) with partial (map-side) combine, so a
    * 100 TB group never sorts — memory is O(accuracy), not O(rows).
    * Engine-specific sketch → no SQL oracle (the E9 pattern); unit-tested
    * within 1% relative error of the exact percentiles.
    */
  def aggPercentileApprox(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("median_price"),
        expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("p90_price"),
        expr("percentile_approx(l_quantity, 0.25, 10000)").as("q1_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** agg_regression — ANSI linear-regression aggregates: OLS slope /
    * intercept / R² / count of price over quantity per flag — the one-pass
    * distributed alternative to collecting per-group series. Signed
    * outputs carry the `+ 0.0` -0.0 normalization (§5.3).
    */
  def aggRegression(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        (round(expr("regr_slope(l_extendedprice, l_quantity)"), 6) + lit(0.0)).as("slope"),
        (round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6) + lit(0.0)).as("intercept"),
        (round(expr("regr_r2(l_extendedprice, l_quantity)"), 6) + lit(0.0)).as("r2"),
        expr("regr_count(l_extendedprice, l_quantity)").as("n"))
      .orderBy(col("l_returnflag"))

  /** agg_tdigest — custom mergeable t-digest sketch (graft.functions
    * .TDigestSketch, the M13 TypedImperativeAggregate pattern applied to
    * quantiles): O(compression) state per group, associative partial
    * merges. Engine-specific sketch → no SQL oracle (E9 pattern);
    * unit-tested within 2% of the exact percentiles.
    */
  def aggTdigest(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(tdigest(col("l_extendedprice")).as("qs"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(element_at(col("qs"), 1), 2).as("q25_price"),
        round(element_at(col("qs"), 2), 2).as("q50_price"),
        round(element_at(col("qs"), 3), 2).as("q90_price"),
        col("n"))
      .orderBy(col("l_returnflag"))
  }

  /** E11 — equi-width histogram binning: orders bucketed by total price
    * (25k-wide bins, clamped top bin), count + exact decimal sum per bin.
    * Buckets are computed with plain IEEE double division + floor — both
    * engines evaluate it identically (unlike width_bucket, which DuckDB
    * 1.0 lacks, and unlike decimal division, whose result scale differs
    * per engine). One tiny hash aggregation; the classic distribution
    * profile every data audit starts with.
    */
  def aggHistogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .withColumn("bucket",
        least(floor(col("o_totalprice") / 25000.0), lit(23.0)).cast("bigint"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("sum_price"))
      .orderBy(col("bucket"))

  /** E13 — argmax/argmin aggregates: per customer, the orderkey of the
    * highest- and lowest-priced order. `max_by`'s tie behavior is
    * engine-dependent, so the ordering value is made UNIQUE by composing
    * exact price cents with the orderkey into one BIGINT — deterministic
    * in both engines (the same trick a 100 TB pipeline needs, since ties
    * on a measure are certain at scale).
    */
  def aggMinMaxBy(spark: SparkSession, sfDir: String): DataFrame = {
    val ord = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000000 + o_orderkey"
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(
        expr(s"max_by(o_orderkey, $ord)").as("best_order"),
        expr(s"min_by(o_orderkey, $ord)").as("worst_order"),
        max(Cols.dec2(col("o_totalprice"))).cast("double").as("best_price"))
      .orderBy(col("o_custkey"))
  }

  /** F8 — period-over-period: monthly revenue with month-over-month delta
    * and percent change via lag. The window runs over the MONTH aggregate
    * (≈ tens of rows) — global ordering is fine at any scale because the
    * windowed relation is dimension-sized, not data-sized.
    */
  def winPeriodOverPeriod(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("month"))
    Tables.orders(spark, sfDir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(Cols.dec2(col("o_totalprice"))).cast("double").as("revenue"))
      .withColumn("prev", lag("revenue", 1).over(w))
      .select(col("month"), col("revenue"),
        // + 0.0 normalizes IEEE -0.0 (negative changes round to -0.0 at
        // boundaries); NULL first row stays NULL through both engines
        (round((col("revenue") - col("prev")) / col("prev"), 6) + lit(0.0))
          .as("mom_pct"))
      .orderBy(col("month"))
  }

  /** E14 — deterministic mode: the most frequent order priority per
    * customer. `mode()` leaves ties engine-defined, so this is the
    * portable two-stage shape every production pipeline uses instead:
    * count per (group, value), then rank by (count DESC, value ASC) and
    * keep rank 1 — a pure function of the data on any engine. Both
    * stages shuffle on (or within) the group key; the window partitions
    * by customer, never globally.
    */
  def aggModeDeterministic(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("cnt"), asc("o_orderpriority"))
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderpriority").as("mode_priority"),
        col("cnt").as("mode_n"))
      .orderBy(col("o_custkey"))
  }

  /** E15 — GROUPING SETS with grouping metadata through the DataFrame API
    * (`Dataset.groupingSets`, Spark 4): subtotal level identified by
    * `grouping_id(status, priority)` plus the per-column grouping bits —
    * the machinery BI layers need to tell a subtotal NULL from a data
    * NULL. DuckDB's `GROUPING(a,b)` uses the same first-arg-is-MSB bit
    * order, verified cross-engine.
    */
  def aggGroupingId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id(col("o_orderstatus"), col("o_orderpriority")).as("gid"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        count(lit(1)).as("n"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(asc("gid"), asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"))

  /** E19 — incremental aggregate maintenance: yesterday's per-status
    * rollup (sum/count/max are all MERGEABLE states) combined with
    * today's batch WITHOUT re-scanning history — full-outer join on the
    * group key, states coalesced and merged. The daily-rollup-refresh
    * idiom: at 100 TB the history side is a tiny aggregate table, the
    * batch side aggregates only the new partition, and the merge is a
    * group-key join of two dimension-sized relations. Splits orders on
    * orderkey parity to simulate history ⊕ batch; the oracle aggregates
    * the union directly — merged states must equal the full recompute.
    */
  def aggIncrementalMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    def rollup(df: DataFrame) = df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("o_totalprice"))).as("rev_dec"),
        max(Cols.dec2(col("o_totalprice"))).as("max_dec"))
    val history = rollup(o.where(col("o_orderkey") % 2 === 0))
    val batch = rollup(o.where(col("o_orderkey") % 2 =!= 0))
    history.as("h").join(batch.as("b"),
        col("h.o_orderstatus") === col("b.o_orderstatus"), "full_outer")
      .select(
        coalesce(col("h.o_orderstatus"), col("b.o_orderstatus")).as("o_orderstatus"),
        (coalesce(col("h.n"), lit(0L)) + coalesce(col("b.n"), lit(0L))).as("n"),
        (coalesce(col("h.rev_dec"), lit(0).cast("decimal(12,2)")) +
          coalesce(col("b.rev_dec"), lit(0).cast("decimal(12,2)")))
          .cast("double").as("revenue"),
        greatest(col("h.max_dec"), col("b.max_dec")).cast("double").as("max_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** E17 — robust statistics per group: exact interpolated median, IQR,
    * and MAD (median absolute deviation). MAD needs the group median
    * FIRST, so it is a two-stage plan: group percentiles → broadcast the
    * 3-row group table back onto the fact → percentile of the absolute
    * deviations. Both engines use the same lower+(upper−lower)·frac
    * interpolation, on the ROUNDED median so the second stage's input is
    * bit-identical cross-engine.
    */
  def aggRobustStats(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val base = li.groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("median_price"),
        round(expr("percentile(l_extendedprice, 0.75) - percentile(l_extendedprice, 0.25)"), 6)
          .as("iqr_price"))
    val mad = li
      .join(broadcast(base.select(col("l_returnflag"), col("median_price"))), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(abs(l_extendedprice - median_price), 0.5)"), 6)
        .as("mad_price"))
    base.join(mad, "l_returnflag")
      .select(col("l_returnflag"), col("median_price"), col("iqr_price"), col("mad_price"))
      .orderBy(col("l_returnflag"))
  }

  /** E16 — mergeable HLL sketch rollup (Datasketches, built into Spark 4):
    * daily `hll_sketch_agg(user_id)` sketches, then WEEKLY distinct-user
    * estimates by `hll_union_agg` over the daily sketches — re-aggregating
    * byte-sized state instead of re-scanning raw events. THE
    * pre-aggregation idiom at 100 TB: daily sketches persist once; every
    * coarser rollup (week/month/quarter, any region slice) is a cheap
    * union of sketches. No SQL oracle (approximate + engine-specific
    * serialization); AnalyticSpec asserts ≤5% vs exact weekly distinct.
    */
  def aggHllSketchUnion(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
        count(lit(1)).as("n_events"))
    daily
      .groupBy(date_trunc("week", col("day")).as("week"))
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
        sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_days"))
      .orderBy(col("week"))
  }

  /** E12 — ordered string aggregation: per region, the lexicographically
    * sorted nation list as one delimited string (`listagg ... WITHIN
    * GROUP`, new in Spark 4). Determinism requires the explicit WITHIN
    * GROUP order — an unordered listagg is partitioning-dependent.
    */
  def aggStringConcat(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir)
      .groupBy(col("n_regionkey"))
      .agg(
        expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").as("nations"),
        count(lit(1)).as("n_nations"))
      .orderBy(col("n_regionkey"))

  /** E11b — equi-DEPTH histogram (deciles) next to E11's equi-width bins:
    * ntile(10) over (price, unique key), per-decile count and exact price
    * bounds. Since round 5 the decile assignment runs through the two-pass
    * range-partitioned rank ([[GlobalRank]]) — identical output to the
    * global-window form (ntile over a unique key is closed-form in
    * (row_number, N)), but the fact-table sort happens in parallel
    * partitions instead of one (VERDICT r4 #2; the last single-partition
    * fact window). PlanSpec asserts the range partitioning and equality
    * with the legacy global-window form.
    */
  def aggHistogramEquidepth(spark: SparkSession, sfDir: String): DataFrame =
    GlobalRank.withGlobalRowNumber(
      Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_totalprice")),
      parts = 8, col("o_totalprice"), col("o_orderkey"))
      .withColumn("decile", GlobalRank.ntileExpr(10))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("decile"))

  /** L11 — time-series gap fill: the complete hourly spine between the
    * first and last event hour (generated with `sequence`, exploded — no
    * driver-side collect), left-joined to per-hour purchase aggregates,
    * missing hours filled with zeros. Purchases are sparse enough that
    * real gaps exist at every SF — the resample-to-regular-grid step
    * every time-series pipeline needs before windowed models.
    *
    * 100 TB note: the spine is |hours| rows (tiny) and broadcasts; the
    * fact side aggregates map-side first, so the join touches one compact
    * row per hour, never raw events.
    */
  def gapfillHourly(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val hourly = ev.where(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(
        count(lit(1)).as("n"),
        sum(Cols.dec2(col("value"))).cast("double").as("sum_value"))
    val spine = ev
      .agg(min(date_trunc("hour", col("ts"))).as("lo"),
        max(date_trunc("hour", col("ts"))).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    spine.join(hourly, Seq("hour"), "left")
      .select(col("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col("hour"))
  }

  /** L24 ts_seasonal_anova — hour-of-day seasonality STRENGTH as the
    * one-way ANOVA R² of the zero-filled hourly count series: how much of
    * the hourly variance does the time-of-day profile explain? The series
    * is trimmed to complete calendar days (first/last day dropped), so
    * every hour-of-day bucket holds exactly m samples and the ratio
    * clears to ONE division of exact LONG moments:
    *   R² = 1 − n·Σ_h(m·Q_h − S_h²) / (m·(n·Q − S²)),
    * with Q/S (global) and Q_h/S_h (per hour-of-day) exact integer
    * count sums — no float accumulates anywhere. The number that decides
    * whether an hourly forecast needs a seasonal term at all; companion
    * to ts_seasonal_decompose (which produces the components) and
    * ts_hourofday_profile (the means).
    *
    * 100 TB: the hourly collapse is the only corpus-sized aggregate; the
    * spine is |hours| rows, the ANOVA runs over 24 groups.
    */
  def tsSeasonalAnova(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val hourly = ev.groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val spine = ev
      .agg(date_trunc("day", min(col("ts"))).as("d0"),
        date_trunc("day", max(col("ts"))).as("d1"))
      .select(explode(expr(
        "sequence(d0 + interval 1 day, d1 - interval 1 hour, interval 1 hour)"))
        .as("hour"))
    val x = spine.join(hourly, Seq("hour"), "left")
      .select(hour(col("hour")).as("hod"), coalesce(col("n"), lit(0L)).as("x"))
      .lineageCut(true)
    val g = x.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("q"))
    val perH = x.groupBy(col("hod"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sh"),
        sum(col("x") * col("x")).as("qh"))
    // single-row by construction (agg, not groupBy(m)): if the trimmed
    // spine ever yields unequal per-hod sample counts the contract row
    // still stays 1×1 — MAX(m) mirrors the oracle's sw CTE exactly
    val ssw = perH
      .select(col("m"), (col("m") * col("qh") - col("sh") * col("sh")).as("w"))
      .agg(max(col("m")).as("m"), sum(col("w")).as("ssw_m"))
    val peak = perH
      .select(max(struct(col("sh"), (lit(23) - col("hod")).as("inv"))).as("p"),
        max(col("m")).as("m2"))
      .select((lit(23) - col("p.inv")).as("peak_hour"),
        col("p.sh").as("peak_sum"), col("m2"))
    g.crossJoin(broadcast(ssw)).crossJoin(broadcast(peak))
      .select(
        expr("CAST(n div 24 AS BIGINT)").as("n_days"),
        col("n").as("n_hours"),
        (col("n") * col("q") - col("s") * col("s")).as("sst_n"),
        col("ssw_m"),
        when(col("n") * col("q") - col("s") * col("s") === 0, lit(null))
          .otherwise(round(lit(1.0) -
            (col("n") * col("ssw_m")).cast("double") /
              (col("m") * (col("n") * col("q") - col("s") * col("s"))).cast("double"),
            6) + lit(0.0)).as("seasonal_r2"),
        col("peak_hour").cast("int").as("peak_hour"),
        (round(col("peak_sum").cast("double") / col("m2"), 6) + lit(0.0))
          .as("peak_mean"))
  }

  /** L25 ts_forecast_baseline_mae — the forecast-baseline backtest every
    * series gets BEFORE anyone fits a model: per event type, the MAE of
    * the naive predictor (x̂_t = x_{t−1}) vs the seasonal-naive predictor
    * (x̂_t = x_{t−24}) over the zero-filled hourly series. If
    * seasonal-naive doesn't beat naive, the hour-of-day term
    * ([[tsSeasonalAnova]]'s R²) isn't worth modeling. Absolute errors are
    * exact integer differences of counts; each MAE is one division,
    * rounded 6 dp; the ratio divides the two ROUNDED doubles (identical
    * trees both engines). Windows run per type over the bounded hourly
    * spine (the L21 precedent), never over raw events.
    */
  def tsForecastBaselineMae(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sfDir)
    val hourly = ev.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val spine = ev
      .agg(min(date_trunc("hour", col("ts"))).as("lo"),
        max(date_trunc("hour", col("ts"))).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
      .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    spine.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"), coalesce(col("n"), lit(0L)).as("x"))
      .withColumn("lag1", lag(col("x"), 1).over(w))
      .withColumn("lag24", lag(col("x"), 24).over(w))
      .where(col("lag24").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("x") - col("lag1"))).as("ae1"),
        sum(abs(col("x") - col("lag24"))).as("ae24"))
      .select(col("event_type"), col("n_eval"),
        (round(col("ae1").cast("double") / col("n_eval"), 6) + lit(0.0)).as("mae_naive"),
        (round(col("ae24").cast("double") / col("n_eval"), 6) + lit(0.0)).as("mae_seasonal"),
        when(col("ae1") =!= 0,
          round((round(col("ae24").cast("double") / col("n_eval"), 6) + lit(0.0)) /
            (round(col("ae1").cast("double") / col("n_eval"), 6) + lit(0.0)), 6) + lit(0.0))
          .as("mae_ratio"))
      .orderBy(col("event_type"))
  }

  /** E20 agg_decay_halflife — exponentially time-decayed engagement per
    * user with a ONE-DAY half-life: each event contributes 2^-age_days
    * (integer-floored age vs the corpus max timestamp, capped at 20 days,
    * older events contribute 0).
    *
    * Determinism by construction: every decay factor is an exact dyadic
    * rational (1 / (1 << k), k ≤ 19 — integer shift, no libm pow), so
    * `decayed_count` is a sum of exact multiples of 2^-19 bounded well
    * under 2^53 — bit-exact in ANY addition order on both engines, no
    * rounding needed. The value-weighted sum multiplies arbitrary doubles
    * and is rounded to 6 dp like every irreducible float.
    *
    * 100 TB: the reference timestamp is a 1-row broadcast; the decayed
    * aggregate is an ordinary mergeable sum — map-side combine applies,
    * and the sketch-free exactness makes it composable with E19-style
    * incremental maintenance (yesterday's sums halve, today's add).
    */
  def aggDecayHalflife(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val ref = ev.agg(max(col("ts_us")).as("ref_us"))
    ev.crossJoin(broadcast(ref))
      .withColumn("age_days", expr("(ref_us - ts_us) div 86400000000"))
      .where(col("age_days") < 20)
      .withColumn("decay",
        expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), CAST(age_days AS INT)) AS DOUBLE)"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_recent"),
        sum(col("decay")).as("decayed_count"),
        (round(sum(col("value") * col("decay")), 6) + lit(0.0)).as("decayed_value"))
      .orderBy(col("user_id"))
  }

  /** E21 agg_bitmap_distinct — EXACT distinct counting in mergeable form:
    * users bucketed 64-per-mask, one bit_or'd BIGINT bitmap per
    * (event_type, bucket), popcounts summed (32 per mask — see below). This is the roaring-bitmap
    * pattern reduced to its SQL core: unlike COUNT(DISTINCT) (whose Expand
    * multiplies the scan, see dq_profile_table) the bitmap is a bounded
    * mergeable partial state — map-side combine ships ≤ one BIGINT per
    * (group, 32-user bucket), and bitmap tables for different days union
    * by re-OR-ing, giving exact distinct-over-any-window at 100 TB. The
    * oracle is a literal COUNT(DISTINCT), so the algorithm itself is
    * verified, not replicated.
    */
  def aggBitmapDistinct(spark: SparkSession, sfDir: String): DataFrame =
    // 32 users per mask, not 64: a shift by 63 overflows DuckDB's checked
    // signed <<, and the oracle must run the same algorithm
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("user_id div 32").as("bucket"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))")
        .as("mask"))
      .groupBy(col("event_type"))
      .agg(
        expr("CAST(sum(bit_count(mask)) AS BIGINT)").as("n_users"),
        count(lit(1)).as("n_buckets"))
      .orderBy(col("event_type"))

  /** L16 ts_downsample_ohlc — time-series downsampling to hourly OHLC bars
    * per event type: open/close are the first/last value in (ts, event_id)
    * order (full tiebreak → deterministic), high/low are min/max, volume is
    * the row count. Two row_number windows over the SAME partitioning keys
    * as the final group-by, so the whole query is ONE hash exchange on
    * (event_type, hour) followed by two in-partition sorts and a hash agg —
    * the canonical "compact a 100 TB event stream to dashboard bars" shape.
    * No double SUMs anywhere: open/high/low/close are element picks, so the
    * output is bit-deterministic under any partitioning.
    */
  def tsDownsampleOhlc(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(col("event_type"), col("hour"))
    val wAsc = part.orderBy(col("ts_us"), col("event_id"))
    val wDesc = part.orderBy(col("ts_us").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .select(col("event_type"), date_trunc("HOUR", col("ts")).as("hour"),
        col("ts_us"), col("event_id"), col("value"))
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** E22 agg_weighted_median — exact weighted median (the robust "typical
    * price" with quantity as mass): order each group by (price, orderkey,
    * linenumber), take the first price whose running weight reaches half
    * the total. Weights are integerized (round→LONG), so every cumulative
    * sum is exact integer arithmetic — no float-order hazard in the running
    * window. One range-free keyed sort per group + a min() pick; at 100 TB
    * the sort is the cost and it is per-group parallel.
    */
  def aggWeightedMedian(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 0).cast("long").as("w"))
    // Cumulative weights through the SHARED two-pass range-partitioned
    // prefix sum (GlobalRank, the F5v2/E11b treatment — VERDICT r5 #7): the
    // total order leads with the group key, so each group occupies a
    // contiguous key range and the heavy scan parallelizes across ALL
    // ranges — not capped at group cardinality (3 flags) like the grouped
    // running window it replaces. Per-group cumulative = global prefix sum
    // minus the group's start offset, recovered from the 3-row totals
    // relation; weights are integerized so every sum is exact LONG math.
    val cum = GlobalRank.withGlobalRunningSum(base, 32, col("w"),
      col("l_returnflag"), col("l_extendedprice"),
      col("l_orderkey"), col("l_linenumber"))
    // 3-row per-flag totals → exclusive start offsets in flag order.
    // Derived from the RANKED relation (optimization round 16): `cum` is
    // eagerly checkpointed by GlobalRank, so aggregating it reads the
    // materialized blocks instead of re-scanning lineitem (the old
    // `base`-side aggregate was a second full parquet scan + decimal
    // conversion of the corpus).
    val totals = cum.groupBy(col("l_returnflag")).agg(sum(col("w")).as("totw"))
      .withColumn("grp_offset",
        coalesce(sum(col("totw")).over(Window.orderBy(col("l_returnflag"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    cum.join(broadcast(totals), Seq("l_returnflag"))
      // inclusive within-group running weight
      .withColumn("cumw", col("cum_before") - col("grp_offset") + col("w"))
      .where(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg(
        min(col("l_extendedprice")).as("weighted_median"),
        min(col("totw")).as("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  /** E23 agg_skew_kurtosis — exact higher-moment stats (skewness, excess
    * kurtosis) without trusting either engine's built-in definition: prices
    * are quantized to integers (round→LONG), the four raw power sums
    * S1..S4 are EXACT integer/decimal(38,0) arithmetic (single-pass,
    * mergeable — the 100 TB shape: one map-side-combined agg, no second
    * scan), and the central moments come out of one fixed IEEE expression
    * tree over the exact sums. The oracle replicates the identical
    * expression tree over HUGEINT sums, so the comparison is
    * bit-deterministic after 6 dp rounding.
    */
  def aggSkewKurtosis(spark: SparkSession, sfDir: String): DataFrame = {
    val q = round(col("l_extendedprice"), 0).cast("long")
    val d = q.cast("decimal(38,0)")
    val nD = col("n").cast("double")
    val mu = col("s1").cast("double") / nD
    val s2d = col("s2").cast("double") / nD
    val s3d = col("s3").cast("double") / nD
    val s4d = col("s4").cast("double") / nD
    val m2 = s2d - mu * mu
    val m3 = s3d - lit(3.0) * mu * s2d + lit(2.0) * mu * mu * mu
    val m4 = s4d - lit(4.0) * mu * s3d + lit(6.0) * mu * mu * s2d -
      lit(3.0) * mu * mu * mu * mu
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        // all four sums in decimal(38,0): q^4 ≈ 1e20 per row and ~1e12 rows
        // at 100 TB still fit precision 38; LONG would overflow S3/S4
        sum(q.cast("decimal(38,0)")).as("s1"),
        sum((q * q).cast("decimal(38,0)")).as("s2"),
        sum(d * d * d).as("s3"),
        sum(d * d * d * d).as("s4"))
      .select(
        col("l_returnflag"),
        col("n"),
        // RAW doubles, deliberately un-rounded: every input is an exact
        // integer sum and every op below is a correctly-rounded IEEE
        // primitive (+,-,*,/,sqrt), so both engines produce the identical
        // bit pattern — whereas round(x, 6) at magnitude ~9e8 differs
        // between engines (DuckDB's multiply-based rounding flips the
        // last digit; caught by the sf0.01 preflight)
        (mu + lit(0.0)).as("mean_q"),
        (m2 + lit(0.0)).as("m2"),
        (m3 / (m2 * sqrt(m2)) + lit(0.0)).as("skewness"),
        (m4 / (m2 * m2) - lit(3.0) + lit(0.0)).as("kurtosis"))
      .orderBy(col("l_returnflag"))
  }

  /** L17 ts_autocorr_hourly — lag-1 autocorrelation of the hourly event
    * volume (the "is traffic self-similar hour-over-hour" seasonality
    * probe). Same exactness pattern as E23: the hourly counts are
    * integers, the five correlation sums over (x_t, x_{t+1}) pairs are
    * exact LONG arithmetic, and Pearson's r is one fixed IEEE tree at the
    * end — raw double, bit-equal across engines. The global window runs
    * over the HOURS relation (dimension-sized: data was already collapsed
    * by the keyed agg), the documented acceptable global-window shape.
    */
  def tsAutocorrHourly(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("hour"))
    // numerator/radicands in exact LONG arithmetic; ONE cast each, then
    // the fixed float tree (div, sqrt, mul) — bit-equal across engines
    val r = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
        sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
    Tables.events(spark, sfDir)
      .groupBy(date_trunc("HOUR", col("ts")).as("hour"))
      .agg(count(lit(1)).as("x"))
      .withColumn("y", lead(col("x"), 1).over(w))
      .where(col("y").isNotNull)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_pairs"),
        (col("sx").cast("double") / col("n").cast("double")).as("mean_x"),
        (r + lit(0.0)).as("lag1_autocorr"))
  }

  /** E24 pivot_multi_agg — pivot with TWO aggregates per pivot value
    * (count + exact-decimal sum): the wide-dashboard shape E10's
    * count-only pivot doesn't cover. Spark names the columns
    * `<value>_<aggAlias>`; counts are null-filled to 0 (DuckDB's
    * count FILTER is never NULL) while sums stay NULL for absent cells
    * (both engines agree an empty SUM is NULL). One hash agg with
    * map-side combine, exactly like E10.
    */
  def pivotMultiAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("value"))).cast("double").as("sv"))
      .na.fill(0L, types.map(_ + "_n"))
      .orderBy(col("user_id"))
  }

  /** E25 agg_corr_pairs — the 3×3 correlation matrix of (quantity, price,
    * discount) in ONE pass: all ten cross/power sums accumulate as exact
    * decimal(38,0) over integerized inputs (discount ×100 — products of
    * exact int doubles round identically in both engines), then each
    * Pearson r is one fixed IEEE tree over the exact sums (E23's
    * pattern). Single-pass and mergeable — the feature-correlation scan
    * a modeling pipeline runs over 100 TB without a second read. Raw
    * doubles; bit-equal by construction.
    */
  def aggCorrPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val q = round(col("l_quantity"), 0).cast("long").cast("decimal(38,0)")
    val p = round(col("l_extendedprice"), 0).cast("long").cast("decimal(38,0)")
    val d = round(col("l_discount") * 100, 0).cast("long").cast("decimal(38,0)")
    val dn = col("n").cast("decimal(38,0)")
    def corr(sx: Column, sy: Column, sxy: Column, sxx: Column, syy: Column): Column =
      (dn * sxy - sx * sy).cast("double") /
        (sqrt((dn * sxx - sx * sx).cast("double")) *
          sqrt((dn * syy - sy * sy).cast("double"))) + lit(0.0)
    Tables.lineitem(spark, sfDir)
      .agg(count(lit(1)).as("n"),
        sum(q).as("sq"), sum(p).as("sp"), sum(d).as("sd"),
        sum(q * q).as("sqq"), sum(p * p).as("spp"), sum(d * d).as("sdd"),
        sum(q * p).as("sqp"), sum(q * d).as("sqd"), sum(p * d).as("spd"))
      .select(col("n"),
        corr(col("sq"), col("sp"), col("sqp"), col("sqq"), col("spp")).as("corr_qty_price"),
        corr(col("sq"), col("sd"), col("sqd"), col("sqq"), col("sdd")).as("corr_qty_disc"),
        corr(col("sp"), col("sd"), col("spd"), col("spp"), col("sdd")).as("corr_price_disc"))
  }

  /** L18 ts_hourofday_profile — diurnal seasonality profile: events and
    * distinct users per hour-of-day, each hour's share of total traffic,
    * and a peak flag. The share is one int→double division (exact inputs);
    * the peak flag is a max over the 24-row profile (dimension-sized
    * global window — data was already collapsed by the keyed agg).
    */
  def tsHourOfDayProfile(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy()
    Tables.events(spark, sfDir)
      .groupBy(hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .withColumn("share",
        col("n_events").cast("double") / sum(col("n_events")).over(wAll))
      .withColumn("is_peak", col("n_events") === max(col("n_events")).over(wAll))
      .orderBy(col("hod"))
  }

  /** E26 agg_gini_revenue — Gini concentration index of (integerized)
    * line-item price per return flag: how concentrated revenue is across
    * line items, the inequality metric a spend report quotes. Uses the
    * rank formulation G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over the
    * fully-tiebroken sort: both Σ terms are EXACT decimal(38,0) sums
    * (i·x fits LONG per row, summed wide), the final value one fixed
    * IEEE tree — raw double, bit-equal (E23's pattern). Tie order cannot
    * change the result: equal x contribute the same Σ i·x over any
    * permutation of their rank block. Parallelism of the rank scan equals
    * group cardinality — contract semantics (3 flags), cf. E22.
    */
  def aggGiniRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("q"), col("l_orderkey"), col("l_linenumber"))
    val nD = col("n").cast("double")
    val gini = (lit(2.0) * col("swi").cast("double") -
      (col("n") + 1).cast("double") * col("s1").cast("double")) /
      (nD * col("s1").cast("double"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 0).cast("long").as("q"))
      .withColumn("i", row_number().over(w))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("q").cast("decimal(38,0)")).as("s1"),
        sum((col("i") * col("q")).cast("decimal(38,0)")).as("swi"))
      .select(col("l_returnflag"), col("n"), (gini + lit(0.0)).as("gini"))
      .orderBy(col("l_returnflag"))
  }

  /** E10 — pivot with explicit value list (determinism) per SURVEY E10. */
  def pivotEventType(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .count()
      .na.fill(0L, types)
      .orderBy(col("user_id"))
  }

  /** L19 ts_resample_interp_5m — resample purchases to a regular 5-minute
    * grid and LINEARLY INTERPOLATE the gaps (L11 gapfill zero-fills;
    * models want a continuous signal). Buckets are integer µs arithmetic
    * (`ts_us div 300e6` — the Tables.events integer-truncation protocol,
    * no float time math); each empty bucket takes
    * `prev + (next − prev) · elapsed/gap` between its nearest non-empty
    * neighbors, edges before the first / after the last stay null and
    * are tagged 'edge'.
    *
    * Determinism: per-bucket means are exact-decimal sums over one double
    * division; the interpolation formula is evaluated in the SAME
    * operation order on both engines over those identical doubles, and
    * outputs round to 6 dp. Scale: events collapse to ≤8640 bucket rows
    * (the fixture's 30-day span) BEFORE the neighbor windows run — the
    * unpartitioned windows order a bounded spine, never raw events (the
    * house dimension-window rule; a multi-year lake would partition the
    * spine by day and stitch boundaries).
    */
  def tsResampleInterp5m(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val usPerBkt = 300000000L // 5 min
    val ev = Tables.events(spark, sfDir)
    val per = ev.where(col("event_type") === "purchase")
      .groupBy(expr(s"ts_us div $usPerBkt").as("bkt"))
      .agg(count(lit(1)).as("n"),
        (sum(Cols.dec2(col("value"))).cast("double") / count(lit(1))).as("v"))
    val spine = ev
      .agg(min(expr(s"ts_us div $usPerBkt")).as("lo"), max(expr(s"ts_us div $usPerBkt")).as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("bkt"))
    val wBack = Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val wFwd = Window.orderBy(col("bkt")).rowsBetween(1, Window.unboundedFollowing)
    val pv = last(col("v"), ignoreNulls = true).over(wBack)
    val pb = last(when(col("v").isNotNull, col("bkt")), ignoreNulls = true).over(wBack)
    val nv = first(col("v"), ignoreNulls = true).over(wFwd)
    val nb = first(when(col("v").isNotNull, col("bkt")), ignoreNulls = true).over(wFwd)
    val interp = pv + (nv - pv) *
      ((col("bkt") - pb).cast("double") / (nb - pb).cast("double"))
    spine.join(per, Seq("bkt"), "left")
      .withColumn("v_out",
        when(col("v").isNotNull, col("v"))
          .when(pv.isNull || nv.isNull, lit(null).cast("double"))
          .otherwise(interp))
      .withColumn("src",
        when(col("v").isNotNull, lit("actual"))
          .when(col("v_out").isNull, lit("edge"))
          .otherwise(lit("interp")))
      .select(timestamp_micros(col("bkt") * usPerBkt).as("bucket"),
        coalesce(col("n"), lit(0L)).as("n"),
        (round(col("v_out"), 6) + lit(0.0)).as("value_5m"),
        col("src"))
      .orderBy(col("bucket"))
  }

  /** L20 ts_seasonal_decompose — classical additive decomposition of the
    * hourly event-count series: trend = centered 25-hour moving average
    * (full windows only), seasonal = the hour-of-day mean of the
    * detrended series, residual = observed − trend − seasonal.
    *
    * Determinism by integerization (the E20/E26 protocol): the detrended
    * value `n − Σ₂₅/25` is kept SCALED as the integer `25·n − Σ₂₅`, so
    * the hour-of-day group mean is an exact integer sum with ONE double
    * division `Σ_scaled / (25·count)` — no float accumulation in any
    * order-sensitive place; trend and residual derive from the same
    * integers. Hour buckets are integer-µs arithmetic. Scale: events
    * collapse to the bounded hourly spine (≤720 rows here; a multi-year
    * lake partitions by day and stitches ±12 h boundaries) before any
    * unpartitioned window runs.
    */
  def tsSeasonalDecompose(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val usPerHour = 3600000000L
    val ev = Tables.events(spark, sfDir)
    val counts = ev
      .groupBy(expr(s"ts_us div $usPerHour").as("cb"))
      .agg(count(lit(1)).as("cn"))
    // zero-filled hourly spine: the ±12 h window must span CONTIGUOUS
    // hours, so empty hours participate as genuine zeros (L11 pattern)
    val hourly = ev
      .agg(min(expr(s"ts_us div $usPerHour")).as("lo"),
        max(expr(s"ts_us div $usPerHour")).as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("hb"))
      .join(counts, col("hb") === col("cb"), "left")
      .select(col("hb"), coalesce(col("cn"), lit(0L)).as("n"))
    val w = Window.orderBy(col("hb")).rowsBetween(-12, 12)
    val scaled = hourly
      .withColumn("w_n", count(lit(1)).over(w))
      .withColumn("w_sum", sum(col("n")).over(w))
      // full 25-hour centered windows only; edges have no trend
      .withColumn("det_scaled",
        when(col("w_n") === 25, lit(25) * col("n") - col("w_sum")))
      .withColumn("hod", expr("hb % 24"))
    val seasonal = scaled.where(col("det_scaled").isNotNull)
      .groupBy(col("hod"))
      .agg(sum(col("det_scaled")).as("s_sum"), count(lit(1)).as("s_n"))
      .select(col("hod").as("s_hod"),
        (col("s_sum").cast("double") / (lit(25.0) * col("s_n"))).as("seas_raw"))
    scaled.join(broadcast(seasonal), col("hod") === col("s_hod"), "left")
      .select(
        timestamp_micros(col("hb") * usPerHour).as("hour"),
        col("n"),
        (round(when(col("w_n") === 25, col("w_sum").cast("double") / 25.0), 6)
          + lit(0.0)).as("trend"),
        (round(col("seas_raw"), 6) + lit(0.0)).as("seasonal"),
        (round(when(col("w_n") === 25,
          col("n").cast("double") - col("w_sum").cast("double") / 25.0 - col("seas_raw")), 6)
          + lit(0.0)).as("residual"))
      .orderBy(col("hour"))
  }

  /** L21 ts_changepoint_cusum — CUSUM changepoint screen on the daily
    * event-count series: S_t = Σ_{i≤t}(x_i − μ) peaks at the day a level
    * shift happens; the query reports the top-5 |S_t| days. All comparison
    * arithmetic stays in exact integers by clearing the denominator —
    * dev_t = n·cumsum_t − t·total = n·S_t — so the ranking (and the LIMIT
    * cut) never touches a float; the reported cusum = dev/n is the single
    * double division, rounded 6 dp (E17 protocol). The daily series is
    * dimension-sized (one row per day — the events corpus collapses ~300×
    * per day at any SF), so the ordered window over it is the
    * collapsed-aggregate pattern (SCALE.md), not a fact-table global sort;
    * the heavy lifting is the keyed daily groupBy, map-side combined.
    */
  def tsChangepointCusum(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.agg(sum(col("n_events")).as("total"), count(lit(1)).as("n_days"))
    daily
      .withColumn("cum_events", sum(col("n_events")).over(wCum))
      .withColumn("t", row_number().over(Window.orderBy(col("day"))))
      .crossJoin(broadcast(tot))
      .withColumn("dev", col("n_days") * col("cum_events") - col("t") * col("total"))
      .orderBy(abs(col("dev")).desc, col("day").asc)
      .limit(5)
      // day as ISO string — the L14 cross-engine date canonicalization
      .select(col("day").cast("string").as("day"), col("n_events"), col("cum_events"),
        round(col("dev").cast("double") / col("n_days"), 6).as("cusum"))
  }

  /** E27 — EXACT heavy hitters via the two-pass Misra–Gries protocol
    * (round 9). A plain `groupBy(item)` answers "which items exceed a 1/64
    * share" by shuffling EVERY distinct key — corpus-sized for token
    * vocabularies, URLs, or user agents at 100 TB. Pass 1 runs the
    * mergeable [[graft.functions.FrequentItemsSketch]] as an ordinary
    * partial+final aggregate: each map task keeps ≤256 counters and ships
    * ONE sketch row, so item cardinality never touches the exchange. MG
    * guarantees every item with count > n/257 survives any merge order
    * (Agarwal et al., "Mergeable Summaries", PODS'12), so the ≤256
    * candidates are a certified superset of the n/64 heavy hitters.
    * Pass 2 joins the ≤256 broadcast candidates (each carrying the
    * stream total from the same pass-1 aggregate) back over the stream
    * and recounts exactly — output is EXACT and partition-order-invariant
    * (Round9Spec shuffles the input to pin this) even though the
    * intermediate candidate SET may vary. Item stream: floor(value)
    * occupancy buckets — geometrically decaying, so the 1/64 threshold
    * cuts at a non-trivial rank at every SF.
    */
  def aggHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val items = Tables.events(spark, sfDir)
      .where(col("value").isNotNull)
      .select(floor(col("value")).cast("string").as("item"))
    // ONE aggregate carries both the sketch and the stream total (the
    // two ride the same partial+final pass), exploded so each candidate
    // row carries the total — pass 2 is then a single broadcast join
    // that provides the candidate cut AND the report denominator
    val candTot = items
      .agg(freqItems(col("item")).as("cands"), count(lit(1)).as("total"))
      .select(col("total"), explode(col("cands")).as("item"))
    items.join(broadcast(candTot), Seq("item"))
      .groupBy(col("item"), col("total")).agg(count(lit(1)).as("n"))
      .where(col("n") * lit(64) > col("total"))
      .select(col("item"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("frac"))
      .orderBy(desc("n"), asc("item"))
  }

  /** E28 — heavy hitters PER GROUP: the same two-pass protocol with the
    * MG sketch sitting inside `groupBy(event_type)` like any other
    * aggregate — the composability that motivates the sketch being a
    * `TypedImperativeAggregate` rather than a bespoke job (one pass can
    * carry it next to count/sum at no extra shuffle). Candidates and
    * report threshold are per-group (n_g/64 within each event_type); the
    * exact recount keys on (event_type, item) and the per-group totals
    * ride a broadcast. Same superset certificate per group, same exact
    * partition-order-invariant output.
    */
  def aggHeavyHittersGrouped(spark: SparkSession, sfDir: String): DataFrame = {
    val items = Tables.events(spark, sfDir)
      .where(col("value").isNotNull)
      .select(col("event_type"), floor(col("value")).cast("string").as("item"))
    // as in E27: sketch + per-group total in ONE grouped pass, exploded
    // so each (group, candidate) row carries its group's denominator
    val candTot = items.groupBy(col("event_type"))
      .agg(freqItems(col("item")).as("cands"), count(lit(1)).as("total"))
      .select(col("event_type"), col("total"), explode(col("cands")).as("item"))
    items.join(broadcast(candTot), Seq("event_type", "item"))
      .groupBy(col("event_type"), col("item"), col("total"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") * lit(64) > col("total"))
      .select(col("event_type"), col("item"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("frac"))
      .orderBy(col("event_type"), desc("n"), asc("item"))
  }

  /** E29 agg_countmin_sketch — Count-Min sketch (d = 4 rows × w = 64
    * buckets, pairwise hashes h_j(u) = ((a_j·u + b_j) mod (2³¹−1)) mod 64)
    * over the per-user event stream, audited against exact counts for the
    * bounded probe set (user_id < 20): estimate = min over the 4 rows of
    * the probed bucket, overestimate = est − exact (≥ 0 by the CMS
    * one-sided guarantee — the output hash-checks that certificate).
    *
    * Why this shape: the sketch build is a plain `groupBy(row, bucket)`
    * count — 256 cells, MERGEABLE by addition across partitions/shards/
    * days (the property that makes CMS the published streaming-frequency
    * structure), map-side combined down to 256 rows regardless of corpus
    * size. Probes ride a broadcast onto the sketch. All arithmetic is
    * exact integer — both engines agree on every cell.
    */
  def aggCountminSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val as = Seq(131L, 137L, 139L, 149L)
    val bs = Seq(17L, 29L, 43L, 59L)
    val p = 2147483647L
    def bucket(u: Column, j: Int): Column =
      ((lit(as(j)) * u + lit(bs(j))) % p) % 64
    val ev = Tables.events(spark, sfDir).select(col("user_id"))
    // ONE corpus scan: the 4 sketch rows per event come from a generator,
    // not a 4-way self-union (which would re-read the fact 4 times)
    val rows =
      posexplode(array((0 until 4).map(j => bucket(col("user_id"), j)): _*))
    val sketch = ev.select(col("user_id"), rows)
      .select(col("pos").as("j"), col("col").as("bucket"))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cell"))
    val probes = ev.where(col("user_id") < 20)
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
    val probed = probes.select(col("user_id"), col("exact_n"), rows)
      .select(col("user_id"), col("exact_n"),
        col("pos").as("j"), col("col").as("bucket"))
    probed.join(sketch, Seq("j", "bucket"))
      .groupBy(col("user_id"))
      .agg(max(col("exact_n")).as("exact_n"), min(col("cell")).as("cms_est"))
      .select(col("user_id"), col("exact_n"), col("cms_est"),
        (col("cms_est") - col("exact_n")).as("overestimate"))
      .orderBy(col("user_id"))
  }

  /** L26 ts_holt_linear — Holt's linear-trend double exponential smoothing
    * (α = 0.5, β = 0.25 — dyadic, so every smoothing step is EXACT binary
    * float scaling) over each event type's daily value series: level/trend
    * recurrences initialized l = y₁, b = y₂ − y₁, folded over
    * observations 3..n, reporting final level/trend, h = 1 and h = 3
    * forecasts, and the one-step-ahead SSE (the model-selection number a
    * forecasting pipeline compares against the L18 seasonal-naive MAE).
    *
    * Determinism: the daily inputs are 6-dp-rounded sums; the fold is a
    * SEQUENTIAL recurrence evaluated in identical order on both engines —
    * Spark as an `aggregate()` higher-order fold over the sorted per-type
    * array, DuckDB as a recursive CTE — with identical IEEE expression
    * trees, so the unrounded states agree bit-for-bit. Scale: the
    * recurrence is inherently sequential PER SERIES (published fact, not
    * a Spark limitation); series are parallel across types, and each
    * type's daily array is bounded by the calendar, not the corpus.
    */
  def tsHoltLinear(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .where(col("value").isNotNull)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(round(sum(col("value")), 6).as("y"))
    daily.groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("sr"))
      .where(size(col("sr")) >= 3)
      .withColumn("ys", expr("transform(sr, x -> x.y)"))
      .withColumn("st", expr(
        """aggregate(
          |  slice(ys, 3, size(ys) - 2),
          |  named_struct('l', ys[0], 'b', ys[1] - ys[0], 'sse', 0.0D),
          |  (acc, y) -> named_struct(
          |    'l', 0.5D * y + 0.5D * (acc.l + acc.b),
          |    'b', 0.25D * ((0.5D * y + 0.5D * (acc.l + acc.b)) - acc.l)
          |         + 0.75D * acc.b,
          |    'sse', acc.sse + (y - (acc.l + acc.b)) * (y - (acc.l + acc.b))))
          |""".stripMargin))
      .select(col("event_type"),
        size(col("ys")).cast("long").as("n_days"),
        (round(col("st.l"), 6) + lit(0.0)).as("level"),
        (round(col("st.b"), 6) + lit(0.0)).as("trend"),
        (round(col("st.l") + col("st.b"), 6) + lit(0.0)).as("forecast_1"),
        (round(col("st.l") + lit(3.0) * col("st.b"), 6) + lit(0.0)).as("forecast_3"),
        (round(col("st.sse"), 6) + lit(0.0)).as("sse_1step"))
      .orderBy(col("event_type"))
  }

  /** The KMV sketch size (k minimum hash values). Fixture-sized — 8 keeps
    * the ESTIMATOR branch exercised at every driver fixture (the smallest
    * has 15 distinct users; a production k is 1024+ and only changes this
    * constant, which interpolates into the oracle SQL).
    */
  private[graft] val ThetaKmvK = 8

  /** The shared uniform-hash expression: the first 8 hex digits of
    * md5(user_id) decoded to a 32-bit integer by explicit digit
    * arithmetic (both engines evaluate the IDENTICAL generated formula —
    * no engine-specific hex-decode builtin), divided by 2^32 into [0, 1).
    * Column `h` must be in scope. The divisor is written
    * CAST(... AS DOUBLE), never `4294967296.0`: Spark's SQL parser types
    * a bare decimal literal as DECIMAL, silently turning the whole
    * expression into 12-digit decimal division (off the 2^-32 grid by up
    * to 5e-13 — caught live at sf1 round 14, where (k−1)/u_k amplified
    * it into the 6th printed digit); DuckDB keeps doubles either way.
    */
  private[graft] val KmvSumExpr: String = (1 to 8).map { j =>
    s"CAST(${1L << (4 * (8 - j))} AS BIGINT) * (instr('0123456789abcdef', substring(h, $j, 1)) - 1)"
  }.mkString("(", " + ", ")")

  private[graft] val KmvUExpr: String =
    s"$KmvSumExpr / CAST(4294967296 AS DOUBLE)"

  /** E30 agg_theta_kmv (round 14) — the KMV / theta distinct sketch with
    * SET OPERATIONS, the capability the HLL family (E9/E16) lacks: HLL
    * unions mergeably but cannot intersect; a KMV sketch (the k minimum
    * hash values, theta = the k-th minimum) supports union AND
    * intersection by hash-set algebra under a shared theta — the
    * theta-sketch construction of the published data-sketches line.
    * Per event type: exact distinct users, the KMV estimate
    * (k−1)/u_k (or the exact count when fewer than k hashes exist — the
    * small-set branch), and the relative error; plus a `__union` row
    * (sketch over the union of all hash sets) and a `view&purchase`
    * intersection row (common hashes below the shared theta, divided by
    * it). The hash is md5-derived and decoded digit-by-digit through the
    * SAME generated expression on both engines, so every estimate is a
    * deterministic function of the data — the oracle hashes the
    * estimates themselves, not just the exact counts.
    *
    * 100 TB: a KMV sketch is a bounded top-k-by-hash aggregate — partial
    * per partition, merged by keeping the k smallest of the union — so
    * the corpus pass is one keyed shuffle of k-row states; estimates and
    * set operations run on k-row relations.
    */
  def aggThetaKmv(spark: SparkSession, sfDir: String): DataFrame = {
    val k = ThetaKmvK
    val d = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", md5(col("user_id").cast("string")))
      .withColumn("u", expr(KmvUExpr))
      .lineageCut(false) // per-type, union, and intersection all read it
    // generic KMV over (scope, user_id, u) rows
    def kmv(rows: DataFrame): DataFrame = {
      val hashes = rows.select(col("scope"), col("u")).distinct()
      val wS = org.apache.spark.sql.expressions.Window
        .partitionBy(col("scope")).orderBy(col("u"))
      val sk = hashes
        .withColumn("rn", row_number().over(wS))
        .groupBy(col("scope"))
        .agg(count(lit(1)).as("n_hashes"),
          max(when(col("rn") === k, col("u"))).as("uk"))
      val exact = rows.groupBy(col("scope"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      exact.join(sk, Seq("scope"))
        .select(col("scope"), col("n_exact"),
          when(col("n_hashes") >= k, lit((k - 1).toDouble) / col("uk"))
            .otherwise(col("n_hashes").cast("double")).as("est"))
    }
    val perType = kmv(d.select(col("event_type").as("scope"), col("user_id"), col("u")))
    val union = kmv(d.select(lit("__union").as("scope"), col("user_id"), col("u")))
    // intersection of the view / purchase sketches under the shared theta
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("u"))
    val sketches = d.where(col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("u")).distinct()
      .withColumn("rn", row_number().over(wT))
      .where(col("rn") <= k)
      .lineageCut(false)
    val theta = sketches.groupBy(col("event_type")).agg(max(col("u")).as("uk"))
      .agg(min(col("uk")).as("th"))
    // left join from the 1-row theta so an empty common set still yields
    // one (th, n_common = 0) row — the intersection row never vanishes
    val common = theta.join(
        sketches.groupBy(col("u")).agg(count(lit(1)).as("sides"))
          .where(col("sides") === 2),
        col("u") < col("th"), "left")
      .groupBy(col("th"))
      .agg(count(col("u")).as("n_common"))
    val exactBoth = d.where(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id")).agg(countDistinct(col("event_type")).as("nt"))
      .where(col("nt") === 2)
      .agg(count(lit(1)).as("n_exact"))
    val intersect = exactBoth.crossJoin(
        common.select((col("n_common").cast("double") / col("th")).as("est")))
      .select(lit("view&purchase").as("scope"), col("n_exact"), col("est"))
    perType.unionByName(union).unionByName(intersect)
      .select(col("scope"), col("n_exact"),
        (round(col("est"), 6) + lit(0.0)).as("kmv_est"),
        (round(abs(col("est") - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 6) + lit(0.0)).as("rel_err"))
      .orderBy(col("scope"))
  }
}
