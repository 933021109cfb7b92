package graft.ops

import graft.Tables
import graft.functions.normText
import graft.ops.Checkpoints.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality operators (SURVEY §2.N): table profiling and rule-based
  * validation — the checks every production ingestion pipeline runs before
  * publishing a batch.
  *
  * 100 TB notes: both queries are ONE scan of the fact table. Profiling
  * computes every per-column metric in a single aggregate (the exact
  * count-distincts expand the input — the standard profiling cost; swap in
  * approx_count_distinct when ±2% suffices) and reshapes with `stack`,
  * which is per-row narrow work. Validation folds all row-level rules into
  * one conditional aggregate; the referential rule is a broadcast-able
  * anti-join. Nothing global, nothing driver-paced.
  */
object DataQuality {

  /** N1 — per-column profile of `orders`: null count, exact distinct
    * count, min/max (serialized to strings — the only type a mixed-column
    * metric table can carry). Money goes through DECIMAL(12,2) and dates
    * through DATE so the string forms are engine-identical.
    *
    * Role split (VERDICT r7 #2): N1v2 [[dqProfileApprox]] is the PRIMARY
    * 100 TB profile path — mergeable HLL++ cardinalities, no Expand
    * multiplication of the scan; THIS exact variant is the audit-grade
    * cross-check you run on a sampled slice or a disputed table. Its
    * multi-distinct Expand (×7 per row) runs inside whatever parallelism
    * the scan has, so a single-split input would serialize it — the
    * explicit key-hash repartition pins the Expand to full cluster width
    * regardless of input layout (hash, not round-robin: round-robin
    * repartition inserts a defensive per-partition sort; a key hash is
    * shuffle-only). The shuffle is the declared price of exactness here.
    */
  def dqProfileTable(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    def nn(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c")
    // One scan for the streaming metrics (count/nulls/min/max) — no
    // distinct aggregate in it, so no Expand (optimization round 17,
    // guide §2.3): six countDistincts in one agg planned as an Expand
    // that multiplied the full-width scan 7× before the hash aggregate
    // (measured 6.9 s CPU of this key's 9.2 s total at sf0.1). Each
    // exact distinct count now runs as its own column-pruned two-level
    // aggregate (partial distinct per partition, tiny exchange, final
    // count) and the seven one-row results cross-join back together.
    // countDistinct ignores NULLs, so the per-column form filters them.
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      nn("o_orderkey"),
      min(col("o_orderkey")).cast("string").as("mn_o_orderkey"),
      max(col("o_orderkey")).cast("string").as("mx_o_orderkey"),
      nn("o_custkey"),
      min(col("o_custkey")).cast("string").as("mn_o_custkey"),
      max(col("o_custkey")).cast("string").as("mx_o_custkey"),
      nn("o_orderstatus"),
      min(col("o_orderstatus")).as("mn_o_orderstatus"),
      max(col("o_orderstatus")).as("mx_o_orderstatus"),
      nn("o_totalprice"),
      min(Cols.dec2(col("o_totalprice"))).cast("string").as("mn_o_totalprice"),
      max(Cols.dec2(col("o_totalprice"))).cast("string").as("mx_o_totalprice"),
      nn("o_orderdate"),
      min(col("o_orderdate")).cast("date").cast("string").as("mn_o_orderdate"),
      max(col("o_orderdate")).cast("date").cast("string").as("mx_o_orderdate"),
      nn("o_orderpriority"),
      min(col("o_orderpriority")).as("mn_o_orderpriority"),
      max(col("o_orderpriority")).as("mx_o_orderpriority"))
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val withNd = cols.foldLeft(agg) { (d, c) =>
      d.crossJoin(o.where(col(c).isNotNull).select(col(c)).distinct()
        .agg(count(lit(1)).as(s"nd_$c")))
    }
    val stackArgs = cols
      .map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
    withNd.select(col("n_rows"), expr(
        s"stack(${cols.size}, $stackArgs) as (col_name, n_nulls, n_distinct, min_v, max_v)"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_v"), col("max_v"),
        round(col("n_nulls").cast("double") / col("n_rows"), 6).as("null_frac"))
      .orderBy(col("col_name"))
  }

  /** N1v2 — the PRIMARY profile path (promoted VERDICT r7 #2, the ntile
    * pattern): same single-scan shape as N1 with `approx_count_distinct`
    * (HLL++, mergeable, no Expand multiplication of the scan) in place of
    * the exact distincts — what a 100 TB table actually runs, ±2%
    * cardinality, no repartition needed. The exact metrics (nulls,
    * min/max) are unchanged; N1 remains the audit-grade exact cross-check.
    * No SQL oracle (approx + engine-specific sketch); AnalyticSpec asserts
    * each estimate within 5% of N1's exact count.
    */
  def dqProfileApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    def nn(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val metrics = count(lit(1)).as("n_rows") +:
      // rsd 0.02: the default 0.05 misses small-cardinality columns by >5%
      cols.flatMap(c => Seq(nn(c), approx_count_distinct(col(c), 0.02).as(s"nd_$c")))
    val agg = o.agg(metrics.head, metrics.tail: _*)
    val stackArgs = cols.map(c => s"'$c', nn_$c, nd_$c").mkString(", ")
    agg.select(col("n_rows"), expr(
        s"stack(${cols.size}, $stackArgs) as (col_name, n_nulls, approx_distinct)"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("approx_distinct"))
      .orderBy(col("col_name"))
  }

  /** N2 — rule-based validation: every row-level rule folded into ONE
    * conditional aggregate over one scan, plus a referential-integrity
    * anti-join (orders → customer), emitted as (rule, n_violations, pct).
    * Clean synthetic data makes several rules legitimately zero — a DQ
    * report's normal state; `price_outlier_400k` and `weekend_order` are
    * live. Day-of-week literals differ per engine (Spark Sunday=1,
    * DuckDB Sunday=0) — each side uses its own encoding of "weekend".
    */
  def dqRuleViolations(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val agg = o.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null_custkey"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_nonpositive_price"),
      sum(when(col("o_totalprice") > 400000, 1L).otherwise(0L)).as("v_price_outlier"),
      sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L)).as("v_bad_status"),
      sum(when(dayofweek(col("o_orderdate")).isin(1, 7), 1L).otherwise(0L)).as("v_weekend"))
    val rowRules = agg.select(col("n_rows"), expr(
      "stack(5, 'null_custkey', v_null_custkey, 'nonpositive_price', v_nonpositive_price, " +
        "'price_outlier_400k', v_price_outlier, 'bad_status', v_bad_status, " +
        "'weekend_order', v_weekend) as (rule, n_violations)"))
    val orphan = o
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .select(lit("orphan_custkey").as("rule"), col("n_violations"))
      // 1-row × 1-row: attach the denominator to the referential rule;
      // hinted like every other scalar join (VERDICT r6 #7) — AQE would
      // usually rescue an unhinted plan, but uniformity beats luck
      .crossJoin(broadcast(agg.select(col("n_rows"))))
    rowRules.select(col("rule"), col("n_violations"), col("n_rows"))
      .unionByName(orphan.select(col("rule"), col("n_violations"), col("n_rows")))
      .select(col("rule"), col("n_violations"),
        round(col("n_violations").cast("double") / col("n_rows"), 6).as("pct"))
      .orderBy(col("rule"))
  }

  /** N3 dq_anomaly_mad — robust time-series anomaly detection on the daily
    * event volume: a day is anomalous when its count deviates from the
    * cross-day MEDIAN by more than 3× the median absolute deviation.
    * Median/MAD (not mean/stddev) because volume outliers are exactly what
    * is being hunted — they would poison their own threshold.
    *
    * Determinism: counts are integers, medians of integers are exact
    * halves (.0/.5), 3× an exact half is exact — every comparison is
    * bit-deterministic, no rounding needed. Scale: the daily rollup is the
    * only data-sized aggregate; median/MAD run over ~days rows and attach
    * back as two 1-row broadcasts.
    */
  def dqAnomalyMad(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val med = daily.agg(expr("CAST(median(n_events) AS DOUBLE)").as("med"))
    val withMed = daily.crossJoin(broadcast(med))
    val mad = withMed.agg(
      expr("CAST(median(abs(n_events - med)) AS DOUBLE)").as("mad"))
    withMed.crossJoin(broadcast(mad))
      .select(col("day"), col("n_events"), col("med"), col("mad"),
        (abs(col("n_events") - col("med")) > col("mad") * 3.0).as("is_anomaly"))
      .orderBy(col("day"))
  }

  /** N5 dq_distribution_drift — categorical drift detection between two
    * time slices: the event-type mix of the first half of the stream vs
    * the second (fixed boundary date), as a chi-square contingency
    * table. All counts are exact integers; expected values and each
    * type's chi² contribution are one fixed IEEE tree per ROW (per-type
    * output deliberately avoids a cross-type float sum — rows are
    * independent, so no accumulation order exists). The grand totals ride
    * along as a broadcast 1-row aggregate. The nightly "did the mix
    * shift" check a feature pipeline runs before retraining.
    */
  def dqDistributionDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val boundary = lit("2024-01-16").cast("timestamp_ntz")
    val per = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        count(when(col("ts") < boundary, 1)).as("n_early"),
        count(when(col("ts") >= boundary, 1)).as("n_late"))
    val tot = per.agg(
      sum(col("n_early")).as("tot_early"),
      sum(col("n_late")).as("tot_late"))
    val grand = (col("tot_early") + col("tot_late")).cast("double")
    val rowTot = (col("n_early") + col("n_late")).cast("double")
    val expE = rowTot * col("tot_early").cast("double") / grand
    val expL = rowTot * col("tot_late").cast("double") / grand
    val dE = col("n_early").cast("double") - expE
    val dL = col("n_late").cast("double") - expL
    per.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_early"), col("n_late"),
        (expE + lit(0.0)).as("expected_early"),
        (dE * dE / expE + dL * dL / expL + lit(0.0)).as("chi2_contrib"))
      .orderBy(col("event_type"))
  }

  /** N4 dq_referential_integrity — foreign-key orphan audit across the
    * star schema's four FK edges: each relationship reports its child row
    * count and how many children reference a missing parent. One left
    * join + count-when per edge; parents are dimension-sized (AQE
    * broadcasts them at any realistic scale), and the audit never
    * materializes the orphans themselves — counts only, so the output is
    * O(#edges) regardless of data size. The nightly invariant check a
    * 100 TB lake runs before publishing a snapshot.
    */
  def dqReferentialIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, ck: String,
              parent: DataFrame, pk: String): DataFrame =
      child.select(col(ck))
        .join(parent.select(col(pk)), col(ck) === col(pk), "left")
        .agg(count(lit(1)).as("child_rows"),
          count(when(col(pk).isNull, 1)).as("orphan_rows"))
        .select(lit(rel).as("relationship"), col("child_rows"), col("orphan_rows"))
    val li = Tables.lineitem(spark, sfDir)
    audit("lineitem->orders", li, "l_orderkey",
        Tables.orders(spark, sfDir), "o_orderkey")
      .unionAll(audit("lineitem->part", li, "l_partkey",
        Tables.part(spark, sfDir), "p_partkey"))
      .unionAll(audit("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(spark, sfDir), "s_suppkey"))
      .unionAll(audit("orders->customer", Tables.orders(spark, sfDir), "o_custkey",
        Tables.customer(spark, sfDir), "c_custkey"))
      .orderBy(col("relationship"))
  }

  /** N6 dq_benford_first_digit — Benford's-law screen on order totals: the
    * distribution of first significant digits of o_totalprice against the
    * log10(1+1/d) expectation — the classic fabricated-data / unit-mixup
    * detector, run as a data-quality gate per snapshot. Digit extraction
    * stays exact end-to-end: 2-dp decimal recovery → floor → BIGINT → first
    * character of the integer's decimal string — never float log10 of the
    * value, whose boundary rounding can flip a digit cross-engine (and
    * BIGINT casts themselves differ: Spark truncates decimals, DuckDB
    * rounds, hence the explicit floor). One map-side digit projection, a
    * 9-row aggregate, a 1-row count broadcast; the observed fraction's
    * single int/int division is the only float op (round 6, E17 protocol);
    * expected_frac is log10 of nine exact constants, rounded 6.
    * (TPC-H-ish uniform prices won't FOLLOW Benford — the gate reports the
    * deviation; asserting it is the consumer's policy call.)
    */
  def dqBenfordFirstDigit(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val digit = expr(
      "CAST(left(CAST(CAST(floor(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS STRING), 1) AS INT)")
    o.select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("n_total"))))
      .select(col("digit"), col("n_orders"),
        round(col("n_orders").cast("double") / col("n_total"), 6).as("observed_frac"),
        round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 6)
          .as("expected_frac"))
      .withColumn("abs_dev", round(abs(col("observed_frac") - col("expected_frac")), 6))
      .orderBy(col("digit"))
  }

  /** N7 pipeline_observe_metrics — in-flight pipeline telemetry via
    * `Dataset.observe` (CollectMetrics): the curation pass runs ONCE to a
    * noop sink while two observation points ride the stream — one on the
    * raw scan (docs + chars seen), one after the ≥10-token quality gate
    * (docs + tokens kept) — and the query's output IS the observed
    * telemetry, proven equal to ground truth recomputed by the oracle.
    * This is how a 100 TB curation job reports attrition without a second
    * scan: observe-aggregates are mergeable accumulator-style metrics
    * (counts and long sums — order-independent, exact) collected on the
    * driver as a side effect of the one pass the job already makes.
    * The returned relation is the 1-row driver-assembled metrics record;
    * keep_frac's division is the only float op (round 6, E17 protocol).
    */
  def observeMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Observation
    val ingest = Observation("ingest")
    val kept = Observation("kept")
    val pass = Tables.documents(spark, sfDir)
      .observe(ingest, count(lit(1)).as("n_seen"),
        sum(col("n_chars")).as("chars_seen"))
      .withColumn("norm", normText(col("text")))
      .withColumn("n_tok", size(split(col("norm"), " ")))
      .where(col("n_tok") >= 10)
      .observe(kept, count(lit(1)).as("n_kept"),
        sum(col("n_tok").cast("long")).as("tokens_kept"))
    pass.write.format("noop").mode("overwrite").save()
    val (i, k) = (ingest.get, kept.get)
    spark.range(1).select(
      lit(i("n_seen").asInstanceOf[Long]).as("n_seen"),
      lit(i("chars_seen").asInstanceOf[Long]).as("chars_seen"),
      lit(k("n_kept").asInstanceOf[Long]).as("n_kept"),
      lit(k("tokens_kept").asInstanceOf[Long]).as("tokens_kept"))
      .withColumn("keep_frac",
        round(col("n_kept").cast("double") / col("n_seen"), 6) + lit(0.0))
  }

  /** N9 dq_ks_test — two-sample Kolmogorov–Smirnov drift statistic
    * between the R-flag and N-flag price distributions: the continuous
    * sibling of the N5 chi-square (which needs categories). The whole
    * computation stays in the EXACT integer domain until one final
    * division: prices collapse to per-value counts (one keyed agg), both
    * cumulative counts run through GlobalRank's range-partitioned prefix
    * sum over the value order (never a single-partition window — distinct
    * prices are corpus-sized), and the sup-distance maximizes
    * |cumA·nB − cumB·nA| as a LONG before the lone rounded division
    * D = max/(nA·nB). Evaluating at value-block boundaries (inclusive
    * cums on the collapsed relation) is exactly the tie-correct KS
    * definition. Both counters ride ONE range partitioning
    * ([[GlobalRank.withGlobalRunningSums]], VERDICT r8 #7 — they share
    * the same value order, so a second ranking pipeline plus a value-key
    * rejoin bought nothing): one range shuffle, one checkpoint, no rejoin.
    */
  def dqKsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.lineitem(spark, sfDir)
      .where(col("l_returnflag").isin("R", "N"))
      .select(graft.ops.Cols.dec2(col("l_extendedprice")).as("v"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ia"))
    // ONE range exchange of the raw rows (optimization round 17; was a
    // hash exchange into the census, an eager census checkpoint, and a
    // second full range exchange inside the running-sum): range
    // partitioning on v satisfies the groupBy(v) distribution, so the
    // census aggregates IN the range layout at the pinned 32-way width
    // (AQE had coalesced the census hash agg to 4 byte-sized tasks at
    // sf0.1 — §2 of the guide: output compute, not input bytes, should
    // size an aggregation), and the running-sum machinery starts from the
    // already-ranged census with no re-exchange. Totals now read off the
    // cum relation's maxima (cum is inclusive and nondecreasing, so the
    // max IS the total — exact longs), dropping the census's second
    // consumer and with it the eager census checkpoint.
    val g = base.repartitionByRange(32, col("v"))
      .groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), sum(lit(1L) - col("ia")).as("cb"))
    val cums = GlobalRank.withGlobalRunningSumsRanged(g,
        Seq(col("ca") -> "cbf_a", col("cb") -> "cbf_b"), col("v"))
      .select(col("v"), (col("cbf_a") + col("ca")).as("cum_a"),
        (col("cbf_b") + col("cb")).as("cum_b"))
    val tot = cums.agg(max(col("cum_a")).as("n_a"), max(col("cum_b")).as("n_b"))
    cums
      .crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")).as("dev"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("dev")).as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        (round(col("d_num").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6) + lit(0.0))
          .as("ks_d"))
  }

  /** N7 dq_rolling_zscore — trailing-7-day z-score of the daily
    * per-event-type volume: the standing anomaly monitor a pipeline runs
    * on its own ingest rates (a z spike = a crawler burst or an outage).
    * Rows with fewer than 7 trailing days are withheld (no partial-window
    * z), and a zero-variance window reports NULL rather than ±inf.
    *
    * Determinism: the window carries only exact LONG sums (Σx, Σx²); the
    * variance NUMERATOR 7·Σx² − (Σx)² is compared to zero as an exact
    * integer, and mean/σ become doubles in one identical expression tree
    * on both engines. 100 TB: the day-collapse is the only corpus-sized
    * aggregate; the window runs over the bounded per-type daily series
    * (the L21 precedent).
    */
  def dqRollingZscore(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("day")).rowsBetween(-6, 0)
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("x"))
      .withColumn("n_w", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .where(col("n_w") === 7)
      .withColumn("varnum", lit(7L) * col("sxx") - col("sx") * col("sx"))
      .select(col("day").cast("string").as("day"), col("event_type"), col("x"),
        (round(col("sx").cast("double") / 7.0, 6) + lit(0.0)).as("mean7"),
        when(col("varnum") > 0,
          round((col("x") - col("sx").cast("double") / 7.0) /
            sqrt(col("varnum").cast("double") / 42.0), 6) + lit(0.0))
          .as("zscore"))
      .orderBy(col("event_type"), col("day"))
  }

  /** N9 dq_profile_drift — per-COLUMN profile drift between two snapshot
    * versions (modulo-sliced halves of events, the M27 snapshot
    * simulation): for each (column, metric) pair — row count, null count,
    * distinct count, and numeric min/max/integerized sum — report old vs
    * new and a 10%-threshold drift flag. The complement of
    * dq_distribution_drift (value-histogram level): THIS is the cheap
    * schema-health diff a pipeline runs on every ingest batch before the
    * expensive distribution pass. All metrics are exact integers or
    * single IEEE ops, so old/new/flag are bit-identical cross-engine; the
    * flag compare is `|new−old|·10 > |old|` — multiplication, never a
    * division. One scan per snapshot, 13-row output at any scale.
    */
  def dqProfileDrift(spark: SparkSession, sfDir: String): DataFrame = {
    def profile(slice: DataFrame, side: String): DataFrame = {
      val m = slice.agg(
        count(lit(1)).cast("double").as("et_n"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).cast("double").as("et_null"),
        countDistinct(col("event_type")).cast("double").as("et_distinct"),
        count(col("user_id")).cast("double").as("uid_n"),
        sum(when(col("user_id").isNull, 1L).otherwise(0L)).cast("double").as("uid_null"),
        countDistinct(col("user_id")).cast("double").as("uid_distinct"),
        min(col("user_id")).cast("double").as("uid_min"),
        max(col("user_id")).cast("double").as("uid_max"),
        count(col("value")).cast("double").as("v_n"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).cast("double").as("v_null"),
        min(col("value")).as("v_min"),
        max(col("value")).as("v_max"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).cast("double").as("v_cents"))
      m.select(expr(
        """stack(13,
          |  'event_type', 'n_rows',    et_n,
          |  'event_type', 'n_null',    et_null,
          |  'event_type', 'n_distinct', et_distinct,
          |  'user_id',    'n_rows',    uid_n,
          |  'user_id',    'n_null',    uid_null,
          |  'user_id',    'n_distinct', uid_distinct,
          |  'user_id',    'min',       uid_min,
          |  'user_id',    'max',       uid_max,
          |  'value',      'n_rows',    v_n,
          |  'value',      'n_null',    v_null,
          |  'value',      'min',       v_min,
          |  'value',      'max',       v_max,
          |  'value',      'sum_cents', v_cents) AS (col_name, metric, v)""".stripMargin))
        .withColumnRenamed("v", s"v_$side")
    }
    val ev = Tables.events(spark, sfDir)
    val old = profile(ev.where(col("event_id") % 2 === 0), "old")
    val neu = profile(ev.where(col("event_id") % 2 === 1), "new")
    old.join(neu, Seq("col_name", "metric"))
      .select(col("col_name"), col("metric"), col("v_old"), col("v_new"),
        when(abs(col("v_new") - col("v_old")) * 10.0 > abs(col("v_old")), 1)
          .otherwise(0).as("drifted"))
      .orderBy(col("col_name"), col("metric"))
  }

  /** N10 dq_freshness_lag — ingest-freshness monitor: per event type, how
    * far its newest event trails the newest event anywhere (the lag an
    * SLA dashboard pages on — a type whose feed stalled shows a growing
    * lag while total volume looks healthy). Lag is computed in EXACT
    * integer microseconds (epoch µs difference, floor-divided to whole
    * minutes) so the SLA flag (>60 min) can never float-flip. One keyed
    * aggregate + a broadcast 1-row global max at any scale.
    */
  def dqFreshnessLag(spark: SparkSession, sfDir: String): DataFrame = {
    val perType = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("max_us"))
    val global = perType.agg(max(col("max_us")).as("g_us"))
    perType.crossJoin(broadcast(global))
      .select(col("event_type"), col("n_events"),
        timestamp_micros(col("max_us")).as("latest_ts"),
        expr("CAST((g_us - max_us) div 60000000 AS BIGINT)").as("lag_min"),
        when(expr("(g_us - max_us) div 60000000") > 60, 1).otherwise(0)
          .as("sla_breach"))
      .orderBy(col("event_type"))
  }

  /** N12 dq_pk_uniqueness — primary-key uniqueness audit across every
    * registered table (composite key for lineitem): row count vs distinct
    * key count per table in one pass each, duplicate count and flag — the
    * first invariant a warehouse checks after any ingest, because a
    * silently duplicated key corrupts every downstream join and count.
    * The exact distinct is the declared cost (swap approx_count_distinct
    * at 100 TB for a ±2% screen, then confirm exactly only on failures).
    * Not hypothetical: this audit catches a LIVE violation — the
    * synthetic lineitem reuses (l_orderkey, l_linenumber) pairs (~23% of
    * rows at every SF), which every workload query here tolerates but a
    * MERGE-keyed pipeline would not.
    */
  def dqPkUniqueness(spark: SparkSession, sfDir: String): DataFrame = {
    // composite keys count distinct over a canonical concatenated key with
    // explicit NULL handling (ADVICE r7): Spark's multi-column
    // countDistinct drops rows where ANY key column is NULL while SQL
    // row-value DISTINCT counts the tuple, so both engines are pinned to
    // the same canonical string — a NULL component becomes the sentinel
    // '<null>' and still counts as a key value (a duplicated
    // NULL-component tuple is a duplicate, exactly what a MERGE would see).
    // PRECONDITION (ADVICE r8): components must be NUMERIC/temporal — the
    // '|' separator and '<null>' sentinel are ambiguous for free-form
    // strings (("a|b","c") vs ("a","b|c"), or a literal '<null>' value),
    // which would deflate n_distinct_pk. Every composite PK audited here
    // is integer-typed; to audit string-component keys, md5 each
    // component before concatenating (mirrored in the oracle SQL)
    def canonicalKey(pk: Seq[String]) =
      pk.map(c => coalesce(col(c).cast("string"), lit("<null>")))
        .reduce((a, b) => concat(a, lit("|"), b))
    def audit(df: DataFrame, table: String, pk: Seq[String]): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        countDistinct(if (pk.size == 1) col(pk.head) else canonicalKey(pk))
          .as("n_distinct_pk"))
        .select(lit(table).as("table_name"), col("n_rows"), col("n_distinct_pk"),
          (col("n_rows") - col("n_distinct_pk")).as("n_dup_rows"),
          when(col("n_rows") =!= col("n_distinct_pk"), 1).otherwise(0).as("violated"))
    audit(Tables.orders(spark, sfDir), "orders", Seq("o_orderkey"))
      .unionByName(audit(Tables.customer(spark, sfDir), "customer", Seq("c_custkey")))
      .unionByName(audit(Tables.part(spark, sfDir), "part", Seq("p_partkey")))
      .unionByName(audit(Tables.supplier(spark, sfDir), "supplier", Seq("s_suppkey")))
      .unionByName(audit(Tables.lineitem(spark, sfDir), "lineitem",
        Seq("l_orderkey", "l_linenumber")))
      .unionByName(audit(Tables.events(spark, sfDir), "events", Seq("event_id")))
      .unionByName(audit(Tables.documents(spark, sfDir), "documents", Seq("doc_id")))
      .unionByName(audit(Tables.embeddings(spark, sfDir), "embeddings", Seq("vec_id")))
      .orderBy(col("table_name"))
  }

  /** N13 dq_ab_ttest — Welch's two-sample t-test between experiment arms
    * (user_id parity over purchase values — the A/B readout every
    * event-driven product runs): per-arm mean and variance come from
    * EXACT cents moments (n·Q − S² in LONG), are rounded to 6 dp, and
    * the t statistic and Welch–Satterthwaite df are then one fixed IEEE
    * tree over those rounded inputs — bit-identical cross-engine, no
    * float accumulation anywhere. One scan, two 1-row broadcast
    * aggregates at any scale.
    */
  def dqAbTtest(spark: SparkSession, sfDir: String): DataFrame = {
    def arm(parity: Int) = Tables.events(spark, sfDir)
      .where(col("event_type") === "purchase" && col("user_id") % 2 === parity)
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .agg(count(lit(1)).as(s"n$parity"),
        sum(col("v")).as(s"s$parity"), sum(col("v") * col("v")).as(s"q$parity"))
      .select(col(s"n$parity"),
        round(col(s"s$parity").cast("double") / (col(s"n$parity") * lit(100.0)), 6)
          .as(s"mean$parity"),
        round((col(s"n$parity") * col(s"q$parity") - col(s"s$parity") * col(s"s$parity"))
          .cast("double") /
          (col(s"n$parity") * (col(s"n$parity") - 1) * lit(10000.0)).cast("double"), 6)
          .as(s"var$parity"))
    arm(0).crossJoin(broadcast(arm(1)))
      .withColumn("se2", col("var0") / col("n0") + col("var1") / col("n1"))
      .select(col("n0").as("n_a"), col("n1").as("n_b"),
        (col("mean0") + lit(0.0)).as("mean_a"), (col("mean1") + lit(0.0)).as("mean_b"),
        (col("var0") + lit(0.0)).as("var_a"), (col("var1") + lit(0.0)).as("var_b"),
        (round((col("mean0") - col("mean1")) / sqrt(col("se2")), 4) + lit(0.0))
          .as("t_stat"),
        (round((col("se2") * col("se2")) /
          ((col("var0") / col("n0")) * (col("var0") / col("n0")) / (col("n0") - 1) +
            (col("var1") / col("n1")) * (col("var1") / col("n1")) / (col("n1") - 1)), 2)
          + lit(0.0)).as("welch_df"))
  }

  /** N14 dq_incident_islands — anomaly PERSISTENCE: consecutive
    * high-volume days collapse into incidents (gaps-and-islands over the
    * flagged daily series), reported as (type, start, end, duration,
    * peak) — what an alerting pipeline pages on instead of day-by-day
    * flag spam. The flag is exact integer math (day is high when
    * 10·x·n_days > 11·Σx, i.e. count > 1.1× the type's mean — a
    * cross-multiplied compare, no division; 1.1× because the synthetic
    * daily series flattens toward its mean as SF grows), and the
    * island key is the
    * classic rn-difference, also exact. Windows run over the bounded
    * per-type daily series (L21 precedent); the day collapse is the only
    * corpus-sized aggregate.
    */
  def dqIncidentIslands(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("x")).as("sx"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val flagged = daily.join(broadcast(tot), Seq("event_type"))
      .where(lit(10L) * col("x") * col("nd") > lit(11L) * col("sx"))
      .withColumn("rn", row_number().over(w))
      .withColumn("grp", expr("date_sub(day, rn)"))
    flagged.groupBy(col("event_type"), col("grp"))
      .agg(min(col("day")).cast("string").as("start_day"),
        max(col("day")).cast("string").as("end_day"),
        count(lit(1)).as("n_days"), max(col("x")).as("peak_count"))
      .select(col("event_type"), col("start_day"), col("end_day"),
        col("n_days"), col("peak_count"))
      .orderBy(col("event_type"), col("start_day"))
  }

  /** N11 dq_outlier_tukey — Tukey-fence volume screen: per event type,
    * the quartiles of the daily-count series set fences at Q1−1.5·IQR /
    * Q3+1.5·IQR and days outside them are flagged — the boxplot rule, the
    * robust complement to dq_rolling_zscore (fences come from the whole
    * distribution, not a trailing window, so a slow drift can't drag the
    * threshold along). Quartiles are exact interpolated percentiles over
    * integer counts (the agg_percentiles protocol, 6-dp rounded BEFORE
    * the fence arithmetic so both engines build fences from identical
    * numbers). Output: one row per type with fences and outlier-day
    * count. The daily rollup is the only corpus-sized aggregate; the
    * fence pass runs over ~days×types rows.
    */
  def dqOutlierTukey(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .lineageCut(true)
    val fences = daily.groupBy(col("event_type"))
      .agg(round(expr("percentile(x, 0.25)"), 6).as("q1"),
        round(expr("percentile(x, 0.75)"), 6).as("q3"))
      .withColumn("lo_fence", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi_fence", col("q3") + (col("q3") - col("q1")) * 1.5)
    daily.join(fences, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("q1")).as("q1"), max(col("q3")).as("q3"),
        max(col("lo_fence")).as("lo_fence"), max(col("hi_fence")).as("hi_fence"),
        sum(when(col("x") < col("lo_fence") || col("x") > col("hi_fence"), 1L)
          .otherwise(0L)).as("n_outlier_days"))
      .select(col("event_type"), col("n_days"),
        (col("q1") + lit(0.0)).as("q1"), (col("q3") + lit(0.0)).as("q3"),
        (col("lo_fence") + lit(0.0)).as("lo_fence"),
        (col("hi_fence") + lit(0.0)).as("hi_fence"),
        col("n_outlier_days"))
      .orderBy(col("event_type"))
  }

  /** N15 dq_schema_drift — cross-version profile drift on the event
    * stream: the corpus split into two "dataset versions" at the midpoint
    * of the observed ts range (pure integer microsecond arithmetic — no
    * global rank needed), each half profiled on the checks a schema
    * registry diff runs (row volume, null fraction per nullable column,
    * distinct cardinalities, value mean), emitted as one row per metric
    * with both sides and the absolute delta — the alert feed a nightly
    * contract check pages on.
    *
    * Determinism: fractions are one double division of exact longs, 6-dp;
    * the mean is a 6-dp-rounded double sum (the N2 precedent). Scale: two
    * single-pass whole-relation aggregates (one per half, partial-combined)
    * and a constant-width unpivot — no joins, no windows.
    */
  def dqSchemaDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    // integer `div`, not `/`: float midpoints cast differently across
    // engines (Spark truncates, DuckDB rounds) on odd sums
    val mid = ev.agg(expr("(MIN(ts_us) + MAX(ts_us)) div 2").as("mid"))
    val prof = ev.crossJoin(broadcast(mid))
      .withColumn("period", when(col("ts_us") < col("mid"), lit("v1"))
        .otherwise(lit("v2")))
      .groupBy(col("period"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("event_type")).as("d_event_type"),
        countDistinct(col("user_id")).as("d_user_id"),
        round(sum(when(col("value").isNull, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("null_frac_value"),
        round(sum(when(col("props").isNull || col("props") === "", 1L)
          .otherwise(0L)).cast("double") / count(lit(1)), 6)
          .as("empty_frac_props"),
        round(avg(col("value")), 6).as("mean_value"))
      .withColumn("m", expr(
        """map('n_rows', CAST(n_rows AS DOUBLE),
          |    'd_event_type', CAST(d_event_type AS DOUBLE),
          |    'd_user_id', CAST(d_user_id AS DOUBLE),
          |    'null_frac_value', null_frac_value,
          |    'empty_frac_props', empty_frac_props,
          |    'mean_value', mean_value)""".stripMargin))
      .select(col("period"), explode(col("m")).as(Seq("metric", "x")))
    prof.groupBy(col("metric"))
      .agg(max(when(col("period") === "v1", col("x"))).as("v1"),
        max(when(col("period") === "v2", col("x"))).as("v2"))
      .select(col("metric"),
        (col("v1") + lit(0.0)).as("v1"), (col("v2") + lit(0.0)).as("v2"),
        (round(abs(col("v2") - col("v1")), 6) + lit(0.0)).as("abs_delta"))
      .orderBy(col("metric"))
  }
}
