package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composite WORKLOAD queries (SURVEY §2.W): classic decision-support
  * shapes that exercise the whole optimizer path at once — selective
  * dimension filters, multi-join chains, grouped decimal aggregation,
  * ordered top-k — the way a real analytics user strings this library's
  * operators together. Each is the canonical public TPC-H query shape
  * re-expressed on this corpus with the repo's exact-decimal money
  * protocol ([[Cols]]), so every revenue sort is over exact DECIMAL
  * values (deterministic top-k, no float-order hazard).
  *
  * 100 TB: all joins are keyed equi-joins Catalyst reorders freely;
  * dimension sides (region/nation/customer-filtered) broadcast under AQE,
  * the fact-side filters (date ranges, returnflag, mktsegment) push into
  * the parquet scans, and each query ends in one keyed hash agg + bounded
  * TakeOrdered — nothing global, nothing unbounded.
  */
object Workload {

  /** W1 wk_q3_shipping_priority — the Q3 shape: revenue of unshipped
    * BUILDING-segment orders as of a cutoff, top-10 by exact decimal
    * revenue.
    */
  def q3ShippingPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1998-03-15").cast("timestamp_ntz")
    Tables.customer(spark, sfDir).where(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, sfDir), col("c_custkey") === col("o_custkey"))
      .where(col("o_orderdate") < cutoff)
      .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .where(col("l_shipdate") > cutoff)
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(Cols.revenue).as("rev"))
      .orderBy(desc("rev"), asc("o_orderdate"), asc("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("rev").cast("double").as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
  }

  /** W2 wk_q5_region_volume — the Q5 shape: 1996 revenue by nation for
    * ASIA orders where customer and supplier share the nation (the
    * "local supplier volume" 6-table star).
    */
  def q5RegionVolume(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir).where(col("r_name") === "ASIA")
      .join(Tables.nation(spark, sfDir), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(spark, sfDir), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.lineitem(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
      .join(Tables.customer(spark, sfDir),
        col("c_custkey") === col("o_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(Cols.revenue).as("rev"))
      .orderBy(desc("rev"), asc("n_name"))
      .select(col("n_name"), col("rev").cast("double").as("revenue"))

  /** W3 wk_q10_returns — the Q10 shape: top-20 customers by revenue of
    * RETURNED items in 1997Q1, with their nation.
    */
  def q10Returns(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("c_custkey") === col("o_custkey"))
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp_ntz"))
      .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .where(col("l_returnflag") === "R")
      .join(Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(Cols.revenue).as("rev"))
      .orderBy(desc("rev"), asc("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"),
        col("rev").cast("double").as("revenue"), col("c_acctbal"), col("n_name"))

  /** M45 pipeline_dataset_card — the one-scan corpus summary a dataset
    * card leads with: doc/lang/source counts, char and token totals,
    * short-doc share. Two exact count-distincts over low-cardinality
    * columns (Expand ×3 — bounded, cf. N1's documented cost model);
    * everything else folds in the same single pass. The mean is one
    * division over exact integer sums — raw double, bit-equal.
    */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"),
        sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
        count(when(col("n_chars") < 100, 1)).as("n_short"))
      .select(col("n_docs"), col("n_langs"), col("n_sources"),
        col("total_chars"), col("total_tokens"), col("n_short"),
        (col("total_chars").cast("double") / col("n_docs")).as("mean_chars"))

  /** W4 wk_q4_order_priority — the Q4 shape: priority-bucket counts of
    * 1997Q1 orders having at least one SLOW line. The fixture carries no
    * commit/receipt dates, so "late" is adapted to ship lag: a line
    * shipped more than 60 days after the order date. The EXISTS compiles
    * to ONE left-semi hash join on the order key with the lag predicate
    * as a join residual — each order is emitted at most once no matter
    * how many slow lines it has, and the quarter filter pushes into the
    * orders scan before the join.
    */
  def q4OrderPriority(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp_ntz"))
      .join(Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** W5 wk_q7_region_trade — the Q7 shape lifted to regions: bilateral
    * shipping volume between ASIA and EUROPE (either direction) by ship
    * year, 1996–1997. Lifted because the fixture's 25 synthetic nations
    * make any single nation PAIR empty at sf0.001 — region granularity
    * keeps the two-sided-trade semantics non-degenerate at every SF.
    * Both region dims are pre-filtered to the two names, so only the
    * cross-region inequality remains as a post-join residual.
    */
  def q7RegionTrade(spark: SparkSession, sfDir: String): DataFrame = {
    val nations = Tables.nation(spark, sfDir)
    val regions = Tables.region(spark, sfDir).where(col("r_name").isin("ASIA", "EUROPE"))
    val suppNation = Tables.supplier(spark, sfDir)
      .join(nations.select(col("n_nationkey").as("sn_key"), col("n_regionkey").as("sr_key")),
        col("s_nationkey") === col("sn_key"))
      .join(regions.select(col("r_regionkey").as("sr_key2"), col("r_name").as("supp_region")),
        col("sr_key") === col("sr_key2"))
    val custNation = Tables.customer(spark, sfDir)
      .join(nations.select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cr_key")),
        col("c_nationkey") === col("cn_key"))
      .join(regions.select(col("r_regionkey").as("cr_key2"), col("r_name").as("cust_region")),
        col("cr_key") === col("cr_key2"))
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .join(Tables.orders(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .join(custNation, col("c_custkey") === col("o_custkey"))
      .join(suppNation, col("s_suppkey") === col("l_suppkey"))
      .where(col("supp_region") =!= col("cust_region"))
      .groupBy(col("supp_region"), col("cust_region"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(Cols.revenue).as("rev"))
      .orderBy(col("supp_region"), col("cust_region"), col("l_year"))
      .select(col("supp_region"), col("cust_region"), col("l_year"),
        col("rev").cast("double").as("revenue"))
  }

  /** W6 wk_q8_market_share — the Q8 shape: of all ECONOMY-type revenue
    * sold to ASIA customers, the share supplied by NATION_3, per order
    * year. Both the numerator and denominator are exact decimal sums; the
    * single double division happens once per year row and is rounded to
    * 6 dp (the [[Cols]] protocol for irreducible float outputs).
    */
  def q8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val asiaNations = Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir).where(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val suppNation = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir).where(col("p_type") === "ECONOMY"),
        col("p_partkey") === col("l_partkey"))
      .join(Tables.orders(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, sfDir), col("c_custkey") === col("o_custkey"))
      .join(asiaNations, col("c_nationkey") === col("cn_key"), "left_semi")
      .join(suppNation, col("s_suppkey") === col("l_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_3", Cols.revenue)
          .otherwise(lit(0).cast("decimal(18,4)"))).as("nat_rev"),
        sum(Cols.revenue).as("tot_rev"))
      .select(col("o_year"),
        (round(col("nat_rev").cast("double") / col("tot_rev").cast("double"), 6)
          + lit(0.0)).as("mkt_share"),
        col("tot_rev").cast("double").as("total_revenue"))
      .orderBy(col("o_year"))
  }

  /** W7 wk_q14_promo_share — the Q14 shape: the percentage of September
    * 1997 revenue coming from PROMO-type parts; one output row. The part
    * dim broadcasts; the month filter pushes into the lineitem scan; both
    * revenue sums are exact decimals with one rounded double division.
    */
  def q14PromoShare(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1997-09-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-10-01").cast("timestamp_ntz"))
      .join(Tables.part(spark, sfDir), col("p_partkey") === col("l_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", Cols.revenue)
          .otherwise(lit(0).cast("decimal(18,4)"))).as("promo"),
        sum(Cols.revenue).as("total"))
      .select(
        (round(lit(100.0) * col("promo").cast("double") / col("total").cast("double"), 6)
          + lit(0.0)).as("promo_share_pct"),
        col("promo").cast("double").as("promo_revenue"),
        col("total").cast("double").as("total_revenue"))

  /** W8 wk_q18_large_orders — the Q18 shape: the top-10 largest orders by
    * total price among orders whose line quantities sum past 300, with
    * the owning customer. The HAVING pre-aggregates lineitem to one row
    * per order BEFORE any join (map-side partial agg applies), so the
    * joins only ever see the tiny survivor set; the top-k is a bounded
    * TakeOrdered. Quantities are small integers stored as doubles — their
    * sums are exact in both engines.
    */
  def q18LargeOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .where(col("sum_qty") > 300)
    Tables.orders(spark, sfDir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, sfDir), col("c_custkey") === col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
  }

  /** W9 wk_q22_lapsed_customers — the Q22 shape adapted to this corpus:
    * per nation, the count and held balance of LAPSED wealthy customers —
    * above-average positive account balance but no order since 2000-06-01
    * ("no orders at all" is empty below sf0.1: every customer has early
    * orders). The above-average test is EXACT integer-domain arithmetic:
    * `bal * n_pos > total_pos` with 2-dp decimals, so no engine ever
    * rounds an average — the [[Cols]] protocol applied to a threshold.
    * The anti join runs on the date-filtered orders slice (pushed scan);
    * the 1-row threshold relation broadcasts.
    */
  def q22LapsedCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val thresh = cust.where(col("c_acctbal") > 0)
      .agg(count(lit(1)).as("n_pos"),
        sum(Cols.dec2(col("c_acctbal"))).as("tot_pos"))
    val recent = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= lit("2000-06-01").cast("timestamp_ntz"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(thresh))
      .where(Cols.dec2(col("c_acctbal")) * col("n_pos") > col("tot_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_lapsed"),
        sum(Cols.dec2(col("c_acctbal"))).cast("double").as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  /** W10 wk_q6_discount_revenue — the Q6 shape: revenue delta from
    * dropping mid-band discounts on small-quantity 1997 lines. The purest
    * scan-filter-agg in the family: every predicate pushes into the
    * parquet scan, one partial+final agg, zero joins — at 100 TB this is
    * a map-only pass whose cost is I/O. The discount band compares 2-dp
    * doubles against exact literals (no arithmetic before the compare).
    */
  def q6DiscountRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        sum(Cols.dec2(col("l_extendedprice")) * Cols.dec2(col("l_discount")))
          .cast("double").as("forecast_revenue"),
        count(lit(1)).as("n_lines"))

  /** W11 wk_q13_order_count_dist — the Q13 shape: the customer
    * distribution by order count, INCLUDING zero-order customers (the
    * left join is the point; an inner join silently drops the largest
    * bucket). The original's comment-filter is dropped (no comment column
    * in this fixture).
    *
    * Eager aggregation (Yan & Larson, VLDB 1995): `orders` is counted per
    * `o_custkey` BEFORE the left join, so the join's build side holds at
    * most one row per customer with orders instead of one row per order.
    * Since `c_custkey` is the customer key, the per-customer count equals
    * the textbook join-then-`count(o_orderkey)` group, and a customer
    * without orders gets `coalesce(n, 0)` — the zero bucket survives. The
    * rewrite matters because Spark sizes a column-pruned parquet scan as
    * file bytes × projected width: at sf1 the 1.5M-row (o_orderkey,
    * o_custkey) scan estimates under the 10 MB broadcast threshold, so
    * the un-aggregated form collects every order through the driver.
    */
  def q13OrderCountDist(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(col("o_orderkey")).as("n"))
    Tables.customer(spark, sfDir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  /** W12 wk_q15_top_supplier — the Q15 shape: the supplier(s) achieving
    * the maximum 1997Q1 revenue (ties all surface, exactly the original's
    * `= max` semantics — never a LIMIT 1 that hides a tie). The revenue
    * relation builds once and is compared against its own broadcast 1-row
    * max; exact decimal end-to-end so "max" is unambiguous.
    */
  def q15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp_ntz"))
      .groupBy(col("l_suppkey"))
      .agg(sum(Cols.revenue).as("total_rev"))
      .localCheckpoint(true) // one build feeds both the max and the probe
    val top = rev.agg(max(col("total_rev")).as("max_rev"))
    Tables.supplier(spark, sfDir)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(top))
      .where(col("total_rev") === col("max_rev"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** W13 wk_q17_small_qty_revenue — the Q17 shape: weekly-equivalent
    * revenue lost to small-quantity Brand#1 orders (quantity under 20% of
    * that part's average). The per-part threshold is `0.2 * (Σqty / n)` —
    * an exact integer sum and one double division, evaluated identically
    * on both engines — and joins back part-keyed (no correlated rescan).
    */
  def q17SmallQtyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val partAvg = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey").as("pk"))
      .agg((lit(0.2) * (sum(col("l_quantity")).cast("double") / count(lit(1))))
        .as("thr"))
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir).where(col("p_brand") === "Brand#1"),
        col("p_partkey") === col("l_partkey"))
      .join(partAvg, col("pk") === col("l_partkey"))
      .where(col("l_quantity") < col("thr"))
      .agg(
        (round(sum(Cols.dec2(col("l_extendedprice"))).cast("double") / lit(7.0), 6)
          + lit(0.0)).as("avg_weekly_revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** W14 wk_q19_brand_discounts — the Q19 shape: revenue under three
    * OR'd brand/size/quantity predicate groups — the classic test that
    * a disjunctive residual still reaches the join without turning into
    * a cartesian. One broadcast-dim join, predicates evaluated as a
    * single residual, one global agg.
    */
  def q19BrandDiscounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir), col("p_partkey") === col("l_partkey"))
      .where(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(Cols.revenue).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** W15 wk_q21_late_supplier — the Q21 shape adapted to ship lag: for
    * multi-supplier orders, count per supplier the lines where THAT
    * supplier shipped late (>60 days after order) and no co-supplier
    * did — the "who alone held up the order" attribution. EXISTS and
    * NOT EXISTS compile to one left-semi and one left-anti against the
    * same order-keyed co-supplier relations; top-10 suppliers by count.
    */
  def q21LateSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_linenumber"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("late"))
      .localCheckpoint(true) // one build feeds the probe and both co-supplier sides
    // Optimization round 16: the co-supplier EXISTS semi-join and the
    // other-late NOT-EXISTS anti-join collapse into ONE per-order
    // aggregate — for a LATE line (k, sk): ∃ sk2 ≠ sk on k ⟺ the order
    // has ≥ 2 distinct suppliers (sk itself is on k), and ∄ other late
    // supplier ⟺ the order's distinct LATE suppliers = {sk} ⟺ their
    // count is exactly 1 (sk is late, so ≥ 1 always holds). Two
    // order-keyed shuffle joins become one keyed aggregate + one keyed
    // join riding the same hash partitioning.
    val stats = l.groupBy(col("l_orderkey").as("k"), col("l_suppkey"))
      .agg(max(col("late")).as("sk_late"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("sk_late"), 1L).otherwise(0L)).as("n_late_supp"))
    val l1 = l.where(col("late"))
      .select(col("l_orderkey").as("k"), col("l_suppkey").as("sk"), col("l_linenumber"))
    l1
      .join(stats, Seq("k"))
      .where(col("n_supp") >= 2 && col("n_late_supp") === 1)
      // group by s_NAME (the official Q21 shape), not the supplier key:
      // the two coincide only while names are unique — the sf1 replica
      // fixture has 10 keys per name and caught the round-10-era key
      // grouping emitting one name 10 times (round-11 sf1 subset find)
      .join(Tables.supplier(spark, sfDir), col("sk") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), asc("s_name"))
      .limit(10)
      .select(col("s_name"), col("numwait"))
  }

  /** W16 wk_q12_lag_priority — the Q12 shape adapted: no ship mode or
    * receipt date in this fixture, so 1997-shipped lines bucket by ship
    * LAG class (fast ≤30 d, normal ≤60 d, slow beyond) and each bucket
    * counts critical-priority (1-URGENT/2-HIGH) vs other orders — Q12's
    * conditional-count core intact. Lag classes compare timestamps
    * against interval-shifted order dates directly (no datediff
    * semantics to align across engines); all outputs exact integers.
    */
  def q12LagPriority(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .join(Tables.orders(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .withColumn("lag_class",
        when(col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 30 DAYS"), "fast")
          .when(col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"), "normal")
          .otherwise("slow"))
      .groupBy(col("lag_class"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy(col("lag_class"))

  // ---- round-7: the partsupp-dependent family (W17–W21) over the derived
  // partsupp relation ([[Tables.partsupp]] — identical CTE on the oracle
  // side, so comparisons are exact).

  /** Suppliers of a region joined to their nation name, the shared dim
    * chain of W17/W19/W21: supplier ⋈ broadcast(nation ⋈ broadcast(region
    * filtered to one name)). Nation/region are 25/5 rows at every SF —
    * always broadcast; supplier stays on the probe side.
    */
  private def regionSuppliers(spark: SparkSession, sfDir: String, regionName: String): DataFrame =
    Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .join(broadcast(Tables.region(spark, sfDir).where(col("r_name") === regionName)),
          col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))

  /** W17 wk_q2_min_cost_supplier — the Q2 shape: for LARGE parts of size
    * ≤ 25, the EUROPE supplier(s) offering the minimum supply cost, top-100
    * by account balance. The correlated MIN subquery is re-expressed as a
    * per-part min aggregate joined back on (partkey, cost) — one extra
    * keyed shuffle instead of a per-row rescan; ties (several suppliers at
    * the min) keep every witness, exactly like the classic query.
    *
    * 100 TB: candidate set shrinks first (part filter pushes into the part
    * scan, region filter cuts suppliers before the partsupp join); the min
    * re-join is on the already-reduced candidate relation, and cost is
    * exact LONG cents so the min and its equality join are exact.
    */
  def q2MinCostSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = Tables.partsupp(spark, sfDir)
      .join(regionSuppliers(spark, sfDir, "EUROPE"), col("ps_suppkey") === col("s_suppkey"))
      .join(Tables.part(spark, sfDir).where(col("p_type") === "LARGE" && col("p_size") <= 25),
        col("ps_partkey") === col("p_partkey"))
    val minCost = cand.groupBy(col("ps_partkey").as("mk"))
      .agg(min(col("ps_cost_cents")).as("min_cents"))
    cand.join(minCost,
        col("ps_partkey") === col("mk") && col("ps_cost_cents") === col("min_cents"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
        col("p_brand"), (col("ps_cost_cents").cast("double") / 100.0).as("supply_cost"))
      .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"), asc("p_partkey"))
      .limit(100)
  }

  /** W18 wk_q9_product_profit — the Q9 shape: profit on '%red%' parts by
    * supplier nation and order year. profit = Σ revenue − Σ supplycost·qty,
    * with revenue exact DECIMAL and the cost side exact LONG cents·qty —
    * one double subtraction at the very end, identical on both engines.
    *
    * 100 TB: lineitem joins the part-filtered partsupp on the composite
    * (partkey, suppkey) key — one fact-side shuffle; orders brings the
    * year, supplier→nation is the broadcast dim chain. All joins keyed,
    * Catalyst free to reorder.
    */
  def q9ProductProfit(spark: SparkSession, sfDir: String): DataFrame = {
    val redPs = Tables.partsupp(spark, sfDir)
      .join(Tables.part(spark, sfDir).where(col("p_name").like("%red%"))
        .select(col("p_partkey")),
        col("ps_partkey") === col("p_partkey"))
    Tables.lineitem(spark, sfDir)
      .join(redPs,
        col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(Cols.revenue).as("rev"),
        sum(col("ps_cost_cents") * col("l_quantity").cast("long")).as("cq"))
      .select(col("n_name"), col("o_year"),
        (col("rev").cast("double") - col("cq").cast("double") / 100.0).as("profit"))
      .orderBy(asc("n_name"), desc("o_year"))
  }

  /** W19 wk_q11_important_stock — the Q11 shape: stock value
    * (supplycost·availqty, exact LONG cents) of ASIA-held partsupp per
    * part, keeping parts above 1.6× the mean per-part value. The TPC-H
    * fraction 0.0001/SF is replaced by a SELF-SCALING threshold (value ·
    * n_parts · 5 > total · 8 — the exact-integer cross-multiplied form of
    * value > 1.6·mean), so selectivity is SF-invariant without an
    * SF-dependent literal. The 1-row total broadcasts.
    *
    * 100 TB: one keyed agg over the region-filtered partsupp, one 1-row
    * broadcast comparison — no second pass over the data. The cross
    * multiply stays in LONG range up to ~10⁹ parts; past that, promote to
    * DECIMAL(38,0) on both engines.
    */
  def q11ImportantStock(spark: SparkSession, sfDir: String): DataFrame = {
    val v = Tables.partsupp(spark, sfDir)
      .join(regionSuppliers(spark, sfDir, "ASIA").select(col("s_suppkey")),
        col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("ps_cost_cents") * col("ps_availqty")).as("value_cq"))
    val t = v.agg(sum(col("value_cq")).as("total"), count(lit(1)).as("n_parts"))
    v.crossJoin(broadcast(t))
      .where(col("value_cq") * col("n_parts") * 5 > col("total") * 8)
      .select(col("ps_partkey"), (col("value_cq").cast("double") / 100.0).as("stock_value"))
      .orderBy(desc("stock_value"), asc("ps_partkey"))
      .limit(100)
  }

  /** W20 wk_q16_supplier_cnt — the Q16 shape: distinct-supplier counts per
    * (brand, type, size) for an 8-size slice, excluding one brand, one
    * type, and the "at-risk" suppliers (acctbal < 500 — the adaptation of
    * Q16's complaint-comment blacklist; this fixture carries no comment
    * column). The NOT IN compiles to a broadcast left-anti join.
    *
    * 100 TB: part filters push to the scan; the anti side is a filtered
    * supplier key list (small, broadcast); count-distinct shuffles once on
    * the 3-part group key.
    */
  def q16SupplierCnt(spark: SparkSession, sfDir: String): DataFrame =
    Tables.partsupp(spark, sfDir)
      .join(broadcast(Tables.supplier(spark, sfDir).where(col("s_acctbal") < 500)
        .select(col("s_suppkey").as("bad_sk"))),
        col("ps_suppkey") === col("bad_sk"), "left_anti")
      .join(Tables.part(spark, sfDir).where(col("p_brand") =!= "Brand#5" &&
        col("p_type") =!= "PROMO" && col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)),
        col("ps_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))

  /** W21 wk_q20_excess_stock — the Q20 shape: AFRICA suppliers holding
    * excess stock of a 'blue%' part — availqty exceeding half the 1997
    * shipped quantity of that (part, supplier). The nested EXISTS chain
    * becomes: 1997 shipped-qty agg → inner join to the blue-part partsupp
    * (a missing 1997 row excludes the pair, matching the NULL-comparison
    * semantics of the classic scalar subquery) → left-semi into the
    * region's suppliers.
    *
    * 100 TB: the qty agg is one keyed shuffle over the date-pruned
    * lineitem; the semi join emits each supplier once regardless of how
    * many excess parts it holds. qty is a sum of integral doubles (exact
    * below 2^53), so the 0.5· comparison is deterministic cross-engine.
    */
  def q20ExcessStock(spark: SparkSession, sfDir: String): DataFrame = {
    val q97 = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
      .groupBy(col("l_partkey").as("qpk"), col("l_suppkey").as("qsk"))
      .agg(sum(col("l_quantity")).as("qty"))
    val excess = Tables.partsupp(spark, sfDir)
      .join(Tables.part(spark, sfDir).where(col("p_name").like("blue%"))
        .select(col("p_partkey")),
        col("ps_partkey") === col("p_partkey"))
      .join(q97, col("qpk") === col("ps_partkey") && col("qsk") === col("ps_suppkey"))
      .where(col("ps_availqty").cast("double") > lit(0.5) * col("qty"))
    regionSuppliers(spark, sfDir, "AFRICA")
      .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(asc("s_name"))
  }
}
