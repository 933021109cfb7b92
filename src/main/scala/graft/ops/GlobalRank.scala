package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-pass range-partitioned global ranking — the 100 TB replacement for
  * `Window.orderBy(...)` (which Spark plans as ONE partition). Shared by
  * F5v2 `win_ntile_scalable` and E11b `agg_histogram_equidepth`; any query
  * that needs a total order over a fact table should rank through here.
  *
  * Algorithm (SURVEY §5.3.4):
  *   1. `repartitionByRange` on the order key → globally ordered partition
  *      ranges, each ranked locally in parallel.
  *   2. Per-partition row counts (one tiny row per partition) become prefix
  *      offsets; `rn` = offset(part) + local_rank.
  *   3. ntile/percent_rank/cume_dist are closed-form in (rn, n_total) when
  *      the order key carries a unique tiebreaker (rank == row_number).
  *
  * The only unpartitioned windows run over the P-row partition summary —
  * bounded by partition count, not data size.
  */
object GlobalRank {

  /** localCheckpoint by default; the spark.graft.checkpointDir knob
    * switches to reliable checkpoint() (see [[Checkpoints]]) — the ranked
    * relation is the durability-critical pin here (two consumers of one
    * RangePartitioner sample), so at cluster scale it should survive
    * executor loss like every other lineage cut. The cut truncates
    * lineage, so the ranking stage's plan shows only in the checkpoint
    * action's own query execution, not in any consumer's executedPlan.
    */
  private def checkpointEagerly(df: DataFrame): DataFrame =
    Checkpoints.cut(df, eager = true)

  /** Appends `rn` (global row_number over `order`) and `n_total` to `df`
    * without a single-partition sort. The `order` columns MUST be a unique
    * key of `df` (so rank == row_number and downstream closed forms hold).
    *
    * localCheckpoint(eager): the offsets branch and the data branch both
    * consume the ranked relation. Without materialization their agreement
    * would silently depend on ReuseExchange deduplicating the two
    * repartitionByRange executions — RangePartitioner samples boundaries
    * with an RDD-id-dependent seed, so two *independent* executions could
    * assign rows to different ranges and offset+lrn would produce wrong
    * global ranks (ADVICE r2, medium). Eager checkpointing executes the
    * ranking exactly once — both branches then read the same materialized
    * blocks, a strictly stronger guarantee than persist() (whose evicted
    * blocks recompute from lineage) — and truncates the plan so the audit
    * counts each exchange once.
    */
  def withGlobalRowNumber(df: DataFrame, parts: Int, order: Column*): DataFrame = {
    val ranked = checkpointEagerly(df
      .repartitionByRange(parts, order: _*)
      .withColumn("part", spark_partition_id())
      .withColumn("lrn", row_number().over(
        Window.partitionBy(col("part")).orderBy(order: _*))))
    val offsets = ranked.groupBy(col("part")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset",
        coalesce(sum(col("cnt")).over(
          Window.orderBy(col("part")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("n_total", sum(col("cnt")).over(Window.partitionBy()))
      .select(col("part"), col("offset"), col("n_total"))
    ranked.join(broadcast(offsets), "part")
      .withColumn("rn", col("offset") + col("lrn"))
      .drop("part", "lrn")
  }

  /** Appends `cum_before` (EXCLUSIVE global running sum of `value` over the
    * total order given by `order`) without a single-partition sort — the
    * prefix-sum sibling of [[withGlobalRowNumber]]: local running sums per
    * range partition, per-partition totals (one tiny row each) rolled into
    * prefix offsets, local + offset = global. Same eager-checkpoint
    * rationale (two consumers of one RangePartitioner sample); `order`
    * must be a unique key of `df`. `value` must be integral (LONG path —
    * exact, associative, engine-order-independent).
    */
  def withGlobalRunningSum(df: DataFrame, parts: Int, value: Column, order: Column*): DataFrame =
    withGlobalRunningSums(df, parts, Seq(value -> "cum_before"), order: _*)

  /** The MULTI-COUNTER form of [[withGlobalRunningSum]] (VERDICT r8 #7):
    * N exclusive global running sums that all ride the SAME total order
    * share ONE range partitioning, one eager checkpoint, and one broadcast
    * offsets join — instead of one full ranking pipeline per counter plus
    * a key rejoin to line the counters back up. `values` maps each
    * integral value column to the output column name its running sum gets.
    * The per-partition offsets relation stays one tiny row per partition
    * (now P × N cells); everything else is unchanged from the
    * single-counter contract: `order` must be a unique key, values must be
    * integral (exact LONG path), and the eager checkpoint pins one
    * RangePartitioner sample for every consumer.
    */
  def withGlobalRunningSums(df: DataFrame, parts: Int,
      values: Seq[(Column, String)], order: Column*): DataFrame =
    runningSumsBody(df.repartitionByRange(parts, order: _*), values, order: _*)

  /** [[withGlobalRunningSums]] for input that is ALREADY range-partitioned
    * on `order` (partition ranges monotone in partition id — a
    * `repartitionByRange` upstream whose partitioning survived, e.g.
    * through an aggregate it also satisfied). Skips the second range
    * exchange the generic form would add (optimization round 17,
    * dq_ks_test: the value census rides ONE range exchange of the raw
    * rows instead of a hash exchange plus a range re-exchange of the
    * census). The caller owns the precondition; everything else —
    * unique-key order, integral values, the eager one-sample checkpoint —
    * is unchanged.
    */
  private[graft] def withGlobalRunningSumsRanged(df: DataFrame,
      values: Seq[(Column, String)], order: Column*): DataFrame =
    runningSumsBody(df, values, order: _*)

  private def runningSumsBody(ranged: DataFrame,
      values: Seq[(Column, String)], order: Column*): DataFrame = {
    val w = Window.partitionBy(col("part")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = checkpointEagerly(
      values.zipWithIndex.foldLeft(
        ranged
          .withColumn("part", spark_partition_id())) {
        case (d, ((v, _), i)) =>
          d.withColumn(s"__gv_$i", v.cast("long"))
            .withColumn(s"__lcum_$i",
              coalesce(sum(col(s"__gv_$i")).over(w), lit(0L)))
      })
    val ptots = values.indices.map(i => sum(col(s"__gv_$i")).as(s"__ptot_$i"))
    val wOff = Window.orderBy(col("part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = values.indices.foldLeft(
        local.groupBy(col("part")).agg(ptots.head, ptots.drop(1): _*)) {
        (d, i) =>
          d.withColumn(s"__off_$i",
            coalesce(sum(col(s"__ptot_$i")).over(wOff), lit(0L)))
      }
      .select(col("part") +: values.indices.map(i => col(s"__off_$i")): _*)
    val named = values.zipWithIndex.foldLeft(
        local.join(broadcast(offsets), "part")) {
        case (d, ((_, name), i)) =>
          d.withColumn(name, col(s"__off_$i") + col(s"__lcum_$i"))
      }
    named.drop("part" +:
      values.indices.flatMap(i => Seq(s"__gv_$i", s"__lcum_$i", s"__off_$i")): _*)
  }

  /** Closed-form ntile(k) over the (rn, n_total) columns produced by
    * [[withGlobalRowNumber]]: the first (N mod k) buckets hold ceil(N/k)
    * rows, the rest floor(N/k); `rn - 1` indexes into that layout.
    */
  def ntileExpr(k: Int): Column = ntileExpr(k, "rn", "n_total")

  /** The same closed form over caller-named rank/count columns — for
    * group-scoped ntiles where the global rank is offset into a
    * within-group rank first (round 15, text_rarity_buckets: one global
    * range exchange over (group, key), then per-group offsets broadcast —
    * never a per-group data-sized window).
    */
  def ntileExpr(k: Int, rn: String, n: String): Column = expr(
    s"""cast(if($rn - 1 < ($n % $k) * ($n div $k + 1),
       |        ($rn - 1) div ($n div $k + 1),
       |        ($n % $k) + ($rn - 1 - ($n % $k) * ($n div $k + 1)) div ($n div $k)
       |       ) + 1 as int)""".stripMargin)
}
