package graft

import graft.ops.Checkpoints.CutOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The pre-round-17 REFERENCE implementation of the alternating-star
  * loop behind `Dedup.starComponents` (symmetric working set, separate
  * large-star and small-star steps, per-round full-width dedup
  * repartition). DedupStarSpec pins the fused production round against
  * it: same certificate, same label contract, same round counts.
  */
object StarComponentsReference {
  /** One hash(a) exchange + edge dedup riding it: dropDuplicates(a, b)
    * needs only ClusteredDistribution(a, b), which HashPartitioning(a)
    * satisfies (equal (a, b) rows share a), so the dedup adds NO exchange
    * of its own. Used at loop init and at each round's end — inside a
    * round the star steps tolerate duplicate edges (min-aggregates are
    * idempotent, the join fan-out is linear in the dup factor), so one
    * dedup per round is enough and each step pays exactly ONE exchange:
    * its entry repartition, which the step's groupBy(a) AND equi-join on
    * a then both reuse (VERDICT r7 #6 — the un-pinned form planned ~3
    * exchanges per step plus a full-width distinct).
    */
  private def byA(e: DataFrame): DataFrame =
    e.repartition(col("a")).dropDuplicates("a", "b")

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — public algorithm): every node u
    * connects its strictly-larger neighbors to m(u) = min(N(u) ∪ {u}).
    * Input and output are symmetric self-loop-free edge lists (a, b).
    * One groupBy(min) + one equi-join on the node key per round.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val pre = e.repartition(col("a"))
    val m = pre.groupBy(col("a")).agg(min(col("b")).as("mb"))
      .select(col("a"), least(col("a"), col("mb")).as("m"))
    val out = pre.where(col("b") > col("a"))
      .join(m, "a")
      .select(col("b").as("x"), col("m").as("y"))
      .where(col("x") =!= col("y"))
    out.select(col("x").as("a"), col("y").as("b"))
      .unionAll(out.select(col("y").as("a"), col("x").as("b")))
  }

  /** One small-star round: each node u takes its smaller-or-equal
    * neighborhood N⁻(u) (canonical orientation b < a), finds m = min(N⁻(u)),
    * and connects u and every other member of N⁻(u) to m. Same shuffle
    * shape as largeStar.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val canon = e.repartition(col("a")).where(col("b") < col("a"))
    val m = canon.groupBy(col("a")).agg(min(col("b")).as("m"))
    val out = canon.join(m, "a")
      .select(col("b").as("x"), col("m").as("y"))
      .unionAll(m.select(col("a").as("x"), col("m").as("y")))
      .where(col("x") =!= col("y"))
    out.select(col("x").as("a"), col("y").as("b"))
      .unionAll(out.select(col("y").as("a"), col("x").as("b")))
  }

  /** Runs the unfused loop on undirected `pairs` (a_id, b_id); returns
    * (labels (doc_id, component), rounds run) like `Dedup.starComponents`.
    */
  def apply(pairs: DataFrame, maxRounds: Int = 25): (DataFrame, Int) = {
    val p = pairs.select(col(pairs.columns(0)).as("a"), col(pairs.columns(1)).as("b"))
    var e = byA(p.unionAll(p.select(col("b").as("a"), col("a").as("b")))
      .where(col("a") =!= col("b"))).lineageCut(false)
    def isStarForest(df: DataFrame): Boolean =
      df.groupBy(col("a")).agg(min(col("b")).as("mb"), max(col("b")).as("xb"))
        .where(col("mb") < col("a") && col("mb") =!= col("xb"))
        .isEmpty
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val next = byA(smallStar(largeStar(e))).lineageCut(false)
      e = next
      converged = isStarForest(next)
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"StarComponentsReference did not converge within $maxRounds rounds")
    val out = e.groupBy(col("a")).agg(min(col("b")).as("mb"))
      .select(col("a").as("doc_id"), least(col("a"), col("mb")).as("component"))
      .lineageCut(true)
    (out, rounds)
  }
}
