package graft.ops

import graft.Tables
import graft.functions.gridIslands
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 2D fixed-grid stencil / image-cleaning family (round 16, VERDICT r15
  * #5) — the most literal nod to the upstream reference's core transform
  * (SURVEY §1.1: tailcut two-threshold image cleaning + isolated-island
  * removal over camera pixel grids), re-expressed over the corpus: each
  * 64-d embedding is read as an 8×8 pixel grid (`embeddings.embedding`,
  * row-major), and the cleaning pipeline is
  *
  *   threshold (HOFs) → 4-neighbor edge generation → the EXISTING
  *   alternating-star CC loop ([[Dedup.starComponents]]) → island stats.
  *
  * Everything on the hash path is integer-exact: pixel intensities are
  * quantized to ×1000 BIGINTs once at the boundary (the perplexity-proxy
  * round idiom — float→double widening is exact, ×1000 of a 24-bit
  * mantissa is exact in double, and round-half-away ties are impossible
  * because (k+0.5)/1000 is not a dyadic rational), and every division is
  * over nonnegative integers so Spark's `div` and DuckDB's `//` agree.
  *
  * 100 TB: the clean is a pure per-row expression chain (no shuffle, no
  * explode); the island pass explodes only KEPT pixels (≲15% of cells at
  * the calibrated thresholds), runs ONE global star-CC loop over all
  * images at once — node ids are vec_id·64+pixel, so a billion-image
  * corpus is one O(log²) component job, never a per-image driver loop —
  * and aggregates back to one row per image.
  */
object GridStencil {

  /** Grid geometry: 64-d embedding = 8×8 row-major grid. */
  private val Side = 8
  private val Cells = Side * Side

  /** Tailcut thresholds, calibrated on the fixture distribution
    * (embedding values ≈ N(0, 0.125²·64-ish): p95 ≈ 0.207, p80 ≈ 0.105):
    * HI keeps ~5% of pixels as cores, LO admits ~20% as boundary
    * candidates — ~3 cores and ~2–6 boundary pixels per image, so
    * multi-pixel islands exist at every SF without saturating the grid.
    * Package-visible: the oracle SQL interpolates both (the ADVICE r11
    * #1 discipline — engine and oracle can never silently diverge).
    */
  private[graft] val TailHi = "0.2"
  private[graft] val TailLo = "0.1"

  /** vec_id, embedding, plus the `core` and `kept` boolean arrays of the
    * two-threshold clean. Shared by all three grid queries. Neighbor
    * probes are IF-guarded (never an out-of-range element_at — Spark
    * ANSI mode errors on index 0 and both engines index from the END on
    * negatives, so a short-circuit assumption is not worth carrying).
    */
  private def cleaned(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("core", expr(
        s"""transform(sequence(0, ${Cells - 1}), p ->
           |  CAST(element_at(embedding, CAST(p + 1 AS INT)) AS DOUBLE) >= ${TailHi}D)"""
          .stripMargin))
      .withColumn("kept", expr(
        s"""transform(sequence(0, ${Cells - 1}), p ->
           |  element_at(core, CAST(p + 1 AS INT)) OR (
           |    CAST(element_at(embedding, CAST(p + 1 AS INT)) AS DOUBLE) >= ${TailLo}D AND (
           |      IF(p >= $Side, element_at(core, CAST(p - ${Side - 1} AS INT)), false) OR
           |      IF(p < ${Cells - Side}, element_at(core, CAST(p + ${Side + 1} AS INT)), false) OR
           |      IF(p % $Side != 0, element_at(core, CAST(p AS INT)), false) OR
           |      IF(p % $Side != ${Side - 1}, element_at(core, CAST(p + 2 AS INT)), false))))"""
          .stripMargin))

  /** P1 grid_tailcut_clean — the two-threshold (tailcut) clean itself,
    * one row per image: a pixel survives if it is a CORE (≥ HI) or a
    * BOUNDARY (≥ LO with a 4-neighbor core). Reports core/boundary/kept
    * counts and the kept-intensity sum and max (×1000-quantized BIGINTs;
    * kept pixels are ≥ LO > 0, so the sums stay in nonnegative-integer
    * territory and q_max's 0 sentinel is unambiguous).
    *
    * Scale: a pure per-row HOF chain over the corpus scan — no shuffle
    * at all until the final order.
    */
  def gridTailcutClean(spark: SparkSession, sfDir: String): DataFrame =
    cleaned(spark, sfDir)
      .withColumn("q", expr(
        "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))"))
      .select(col("vec_id"),
        expr("CAST(size(filter(core, x -> x)) AS BIGINT)").as("n_core"),
        expr("CAST(size(filter(zip_with(kept, core, (k, c) -> k AND NOT c), x -> x)) AS BIGINT)")
          .as("n_boundary"),
        expr("CAST(size(filter(kept, x -> x)) AS BIGINT)").as("n_kept"),
        expr("aggregate(zip_with(kept, q, (k, x) -> IF(k, x, 0L)), 0L, (acc, x) -> acc + x)")
          .as("q_sum"),
        expr("coalesce(array_max(zip_with(kept, q, (k, x) -> IF(k, x, CAST(NULL AS BIGINT)))), 0L)")
          .as("q_max"))
      .orderBy(col("vec_id"))

  /** P2 grid_island_largest — isolated-island removal, the step after
    * the clean: 4-neighbor connected components over the KEPT pixels,
    * then per image the island count, the largest island's size (ties to
    * the smallest root pixel) and its root pixel — the "keep the largest
    * island, drop the satellites" decision relation.
    *
    * The components run as ONE global [[Dedup.starComponents]] job over
    * node ids vec_id·64 + pixel (images can never merge: all edges stay
    * inside one vec_id), so a 10⁹-image corpus is a single O(log²)-round
    * star loop over ~keep-fraction·64n nodes. Singleton kept pixels
    * (no kept neighbor) never enter the edge list; the left join below
    * labels them with their own node id. The largest-island argmax is
    * one max_by over a unique composite (size·10¹² − root node id —
    * node ids stay < 10¹² until 1.5·10¹⁰ images, recorded bound).
    */
  def gridIslandLargest(spark: SparkSession, sfDir: String): DataFrame = {
    // Optimization round 16: islands can never cross images (every
    // 4-neighbor edge stays inside one vec_id's 8×8 grid), so the global
    // star-CC job over exploded kept pixels — a checkpointed multi-round
    // join loop, ~20 Spark jobs per run — collapses to ONE codegen'd
    // per-row union-find over the 64-cell kept mask
    // ([[graft.functions.GridIslands]]): component label = the island's
    // minimum pixel index ≡ the old global component root modulo
    // vec_id·64, and the (size desc, label asc) largest-island order is
    // the old isl_size·10¹² − comp ordering. The whole operator is now a
    // map over the corpus scan plus the output sort — the P1/P3 shape;
    // the oracle (recursive min-label closure per image) is unchanged
    // and Round16Spec's clean/island consistency gate still pins the
    // decomposition. 100 TB: embarrassingly parallel — no shuffle, no
    // iteration count, no corpus-size dependence inside the row.
    cleaned(spark, sfDir)
      // explode(array(·)) is a Generate barrier: without it the
      // optimizer substitutes the expression into the pushed-down filter
      // AND each of the four field extractions — six evaluations per row
      // of a call whose `kept` input is itself the inlined HOF clean
      // (measured 2.9 s; the §4.4 duplicated-expensive-expression
      // failure mode). Behind the barrier it is evaluated exactly once.
      .select(col("vec_id"),
        explode(array(gridIslands(col("kept")))).as("isl"))
      .where(col("isl.n_kept") > 0)
      .select(col("vec_id"),
        col("isl.n_islands").as("n_islands"),
        col("isl.n_kept").as("n_kept"),
        col("isl.largest_size").as("largest_size"),
        col("isl.largest_px").as("largest_px"))
      .orderBy(col("vec_id"))
  }

  /** The 9 guarded 3×3 stencil terms for pixel p over the quantized
    * array column `qs`, as (value-term, count-term) expression-string
    * pairs — shared with the oracle generator so the stencil geometry
    * can never silently diverge (the langIdSql pattern: one Scala list,
    * two SQL dialects). `ifFn` abstracts IF vs CASE; `at` produces the
    * whole element access from a 1-BASED index expression (Spark's
    * bracket indexing is 0-based and DuckDB's 1-based, so the accessor
    * itself is dialect-owned: element_at vs brackets).
    */
  private[graft] def stencilTerms(ifFn: (String, String, String) => String,
      at: String => String): (String, String) = {
    def rowGuard(dr: Int) = dr match {
      case -1 => Some(s"p >= $Side")
      case 1  => Some(s"p < ${Cells - Side}")
      case _  => None
    }
    def colGuard(dc: Int) = dc match {
      case -1 => Some(s"p % $Side >= 1")
      case 1  => Some(s"p % $Side <= ${Side - 2}")
      case _  => None
    }
    val terms = for (dr <- -1 to 1; dc <- -1 to 1) yield {
      val guards = rowGuard(dr).toSeq ++ colGuard(dc).toSeq
      val acc = at(s"p + (${dr * Side + dc}) + 1")
      if (guards.isEmpty) (acc, "1")
      else {
        val g = guards.mkString(" AND ")
        (ifFn(g, acc, "0"), ifFn(g, "1", "0"))
      }
    }
    (terms.map(_._1).mkString(" + "), terms.map(_._2).mkString(" + "))
  }

  /** P3 grid_stencil_smooth — the plain fixed-grid stencil primitive
    * (3×3 box mean with edge-clipped windows), integer-exact: pixel
    * intensities are SHIFTED (+1) before the ×1000 quantization so every
    * value, window sum, and mean is a nonnegative integer (Spark `div` ≡
    * DuckDB `//` there; unshifted intensities go negative). Per image:
    * the smoothed maximum, its first (lowest-index) pixel, how many
    * pixels the smoothing raised, and the smoothed mean — the
    * peak-finding readout a cleaned camera image feeds.
    *
    * Scale: per-row HOFs only, like P1 — the stencil never leaves the
    * row, so the operator is a map over the corpus scan.
    */
  def gridStencilSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    val (sumT, cntT) = stencilTerms(
      (g, t, e) => s"IF($g, $t, $e)",
      i => s"element_at(qs, CAST($i AS INT))")
    cleaned(spark, sfDir)
      .withColumn("qs", expr(
        "transform(embedding, v -> CAST(round((CAST(v AS DOUBLE) + 1.0D) * 1000) AS BIGINT))"))
      .withColumn("sm", expr(
        s"transform(sequence(0, ${Cells - 1}), p -> ($sumT) div ($cntT))"))
      .select(col("vec_id"),
        expr("array_max(sm)").as("sm_max"),
        expr("array_position(sm, array_max(sm)) - 1").as("sm_argmax_px"),
        expr("CAST(size(filter(zip_with(sm, qs, (s, x) -> s > x), b -> b)) AS BIGINT)")
          .as("n_raised"),
        expr(s"aggregate(sm, 0L, (acc, x) -> acc + x) div $Cells").as("sm_mean"))
      .orderBy(col("vec_id"))
  }
}
