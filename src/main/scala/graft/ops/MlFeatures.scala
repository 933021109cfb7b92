package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature-engineering operators for training-data pipelines: the
  * deterministic, engine-reproducible transforms that turn curated rows
  * into model inputs. Everything here follows the house protocol — exact
  * integer cores, one final division, identical expression trees on both
  * engines.
  */
object MlFeatures {

  /** M89 ml_target_encode_loo — leave-one-out target encoding of a
    * categorical column (event_type) against a numeric target (value):
    * each row's feature is the mean target of its category EXCLUDING the
    * row itself — the standard high-cardinality-categorical encoding, and
    * leave-one-out is exactly what prevents the feature from leaking the
    * row's own label. Target values integerize to cents, so the category
    * (sum, count) pair is exact and every row's encoding is
    * (S − v)/(n − 1): one LONG subtraction, ONE division, 6-dp rounded.
    *
    * 100 TB: the category statistics are one tiny keyed aggregate
    * broadcast back over the fact scan — a map-only encode pass, the same
    * shape a feature store materializes. Output bounded to event_id < 500
    * (the encode is per-row; the contract slice keeps the oracle diff
    * readable).
    */
  def targetEncodeLoo(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("s"))
    ev.where(col("event_id") < 500)
      .join(broadcast(stats), Seq("event_type"))
      .select(col("event_id"), col("event_type"),
        (round((col("s") - col("v_cents")).cast("double") /
          ((col("n") - 1) * lit(100.0)), 6) + lit(0.0)).as("loo_enc"))
      .orderBy(col("event_id"))
  }

  /** J26 ml_feature_scaler_fit — the "fit" half of a standard feature
    * scaler over the embedding matrix (leading 8 dimensions): per
    * dimension min/max (raw values, no arithmetic) and mean/std through
    * the 2^20 fixed-point protocol — component sums and sum-of-squares
    * are exact LONG math, so the moments are order-independent by
    * construction and the only floats are the final divisions (6 dp).
    * This is the artifact a training pipeline persists so that
    * normalization is identical at train and serve time.
    *
    * 100 TB: one posexplode scan + one dim-keyed aggregate — 8 output
    * rows regardless of corpus size; mergeable, so incremental refit
    * composes (the E19 pattern).
    */
  def featureScalerFit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .where(col("dim") < 8)
      // decimal(38,0) moments (the E25 idiom): n·Q − S² with 2^20-scaled
      // squares exceeds LONG range, so the algebra stays in wide decimal
      .withColumn("xi", expr(
        "CAST(CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT) AS DECIMAL(38,0))"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        (round(min(col("x")).cast("double"), 6) + lit(0.0)).as("min_x"),
        (round(max(col("x")).cast("double"), 6) + lit(0.0)).as("max_x"),
        sum(col("xi")).as("s"), sum(col("xi") * col("xi")).as("q"))
      .select(col("dim"), col("n").cast("bigint").as("n"), col("min_x"), col("max_x"),
        (round(col("s").cast("double") / (col("n").cast("double") * lit(1048576.0)), 6)
          + lit(0.0)).as("mean_x"),
        (round(sqrt((col("n") * col("q") - col("s") * col("s")).cast("double") /
          ((col("n") * (col("n") - lit(1))).cast("double") * lit(1048576.0) * lit(1048576.0))), 6)
          + lit(0.0)).as("std_x"))
      .orderBy(col("dim"))

  /** M90 ml_feature_hash — the hashing trick: words map to a fixed 64-slot
    * feature space from the first hex nibble and the LOW two bits of the
    * second nibble of md5 (`nib1 * 4 + nib2 % 4` — 6 uniform md5 bits,
    * though not the leading six; nibbles decoded with plain ASCII
    * arithmetic — `ascii(c) − (c ≥ 'a' ? 87 : 48)` — identical on any
    * engine), giving
    * every document a sparse bag-of-words vector with NO vocabulary
    * build — the constant-memory featurizer for streaming/incremental
    * training where a fitted vocabulary would go stale. Output: the
    * nonzero (doc, slot, count) triples for the doc_id < 100 contract
    * slice.
    *
    * 100 TB: one explode + one (doc, slot) keyed aggregate — linear in
    * tokens; the feature space never materializes a dictionary.
    */
  def featureHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .where(col("doc_id") < 100)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0)
      .withColumn("slot", expr(
        """CAST((ascii(substring(md5(w), 1, 1)) -
          |  IF(ascii(substring(md5(w), 1, 1)) >= 97, 87, 48)) * 4 +
          |  (ascii(substring(md5(w), 2, 1)) -
          |  IF(ascii(substring(md5(w), 2, 1)) >= 97, 87, 48)) % 4 AS INT)""".stripMargin))
      .groupBy(col("doc_id"), col("slot"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("doc_id"), col("slot"))

  /** N17 ml_auc_score (round 14) — exact ROC-AUC of a score column
    * against a binary label via the Mann–Whitney rank identity, the
    * classifier-eval primitive every model-quality pipeline needs. Here:
    * does document LENGTH (n_chars) separate English from non-English
    * docs — the harness shape; any (score, label) pair slots in. Ties get
    * the average rank, computed EXACTLY in doubled-integer space: group
    * by score value, 2·avg_rank = 2·(rows before) + (group size) + 1, so
    * the positive rank sum is one integer aggregate and AUC is a single
    * final division (6 dp) — no per-row floating ranks, no order
    * sensitivity.
    *
    * 100 TB: one groupBy(score) aggregate (distinct scores ≪ rows), a
    * window over the distinct-score relation, one scalar aggregate. The
    * distinct-score window is global but score-count-sized — the
    * documented global-window exception; a truly high-cardinality score
    * would use the two-pass range-partitioned rank (win_ntile_scalable).
    */
  def mlAucScore(spark: SparkSession, sfDir: String): DataFrame = {
    val byScore = Tables.documents(spark, sfDir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    byScore
      .withColumn("before", coalesce(sum(col("n")).over(w), lit(0L)))
      // Σ over positives of (2 · average tied rank) — exact integers
      .agg(sum(col("n_pos") * (lit(2L) * col("before") + col("n") + lit(1L)))
          .as("s2"),
        sum(col("n_pos")).as("np"), sum(col("n") - col("n_pos")).as("nn"))
      .select(col("np").as("n_pos"), col("nn").as("n_neg"),
        (round((col("s2") - col("np") * (col("np") + 1L)).cast("double")
          / (lit(2.0) * col("np") * col("nn")), 6) + lit(0.0)).as("auc"))
  }

  /** N18 ml_pr_curve (round 14) — the operating-point companion to
    * [[mlAucScore]]: AUC summarizes ranking quality in one number; a
    * deployed filter runs at a THRESHOLD, and this reports the full
    * confusion matrix plus precision / recall / F1 at five integer
    * thresholds spread evenly across the score range (min + k·(max−min)
    * div 6, k = 1..5 — data-derived but exact-integer, so both engines
    * agree by construction). F1 uses the single-fraction identity
    * 2tp/(2tp+fp+fn); every ratio is ppm-integer-divided before the
    * final 6-dp round (the round-14 boundary rule).
    *
    * 100 TB: counts per (distinct score) once, then a 5-row broadcast
    * threshold grid × the distinct-score relation — no second corpus
    * pass per threshold.
    */
  def mlPrCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val byScore = Tables.documents(spark, sfDir)
      .select(col("n_chars").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    val bounds = byScore.agg(min(col("score")).as("lo"), max(col("score")).as("hi"))
    // dropDuplicates matches the oracle's SELECT DISTINCT: on a narrow
    // score range (hi - lo <= 4) the integer grid collides (e.g. k=3 and
    // k=4 at hi-lo=4), and a duplicate threshold row would double every
    // count on the engine side only (ADVICE r14)
    val thresholds = bounds
      .select(explode(expr("sequence(1, 5)")).as("k"), col("lo"), col("hi"))
      .select(expr("CAST(lo + (k * (hi - lo)) div 6 AS BIGINT)").as("thr"))
      .dropDuplicates("thr")
    byScore.crossJoin(broadcast(thresholds))
      .groupBy(col("thr"))
      .agg(
        sum(when(col("score") >= col("thr"), col("n_pos")).otherwise(0L)).as("tp"),
        sum(when(col("score") >= col("thr"), col("n") - col("n_pos")).otherwise(0L)).as("fp"),
        sum(when(col("score") < col("thr"), col("n_pos")).otherwise(0L)).as("fn"),
        sum(when(col("score") < col("thr"), col("n") - col("n_pos")).otherwise(0L)).as("tn"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        (round(expr("(tp * 1000000L) div (tp + fp)").cast("double") / 1e6, 6)
          + lit(0.0)).as("precision"),
        (round(expr("(tp * 1000000L) div (tp + fn)").cast("double") / 1e6, 6)
          + lit(0.0)).as("recall"),
        (round(expr("(2L * tp * 1000000L) div (2L * tp + fp + fn)").cast("double") / 1e6, 6)
          + lit(0.0)).as("f1"))
      .orderBy(col("thr"))
  }

  /** N19 ml_calibration_bins (round 15) — the reliability table behind a
    * calibration curve: documents decile-binned by score (the N17/N18
    * fixture: score = n_chars, label = lang == 'en'), each bin reporting
    * size, positives, the score range it covers, the observed positive
    * rate, and the bin's mean score — the table a "is this model's
    * confidence honest" review plots. AUC (N17) says the RANKING is good;
    * calibration says the VALUES mean what they claim.
    *
    * Deciles ride [[graft.ops.GlobalRank.withGlobalRowNumber]] + the
    * closed-form ntile — the F5v2 two-pass range-partitioned rank, never
    * a single-partition global window. Every cell is an exact integer;
    * the two ratios integer-divide to ppm before the 6-dp round (the
    * round-14 boundary rule).
    *
    * 100 TB: one keyed doc scan, one range exchange + P-row offsets
    * broadcast, one ≤10-row aggregate.
    */
  def mlCalibrationBins(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    GlobalRank.withGlobalRowNumber(scored, 8, col("score"), col("doc_id"))
      .withColumn("decile", GlobalRank.ntileExpr(10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
        min(col("score")).as("lo_score"), max(col("score")).as("hi_score"),
        sum(col("score")).as("s_score"))
      .select(col("decile"), col("n"), col("n_pos"), col("lo_score"),
        col("hi_score"),
        // ADVICE r15: ppm products in DECIMAL(38,0) — BIGINT wraps
        // silently past ~9.2e18 while the DuckDB oracle's SUM() promotes
        // to HUGEINT, so the exact-integer contract must not depend on
        // corpus size ('div' on decimals still returns BIGINT)
        (round(expr("(CAST(n_pos AS DECIMAL(38,0)) * 1000000) div n")
          .cast("double") / 1e6, 6) + lit(0.0)).as("pos_rate"),
        (round(expr("(CAST(s_score AS DECIMAL(38,0)) * 1000000) div n")
          .cast("double") / 1e6, 6) + lit(0.0)).as("avg_score"))
      .orderBy(col("decile"))
  }

  /** N20 ml_lift_deciles (round 15) — cumulative-gains / lift table: rank
    * documents by score DESCENDING (the "contact the best decile first"
    * order), and per decile report positives captured, the running
    * capture rate against all positives, and the decile's lift over the
    * base rate — the campaign-targeting companion to [[mlAucScore]]
    * (same fixture). Lift_d = (n_pos_d / n_d) / (P / N) as one exact
    * integer fraction n_pos_d·N·10⁶ div (n_d·P) before the 6-dp round;
    * the cumulative capture runs over the ≤10-row decile relation.
    *
    * 100 TB: same shape as [[mlCalibrationBins]] — the only window is
    * over 10 rows.
    */
  def mlLiftDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
    val byDecile = GlobalRank.withGlobalRowNumber(
        scored, 8, col("score").desc, col("doc_id"))
      .withColumn("decile", GlobalRank.ntileExpr(10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    val tot = byDecile.agg(sum(col("n")).as("nn"), sum(col("n_pos")).as("pp"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    byDecile.crossJoin(broadcast(tot))
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_pos"),
        // ADVICE r15: the lift numerator n_pos·nn·10⁶ wraps a BIGINT once
        // n_pos·nn exceeds ~9.2e12 (≈3M docs) while the oracle's HUGEINT
        // does not — compute both ppm fractions in DECIMAL(38,0)
        (round(expr("(CAST(cum_pos AS DECIMAL(38,0)) * 1000000) div pp")
          .cast("double") / 1e6, 6) + lit(0.0)).as("capture_rate"),
        (round(expr(
          "(CAST(n_pos AS DECIMAL(38,0)) * nn * 1000000) div (CAST(n AS DECIMAL(38,0)) * pp)")
          .cast("double") / 1e6, 6) + lit(0.0)).as("lift"))
      .orderBy(col("decile"))
  }
}
