package graft

import org.apache.spark.sql.functions._

/** Round-12 specs (VERDICT r11): incremental maintenance for the vector
  * store (#2) — the `index_update_mediasig` lifecycle applied to the
  * trained-quantizer family. The core claim under test: the delta update
  * (re-assign + re-encode only the delta, compute only the delta band of
  * the kNN shortlist against FROZEN base routing) produces a store
  * row-identical to a from-scratch build under the same frozen routing.
  */
class Round12Spec extends SparkSpec {

  private def forceUpdate(): (String, String) = {
    run("index_update_vecsearch").collect() // force the delta build
    (ops.IndexStore.vecUpdDir(sf), ops.IndexStore.vecBaseDir(sf))
  }

  test("index_update_vecsearch: merged per-vector artifacts are row-identical to a from-scratch pass under the frozen quantizers") {
    val (updDir, baseDir) = forceUpdate()
    val e = Tables.embeddings(spark, sf)
    val cent = spark.read.parquet(s"$baseDir/ivf_centroids")
    val cb = spark.read.parquet(s"$baseDir/pq_codebook")
    // assignment and encoding are per-vector pure functions of the frozen
    // quantizers, so (base ∪ delta) must equal one whole-corpus pass
    val refAsg = ops.Similarity.ivfAssignBuild(e, ops.Similarity.centCollect(cent))
    val updAsg = spark.read.parquet(s"$updDir/ivf_assigned")
    assert(updAsg.count() === refAsg.count())
    assert(updAsg.except(refAsg).count() === 0L, "merged ivf_assigned has extra rows")
    assert(refAsg.except(updAsg).count() === 0L, "merged ivf_assigned is missing rows")
    val refCodes = ops.Similarity.pqEncodeAgainst(e, cb)
    val updCodes = spark.read.parquet(s"$updDir/pq_codes")
    assert(updCodes.count() === refCodes.count())
    assert(updCodes.except(refCodes).count() === 0L, "merged pq_codes has extra rows")
    assert(refCodes.except(updCodes).count() === 0L, "merged pq_codes is missing rows")
    // the packed serving words derive from the merged codes
    val refPacked = updCodes.groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code))), x -> x.code)").as("cds"))
    val updPacked = spark.read.parquet(s"$updDir/pq_packed")
    assert(updPacked.count() === refPacked.count())
    assert(updPacked.except(refPacked).count() === 0L)
    assert(refPacked.except(updPacked).count() === 0L)
  }

  test("index_update_vecsearch: the incrementally-merged shortlist is row-identical to a from-scratch build under the frozen base routing") {
    val (updDir, baseDir) = forceUpdate()
    val e = Tables.embeddings(spark, sf)
    val cents = ops.Similarity.centCollect(spark.read.parquet(s"$baseDir/ivf_centroids"))
    val routing = spark.read.parquet(s"$baseDir/knn_routing")
    val bounds = ops.Similarity.knnBounds(routing)
    // from-scratch: map EVERY vector under the frozen routing (delta own
    // cells by dot range; alt cells for base and delta alike), build
    // the whole candidate relation in one shot, cut top-K — no reuse of
    // the base shortlist or the persisted probe relation
    val delta = e.where(ops.IndexStore.VecDeltaPred)
    val deltaOwn = ops.Similarity.mapByBounds(
      ops.Similarity.ivfAssignBuild(delta, cents), bounds)
    val allSec = ops.Similarity.mapByBounds(
      ops.Similarity.probeCells(e, cents), bounds)
    val mem = routing.select(col("vec_id"), col("cell"), col("bucket"))
      .unionByName(deltaOwn)
    val refShort = ops.Similarity.dotPairs(e,
        ops.Similarity.knnPairIds(mem.unionByName(allSec), mem))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("a_id")).orderBy(col("dot").desc, col("b_id").asc)))
      .where(col("rn") <= ops.IndexStore.KnnFullTopK)
      .drop("rn")
    val updShort = spark.read.parquet(s"$updDir/knn_candidates_full").cache()
    try {
      assert(updShort.count() === refShort.count())
      assert(updShort.except(refShort).count() === 0L,
        "incremental shortlist has rows a from-scratch build would not produce")
      assert(refShort.except(updShort).count() === 0L,
        "incremental shortlist is missing from-scratch rows")
      assert(updShort.groupBy("a_id").count()
        .where(col("count") > ops.IndexStore.KnnFullTopK).count() === 0L)
    } finally updShort.unpersist()
  }

  test("index_update_vecsearch: the delta band touches only delta-adjacent pairs and is strictly smaller than the full candidate work") {
    val (updDir, baseDir) = forceUpdate()
    val deltaPairs = spark.read.parquet(s"$updDir/knn_pairs_delta").cache()
    try {
      val offBand = deltaPairs.where(
        !expr(ops.IndexStore.vecDeltaPredOn("a_id")) &&
          !expr(ops.IndexStore.vecDeltaPredOn("b_id"))).count()
      assert(offBand === 0L, "a delta-band pair must touch the delta slice")
      assert(deltaPairs.groupBy("a_id", "b_id").count()
        .where(col("count") > 1).count() === 0L, "each directed pair at most once")
      // the incremental economics: at a 10% delta the band is ~1-0.9² ≈
      // 19% of the full candidate relation (pairs touching the delta on
      // either side); assert the update recomputed at most half of the
      // from-scratch dot work
      val e = Tables.embeddings(spark, sf)
      val cents = ops.Similarity.centCollect(spark.read.parquet(s"$baseDir/ivf_centroids"))
      val routing = spark.read.parquet(s"$baseDir/knn_routing")
      val bounds = ops.Similarity.knnBounds(routing)
      val deltaOwn = ops.Similarity.mapByBounds(
        ops.Similarity.ivfAssignBuild(e.where(ops.IndexStore.VecDeltaPred), cents), bounds)
      val allSec = ops.Similarity.mapByBounds(
        ops.Similarity.probeCells(e, cents), bounds)
      val mem = routing.select(col("vec_id"), col("cell"), col("bucket"))
        .unionByName(deltaOwn)
      val fullPairs = ops.Similarity.knnPairIds(mem.unionByName(allSec), mem).count()
      assert(deltaPairs.count() * 2 <= fullPairs,
        s"delta band (${deltaPairs.count()}) should be at most half the full candidate relation ($fullPairs)")
      // the B band's scale claim: the base probe pass joins against the
      // SMALL delta membership — AQE must pick a broadcast join at
      // runtime, keeping the base side map-only (read post-execution:
      // the pre-execution adaptive plan can't see the agg's true size)
      val bandB = ops.Similarity.knnPairIds(
        routing.select(col("vec_id"), col("cell"), col("bucket")), deltaOwn)
      bandB.collect()
      assert(bandB.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "delta membership side must broadcast in the base-probe band")
    } finally deltaPairs.unpersist()
  }

  test("full-graph migrations: triangle census internally consistent, modularity and assortativity in range, ADC recall in [0,1]") {
    val tri = run("graph_triangle_full").collect().head
    val (nv, ne, nt) = (tri.getLong(0), tri.getLong(1), tri.getLong(2))
    assert(nv > 0 && ne > 0)
    // an undirected simple graph has at most C(n,3) triangles and each
    // triangle needs 3 edges
    assert(nt >= 0 && 3 * nt <= ne * (ne - 1))
    val mod = run("graph_modularity_full").collect().head.getDouble(3)
    assert(mod >= -1.0 && mod <= 1.0, s"modularity $mod out of range")
    val asr = run("graph_assortativity_full").collect().head.getDouble(1)
    assert(asr >= -1.0 && asr <= 1.0, s"assortativity $asr out of range")
    val pq = run("pq_recall_at_k").collect()
    assert(pq.length === 8)
    pq.foreach { r =>
      assert(r.getLong(1) === 10L)
      val rec = r.getDouble(3)
      assert(rec >= 0.0 && rec <= 1.0)
    }
    // held-out label propagation scores exactly the held-out slice
    val lp = run("graph_labelprop_full").collect()
    val nHeld = Tables.embeddings(spark, sf).where(col("vec_id") % 5 === 0).count()
    assert(lp.length.toLong === nHeld)
    assert(lp.forall(r => r.getInt(3) == 0 || r.getInt(3) == 1))
  }

  test("index_update_vecsearch manifest: every declared artifact emitted with positive rows (no name without a builder)") {
    val m = run("index_update_vecsearch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet === ops.IndexStore.VecUpdateArtifactNames.toSet)
    assert(m.values.forall(_ > 0))
    // and the BASE store carries every declared artifact too (the r10
    // "no name without a builder" lesson applied to the new family)
    val baseDir = ops.IndexStore.vecBaseDir(sf)
    ops.IndexStore.VecBaseArtifactNames.foreach { n =>
      assert(spark.read.parquet(s"$baseDir/$n").count() > 0, s"base artifact $n")
    }
  }
}
