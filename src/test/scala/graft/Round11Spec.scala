package graft

import org.apache.spark.sql.functions._

/** Round-11 specs (VERDICT r10): the full-corpus kNN candidate artifact
  * (#1), its fixpoint k-core consumer, the engine/oracle constant sync the
  * generated unrolled oracle depends on, and the Checkpoints lazy-cut
  * release seam (ADVICE r10 #5) and eagerness under AQE.
  */
class Round11Spec extends SparkSpec {

  private def store(name: String) =
    ops.IndexStore.read(spark, sf, name)

  test("knnCandidatesFull: non-empty, self-pair-free, no duplicate directed pairs, and second-cell probing reaches across cells") {
    val e = Tables.embeddings(spark, sf)
    val c = KnnReference.knnCandidatesFull(
        e, store("ivf_assigned"), store("ivf_centroids"))
      .select("a_id", "b_id").cache()
    try {
      assert(c.count() > 0)
      assert(c.where(col("a_id") === col("b_id")).count() === 0)
      // each directed pair at most once (the two probed cells are distinct
      // and membership is a single (cell, bucket))
      assert(c.groupBy("a_id", "b_id").count().where(col("count") > 1).count() === 0)
      // round 12: cross-cell candidates must exist — the whole point of
      // the second probe (own-cell-only measured recall@8 ≈ 0.14)
      val asg = store("ivf_assigned").select(col("vec_id"), col("cell"))
      val cross = c
        .join(asg.select(col("vec_id").as("a_id"), col("cell").as("a_cell")), Seq("a_id"))
        .join(asg.select(col("vec_id").as("b_id"), col("cell").as("b_cell")), Seq("b_id"))
        .where(col("a_cell") =!= col("b_cell")).count()
      assert(cross > 0, "second-cell probing must produce cross-cell candidates")
    } finally c.unpersist()
  }

  test("knn_candidates_full: the stored shortlist is exactly the top-8 cut of the recomputed candidates") {
    val e = Tables.embeddings(spark, sf)
    val assigned = store("ivf_assigned")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("dot").desc, col("b_id").asc)
    val recomputed = KnnReference.knnCandidatesFull(
        e, assigned, store("ivf_centroids"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("rn") <= ops.IndexStore.KnnFullTopK)
      .drop("rn")
    val stored = store("knn_candidates_full").cache()
    try {
      assert(stored.count() === recomputed.count())
      // exact set equality, dots included (bit-exact double round-trip)
      assert(stored.except(recomputed).count() === 0L)
      assert(recomputed.except(stored).count() === 0L)
      // and the shortlist contract: at most K rows per vector
      assert(stored.groupBy("a_id").count()
        .where(col("count") > ops.IndexStore.KnnFullTopK).count() === 0L)
    } finally stored.unpersist()
  }

  test("graph_kcore_full: converges to a non-empty core with every survivor at mutual degree >= k") {
    val r = run("graph_kcore_full").collect()
    assert(r.length === 1)
    val row = r.head
    val (k, rounds, conv, nAlive, nEdges) =
      (row.getInt(0), row.getInt(1), row.getInt(2), row.getLong(3), row.getLong(4))
    assert(k === ops.Similarity.KcoreFullK)
    assert(conv === 1, "fixpoint must be reached inside the round budget at sf0.001")
    assert(rounds >= 1 && rounds <= ops.Similarity.KcoreFullMaxRounds)
    assert(nAlive > 0 && nEdges > 0, "the mutual-8NN graph must have a non-trivial k-core")
    // a k-core certificate: every surviving vertex has degree >= k, so
    // 2·|E| >= k·|V| must hold on the fixpoint subgraph
    assert(2 * nEdges >= k.toLong * nAlive)
  }

  test("oracle constant sync: the generated unrolled k-core SQL uses the engine's K and round budget") {
    val sql = SparkEntry.oracleSql("graph_kcore_full")
    val k = ops.Similarity.KcoreFullK
    val r = ops.Similarity.KcoreFullMaxRounds
    assert(sql.contains(s"deg >= $k"))
    assert(sql.contains(s"FROM e$r")) // the last unrolled stage exists
    assert(!sql.contains(s"FROM e${r + 1}"))
  }

  test("index manifest: the build emits every declared artifact (no name without a builder — the r10 lesson)") {
    val m = run("index_build_vecsearch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet === ops.IndexStore.ArtifactNames.toSet)
    assert(m.values.forall(_ > 0))
  }

  test("graph_cc_full: star components carry the min-label invariant and partition the mutual-graph vertex set") {
    val edges = ops.Similarity.mutualKnnFullEdges(spark, sf)
      .select(col("u").as("a_id"), col("v").as("b_id")).cache()
    try {
      val (labels, _) = ops.Dedup.starComponents(edges)
      val nVerts = edges.select(col("a_id").as("x"))
        .unionAll(edges.select(col("b_id").as("x"))).distinct().count()
      assert(labels.count() === nVerts, "every edged vertex gets exactly one label")
      assert(labels.where(col("component") > col("doc_id")).count() === 0,
        "component root is the minimum member id")
      // the query's top-20 report must agree with the full label relation
      val top = run("graph_cc_full").collect().map(r => (r.getLong(0), r.getLong(1)))
      val full = labels.groupBy("component").count()
        .orderBy(desc("count"), asc("component")).limit(20)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(top.toSeq === full.toSeq)
    } finally edges.unpersist()
  }

  test("graph_pagerank_full: 20 hubs, rank-descending, every hub above the teleport floor") {
    val rows = run("graph_pagerank_full").collect()
    assert(rows.length === 20)
    val ranks = rows.map(_.getDouble(1))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
    val n = Tables.embeddings(spark, sf).count()
    assert(ranks.forall(_ > 0.15 / n), "a top-20 hub must exceed the no-in-edge floor")
  }

  test("vec_knn_join_full: every corpus vector appears with rn 1..k and non-increasing sims") {
    val df = run("vec_knn_join_full").cache()
    try {
      assert(df.where(col("rn") < 1 || col("rn") > 3).count() === 0)
      assert(df.groupBy("a_id").count().where(col("count") > 3).count() === 0)
      val bad = df.alias("x").join(df.alias("y"),
        col("x.a_id") === col("y.a_id") && col("x.rn") + 1 === col("y.rn"))
        .where(col("x.sim") < col("y.sim")).count()
      assert(bad === 0L, "sims must be non-increasing in rn")
    } finally df.unpersist()
  }

  test("ann_recall_full: the eval harness reports per-query recall in [0,1] over full exact ground truth") {
    val rows = run("ann_recall_full").collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      assert(r.getLong(1) === 8L, "ground truth is exactly top-8")
      val recall = r.getDouble(3)
      assert(recall >= 0.0 && recall <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))
    }
    // round 13 (VERDICT r12 #1): third-cell probing + the ±2 window must
    // hold the >=0.50 bar at sf0.001 (measured 0.55; round 12's two-cell
    // ±1 scheme was 0.35, round 11's own-cell-only 0.14) — a regression
    // gate, not an aspiration
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    assert(mean >= 0.50, f"mean recall@8 $mean%.3f fell below the 0.50 gate")
  }

  test("index_update_mediasig: the incrementally-updated store is row-identical to a full rebuild") {
    run("index_update_mediasig").collect() // force the delta build
    val updDir = ops.IndexStore.mediaUpdDir(sf)
    val fullDir = ops.IndexStore.ensureMedia(spark, sf)
    for (a <- Seq("media_sigs", "media_pairs")) {
      val upd = spark.read.parquet(s"$updDir/$a")
      val full = spark.read.parquet(s"$fullDir/$a")
      assert(upd.count() === full.count(), s"$a count")
      assert(upd.except(full).count() === 0L, s"$a: incremental rows not in full rebuild")
      assert(full.except(upd).count() === 0L, s"$a: full-rebuild rows missing from incremental")
    }
  }

  test("Checkpoints.release: drops the tracked lazy cut for a context (ADVICE r10 #5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_rel").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      import ops.Checkpoints.CutOps
      val sc = spark.sparkContext
      val df = spark.range(100).toDF("id").lineageCut(false)
      assert(ops.Checkpoints.isTracked(sc), "a lazy reliable cut must be enrolled")
      assert(df.count() === 100L) // materialize through the cut
      ops.Checkpoints.release(sc)
      assert(!ops.Checkpoints.isTracked(sc))
      // and an eager cut leaves nothing tracked either
      spark.range(10).toDF("id").lineageCut(true)
      assert(!ops.Checkpoints.isTracked(sc))
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rm)); p.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("Checkpoints: a lazy cut runs its input's query stages when the cut is taken") {
    // Under AQE a lazy localCheckpoint still executes the adaptive plan to
    // get its RDD, which materializes every shuffle and broadcast stage
    // below the cut; only the final stage waits for the first consumer.
    // So a loop of lazy cuts pays its jobs round by round, not in one job.
    import ops.Checkpoints.CutOps
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-lazy-cut-${System.nanoTime()}"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "lazy cut probe")
    try {
      spark.range(1000).toDF("id")
        .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))
        .lineageCut(false)
      val deadline = System.nanoTime() + 10000000000L
      while (started.get() == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(started.get() > 0, "taking the lazy cut ran no job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
