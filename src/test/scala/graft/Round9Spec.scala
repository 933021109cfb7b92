package graft

import graft.functions.freqItems
import org.apache.spark.sql.functions._

/** Round-9 specs (VERDICT r8): the fused multi-counter prefix sum (#7),
  * and the reliable-checkpoint durability knob for iterative loops (#4).
  */
class Round9Spec extends SparkSpec {
  private val s = SparkSpec.spark

  test("withGlobalRunningSums: two fused counters equal two independent single-counter runs") {
    val df = spark.range(500).select(
      (col("id") * 7919 % 1000).as("k"),
      (col("id") % 13).as("x"),
      (col("id") % 7).as("y"))
      .groupBy("k").agg(sum("x").as("x"), sum("y").as("y"))
    val fused = ops.GlobalRank.withGlobalRunningSums(df, 8,
        Seq(col("x") -> "cum_x", col("y") -> "cum_y"), col("k"))
      .select("k", "cum_x", "cum_y")
    val singleX = ops.GlobalRank.withGlobalRunningSum(df, 8, col("x"), col("k"))
      .select(col("k"), col("cum_before").as("cum_x"))
    val singleY = ops.GlobalRank.withGlobalRunningSum(df, 8, col("y"), col("k"))
      .select(col("k").as("k2"), col("cum_before").as("cum_y"))
    val joined = singleX.join(singleY, col("k") === col("k2"))
      .select("k", "cum_x", "cum_y")
    assert(fused.orderBy("k").collect().toSeq ===
      joined.orderBy("k").collect().toSeq)
    // and against the ground truth window (small data, single partition OK)
    val w = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val truth = df.select(col("k"),
        coalesce(sum("x").over(w), lit(0L)).as("cum_x"),
        coalesce(sum("y").over(w), lit(0L)).as("cum_y"))
    assert(fused.orderBy("k").collect().toSeq ===
      truth.orderBy("k").collect().toSeq)
  }

  test("dq_ks_test: fused-prefix-sum rewrite keeps the exact KS statistic shape") {
    val r = run("dq_ks_test").collect()
    assert(r.length === 1)
    val row = r.head
    val (nA, nB, dNum) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nA > 0 && nB > 0)
    assert(dNum >= 0 && dNum <= nA * nB)
    assert(math.abs(row.getDouble(3) - dNum.toDouble / (nA.toDouble * nB.toDouble)) < 1e-6)
  }

  /** VERDICT r8 #4: with spark.graft.checkpointDir set, every loop cut
    * becomes a reliable checkpoint() — results must be bit-identical and
    * the directory must actually receive checkpoint data (proof the knob
    * engaged, not a silently-ignored conf).
    */
  private def withReliableCheckpoints[A](f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try f(dir)
    finally {
      spark.conf.unset("spark.graft.checkpointDir")
      // best-effort cleanup of the rdd checkpoint files
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rm)); p.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  private def checkpointFiles(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
  }

  test("checkpoint knob: star components are hash-identical through reliable checkpoint(), and files land in the dir") {
    val local = run("dedup_connected_components_v2").collect().toSeq
    val (reliable, nFiles) = withReliableCheckpoints { dir =>
      (run("dedup_connected_components_v2").collect().toSeq, checkpointFiles(dir))
    }
    assert(reliable === local)
    assert(nFiles > 0, "reliable checkpoint dir stayed empty — knob did not engage")
  }

  test("checkpoint knob: full-corpus components are identical through reliable checkpoint(), and files land in the dir") {
    val local = run("graph_cc_full").collect().toSeq
    val (reliable, nFiles) = withReliableCheckpoints { dir =>
      (run("graph_cc_full").collect().toSeq, checkpointFiles(dir))
    }
    assert(reliable === local)
    assert(nFiles > 0, "reliable checkpoint dir stayed empty — knob did not engage")
  }

  // PageRank runs as one query with no lineage cut, so this no longer
  // reaches checkpoint(); the components test above covers the knob
  test("checkpoint knob: PageRank over the kNN graph is identical through reliable checkpoint()") {
    val local = run("graph_pagerank_knn").collect().toSeq
    val reliable = withReliableCheckpoints { _ =>
      run("graph_pagerank_knn").collect().toSeq
    }
    assert(reliable === local)
  }

  /** VERDICT r8 #1: the standing-index manifest counts must equal what the
    * inline builders produce — the store is a lifecycle change, never a
    * content change.
    */
  test("index store: manifest counts equal the inline builders' counts") {
    val m = run("index_build_vecsearch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet === ops.IndexStore.ArtifactNames.toSet)
    val e = Tables.embeddings(spark, sf)
    val n = e.count()
    assert(m("ivf_assigned") === n)
    assert(m("pq_packed") === n)
    assert(m("pq_codes") === 4 * n)
    assert(m("pq_codebook") === 64L)
    assert(m("ivf_centroids") === e.select("label").distinct().count())
    val eb = e.where(col("vec_id") < 500)
      .select(col("vec_id"), col("embedding"), col("label"))
    assert(m("knn_candidates") === ops.Similarity.knnCandidates(eb, 2).count())
  }

  test("index store: stored kNN edges are row-identical to the inline builder (store = build, serve = read)") {
    val e = Tables.embeddings(spark, sf).where(col("vec_id") < 500)
      .select(col("vec_id"), col("embedding"), col("label"))
    val inline = KnnReference.knnBucketed(e, 5)
      .orderBy("a_id", "b_id").collect().toSeq
    val stored = ops.Similarity.knnEdgesStored(spark, sf, 5)
      .orderBy("a_id", "b_id").collect().toSeq
    assert(stored === inline)
  }

  /** A store's key: the leaf of its directory, after the store's prefix. */
  private def storeKey(dir: String): String = {
    val leaf = java.nio.file.Paths.get(dir).getFileName.toString
    leaf.substring(leaf.lastIndexOf('_') + 1)
  }
  private def corpusKey(sfDir: String) = storeKey(ops.IndexStore.indexDir(sfDir))
  private def mediaKey(sfDir: String) = storeKey(ops.IndexStore.mediaDir(sfDir))

  test("index store: corpus fingerprint is call-stable and fixture-distinct") {
    assert(corpusKey(sf) === corpusKey(sf))
    assert(corpusKey(sf) !== corpusKey(SparkSpec.SF01))
  }

  test("media index store: stored pair relation is row-identical to the inline signature+band build") {
    val docs = Tables.documents(spark, sf)
    val inline = ops.Multimodal.phashPairs(ops.Multimodal.phashSignatures(docs))
      .orderBy("a_id", "b_id").collect().toSeq
    val stored = ops.IndexStore.readMedia(spark, sf, "media_pairs")
      .orderBy("a_id", "b_id").collect().toSeq
    assert(stored === inline)
    assert(stored.nonEmpty) // the fixture has true near-dups at ≤10 bits
    // and the signature artifact matches the inline signature pass
    val sigInline = ops.Multimodal.phashSignatures(docs)
      .orderBy("doc_id").collect().toSeq
    val sigStored = ops.IndexStore.readMedia(spark, sf, "media_sigs")
      .orderBy("doc_id").collect().toSeq
    assert(sigStored === sigInline)
  }

  test("media index store: fingerprint is documents-keyed and family-distinct from vecsearch") {
    assert(mediaKey(sf) === mediaKey(sf))
    assert(mediaKey(sf) !== mediaKey(SparkSpec.SF01))
    // same fixture, different family → different key (a vecsearch build
    // can never be misread as a media build)
    assert(mediaKey(sf) !== corpusKey(sf))
  }

  test("pipeline_eval_holdout: exactly 100 held out, counts reconcile, bottom-k plans as TakeOrdered") {
    val df = run("pipeline_eval_holdout")
    val rows = df.collect()
    assert(rows.map(_.getLong(2)).sum === 100L) // Σ n_eval over sources
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2) + r.getLong(3)) // n_docs = n_eval + n_train
    }
    // the fixed-size carve must be a partial per-mapper bottom-k, never a
    // global sort: TakeOrderedAndProject in the plan
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("pipeline_eval_holdout: held-out CONTENT is invariant under document renumbering") {
    // same corpus with every doc_id shifted — the content-hash carve must
    // select the same text multiset (the re-crawl stability the md5(text)
    // key exists for; doc_id only tie-breaks duplicate texts)
    def holdoutTexts(docs: org.apache.spark.sql.DataFrame): Seq[String] = {
      docs.select(col("doc_id"), md5(col("text").cast("binary")).as("hv"))
        .orderBy(col("hv"), col("doc_id")).limit(100)
        .select(col("hv")).collect().map(_.getString(0)).toSeq.sorted
    }
    val docs = Tables.documents(spark, sf)
    val shifted = docs.withColumn("doc_id", col("doc_id") + 1000000L)
    assert(holdoutTexts(docs) === holdoutTexts(shifted))
  }

  test("graph_kcore_peel: 3-row trace, monotone attrition, round-1 matches an inline recomputation") {
    val rows = run("graph_kcore_peel").collect()
    assert(rows.length === 3)
    val alive = rows.map(_.getLong(1))
    val edges = rows.map(_.getLong(2))
    assert(alive.sliding(2).forall(p => p(0) >= p(1)), "n_alive must be non-increasing")
    assert(edges.sliding(2).forall(p => p(0) >= p(1)), "n_edges must be non-increasing")
    assert(edges.forall(_ > 0)) // k=6 peels the periphery, not the whole fixture graph
    // round 1 recomputed inline from the same stored edge relation
    val e0 = ops.Similarity.knnEdgesStored(spark, sf, 5)
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .distinct()
    val adj = e0.select(col("u").as("x")).unionAll(e0.select(col("v").as("x")))
    val a1 = adj.groupBy("x").agg(count(lit(1)).as("deg")).where(col("deg") >= 6)
    assert(a1.count() === alive(0))
    val nVertices = adj.select("x").distinct().count()
    assert(alive(0) < nVertices, "round 1 must actually peel something")
  }

  test("ann_graph_expand_topk: full top-5 per query, every hit inside the 2-hop frontier") {
    val rows = run("ann_graph_expand_topk").collect()
    assert(rows.length === 50) // 10 queries × top-5 (h1 alone guarantees ≥5 candidates)
    assert(rows.map(_.getLong(0)).distinct.length === 10)
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.toSeq === (1 to 5))
      val sims = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.sliding(2).forall(p => p(0) >= p(1)), "sim must be non-increasing in rank")
    }
    // membership: recompute the 2-hop frontier from the same stored graph
    val edges = ops.Similarity.knnEdgesStored(spark, sf, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    rows.foreach { r =>
      val (q, b) = (r.getLong(0), r.getLong(1))
      val h1 = adj.getOrElse(q, Set.empty)
      val frontier = h1 ++ h1.flatMap(c => adj.getOrElse(c, Set.empty))
      assert(frontier.contains(b), s"query $q returned $b outside its 2-hop frontier")
    }
  }

  // ---- E27/E28: two-pass Misra–Gries heavy hitters ----

  test("agg_heavy_hitters: recounted MG output equals the exact groupBy answer") {
    val items = Tables.events(spark, sf)
      .where(col("value").isNotNull)
      .select(floor(col("value")).cast("string").as("item"))
    val n = items.count()
    val truth = items.groupBy("item").agg(count(lit(1)).as("n"))
      .where(col("n") * 64 > n)
      .select("item", "n")
      .orderBy(desc("n"), asc("item")).collect().toSeq
    val got = run("agg_heavy_hitters").select("item", "n").collect().toSeq
    assert(got === truth)
    assert(got.nonEmpty) // the fixture's floor(value) stream has real heavy hitters
  }

  test("agg_heavy_hitters: output is partition-order-invariant (candidate set may move, recount may not)") {
    // same two-pass protocol over three hostile physical layouts of the
    // identical stream: few fat partitions, many thin ones, and the
    // MG worst case — sorted so the tail floods the sketch after the
    // heavy head has been seen
    val base = Tables.events(spark, sf)
      .where(col("value").isNotNull)
      .select(floor(col("value")).cast("string").as("item"))
    def answer(items: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
      val cand = items.agg(freqItems(col("item")).as("cands"))
        .select(explode(col("cands")).as("item"))
      val tot = items.agg(count(lit(1)).as("total"))
      items.join(broadcast(cand), Seq("item"), "left_semi")
        .groupBy(col("item")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .where(col("n") * lit(64) > col("total"))
        .select(col("item"), col("n"))
        .orderBy(desc("n"), asc("item")).collect().toSeq
    }
    val a = answer(base.repartition(2))
    val b = answer(base.repartition(17, col("item")))
    val c = answer(base.sort(col("item").desc))
    assert(a === b)
    assert(a === c)
  }

  test("graft_freq_items: candidate superset certificate on an adversarial sorted stream") {
    // 3 heavy items (2000 each) drowned by 6000 distinct singletons, and
    // the stream SORTED so every singleton arrives after the heavy head —
    // maximal decrement pressure on the sketch. n = 12000, threshold
    // n/64 = 187.5; MG with k=256 certifies anything above n/257 ≈ 46.7.
    val stream = spark.range(12000).select(
      when(col("id") < 6000, concat(lit("hot"), (col("id") % 3).cast("string")))
        .otherwise(concat(lit("cold"), col("id").cast("string"))).as("item"))
      .sort(col("id")) // heavies first, then the cold flood
    val cands = stream.agg(freqItems(col("item")).as("c"))
      .select(explode(col("c")).as("item"))
      .collect().map(_.getString(0)).toSet
    assert(Set("hot0", "hot1", "hot2").subsetOf(cands))
    assert(cands.size <= 256)
  }

  test("agg_heavy_hitters_grouped: per-group recount equals per-group exact answer") {
    val items = Tables.events(spark, sf)
      .where(col("value").isNotNull)
      .select(col("event_type"), floor(col("value")).cast("string").as("item"))
    val tot = items.groupBy("event_type").agg(count(lit(1)).as("total"))
    val truth = items.groupBy("event_type", "item").agg(count(lit(1)).as("n"))
      .join(tot, "event_type")
      .where(col("n") * 64 > col("total"))
      .select("event_type", "item", "n")
      .orderBy(col("event_type"), desc("n"), asc("item")).collect().toSeq
    val got = run("agg_heavy_hitters_grouped")
      .select("event_type", "item", "n").collect().toSeq
    assert(got === truth)
    assert(got.nonEmpty)
  }
}
