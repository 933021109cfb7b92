package graft

import org.apache.spark.sql.functions.col

/** graft's kernels enter a plan as typed Columns (`graft.functions`), so a
  * session needs no function registration to run them, and running them
  * writes nothing into the caller's function registry.
  */
class SessionHygieneSpec extends SparkSpec {

  /** One registry key per kernel: dot, block SimHash, squared L2 (the PQ
    * encode inside the vecsearch build), char pairs, frequent items, grid
    * islands, logistic, MinHash, Bloom, normalized text, shingles,
    * t-digest, top-k and z-order.
    */
  private val kernelKeys = Seq(
    "ann_lsh_bucket", "index_build_mediasig", "index_build_vecsearch",
    "text_bpe_merge_round", "agg_heavy_hitters", "grid_island_largest",
    "expr_score_native", "dedup_minhash_sig_agg", "dedup_bloom_partitioned",
    "pipeline_corpus_curation", "text_shingle_generate", "agg_tdigest",
    "topk_per_group_agg", "layout_zorder_stats")

  test("a fresh session runs every kernel with no registration and gains no graft_* function") {
    val fresh = spark.newSession()
    val e = Tables.embeddings(fresh, sf).where(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"), col("label"))
    val pairs = e.select(col("vec_id").as("a_id"))
      .crossJoin(e.select(col("vec_id").as("b_id")))
      .where(col("a_id") < col("b_id"))
    assert(ops.Similarity.dotPairs(e, pairs).count() === 100L * 99 / 2)
    assert(ops.Similarity.knnCandidates(e, 2).count() > 0)
    kernelKeys.foreach(k => SparkEntry.queries(k)(fresh, sf).collect())
    val graftFns = fresh.catalog.listFunctions().collect()
      .map(_.name).filter(_.startsWith("graft_"))
    assert(graftFns.isEmpty, s"kernels registered session functions: ${graftFns.mkString(", ")}")
  }

  test("the LSH keys leave no cached relation in the session") {
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    spark.catalog.clearCache()
    val fresh = spark.newSession()
    Seq("dedup_minhash_pairs", "dedup_connected_components",
      "dedup_connected_components_v2", "dedup_cluster_canonical", "dedup_lsh_recall_eval",
      "dedup_band_tuning_sweep", "dedup_multi_signal")
      .foreach(k => SparkEntry.queries(k)(fresh, sf).collect())
    assert(cacheManager.isEmpty, "an LSH key left a relation in the shared CacheManager")
  }

  test("the SQL function keys drop their temp function and still return the parent session's rows") {
    val fresh = spark.newSession()
    Seq("sql_udf_scalar", "sql_udf_table").foreach { k =>
      val got = SparkEntry.queries(k)(fresh, sf)
      assert(got.collect().toSeq === run(k).collect().toSeq, k)
    }
    Seq(fresh, spark).foreach { s =>
      val graftFns = s.catalog.listFunctions().collect()
        .map(_.name).filter(_.startsWith("graft_"))
      assert(graftFns.isEmpty, s"left behind: ${graftFns.mkString(", ")}")
    }
  }
}
