package graft

import graft.api.Corpus

/** The typed facade (VERDICT r4 #1) is the registry by construction:
  * every typed member only names a registry key and runs the function
  * `Queries.all` binds to it, so facade output ≡ registry output without
  * executing either; two execution checks also compare real output
  * (sampled members, then every typed member), and the quickstart
  * composition runs end-to-end.
  */
class CorpusApiSpec extends SparkSpec {
  private lazy val c = Corpus(spark, sf)

  test("every typed facade member carries its registry key's own function") {
    // identity: the member's function IS the registry's function
    // object, so no input can tell the two apart
    val ops = c.typedOps
    val bad = ops.filterNot(o => Queries.all.get(o.key).exists(_ eq o.fn)).map(_.key)
    assert(bad.isEmpty, s"typed members not bound to their registry function: $bad")
    val dup = ops.groupBy(_.key).collect { case (k, os) if os.size > 1 => k }
    assert(dup.isEmpty, s"registry keys named by more than one typed member: $dup")
    // the member → key bindings the README and quickstart rely on
    val named = Seq(
      c.text.quality -> "text_quality_score",
      c.dedup.minhashPairs -> "dedup_minhash_pairs",
      c.dedup.clusters -> "dedup_connected_components_v2",
      c.vectors.ivfTopk -> "ann_ivf_topk",
      c.datasetCard -> "pipeline_dataset_card",
      c.quality.ruleViolations -> "dq_rule_violations",
      c.packSequences -> "pipeline_pack_sequences",
      c.tokenBudgetMix -> "pipeline_token_budget_mix",
      c.dedup.shingleContainment -> "dedup_shingle_containment",
      c.vectors.pagerankHubs -> "graph_pagerank_knn",
      c.media.ingestBinary -> "source_binaryfile_ingest",
      c.heavyHitters -> "agg_heavy_hitters",
      c.evalHoldout -> "pipeline_eval_holdout",
      c.vectors.graphExpandTopk -> "ann_graph_expand_topk",
      c.vectors.kcoreFull -> "graph_kcore_full",
      c.media.indexUpdate -> "index_update_mediasig")
    val misnamed = named.collect { case (m, key) if m.key != key => s"${m.key} != $key" }
    assert(misnamed.isEmpty, s"facade members bound to the wrong key: $misnamed")
    // a member naming a key the registry lacks fails at declaration
    val e = intercept[NoSuchElementException](Corpus(spark, sf).op("no_such_key"))
    assert(e.getMessage == "no_such_key")
  }

  test("facade delegates bit-identically to the registry (sampled entries)") {
    val pairs = Seq(
      c.text.quality()        -> "text_quality_score",
      c.dedup.minhashPairs()  -> "dedup_minhash_pairs",
      c.dedup.clusters()      -> "dedup_connected_components_v2",
      c.vectors.ivfTopk()     -> "ann_ivf_topk",
      c.datasetCard()         -> "pipeline_dataset_card",
      c.quality.ruleViolations() -> "dq_rule_violations",
      c.packSequences()       -> "pipeline_pack_sequences",
      c.tokenBudgetMix()      -> "pipeline_token_budget_mix",
      c.dedup.shingleContainment() -> "dedup_shingle_containment",
      c.vectors.pagerankHubs() -> "graph_pagerank_knn",
      c.media.ingestBinary()  -> "source_binaryfile_ingest",
      // round-9..11 families surfaced in the facade refresh (VERDICT r10 #5)
      c.heavyHitters()        -> "agg_heavy_hitters",
      c.evalHoldout()         -> "pipeline_eval_holdout",
      c.vectors.graphExpandTopk() -> "ann_graph_expand_topk",
      c.vectors.kcoreFull()   -> "graph_kcore_full",
      c.media.indexUpdate()   -> "index_update_mediasig")
    pairs.foreach { case (facade, key) =>
      val reg = run(key)
      assert(facade.schema == reg.schema, s"$key schema drift")
      assert(facade.exceptAll(reg).count() == 0 && reg.exceptAll(facade).count() == 0,
        s"$key rows drift")
    }
  }

  test("quickstart composition runs end-to-end and respects the dedup contract") {
    // README shape: score → near-dup clusters → keep canonical reps
    val n = c.documents.count()
    val clusters = c.dedup.clusters()
    val kept = c.dedup.canonical()
    assert(kept.count() > 0 && kept.count() <= n)
    // every cluster keeps exactly one representative
    val perCluster = kept.groupBy("component").count()
      .where(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(perCluster == 0, "canonical must keep exactly one doc per cluster")
    // clusters cover exactly the docs that occur in a verified pair
    val clustered = clusters.select("doc_id").distinct().count()
    assert(clustered >= kept.count())
  }

  test("query() escape hatch reaches every registry key") {
    assert(c.queryNames.size == Queries.all.size)
    val df = c.query("agg_pricing_summary")
    assert(df.count() > 0)
  }

  private val escapePath =
    java.nio.file.Paths.get("src/test/resources/facade-escape-hatch.txt")

  test("facade coverage gate: every registry key is typed or consciously escape-hatched (VERDICT r13 #6)") {
    // the PLANS.md-gate pattern applied to the API: the typed members'
    // keys and the checked-in escape-hatch list must partition the
    // registry EXACTLY, so a new operator fails the suite until it is
    // triaged. Regenerate the escape list (after adding any new typed
    // members) with:
    //   GRAFT_REGEN_FACADE=1 sbt "testOnly graft.CorpusApiSpec"
    val registry = Queries.all.keySet
    val typedKeys = c.typedOps.map(_.key).toSet
    val phantom = typedKeys -- registry
    assert(phantom.isEmpty, s"typed facade entries with no registry key: $phantom")
    if (sys.env.contains("GRAFT_REGEN_FACADE")) {
      java.nio.file.Files.createDirectories(escapePath.getParent)
      java.nio.file.Files.writeString(escapePath,
        (registry -- typedKeys).toSeq.sorted.mkString("", "\n", "\n"))
      info(s"regenerated $escapePath (${(registry -- typedKeys).size} keys)")
    } else {
      assert(java.nio.file.Files.exists(escapePath),
        s"$escapePath missing — run GRAFT_REGEN_FACADE=1 sbt 'testOnly graft.CorpusApiSpec'")
      val escape = java.nio.file.Files.readString(escapePath)
        .linesIterator.filter(_.nonEmpty).toSet
      val overlap = typedKeys & escape
      assert(overlap.isEmpty, s"keys both typed and escape-hatched: $overlap")
      val untriaged = registry -- typedKeys -- escape
      val stale = (typedKeys ++ escape) -- registry
      assert(untriaged.isEmpty && stale.isEmpty,
        s"facade coverage drifted — untriaged new keys: $untriaged; stale rows: $stale. " +
          "Add a typed `op` member to Corpus, or regenerate: " +
          "GRAFT_REGEN_FACADE=1 sbt 'testOnly graft.CorpusApiSpec'")
    }
  }

  test("every typed facade entry is the SAME computation as its registry key") {
    // end-to-end complement to the function-identity check: each member's
    // output against the registry's, for every typed member. Plan-level
    // sameResult decides it for free where it can; operators whose plans
    // embed materialized lineage cuts (localCheckpoint creates a fresh
    // RDD per construction, so two builds of the SAME query are never
    // plan-equal) fall back to exact row equality.
    val rowChecked = scala.collection.mutable.ListBuffer.empty[String]
    val bad = c.typedOps.sortBy(_.key).filter { o =>
      val facade = o()
      val reg = run(o.key)
      if (facade.queryExecution.analyzed.sameResult(reg.queryExecution.analyzed))
        false
      else {
        rowChecked += o.key
        facade.schema != reg.schema ||
          facade.exceptAll(reg).count() != 0 || reg.exceptAll(facade).count() != 0
      }
    }.map(_.key)
    info(s"plan-identical: ${c.typedOps.size - rowChecked.size}; " +
      s"row-compared (lineage-cut plans): ${rowChecked.size}")
    assert(bad.isEmpty, s"typed facade entries that drifted from the registry: $bad")
  }
}
