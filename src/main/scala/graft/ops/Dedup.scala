package graft.ops

import graft.Tables
import graft.functions.{bloom, dot, minhash}
import graft.ops.Checkpoints.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines: exact (see
  * VectorText.textExactDedup), MinHash+LSH, SimHash, embedding-cosine
  * near-dup.
  *
  * Design: signatures are built from md5 — bit-identical in Spark and
  * DuckDB — so even the LSH pipeline is oracle-checked end-to-end (the
  * oracle replicates the *algorithm*, so LSH recall < 1 cannot cause a
  * mismatch). At 100 TB the only shuffles are groupBy(doc) for signatures
  * and the band-bucket join; candidate verification touches only bucket
  * collisions, never the full pair space.
  */
object Dedup {

  /** 3-word shingles (distinct) as one exploded (doc_id, s) relation. */
  private def shingles(spark: SparkSession, sfDir: String, bound: Int): DataFrame =
    Tables.documentsSpread(spark, sfDir)
      .where(col("doc_id") < bound)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(array_distinct(expr(
        """CASE WHEN size(t) < 3 THEN array()
          |ELSE transform(sequence(1, size(t) - 2),
          |  i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))
          |END""".stripMargin))).as("s"))

  /** MinHash signature: k=4 independent hashes h_i(s) = md5(i || '|' || s),
    * signature_i = min over shingles.
    *
    * Minima are carried as 16-byte BINARY digests, not 32-char hex strings
    * (VERDICT r3 #5): unsigned byte order of an md5 digest ≡ lexicographic
    * order of its hex encoding, so `min` picks the same shingle and the
    * agg state + every downstream shuffle (band keys, candidate joins) is
    * half as wide. Hex appears only at the output projection for queries
    * whose contract emits strings.
    */
  private def signatures(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(
        min(unhex(md5(concat(lit("0|"), col("s"))))).as("s0"),
        min(unhex(md5(concat(lit("1|"), col("s"))))).as("s1"),
        min(unhex(md5(concat(lit("2|"), col("s"))))).as("s2"),
        min(unhex(md5(concat(lit("3|"), col("s"))))).as("s3"))

  /** The bounded 200-doc slice every LSH key reads: its distinct shingles
    * `sh` (doc_id, s), their MinHash signatures `sig` cut from the
    * lineage, and the per-doc shingle counts `cnt` (doc_id, n). Shared by
    * [[minhashPairs]] (and through it the clustering keys),
    * [[bandTuningSweep]], [[lshRecallEval]] and [[multiSignal]].
    *
    * localCheckpoint on `sig`: the band slices instantiate the signature
    * relation several times (union arms) and the LSH self-join doubles
    * that again — repeated runs of the min-hash aggregate without
    * materialization. One row of four 16-byte digests per doc, the natural
    * "build signatures once, then bucket" pipeline break. `sh` is not
    * persisted: a cached slice stayed in the session's shared
    * CacheManager after the query, and within one query its readers
    * share the corpus scan's shuffle through exchange reuse.
    */
  private def lshSlice(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val sh = shingles(spark, sfDir, 200)
    (sh, signatures(sh).lineageCut(true), sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
  }

  /** LSH candidate pairs (a_id < b_id) of the production b=2 bands × r=2
    * rows config over a (doc_id, s0..s3) signature relation: two docs pair
    * iff they agree on (s0, s1) or on (s2, s3). The candidate generator of
    * [[minhashPairs]], [[lshRecallEval]] and [[multiSignal]].
    */
  private[graft] def bandPairs(sig: DataFrame): DataFrame = {
    // band key stays binary end-to-end: concat of two fixed-width 16-byte
    // digests is injective on (s_i, s_j), so bucket collisions — and hence
    // the candidate-pair set — are identical to the hex formulation while
    // the self-join shuffles 16-byte keys instead of 32-char strings
    val band = sig.select(col("doc_id"), unhex(md5(concat(col("s0"), col("s1")))).as("b"))
      .unionAll(sig.select(col("doc_id"), unhex(md5(concat(col("s2"), col("s3")))).as("b")))
    band.as("x").join(band.as("y"),
        col("x.b") === col("y.b") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** Shingles each candidate pair (a_id, b_id) shares, counted from the
    * (doc_id, s) relation `sh`: (a_id, b_id, ni), pairs sharing none
    * absent. The verification join of [[minhashPairs]] and [[multiSignal]].
    */
  private[graft] def sharedShingles(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("s")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("ni"))

  /** Attaches both docs' shingle counts (na, nb) from `cnt` (doc_id, n)
    * to an (a_id, b_id, ...) pair relation — the Jaccard denominator.
    */
  private def withCounts(pairs: DataFrame, cnt: DataFrame): DataFrame =
    pairs.join(cnt.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(cnt.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")

  /** Exact near-dup ground truth: every pair (a_id < b_id) whose shingle
    * Jaccard over `sh` (doc_id, s) is ≥ 0.8, with per-doc counts `cnt`
    * (doc_id, n). Only pairs that SHARE a shingle can clear any positive
    * Jaccard bar, so the shingle-keyed co-occurrence join is the complete
    * candidate generator — linear in co-occurrences, never all-pairs.
    * The truth side of [[lshRecallEval]] and [[bandTuningSweep]].
    */
  private[graft] def exactNearDups(sh: DataFrame, cnt: DataFrame): DataFrame = {
    val inter = sh.select(col("doc_id").as("a_id"), col("s"))
      .join(sh.select(col("doc_id").as("b_id"), col("s")), Seq("s"))
      .where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("ni"))
    withCounts(inter, cnt)
      .where(col("ni").cast("double") / (col("na") + col("nb") - col("ni")) >= 0.8)
      .select(col("a_id"), col("b_id"))
  }

  /** dedup_minhash_sig — per-doc MinHash signature (k=4, 3-shingles).
    * `lower(hex(...))` at the output reproduces md5's hex form exactly.
    */
  def minhashSig(spark: SparkSession, sfDir: String): DataFrame =
    signatures(shingles(spark, sfDir, Int.MaxValue))
      .select(col("doc_id"),
        lower(hex(col("s0"))).as("s0"), lower(hex(col("s1"))).as("s1"),
        lower(hex(col("s2"))).as("s2"), lower(hex(col("s3"))).as("s3"))
      .orderBy(col("doc_id"))

  /** dedup_minhash_sig_agg — identical signatures computed by the custom
    * mergeable TypedImperativeAggregate (graft.functions.MinHashSketch):
    * k hashes in ONE buffer per group; at scale the shuffle carries 4
    * strings per doc instead of 4 separate min-agg states. Oracle: the
    * same SQL as dedup_minhash_sig — results are bit-identical.
    */
  def minhashSigAgg(spark: SparkSession, sfDir: String): DataFrame = {
    shingles(spark, sfDir, Int.MaxValue)
      .groupBy(col("doc_id"))
      .agg(minhash(col("s")).as("sigs"))
      .select(col("doc_id"),
        col("sigs").getItem(0).as("s0"), col("sigs").getItem(1).as("s1"),
        col("sigs").getItem(2).as("s2"), col("sigs").getItem(3).as("s3"))
      .orderBy(col("doc_id"))
  }

  /** dedup_minhash_pairs — LSH banding (b=2 bands × r=2 rows) → candidate
    * pairs → exact shingle-Jaccard verification ≥ 0.8.
    */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val (sh, sig, cnt) = lshSlice(spark, sfDir)
    withCounts(sharedShingles(bandPairs(sig), sh), cnt)
      .withColumn("jaccard",
        col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      .where(col("jaccard") >= 0.8)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** dedup_connected_components — near-dup CLUSTERING: the LSH-verified
    * pair list becomes an undirected graph; every document in a pair gets
    * labeled with its component's minimum doc_id (the canonical
    * representative a dedup pipeline keeps).
    *
    * Through round 4 this ran O(diameter) min-label propagation with a
    * 50-round failure guard; since round 5 it delegates to the same
    * alternating large-star/small-star fixpoint as v2 (VERDICT r4 #4) —
    * the clustering contract (labels = component minimum, proven by the
    * exact transitive-closure oracle) is identical, rounds drop from
    * O(diameter) to O(log² n), and the non-convergence throw path is gone.
    * The registry keeps both keys so existing callers of either name see
    * the same result.
    */
  def connectedComponents(spark: SparkSession, sfDir: String): DataFrame =
    connectedComponentsStar(spark, sfDir)

  /** One FUSED large-star+small-star round over a CANONICAL (b < a,
    * duplicates tolerated) edge relation — optimization round 17
    * (VERDICT r16 next-round #3). Three structural facts make the fusion
    * row-set-identical to smallStar(largeStar(·)) on the symmetric set
    * (the unfused steps live on in the test sources as
    * `StarComponentsReference`, DedupStarSpec's equivalence anchor):
    *
    *   1. every large-star output pair (x, y) = (b, m) has y < x (m ≤ a
    *      < b by construction), so small-star's canonical filter (b < a)
    *      keeps EXACTLY large-star's base pairs — the symmetric second
    *      arm was computed, shuffled and immediately discarded;
    *   2. small-star's output arms are themselves canonical ((b, m): m ≤
    *      b since m mins a set containing b, equality filtered; (a, m):
    *      m < a), so the round's output needs no symmetric doubling;
    *   3. the star steps tolerate duplicate edges (min-aggregates are
    *      idempotent, join fan-out linear in the dup factor), so the
    *      round-end dedup can ride the NEXT round's entry exchange
    *      instead of paying its own full-width repartition — each
    *      round's dedup happens inside `pre`/`canon` below, riding the
    *      hash(a) exchange its groupBy and join already need.
    *
    * Per-round exchanges: TWO full-width hash(a) repartitions (large-star
    * entry on the symmetrized set, small-star entry on the canonical
    * relation) — the old round paid those two PLUS a third full-width
    * repartition+dedup of the doubled symmetric output. The convergence
    * certificate (see [[starComponents]]) pays a narrow partial-agg
    * exchange in its own job.
    */
  private def fusedStarRound(e: DataFrame): DataFrame = {
    // large-star half: symmetrize map-side; dedup rides the entry exchange
    val pre = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("a")).dropDuplicates("a", "b")
    val m = pre.groupBy(col("a")).agg(min(col("b")).as("mb"))
      .select(col("a"), least(col("a"), col("mb")).as("m"))
    val ls = pre.where(col("b") > col("a")).join(m, "a")
      .select(col("b").as("a"), col("m").as("b")) // canonical: m < old a < b
      .where(col("a") =!= col("b"))
    // small-star half on the canonical relation; dedup rides again
    val canon = ls.repartition(col("a")).dropDuplicates("a", "b")
    val sm = canon.groupBy(col("a")).agg(min(col("b")).as("m"))
    val out = canon.join(sm, "a")
      .select(col("b").as("x"), col("m").as("y"))
      .unionAll(sm.select(col("a").as("x"), col("m").as("y")))
      .where(col("x") =!= col("y"))
    out.select(col("x").as("a"), col("y").as("b")) // canonical by facts 1-2
  }

  /** Alternating large-star/small-star to a fixed point. Round count is
    * O(log² n) worst-case (vs O(diameter) for plain label propagation), so
    * an adversarial chained dup-cluster A≈B≈C≈… converges in a handful of
    * rounds where a propagation loop would need diameter rounds. At
    * convergence the graph is a disjoint union of stars rooted at each
    * component's minimum node.
    *
    * Fixpoint detection (VERDICT r7 #6): a DIRECT star-forest certificate
    * after each round instead of comparing consecutive round signatures —
    * the symmetric edge set is a min-rooted star forest iff no node with a
    * smaller neighbor has two distinct neighbors (leaf rows have exactly
    * {root}; root rows only larger neighbors), and a min-rooted star
    * forest is exactly the fixpoint of smallStar∘largeStar (both steps
    * are identities on it). The certificate is ONE aggregate over the
    * round output riding its existing hash(a) layout, and it fires the
    * round the graph becomes a star — the signature scheme needed one
    * EXTRA full round just to observe that nothing changed. A false
    * "converged" is impossible (the certificate is exact, not
    * probabilistic), and the label extraction below assumes precisely the
    * certified shape.
    *
    * @param pairs undirected edges, one row per pair (a_id, b_id)
    * @return (labels (doc_id, component), rounds run)
    */
  private[graft] def starComponents(pairs: DataFrame, maxRounds: Int = 25): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val coalesceKey = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val savedCoalesce = spark.conf.getOption(coalesceKey)
    // cached/checkpointed plans disable AQE partition coalescing by
    // default, which makes every tiny iteration schedule full-width
    // stages; allowing the plan's output partitioning to change restores
    // AQE inside the loop. Session-level by necessity (read at execution
    // time); set for this query only and restored in the finally below.
    spark.conf.set(coalesceKey, "true")
    try {
      val p = pairs.select(col(pairs.columns(0)).as("a"), col(pairs.columns(1)).as("b"))
      // CANONICAL working set since optimization round 17 (see
      // [[fusedStarRound]]): one row per undirected edge oriented b < a,
      // duplicates tolerated between rounds — each round's entry
      // exchange dedups as it groups, so the old per-round full-width
      // dedup repartition of the DOUBLED symmetric set is gone, and the
      // checkpointed working set halves.
      //
      // lineage cut every round, NOT persist: one star round references
      // its input several times, so lineage nests per round — exponential
      // plan growth that stalls analysis after a handful of rounds.
      // Truncating to the materialized RDD keeps every round's plan
      // constant-size; superseded checkpoint blocks are released by the
      // ContextCleaner once the previous round's DataFrame goes
      // unreferenced. LAZY (eager=false, VERDICT r7 #6): the certificate
      // aggregate right below is the round's first consumer, so the cut's
      // final stage rides the certificate job instead of a separate count
      // job. The round's exchange stages still run when the cut is taken
      // (AQE executes the plan to get the cut's RDD; see [[Checkpoints]]).
      // localCheckpoint by default; spark.graft.checkpointDir switches to
      // reliable checkpoint() for executor-loss durability (VERDICT r8 #4
      // — see [[Checkpoints]]).
      var e = p.where(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b"))
        .lineageCut(false)
      // exact star-forest certificate (see Scaladoc), evaluated on the
      // map-side-symmetrized canonical set: any node holding a smaller
      // neighbor AND a second distinct neighbor breaks the shape. The
      // aggregate partial-combines map-side, so its exchange moves ~|V|
      // narrow rows — the full-width edge set no longer re-shuffles just
      // to be certified.
      def isStarForest(c: DataFrame): Boolean =
        c.unionAll(c.select(col("b").as("a"), col("a").as("b")))
          .groupBy(col("a")).agg(min(col("b")).as("mb"), max(col("b")).as("xb"))
          .where(col("mb") < col("a") && col("mb") =!= col("xb"))
          .isEmpty
      var rounds = 0
      var converged = false
      while (!converged && rounds < maxRounds) {
        val next = fusedStarRound(e).lineageCut(false)
        e = next
        converged = isStarForest(next)
        rounds += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"starComponents did not converge within $maxRounds rounds " +
            "(expected O(log² n) — this indicates a bug, not a big graph)")
      // canonical star forest: rows are exactly (leaf, root), so leaves
      // label themselves with their single root (min over duplicate rows)
      // and roots label themselves. UNORDERED on purpose (optimization
      // round 16): three of the four consumers immediately re-aggregate
      // the labels; the one consumer that emits labels directly orders at
      // its own tail.
      val out = e.groupBy(col("a")).agg(min(col("b")).as("component"))
        .select(col("a").as("doc_id"), col("component"))
        .unionAll(e.select(col("b")).distinct()
          .select(col("b").as("doc_id"), col("b").as("component")))
        .lineageCut(true)
      (out, rounds)
    } finally savedCoalesce match {
      case Some(v) => spark.conf.set(coalesceKey, v)
      case None    => spark.conf.unset(coalesceKey)
    }
  }

  /** dedup_connected_components_v2 — the same near-dup clustering contract
    * as dedup_connected_components (identical transitive-closure oracle),
    * computed with the scale-safe alternating-star algorithm instead of
    * min-label propagation: O(log² n) rounds regardless of component
    * diameter, each round one groupBy(min) + one keyed join. This is the
    * 100 TB path the v1 Scaladoc promised.
    */
  def connectedComponentsStar(spark: SparkSession, sfDir: String): DataFrame =
    starComponents(minhashPairs(spark, sfDir).select(col("a_id"), col("b_id")))._1
      .orderBy(col("doc_id"))

  /** dedup_cluster_canonical — the step a dedup pipeline actually ends
    * with: for every near-dup cluster (v2 star components), KEEP ONE
    * canonical representative — the longest document, ties to the lowest
    * doc_id, via a unique `max_by` ordering value (n_chars·10⁶ − doc_id).
    * One keyed join (component labels ⋈ documents) + one hash agg on the
    * component key; composes on the O(log²) clustering, so the whole
    * keep-best path is scale-safe.
    */
  def clusterCanonical(spark: SparkSession, sfDir: String): DataFrame =
    connectedComponentsStar(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("component"))
      .agg(
        expr("max_by(doc_id, n_chars * 1000000 - doc_id)").as("canonical_doc"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("component"))

  /** text_decontaminate_overlap — train/test contamination check (the
    * decontamination step every training pipeline runs before eval):
    * test docs (doc_id ≡ 0 mod 10) are scored by the fraction of their
    * distinct 3-shingles that appear ANYWHERE in the train split. The
    * probe is one left-semi join keyed on the shingle — shuffle on the
    * shingle hash, no pairwise doc comparison, linear in corpus size.
    */
  def decontaminateOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir, Int.MaxValue)
    val test = sh.where(col("doc_id") % 10 === 0)
    val train = sh.where(col("doc_id") % 10 =!= 0).select(col("s")).distinct()
    val totals = test.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val hits = test.join(train, Seq("s"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_sh"), 6)
          .as("contamination"))
      .orderBy(col("doc_id"))
  }

  /** dedup_simhash — 16-bit SimHash from the leading md5 nibble of each
    * token occurrence; bit j set iff Σ(±1 over tokens) > 0.
    */
  def simhash(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .withColumn("h", md5(col("w")))
    val hi = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val bitSums = (1 to 16).map { j =>
      sum(when(substring(col("h"), j, 1).isin(hi: _*), 1).otherwise(-1)).as(s"b$j")
    }
    val sums = toks.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
    val simhashCol = (1 to 16).map { j =>
      when(col(s"b$j") > 0, math.pow(2, j - 1).toInt).otherwise(0)
    }.reduce(_ + _)
    sums.select(col("doc_id"), simhashCol.cast("int").as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** dedup_exact_keep_first — the actual row-eliminating dedup: group by a
    * content fingerprint (md5 of the first 8 tokens — the corpus has no
    * full-text dups, so prefix fingerprints make collisions real), keep the
    * lowest doc_id of each group. At 100 TB this is one hash shuffle on the
    * fingerprint; WindowGroupLimit prunes each group to its first row
    * before the final sort.
    */
  def exactKeepFirst(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)).cast("binary"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    Tables.documents(spark, sfDir)
      .withColumn("fp", fp)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** M41 dedup_ngram_corpus_frac — the corpus-level duplicated-n-gram
    * signal (the "what fraction of this document also appears elsewhere"
    * filter a web-scale curation pass runs before training): per document,
    * the fraction of its 5-gram occurrences whose 5-gram is shared with at
    * least one OTHER document. 5-grams come from lead() chains over the
    * per-doc position window (no UDTF, no self-join); corpus sharing is
    * one shingle-keyed aggregate (countDistinct doc_id > 1) joined back to
    * the occurrences — linear in total 5-grams, never pairwise. At 100 TB
    * both shuffles are keyed (shingle, then doc) and the shared-shingle
    * set is the only intermediate that grows with corpus redundancy.
    */
  def ngramCorpusFrac(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = Tables.documentsSpread(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("w1", lead(col("w"), 1).over(wDoc))
      .withColumn("w2", lead(col("w"), 2).over(wDoc))
      .withColumn("w3", lead(col("w"), 3).over(wDoc))
      .withColumn("w4", lead(col("w"), 4).over(wDoc))
      .where(col("w4").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("w"), col("w1"), col("w2"), col("w3"), col("w4")).as("g"))
    val shared = grams.groupBy(col("g"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1)
      .select(col("g"), lit(1).as("is_shared"))
    grams.join(shared, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_5grams"), count(col("is_shared")).as("n_shared"))
      .select(col("doc_id"), col("n_5grams"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_5grams")).as("shared_frac"))
      .orderBy(col("doc_id"))
  }

  /** M44 dedup_semantic_clusters — the embedding-space twin of the MinHash
    * dedup pipeline: mutual-2-NN graph (an edge only where BOTH endpoints
    * rank each other top-2 — the standard mutual-kNN sparsifier; k=2 is
    * the tightest setting that yields chains as well as pairs, so the
    * histogram exercises multi-size clusters at every SF) → large-star/small-star
    * connected components (the SAME O(log²) clustering the text pipeline
    * uses, composed, not re-implemented) → cluster-size histogram, the
    * shape a dedup report leads with. Mutual edges come from one count-2
    * aggregate over the directed edge list (no self-join); singletons are
    * by definition not clusters. At corpus scale the directed edges come
    * from the IVF/LSH candidate chains and the component stage is
    * unchanged — clustering cost depends on the edge list, not the corpus.
    */
  def semanticClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val mutual = Similarity.knnEdgesStored(spark, sfDir, 2)
      .groupBy(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .agg(count(lit(1)).as("m"))
      .where(col("m") === 2)
      .select(col("u"), col("v"))
    starComponents(mutual)._1
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }

  /** dedup_embedding_topk — the 20 most-similar embedding pairs (cosine ≡
    * dot, unit-norm corpus): the verification stage of embedding near-dup.
    */
  def embeddingTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir).where(col("vec_id") < 300)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id"))
      // codegen'd kernel; IEEE-identical to the HOF form (see DotProduct)
      .withColumn("sim_raw", dot(col("a_emb"), col("b_emb")))
      .orderBy(desc("sim_raw"), asc("a_id"), asc("b_id"))
      .limit(20)
      .select(col("a_id"), col("b_id"),
        (round(col("sim_raw"), 4) + lit(0.0)).as("sim"))
  }

  /** M50 dedup_shingle_containment — ASYMMETRIC near-dup scoring:
    * containment |A∩B| / |A| ranks, for each probe document, the corpus
    * documents that absorb most of its shingles. Jaccard (J7/M2) misses
    * subset relationships (a doc pasted into a longer one scores low);
    * containment is the measure decontamination and quote-detection
    * actually want. Probe = the bounded doc_id < 50 eval set; for each,
    * the top-3 absorbers with containment ≥ 0.05.
    *
    * Determinism: ranking happens on the RAW intersection count (an
    * integer — same denominator per probe doc) with a b_id tiebreak, so
    * no engine ever orders by a rounded double. Scale: the probe side is
    * decontamination-bounded (broadcastable); the corpus side is one
    * shingle-keyed shuffle, linear in corpus size — the all-pairs form
    * never materializes. At 100 TB, hot shingles get the M36 df-cap
    * treatment before the join.
    */
  def shingleContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir, Int.MaxValue)
    val probe = sh.where(col("doc_id") < 50)
      .select(col("doc_id").as("a_id"), col("s"))
    val na = probe.groupBy(col("a_id")).agg(count(lit(1)).as("n_a"))
    val inter = probe
      .join(sh.select(col("doc_id").as("b_id"), col("s")),
        Seq("s"))
      .where(col("b_id") =!= col("a_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("inter"))
    Similarity.topPerQuery(inter.join(broadcast(na), Seq("a_id")), desc("inter"), 3)
      .withColumn("containment",
        round(col("inter").cast("double") / col("n_a").cast("double"), 6) + lit(0.0))
      .where(col("containment") >= 0.05)
      .select(col("a_id"), col("b_id"), col("inter"), col("n_a"),
        col("containment"), col("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  /** M57 dedup_bloom_prefilter — two-tier incremental-ingest dedup: the
    * standing corpus (doc_id % 10 != 0) publishes a Bloom filter over its
    * prefix fingerprints (the M16 md5-of-first-8-tokens key); the incoming
    * batch (doc_id % 10 = 0) probes the filter and only the POSITIVE rows
    * reach the exact semi-join confirm. Blooms have no false negatives, so
    * tier 2 sees every true duplicate, and tier 2 discards the false
    * positives — the reported per-source new/dup counts are EXACT and
    * independent of the filter's bits (which is why a DuckDB oracle can
    * check them without replicating the sketch). This is the shape that
    * matters at 100 TB: the ~1%-fpp filter shrinks the join probe to
    * ~|dups| + 1% of the batch, so the expensive exact join touches a
    * sliver of the data; the filter itself is the standing index artifact
    * (built via df.stat.bloomFilter — executor-side aggregation, driver
    * merge, broadcast probe).
    *
    * Capacity is SIZED FROM THE DATA ([[sizedBloom]]): one cheap count()
    * of the standing slice (in a deployment: the table's row-count stat,
    * no scan at all) keeps the realized fpp at the 1% design point at ANY
    * corpus size — a fixed capacity would saturate to fpp≈1 on a 100 TB
    * corpus (~10¹⁰ fingerprints), passing everything to the exact join:
    * still correct, but the prefilter would do no work. Past ~10⁹ rows
    * the single driver-merged bloom itself becomes the bottleneck
    * (multi-GB bitmap through driver merge + broadcast); the scale form
    * is a PARTITIONED bloom — hash-bucket the fingerprints, build one
    * right-sized filter per bucket, and probe each incoming row against
    * only its bucket's filter (a bucket-keyed join of filter fragments) —
    * same no-false-negative guarantee, no driver chokepoint.
    */
  def bloomPrefilter(spark: SparkSession, sfDir: String): DataFrame = {
    val (incoming, existing) = bloomSides(spark, sfDir)
    // tier 1: probabilistic prefilter (no false negatives). Null-safe: a
    // null fingerprint (null text) can never match the standing corpus —
    // probe must say false, not NPE.
    val bloomBc = spark.sparkContext.broadcast(sizedBloom(existing, "fp"))
    val mightContain =
      udf((s: String) => s != null && bloomBc.value.mightContainString(s))
    bloomReport(incoming, existing, incoming.where(mightContain(col("fp"))))
  }

  /** Tier 2 and the report of both bloom prefilters ([[bloomPrefilter]],
    * [[bloomPartitioned]]): the tier-1 `candidates` (doc_id, fp) are
    * confirmed by an exact semi-join against the standing fingerprints —
    * false positives die here — and the per-source new/dup counts of the
    * `incoming` batch are reported. The counts are bloom-independent, so
    * the oracle for both keys is the same arithmetic SQL.
    */
  private def bloomReport(incoming: DataFrame, existing: DataFrame,
      candidates: DataFrame): DataFrame = {
    val confirmed = candidates
      .join(existing.distinct(), Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(1L).as("is_dup"))
    incoming.join(confirmed, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_incoming"),
        coalesce(sum(col("is_dup")), lit(0L)).as("n_dup"))
      .select(col("source"), col("n_incoming"), col("n_dup"),
        (col("n_incoming") - col("n_dup")).as("n_new"),
        (round(col("n_dup").cast("double") / col("n_incoming").cast("double"), 6)
          + lit(0.0)).as("dup_frac"))
      .orderBy(col("source"))
  }

  /** The two sides of both bloom prefilters: the incoming batch
    * (doc_id % 10 = 0) as (doc_id, source, fp) and the standing corpus as
    * (fp), keyed by the M16 md5-of-first-8-tokens fingerprint.
    */
  private def bloomSides(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val fpCol = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)).cast("binary"))
    val docs = Tables.documents(spark, sfDir)
    (docs.where(col("doc_id") % 10 === 0).select(col("doc_id"), col("source"), fpCol.as("fp")),
      docs.where(col("doc_id") % 10 =!= 0).select(fpCol.as("fp")))
  }

  /** Data-sized Bloom build for [[bloomPrefilter]]: expected-item count
    * from one count() of the slice (deployment: table stats), fpp pinned
    * at the 1% design point, capacity floored at 1 (stat.bloomFilter
    * rejects 0). Factored out so the fpp spec exercises the EXACT
    * production sizing path.
    */
  private[graft] def sizedBloom(slice: DataFrame, colName: String)
      : org.apache.spark.util.sketch.BloomFilter =
    slice.stat.bloomFilter(colName, math.max(slice.count(), 1L), 0.01)

  /** The tier-1 probe pipeline of [[bloomPartitioned]], factored so the
    * PlanSpec scale gate can assert on EXACTLY the probe sub-plan: returns
    * (incoming, existing, candidates) where `candidates` is the
    * bucket-keyed shuffle join of probes against the distributed filter
    * relation — by construction it contains no broadcast and no driver
    * collect of any filter.
    */
  private[graft] def bloomPartitionedProbe(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (incoming, existing) = bloomSides(spark, sfDir)
    val nBuckets = 16L
    val perBucket = math.max(existing.count() / nBuckets, 1L)
    val filters = existing
      .withColumn("bucket", pmod(xxhash64(col("fp")), lit(nBuckets)))
      .groupBy(col("bucket"))
      .agg(bloom(col("fp"), perBucket, 0.01).as("bf"))
    val probeFn = udf(new BucketBloomProbe())
    val candidates = incoming
      .withColumn("bucket", pmod(xxhash64(col("fp")), lit(nBuckets)))
      // inner bucket join: a probe whose bucket has no standing filter is
      // definitionally new, so dropping it from the candidate set is exact.
      // NULL fingerprints are excluded by BucketBloomProbe's s != null
      // guard, NOT by the join — xxhash64(NULL) returns the seed hash
      // (non-null), so a null fp would land in a real bucket and join;
      // do not drop the probe guard on the strength of this join
      .join(filters.hint("shuffle_hash"), Seq("bucket"))
      .where(probeFn(col("bucket"), col("bf"), col("fp")))
      .select(col("doc_id"), col("fp"))
    (incoming, existing, candidates)
  }

  /** M72 dedup_bloom_partitioned — the PARTITIONED form of the M57 bloom
    * prefilter, i.e. the shape that survives a 100 TB standing corpus:
    * fingerprints hash into 16 buckets and each bucket aggregates its OWN
    * right-sized filter through the mergeable [[graft.functions.BloomSketch]]
    * native aggregate — partial buffers OR-merge map-side, so no driver
    * ever merges a corpus-sized filter tree (the r6-flagged chokepoint of
    * the single-filter build). Probes route by the same bucket hash and
    * consult only their bucket's filter; an incoming fingerprint in a
    * bucket with no standing rows is definitionally new.
    *
    * The probe is DISTRIBUTED end to end (VERDICT r7 #1): the filter
    * relation never reaches the driver — probes shuffle by `bucket` and
    * join their bucket's filter bytes (shuffle-hash join, broadcast
    * explicitly disallowed so the shape is the one that survives filters
    * too big for any single machine), and `might_contain` is evaluated
    * per row against a per-task deserialization cache ([[BucketBloomProbe]]
    * — each task inflates each distinct filter it sees exactly once).
    * Tier 2 and the report are M57's ([[bloomReport]]) — the counts are
    * bloom-independent, so the oracle is the same arithmetic SQL.
    */
  def bloomPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val (incoming, existing, candidates) = bloomPartitionedProbe(spark, sfDir)
    bloomReport(incoming, existing, candidates)
  }

  /** Per-task bloom-probe kernel for [[bloomPartitioned]]: `might_contain`
    * over the bucket-joined filter BYTES. Tasks deserialize each distinct
    * bucket's filter exactly once — the cache is an instance field, and
    * Spark deserializes a fresh closure instance per task, so the
    * bucket-keyed entries can never leak across queries or stale builds;
    * within a task every row of a bucket after the shuffle-hash join hits
    * the same inflated filter. Null fingerprint or absent filter ⇒ false
    * (a null can never match the standing corpus; no-filter buckets are
    * new by definition).
    */
  private[graft] class BucketBloomProbe
      extends ((Long, Array[Byte], String) => Boolean) with Serializable {
    @transient private lazy val cache =
      scala.collection.mutable.HashMap.empty[Long, org.apache.spark.util.sketch.BloomFilter]
    override def apply(bucket: Long, bf: Array[Byte], s: String): Boolean =
      s != null && bf != null &&
        cache.getOrElseUpdate(bucket,
          org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bf))).mightContainString(s)
  }

  /** M71 dedup_band_tuning_sweep — the banding-config decision table: the
    * M63 recall harness generalized to a SWEEP over the three (bands,
    * rows) layouts a 4-hash MinHash admits — b2r2 (production), b4r1
    * (recall-max), b1r4 (precision-max) — each scored against the same
    * exact-Jaccard ≥ 0.8 ground truth. This is the table an engineer
    * reads to pick a config BEFORE a corpus-scale dedup run: r=1 catches
    * everything but floods the confirm join; r=4 barely probes.
    *
    * One signature build feeds all seven band slices (cfg and band index
    * ride the join key, so configs never cross-pollinate); candidates per
    * config come from the usual band-bucket self-join. Ground truth uses
    * the complete shingle-co-occurrence generator (pairs sharing ≥ 1
    * shingle ⊇ every pair with Jaccard > 0) — linear in co-occurrences,
    * never all-pairs. Counts exact; ratios are rounded divisions,
    * NULL (not /0) when a side is empty.
    */
  def bandTuningSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val (sh, sig, cnt) = lshSlice(spark, sfDir)
    def slice(cfg: String, k: Int, key: org.apache.spark.sql.Column) =
      sig.select(lit(cfg).as("cfg"), lit(k).as("bk"), col("doc_id"), key.as("b"))
    val bands = Seq(
      slice("b2r2", 0, md5(concat(col("s0"), col("s1")))),
      slice("b2r2", 1, md5(concat(col("s2"), col("s3")))),
      slice("b4r1", 0, md5(col("s0"))), slice("b4r1", 1, md5(col("s1"))),
      slice("b4r1", 2, md5(col("s2"))), slice("b4r1", 3, md5(col("s3"))),
      slice("b1r4", 0, md5(concat(col("s0"), col("s1"), col("s2"), col("s3")))))
      .reduce(_ unionAll _)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.cfg") === col("y.cfg") && col("x.bk") === col("y.bk") &&
          col("x.b") === col("y.b") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.cfg").as("cfg"), col("x.doc_id").as("a_id"),
        col("y.doc_id").as("b_id"))
      .distinct()
    val truth = exactNearDups(sh, cnt).lineageCut(true)
    val cfgs = bands.select(col("cfg")).distinct()
    val perCfg = cand.groupBy(col("cfg")).agg(count(lit(1)).as("n_cand"))
    val hitPerCfg = cand.join(truth, Seq("a_id", "b_id"), "left_semi")
      .groupBy(col("cfg")).agg(count(lit(1)).as("n_hit"))
    val nT = truth.agg(count(lit(1)).as("n_true"))
    cfgs.join(perCfg, Seq("cfg"), "left").join(hitPerCfg, Seq("cfg"), "left")
      .crossJoin(broadcast(nT))
      .select(col("cfg"), col("n_true"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(coalesce(col("n_cand"), lit(0L)) > 0,
          round(coalesce(col("n_hit"), lit(0L)).cast("double") /
            coalesce(col("n_cand"), lit(0L)), 6) + lit(0.0)).as("precision"),
        when(col("n_true") > 0,
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_true"), 6)
            + lit(0.0)).as("recall"))
      .orderBy(col("cfg"))
  }

  /** M61 text_decontaminate_13gram — benchmark decontamination at the
    * PUBLISHED standard granularity: a test document is contaminated if
    * ANY of its 13-token n-grams appears verbatim in the training slice
    * (the 13-gram exact-match rule popularized by large-LM eval decks;
    * the 3-shingle overlap score in M34 is the softer fractional
    * variant). Same modulo-10 test/train split as M34. 13-grams come
    * from one transform over the token array (no UDTF); the train-side
    * relation is distinct-deduped and the probe is a left-semi join on
    * the n-gram key — one keyed shuffle each side, linear in corpus
    * n-grams, the decontamination shape that holds at 100 TB. Documents
    * shorter than 13 tokens have no n-grams and are clean by definition.
    */
  def decontaminate13gram(spark: SparkSession, sfDir: String): DataFrame = {
    val grams = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(array_distinct(expr(
        """CASE WHEN size(t) < 13 THEN array()
          |ELSE transform(sequence(1, size(t) - 12),
          |  i -> concat_ws(' ', slice(t, i, 13)))
          |END""".stripMargin))).as("g"))
    val test = grams.where(col("doc_id") % 10 === 0)
    val train = grams.where(col("doc_id") % 10 =!= 0).select(col("g")).distinct()
    val totals = Tables.documents(spark, sfDir)
      .where(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - 12, lit(0)).cast("long").as("n_grams"))
    val hits = test.join(train, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)) > 0).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** M63 dedup_lsh_recall_eval — the eval harness for the TEXT dedup
    * stack (the ann_recall_at_k / vec_matryoshka_eval pattern aimed at
    * MinHash banding): over the bounded M2 slice, compare the LSH
    * candidate pairs (b=2 bands × r=2 rows, the production config)
    * against ground truth = ALL pairs with exact shingle-Jaccard ≥ 0.8,
    * and report candidate count, truth count, hits, precision and
    * recall — the numbers that justify (or re-tune) a banding config
    * before a corpus-scale run. Ground truth never materializes the
    * pair space: candidates for the exact side come from the
    * shingle-co-occurrence join (pairs sharing ≥ 1 shingle — a superset
    * of every pair with Jaccard > 0), keyed by shingle, linear in
    * co-occurrences. One-row output, all counts exact, two rounded
    * divisions at the end.
    */
  def lshRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    val (sh, sig, cnt) = lshSlice(spark, sfDir)
    val cand = bandPairs(sig)
    val truth = exactNearDups(sh, cnt)
    val hits = truth.join(cand, Seq("a_id", "b_id"), "left_semi")
    val nT = truth.agg(count(lit(1)).as("n_true"))
    val nC = cand.agg(count(lit(1)).as("n_cand"))
    val nH = hits.agg(count(lit(1)).as("n_hit"))
    // empty candidate/truth sets are real at small SFs (the banding finds
    // nothing) — the ratio is then undefined, reported as NULL, never /0
    nT.crossJoin(broadcast(nC)).crossJoin(broadcast(nH))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_cand") > 0,
          round(col("n_hit").cast("double") / col("n_cand"), 6) + lit(0.0))
          .as("precision"),
        when(col("n_true") > 0,
          round(col("n_hit").cast("double") / col("n_true"), 6) + lit(0.0))
          .as("recall"))
  }

  /** M78 dedup_url_canonical — crawl-frontier URL dedup: canonicalize
    * each document's URL (lowercase scheme+host, strip `www.`, strip
    * default ports 80/443, drop the fragment, drop `utm_*` tracking
    * params, strip the trailing slash) and collapse to one keeper per
    * canonical form — the dedup every crawler runs BEFORE fetching,
    * since the same page hides behind dozens of surface forms. URLs are
    * synthesized as a pure integer function of doc_id (the M28
    * synthetic-PII pattern — no URL column in the fixtures) spanning all
    * the canonicalization cases; the policy itself reads only the URL
    * string, and the oracle synthesizes + canonicalizes identically.
    * Output: duplicate groups (canonical form, host, surface-form count,
    * keeper = min doc_id).
    *
    * 100 TB: canonicalization is a per-row projection; the collapse is
    * one hash shuffle on the canonical string — linear, and in a real
    * frontier the canonical key is also the partitioning key, making
    * re-crawl dedup exchange-free.
    */
  def urlCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val url = expr(
      """(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
        |(CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END) ||
        |'Site' || CAST(doc_id % 7 AS STRING) || '.Example.com' ||
        |(CASE WHEN doc_id % 5 = 0 THEN (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE ':80' END) ELSE '' END) ||
        |'/p/' || CAST(doc_id % 11 AS STRING) ||
        |(CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
        |(CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS STRING)
        |      WHEN doc_id % 7 = 0 THEN '?id=' || CAST(doc_id % 5 AS STRING) ELSE '' END) ||
        |(CASE WHEN doc_id % 8 = 0 THEN '#sec' ELSE '' END)""".stripMargin)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), url.as("url"))
      // 1. fragment never reaches the server — drop it
      .withColumn("u", regexp_replace(col("url"), "#.*$", ""))
      // 2. split at the authority boundary; only the head is case-folded
      .withColumn("head", regexp_extract(col("u"), "^([a-zA-Z]+://[^/]*)", 1))
      .withColumn("tail", expr("substring(u, length(head) + 1)"))
      .withColumn("head", regexp_replace(
        expr("replace(lower(head), '://www.', '://')"), ":(80|443)$", ""))
      // 3. tracking params out, '/?' and trailing '/' collapsed
      .withColumn("tail", regexp_replace(col("tail"), "utm_[a-z_]+=[a-z0-9]+&", ""))
      .withColumn("tail", regexp_replace(col("tail"), "[?&]utm_[a-z_]+=[a-z0-9]+$", ""))
      .withColumn("tail", regexp_replace(expr("replace(tail, '/?', '?')"), "/$", ""))
      .withColumn("canonical_url", concat(col("head"), col("tail")))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_forms"), min(col("doc_id")).as("keeper_doc_id"))
      .where(col("n_forms") > 1)
      .withColumn("host", regexp_extract(col("canonical_url"), "^https?://([^/:]+)", 1))
      .select(col("canonical_url"), col("host"), col("n_forms"), col("keeper_doc_id"))
      .orderBy(col("canonical_url"))
  }

  /** M82 dedup_pq_codes — semantic-dedup BLOCKING via product-quantization
    * codes: vectors that quantize to the SAME 4-code word (the
    * [[Similarity.pqIndex]] artifact) are near-dup candidates — the
    * SemDeDup-at-scale trick where the PQ fingerprint, already persisted
    * for search, doubles as the dedup blocking key, replacing an LSH
    * build. Within each block the exact dot confirms; output is the
    * candidate pair list with block id and similarity.
    *
    * 100 TB: one groupBy on a 4-byte key over the stored codes; pairs
    * explode only inside blocks (bounded by block size, never corpus²) —
    * the embedding-space twin of the MinHash band join.
    */
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    // the blocking key is the STANDING pq_packed artifact — the SemDeDup
    // trick is precisely that the code word persisted for search doubles
    // as the dedup key, so the query reads the index instead of training
    val packed = graft.ops.IndexStore.read(spark, sfDir, "pq_packed")
    val blocks = packed
      .select(col("vec_id"), expr(
        "element_at(cds, 1) * 4096 + element_at(cds, 2) * 256 " +
          "+ element_at(cds, 3) * 16 + element_at(cds, 4)").as("block"))
    blocks.select(col("vec_id").as("a_id"), col("block"))
      .join(blocks.select(col("vec_id").as("b_id"), col("block")), Seq("block"))
      .where(col("a_id") < col("b_id"))
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")), Seq("a_id"))
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")), Seq("b_id"))
      .select(col("block"), col("a_id"), col("b_id"),
        (round(dot(col("a_emb"), col("b_emb")), 4) + lit(0.0)).as("sim"))
      .orderBy(col("block"), col("a_id"), col("b_id"))
  }

  /** M83 text_paragraph_dedup — segment-level exact dedup (the C4 /
    * MassiveText line-dedup stage): documents split into sentence-ish
    * segments on '. ', every segment fingerprinted, and only the GLOBAL
    * first occurrence (min doc_id, then min position) of each fingerprint
    * survives; per document the report gives segments kept/dropped and
    * the character mass removed — the dedup that catches boilerplate
    * repeated across different pages, which whole-document fingerprints
    * miss.
    *
    * 100 TB: one fingerprint-keyed window-limit (WindowGroupLimit prunes
    * map-side) + one doc-keyed aggregate — linear in total segments.
    */
  def paragraphDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), "\\. ")).as(Seq("pos", "seg")))
      .where(length(col("seg")) > 0)
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("pos"))
    segs.withColumn("fp", md5(col("seg")))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") > 1, length(col("seg")).cast("long")).otherwise(0L))
          .as("chars_removed"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        (round(col("n_kept").cast("double") / col("n_segs"), 6) + lit(0.0))
          .as("kept_frac"),
        col("chars_removed"))
      .orderBy(col("doc_id"))
  }

  /** M113 dedup_exact_substring (round 13) — EXACT-substring dedup, the
    * published complement to n-gram/MinHash dedup (train-set curation
    * flags documents that share long verbatim character runs — boilerplate,
    * mirrored articles, license blocks — which token-level shingles can
    * miss across tokenization differences): 50-char windows sampled at
    * stride 25, so any shared run of ≥ 99 chars is GUARANTEED to produce a
    * colliding window in both documents (two stride-25 grids cannot both
    * miss a 99-char span), and shorter runs are caught when alignment
    * cooperates. Per document (≥ 50 chars): window count, windows owned by
    * an EARLIER doc (min doc_id keeps — the keep-first convention of
    * `dedup_exact_keep_first`), and the dup flag.
    *
    * 100 TB: window extraction is map-side (stride 25 bounds the blowup at
    * 2× text bytes); ownership is ONE shuffle keyed by the window hash;
    * the flag join rides the same key — linear in corpus bytes, never
    * pairwise. The published full-suffix-array approach needs a global
    * sort of every suffix; stride sampling is the bounded-loss version
    * whose guarantee (2×stride−1 chars) is explicit.
    */
  def exactSubstring(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Tables.documents(spark, sfDir)
      .where(length(col("text")) >= 50)
      .select(col("doc_id"),
        explode(expr("sequence(1, length(text) - 49, 25)")).as("o"), col("text"))
      .select(col("doc_id"),
        md5(expr("substring(text, CAST(o AS INT), 50)")).as("h"))
    val own = w.groupBy(col("h")).agg(min(col("doc_id")).as("owner"))
    w.join(own, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_windows"), col("n_shared"),
        (col("n_shared") > 0).as("dup_flag"))
      .orderBy(col("doc_id"))
  }

  /** M118 dedup_multi_signal — SIGNAL-FUSION dedup: every LSH candidate
    * pair (the M28 band-collision generator) scored on BOTH available
    * modalities — exact shingle Jaccard (text) and embedding cosine
    * (vec_id ≡ doc_id across the corpus tables) — with independent
    * agreement flags (Jaccard ≥ 0.5, cosine ≥ 0.2). The practice this
    * encodes: text near-dup detectors and semantic near-dup detectors
    * disagree systematically (boilerplate inflates shingle overlap;
    * paraphrase defeats it), so a curation pipeline keeps both verdicts
    * per pair and routes disagreements to different policies instead of
    * trusting either signal alone.
    *
    * Scale: candidates come from the banded self-join (never pairwise);
    * each signal attaches by key — shingle intersection via the two-sided
    * semi-join count, cosine via two broadcast-friendly embedding lookups
    * on the codegen'd dot kernel. Thresholds are fixture-calibrated and
    * interpolated into the oracle.
    */
  def multiSignal(spark: SparkSession, sfDir: String): DataFrame = {
    val (sh, sig, cnt) = lshSlice(spark, sfDir)
    val cand = bandPairs(sig)
    val e = Tables.embeddings(spark, sfDir)
    withCounts(cand.join(sharedShingles(cand, sh), Seq("a_id", "b_id"), "left"), cnt)
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb")), "b_id")
      .withColumn("jaccard", round(coalesce(col("ni"), lit(0L)).cast("double") /
        (col("na") + col("nb") - coalesce(col("ni"), lit(0L))), 4) + lit(0.0))
      .withColumn("cosine", round(dot(col("a_emb"), col("b_emb")), 4) + lit(0.0))
      .select(col("a_id"), col("b_id"), col("jaccard"), col("cosine"),
        (col("jaccard") >= 0.5).as("text_dup"),
        (col("cosine") >= 0.2).as("embed_dup"),
        ((col("jaccard") >= 0.5) =!= (col("cosine") >= 0.2))
          .as("signals_disagree"))
      .orderBy(col("a_id"), col("b_id"))
  }
}
