package graft.ops

import graft.Tables
import graft.functions.dot
import graft.ops.Checkpoints.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Array / vector / text operators (SURVEY §2.J) — the LLM-pipeline north
  * star. All float outputs rounded to 4 dp (§5.3.3); sums over arrays run
  * in array order (deterministic, engine-independent).
  *
  * 100 TB notes: candidate scopes (`vec_id < k`, `doc_id < k`) are explicit
  * bounds so the scale-out swap is LSH/IVF blocking (see Similarity/Dedup),
  * not a query rewrite. Cross joins are always query-side-bounded and the
  * small side broadcast.
  */
object VectorText {

  private val dotExpr =
    "aggregate(zip_with(a_emb, b_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
      "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  /** J1 — scalar reductions over the embedding array via higher-order fns. */
  def arrScalarSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        // + 0.0 on every signed rounded double: normalizes IEEE -0.0
        (round(element_at(col("embedding"), 1).cast("double"), 4) + lit(0.0)).as("first_elem"),
        (round(expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"), 4) + lit(0.0)).as("sum_all"),
        (round(array_min(col("embedding")).cast("double"), 4) + lit(0.0)).as("min_e"),
        (round(array_max(col("embedding")).cast("double"), 4) + lit(0.0)).as("max_e"),
        size(expr("filter(embedding, x -> x > 0)")).as("n_pos"),
        (round(expr("aggregate(slice(embedding, 2, 3), CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"), 4) + lit(0.0)).as("sum_2_4"))
      .orderBy(col("vec_id"))

  /** J13 — array set algebra against a fixed stopword vocabulary:
    * intersect / union / except over the token array, each explicitly
    * deduped AND sorted before serialization — `array_intersect`'s result
    * order and dedup behavior are engine-defined, so only the
    * distinct-sorted view is a pure function of the data. Arrays ship as
    * CSV strings (driver wire protocol; arrays are unhashable there).
    * Per-row narrow work: no shuffle except the final presentation sort.
    */
  def arrSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = array(Seq("the", "a", "of", "and", "to", "in", "is").map(lit): _*)
    Tables.documents(spark, sfDir)
      .withColumn("toks", split(col("text"), " "))
      .select(
        col("doc_id"),
        array_join(array_sort(array_distinct(array_intersect(col("toks"), stop))), ",")
          .as("stop_hits"),
        size(array_distinct(array_intersect(col("toks"), stop))).as("n_stop_distinct"),
        size(array_distinct(array_except(col("toks"), stop))).as("n_content_distinct"),
        size(array_distinct(array_union(col("toks"), stop))).as("n_union_distinct"))
      .orderBy(col("doc_id"))
  }

  /** J2 — pairwise cosine (≡ dot: vectors are unit-norm) for a bounded set.
    * `+ 0.0` normalizes IEEE negative zero: Spark's round (BigDecimal) emits
    * +0.0 where DuckDB's emits -0.0, and the driver's repr-hash sees them as
    * different values (the sole r1 hash-miss on this query).
    */
  def vecCosinePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir).where(col("vec_id") < 30)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (round(expr(dotExpr), 4) + lit(0.0)).as("cosine"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** J2v2 — identical semantics and oracle as vec_cosine_pairs, computed by
    * the custom codegen'd [[graft.functions.DotProduct]] expression instead
    * of the interpreted `aggregate(zip_with(...))` higher-order chain: the
    * primitive loop inlines into whole-stage codegen with no intermediate
    * product array — the hot-path form for 100 TB embedding scans. IEEE
    * ops are element-order-identical to the HOF, so results (and the
    * DuckDB oracle) are bit-equal — asserted in VectorTextSpec.
    */
  def vecCosinePairsNative(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir).where(col("vec_id") < 30)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (round(dot(col("a_emb"), col("b_emb")), 4) + lit(0.0)).as("cosine"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** J2b — pairwise error metrics (MSE / MAE / max abs error) for a bounded
    * pair set — the reference's clean-vs-reference scoring surface
    * (SURVEY §1.2). Element order of the error reductions follows array
    * order in both engines, so sums are deterministic.
    */
  def vecErrorMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir).where(col("vec_id") < 20)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val diffs = "zip_with(a_emb, b_emb, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("mse", expr(
        s"aggregate($diffs, CAST(0.0 AS DOUBLE), (acc, d) -> acc + d * d) / size(a_emb)"))
      .withColumn("mae", expr(
        s"aggregate($diffs, CAST(0.0 AS DOUBLE), (acc, d) -> acc + abs(d)) / size(a_emb)"))
      .withColumn("max_err", expr(s"array_max(transform($diffs, d -> abs(d)))"))
      .select(col("a_id"), col("b_id"),
        round(col("mse"), 6).as("mse"),
        round(col("mae"), 6).as("mae"),
        round(col("max_err"), 6).as("max_err"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** J3 — exact brute-force kNN: 10 broadcast query vectors against the
    * full corpus, ranked per query. The 100 TB path swaps the corpus scan
    * for an LSH/IVF-pruned candidate set (see Similarity.annLshBucket).
    */
  def vecKnnTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val c = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    Similarity.topPerQuery(c.join(broadcast(q), col("a_id") =!= col("b_id"))
        // IEEE-identical to the HOF dotExpr (see DotProduct) — oracle unchanged
        .withColumn("sim_raw", dot(col("a_emb"), col("b_emb"))), desc("sim_raw"), 5)
      .select(col("a_id"), col("b_id"),
        (round(col("sim_raw"), 4) + lit(0.0)).as("sim"), col("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  /** J12 — int8 embedding quantization: per-vector absmax scale, values
    * mapped to [-127, 127] with `floor(x/scale + 0.5)` (pure IEEE ops —
    * deterministic cross-engine, unlike `round` on computed doubles), plus
    * the reconstruction MSE. The 4× storage compression step an embedding
    * lake applies before indexing; per-row, no shuffle.
    */
  def vecQuantizeInt8(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 100)
      .withColumn("scale", expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0"))
      .withColumn("q", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))"))
      .select(
        col("vec_id"),
        round(col("scale"), 6).as("scale6"),
        array_join(expr("transform(q, v -> cast(v as string))"), ",").as("q_csv"),
        round(expr(
          // explicit d*d rather than pow: libm pow may differ in the last
          // ulp across engines; multiply is exactly specified by IEEE
          "aggregate(zip_with(embedding, q, (x, v) -> " +
            "(CAST(x AS DOUBLE) - v * scale) * (CAST(x AS DOUBLE) - v * scale)), " +
            "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e) / size(embedding)"), 9).as("mse"))
      .orderBy(col("vec_id"))

  /** J4 — per-(label, dimension) centroid via posexplode (long format). */
  def vecCentroidByLabel(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "comp")))
      .groupBy(col("label"), col("dim"))
      // + 0.0 normalizes IEEE -0.0 (DuckDB round keeps the sign, §5.3);
      // mean via the 2^20 fixed-point protocol (round 7, the ADVICE r6
      // quantizer class): exact LONG component sums make the rounded
      // mean order-independent, not partial-agg-order-dependent
      .agg((round(sum(expr("CAST(round(CAST(comp AS DOUBLE) * 1048576) AS BIGINT)"))
          .cast("double") / (count(lit(1)) * lit(1048576.0)), 4) + lit(0.0)).as("centroid"),
        count(lit(1)).as("n"))
      .orderBy(col("label"), col("dim"))

  /** J5 — generator/UDTF shape: (doc_id, pos, token) via posexplode. */
  def textTokenExplode(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .where(col("doc_id") < 20)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .orderBy(col("doc_id"), col("pos"))

  /** J6 — word count, top-20 by (count DESC, word). */
  def textWordcount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(20)

  /** J7 — token-set Jaccard for bounded doc pairs (exact near-dup check). */
  def textJaccardPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.documents(spark, sfDir).where(col("doc_id") < 10)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = t.select(col("doc_id").as("a_id"), col("toks").as("a_toks"))
    val b = t.select(col("doc_id").as("b_id"), col("toks").as("b_toks"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("inter", size(array_intersect(col("a_toks"), col("b_toks"))))
      .withColumn("uni", size(array_union(col("a_toks"), col("b_toks"))))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"),
        round(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** J8 — exact dedup stats: row count vs distinct-md5 count per source. */
  def textExactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
      .orderBy(col("source"))

  /** J9 — tf·idf argmax term per doc; idf = ln(N/df) rounded 6 dp. */
  def textTfidfTop(spark: SparkSession, sfDir: String): DataFrame =
    tfidfRanked(Tables.documents(spark, sfDir).where(col("doc_id") < 50), "rn")
      .where(col("rn") === 1)
      .select(col("doc_id"), col("w").as("term"), col("tf"), col("idf"),
        round(col("tfidf"), 6).as("tfidf"))
      .orderBy(col("doc_id"))

  /** Per-document tf-idf ranking over a bounded `docs` slice: every
    * (doc_id, w) with its raw count `tf`, `idf` = ln(N/df) rounded 6 dp,
    * `tfidf` = tf·idf and its rank within the doc by (tfidf desc, w) in
    * column `rank`. Rounding the idf BEFORE ranking makes the rank key one
    * exact-int × rounded-double multiply — identical doubles on both
    * engines, so any rank cut is deterministic. Shared by
    * [[textTfidfTop]] (rank 1) and [[TextAnalysis.keywordsPerDoc]]
    * (top 3); each caller applies its own cut and output columns.
    */
  private[graft] def tfidfRanked(docs: DataFrame, rank: String): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("tfidf"), asc("w"))
    tf.join(dfreq, "w")
      .crossJoin(broadcast(n))
      .withColumn("idf", round(log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("tfidf", col("tf") * col("idf"))
      .withColumn(rank, row_number().over(w))
  }

  /** M36 text_sparse_cosine_topk — document-pair cosine similarity over
    * SPARSE tf-idf vectors through an INVERTED-INDEX self-join: pairs meet
    * only through tokens they share, so the dense |D|² pair space never
    * exists. The classic scale guard is the df cap (tokens appearing in
    * > 50 docs are dropped from the vocabulary — stop-tokens contribute
    * ~nothing to cosine but dominate join fan-out), which bounds per-token
    * pair generation at df² ≤ 2500 regardless of corpus size.
    *
    * 100 TB: one token-keyed shuffle builds the index, one token-keyed
    * self-join emits partial products, one (a,b)-keyed sum reduces them —
    * the exact shape distributed sparse-similarity engines use. Top-20 by
    * rounded similarity with full id tiebreak.
    */
  def sparseCosineTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, sfDir)
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // tf-idf weights over the df-capped vocabulary. localCheckpoint: this
    // posting list is consumed THREE times (norms + both self-join sides);
    // materializing it once is the "build the inverted index, then query
    // it" shape — without it each consumer re-runs the whole tf/df
    // pipeline (the 15-exchange plan flagged in PLANS.md r4). The
    // token-keyed partitioning from the tf⋈df join survives the
    // checkpoint, so the self-join below needs no re-exchange.
    val wtd = tf.join(dfreq.where(col("df") <= 50), "w")
      .crossJoin(broadcast(n))
      .withColumn("wt",
        col("tf") * expr("ln(CAST(n_docs AS DOUBLE) / df)"))
      .select(col("w"), col("doc_id"), col("wt"))
      .lineageCut(true)
    val norm = wtd.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("wt") * col("wt"))).as("nrm"))
    val dots = wtd.select(col("w"), col("doc_id").as("a_id"), col("wt").as("wa"))
      .join(wtd.select(col("w"), col("doc_id").as("b_id"), col("wt").as("wb")), Seq("w"))
      .where(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norm.select(col("doc_id").as("a_id"), col("nrm").as("na")), "a_id")
      .join(norm.select(col("doc_id").as("b_id"), col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        (round(col("dot") / (col("na") * col("nb")), 6) + lit(0.0)).as("sim"))
      .orderBy(desc("sim"), asc("a_id"), asc("b_id"))
      .limit(20)
  }

  /** J16 arr_flatten_nested — nested arrays as first-class values: per
    * order collect its sorted price array, then per customer collect the
    * ARRAY OF ARRAYS, flatten, and sort — two-level collection the way a
    * sessionized log rolls up. Every output is an element pick or a count
    * over the sorted flattened multiset, so collection order (which Spark
    * does not guarantee) never leaks into the result. Two keyed aggs, one
    * keyed join — per-customer arrays bounded by orders-per-customer.
    */
  def arrFlattenNested(spark: SparkSession, sfDir: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_extendedprice"))).as("arr"))
    Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
      .join(perOrder, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_arrays"),
        array_sort(flatten(collect_list(col("arr")))).as("fl"))
      .select(col("o_custkey"), col("n_arrays"),
        size(col("fl")).as("n_items"),
        element_at(col("fl"), 1).as("min_price"),
        element_at(col("fl"), -1).as("max_price"))
      .orderBy(col("o_custkey"))
  }

  /** J15 vec_norm_stats — L2-norm distribution per label: the embedding
    * sanity check before any cosine work (un-normalized vectors silently
    * corrupt cosine ≡ dot shortcuts). Per-row norm is a sequential fold
    * (bit-equal to the oracle's list_dot_product loop); min/max are
    * element picks (raw doubles); the MEAN norm avoids float-order hazard
    * by integerizing each norm to exact micro-units first (round→LONG),
    * so the sum is exact and the mean is one fixed division tree. One
    * keyed agg, no shuffle beyond it — linear at any corpus size.
    */
  def vecNormStats(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = sqrt(expr(
      "aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
    Tables.embeddings(spark, sfDir)
      .select(col("label"), norm.as("nrm"))
      .withColumn("q", round(col("nrm") * lit(1e6), 0).cast("long"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"),
        sum(col("q")).as("sq"))
      .select(col("label"), col("n_vecs"), col("min_norm"), col("max_norm"),
        (col("sq").cast("double") / col("n_vecs") / lit(1e6)).as("avg_norm"))
      .orderBy(col("label"))
  }

  /** J14 arr_struct_sort — arrays of STRUCTs as first-class values: per
    * order, collect its lineitems as (price, linenumber) structs, sort the
    * array lexicographically by field order, and pick both ends. Exercises
    * struct construction, array-of-struct sorting, field extraction, and
    * negative element_at — the nested-type surface a log-analytics schema
    * leans on. One keyed hash agg (collect_list partials merge map-side);
    * the per-group array is bounded by lines-per-order (≤7), so memory is
    * O(group) not O(table) at any scale.
    */
  def arrStructSort(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(
        sort_array(collect_list(struct(col("l_extendedprice"), col("l_linenumber"))))
          .as("items"),
        count(lit(1)).as("n_items"))
      .select(col("l_orderkey"), col("n_items"),
        col("items").getItem(0).getField("l_extendedprice").as("min_price"),
        col("items").getItem(0).getField("l_linenumber").as("min_price_line"),
        element_at(col("items"), -1).getField("l_extendedprice").as("max_price"),
        element_at(col("items"), -1).getField("l_linenumber").as("max_price_line"))
      .orderBy(col("l_orderkey"))

  /** J10 — corpus stats per (lang, source). */
  def textLangStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"),
        sum(size(split(col("text"), " "))).as("total_tokens"))
      .orderBy(col("lang"), col("source"))

  /** J17 vec_pca_power_iter — the top principal direction of the embedding
    * Gram matrix by DISTRIBUTED power iteration (3 rounds), reporting the
    * top-8 loading dimensions and the Rayleigh eigenvalue — the variance
    * diagnostic ("is this embedding space collapsing to one axis?") that
    * precedes any whitening/compression decision.
    *
    * Exactness protocol, because an eigensolver amplifies float noise:
    * vectors integerize to q = round(x·2²⁰) fixed-point FIRST, so the
    * Gram accumulation Σ q_d·q_j is exact long arithmetic in any shuffle
    * order (entries ≤ 2⁵¹, judge: 0.58²·2⁴⁰·n). Matrix–vector products
    * then run as ORDERED sequential folds (the proven J2 aggregate/
    * zip_with ↔ list_dot_product equivalence), each iterate rounds to
    * 9 dp (the M51 fixpoint protocol), and the norm is a fold of the
    * same ordered list — zero order-sensitive float sums anywhere.
    *
    * Scale: the explode is the co-occurrence shape — n·64² narrow rows
    * into a 64×64-cell keyed aggregate with map-side combine; the 64-row
    * Gram relation checkpoints once (index-once) and every iteration is
    * a broadcast of the 1-row iterate. Corpus size only touches the
    * first aggregation.
    */
  def vecPcaPowerIter(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT))").as("q"))
    val cells = e
      .select(col("q"), posexplode(col("q")).as(Seq("d", "qd")))
      .select(col("d"), col("qd"), posexplode(col("q")).as(Seq("j", "qj")))
      .groupBy(col("d"), col("j"))
      .agg(sum(col("qd") * col("qj")).as("g"))
    val grows = cells.groupBy(col("d"))
      .agg(expr("transform(array_sort(collect_list(struct(j, g))), s -> CAST(s.g AS DOUBLE))")
        .as("grow"))
      .lineageCut(true) // 64 rows feed every iteration
    val nRow = e.agg(count(lit(1)).as("n"))
    def matVec(vv: DataFrame): DataFrame = grows.crossJoin(broadcast(vv))
      .select(col("d"), expr(
        "aggregate(zip_with(grow, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)")
        .as("w"))
    def gather(w: DataFrame): DataFrame = w
      .agg(expr("transform(array_sort(collect_list(struct(d, w))), s -> s.w)").as("lw"))
    var v = spark.range(1)
      .select(expr("transform(sequence(1, 64), i -> CAST(0.125 AS DOUBLE))").as("v"))
    for (_ <- 1 to 3) {
      v = gather(matVec(v))
        .select(expr(
          "transform(lw, x -> round(x / sqrt(aggregate(lw, CAST(0.0 AS DOUBLE), (acc, y) -> acc + y * y)), 9))")
          .as("v"))
        .lineageCut(true)
    }
    val lam = gather(matVec(v))
      .select(expr("sqrt(aggregate(lw, CAST(0.0 AS DOUBLE), (acc, y) -> acc + y * y))").as("lam"))
    v.select(posexplode(col("v")).as(Seq("dim", "loading_raw")))
      .crossJoin(broadcast(lam)).crossJoin(broadcast(nRow))
      .select(col("dim"),
        (round(col("loading_raw"), 6) + lit(0.0)).as("loading"),
        (round(col("lam") / lit(1.099511627776e12) / col("n"), 6) + lit(0.0)).as("eigenvalue"))
      .orderBy(abs(col("loading")).desc, col("dim").asc)
      .limit(8)
  }

  /** J25 vec_binary_hamming_topk — 1-bit (sign) quantization, the other
    * standard embedding compression next to PQ: dims 1..63 pack into ONE
    * BIGINT sign word (63 bits keeps the integer positive — exact,
    * overflow-free arithmetic on both engines), and search is
    * bit_count(xor) Hamming over 8 bytes/vector — a 32× compression where
    * the whole scan is two ALU ops per candidate. Top-10 per query (10
    * broadcast query words, the J3 bounded pattern) by (hamming asc,
    * b_id). The binary twin of vec_pq_adc_topk: PQ keeps ranked distance
    * quality, sign bits maximize scan throughput; vec_pq_rerank's
    * shortlist+exact pattern applies to either.
    */
  def vecBinaryHammingTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val sig = e.select(col("vec_id"), expr(
      """aggregate(sequence(0, 62), 0L, (acc, i) ->
        |  acc + IF(element_at(embedding, CAST(i + 1 AS INT)) > 0,
        |           shiftleft(1L, CAST(i AS INT)), 0L))""".stripMargin).as("sig"))
    val q = sig.where(col("vec_id") < 10)
      .select(col("vec_id").as("a_id"), col("sig").as("sa"))
    Similarity.topPerQuery(sig.select(col("vec_id").as("b_id"), col("sig").as("sb"))
        .join(broadcast(q))
        .where(col("a_id") =!= col("b_id"))
        .withColumn("hamming", expr("CAST(bit_count(sa ^ sb) AS INT)")), asc("hamming"), 10)
      .select(col("a_id"), col("b_id"), col("hamming"), col("rn"))
      .orderBy(col("a_id"), col("rn"))
  }

  /** J35 vec_dim_variance_prune — variance-based dimension pruning (the
    * cheap one-pass alternative to the J22 PCA when the basis must stay
    * axis-aligned, e.g. pruning a stored index's dimensions in place):
    * per-dimension mean/variance from EXACT 2^20 fixed-point component
    * sums and sums-of-squares — order-independent by construction, the
    * J13 protocol extended to second moments. The first moment stays
    * LONG (s ≤ n·2^20 — safe to n ≈ 2^43 vectors); the SECOND moment
    * accumulates in DECIMAL(38,0) on both engines (ADVICE r13 #1: each
    * f·f term is ~2^40, so a LONG sum wraps silently past ~2^23 ≈ 8.4M
    * vectors per dim while DuckDB's HUGEINT does not — the engines would
    * diverge exactly at scale). Both engines cast the exact integer to
    * DOUBLE at the end, and nearest-double rounding of the same integer
    * is identical. Dims are
    * ranked by variance, the top 16 flagged `keep`, plus each rank's
    * cumulative share of total variance — the "how much signal do 16 of
    * 64 dims retain" curve a Matryoshka-style truncation (J25) is judged
    * against.
    *
    * Scale: ONE corpus pass (posexplode + keyed agg to 64 rows); the
    * ranking/cumsum windows run on the 64-row dimension relation — global
    * windows over dimension-sized data are the documented exception.
    */
  def vecDimVariancePrune(spark: SparkSession, sfDir: String): DataFrame = {
    val fixed = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("dim", "comp")))
      .select(col("dim"),
        expr("CAST(round(CAST(comp AS DOUBLE) * 1048576) AS BIGINT)").as("f"))
    val st = fixed.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("f")).as("s"),
        sum(expr("CAST(f * f AS DECIMAL(38,0))")).as("q"))
      .withColumn("mean", col("s").cast("double") / (col("n") * lit(1048576.0)))
      .withColumn("variance",
        col("q").cast("double") / (col("n") * lit(1048576.0) * lit(1048576.0))
          - col("mean") * col("mean"))
    val tot = st.agg(sum(col("variance")).as("tv"))
    val wRank = Window.orderBy(desc("variance"), asc("dim"))
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    st.crossJoin(broadcast(tot))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("cum_var_frac",
        round(sum(col("variance")).over(wCum) / col("tv"), 6) + lit(0.0))
      .select(col("dim"), col("n"),
        (round(col("mean"), 6) + lit(0.0)).as("mean"),
        (round(col("variance"), 6) + lit(0.0)).as("variance"),
        col("rn"), col("cum_var_frac"),
        (col("rn") <= 16).as("keep"))
      .orderBy(col("rn"))
  }
}
