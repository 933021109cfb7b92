package graft.oracle

/** DuckDB 1.0.0 oracle SQL, one val per query key (SURVEY §2, §5.3.6).
  *
  * Conventions:
  *  - Bare table names (the driver binds parquet to views). Fallback if the
  *    driver binds paths instead: replace `FROM <t>` with
  *    `FROM read_parquet('<sfDir>/<t>.parquet')`.
  *  - events.ts is TIMESTAMP_NS in DuckDB; every oracle goes through the
  *    `ev` CTE which truncates to µs — mirroring Tables.events exactly.
  *  - Engine-semantics deltas are encoded here in SQL, not prose:
  *    dayofweek+1 (I2), ASOF JOIN (C9), generate_subscripts (J5), islands
  *    sessions (L3), slide-offset windows (L2).
  */
object OracleSql {

  /** The full-corpus shortlist cut, interpolated from the engine constant
    * (ADVICE r11 #1): bumping IndexStore.KnnFullTopK re-keys the store AND
    * moves every full-chain oracle cut with it — no silent divergence.
    */
  private val KF: Int = graft.ops.IndexStore.KnnFullTopK

  /** Probe-cell count of the full-corpus candidate scheme, interpolated
    * from the engine constant (same discipline): every vector probes its
    * argmax cell plus dot-range-mapped windows in cells ranked 2..PC.
    */
  private val PC: Int = graft.ops.IndexStore.KnnFullProbeCells

  /** Probe-window half-width of the full-corpus candidate scheme (center
    * ±PW sub-buckets), interpolated from the engine constant.
    */
  private val PW: Int = graft.ops.IndexStore.KnnFullProbeWidth

  /** Shared events-normalizing CTE prefix (ns → µs truncation). */
  val EV: String =
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, " +
      "epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, user_id, event_type, " +
      "value, props FROM events) "

  /** Shared derived-partsupp CTE prefix — mirrors [[graft.Tables.partsupp]]
    * exactly: per part 4 supplier slots, integer availqty, exact LONG-cents
    * supply cost (SURVEY §2.W round-7).
    */
  val PS: String =
    "WITH ns AS (SELECT COUNT(*) AS n_supp FROM supplier), " +
      "ks AS (SELECT unnest([0,1,2,3]) AS k), " +
      "ps0 AS (SELECT p_partkey, k, (p_partkey + 17*k) % n_supp AS ps_suppkey FROM part, ns, ks), " +
      "partsupp AS (SELECT p_partkey AS ps_partkey, ps_suppkey, " +
      "(p_partkey*37 + ps_suppkey*11 + k) % 9999 + 1 AS ps_availqty, " +
      "(p_partkey*13 + ps_suppkey*7 + k*3) % 99900 + 100 AS ps_cost_cents FROM ps0) "

  /** Shared shingle CTE body (3-word shingles, distinct, as (doc_id, s)). */
  private def shingleCte(whereClause: String): String =
    s"d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents $whereClause), " +
      "sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[]) " +
      "ELSE list_transform(range(1, len(t) - 1), i -> t[CAST(i AS INT)] || ' ' || " +
      "t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2]) END)) AS s FROM d)"

  private val sigSelect =
    "SELECT doc_id, min(md5('0|' || s)) AS s0, min(md5('1|' || s)) AS s1, " +
      "min(md5('2|' || s)) AS s2, min(md5('3|' || s)) AS s3 FROM sh GROUP BY doc_id"


  /** Shared cell-pruned k-NN CTE chain for the graph family (M42/M44/M51/
    * M54/M56), mirroring Similarity.knnCandidates exactly: 10 per-label 6-dp
    * centroids over the bounded set, nprobe=2 routing (crn 1 = assigned
    * cell, crn <= 2 = probed cells), candidates from the cell equi-join,
    * exact-dot re-rank. Yields `rk(a_id, b_id, rn)`; consumers cut rn <= k.
    * Emitted WITHOUT the leading WITH so recursive consumers can prepend
    * WITH RECURSIVE.
    */
  private val knnIvfChain: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings WHERE vec_id < 500),
      |ccomp AS (SELECT label, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(emb[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c FROM e, range(1, 65) t(i) GROUP BY label, i),
      |cent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM ccomp GROUP BY label),
      |cdots AS (SELECT e.vec_id, c.cell, list_dot_product(e.emb, c.cvec) AS d FROM e CROSS JOIN cent c),
      |cr AS (SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS crn FROM cdots),
      |asg AS (SELECT cr.vec_id AS b_id, e.emb AS b_emb, e.label AS b_label, cr.cell FROM cr JOIN e ON e.vec_id = cr.vec_id WHERE crn = 1),
      |prb AS (SELECT vec_id AS a_id, cell FROM cr WHERE crn <= 2),
      |cand AS (SELECT p.a_id, q.label AS a_label, b.b_id, b.b_label, list_dot_product(q.emb, b.b_emb) AS dot
      |FROM prb p JOIN e q ON q.vec_id = p.a_id JOIN asg b ON b.cell = p.cell AND b.b_id <> p.a_id),
      |rk AS (SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rn FROM cand)"""
      .stripMargin.replace("\n", " ")

  /** FULL-corpus kNN candidate CTE chain (round 11; second-cell probing
    * round 12; third cell round 13 via the interpolated [[PC]]), mirroring
    * Similarity.knnFullSides exactly: per-label
    * centroids over the WHOLE corpus (same 2^20 fixed-point protocol),
    * argmax-cell inverted lists with the winning dot `d`, m = ⌈√n/10⌉
    * equal-depth sub-buckets per cell along the (d desc, vec_id) ranking
    * (exact integer bucket arithmetic). Probes: the vector's own bucket
    * ±1 PLUS a ±1 window in each of its 2nd..PCth nearest cells, centered
    * by dot-range mapping (the least bucket of that cell whose minimum
    * member dot ≤ the query's dot there, else the cell's last bucket).
    * Yields `fcand(a_id, b_id)` and the dot-ranked `frk(a_id, b_id, rn)`.
    * `fasg`/`frtd`/`frk` are MATERIALIZED (the M98 lesson): consumers
    * reference them many times and DuckDB's CTE inlining would otherwise
    * re-evaluate the corpus-sized chain per reference. F-prefixed names so
    * the chain composes with the bounded knnIvfChain in one WITH clause.
    */
  private val knnFullChain: String =
    s"""ef AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |fcc AS (SELECT label, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(CAST(embedding AS DOUBLE[])[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
      |fcent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM fcc GROUP BY label),
      |fdots AS (SELECT ef.vec_id, c.cell, list_dot_product(ef.emb, c.cvec) AS d FROM ef CROSS JOIN fcent c),
      |fcr AS MATERIALIZED (SELECT vec_id, cell, d, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS crn FROM fdots),
      |fasg AS MATERIALIZED (SELECT vec_id, cell, d FROM fcr WHERE crn = 1),
      |fasg2 AS (SELECT vec_id, cell, d FROM fcr WHERE crn BETWEEN 2 AND $PC),
      |fm AS (SELECT GREATEST(1, CAST(ceil(sqrt(COUNT(*)) / 10.0) AS BIGINT)) AS m FROM fasg),
      |frtd AS MATERIALIZED (SELECT vec_id, cell, d, ((ROW_NUMBER() OVER (PARTITION BY cell ORDER BY d DESC, vec_id) - 1) * (SELECT m FROM fm)) // (COUNT(*) OVER (PARTITION BY cell)) AS bucket FROM fasg),
      |fbnd AS (SELECT cell, bucket, MIN(d) AS lo FROM frtd GROUP BY cell, bucket),
      |fmap AS (SELECT g.vec_id, g.cell, COALESCE(MIN(b.bucket) FILTER (WHERE b.lo <= g.d), MAX(b.bucket)) AS bucket FROM fasg2 g JOIN fbnd b ON b.cell = g.cell GROUP BY g.vec_id, g.cell),
      |fprb AS (SELECT vec_id, cell, bucket FROM frtd UNION ALL SELECT vec_id, cell, bucket FROM fmap),
      |fcand AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM fprb a JOIN frtd b ON b.cell = a.cell AND b.bucket BETWEEN a.bucket - $PW AND a.bucket + $PW AND b.vec_id <> a.vec_id),
      |frk AS MATERIALIZED (SELECT a_id, b_id, dot, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rn FROM (SELECT c.a_id, c.b_id, list_dot_product(ae.emb, be.emb) AS dot FROM fcand c JOIN ef ae ON ae.vec_id = c.a_id JOIN ef be ON be.vec_id = c.b_id))"""
      .stripMargin.replace("\n", " ")

  /** TWO-SNAPSHOT kNN candidate chain (round 12), mirroring the
    * incremental `index_update_vecsearch` protocol exactly: centroids and
    * equal-depth bucket boundaries trained on the BASE slice only
    * (`NOT (${IndexStore.VecDeltaPred})`), every vector assigned against
    * them; base vectors take their base-ranking bucket, delta vectors are
    * dot-range-mapped into the FROZEN base buckets (the same COALESCE
    * mapping the alt-cell probes use); probes = own + alt-cell centers
    * (ranks 2..PC) per vector, membership = base routing ∪ mapped delta.
    * Yields
    * `g2cand(a_id, b_id)` — counts only, no dots needed (the manifest
    * checks are pure (cell, bucket) membership). G2-prefixed so the chain
    * composes with the bounded and full chains in one WITH clause.
    */
  private val knnTwoSnapChain: String = {
    val vd = graft.ops.IndexStore.VecDeltaPred
    s"""ef2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
      |g2cc AS (SELECT label, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(emb[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c FROM ef2, range(1, 65) t(i) WHERE NOT ($vd) GROUP BY label, i),
      |g2cent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM g2cc GROUP BY label),
      |g2dots AS (SELECT ef2.vec_id, c.cell, list_dot_product(ef2.emb, c.cvec) AS d FROM ef2 CROSS JOIN g2cent c),
      |g2cr AS MATERIALIZED (SELECT vec_id, cell, d, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS crn FROM g2dots),
      |g2own AS MATERIALIZED (SELECT vec_id, cell, d FROM g2cr WHERE crn = 1),
      |g2sec AS (SELECT vec_id, cell, d FROM g2cr WHERE crn BETWEEN 2 AND $PC),
      |g2ownb AS (SELECT vec_id, cell, d FROM g2own WHERE NOT ($vd)),
      |g2m AS (SELECT GREATEST(1, CAST(ceil(sqrt(COUNT(*)) / 10.0) AS BIGINT)) AS m FROM g2ownb),
      |g2rt AS MATERIALIZED (SELECT vec_id, cell, d, ((ROW_NUMBER() OVER (PARTITION BY cell ORDER BY d DESC, vec_id) - 1) * (SELECT m FROM g2m)) // (COUNT(*) OVER (PARTITION BY cell)) AS bucket FROM g2ownb),
      |g2bnd AS (SELECT cell, bucket, MIN(d) AS lo FROM g2rt GROUP BY cell, bucket),
      |g2mapo AS (SELECT g.vec_id, g.cell, COALESCE(MIN(b.bucket) FILTER (WHERE b.lo <= g.d), MAX(b.bucket)) AS bucket FROM g2own g JOIN g2bnd b ON b.cell = g.cell WHERE $vd GROUP BY g.vec_id, g.cell),
      |g2maps AS (SELECT g.vec_id, g.cell, COALESCE(MIN(b.bucket) FILTER (WHERE b.lo <= g.d), MAX(b.bucket)) AS bucket FROM g2sec g JOIN g2bnd b ON b.cell = g.cell GROUP BY g.vec_id, g.cell),
      |g2mem AS MATERIALIZED (SELECT vec_id, cell, bucket FROM g2rt UNION ALL SELECT vec_id, cell, bucket FROM g2mapo),
      |g2prb AS (SELECT vec_id, cell, bucket FROM g2mem UNION ALL SELECT vec_id, cell, bucket FROM g2maps),
      |g2cand AS MATERIALIZED (SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM g2prb a JOIN g2mem b ON b.cell = a.cell AND b.bucket BETWEEN a.bucket - $PW AND a.bucket + $PW AND b.vec_id <> a.vec_id)"""
      .stripMargin.replace("\n", " ")
  }

  /** Shared drift-audit CTE chain (M111 vec_centroid_drift + M112
    * index_policy_vecsearch), mirroring Similarity.driftAudit exactly:
    * frozen-base vs fresh-current centroids (shared 2^20 fixed-point
    * M-step), member counts, FULL OUTER on cell (ADVICE r12 #2 — a
    * delta-only cell surfaces as untrained = 1 / n_base = 0 / NULL drift
    * instead of being dropped; a vanished cell as n_now = 0 / NULL
    * drift). Yields `aud(cell, n_base, n_now, l2_drift, untrained)`.
    */
  private val driftAuditSql: String =
    s"""WITH bcc AS (SELECT label, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(CAST(embedding AS DOUBLE[])[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c FROM embeddings, range(1, 65) t(i) WHERE NOT (${graft.ops.IndexStore.VecDeltaPred}) GROUP BY label, i),
      |bcent AS (SELECT label AS cell, list(c ORDER BY dim) AS bv FROM bcc GROUP BY label),
      |ncc AS (SELECT label, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(CAST(embedding AS DOUBLE[])[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
      |ncent AS (SELECT label AS cell, list(c ORDER BY dim) AS nv FROM ncc GROUP BY label),
      |nb AS (SELECT label AS cell, COUNT(*) AS n_base FROM embeddings WHERE NOT (${graft.ops.IndexStore.VecDeltaPred}) GROUP BY label),
      |nn AS (SELECT label AS cell, COUNT(*) AS n_now FROM embeddings GROUP BY label),
      |bj AS (SELECT b.cell, b.bv, nb.n_base FROM bcent b LEFT JOIN nb ON nb.cell = b.cell),
      |nj AS (SELECT n2.cell, n2.nv, nn.n_now FROM ncent n2 LEFT JOIN nn ON nn.cell = n2.cell),
      |dvr AS (SELECT COALESCE(bj.cell, nj.cell) AS cell, COALESCE(bj.n_base, 0) AS n_base, COALESCE(nj.n_now, 0) AS n_now,
      |CASE WHEN bj.bv IS NULL OR nj.nv IS NULL THEN NULL ELSE list_transform(range(1, 65), i -> bj.bv[CAST(i AS INT)] - nj.nv[CAST(i AS INT)]) END AS d,
      |CASE WHEN bj.bv IS NULL THEN 1 ELSE 0 END AS untrained
      |FROM bj FULL JOIN nj ON nj.cell = bj.cell),
      |aud AS (SELECT cell, n_base, n_now, round(sqrt(list_dot_product(d, d)), 6) + 0.0 AS l2_drift, untrained FROM dvr)"""
      .stripMargin.replace("\n", " ")

  /** graph_kcore_full: the unrolled fixpoint peel (see the map entry's
    * comment for the soundness argument). Generated — 15 structurally
    * identical (degree-agg → survivor-filter → induced-edges) stages.
    * R/K must equal Similarity.KcoreFullMaxRounds/KcoreFullK (asserted by
    * Round11Spec).
    */
  private val kcoreFullSql: String = {
    // interpolated from the engine constants (ADVICE r11 #1 discipline):
    // bumping K or the round budget regenerates the unrolled SQL with it
    val R = graft.ops.Similarity.KcoreFullMaxRounds
    val K = graft.ops.Similarity.KcoreFullK
    val rounds = (1 to R).map { r =>
      val prev = s"e${r - 1}"
      s"a$r AS MATERIALIZED (SELECT x FROM (SELECT x, COUNT(*) AS deg FROM " +
        s"(SELECT u AS x FROM $prev UNION ALL SELECT v FROM $prev) GROUP BY x) WHERE deg >= $K), " +
        s"e$r AS MATERIALIZED (SELECT u, v FROM $prev WHERE u IN (SELECT x FROM a$r) AND v IN (SELECT x FROM a$r))"
    }.mkString(", ")
    val cntRows = (s"SELECT 0 AS r, CAST(0 AS BIGINT) AS n_alive, (SELECT COUNT(*) FROM e0) AS n_edges" +:
      (1 to R).map { r =>
        s"SELECT $r, (SELECT COUNT(*) FROM a$r), (SELECT COUNT(*) FROM e$r)"
      }).mkString(" UNION ALL ")
    "WITH " + knnFullChain +
      s", knn AS MATERIALIZED (SELECT a_id, b_id FROM frk WHERE rn <= $KF), " +
      // MUTUAL edges only (reciprocated in both top-8 lists), canonical u<v
      "e0 AS MATERIALIZED (SELECT a.a_id AS u, a.b_id AS v FROM knn a " +
      "JOIN knn b ON b.a_id = a.b_id AND b.b_id = a.a_id WHERE a.a_id < a.b_id), " +
      rounds +
      s", cnts AS ($cntRows)" +
      ", pick AS (SELECT r, n_alive, n_edges, lag(n_edges) OVER (ORDER BY r) AS prev_e FROM cnts)" +
      ", fix AS (SELECT MIN(r) AS nr FROM pick WHERE r >= 1 AND n_edges = prev_e) " +
      s"SELECT CAST($K AS INT) AS k_core, CAST(coalesce((SELECT nr FROM fix), $R) AS INT) AS n_rounds, " +
      "CAST(CASE WHEN (SELECT nr FROM fix) IS NULL THEN 0 ELSE 1 END AS INT) AS converged, " +
      "CAST(n_alive AS BIGINT) AS n_alive, CAST(n_edges AS BIGINT) AS n_edges " +
      s"FROM pick WHERE r = coalesce((SELECT nr FROM fix), $R)"
  }

  /** Shared LSH pipeline CTE chain (shingles → signatures → bands →
    * candidates → shingle counts → intersections) for doc_id < 200; used
    * by dedup_minhash_pairs and dedup_connected_components.
    */
  private val lshPairChain: String =
    s"${shingleCte("WHERE doc_id < 200")}, " +
      s"sig AS ($sigSelect), " +
      "band AS (SELECT doc_id, md5(s0 || s1) AS b FROM sig UNION ALL SELECT doc_id, md5(s2 || s3) FROM sig), " +
      "cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id FROM band x JOIN band y ON x.b = y.b AND x.doc_id < y.doc_id), " +
      "cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), " +
      "inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS ni FROM cand c JOIN sh x ON x.doc_id = c.a_id " +
      "JOIN sh y ON y.doc_id = c.b_id AND y.s = x.s GROUP BY c.a_id, c.b_id)"

  /** The unbounded shingle CTE (all documents), for corpus-level ops. */
  private val shingleCteAll: String = shingleCte("")

  /** 16-bit simhash SQL, generated to mirror Dedup.simhash exactly. */
  private val simhashSql: String = {
    val bitCases = (1 to 16).map(j =>
      s"SUM(CASE WHEN substring(h, $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j")
      .mkString(", ")
    val simExpr = (1 to 16).map(j => s"(CASE WHEN b$j > 0 THEN ${1 << (j - 1)} ELSE 0 END)").mkString(" + ")
    "WITH tok AS (SELECT doc_id, md5(w) AS h FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)), " +
      s"sums AS (SELECT doc_id, $bitCases FROM tok GROUP BY doc_id) " +
      s"SELECT doc_id, CAST($simExpr AS INT) AS simhash FROM sums ORDER BY doc_id"
  }

  /** Transitive-closure component labels over the LSH-verified pair graph:
    * the recursive chain up to per-node component labels, reused by the
    * CC contract queries (dedup_connected_components and its
    * large-star/small-star twin dedup_connected_components_v2) AND the
    * canonical-pick composition below.
    */
  private val componentChain: String =
    s"WITH RECURSIVE $lshPairChain, " +
      "pairs AS (SELECT i.a_id, i.b_id FROM inter i " +
      "JOIN cnt ca ON ca.doc_id = i.a_id JOIN cnt cb ON cb.doc_id = i.b_id " +
      "WHERE CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) >= 0.8), " +
      "edges AS (SELECT a_id AS a, b_id AS b FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
      "reach AS (SELECT a AS node, a AS label FROM edges " +
      "UNION SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node), " +
      "comp AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node)"

  private val connectedComponentsSql: String =
    s"$componentChain SELECT doc_id, component FROM comp ORDER BY doc_id"

  /** Top-2-per-customer oracle, shared by the window query (topk_per_group)
    * and its mergeable TopKSketch twin (topk_per_group_agg).
    */
  private val topkPerGroupSql: String =
    """SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |FROM orders) t WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin.replace("\n", " ")

  /** Pairwise cosine oracle, shared by the HOF query (vec_cosine_pairs) and
    * its codegen'd DotProduct twin (vec_cosine_pairs_native).
    */
  private val vecCosinePairsSql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 30)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) + 0.0 AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")

  /** Language-ID SQL, generated from the same lists as TextAnalysis.langId. */
  private val langIdSql: String = {
    val langs = graft.ops.TextAnalysis.langWords
    val names = langs.map(_._1)
    val scoreCols = langs.map { case (l, ws) =>
      val lst = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(toks, x -> list_contains([$lst], x))) AS INT) AS score_$l"
    }.mkString(", ")
    val predCase = names.init.zipWithIndex.map { case (l, i) =>
      val conds = names.drop(i + 1).map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${names.last}' END")
    "WITH t AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM documents), " +
      s"s1 AS (SELECT doc_id, lang, $scoreCols FROM t), " +
      s"s2 AS (SELECT *, $predCase AS pred FROM s1) " +
      "SELECT doc_id, lang, " + names.map(l => s"score_$l").mkString(", ") +
      ", pred, CAST(pred = lang AS INT) AS correct FROM s2 ORDER BY doc_id"
  }

  val all: Map[String, String] = Map(
    "scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
        |l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin.replace("\n", " "),

    "source_events_ns" ->
      (EV + "SELECT event_id, ts_us, event_type, value FROM ev ORDER BY event_id"),

    "source_json_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin.replace("\n", " "),

    "filter_complex_pred" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '5-LOW')
        |AND (o_totalprice BETWEEN 50000.0 AND 150000.0 OR o_orderstatus = 'F')
        |AND o_orderpriority NOT LIKE '5-%'
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "filter_null_semantics" ->
      """SELECT l_returnflag,
        |COUNT(*) AS n_all,
        |COUNT(NULLIF(l_discount, 0.0)) AS n_disc,
        |CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_disc,
        |CAST(SUM(CAST(COALESCE(NULLIF(l_discount, 0.0), -1.0) AS DECIMAL(18,2))) AS DOUBLE) AS disc_sum
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    // ── joins ──
    "join_inner_equi" ->
      """SELECT c_custkey, c_name, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "join_broadcast_dim" ->
      """SELECT p_brand,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", " "),

    "join_bloom_pruned" ->
      """SELECT o_orderstatus, COUNT(*) AS n_items,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    "join_multiway_star" ->
      """SELECT n_name,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_items
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " "),

    "join_left_outer" ->
      """SELECT o_orderkey, COUNT(l_linenumber) AS n_items,
        |CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(12,2))), 0) AS DOUBLE) AS qty_sum
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "join_full_outer" ->
      """SELECT c_custkey, s_suppkey, c_nationkey, s_nationkey
        |FROM customer FULL OUTER JOIN supplier ON c_nationkey = s_nationkey
        |ORDER BY c_custkey ASC NULLS FIRST, s_suppkey ASC NULLS FIRST""".stripMargin.replace("\n", " "),

    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "join_anti" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "join_cross" ->
      """SELECT r_regionkey, n_nationkey, r_name || '-' || n_name AS label
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin.replace("\n", " "),

    // ── aggregations ──
    "agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        |ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity), 6) AS avg_qty,
        |ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice), 6) AS avg_price,
        |ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_discount), 6) AS avg_disc,
        |COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),

    "agg_count_distinct" ->
      """SELECT n_name, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name HAVING COUNT(*) > 10
        |ORDER BY n_name""".stripMargin.replace("\n", " "),

    "agg_multi_distinct" ->
      """SELECT l_returnflag,
        |COUNT(DISTINCT l_partkey) AS n_parts,
        |COUNT(DISTINCT l_suppkey) AS n_supps,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    // ── sort / limit / top-k ──
    "sort_multi_nulls" ->
      """SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status_n, o_totalprice
        |FROM orders
        |ORDER BY status_n ASC NULLS FIRST, o_totalprice DESC, o_orderkey""".stripMargin.replace("\n", " "),

    "limit_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", " "),

    "topk_per_group" -> topkPerGroupSql,
    // the mergeable TopKSketch twin keeps the same (score DESC, key ASC)
    // order and k=2, so it shares the oracle verbatim
    "topk_per_group_agg" -> topkPerGroupSql,

    // md5 order is bit-identical cross-engine → exact same quota per stratum
    "sample_stratified_quota" ->
      """SELECT doc_id, source, rk FROM (
        |SELECT doc_id, source,
        |ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |FROM documents) t WHERE rk <= 30
        |ORDER BY source, rk""".stripMargin.replace("\n", " "),

    // md5 is bit-identical cross-engine → exact same sample set
    "sample_hash_bucket" ->
      """SELECT o_orderkey, substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) AS bucket, o_totalprice
        |FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '19'
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    // ── window functions ──
    "win_rank_topn" ->
      """SELECT * FROM (SELECT c_nationkey, c_custkey, c_acctbal,
        |ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rk, DENSE_RANK() OVER w AS drk
        |FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)) t
        |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin.replace("\n", " "),

    "win_running_total" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey
        |ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin.replace("\n", " "),

    "win_lead_lag" ->
      (EV + """SELECT user_id, event_id, ts_us, event_type,
        |ts_us - LAG(ts_us) OVER w AS gap_us,
        |LEAD(event_type) OVER w AS next_type
        |FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin.replace("\n", " ")),

    "win_range_frame" ->
      (EV + """SELECT user_id, event_id, ts_us,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts_us
        |RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_1h
        |FROM ev ORDER BY user_id, ts_us, event_id""".stripMargin.replace("\n", " ")),

    "win_ntile_pct" ->
      """SELECT c_custkey, c_acctbal,
        |NTILE(4) OVER w AS quartile,
        |ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |ROUND(CUME_DIST() OVER w, 6) AS cume
        |FROM customer WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    // identical oracle to win_ntile_pct: the two-pass range-partitioned
    // implementation must agree exactly with the global-window semantics
    "win_ntile_scalable" ->
      """SELECT c_custkey, c_acctbal,
        |NTILE(4) OVER w AS quartile,
        |ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |ROUND(CUME_DIST() OVER w, 6) AS cume
        |FROM customer WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "win_nth_value" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |NTH_VALUE(c_acctbal, 2) OVER wf AS second_bal,
        |NTH_VALUE(c_acctbal, 3) OVER wf AS third_bal,
        |LAG(c_acctbal, 2, -1.0) OVER w AS prev2_bal,
        |LEAD(c_acctbal, 2, -1.0) OVER w AS next2_bal
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey),
        |wf AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
        |ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_nationkey, c_acctbal DESC, c_custkey""".stripMargin.replace("\n", " "),

    "win_first_last" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |FIRST_VALUE(c_acctbal) OVER w AS top_bal,
        |LAST_VALUE(c_acctbal) OVER w AS bottom_bal,
        |CAST(CAST(FIRST_VALUE(c_acctbal) OVER w AS DECIMAL(12,2)) - CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS spread
        |FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
        |ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_nationkey, c_acctbal DESC, c_custkey""".stripMargin.replace("\n", " "),

    // ── grouping analytics / stats / pivot ──
    "agg_rollup" ->
      """SELECT r_name, n_name,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_orders,
        |CAST(GROUPING(r_name) AS INT) AS g_r, CAST(GROUPING(n_name) AS INT) AS g_n
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin.replace("\n", " "),

    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin.replace("\n", " "),

    // portable UNION ALL form of Spark's Expand-based unpivot
    "unpivot_measures" ->
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem) u
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin.replace("\n", " "),

    // outer-unnest emulation: empty lists yield one NULL row
    "explode_outer_tokens" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 8) AS lt
        |FROM documents WHERE doc_id < 40)
        |SELECT doc_id, unnest(CASE WHEN len(lt) = 0 THEN [NULL] ELSE lt END) AS long_tok
        |FROM t ORDER BY doc_id, long_tok NULLS FIRST""".stripMargin.replace("\n", " "),

    // DuckDB map extraction returns a 0/1-element list → index [1]
    "fn_map_suite" ->
      """WITH m AS (SELECT p_partkey, map {'brand': p_brand, 'type': p_type} AS m FROM part)
        |SELECT p_partkey,
        |array_to_string(map_keys(m), ',') AS keys_csv,
        |array_to_string(map_values(m), ',') AS vals_csv,
        |m['brand'][1] AS brand_val,
        |CAST(cardinality(m) AS INT) AS n_entries
        |FROM m ORDER BY p_partkey""".stripMargin.replace("\n", " "),

    // flatMapGroupsWithState sessionizer in batch: islands sessions on
    // ts_us minus each user's latest (still-open) session
    "stream_session_custom" ->
      (EV + """, l AS (SELECT user_id, ts_us,
        |CASE WHEN LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
        |OR ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
        |THEN 1 ELSE 0 END AS new_s FROM ev),
        |g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l),
        |sess AS (SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) + 1800000000 AS end_us,
        |COUNT(*) AS n FROM g GROUP BY user_id, sid),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY start_us DESC) AS rn FROM sess)
        |SELECT user_id, start_us, end_us, CAST(n AS INT) AS n FROM r WHERE rn > 1
        |ORDER BY user_id, start_us""".stripMargin.replace("\n", " ")),

    // transformWithState (state v2) in batch ≡ plain per-key count
    "stream_stateful_count_v2" ->
      (EV + """SELECT user_id, COUNT(*) AS n_events FROM ev
        |GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " ")),

    // mapGroupsWithState in batch ≡ plain per-key count
    "stream_stateful_count" ->
      (EV + """SELECT user_id, COUNT(*) AS n_events FROM ev
        |GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " ")),

    "stream_dedup_keep_first" ->
      (EV + """SELECT user_id, event_type, ts_us, event_id FROM (
        |SELECT user_id, event_type, ts_us, event_id,
        |ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts_us, event_id) AS rn
        |FROM ev) t WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin.replace("\n", " ")),

    // NOTE: runs verbatim in BOTH Spark and DuckDB (shared text, see E6).
    "agg_grouping_sets" ->
      """SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal_sum
        |FROM customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin.replace("\n", " "),

    "agg_stats" ->
      """SELECT l_returnflag,
        |ROUND(STDDEV_SAMP(l_extendedprice), 6) AS sd_price,
        |ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
        |ROUND(CORR(l_extendedprice, l_quantity), 6) + 0.0 AS corr_pq,
        |ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 6) + 0.0 AS cov_pq
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "agg_regression" ->
      """SELECT l_returnflag,
        |round(regr_slope(l_extendedprice, l_quantity), 6) + 0.0 AS slope,
        |round(regr_intercept(l_extendedprice, l_quantity), 6) + 0.0 AS intercept,
        |round(regr_r2(l_extendedprice, l_quantity), 6) + 0.0 AS r2,
        |CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    "agg_collect_sorted" ->
      """SELECT l_orderkey, array_to_string(list_sort(list(l_linenumber)), ',') AS linenumbers
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin.replace("\n", " "),

    "agg_percentiles" ->
      """SELECT l_returnflag,
        |round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
        |round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        |round(quantile_cont(l_quantity, 0.25), 6) AS q1_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    // round-trips orders through a year-partitioned parquet layout; the
    // oracle aggregates the original table — values must survive the sink
    "sink_partitioned_stats" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM orders WHERE year(o_orderdate) = 1996
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    // format round-trips: the oracle aggregates the ORIGINAL table — values
    // must survive the JSON/CSV sink+source cycle exactly
    "source_json_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    "source_csv_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    // dim-filtered star query over the partitioned layout: joining the
    // distinct-year dim (filtered to leap years) ≡ filtering years % 4 = 0
    "join_dpp_partitioned" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM orders WHERE year(o_orderdate) % 4 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    // bucketed-layout round-trip: values must match the plain join
    "join_bucketed_colocated" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replace("\n", " "),

    "pivot_event_type" ->
      """SELECT user_id,
        |COUNT(*) FILTER (WHERE event_type = 'view') AS "view",
        |COUNT(*) FILTER (WHERE event_type = 'click') AS "click",
        |COUNT(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
        |COUNT(*) FILTER (WHERE event_type = 'signup') AS "signup",
        |COUNT(*) FILTER (WHERE event_type = 'error') AS "error"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " "),

    // ── set operations ──
    "set_union_all_distinct" ->
      """SELECT 'all' AS tag, c_nationkey AS nationkey FROM customer
        |UNION ALL SELECT 'all', s_nationkey FROM supplier
        |UNION ALL (SELECT 'dist' AS tag, nationkey FROM
        |(SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier) u)
        |ORDER BY tag, nationkey""".stripMargin.replace("\n", " "),

    "set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin.replace("\n", " "),

    "set_except_all" ->
      """SELECT 'except' AS tag, l_orderkey, l_linenumber FROM
        |((SELECT l_orderkey, l_linenumber FROM lineitem) EXCEPT ALL
        |(SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity > 25)) e
        |UNION ALL
        |SELECT 'intersect' AS tag, l_orderkey, l_linenumber FROM
        |((SELECT l_orderkey, l_linenumber FROM lineitem) INTERSECT ALL
        |(SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity > 25)) i
        |ORDER BY tag, l_orderkey, l_linenumber""".stripMargin.replace("\n", " "),

    // NOTE: runs verbatim in BOTH Spark and DuckDB (shared text).
    "agg_bool" ->
      """SELECT l_returnflag,
        |bool_and(l_quantity > 0) AS all_pos_qty,
        |bool_or(l_discount > 0.08) AS any_big_disc,
        |bool_and(l_shipdate >= TIMESTAMP '1995-01-01') AS all_after_95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    // NOTE: runs verbatim in BOTH Spark and DuckDB (shared text).
    "fn_try_cast" ->
      """SELECT o_orderkey,
        |TRY_CAST(o_orderstatus AS INT) AS status_as_int,
        |TRY_CAST(CAST(o_custkey AS STRING) AS INT) AS cust_roundtrip,
        |TRY_CAST('not a number' AS DOUBLE) AS bad_double,
        |TRY_CAST('  77 ' AS INT) AS padded_int
        |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    // NOTE: runs verbatim in BOTH Spark and DuckDB (shared text).
    "agg_filter_clause" ->
      """SELECT l_returnflag,
        |COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |COUNT(*) FILTER (WHERE l_discount = 0) AS n_nodisc,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS open_price,
        |COUNT(*) AS n_all
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    // NOTE: runs verbatim in BOTH Spark and DuckDB (shared text).
    // NOTE: runs verbatim in BOTH Spark and DuckDB (shared text).
    "agg_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin.replace("\n", " "),

    // NOTE: runs verbatim in BOTH Spark and DuckDB (shared text).
    "subquery_not_exists" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |AND NOT EXISTS (SELECT 1 FROM orders o2
        |WHERE o2.o_custkey = c.c_custkey AND o2.o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "subquery_in" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    // NOTE: runs verbatim in BOTH Spark and DuckDB (shared text).
    "join_lateral_topn" ->
      """SELECT n_name, c.c_custkey, c.c_acctbal FROM nation, LATERAL (
        |SELECT c_custkey, c_acctbal FROM customer WHERE c_nationkey = n_nationkey
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin.replace("\n", " "),

    // ── subqueries / CTE (shared text: runs verbatim in BOTH engines) ──
    "subquery_scalar_uncorr" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM customer)
        |ORDER BY c_custkey""".stripMargin.replace("\n", " "),

    "subquery_correlated" ->
      """SELECT p_partkey, p_brand, p_retailprice FROM part p
        |WHERE p_retailprice > (SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
        |FROM part p2 WHERE p2.p_brand = p.p_brand)
        |ORDER BY p_partkey""".stripMargin.replace("\n", " "),

    // param grid × facts, one pass; per-row error is integer-valued so the
    // double sum is order-independent
    "param_sweep_argmin" ->
      """WITH grid AS (SELECT DISTINCT l_linenumber AS p FROM lineitem)
        |SELECT p, total_err, n, rank_err FROM (
        |SELECT p, SUM(ABS(l_quantity - 25 - p)) AS total_err, COUNT(*) AS n,
        |ROW_NUMBER() OVER (ORDER BY SUM(ABS(l_quantity - 25 - p)), p) AS rank_err
        |FROM lineitem CROSS JOIN grid GROUP BY p) t
        |ORDER BY rank_err""".stripMargin.replace("\n", " "),

    "cte_reuse" ->
      """WITH rev AS (SELECT l_suppkey,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DECIMAL(18,4)) AS total_rev
        |FROM lineitem GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin.replace("\n", " "),

    // ── scalar function suites ──
    "fn_string_suite" ->
      """SELECT p_partkey,
        |upper(p_name) AS up, lower(p_brand) AS lo,
        |substring(p_name, 1, 5) AS sub5,
        |trim('  ' || p_name || '  ') AS trimmed,
        |lpad(p_brand, 10, '*') AS lpadded,
        |concat_ws('/', p_name, p_type) AS joined,
        |replace(p_name, 'a', '@') AS replaced,
        |CAST(length(p_name) AS INT) AS len,
        |CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
        |regexp_extract(p_brand, '(\d+)', 1) AS brand_num,
        |translate(p_type, 'AEIOU', 'aeiou') AS translated
        |FROM part ORDER BY p_partkey""".stripMargin.replace("\n", " "),

    "fn_string_suite2" ->
      """SELECT p_partkey,
        |regexp_replace(p_brand, '[0-9]+', 'N', 'g') AS brand_norm,
        |split_part(p_type, ' ', 2) AS type_mid,
        |CAST(strpos(p_name, 'a') AS INT) AS pos_a,
        |left(p_name, 3) AS head3,
        |right(p_name, 3) AS tail3,
        |repeat('*', CAST(p_partkey % 3 + 1 AS INT)) AS stars,
        |reverse(p_brand) AS brand_rev,
        |starts_with(p_name, 'part') AS is_part,
        |ends_with(p_type, 'steel') AS is_steel,
        |contains(p_name, '0') AS has_zero
        |FROM part ORDER BY p_partkey""".stripMargin.replace("\n", " "),

    "fn_date_suite" ->
      """SELECT o_orderkey, o_orderdate,
        |CAST(year(o_orderdate) AS INT) AS y,
        |CAST(month(o_orderdate) AS INT) AS m,
        |CAST(day(o_orderdate) AS INT) AS d,
        |CAST(quarter(o_orderdate) AS INT) AS q,
        |date_trunc('month', o_orderdate) AS month_start,
        |o_orderdate + INTERVAL 30 DAY AS plus30,
        |CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_2000,
        |CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "fn_date_extra" ->
      """SELECT o_orderkey,
        |o_orderdate + INTERVAL 3 MONTH AS plus3m,
        |CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
        |date_trunc('quarter', o_orderdate) AS quarter_start,
        |CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "arr_transform_suite" ->
      """WITH a AS (SELECT l_orderkey, list_sort(list(l_linenumber)) AS lns
        |FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, array_to_string(lns, ',') AS lns,
        |array_to_string(list_reverse(lns), ',') AS lns_desc,
        |CAST(list_position(lns, 1) AS INT) AS pos_of_1,
        |list_contains(lns, 3) AS has_3,
        |array_to_string(flatten([lns, lns]), ',') AS doubled,
        |array_to_string(range(1, len(lns) + 1), ',') AS idx
        |FROM a ORDER BY l_orderkey""".stripMargin.replace("\n", " "),

    "fn_math_suite" ->
      """SELECT l_orderkey, l_linenumber,
        |round(sqrt(l_extendedprice), 6) AS sqrt_p,
        |round(ln(l_extendedprice), 6) AS ln_p,
        |round(log10(l_extendedprice), 6) AS log10_p,
        |round(pow(l_quantity, 2), 6) AS qty_sq,
        |CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
        |CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
        |round(abs(l_discount - 0.05), 6) AS abs_d,
        |l_quantity % 7 AS qty_mod7,
        |CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin.replace("\n", " "),

    "fn_conditional" ->
      """SELECT o_orderkey,
        |CASE WHEN o_totalprice < 50000 THEN 'low'
        |WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS tier,
        |COALESCE(NULLIF(o_orderstatus, 'O'), 'X') AS status_x,
        |greatest(o_totalprice, 100000.0) AS gmax,
        |least(o_totalprice, 100000.0) AS lmin
        |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "fn_cast_decimal" ->
      """SELECT o_orderkey,
        |CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
        |CAST(o_custkey AS VARCHAR) AS cust_str,
        |CAST(TRIM('  42 ') AS INT) AS answer,
        |CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(18,2)) AS DOUBLE) AS doubled,
        |CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) + CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS DOUBLE) AS summed
        |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "fn_hash_md5" ->
      """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256,
        |substring(md5(text), 1, 2) AS prefix
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "fn_json_suite" ->
      """WITH j AS (SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
        |SELECT k % 10 AS bucket, COUNT(*) AS n, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin.replace("\n", " "),

    // ── UDF / UDAF ──
    "udf_score" ->
      """SELECT o_orderkey, o_totalprice,
        |round(1.0 / (1.0 + exp(-(o_totalprice - 100000.0) / 50000.0)), 6) AS score
        |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "expr_score_native" ->
      """SELECT o_orderkey, o_totalprice,
        |round(1.0 / (1.0 + exp(-(o_totalprice - 100000.0) / 50000.0)), 6) AS score
        |FROM orders ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "udaf_weighted_avg" ->
      """SELECT p_brand,
        |round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |/ CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 6) AS wavg_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin.replace("\n", " "),

    // ── array / vector ──
    "arr_scalar_suite" ->
      """SELECT vec_id,
        |CAST(len(embedding) AS INT) AS dim,
        |round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_elem,
        |round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) + 0.0 AS sum_all,
        |round(CAST(list_min(embedding) AS DOUBLE), 4) + 0.0 AS min_e,
        |round(CAST(list_max(embedding) AS DOUBLE), 4) + 0.0 AS max_e,
        |CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        |round(list_sum(list_transform(embedding[2:4], x -> CAST(x AS DOUBLE))), 4) + 0.0 AS sum_2_4
        |FROM embeddings ORDER BY vec_id""".stripMargin.replace("\n", " "),

    "vec_cosine_pairs" -> vecCosinePairsSql,
    // the codegen'd DotProduct twin is IEEE-identical to the HOF form, so
    // it shares the oracle verbatim
    "vec_cosine_pairs_native" -> vecCosinePairsSql,

    "vec_error_metrics" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |list_transform(list_zip(a.embedding, b.embedding),
        |z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS d
        |FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id,
        |round(list_sum(list_transform(d, x -> x * x)) / len(d), 6) AS mse,
        |round(list_sum(list_transform(d, x -> abs(x))) / len(d), 6) AS mae,
        |round(list_max(list_transform(d, x -> abs(x))), 6) AS max_err
        |FROM p ORDER BY a_id, b_id""".stripMargin.replace("\n", " "),

    // floor(x/scale + 0.5) is pure IEEE → identical quantization both
    // engines; error term uses explicit d*d (pow may differ in last ulp)
    "vec_quantize_int8" ->
      """WITH e AS (SELECT vec_id, embedding,
        |list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |FROM embeddings WHERE vec_id < 100),
        |q AS (SELECT vec_id, embedding, scale,
        |list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT)) AS qv FROM e)
        |SELECT vec_id, round(scale, 6) AS scale6,
        |array_to_string(qv, ',') AS q_csv,
        |round(list_sum(list_transform(list_zip(embedding, qv),
        |z -> (CAST(z[1] AS DOUBLE) - z[2] * scale) * (CAST(z[1] AS DOUBLE) - z[2] * scale))) / len(embedding), 9) AS mse
        |FROM q ORDER BY vec_id""".stripMargin.replace("\n", " "),

    "vec_knn_topk" ->
      """SELECT a_id, b_id, round(sim_raw, 4) + 0.0 AS sim, rn FROM (
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim_raw,
        |ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
        |FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id) t
        |WHERE rn <= 5 ORDER BY a_id, rn""".stripMargin.replace("\n", " "),

    "vec_centroid_by_label" ->
      """SELECT label, CAST(i - 1 AS INT) AS dim,
        |round(CAST(SUM(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 4) + 0.0 AS centroid, COUNT(*) AS n
        |FROM embeddings, range(1, 65) t(i) GROUP BY label, i ORDER BY label, dim""".stripMargin.replace("\n", " "),

    // ── text ──
    "text_token_explode" ->
      """SELECT doc_id, CAST(generate_subscripts(tokens, 1) - 1 AS INT) AS pos, unnest(tokens) AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents WHERE doc_id < 20)
        |ORDER BY doc_id, pos""".stripMargin.replace("\n", " "),

    "text_wordcount" ->
      """SELECT word, COUNT(*) AS n FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin.replace("\n", " "),

    "text_jaccard_pairs" ->
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id < 10),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS ni
        |FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |CAST(COALESCE(i.ni, 0) AS INT) AS inter,
        |CAST(a.n + b.n - COALESCE(i.ni, 0) AS INT) AS uni,
        |round(CAST(COALESCE(i.ni, 0) AS DOUBLE) / (a.n + b.n - COALESCE(i.ni, 0)), 4) AS jaccard
        |FROM cnt a JOIN cnt b ON a.doc_id < b.doc_id
        |LEFT JOIN inter i ON i.a_id = a.doc_id AND i.b_id = b.doc_id
        |ORDER BY a_id, b_id""".stripMargin.replace("\n", " "),

    "text_exact_dedup" ->
      """SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique
        |FROM documents GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    "text_tfidf_top" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id < 50),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY w),
        |n AS (SELECT COUNT(*) AS n_docs FROM docs)
        |SELECT doc_id, term, tf, idf, round(tfidf, 6) AS tfidf FROM (
        |SELECT tf.doc_id, tf.w AS term, tf.tf,
        |round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS idf,
        |tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
        |ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY
        |tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) DESC, tf.w) AS rn
        |FROM tf JOIN df ON tf.w = df.w CROSS JOIN n) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_lang_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
        |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin.replace("\n", " "),

    // ── dedup family (md5-based signatures: bit-identical cross-engine) ──
    "dedup_minhash_sig" ->
      (s"WITH ${shingleCte("")} $sigSelect ORDER BY doc_id"),

    // same oracle as dedup_minhash_sig: the custom TypedImperativeAggregate
    // must produce bit-identical signatures
    "dedup_minhash_sig_agg" ->
      (s"WITH ${shingleCte("")} $sigSelect ORDER BY doc_id"),

    "join_skew_salted" ->
      """SELECT skew_key, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |MAX(p_retailprice) AS dim_price
        |FROM (SELECT CAST(CASE WHEN l_linenumber <= 5 THEN 0 ELSE l_orderkey % 50 END AS BIGINT) AS skew_key, l_quantity FROM lineitem) l
        |JOIN (SELECT p_partkey AS skew_key, p_retailprice FROM part WHERE p_partkey < 50) r USING (skew_key)
        |GROUP BY skew_key ORDER BY skew_key""".stripMargin.replace("\n", " "),

    "dedup_minhash_pairs" ->
      (s"WITH $lshPairChain " +
        "SELECT i.a_id, i.b_id, round(CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni), 4) AS jaccard " +
        "FROM inter i JOIN cnt ca ON ca.doc_id = i.a_id JOIN cnt cb ON cb.doc_id = i.b_id " +
        "WHERE CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) >= 0.8 ORDER BY a_id, b_id"),

    // same LSH-verified pairs → undirected graph → per-node component
    // minimum via a recursive transitive-closure CTE (the declarative twin
    // of both Spark-side algorithms: the min-label propagation loop and the
    // alternating large-star/small-star v2 — one oracle, two implementations)
    "dedup_connected_components" -> connectedComponentsSql,
    "dedup_connected_components_v2" -> connectedComponentsSql,

    "dedup_cluster_canonical" ->
      (componentChain +
        """ SELECT component,
          |arg_max(c.doc_id, d.n_chars * 1000000 - c.doc_id) AS canonical_doc,
          |COUNT(*) AS n_docs, CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
          |FROM comp c JOIN documents d ON d.doc_id = c.doc_id
          |GROUP BY component ORDER BY component""".stripMargin.replace("\n", " ")),

    "text_decontaminate_overlap" ->
      (s"WITH ${shingleCteAll}, " +
        """t AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 = 0),
          |tr AS (SELECT DISTINCT s FROM sh WHERE doc_id % 10 <> 0),
          |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM t GROUP BY 1),
          |hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM t
          |WHERE s IN (SELECT s FROM tr) GROUP BY 1)
          |SELECT tot.doc_id, tot.n_sh,
          |CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
          |round(COALESCE(hit.n_hit, 0) * 1.0 / tot.n_sh, 6) AS contamination
          |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
          |ORDER BY tot.doc_id""".stripMargin.replace("\n", " ")),

    "source_orc_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
        |MAX(o_orderdate) AS last_order
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    "sample_weighted_mix" ->
      """WITH a AS (SELECT doc_id, source,
        |CASE WHEN length(source) % 4 = 0 THEN '32' WHEN length(source) % 4 = 1 THEN '66'
        |WHEN length(source) % 4 = 2 THEN '99' ELSE 'cc' END AS thr FROM documents),
        |k AS (SELECT source, thr,
        |CASE WHEN substring(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 2) <= thr THEN 1 ELSE 0 END AS kept
        |FROM a)
        |SELECT source, thr, COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept,
        |round(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 4) AS kept_ratio
        |FROM k GROUP BY source, thr ORDER BY source""".stripMargin.replace("\n", " "),

    "text_pii_redact" ->
      """WITH e AS (SELECT doc_id,
        |text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example or +1-555-' ||
        |lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS enriched FROM documents)
        |SELECT doc_id,
        |CAST(len(regexp_extract_all(enriched, '[a-z0-9]+@[a-z][a-z.]*[a-z]')) AS INT) AS n_emails,
        |CAST(len(regexp_extract_all(enriched, '\+1-555-[0-9]{4}')) AS INT) AS n_phones,
        |md5(regexp_replace(regexp_replace(enriched, '[a-z0-9]+@[a-z][a-z.]*[a-z]', '<EMAIL>', 'g'),
        |'\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM e ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_chunk_split" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
        |len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, n, t, unnest(range(0, ((n - 1) // 40) + 1)) AS chunk_id FROM d)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |CAST(chunk_id * 40 + 1 AS BIGINT) AS start_tok,
        |CAST(least(50, n - (chunk_id * 40 + 1) + 1) AS BIGINT) AS n_tok,
        |md5(array_to_string(t[(chunk_id * 40 + 1):(chunk_id * 40 + 50)], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin.replace("\n", " "),

    // the same fingerprint-keyed merge, replicated stage by stage: batch
    // window-dedup → corpus-membership classification → keep rows → audit
    "pipeline_incremental_merge" ->
      """WITH f AS (SELECT doc_id, source,
        |md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS fp FROM documents),
        |ex AS (SELECT doc_id, source, fp FROM f WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, source, fp,
        |ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f WHERE doc_id % 3 = 0),
        |exf AS (SELECT DISTINCT fp FROM ex),
        |cls AS (SELECT b.doc_id, b.source,
        |CASE WHEN b.rn > 1 THEN 'batch_dup' WHEN exf.fp IS NOT NULL THEN 'dup' ELSE 'insert' END AS action
        |FROM b LEFT JOIN exf ON exf.fp = b.fp
        |UNION ALL SELECT doc_id, source, 'keep' AS action FROM ex)
        |SELECT action, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
        |MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM cls GROUP BY action ORDER BY action""".stripMargin.replace("\n", " "),

    "agg_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 25000.0), 23.0) AS BIGINT) AS bucket,
        |COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " "),

    "fn_regexp_suite" ->
      """SELECT doc_id,
        |regexp_extract(text, '[0-9]+') AS first_num,
        |regexp_extract(text, '([a-z]+)ing\b', 1) AS ing_stem,
        |regexp_replace(text, '[0-9]+', '#', 'g') AS nums_masked,
        |CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_nums,
        |CAST(len(regexp_extract_all(text, '\b[a-z]{7,}\b')) AS INT) AS n_long_words,
        |regexp_matches(text, '[aeiou]{3}') AS has_triple_vowel
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "arr_set_ops" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |['the','a','of','and','to','in','is'] AS stop FROM documents)
        |SELECT doc_id,
        |COALESCE(array_to_string(list_sort(list_distinct(list_intersect(toks, stop))), ','), '') AS stop_hits,
        |CAST(len(list_distinct(list_intersect(toks, stop))) AS INT) AS n_stop_distinct,
        |CAST(len(list_distinct(list_filter(toks, x -> NOT list_contains(stop, x)))) AS INT) AS n_content_distinct,
        |CAST(len(list_distinct(list_concat(toks, stop))) AS INT) AS n_union_distinct
        |FROM t ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "layout_zorder_stats" ->
      // independent arithmetic recomputation of the codegen'd bit
      // interleave: a-bits at even, b-bits at odd curve positions
      ("""WITH z AS (SELECT l_partkey, l_suppkey, ("""
        // every term fully parenthesized: DuckDB gives << and | EQUAL
        // precedence (left-associative), unlike Java/Spark
        + (0 until 16).map(i =>
            s"((((l_partkey % 65536) >> $i) & 1) << ${2 * i}) | " +
            s"((((l_suppkey % 65536) >> $i) & 1) << ${2 * i + 1})")
          .mkString(" | ")
        + """) AS zv FROM lineitem)
        |SELECT zv >> 24 AS bucket, COUNT(*) AS n,
        |MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
        |MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
        |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin).replace("\n", " "),

    // the merged incremental states must equal a full recompute over
    // the union — so the oracle IS the full recompute
    "agg_incremental_merge" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    "agg_robust_stats" ->
      """WITH b AS (SELECT l_returnflag,
        |round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
        |round(quantile_cont(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.25), 6) AS iqr_price
        |FROM lineitem GROUP BY 1),
        |m AS (SELECT l.l_returnflag,
        |round(quantile_cont(abs(l.l_extendedprice - b.median_price), 0.5), 6) AS mad_price
        |FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag GROUP BY 1)
        |SELECT b.l_returnflag, b.median_price, b.iqr_price, m.mad_price
        |FROM b JOIN m ON b.l_returnflag = m.l_returnflag
        |ORDER BY b.l_returnflag""".stripMargin.replace("\n", " "),

    "win_ratio_to_report" ->
      """WITH rev AS (SELECT r_name, n_name,
        |SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |GROUP BY r_name, n_name)
        |SELECT r_name, n_name, CAST(rev_dec AS DOUBLE) AS revenue,
        |round(CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE), 6) AS region_share,
        |round(CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER () AS DOUBLE), 6) AS total_share
        |FROM rev ORDER BY r_name, n_name""".stripMargin.replace("\n", " "),

    "topk_per_group_ties" ->
      """WITH t AS (SELECT o_orderpriority, o_orderkey,
        |CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM orders),
        |r AS (SELECT *, rank() OVER (PARTITION BY o_orderpriority ORDER BY cents DESC) AS rk FROM t)
        |SELECT o_orderpriority, CAST(rk AS INT) AS rk, o_orderkey,
        |CAST(cents AS DOUBLE) / 100 AS price_d
        |FROM r WHERE rk <= 3
        |ORDER BY o_orderpriority, rk, o_orderkey""".stripMargin.replace("\n", " "),

    "cte_recursive" ->
      // the recursion CARRIES its stop bound as a column: a scalar
      // subquery in the step predicate would re-scan orders once PER
      // ITERATION (~84 scans — measured 10 s at sf0.1 before this fix)
      """WITH RECURSIVE m(month, last_month) AS (
        |SELECT date_trunc('month', MIN(o_orderdate)),
        |date_trunc('month', MAX(o_orderdate)) FROM orders
        |UNION ALL
        |SELECT month + INTERVAL '1' MONTH, last_month FROM m
        |WHERE month < last_month
        |),
        |r AS (SELECT date_trunc('month', o_orderdate) AS month,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT m.month AS month, COALESCE(r.revenue, 0.0) AS revenue,
        |CAST(COALESCE(r.n_orders, 0) AS BIGINT) AS n_orders
        |FROM m LEFT JOIN r ON m.month = r.month ORDER BY month""".stripMargin.replace("\n", " "),

    "join_range_binned" ->
      (EV + """, c AS (SELECT DISTINCT date_trunc('week', ts) AS w FROM ev),
        |ci AS (SELECT epoch_us(CAST(w AS TIMESTAMP)) AS lo_us,
        |epoch_us(CAST(w AS TIMESTAMP)) + 172800000000 AS hi_us FROM c)
        |SELECT ci.lo_us AS campaign_us, COUNT(*) AS n_events,
        |COUNT(DISTINCT e.user_id) AS n_users
        |FROM ev e JOIN ci ON e.ts_us >= ci.lo_us AND e.ts_us <= ci.hi_us
        |GROUP BY 1 ORDER BY campaign_us""".stripMargin.replace("\n", " ")),

    "win_rolling_7d" ->
      """WITH daily AS (SELECT (o_orderdate::DATE - DATE '1970-01-01') AS d,
        |SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec,
        |COUNT(*) AS n_orders FROM orders GROUP BY 1)
        |SELECT d, CAST(rev_dec AS DOUBLE) AS revenue,
        |CAST(SUM(rev_dec) OVER (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d,
        |CAST(SUM(n_orders) OVER (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
        |FROM daily ORDER BY d""".stripMargin.replace("\n", " "),

    "set_union_by_name" ->
      """SELECT * FROM (
        |SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL BY NAME
        |SELECT o_orderkey, o_orderstatus,
        |CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_price
        |FROM orders WHERE o_orderkey % 2 <> 0)
        |ORDER BY o_orderkey""".stripMargin.replace("\n", " "),

    "win_streak_islands" ->
      """WITH days AS (SELECT DISTINCT o_custkey,
        |(o_orderdate::DATE - DATE '1970-01-01') AS d FROM orders),
        |i AS (SELECT o_custkey, d,
        |d - row_number() OVER (PARTITION BY o_custkey ORDER BY d) AS island FROM days),
        |s AS (SELECT o_custkey, island, COUNT(*) AS len FROM i GROUP BY 1, 2)
        |SELECT o_custkey, max(len) AS max_streak,
        |CAST(sum(len) AS BIGINT) AS n_active_days, COUNT(*) AS n_islands
        |FROM s GROUP BY 1 ORDER BY o_custkey""".stripMargin.replace("\n", " "),

    "fn_bitwise_suite" ->
      """SELECT l_orderkey, l_linenumber,
        |l_orderkey & 255 AS b_and,
        |l_orderkey | 4096 AS b_or,
        |xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS b_xor,
        |CAST(l_linenumber << 3 AS BIGINT) AS b_shl,
        |l_orderkey >> 2 AS b_shr,
        |CAST(bit_count(l_orderkey) AS BIGINT) AS b_pop
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin.replace("\n", " "),

    "win_cumulative_distinct" ->
      (EV + """, d AS (SELECT CAST(ts AS DATE) AS day, user_id FROM ev),
        |daily AS (SELECT day, COUNT(DISTINCT user_id) AS n_active_users
        |FROM d GROUP BY day),
        |fs AS (SELECT user_id, MIN(day) AS day FROM d GROUP BY user_id),
        |nw AS (SELECT day, COUNT(*) AS n_new_users FROM fs GROUP BY day)
        |SELECT CAST(daily.day AS VARCHAR) AS day, daily.n_active_users,
        |CAST(COALESCE(nw.n_new_users, 0) AS BIGINT) AS n_new_users,
        |CAST(SUM(COALESCE(nw.n_new_users, 0)) OVER (ORDER BY daily.day
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |AS cum_distinct_users
        |FROM daily LEFT JOIN nw ON daily.day = nw.day
        |ORDER BY day""".stripMargin.replace("\n", " ")),

    "stream_join_view_purchase" ->
      (EV + """SELECT v.user_id, v.event_id AS v_id, p.event_id AS p_id,
        |p.ts_us - v.ts_us AS gap_us
        |FROM ev v JOIN ev p ON v.user_id = p.user_id
        |AND v.event_type = 'view' AND p.event_type = 'purchase'
        |AND p.ts_us >= v.ts_us AND p.ts_us <= v.ts_us + 3600000000
        |ORDER BY v.user_id, v_id, p_id""".stripMargin.replace("\n", " ")),

    "text_ngram_topk" ->
      """WITH t AS (SELECT string_split(text, ' ') AS l FROM documents
        |WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT unnest(list_transform(list_zip(l[1:len(l)-1], l[2:len(l)]),
        |p -> p[1] || ' ' || p[2])) AS bigram FROM t)
        |SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin.replace("\n", " "),

    "scd2_change_intervals" ->
      (EV + """, cp AS (
        |SELECT user_id, event_id, ts_us, event_type,
        |LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type
        |FROM ev),
        |f AS (SELECT user_id, event_id, ts_us, event_type FROM cp
        |WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type AS attr, ts_us AS valid_from_us,
        |LEAD(ts_us) OVER w AS valid_to_us,
        |CAST(row_number() OVER w AS INT) AS version,
        |(LEAD(ts_us) OVER w IS NULL) AS is_current
        |FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, version""".stripMargin.replace("\n", " ")),

    "dq_profile_table" ->
      """WITH a AS (SELECT COUNT(*) AS n_rows,
        |SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nn1, COUNT(DISTINCT o_orderkey) AS nd1, CAST(MIN(o_orderkey) AS VARCHAR) AS mn1, CAST(MAX(o_orderkey) AS VARCHAR) AS mx1,
        |SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nn2, COUNT(DISTINCT o_custkey) AS nd2, CAST(MIN(o_custkey) AS VARCHAR) AS mn2, CAST(MAX(o_custkey) AS VARCHAR) AS mx2,
        |SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nn3, COUNT(DISTINCT o_orderstatus) AS nd3, MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
        |SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nn4, COUNT(DISTINCT o_totalprice) AS nd4, CAST(MIN(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS mn4, CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS mx4,
        |SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nn5, COUNT(DISTINCT o_orderdate) AS nd5, CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS mn5, CAST(CAST(MAX(o_orderdate) AS DATE) AS VARCHAR) AS mx5,
        |SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nn6, COUNT(DISTINCT o_orderpriority) AS nd6, MIN(o_orderpriority) AS mn6, MAX(o_orderpriority) AS mx6
        |FROM orders),
        |u AS (
        |SELECT 'o_orderkey' AS col_name, n_rows, nn1 AS n_nulls, nd1 AS n_distinct, mn1 AS min_v, mx1 AS max_v FROM a
        |UNION ALL SELECT 'o_custkey', n_rows, nn2, nd2, mn2, mx2 FROM a
        |UNION ALL SELECT 'o_orderstatus', n_rows, nn3, nd3, mn3, mx3 FROM a
        |UNION ALL SELECT 'o_totalprice', n_rows, nn4, nd4, mn4, mx4 FROM a
        |UNION ALL SELECT 'o_orderdate', n_rows, nn5, nd5, mn5, mx5 FROM a
        |UNION ALL SELECT 'o_orderpriority', n_rows, nn6, nd6, mn6, mx6 FROM a)
        |SELECT col_name, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
        |CAST(n_distinct AS BIGINT) AS n_distinct, min_v, max_v,
        |round(n_nulls * 1.0 / n_rows, 6) AS null_frac
        |FROM u ORDER BY col_name""".stripMargin.replace("\n", " "),

    "dq_rule_violations" ->
      """WITH a AS (SELECT COUNT(*) AS n_rows,
        |SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v1,
        |SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v2,
        |SUM(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END) AS v3,
        |SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS v4,
        |SUM(CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END) AS v5
        |FROM orders),
        |u AS (
        |SELECT 'null_custkey' AS rule, v1 AS n_violations, n_rows FROM a
        |UNION ALL SELECT 'nonpositive_price', v2, n_rows FROM a
        |UNION ALL SELECT 'price_outlier_400k', v3, n_rows FROM a
        |UNION ALL SELECT 'bad_status', v4, n_rows FROM a
        |UNION ALL SELECT 'weekend_order', v5, n_rows FROM a
        |UNION ALL SELECT 'orphan_custkey',
        |(SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL),
        |(SELECT n_rows FROM a))
        |SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
        |round(n_violations * 1.0 / n_rows, 6) AS pct
        |FROM u ORDER BY rule""".stripMargin.replace("\n", " "),

    "agg_mode_deterministic" ->
      """WITH c AS (SELECT o_custkey, o_orderpriority, COUNT(*) AS cnt
        |FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |ORDER BY cnt DESC, o_orderpriority ASC) AS rn FROM c)
        |SELECT o_custkey, o_orderpriority AS mode_priority, cnt AS mode_n
        |FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin.replace("\n", " "),

    "agg_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority,
        |CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin.replace("\n", " "),

    "agg_min_max_by" ->
      """SELECT o_custkey,
        |arg_max(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000000 + o_orderkey) AS best_order,
        |arg_min(o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000000 + o_orderkey) AS worst_order,
        |CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS best_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin.replace("\n", " "),

    "win_period_over_period" ->
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1)
        |SELECT month, revenue,
        |round((revenue - lag(revenue) OVER (ORDER BY month)) / lag(revenue) OVER (ORDER BY month), 6) + 0.0 AS mom_pct
        |FROM m ORDER BY month""".stripMargin.replace("\n", " "),

    "agg_string_concat" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |COUNT(*) AS n_nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin.replace("\n", " "),

    "agg_histogram_equidepth" ->
      """WITH d AS (SELECT o_orderkey, o_totalprice,
        |NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile FROM orders)
        |SELECT decile, COUNT(*) AS n_orders, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin.replace("\n", " "),

    "ts_gapfill_hourly" ->
      (EV +
        """, hourly AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n,
          |CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM ev WHERE event_type = 'purchase' GROUP BY 1),
          |bounds AS (SELECT min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi FROM ev),
          |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds)
          |SELECT s.hour, COALESCE(h.n, 0) AS n, COALESCE(h.sum_value, 0.0) AS sum_value
          |FROM spine s LEFT JOIN hourly h ON h.hour = s.hour
          |ORDER BY s.hour""".stripMargin.replace("\n", " ")),

    "dedup_simhash" -> simhashSql,

    "dedup_exact_keep_first" ->
      """SELECT doc_id, fp FROM (SELECT doc_id,
        |md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS fp,
        |ROW_NUMBER() OVER (PARTITION BY md5(array_to_string((string_split(text, ' '))[1:8], ' '))
        |ORDER BY doc_id) AS rn FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "dedup_embedding_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 300)
        |SELECT a_id, b_id, round(sim_raw, 4) + 0.0 AS sim FROM (
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id, list_dot_product(a.v, b.v) AS sim_raw
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY sim_raw DESC, a_id, b_id LIMIT 20) t
        |ORDER BY sim_raw DESC, a_id, b_id""".stripMargin.replace("\n", " "),

    // ── similarity search ──
    "ann_ivf_topk" ->
      """WITH comp AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |round(CAST(SUM(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c
        |FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM comp GROUP BY label),
        |dots AS (SELECT e.vec_id, e.embedding, c.cell,
        |list_dot_product(CAST(e.embedding AS DOUBLE[]), cvec) AS d
        |FROM embeddings e CROSS JOIN cent c),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn FROM dots),
        |assigned AS (SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1),
        |probe AS (SELECT vec_id AS a_id, cell FROM ranked WHERE rn <= 2 AND vec_id < 20),
        |cand AS (SELECT p.a_id, b.vec_id AS b_id,
        |list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim_raw
        |FROM probe p JOIN embeddings q ON q.vec_id = p.a_id
        |JOIN assigned b ON b.cell = p.cell AND b.vec_id <> p.a_id)
        |SELECT a_id, b_id, round(sim_raw, 4) + 0.0 AS sim, rn FROM
        |(SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim_raw DESC, b_id) AS rn FROM cand) t
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin.replace("\n", " "),

    "ann_lsh_bucket" ->
      """WITH e AS (SELECT vec_id, embedding,
        |CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
        |+ (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS INT) AS bucket
        |FROM embeddings)
        |SELECT a_id, bucket, b_id, round(sim_raw, 4) + 0.0 AS sim, rn FROM (
        |SELECT a.vec_id AS a_id, a.bucket AS bucket, b.vec_id AS b_id,
        |list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim_raw,
        |ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) AS rn
        |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < 50 AND b.vec_id <> a.vec_id) t
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin.replace("\n", " "),

    // ── text analysis ──
    "text_lang_id" -> langIdSql,

    // normalize → quality gate → fingerprint dedup keep-first → per-source
    // quota: the full curation chain, replicated stage by stage
    "pipeline_training_emit" ->
      """WITH n AS (SELECT doc_id, source,
        |trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |FROM documents),
        |q AS (SELECT doc_id, source, norm, CAST(len(string_split(norm, ' ')) AS INT) AS n_tok
        |FROM n WHERE len(string_split(norm, ' ')) >= 10),
        |dd AS (SELECT * FROM (SELECT *,
        |ROW_NUMBER() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS dup_rank FROM q)
        |WHERE dup_rank = 1),
        |shall AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
        |ELSE list_transform(range(1, len(t) - 1), i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2]) END)) AS s
        |FROM (SELECT doc_id, string_split(norm, ' ') AS t FROM dd)),
        |ev AS (SELECT DISTINCT s FROM shall WHERE doc_id % 10 = 0),
        |tsh AS (SELECT * FROM shall WHERE doc_id % 10 <> 0),
        |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM tsh GROUP BY 1),
        |hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM tsh WHERE s IN (SELECT s FROM ev) GROUP BY 1),
        |cl AS (SELECT dd.* FROM dd
        |LEFT JOIN tot ON dd.doc_id = tot.doc_id
        |LEFT JOIN hit ON dd.doc_id = hit.doc_id
        |WHERE dd.doc_id % 10 <> 0
        |AND COALESCE(COALESCE(hit.n_hit, 0) * 1.0 / tot.n_sh, 0.0) <= 0.5),
        |qa AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS quota_rank FROM cl)
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM qa WHERE quota_rank <= 20 GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    "pipeline_corpus_curation" ->
      """WITH n AS (SELECT doc_id, source,
        |trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |FROM documents),
        |q AS (SELECT doc_id, source, norm, CAST(len(string_split(norm, ' ')) AS INT) AS n_tok
        |FROM n WHERE len(string_split(norm, ' ')) >= 10),
        |d AS (SELECT *, md5(norm) AS fp,
        |ROW_NUMBER() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS dup_rank FROM q),
        |s AS (SELECT doc_id, source, n_tok, fp,
        |ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS quota_rank
        |FROM d WHERE dup_rank = 1)
        |SELECT doc_id, source, n_tok, fp, quota_rank FROM s WHERE quota_rank <= 25
        |ORDER BY source, quota_rank""".stripMargin.replace("\n", " "),

    "text_normalize" ->
      """SELECT doc_id, substring(norm, 1, 60) AS norm_head,
        |CAST(len(string_split(norm, ' ')) AS INT) AS n_tokens_norm,
        |norm <> text AS changed FROM (
        |SELECT doc_id, text,
        |trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |FROM documents) t ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_quality_score" ->
      """WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, n_chars, CAST(len(t) AS INT) AS n_tokens,
        |CAST(len(list_filter(t, x -> list_contains(['the', 'a'], x))) AS INT) AS n_stop FROM d)
        |SELECT doc_id, n_tokens,
        |round(CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens, 6) AS avg_token_len,
        |round(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stop_ratio,
        |round(least(1.0, n_tokens / 50.0) * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens), 6) AS quality
        |FROM s ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_token_count" ->
      """SELECT doc_id,
        |CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS re_tokens,
        |CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "text_shingle_generate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 15),
        |s AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN CAST([] AS VARCHAR[])
        |ELSE list_transform(range(1, len(t) - 1), i -> t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2]) END AS sl FROM d)
        |SELECT doc_id, CAST(generate_subscripts(sl, 1) - 1 AS INT) AS pos, unnest(sl) AS shingle
        |FROM s ORDER BY doc_id, pos""".stripMargin.replace("\n", " "),

    "text_levenshtein_pairs" ->
      """WITH t AS (SELECT doc_id, substring(text, 1, 40) AS prefix FROM documents WHERE doc_id < 8)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |CAST(levenshtein(a.prefix, b.prefix) AS INT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |ORDER BY a_id, b_id""".stripMargin.replace("\n", " "),

    "text_fingerprint" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id, md5(text) AS fp_full,
        |md5(array_to_string(t[1:8], ' ')) AS fp_head,
        |CASE WHEN len(t) < 5 THEN md5(text) ELSE list_min(list_transform(range(1, len(t) - 3),
        |i -> md5(t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2]
        ||| ' ' || t[CAST(i AS INT) + 3] || ' ' || t[CAST(i AS INT) + 4]))) END AS fp_min_shingle
        |FROM d ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // ── streaming / time-series (batch semantics) ──
    "stream_tumbling_1h" ->
      (EV + """SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
        |COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, value FROM ev) w
        |GROUP BY window_start ORDER BY window_start""".stripMargin.replace("\n", " ")),

    "stream_sliding_1h_15m" ->
      (EV + """SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
        |COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes' AS window_start, value
        |FROM ev, range(0, 4) t(i)) w
        |GROUP BY window_start ORDER BY window_start""".stripMargin.replace("\n", " ")),

    "stream_session_30m" ->
      (EV + """, l AS (SELECT user_id, ts, value,
        |CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
        |THEN 1 ELSE 0 END AS new_s FROM ev),
        |g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) + INTERVAL '30 minutes' AS session_end,
        |COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin.replace("\n", " ")),

    "stream_dau_retention" ->
      (EV + """, d AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM ev),
        |dau AS (SELECT day, COUNT(*) AS dau FROM d GROUP BY day),
        |ret AS (SELECT a.day, COUNT(*) AS retained FROM d a JOIN d b
        |ON b.user_id = a.user_id AND b.day = a.day + INTERVAL 1 DAY GROUP BY a.day)
        |SELECT dau.day AS day, dau.dau, COALESCE(ret.retained, 0) AS retained
        |FROM dau LEFT JOIN ret ON ret.day = dau.day ORDER BY dau.day""".stripMargin.replace("\n", " ")),

    "stream_funnel" ->
      (EV + """, u AS (SELECT DISTINCT user_id FROM ev),
        |s AS (SELECT user_id, MIN(ts) AS first_signup FROM ev WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT e.user_id, COUNT(*) AS n_purchases FROM ev e JOIN s ON s.user_id = e.user_id
        |WHERE e.event_type = 'purchase' AND e.ts >= s.first_signup GROUP BY e.user_id)
        |SELECT u.user_id AS user_id, s.first_signup, COALESCE(p.n_purchases, 0) AS n_purchases,
        |CAST(CASE WHEN s.first_signup IS NOT NULL AND COALESCE(p.n_purchases, 0) > 0 THEN 1 ELSE 0 END AS INT) AS converted
        |FROM u LEFT JOIN s ON s.user_id = u.user_id LEFT JOIN p ON p.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin.replace("\n", " ")),

    // ── event joins ──
    "join_range_funnel" ->
      (EV + """SELECT v.user_id AS user_id, v.event_id AS v_id, p.event_id AS p_id, p.ts_us - v.ts_us AS gap_us
        |FROM (SELECT * FROM ev WHERE event_type = 'view') v
        |JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
        |ON p.user_id = v.user_id AND p.ts_us BETWEEN v.ts_us AND v.ts_us + 300000000
        |ORDER BY v.user_id, v_id, p_id""".stripMargin.replace("\n", " ")),

    "join_asof" ->
      (EV + """SELECT e.event_id, e.user_id, e.ts_us, s.ts_us AS signup_ts_us
        |FROM ev e ASOF LEFT JOIN (SELECT user_id, ts_us FROM ev WHERE event_type = 'signup') s
        |ON e.user_id = s.user_id AND s.ts_us <= e.ts_us
        |ORDER BY e.event_id""".stripMargin.replace("\n", " ")),

    // forward direction: DuckDB ASOF with >= picks the EARLIEST match
    // at-or-after the probe timestamp — next-touch attribution
    "join_asof_forward" ->
      (EV + """SELECT e.event_id, e.user_id, e.ts_us, s.ts_us AS next_signup_ts_us
        |FROM ev e ASOF LEFT JOIN (SELECT user_id, ts_us FROM ev WHERE event_type = 'signup') s
        |ON e.user_id = s.user_id AND s.ts_us >= e.ts_us
        |ORDER BY e.event_id""".stripMargin.replace("\n", " ")),

    // identical oracle: the custom physical operator must agree with the
    // window-based rewrite AND DuckDB's native ASOF JOIN
    "join_asof_exec" ->
      (EV + """SELECT e.event_id, e.user_id, e.ts_us, s.ts_us AS signup_ts_us
        |FROM ev e ASOF LEFT JOIN (SELECT user_id, ts_us FROM ev WHERE event_type = 'signup') s
        |ON e.user_id = s.user_id AND s.ts_us <= e.ts_us
        |ORDER BY e.event_id""".stripMargin.replace("\n", " ")),

    // ── multimodal (binary column plumbing) ──
    "mm_frame_sample" ->
      """SELECT doc_id, n_frames, CAST(len(r) AS INT) AS n_sampled,
        |array_to_string(r, ',') AS idx_csv FROM (
        |SELECT doc_id, 24 + octet_length(encode(text)) % 240 AS n_frames,
        |range(0, 24 + octet_length(encode(text)) % 240, 10) AS r FROM documents) t
        |ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "mm_binary_stats" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |hex(encode(substring(text, 1, 8))) AS hex_head,
        |CAST(64 + octet_length(encode(text)) % 64 AS INT) AS fake_w,
        |CAST(64 + (octet_length(encode(text)) // 64) % 64 AS INT) AS fake_h
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // ── round-4 additions ──

    // interval union: running-max-end islands, all integer µs
    "ts_interval_union" ->
      (EV + """, iv AS (SELECT user_id, event_id, ts_us, ts_us + 1800000000 AS end_us FROM ev),
        |m AS (SELECT *, max(end_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end FROM iv),
        |mk AS (SELECT *, CASE WHEN prev_max_end IS NULL OR ts_us > prev_max_end THEN 1 ELSE 0 END AS new_island FROM m),
        |isl AS (SELECT *, sum(new_island) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM mk),
        |g AS (SELECT user_id, island, min(ts_us) AS s, max(end_us) AS e, count(*) AS n
        |FROM isl GROUP BY user_id, island)
        |SELECT user_id, count(*) AS n_islands, CAST(sum(n) AS BIGINT) AS n_events,
        |CAST(sum(e - s) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " ")),

    "win_pattern_match" ->
      (EV + """, x AS (SELECT user_id, event_id, ts_us, event_type,
        |lead(event_type, 1) OVER w AS t1, lead(event_type, 2) OVER w AS t2,
        |lead(ts_us, 2) OVER w AS ts2, lead(event_id, 2) OVER w AS id2
        |FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, event_id AS start_event, id2 AS end_event, ts_us AS start_us,
        |ts2 - ts_us AS span_us
        |FROM x WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
        |AND ts2 - ts_us <= 3600000000
        |ORDER BY user_id, start_event""".stripMargin.replace("\n", " ")),

    // decay factors are exact dyadics (1 / (1 << k)) — no libm pow
    "agg_decay_halflife" ->
      (EV + """, r AS (SELECT max(ts_us) AS ref_us FROM ev),
        |a AS (SELECT user_id, value, ((r.ref_us - ts_us) // 86400000000) AS age_days FROM ev, r),
        |d AS (SELECT user_id, value,
        |1.0 / CAST((CAST(1 AS BIGINT) << CAST(age_days AS INT)) AS DOUBLE) AS decay
        |FROM a WHERE age_days < 20)
        |SELECT user_id, count(*) AS n_recent, sum(decay) AS decayed_count,
        |round(sum(value * decay), 6) + 0.0 AS decayed_value
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " ")),

    // the oracle is the LITERAL distinct count — verifies the bitmap
    // algorithm rather than replicating it
    "agg_bitmap_distinct" ->
      (EV + """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |count(DISTINCT (user_id // 32)) AS n_buckets
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " ")),

    "dq_anomaly_mad" ->
      (EV + """, daily AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n_events
        |FROM ev GROUP BY 1),
        |m AS (SELECT CAST(median(n_events) AS DOUBLE) AS med FROM daily),
        |wm AS (SELECT daily.day, daily.n_events, m.med FROM daily, m),
        |md AS (SELECT CAST(median(abs(n_events - med)) AS DOUBLE) AS mad FROM wm)
        |SELECT wm.day, wm.n_events, wm.med, md.mad,
        |abs(wm.n_events - wm.med) > md.mad * 3.0 AS is_anomaly
        |FROM wm, md ORDER BY wm.day""".stripMargin.replace("\n", " ")),

    "join_interval_overlap" ->
      (EV + """, v AS (SELECT user_id, event_id AS v_id, ts_us AS v_lo, ts_us + 1800000000 AS v_hi
        |FROM ev WHERE event_type = 'view'),
        |e AS (SELECT user_id, event_id AS e_id, ts_us AS e_lo, ts_us + 600000000 AS e_hi
        |FROM ev WHERE event_type = 'error')
        |SELECT v.user_id AS user_id, v_id, e_id,
        |least(v_hi, e_hi) - greatest(v_lo, e_lo) AS overlap_us
        |FROM v JOIN e ON v.user_id = e.user_id AND v_lo < e_hi AND e_lo < v_hi
        |ORDER BY user_id, v_id, e_id""".stripMargin.replace("\n", " ")),

    "text_sparse_cosine_topk" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM t GROUP BY doc_id, w),
        |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |wtd AS (SELECT tf.doc_id, tf.w, tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfq.df) AS wt
        |FROM tf JOIN dfq ON tf.w = dfq.w AND dfq.df <= 50, n),
        |nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM wtd GROUP BY doc_id),
        |dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, sum(a.wt * b.wt) AS dot
        |FROM wtd a JOIN wtd b ON a.w = b.w AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 6) + 0.0 AS sim
        |FROM dots JOIN nrm na ON na.doc_id = a_id JOIN nrm nb ON nb.doc_id = b_id
        |ORDER BY sim DESC, a_id, b_id LIMIT 20""".stripMargin.replace("\n", " "),

    // both top-k lists replicated algorithmically (IVF = ann_ivf_topk's
    // chain with nprobe=2, rank 10; exact = vec_knn_topk's chain)
    "ann_recall_at_k" ->
      """WITH comp AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |round(CAST(SUM(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c
        |FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM comp GROUP BY label),
        |dots AS (SELECT e.vec_id, e.embedding, c.cell,
        |list_dot_product(CAST(e.embedding AS DOUBLE[]), cvec) AS d
        |FROM embeddings e CROSS JOIN cent c),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn FROM dots),
        |assigned AS (SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1),
        |probe AS (SELECT vec_id AS a_id, cell FROM ranked WHERE rn <= 2 AND vec_id < 10),
        |icand AS (SELECT p.a_id, b.vec_id AS b_id,
        |list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim_raw
        |FROM probe p JOIN embeddings q ON q.vec_id = p.a_id
        |JOIN assigned b ON b.cell = p.cell AND b.vec_id <> p.a_id),
        |ivf AS (SELECT a_id, b_id FROM (SELECT *, ROW_NUMBER() OVER
        |(PARTITION BY a_id ORDER BY sim_raw DESC, b_id) AS rn FROM icand) t WHERE rn <= 10),
        |ecand AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim_raw
        |FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |exact AS (SELECT a_id, b_id FROM (SELECT *, ROW_NUMBER() OVER
        |(PARTITION BY a_id ORDER BY sim_raw DESC, b_id) AS rn FROM ecand) t WHERE rn <= 10),
        |g AS (SELECT e.a_id, count(*) AS n_exact,
        |CAST(coalesce(sum(CASE WHEN i.b_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hit
        |FROM exact e LEFT JOIN ivf i ON i.a_id = e.a_id AND i.b_id = e.b_id GROUP BY e.a_id)
        |SELECT a_id, n_exact, n_hit, CAST(n_hit AS DOUBLE) / n_exact AS recall
        |FROM g ORDER BY a_id""".stripMargin.replace("\n", " "),

    "pipeline_split_train_eval" ->
      """WITH s AS (SELECT *, CASE
        |WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5' THEN 'train'
        |WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'f2' THEN 'val'
        |ELSE 'test' END AS split FROM documents)
        |SELECT split, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars, min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY split ORDER BY split""".stripMargin.replace("\n", " "),

    "text_zipf_slope" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |f AS (SELECT lang, w, count(*) AS f FROM t GROUP BY lang, w),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY f DESC, w) AS rk FROM f)
        |SELECT lang, count(*) AS n_ranks,
        |round(regr_slope(ln(f), ln(rk)), 6) + 0.0 AS zipf_slope,
        |round(regr_r2(ln(f), ln(rk)), 6) + 0.0 AS r2
        |FROM r WHERE rk <= 100 GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),

    // ---- round-4 batch 2 ----

    "dq_referential_integrity" ->
      """SELECT * FROM (
        |SELECT 'lineitem->orders' AS relationship, count(*) AS child_rows, count(*) FILTER (WHERE o_orderkey IS NULL) AS orphan_rows FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
        |UNION ALL SELECT 'lineitem->part', count(*), count(*) FILTER (WHERE p_partkey IS NULL) FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |UNION ALL SELECT 'lineitem->supplier', count(*), count(*) FILTER (WHERE s_suppkey IS NULL) FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
        |UNION ALL SELECT 'orders->customer', count(*), count(*) FILTER (WHERE c_custkey IS NULL) FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |) ORDER BY relationship""".stripMargin.replace("\n", " "),

    "ts_downsample_ohlc" ->
      (EV + """, r AS (SELECT event_type, date_trunc('hour', ts) AS hour, value,
        |ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts) ORDER BY ts_us, event_id) AS rn_a,
        |ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts) ORDER BY ts_us DESC, event_id DESC) AS rn_d FROM ev)
        |SELECT event_type, hour, max(value) FILTER (WHERE rn_a = 1) AS open, max(value) AS high,
        |min(value) AS low, max(value) FILTER (WHERE rn_d = 1) AS close, count(*) AS n_events
        |FROM r GROUP BY event_type, hour ORDER BY event_type, hour""".stripMargin.replace("\n", " ")),

    "agg_weighted_median" ->
      """WITH t AS (SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber, CAST(round(l_quantity) AS BIGINT) AS w FROM lineitem),
        |c AS (SELECT *, sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |sum(w) OVER (PARTITION BY l_returnflag) AS totw FROM t)
        |SELECT l_returnflag, min(l_extendedprice) AS weighted_median, CAST(min(totw) AS BIGINT) AS total_weight
        |FROM c WHERE cumw * 2 >= totw GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    // identical fixed IEEE expression tree as the Spark side; exact
    // integer power sums (HUGEINT here, decimal(38,0) there) make the
    // inputs bit-equal before the float stage
    "agg_skew_kurtosis" ->
      """WITH t AS (SELECT l_returnflag, CAST(round(l_extendedprice) AS BIGINT) AS q FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n, sum(q) AS s1, sum(q*q) AS s2,
        |sum(CAST(q AS HUGEINT)*q*q) AS s3, sum(CAST(q AS HUGEINT)*q*q*q) AS s4 FROM t GROUP BY l_returnflag),
        |m AS (SELECT l_returnflag, n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
        |CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS s3d,
        |CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS s4d FROM s)
        |SELECT l_returnflag, n, mu + 0.0 AS mean_q,
        |s2d - mu*mu + 0.0 AS m2,
        |(s3d - 3.0*mu*s2d + 2.0*mu*mu*mu) / ((s2d - mu*mu) * sqrt(s2d - mu*mu)) + 0.0 AS skewness,
        |(s4d - 4.0*mu*s3d + 6.0*mu*mu*s2d - 3.0*mu*mu*mu*mu) / ((s2d - mu*mu) * (s2d - mu*mu)) - 3.0 + 0.0 AS kurtosis
        |FROM m ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    // same element-pick median formula as the Spark side — no engine
    // median builtin on either side, so interpolation semantics can't drift
    "win_rolling_median" ->
      (EV + """, w AS (SELECT user_id, event_id,
        |list(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS lst FROM ev)
        |SELECT user_id, event_id, CAST(len(lst) AS INT) AS n_win,
        |(list_sort(lst)[(len(lst)-1)//2 + 1] + list_sort(lst)[len(lst)//2 + 1]) / 2.0 AS rolling_median
        |FROM w ORDER BY user_id, event_id""".stripMargin.replace("\n", " ")),

    "join_asof_nearest" ->
      (EV + """, b AS (SELECT event_id, user_id, ts_us,
        |CASE WHEN event_type = 'signup' THEN ts_us END AS s_ts_raw,
        |CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS back_pri,
        |CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS fwd_pri FROM ev),
        |w AS (SELECT event_id, user_id, ts_us,
        |last_value(s_ts_raw IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, back_pri, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_us,
        |first_value(s_ts_raw IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, fwd_pri, event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_us FROM b),
        |n AS (SELECT *, CASE WHEN back_us IS NULL THEN fwd_us WHEN fwd_us IS NULL THEN back_us
        |WHEN ts_us - back_us <= fwd_us - ts_us THEN back_us ELSE fwd_us END AS nearest_signup_us FROM w)
        |SELECT event_id, user_id, ts_us, back_us, fwd_us, nearest_signup_us,
        |abs(ts_us - nearest_signup_us) AS diff_us FROM n ORDER BY event_id""".stripMargin.replace("\n", " ")),

    "join_scd2_point_in_time" ->
      (EV + """, d AS (SELECT user_id, event_id, ts_us, event_type,
        |lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type FROM ev),
        |iv0 AS (SELECT user_id, event_id, ts_us, event_type FROM d WHERE prev_type IS NULL OR prev_type <> event_type),
        |iv AS (SELECT user_id AS d_user, event_type AS attr, ts_us AS valid_from_us,
        |lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to_us,
        |ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS version FROM iv0),
        |f AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, f.ts_us, iv.attr, iv.version, iv.valid_from_us
        |FROM f JOIN iv ON f.user_id = iv.d_user AND f.ts_us >= iv.valid_from_us AND (iv.valid_to_us IS NULL OR f.ts_us < iv.valid_to_us)
        |ORDER BY f.event_id""".stripMargin.replace("\n", " ")),

    "text_repetition_stats" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w FROM d),
        |tc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
        |tstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, count(*) AS n_uniq, max(c) AS top_cnt FROM tc GROUP BY doc_id),
        |tri0 AS (SELECT doc_id, w, lead(w, 1) OVER dw AS w1, lead(w, 2) OVER dw AS w2 FROM tok WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
        |trc AS (SELECT doc_id, w || ' ' || w1 || ' ' || w2 AS tri, count(*) AS c FROM tri0 WHERE w2 IS NOT NULL GROUP BY doc_id, w || ' ' || w1 || ' ' || w2),
        |trs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS tri_total, count(*) AS tri_uniq FROM trc GROUP BY doc_id)
        |SELECT tstat.doc_id, tstat.n_tok,
        |CAST(tstat.n_uniq AS DOUBLE) / tstat.n_tok AS uniq_token_frac,
        |CAST(tstat.top_cnt AS DOUBLE) / tstat.n_tok AS top_token_frac,
        |1.0 - CAST(trs.tri_uniq AS DOUBLE) / trs.tri_total AS dup_trigram_frac
        |FROM tstat JOIN trs USING (doc_id) WHERE tstat.n_tok >= 3 ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "dedup_ngram_corpus_frac" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w FROM d),
        |g0 AS (SELECT doc_id, w, lead(w, 1) OVER dw AS w1, lead(w, 2) OVER dw AS w2, lead(w, 3) OVER dw AS w3, lead(w, 4) OVER dw AS w4
        |FROM tok WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
        |gr AS (SELECT doc_id, w || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4 AS g FROM g0 WHERE w4 IS NOT NULL),
        |sh AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM gr GROUP BY g) WHERE nd > 1)
        |SELECT gr.doc_id, count(*) AS n_5grams, count(sh.g) AS n_shared,
        |CAST(count(sh.g) AS DOUBLE) / count(*) AS shared_frac
        |FROM gr LEFT JOIN sh ON gr.g = sh.g GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin.replace("\n", " "),

    "arr_struct_sort" ->
      """WITH r AS (SELECT l_orderkey, l_extendedprice AS p, l_linenumber AS ln,
        |ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice, l_linenumber) AS rn_a,
        |ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber DESC) AS rn_d FROM lineitem)
        |SELECT l_orderkey, count(*) AS n_items,
        |max(p) FILTER (WHERE rn_a = 1) AS min_price, max(ln) FILTER (WHERE rn_a = 1) AS min_price_line,
        |max(p) FILTER (WHERE rn_d = 1) AS max_price, max(ln) FILTER (WHERE rn_d = 1) AS max_price_line
        |FROM r GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin.replace("\n", " "),

    // ---- round-4 batch 3 ----

    "graph_triangle_knn" ->
      ("WITH " + knnIvfChain + """, knn AS (SELECT a_id, b_id FROM rk WHERE rn <= 5),
        |und AS (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
        |tri AS (SELECT e1.u FROM und e1 JOIN und e2 ON e1.v = e2.u JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
        |vx AS (SELECT count(DISTINCT x) AS n_vertices FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und))
        |SELECT vx.n_vertices, (SELECT count(*) FROM und) AS n_edges,
        |(SELECT count(*) FROM tri) AS n_triangles FROM vx""".stripMargin.replace("\n", " ")),

    // exact LONG/HUGEINT sums; identical float tree (one cast per factor,
    // then div/sqrt/mul) — see agg_skew_kurtosis
    "ts_autocorr_hourly" ->
      (EV + """, h AS (SELECT date_trunc('hour', ts) AS hour, count(*) AS x FROM ev GROUP BY date_trunc('hour', ts)),
        |p AS (SELECT x, lead(x) OVER (ORDER BY hour) AS y FROM h),
        |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |sum(x*x) AS sxx, sum(y*y) AS syy FROM p WHERE y IS NOT NULL)
        |SELECT n AS n_pairs, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
        |CAST(n*sxy - sx*sy AS DOUBLE) / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) + 0.0 AS lag1_autocorr
        |FROM s""".stripMargin.replace("\n", " ")),

    // ordered running window = sequential addition on both engines; a bare
    // SUM over double terms would be addition-order-dependent
    "text_source_entropy" ->
      """WITH cs AS (SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source),
        |t AS (SELECT lang, source, c, sum(c) OVER (PARTITION BY lang) AS n_docs,
        |count(*) OVER (PARTITION BY lang) AS k_sources FROM cs),
        |u AS (SELECT lang, n_docs, k_sources,
        |sum(-(CAST(c AS DOUBLE) / n_docs * ln(CAST(c AS DOUBLE) / n_docs))) OVER (PARTITION BY lang ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ent,
        |ROW_NUMBER() OVER (PARTITION BY lang ORDER BY source DESC) AS rn FROM t)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, k_sources,
        |round(ent, 6) + 0.0 AS source_entropy FROM u WHERE rn = 1 ORDER BY lang""".stripMargin.replace("\n", " "),

    "join_null_safe" ->
      """SELECT nullif(c_nationkey, 3) AS nation_key, count(*) AS n_pairs
        |FROM customer JOIN supplier ON nullif(c_nationkey, 3) IS NOT DISTINCT FROM nullif(s_nationkey, 3)
        |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),

    "vec_norm_stats" ->
      """WITH v AS (SELECT label, sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings),
        |q AS (SELECT label, nrm, CAST(round(nrm * 1e6) AS BIGINT) AS qn FROM v)
        |SELECT label, count(*) AS n_vecs, min(nrm) AS min_norm, max(nrm) AS max_norm,
        |CAST(sum(qn) AS DOUBLE) / count(*) / 1e6 AS avg_norm
        |FROM q GROUP BY label ORDER BY label""".stripMargin.replace("\n", " "),

    // expected components constructed from the same fields the URL was
    // synthesized from — validates parse_url against ground truth
    "fn_url_suite" ->
      """SELECT doc_id,
        |'ex' || (doc_id % 5) || '.example.com' AS host,
        |'/p/' || doc_id AS path,
        |'q=' || source || '&page=' || (doc_id % 7) AS query,
        |source AS q_param,
        |CAST(doc_id % 7 AS VARCHAR) AS page_param
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),

    // mutual-5-NN graph + recursive min-label closure (same reach pattern
    // as the MinHash component oracle) + size histogram
    "dedup_semantic_clusters" ->
      ("WITH RECURSIVE " + knnIvfChain + """, knn AS (SELECT a_id, b_id FROM rk WHERE rn <= 2),
        |mut AS (SELECT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn GROUP BY 1, 2 HAVING count(*) = 2),
        |edges AS (SELECT u AS a, v AS b FROM mut UNION ALL SELECT v, u FROM mut),
        |reach AS (SELECT a AS node, a AS label FROM edges
        |UNION SELECT e2.b AS node, r.label FROM reach r JOIN edges e2 ON e2.a = r.node),
        |comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
        |cs AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
        |SELECT cluster_size, count(*) AS n_clusters FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin.replace("\n", " ")),

    // ---- composite workload queries (decimal protocol = pricing summary) ----

    "wk_q3_shipping_priority" ->
      """SELECT l_orderkey, CAST(rev AS DOUBLE) AS revenue, o_orderdate, o_orderpriority FROM (
        |SELECT l_orderkey, o_orderdate, o_orderpriority,
        |SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY rev DESC, o_orderdate, l_orderkey LIMIT 10)
        |ORDER BY rev DESC, o_orderdate, l_orderkey""".stripMargin.replace("\n", " "),

    "wk_q5_region_volume" ->
      """SELECT n_name, CAST(rev AS DOUBLE) AS revenue FROM (
        |SELECT n_name, SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |JOIN lineitem ON l_suppkey = s_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name) ORDER BY revenue DESC, n_name""".stripMargin.replace("\n", " "),

    "wk_q10_returns" ->
      """SELECT c_custkey, c_name, CAST(rev AS DOUBLE) AS revenue, c_acctbal, n_name FROM (
        |SELECT c_custkey, c_name, c_acctbal, n_name,
        |SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01' AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY rev DESC, c_custkey LIMIT 20)
        |ORDER BY rev DESC, c_custkey""".stripMargin.replace("\n", " "),

    "pipeline_dataset_card" ->
      """SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs, count(DISTINCT source) AS n_sources,
        |CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |count(*) FILTER (WHERE n_chars < 100) AS n_short,
        |CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
        |FROM documents""".stripMargin.replace("\n", " "),

    // ---- round-4 batch 5 ----

    // count FILTER is never NULL (matches Spark's filled 0); SUM over an
    // empty filtered set is NULL in both engines
    "pivot_multi_agg" ->
      (EV + """SELECT user_id,
        |COUNT(*) FILTER (WHERE event_type = 'view') AS view_n,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) FILTER (WHERE event_type = 'view') AS DOUBLE) AS view_sv,
        |COUNT(*) FILTER (WHERE event_type = 'click') AS click_n,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click_sv,
        |COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase_n,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase_sv,
        |COUNT(*) FILTER (WHERE event_type = 'signup') AS signup_n,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) FILTER (WHERE event_type = 'signup') AS DOUBLE) AS signup_sv,
        |COUNT(*) FILTER (WHERE event_type = 'error') AS error_n,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) FILTER (WHERE event_type = 'error') AS DOUBLE) AS error_sv
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin.replace("\n", " ")),

    // exact HUGEINT cross/power sums; fixed IEEE tree per Pearson r —
    // the decimal(38,0) twin on the Spark side
    "agg_corr_pairs" ->
      """WITH t AS (SELECT CAST(round(l_quantity) AS BIGINT) q, CAST(round(l_extendedprice) AS BIGINT) p,
        |CAST(round(l_discount * 100) AS BIGINT) d FROM lineitem),
        |s AS (SELECT CAST(count(*) AS HUGEINT) n, sum(CAST(q AS HUGEINT)) sq, sum(CAST(p AS HUGEINT)) sp, sum(CAST(d AS HUGEINT)) sd,
        |sum(CAST(q AS HUGEINT)*q) sqq, sum(CAST(p AS HUGEINT)*p) spp, sum(CAST(d AS HUGEINT)*d) sdd,
        |sum(CAST(q AS HUGEINT)*p) sqp, sum(CAST(q AS HUGEINT)*d) sqd, sum(CAST(p AS HUGEINT)*d) spd FROM t)
        |SELECT CAST(n AS BIGINT) AS n,
        |CAST(n*sqp - sq*sp AS DOUBLE) / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE)) * sqrt(CAST(n*spp - sp*sp AS DOUBLE))) + 0.0 AS corr_qty_price,
        |CAST(n*sqd - sq*sd AS DOUBLE) / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE)) * sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) + 0.0 AS corr_qty_disc,
        |CAST(n*spd - sp*sd AS DOUBLE) / (sqrt(CAST(n*spp - sp*sp AS DOUBLE)) * sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) + 0.0 AS corr_price_disc
        |FROM s""".stripMargin.replace("\n", " "),

    // idf rounded BEFORE ranking (J9's portability trick) so the top-3
    // cut is over identical doubles on both engines
    "text_keywords_per_doc" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id < 100),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM docs),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY doc_id, w),
        |df AS (SELECT w, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tok) GROUP BY w),
        |n AS (SELECT COUNT(*) AS n_docs FROM docs)
        |SELECT doc_id, rk, term, tf, round(tfidf, 6) AS tfidf FROM (
        |SELECT tf.doc_id, tf.w AS term, tf.tf,
        |tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
        |ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY
        |tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) DESC, tf.w) AS rk
        |FROM tf JOIN df ON tf.w = df.w CROSS JOIN n) t
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin.replace("\n", " "),

    "arr_flatten_nested" ->
      """WITH l1 AS (SELECT l_orderkey, list_sort(list(l_extendedprice)) AS arr FROM lineitem GROUP BY l_orderkey),
        |c AS (SELECT o_custkey, count(*) AS n_arrays, list_sort(flatten(list(arr))) AS fl
        |FROM orders JOIN l1 ON o_orderkey = l_orderkey GROUP BY o_custkey)
        |SELECT o_custkey, n_arrays, CAST(len(fl) AS INT) AS n_items,
        |fl[1] AS min_price, fl[-1] AS max_price
        |FROM c ORDER BY o_custkey""".stripMargin.replace("\n", " "),

    // DuckDB regexp_replace needs the 'g' flag (Spark's is global by default)
    "pipeline_quality_funnel" ->
      """WITH b AS (SELECT n_chars >= 100 AS c1,
        |len(string_split(text, ' ')) >= 20 AS c2,
        |CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) >= 0.4 AS c3,
        |CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / n_chars < 0.3 AS c4 FROM documents),
        |s AS (SELECT count(*) AS total, count(*) FILTER (WHERE c1) AS s1,
        |count(*) FILTER (WHERE c1 AND c2) AS s2, count(*) FILTER (WHERE c1 AND c2 AND c3) AS s3,
        |count(*) FILTER (WHERE c1 AND c2 AND c3 AND c4) AS s4 FROM b) SELECT * FROM (
        |SELECT 1 AS stage, 'min_chars' AS filter, total AS n_in, total - s1 AS n_fail, s1 AS n_out FROM s
        |UNION ALL SELECT 2, 'min_tokens', s1, s1 - s2, s2 FROM s
        |UNION ALL SELECT 3, 'uniq_frac', s2, s2 - s3, s3 FROM s
        |UNION ALL SELECT 4, 'digit_frac', s3, s3 - s4, s4 FROM s
        |) ORDER BY stage""".stripMargin.replace("\n", " "),

    "ts_hourofday_profile" ->
      (EV + """SELECT * FROM (
        |SELECT hour(ts) AS hod, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |CAST(count(*) AS DOUBLE) / sum(count(*)) OVER () AS share,
        |count(*) = max(count(*)) OVER () AS is_peak
        |FROM ev GROUP BY hour(ts)) ORDER BY hod""".stripMargin.replace("\n", " ")),

    // rank-formulation Gini over exact HUGEINT/decimal(38,0) sums; one
    // fixed IEEE tree (E23's pattern), raw double
    "agg_gini_revenue" ->
      """WITH t AS (SELECT l_returnflag, l_orderkey, l_linenumber, CAST(round(l_extendedprice) AS BIGINT) AS q FROM lineitem),
        |r AS (SELECT l_returnflag, q, ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY q, l_orderkey, l_linenumber) AS i FROM t),
        |s AS (SELECT l_returnflag, count(*) AS n, sum(CAST(q AS HUGEINT)) AS s1, sum(CAST(i * q AS HUGEINT)) AS swi FROM r GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |(2.0 * CAST(swi AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(s1 AS DOUBLE)) + 0.0 AS gini
        |FROM s ORDER BY l_returnflag""".stripMargin.replace("\n", " "),

    // fixed 64-byte blocks; DuckDB md5(VARCHAR) hashes the same UTF-8
    // bytes Spark's md5(CAST AS BINARY) does
    "mm_chunk_dedup" ->
      """WITH c AS (SELECT doc_id, unnest(list_transform(range(0, (n_chars + 63) // 64),
        |i -> md5(substring(text, CAST(i AS INT) * 64 + 1, 64)))) AS h FROM documents),
        |sh AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM c GROUP BY h) WHERE nd > 1)
        |SELECT c.doc_id, count(*) AS n_chunks, count(sh.h) AS n_shared,
        |CAST(count(sh.h) AS DOUBLE) / count(*) AS shared_frac
        |FROM c LEFT JOIN sh ON c.h = sh.h GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin.replace("\n", " "),

    "join_asof_tolerance" ->
      (EV + """, b AS (SELECT event_id, user_id, ts_us,
        |CASE WHEN event_type = 'signup' THEN ts_us END AS s_ts_raw,
        |CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS is_sign FROM ev),
        |w AS (SELECT event_id, user_id, ts_us,
        |last_value(s_ts_raw IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, is_sign, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS raw_match_us FROM b)
        |SELECT event_id, user_id, ts_us,
        |CASE WHEN ts_us - raw_match_us <= 3600000000 THEN raw_match_us END AS signup_ts_us,
        |raw_match_us IS NOT NULL AND ts_us - raw_match_us > 3600000000 AS match_expired
        |FROM w ORDER BY event_id""".stripMargin.replace("\n", " ")),

    // per-type chi-square contributions: rows independent, so no
    // cross-type float accumulation order exists; counts exact ints
    "dq_distribution_drift" ->
      (EV + """, per AS (SELECT event_type,
        |count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS n_early,
        |count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS n_late
        |FROM ev GROUP BY event_type),
        |tot AS (SELECT CAST(sum(n_early) AS BIGINT) AS tot_early, CAST(sum(n_late) AS BIGINT) AS tot_late FROM per)
        |SELECT event_type, n_early, n_late,
        |CAST(n_early + n_late AS DOUBLE) * CAST(tot_early AS DOUBLE) / CAST(tot_early + tot_late AS DOUBLE) + 0.0 AS expected_early,
        |(CAST(n_early AS DOUBLE) - CAST(n_early + n_late AS DOUBLE) * CAST(tot_early AS DOUBLE) / CAST(tot_early + tot_late AS DOUBLE))
        |* (CAST(n_early AS DOUBLE) - CAST(n_early + n_late AS DOUBLE) * CAST(tot_early AS DOUBLE) / CAST(tot_early + tot_late AS DOUBLE))
        |/ (CAST(n_early + n_late AS DOUBLE) * CAST(tot_early AS DOUBLE) / CAST(tot_early + tot_late AS DOUBLE))
        |+ (CAST(n_late AS DOUBLE) - CAST(n_early + n_late AS DOUBLE) * CAST(tot_late AS DOUBLE) / CAST(tot_early + tot_late AS DOUBLE))
        |* (CAST(n_late AS DOUBLE) - CAST(n_early + n_late AS DOUBLE) * CAST(tot_late AS DOUBLE) / CAST(tot_early + tot_late AS DOUBLE))
        |/ (CAST(n_early + n_late AS DOUBLE) * CAST(tot_late AS DOUBLE) / CAST(tot_early + tot_late AS DOUBLE))
        |+ 0.0 AS chi2_contrib
        |FROM per, tot ORDER BY event_type""".stripMargin.replace("\n", " ")),

    // the v1 slice (even keys) has no price column → NULL after the
    // merged read; replicate with a conditional price
    "source_parquet_schema_merge" ->
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        |COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_totalprice END) AS n_with_price,
        |CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS total_price_v2
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    "win_cume_dist_pct" ->
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |cume_dist() OVER w AS cd, percent_rank() OVER w AS pr
        |FROM customer WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_nationkey, c_acctbal, c_custkey""".stripMargin.replace("\n", " "),

    "wk_q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        |AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "),

    "wk_q7_region_trade" ->
      """SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
        |CAST(year(l_shipdate) AS INT) AS l_year,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |JOIN region r1 ON r1.r_regionkey = n1.n_regionkey JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        |WHERE r1.r_name IN ('ASIA', 'EUROPE') AND r2.r_name IN ('ASIA', 'EUROPE') AND r1.r_name <> r2.r_name
        |AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " "),

    "wk_q8_market_share" ->
      """SELECT o_year, round(CAST(nat_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6) + 0.0 AS mkt_share,
        |CAST(tot_rev AS DOUBLE) AS total_revenue FROM (
        |SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |SUM(CASE WHEN n1.n_name = 'NATION_3'
        |THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |ELSE CAST(0 AS DECIMAL(18,4)) END) AS nat_rev,
        |SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS tot_rev
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |JOIN orders ON o_orderkey = l_orderkey JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON s_suppkey = l_suppkey JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |WHERE p_type = 'ECONOMY' AND c_nationkey IN
        |(SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA')
        |GROUP BY 1) ORDER BY o_year""".stripMargin.replace("\n", " "),

    "wk_q14_promo_share" ->
      """SELECT round(100.0 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0 AS promo_share_pct,
        |CAST(promo AS DOUBLE) AS promo_revenue, CAST(total AS DOUBLE) AS total_revenue FROM (
        |SELECT SUM(CASE WHEN p_type = 'PROMO'
        |THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo,
        |SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01')""".stripMargin.replace("\n", " "),

    "wk_q18_large_orders" ->
      """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM (SELECT l_orderkey, SUM(l_quantity) AS sum_qty FROM lineitem
        |GROUP BY l_orderkey HAVING SUM(l_quantity) > 300) big
        |JOIN orders ON o_orderkey = big.l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", " "),

    "wk_q22_lapsed_customers" ->
      """WITH thresh AS (SELECT COUNT(*) AS n_pos, SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS tot_pos
        |FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, COUNT(*) AS n_lapsed,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer, thresh
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n_pos > tot_pos
        |AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |AND o_orderdate >= TIMESTAMP '2000-06-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin.replace("\n", " "),

    "pipeline_pack_sequences" ->
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
        |c AS (SELECT doc_id, tokens, COALESCE(SUM(tokens) OVER
        |(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM d)
        |SELECT CAST(cum_before // 512 AS BIGINT) AS seq_id, COUNT(*) AS n_docs,
        |CAST(SUM(tokens) AS BIGINT) AS seq_tokens,
        |MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),

    "pipeline_token_budget_mix" ->
      """WITH d AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
        |md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |st AS (SELECT source, CAST(SUM(tokens) AS BIGINT) AS src_tokens FROM d GROUP BY source),
        |stw AS (SELECT source, src_tokens, CAST(floor(sqrt(src_tokens)) AS BIGINT) AS w FROM st),
        |g AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens, CAST(SUM(w) AS BIGINT) AS w_sum FROM stw),
        |b AS (SELECT source, src_tokens, total_tokens * 3 // 10 * w // w_sum AS budget FROM stw, g),
        |c AS (SELECT doc_id, source, tokens, COALESCE(SUM(tokens) OVER
        |(PARTITION BY source ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM d),
        |t AS (SELECT c.source, tokens, budget, src_tokens FROM c JOIN b ON c.source = b.source
        |WHERE cum_before < budget)
        |SELECT source, COUNT(*) AS n_taken, CAST(SUM(tokens) AS BIGINT) AS tokens_taken,
        |MAX(budget) AS budget, MAX(src_tokens) AS src_tokens,
        |round(CAST(SUM(tokens) AS DOUBLE) / CAST(MAX(budget) AS DOUBLE), 6) + 0.0 AS fill_ratio
        |FROM t GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    "dedup_shingle_containment" ->
      ("WITH " + shingleCte("") +
        """, probe AS (SELECT doc_id AS a_id, s FROM sh WHERE doc_id < 50),
        |na AS (SELECT a_id, COUNT(*) AS n_a FROM probe GROUP BY a_id),
        |i AS (SELECT a_id, sh.doc_id AS b_id, COUNT(*) AS inter FROM probe
        |JOIN sh ON probe.s = sh.s AND sh.doc_id <> probe.a_id GROUP BY 1, 2),
        |r AS (SELECT a_id, b_id, inter, n_a,
        |CAST(ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY inter DESC, b_id) AS INT) AS rn
        |FROM i JOIN na USING (a_id))
        |SELECT a_id, b_id, inter, n_a,
        |round(CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE), 6) + 0.0 AS containment, rn
        |FROM r WHERE rn <= 3 AND round(CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE), 6) + 0.0 >= 0.05
        |ORDER BY a_id, rn""".stripMargin.replace("\n", " ")),

    "graph_pagerank_knn" ->
      ("WITH " + knnIvfChain + """, knn AS (SELECT a_id, b_id FROM rk WHERE rn <= 5),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |r0 AS (SELECT vec_id, CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) AS r FROM e, nn),
        |c1 AS (SELECT b_id, SUM(r / CAST(5 AS DOUBLE)) AS c FROM knn JOIN r0 ON a_id = vec_id GROUP BY b_id),
        |r1 AS (SELECT e.vec_id, round(CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE)
        |+ CAST(0.85 AS DOUBLE) * COALESCE(c, CAST(0 AS DOUBLE)), 12) AS r
        |FROM e CROSS JOIN nn LEFT JOIN c1 ON e.vec_id = c1.b_id),
        |c2 AS (SELECT b_id, SUM(r / CAST(5 AS DOUBLE)) AS c FROM knn JOIN r1 ON a_id = vec_id GROUP BY b_id),
        |r2 AS (SELECT e.vec_id, round(CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE)
        |+ CAST(0.85 AS DOUBLE) * COALESCE(c, CAST(0 AS DOUBLE)), 12) AS r
        |FROM e CROSS JOIN nn LEFT JOIN c2 ON e.vec_id = c2.b_id),
        |c3 AS (SELECT b_id, SUM(r / CAST(5 AS DOUBLE)) AS c FROM knn JOIN r2 ON a_id = vec_id GROUP BY b_id),
        |r3 AS (SELECT e.vec_id, round(CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE)
        |+ CAST(0.85 AS DOUBLE) * COALESCE(c, CAST(0 AS DOUBLE)), 12) AS r
        |FROM e CROSS JOIN nn LEFT JOIN c3 ON e.vec_id = c3.b_id)
        |SELECT vec_id, round(r, 6) + 0.0 AS pagerank FROM r3
        |ORDER BY pagerank DESC, vec_id LIMIT 20""".stripMargin.replace("\n", " ")),

    "ts_resample_interp_5m" ->
      (EV +
        """, per AS (SELECT ts_us // 300000000 AS bkt, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS v
        |FROM ev WHERE event_type = 'purchase' GROUP BY 1),
        |bounds AS (SELECT MIN(ts_us // 300000000) AS lo, MAX(ts_us // 300000000) AS hi FROM ev),
        |spine AS (SELECT unnest(range(lo, hi + 1)) AS bkt FROM bounds),
        |j AS (SELECT spine.bkt, per.n, per.v FROM spine LEFT JOIN per ON per.bkt = spine.bkt),
        |x AS (SELECT bkt, n, v,
        |last_value(v IGNORE NULLS) OVER wb AS pv,
        |last_value(CASE WHEN v IS NOT NULL THEN bkt END IGNORE NULLS) OVER wb AS pb,
        |first_value(v IGNORE NULLS) OVER wf AS nv,
        |first_value(CASE WHEN v IS NOT NULL THEN bkt END IGNORE NULLS) OVER wf AS nb
        |FROM j WINDOW wb AS (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |wf AS (ORDER BY bkt ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT make_timestamp(bkt * 300000000) AS bucket, COALESCE(n, 0) AS n,
        |round(CASE WHEN v IS NOT NULL THEN v WHEN pv IS NULL OR nv IS NULL THEN NULL
        |ELSE pv + (nv - pv) * (CAST(bkt - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)) END, 6) + 0.0 AS value_5m,
        |CASE WHEN v IS NOT NULL THEN 'actual' WHEN pv IS NULL OR nv IS NULL THEN 'edge'
        |ELSE 'interp' END AS src
        |FROM x ORDER BY bucket""".stripMargin.replace("\n", " ")),

    "wk_q6_discount_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS forecast_revenue,
        |COUNT(*) AS n_lines FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin.replace("\n", " "),

    "wk_q13_order_count_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |SELECT c_custkey, COUNT(o_orderkey) AS c_count FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin.replace("\n", " "),

    "wk_q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total_rev
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT MAX(total_rev) FROM rev) ORDER BY s_suppkey""".stripMargin.replace("\n", " "),

    "wk_q17_small_qty_revenue" ->
      """WITH pa AS (SELECT l_partkey AS pk,
        |0.2 * (CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*)) AS thr FROM lineitem GROUP BY l_partkey)
        |SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0, 6) + 0.0 AS avg_weekly_revenue,
        |COUNT(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey JOIN pa ON pk = l_partkey
        |WHERE p_brand = 'Brand#1' AND l_quantity < thr""".stripMargin.replace("\n", " "),

    "wk_q19_brand_discounts" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |COUNT(*) AS n_lines FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin.replace("\n", " "),

    "wk_q21_late_supplier" ->
      """WITH l AS (SELECT l_orderkey, l_suppkey, l_linenumber,
        |l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |l1 AS (SELECT l_orderkey AS k, l_suppkey AS sk FROM l WHERE late)
        |SELECT s_name, COUNT(*) AS numwait FROM l1 JOIN supplier ON sk = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM l o WHERE o.l_orderkey = k AND o.l_suppkey <> sk)
        |AND NOT EXISTS (SELECT 1 FROM l o WHERE o.l_orderkey = k AND o.l_suppkey <> sk AND o.late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin.replace("\n", " "),

    // oracle recomputes the aggregate from the ORIGINAL table — the text
    // round-trip must be lossless for the compare to hash-match
    "source_text_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(len(text)) AS BIGINT) AS total_chars,
        |MIN(doc_id) AS first_doc FROM documents GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),

    // md5(VARCHAR) in DuckDB hashes the UTF-8 bytes — the same bytes the
    // Spark side lands in each .bin object and hashes via md5(content)
    "source_binaryfile_ingest" ->
      """SELECT doc_id, octet_length(text::BLOB) AS n_bytes, md5(text) AS content_md5
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "source_xml_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    "fn_json_suite2" ->
      """SELECT event_id,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_struct,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_tuple,
        |'{"k":' || json_extract_string(props, '$.k') || '}' AS roundtrip,
        |'STRUCT<k: BIGINT>' AS inferred
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin.replace("\n", " "),

    // the collated group key surfaces as lower(raw) on both engines; the
    // UTF8_LCASE equality is recomputed as a lower() comparison
    "fn_collation_suite" ->
      """WITH a AS (SELECT CASE WHEN o_orderkey % 2 = 0 THEN o_orderstatus
        |ELSE lower(o_orderstatus) END AS raw FROM orders)
        |SELECT lower(raw) AS status_ci, COUNT(*) AS n,
        |CAST(SUM(CASE WHEN raw = upper(raw) THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
        |MIN(raw) AS min_binary,
        |CAST(SUM(CASE WHEN lower(raw) = 'f' THEN 1 ELSE 0 END) AS BIGINT) AS n_eq_f_ci
        |FROM a GROUP BY lower(raw) ORDER BY status_ci""".stripMargin.replace("\n", " "),

    // the oracle pins the LAST variable binding (150000, not the default)
    "sql_session_variables" ->
      """SELECT o_orderstatus, COUNT(*) AS n_above,
        |CAST(150000.0 AS DOUBLE) AS thresh_used
        |FROM orders WHERE o_totalprice > 150000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replace("\n", " "),

    // the oracle recomputes every variant extraction from the BASE columns:
    // a hash match proves the whole JSON->variant->typed-get chain is the
    // identity (ints exact, doubles via shortest-repr round-trip)
    "fn_variant_suite" ->
      """SELECT event_id, event_type AS type_str,
        |CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |value AS v_double, TRUE AS missing_is_null,
        |'OBJECT<type: STRING>' AS meta_schema
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin.replace("\n", " "),

    "ts_seasonal_decompose" ->
      (EV +
        """, counts AS (SELECT ts_us // 3600000000 AS cb, COUNT(*) AS cn FROM ev GROUP BY 1),
        |bounds AS (SELECT MIN(ts_us // 3600000000) AS lo, MAX(ts_us // 3600000000) AS hi FROM ev),
        |spine AS (SELECT unnest(range(lo, hi + 1)) AS hb FROM bounds),
        |hourly AS (SELECT hb, COALESCE(cn, 0) AS n FROM spine LEFT JOIN counts ON cb = hb),
        |sc AS (SELECT hb, n, COUNT(*) OVER w AS w_n, SUM(n) OVER w AS w_sum, hb % 24 AS hod
        |FROM hourly WINDOW w AS (ORDER BY hb ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        |sc2 AS (SELECT hb, n, w_n, w_sum, hod,
        |CASE WHEN w_n = 25 THEN 25 * n - w_sum END AS det_scaled FROM sc),
        |seas AS (SELECT hod, CAST(SUM(det_scaled) AS DOUBLE) / (25.0 * COUNT(*)) AS seas_raw
        |FROM sc2 WHERE det_scaled IS NOT NULL GROUP BY hod)
        |SELECT make_timestamp(hb * 3600000000) AS hour, n,
        |round(CASE WHEN w_n = 25 THEN CAST(w_sum AS DOUBLE) / 25.0 END, 6) + 0.0 AS trend,
        |round(seas_raw, 6) + 0.0 AS seasonal,
        |round(CASE WHEN w_n = 25 THEN CAST(n AS DOUBLE) - CAST(w_sum AS DOUBLE) / 25.0 - seas_raw END, 6) + 0.0 AS residual
        |FROM sc2 LEFT JOIN seas USING (hod) ORDER BY hour""".stripMargin.replace("\n", " ")),

    "wk_q12_lag_priority" ->
      """SELECT CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY THEN 'fast'
        |WHEN l_shipdate <= o_orderdate + INTERVAL 60 DAY THEN 'normal' ELSE 'slow' END AS lag_class,
        |CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),

    "pipeline_curriculum_phases" ->
      """WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |CAST(len(list_filter(t, x -> list_contains(['the', 'a'], x))) AS INT) AS n_stop FROM d),
        |q AS (SELECT doc_id, n_tokens,
        |round(least(1.0, n_tokens / 50.0) * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens), 6) AS quality FROM s),
        |r AS (SELECT doc_id, n_tokens, quality,
        |CAST(round(quality * 1000000, 0) AS BIGINT) AS q_e6,
        |CAST(NTILE(4) OVER (ORDER BY quality DESC, doc_id) AS INT) AS phase FROM q)
        |SELECT phase, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |round(CAST(SUM(q_e6) AS DOUBLE) / (1000000.0 * COUNT(*)), 6) + 0.0 AS avg_quality,
        |MIN(quality) AS min_quality, MAX(quality) AS max_quality
        |FROM r GROUP BY phase ORDER BY phase""".stripMargin.replace("\n", " "),

    // power iteration unrolled; matrix-vector products and norms are
    // list_dot_product over d-ordered lists — the proven sequential-fold
    // twin of Spark's aggregate/zip_with (J2)
    "vec_pca_power_iter" ->
      """WITH e AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
        |x -> CAST(round(x * 1048576, 0) AS BIGINT)) AS q FROM embeddings),
        |cells AS (SELECT d.i AS d, j.i AS j, SUM(q[CAST(d.i AS INT)] * q[CAST(j.i AS INT)]) AS g
        |FROM e, range(1, 65) d(i), range(1, 65) j(i) GROUP BY 1, 2),
        |grows AS (SELECT d, list_transform(list(g ORDER BY j), x -> CAST(x AS DOUBLE)) AS grow
        |FROM cells GROUP BY d),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |v0 AS (SELECT list_transform(range(1, 65), i -> CAST(0.125 AS DOUBLE)) AS v),
        |w1 AS (SELECT d, list_dot_product(grow, v) AS w FROM grows, v0),
        |l1 AS (SELECT list(w ORDER BY d) AS lw FROM w1),
        |v1 AS (SELECT list_transform(lw, x -> round(x / sqrt(list_dot_product(lw, lw)), 9)) AS v FROM l1),
        |w2 AS (SELECT d, list_dot_product(grow, v) AS w FROM grows, v1),
        |l2 AS (SELECT list(w ORDER BY d) AS lw FROM w2),
        |v2 AS (SELECT list_transform(lw, x -> round(x / sqrt(list_dot_product(lw, lw)), 9)) AS v FROM l2),
        |w3 AS (SELECT d, list_dot_product(grow, v) AS w FROM grows, v2),
        |l3 AS (SELECT list(w ORDER BY d) AS lw FROM w3),
        |v3 AS (SELECT list_transform(lw, x -> round(x / sqrt(list_dot_product(lw, lw)), 9)) AS v FROM l3),
        |wf AS (SELECT d, list_dot_product(grow, v) AS w FROM grows, v3),
        |lf AS (SELECT list(w ORDER BY d) AS lw FROM wf),
        |lam AS (SELECT sqrt(list_dot_product(lw, lw)) AS lam FROM lf)
        |SELECT CAST(d.i - 1 AS INT) AS dim, round(v[CAST(d.i AS INT)], 6) + 0.0 AS loading,
        |round(lam / CAST(1099511627776 AS DOUBLE) / n, 6) + 0.0 AS eigenvalue
        |FROM v3, range(1, 65) d(i), lam, nn
        |ORDER BY abs(loading) DESC, dim LIMIT 8""".stripMargin.replace("\n", " "),

    // the pipe-syntax query desugars to exactly this classic form
    "sql_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),

    // the oracle pins the bound parameter value ('MACHINERY', the last
    // SET VARIABLE binding) the dynamic text must have received
    "sql_execute_immediate" ->
      """SELECT c_nationkey, COUNT(*) AS n_cust,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer WHERE c_mktsegment = 'MACHINERY'
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin.replace("\n", " "),

    // two Lloyd rounds unrolled (M51's fixed-iteration pattern); centroid
    // components round 6 dp per round, dots are list_dot_product ordered
    // folds (J2 equivalence), mean_sim integerizes at 2^20 (J17)
    "vec_kmeans_lloyd" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
        |c0 AS (SELECT cell, list(c ORDER BY dim) AS cvec FROM (
        |SELECT label AS cell, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(emb[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c
        |FROM e, range(1, 65) t(i) GROUP BY label, i) GROUP BY cell),
        |a1 AS (SELECT vec_id, emb, cell FROM (
        |SELECT e.vec_id, e.emb, c.cell,
        |ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_dot_product(e.emb, c.cvec) DESC, c.cell) AS rn
        |FROM e CROSS JOIN c0 c) WHERE rn = 1),
        |c1 AS (SELECT cell, list(c ORDER BY dim) AS cvec FROM (
        |SELECT cell, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(emb[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c
        |FROM a1, range(1, 65) t(i) GROUP BY cell, i) GROUP BY cell),
        |a2 AS (SELECT vec_id, emb, cell FROM (
        |SELECT e.vec_id, e.emb, c.cell,
        |ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_dot_product(e.emb, c.cvec) DESC, c.cell) AS rn
        |FROM e CROSS JOIN c1 c) WHERE rn = 1),
        |c2 AS (SELECT cell, list(c ORDER BY dim) AS cvec FROM (
        |SELECT cell, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(emb[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c
        |FROM a2, range(1, 65) t(i) GROUP BY cell, i) GROUP BY cell),
        |af AS (SELECT vec_id, cell, d FROM (
        |SELECT e.vec_id, c.cell, list_dot_product(e.emb, c.cvec) AS d,
        |ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY list_dot_product(e.emb, c.cvec) DESC, c.cell) AS rn
        |FROM e CROSS JOIN c2 c) WHERE rn = 1)
        |SELECT cell, COUNT(*) AS n_vectors,
        |round(CAST(SUM(CAST(round(d * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS mean_sim
        |FROM af GROUP BY cell ORDER BY cell""".stripMargin.replace("\n", " "),

    // same 5-NN + symmetrize CTEs as M42/M51; counts and degrees exact,
    // one double division at the end
    "graph_knn_jaccard" ->
      ("WITH " + knnIvfChain + """, knn AS (SELECT a_id, b_id FROM rk WHERE rn <= 5),
        |und AS (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
        |adj AS (SELECT u AS x, v AS nb FROM und UNION ALL SELECT v AS x, u AS nb FROM und),
        |deg AS (SELECT x, COUNT(*) AS deg FROM adj GROUP BY x),
        |com AS (SELECT p1.x AS pu, p2.x AS pv, COUNT(*) AS n_common
        |FROM adj p1 JOIN adj p2 ON p1.nb = p2.nb AND p1.x < p2.x GROUP BY p1.x, p2.x)
        |SELECT pu AS u, pv AS v, CAST(n_common AS BIGINT) AS n_common,
        |round(CAST(n_common AS DOUBLE) / (du.deg + dv.deg - n_common), 6) AS jaccard
        |FROM com JOIN deg du ON du.x = pu JOIN deg dv ON dv.x = pv
        |ORDER BY jaccard DESC, u, v LIMIT 15""".stripMargin.replace("\n", " ")),

    // ranking stays in the exact-integer domain (dev = n*cumsum - t*total);
    // the reported cusum is the single double division, round 6
    "ts_changepoint_cusum" ->
      (EV + """, daily AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, COUNT(*) AS n_events FROM ev GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total, COUNT(*) AS n_days FROM daily),
        |cum AS (SELECT day, n_events, CAST(SUM(n_events) OVER (ORDER BY day) AS BIGINT) AS cum_events,
        |ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily)
        |SELECT day, n_events, cum_events, round(CAST(dev AS DOUBLE) / n_days, 6) AS cusum FROM (
        |SELECT day, n_events, cum_events, n_days * cum_events - t * total AS dev, n_days FROM cum, tot)
        |ORDER BY abs(dev) DESC, day LIMIT 5""".stripMargin.replace("\n", " ")),

    // digit via exact decimal->floor->string extraction (Spark truncates
    // decimal->BIGINT, DuckDB rounds — floor first makes them agree)
    "dq_benford_first_digit" ->
      """WITH d AS (SELECT CAST(left(CAST(CAST(floor(CAST(o_totalprice AS DECIMAL(12,2))) AS BIGINT) AS VARCHAR), 1) AS INT) AS digit FROM orders),
        |g AS (SELECT digit, COUNT(*) AS n_orders FROM d GROUP BY digit),
        |t AS (SELECT COUNT(*) AS n_total FROM d)
        |SELECT digit, n_orders,
        |round(CAST(n_orders AS DOUBLE) / n_total, 6) AS observed_frac,
        |round(log10(1.0 + 1.0 / digit), 6) AS expected_frac,
        |round(abs(round(CAST(n_orders AS DOUBLE) / n_total, 6) - round(log10(1.0 + 1.0 / digit), 6)), 6) AS abs_dev
        |FROM g, t ORDER BY digit""".stripMargin.replace("\n", " "),

    // the observed telemetry recomputed as ground truth: one pre-gate and
    // one post-gate aggregate over the same normalize + >=10-token chain
    "pipeline_observe_metrics" ->
      """WITH n AS (SELECT n_chars,
        |CAST(len(string_split(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
        |FROM documents),
        |i AS (SELECT COUNT(*) AS n_seen, CAST(SUM(n_chars) AS BIGINT) AS chars_seen FROM n),
        |k AS (SELECT COUNT(*) AS n_kept, CAST(SUM(n_tok) AS BIGINT) AS tokens_kept FROM n WHERE n_tok >= 10)
        |SELECT i.n_seen, i.chars_seen, k.n_kept, k.tokens_kept,
        |round(CAST(k.n_kept AS DOUBLE) / i.n_seen, 6) + 0.0 AS keep_frac
        |FROM i, k""".stripMargin.replace("\n", " "),

    // the writer rolls a file every 200 sorted records, so file i holds
    // exactly the rows whose (row_number-1)/200 = i — the oracle rebuilds
    // that chunking and the row-index invariant is count(*) by definition
    "source_file_metadata" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |(row_number() OVER (ORDER BY doc_id) - 1) // 200 AS chunk FROM documents)
        |SELECT min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
        |COUNT(*) AS n_rows, COUNT(*) AS rows_by_index,
        |CAST(SUM(n_chars) AS BIGINT) AS chars_in_file
        |FROM r GROUP BY chunk ORDER BY min_doc_id""".stripMargin.replace("\n", " "),

    // M27's modulo-slice snapshot simulation; md5 fingerprints compare
    // content, the full-outer join classifies
    "pipeline_dataset_diff" ->
      """WITH oldd AS (SELECT doc_id, source, md5(text) AS fp FROM documents WHERE doc_id % 20 < 18),
        |newd AS (SELECT doc_id, source,
        |md5(CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END) AS fp
        |FROM documents WHERE doc_id % 20 <> 0),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |COALESCE(n.source, o.source) AS source,
        |CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed'
        |WHEN o.fp <> n.fp THEN 'changed' ELSE 'unchanged' END AS status
        |FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id)
        |SELECT status, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
        |MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM j GROUP BY status ORDER BY status""".stripMargin.replace("\n", " "),

    // same 5-NN CTEs; exact HUGEINT moment sums, one raw-double Pearson
    // tree (E25 pattern), edges counted in both orientations
    "graph_degree_assortativity" ->
      ("WITH " + knnIvfChain + """, knn AS (SELECT a_id, b_id FROM rk WHERE rn <= 5),
        |und AS (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
        |adj AS (SELECT u AS x, v AS nb FROM und UNION ALL SELECT v AS x, u AS nb FROM und),
        |deg AS (SELECT x, COUNT(*) AS deg FROM adj GROUP BY x),
        |pairs AS (SELECT CAST(du.deg AS HUGEINT) AS xd, CAST(dv.deg AS HUGEINT) AS yd
        |FROM adj JOIN deg du ON du.x = adj.x JOIN deg dv ON dv.x = adj.nb),
        |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(xd) AS sx, SUM(yd) AS sy,
        |SUM(xd*xd) AS sxx, SUM(yd*yd) AS syy, SUM(xd*yd) AS sxy FROM pairs)
        |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
        |CAST(n*sxy - sx*sy AS DOUBLE) / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) + 0.0 AS assortativity
        |FROM s""".stripMargin.replace("\n", " ")),

    // ---- round-6 batch ----

    // last-image pick via rank window (Spark's max_by over the composite
    // struct is the same total order); tombstones drop after the pick
    "stream_cdc_apply" ->
      (EV + """, r AS (SELECT user_id, event_type, value, ts_us,
        |ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn FROM ev),
        |n AS (SELECT user_id, COUNT(*) AS n_ops, MAX(ts_us) AS last_ts_us FROM ev GROUP BY user_id)
        |SELECT r.user_id, r.event_type AS last_type, r.value AS last_value, n.n_ops, n.last_ts_us
        |FROM r JOIN n ON r.user_id = n.user_id
        |WHERE rn = 1 AND r.event_type <> 'error' ORDER BY r.user_id""".stripMargin.replace("\n", " ")),

    // dyadic weights (2^-lag) x integer counts: every term and partial sum
    // is exact, so the lag-scatter aggregate cannot diverge across engines
    "win_ewma" ->
      (EV + """, daily AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM ev GROUP BY 1),
        |wr AS (SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
        |c AS (SELECT wr.rn + i AS t, SUM(x * (CAST(1 AS BIGINT) << CAST(30 - i AS INT))) AS num_i,
        |SUM(CAST(1 AS BIGINT) << CAST(30 - i AS INT)) AS den_i
        |FROM wr, range(0, 31) r(i) GROUP BY wr.rn + i)
        |SELECT CAST(day AS VARCHAR) AS day, x AS n_events,
        |round(CAST(num_i AS DOUBLE) / CAST(den_i AS DOUBLE), 6) + 0.0 AS ewma
        |FROM wr JOIN c ON c.t = wr.rn ORDER BY day""".stripMargin.replace("\n", " ")),

    // both arms replicated with the same rank cut; 16-dim arm slices the
    // DOUBLE[] prefix exactly like Spark's slice(embedding, 1, 16)
    "vec_matryoshka_eval" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS a_id, emb AS a_emb FROM e WHERE vec_id < 10),
        |p AS (SELECT q.a_id, q.a_emb, b.vec_id AS b_id, b.emb AS b_emb FROM q, e b WHERE b.vec_id <> q.a_id),
        |ful AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
        |ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY list_dot_product(a_emb, b_emb) DESC, b_id) AS rn FROM p) WHERE rn <= 10),
        |tru AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
        |ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY list_dot_product(a_emb[1:16], b_emb[1:16]) DESC, b_id) AS rn FROM p) WHERE rn <= 10)
        |SELECT f.a_id, COUNT(*) AS n_full,
        |COUNT(t.b_id) AS n_hit,
        |CAST(COUNT(t.b_id) AS DOUBLE) / COUNT(*) AS recall16
        |FROM ful f LEFT JOIN tru t ON t.a_id = f.a_id AND t.b_id = f.b_id
        |GROUP BY f.a_id ORDER BY f.a_id""".stripMargin.replace("\n", " "),

    // fixed-slot s1+s2+s3 summation (no float fold); rank on the rounded
    // score with doc_id tiebreak — identical tree both engines
    "text_bm25_topk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        |tf AS (SELECT doc_id, unnest(toks) AS w FROM d),
        |tfc AS (SELECT doc_id, w, COUNT(*) AS tf FROM tf GROUP BY doc_id, w),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS tot_dl FROM dl),
        |dfc AS (SELECT w, COUNT(*) AS df FROM tfc GROUP BY w),
        |qt AS (SELECT w, df, ROW_NUMBER() OVER (ORDER BY df DESC, w) AS qrank FROM dfc QUALIFY qrank <= 3),
        |sc AS (SELECT t.doc_id, q.qrank,
        |ln(1.0 + (CAST(st.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5) / (CAST(q.df AS DOUBLE) + 0.5))
        |* (CAST(t.tf AS DOUBLE) * 2.2)
        |/ (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / (CAST(st.tot_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE)))) AS s
        |FROM tfc t JOIN qt q ON q.w = t.w JOIN dl l ON l.doc_id = t.doc_id CROSS JOIN st),
        |agg AS (SELECT doc_id,
        |round(COALESCE(MAX(s) FILTER (WHERE qrank = 1), 0.0)
        |+ COALESCE(MAX(s) FILTER (WHERE qrank = 2), 0.0)
        |+ COALESCE(MAX(s) FILTER (WHERE qrank = 3), 0.0), 6) + 0.0 AS bm25
        |FROM sc GROUP BY doc_id)
        |SELECT doc_id, bm25, rk FROM (SELECT doc_id, bm25,
        |ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk FROM agg) WHERE rk <= 10 ORDER BY rk""".stripMargin.replace("\n", " "),

    // block-level 16-bit simhash (M22 machinery over 64-byte blocks), 4x4
    // band candidates (lossless at distance <= 3 by pigeonhole), exact
    // bit_count(xor) <= 3 re-rank
    "mm_phash_hamming" ->
      ("WITH " + phashPairChain +
        """ SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 10
        |ORDER BY hamming, a_id, b_id""".stripMargin.replace("\n", " ")),

    // the bloom is a no-false-negative PREFILTER confirmed by an exact
    // join, so the counts are exact — the oracle checks them with plain
    // two-slice dedup SQL, no sketch replication needed
    "dedup_bloom_prefilter" ->
      """WITH fp AS (SELECT doc_id, source,
        |md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS fp,
        |doc_id % 10 = 0 AS incoming FROM documents),
        |ex AS (SELECT DISTINCT fp FROM fp WHERE NOT incoming),
        |inc AS (SELECT f.source, CASE WHEN ex.fp IS NULL THEN 0 ELSE 1 END AS is_dup
        |FROM fp f LEFT JOIN ex ON ex.fp = f.fp WHERE f.incoming)
        |SELECT source, COUNT(*) AS n_incoming, CAST(SUM(is_dup) AS BIGINT) AS n_dup,
        |CAST(COUNT(*) - SUM(is_dup) AS BIGINT) AS n_new,
        |round(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) + 0.0 AS dup_frac
        |FROM inc GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    // full-corpus IVF assignment (the ann_ivf_topk quantizer CTEs); cell
    // coherence integerized at 2^20 before the exact sum (J18 protocol)
    "vec_ivf_stats" ->
      """WITH comp AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |round(CAST(SUM(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c
        |FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM comp GROUP BY label),
        |dots AS (SELECT e.vec_id, c.cell,
        |list_dot_product(CAST(e.embedding AS DOUBLE[]), cvec) AS d
        |FROM embeddings e CROSS JOIN cent c),
        |asg AS (SELECT vec_id, cell, CAST(round(d * 1048576) AS BIGINT) AS d_int FROM
        |(SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn FROM dots) WHERE rn = 1),
        |st AS (SELECT cell, COUNT(*) AS n_vectors, SUM(d_int) AS d_sum FROM asg GROUP BY cell),
        |tt AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_total, COUNT(*) AS n_cells FROM st)
        |SELECT cell, n_vectors,
        |round(CAST(n_vectors AS DOUBLE) / n_total, 6) + 0.0 AS corpus_frac,
        |round(CAST(n_vectors AS DOUBLE) * n_cells / n_total, 6) + 0.0 AS imbalance,
        |round(CAST(d_sum AS DOUBLE) / (n_vectors * 1048576.0), 6) + 0.0 AS mean_centroid_sim
        |FROM st, tt ORDER BY cell""".stripMargin.replace("\n", " "),

    // 13-token exact-match rule; <13-token docs have zero n-grams and are
    // clean by definition
    "text_decontaminate_13gram" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) < 13 THEN CAST([] AS VARCHAR[])
        |ELSE list_transform(range(1, len(t) - 11), i -> array_to_string(t[CAST(i AS INT):CAST(i AS INT) + 12], ' ')) END)) AS g FROM d),
        |test AS (SELECT * FROM g WHERE doc_id % 10 = 0),
        |train AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 <> 0),
        |tot AS (SELECT doc_id, CAST(greatest(len(string_split(text, ' ')) - 12, 0) AS BIGINT) AS n_grams
        |FROM documents WHERE doc_id % 10 = 0),
        |hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM test WHERE g IN (SELECT g FROM train) GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_grams, COALESCE(hit.n_hit, 0) AS n_hit,
        |COALESCE(hit.n_hit, 0) > 0 AS is_contaminated
        |FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id ORDER BY tot.doc_id""".stripMargin.replace("\n", " "),

    // per-word -ln(p) integerized at 1e6 before the per-doc sum (exact
    // LONG aggregate); rank on the rounded mean with doc_id tiebreak
    "text_perplexity_proxy" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, COUNT(*) AS c FROM tk GROUP BY w),
        |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM wc),
        |nlp AS (SELECT w, CAST(round(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) * 1e6) AS BIGINT) AS nlp_int FROM wc, tt),
        |ds AS (SELECT doc_id, COUNT(*) AS n_tokens, SUM(nlp_int) AS s
        |FROM tk JOIN nlp ON nlp.w = tk.w GROUP BY doc_id)
        |SELECT doc_id, n_tokens, avg_neg_logprob, rk FROM (
        |SELECT doc_id, n_tokens,
        |round(CAST(s AS DOUBLE) / (n_tokens * 1e6), 6) + 0.0 AS avg_neg_logprob,
        |ROW_NUMBER() OVER (ORDER BY round(CAST(s AS DOUBLE) / (n_tokens * 1e6), 6) + 0.0 DESC, doc_id) AS rk
        |FROM ds) WHERE rk <= 20 ORDER BY rk""".stripMargin.replace("\n", " "),

    // exact-decimal cumulative balance / running peak / drawdown over the
    // day-collapsed series; doubles only at the output cast
    "win_drawdown" ->
      (EV + """, daily AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2))
        |ELSE -CAST(value AS DECIMAL(12,2)) END) AS flow
        |FROM ev WHERE event_type IN ('purchase', 'error') GROUP BY 1),
        |r AS (SELECT day, flow,
        |SUM(flow) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance FROM daily),
        |p AS (SELECT day, flow, balance,
        |MAX(balance) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM r)
        |SELECT day, CAST(flow AS DOUBLE) AS net_flow, CAST(balance AS DOUBLE) AS balance,
        |CAST(peak AS DOUBLE) AS peak, CAST(peak - balance AS DOUBLE) AS drawdown
        |FROM p ORDER BY day""".stripMargin.replace("\n", " ")),

    // LSH banding (the M2 CTEs) scored against exact-Jaccard ground truth
    // from the shingle co-occurrence join; counts exact, two divisions
    "dedup_lsh_recall_eval" ->
      (s"WITH $lshPairChain, " +
        """alltr AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ni
        |FROM sh x JOIN sh y ON y.s = x.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
        |truth AS (SELECT t.a_id, t.b_id FROM alltr t
        |JOIN cnt ca ON ca.doc_id = t.a_id JOIN cnt cb ON cb.doc_id = t.b_id
        |WHERE CAST(t.ni AS DOUBLE) / (ca.n + cb.n - t.ni) >= 0.8),
        |h AS (SELECT COUNT(*) AS n_hit FROM truth t JOIN cand c ON c.a_id = t.a_id AND c.b_id = t.b_id),
        |nt AS (SELECT COUNT(*) AS n_true FROM truth),
        |nc AS (SELECT COUNT(*) AS n_cand FROM cand)
        |SELECT n_true, n_cand, n_hit,
        |CASE WHEN n_cand > 0 THEN round(CAST(n_hit AS DOUBLE) / n_cand, 6) + 0.0 END AS precision,
        |CASE WHEN n_true > 0 THEN round(CAST(n_hit AS DOUBLE) / n_true, 6) + 0.0 END AS recall
        |FROM nt, nc, h""".stripMargin.replace("\n", " ")),

    // epoch-week integer buckets (ts_us // us-per-week) — no calendar
    // semantics to diverge on; all counts exact, one rounded division
    "win_retention_cohort" ->
      (EV + """, wk AS (SELECT DISTINCT user_id, ts_us // 604800000000 AS wk FROM ev),
        |ch AS (SELECT user_id, MIN(wk) AS cohort_wk FROM wk GROUP BY user_id),
        |cl AS (SELECT ch.cohort_wk, wk.wk - ch.cohort_wk AS week_offset, COUNT(*) AS n_active
        |FROM wk JOIN ch ON ch.user_id = wk.user_id GROUP BY 1, 2),
        |sz AS (SELECT cohort_wk, COUNT(*) AS cohort_size FROM ch GROUP BY cohort_wk)
        |SELECT cl.cohort_wk, cl.week_offset, cl.n_active, sz.cohort_size,
        |round(CAST(cl.n_active AS DOUBLE) / sz.cohort_size, 6) + 0.0 AS retention
        |FROM cl JOIN sz ON sz.cohort_wk = cl.cohort_wk
        |ORDER BY cl.cohort_wk, cl.week_offset""".stripMargin.replace("\n", " ")),

    // the M49 packing CTEs + one report aggregate over the bin relation
    "pipeline_packing_efficiency" ->
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
        |c AS (SELECT doc_id, tokens, COALESCE(SUM(tokens) OVER
        |(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM d),
        |bins AS (SELECT CAST(cum_before // 512 AS BIGINT) AS seq_id,
        |CAST(SUM(tokens) AS BIGINT) AS seq_tokens FROM c GROUP BY 1),
        |agg AS (SELECT COUNT(*) AS n_seqs, CAST(SUM(seq_tokens) AS BIGINT) AS total_tokens,
        |CAST(COUNT(*) FILTER (WHERE seq_tokens > 512) AS BIGINT) AS n_over_budget,
        |CAST(MAX(seq_tokens) AS BIGINT) AS max_seq_tokens FROM bins)
        |SELECT n_seqs, total_tokens,
        |CAST((total_tokens + 511) // 512 AS BIGINT) AS ideal_seqs,
        |n_over_budget, max_seq_tokens,
        |round(CAST(total_tokens AS DOUBLE) / (n_seqs * 512.0), 6) + 0.0 AS mean_fill
        |FROM agg""".stripMargin.replace("\n", " "),

    // exact-integer KS: per-value counts, cumulative counts over the value
    // order, sup of |cumA*nB - cumB*nA| as BIGINT, one rounded division
    "dq_ks_test" ->
      """WITH b AS (SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
        |CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ia
        |FROM lineitem WHERE l_returnflag IN ('R', 'N')),
        |g AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS ca, CAST(SUM(1 - ia) AS BIGINT) AS cb FROM b GROUP BY v),
        |c AS (SELECT v, SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
        |SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b FROM g),
        |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM g),
        |d AS (SELECT n_a, n_b, CAST(MAX(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num
        |FROM c, t GROUP BY n_a, n_b)
        |SELECT n_a, n_b, d_num,
        |round(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) + 0.0 AS ks_d
        |FROM d""".stripMargin.replace("\n", " "),

    // ---- round-7: partsupp-dependent family over the DERIVED partsupp
    // relation — this CTE mirrors Tables.partsupp exactly (same integer
    // formulas, same LONG-cents cost), so every comparison is exact.

    "wk_q2_min_cost_supplier" ->
      (PS +
        """SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |CAST(ps_cost_cents AS DOUBLE)/100 AS supply_cost
        |FROM partsupp JOIN part ON p_partkey = ps_partkey
        |JOIN supplier ON s_suppkey = ps_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size <= 25
        |AND ps_cost_cents = (
        |SELECT MIN(ps2.ps_cost_cents) FROM partsupp ps2
        |JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        |JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        |JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        |WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin.replace("\n", " ")),

    "wk_q9_product_profit" ->
      (PS +
        """SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |- CAST(SUM(ps_cost_cents * CAST(l_quantity AS BIGINT)) AS DOUBLE)/100 AS profit
        |FROM lineitem
        |JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |JOIN part ON p_partkey = l_partkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, 2 ORDER BY n_name, o_year DESC""".stripMargin.replace("\n", " ")),

    "wk_q11_important_stock" ->
      (PS +
        """, v AS (SELECT ps_partkey, SUM(ps_cost_cents * ps_availqty) AS value_cq
        |FROM partsupp JOIN supplier ON s_suppkey = ps_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'ASIA' GROUP BY ps_partkey),
        |t AS (SELECT SUM(value_cq) AS total, COUNT(*) AS n_parts FROM v)
        |SELECT ps_partkey, CAST(value_cq AS DOUBLE)/100 AS stock_value
        |FROM v, t WHERE value_cq * n_parts * 5 > total * 8
        |ORDER BY stock_value DESC, ps_partkey LIMIT 100""".stripMargin.replace("\n", " ")),

    "wk_q16_supplier_cnt" ->
      (PS +
        """SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM partsupp JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |AND p_size IN (1,4,9,14,19,24,29,34)
        |AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin.replace("\n", " ")),

    "wk_q20_excess_stock" ->
      (PS +
        """, q97 AS (SELECT l_partkey AS qpk, l_suppkey AS qsk, SUM(l_quantity) AS qty
        |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2)
        |SELECT s_name, s_acctbal FROM supplier
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'AFRICA' AND EXISTS (
        |SELECT 1 FROM partsupp JOIN part ON p_partkey = ps_partkey
        |JOIN q97 ON qpk = ps_partkey AND qsk = ps_suppkey
        |WHERE ps_suppkey = s_suppkey AND p_name LIKE 'blue%'
        |AND CAST(ps_availqty AS DOUBLE) > 0.5 * qty)
        |ORDER BY s_name""".stripMargin.replace("\n", " ")),

    // ---- round-7 batch 2

    // reuses the shared IVF chain's label-carrying cand CTE; the rank cut
    // applies the cross-label residual BEFORE ranking
    "vec_hard_negatives" ->
      ("WITH " + knnIvfChain +
        """, hn AS (SELECT a_id, a_label, b_id, b_label, dot,
        |ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rn
        |FROM cand WHERE b_label <> a_label)
        |SELECT a_id, a_label, b_id, b_label, round(dot, 4) + 0.0 AS sim, rn
        |FROM hn WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin.replace("\n", " ")),

    "text_novelty_frac" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) < 5 THEN CAST([] AS VARCHAR[])
        |ELSE list_transform(range(1, len(t) - 3), i -> t[CAST(i AS INT)] || ' ' ||
        |t[CAST(i AS INT) + 1] || ' ' || t[CAST(i AS INT) + 2] || ' ' ||
        |t[CAST(i AS INT) + 3] || ' ' || t[CAST(i AS INT) + 4]) END)) AS gram FROM d),
        |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |round(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) + 0.0 AS novelty_frac
        |FROM g JOIN f ON f.gram = g.gram GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin.replace("\n", " "),

    // the uniform draw and the threshold are both exact integers, so the
    // kept set is engine- and partitioning-independent by construction
    "pipeline_quality_weighted_sample" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |q AS (SELECT doc_id, source, len(t) AS n_tokens,
        |least(1.0, len(t) / 50.0) * (1.0 - CAST(len(list_filter(t, x -> x IN ('the', 'a'))) AS DOUBLE) / len(t)) AS quality
        |FROM d),
        |k AS (SELECT source, n_tokens,
        |('0x' || substr(md5('qs|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |< CAST(round(quality * 4294967296, 0) AS BIGINT) AS kept FROM q)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |round(CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) + 0.0 AS kept_frac,
        |CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM k GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    // the oracle recomputes the permissive-read report ARITHMETICALLY from
    // the base table: a hash match proves capture hit exactly the planted
    // rows and every clean payload round-tripped
    "source_csv_permissive" ->
      """SELECT COUNT(*) AS n_rows,
        |CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
        |CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
        |CAST(SUM(CASE WHEN doc_id % 7 <> 0 THEN n_chars END) AS BIGINT) AS sum_payload_good
        |FROM documents""".stripMargin.replace("\n", " "),

    // ---- round-7 batch 3

    // exact LONG window sums; variance numerator compared to zero as an
    // integer; one identical double expression tree for mean/z
    "dq_rolling_zscore" ->
      (EV + """, daily AS (SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS x
        |FROM ev GROUP BY 1, 2),
        |w AS (SELECT day, event_type, x,
        |COUNT(*) OVER win AS n_w, SUM(x) OVER win AS sx, SUM(x * x) OVER win AS sxx
        |FROM daily WINDOW win AS (PARTITION BY event_type ORDER BY day
        |ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT CAST(day AS VARCHAR) AS day, event_type, x,
        |round(CAST(sx AS DOUBLE) / 7.0, 6) + 0.0 AS mean7,
        |CASE WHEN (7 * sxx - sx * sx) > 0 THEN
        |round((x - CAST(sx AS DOUBLE) / 7.0) / sqrt(CAST(7 * sxx - sx * sx AS DOUBLE) / 42.0), 6) + 0.0
        |END AS zscore
        |FROM w WHERE n_w = 7 ORDER BY event_type, day""".stripMargin.replace("\n", " ")),

    "pipeline_epoch_shuffle" ->
      """WITH x AS (SELECT doc_id, unnest([0, 1, 2]) AS epoch FROM documents),
        |k AS (SELECT epoch, doc_id,
        |md5('ep' || CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)) AS shuffle_key FROM x),
        |r AS (SELECT epoch, doc_id, shuffle_key,
        |ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY shuffle_key, doc_id) AS rk FROM k)
        |SELECT epoch, rk, doc_id, shuffle_key FROM r WHERE rk <= 10
        |ORDER BY epoch, rk""".stripMargin.replace("\n", " "),

    // the sweep's band keys differ textually from Spark's (hex-string vs
    // raw-binary md5 inputs) but are equality-faithful per engine, so the
    // candidate PAIR sets — the only thing counted — are identical
    "dedup_band_tuning_sweep" ->
      (s"WITH ${shingleCte("WHERE doc_id < 200")}, " +
        s"sig AS ($sigSelect), " +
        """bandsw AS (
        |SELECT 'b2r2' AS cfg, 0 AS bk, doc_id, md5(s0 || s1) AS b FROM sig
        |UNION ALL SELECT 'b2r2', 1, doc_id, md5(s2 || s3) FROM sig
        |UNION ALL SELECT 'b4r1', 0, doc_id, s0 FROM sig
        |UNION ALL SELECT 'b4r1', 1, doc_id, s1 FROM sig
        |UNION ALL SELECT 'b4r1', 2, doc_id, s2 FROM sig
        |UNION ALL SELECT 'b4r1', 3, doc_id, s3 FROM sig
        |UNION ALL SELECT 'b1r4', 0, doc_id, md5(s0 || s1 || s2 || s3) FROM sig),
        |candsw AS (SELECT DISTINCT x.cfg, x.doc_id AS a_id, y.doc_id AS b_id
        |FROM bandsw x JOIN bandsw y ON y.cfg = x.cfg AND y.bk = x.bk AND y.b = x.b AND x.doc_id < y.doc_id),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |alltr AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ni
        |FROM sh x JOIN sh y ON y.s = x.s AND x.doc_id < y.doc_id GROUP BY 1, 2),
        |truth AS (SELECT t.a_id, t.b_id FROM alltr t
        |JOIN cnt ca ON ca.doc_id = t.a_id JOIN cnt cb ON cb.doc_id = t.b_id
        |WHERE CAST(t.ni AS DOUBLE) / (ca.n + cb.n - t.ni) >= 0.8),
        |cfgs AS (SELECT DISTINCT cfg FROM bandsw),
        |pc AS (SELECT cfg, COUNT(*) AS n_cand FROM candsw GROUP BY cfg),
        |hc AS (SELECT c.cfg, COUNT(*) AS n_hit FROM candsw c
        |JOIN truth t ON t.a_id = c.a_id AND t.b_id = c.b_id GROUP BY c.cfg),
        |nt AS (SELECT COUNT(*) AS n_true FROM truth)
        |SELECT cfgs.cfg, n_true,
        |COALESCE(pc.n_cand, 0) AS n_cand, COALESCE(hc.n_hit, 0) AS n_hit,
        |CASE WHEN COALESCE(pc.n_cand, 0) > 0 THEN
        |round(CAST(COALESCE(hc.n_hit, 0) AS DOUBLE) / pc.n_cand, 6) + 0.0 END AS precision,
        |CASE WHEN n_true > 0 THEN
        |round(CAST(COALESCE(hc.n_hit, 0) AS DOUBLE) / n_true, 6) + 0.0 END AS recall
        |FROM cfgs LEFT JOIN pc ON pc.cfg = cfgs.cfg LEFT JOIN hc ON hc.cfg = cfgs.cfg, nt
        |ORDER BY cfgs.cfg""".stripMargin.replace("\n", " ")),

    // identical arithmetic to dedup_bloom_prefilter: the report counts are
    // bloom-independent (tier 2 is exact), so the same oracle checks the
    // partitioned build
    "dedup_bloom_partitioned" ->
      """WITH fp AS (SELECT doc_id, source,
        |md5(array_to_string((string_split(text, ' '))[1:8], ' ')) AS fp,
        |doc_id % 10 = 0 AS incoming FROM documents),
        |ex AS (SELECT DISTINCT fp FROM fp WHERE NOT incoming),
        |inc AS (SELECT f.source, CASE WHEN ex.fp IS NULL THEN 0 ELSE 1 END AS is_dup
        |FROM fp f LEFT JOIN ex ON ex.fp = f.fp WHERE f.incoming)
        |SELECT source, COUNT(*) AS n_incoming, CAST(SUM(is_dup) AS BIGINT) AS n_dup,
        |CAST(COUNT(*) - SUM(is_dup) AS BIGINT) AS n_new,
        |round(CAST(SUM(is_dup) AS DOUBLE) / COUNT(*), 6) + 0.0 AS dup_frac
        |FROM inc GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    // ── round-7 batch 4 ──

    // PQ shared chain: sampled 16-entry codebooks per 16-dim subspace,
    // argmin squared-L2 encode (d2 = list_dot_product of the diff vector
    // with itself — the same sequential fold Spark's aggregate runs)
    "vec_pq_adc_topk" ->
      (pqChain +
        """, lut AS (SELECT vec_id AS a_id, s, c, d2 FROM enc WHERE vec_id < 8),
        |adcp AS (SELECT l.a_id, k.vec_id AS b_id, k.s, l.d2
        |FROM codes k JOIN lut l ON l.s = k.s AND l.c = k.code),
        |adc AS (SELECT a_id, b_id,
        |MAX(CASE WHEN s = 0 THEN d2 END) + MAX(CASE WHEN s = 1 THEN d2 END)
        |+ MAX(CASE WHEN s = 2 THEN d2 END) + MAX(CASE WHEN s = 3 THEN d2 END) AS adc_d2
        |FROM adcp WHERE a_id <> b_id GROUP BY a_id, b_id)
        |SELECT a_id, b_id, round(adc_d2, 6) + 0.0 AS adc, rn FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY adc_d2, b_id) AS rn FROM adc)
        |WHERE rn <= 10 ORDER BY a_id, rn""".stripMargin.replace("\n", " ")),

    "vec_pq_error" ->
      (pqChain +
        """ SELECT s, COUNT(*) AS n_vecs, COUNT(DISTINCT code) AS n_codes_used,
        |round(CAST(SUM(CAST(round(qerr * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS mean_qerr,
        |round(MAX(qerr), 6) + 0.0 AS max_qerr
        |FROM codes GROUP BY s ORDER BY s""".stripMargin.replace("\n", " ")),

    // M111 (round 12; outer-join audit round 13, ADVICE r12 #2) —
    // vec_centroid_drift, the rebuild-policy audit: per-cell L2 distance
    // between the BASE-trained centroid (the frozen quantizer the update
    // path serves) and a fresh M-step on the current corpus; both centroid
    // computations use the shared 2^20 fixed-point protocol, the diff
    // rides the shared diff-vector fold. FULL OUTER on cell: a delta-only
    // (untrained) cell surfaces with untrained = 1 / n_base = 0 / NULL
    // drift instead of being silently dropped; a vanished cell with
    // n_now = 0 / NULL drift.
    "vec_centroid_drift" -> (driftAuditSql +
      " SELECT cell, n_base, n_now, l2_drift, untrained FROM aud ORDER BY cell"),

    // M112 (round 13, VERDICT r12 #2) index_policy_vecsearch — the drift
    // audit turned into the serve/update/retrain DECISION: explicit
    // thresholds (interpolated from the engine constants) over drift,
    // delta fraction, and cell population, per cell plus a
    // worst-cell-wins overall row (cell = -1; one stale cell forces the
    // corpus-level action because quantizer retraining is global).
    "index_policy_vecsearch" -> (driftAuditSql +
      s""", per AS (SELECT cell, n_base, n_now,
        |CASE WHEN n_now > 0 THEN round((n_now - n_base) / CAST(n_now AS DOUBLE), 6) + 0.0 ELSE 0.0 END AS delta_frac,
        |l2_drift, untrained FROM aud),
        |sv AS (SELECT *, CASE WHEN untrained = 1 OR n_now = 0 OR l2_drift > ${graft.ops.Similarity.PolicyDriftRetrain} OR delta_frac > ${graft.ops.Similarity.PolicyDeltaRetrain} THEN 3 WHEN l2_drift > ${graft.ops.Similarity.PolicyDriftReroute} THEN 2 WHEN delta_frac > 0.0 THEN 1 ELSE 0 END AS s FROM per),
        |ovr AS (SELECT -1 AS cell, CAST(SUM(n_base) AS BIGINT) AS n_base, CAST(SUM(n_now) AS BIGINT) AS n_now, MAX(l2_drift) AS l2_drift, MAX(untrained) AS untrained, MAX(s) AS s FROM sv),
        |uni AS (SELECT cell, n_base, n_now, delta_frac, l2_drift, untrained, s FROM sv
        |UNION ALL SELECT cell, n_base, n_now,
        |CASE WHEN n_now > 0 THEN round((n_now - n_base) / CAST(n_now AS DOUBLE), 6) + 0.0 ELSE 0.0 END,
        |l2_drift, untrained, s FROM ovr)
        |SELECT cell, n_base, n_now, delta_frac, l2_drift, untrained,
        |CASE WHEN s = 3 THEN 'retrain' WHEN s = 2 THEN 'reroute' WHEN s = 1 THEN 'update' ELSE 'serve' END AS decision
        |FROM uni ORDER BY cell""".stripMargin.replace("\n", " ")),

    // J31 (round 12) vec_ivf_recall_sweep — the recall/cost curve: one
    // crn<=3 probe relation serves all three arms; per-arm rank cut,
    // micro-averaged recall vs the shared exact ground truth (the
    // ann_ivf_topk full-corpus chain + the M37 protocol).
    "vec_ivf_recall_sweep" ->
      """WITH comp AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |round(CAST(SUM(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c
        |FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM comp GROUP BY label),
        |dots AS (SELECT e.vec_id, e.embedding, c.cell,
        |list_dot_product(CAST(e.embedding AS DOUBLE[]), cvec) AS d
        |FROM embeddings e CROSS JOIN cent c),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn FROM dots),
        |assigned AS (SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1),
        |probe AS (SELECT vec_id AS a_id, cell, rn AS crn FROM ranked WHERE rn <= 3 AND vec_id < 10),
        |cand AS (SELECT p.a_id, b.vec_id AS b_id, p.crn,
        |list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim_raw
        |FROM probe p JOIN embeddings q ON q.vec_id = p.a_id
        |JOIN assigned b ON b.cell = p.cell AND b.vec_id <> p.a_id),
        |np AS (SELECT unnest([1, 2, 3]) AS nprobe),
        |arms AS (SELECT nprobe, a_id, b_id FROM (
        |SELECT np.nprobe, c.a_id, c.b_id,
        |ROW_NUMBER() OVER (PARTITION BY np.nprobe, c.a_id ORDER BY c.sim_raw DESC, c.b_id) AS rnk
        |FROM np JOIN cand c ON c.crn <= np.nprobe) WHERE rnk <= 10),
        |ex AS (SELECT a_id, b_id FROM (
        |SELECT q.vec_id AS a_id, e.vec_id AS b_id,
        |ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rnk
        |FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id WHERE q.vec_id < 10) WHERE rnk <= 10),
        |nex AS (SELECT COUNT(*) AS n FROM ex)
        |SELECT np.nprobe, (SELECT n FROM nex) AS n_exact,
        |CAST(COUNT(a.b_id) AS BIGINT) AS n_hit,
        |CAST(COUNT(a.b_id) AS DOUBLE) / (SELECT n FROM nex) AS recall
        |FROM np CROSS JOIN ex
        |LEFT JOIN arms a ON a.nprobe = np.nprobe AND a.a_id = ex.a_id AND a.b_id = ex.b_id
        |GROUP BY np.nprobe ORDER BY np.nprobe""".stripMargin.replace("\n", " "),

    // J32 (round 13, VERDICT r12 #6) vec_probe_adaptive — per-query
    // ADAPTIVE probe depth: cells probed in centroid-dot rank order until
    // the cumulative inverted-list population reaches the candidate floor
    // (interpolated from the engine constant); recall@10 + cost (cells
    // probed, candidates scored) vs the shared exact ground truth — the
    // knob BETWEEN the J31 sweep's fixed-nprobe grid points.
    "vec_probe_adaptive" ->
      (s"""WITH comp AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |round(CAST(SUM(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c
        |FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM comp GROUP BY label),
        |dots AS (SELECT e.vec_id, e.embedding, c.cell,
        |list_dot_product(CAST(e.embedding AS DOUBLE[]), cvec) AS d
        |FROM embeddings e CROSS JOIN cent c),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rn FROM dots),
        |assigned AS (SELECT vec_id, embedding, cell FROM ranked WHERE rn = 1),
        |pop AS (SELECT cell, COUNT(*) AS pop FROM assigned GROUP BY cell),
        |flr AS (SELECT (${graft.ops.Similarity.AdaptiveProbePct} * COUNT(*) + 99) // 100 AS floor_cnt FROM assigned),
        |probe AS (SELECT a_id, cell FROM (
        |SELECT r.vec_id AS a_id, r.cell,
        |COALESCE(SUM(p.pop) OVER (PARTITION BY r.vec_id ORDER BY r.rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |FROM ranked r JOIN pop p ON p.cell = r.cell WHERE r.vec_id < 10)
        |WHERE cum_before < (SELECT floor_cnt FROM flr)),
        |cand AS (SELECT p.a_id, b.vec_id AS b_id,
        |list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS sim_raw
        |FROM probe p JOIN embeddings q ON q.vec_id = p.a_id
        |JOIN assigned b ON b.cell = p.cell AND b.vec_id <> p.a_id),
        |cost AS (SELECT a_id, COUNT(*) AS n_cand FROM cand GROUP BY a_id),
        |nprb AS (SELECT a_id, COUNT(*) AS n_probed FROM probe GROUP BY a_id),
        |topk AS (SELECT a_id, b_id FROM (
        |SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim_raw DESC, b_id) AS rnk FROM cand) WHERE rnk <= 10),
        |ex AS (SELECT a_id, b_id FROM (
        |SELECT q.vec_id AS a_id, e.vec_id AS b_id,
        |ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) DESC, e.vec_id) AS rnk
        |FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id WHERE q.vec_id < 10) WHERE rnk <= 10)
        |SELECT ex.a_id, np.n_probed, ct.n_cand,
        |CAST(COUNT(*) AS BIGINT) AS n_exact, CAST(COUNT(t.b_id) AS BIGINT) AS n_hit,
        |CAST(COUNT(t.b_id) AS DOUBLE) / COUNT(*) AS recall
        |FROM ex LEFT JOIN topk t ON t.a_id = ex.a_id AND t.b_id = ex.b_id
        |JOIN cost ct ON ct.a_id = ex.a_id JOIN nprb np ON np.a_id = ex.a_id
        |GROUP BY ex.a_id, np.n_probed, ct.n_cand ORDER BY ex.a_id""".stripMargin.replace("\n", " ")),

    // J30 (round 12) pq_recall_at_k — ADC top-10 (the vec_pq_adc_topk
    // serving chain) vs EXACT squared-L2 ground truth (list_dot_product
    // of the diff vector with itself — the same fold both engines' PQ
    // encode runs, so d2 values are bit-identical); the M37 recall
    // protocol per sampled query.
    // M113: stride-25 50-char windows; min-doc_id window ownership
    // (keep-first); any shared run >= 99 chars is guaranteed caught (two
    // stride-25 grids cannot both miss it); substring/length are
    // character-based in both engines and md5 hashes the UTF-8 bytes in both
    "dedup_exact_substring" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 50),
        |offs AS (SELECT doc_id, text, unnest(range(1, length(text) - 48, 25)) AS o FROM d),
        |w AS (SELECT doc_id, md5(substring(text, CAST(o AS INT), 50)) AS h FROM offs),
        |own AS (SELECT h, MIN(doc_id) AS owner FROM w GROUP BY h)
        |SELECT w.doc_id, COUNT(*) AS n_windows,
        |CAST(SUM(CASE WHEN own.owner < w.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |SUM(CASE WHEN own.owner < w.doc_id THEN 1 ELSE 0 END) > 0 AS dup_flag
        |FROM w JOIN own ON own.h = w.h GROUP BY w.doc_id ORDER BY w.doc_id"""
        .stripMargin.replace("\n", " "),

    // A13: two simulated 64-file layouts of the orders fact; zone map =
    // per-file (min, max) o_orderdate; the clustered file id uses the exact
    // integer (rn-1)*64 // n protocol (the frtd bucket arithmetic)
    "layout_zone_map_prune" ->
      """WITH o AS (SELECT o_orderkey, o_orderdate FROM orders),
        |n AS (SELECT COUNT(*) AS n_total FROM o),
        |arrival AS (SELECT 'arrival' AS layout, o_orderkey % 64 AS file_id, o_orderdate FROM o),
        |clustered AS (SELECT 'clustered' AS layout, ((ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) - 1) * 64) // (SELECT n_total FROM n) AS file_id, o_orderdate FROM o),
        |bl AS (SELECT * FROM arrival UNION ALL SELECT * FROM clustered),
        |za AS (SELECT layout, file_id, MIN(o_orderdate) AS mn, MAX(o_orderdate) AS mx, COUNT(*) AS n_rows,
        |SUM(CASE WHEN o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1995-12-31 23:59:59' THEN 1 ELSE 0 END) AS n_match
        |FROM bl GROUP BY layout, file_id),
        |zp AS (SELECT *, CASE WHEN mx < TIMESTAMP '1995-01-01 00:00:00' OR mn > TIMESTAMP '1995-12-31 23:59:59' THEN 1 ELSE 0 END AS pruned FROM za)
        |SELECT layout, COUNT(*) AS n_files, CAST(SUM(pruned) AS BIGINT) AS n_pruned,
        |CAST(SUM(n_rows) AS BIGINT) AS rows_total,
        |CAST(SUM(CASE WHEN pruned = 1 THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
        |CAST(SUM(n_match) AS BIGINT) AS rows_matching,
        |round(CAST(SUM(CASE WHEN pruned = 1 THEN 0 ELSE n_rows END) AS DOUBLE) / NULLIF(SUM(n_match), 0), 4) + 0.0 AS scan_amplification
        |FROM zp GROUP BY layout ORDER BY layout""".stripMargin.replace("\n", " "),

    // J33: residual IVF-PQ recall harness — the store's quantizer/
    // assignment protocol (per-label 2^20 fixed-point centroids, argmax by
    // (d DESC, cell)), residual = emb - cvec(cell), then the pqChain
    // protocol on residuals (sampled init vec_id < 16, one Lloyd round),
    // per-(query, cell) LUTs, fixed-order 4-term ADC, recall@10 vs exact
    // squared-L2 (the pq_recall_at_k comparison target)
    "vec_pq_residual" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |comp AS (SELECT label, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM comp GROUP BY label),
        |dots AS (SELECT e.vec_id, c.cell, list_dot_product(e.emb, c.cvec) AS d FROM e CROSS JOIN cent c),
        |asg AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS rna FROM dots) WHERE rna = 1),
        |r AS MATERIALIZED (SELECT e.vec_id, a.cell, list_transform(range(1, 65), i -> e.emb[CAST(i AS INT)] - c.cvec[CAST(i AS INT)]) AS emb FROM e JOIN asg a ON a.vec_id = e.vec_id JOIN cent c ON c.cell = a.cell),
        |ss AS (SELECT unnest([0, 1, 2, 3]) AS s),
        |sub AS (SELECT vec_id, s, list_transform(range(1, 17), i -> emb[CAST(s * 16 + i AS INT)]) AS sv FROM r, ss),
        |cb0 AS (SELECT s, CAST(vec_id AS INT) AS c, sv AS cbv FROM sub WHERE vec_id < 16),
        |enc0 AS (SELECT vec_id, s, c, list_dot_product(dv, dv) AS d2 FROM (SELECT v.vec_id, v.s, cb0.c, list_transform(range(1, 17), i -> v.sv[CAST(i AS INT)] - cb0.cbv[CAST(i AS INT)]) AS dv FROM sub v JOIN cb0 ON cb0.s = v.s)),
        |codes0 AS (SELECT vec_id, s, c AS code FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn0 FROM enc0) WHERE rn0 = 1),
        |tm AS (SELECT k.s, k.code AS c, t.i AS dim, round(CAST(SUM(CAST(round(v.sv[CAST(t.i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS cc FROM codes0 k JOIN sub v ON v.vec_id = k.vec_id AND v.s = k.s, range(1, 17) t(i) GROUP BY k.s, k.code, t.i),
        |cbt AS (SELECT s, c, list(cc ORDER BY dim) AS cbv FROM tm GROUP BY s, c),
        |cb AS (SELECT cb0.s, cb0.c, COALESCE(cbt.cbv, cb0.cbv) AS cbv FROM cb0 LEFT JOIN cbt ON cbt.s = cb0.s AND cbt.c = cb0.c),
        |enc AS (SELECT vec_id, s, c, list_dot_product(dv, dv) AS d2 FROM (SELECT v.vec_id, v.s, cb.c, list_transform(range(1, 17), i -> v.sv[CAST(i AS INT)] - cb.cbv[CAST(i AS INT)]) AS dv FROM sub v JOIN cb ON cb.s = v.s)),
        |codes AS (SELECT vec_id, s, c AS code FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn1 FROM enc) WHERE rn1 = 1),
        |qres AS (SELECT q.vec_id AS a_id, c.cell, list_transform(range(1, 65), i -> q.emb[CAST(i AS INT)] - c.cvec[CAST(i AS INT)]) AS qr FROM e q CROSS JOIN cent c WHERE q.vec_id < 8),
        |qsub AS (SELECT a_id, cell, s, list_transform(range(1, 17), i -> qr[CAST(s * 16 + i AS INT)]) AS sv FROM qres, ss),
        |qlut AS (SELECT a_id, cell, s, c, list_dot_product(dv, dv) AS d2 FROM (SELECT q.a_id, q.cell, q.s, cb.c, list_transform(range(1, 17), i -> q.sv[CAST(i AS INT)] - cb.cbv[CAST(i AS INT)]) AS dv FROM qsub q JOIN cb ON cb.s = q.s)),
        |adcp AS (SELECT l.a_id, k.vec_id AS b_id, k.s, l.d2 FROM codes k JOIN asg a ON a.vec_id = k.vec_id JOIN qlut l ON l.cell = a.cell AND l.s = k.s AND l.c = k.code),
        |adc AS (SELECT a_id, b_id, MAX(CASE WHEN s = 0 THEN d2 END) + MAX(CASE WHEN s = 1 THEN d2 END) + MAX(CASE WHEN s = 2 THEN d2 END) + MAX(CASE WHEN s = 3 THEN d2 END) AS adc_d2 FROM adcp WHERE a_id <> b_id GROUP BY a_id, b_id),
        |adct AS (SELECT a_id, b_id FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY adc_d2, b_id) AS rn FROM adc) WHERE rn <= 10),
        |q AS (SELECT vec_id AS a_id, emb AS a_emb FROM e WHERE vec_id < 8),
        |exd AS (SELECT q.a_id, e.vec_id AS b_id, list_transform(range(1, 65), i -> q.a_emb[CAST(i AS INT)] - e.emb[CAST(i AS INT)]) AS dv FROM q JOIN e ON e.vec_id <> q.a_id),
        |ex AS (SELECT a_id, b_id FROM (SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY list_dot_product(dv, dv), b_id) AS rn FROM exd) WHERE rn <= 10)
        |SELECT ex.a_id, COUNT(*) AS n_exact, CAST(COUNT(adct.b_id) AS BIGINT) AS n_hit,
        |CAST(COUNT(adct.b_id) AS DOUBLE) / COUNT(*) AS recall
        |FROM ex LEFT JOIN adct ON adct.a_id = ex.a_id AND adct.b_id = ex.b_id
        |GROUP BY ex.a_id ORDER BY ex.a_id""".stripMargin.replace("\n", " "),

    // M114: 4 unrolled BFS frontier stages over the mutual-8NN edge CTEs
    // (the graph_cc_full edge construction); seeds = graph nodes with
    // vec_id % 100 = 0; unreached graph nodes report dist = -1
    "graph_bfs_distance_full" ->
      ("WITH " + knnFullChain +
        s""", knn AS MATERIALIZED (SELECT a_id, b_id FROM frk WHERE rn <= $KF),
        |me AS MATERIALIZED (SELECT a.a_id AS u, a.b_id AS v FROM knn a
        |JOIN knn b ON b.a_id = a.b_id AND b.b_id = a.a_id WHERE a.a_id < a.b_id),
        |ed AS MATERIALIZED (SELECT u AS a, v AS b FROM me UNION ALL SELECT v, u FROM me),
        |nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM ed),
        |d0 AS (SELECT node FROM nodes WHERE node % 100 = 0),
        |d1 AS MATERIALIZED (SELECT DISTINCT e.b AS node FROM ed e JOIN d0 s ON s.node = e.a
        |WHERE e.b NOT IN (SELECT node FROM d0)),
        |d2 AS MATERIALIZED (SELECT DISTINCT e.b AS node FROM ed e JOIN d1 s ON s.node = e.a
        |WHERE e.b NOT IN (SELECT node FROM d0) AND e.b NOT IN (SELECT node FROM d1)),
        |d3 AS MATERIALIZED (SELECT DISTINCT e.b AS node FROM ed e JOIN d2 s ON s.node = e.a
        |WHERE e.b NOT IN (SELECT node FROM d0) AND e.b NOT IN (SELECT node FROM d1) AND e.b NOT IN (SELECT node FROM d2)),
        |d4 AS MATERIALIZED (SELECT DISTINCT e.b AS node FROM ed e JOIN d3 s ON s.node = e.a
        |WHERE e.b NOT IN (SELECT node FROM d0) AND e.b NOT IN (SELECT node FROM d1) AND e.b NOT IN (SELECT node FROM d2) AND e.b NOT IN (SELECT node FROM d3)),
        |dist AS (SELECT node, 0 AS dist FROM d0 UNION ALL SELECT node, 1 FROM d1
        |UNION ALL SELECT node, 2 FROM d2 UNION ALL SELECT node, 3 FROM d3
        |UNION ALL SELECT node, 4 FROM d4)
        |SELECT CAST(COALESCE(d.dist, -1) AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM nodes n LEFT JOIN dist d ON d.node = n.node
        |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),

    // E29: CMS d=4 × w=64, pairwise hashes ((a_j·u + b_j) mod (2^31−1))
    // mod 64 — pure integer arithmetic on both engines; estimate = min
    // over rows; overestimate ≥ 0 is the one-sided CMS certificate
    "agg_countmin_sketch" ->
      """WITH hj AS (SELECT unnest([0,1,2,3]) AS j),
        |hc AS (SELECT j, CASE j WHEN 0 THEN 131 WHEN 1 THEN 137 WHEN 2 THEN 139 ELSE 149 END AS a,
        |CASE j WHEN 0 THEN 17 WHEN 1 THEN 29 WHEN 2 THEN 43 ELSE 59 END AS b FROM hj),
        |cells AS (SELECT hc.j, ((hc.a * e.user_id + hc.b) % 2147483647) % 64 AS bucket,
        |CAST(COUNT(*) AS BIGINT) AS cell FROM events e CROSS JOIN hc GROUP BY 1, 2),
        |probes AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n FROM events
        |WHERE user_id < 20 GROUP BY user_id),
        |pb AS (SELECT p.user_id, p.exact_n, hc.j,
        |((hc.a * p.user_id + hc.b) % 2147483647) % 64 AS bucket FROM probes p CROSS JOIN hc),
        |est AS (SELECT pb.user_id, MAX(pb.exact_n) AS exact_n, MIN(c.cell) AS cms_est
        |FROM pb JOIN cells c ON c.j = pb.j AND c.bucket = pb.bucket GROUP BY pb.user_id)
        |SELECT user_id, exact_n, cms_est, cms_est - exact_n AS overestimate
        |FROM est ORDER BY user_id""".stripMargin.replace("\n", " "),

    // L26: Holt's linear trend, α=1/2 β=1/4 (dyadic — exact binary float
    // steps); the sequential recurrence runs as a recursive CTE here and
    // as an aggregate() HOF fold in Spark, with IDENTICAL IEEE trees
    "ts_holt_linear" ->
      ("WITH RECURSIVE " + EV.stripPrefix("WITH ") +
        """, d AS (SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |round(SUM(value), 6) AS y FROM ev WHERE value IS NOT NULL GROUP BY 1, 2),
        |i AS (SELECT event_type, y, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t FROM d),
        |nn AS (SELECT event_type, MAX(t) AS n FROM i GROUP BY 1),
        |rec AS (
        |SELECT i1.event_type, CAST(2 AS BIGINT) AS t, i1.y AS l, i2.y - i1.y AS b, CAST(0.0 AS DOUBLE) AS sse
        |FROM i i1 JOIN i i2 ON i2.event_type = i1.event_type AND i2.t = 2 WHERE i1.t = 1
        |UNION ALL
        |SELECT r.event_type, r.t + 1,
        |CAST(0.5 AS DOUBLE) * i.y + CAST(0.5 AS DOUBLE) * (r.l + r.b) AS l,
        |CAST(0.25 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * i.y + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
        |+ CAST(0.75 AS DOUBLE) * r.b AS b,
        |r.sse + (i.y - (r.l + r.b)) * (i.y - (r.l + r.b)) AS sse
        |FROM rec r JOIN i ON i.event_type = r.event_type AND i.t = r.t + 1)
        |SELECT r.event_type, CAST(nn.n AS BIGINT) AS n_days,
        |round(r.l, 6) + 0.0 AS level, round(r.b, 6) + 0.0 AS trend,
        |round(r.l + r.b, 6) + 0.0 AS forecast_1,
        |round(r.l + CAST(3.0 AS DOUBLE) * r.b, 6) + 0.0 AS forecast_3,
        |round(r.sse, 6) + 0.0 AS sse_1step
        |FROM rec r JOIN nn ON nn.event_type = r.event_type AND r.t = nn.n
        |WHERE nn.n >= 3 ORDER BY r.event_type""".stripMargin.replace("\n", " ")),

    // L27: 30-min lag-islands sessions, lead 3-grams fenced to one session
    "win_event_paths" ->
      (EV + """, s AS (SELECT user_id, event_id, ts_us, event_type,
        |CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |t AS (SELECT user_id, event_id, ts_us, event_type,
        |SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM s),
        |p AS (SELECT event_type || '>' || LEAD(event_type, 1) OVER w2 || '>' || LEAD(event_type, 2) OVER w2 AS path,
        |sess_id, LEAD(sess_id, 1) OVER w2 AS s2, LEAD(sess_id, 2) OVER w2 AS s3
        |FROM t WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n FROM p
        |WHERE s2 = sess_id AND s3 = sess_id
        |GROUP BY path ORDER BY n DESC, path LIMIT 15""".stripMargin.replace("\n", " ")),

    // N15: two time-halves profiled on registry-diff checks; midpoint via
    // integer // (Spark `div`) — float midpoints CAST differently
    "dq_schema_drift" ->
      (EV + """, mm AS (SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid FROM ev),
        |pp AS (SELECT CASE WHEN ts_us < mm.mid THEN 'v1' ELSE 'v2' END AS period,
        |event_type, user_id, value, props FROM ev, mm),
        |prof AS (SELECT period, CAST(COUNT(*) AS DOUBLE) AS n_rows,
        |CAST(COUNT(DISTINCT event_type) AS DOUBLE) AS d_event_type,
        |CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS d_user_id,
        |round(CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS null_frac_value,
        |round(CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS empty_frac_props,
        |round(AVG(value), 6) AS mean_value FROM pp GROUP BY period),
        |u AS (SELECT period, 'n_rows' AS metric, n_rows AS x FROM prof
        |UNION ALL SELECT period, 'd_event_type', d_event_type FROM prof
        |UNION ALL SELECT period, 'd_user_id', d_user_id FROM prof
        |UNION ALL SELECT period, 'null_frac_value', null_frac_value FROM prof
        |UNION ALL SELECT period, 'empty_frac_props', empty_frac_props FROM prof
        |UNION ALL SELECT period, 'mean_value', mean_value FROM prof)
        |SELECT metric, MAX(CASE WHEN period = 'v1' THEN x END) + 0.0 AS v1,
        |MAX(CASE WHEN period = 'v2' THEN x END) + 0.0 AS v2,
        |round(abs(MAX(CASE WHEN period = 'v2' THEN x END) - MAX(CASE WHEN period = 'v1' THEN x END)), 6) + 0.0 AS abs_delta
        |FROM u GROUP BY metric ORDER BY metric""".stripMargin.replace("\n", " ")),

    // M115: soft dedup — weight 1/|exact-text cluster|, per-source audit
    "pipeline_softdedup_weights" ->
      """WITH d AS (SELECT doc_id, source, md5(text) AS h,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
        |cl AS (SELECT h, COUNT(*) AS csize FROM d GROUP BY h),
        |j AS (SELECT d.source, d.h, d.tokens, cl.csize FROM d JOIN cl ON cl.h = d.h)
        |SELECT source, COUNT(*) AS n_docs, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_clusters,
        |round(SUM(CAST(1.0 AS DOUBLE) / csize), 6) + 0.0 AS effective_docs,
        |CAST(SUM(tokens) AS BIGINT) AS tokens_raw,
        |round(SUM(CAST(tokens AS DOUBLE) / csize), 6) + 0.0 AS tokens_effective,
        |round(round(SUM(CAST(tokens AS DOUBLE) / csize), 6) / SUM(tokens), 6) + 0.0 AS retention
        |FROM j GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    // M116: token-share vs uniform target — KL terms + capped resample factors
    "pipeline_domain_mix_kl" ->
      """WITH st AS (SELECT source, CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS src_tokens
        |FROM documents GROUP BY source),
        |g AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS total_tokens, COUNT(*) AS k FROM st),
        |x AS (SELECT source, src_tokens, CAST(src_tokens AS DOUBLE) / total_tokens AS p,
        |CAST(1.0 AS DOUBLE) / k AS q FROM st, g)
        |SELECT source, src_tokens, round(p, 6) + 0.0 AS share,
        |round(p * ln(p / q), 6) + 0.0 AS kl_term,
        |round(least(q / p, CAST(5.0 AS DOUBLE)), 6) + 0.0 AS resample_factor
        |FROM x ORDER BY source""".stripMargin.replace("\n", " "),

    // J34: two-table routing (crn ≤ 2 memberships of the frozen
    // quantizer), cell-keyed candidate union, exact rerank, recall@8
    "ann_multitable_topk" ->
      """WITH ef AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |fcc AS (SELECT label, CAST(i - 1 AS INT) AS dim, round(CAST(SUM(CAST(round(CAST(embedding AS DOUBLE[])[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c FROM embeddings, range(1, 65) t(i) GROUP BY label, i),
        |fcent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM fcc GROUP BY label),
        |fdots AS (SELECT ef.vec_id, c.cell, list_dot_product(ef.emb, c.cvec) AS d FROM ef CROSS JOIN fcent c),
        |m AS MATERIALIZED (SELECT vec_id, cell FROM (SELECT vec_id, cell,
        |ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS crn FROM fdots) WHERE crn <= 2),
        |cand AS MATERIALIZED (SELECT DISTINCT q.vec_id AS a_id, b.vec_id AS b_id FROM m q
        |JOIN m b ON b.cell = q.cell AND b.vec_id <> q.vec_id WHERE q.vec_id < 8),
        |nc AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand GROUP BY a_id),
        |ad AS (SELECT c.a_id, c.b_id, list_dot_product(ae.emb, be.emb) AS dot
        |FROM cand c JOIN ef ae ON ae.vec_id = c.a_id JOIN ef be ON be.vec_id = c.b_id),
        |ap AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
        |ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rn FROM ad) WHERE rn <= 8),
        |q AS (SELECT vec_id AS a_id, emb AS a_emb FROM ef WHERE vec_id < 8),
        |exd AS (SELECT q.a_id, ef.vec_id AS b_id, list_dot_product(q.a_emb, ef.emb) AS dot
        |FROM q JOIN ef ON ef.vec_id <> q.a_id),
        |ex AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
        |ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dot DESC, b_id) AS rn FROM exd) WHERE rn <= 8)
        |SELECT ex.a_id, COALESCE(MAX(nc.n_cand), 0) AS n_cand, COUNT(*) AS n_exact,
        |CAST(COUNT(ap.b_id) AS BIGINT) AS n_hit,
        |CAST(COUNT(ap.b_id) AS DOUBLE) / COUNT(*) AS recall
        |FROM ex LEFT JOIN ap ON ap.a_id = ex.a_id AND ap.b_id = ex.b_id
        |LEFT JOIN nc ON nc.a_id = ex.a_id
        |GROUP BY ex.a_id ORDER BY ex.a_id""".stripMargin.replace("\n", " "),

    // M118: LSH candidates scored on BOTH modalities — exact shingle
    // Jaccard + embedding cosine (vec_id ≡ doc_id), independent flags
    "dedup_multi_signal" ->
      ("WITH " + lshPairChain +
        """, ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |sc AS (SELECT c.a_id, c.b_id,
        |round(CAST(COALESCE(i.ni, 0) AS DOUBLE) / (na.n + nb.n - COALESCE(i.ni, 0)), 4) + 0.0 AS jaccard,
        |round(list_dot_product(ea.emb, eb.emb), 4) + 0.0 AS cosine
        |FROM cand c LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
        |JOIN cnt na ON na.doc_id = c.a_id JOIN cnt nb ON nb.doc_id = c.b_id
        |JOIN ee ea ON ea.vec_id = c.a_id JOIN ee eb ON eb.vec_id = c.b_id)
        |SELECT a_id, b_id, jaccard, cosine,
        |jaccard >= 0.5 AS text_dup, cosine >= 0.2 AS embed_dup,
        |(jaccard >= 0.5) <> (cosine >= 0.2) AS signals_disagree
        |FROM sc ORDER BY a_id, b_id""".stripMargin.replace("\n", " ")),

    // J35: per-dim mean/variance from exact 2^20 fixed-point first and
    // second moments; top-16 keep flags + cumulative variance shares
    "vec_dim_variance_prune" ->
      """WITH d AS (SELECT CAST(i - 1 AS INT) AS dim,
        |CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1048576, 0) AS BIGINT) AS f
        |FROM embeddings, range(1, 65) t(i)),
        |st AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(f) AS BIGINT) AS s,
        |SUM(CAST(f * f AS DECIMAL(38,0))) AS q FROM d GROUP BY dim),
        |v AS (SELECT dim, n, CAST(s AS DOUBLE) / (n * 1048576.0) AS mean,
        |CAST(q AS DOUBLE) / (n * 1048576.0 * 1048576.0)
        |- (CAST(s AS DOUBLE) / (n * 1048576.0)) * (CAST(s AS DOUBLE) / (n * 1048576.0)) AS variance
        |FROM st),
        |tot AS (SELECT SUM(variance) AS tv FROM v),
        |r AS (SELECT v.*, ROW_NUMBER() OVER (ORDER BY variance DESC, dim) AS rn,
        |SUM(variance) OVER (ORDER BY variance DESC, dim
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_var FROM v)
        |SELECT dim, n, round(mean, 6) + 0.0 AS mean, round(variance, 6) + 0.0 AS variance,
        |rn, round(cum_var / tot.tv, 6) + 0.0 AS cum_var_frac, rn <= 16 AS keep
        |FROM r, tot ORDER BY rn""".stripMargin.replace("\n", " "),

    // L28: as-of view→purchase lag via running max-when, exact
    // interpolated quantiles on integer microseconds
    "win_conversion_lag" ->
      (EV + """, lv AS (SELECT event_id, event_type,
        |ts_us - MAX(CASE WHEN event_type = 'view' THEN ts_us END) OVER
        |(PARTITION BY user_id ORDER BY ts_us, event_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lag_us
        |FROM ev)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |CAST(COUNT(lag_us) AS BIGINT) AS n_converted,
        |CAST(COUNT(*) - COUNT(lag_us) AS BIGINT) AS n_unconverted,
        |round(quantile_cont(lag_us, 0.25), 6) + 0.0 AS p25_lag_us,
        |round(quantile_cont(lag_us, 0.5), 6) + 0.0 AS p50_lag_us,
        |round(quantile_cont(lag_us, 0.9), 6) + 0.0 AS p90_lag_us
        |FROM lv WHERE event_type = 'purchase'""".stripMargin.replace("\n", " ")),

    // M121: three escalating doc-level dedup signals in pipeline order,
    // each removed doc attributed to the FIRST stage that catches it
    "pipeline_dedup_funnel" ->
      """WITH d AS (SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
        |e AS (SELECT doc_id, md5(text) AS h FROM d),
        |eo AS (SELECT h, MIN(doc_id) AS owner FROM e GROUP BY h),
        |f1 AS (SELECT e.doc_id, (eo.owner < e.doc_id) AS flag1 FROM e JOIN eo USING (h)),
        |segs0 AS (SELECT doc_id, generate_subscripts(p, 1) - 1 AS pos, unnest(p) AS seg
        |FROM (SELECT doc_id, string_split(text, '. ') AS p FROM documents) t),
        |segs AS (SELECT doc_id, pos, seg, md5(seg) AS fp FROM segs0 WHERE len(seg) > 0),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rk FROM segs),
        |f2 AS (SELECT doc_id, (2 * SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) < COUNT(*)) AS flag2 FROM rk GROUP BY doc_id),
        |wn0 AS (SELECT doc_id, text, unnest(range(1, length(text) - 48, 25)) AS o FROM documents WHERE length(text) >= 50),
        |wn AS (SELECT doc_id, md5(substring(text, CAST(o AS INT), 50)) AS wh FROM wn0),
        |wo AS (SELECT wh, MIN(doc_id) AS owner FROM wn GROUP BY wh),
        |f3 AS (SELECT wn.doc_id, (SUM(CASE WHEN wo.owner < wn.doc_id THEN 1 ELSE 0 END) > 0) AS flag3
        |FROM wn JOIN wo USING (wh) GROUP BY wn.doc_id),
        |fx AS (SELECT d.doc_id, d.tokens, f1.flag1, COALESCE(f2.flag2, FALSE) AS flag2,
        |COALESCE(f3.flag3, FALSE) AS flag3
        |FROM d JOIN f1 USING (doc_id) LEFT JOIN f2 USING (doc_id) LEFT JOIN f3 USING (doc_id)),
        |fr AS (SELECT *, CASE WHEN flag1 THEN 1 WHEN flag2 THEN 2 WHEN flag3 THEN 3 ELSE 0 END AS removed_at FROM fx),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_docs, CAST(SUM(tokens) AS BIGINT) AS total_tokens,
        |CAST(SUM(CASE WHEN flag1 THEN 1 ELSE 0 END) AS BIGINT) AS fl1,
        |CAST(SUM(CASE WHEN flag2 THEN 1 ELSE 0 END) AS BIGINT) AS fl2,
        |CAST(SUM(CASE WHEN flag3 THEN 1 ELSE 0 END) AS BIGINT) AS fl3,
        |CAST(SUM(CASE WHEN removed_at = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rm1,
        |CAST(SUM(CASE WHEN removed_at = 2 THEN 1 ELSE 0 END) AS BIGINT) AS rm2,
        |CAST(SUM(CASE WHEN removed_at = 3 THEN 1 ELSE 0 END) AS BIGINT) AS rm3,
        |CAST(SUM(CASE WHEN removed_at = 1 THEN tokens ELSE 0 END) AS BIGINT) AS tk1,
        |CAST(SUM(CASE WHEN removed_at = 2 THEN tokens ELSE 0 END) AS BIGINT) AS tk2,
        |CAST(SUM(CASE WHEN removed_at = 3 THEN tokens ELSE 0 END) AS BIGINT) AS tk3 FROM fr),
        |u AS (SELECT 'exact' AS stage, fl1 AS n_flagged, rm1 AS n_removed, tk1 AS tokens_removed,
        |total_docs - rm1 AS docs_kept, total_tokens - tk1 AS tokens_kept, total_tokens FROM a
        |UNION ALL SELECT 'paragraph', fl2, rm2, tk2, total_docs - rm1 - rm2, total_tokens - tk1 - tk2, total_tokens FROM a
        |UNION ALL SELECT 'substring', fl3, rm3, tk3, total_docs - rm1 - rm2 - rm3, total_tokens - tk1 - tk2 - tk3, total_tokens FROM a)
        |SELECT stage, n_flagged, n_removed, tokens_removed, docs_kept, tokens_kept,
        |round(CAST(tokens_kept AS DOUBLE) / total_tokens, 6) + 0.0 AS retention
        |FROM u ORDER BY stage""".stripMargin.replace("\n", " "),

    // M119: one BPE training step — top pair census, exact leftmost-first
    // merge application via parity gaps-and-islands, post-merge census
    "text_bpe_merge_round" ->
      """WITH wd AS (SELECT doc_id, generate_subscripts(ws, 1) AS wpos, unnest(ws) AS w
        |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |w AS (SELECT doc_id, wpos, w, length(w) AS len FROM wd WHERE length(w) >= 2),
        |pr AS (SELECT substring(w, CAST(i AS INT), 2) AS pair FROM w, unnest(range(1, len)) t(i)),
        |top AS (SELECT pair AS mpair, CAST(COUNT(*) AS BIGINT) AS mpair_n FROM pr
        |GROUP BY pair ORDER BY mpair_n DESC, pair LIMIT 1),
        |pos AS (SELECT doc_id, wpos, w, len, unnest(range(1, len + 1)) AS p FROM w),
        |fp AS MATERIALIZED (SELECT pos.*, (p < len AND substring(w, CAST(p AS INT), 2) = top.mpair) AS flag FROM pos, top),
        |fl AS (SELECT doc_id, wpos, p,
        |p - ROW_NUMBER() OVER (PARTITION BY doc_id, wpos ORDER BY p) AS grp FROM fp WHERE flag),
        |isl AS (SELECT doc_id, wpos, grp, MIN(p) AS isl_start FROM fl GROUP BY 1, 2, 3),
        |tk AS MATERIALIZED (SELECT fl.doc_id, fl.wpos, fl.p FROM fl JOIN isl USING (doc_id, wpos, grp)
        |WHERE (fl.p - isl.isl_start) % 2 = 0),
        |mg AS (SELECT fp.doc_id, fp.wpos, fp.p, fp.w, (tk.p IS NOT NULL) AS taken,
        |COALESCE(LAG(tk.p IS NOT NULL) OVER (PARTITION BY fp.doc_id, fp.wpos ORDER BY fp.p), FALSE) AS taken_prev
        |FROM fp LEFT JOIN tk ON tk.doc_id = fp.doc_id AND tk.wpos = fp.wpos AND tk.p = fp.p),
        |st AS (SELECT doc_id, wpos, p,
        |CASE WHEN taken THEN substring(w, CAST(p AS INT), 2) ELSE substring(w, CAST(p AS INT), 1) END AS token
        |FROM mg WHERE NOT taken_prev),
        |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_applied FROM tk),
        |pairs AS (SELECT token AS left_tok, LEAD(token) OVER (PARTITION BY doc_id, wpos ORDER BY p) AS right_tok FROM st),
        |topp AS (SELECT left_tok, right_tok, CAST(COUNT(*) AS BIGINT) AS n FROM pairs
        |WHERE right_tok IS NOT NULL GROUP BY 1, 2 ORDER BY n DESC, left_tok, right_tok LIMIT 10)
        |SELECT left_tok, right_tok, n, top.mpair AS applied_pair, np.n_applied
        |FROM topp, top, np ORDER BY n DESC, left_tok, right_tok""".stripMargin.replace("\n", " "),

    // M120: seeded 3-step walks — next = argmin md5(walk|step|neighbor)
    // L29 (round 14): RFM quintile segmentation — exact decimal spend,
    // deterministic ntile tiebreaks, one row per populated segment
    "win_rfm_scores" ->
      """WITH per AS (SELECT o_custkey, MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |COUNT(*) AS n_orders, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend FROM orders GROUP BY o_custkey),
        |sc AS (SELECT *, NTILE(5) OVER (ORDER BY last_day, o_custkey) AS r_score,
        |NTILE(5) OVER (ORDER BY n_orders, o_custkey) AS f_score,
        |NTILE(5) OVER (ORDER BY spend, o_custkey) AS m_score FROM per)
        |SELECT r_score, f_score, m_score, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |CAST(SUM(spend) AS DOUBLE) AS segment_spend,
        |round(CAST(SUM(spend) AS DOUBLE) / COUNT(*), 6) + 0.0 AS avg_spend
        |FROM sc GROUP BY r_score, f_score, m_score
        |ORDER BY r_score, f_score, m_score""".stripMargin.replace("\n", " "),

    // L29 v2 (round 15): identical oracle to win_rfm_scores — the
    // two-pass range-partitioned quintiles must agree exactly with the
    // global-window semantics (the win_ntile_scalable precedent)
    "win_rfm_scores_scalable" ->
      """WITH per AS (SELECT o_custkey, MAX(epoch_us(o_orderdate) // 86400000000) AS last_day,
        |COUNT(*) AS n_orders, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend FROM orders GROUP BY o_custkey),
        |sc AS (SELECT *, NTILE(5) OVER (ORDER BY last_day, o_custkey) AS r_score,
        |NTILE(5) OVER (ORDER BY n_orders, o_custkey) AS f_score,
        |NTILE(5) OVER (ORDER BY spend, o_custkey) AS m_score FROM per)
        |SELECT r_score, f_score, m_score, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |CAST(SUM(spend) AS DOUBLE) AS segment_spend,
        |round(CAST(SUM(spend) AS DOUBLE) / COUNT(*), 6) + 0.0 AS avg_spend
        |FROM sc GROUP BY r_score, f_score, m_score
        |ORDER BY r_score, f_score, m_score""".stripMargin.replace("\n", " "),

    // N19 (round 15): decile calibration table — NTILE(10) over the
    // (score, doc_id) total order, exact-integer cells, ppm divisions
    "ml_calibration_bins" ->
      """WITH sc AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
        |CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |b AS (SELECT *, NTILE(10) OVER (ORDER BY score, doc_id) AS decile FROM sc)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos,
        |MIN(score) AS lo_score, MAX(score) AS hi_score,
        |round(CAST((SUM(pos) * 1000000) // COUNT(*) AS DOUBLE) / 1e6, 6) + 0.0 AS pos_rate,
        |round(CAST((SUM(score) * 1000000) // COUNT(*) AS DOUBLE) / 1e6, 6) + 0.0 AS avg_score
        |FROM b GROUP BY decile ORDER BY decile""".stripMargin.replace("\n", " "),

    // N20 (round 15): cumulative-gains / lift table — score-DESC deciles,
    // lift as one exact integer fraction before the 6-dp round
    "ml_lift_deciles" ->
      """WITH sc AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
        |CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos FROM documents),
        |b AS (SELECT *, NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile FROM sc),
        |d AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS n_pos
        |FROM b GROUP BY decile),
        |t AS (SELECT SUM(n) AS nn, SUM(n_pos) AS pp FROM d),
        |c AS (SELECT d.*, SUM(n_pos) OVER (ORDER BY decile
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos FROM d)
        |SELECT decile, n, n_pos, CAST(cum_pos AS BIGINT) AS cum_pos,
        |round(CAST((cum_pos * 1000000) // pp AS DOUBLE) / 1e6, 6) + 0.0 AS capture_rate,
        |round(CAST((n_pos * nn * 1000000) // (n * pp) AS DOUBLE) / 1e6, 6) + 0.0 AS lift
        |FROM c, t ORDER BY decile""".stripMargin.replace("\n", " "),

    // M127 (round 15): per-language rarity terciles — integer inverse-
    // frequency mass (total div c per token, s div n per doc), NTILE(3)
    // within language on the (r, doc_id) order
    "text_rarity_buckets" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
        |tot AS (SELECT SUM(c) AS total FROM wc),
        |rar AS (SELECT w, CAST(total // c AS BIGINT) AS rar FROM wc, tot),
        |per AS (SELECT doc_id, lang, COUNT(*) AS n_tokens, SUM(rar) AS s
        |FROM toks JOIN rar USING (w) GROUP BY doc_id, lang),
        |sc AS (SELECT doc_id, lang, CAST(s // n_tokens AS BIGINT) AS r FROM per),
        |b AS (SELECT lang, r, NTILE(3) OVER (PARTITION BY lang ORDER BY r, doc_id) AS bucket FROM sc)
        |SELECT lang, bucket,
        |CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 2 THEN 'middle' ELSE 'tail' END AS bucket_label,
        |CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(r) AS lo_rarity, MAX(r) AS hi_rarity
        |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin.replace("\n", " "),

    // L30 (round 14): cumulative LTV by acquisition-month cohort —
    // integer month indices, exact decimal revenue, present-row cumsum
    "win_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey, year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS mo,
        |CAST(o_totalprice AS DECIMAL(12,2)) AS price2 FROM orders),
        |ch AS (SELECT o_custkey, MIN(mo) AS cohort_mo FROM o GROUP BY o_custkey),
        |sz AS (SELECT cohort_mo, COUNT(*) AS cohort_size FROM ch GROUP BY cohort_mo),
        |rev AS (SELECT ch.cohort_mo, o.mo - ch.cohort_mo AS age_mo, SUM(price2) AS rev
        |FROM o JOIN ch ON ch.o_custkey = o.o_custkey GROUP BY ch.cohort_mo, o.mo - ch.cohort_mo),
        |cm AS (SELECT rev.*, SUM(rev) OVER (PARTITION BY cohort_mo ORDER BY age_mo
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev FROM rev)
        |SELECT cm.cohort_mo, cm.age_mo, sz.cohort_size, CAST(cm.rev AS DOUBLE) AS rev,
        |round(CAST(cum_rev AS DOUBLE) / sz.cohort_size, 6) + 0.0 AS ltv_per_customer
        |FROM cm JOIN sz ON sz.cohort_mo = cm.cohort_mo
        |ORDER BY cm.cohort_mo, cm.age_mo""".stripMargin.replace("\n", " "),

    // E30 (round 14): KMV theta sketch with set operations — the shared
    // digit-decoded md5 hash and k interpolate from the engine constants
    "agg_theta_kmv" -> {
      val k = graft.ops.Aggregates.ThetaKmvK
      val u = graft.ops.Aggregates.KmvUExpr
      s"""WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        |du AS (SELECT event_type, user_id, $u AS u FROM
        |(SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS h FROM d)),
        |scp AS (SELECT event_type AS scope, user_id, u FROM du
        |UNION ALL SELECT '__union', user_id, u FROM du),
        |hs AS (SELECT DISTINCT scope, u FROM scp),
        |rk AS (SELECT scope, u, ROW_NUMBER() OVER (PARTITION BY scope ORDER BY u) AS rn FROM hs),
        |sk AS (SELECT scope, COUNT(*) AS n_hashes, MAX(CASE WHEN rn = $k THEN u END) AS uk FROM rk GROUP BY scope),
        |ex AS (SELECT scope, COUNT(DISTINCT user_id) AS n_exact FROM scp GROUP BY scope),
        |base AS (SELECT ex.scope, ex.n_exact,
        |CASE WHEN sk.n_hashes >= $k THEN ${k - 1}.0 / sk.uk ELSE CAST(sk.n_hashes AS DOUBLE) END AS est
        |FROM ex JOIN sk ON sk.scope = ex.scope),
        |vps AS (SELECT event_type, u FROM (SELECT event_type, u,
        |ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rn FROM
        |(SELECT DISTINCT event_type, u FROM du WHERE event_type IN ('view', 'purchase'))) WHERE rn <= $k),
        |th AS (SELECT MIN(uk) AS th FROM (SELECT event_type, MAX(u) AS uk FROM vps GROUP BY event_type)),
        |cm AS (SELECT th.th, COUNT(c.u) AS n_common FROM th LEFT JOIN
        |(SELECT u FROM vps GROUP BY u HAVING COUNT(*) = 2) c ON c.u < th.th GROUP BY th.th),
        |exb AS (SELECT COUNT(*) AS n_exact FROM (SELECT user_id FROM du
        |WHERE event_type IN ('view', 'purchase') GROUP BY user_id HAVING COUNT(DISTINCT event_type) = 2)),
        |ints AS (SELECT 'view&purchase' AS scope, exb.n_exact,
        |CAST(cm.n_common AS DOUBLE) / cm.th AS est FROM exb, cm),
        |uni AS (SELECT * FROM base UNION ALL SELECT * FROM ints)
        |SELECT scope, CAST(n_exact AS BIGINT) AS n_exact, round(est, 6) + 0.0 AS kmv_est,
        |round(abs(est - n_exact) / n_exact, 6) + 0.0 AS rel_err
        |FROM uni ORDER BY scope""".stripMargin.replace("\n", " ")
    },

    // M122 (round 14): DSIR importance weights — hashed unigram buckets,
    // add-one smoothing, per-bucket importance RATIO integerized at 1e6
    // (ratio, not ln — cross-engine libm ln differs in the last ulp; see
    // TextAnalysis.dsirWeights)
    "pipeline_dsir_weights" -> {
      val b = graft.ops.TextAnalysis.DsirBuckets
      val u = graft.ops.Aggregates.KmvUExpr
      s"""WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |tb AS (SELECT doc_id, lang, CAST(floor(($u) * $b) AS BIGINT) AS bkt FROM
        |(SELECT doc_id, lang, md5(w) AS h FROM tok)),
        |cc AS (SELECT bkt, COUNT(*) AS cc FROM tb GROUP BY bkt),
        |ct AS (SELECT bkt, COUNT(*) AS ct FROM tb WHERE lang = 'en' GROUP BY bkt),
        |tot AS (SELECT COUNT(*) AS tc, COUNT(*) FILTER (WHERE lang = 'en') AS tt FROM tb),
        |ratio AS (SELECT cc.bkt,
        |CAST(round((coalesce(ct.ct, 0) + CAST(1 AS DOUBLE)) * (tot.tc + $b) / ((cc.cc + CAST(1 AS DOUBLE)) * (tot.tt + $b)) * 1e6) AS BIGINT) AS lr_int
        |FROM cc LEFT JOIN ct ON ct.bkt = cc.bkt, tot),
        |sc AS (SELECT tb.doc_id, COUNT(*) AS n_tokens, SUM(r.lr_int) AS s
        |FROM tb JOIN ratio r ON r.bkt = tb.bkt GROUP BY tb.doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |round(CAST(s // n_tokens AS DOUBLE) / 1e6, 6) + 0.0 AS dsir_weight
        |FROM (SELECT *, ROW_NUMBER() OVER
        |(ORDER BY round(CAST(s // n_tokens AS DOUBLE) / 1e6, 6) + 0.0 DESC, doc_id) AS rk FROM sc)
        |WHERE rk <= 20 ORDER BY rk""".stripMargin.replace("\n", " ")
    },

    // M124 (round 14): per-language OOV rate vs the corpus top-1000 vocab
    "text_oov_rate" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |voc AS (SELECT w FROM (SELECT w, ROW_NUMBER() OVER
        |(ORDER BY COUNT(*) DESC, w) AS vrank FROM tok GROUP BY w) WHERE vrank <= 1000)
        |SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |CAST(COUNT(*) FILTER (WHERE voc.w IS NULL) AS BIGINT) AS n_oov,
        |round(CAST(COUNT(*) FILTER (WHERE voc.w IS NULL) AS DOUBLE) / COUNT(*), 6) + 0.0 AS oov_rate
        |FROM tok LEFT JOIN voc ON voc.w = tok.w
        |GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),

    // N17 (round 14): exact Mann–Whitney AUC, doubled-integer tied ranks
    "ml_auc_score" ->
      """WITH bs AS (SELECT n_chars AS score, COUNT(*) AS n,
        |COUNT(*) FILTER (WHERE lang = 'en') AS n_pos FROM documents GROUP BY n_chars),
        |cb AS (SELECT *, COALESCE(SUM(n) OVER (ORDER BY score
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM bs),
        |ag AS (SELECT SUM(n_pos * (2 * before + n + 1)) AS s2,
        |SUM(n_pos) AS np, SUM(n - n_pos) AS nn FROM cb)
        |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |round(CAST(s2 - np * (np + 1) AS DOUBLE) / (2.0 * np * nn), 6) + 0.0 AS auc
        |FROM ag""".stripMargin.replace("\n", " "),

    // J36 (round 14): range similarity search eval — exact ε-ball vs the
    // standing shortlist at the same interpolated τ
    "ann_range_search" ->
      ("WITH " + knnFullChain +
        s""", short AS (SELECT a_id, b_id, dot FROM frk WHERE rn <= $KF),
        |q AS (SELECT vec_id AS a_id, emb FROM ef WHERE vec_id < 10),
        |tru AS (SELECT q.a_id, COUNT(*) AS n_true FROM q JOIN ef e
        |ON e.vec_id <> q.a_id AND list_dot_product(q.emb, e.emb) >= ${graft.ops.Similarity.RangeSearchTau} GROUP BY q.a_id),
        |fnd AS (SELECT a_id, COUNT(*) AS n_found FROM short
        |WHERE a_id < 10 AND dot >= ${graft.ops.Similarity.RangeSearchTau} GROUP BY a_id)
        |SELECT q.a_id, COALESCE(tru.n_true, 0) AS n_true, COALESCE(fnd.n_found, 0) AS n_found,
        |CASE WHEN COALESCE(tru.n_true, 0) > 0
        |THEN round(CAST(COALESCE(fnd.n_found, 0) AS DOUBLE) / tru.n_true, 6) + 0.0
        |ELSE 1.0 END AS range_recall
        |FROM q LEFT JOIN tru ON tru.a_id = q.a_id LEFT JOIN fnd ON fnd.a_id = q.a_id
        |ORDER BY q.a_id""".stripMargin).replace("\n", " "),

    // M123 (round 14): resource-allocation link prediction on the mutual
    // 8-NN graph — integer-exact Σ 840/deg over distance-2 non-edges
    "graph_resource_alloc" ->
      ("WITH " + knnFullChain +
        s""", knn AS MATERIALIZED (SELECT a_id, b_id FROM frk WHERE rn <= $KF),
        |me AS MATERIALIZED (SELECT a.a_id AS u, a.b_id AS v FROM knn a
        |JOIN knn b ON b.a_id = a.b_id AND b.b_id = a.a_id WHERE a.a_id < a.b_id),
        |ad AS MATERIALIZED (SELECT u AS z, v AS x FROM me UNION ALL SELECT v, u FROM me),
        |dg AS (SELECT z, COUNT(*) AS dz FROM ad GROUP BY z),
        |wg AS (SELECT a.z, a.x AS u, b.x AS v FROM ad a JOIN ad b ON b.z = a.z AND a.x < b.x),
        |ne AS (SELECT wg.* FROM wg LEFT JOIN me ON me.u = wg.u AND me.v = wg.v WHERE me.u IS NULL),
        |sc AS (SELECT ne.u, ne.v, COUNT(*) AS n_common, SUM(840 // dg.dz) AS ra840
        |FROM ne JOIN dg ON dg.z = ne.z GROUP BY ne.u, ne.v),
        |rkd AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ra840 DESC, u, v) AS rk FROM sc)
        |SELECT u, v, CAST(n_common AS BIGINT) AS n_common,
        |round(CAST(ra840 AS DOUBLE) / 840.0, 6) + 0.0 AS ra_score
        |FROM rkd WHERE rk <= 15 ORDER BY ra_score DESC, u, v""".stripMargin).replace("\n", " "),

    // M125 (round 14): local clustering coefficient on the mutual-8NN
    // graph — all-integer wedge/triangle counts, ppm division
    "graph_clustering_coeff" ->
      ("WITH " + knnFullChain +
        s""", knn AS MATERIALIZED (SELECT a_id, b_id FROM frk WHERE rn <= $KF),
        |me AS MATERIALIZED (SELECT a.a_id AS u, a.b_id AS v FROM knn a
        |JOIN knn b ON b.a_id = a.b_id AND b.b_id = a.a_id WHERE a.a_id < a.b_id),
        |ad AS MATERIALIZED (SELECT u AS z, v AS x FROM me UNION ALL SELECT v, u FROM me),
        |dg AS (SELECT z, COUNT(*) AS degree FROM ad GROUP BY z),
        |cw AS (SELECT a.z, COUNT(*) AS n_triangles FROM ad a JOIN ad b ON b.z = a.z AND a.x < b.x
        |JOIN me ON me.u = a.x AND me.v = b.x GROUP BY a.z),
        |st AS (SELECT dg.z AS node, dg.degree, COALESCE(cw.n_triangles, 0) AS n_triangles,
        |(2 * COALESCE(cw.n_triangles, 0) * 1000000) // (dg.degree * (dg.degree - 1)) AS cc_ppm
        |FROM dg LEFT JOIN cw ON cw.z = dg.z WHERE dg.degree >= 2),
        |rkd AS (SELECT *, ROW_NUMBER() OVER (ORDER BY cc_ppm DESC, degree DESC, node) AS rk FROM st)
        |SELECT node, CAST(degree AS BIGINT) AS degree, CAST(n_triangles AS BIGINT) AS n_triangles,
        |round(CAST(cc_ppm AS DOUBLE) / 1e6, 6) + 0.0 AS clustering
        |FROM rkd WHERE rk <= 20 ORDER BY clustering DESC, degree DESC, node""".stripMargin)
        .replace("\n", " "),

    // N18 (round 14): precision/recall/F1 at five exact-integer
    // thresholds spread over the score range, ppm divisions
    "ml_pr_curve" ->
      """WITH bs AS (SELECT n_chars AS score, COUNT(*) AS n,
        |COUNT(*) FILTER (WHERE lang = 'en') AS n_pos FROM documents GROUP BY n_chars),
        |bd AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM bs),
        |th AS (SELECT DISTINCT CAST(lo + (k * (hi - lo)) // 6 AS BIGINT) AS thr FROM bd, range(1, 6) t(k)),
        |cf AS (SELECT th.thr,
        |SUM(CASE WHEN score >= thr THEN n_pos ELSE 0 END) AS tp,
        |SUM(CASE WHEN score >= thr THEN n - n_pos ELSE 0 END) AS fp,
        |SUM(CASE WHEN score < thr THEN n_pos ELSE 0 END) AS fn,
        |SUM(CASE WHEN score < thr THEN n - n_pos ELSE 0 END) AS tn
        |FROM bs, th GROUP BY th.thr)
        |SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
        |round(CAST((tp * 1000000) // (tp + fp) AS DOUBLE) / 1e6, 6) + 0.0 AS precision,
        |round(CAST((tp * 1000000) // (tp + fn) AS DOUBLE) / 1e6, 6) + 0.0 AS recall,
        |round(CAST((2 * tp * 1000000) // (2 * tp + fp + fn) AS DOUBLE) / 1e6, 6) + 0.0 AS f1
        |FROM cf ORDER BY thr""".stripMargin.replace("\n", " "),

    // M126 (round 14): retrain churn — frozen-quantizer vs
    // fresh-quantizer cell assignment of the CURRENT corpus; reuses the
    // two-snapshot chain's base assignment (g2own) and the full chain's
    // fresh assignment (fasg); unreferenced CTEs are never evaluated
    "vec_retrain_churn" ->
      ("WITH " + knnFullChain + ", " + knnTwoSnapChain +
        """, jn AS (SELECT g.vec_id, g.cell AS base_cell, f.cell AS now_cell
        |FROM g2own g JOIN fasg f ON f.vec_id = g.vec_id),
        |tot AS (SELECT COUNT(*) AS n_total FROM jn),
        |mv AS (SELECT CAST(base_cell AS BIGINT) AS base_cell, CAST(now_cell AS BIGINT) AS now_cell,
        |COUNT(*) AS n_moved FROM jn WHERE base_cell <> now_cell GROUP BY base_cell, now_cell),
        |ovr AS (SELECT CAST(-1 AS BIGINT) AS base_cell, CAST(-1 AS BIGINT) AS now_cell,
        |COALESCE(SUM(n_moved), 0) AS n_moved FROM mv),
        |uni AS (SELECT * FROM mv UNION ALL SELECT * FROM ovr)
        |SELECT base_cell, now_cell, CAST(n_moved AS BIGINT) AS n_moved,
        |round(CAST((n_moved * 1000000) // tot.n_total AS DOUBLE) / 1e6, 6) + 0.0 AS moved_frac
        |FROM uni, tot ORDER BY base_cell, now_cell""".stripMargin)
        .replace("\n", " "),

    "graph_random_walks" ->
      ("WITH " + knnFullChain +
        s""", knn AS MATERIALIZED (SELECT a_id, b_id FROM frk WHERE rn <= $KF),
        |me AS MATERIALIZED (SELECT a.a_id AS u, a.b_id AS v FROM knn a
        |JOIN knn b ON b.a_id = a.b_id AND b.b_id = a.a_id WHERE a.a_id < a.b_id),
        |ed AS MATERIALIZED (SELECT u AS src, v AS dst FROM me UNION ALL SELECT v, u FROM me),
        |nodes AS (SELECT DISTINCT src AS node FROM ed),
        |w0 AS (SELECT node AS walk_id, node AS cur FROM nodes WHERE node % 100 = 0),""".stripMargin +
        (1 to 3).map { s =>
          s""" w$s AS (SELECT walk_id, dst AS cur FROM (SELECT w.walk_id, e.dst,
          |ROW_NUMBER() OVER (PARTITION BY w.walk_id ORDER BY
          |md5(CAST(w.walk_id AS VARCHAR) || '|$s|' || CAST(e.dst AS VARCHAR)), e.dst) AS rn
          |FROM w${s - 1} w JOIN ed e ON e.src = w.cur) WHERE rn = 1),""".stripMargin
        }.mkString +
        """ fin AS (SELECT cur AS endpoint, CAST(COUNT(*) AS BIGINT) AS n_walks FROM w3 GROUP BY cur)
        |SELECT endpoint, n_walks, endpoint % 100 = 0 AS is_seed FROM fin
        |ORDER BY n_walks DESC, endpoint LIMIT 20""".stripMargin)
        .replace("\n", " "),

    // M117: HITS, 4 unrolled integer rounds over the mutual-8NN edges
    // (directed low→high); a ← Σ h(in), then h ← Σ a(out) with the fresh a
    "graph_hits_full" ->
      ("WITH " + knnFullChain +
        s""", knn AS MATERIALIZED (SELECT a_id, b_id FROM frk WHERE rn <= $KF),
        |me AS MATERIALIZED (SELECT a.a_id AS u, a.b_id AS v FROM knn a
        |JOIN knn b ON b.a_id = a.b_id AND b.b_id = a.a_id WHERE a.a_id < a.b_id),
        |nodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT u AS node FROM me UNION ALL SELECT v FROM me)),
        |h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),""".stripMargin +
        (1 to 4).map { r =>
          s""" a$r AS MATERIALIZED (SELECT n.node, CAST(COALESCE(SUM(h.h), 0) AS BIGINT) AS a
          |FROM nodes n LEFT JOIN me e ON e.v = n.node LEFT JOIN h${r - 1} h ON h.node = e.u GROUP BY n.node),
          |h$r AS MATERIALIZED (SELECT n.node, CAST(COALESCE(SUM(a.a), 0) AS BIGINT) AS h
          |FROM nodes n LEFT JOIN me e ON e.u = n.node LEFT JOIN a$r a ON a.node = e.v GROUP BY n.node),""".stripMargin
        }.mkString +
        """ fin AS (SELECT n.node, h4.h AS hub, a4.a AS authority
        |FROM nodes n JOIN a4 ON a4.node = n.node JOIN h4 ON h4.node = n.node)
        |SELECT node, hub, authority FROM fin
        |ORDER BY authority DESC, hub DESC, node LIMIT 20""".stripMargin)
        .replace("\n", " "),

    "pq_recall_at_k" ->
      (pqChain +
        """, lut AS (SELECT vec_id AS a_id, s, c, d2 FROM enc WHERE vec_id < 8),
        |adcp AS (SELECT l.a_id, k.vec_id AS b_id, k.s, l.d2
        |FROM codes k JOIN lut l ON l.s = k.s AND l.c = k.code),
        |adc AS (SELECT a_id, b_id,
        |MAX(CASE WHEN s = 0 THEN d2 END) + MAX(CASE WHEN s = 1 THEN d2 END)
        |+ MAX(CASE WHEN s = 2 THEN d2 END) + MAX(CASE WHEN s = 3 THEN d2 END) AS adc_d2
        |FROM adcp WHERE a_id <> b_id GROUP BY a_id, b_id),
        |adct AS (SELECT a_id, b_id FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY adc_d2, b_id) AS rn FROM adc) WHERE rn <= 10),
        |q AS (SELECT vec_id AS a_id, emb AS a_emb FROM e WHERE vec_id < 8),
        |exd AS (SELECT q.a_id, e.vec_id AS b_id,
        |list_transform(range(1, 65), i -> q.a_emb[CAST(i AS INT)] - e.emb[CAST(i AS INT)]) AS dv
        |FROM q JOIN e ON e.vec_id <> q.a_id),
        |ex AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
        |ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY list_dot_product(dv, dv), b_id) AS rn FROM exd) WHERE rn <= 10)
        |SELECT ex.a_id, COUNT(*) AS n_exact, CAST(COUNT(adct.b_id) AS BIGINT) AS n_hit,
        |CAST(COUNT(adct.b_id) AS DOUBLE) / COUNT(*) AS recall
        |FROM ex LEFT JOIN adct ON adct.a_id = ex.a_id AND adct.b_id = ex.b_id
        |GROUP BY ex.a_id ORDER BY ex.a_id""".stripMargin.replace("\n", " ")),

    // 2 clamped majority-vote rounds over the symmetrized 5-NN graph;
    // vote tiebreak (count desc, label asc) mirrors the Spark window
    "graph_label_propagation" ->
      ("WITH " + knnIvfChain +
        """, kn AS (SELECT a_id, b_id FROM rk WHERE rn <= 5),
        |ed AS (SELECT DISTINCT u, v FROM (SELECT a_id AS u, b_id AS v FROM kn UNION ALL SELECT b_id, a_id FROM kn)),
        |obs AS (SELECT vec_id, CASE WHEN vec_id % 5 = 0 THEN NULL ELSE label END AS l FROM e),
        |v1 AS (SELECT u, o.l, COUNT(*) AS n FROM ed JOIN obs o ON o.vec_id = ed.v WHERE o.l IS NOT NULL GROUP BY u, o.l),
        |p1 AS (SELECT u AS vec_id, l AS pred FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, l) AS rn2 FROM v1) WHERE rn2 = 1),
        |l1 AS (SELECT o.vec_id, COALESCE(o.l, p1.pred) AS l FROM obs o LEFT JOIN p1 ON p1.vec_id = o.vec_id),
        |v2 AS (SELECT u, x.l, COUNT(*) AS n FROM ed JOIN l1 x ON x.vec_id = ed.v WHERE x.l IS NOT NULL GROUP BY u, x.l),
        |p2 AS (SELECT u AS vec_id, l AS pred FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, l) AS rn2 FROM v2) WHERE rn2 = 1),
        |l2 AS (SELECT o.vec_id, COALESCE(o.l, p2.pred, l1.l) AS l FROM obs o
        |LEFT JOIN p2 ON p2.vec_id = o.vec_id LEFT JOIN l1 ON l1.vec_id = o.vec_id)
        |SELECT e.vec_id, e.label AS label_true, CAST(l2.l AS INT) AS label_pred,
        |CASE WHEN l2.l = e.label THEN 1 ELSE 0 END AS correct
        |FROM e LEFT JOIN l2 ON l2.vec_id = e.vec_id WHERE e.vec_id % 5 = 0 ORDER BY e.vec_id"""
          .stripMargin.replace("\n", " ")),

    "pipeline_compaction_plan" ->
      """WITH manifest AS (SELECT CAST(doc_id // 20 AS BIGINT) AS file_id,
        |CAST(SUM(n_chars) AS BIGINT) AS bytes FROM documents GROUP BY 1),
        |cum AS (SELECT *, COALESCE(SUM(bytes) OVER (ORDER BY file_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM manifest)
        |SELECT bin, COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
        |MIN(file_id) AS first_file, MAX(file_id) AS last_file,
        |CAST(CAST(SUM(bytes) AS BIGINT) * 10000 // 16384 AS BIGINT) AS fill_bp
        |FROM (SELECT *, CAST(cum_before // 16384 AS BIGINT) AS bin FROM cum)
        |GROUP BY bin ORDER BY bin""".stripMargin.replace("\n", " "),

    // both engines classify from the BYTES (4-byte hex prefix), never the
    // synthesis key
    "mm_magic_sniff" ->
      """WITH d AS (SELECT doc_id,
        |(CASE CAST(doc_id % 5 AS INT)
        |WHEN 0 THEN '\xFF\xD8\xFF\xE0'::BLOB WHEN 1 THEN '\x89\x50\x4E\x47'::BLOB
        |WHEN 2 THEN '\x47\x49\x46\x38'::BLOB WHEN 3 THEN '\x25\x50\x44\x46'::BLOB
        |ELSE ''::BLOB END) || encode(text) AS data FROM documents),
        |t AS (SELECT doc_id, CAST(octet_length(data) AS BIGINT) AS nb,
        |substring(hex(data), 1, 8) AS magic FROM d)
        |SELECT media_type, COUNT(*) AS n_files, CAST(SUM(nb) AS BIGINT) AS total_bytes,
        |MIN(nb) AS min_bytes, MAX(nb) AS max_bytes FROM (
        |SELECT CASE WHEN magic = 'FFD8FFE0' THEN 'jpeg' WHEN magic = '89504E47' THEN 'png'
        |WHEN magic = '47494638' THEN 'gif' WHEN magic = '25504446' THEN 'pdf'
        |ELSE 'unknown' END AS media_type, nb FROM t)
        |GROUP BY media_type ORDER BY media_type""".stripMargin.replace("\n", " "),

    // synthesis + canonicalization policy replicated step by step; every
    // regex is backreference-free so Java and RE2 agree
    "dedup_url_canonical" ->
      """WITH u0 AS (SELECT doc_id,
        |(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
        |(CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END) ||
        |'Site' || CAST(doc_id % 7 AS VARCHAR) || '.Example.com' ||
        |(CASE WHEN doc_id % 5 = 0 THEN (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE ':80' END) ELSE '' END) ||
        |'/p/' || CAST(doc_id % 11 AS VARCHAR) ||
        |(CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
        |(CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
        |WHEN doc_id % 7 = 0 THEN '?id=' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) ||
        |(CASE WHEN doc_id % 8 = 0 THEN '#sec' ELSE '' END) AS url FROM documents),
        |u1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u1src),
        |u2 AS (SELECT doc_id, u, regexp_extract(u, '^([a-zA-Z]+://[^/]*)', 1) AS head FROM u1),
        |u3 AS (SELECT doc_id, regexp_replace(replace(lower(head), '://www.', '://'), ':(80|443)$', '') AS head2,
        |substring(u, length(head) + 1) AS tail FROM u2),
        |u4 AS (SELECT doc_id, head2, regexp_replace(regexp_replace(tail,
        |'utm_[a-z_]+=[a-z0-9]+&', ''), '[?&]utm_[a-z_]+=[a-z0-9]+$', '') AS tail FROM u3),
        |u5 AS (SELECT doc_id, head2 || regexp_replace(replace(tail, '/?', '?'), '/$', '') AS canonical_url FROM u4)
        |SELECT canonical_url, regexp_extract(canonical_url, '^https?://([^/:]+)', 1) AS host,
        |COUNT(*) AS n_forms, MIN(doc_id) AS keeper_doc_id
        |FROM u5 GROUP BY canonical_url HAVING COUNT(*) > 1 ORDER BY canonical_url"""
        .stripMargin.replace("\n", " ").replace("u1src", "u0"),

    "dq_profile_drift" ->
      (profileDriftSide("ao", "0") + ", " + profileDriftSide("an", "1") +
        """, m AS (
        |SELECT 'event_type' AS col_name, 'n_rows' AS metric, ao.et_n AS v_old, an.et_n AS v_new FROM ao, an
        |UNION ALL SELECT 'event_type', 'n_null', ao.et_null, an.et_null FROM ao, an
        |UNION ALL SELECT 'event_type', 'n_distinct', ao.et_d, an.et_d FROM ao, an
        |UNION ALL SELECT 'user_id', 'n_rows', ao.uid_n, an.uid_n FROM ao, an
        |UNION ALL SELECT 'user_id', 'n_null', ao.uid_null, an.uid_null FROM ao, an
        |UNION ALL SELECT 'user_id', 'n_distinct', ao.uid_d, an.uid_d FROM ao, an
        |UNION ALL SELECT 'user_id', 'min', ao.uid_min, an.uid_min FROM ao, an
        |UNION ALL SELECT 'user_id', 'max', ao.uid_max, an.uid_max FROM ao, an
        |UNION ALL SELECT 'value', 'n_rows', ao.v_n, an.v_n FROM ao, an
        |UNION ALL SELECT 'value', 'n_null', ao.v_null, an.v_null FROM ao, an
        |UNION ALL SELECT 'value', 'min', ao.v_min, an.v_min FROM ao, an
        |UNION ALL SELECT 'value', 'max', ao.v_max, an.v_max FROM ao, an
        |UNION ALL SELECT 'value', 'sum_cents', ao.v_cents, an.v_cents FROM ao, an)
        |SELECT col_name, metric, v_old, v_new,
        |CASE WHEN abs(v_new - v_old) * 10.0 > abs(v_old) THEN 1 ELSE 0 END AS drifted
        |FROM m ORDER BY col_name, metric""".stripMargin.replace("\n", " ")),

    // ── round-7 batch 5 ──

    // full IVF-PQ: the unbounded per-label routing (ann_ivf_topk's
    // quantizer) gates which code rows each query's ADC pass scores
    "ann_ivf_pq_topk" ->
      (pqChain +
        """, ccomp AS (SELECT label, CAST(i - 1 AS INT) AS dim,
        |round(CAST(SUM(CAST(round(emb[CAST(i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS c
        |FROM e, range(1, 65) t(i) GROUP BY label, i),
        |cent AS (SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM ccomp GROUP BY label),
        |cdots AS (SELECT e.vec_id, c.cell, list_dot_product(e.emb, c.cvec) AS d FROM e CROSS JOIN cent c),
        |cr AS (SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cell) AS crn FROM cdots),
        |asg AS (SELECT vec_id AS b_id, cell FROM cr WHERE crn = 1),
        |prb AS (SELECT vec_id AS a_id, cell FROM cr WHERE crn <= 2 AND vec_id < 8),
        |lut AS (SELECT vec_id AS a_id, s, c, d2 FROM enc WHERE vec_id < 8),
        |cand AS (SELECT p.a_id, a.b_id FROM prb p JOIN asg a ON a.cell = p.cell AND a.b_id <> p.a_id),
        |adcp AS (SELECT c.a_id, c.b_id, k.s, l.d2 FROM cand c
        |JOIN codes k ON k.vec_id = c.b_id JOIN lut l ON l.a_id = c.a_id AND l.s = k.s AND l.c = k.code),
        |adc AS (SELECT a_id, b_id,
        |MAX(CASE WHEN s = 0 THEN d2 END) + MAX(CASE WHEN s = 1 THEN d2 END)
        |+ MAX(CASE WHEN s = 2 THEN d2 END) + MAX(CASE WHEN s = 3 THEN d2 END) AS adc_d2
        |FROM adcp GROUP BY a_id, b_id)
        |SELECT a_id, b_id, round(adc_d2, 6) + 0.0 AS adc, rn FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY adc_d2, b_id) AS rn FROM adc)
        |WHERE rn <= 10 ORDER BY a_id, rn""".stripMargin.replace("\n", " ")),

    "vec_pq_rerank" ->
      (pqChain +
        """, lut AS (SELECT vec_id AS a_id, s, c, d2 FROM enc WHERE vec_id < 8),
        |adcp AS (SELECT l.a_id, k.vec_id AS b_id, k.s, l.d2
        |FROM codes k JOIN lut l ON l.s = k.s AND l.c = k.code),
        |adc AS (SELECT a_id, b_id,
        |MAX(CASE WHEN s = 0 THEN d2 END) + MAX(CASE WHEN s = 1 THEN d2 END)
        |+ MAX(CASE WHEN s = 2 THEN d2 END) + MAX(CASE WHEN s = 3 THEN d2 END) AS adc_d2
        |FROM adcp WHERE a_id <> b_id GROUP BY a_id, b_id),
        |short AS (SELECT a_id, b_id, rn_adc FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY adc_d2, b_id) AS rn_adc FROM adc) WHERE rn_adc <= 50),
        |ex AS (SELECT s.a_id, s.b_id, s.rn_adc, list_dot_product(q.emb, b.emb) AS sim_raw
        |FROM short s JOIN e q ON q.vec_id = s.a_id JOIN e b ON b.vec_id = s.b_id)
        |SELECT a_id, b_id, round(sim_raw, 4) + 0.0 AS sim, rn, rn_adc FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim_raw DESC, b_id) AS rn FROM ex)
        |WHERE rn <= 10 ORDER BY a_id, rn""".stripMargin.replace("\n", " ")),

    // ar-style ASCII-length container; parse walks offsets from the bytes
    "mm_chunk_table" ->
      """WITH d AS (SELECT doc_id, 'GRFT' ||
        |'TXTA' || lpad(CAST(length(substring(text, 1, 10 + CAST(doc_id % 7 AS INT))) AS VARCHAR), 4, '0') || substring(text, 1, 10 + CAST(doc_id % 7 AS INT)) ||
        |'TXTB' || lpad(CAST(length(substring(text, 21, 5 + CAST(doc_id % 11 AS INT))) AS VARCHAR), 4, '0') || substring(text, 21, 5 + CAST(doc_id % 11 AS INT)) ||
        |'META' || lpad(CAST(length(substring(text, 41, 8 + CAST(doc_id % 5 AS INT))) AS VARCHAR), 4, '0') || substring(text, 41, 8 + CAST(doc_id % 5 AS INT)) AS s
        |FROM documents),
        |p1 AS (SELECT doc_id, s, substring(s, 5, 4) AS t1, CAST(substring(s, 9, 4) AS INT) AS n1 FROM d),
        |p2 AS (SELECT *, substring(s, 13, n1) AS pay1, 13 + n1 AS o2 FROM p1),
        |p3 AS (SELECT *, substring(s, o2, 4) AS t2, CAST(substring(s, o2 + 4, 4) AS INT) AS n2 FROM p2),
        |p4 AS (SELECT *, substring(s, o2 + 8, n2) AS pay2, o2 + 8 + n2 AS o3 FROM p3),
        |p5 AS (SELECT *, substring(s, o3, 4) AS t3, CAST(substring(s, o3 + 4, 4) AS INT) AS n3 FROM p4),
        |p6 AS (SELECT *, substring(s, o3 + 8, n3) AS pay3 FROM p5)
        |SELECT doc_id, idx, tag, chunk_len, payload_md5 FROM (
        |SELECT doc_id, 1 AS idx, t1 AS tag, CAST(n1 AS BIGINT) AS chunk_len, md5(pay1) AS payload_md5 FROM p6
        |UNION ALL SELECT doc_id, 2, t2, CAST(n2 AS BIGINT), md5(pay2) FROM p6
        |UNION ALL SELECT doc_id, 3, t3, CAST(n3 AS BIGINT), md5(pay3) FROM p6)
        |ORDER BY doc_id, idx""".stripMargin.replace("\n", " "),

    "dq_freshness_lag" ->
      """WITH pt AS (SELECT event_type, COUNT(*) AS n_events,
        |MAX(epoch_us(ts)) AS max_us FROM events GROUP BY 1),
        |g AS (SELECT MAX(max_us) AS g_us FROM pt)
        |SELECT event_type, n_events, make_timestamp(max_us) AS latest_ts,
        |CAST((g_us - max_us) // 60000000 AS BIGINT) AS lag_min,
        |CASE WHEN (g_us - max_us) // 60000000 > 60 THEN 1 ELSE 0 END AS sla_breach
        |FROM pt, g ORDER BY event_type""".stripMargin.replace("\n", " "),

    "pipeline_shard_manifest" ->
      """WITH docs AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens FROM documents),
        |cum AS (SELECT *, COALESCE(SUM(tokens) OVER (ORDER BY doc_id
        |ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM docs),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS tt FROM docs)
        |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS shard_tokens,
        |MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |CAST(CAST(SUM(tokens) AS BIGINT) * 10000 // MAX(tt) AS BIGINT) AS share_bp
        |FROM (SELECT d.*, t.tt, CAST(d.cum_before * 16 // t.tt AS BIGINT) AS shard FROM cum d, tot t)
        |GROUP BY shard ORDER BY shard""".stripMargin.replace("\n", " "),

    "graph_modularity_labels" ->
      ("WITH " + knnIvfChain +
        """, kn AS (SELECT a_id, b_id FROM rk WHERE rn <= 5),
        |und AS (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM kn),
        |lab AS (SELECT vec_id, label FROM e),
        |ed AS (SELECT lu.label AS lu2, lv.label AS lv2 FROM und
        |JOIN lab lu ON lu.vec_id = und.u JOIN lab lv ON lv.vec_id = und.v),
        |deg AS (SELECT l.label, COUNT(*) AS d FROM
        |(SELECT u AS x FROM und UNION ALL SELECT v FROM und) t JOIN lab l ON l.vec_id = t.x GROUP BY l.label),
        |s2 AS (SELECT CAST(SUM(d * d) AS BIGINT) AS sum_d2 FROM deg),
        |cts AS (SELECT COUNT(*) AS l_edges,
        |CAST(SUM(CASE WHEN lu2 = lv2 THEN 1 ELSE 0 END) AS BIGINT) AS intra FROM ed)
        |SELECT l_edges, intra, sum_d2,
        |round(CAST(4 * l_edges * intra - sum_d2 AS DOUBLE) / CAST(4 * l_edges * l_edges AS DOUBLE), 6) + 0.0 AS modularity
        |FROM cts, s2""".stripMargin.replace("\n", " ")),

    // ── round-7 batch 6 ──

    "dedup_pq_codes" ->
      (pqChain +
        """, pk AS (SELECT vec_id, list(code ORDER BY s) AS cds FROM codes GROUP BY vec_id),
        |blk AS (SELECT vec_id, cds[1] * 4096 + cds[2] * 256 + cds[3] * 16 + cds[4] AS block FROM pk)
        |SELECT a.block AS block, a.vec_id AS a_id, b.vec_id AS b_id,
        |round(list_dot_product(ea.emb, eb.emb), 4) + 0.0 AS sim
        |FROM blk a JOIN blk b ON a.block = b.block AND a.vec_id < b.vec_id
        |JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
        |ORDER BY a.block, a_id, b_id""".stripMargin.replace("\n", " ")),

    "text_paragraph_dedup" ->
      """WITH segs0 AS (SELECT doc_id, generate_subscripts(p, 1) - 1 AS pos, unnest(p) AS seg
        |FROM (SELECT doc_id, string_split(text, '. ') AS p FROM documents) t),
        |segs AS (SELECT doc_id, pos, seg, md5(seg) AS fp FROM segs0 WHERE len(seg) > 0),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rk FROM segs)
        |SELECT doc_id, COUNT(*) AS n_segs,
        |CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |round(CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) + 0.0 AS kept_frac,
        |CAST(SUM(CASE WHEN rk > 1 THEN len(seg) ELSE 0 END) AS BIGINT) AS chars_removed
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),

    "dq_outlier_tukey" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
        |FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, round(quantile_cont(x, 0.25), 6) AS q1,
        |round(quantile_cont(x, 0.75), 6) AS q3 FROM daily GROUP BY 1),
        |f2 AS (SELECT *, q1 - (q3 - q1) * 1.5 AS lo_fence, q3 + (q3 - q1) * 1.5 AS hi_fence FROM f)
        |SELECT d.event_type, COUNT(*) AS n_days, MAX(q1) + 0.0 AS q1, MAX(q3) + 0.0 AS q3,
        |MAX(lo_fence) + 0.0 AS lo_fence, MAX(hi_fence) + 0.0 AS hi_fence,
        |CAST(SUM(CASE WHEN x < lo_fence OR x > hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_days
        |FROM daily d JOIN f2 USING (event_type) GROUP BY 1 ORDER BY 1"""
        .stripMargin.replace("\n", " "),

    // ── round-7 batch 7 ──

    // the SQL UDF is analyzer-inlined on the Spark side; the oracle IS
    // the inlined form
    "sql_udf_scalar" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))) AS DOUBLE) AS disc_rev
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replace("\n", " "),

    "sql_udf_table" ->
      """SELECT * FROM (
        |SELECT 'F' AS st, o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F' ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
        |UNION ALL SELECT * FROM (
        |SELECT 'O', o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O' ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
        |UNION ALL SELECT * FROM (
        |SELECT 'P', o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P' ORDER BY o_totalprice DESC, o_orderkey LIMIT 5)
        |ORDER BY st, o_totalprice DESC, o_orderkey""".stripMargin.replace("\n", " "),

    "vec_binary_hamming_topk" ->
      """WITH sig AS (SELECT vec_id,
        |CAST(list_sum(list_transform(range(0, 63), i -> CASE WHEN embedding[CAST(i + 1 AS INT)] > 0
        |THEN (1::BIGINT << CAST(i AS INT)) ELSE 0::BIGINT END)) AS BIGINT) AS sig
        |FROM embeddings)
        |SELECT a_id, b_id, hamming, rn FROM (
        |SELECT q.vec_id AS a_id, b.vec_id AS b_id,
        |CAST(bit_count(xor(q.sig, b.sig)) AS INT) AS hamming,
        |ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY bit_count(xor(q.sig, b.sig)), b.vec_id) AS rn
        |FROM sig q JOIN sig b ON q.vec_id < 10 AND b.vec_id <> q.vec_id)
        |WHERE rn <= 10 ORDER BY a_id, rn""".stripMargin.replace("\n", " "),

    // ── round-7 batch 8 ──

    "text_bpe_pair_stats" ->
      """SELECT pair, COUNT(*) AS n FROM (
        |SELECT unnest(list_transform(range(1, length(w)), i -> substring(w, CAST(i AS INT), 2))) AS pair
        |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) >= 2)
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin.replace("\n", " "),

    "dq_pk_uniqueness" ->
      """WITH u AS (
        |SELECT 'orders' AS table_name, COUNT(*) AS n_rows, COUNT(DISTINCT o_orderkey) AS nd FROM orders
        |UNION ALL SELECT 'customer', COUNT(*), COUNT(DISTINCT c_custkey) FROM customer
        |UNION ALL SELECT 'part', COUNT(*), COUNT(DISTINCT p_partkey) FROM part
        |UNION ALL SELECT 'supplier', COUNT(*), COUNT(DISTINCT s_suppkey) FROM supplier
        |UNION ALL SELECT 'lineitem', COUNT(*), COUNT(DISTINCT COALESCE(CAST(l_orderkey AS VARCHAR), '<null>') || '|' || COALESCE(CAST(l_linenumber AS VARCHAR), '<null>')) FROM lineitem
        |UNION ALL SELECT 'events', COUNT(*), COUNT(DISTINCT event_id) FROM events
        |UNION ALL SELECT 'documents', COUNT(*), COUNT(DISTINCT doc_id) FROM documents
        |UNION ALL SELECT 'embeddings', COUNT(*), COUNT(DISTINCT vec_id) FROM embeddings)
        |SELECT table_name, n_rows, nd AS n_distinct_pk, n_rows - nd AS n_dup_rows,
        |CASE WHEN n_rows <> nd THEN 1 ELSE 0 END AS violated
        |FROM u ORDER BY table_name""".stripMargin.replace("\n", " "),

    "ts_seasonal_anova" ->
      (EV +
        """, hourly AS (SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n FROM ev GROUP BY 1),
        |bounds AS (SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1 FROM ev),
        |spine AS (SELECT unnest(generate_series(d0 + INTERVAL 1 DAY, d1 - INTERVAL 1 HOUR, INTERVAL 1 HOUR)) AS hour FROM bounds),
        |x AS (SELECT CAST(hour(s.hour) AS INT) AS hod, COALESCE(h.n, 0) AS x FROM spine s LEFT JOIN hourly h ON h.hour = s.hour),
        |g AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s, CAST(SUM(x * x) AS BIGINT) AS q FROM x),
        |ph AS (SELECT hod, COUNT(*) AS m, CAST(SUM(x) AS BIGINT) AS sh, CAST(SUM(x * x) AS BIGINT) AS qh FROM x GROUP BY hod),
        |sw AS (SELECT MAX(m) AS m, CAST(SUM(m * qh - sh * sh) AS BIGINT) AS ssw_m FROM ph),
        |pk AS (SELECT hod AS peak_hour, sh AS peak_sum FROM
        |(SELECT *, ROW_NUMBER() OVER (ORDER BY sh DESC, hod) AS r FROM ph) WHERE r = 1)
        |SELECT CAST(n // 24 AS BIGINT) AS n_days, n AS n_hours,
        |CAST(n * q - s * s AS BIGINT) AS sst_n, ssw_m,
        |CASE WHEN n * q - s * s = 0 THEN NULL ELSE
        |round(1.0 - CAST(n * ssw_m AS DOUBLE) / CAST(m * (n * q - s * s) AS DOUBLE), 6) + 0.0 END AS seasonal_r2,
        |CAST(peak_hour AS INT) AS peak_hour,
        |round(CAST(peak_sum AS DOUBLE) / m, 6) + 0.0 AS peak_mean
        |FROM g, sw, pk""".stripMargin.replace("\n", " ")),

    // ── round-7 batch 9 ──

    "ts_forecast_baseline_mae" ->
      (EV +
        """, hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT min(date_trunc('hour', ts)) AS lo, max(date_trunc('hour', ts)) AS hi FROM ev),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |spine AS (SELECT t.event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds, types t),
        |x AS (SELECT s.event_type, s.hour, COALESCE(h.n, 0) AS x FROM spine s
        |LEFT JOIN hourly h ON h.event_type = s.event_type AND h.hour = s.hour),
        |l AS (SELECT *, lag(x, 1) OVER (PARTITION BY event_type ORDER BY hour) AS lag1,
        |lag(x, 24) OVER (PARTITION BY event_type ORDER BY hour) AS lag24 FROM x),
        |a AS (SELECT event_type, COUNT(*) AS n_eval, CAST(SUM(abs(x - lag1)) AS BIGINT) AS ae1,
        |CAST(SUM(abs(x - lag24)) AS BIGINT) AS ae24 FROM l WHERE lag24 IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_eval,
        |round(CAST(ae1 AS DOUBLE) / n_eval, 6) + 0.0 AS mae_naive,
        |round(CAST(ae24 AS DOUBLE) / n_eval, 6) + 0.0 AS mae_seasonal,
        |CASE WHEN ae1 <> 0 THEN round((round(CAST(ae24 AS DOUBLE) / n_eval, 6) + 0.0)
        |/ (round(CAST(ae1 AS DOUBLE) / n_eval, 6) + 0.0), 6) + 0.0 END AS mae_ratio
        |FROM a ORDER BY event_type""".stripMargin.replace("\n", " ")),

    // pair graph from the shared banded-pHash chain; exact transitive
    // closure labels each node with its component minimum (the
    // componentChain pattern over media signatures)
    "mm_phash_clusters" ->
      ("WITH RECURSIVE " + phashPairChain +
        """, pairs AS (SELECT a_id, b_id FROM cand WHERE bit_count(xor(sa, sb)) <= 10),
        |edges AS (SELECT a_id AS a, b_id AS b FROM pairs UNION ALL SELECT b_id, a_id FROM pairs),
        |reach AS (SELECT a AS node, a AS label FROM edges
        |UNION SELECT e.b AS node, r.label FROM reach r JOIN edges e ON e.a = r.node),
        |comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
        |sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
        |SELECT sz AS cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY sz ORDER BY sz"""
          .stripMargin.replace("\n", " ")),

    "text_vocab_chao1" ->
      """WITH wc AS (SELECT w, COUNT(*) AS c FROM
        |(SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE len(w) > 0 GROUP BY w),
        |a AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS vocab_d,
        |CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2 FROM wc)
        |SELECT n_tokens, vocab_d, f1, f2,
        |round(CASE WHEN f2 > 0 THEN vocab_d + CAST(f1 * f1 AS DOUBLE) / (2 * f2)
        |ELSE vocab_d + CAST(f1 * (f1 - 1) AS DOUBLE) / 2.0 END, 6) + 0.0 AS chao1,
        |round(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 6) + 0.0 AS coverage FROM a"""
        .stripMargin.replace("\n", " "),

    // ── round-7 batch 10 ──

    "text_gopher_gates" ->
      """WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS t,
        |list_filter(string_split(text, '. '), s -> len(s) > 0) AS segs FROM documents),
        |m AS (SELECT CAST(len(t) AS BIGINT) AS n_tok,
        |CAST(len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
        |CAST(len(segs) AS BIGINT) AS n_seg, CAST(len(list_distinct(segs)) AS BIGINT) AS n_seg_d,
        |n_chars - (CAST(len(t) AS BIGINT) - 1) AS n_let FROM d),
        |v AS (SELECT CASE WHEN n_tok < 50 OR n_tok > 100000 THEN 1 ELSE 0 END AS v_wc,
        |CASE WHEN n_let < 3 * n_tok OR n_let > 10 * n_tok THEN 1 ELSE 0 END AS v_awl,
        |CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS v_stop,
        |CASE WHEN 10 * n_seg_d < 7 * n_seg THEN 1 ELSE 0 END AS v_dupseg FROM m),
        |a AS (SELECT COUNT(*) AS n_docs,
        |CAST(SUM(v_wc) AS BIGINT) AS v_wc, CAST(SUM(v_awl) AS BIGINT) AS v_awl,
        |CAST(SUM(v_stop) AS BIGINT) AS v_stop, CAST(SUM(v_dupseg) AS BIGINT) AS v_dupseg,
        |CAST(SUM(CASE WHEN v_wc + v_awl + v_stop + v_dupseg = 0 THEN 0 ELSE 1 END) AS BIGINT) AS v_any FROM v),
        |u AS (SELECT 'word_count_50_100k' AS rule, v_wc AS n_violations, n_docs FROM a
        |UNION ALL SELECT 'mean_word_len_3_10', v_awl, n_docs FROM a
        |UNION ALL SELECT 'min_2_stopwords', v_stop, n_docs FROM a
        |UNION ALL SELECT 'dup_segment_30pct', v_dupseg, n_docs FROM a
        |UNION ALL SELECT 'ANY_RULE', v_any, n_docs FROM a)
        |SELECT rule, n_violations, n_docs,
        |round(CAST(n_violations AS DOUBLE) / n_docs, 6) + 0.0 AS viol_frac
        |FROM u ORDER BY rule""".stripMargin.replace("\n", " "),

    "ml_target_encode_loo" ->
      (EV +
        """, e2 AS (SELECT event_id, event_type, CAST(round(value * 100, 0) AS BIGINT) AS v FROM ev),
        |st AS (SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s FROM e2 GROUP BY 1)
        |SELECT e2.event_id, e2.event_type,
        |round(CAST(st.s - e2.v AS DOUBLE) / ((st.n - 1) * 100.0), 6) + 0.0 AS loo_enc
        |FROM e2 JOIN st USING (event_type) WHERE e2.event_id < 500 ORDER BY e2.event_id"""
          .stripMargin.replace("\n", " ")),

    // ── round-7 batch 11 ──

    "dq_ab_ttest" ->
      (EV +
        """, arm0 AS (SELECT COUNT(*) AS n0, CAST(SUM(v) AS BIGINT) AS s0, CAST(SUM(v * v) AS BIGINT) AS q0
        |FROM (SELECT CAST(round(value * 100, 0) AS BIGINT) AS v FROM ev WHERE event_type = 'purchase' AND user_id % 2 = 0)),
        |arm1 AS (SELECT COUNT(*) AS n1, CAST(SUM(v) AS BIGINT) AS s1, CAST(SUM(v * v) AS BIGINT) AS q1
        |FROM (SELECT CAST(round(value * 100, 0) AS BIGINT) AS v FROM ev WHERE event_type = 'purchase' AND user_id % 2 = 1)),
        |r AS (SELECT n0, n1,
        |round(CAST(s0 AS DOUBLE) / (n0 * 100.0), 6) AS mean0,
        |round(CAST(s1 AS DOUBLE) / (n1 * 100.0), 6) AS mean1,
        |round(CAST(n0 * q0 - s0 * s0 AS DOUBLE) / (n0 * (n0 - 1) * 10000.0), 6) AS var0,
        |round(CAST(n1 * q1 - s1 * s1 AS DOUBLE) / (n1 * (n1 - 1) * 10000.0), 6) AS var1
        |FROM arm0, arm1),
        |r2 AS (SELECT *, var0 / n0 + var1 / n1 AS se2 FROM r)
        |SELECT n0 AS n_a, n1 AS n_b, mean0 + 0.0 AS mean_a, mean1 + 0.0 AS mean_b,
        |var0 + 0.0 AS var_a, var1 + 0.0 AS var_b,
        |round((mean0 - mean1) / sqrt(se2), 4) + 0.0 AS t_stat,
        |round((se2 * se2) / ((var0 / n0) * (var0 / n0) / (n0 - 1) + (var1 / n1) * (var1 / n1) / (n1 - 1)), 2) + 0.0 AS welch_df
        |FROM r2""".stripMargin.replace("\n", " ")),

    "ml_feature_scaler_fit" ->
      """WITH x AS (SELECT CAST(i - 1 AS INT) AS dim, embedding[CAST(i AS INT)] AS x
        |FROM embeddings, range(1, 9) t(i)),
        |m AS (SELECT dim, COUNT(*) AS n,
        |round(CAST(MIN(x) AS DOUBLE), 6) + 0.0 AS min_x, round(CAST(MAX(x) AS DOUBLE), 6) + 0.0 AS max_x,
        |SUM(CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS s,
        |SUM(CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT) * CAST(round(CAST(x AS DOUBLE) * 1048576, 0) AS BIGINT)) AS q
        |FROM x GROUP BY dim)
        |SELECT dim, CAST(n AS BIGINT) AS n, min_x, max_x,
        |round(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 1048576.0), 6) + 0.0 AS mean_x,
        |round(sqrt(CAST(n * q - s * s AS DOUBLE) / (CAST(n * (n - 1) AS DOUBLE) * 1048576.0 * 1048576.0)), 6) + 0.0 AS std_x
        |FROM m ORDER BY dim""".stripMargin.replace("\n", " "),

    "pipeline_license_filter" ->
      """WITH d AS (SELECT CASE CAST(doc_id % 10 AS INT)
        |WHEN 0 THEN 'cc-by' WHEN 1 THEN 'cc-by' WHEN 2 THEN 'cc-by'
        |WHEN 3 THEN 'cc-by-sa' WHEN 4 THEN 'cc-by-sa' WHEN 5 THEN 'cc0'
        |WHEN 6 THEN 'cc-by-nc' WHEN 7 THEN 'cc-by-nc'
        |WHEN 8 THEN 'proprietary' ELSE 'unknown' END AS license,
        |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS tt FROM d)
        |SELECT license, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tokens,
        |CAST(CAST(SUM(n_tok) AS BIGINT) * 10000 // MAX(tt) AS BIGINT) AS share_bp,
        |CASE WHEN license IN ('cc-by', 'cc-by-sa', 'cc0') THEN 1 ELSE 0 END AS allowed,
        |CASE WHEN license IN ('cc-by', 'cc-by-sa') THEN 1 ELSE 0 END AS needs_attribution
        |FROM d, t GROUP BY license ORDER BY license""".stripMargin.replace("\n", " "),

    // per-doc 32-bit digest word (M90 nibble arithmetic ×8), XOR-merged —
    // order-independent, so both engines agree regardless of plan
    "pipeline_version_hash" -> {
      def nib(i: Int) =
        s"(ascii(substring(h, $i, 1)) - CASE WHEN ascii(substring(h, $i, 1)) >= 97 THEN 87 ELSE 48 END)"
      val wordExpr = (1 to 8)
        .map(i => s"CAST(${nib(i)} AS BIGINT) * ${1L << ((8 - i) * 4)}").mkString(" + ")
      s"""WITH d AS (SELECT source, CAST($wordExpr AS BIGINT) AS w FROM
      (SELECT source, md5(CAST(doc_id AS VARCHAR) || '|' || text) AS h FROM documents))
      SELECT source, n_docs, version FROM (
      SELECT source, COUNT(*) AS n_docs, bit_xor(w) AS version FROM d GROUP BY source
      UNION ALL SELECT 'ALL', COUNT(*), bit_xor(w) FROM d)
      ORDER BY source""".replaceAll("\\s+", " ")
    },

    "dq_incident_islands" ->
      (EV +
        """, daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x FROM ev GROUP BY 1, 2),
        |tot AS (SELECT event_type, COUNT(*) AS nd, CAST(SUM(x) AS BIGINT) AS sx FROM daily GROUP BY 1),
        |f AS (SELECT d.event_type, d.day, d.x,
        |ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
        |FROM daily d JOIN tot t USING (event_type) WHERE 10 * d.x * t.nd > 11 * t.sx),
        |g AS (SELECT *, day - CAST(rn AS INT) AS grp FROM f)
        |SELECT event_type, CAST(MIN(day) AS VARCHAR) AS start_day,
        |CAST(MAX(day) AS VARCHAR) AS end_day, COUNT(*) AS n_days,
        |CAST(MAX(x) AS BIGINT) AS peak_count
        |FROM g GROUP BY event_type, grp ORDER BY event_type, start_day"""
          .stripMargin.replace("\n", " ")),

    "ml_feature_hash" ->
      """SELECT doc_id,
        |CAST((ascii(substring(md5(w), 1, 1)) - CASE WHEN ascii(substring(md5(w), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 4
        |+ (ascii(substring(md5(w), 2, 1)) - CASE WHEN ascii(substring(md5(w), 2, 1)) >= 97 THEN 87 ELSE 48 END) % 4 AS INT) AS slot,
        |COUNT(*) AS n
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id < 100)
        |WHERE len(w) > 0 GROUP BY 1, 2 ORDER BY doc_id, slot"""
        .stripMargin.replace("\n", " "),

    // ── round-8 additions ──

    // RRF fuses RANKS only; the two-term score is one fixed IEEE tree
    "search_hybrid_rrf" ->
      (pqChain +
        """, q AS (SELECT vec_id AS a_id, emb AS qe FROM e WHERE vec_id < 8),
        |cosr AS (SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sim DESC, b_id) AS rn_cos FROM (
        |SELECT q.a_id, e.vec_id AS b_id, list_dot_product(q.qe, e.emb) AS sim FROM e CROSS JOIN q WHERE e.vec_id <> q.a_id)),
        |cos20 AS (SELECT a_id, b_id, rn_cos FROM cosr WHERE rn_cos <= 20),
        |lut AS (SELECT vec_id AS a_id, s, c, d2 FROM enc WHERE vec_id < 8),
        |adcp AS (SELECT l.a_id, k.vec_id AS b_id, k.s, l.d2 FROM codes k JOIN lut l ON l.s = k.s AND l.c = k.code),
        |adcd AS (SELECT a_id, b_id,
        |MAX(CASE WHEN s = 0 THEN d2 END) + MAX(CASE WHEN s = 1 THEN d2 END)
        |+ MAX(CASE WHEN s = 2 THEN d2 END) + MAX(CASE WHEN s = 3 THEN d2 END) AS adc_d2
        |FROM adcp WHERE a_id <> b_id GROUP BY a_id, b_id),
        |adc20 AS (SELECT a_id, b_id, rn_adc FROM (
        |SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY adc_d2, b_id) AS rn_adc FROM adcd) WHERE rn_adc <= 20),
        |fused AS (SELECT COALESCE(c.a_id, d.a_id) AS a_id, COALESCE(c.b_id, d.b_id) AS b_id,
        |COALESCE(c.rn_cos, 0) AS rnc, COALESCE(d.rn_adc, 0) AS rna,
        |COALESCE(1.0 / (60 + c.rn_cos), 0.0) + COALESCE(1.0 / (60 + d.rn_adc), 0.0) AS rrf
        |FROM cos20 c FULL OUTER JOIN adc20 d ON d.a_id = c.a_id AND d.b_id = c.b_id)
        |SELECT a_id, b_id, CAST(rnc AS BIGINT) AS rn_cos, CAST(rna AS BIGINT) AS rn_adc,
        |round(rrf, 6) + 0.0 AS rrf, rn FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY rrf DESC, b_id) AS rn FROM fused)
        |WHERE rn <= 10 ORDER BY a_id, rn""".stripMargin.replace("\n", " ")),

    // seeded md5 total order -> round-robin stripes; Σ rn·doc_id is the
    // permutation-sensitive checksum (exact LONG both engines)
    "pipeline_shuffle_stripe" ->
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |md5('epoch7|' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY h, doc_id) AS rn FROM d)
        |SELECT CAST((rn - 1) % 16 AS BIGINT) AS shard, COUNT(*) AS n_docs,
        |CAST(SUM(toks) AS BIGINT) AS n_tokens, MIN(rn) AS first_pos, MAX(rn) AS last_pos,
        |CAST(SUM(rn * doc_id) AS BIGINT) AS perm_checksum
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin.replace("\n", " "),

    // J28 index_build_vecsearch — the standing-index build manifest: each
    // artifact's row count is a pure function of the corpus (n vectors,
    // one centroid per label, 4×16 codebook entries, 4 codes per vector,
    // one packed word per vector, the deterministic cell-pruned kNN
    // candidate counts from the shared bounded + full chains), so the
    // oracle checks the build without replicating the parquet write path.
    // The full-corpus count needs NO dots: the pair set is pure
    // (cell, bucket) membership, and bucketing is exact integer
    // arithmetic over the d-ranking.
    "index_build_vecsearch" ->
      ("WITH " + knnIvfChain + ", " + knnFullChain +
        s""", nv AS (SELECT COUNT(*) AS n FROM embeddings),
        |nl AS (SELECT COUNT(DISTINCT label) AS n FROM embeddings),
        |ncand AS (SELECT COUNT(*) AS n FROM cand),
        |ncandfull AS (SELECT CAST(SUM(LEAST($KF, c)) AS BIGINT) AS n
        |FROM (SELECT a_id, COUNT(*) AS c FROM fcand GROUP BY a_id))
        |SELECT artifact, n_rows FROM (
        |SELECT 'ivf_assigned' AS artifact, (SELECT n FROM nv) AS n_rows
        |UNION ALL SELECT 'ivf_centroids', (SELECT n FROM nl)
        |UNION ALL SELECT 'knn_candidates', (SELECT n FROM ncand)
        |UNION ALL SELECT 'knn_candidates_full', (SELECT n FROM ncandfull)
        |UNION ALL SELECT 'pq_codebook', 64
        |UNION ALL SELECT 'pq_codes', 4 * (SELECT n FROM nv)
        |UNION ALL SELECT 'pq_packed', (SELECT n FROM nv))
        |ORDER BY artifact""".stripMargin.replace("\n", " ")),

    // M99 (round 11) graph_kcore_full — fixpoint k-core on the
    // full-corpus kNN graph: the engine loops until no edge is removed;
    // the oracle unrolls the same peel to the shared round budget and
    // picks the FIRST fixpoint round. Sound because (a) survivor sets
    // shrink monotonically, so equal edge counts ⇔ equal edge sets, and
    // (b) peeling is idempotent past the fixpoint, so the extra unrolled
    // rounds are no-ops. Every stage is MATERIALIZED (the M98 lesson) —
    // 15 inlined rounds would otherwise re-evaluate the corpus chain
    // exponentially.
    "graph_kcore_full" -> kcoreFullSql,

    // J29 (round 9): graph-traversal ANN — the 2-hop expansion unrolls to
    // two joins over the kNN edge relation; exact-dot re-rank on the
    // deduped candidate set, J3's rounding protocol.
    "ann_graph_expand_topk" ->
      ("WITH " + knnIvfChain + """, knn AS (SELECT a_id, b_id FROM rk WHERE rn <= 5),
        |h1 AS (SELECT a_id AS q_id, b_id AS cand FROM knn WHERE a_id < 10),
        |h2 AS (SELECT h1.q_id, k2.b_id AS cand FROM h1 JOIN knn k2 ON k2.a_id = h1.cand),
        |c AS (SELECT DISTINCT q_id, cand FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2) WHERE cand <> q_id),
        |s AS (SELECT c.q_id, c.cand,
        |list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])) AS sim_raw
        |FROM c JOIN embeddings qe ON qe.vec_id = c.q_id JOIN embeddings ce ON ce.vec_id = c.cand),
        |r AS (SELECT q_id, cand, sim_raw,
        |ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim_raw DESC, cand) AS rn FROM s)
        |SELECT q_id, cand AS b_id, round(sim_raw, 4) + 0.0 AS sim, rn
        |FROM r WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin.replace("\n", " ")),

    // M98 (round 9): bounded k-core peel — the Spark side's three fixed
    // rounds unroll to three CTE stages (deg → survivors → induced
    // edges), so the oracle recomputes the identical trace without any
    // recursive aggregate. e0 is MATERIALIZED: the peel stages reference
    // it (transitively) many times, and DuckDB's CTE inlining would
    // otherwise re-evaluate the corpus-sized kNN chain per reference —
    // OOM at sf1; materialized, the chain runs once into a ~2k-row edge
    // list and the whole query is sub-second at any fixture size.
    "graph_kcore_peel" ->
      ("WITH " + knnIvfChain + """, knn AS (SELECT a_id, b_id FROM rk WHERE rn <= 5),
        |e0 AS MATERIALIZED (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
        |d1 AS (SELECT x, COUNT(*) AS deg FROM (SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0) GROUP BY x),
        |a1 AS (SELECT x FROM d1 WHERE deg >= 6),
        |e1 AS (SELECT u, v FROM e0 WHERE u IN (SELECT x FROM a1) AND v IN (SELECT x FROM a1)),
        |d2 AS (SELECT x, COUNT(*) AS deg FROM (SELECT u AS x FROM e1 UNION ALL SELECT v FROM e1) GROUP BY x),
        |a2 AS (SELECT x FROM d2 WHERE deg >= 6),
        |e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT x FROM a2) AND v IN (SELECT x FROM a2)),
        |d3 AS (SELECT x, COUNT(*) AS deg FROM (SELECT u AS x FROM e2 UNION ALL SELECT v FROM e2) GROUP BY x),
        |a3 AS (SELECT x FROM d3 WHERE deg >= 6),
        |e3 AS (SELECT u, v FROM e2 WHERE u IN (SELECT x FROM a3) AND v IN (SELECT x FROM a3))
        |SELECT peel_round, n_alive, n_edges FROM (
        |SELECT 1 AS peel_round, (SELECT COUNT(*) FROM a1) AS n_alive, (SELECT COUNT(*) FROM e1) AS n_edges
        |UNION ALL SELECT 2, (SELECT COUNT(*) FROM a2), (SELECT COUNT(*) FROM e2)
        |UNION ALL SELECT 3, (SELECT COUNT(*) FROM a3), (SELECT COUNT(*) FROM e3))
        |ORDER BY peel_round""".stripMargin.replace("\n", " ")),

    // M101 (round 11) graph_cc_full — the engine's star loop must equal
    // the recursive min-label transitive closure over the same mutual
    // edge set (the componentChain pattern on embedding-space edges);
    // tractable because mutual-kNN components are cluster-sized.
    "graph_cc_full" ->
      ("WITH RECURSIVE " + knnFullChain +
        s""", knn AS MATERIALIZED (SELECT a_id, b_id FROM frk WHERE rn <= $KF),
        |me AS MATERIALIZED (SELECT a.a_id AS u, a.b_id AS v FROM knn a
        |JOIN knn b ON b.a_id = a.b_id AND b.b_id = a.a_id WHERE a.a_id < a.b_id),
        |ed AS (SELECT u AS a, v AS b FROM me UNION ALL SELECT v, u FROM me),
        |reach AS (SELECT a AS node, a AS label FROM ed
        |UNION SELECT e.b, r.label FROM reach r JOIN ed e ON e.a = r.node),
        |comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
        |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members FROM comp
        |GROUP BY component ORDER BY n_members DESC, component LIMIT 20"""
          .stripMargin.replace("\n", " ")),

    // M102 (round 11) graph_pagerank_full — M51's unrolled 3-iteration /
    // 12-dp protocol with the general rank/outdeg transition (out-degree
    // is data-dependent on the full graph, not the constant k).
    "graph_pagerank_full" ->
      ("WITH " + knnFullChain +
        s""", knn AS MATERIALIZED (SELECT a_id, b_id FROM frk WHERE rn <= $KF),
        |od AS MATERIALIZED (SELECT a_id, COUNT(*) AS od FROM knn GROUP BY a_id),
        |nn AS (SELECT COUNT(*) AS n FROM ef),
        |r0 AS (SELECT vec_id, CAST(1 AS DOUBLE) / CAST(n AS DOUBLE) AS r FROM ef, nn),
        |c1 AS (SELECT b_id, SUM(r / CAST(od AS DOUBLE)) AS c FROM knn JOIN r0 ON knn.a_id = r0.vec_id JOIN od ON od.a_id = knn.a_id GROUP BY b_id),
        |r1 AS (SELECT ef.vec_id, round(CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE)
        |+ CAST(0.85 AS DOUBLE) * COALESCE(c, CAST(0 AS DOUBLE)), 12) AS r
        |FROM ef CROSS JOIN nn LEFT JOIN c1 ON ef.vec_id = c1.b_id),
        |c2 AS (SELECT b_id, SUM(r / CAST(od AS DOUBLE)) AS c FROM knn JOIN r1 ON knn.a_id = r1.vec_id JOIN od ON od.a_id = knn.a_id GROUP BY b_id),
        |r2 AS (SELECT ef.vec_id, round(CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE)
        |+ CAST(0.85 AS DOUBLE) * COALESCE(c, CAST(0 AS DOUBLE)), 12) AS r
        |FROM ef CROSS JOIN nn LEFT JOIN c2 ON ef.vec_id = c2.b_id),
        |c3 AS (SELECT b_id, SUM(r / CAST(od AS DOUBLE)) AS c FROM knn JOIN r2 ON knn.a_id = r2.vec_id JOIN od ON od.a_id = knn.a_id GROUP BY b_id),
        |r3 AS (SELECT ef.vec_id, round(CAST(0.15 AS DOUBLE) / CAST(n AS DOUBLE)
        |+ CAST(0.85 AS DOUBLE) * COALESCE(c, CAST(0 AS DOUBLE)), 12) AS r
        |FROM ef CROSS JOIN nn LEFT JOIN c3 ON ef.vec_id = c3.b_id)
        |SELECT vec_id, round(r, 6) + 0.0 AS pagerank FROM r3
        |ORDER BY pagerank DESC, vec_id LIMIT 20""".stripMargin.replace("\n", " ")),

    // M103 (round 11) vec_knn_join_full — the kNN self-join read: the
    // shared full chain's ranked relation, cut at 3, J3 rounding.
    "vec_knn_join_full" ->
      ("WITH " + knnFullChain +
        """ SELECT a_id, b_id, round(dot, 4) + 0.0 AS sim, rn
        |FROM frk WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin.replace("\n", " ")),

    // M104 (round 11) ann_recall_full — exact ground truth on the 10-query
    // sample vs the full chain's top-8 cut; the M37 recall protocol.
    "ann_recall_full" ->
      ("WITH " + knnFullChain +
        s""", q AS (SELECT vec_id AS a_id, emb AS a_emb FROM ef WHERE vec_id < 10),
        |x AS (SELECT a_id, b_id FROM (SELECT q.a_id, ef.vec_id AS b_id,
        |ROW_NUMBER() OVER (PARTITION BY q.a_id
        |ORDER BY list_dot_product(q.a_emb, ef.emb) DESC, ef.vec_id) AS rn
        |FROM q JOIN ef ON ef.vec_id <> q.a_id) WHERE rn <= $KF),
        |ap AS (SELECT a_id, b_id FROM frk WHERE rn <= $KF AND a_id < 10)
        |SELECT x.a_id, COUNT(*) AS n_exact,
        |CAST(COUNT(ap.b_id) AS BIGINT) AS n_hit,
        |CAST(COUNT(ap.b_id) AS DOUBLE) / COUNT(*) AS recall
        |FROM x LEFT JOIN ap ON ap.a_id = x.a_id AND ap.b_id = x.b_id
        |GROUP BY x.a_id ORDER BY x.a_id""".stripMargin.replace("\n", " ")),

    // M97 (round 9): fixed-size holdout — the oracle carves the same
    // bottom-100-by-content-md5 set (tie-break doc_id) and recomputes the
    // per-source attrition exactly.
    "pipeline_eval_holdout" ->
      """WITH h AS (SELECT doc_id, source, n_chars, md5(coalesce(text, '')) AS hv FROM documents),
        |e AS (SELECT doc_id FROM h ORDER BY hv, doc_id LIMIT 100)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(COUNT(e.doc_id) AS BIGINT) AS n_eval,
        |CAST(COUNT(*) - COUNT(e.doc_id) AS BIGINT) AS n_train,
        |CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN n_chars ELSE 0 END) AS BIGINT) AS eval_chars,
        |round(CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN n_chars ELSE 0 END) AS DOUBLE) / SUM(n_chars), 6) + 0.0 AS eval_char_share
        |FROM h LEFT JOIN e USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),

    // E27/E28 (round 9): the oracle recomputes the heavy hitters EXACTLY
    // (group-count + HAVING over the full stream) — the engine's
    // Misra–Gries candidate pass is an optimization whose recounted
    // output must coincide with the exact answer (the MG superset
    // guarantee makes the two literally equal, not approximately).
    "agg_heavy_hitters" ->
      """WITH t AS (SELECT CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS item
        |FROM events WHERE value IS NOT NULL)
        |SELECT item, COUNT(*) AS n,
        |round(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM t), 6) AS frac
        |FROM t GROUP BY item HAVING COUNT(*) * 64 > (SELECT COUNT(*) FROM t)
        |ORDER BY n DESC, item""".stripMargin.replace("\n", " "),

    // M96 (round 9): the media-index build manifest — row counts are pure
    // corpus functions (signatures = non-empty payloads, pairs = the
    // deterministic banded ≤10-bit candidate count from the shared phash
    // CTE chain), so the oracle checks the build by replicating the
    // algorithm, not the parquet write path.
    "index_build_mediasig" ->
      ("WITH " + phashPairChain +
        """, ns AS (SELECT COUNT(*) AS n FROM documents WHERE n_chars > 0),
        |np AS (SELECT COUNT(*) AS n FROM cand WHERE bit_count(xor(sa, sb)) <= 10)
        |SELECT artifact, n_rows FROM (
        |SELECT 'media_pairs' AS artifact, (SELECT n FROM np) AS n_rows
        |UNION ALL SELECT 'media_sigs', (SELECT n FROM ns))
        |ORDER BY artifact""".stripMargin.replace("\n", " ")),

    // M100 (round 11): the INCREMENTAL media-index manifest — the engine
    // delta-builds (re-sign the 10% slice, band-join delta×merged, reuse
    // base pairs), but every merged count must equal the FULL-corpus
    // chain's (that is the row-identity contract), and the delta counts
    // are the full chain filtered to pairs/sigs touching the delta slice.
    // The oracle never replicates the incremental bookkeeping — it checks
    // the result against the from-scratch definition.
    "index_update_mediasig" ->
      ("WITH " + phashPairChain +
        s""", ns AS (SELECT COUNT(*) AS n FROM documents WHERE n_chars > 0),
        |nsd AS (SELECT COUNT(*) AS n FROM documents WHERE n_chars > 0 AND ${graft.ops.IndexStore.DeltaPred}),
        |np AS (SELECT COUNT(*) AS n FROM cand WHERE bit_count(xor(sa, sb)) <= 10),
        |npd AS (SELECT COUNT(*) AS n FROM cand WHERE bit_count(xor(sa, sb)) <= 10
        |AND (${graft.ops.IndexStore.deltaPredOn("a_id")} OR ${graft.ops.IndexStore.deltaPredOn("b_id")}))
        |SELECT artifact, n_rows FROM (
        |SELECT 'media_pairs' AS artifact, (SELECT n FROM np) AS n_rows
        |UNION ALL SELECT 'media_pairs_delta', (SELECT n FROM npd)
        |UNION ALL SELECT 'media_sigs', (SELECT n FROM ns)
        |UNION ALL SELECT 'media_sigs_delta', (SELECT n FROM nsd))
        |ORDER BY artifact""".stripMargin.replace("\n", " ")),

    // M105 (round 12) index_update_vecsearch — incremental maintenance of
    // the vector store: the oracle replicates the TWO-SNAPSHOT protocol
    // (quantizer/boundaries frozen at the base slice, delta dot-range-
    // mapped in) and checks all nine manifest counts. Per-vector artifact
    // counts are structural (assignment and encoding are per-vector pure
    // functions of the frozen quantizers); the shortlist and delta-band
    // counts come from the g2 candidate chain — pure (cell, bucket)
    // membership, no dots needed. The codebook count is 4 × the base
    // vectors among the first 16 (the PQ init-sample protocol).
    "index_update_vecsearch" ->
      ("WITH " + knnTwoSnapChain +
        s""", n2 AS (SELECT COUNT(*) AS n FROM embeddings),
        |nd2 AS (SELECT COUNT(*) AS n FROM embeddings WHERE ${graft.ops.IndexStore.VecDeltaPred}),
        |nc2 AS (SELECT COUNT(DISTINCT label) AS n FROM embeddings WHERE NOT (${graft.ops.IndexStore.VecDeltaPred})),
        |ncb2 AS (SELECT 4 * COUNT(*) AS n FROM embeddings WHERE vec_id < 16 AND NOT (${graft.ops.IndexStore.VecDeltaPred})),
        |nshort AS (SELECT CAST(SUM(LEAST($KF, c)) AS BIGINT) AS n
        |FROM (SELECT a_id, COUNT(*) AS c FROM g2cand GROUP BY a_id)),
        |ndp AS (SELECT COUNT(*) AS n FROM g2cand
        |WHERE ${graft.ops.IndexStore.vecDeltaPredOn("a_id")} OR ${graft.ops.IndexStore.vecDeltaPredOn("b_id")})
        |SELECT artifact, n_rows FROM (
        |SELECT 'ivf_assigned' AS artifact, (SELECT n FROM n2) AS n_rows
        |UNION ALL SELECT 'ivf_assigned_delta', (SELECT n FROM nd2)
        |UNION ALL SELECT 'ivf_centroids', (SELECT n FROM nc2)
        |UNION ALL SELECT 'knn_candidates_full', (SELECT n FROM nshort)
        |UNION ALL SELECT 'knn_pairs_delta', (SELECT n FROM ndp)
        |UNION ALL SELECT 'pq_codebook', (SELECT n FROM ncb2)
        |UNION ALL SELECT 'pq_codes', 4 * (SELECT n FROM n2)
        |UNION ALL SELECT 'pq_codes_delta', 4 * (SELECT n FROM nd2)
        |UNION ALL SELECT 'pq_packed', (SELECT n FROM n2))
        |ORDER BY artifact""".stripMargin.replace("\n", " ")),

    // M106 (round 12) graph_labelprop_full — the M44 two-round clamped
    // majority vote over the symmetrized FULL-corpus 5-NN graph (edges
    // from the shared full chain's rank cut); ed/obs/l1 MATERIALIZED (the
    // M98 lesson — each is referenced by both vote rounds).
    "graph_labelprop_full" ->
      ("WITH " + knnFullChain +
        """, kn AS (SELECT a_id, b_id FROM frk WHERE rn <= 5),
        |ed AS MATERIALIZED (SELECT DISTINCT u, v FROM (SELECT a_id AS u, b_id AS v FROM kn UNION ALL SELECT b_id, a_id FROM kn)),
        |obs AS MATERIALIZED (SELECT vec_id, CASE WHEN vec_id % 5 = 0 THEN NULL ELSE label END AS l FROM embeddings),
        |v1 AS (SELECT u, o.l, COUNT(*) AS n FROM ed JOIN obs o ON o.vec_id = ed.v WHERE o.l IS NOT NULL GROUP BY u, o.l),
        |p1 AS (SELECT u AS vec_id, l AS pred FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, l) AS rn2 FROM v1) WHERE rn2 = 1),
        |l1 AS MATERIALIZED (SELECT o.vec_id, COALESCE(o.l, p1.pred) AS l FROM obs o LEFT JOIN p1 ON p1.vec_id = o.vec_id),
        |v2 AS (SELECT u, x.l, COUNT(*) AS n FROM ed JOIN l1 x ON x.vec_id = ed.v WHERE x.l IS NOT NULL GROUP BY u, x.l),
        |p2 AS (SELECT u AS vec_id, l AS pred FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, l) AS rn2 FROM v2) WHERE rn2 = 1),
        |l2 AS (SELECT o.vec_id, COALESCE(o.l, p2.pred, l1.l) AS l FROM obs o
        |LEFT JOIN p2 ON p2.vec_id = o.vec_id LEFT JOIN l1 ON l1.vec_id = o.vec_id)
        |SELECT e2.vec_id, e2.label AS label_true, CAST(l2.l AS INT) AS label_pred,
        |CASE WHEN l2.l = e2.label THEN 1 ELSE 0 END AS correct
        |FROM embeddings e2 LEFT JOIN l2 ON l2.vec_id = e2.vec_id WHERE e2.vec_id % 5 = 0 ORDER BY e2.vec_id"""
          .stripMargin.replace("\n", " ")),

    // M108 (round 12) graph_triangle_full — the M42 wedge + closing
    // semi-join census over the symmetrized FULL-corpus 5-NN graph; und
    // MATERIALIZED (read by all three triangle legs and both counters).
    "graph_triangle_full" ->
      ("WITH " + knnFullChain +
        """, knn AS (SELECT a_id, b_id FROM frk WHERE rn <= 5),
        |und AS MATERIALIZED (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
        |tri AS (SELECT e1.u FROM und e1 JOIN und e2 ON e1.v = e2.u JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
        |vx AS (SELECT count(DISTINCT x) AS n_vertices FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und))
        |SELECT vx.n_vertices, (SELECT count(*) FROM und) AS n_edges,
        |(SELECT count(*) FROM tri) AS n_triangles FROM vx""".stripMargin.replace("\n", " ")),

    // M109 (round 12) graph_assortativity_full — the M56 degree-degree
    // Pearson over the symmetrized FULL-corpus 5-NN graph; exact HUGEINT
    // sums, one double expression at the end.
    "graph_assortativity_full" ->
      ("WITH " + knnFullChain +
        """, knn AS (SELECT a_id, b_id FROM frk WHERE rn <= 5),
        |und AS (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
        |adj AS MATERIALIZED (SELECT u AS x, v AS nb FROM und UNION ALL SELECT v AS x, u AS nb FROM und),
        |deg AS (SELECT x, COUNT(*) AS deg FROM adj GROUP BY x),
        |pairs AS (SELECT CAST(du.deg AS HUGEINT) AS xd, CAST(dv.deg AS HUGEINT) AS yd
        |FROM adj JOIN deg du ON du.x = adj.x JOIN deg dv ON dv.x = adj.nb),
        |s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(xd) AS sx, SUM(yd) AS sy,
        |SUM(xd*xd) AS sxx, SUM(yd*yd) AS syy, SUM(xd*yd) AS sxy FROM pairs)
        |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
        |CAST(n*sxy - sx*sy AS DOUBLE) / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) + 0.0 AS assortativity
        |FROM s""".stripMargin.replace("\n", " ")),

    // M110 (round 12) graph_modularity_full — the M55 label-partition
    // modularity over the symmetrized FULL-corpus 5-NN graph; und
    // MATERIALIZED (read by the edge-labeling join and the degree sum).
    "graph_modularity_full" ->
      ("WITH " + knnFullChain +
        """, kn AS (SELECT a_id, b_id FROM frk WHERE rn <= 5),
        |und AS MATERIALIZED (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM kn),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |ed AS (SELECT lu.label AS lu2, lv.label AS lv2 FROM und
        |JOIN lab lu ON lu.vec_id = und.u JOIN lab lv ON lv.vec_id = und.v),
        |deg AS (SELECT l.label, COUNT(*) AS d FROM
        |(SELECT u AS x FROM und UNION ALL SELECT v FROM und) t JOIN lab l ON l.vec_id = t.x GROUP BY l.label),
        |s2 AS (SELECT CAST(SUM(d * d) AS BIGINT) AS sum_d2 FROM deg),
        |cts AS (SELECT COUNT(*) AS l_edges,
        |CAST(SUM(CASE WHEN lu2 = lv2 THEN 1 ELSE 0 END) AS BIGINT) AS intra FROM ed)
        |SELECT l_edges, intra, sum_d2,
        |round(CAST(4 * l_edges * intra - sum_d2 AS DOUBLE) / CAST(4 * l_edges * l_edges AS DOUBLE), 6) + 0.0 AS modularity
        |FROM cts, s2""".stripMargin.replace("\n", " ")),

    // M107 (round 12) graph_jaccard_full — the M54 wedge join over the
    // symmetrized FULL-corpus 5-NN graph; adj MATERIALIZED (read by both
    // wedge sides and the degree relation).
    "graph_jaccard_full" ->
      ("WITH " + knnFullChain +
        """, knn AS (SELECT a_id, b_id FROM frk WHERE rn <= 5),
        |und AS (SELECT DISTINCT least(a_id, b_id) AS u, greatest(a_id, b_id) AS v FROM knn),
        |adj AS MATERIALIZED (SELECT u AS x, v AS nb FROM und UNION ALL SELECT v AS x, u AS nb FROM und),
        |deg AS (SELECT x, COUNT(*) AS deg FROM adj GROUP BY x),
        |com AS (SELECT p1.x AS pu, p2.x AS pv, COUNT(*) AS n_common
        |FROM adj p1 JOIN adj p2 ON p1.nb = p2.nb AND p1.x < p2.x GROUP BY p1.x, p2.x)
        |SELECT pu AS u, pv AS v, CAST(n_common AS BIGINT) AS n_common,
        |round(CAST(n_common AS DOUBLE) / (du.deg + dv.deg - n_common), 6) AS jaccard
        |FROM com JOIN deg du ON du.x = pu JOIN deg dv ON dv.x = pv
        |ORDER BY jaccard DESC, u, v LIMIT 15""".stripMargin.replace("\n", " ")),

    "agg_heavy_hitters_grouped" ->
      """WITH t AS (SELECT event_type, CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS item
        |FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, item, COUNT(*) AS n FROM t GROUP BY event_type, item),
        |tot AS (SELECT event_type, SUM(n) AS total FROM c GROUP BY event_type)
        |SELECT c.event_type, c.item, c.n,
        |round(CAST(c.n AS DOUBLE) / tot.total, 6) AS frac
        |FROM c JOIN tot USING (event_type) WHERE c.n * 64 > tot.total
        |ORDER BY c.event_type, n DESC, item""".stripMargin.replace("\n", " "),

    // D5 (round 16): one DE/rand/1/bin generation — lattice init, seeded
    // md5 donor ranking and crossover coin (the M70/M120 idiom), F=1
    // integral mutation, one corpus pass scoring parent+trial. Every sum
    // CAST AS BIGINT (the round-15 HUGEINT→float64 bridge trap).
    "param_sweep_de_step" ->
      """WITH pop AS (SELECT CAST(i AS BIGINT) AS i,
        |CAST((7 * i + 3) % 50 + 1 AS BIGINT) AS a,
        |CAST((3 * i + 1) % 11 AS BIGINT) AS b FROM range(12) t(i)),
        |dn AS (SELECT p.i, q.a AS ja, q.b AS jb,
        |ROW_NUMBER() OVER (PARTITION BY p.i ORDER BY
        |md5('de|r|' || CAST(p.i AS VARCHAR) || '|' || CAST(q.i AS VARCHAR)), q.i) AS rk
        |FROM pop p JOIN pop q ON q.i <> p.i),
        |mut AS (SELECT i,
        |GREATEST(1, LEAST(50, MAX(CASE WHEN rk = 1 THEN ja END)
        |+ MAX(CASE WHEN rk = 2 THEN ja END) - MAX(CASE WHEN rk = 3 THEN ja END))) AS va,
        |GREATEST(0, LEAST(10, MAX(CASE WHEN rk = 1 THEN jb END)
        |+ MAX(CASE WHEN rk = 2 THEN jb END) - MAX(CASE WHEN rk = 3 THEN jb END))) AS vb
        |FROM dn WHERE rk <= 3 GROUP BY i),
        |tr AS (SELECT p.i, p.a, p.b,
        |CASE WHEN p.i % 2 = 0 OR substr(md5('de|cx|' || CAST(p.i AS VARCHAR) || '|a'), 1, 1) < 'c'
        |THEN m.va ELSE p.a END AS ta,
        |CASE WHEN p.i % 2 = 1 OR substr(md5('de|cx|' || CAST(p.i AS VARCHAR) || '|b'), 1, 1) < 'c'
        |THEN m.vb ELSE p.b END AS tb
        |FROM pop p JOIN mut m ON m.i = p.i),
        |f AS (SELECT CAST(l_quantity AS BIGINT) AS qty, CAST(l_discount * 100 AS BIGINT) AS d100 FROM lineitem),
        |sc AS (SELECT t.i,
        |CAST(SUM(ABS(f.qty - t.a) + ABS(f.d100 - t.b)) AS BIGINT) AS parent_err,
        |CAST(SUM(ABS(f.qty - t.ta) + ABS(f.d100 - t.tb)) AS BIGINT) AS trial_err
        |FROM tr t, f GROUP BY t.i)
        |SELECT t.i, t.a, t.b, t.ta AS trial_a, t.tb AS trial_b, s.parent_err, s.trial_err,
        |CASE WHEN s.trial_err < s.parent_err THEN t.ta ELSE t.a END AS sel_a,
        |CASE WHEN s.trial_err < s.parent_err THEN t.tb ELSE t.b END AS sel_b,
        |s.trial_err < s.parent_err AS improved
        |FROM tr t JOIN sc s ON s.i = t.i ORDER BY t.i""".stripMargin.replace("\n", " "),

    // D6 (round 16): one (μ+λ) self-adaptive ES generation — lattice
    // parents with power-of-two step sizes, seeded two-point σ
    // adaptation + hex-digit steps, one corpus pass scoring all 20
    // candidates, top-4 survive
    "param_sweep_saes_step" ->
      """WITH par AS (SELECT CAST(i AS BIGINT) AS cid, CAST(i AS BIGINT) AS origin,
        |CAST((11 * i + 7) % 50 + 1 AS BIGINT) AS a,
        |CAST((5 * i + 2) % 11 AS BIGINT) AS b,
        |CAST(1 << i AS BIGINT) AS sa,
        |CAST(1 << CAST((i + 2) % 4 AS INT) AS BIGINT) AS sb FROM range(4) t(i)),
        |hx AS (SELECT j,
        |instr('0123456789abcdef', substr(md5('saes|sig|' || CAST(j AS VARCHAR) || '|a'), 1, 1)) - 1 AS hsa,
        |instr('0123456789abcdef', substr(md5('saes|sig|' || CAST(j AS VARCHAR) || '|b'), 1, 1)) - 1 AS hsb,
        |instr('0123456789abcdef', substr(md5('saes|x|' || CAST(j AS VARCHAR) || '|a'), 1, 1)) - 1 AS hxa,
        |instr('0123456789abcdef', substr(md5('saes|x|' || CAST(j AS VARCHAR) || '|b'), 1, 1)) - 1 AS hxb
        |FROM range(16) t(j)),
        |o1 AS (SELECT h.j, p.cid AS origin, p.a AS pa, p.b AS pb,
        |GREATEST(1, LEAST(16, CASE WHEN h.hsa % 2 = 0 THEN p.sa * 2 ELSE p.sa // 2 END)) AS sa,
        |GREATEST(1, LEAST(16, CASE WHEN h.hsb % 2 = 0 THEN p.sb * 2 ELSE p.sb // 2 END)) AS sb,
        |h.hxa, h.hxb FROM hx h JOIN par p ON p.cid = h.j % 4),
        |off AS (SELECT CAST(j + 4 AS BIGINT) AS cid, origin,
        |CAST(GREATEST(1, LEAST(50, pa + (hxa % 5 - 2) * sa)) AS BIGINT) AS a,
        |CAST(GREATEST(0, LEAST(10, pb + (hxb % 5 - 2) * sb)) AS BIGINT) AS b,
        |CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb FROM o1),
        |cand AS (SELECT * FROM par UNION ALL SELECT * FROM off),
        |f AS (SELECT CAST(l_quantity AS BIGINT) AS qty, CAST(l_discount * 100 AS BIGINT) AS d100 FROM lineitem),
        |sc AS (SELECT c.cid, c.origin, c.a, c.b, c.sa, c.sb,
        |CAST(SUM(ABS(f.qty - c.a) + ABS(f.d100 - c.b)) AS BIGINT) AS err
        |FROM cand c, f GROUP BY c.cid, c.origin, c.a, c.b, c.sa, c.sb),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY err, cid) AS rank FROM sc)
        |SELECT rank, cid, origin, a, b, sa AS sigma_a, sb AS sigma_b, err,
        |cid >= 4 AS is_offspring FROM rk WHERE rank <= 4 ORDER BY rank"""
        .stripMargin.replace("\n", " "),

    // P1 (round 16): two-threshold tailcut clean over the 8×8 grid —
    // counts + kept-intensity sum/max (×1000 BIGINTs, kept ≥ LO > 0)
    "grid_tailcut_clean" ->
      (s"WITH $gridKeptChain, " +
        """q AS (SELECT vec_id, core, kept,
        |list_transform(emb, v -> CAST(round(v * 1000) AS BIGINT)) AS qa FROM k)
        |SELECT vec_id,
        |CAST(len(list_filter(core, x -> x)) AS BIGINT) AS n_core,
        |CAST(len(list_filter(range(0, 64), p -> kept[CAST(p + 1 AS INT)]
        |AND NOT core[CAST(p + 1 AS INT)])) AS BIGINT) AS n_boundary,
        |CAST(len(list_filter(kept, x -> x)) AS BIGINT) AS n_kept,
        |CAST(COALESCE(list_sum(list_transform(range(0, 64), p ->
        |CASE WHEN kept[CAST(p + 1 AS INT)] THEN qa[CAST(p + 1 AS INT)] ELSE 0 END)), 0) AS BIGINT) AS q_sum,
        |CAST(COALESCE(list_max(list_transform(range(0, 64), p ->
        |CASE WHEN kept[CAST(p + 1 AS INT)] THEN qa[CAST(p + 1 AS INT)] ELSE NULL END)), 0) AS BIGINT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin.replace("\n", " ")),

    // P2 (round 16): 4-neighbor components over kept pixels (recursive
    // min-label closure per image — the M24 oracle pattern), then the
    // per-image island profile with the size-then-smallest-root argmax
    "grid_island_largest" ->
      (s"WITH RECURSIVE $gridKeptChain, " +
        """kp AS (SELECT vec_id, CAST(p AS BIGINT) AS p0 FROM k, range(0, 64) t(p)
        |WHERE kept[CAST(p + 1 AS INT)]),
        |ed0 AS (SELECT a.vec_id, a.p0 AS ap, b.p0 AS bp FROM kp a JOIN kp b
        |ON b.vec_id = a.vec_id AND ((b.p0 = a.p0 + 1 AND a.p0 % 8 <> 7) OR b.p0 = a.p0 + 8)),
        |edges AS (SELECT vec_id, ap AS ea, eb FROM (SELECT vec_id, ap, bp AS eb FROM ed0
        |UNION ALL SELECT vec_id, bp AS ap, ap AS eb FROM ed0)),
        |reach AS (SELECT vec_id, p0 AS node, p0 AS label FROM kp
        |UNION SELECT e.vec_id, e.eb, r.label FROM reach r
        |JOIN edges e ON e.vec_id = r.vec_id AND e.ea = r.node),
        |comp AS (SELECT vec_id, node, MIN(label) AS comp FROM reach GROUP BY vec_id, node),
        |isl AS (SELECT vec_id, comp, CAST(COUNT(*) AS BIGINT) AS isl_size
        |FROM comp GROUP BY vec_id, comp)
        |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |CAST(SUM(isl_size) AS BIGINT) AS n_kept,
        |CAST(MAX(isl_size) AS BIGINT) AS largest_size,
        |CAST(max_by(comp, isl_size * 1000000000000 - comp) AS BIGINT) AS largest_px
        |FROM isl GROUP BY vec_id ORDER BY vec_id""".stripMargin.replace("\n", " ")),

    // P3 (round 16): 3×3 edge-clipped box mean on the +1-shifted ×1000
    // quantization (all integers nonnegative, so // ≡ Spark div); the
    // stencil terms come from the SAME Scala generator as the engine
    "grid_stencil_smooth" -> gridStencilSmoothSql,
  )

  /** One snapshot side of dq_profile_drift: the 13-metric single-scan
    * aggregate over the `event_id % 2 = parity` slice, all metrics cast
    * to DOUBLE (exact for counts, raw for float min/max — same tree as
    * the Spark side).
    */
  private def profileDriftSide(alias: String, parity: String): String =
    (if (parity == "0") "WITH " else "") +
      s"""$alias AS (SELECT CAST(COUNT(*) AS DOUBLE) AS et_n,
      |CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS et_null,
      |CAST(COUNT(DISTINCT event_type) AS DOUBLE) AS et_d,
      |CAST(COUNT(user_id) AS DOUBLE) AS uid_n,
      |CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS uid_null,
      |CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS uid_d,
      |CAST(MIN(user_id) AS DOUBLE) AS uid_min, CAST(MAX(user_id) AS DOUBLE) AS uid_max,
      |CAST(COUNT("value") AS DOUBLE) AS v_n,
      |CAST(SUM(CASE WHEN "value" IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS v_null,
      |MIN("value") AS v_min, MAX("value") AS v_max,
      |CAST(SUM(CAST(round("value" * 100, 0) AS BIGINT)) AS DOUBLE) AS v_cents
      |FROM events WHERE event_id % 2 = $parity)""".stripMargin.replace("\n", " ")

  /** The banded block-pHash pair chain (blk → bits → sig → bands → cand)
    * shared by mm_phash_hamming and mm_phash_clusters; emitted WITHOUT
    * the leading WITH so the clusters query can prepend WITH RECURSIVE.
    * 60-bit signature (round 8, mirroring Multimodal.phashSignatures):
    * hex positions 1..30 × (nibble-high, nibble-odd) sign-sums; the bit
    * weights are cast to BIGINT TERM-WISE before summing — a double SUM
    * of powers up to 2^59 would round past the 53-bit mantissa.
    */
  private def phashPairChain: String =
    """blk AS (SELECT doc_id, unnest(list_transform(range(0, (n_chars + 63) // 64),
      |i -> md5(substring(text, CAST(i AS INT) * 64 + 1, 64)))) AS h
      |FROM documents WHERE n_chars > 0),
      |bits AS (SELECT doc_id, j,
      |SUM(CASE WHEN substring(h, CAST(j AS INT), 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS hs,
      |SUM(CASE WHEN substring(h, CAST(j AS INT), 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS ls
      |FROM blk, range(1, 31) t(j) GROUP BY doc_id, j),
      |sig AS (SELECT doc_id, CAST(SUM(
      |CAST(CASE WHEN hs > 0 THEN power(2, (j - 1) * 2) ELSE 0 END AS BIGINT) +
      |CAST(CASE WHEN ls > 0 THEN power(2, (j - 1) * 2 + 1) ELSE 0 END AS BIGINT)) AS BIGINT) AS sig
      |FROM bits GROUP BY doc_id),
      |bands AS (SELECT doc_id, sig, k, (sig // CAST(power(2, k * 15) AS BIGINT)) % 32768 AS band FROM sig, range(0, 4) t(k)),
      |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id, x.sig AS sa, y.sig AS sb
      |FROM bands x JOIN bands y ON x.k = y.k AND x.band = y.band AND x.doc_id < y.doc_id)"""
      .stripMargin.replace("\n", " ")

  /** The PQ index-build CTE chain shared by vec_pq_adc_topk / vec_pq_error
    * / vec_pq_rerank / ann_ivf_pq_topk / dedup_pq_codes, mirroring
    * Similarity.pqIndex: 4×16-dim subspaces, 16-entry codebooks TRAINED
    * with one Lloyd round from the first-16-sampled init — corpus argmin
    * assignment against cb0, per-(s, code, dim) 2^20 fixed-point mean
    * (round 6 dp), dead codes keeping their init entry — then the final
    * argmin encode against the trained codebook, asc-code tiebreak.
    */
  private def pqChain: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
      |ss AS (SELECT unnest([0, 1, 2, 3]) AS s),
      |sub AS (SELECT vec_id, s, list_transform(range(1, 17), i -> emb[CAST(s * 16 + i AS INT)]) AS sv FROM e, ss),
      |cb0 AS (SELECT s, CAST(vec_id AS INT) AS c, sv AS cbv FROM sub WHERE vec_id < 16),
      |enc0 AS (SELECT vec_id, s, c, list_dot_product(dv, dv) AS d2 FROM (
      |SELECT v.vec_id, v.s, cb0.c, list_transform(range(1, 17), i -> v.sv[CAST(i AS INT)] - cb0.cbv[CAST(i AS INT)]) AS dv
      |FROM sub v JOIN cb0 ON cb0.s = v.s)),
      |codes0 AS (SELECT vec_id, s, c AS code FROM (
      |SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn0 FROM enc0) WHERE rn0 = 1),
      |tm AS (SELECT k.s, k.code AS c, t.i AS dim,
      |round(CAST(SUM(CAST(round(v.sv[CAST(t.i AS INT)] * 1048576, 0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0), 6) AS cc
      |FROM codes0 k JOIN sub v ON v.vec_id = k.vec_id AND v.s = k.s, range(1, 17) t(i)
      |GROUP BY k.s, k.code, t.i),
      |cbt AS (SELECT s, c, list(cc ORDER BY dim) AS cbv FROM tm GROUP BY s, c),
      |cb AS (SELECT cb0.s, cb0.c, COALESCE(cbt.cbv, cb0.cbv) AS cbv FROM cb0 LEFT JOIN cbt ON cbt.s = cb0.s AND cbt.c = cb0.c),
      |enc AS (SELECT vec_id, s, c, list_dot_product(dv, dv) AS d2 FROM (
      |SELECT v.vec_id, v.s, cb.c, list_transform(range(1, 17), i -> v.sv[CAST(i AS INT)] - cb.cbv[CAST(i AS INT)]) AS dv
      |FROM sub v JOIN cb ON cb.s = v.s)),
      |codes AS (SELECT vec_id, s, c AS code, d2 AS qerr FROM (
      |SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn1 FROM enc) WHERE rn1 = 1)"""
      .stripMargin.replace("\n", " ")

  /** The grid-family two-threshold clean (g → core → kept) shared by
    * grid_tailcut_clean / grid_island_largest, mirroring
    * GridStencil.cleaned on the DuckDB list dialect (1-based brackets,
    * CASE-guarded neighbor probes — FALSE AND x = FALSE under 3VL, so an
    * unguarded wrap can never flip a decision). Thresholds interpolate
    * from the engine constants (the ADVICE r11 #1 discipline). No WITH
    * prefix: callers supply WITH or WITH RECURSIVE.
    */
  private def gridKeptChain: String = {
    val hi = graft.ops.GridStencil.TailHi
    val lo = graft.ops.GridStencil.TailLo
    s"""g AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |c AS (SELECT vec_id, emb, list_transform(range(0, 64), p ->
      |emb[CAST(p + 1 AS INT)] >= $hi) AS core FROM g),
      |k AS (SELECT vec_id, emb, core, list_transform(range(0, 64), p ->
      |core[CAST(p + 1 AS INT)] OR (emb[CAST(p + 1 AS INT)] >= $lo AND (
      |CASE WHEN p >= 8 THEN core[CAST(p - 7 AS INT)] ELSE false END OR
      |CASE WHEN p < 56 THEN core[CAST(p + 9 AS INT)] ELSE false END OR
      |CASE WHEN p % 8 <> 0 THEN core[CAST(p AS INT)] ELSE false END OR
      |CASE WHEN p % 8 <> 7 THEN core[CAST(p + 2 AS INT)] ELSE false END))) AS kept FROM c)"""
      .stripMargin.replace("\n", " ")
  }

  /** grid_stencil_smooth oracle: the 9 stencil terms are generated by the
    * SAME Scala code as the engine expression
    * ([[graft.ops.GridStencil.stencilTerms]]) on the DuckDB dialect, so
    * the window geometry cannot drift between engine and oracle.
    */
  private def gridStencilSmoothSql: String = {
    val (sumT, cntT) = graft.ops.GridStencil.stencilTerms(
      (g, t, e) => s"CASE WHEN $g THEN $t ELSE $e END",
      i => s"qs[CAST($i AS INT)]")
    s"""WITH g AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id, list_transform(emb, v ->
      |CAST(round((v + 1.0) * 1000) AS BIGINT)) AS qs FROM g),
      |s AS (SELECT vec_id, qs, list_transform(range(0, 64), p ->
      |($sumT) // ($cntT)) AS sm FROM q)
      |SELECT vec_id, CAST(list_max(sm) AS BIGINT) AS sm_max,
      |CAST(list_position(sm, list_max(sm)) - 1 AS BIGINT) AS sm_argmax_px,
      |CAST(len(list_filter(range(0, 64), p ->
      |sm[CAST(p + 1 AS INT)] > qs[CAST(p + 1 AS INT)])) AS BIGINT) AS n_raised,
      |CAST(list_sum(sm) // 64 AS BIGINT) AS sm_mean
      |FROM s ORDER BY vec_id""".stripMargin.replace("\n", " ")
  }
}
