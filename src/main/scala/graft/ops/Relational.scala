package graft.ops

import graft.Tables
import graft.functions.{topk, zorder16}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational core: scans/sources (SURVEY §2.A), projections/filters (§2.B),
  * joins (§2.C), sort/limit/top-k (§2.G), set ops (§2.H).
  *
  * Determinism protocol (SURVEY §5.3): every query ends in a total ORDER BY
  * whose suffix is a unique key; money math is DECIMAL(18,2) cast *before*
  * aggregation; events timestamps come only from Tables.events (ns→µs).
  */
object Relational {

  /** A1 — lineitem scan with shipdate range predicate + computed revenue.
    * Exercises parquet predicate pushdown + column pruning: the filter and
    * the 5-column projection both reach the vectorized parquet reader.
    */
  def scanFilterProject(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
             col("l_shipdate") <  lit("1997-01-01").cast("timestamp_ntz"))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        Cols.revenue.cast("double").as("revenue"),
        col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** A2 — events source with ns→µs normalization (the only legal way to
    * read the ns-precision parquet; see Tables.events).
    */
  def sourceEventsNs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts_us"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** A3 — JSON prop extraction: `props` = `{"k": <int>}` → typed INT. */
  def sourceJsonProps(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy(col("event_id"))

  /** A4 — partitioned parquet sink + partition-pruned read-back, as a
    * contract query (VERDICT r1 "What's missing" #2): writes orders
    * partitioned by order year, reads it back with an equality filter on
    * the partition column — the filter prunes at the DIRECTORY level
    * (PartitionFilters, no data read outside 1996) — then aggregates.
    * Oracle computes the same aggregate over the original table, so the
    * round-trip through the partitioned layout is value-checked.
    *
    * 100 TB note: this is the first act of any real pipeline — land the
    * fact table partitioned by its dominant filter key so every downstream
    * date-ranged query scans only its slice.
    */
  def sinkPartitionedStats(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_sink_orders")
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      // repartition by the partition column: one file per partition dir
      // instead of one per (task × partition) — the small-files guard
      .repartition(col("o_year"))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    spark.read.parquet(out)
      .where(col("o_year") === 1996)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** A7 — JSON-lines sink + source round-trip: write a projection as JSON,
    * read it back with an EXPLICIT schema (schema inference on 100 TB is a
    * full extra pass — never rely on it), aggregate. Oracle aggregates the
    * original table, so the format round-trip is value-checked.
    */
  def sourceJsonRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_json_orders")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").json(out)
    spark.read.schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .json(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** A12 source_parquet_schema_merge — LAKE-side schema evolution: two
    * parquet slices written with DIFFERENT schemas (v1: key+status; v2
    * adds o_totalprice), read back as ONE table with `mergeSchema` — the
    * old slice's missing column surfaces as NULL, the standard
    * add-a-column lifecycle of a long-lived dataset (complement of H5's
    * query-side union-by-name). The value check aggregates per status
    * over both slices: counts see every row, the sum sees only v2 rows.
    */
  def sourceParquetSchemaMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_parquet_evolving")
    val o = Tables.orders(spark, sfDir)
    // v1 slice: even keys, original two-column schema
    o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$out/slice=v1")
    // v2 slice: odd keys, schema grew a column
    o.where(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$out/slice=v2")
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_with_price"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("total_price_v2"))
      .orderBy(col("o_orderstatus"))
  }

  /** A16 source_file_metadata — the hidden `_metadata` column surface:
    * the corpus is written as a multi-file parquet dataset (one sorted
    * writer task rolling a new file every 200 records via
    * `maxRecordsPerFile`), read back with `_metadata.file_path` /
    * `_metadata.row_index`, and audited per file: row count, id range,
    * byte-proxy char sum, and the row-index invariant
    * max(row_index)+1 = count(*) — the small-file/compaction audit every
    * lakehouse table needs. The oracle reproduces the deterministic
    * 200-row chunking with a row_number window, proving the file
    * boundaries and metadata columns carry exactly the declared rows.
    *
    * 100 TB: `maxRecordsPerFile` rolls per writer task, so N tasks emit
    * N sorted file chains in parallel and the audit's group-by-file_path
    * distributes like any keyed agg; the single-task form here only
    * makes the chunk boundaries oracle-reproducible. The file_path group
    * key never reaches the output (paths are run-local), only its stats.
    */
  def sourceFileMetadata(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_meta_docs")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"))
      .coalesce(1).sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").option("maxRecordsPerFile", 200).parquet(out)
    spark.read.parquet(out)
      .select(col("doc_id"), col("n_chars"),
        col("_metadata.file_path").as("path"),
        col("_metadata.row_index").as("ri"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_rows"),
        (max(col("ri")) + lit(1L)).as("rows_by_index"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        sum(col("n_chars")).as("chars_in_file"))
      .select(col("min_doc_id"), col("max_doc_id"), col("n_rows"),
        col("rows_by_index"), col("chars_in_file"))
      .orderBy(col("min_doc_id"))
  }

  /** A8 — CSV sink + source round-trip (header, explicit schema), same
    * value-check pattern as A7. Doubles survive CSV because Spark writes
    * shortest-round-trip representations.
    */
  def sourceCsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_csv_orders")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(out)
    spark.read.option("header", "true")
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .csv(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** H5 — union by NAME with missing columns (schema evolution): two
    * batch slices with different column sets union on names, absent
    * columns null-filled (`unionByName(allowMissingColumns)` ≡ DuckDB
    * `UNION ALL BY NAME`) — the shape every multi-vintage lake ingest
    * hits when a new field appears mid-corpus.
    */
  def setUnionByName(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val v1 = o.where(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val v2 = o.where(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        Cols.dec2(col("o_totalprice")).cast("double").as("o_price"))
    v1.unionByName(v2, allowMissingColumns = true)
      .orderBy(col("o_orderkey"))
  }

  /** A11 — ORC round-trip (the remaining lake format with a bundled Spark
    * connector — Avro's is absent from this container, SURVEY §7.6;
    * re-probed round 9: /opt/spark/jars still ships only avro-core
    * 1.12.1, no spark-avro_2.13 connector, so `format("avro")` cannot
    * resolve — the A-series Avro round-trip stays a one-query gap until
    * the jar appears):
    * orders → ORC (snappy) → read back → aggregate. The oracle aggregates
    * the ORIGINAL parquet table, so values must survive the ORC writer/
    * reader byte-exactly — including the ms-precision timestamp max.
    */
  def sourceOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_orc_orders")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("total_price"),
        max(col("o_orderdate")).as("last_order"))
      .orderBy(col("o_orderstatus"))
  }

  /** A13 source_text_roundtrip — the line-oriented `text` source (the one
    * bundled format A7/A8/A11 don't cover — raw logs, JSONL precursors,
    * WET-style corpus dumps): documents serialize to one TAB-delimited
    * line each, read back as raw `value` lines, and re-parse by splitting
    * on the first two tabs. The corpus text itself carries no tabs or
    * newlines (asserted by the fixture contract; the writer would escape
    * otherwise), so the round-trip is lossless and the per-language
    * aggregate must match the original table byte-for-byte.
    */
  def sourceTextRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_text_docs")
    Tables.documents(spark, sfDir)
      .select(concat_ws("\t", col("doc_id"), col("lang"), col("text")).as("value"))
      .write.mode("overwrite").text(out)
    spark.read.text(out)
      .select(
        split(col("value"), "\t", 3).getItem(0).cast("bigint").as("doc_id"),
        split(col("value"), "\t", 3).getItem(1).as("lang"),
        split(col("value"), "\t", 3).getItem(2).as("text"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("total_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("lang"))
  }

  /** A14 source_binaryfile_ingest — Spark's `binaryFile` source: the
    * ingestion path for a multimodal corpus landed object-per-item by a
    * crawler (images/audio/video as opaque blobs — the read side of the
    * §2.M story, complementing M11's decode plumbing). Each document's
    * UTF-8 bytes are landed as one `<doc_id>.bin` object via executor-side
    * per-partition writes (a crawler's layout is NOT a Spark sink — on a
    * real cluster this stage writes through the object-store FS client;
    * here java.nio against the shared local tmpdir), then read back with
    * `format("binaryFile")` + `pathGlobFilter`, parsing the id from the
    * path and hashing `content`. The md5 must match the source-of-truth
    * parquet text byte-for-byte, proving the blob round-trip is lossless.
    *
    * 100 TB note: binaryFile never splits within a blob — one file, one
    * row, one task slice — so OBJECT size (bounded by the format's
    * maxLength guard), not table size, caps task memory; listing cost
    * scales with object count, which is why the demo bounds the corpus
    * subset rather than the byte volume.
    */
  def sourceBinaryfileIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_binfiles")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    Tables.documents(spark, sfDir)
      .where(col("doc_id") < 200) // present at every SF (≥500 docs)
      .select(col("doc_id"), col("text"))
      .repartition(4) // executor-parallel landing, like a crawler fleet
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(out, s"${r.getLong(0)}.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(out)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
          .cast("bigint").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
      .orderBy(col("doc_id"))
  }

  /** A17 source_csv_permissive — malformed-row capture, the ingestion
    * feature a real lake lives on: land a CSV with DETERMINISTICALLY
    * corrupted rows (every doc_id ≡ 0 mod 7 gets a non-numeric payload),
    * read it back under PERMISSIVE mode with a `_corrupt_record` column,
    * and report row/good/corrupt counts plus the good-row payload sum.
    * The oracle never parses the CSV — it recomputes the same numbers
    * arithmetically from the source-of-truth table, so a hash match
    * proves PERMISSIVE captured exactly the planted rows and passed every
    * clean value through unchanged (no silent drops, no coercions).
    * 100 TB: executor-parallel write/read; the corrupt-capture is
    * per-row, map-only.
    */
  def sourceCsvPermissive(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_csv_permissive")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        when(col("doc_id") % 7 === 0, lit("not_a_number"))
          .otherwise(col("n_chars").cast("string")).as("payload"))
      .write.mode("overwrite").option("header", "true").csv(out)
    spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema("doc_id BIGINT, lang STRING, payload BIGINT, _corrupt_record STRING")
      .csv(out)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(col("payload")).as("sum_payload_good"))
  }

  /** A15 source_xml_roundtrip — the XML data source (bundled since Spark
    * 4.0, when the external spark-xml package merged into core — the last
    * bundled batch format the A-family didn't cover; feeds/exports and
    * legacy enterprise interchange still speak XML). Orders serialize one
    * `<order>` element per row, read back with an explicit schema (schema
    * inference over 100 TB of XML is a full extra scan — never at scale),
    * and the per-status aggregate must match the original parquet table
    * byte-for-byte, proving the text round-trip loses nothing (doubles
    * survive via shortest-repr formatting).
    */
  def sourceXmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_xml_orders")
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").option("rowTag", "order").xml(out)
    spark.read.option("rowTag", "order")
      .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .xml(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** D7 sql_session_variables — Spark 4 SQL session variables + the
    * IDENTIFIER clause: a DECLAREd threshold is re-bound with SET VARIABLE
    * and referenced inside the query text, and the table name arrives
    * through IDENTIFIER('orders') — the parameterized-SQL surface that
    * replaces string-splicing in orchestration code (a templated 100 TB
    * job re-binds variables per run instead of re-planning new SQL text).
    * The variable's value is echoed back in the projection so the oracle
    * pins that the LAST binding (150000, not the 100000 default) won.
    */
  def sqlSessionVariables(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql("DECLARE OR REPLACE VARIABLE graft_thresh DOUBLE DEFAULT 100000.0")
    spark.sql("SET VARIABLE graft_thresh = 150000.0")
    spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS n_above,
        |       CAST(MAX(graft_thresh) AS DOUBLE) AS thresh_used
        |FROM IDENTIFIER('orders')
        |WHERE o_totalprice > graft_thresh
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
  }

  /** D10 sql_udf_scalar — Spark 4 SQL-defined scalar functions (CREATE
    * FUNCTION ... RETURN expr): the revenue formula lives ONCE as a
    * catalog object instead of being re-spliced into every query — the
    * governance surface a shared 100 TB warehouse standardizes metrics
    * through. The body is the exact-decimal [[Cols.revenue]] protocol, and
    * because a SQL UDF is inlined by the analyzer (not a black-box
    * lambda), pushdown/codegen/whole-stage all survive — unlike a Scala
    * UDF, this costs nothing at plan time. Oracle inlines the identical
    * expression. The function lives only while the query is analyzed
    * ([[withTempFunction]]).
    */
  def sqlUdfScalar(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    withTempFunction(spark, "graft_revenue",
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_revenue(p DOUBLE, d DOUBLE)
        |RETURNS DECIMAL(18,4)
        |RETURN CAST(CAST(p AS DECIMAL(12,2)) * (1 - CAST(d AS DECIMAL(12,2))) AS DECIMAL(18,4))"""
        .stripMargin) {
      spark.sql(
        """SELECT l_returnflag, COUNT(*) AS n,
          |       CAST(SUM(graft_revenue(l_extendedprice, l_discount)) AS DOUBLE) AS disc_rev
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }
  }

  /** Create a temporary SQL function, run `query` (which `spark.sql`
    * returns analyzed, with the function's body already inlined), then
    * drop the function again, so the key leaves nothing in the caller's
    * session.
    */
  private def withTempFunction(spark: SparkSession, name: String, create: String)(
      query: => DataFrame): DataFrame = {
    spark.sql(create)
    try query
    finally spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $name")
  }

  /** D11 sql_udf_table — Spark 4 SQL table functions (CREATE FUNCTION ...
    * RETURNS TABLE): a parameterized top-k-per-status view invoked as a
    * relation, the reusable-subquery surface that replaces copy-pasted
    * CTEs across jobs. The body is an ordinary query, so it plans as the
    * usual TakeOrderedAndProject — catalog sugar, zero plan cost. The
    * oracle inlines the body per invocation. Like D10, the function is
    * dropped once the query is analyzed.
    */
  def sqlUdfTable(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    withTempFunction(spark, "graft_top_orders",
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_top_orders(st STRING)
        |RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE)
        |RETURN SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = st
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 5""".stripMargin) {
      spark.sql(
        """SELECT * FROM (
          |  SELECT 'F' AS st, * FROM graft_top_orders('F')
          |  UNION ALL SELECT 'O', * FROM graft_top_orders('O')
          |  UNION ALL SELECT 'P', * FROM graft_top_orders('P'))
          |ORDER BY st, o_totalprice DESC, o_orderkey""".stripMargin)
    }
  }

  /** D8 sql_pipe_syntax — Spark 4 SQL pipe syntax (`|>`): the linear
    * dataflow dialect where each stage feeds the next — FROM → WHERE →
    * EXTEND (derived column) → AGGREGATE … GROUP BY → ORDER BY. The parser
    * desugars to exactly the nested-SELECT plan (the oracle is that classic
    * form), so pushdown, join strategy, and codegen are untouched; what
    * this query pins is the authoring surface itself. Money follows the
    * exact-decimal protocol: 2-dp decimal recovery inside EXTEND, decimal
    * SUM, one final double cast (Cols.revenue semantics inline).
    */
  def sqlPipeSyntax(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    // stripMargin's margin char is also the pipe operator's first char, so
    // each continuation line starts with `||>` → `|>` after stripping.
    spark.sql(
      """FROM lineitem
        ||> WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        ||> EXTEND CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(12,2))) AS gross
        ||> AGGREGATE COUNT(*) AS n_items, CAST(SUM(gross) AS DOUBLE) AS revenue GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** D9 sql_execute_immediate — Spark 4 dynamic SQL: the query text lives
    * in one session variable and is run via EXECUTE IMMEDIATE with a USING
    * parameter bound from another — the orchestration surface for templated
    * jobs (one prepared text, per-run bindings; parameter markers instead of
    * string splicing, so no injection surface and no re-plan per literal).
    * The bound segment filters customers; balances aggregate in the exact
    * decimal domain with one final double cast.
    */
  def sqlExecuteImmediate(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql("DECLARE OR REPLACE VARIABLE graft_sql STRING")
    spark.sql("DECLARE OR REPLACE VARIABLE graft_seg STRING DEFAULT 'BUILDING'")
    spark.sql("SET VARIABLE graft_seg = 'MACHINERY'")
    spark.sql(
      """SET VARIABLE graft_sql =
        |  'SELECT c_nationkey, COUNT(*) AS n_cust,
        |   CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |   FROM customer WHERE c_mktsegment = ?
        |   GROUP BY c_nationkey ORDER BY c_nationkey'""".stripMargin)
    spark.sql("EXECUTE IMMEDIATE graft_sql USING graft_seg")
  }

  /** A5 — dynamic partition pruning, live (VERDICT r1 "What's missing" #4):
    * the fact side is the year-partitioned orders layout; the dim side is a
    * tiny year dimension filtered on a NON-key attribute (leap-year label),
    * so static pruning can't apply — Spark must broadcast the filtered dim
    * keys at runtime and prune fact partitions via a
    * `dynamicpruningexpression` on the scan (PlanSpec gate).
    *
    * 100 TB note: DPP is the difference between scanning 4 years and 1 year
    * of a date-partitioned lake when the filter arrives through a dimension
    * table — the standard star-schema access path.
    */
  def joinDppPartitioned(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Cols.tmpPath("graft_dpp_orders")
    Tables.orders(spark, sfDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .repartition(col("o_year")) // one file per partition dir (see A4q)
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    // tiny derived year dim; the filter lands on `d_label`, not the join key
    val dimYears = Tables.orders(spark, sfDir)
      .select(year(col("o_orderdate")).as("d_year")).distinct()
      .withColumn("d_label",
        when(col("d_year") % 4 === 0, lit("leap")).otherwise(lit("common")))
    spark.read.parquet(out)
      .join(broadcast(dimYears.where(col("d_label") === "leap")),
        col("o_year") === col("d_year"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** A6 — bucketed co-located join: both sides land as bucketed tables on
    * the join key, so the join plans WITHOUT a shuffle exchange on either
    * side (PlanSpec gate) — the bucket layout IS the exchange, paid once at
    * write time and amortized over every subsequent join.
    *
    * 100 TB note: for a fact table joined daily on the same key, bucketing
    * converts an O(data) shuffle per query into zero — the single biggest
    * recurring-cost lever after partitioning.
    */
  def joinBucketedColocated(spark: SparkSession, sfDir: String): DataFrame = {
    val buckets = 8
    val base = new java.io.File(Cols.tmpPath("graft_bkt"))
    // repartition on the bucket key first: without it every write task
    // emits a file per bucket (tasks × buckets small files — the classic
    // lake mistake); with it each bucket is one file, which also lets the
    // bucketed scan keep its sort
    def land(df: DataFrame, table: String, key: String): Unit =
      df.repartition(buckets, col(key))
        .write.mode("overwrite")
        .option("path", new java.io.File(base, table).getAbsolutePath)
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(table)
    // table names carry the run token too: the in-memory catalog is per-JVM,
    // but the backing files under `base` are not
    val ordersTbl = s"graft_orders_bkt_${Cols.runToken}"
    val customerTbl = s"graft_customer_bkt_${Cols.runToken}"
    land(Tables.orders(spark, sfDir), ordersTbl, "o_custkey")
    land(Tables.customer(spark, sfDir), customerTbl, "c_custkey")
    // `merge` hint: at test SF the dim is broadcastable, which would hide
    // the property under test — bucketed SMJ must plan with NO exchange on
    // either join key (at 100 TB both sides are too big to broadcast)
    spark.table(ordersTbl).hint("merge")
      .join(spark.table(customerTbl),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** B1 — compound boolean predicate: isin / between / like / negation. */
  def filterComplexPred(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH", "5-LOW") &&
             (col("o_totalprice").between(50000.0, 150000.0) ||
              col("o_orderstatus") === "F") &&
             !col("o_orderpriority").like("5-%"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  /** B2 — 3-valued logic: NULLIF/COALESCE, null-skipping COUNT vs COUNT(*). */
  def filterNullSemantics(spark: SparkSession, sfDir: String): DataFrame = {
    val disc = nullif(col("l_discount"), lit(0.0))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_all"),
        count(disc).as("n_disc"),
        sum(when(disc.isNull, 1).otherwise(0)).as("n_zero_disc"),
        sum(coalesce(disc, lit(-1.0)).cast("decimal(18,2)"))
          .cast("double").as("disc_sum"))
      .orderBy(col("l_returnflag"))
  }

  // ───────────────────────────── joins (§2.C) ─────────────────────────────

  /** C1 — shuffled equi-join orders⋈customer, per-customer totals.
    * At 100 TB both sides are large → Spark picks SMJ/shuffled-hash on the
    * join key; the post-join groupBy reuses the same key so AQE can avoid a
    * second full shuffle.
    */
  def joinInnerEqui(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(Cols.dec2(col("o_totalprice"))).cast("double").as("total_spent"))
      .orderBy(col("c_custkey"))

  /** C2 — explicit broadcast of the small dim side (part): at 100 TB the
    * fact side never shuffles for this join.
    */
  def joinBroadcastDim(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        sum(Cols.revenue).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))

  // one rule-injected, broadcast-off clone per parent session (same
  // isolation pattern as bloomSessions below): extraOptimizations and the
  // broadcast threshold are session-level state
  private val rangeRuleSessions =
    scala.collection.concurrent.TrieMap.empty[SparkSession, SparkSession]

  /** C11 — KEY-LESS interval join rescued by a custom optimizer rule:
    * events joined to 2-day campaign windows on `lo <= ts_us <= hi` ONLY
    * (no equi key). Vanilla Spark must plan a cartesian /
    * broadcast-nested-loop — quadratic when both sides are fact-sized —
    * so [[graft.plans.BinnedRangeJoinRule]] (installed per-session via
    * `experimental.extraOptimizations`, broadcast disabled so the rescue
    * is real) rewrites it to a bin equi-join: intervals replicate to the
    * 6-hour bins they overlap, points hash to their bin, and the planner
    * picks a SortMergeJoin keyed on the bin (PlanSpec gate: no
    * BNLJ/cartesian in the executed plan).
    */
  def joinRangeBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = rangeRuleSessions.getOrElseUpdate(spark, {
      val c = spark.newSession()
      c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.experimental.extraOptimizations =
        c.experimental.extraOptimizations :+ graft.plans.BinnedRangeJoinRule
      c
    })
    val ev = Tables.events(s2, sfDir)
    val camp = ev.select(date_trunc("week", col("ts")).as("w")).distinct()
      .select(unix_micros(col("w")).as("lo_us"),
        (unix_micros(col("w")) + lit(2L * 24 * 3600 * 1000000)).as("hi_us"))
    ev.select(col("ts_us"), col("user_id"))
      .join(camp, col("ts_us") >= col("lo_us") && col("ts_us") <= col("hi_us"))
      .groupBy(col("lo_us").as("campaign_us"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("campaign_us"))
  }

  // one runtime-filter-conf'd clone per parent session (the same isolation
  // pattern as Streaming's state-v2 session): the thresholds are
  // session-level SQL confs, and mutating the caller's session would change
  // every later join's planning (ADVICE r2 conf-hygiene rule)
  private val bloomSessions =
    scala.collection.concurrent.TrieMap.empty[SparkSession, SparkSession]

  /** A9 — runtime bloom-filter join pruning: a fact⋈fact join where one side
    * carries a selective non-key predicate. Spark's InjectRuntimeFilter
    * rewrites the probe side to
    * `bloom_filter_might_contain(agg(bloom_filter_agg(o_orderkey)), l_orderkey)`
    * — the shuffle-join companion of DPP (A5): DPP prunes partitions of a
    * partitioned layout through a broadcast; the bloom filter prunes ROWS of
    * an unpartitioned fact before the shuffle. PlanSpec gates the rewrite in
    * the executed plan.
    *
    * 100 TB note: with a 2%-selective dim-like predicate on one fact, the
    * probe fact's shuffle shrinks ~50× for the cost of one small bloom
    * build — the standard saver when the filtered side is too big to
    * broadcast (which is exactly when DPP's broadcast path is off the
    * table). Thresholds here are lowered only because test-SF scans are
    * far below the 10 GiB production default.
    */
  def joinBloomPruned(spark: SparkSession, sfDir: String): DataFrame = {
    val s2 = bloomSessions.getOrElseUpdate(spark, {
      val c = spark.newSession()
      c.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // probe-side scans at test SF are MBs, not the 10 GiB default floor
      c.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // creation-side plan-size estimates are uncompressed; keep headroom
      c.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
      // force a shuffle join: with a broadcastable build side Spark
      // (rightly) skips the bloom — the hash table itself filters. At
      // 100 TB neither fact side broadcasts, which is the point.
      c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c
    })
    Tables.lineitem(s2, sfDir)
      .join(Tables.orders(s2, sfDir).where(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(Cols.revenue).cast("double").as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** C3 — TPC-H-Q5-shaped star join: region('ASIA')→nation→customer→
    * orders(1996)→lineitem, revenue per nation. Dim chain broadcasts;
    * the orders date filter is pushed to the parquet scan.
    */
  def joinMultiwayStar(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir).where(col("r_name") === "ASIA")
      .join(Tables.nation(spark, sfDir), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, sfDir)
          .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
                 col("o_orderdate") <  lit("1997-01-01").cast("timestamp_ntz")),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"))
      .agg(sum(Cols.revenue).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))

  /** C4 — left outer join: childless orders surface with NULL aggregates. */
  def joinLeftOuter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"))
      .agg(
        count(col("l_linenumber")).as("n_items"),
        coalesce(sum(Cols.dec2(col("l_quantity"))), lit(0))
          .cast("double").as("qty_sum"))
      .orderBy(col("o_orderkey"))

  /** C5 — full outer many-to-many on nationkey; both sides have unmatched
    * nations (FIXTURES §RI), so NULL keys appear on both sides.
    */
  def joinFullOuter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.supplier(spark, sfDir),
        col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(col("c_custkey"), col("s_suppkey"),
        col("c_nationkey"), col("s_nationkey"))
      .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("s_suppkey"))

  /** C6 — left semi (EXISTS): customers having at least one order. The
    * `o_custkey` side is deduplicated before the join: its column-pruned
    * scan estimates under the broadcast threshold even at sf1, so without
    * the distinct every order row would be broadcast, where now at most
    * one row per customer is.
    */
  def joinSemi(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** C7 — left anti (NOT EXISTS): orders with no lineitems (27 @ sf0.001). */
  def joinAnti(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))

  /** C10 — cross join of the two smallest dims with a computed label. */
  def joinCross(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir)
      .crossJoin(Tables.nation(spark, sfDir))
      .select(col("r_regionkey"), col("n_nationkey"),
        concat_ws("-", col("r_name"), col("n_name")).as("label"))
      .orderBy(col("r_regionkey"), col("n_nationkey"))

  /** C14 join_null_safe — null-safe equality join (`<=>` / IS NOT DISTINCT
    * FROM): NULL keys match each other instead of vanishing, the semantics
    * a dimension with an "unknown" bucket needs. Keys are nullified
    * deterministically (nation 3 → NULL) so the NULL group is real and its
    * pair count is the product of both sides' NULL populations. Catalyst
    * plans EqualNullSafe as a true equi-join key (coalesce-keyed hash
    * join), so this shuffles and scales exactly like C1 — no fallback to
    * a filtered cross product.
    */
  def joinNullSafe(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(nullif(col("c_nationkey"), lit(3)).as("ck"))
    val s = Tables.supplier(spark, sfDir)
      .select(nullif(col("s_nationkey"), lit(3)).as("sk"))
    c.join(s, col("ck") <=> col("sk"))
      .groupBy(col("ck").as("nation_key"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("nation_key"))
  }

  // ─────────────────────── sort / limit / top-k (§2.G) ───────────────────

  /** G1 — multi-key sort with explicit null placement. */
  def sortMultiNulls(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), nullif(col("o_orderstatus"), lit("P")).as("status_n"),
        col("o_totalprice"))
      .orderBy(asc_nulls_first("status_n"), desc("o_totalprice"), asc("o_orderkey"))

  /** G2 — global top-10: ORDER BY + LIMIT → TakeOrderedAndProject, which
    * at cluster scale does per-partition top-k then a single driver merge —
    * never a full sort of 100 TB.
    */
  def limitTopk(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)

  /** G3 — top-2 per group via ranking window (DuckDB QUALIFY twin). */
  def topkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** G3t — top-k WITH TIES (`rank() <= k`): every order tied at the cut
    * survives, so the result is a pure function of the data even when the
    * measure ties — the correctness-critical variant of G3 for measures
    * with few distinct values. Ranked on exact integer cents (double
    * equality at the cut would be representation-dependent). Plans as
    * WindowGroupLimit like G3: the rank bound prunes map-side.
    */
  def topkPerGroupTies(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(desc("cents"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        (Cols.dec2(col("o_totalprice")) * 100).cast("bigint").as("cents"))
      .withColumn("rk", rank().over(w))
      .where(col("rk") <= 3)
      .select(col("o_orderpriority"), col("rk"), col("o_orderkey"),
        (col("cents").cast("double") / 100).as("price_d"))
      .orderBy(col("o_orderpriority"), col("rk"), col("o_orderkey"))
  }

  /** A10 — Z-order (Morton curve) layout statistics: the curve position
    * interleaves l_partkey and l_suppkey bits via the codegen'd
    * [[graft.functions.ZOrder16]] expression; bucketing the curve
    * (z >> 24) shows the locality BOTH dimensions get — each bucket spans
    * a bounded range of partkeys AND suppkeys, which is exactly why
    * range-partitioning a 100 TB table by z-value lets parquet min/max
    * zone maps prune scans filtered on either key (the Delta/Iceberg
    * Z-ORDER layout trick). The oracle recomputes the interleave with
    * pure bit arithmetic — an independent check of the generated Java.
    */
  def layoutZorderStats(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"))
      .withColumn("z", zorder16(col("l_partkey") % 65536, col("l_suppkey") % 65536))
      .withColumn("bucket", shiftright(col("z"), 24))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
      .orderBy(col("bucket"))
  }

  /** D6 — RECURSIVE CTE (new in Spark 4): the monthly spine between the
    * first and last order month is generated by the recursion itself (no
    * driver-side collect, no `sequence` array), then left-joined to the
    * monthly revenue aggregate — recursion depth ≈ months spanned (~84),
    * inside Spark's default 100-level limit. Same SQL text runs on both
    * engines (shared like D1-D3). The recursion CARRIES its stop bound as
    * a column: a scalar subquery in the step predicate re-scans orders
    * once per iteration (measured 10 s → 1.2 s warm at sf0.1). Cost is
    * iterations × scheduler overhead — for a pure date spine prefer
    * `sequence()` (L11 gap-fill); D6 covers the recursive SQL surface.
    */
  def cteRecursive(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(graft.oracle.OracleSql.all("cte_recursive"))
  }

  /** G3v2 — identical semantics and oracle as topk_per_group, computed by
    * the custom mergeable [[graft.functions.TopKSketch]] aggregate instead
    * of a partitioned window. Benched at parity with the window form
    * (Spark 4's WindowGroupLimit already prunes rank-limits map-side — see
    * SCALE.md); the aggregate's value is composability: top-k inside an
    * ordinary groupBy, in ONE pass with any other aggregates, sort-free.
    * PlanSpec gates partial+final ObjectHashAggregate and the absence of
    * any window operator.
    */
  def topkPerGroupAgg(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("o_custkey"), col("t.key").as("o_orderkey"),
        col("t.score").as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** G4 — deterministic hash-bucket sampling: md5 of the key is bit-identical
    * cross-engine, so the ~10% sample (hex prefix 00..19 = 26/256) is exactly
    * reproducible — the property a training pipeline needs for stable
    * train/test splits. Contrast `TABLESAMPLE`/`df.sample`, whose RNG is
    * engine- and partitioning-dependent.
    *
    * 100 TB note: the predicate is a pure per-row function of the key — no
    * shuffle, fully parallel, and stable under repartitioning/backfills.
    */
  def sampleHashBucket(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .withColumn("bucket", substring(md5(col("o_orderkey").cast("string")), 1, 2))
      .where(col("bucket") <= "19")
      .select(col("o_orderkey"), col("bucket"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** G5 — stratified quota sampling: keep (up to) 30 documents per source,
    * chosen by md5 order of the key — the deterministic "random" quota a
    * data-mixing pipeline uses to rebalance sources. One hash shuffle on
    * the stratum; WindowGroupLimit prunes each stratum before the sort.
    */
  def sampleStratifiedQuota(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 30)
      .orderBy(col("source"), col("rk"))
  }

  /** G6 — weighted mixture sampling: every source gets a deterministic keep
    * probability (20/40/60/80% in sixteenths-of-256, derived from the source
    * name) and rows survive by comparing an md5 prefix of the row key
    * against the source's hex threshold — the data-mixing knob a training
    * pipeline turns to up/down-weight sources, with the same exact
    * reproducibility story as G4 (pure per-row predicate, engine- and
    * partitioning-independent, stable under backfills). Emits the per-source
    * audit: docs in, docs kept, realized ratio.
    */
  def sampleWeightedMix(spark: SparkSession, sfDir: String): DataFrame = {
    // thresholds are two-hex-char upper bounds on md5's first byte:
    // '32'→20%, '66'→40%, '99'→60%, 'cc'→80% of the 256 byte values
    val thr = when(length(col("source")) % 4 === 0, lit("32"))
      .when(length(col("source")) % 4 === 1, lit("66"))
      .when(length(col("source")) % 4 === 2, lit("99"))
      .otherwise(lit("cc"))
    val h2 = substring(md5(concat(lit("mix|"), col("doc_id").cast("string"))), 1, 2)
    Tables.documents(spark, sfDir)
      .withColumn("thr", thr)
      .withColumn("kept", (h2 <= col("thr")).cast("int"))
      .groupBy(col("source"), col("thr"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        round(sum(col("kept")).cast("double") / count(lit(1)), 4).as("kept_ratio"))
      .orderBy(col("source"))
  }

  // ───────────────────────── set operations (§2.H) ────────────────────────

  /** H1 — UNION ALL (multiset) and UNION DISTINCT arms, tagged. */
  def setUnionAllDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))
    val s = Tables.supplier(spark, sfDir).select(col("s_nationkey").as("nationkey"))
    val allArm = c.unionAll(s).select(lit("all").as("tag"), col("nationkey"))
    val distArm = c.union(s).distinct().select(lit("dist").as("tag"), col("nationkey"))
    allArm.unionAll(distArm).orderBy(col("tag"), col("nationkey"))
  }

  /** H2 — INTERSECT (distinct): nations with both customers and suppliers. */
  def setIntersect(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))
      .intersect(
        Tables.supplier(spark, sfDir).select(col("s_nationkey").as("nationkey")))
      .orderBy(col("nationkey"))

  /** H3 — EXCEPT ALL / INTERSECT ALL multiset semantics, tagged arms. */
  def setExceptAll(spark: SparkSession, sfDir: String): DataFrame = {
    def base(s: SparkSession) = Tables.lineitem(s, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"))
    val a = base(spark)
    val b = Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") > 25)
      .select(col("l_orderkey"), col("l_linenumber"))
    a.exceptAll(b).select(lit("except").as("tag"), col("l_orderkey"), col("l_linenumber"))
      .unionAll(
        a.intersectAll(b).select(lit("intersect").as("tag"), col("l_orderkey"), col("l_linenumber")))
      .orderBy(col("tag"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Skew-mitigated join via explicit salting: ~70% of left rows share one
    * hot key; the left side carries a deterministic salt and the right side
    * is replicated once per salt value, so the hot key fans out over S
    * reducers instead of one. Result is row-identical to the unsalted join
    * (the oracle runs the plain join).
    *
    * 100 TB note: AQE's skew-join split handles this automatically for
    * sort-merge joins; explicit salting remains the tool for stream-stream
    * joins and aggregation skew where AQE can't re-plan.
    */
  def joinSkewSalted(spark: SparkSession, sfDir: String): DataFrame = {
    val S = 8
    val left = Tables.lineitem(spark, sfDir).select(
      when(col("l_linenumber") <= 5, 0L).otherwise(col("l_orderkey") % 50)
        .as("skew_key"),
      col("l_quantity"),
      (col("l_orderkey") % S).cast("int").as("salt"))
    val right = Tables.part(spark, sfDir)
      .where(col("p_partkey") < 50)
      .select(col("p_partkey").as("skew_key"), col("p_retailprice"))
      .withColumn("salt", explode(array((0 until S).map(lit): _*)))
    left.join(right, Seq("skew_key", "salt"))
      .groupBy(col("skew_key"))
      .agg(count(lit(1)).as("n"),
        sum(Cols.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        max(col("p_retailprice")).as("dim_price"))
      .orderBy(col("skew_key"))
  }

  /** D4 — parameter sweep → best params (the reference's calibration
    * shape, SURVEY §1.2): broadcast a small param grid against the fact
    * table, score every (param, row) pair in one pass, aggregate per
    * param, rank. The per-row error |l_quantity − 25 − p| is
    * integer-valued, so the double sum is order-independent (exact).
    *
    * 100 TB note: grid×facts is a broadcast nested-loop over a ≤7-row
    * grid — one fact scan for the whole sweep, no shuffle until the
    * 7-group aggregate.
    */
  def paramSweepArgmin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = Tables.lineitem(spark, sfDir)
      .select(col("l_linenumber").as("p")).distinct()
    Tables.lineitem(spark, sfDir)
      .select(col("l_quantity"))
      .crossJoin(broadcast(grid))
      .groupBy(col("p"))
      .agg(sum(abs(col("l_quantity") - 25 - col("p"))).as("total_err"),
        count(lit(1)).as("n"))
      .withColumn("rank_err",
        row_number().over(Window.orderBy(col("total_err"), col("p"))))
      .orderBy(col("rank_err"))
  }

  /** D5 param_sweep_de_step (round 16, VERDICT r15 #4) — ONE generation
    * of differential evolution (DE/rand/1/bin), the reference's
    * calibration family beyond D4's grid (SURVEY §1.1 recalls grid +
    * differential evolution + SAES minimizing the corpus score):
    *
    *   - population: NP=12 members over the 2-D integer box a∈[1,50],
    *     b∈[0,10], lattice-initialized (a=(7i+3)%50+1, b=(3i+1)%11 —
    *     DE calibration conventionally starts from a space-filling
    *     lattice; no RNG needed at init)
    *   - donors r1,r2,r3 per member: rank the other 11 members by
    *     md5('de|r|i|j') — the M70/M120 SEEDED-choice idiom, so the
    *     "random" generation is replayable from the member id alone and
    *     both engines derive identical digests
    *   - mutant v = clamp(x_r1 + (x_r2 − x_r3)) with F=1 (integral — no
    *     division, so no truncate-vs-floor cross-engine hazard)
    *   - binomial crossover CR=0.75 per dimension via a hex-digit
    *     threshold (first md5 char < 'c' ⇔ 12/16), with the forced
    *     dimension j_rand = i mod 2 (classic DE: the trial always takes
    *     ≥ 1 mutant coordinate)
    *   - selection: score parent AND trial against the corpus in ONE
    *     broadcast fact pass — err(a,b) = Σ |qty−a| + |100·disc−b|, all
    *     exact integers — and keep the trial iff strictly better.
    *
    * Output: one row per member with parent, trial, both corpus scores,
    * the selected next-generation member, and the improved flag.
    *
    * 100 TB: the population relations are ≤ NP² rows of driver-free
    * tiny-relation algebra; the ONLY corpus-sized work is one broadcast
    * nested-loop scan scoring all 2·NP candidates map-side into NP
    * groups — the D4 sweep shape, so a full DE run is generations ×
    * (one fact scan), embarrassingly parallel in the corpus. The
    * Round16Spec pins the whole generation against a sequential
    * reference implementation.
    */
  def paramSweepDeStep(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val NP = 12
    val pop = spark.range(0, NP, 1, 1).select(col("id").as("i"),
      ((col("id") * 7 + 3) % 50 + 1).as("a"),
      ((col("id") * 3 + 1) % 11).as("b"))
    val donors = pop.select(col("i"), col("a"), col("b"))
      .crossJoin(pop.select(col("i").as("j"), col("a").as("ja"), col("b").as("jb")))
      .where(col("j") =!= col("i"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("i"))
        .orderBy(md5(concat(lit("de|r|"), col("i").cast("string"),
          lit("|"), col("j").cast("string"))), col("j"))))
      .where(col("rk") <= 3)
    val mut = donors.groupBy(col("i")).agg(
      greatest(lit(1L), least(lit(50L),
        max(when(col("rk") === 1, col("ja"))) + max(when(col("rk") === 2, col("ja")))
          - max(when(col("rk") === 3, col("ja"))))).as("va"),
      greatest(lit(0L), least(lit(10L),
        max(when(col("rk") === 1, col("jb"))) + max(when(col("rk") === 2, col("jb")))
          - max(when(col("rk") === 3, col("jb"))))).as("vb"))
    val tr = pop.join(mut, Seq("i"))
      .select(col("i"), col("a"), col("b"),
        when(col("i") % 2 === 0 ||
          substring(md5(concat(lit("de|cx|"), col("i").cast("string"), lit("|a"))), 1, 1) < "c",
          col("va")).otherwise(col("a")).as("ta"),
        when(col("i") % 2 === 1 ||
          substring(md5(concat(lit("de|cx|"), col("i").cast("string"), lit("|b"))), 1, 1) < "c",
          col("vb")).otherwise(col("b")).as("tb"))
    val facts = Tables.lineitem(spark, sfDir).select(
      col("l_quantity").cast("long").as("qty"),
      (col("l_discount") * 100).cast("long").as("d100"))
    val sc = facts.crossJoin(broadcast(tr))
      .groupBy(col("i"))
      .agg(sum(abs(col("qty") - col("a")) + abs(col("d100") - col("b"))).as("parent_err"),
        sum(abs(col("qty") - col("ta")) + abs(col("d100") - col("tb"))).as("trial_err"))
    tr.join(sc, Seq("i"))
      .select(col("i"), col("a"), col("b"),
        col("ta").as("trial_a"), col("tb").as("trial_b"),
        col("parent_err"), col("trial_err"),
        when(col("trial_err") < col("parent_err"), col("ta")).otherwise(col("a")).as("sel_a"),
        when(col("trial_err") < col("parent_err"), col("tb")).otherwise(col("b")).as("sel_b"),
        (col("trial_err") < col("parent_err")).as("improved"))
      .orderBy(col("i"))
  }

  /** D6 param_sweep_saes_step (round 16) — one (μ+λ) SELF-ADAPTIVE
    * evolution-strategy generation, completing the reference's recalled
    * calibration triple (SURVEY §1.1: grid [D4] + differential evolution
    * [D5] + SAES): each individual carries its own step sizes (σa, σb)
    * that mutate WITH it — the self-adaptation that lets an ES anneal
    * from coarse to fine search with no external schedule.
    *
    * Integer-exact discretization (everything portable, no floats):
    *   - μ=4 parents on a lattice with σ ∈ {1,2,4,8}
    *   - λ=16 offspring, parent j%4; σ' = σ·2 or σ div 2 (clamped to
    *     [1,16]) by a seeded md5 bit — the discrete two-point
    *     self-adaptation rule (Rechenberg) — and x' = clamp(x + s·σ')
    *     with step s ∈ {−2..2} from a seeded hex digit
    *     (instr('0123456789abcdef', ch) − 1, identical on both engines)
    *   - (μ+λ) selection: parents and offspring scored in ONE broadcast
    *     corpus pass (the D4/D5 shape), top-μ by (err, candidate id)
    *
    * Output: the selected next generation with inherited step sizes and
    * scores, plus each survivor's origin. 100 TB: ≤ 20 candidate rows
    * broadcast against one fact scan; everything else is tiny-relation
    * algebra. Seeded like D5 — replayable from ids alone.
    */
  def paramSweepSaesStep(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // μ=4 parents: candidate ids 0..3, lattice positions, σ = 2^i
    val parents = spark.range(0, 4, 1, 1).select(col("id").as("cid"),
      col("id").as("origin"),
      ((col("id") * 11 + 7) % 50 + 1).as("a"),
      ((col("id") * 5 + 2) % 11).as("b"),
      expr("CAST(shiftleft(1L, CAST(id AS INT)) AS BIGINT)").as("sa"),
      expr("CAST(shiftleft(1L, CAST((id + 2) % 4 AS INT)) AS BIGINT)").as("sb"))
    // λ=16 offspring: cid 4..19, parent j % 4; seeded σ and step digits
    val off = spark.range(0, 16, 1, 1).select(col("id").as("j"))
      .join(parents.select(col("cid").as("p"), col("a").as("pa"), col("b").as("pb"),
        col("sa").as("psa"), col("sb").as("psb")), col("j") % 4 === col("p"))
      .withColumn("sa", greatest(lit(1L), least(lit(16L),
        when(hexDigit("saes|sig|", "j", "a") % 2 === 0,
          col("psa") * 2).otherwise(expr("psa div 2")))))
      .withColumn("sb", greatest(lit(1L), least(lit(16L),
        when(hexDigit("saes|sig|", "j", "b") % 2 === 0,
          col("psb") * 2).otherwise(expr("psb div 2")))))
      .select((col("j") + 4).as("cid"), col("p").as("origin"),
        greatest(lit(1L), least(lit(50L),
          col("pa") + (hexDigit("saes|x|", "j", "a") % 5 - 2) * col("sa"))).as("a"),
        greatest(lit(0L), least(lit(10L),
          col("pb") + (hexDigit("saes|x|", "j", "b") % 5 - 2) * col("sb"))).as("b"),
        col("sa"), col("sb"))
    val cands = parents.unionByName(off)
    val facts = Tables.lineitem(spark, sfDir).select(
      col("l_quantity").cast("long").as("qty"),
      (col("l_discount") * 100).cast("long").as("d100"))
    val scored = facts.crossJoin(broadcast(cands))
      .groupBy(col("cid"), col("origin"), col("a"), col("b"), col("sa"), col("sb"))
      .agg(sum(abs(col("qty") - col("a")) + abs(col("d100") - col("b"))).as("err"))
    scored
      .withColumn("rank", row_number().over(Window.orderBy(col("err"), col("cid"))))
      .where(col("rank") <= 4)
      .select(col("rank"), col("cid"), col("origin"), col("a"), col("b"),
        col("sa").as("sigma_a"), col("sb").as("sigma_b"), col("err"),
        (col("cid") >= 4).as("is_offspring"))
      .orderBy(col("rank"))
  }

  /** Seeded hex digit in 0..15: position of md5(prefix<j>|dim)'s first
    * hex char in '0123456789abcdef' — identical digests and identical
    * instr semantics on both engines (the D5/M70 idiom, digit-valued).
    * SQL-expr form because `functions.instr` only takes a literal needle.
    */
  private def hexDigit(prefix: String, jCol: String, dim: String): Column =
    expr(s"instr('0123456789abcdef', substring(md5(concat('$prefix', " +
      s"CAST($jCol AS STRING), '|$dim')), 1, 1)) - 1")

  /** H4 — unpivot/melt: the 4 lineitem measure columns become
    * (measure, value) rows — the wide→long reshape every feature pipeline
    * needs. Spark's native `unpivot` (Expand-based: one pass, no join);
    * the oracle is the portable UNION ALL form.
    */
  def unpivotMeasures(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  /** J11 — explode_outer: rows whose array is empty survive with NULL —
    * the outer-generator semantics a filter-then-flatten pipeline needs so
    * empty docs aren't silently dropped.
    */
  def explodeOuterTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .where(col("doc_id") < 40)
      .select(col("doc_id"),
        explode_outer(expr("filter(split(text, ' '), x -> length(x) > 8)"))
          .as("long_tok"))
      .orderBy(col("doc_id"), asc_nulls_first("long_tok"))

  /** I8 — map-typed column surface: construct, keys/values (serialized —
    * the driver comparator can't hash map cells), scalar extraction,
    * cardinality. MapType is the schema shape for open metadata columns
    * (multimodal sidecars, feature bags).
    */
  def fnMapSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        map(lit("brand"), col("p_brand"), lit("type"), col("p_type")).as("m"))
      .select(
        col("p_partkey"),
        array_join(map_keys(col("m")), ",").as("keys_csv"),
        array_join(map_values(col("m")), ",").as("vals_csv"),
        element_at(col("m"), "brand").as("brand_val"),
        size(col("m")).as("n_entries"))
      .orderBy(col("p_partkey"))

  // ──────────────────── subqueries / CTE via SQL (§2.D) ───────────────────
  // The SQL text is shared verbatim with the DuckDB oracle (OracleSql), so
  // Catalyst's decorrelation (RewriteCorrelatedScalarSubquery) is exercised
  // on exactly the query the oracle runs.

  private def sqlQuery(name: String)(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.registerAll(spark, sfDir)
    spark.sql(graft.oracle.OracleSql.all(name))
  }

  /** D1 — uncorrelated scalar subquery (threshold = global decimal mean). */
  def subqueryScalarUncorr(spark: SparkSession, sfDir: String): DataFrame =
    sqlQuery("subquery_scalar_uncorr")(spark, sfDir)

  /** D2 — correlated scalar subquery, decorrelated by Catalyst. */
  def subqueryCorrelated(spark: SparkSession, sfDir: String): DataFrame =
    sqlQuery("subquery_correlated")(spark, sfDir)

  /** agg_bool — boolean aggregates (bool_and / bool_or); shared text. */
  def aggBool(spark: SparkSession, sfDir: String): DataFrame =
    sqlQuery("agg_bool")(spark, sfDir)

  /** fn_try_cast — failure-safe casts (TRY_CAST → NULL); shared text. */
  def fnTryCast(spark: SparkSession, sfDir: String): DataFrame =
    sqlQuery("fn_try_cast")(spark, sfDir)

  /** agg_filter_clause — SQL FILTER (WHERE …) conditional aggregation;
    * text shared verbatim with the oracle.
    */
  def aggFilterClause(spark: SparkSession, sfDir: String): DataFrame =
    sqlQuery("agg_filter_clause")(spark, sfDir)

  /** subquery_in — IN / NOT IN subqueries (keys are non-null, so 3-valued
    * NOT IN semantics are safe); text shared verbatim with the oracle.
    */
  def subqueryIn(spark: SparkSession, sfDir: String): DataFrame =
    sqlQuery("subquery_in")(spark, sfDir)

  /** E18 — GROUP BY ALL / ORDER BY ALL (the DuckDB-pioneered shorthand,
    * in Spark since 3.4/4.0): grouping keys inferred from the
    * non-aggregate select items, ordering over all output columns —
    * verified to resolve identically on both engines; shared text.
    */
  def aggGroupByAll(spark: SparkSession, sfDir: String): DataFrame =
    sqlQuery("agg_group_by_all")(spark, sfDir)

  /** D7 — correlated EXISTS / NOT EXISTS pair: customers WITH orders but
    * NONE above the threshold — Catalyst plans the pair as one semi plus
    * one anti join, both keyed on the customer key; text shared verbatim
    * with the oracle.
    */
  def subqueryNotExists(spark: SparkSession, sfDir: String): DataFrame =
    sqlQuery("subquery_not_exists")(spark, sfDir)

  /** D5 — LATERAL correlated subquery with per-outer-row ORDER BY + LIMIT
    * (top-2 customers per nation): Catalyst decorrelates it into a ranked
    * join rather than executing per-row; text shared verbatim with the
    * oracle.
    */
  def joinLateralTopn(spark: SparkSession, sfDir: String): DataFrame =
    sqlQuery("join_lateral_topn")(spark, sfDir)

  /** C12 join_interval_overlap — interval×interval OVERLAP join (the
    * missing sibling of C8's point-in-range and C11's binned
    * point-in-interval): per user, every 30-minute view-activity interval
    * paired with every 10-minute error-outage interval it overlaps, with
    * the overlap length. The user_id equi-key carries the join (one
    * hash-partitioned SortMergeJoin); the interval predicate
    * `v_lo < e_hi AND e_lo < v_hi` is the residual filter — no
    * nested-loop, no bin replication needed when a natural key exists.
    * All integer-µs arithmetic: exact on both engines.
    */
  def joinIntervalOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("v_id"),
        col("ts_us").as("v_lo"), (col("ts_us") + 1800000000L).as("v_hi"))
    val errs = ev.where(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("e_id"),
        col("ts_us").as("e_lo"), (col("ts_us") + 600000000L).as("e_hi"))
    views.join(errs, Seq("user_id"))
      .where(col("v_lo") < col("e_hi") && col("e_lo") < col("v_hi"))
      .select(col("user_id"), col("v_id"), col("e_id"),
        (least(col("v_hi"), col("e_hi")) - greatest(col("v_lo"), col("e_lo")))
          .as("overlap_us"))
      .orderBy(col("user_id"), col("v_id"), col("e_id"))
  }

  /** D3 — CTE referenced twice (TPC-H Q15 shape). Spark inlines CTEs, so
    * the naive SQL scans lineitem twice; here the per-supplier aggregate is
    * computed once and the global MAX is attached via a window over that
    * already-tiny relation (≤ #suppliers rows — dimension-sized even at
    * 100 TB), so the fact table is read exactly once and nothing is
    * persisted. Result is identical to the oracle's WITH-form.
    */
  def cteReuse(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_suppkey"))
      .agg(sum(Cols.revenue).cast("decimal(18,4)").as("total_rev"))
      .withColumn("mx", max(col("total_rev")).over(Window.partitionBy()))
      .where(col("total_rev") === col("mx"))
    Tables.supplier(spark, sfDir)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** M79 pipeline_compaction_plan — the small-file compaction planner
    * every lake table needs: from a file manifest (simulated here by
    * chunking documents into 20-doc files with byte sizes from n_chars),
    * assign files in manifest order to target-sized compaction bins by
    * next-fit on the exclusive running byte total (`bin = cum_before div
    * target`), and emit per bin its file count, byte mass, id range, and
    * fill in basis points (exact integer, no float division). This is the
    * plan an OPTIMIZE/compaction job executes; bins near 10000 bp waste
    * nothing, chronic <5000 bp bins mean the target is mis-sized.
    *
    * 100 TB: the manifest is metadata (~1 row per file, millions of rows,
    * not data-sized); the running sum is GlobalRank's two-pass
    * range-partitioned prefix sum — never a single-partition window —
    * and the bin collapse is one keyed aggregate.
    */
  def compactionPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val target = 16384L
    val manifest = Tables.documents(spark, sfDir)
      .groupBy(expr("CAST(doc_id div 20 AS BIGINT)").as("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    GlobalRank.withGlobalRunningSum(manifest, 16, col("bytes"), col("file_id"))
      .withColumn("bin", expr(s"CAST(cum_before div ${target}L AS BIGINT)"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
        min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
      .withColumn("fill_bp", expr(s"CAST(total_bytes * 10000 div ${target}L AS BIGINT)"))
      .orderBy(col("bin"))
  }

  /** A13 layout_zone_map_prune (round 13) — zone-map file skipping
    * QUANTIFIED, the scan-pruning decision `layout_zorder_stats`
    * (clustering quality) and `pipeline_compaction_plan` (file sizing)
    * feed: simulate the orders fact written as 64 files under two layouts —
    * `arrival` (hash-scattered, file = o_orderkey % 64: every file's
    * min/max date spans the table, zone maps prune nothing) vs `clustered`
    * (equal-depth date order, the one-time sort a lake table buys with a
    * clustered write) — record each file's (min, max) date zone map, and
    * evaluate a one-year predicate against the maps. Output per layout:
    * files pruned, rows scanned vs rows matching, and the scan
    * amplification a reader pays. The measured gap (≈6.6× vs ≈1.03× at
    * every SF) is the number that justifies clustering a 100 TB fact.
    *
    * 100 TB: the clustered file id comes from [[GlobalRank]]'s two-pass
    * range-partitioned rank (never a single-partition window); zone maps
    * are one keyed aggregate per layout (64-row outputs); at lake scale
    * the min/max maps are free — parquet footers / manifest stats — and
    * this op is the planner arithmetic a table-format reader runs before
    * touching data.
    */
  def layoutZoneMapPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate"))
    val lo = lit("1995-01-01 00:00:00").cast("timestamp")
    val hi = lit("1995-12-31 23:59:59").cast("timestamp")
    val arrival = o
      .select((col("o_orderkey") % 64).as("file_id"), col("o_orderdate"))
      .withColumn("layout", lit("arrival"))
    val clustered = GlobalRank.withGlobalRowNumber(
        o, 32, col("o_orderdate"), col("o_orderkey"))
      .select(expr("CAST((rn - 1) * 64 DIV n_total AS BIGINT)").as("file_id"),
        col("o_orderdate"))
      .withColumn("layout", lit("clustered"))
    val zones = arrival.unionByName(clustered)
      .groupBy(col("layout"), col("file_id"))
      .agg(min(col("o_orderdate")).as("mn"), max(col("o_orderdate")).as("mx"),
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderdate").between(lo, hi), 1L).otherwise(0L)).as("n_match"))
      .withColumn("pruned", col("mx") < lo || col("mn") > hi)
    zones.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"),
        sum(col("n_rows")).as("rows_total"),
        sum(when(col("pruned"), 0L).otherwise(col("n_rows"))).as("rows_scanned"),
        sum(col("n_match")).as("rows_matching"))
      .select(col("layout"), col("n_files"), col("n_pruned"), col("rows_total"),
        col("rows_scanned"), col("rows_matching"),
        (round(col("rows_scanned").cast("double") /
          when(col("rows_matching") === 0, lit(null)).otherwise(col("rows_matching")), 4)
          + lit(0.0)).as("scan_amplification"))
      .orderBy(col("layout"))
  }
}
