package graft.ops

import graft.Tables
import graft.functions.logistic
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}

/** Scalar functions (SURVEY §2.I) + UDF/UDAF surface (§2.K).
  *
  * All of §2.I uses built-in `functions._` — codegen'd, no UDF in the hot
  * path. Engine-semantics deltas (dayofweek base, floor return type, % sign)
  * are normalized here or in the oracle SQL, never left implicit.
  */
object Scalars {

  /** I1 — string function suite over part. */
  def fnStringSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        substring(col("p_name"), 1, 5).as("sub5"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
        lpad(col("p_brand"), 10, "*").as("lpadded"),
        concat_ws("/", col("p_name"), col("p_type")).as("joined"),
        expr("replace(p_name, 'a', '@')").as("replaced"),
        length(col("p_name")).as("len"),
        size(split(col("p_name"), " ")).as("n_words"),
        regexp_extract(col("p_brand"), "(\\d+)", 1).as("brand_num"),
        translate(col("p_type"), "AEIOU", "aeiou").as("translated"))
      .orderBy(col("p_partkey"))

  /** I1b — second string suite: regex replace, field splitting, substring
    * position, edge slices, repetition, reversal, affix predicates — the
    * remainder of the string surface a migrating user would reach for.
    */
  def fnStringSuite2(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        col("p_partkey"),
        regexp_replace(col("p_brand"), "[0-9]+", "N").as("brand_norm"),
        expr("split_part(p_type, ' ', 2)").as("type_mid"),
        instr(col("p_name"), "a").cast("int").as("pos_a"),
        expr("left(p_name, 3)").as("head3"),
        expr("right(p_name, 3)").as("tail3"),
        repeat(lit("*"), (col("p_partkey") % 3 + 1).cast("int")).as("stars"),
        reverse(col("p_brand")).as("brand_rev"),
        col("p_name").startsWith("part").as("is_part"),
        col("p_type").endsWith("steel").as("is_steel"),
        col("p_name").contains("0").as("has_zero"))
      .orderBy(col("p_partkey"))

  /** I2 — datetime suite over orders. Spark dayofweek is Sun=1; the oracle
    * adds +1 to DuckDB's Sun=0 (SURVEY §5.3.6).
    */
  def fnDateSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"), col("o_orderdate"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("plus30"),
        datediff(lit("2000-01-01").cast("date"), col("o_orderdate")).as("days_to_2000"),
        dayofweek(col("o_orderdate")).as("dow"))
      .orderBy(col("o_orderkey"))

  /** fn_date_extra — calendar arithmetic: add_months (end-of-month
    * clamping), last_day, quarter truncation, epoch extraction.
    *
    * DATE intermediates are cast to TIMESTAMP_NTZ on the wire (the driver's
    * oracle path coerces DATE to datetime — date32 output would hash-fail),
    * and epoch seconds are computed timezone-independently from the NTZ
    * parts (unix_timestamp would silently depend on the session zone).
    */
  def fnDateExtra(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        add_months(col("o_orderdate"), 3).cast("timestamp_ntz").as("plus3m"),
        last_day(col("o_orderdate")).cast("timestamp_ntz").as("month_end"),
        date_trunc("quarter", col("o_orderdate")).as("quarter_start"),
        (datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("bigint") * 86400L +
          hour(col("o_orderdate")) * 3600L +
          minute(col("o_orderdate")) * 60L +
          second(col("o_orderdate"))).as("epoch_s"))
      .orderBy(col("o_orderkey"))

  /** arr_transform_suite — array manipulation beyond reductions: sort,
    * reverse, position, containment, flatten, ranges. Array-typed results
    * are serialized to CSV strings on the wire: the driver's comparator
    * cannot hash array cells (VERDICT r1 — unhashable ndarray).
    */
  def arrTransformSuite(spark: SparkSession, sfDir: String): DataFrame = {
    def csv(c: Column): Column =
      array_join(transform(c, x => x.cast("string")), ",")
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lns_arr"))
      .select(
        col("l_orderkey"),
        csv(col("lns_arr")).as("lns"),
        csv(reverse(col("lns_arr"))).as("lns_desc"),
        array_position(col("lns_arr"), 1).cast("int").as("pos_of_1"),
        array_contains(col("lns_arr"), 3).as("has_3"),
        csv(flatten(array(col("lns_arr"), col("lns_arr")))).as("doubled"),
        csv(sequence(lit(1), size(col("lns_arr")))).as("idx"))
      .orderBy(col("l_orderkey"))
  }

  /** I3 — math suite. floor/ceil normalized to BIGINT on both engines;
    * % kept to same-sign operands so truncated vs floored mod agree.
    */
  def fnMathSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_p"),
        round(log(col("l_extendedprice")), 6).as("ln_p"),
        round(log10(col("l_extendedprice")), 6).as("log10_p"),
        round(pow(col("l_quantity"), 2), 6).as("qty_sq"),
        floor(col("l_extendedprice")).as("floor_p"),
        ceil(col("l_extendedprice")).as("ceil_p"),
        round(abs(col("l_discount") - lit(0.05)), 6).as("abs_d"),
        (col("l_quantity") % 7).as("qty_mod7"),
        signum(col("l_discount") - lit(0.05)).as("sgn"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** I4 — CASE WHEN tiers + coalesce/nullif/greatest/least. */
  def fnConditional(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high").as("tier"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("X")).as("status_x"),
        greatest(col("o_totalprice"), lit(100000.0)).as("gmax"),
        least(col("o_totalprice"), lit(100000.0)).as("lmin"))
      .orderBy(col("o_orderkey"))

  /** I5 — cast matrix: double→decimal, int→string, trim-cast string→int,
    * decimal add/multiply (division avoided: precision rules differ). The
    * decimal results are cast back to DOUBLE for the wire (internal math
    * stays exact decimal; the driver's oracle path float-coerces DECIMAL).
    */
  def fnCastDecimal(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(12,2)").cast("double").as("price_dec"),
        col("o_custkey").cast("string").as("cust_str"),
        trim(lit("  42 ")).cast("int").as("answer"),
        (Cols.dec2(col("o_totalprice")) * lit(2).cast("decimal(3,0)"))
          .cast("decimal(18,2)").cast("double").as("doubled"),
        (Cols.dec2(col("o_totalprice")) + Cols.dec2(col("o_totalprice")))
          .cast("decimal(18,2)").cast("double").as("summed"))
      .orderBy(col("o_orderkey"))

  /** I9 — bitwise suite: AND/OR/XOR, shifts, popcount over the integer
    * keys. Note DuckDB's `^` is exponentiation — its oracle uses `xor()`;
    * everything else is operator-identical across engines.
    */
  def fnBitwiseSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_orderkey").bitwiseAND(lit(255L))).as("b_and"),
        (col("l_orderkey").bitwiseOR(lit(4096L))).as("b_or"),
        (col("l_orderkey").bitwiseXOR(col("l_linenumber").cast("bigint"))).as("b_xor"),
        shiftleft(col("l_linenumber"), 3).cast("bigint").as("b_shl"),
        shiftright(col("l_orderkey"), 2).as("b_shr"),
        bit_count(col("l_orderkey")).cast("bigint").as("b_pop"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** I10 — regexp suite: extract (whole + group), replace-all, match
    * count, boolean match. Patterns stay in the Java∩RE2 common subset
    * (character classes, quantifiers, one capture group — no lookaround,
    * no backrefs) so Spark's java.util.regex and DuckDB's RE2 agree;
    * match counting goes through `regexp_extract_all` length because
    * replace-all flags differ across engines. No-match extract is ''
    * in both. Pure per-row codegen'd work — no shuffle but the
    * presentation sort.
    */
  def fnRegexpSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "[0-9]+", 0).as("first_num"),
        regexp_extract(col("text"), "([a-z]+)ing\\b", 1).as("ing_stem"),
        regexp_replace(col("text"), "[0-9]+", "#").as("nums_masked"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_nums"),
        size(expr("regexp_extract_all(text, '\\\\b[a-z]{7,}\\\\b', 0)")).as("n_long_words"),
        col("text").rlike("[aeiou]{3}").as("has_triple_vowel"))
      .orderBy(col("doc_id"))

  /** I6 — hashing: md5 + sha2-256 hex digests of document text. */
  def fnHashMd5(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("h_md5"),
        sha2(col("text").cast("binary"), 256).as("h_sha256"))
      .withColumn("prefix", substring(col("h_md5"), 1, 2))
      .orderBy(col("doc_id"))

  /** I7 — JSON extraction + bucketed aggregation over `props`. */
  def fnJsonSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy((col("k") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("bucket"))

  /** I14 fn_variant_suite — the VARIANT semi-structured type (new in Spark
    * 4.0): each event's fields assemble into one JSON document, parse_json
    * turns it into a variant, and typed variant_get paths extract them
    * back. Every extraction must round-trip losslessly (ints exactly,
    * doubles via shortest-repr parse), a missing path must yield NULL (not
    * error), and schema_of_variant must report the stable object shape.
    * The oracle recomputes from the base columns directly — the strongest
    * possible check that variant encode/decode is the identity.
    *
    * 100 TB note: VARIANT's binary encoding replaces per-query JSON
    * re-parsing (A3/I8's get_json_object re-tokenizes the string on every
    * access) with parse-once storage and O(1) typed field access — the
    * semi-structured-props pattern every event lake carries.
    */
  def fnVariantSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .where(col("event_id") < 1000)
      .select(col("event_id"), col("event_type"), col("value"), col("props"))
      .withColumn("doc",
        concat(lit("""{"meta":{"type":""""), col("event_type"),
          lit(""""},"k":"""), get_json_object(col("props"), "$.k"),
          lit(""","value":"""), col("value").cast("string"), lit("}")))
      .withColumn("v", parse_json(col("doc")))
      .select(
        col("event_id"),
        expr("variant_get(v, '$.meta.type', 'string')").as("type_str"),
        expr("variant_get(v, '$.k', 'int')").as("k"),
        expr("variant_get(v, '$.value', 'double')").as("v_double"),
        expr("variant_get(v, '$.missing', 'string')").isNull.as("missing_is_null"),
        // schema on the $.meta SUBOBJECT: the top-level schema is per-row
        // unstable by design (parse_json types "185.22" as DECIMAL(5,2)
        // but "9.64" as DECIMAL(3,2)); the meta shape is fixed
        expr("schema_of_variant(variant_get(v, '$.meta'))").as("meta_schema"))
      .orderBy(col("event_id"))

  /** I15 fn_json_suite2 — the schema-full half of the JSON surface that
    * I8/fn_json_suite's get_json_object doesn't cover: `from_json` with an
    * explicit schema (the 100 TB path — one tokenize into a typed struct,
    * then columnar field access; string re-probing per field is the
    * anti-pattern), `json_tuple` (the multi-field string extractor),
    * `to_json` re-serialization (proven value-lossless via the oracle
    * rebuilding the same canonical form), and `schema_of_json` inference
    * on a literal sample (inference over a 100 TB column would be a full
    * extra scan — sample-then-pin is the production move).
    */
  def fnJsonSuite2(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .where(col("event_id") < 1000)
      .select(
        col("event_id"),
        from_json(col("props"), lit("k INT")).getField("k").as("k_struct"),
        json_tuple(col("props"), "k"),
        to_json(from_json(col("props"), lit("k INT"))).as("roundtrip"),
        schema_of_json(lit("""{"k": 87}""")).as("inferred"))
      .withColumnRenamed("c0", "k_tuple_raw")
      .select(col("event_id"), col("k_struct"),
        col("k_tuple_raw").cast("int").as("k_tuple"),
        col("roundtrip"), col("inferred"))
      .orderBy(col("event_id"))

  /** I16 fn_collation_suite — Spark 4 string collations: orders statuses
    * are case-mangled per row parity, then grouped under UTF8_LCASE so
    * 'F' and 'f' land in one group. The grouped key's surface form is
    * engine-chosen (either representative), so the output normalizes via
    * lower() — the deterministic projection of a collation class. A
    * collated equality (raw = 'f' COLLATE UTF8_LCASE) demonstrates
    * case-insensitive comparison without lower()-rewriting, and min(raw)
    * stays UTF8_BINARY to pin that per-column collation is respected.
    * 100 TB note: collated grouping pushes the case-fold into the hash
    * exchange itself — no derived lower() column to carry through the
    * shuffle. Trade-off, pinned by the golden plan: collated keys are not
    * hash-aggregatable on this Spark version, so the agg plans as
    * SortAggregate — still partial+final with map-side combine, but a
    * per-partition sort replaces the hash table; for a hot 100 TB path
    * the lower()-column rewrite (hash agg) may still win.
    */
  def fnCollationSuite(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        when(col("o_orderkey") % 2 === 0, col("o_orderstatus"))
          .otherwise(lower(col("o_orderstatus"))).as("raw"))
      .groupBy(collate(col("raw"), "UTF8_LCASE").as("k"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("raw") === upper(col("raw")), 1L).otherwise(0L)).as("n_upper"),
        min(col("raw")).as("min_binary"),
        sum(when(col("raw") === expr("'f' COLLATE UTF8_LCASE"), 1L)
          .otherwise(0L)).as("n_eq_f_ci"))
      .select(lower(col("k")).as("status_ci"), col("n"), col("n_upper"),
        col("min_binary"), col("n_eq_f_ci"))
      .orderBy(col("status_ci"))

  /** K1 — Scala UDF: logistic score with fixed μ/σ. v2 path is a codegen'd
    * Catalyst Expression; a black-box UDF is the contract surface here.
    */
  def udfScore(spark: SparkSession, sfDir: String): DataFrame = {
    val logistic = udf((p: Double) => 1.0 / (1.0 + math.exp(-(p - 100000.0) / 50000.0)))
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"),
        round(logistic(col("o_totalprice")), 6).as("score"))
      .orderBy(col("o_orderkey"))
  }

  /** K1 v2 — the same logistic score as a native codegen'd Catalyst
    * Expression (graft.functions.LogisticScore): no UDF serialization
    * boundary, inlined into whole-stage codegen.
    */
  def exprScoreNative(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"),
        round(logistic(col("o_totalprice")), 6).as("score"))
      .orderBy(col("o_orderkey"))
  }

  /** K2 buffer: exact decimal sums of price*qty and qty. */
  private type Buf = (java.math.BigDecimal, java.math.BigDecimal)

  /** K2 — typed Aggregator: quantity-weighted average price. The buffer
    * holds exact decimals so partial-merge order can't change the result;
    * the single double division happens once in finish().
    */
  object WeightedAvgPrice extends Aggregator[(Double, Double), Buf, Double] {
    private def d2(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(2, java.math.RoundingMode.HALF_UP)
    def zero: Buf = (java.math.BigDecimal.ZERO, java.math.BigDecimal.ZERO)
    def reduce(b: Buf, in: (Double, Double)): Buf = {
      val (price, qty) = in
      (b._1.add(d2(price).multiply(d2(qty))), b._2.add(d2(qty)))
    }
    def merge(a: Buf, b: Buf): Buf = (a._1.add(b._1), a._2.add(b._2))
    def finish(b: Buf): Double =
      if (b._2.signum == 0) 0.0 else b._1.doubleValue() / b._2.doubleValue()
    def bufferEncoder: Encoder[Buf] = Encoders.tuple(Encoders.DECIMAL, Encoders.DECIMAL)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** K2 — weighted-average price per brand via the typed Aggregator. */
  def udafWeightedAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val wavg = udaf(WeightedAvgPrice)
    Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(wavg(col("l_extendedprice"), col("l_quantity")), 6).as("wavg_price"))
      .orderBy(col("p_brand"))
  }
}
