package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._

/** Table loaders over the driver-generated parquet corpus.
  *
  * Design (SURVEY.md §1.3, FIXTURES.md): a TPC-H-ish star schema plus an
  * `events` stream table, a `documents` text corpus, and an `embeddings`
  * vector corpus. Every query is a pure function of `(SparkSession, sfDir)`;
  * loaders here are the single entry point so scan-level concerns
  * (timestamp normalization, future partitioned layouts at 100 TB) live in
  * exactly one place.
  *
  * 100 TB note: at cluster scale these loaders would point at a partitioned
  * lake layout (e.g. orders/lineitem partitioned by date, events by day) and
  * everything downstream — which only depends on logical schema — survives
  * unchanged. Filters/projections compose onto these scans and reach the
  * parquet reader via Catalyst pushdown.
  */
object Tables {

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Derived `partsupp` relation (SURVEY §2.W round-7): the driver corpus
    * ships no partsupp table, so the five classic shapes that need one
    * (Q2/Q9/Q11/Q16/Q20) are closed over a partsupp DERIVED as a pure
    * integer function of the existing dense 0-based part × supplier keys —
    * the DuckDB oracle computes the identical CTE, so the comparison is
    * exact (the same synthesis trick the PII fixture query uses).
    *
    * Per part, 4 supplier slots k ∈ {0,1,2,3}:
    *   ps_suppkey          = (p_partkey + 17·k) mod n_supp
    *   ps_availqty         = (p_partkey·37 + ps_suppkey·11 + k) mod 9999 + 1
    *   ps_supplycost cents = (p_partkey·13 + ps_suppkey·7 + k·3) mod 99900 + 100
    *
    * 17·k mod n_supp is distinct for k<4 at every fixture size (n_supp ∈
    * {10,100,1000}), so the 4 suppliers per part are distinct. Cost stays
    * in exact LONG cents through all arithmetic (the [[graft.ops.Cols]]
    * money protocol); consumers divide by 100.0 only at final output.
    *
    * 100 TB: the build is a narrow projection of `part` (4× explode) plus
    * one broadcast of the 1-row supplier count — no shuffle, no action;
    * downstream joins on ps_partkey/ps_suppkey shuffle exactly like a
    * stored partsupp would, so every consumer plan is the plan a real
    * partsupp table would produce.
    */
  def partsupp(spark: SparkSession, sfDir: String): DataFrame = {
    val nSupp = supplier(spark, sfDir).agg(count(lit(1)).as("n_supp"))
    part(spark, sfDir)
      .select(col("p_partkey"), explode(array((0 to 3).map(lit): _*)).as("k"))
      .crossJoin(broadcast(nSupp))
      .withColumn("ps_suppkey", (col("p_partkey") + col("k") * 17) % col("n_supp"))
      .select(
        col("p_partkey").as("ps_partkey"),
        col("ps_suppkey"),
        ((col("p_partkey") * 37 + col("ps_suppkey") * 11 + col("k")) % 9999 + 1)
          .as("ps_availqty"),
        ((col("p_partkey") * 13 + col("ps_suppkey") * 7 + col("k") * 3) % 99900 + 100)
          .as("ps_cost_cents"))
  }

  /** Events loader — the ONLY way to read `events.parquet`.
    *
    * SCHEMA-ADAPTIVE: fixture generators have shipped `ts` in multiple
    * physical layouts over time (parquet TIMESTAMP(NANOS) → int64 ns under
    * `nanosAsLong`, then plain `timestamp[us]`). A lake reader must not
    * hard-assume one layout, so we branch on the *loaded* Spark type and
    * normalize every layout to the same logical contract:
    *
    *   - `LongType` (ns-as-long, incl. TIMESTAMP(NANOS) via the legacy
    *     flag): truncate to µs with *integer* division (`div`) —
    *     ns-since-epoch ≈ 1.7e18 exceeds a double's 2^53 exact range, so a
    *     floating-point divide could flip a µs. Truncation matches DuckDB's
    *     TIMESTAMP_NS → TIMESTAMP cast exactly.
    *   - `TimestampNTZType` (tz-naive `timestamp[us]`, the current layout):
    *     reinterpret the naive value as a UTC instant (session TZ is pinned
    *     to UTC by every entry point) — matches DuckDB's naive TIMESTAMP.
    *   - `TimestampType` (tz-adjusted `timestamp[us, UTC]` / INT96): already
    *     an instant; take it as-is.
    *
    * Exposes: event_id, ts (TIMESTAMP, µs precision, UTC), ts_us (epoch-µs
    * LONG, for numeric range window frames), user_id, event_type, value,
    * props — identical values under all three physical layouts
    * (IngestionContractSpec is the regression fence).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts_us", unix_micros(col("ts").cast(TimestampType)))
          .withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType =>
        raw.withColumn("ts_us", unix_micros(col("ts")))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other (expected ns-as-long, timestamp, or timestamp_ntz)")
    }
  }

  private val dfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Columns the loader normalizes when fixture generators drift between
    * physical layouts (the events lesson, generalized): every date-ish
    * business column lands as TIMESTAMP_NTZ — the type all query literals
    * compare against — whatever the file shipped.
    */
  private val dateCols = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate", "l_commitdate", "l_receiptdate"))

  /** Schema-adaptive normalization applied at load (VERDICT r5 #1 class,
    * beyond events): DATE or tz-adjusted TIMESTAMP date columns →
    * TIMESTAMP_NTZ (session TZ pinned UTC, so the reinterpretation is the
    * identity instant); a `double[]` embedding column → `float[]` (the
    * contract element type of every dot kernel). Unknown shapes for these
    * columns fail fast rather than detonating downstream analysis.
    */
  private def normalize(name: String, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    var out = df
    for (c <- dateCols.getOrElse(name, Nil) if out.columns.contains(c)) {
      out.schema(c).dataType match {
        case TimestampNTZType             => ()
        case DateType | TimestampType     =>
          out = out.withColumn(c, col(c).cast(TimestampNTZType))
        case other => throw new IllegalStateException(
          s"$name.$c: unsupported physical type $other (expected date/timestamp)")
      }
    }
    if (name == "embeddings" && out.columns.contains("embedding")) {
      out.schema("embedding").dataType match {
        case ArrayType(FloatType, _)  => ()
        case ArrayType(DoubleType, _) =>
          out = out.withColumn("embedding", col("embedding").cast("array<float>"))
        case other => throw new IllegalStateException(
          s"embeddings.embedding: unsupported physical type $other (expected float/double array)")
      }
    }
    out
  }

  /** Memoized per (session, sfDir, table): opening a table does file
    * listing + footer/schema read at analysis time, and with 76 queries
    * re-reading the same ten immutable files that fixed cost dominates the
    * bench. The cached object is the lazy DataFrame (logical plan), NOT
    * materialized data — semantics are identical. The schema comes from
    * one footer read on the driver ([[GraftParquet.read]]), so a session's
    * ten opens run no Spark job.
    */
  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    dfCache.getOrElseUpdate((spark, sfDir, name),
      normalize(name, GraftParquet.read(spark, s"$sfDir/$name.parquet")))

  /** Estimated scan-task count for a fixture table: per data file,
    * ceil(bytes / maxPartitionBytes) byte-range splits, floored at 1.
    * O(#files) filesystem metadata, no Spark job. This is an UPPER bound
    * on effective scan parallelism (a large single-row-group file spans
    * several byte ranges but only one of them reads rows), so the spread
    * gate below errs toward NOT spreading — the safe direction at scale.
    */
  private def estScanSplits(spark: SparkSession, sfDir: String, name: String): Long = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(sfDir, s"$name.parquet")
    val files: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala.toList
          .filterNot(f => f.getFileName.toString.startsWith("_") ||
            f.getFileName.toString.startsWith("."))
        finally s.close()
      } else List(p)
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    files.map(f => math.max(1L,
      (java.nio.file.Files.size(f) + maxPart - 1) / maxPart)).sum
  }

  /** The documents corpus SPREAD across the session's parallelism when its
    * file layout cannot feed enough scan tasks (optimization round 17,
    * guide §2.5 "one huge unsplittable file … repartition immediately
    * after the read"): every driver fixture table is ONE parquet file
    * with ONE row group, so the first stage of every corpus pass — the
    * regex splits, per-token hashes and shingle walks that dominate the
    * text/dedup family — ran on a single task however many cores the
    * session had. One narrow keyed exchange of the projected columns
    * (filters and projections push below the repartition) buys the whole
    * downstream map full parallelism.
    *
    * The gate is DATA-derived: when the input already yields at least
    * half the session's parallelism in estimated scan splits (any real
    * lake layout — thousands of files), the bare scan is returned and no
    * corpus shuffle is ever added. The partition count is pinned
    * (AQE would coalesce an unpinned repartition back to one task from
    * the tiny pre-explode byte size — the knnKeyedDots lesson); it is the
    * session's shuffle-partition setting, so it scales with the
    * deployment, not with this machine. Applied ONLY by operators whose
    * first stage does corpus-sized per-row compute; byte-bound scans keep
    * the bare loader.
    */
  def documentsSpread(spark: SparkSession, sfDir: String): DataFrame =
    spread(spark, sfDir, "documents", "doc_id")

  /** The embeddings corpus with the same spread treatment, for consumers
    * whose first stage is per-row array compute over the same
    * single-row-group fixture layout AND whose downstream does not
    * immediately re-exchange (measured ABBA at sf0.1: a win for the
    * residual/ADC per-vector kernels; a LOSS inside the multi-lane index
    * build and Lloyd iterations, which keep the bare loader).
    */
  def embeddingsSpread(spark: SparkSession, sfDir: String): DataFrame =
    spread(spark, sfDir, "embeddings", "vec_id")

  private def spread(spark: SparkSession, sfDir: String, name: String,
      key: String): DataFrame =
    dfCache.getOrElseUpdate((spark, sfDir, s"$name#spread"), {
      val d = load(spark, sfDir, name)
      val est = estScanSplits(spark, sfDir, name)
      if (est * 2 >= spark.sparkContext.defaultParallelism) d
      else d.repartition(
        spark.sessionState.conf.numShufflePartitions, col(key))
    })

  @volatile private var registeredFor: Option[(SparkSession, String)] = None

  /** Registers every table as a temp view so `spark.sql` queries (D-series,
    * E6, …) and DataFrame queries are interchangeable. Memoized per
    * (session, sfDir): re-registration would re-read 10 parquet footers per
    * SQL query for nothing.
    *
    * FAILURE ISOLATION: each table registers independently — one broken
    * source (e.g. an events fixture in an unexpected layout) must degrade
    * only the queries that read it, not detonate every `spark.sql` query in
    * the suite. A failed registration is remembered and re-attempted on the
    * next call (memoization only latches once every table registered), and
    * the first *user* of the broken table still gets the real error when its
    * view is missing.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = synchronized {
    val base = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    val cached = registeredFor.contains((spark, sfDir)) &&
      (base :+ "events").forall(spark.catalog.tableExists)
    if (!cached) {
      val results = base.map { n =>
        scala.util.Try(load(spark, sfDir, n).createOrReplaceTempView(n))
      } :+ scala.util.Try(events(spark, sfDir).createOrReplaceTempView("events"))
      registeredFor = if (results.forall(_.isSuccess)) Some((spark, sfDir)) else None
    }
  }
}
