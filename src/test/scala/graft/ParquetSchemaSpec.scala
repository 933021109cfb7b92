package graft

import graft.ops.IndexStore
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquet, ParquetFileFormat}
import org.apache.spark.sql.functions._

/** `GraftParquet` opens parquet with the schema Spark would infer, read
  * from one footer on the driver instead of by a schema job. Checked
  * against `spark.read.parquet(path).schema` on every fixture table, on
  * every artifact of the six index stores (multi-file directories, and
  * `base-`/`delta-` linked files in the update stores), and on the two
  * layouts where the footer pick matters; then the opens that use it
  * are checked to run no job.
  */
class ParquetSchemaSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The helper's schema is the one Spark's parquet format infers from
    * the same leaf files (before the read makes every field nullable),
    * and the frame it opens has `spark.read.parquet`'s schema.
    */
  private def sameSchema(path: String): Unit = {
    val leaves = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles()
    assert(GraftParquet.inferredSchema(spark, path) ===
      new ParquetFileFormat().inferSchema(spark, Map.empty, leaves), path)
    assert(GraftParquet.read(spark, path).schema ===
      spark.read.parquet(path).schema, path)
  }

  private def subdirs(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isDirectory(_)).map(_.toString).toList.sorted
    finally s.close()
  }

  test("fixture tables: the footer schema is the inferred schema at sf0.001 and sf0.01") {
    for (sfDir <- Seq(sf, SparkSpec.SF01); t <- tables)
      sameSchema(s"$sfDir/$t.parquet")
  }

  test("index stores: every artifact of the six stores has the inferred schema") {
    Seq("index_build_vecsearch", "index_build_mediasig",
        "index_update_mediasig", "index_update_vecsearch")
      .foreach(k => assert(run(k).collect().nonEmpty, k))
    val dirs = Seq(IndexStore.indexDir(sf), IndexStore.mediaDir(sf),
      IndexStore.mediaBaseDir(sf), IndexStore.mediaUpdDir(sf),
      IndexStore.vecBaseDir(sf), IndexStore.vecUpdDir(sf))
    val artifacts = dirs.flatMap(subdirs)
    assert(artifacts.size === 7 + 2 + 2 + 4 + 8 + 9)
    artifacts.foreach(sameSchema)
    // the linked update artifacts hold base- and delta- named files
    val linked = s"${IndexStore.vecUpdDir(sf)}/ivf_assigned"
    assert(new java.io.File(linked).list().exists(_.startsWith("base-")))
    assert(new java.io.File(linked).list().exists(_.startsWith("delta-")))
  }

  test("multi-file directories: the first data file decides, as in Spark, and a summary file wins") {
    val root = Files.createTempDirectory("graft_parquet_schema")
    try {
      // files whose schemas differ: both sides must read the same footer
      val mixed = root.resolve("mixed").toString
      spark.range(10).toDF("a").write.parquet(mixed)
      spark.range(10).select(col("id").as("a"), col("id").cast("string").as("b"))
        .write.mode("append").parquet(mixed)
      sameSchema(mixed)
      // summary files written by the parquet committer
      val summarized = root.resolve("summarized").toString
      spark.range(10).select(col("id").as("a"), (col("id") * 0.5).as("x"))
        .repartition(3).write.option("parquet.summary.metadata.level", "ALL")
        .parquet(summarized)
      assert(Files.exists(Paths.get(summarized, "_common_metadata")))
      sameSchema(summarized)
      assert(spark.read.parquet(summarized).count() ===
        GraftParquet.read(spark, summarized).count())
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(root.toFile)
    }
  }

  test("opens run no job: registerAll on a fresh session and IndexStore reads of a built store") {
    val fresh = spark.newSession()
    assert(JobCount.jobsDuring(spark)(Tables.registerAll(fresh, sf)) === 0)
    assert(fresh.catalog.tableExists("events"))
    IndexStore.ensure(spark, sf)
    IndexStore.ensureMedia(spark, sf)
    assert(JobCount.jobsDuring(spark) {
      IndexStore.read(spark, sf, "knn_candidates")
      IndexStore.readMedia(spark, sf, "media_pairs")
    } === 0)
  }
}
