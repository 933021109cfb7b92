package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, NoopCache}
import org.apache.spark.sql.types.StructType

/** Parquet opens that run no Spark job.
  *
  * `spark.read.parquet(path)` infers its schema through
  * `SchemaMergeUtils.mergeSchemasInParallel`, which launches a one-task
  * job even when it reads a single footer. Each such job costs scheduling
  * time and stays in the live status store for the rest of the session.
  * This bridge reads the same footer on the driver, with Spark's own
  * footer-to-schema conversion, and opens the data with that schema.
  */
object GraftParquet {

  /** The schema `spark.read.parquet(path)` would infer, read on the
    * driver; `None` when Spark would merge schemas across files or finds
    * no file to read.
    *
    * The footer read is the one `ParquetUtils.inferSchema` picks without
    * schema merging: `_common_metadata`, else `_metadata`, else the first
    * data file in path order, among the leaf files Spark's file index
    * lists (so `_SUCCESS`, `.crc` and other hidden files never count).
    */
  def inferredSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else {
      val leaves = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty,
        None, NoopCache).allFiles().sortBy(_.getPath.toString)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
        .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
        .map { f =>
          val hadoopConf = spark.sessionState.newHadoopConf()
          val meta = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
            new ParquetToSparkSchemaConverter(conf))
        }
    }
  }

  /** `spark.read.parquet(path)`, opened with [[inferredSchema]] so that no
    * schema job runs; plain inference where that returns `None`.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    inferredSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
}
