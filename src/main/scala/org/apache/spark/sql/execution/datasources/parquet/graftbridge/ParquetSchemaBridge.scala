package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Bridge to the parquet footer readers behind Spark's schema inference.
  * Lives under Spark's parquet package purely for access (both readers are
  * `private[parquet]`); no Spark internals are modified.
  */
object ParquetSchemaBridge {

  /** The schema Spark's parquet inference gives `path` (a file or a
    * directory), read on the driver from the same footers and under the
    * same session converter settings, without the inference job. Like the
    * inference, it lists `path` with Spark's hidden-file rules and touches
    * the `_common_metadata` summary, else `_metadata`, else the first data
    * file by path; with schema merging on, every data file and summary.
    * None when `path` holds no parquet file at all (the inference would
    * fail there). A missing `path` or an unreadable footer throws.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val root = new Path(path)
    val hadoopConf = spark.sessionState.newHadoopConf()
    // the file index lists a missing root as empty; fail on it here
    root.getFileSystem(hadoopConf).getFileStatus(root)
    val leaves = new InMemoryFileIndex(spark, Seq(root), Map.empty, None).allFiles()
      .sortBy(_.getPath.toString)
    def named(n: String): Seq[FileStatus] = leaves.filter(_.getPath.getName == n)
    val metadata = named(ParquetFileWriter.PARQUET_METADATA_FILE)
    val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val data = leaves.filterNot(f => Set(ParquetFileWriter.PARQUET_METADATA_FILE,
      ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)(f.getPath.getName))
    val conf = spark.sessionState.conf
    val touch =
      if (conf.isParquetSchemaMergingEnabled)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ metadata ++ common
      else common.headOption.orElse(metadata.headOption).orElse(data.headOption).toSeq
    if (touch.isEmpty) None
    else ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(hadoopConf, touch, conf.ignoreCorruptFiles),
      spark)
  }
}
