package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to the `private[parquet]` schema reader, first used by
  * [[graft.sources.Tables.read]]: the schema Spark's parquet inference
  * derives from one file, read from that file's footer on the driver
  * instead of in a one-task inference job. The same
  * `ParquetFileFormat.readSchema` turns the footer into a schema (the
  * Spark schema stored in the footer, else the parquet schema through
  * the session's converter flags), so the two cannot disagree.
  */
object GraftParquet {

  def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchema(Seq(footer), spark).get
  }

  /** Whether a file index lists `name` (not hidden, not in flight). */
  def listed(name: String): Boolean = !HadoopFSUtils.shouldFilterOutPathName(name)

  /** Whether `name` is a parquet summary file, which inference reads
    * before any data file.
    */
  def summary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE
}
