package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The Spark schema of one parquet file, read from its footer on the
  * driver — the per-file step of Spark's own schema inference
  * (`ParquetFileFormat.mergeSchemasInParallel`), without the Spark job
  * that inference runs to do it. The converter takes the same session
  * flags inference passes (binary-as-string, INT96-as-timestamp,
  * timestamp-NTZ inference, nanos-as-long, unknown type annotations) and
  * its defaults for the rest, and `readSchemaFromFooter` prefers the
  * Spark schema a Spark writer stores in the footer's key-value metadata,
  * exactly as inference does.
  */
object ParquetFooterSchema {
  def apply(spark: SparkSession, file: FileStatus, conf: Configuration): StructType = {
    val sql = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta), converter)
  }

  /** The row count of one parquet file: the sum of its row groups' counts
    * in the footer, read on the driver.
    */
  def rowCount(file: FileStatus, conf: Configuration): Long = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.NO_FILTER)
    var n = 0L
    meta.getBlocks.forEach(b => n += b.getRowCount)
    n
  }
}
