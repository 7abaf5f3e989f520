package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Package-placed bridge to `ParquetFileFormat.readSchemaFromFooter`
  * (`private[parquet]`): the conversion Spark's own schema inference
  * applies to each footer it reads — the Spark row metadata when the
  * file carries it, else the parquet schema converted under the
  * session's `binaryAsString`, INT96, timestamp-NTZ and nanos settings.
  */
object GraftParquetBridge {
  /** The schema Spark infers for a parquet read whose first data file
    * is `file`, read on the calling thread (no Spark job). */
  def footerSchema(
      spark: SparkSession, file: FileStatus, conf: Configuration): StructType = {
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
      spark.asInstanceOf[classic.SparkSession].sessionState.conf))
  }
}
