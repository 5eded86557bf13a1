package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's package-private parquet footer-to-schema rule, so a
  * caller that knows which file to look at can resolve a parquet schema
  * on the driver. Spark's own inference reads the same one footer, but
  * through a one-task cluster job.
  */
object GraftParquetBridge {

  /** The Spark schema of one parquet file: the row schema the Spark writer
    * stored in the footer metadata, else the parquet-to-Spark type
    * conversion under the session's parquet options. This is the rule
    * Spark's inference applies per footer. Row groups are not read.
    */
  def schema(spark: SparkSession, conf: Configuration, file: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
