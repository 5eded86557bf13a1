package org.apache.spark.sql.execution.datasources.parquet

import java.util.Locale

import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.compat.RowGroupFilter.FilterLevel
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, FileSourceConstantMetadataAttribute}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils, FileIndex,
  HadoopFsRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.Utils

/** Bridge to Spark's package-private parquet rules, so a caller that knows
  * which files to look at can resolve a schema, scan them and test a
  * predicate against their footers on the driver. Spark's own reader
  * applies the same rules, but inside a cluster job: schema inference in a
  * one-task job, row-group skipping inside each scan task.
  */
object GraftParquetBridge {

  /** The Spark schema of one parquet file: the row schema the Spark writer
    * stored in the footer metadata, else the parquet-to-Spark type
    * conversion under the session's parquet options. This is the rule
    * Spark's inference applies per footer.
    */
  def schema(spark: SparkSession, file: Path, reader: ParquetFileReader): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** A parquet scan of `schema` rows over the files `index` hands out: the
    * relation `spark.read.schema(schema).parquet(...)` resolves (no
    * partition columns, every field nullable), with `index` in place of the
    * listing Spark would build. `FileSourceStrategy` asks the index for
    * its files, with the scan's data filters, once per planned scan.
    */
  def relation(spark: SparkSession, index: FileIndex, schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(), schema.asNullable,
      None, new ParquetFileFormat, Map.empty)(spark))

  /** Whether parquet's row-group filter keeps at least one row group of the
    * open file `reader` under a scan's `dataFilters`. The filters are
    * translated as `FileSourceScanExec` translates its pushed filters, then
    * by Spark's own Catalyst-to-parquet rule (`ParquetFilters`) with the
    * options Spark's reader uses for this file. The test runs at parquet's
    * `STATISTICS` level (footer min/max and null counts) and `BLOOMFILTER`
    * level (the file's native Bloom filters, consulted for equality only).
    * Spark's reader applies these levels and more to every row group
    * inside the scan task, so a file this drops is one whose row groups the
    * scan would skip anyway. A filter the rules cannot translate constrains
    * nothing; with filter pushdown off, every file is kept.
    */
  def mayMatch(spark: SparkSession, reader: ParquetFileReader,
               dataFilters: Seq[Expression]): Boolean = {
    val conf   = spark.sessionState.conf
    val nested = Utils.stringToSeq(conf.getConf(SQLConf.NESTED_PREDICATE_PUSHDOWN_FILE_SOURCE_LIST)
      .toLowerCase(Locale.ROOT)).contains(new ParquetFileFormat().shortName())
    val pushed = dataFilters
      .filterNot(_.references.exists {
        case FileSourceConstantMetadataAttribute(_) => true
        case _ => false
      })
      .flatMap(DataSourceStrategy.translateFilter(_, nested))
    val meta = reader.getFooter.getFileMetaData
    val parquetFilters = new ParquetFilters(meta.getSchema,
      conf.parquetFilterPushDownDate, conf.parquetFilterPushDownTimestamp,
      conf.parquetFilterPushDownDecimal, conf.parquetFilterPushDownStringPredicate,
      conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis,
      DataSourceUtils.datetimeRebaseSpec(meta.getKeyValueMetaData.get,
        new ParquetOptions(Map.empty[String, String], conf).datetimeRebaseModeInRead))
    !conf.parquetFilterPushDown ||
      pushed.flatMap(parquetFilters.createFilter).reduceOption(FilterApi.and).forall { p =>
        !RowGroupFilter.filterRowGroups(
          java.util.Arrays.asList(FilterLevel.STATISTICS, FilterLevel.BLOOMFILTER),
          FilterCompat.get(p), reader.getFooter.getBlocks, reader).isEmpty
      }
  }
}
