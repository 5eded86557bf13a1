package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.filter2.compat.{FilterCompat, RowGroupFilter}
import org.apache.parquet.filter2.compat.RowGroupFilter.FilterLevel
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils,
  HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's package-private parquet rules, so a caller that knows
  * which files to look at can resolve a schema and test a predicate
  * against footers on the driver. Spark's own reader applies the same
  * rules, but inside a cluster job: schema inference in a one-task job,
  * row-group skipping inside each scan task.
  */
object GraftParquetBridge extends PredicateHelper {

  /** The Spark schema of one parquet file: the row schema the Spark writer
    * stored in the footer metadata, else the parquet-to-Spark type
    * conversion under the session's parquet options. This is the rule
    * Spark's inference applies per footer.
    */
  def schema(spark: SparkSession, file: Path, reader: ParquetFileReader): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  /** The data-source filters Spark's planner pushes into a parquet scan of
    * `schema` rows for `cond`: the condition as the optimizer leaves it over
    * a parquet relation (casts folded or unwrapped, null checks inferred),
    * split into conjuncts and translated one by one, as `FileSourceStrategy`
    * does. The relation's file index is empty, so nothing is listed or
    * read. `None` when the optimizer proves that no row matches.
    */
  def pushedFilters(spark: SparkSession, schema: StructType,
                    cond: Column): Option[Seq[sources.Filter]] = {
    val relation = HadoopFsRelation(new InMemoryFileIndex(spark, Nil, Map.empty, Some(schema)),
      new StructType(), schema, None, new ParquetFileFormat, Map.empty)(spark)
    spark.baseRelationToDataFrame(relation).filter(cond).queryExecution.optimizedPlan match {
      case Filter(c, l: LogicalRelation) =>
        val nested = DataSourceUtils.supportNestedPredicatePushdown(l.relation)
        Some(DataSourceStrategy.normalizeExprs(
            splitConjunctivePredicates(c).filter(_.deterministic), l.output)
          .flatMap(DataSourceStrategy.translateFilter(_, nested)))
      case l: LocalRelation if l.data.isEmpty => None
      case _ => Some(Nil)
    }
  }

  /** Whether parquet's row-group filter keeps at least one row group of the
    * open file `reader` under `filters`, each translated by Spark's own
    * Catalyst-to-parquet rule (`ParquetFilters`) with the options Spark's
    * reader uses for this file. The test runs at parquet's `STATISTICS`
    * level (footer min/max and null counts) and `BLOOMFILTER` level (the
    * file's native Bloom filters, consulted for equality only). Spark's
    * reader applies these levels and more to every row group inside the
    * scan task, so a file this drops is one whose row groups the scan
    * would skip anyway. A filter the rule cannot translate constrains
    * nothing; with filter pushdown off, every file is kept.
    */
  def mayMatch(spark: SparkSession, reader: ParquetFileReader,
               filters: Seq[sources.Filter]): Boolean = {
    val conf = spark.sessionState.conf
    val meta = reader.getFooter.getFileMetaData
    val parquetFilters = new ParquetFilters(meta.getSchema,
      conf.parquetFilterPushDownDate, conf.parquetFilterPushDownTimestamp,
      conf.parquetFilterPushDownDecimal, conf.parquetFilterPushDownStringPredicate,
      conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis,
      DataSourceUtils.datetimeRebaseSpec(meta.getKeyValueMetaData.get,
        new ParquetOptions(Map.empty[String, String], conf).datetimeRebaseModeInRead))
    !conf.parquetFilterPushDown ||
      filters.flatMap(parquetFilters.createFilter).reduceOption(FilterApi.and).forall { p =>
        !RowGroupFilter.filterRowGroups(
          java.util.Arrays.asList(FilterLevel.STATISTICS, FilterLevel.BLOOMFILTER),
          FilterCompat.get(p), reader.getFooter.getBlocks, reader).isEmpty
      }
  }
}
