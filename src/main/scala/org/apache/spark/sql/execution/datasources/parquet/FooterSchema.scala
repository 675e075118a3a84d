package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.{SQLConf, SessionStateHelper}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's Parquet schema and listing helpers, which are private to
  * Spark, for `graft.catalog.ParquetRead`: the driver runs the same
  * footer read and conversion that Spark's schema-inference job runs in
  * its tasks. */
object FooterSchema {

  /** Footers of `files` without their row groups, read on up to 8
    * threads; a corrupt file is skipped only with `ignoreCorruptFiles`. */
  def footers(conf: Configuration, files: Seq[FileStatus],
      ignoreCorruptFiles: Boolean): Seq[Footer] =
    ParquetFileFormat.readParquetFootersInParallel(conf, files, ignoreCorruptFiles)

  /** The footers' schemas, each converted by `readSchema` under the
    * session's Parquet settings and merged in order. The fold is
    * `SchemaMergeUtils.mergeSchemasInParallel`'s: it merges with the
    * session's case sensitivity (`readSchema`'s own fold is always case
    * sensitive) and a conflict raises the same `SparkException`. */
  def merged(spark: SparkSession, footers: Seq[Footer]): Option[StructType] = {
    val caseSensitive = SessionStateHelper.getSqlConf(spark).caseSensitiveAnalysis
    footers.flatMap(f => ParquetFileFormat.readSchema(Seq(f), spark)).reduceOption {
      (left, right) =>
        try left.merge(right, caseSensitive)
        catch {
          case cause: SparkException =>
            throw QueryExecutionErrors.failedMergingSchemaError(left, right, cause)
        }
    }
  }

  /** `ignoreCorruptFiles` and `ignoreMissingFiles` as a read with
    * `options` in this session sees them. */
  def fileSourceOptions(spark: SparkSession, options: Map[String, String]): FileSourceOptions =
    SQLConf.withExistingConf(SessionStateHelper.getSqlConf(spark)) {
      new FileSourceOptions(CaseInsensitiveMap(options))
    }

  /** A name Spark's file listing skips (`_…` but not `k=v`, `.…`). */
  def skipped(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** `spark.sql.files.openCostInBytes` in this session: the size below
    * which a scan is worth no more than one file's open. */
  def openCostInBytes(spark: SparkSession): Long =
    SessionStateHelper.getSqlConf(spark).filesOpenCostInBytes

  /** Above this many root paths Spark lists them in a Spark job. */
  def parallelDiscoveryThreshold(spark: SparkSession): Int =
    SessionStateHelper.getSqlConf(spark).parallelPartitionDiscoveryThreshold
}
