package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own parquet schema inference, callable on the driver.
  *
  * A schema-less `spark.read.parquet` reads one footer through a one-task
  * Spark job (`ParquetFileFormat.mergeSchemasInParallel`). The pieces that
  * job runs per file — the footer reader, the session-configured
  * converter and `readSchemaFromFooter` — are package-private, so this
  * shim lives in their package (like `org.apache.spark.sql.GraftSqlBridge`)
  * and exposes them, together with the hidden-name and glob rules Spark's
  * file listing applies, to `graft.ops.Tables.parquet`.
  */
object GraftParquetBridge {
  private def session(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState

  /** The Hadoop configuration a read in this session lists and opens
    * files with. */
  def hadoopConf(spark: SparkSession): Configuration = session(spark).newHadoopConf()

  /** `spark.sql.parquet.mergeSchema`: inference then reads every footer. */
  def mergesSchemas(spark: SparkSession): Boolean =
    session(spark).conf.isParquetSchemaMergingEnabled

  /** A name Spark's file listing skips (`_x`, `.x`, `x._COPYING_`; not the
    * `_metadata`/`_common_metadata` summaries nor `_k=v` directories). */
  def hiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** A path Spark expands as a glob before listing. */
  def isGlob(path: Path): Boolean = SparkHadoopUtil.get.isGlobPath(path)

  /** The schema Spark infers from the parquet file `file`: the footer read
    * and converted exactly as the inference job does it, honouring the
    * session's binary-as-string, INT96, TIMESTAMP_NTZ and nanos-as-long
    * settings. */
  def footerSchema(spark: SparkSession, conf: Configuration,
                   file: FileStatus): StructType = {
    val sql = session(spark).conf
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
}
