package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.util.HadoopFSUtils

/** Minimal bridge into Spark's package-private APIs: the Column <->
  * Expression converters (Spark 4 moved Column to a backend-agnostic
  * representation; `ExpressionUtils` is `private[sql]`), and the file
  * listing rule and footer error that [[graft.sources.Parquet]] must share
  * with Spark's schema inference. This shim is the single sanctioned
  * crossing point.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's file-index rule for names a listing skips (`_x`, `.x`,
    * `x._COPYING_`; kept: `k=v` partition dirs and the parquet summary
    * files `_metadata` / `_common_metadata`). */
  def hiddenPathName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** One parquet footer without row groups, read and failed as Spark's
    * schema inference does (`ParquetFileFormat.readParquetFootersInParallel`):
    * an unreadable footer raises `CANNOT_READ_FILE_FOOTER`. */
  def parquetFooter(conf: Configuration, file: FileStatus): Footer =
    try new Footer(file.getPath,
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS))
    catch { case e: RuntimeException =>
      throw QueryExecutionErrors.cannotReadFooterForFileError(file.getPath, e) }
}
