package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.StructType

/** Schema-less parquet reads without Spark's schema-inference job.
  *
  * `spark.read.parquet(paths)` infers the schema with a one-task Spark job
  * (`ParquetUtils.inferSchema` -> `mergeSchemasInParallel`), even for one
  * file the program wrote a moment earlier. At the sub-second floor that
  * job is a whole dispatch (~40 ms on 4 cores) per read. [[read]] resolves
  * the same schema on the driver from one footer and hands it to
  * `spark.read.schema(s).parquet(paths)`, which runs no job:
  *
  *  - file choice is Spark's: the leaf files of the paths as its file index
  *    lists them (hidden `_x`/`.x` names skipped, `k=v` partition dirs and
  *    the `_metadata`/`_common_metadata` summaries kept), sorted by path
  *    string; a `_common_metadata` summary wins, then `_metadata`, then the
  *    first data file. Argument order does not matter, as in Spark.
  *  - the footer is read by Spark's own footer reader (row groups skipped)
  *    and converted by `ParquetFileFormat.readSchemaFromFooter` with the
  *    converter flags Spark's inference uses, so the stored Spark schema,
  *    `inferTimestampNTZ` and `nanosAsLong` apply exactly as in inference.
  *    A corrupt footer throws Spark's `CANNOT_READ_FILE_FOOTER` error.
  *  - partition columns are still discovered by Spark.
  *
  * Plain `spark.read.parquet` (with its inference job) is kept when there
  * is no data file; when a path does not exist as written (Spark raises
  * its own error, or expands a glob); when schema merging or
  * `ignoreCorruptFiles` is on; and for a streaming sink's output directory
  * (its log, not a listing, names the files). */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }

  /** `spark.read.parquet(paths).schema`, partition columns included. */
  def schema(spark: SparkSession, paths: String*): StructType = read(spark, paths: _*).schema

  /** Total rows of the parquet `files`, from their footers on the driver
    * (no job). */
  def rowCount(spark: SparkSession, files: Seq[String]): Long = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), hadoopConf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The data schema Spark's inference would give `paths`, or None where
    * [[read]] falls back. */
  private[graft] def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (paths.isEmpty || conf.isParquetSchemaMergingEnabled || conf.ignoreCorruptFiles) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val leaves =
      try paths.flatMap { p =>
        val root = new Path(p)
        val fs = root.getFileSystem(hadoopConf)
        listLeaves(fs, fs.makeQualified(root))
      } catch { case _: FileNotFoundException => return None }
    if (FileStreamSink.hasMetadata(paths, hadoopConf, conf)) return None
    // ParquetUtils.inferSchema's choice: a summary file first, else the
    // first data file by path string
    val sorted = leaves.sortBy(_.getPath.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val first = summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
    first.map { file =>
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      ParquetFileFormat.readSchemaFromFooter(bridge.parquetFooter(hadoopConf, file), converter)
    }
  }

  /** Leaf files under `path` (itself, if a file), as Spark's
    * `HadoopFSUtils.listLeafFiles` finds them. */
  private def listLeaves(fs: FileSystem, path: Path): Seq[FileStatus] =
    fs.listStatus(path).toSeq
      .filterNot(s => bridge.hiddenPathName(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) listLeaves(fs, s.getPath) else Seq(s))
}
