package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** K1 at scale — the date-partitioned table posture behind the incremental
  * merge. The reference rewrites one whole sheet per sync
  * (MonarchMoneyMain-v3.py:931-993) because its table is 5,542 rows; at
  * 100 TB the equivalent contract is "replace exactly the extraction window,
  * touch nothing else", which Spark expresses as a month-partitioned parquet
  * table written under dynamic partition overwrite: only partitions present
  * in the batch are replaced, every other partition's files are untouched
  * (no read-rewrite of the cold history, and partition pruning serves the
  * P3 watermark filter on read).
  */
object Sinks {

  /** Derive the partition key (yyyy-MM) from `dateCol` and write `df` under
    * dynamic partition overwrite. Returns the partitioned frame for
    * inspection. Idempotent per window: replaying the same batch rewrites
    * the same partitions to the same content. The mode is a per-write
    * option, not the session-wide `spark.sql.sources.partitionOverwriteMode`:
    * setting and restoring the session conf races with any other thread
    * writing through the same session. */
  def writeMonthPartitioned(df: DataFrame, path: String, dateCol: String = "date"): DataFrame = {
    val partitioned = df.withColumn("__month", date_format(col(dateCol), "yyyy-MM"))
    // hash-distribute by the partition value before the partitioned write
    // (Iceberg's write.distribution-mode=hash): without it every scan
    // task holding rows of a month opens its own file in that month's
    // directory — tasks x months files of a few KB each, the small-file
    // problem twice over at read time. One row-hash shuffle buys one
    // file per month. (guide §6: output file sizing; AQE may still split
    // a giant month across tasks, which is the correct large-scale
    // behavior.)
    partitioned.repartition(col("__month")).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__month")
      .parquet(path)
    partitioned
  }

  /** Read the partitioned table back without the synthetic partition column
    * (consumers see the original contract columns). */
  def readMonthPartitioned(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Parquet.read(spark, path).drop("__month")

  /** K3 engine half — sheet-shaped CSV materialization (the reference
    * multiparts this file to the balance-history upload endpoint,
    * monarchmoney.py:2642-2665; the upload itself is transport, not
    * engine): one header row, the frame's pinned column order, a single
    * part file (a sheet is single-file by nature — this is a dim-scale
    * export, never a data-scale one). */
  def writeSheetCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** K4 — debug-capture sink (`_save_debug`, MonarchMoneyMain-v3.py:231-241):
    * when the session conf `spark.graft.debug` is true, dump the frame as
    * JSON under `spark.graft.debug.dir`/<name>. Mirrors the reference's
    * semantics exactly: disabled flag is a silent no-op, and a write failure
    * never breaks the run (the reference swallows it). Returns whether a
    * capture was written. */
  def writeDebugJson(df: DataFrame, name: String): Boolean = {
    val spark = df.sparkSession
    val enabled = spark.conf.getOption("spark.graft.debug").exists(_.toBoolean)
    enabled && {
      try {
        val dir = spark.conf.getOption("spark.graft.debug.dir").getOrElse(".mm")
        df.write.mode(SaveMode.Overwrite).json(s"$dir/$name")
        true
      } catch { case scala.util.control.NonFatal(_) => false }
    }
  }

  /** Compacted write: size the output partition count from the plan's
    * byte estimate so files land near `targetBytes` instead of one file
    * per upstream task. The small-files problem is the classic slow decay
    * of a 100 TB table — a 32-partition shuffle stage writing hourly
    * produces ~280k files a year; compacting to ~128 MB keeps scans
    * row-group-bound, not open()-bound. Catalyst's size estimate is rough
    * (decompressed, often high) — treat `targetBytes` as an order-of-
    * magnitude target, not an exact file size. */
  def writeCompacted(df: DataFrame, path: String,
                     targetBytes: Long = 128L * 1024 * 1024): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val estimated = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val partitions = ((estimated + targetBytes - 1) / targetBytes)
      .max(1).min(1 << 20).toInt
    df.repartition(partitions).write.mode(SaveMode.Overwrite).parquet(path)
  }
}
