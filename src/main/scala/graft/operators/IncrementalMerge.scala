package graft.operators

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** §2.9 — the reference's batch-incremental engine: a `last_run_utc`
  * watermark bounds the extraction window; existing rows strictly older than
  * the window start are kept, everything newer is replaced by the fresh
  * extract (MonarchMoneyMain-v3.py:1217-1337).
  *
  * Scale posture: with the target table date-partitioned, `keep` is partition
  * pruning and the merge is a partition overwrite, never a full rewrite
  * (SURVEY §7.5 risk 7).
  */
object IncrementalMerge {

  /** URI-scheme-aware existence probe. `java.io.File(path).exists()` is
    * always false for any non-local URI (hdfs://, s3a://), which would make
    * every "first run?" check silently answer yes — the exact history-loss
    * mode the merge must abort on — so probe through the path's own Hadoop
    * FileSystem. */
  private[graft] def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** P3 + U1 — keep strictly-older rows, replace the window, align schemas
    * (`unionByName(allowMissingColumns)` mirrors the reference's
    * union-of-keys header logic, v3:165-176). */
  def merge(existing: DataFrame, fresh: DataFrame, dateCol: String, windowStart: String): DataFrame = {
    val kept = existing.filter(col(dateCol) < lit(windowStart).cast(existing.schema(dateCol).dataType))
    kept.unionByName(fresh, allowMissingColumns = true)
  }

  /** F10 — extraction-window computation (v3:1227-1258): forced start >
    * watermark > backfill default; start truncated to start-of-day; widened
    * to the backfill default on first run against an empty table. */
  def extractionWindow(
      watermark: Option[Instant],
      now: Instant,
      backfillDays: Int,
      forceStartDate: Option[LocalDate] = None,
      forceFullRefresh: Boolean = false,
      targetIsEmpty: Boolean = false): (LocalDate, Instant) = {
    val fallback = now.minus(backfillDays.toLong, ChronoUnit.DAYS)
    // FORCE_FULL_REFRESH is applied AFTER FORCE_START_DATE in the reference
    // (v3:1228-1240), so when both are set the full refresh wins
    val base: Instant =
      if (forceFullRefresh) fallback
      else forceStartDate match {
        case Some(d) => d.atStartOfDay(ZoneOffset.UTC).toInstant
        case None    => watermark.getOrElse(fallback)
      }
    var start = base.atZone(ZoneOffset.UTC).toLocalDate // start-of-day truncation (v3:1250)
    // Empty-table widening (v3:1252-1256): start==today over an empty target
    // would extract nothing historical.
    if (targetIsEmpty && forceStartDate.isEmpty &&
        start == now.atZone(ZoneOffset.UTC).toLocalDate)
      start = fallback.atZone(ZoneOffset.UTC).toLocalDate
    (start, now)
  }

  /** K2 — single-row control table `{key, value}` holding `last_run_utc`,
    * advanced only after a successful load (v3:1335-1337). */
  final class ControlTable(spark: SparkSession, path: String) {
    import spark.implicits._

    /** ONLY a missing control path means "first run": any other failure
      * (transient storage error, corrupt file) must propagate — mapping it
      * to None would silently reset the watermark to the backfill default
      * and then advance() would mask the loss permanently. */
    def read(): Option[Instant] =
      if (!pathExists(spark, path)) None
      else Parquet.read(spark, path)
        .filter($"key" === "last_run_utc")
        .select($"value").as[String]
        .collect().headOption.map(Instant.parse)

    /** Advance the watermark; `advanceOnEmpty` mirrors ADVANCE_ON_EMPTY
      * (v3:36,1282-1289). */
    def advance(to: Instant, batchWasEmpty: Boolean = false, advanceOnEmpty: Boolean = true): Unit = {
      if (batchWasEmpty && !advanceOnEmpty) return
      Seq(("last_run_utc", to.toString)).toDF("key", "value")
        .coalesce(1).write.mode("overwrite").parquet(path)
    }
  }
}
