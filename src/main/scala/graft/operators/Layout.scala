package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Data-layout operators for scan pruning — the write-side half of the
  * 100 TB story. Parquet readers skip files (and row groups) whose min/max
  * column statistics exclude a filter; that only works when the writer
  * CLUSTERED the data so each file covers a narrow value range. A sort on
  * one column gives perfect pruning on it and none on any other; a Z-order
  * (Morton) key interleaves the bits of several columns so each output file
  * covers a small hyper-rectangle — range filters on ANY of the interleaved
  * dimensions prune.
  */
object Layout {

  /** Morton/Z-value of two non-negative ints confined to `bits` bits each:
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1. Pure bit
    * arithmetic on longs — constant-folded into whole-stage codegen, and
    * identically expressible in any engine (the oracle replays it). Inputs
    * must already be bucketed into [0, 2^bits) — pass e.g.
    * `pmod(hash-ish, 2^bits)` or a quantile bucket. */
  def zvalue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"zvalue: bits must be in [1,31], got $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** N-column Morton/Z-value: bit i of column j lands at position i*n + j
    * (round-robin interleave), so every one of the n dimensions prunes.
    * Generalizes [[zvalue]] (zvalueN(Seq(a, b), bits) == zvalue(a, b,
    * bits)); n*bits must fit a long. Practical n is 2-4 — each added
    * dimension halves the per-file selectivity of every other, the
    * standard Z-order trade. */
  def zvalueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.size >= 2, s"zvalueN: need >= 2 columns, got ${cols.size}")
    require(bits >= 1 && bits * cols.size <= 63,
      s"zvalueN: bits*n must fit a long, got $bits*${cols.size}")
    val n = cols.size
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      cols.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * n + j))
      }
    }
  }

  /** Write `df` range-partitioned and sorted by the Z-value of two bucketed
    * dimensions: each output file covers a contiguous Z-range = a small
    * hyper-rectangle in (a, b) space, so parquet min/max stats prune scans
    * filtered on EITHER dimension. `numFiles` targets the output file count
    * (range partitioning samples the key, so files are size-balanced even
    * under skew). */
  def writeZOrdered(df: DataFrame, a: Column, b: Column, path: String,
                    numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("_z", zvalue(a, b, bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction planner — the table-maintenance half of the
    * layout story: a 100 TB table accumulates small files from streaming
    * appends and partition overwrites, and scan throughput collapses long
    * before capacity does. Given a FILE LISTING (metadata-scale: one row
    * per file, never data-scale), assign each file to a compaction group
    * targeting `targetBytes` per group: group = floor(running-bytes-before
    * / target) within the file's table partition, files taken in
    * deterministic `fileCol` order. The prefix-sum form is one window over
    * the LISTING — expressible identically in any engine, near-optimal for
    * the many-small-files case compaction exists to fix — and the window
    * partitions on the table-partition columns, so planning parallelizes
    * across partitions (no global single-partition sort). */
  def compactionPlan(listing: DataFrame, partCols: Seq[String], fileCol: String,
                     bytesCol: String, targetBytes: Long): DataFrame = {
    require(partCols.nonEmpty, "compactionPlan: need at least one partition column")
    require(targetBytes > 0, s"compactionPlan: targetBytes must be positive")
    // ROWS frame, not the default RANGE: under RANGE, duplicate fileCol
    // values are peers and each peer's running sum includes the other's
    // bytes, overstating _before for the first peer. bytesCol is the
    // tiebreak; output is deterministic when (fileCol, bytesCol) pairs
    // are distinct per partition — true of any real listing, where
    // fileCol is a unique file name. Rows fully tied on both columns get
    // an unspecified relative order (their group ids may swap run to
    // run, though the multiset of (file, bytes, group) sizes cannot).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*)
      .orderBy(col(fileCol), col(bytesCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    listing
      .withColumn("_before", coalesce(
        sum(col(bytesCol)).over(w) - col(bytesCol), lit(0L)))
      .withColumn("compaction_group",
        floor(col("_before") / targetBytes).cast("long"))
      .drop("_before")
  }

  /** Execute a [[compactionPlan]]: rewrite the pre-image rows so each
    * compaction group becomes exactly ONE output file. `df` carries its
    * source-file id in `fileCol` (for a physical table, tag rows with
    * `input_file_name()` first); `plan` maps (partCols, fileCol) ->
    * compaction_group and must cover every file present in `df`.
    *
    * Scale shape: the plan is metadata-scale, so the tagging join
    * BROADCASTS; one shuffle keyed on (partition, group) lands every
    * group's rows in a single task; and the dynamic-partition write then
    * emits exactly one file per (partition, compaction_group) directory —
    * output file count == plan group count, each near `targetBytes` by the
    * plan's construction, with no driver-side loop anywhere. The group id
    * becomes a directory level ([[readCompacted]] drops it); that is what
    * lets a distributed writer GUARANTEE the one-file-per-group contract
    * (a bare repartition can hash two groups into one task and merge
    * their files). */
  def compact(df: DataFrame, plan: DataFrame, partCols: Seq[String],
              fileCol: String, path: String): Unit = {
    val groups = plan.select(
      (partCols.map(col) :+ col(fileCol) :+ col("compaction_group")): _*)
    df.join(broadcast(groups), partCols :+ fileCol)
      .repartition((partCols.map(col) :+ col("compaction_group")): _*)
      .write.mode("overwrite")
      .partitionBy((partCols :+ "compaction_group"): _*)
      .parquet(path)
  }

  /** Read back a [[compact]]ed table without the layout-only group
    * column (consumers see the original contract columns). */
  def readCompacted(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Parquet.read(spark, path).drop("compaction_group")

  // The round-9 version-log pair (writeVersionLog/readAsOf) is superseded
  // by [[TableFormat]]: an APPEND-ONLY log (one commit file per version,
  // CAS-published — never an O(history) whole-log rewrite), with the
  // zone-map/bloom manifests attached to each commit so time travel, file
  // skipping and targeted delete compose through ONE log read.

  /** Build a data-skipping MANIFEST of a written parquet table: one row
    * per physical file with the min/max of `keyCol` and the row count —
    * the zone-map Iceberg/Delta keep in their metadata layer, derived
    * here from the data itself. Build it ONCE at write time and store it
    * beside the table; a consumer's range predicate then prunes FILES
    * before any data is read ([[manifestScan]]). The aggregate is
    * file-keyed, so the manifest is file-count-sized — metadata scale. */
  def buildManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                    keyCol: String): DataFrame =
    Parquet.read(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"),
        count(lit(1)).as("n_rows"))

  /** Per-file BLOOM manifest — the point-lookup companion of
    * [[buildManifest]]'s range zones: one row per physical file with a
    * Bloom bitset of its `keyCol` values. Zone min/max is useless for a
    * point key the table is not clustered on; the bloom answers "could
    * this file contain key k" for scattered keys with no false negatives.
    * File-count-sized, OR-mergeable, built once at write time. */
  def buildBloomManifest(spark: org.apache.spark.sql.SparkSession, path: String,
                         keyCol: String, numBits: Int, numHashes: Int): DataFrame =
    Parquet.read(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(graft.Functions.bloom_agg(col(keyCol), numBits, numHashes).as("key_bloom"))

  /** TARGETED DELETE — "remove these keys everywhere" (the GDPR shape)
    * without rewriting the table: consult the bloom manifest to find the
    * files that COULD contain a delete key (no false negatives, so a
    * skipped file provably holds none), rewrite only those files minus
    * the keys, and carry every untouched file over BY REFERENCE. Returns
    * the resulting table (rewritten output ∪ untouched originals) plus
    * touched/total file counts. `numBits`/`numHashes` must match the
    * manifest build. At 100 TB deleting a few users touches the handful
    * of files their rows landed in — IO proportional to the bloom's hit
    * set, not the table. */
  def targetedDelete(spark: org.apache.spark.sql.SparkSession, manifest: DataFrame,
                     keyCol: String, deleteKeys: DataFrame, outPath: String,
                     numBits: Int, numHashes: Int): (DataFrame, Int, Int) = {
    val keys = deleteKeys.select(col(keyCol)).distinct()
    val hit = manifest.crossJoin(broadcast(keys))
      .filter(graft.Functions.bloom_contains(
        col("key_bloom"), col(keyCol), numBits, numHashes))
      .select(col("file")).distinct()
      .collect().map(_.getString(0)) // bounded control read: one row per file
    val all = manifest.select(col("file")).collect().map(_.getString(0))
    val untouched = all.filterNot(hit.contains)
    if (hit.nonEmpty)
      Parquet.read(spark, hit.toIndexedSeq: _*)
        .join(keys, Seq(keyCol), "left_anti")
        .write.mode("overwrite").parquet(outPath)
    val rewritten =
      if (hit.nonEmpty) Some(Parquet.read(spark, outPath)) else None
    val carried =
      if (untouched.nonEmpty) Some(Parquet.read(spark, untouched.toIndexedSeq: _*)) else None
    val result = (rewritten, carried) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalArgumentException(
        "targetedDelete: empty manifest")
    }
    (result, hit.length, all.length)
  }

  /** Range-scan a manifested table reading ONLY the files whose
    * [min_key, max_key] zone intersects [lo, hi]. The manifest filter is
    * a bounded control read (one row per file); the result is identical
    * to a full-scan filter — the zones are conservative, so no file
    * containing a matching row is ever skipped, and the exact predicate
    * still applies inside the surviving files. Returns the scan plus how
    * many files were read vs listed, so callers can assert skipping. */
  def manifestScan(spark: org.apache.spark.sql.SparkSession, manifest: DataFrame,
                   keyCol: String, lo: Column, hi: Column): (DataFrame, Int, Int) = {
    val total = manifest.count().toInt
    val selected = manifest
      .filter(col("min_key") <= hi && col("max_key") >= lo)
      .select(col("file")).collect().map(_.getString(0))
    val scan =
      if (selected.nonEmpty)
        Parquet.read(spark, selected.toIndexedSeq: _*)
          .filter(col(keyCol) >= lo && col(keyCol) <= hi)
      else {
        // no zone intersects: schema comes from the footers, the filter
        // folds to an empty LocalRelation — zero data pages read
        val all = manifest.select(col("file")).collect().map(_.getString(0))
        Parquet.read(spark, all.toIndexedSeq: _*).filter(lit(false))
      }
    (scan, selected.length, total)
  }

  /** Execute a [[reclusterPlan]]: every table partition containing at
    * least one needs_rewrite file is rewritten WHOLESALE — its rows
    * re-sorted by the clustering key and re-split into `filesPerPartition`
    * contiguous-range files — while healthy partitions pass through with
    * their original file grouping (and therefore their original,
    * already-within-budget clustering depth) intact. Partition-level
    * rewrite is what makes the post-condition provable: re-running
    * [[reclusterPlan]] on the new layout yields depth <= maxDepth
    * everywhere, because rewritten partitions have depth <= 2 (exactly 1
    * unless a single key value spans a file boundary) and untouched
    * partitions had no flagged file to begin with.
    *
    * Output layout is two-level — partCols dirs, then a `_file` dir with
    * one parquet file each (`z<k>` ids for rewritten partitions, the
    * original file id for passed-through ones), so a follow-up listing
    * re-derives per-file ranges from the directories alone.
    *
    * Scale shape: the flagged-partition set is metadata-scale (broadcast
    * semi/anti joins); the rewrite sort is WINDOWED PER TABLE PARTITION,
    * so it parallelizes across partitions and touches only decayed ones —
    * never a full-table sort. */
  def recluster(df: DataFrame, plan: DataFrame, partCols: Seq[String],
                fileCol: String, zCol: String, path: String,
                filesPerPartition: Int): Unit = {
    require(filesPerPartition >= 1,
      s"recluster: filesPerPartition must be >= 1, got $filesPerPartition")
    // ONE pass, ONE shuffle: the flagged set broadcasts onto a single
    // scan (no separate semi/anti legs re-reading the input), the
    // explicit repartition on partCols is the only exchange, and both
    // windows reuse that clustering (the ranking one adds a sort, never
    // a shuffle) — so the partitionBy write streams straight out of the
    // window with each task holding whole partitions, one file per
    // (partition, _file) directory. The previous shape shuffled the
    // rewritten rows twice (window exchange + layout repartition) and
    // scanned the input twice.
    val flagged = plan.filter(col("needs_rewrite"))
      .select(partCols.map(col): _*).distinct()
      .withColumn("_rw", lit(true))
    val wCnt = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*)
    val wRank = wCnt.orderBy(col(zCol), col(fileCol))
    df.join(broadcast(flagged), partCols, "left_outer")
      // explicit numPartitions: a column-only repartition is an AQE
      // coalesce target, and this stage's output volume is small enough
      // that AQE would fuse the sort+write into a couple of tasks —
      // serializing exactly the work that must fan out across the
      // cluster. Cores-many partitions keep the rewrite parallel.
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        partCols.map(col): _*)
      // contiguous z-runs of near-equal size: file k holds ranks in
      // [k*n/F, (k+1)*n/F) — ranges cannot overlap except a boundary tie;
      // pass-through partitions keep their original file grouping (their
      // ranks are computed and discarded — cheaper than a second scan)
      .withColumn("_file",
        when(col("_rw").isNotNull, concat(lit("z"),
          floor((row_number().over(wRank) - 1) * filesPerPartition /
            count(lit(1)).over(wCnt)).cast("string")))
        .otherwise(col(fileCol).cast("string")))
      .drop("_rw")
      .write.mode("overwrite")
      .partitionBy((partCols :+ "_file"): _*)
      .parquet(path)
  }

  /** Z-order / clustering maintenance planner — the second half of the
    * table-maintenance story next to [[compactionPlan]]: as appends land,
    * per-file key ranges start overlapping and range pruning decays, long
    * before size is a problem. Given a FILE LISTING with per-file
    * inclusive [zmin, zmax] key ranges (metadata-scale: one row per
    * file), compute each file's clustering DEPTH — how many files' ranges
    * contain its range start — and flag depth > maxDepth for rewrite (a
    * perfectly clustered partition has depth 1 everywhere; a point
    * predicate must open ~depth files).
    *
    * The computation is a boundary sweep, not an interval self-join:
    * +1 events at zmin, -1 events at zmax+1 (inclusive intervals), and
    * ONE window per table partition whose RANGE frame sums deltas at
    * positions <= the file's start. RANGE (value peers included) is
    * load-bearing here — files starting at the same key must see each
    * other — exactly the frame semantics [[compactionPlan]] had to avoid.
    * Planning parallelizes across partitions; no global sort, no
    * quadratic pair join. */
  def reclusterPlan(listing: DataFrame, partCols: Seq[String], fileCol: String,
                    zminCol: String, zmaxCol: String, maxDepth: Int): DataFrame = {
    require(partCols.nonEmpty, "reclusterPlan: need at least one partition column")
    require(maxDepth >= 1, s"reclusterPlan: maxDepth must be >= 1")
    val base = listing.select((partCols.map(col) :+ col(fileCol).as("_file") :+
      col(zminCol).cast("long").as("_zmin") :+
      col(zmaxCol).cast("long").as("_zmax")): _*)
      // a null or inverted range would emit its -1 event before its +1 (or
      // a null _pos sorting first), silently corrupting every OTHER file's
      // depth in the partition. Such files have no usable range stats —
      // exclude them here and route them to rewrite upstream (a file
      // without stats needs rewriting regardless of overlap).
      .filter(col("_zmin").isNotNull && col("_zmax").isNotNull &&
        col("_zmin") <= col("_zmax"))
    val starts = base.withColumn("_pos", col("_zmin")).withColumn("_delta", lit(1L))
    val ends = base.withColumn("_pos", col("_zmax") + 1L).withColumn("_delta", lit(-1L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*).orderBy(col("_pos"))
      .rangeBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    starts.unionByName(ends)
      .withColumn("_depth", sum(col("_delta")).over(w))
      .filter(col("_delta") === 1L)
      .select((partCols.map(col) :+ col("_file").as(fileCol) :+
        col("_zmin").as(zminCol) :+ col("_zmax").as(zmaxCol) :+
        col("_depth").as("depth") :+
        (col("_depth") > maxDepth).as("needs_rewrite")): _*)
  }
}
