package graft.streaming

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{Dedup, IncrementalMerge, Packing}
import graft.sources.Parquet

/** Structured-Streaming re-expression of the reference's incremental model
  * (SURVEY §2.9). The reference is batch-incremental: a watermark bounds each
  * extraction and the merge deletes+reloads everything at-or-after the window
  * start, so late/mutated rows are corrected by re-extraction. Streaming
  * equivalents:
  *
  *  - event-time watermark + windowed aggregation for the grouped snapshot
  *    scans (S7/S8 shapes);
  *  - watermark + dropDuplicates(id) replacing the delete+reload dedup
  *    (naive append mode would duplicate mutated rows — SURVEY §7.5 risk 6);
  *  - foreachBatch + the batch merge for sink-side correct-by-reload;
  *  - mapGroupsWithState for per-key running state (account balance).
  *
  * All operators take an unbounded `readStream` DataFrame and return the
  * transformed streaming frame; sinks/triggers stay at the call site.
  */
object Streams {

  /** Hourly per-type event aggregate with a watermark so state is bounded:
    * late rows beyond `lateness` are dropped instead of growing state
    * forever (the streaming analog of q14's batch aggregate). */
  def hourlyEventStats(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Gap sessionization on unbounded input: `session_window` + watermark.
    * One open session of state per key; a session closes and is emitted
    * (append mode) once the watermark passes its end. Sessions group the
    * same events as the batch gaps-and-islands form (q33) and share its
    * start bound; `session_end` here is Spark's window end = last event
    * + gap, where q33 emits the last event timestamp itself. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 gap: String = "10 minutes", lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(col(userCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming dedup by id within the watermark horizon — the reference's
    * replace-the-window merge re-expressed for append streams: a mutated row
    * re-arriving within `lateness` replaces nothing downstream because only
    * its first occurrence passes. Dedup is on the id ALONE
    * (dropDuplicatesWithinWatermark), so a mutation that also moved the
    * event time is still suppressed — dropDuplicates(id, ts) would let it
    * through as a "new" (id, ts) pair. */
  def dedupeById(events: DataFrame, idCol: String, tsCol: String,
                 lateness: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, lateness).dropDuplicatesWithinWatermark(idCol)

  /** Per-account running balance via explicit keyed state
    * (mapGroupsWithState) — the stateful analog of the A6 running-total
    * window for unbounded input. State is one double per key, so memory is
    * bounded by key cardinality, not stream length. */
  final case class BalanceUpdate(accountId: Long, amount: Double)
  final case class AccountBalance(accountId: Long, balance: Double, nUpdates: Long)

  def runningBalances(updates: Dataset[BalanceUpdate]): Dataset[AccountBalance] = {
    import updates.sparkSession.implicits._
    updates
      .groupByKey(_.accountId)
      .mapGroupsWithState[AccountBalance, AccountBalance](GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[BalanceUpdate], state: GroupState[AccountBalance]) =>
          val prev = state.getOption.getOrElse(AccountBalance(id, 0.0, 0L))
          var bal = prev.balance
          var n = prev.nUpdates
          rows.foreach { u => bal += u.amount; n += 1 }
          val next = AccountBalance(id, bal, n)
          state.update(next)
          next
      }
  }

  /** Streaming sequential throttle — the streaming twin of
    * [[graft.operators.Analytics.throttle]]: per key, emit an event iff it
    * is at least `minGapMicros` after the last EMITTED event, with the
    * anchor advancing on emits only. flatMapGroupsWithState (not
    * mapGroups: a batch may emit 0..n rows per key), state is ONE long per
    * key — bounded by key cardinality, not stream length.
    *
    * Semantics note: each micro-batch's rows are sorted by (tsMicros, tie)
    * before folding, so a single batch folds exactly like the batch
    * operator; ACROSS batches the fold is arrival-order (an event arriving
    * late, after a later event was already emitted, is judged against the
    * advanced anchor — the inherent streaming/batch divergence of any
    * at-most-once-per-interval gate; pair with [[dedupeById]]-style
    * watermark hygiene upstream if late data matters). */
  final case class ThrottleEvent(key: String, tsMicros: Long, tie: Long)

  def throttle(events: Dataset[ThrottleEvent],
               minGapMicros: Long): Dataset[ThrottleEvent] = {
    require(minGapMicros > 0, s"throttle: minGapMicros must be > 0")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, ThrottleEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[ThrottleEvent], state: GroupState[Long]) =>
          var lastKept = state.getOption.getOrElse(Long.MinValue)
          val kept = rows.toSeq.sortBy(e => (e.tsMicros, e.tie)).filter { e =>
            val keep = lastKept == Long.MinValue || e.tsMicros - lastKept >= minGapMicros
            if (keep) lastKept = e.tsMicros
            keep
          }
          if (kept.nonEmpty || state.exists) state.update(lastKept)
          kept.iterator
      }
  }

  /** Streaming decontamination gate — the stream-static enrichment shape:
    * incoming documents are flagged against a STATIC benchmark set without
    * any streaming state. The benchmark's distinct gram set collapses to a
    * ONE-ROW static frame carrying the sorted gram array (eval suites are
    * megabytes; the array broadcasts), the stream equi-joins it on a
    * constant key (stateless, append-mode friendly), and the overlap is a
    * row-local sorted-array intersection — no explode, no aggregation, no
    * watermark. Matches the batch operator's numbers exactly:
    * |intersect| of distinct gram sets == the join+count formulation in
    * operators.Decontaminate. */
  def contaminationGate(docStream: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    import graft.Functions._
    val benchGrams = bench
      .select(explode(ngram_hash_set(col(textCol), n)).as("_g"))
      .distinct()
      .agg(sort_array(collect_list(col("_g"))).as("_bench_grams"))
      .withColumn("_k", lit(1))
    docStream
      // NULL-text docs are dropped, matching the batch operator (whose
      // explode of a NULL gram set eliminates the row)
      .filter(col(textCol).isNotNull)
      .select(col(idCol), col(textCol),
        ngram_hash_set(col(textCol), n).as("_gset"), lit(1).as("_k"))
      .join(benchGrams, Seq("_k"), "left")
      .withColumn("n_grams", size(col("_gset")))
      .withColumn("n_matched",
        coalesce(size(array_intersect(col("_gset"), col("_bench_grams"))), lit(0)))
      .withColumn("overlap_ratio",
        col("n_matched").cast("double") / col("n_grams"))
      .withColumn("contaminated",
        when(col("overlap_ratio") >= threshold, 1).otherwise(0))
      .drop("_k", "_gset", "_bench_grams")
  }

  /** Stream-stream interval join (attribution shape): each `right` event
    * joins `left` rows with the same key whose timestamp lies in
    * [rightTs - horizon, rightTs]. Both sides carry watermarks AND the join
    * condition bounds the timestamps in both directions — that pair is what
    * lets Spark expire join state: a left row is dropped once the right
    * watermark passes leftTs + horizon, a right row once the left watermark
    * passes rightTs. Without the time bounds the state would grow forever.
    * Inner join: an unattributed right event emits nothing (use the batch
    * AsOfJoin for last-touch attribution with nulls). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   key: String, leftTs: String, rightTs: String,
                   horizon: String = "1 hour",
                   lateness: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    l.join(r, l(key) === r(key) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $horizon"))
      .drop(r(key))
  }

  /** Sink-side keyed MERGE for `foreachBatch` — the streaming twin of
    * [[graft.operators.Upsert]] (the reference's update/create mutation
    * family): within each micro-batch the LATEST row per key wins (by
    * `verCol` — a mutation stream can carry several updates to one id in a
    * batch), then matched target keys are replaced and new keys inserted.
    * Idempotent per batch content, so retries are safe.
    *
    * Replay skipping is batch-id based, and batch ids are only monotonic
    * WITHIN one checkpoint lineage. Pass the query's checkpoint location
    * as `lineage` and the skip gate only fires when the published marker
    * came from the same lineage — restarting with a fresh checkpoint
    * against an existing target then reprocesses (content-idempotent)
    * instead of silently dropping every batch id the old lineage already
    * reached. With the default empty `lineage` the target is bound to ONE
    * checkpoint lineage for its lifetime. */
  def foreachBatchUpsert(targetPath: String, idCol: String,
                         verCol: String, lineage: String = ""): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val (lastId, lastLineage) = lastPublished(spark, targetPath)
      if (lastLineage != lineage || batchId > lastId) {
        val latest = batch
          .withColumn("_rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(idCol)).orderBy(col(verCol).desc)))
          .filter(col("_rn") === 1).drop("_rn")
        val existing = publishedSnapshot(spark, targetPath).getOrElse(
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], latest.schema))
        val merged = graft.operators.Upsert.upsert(existing, latest, idCol)
        publishAtomic(spark, targetPath, merged, batchId, lineage)
      }
    }

  /** Sink-side continuous-ingest dedup for `foreachBatch` — the streaming
    * twin of [[graft.operators.Dedup.incrementalDedup]]: each micro-batch is
    * deduped against the CURRENT stored corpus (exact re-crawl drop + LSH
    * near-dup, batch-vs-corpus and within-batch) and only the survivors are
    * appended, so the corpus stays near-dup-free as it grows without ever
    * re-pairing itself. NOTE: this variant re-reads and re-shingles the
    * corpus each batch — simple and fine at moderate scale; for the
    * O(batch)-per-ingest production shape use
    * [[foreachBatchIndexedDedup]], which maintains the stored index. A retried batch re-dedups against a corpus that
    * already contains its survivors — every previously-appended row is then
    * an exact dup and the retry appends nothing new (idempotent under
    * at-least-once delivery, up to a partially-visible failed append, which
    * the retry completes rather than duplicates). */
  def foreachBatchIncrementalDedup(corpusPath: String, idCol: String,
                                   textCol: String, threshold: Double = 0.5)
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, _: Long) => {
      val spark = batch.sparkSession
      if (!IncrementalMerge.pathExists(spark, corpusPath))
        // first batch bootstraps the corpus: within-batch dedup only
        Dedup.incrementalDedup(batch.limit(0), batch, idCol, textCol,
            threshold = threshold)
          .write.mode("overwrite").parquet(corpusPath)
      else
        Dedup.incrementalDedup(Parquet.read(spark, corpusPath), batch,
            idCol, textCol, threshold = threshold)
          .write.mode("append").parquet(corpusPath)
    }

  /** Sink-side continuous-ingest dedup with a MAINTAINED stored index —
    * the O(batch)-per-ingest production shape
    * ([[foreachBatchIncrementalDedup]] re-reads and re-shingles the whole
    * corpus every micro-batch, which is O(corpus) per batch and untenable
    * at 100 TB). Layout under `root` — every index artifact is PARTITIONED
    * on a bucket of its probe key, so each micro-batch's stored-side read
    * is partition-pruned to the buckets the batch itself touches, never an
    * O(corpus-index) scan:
    *
    *   root/corpus/b<id>/           batch id's surviving docs
    *   root/sets/b<id>/_sb=N/       shingle sets, bucketed by hash(_jid)
    *   root/bands/b<id>/_bb=N/      (band, bucket) rows, bucketed by
    *                                hash(band, bucket)
    *   root/hashes/b<id>/_hb=N/     content hashes, bucketed by hash(_h)
    *   root/_committed.<id>         monotonic commit marker, created LAST
    *                                (carries the checkpoint lineage)
    *
    * Per batch: read ONLY the committed index dirs (ids <= the highest
    * marker — a crashed batch's partial files are invisible, so a batch
    * can never see its own torn output and drop real docs as self-dups),
    * and only the PARTITIONS matching the batch's own hash / band-bucket /
    * candidate-id buckets (distinct bucket values are bounded control
    * collects, <= `storeBuckets` rows each, that become partition filters
    * on the bucketed store — [[Dedup.incrementalDedupStore]]'s loaders).
    * Dedup the batch against that pruned index, overwrite this batch's own
    * dirs, then advance the marker. Crash at any point -> the marker still
    * names the previous batch, the retry overwrites the partial dirs and
    * commits; a replay after commit is skipped by the marker. A batch with
    * zero survivors commits nothing — its replay re-dedups to zero
    * survivors again (content-idempotent). Exactly-once effective under
    * at-least-once delivery.
    *
    * `k`/`bands`/`rowsPerBand`/`storeBuckets` must match across every
    * batch of one root (they define the stored index's keys and
    * partitioning). `lineage` names the checkpoint lineage (pass the
    * query's checkpoint location): batch ids are only monotonic WITHIN one
    * lineage, and appends are not content-idempotent across lineages (a
    * replayed id would be silently skipped, a colliding id would overwrite
    * a committed batch dir) — a mismatch over a non-empty corpus throws. */
  def foreachBatchIndexedDedup(root: String, idCol: String, textCol: String,
                               k: Int = 5, bands: Int = 4, rowsPerBand: Int = 4,
                               threshold: Double = 0.5, maxBucketSize: Int = 1000,
                               storeBuckets: Int = 64, lineage: String = "")
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val (fs, rootP) = hadoopFs(spark, root)
      val (last, storedLineage) = lastCommittedWithLineage(fs, rootP)
      if (last >= 0L)
        requireSameLineage("foreachBatchIndexedDedup", root, storedLineage, lineage)
      if (batchId > last) {
        val survivors = dedupVsCommittedIndex(spark, fs, rootP, batch, idCol,
            textCol, k, bands, rowsPerBand, threshold, maxBucketSize,
            storeBuckets, last)
          .localCheckpoint() // one pass feeds the corpus write + the index writes
        if (!survivors.isEmpty) {
          survivors.write.mode("overwrite").parquet(s"$root/corpus/b$batchId")
          writeIndexDirs(root, batchId, survivors, idCol, textCol,
            k, bands, rowsPerBand, storeBuckets)
          commitBatchMarker(fs, rootP, batchId, lineage) // commit point, written LAST
        }
      }
    }

  /** The shared dedup-vs-store core of [[foreachBatchIndexedDedup]] and
    * [[foreachBatchCorpusPipeline]]: pruned partition reads of the COMMITTED
    * hashes/bands/sets stores (ids <= `last` only — torn dirs are invisible)
    * feed [[Dedup.incrementalDedupStore]]; stored-side I/O is bounded by the
    * buckets the batch itself touches, never an O(corpus-index) scan. */
  private def dedupVsCommittedIndex(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, rootP: org.apache.hadoop.fs.Path,
      batch: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Int, storeBuckets: Int, last: Long): DataFrame = {
    def committedDirs(kind: String): Seq[String] =
      committedKindDirs(fs, rootP, kind, last)
    // schemas for the pruned reads come from an EMPTY local index of the
    // batch itself (plan-only — lazy checkpoints run no job), so a
    // committed dir whose partitioned write produced zero files (an
    // empty partitioned frame writes no part files to infer from) still
    // reads as a typed empty frame
    val shape = Dedup.lshIndex(batch.limit(0), idCol, textCol, k, bands, rowsPerBand)
    def bucketsOf(probe: DataFrame, key: Column): Seq[Any] =
      probe.select(pmod(hash(key), lit(storeBuckets)).as("_pb"))
        .distinct().collect().map(_.get(0)).toSeq
    val hashesFor: DataFrame => DataFrame = probe => {
      val ds = committedDirs("hashes")
      if (ds.isEmpty) probe.limit(0)
      else prunedPartitionRead(spark,
        ds, probe.schema.add("_hb", "int"), "_hb", bucketsOf(probe, col("_h")))
    }
    val bandsFor: DataFrame => DataFrame = probe => {
      val ds = committedDirs("bands")
      if (ds.isEmpty) shape.bands.limit(0)
      else prunedPartitionRead(spark, ds, shape.bands.schema.add("_bb", "int"),
        "_bb", bucketsOf(probe, struct(col("band"), col("bucket"))))
    }
    val setsFor: DataFrame => DataFrame = probe => {
      val ds = committedDirs("sets")
      if (ds.isEmpty) shape.sets.select(col("_jid"), col("_jset")).limit(0)
      else prunedPartitionRead(spark, ds, shape.sets.schema.add("_sb", "int"),
        "_sb", bucketsOf(probe, col("_jid")))
    }
    Dedup.incrementalDedupStore(hashesFor, bandsFor, setsFor,
      batch, idCol, textCol, k, bands, rowsPerBand, threshold, maxBucketSize)
  }

  /** Write one batch's bucket-partitioned LSH index dirs (sets/bands/hashes)
    * under `root` — overwrite mode, so a torn prior attempt is replaced. */
  private def writeIndexDirs(root: String, batchId: Long, survivors: DataFrame,
      idCol: String, textCol: String, k: Int, bands: Int, rowsPerBand: Int,
      storeBuckets: Int): Unit = {
    def bucketed(key: Column): Column = pmod(hash(key), lit(storeBuckets))
    val sIdx = Dedup.lshIndex(survivors, idCol, textCol, k, bands, rowsPerBand)
    sIdx.sets.withColumn("_sb", bucketed(col("_jid")))
      .write.partitionBy("_sb").mode("overwrite").parquet(s"$root/sets/b$batchId")
    sIdx.bands.withColumn("_bb", bucketed(struct(col("band"), col("bucket"))))
      .write.partitionBy("_bb").mode("overwrite").parquet(s"$root/bands/b$batchId")
    sIdx.sets.select(col("_jhash").as("_h")).distinct()
      .withColumn("_hb", bucketed(col("_h")))
      .write.partitionBy("_hb").mode("overwrite").parquet(s"$root/hashes/b$batchId")
  }

  /** End-to-end streaming CORPUS PIPELINE — the composed ingest chain a
    * training-data build runs continuously: per micro-batch,
    *
    *   1. dedup against the maintained stored LSH index
    *      (the [[foreachBatchIndexedDedup]] machinery: exact re-crawl drop +
    *      near-dup vs corpus and within-batch, O(batch) stored-side I/O);
    *   2. quality-gate the dedup survivors (`quality`, a predicate over the
    *      [[graft.operators.TextAnalysis.qualitySignals]] columns — one
    *      fused kernel pass);
    *   3. pack the ACCEPTED docs into fixed-length training sequences
    *      ([[graft.operators.Packing.packSequences]] inside hash shards) and
    *      append the layout as this batch's packed export.
    *
    * under ONE commit discipline: all stage dirs for batch id
    * (`sets`/`bands`/`hashes` from ALL dedup survivors, `corpus` + `packed`
    * from the accepted docs) are written first, then a SINGLE
    * `_committed.<id>` marker publishes every stage atomically-enough — a
    * crash ANYWHERE inside the chain leaves the marker at the previous
    * batch, every torn dir invisible to readers (they read committed ids
    * only), and the retry recomputes the same survivors against the same
    * committed state and overwrites the torn dirs (exactly-once effective
    * under at-least-once delivery; StreamingSpec drives a kill window at
    * each stage). Replays of committed ids are skipped by the marker.
    *
    * Design choices a 100 TB corpus wants:
    *  - ALL dedup survivors enter the index, quality-rejected ones too: a
    *    re-crawl of a rejected doc is still a duplicate — reject once,
    *    remember forever (otherwise every crawl re-pays its near-dup join);
    *  - `corpus`/`packed` carry only the accepted docs — the product;
    *  - packing is per (batch, shard): sequences are addressed
    *    (batch, shard, seq_id), so no global token offset ever serializes
    *    the stream, and shards parallelize the window within a batch.
    *
    * `lineage` follows the usual cross-checkpoint rule ([[requireSameLineage]]). */
  def foreachBatchCorpusPipeline(root: String, idCol: String, textCol: String,
      quality: Column, seqTokens: Int, shards: Int = 16,
      k: Int = 5, bands: Int = 4, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 1000,
      storeBuckets: Int = 64, lineage: String = ""): (DataFrame, Long) => Unit =
    corpusPipelineWithFailpoint(root, idCol, textCol, quality, seqTokens,
      shards, k, bands, rowsPerBand, threshold, maxBucketSize, storeBuckets,
      lineage, _ => ())

  /** [[foreachBatchCorpusPipeline]] with a crash-injection hook for the
    * kill-window spec: `failpoint` is invoked after each stage's write
    * ("index", "corpus", "packed") and may throw to simulate a kill at
    * that point in the chain. Production callers use the public wrapper
    * (no-op hook). */
  private[graft] def corpusPipelineWithFailpoint(root: String, idCol: String,
      textCol: String, quality: Column, seqTokens: Int, shards: Int,
      k: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucketSize: Int, storeBuckets: Int, lineage: String,
      failpoint: String => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      require(seqTokens > 0 && shards > 0,
        s"corpusPipeline: seqTokens and shards must be positive, got $seqTokens/$shards")
      val spark = batch.sparkSession
      val (fs, rootP) = hadoopFs(spark, root)
      val (last, storedLineage) = lastCommittedWithLineage(fs, rootP)
      if (last >= 0L)
        requireSameLineage("foreachBatchCorpusPipeline", root, storedLineage, lineage)
      if (batchId > last) {
        val survivors = dedupVsCommittedIndex(spark, fs, rootP, batch, idCol,
            textCol, k, bands, rowsPerBand, threshold, maxBucketSize,
            storeBuckets, last)
          .localCheckpoint() // one dedup pass feeds the index + the gate
        // a batch with zero dedup survivors commits nothing: its replay
        // re-dedups to zero again (content-idempotent)
        if (!survivors.isEmpty) {
          writeIndexDirs(root, batchId, survivors, idCol, textCol,
            k, bands, rowsPerBand, storeBuckets)
          failpoint("index")
          // the gate evaluates over a (id, text) PROJECTION, and accepted
          // ids semi-join back — so a batch column that happens to share a
          // qualitySignals output name (n_tokens, quality_score, ...) is
          // never silently replaced by the computed signal in the outputs
          val acceptedIds = graft.operators.TextAnalysis
            .qualitySignals(survivors.select(col(idCol), col(textCol)), textCol)
            .filter(quality)
            .select(col(idCol))
          val accepted = survivors.join(acceptedIds, Seq(idCol), "left_semi")
            .localCheckpoint() // one gate pass feeds corpus + packing
          accepted.write.mode("overwrite").parquet(s"$root/corpus/b$batchId")
          failpoint("corpus")
          Packing.packSequences(
              accepted.withColumn("_shard", pmod(hash(col(idCol)), lit(shards))),
              idCol, textCol, seqTokens, Seq("_shard"))
            .write.mode("overwrite").parquet(s"$root/packed/b$batchId")
          failpoint("packed")
          commitBatchMarker(fs, rootP, batchId, lineage) // commit point, LAST
        }
      }
    }

  /** Streaming micro-batch APPEND into the [[graft.operators.TableFormat]]
    * log — the full unification of the foreachBatch discipline with the
    * table-format commit protocol: each batch's rows land as new data
    * files and one CAS-published commit makes them visible, so the sink
    * needs NO side channel of marker files — the replay gate (`batch_id`,
    * `lineage`) lives in the commit's PROPERTIES, which maintenance
    * commits (compaction, targeted delete) carry forward, letting ingest
    * interleave with table maintenance under one log. What falls out for
    * free: exactly-once (a crash between the data write and the commit
    * leaves orphan files no snapshot references — the retry writes fresh
    * files and commits once; a replayed committed id is skipped by the
    * gate), ingest-history TIME TRAVEL ("the table as of batch 40"), and
    * zone/bloom stats on every ingested file from the same single commit
    * read every query path uses.
    *
    * Contract: one appender per lineage (the foreachBatch guarantee);
    * concurrent MAINTENANCE commits are safe — the optimistic commit loop
    * re-derives the append against the winner's file set. Binding an
    * appender to a table bootstrapped by [[graft.operators.TableFormat.commitFiles]]
    * is allowed (the gate initializes); rebinding a STREAM-written table
    * to a different checkpoint lineage throws, the usual cross-lineage
    * rule. Orphan files from crashed attempts are unreferenced garbage a
    * retention sweep can delete by diffing `dataDir` against the log. */
  def foreachBatchTableAppend(root: String, dataDir: String, keyCol: String,
                              numBits: Int = 1 << 14, numHashes: Int = 5,
                              lineage: String = ""): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      import graft.operators.TableFormat
      val spark = batch.sparkSession
      val vs = TableFormat.versions(spark, root)
      val cur = vs.lastOption.map(v => TableFormat.snapshot(spark, root, Some(v)))
      cur.foreach(c => require(c.keyCol == keyCol,
        s"foreachBatchTableAppend: table at $root is keyed on '${c.keyCol}', not '$keyCol'"))
      val streamWritten = cur.exists(_.props.contains("batch_id"))
      val storedLineage = cur.flatMap(_.props.get("lineage")).getOrElse("")
      if (streamWritten && storedLineage != lineage)
        requireSameLineage("foreachBatchTableAppend", root, storedLineage, lineage)
      val lastBatch = cur.flatMap(_.props.get("batch_id")).map(_.toLong).getOrElse(-1L)
      if (batchId > lastBatch) {
        val gate = Map("batch_id" -> batchId.toString, "lineage" -> lineage)
        val out = s"$dataDir/append-$batchId-${java.util.UUID.randomUUID().toString}"
        batch.write.mode("overwrite").parquet(out)
        val files = TableFormat.listParquet(spark, out)
        // emptiness from the written footers, on the driver (a
        // `batch.isEmpty` probe would run the batch's plan a second
        // time): an empty batch commits nothing and leaves no files
        if (Parquet.rowCount(spark, files) == 0L) {
          val (fs, outP) = hadoopFs(spark, out)
          fs.delete(outP, true)
        } else if (cur.isDefined)
          // the shared ingest commit: schema evolves add-only with the
          // batch, bloom geometry inherited from the table, gate overlaid
          TableFormat.appendFiles(spark, root, files, extraProps = gate)
        else {
          // bootstrap: first commit fixes key/bloom geometry and schema
          val stats = TableFormat.fileStats(spark, files, keyCol, numBits, numHashes)
          TableFormat.commitTransform(spark, root, keyCol, numBits, numHashes,
            curOpt => (curOpt.map(_.files).getOrElse(Seq.empty) ++ stats).sortBy(_.file),
            deriveProps = curOpt => curOpt.map(_.props).getOrElse(Map.empty) ++ gate,
            deriveSchema = _ => Some(batch.schema.toDDL),
            op = Some("append"))
        }
      }
    }

  /** EXPECTATION-GATED streaming ingest — the streaming twin of
    * [[graft.operators.TableFormat.appendWithQuarantine]] (the DLT
    * expect-or-drop mode): each micro-batch splits against the main
    * table's CHECK constraints, clean rows append, violators land in
    * the quarantine table with their `_violated` reasons. Exactly-once
    * under at-least-once delivery derives from ONE gate — the
    * `batch_id`/`lineage` props on the MAIN table's commit (an
    * all-violation batch advances it with a metadata-only commit), so a
    * replayed batch moves NEITHER table. */
  def foreachBatchQuarantineAppend(root: String, quarantineRoot: String,
                                   dataDir: String, lineage: String = "")
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      import graft.operators.TableFormat
      val spark = batch.sparkSession
      val cur = TableFormat.snapshot(spark, root)
      val streamWritten = cur.props.contains("batch_id")
      val storedLineage = cur.props.getOrElse("lineage", "")
      if (streamWritten && storedLineage != lineage)
        requireSameLineage("foreachBatchQuarantineAppend", root,
          storedLineage, lineage)
      val lastBatch = cur.props.get("batch_id").map(_.toLong).getOrElse(-1L)
      if (batchId > lastBatch && !batch.isEmpty) {
        TableFormat.appendWithQuarantine(spark, root, quarantineRoot, batch,
          dataDir, extraProps =
            Map("batch_id" -> batchId.toString, "lineage" -> lineage))
      }
    }

  /** CDC-apply streaming sink: each micro-batch lands as ONE
    * merge-on-read upsert commit on a [[graft.operators.TableFormat]]
    * table — batch file + key manifest, O(batch) IO regardless of table
    * size (no touched-file detection, no rewrite; contrast
    * [[foreachBatchMerge]]'s correct-by-reload snapshot rewrite). The
    * replay gate is the same in-log discipline as
    * [[foreachBatchTableAppend]]: `batch_id`/`lineage` live in the commit
    * properties, so exactly-once apply under at-least-once foreachBatch
    * delivery derives from the log itself — a crash between the batch
    * write and the commit leaves only orphan files (invisible; swept by
    * retention) and the retry re-applies identically. Latest-per-key
    * within the batch wins (ordered by `verCol` descending), which also
    * satisfies [[graft.operators.TableFormat.upsertRowsMoR]]'s ANSI
    * cardinality rule before the commit. Run [[graft.operators.TableFormat.compact]]
    * on a maintenance cadence to pay down the manifest chain. */
  def foreachBatchTableUpsertMoR(root: String, dataDir: String, keyCol: String,
                                 verCol: String, numBits: Int = 1 << 14,
                                 numHashes: Int = 5, lineage: String = "")
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      import graft.operators.TableFormat
      val spark = batch.sparkSession
      val vs = TableFormat.versions(spark, root)
      val cur = vs.lastOption.map(v => TableFormat.snapshot(spark, root, Some(v)))
      cur.foreach(c => require(c.keyCol == keyCol,
        s"foreachBatchTableUpsertMoR: table at $root is keyed on " +
          s"'${c.keyCol}', not '$keyCol'"))
      val streamWritten = cur.exists(_.props.contains("batch_id"))
      val storedLineage = cur.flatMap(_.props.get("lineage")).getOrElse("")
      if (streamWritten && storedLineage != lineage)
        requireSameLineage("foreachBatchTableUpsertMoR", root, storedLineage, lineage)
      val lastBatch = cur.flatMap(_.props.get("batch_id")).map(_.toLong).getOrElse(-1L)
      if (batchId > lastBatch && !batch.isEmpty) {
        val latest = batch
          .withColumn("_rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col(keyCol)).orderBy(col(verCol).desc)))
          .filter(col("_rn") === 1).drop("_rn")
        val gate = Map("batch_id" -> batchId.toString, "lineage" -> lineage)
        if (cur.isDefined)
          TableFormat.upsertRowsMoR(spark, root, dataDir, latest,
            extraProps = gate)
        else {
          // bootstrap: plain first commit (nothing to mask yet) fixes
          // key/bloom geometry, schema, and the gate
          val out = s"$dataDir/upsert-$batchId-${java.util.UUID.randomUUID().toString}"
          latest.write.mode("overwrite").parquet(out)
          val files = TableFormat.listParquet(spark, out)
          val stats = TableFormat.fileStats(spark, files, keyCol, numBits, numHashes)
          TableFormat.commitTransform(spark, root, keyCol, numBits, numHashes,
            curOpt => (curOpt.map(_.files).getOrElse(Seq.empty) ++ stats).sortBy(_.file),
            deriveProps = curOpt => curOpt.map(_.props).getOrElse(Map.empty) ++ gate,
            deriveSchema = _ => Some(latest.schema.toDDL),
            op = Some("append"))
        }
      }
    }

  /** The packed-sequence export maintained by [[foreachBatchCorpusPipeline]]
    * — committed batches only. Rows address training sequences as
    * (batch dir, _shard, seq_id); [[indexedCorpus]] reads the same
    * pipeline's accepted-document corpus. */
  def packedExport(spark: SparkSession, root: String): DataFrame = {
    val (fs, rootP) = hadoopFs(spark, root)
    val last = lastCommittedBatch(fs, rootP)
    val dirs = committedKindDirs(fs, rootP, "packed", last)
    require(dirs.nonEmpty, s"packedExport: nothing committed under $root")
    Parquet.read(spark, dirs: _*)
  }

  /** Sink-side continuous SEMANTIC (embedding) dedup with a persisted
    * coarse quantizer — the embedding twin of [[foreachBatchIndexedDedup]]
    * and the streaming form of SemDeDup ingest: each micro-batch of
    * (id, vector) rows is deduped against the stored corpus inside shared
    * IVF cells only (never all-pairs), and survivors are appended as
    * batch-versioned cell-indexed parquet. Layout under `root`:
    *
    *   root/codebook/       the coarse quantizer — derived from the FIRST
    *                        batch ([[graft.operators.Similarity.derivedCodebook]]:
    *                        sqrt(N) corpus-sampled centroids) and then
    *                        REUSED VERBATIM by every later batch, because a
    *                        cell id must mean the same thing for the
    *                        corpus's whole lifetime
    *   root/vectors/b<id>/cell=N/  batch id's surviving (id, vec) rows,
    *                               PARTITIONED by their cell
    *   root/_committed.<id>        monotonic commit marker, created LAST
    *                               (carries the checkpoint lineage)
    *
    * Per batch: assign the batch row-local to cells (broadcast codebook,
    * codegen argmax — no shuffle), read the committed vector dirs PRUNED
    * to the batch's own distinct cells (a bounded control collect,
    * <= nlist values, that becomes a partition filter — a batch touching
    * k cells opens only those k partitions of the store, never the whole
    * corpus), drop any batch vector within `threshold` cosine of a stored
    * same-cell vector or of a smaller-id same-batch vector, append
    * survivors cell-partitioned, advance the marker. Work per batch is
    * O(batch x cell population), never O(corpus^2) — and stored-side I/O
    * is O(touched cells), never O(corpus). Crash at any point: the marker
    * still names the previous batch, partial dirs are invisible, the
    * retry overwrites and commits (the codebook derivation is
    * deterministic, so a retried first batch rewrites it byte-identically).
    * Replays of committed ids are skipped. Recall trade matches
    * SemDeDup/IVF-at-nprobe=1: near-dups straddling a cell boundary are
    * missed.
    *
    * `lineage` names the checkpoint lineage (pass the query's checkpoint
    * location): batch ids are only monotonic WITHIN one lineage, and
    * appends are not content-idempotent across lineages (a replayed id
    * would be silently skipped, a colliding id would overwrite a committed
    * batch dir) — a mismatch over a non-empty corpus throws. */
  def foreachBatchEmbeddingDedup(root: String, idCol: String, vecCol: String,
                                 threshold: Double, lineage: String = "")
      : (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val (fs, rootP) = hadoopFs(spark, root)
      val (last, storedLineage) = lastCommittedWithLineage(fs, rootP)
      if (last >= 0L)
        requireSameLineage("foreachBatchEmbeddingDedup", root, storedLineage, lineage)
      // an empty micro-batch must not bootstrap: it would persist an EMPTY
      // codebook and every later cell_assign would return null forever.
      // Not committing its marker is safe — there is nothing to replay-skip.
      if (batchId > last && !batch.isEmpty) {
        import graft.Functions.{cell_assign, cosine, l2_norm}
        val cbPath = new org.apache.hadoop.fs.Path(rootP, "codebook")
        val bootstrap = last < 0L
        // null AND zero-norm vectors are excluded before anything else: a
        // sampled null would NPE the codebook derivation on every retry
        // (the md5 order is deterministic), and a zero-norm vector's
        // cosine is NaN — which compares GREATER than any threshold under
        // Spark's NaN ordering, so one stored zero-norm row would
        // mass-dedup its whole cell (and a zero-norm CENTROID would NaN
        // every assignment). This is the m05 zero-norm posture.
        val usable = batch
          .select(col(idCol).as("id"),
            col(vecCol).cast("array<double>").as("vec"))
          .filter(col("vec").isNotNull && l2_norm(col("vec")) > 0)
        // bootstrap derives the codebook from the batch itself; later
        // batches reload the persisted one — a cell id must mean the same
        // thing for the corpus's whole lifetime. Nothing is persisted
        // yet: the write happens only after the batch proves assignable.
        val codebook =
          if (bootstrap)
            graft.operators.Similarity.derivedCodebook(usable, "id", "vec")
          else spark.sparkContext.broadcast(
            Parquet.read(spark, cbPath.toString)
              .orderBy(col("cid")).select(col("vec"))
              .collect().map(_.getSeq[Double](0).toArray))
        // id stays UNTYPED (like foreachBatchIndexedDedup's): casting to
        // long would null out string ids and silently disable every
        // dedup comparison
        val assigned = usable
          .withColumn("cell", cell_assign(col("vec"), codebook))
          // null cell = mis-dimensioned vector (or empty bootstrap
          // codebook): excluded — a null cell would never match any join
          // key, so such rows would pile up as permanently undedupable
          .filter(col("cell").isNotNull)
          .localCheckpoint() // one kernel pass feeds both join legs + write
        // bootstrap-gate on the USABLE result, not the raw row count: a
        // first batch of only null / zero-norm / mis-dimensioned vectors
        // derives an unusable codebook — persisting it (or its marker)
        // would null every later assignment and silently drop the whole
        // corpus forever. Skip the batch entirely instead.
        if (!bootstrap || !assigned.isEmpty) {
          if (bootstrap) {
            val rows = codebook.value.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
            spark.createDataFrame(rows).toDF("cid", "vec")
              .coalesce(1).write.mode("overwrite").parquet(cbPath.toString)
          }
          val storedDirs = committedKindDirs(fs, rootP, "vectors", last)
          // the batch's touched cells — bounded control collect (<= nlist)
          // that prunes the stored read to matching cell= partitions
          val batchCells = assigned.select("cell").distinct()
            .collect().map(_.get(0)).toSeq
          val vsStored =
            if (storedDirs.isEmpty) assigned.select("id").limit(0)
            else assigned.join(
                prunedPartitionRead(spark, storedDirs,
                  assigned.select("id", "vec", "cell").schema, "cell", batchCells)
                  .select(col("cell"), col("vec").as("_sv")), "cell")
              .filter(cosine(col("vec"), col("_sv")) >= threshold)
              .select("id")
          val withinBatch = assigned.select(col("cell"), col("id").as("_ia"), col("vec").as("_va"))
            .join(assigned.select(col("cell"), col("id").as("id"), col("vec").as("_vb")), "cell")
            .filter(col("_ia") < col("id"))
            .filter(cosine(col("_va"), col("_vb")) >= threshold)
            .select("id")
          val dropped = vsStored.unionByName(withinBatch).distinct()
          val survivors = assigned.join(dropped, Seq("id"), "left_anti")
          // a batch with zero survivors commits nothing: its replay
          // re-dedups to zero again (content-idempotent), and every
          // committed dir is guaranteed at least one file — a fileless
          // partitioned dir would break the schema-inferring
          // [[embeddingCorpus]] reader
          if (!survivors.isEmpty) {
            survivors.select("id", "vec", "cell")
              .write.partitionBy("cell").mode("overwrite")
              .parquet(s"$root/vectors/b$batchId")
            commitBatchMarker(fs, rootP, batchId, lineage) // commit point, written LAST
          }
        }
      }
    }

  /** The deduped (id, vec, cell) corpus maintained by
    * [[foreachBatchEmbeddingDedup]] — committed batches only. Batch dirs
    * are each cell-partitioned, so they are read one-by-one and unioned
    * (several partitioned roots cannot share one multi-path read); a
    * consumer's cell filter pushes through the Union and prunes every
    * member scan to matching cell= partitions. */
  def embeddingCorpus(spark: SparkSession, root: String): DataFrame = {
    val (fs, rootP) = hadoopFs(spark, root)
    val last = lastCommittedBatch(fs, rootP)
    val dirs = committedKindDirs(fs, rootP, "vectors", last)
    require(dirs.nonEmpty, s"embeddingCorpus: nothing committed under $root")
    dirs.map(d => Parquet.read(spark, d)).reduce(_.unionByName(_))
  }

  /** The deduped corpus maintained by [[foreachBatchIndexedDedup]] —
    * committed batches only. */
  def indexedCorpus(spark: SparkSession, root: String): DataFrame = {
    val (fs, rootP) = hadoopFs(spark, root)
    val last = lastCommittedBatch(fs, rootP)
    val dirs = committedKindDirs(fs, rootP, "corpus", last)
    require(dirs.nonEmpty, s"indexedCorpus: nothing committed under $root")
    Parquet.read(spark, dirs: _*)
  }

  /** The committed slice of an index/corpus layout under `<root>/<kind>`:
    * at most one consolidated `base.<upTo>` dir (written by
    * [[compactDedupState]]; the one with the highest upTo wins) plus the
    * batch-versioned `b<id>` dirs with upTo < id <= `last`. Batch dirs at
    * or below the base's upTo are SUPERSEDED — their content is inside the
    * base — and are ignored even if a crash left them on disk. ONE
    * definition: writer, readers, and the compactor must agree on what
    * "committed" means. */
  private def committedKindDirs(fs: org.apache.hadoop.fs.FileSystem,
      rootP: org.apache.hadoop.fs.Path, kind: String, last: Long): Seq[String] = {
    val (bases, batches) = stateEntries(fs, new org.apache.hadoop.fs.Path(rootP, kind))
    val live = bases.filter(_._1 <= last)
    val upTo = live.foldLeft(-1L)((m, e) => math.max(m, e._1))
    (live.filter(_._1 == upTo).map(_._2) ++
      batches.filter(e => e._1 > upTo && e._1 <= last).map(_._2)).map(_.toString)
  }

  /** Classified children of one kind dir: (`base.<upTo>` entries,
    * `b<id>` batch entries), each with its parsed id. */
  private def stateEntries(fs: org.apache.hadoop.fs.FileSystem,
      kindP: org.apache.hadoop.fs.Path)
      : (Seq[(Long, org.apache.hadoop.fs.Path)], Seq[(Long, org.apache.hadoop.fs.Path)]) = {
    if (!fs.exists(kindP)) return (Seq.empty, Seq.empty)
    val entries = fs.listStatus(kindP).toSeq.map(_.getPath)
    def num(s: String): Option[Long] =
      if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
    val bases = entries.flatMap(p =>
      if (p.getName.startsWith("base.")) num(p.getName.drop(5)).map((_, p)) else None)
    val batches = entries.flatMap(p =>
      if (p.getName.startsWith("b") && !p.getName.startsWith("base."))
        num(p.getName.drop(1)).map((_, p))
      else None)
    (bases, batches)
  }

  /** Sink-side continuous Count-Min maintenance — the streaming form of
    * [[graft.operators.Sketches]]: each micro-batch's occurrence rows
    * become a bounded (depth x width) DELTA sketch appended as
    * `root/cms/b<id>/`, marker-committed LAST (the
    * [[foreachBatchIndexedDedup]] exactly-once discipline: replays of
    * committed ids are skipped, a crashed batch's partial dir is invisible
    * and overwritten on retry, an empty batch commits nothing). Because
    * the sketch is LINEAR (sums), the live sketch is just the counter-wise
    * sum of committed deltas — [[cmsSketch]] — and deltas compact into a
    * `base.<upTo>` by the same summation ([[compactCmsState]]), so
    * steady-state reads stop growing with batch count. `width`/`depth`
    * must match across every batch of one root (they define the counter
    * table's keys); `lineage` follows the usual cross-checkpoint rule. */
  def foreachBatchCmsUpdate(root: String, keyCol: String, width: Int, depth: Int,
                            lineage: String = ""): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val (fs, rootP) = hadoopFs(spark, root)
      val (last, storedLineage) = lastCommittedWithLineage(fs, rootP)
      if (last >= 0L)
        requireSameLineage("foreachBatchCmsUpdate", root, storedLineage, lineage)
      if (batchId > last) {
        val delta = graft.operators.Sketches.countMinBuild(batch, keyCol, width, depth)
        // bounded by construction (depth x width rows): one file per delta
        if (!delta.isEmpty) {
          delta.coalesce(1).write.mode("overwrite").parquet(s"$root/cms/b$batchId")
          commitBatchMarker(fs, rootP, batchId, lineage) // commit point, LAST
        }
      }
    }

  /** The live sketch at `root`: counter-wise sum of every committed delta
    * (plus a compacted base when present). Typed-empty when nothing is
    * committed. Feed to [[graft.operators.Sketches.countMinEstimate]]. */
  def cmsSketch(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val (fs, rootP) = hadoopFs(spark, root)
    val last = lastCommittedBatch(fs, rootP)
    val dirs = if (last < 0L) Seq.empty else committedKindDirs(fs, rootP, "cms", last)
    if (dirs.isEmpty) Seq.empty[(Int, Long, Long)].toDF("j", "bucket", "cnt")
    else dirs.map(Parquet.read(spark, _)).reduce(_.unionByName(_))
      .groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
  }

  /** Collapse committed CMS deltas into `cms/base.<last>` (staging+rename
    * publish, hygiene sweep — the [[compactDedupState]] shape). The merge
    * is the counter-wise SUM, not a union: the compacted base is itself a
    * valid delta, so readers never special-case it. */
  def compactCmsState(spark: SparkSession, root: String): Unit = {
    val (fs, rootP) = hadoopFs(spark, root)
    val last = lastCommittedBatch(fs, rootP)
    if (last < 0L) return
    val kindP = new org.apache.hadoop.fs.Path(rootP, "cms")
    val (bases, batches) = stateEntries(fs, kindP)
    val upTo = bases.filter(_._1 <= last).foldLeft(-1L)((m, e) => math.max(m, e._1))
    bases.filter(_._1 < upTo).foreach(e => fs.delete(e._2, true))
    batches.filter(_._1 <= upTo).foreach(e => fs.delete(e._2, true))
    val live = committedKindDirs(fs, rootP, "cms", last)
    if (live.size >= 2) {
      val merged = live.map(Parquet.read(spark, _)).reduce(_.unionByName(_))
        .groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      val staging = new org.apache.hadoop.fs.Path(kindP, s".base_staging.$last")
      fs.delete(staging, true)
      merged.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val target = new org.apache.hadoop.fs.Path(kindP, s"base.$last")
      fs.delete(target, true)
      require(fs.rename(staging, target),
        s"compactCmsState: publishing rename failed under $root")
      live.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    }
  }

  /** Wrap a dedup-sink `foreachBatch` function with a periodic
    * [[compactDedupState]] cadence: after every batch whose id is a
    * multiple of `every`, the sink's stored state is consolidated —
    * bounding dir growth to O(every) without a separate maintenance
    * scheduler. Compaction runs AFTER the batch commits (it only ever
    * touches committed ids), and an uncommitted batch (replay-skip, zero
    * survivors) still triggers the hygiene pass — which is idempotent and
    * cheap when there is nothing to merge. Cadence choice is the usual
    * LSM trade: small `every` keeps reads near one dir but rewrites the
    * corpus more often (write amplification ~ corpus/every batches);
    * production cadences are driven by dir count or bytes, which a caller
    * can implement directly with [[compactDedupState]]. */
  def withPeriodicCompaction(sink: (DataFrame, Long) => Unit, root: String,
                             every: Int = 16): (DataFrame, Long) => Unit = {
    require(every >= 1, s"withPeriodicCompaction: every must be >= 1, got $every")
    (batch: DataFrame, batchId: Long) => {
      sink(batch, batchId)
      if (batchId % every == 0) compactDedupState(batch.sparkSession, root)
    }
  }

  /** Consolidate a dedup sink's committed batch-versioned state — the
    * maintenance half of the ingest story. Every committed micro-batch
    * appends its own `b<id>` dir, so a long-lived stream accumulates one
    * dir (and >= one file per touched partition) PER BATCH: reads stay
    * partition-pruned, but listing cost, open-file count, and the
    * per-dir union in [[embeddingCorpus]] all grow O(batches) — the
    * streaming twin of the small-files problem [[graft.operators.Layout.compact]]
    * fixes for tables. This rewrites the live state of each kind
    * (`vectors`/`corpus`/`sets`/`bands`/`hashes`, whichever exist) into
    * ONE `base.<last>` dir with the same partitioning (repartitioned to
    * one file per partition) and retires the merged dirs, so steady-state
    * reads touch one consolidated dir plus the batches since the last
    * compaction.
    *
    * Crash-safe without touching the commit protocol: the merge lands in
    * a dot-staging dir (invisible — readers match only `base.<n>`/`b<n>`),
    * is RENAMED to `base.<last>` (one atomic publish per kind), and only
    * then are superseded dirs deleted. A crash before the rename leaves
    * garbage staging to overwrite on retry; a crash after it leaves
    * superseded dirs that every reader already ignores (their ids are
    * <= the new base's upTo) and that the next compaction's hygiene pass
    * removes. Concurrent ingest is safe: batches land at ids > `last`,
    * which the merge never touches. Run it from the maintenance cadence
    * (or `foreachBatch` every N batches), single compactor at a time —
    * the same single-writer assumption the sinks themselves carry. */
  def compactDedupState(spark: SparkSession, root: String): Unit = {
    val (fs, rootP) = hadoopFs(spark, root)
    val last = lastCommittedBatch(fs, rootP)
    if (last < 0L) return
    val kinds = Seq("vectors" -> Some("cell"), "corpus" -> None,
      "packed" -> None,
      "sets" -> Some("_sb"), "bands" -> Some("_bb"), "hashes" -> Some("_hb"))
    kinds.foreach { case (kind, partColName) =>
      val kindP = new org.apache.hadoop.fs.Path(rootP, kind)
      val (bases, batches) = stateEntries(fs, kindP)
      val upTo = bases.filter(_._1 <= last).foldLeft(-1L)((m, e) => math.max(m, e._1))
      // hygiene: anything a newest base supersedes is dead to every
      // reader already — remove leftovers from a crashed prior cleanup
      bases.filter(_._1 < upTo).foreach(e => fs.delete(e._2, true))
      batches.filter(_._1 <= upTo).foreach(e => fs.delete(e._2, true))
      val live = committedKindDirs(fs, rootP, kind, last)
      if (live.size >= 2) {
        val merged = live.map(Parquet.read(spark, _)).reduce(_.unionByName(_))
        val staging = new org.apache.hadoop.fs.Path(kindP, s".base_staging.$last")
        fs.delete(staging, true)
        partColName match {
          case Some(c) => merged.repartition(col(c))
            .write.partitionBy(c).mode("overwrite").parquet(staging.toString)
          case None => merged.write.mode("overwrite").parquet(staging.toString)
        }
        val target = new org.apache.hadoop.fs.Path(kindP, s"base.$last")
        fs.delete(target, true)
        require(fs.rename(staging, target),
          s"compactDedupState: publishing rename failed for $kind under $root")
        live.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
      }
    }
  }

  /** Commit markers are MONOTONIC FILES `_committed.<id>` — file creation
    * is atomic and nothing is ever renamed over, so there is no crash
    * window in which previously-committed batches become invisible (a
    * delete-then-rename single marker would have one). Read = max id over
    * the marker files; stale markers are garbage, trimmed opportunistically
    * after each commit. The marker body carries the checkpoint lineage the
    * batch ran under (empty for lineage-less callers and for markers
    * written before lineage support). */
  private def lastCommittedBatch(fs: org.apache.hadoop.fs.FileSystem,
                                 root: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(root)) -1L
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("_committed.") &&
        n.stripPrefix("_committed.").forall(_.isDigit))
      .map(_.stripPrefix("_committed.").toLong)
      .foldLeft(-1L)(math.max)

  /** (last committed batch id, lineage its marker recorded) — (-1, "")
    * when nothing is committed yet. */
  private def lastCommittedWithLineage(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): (Long, String) = {
    val last = lastCommittedBatch(fs, root)
    if (last < 0L) (-1L, "")
    else {
      val in = fs.open(new org.apache.hadoop.fs.Path(root, s"_committed.$last"))
      val text =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      (last, text.trim)
    }
  }

  /** Batch-id replay gates only work WITHIN one checkpoint lineage (ids
    * restart at 0 under a fresh checkpoint), and the append-structured
    * dedup sinks are not content-idempotent across lineages: a replayed id
    * would be silently skipped (dropping new data), a colliding id would
    * overwrite a committed `b<id>` dir with different content. So a
    * lineage mismatch over a non-empty corpus THROWS (the
    * [[foreachBatchAggRefresh]] posture) instead of guessing. */
  private def requireSameLineage(sink: String, root: String,
                                 stored: String, lineage: String): Unit =
    if (stored != lineage)
      throw new IllegalStateException(
        s"$sink: corpus at $root was committed under checkpoint lineage " +
          s"'$stored' but this query runs lineage '$lineage'. Batch ids are " +
          "only monotonic within one lineage and appends are not " +
          "content-idempotent across lineages — reset the corpus root (or " +
          "keep the original checkpoint) before rebinding it.")

  private def commitBatchMarker(fs: org.apache.hadoop.fs.FileSystem,
                                root: org.apache.hadoop.fs.Path, id: Long,
                                lineage: String = ""): Unit = {
    fs.mkdirs(root)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, s"_committed.$id"), true)
    try if (lineage.nonEmpty)
      out.write(lineage.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // trim older markers; a failure here is harmless (read takes the max)
    try fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_committed.") &&
          n.stripPrefix("_committed.").forall(_.isDigit) &&
          n.stripPrefix("_committed.").toLong < id)
        fs.delete(st.getPath, false)
    } catch { case _: java.io.IOException => () }
  }

  /** Partition-pruned read of a bucketed committed store: `partCol` is a
    * PARTITION column of every dir in `dirs`, so the `isin` filter becomes
    * a partition filter — the FileSourceScan lists only the matching
    * `partCol=v` subdirectories (StreamingSpec asserts this via the scan's
    * numFiles metric). Batch dirs are read one-by-one and unioned —
    * several partitioned roots cannot share one multi-path read
    * (conflicting-directory-structures), and the partition filter pushes
    * through the Union onto every member scan. The explicit schema keeps
    * committed dirs whose partitioned write produced zero files readable
    * (nothing to infer from). */
  private[graft] def prunedPartitionRead(spark: SparkSession, dirs: Seq[String],
      schema: org.apache.spark.sql.types.StructType, partCol: String,
      values: Seq[Any]): DataFrame =
    dirs.map(d => spark.read.schema(schema).parquet(d))
      .reduce(_.unionByName(_))
      .filter(col(partCol).isin(values: _*))

  /** Sink-side incremental view maintenance for `foreachBatch` — the
    * streaming twin of [[graft.operators.IncrementalAgg]]: each micro-batch
    * of CDC changelog rows ([[graft.operators.Upsert.snapshotDiff]] schema:
    * op + <c>_old/<c>_new) is applied as signed deltas to the materialized
    * aggregate at `aggPath`. Unlike the upsert twin, delta application is
    * NOT naturally idempotent (re-applying a batch double-counts), so the
    * publish must be transactional: the refreshed aggregate is staged with
    * its batch id embedded (a `_graft_batch` marker inside the staged
    * directory) and swapped in by atomic rename; the last applied batch id
    * is derived FROM the published snapshot itself, never from a separate
    * control file that could desynchronize from the data. Crash at any
    * point either leaves the previous snapshot current (the batch replays)
    * or the new snapshot current with its id visible (the replay is
    * skipped) — double-apply and half-written states cannot be observed
    * (see [[publishAtomic]]/[[recoverPublished]]).
    *
    * As with [[foreachBatchUpsert]], pass the checkpoint location as
    * `lineage` so the batch-id skip gate only applies within one
    * checkpoint lineage (batch ids restart at 0 under a fresh
    * checkpoint). Unlike the upsert twin, deltas are NOT
    * content-idempotent: against an existing aggregate, a batch id from
    * a DIFFERENT lineage is ambiguous — it could be a replay (skipping
    * is correct) or genuinely new deltas (skipping loses them), and
    * applying a replay double-counts permanently. So a lineage mismatch
    * over a non-empty published target THROWS instead of guessing;
    * rebinding a target to a new checkpoint lineage requires an explicit
    * reset (delete the target, or replay the source from scratch onto an
    * empty one). A mismatch with NO published snapshot is just the
    * bootstrap and proceeds. */
  def foreachBatchAggRefresh(aggPath: String, groupCols: Seq[String],
                             sumCols: Seq[String],
                             lineage: String = ""): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val (lastId, lastLineage) = lastPublished(spark, aggPath)
      if (lastId >= 0 && lastLineage != lineage)
        throw new IllegalStateException(
          s"foreachBatchAggRefresh: published aggregate at $aggPath carries " +
            s"lineage '$lastLineage' but this query runs lineage '$lineage'. " +
            "Delta application is not idempotent, so batch ids from a " +
            "different checkpoint lineage cannot be safely applied OR " +
            "skipped — reset the target (or keep the original checkpoint) " +
            "before rebinding it.")
      if (batchId > lastId) {
        val existing = publishedSnapshot(spark, aggPath).getOrElse(
          // bootstrap: an empty aggregate typed from the changelog's
          // _new columns (group/sum types) + a long count
          batch.select(groupCols.map(c => col(s"${c}_new").as(c)) ++
            (lit(0L).as("cnt") +: sumCols.map(c => col(s"${c}_new").as(c))): _*)
            .limit(0))
        val refreshed = graft.operators.IncrementalAgg.refresh(
          existing, batch, groupCols, sumCols)
        publishAtomic(spark, aggPath, refreshed, batchId, lineage)
      }
    }

  // ---- crash-atomic snapshot publish ------------------------------------
  //
  // Single-writer transactional publish for foreachBatch sinks on a plain
  // filesystem (the local/HDFS analog of a table-format commit; on S3-like
  // stores without atomic rename, swap this layer for a real table format).
  // Layout: the live snapshot lives FLAT at `path` (plain parquet readers
  // keep working) with a `_graft_batch` marker file inside carrying the
  // batch id that produced it (underscore-prefixed, so parquet readers
  // ignore it). Publishing batch B:
  //
  //   1. write the new snapshot to `path.staging` (overwrite);
  //   2. write `path.staging/_graft_batch` = B   — marker written LAST, so
  //      its presence implies the data write completed;
  //   3. rename `path` -> `path.old` (if a snapshot exists);
  //   4. rename `path.staging` -> `path`          — the atomic commit point;
  //   5. delete `path.old`.
  //
  // Recovery (run before any read of the snapshot or its batch id):
  //   - `path` exists           -> committed; delete stale .staging/.old;
  //   - else a COMPLETE staging -> crash between 3 and 4: roll forward
  //     (rename staging in, drop .old);
  //   - else `path.old` exists  -> crash before 4 with staging incomplete:
  //     roll back (rename .old in, drop the truncated staging);
  //   - else                    -> nothing published yet (bootstrap).
  //
  // Every crash point lands in exactly one case, so readers always see a
  // complete snapshot whose marker matches its content — which is what lets
  // `lastPublishedBatch` double as the replay gate for non-idempotent
  // sinks.

  private val BatchMarker = "_graft_batch"

  private def hadoopFs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Batch id embedded in the published snapshot at `path`, -1 when nothing
    * is published (or the snapshot predates marker-based publishes). */
  def lastPublishedBatch(spark: SparkSession, path: String): Long =
    lastPublished(spark, path)._1

  /** (batch id, checkpoint lineage) from the published marker. Lineage is
    * "" for markers written without one (pre-lineage publishes parse
    * unchanged: the id is the marker's first line). */
  def lastPublished(spark: SparkSession, path: String): (Long, String) = {
    recoverPublished(spark, path)
    val (fs, p) = hadoopFs(spark, path)
    val marker = new org.apache.hadoop.fs.Path(p, BatchMarker)
    if (!fs.exists(marker)) (-1L, "")
    else {
      val in = fs.open(marker)
      val text =
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val lines = text.split("\n", 2)
      (lines(0).trim.toLong, if (lines.length > 1) lines(1).trim else "")
    }
  }

  /** The current published snapshot, after crash recovery; None when nothing
    * has been published yet. */
  def publishedSnapshot(spark: SparkSession, path: String): Option[DataFrame] = {
    recoverPublished(spark, path)
    if (IncrementalMerge.pathExists(spark, path)) Some(Parquet.read(spark, path))
    else None
  }

  private def publishAtomic(spark: SparkSession, path: String,
                            snapshot: DataFrame, batchId: Long,
                            lineage: String = ""): Unit = {
    recoverPublished(spark, path)
    val (fs, live) = hadoopFs(spark, path)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    // (1) stage the full snapshot — this is the only data-scale step, and it
    // runs while the live snapshot is still readable
    snapshot.write.mode("overwrite").parquet(staging.toString)
    // (2) marker last: presence certifies the staged write completed.
    // Line 1 = batch id; line 2 (optional) = checkpoint lineage, so the
    // replay gate can tell a replayed batch from a fresh checkpoint
    // whose ids restarted at 0
    val markerText =
      if (lineage.isEmpty) batchId.toString else s"$batchId\n$lineage"
    val out = fs.create(new org.apache.hadoop.fs.Path(staging, BatchMarker), true)
    try out.write(markerText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // (3)-(5) the swap; each rename is atomic on local FS / HDFS
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live)) {
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"publishAtomic: rename $live -> $old failed")
    }
    if (!fs.rename(staging, live))
      throw new java.io.IOException(s"publishAtomic: rename $staging -> $live failed")
    fs.delete(old, true)
  }

  /** Idempotent crash recovery for [[publishAtomic]]'s swap (see the layout
    * comment above). Safe to call any time under the single-writer
    * assumption foreachBatch provides. */
  private def recoverPublished(spark: SparkSession, path: String): Unit = {
    val (fs, live) = hadoopFs(spark, path)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    // drop any "<path>_next" directory a pre-round-6 publish left behind
    fs.delete(new org.apache.hadoop.fs.Path(path + "_next"), true)
    val stagingComplete =
      fs.exists(new org.apache.hadoop.fs.Path(staging, BatchMarker))
    if (fs.exists(live)) {
      // committed — clear leftovers from an interrupted NEXT publish
      fs.delete(staging, true)
      fs.delete(old, true)
    } else if (stagingComplete) {
      // crashed between rename-away and rename-in: roll forward
      if (!fs.rename(staging, live))
        throw new java.io.IOException(s"recover: rename $staging -> $live failed")
      fs.delete(old, true)
    } else if (fs.exists(old)) {
      // crashed mid-publish with an incomplete staging: roll back
      fs.delete(staging, true)
      if (!fs.rename(old, live))
        throw new java.io.IOException(s"recover: rename $old -> $live failed")
    } else {
      // nothing published yet; drop any truncated staging from a first
      // publish that never completed
      fs.delete(staging, true)
    }
  }

  /** Sink-side correct-by-reload for `foreachBatch`: each micro-batch runs
    * the reference's watermark merge against the target table (strict `<`
    * keep, window replace) and advances the control watermark only after a
    * successful write — exactly v3:1312-1337 per batch, with idempotent
    * overwrite so retries are safe. */
  def foreachBatchMerge(targetPath: String, controlPath: String, dateCol: String,
                        windowStartOf: DataFrame => String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val ctl = new IncrementalMerge.ControlTable(spark, controlPath)
      val windowStart = windowStartOf(batch)
      // ONLY a missing path means "first batch, no history yet" — probed
      // through the path's own Hadoop FileSystem so non-local URIs answer
      // truthfully; any other read failure (transient storage error, corrupt
      // footer) must abort the batch — substituting an empty frame would
      // merge-overwrite the entire history and then advance the watermark
      // past the loss
      val existing = publishedSnapshot(spark, targetPath).getOrElse(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema))
      val merged = IncrementalMerge.merge(existing, batch, dateCol, windowStart)
      // stage + marker + atomic rename swap (merge is correct-by-reload, so
      // a replayed batch id is harmless — the swap just guarantees readers
      // never see a half-written target and a crash never loses it)
      publishAtomic(spark, targetPath, merged, batchId)
      ctl.advance(Instant.now())
    }
}
