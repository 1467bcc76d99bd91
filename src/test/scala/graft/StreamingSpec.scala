package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams

/** Structured-Streaming operators driven through MemoryStream micro-batches:
  * watermarked aggregation, id-dedup, keyed running state, and the
  * foreachBatch correct-by-reload merge. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("hourlyEventStats aggregates per hour/type under a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val agg = Streams.hourlyEventStats(
      in.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("hourly")
      .outputMode("update").start()
    try {
      in.addData(
        (ts("2026-01-01 10:05:00"), "view", 1.0),
        (ts("2026-01-01 10:25:00"), "view", 2.0),
        (ts("2026-01-01 10:45:00"), "purchase", 10.0),
        (ts("2026-01-01 11:05:00"), "view", 4.0))
      q.processAllAvailable()
      val got = spark.table("hourly")
        .select(date_format(col("hour"), "HH").as("h"), col("event_type"), col("n"), col("total_value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == Set(("10", "view", 2L, 3.0), ("10", "purchase", 1L, 10.0), ("11", "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("dedupeById drops re-arrivals of the same id within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, Double)]
    val deduped = Streams.dedupeById(
      in.toDF().toDF("id", "ts", "amount"), "id", "ts")
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      in.addData(("a", ts("2026-01-01 10:00:00"), 1.0), ("b", ts("2026-01-01 10:01:00"), 2.0))
      q.processAllAvailable()
      in.addData(("a", ts("2026-01-01 10:00:00"), 99.0)) // duplicate re-arrival
      // a mutation that ALSO moved the event time must still be suppressed
      // (dedup is on the id alone, not the (id, ts) pair)
      in.addData(("a", ts("2026-01-01 10:07:00"), 77.0))
      q.processAllAvailable()
      val rows = spark.table("dedup").collect()
      assert(rows.length == 2)
      assert(rows.find(_.getString(0) == "a").get.getDouble(2) == 1.0) // first wins
    } finally q.stop()
  }

  test("contaminationGate flags streamed docs identically to the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val benchSeq = Seq((100L, "alpha beta gamma delta"))
    val docsSeq = Seq(
      (1L, "alpha beta gamma delta"),          // fully contained in bench
      (2L, "completely different words here"), // clean
      (3L, "alpha beta gamma epsilon"))        // partial overlap
    val bench = benchSeq.toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val gated = Streams.contaminationGate(
      in.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", n = 3)
    val q = gated.writeStream.format("memory").queryName("contam")
      .outputMode("append").start()
    try {
      in.addData(docsSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("contam")
        .select("doc_id", "n_grams", "n_matched", "contaminated")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
      val batch = graft.operators.Decontaminate.contamination(
          docsSeq.toDF("doc_id", "text"), bench, "doc_id", "text", n = 3)
        .select("doc_id", "n_grams", "n_matched", "contaminated")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2).toInt, r.getInt(3))).toSet
      assert(streamed == batch)
      assert(streamed.map(t => t._1 -> t._4).toMap == Map(1L -> 1, 2L -> 0, 3L -> 1))
      // a NULL-text doc is dropped, exactly like the batch operator
      in.addData((4L, null.asInstanceOf[String]))
      q.processAllAvailable()
      assert(!spark.table("contam").select("doc_id").as[Long].collect().contains(4L))
    } finally q.stop()
  }

  test("sessionize closes a session only after the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val sessions = Streams.sessionize(
      in.toDF().toDF("user_id", "ts"), "user_id", "ts",
      gap = "10 minutes", lateness = "5 minutes")
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // two bursts for user 1 separated by > gap, then a watermark push
      in.addData(
        (1L, ts("2026-01-01 10:00:00")), (1L, ts("2026-01-01 10:05:00")),
        (1L, ts("2026-01-01 10:30:00")))
      q.processAllAvailable()
      in.addData((2L, ts("2026-01-01 12:00:00"))) // advances the watermark past both
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select(col("user_id"),
          date_format(col("session_start"), "HH:mm").as("s"),
          date_format(col("session_end"), "HH:mm").as("e"),
          col("n_events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      // session end = last event + gap; the two bursts never merge
      assert(got == Set(
        (1L, "10:00", "10:15", 2L),
        (1L, "10:30", "10:40", 1L)))
    } finally q.stop()
  }

  test("top_k_by runs inside a streaming aggregation across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Double, Long)]
    val agg = in.toDF().toDF("g", "score", "id")
      .groupBy(col("g"))
      .agg(graft.Functions.top_k_by(col("id"), col("score"), col("id"), 2).as("top2"))
    val q = agg.writeStream.format("memory").queryName("stream_topk")
      .outputMode("complete").start()
    try {
      in.addData(("a", 1.0, 1L), ("a", 9.0, 2L), ("b", 5.0, 3L))
      q.processAllAvailable()
      in.addData(("a", 7.0, 4L)) // displaces id=1 in group a's top-2
      q.processAllAvailable()
      val got = spark.table("stream_topk")
        .as[(String, Seq[Long])].collect().toMap
      assert(got == Map("a" -> Seq(2L, 4L), "b" -> Seq(3L)))
    } finally q.stop()
  }

  test("runningBalances keeps one state per account across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.BalanceUpdate]
    val q = Streams.runningBalances(in.toDS())
      .writeStream.format("memory").queryName("balances")
      .outputMode("update").start()
    try {
      in.addData(Streams.BalanceUpdate(1L, 100.0), Streams.BalanceUpdate(2L, 50.0))
      q.processAllAvailable()
      in.addData(Streams.BalanceUpdate(1L, -30.0))
      q.processAllAvailable()
      val last = spark.table("balances")
        .groupBy("accountId").agg(max(struct(col("nUpdates"), col("balance"))).as("s"))
        .select(col("accountId"), col("s.balance"), col("s.nUpdates"))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(last(1L) == (70.0, 2L))
      assert(last(2L) == (50.0, 1L))
    } finally q.stop()
  }

  test("throttle anchors at the last EMITTED event, state carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Streams.ThrottleEvent]
    val q = Streams.throttle(in.toDS(), minGapMicros = 15L)
      .writeStream.format("memory").queryName("throttled")
      .outputMode("append").start()
    try {
      // batch 1, one key, offsets 0/10/20/35 (delivered out of order —
      // the in-batch sort must restore fold order): the burst case —
      // keep 0 (first), drop 10, keep 20 (vs anchor 0), keep 35 (vs 20)
      in.addData(
        Streams.ThrottleEvent("a", 10L, 1), Streams.ThrottleEvent("a", 0L, 0),
        Streams.ThrottleEvent("a", 35L, 3), Streams.ThrottleEvent("a", 20L, 2))
      q.processAllAvailable()
      val b1 = spark.table("throttled").as[Streams.ThrottleEvent]
        .collect().map(_.tie).toSet
      assert(b1 == Set(0L, 2L, 3L), s"got $b1")
      // batch 2: anchor 35 persisted — 45 (gap 10) drops, 50 keeps;
      // a fresh key starts its own anchor
      in.addData(
        Streams.ThrottleEvent("a", 45L, 4), Streams.ThrottleEvent("a", 50L, 5),
        Streams.ThrottleEvent("b", 1L, 6))
      q.processAllAvailable()
      val all = spark.table("throttled").as[Streams.ThrottleEvent]
        .collect().map(_.tie).toSet
      assert(all == Set(0L, 2L, 3L, 5L, 6L), s"got $all")
    } finally q.stop()
  }

  test("foreachBatchMerge applies correct-by-reload semantics per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val target = s"$dir/target"
    // seed the target with an existing table
    Seq(("old1", "2026-01-01"), ("old2", "2026-01-10"))
      .toDF("id", "d").withColumn("d", $"d".cast("date"))
      .write.parquet(target)
    val in = MemoryStream[(String, String)]
    val sink = Streams.foreachBatchMerge(target, s"$dir/control", "d",
      windowStartOf = _ => "2026-01-05")
    val q = in.toDF().toDF("id", "d")
      .select(col("id"), col("d").cast("date").as("d"))
      .writeStream.foreachBatch(sink).start()
    try {
      in.addData(("new1", "2026-01-10"), ("new2", "2026-01-20"))
      q.processAllAvailable()
      val got = spark.read.parquet(target).select("id").as[String].collect().sorted.toSeq
      // old2 (>= window start) replaced; old1 kept; fresh rows in
      assert(got == Seq("new1", "new2", "old1"))
      val ctl = new graft.operators.IncrementalMerge.ControlTable(spark, s"$dir/control")
      assert(ctl.read().nonEmpty)
    } finally q.stop()
  }

  test("intervalJoin attributes right events to in-horizon left rows, state bounded") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp, String)]
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val joined = Streams.intervalJoin(
      imps.toDF().toDF("user_id", "imp_ts", "imp_id"),
      clicks.toDF().toDF("user_id", "click_ts", "click_id"),
      key = "user_id", leftTs = "imp_ts", rightTs = "click_ts",
      horizon = "1 hour", lateness = "10 minutes")
    val q = joined.select("imp_id", "click_id")
      .writeStream.format("memory").queryName("attrib").outputMode("append").start()
    try {
      imps.addData((1L, ts("2026-01-01 10:00:00"), "i1"), (2L, ts("2026-01-01 10:00:00"), "i2"))
      clicks.addData(
        (1L, ts("2026-01-01 10:30:00"), "c1"),  // in horizon -> attributed
        (2L, ts("2026-01-01 11:30:00"), "c2"),  // past horizon -> dropped
        (3L, ts("2026-01-01 10:10:00"), "c3"))  // no impression -> dropped
      q.processAllAvailable()
      val got = spark.table("attrib").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("i1", "c1")))
    } finally q.stop()
  }

  test("foreachBatchUpsert: latest-per-key wins within a batch, merge across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_supsert").toString
    val target = s"$dir/target"
    val in = MemoryStream[(String, Long, Double)]
    val q = in.toDF().toDF("id", "ver", "amount")
      .writeStream.foreachBatch(Streams.foreachBatchUpsert(target, "id", "ver")).start()
    try {
      // batch 1: two versions of 'a' in ONE batch -> ver 2 wins
      in.addData(("a", 1L, 10.0), ("a", 2L, 11.0), ("b", 1L, 20.0))
      q.processAllAvailable()
      // batch 2: update 'b', insert 'c'
      in.addData(("b", 2L, 21.0), ("c", 1L, 30.0))
      q.processAllAvailable()
      val got = spark.read.parquet(target).collect()
        .map(r => r.getAs[String]("id") -> (r.getAs[Long]("ver"), r.getAs[Double]("amount"))).toMap
      assert(got == Map("a" -> (2L, 11.0), "b" -> (2L, 21.0), "c" -> (1L, 30.0)))
    } finally q.stop()
  }

  test("foreachBatchAggRefresh maintains the aggregate and skips replayed batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm").toString
    val agg = s"$dir/agg"
    val in = MemoryStream[(String, Option[String], Option[String], Option[Long], Option[Long])]
    val fn = Streams.foreachBatchAggRefresh(agg, Seq("seg"), Seq("bal"))
    val q = in.toDF().toDF("op", "seg_old", "seg_new", "bal_old", "bal_new")
      .writeStream.foreachBatch(fn).start()
    def state() = spark.read.parquet(agg).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    try {
      // batch 0: three inserts
      in.addData(
        ("I", None, Some("A"), None, Some(10L)),
        ("I", None, Some("A"), None, Some(20L)),
        ("I", None, Some("B"), None, Some(30L)))
      q.processAllAvailable()
      assert(state() == Map("A" -> (2L, 30L), "B" -> (1L, 30L)))
      // batch 1: value update in A, group move B -> A, delete from A
      in.addData(
        ("U", Some("A"), Some("A"), Some(10L), Some(15L)),
        ("U", Some("B"), Some("A"), Some(30L), Some(30L)),
        ("D", Some("A"), None, Some(20L), None))
      q.processAllAvailable()
      assert(state() == Map("A" -> (2L, 45L))) // B died at count 0
      // a replayed batch id must be a no-op (at-least-once delivery)
      val replay = Seq(("I", Option.empty[String], Some("Z"),
        Option.empty[Long], Some(99L)))
        .toDF("op", "seg_old", "seg_new", "bal_old", "bal_new")
      fn(replay, 1L)
      assert(state() == Map("A" -> (2L, 45L)))
      // a NEW batch id applies
      fn(replay, 2L)
      assert(state() == Map("A" -> (2L, 45L), "Z" -> (1L, 99L)))
    } finally q.stop()
  }

  test("foreachBatchIncrementalDedup: corpus grows dedup-free across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_incdedup").toString
    val corpus = s"$dir/corpus"
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(Streams.foreachBatchIncrementalDedup(corpus, "doc_id", "text"))
      .start()
    try {
      // batch 1 bootstraps: within-batch exact dup (2 of 1) dropped
      in.addData(
        (1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "the quick brown fox jumps over the lazy dog tonight"),
        (3L, "completely unrelated corpus document with other words"))
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 3L))
      // batch 2: re-crawl of 1 (exact), near-dup of 1, one genuinely new doc
      in.addData(
        (10L, "the quick brown fox jumps over the lazy dog tonight"),
        (11L, "the quick brown fox jumps over the lazy dog tonite"),
        (12L, "entirely fresh content with its own unique wording"))
      q.processAllAvailable()
      assert(spark.read.parquet(corpus).select("doc_id")
        .as[Long].collect().toSet == Set(1L, 3L, 12L))
    } finally q.stop()
  }

  test("foreachBatchMerge aborts on a corrupt existing target instead of wiping history") {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    val target = s"$dir/target"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(target))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$target/part-0.parquet"), "this is not parquet")
    val sink = Streams.foreachBatchMerge(target, s"$dir/control", "d",
      windowStartOf = _ => "2026-01-05")
    val batch = Seq(("x", "2026-01-10")).toDF("id", "d")
      .select(col("id"), col("d").cast("date").as("d"))
    intercept[Exception] { sink(batch, 0L) }
    // the corrupt file must still be there — nothing was overwritten — and
    // no control watermark was advanced past the failure
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$target/part-0.parquet")))
    assert(new graft.operators.IncrementalMerge.ControlTable(spark, s"$dir/control").read().isEmpty)
  }

  // ---- crash-atomicity of the snapshot publish ---------------------------

  private def mv(a: String, b: String): Unit =
    java.nio.file.Files.move(java.nio.file.Paths.get(a), java.nio.file.Paths.get(b))

  test("aggRefresh publish survives a crash between the two renames (roll forward)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_fwd").toString
    val agg = s"$dir/agg"
    val fn = Streams.foreachBatchAggRefresh(agg, Seq("seg"), Seq("bal"))
    def state() = spark.read.parquet(agg).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b0 = Seq(("I", Option.empty[String], Some("A"), Option.empty[Long], Some(10L)))
      .toDF("op", "seg_old", "seg_new", "bal_old", "bal_new")
    val b1 = Seq(("I", Option.empty[String], Some("B"), Option.empty[Long], Some(5L)))
      .toDF("op", "seg_old", "seg_new", "bal_old", "bal_new")
    fn(b0, 0L)
    fn(b1, 1L)
    assert(state() == Map("A" -> (1L, 10L), "B" -> (1L, 5L)))
    // simulate the crash window between rename(live->old) and
    // rename(staging->live): the committed snapshot becomes ".staging"
    // (complete, marker inside) and an older snapshot sits at ".old"
    fn(b0, 0L) // no-op replay sanity before surgery
    mv(agg, s"$agg.staging")                   // complete staging for batch 1
    spark.range(1).write.parquet(agg)          // fake "older" live…
    mv(agg, s"$agg.old")                       // …renamed away, crash here
    // ANY next access must roll the complete staging forward: the replayed
    // batch 1 is then skipped, batch 2 applies exactly once
    fn(b1, 1L)
    assert(state() == Map("A" -> (1L, 10L), "B" -> (1L, 5L)),
      "replayed batch after roll-forward must not double-apply")
    fn(b1, 2L)
    assert(state() == Map("A" -> (1L, 10L), "B" -> (2L, 10L)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$agg.old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$agg.staging")))
  }

  test("aggRefresh publish survives a crash with an incomplete staging (roll back)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_back").toString
    val agg = s"$dir/agg"
    val fn = Streams.foreachBatchAggRefresh(agg, Seq("seg"), Seq("bal"))
    def state() = spark.read.parquet(agg).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b0 = Seq(("I", Option.empty[String], Some("A"), Option.empty[Long], Some(10L)))
      .toDF("op", "seg_old", "seg_new", "bal_old", "bal_new")
    fn(b0, 0L)
    // simulate a crash DURING the staging write of batch 1: live renamed
    // away is impossible at that point in the real sequence, but the
    // worst-case layout recovery must handle is live gone + truncated
    // staging (no marker) + old intact
    mv(agg, s"$agg.old")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$agg.staging"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$agg.staging/part-trunc.parquet"), "torn write")
    // next batch must roll BACK to the old snapshot (marker absent => the
    // staged data cannot be trusted), then apply on top of it
    val b1 = Seq(("I", Option.empty[String], Some("B"), Option.empty[Long], Some(7L)))
      .toDF("op", "seg_old", "seg_new", "bal_old", "bal_new")
    fn(b1, 1L)
    assert(state() == Map("A" -> (1L, 10L), "B" -> (1L, 7L)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$agg.old")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$agg.staging")))
  }

  test("foreachBatchIndexedDedup: O(batch) ingest, replay-skip, torn-batch recovery") {
    val root = java.nio.file.Files.createTempDirectory("graft_idxdedup").toString + "/r"
    val fn = Streams.foreachBatchIndexedDedup(root, "doc_id", "text")
    def corpusIds() = Streams.indexedCorpus(spark, root)
      .select("doc_id").as[Long].collect().toSet
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // in-batch dup
      (3L, "completely unrelated corpus document with other words"))
      .toDF("doc_id", "text")
    fn(b0, 0L)
    assert(corpusIds() == Set(1L, 3L))
    // batch 1: exact re-crawl of 1, near-dup of 1, genuinely new doc —
    // deduped against the STORED index, corpus text never re-read
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "the quick brown fox jumps over the lazy dog tonite"),
      (12L, "entirely fresh content with its own unique wording"))
      .toDF("doc_id", "text")
    fn(b1, 1L)
    assert(corpusIds() == Set(1L, 3L, 12L))
    // at-least-once replay of batch 1: marker skips it, nothing changes
    fn(b1, 1L)
    assert(corpusIds() == Set(1L, 3L, 12L))
    // torn batch 2: partial corpus/index dirs exist but NO marker — the
    // retry must ignore the torn output (not drop its docs as self-dups)
    // and commit correctly
    val b2 = Seq((20L, "a third wave of novel text nothing resembles at all"))
      .toDF("doc_id", "text")
    b2.write.mode("overwrite").parquet(s"$root/corpus/b2")
    graft.operators.Dedup.lshIndex(b2, "doc_id", "text").sets
      .write.mode("overwrite").parquet(s"$root/sets/b2")
    // (bands dir deliberately missing: maximally torn)
    fn(b2, 2L)
    assert(corpusIds() == Set(1L, 3L, 12L, 20L))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$root/_committed.2")))
  }

  test("foreachBatchCorpusPipeline: kill window at each stage, exactly-once output") {
    val root = java.nio.file.Files.createTempDirectory("graft_corpus_pipe").toString + "/r"
    // gate: at least 8 whitespace tokens (one of qualitySignals' columns)
    val gate = col("n_tokens") >= 8
    def cleanSink = Streams.foreachBatchCorpusPipeline(
      root, "doc_id", "text", gate, seqTokens = 16, shards = 4)
    def killSink(stage: String) = Streams.corpusPipelineWithFailpoint(
      root, "doc_id", "text", gate, 16, 4, 5, 4, 4, 0.5, 1000, 64, "",
      s => if (s == stage) throw new RuntimeException(s"kill@$s"))
    def corpusIds() = Streams.indexedCorpus(spark, root)
      .select("doc_id").as[Long].collect().toSet
    def packedIds() = Streams.packedExport(spark, root)
      .select("doc_id").as[Long].collect().toSeq

    // batch 0: 1/2 exact in-batch dups (keep 1), 3 survives dedup but FAILS
    // the quality gate (2 tokens), 4 is a fresh accepted doc
    val good1 = "the quick brown fox jumps over the lazy dog tonight"
    val good4 = "completely unrelated corpus document with other words entirely here"
    val b0 = Seq(
      (1L, good1), (2L, good1), (3L, "short junk"), (4L, good4))
      .toDF("doc_id", "text")
    cleanSink(b0, 0L)
    assert(corpusIds() == Set(1L, 4L), "corpus carries only accepted docs")
    assert(packedIds().sorted == Seq(1L, 4L), "packed export covers accepted docs once")

    // batch 1: 10 re-crawls the REJECTED doc 3's text (must drop — rejected
    // docs stay indexed: reject once, remember forever), 11 is a near-dup of
    // stored 1, 12 is fresh + accepted, 13 is fresh but quality-rejected
    val b1 = Seq(
      (10L, "short junk"),
      (11L, "the quick brown fox jumps over the lazy dog tonite"),
      (12L, "entirely fresh content with its own unique wording every time"),
      (13L, "tiny noise"))
      .toDF("doc_id", "text")
    // kill window at each stage: torn dirs land on disk, the marker stays at
    // batch 0, and every committed reader still sees exactly batch-0 state
    Seq("index", "corpus", "packed").foreach { stage =>
      val e = intercept[RuntimeException] { killSink(stage)(b1, 1L) }
      assert(e.getMessage == s"kill@$stage")
      assert(corpusIds() == Set(1L, 4L), s"torn $stage visible in corpus")
      assert(packedIds().sorted == Seq(1L, 4L), s"torn $stage visible in packed")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/_committed.1")), s"marker after $stage kill")
    }
    // the retry completes the chain exactly once
    cleanSink(b1, 1L)
    assert(corpusIds() == Set(1L, 4L, 12L))
    assert(packedIds().sorted == Seq(1L, 4L, 12L),
      "every accepted doc exactly once in the packed export")
    // replay of the committed id is skipped
    cleanSink(b1, 1L)
    assert(packedIds().sorted == Seq(1L, 4L, 12L))
    // packed rows carry a sane per-shard layout: offsets within sequences,
    // spans consistent with token counts
    val packed = Streams.packedExport(spark, root)
      .select("doc_id", "n_tokens", "tok_start", "seq_id", "seq_offset", "n_seqs")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    packed.foreach { case (id, n, start, seq, off, nseqs) =>
      assert(n > 0 && start >= 0 && off >= 0 && off < 16, s"doc $id layout")
      assert(seq == start / 16 && nseqs == (start + n - 1) / 16 - seq + 1, s"doc $id spans")
    }
  }

  test("foreachBatchTableAppend: log-derived replay gate, crash invisibility, ingest time travel") {
    import graft.operators.TableFormat
    val dir = java.nio.file.Files.createTempDirectory("graft_tf_append").toString
    val (root, data) = (s"$dir/t", s"$dir/d")
    val fn = Streams.foreachBatchTableAppend(root, data, "k",
      numBits = 256, numHashes = 3, lineage = "ckpt-A")
    def latest() = TableFormat.read(spark, TableFormat.snapshot(spark, root))
      .select("k").as[Long].collect().toSet
    fn(Seq(1L -> 10.0, 2L -> 20.0).toDF("k", "v"), 0L)
    assert(latest() == Set(1L, 2L))
    assert(TableFormat.versions(spark, root) == Seq(1L))
    // replay of the committed id: the gate comes from the commit props —
    // no marker files exist anywhere
    fn(Seq(1L -> 10.0, 2L -> 20.0).toDF("k", "v"), 0L)
    assert(TableFormat.versions(spark, root) == Seq(1L))
    assert(!new java.io.File(dir).list().exists(_.startsWith("_committed")))
    // an empty batch commits no version
    fn(Seq.empty[(Long, Double)].toDF("k", "v"), 1L)
    assert(TableFormat.versions(spark, root) == Seq(1L))
    // crash window: data files written but never committed are invisible
    Seq(99L -> 0.0).toDF("k", "v").write.parquet(s"$data/append-orphan")
    assert(latest() == Set(1L, 2L))
    // batch 2 appends; the table as of v1 still reads batch 0 alone
    fn(Seq(10L -> 1.0).toDF("k", "v"), 2L)
    assert(latest() == Set(1L, 2L, 10L))
    assert(TableFormat.read(spark, TableFormat.snapshot(spark, root, Some(1L)))
      .select("k").as[Long].collect().toSet == Set(1L, 2L))
    // interleaved MAINTENANCE commit preserves the replay gate: compaction
    // carries props forward, so a replay of batch 2 is still skipped and
    // the next append proceeds from the compacted snapshot
    TableFormat.compact(spark, root, data, nFiles = 1)
    val afterCompact = TableFormat.versions(spark, root).size
    fn(Seq(10L -> 1.0).toDF("k", "v"), 2L) // replay across the compaction
    assert(TableFormat.versions(spark, root).size == afterCompact)
    fn(Seq(20L -> 2.0).toDF("k", "v"), 3L)
    assert(latest() == Set(1L, 2L, 10L, 20L))
    // zone/bloom stats exist for every ingested file from the same log read
    val snap = TableFormat.snapshot(spark, root)
    assert(snap.files.forall(f => f.nRows > 0 && f.minKey <= f.maxKey))
    // a WIDENED batch evolves the table schema add-only: earlier files
    // read the new column as null, as-of keeps each version's schema
    fn(Seq((40L, 4.0, "tagged")).toDF("k", "v", "note"), 4L)
    val widened = TableFormat.read(spark, TableFormat.snapshot(spark, root))
    assert(widened.columns.toSeq == Seq("k", "v", "note"))
    assert(widened.filter(col("note").isNotNull)
      .select("k").as[Long].collect().toSeq == Seq(40L))
    assert(TableFormat.read(spark, TableFormat.snapshot(spark, root, Some(1L)))
      .columns.toSeq == Seq("k", "v"))
    // rebinding a stream-written table to another lineage throws
    val other = Streams.foreachBatchTableAppend(root, data, "k",
      numBits = 256, numHashes = 3, lineage = "ckpt-B")
    val e = intercept[IllegalStateException] {
      other(Seq(30L -> 3.0).toDF("k", "v"), 0L)
    }
    assert(e.getMessage.contains("lineage"))
  }

  test("foreachBatchTableAppend: an empty batch commits nothing and leaves no " +
      "files; an append runs the batch's plan once") {
    import graft.operators.TableFormat
    import org.apache.spark.graft.JobCount
    val dir = java.nio.file.Files.createTempDirectory("graft_tf_empty").toString
    val (root, data) = (s"$dir/t", s"$dir/d")
    val fn = Streams.foreachBatchTableAppend(root, data, "k",
      numBits = 256, numHashes = 3, lineage = "ckpt-E")
    def batch(from: Long, until: Long) = spark.range(from, until)
      .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    def appendDirs() = Option(new java.io.File(data).list()).toSeq.flatten
      .filter(_.startsWith("append-")).sorted
    // an empty first batch: no table, no files
    fn(batch(0, 0), 0L)
    assert(TableFormat.versions(spark, root).isEmpty)
    assert(appendDirs().isEmpty)
    fn(batch(0, 3), 1L)
    assert(TableFormat.versions(spark, root) == Seq(1L))
    val committed = appendDirs()
    assert(committed.size == 1)
    // an empty batch after a commit: no new version, no leftover dir
    fn(batch(0, 0), 2L)
    assert(TableFormat.versions(spark, root) == Seq(1L))
    assert(appendDirs() == committed)
    // one append: the write (1) and the append commit (2); a separate
    // `batch.isEmpty` probe made it 4
    assert(JobCount(spark.sparkContext)(fn(batch(3, 5), 3L)) == 3)
    assert(TableFormat.versions(spark, root) == Seq(1L, 2L))
    assert(TableFormat.read(spark, TableFormat.snapshot(spark, root))
      .select("k").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("foreachBatchTableUpsertMoR: O(batch) CDC apply, replay gate, latest-per-key") {
    import graft.operators.TableFormat
    val dir = java.nio.file.Files.createTempDirectory("graft_tf_morup").toString
    val (root, data) = (s"$dir/t", s"$dir/d")
    val fn = Streams.foreachBatchTableUpsertMoR(root, data, "k", "ver",
      numBits = 256, numHashes = 3, lineage = "ckpt-A")
    def state() = TableFormat.read(spark, TableFormat.snapshot(spark, root))
      .orderBy("k").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // bootstrap batch: plain first commit, no manifest
    fn(Seq((1L, 10.0, 1L), (2L, 20.0, 1L)).toDF("k", "v", "ver"), 0L)
    assert(state() == Seq(1L -> 10.0, 2L -> 20.0))
    assert(TableFormat.snapshot(spark, root).deletes.isEmpty)
    // CDC batch: update k=2, insert k=3, with an in-batch superseded row
    // for k=2 (latest ver wins) — ONE mor-upsert commit, base file carried
    fn(Seq((2L, 21.0, 2L), (2L, 25.0, 3L), (3L, 30.0, 2L))
      .toDF("k", "v", "ver"), 1L)
    assert(state() == Seq(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
    val s2 = TableFormat.snapshot(spark, root)
    assert(s2.op.contains("mor-upsert") && s2.files.size == 2 &&
      s2.deletes.map(_.nKeys) == Seq(2L))
    // replay of the committed id is a no-op (gate lives in the log)
    fn(Seq((2L, 99.0, 9L)).toDF("k", "v", "ver"), 1L)
    assert(state() == Seq(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
    assert(TableFormat.versions(spark, root).size == 2)
    // crash window: a batch file written but never committed is invisible
    Seq((99L, 0.0, 1L)).toDF("k", "v", "ver").write.parquet(s"$data/morup-orphan")
    assert(state() == Seq(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
    // maintenance compaction interleaves: gate carried, replay still skipped
    TableFormat.compact(spark, root, data, nFiles = 1)
    fn(Seq((2L, 99.0, 9L)).toDF("k", "v", "ver"), 1L) // replay across compact
    assert(state() == Seq(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
    fn(Seq((1L, 11.0, 4L)).toDF("k", "v", "ver"), 2L)
    assert(state() == Seq(1L -> 11.0, 2L -> 25.0, 3L -> 30.0))
    // ingest time travel: the pre-CDC state still reads
    assert(TableFormat.read(spark, TableFormat.snapshot(spark, root, Some(1L)))
      .orderBy("k").select("v").as[Double].collect().toSeq == Seq(10.0, 20.0))
    // lineage rebinding refuses
    val other = Streams.foreachBatchTableUpsertMoR(root, data, "k", "ver",
      numBits = 256, numHashes = 3, lineage = "ckpt-B")
    val e = intercept[IllegalStateException] {
      other(Seq((5L, 5.0, 1L)).toDF("k", "v", "ver"), 0L)
    }
    assert(e.getMessage.contains("lineage"))
  }

  test("stream -> table -> maintained view: ingest ticks drive exactly-once IVM refreshes") {
    import graft.operators.TableFormat
    val dir = java.nio.file.Files.createTempDirectory("graft_tf_view").toString
    val (root, data, vroot) = (s"$dir/t", s"$dir/d", s"$dir/view")
    val fn = Streams.foreachBatchTableAppend(root, data, "k",
      numBits = 256, numHashes = 3, lineage = "ckpt-V")
    val grp = pmod(col("k"), lit(2))
    val value = col("v").cast("long")
    def tick() = TableFormat.maintainView(spark, root, vroot, vroot, grp, value)
    def viewNow() = TableFormat
      .read(spark, TableFormat.snapshot(spark, vroot))
      .select("grp", "n_rows", "total")
      .as[(Long, Long, Long)].collect().toSet
    def fullView() = TableFormat
      .read(spark, TableFormat.snapshot(spark, root))
      .groupBy(grp.as("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(value).as("total"))
      .as[(Long, Long, Long)].collect().toSet
    fn((1L to 8L).map(k => k -> (k * 10).toDouble).toDF("k", "v"), 0L)
    tick() // bootstrap
    assert(viewNow() == fullView())
    fn((11L to 14L).map(k => k -> 5.0).toDF("k", "v"), 1L)
    fn((11L to 14L).map(k => k -> 5.0).toDF("k", "v"), 1L) // replay: skipped
    tick() // one ingest version -> one refresh commit
    assert(viewNow() == fullView())
    assert(TableFormat.versions(spark, vroot) == Seq(1L, 2L))
    // maintenance + mutation between ticks: delete, compact (CDF-free),
    // then a single tick folds the whole interval through the changelog
    TableFormat.deleteKeys(spark, root, data, Seq(2L, 12L))
    TableFormat.compact(spark, root, data, nFiles = 1)
    tick()
    assert(viewNow() == fullView())
    assert(TableFormat.versions(spark, vroot) == Seq(1L, 2L, 3L))
    // idle tick: source unchanged -> NO view commit (exactly-once refresh)
    tick()
    assert(TableFormat.versions(spark, vroot) == Seq(1L, 2L, 3L))
    // the view's cursor tracks the source head in its own commit props
    assert(TableFormat.snapshot(spark, vroot).props("source_version").toLong ==
      TableFormat.versions(spark, root).last)
  }

  test("publish recovery is total: every reachable crash layout lands on a sane snapshot") {
    // enumerate the layouts a crash can leave behind (live x staging x old)
    // and assert the next batch application never double-applies, never
    // loses the committed snapshot, and always clears the leftovers.
    // Reachable layouts (single writer): staging may be absent, torn
    // (no marker), or complete; live and old each present or not — except
    // live+old both absent with no staging (nothing ever written).
    val cases = for {
      live <- Seq(true, false)
      staging <- Seq("none", "torn", "complete")
      old <- Seq(true, false)
    } yield (live, staging, old)
    cases.foreach { case (live, staging, old) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_crash_enum").toString
      val agg = s"$dir/agg"
      val fn = Streams.foreachBatchAggRefresh(agg, Seq("seg"), Seq("bal"))
      val b0 = Seq(("I", Option.empty[String], Some("A"), Option.empty[Long], Some(10L)))
        .toDF("op", "seg_old", "seg_new", "bal_old", "bal_new")
      val b1 = Seq(("I", Option.empty[String], Some("B"), Option.empty[Long], Some(5L)))
        .toDF("op", "seg_old", "seg_new", "bal_old", "bal_new")
      // committed state for batch 0 lives SOMEWHERE per the case
      fn(b0, 0L)
      if (staging == "complete") mv(agg, s"$agg.staging")
      else if (staging == "torn") {
        java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$agg.staging"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$agg.staging/part-torn.parquet"), "torn")
        if (!live) mv(agg, s"$agg.old")
      } else if (!live) mv(agg, s"$agg.old")
      if (old && java.nio.file.Files.exists(java.nio.file.Paths.get(agg)) &&
          staging == "complete") {
        // live spot empty (agg moved to staging); fabricate a stale old
        spark.range(1).write.parquet(s"$agg.old")
      }
      // live=true cases where the snapshot is at agg already: optionally a
      // stale old beside it
      if (old && java.nio.file.Files.exists(java.nio.file.Paths.get(agg)) &&
          !java.nio.file.Files.exists(java.nio.file.Paths.get(s"$agg.old")))
        spark.range(1).write.parquet(s"$agg.old")
      // next batch must see batch 0 applied exactly once, then apply batch 1
      fn(b1, 1L)
      val state = spark.read.parquet(agg).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(state == Map("A" -> (1L, 10L), "B" -> (1L, 5L)),
        s"case (live=$live, staging=$staging, old=$old): got $state")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$agg.staging")),
        s"case (live=$live, staging=$staging, old=$old): staging not cleared")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$agg.old")),
        s"case (live=$live, staging=$staging, old=$old): old not cleared")
    }
  }

  test("foreachBatchUpsert skips a replayed batch id (derived from the snapshot marker)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_replay").toString
    val target = s"$dir/target"
    val fn = Streams.foreachBatchUpsert(target, "id", "ver")
    val b0 = Seq(("a", 1L, 10.0)).toDF("id", "ver", "amount")
    fn(b0, 0L)
    fn(b0, 0L) // at-least-once redelivery
    val got = spark.read.parquet(target).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("a", 1L, 10.0)))
    assert(Streams.lastPublishedBatch(spark, target) == 0L)
  }

  test("foreachBatchEmbeddingDedup: cell-blocked ingest, replay-skip, torn-batch recovery") {
    val root = java.nio.file.Files.createTempDirectory("graft_embed_dedup").toString
    val fn = Streams.foreachBatchEmbeddingDedup(root, "vid", "v", threshold = 0.95)
    def corpusIds() = Streams.embeddingCorpus(spark, root)
      .select("id").as[Long].collect().toSet
    // batch 0: ids 1 and 2 are near-identical (keep smallest), 3 distinct;
    // 3 vectors -> derived nlist = 1, so everything shares one cell and
    // the dedup decision is purely the cosine test
    val b0 = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.999, 0.01, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("vid", "v")
    fn(b0, 0L)
    assert(corpusIds() == Set(1L, 3L))
    // the quantizer is persisted exactly once
    val cbFiles = new java.io.File(s"$root/codebook").listFiles().map(_.getName).toSet
    assert(cbFiles.exists(_.endsWith(".parquet")))
    // batch 1: 4 is a near-dup of stored 1 -> dropped; 5 is novel -> kept
    val b1 = Seq(
      (4L, Seq(0.998, 0.0, 0.02, 0.0)),
      (5L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("vid", "v")
    fn(b1, 1L)
    assert(corpusIds() == Set(1L, 3L, 5L))
    // replay of a committed id is skipped (corpus unchanged even though
    // the replayed content would now all be "novel" against itself)
    fn(b1, 1L)
    assert(corpusIds() == Set(1L, 3L, 5L))
    // torn batch: a crashed batch 2 left vectors but NO marker -> invisible
    val torn = Seq((9L, Seq(0.5, 0.5, 0.5, 0.5))).toDF("vid", "v")
    torn.selectExpr("CAST(0 AS INT) AS cell", "vid AS id",
        "CAST(v AS ARRAY<DOUBLE>) AS vec")
      .write.mode("overwrite").parquet(s"$root/vectors/b2")
    assert(corpusIds() == Set(1L, 3L, 5L))
    // the retry overwrites the partial dir and commits
    fn(torn, 2L)
    assert(corpusIds() == Set(1L, 3L, 5L, 9L))
    // null / wrong-dim vectors are excluded, not stored as null-cell rows
    fn(Seq((11L, Option(Seq(0.7, 0.7))), (12L, Option.empty[Seq[Double]]))
      .toDF("vid", "v"), 3L)
    assert(corpusIds() == Set(1L, 3L, 5L, 9L))
  }

  test("foreachBatchEmbeddingDedup under a real streaming query (MemoryStream)") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_embed_stream").toString
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDF().toDF("vid", "v")
      .writeStream
      .foreachBatch(Streams.foreachBatchEmbeddingDedup(root, "vid", "v", threshold = 0.95))
      .start()
    try {
      in.addData((1L, Seq(1.0, 0.0)), (2L, Seq(0.999, 0.01)), (3L, Seq(0.0, 1.0)))
      q.processAllAvailable()
      in.addData((4L, Seq(0.998, 0.02)), (5L, Seq(-1.0, 0.0)))
      q.processAllAvailable()
      val got = Streams.embeddingCorpus(spark, root)
        .select("id").as[Long].collect().toSet
      // 2 deduped within batch 0; 4 deduped against stored 1; 5 novel
      assert(got == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("withPeriodicCompaction keeps streamed state consolidated without changing results") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_embed_cadence").toString
    def pair(a: Int, b: Int) =
      Seq.tabulate(8)(j => if (j == a || j == b) math.sqrt(0.5) else 0.0)
    val in = MemoryStream[(Long, Seq[Double])]
    val q = in.toDF().toDF("vid", "v")
      .writeStream
      .foreachBatch(Streams.withPeriodicCompaction(
        Streams.foreachBatchEmbeddingDedup(root, "vid", "v", threshold = 0.95),
        root, every = 2))
      .start()
    try {
      // 5 micro-batches; compaction fires after ids 0, 2, 4
      in.addData((0L, pair(0, 1)), (1L, pair(2, 3))); q.processAllAvailable()
      in.addData((2L, pair(4, 5)), (3L, pair(0, 1))); q.processAllAvailable() // 3 dups 0
      in.addData((4L, pair(6, 7))); q.processAllAvailable()
      in.addData((5L, pair(0, 2))); q.processAllAvailable()
      in.addData((6L, pair(2, 3))); q.processAllAvailable()                   // dups 1
      assert(Streams.embeddingCorpus(spark, root)
        .select("id").as[Long].collect().toSet == Set(0L, 1L, 2L, 4L, 5L))
      // 5 committed-or-skipped batches under an every-2 cadence: exactly one
      // consolidated base plus at most the 1-2 batch dirs since the last fire
      // (exact ids depend on whether the engine ran an initial empty batch)
      val entries = new java.io.File(s"$root/vectors").listFiles().map(_.getName).toSet
      assert(entries.count(_.startsWith("base.")) == 1,
        s"expected one consolidated base, got $entries")
      assert(entries.count(n => n.startsWith("b") && !n.startsWith("base.")) <= 2,
        s"cadence must bound batch-dir growth, got $entries")
    } finally q.stop()
  }

  test("foreachBatchEmbeddingDedup: empty first batch does not poison the codebook") {
    val root = java.nio.file.Files.createTempDirectory("graft_embed_empty").toString
    val fn = Streams.foreachBatchEmbeddingDedup(root, "vid", "v", threshold = 0.95)
    fn(Seq.empty[(Long, Seq[Double])].toDF("vid", "v"), 0L)
    assert(!new java.io.File(s"$root/codebook").exists(),
      "empty batch must not persist an empty quantizer")
    // the next non-empty batch bootstraps normally
    fn(Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vid", "v"), 1L)
    assert(Streams.embeddingCorpus(spark, root)
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("foreachBatchAggRefresh refuses a lineage mismatch over an existing aggregate") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm_lineage").toString
    val agg = s"$dir/agg"
    val batch = Seq(("I", Option.empty[String], Option("A"), Option.empty[Long], Option(10L)))
      .toDF("op", "seg_old", "seg_new", "bal_old", "bal_new")
    // lineage A bootstraps and publishes batch 0
    Streams.foreachBatchAggRefresh(agg, Seq("seg"), Seq("bal"), lineage = "ckpt-A")(batch, 0L)
    assert(Streams.lastPublished(spark, agg) == (0L, "ckpt-A"))
    // a different lineage against the existing aggregate is ambiguous for
    // non-idempotent deltas (replay? new?) — it must throw, not guess
    val ex = intercept[IllegalStateException] {
      Streams.foreachBatchAggRefresh(agg, Seq("seg"), Seq("bal"), lineage = "ckpt-B")(batch, 0L)
    }
    assert(ex.getMessage.contains("lineage"))
    // the aggregate is untouched by the refused batch
    assert(Streams.lastPublished(spark, agg) == (0L, "ckpt-A"))
    // a mismatch with NO published snapshot is just the bootstrap
    val agg2 = s"$dir/agg2"
    Streams.foreachBatchAggRefresh(agg2, Seq("seg"), Seq("bal"), lineage = "ckpt-B")(batch, 0L)
    assert(Streams.lastPublished(spark, agg2) == (0L, "ckpt-B"))
  }

  test("foreachBatchUpsert lineage gate: fresh checkpoint ids do not silently skip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_lineage").toString
    val target = s"$dir/target"
    // lineage A publishes batch ids 0 and 1
    val fnA = Streams.foreachBatchUpsert(target, "id", "ver", lineage = "ckpt-A")
    fnA(Seq(("a", 1L, 10.0)).toDF("id", "ver", "amount"), 0L)
    fnA(Seq(("b", 1L, 20.0)).toDF("id", "ver", "amount"), 1L)
    assert(Streams.lastPublished(spark, target) == (1L, "ckpt-A"))
    // same lineage, replayed id -> skipped
    fnA(Seq(("a", 9L, 99.0)).toDF("id", "ver", "amount"), 1L)
    assert(spark.read.parquet(target).filter(col("id") === "a")
      .head().getDouble(2) == 10.0)
    // FRESH checkpoint (ids restart at 0) against the same target: the old
    // gate dropped these batches silently; the lineage gate applies them
    val fnB = Streams.foreachBatchUpsert(target, "id", "ver", lineage = "ckpt-B")
    fnB(Seq(("a", 2L, 42.0)).toDF("id", "ver", "amount"), 0L)
    val got = spark.read.parquet(target).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("a", 2L, 42.0), ("b", 1L, 20.0)))
    assert(Streams.lastPublished(spark, target) == (0L, "ckpt-B"))
    // pre-lineage marker (no second line) parses as lineage "" and the
    // default-lineage sink still honors the id gate against it
    val fnOld = Streams.foreachBatchUpsert(target, "id", "ver")
    fnOld(Seq(("c", 1L, 7.0)).toDF("id", "ver", "amount"), 5L)
    assert(Streams.lastPublished(spark, target) == (5L, ""))
    fnOld(Seq(("c", 2L, 8.0)).toDF("id", "ver", "amount"), 5L) // replay: skipped
    assert(spark.read.parquet(target).filter(col("id") === "c")
      .head().getDouble(2) == 7.0)
  }

  // ---- partition-pruned stored state for the dedup sinks ------------------

  /** Every FileSourceScan in an executed plan, recursing through AQE
    * wrappers, query stages, and subqueries. */
  private def fileScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = plan match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case _ => Seq.empty
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    here ++ (kids ++ plan.subqueries).flatMap(fileScans)
  }

  /** Run `body` under a QueryExecutionListener and return the (numFiles,
    * numOutputRows) of every FileSourceScan over a path containing
    * `pathFrag` — the direct measurement of how much of a stored corpus a
    * sink's micro-batch actually read. Listener delivery is async, so the
    * collection is polled to quiescence. */
  private def capturedScans(pathFrag: String)(body: => Unit): Seq[(Long, Long)] = {
    val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        fileScans(qe.executedPlan).foreach { f =>
          if (f.relation.location.rootPaths.exists(_.toString.contains(pathFrag)))
            buf.synchronized {
              buf += ((f.metrics("numFiles").value, f.metrics("numOutputRows").value))
            }
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // wait until the async listener bus has gone quiet (no growth across
      // three consecutive polls), bounded by a deadline
      var lastSize = -1
      var stable = 0
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime < deadline) {
        Thread.sleep(100)
        val s = buf.synchronized(buf.size)
        if (s == lastSize) stable += 1 else { stable = 0; lastSize = s }
      }
    } finally spark.listenerManager.unregister(listener)
    buf.synchronized(buf.toSeq)
  }

  private def parquetFilesUnder(path: String): Int = {
    val root = new java.io.File(path)
    if (!root.exists) 0
    else {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(root)
    }
  }

  test("embedding dedup sink prunes the stored-vector read to the batch's cells") {
    val root = java.nio.file.Files.createTempDirectory("graft_embed_prune").toString
    val fn = Streams.foreachBatchEmbeddingDedup(root, "vid", "v", threshold = 0.95)
    // 8 orthogonal unit vectors -> derived nlist = 2; the two sampled
    // centroids claim their own cells, everything else ties onto cell 0 —
    // guaranteed >= 2 populated cell= partitions, no near-dups at 0.95
    def unit(i: Int) = Seq.tabulate(8)(j => if (j == i) 1.0 else 0.0)
    fn((0 until 8).map(i => (i.toLong, unit(i))).toDF("vid", "v"), 0L)
    val cellDirs = new java.io.File(s"$root/vectors/b0").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.length >= 2, s"need >=2 cells, got ${cellDirs.map(_.getName).toSeq}")
    val totalFiles = parquetFilesUnder(s"$root/vectors/b0")
    // batch 1 re-sends vector 0 verbatim: it touches exactly ONE cell —
    // the stored-side scan must list only that cell's partition
    val targetCell = Streams.embeddingCorpus(spark, root)
      .filter(col("id") === 0L).select("cell").head().getInt(0)
    val expectFiles = parquetFilesUnder(s"$root/vectors/b0/cell=$targetCell")
    val scans = capturedScans("/vectors/") {
      fn(Seq((100L, unit(0))).toDF("vid", "v"), 1L)
    }
    assert(scans.nonEmpty, "expected stored-vector scans during the batch")
    assert(scans.forall(_._1 <= expectFiles),
      s"a 1-cell batch must read only that cell's files: scans=$scans expected<=$expectFiles")
    assert(expectFiles < totalFiles, "pruning must exclude the other cells' files")
    // and the dedup stayed correct: 100 is an exact dup of stored 0
    assert(Streams.embeddingCorpus(spark, root).select("id").as[Long].collect().toSet
      == (0L until 8L).toSet)
  }

  test("indexed dedup sink prunes stored band/hash reads to the batch's buckets") {
    val root = java.nio.file.Files.createTempDirectory("graft_idx_prune").toString + "/r"
    val fn = Streams.foreachBatchIndexedDedup(root, "doc_id", "text")
    // 30 docs with fully disjoint vocabularies (no cross-doc shingles):
    // their band index spreads over many _bb partitions
    def doc(i: Int) = (0 until 8).map(j => s"w${i}x$j").mkString(" ")
    fn((0 until 30).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"), 0L)
    val totalBandFiles = parquetFilesUnder(s"$root/bands/b0")
    val totalHashFiles = parquetFilesUnder(s"$root/hashes/b0")
    val bandDirs = new java.io.File(s"$root/bands/b0").listFiles()
      .count(_.getName.startsWith("_bb="))
    assert(bandDirs >= 10, s"expected a spread band index, got $bandDirs dirs")
    // one new doc touches <= 4 (band,bucket) keys and ONE content hash;
    // compute its expected partitions with the sink's own bucketing
    val b1 = Seq((100L, doc(100))).toDF("doc_id", "text")
    val probeBuckets = graft.operators.Dedup.lshIndex(b1, "doc_id", "text", 5, 4, 4)
      .bands.select(pmod(hash(struct(col("band"), col("bucket"))), lit(64)).as("b"))
      .distinct().as[Int].collect().toSeq
    val expectBandFiles = probeBuckets
      .map(b => parquetFilesUnder(s"$root/bands/b0/_bb=$b")).sum
    val bandScans = capturedScans("/bands/") { fn(b1, 1L) }
    assert(bandScans.nonEmpty, "expected stored-band scans during the batch")
    assert(bandScans.forall(_._1 <= expectBandFiles),
      s"band scan must read only the batch's buckets: $bandScans <= $expectBandFiles")
    assert(expectBandFiles < totalBandFiles,
      s"pruning must exclude most band partitions ($expectBandFiles vs $totalBandFiles)")
    // hash store: an exact re-crawl of doc 0 probes exactly ONE _hb
    // partition — and that partition is guaranteed occupied (it holds doc
    // 0's own hash), so the pruned scan is observable instead of being
    // empty-propagated away by AQE
    val expectHashFiles = {
      val b = Seq((101L, doc(0))).toDF("doc_id", "text")
        .select(pmod(hash(md5(col("text"))), lit(64)).as("b")).head().getInt(0)
      parquetFilesUnder(s"$root/hashes/b0/_hb=$b")
    }
    val hashScans = capturedScans("/hashes/") {
      fn(Seq((101L, doc(0))).toDF("doc_id", "text"), 2L)
    }
    assert(hashScans.nonEmpty, "expected stored-hash scans during the batch")
    assert(hashScans.forall(_._1 <= expectHashFiles),
      s"hash scan must read only the batch's bucket: $hashScans <= $expectHashFiles")
    assert(expectHashFiles < totalHashFiles,
      s"pruning must exclude most hash partitions ($expectHashFiles vs $totalHashFiles)")
    // and the corpus is correct: the re-crawl was dropped, new docs kept
    assert(Streams.indexedCorpus(spark, root).select("doc_id").as[Long].collect().toSet
      == ((0L until 30L).toSet + 100L))
  }

  test("compactDedupState consolidates embedding state, preserves dedup, ignores stale dirs") {
    val root = java.nio.file.Files.createTempDirectory("graft_embed_compact").toString
    val fn = Streams.foreachBatchEmbeddingDedup(root, "vid", "v", threshold = 0.95)
    def unit(i: Int) = Seq.tabulate(8)(j => if (j == i) 1.0 else 0.0)
    // pairwise-cosine <= 0.71 everywhere: nothing dedups
    def pair(a: Int, b: Int) =
      Seq.tabulate(8)(j => if (j == a || j == b) math.sqrt(0.5) else 0.0)
    fn((0 until 8).map(i => (i.toLong, unit(i))).toDF("vid", "v"), 0L)
    fn(Seq((10L, pair(0, 1)), (11L, pair(2, 3))).toDF("vid", "v"), 1L)
    fn(Seq((12L, pair(4, 5)), (13L, pair(6, 7))).toDF("vid", "v"), 2L)
    val before = Streams.embeddingCorpus(spark, root)
      .select("id").as[Long].collect().toSet
    assert(before == ((0L until 8L).toSet ++ Set(10L, 11L, 12L, 13L)))

    Streams.compactDedupState(spark, root)
    val entries = new java.io.File(s"$root/vectors").listFiles().map(_.getName).toSet
    assert(entries == Set("base.2"), s"expected one consolidated dir, got $entries")
    assert(Streams.embeddingCorpus(spark, root).select("id").as[Long].collect().toSet
      == before, "compaction must not change the corpus")
    // one file per cell partition in the consolidated base
    val cellDirs = new java.io.File(s"$root/vectors/base.2").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty &&
      cellDirs.forall(d => d.listFiles().count(_.getName.endsWith(".parquet")) == 1),
      "expected exactly one file per cell partition after compaction")

    // ingest continues against the base: an exact dup of stored 0 drops,
    // a genuinely new vector survives
    fn(Seq((100L, unit(0)), (101L, pair(1, 2))).toDF("vid", "v"), 3L)
    assert(Streams.embeddingCorpus(spark, root).select("id").as[Long].collect().toSet
      == before + 101L)

    // crash-after-publish leftovers: a superseded b<id> (id <= base upTo)
    // must be invisible to readers and removed by the next hygiene pass
    val stale = new java.io.File(s"$root/vectors/b1")
    Seq((999L, pair(3, 4), 0)).toDF("id", "vec", "cell")
      .write.parquet(stale.toString)
    assert(Streams.embeddingCorpus(spark, root).select("id").as[Long].collect().toSet
      == before + 101L, "a superseded batch dir must be ignored")
    Streams.compactDedupState(spark, root)
    assert(!stale.exists, "hygiene pass must remove superseded dirs")
    assert(Streams.embeddingCorpus(spark, root).select("id").as[Long].collect().toSet
      == before + 101L)
  }

  test("compactDedupState consolidates the LSH index kinds and dedup still fires") {
    val root = java.nio.file.Files.createTempDirectory("graft_idx_compact").toString + "/r"
    val fn = Streams.foreachBatchIndexedDedup(root, "doc_id", "text")
    def doc(i: Int) = (0 until 8).map(j => s"w${i}x$j").mkString(" ")
    fn((0 until 10).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"), 0L)
    fn((10 until 20).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"), 1L)
    fn((20 until 30).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"), 2L)
    val before = Streams.indexedCorpus(spark, root)
      .select("doc_id").as[Long].collect().toSet
    assert(before == (0L until 30L).toSet)

    Streams.compactDedupState(spark, root)
    Seq("corpus", "sets", "bands", "hashes").foreach { kind =>
      val entries = new java.io.File(s"$root/$kind").listFiles().map(_.getName).toSet
      assert(entries == Set("base.2"), s"$kind: expected one consolidated dir, got $entries")
    }
    assert(Streams.indexedCorpus(spark, root).select("doc_id").as[Long].collect().toSet
      == before, "compaction must not change the corpus")

    // the consolidated index still catches dups: an exact re-crawl of doc 0
    // (hash store) and a fresh doc both arrive; only the fresh one survives
    fn(Seq((100L, doc(100)), (101L, doc(0))).toDF("doc_id", "text"), 3L)
    assert(Streams.indexedCorpus(spark, root).select("doc_id").as[Long].collect().toSet
      == before + 100L)
  }

  test("dedup sinks refuse a lineage mismatch over a committed corpus") {
    // indexed
    val rootI = java.nio.file.Files.createTempDirectory("graft_idx_lineage").toString + "/r"
    val docs0 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val docs1 = Seq((2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    Streams.foreachBatchIndexedDedup(rootI, "doc_id", "text", lineage = "ckpt-A")(docs0, 0L)
    val exI = intercept[IllegalStateException] {
      Streams.foreachBatchIndexedDedup(rootI, "doc_id", "text", lineage = "ckpt-B")(docs1, 0L)
    }
    assert(exI.getMessage.contains("lineage"))
    // the refused batch left nothing behind; the original lineage continues
    assert(Streams.indexedCorpus(spark, rootI).select("doc_id").as[Long].collect().toSet == Set(1L))
    Streams.foreachBatchIndexedDedup(rootI, "doc_id", "text", lineage = "ckpt-A")(docs1, 1L)
    assert(Streams.indexedCorpus(spark, rootI).select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // embedding
    val rootE = java.nio.file.Files.createTempDirectory("graft_embed_lineage").toString
    val v0 = Seq((1L, Seq(1.0, 0.0))).toDF("vid", "v")
    val v1 = Seq((2L, Seq(0.0, 1.0))).toDF("vid", "v")
    Streams.foreachBatchEmbeddingDedup(rootE, "vid", "v", 0.95, lineage = "ckpt-A")(v0, 0L)
    val exE = intercept[IllegalStateException] {
      Streams.foreachBatchEmbeddingDedup(rootE, "vid", "v", 0.95, lineage = "ckpt-B")(v1, 0L)
    }
    assert(exE.getMessage.contains("lineage"))
    // same lineage proceeds; a FRESH root accepts any lineage (bootstrap)
    Streams.foreachBatchEmbeddingDedup(rootE, "vid", "v", 0.95, lineage = "ckpt-A")(v1, 1L)
    assert(Streams.embeddingCorpus(spark, rootE).select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("embedding dedup: unassignable first batch does not poison the codebook") {
    val root = java.nio.file.Files.createTempDirectory("graft_embed_nullboot").toString
    val fn = Streams.foreachBatchEmbeddingDedup(root, "vid", "v", threshold = 0.95)
    // all-null and zero-norm vectors: the derived codebook would be
    // unusable — the batch must be skipped entirely (no codebook, no
    // marker), not committed as a permanently-poisoned quantizer
    fn(Seq((1L, Option.empty[Seq[Double]]), (2L, Option(Seq(0.0, 0.0))))
      .toDF("vid", "v"), 0L)
    assert(!new java.io.File(s"$root/codebook").exists,
      "unassignable batch must not persist a codebook")
    assert(!new java.io.File(root).listFiles().exists(_.getName.startsWith("_committed")),
      "unassignable batch must not commit a marker")
    // the next real batch bootstraps normally
    fn(Seq((3L, Option(Seq(1.0, 0.0))), (4L, Option(Seq(0.0, 1.0))))
      .toDF("vid", "v"), 1L)
    assert(Streams.embeddingCorpus(spark, root).select("id").as[Long].collect().toSet
      == Set(3L, 4L))
  }

  test("CMS sink: deltas accumulate to the whole-input sketch; replays are no-ops") {
    val root = java.nio.file.Files.createTempDirectory("graft_cms_sink").toString
    val (w, d) = (256, 4)
    val fn = Streams.foreachBatchCmsUpdate(root, "key", w, d)
    val b0 = Seq("x", "x", "y").toDF("key")
    val b1 = Seq("x", "z", "z", "z").toDF("key")
    fn(b0, 0L); fn(b1, 1L)
    def estimates: Map[String, Long] = graft.operators.Sketches
      .countMinEstimate(Streams.cmsSketch(spark, root),
        Seq("x", "y", "z").toDF("key"), "key", w, d)
      .as[(String, Long)].collect().toMap
    assert(estimates == Map("x" -> 3L, "y" -> 1L, "z" -> 3L))
    // persisted sum equals the one-shot whole-input build (linearity)
    val whole = graft.operators.Sketches
      .countMinBuild(b0.unionByName(b1), "key", w, d)
      .as[(Int, Long, Long)].collect().toSet
    assert(Streams.cmsSketch(spark, root).as[(Int, Long, Long)].collect().toSet == whole)
    // replaying a committed id and delivering an empty batch change nothing
    fn(Seq("poison", "poison").toDF("key"), 1L)
    fn(spark.emptyDataFrame.selectExpr("CAST(NULL AS STRING) AS key").limit(0), 2L)
    assert(estimates == Map("x" -> 3L, "y" -> 1L, "z" -> 3L))
  }

  test("CMS sink: lineage guard and compaction preserve the sketch") {
    val root = java.nio.file.Files.createTempDirectory("graft_cms_lineage").toString
    val (w, d) = (64, 3)
    Streams.foreachBatchCmsUpdate(root, "key", w, d, lineage = "ckpt-A")(
      Seq("a", "b").toDF("key"), 0L)
    // fresh-checkpoint rebind over a non-empty sketch must throw
    val ex = intercept[IllegalStateException] {
      Streams.foreachBatchCmsUpdate(root, "key", w, d, lineage = "ckpt-B")(
        Seq("c").toDF("key"), 0L)
    }
    assert(ex.getMessage.contains("lineage"))
    // same lineage proceeds; compaction collapses the dirs, sketch intact
    Streams.foreachBatchCmsUpdate(root, "key", w, d, lineage = "ckpt-A")(
      Seq("a", "c").toDF("key"), 1L)
    val before = Streams.cmsSketch(spark, root).as[(Int, Long, Long)].collect().toSet
    Streams.compactCmsState(spark, root)
    assert(Streams.cmsSketch(spark, root).as[(Int, Long, Long)].collect().toSet == before)
    assert(new java.io.File(s"$root/cms").listFiles()
      .count(_.getName.startsWith("base.")) == 1)
    // post-compaction ingest keeps accumulating on top of the base
    Streams.foreachBatchCmsUpdate(root, "key", w, d, lineage = "ckpt-A")(
      Seq("a").toDF("key"), 2L)
    val est = graft.operators.Sketches
      .countMinEstimate(Streams.cmsSketch(spark, root),
        Seq("a", "b", "c").toDF("key"), "key", w, d)
      .as[(String, Long)].collect().toMap
    assert(est == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }
}
