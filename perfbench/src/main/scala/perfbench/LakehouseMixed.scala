package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TableFormat
import graft.sources.Tables
import graft.streaming.Streams

/** Writes beside reads on one catalog table. A writer runs cycles of a
  * streaming append (`Streams.foreachBatchTableAppend`), SQL `MERGE INTO`
  * and merge-on-read `DELETE`, with `CALL graft.system.compact` every
  * [[LakehouseMixed.CompactEvery]] cycles; a reader alternates aggregate
  * SELECTs on the current version with `VERSION AS OF` reads of a seeded
  * earlier version. Both are closed loops on their own thread.
  *
  * Model: the writer applies every statement to a driver-side map and
  * publishes its digest under the version the commit creates. A current
  * read must equal one of the versions committed while it ran; a time
  * travel read must equal its version exactly. */
final class LakehouseMixed(ctx: Ctx) extends Workload {
  import LakehouseMixed._
  private val spark = ctx.spark
  private val data = ctx.path("data")
  private val warehouse = ctx.path("warehouse")

  Inputs.writeOrderTables(spark, data, ctx.seed, SourceRows, 80)
  spark.conf.set("spark.sql.catalog.graft", "graft.sources.v2.GraftTableCatalog")
  spark.conf.set("spark.sql.catalog.graft.warehouse", warehouse)

  /** Source cents per key, as the table computes them from the parquet. */
  private val sourceCents: Array[Long] = {
    val out = new Array[Long](SourceRows + 1)
    Tables.orders(spark, data)
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long"))
      .collect().foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
    out
  }

  private def source: DataFrame = Tables.orders(spark, data).select(col("o_orderkey").as("k"),
    round(col("o_totalprice") * 100).cast("long").as("cents"), col("o_comment").as("memo"))

  /** One table with its model and writer state. */
  private final class Table(val index: Int) {
    val name = s"lh_$index"
    val root = s"$warehouse/$name"
    val model = new Model.TableModel
    val sink: (DataFrame, Long) => Unit = Streams.foreachBatchTableAppend(root, s"$root/data", "k")
    var nextKey: Long = Base + 1
    var cycles = 0
    var batchId = 0L
    val firstVersion = new AtomicLong(0)
    val committed = new AtomicLong(0)
    val pending = new AtomicLong(0)
    val rng = new SplittableRandom(ctx.seed * 31 + 7 + index)

    def latestVersion(): Long = TableFormat.versions(spark, root).max
  }
  private var table: Table = _

  private def create(t: Table): Unit = {
    spark.sql(s"""CREATE TABLE graft.${t.name} (k BIGINT, cents BIGINT, memo STRING)
      TBLPROPERTIES('key_col'='k', 'write.delete.mode'='merge-on-read',
                    'write.merge.mode'='merge-on-read')""")
    source.filter(col("k") <= Base).createOrReplaceTempView(s"${t.name}_base")
    spark.sql(s"INSERT INTO graft.${t.name} SELECT k, cents, memo FROM ${t.name}_base")
    t.model.upsert((1L to Base).map(k => k -> sourceCents(k.toInt)))
    val v = t.latestVersion()
    t.model.publish(v)
    t.firstVersion.set(v); t.committed.set(v); t.pending.set(v)
  }

  private def freshKeys(t: Table, n: Int): Seq[Long] = {
    val ks = t.nextKey until math.min(t.nextKey + n, SourceRows + 1L)
    t.nextKey += ks.size
    ks
  }

  private def sample(t: Table, n: Int): Seq[Long] = {
    val live = t.model.liveKeys
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < math.min(n, live.length)) picked += live(t.rng.nextInt(live.length))
    picked.toList
  }

  /** Prepare one writer statement of `kind`: the model moves first and
    * publishes the version the commit will create, so a concurrent reader
    * may match it as soon as it lands. Returns the rows the statement
    * touches and the statement itself, which the caller times. */
  private def prepare(t: Table, kind: String): (Long, () => Unit) = {
    val tr = ctx.tracer
    val (rows, statement): (Long, () => Unit) = kind match {
      case "append" =>
        val ks = freshKeys(t, AppendRows)
        t.model.upsert(ks.map(k => k -> sourceCents(k.toInt)))
        val id = t.batchId; t.batchId += 1
        (ks.size.toLong, () => {
          val batch = tr.span("sources.read")(source.filter(col("k").between(ks.head, ks.last)))
          tr.span("streaming.append")(t.sink(batch, id))
        })
      case "merge" =>
        val updates = sample(t, MergeUpdates).map(k => (k, t.rng.nextInt(100000).toLong + 1, "updated"))
        val inserts = freshKeys(t, MergeInserts).map(k => (k, sourceCents(k.toInt), "merged"))
        val stage = updates ++ inserts
        t.model.upsert(stage.map(r => r._1 -> r._2))
        val view = s"${t.name}_stage_${t.pending.get() + 1}"
        spark.createDataFrame(stage).toDF("k", "cents", "memo").createOrReplaceTempView(view)
        (stage.size.toLong, () => tr.span("sources.v2.merge")(spark.sql(
          s"""MERGE INTO graft.${t.name} AS t USING $view AS s ON t.k = s.k
              WHEN MATCHED THEN UPDATE SET cents = s.cents
              WHEN NOT MATCHED THEN INSERT (k, cents, memo) VALUES (s.k, s.cents, s.memo)""")))
      case "delete" =>
        val ks = sample(t, DeleteRows)
        t.model.delete(ks)
        (ks.size.toLong, () => tr.span("sources.v2.delete")(
          spark.sql(s"DELETE FROM graft.${t.name} WHERE k IN (${ks.mkString(", ")})")))
      case "compact" =>
        (0L, () => tr.span("sources.v2.compact")(
          spark.sql(s"CALL graft.system.compact('${t.name}', ${ctx.cores})").collect()))
    }
    val v = t.pending.get() + 1
    t.model.publish(v)
    t.pending.set(v)
    (rows, () => { statement(); t.committed.set(v) })
  }

  /** One writer cycle: append, MERGE, DELETE, and a compaction every
    * [[CompactEvery]] cycles. All statements are prepared before the
    * returned closure, which the caller times, runs them. */
  private def cycle(t: Table): (Long, Boolean, () => Unit) = {
    val compacts = t.cycles % CompactEvery == CompactEvery - 1
    val kinds = Seq("append", "merge", "delete") ++ (if (compacts) Seq("compact") else Nil)
    t.cycles += 1
    val prepared = kinds.map(k => k -> prepare(t, k))
    (prepared.map(_._2._1).sum, compacts, () => prepared.foreach { case (k, (_, run)) =>
      val t0 = System.nanoTime()
      run()
      statements.synchronized(statements += k -> (System.nanoTime() - t0) / 1e9)
    })
  }

  /** Every measured statement's kind and seconds. */
  private val statements = mutable.ArrayBuffer.empty[(String, Double)]

  /** After a cycle: the log must end at the version the model expects. */
  private def confirm(t: Table): Unit = {
    val want = t.pending.get()
    val got = t.latestVersion()
    ctx.checks.record(got == want, s"lakehouse: cycle ${t.cycles} left version $got, model expects $want")
  }

  private def digest(sql: String): (Long, Long, Long) = {
    val r = spark.sql(sql).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def query(t: Table, asOf: Option[Long]): String =
    s"SELECT count(*), coalesce(sum(cents), 0L), coalesce(sum(k), 0L) FROM graft.${t.name}" +
      asOf.fold("")(v => s" VERSION AS OF $v")

  /** One reader operation: a current read (`asOf` empty) or a time travel
    * read, checked against the model. */
  private def read(t: Table, asOf: Option[Long]): Boolean = {
    val tr = ctx.tracer
    val lo = t.committed.get()
    if (tr.recordingNow) tr.span("operators.tableformat.resolve") {
      val vs = TableFormat.versions(spark, t.root)
      TableFormat.snapshot(spark, t.root, Some(asOf.getOrElse(vs.max)))
    }
    val df = tr.span("sources.v2.read_plan") {
      val d = spark.sql(query(t, asOf)); d.queryExecution.executedPlan; d
    }
    val r = tr.span("sources.v2.read_exec")(df.collect()(0))
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    val hi = t.pending.get()
    asOf match {
      case Some(v) => t.model.at(v).contains(got)
      case None => (lo to hi).exists(v => t.model.at(v).contains(got))
    }
  }

  def setUp(index: Int): Unit = {
    table = new Table(index)
    create(table)
    (0 until WarmCycles).foreach { _ => cycle(table)._3(); confirm(table) }
    (0 until WarmReads).foreach { i =>
      val asOf = if (i % 2 == 0) None else Some(table.firstVersion.get())
      ctx.checks.record(read(table, asOf), s"lakehouse warm read $i")
    }
  }

  def measure(seconds: Int): Measured = {
    val t = table
    // self-test: the model must reject a read checked against a neighbouring version
    val v = t.committed.get()
    ctx.checks.record(t.model.at(v) != t.model.at(v - 1) &&
      !t.model.at(v - 1).contains(digest(query(t, Some(v)))),
      "lakehouse: model does not reject a read of the wrong version")
    statements.synchronized(statements.clear())
    val planned = ctx.opsFor(seconds, NominalCycleSeconds, CompactEvery)
    require(t.nextKey + planned * (AppendRows + MergeInserts) <= SourceRows + 1L,
      s"$planned cycles run out of source keys")
    val cap = ctx.cap(planned * NominalCycleSeconds)
    val log = new OpLog(ctx)
    val cycles = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.ArrayBuffer.empty[Double]
    val rows = mutable.ArrayBuffer.empty[Long]
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val writer = new Thread("writer") {
      override def run(): Unit = try
        while (cycles.size < planned && ctx.beforeCap(cap))
          ctx.checks.attempt(s"lakehouse cycle ${t.cycles}") {
            val (n, compacts, run) = cycle(t)
            // a compacting cycle is its own kind, so tracing overhead
            // compares like with like
            val (_, secs) = log.op(if (compacts) "compacting_cycle" else "cycle", Seq(t.root))(run())
            confirm(t)
            cycles += secs
            rows += n
          }
      finally writing.set(false)
    }
    val reader = new Thread("reader") {
      override def run(): Unit = {
        val rng = new SplittableRandom(ctx.seed * 31 + 11)
        var i = 0
        // the reader runs exactly as long as the writer
        while (writing.get()) {
          val asOf = if (i % 2 == 0) None
            else Some(t.firstVersion.get() + rng.nextLong(t.committed.get() - t.firstVersion.get() + 1))
          ctx.checks.attempt(s"lakehouse read $i") {
            val (ok, secs) = log.op("read")(read(t, asOf))
            reads.synchronized { reads += secs }
            ctx.checks.record(ok, s"lakehouse read $i (${asOf.fold("current")(v => s"version $v")}) differs from the model")
          }
          i += 1
        }
      }
    }
    writer.start(); reader.start()
    writer.join(); reader.join()
    if (cycles.size < planned) ctx.log(s"cap reached after ${cycles.size} of $planned cycles")
    val snap = TableFormat.snapshot(spark, t.root)
    Measured(cycles.toList, reads.toList, rows.toList, log.tracedOps, log.overhead, Map(
        "exec.output_files" -> log.outputFilesPerOp,
        "exec.retained_block_bytes" -> log.retainedMax.toDouble,
        "operators.tableformat.log_entries" -> TableFormat.versions(spark, t.root).size.toDouble,
        "operators.tableformat.live_files" -> snap.files.size.toDouble,
        "operators.tableformat.delete_manifests" -> snap.deletes.size.toDouble),
      Map("cycles" -> cycles.size, "planned_cycles" -> planned, "reads" -> reads.size,
        "statement_seconds" -> statements.synchronized(statements.groupBy(_._1)
          .map { case (k, v) => k -> v.map(_._2).toList }.toMap),
        "final_version" -> t.committed.get()))
  }

  def describe: Map[String, Any] = Map("source_rows" -> SourceRows, "base_rows" -> Base,
    "append_rows" -> AppendRows, "merge_updates" -> MergeUpdates, "merge_inserts" -> MergeInserts,
    "delete_rows" -> DeleteRows, "compact_every_cycles" -> CompactEvery)
}

/** Traffic. The source has as many rows as sf0.1's `orders`; the base
  * size, statement sizes and compaction interval are the benchmark's own
  * choices (no production trace of this table exists to take them from),
  * picked so a run's five cycles, one of them compacting, take about 22 s
  * on 4 cores; the log grows by 16 versions a run. */
object LakehouseMixed {
  val SourceRows = 150000
  val Base = 40000
  val AppendRows = 2000
  val MergeUpdates = 400
  val MergeInserts = 400
  val DeleteRows = 300
  val CompactEvery = 5
  val WarmCycles = 1
  val WarmReads = 4
  /** One cycle's time on a 4-core machine, compactions included; sets the
    * cycles per run. */
  val NominalCycleSeconds = 4.4
}
