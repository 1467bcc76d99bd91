package perfbench

import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.jobs.{BudgetPipeline, SyncTransactions}
import graft.operators.{Contracts, Flatten, IncrementalMerge, Sinks}
import graft.sources.{Synthetic, Tables}

/** The production job: monthly incremental sync ticks against a stored,
  * month-partitioned Transactions table. Each tick re-extracts the
  * previous month (carrying seeded late edits) and the new month, merges
  * them over the stored table, rewrites those two month partitions, fully
  * overwrites Budgets and Accounts, and advances the watermark.
  *
  * Model: a plain-SQL count and cents checksum over the generated orders,
  * per month, with the same edits applied; the stored table's row count,
  * checksum and column order are compared with it after every tick. */
final class SyncIncremental(ctx: Ctx) extends Workload {
  import SyncIncremental._
  private val spark = ctx.spark
  private val data = ctx.path("data")
  private val loadedAt = "2026-01-01 00:00:00"

  Inputs.writeOrderTables(spark, data, ctx.seed, Orders, Months)

  /** Per month: rows, cents with no edit, cents with the late edit. */
  private val perMonth: Map[Int, (Long, Long, Long)] = {
    Tables.orders(spark, data).createOrReplaceTempView("bench_orders")
    def cents(price: String) =
      s"CASE WHEN pmod(o_orderkey, 3) = 0 THEN -1 ELSE 1 END * " +
        s"CAST(round(round($price, 2) * 100) AS BIGINT)"
    spark.sql(
      s"""SELECT (year(o_orderdate) - ${Inputs.epoch.getYear}) * 12 + month(o_orderdate) - 1 AS m,
         |       count(*) AS n,
         |       sum(${cents("o_totalprice")}) AS plain,
         |       sum(CASE WHEN pmod(xxhash64(${ctx.seed}L, o_orderkey), $EditEvery) = 0
         |                THEN ${cents(s"o_totalprice + $EditDelta")}
         |                ELSE ${cents("o_totalprice")} END) AS edited
         |FROM bench_orders GROUP BY 1""".stripMargin)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
  }

  /** Expected (rows, cents) after tick `t`: months up to T0 + t stored,
    * months T0 - 1 .. T0 - 1 + t re-extracted once with their edits. */
  private def expected(t: Int): (Long, Long) = {
    val ms = 0 to (T0 + t)
    val rows = ms.map(m => perMonth.get(m).fold(0L)(_._1)).sum
    val cents = ms.map { m =>
      val (_, plain, edited) = perMonth.getOrElse(m, (0L, 0L, 0L))
      if (m >= T0 - 1 && m <= T0 - 1 + t) edited else plain
    }.sum
    (rows, cents)
  }

  private def freshRows(t: Int): Long =
    Seq(T0 - 1 + t, T0 + t).map(m => perMonth.get(m).fold(0L)(_._1)).sum

  private final class Root(index: Int) {
    val dir: String = ctx.path("sync", s"root-$index")
    val tx = s"$dir/transactions"
    val budgets = s"$dir/budgets"
    val accounts = s"$dir/accounts"
    val control = new IncrementalMerge.ControlTable(spark, s"$dir/control")
    var tick = 0
  }
  private var root: Root = _

  private def instant(m: Int): Instant = Inputs.monthStart(m).atStartOfDay(ZoneOffset.UTC).toInstant

  /** History before the first tick: months 0 .. T0 - 1 in one load, with
    * the watermark at the start of month T0 - 1. */
  private def initialLoad(r: Root): Unit = {
    val orders = Tables.orders(spark, data)
    val dim = Synthetic.accountsDim(Tables.customer(spark, data))
    val history = SyncTransactions.flattenBatch(Synthetic.nestedTransactions(
      orders.filter(col("o_orderdate") < lit(monthTs(T0)))), dim)
      .withColumn("loadedAtUtc", lit(loadedAt))
    Sinks.writeMonthPartitioned(Contracts.transactions(history), r.tx)
    r.control.advance(instant(T0 - 1))
  }

  private def monthTs(m: Int): java.sql.Timestamp = java.sql.Timestamp.from(instant(m))

  /** One sync tick against root `r`. Returns the fresh extract's size. */
  private def tick(r: Root): Long = {
    val t = r.tick
    val tr = ctx.tracer
    val (watermark, existing, orders, customer, nation, region) = tr.span("sources.read") {
      (r.control.read(), Sinks.readMonthPartitioned(spark, r.tx), Tables.orders(spark, data),
        Tables.customer(spark, data), Tables.nation(spark, data), Tables.region(spark, data))
    }
    val (start, now) = IncrementalMerge.extractionWindow(watermark, instant(T0 + 1 + t),
      backfillDays = 62, targetIsEmpty = false)
    require(start == Inputs.monthStart(T0 - 1 + t),
      s"watermark ${watermark.orNull} gives window start $start at tick $t")
    val edited = when(
      col("o_orderdate") < lit(monthTs(T0 + t)) &&
        pmod(xxhash64(lit(ctx.seed), col("o_orderkey")), lit(EditEvery)) === 0,
      col("o_totalprice") + EditDelta).otherwise(col("o_totalprice"))
    val (fresh, dim) = tr.span("sources.read") {
      (Synthetic.nestedTransactions(orders
        .filter(col("o_orderdate") >= lit(monthTs(T0 - 1 + t)) &&
          col("o_orderdate") < lit(java.sql.Timestamp.from(now)))
        .withColumn("o_totalprice", edited)),
        Synthetic.accountsDim(customer))
    }
    val merged = tr.span("jobs.sync.build") {
      SyncTransactions.sync(existing, fresh, dim, start.toString, loadedAt)
    }
    val window = merged.filter(col("date") >= lit(start.toString).cast("date"))
    tr.span("operators.sinks.write")(Sinks.writeMonthPartitioned(window, r.tx))

    val budgets = tr.span("jobs.budget.build") {
      BudgetPipeline.records(
        Synthetic.Budget.byCategory(nation), Synthetic.Budget.byGroup(region),
        Synthetic.Budget.flex(spark), Synthetic.Budget.totals(spark),
        Synthetic.Budget.categoriesDim(nation), Synthetic.Budget.groupsDim(region),
        loadedAt = loadedAt)
    }
    tr.span("operators.sinks.write")(Sinks.writeSheetCsv(budgets, r.budgets))

    val accounts = tr.span("operators.flatten.build") {
      Contracts.accounts(Flatten.sheetCells(Flatten.account(
        Synthetic.nestedAccounts(customer, nation))))
    }
    tr.span("operators.sinks.write")(Sinks.writeSheetCsv(accounts, r.accounts))

    tr.span("sources.control_advance")(r.control.advance(instant(T0 + t)))
    r.tick += 1
    freshRows(t)
  }

  private def digestOf(stored: DataFrame): (Long, Long) = {
    val row = stored.agg(count(lit(1)), sum(round(col("amount") * 100).cast("long"))).collect()(0)
    (row.getLong(0), row.getLong(1))
  }

  /** Whether a stored table with `digest` and columns `cols` is what the
    * model expects after tick `t`. */
  private def matches(digest: (Long, Long), cols: Seq[String], t: Int): Boolean =
    digest == expected(t) && cols == Model.TransactionColumns.filter(cols.toSet) &&
      cols.forall(Model.TransactionColumns.contains) && cols.length >= 20

  /** Read the stored table back the way a consumer does and compare it
    * with the model for the ticks applied so far. */
  private def readAndCheck(r: Root): Double = {
    val t0 = System.nanoTime()
    val stored = Sinks.readMonthPartitioned(spark, r.tx)
    val digest = digestOf(stored)
    val secs = (System.nanoTime() - t0) / 1e9
    ctx.checks.record(matches(digest, stored.columns.toSeq, r.tick - 1),
      s"sync tick ${r.tick - 1}: stored (rows, cents) $digest, model ${expected(r.tick - 1)}, " +
        s"columns ${stored.columns.toSeq}")
    secs
  }

  /** The comparison must reject a stored table with one amount off by a
    * cent, one row lost, or two columns swapped. */
  private def selfTest(r: Root): Unit = {
    val stored = Sinks.readMonthPartitioned(spark, r.tx)
    val cols = stored.columns.toSeq
    val t = r.tick - 1
    val oneId = stored.select(min(col("id"))).collect()(0).getString(0)
    val offByCent = digestOf(stored.withColumn("amount",
      when(col("id") === oneId, col("amount") + 0.01).otherwise(col("amount"))))
    val lostRow = digestOf(stored.filter(col("id") =!= oneId))
    val swapped = cols.updated(1, cols(2)).updated(2, cols(1))
    ctx.checks.record(matches(digestOf(stored), cols, t) && !matches(offByCent, cols, t) &&
      !matches(lostRow, cols, t) && !matches(digestOf(stored), swapped, t),
      "sync: the model does not reject a corrupted table")
  }

  def setUp(index: Int): Unit = {
    if (root != null) ctx.delete(root.dir)
    root = new Root(index)
    initialLoad(root)
    val warm = (0 until WarmTicks).map { _ =>
      val t0 = System.nanoTime()
      tick(root)
      val secs = (System.nanoTime() - t0) / 1e9
      readAndCheck(root)
      secs
    }
    ctx.log(f"set-up $index: warm ticks ${warm.map(s => f"$s%.3f").mkString(" ")} s")
  }

  def measure(seconds: Int): Measured = {
    val planned = ctx.opsFor(seconds, NominalTickSeconds, 2)
    require(T0 + WarmTicks + planned <= Months, s"$planned ticks run past the last month")
    val cap = ctx.cap(planned * NominalTickSeconds)
    val log = new OpLog(ctx)
    val ticks = scala.collection.mutable.ArrayBuffer.empty[Double]
    val reads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rows = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (ticks.size < planned && ctx.beforeCap(cap)) {
      ctx.checks.attempt(s"sync tick ${root.tick}") {
        val (n, secs) = log.op("tick", Seq(root.dir))(tick(root))
        ticks += secs
        rows += n
        (0 until ReadsPerTick).foreach(_ => reads += readAndCheck(root))
      }
    }
    if (ticks.size < planned) ctx.log(s"cap reached after ${ticks.size} of $planned ticks")
    // after the timed loop: its new expressions would otherwise make the
    // JIT recompile code the first measured tick runs
    selfTest(root)
    // whole-table outputs of the last tick, checked once
    val accounts = spark.read.option("header", "true").csv(root.accounts)
    val nCust = Tables.customer(spark, data).count()
    ctx.checks.record(accounts.count() == nCust &&
      accounts.columns.take(Model.AccountPriority.length).toSeq == Model.AccountPriority,
      s"sync: accounts table has ${accounts.count()} rows (model $nCust) and columns ${accounts.columns.toSeq}")
    ctx.checks.record(spark.read.option("header", "true").csv(root.budgets).count() > 0, "sync: budgets table is empty")
    Measured(ticks.toList, reads.toList, rows.toList, log.tracedOps, log.overhead, Map(
        "exec.output_files" -> log.outputFilesPerOp,
        "exec.retained_block_bytes" -> log.retainedMax.toDouble),
      Map("ticks" -> ticks.size, "planned_ticks" -> planned))
  }

  def describe: Map[String, Any] = Map(
    "orders" -> Orders, "months" -> Months, "first_tick_month" -> T0,
    "warm_ticks_per_setup" -> WarmTicks, "reads_per_tick" -> ReadsPerTick,
    "late_edit_every" -> EditEvery)
}

/** Sizes. `Orders` and `Months` follow sf0.1's `orders` (150,000 orders
  * over 80 months). The history length, reads per tick and late-edit rate
  * are the benchmark's own choices; nothing in the reference fixes them. */
object SyncIncremental {
  val Orders = 150000
  val Months = 80
  val T0 = 6
  val WarmTicks = 3
  val ReadsPerTick = 6
  val EditEvery = 50
  val EditDelta = 1.25
  /** One tick and its reads on a 4-core machine; sets the ticks per run. */
  val NominalTickSeconds = 3.5
}
