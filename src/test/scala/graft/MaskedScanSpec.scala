package graft

import scala.collection.mutable

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._

import graft.operators.TableFormat

/** The MASKED SCAN every library rewrite reads through: one scan, one
  * path lookup, one deletion-vector anti-join and one seq-aware
  * manifest anti-join, whatever the number of commits or DV'd files.
  * Seeded schedules of appends, positional (DV) deletes, equality
  * (manifest) deletes, merge-on-read upserts, re-appends of deleted
  * keys, null keys and a column rename are checked against a
  * driver-side model, before and after compaction. */
class MaskedScanSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft_mscan").toString
    spark.conf.set("spark.sql.catalog.mscat",
      "graft.sources.v2.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.mscat.warehouse", wh)
    wh
  }

  private type Row2 = (Option[Long], Long)

  /** A table under a seeded schedule plus its driver-side model: the
    * live rows as a multiset of (key, value). Values are unique, so a
    * positional delete's predicate on the value picks exact rows. */
  private final class Schedule(val name: String, seed: Long) {
    val root = s"$warehouse/$name"
    val rng = new scala.util.Random(seed)
    var model = Vector.empty[Row2]
    var vcol = "v"
    var nextV = 0L
    val deleted = mutable.LinkedHashSet.empty[Long]

    spark.sql(s"""CREATE TABLE mscat.$name (k BIGINT, v BIGINT)
      TBLPROPERTIES('key_col'='k')""")

    private def fresh(keys: Seq[Option[Long]]): Seq[Row2] =
      keys.map { k => nextV += 1; (k, nextV) }

    def append(keys: Seq[Option[Long]]): Unit = {
      val rows = fresh(keys)
      spark.createDataFrame(rows).toDF("k", vcol)
        .createOrReplaceTempView(s"mscan_src_$name")
      spark.sql(s"INSERT INTO mscat.$name SELECT * FROM mscan_src_$name")
      model ++= rows
    }

    def dvDelete(m: Int, r: Int): Unit = {
      TableFormat.deletePositions(spark, root, s"$root/data",
        col(vcol) % m === r)
      model = model.filterNot(_._2 % m == r)
    }

    def manifestDelete(keys: Seq[Long]): Unit = {
      TableFormat.deleteKeysMoR(spark, root, s"$root/data", keys)
      model = model.filterNot(_._1.exists(keys.contains))
      deleted ++= keys
    }

    def upsert(keys: Seq[Long]): Unit = {
      val rows = fresh(keys.map(Some(_)))
      TableFormat.upsertRowsMoR(spark, root, s"$root/data",
        spark.createDataFrame(rows).toDF("k", vcol))
      model = model.filterNot(_._1.exists(keys.contains)) ++ rows
    }

    def rename(to: String): Unit = {
      spark.sql(s"ALTER TABLE mscat.$name RENAME COLUMN $vcol TO $to")
      vcol = to
    }

    def key(): Long = rng.nextInt(40).toLong

    /** `nOps` seeded operations; the column rename lands mid-schedule so
      * both rename eras hold data, DVs and masked keys. */
    def run(nOps: Int): this.type = {
      append((0 until 30).map(_ => Some(key())) :+ None)
      (1 to nOps).foreach { i =>
        if (i == nOps / 2) rename("w")
        rng.nextInt(5) match {
          case 0 => append((0 until 8).map(_ =>
            if (rng.nextInt(6) == 0) None else Some(key())))
          case 1 => dvDelete(7 + rng.nextInt(4), rng.nextInt(7))
          case 2 => manifestDelete(Seq.fill(3)(key()).distinct)
          case 3 => upsert(Seq.fill(4)(key()).distinct)
          case _ =>
            // the seq rule: a key re-appended after its delete is live
            val k = if (deleted.isEmpty) key() else deleted.toSeq(rng.nextInt(deleted.size))
            append(Seq(Some(k), Some(k)))
        }
      }
      this
    }

    private def rows2(df: org.apache.spark.sql.DataFrame): Seq[Row2] =
      df.select(col("k"), col(vcol)).collect().toSeq.map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1)))

    /** Every reader against the model; returns (key, value, row id). */
    def check(when: String): Seq[(Option[Long], Long, Long)] = {
      val snap = TableFormat.snapshot(spark, root)
      val want = model.sortBy(_._2)
      assert(rows2(TableFormat.read(spark, snap)).sortBy(_._2) == want,
        s"$name $when: read")
      val lin = TableFormat.readFilesWithLineage(spark, snap,
          snap.files.map(_.file))
        .select(col("k"), col(vcol), col(TableFormat.IdColName))
        .collect().toSeq.map(r =>
          (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1),
            r.getLong(2)))
        .sortBy(_._2)
      assert(lin.map(t => (t._1, t._2)) == want, s"$name $when: lineage rows")
      assert(lin.map(_._3).distinct.size == lin.size, s"$name $when: ids")
      // the SQL reader masks inside its scan tasks — an independent path
      val sql = spark.sql(s"SELECT k, $vcol, _row_id FROM mscat.$name")
        .collect().toSeq.map(r =>
          (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1),
            r.getLong(2)))
        .sortBy(_._2)
      assert(sql == lin, s"$name $when: SQL rows and _row_id")
      lin
    }
  }

  test("seeded schedules: masked reads and lineage ids match the model " +
      "before and after compaction") {
    warehouse
    Seq(11L, 12L, 13L).foreach { seed =>
      val s = new Schedule(s"sched_$seed", seed).run(14)
      val snap = TableFormat.snapshot(spark, s.root)
      assert(snap.deletes.nonEmpty || snap.files.exists(_.dv.isDefined),
        s"seed $seed: schedule left nothing masked")
      val before = s.check("before compact")
      TableFormat.compact(spark, s.root, s"${s.root}/data", 2)
      val after = s.check("after compact")
      assert(after == before, s"seed $seed: compaction moved rows or ids")
      val c = TableFormat.snapshot(spark, s.root)
      assert(c.deletes.isEmpty && c.files.forall(_.dv.isEmpty))
    }
  }

  /** Every node of an executed plan, through AQE wrappers, query stages
    * and subqueries. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    plan +: (kids ++ plan.subqueries).flatMap(nodes)
  }

  /** Run `body`; return the executed plans of its writes and the number
    * of jobs that ran outside any SQL execution. Listener delivery is
    * async, so the captures are polled to quiescence. */
  private def observe(body: => Unit): (Seq[SparkPlan], Int) = {
    val writes = mutable.ArrayBuffer.empty[SparkPlan]
    val bare = new java.util.concurrent.atomic.AtomicInteger()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (nodes(qe.executedPlan).exists(_.isInstanceOf[
            org.apache.spark.sql.execution.command.DataWritingCommandExec]))
          writes.synchronized(writes += qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
    }
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .isEmpty) bare.incrementAndGet()
    }
    spark.listenerManager.register(qel)
    spark.sparkContext.addSparkListener(jl)
    try {
      body
      var last = -1
      var stable = 0
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime < deadline) {
        Thread.sleep(100)
        val n = writes.synchronized(writes.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(jl)
    }
    (writes.synchronized(writes.toSeq), bare.get)
  }

  test("the compaction write plan holds at most two parquet scans whatever " +
      "the number of commits, and runs no job outside a SQL execution") {
    warehouse
    val scans = Seq(2, 6).map { rounds =>
      val name = s"shape_$rounds"
      val root = s"$warehouse/$name"
      spark.sql(s"""CREATE TABLE mscat.$name (k BIGINT, v BIGINT)
        TBLPROPERTIES('key_col'='k')""")
      (0 until rounds).foreach { i =>
        spark.sql(s"INSERT INTO mscat.$name " +
          s"SELECT id AS k, id AS v FROM range(${i * 50}, ${i * 50 + 50})")
        TableFormat.deletePositions(spark, root, s"$root/data",
          col("v") % 9 === i)
        TableFormat.deleteKeysMoR(spark, root, s"$root/data",
          Seq(i * 50L + 1, i * 50L + 2))
      }
      val snap = TableFormat.snapshot(spark, root)
      assert(snap.files.count(_.dv.isDefined) >= rounds)
      assert(snap.deletes.size == rounds)
      val want = TableFormat.read(spark, snap).count()
      val (writes, bare) = observe {
        TableFormat.compact(spark, root, s"$root/data", 2)
      }
      assert(bare == 0, s"$rounds rounds: $bare job(s) outside a SQL execution")
      assert(writes.size == 1, s"$rounds rounds: ${writes.size} writes")
      assert(TableFormat.read(spark, TableFormat.snapshot(spark, root)).count()
        == want)
      nodes(writes.head).count(_.isInstanceOf[FileSourceScanExec])
    }
    assert(scans.forall(_ <= 2) && scans.distinct.size == 1,
      s"parquet scans in the compaction write by commit count: $scans")
  }
}
