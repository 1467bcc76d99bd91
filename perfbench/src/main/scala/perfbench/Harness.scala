package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Counts every operation and model check; a check that fails or an
  * operation that throws is a failed operation. */
final class Checks {
  private var attempted0 = 0L
  private var failed0 = 0L
  private val messages = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def failures: Seq[String] = synchronized(messages.toList)

  /** Count one attempted operation whose outcome is `ok`. */
  def record(ok: Boolean, what: => String): Boolean = synchronized {
    attempted0 += 1
    if (!ok) {
      failed0 += 1
      if (messages.size < 20) messages += what
    }
    ok
  }

  /** Run `body`; an exception counts as one failed operation. */
  def attempt(what: String)(body: => Unit): Unit =
    try body
    catch {
      case scala.util.control.NonFatal(e) =>
        record(ok = false, s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
}

/** Everything a workload needs from the harness. `runDir` is private to
  * this run and removed when it ends. */
final class Ctx(val spark: SparkSession, val runDir: String, val seed: Long,
                val tracer: Tracer, val cores: Int) {
  val checks = new Checks

  def path(parts: String*): String = (runDir +: parts).mkString("/")

  /** Remove a directory tree through Hadoop's file system. */
  def delete(p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** How many operations a run of `seconds` makes: `seconds` divided by
    * the operation's nominal time on a 4-core machine, in whole blocks of
    * `block`. The count depends on nothing else, so every run of the same
    * length measures the same operations on the same table states, however
    * fast the program is. */
  def opsFor(seconds: Int, nominalOpSeconds: Double, block: Int): Int =
    block * math.max(1, math.round(seconds / nominalOpSeconds / block).toInt)

  /** A deadline past which a run stops early: twice the nominal time of
    * the planned operations (whole blocks can plan more than `--seconds`).
    * It only bounds a run of a much slower program; a run that hits it
    * reports what it measured and logs how many operations it skipped. */
  def cap(plannedSeconds: Double): Long = System.nanoTime() + (2e9 * plannedSeconds).toLong

  def beforeCap(cap: Long): Boolean = System.nanoTime() < cap

  /** Reset the process's peak resident set so it covers only what
    * follows (Linux `clear_refs`; a no-op where unsupported). */
  def resetPeakRss(): Unit =
    scala.util.Try(java.nio.file.Files.write(java.nio.file.Paths.get("/proc/self/clear_refs"),
      "5".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))

  /** Bytes held by persisted and checkpointed blocks right now. */
  def retainedBlockBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** Timings one workload measured in its closed loop. `opSeconds` are the
  * caller's primary operations (sync ticks, writer cycles), `readSeconds` its
  * reads, `opRows` the input rows each operation processed, `overhead` the
  * tracing overhead per operation kind. */
final case class Measured(opSeconds: Seq[Double], readSeconds: Seq[Double],
                          opRows: Seq[Long], tracedOps: Map[String, Set[Int]],
                          overhead: Map[String, Double],
                          perLayer: Map[String, Double], extra: Map[String, Any]) {
  /** Median over operations of rows per second: a rate that one slow
    * operation (a compaction, a drifting first tick) does not pull. */
  def rowsPerSecond: Double = Stats.median(opRows.zip(opSeconds).map { case (r, s) => r / s })
}

/** Per-op bookkeeping shared by the workload loops: which operations ran
  * traced (per thread), their times per thread and kind, and the files
  * they wrote. */
final class OpLog(ctx: Ctx) {
  private val traced = mutable.HashMap.empty[String, Set[Int]]
  /** (traced, seconds) of each operation, in order, per (thread, kind). */
  private val series = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[(Boolean, Double)]]
  var outputFiles = 0L
  var tracedWriteOps = 0
  var retainedMax = 0L
  private var next = 0
  /** Operations of each kind the calling thread has started. */
  private val onThread = new ThreadLocal[mutable.HashMap[String, Int]] {
    override def initialValue(): mutable.HashMap[String, Int] = mutable.HashMap.empty
  }

  /** Time one operation of the calling thread. In a traced run each
    * thread's operations of one kind go traced, untraced, untraced, traced
    * in blocks of four, so a drift that is linear over the block cancels
    * out of the overhead; `outputs` are the directories whose new files it
    * counts. */
  def op[T](kind: String, outputs: Seq[String] = Nil)(body: => T): (T, Double) = {
    val id = synchronized { next += 1; next }
    val n = onThread.get().getOrElse(kind, 0)
    onThread.get()(kind) = n + 1
    val isTraced = ctx.tracer.enabled && (n % 4 == 0 || n % 4 == 3)
    val before = if (isTraced) outputs.map(listFiles).foldLeft(Set.empty[String])(_ ++ _) else Set.empty[String]
    ctx.tracer.beginOp(id, isTraced)
    val t0 = System.nanoTime()
    val result = try ctx.tracer.span(kind)(body) finally ctx.tracer.endOp()
    val secs = (System.nanoTime() - t0) / 1e9
    synchronized {
      if (ctx.tracer.enabled) {
        val th = Thread.currentThread().getName
        series.getOrElseUpdate((th, kind), mutable.ArrayBuffer.empty) += (isTraced -> secs)
        if (isTraced) {
          traced(th) = traced.getOrElse(th, Set.empty) + id
          if (outputs.nonEmpty) {
            val after = outputs.map(listFiles).foldLeft(Set.empty[String])(_ ++ _)
            outputFiles += (after -- before).size
            tracedWriteOps += 1
          }
        }
        retainedMax = math.max(retainedMax, ctx.retainedBlockBytes())
      }
    }
    (result, secs)
  }

  def tracedOps: Map[String, Set[Int]] = synchronized(traced.toMap)

  /** Tracing overhead per operation kind: over each complete block of four
    * (traced, untraced, untraced, traced), the mean of the traced two minus
    * the mean of the untraced two; the median over blocks. 0 for a kind
    * with no complete block. */
  def overhead: Map[String, Double] = synchronized {
    series.toSeq.groupBy(_._1._2).map { case (kind, byThread) =>
      val blocks = byThread.flatMap(_._2.map(_._2).grouped(4).filter(_.size == 4))
        .map(b => (b(0) + b(3) - b(1) - b(2)) / 2)
      kind -> (if (blocks.isEmpty) 0.0 else Stats.median(blocks))
    }
  }

  /** New files per traced operation that writes. */
  def outputFilesPerOp: Double =
    synchronized(if (tracedWriteOps == 0) 0.0 else outputFiles.toDouble / tracedWriteOps)

  private def listFiles(p: String): Set[String] = {
    val root = new java.io.File(p)
    if (!root.exists()) Set.empty
    else {
      val it = java.nio.file.Files.walk(root.toPath)
      try {
        val b = Set.newBuilder[String]
        it.forEach { f =>
          val n = f.getFileName.toString
          if (java.nio.file.Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_"))
            b += f.toString
        }
        b.result()
      } finally it.close()
    }
  }
}

trait Workload {
  /** Build fresh root `index` from the generated inputs and warm it up.
    * The harness times each call; the last root built is the one
    * [[measure]] runs against. */
  def setUp(index: Int): Unit

  /** Run the closed loop's fixed number of operations for a run of
    * `seconds`, after any untimed preparation (model building) the
    * workload needs. */
  def measure(seconds: Int): Measured

  /** Provenance fields specific to the workload. */
  def describe: Map[String, Any]
}
