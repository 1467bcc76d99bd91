package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Functions._

/** One benchmark run in one JVM: generate the seeded inputs, set up the
  * workload several times, run its closed loop for the given seconds, and
  * write the result as JSON to `--out`.
  *
  * {{{
  *   perfbench.Main --workload sync_incremental --seed 1 --seconds 10 \
  *     --trace 0 --run-dir <run dir> --out <result.json> [--spans <spans.json>]
  * }}}
  */
object Main {
  val Workloads: Seq[String] = Seq("sync_incremental", "lakehouse_mixed")

  /** How many fresh roots each run sets up; `setup_s` is their median. */
  val SetUps = 3

  /** Per-layer metrics, in the order they are reported. Spans are the
    * per-operation mean self time of every span with that name. */
  val SpanMetrics: Seq[String] = Seq(
    "sources.read", "jobs.sync.build", "jobs.budget.build", "operators.flatten.build",
    "operators.sinks.write", "sources.control_advance",
    "streaming.append", "sources.v2.merge", "sources.v2.delete", "sources.v2.compact",
    "sources.v2.read_plan", "sources.v2.read_exec", "operators.tableformat.resolve")

  /** Rows of the workload's input the kernel rates are measured over. */
  val KernelRows = 50000

  val Kernels: Seq[String] = Seq("lang_id", "quality_signals", "minhash_signature", "parse_money", "scan_floor")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val runDir = opts("run-dir")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

    val loadStart = loadAvg()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Functions.register(spark)
    val sessionSeconds = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, runDir, seed, tracer, cores)
    Model.selfTest().foreach(f => ctx.checks.record(ok = false, s"model self-test: $f"))
    ctx.checks.record(ok = true, "model self-test")

    val t1 = System.nanoTime()
    val w: Workload = workload match {
      case "sync_incremental" => new SyncIncremental(ctx)
      case "lakehouse_mixed" => new LakehouseMixed(ctx)
    }
    val inputSeconds = (System.nanoTime() - t1) / 1e9

    val setups = (0 until SetUps).map { i =>
      val s0 = System.nanoTime()
      w.setUp(i)
      (System.nanoTime() - s0) / 1e9
    }
    ctx.log(f"session $sessionSeconds%.3f s, inputs $inputSeconds%.3f s, set-ups ${setups.map(s => f"$s%.3f").mkString(", ")} s; measuring $seconds s")

    val t2 = System.nanoTime()
    ctx.resetPeakRss()
    val m = w.measure(seconds)
    tracer.drain()
    val peakRss = peakRssMb()
    ctx.log(f"measure phase ${(System.nanoTime() - t2) / 1e9}%.3f s; ops ${m.opSeconds.map(x => f"$x%.3f").mkString(" ")}")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val (opTail, opTailPct) = Stats.tail(m.opSeconds)
    val (readTail, readTailPct) = Stats.tail(m.readSeconds)
    if (!trace) {
      metrics("setup_s") = (Stats.median(setups), "s")
      metrics("op_p50_s") = (Stats.median(m.opSeconds), "s")
      metrics("op_tail_s") = (opTail, "s")
      metrics("rows_per_s") = (m.rowsPerSecond, "rows/s")
      metrics("read_p50_s") = (Stats.median(m.readSeconds), "s")
      metrics("read_tail_s") = (readTail, "s")
    } else {
      perLayer(tracer, m).foreach { case (k, v) => metrics(k) = v }
      kernelRates(spark, Inputs.kernelInput(spark, ctx.path("data"))).foreach { case (k, v) => metrics(k) = (v, "rows/s") }
    }

    val (alias, aliasNote) = aliases(workload, m, opTailPct, readTailPct)
    val provenance = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_cores" -> cores,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "peak_rss_mb" -> peakRss,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadAvg(),
      "session_s" -> sessionSeconds, "inputs_s" -> inputSeconds, "setup_samples_s" -> setups,
      "op_samples" -> m.opSeconds.size, "read_samples" -> m.readSeconds.size,
      "op_seconds" -> m.opSeconds, "read_seconds" -> m.readSeconds,
      "op_tail_percentile" -> opTailPct, "read_tail_percentile" -> readTailPct,
      "workload_params" -> w.describe, "counts" -> m.extra)

    if (trace) opts.get("spans").foreach { p =>
      val self = Tracer.selfSeconds(tracer.spans)
      val exec = tracer.listener.map(_.snapshot).getOrElse(Map.empty)
      val rows = tracer.spans.sortBy(_.start).map { s =>
        val e = exec.get(s.id)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op, "thread" -> s.thread,
          "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> self(s.id),
          "jobs" -> e.fold(0L)(_.jobs), "tasks" -> e.fold(0L)(_.tasks))
      }
      write(p, json.writeValueAsString(Map("workload" -> workload, "seed" -> seed, "spans" -> rows)))
    }

    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> (ctx.checks.failed == 0),
      "attempted" -> ctx.checks.attempted,
      "failed" -> ctx.checks.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> alias, "named_note" -> aliasNote,
      "failures" -> ctx.checks.failures,
      "provenance" -> provenance)
    write(opts("out"), json.writeValueAsString(result))
    spark.stop()
  }

  /** The workload's own names for the generic end-to-end metrics. */
  private def aliases(workload: String, m: Measured, opPct: Int, readPct: Int)
      : (Map[String, Double], String) = {
    val p50 = Stats.median(m.opSeconds)
    val tail = Stats.tail(m.opSeconds)._1
    val rate = m.rowsPerSecond
    val read = Stats.median(m.readSeconds)
    val readTail = Stats.tail(m.readSeconds)._1
    val n = m.opSeconds.size
    workload match {
      case "sync_incremental" =>
        (Map("tick_p50_s" -> p50, "tick_tail_s" -> tail, "fresh_rows_per_s" -> rate,
          "table_read_p50_s" -> read),
          s"$n ticks; tick tail is p$opPct; reads of the stored table ${m.readSeconds.size}, tail p$readPct")
      case _ =>
        val stmts = m.extra.get("statement_seconds").collect { case s: Map[_, _] => s }
          .getOrElse(Map.empty).values.collect { case xs: Seq[_] => xs.collect { case d: Double => d } }
          .flatten.toSeq
        (Map("cycle_p50_s" -> p50, "cycle_tail_s" -> tail,
          "commit_p50_s" -> (if (stmts.isEmpty) 0.0 else Stats.median(stmts)),
          "commits_per_s" -> stmts.size / m.opSeconds.sum,
          "read_p50_s" -> read, "read_tail_s" -> readTail),
          s"$n writer cycles (${stmts.size} commits), cycle tail is p$opPct; " +
            s"${m.readSeconds.size} reads, read tail is p$readPct")
    }
  }

  /** Per-layer metrics from the traced operations: per-operation means of
    * span self times and of the executor work the listener attributed to
    * them, plus the workload's own counters. */
  private def perLayer(tracer: Tracer, m: Measured): Seq[(String, (Double, String))] = {
    val opsOn = m.tracedOps.map { case (th, ids) => th -> ids.size }
    val tracedIds = m.tracedOps.values.flatten.toSet
    val spans = tracer.spans.filter(s => tracedIds(s.op))
    val self = Tracer.selfSeconds(spans)
    val exec = tracer.listener.map(_.snapshot).getOrElse(Map.empty)
    /** Sum over threads of (total on that thread / traced ops on it). */
    def perOp(values: Seq[(Span, Double)]): Double =
      values.groupBy(_._1.thread).map { case (th, vs) => vs.map(_._2).sum / opsOn.getOrElse(th, 1) }.sum
    def statSum(f: ExecStats => Double): Double =
      perOp(spans.flatMap(s => exec.get(s.id).map(e => s -> f(e))))

    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    SpanMetrics.foreach { n => out += (n + "_s") -> (perOp(spans.filter(_.name == n).map(s => s -> self(s.id))), "s") }
    // optimization and planning of the SQL executions the operation ran
    out += "plan_s" -> (statSum(_.planNs / 1e9), "s")
    // exec_s: wall time with at least one job running, per operation
    val execByOp = spans.groupBy(s => (s.thread, s.op)).map { case ((th, _), ss) =>
      th -> Tracer.unionNs(ss.flatMap(s => exec.get(s.id).toSeq.flatMap(_.jobIntervals))) / 1e9
    }
    out += "exec_s" -> (execByOp.groupBy(_._1).map { case (th, vs) => vs.map(_._2).sum / opsOn.getOrElse(th, 1) }.sum, "s")
    out += "exec.jobs" -> (statSum(_.jobs.toDouble), "count")
    out += "exec.stages" -> (statSum(_.stages.toDouble), "count")
    out += "exec.tasks" -> (statSum(_.tasks.toDouble), "count")
    out += "exec.task_cpu_s" -> (statSum(_.cpuNs / 1e9), "s")
    out += "exec.shuffle_read_bytes" -> (statSum(_.shuffleRead.toDouble), "bytes")
    out += "exec.shuffle_write_bytes" -> (statSum(_.shuffleWrite.toDouble), "bytes")
    out += "exec.spill_bytes" -> (statSum(_.spill.toDouble), "bytes")
    out += "exec.peak_exec_mem_bytes" ->
      (spans.flatMap(s => exec.get(s.id)).map(_.peakMem.toDouble).foldLeft(0.0)(math.max), "bytes")
    out += "exec.output_files" -> (m.perLayer.getOrElse("exec.output_files", 0.0), "count")
    out += "exec.retained_block_bytes" -> (m.perLayer.getOrElse("exec.retained_block_bytes", 0.0), "bytes")
    Seq("log_entries", "live_files", "delete_manifests").foreach { k =>
      val n = s"operators.tableformat.$k"
      out += n -> (m.perLayer.getOrElse(n, 0.0), "count")
    }
    out += "trace.overhead_s" -> (m.overhead.get("tick").orElse(m.overhead.get("cycle")).getOrElse(0.0), "s")
    out += "trace.read_overhead_s" -> (m.overhead.getOrElse("read", 0.0), "s")
    out.toList
  }

  /** Rows per second of each codegen kernel over the workload's own input
    * (`text` and `money` columns), beside a scan of the same column with no
    * kernel. Median of three timed passes after one warm pass. */
  private def kernelRates(spark: SparkSession, input: DataFrame): Seq[(String, Double)] = {
    val df = input.limit(KernelRows).localCheckpoint()
    val rows = df.count().toDouble
    def rate(agg: Column): Double = {
      df.agg(agg).collect()
      val times = (0 until 3).map { _ =>
        val t0 = System.nanoTime(); df.agg(agg).collect(); (System.nanoTime() - t0) / 1e9
      }
      rows / Stats.median(times)
    }
    val text = col("text")
    val exprs = Map(
      "lang_id" -> sum(length(lang_id(text))),
      "quality_signals" -> sum(quality_signals(text).getField("quality_score")),
      "minhash_signature" -> sum(size(minhash_signature(text, 5, 16))),
      "parse_money" -> count(parse_money(col("money"))),
      "scan_floor" -> sum(length(text)))
    val out = Kernels.map(k => s"functions.$k.rows_per_s" -> rate(exprs(k)))
    df.unpersist()
    out
  }

  private def loadAvg(): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split(" ").take(3).mkString(" ")).getOrElse("unknown")

  /** The process's peak resident set (VmHWM), in MB, since the last
    * reset. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))
  }
}
