package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.operators.TableFormat

/** STRUCTURED STREAMING source over a [[TableFormat]] table — the Delta
  * "table as a stream" shape as a real DataSourceV2 `MicroBatchStream`:
  * `spark.readStream.format("graft-table-changes").load(root)` turns the
  * table's append-only commit log into a stream of its appended rows.
  *
  * Offsets ARE table versions — the streaming checkpoint stores a plain
  * version number, so exactly-once delivery across restarts derives from
  * the same monotone log every batch reader uses (no side-channel state,
  * the discipline every sink in [[graft.streaming.Streams]] follows). A
  * micro-batch covers the commit window `(start, end]`; each commit
  * contributes ONE input partition per file it APPENDED, planned with
  * pure driver arithmetic over the already-resolved snapshots (the
  * file-set diff [[TableFormat.changesBetween]] uses) — zero data IO at
  * planning time, and a partition per file means a 1000-file ingest
  * burst fans out across the cluster.
  *
  * Emission semantics (Delta's `ignoreChanges` contract, documented not
  * accidental): op=replace commits (compaction, manifest maintenance,
  * clustering rewrites) are SKIPPED ENTIRELY — content-preserving by the
  * format's contract, so the stream never re-emits a compacted table.
  * Other commits emit exactly the rows of their appended files: an
  * append emits its batch, a merge-on-read upsert emits the new row
  * versions (consumers see upserts as fresh rows), and a copy-on-write
  * rewrite re-emits rewritten survivors — downstream either dedups on
  * key or, for full CDC fidelity, consumes [[TableFormat.changesBetween]]
  * / [[TableFormat.replicateTo]] instead. Masks are not applied to
  * appended files: within their own commit no manifest can apply to
  * them (the strict seq rule), and later deletes are later commits.
  *
  * Every row carries `_commit_version` (the Delta `_commit_version`
  * metadata column): per-commit lineage for free, and what lets a
  * consumer grade exactly which commit produced which rows. Schema
  * comes from the LATEST snapshot's committed DDL (never footer
  * inference); files written before a column existed read it as null.
  * Files are read by the catalog scan's vectorized reader
  * ([[GraftSqlColumnarReader]]), so every type Spark's parquet reader
  * takes rides the stream — DATE, TIMESTAMP and DECIMAL included (the
  * reference's data model is date/timestamp-first, `v3:139-179` ISO
  * date keys). The table KEY stays integral (the format's zone/bloom
  * machinery is long-keyed). */
class TableChangesV2 extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-table-changes"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TableChangesV2.streamSchema(TableChangesV2.rootOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new ChangesTable(TableChangesV2.rootOf(
      new CaseInsensitiveStringMap(properties)), schema)
}

object TableChangesV2 {
  val VersionColumn = "_commit_version"

  private[v2] def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse(options.get("paths"))
    require(p != null && p.nonEmpty, "graft-table-changes: missing path")
    // load(path) arrives as a JSON array in "paths" for some call shapes
    if (p.startsWith("[")) new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(p).get(0).asText()
    else p
  }

  private[v2] def streamSchema(root: String): StructType = {
    val spark = SparkSession.active
    val snap = TableFormat.snapshot(spark, root)
    val ddl = snap.schemaDdl.getOrElse(throw new IllegalArgumentException(
      s"graft-table-changes: table at $root carries no committed schema"))
    StructType(StructType.fromDDL(ddl).fields :+
      StructField(VersionColumn, LongType, nullable = false))
  }
}

private class ChangesTable(root: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-table-changes($root)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ChangesScan(root, tableSchema,
        ChangesStream.readOptions(options))
    }
}

private class ChangesScan(root: String, schema: StructType,
                          opts: ChangesStream.ReadOptions) extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String = s"graft-table-changes($root)"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangesStream(root, schema, opts)
}

private case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private case class TableFilePartition(file: String, version: Long)
  extends InputPartition

private[v2] object ChangesStream {
  /** The stream's option bundle:
    *  - `starting_version` — Delta's option with Delta's documented
    *    INCLUSIVE semantics: `n` starts the stream AT version n (n's own
    *    commit is the first one emitted — "I hold the state as of n-1");
    *    `latest` starts at the current head. Absent = the full table
    *    (the first live version emits as base). Only consulted for a
    *    FRESH checkpoint — a resumed query's offset always wins.
    *  - `max_versions_per_trigger` / `max_files_per_trigger` /
    *    `max_bytes_per_trigger` — ADMISSION CONTROL (the Delta
    *    maxFilesPerTrigger/maxBytesPerTrigger shape): cap how much of a
    *    pending backlog one micro-batch plans, so a fresh checkpoint on
    *    a large table (or an ingest burst) drains across bounded batches
    *    instead of one giant batch that blows executor memory and the
    *    latency SLA. The bytes cap reads each version's RECORDED
    *    on-disk file bytes from commit stats (no filesystem probes at
    *    admission time); a version containing any pre-byte-stats file
    *    (unknown size) is treated as cap-busting and admits alone —
    *    unknown means assume big, never assume free. At least one
    *    version is always admitted (progress guarantee);
    *    `Trigger.Once`-style ReadAllAvailable requests bypass the caps,
    *    exactly like Delta. */
  final case class ReadOptions(startingVersion: Option[Long] = None,
                               maxVersionsPerTrigger: Option[Int] = None,
                               maxFilesPerTrigger: Option[Int] = None,
                               maxBytesPerTrigger: Option[Long] = None)

  def readOptions(options: CaseInsensitiveStringMap): ReadOptions = {
    def intOpt(key: String): Option[Int] =
      Option(options.get(key)).map(v => v.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"graft-table-changes: $key must be a positive integer, got '$v'")))
    def longOpt(key: String): Option[Long] =
      Option(options.get(key)).map(v => v.toLongOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"graft-table-changes: $key must be a positive long, got '$v'")))
    ReadOptions(startingVersion(options),
      intOpt("max_versions_per_trigger"), intOpt("max_files_per_trigger"),
      longOpt("max_bytes_per_trigger"))
  }

  def startingVersion(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("starting_version")).map {
      case "latest" => -1L // resolved against the live log at start
      case v => v.toLongOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(
          s"graft-table-changes: starting_version must be a version " +
            s"number >= 0 or 'latest', got '$v'"))
    }
}

private[v2] class ChangesStream(root: String, schema: StructType,
                                opts: ChangesStream.ReadOptions)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadAllAvailable, ReadLimit}

  // source-compat shim for the pre-admission-control call shape
  def this(root: String, schema: StructType,
           startingVersion: Option[Long] = None) =
    this(root, schema, ChangesStream.ReadOptions(startingVersion))

  private def spark = SparkSession.active

  override def initialOffset(): Offset = opts.startingVersion match {
    case Some(-1L) => // 'latest': only commits after the stream starts
      VersionOffset(TableFormat.versions(spark, root).lastOption.getOrElse(0L))
    // inclusive (the Delta convention): version n itself is the first
    // emitted commit, so the exclusive low offset is n-1
    case Some(v) => VersionOffset(v - 1)
    case None => VersionOffset(0L)
  }

  override def latestOffset(): Offset = {
    val vs = TableFormat.versions(spark, root)
    VersionOffset(vs.lastOption.getOrElse(0L))
  }

  // ---- Trigger.AvailableNow (SupportsTriggerAvailableNow) ----
  // Implemented DIRECTLY (not via Spark's wrapper) because the wrapper's
  // latestOffset(start, limit) returns the prepared head outright —
  // admission control would be silently ignored and the whole backlog
  // would land in one batch. Owning the interface pins the run's end
  // offset at prepare time AND keeps the per-batch caps: the backlog
  // drains across bounded batches up to the pinned head, exactly
  // Delta's AvailableNow behavior.
  private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap =
      Some(TableFormat.versions(spark, root).lastOption.getOrElse(0L))

  private def cappedHead(head: Long): Long =
    availableNowCap.fold(head)(math.min(head, _))

  // ---- admission control (SupportsAdmissionControl) ----

  /** Advertise a file cap when EITHER throttle option is set — the
    * concrete ReadLimit object is only a carrier; [[latestOffset(Offset,
    * ReadLimit)]] applies the caps from the parsed options, and treats a
    * ReadAllAvailable request (Trigger.Once) as "bypass the caps". */
  override def getDefaultReadLimit: ReadLimit =
    if (opts.maxVersionsPerTrigger.isEmpty && opts.maxFilesPerTrigger.isEmpty
        && opts.maxBytesPerTrigger.isEmpty)
      ReadLimit.allAvailable()
    else opts.maxBytesPerTrigger match {
      case Some(b) if opts.maxFilesPerTrigger.isEmpty => ReadLimit.maxBytes(b)
      case _ => ReadLimit.maxFiles(opts.maxFilesPerTrigger.getOrElse(Int.MaxValue))
    }

  override def reportLatestOffset(): Offset = latestOffset()

  /** Cap the batch END VERSION so the window `(start, end]` admits at
    * most `max_versions_per_trigger` versions and (approximately) at
    * most `max_files_per_trigger` appended files — the first admitted
    * version is never split (progress guarantee: a single version larger
    * than the file cap still drains alone). Pure driver arithmetic over
    * the already-resolved snapshots, like batch planning itself. */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val s = startOffset.asInstanceOf[VersionOffset].version
    val all = TableFormat.versions(spark, root)
    val head = cappedHead(all.lastOption.getOrElse(0L))
    val uncapped = limit.isInstanceOf[ReadAllAvailable] ||
      (opts.maxVersionsPerTrigger.isEmpty && opts.maxFilesPerTrigger.isEmpty
        && opts.maxBytesPerTrigger.isEmpty)
    if (uncapped || head <= s) return VersionOffset(head)
    val maxV = opts.maxVersionsPerTrigger.getOrElse(Int.MaxValue)
    val maxF = opts.maxFilesPerTrigger.getOrElse(Int.MaxValue).toLong
    val maxB = opts.maxBytesPerTrigger.getOrElse(Long.MaxValue)
    val pending = all.filter(v => v > s && v <= head)
    var end = s
    var files = 0L
    var bytes = 0L
    var taken = 0
    val it = pending.iterator
    var stop = false
    // saturating add: an unknown-size version carries the Long.MaxValue
    // sentinel, and the running total must pin there, not wrap
    def satAdd(a: Long, b: Long): Long = {
      val r = a + b; if (r < 0) Long.MaxValue else r
    }
    while (it.hasNext && !stop) {
      val v = it.next()
      if (taken >= maxV) stop = true
      else {
        // appended files of v, the same diff batch planning uses: a
        // replace commit contributes nothing, a base version (no live
        // predecessor) contributes its full file set
        val cur = TableFormat.snapshot(spark, root, Some(v))
        val prev = all.filter(_ < v).lastOption
        val added =
          if (prev.isEmpty) cur.files
          else if (cur.op.contains("replace")) Seq.empty
          else {
            val prevFiles = TableFormat.snapshot(spark, root, prev)
              .files.map(_.file).toSet
            cur.files.filterNot(f => prevFiles(f.file))
          }
        val n = added.size.toLong
        // recorded on-disk bytes; any pre-byte-stats file (-1) makes
        // the version cap-busting under a bytes limit — unknown size
        // admits alone rather than piling into an unbounded batch
        val b =
          if (added.exists(_.bytes < 0)) Long.MaxValue
          else added.map(_.bytes).sum
        if (taken > 0 && (files + n > maxF || satAdd(bytes, b) > maxB))
          stop = true
        else { end = v; files += n; bytes = satAdd(bytes, b); taken += 1 }
      }
    }
    VersionOffset(end)
  }

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].version
    val e = end.asInstanceOf[VersionOffset].version
    if (s >= e) return Array.empty
    // walk only versions that EXIST — a log need not start at 1 (a
    // clone's log continues the source's numbering) and retention may
    // have expired a prefix; the first live version in the window has
    // no predecessor and emits its full file set
    val all = TableFormat.versions(spark, root)
    val window = all.filter(v => v > s && v <= e)
    val snaps = (window ++ window.flatMap(v => all.filter(_ < v).lastOption))
      .distinct.map(v => v -> TableFormat.snapshot(spark, root, Some(v))).toMap
    window.flatMap { v =>
      val cur = snaps(v)
      val prev = all.filter(_ < v).lastOption
      if (prev.isEmpty)
        // no live predecessor (fresh table, clone log, or retention
        // expired the prefix): this version IS the base content — emit
        // its full file set EVEN when op=replace, else a stream started
        // after compaction+expiry would silently never deliver the
        // table's pre-existing rows
        cur.files.map(f => TableFilePartition(f.file, v): InputPartition)
      else if (cur.op.contains("replace")) Seq.empty // content-preserving: skip
      else {
        val prevFiles = snaps(prev.get).files.map(_.file).toSet
        cur.files.map(_.file).filterNot(prevFiles)
          .map(f => TableFilePartition(f, v): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // rename/drop ledger of the live head (the stream reads under the
    // LATEST schema): old-era files resolve their columns through it,
    // by partition version — only the small colmap/colborn subset ships
    val mapping = TableFormat.snapshot(spark, root).props.filter { case (k, _) =>
      k.startsWith("colmap.") || k.startsWith("colborn.")
    }
    val data = StructType(schema.fields.filterNot(_.name == TableChangesV2.VersionColumn))
    val c = GraftSqlColumnar.scanConf(spark)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, data.json)
    new ChangesReaderFactory(schema, data, new SerializableHadoopConf(c), mapping)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Serializable carrier for the session's Hadoop configuration — what
  * lets the executor-side parquet readers honor fs.* settings (S3A/ABFS
  * credentials, endpoints) instead of a bare `new Configuration()` that
  * only works on default-configured filesystems. Capture with
  * `spark.sessionState.newHadoopConf()` ON THE DRIVER. */
private[v2] class SerializableHadoopConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/** Reads an appended file through [[GraftSqlColumnarReader]], with
  * `_commit_version` as a per-partition constant column. */
private class ChangesReaderFactory(schema: StructType, data: StructType,
                                   conf: SerializableHadoopConf,
                                   mapping: Map[String, String])
    extends GraftColumnarReaderFactory {
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[TableFilePartition]
    // a file emitted at version v was written under the names live at
    // v: an old-era file reads through that era's physical schema, in a
    // per-file conf (output stays positional)
    val phys =
      if (mapping.isEmpty) data
      else TableFormat.physicalSchemaOf(mapping, data, p.version)
    val c =
      if (phys.fieldNames.sameElements(data.fieldNames)) conf.value
      else {
        val c2 = new org.apache.hadoop.conf.Configuration(conf.value)
        c2.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, phys.json)
        c2
      }
    new GraftSqlColumnarReader(p.file, schema, data, null, null, c,
      constants = Map(TableChangesV2.VersionColumn -> p.version))
  }
}
