package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TableFormat

/** DELTA-BASED (merge-on-read) row-level SQL operations — Spark's
  * `SupportsDelta` API over the format's deletion vectors: what
  * `write.update.mode` / `write.merge.mode` / `write.delete.mode` =
  * `'merge-on-read'` route `UPDATE graft.t`, `MERGE INTO graft.t` and
  * rich-predicate `DELETE FROM graft.t` through instead of the
  * group-based copy-on-write rewrite ([[GraftRowLevelOperation]]).
  *
  * Shape (the Iceberg v2 positional-delete write, Delta Lake's DV
  * update): the target scan tags every row with its ROW IDENTITY —
  * `(_file, _pos)`, the data file and the row's file-absolute ordinal —
  * and Spark hands the writer a stream of per-row operations. Deleted
  * identities accumulate into per-file roaring bitmaps; replacement and
  * new rows land as an ordinary appended batch; commit publishes BOTH in
  * ONE version: grown deletion-vector sidecars (old versions keep the
  * old sidecars — time travel exact), fully-dead files dropped, appended
  * files stamped at the committing version's sequence (above every
  * pending equality manifest, so replacement rows never re-mask).
  *
  * Why this beats copy-on-write for the scattered shape: an UPDATE
  * matching 1k rows spread over 1k 1-GB files rewrites a TERABYTE under
  * the group-based plan and ~1k bitmap entries + one small batch here —
  * O(changed rows), not O(touched files). The dial's read amplification
  * (per-batch ordinal skip on the vectorized path) is the same one every
  * mask pays, and `CALL graft.system.materialize_deletes` /
  * compaction/maintenance pay it down. Updates arrive as DELETE+INSERT
  * pairs (`representUpdateAsDeleteAndInsert` — the split keeps the
  * writer one-pass), which is also exactly the changelog contract
  * downstream incremental consumers expect.
  *
  * Scan economics: the statement's own predicate pushes into the scan
  * through the standard DSv2 pushdown, so zone bounds, null counts and
  * the key/`bloom.cols` blooms prune FILES before any IO (a key-equality
  * UPDATE on a 100k-file table plans a handful); the scan itself is
  * COLUMNAR — `_file`/`_pos` synthesize as vectors over the vectorized
  * parquet batches — so a MoR MERGE's full-target read keeps
  * WholeStageCodegen throughput. The open stays unfiltered because
  * `_pos` is DEFINED as the file-absolute ordinal and row-group skipping
  * would desynchronize it — pruning lives at file granularity here,
  * which is the granularity that matters for the scattered-update shape
  * this path exists for.
  *
  * Reference: the engine half of the reference's transaction
  * update/delete mutations (`lib:2410-2570`), re-expressed as SQL DML
  * over table state. */
private[v2] class GraftDeltaOperation(root: String,
                                      snap: TableFormat.Snapshot,
                                      tableSchema: StructType,
                                      cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.FileColumn),
      Expressions.column(GraftRowLevel.PosColumn))

  // LINEAGE (Iceberg v3): on a lineage-carrying table an UPDATE is a
  // real update op — the writer receives the pre-image's `_row_id`
  // (required metadata attribute) alongside the replacement row and
  // persists it in the appended batch's materialized id column, so a
  // merge-on-read UPDATE/MERGE-matched-update PRESERVES the row's id
  // (an update modifies a row, it does not create one) and the
  // changelog can pair pre/post images BY id (the Delta CDF shape).
  // Without lineage, updates split into DELETE(id)+INSERT(row) as
  // before (one-pass writer, delete+insert changelog contract).
  private val lineage = snap.files.exists(f => f.rid >= 0 || f.ridCol)

  override def representUpdateAsDeleteAndInsert(): Boolean = !lineage

  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (lineage && cmd != RowLevelOperation.Command.DELETE)
      Array(Expressions.column(GraftRowLevel.RowIdColumn))
    else Array.empty

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    // the standard scan builder in delta mode: one pushFilters
    // implementation (zone bounds + null counts + key/zone blooms)
    // feeds both the columnar table scan and this row-identity scan
    new GraftSqlScanBuilder(snap, tableSchema, deltaPos = true)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(
        root, snap, tableSchema, info.schema(), info.queryId(),
        cmd match {
          case RowLevelOperation.Command.DELETE => "dv-delete"
          case RowLevelOperation.Command.UPDATE => "dv-update"
          case _ => "dv-merge"
        },
        lineage = lineage && cmd != RowLevelOperation.Command.DELETE)
    }

  override def description(): String =
    s"graft-delta($cmd, $root@v${snap.version})"
}

/** The row-identity scan the delta write reads: every surviving file
  * (after the builder's pushed-filter pruning) served COLUMNAR with
  * `_file`/`_pos` synthesized as vectors and every pending mask applied
  * per batch — an already-deleted row must never re-enter a bitmap or be
  * re-emitted as an update's pre-image. */
private class GraftDeltaScan(snap: TableFormat.Snapshot,
                             required: StructType,
                             tableSchema: StructType,
                             bounds: Map[String, (Long, Long)],
                             pruners: Seq[(String, TableFormat.FileStat => Boolean)])
    extends Scan with Batch {

  private lazy val hit = snap.files.filter { f =>
    bounds.forall { case (c, (lo, hi)) =>
      (if (c == snap.keyCol) Some((f.minKey, f.maxKey)) else f.zones.get(c))
        .forall { case (mn, mx) => mn <= hi && mx >= lo }
    } && pruners.forall(_._2(f))
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private lazy val columnMapping = TableFormat.hasColumnMapping(snap.props)

  private lazy val anyMasked =
    hit.exists(f => snap.deletes.exists(_.seq > f.seq))

  // real parquet columns: the projection minus the synthesized row
  // identity, key appended for mask probing (the main scan's rule)
  private lazy val extended = GraftSqlReaderFactory.extendedOf(required,
    tableSchema, snap.keyCol, anyMasked)

  override def planInputPartitions(): Array[InputPartition] =
    hit.map { f =>
      val manifests = snap.deletes.filter(_.seq > f.seq).map(_.file)
      // era-mapped files ship their physical schema, exactly like the
      // main scan (synth names are never mapped)
      val phys =
        if (!columnMapping) None
        else {
          val ps = TableFormat.physicalSchemaOf(snap.props, extended, f.seq)
          if (ps.fieldNames.sameElements(extended.fieldNames)) None
          else Some(ps.json)
        }
      GraftSqlPartition(f.file, manifests, snap.keyCol, phys, f.dv,
        f.rid, f.ridCol): InputPartition
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    // the SHARED columnar factory: masks and the _file/_pos row
    // identity all synthesize as vectors, so even the delta scan feeds
    // WholeStageCodegen batches; no row-group predicate is ever stamped
    // here — ordinals must stay file-absolute
    val c = GraftSqlColumnar.scanConf(SparkSession.active)
    c.set(org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      .SPARK_ROW_REQUESTED_SCHEMA, extended.json)
    new GraftSqlReaderFactory(required, extended,
      new SerializableHadoopConf(c))
  }

  override def description(): String =
    s"graft-delta-scan(${snap.root}@v${snap.version}) " +
      s"PrunedFiles: ${snap.files.size - hit.size}/${snap.files.size}, " +
      s"RowId: (${GraftRowLevel.FileColumn}, ${GraftRowLevel.PosColumn})"
}

/** The delta write, LAYOUT-ROUTED like the ordinary INSERT: when the
  * table declares a partition spec and the statement can insert rows
  * (update/merge — a pure delete writes nothing and must not funnel its
  * null-row delete stream through one task), the write requires the
  * routed path's clustered distribution and base-column ordering, so
  * the appended replacement/insert batch lands tuple-pure sorted files
  * through the SAME run-splitting writer — a merge-on-read MERGE does
  * not cost a routed table its storage-partitioned join. Delete rows
  * carry null row columns and simply cluster together; the writer
  * ignores them for file routing (they only feed bitmaps). */
private class GraftDeltaWrite(root: String,
                              snap: TableFormat.Snapshot,
                              tableSchema: StructType,
                              writeSchema: StructType, queryId: String,
                              op: String,
                              lineage: Boolean = false)
    extends DeltaWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder}

  private val terms: Seq[TableFormat.SpecTerm] =
    if (op == "dv-delete") Seq.empty
    else snap.props.get(TableFormat.PartitionSpecProp)
      .map(TableFormat.parseSpec).getOrElse(Seq.empty)
  private val declaredOrder: Seq[String] =
    TableFormat.sortOrderColsOf(snap.props)

  // the routed INSERT's ordering contract verbatim: monotone bases
  // lead, a declared write.sort-order overrides bucket-base sorting.
  // On an UNPARTITIONED table a declared write.sort-order still orders
  // the appended batch (ordering without distribution) — otherwise the
  // MoR update/merge replacement rows would land unsorted, degrading
  // zone-bound pruning, unlike the routed INSERT. A pure delete writes
  // no rows, so it never pays the sort.
  private val orders: Array[SortOrder] =
    if (terms.isEmpty) {
      if (declaredOrder.isEmpty || op == "dv-delete") Array.empty
      else declaredOrder.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)).toArray
    } else {
      val monoBases = terms.filterNot(_.isInstanceOf[TableFormat.BucketTerm])
        .map(_.baseCol)
      val cols =
        if (declaredOrder.isEmpty) terms.map(_.baseCol)
        else monoBases ++ declaredOrder.filterNot(monoBases.contains)
      cols.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING)).toArray
    }

  override def requiredDistribution(): Distribution =
    if (terms.isEmpty) Distributions.unspecified()
    else Distributions.clustered(terms.map {
      case TableFormat.IdentityTerm(c) => Expressions.identity(c)
      case TableFormat.MonthTerm(c) => Expressions.months(c)
      case TableFormat.BucketTerm(c, n) => Expressions.bucket(n.toInt, c)
      case TableFormat.DivTerm(c, w) =>
        Expressions.apply("div", Expressions.column(c),
          Expressions.literal(java.lang.Long.valueOf(w)))
    }.toArray[Expression] ++ (
      // dv-update/dv-merge: DELETE rows carry NULL partition columns, so
      // clustering on the spec alone would hash the ENTIRE delete stream
      // into one task (the skew the dv-delete special case avoids by
      // writing nothing). Adding the `_file` row identity spreads delete
      // rows by source file while leaving insert rows (null _file for
      // true inserts) clustered by their spec tuple; a tuple split
      // across source files yields more, still tuple-pure appended
      // files — the run-splitting writer keeps purity per task.
      if (op == "dv-delete") Array.empty[Expression]
      else Array[Expression](
        Expressions.identity(GraftRowLevel.FileColumn))))

  override def requiredOrdering(): Array[SortOrder] = orders

  override def toBatch: DeltaBatchWrite = new GraftDeltaBatchWrite(
    root, snap, tableSchema, writeSchema, queryId, op, terms,
    // write-provenance: with no declared sort order the required
    // ordering IS the spec base columns, so each landed file is a
    // sorted run (the GraftSqlBatchWrite.specSorted rule)
    filesSorted = terms.nonEmpty && declaredOrder.isEmpty,
    lineage = lineage)
}

/** Per-task result of a delta write: the appended files plus each
  * touched data file's NEW deletion ordinals (one serialized roaring
  * bitmap per file — O(rows this task deleted)). */
private case class GraftDeltaWriteMessage(files: Seq[String], nRows: Long,
                                          dv: Map[String, Array[Byte]])
  extends WriterCommitMessage

private class GraftDeltaBatchWrite(root: String,
                                   snap: TableFormat.Snapshot,
                                   tableSchema: StructType,
                                   writeSchema: StructType, queryId: String,
                                   op: String,
                                   specTerms: Seq[TableFormat.SpecTerm] =
                                     Seq.empty,
                                   filesSorted: Boolean = false,
                                   lineage: Boolean = false)
    extends DeltaBatchWrite {
  private val dataDir =
    s"$root/data/delta-$queryId-${java.util.UUID.randomUUID().toString}"

  // the insert rows may carry metadata columns — project them out, only
  // real table columns reach parquet (the replace-groups precedent);
  // under lineage the MATERIALIZED id column rides along as the last
  // parquet column (update pre-image ids; null for true inserts)
  private val keep: Array[Int] = writeSchema.fields.zipWithIndex.collect {
    case (f, i) if tableSchema.fieldNames.contains(f.name) => i
  }

  private val parquetSchema: StructType = {
    val base = StructType(keep.map(writeSchema.fields(_)))
    if (lineage)
      StructType(base.fields :+
        StructField(TableFormat.IdColName, LongType, nullable = true))
    else base
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(dataDir, parquetSchema, keep,
      new SerializableHadoopConf(
        SparkSession.active.sessionState.newHadoopConf()),
      specTerms, GraftSqlWrite.targetOf(snap.props), lineage)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val ms = messages.collect { case m: GraftDeltaWriteMessage => m }
    val newFiles = ms.flatMap(m => if (m.nRows > 0) m.files else Nil)
      .toSeq.sorted
    // union each file's per-task bitmaps (tasks partition the scan, but
    // a shuffle between scan and write can scatter one file's rows)
    val posByFile = scala.collection.mutable.Map
      .empty[String, org.roaringbitmap.longlong.Roaring64Bitmap]
    ms.foreach(_.dv.foreach { case (file, bytes) =>
      val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
      bm.deserialize(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      posByFile.get(file) match {
        case Some(acc) => acc.or(bm)
        case None => posByFile(file) = bm
      }
    })
    if (newFiles.isEmpty && posByFile.isEmpty) return // nothing matched
    TableFormat.commitDelta(spark, root, snap, posByFile.toMap, newFiles, op,
      filesSorted = filesSorted, ridFiles = lineage)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(dataDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

private class GraftDeltaWriterFactory(dataDir: String,
                                      parquetSchema: StructType,
                                      keep: Array[Int],
                                      conf: SerializableHadoopConf,
                                      specTerms: Seq[TableFormat.SpecTerm],
                                      targetFileBytes: Long,
                                      lineage: Boolean = false)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaRowWriter(dataDir, s"part-$partitionId-$taskId",
      parquetSchema, keep, conf.value, specTerms, targetFileBytes, lineage)
}

/** The executor half: inserts stream into one parquet writer (lazily
  * opened — a pure-delete task writes nothing), deleted row identities
  * accumulate into per-file bitmaps. Under LINEAGE, `update` fires as a
  * real op (representUpdateAsDeleteAndInsert = false): the pre-image's
  * `_row_id` arrives as the metadata projection and is written into the
  * replacement row's materialized id column — the row keeps its id
  * across the update; plain inserts write a NULL id and are born into
  * the appended file's fresh range by the commit arithmetic. */
private class GraftDeltaRowWriter(dataDir: String, taskTag: String,
                                  parquetSchema: StructType,
                                  keep: Array[Int],
                                  conf: org.apache.hadoop.conf.Configuration,
                                  specTerms: Seq[TableFormat.SpecTerm] =
                                    Seq.empty,
                                  targetFileBytes: Long = Long.MaxValue,
                                  lineage: Boolean = false)
    extends DeltaWriter[InternalRow] {
  private val types = parquetSchema.fields.map(_.dataType)
  private val identity = !lineage && keep.nonEmpty &&
    keep.length == keep.max + 1 &&
    keep.zipWithIndex.forall { case (s, o) => s == o }
  // with lineage the parquet schema appends the id column after `keep`
  private val outWidth = if (lineage) keep.length + 1 else keep.length
  private var inner: GraftSqlDataWriter = _
  private val dv = scala.collection.mutable.Map
    .empty[String, org.roaringbitmap.longlong.Roaring64Bitmap]

  // the id row carries the operation's rowId() projection in
  // declaration order: (_file string, _pos long)
  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(0).toString
    dv.getOrElseUpdate(file,
      new org.roaringbitmap.longlong.Roaring64Bitmap())
      .addLong(id.getLong(1))
  }

  private def writeRow(row: InternalRow, rowIdVal: Any): Unit = {
    if (inner == null)
      inner = new GraftSqlDataWriter(dataDir, taskTag, parquetSchema,
        specTerms, conf, targetFileBytes)
    if (identity) inner.write(row)
    else {
      val vals = new Array[Any](outWidth)
      var j = 0
      while (j < keep.length) { vals(j) = row.get(keep(j), types(j)); j += 1 }
      if (lineage) vals(keep.length) = rowIdVal
      inner.write(new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(vals))
    }
  }

  override def insert(row: InternalRow): Unit = writeRow(row, null)

  override def update(metadata: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    delete(metadata, id)
    // metadata carries requiredMetadataAttributes in declaration order:
    // (_row_id) — null for a pre-lineage pre-image (stated, not guessed)
    writeRow(row,
      if (lineage && metadata != null && !metadata.isNullAt(0))
        java.lang.Long.valueOf(metadata.getLong(0))
      else null)
  }

  override def commit(): WriterCommitMessage = {
    val (files, n) = if (inner == null) (Seq.empty[String], 0L)
      else inner.commit() match {
        case GraftSqlWriteMessage(fs, rows) => (fs, rows)
        case other => throw new IllegalStateException(
          s"graft-delta-writer: unexpected inner commit $other")
      }
    val bytesByFile = dv.toMap.map { case (file, bm) =>
      val bos = new java.io.ByteArrayOutputStream()
      bm.serialize(new java.io.DataOutputStream(bos))
      file -> bos.toByteArray
    }
    // nRows > 0 marks files worth keeping even when empty bitmaps ride
    // along; a task that wrote rows always reports them
    GraftDeltaWriteMessage(files, math.max(n, 0L), bytesByFile)
  }

  override def abort(): Unit = if (inner != null) inner.abort()
  override def close(): Unit = if (inner != null) inner.close()
}
