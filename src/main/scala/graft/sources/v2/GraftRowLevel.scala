package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TableFormat
import graft.sources.Parquet

/** GROUP-BASED (copy-on-write) row-level SQL operations — what makes
  * `MERGE INTO graft.t`, `UPDATE graft.t SET ...` and arbitrary-predicate
  * `DELETE FROM graft.t` first-class SQL (the Iceberg copy-on-write
  * shape on Spark's RowLevelOperation API):
  *
  *  - the TARGET SCAN exposes a `_file` metadata column and implements
  *    runtime filtering on it, so Spark's rewrite plans narrow the scan
  *    to exactly the files that contain MATCHED rows (one driver-side
  *    `IN` filter — a MERGE touching 3 of 10,000 files reads 3);
  *  - Spark computes the full REPLACEMENT content of those files
  *    (survivors + updated/inserted rows) and hands it to the write;
  *  - commit swaps the replaced files for the new ones in ONE
  *    [[TableFormat]] version via the same CAS every writer uses —
  *    CHECK constraints validate the replacement batch, a concurrent
  *    swap of the same files fails loud ([[TableFormat.CommitConflictException]]),
  *    pinned readers keep the old files (snapshot isolation), and the
  *    op lands in the commit's `op` field for the changelog.
  *
  * Merge-on-read delete manifests are applied INSIDE the scan, so the
  * replacement content can never resurrect masked rows; new files get
  * the committing version's seq, above every manifest. Simple-predicate
  * DELETEs never reach this path — [[GraftSqlTable]]'s `SupportsDelete`
  * answers them with metadata-only bounds arithmetic first. */
private[v2] class GraftRowLevelOperation(root: String,
                                         snap: TableFormat.Snapshot,
                                         tableSchema: StructType,
                                         cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** Files the operation's scan actually planned (after zone pruning and
    * the runtime group filter) — exactly the set the commit replaces.
    * Written by the scan on the driver before the write executes. */
  @volatile private[v2] var replacedFiles: Seq[String] = snap.files.map(_.file)

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this, snap, tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new GraftReplaceDataWrite(
          GraftRowLevelOperation.this, root, snap, tableSchema,
          info.schema(), info.queryId())
      }
    }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.FileColumn))

  override def description(): String =
    s"graft-row-level($cmd, $root@v${snap.version})"
}

private[v2] object GraftRowLevel {
  val FileColumn = "_file"

  val FileMetadataColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = FileColumn
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "data file holding the row"
  }

  /** The row's FILE-ABSOLUTE ordinal (pre-mask — masked rows count), the
    * second half of the `(_file, _pos)` row identity delta-based
    * row-level operations anchor deletion vectors on. It is served as a
    * synthesized vector over an unfiltered open: a skipped row group
    * would desynchronize the ordinal count. */
  val PosColumn = "_pos"

  val PosMetadataColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = PosColumn
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String = "file-absolute row ordinal"
  }

  /** ROW LINEAGE (the Iceberg v3 `_row_id` shape): a stable per-row id
    * assigned by the row's FIRST commit — `rid + ordinal` from the
    * file's recorded range, overridden by the materialized
    * `__graft_row_id` column lineage-preserving maintenance rewrites
    * carry it in. NULL for rows whose file predates lineage (stated,
    * never guessed). */
  val RowIdColumn = "_row_id"

  val RowIdMetadataColumn: MetadataColumn = new MetadataColumn {
    override def name(): String = RowIdColumn
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = true
    override def comment(): String = "stable row id (row lineage)"
  }
}

private class GraftRowLevelScanBuilder(op: GraftRowLevelOperation,
                                       snap: TableFormat.Snapshot,
                                       tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType =
    StructType(tableSchema.fields :+
      StructField(GraftRowLevel.FileColumn, StringType, nullable = false))

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftRowLevelScan(op, snap, required, tableSchema)
}

/** The copy-on-write target scan: every row tagged with its `_file`,
  * masks applied in-task, and `SupportsRuntimeV2Filtering` narrowing the
  * file set to the matched groups before any data IO. */
private class GraftRowLevelScan(op: GraftRowLevelOperation,
                                snap: TableFormat.Snapshot,
                                required: StructType,
                                tableSchema: StructType)
    extends Scan with Batch with SupportsRuntimeV2Filtering {
  private var candidates: Seq[TableFormat.FileStat] = snap.files

  override def readSchema(): StructType = required

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column(GraftRowLevel.FileColumn))

  override def filter(predicates: Array[Predicate]): Unit = {
    // the group filter arrives as IN(_file, <matched file names>)
    val keep = predicates.collect {
      case p if p.name() == "IN" =>
        p.children().collect {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_]
            if lit.value() != null => lit.value().toString
        }.toSet
    }
    keep.foreach { files =>
      candidates = candidates.filter(f => files.contains(f.file))
    }
  }

  override def toBatch: Batch = this

  // real parquet columns for the shared columnar factory: the
  // projection minus the synthesized `_file`, key appended when a mask
  // must probe it (the main scan's rule)
  private lazy val extended = GraftSqlReaderFactory.extendedOf(required,
    tableSchema, snap.keyCol,
    masked = snap.files.exists(f => snap.deletes.exists(_.seq > f.seq)))

  private lazy val columnMapping = TableFormat.hasColumnMapping(snap.props)

  override def planInputPartitions(): Array[InputPartition] = {
    // record the final group set on the shared operation: these are
    // exactly the files the commit must swap out. SHRINK-ONLY: the API
    // contract is one operation scan (the Iceberg copy-on-write
    // assumption), but if a second, unfiltered scan instance ever
    // planned after the filtered one, letting it RESET the record to
    // the full file set while the write carries only the matched
    // groups' replacement rows would drop every unmatched group —
    // monotone narrowing makes that direction impossible
    if (candidates.size <= op.replacedFiles.size)
      op.replacedFiles = candidates.map(_.file)
    candidates.map { f =>
      val manifests = snap.deletes.filter(_.seq > f.seq).map(_.file)
      // era-mapped files ship their physical schema, like the main scan
      val phys =
        if (!columnMapping) None
        else {
          val ps = TableFormat.physicalSchemaOf(snap.props, extended, f.seq)
          if (ps.fieldNames.sameElements(extended.fieldNames)) None
          else Some(ps.json)
        }
      GraftSqlPartition(f.file, manifests, snap.keyCol, phys, dv = f.dv,
        rid = f.rid, ridCol = f.ridCol): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the SHARED columnar factory: the copy-on-write target scan feeds
    // WholeStageCodegen batches with `_file` synthesized as a constant
    // vector per partition
    val c = GraftSqlColumnar.scanConf(SparkSession.active)
    c.set(org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      .SPARK_ROW_REQUESTED_SCHEMA, extended.json)
    new GraftSqlReaderFactory(required, extended,
      new SerializableHadoopConf(c))
  }

  override def description(): String =
    s"graft-row-level-scan(${snap.root}@v${snap.version}) " +
      s"Groups: ${candidates.size}/${snap.files.size}"
}

/** The replace-groups write: executors write the replacement rows
  * (metadata columns projected out), the driver commits ONE version
  * that drops the scanned groups and adds the new files — constraints
  * enforced, concurrent swaps of the same groups refused. */
private class GraftReplaceDataWrite(op: GraftRowLevelOperation, root: String,
                                    snap: TableFormat.Snapshot,
                                    tableSchema: StructType,
                                    writeSchema: StructType, queryId: String)
    extends BatchWrite {
  private val dataDir =
    s"$root/data/rowlevel-$queryId-${java.util.UUID.randomUUID().toString}"

  // the written schema may carry metadata columns (e.g. _file) — project
  // them out: only real table columns reach parquet
  private val keep: Array[Int] = writeSchema.fields.zipWithIndex.collect {
    case (f, i) if tableSchema.fieldNames.contains(f.name) => i
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftReplaceWriterFactory(dataDir,
      StructType(keep.map(writeSchema.fields(_))), keep,
      new SerializableHadoopConf(
        SparkSession.active.sessionState.newHadoopConf()))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val newFiles0 = messages.collect {
      case GraftSqlWriteMessage(fs, n) if n > 0 => fs
    }.flatten.toSeq.sorted
    val replaced = op.replacedFiles.toSet
    if (replaced.isEmpty && newFiles0.isEmpty) return // nothing matched
    // LINEAGE through copy-on-write DML (Iceberg v3's rule): surviving
    // rows in rewritten groups — including the UPDATED rows themselves
    // (an update modifies a row, it does not create one) — keep their
    // `_row_id`. Spark's group-based API projects metadata columns out
    // before the write reaches us (verified: the write schema carries
    // table columns only), so ids cannot ride the plan the way the
    // delta path's masks do; instead the replacement batch is re-keyed
    // against the replaced groups' ids in ONE distributed join + rewrite
    // — group-bounded work on top of a rewrite that already paid group
    // bytes (the MoR modes stay the lineage-cheap dial). Keys matched
    // 1:1 between old and new content carry their id; MERGE inserts and
    // ambiguous (duplicate-key) rows write NULL and are born into the
    // new files' fresh rid range by the central commit arithmetic.
    val lineage = newFiles0.nonEmpty &&
      snap.files.exists(f => replaced(f.file) && (f.rid >= 0 || f.ridCol))
    val newFiles = if (!lineage) newFiles0 else {
      import org.apache.spark.sql.functions._
      val k = snap.keyCol
      val olds = TableFormat.readFilesWithLineage(spark, snap,
          snap.files.map(_.file).filter(replaced))
        .select(col(k), col(TableFormat.IdColName).as("__oid"))
        .groupBy(col(k))
        .agg(min(col("__oid")).as("__oid"), count(lit(1)).as("__oc"))
      val batch = Parquet.read(spark, newFiles0: _*)
      val newCounts = batch.groupBy(col(k)).agg(count(lit(1)).as("__nc"))
      val ids = olds.join(newCounts, Seq(k))
        .filter(col("__oc") === 1 && col("__nc") === 1)
        .select(col(k), col("__oid"))
      val out = s"$dataDir-lineage"
      batch.join(ids, Seq(k), "left")
        .withColumn(TableFormat.IdColName, col("__oid")).drop("__oid")
        .repartition(newFiles0.size)
        .write.mode("overwrite").parquet(out)
      // the id-less first-pass files are uncommitted scratch: drop them
      val p = new org.apache.hadoop.fs.Path(dataDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      TableFormat.listParquet(spark, out)
    }
    val stats =
      if (newFiles.isEmpty) Seq.empty
      else TableFormat.fileStats(spark, newFiles, snap.keyCol, snap.numBits,
        snap.numHashes, snap.zoneCols,
        spec = snap.props.get(TableFormat.PartitionSpecProp),
        bloomCols = TableFormat.bloomColsOf(snap.props))
        .map(s => if (lineage) s.copy(ridCol = true) else s)
    val opName = op.command() match {
      case RowLevelOperation.Command.DELETE => "delete"
      case RowLevelOperation.Command.UPDATE => "update"
      case _ => "merge"
    }
    TableFormat.replaceDataFiles(spark, root, snap, replaced, stats,
      if (newFiles.isEmpty) None else Some(Parquet.read(spark, newFiles: _*)),
      opName)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(dataDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

private class GraftReplaceWriterFactory(dataDir: String,
                                        parquetSchema: StructType,
                                        keep: Array[Int],
                                        conf: SerializableHadoopConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val inner = new GraftSqlDataWriter(dataDir, s"part-$partitionId-$taskId",
      parquetSchema, Seq.empty, conf.value)
    val identity = keep.nonEmpty && keep.length == keep.max + 1 &&
      keep.zipWithIndex.forall { case (src, out) => src == out }
    if (identity) inner
    else new DataWriter[InternalRow] {
      // project the metadata columns out of the incoming row (internal
      // representations pass through untouched)
      private val types = parquetSchema.fields.map(_.dataType)
      override def write(row: InternalRow): Unit = {
        val vals = new Array[Any](keep.length)
        var j = 0
        while (j < keep.length) { vals(j) = row.get(keep(j), types(j)); j += 1 }
        inner.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals))
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}
