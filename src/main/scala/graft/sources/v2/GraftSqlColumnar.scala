package graft.sources.v2

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** The connector's ONE parquet read path: every file the SQL catalog
  * scan, the copy-on-write and delta row-level scans, the
  * `graft-table-changes` stream and the delete-manifest key loads read
  * goes through Spark's own `VectorizedParquetRecordReader`, so each
  * feeds WholeStageCodegen `ColumnarBatch`es exactly like a native
  * `spark.read.parquet`, and Spark's parquet type rules (INT96 and
  * timestamp units, decimal encodings, legacy LIST forms, INT32 under
  * BIGINT and FLOAT under DOUBLE) are the only ones applied.
  * MERGE-ON-READ-pending snapshots stay columnar: a masked partition
  * loads its manifest keys into a hash set, computes the surviving row
  * ids per batch, and serves the batch through [[MappedColumnVector]]
  * row-id remapping (the Iceberg vectorized-equality-delete shape) —
  * the key column is read scan-uniformly (appended to the projection
  * when absent) and only the projected prefix is emitted. Metadata
  * columns are synthesized as vectors: per-partition constants
  * (`_file`, the stream's `_commit_version`), `_pos` and `_row_id`.
  *
  * The delegate is initialized through the PRODUCTION
  * `initialize(InputSplit, TaskAttemptContext)` path with the SESSION's
  * Hadoop configuration (not the test-only `initialize(path, columns)`
  * overload, which builds a bare `new Configuration()` internally and
  * would strand fs.* settings — S3A/ABFS credentials, endpoints — that
  * the footer read honors). That path also buys SCHEMA EVOLUTION
  * natively: `ParquetReadSupport` clips the requested Catalyst schema
  * against the file's own schema and the reader null-pads columns the
  * file predates, with no wrapper batch.
  *
  * One case is layered on top: an EMPTY PROJECTION (`SELECT count(*)`)
  * — parquet group types cannot be empty, so a zero-column scan emits
  * row-group-sized empty batches straight from FOOTER metadata — a
  * count over a clean table reads no data pages at all. */
private[v2] object GraftSqlColumnar {
  /** DRIVER-side conf preparation: the vectorized reader's task-side
    * `ParquetReadSupport`/`ParquetToSparkSchemaConverter` read their
    * conversion settings from the TASK Hadoop conf, and
    * `newHadoopConf()` only carries session confs the user explicitly
    * set — so the effective values must be stamped here, exactly as
    * Spark's own `ParquetFileFormat.buildReaderWithPartitionValues`
    * does before broadcasting. */
  def scanConf(spark: SparkSession): org.apache.hadoop.conf.Configuration = {
    val c = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sql.isParquetBinaryAsString)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sql.isParquetINT96AsTimestamp)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sql.legacyParquetNanosAsLong)
    c
  }
}

/** A reader factory whose partitions are all served by
  * [[GraftSqlColumnarReader]]: Spark asks it for batches only, never rows. */
private[v2] trait GraftColumnarReaderFactory extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft: parquet partitions are read columnar")
}

/** PARQUET ROW-GROUP predicate pushdown — the translation from pushed
  * DSv2 filters to parquet `FilterApi` predicates, stamped on the scan
  * conf so the reader skips non-matching row groups via footer stats
  * (`ParquetFileReader` applies the stats + dictionary filters at
  * open; the zone arithmetic prunes FILES, this prunes INSIDE the
  * surviving files — at 100 TB with ~1 GB files a selective key probe
  * stops re-reading whole files for one hit row group).
  *
  * Translation is restricted to columns whose committed Spark type maps
  * to ONE canonical physical type (int32 family / int64 family /
  * binary-string), so the typed predicate matches the physical column
  * in every file the format's own writers produced. A FOREIGN file that
  * stored the column differently (e.g. an INT96 timestamp) makes the
  * reader's open throw a schema-compatibility error — the reader
  * catches exactly that case and retries the file WITHOUT the filter
  * (correctness never depends on the pushdown; Spark's residual filter
  * re-applies row-level either way). Record-level filtering stays
  * DISABLED: Spark's residual filter does the row-level work. */
private[v2] object GraftRowGroupFilter {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate, Operators}
  import org.apache.spark.sql.sources._

  /** Zone-long filter value rendered in the column's PHYSICAL space
    * (the same mapping [[GraftSqlValues.zoneValue]] uses for stats). */
  private def predicateFor(dt: DataType, name: String, f: Filter)
      : Option[FilterPredicate] = {
    def longCol = FilterApi.longColumn(name)
    def intCol = FilterApi.intColumn(name)
    def intOk(l: Long) = l >= Int.MinValue && l <= Int.MaxValue
    val isLong = dt == LongType || dt == TimestampType
    val isInt = dt == IntegerType || dt == ShortType || dt == ByteType ||
      dt == DateType
    def zv(v: Any): Option[Long] = GraftSqlValues.zoneValue(v)
    f match {
      case EqualTo(_, v) if isLong => zv(v).map(l =>
        FilterApi.eq(longCol, java.lang.Long.valueOf(l)))
      case EqualTo(_, v) if isInt => zv(v).filter(intOk).map(l =>
        FilterApi.eq(intCol, java.lang.Integer.valueOf(l.toInt)))
      case GreaterThan(_, v) if isLong => zv(v).map(l =>
        FilterApi.gt(longCol, java.lang.Long.valueOf(l)))
      case GreaterThan(_, v) if isInt => zv(v).filter(intOk).map(l =>
        FilterApi.gt(intCol, java.lang.Integer.valueOf(l.toInt)))
      case GreaterThanOrEqual(_, v) if isLong => zv(v).map(l =>
        FilterApi.gtEq(longCol, java.lang.Long.valueOf(l)))
      case GreaterThanOrEqual(_, v) if isInt => zv(v).filter(intOk).map(l =>
        FilterApi.gtEq(intCol, java.lang.Integer.valueOf(l.toInt)))
      case LessThan(_, v) if isLong => zv(v).map(l =>
        FilterApi.lt(longCol, java.lang.Long.valueOf(l)))
      case LessThan(_, v) if isInt => zv(v).filter(intOk).map(l =>
        FilterApi.lt(intCol, java.lang.Integer.valueOf(l.toInt)))
      case LessThanOrEqual(_, v) if isLong => zv(v).map(l =>
        FilterApi.ltEq(longCol, java.lang.Long.valueOf(l)))
      case LessThanOrEqual(_, v) if isInt => zv(v).filter(intOk).map(l =>
        FilterApi.ltEq(intCol, java.lang.Integer.valueOf(l.toInt)))
      case In(_, vs) if isLong =>
        val ls = vs.toSeq.filter(_ != null).flatMap(zv)
        if (ls.size != vs.count(_ != null) || ls.isEmpty) None
        else {
          val set = new java.util.HashSet[java.lang.Long]()
          ls.foreach(l => set.add(java.lang.Long.valueOf(l)))
          Some(FilterApi.in(longCol, set))
        }
      case In(_, vs) if isInt =>
        val ls = vs.toSeq.filter(_ != null).flatMap(zv)
        if (ls.size != vs.count(_ != null) || ls.isEmpty ||
            !ls.forall(intOk)) None
        else {
          val set = new java.util.HashSet[java.lang.Integer]()
          ls.foreach(l => set.add(java.lang.Integer.valueOf(l.toInt)))
          Some(FilterApi.in(intCol, set))
        }
      // null tests carry no value to translate — any physical type with
      // a typed column constructor works; the common stats columns are
      // covered (int/long families and strings)
      case IsNull(_) if isLong =>
        Some(FilterApi.eq(longCol, null.asInstanceOf[java.lang.Long]))
      case IsNull(_) if isInt =>
        Some(FilterApi.eq(intCol, null.asInstanceOf[java.lang.Integer]))
      case IsNull(_) if dt == StringType =>
        Some(FilterApi.eq(FilterApi.binaryColumn(name),
          null.asInstanceOf[org.apache.parquet.io.api.Binary]))
      case IsNotNull(_) if isLong =>
        Some(FilterApi.notEq(longCol, null.asInstanceOf[java.lang.Long]))
      case IsNotNull(_) if isInt =>
        Some(FilterApi.notEq(intCol, null.asInstanceOf[java.lang.Integer]))
      case IsNotNull(_) if dt == StringType =>
        Some(FilterApi.notEq(FilterApi.binaryColumn(name),
          null.asInstanceOf[org.apache.parquet.io.api.Binary]))
      case _ => None
    }
  }

  /** AND of every translatable pushed filter (untranslatable ones are
    * simply skipped — the residual filter covers them). */
  def build(filters: Array[Filter], schema: StructType)
      : Option[FilterPredicate] = {
    val preds = filters.flatMap { f =>
      val colOpt = f match {
        case EqualTo(c, _) => Some(c)
        case GreaterThan(c, _) => Some(c)
        case GreaterThanOrEqual(c, _) => Some(c)
        case LessThan(c, _) => Some(c)
        case LessThanOrEqual(c, _) => Some(c)
        case In(c, _) => Some(c)
        case IsNull(c) => Some(c)
        case IsNotNull(c) => Some(c)
        case _ => None
      }
      for {
        c <- colOpt
        field <- schema.fields.find(_.name == c)
        p <- predicateFor(field.dataType, c, f)
      } yield p
    }
    preds.reduceOption(FilterApi.and)
  }

  /** Stamp `pred` for the reader: the predicate itself plus the
    * filtering levels — stats + dictionary ON (row-group granularity),
    * record-level OFF (surviving pages surface whole; Spark's residual
    * filter does the row-level work), and COLUMN-INDEX ON: Spark's
    * `VectorizedParquetRecordReader` natively reads filtered row ranges,
    * so a point probe inside a 128 MB row group reads ~one PAGE instead
    * of the whole group, the sub-row-group IO lever. */
  def stamp(c: org.apache.hadoop.conf.Configuration,
            pred: FilterPredicate): Unit = {
    org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(c, pred)
    c.setBoolean(org.apache.parquet.hadoop.ParquetInputFormat
      .RECORD_FILTERING_ENABLED, false)
    c.setBoolean(org.apache.parquet.hadoop.ParquetInputFormat
      .COLUMN_INDEX_FILTERING_ENABLED, true)
  }

  private val PredicateKey =
    org.apache.parquet.hadoop.ParquetInputFormat.FILTER_PREDICATE

  def hasFilter(c: org.apache.hadoop.conf.Configuration): Boolean =
    c.get(PredicateKey) != null

  /** A conf copy with the filter REMOVED — the per-file fallback when a
    * foreign file's physical types reject the typed predicate, and the
    * mandatory conf for manifest (`_del_key`) reads, which must never
    * inherit a data-column filter (an empty mask would resurrect
    * deleted rows). */
  def without(c: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.conf.Configuration = {
    val c2 = new org.apache.hadoop.conf.Configuration(c)
    c2.unset(PredicateKey)
    c2
  }
}

/** Row-id-remapping wrapper over a delegate [[ColumnVector]] — what
  * lets a merge-on-read mask apply OVER a vectorized batch (the Iceberg
  * vectorized equality-delete shape): the reader computes the surviving
  * row ids once per batch into `state.map`, and every wrapped vector (and,
  * recursively, its struct children — [[ColumnarRow]] accessors read
  * children at the PARENT's row id) translates through it. The
  * delegate's vectors are reused across batches, so the wrappers are
  * allocated once and only the shared map array changes. `close` is a
  * no-op — the delegate reader owns the real vectors. */
private class MaskState { var map: Array[Int] = _ }

private class MappedColumnVector(base: ColumnVector, state: MaskState)
    extends ColumnVector(base.dataType) {
  private val children =
    new java.util.HashMap[Integer, MappedColumnVector]()
  @inline private def m(i: Int): Int = state.map(i)
  override def close(): Unit = ()
  // conservative: the filtered view may hold fewer nulls than the base
  // reports — callers use these only to pick a null-checking code path
  override def hasNull: Boolean = base.hasNull
  override def numNulls: Int = base.numNulls
  override def isNullAt(i: Int): Boolean = base.isNullAt(m(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(m(i))
  override def getByte(i: Int): Byte = base.getByte(m(i))
  override def getShort(i: Int): Short = base.getShort(m(i))
  override def getInt(i: Int): Int = base.getInt(m(i))
  override def getLong(i: Int): Long = base.getLong(m(i))
  override def getFloat(i: Int): Float = base.getFloat(m(i))
  override def getDouble(i: Int): Double = base.getDouble(m(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(m(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(m(i))
  override def getDecimal(i: Int, precision: Int, scale: Int) =
    base.getDecimal(m(i), precision, scale)
  override def getUTF8String(i: Int) = base.getUTF8String(m(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(m(i))
  override def getChild(ordinal: Int): ColumnVector =
    children.computeIfAbsent(ordinal,
      (_: Integer) => new MappedColumnVector(base.getChild(ordinal), state))
}

/** The `_pos` metadata column on the COLUMNAR path: the row's
  * FILE-ABSOLUTE pre-mask ordinal — `base + i` on a clean batch,
  * `base + map(i)` under a mask (the map holds RAW batch indices of the
  * surviving rows, so masked ordinals are exactly the skipped ones).
  * `base` lives on the holder the reader advances per batch; reads are
  * only valid for the CURRENT batch, which is all Spark ever does. */
private class BatchBase { var value: Long = 0L; var rows: Int = 0 }

private class OrdinalVector(base: BatchBase, state: MaskState)
    extends ColumnVector(LongType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls: Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getLong(i: Int): Long =
    base.value + (if (state == null) i else state.map(i))
  override def getBoolean(i: Int): Boolean =
    throw new UnsupportedOperationException
  override def getByte(i: Int): Byte = throw new UnsupportedOperationException
  override def getShort(i: Int): Short = throw new UnsupportedOperationException
  override def getInt(i: Int): Int = throw new UnsupportedOperationException
  override def getFloat(i: Int): Float = throw new UnsupportedOperationException
  override def getDouble(i: Int): Double = throw new UnsupportedOperationException
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    throw new UnsupportedOperationException
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    throw new UnsupportedOperationException
  override def getDecimal(i: Int, p: Int, s: Int) =
    throw new UnsupportedOperationException
  override def getUTF8String(i: Int) = throw new UnsupportedOperationException
  override def getBinary(i: Int): Array[Byte] =
    throw new UnsupportedOperationException
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException
}

/** The `_row_id` metadata column (row lineage): the materialized
  * `__graft_row_id` value when the file carries one (read as the
  * delegate batch's appended last column), falling back to the file's
  * assigned range + the RAW file-absolute ordinal; NULL when neither
  * source exists (pre-lineage rows — stated, never guessed). */
private class RowIdVector(base: BatchBase, state: MaskState, rid: Long,
                          idCol: ColumnVector)
    extends ColumnVector(LongType) {
  @inline private def raw(i: Int): Int = if (state == null) i else state.map(i)
  override def close(): Unit = ()
  // hasNull/numNulls MUST stay mutually consistent (ColumnVector
  // contract — columnar-to-row and Arrow conversion trust numNulls):
  // nulls only occur for pre-lineage files (rid < 0), where they are
  // counted per emitted batch (cached on the batch's base ordinal,
  // strictly increasing) rather than hard-coded.
  private var nullsFor: Long = -1L
  private var nullsRows: Int = -1
  private var nullsN: Int = 0
  private def nulls: Int = {
    if (rid >= 0) return 0
    if (idCol == null) return base.rows // no id source at all: all null
    if (nullsFor != base.value || nullsRows != base.rows) {
      var n = 0; var i = 0
      while (i < base.rows) { if (idCol.isNullAt(raw(i))) n += 1; i += 1 }
      nullsFor = base.value; nullsRows = base.rows; nullsN = n
    }
    nullsN
  }
  override def hasNull: Boolean = nulls > 0
  override def numNulls: Int = nulls
  override def isNullAt(i: Int): Boolean =
    rid < 0 && (idCol == null || idCol.isNullAt(raw(i)))
  override def getLong(i: Int): Long = {
    val r = raw(i)
    if (idCol != null && !idCol.isNullAt(r)) idCol.getLong(r)
    else rid + base.value + r
  }
  override def getBoolean(i: Int): Boolean =
    throw new UnsupportedOperationException
  override def getByte(i: Int): Byte = throw new UnsupportedOperationException
  override def getShort(i: Int): Short = throw new UnsupportedOperationException
  override def getInt(i: Int): Int = throw new UnsupportedOperationException
  override def getFloat(i: Int): Float = throw new UnsupportedOperationException
  override def getDouble(i: Int): Double = throw new UnsupportedOperationException
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    throw new UnsupportedOperationException
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    throw new UnsupportedOperationException
  override def getDecimal(i: Int, p: Int, s: Int) =
    throw new UnsupportedOperationException
  override def getUTF8String(i: Int) = throw new UnsupportedOperationException
  override def getBinary(i: Int): Array[Byte] =
    throw new UnsupportedOperationException
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException
}

private class GraftSqlColumnarReader(file: String, required: StructType,
                                     extended: StructType,
                                     mask: java.util.HashSet[java.lang.Long],
                                     keyCol: String,
                                     conf: org.apache.hadoop.conf.Configuration,
                                     posMask: org.roaringbitmap.longlong.Roaring64Bitmap = null,
                                     rid: Long = -1L,
                                     ridColRead: Boolean = false,
                                     constants: Map[String, Any] = Map.empty)
    extends PartitionReader[ColumnarBatch] {
  // `posMask` is the file's DELETION VECTOR (file-absolute ordinals),
  // and a `_pos` projection synthesizes the same ordinals as a column.
  // The factory hands a FILTER-FREE conf with either — a stamped
  // row-group predicate would skip groups and desynchronize the count.
  // `constants` are per-partition constant columns by name, as internal
  // values (`_file`, the stream's `_commit_version`).
  require((posMask == null &&
    !required.fieldNames.contains(GraftRowLevel.PosColumn) &&
    !required.fieldNames.contains(GraftRowLevel.RowIdColumn)) ||
    !GraftRowGroupFilter.hasFilter(conf),
    s"graft-columnar: file-absolute ordinals need an unfiltered read of $file")
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile

  // row counts per row group, for the zero-projection fast path
  private lazy val groupRowCounts: Iterator[Long] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf))
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).toList.iterator
    finally r.close()
  }

  private val delegate: VectorizedParquetRecordReader =
    if (extended.fields.isEmpty) null
    else {
      // the conf arrives with SPARK_ROW_REQUESTED_SCHEMA already stamped
      // DRIVER-side (scan-constant — one Configuration per scan, never a
      // per-file copy, which costs real milliseconds × files), and the
      // whole-file split range spares a getFileStatus RPC per file (our
      // files are read whole; every row group's midpoint lies inside
      // [0, Long.MaxValue)).
      // The mapred (not mapreduce.lib.input) split: Spark's reader base
      // downcasts to it internally; mapred.FileSplit extends the
      // mapreduce one, so it satisfies the initialize signature too
      val path = new org.apache.hadoop.fs.Path(file)
      val split = new org.apache.hadoop.mapred.FileSplit(
        path, 0, Long.MaxValue, Array.empty[String])
      def init(c: org.apache.hadoop.conf.Configuration)
          : VectorizedParquetRecordReader = {
        val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          c, new org.apache.hadoop.mapreduce.TaskAttemptID(
            new org.apache.hadoop.mapreduce.TaskID(
              new org.apache.hadoop.mapreduce.JobID(), // synthetic: no MR job
              org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0))
        val r = new VectorizedParquetRecordReader(false, 4096)
        try r.initialize(split, ctx)
        catch {
          case e: InterruptedException =>
            r.close()
            Thread.currentThread().interrupt()
            throw new java.io.InterruptedIOException(
              s"interrupted initializing vectorized read of $file: ${e.getMessage}")
          case e: Throwable =>
            r.close()
            throw e
        }
        r.resultBatch() // allocates the batch vectors (nextBatch needs them)
        r
      }
      try init(conf)
      catch {
        // a FOREIGN file whose physical column type rejects the stamped
        // row-group predicate (parquet's SchemaCompatibilityValidator):
        // re-open WITHOUT the filter — pushdown is an optimization, the
        // residual Spark filter keeps the result exact
        case e: IllegalArgumentException if GraftRowGroupFilter.hasFilter(conf) =>
          init(GraftRowGroupFilter.without(conf))
      }
    }

  // output slot -> source: >= 0 is the delegate (extended) column index,
  // -1 a per-partition constant, -2 synthesizes `_pos`, -3 the `_row_id`
  // lineage value (materialized id column when this file carries one —
  // read as the delegate's appended LAST column — else rid + ordinal)
  private val outputs: Array[Int] = required.fields.map { f =>
    if (constants.contains(f.name)) -1
    else if (f.name == GraftRowLevel.PosColumn) -2
    else if (f.name == GraftRowLevel.RowIdColumn) -3
    else extended.fieldIndex(f.name)
  }
  private def idColOf(b: ColumnarBatch): ColumnVector =
    if (ridColRead) b.column(extended.fields.length) else null
  private val identityOutputs =
    outputs.length == extended.fields.length &&
      outputs.zipWithIndex.forall { case (s, o) => s == o }
  private lazy val keyIdx = extended.fieldIndex(keyCol)
  private lazy val keyIsLong =
    extended.fields(keyIdx).dataType == org.apache.spark.sql.types.LongType

  private var countBatch: ColumnarBatch = _
  private var current: ColumnarBatch = _
  // the output shell, built once on the first non-identity batch
  // (delegate vectors are reused per batch): delegate columns by index
  // — row-id remapped through `maskState` under a mask — and the
  // synthesized columns
  private var shell: ColumnarBatch = _
  private val masked = mask != null || posMask != null
  private val maskState = new MaskState

  // `batchBase` holds the CURRENT emitted batch's first raw ordinal —
  // the synthesized OrdinalVectors read it while Spark consumes the
  // batch (a batch is fully drained before the next `next()` call), and
  // `nextBase` runs ahead as the raw-row count. Valid because a
  // posMask/_pos read never skips row groups (constructor guard).
  private val batchBase = new BatchBase
  private var nextBase = 0L

  private def shellOf(b: ColumnarBatch): ColumnarBatch = {
    // surviving rows keep their RAW ordinals (base + map(i)) — exactly
    // the identity a deletion vector anchors on
    val state = if (masked) maskState else null
    new ColumnarBatch(outputs.indices.map { o =>
      outputs(o) match {
        case -1 =>
          val f = required.fields(o)
          val c = new ConstantColumnVector(1, f.dataType)
          ColumnVectorUtils.populate(c, InternalRow(constants(f.name)), 0)
          c: ColumnVector
        case -2 => new OrdinalVector(batchBase, state)
        case -3 => new RowIdVector(batchBase, state, rid, idColOf(b))
        case i if masked => new MappedColumnVector(b.column(i), maskState)
        case i => b.column(i)
      }
    }.toArray)
  }

  private def emit(b: ColumnarBatch): ColumnarBatch = {
    val rows = b.numRows()
    batchBase.value = nextBase
    nextBase += rows
    var n = rows
    if (masked) {
      val base = batchBase.value
      val keys = if (mask == null) null else b.column(keyIdx)
      if (maskState.map == null || maskState.map.length < rows)
        maskState.map = new Array[Int](rows)
      n = 0
      var i = 0
      while (i < rows) {
        // deletion vector: skip by file-absolute ordinal; equality
        // manifests: a NULL key is never masked (manifests hold no nulls)
        val keep = (posMask == null || !posMask.contains(base + i)) &&
          (mask == null || keys.isNullAt(i) || !mask.contains(
            if (keyIsLong) keys.getLong(i) else keys.getInt(i).toLong))
        if (keep) { maskState.map(n) = i; n += 1 }
        i += 1
      }
    }
    batchBase.rows = n
    if (!masked && identityOutputs) b
    else {
      if (shell == null) shell = shellOf(b)
      shell.setNumRows(n)
      shell
    }
  }

  private var countEmitted = false

  override def next(): Boolean =
    if (delegate == null) {
      // zero-column projection: batches are pure row counts. Under a
      // deletion vector the LIVE count is exact metadata arithmetic:
      // total footer rows minus the bitmap's cardinality, one batch.
      if (posMask != null) {
        if (countEmitted) false
        else {
          countEmitted = true
          if (countBatch == null)
            countBatch = new ColumnarBatch(Array.empty[ColumnVector])
          countBatch.setNumRows(
            (groupRowCounts.sum - posMask.getLongCardinality).toInt)
          current = countBatch
          true
        }
      }
      else if (!groupRowCounts.hasNext) false
      else {
        if (countBatch == null)
          countBatch = new ColumnarBatch(Array.empty[ColumnVector])
        // ColumnarBatch.setNumRows takes an int; parquet row groups are
        // bounded far below 2^31 rows (128 MB default block)
        countBatch.setNumRows(groupRowCounts.next().toInt)
        current = countBatch
        true
      }
    } else if (delegate.nextBatch()) {
      current = emit(delegate.resultBatch())
      true
    } else false

  override def get(): ColumnarBatch = current

  override def close(): Unit = if (delegate != null) delegate.close()
}
