package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._

import graft.operators.TableFormat

/** SQL WRITE PATH for the graft catalog — what turns `CREATE TABLE ...
  * AS SELECT` and `INSERT INTO/OVERWRITE graft.t` into [[TableFormat]]
  * commits (the Delta/Iceberg DSv2 write shape; reference analog: the
  * whole reference is a load pipeline, `v3:1096-1100,1330-1333`).
  *
  * Split of responsibilities, chosen for the 1000-executor posture:
  *
  *  - executors stream their partition's rows straight into one parquet
  *    file each under `<root>/data/` (no buffering of the batch, no
  *    driver involvement — a 1000-partition INSERT writes 1000 files in
  *    parallel);
  *  - the DRIVER alone commits: [[TableFormat.appendFiles]] (or
  *    [[TableFormat.overwriteFiles]] when the builder was truncated)
  *    computes per-file stats with one distributed aggregate, enforces
  *    CHECK constraints (a violating INSERT is REFUSED — the files never
  *    enter a commit and the retention sweep's grace logic collects
  *    them), evolves the schema add-only, and publishes via the CAS
  *    rename, so SQL writers serialize with library writers, streaming
  *    sinks and maintenance exactly like any other committer.
  *
  * Files are written with explicit logical types (DATE, TIMESTAMP-micros,
  * DECIMAL-int64), which Spark's vectorized reader — the catalog scan
  * and the streaming source alike — reads back under the committed
  * schema. */
private[v2] object GraftSqlWrite {
  /** Table property capping one data file's size (Iceberg's
    * `write.target-file-size-bytes`): the executor writer ROLLS to a
    * fresh file when the open file's buffered+written bytes reach the
    * target. Without it, clustered distribution — one task per
    * partition value, the layout storage-partitioned joins need — would
    * write ONE UNBOUNDED FILE per skewed partition value at 100 TB.
    * Rolled files still hold a single partition value, so the recorded
    * partition tuples (and the joins planned from them) stay pure. */
  val TargetFileSizeProp = "write.target-file-size-bytes"
  val DefaultTargetFileBytes: Long = 512L << 20

  def targetOf(props: Map[String, String]): Long =
    props.get(TargetFileSizeProp) match {
      case None => DefaultTargetFileBytes
      case Some(v) => v.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"graft: $TargetFileSizeProp must be a positive long, got '$v'"))
    }

  /** Table property declaring a WRITE-TIME SORT ORDER (Iceberg's
    * sort-order idea, comma-separated ascending columns): every write
    * range-distributes + sorts by these columns (after the partition
    * spec's base columns, when a spec exists), so each data file lands
    * with a NEAR-DISJOINT range of the sort columns — recluster at
    * write time. The zone stats every commit records then make range
    * probes on the sort columns prune FILES, with no rewrite ever
    * scheduled. */
  val SortOrderProp: String = TableFormat.SortOrderProp

  def sortOrderOf(props: Map[String, String]): Seq[String] =
    TableFormat.sortOrderColsOf(props)
}

private[v2] class GraftSqlWriteBuilder(root: String, schema: StructType,
                                       queryId: String,
                                       partitionSpec: Option[String],
                                       lineage: String = "",
                                       resolveTransforms: Boolean = false,
                                       targetFileBytes: Long =
                                         GraftSqlWrite.DefaultTargetFileBytes,
                                       sortOrder: Seq[String] = Seq.empty)
    extends WriteBuilder with SupportsTruncate
    with SupportsOverwrite with SupportsDynamicOverwrite {
  private var doTruncate = false
  // INSERT OVERWRITE scopes: a translated replace-where bound range
  // (static overwrite / overwrite-by-expression), or dynamic partition
  // replacement — both commit through metadata arithmetic, never a
  // whole-table rewrite
  private var replaceRange: Option[(String, Long, Long)] = None
  private var dynamicParts = false

  sortOrder.foreach(c => require(schema.fieldNames.contains(c),
    s"graft SQL write: ${GraftSqlWrite.SortOrderProp} column '$c' missing " +
      s"from the written schema ${schema.fieldNames.mkString(",")}"))

  // GENERATED/IDENTITY ledgers (GraftGenerated): resolved once at plan
  // time against the WRITE schema; empty for the overwhelmingly common
  // plain table
  private lazy val ledgerProps: Map[String, String] = {
    val spark = SparkSession.active
    if (TableFormat.versions(spark, root).isEmpty) Map.empty
    else TableFormat.snapshot(spark, root).props
  }
  private lazy val writeGenExprs =
    GraftGenerated.boundGenerated(SparkSession.active, schema, ledgerProps)
  private lazy val writeIdAssigns =
    GraftGenerated.identityAssigns(schema, ledgerProps)

  private def requirePlainAppendForIdentity(): Unit =
    require(writeIdAssigns.isEmpty ||
      (!doTruncate && replaceRange.isEmpty && !dynamicParts),
      "graft SQL write: INSERT OVERWRITE/truncate on a table with an " +
        "identity column is not supported (the watermark advance is " +
        "append-only) — write to a fresh table instead")

  private def requireNoLedgerForStreaming(): Unit =
    require(writeGenExprs.isEmpty && writeIdAssigns.isEmpty,
      "graft SQL write: streaming writes to a table with generated or " +
        "identity columns are not supported — compute the columns in " +
        "the stream and target a plain table")

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    val real = filters.filterNot(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    if (real.isEmpty) { doTruncate = true; return this }
    val snap = TableFormat.snapshot(SparkSession.active, root)
    replaceRange = Some(GraftSqlFilters.boundRange(real, snap.keyCol,
      snap.zoneCols, schema).getOrElse(
      throw new UnsupportedOperationException(
        "graft SQL write: INSERT OVERWRITE supports an unconditional " +
          "overwrite or range/equality predicates on one discrete " +
          "key/zone column (replace-where) — got " +
          real.mkString(", "))))
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    require(partitionSpec.isDefined,
      "graft SQL write: dynamic partition overwrite needs a declared " +
        "partition spec (PARTITIONED BY) — an unpartitioned table has " +
        "no partition values to replace")
    dynamicParts = true
    this
  }

  override def build(): Write = partitionSpec match {
    case None if sortOrder.nonEmpty =>
      // UNPARTITIONED but sort-ordered: range-distribute + sort, so the
      // task files land with near-disjoint sort-column ranges (each
      // file one contiguous slice — write-time reclustering)
      new Write with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
        private val orders: Array[SortOrder] = sortOrder.map(c =>
          Expressions.sort(Expressions.column(c),
            SortDirection.ASCENDING)).toArray
        override def requiredDistribution(): Distribution =
          Distributions.ordered(orders)
        override def requiredOrdering(): Array[SortOrder] = orders
        override def toBatch: BatchWrite = {
          requirePlainAppendForIdentity()
          new GraftSqlBatchWrite(root, schema, queryId, doTruncate, Seq.empty,
            targetFileBytes, replaceRange, dynamicParts,
            genExprs = writeGenExprs, idAssigns = writeIdAssigns)
        }
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          requireNoLedgerForStreaming()
          new GraftSqlStreamingWrite(root, schema, queryId, lineage, Seq.empty,
            targetFileBytes)
        }
      }
    case None => new Write {
      override def toBatch: BatchWrite = {
        requirePlainAppendForIdentity()
        new GraftSqlBatchWrite(root, schema, queryId, doTruncate, Seq.empty,
          targetFileBytes, replaceRange, dynamicParts,
          genExprs = writeGenExprs, idAssigns = writeIdAssigns)
      }
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        requireNoLedgerForStreaming()
        new GraftSqlStreamingWrite(root, schema, queryId, lineage, Seq.empty,
          targetFileBytes)
      }
    }
    case Some(spec) =>
      // SQL writes HONOR the declared partition spec through Spark's own
      // required-distribution mechanism (the Iceberg DSv2 shape).
      // Catalog-resolved writes (`resolveTransforms`) cluster BY THE
      // TRANSFORM ITSELF — Spark resolves bucket/months/div through the
      // catalog's FunctionCatalog, hashes rows by the routing value, and
      // every partition value lands in exactly ONE task: one file per
      // live partition value however many tasks the insert runs
      // (Iceberg's write.distribution-mode=hash), which is also the
      // layout storage-partitioned joins group by. Path-based writes
      // have no catalog to resolve a transform function through, so
      // they keep the ordered fallback: range-distribute + sort by the
      // spec's base columns — contiguous runs per task, one file per
      // value per task (boundary values split across at most two
      // tasks). Both paths sort within partitions by the base columns,
      // which is what lets the writer close each monotone run's files
      // the moment the run ends.
      val terms = TableFormat.parseSpec(spec)
      terms.foreach(t => require(schema.fieldNames.contains(t.baseCol),
        s"graft SQL write: partition-spec column '${t.baseCol}' missing " +
          s"from the written schema ${schema.fieldNames.mkString(",")}"))
      new Write with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
        import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection, SortOrder}
        // ordering contract: MONOTONE (identity/month/div) base columns
        // always lead — the writer's run-boundary close depends on their
        // contiguity. After them, the DECLARED sort order wins: bucket
        // base columns only sort when no write.sort-order is set (their
        // ordering buys the sort-free-SPJ report; a declared sort order
        // buys within-value zone carving instead, and the scan then
        // withholds the base-column ordering report — see
        // GraftSqlScan.outputOrdering). Rolled files of one partition
        // value thus carry near-disjoint sort-column zones.
        private val orders: Array[SortOrder] = {
          val monoBases = terms.filterNot(_.isInstanceOf[TableFormat.BucketTerm])
            .map(_.baseCol)
          val cols =
            if (sortOrder.isEmpty) terms.map(_.baseCol)
            else monoBases ++ sortOrder.filterNot(monoBases.contains)
          cols.map(c => Expressions.sort(Expressions.column(c),
            SortDirection.ASCENDING)).toArray
        }
        private val clustering: Array[Expression] = terms.map {
          case TableFormat.IdentityTerm(c) => Expressions.identity(c)
          case TableFormat.MonthTerm(c) => Expressions.months(c)
          case TableFormat.BucketTerm(c, n) => Expressions.bucket(n.toInt, c)
          case TableFormat.DivTerm(c, w) =>
            Expressions.apply("div", Expressions.column(c),
              Expressions.literal(java.lang.Long.valueOf(w)))
        }.toArray[Expression]
        override def requiredDistribution(): Distribution =
          if (resolveTransforms) Distributions.clustered(clustering)
          else Distributions.ordered(orders)
        override def requiredOrdering(): Array[SortOrder] = orders
        override def toBatch: BatchWrite =
          // with no declared sort order the required ordering is exactly
          // the spec's base columns, so each landed file is a sorted run
          // in the base-column order — the write-provenance fact the
          // commit records as FileStat.sorted (sort-free SPJ evidence);
          // a declared write.sort-order reorders by OTHER columns, so
          // the marker stays off
          { requirePlainAppendForIdentity()
            new GraftSqlBatchWrite(root, schema, queryId, doTruncate, terms,
              targetFileBytes, replaceRange, dynamicParts,
              specSorted = sortOrder.isEmpty,
              genExprs = writeGenExprs, idAssigns = writeIdAssigns) }
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          requireNoLedgerForStreaming()
          new GraftSqlStreamingWrite(root, schema, queryId, lineage, terms,
            targetFileBytes)
        }
      }
  }
}

/** The DSv2 STREAMING sink: each epoch's task files land as ONE append
  * commit whose props carry the `batch_id`/`lineage` replay gate — the
  * same in-log exactly-once discipline as
  * [[graft.streaming.Streams.foreachBatchTableAppend]], so a re-executed
  * epoch (restart, at-least-once delivery) commits nothing, and a sink
  * restarted under a DIFFERENT checkpoint lineage is refused rather
  * than silently deduped against the old lineage's epoch numbering. */
private class GraftSqlStreamingWrite(root: String, schema: StructType,
                                     queryId: String, lineage: String,
                                     specTerms: Seq[TableFormat.SpecTerm],
                                     targetFileBytes: Long)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val dataDirBase =
    s"$root/data/stream-$queryId-${java.util.UUID.randomUUID().toString}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftSqlStreamingWriterFactory(dataDirBase, schema, specTerms,
      new SerializableHadoopConf(
        SparkSession.active.sessionState.newHadoopConf()), targetFileBytes)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect {
      case GraftSqlWriteMessage(fs, n) if n > 0 => fs
    }.flatten.toSeq.sorted
    val cur = TableFormat.snapshot(spark, root)
    val streamWritten = cur.props.contains("batch_id")
    val storedLineage = cur.props.getOrElse("lineage", "")
    require(!streamWritten || storedLineage == lineage,
      s"graft-table sink: table at $root was written by checkpoint " +
        s"lineage '$storedLineage', this query runs '$lineage' — epoch " +
        "numbering is not comparable across lineages; target a fresh " +
        "table or resume the original checkpoint")
    val last = cur.props.get("batch_id").map(_.toLong).getOrElse(-1L)
    if (epochId > last && files.nonEmpty)
      TableFormat.appendFiles(spark, root, files, extraProps =
        Map("batch_id" -> epochId.toString, "lineage" -> lineage))
    // replayed or empty epoch: the table already reflects it — no commit
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new org.apache.hadoop.fs.Path(dataDirBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case GraftSqlWriteMessage(fls, _) => fls }.flatten
      .foreach(f => fs.delete(new org.apache.hadoop.fs.Path(f), false))
  }
}

private class GraftSqlStreamingWriterFactory(dataDirBase: String,
                                             schema: StructType,
                                             specTerms: Seq[TableFormat.SpecTerm],
                                             conf: SerializableHadoopConf,
                                             targetFileBytes: Long)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftSqlDataWriter(s"$dataDirBase/e$epochId",
      s"part-$partitionId-$taskId", schema, specTerms, conf.value,
      targetFileBytes)
}

private case class GraftSqlWriteMessage(files: Seq[String], nRows: Long)
  extends WriterCommitMessage

private class GraftSqlBatchWrite(root: String, schema: StructType,
                                 queryId: String, truncate: Boolean,
                                 specTerms: Seq[TableFormat.SpecTerm],
                                 targetFileBytes: Long,
                                 replaceRange: Option[(String, Long, Long)] = None,
                                 dynamicParts: Boolean = false,
                                 specSorted: Boolean = false,
                                 genExprs: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
                                 idAssigns: Seq[GraftGenerated.IdentityAssign] = Seq.empty)
    extends BatchWrite {

  // one data dir per write attempt: abort can sweep it wholesale, and a
  // re-attempted query never collides with its own earlier files
  private val dataDir =
    s"$root/data/sql-$queryId-${java.util.UUID.randomUUID().toString}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val base = new GraftSqlWriterFactory(dataDir, schema, specTerms,
      new SerializableHadoopConf(
        SparkSession.active.sessionState.newHadoopConf()), targetFileBytes)
    if (genExprs.isEmpty && idAssigns.isEmpty) base
    else new GraftGeneratingWriterFactory(base, schema, genExprs, idAssigns,
      info.numPartitions())
  }

  override def commit(rawMessages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // identity tasks wrap their message with the max assigned ordinal
    val messages = rawMessages.map {
      case GraftIdentityMessage(m, _) => m
      case m => m
    }
    val maxOrdinal = rawMessages.collect {
      case GraftIdentityMessage(_, mo) => mo
    }.foldLeft(-1L)(math.max)
    val files = messages.collect {
      case GraftSqlWriteMessage(fs, n) if n > 0 => fs
    }.flatten.toSeq.sorted
    // advance each identity watermark past the batch's assignments,
    // CAS-checked against the value the plan read: a concurrent
    // identity writer that committed first makes THIS commit refuse
    // (its values were drawn from a stale range and could collide)
    val idCas: Map[String, (Option[String], String)] =
      if (idAssigns.isEmpty || maxOrdinal < 0) Map.empty
      else idAssigns.map { a =>
        val c = schema.fields(a.fieldIndex).name
        (GraftGenerated.ColIdNextPrefix + c,
          (Some(a.next.toString),
            (a.next + (maxOrdinal + 1) * a.step).toString))
      }.toMap
    if (dynamicParts)
      // replace exactly the partition values present in the batch
      TableFormat.overwritePartitionsDynamic(spark, root, files,
        filesSorted = specSorted)
    else replaceRange match {
      case Some((c, lo, hi)) if lo <= hi =>
        TableFormat.replaceWhere(spark, root, s"$root/data", c, lo, hi, files,
          filesSorted = specSorted)
      case Some(_) =>
        // provably-empty scope: nothing is being replaced; the batch
        // (constrained to lie inside the scope) is necessarily empty too
        require(files.isEmpty,
          "graft SQL write: non-empty batch for a provably-empty " +
            "replace-where scope")
      case None =>
        if (truncate) TableFormat.overwriteFiles(spark, root, files,
          filesSorted = specSorted)
        else if (files.nonEmpty) TableFormat.appendFiles(spark, root, files,
          filesSorted = specSorted, propCas = idCas)
        // plain INSERT of zero rows: nothing to commit, table unchanged
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val p = new org.apache.hadoop.fs.Path(dataDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }
}

private class GraftSqlWriterFactory(dataDir: String, schema: StructType,
                                    specTerms: Seq[TableFormat.SpecTerm],
                                    conf: SerializableHadoopConf,
                                    targetFileBytes: Long)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftSqlDataWriter(dataDir, s"part-$partitionId-$taskId", schema,
      specTerms, conf.value, targetFileBytes)
}

/** Executor-side InternalRow → parquet writer over the parquet example
  * Group API. Files are created
  * lazily on the first row, so empty partitions contribute nothing to
  * the commit. Under a partition spec the writer ROLLS on the monotone
  * (identity/month/div) half of the routing key and keeps a
  * bucket-fan-out-bounded map for the bucket half — with the Write's
  * required range-distribution + ordering on the spec's base columns,
  * that is one file per live partition value per task, with at most
  * (declared bucket fan-out) writers open at any moment. */
private class GraftSqlDataWriter(dataDir: String, taskTag: String,
                                 schema: StructType,
                                 specTerms: Seq[TableFormat.SpecTerm],
                                 conf: org.apache.hadoop.conf.Configuration,
                                 targetFileBytes: Long = Long.MaxValue)
    extends DataWriter[InternalRow] {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.hadoop.util.HadoopOutputFile
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types => PTypes}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  /** Parquet type of one (possibly NESTED) column: leaf types as before,
    * STRUCT as a parquet group, ARRAY in the standard 3-level LIST
    * encoding (`optional group (LIST) { repeated group list { optional
    * element } }` — exactly what Spark's native writer emits, so the
    * catalog's files and `spark.read.parquet` files stay
    * interchangeable). Nesting composes arbitrarily (arrays of structs,
    * structs of arrays). MAP stays refused — the reference's data model
    * is array/struct-shaped (`lib:1470-1504` tags[]/attachments[]/
    * category{}), and a silent half-support would be worse than a loud
    * no. */
  private def parquetTypeOf(name: String, dt: DataType,
                            nullable: Boolean): Type = {
    val rep =
      if (nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
    dt match {
      case LongType => PTypes.primitive(INT64, rep).named(name)
      case IntegerType => PTypes.primitive(INT32, rep).named(name)
      case DoubleType => PTypes.primitive(DOUBLE, rep).named(name)
      case FloatType => PTypes.primitive(FLOAT, rep).named(name)
      case BooleanType => PTypes.primitive(BOOLEAN, rep).named(name)
      case StringType => PTypes.primitive(BINARY, rep)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      case DateType => PTypes.primitive(INT32, rep)
        .as(LogicalTypeAnnotation.dateType()).named(name)
      case TimestampType => PTypes.primitive(INT64, rep)
        .as(LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
      case d: DecimalType if d.precision <= 18 => PTypes.primitive(INT64, rep)
        .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(name)
      case BinaryType => PTypes.primitive(BINARY, rep).named(name)
      case ArrayType(et, containsNull) =>
        PTypes.buildGroup(rep).as(LogicalTypeAnnotation.listType())
          .addField(PTypes.repeatedGroup()
            .addField(parquetTypeOf("element", et, containsNull))
            .named("list"))
          .named(name)
      case st: StructType =>
        val g = PTypes.buildGroup(rep)
        st.fields.foreach(f =>
          g.addField(parquetTypeOf(f.name, f.dataType, f.nullable)))
        g.named(name)
      case MapType(kt, vt, valueContainsNull) =>
        // standard parquet MAP encoding (repeated key_value group,
        // required key — what Spark's native writer emits)
        PTypes.buildGroup(rep).as(LogicalTypeAnnotation.mapType())
          .addField(PTypes.repeatedGroup()
            .addField(parquetTypeOf("key", kt, nullable = false))
            .addField(parquetTypeOf("value", vt, valueContainsNull))
            .named("key_value"))
          .named(name)
      case dt => throw new UnsupportedOperationException(
        s"graft SQL write: unsupported column type ${dt.simpleString} " +
          s"for $name (supported: long/int/double/float/string/boolean/" +
          "date/timestamp/decimal(<=18)/binary, ARRAY, STRUCT, MAP)")
    }
  }

  private val msgType: MessageType = {
    val b = PTypes.buildMessage()
    schema.fields.foreach(f =>
      b.addField(parquetTypeOf(f.name, f.dataType, f.nullable)))
    b.named("graft_sql_write")
  }

  /** Appender for field `name` read from position `i` of any
    * `SpecializedGetters` (an `InternalRow` OR an `ArrayData` — the one
    * abstraction that lets struct fields and array elements share the
    * leaf writers). Resolved once per schema, recursive for nested
    * types; null checks happen at each level's call site. */
  private def getterAppender(name: String, dt: DataType)
      : (Group, org.apache.spark.sql.catalyst.expressions.SpecializedGetters, Int) => Unit =
    dt match {
      case LongType => (g, r, i) => g.add(name, r.getLong(i))
      case IntegerType => (g, r, i) => g.add(name, r.getInt(i))
      case DoubleType => (g, r, i) => g.add(name, r.getDouble(i))
      case FloatType => (g, r, i) => g.add(name, r.getFloat(i))
      case BooleanType => (g, r, i) => g.add(name, r.getBoolean(i))
      case StringType => (g, r, i) =>
        g.add(name, Binary.fromString(r.getUTF8String(i).toString))
      case DateType => (g, r, i) => g.add(name, r.getInt(i))
      case TimestampType => (g, r, i) => g.add(name, r.getLong(i))
      case d: DecimalType => (g, r, i) =>
        g.add(name, r.getDecimal(i, d.precision, d.scale).toUnscaledLong)
      case BinaryType => (g, r, i) =>
        g.add(name, Binary.fromConstantByteArray(r.getBinary(i)))
      case ArrayType(et, _) =>
        val elem = getterAppender("element", et)
        (g, r, i) => {
          val arr = r.getArray(i)
          val lst = g.addGroup(name)
          var j = 0
          while (j < arr.numElements()) {
            // one `list` repetition per element; a null element is the
            // repetition with its optional `element` field absent
            val holder = lst.addGroup("list")
            if (!arr.isNullAt(j)) elem(holder, arr, j)
            j += 1
          }
        }
      case st: StructType =>
        val subs = st.fields.map(f => getterAppender(f.name, f.dataType))
        val n = st.fields.length
        (g, r, i) => {
          val row = r.getStruct(i, n)
          val sub = g.addGroup(name)
          var j = 0
          while (j < n) {
            if (!row.isNullAt(j)) subs(j)(sub, row, j)
            j += 1
          }
        }
      case MapType(kt, vt, _) =>
        val keyApp = getterAppender("key", kt)
        val valApp = getterAppender("value", vt)
        (g, r, i) => {
          val m = r.getMap(i)
          val keys = m.keyArray(); val vals = m.valueArray()
          val mg = g.addGroup(name)
          var j = 0
          while (j < m.numElements()) {
            // one key_value repetition per entry; a null value is the
            // repetition with its optional `value` field absent (keys
            // are never null by Spark's map contract)
            val kv = mg.addGroup("key_value")
            keyApp(kv, keys, j)
            if (!vals.isNullAt(j)) valApp(kv, vals, j)
            j += 1
          }
        }
      case dt => throw new UnsupportedOperationException(dt.simpleString)
    }

  // per-field appenders resolved once, not per row
  private val appenders: Array[(Group, InternalRow, Int) => Unit] =
    schema.fields.map { f =>
      val a = getterAppender(f.name, f.dataType)
      (g: Group, r: InternalRow, i: Int) => a(g, r, i)
    }

  /** Routing value of one spec term from the row's INTERNAL
    * representation (dates = epoch days, timestamps = epoch micros). */
  private def routerOf(t: TableFormat.SpecTerm): InternalRow => String = {
      val i = schema.fieldIndex(t.baseCol)
      val dt = schema.fields(i).dataType
      def days(r: InternalRow): Long = dt match {
        case DateType => r.getInt(i).toLong
        case TimestampType => Math.floorDiv(r.getLong(i), 86400000000L)
        case _ => throw new UnsupportedOperationException(
          s"month() over ${dt.simpleString}")
      }
      def zl(r: InternalRow): Long = dt match {
        case LongType => r.getLong(i)
        case IntegerType | DateType => r.getInt(i).toLong
        case TimestampType => r.getLong(i)
        case _ => throw new UnsupportedOperationException(
          s"div() over ${dt.simpleString}")
      }
      t match {
        case TableFormat.IdentityTerm(_) => r =>
          if (r.isNullAt(i)) "null" else String.valueOf(r.get(i, dt))
        case TableFormat.MonthTerm(_) => r =>
          if (r.isNullAt(i)) "null"
          else java.time.LocalDate.ofEpochDay(days(r))
            .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM"))
        case TableFormat.DivTerm(_, w) => r =>
          if (r.isNullAt(i)) "null" else Math.floorDiv(zl(r), w).toString
        case TableFormat.BucketTerm(_, n) => r =>
          if (r.isNullAt(i)) "null" else Math.floorMod(zl(r), n).toString
      }
    }

  // the routing key is SPLIT by term kind — the two halves have opposite
  // lifecycles under the Write's required ordering (see below)
  private val monotoneRouters: Array[InternalRow => String] =
    specTerms.toArray.filterNot(_.isInstanceOf[TableFormat.BucketTerm])
      .map(routerOf)
  private val bucketRouters: Array[InternalRow => String] =
    specTerms.toArray.filter(_.isInstanceOf[TableFormat.BucketTerm])
      .map(routerOf)

  private val factory = new SimpleGroupFactory(msgType)
  // Writer lifecycle — an open ParquetWriter holds its full row-group
  // buffers, so "how many stay open" IS the task's memory bound:
  //  - the MONOTONE half of the key (identity/month/div terms): the
  //    Write's required ordering makes it non-returning per task, so a
  //    change CLOSES EVERY open writer (that run of values is exhausted
  //    and can never come back) — an identity spec on a high-cardinality
  //    column or a decade of months holds one run's writers at a time,
  //    never one per distinct value seen;
  //  - the BUCKET half: floorMod values interleave under every sort
  //    order (rolling on change would emit one file per ROW), so within
  //    one monotone run writers live in a map keyed by the bucket
  //    values. Its size is bounded by the DECLARED bucket fan-out
  //    (product of the spec's bucket counts) — an explicit, user-chosen
  //    bound, the same one Iceberg's bucket transform carries. An LRU
  //    cap would be wrong here: cyclically revisited bucket values would
  //    evict exactly the writer needed next and explode the file count.
  //  - the SIZE dimension is orthogonal to both: when the open file's
  //    buffered+written bytes reach `targetFileBytes` (the
  //    write.target-file-size-bytes table property, Iceberg's default
  //    512 MB), the writer ROLLS that one file — close, drop from the
  //    map, next row of the same routing key opens a fresh file. This
  //    is what bounds a SKEWED partition value: clustered distribution
  //    sends the whole value to one task, and without the roll that
  //    task would write one unbounded file. Rolled files still hold a
  //    single partition value, so recorded tuples stay pure. The size
  //    probe runs every [[RollCheckRows]] rows (getDataSize walks the
  //    column writers — cheap, but not per-row cheap).
  private val open =
    scala.collection.mutable.LinkedHashMap.empty[String, ParquetWriter[Group]]
  private var lastMono: String = null
  private var lastBucket: String = null
  private var lastWriter: ParquetWriter[Group] = null
  private var fileSeq = 0
  private val written = Seq.newBuilder[String]
  private var nRows = 0L
  private val RollCheckRows = 64
  private var rowsSinceRollCheck = 0

  private def newWriter(): ParquetWriter[Group] = {
    val file = s"$dataDir/$taskTag-$fileSeq.parquet"
    fileSeq += 1
    written += file
    ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
      .withConf(conf)
      .withType(msgType)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
  }

  override def write(row: InternalRow): Unit = {
    val mono =
      if (monotoneRouters.isEmpty) ""
      else monotoneRouters.map(_(row)).mkString("/")
    if (mono != lastMono) {
      // run boundary: every writer of the previous run is exhausted.
      // (Keyed on the MONO value, not lastWriter — a size roll nulls
      // lastWriter without ending the run, and must not close the
      // other bucket writers of the same run.)
      closeAll()
      lastMono = mono
      lastBucket = null
    }
    val bucket =
      if (bucketRouters.isEmpty) ""
      else bucketRouters.map(_(row)).mkString("/")
    if (lastWriter == null || bucket != lastBucket) {
      lastWriter = open.getOrElseUpdate(bucket, newWriter())
      lastBucket = bucket
    }
    val g = factory.newGroup()
    var i = 0
    while (i < appenders.length) {
      if (!row.isNullAt(i)) appenders(i)(g, row, i)
      i += 1
    }
    lastWriter.write(g)
    nRows += 1
    rowsSinceRollCheck += 1
    if (rowsSinceRollCheck >= RollCheckRows) {
      rowsSinceRollCheck = 0
      // probe EVERY open writer, not just the current one — under
      // interleaved bucket routing the writer that crossed the target
      // is rarely the one the probe row landed in
      val full = open.iterator.filter(_._2.getDataSize >= targetFileBytes)
        .map(_._1).toList
      full.foreach { k =>
        open.remove(k).foreach(_.close())
        if (k == lastBucket) {
          lastWriter = null
          lastBucket = null // force the re-fetch; same key opens a fresh file
        }
      }
    }
  }

  private def closeAll(): Unit = {
    lastWriter = null
    open.values.foreach(_.close())
    open.clear()
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    GraftSqlWriteMessage(written.result(), nRows)
  }

  override def abort(): Unit = {
    closeAll()
    val fs = new org.apache.hadoop.fs.Path(dataDir).getFileSystem(conf)
    written.result().foreach(f =>
      fs.delete(new org.apache.hadoop.fs.Path(f), false))
  }

  override def close(): Unit = ()
}
