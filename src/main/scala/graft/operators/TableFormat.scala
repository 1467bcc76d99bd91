package graft.operators

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.longlong.Roaring64Bitmap

import graft.functions.BloomUtil
import graft.sources.Parquet

/** Unified table-format metadata layer — the single-log composition of the
  * three capabilities the round-9 entries proved separately: version-log
  * time travel (q82), zone-map file skipping (q72), and bloom-manifest
  * targeted delete (q73). One APPEND-ONLY commit log under `<root>/_log/`,
  * one commit FILE per version (never a rewritten whole-log), each commit
  * carrying the complete live file set WITH its per-file statistics
  * (zone min/max, row count, bloom bitset), so a reader resolves the log
  * ONCE and then has everything: the as-of file set, the range-pruning
  * zones, and the point-lookup blooms. This is the minimal sound form of
  * the Iceberg/Delta metadata contract (reference analog: the watermark /
  * control-state discipline of `MonarchMoneyMain-v3.py:1217-1225,1335-1337`
  * generalized from one scalar to a full snapshot).
  *
  * Concurrency: commits are OPTIMISTIC. A writer resolves the latest
  * snapshot, computes its new file set, and publishes version v+1
  * through the table's [[CommitLog]] (staged, then renamed with no
  * overwrite, so two racers to the same version cannot both win).
  * [[commitTransform]] wraps the whole read-compute-publish cycle in the
  * log's retry loop: the loser re-resolves the NEW snapshot and
  * re-derives its change against it, which is what makes concurrent
  * compaction + delete serialize correctly (proven in TableFormatSpec).
  *
  * Snapshot isolation falls out of immutability: a rewrite commits NEW
  * files and never touches old ones, so any reader pinned to an older
  * snapshot keeps reading exactly the bytes that snapshot listed,
  * concurrent committers notwithstanding.
  *
  * Scale shape: the log is file-count-sized metadata — resolving a
  * snapshot is one directory listing plus one small JSON read, no Spark
  * job. Per-file stats are computed with ONE distributed aggregate per
  * commit (`input_file_name`-keyed, file-count output — the
  * [[Layout.buildManifest]] posture) and collected as a bounded control
  * read. Data reads are always explicit file lists from the snapshot, so
  * zone pruning happens before any data IO.
  */
object TableFormat {

  /** Per-file statistics carried in every commit: zone bounds and row count
    * of the (long-typed) table key, plus the md5-double-hashed bloom bitset
    * of the key's string form ([[graft.Functions.bloom_agg]] layout), plus
    * OPTIONAL secondary zone bounds for the table's declared `zoneCols`
    * (the Iceberg per-column lower/upper metrics shape, long-typed like
    * the key) — what lets a scan prune on a non-key dimension (time,
    * size, score) without any partitioning scheme.
    *
    * `nulls` records the NULL COUNT per stats column (the key and every
    * declared zone column) — the Iceberg null_value_counts metric, and
    * the piece min/max bounds cannot carry: a file whose non-null values
    * all fall inside a delete range may still hold null rows the bounds
    * cannot see, so metadata-only whole-file operations ([[deleteWhere]]
    * drops, [[countRange]] metadata counts) require a RECORDED ZERO here
    * before trusting bounds alone. A column absent from the map (commits
    * written before null counts) means UNKNOWN — always treated as
    * possibly-null, never as null-free. A file whose stats column is
    * entirely null carries NO bounds for it (`zones` omits the column;
    * an all-null KEY records the conservative full-range sentinel). */
  final case class FileStat(file: String, minKey: Long, maxKey: Long,
                            nRows: Long, bloom: Array[Long],
                            zones: Map[String, (Long, Long)] = Map.empty,
                            seq: Long = -1L,
                            kmv: Seq[Long] = Seq.empty,
                            nulls: Map[String, Long] = Map.empty,
                            bytes: Long = -1L,
                            part: Option[(String, Seq[Long])] = None,
                            sorted: Boolean = false,
                            kmvs: Map[String, Seq[Long]] = Map.empty,
                            dv: Option[(String, Long)] = None,
                            blooms: Map[String, Array[Long]] = Map.empty,
                            rid: Long = -1L,
                            ridCol: Boolean = false) {
    /** True iff the file PROVABLY holds no null in `col` (recorded zero;
      * unknown — pre-null-stats commits — is not proof). */
    def nullFree(col: String): Boolean = nulls.get(col).contains(0L)

    /** Live row count — raw rows minus the deletion vector's masked
      * positions. EXACT: the vector is bound to this exact immutable
      * file, positions are distinct by construction (bitmap), and a
      * rewrite drops the vector with the file. */
    def liveRows: Long = nRows - dv.map(_._2).getOrElse(0L)
  }
  // `blooms` carries SECONDARY-COLUMN bloom bitsets for the zone
  // columns named by the `bloom.cols` table property, hashed over the
  // column's zone-long image as a base-10 string (the same value space
  // the pushed-filter probes translate into): a point lookup on a
  // high-cardinality NON-KEY column (user_id in a time-keyed event
  // table) prunes files whose wide time-range bounds could never — the
  // q130 IN/= pruning, extended past the key. A column absent from the
  // map (pre-declaration commits, non-bloomed zones) simply doesn't
  // prune by membership; bounds still apply.
  //
  // `dv` is the file's DELETION VECTOR — the POSITIONAL delete shape
  // (Delta's deletion vectors / Iceberg's positional deletes) next to
  // copy-on-write rewrites and equality-delete manifests: a sidecar
  // holding a roaring bitmap of DELETED ROW ORDINALS (file-absolute,
  // 0-based parquet row positions) plus its cardinality. The vector
  // binds to THIS immutable file: rewrites (compaction, boundary
  // complements, materialization) emit fresh files and drop it; a
  // later positional delete MERGES bitmaps into a new sidecar (the
  // FileStat in the new commit points at the union — old versions keep
  // the old sidecar, so time travel is exact). Masked reads become a
  // per-batch ordinal skip — no key hash-probe, no join — and
  // `liveRows` is exact metadata arithmetic, unlike an equality
  // manifest whose overlap with any one file is unknown.
  //
  // `kmvs` carries one KMV distinct-value sketch PER DECLARED ZONE
  // COLUMN (the key's sketch stays in `kmv`), hashed over the column's
  // zone-long image as a base-10 string — what gives the SQL scan's
  // columnStats() an NDV for every stats column, which is exactly what
  // Catalyst's cost-based join reorder needs on the FACT side's foreign
  // keys (a star query's join keys are zone columns, not the table
  // key). An EMPTY sketch is a recorded fact (the file's column is
  // all-null); a column ABSENT from the map is unknown (pre-sketch
  // commit) and the per-column estimate is withheld, never guessed.
  //
  // `sorted` is a WRITE-PROVENANCE marker, not a measured statistic: true
  // only when the file was produced by a write whose REQUIRED ORDERING
  // sorted rows by the partition spec's base columns (the routed SQL
  // write path under RequiresDistributionAndOrdering, with no
  // write.sort-order overriding the base-column order). Tuple purity
  // alone can NOT prove sortedness — recluster repartitions without a
  // sort, bin-packing concatenates sorted runs, and boundary rewrites
  // re-emit filtered rows — so maintenance rewrites DROP the marker
  // (fileStats defaults it false) and the SQL scan reports
  // outputOrdering (sort-free SPJ) only when every surviving file
  // carries it. A falsely-reported ordering would let a sort-merge join
  // elide its sorts and silently return wrong rows; a dropped marker
  // merely costs the join a re-sort. Commits written before the marker
  // parse as false — conservative in the same direction.
  //
  // `part` is the file's PARTITION TUPLE — the Iceberg manifest shape:
  // when every row of the file maps to ONE value per spec term (pure,
  // null-free — what the routing writers produce), the tuple is recorded
  // as the terms' long images TOGETHER WITH the spec string it was
  // computed under. A later spec evolution makes stored tuples
  // self-invalidating (the strings differ), so a consumer can never
  // group files by a stale layout. None = mixed/unknown (pre-r13
  // commits, compacted files, non-routed appends) — consumers that need
  // co-location (storage-partitioned joins) simply don't engage.

  /** Sketch size for the per-file KMV distinct-key sketches carried in
    * commit stats (64 longs per file in the commit JSON — bounded
    * metadata; merged sketches estimate within ~1/sqrt(k-1) ≈ 13%). */
  val KmvStatsK = 64

  /** A merge-on-read DELETE MANIFEST (Iceberg v2's equality-delete file):
    * a parquet file of `_del_key` longs committed WITHOUT rewriting any
    * data file. `seq` is the commit version that published the manifest;
    * it applies only to data files with a strictly smaller `seq`, so a
    * key re-appended AFTER the delete is visible (the Iceberg sequence-
    * number rule). `seq = -1` means "stamp me with the committing
    * version" ([[tryCommit]] does), same convention as [[FileStat.seq]].
    * `minKey`/`maxKey` bound the manifest's key range (computed in the
    * same bounded aggregate as the key counts) — what lets
    * [[materializeDeletes]] pick its rewrite set with pure driver
    * arithmetic; the defaults mean "unknown: overlaps everything"
    * (conservative, and what pre-bounds commits parse as). */
  final case class DeleteFile(file: String, nKeys: Long, seq: Long = -1L,
                              minKey: Long = Long.MinValue,
                              maxKey: Long = Long.MaxValue)

  /** A resolved snapshot: the complete live file set (with stats) of one
    * committed version, plus the commit's PROPERTIES — small string pairs
    * carried forward by maintenance commits (the Iceberg snapshot-summary
    * shape). The streaming append sink stores its replay gate here
    * (`batch_id`, `lineage`), so exactly-once ingest derives from the log
    * itself instead of a side channel of marker files. `op` is the
    * PER-COMMIT operation kind ("append", "delete", "merge", "replace",
    * "rollback" — Iceberg's snapshot-summary `operation`): unlike props it
    * is NEVER carried forward, because it states what THIS commit did.
    * [[changesBetween]] keys on it — a "replace" commit is
    * content-preserving by contract, so the changelog reader skips its
    * file churn without any data IO. Immutable — safe to hold across
    * concurrent commits (snapshot isolation). */
  final case class Snapshot(root: String, version: Long, keyCol: String,
                            numBits: Int, numHashes: Int, files: Seq[FileStat],
                            props: Map[String, String] = Map.empty,
                            schemaDdl: Option[String] = None,
                            op: Option[String] = None,
                            zoneCols: Seq[String] = Seq.empty,
                            deletes: Seq[DeleteFile] = Seq.empty)

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ---- per-file statistics (one distributed aggregate, metadata-out) ----

  /** Canonical long form of a column for ZONE ARITHMETIC: integral
    * columns cast directly, DATE maps to days since epoch, TIMESTAMP to
    * micros since epoch (both total orders, so min/max bounds and range
    * predicates translate exactly), floating types truncate (bounds stay
    * conservative — trunc is monotone). The same mapping is applied to
    * pushed filter values by the SQL catalog, so stats and probes always
    * live in one space. */
  def zoneLong(dt: org.apache.spark.sql.types.DataType,
               c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dt match {
      case org.apache.spark.sql.types.DateType => unix_date(c).cast("long")
      case org.apache.spark.sql.types.TimestampType => unix_micros(c)
      case _ => c.cast("long")
    }

  /** Canonical DECODED URI-path form of a file reference — the ONE
    * comparison space for file identity across the format. Two path
    * conventions reach comparisons: driver-built / `Path`-listed strings
    * (already decoded; the `Path.toUri.getPath` round trip just strips
    * scheme/authority) and READER renderings (`input_file_name`,
    * `_metadata.file_path` — URL-ENCODED URI strings; a residual %XX
    * after the Path round trip marks one, decoded here by a URI parse).
    * Every comparison site MUST normalize both sides through this —
    * a round-14 advisory found one site joining the encoded rendering
    * against the decoded form, silently losing every row under a
    * space/non-ASCII warehouse path. A literal '%' inside an actual
    * file NAME is ambiguous under this rule (the ambiguity every
    * `input_file_name` consumer carries); the format's writers never
    * produce one. */
  def uriPathOf(s: String): String = {
    val raw = new org.apache.hadoop.fs.Path(s).toUri.getPath
    if (raw.indexOf('%') < 0) raw
    else try new java.net.URI(raw).getPath
    catch { case _: java.net.URISyntaxException => raw }
  }

  /** Decode a READER rendering (`input_file_name` /
    * `_metadata.file_path` — URL-encoded URI strings) into the STORED
    * form (decoded, scheme-preserving `Path.toString`) — applied at the
    * moment a reader rendering is about to be RECORDED in a commit, so
    * stored paths are always directly openable by `new Path(...)` /
    * `spark.read.parquet` (an encoded rendering is NOT: its %XX bytes
    * read as literal path characters). */
  def decodeRendering(s: String): String =
    try new org.apache.hadoop.fs.Path(new java.net.URI(s)).toString
    catch { case _: java.net.URISyntaxException => s }

  /** Compute [[FileStat]]s for an explicit parquet file list: ONE
    * file-keyed aggregate (min/max/count + bloom), output one row per
    * file — a bounded control read by construction. `keyCol` must be
    * integral (cast to long for zones; hashed as its base-10 string for
    * the bloom, matching `bloom_contains` probes on the long column).
    * Zone columns may additionally be DATE/TIMESTAMP ([[zoneLong]]).
    * When `spec` names the table's partition layout, the same aggregate
    * also derives each file's PARTITION TUPLE (per-term min/max of the
    * routing value — min==max and null-free proves purity) recorded as
    * [[FileStat.part]]; a mixed or null-holding file records None.
    * `data` is the caller's own read of exactly `files` when it has one
    * (its schema is then not inferred a second time). */
  def fileStats(spark: SparkSession, files: Seq[String], keyCol: String,
                numBits: Int, numHashes: Int,
                zoneCols: Seq[String] = Seq.empty,
                spec: Option[String] = None,
                bloomCols: Seq[String] = Seq.empty,
                data: Option[DataFrame] = None): Seq[FileStat] = {
    require(files.nonEmpty, "fileStats: empty file list")
    require(bloomCols.forall(zoneCols.contains),
      s"fileStats: bloom.cols must name declared zone columns " +
        s"(got ${bloomCols.mkString(",")}; zones ${zoneCols.mkString(",")})")
    val df = data.getOrElse(Parquet.read(spark, files: _*))
    val schema = df.schema
    def zl(c: String) = zoneLong(schema(c).dataType, col(c))
    // secondary blooms hash the ZONE-LONG image's base-10 string — the
    // exact space pushed-filter probes translate values into
    val bloomAggs = bloomCols.map(c =>
      graft.Functions.bloom_agg(zl(c), numBits, numHashes)
        .as(s"zbloom_$c"))
    val zoneAggs = zoneCols.flatMap(c => Seq(
      min(zl(c)).as(s"zmin_$c"),
      max(zl(c)).as(s"zmax_$c"),
      count(when(col(c).isNull, lit(1))).as(s"znull_$c"),
      // per-zone-column KMV over the zone-long image's string form (the
      // same value space as the bounds, so DATE/TIMESTAMP sketch their
      // epoch images) — the NDV source for CBO join estimation on
      // non-key join columns; nulls are skipped by the sketch itself
      graft.Functions.kmv_sketch(zl(c).cast("string"), KmvStatsK)
        .as(s"zkmv_$c")))
    // spec terms are derivable only when every base column is present in
    // the files (a schema-evolution edge keeps part=None, never a guess)
    val specTerms: Seq[SpecTerm] = spec.map(parseSpec).getOrElse(Seq.empty)
    val specUsable = specTerms.nonEmpty &&
      specTerms.forall(t => schema.fieldNames.contains(t.baseCol))
    val partAggs =
      if (!specUsable) Seq.empty
      else specTerms.zipWithIndex.flatMap { case (t, i) =>
        val tl = termLong(t, schema)
        Seq(min(tl).as(s"pmin_$i"), max(tl).as(s"pmax_$i"),
          count(when(col(t.baseCol).isNull, lit(1))).as(s"pnull_$i"))
      }
    val aggs = Seq(
      min(col(keyCol).cast("long")).as("min_key"),
      max(col(keyCol).cast("long")).as("max_key"),
      count(lit(1)).as("n_rows"),
      count(when(col(keyCol).isNull, lit(1))).as("null_key"),
      graft.Functions.bloom_agg(col(keyCol), numBits, numHashes).as("bloom")) ++
      zoneAggs ++ partAggs ++ bloomAggs :+
      graft.Functions.kmv_sketch(col(keyCol).cast("string"), KmvStatsK).as("kmv")
    df.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        def longAt(name: String): Long = r.getLong(r.fieldIndex(name))
        def longOpt(name: String): Option[Long] = {
          val i = r.fieldIndex(name)
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        }
        // an all-null stats column yields NULL aggregates: the zone map
        // OMITS the column (downstream treats missing bounds as
        // unknown-overlaps-everything), and an all-null KEY records the
        // conservative full-range sentinel — never a getLong NPE
        val zones = zoneCols.flatMap { c =>
          (longOpt(s"zmin_$c"), longOpt(s"zmax_$c")) match {
            case (Some(mn), Some(mx)) => Some(c -> ((mn, mx)))
            case _ => None
          }
        }.toMap
        val nulls = (zoneCols.map(c => c -> longAt(s"znull_$c")) :+
          (keyCol -> longAt("null_key"))).toMap
        val kmvs = zoneCols.map { c =>
          val i = r.fieldIndex(s"zkmv_$c")
          c -> (if (r.isNullAt(i)) Seq.empty[Long] else r.getSeq[Long](i).toSeq)
        }.toMap
        val zblooms = bloomCols.map { c =>
          c -> r.getSeq[Long](r.fieldIndex(s"zbloom_$c")).toArray
        }.toMap
        // input_file_name renders URL-ENCODED: decode before RECORDING,
        // or a space/non-ASCII warehouse path commits an unopenable name
        FileStat(decodeRendering(r.getString(r.fieldIndex("file"))),
          longOpt("min_key").getOrElse(Long.MinValue),
          longOpt("max_key").getOrElse(Long.MaxValue),
          longAt("n_rows"),
          r.getSeq[Long](r.fieldIndex("bloom")).toArray, zones,
          kmv = r.getSeq[Long](r.fieldIndex("kmv")),
          nulls = nulls,
          kmvs = kmvs,
          blooms = zblooms,
          // on-disk size recorded at stats time (one driver-side status
          // call per NEWLY COMMITTED file — the file was just read
          // wholesale for the aggregate, the RPC is noise): what lets
          // the SQL scan report honest sizeInBytes, so Catalyst's
          // broadcast decisions see the table's true footprint instead
          // of the never-broadcast default
          bytes = statusOf(r.getString(r.fieldIndex("file")),
            spark.sparkContext.hadoopConfiguration),
          part =
            if (!specUsable) None
            else {
              val probes = specTerms.indices.map(i =>
                (longOpt(s"pmin_$i"), longOpt(s"pmax_$i"),
                  longAt(s"pnull_$i")))
              if (probes.forall { case (mn, mx, nn) =>
                    mn.isDefined && mn == mx && nn == 0L })
                Some((spec.get, probes.map(_._1.get)))
              else None
            })
      }
      .sortBy(_.file).toSeq
  }

  /** LONG image of one spec term over the file's rows — the exact value
    * space the routing writers partition by (identity = [[zoneLong]],
    * month = months since 1970 over the UTC day, div = floor division,
    * bucket = floorMod), bijective with the writers' routing strings —
    * so per-file min == max proves the file holds ONE partition value.
    * Division mirrors [[specValue]]'s double floor (exact for |values|
    * < 2^53 — every realistic date/timestamp/key). */
  private def termLong(term: SpecTerm,
                       schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column = {
    val dt = schema(term.baseCol).dataType
    val zl = zoneLong(dt, col(term.baseCol))
    term match {
      case IdentityTerm(_) => zl
      case MonthTerm(c) =>
        val d = dt match {
          case org.apache.spark.sql.types.DateType => col(c)
          case org.apache.spark.sql.types.TimestampType =>
            // the writers derive the UTC epoch day with floorDiv — NOT
            // the session-zone year()/month() on the raw timestamp
            date_from_unix_date(
              floor(zl / lit(86400000000L)).cast("int"))
          case other => throw new UnsupportedOperationException(
            s"month($c) over ${other.simpleString}")
        }
        ((year(d) - 1970) * 12 + month(d) - 1).cast("long")
      case DivTerm(_, w) => floor(zl / w).cast("long")
      case BucketTerm(_, n) => pmod(zl, lit(n)).cast("long")
    }
  }

  /** Length of one file, -1 when the status call fails (stat stays
    * UNKNOWN — estimation falls back, a commit never fails over a size
    * probe). Hadoop caches FileSystem instances, so this is one RPC. */
  private def statusOf(file: String,
                       conf: org.apache.hadoop.conf.Configuration): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(file)
      p.getFileSystem(conf).getFileStatus(p).getLen
    } catch { case _: Exception => -1L }

  /** METADATA-ONLY approximate distinct-key count — union the per-file
    * KMV sketches every commit carries and estimate from the merged
    * bottom-k (Iceberg's `ndv` metrics / Trino's stats-based
    * `approx_distinct` pushdown): zero data IO, O(files × k) driver
    * arithmetic, and EXACT mergeability — the global k smallest distinct
    * hashes are contained in the union of per-file k smallest, so the
    * merged sketch is bit-identical to a single pass over the table.
    * Honesty contract as [[statsSummary]]: refuses under pending
    * merge-on-read manifests (masked keys would inflate the estimate)
    * and on pre-sketch commits, rather than guessing. Exact below k
    * distinct keys (the sketch holds them all). */
  def approxDistinctKeys(snap: Snapshot): Double = {
    require(snap.deletes.isEmpty,
      "approxDistinctKeys: merge-on-read manifests pending — materialize " +
        "deletes first (masked keys would inflate the metadata estimate)")
    require(snap.files.forall(_.dv.isEmpty),
      "approxDistinctKeys: deletion vectors pending — materialize " +
        "deletes first (masked keys would inflate the metadata estimate)")
    if (snap.files.isEmpty) return 0.0
    require(snap.files.forall(_.kmv.nonEmpty),
      "approxDistinctKeys: commit stats predate KMV sketches — rewrite or " +
        "recommit the affected files")
    approxDistinctOf(snap.files).get
  }

  /** Merged-KMV distinct-key estimate over an explicit FILE SUBSET (the
    * scan's pruned survivors, a compaction bin) — None when any file
    * predates the sketches (never guess). Same exact-mergeability
    * argument as [[approxDistinctKeys]]. */
  def approxDistinctOf(files: Seq[FileStat]): Option[Double] = {
    if (files.isEmpty) return Some(0.0)
    if (!files.forall(_.kmv.nonEmpty)) return None
    val buf = new graft.functions.KmvBuffer(KmvStatsK)
    files.foreach(_.kmv.foreach(buf.offer))
    Some(buf.estimate)
  }

  /** Merged-KMV distinct estimate for a ZONE COLUMN over a file subset —
    * None when any file predates the per-column sketches (`kmvs` entry
    * absent = unknown; an empty entry is a recorded all-null column and
    * merges as zero values). What the SQL scan reports as the column's
    * `distinctCount` to Catalyst's cost-based join reorder. */
  def approxDistinctZone(files: Seq[FileStat], col: String): Option[Double] = {
    if (files.isEmpty) return Some(0.0)
    if (!files.forall(_.kmvs.contains(col))) return None
    val buf = new graft.functions.KmvBuffer(KmvStatsK)
    files.foreach(_.kmvs(col).foreach(buf.offer))
    Some(buf.estimate)
  }

  // ---- deletion vectors (positional deletes) ------------------------------

  /** Write a deletion-vector sidecar: the roaring bitmap's portable
    * serialization, staged and renamed ([[CommitLog.publish]]) so a
    * crashed writer never leaves a half-written sidecar a commit could
    * reference. Returns the bitmap's cardinality (the `dv_rows` the
    * commit records). */
  def writeDv(conf: org.apache.hadoop.conf.Configuration, path: String,
              bm: org.roaringbitmap.longlong.Roaring64Bitmap): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!CommitLog.publish(conf, p, p.getParent,
        out => bm.serialize(new java.io.DataOutputStream(out)), overwrite = false))
      throw new IllegalStateException(s"writeDv: a sidecar already exists at $path")
    bm.getLongCardinality
  }

  /** Read a deletion-vector sidecar back. Used on the driver (merging,
    * changelog diffs) and once per task by the catalog readers — the
    * sidecar is O(deleted rows) small by design. */
  def readDv(conf: org.apache.hadoop.conf.Configuration,
             path: String): org.roaringbitmap.longlong.Roaring64Bitmap = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = new java.io.DataInputStream(p.getFileSystem(conf).open(p))
    val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
    try bm.deserialize(in) finally in.close()
    bm
  }

  /** Read files RAW — no masks applied — under the snapshot's own
    * SCHEMA when the commit carries one (by-name resolution: files
    * written before a column existed read it as NULL or its initial
    * default). A column-mapped table reads one group per rename ERA
    * under that era's physical names, renamed back positionally —
    * rewrites (compact/recluster) then WRITE the current names, so
    * maintenance naturally migrates files out of old eras. `withPos`
    * prepends each row's source path (`__file`, `_metadata.file_path` —
    * the reader's URI rendering; compare in URI-path form) and
    * FILE-ABSOLUTE ORDINAL (`__pos`, `_metadata.row_index`): the
    * positional-delete writer, the masked scan and the changelog's DV
    * diff all anchor on raw ordinals. `withIdCol` appends the
    * materialized id column [[IdColName]]. */
  private def scanFiles(spark: SparkSession, snap: Snapshot,
                        files: Seq[String], withPos: Boolean,
                        withIdCol: Boolean = false): DataFrame = {
    // the materialized id column reads by name (null-filled when the
    // file predates it) and is NEVER era-mapped (synth-adjacent name)
    def plusId(s: org.apache.spark.sql.types.StructType) =
      if (!withIdCol) s
      else org.apache.spark.sql.types.StructType(s.fields :+
        org.apache.spark.sql.types.StructField(IdColName,
          org.apache.spark.sql.types.LongType))
    def named(df: DataFrame, names: Seq[String]): DataFrame =
      if (withPos)
        df.select(col("_metadata.file_path") +: col("_metadata.row_index") +:
            df.columns.toSeq.map(col): _*)
          .toDF("__file" +: "__pos" +: names: _*)
      else if (df.columns.toSeq == names) df
      else df.toDF(names: _*)
    snap.schemaDdl match {
      case Some(ddl) =>
        // default metadata rides the read schema: a maintenance rewrite
        // of a pre-born file must MATERIALIZE the initial default, not
        // NULL (withDefaultMetadata is declared below)
        val schema = withDefaultMetadata(
          org.apache.spark.sql.types.StructType.fromDDL(ddl), snap.props)
        val eras =
          if (!hasColumnMapping(snap.props)) Seq(schema -> files)
          else {
            val seqOf = snap.files.map(f => f.file -> f.seq).toMap
            files.groupBy(f => physicalSchemaOf(snap.props, schema,
                seqOf.getOrElse(f, Long.MaxValue)))
              .toSeq.sortBy(_._2.head)
          }
        eras.map { case (phys, group) =>
          named(spark.read.schema(plusId(phys)).parquet(group: _*),
            plusId(schema).fieldNames.toSeq)
        }.reduce(_.unionByName(_))
      case None =>
        val df =
          if (!withIdCol) Parquet.read(spark, files: _*)
          else {
            val base = Parquet.schema(spark, files: _*)
            val s =
              if (base.fieldNames.contains(IdColName)) base else plusId(base)
            spark.read.schema(s).parquet(files: _*)
          }
        named(df, df.columns.toSeq)
    }
  }

  // ---- commit protocol ---------------------------------------------------

  /** Serialize a commit to its JSON form (schema versioned by the layer;
    * bloom words base64 big-endian so the artifact is engine-portable). */
  private def renderCommit(version: Long, keyCol: String, numBits: Int,
                           numHashes: Int, files: Seq[FileStat],
                           props: Map[String, String],
                           schemaDdl: Option[String],
                           op: Option[String],
                           zoneCols: Seq[String],
                           deletes: Seq[DeleteFile]): String = {
    val sb = new StringBuilder
    // full JSON string escaping: a commit property, schema DDL, or CHECK
    // predicate may carry newlines/tabs (multi-line SQL) — an unescaped
    // control char would publish a commit that every later parse rejects,
    // permanently bricking the log head
    def esc(s: String): String = {
      val b = new StringBuilder(s.length + 8)
      s.foreach {
        case '\\' => b.append("\\\\")
        case '"' => b.append("\\\"")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.toString
    }
    sb.append(s"""{"version":$version,"key_col":"${esc(keyCol)}",""")
    sb.append(s""""num_bits":$numBits,"num_hashes":$numHashes,""")
    schemaDdl.foreach(d => sb.append(s""""schema":"${esc(d)}","""))
    op.foreach(o => sb.append(s""""op":"${esc(o)}","""))
    if (zoneCols.nonEmpty)
      sb.append(zoneCols.map(c => s""""${esc(c)}"""")
        .mkString("\"zone_cols\":[", ",", "],"))
    if (deletes.nonEmpty)
      sb.append(deletes.map(d =>
          s"""{"file":"${esc(d.file)}","n_keys":${d.nKeys},"seq":${d.seq},""" +
            s""""min_key":${d.minKey},"max_key":${d.maxKey}}""")
        .mkString("\"deletes\":[", ",", "],"))
    sb.append("\"props\":{")
    props.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((k, v), i) =>
      if (i > 0) sb.append(',')
      sb.append(s""""${esc(k)}":"${esc(v)}"""")
    }
    sb.append("},\"files\":[")
    files.zipWithIndex.foreach { case (f, i) =>
      if (i > 0) sb.append(',')
      val bytes = java.nio.ByteBuffer.allocate(f.bloom.length * 8)
      f.bloom.foreach(bytes.putLong)
      val b64 = java.util.Base64.getEncoder.encodeToString(bytes.array())
      sb.append(s"""{"file":"${esc(f.file)}","min_key":${f.minKey},""")
      sb.append(s""""max_key":${f.maxKey},"n_rows":${f.nRows},""")
      sb.append(s""""seq":${f.seq},"bloom":"$b64"""")
      if (f.zones.nonEmpty) {
        sb.append(""","zones":{""")
        f.zones.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((c, (mn, mx)), j) =>
          if (j > 0) sb.append(',')
          sb.append(s""""${esc(c)}":[$mn,$mx]""")
        }
        sb.append('}')
      }
      if (f.kmv.nonEmpty)
        sb.append(f.kmv.mkString(""","kmv":[""", ",", "]"))
      if (f.kmvs.nonEmpty) {
        sb.append(""","kmvs":{""")
        f.kmvs.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((c, s), j) =>
          if (j > 0) sb.append(',')
          // an EMPTY array is stored deliberately: all-null column, a
          // recorded fact distinct from an absent (pre-sketch) entry
          sb.append(s.mkString(s""""${esc(c)}":[""", ",", "]"))
        }
        sb.append('}')
      }
      if (f.nulls.nonEmpty) {
        sb.append(""","nulls":{""")
        f.nulls.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((c, n), j) =>
          if (j > 0) sb.append(',')
          sb.append(s""""${esc(c)}":$n""")
        }
        sb.append('}')
      }
      if (f.bytes >= 0) sb.append(s""","bytes":${f.bytes}""")
      f.part.foreach { case (spec, vals) =>
        sb.append(s""","part_spec":"${esc(spec)}"""")
        sb.append(vals.mkString(""","part":[""", ",", "]"))
      }
      if (f.sorted) sb.append(""","sorted":true""")
      if (f.rid >= 0) sb.append(s""","rid":${f.rid}""")
      if (f.ridCol) sb.append(""","rid_col":true""")
      f.dv.foreach { case (p, n) =>
        sb.append(s""","dv":"${esc(p)}","dv_rows":$n""")
      }
      if (f.blooms.nonEmpty) {
        sb.append(""","blooms":{""")
        f.blooms.toSeq.sortBy(_._1).zipWithIndex.foreach { case ((c, words), j) =>
          if (j > 0) sb.append(',')
          val bb = java.nio.ByteBuffer.allocate(words.length * 8)
          words.foreach(bb.putLong)
          sb.append(s""""${esc(c)}":"${java.util.Base64.getEncoder
            .encodeToString(bb.array())}"""")
        }
        sb.append('}')
      }
      sb.append('}')
    }
    sb.append("]}")
    sb.toString
  }

  private def parseCommit(root: String, text: String): Snapshot = {
    val node = new ObjectMapper().readTree(text)
    val files = (0 until node.get("files").size()).map { i =>
      val f = node.get("files").get(i)
      val bytes = java.util.Base64.getDecoder.decode(f.get("bloom").asText())
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val zones =
        if (!f.has("zones")) Map.empty[String, (Long, Long)]
        else {
          val z = f.get("zones")
          val it = z.fieldNames()
          val m = Map.newBuilder[String, (Long, Long)]
          while (it.hasNext) {
            val c = it.next()
            m += c -> ((z.get(c).get(0).asLong(), z.get(c).get(1).asLong()))
          }
          m.result()
        }
      FileStat(f.get("file").asText(), f.get("min_key").asLong(),
        f.get("max_key").asLong(), f.get("n_rows").asLong(),
        Array.fill(bytes.length / 8)(bb.getLong), zones,
        // commits written before sequence numbers parse as seq 0 =
        // oldest: every delete manifest applies (conservative-correct)
        seq = if (f.has("seq")) f.get("seq").asLong() else 0L,
        // pre-sketch commits parse empty: approxDistinctKeys refuses
        kmv = if (!f.has("kmv")) Seq.empty
          else (0 until f.get("kmv").size()).map(f.get("kmv").get(_).asLong()),
        // zone-column sketches: absent map = unknown (per-column NDV
        // withheld); a present-but-empty array = all-null column
        kmvs =
          if (!f.has("kmvs")) Map.empty[String, Seq[Long]]
          else {
            val z = f.get("kmvs")
            val it = z.fieldNames()
            val m = Map.newBuilder[String, Seq[Long]]
            while (it.hasNext) {
              val c = it.next()
              val arr = z.get(c)
              m += c -> (0 until arr.size()).map(arr.get(_).asLong())
            }
            m.result()
          },
        // pre-null-stats commits parse empty = UNKNOWN (possibly-null):
        // metadata-only drops/counts refuse to trust bounds alone
        nulls =
          if (!f.has("nulls")) Map.empty[String, Long]
          else {
            val z = f.get("nulls")
            val it = z.fieldNames()
            val m = Map.newBuilder[String, Long]
            while (it.hasNext) { val c = it.next(); m += c -> z.get(c).asLong() }
            m.result()
          },
        // pre-byte-stats commits parse as -1 = UNKNOWN: size estimation
        // falls back to row-width arithmetic, never guesses zero
        bytes = if (f.has("bytes")) f.get("bytes").asLong() else -1L,
        part =
          if (!f.has("part_spec") || !f.has("part")) None
          else Some((f.get("part_spec").asText(),
            (0 until f.get("part").size()).map(f.get("part").get(_).asLong()))),
        // pre-marker commits parse unsorted: the scan withholds its
        // ordering report (a join re-sorts) rather than trusting purity
        sorted = f.has("sorted") && f.get("sorted").asBoolean(),
        // pre-lineage commits parse rid = -1 (no assigned range) and no
        // materialized id column: _row_id reads NULL, never a guess
        rid = if (f.has("rid")) f.get("rid").asLong() else -1L,
        ridCol = f.has("rid_col") && f.get("rid_col").asBoolean(),
        dv =
          if (!f.has("dv")) None
          else Some((f.get("dv").asText(), f.get("dv_rows").asLong())),
        blooms =
          if (!f.has("blooms")) Map.empty[String, Array[Long]]
          else {
            val z = f.get("blooms")
            val it = z.fieldNames()
            val m = Map.newBuilder[String, Array[Long]]
            while (it.hasNext) {
              val c = it.next()
              val raw = java.util.Base64.getDecoder.decode(z.get(c).asText())
              val bb = java.nio.ByteBuffer.wrap(raw)
              m += c -> Array.fill(raw.length / 8)(bb.getLong)
            }
            m.result()
          })
    }
    // commits written before props support parse unchanged (empty map)
    val props =
      if (!node.has("props")) Map.empty[String, String]
      else {
        val p = node.get("props")
        val it = p.fieldNames()
        val m = Map.newBuilder[String, String]
        while (it.hasNext) { val k = it.next(); m += k -> p.get(k).asText() }
        m.result()
      }
    val schemaDdl =
      if (node.has("schema")) Some(node.get("schema").asText()) else None
    val op = if (node.has("op")) Some(node.get("op").asText()) else None
    val zoneCols =
      if (!node.has("zone_cols")) Seq.empty[String]
      else (0 until node.get("zone_cols").size())
        .map(i => node.get("zone_cols").get(i).asText())
    val deletes =
      if (!node.has("deletes")) Seq.empty[DeleteFile]
      else (0 until node.get("deletes").size()).map { i =>
        val d = node.get("deletes").get(i)
        DeleteFile(d.get("file").asText(), d.get("n_keys").asLong(),
          d.get("seq").asLong(),
          if (d.has("min_key")) d.get("min_key").asLong() else Long.MinValue,
          if (d.has("max_key")) d.get("max_key").asLong() else Long.MaxValue)
      }
    Snapshot(root, node.get("version").asLong(), node.get("key_col").asText(),
      node.get("num_bits").asInt(), node.get("num_hashes").asInt(), files,
      props, schemaDdl, op, zoneCols, deletes)
  }

  /** All committed versions, ascending — ONE directory listing, no data
    * IO. Empty when the table has never been committed. */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    CommitLog.table(spark, root).versions

  /** Timestamp time travel — "the table as it was at `timestampMs`": the
    * latest version whose commit file landed at or before the instant,
    * from the same single log listing (commit mtimes come with the
    * listing; no extra IO). Commit mtimes are filesystem facts, so this
    * is the operational API (debugging, reproducing a run) — version
    * pins remain the deterministic contract. */
  def snapshotAsOfTime(spark: SparkSession, root: String,
                       timestampMs: Long): Snapshot = {
    val candidates = CommitLog.table(spark, root).listing
      .collect { case (v, mtime) if mtime <= timestampMs => v }
    require(candidates.nonEmpty,
      s"snapshotAsOfTime: no version committed at or before $timestampMs at $root")
    snapshot(spark, root, Some(candidates.max))
  }

  /** Resolve a snapshot — the SINGLE log read every query path goes
    * through: one commit-file read (plus one directory listing only when
    * `asOf` is None, to find the latest version; a pinned as-of read goes
    * straight to its commit file) yields the complete file set AND its
    * zone/bloom stats. Nothing downstream re-reads the log. */
  def snapshot(spark: SparkSession, root: String,
               asOf: Option[Long] = None): Snapshot = {
    val log = CommitLog.table(spark, root)
    val v = asOf match {
      case Some(want) =>
        require(log.exists(want), s"snapshot: version $want not in the log at ${log.dir}")
        want
      case None =>
        val vs = log.versions
        require(vs.nonEmpty, s"snapshot: no commits under ${log.dir}")
        vs.last
    }
    rekeyStats(parseCommit(root, log.read(v)))
  }

  /** Canonical rendering of a partition spec — the exact format the SQL
    * catalog writes for `PARTITIONED BY` transforms, so a re-rendered
    * spec string compares equal to a catalog-written one. */
  private[graft] def renderSpec(terms: Seq[SpecTerm]): String = terms.map {
    case IdentityTerm(c) => c
    case MonthTerm(c) => s"month($c)"
    case DivTerm(c, w) => s"div($c, $w)"
    case BucketTerm(c, n) => s"bucket($c, $n)"
  }.mkString(", ")

  /** Rewrite a spec string's base columns through `ren` (old → new).
    * Verbatim when no base column is renamed — stored strings that need
    * no change keep their exact bytes, so tuple-spec comparisons
    * elsewhere never break on formatting. */
  private[graft] def renameSpecCols(spec: String,
                                    ren: Map[String, String]): String = {
    val terms = parseSpec(spec)
    if (!terms.exists(t => ren.contains(t.baseCol))) spec
    else renderSpec(terms.map {
      case IdentityTerm(c) => IdentityTerm(ren.getOrElse(c, c))
      case MonthTerm(c) => MonthTerm(ren.getOrElse(c, c))
      case DivTerm(c, w) => DivTerm(ren.getOrElse(c, c), w)
      case BucketTerm(c, n) => BucketTerm(ren.getOrElse(c, c), n)
    })
  }

  /** RE-KEY per-file statistics through the COLUMN-MAPPING ledger at
    * snapshot resolution: a file committed before a key/zone column was
    * renamed carries its zone bounds, null counts, sketches and
    * partition-tuple spec under the OLD (physical) name — exactly the
    * name [[physicalName]] resolves for the file's era — so mapping
    * them back to the CURRENT logical names makes every stats consumer
    * (pruning, SPJ, blooms, metadata aggregates) work unchanged across
    * renames. No-op (fast path) without a mapping ledger. */
  private def rekeyStats(snap: Snapshot): Snapshot = {
    if (!hasColumnMapping(snap.props)) return snap
    val statCols = (snap.keyCol +: snap.zoneCols).distinct
    val curSpec = snap.props.get(PartitionSpecProp)
    val files = snap.files.map { f =>
      val ren: Map[String, String] = statCols.flatMap { lc =>
        physicalName(snap.props, lc, f.seq) match {
          case Some(pn) if pn != lc => Some(pn -> lc)
          case _ => None
        }
      }.toMap
      // the stored tuple's spec string also re-keys: base columns were
      // recorded under the file era's names, and the spec comparison
      // (storage-partitioned joins) must see the CURRENT names. The
      // current props spec is canonically rendered on rename, so a
      // re-keyed string and the props string compare equal.
      val specRen: Map[String, String] = curSpec.map(parseSpec).getOrElse(Seq.empty)
        .flatMap { t =>
          physicalName(snap.props, t.baseCol, f.seq) match {
            case Some(pn) if pn != t.baseCol => Some(pn -> t.baseCol)
            case _ => None
          }
        }.toMap
      val part2 = f.part.map { case (spec, vals) =>
        (renameSpecCols(spec, specRen), vals)
      }
      if (ren.isEmpty && part2 == f.part) f
      else f.copy(
        zones = f.zones.map { case (c, v) => (ren.getOrElse(c, c), v) },
        nulls = f.nulls.map { case (c, v) => (ren.getOrElse(c, c), v) },
        kmvs = f.kmvs.map { case (c, v) => (ren.getOrElse(c, c), v) },
        blooms = f.blooms.map { case (c, v) => (ren.getOrElse(c, c), v) },
        part = part2)
    }
    snap.copy(files = files)
  }

  /** Publish `files` as version `version` through the table's
    * [[CommitLog]] — returns false when the CAS loses (that version is
    * already committed). */
  def tryCommit(spark: SparkSession, root: String, version: Long,
                keyCol: String, numBits: Int, numHashes: Int,
                files: Seq[FileStat],
                props: Map[String, String] = Map.empty,
                schemaDdl: Option[String] = None,
                op: Option[String] = None,
                zoneCols: Seq[String] = Seq.empty,
                deletes: Seq[DeleteFile] = Seq.empty): Boolean = {
    // stamp sequence numbers: seq < 0 means "new in THIS commit" — files
    // carried by reference keep the version that first added them, which
    // is what scopes delete manifests to strictly-older data
    val stampedFiles = files.map(f => if (f.seq < 0) f.copy(seq = version) else f)
    val stampedDeletes = deletes.map(d => if (d.seq < 0) d.copy(seq = version) else d)
    CommitLog.table(spark, root).tryCommit(version,
      renderCommit(version, keyCol, numBits, numHashes, stampedFiles, props,
        schemaDdl, op, zoneCols, stampedDeletes)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** A committer's declared READ SCOPE intersected a concurrent commit —
    * blind CAS re-derivation would silently reorder row-level intent, so
    * the loser fails LOUD instead (Iceberg's validation failure). The
    * caller retries at the application level against fresh reads. */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** SEMANTIC conflict validation for row-level committers — the
    * Iceberg-style guard on top of the CAS: a key-overlapping
    * delete‖merge (or upsert‖upsert, delete‖upsert) pair must NOT
    * serialize blindly, because the loser derived its row-level change
    * (which keys to mask, which files to rewrite) from a snapshot the
    * winner just changed. The committer declares the scope it READ
    * (`col` = the key column or a declared zone column, `[lo, hi]` in
    * [[zoneLong]] space); on a CAS loss this walks every version the
    * winner(s) committed in between and throws [[CommitConflictException]]
    * if any of their file or manifest bounds intersect it.
    *
    * ISOLATION MATRIX (enforced here + by commit immutability; Iceberg's
    * SERIALIZABLE level — a row-level committer's reads must still hold):
    *   - replace/create/clone ‖ anything → both land (content-preserving
    *     by contract; CAS re-derive composes them)
    *   - append ‖ append → both land (additive; never scoped)
    *   - {append,delete,upsert,merge} ‖ {delete,upsert,merge} with
    *     DISJOINT scopes → both land
    *   - with OVERLAPPING scopes → the CAS loser throws (a concurrent
    *     append INTO the scope also invalidates a read-modify-write —
    *     the Iceberg validateNoConflicting* rule). EXCEPTION, stated not
    *     hidden: [[deleteKeysMoR]] passes `conflictWithAppends = false`
    *     — its manifest masks every strictly-older copy of its keys, so
    *     append ‖ key-delete serializes exactly as delete-at-commit-time
    *     whichever side wins (the seq-rule contract TableFormatSpec pins)
    *   - overwrite/rollback ‖ any scoped op → the scoped loser throws
    *     (replacement removes rows invisibly to bounds arithmetic)
    *
    * Conservative by construction: an intervening commit whose bounds
    * for `col` are unknown (no zone stats for that column, pre-bounds
    * delete manifests) counts as overlapping. */
  private[graft] def assertNoConflicts(spark: SparkSession, root: String,
                                       base: Snapshot, cur: Snapshot,
                                       col: String, lo: Long, hi: Long,
                                       caller: String,
                                       conflictWithAppends: Boolean = true): Unit = {
    if (cur.version <= base.version) return
    versions(spark, root)
      .filter(v => v > base.version && v <= cur.version)
      .foreach { v =>
        val snap = snapshot(spark, root, Some(v))
        def conflict(what: String): Nothing =
          throw new CommitConflictException(
            s"$caller: read scope $col in [$lo,$hi] (resolved at " +
              s"v${base.version}) conflicts with concurrent $what " +
              s"commit v$v at $root — retry against a fresh snapshot")
        val op = snap.op.getOrElse("")
        // content-preserving ops move bytes, not rows — never a conflict
        if (op != "replace" && op != "create" && op != "clone" &&
            !(op == "append" && !conflictWithAppends)) {
          // full-replacement ops can REMOVE in-scope rows without any
          // new file/manifest bounds betraying it
          if (op == "overwrite" || op == "rollback") conflict(op)
          def fileBounds(f: FileStat): Option[(Long, Long)] =
            if (col == snap.keyCol) Some((f.minKey, f.maxKey))
            else f.zones.get(col)
          val newFileHit = snap.files.filter(_.seq == v).exists(f =>
            fileBounds(f).forall { case (mn, mx) => mn <= hi && mx >= lo })
          val newDeleteHit = snap.deletes.filter(_.seq == v).exists { d =>
            if (col == snap.keyCol) d.minKey <= hi && d.maxKey >= lo
            else true // manifests carry only key bounds: conservative
          }
          if (newFileHit || newDeleteHit) conflict(op)
        }
      }
  }

  /** Optimistic-concurrency commit: resolve the latest snapshot, derive
    * the next file set from it, publish at version+1; on a CAS loss
    * re-resolve and RE-DERIVE against the winner's snapshot (the loser's
    * change must compose with the committed one, not clobber it). `derive`
    * receives None on an empty table (the bootstrap commit). `deriveProps`
    * yields the new commit's properties from the same snapshot — the
    * DEFAULT carries the current properties forward unchanged, so
    * maintenance commits (compaction, delete) preserve an ingest sink's
    * replay gate. Returns the committed snapshot. */
  def commitTransform(spark: SparkSession, root: String, keyCol: String,
                      numBits: Int, numHashes: Int,
                      derive: Option[Snapshot] => Seq[FileStat],
                      deriveProps: Option[Snapshot] => Map[String, String] =
                        _.map(_.props).getOrElse(Map.empty),
                      deriveSchema: Option[Snapshot] => Option[String] =
                        _.flatMap(_.schemaDdl),
                      op: Option[String] = None,
                      zoneCols: Option[Seq[String]] = None,
                      deriveDeletes: Option[Snapshot] => Seq[DeleteFile] =
                        _.map(_.deletes).getOrElse(Seq.empty)): Snapshot = {
    val log = CommitLog.table(spark, root)
    log.retry {
      val vs = log.versions
      val cur = if (vs.isEmpty) None else Some(snapshot(spark, root, Some(vs.last)))
      val next = cur.map(_.version + 1).getOrElse(1L)
      val files0 = derive(cur)
        .map(f => if (f.seq < 0) f.copy(seq = next) else f)
      val props0 = deriveProps(cur)
      // ROW LINEAGE assignment, central for every write path: every
      // file this commit ADDS (new path, no carried range) gets the
      // next consecutive `_row_id` range from the table's lineage
      // counter — a row's id is its materialized `__graft_row_id`
      // column value when one exists (lineage-preserving rewrites),
      // falling back to `rid + ordinal` (plain appends, and the
      // inserted rows a rewrite mixed in as column nulls — they are
      // BORN here and stay stable: the next rewrite resolves the
      // arithmetic id into the column). Carried/rolled-back files keep
      // their recorded range; id ranges are burned, never reused.
      val curPaths = cur.map(_.files.map(_.file).toSet).getOrElse(Set.empty)
      // the counter is MONOTONE whatever deriveProps returned: a custom
      // props map that dropped it must not reset id assignment (ranges
      // are burned, never reused — reuse would collide with live ids)
      var nextId = math.max(
        props0.get(NextRowIdProp).map(_.toLong).getOrElse(0L),
        cur.flatMap(_.props.get(NextRowIdProp)).map(_.toLong).getOrElse(0L))
      val files = files0.map { f =>
        if (f.rid < 0 && f.nRows > 0 && !curPaths.contains(f.file)) {
          val a = f.copy(rid = nextId); nextId += f.nRows; a
        } else f
      }
      val props =
        if (nextId > 0) props0 + (NextRowIdProp -> nextId.toString)
        else props0
      val schemaDdl = deriveSchema(cur)
      // zone-col declarations carry forward like the schema: an explicit
      // Some overrides (the bootstrap), otherwise the table's stand
      val zc = zoneCols.orElse(cur.map(_.zoneCols)).getOrElse(Seq.empty)
      val dels = deriveDeletes(cur)
        .map(d => if (d.seq < 0) d.copy(seq = next) else d)
      // re-key through the mapping ledger like snapshot() does, so a
      // caller holding this return sees current-name stats too
      if (tryCommit(spark, root, next, keyCol, numBits, numHashes, files,
          props, schemaDdl, op, zc, dels))
        Some(rekeyStats(Snapshot(root, next, keyCol, numBits, numHashes,
          files, props, schemaDdl, op, zc, dels)))
      else None
    }
  }

  // ---- reads (always through a resolved snapshot) ------------------------

  /** Read a snapshot's complete content, under the snapshot's own SCHEMA
    * when the commit carries one: files written before a column existed
    * read it as NULL (by-name parquet resolution) — schema evolution
    * without a rewrite, and no reader-side footer inference ever. A
    * ZERO-FILE snapshot (a delete that purged every row — the full-GDPR
    * state) reads as a typed empty frame through the committed schema;
    * only a schema-less empty snapshot (pre-schema commits) is an
    * error. */
  def read(spark: SparkSession, snap: Snapshot): DataFrame =
    if (snap.files.nonEmpty) readFiles(spark, snap, snap.files.map(_.file))
    else snap.schemaDdl match {
      case Some(ddl) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(ddl))
      case None => throw new IllegalArgumentException(
        s"read: snapshot v${snap.version} lists no files and carries no schema")
    }

  // ---- COLUMN MAPPING (rename/drop without rewrites) ---------------------
  // The Iceberg-name-mapping answer to "files resolve columns by name":
  // a RENAME records the old name's era in the commit props, a DROP
  // tombstones every historical name, and readers resolve each LOGICAL
  // column to the PHYSICAL name that was live when the file was written
  // (its commit seq). Props, per logical column `L` (current name):
  //   colmap.L  = "n1:d1,n2:d2"  — n1 physically served files with
  //               seq < d1, n2 served d1 <= seq < d2, and L itself
  //               serves seq >= d_last (eras are contiguous, so no
  //               start markers are needed);
  //   coldead.n = v              — name n stopped binding at version v
  //               (rename source or dropped column); a LATER re-ADD of
  //               n sets colborn so dead namesake data cannot resurrect;
  //   colborn.L = v              — L binds only files with seq >= v.
  // Everything is per-commit: time travel to a pre-rename version reads
  // the old DDL with the old (or no) mapping, exactly as committed.

  /** Physical name of logical column `logical` for a file committed at
    * `seq`, or None when the file's same-named data belongs to a DEAD
    * column (dropped-then-re-added) and must read as null. */
  def physicalName(props: Map[String, String], logical: String,
                   seq: Long): Option[String] = {
    props.get(s"colmap.$logical")
      .flatMap { hist =>
        hist.split(',').iterator.filter(_.nonEmpty).map { e =>
          val i = e.lastIndexOf(':')
          (e.substring(0, i), e.substring(i + 1).toLong)
        }.toSeq.sortBy(_._2).find(_._2 > seq).map(_._1)
      }
      .map(Some(_))
      .getOrElse(props.get(s"colborn.$logical") match {
        case Some(v) if seq < v.toLong => None
        case _ => Some(logical)
      })
  }

  /** True when the snapshot carries any rename/drop ledger — the fast
    * gate that keeps unaffected tables on the identity read path. */
  def hasColumnMapping(props: Map[String, String]): Boolean =
    props.keysIterator.exists(k =>
      k.startsWith("colmap.") || k.startsWith("colborn."))

  /** The schema to hand a by-name parquet reader for a file committed
    * at `seq`: each top-level field renamed to its physical name; a
    * dead-namesake field maps to a reserved absent name, which by-name
    * resolution null-fills. Field ORDER is preserved, so positional
    * rename back to logical names is exact. */
  def physicalSchemaOf(props: Map[String, String],
                       schema: org.apache.spark.sql.types.StructType,
                       seq: Long): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      physicalName(props, f.name, seq) match {
        case Some(n) if n == f.name => f
        case Some(n) => f.copy(name = n)
        case None => f.copy(name = s"__graft_dropped__${f.name}")
      }
    })

  // ---- COLUMN DEFAULT VALUES (Iceberg-v3 initial/write defaults) ---------
  // Declared per column in the commit props and injected into every
  // reader/analyzer-facing schema as Spark's own default metadata:
  //   coldefault.cur.c   — CURRENT_DEFAULT: the SQL an INSERT omitting
  //                        `c` materializes (changes with SET DEFAULT);
  //   coldefault.exist.c — EXISTS_DEFAULT: the folded literal files
  //                        written BEFORE `c` existed read back (frozen
  //                        at ADD COLUMN; never retroactive).
  // No reader code of our own: Spark's vectorized and row parquet
  // readers both back-fill missing columns from EXISTS_DEFAULT metadata, and
  // the analyzer fills INSERT gaps from CURRENT_DEFAULT — by-name file
  // resolution makes "missing in the file" exactly "pre-born".

  val ColDefaultCurPrefix = "coldefault.cur."
  val ColDefaultExistPrefix = "coldefault.exist."

  /** Remove the default-value metadata keys from every field — the
    * stored DDL must stay metadata-free (`toDDL` renders `DEFAULT ...`
    * clauses `fromDDL` cannot parse back; the coldefault props are the
    * single source of truth). Other metadata (comments) survives. */
  def stripDefaultMetadata(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.catalyst.util.{GeneratedColumn, IdentityColumn, ResolveDefaultColumns}
    val keys = Seq(
      ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY,
      ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY,
      GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY,
      IdentityColumn.IDENTITY_INFO_START,
      IdentityColumn.IDENTITY_INFO_STEP,
      IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT)
    org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      if (!keys.exists(f.metadata.contains)) f
      else f.copy(metadata = keys.foldLeft(
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata))(_.remove(_))
        .build())
    })
  }

  /** Inject the stored column-default declarations into `schema` as the
    * metadata Spark's machinery consumes (see the ledger note above).
    * Tables with no declared defaults return `schema` unchanged. */
  def withDefaultMetadata(schema: org.apache.spark.sql.types.StructType,
                          props: Map[String, String])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    if (!props.keysIterator.exists(k => k.startsWith(ColDefaultCurPrefix) ||
        k.startsWith(ColDefaultExistPrefix))) return schema
    org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      val cur = props.get(ColDefaultCurPrefix + f.name)
      val exist = props.get(ColDefaultExistPrefix + f.name)
      if (cur.isEmpty && exist.isEmpty) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        cur.foreach(mb.putString(
          ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY, _))
        exist.foreach(mb.putString(
          ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY, _))
        f.copy(metadata = mb.build())
      }
    })
  }

  /** Read an explicit file subset of `snap` with its merge-on-read masks
    * APPLIED — every library reader goes through here, so deletion
    * vectors and delete manifests are invisible to scans, changelogs,
    * merges and compaction alike. With nothing to mask (no DV'd file in
    * the subset, no manifest newer than any of its files) and no ids
    * asked for, this is the plain [[scanFiles]]; otherwise the
    * [[maskedScan]]. `withIds` adds each row's `_row_id` in the
    * [[IdColName]] column — the LINEAGE-PRESERVING rewrite input: a
    * maintenance rewrite that reads through it and writes the column
    * keeps every surviving row's id (the Iceberg v3 row-lineage
    * materialization rule). */
  private def readFiles(spark: SparkSession, snap: Snapshot,
                        files: Seq[String],
                        withIds: Boolean = false): DataFrame = {
    val statOf = snap.files.map(f => uriPathOf(f.file) -> f).toMap
    val stats = files.map(f => statOf.getOrElse(uriPathOf(f),
      throw new IllegalArgumentException(
        s"readFiles: $f is not a file of snapshot v${snap.version}")))
    if (withIds || stats.exists(_.dv.isDefined) ||
        manifestsFor(snap, stats).nonEmpty)
      maskedScan(spark, snap, stats, withIds)
    else scanFiles(spark, snap, files, withPos = false)
  }

  /** The delete manifests that mask at least one of `stats` — those with
    * a seq above some file's seq (the Iceberg sequence-number rule). */
  private def manifestsFor(snap: Snapshot,
                           stats: Seq[FileStat]): Seq[DeleteFile] =
    if (stats.isEmpty) Seq.empty
    else {
      val lowest = stats.map(_.seq).min
      snap.deletes.filter(_.seq > lowest)
    }

  /** The MASKED SCAN — a plan whose size does not grow with the number
    * of commits or DV'd files:
    *  - ONE scan of every file ([[scanFiles]]; column-mapped tables add
    *    one scan per rename era) with each row's path and ordinal;
    *  - ONE broadcast lookup from the path to the file's index, `rid` and
    *    `seq` ([[resolvePaths]] — fails loud on an unresolved path);
    *  - ONE deletion-vector anti-join keyed on (file index, ordinal),
    *    built from the bitmaps of all DV'd files (O(deleted rows));
    *  - ONE manifest anti-join: the applicable manifests read once under
    *    their declared `_del_key BIGINT` schema (no inference job),
    *    aggregated to (key, max manifest seq); a row of file seq `s` is
    *    dropped when `s < max seq`. That is exactly the sequence-number
    *    rule: some manifest with seq > s holds key k iff the largest seq
    *    among the manifests holding k is > s. A NULL key never matches.
    * `only` (aligned with `stats`) replaces the DV anti-join by a
    * semi-join that KEEPS just those ordinals — the changelog reading
    * back the rows a grown vector newly masks. With `withIds`, rows
    * carry `_row_id` in [[IdColName]]: the materialized column value,
    * else `rid + ordinal` when a range is assigned, else null (no
    * lineage — stated, not guessed). */
  private def maskedScan(spark: SparkSession, snap: Snapshot,
                         stats: Seq[FileStat], withIds: Boolean,
                         only: Option[Seq[Roaring64Bitmap]] = None)
      : DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    var df = resolvePaths(spark,
      scanFiles(spark, snap, stats.map(_.file), withPos = true,
        withIdCol = withIds),
      stats.zipWithIndex.map { case (f, i) => (f.file, i, f.rid, f.seq) })
    val bitmaps = only.getOrElse(stats.map(
      _.dv.fold(new Roaring64Bitmap())(d => readDv(conf, d._1))))
    val positions = bitmaps.zipWithIndex.flatMap { case (bm, i) =>
      bm.toArray.toSeq.map(p => (i, p)) }
    if (positions.nonEmpty || only.isDefined)
      df = df.join(spark.createDataFrame(positions).toDF("__dfid", "__dpos"),
        col("__fid") === col("__dfid") && col("__pos") === col("__dpos"),
        if (only.isDefined) "left_semi" else "left_anti")
    val manifests = manifestsFor(snap, stats)
    if (manifests.nonEmpty) {
      val masks = resolvePaths(spark,
          spark.read.schema(DelKeySchema).parquet(manifests.map(_.file): _*)
            .select(col("_metadata.file_path").as("__file"), col("_del_key")),
          manifests.zipWithIndex.map { case (d, i) => (d.file, i, -1L, d.seq) })
        .groupBy(col("_del_key").as("__mkey"))
        .agg(max(col("__fseq")).as("__mseq"))
      df = df
        .join(masks, col(snap.keyCol).cast("long") === col("__mkey"), "left")
        .filter(col("__mseq").isNull || col("__fseq") >= col("__mseq"))
    }
    if (withIds) df = df.withColumn(IdColName, coalesce(col(IdColName),
      when(col("__rid") >= 0, col("__rid") + col("__pos"))))
    df.drop("__file", "__pos", "__lf", "__fid", "__rid", "__fseq", "__mkey",
      "__mseq")
  }

  /** Declared schema of a delete manifest — read under it, never inferred. */
  private val DelKeySchema = "_del_key BIGINT"

  /** Tag each row of a scan (`__file` = `_metadata.file_path`, the
    * reader's URL-encoded rendering) with its file's (`__fid`, `__rid`,
    * `__fseq`) from `entries` (path, index, rid, seq): a LEFT broadcast
    * join on the URI-path form, NORMALIZED BY THE SAME [[uriPathOf]] on
    * both sides (a regexp strip of the rendering once left the
    * percent-encoding intact and silently dropped rows on any space/
    * non-ASCII warehouse path). Fail-fast: an unresolved path raises at
    * execution time instead of committing a truncated rewrite. */
  private def resolvePaths(spark: SparkSession, df: DataFrame,
                           entries: Seq[(String, Int, Long, Long)]): DataFrame = {
    val lookup = spark.createDataFrame(entries.map { case (f, i, rid, seq) =>
        (uriPathOf(f), i, rid, seq) })
      .toDF("__lf", "__fid", "__rid", "__fseq")
    df.join(broadcast(lookup),
        udf(new UriPathMemo).apply(col("__file")) === col("__lf"), "left")
      .filter(when(col("__lf").isNull, raise_error(concat(
        lit("maskedScan: file path did not resolve against the snapshot " +
          "lookup (path-form mismatch?): "), col("__file"))))
        .otherwise(lit(true)))
  }

  /** [[uriPathOf]] over a column of reader renderings, remembering the
    * last answer: a scan task's rows arrive grouped by file, so the
    * Hadoop path parse runs about once per file instead of once per row.
    * The remembered pair is one immutable value, so a racing reader sees
    * a consistent (input, output) or none. */
  private final class UriPathMemo extends (String => String) with Serializable {
    @transient private var last: (String, String) = _
    def apply(s: String): String = {
      val l = last
      if (l != null && l._1 == s) l._2
      else { val out = uriPathOf(s); last = (s, out); out }
    }
  }

  /** Public face of the lineage read ([[readFiles]] `withIds`) for the
    * SQL layer's copy-on-write lineage re-attachment
    * ([[graft.sources.v2]]): masked
    * read of `files` with each row's lineage id exposed as
    * [[IdColName]] (null = pre-lineage row, stated not guessed). */
  def readFilesWithLineage(spark: SparkSession, snap: Snapshot,
                           files: Seq[String]): DataFrame =
    readFiles(spark, snap, files, withIds = true)

  /** True when a lineage-preserving rewrite of `files` is worthwhile:
    * at least one of them carries an id range or a materialized id
    * column (rewriting id-less files through the id path would just
    * write a null column). */
  private def anyLineage(files: Seq[FileStat]): Boolean =
    files.exists(f => f.rid >= 0 || f.ridCol)

  /** SAFE TYPE WIDENING lattice (the Iceberg promotion matrix): the
    * wider of two integral types, the wider of float/double, and
    * same-scale decimal precision growth (capped at 18 — the catalog
    * writer's INT64 decimal encoding). None = not width-related (a real
    * type change, which still needs a rewrite). Sound because parquet
    * readers up-convert at read time — Spark's native vectorized and
    * row-based readers both read INT32 pages under a BIGINT schema
    * (and FLOAT under DOUBLE), and every connector read goes through
    * the vectorized one. */
  private[graft] def widened(a: org.apache.spark.sql.types.DataType,
                             b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    val fltRank = Map[DataType, Int](FloatType -> 1, DoubleType -> 2)
    if (a == b) Some(a)
    else if (intRank.contains(a) && intRank.contains(b))
      Some(if (intRank(a) >= intRank(b)) a else b)
    else if (fltRank.contains(a) && fltRank.contains(b))
      Some(if (fltRank(a) >= fltRank(b)) a else b)
    else (a, b) match {
      case (x: DecimalType, y: DecimalType)
        if x.scale == y.scale && math.max(x.precision, y.precision) <= 18 =>
        Some(if (x.precision >= y.precision) x else y)
      case _ => None
    }
  }

  /** Add-only schema union, RECURSIVE through nested types: top-level
    * columns of `next` not in `cur` are appended in `next`'s order, and
    * a STRUCT present in both (directly, as an array element, or as a
    * map value) may gain NEW members — appended after the existing ones,
    * forced nullable, because rows written before the member existed
    * null-fill it by name at every nesting level (Spark's parquet
    * reader does). Anything else — leaf type changes, member drops, map
    * KEY changes — needs a rewrite (out of the minimal sound form, as in
    * early Iceberg v1 readers). */
  def evolveSchema(cur: org.apache.spark.sql.types.StructType,
                   next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def merge(cur: DataType, nxt: DataType, path: String): DataType =
      (cur, nxt) match {
        case (a: StructType, b: StructType) =>
          val aNames = a.fieldNames.toSet
          StructType(
            a.fields.map { f =>
              b.fields.find(_.name == f.name) match {
                case Some(nf) => f.copy(dataType =
                  merge(f.dataType, nf.dataType, s"$path.${f.name}"))
                case None => f
              }
            } ++
              b.fields.filterNot(f => aNames(f.name))
                .map(f => f.copy(nullable = true)))
        case (ArrayType(ae, an), ArrayType(be, bn)) =>
          ArrayType(merge(ae, be, s"$path.element"), an || bn)
        case (MapType(ak, av, an), MapType(bk, bv, bn)) =>
          require(ak == bk,
            s"schema evolution: map '$path' cannot change key type " +
              s"${ak.simpleString} -> ${bk.simpleString}")
          MapType(ak, merge(av, bv, s"$path.value"), an || bn)
        case (a, b) =>
          // SAFE WIDENING merges to the wider type (int→long,
          // float→double, decimal precision growth): a widened table
          // reads old narrow files by up-conversion, and a NARROW batch
          // appended to a widened table keeps the wide schema. Anything
          // else is a real type change and needs a rewrite.
          widened(a, b).getOrElse(throw new IllegalArgumentException(
            s"schema evolution: column '$path' cannot change type " +
              s"${a.simpleString} -> ${b.simpleString} (only safe " +
              "widening — int->long, float->double, same-scale decimal " +
              "precision growth — is metadata-only)"))
      }
    merge(cur, next, "<root>") match {
      case st: StructType => st
      case other => throw new IllegalStateException(other.simpleString)
    }
  }

  /** WIDEN a top-level column's type — ONE metadata commit, zero file
    * rewrites (the ALTER TABLE shape of the [[widened]] lattice): old
    * files keep their narrow physical pages and every reader
    * up-converts; old VERSIONS keep the old DDL, so time travel shows
    * the old type. Narrowing (or any non-width change) is refused
    * loudly. Zone/key columns widen freely — their recorded stats live
    * in the zone-long image, which widening does not move. */
  def widenColumnType(spark: SparkSession, root: String, colName: String,
                      dt: org.apache.spark.sql.types.DataType): Snapshot = {
    val first = snapshot(spark, root)
    val schema = first.schemaDdl
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .getOrElse(throw new IllegalArgumentException(
        s"widenColumnType: table at $root carries no schema"))
    val field = schema.fields.find(_.name == colName).getOrElse(
      throw new IllegalArgumentException(
        s"widenColumnType: no column '$colName'"))
    require(field.dataType != dt,
      s"widenColumnType: '$colName' already has type ${dt.simpleString}")
    require(widened(field.dataType, dt).contains(dt),
      s"widenColumnType: ${field.dataType.simpleString} -> " +
        s"${dt.simpleString} is not a safe widening (int->long, " +
        "float->double, same-scale decimal precision growth) — " +
        "narrowing or retyping needs a rewrite")
    val target = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      if (f.name == colName) f.copy(dataType = dt) else f))
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      curOpt => curOpt.map(_.files).getOrElse(Seq.empty),
      deriveSchema = curOpt => Some(evolveSchema(
        curOpt.flatMap(_.schemaDdl)
          .map(org.apache.spark.sql.types.StructType.fromDDL)
          .getOrElse(target),
        target).toDDL),
      op = Some("replace"))
  }

  /** Insert a NEW nullable field at a nested `path` (struct member
    * segments; `element` descends an array, `value` a map value) — the
    * ALTER TABLE nested-add primitive. The parent must exist and be
    * navigable; adding under a map KEY is refused (keys identify
    * entries — evolving them is not add-only). */
  def addNestedField(schema: org.apache.spark.sql.types.StructType,
                     path: Seq[String],
                     dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    require(path.nonEmpty, "addNestedField: empty path")
    def at(cur: DataType, p: Seq[String], walked: String): DataType =
      cur match {
        case st: StructType if p.length == 1 =>
          require(!st.fieldNames.exists(_.equalsIgnoreCase(p.head)),
            s"addNestedField: '$walked.${p.head}' already exists")
          StructType(st.fields :+ StructField(p.head, dt, nullable = true))
        case st: StructType =>
          require(st.fieldNames.contains(p.head),
            s"addNestedField: no struct member '$walked.${p.head}'")
          StructType(st.fields.map(f =>
            if (f.name == p.head)
              f.copy(dataType = at(f.dataType, p.tail, s"$walked.${p.head}"))
            else f))
        case ArrayType(e, n) =>
          require(p.head == "element",
            s"addNestedField: array at '$walked' descends via 'element', " +
              s"got '${p.head}'")
          ArrayType(at(e, p.tail, s"$walked.element"), n)
        case MapType(k, v, n) =>
          require(p.head == "value",
            s"addNestedField: map at '$walked' descends via 'value' " +
              s"(keys cannot evolve), got '${p.head}'")
          MapType(k, at(v, p.tail, s"$walked.value"), n)
        case other => throw new IllegalArgumentException(
          s"addNestedField: '$walked' is a ${other.simpleString}, not a " +
            "struct/array/map")
      }
    at(schema, path, "<root>").asInstanceOf[StructType]
  }

  /** Zone-pruned range scan `lo <= key <= hi`: file selection is pure
    * driver arithmetic over the snapshot's IN-MEMORY stats (the log was
    * already read — no second metadata pass), the exact predicate still
    * applies inside surviving files, so the result equals a full-scan
    * filter. Returns (scan, files read, files listed). */
  def scanRange(spark: SparkSession, snap: Snapshot,
                lo: Long, hi: Long): (DataFrame, Int, Int) = {
    val hit = snap.files.filter(f => f.minKey <= hi && f.maxKey >= lo)
    val scan =
      if (hit.nonEmpty)
        readFiles(spark, snap, hit.map(_.file))
          .filter(col(snap.keyCol).cast("long").between(lo, hi))
      else read(spark, snap).filter(lit(false))
    (scan, hit.size, snap.files.size)
  }

  /** Zone-pruned range scan on a SECONDARY zoned column (`zoneCol` must be
    * in the snapshot's declared `zoneCols`): same contract as
    * [[scanRange]] but over the per-file secondary bounds — what lets a
    * time-range query over a key-ordered table skip files with no
    * partitioning scheme at all (Iceberg's metrics-based pruning). A file
    * somehow lacking bounds for the column (never produced by this layer,
    * but a defensive posture) is read, not skipped — pruning can only ever
    * be a no-false-negative optimization. Returns (scan, files read,
    * files listed). */
  def scanZone(spark: SparkSession, snap: Snapshot, zoneCol: String,
               lo: Long, hi: Long): (DataFrame, Int, Int) = {
    require(snap.zoneCols.contains(zoneCol),
      s"scanZone: '$zoneCol' is not a declared zone column " +
        s"(have: ${snap.zoneCols.mkString(",")})")
    val hit = snap.files.filter(f =>
      f.zones.get(zoneCol).forall { case (mn, mx) => mn <= hi && mx >= lo })
    val scan =
      if (hit.nonEmpty) {
        val df = readFiles(spark, snap, hit.map(_.file))
        df.filter(zoneLong(df.schema(zoneCol).dataType, col(zoneCol))
          .between(lo, hi))
      } else read(spark, snap).filter(lit(false))
    (scan, hit.size, snap.files.size)
  }

  /** Files whose bloom MAY contain `key` — the point-lookup prune. Pure
    * driver arithmetic on the snapshot (no false negatives: a skipped
    * file provably lacks the key). */
  def filesForKey(snap: Snapshot, key: Long): Seq[String] =
    snap.files.filter { f =>
      BloomUtil.contains(new GenericArrayData(f.bloom),
        UTF8String.fromString(key.toString), snap.numBits, snap.numHashes)
    }.map(_.file)

  // ---- table operations (each commits one new version) -------------------

  /** Bootstrap commit: register `files` (freshly written data) as version
    * 1 — or, under concurrency, the next version over whatever exists.
    * Stats AND the schema are captured once here (from the files being
    * committed — the writer knows what it wrote) and never recomputed by
    * readers. */
  def commitFiles(spark: SparkSession, root: String, keyCol: String,
                  files: Seq[String], numBits: Int, numHashes: Int,
                  zoneCols: Seq[String] = Seq.empty): Snapshot = {
    val stats = fileStats(spark, files, keyCol, numBits, numHashes, zoneCols)
    val ddl = Parquet.schema(spark, files: _*).toDDL
    commitTransform(spark, root, keyCol, numBits, numHashes, _ => stats,
      deriveSchema = _ => Some(ddl), op = Some("append"),
      zoneCols = Some(zoneCols))
  }

  /** APPEND files to the current snapshot — the ingest commit. The table
    * schema EVOLVES add-only: new columns in the appended files join the
    * schema, earlier files read them as NULL, and no existing file is
    * rewritten. Existing columns must keep their type
    * ([[evolveSchema]]). `extraProps` overlay the carried-forward commit
    * properties (how the streaming sink records its replay gate). */
  /** SHALLOW CLONE — Delta's `CREATE TABLE ... SHALLOW CLONE`: start a
    * NEW table log whose v1 references the source snapshot's files (and
    * delete manifests) BY PATH — one metadata commit, zero data IO,
    * however large the table. Clones then diverge independently: each
    * log commits its own versions, and because data files are immutable
    * neither side's writes can corrupt the other. The one operational
    * caveat is Delta's too, stated rather than hidden: the SOURCE's
    * [[expireSnapshots]] cannot see a clone's references, so sweeping
    * source versions a clone still depends on breaks the clone — run
    * clone-aware retention (keep the cloned version tagged on the
    * source) or deep-copy before expiring. Props are carried verbatim
    * (constraints and tags travel; a carried ingest gate makes a
    * different-lineage stream REFUSE the clone, which is the safe
    * default). */
  def cloneTable(spark: SparkSession, sourceRoot: String, targetRoot: String,
                 version: Option[Long] = None): Snapshot = {
    val src = snapshot(spark, sourceRoot, version)
    require(versions(spark, targetRoot).isEmpty,
      s"cloneTable: target $targetRoot already has commits")
    // the clone's log CONTINUES the source's version numbering (the
    // branch-log rule): cloned files and manifests keep their source
    // seqs, and publishing the clone AT the source version keeps every
    // future target commit strictly above them — so a MoR delete on the
    // clone masks the cloned files, and the cloned manifests keep
    // applying to exactly the files they did on the source
    if (!tryCommit(spark, targetRoot, src.version, src.keyCol, src.numBits,
        src.numHashes, src.files, src.props, src.schemaDdl, Some("clone"),
        src.zoneCols, src.deletes))
      throw new IllegalStateException(
        s"cloneTable: lost the bootstrap race at $targetRoot")
    snapshot(spark, targetRoot)
  }

  /** RENAME a table's root directory, rewriting the log's recorded
    * absolute paths (data files, deletion-vector sidecars, delete
    * manifests) to the new prefix — one directory move plus O(versions)
    * small commit rewrites, no data IO. History, time travel, tags and
    * stats all survive: every commit is parsed and re-rendered, not
    * string-patched. OFFLINE by contract (run with readers/writers
    * quiesced — the move itself is atomic but the path rewrites are
    * not); REFUSED under live WAP branches (their logs also hold
    * absolute paths — publish or drop them first). Shallow CLONES of
    * this table keep referencing the OLD paths and break, the same
    * caveat [[cloneTable]] documents for source-side retention. */
  def renameRoot(spark: SparkSession, oldRoot: String,
                 newRoot: String): Unit = {
    val (fs, oldP) = fsOf(spark, oldRoot)
    val newP = new org.apache.hadoop.fs.Path(newRoot)
    require(fs.exists(oldP), s"renameRoot: nothing at $oldRoot")
    require(versions(spark, oldRoot).nonEmpty,
      s"renameRoot: no table log at $oldRoot")
    require(!fs.exists(newP), s"renameRoot: target $newRoot already exists")
    val branches = new org.apache.hadoop.fs.Path(oldRoot, "_branch")
    require(!fs.exists(branches) || fs.listStatus(branches).isEmpty,
      s"renameRoot: live branches under $oldRoot hold absolute paths — " +
        "publish or drop them first")
    fs.mkdirs(newP.getParent)
    require(fs.rename(oldP, newP), s"renameRoot: move $oldRoot -> $newRoot failed")
    val oldUri = oldP.toUri.getPath
    def rewrite(s: String): String = {
      val sp = uriPathOf(s)
      if (sp == oldUri || sp.startsWith(oldUri + "/"))
        newRoot + sp.stripPrefix(oldUri)
      else s
    }
    val log = CommitLog.table(spark, newRoot)
    log.versions.foreach { v =>
      val snap = parseCommit(newRoot, log.read(v)) // RAW: no stats re-keying here
      val rewritten = renderCommit(v, snap.keyCol, snap.numBits,
        snap.numHashes,
        snap.files.map(f => f.copy(file = rewrite(f.file),
          dv = f.dv.map { case (dp, n) => (rewrite(dp), n) })),
        snap.props, snap.schemaDdl, snap.op, snap.zoneCols,
        snap.deletes.map(d => d.copy(file = rewrite(d.file))))
      log.rewrite(v, rewritten.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Commit-property prefix under which NAMED REFS (tags) live — the
    * Iceberg tag shape: a human name pinned to a version, carried in
    * props so it flows through maintenance/branches/replication like
    * everything else, resolvable from SQL (`VERSION AS OF 'prod'`), and
    * PROTECTING its version from [[expireSnapshots]]' horizon. */
  private val RefPrefix = "ref."

  /** Pin `name` to a version (default: the current head) — a
    * metadata-only op=replace commit. Re-tagging moves the pin. */
  def createTag(spark: SparkSession, root: String, name: String,
                version: Option[Long] = None): Snapshot = {
    // all-digit names are reserved: `VERSION AS OF 7` must stay a
    // version, never a tag
    require(name.nonEmpty && !name.contains('.') && !name.forall(_.isDigit),
      s"createTag: bad tag name '$name' (non-numeric, no dots)")
    val first = snapshot(spark, root)
    val v = version.getOrElse(first.version)
    require(versions(spark, root).contains(v),
      s"createTag: no version $v at $root")
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      curOpt => curOpt.map(_.files).getOrElse(Seq.empty),
      deriveProps = curOpt => curOpt.map(_.props).getOrElse(Map.empty) +
        (s"$RefPrefix$name" -> v.toString),
      op = Some("replace"))
  }

  /** Drop a tag — metadata-only; its version rejoins the normal
    * retention horizon. */
  def dropTag(spark: SparkSession, root: String, name: String): Snapshot = {
    val first = snapshot(spark, root)
    require(first.props.contains(s"$RefPrefix$name"),
      s"dropTag: no tag '$name'")
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      curOpt => curOpt.map(_.files).getOrElse(Seq.empty),
      deriveProps = curOpt => curOpt.map(_.props).getOrElse(Map.empty) -
        s"$RefPrefix$name",
      op = Some("replace"))
  }

  /** Resolve a tag to its pinned snapshot. */
  def snapshotOfTag(spark: SparkSession, root: String, name: String): Snapshot = {
    val head = snapshot(spark, root)
    val v = head.props.getOrElse(s"$RefPrefix$name",
      throw new IllegalArgumentException(
        s"snapshotOfTag: no tag '$name' at $root (have: " +
          head.props.keys.filter(_.startsWith(RefPrefix))
            .map(_.stripPrefix(RefPrefix)).toSeq.sorted.mkString(",") + ")"))
    snapshot(spark, root, Some(v.toLong))
  }

  /** Commit-property prefix under which CHECK constraints live. Props
    * are carried forward by every maintenance commit, inherited by
    * branches, and follow replication — so a constraint set once holds
    * everywhere the table's lineage goes, with no extra machinery. */
  private val ConstraintPrefix = "constraint."

  /** Enforce the table's CHECK constraints against `batch` — called by
    * every ROW-ADDING commit path ([[appendFiles]], [[upsertRowsMoR]],
    * [[mergeRows]]); delete/compact/rewrite commits cannot introduce
    * rows, so enforcement at the adding edge keeps the whole table
    * valid by induction. SQL CHECK semantics: a row violates only when
    * the predicate evaluates FALSE (NULL passes). Cost is one O(batch)
    * pass per commit, short-circuited at the first violation. */
  private def checkConstraints(spark: SparkSession, snap: Snapshot,
                               batch: DataFrame, caller: String): Unit =
    snap.props.foreach {
      case (k, sql) if k.startsWith(ConstraintPrefix) =>
        val bad = batch.filter(!coalesce(expr(sql), lit(true))).limit(1).count()
        if (bad > 0) throw new IllegalArgumentException(
          s"$caller: CHECK constraint '${k.stripPrefix(ConstraintPrefix)}' " +
            s"($sql) violated by the batch — commit refused")
      case (k, sql) if k.startsWith("colgen.") =>
        // GENERATED ALWAYS AS is an implicit CHECK at every row-adding
        // edge: files that disagree with the generation expression can
        // never land, whichever write path produced them (the SQL
        // writer computes the column; this guards the library path)
        val c = k.stripPrefix("colgen.")
        if (batch.columns.contains(c)) {
          val bad = batch.filter(!(col(c) <=> expr(sql))).limit(1).count()
          if (bad > 0) throw new IllegalArgumentException(
            s"$caller: generated column '$c' disagrees with its " +
              s"generation expression ($sql) in the batch — commit refused")
        }
      case _ => ()
    }

  /** Close the setConstraint-vs-ingest race: a row-adding commit
    * validates its batch against the snapshot it resolved BEFORE the CAS
    * loop, so a constraint added concurrently could otherwise slip past
    * it. Called inside the commitTransform derive with the re-resolved
    * snapshot — re-validates ONLY when the constraint prop set actually
    * changed since the pre-check (a rare race; the common path stays one
    * validation pass). */
  private def recheckConstraintsIfChanged(spark: SparkSession, base: Snapshot,
                                          cur: Snapshot, batch: DataFrame,
                                          caller: String): Unit = {
    def cset(s: Snapshot) =
      s.props.filter(_._1.startsWith(ConstraintPrefix))
    if (cset(cur) != cset(base)) checkConstraints(spark, cur, batch, caller)
  }

  /** Add (or replace) a CHECK constraint — Delta's `ADD CONSTRAINT`:
    * the EXISTING table must already satisfy the predicate (one full
    * validation pass, as Delta does — the one O(table) cost, paid once
    * at declaration), then the constraint commits as a metadata-only
    * op=replace carrying it in the properties. Every subsequent
    * row-adding commit validates its batch in O(batch) and REFUSES on
    * violation — data that breaks the contract can never land. */
  def setConstraint(spark: SparkSession, root: String, name: String,
                    predicateSql: String): Snapshot = {
    require(name.nonEmpty && !name.contains('.'),
      s"setConstraint: bad constraint name '$name'")
    val first = snapshot(spark, root)
    def validate(snap: Snapshot): Unit = {
      val bad = read(spark, snap)
        .filter(!coalesce(expr(predicateSql), lit(true))).limit(1).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"setConstraint: existing rows violate '$name' ($predicateSql)")
    }
    validate(first)
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      { curOpt =>
        val cur = curOpt.getOrElse(
          throw new IllegalStateException("setConstraint: nothing committed"))
        // symmetric half of the ingest-vs-setConstraint race: rows
        // committed between the pre-validation and OUR commit must also
        // satisfy the predicate, else the constraint would declare a
        // contract the table already breaks (re-validate only on an
        // actual race — cur moved past the pre-checked snapshot)
        if (cur.version != first.version) validate(cur)
        cur.files
      },
      deriveProps = curOpt => curOpt.map(_.props).getOrElse(Map.empty) +
        (s"$ConstraintPrefix$name" -> predicateSql),
      op = Some("replace"))
  }

  /** Drop a CHECK constraint — metadata-only. */
  def dropConstraint(spark: SparkSession, root: String, name: String): Snapshot = {
    val first = snapshot(spark, root)
    require(first.props.contains(s"$ConstraintPrefix$name"),
      s"dropConstraint: no constraint '$name'")
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      curOpt => curOpt.map(_.files).getOrElse(Seq.empty),
      deriveProps = curOpt => curOpt.map(_.props).getOrElse(Map.empty) -
        s"$ConstraintPrefix$name",
      op = Some("replace"))
  }

  /** Bootstrap an EMPTY table: version 1 carries the schema, key/zone
    * declarations and any initial properties but no files — the `CREATE
    * TABLE` commit the SQL catalog's DDL path rides ([[appendFiles]]
    * lands the first data). Zero data IO. */
  def createEmpty(spark: SparkSession, root: String, keyCol: String,
                  schemaDdl: String, numBits: Int = 1 << 14,
                  numHashes: Int = 5, zoneCols: Seq[String] = Seq.empty,
                  props: Map[String, String] = Map.empty): Snapshot = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    require(schema.fieldNames.contains(keyCol),
      s"createEmpty: key column '$keyCol' not in schema ($schemaDdl)")
    zoneCols.foreach(c => require(schema.fieldNames.contains(c),
      s"createEmpty: zone column '$c' not in schema ($schemaDdl)"))
    require(versions(spark, root).isEmpty,
      s"createEmpty: $root already has commits")
    if (!tryCommit(spark, root, 1L, keyCol, numBits, numHashes, Seq.empty,
        props, Some(schemaDdl), Some("create"), zoneCols))
      throw new IllegalStateException(
        s"createEmpty: lost the bootstrap race at $root")
    snapshot(spark, root)
  }

  /** REPLACE the table's content with `files` — `INSERT OVERWRITE` /
    * truncate-and-load: one commit whose file set is exactly the new
    * batch, delete manifests cleared (they applied to replaced content),
    * schema evolved add-only like [[appendFiles]], constraints enforced
    * on the incoming batch. Old files stay on disk for time travel. */
  def overwriteFiles(spark: SparkSession, root: String, files: Seq[String],
                     extraProps: Map[String, String] = Map.empty,
                     filesSorted: Boolean = false): Snapshot = {
    val first = snapshot(spark, root)
    val batch = if (files.isEmpty) None else Some(Parquet.read(spark, files: _*))
    val stats0 = batch.fold(Seq.empty[FileStat])(b =>
      fileStats(spark, files, first.keyCol, first.numBits,
        first.numHashes, first.zoneCols,
        spec = first.props.get(PartitionSpecProp),
        bloomCols = bloomColsOf(first.props), data = Some(b)))
    val stats =
      if (filesSorted) stats0.map(_.copy(sorted = true)) else stats0
    batch.foreach(checkConstraints(spark, first, _, "overwriteFiles"))
    val newSchema = batch.map(_.schema)
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      { curOpt =>
        val cur = curOpt.getOrElse(
          throw new IllegalStateException("overwriteFiles: nothing committed"))
        batch.foreach(
          recheckConstraintsIfChanged(spark, first, cur, _, "overwriteFiles"))
        stats.sortBy(_.file)
      },
      deriveProps = curOpt =>
        curOpt.map(_.props).getOrElse(Map.empty) ++ extraProps,
      deriveSchema = curOpt => newSchema match {
        case Some(ns) => Some(evolveSchema(
          curOpt.flatMap(_.schemaDdl)
            .map(org.apache.spark.sql.types.StructType.fromDDL).getOrElse(ns),
          ns).toDDL)
        case None => curOpt.flatMap(_.schemaDdl)
      },
      op = Some("overwrite"),
      deriveDeletes = _ => Seq.empty)
  }

  def appendFiles(spark: SparkSession, root: String, files: Seq[String],
                  extraProps: Map[String, String] = Map.empty,
                  filesSorted: Boolean = false,
                  propCas: Map[String, (Option[String], String)] = Map.empty)
      : Snapshot = {
    val first = snapshot(spark, root)
    // ONE read of the new files (one schema inference) serves the stats,
    // the schema evolution and both constraint checks
    val batch = Parquet.read(spark, files: _*)
    val stats0 = fileStats(spark, files, first.keyCol, first.numBits,
      first.numHashes, first.zoneCols,
      spec = first.props.get(PartitionSpecProp),
        bloomCols = bloomColsOf(first.props), data = Some(batch))
    val stats =
      if (filesSorted) stats0.map(_.copy(sorted = true)) else stats0
    val newSchema = batch.schema
    checkConstraints(spark, first, batch, "appendFiles")
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      { curOpt =>
        val cur = curOpt.getOrElse(
          throw new IllegalStateException("appendFiles: nothing committed"))
        recheckConstraintsIfChanged(spark, first, cur, batch, "appendFiles")
        (cur.files ++ stats).sortBy(_.file)
      },
      deriveProps = { curOpt =>
        val base = curOpt.map(_.props).getOrElse(Map.empty)
        // compare-and-set properties (the identity watermark): a
        // concurrent writer that moved one refuses THIS commit loudly —
        // its assignments were drawn from the stale value
        propCas.foreach { case (k, (expected, _)) =>
          val now = base.get(k)
          if (now != expected) throw new IllegalStateException(
            s"appendFiles: property '$k' moved concurrently " +
              s"($now != $expected) at $root — the write's assignments " +
              "are stale; re-run the statement")
        }
        base ++ extraProps ++ propCas.map { case (k, (_, v)) => k -> v }
      },
      deriveSchema = curOpt => Some(evolveSchema(
        curOpt.flatMap(_.schemaDdl)
          .map(org.apache.spark.sql.types.StructType.fromDDL)
          .getOrElse(newSchema),
        newSchema).toDDL),
      op = Some("append"))
  }

  /** Commit property carrying the DECLARATIVE PARTITION SPEC — the
    * Iceberg `PARTITIONED BY` shape re-expressed over stats-based
    * pruning: the spec tells WRITERS how to route rows into files
    * ([[appendPartitioned]]); READERS never consult it, because every
    * routed file carries tight zone bounds on the spec's base columns
    * and the existing zone pruning ([[scanZone]], the SQL catalog's
    * pushFilters) prunes them with no partition scheme at all. That
    * split is what makes SPEC EVOLUTION free: changing the spec is one
    * metadata commit, old files keep their old layout AND their old
    * bounds, and scans prune both generations correctly (Iceberg's
    * "new spec applies to new files only" rule, without its
    * per-file spec-id bookkeeping).
    *
    * Grammar: comma-separated terms — `col` (identity), `month(col)`
    * (calendar month of a date/timestamp), `div(col, n)` (width-n range
    * bucket of the column's [[zoneLong]] image), `bucket(col, n)`
    * (modular hash bucket: floorMod of the zone-long image by n — the
    * Iceberg `bucket(n, col)` shape for write fan-out control; NOTE the
    * routed files carry WIDE zone bounds on the base column, so range
    * pruning does not benefit — point lookups still prune through the
    * blooms, and the term exists for layout/distribution, stated not
    * hidden). */
  val PartitionSpecProp = "partition.spec"

  /** Commit property selecting the SQL DELETE route (the Iceberg
    * `write.delete.mode` knob): absent / "copy-on-write" keeps the
    * metadata-drop + row-level-rewrite paths; "merge-on-read" routes
    * key equality/IN deletes to an equality-delete manifest commit —
    * O(keys) write cost, the read-amplification dial the table then
    * pays down with `CALL materialize_deletes`. */
  val DeleteModeProp = "write.delete.mode"

  /** Commit properties selecting the SQL UPDATE / MERGE write shape
    * (Iceberg's `write.update.mode` / `write.merge.mode`): absent /
    * "copy-on-write" keeps the group-based rewrite
    * ([[graft.sources.v2]]'s replace-groups path); "merge-on-read"
    * routes the statement through the DELTA write — matched rows are
    * masked by their file-absolute ordinals in deletion-vector sidecars
    * and replacement/new rows land as an appended batch, ONE commit,
    * O(changed rows) instead of O(touched files). The dial's read
    * amplification is the DV skip, paid down by `CALL
    * materialize_deletes` / compaction like every other mask. */
  val UpdateModeProp = "write.update.mode"
  val MergeModeProp = "write.merge.mode"

  /** Commit property declaring the WRITE-TIME SORT ORDER (owned here so
    * maintenance rewrites can honor it; the SQL write layer aliases
    * it). Comma-separated distinct column names. */
  val SortOrderProp = "write.sort-order"

  /** Commit property holding the table's ROW-LINEAGE counter: the next
    * unassigned `_row_id`. Every commit assigns consecutive id ranges
    * to the files it adds ([[commitTransform]]); the counter only grows
    * (fast-forward branch publishes carry the branch's counter — the
    * publish gate refuses diverged mains, so ranges never collide). */
  val NextRowIdProp = "lineage.next_row_id"

  /** Physical column maintenance rewrites materialize row ids into —
    * hidden from every declared-schema read (both reader paths clip to
    * the requested schema), consulted only by `_row_id` projections and
    * lineage-preserving rewrites. A NULL value inherits the file's
    * arithmetic id (`rid + ordinal`) when a range is assigned. */
  val IdColName = "__graft_row_id"

  def sortOrderColsOf(props: Map[String, String]): Seq[String] =
    props.get(SortOrderProp) match {
      case None => Seq.empty
      case Some(v) =>
        val cols = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty && cols.distinct == cols,
          s"graft: $SortOrderProp must be distinct column names, got '$v'")
        cols
    }

  /** Commit property naming the ZONE COLUMNS that also carry PER-FILE
    * BLOOM BITSETS (comma-separated; must be declared zone columns) —
    * the membership-pruning dial for high-cardinality non-key lookups.
    * Sized by the table's numBits/numHashes, same as the key bloom. */
  val BloomColsProp = "bloom.cols"

  /** Parse the [[BloomColsProp]] declaration out of commit props. */
  def bloomColsOf(props: Map[String, String]): Seq[String] =
    props.get(BloomColsProp)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  private[graft] sealed trait SpecTerm { def baseCol: String }
  private[graft] final case class IdentityTerm(baseCol: String) extends SpecTerm
  private[graft] final case class MonthTerm(baseCol: String) extends SpecTerm
  private[graft] final case class DivTerm(baseCol: String, width: Long)
    extends SpecTerm
  private[graft] final case class BucketTerm(baseCol: String, n: Long)
    extends SpecTerm

  private[graft] def parseSpec(spec: String): Seq[SpecTerm] = {
    val Month = """month\(\s*([A-Za-z0-9_]+)\s*\)""".r
    val Div = """div\(\s*([A-Za-z0-9_]+)\s*,\s*(\d+)\s*\)""".r
    val Bucket = """bucket\(\s*([A-Za-z0-9_]+)\s*,\s*(\d+)\s*\)""".r
    val Ident = """([A-Za-z0-9_]+)""".r
    // split on TOP-LEVEL commas only — `div(col, n)` has one inside
    val terms = {
      val buf = Seq.newBuilder[String]
      val cur = new StringBuilder
      var depth = 0
      spec.foreach {
        case '(' => depth += 1; cur.append('(')
        case ')' => depth -= 1; cur.append(')')
        case ',' if depth == 0 => buf += cur.toString; cur.clear()
        case c => cur.append(c)
      }
      buf += cur.toString
      buf.result().map(_.trim).filter(_.nonEmpty)
    }
    require(terms.nonEmpty, s"partition spec is empty: '$spec'")
    terms.map {
      case Month(c) => MonthTerm(c)
      case Div(c, n) =>
        require(n.toLong >= 1, s"div width must be >= 1 in '$spec'")
        DivTerm(c, n.toLong)
      case Bucket(c, n) =>
        require(n.toLong >= 1, s"bucket count must be >= 1 in '$spec'")
        BucketTerm(c, n.toLong)
      case Ident(c) => IdentityTerm(c)
      case t => throw new IllegalArgumentException(
        s"partition spec term '$t' (grammar: col | month(col) | " +
          "div(col, n) | bucket(col, n))")
    }
  }

  /** Routing value of one spec term as a STRING column (strings because
    * the values become directory names; the stored rows never carry
    * them — pruning reads the base column's zone bounds instead). */
  private def specValue(term: SpecTerm,
                        df: DataFrame): org.apache.spark.sql.Column =
    term match {
      case IdentityTerm(c) => col(c).cast("string")
      case MonthTerm(c) => date_format(col(c), "yyyy-MM")
      case DivTerm(c, w) =>
        floor(zoneLong(df.schema(c).dataType, col(c)) / w).cast("long")
          .cast("string")
      case BucketTerm(c, n) =>
        pmod(zoneLong(df.schema(c).dataType, col(c)), lit(n)).cast("string")
    }

  /** Declare (or EVOLVE) the table's partition spec — one metadata-only
    * op=replace commit. Every base column must be the key or a declared
    * zone column: the spec's pruning power IS its zone stats, so an
    * un-zoned spec column would route files nothing can skip. */
  def setPartitionSpec(spark: SparkSession, root: String,
                       spec: String): Snapshot = {
    val first = snapshot(spark, root)
    val schema = first.schemaDdl
      .map(org.apache.spark.sql.types.StructType.fromDDL)
    parseSpec(spec).foreach { t =>
      schema.foreach(sc => require(sc.fieldNames.contains(t.baseCol),
        s"setPartitionSpec: column '${t.baseCol}' not in the table schema"))
      require(t.baseCol == first.keyCol || first.zoneCols.contains(t.baseCol),
        s"setPartitionSpec: '${t.baseCol}' must be the key or a declared " +
          "zone column — spec files prune through zone stats")
    }
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      curOpt => curOpt.map(_.files).getOrElse(Seq.empty),
      deriveProps = curOpt => curOpt.map(_.props).getOrElse(Map.empty) +
        (PartitionSpecProp -> spec),
      op = Some("replace"))
  }

  /** PARTITION SPEC EVOLUTION, the migration half (Iceberg's
    * rewrite-data-files after an evolve-spec): rewrite every file whose
    * recorded tuple was derived under a DIFFERENT (or no) spec, ROUTED
    * by the CURRENT spec — one shuffled write, one file per live
    * partition value, sorted within each value by the spec's base
    * columns (the routed INSERT's ordering contract, so the rewritten
    * files re-earn the `sorted` marker when no write.sort-order is
    * declared) — and carry every current-era file BY REFERENCE.
    *
    * Why this exists: after [[setPartitionSpec]] on a live table, OLD
    * files keep their old-era tuples (pruning still works through the
    * era-agnostic zone stats, correctness never depends on the spec),
    * but the storage-partitioned join honestly REFUSES its report until
    * every live file is tuple-pure under the CURRENT spec — this one
    * maintenance pass restores it. Masked reads materialize the stale
    * files' pending deletes; lineage-preserving (`_row_id` rides the
    * materialized column); content-preserving (op=replace — free for
    * incremental readers). Refuses loudly if a concurrent commit moved
    * the spec again. Returns (snapshot, files migrated, files carried). */
  def migratePartitionSpec(spark: SparkSession, root: String,
                           dataDir: String): (Snapshot, Int, Int) = {
    val first = snapshot(spark, root)
    val spec = first.props.getOrElse(PartitionSpecProp,
      throw new IllegalArgumentException(
        s"migratePartitionSpec: no '$PartitionSpecProp' declared at $root"))
    var migrated = 0
    var carried = 0
    val snap = commitTransform(spark, root, first.keyCol, first.numBits,
      first.numHashes, { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "migratePartitionSpec: nothing committed"))
        require(cur.props.get(PartitionSpecProp).contains(spec),
          s"migratePartitionSpec: the spec moved concurrently " +
            s"(${cur.props.get(PartitionSpecProp)} != $spec) — re-run " +
            "against the new declaration")
        val (stale, pure) = cur.files.partition(f =>
          !f.part.exists(_._1 == spec))
        migrated = stale.size
        carried = pure.size
        if (stale.isEmpty) cur.files
        else {
          val terms = parseSpec(spec)
          val lineage = anyLineage(stale)
          val df0 =
            readFiles(spark, cur, stale.map(_.file), withIds = lineage)
          val declaredOrder = sortOrderColsOf(cur.props)
          val monoBases = terms.filterNot(_.isInstanceOf[BucketTerm])
            .map(_.baseCol)
          val sortCols =
            if (declaredOrder.isEmpty) terms.map(_.baseCol)
            else monoBases ++ declaredOrder.filterNot(monoBases.contains)
          val out = s"$dataDir/migrate-${java.util.UUID.randomUUID()}"
          df0.withColumn("_pv",
              concat_ws("/", terms.map(t => specValue(t, df0)): _*))
            .repartition(col("_pv"))
            .sortWithinPartitions(sortCols.map(col): _*)
            .write.partitionBy("_pv").mode("overwrite").parquet(out)
          val files = listParquetRecursive(spark, out)
          val newStats =
            if (files.isEmpty) Seq.empty // every stale row was masked
            else fileStats(spark, files, cur.keyCol, cur.numBits,
              cur.numHashes, cur.zoneCols, spec = Some(spec),
              bloomCols = bloomColsOf(cur.props))
              .map { s0 =>
                val s1 = if (lineage) s0.copy(ridCol = true) else s0
                if (declaredOrder.isEmpty) s1.copy(sorted = true) else s1
              }
          (pure ++ newStats).sortBy(_.file)
        }
      }, op = Some("replace"))
    (snap, migrated, carried)
  }

  /** APPEND a batch routed by the CURRENT partition spec: one shuffled
    * write partitioned by the spec's routing value — one job however
    * many partitions, one file per live partition value (plus splits for
    * oversized values), each with TIGHT zone bounds on the spec's base
    * columns — then one ordinary [[appendFiles]] commit (stats,
    * constraints, schema evolution, replay props all apply). The routing
    * column itself is never stored: it is derived, and the layout under
    * `<dataDir>/.../_pv=<value>/` is an operator convenience, not a
    * reader contract. */
  def appendPartitioned(spark: SparkSession, root: String, batch: DataFrame,
                        dataDir: String,
                        extraProps: Map[String, String] = Map.empty): Snapshot = {
    val head = snapshot(spark, root)
    val spec = head.props.getOrElse(PartitionSpecProp,
      throw new IllegalArgumentException(
        s"appendPartitioned: no '$PartitionSpecProp' declared at $root " +
          "(setPartitionSpec first)"))
    val terms = parseSpec(spec)
    val out = s"$dataDir/routed-${java.util.UUID.randomUUID().toString}"
    val routed = batch.withColumn("_pv",
      concat_ws("/", terms.map(t => specValue(t, batch)): _*))
    routed.repartition(col("_pv"))
      .write.partitionBy("_pv").mode("overwrite").parquet(out)
    val files = listParquetRecursive(spark, out)
    require(files.nonEmpty, "appendPartitioned: empty batch")
    appendFiles(spark, root, files, extraProps)
  }

  /** EXPECTATION-GATED ingest with QUARANTINE — the Delta Live Tables
    * "expect or drop" mode on top of the table's CHECK constraints:
    * instead of refusing the whole batch when any row violates
    * ([[appendFiles]]' fail mode), split it — clean rows append to the
    * main table, violating rows land in a SEPARATE quarantine table
    * with a `_violated` column naming the failed constraint(s)
    * (comma-joined, name-sorted) for triage and replay. Cost is one
    * labeling pass over the batch (all predicates evaluated in one
    * projection) plus the two writes; counts come from the commits' own
    * file stats, no extra aggregate. The quarantine table is a full
    * TableFormat table (history, time travel, its own changelog) and
    * deliberately carries NO constraints of its own. Returns
    * (main snapshot, quarantine snapshot if any rows quarantined,
    * clean count, quarantined count). */
  def appendWithQuarantine(spark: SparkSession, root: String,
                           quarantineRoot: String, batch: DataFrame,
                           dataDir: String,
                           extraProps: Map[String, String] = Map.empty)
      : (Snapshot, Option[Snapshot], Long, Long) = {
    val first = snapshot(spark, root)
    val constraints = first.props.toSeq
      .filter(_._1.startsWith(ConstraintPrefix))
      .map { case (k, sql) => k.stripPrefix(ConstraintPrefix) -> sql }
      .sortBy(_._1)
    require(constraints.nonEmpty,
      "appendWithQuarantine: the table declares no constraints — use " +
        "appendFiles (there is nothing to quarantine on)")
    val labeled = batch.withColumn("_violated",
      concat_ws(",", constraints.map { case (name, sql) =>
        when(!coalesce(expr(sql), lit(true)), lit(name))
      }: _*))
    val stamp = java.util.UUID.randomUUID().toString
    val cleanOut = s"$dataDir/clean-$stamp"
    val quarOut = s"$dataDir/quarantine-$stamp"
    labeled.filter(col("_violated") === "").drop("_violated")
      .write.mode("overwrite").parquet(cleanOut)
    labeled.filter(col("_violated") =!= "")
      .write.mode("overwrite").parquet(quarOut)
    val cleanFiles = listParquet(spark, cleanOut)
    val quarFiles = listParquet(spark, quarOut)
    // zero-row part files read as empty: commit only what holds rows
    def nonEmpty(files: Seq[String]): Seq[String] =
      if (files.isEmpty) Seq.empty
      else {
        val counts = Parquet.read(spark, files: _*)
          .groupBy(input_file_name().as("f")).count().collect()
          .map(r => r.getString(0)).toSet
        files.filter(f => counts.exists(c =>
          uriPathOf(c) == uriPathOf(f)))
      }
    val clean = nonEmpty(cleanFiles)
    val quar = nonEmpty(quarFiles)
    val mainSnap =
      if (clean.nonEmpty) appendFiles(spark, root, clean, extraProps)
      else if (extraProps.nonEmpty)
        // an ALL-VIOLATION batch still advances the caller's props (a
        // streaming sink's replay gate lives there — without this, a
        // replayed all-bad batch would re-quarantine its rows): one
        // metadata-only commit, no files touched
        commitTransform(spark, root, first.keyCol, first.numBits,
          first.numHashes,
          curOpt => curOpt.map(_.files).getOrElse(Seq.empty),
          deriveProps = curOpt =>
            curOpt.map(_.props).getOrElse(Map.empty) ++ extraProps,
          op = Some("replace"))
      else first
    val quarSnap =
      if (quar.isEmpty) None
      else if (versions(spark, quarantineRoot).isEmpty)
        Some(commitFiles(spark, quarantineRoot, first.keyCol, quar,
          first.numBits, first.numHashes))
      else Some(appendFiles(spark, quarantineRoot, quar))
    val nClean =
      if (clean.isEmpty) 0L
      else mainSnap.files.filter(_.seq == mainSnap.version).map(_.nRows).sum
    val nQuar = quarSnap.map(s =>
      s.files.filter(_.seq == s.version).map(_.nRows).sum).getOrElse(0L)
    (mainSnap, quarSnap, nClean, nQuar)
  }

  /** Swap an explicit set of data files for new ones in ONE commit —
    * the copy-on-write GROUP REPLACEMENT the SQL row-level operations
    * (MERGE/UPDATE/arbitrary DELETE) commit through: `replaced` is
    * exactly the file set the operation's scan read (its replacement
    * content was derived from those bytes), so if ANY of them is no
    * longer live at commit time a concurrent writer swapped it first
    * and this commit must fail loud ([[CommitConflictException]]) —
    * blind re-derivation would resurrect the concurrent writer's
    * removed rows. Constraints validate the replacement batch; delete
    * manifests carry (new files' seqs sit above every manifest, and the
    * replacement content was read through the masks). */
  def replaceDataFiles(spark: SparkSession, root: String, base: Snapshot,
                       replaced: Set[String], newStats: Seq[FileStat],
                       newContent: Option[DataFrame],
                       opName: String): Snapshot = {
    newContent.foreach(df => checkConstraints(spark, base, df, opName))
    // the operation's READ SCOPE: the key span of the replaced groups
    // (the replacement content was derived from exactly those bytes)
    // plus the new files' span (a MERGE's NOT-MATCHED inserts were
    // decided by reading the table too). Liveness of the replaced files
    // alone is NOT enough — a concurrent merge-on-read delete manifest
    // (or an append into the matched range) leaves every replaced file
    // live, yet the replacement rows would RESURRECT its masked rows
    // (the new files' seq sits above the manifest). assertNoConflicts
    // walks the intervening commits and fails loud on bound overlap —
    // the Iceberg validateNoConflictingDeletes/Appends rule for
    // copy-on-write.
    val scopeFiles = base.files.filter(f => replaced(f.file)) ++ newStats
    val scope =
      if (scopeFiles.isEmpty) None
      else Some((scopeFiles.map(_.minKey).min, scopeFiles.map(_.maxKey).max))
    commitTransform(spark, root, base.keyCol, base.numBits, base.numHashes,
      { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          s"$opName: nothing committed"))
        val live = cur.files.map(_.file).toSet
        val gone = replaced -- live
        if (gone.nonEmpty) throw new CommitConflictException(
          s"$opName: ${gone.size} scanned file(s) were replaced by a " +
            s"concurrent commit at $root (e.g. ${gone.head}) — the " +
            "computed replacement is stale, retry against a fresh snapshot")
        scope.foreach { case (lo, hi) =>
          assertNoConflicts(spark, root, base, cur, base.keyCol, lo, hi, opName)
        }
        newContent.foreach(df =>
          recheckConstraintsIfChanged(spark, base, cur, df, opName))
        (cur.files.filterNot(f => replaced(f.file)) ++ newStats)
          .sortBy(_.file)
      },
      op = Some(opName))
  }

  /** Compaction: rewrite the CURRENT file set into `nFiles`
    * range-clustered files under `dataDir` and commit the result.
    * Content-preserving; old files stay on disk, so every prior version
    * remains readable (the q82 contract). Untouched here: with the whole
    * set rewritten the new stats come from one [[fileStats]] pass over
    * the output. */
  def compact(spark: SparkSession, root: String, dataDir: String,
              nFiles: Int): Snapshot = {
    require(nFiles >= 1, s"compact: nFiles must be >= 1, got $nFiles")
    val out = s"$dataDir/compact-${java.util.UUID.randomUUID().toString}"
    val first = snapshot(spark, root)
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes, { curOpt =>
      val cur = curOpt.getOrElse(
        throw new IllegalStateException("compact: nothing committed"))
      // derive against the CURRENT snapshot on every attempt: a racing
      // delete's rewrite must be what we compact, not the stale set.
      // Lineage-preserving: rows carry their _row_id through the
      // rewrite in the materialized id column.
      val lineage = anyLineage(cur.files) && cur.files.nonEmpty
      val rewrite =
        (if (lineage) readFilesWithLineage(spark, cur, cur.files.map(_.file))
         else read(spark, cur))
          .repartitionByRange(nFiles, col(cur.keyCol))
      rewrite.write.mode("overwrite").parquet(out)
      val files = listParquet(spark, out)
      // the output's schema is the rewrite's: stats read it back under
      // that schema, with no inference job
      fileStats(spark, files, cur.keyCol, cur.numBits, cur.numHashes,
        cur.zoneCols, spec = cur.props.get(PartitionSpecProp),
        bloomCols = bloomColsOf(cur.props),
        data = Some(spark.read.schema(rewrite.schema).parquet(files: _*)))
        .map(s => if (lineage) s.copy(ridCol = true) else s)
    }, op = Some("replace"),
      // the rewrite read MoR manifests through read() above, so the
      // output is materialized: compaction CLEARS the delete set — the
      // op that pays down a v2 table's read amplification
      deriveDeletes = _ => Seq.empty)
  }

  /** Targeted delete ("remove these keys everywhere"): bloom-prune to the
    * files that COULD hold a delete key, rewrite ONLY those under
    * `dataDir` minus the keys, carry every other file over BY REFERENCE —
    * stats untouched, no re-read. `keys` is a control-sized set (the GDPR
    * shape: subjects, not rows). Commits and returns the new snapshot. */
  def deleteKeys(spark: SparkSession, root: String, dataDir: String,
                 keys: Seq[Long]): Snapshot = {
    require(keys.nonEmpty, "deleteKeys: empty key set")
    val first = snapshot(spark, root)
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes, { curOpt =>
      val cur = curOpt.getOrElse(
        throw new IllegalStateException("deleteKeys: nothing committed"))
      val keyStrs = keys.map(k => UTF8String.fromString(k.toString))
      val (hit, carried) = cur.files.partition { f =>
        val bits = new GenericArrayData(f.bloom)
        keyStrs.exists(k => BloomUtil.contains(bits, k, cur.numBits, cur.numHashes))
      }
      val rewritten =
        if (hit.isEmpty) Seq.empty[FileStat]
        else {
          val out = s"$dataDir/delete-${java.util.UUID.randomUUID().toString}"
          // lineage-preserving (Iceberg v3's CoW rule): SURVIVING rows in
          // rewritten files keep their _row_id through the materialized
          // id column — only the deleted rows' ids retire
          val lineage = anyLineage(hit)
          readFiles(spark, cur, hit.map(_.file), withIds = lineage)
            // coalesce(_, true): a NULL key is not in any delete set, but
            // !IN(...) evaluates NULL for it — keep null-key rows
            .filter(coalesce(
              !col(cur.keyCol).cast("long").isInCollection(keys), lit(true)))
            .write.mode("overwrite").parquet(out)
          val files = listParquet(spark, out)
          if (files.isEmpty) Seq.empty
          else fileStats(spark, files, cur.keyCol, cur.numBits,
            cur.numHashes, cur.zoneCols,
            spec = cur.props.get(PartitionSpecProp),
              bloomCols = bloomColsOf(cur.props))
            .map(s => if (lineage) s.copy(ridCol = true) else s)
        }
      (carried ++ rewritten).sortBy(_.file)
    }, op = Some("delete"))
  }

  /** CLUSTERING rewrite — Iceberg's rewrite-data-files with a sort
    * order / Delta OPTIMIZE ZORDER bound into the commit log: rewrite
    * the whole table grouped by `groupExpr` (a [[Layout.zvalue]] morton
    * prefix, a date bucket — any clustering expression over the row)
    * and commit the new layout as ONE op=replace version with
    * `zoneCols` declared, so every subsequent scan prunes on the new
    * clustering through the ordinary zone arithmetic. ONE data pass:
    * rows shuffle once on the group key and land as one file per group
    * (`partitionBy` dirs; the group column lives in the path, not the
    * rows). Reads go through the manifests ([[readFiles]]), so like
    * [[compact]] this materializes merge-on-read masks and CLEARS the
    * manifest set. Content-preserving: op=replace, free for incremental
    * readers; pinned readers keep the old layout (snapshot isolation).
    * This is the table-format binding of the [[Layout]] machinery the
    * q42/q55/q62 entries prove on raw directories. */
  def rewriteClustered(spark: SparkSession, root: String, dataDir: String,
                       groupExpr: org.apache.spark.sql.Column,
                       zoneCols: Seq[String]): Snapshot = {
    val first = snapshot(spark, root)
    val out = s"$dataDir/cluster-${java.util.UUID.randomUUID().toString}"
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "rewriteClustered: nothing committed"))
        val lineage = cur.files.nonEmpty && anyLineage(cur.files)
        (if (lineage) readFilesWithLineage(spark, cur, cur.files.map(_.file))
         else read(spark, cur))
          .withColumn("_g", groupExpr)
          .repartition(col("_g"))
          .write.mode("overwrite").partitionBy("_g").parquet(out)
        // partitionBy nests files under _g=<v>/ dirs: list recursively
        val p = new org.apache.hadoop.fs.Path(out)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files = scala.collection.mutable.ArrayBuffer.empty[String]
        val it = fs.listFiles(p, true)
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet"))
            files += st.getPath.toString
        }
        fileStats(spark, files.sorted.toSeq, cur.keyCol, cur.numBits,
          cur.numHashes, zoneCols,
          spec = cur.props.get(PartitionSpecProp),
              bloomCols = bloomColsOf(cur.props))
          .map(s => if (lineage) s.copy(ridCol = true) else s)
      }, op = Some("replace"), zoneCols = Some(zoneCols),
      deriveDeletes = _ => Seq.empty)
  }

  /** BIN-PACKING small-file compaction — Iceberg's rewrite-data-files
    * binpack strategy / Delta OPTIMIZE: coalesce the SMALL-FILE TAIL a
    * streaming ingest leaves behind without touching the rest of the
    * table. [[compact]] is O(table) — the right tool to materialize
    * MoR masks everywhere; this is the MAINTENANCE-CADENCE tool, cost
    * O(small files) regardless of table size. Files with
    * `nRows < targetRows` are greedily packed, IN minKey ORDER, into
    * bins of at most `targetRows` rows — adjacency in key order is the
    * load-bearing detail: packing random small files together would
    * widen every zone span and bleed pruning power, packing neighbors
    * keeps each output file covering one contiguous-ish key range.
    * Multi-file bins rewrite to ONE file each (reads go through
    * [[readFiles]], so MoR masks materialize in the rewritten files);
    * singleton bins and every large file carry by reference with their
    * seqs (existing manifests still apply to them — the manifest set is
    * carried, unlike [[compact]] which clears it). Content-preserving
    * by construction: op=replace, free for incremental readers.
    *
    * LAYOUT-PRESERVING under a partition spec (r14): bins never span
    * partition values ([[planBins]]) and each tuple-pure bin is
    * RE-SORTED by the spec's base columns and re-stamped
    * `FileStat.sorted` — so compaction keeps the exchange-free AND
    * sort-free storage-partitioned join alive instead of silently
    * degrading every downstream join until a recluster; a declared
    * `write.sort-order` re-sorts by those columns instead (range
    * clustering preserved, marker off, matching the routed write).
    * Returns (snapshot, small files packed, bins written). */
  /** Greedy key-adjacent bin packing of the SMALL-FILE set — the pure
    * driver arithmetic [[compactSmallFiles]] rewrites by and
    * [[maintainTable]] pre-checks for idempotence (a tick must know a
    * rewrite would change something BEFORE committing anything).
    * Returns (multi-file bins, singleton bins). */
  private def packBins(small: Seq[FileStat], targetRows: Long)
      : (Seq[Seq[FileStat]], Seq[Seq[FileStat]]) = {
    val bins = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[FileStat])
    small.sortBy(f => (f.minKey, f.file)).foreach { f =>
      if (bins.last.nonEmpty &&
          bins.last.map(_.nRows).sum + f.nRows > targetRows)
        bins += scala.collection.mutable.ArrayBuffer.empty[FileStat]
      bins.last += f
    }
    val (multi, single) = bins.filter(_.nonEmpty).partition(_.size >= 2)
    (multi.map(_.toSeq).toSeq, single.map(_.toSeq).toSeq)
  }

  /** LAYOUT-AWARE bin plan: under a declared partition spec the small
    * files group by their CURRENT-SPEC partition tuple first, then pack
    * key-adjacent WITHIN each group — so a bin never spans partition
    * values and the rewritten file keeps its tuple purity (the
    * storage-partitioned-join evidence maintenance used to destroy).
    * Files without a current-spec tuple (pre-spec commits, earlier
    * cross-value rewrites) fall into one mixed group and pack as
    * before. Returns (tuple, multi-file bins) per group; the pure
    * function both [[compactSmallFiles]] rewrites by and
    * [[maintainTable]] pre-checks. */
  private def planBins(small: Seq[FileStat], spec: Option[String],
                       targetRows: Long)
      : Seq[(Option[Seq[Long]], Seq[Seq[FileStat]])] =
    (spec match {
      case Some(sp) =>
        small.groupBy(f =>
            f.part.collect { case (s2, v) if s2 == sp => v.toSeq })
          .toSeq.sortBy(_._2.map(_.file).min)
      case None => Seq((Option.empty[Seq[Long]], small))
    }).map { case (t, fs) => (t, packBins(fs, targetRows)._1) }

  def compactSmallFiles(spark: SparkSession, root: String, dataDir: String,
                        targetRows: Long): (Snapshot, Int, Int) = {
    require(targetRows >= 1, s"compactSmallFiles: targetRows must be >= 1")
    val first = snapshot(spark, root)
    var ledger = (0, 0)
    val snap = commitTransform(spark, root, first.keyCol, first.numBits,
      first.numHashes, { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "compactSmallFiles: nothing committed"))
        val (small, large) = cur.files.partition(_.nRows < targetRows)
        val spec = cur.props.get(PartitionSpecProp)
        val groups = planBins(small, spec, targetRows)
        // the rewrite RE-SORTS each bin so maintenance restores the
        // routed write's file order instead of erasing it: under a
        // declared write.sort-order the bin sorts by THOSE columns
        // (preserving q147's range clustering, no provenance marker —
        // same as the routed write); otherwise a TUPLE-PURE bin sorts
        // by the spec's base columns and RE-STAMPS FileStat.sorted,
        // so the sort-free storage-partitioned join survives
        // compaction (the r13 ADVICE alternative: re-sort and re-stamp
        // rather than drop). A mixed-group bin stays unsorted and
        // unstamped — no order is provable for it.
        val declaredOrder = sortOrderColsOf(cur.props)
        val baseCols =
          spec.map(sp => parseSpec(sp).map(_.baseCol)).getOrElse(Seq.empty)
        var nPacked = 0
        var nBins = 0
        val rewritten = groups.flatMap { case (tuple, multi) =>
          multi.zipWithIndex.flatMap { case (bin, i) =>
            val out =
              s"$dataDir/binpack-${java.util.UUID.randomUUID().toString}-$i"
            val sortCols =
              if (declaredOrder.nonEmpty) declaredOrder
              else if (tuple.isDefined) baseCols
              else Seq.empty
            val lineage = anyLineage(bin)
            val df0 = readFiles(spark, cur, bin.map(_.file), withIds = lineage)
              .coalesce(1)
            val df = if (sortCols.isEmpty) df0
              else df0.sortWithinPartitions(sortCols.map(col): _*)
            df.write.mode("overwrite").parquet(out)
            val files = listParquet(spark, out)
            nPacked += bin.size
            nBins += 1
            if (files.isEmpty) Seq.empty
            else {
              val stats0 = fileStats(spark, files, cur.keyCol, cur.numBits,
                cur.numHashes, cur.zoneCols, spec = spec,
                bloomCols = bloomColsOf(cur.props))
                .map(s => if (lineage) s.copy(ridCol = true) else s)
              // write-provenance marker only when the bin provably
              // landed sorted by the spec base columns (tuple-pure, no
              // overriding declared order) — the outputOrdering rule
              if (tuple.isDefined && declaredOrder.isEmpty &&
                  sortCols.nonEmpty) stats0.map(_.copy(sorted = true))
              else stats0
            }
          }
        }
        val packed = groups.flatMap(_._2).flatten.map(_.file).toSet
        val carriedSmall = small.filterNot(f => packed.contains(f.file))
        ledger = (nPacked, nBins)
        (large ++ carriedSmall ++ rewritten).sortBy(_.file)
      }, op = Some("replace"))
    (snap, ledger._1, ledger._2)
  }

  /** AUTO-MAINTENANCE POLICY TICK — one idempotent pass that converges
    * a messy table, choosing actions from THRESHOLDS instead of
    * hand-run CALLs (the operational loop a 100 TB table actually runs
    * on a schedule):
    *
    *  1. pending read masks (equality manifests + deletion vectors)
    *     above `maxPendingMasks` → [[materializeDeletes]] (first, so
    *     the compaction bins below never carry masks);
    *  2. `targetRows > 0` and at least `minSmallFiles` small files
    *     forming at least one MULTI-FILE bin → [[compactSmallFiles]]
    *     (the bin pre-check is what makes the tick IDEMPOTENT: a
    *     threshold trip that would rewrite nothing commits nothing);
    *  3. `keepLast > 0` and more versions than it → [[expireSnapshots]]
    *     (last, so it also sweeps the orphans steps 1–2 just unlinked).
    *
    * A second tick on the converged table performs ZERO commits.
    * Concurrent ingest survives: every step re-resolves the head
    * through the ordinary CAS, and the expiry grace window keeps
    * in-flight files out of the sweep. Returns (snapshot, the actions
    * taken, human-readable). */
  def maintainTable(spark: SparkSession, root: String, dataDir: String,
                    targetRows: Long = 0L,
                    minSmallFiles: Int = 8,
                    maxPendingMasks: Int = 0,
                    keepLast: Int = 0,
                    graceMs: Long = 3600000L): (Snapshot, Seq[String]) = {
    val actions = Seq.newBuilder[String]
    var snap = snapshot(spark, root)
    val masks = snap.deletes.size + snap.files.count(_.dv.isDefined)
    if (masks > maxPendingMasks) {
      val (s2, nRe, _) = materializeDeletes(spark, root, dataDir)
      snap = s2
      actions += s"materialize_deletes:$nRe"
    }
    if (targetRows > 0) {
      val small = snap.files.filter(_.nRows < targetRows)
      val wouldRewrite = planBins(small,
        snap.props.get(PartitionSpecProp), targetRows).exists(_._2.nonEmpty)
      if (small.size >= minSmallFiles && wouldRewrite) {
        val (s3, nPacked, nBins) = compactSmallFiles(spark, root, dataDir,
          targetRows)
        snap = s3
        actions += s"compact_small_files:$nPacked->$nBins"
      }
    }
    if (keepLast > 0 && versions(spark, root).size > keepLast) {
      val (expired, removed) = expireSnapshots(spark, root, keepLast,
        Seq(dataDir), graceMs)
      if (expired.nonEmpty)
        actions += s"expire_snapshots:${expired.size}v,${removed.size}f"
      snap = snapshot(spark, root)
    }
    (snap, actions.result())
  }

  /** PREDICATE (range) delete with METADATA-ONLY file drops — the
    * retention / GDPR-by-date posture (Delta `DELETE WHERE` with file
    * pruning, Iceberg's delete-with-metadata): remove every row with
    * `lo <= boundCol <= hi`, classifying each live file by its commit
    * stats with pure driver arithmetic:
    *
    *   - FULLY COVERED (bounds inside [lo, hi]) → DROPPED from the file
    *     list: zero data IO — on a table clustered by the bound column
    *     (ingest date, [[graft.operators.Layout]] clustering) this is
    *     almost every affected file, so dropping a day from a 100 TB
    *     table is a metadata commit;
    *   - DISJOINT → carried by reference, stats untouched;
    *   - BOUNDARY (overlapping, or lacking bounds for a secondary
    *     column) → rewritten under `dataDir` with the complement filter —
    *     the only data IO, O(boundary files) = O(1) on a clustered table.
    *
    * `boundCol` is the table key (zone bounds from the commit) or any
    * declared secondary zone column; a file without bounds for it is
    * conservatively rewritten, never guessed about. Sound under
    * merge-on-read manifests: drops only remove rows, carried files keep
    * their seqs (manifests still apply), and boundary rewrites read
    * THROUGH the manifests ([[readFiles]]) so the replacement file is
    * materialized with respect to every existing mask. Returns
    * (snapshot, dropped, rewritten, carried). */
  def deleteWhere(spark: SparkSession, root: String, dataDir: String,
                  boundCol: String, lo: Long, hi: Long)
      : (Snapshot, Int, Int, Int) = {
    require(lo <= hi, s"deleteWhere: need lo <= hi, got $lo > $hi")
    val first = snapshot(spark, root)
    require(boundCol == first.keyCol || first.zoneCols.contains(boundCol),
      s"deleteWhere: '$boundCol' is neither the key nor a declared zone " +
        s"column (have: ${first.keyCol}; ${first.zoneCols.mkString(",")})")
    var ledger = (0, 0, 0)
    val snap = commitTransform(spark, root, first.keyCol, first.numBits,
      first.numHashes, { curOpt =>
        val cur = curOpt.getOrElse(
          throw new IllegalStateException("deleteWhere: nothing committed"))
        assertNoConflicts(spark, root, first, cur, boundCol, lo, hi,
          "deleteWhere")
        def boundsOf(f: FileStat): Option[(Long, Long)] =
          if (boundCol == cur.keyCol) Some((f.minKey, f.maxKey))
          else f.zones.get(boundCol)
        // SQL DELETE semantics: a NULL bound value never satisfies the
        // range predicate, so null rows must SURVIVE — but min/max
        // bounds cannot see them. A whole-file drop therefore also
        // requires a RECORDED ZERO null count for boundCol (unknown =
        // possibly-null routes to the boundary rewrite, whose complement
        // filter keeps nulls explicitly).
        val (dropped, kept) = cur.files.partition(f =>
          f.nullFree(boundCol) &&
            boundsOf(f).exists { case (mn, mx) => mn >= lo && mx <= hi })
        val (carried, boundary) = kept.partition(f =>
          boundsOf(f).exists { case (mn, mx) => mx < lo || mn > hi })
        val rewritten =
          if (boundary.isEmpty) Seq.empty[FileStat]
          else {
            val out = s"$dataDir/delwhere-${java.util.UUID.randomUUID().toString}"
            val bdf = readFiles(spark, cur, boundary.map(_.file))
            // coalesce(_, true): !between is NULL (not false) for null
            // values — without it the rewrite silently deletes null rows
            bdf.filter(coalesce(
                !zoneLong(bdf.schema(boundCol).dataType, col(boundCol))
                  .between(lo, hi), lit(true)))
              .write.mode("overwrite").parquet(out)
            val files = listParquet(spark, out)
            if (files.isEmpty) Seq.empty
            else fileStats(spark, files, cur.keyCol, cur.numBits,
              cur.numHashes, cur.zoneCols,
              spec = cur.props.get(PartitionSpecProp),
              bloomCols = bloomColsOf(cur.props))
          }
        ledger = (dropped.size, boundary.size, carried.size)
        (carried ++ rewritten).sortBy(_.file)
      }, op = Some("delete"))
    (snap, ledger._1, ledger._2, ledger._3)
  }

  /** REPLACE WHERE — Delta's `INSERT OVERWRITE ... replaceWhere` shape,
    * ONE atomic commit: rows of `[lo, hi]` on a discrete key/zone
    * column are removed by [[deleteWhere]]'s metadata arithmetic
    * (whole-file drops by bounds, boundary files rewritten with the
    * complement, null rows kept) and `files` land in their place. The
    * INCOMING batch must actually BELONG to the scope: every new file's
    * recorded bounds must lie inside `[lo, hi]` with a zero null count
    * on the bound column — out-of-scope rows are REFUSED before any
    * commit (Delta's constraint), because silently keeping them would
    * turn "replace January" into "replace January and corrupt March".
    * Reprocessing one partition of a 100 TB table costs O(that
    * partition), never a table rewrite. */
  def replaceWhere(spark: SparkSession, root: String, dataDir: String,
                   boundCol: String, lo: Long, hi: Long,
                   files: Seq[String],
                   filesSorted: Boolean = false): (Snapshot, Int, Int, Int) = {
    require(lo <= hi, s"replaceWhere: need lo <= hi, got $lo > $hi")
    val first = snapshot(spark, root)
    require(boundCol == first.keyCol || first.zoneCols.contains(boundCol),
      s"replaceWhere: '$boundCol' is neither the key nor a declared zone " +
        s"column (have: ${first.keyCol}; ${first.zoneCols.mkString(",")})")
    val newStats0 =
      if (files.isEmpty) Seq.empty
      else fileStats(spark, files, first.keyCol, first.numBits,
        first.numHashes, first.zoneCols,
        spec = first.props.get(PartitionSpecProp),
        bloomCols = bloomColsOf(first.props))
    // boundary rewrites below stay UNSORTED (filtered re-emits); only
    // the incoming routed batch may carry the write-provenance marker
    val newStats =
      if (filesSorted) newStats0.map(_.copy(sorted = true)) else newStats0
    newStats.foreach { f =>
      val bounds =
        if (boundCol == first.keyCol) Some((f.minKey, f.maxKey))
        else f.zones.get(boundCol)
      require(f.nullFree(boundCol) &&
        bounds.exists { case (mn, mx) => mn >= lo && mx <= hi },
        s"replaceWhere: incoming file ${f.file} carries rows OUTSIDE the " +
          s"replaced scope $boundCol in [$lo,$hi] (bounds $bounds, " +
          s"nulls ${f.nulls.get(boundCol)}) — the batch must contain " +
          "only rows it is replacing")
    }
    if (files.nonEmpty)
      checkConstraints(spark, first, Parquet.read(spark, files: _*),
        "replaceWhere")
    var ledger = (0, 0, 0)
    val snap = commitTransform(spark, root, first.keyCol, first.numBits,
      first.numHashes, { curOpt =>
        val cur = curOpt.getOrElse(
          throw new IllegalStateException("replaceWhere: nothing committed"))
        assertNoConflicts(spark, root, first, cur, boundCol, lo, hi,
          "replaceWhere")
        if (files.nonEmpty)
          recheckConstraintsIfChanged(spark, first, cur,
            Parquet.read(spark, files: _*), "replaceWhere")
        def boundsOf(f: FileStat): Option[(Long, Long)] =
          if (boundCol == cur.keyCol) Some((f.minKey, f.maxKey))
          else f.zones.get(boundCol)
        // same null discipline as deleteWhere: a whole-file drop needs a
        // RECORDED zero null count (null bound values never match the
        // range and must survive via the boundary rewrite's complement)
        val (dropped, kept) = cur.files.partition(f =>
          f.nullFree(boundCol) &&
            boundsOf(f).exists { case (mn, mx) => mn >= lo && mx <= hi })
        val (carried, boundary) = kept.partition(f =>
          boundsOf(f).exists { case (mn, mx) => mx < lo || mn > hi })
        val rewritten =
          if (boundary.isEmpty) Seq.empty[FileStat]
          else {
            val out = s"$dataDir/replwhere-${java.util.UUID.randomUUID().toString}"
            val bdf = readFiles(spark, cur, boundary.map(_.file))
            bdf.filter(coalesce(
                !zoneLong(bdf.schema(boundCol).dataType, col(boundCol))
                  .between(lo, hi), lit(true)))
              .write.mode("overwrite").parquet(out)
            val fs = listParquet(spark, out)
            if (fs.isEmpty) Seq.empty
            else fileStats(spark, fs, cur.keyCol, cur.numBits,
              cur.numHashes, cur.zoneCols,
              spec = cur.props.get(PartitionSpecProp),
              bloomCols = bloomColsOf(cur.props))
          }
        ledger = (dropped.size, boundary.size, carried.size)
        (carried ++ rewritten ++ newStats).sortBy(_.file)
      }, op = Some("overwrite_where"))
    (snap, ledger._1, ledger._2, ledger._3)
  }

  /** DYNAMIC PARTITION OVERWRITE — `INSERT OVERWRITE` under
    * `partitionOverwriteMode=dynamic`: replace exactly the partition
    * values PRESENT IN THE BATCH, leave every other partition alone
    * (the Hive/Iceberg semantic). Victims are resolved from the
    * RECORDED per-file partition tuples, so the whole operation is
    * metadata arithmetic plus the batch's own writes. Refused unless
    * BOTH sides are tuple-pure under the current spec: an incoming file
    * spanning several values, or an existing tuple-less file (mixed
    * post-compaction layout), could silently leave stale rows next to
    * the replacement — mixed layouts must recluster back to the routed
    * layout first. A concurrent append into a replaced partition fails
    * the commit LOUDLY rather than being clobbered. */
  def overwritePartitionsDynamic(spark: SparkSession, root: String,
                                 files: Seq[String],
                                 filesSorted: Boolean = false)
      : (Snapshot, Int, Int) = {
    val first = snapshot(spark, root)
    val spec = first.props.getOrElse(PartitionSpecProp,
      throw new UnsupportedOperationException(
        "overwritePartitionsDynamic: the table declares no partition " +
          "spec — dynamic overwrite replaces PARTITION VALUES; use " +
          "replaceWhere/overwriteFiles instead"))
    val newStats0 =
      if (files.isEmpty) Seq.empty
      else fileStats(spark, files, first.keyCol, first.numBits,
        first.numHashes, first.zoneCols, spec = Some(spec),
        bloomCols = bloomColsOf(first.props))
    val newStats =
      if (filesSorted) newStats0.map(_.copy(sorted = true)) else newStats0
    newStats.foreach(f => require(f.part.exists(_._1 == spec),
      s"overwritePartitionsDynamic: incoming file ${f.file} spans " +
        "several partition values — route the batch through the " +
        "catalog INSERT path (clustered by the spec's transforms)"))
    val newTuples = newStats.flatMap(_.part.map(_._2.toSeq)).toSet
    if (files.nonEmpty)
      checkConstraints(spark, first, Parquet.read(spark, files: _*),
        "overwritePartitionsDynamic")
    var ledger = (0, 0)
    val snap = commitTransform(spark, root, first.keyCol, first.numBits,
      first.numHashes, { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "overwritePartitionsDynamic: nothing committed"))
        if (files.nonEmpty)
          recheckConstraintsIfChanged(spark, first, cur,
            Parquet.read(spark, files: _*), "overwritePartitionsDynamic")
        cur.files.foreach(f => require(f.part.exists(_._1 == spec),
          s"overwritePartitionsDynamic: existing file ${f.file} carries " +
            "no current-spec partition tuple (mixed layout, e.g. after " +
            "compaction across values) — a tuple-blind replace could " +
            "leave stale rows; recluster to the routed layout first"))
        val firstFiles = first.files.map(_.file).toSet
        cur.files.filterNot(f => firstFiles(f.file)).foreach { f =>
          if (f.part.exists(p => newTuples.contains(p._2.toSeq)))
            throw new CommitConflictException(
              "overwritePartitionsDynamic: concurrent commit added " +
                s"${f.file} into a partition this overwrite replaces — " +
                "retry against a fresh snapshot")
        }
        val (victims, carried) = cur.files.partition(f =>
          f.part.exists(p => newTuples.contains(p._2.toSeq)))
        ledger = (newTuples.size, victims.size)
        (carried ++ newStats).sortBy(_.file)
      }, op = Some("overwrite_where"))
    (snap, ledger._1, ledger._2)
  }

  /** POSITIONAL delete via DELETION VECTORS — the third row-level delete
    * shape next to copy-on-write ([[deleteKeys]]) and equality manifests
    * ([[deleteKeysMoR]]), the Delta DV / Iceberg positional-delete
    * design: rows matching `predicate` are masked by recording their
    * FILE-ABSOLUTE ROW ORDINALS in per-file roaring-bitmap sidecars —
    * O(deleted rows) metadata, zero data-file rewrites, no key manifest
    * (so reads pay a per-batch ordinal skip, not a key hash-probe, and
    * the delete needs no key column at all — any predicate works).
    *
    * Semantics and safety:
    *  - a file whose every row dies is DROPPED from the file list (a
    *    strictly better commit than an all-ones bitmap);
    *  - a later positional delete MERGES bitmaps (old sidecar ∪ new
    *    positions → new sidecar; old versions keep the old sidecar, so
    *    time travel is exact);
    *  - concurrent rewrites of a matched file fail the commit LOUDLY
    *    ([[CommitConflictException]]) — ordinals are meaningless against
    *    a rewritten file; concurrent DV deletes merge cleanly (ordinals
    *    are file-absolute, bitmap union is exact);
    *  - masked reads flow through [[readFiles]] (library) and the
    *    catalog readers (ordinal skip on the vectorized path), and
    *    [[materializeDeletes]] / [[compact]] rewrite the masks away;
    *  - the candidate scan reads RAW (a position already masked by an
    *    equality manifest may re-enter the bitmap — idempotent for
    *    reads; the changelog re-applies manifests at emit time so no
    *    row is double-deleted).
    *
    * Scale posture: DVs suit SCATTERED row deletes (GDPR keys spread
    * over many files, per-row quality kills). The bitmap build is
    * DISTRIBUTED — the candidate scan aggregates matched ordinals into
    * per-file Roaring64 blobs EXECUTOR-SIDE (`roaring_agg`, map-side
    * partial OR), so the driver collects O(affected files) compressed
    * bitmaps, never O(deleted rows) — no row cap at any delete size. A
    * predicate matching a large contiguous RANGE still belongs to
    * [[deleteWhere]]'s metadata arithmetic (cheaper: no scan at all).
    * Returns (snapshot, rows masked, files affected). */
  def deletePositions(spark: SparkSession, root: String, dataDir: String,
                      predicate: org.apache.spark.sql.Column)
      : (Snapshot, Long, Int) = {
    val first = snapshot(spark, root)
    if (first.files.isEmpty) return (first, 0L, 0)
    def uriPath(s: String) = uriPathOf(s)
    // per-file distributed bitmap build: one blob + count per file
    val matched = scanFiles(spark, first, first.files.map(_.file),
      withPos = true)
      .filter(predicate)
      .groupBy(col("__file"))
      .agg(graft.Functions.roaring_agg(col("__pos")).as("__dv"),
        count(lit(1)).as("__n"))
      .collect()
    if (matched.isEmpty) return (first, 0L, 0)
    val nMatched = matched.map(_.getLong(2)).sum
    val byPath: Map[String, org.roaringbitmap.longlong.Roaring64Bitmap] =
      matched.map { r =>
        val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
        bm.deserialize(new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1))))
        uriPath(r.getString(0)) -> bm
      }.toMap
    val conf = spark.sparkContext.hadoopConfiguration
    var affected = 0
    val snap = commitTransform(spark, root, first.keyCol, first.numBits,
      first.numHashes, { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "deletePositions: nothing committed"))
        val curPaths = cur.files.map(f => uriPath(f.file)).toSet
        byPath.keys.foreach(p => if (!curPaths.contains(p))
          throw new CommitConflictException(
            s"deletePositions: matched file $p was rewritten or removed " +
              "by a concurrent commit — row ordinals are stale; retry " +
              "against a fresh snapshot"))
        affected = 0
        cur.files.flatMap { f =>
          byPath.get(uriPath(f.file)) match {
            case None => Some(f)
            case Some(ps) =>
              affected += 1
              val bm = f.dv.map(d => readDv(conf, d._1))
                .getOrElse(new org.roaringbitmap.longlong.Roaring64Bitmap())
              bm.or(ps)
              if (bm.getLongCardinality >= f.nRows) None // fully dead: drop
              else {
                val path = s"$dataDir/dv-${java.util.UUID.randomUUID()}.rbm"
                val n = writeDv(conf, path, bm)
                Some(f.copy(dv = Some((path, n))))
              }
          }
        }.sortBy(_.file)
      }, op = Some("dv-delete"))
    (snap, nMatched, affected)
  }

  /** ONE-COMMIT delta publish — the landing half of the SQL
    * merge-on-read row-level operations ([[graft.sources.v2]]'s
    * `SupportsDelta` path, routed by `write.{update,merge,delete}.mode =
    * 'merge-on-read'`): `posByFile` masks rows by file-absolute ordinal
    * (deletion-vector growth, exactly [[deletePositions]]' merge rules —
    * old versions keep old sidecars, fully-dead files drop) and
    * `newFiles` are the statement's replacement/insert rows, stamped at
    * the committing version's sequence so they ride ABOVE every pending
    * equality manifest. Both land in ONE version: a reader never sees an
    * update's delete half without its insert half.
    *
    * Conflict rules, on top of the CAS:
    *  - a touched file rewritten/removed since `base` fails LOUD —
    *    ordinals are meaningless against other bytes
    *    ([[CommitConflictException]], the deletePositions rule);
    *  - when the statement carries REPLACEMENT rows (update/merge), a
    *    touched file whose deletion vector changed since `base`, or any
    *    equality manifest committed since, also fails loud: the
    *    replacement row was derived from a pre-image a concurrent
    *    deleter may just have masked, and re-inserting it would
    *    resurrect the row (Iceberg's validateNoConflictingDeletes);
    *    pure deletes skip this — bitmap ∪ bitmap and mask ∪ mask are
    *    idempotent whichever side wins;
    *  - CHECK constraints validate the incoming batch, re-validated if
    *    the constraint set changed under the CAS retry. */
  def commitDelta(spark: SparkSession, root: String, base: Snapshot,
                  posByFile: Map[String, org.roaringbitmap.longlong.Roaring64Bitmap],
                  newFiles: Seq[String], op: String,
                  filesSorted: Boolean = false,
                  ridFiles: Boolean = false): Snapshot = {
    require(op == "dv-delete" || op == "dv-update" || op == "dv-merge",
      s"commitDelta: unknown op '$op'")
    def uriPath(s: String) = uriPathOf(s)
    val byPath = posByFile.map { case (f, bm) => uriPath(f) -> bm }
    val batch =
      if (newFiles.isEmpty) None else Some(Parquet.read(spark, newFiles: _*))
    batch.foreach(b => checkConstraints(spark, base, b, s"commitDelta($op)"))
    val newStats0 =
      if (newFiles.isEmpty) Seq.empty
      else fileStats(spark, newFiles, base.keyCol, base.numBits,
        base.numHashes, base.zoneCols,
        spec = base.props.get(PartitionSpecProp),
        bloomCols = bloomColsOf(base.props))
        .map(s => if (ridFiles) s.copy(ridCol = true) else s)
    val newStats =
      if (filesSorted) newStats0.map(_.copy(sorted = true)) else newStats0
    val conf = spark.sparkContext.hadoopConfiguration
    val dataDir = s"$root/data"
    val baseDv = base.files.map(f => uriPath(f.file) -> f.dv).toMap
    commitTransform(spark, root, base.keyCol, base.numBits, base.numHashes,
      { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "commitDelta: nothing committed"))
        batch.foreach(b =>
          recheckConstraintsIfChanged(spark, base, cur, b, s"commitDelta($op)"))
        val curPaths = cur.files.map(f => uriPath(f.file)).toSet
        byPath.keys.foreach(p => if (!curPaths.contains(p))
          throw new CommitConflictException(
            s"commitDelta($op): matched file $p was rewritten or removed " +
              "by a concurrent commit — row ordinals are stale; retry " +
              "against a fresh snapshot"))
        if (op != "dv-delete") {
          cur.files.foreach { f =>
            val p = uriPath(f.file)
            if (byPath.contains(p) && baseDv.get(p).exists(_ != f.dv))
              throw new CommitConflictException(
                s"commitDelta($op): file $p's deletion vector changed " +
                  "since the statement's snapshot — a replacement row may " +
                  "resurrect a concurrently-deleted pre-image; retry " +
                  "against a fresh snapshot")
          }
          if (cur.deletes.exists(_.seq > base.version))
            throw new CommitConflictException(
              s"commitDelta($op): a concurrent merge-on-read delete " +
                s"manifest landed after v${base.version} — a replacement " +
                "row may resurrect a concurrently-deleted pre-image; " +
                "retry against a fresh snapshot")
        }
        val grown = cur.files.flatMap { f =>
          byPath.get(uriPath(f.file)) match {
            case None => Some(f)
            case Some(ps) =>
              val bm = f.dv.map(d => readDv(conf, d._1))
                .getOrElse(new org.roaringbitmap.longlong.Roaring64Bitmap())
              bm.or(ps)
              if (bm.getLongCardinality >= f.nRows) None // fully dead: drop
              else {
                val path = s"$dataDir/dv-${java.util.UUID.randomUUID()}.rbm"
                val n = writeDv(conf, path, bm)
                Some(f.copy(dv = Some((path, n))))
              }
          }
        }
        (grown ++ newStats).sortBy(_.file)
      }, op = Some(op))
  }

  /** MERGE-ON-READ delete (Iceberg v2 equality deletes): publish the key
    * set as a DELETE MANIFEST and commit with every data file carried by
    * reference — O(keys) IO total, no data rewrite at all. This is the
    * 100 TB posture for large or scattered delete sets where
    * [[deleteKeys]]' copy-on-write would rewrite most of the table:
    * readers apply every manifest in one seq-aware anti-join
    * ([[maskedScan]]), a key APPENDED after the delete is visible again
    * (manifests scope to strictly-older files via sequence numbers), and
    * [[compact]] materializes the deletes and clears the manifests — the
    * read-amplification ⇄ write-amplification dial every v2 table tunes.
    * `keys` is a single-column frame (any integral type); it is
    * deduplicated, never collected to the driver. */
  def deleteKeysMoR(spark: SparkSession, root: String, dataDir: String,
                    keys: DataFrame, nManifestFiles: Int = 0): Snapshot = {
    require(keys.columns.length == 1,
      s"deleteKeysMoR: keys must be a single-column frame, got " +
        keys.columns.mkString(","))
    val first = snapshot(spark, root)
    val out = s"$dataDir/mordel-${java.util.UUID.randomUUID().toString}"
    val dedup = keys.select(col(keys.columns.head).cast("long").as("_del_key"))
      .filter(col("_del_key").isNotNull).distinct()
    // nManifestFiles > 0 shapes the manifest layout (the writer's
    // target-file dial); 0 leaves it to the dedup's own partitioning
    (if (nManifestFiles > 0) dedup.repartition(nManifestFiles) else dedup)
      .write.mode("overwrite").parquet(out)
    // per-manifest-file key counts + bounds: bounded metadata (one row
    // per file); zero-row part files never enter the commit
    val counts = Parquet.read(spark, listParquet(spark, out): _*)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"), min(col("_del_key")).as("mn"),
        max(col("_del_key")).as("mx"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    require(counts.nonEmpty, "deleteKeysMoR: empty key set")
    val scopeLo = counts.values.map(_._2).min
    val scopeHi = counts.values.map(_._3).max
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "deleteKeysMoR: nothing committed"))
        assertNoConflicts(spark, root, first, cur, cur.keyCol,
          scopeLo, scopeHi, "deleteKeysMoR", conflictWithAppends = false)
        cur.files
      },
      op = Some("mor-delete"),
      deriveDeletes = curOpt =>
        curOpt.map(_.deletes).getOrElse(Seq.empty) ++
          counts.toSeq.sortBy(_._1).map { case (f, (n, mn, mx)) =>
            // counts keys are input_file_name renderings — decode before
            // recording (stored paths must be directly openable)
            DeleteFile(decodeRendering(f), n, minKey = mn, maxKey = mx) })
  }

  /** [[deleteKeysMoR]] for a control-sized driver-held key set. */
  def deleteKeysMoR(spark: SparkSession, root: String, dataDir: String,
                    keys: Seq[Long]): Snapshot = {
    require(keys.nonEmpty, "deleteKeysMoR: empty key set")
    deleteKeysMoR(spark, root, dataDir,
      spark.createDataset(keys)(org.apache.spark.sql.Encoders.scalaLong)
        .toDF("_del_key"), nManifestFiles = 1)
  }

  /** MERGE-ON-READ upsert — the CDC-apply shape at 100 TB: ONE commit
    * that appends the batch as new data file(s) AND masks the batch's
    * keys in all OLDER files via a delete manifest. Total IO is O(batch)
    * regardless of table size — no touched-file detection, no rewrite
    * (contrast [[mergeRows]], the copy-on-write MERGE). Correctness
    * hangs on the sequence rule alone: the manifest and the new files
    * share the commit's version, and a manifest applies only to files
    * with a STRICTLY smaller seq — so the batch masks every older copy
    * of its keys and never itself. Upserting the same key again later
    * replaces it the same way (the older upsert file gets masked).
    * The ANSI duplicate-source-key cardinality rule applies as in
    * [[mergeRows]]. Reads pay the seq-aware manifest anti-join
    * ([[maskedScan]]) until [[compact]] materializes — the merge-on-read
    * dial. */
  def upsertRowsMoR(spark: SparkSession, root: String, dataDir: String,
                    source: DataFrame, nOutFiles: Int = 1,
                    extraProps: Map[String, String] = Map.empty): Snapshot = {
    require(nOutFiles >= 1, s"upsertRowsMoR: nOutFiles must be >= 1, got $nOutFiles")
    val first = snapshot(spark, root)
    val tableCols = first.schemaDdl
      .map(d => org.apache.spark.sql.types.StructType.fromDDL(d).fieldNames.toSeq)
      .getOrElse(read(spark, first).columns.toSeq)
    require(source.columns.toSet == tableCols.toSet,
      s"upsertRowsMoR: source columns ${source.columns.sorted.mkString(",")} " +
        s"must match table columns ${tableCols.sorted.mkString(",")}")
    val src = source.select(tableCols.map(col): _*)
    checkConstraints(spark, first, src, "upsertRowsMoR")
    // one source pass: the ANSI duplicate-key cardinality check + the
    // manifest's key bounds
    val prof = src.agg(count(lit(1)), count_distinct(col(first.keyCol)),
      min(col(first.keyCol).cast("long")),
      max(col(first.keyCol).cast("long"))).collect()(0)
    if (prof.getLong(0) == 0L) return first // empty source: no-op
    require(prof.getLong(0) == prof.getLong(1),
      s"upsertRowsMoR: ${prof.getLong(0) - prof.getLong(1)} duplicate source " +
        "key(s) — ambiguous upsert (ANSI MERGE cardinality rule)")
    val (keyLo, keyHi) = (prof.getLong(2), prof.getLong(3))
    val dataOut = s"$dataDir/morup-${java.util.UUID.randomUUID().toString}"
    src.repartition(nOutFiles).write.mode("overwrite").parquet(dataOut)
    val newFiles = listParquet(spark, dataOut)
    val newStats = fileStats(spark, newFiles, first.keyCol, first.numBits,
      first.numHashes, first.zoneCols,
      spec = first.props.get(PartitionSpecProp),
        bloomCols = bloomColsOf(first.props))
    val manOut = s"$dataDir/mordel-${java.util.UUID.randomUUID().toString}"
    src.select(col(first.keyCol).cast("long").as("_del_key"))
      .distinct().repartition(1).write.mode("overwrite").parquet(manOut)
    val manFiles = listParquet(spark, manOut)
    val nKeys = prof.getLong(1)
    commitTransform(spark, root, first.keyCol, first.numBits, first.numHashes,
      { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "upsertRowsMoR: nothing committed"))
        assertNoConflicts(spark, root, first, cur, cur.keyCol,
          keyLo, keyHi, "upsertRowsMoR")
        recheckConstraintsIfChanged(spark, first, cur, src, "upsertRowsMoR")
        (cur.files ++ newStats).sortBy(_.file)
      },
      op = Some("mor-upsert"),
      deriveProps = curOpt =>
        curOpt.map(_.props).getOrElse(Map.empty) ++ extraProps,
      deriveDeletes = curOpt =>
        curOpt.map(_.deletes).getOrElse(Seq.empty) ++
          manFiles.map(f => DeleteFile(f, nKeys / manFiles.size,
            minKey = keyLo, maxKey = keyHi)))
  }

  /** MANIFEST compaction — Iceberg's rewrite-manifests for the delete
    * chain: merge delete manifests into fewer files WITHOUT touching any
    * data file, so a long run of streaming MoR commits stops costing one
    * more manifest file per masked read. Soundness is a pure seq
    * argument: a group of
    * manifests with seqs S merged at seq max(S) applies to exactly the
    * same files iff NO live data file's seq falls in [min(S), max(S)) —
    * greedy grouping over the sorted manifest seqs against the file-seq
    * set (driver arithmetic). Merged keys are unioned/deduped (O(keys)),
    * singleton groups carry their file by reference, the commit stamps
    * op=replace (content-preserving: readers already applied these
    * masks). Returns (snapshot, manifests before, manifests after). */
  def compactManifests(spark: SparkSession, root: String,
                       dataDir: String): (Snapshot, Int, Int) = {
    val first = snapshot(spark, root)
    if (first.deletes.size <= 1)
      return (first, first.deletes.size, first.deletes.size)
    // pre-check against the current snapshot: if no group merges, there
    // is nothing to commit (idempotent no-op); the grouping re-derives
    // inside the CAS loop regardless, so a racer cannot stale this
    val firstSeqs = first.files.map(_.seq).toSet
    val firstGroups = first.deletes.sortBy(_.seq)
      .foldLeft(List.empty[List[DeleteFile]]) {
        case (Nil, d) => List(List(d))
        case (g :: rest, d) =>
          if (!firstSeqs.exists(s => s >= g.map(_.seq).min && s < d.seq))
            (d :: g) :: rest
          else List(d) :: g :: rest
      }
    if (firstGroups.size == first.deletes.size)
      return (first, first.deletes.size, first.deletes.size)
    var nBefore = 0
    var nAfter = 0
    val snap = commitTransform(spark, root, first.keyCol, first.numBits,
      first.numHashes,
      { curOpt =>
        curOpt.getOrElse(throw new IllegalStateException(
          "compactManifests: nothing committed")).files
      },
      op = Some("replace"),
      deriveDeletes = { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "compactManifests: nothing committed"))
        val fileSeqs = cur.files.map(_.seq).toSet
        val sorted = cur.deletes.sortBy(_.seq)
        val groups = sorted.foldLeft(List.empty[List[DeleteFile]]) {
          case (Nil, d) => List(List(d))
          case (g :: rest, d) =>
            // extend the group iff no live file seq separates its span
            if (!fileSeqs.exists(s => s >= g.map(_.seq).min && s < d.seq))
              (d :: g) :: rest
            else List(d) :: g :: rest
        }.map(_.reverse).reverse
        nBefore = cur.deletes.size
        nAfter = groups.size
        groups.map {
          case Seq(single) => single
          case group =>
            val out = s"$dataDir/mordel-${java.util.UUID.randomUUID().toString}"
            Parquet.read(spark, group.map(_.file): _*)
              .select(col("_del_key")).distinct().repartition(1)
              .write.mode("overwrite").parquet(out)
            val files = listParquet(spark, out)
            require(files.size == 1,
              s"compactManifests: expected one merged file, got ${files.size}")
            val prof = Parquet.read(spark, files.head)
              .agg(count(lit(1)), min(col("_del_key")), max(col("_del_key")))
              .collect()(0)
            // seq = the group's MAX, explicitly (never restamped to the
            // commit version — that would widen its applicability)
            DeleteFile(files.head, prof.getLong(0), group.map(_.seq).max,
              prof.getLong(1), prof.getLong(2))
        }
      })
    (snap, nBefore, nAfter)
  }

  /** Targeted merge-on-read MATERIALIZATION — Iceberg's
    * rewrite-data-files with delete compaction: rewrite ONLY the files
    * some manifest may apply to (sequence + key-range arithmetic over the
    * resolved snapshot — pure driver work on the manifests' stored
    * bounds), carry every clean file by reference, clear the manifest
    * set. Cost is O(affected data), never O(table) — the maintenance op
    * that pays down a v2 table's read amplification without [[compact]]'s
    * full rewrite. Content-preserving by construction (it applies exactly
    * the masks every reader already applies), so the commit is stamped
    * op=replace and incremental readers skip it for free.
    *
    * LAYOUT-PRESERVING under a partition spec (r14, the compaction
    * rule): with no forced fan-out, tuple-pure affected files rewrite
    * 1:1 — each replacement re-sorted by the spec's base columns and
    * re-stamped `FileStat.sorted` (a declared write.sort-order sorts by
    * those columns, marker off) — so the storage-partitioned join
    * survives the mask paydown. Returns
    * (snapshot, files rewritten, files carried). */
  def materializeDeletes(spark: SparkSession, root: String, dataDir: String,
                         nOutFiles: Int = 0): (Snapshot, Int, Int) = {
    val first = snapshot(spark, root)
    if (first.deletes.isEmpty && first.files.forall(_.dv.isEmpty))
      return (first, 0, first.files.size)
    var nRe = 0
    var nCa = 0
    val snap = commitTransform(spark, root, first.keyCol, first.numBits,
      first.numHashes, { curOpt =>
        val cur = curOpt.getOrElse(throw new IllegalStateException(
          "materializeDeletes: nothing committed"))
        // rewrite set: manifest-affected files (sequence + key-range
        // arithmetic) PLUS deletion-vector'd files (their masks
        // materialize in the same pass — the DV is dropped with the
        // rewritten file)
        val (affected, clean) = cur.files.partition { f =>
          f.dv.isDefined ||
            cur.deletes.exists(d => d.seq > f.seq &&
              d.minKey <= f.maxKey && d.maxKey >= f.minKey)
        }
        val spec = cur.props.get(PartitionSpecProp)
        // LAYOUT-PRESERVING when the table is routed and the caller
        // didn't force a fan-out: each tuple-pure affected file
        // materializes 1:1 into its own replacement, re-sorted by the
        // spec's base columns and re-stamped `sorted` (declared
        // write.sort-order sorts by those columns instead, marker off)
        // — so paying down a MoR mask no longer costs the table its
        // storage-partitioned join until a recluster. The bulk path
        // remains for unrouted tables, mixed layouts and nOutFiles > 0.
        val perFile = nOutFiles == 0 && spec.isDefined &&
          affected.forall(f => f.part.exists(_._1 == spec.get))
        val declaredOrder = sortOrderColsOf(cur.props)
        val baseCols =
          spec.map(sp => parseSpec(sp).map(_.baseCol)).getOrElse(Seq.empty)
        val rewritten =
          if (affected.isEmpty) Seq.empty[FileStat]
          else if (perFile) affected.flatMap { f =>
            val out = s"$dataDir/matdel-${java.util.UUID.randomUUID().toString}"
            val sortCols = if (declaredOrder.nonEmpty) declaredOrder
              else baseCols
            val lineage = anyLineage(Seq(f))
            val df0 = readFiles(spark, cur, Seq(f.file), withIds = lineage)
              .coalesce(1)
            (if (sortCols.isEmpty) df0
             else df0.sortWithinPartitions(sortCols.map(col): _*))
              .write.mode("overwrite").parquet(out)
            val files = listParquet(spark, out)
            if (files.isEmpty) Seq.empty // fully masked: the file is gone
            else {
              val stats0 = fileStats(spark, files, cur.keyCol, cur.numBits,
                cur.numHashes, cur.zoneCols, spec = spec,
                bloomCols = bloomColsOf(cur.props))
                .map(s => if (lineage) s.copy(ridCol = true) else s)
              if (declaredOrder.isEmpty && baseCols.nonEmpty)
                stats0.map(_.copy(sorted = true))
              else stats0
            }
          }
          else {
            val out = s"$dataDir/matdel-${java.util.UUID.randomUUID().toString}"
            val lineage = anyLineage(affected)
            val masked =
              readFiles(spark, cur, affected.map(_.file), withIds = lineage)
            (if (nOutFiles > 0) masked.repartition(nOutFiles) else masked)
              .write.mode("overwrite").parquet(out)
            val files = listParquet(spark, out)
            // a fully-masked rewrite may produce no files at all
            if (files.isEmpty) Seq.empty[FileStat]
            else fileStats(spark, files, cur.keyCol, cur.numBits,
              cur.numHashes, cur.zoneCols, spec = spec,
              bloomCols = bloomColsOf(cur.props))
              .map(s => if (lineage) s.copy(ridCol = true) else s)
          }
        nRe = affected.size
        nCa = clean.size
        (clean ++ rewritten).sortBy(_.file)
      }, op = Some("replace"), deriveDeletes = _ => Seq.empty)
    (snap, nRe, nCa)
  }

  /** Row-level MERGE (upsert): for each source row, update the table row
    * with the same key (WHEN MATCHED → the source row replaces it, the
    * ANSI UPDATE SET * form) or insert it (WHEN NOT MATCHED). The scale
    * contract is the Delta/Iceberg copy-on-write MERGE shape, cheapened by
    * the stats already in the log:
    *
    *   1. ZONE PRUNE, driver arithmetic: one aggregate over the source
    *      yields its key range (and the ANSI cardinality check — duplicate
    *      source keys make the merge ambiguous and are refused); files
    *      disjoint from that range provably contain no matched key.
    *   2. TOUCHED-FILE DETECTION, exact: the key column ALONE of the
    *      zone-surviving files (column-pruned scan) semi-joins the distinct
    *      source keys; the distinct `input_file_name` set that survives is
    *      the rewrite set — a file-count-bounded control read. Blooms are
    *      deliberately NOT the gate here: a data-scale source key set
    *      cannot be probed on the driver, and the exact join also removes
    *      false-positive rewrites.
    *   3. REWRITE only the touched files: their rows anti-joined against
    *      the source keys (survivors), unioned with the WHOLE source
    *      (matched rows = updates, the rest = inserts), written as
    *      `nOutFiles` new files. Every untouched file is carried BY
    *      REFERENCE — stats untouched, no re-read.
    *
    * Cost: O(source + zone-hit keys + touched data), never O(table). The
    * commit derives inside [[commitTransform]], so a racing committer
    * forces a re-derive against the winner's snapshot. Source columns must
    * match the table schema by name (schema evolution stays the
    * [[appendFiles]] contract). Returns (snapshot, files rewritten, files
    * carried). */
  def mergeRows(spark: SparkSession, root: String, dataDir: String,
                source: DataFrame, nOutFiles: Int = 1): (Snapshot, Int, Int) = {
    require(nOutFiles >= 1, s"mergeRows: nOutFiles must be >= 1, got $nOutFiles")
    val first = snapshot(spark, root)
    val tableCols = first.schemaDdl
      .map(d => org.apache.spark.sql.types.StructType.fromDDL(d).fieldNames.toSeq)
      .getOrElse(read(spark, first).columns.toSeq)
    require(source.columns.toSet == tableCols.toSet,
      s"mergeRows: source columns ${source.columns.sorted.mkString(",")} must " +
        s"match table columns ${tableCols.sorted.mkString(",")}")
    val src = source.select(tableCols.map(col): _*)
    checkConstraints(spark, first, src, "mergeRows")
    // one source pass: key range + the ANSI duplicate-key cardinality check
    val prof = src.agg(
      min(col(first.keyCol).cast("long")), max(col(first.keyCol).cast("long")),
      count(lit(1)), count_distinct(col(first.keyCol))).collect()(0)
    if (prof.isNullAt(0)) return (first, 0, first.files.size) // empty source: no-op
    require(prof.getLong(2) == prof.getLong(3),
      s"mergeRows: ${prof.getLong(2) - prof.getLong(3)} duplicate source key(s) — " +
        "a key matched by two source rows makes the merge ambiguous (ANSI MERGE cardinality rule)")
    val (lo, hi) = (prof.getLong(0), prof.getLong(1))
    var nRewritten = 0
    var nCarried = 0
    val snap = commitTransform(spark, root, first.keyCol, first.numBits,
      first.numHashes, { curOpt =>
        val cur = curOpt.getOrElse(
          throw new IllegalStateException("mergeRows: nothing committed"))
        assertNoConflicts(spark, root, first, cur, cur.keyCol, lo, hi,
          "mergeRows")
        recheckConstraintsIfChanged(spark, first, cur, src, "mergeRows")
        val zoneHit = cur.files.filter(f => f.minKey <= hi && f.maxKey >= lo)
        val srcKeys = src.select(col(cur.keyCol)).distinct()
        val touched: Set[String] =
          if (zoneHit.isEmpty) Set.empty
          else readFiles(spark, cur, zoneHit.map(_.file))
            .select(input_file_name().as("_file"), col(cur.keyCol))
            .join(srcKeys, Seq(cur.keyCol), "leftsemi")
            .select(col("_file")).distinct()
            .collect().map(_.getString(0)).toSet
        def uriPath(s: String) = uriPathOf(s)
        val touchedPaths = touched.map(uriPath)
        val (hit, carried) = cur.files.partition(f => touchedPaths.contains(uriPath(f.file)))
        // LINEAGE through the copy-on-write MERGE (Iceberg v3's rule):
        // unmatched survivors AND matched (updated) rows keep their
        // _row_id through the materialized id column — an update
        // modifies a row, it does not create one; only true inserts
        // write a NULL id and are born into the new file's fresh rid
        // range (the central commit arithmetic). A duplicate-key target
        // (the format never enforces key uniqueness) collapses to the
        // MIN surviving id for the one replacement row — deterministic.
        val lineage = hit.nonEmpty && anyLineage(hit)
        val newData =
          if (hit.isEmpty) src // pure insert: no matched key anywhere
          else if (!lineage)
            readFiles(spark, cur, hit.map(_.file))
              .join(srcKeys, Seq(cur.keyCol), "leftanti")
              .select(tableCols.map(col): _*)
              .unionByName(src)
          else {
            val withIds = readFilesWithLineage(spark, cur, hit.map(_.file))
            val outCols = (tableCols :+ IdColName).map(col)
            val survivors = withIds
              .join(srcKeys, Seq(cur.keyCol), "leftanti")
              .select(outCols: _*)
            val targetIds = withIds
              .join(srcKeys, Seq(cur.keyCol), "leftsemi")
              .groupBy(col(cur.keyCol))
              .agg(min(col(IdColName)).as(IdColName))
            survivors.unionByName(
              src.join(targetIds, Seq(cur.keyCol), "left")
                .select(outCols: _*))
          }
        val out = s"$dataDir/merge-${java.util.UUID.randomUUID().toString}"
        newData.repartition(nOutFiles).write.mode("overwrite").parquet(out)
        val newStats = fileStats(spark, listParquet(spark, out),
          cur.keyCol, cur.numBits, cur.numHashes, cur.zoneCols,
          spec = cur.props.get(PartitionSpecProp),
              bloomCols = bloomColsOf(cur.props))
          .map(s => if (lineage) s.copy(ridCol = true) else s)
        nRewritten = hit.size
        nCarried = carried.size
        (carried ++ newStats).sortBy(_.file)
      }, op = Some("merge"))
    (snap, nRewritten, nCarried)
  }

  /** ROLLBACK: re-publish version `toVersion`'s file set (and schema) as a
    * NEW commit — the Delta RESTORE shape. History is never rewritten: the
    * rolled-back versions stay readable, and the restore itself is one
    * metadata commit (no data IO — the target's files still exist because
    * commits never delete, only [[expireSnapshots]] does; restoring past
    * the retention horizon is therefore refused by snapshot resolution).
    * Properties carry FORWARD from the current version, not the target: a
    * streaming ingest gate records how far ingest got, and reverting data
    * must not make the sink replay batches it already shipped. */
  def rollback(spark: SparkSession, root: String, toVersion: Long): Snapshot = {
    val target = snapshot(spark, root, Some(toVersion))
    commitTransform(spark, root, target.keyCol, target.numBits,
      target.numHashes, _ => target.files,
      deriveSchema = _ => target.schemaDdl, op = Some("rollback"),
      zoneCols = Some(target.zoneCols),
      // the delete-manifest set is part of the restored STATE, not a
      // property: rolling back across a MoR delete must un-delete
      deriveDeletes = _ => target.deletes)
  }

  // ---- branches (write-audit-publish) -------------------------------------

  /** Root of branch `name`'s own commit log. A branch IS a TableFormat
    * table: every operation in this object works on a branch root
    * unchanged, because data files are immutable and referenced by
    * absolute path — forking copies METADATA only. */
  def branchRoot(root: String, name: String): String = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"branchRoot: illegal branch name '$name'")
    s"$root/_branch/$name"
  }

  /** Fork a branch from the table's current (or pinned) snapshot — the
    * Iceberg/Nessie branch-create: ONE metadata commit on the branch's own
    * log carrying the parent file set BY REFERENCE (stats copied, zero
    * data IO, zero recompute), with the fork point pinned in
    * `branch.forked_from`. Staged work (appends, deletes, merges) then
    * targets the branch root and is INVISIBLE to main-table readers until
    * [[publishBranch]] — the write-audit-publish staging contract.
    *
    * Interaction with maintenance: a branch references main's data files,
    * so do not pass a live branch's data dirs to a main-root
    * [[expireSnapshots]] sweep (and vice versa) until the branch is
    * published or dropped — the sweep's referenced-set is per-log. */
  def createBranch(spark: SparkSession, root: String, name: String,
                   asOf: Option[Long] = None): Snapshot = {
    val parent = snapshot(spark, root, asOf)
    val broot = branchRoot(root, name)
    require(versions(spark, broot).isEmpty,
      s"createBranch: branch '$name' already exists at $broot")
    // the branch log CONTINUES the parent's version numbering (fork
    // commit = parent.version + 1): file/manifest sequence numbers are
    // only comparable within a monotone version line, and inherited
    // delete manifests must never apply to files the branch adds later
    val v = parent.version + 1
    if (!tryCommit(spark, broot, v, parent.keyCol, parent.numBits,
        parent.numHashes, parent.files,
        parent.props + ("branch.forked_from" -> parent.version.toString),
        parent.schemaDdl, Some("branch"), parent.zoneCols, parent.deletes))
      throw new java.util.ConcurrentModificationException(
        s"createBranch: branch '$name' appeared concurrently at $broot")
    snapshot(spark, broot)
  }

  /** Publish a branch head onto the main log — the WAP fast-forward: one
    * metadata commit (op="publish") carrying the audited branch head's
    * file set by reference. CONFLICT RULE: main must still be at the
    * branch's fork point; if another writer advanced main since the fork,
    * publishing would silently drop that writer's rows (the branch head's
    * file set supersedes, it does not compose), so the publish FAILS and
    * the staged work must be re-derived on a fresh branch — the Iceberg
    * fast-forward contract, enforced inside the commit retry loop so a
    * racer can't slip between the check and the CAS. */
  def publishBranch(spark: SparkSession, root: String, name: String): Snapshot = {
    val head = snapshot(spark, branchRoot(root, name))
    val forkedFrom = head.props.getOrElse("branch.forked_from",
      throw new IllegalStateException(
        s"publishBranch: '$name' carries no fork point — not a branch?")).toLong
    // MoR manifests the BRANCH added cannot survive the fast-forward: the
    // publish collapses the branch's commit line into one main commit, so
    // a branch-born manifest would lose its ordering against the branch's
    // own earlier files and deleted rows would resurrect. Inherited
    // manifests (seq <= fork point, shared history) carry fine.
    require(head.deletes.forall(_.seq <= forkedFrom),
      s"publishBranch: '$name' carries merge-on-read delete manifests " +
        "added on the branch — materialize them first (compact the branch)")
    commitTransform(spark, root, head.keyCol, head.numBits, head.numHashes,
      { curOpt =>
        val curV = curOpt.map(_.version).getOrElse(0L)
        if (curV != forkedFrom) throw new java.util.ConcurrentModificationException(
          s"publishBranch: main advanced to v$curV since the fork at " +
            s"v$forkedFrom — rebase: re-fork and re-apply the staged change")
        // branch-born files (seq past the fork point) re-stamp to the
        // publish version; shared-history files keep their main seq
        head.files.map(f => if (f.seq > forkedFrom) f.copy(seq = -1L) else f)
      },
      deriveProps = _ => head.props - "branch.forked_from",
      deriveSchema = _ => head.schemaDdl,
      op = Some("publish"), zoneCols = Some(head.zoneCols),
      deriveDeletes = _ => head.deletes)
  }

  /** REBASE a diverged branch onto main's CURRENT head — the escape
    * hatch [[publishBranch]]'s fast-forward refusal points at (Nessie's
    * merge, `git rebase` for the WAP flow): when main advanced past the
    * fork point, re-fork the branch from main's head and re-apply the
    * branch's net staged change in ONE branch commit, so a subsequent
    * publish fast-forwards.
    *
    * CONFLICT RULE (refused loudly otherwise): the fork-point files the
    * BRANCH touched (dropped, rewrote, or grew a deletion vector on)
    * must be DISJOINT from the ones MAIN touched since the fork —
    * overlapping edits of one file cannot compose from metadata (whose
    * bytes win?); the staged change must be re-derived instead. The
    * typical WAP shape (branch only APPENDS, main keeps ingesting)
    * always rebases: its touched set is empty.
    *
    * What the rebased commit carries: main's head files (shared files
    * the branch DV-masked take the branch's grown vector — main's copy
    * is untouched by the disjointness rule), minus shared files the
    * branch removed, plus the branch-born files RE-STAMPED to the
    * rebase version (they must sequence above main's manifests) with
    * their `_row_id` ranges REASSIGNED from the merged lineage counter
    * (branch and main drew overlapping ranges from the shared fork
    * counter; staged ids are provisional until publish). Branch-born
    * files carrying a MATERIALIZED id column are refused — their ids
    * cannot be re-ranged without a rewrite. Branch-born delete
    * manifests are refused exactly as at publish (materialize first).
    * Properties and schema: main's props carry (staged prop changes
    * must be re-applied); an add-only schema evolution on either side
    * carries, both sides evolving is refused.
    * Returns (branch snapshot, branch-born files re-applied, main files
    * carried). */
  def rebaseBranch(spark: SparkSession, root: String, name: String)
      : (Snapshot, Int, Int) = {
    val broot = branchRoot(root, name)
    val head = snapshot(spark, broot)
    val forkedFrom = head.props.getOrElse("branch.forked_from",
      throw new IllegalStateException(
        s"rebaseBranch: '$name' carries no fork point — not a branch?")).toLong
    val main = snapshot(spark, root)
    require(main.version > forkedFrom,
      s"rebaseBranch: main is at the fork point v$forkedFrom — nothing " +
        "to rebase; publish fast-forwards directly")
    require(head.deletes.forall(_.seq <= forkedFrom),
      s"rebaseBranch: '$name' carries merge-on-read delete manifests " +
        "added on the branch — materialize them first (compact the branch)")
    val fork = snapshot(spark, root, Some(forkedFrom))
    val forkStat = fork.files.map(f => f.file -> f).toMap
    val branchByFile = head.files.map(f => f.file -> f).toMap
    val mainByFile = main.files.map(f => f.file -> f).toMap
    def touched(by: Map[String, FileStat]): Set[String] =
      fork.files.flatMap { f =>
        by.get(f.file) match {
          case None => Some(f.file) // dropped or rewritten
          case Some(b) if b.dv != f.dv => Some(f.file) // vector grew
          case _ => None
        }
      }.toSet
    val branchTouched = touched(branchByFile)
    val mainTouched = touched(mainByFile)
    val overlap = branchTouched.intersect(mainTouched)
    if (overlap.nonEmpty) throw new CommitConflictException(
      s"rebaseBranch: branch '$name' and main both touched " +
        s"${overlap.size} fork-point file(s) since v$forkedFrom (e.g. " +
        s"${overlap.head}) — overlapping edits cannot compose; re-derive " +
        "the staged change on a fresh branch")
    val branchBorn = head.files.filter(_.seq > forkedFrom)
    require(branchBorn.forall(!_.ridCol),
      s"rebaseBranch: '$name' carries branch-born files with a " +
        "MATERIALIZED row-id column — their ids cannot be re-ranged " +
        "without a rewrite; re-stage or publish from a fresh fork")
    // schema: at most one side may have evolved since the fork
    val schemaDdl =
      if (head.schemaDdl == fork.schemaDdl) main.schemaDdl
      else if (main.schemaDdl == fork.schemaDdl) head.schemaDdl
      else throw new CommitConflictException(
        s"rebaseBranch: both main and branch '$name' evolved the schema " +
          "since the fork — re-derive the staged change on a fresh branch")
    val v = math.max(head.version, main.version) + 1
    // merged lineage counter: both lines drew from the fork's counter —
    // branch-born ranges reassign past BOTH
    var nextId = math.max(
      main.props.get(NextRowIdProp).map(_.toLong).getOrElse(0L),
      head.props.get(NextRowIdProp).map(_.toLong).getOrElse(0L))
    val reborn = branchBorn.map { f =>
      val f2 =
        if (f.rid < 0 || f.nRows == 0) f.copy(seq = v)
        else { val a = f.copy(seq = v, rid = nextId); nextId += f.nRows; a }
      f2
    }
    val carried = main.files.map { f =>
      if (branchTouched.contains(f.file)) branchByFile.get(f.file)
      else Some(f)
    }.collect { case Some(f) => f }
    val files = (carried ++ reborn).sortBy(_.file)
    val props = main.props +
      ("branch.forked_from" -> main.version.toString) +
      (NextRowIdProp -> nextId.toString)
    if (!tryCommit(spark, broot, v, main.keyCol, main.numBits,
        main.numHashes, files, props, schemaDdl, Some("rebase"),
        main.zoneCols, main.deletes))
      throw new java.util.ConcurrentModificationException(
        s"rebaseBranch: a concurrent commit landed on branch '$name'")
    (snapshot(spark, broot), reborn.size, carried.size)
  }

  /** Live branch names of a table: subdirectories of `_branch/` that
    * carry a commit log. */
  def listBranches(spark: SparkSession, root: String): Seq[String] = {
    val (fs, _) = fsOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(s"$root/_branch")
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => versions(spark, branchRoot(root, n)).nonEmpty)
      .sorted
  }

  /** Drop a branch: sweep the branch root's DATA FILES that no other
    * live log references, then delete its commit log. The sweep is what
    * keeps a never-published branch's staged files from leaking forever
    * — the main-root orphan sweep deliberately skips the `_branch/`
    * subtree wholesale (a live branch's staged files are referenced
    * only by the branch's own log), so branch storage hygiene lives
    * HERE. Files a surviving log references stay in place: a PUBLISHED
    * branch's files are referenced by main's commits at their absolute
    * `_branch/<name>/...` paths and must keep resolving after the drop.
    * The reference set spans main's live versions AND every other live
    * branch's versions (a sibling forked after a publish references the
    * published files too). Sweep-then-delete-log ordering makes a crash
    * mid-sweep recoverable: the branch still exists and dropBranch can
    * simply run again. A branch with live NESTED branches is refused —
    * their staged files live under this branch's root but belong to
    * logs this sweep does not walk. Do not drop a branch while a writer
    * is mid-commit on it (its just-written files look unreferenced).
    * Returns (files removed, referenced files kept). */
  def dropBranch(spark: SparkSession, root: String, name: String): (Int, Int) = {
    val broot = branchRoot(root, name)
    val (fs, _) = fsOf(spark, root)
    require(listBranches(spark, broot).isEmpty,
      s"dropBranch: '$name' has live nested branches " +
        s"(${listBranches(spark, broot).mkString(", ")}) — drop them first")
    def uriPath(s: String) = uriPathOf(s)
    val otherLogs = root +:
      listBranches(spark, root).filterNot(_ == name).map(branchRoot(root, _))
    val referenced = otherLogs.flatMap { r =>
      versions(spark, r).flatMap { v =>
        val s = snapshot(spark, r, Some(v))
        s.files.map(f => uriPath(f.file)) ++ s.deletes.map(d => uriPath(d.file))
      }
    }.toSet
    var removed = 0
    var kept = 0
    val logPath = CommitLog.table(spark, broot).dir
    def sweep(p: org.apache.hadoop.fs.Path): Boolean = { // true = dir emptied
      var empty = true
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        if (st.isDirectory) {
          if (st.getPath == logPath) empty = false // deleted after the sweep
          else if (sweep(st.getPath)) fs.delete(st.getPath, false)
          else empty = false
        } else if (referenced.contains(uriPath(st.getPath.toString))) {
          kept += 1; empty = false
        } else {
          fs.delete(st.getPath, false); removed += 1
        }
      }
      empty
    }
    sweep(new org.apache.hadoop.fs.Path(broot))
    fs.delete(logPath, true)
    // remove the branch root itself when nothing referenced remains
    if (kept == 0)
      fs.delete(new org.apache.hadoop.fs.Path(broot), true)
    (removed, kept)
  }

  // ---- metadata-only aggregates -------------------------------------------

  /** count(*)/min(key)/max(key) answered ENTIRELY from the resolved
    * snapshot's per-file stats — zero data IO, O(files) driver arithmetic.
    * Exact by construction: every commit path computes exact per-file
    * stats over the files it publishes (deletes REWRITE files, so no
    * stale counts survive). This is the Iceberg/Trino metadata-scan
    * count(*) pushdown; at 100 TB it turns a full-table aggregate into a
    * snapshot read. */
  def statsSummary(snap: Snapshot): (Long, Long, Long) = {
    require(snap.files.nonEmpty, "statsSummary: empty snapshot")
    require(snap.deletes.isEmpty,
      "statsSummary: per-file stats are not exact under merge-on-read " +
        "delete manifests — compact to materialize them first")
    // deletion vectors: COUNT stays exact (liveRows subtracts each
    // file's recorded cardinality) but BOUNDS do not — a masked row may
    // hold the extremum — so min/max refuse under any DV
    require(snap.files.forall(_.dv.isEmpty),
      "statsSummary: key extrema are not exact under deletion vectors " +
        "(a masked row may hold the extremum) — materialize deletes first")
    // an all-null-key file carries the conservative full-range sentinel
    // as bounds — real extrema come from files with at least one
    // non-null key (SQL min/max ignore nulls)
    val bounded = snap.files.filterNot(f =>
      f.nRows > 0 && f.nulls.get(snap.keyCol).contains(f.nRows))
    require(bounded.nonEmpty,
      "statsSummary: every row has a null key — no key extrema exist")
    (snap.files.map(_.nRows).sum,
      bounded.map(_.minKey).min,
      bounded.map(_.maxKey).max)
  }

  /** Hybrid range count over `zoneCol` (the key when it equals
    * `snap.keyCol`, else a declared secondary zone column): files FULLY
    * inside [lo, hi] contribute their exact row count from metadata,
    * disjoint files are skipped, and only BOUNDARY files (partial
    * overlap) are scanned — with the range predicate pushed into that
    * explicit-file-list read. Cost is O(boundary files), not O(table):
    * on a range-clustered table the boundary is ≤ 2 files regardless of
    * table size. A file lacking bounds for `zoneCol` counts as boundary
    * (scanned, never guessed). Returns (count, filesFromMeta,
    * filesScanned, filesSkipped). */
  def countRange(spark: SparkSession, snap: Snapshot, zoneCol: String,
                 lo: Long, hi: Long): (Long, Int, Int, Int) = {
    require(lo <= hi, s"countRange: empty range [$lo, $hi]")
    require(snap.deletes.isEmpty,
      "countRange: per-file row counts are not exact under merge-on-read " +
        "delete manifests — compact to materialize them first")
    def bounds(f: FileStat): Option[(Long, Long)] =
      if (zoneCol == snap.keyCol) Some((f.minKey, f.maxKey))
      else f.zones.get(zoneCol)
    // a metadata count trusts nRows only when the file provably holds no
    // null in zoneCol (nulls never satisfy a range predicate, but they
    // ARE in nRows); unknown/nonzero null counts scan as boundary
    val (inside, rest) = snap.files.partition(f =>
      f.nullFree(zoneCol) &&
        bounds(f).exists { case (mn, mx) => mn >= lo && mx <= hi })
    val (disjoint, boundary) = rest.partition(
      bounds(_).exists { case (mn, mx) => mx < lo || mn > hi })
    // liveRows: a fully-inside file's metadata count subtracts its
    // deletion vector's cardinality — exact (every raw row is in range,
    // dead rows are dead whatever their value)
    val metaCount = inside.map(_.liveRows).sum
    val scanned =
      if (boundary.isEmpty) 0L
      else {
        val bdf = readFiles(spark, snap, boundary.map(_.file))
        bdf.filter(zoneLong(bdf.schema(zoneCol).dataType, col(zoneCol))
          .between(lo, hi)).count()
      }
    (metaCount + scanned, inside.size, boundary.size, disjoint.size)
  }

  /** CHANGELOG between two committed versions — the incremental (CDF) read:
    * every row inserted or deleted by commits `fromV+1..toV`, tagged
    * (`_version`, `_change` ∈ insert|delete|update_preimage|
    * update_postimage). A merge-on-read UPDATE/MERGE whose involved
    * files all carry row lineage emits the Delta-CDF update shape —
    * pre/post images paired by a shared `_row_id` column (the MoR
    * writer persists the pre-image's id on the replacement row); every
    * other update reads as its delete+insert pair. Either shape is
    * exactly what a downstream incremental materialization needs (the
    * q47 changelog-invert contract; signed-delta consumers treat
    * update_preimage as delete and update_postimage as insert).
    *
    * Cost is O(CHANGED files), never O(table): each step diffs the two
    * versions' file LISTS (driver set arithmetic on the already-resolved
    * snapshots), reads only the added/removed files, and `exceptAll`
    * cancels the rows a rewrite merely moved (a delete commit's surviving
    * rows appear in both sides and vanish). Commits whose `op` is
    * "replace" (compaction/recluster) are content-preserving BY CONTRACT
    * and skipped with NO data IO at all — the file churn of maintenance
    * never costs the incremental reader anything. Schema evolution across
    * the interval unions by name: rows from pre-evolution files carry
    * nulls in later columns. */
  def changesBetween(spark: SparkSession, root: String,
                     fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"changesBetween: need fromV < toV, got $fromV >= $toV")
    val snaps = (fromV to toV).map(v => snapshot(spark, root, Some(v)))
    val parts = snaps.sliding(2).flatMap { case Seq(prev, cur) =>
      def tag(df: DataFrame, change: String) =
        df.select(lit(cur.version).as("_version"), lit(change).as("_change"),
          col("*"))
      if (cur.op.contains("replace")) Seq.empty
      else if (cur.op.exists(o => o == "mor-delete" || o == "mor-upsert")) {
        // a merge-on-read commit's delta is (a) the prev-version rows
        // masked by its NEW manifests — zone-prune prev's files to the
        // manifest key range (one bounded agg), read only candidates
        // (prev's own manifests applied, so an already-deleted key is
        // not re-emitted), one semi-join — and (b) for an upsert, the
        // appended batch file(s) as inserts: the delete(old)+insert(new)
        // pair downstream IVM expects, never an O(table) read.
        val prevManifests = prev.deletes.map(_.file).toSet
        val newManifests = cur.deletes.map(_.file).filterNot(prevManifests)
        val masked: Option[DataFrame] =
          if (newManifests.isEmpty) None
          else {
            val keys = spark.read.schema(DelKeySchema).parquet(newManifests: _*)
              .distinct()
            val rng = keys.agg(min(col("_del_key")), max(col("_del_key")))
              .collect()(0)
            if (rng.isNullAt(0)) None
            else {
              val (lo, hi) = (rng.getLong(0), rng.getLong(1))
              val cand = prev.files
                .filter(f => f.minKey <= hi && f.maxKey >= lo).map(_.file)
              if (cand.isEmpty) None
              else Some(readFiles(spark, prev, cand)
                .join(keys, col(prev.keyCol).cast("long") === col("_del_key"),
                  "left_semi"))
            }
          }
        val prevSet = prev.files.map(_.file).toSet
        val added = cur.files.map(_.file).filterNot(prevSet)
        val inserted: Option[DataFrame] =
          if (added.isEmpty) None else Some(readFiles(spark, cur, added))
        inserted.map(tag(_, "insert")).toSeq ++ masked.map(tag(_, "delete"))
      }
      else if (cur.op.exists(o => o == "dv-delete" || o == "dv-update" ||
          o == "dv-merge")) {
        // a DELETION-VECTOR commit's delta is (a) for each file whose
        // vector GREW, the previously-LIVE rows at the newly-masked
        // ordinals (bitmap difference, read back by position — prev's
        // equality manifests re-applied so an already-dead row is never
        // re-emitted), (b) for each file the commit DROPPED (fully
        // dead), its previously-live rows via the ordinary masked read,
        // and (c) for a dv-update/dv-merge (the SQL merge-on-read
        // row-level commit), the APPENDED batch files. O(changed rows +
        // dropped files), never O(table).
        //
        // With ROW LINEAGE resolvable on every involved file, a
        // dv-update/dv-merge emits the Delta-CDF UPDATE SHAPE: the
        // MoR update writer persists each replacement row's pre-image
        // `_row_id`, so a pre-image and its post-image SHARE an id —
        // paired here as `update_preimage`/`update_postimage` (both
        // carrying `_row_id`), with unpaired rows staying
        // delete/insert. Downstream IVM consumers no longer self-join
        // on the key to reconstruct updates.
        val conf = spark.sparkContext.hadoopConfiguration
        val prevByFile = prev.files.map(f => f.file -> f).toMap
        val snapFor = cur.copy(files = prev.files)
        val prevSet = prev.files.map(_.file).toSet
        val added = cur.files.map(_.file).filterNot(prevSet)
        val curSet = cur.files.map(_.file).toSet
        val dropped = prev.files.map(_.file).filterNot(curSet)
        val grownStats = cur.files.filter(f => prevByFile.get(f.file)
          .exists(pf => f.dv.isDefined && pf.dv.map(_._1) != f.dv.map(_._1)))
        val pairable = cur.op.exists(o => o == "dv-update" || o == "dv-merge") &&
          (grownStats.map(f => prevByFile(f.file)) ++
            prev.files.filter(f => dropped.contains(f.file)) ++
            cur.files.filter(f => added.contains(f.file)))
            .forall(f => f.rid >= 0 || f.ridCol)
        val RID = "_row_id"
        // the rows the grown vectors newly mask: ONE masked scan of the
        // grown files under prev's stats and manifests, keeping just the
        // bitmap differences' ordinals
        def grownRows(withIds: Boolean): Seq[DataFrame] =
          if (grownStats.isEmpty) Seq.empty
          else {
            val rows = maskedScan(spark, snapFor.copy(deletes = prev.deletes),
              grownStats.map(f => prevByFile(f.file)), withIds,
              only = Some(grownStats.map { f =>
                val bm = readDv(conf, f.dv.get._1)
                prevByFile(f.file).dv.foreach(d => bm.andNot(readDv(conf, d._1)))
                bm
              }))
            Seq(if (withIds) rows.withColumnRenamed(IdColName, RID) else rows)
          }
        if (pairable) {
          val pre0 = (grownRows(withIds = true) ++
            (if (dropped.isEmpty) Seq.empty
             else Seq(readFilesWithLineage(spark, snapFor, dropped)
               .withColumnRenamed(IdColName, RID))))
            .reduceOption(_.unionByName(_))
          val post0 =
            if (added.isEmpty) None
            else Some(readFilesWithLineage(spark, cur, added)
              .withColumnRenamed(IdColName, RID))
          // when BOTH images exist each side feeds three plan legs (the
          // updIds pairing plus its own semi/anti split) — materialize the
          // bounded changed-row frames once instead of re-running the
          // per-file masked reads per leg (guide §5; O(changed rows) by
          // construction, the posture this path already documents)
          val (pre, post) = (pre0, post0) match {
            case (Some(p), Some(q)) =>
              (Some(p.localCheckpoint(false)), Some(q.localCheckpoint(false)))
            case other => other
          }
          val updIds = (pre, post) match {
            case (Some(p), Some(q)) =>
              p.select(col(RID)).filter(col(RID).isNotNull)
                .join(q.select(col(RID)).filter(col(RID).isNotNull),
                  Seq(RID), "left_semi").distinct()
            case _ => null
          }
          def split(df: DataFrame, hit: String, miss: String) =
            if (updIds == null) Seq(tag(df, miss))
            else Seq(tag(df.join(updIds, Seq(RID), "left_semi"), hit),
              tag(df.join(updIds, Seq(RID), "left_anti"), miss))
          post.toSeq.flatMap(split(_, "update_postimage", "insert")) ++
            pre.toSeq.flatMap(split(_, "update_preimage", "delete"))
        } else {
          val grown = grownRows(withIds = false)
          val droppedDf =
            if (dropped.isEmpty) None
            else Some(readFiles(spark, snapFor, dropped))
          val inserted: Option[DataFrame] =
            if (added.isEmpty) None else Some(readFiles(spark, cur, added))
          inserted.map(tag(_, "insert")).toSeq ++
            (grown ++ droppedDf).reduceOption(_.unionByName(_))
              .map(tag(_, "delete")).toSeq
        }
      }
      else if (cur.deletes.map(_.file).sorted != prev.deletes.map(_.file).sorted ||
          {
            // a deletion vector changed OUTSIDE a dv-delete commit
            // (rollback across a DV boundary, branch publish): the
            // file-name diff is blind to it — full state diff below
            val pdv = prev.files.map(f => f.file -> f.dv).toMap
            cur.files.exists(f => pdv.get(f.file).exists(_ != f.dv))
          }) {
        // the manifest set changed outside a mor-delete commit (a rollback
        // across a MoR boundary, a branch publish): no file-diff shortcut
        // is sound, so fall back to the full state diff under the later
        // schema — a rare maintenance path, never the ingest hot path
        val curDf = read(spark, cur)
        val prevDf = read(spark,
          prev.copy(schemaDdl = cur.schemaDdl.orElse(prev.schemaDdl)))
        Seq(tag(curDf.exceptAll(prevDf), "insert"),
          tag(prevDf.exceptAll(curDf), "delete"))
      }
      else {
        val prevSet = prev.files.map(_.file).toSet
        val curSet = cur.files.map(_.file).toSet
        val added = cur.files.map(_.file).filterNot(prevSet)
        val removed = prev.files.map(_.file).filterNot(curSet)
        // both sides read under the LATER version's schema: add-only
        // evolution means it covers the earlier one, and removed-file rows
        // resolve absent columns to null by name — so exceptAll always
        // compares aligned rows. Removed files carry PREV's stats (they
        // are not in cur.files), so the seq lookup for manifest scoping
        // must come from prev while the schema comes from cur.
        val addedDf = if (added.isEmpty) None
          else Some(readFiles(spark, cur, added))
        val removedDf = if (removed.isEmpty) None
          else Some(readFiles(spark, cur.copy(files = prev.files), removed))
        val inserts = (addedDf, removedDf) match {
          case (None, _) => None
          case (Some(a), None) => Some(a)
          case (Some(a), Some(r)) => Some(a.exceptAll(r))
        }
        val deletes = (removedDf, addedDf) match {
          case (None, _) => None
          case (Some(r), None) => Some(r)
          case (Some(r), Some(a)) => Some(r.exceptAll(a))
        }
        inserts.map(tag(_, "insert")).toSeq ++ deletes.map(tag(_, "delete"))
      }
    }.toSeq
    if (parts.nonEmpty)
      parts.reduce(_.unionByName(_, allowMissingColumns = true))
    else {
      // no content-changing commit in the interval: a typed empty changelog
      val schema = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("_version",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("_change",
            org.apache.spark.sql.types.StringType)) ++
          snaps.last.schemaDdl.map(d =>
            org.apache.spark.sql.types.StructType.fromDDL(d).fields.toSeq)
            .getOrElse(Seq.empty))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** Advance a (group, n_rows, total) aggregate VIEW from `fromV` to `toV`
    * using the changelog ONLY — incremental view maintenance over the
    * format's own CDF: the delta is one aggregate over
    * [[changesBetween]]'s changed-file reads (inserts count +1/+value,
    * deletes −1/−value), outer-joined onto the base view; groups whose
    * row count reaches zero drop out. Cost is O(changed files + |view|),
    * never O(table) — and compaction steps cost nothing at all (the
    * op=replace skip). `baseView` must be the view's exact state at
    * `fromV` with columns (grp, n_rows, total); `groupExpr`/`valueExpr`
    * must be the same expressions that built it. */
  def refreshView(spark: SparkSession, root: String, fromV: Long, toV: Long,
                  groupExpr: org.apache.spark.sql.Column,
                  valueExpr: org.apache.spark.sql.Column,
                  baseView: DataFrame): DataFrame = {
    require(baseView.columns.toSeq == Seq("grp", "n_rows", "total"),
      s"refreshView: baseView columns must be (grp, n_rows, total), " +
        s"got ${baseView.columns.mkString(",")}")
    val sign = when(col("_change").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val delta = changesBetween(spark, root, fromV, toV)
      .groupBy(groupExpr.as("grp"))
      .agg(sum(sign).as("d_rows"), sum(sign * valueExpr).as("d_total"))
    baseView.join(delta, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L)))
          .as("n_rows"),
        (coalesce(col("total"), lit(0L)) + coalesce(col("d_total"), lit(0L)))
          .as("total"))
      .filter(col("n_rows") > 0)
  }

  /** MAINTAIN a materialized (group, n_rows, total) view of a TableFormat
    * table as another TableFormat table — the resumable incremental-view
    * loop a streaming trigger (or a cron) calls once per tick:
    *
    *   - bootstrap: no view table yet → full compute at the source's
    *     current version, committed with the CURSOR (`source_version`) in
    *     the commit properties — the same in-log gate discipline as the
    *     streaming ingest sink (no side-channel state).
    *   - advance: cursor < source head → [[refreshView]] applies the
    *     changelog delta (O(changed files + view), compaction steps free),
    *     and the new view state commits with the moved cursor.
    *   - idempotent: cursor == head → NO new commit (calling twice is a
    *     no-op, which is what makes an at-least-once caller exactly-once).
    *
    * Crash-safety is the commit's: compute-then-CAS means a crash before
    * the commit leaves the old cursor visible and the retry recomputes
    * the identical delta against identical committed state. The view
    * table keeps full TableFormat semantics — its own history, time
    * travel, and retention. Returns the view's current snapshot. */
  def maintainView(spark: SparkSession, sourceRoot: String, viewRoot: String,
                   viewDataDir: String,
                   groupExpr: org.apache.spark.sql.Column,
                   valueExpr: org.apache.spark.sql.Column): Snapshot = {
    val src = snapshot(spark, sourceRoot)
    val haveView = versions(spark, viewRoot).nonEmpty
    if (!haveView) {
      val out = s"$viewDataDir/view-${java.util.UUID.randomUUID().toString}"
      read(spark, src)
        .groupBy(groupExpr.as("grp"))
        .agg(count(lit(1)).as("n_rows"), sum(valueExpr).as("total"))
        .repartition(1).write.mode("overwrite").parquet(out)
      val files = listParquet(spark, out)
      val stats = fileStats(spark, files, "grp", 1 << 10, 3)
      val ddl = Parquet.schema(spark, files: _*).toDDL
      commitTransform(spark, viewRoot, "grp", 1 << 10, 3,
        { curOpt =>
          if (curOpt.nonEmpty) throw new IllegalStateException(
            s"maintainView: concurrent bootstrap at $viewRoot")
          stats
        },
        deriveProps = _ => Map("source_version" -> src.version.toString),
        deriveSchema = _ => Some(ddl), op = Some("append"))
    } else {
      val cur = snapshot(spark, viewRoot)
      val cursor = cur.props.getOrElse("source_version",
        throw new IllegalStateException(
          s"maintainView: view at $viewRoot carries no source_version cursor")).toLong
      if (cursor >= src.version) cur // nothing new: no commit
      else {
        val refreshed = refreshView(spark, sourceRoot, cursor, src.version,
          groupExpr, valueExpr, read(spark, cur).select("grp", "n_rows", "total"))
        val out = s"$viewDataDir/view-${java.util.UUID.randomUUID().toString}"
        refreshed.repartition(1).write.mode("overwrite").parquet(out)
        val files = listParquet(spark, out)
        val stats = fileStats(spark, files, "grp", cur.numBits, cur.numHashes)
        commitTransform(spark, viewRoot, "grp", cur.numBits, cur.numHashes,
          { curOpt =>
            // the loop is single-maintainer by contract (like the ingest
            // sink's lineage); if a racer moved the cursor, committing our
            // now-stale state would silently rewind the view — fail loud
            val now = curOpt.flatMap(_.props.get("source_version")).map(_.toLong)
            if (!now.contains(cursor)) throw new IllegalStateException(
              s"maintainView: concurrent maintainer moved the cursor " +
                s"($now != Some($cursor)) at $viewRoot")
            stats
          },
          deriveProps = _ => Map("source_version" -> src.version.toString),
          op = Some("refresh"))
      }
    }
  }

  /** CDC REPLICATION — maintain a MIRROR of a TableFormat table as
    * another TableFormat table, advanced purely from the source
    * CHANGELOG (the Delta `APPLY CHANGES INTO` / streaming-table
    * replication shape; reference analog: the incremental watermark sync
    * of `MonarchMoneyMain-v3.py:1217-1225` generalized from one sheet to
    * a whole table). One call = one tick:
    *
    *   - bootstrap: no mirror log yet → full copy of the source's
    *     current state, committed with the CURSOR (`source_version`) in
    *     the commit properties — the same in-log gate discipline as
    *     [[maintainView]] and the streaming ingest sinks.
    *   - advance: cursor < source head → [[changesBetween]] over the
    *     window, NETTED to one effect per key (the highest `_version`
    *     wins; within a version an update's insert beats its delete),
    *     applied as ONE merge-on-read commit: net-insert rows land as
    *     the batch file(s) and EVERY touched key is masked in older
    *     mirror files by a delete manifest — so a window of N source
    *     commits costs the mirror one commit and O(changes) IO, never
    *     O(table), and a source compaction inside the window costs
    *     nothing at all (the op=replace skip).
    *   - cursor-bump: the window nets to zero changes (only replace
    *     commits) → a metadata-only op=replace commit moves the cursor
    *     (sound for the MIRROR's changelog too: content-preserving).
    *   - idempotent: cursor == head → NO commit; a racing replicator
    *     that moved the cursor fails LOUD instead of silently rewinding.
    *
    * Schema evolution flows through: the mirror commits under the
    * source's current DDL, so an add-only widening upstream widens the
    * mirror on its next tick without rewriting a byte (older mirror
    * files read the new column as NULL by name). The mirror is itself a
    * full TableFormat table — history, time travel, its own changelog
    * (each tick is a well-formed mor-upsert), retention, and onward
    * replication chain all compose. Returns the mirror's snapshot. */
  def replicateTo(spark: SparkSession, sourceRoot: String, targetRoot: String,
                  targetDataDir: String, nOutFiles: Int = 1): Snapshot = {
    require(nOutFiles >= 1, s"replicateTo: nOutFiles must be >= 1, got $nOutFiles")
    val src = snapshot(spark, sourceRoot)
    def uuid() = java.util.UUID.randomUUID().toString
    if (versions(spark, targetRoot).isEmpty) {
      val out = s"$targetDataDir/repl-${uuid()}"
      read(spark, src).repartition(nOutFiles).write.mode("overwrite").parquet(out)
      val files = listParquet(spark, out)
      val stats = fileStats(spark, files, src.keyCol, src.numBits,
        src.numHashes, src.zoneCols,
        spec = src.props.get(PartitionSpecProp))
      val ddl = src.schemaDdl.orElse(
        if (files.nonEmpty) Some(Parquet.schema(spark, files: _*).toDDL)
        else None)
      commitTransform(spark, targetRoot, src.keyCol, src.numBits, src.numHashes,
        { curOpt =>
          if (curOpt.nonEmpty) throw new IllegalStateException(
            s"replicateTo: concurrent bootstrap at $targetRoot")
          stats
        },
        deriveProps = _ => Map("source_version" -> src.version.toString),
        deriveSchema = _ => ddl, op = Some("append"),
        zoneCols = Some(src.zoneCols))
    } else {
      val cur = snapshot(spark, targetRoot)
      val cursor = cur.props.getOrElse("source_version",
        throw new IllegalStateException(
          s"replicateTo: mirror at $targetRoot carries no source_version " +
            "cursor")).toLong
      if (cursor >= src.version) return cur // nothing new: no commit
      // single-replicator contract, enforced inside the CAS loop below
      def guardCursor(curOpt: Option[Snapshot]): Snapshot = {
        val now = curOpt.flatMap(_.props.get("source_version")).map(_.toLong)
        if (!now.contains(cursor)) throw new IllegalStateException(
          s"replicateTo: concurrent replicator moved the cursor " +
            s"($now != Some($cursor)) at $targetRoot")
        curOpt.get
      }
      val delta = changesBetween(spark, sourceRoot, cursor, src.version)
      // _row_id rides the changelog only for lineage-paired updates and
      // is not mirrored content — drop it with the tags
      val dataCols = delta.columns
        .filterNot(Set("_version", "_change", "_row_id")).toSeq
      val keyL = col(cur.keyCol).cast("long")
      // net effect per key over the window; ties inside one version are
      // an update's pre/post pair (paired or delete+insert) — the
      // post-state row is the later state
      val isPost = col("_change").isin("insert", "update_postimage")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keyL)
        .orderBy(col("_version").desc,
          when(isPost, 1).otherwise(0).desc)
      val netted = delta.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
      val insRows = netted.filter(isPost)
        .select(dataCols.map(col): _*)
      // every touched key masks its older mirror copy; a fresh insert's
      // key in the manifest is harmless (nothing older to mask), a
      // deleted key simply gets no replacement row
      val manOut = s"$targetDataDir/repl-del-${uuid()}"
      delta.select(keyL.as("_del_key")).filter(col("_del_key").isNotNull)
        .distinct().repartition(1).write.mode("overwrite").parquet(manOut)
      val manFiles = listParquet(spark, manOut)
      val keyProf = Parquet.read(spark, manFiles: _*)
        .agg(count(lit(1)), min(col("_del_key")), max(col("_del_key")))
        .collect()(0)
      val ddl = src.schemaDdl.orElse(cur.schemaDdl)
      if (keyProf.getLong(0) == 0L) {
        // only replace commits in the window: metadata-only cursor bump
        return commitTransform(spark, targetRoot, cur.keyCol, cur.numBits,
          cur.numHashes, curOpt => guardCursor(curOpt).files,
          deriveProps = curOpt => guardCursor(curOpt).props +
            ("source_version" -> src.version.toString),
          deriveSchema = _ => ddl, op = Some("replace"))
      }
      val dataOut = s"$targetDataDir/repl-${uuid()}"
      insRows.repartition(nOutFiles).write.mode("overwrite").parquet(dataOut)
      val newFiles = listParquet(spark, dataOut)
      // a pure-delete window nets to zero insert rows: the batch dir holds
      // only empty part files, which the row-keyed stats aggregate drops —
      // the commit then carries the manifest alone
      val newStats = if (newFiles.isEmpty) Seq.empty
        else fileStats(spark, newFiles, cur.keyCol, cur.numBits,
          cur.numHashes, cur.zoneCols,
          spec = cur.props.get(PartitionSpecProp),
              bloomCols = bloomColsOf(cur.props))
      val (nKeys, keyLo, keyHi) =
        (keyProf.getLong(0), keyProf.getLong(1), keyProf.getLong(2))
      commitTransform(spark, targetRoot, cur.keyCol, cur.numBits, cur.numHashes,
        curOpt => (guardCursor(curOpt).files ++ newStats).sortBy(_.file),
        deriveProps = curOpt => guardCursor(curOpt).props +
          ("source_version" -> src.version.toString),
        deriveSchema = _ => ddl, op = Some("mor-upsert"),
        deriveDeletes = curOpt =>
          curOpt.map(_.deletes).getOrElse(Seq.empty) ++
            manFiles.map(f => DeleteFile(f, nKeys / manFiles.size,
              minKey = keyLo, maxKey = keyHi)))
    }
  }

  /** Snapshot RETENTION + orphan sweep — the GC maintenance op every
    * append-only log needs (Iceberg's expire-snapshots + remove-orphans):
    * drop commit files older than the last `keepLast` versions (the time
    * travel horizon), then delete data files under `dataDirs` that no
    * SURVIVING version references — which reclaims both the files only
    * expired versions referenced AND the orphans crashed commit attempts
    * left behind (a failed [[graft.streaming.Streams.foreachBatchTableAppend]]
    * or delete/compact rewrite). Crash-safe by ordering: a commit file
    * deletion never breaks a surviving version (files are referenced, not
    * contained), and a crash mid-sweep leaves only still-unreferenced
    * garbage for the next sweep. Concurrent ingest carries the one caveat
    * every table format documents: a data file written but not yet
    * committed looks orphaned — `graceMs` keeps files younger than the
    * grace window out of the sweep, so only run with grace shorter than
    * an in-flight commit when ingest is quiesced. Paths compare in
    * URI-path form (listing and `input_file_name` render schemes
    * differently). Commit files a crashed committer staged but never
    * renamed are swept under the same grace window
    * ([[CommitLog.sweepStaging]]). Returns (expired versions, deleted
    * data files). */
  def expireSnapshots(spark: SparkSession, root: String, keepLast: Int,
                      dataDirs: Seq[String],
                      graceMs: Long = 3600000L,
                      olderThanMs: Long = 0L): (Seq[Long], Seq[String]) = {
    // the grace default is DELIBERATELY an hour: with graceMs=0 a file
    // written by a commit that lands after this sweep's version listing
    // would look orphaned and be deleted out from under the new snapshot
    // — pass 0 only with ingest quiesced
    require(keepLast >= 1, s"expireSnapshots: keepLast must be >= 1, got $keepLast")
    val (fs, _) = fsOf(spark, root)
    val log = CommitLog.table(spark, root)
    val listing = log.listing
    val vs = listing.map(_._1)
    // named refs (tags) PROTECT their versions from the horizon — the
    // Iceberg ref-retention rule: "prod points at v7" must keep v7
    // readable however far the head advances
    val tagged = snapshot(spark, root, Some(vs.last)).props.collect {
      case (k, v) if k.startsWith(RefPrefix) => v.toLong
    }.toSet
    val (candidates, protectedVs) =
      vs.dropRight(keepLast).partition(v => !tagged(v))
    // TIME-BASED retention (olderThanMs > 0, the "keep 7 days"
    // operational shape): a candidate expires only when its commit file
    // is older than the horizon — commit mtimes are the SAME clock
    // TIMESTAMP AS OF resolves by, so what time travel can still reach
    // is exactly what age retention keeps
    val (expired, ageProtected) =
      if (olderThanMs <= 0L) (candidates, Seq.empty[Long])
      else {
        val ageCutoff = System.currentTimeMillis() - olderThanMs
        val mtime = listing.toMap
        candidates.partition(v => mtime(v) < ageCutoff)
      }
    val survivors = vs.takeRight(keepLast) ++ protectedVs ++ ageProtected
    def uriPath(s: String) = uriPathOf(s)
    val referenced = survivors
      .flatMap { v =>
        val s = snapshot(spark, root, Some(v))
        // delete manifests and DV sidecars are live state: sweeping one
        // would resurrect its deleted rows in every surviving version
        // that references it
        s.files.map(f => uriPath(f.file)) ++
          s.files.flatMap(_.dv.map(d => uriPath(d._1))) ++
          s.deletes.map(d => uriPath(d.file))
      }
      .toSet
    // phase 1: expire commit files (readers of surviving versions are
    // untouched — their commit files carry their complete file sets)
    expired.foreach(log.delete)
    // phase 2: orphan sweep over the data dirs (recursive; the log dir is
    // never under a data dir by layout). The `_branch` subtree is SKIPPED
    // wholesale: a live WAP branch's staged data files are referenced
    // only by the BRANCH's log, so the main log's referenced-set would
    // misread them as orphans and destroy staged work — branch cleanup
    // belongs to dropBranch + a branch-root sweep, never the main sweep.
    val cutoff = System.currentTimeMillis() - graceMs
    val removed = Seq.newBuilder[String]
    def sweep(p: org.apache.hadoop.fs.Path): Unit =
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        if (st.isDirectory) {
          if (!CommitLog.isLogDir(st.getPath.getName) &&
              st.getPath.getName != "_branch")
            sweep(st.getPath)
        } else if ((st.getPath.getName.endsWith(".parquet") ||
            st.getPath.getName.endsWith(".rbm")) &&
            !referenced.contains(uriPath(st.getPath.toString)) &&
            st.getModificationTime < cutoff) {
          fs.delete(st.getPath, false)
          removed += st.getPath.toString
        }
      }
    dataDirs.foreach(d => sweep(new org.apache.hadoop.fs.Path(d)))
    log.sweepStaging(graceMs)
    (expired, removed.result())
  }

  // ---- metadata introspection tables --------------------------------------

  /** One row per committed version — the Iceberg `history`/`snapshots`
    * metadata table as a DataFrame: version, operation, file/manifest
    * counts and the per-file-stats row total. PURE LOG READS (one commit
    * file per version), zero data IO — `meta_rows` is the scan-free
    * metadata total, which is intentionally STALE under merge-on-read
    * manifests (the same honesty contract as [[statsSummary]]'s refusal;
    * here the stale number is the point — it shows what the log claims
    * without reading data). */
  def historyTable(spark: SparkSession, root: String): DataFrame = {
    val rows = versions(spark, root).map { v =>
      val s = snapshot(spark, root, Some(v))
      (v, s.op.getOrElse(""), s.files.size.toLong, s.deletes.size.toLong,
        s.deletes.map(_.nKeys).sum, s.files.map(_.nRows).sum)
    }
    spark.createDataFrame(rows).toDF("version", "op", "n_files",
      "n_delete_files", "n_delete_keys", "meta_rows")
  }

  /** The `t$refs` metadata table (Iceberg's refs-table idiom): one row
    * per named reference — TAGS (immutable version pins from the
    * `ref.*` props, the TIMESTAMP/VERSION AS OF anchors retention
    * protects) and live BRANCHES (each with its own head version).
    * Pure log/props arithmetic. */
  def refsTable(spark: SparkSession, root: String): DataFrame = {
    val head = snapshot(spark, root)
    val tags = head.props.collect {
      case (k, v) if k.startsWith(RefPrefix) =>
        (k.stripPrefix(RefPrefix), "tag", v.toLong)
    }.toSeq
    val branches = listBranches(spark, root).map { b =>
      (b, "branch", snapshot(spark, branchRoot(root, b)).version)
    }
    spark.createDataFrame((tags ++ branches).sortBy(r => (r._2, r._1)))
      .toDF("name", "type", "version")
  }

  /** The `t$manifests` metadata table: one row per PENDING READ MASK of
    * the resolved snapshot — equality-delete manifests (key count + key
    * bounds) and deletion-vector sidecars (masked-ordinal cardinality,
    * anchored to their data file). The operational dial this surfaces:
    * total read amplification a `CALL materialize_deletes` would pay
    * down, queryable before deciding to run it. */
  def manifestsTable(spark: SparkSession, snap: Snapshot): DataFrame = {
    val eq = snap.deletes.map(d => ("equality", d.file, d.seq, d.nKeys,
      null: java.lang.Long, null: String))
    val dvs = snap.files.collect {
      case f if f.dv.isDefined =>
        ("dv", f.dv.get._1, f.seq, f.dv.get._2,
          java.lang.Long.valueOf(f.nRows), f.file)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize((eq ++ dvs).map {
        case (k, fl, sq, n, rows, df) =>
          org.apache.spark.sql.Row(k, fl, sq, n, rows, df)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("file",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("seq",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_masked",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("data_file_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("data_file",
          org.apache.spark.sql.types.StringType))))
  }

  /** One row per data file of a resolved snapshot — the Iceberg `files`
    * metadata table: path, commit sequence, key bounds, row count, and
    * the declared secondary zone bounds. Driver arithmetic over the
    * already-resolved snapshot, zero IO of any kind. */
  def filesTable(spark: SparkSession, snap: Snapshot): DataFrame = {
    val rows = snap.files.map { f =>
      (f.file, f.seq, f.minKey, f.maxKey, f.nRows,
        snap.zoneCols.flatMap(c => f.zones.get(c).map { case (mn, mx) =>
          s"$c:[$mn,$mx]" }).mkString(";"))
    }
    spark.createDataFrame(rows).toDF("file", "seq", "min_key", "max_key",
      "n_rows", "zone_bounds")
  }

  /** The `t$partitions` metadata table (the Iceberg partitions-table
    * idiom): one row per live PARTITION VALUE — tuple (term long images
    * joined "/", the routed writers' value space), file count, row
    * count, and total bytes — from pure snapshot arithmetic, no data
    * IO. Files without a current-spec tuple (pre-spec commits,
    * compaction across values) aggregate under a NULL partition: stated
    * mixed layout, never a guess. `bytes` is NULL when any member file
    * predates byte stats. Requires a declared spec — a partitions table
    * over an undeclared layout would be an invented answer. */
  def partitionsTable(spark: SparkSession, snap: Snapshot): DataFrame = {
    val spec = snap.props.getOrElse(PartitionSpecProp,
      throw new IllegalArgumentException(
        s"partitionsTable: no '$PartitionSpecProp' declared at ${snap.root}"))
    val rows = snap.files
      .groupBy(_.part.collect { case (s, vals) if s == spec => vals })
      .toSeq
      .map { case (tuple, files) =>
        org.apache.spark.sql.Row(
          tuple.map(_.mkString("/")).orNull,
          files.size.toLong,
          files.map(_.nRows).sum,
          if (files.forall(_.bytes >= 0)) files.map(_.bytes).sum
          else null)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("part",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_files",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bytes",
          org.apache.spark.sql.types.LongType))))
  }

  /** Data files under a just-written parquet directory (one listing). */
  def listParquet(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fsOf(spark, dir)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
  }

  /** [[listParquet]] descending into subdirectories — what a
    * `partitionBy`-routed write produces ([[appendPartitioned]]). */
  def listParquetRecursive(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, p) = fsOf(spark, dir)
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet"))
        out += st.getPath.toString
    }
    out.result().sorted
  }
}
