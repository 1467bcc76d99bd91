package graft.operators

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Transactional CATALOG — atomic MULTI-TABLE commits over
  * [[TableFormat]] tables (the Nessie / Iceberg-REST-catalog
  * transaction shape; reference analog: the reference's single
  * spreadsheet binding N sheets whose tabs update together,
  * `MonarchMoneyMain-v3.py:1120-1180` — generalized to versioned
  * pointers). A single-table log gives per-table atomicity; what it
  * cannot give is a CONSISTENT view across tables — a reader of table A
  * at v5 and table B at v3 can observe a fact and its derived aggregate
  * out of step. The catalog closes that gap with one more level of the
  * same machinery: a [[CommitLog]] (`<croot>/_catlog`, the log every
  * table uses too) of catalog commits, each carrying the complete
  * `name -> (table root, pinned version)` map. A writer prepares its
  * per-table commits FIRST (each a normal TableFormat commit —
  * uncommitted-to-catalog versions are simply invisible to catalog
  * readers), then swings every pointer in ONE catalog commit; a reader
  * resolves the catalog ONCE and pins each table at its recorded
  * version, so it sees either all of a transaction's tables or none of
  * it. Snapshot isolation composes:
  * pinned table versions are immutable file sets, so a catalog snapshot
  * is reproducible indefinitely (until retention), and catalog time
  * travel is cross-table time travel.
  *
  * Scale shape: a catalog commit is one tiny JSON file — O(tables)
  * metadata, zero data IO — and resolving it is one read. The
  * optimistic CAS serializes concurrent transactions; losers re-derive
  * against the winner's map, so disjoint-table transactions compose.
  * Same-table racers serialize last-writer-wins UNLESS the transaction
  * pins its expected versions with [[publish]]'s `guard` — pass the
  * guard whenever the new pointer was DERIVED from the old state
  * (refresh, replication), so a stale derivation fails loudly instead
  * of silently undoing the winner. */
object Catalog {

  /** A pinned table pointer: the table's log root and the version this
    * catalog snapshot binds it to. */
  final case class TableRef(root: String, version: Long)

  /** All committed catalog versions, ascending — one directory listing. */
  def versions(spark: SparkSession, croot: String): Seq[Long] =
    CommitLog.catalog(spark, croot).versions

  private def render(version: Long, tables: Map[String, TableRef]): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val entries = tables.toSeq.sortBy(_._1).map { case (n, r) =>
      s""""${esc(n)}":{"root":"${esc(r.root)}","version":${r.version}}"""
    }.mkString(",")
    s"""{"version":$version,"tables":{$entries}}"""
  }

  private def parse(text: String): (Long, Map[String, TableRef]) = {
    val node = new ObjectMapper().readTree(text)
    val t = node.get("tables")
    val it = t.fieldNames()
    val m = Map.newBuilder[String, TableRef]
    while (it.hasNext) {
      val n = it.next()
      m += n -> TableRef(t.get(n).get("root").asText(),
        t.get(n).get("version").asLong())
    }
    (node.get("version").asLong(), m.result())
  }

  /** Resolve one catalog snapshot — the single read a cross-table query
    * does before pinning its tables. `asOf` time-travels the whole
    * catalog. Returns (catalog version, table map). */
  def resolve(spark: SparkSession, croot: String,
              asOf: Option[Long] = None): (Long, Map[String, TableRef]) = {
    val log = CommitLog.catalog(spark, croot)
    val v = asOf.getOrElse {
      val vs = log.versions
      require(vs.nonEmpty, s"resolve: no catalog commits at $croot")
      vs.last
    }
    require(log.exists(v), s"resolve: no catalog version $v at $croot")
    parse(log.read(v))
  }

  /** Publish catalog version `version` ([[CommitLog.tryCommit]]);
    * false = another committer won this version. */
  def tryCommit(spark: SparkSession, croot: String, version: Long,
                tables: Map[String, TableRef]): Boolean = {
    require(tables.nonEmpty, "tryCommit: empty table map")
    CommitLog.catalog(spark, croot).tryCommit(version,
      render(version, tables).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Optimistic catalog transaction: derive the next table map from the
    * current one (None = first commit), publish at version+1, re-derive
    * on a CAS loss. Transactions touching DISJOINT tables compose
    * through the retry; a derive that finds its table moved should
    * throw — silently overwriting a racer's pointer would undo their
    * commit. Returns (catalog version, committed map). */
  def commitTransform(spark: SparkSession, croot: String,
                      derive: Option[Map[String, TableRef]] => Map[String, TableRef])
      : (Long, Map[String, TableRef]) = {
    val log = CommitLog.catalog(spark, croot)
    log.retry {
      val vs = log.versions
      val cur = vs.lastOption.map(v => resolve(spark, croot, Some(v))._2)
      val next = vs.lastOption.getOrElse(0L) + 1L
      val tables = derive(cur)
      if (tryCommit(spark, croot, next, tables)) Some((next, tables)) else None
    }
  }

  /** The common transaction: atomically swing the pointers for
    * `updates` (table name -> already-committed TableFormat snapshot),
    * leaving every other catalog entry untouched. The per-table commits
    * happened BEFORE this call — until the catalog commit lands they are
    * invisible to catalog readers, which is exactly the
    * write-then-publish discipline of [[TableFormat]] branches. A
    * `guard` map pins the expected CURRENT catalog version of named
    * tables: if a racer moved one, the transaction fails loudly instead
    * of publishing a pointer derived from stale reads. */
  def publish(spark: SparkSession, croot: String,
              updates: Map[String, TableFormat.Snapshot],
              guard: Map[String, Long] = Map.empty)
      : (Long, Map[String, TableRef]) = {
    require(updates.nonEmpty, "publish: no updates")
    commitTransform(spark, croot, { cur =>
      val base = cur.getOrElse(Map.empty)
      guard.foreach { case (n, expected) =>
        val now = base.get(n).map(_.version)
        if (!now.contains(expected)) throw new IllegalStateException(
          s"publish: table '$n' moved ($now != Some($expected)) — " +
            "transaction derived from a stale catalog read")
      }
      base ++ updates.map { case (n, s) => n -> TableRef(s.root, s.version) }
    })
  }

  /** Pin a table out of a catalog snapshot: the TableFormat snapshot the
    * catalog version binds `name` to. */
  def snapshotOf(spark: SparkSession, croot: String, name: String,
                 asOf: Option[Long] = None): TableFormat.Snapshot = {
    val (_, tables) = resolve(spark, croot, asOf)
    val ref = tables.getOrElse(name, throw new IllegalArgumentException(
      s"snapshotOf: catalog has no table '$name' " +
        s"(have: ${tables.keys.toSeq.sorted.mkString(",")})"))
    TableFormat.snapshot(spark, ref.root, Some(ref.version))
  }
}
