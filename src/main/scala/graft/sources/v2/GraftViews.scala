package graft.sources.v2

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, View, ViewChange, ViewInfo}
import org.apache.spark.sql.types.{DataType, StructType}

/** PERSISTED SQL VIEWS for the graft catalog (`ViewCatalog`) — `CREATE
  * VIEW graft.v AS SELECT ...` stores the view TEXT plus its analyzed
  * schema as one JSON document under `<warehouse>/_views/`, so every
  * session that mounts the catalog resolves the same definition (the
  * Iceberg view-spec idea, one engine's dialect). Views are metadata
  * only: the stored SQL re-analyzes at read time against the CURRENT
  * table state, so a view over a graft table follows appends, schema
  * evolution and time travel exactly like the query it names.
  *
  * Storage layout mirrors the catalog's namespace-as-directory rule
  * (`_views/<ns...>/<name>.json`); the underscore root keeps view
  * documents out of table and namespace listings. Writes are staged and
  * renamed so a crashed CREATE never leaves a half-written definition,
  * and CREATE refuses an existing name (no silent replace outside
  * `CREATE OR REPLACE`, which Spark routes through [[replaceView]]).
  * Reference analog: the reference exposes each report as a saved
  * GraphQL operation (`lib:947-1010`) — here the saved artifact is ANSI
  * SQL in the engine's own catalog. */
private[v2] object GraftViews {
  private val mapper = new ObjectMapper()

  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  private def viewPath(warehouse: String, ident: Identifier) =
    new org.apache.hadoop.fs.Path(
      (ident.namespace() :+ s"${ident.name()}.json")
        .mkString(s"$warehouse/_views/", "/", ""))

  /** Publish a view document ([[graft.operators.CommitLog.publish]]):
    * a create refuses an existing name; a replace swaps the document in
    * one namesystem op, so a concurrent SELECT resolving through
    * ViewSubstitution never observes a missing file mid-replace. Note
    * alter() above this layer is a read-modify-write with no lock: two
    * concurrent SetProperty calls can lose one update (last writer
    * wins) — views are low-churn metadata, so the race is documented
    * rather than locked. */
  private def write(p: org.apache.hadoop.fs.Path, doc: String,
                    replace: Boolean): Unit =
    if (!graft.operators.CommitLog.publish(
        SparkSession.active.sparkContext.hadoopConfiguration, p, p.getParent,
        _.write(doc.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        overwrite = replace))
      throw new IllegalStateException(s"graft views: lost a create race at $p")

  private def render(ident: Identifier, sql: String, currentCatalog: String,
                     currentNamespace: Array[String], schema: StructType,
                     queryColumnNames: Array[String],
                     columnAliases: Array[String],
                     columnComments: Array[String],
                     properties: java.util.Map[String, String]): String = {
    val root = mapper.createObjectNode()
    root.put("sql", sql)
    root.put("currentCatalog", currentCatalog)
    val ns = root.putArray("currentNamespace")
    currentNamespace.foreach(ns.add)
    root.put("schema", schema.json)
    def arr(name: String, vs: Array[String]): Unit = {
      val a = root.putArray(name)
      Option(vs).getOrElse(Array.empty[String]).foreach(a.add)
    }
    arr("queryColumnNames", queryColumnNames)
    arr("columnAliases", columnAliases)
    arr("columnComments", columnComments)
    val props = root.putObject("properties")
    properties.forEach((k, v) => { props.put(k, v); () })
    root.put("name", (ident.namespace() :+ ident.name()).mkString("."))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def parse(viewName: String, doc: String): View = new View {
    private val node = mapper.readTree(doc)
    private def strings(field: String): Array[String] = {
      val n = node.get(field)
      if (n == null) Array.empty
      else (0 until n.size()).map(i => n.get(i).asText()).toArray
    }
    override val name: String = viewName
    override val query: String = node.get("sql").asText()
    override val currentCatalog: String = node.get("currentCatalog").asText()
    override val currentNamespace: Array[String] = strings("currentNamespace")
    override val schema: StructType =
      DataType.fromJson(node.get("schema").asText()).asInstanceOf[StructType]
    override val queryColumnNames: Array[String] = strings("queryColumnNames")
    override val columnAliases: Array[String] = strings("columnAliases")
    override val columnComments: Array[String] = strings("columnComments")
    override val properties: java.util.Map[String, String] = {
      val m = new java.util.HashMap[String, String]()
      val p = node.get("properties")
      if (p != null) p.fields().forEachRemaining(e =>
        m.put(e.getKey, e.getValue.asText()))
      m
    }
  }

  // ---- resolution fast path: ViewSubstitution probes every unresolved
  // `<cat>.<name>` reference, which on an object store would be one
  // HEAD request per relation per query. A warehouse with NO `_views`
  // root (the common case) answers from this negative cache instead;
  // negatives expire after 30 s so views created by ANOTHER process
  // appear within that window, and any same-process create invalidates
  // immediately. Positive knowledge is kept for the process lifetime —
  // once views exist, per-name probes are the honest cost. ----
  private val NegativeTtlMs = 30000L
  private val noViewsUntil =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val hasViews =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def anyViews(warehouse: String): Boolean = {
    if (hasViews.contains(warehouse)) return true
    val until = noViewsUntil.get(warehouse)
    val now = System.currentTimeMillis()
    if (until != null && now < until) return false
    val root = new org.apache.hadoop.fs.Path(s"$warehouse/_views")
    val found = fsOf(root).exists(root)
    if (found) { hasViews.add(warehouse); noViewsUntil.remove(warehouse) }
    else noViewsUntil.put(warehouse, now + NegativeTtlMs)
    found
  }

  def exists(warehouse: String, ident: Identifier): Boolean = {
    if (!anyViews(warehouse)) return false
    val p = viewPath(warehouse, ident)
    fsOf(p).exists(p)
  }

  def load(warehouse: String, ident: Identifier): View = {
    val p = viewPath(warehouse, ident)
    val fs = fsOf(p)
    if (!fs.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val in = fs.open(p)
    val doc =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    parse((ident.namespace() :+ ident.name()).mkString("."), doc)
  }

  def create(warehouse: String, info: ViewInfo, replace: Boolean): View = {
    val p = viewPath(warehouse, info.ident())
    if (!replace && fsOf(p).exists(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident())
    write(p, render(info.ident(), info.sql(), info.currentCatalog(),
      info.currentNamespace(), info.schema(), info.queryColumnNames(),
      info.columnAliases(), info.columnComments(), info.properties()),
      replace)
    hasViews.add(warehouse)
    noViewsUntil.remove(warehouse)
    load(warehouse, info.ident())
  }

  def alter(warehouse: String, ident: Identifier,
            changes: Seq[ViewChange]): View = {
    val v = load(warehouse, ident) // throws NoSuchViewException
    val props = new java.util.HashMap[String, String](v.properties())
    changes.foreach {
      case c: ViewChange.SetProperty => props.put(c.property(), c.value())
      case c: ViewChange.RemoveProperty => props.remove(c.property())
      case c => throw new IllegalArgumentException(
        s"graft views: unsupported ALTER VIEW change $c")
    }
    val p = viewPath(warehouse, ident)
    write(p, render(ident, v.query, v.currentCatalog,
      v.currentNamespace, v.schema, v.queryColumnNames, v.columnAliases,
      v.columnComments, props), replace = true)
    load(warehouse, ident)
  }

  def drop(warehouse: String, ident: Identifier): Boolean = {
    val p = viewPath(warehouse, ident)
    val fs = fsOf(p)
    fs.exists(p) && fs.delete(p, false)
  }

  def rename(warehouse: String, from: Identifier, to: Identifier): Unit = {
    val src = viewPath(warehouse, from)
    val dst = viewPath(warehouse, to)
    val fs = fsOf(src)
    if (!fs.exists(src))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    if (fs.exists(dst))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(to)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new IllegalStateException(
        s"graft views: rename $src -> $dst failed")
  }

  def list(warehouse: String, namespace: Array[String]): Array[Identifier] = {
    val base = new org.apache.hadoop.fs.Path(
      (namespace :+ "").mkString(s"$warehouse/_views/", "/", "").stripSuffix("/"))
    val fs = fsOf(base)
    if (!fs.exists(base)) Array.empty
    else fs.listStatus(base).filter(_.isFile)
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map(n => Identifier.of(namespace, n.stripSuffix(".json")))
  }
}
