package graft

/** PERSISTED VIEWS in the graft catalog — stored SQL documents under
  * the warehouse, DDL via `CALL graft.system.{create_view, drop_view,
  * rename_view, list_views}` (OSS Spark refuses CREATE VIEW DDL on
  * non-session catalogs), reads expanded at resolution time by
  * [[graft.plans.ViewSubstitution]] so a SELECT re-analyzes the stored
  * text against the current table state. */
class GraftViewsSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft_views").toString
    spark.conf.set("spark.sql.catalog.vcat",
      "graft.sources.v2.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.vcat.warehouse", wh)
    spark.sql("CREATE TABLE vcat.t (k BIGINT, v BIGINT)")
    spark.range(20).selectExpr("id AS k", "id * 3 AS v")
      .createOrReplaceTempView("views_src")
    spark.sql("INSERT INTO vcat.t SELECT * FROM views_src")
    wh
  }

  test("create_view persists; SELECT re-analyzes the stored SQL and " +
      "follows table appends") {
    warehouse
    val r = spark.sql("CALL vcat.system.create_view('small', " +
      "'SELECT k, v * 2 AS w FROM vcat.t WHERE k < 5')").collect()(0)
    assert(r.getString(0) == "small" && r.getLong(1) == 2, r)
    val rows = spark.sql("SELECT k, w FROM vcat.small ORDER BY k")
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(rows.toSeq == (0L until 5L).map(k => (k, k * 6)))
    // views are text, not snapshots: an append shows up on re-read
    spark.range(20, 25).selectExpr("id AS k", "id * 3 AS v")
      .createOrReplaceTempView("views_src2")
    spark.sql("INSERT INTO vcat.t SELECT * FROM views_src2")
    spark.sql("CALL vcat.system.create_view('all_n', " +
      "'SELECT count(*) AS n FROM vcat.t')")
    assert(spark.sql("SELECT n FROM vcat.all_n").collect()(0).getLong(0) == 25)
    // views compose: a view over a view expands layer by layer
    spark.sql("CALL vcat.system.create_view('nested', " +
      "'SELECT sum(w) AS sw FROM vcat.small')")
    assert(spark.sql("SELECT sw FROM vcat.nested").collect()(0).getLong(0) ==
      (0L until 5L).map(_ * 6).sum)
  }

  test("create refuses duplicates and table-name collisions; replace " +
      "swaps; drop removes; list_views lists") {
    warehouse
    spark.sql("CALL vcat.system.create_view('sv1', 'SELECT k FROM vcat.t')")
    intercept[Exception] {
      spark.sql("CALL vcat.system.create_view('sv1', 'SELECT v FROM vcat.t')")
        .collect()
    }
    intercept[Exception] { // a view may not shadow (or be shadowed by) a table
      spark.sql("CALL vcat.system.create_view('t', 'SELECT k FROM vcat.t')")
        .collect()
    }
    spark.sql("CALL vcat.system.create_view('sv1', " +
      "'SELECT v FROM vcat.t', replace => true)")
    assert(spark.sql("SELECT * FROM vcat.sv1").schema.fieldNames.toSeq ==
      Seq("v"))
    val listed = spark.sql("CALL vcat.system.list_views()").collect()
      .map(_.getString(0)).toSet
    assert(listed.contains("sv1"), listed)
    assert(spark.sql("CALL vcat.system.drop_view('sv1')").collect()(0)
      .getLong(0) == 1L)
    assert(spark.sql("CALL vcat.system.drop_view('sv1')").collect()(0)
      .getLong(0) == 0L)
    intercept[Exception] { spark.sql("SELECT * FROM vcat.sv1").collect() }
  }

  test("rename moves the document; occupied targets refuse") {
    warehouse
    spark.sql("CALL vcat.system.create_view('rv', 'SELECT k FROM vcat.t')")
    spark.sql("CALL vcat.system.rename_view('rv', 'rv2')")
    assert(spark.sql("SELECT count(*) AS n FROM vcat.rv2").collect()(0)
      .getLong(0) > 0)
    intercept[Exception] { spark.sql("SELECT * FROM vcat.rv").collect() }
    spark.sql("CALL vcat.system.create_view('rv3', 'SELECT v FROM vcat.t')")
    intercept[Exception] {
      spark.sql("CALL vcat.system.rename_view('rv2', 'rv3')").collect()
    }
  }

  test("a second catalog mount over the same warehouse resolves the view") {
    warehouse
    spark.sql("CALL vcat.system.create_view('shared', " +
      "'SELECT sum(v) AS sv FROM vcat.t')")
    spark.conf.set("spark.sql.catalog.vcat2",
      "graft.sources.v2.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.vcat2.warehouse", warehouse)
    val n = spark.sql("SELECT sv FROM vcat2.shared").collect()(0).getLong(0)
    // the stored text references vcat.t catalog-qualified, so the
    // cross-mount read resolves the same table
    assert(n == spark.sql("SELECT sum(v) FROM vcat.t").collect()(0).getLong(0))
  }

  test("a reference cycle fails loudly instead of hanging") {
    warehouse
    // create both legs; the second replaces a stub so both texts analyze
    spark.sql("CALL vcat.system.create_view('cyc_b', 'SELECT k FROM vcat.t')")
    spark.sql("CALL vcat.system.create_view('cyc_a', " +
      "'SELECT k FROM vcat.cyc_b')")
    spark.sql("CALL vcat.system.create_view('cyc_b', " +
      "'SELECT k FROM vcat.cyc_a', replace => true)")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM vcat.cyc_a").collect()
    }
    assert(e.getMessage != null, e.toString)
  }

  test("a view resolves against its STORED context: an unqualified body " +
      "name finds the creation catalog's table, not the reader's session") {
    warehouse
    val cat = spark.sessionState.catalogManager.catalog("vcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ViewCatalog]
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    // stored with creation context (vcat, root) and an UNQUALIFIED body —
    // the shape another engine (or an older session) may have written
    cat.createView(new ViewInfo(Identifier.of(Array.empty, "ctx_v"),
      "SELECT k, v FROM t", "vcat", Array.empty[String],
      spark.table("vcat.t").schema, Array.empty[String], Array.empty[String],
      Array.empty[String], java.util.Collections.emptyMap[String, String]()))
    // an adversarial same-named TEMP VIEW in the reading session must NOT
    // hijack the body's `t` — the stored context wins
    spark.range(3).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("t")
    try {
      val viaView = spark.sql("SELECT count(*) AS n FROM vcat.ctx_v")
        .collect()(0).getLong(0)
      val direct = spark.sql("SELECT count(*) AS n FROM vcat.t")
        .collect()(0).getLong(0)
      assert(viaView == direct && viaView > 3,
        s"view read $viaView rows; table holds $direct")
    } finally spark.catalog.dropTempView("t")
  }

  test("create_view refuses a body that references a session temp view") {
    warehouse
    spark.range(3).selectExpr("id AS k").createOrReplaceTempView("sess_tmp")
    val e = intercept[Exception] {
      spark.sql(
        "CALL vcat.system.create_view('bad_v', 'SELECT k FROM sess_tmp')")
        .collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.toUpperCase.contains("TEMP VIEW"), e.getMessage)
  }

  test("rename_view refuses a table-held target (tables shadow views)") {
    warehouse
    spark.sql("CALL vcat.system.create_view('rt_v', 'SELECT k FROM vcat.t')")
    val e = intercept[Exception] {
      spark.sql("CALL vcat.system.rename_view('rt_v', 't')").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("TABLE"),
      e.getMessage)
    // the source view is untouched by the refused rename
    assert(spark.sql("SELECT count(*) AS n FROM vcat.rt_v")
      .collect()(0).getLong(0) > 0)
  }

  test("the ViewCatalog API surface round-trips properties and metadata") {
    warehouse
    val cat = spark.sessionState.catalogManager.catalog("vcat")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ViewCatalog]
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewChange}
    val id = Identifier.of(Array.empty, "api_v")
    spark.sql("CALL vcat.system.create_view('api_v', 'SELECT k FROM vcat.t')")
    assert(cat.viewExists(id))
    val v = cat.loadView(id)
    assert(v.query() == "SELECT k FROM vcat.t")
    assert(v.name() == "api_v")
    assert(v.schema().fieldNames.toSeq == Seq("k"))
    cat.alterView(id, ViewChange.setProperty("owner_team", "data"))
    assert(cat.loadView(id).properties().get("owner_team") == "data")
    cat.alterView(id, ViewChange.removeProperty("owner_team"))
    assert(!cat.loadView(id).properties().containsKey("owner_team"))
  }
}
