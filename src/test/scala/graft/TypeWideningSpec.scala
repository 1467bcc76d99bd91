package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.TableFormat

/** SAFE TYPE WIDENING — the Iceberg promotion matrix as metadata-only
  * schema evolution: int→long, float→double, same-scale decimal
  * precision growth. Old files keep their narrow pages; readers
  * up-convert; old versions keep the old DDL; narrowing refuses. */
class TypeWideningSpec extends SparkTestBase {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_twd").toString

  test("evolveSchema merges widths and refuses real type changes") {
    def st(ddl: String) = StructType.fromDDL(ddl)
    assert(TableFormat.evolveSchema(st("a INT"), st("a BIGINT")) ==
      st("a BIGINT"))
    // a NARROW batch against a wide table keeps the wide schema
    assert(TableFormat.evolveSchema(st("a BIGINT"), st("a INT")) ==
      st("a BIGINT"))
    assert(TableFormat.evolveSchema(st("a FLOAT"), st("a DOUBLE")) ==
      st("a DOUBLE"))
    assert(TableFormat.evolveSchema(
      st("a DECIMAL(10,2)"), st("a DECIMAL(12,2)")) == st("a DECIMAL(12,2)"))
    intercept[IllegalArgumentException](
      TableFormat.evolveSchema(st("a BIGINT"), st("a STRING")))
    intercept[IllegalArgumentException]( // scale change is NOT widening
      TableFormat.evolveSchema(st("a DECIMAL(10,2)"), st("a DECIMAL(10,4)")))
    intercept[IllegalArgumentException]( // int->double is a retype
      TableFormat.evolveSchema(st("a INT"), st("a DOUBLE")))
  }

  test("widenColumnType: metadata-only commit, old files up-convert, " +
      "time travel keeps the old type, narrowing refuses") {
    val root = freshRoot()
    import spark.implicits._
    (0L until 100L).map(k => (k, k.toInt * 3)).toDF("k", "pay")
      .repartition(1).write.mode("overwrite").parquet(s"$root/d0")
    TableFormat.commitFiles(spark, root, "k",
      TableFormat.listParquet(spark, s"$root/d0"), 1 << 12, 5)     // v1
    val dataFiles = TableFormat.snapshot(spark, root).files.map(_.file)
    val s2 = TableFormat.widenColumnType(spark, root, "pay", LongType) // v2
    assert(s2.files.map(_.file) == dataFiles, "must rewrite nothing")
    assert(StructType.fromDDL(s2.schemaDdl.get)("pay").dataType == LongType)
    // old version keeps INT
    assert(StructType.fromDDL(TableFormat.snapshot(spark, root, Some(1))
      .schemaDdl.get)("pay").dataType == IntegerType)
    // post-widen append lands values beyond INT range; both eras read
    (100L until 110L).map(k => (k, k * 1000000000L)).toDF("k", "pay")
      .repartition(1).write.mode("overwrite").parquet(s"$root/d1")
    TableFormat.appendFiles(spark, root,
      TableFormat.listParquet(spark, s"$root/d1"))                  // v3
    val rows = TableFormat.read(spark, TableFormat.snapshot(spark, root))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 110)
    assert(rows(5) == ((5L, 15L)) && rows(105) == ((105L, 105000000000L)))
    intercept[IllegalArgumentException](
      TableFormat.widenColumnType(spark, root, "pay", IntegerType))
    intercept[IllegalArgumentException](
      TableFormat.widenColumnType(spark, root, "pay", StringType))
  }

}

/** The read half of widening on the `graft-table-changes` stream: files
  * written before [[TableFormat.widenColumnType]] stream under the wide
  * committed schema. */
class TypeWideningReaderSpec extends SparkTestBase {
  test("the graft-table-changes stream up-converts INT32 under BIGINT and " +
      "FLOAT under DOUBLE (files written before the widen)") {
    def tmp() = java.nio.file.Files.createTempDirectory("graft_twr").toString
    val root = tmp()
    spark.range(5).selectExpr("id AS id", "CAST(id AS INT) AS k",
        "CAST(id AS FLOAT) AS f")
      .repartition(1).write.mode("overwrite").parquet(s"$root/d0")
    TableFormat.commitFiles(spark, root, "id",
      TableFormat.listParquet(spark, s"$root/d0"), 1 << 12, 5)
    TableFormat.widenColumnType(spark, root, "k", LongType)
    TableFormat.widenColumnType(spark, root, "f", DoubleType)
    val out = s"${tmp()}/out"
    val q = spark.readStream.format("graft-table-changes").load(root)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"${tmp()}/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish")
    val got = spark.read.parquet(out).select("k", "f").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sorted.toSeq == (0 until 5).map(i => (i.toLong, i.toDouble)))
  }
}
