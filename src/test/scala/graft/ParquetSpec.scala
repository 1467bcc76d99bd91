package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{IncrementalMerge, Sinks, TableFormat}
import graft.sources.{Parquet, Tables}

/** `Parquet.read` resolves the schema from one footer on the driver. Its
  * schema must be exactly the one Spark's inference job gives, for the
  * same first file; where it falls back it must fail the way Spark does;
  * and program reads must run fewer jobs for it. */
class ParquetSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def files(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq

  /** The helper resolved a schema itself (no fallback) and it equals Spark's. */
  private def assertParity(paths: String*): Unit = {
    val own = Parquet.footerSchema(spark, paths)
    assert(own.isDefined, s"fell back for ${paths.mkString(", ")}")
    val want = spark.read.parquet(paths: _*).schema
    assert(Parquet.schema(spark, paths: _*) == want, s"paths=${paths.mkString(", ")}")
  }

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val prev = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body finally prev.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  private def condition(body: => DataFrame): String =
    intercept[Exception](body) match {
      case t: SparkThrowable => t.getCondition
      case e => fail(s"not a SparkThrowable: $e")
    }

  test("multi-part directory with _SUCCESS and .crc files: same schema and rows") {
    val dir = tmp("pq_multi") + "/t"
    spark.range(0, 300, 1, 3).selectExpr("id", "CAST(id AS STRING) AS s", "id * 0.5 AS d")
      .write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    Files.writeString(Paths.get(s"$dir/_ignored"), "not parquet")
    Files.writeString(Paths.get(s"$dir/.ignored"), "not parquet")
    assertParity(dir)
    assert(Parquet.read(spark, dir).except(spark.read.parquet(dir)).isEmpty)
    assert(Parquet.read(spark, dir).count() == 300)
  }

  test("summary files win over data files, _common_metadata over _metadata") {
    val dir = tmp("pq_summary")
    Seq(1L).toDF("a").write.parquet(s"$dir/t")
    Seq("m").toDF("from_metadata").write.parquet(s"$dir/m")
    Seq(2.0).toDF("from_common").write.parquet(s"$dir/c")
    Files.copy(Paths.get(files(s"$dir/m").head), Paths.get(s"$dir/t/_metadata"))
    assertParity(s"$dir/t")
    assert(Parquet.schema(spark, s"$dir/t").fieldNames.toSeq == Seq("from_metadata"))
    Files.copy(Paths.get(files(s"$dir/c").head), Paths.get(s"$dir/t/_common_metadata"))
    assertParity(s"$dir/t")
    assert(Parquet.schema(spark, s"$dir/t").fieldNames.toSeq == Seq("from_common"))
  }

  test("__month= partitioned table: partition column still discovered by Spark") {
    val dir = tmp("pq_month") + "/tx"
    Sinks.writeMonthPartitioned(
      Seq(("a", "2026-01-05", 1.0), ("b", "2026-02-10", 2.0)).toDF("id", "d", "amount")
        .withColumn("d", $"d".cast("date")), dir, dateCol = "d")
    assertParity(dir)
    assert(Parquet.schema(spark, dir).fieldNames.toSeq == Seq("id", "d", "amount", "__month"))
    assert(Sinks.readMonthPartitioned(spark, dir).columns.toSeq == Seq("id", "d", "amount"))
  }

  test("explicit file: URI lists of differing schemas pick Spark's first file in either order") {
    val root = tmp("pq_uris")
    Seq(1L).toDF("a").write.parquet(s"$root/x")
    Seq(("z", 2.0)).toDF("b", "c").write.parquet(s"$root/y")
    val fx = "file://" + files(s"$root/x").head
    val fy = new java.io.File(files(s"$root/y").head).toURI.toString
    assertParity(fx, fy)
    assertParity(fy, fx)
    // Spark sorts the listed files by path: x's file wins in both orders
    assert(Parquet.schema(spark, fy, fx).fieldNames.toSeq == Seq("a"))
  }

  test("TablesSpec's three events.ts shapes") {
    val root = tmp("pq_events")
    val base = Seq((1L, 1772368496789000L)).toDF("event_id", "us")
    Seq(
      "nanos" -> ($"us" * 1000L),
      "ntz" -> timestamp_micros($"us").cast(TimestampNTZType),
      "ltz" -> timestamp_micros($"us")).foreach { case (shape, ts) =>
      base.select($"event_id", ts.as("ts")).write.parquet(s"$root/$shape/events.parquet")
      assertParity(s"$root/$shape/events.parquet")
    }
    assert(Tables.events(spark, s"$root/ntz").schema("ts").dataType == TimestampType)
  }

  test("footers without a stored Spark schema follow the session's conversion flags") {
    val root = tmp("pq_foreign")
    def write(name: String, schema: String)(fill: org.apache.parquet.example.data.Group => Unit) = {
      val t = MessageTypeParser.parseMessageType(schema)
      val w = ExampleParquetWriter.builder(new Path(s"$root/$name")).withType(t).build()
      try { val g = new SimpleGroupFactory(t).newGroup(); fill(g); w.write(g) } finally w.close()
      s"$root/$name"
    }
    val plain = write("plain.parquet",
      "message m { required int64 ts (TIMESTAMP(MICROS,false)); required binary raw; }") { g =>
      g.append("ts", 1772368496789000L).append("raw", "x")
    }
    val nanos = write("nanos.parquet",
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }") { g =>
      g.append("ts", 1772368496789000000L)
    }
    assertParity(plain)
    assert(Parquet.schema(spark, plain)("ts").dataType == TimestampNTZType)
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      assertParity(plain)
      assert(Parquet.schema(spark, plain)("ts").dataType == TimestampType)
    }
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assertParity(plain)
      assert(Parquet.schema(spark, plain)("raw").dataType == StringType)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assertParity(nanos)
      assert(Parquet.schema(spark, nanos)("ts").dataType == LongType)
    }
  }

  test("fallbacks: empty directory and missing path fail as Spark does; mergeSchema merges") {
    val empty = tmp("pq_empty")
    assert(Parquet.footerSchema(spark, Seq(empty)).isEmpty)
    assert(condition(Parquet.read(spark, empty)) == condition(spark.read.parquet(empty)))
    val missing = empty + "/nope"
    assert(condition(Parquet.read(spark, missing)) == condition(spark.read.parquet(missing)))
    assert(condition(Parquet.read(spark, missing)) == "PATH_NOT_FOUND")

    val root = tmp("pq_merge")
    Seq(1L).toDF("a").write.parquet(s"$root/t/p=1")
    Seq("s").toDF("b").write.parquet(s"$root/t/p=2")
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(Parquet.footerSchema(spark, Seq(s"$root/t")).isEmpty)
      val want = spark.read.parquet(s"$root/t").schema
      assert(want.fieldNames.toSet == Set("a", "b", "p"))
      assert(Parquet.schema(spark, s"$root/t") == want)
    }
  }

  test("a corrupt footer throws, and ControlTable.read propagates it") {
    val dir = tmp("pq_corrupt") + "/control"
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/part-0.parquet"), "this is not parquet")
    val e = intercept[SparkException](Parquet.read(spark, dir))
    assert(e.getCondition == "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER", e.getMessage)
    intercept[SparkException](new IncrementalMerge.ControlTable(spark, dir).read())
  }

  test("job counts: source reads build with 0 jobs, the watermark read runs 1, " +
      "an append runs 2") {
    val sf = tmp("pq_jobs")
    Seq((1L, 10L, 99.5)).toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$sf/orders.parquet")
    val tx = s"$sf/tx"
    Sinks.writeMonthPartitioned(Seq(("a", "2026-01-05")).toDF("id", "d")
      .withColumn("d", $"d".cast("date")), tx, dateCol = "d")
    assert(JobCount(spark.sparkContext) {
      Tables.orders(spark, sf)
      Sinks.readMonthPartitioned(spark, tx)
    } == 0)

    val control = new IncrementalMerge.ControlTable(spark, s"$sf/control")
    control.advance(java.time.Instant.parse("2026-01-05T00:00:00Z"))
    assert(JobCount(spark.sparkContext)(control.read()) == 1)

    val root = s"$sf/table"
    Seq((1L, 1.0)).toDF("k", "v").write.parquet(s"$root/w1")
    TableFormat.commitFiles(spark, root, "k", TableFormat.listParquet(spark, s"$root/w1"), 256, 3)
    Seq((2L, 2.0)).toDF("k", "v").write.parquet(s"$root/w2")
    val added = TableFormat.listParquet(spark, s"$root/w2")
    // was 3: the new files' schema inference no longer runs as a job
    assert(JobCount(spark.sparkContext)(TableFormat.appendFiles(spark, root, added)) == 2)
  }
}
