package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Readers for the synthetic benchmark tables (TESTDATA.md).
  *
  * One parquet file per table under an sf directory. At cluster scale these
  * would be partitioned directories / catalog tables; the reader stays the
  * same ([[Parquet.read]] on a path prefix), so nothing here assumes a
  * single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table $name")
    Parquet.read(spark, s"$sfDir/$name.parquet")
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  /** events.ts has shipped in three parquet shapes across testdata
    * regenerations; normalize all of them to TimestampType (UTC instant) so
    * every consumer (unix_micros, session_window, range joins) sees one type:
    *
    *  - TIMESTAMP(NANOS): no Spark equivalent; with nanosAsLong it arrives as
    *    a long which we truncate to micros exactly (integer div — float
    *    division would lose precision above 2^53).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
    *    TIMESTAMP_NTZ by default. The session time zone is pinned to UTC
    *    (GraftSession), so casting NTZ→LTZ is value-exact: the wall-clock
    *    fields are reinterpreted as a UTC instant, matching the reference's
    *    normalize-everything-to-UTC semantics (v3 _parse_iso).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=true): already TimestampType;
    *    passes through.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = apply(spark, sfDir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")

  /** Register all tables as temp views so grouping-set / SQL queries can run.
    * `events` goes through the normalizing loader so SQL consumers see the
    * same TimestampType column the DataFrame API consumers do. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else apply(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
