package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded inputs. The same seed always gives the same tables; the program
  * only ever sees the generated parquet files. Shapes follow the TPC-H-like
  * tables the repository's entry points read (`graft.sources.Tables`), with
  * sf0.1's value ranges: orders from 1995-01, prices uniform in
  * [1,000, 500,000), one customer per ten orders. The `o_comment` text,
  * which sf0.1 does not have, is made of syllable pseudo-words. */
object Inputs {
  val epoch: LocalDate = LocalDate.of(1995, 1, 1)

  def monthStart(m: Int): LocalDate = epoch.plusMonths(m.toLong)

  private val statuses = Seq("F", "O", "P")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val nations = Array(
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY",
    "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA", "MOROCCO",
    "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA",
    "UNITED KINGDOM", "UNITED STATES")
  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** Pseudo-words built from syllables, so generated text has a realistic
    * shingle distribution without a dictionary file. */
  def vocabulary(rng: SplittableRandom, size: Int): Array[String] = {
    val syl = Array("ka", "lo", "mi", "ter", "san", "vo", "ri", "pel", "dun", "gra",
      "shi", "mon", "tu", "bex", "na", "qua", "zor", "fi", "len", "op")
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < size) {
      val n = 1 + rng.nextInt(3)
      out += (0 until n).map(_ => syl(rng.nextInt(syl.length))).mkString
    }
    out.toArray
  }

  /** A seeded value in [0, n) for row `id`, independent per `salt`. */
  private def draw(seed: Long, salt: Int, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))

  private def pick(values: Seq[String], i: Column): Column =
    element_at(typedLit(values), (i + 1).cast("int"))

  /** `n` orders, the same number in each of `months` months from 1995-01
    * (a seeded day in the first 28), prices in whole cents, and a seeded
    * word comment. Generated in Spark, so it costs one parallel write. */
  def writeOrderTables(spark: SparkSession, dir: String, seed: Long,
                       nOrders: Int, months: Int): Unit = {
    val nCust = math.max(10, nOrders / 10)
    val vocab = vocabulary(new SplittableRandom(seed * 31 + 2), 300).toSeq
    val id = col("id")
    val month = pmod(id - 1, lit(months))
    spark.range(1, nOrders + 1L, 1, 4).select(
      id.as("o_orderkey"),
      (draw(seed, 1, id, nCust) + 1).as("o_custkey"),
      pick(statuses, draw(seed, 2, id, statuses.length)).as("o_orderstatus"),
      ((draw(seed, 3, id, 49900000L) + 100000) / 100.0).as("o_totalprice"),
      date_add(add_months(lit(epoch.toString).cast("date"), month.cast("int")),
        draw(seed, 4, id, 28).cast("int")).cast("timestamp").as("o_orderdate"),
      pick(priorities, draw(seed, 5, id, priorities.length)).as("o_orderpriority"),
      concat_ws(" ", slice(array((0 until 10).map(i => pick(vocab, draw(seed, 20 + i, id, vocab.length))): _*),
        lit(1), (draw(seed, 6, id, 7) + 4).cast("int"))).as("o_comment"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(1, nCust + 1L, 1, 1).select(
      id.as("c_custkey"), format_string("Customer#%09d", id).as("c_name"),
      draw(seed, 8, id, nations.length).as("c_nationkey"),
      ((draw(seed, 9, id, 1100000L) - 100000) / 100.0).as("c_acctbal"),
      pick(segments, draw(seed, 10, id, segments.length)).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    def save(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(nations.indices.map(i => Row(i.toLong, nations(i), (i % regions.length).toLong)),
      StructType(Seq(StructField("n_nationkey", LongType), StructField("n_name", StringType),
        StructField("n_regionkey", LongType))), "nation")
    save(regions.indices.map(i => Row(i.toLong, regions(i))),
      StructType(Seq(StructField("r_regionkey", LongType), StructField("r_name", StringType))),
      "region")
  }

  /** Kernel input for the traced run: the orders' comment text and their
    * prices as money strings. */
  def kernelInput(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.orders(spark, dir).select(col("o_comment").as("text"),
      concat(lit("$"), col("o_totalprice").cast("string")).as("money"))
}
