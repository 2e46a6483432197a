package graft

import graft.core.Sessions
import java.nio.file.Files
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * test suites must not churn sessions per-suite). Managed tables land in
  * a temp warehouse that is removed when the JVM exits, so no run leaves
  * state in the checkout.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-spec-warehouse").toFile
    sys.addShutdownHook(JavaUtils.deleteRecursively(warehouse))
    val s = Sessions.configure(
        SparkSession.builder().master("local[4]").appName("graft"),
        shufflePartitions = 4)
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  def df(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)

  /** The reference's `clean_df` fixture (conftest.py:125-133). */
  def cleanDf: DataFrame = df(
    StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("score", IntegerType),
      StructField("email", StringType))),
    Seq(
      Row(1, "alice", 90, "alice@example.com"),
      Row(2, "bob", 85, "bob@example.com"),
      Row(3, "carol", 78, "carol@example.com"),
      Row(4, "dave", 92, "dave@example.com"),
      Row(5, "erin", 88, "erin@example.com")))

  /** The reference's `messy_df` fixture (conftest.py:136-144): null id,
    * duplicate id=2, scores 120/-5 out of [0,100], bad + null email.
    */
  def messyDf: DataFrame = df(
    StructType(Seq(
      StructField("id", IntegerType, nullable = true),
      StructField("name", StringType),
      StructField("score", IntegerType),
      StructField("email", StringType, nullable = true))),
    Seq(
      Row(1, "alice", 90, "alice@example.com"),
      Row(2, "bob", 120, "bob@example.com"),
      Row(2, "carol", -5, "bad-email"),
      Row(4, "dave", 92, null),
      Row(null, "erin", 88, "erin@example.com")))

  /** The reference's `financial_df` fixture (conftest.py:147-156). */
  def financialDf: DataFrame = df(
    StructType(Seq(
      StructField("cik", StringType),
      StructField("company_name", StringType),
      StructField("ticker", StringType),
      StructField("revenue", LongType),
      StructField("net_income", LongType))),
    Seq(
      Row("0000320193", "Apple Inc.", "AAPL", 394328000000L, 99803000000L),
      Row("0000789019", "Microsoft Corp", "MSFT", 211915000000L, 72361000000L),
      Row("0001652044", "Alphabet Inc.", "GOOGL", 307394000000L, 73795000000L),
      Row("0001018724", "Amazon.com Inc", "AMZN", 574785000000L, 30425000000L),
      Row("0001045810", "NVIDIA Corp", "NVDA", 60922000000L, 29760000000L)))
}
