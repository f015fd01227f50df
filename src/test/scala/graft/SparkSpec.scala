package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (getOrCreate dedupes the
  * session across suites in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import org.apache.spark.sql.functions._

  /** Evaluate a single Column expression over one dummy row. */
  def eval(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c.as("v")).collect()(0).get(0)

  /** Rows of a DataFrame as a sorted multiset of string tuples —
    * order-insensitive frame comparison. */
  def canon(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString(""))

  def assertSameRows(a: DataFrame, b: DataFrame): Unit =
    assert(canon(a) == canon(b))

  /** `body` with Spark's per-file open cost raised to its split size,
    * so a file scan planned inside packs no two files into one
    * partition: one InputPartition per whole file. */
  def unpacked[T](body: => T): T = {
    val k = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, spark.conf.get("spark.sql.files.maxPartitionBytes"))
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }
}
