package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate dedupes across
  * suites in one JVM — `Test / fork := true` gives us exactly one).
  * Small core/partition counts keep the suite fast; production sizing
  * lives in [[GraftSession]].
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  import spark.implicits._

  /** Rows as sorted seq-of-string for order-insensitive comparison. */
  def canon(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq, "column sets differ")
    assert(canon(a) == canon(b))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config(GraftSession.engineConf)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
