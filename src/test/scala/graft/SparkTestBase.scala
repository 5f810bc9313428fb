package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, reused across
  * suites), built by the production factory so specs run the
  * production session config.
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("4")
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Tiny single-series fixture: (ts-string, value-or-null) rows for
    * series key "s". Timestamps are "yyyy-MM-dd HH:mm:ss" UTC.
    */
  def series(rows: (String, Option[Double])*): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    rows.toSeq.toDF("ts_s", "value")
      .withColumn("series", lit("s"))
      .withColumn("ts", to_timestamp($"ts_s"))
      .select("series", "ts", "value")
  }

  def v(x: Double): Option[Double] = Some(x)
  val na: Option[Double] = None
}
