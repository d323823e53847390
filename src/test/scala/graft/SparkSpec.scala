package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Shared Spark fixture for all suites: one session per JVM (getOrCreate
  * reuses across suites in the forked test JVM), small parallelism so the
  * suite stays fast.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def mkDf(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)

  /** Collect a single column as a Seq (null-preserving). */
  def col0[T](df: DataFrame): Seq[T] =
    df.collect().toSeq.map(r => r.get(0).asInstanceOf[T])

  /** Spark jobs `f` launches (see [[JobMeter]]). */
  def jobsOf[T](f: => T): Int = JobMeter.measure(spark)(f).count
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build("graft-test", "4")
}
