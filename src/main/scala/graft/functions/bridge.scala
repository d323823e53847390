// Bridge into the private[sql] Column<->Expression conversion API —
// the documented pattern for third-party Catalyst expressions that want a
// typed Column DSL (the alternative, SQL-registry-only access, would force
// every caller through expr() strings).
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  /** ExpressionUtils.expression can hand back a LAZY ColumnNode wrapper
    * for function-built Columns (Spark 4's Connect-compatible Column API)
    * — opaque to pattern matching, `.sql`, and `.deterministic`. Convert
    * eagerly through the same ColumnNode→Expression converter the classic
    * Dataset API applies to every Column, so callers always see the real
    * catalyst tree. */
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Spark's bloom-filter aggregate, the one `df.stat.bloomFilter` runs
    * and deserializes: its serialized filter, or NULL when the column
    * holds no non-null value (where `bloomFilter` itself throws). */
  def bloomFilterAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    Column.internalFn("bloom_filter_agg", c,
      org.apache.spark.sql.functions.lit(expectedItems),
      org.apache.spark.sql.functions.lit(numBits))
}

/** Bridge into the private[sql] DSv2 transform case classes: map a
  * `PARTITIONED BY` transform to the manifest slicing expression's SQL
  * text. Lives here because IdentityTransform and friends are
  * `private[sql]`. */
object TransformBridge {
  import org.apache.spark.sql.connector.expressions._
  def sliceSqlOf(t: Transform): String = {
    def colOf(r: NamedReference): String = r.fieldNames.mkString(".")
    t match {
      case IdentityTransform(r) => colOf(r)
      case YearsTransform(r) => s"date_format(${colOf(r)}, 'yyyy')"
      case MonthsTransform(r) => s"date_format(${colOf(r)}, 'yyyyMM')"
      case DaysTransform(r) => s"date_format(${colOf(r)}, 'yyyyMMdd')"
      case HoursTransform(r) => s"date_format(${colOf(r)}, 'yyyyMMddHH')"
      // pmod already yields a non-negative modulus for negative hashes;
      // abs(hash(..)) would overflow on Int.MinValue under ANSI mode
      case BucketTransform(n, Seq(r), Seq()) =>
        s"pmod(hash(${colOf(r)}), $n)"
      case other => throw new IllegalArgumentException(
        s"graft CREATE: unsupported partition transform $other")
    }
  }
}

/** Bridge into private[sql] Dataset.ofRows — the documented pattern for
  * third-party commands (Delta's InsertInto/Merge commands re-plan their
  * captured logical query exactly this way). */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-brand a batch DataFrame as a STREAMING one — what a v1 streaming
    * `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming` on the plan it splices in). The batch plan keeps all
    * its optimizations (skipping, pushdown, DV anti-joins) inside the
    * produced RDD lineage; only the LogicalRDD wrapper is marked
    * streaming. The same pattern FileStreamSource uses internally. */
  def asStreaming(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ss = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ss.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Re-plan a micro-batch DataFrame (handed to a v1 `Sink.addBatch`,
    * backed by IncrementalExecution) as an ordinary BATCH frame that
    * `.write` accepts — the standard v1-sink move: take the incremental
    * plan's RDD and wrap it batch-side. */
  def asBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ss = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ss.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }
}
