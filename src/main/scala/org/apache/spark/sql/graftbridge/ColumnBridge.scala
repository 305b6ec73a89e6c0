package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the Column↔Expression conversions `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Custom native
  * expressions still need them to surface as `Column`s, so this bridge
  * re-exports the two conversions from inside the sql package — the
  * standard pattern for libraries shipping Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `SparkSession.internalCreateDataFrame` is `private[sql]` — the
  * zero-copy way to wrap an `RDD[InternalRow]` as a DataFrame. The
  * engine's sort+zipWithIndex rank machinery
  * ([[graft.ops.JoinOps.withRowIndex]],
  * [[graft.ops.StatsOps.runningTotalsBy]]) produces internal rows
  * directly; without this bridge every row paid an
  * internal→external→internal conversion round-trip through
  * `df.rdd` + `createDataFrame(RDD[Row], schema)`.
  */
object DatasetBridge {
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}

/** `org.apache.spark.util.Utils` is `private[spark]`. Its
  * `createTempDir` registers the directory for recursive deletion at
  * JVM exit, at `TEMP_DIR_SHUTDOWN_PRIORITY` (after the SparkContext's
  * own stop hook), which is what [[graft.core.Scratch]] builds on.
  */
object TempDirBridge {
  def createTempDir(): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = "graft")
}
