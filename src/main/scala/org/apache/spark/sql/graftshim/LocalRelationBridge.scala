package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` frame constructor so rows already in
  * driver memory (catalyst `InternalRow`s) surface as a [[DataFrame]]
  * over a `LocalRelation`, with no encoder and no `createDataFrame`
  * conversion. Collecting such a frame, or a projection of it, is an
  * `executeCollect` of a local scan: no Spark job runs. Lives under
  * org.apache.spark.sql.* solely for access, like [[ColumnBridge]].
  */
object LocalRelationBridge {
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
