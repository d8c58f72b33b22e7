package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Narrow bridge to two package-private calls: wrap a [[LogicalPlan]]
  * into a DataFrame, the one internal call a custom logical operator
  * needs (Dataset.ofRows is package-private), and make a schema
  * nullable as a file source does (`graft.Tables.schema`). The
  * standard technique for Spark extension libraries — kept to this
  * single object so the internal surface area is auditable. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def asNullable(schema: StructType): StructType = schema.asNullable
}
