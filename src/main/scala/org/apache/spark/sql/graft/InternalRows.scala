package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Builds a DataFrame straight from catalyst rows. Spark keeps
  * `internalCreateDataFrame` package-private; this object lives in an
  * `org.apache.spark.sql` subpackage only to reach it.
  */
object InternalRows {
  def toDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
