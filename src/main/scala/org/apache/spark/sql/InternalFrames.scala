package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** A DataFrame over an RDD of Catalyst rows, as Spark builds its own
  * (the constructor is private[sql]): no Row encoder runs, so nothing is
  * generated to convert the rows. */
object InternalFrames {
  def apply(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
