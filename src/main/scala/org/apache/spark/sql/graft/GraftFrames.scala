package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** The one bridge into Spark's `private[sql]` API (`Dataset.ofRows`), in a
  * package of its own under Spark's: a
  * DataFrame over rows a physical plan already produced, with the plan's
  * output attributes and partitioning, so no analysis or planning of the
  * plan that made them runs again. `graft.bsp.StatePlan` wraps each
  * compiled superstep's output with it. */
object GraftFrames {
  def ofRdd(spark: SparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
            partitioning: Partitioning): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, LogicalRDD(output, rdd, partitioning)(s))
  }
}
