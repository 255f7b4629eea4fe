package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's AlgorithmResult surface
  * (raphtory/src/algorithms/algorithm_result.rs:77-362) re-expressed over
  * our algorithm outputs — DataFrames of (vid, name, <value>). Each op is a
  * thin Catalyst program; they exist so the reference API maps 1:1
  * (SURVEY §2.5). */
object ResultOps {

  /** sort_by_node_name / sort_by_value. */
  def sortByNode(res: DataFrame, reverse: Boolean = false): DataFrame =
    res.orderBy(if (reverse) desc("name") else asc("name"))

  def sortByValue(res: DataFrame, valueCol: String, reverse: Boolean = true): DataFrame =
    res.orderBy(
      (if (reverse) desc(valueCol) else asc(valueCol)),
      asc("vid"))

  /** top_k (count or percentage of rows, asc/desc), deterministic vid
    * tie-break. */
  def topK(res: DataFrame, valueCol: String, k: Int, percentage: Boolean = false,
           reverse: Boolean = true): DataFrame = {
    val limit = if (percentage) math.max(1, (res.count() * k / 100.0).toInt) else k
    sortByValue(res, valueCol, reverse).limit(limit)
  }

  /** min_by / median (by value). */
  def minBy(res: DataFrame, valueCol: String): DataFrame =
    sortByValue(res, valueCol, reverse = false).limit(1)

  def median(res: DataFrame, valueCol: String): DataFrame =
    res.agg(percentile_approx(col(valueCol), lit(0.5), lit(100000)).as("median"))

  /** group_by — value → list of node names. */
  def groupByValue(res: DataFrame, valueCol: String): DataFrame =
    res.groupBy(col(valueCol))
      .agg(sort_array(collect_list(col("name"))).as("nodes"),
        count(lit(1)).as("n"))
}
