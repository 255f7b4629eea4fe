package graft.bsp

import org.apache.spark.sql.SparkSession

/** Iterative DataFrame loops need stable physical partitioning across
  * supersteps: AQE rewrites (coalesced / unknown partitioning at
  * localCheckpoint time) break the exchange reuse, making every superstep
  * re-shuffle both join sides (observed: 3× slowdown and 0.31 scaling
  * efficiency). Scope AQE off for the duration of a superstep loop; the
  * rest of the session keeps it on. */
object IterativeConf {
  def withStablePartitioning[T](spark: SparkSession)(body: => T): T = {
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      // shuffled-hash beats sort-merge for the per-superstep joins: the
      // state side rebuilds every superstep, so SMJ pays a sort per
      // iteration that SHJ avoids
      "spark.sql.join.preferSortMergeJoin" -> "false")
    val prev = keys.map { case (k, _) => k -> spark.conf.get(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
