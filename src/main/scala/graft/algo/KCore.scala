package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.LinkGraph
import graft.bsp.{RunContext, Superstep}

/** k-core: iteratively drop nodes whose count of surviving undirected
  * distinct neighbours is < k (raphtory/src/algorithms/cores/k_core.rs:40-101;
  * `deg >= k` survives). The alive-set shrinks monotonically, so the loop
  * converges when the count stops changing. */
object KCore {

  /** Returns the surviving node set as a DataFrame (vid). */
  def coreSet(g: LinkGraph, k: Int, iterCount: Long = Long.MaxValue): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    // k <= 0: the 0-core is every node. The peel loop below recomputes
    // degree from surviving PAIRS, which has no row for isolated nodes —
    // without this early return they would be wrongly dropped
    if (k <= 0) return g.nodes.select($"vid")
    graft.bsp.IterativeConf.withStablePartitioning(spark) {
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs = g.undirectedPairs.repartition(p, $"a").persist(StorageLevel.MEMORY_AND_DISK)
    val m = pairs.count()
    val init = g.degrees.filter($"degree" >= k).select($"vid").localCheckpoint(true)
    val (alive, _) = Superstep.loop("kcore", RunContext.none, m, 1, iterCount, (init, init.count())) {
      case ((alive, aliveCount), _) =>
        val next = pairs
          .join(alive.withColumnRenamed("vid", "a"), Seq("a"), "left_semi")
          .join(alive.withColumnRenamed("vid", "b"), Seq("b"), "left_semi")
          .groupBy($"a").agg(count("*").as("d"))
          .filter($"d" >= k).select($"a".as("vid"))
          .localCheckpoint(true)
        val c = next.count()
        Superstep.Next((next, c), (aliveCount - c).toDouble, c == aliveCount)
    }
    pairs.unpersist()
    alive
    }
  }
}
