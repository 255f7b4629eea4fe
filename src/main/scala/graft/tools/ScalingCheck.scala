package graft.tools

import org.apache.spark.sql.SparkSession
import graft.graph.LinkGraph
import graft.algo.PageRank

/** Measure DF-path PageRank throughput at two core counts. */
object ScalingCheck {
  private def session(cores: Int): SparkSession = {
    // SCALE_CLUSTER=1: `cores` total cores as SEPARATE executor JVMs
    // (local-cluster[workers, coresPerWorker, memMB]) — a closer analogue
    // of N -> 4N executors than threads in one JVM: per-executor heaps and
    // GC isolate, though the machine's one memory system remains shared.
    // Run via spark-submit (it ships the app jar and SPARK_HOME to the
    // worker-spawned executor processes); see BASELINE.md for the command.
    val cpw = sys.env.getOrElse("SCALE_CLUSTER_CORES_PER_WORKER", "2").toInt
    val memMb = sys.env.getOrElse("SCALE_CLUSTER_MEM_MB", "3072").toInt
    val cluster = sys.env.getOrElse("SCALE_CLUSTER", "0") == "1"
    val master =
      if (cluster) s"local-cluster[${math.max(1, cores / cpw)},$cpw,$memMb]"
      else s"local[$cores]"
    // SCALE_PARTS_MULT: shuffle partitions = cores × mult (mult > 1 trades
    // per-task fixed cost for finer load balance on the skewed tail)
    val partsMult = sys.env.getOrElse("SCALE_PARTS_MULT", "1").toInt
    // shuffle buffers off-heap: superstep state churn is the dominant
    // allocation; keeping it out of the GC'd heap stabilises the
    // high-core legs (SCALE_OFFHEAP=0 disables)
    val offHeap = Seq(
      "spark.memory.offHeap.enabled" ->
        (sys.env.getOrElse("SCALE_OFFHEAP", if (cluster) "0" else "1") == "1").toString,
      "spark.memory.offHeap.size" -> sys.env.getOrElse("SCALE_OFFHEAP_SIZE", "16g"))
    val executor = if (cluster) Seq("spark.executor.memory" -> s"${memMb - 512}m") else Nil
    graft.SparkEntry.session(master, cores * partsMult, offHeap ++ executor: _*)
  }

  /** One measurement leg: `rounds` PageRank runs in one session on a cached
    * graph; per-superstep wall only (setup/codegen warm after round 1);
    * returns the best round's edges-scattered/sec. SCALE_MODE=csr measures
    * the CSR gather path instead of the shuffle path. */
  private def measure(cores: Int, nodes: Long, k: Int, iters: Int, rounds: Int,
              mode: String = sys.env.getOrElse("SCALE_MODE", "df")): Double =
    measureRounds(cores, nodes, k, iters, rounds, mode).max

  /** All per-round rates (edges-scattered/sec). */
  def measureRounds(cores: Int, nodes: Long, k: Int, iters: Int, rounds: Int,
              mode: String = sys.env.getOrElse("SCALE_MODE", "df")): Seq[Double] = {
    val s = session(cores)
    import s.implicits._
    val edges = s.range(0, nodes, 1, cores * 4).flatMap { i =>
      graft.io.Corpus.linkTargets(i, k, 42L).map(j => (i, j))
    }.toDF("src", "dst")
    val g = LinkGraph.fromRawEdges(edges)
    val m = g.edgeCount
    val label = if (mode == "csr") "mode=csr " else ""
    val best = (1 to rounds).map { r =>
      val ctx = new graft.bsp.LocalRunContext
      PageRank.run(g, PageRank.Config(iterCount = iters, tol = 0.0, mode = mode), ctx).count()
      val stepsSec = ctx.stats.map(_.wallMs).sum / 1e3
      val rate = m.toDouble * iters / stepsSec
      println(f"SCALING ${label}cores=$cores round=$r steps=$stepsSec%.1f rate=$rate%.0f")
      rate
    }
    s.stop()
    best
  }

  def main(args: Array[String]): Unit = {
    val nodes = sys.env.getOrElse("SCALE_NODES", "2000000").toLong
    val k = 16
    val iters = 5
    val rounds = sys.env.getOrElse("SCALE_ROUNDS", "2").toInt
    val nA = sys.env.getOrElse("SCALE_N", "4").toInt
    val nB = sys.env.getOrElse("SCALE_4N", (nA * 4).toString).toInt
    // interleave legs to expose machine-level drift
    val rAa = measure(nA, nodes, k, iters, rounds)
    val rBa = measure(nB, nodes, k, iters, rounds)
    val rA = math.max(rAa, measure(nA, nodes, k, iters, rounds))
    val rB = math.max(rBa, measure(nB, nodes, k, iters, rounds))
    println(f"SCALING best$nA=$rA%.0f best$nB=$rB%.0f efficiency=${rB / ((nB.toDouble / nA) * rA)}%.3f")
  }
}
