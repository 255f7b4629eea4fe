package graft.tools

/** Run one driver query N times against an sf dir and print per-run wall —
  * the quick feedback loop for leg-level optimisation without a full Bench
  * pass. Usage: runMain graft.tools.QueryProbe <sfDir> <name> [runs=3]. */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 3
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.session(s"local[$cores]", cores.toInt)
    val q = graft.SparkEntry.queries(name)
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      val n = q(spark, sfDir).count()
      println(f"[probe] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
