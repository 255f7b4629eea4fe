package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart, SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.algo.PageRank

/** Profile DF-PageRank supersteps: per-stage wall vs summed task time. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("CORES", "8").toInt
    val spark = ScalingCheck.session(cores)
    import spark.implicits._
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (si.completionTime.get - si.submissionTime.get) / 1e3
        val taskTime = si.taskMetrics.executorRunTime / 1e3
        val ser = si.taskMetrics.resultSerializationTime / 1e3
        val gc = si.taskMetrics.jvmGCTime / 1e3
        val shW = si.taskMetrics.shuffleWriteMetrics.writeTime / 1e9
        val shR = si.taskMetrics.shuffleReadMetrics.fetchWaitTime / 1e3
        if (wall > 0.3)
          println(f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%4d wall=$wall%6.2f cpuSum=$taskTime%7.2f gc=$gc%5.2f shWr=$shW%5.2f shRdWait=$shR%5.2f  ${si.name.takeWhile(_ != '(')} ${si.details.linesIterator.find(_.contains("graft")).getOrElse("").trim.take(60)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val nodes = 2000000L
    val edges = spark.range(0, nodes, 1, cores * 4).flatMap { i =>
      graft.io.Corpus.linkTargets(i, 16, 42L).map(j => (i, j))
    }.toDF("src", "dst")
    val g = LinkGraph.fromRawEdges(edges)
    g.edgeCount
    println("=== graph built; running 3 supersteps ===")
    val t0 = System.nanoTime()
    PageRank.run(g, PageRank.Config(iterCount = 3, tol = 0.0, mode = "df")).count()
    println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
