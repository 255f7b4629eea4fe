package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import graft.io.{Corpus, Ingest}

/** Break the corpus_ingest bench leg into its pipeline phases: page
  * synthesis + href parse, the seq sort's range sampling, then the one
  * mint job (counted sort, seq, first-seen ranks, each appearance's vid
  * back in seq order, both graph tables cached, the numeric-name flag).
  * Env: PAGES. */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("CORES", "32").toInt
    val pages = sys.env.getOrElse("PAGES", "500000").toLong
    val spark = ScalingCheck.session(cores)
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        // skipped / resubmitted stages can miss either timestamp
        for (sub <- si.submissionTime; comp <- si.completionTime) {
          val wall = (comp - sub) / 1e3
          val taskTime = si.taskMetrics.executorRunTime / 1e3
          val gc = si.taskMetrics.jvmGCTime / 1e3
          if (wall > 0.2)
            println(f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%4d wall=$wall%6.2f cpuSum=$taskTime%7.2f gc=$gc%5.2f  ${si.name.takeWhile(_ != '(')}")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PHASE $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val p = Corpus.pages(spark, pages, 4).toDF()
    val raw = time("extract(parse+persist)") {
      val r = Ingest.rawLinks(p).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count(); r
    }
    // the counted sort samples its ranges now; the sort, its counts, the
    // seq numbering, the vid ranks and both graph tables are one job
    val s = time("seq(range sampling)")(Ingest.sequenced(raw))
    val m = time("mint(sort+seq+vids+edges, one job)")(Ingest.mintOrdered(spark, s.sorted, s.numbered, _ => Nil).get)
    raw.unpersist(); s.sorted.unpersist()
    time("count(cached edges + nodes)") {
      println(s"edges=${m.edges.count()} nodes=${m.nodes.count()} numericNames=${m.namesAreNumeric}")
    }
    spark.stop()
  }
}
