package graft.perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** The repository benchmark's JVM side: one workload, one closed-loop
  * client running one job at a time on local[4] with 4 shuffle
  * partitions. Prints progress lines, then one JSON result line last.
  *
  *   --workload crawl_e2e|superstep_df --seed N --seconds S
  *   --trace 0|1 [--size full|tiny] [--corrupt pagerank|wcc] --work-dir D
  *   [--trace-out F]   (traced: the spans and metrics, written at exit)
  */
object Main {

  /** (name, unit) of every metric, in print order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "run_s" -> "s", "setup_s" -> "s", "run_cpu_s" -> "s")

  private val timing = Seq("bsp.csr_superstep_ms", "bsp.df_superstep_ms", "bsp.df_scatter_ms",
    "bsp.df_apply_ms", "bsp.driver_gap_ms", "ckpt.commit_block_ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "host.stream_gbps" -> "GB/s", "host.tiny_job_ms" -> "ms",
    "host.llc_mb" -> "MB", "host.stream_array_mb" -> "MB", "host.peak_rss_mb" -> "MB",
    "ref.pagerank_st_s" -> "s", "ref.wcc_st_s" -> "s", "ref.lpa_st_s" -> "s",
    "ref.triangles_st_s" -> "s",
    "io.extract_s" -> "s", "io.extract_pages_per_s" -> "1/s", "io.seq_s" -> "s",
    "io.mint_s" -> "s", "io.shuffle_bytes" -> "B",
    "graph.dedup_s" -> "s", "graph.csr_pack_s" -> "s", "graph.partition_s" -> "s",
    "bsp.csr_broadcast_bytes" -> "B", "bsp.edges_per_s" -> "1/s") ++
    timing.flatMap(t => Seq(t -> "ms", s"$t.p90" -> "ms", s"$t.n" -> "count")) ++ Seq(
    "bsp.jobs_per_superstep" -> "count", "bsp.stages_per_superstep" -> "count",
    "bsp.tasks_per_superstep" -> "count", "bsp.messages_per_superstep" -> "count",
    "bsp.messages_per_edge" -> "ratio", "bsp.shuffle_bytes_per_superstep" -> "B",
    "bsp.task_skew" -> "ratio", "bsp.spill_bytes" -> "B", "bsp.gc_ms" -> "ms",
    "algo.pagerank_s" -> "s", "algo.wcc_s" -> "s", "algo.lpa_s" -> "s",
    "algo.triangles_s" -> "s", "algo.wcc_supersteps" -> "count", "algo.lpa_phases" -> "count",
    "algo.triangles_shuffle_records" -> "count", "algo.triangles_shuffle_bytes" -> "B",
    "ckpt.finish_ms" -> "ms", "ckpt.snapshot_bytes_per_step" -> "B", "ckpt.snapshots" -> "count",
    "ckpt.restore_s" -> "s",
    "self.io_s" -> "s", "self.graph_s" -> "s", "self.bsp_s" -> "s", "self.algo_s" -> "s",
    "self.ckpt_s" -> "s", "self.bench_s" -> "s",
    "trace.attributed_share" -> "ratio", "trace.run_s" -> "s", "trace.untraced_run_s" -> "s",
    "trace.overhead_ratio" -> "ratio",
    "scaling_eff" -> "ratio", "resume_s" -> "s", "failed_ops" -> "ratio")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        tiny: Boolean, corrupt: Option[Corrupt], workDir: File,
                        traceOut: Option[File])

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      kv.get("size").contains("tiny"), kv.get("corrupt").map(Corrupt), new File(need("work-dir")),
      kv.get("trace-out").map(new File(_)))
  }

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.workDir, "warehouse").getPath)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Edges scattered per second of superstep wall time (StepStat) of the
    * median PageRank superstep of a run. */
  private def edgesPerS(out: RunOut): Double =
    Workload.edgesPerS(out.ctxs.filter(_._1 == "pagerank").flatMap(_._2.steps.map(_._2)).toSeq)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val collector = new Collector
    val wl: Workload = o.workload match {
      case "crawl_e2e" => new CrawlE2E(spark, o.seed, o.tiny, o.corrupt, o.workDir)
      case "superstep_df" => new SuperstepDf(spark, o.seed, o.tiny, o.corrupt, o.workDir)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val ops = new Ops
    val off = new Tracer(spark.sparkContext, enabled = false)

    // ---- set-up: inputs and reference answers three times, one warm-up run
    val prepS = (1 to 3).map(_ => secs(wl.prepare())._2)
    val warm = secs { wl.run(off, ops); wl.afterRun() }._2
    val setupS = sessionS + Stats.median(prepS) + warm
    println(f"[perfbench] ${o.workload}: session $sessionS%.2f s, prepare ${prepS.mkString(", ")} s, " +
      f"warm-up run $warm%.2f s; setup_s $setupS%.2f")

    // ---- measured closed loop, phase probe before and after every run
    val probes = ArrayBuffer.empty[(Double, Double)]
    val plain = ArrayBuffer.empty[RunOut]
    val traced = ArrayBuffer.empty[(RunOut, LayerReport)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // traced: traced, untraced, traced, ... the first measured run still
    // carries some warm-up, so the overhead figure errs high, not low
    while (plain.isEmpty || (o.trace && traced.isEmpty) || elapsed < o.seconds) {
      val withTrace = o.trace && traced.size <= plain.size
      probes += Probe.phase(spark)
      val tr = if (withTrace) new Tracer(spark.sparkContext, enabled = true) else off
      if (withTrace) { collector.clear(); spark.sparkContext.addSparkListener(collector) }
      val cpu0 = Probe.cpuSeconds()
      val (out, s) = secs(tr.span("bench.run")(wl.run(tr, ops)))
      out.runS = s
      out.cpuS = Probe.cpuSeconds() - cpu0
      if (withTrace) {
        Probe.drainListener(spark, collector)
        spark.sparkContext.removeSparkListener(collector)
        traced += ((out, new LayerReport(tr, collector, out)))
      } else {
        plain += out
        if (o.trace) wl.singlePartitionLeg(ops).foreach(out.extra("p1_edges_per_s") = _)
      }
      probes += Probe.phase(spark)
      wl.afterRun()
      val (gbps, tinyMs) = probes.last
      println(f"[perfbench] phase probe: stream $gbps%.2f GB/s, tiny job $tinyMs%.1f ms")
      println(f"[perfbench] run ${plain.size + traced.size}${if (withTrace) " (traced)" else ""}: $s%.3f s")
    }

    val m = LinkedHashMap.empty[String, Double]
    if (!o.trace) {
      m("run_s") = Stats.median(plain.map(_.runS).toSeq)
      m("setup_s") = setupS
      m("run_cpu_s") = Stats.median(plain.map(_.cpuS).toSeq)
    } else {
      m("host.stream_gbps") = Stats.median(probes.map(_._1).toSeq)
      m("host.tiny_job_ms") = Stats.median(probes.map(_._2).toSeq)
      m("host.llc_mb") = Probe.llcBytes / 1048576.0
      m("host.stream_array_mb") = Probe.streamBytes / 1048576.0
      m("host.peak_rss_mb") = Probe.peakRssMb()
      Seq("pagerank", "wcc", "lpa", "triangles").foreach { a =>
        m(s"ref.${a}_st_s") = wl.refTimes.getOrElse(a, 0.0)
      }
      val reports = traced.map(_._2).toSeq
      def med(f: LayerReport => Double) = Stats.median(reports.map(f))
      val scal = reports.map(_.scalars(if (o.workload == "crawl_e2e") wl.nodes.toDouble else 0.0,
        wl.nodes))
      scal.head.keys.foreach(k => m(k) = Stats.median(scal.map(_(k))))
      val rows = reports.flatMap(_.steps)
      def dist(name: String, xs: Seq[Double]): Unit = {
        m(name) = Stats.median(xs); m(s"$name.p90") = Stats.quantile(xs, 0.9)
        m(s"$name.n") = xs.size.toDouble
      }
      val df = rows.filterNot(_.csr)
      dist("bsp.csr_superstep_ms", rows.filter(_.csr).map(_.wallMs))
      dist("bsp.df_superstep_ms", df.map(_.wallMs))
      dist("bsp.df_scatter_ms", df.map(_.scatterMs))
      dist("bsp.df_apply_ms", df.map(_.applyMs))
      dist("bsp.driver_gap_ms", rows.map(_.gapMs))
      dist("ckpt.commit_block_ms", rows.filter(_.commitMs > 0).map(_.commitMs))
      Seq("io", "graph", "bsp", "algo", "ckpt", "bench").foreach { l =>
        m(s"self.${l}_s") = med(_.selfByLayer.getOrElse(l, 0.0))
      }
      val tracedRun = med(_.runS)
      val plainRun = Stats.median(plain.map(_.runS).toSeq)
      m("trace.attributed_share") = med(r => 1.0 - r.selfByLayer.getOrElse("bench", 0.0) / r.runS)
      m("trace.run_s") = tracedRun
      m("trace.untraced_run_s") = plainRun
      m("trace.overhead_ratio") = tracedRun / plainRun
      val p4 = Stats.median(plain.map(edgesPerS).toSeq)
      m("bsp.edges_per_s") = p4
      val p1 = Stats.median(plain.flatMap(_.extra.get("p1_edges_per_s")).toSeq)
      m("scaling_eff") = if (p1 > 0) p4 / (4 * p1) else 0.0
      m("resume_s") = Stats.median(plain.map(_.extra.getOrElse("resume_s", 0.0)).toSeq)
      Seq("ckpt.snapshots", "ckpt.snapshot_bytes_per_step").foreach { k =>
        m(k) = Stats.median(traced.map(_._1.extra.getOrElse(k, 0.0)).toSeq)
      }
      m("failed_ops") = ops.failed.toDouble / ops.attempted
    }
    wl.release()
    spark.stop()
    val units = (if (o.trace) PerLayer else EndToEnd).toMap
    val order = (if (o.trace) PerLayer else EndToEnd).map(_._1)
    val missing = order.filterNot(m.contains) ++ m.keys.filterNot(units.contains)
    require(missing.isEmpty, s"metric set mismatch: ${missing.mkString(", ")}")
    val metrics = order.map { k =>
      val v = m(k)
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": $v, "unit": "${units(k)}"}"""
    }.mkString(", ")
    val result = s"""{"correct": ${ops.failed == 0}, "attempted": ${ops.attempted}, """ +
      s""""failed": ${ops.failed}, "metrics": {$metrics}}"""
    o.traceOut.filter(_ => o.trace).foreach { f =>
      val spans = traced.zipWithIndex.flatMap { case ((_, r), i) => r.spansJson(i) }
      java.nio.file.Files.writeString(f.toPath,
        s"""{"workload": "${o.workload}", "seed": ${o.seed}, "result": $result,\n"spans": [\n""" +
          spans.mkString(",\n") + "\n]}\n")
      println(s"[perfbench] spans written to $f")
    }
    println(result)
  }
}
