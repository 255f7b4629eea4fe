package graft.perfbench

import scala.collection.mutable.LinkedHashMap

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Per-superstep figures, joined from its span, its StepStat and the
  * listener's stages. */
final case class StepRow(csr: Boolean, wallMs: Double, edges: Long,
                         jobs: Int, stages: Int, tasks: Int, gapMs: Double,
                         scatterMs: Double, applyMs: Double, messages: Long,
                         shuffleBytes: Long, spillBytes: Long, gcMs: Long,
                         skews: Seq[Double], commitMs: Double)

/** Turns one traced run's spans, listener records and step stats into the
  * per-layer metrics. */
final class LayerReport(tr: Tracer, col: Collector, out: RunOut) {
  private val spans = tr.spans.toSeq
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  private def kids(s: Span): Seq[Span] = children.getOrElse(s.id, Nil)

  /** Span id that owns each non-writer job: the span open at submission,
    * or the retroactive child of that span whose interval covers it. */
  private val jobSpan: Map[Int, Int] = col.jobs.iterator.filter(!_.writer).map { j =>
    val owner = spans.lift(j.span).flatMap { s =>
      kids(s).find(c => c.retro && tr.epochMs(c.start) <= j.submitMs + 1 &&
        j.submitMs <= tr.epochMs(c.end))
    }.map(_.id).getOrElse(j.span)
    j.jobId -> owner
  }.toMap

  private val stagesBySpan: Map[Int, Seq[StageRec]] =
    col.stages.toSeq.filter(st => jobSpan.contains(st.jobId)).groupBy(st => jobSpan(st.jobId))

  private def subtree(s: Span): Seq[Span] = s +: kids(s).flatMap(subtree)
  private def stagesUnder(s: Span): Seq[StageRec] = subtree(s).flatMap(x => stagesBySpan.getOrElse(x.id, Nil))
  private def jobsUnder(s: Span): Int = {
    val ids = subtree(s).map(_.id).toSet
    jobSpan.values.count(ids.contains)
  }

  private def ms(ns: Long): Double = ns / 1e6
  private def named(n: String): Seq[Span] = spans.filter(_.name == n)
  private def durS(n: String): Double = named(n).map(_.durNs / 1e9).sum

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  val steps: Seq[StepRow] = out.ctxs.toSeq.flatMap(_._2.steps).collect { case (Some(s), stat) =>
    val st = stagesUnder(s)
    val scatter = st.filter(x => x.isMap && x.shuffleReadRecords == 0)
    val wall = ms(s.durNs)
    // stage times are whole milliseconds: clamp the gap's rounding at 0
    val gap = math.max(0.0, wall - unionMs(st.map(x => (x.submitMs, x.doneMs))))
    StepRow(stat.algo.endsWith("-csr"), wall, stat.edgesScattered,
      jobsUnder(s), st.size, st.map(_.numTasks).sum, gap,
      scatter.map(x => (x.doneMs - x.submitMs).toDouble).sum,
      st.filterNot(scatter.contains).map(x => (x.doneMs - x.submitMs).toDouble).sum,
      scatter.map(_.shuffleWriteRecords).sum, st.map(_.shuffleWriteBytes).sum,
      st.map(_.spillBytes).sum, st.map(_.gcMs).sum,
      st.filter(_.taskMs.length >= 2).map { x =>
        val t = x.taskMs.map(_.toDouble).toSeq
        t.max / math.max(1.0, Stats.median(t))
      },
      kids(s).filter(_.name == "ckpt.commit").map(c => ms(c.durNs)).sum)
  }

  /** Self time of every layer: span duration minus its children's. */
  def selfByLayer: Map[String, Double] =
    spans.filter(_.end >= 0).groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.durNs - kids(s).map(_.durNs).sum) / 1e9).sum
    }

  def runS: Double = durS("bench.run")

  /** This run's spans as JSON objects; times in ms from the run's start. */
  def spansJson(run: Int): Seq[String] = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.filter(_.end >= 0).map { s =>
      val st = stagesBySpan.getOrElse(s.id, Nil)
      s"""{"run": $run, "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ms": ${ms(s.start - t0)}, "end_ms": ${ms(s.end - t0)}, """ +
        s""""self_ms": ${ms(s.durNs - kids(s).map(_.durNs).sum)}, """ +
        s""""jobs": ${jobSpan.values.count(_ == s.id)}, "stages": ${st.size}, """ +
        s""""tasks": ${st.map(_.numTasks).sum}, "shuffle_records": ${st.map(_.shuffleWriteRecords).sum}, """ +
        s""""shuffle_bytes": ${st.map(_.shuffleWriteBytes).sum}}"""
    }
  }

  /** Scalar metrics of this traced run (timings pooled per step below). */
  def scalars(pages: Double, nodes: Long): LinkedHashMap[String, Double] = {
    val m = LinkedHashMap.empty[String, Double]
    val io = Seq("io.extract", "io.seq", "io.mint").flatMap(named)
    m("io.extract_s") = durS("io.extract")
    m("io.extract_pages_per_s") = if (durS("io.extract") > 0) pages / durS("io.extract") else 0.0
    m("io.seq_s") = durS("io.seq")
    m("io.mint_s") = durS("io.mint")
    m("io.shuffle_bytes") = io.flatMap(stagesUnder).map(_.shuffleWriteBytes).sum.toDouble
    m("graph.dedup_s") = durS("graph.dedup")
    m("graph.csr_pack_s") = durS("graph.csr_pack")
    m("graph.partition_s") = durS("graph.partition")
    m("bsp.csr_broadcast_bytes") = if (steps.exists(_.csr)) 8.0 * nodes else 0.0
    val df = steps.filterNot(_.csr)
    m("bsp.messages_per_superstep") = Stats.median(df.map(_.messages.toDouble))
    m("bsp.messages_per_edge") = Stats.median(df.map(s => s.messages.toDouble / math.max(1L, s.edges)))
    m("bsp.shuffle_bytes_per_superstep") = Stats.median(df.map(_.shuffleBytes.toDouble))
    m("bsp.jobs_per_superstep") = Stats.median(steps.map(_.jobs.toDouble))
    m("bsp.stages_per_superstep") = Stats.median(steps.map(_.stages.toDouble))
    m("bsp.tasks_per_superstep") = Stats.median(steps.map(_.tasks.toDouble))
    m("bsp.task_skew") = Stats.median(steps.flatMap(_.skews))
    m("bsp.spill_bytes") = steps.map(_.spillBytes).sum.toDouble
    m("bsp.gc_ms") = steps.map(_.gcMs).sum.toDouble
    m("algo.pagerank_s") = durS("algo.pagerank")
    m("algo.wcc_s") = durS("algo.wcc")
    m("algo.lpa_s") = durS("algo.lpa")
    m("algo.triangles_s") = durS("algo.triangles")
    val tri = named("algo.triangles").flatMap(stagesUnder)
    m("algo.triangles_shuffle_records") = tri.map(_.shuffleWriteRecords).sum.toDouble
    m("algo.triangles_shuffle_bytes") = tri.map(_.shuffleWriteBytes).sum.toDouble
    val stats = out.ctxs.flatMap(_._2.steps.map(_._2))
    m("algo.wcc_supersteps") = stats.count(_.algo.startsWith("wcc")).toDouble
    m("algo.lpa_phases") = stats.count(_.algo.startsWith("lpa")).toDouble
    m("ckpt.finish_ms") = named("ckpt.finish").map(s => ms(s.durNs)).sum
    m("ckpt.restore_s") = durS("ckpt.restore")
    m
  }
}
