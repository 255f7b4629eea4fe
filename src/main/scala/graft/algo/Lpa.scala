package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.{CsrGraph, LinkGraph}
import graft.bsp.{CsrSuperstep, RunContext, StatePlan, Superstep}
import graft.rng.Rand08

/** Community label propagation with the reference's semantics
  * (raphtory/src/algorithms/community_detection/label_propagation.rs:21-76):
  *
  *  - labels init to each node's own GID;
  *  - ONE Fisher–Yates shuffle of all nodes (VID order) with
  *    StdRng::from_seed(seed) — the shuffled order is reused every sweep;
  *  - asynchronous sweeps: each node adopts the majority label of its
  *    undirected distinct neighbours using *current* labels; ties break to
  *    the largest GID (BTreeMap ascending + max_by keeps the last maximum);
  *  - repeat until a full sweep changes nothing.
  *
  * The algorithm is inherently sequential (within-sweep dependencies), so
  * it has two modes (SURVEY §2.4.3/§7.4):
  *
  *  - `runExact`: a driver-local replay of exactly the above, bit-compatible
  *    with the reference (same ChaCha12 stream) — the fixture-exactness mode;
  *    bounded by driver memory, intended for ≤ ~10^7-edge (sub)graphs.
  *  - `runSync`: a scalable deterministic red/black synchronous variant for
  *    arbitrary scale: nodes update in two colour phases per sweep (by vid
  *    parity), each phase one superstep on either engine; same
  *    majority + largest-GID tie-break. Community *quality* matches LPA;
  *    the per-node assignment is deterministic but not stream-identical.
  */
object Lpa {

  /** GID ordering: all numeric (u64) GIDs sort before all strings
    * (raphtory-api/src/core/entities/mod.rs:84-88). */
  private def gidLt(numeric: Boolean)(a: String, b: String): Boolean =
    if (numeric) java.lang.Long.compareUnsigned(
      java.lang.Long.parseUnsignedLong(a), java.lang.Long.parseUnsignedLong(b)) < 0
    else a < b

  /** Exact driver-local replay. Returns (vid, name, label) where label is
    * the community's final GID. */
  def runExact(g: LinkGraph, seed: Option[Array[Byte]]): DataFrame = {
    graft.bsp.DriverGuard.checkGraph(g, "Lpa.runExact",
      "Lpa.runSync (deterministic synchronous sweeps, CSR or shuffle engine)")
    val spark = g.spark
    import spark.implicits._
    val nodes = g.nodes.select($"vid", $"name").as[(Long, String)].collect().sortBy(_._1)
    val n = nodes.length
    val vidIndex = nodes.map(_._1).zipWithIndex.toMap
    val names = nodes.map(_._2)
    val lt = gidLt(g.namesAreNumeric) _

    // undirected distinct adjacency (self-loop => self once)
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    g.undirectedPairs.as[(Long, Long)].collect().foreach { case (a, b) =>
      adj(vidIndex(a)) += vidIndex(b)
    }

    val order = Array.range(0, n)
    seed match {
      case Some(s) =>
        require(s.length == 32, "seed must be 32 bytes")
        Rand08.shuffle(order, new Rand08.StdRng(s))
      case None =>
        Rand08.shuffle(order, new Rand08.StdRng(Array.fill[Byte](32)(0)))
    }

    val labels = Array.tabulate(n)(i => i) // label = index of the GID owner
    var changed = true
    while (changed) {
      changed = false
      var oi = 0
      while (oi < n) {
        val v = order(oi)
        val counts = scala.collection.mutable.HashMap.empty[Int, Double]
        adj(v).foreach { u => counts(labels(u)) = counts.getOrElse(labels(u), 0.0) + 1.0 }
        if (counts.nonEmpty) {
          // max count; ties -> largest GID
          var bestLabel = -1
          var bestCount = -1.0
          counts.foreach { case (l, c) =>
            if (c > bestCount || (c == bestCount && lt(names(bestLabel), names(l))))
              { bestLabel = l; bestCount = c }
          }
          if (bestLabel != labels(v)) { labels(v) = bestLabel; changed = true }
        }
        oi += 1
      }
    }
    val rows = nodes.indices.map(i => (nodes(i)._1, names(i), names(labels(i))))
    spark.createDataset(rows).toDF("vid", "name", "label")
  }

  /** Scalable deterministic synchronous LPA (red/black by vid parity).
    * Numeric-GID graphs below the in-memory id bound take the CSR fast
    * path (identical labels; one broadcast gather per colour phase);
    * string-GID or huge graphs run the shuffle-based supersteps.
    *
    * Each colour phase is one superstep, colour = step parity, at most
    * 2·maxSweeps phases. Both engines halt after two consecutive phases
    * that change nothing: that state is a fixed point of both colours, so
    * the labels equal those of any longer run.
    *
    * `ctx` (north rule): the DF path checkpoints state once per colour
    * phase and resumes from the max committed phase; a resumed run starts
    * its quiet-phase count afresh — at worst one extra no-op phase, labels
    * identical (CkptSpec). The CSR fast path records metrics only
    * (driver-bounded arrays, re-run on resume). */
  def runSync(g: LinkGraph, maxSweeps: Int = 100, mode: String = "auto",
              ctx: RunContext = RunContext.none): DataFrame = {
    if (g.nodeFacts.maxVid < 0)
      return g.nodes.select(col("vid"), col("name"), col("name").as("label")).limit(0)
    val useCsr = (mode != "auto" || g.namesAreNumeric) && CsrGraph.useCsr(g, mode)
    if (useCsr) runSyncCsr(g, maxSweeps, ctx) else runSyncDf(g, maxSweeps, ctx)
  }

  /** The halting rule both engines share: true once two consecutive phases
    * (one of each colour) changed nothing. */
  private def twoQuietPhases(): Long => Boolean = {
    var quiet = 0
    changed => { quiet = if (changed == 0) quiet + 1 else 0; quiet >= 2 }
  }

  private def runSyncCsr(g: LinkGraph, maxSweeps: Int, ctx: RunContext): DataFrame = {
    require(g.namesAreNumeric,
      "LPA CSR mode needs numeric GID names (labels are packed as u64); " +
        "use mode=\"df\" for string-named graphs")
    val csr = g.undirectedCsr
    val init = Array.fill(csr.n)(Long.MinValue) // absent ids = Long.MinValue
    // executors parse the names; only (vid, label) longs reach the driver
    g.nodes.select(col("vid"), col("name")).rdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r => b += r.getLong(0); b += java.lang.Long.parseUnsignedLong(r.getString(1)) }
      Iterator(b.result())
    }.collect().foreach(a => for (i <- a.indices by 2) init(a(i).toInt) = a(i + 1))
    val halt = twoQuietPhases()
    // phases count from 0 on this engine: colour = phase % 2
    val labels = Superstep.loop("lpa-csr", ctx, csr.edgeCount, 0, 2L * maxSweeps - 1, init) {
      (l, phase) =>
        val color = phase % 2
        val (next, changed) = CsrSuperstep.gather(csr, l, new Array[Long](_)) { (b, prev, seg) =>
          var changed = 0L
          val counts = new scala.collection.mutable.LongMap[Long]()
          var i = 0
          while (i < seg.length) {
            val w = b.lo + i
            seg(i) = prev(w)
            if (prev(w) != Long.MinValue && (w & 1) == color) {
              counts.clear()
              var k = b.offsets(i)
              val end = b.offsets(i + 1)
              while (k < end) {
                val c = prev(b.srcs(k))
                counts(c) = counts.getOrElse(c, 0L) + 1L
                k += 1
              }
              if (counts.nonEmpty) {
                var bestLabel = 0L
                var bestCount = -1L
                counts.foreachEntry { (lab, c) =>
                  // GIDs are u64 stored in signed longs: ties break by
                  // UNSIGNED order (Lpa.gidLt), not the wrapped sign
                  if (c > bestCount ||
                      (c == bestCount && java.lang.Long.compareUnsigned(lab, bestLabel) > 0)) {
                    bestLabel = lab; bestCount = c
                  }
                }
                if (bestLabel != seg(i)) { seg(i) = bestLabel; changed += 1 }
              }
            }
            i += 1
          }
          changed
        }
        Superstep.Next(next, changed.toDouble, halt(changed))
    }
    CsrGraph.results(g, labels, "label STRING")((l, v) => Seq(java.lang.Long.toUnsignedString(l(v))))
  }

  private def runSyncDf(g: LinkGraph, maxSweeps: Int, ctx: RunContext): DataFrame = {
    Superstep.dataFrame("lpa", ctx, g.pairTable)(dfProgram(g, maxSweeps))
      .join(g.nodes, Seq("vid")).select(col("vid"), col("name"), col("label"))
  }

  /** The DataFrame program: one colour phase per superstep, the colour a
    * step param, so both colours run one compiled plan. */
  private[graft] def dfProgram(g: LinkGraph, maxSweeps: Int)(pairs: DataFrame, m: Long): Superstep.Dense = {
    val halt = twoQuietPhases()
    val colour = new StatePlan.Param
    Superstep.Dense(
      init = g.nodes.select(col("vid"), col("name").as("label")),
      maxSteps = 2L * maxSweeps,
      step = lpaPhase(_, pairs, colour.col.cast("long"), g.namesAreNumeric),
      aggs = Seq(coalesce(sum(when(col("changed"), 1L).otherwise(0L)), lit(0L))),
      halt = (r, _) => halt(r.getLong(0)),
      // phases count from 1 on this engine: colour = (phase - 1) % 2
      bind = (_, phase) => colour.set((phase - 1) % 2))
  }

  /** One red/black colour phase as a DataFrame program (PlanSpec audits
    * this fragment: both state joins SHJ, no window, sorts only above
    * aggregated data — see the majority-aggregation note below). `state`
    * is (vid, label) hash-partitioned on vid; `pairs` the undirected
    * (a, b) neighbour table partitioned on a; `color` the active colour
    * (the compiled loop's step param). */
  private[graft] def lpaPhase(state: DataFrame, pairs: DataFrame, color: Column,
                              numericNames: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    // gather only into the active colour class — the other half of the
    // majority aggregation would be discarded by the newState select,
    // doubling the per-sweep shuffle for nothing
    val gather = pairs.filter(c("b") % 2 === color)
    val counts = state.hint("shuffle_hash")
      .join(gather, state("vid") === gather("a"))
      .groupBy(c("b"), c("label")).agg(count(lit(1)).as("c"))
    // majority label, ties -> largest GID: ONE lexicographic struct-max
    // aggregation. Numeric GIDs order as UNSIGNED u64 (Lpa.gidLt):
    // decimal(20,0) covers the full u64 range — cast("long") would null
    // labels >= 2^63 and invert those tie-breaks vs runExact/the CSR path.
    //
    // Struct buffers aren't UnsafeRow-mutable, so this compiles to
    // SortAggregate — DELIBERATELY kept: its partial side runs map-side on
    // the count-HashAggregate's output (distinct (dst,label) pairs, never
    // the edge table) and reduces to one row per dst BEFORE the exchange,
    // so only ~n rows cross the wire. The sort-free alternative (hash-agg
    // the max count, self-join counts back, hash-agg a sign-flipped-long
    // order key) was measured to plan the m-row gather join TWICE (no
    // exchange reuse across the two consumers) and ships the whole counts
    // table through two extra exchanges — strictly worse. PlanSpec locks
    // the real invariant instead: sorts only ever sit above aggregates /
    // exchanges of aggregated data, never above a join or the edge scan.
    val counts2 = counts.withColumn("ord_key",
      if (numericNames)
        c("label").cast(org.apache.spark.sql.types.DecimalType(20, 0))
      else c("label"))
    val best = counts2.groupBy(c("b"))
      .agg(max(struct(c("c"), c("ord_key"), c("label"))).as("m"))
      .select(c("b").as("vid"), c("m.label").as("cand"))
    // shuffle_hash like every other superstep loop: post-checkpoint state
    // has unknown stats and would SMJ-re-sort both sides per phase
    state.join(best.hint("shuffle_hash"), Seq("vid"), "left")
      .select(c("vid"),
        when(c("vid") % 2 === color && c("cand").isNotNull, c("cand"))
          .otherwise(c("label")).as("label"),
        (c("vid") % 2 === color && c("cand").isNotNull && c("cand") =!= c("label")).as("changed"))
  }
}
