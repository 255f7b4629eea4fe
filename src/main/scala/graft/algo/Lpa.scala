package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
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
  *    parity) so each phase is one shuffle-based DataFrame program; same
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
    graft.bsp.DriverGuard.checkEdges(g, "Lpa.runExact",
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

  val InMemMaxIds: Long = 32L * 1000 * 1000

  /** Scalable deterministic synchronous LPA (red/black by vid parity).
    * Numeric-GID graphs below the in-memory id bound take the CSR fast
    * path (identical labels; one broadcast gather per colour phase);
    * string-GID or huge graphs run the shuffle-based supersteps.
    *
    * `ctx` (north rule): the DF path checkpoints state once per colour
    * phase (superstep = half-sweep) and resumes from the max committed
    * half-sweep; a mid-sweep resume cannot see the first colour phase's
    * changed count, so that sweep never declares convergence — at worst
    * one extra no-op sweep, labels identical (CkptSpec). The CSR fast
    * path records metrics only (driver-bounded arrays, re-run on resume). */
  def runSync(g: LinkGraph, maxSweeps: Int = 100, mode: String = "auto",
              ctx: graft.bsp.RunContext = graft.bsp.RunContext.none): DataFrame = {
    if (g.nodeFacts.maxVid < 0)
      return g.nodes.select(col("vid"), col("name"), col("name").as("label")).limit(0)
    val useCsr = (mode != "auto" || g.namesAreNumeric) &&
      graft.graph.CsrGraph.useCsr(g, mode, InMemMaxIds)
    if (useCsr) runSyncCsr(g, maxSweeps, ctx)
    else graft.bsp.IterativeConf.withStablePartitioning(g.spark) { runSync0(g, maxSweeps, ctx) }
  }

  private def runSyncCsr(g: LinkGraph, maxSweeps: Int,
                         ctx: graft.bsp.RunContext): DataFrame = {
    require(g.namesAreNumeric,
      "LPA CSR mode needs numeric GID names (labels are packed as u64); " +
        "use mode=\"df\" for string-named graphs")
    val spark = g.spark
    import spark.implicits._
    val csr = g.undirectedCsr
    val nodes = g.nodes.select($"vid", $"name").as[(Long, String)].collect()
    val nameVal = new Array[Long](csr.n)
    nodes.foreach { case (v, nm) => nameVal(v.toInt) = java.lang.Long.parseUnsignedLong(nm) }
    val labels = graft.bsp.CsrSuperstep.lpaSync(csr, nameVal, maxSweeps, ctx)
    val rows = nodes.map { case (v, nm) => (v, nm, java.lang.Long.toUnsignedString(labels(v.toInt))) }
    spark.createDataset(rows.toSeq).toDF("vid", "name", "label")
  }

  private def runSync0(g: LinkGraph, maxSweeps: Int,
                       ctx: graft.bsp.RunContext): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pairs = g.undirectedPairs.repartition(p, $"a")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairCount = pairs.count()
    // label ordering key: numeric GIDs by value, strings lexicographically
    val nodes = g.nodes
    var state = ctx.restoreOrInit(
      nodes.select($"vid", $"name".as("label")).repartition(p, $"vid"))

    // superstep = half-sweep (one colour phase); resume restarts at the
    // max committed half-sweep. A mid-sweep resume (odd halfStep) cannot
    // know the first phase's changed count, so that first resumed sweep
    // never declares done — at worst one extra converged (no-op) sweep,
    // labels unchanged.
    var halfStep = ctx.startStep
    var sweep = halfStep / 2
    var startColor = halfStep % 2
    var firstSweepPartial = startColor == 1
    var done = false
    while (!done && sweep < maxSweeps) {
      var changedTotal = if (firstSweepPartial) 1L else 0L
      for (color <- startColor to 1) {
        val t0 = System.nanoTime()
        val newState = lpaPhase(state, pairs, color, g.namesAreNumeric)
        halfStep += 1
        val ck = ctx.checkpoint(newState, halfStep)
        // the changed aggregate materialises the lazy checkpoint — one job
        // per colour phase (previously an eager localCheckpoint + agg, two)
        val changed = ck.agg(coalesce(sum(when($"changed", 1L).otherwise(0L)), lit(0L)))
          .head().getLong(0)
        changedTotal += changed
        state = ck.drop("changed")
        ctx.record(graft.bsp.StepStat("lpa", halfStep, pairCount, pairCount,
          changed.toDouble, (System.nanoTime() - t0) / 1e6))
      }
      startColor = 0
      firstSweepPartial = false
      done = changedTotal == 0
      sweep += 1
    }
    ctx.finish() // barrier: async snapshot commits durable before returning
    pairs.unpersist()
    state.join(nodes, Seq("vid")).select($"vid", $"name", $"label")
  }

  /** One red/black colour phase as a DataFrame program (PlanSpec audits
    * this fragment: both state joins SHJ, no window, sorts only above
    * aggregated data — see the majority-aggregation note below). `state`
    * is (vid, label) hash-partitioned on vid; `pairs` the undirected
    * (a, b) neighbour table partitioned on a. */
  private[graft] def lpaPhase(state: DataFrame, pairs: DataFrame, color: Int,
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
