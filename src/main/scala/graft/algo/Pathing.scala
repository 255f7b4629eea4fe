package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.LinkGraph
import graft.bsp.{RunContext, Superstep}

/** Path algorithms (SURVEY §2.4.5):
  *
  *  - `sssp` — BFS shortest paths over undirected distinct neighbours with
  *    node-name paths and a level cutoff
  *    (raphtory/src/algorithms/pathing/single_source_shortest_path.rs:25-77).
  *    The reference's path *choice* among equal-length paths is HashMap-
  *    iteration-order dependent (its own test accepts either,
  *    python/tests/test_algorithms.py:361-368); we make it deterministic:
  *    min-vid parent wins.
  *  - `dijkstra` — driver-side binary-heap Dijkstra on an edge weight
  *    column (pathing/dijkstra.rs:49-200); deterministic smallest-name
  *    tie-break.
  *  - `temporallyReachableNodes` — time-respecting taint spread
  *    (pathing/temporal_reachability.rs:70-200): seeds taint at start_time,
  *    a tainted node scatters every out-edge *event* with ts ≥ its earliest
  *    taint time, stop-nodes absorb, loop ends when the tainted set stops
  *    growing or after max_hops supersteps; result = per node the sorted
  *    set of (event_time, tainting node name).
  */
object Pathing {

  /** Returns (vid, name, dist, path) for reached nodes only.
    *
    * The levels are the frontier program over the undirected pair table:
    * O(1) state per node (no name-path arrays shuffled per level). Paths
    * materialise once at the end: level-by-level parent joins over the
    * result set only (≤ depth joins total). */
  def sssp(g: LinkGraph, source: String, cutoff: Long = Long.MaxValue,
           withPaths: Boolean = true): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    graft.bsp.IterativeConf.withStablePartitioning(spark) {
    val seeds = g.nodes.filter($"name" === source).select($"vid")
    val state = Superstep.dataFrame("sssp", RunContext.none, g.pairTable)(
      frontierProgram(g.nodes.select($"vid"), seeds, cutoff, "a", "b"))
    val reached = state.filter($"dist".isNotNull).select($"vid", $"dist", $"parent")
    if (!withPaths) reached.join(g.nodes, Seq("vid")).select($"vid", $"name", $"dist")
    else {
      // path reconstruction: each reached node has exactly one (min-vid)
      // parent, so dist-k paths = dist-(k-1) paths + own name
      val named = reached.join(g.nodes, Seq("vid"))
        .select($"vid", $"name", $"dist", $"parent").localCheckpoint(false)
      val maxRow = named.agg(max($"dist")).head() // materialises the checkpoint
      // nothing reads the final state's checkpoint any more
      state.queryExecution.logical.collectLeaves().foreach {
        case l: LogicalRDD => l.rdd.unpersist(blocking = false)
        case _ =>
      }
      val maxDist = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
      val root = named.filter($"dist" === 0L).select($"vid", array($"name").as("path"))
      // lazy: each level's checkpoint materialises inside the next
      // level's join (or the final join) — no per-level eager job
      val (paths, _) = (1L to maxDist).foldLeft((root, root)) { case ((paths, prev), l) =>
        val level = named.filter($"dist" === l)
          .join(prev.select($"vid".as("parent"), $"path".as("ppath")), Seq("parent"))
          .select($"vid", concat($"ppath", array($"name")).as("path"))
          .localCheckpoint(false)
        (paths.union(level), level)
      }
      named.join(paths, Seq("vid")).select($"vid", $"name", $"dist", $"path")
    }
    }
  }

  /** The frontier program (sssp and Components' closures): level-
    * synchronous BFS from `seeds` over the static table `edges`, read as
    * (`src`, `dst`). The state is one frame over every key of `keys`,
    * (vid, dist, parent, fresh): a reached row holds its level and its
    * least-vid parent (null for a seed, at dist 0), an unreached row null
    * dist and parent, and `fresh` marks the rows the last step reached
    * (the seeds before the first). A step scatters from the fresh rows
    * only, so each row scatters once; the run halts when a step reaches
    * no row, or after `maxSteps` levels. `seeds` must be distinct. */
  private[graft] def frontierProgram(keys: DataFrame, seeds: DataFrame, maxSteps: Long,
                                     src: String, dst: String)(edges: DataFrame, m: Long): Superstep.Dense =
    Superstep.Dense(
      // joined shuffled-hash (no broadcast job): the first step's job builds it
      init = keys.join(seeds.select(col("vid"), lit(true).as("seed")).hint("shuffle_hash"),
          Seq("vid"), "left")
        .select(col("vid"), when(col("seed"), lit(0L)).as("dist"), lit(null).cast("long").as("parent"),
          coalesce(col("seed"), lit(false)).as("fresh")),
      maxSteps = maxSteps,
      step = frontierStep(_, edges, src, dst),
      aggs = Seq(count(when(col("fresh"), 1))),
      halt = (r, _) => r.getLong(0) == 0)

  /** One frontier level (PlanSpec audits this fragment): the fresh rows
    * join `edges` on `src` (co-partitioned and shuffled-hash, so no
    * exchange), one hash aggregate per `dst` takes the least-vid parent
    * and the frontier's dist + 1 (the step's one exchange; a hash
    * aggregate, not a window), and the state left-joins it shuffled-hash
    * on vid: an unreached row with a candidate takes it and turns fresh,
    * every other row keeps its values with fresh = false. */
  private[graft] def frontierStep(state: DataFrame, edges: DataFrame, src: String, dst: String): DataFrame = {
    val fresh = state.filter(col("fresh"))
    val cand = fresh.hint("shuffle_hash").join(edges, fresh("vid") === edges(src))
      .groupBy(edges(dst)).agg(min(fresh("vid")).as("from"), (min(fresh("dist")) + 1).as("level"))
    val reached = state("dist").isNull && cand("level").isNotNull
    state.join(cand.hint("shuffle_hash"), state("vid") === cand(dst), "left")
      .select(state("vid"), coalesce(state("dist"), cand("level")).as("dist"),
        when(reached, cand("from")).otherwise(state("parent")).as("parent"), reached.as("fresh"))
  }

  /** Driver-side Dijkstra. direction: "out" | "in" | "both". Returns
    * (target, cost, path). Weight column defaults to 1.0 per event. */
  def dijkstra(g: LinkGraph, source: String, targets: Seq[String],
               weightCol: Option[String] = None, direction: String = "both"): DataFrame = {
    graft.bsp.DriverGuard.checkGraph(g, "Pathing.dijkstra",
      "Pathing.deltaStepping (distributed weighted SSSP) for costs, or " +
        "Pathing.sssp (distributed BFS) for unweighted distances")
    val spark = g.spark
    import spark.implicits._
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val raw = g.edges.select($"src", $"dst", w.as("w"))
      .groupBy($"src", $"dst").agg(min($"w").as("w")) // cheapest parallel edge
      .as[(Long, Long, Double)].collect()
    val names = g.nodes.as[(Long, String)].collect().toMap
    val byName = names.map(_.swap)
    val adj = scala.collection.mutable.HashMap.empty[Long, List[(Long, Double)]]
    def add(u: Long, v: Long, c: Double): Unit = adj(u) = (v, c) :: adj.getOrElse(u, Nil)
    raw.foreach { case (s, d, c) =>
      if (direction == "out" || direction == "both") add(s, d, c)
      if (direction == "in" || direction == "both") add(d, s, c)
    }
    val result = byName.get(source) match {
      case None => Seq.empty[(String, Double, Seq[String])]
      case Some(s0) =>
        val dist = scala.collection.mutable.HashMap[Long, Double](s0 -> 0.0)
        val prev = scala.collection.mutable.HashMap.empty[Long, Long]
        val settled = scala.collection.mutable.HashSet.empty[Long]
        // (cost, name, vid): name in the key makes tie-breaks deterministic
        val pq = scala.collection.mutable.PriorityQueue.empty[(Double, String, Long)](
          Ordering.by[(Double, String, Long), (Double, String)](t => (t._1, t._2)).reverse)
        pq.enqueue((0.0, names(s0), s0))
        while (pq.nonEmpty) {
          val (c, _, u) = pq.dequeue()
          if (!settled(u)) {
            settled += u
            adj.getOrElse(u, Nil).foreach { case (v, wuv) =>
              val nc = c + wuv
              if (nc < dist.getOrElse(v, Double.MaxValue)) {
                dist(v) = nc; prev(v) = u
                pq.enqueue((nc, names(v), v))
              }
            }
          }
        }
        targets.flatMap { t =>
          byName.get(t).filter(dist.contains).map { tv =>
            var path = List(names(tv)); var cur = tv
            while (cur != s0) { cur = prev(cur); path = names(cur) :: path }
            (t, dist(tv), path.toSeq)
          }
        }
    }
    spark.createDataset(result).toDF("target", "cost", "path")
  }

  /** Distributed weighted single-source shortest paths by delta-stepping
    * (Meyer & Sanders, J. Algorithms 49(1), 2003) — the scale alternative
    * `dijkstra`'s DriverGuard names. Distances are settled bucket by
    * bucket (bucket i = dists in [i*delta, (i+1)*delta)): light edges
    * (w <= delta) relax iteratively inside the bucket, heavy edges once
    * after it settles, so the superstep count is O(maxDist/delta +
    * light-path length) instead of one level per hop. All state moves
    * through hash-partitioned joins (shuffle_hash-hinted frontier against
    * the persisted src-partitioned edge tables); one Spark job per inner
    * relaxation (lazy localCheckpoint fused with the frontier count).
    *
    * `delta = 0` auto-sizes to the mean edge weight. Returns (vid, name,
    * dist) for reached nodes only — matching `dijkstra`'s costs exactly
    * on non-negative weights (parity-spec-locked). */
  def deltaStepping(g: LinkGraph, source: String, delta: Double = 0.0,
                    weightCol: Option[String] = None, direction: String = "both",
                    maxBuckets: Long = 1000000L): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    graft.bsp.IterativeConf.withStablePartitioning(spark) {
    val w0 = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val dir0 = g.edges.select($"src", $"dst", w0.as("w"))
    val dirEdges = direction match {
      case "out"  => dir0
      case "in"   => dir0.select($"dst".as("src"), $"src".as("dst"), $"w")
      case _      => dir0.union(dir0.select($"dst".as("src"), $"src".as("dst"), $"w"))
    }
    // cheapest parallel edge only; negative weights break the settled-
    // bucket invariant (as they do Dijkstra's) — fail fast
    val edges = dirEdges.groupBy($"src", $"dst").agg(min($"w").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = edges.agg(avg($"w"), min($"w")).head()
    if (!stats.isNullAt(1))
      require(stats.getDouble(1) >= 0.0, "deltaStepping requires non-negative edge weights")
    val d0 = if (delta > 0) delta
             else if (stats.isNullAt(0) || stats.getDouble(0) <= 0.0) 1.0
             else stats.getDouble(0)
    // transient static tables: the result below reads only the state's
    // checkpoints, each materialised by the job that follows it
    Superstep.withStatic(edges.filter($"w" <= d0), "src") { light =>
    Superstep.withStatic(edges.filter($"w" > d0), "src") { heavy =>
    edges.unpersist()
    var state = g.nodes.filter($"name" === source)
      .select($"vid", lit(0.0).as("dist")).localCheckpoint(false)
    var bucket = if (state.count() == 0) -1L else 0L
    var stateCk = state // the checkpoint `state` reads
    var outer = 0L
    while (bucket >= 0) {
      // this bucket's checkpoints and the state it starts from: a count
      // cuts the lineage of only the first lazily checkpointed frame it
      // reaches, so the inner loop's counts cut their frontiers alone and
      // the state reads every earlier relaxation until the bucket's last
      // job cuts it; then all of them but the state's are released
      val made = scala.collection.mutable.ArrayBuffer(stateCk)
      outer += 1
      var inner = 0L
      if (outer > maxBuckets) throw new IllegalStateException(
        s"deltaStepping exceeded $maxBuckets buckets (delta=$d0 too small for the weight range)")
      val lo = bucket * d0
      val hi = (bucket + 1) * d0
      // light-edge inner loop: settles every node whose final dist lands
      // in [lo, hi) — improvements can only land at or above lo (lower
      // buckets are settled), so the frontier filter is dist < hi
      var frontier = state.filter($"dist" >= lo && $"dist" < hi).localCheckpoint(false)
      var fCount = frontier.count()
      made += frontier
      while (fCount > 0) {
        // Adaptive batching: the FIRST relaxation of a bucket runs alone —
        // most buckets settle in one round (default delta = mean weight),
        // and pairing there would re-shuffle + re-checkpoint the full
        // state a second time just to discover convergence. From the
        // second round on (the bucket is provably multi-round) relaxations
        // run in PAIRS behind one counting action: the intermediate merge
        // is a lazy checkpoint shared by the second relax's frontier and
        // state sides, halving the actions and checkpoint churn of long
        // light-edge cascades (measured 17% off the degenerate
        // one-bucket sf0.1 leg, 13 rounds -> 7 actions).
        val m1 = deltaRelax(frontier, light.df, state).localCheckpoint(false)
        val merged = if (inner == 0) m1 else {
          inner += 1
          val f1 = m1.filter($"improved" && $"dist" < hi).select($"vid", $"dist")
          deltaRelax(f1, light.df, m1.select($"vid", $"dist")).localCheckpoint(false)
        }
        inner += 1
        frontier = merged.filter($"improved" && $"dist" < hi)
          .select($"vid", $"dist").localCheckpoint(false)
        fCount = frontier.count() // one job: materialises m1 + merged + frontier
        made ++= Seq(m1, merged, frontier)
        stateCk = merged
        state = merged.select($"vid", $"dist")
      }
      // heavy edges fire once per settled bucket; then jump to the next
      // non-empty bucket (one agg job also materialises the heavy merge)
      if (heavy.rows > 0) {
        val bNodes = state.filter($"dist" >= lo && $"dist" < hi)
        stateCk = deltaRelax(bNodes, heavy.df, state).select($"vid", $"dist").localCheckpoint(false)
        state = stateCk
      }
      val nextRow = state.agg(min(when($"dist" >= hi, floor($"dist" / d0).cast("long")))).head()
      made.filter(_ ne stateCk).foreach(Superstep.release)
      // max(_, bucket+1): dist/d0 can round down across the hi boundary
      bucket = if (nextRow.isNullAt(0)) -1L else math.max(nextRow.getLong(0), bucket + 1)
    }
    state.join(g.nodes, Seq("vid")).select($"vid", $"name", $"dist")
    }}
    }
  }

  /** One delta-stepping relaxation: the frontier's (dist + w) candidates
    * hash-aggregated per target, full-joined into (vid, dist, improved)
    * keeping improvements only. The frontier/state sides are
    * post-checkpoint (unknown stats) — shuffle_hash keeps the persisted
    * src-partitioned edge table's layout reusable instead of an SMJ
    * re-sort per relaxation (PlanSpec-locked: no SortExec, SHJ). */
  private[graft] def deltaRelax(frontier: DataFrame, e: DataFrame,
                                state: DataFrame): DataFrame = {
    val inf = lit(Double.MaxValue)
    val cand = frontier.hint("shuffle_hash").join(e, frontier("vid") === e("src"))
      .select(e("dst").as("vid"), (frontier("dist") + e("w")).as("nd"))
      .groupBy(col("vid")).agg(min(col("nd")).as("nd"))
    state.hint("shuffle_hash").join(cand, Seq("vid"), "full")
      .select(col("vid"),
        least(coalesce(col("dist"), inf), coalesce(col("nd"), inf)).as("dist"),
        (coalesce(col("nd"), inf) < coalesce(col("dist"), inf)).as("improved"))
  }

  /** Returns (vid, name, history) where history is the sorted array of
    * "time:srcName" taint events (empty for untouched nodes). */
  def temporallyReachableNodes(g: LinkGraph, maxHops: Long, startTime: Long,
                               seeds: Seq[String], stops: Seq[String] = Seq.empty): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    graft.bsp.IterativeConf.withStablePartitioning(spark) {
    // exploded out-edge events (multi-edges each count; identical
    // (src, dst, ts) rows merge, as each batch's distinct() merges them)
    Superstep.withStatic(g.edges.select($"src", $"dst", $"ts"), "src") {
      case Superstep.Static(events, m) =>
    val stopVids = g.nodes.filter($"name".isin(stops: _*)).select($"vid")
      .as[Long].collect().toSeq
    val seedRows = g.nodes.filter($"name".isin(seeds: _*))
      .select($"vid", lit(startTime).as("earliest"))

    // state(vid, earliest); frontier(vid, earliest, prev) where prev = the
    // node's previous earliest taint time (null when newly tainted). A
    // node scatters only events with ts in [earliest, prev) — windows are
    // DISJOINT across a node's lifetime, so no event is ever sent twice
    // and per-step cost is O(frontier), with no distinct-shuffle of the
    // cumulative history (the except-vs-history formulation re-shuffled
    // the whole history table every superstep — quadratic over the run).
    // History accumulates as per-step checkpointed batches, unioned once
    // at the end instead of re-checkpointing a growing table per step.
    val batches = scala.collection.mutable.ArrayBuffer(
      seedRows.select($"vid", lit(startTime).as("t"), lit("start").as("src_name"))
        .localCheckpoint(true))
    val seeded = seedRows.localCheckpoint(true) // tainted set with earliest times
    Superstep.loop("temporal-reach", RunContext.none, m, 1, maxHops,
        (seeded, seeded.withColumn("prev", lit(null).cast("long")))) { case ((state, frontier), _) =>
      val scatter = reachScatter(frontier, events, g.nodes, stopVids)
      // distinct within the batch only (parallel same-ts events); disjoint
      // windows already guarantee no duplicate across batches. Lazy
      // checkpoints: the counting aggregate below materialises newMsgs +
      // merged in ONE Spark job per superstep (the eager-checkpoint trio
      // was 4 fixed-cost jobs/step — same fusion as Components.closure)
      val newMsgs = scatter.distinct().localCheckpoint(false)
      val touched = newMsgs.groupBy($"vid").agg(min($"t").as("msg_min"))
      val merged = state.join(touched, Seq("vid"), "full")
        .select($"vid",
          least(coalesce($"earliest", lit(Long.MaxValue)),
            coalesce($"msg_min", lit(Long.MaxValue))).as("new_earliest"),
          $"earliest".as("old_earliest"),
          $"earliest".isNull.as("is_new"),
          (coalesce($"msg_min", lit(Long.MaxValue)) <
            coalesce($"earliest", lit(Long.MaxValue))).as("improved"))
        .localCheckpoint(false)
      // an improved row is still pending work: its disjoint re-scatter
      // window [new_earliest, old_earliest) can taint genuinely new
      // downstream nodes (events below the old taint time never fired),
      // so the loop must also continue on zero-new-plus-improved rounds
      val cnts = merged.agg(
        count(when($"is_new", lit(1))).as("n_new"),
        count(when($"improved", lit(1))).as("n_improved")).head()
      val pending = cnts.getLong(0) + cnts.getLong(1)
      batches += newMsgs
      // merged is checkpointed, so the filtered frontier/state views are
      // one-step lineage — no further checkpoint needed
      Superstep.Next((merged.select($"vid", $"new_earliest".as("earliest")),
        merged.filter($"is_new" || $"improved")
          .select($"vid", $"new_earliest".as("earliest"),
            when($"is_new", lit(null).cast("long")).otherwise($"old_earliest").as("prev"))),
        pending.toDouble, pending == 0)
    }
    val hist = batches.reduce(_ union _)
      .groupBy($"vid").agg(sort_array(collect_list(struct($"t", $"src_name"))).as("sorted"))
      .select($"vid", expr("transform(sorted, x -> concat(cast(x.t as string), ':', x.src_name))").as("history"))
    g.nodes.join(hist, Seq("vid"), "left")
      .select($"vid", $"name",
        coalesce($"history", array().cast("array<string>")).as("history"))
    }}
  }

  /** One taint superstep's scatter: the frontier's out-edge events inside
    * each node's disjoint window [earliest, prev), labelled with the
    * tainting node's name. Frontier is post-checkpoint (unknown stats) —
    * shuffle_hash keeps the persisted events table's hash partitioning
    * reusable instead of an SMJ re-sort per step (PlanSpec-locked). */
  private[graft] def reachScatter(frontier: DataFrame, events: DataFrame,
                                  nodes: DataFrame, stops: Seq[Long]): DataFrame =
    frontier.filter(!col("vid").isin(stops: _*)).hint("shuffle_hash")
      .join(events, frontier("vid") === events("src"))
      .filter(col("ts") >= col("earliest") && (col("prev").isNull || col("ts") < col("prev")))
      .join(nodes.select(col("vid").as("src"), col("name").as("src_name"))
        .hint("shuffle_hash"), Seq("src"))
      .select(col("dst").as("vid"), col("ts").as("t"), col("src_name"))
}
