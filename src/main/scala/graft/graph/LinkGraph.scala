package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.io.{EdgeEvent, Ingest}

/** The engine's graph abstraction: two Datasets.
  *
  *  - `edges(src, dst, ts, seq, layer)` — the exploded temporal edge-event
  *    log over dense vertex ids (the analogue of the reference's
  *    `TemporalGraph` event log, raphtory/src/core/entities/graph/tgraph.rs:45-68).
  *  - `nodes(vid, name)` — vid is the dense first-appearance rank
  *    (SURVEY.md §7.4); name is the external GID (url / fixture id).
  *
  * All views (window / layer / subgraph — SURVEY §1.5) are non-destructive
  * Catalyst filters over the same two Datasets, so stacked views fuse into
  * one WholeStageCodegen stage exactly like the reference's zero-copy view
  * wrappers (raphtory/src/db/graph/views/window_graph.rs:76-120).
  *
  * `namesAreNumeric`: true when every GID parses as u64 — GID ordering (all
  * numeric ids sort before all strings; raphtory-api/src/core/entities/mod.rs:84-88)
  * then reduces to numeric order. Used by LPA tie-breaks.
  */
class LinkGraph(
    val edges: DataFrame,            // src: Long, dst: Long, ts: Long, seq: Long, layer: String
    val nodes: DataFrame,            // vid: Long, name: String
    val namesAreNumeric: Boolean = false,
    // timestamped node property events (vid, prop, ts, value) — the
    // reference's temporal property system (core/mod.rs:78-96)
    val nodePropEvents: Option[DataFrame] = None) extends Serializable {

  def spark: SparkSession = edges.sparkSession

  // ---- view algebra (SURVEY §1.5) ----------------------------------------

  /** Events with start <= ts < end; nodes restricted to active endpoints
    * (db/api/view/time.rs:115 — inclusive start, exclusive end). Temporal
    * node property events are windowed by the same bounds (the reference's
    * window views restrict property histories too,
    * db/graph/views/window_graph.rs:76-120). A property update IS node
    * activity in the reference, so the induced node set is edge endpoints
    * UNION in-window property-event vids: a node whose only in-window
    * activity is a property update still appears in nodes/degree (degree
    * 0) and answers property reads (locked by ViewSpec). */
  def window(start: Long, end: Long): LinkGraph = {
    val e = edges.filter(col("ts") >= start && col("ts") < end)
    val props = nodePropEvents.map(_.filter(col("ts") >= start && col("ts") < end))
    induced(e, props, props.map(_.select(col("vid"))))
  }

  def before(t: Long): LinkGraph = window(Long.MinValue, t)
  def after(t: Long): LinkGraph = window(t + 1, Long.MaxValue)
  def at(t: Long): LinkGraph = window(t, t + 1)

  /** Restrict to named layers (db/api/view/layer.rs:12-37). Nodes keep the
    * full set (layer views filter edges only in the reference). */
  def layers(names: Seq[String]): LinkGraph =
    new LinkGraph(edges.filter(col("layer").isin(names: _*)), nodes, namesAreNumeric,
      nodePropEvents)

  /** Default node type for nodes never explicitly typed
    * (raphtory-api/src/core/entities/mod.rs — the reference's `_default`). */
  val DefaultNodeType = "_default"

  /** Attach node types from a (vid, node_type) table; untyped nodes get
    * `_default` (db/api/view/node.rs:83-84). Returns a graph whose `nodes`
    * carry the extra column, usable by subgraphNodeTypes. */
  def withNodeTypes(types: DataFrame): LinkGraph = {
    val t = types.select(col("vid"), col("node_type"))
    val typed = nodes.drop("node_type").join(t, Seq("vid"), "left")
      .withColumn("node_type", coalesce(col("node_type"), lit(DefaultNodeType)))
    new LinkGraph(edges, typed, namesAreNumeric, nodePropEvents)
  }

  /** Attach arbitrary node property columns from a table keyed by `vid`
    * or by `name` — the load_node_props_from_* loaders
    * (raphtory/src/io/arrow/df_loaders.rs node-property path). Properties
    * become ordinary columns of `nodes`, filterable with native Catalyst
    * predicates like every other property. */
  def withNodeProps(props: DataFrame): LinkGraph = {
    val key = if (props.columns.contains("vid")) "vid" else "name"
    new LinkGraph(edges, nodes.join(props, Seq(key), "left"), namesAreNumeric, nodePropEvents)
  }

  // ---- temporal node properties (core/mod.rs:78-96) -----------------------

  /** Attach a timestamped node property EVENT log (vid, prop, ts, value):
    * the reference's temporal property system, where every property keeps
    * a per-entity history readable with `history()/at(t)/latest()`
    * (db/api/view/node.rs:96-109). Static columns (withNodeProps) stay the
    * fit for immutable attributes; this is for values that change. */
  def withNodePropEvents(events: DataFrame): LinkGraph =
    new LinkGraph(edges, nodes, namesAreNumeric,
      Some(events.select(col("vid"), col("prop"), col("ts"), col("value"))))

  private def propEventsOrEmpty: DataFrame = nodePropEvents.getOrElse {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vid", LongType), StructField("prop", StringType),
        StructField("ts", LongType), StructField("value", DoubleType))))
  }

  /** Full timestamped history of one property: (vid, ts, value), view-
    * windowed like edges (node.rs:96-103 `properties().temporal().get(p)
    * .history()`). */
  def propertyHistory(prop: String): DataFrame =
    propEventsOrEmpty.filter(col("prop") === prop).select(col("vid"), col("ts"), col("value"))

  /** Latest value of `prop` per node at time t (events with ts <= t;
    * node.rs:104-109 `.at(t)`): (vid, ts, value) — one hash aggregate,
    * no window/sort. Nodes with no event by t are absent. Same-timestamp
    * updates tie-break on the larger value (the event log carries no seq,
    * unlike the reference's (ts, seq) TimeIndexEntry) — deterministic
    * across runs, where a bare max_by(value, ts) picks an arbitrary row. */
  def propertyAt(prop: String, t: Long): DataFrame =
    propertyHistory(prop).filter(col("ts") <= t)
      .groupBy(col("vid"))
      .agg(max(col("ts")).as("ts"),
        max_by(col("value"), struct(col("ts"), col("value"))).as("value"))

  /** Latest value per node over the whole view (`.latest()`). */
  def propertyLatest(prop: String): DataFrame = propertyAt(prop, Long.MaxValue)

  /** Timestamped history of an edge-event property: (src, dst, ts, value).
    * Edge temporal properties ride as extra columns of the exploded event
    * log (fromRawEdges keeps them), so the history IS a projection —
    * view-windowed like everything else (edge.rs:66-77 `history()` over
    * per-event props). */
  def edgePropertyHistory(prop: String): DataFrame =
    edges.select(col("src"), col("dst"), col("ts"), col(prop).as("value"))

  /** Latest value of an edge-event property per (src, dst) at time t:
    * one hash aggregate, deterministic for per-edge-unique event times. */
  def edgePropertyAt(prop: String, t: Long): DataFrame =
    edgePropertyHistory(prop).filter(col("ts") <= t)
      .groupBy(col("src"), col("dst"))
      .agg(max(col("ts")).as("ts"), max_by(col("value"), col("ts")).as("value"))

  /** Induced subgraph of the nodes whose type is in `types` — the
    * reference's subgraph_node_types
    * (db/graph/views/node_type_filtered_subgraph.rs). Untyped graphs have
    * every node at `_default`. */
  def subgraphNodeTypes(types: Seq[String]): LinkGraph = {
    val typed =
      if (nodes.columns.contains("node_type")) nodes
      else nodes.withColumn("node_type", lit(DefaultNodeType))
    subgraph(typed.filter(col("node_type").isin(types: _*)).select(col("vid")))
  }

  /** Induced subgraph on a node set given as a DataFrame with a `vid`
    * column (db/graph/views/node_subgraph.rs). Semi-joins both endpoints;
    * nodes filtered to the set. */
  def subgraph(vids: DataFrame): LinkGraph = {
    val v = vids.select(col("vid"))
    val e = edges
      .join(v.withColumnRenamed("vid", "src"), Seq("src"), "left_semi")
      .join(v.withColumnRenamed("vid", "dst"), Seq("dst"), "left_semi")
    new LinkGraph(e, nodes.join(v, Seq("vid"), "left_semi"), namesAreNumeric,
      nodePropEvents.map(_.join(v, Seq("vid"), "left_semi")))
  }

  private def induced(e: DataFrame,
                      props: Option[DataFrame] = nodePropEvents,
                      extraActive: Option[DataFrame] = None): LinkGraph = {
    val endpoints = e.select(col("src").as("vid"))
      .union(e.select(col("dst").as("vid")))
    val active = extraActive.fold(endpoints)(endpoints.union(_)).distinct()
    new LinkGraph(e, nodes.join(active, Seq("vid"), "left_semi"), namesAreNumeric, props)
  }

  /** Rolling windowed views: [start, start+window), stepping by `step`,
    * covering the event-time span (db/api/view/time.rs:143-152). Bounds are
    * fetched once; each element is a lazy filtered view. */
  def rolling(windowMs: Long, stepMs: Long): Seq[LinkGraph] = {
    timeBounds.toSeq.flatMap { case (lo, hi) =>
      Iterator.iterate(lo)(_ + stepMs).takeWhile(_ <= hi)
        .map(s => window(s, s + windowMs)).toSeq
    }
  }

  /** Expanding views: window(-inf, t) for t = lo+step, lo+2·step, ... ≥ hi
    * (time.rs:154-162). */
  def expanding(stepMs: Long): Seq[LinkGraph] = {
    timeBounds.toSeq.flatMap { case (lo, hi) =>
      Iterator.iterate(lo + stepMs)(_ + stepMs).takeWhile(_ - stepMs < hi)
        .map(t => window(Long.MinValue, t)).toSeq
    }
  }

  def timeBounds: Option[(Long, Long)] = {
    val r = edges.agg(min(col("ts")), max(col("ts"))).head()
    if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1) + 1))
  }

  /** Copy this view into an independent graph with vids re-minted densely
    * in view iteration (= vid) order — the reference's materialize()
    * (db/api/view/graph.rs:148-260, node remap at 219-237). */
  def materialize(): LinkGraph = {
    val spark = this.spark
    val remapSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("old_vid", org.apache.spark.sql.types.LongType, false),
      org.apache.spark.sql.types.StructField("new_vid", org.apache.spark.sql.types.LongType, false)))
    val remapRdd = nodes.select(col("vid")).orderBy(col("vid")).rdd.zipWithIndex
      .map { case (r, i) => org.apache.spark.sql.Row(r.getLong(0), i) }
    val remap = spark.createDataFrame(remapRdd, remapSchema)
    // carry EVERY extra column through the remap (edge weights that
    // fromRawEdges documents as preserved, node_type / node props):
    // re-selecting only the canonical columns silently stripped them
    val nodeExtras = nodes.columns.filterNot(_ == "vid").map(col).toSeq
    val newNodes = nodes.join(remap, nodes("vid") === remap("old_vid"))
      .select(col("new_vid").as("vid") +: nodeExtras: _*)
    val edgeExtras = edges.columns.filterNot(c => c == "src" || c == "dst").map(col).toSeq
    val newEdges = edges
      .join(remap.select(col("old_vid").as("src"), col("new_vid").as("src2")), Seq("src"))
      .join(remap.select(col("old_vid").as("dst"), col("new_vid").as("dst2")), Seq("dst"))
      .select(Seq(col("src2").as("src"), col("dst2").as("dst")) ++ edgeExtras: _*)
    val newProps = nodePropEvents.map(_.join(remap, col("vid") === col("old_vid"))
      .select(col("new_vid").as("vid"), col("prop"), col("ts"), col("value")))
    new LinkGraph(newEdges, newNodes, namesAreNumeric, newProps)
  }

  // ---- core accessors ----------------------------------------------------

  // The collapsed adjacencies below are derived by a full distinct (a
  // shuffle); nearly every structural algorithm starts from them, so each
  // is built once per graph instance as a `Superstep.staticTable` and kept
  // until unpersist() — the analogue of the reference's materialised
  // per-node adjacency lists (node_store.rs:176-199). The gather CSRs
  // packed from them are memoized the same way: each lives until
  // unpersist() or, once the graph is dropped, the context cleaner.
  @transient private var dedupCache: graft.bsp.Superstep.Static = _
  @transient private var undirectedCache: graft.bsp.Superstep.Static = _
  @transient private var factsCache: NodeFacts = _
  @transient private lazy val csrCache = scala.collection.mutable.Map.empty[String, CsrGraph]
  @transient private var adjCache: DirectedAdjacency = _

  /** Distinct directed (src, dst) pairs — the adjacency after multi-edge
    * collapse (node_store.rs:176-199: one adjacency entry per neighbour).
    * Hash-partitioned on `src` (shuffle partitions at the first call, which
    * builds and counts it in one job) and sorted within partitions: joins
    * keyed on `src` read it with no exchange, so callers must not
    * re-partition it. Released by unpersist(). */
  def dedupEdges: DataFrame = dedupTable.df
  private[graft] def dedupTable: graft.bsp.Superstep.Static = synchronized {
    if (dedupCache == null) dedupCache = graft.bsp.Superstep.staticTable(edges.select("src", "dst"), "src")
    dedupCache
  }

  /** Distinct undirected neighbour pairs (a, b), both orientations, one row
    * per (v, neighbour); a self-loop yields a single (v, v) row — matching
    * `neighbours()` BOTH semantics (node_store.rs:252-299). Keyed on `a`
    * under `dedupEdges`' contract: callers must not re-partition it. */
  def undirectedPairs: DataFrame = pairTable.df
  private[graft] def pairTable: graft.bsp.Superstep.Static = synchronized {
    if (undirectedCache == null) undirectedCache = graft.bsp.Superstep.staticTable(LinkGraph.pairRows(edges), "a")
    undirectedCache
  }

  /** Sets the static tables a minted graph's build job made. */
  private def withStatic(dedup: graft.bsp.Superstep.Static, pairs: graft.bsp.Superstep.Static): LinkGraph =
    synchronized { dedupCache = dedup; undirectedCache = pairs; this }

  /** Max vid and node count in one pass over the node table's `vid`
    * column — the facts every CSR/DF dispatch (CsrGraph.useCsr), CSR build
    * and DriverGuard bound reads. An RDD fold, because a global DataFrame
    * aggregate runs as two jobs (map stage, then final stage) under AQE.
    * Computed once per graph; reset by unpersist(). */
  def nodeFacts: NodeFacts = synchronized {
    if (factsCache == null)
      factsCache = nodes.select(col("vid")).rdd.aggregate(NodeFacts(-1L, 0L))(
        (f, r) => NodeFacts(math.max(f.maxVid, r.getLong(0)), f.count + 1),
        (a, b) => NodeFacts(math.max(a.maxVid, b.maxVid), a.count + b.count))
    factsCache
  }

  /** The directed gather CSR: each vertex's distinct in-neighbours, which
    * CSR PageRank and HITS's authority gather read. */
  def inCsr: CsrGraph = csrMemo("in", dedupEdges.select(col("dst"), col("src")))

  /** The reversed gather CSR: each vertex's distinct out-neighbours, which
    * HITS's hub gather reads. */
  def outCsr: CsrGraph = csrMemo("out", dedupEdges.select(col("src"), col("dst")))

  /** The undirected gather CSR (distinct BOTH-neighbours per vertex) that
    * WCC, CSR sync-LPA and the triangle count share. */
  def undirectedCsr: CsrGraph = csrMemo("undirected", undirectedPairs.select(col("a"), col("b")))

  /** The CSR of the (gather key, neighbour) `pairs`, packed at the first
    * call into one block per shuffle partition; released by unpersist(). */
  private def csrMemo(kind: String, pairs: => DataFrame): CsrGraph = synchronized {
    csrCache.getOrElseUpdate(kind,
      CsrGraph.build(this, spark.conf.get("spark.sql.shuffle.partitions").toInt, pairs))
  }

  /** The driver-side directed adjacency, collected once per graph (callers
    * bound it with `DriverGuard.checkGraph` first); released by unpersist(). */
  def directedAdjacency: DirectedAdjacency = synchronized {
    if (adjCache == null) {
      val f = nodeFacts // dense vids (every minted graph) need no vid collect
      val vids = if (f.count == f.maxVid + 1) Array.tabulate(f.count.toInt)(_.toLong)
        else nodes.select(col("vid")).rdd.map(_.getLong(0)).collect().sorted
      adjCache = DirectedAdjacency.pack(dedupEdges, vids)
    }
    adjCache
  }

  /** Distinct out-neighbour count per node; nodes with none get 0.
    * Self-loops count once per direction (node_store.rs:224-250). */
  def outDegrees: DataFrame = degreesOf(dedupEdges.groupBy("src").agg(count("*").as("degree")), "src")

  def inDegrees: DataFrame = degreesOf(dedupEdges.groupBy("dst").agg(count("*").as("degree")), "dst")

  /** Undirected distinct-neighbour degree (BOTH); self-loop counts 1. */
  def degrees: DataFrame =
    degreesOf(undirectedPairs.groupBy("a").agg(count("*").as("degree")), "a")

  private def degreesOf(d: DataFrame, key: String): DataFrame =
    nodes.select("vid").join(d.withColumnRenamed(key, "vid"), Seq("vid"), "left")
      .select(col("vid"), coalesce(col("degree"), lit(0L)).as("degree"))

  /** Per-node activity summary over the view: incident event count plus
    * earliest/latest event timestamp — the reference's node
    * `history()/earliest_time/latest_time` family (db/api/view/node.rs:
    * 96-109: a node's history is the union of its incident edge events).
    * A self-loop event is incident ONCE (one history entry, like the
    * reference's per-event additions), hence the dst-leg self-loop filter
    * instead of a distinct. Nodes with no in-view event are absent (empty
    * history ⇒ earliest/latest None). One union + one hash aggregate. */
  def nodeActivity: DataFrame = {
    val ends = edges.select(col("src").as("vid"), col("ts"))
      .union(edges.filter(col("dst") =!= col("src")).select(col("dst").as("vid"), col("ts")))
    ends.groupBy("vid").agg(count(lit(1)).as("n_events"),
      min(col("ts")).as("earliest"), max(col("ts")).as("latest"))
  }

  def nodeCount: Long = nodes.count()

  /** Unique-edge count (post multi-edge collapse), matching the reference's
    * `count_edges`; memoized with `dedupEdges`. */
  def edgeCount: Long = dedupTable.rows

  /** Exploded temporal event count (`count_temporal_edges`). */
  def edgeEventCount: Long = edges.count()

  /** Caches both tables; a minted graph's already are. */
  def cache(): LinkGraph = {
    Seq(edges, nodes).filter(_.storageLevel == StorageLevel.NONE).foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    this
  }

  def unpersist(): Unit = synchronized {
    edges.unpersist(); nodes.unpersist()
    if (dedupCache != null) { dedupCache.df.unpersist(); dedupCache = null }
    if (undirectedCache != null) { undirectedCache.df.unpersist(); undirectedCache = null }
    csrCache.values.foreach(_.unpersist()); csrCache.clear()
    adjCache = null
    factsCache = null
  }
}

/** Node-table facts: `maxVid` is -1 when no node has a vid ≥ 0. */
final case class NodeFacts(maxVid: Long, count: Long)

object LinkGraph {

  /** Full ingestion pipeline: pages table → hrefs → edge events → vids.
    * The graph's tables are cached and materialised when it returns, so
    * the extraction and sort caches are released. */
  def fromPages(pages: DataFrame): LinkGraph = {
    val raw = Ingest.rawLinks(pages).persist(StorageLevel.MEMORY_AND_DISK)
    val s = Ingest.sequenced(raw)
    val m = Ingest.mintOrdered(pages.sparkSession, s.sorted, s.numbered, staticFrames)
      .getOrElse(throw new IllegalStateException("the counted sort left its rows out of seq order"))
    raw.unpersist(); s.sorted.unpersist()
    minted(m)
  }

  /** Graph over an edge-event table: vids by first appearance in seq
    * order, the edges over them and the graph's static tables, cached and
    * materialised by one Spark job (`Ingest.mint`; a second one when the
    * rows need sorting first). */
  def fromEdgeEvents(events: org.apache.spark.sql.Dataset[EdgeEvent]): LinkGraph =
    minted(Ingest.mint(events, staticFrames))

  /** `dedupEdges` and `undirectedPairs` over `edges`, for the mint job. */
  private def staticFrames(edges: DataFrame): Seq[DataFrame] = Seq(
    graft.bsp.Superstep.staticFrame(edges.select("src", "dst"), "src"),
    graft.bsp.Superstep.staticFrame(pairRows(edges), "a"))

  private def minted(m: Ingest.Minted): LinkGraph = {
    val Seq(dedup, pairs) = m.derived.map { case (df, rows) => graft.bsp.Superstep.Static(df, rows) }
    new LinkGraph(m.edges, m.nodes, m.namesAreNumeric).withStatic(dedup, pairs)
  }

  /** Both orientations of each edge as (a, b): the undirected pair rows. */
  private def pairRows(edges: DataFrame): DataFrame = {
    val d = edges.select("src", "dst")
    d.select(col("src").as("a"), col("dst").as("b")).union(d.select(col("dst").as("a"), col("src").as("b")))
  }

  /** Graph over raw numeric ids: vid = the id itself (no dense minting).
    * Used when the id space is externally defined (e.g. oracle-checked
    * queries where component labels must be min-raw-id). Extra columns of
    * `df` (e.g. an edge weight) are kept on `edges`. */
  def fromRawEdges(df: DataFrame): LinkGraph = {
    val withDefaults = Seq("ts" -> lit(0L), "seq" -> lit(0L), "layer" -> lit(Ingest.DefaultLayer))
      .foldLeft(df) { case (d, (c, v)) =>
        if (d.columns.contains(c)) d else d.withColumn(c, v)
      }
    // the node table derives from a full distinct over the edge list —
    // persist it, otherwise every algorithm re-runs that shuffle per access
    val nodes = df.select(col("src").as("vid"))
      .union(df.select(col("dst").as("vid"))).distinct()
      .select(col("vid"), col("vid").cast("string").as("name"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    new LinkGraph(withDefaults.persist(StorageLevel.MEMORY_AND_DISK), nodes,
      namesAreNumeric = true)
  }

  /** Fixture loader: edge list in listed order defines VIDs (src resolved
    * before dst per row — df_loaders.rs:231-257). GIDs as strings; numeric
    * GID lists (the common fixture case) set namesAreNumeric. */
  def fromEdgeList(spark: SparkSession, list: Seq[(String, String, Long)],
                   layer: String = Ingest.DefaultLayer): LinkGraph = {
    import spark.implicits._
    val vids = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def vidOf(name: String): Long = vids.getOrElseUpdate(name, vids.size.toLong)
    val rows = list.zipWithIndex.map { case ((s, d, t), i) =>
      (vidOf(s), vidOf(d), t, i.toLong, layer)
    }
    val e = spark.createDataset(rows).toDF("src", "dst", "ts", "seq", "layer")
    val n = spark.createDataset(vids.toSeq.map { case (name, vid) => (vid, name) })
      .toDF("vid", "name")
    val numeric = vids.keys.forall(k => k.nonEmpty && k.forall(_.isDigit))
    new LinkGraph(e, n, numeric)
  }

  def fromNumericEdgeList(spark: SparkSession, list: Seq[(Long, Long, Long)]): LinkGraph =
    fromEdgeList(spark, list.map { case (s, d, t) => (s.toString, d.toString, t) })
}
