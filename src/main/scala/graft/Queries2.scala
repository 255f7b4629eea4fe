package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.algo.{Components, Hits, Lpa, Metrics, PageRank, Pathing, RichClub, Wcc}
import graft.dedup.Dedup
import graft.sim.Ann
import graft.text.TextOps
import graft.media.Media
import graft.streaming.StreamIngest

/** Second query batch: components/pathing operators, result-set ops,
  * dedup / similarity / text-pipeline operators, windowed event analytics,
  * multimodal plumbing. Same contract as Queries: column names/types align
  * with the DuckDB oracle, floats rounded on both sides; rows-only entries
  * (no oracle) are fixture-verified in sbt test instead. */
object Queries2 {

  import Queries.{graphForTest => graph, sqlGraphPrelude => sqlGraph, table => tbl}

  private def one(spark: SparkSession, cols: (String, Column)*): DataFrame =
    spark.range(1).select(cols.map { case (n, c) => c.as(n) }: _*)

  private def tinyCrawl(s: SparkSession): LinkGraph =
    Queries.crawlGraphCache.getOrElseUpdate(s,
      LinkGraph.fromPages(graft.io.Corpus.tiny(s).toDF()).cache())

  /** Shared driver-side harness for the streaming dedup oracles: replay two
    * deterministic micro-batches through a streaming operator via
    * MemoryStream + a memory sink, and return the materialised sink table.
    * The driver collect here is the TEST FEED, not the operator — state is
    * executor-partitioned inside `op`. localCheckpoint(true) before stop()
    * so the result outlives the query.
    * MemoryStream hands each addData batch to the query as ONE partition —
    * a real source (Kafka/file) is partition-parallel — so the feed is
    * repartitioned before the operator; without it every row-local
    * computation in `op` (e.g. the MinHash signatures) runs serially in a
    * single task (measured 22 s/batch at sf0.1, 1.5 s after). */
  private def twoBatchReplay[T](
      s: SparkSession, b1: Seq[T], b2: Seq[T], inCols: Seq[String],
      op: DataFrame => DataFrame, sink: String)(
      implicit enc: org.apache.spark.sql.Encoder[T]): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[T]
    // state-store checkpoint on /dev/shm, not the default /tmp temp dir
    // (/tmp is a slow disk on this host)
    val ckpt = s"/dev/shm/graft-spark/stream-ckpt-$sink-${java.util.UUID.randomUUID}"
    val q = op(input.toDF().toDF(inCols: _*)
        .repartition(s.sparkContext.defaultParallelism))
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      s.table(sink).localCheckpoint(true)
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      import java.nio.file.{Files, Paths}
      val root = Paths.get(ckpt)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        val paths = try walk.iterator().asScala.toSeq finally walk.close()
        paths.sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
      }
    }
  }

  /** LSH candidate pairs memoized per (session, sfDir): d_lsh_candidates
    * and d_minhash_jaccard share one signature + bucket computation. */
  private val lshCandCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Weight-retaining orders graph memoized per (session, sfDir):
    * fromRawEdges persists two tables, so per-invocation construction in
    * g_edge_prop_at leaked cached RDDs across the bench's two passes. */
  /** Bellman-Ford-rounds oracle for both weighted-SSSP drivers (g_dijkstra,
    * g_delta_sssp) — round r covers every path of <= r edges via a zero
    * self-loop carry; min over rounds = the shortest cost. 100 rounds
    * validated >= the longest min-cost path's hop count at sf <= 0.1. */
  private val dijkstraSql: String =
    """WITH RECURSIVE evw AS (
      |  SELECT o_orderkey % 1009 AS src, (o_orderkey * 31 + o_custkey) % 1009 AS dst,
      |         o_totalprice AS w
      |  FROM orders WHERE o_orderkey % 7 < 3),
      |n2 AS (SELECT DISTINCT id FROM (SELECT src AS id FROM evw
      |       UNION ALL SELECT dst FROM evw) t0),
      |we AS (SELECT src, dst, min(w) AS w FROM evw GROUP BY 1, 2),
      |trans AS (SELECT src, dst, w FROM we
      |          UNION ALL SELECT id, id, CAST(0 AS DOUBLE) FROM n2),
      |dist(r, id, c) AS (
      |  SELECT 0, (SELECT min(id) FROM n2), CAST(0 AS DOUBLE)
      |  UNION ALL
      |  SELECT x.r, x.id, x.c FROM (
      |    SELECT d.r + 1 AS r, t.dst AS id, min(d.c + t.w) AS c
      |    FROM dist d JOIN trans t ON t.src = d.id
      |    WHERE d.r < 100
      |    GROUP BY 1, 2
      |  ) x
      |)
      |SELECT id, round(min(c), 2) AS cost FROM dist GROUP BY id""".stripMargin

  private val weightedGraphCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), LinkGraph]

  private def weightedGraph(s: SparkSession, d: String): LinkGraph =
    weightedGraphCache.getOrElseUpdate((s, d),
      LinkGraph.fromRawEdges(Queries.orderEventsForTest(s, d)))

  /** Vectorised orders graph (RAG surface) memoized per (session, sfDir);
    * the builder dumps the document table so both vector oracles replay
    * cosine ranking over the exact same embedding doubles (the hashing
    * embedder is Spark-side murmur3 — not SQL-recomputable, so the dump is
    * the oracle contract, like the IVF centroids). */
  private val vecCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), graft.vectors.Vectors.VectorisedGraph]

  private def vecGraph(s: SparkSession, d: String): graft.vectors.Vectors.VectorisedGraph =
    vecCache.getOrElseUpdate((s, d), {
      val v = graft.vectors.Vectors.vectorise(graph(s, d),
        graft.vectors.Vectors.DocumentTemplate(
          node = Some("node {name}"),
          edge = Some("link {src_name} to {dst_name} weight {n_events}")))
      if (Verify.isVerifyRun) // Bench at another sfDir must not clobber the dump
        v.documents.select("kind", "vid", "src", "dst", "content", "ts", "embedding")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${Verify.AuxDir}/vec_docs.parquet")
      v
    })

  /** Orders graph with explicit layers ("l" + ts % 3), memoized per
    * (session, sfDir) like weightedGraph (fromRawEdges persists). */
  private val layeredGraphCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), LinkGraph]

  private def layeredGraph(s: SparkSession, d: String): LinkGraph =
    layeredGraphCache.getOrElseUpdate((s, d),
      LinkGraph.fromRawEdges(Queries.orderEventsForTest(s, d)
        .select(col("src"), col("dst"), col("ts"), col("seq"),
          concat(lit("l"), col("ts") % 3).as("layer"))))

  /** IVF centroid matrix memoized per (session, sfDir): e_ann_ivf and
    * d_ivf_neardup share ONE training run, and the builder dumps the
    * matrix to the aux dir so both DuckDB oracles replay assignment over
    * the same doubles (k-means float bits depend on aggregation order, so
    * the dump — not retraining — is the oracle contract). */
  private val ivfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Array[Array[Double]]]

  private def ivfCents(s: SparkSession, d: String): Array[Array[Double]] =
    ivfCache.getOrElseUpdate((s, d), {
      val cents = Ann.ivfTrain(tbl(s, d, "embeddings"), nlist = 16, iters = 4)
      if (Verify.isVerifyRun) { // Bench must not clobber a pending oracle's dump
        import s.implicits._
        s.createDataset(cents.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) })
          .toDF("cid", "c")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${Verify.AuxDir}/ivf_centroids.parquet")
      }
      cents
    })

  /** Motif census memoized per (session, sfDir): g_temporal_motifs and
    * g_local_motifs share one triangle enumeration + counter sweep. */
  private val motifCensusCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (Array[Long], DataFrame)]

  private def motifCensus(s: SparkSession, d: String): (Array[Long], DataFrame) =
    motifCensusCache.getOrElseUpdate((s, d),
      graft.algo.TemporalMotifs.census(graph(s, d), delta = 32L))

  /** LSH band buckets memoized per (session, sfDir): d_lsh_candidates,
    * d_lsh_capped and d_minhash_jaccard share one shingle + signature +
    * bucket computation. 16 hashes / 4 bands of 4 rows: LSH threshold
    * (1/4)^(1/4) ≈ 0.707, matched to the 0.7 Jaccard verify target. The
    * old 8/4 (2-row bands, threshold ≈ 0.5) produced 35× more candidates
    * on boilerplate-heavy corpora (sf0.1: 554k → 16k pairs) with
    * identical measured recall (all 256 true J≥0.7 pairs still found —
    * see Dedup.minhashWide doc). */
  private val lshBucketCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def lshBuckets(s: SparkSession, d: String): DataFrame =
    lshBucketCache.getOrElseUpdate((s, d), {
      val wide = Dedup.minhashWide(tbl(s, d, "documents"), nHashes = 16, shingleN = 5)
      val b = Dedup.lshBucketsWide(wide, bands = 4, nHashes = 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      b.count()
      b
    })

  private def lshCands(s: SparkSession, d: String): DataFrame =
    lshCandCache.getOrElseUpdate((s, d), {
      val c = Dedup.lshCandidates(lshBuckets(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    })

  /** Jaccard-verified candidate pairs (unfiltered scores) memoized per
    * (session, sfDir): d_minhash_jaccard returns them, d_dup_clusters
    * filters them at the 0.7 threshold — one shingle-join verify per
    * session. */
  private val jaccardCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def lshJaccard(s: SparkSession, d: String): DataFrame =
    jaccardCache.getOrElseUpdate((s, d), {
      val j = Dedup.jaccardVerify(lshCands(s, d),
          TextOps.charShingles(tbl(s, d, "documents"), "doc_id", "text", 5))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      j.count()
      j
    })

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_scc" -> ((s, d) =>
      Components.scc(graph(s, d))
        .select(col("vid").as("id"), col("component_vid").as("component"))),
    "g_sssp_dist" -> ((s, d) => {
      val g = graph(s, d)
      val srcName = g.nodes.agg(min(col("vid"))).head().getLong(0).toString
      Pathing.sssp(g, srcName, cutoff = 30L, withPaths = false)
        .select(col("vid").as("id"), col("dist"))
    }),
    "g_out_component" -> ((s, d) => {
      val g = graph(s, d)
      val srcName = g.nodes.agg(min(col("vid"))).head().getLong(0).toString
      Components.outComponentOf(g, srcName).select(col("vid").as("id"))
    }),
    "g_in_component" -> ((s, d) => {
      val g = graph(s, d)
      val srcName = g.nodes.agg(min(col("vid"))).head().getLong(0).toString
      Components.inComponentOf(g, srcName).select(col("vid").as("id"))
    }),
    // north-rule resume, driver-visible (serialise / incremental cache):
    // PageRank(12 supersteps, df engine) through the Icebergish catalog
    // context; every snapshot manifest past superstep 5 is crash-dropped
    // (and a half-written data dir left behind — it must stay invisible),
    // then a FRESH context on the same catalog resumes: it must restart
    // at 5, recompute ONLY 6..12, and land on the same scores the
    // oracle's straight 12-step power iteration computes
    "g_pagerank_resume" -> ((s, d) => {
      import java.nio.file.{Files, Paths}
      val g = graph(s, d)
      // /tmp is a slow spinning disk on this host (CLAUDE.md): the tiny
      // per-superstep snapshots go to tmpfs like the shuffle dirs
      val root = Files.createTempDirectory(Paths.get("/dev/shm"), "graft-resume").toString
      val cat = new graft.ckpt.Catalog(root)
      val cfg = PageRank.Config(iterCount = 12, tol = 0.0, mode = "df")
      try {
        PageRank.run(g, cfg, new graft.ckpt.CatalogRunContext(cat, "r", s))
        for (step <- 6L to 12L)
          Files.delete(Paths.get(root, "state/r/meta", s"manifest-$step.json"))
        Files.createDirectories(Paths.get(root, "state/r/snap-99"))
        val ctx2 = new graft.ckpt.CatalogRunContext(cat, "r", s)
        val out = PageRank.run(g, cfg, ctx2)
        require(ctx2.resumedFromStep == 5L,
          s"expected resume at superstep 5, got ${ctx2.resumedFromStep}")
        require(ctx2.stats.forall(_.step > 5), "resume recomputed pre-crash supersteps")
        // materialise before the snapshots are deleted out from under it
        out.select(col("vid").as("id"), round(col("score"), 9).as("score"))
          .localCheckpoint(true)
      } finally {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(Paths.get(root)) // must close: holds dir handles
        val paths = try walk.iterator().asScala.toSeq finally walk.close()
        paths.sortBy(-_.getNameCount).foreach(p => Files.deleteIfExists(p))
      }
    }),
    "g_degree_stats" -> ((s, d) =>
      Metrics.degreeStats(graph(s, d)).select(
        col("max_degree"), col("min_degree"), round(col("avg_degree"), 6).as("avg_degree"),
        col("max_out_degree"), col("min_out_degree"),
        col("max_in_degree"), col("min_in_degree"))),
    "g_pagerank_median" -> ((s, d) => {
      val pr = PageRank.run(graph(s, d), PageRank.Config(iterCount = 20, tol = 0.0))
      one(s, "median" -> round(
        lit(pr.agg(percentile(col("score"), lit(0.5))).head().getDouble(0)), 9))
    }),
    "g_hits" -> ((s, d) => // fixed 20 iterations (tol 0) => oracle-reproducible
      Hits.run(graph(s, d), 20, tol = 0.0)
        .select(col("vid").as("id"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))),
    "g_lpa_sync" -> ((s, d) => // deterministic scalable LPA, 8 sweeps
      Lpa.runSync(graph(s, d), maxSweeps = 8)
        .select(col("vid").as("id"), col("label"))),
    "g_kcore3" -> ((s, d) =>
      graft.algo.KCore.coreSet(graph(s, d), 3).select(col("vid").as("id"))),
    "g_betweenness_k50" -> ((s, d) => // fixture-verified + recursive-SQL Brandes oracle
      graft.algo.Betweenness.run(graph(s, d), Some(50), normalized = true)
        .select(col("vid").as("id"), round(col("value"), 6).as("value"))),
    "g_temporal_motifs" -> ((s, d) => { // exact 40-count fixture in sbt test + SQL census oracle
      val counts = motifCensus(s, d)._1
      import s.implicits._
      s.createDataset(counts.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) })
        .toDF("motif", "n")
    }),
    // standalone modularity metric (community_detection/modularity.rs):
    // Q of a fixed deterministic partition (community = vid mod 7) so the
    // oracle replays the exact algebra in SQL with no aux dump — unlike
    // g_louvain below, which oracles modularity only on the emitted
    // partition's consistency
    "g_modularity" -> ((s, d) => {
      val g = graph(s, d)
      val part = g.nodes.select(col("vid"), (col("vid") % 7).as("community"))
      one(s, "modularity" -> round(lit(graft.algo.Louvain.modularityDF(g, part)), 6))
    }),
    // Louvain labels are not SQL-recomputable (seeded ChaCha shuffle), so
    // the oracle checks the PARTITION's consistency instead: the emitted
    // (id, community) rows are dumped to the aux dir, and DuckDB
    // independently recomputes their modularity over the same collapsed
    // weights (Louvain.modularity's algebra in SQL), plus the structural
    // invariants (every node labeled, labels = min member vid). The Spark
    // side computes the same five numbers from its own run.
    "g_louvain" -> ((s, d) => {
      val g = graph(s, d)
      val part = graft.algo.Louvain.run(g)
      if (Verify.isVerifyRun) // Bench at another sfDir must not clobber the dump
        part.select(col("vid").as("id"), col("community"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${Verify.AuxDir}/louvain_partition.parquet")
      // consistency row computed DISTRIBUTED (aggregates + modularityDF):
      // the partition itself came off the driver (Louvain local moves are
      // sequential, DriverGuard-gated), but the check must not re-collect
      val stats = part.agg(count(lit(1)).as("n_labeled"),
        count_distinct(col("community")).as("n_communities")).head()
      val nonMin = part.groupBy(col("community")).agg(min(col("vid")).as("mn"))
        .filter(col("community") =!= col("mn")).count()
      val q = graft.algo.Louvain.modularityDF(g, part)
      one(s,
        "n_nodes" -> lit(g.nodeCount),
        "n_labeled" -> lit(stats.getLong(0)),
        "n_communities" -> lit(stats.getLong(1)),
        "non_min_labels" -> lit(nonMin),
        "modularity" -> round(lit(q), 6))
    }),
    "g_local_motifs" -> ((s, d) => { // exact per-node fixture in sbt test + SQL census oracle
      motifCensus(s, d)._2
        .select(col("vid").as("id"), posexplode(col("counts")).as(Seq("motif", "n")))
        .select(col("id"), col("motif").cast("long").as("motif"), col("n"))
    }),
    // Cypher text surface (SURVEY §2.7, raphtory-cypher run_cypher):
    // transpiled MATCH over the orders graph — the edge-scan projection
    // and a two-hop time-respecting count
    "cy_edges" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) RETURN a.id AS src, b.id AS dst, e.ts AS ts")),
    "cy_two_hop" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e1]->(b)-[e2]->(c) WHERE e2.ts > e1.ts AND a <> c RETURN count(*) AS n")),
    "cy_degree" -> ((s, d) => // implicit grouping: per-source event stats
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) RETURN a.id AS id, count(*) AS n_events, " +
          "min(e.ts) AS first_ts, max(e.ts) AS last_ts")),
    // multi-part query: WITH aggregates + filters the out-degree, then a
    // second MATCH counts inbound events of the surviving nodes
    "cy_with_top" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) WITH a, count(*) AS d WHERE d >= 2 " +
          "MATCH (x)-[f]->(a) RETURN a.id AS id, d, count(*) AS n_in")),
    // OPTIONAL MATCH: every node keeps a row; unmatched out-patterns
    // count 0 through the NULL-skipping aggregate
    "cy_optional" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a) OPTIONAL MATCH (a)-[e]->(b) RETURN a.id AS id, count(e.ts) AS n_out")),
    // SKIP/LIMIT paging of the fully-ordered edge scan; (src,dst,ts) ties
    // are interchangeable whole rows, so the page's row multiset is
    // deterministic and the driver's sorted-row hash compare is safe
    "cy_skip" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) RETURN a.id AS src, b.id AS dst, e.ts AS ts " +
          "ORDER BY src, dst, ts SKIP 100 LIMIT 50")),
    // holistic aggregates: percentileCont (Catalyst exact interpolating
    // percentile), percentileDisc (nearest-rank over a sorted collect) and
    // stDev, grouped by an arithmetic bucket; rounding is compare glue
    // applied to the Cypher result frame
    "cy_percentile" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) RETURN a.id % 10 AS bucket, " +
          "percentileCont(e.ts % 1000, 0.5) AS p50, " +
          "percentileDisc(e.ts % 1000, 0.25) AS p25, stDev(e.ts % 1000) AS sd")
        .select(col("bucket"), round(col("p50"), 6).as("p50"), col("p25"),
          round(col("sd"), 6).as("sd"))),
    // query parameters: $t0 scalar (comparison + arithmetic) and $ids
    // list (IN-list membership) resolved from the params map at plan time
    "cy_params" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) WHERE e.ts >= $t0 AND a.id % 13 IN $mods " +
          "RETURN a.id AS id, count(*) AS n, min(e.ts) AS first_ts",
        Map("t0" -> 1000L, "mods" -> Seq(0L, 3L, 7L)))),
    // CALL procedures: pagerank through the Cypher text surface with a
    // YIELD rename + WHERE — explicit iteration count = exactly 20
    // supersteps (tol 0), oracled by the same power-iteration replay as
    // g_pagerank
    "cy_call_pagerank" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "CALL pagerank(20) YIELD vid AS id, score WHERE id % 2 = 0 " +
          "RETURN id, score")
        .select(col("id"), round(col("score"), 9).as("score"))),
    // aggregate DISTINCT (openCypher expression-DISTINCT): distinct
    // out-neighbour count beside the raw event count per source
    "cy_distinct" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) RETURN a.id AS id, " +
          "count(DISTINCT b.id) AS nbrs, count(*) AS n_events")),
    // expression surface: IN-list predicate, arithmetic (% at Cypher
    // precedence), searched CASE, aggregates of arithmetic expressions
    "cy_expr" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) WHERE a.id % 10 IN [1, 3, 5, 7] " +
          "RETURN CASE WHEN e.ts % 3 = 0 THEN 'z' WHEN e.ts % 3 = 1 THEN 'o' ELSE 'r' END AS bucket, " +
          "count(*) AS n, sum(e.ts % 100 + 1) AS s")),
    // UNION dedups across overlapping branches (early events + self-loops)
    "cy_union" -> ((s, d) => {
      val g = graph(s, d)
      val t = g.timeBounds.get._2 / 2
      graft.cypher.Cypher.run(g,
        s"MATCH ()-[e]->() WHERE e.ts < $t RETURN e.src AS s, e.dst AS d " +
          "UNION MATCH ()-[f]->(b) WHERE f.src = f.dst RETURN f.src AS s, f.dst AS d")
    }),
    // WITH * carries the whole scope (node/edge bindings stay usable),
    // extra items append as new value bindings, WHERE filters in scope
    "cy_star" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) WITH *, e.ts % 7 AS w WHERE w < 3 " +
          "RETURN a.id AS src, b.id AS dst, e.ts AS ts, w")),
    // pattern predicates: NOT (b)-->() anti-filters through the
    // decorrelated key-distinct left join; exists(pattern) projects a
    // boolean alongside (events into sink nodes, flagged by the source
    // also being a sink itself)
    "cy_exists" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) WHERE NOT (b)-[]->() " +
          "RETURN a.id AS src, b.id AS dst, e.ts AS ts, " +
          "toInteger(exists((a)-[]->({id: 0}))) AS to_zero")),
    // list HOFs: quantifier predicate over a per-row list + reduce fold
    // (sum 1..k has the closed form the oracle replays)
    "cy_hof" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[e]->(b) WHERE any(x IN [e.ts % 5, e.seq % 3] WHERE x = 0) " +
          "RETURN a.id AS src, e.ts AS ts, " +
          "reduce(acc = 0, x IN range(1, e.ts % 4 + 1) | acc + x) AS tri")),
    // COUNT subquery: correlated per-node match count (scalar, not an
    // aggregate — nodes with no filtered out-event count 0)
    "cy_count_sub" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a) RETURN a.id AS id, " +
          "COUNT { MATCH (a)-[f]->(c) WHERE f.ts % 2 = 0 } AS n_even")),
    // pattern comprehension (openCypher; the reference grammar parses it,
    // never executes it): per-node list of smaller out-neighbour event
    // targets, reduced to a deterministic sum, beside the ge-event count
    // via size() of a second comprehension
    "cy_pattern_comp" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a) RETURN a.id AS id, " +
          "reduce(s = 0, x IN [(a)-[e]->(b) WHERE b.id < a.id | b.id] | s + x) AS smaller_sum, " +
          "size([(a)-[e2]->(b2) WHERE b2.id >= a.id | b2.id]) AS n_ge")),
    // variable-length paths (openCypher RangeLiteral — the reference
    // parses it, cypher.pest:203, but never executes it): per (start,end)
    // pair the number of 1..2-hop event paths from low-id sources, with
    // within-path relationship uniqueness
    "cy_varlen" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH (a)-[p*1..2]->(b) WHERE a.id < 50 " +
          "RETURN a.id AS src_id, b.id AS dst_id, count(*) AS n_paths")),
    // shortestPath over a bounded var-length hop: minimal hop count per
    // reachable (src, dst) pair from low-id sources (hash-agg reduction,
    // the source filter pushes through the aggregate's grouping key)
    "cy_shortest" -> ((s, d) =>
      graft.cypher.Cypher.run(graph(s, d),
        "MATCH p = shortestPath((a)-[e*1..2]->(b)) WHERE a.id < 20 " +
          "RETURN a.id AS src_id, b.id AS dst_id, length(p) AS l")),
    // temporal node property histories: latest value per node at the
    // half-span timestamp via propertyAt (one hash aggregate) over a
    // (vid, prop, ts, value) event log derived from orders
    "g_node_prop_at" -> ((s, d) => {
      val pe = Queries.orderEventsForTest(s, d)
        .select(col("src").as("vid"), lit("totalprice").as("prop"),
          col("ts"), col("weight").as("value"))
      val g = graph(s, d).withNodePropEvents(pe)
      val tHalf = pe.agg(max(col("ts"))).head().getLong(0) / 2
      g.propertyAt("totalprice", tHalf)
        .select(col("vid").as("id"), col("ts"), round(col("value"), 2).as("value"))
    }),
    // edge-event temporal property: latest per (src, dst) at the half-span
    // timestamp — the property column IS the exploded event log's column
    "g_edge_prop_at" -> ((s, d) => {
      val g = weightedGraph(s, d)
      val tHalf = g.edges.agg(max(col("ts"))).head().getLong(0) / 2
      g.edgePropertyAt("weight", tHalf)
        .select(col("src"), col("dst"), col("ts"), round(col("value"), 2).as("value"))
    }),
    // temporal reachability (pathing/temporal_reachability.rs:70) from the
    // min-vid node at t=0: per node the taint-history size and first taint
    // time (scalar columns — the driver compare cannot hash array cells)
    "g_temporal_reach" -> ((s, d) => {
      val g = graph(s, d)
      val srcName = g.nodes.agg(min(col("vid"))).head().getLong(0).toString
      Pathing.temporallyReachableNodes(g, maxHops = 100L, startTime = 0L, seeds = Seq(srcName))
        .select(col("vid").as("id"), size(col("history")).cast("long").as("n_events"),
          when(size(col("history")) > 0,
            split(element_at(col("history"), 1), ":").getItem(0).cast("long")).as("first_t"))
    }),
    // largest connected component (components/lcc.rs:25-68): member ids
    "g_lcc" -> ((s, d) =>
      graft.algo.Wcc.largestComponent(graph(s, d)).nodes.select(col("vid").as("id"))),
    // per-node triangle counts (motifs/local_triangle_count.rs) — the
    // direct surface behind local clustering, one enumeration, 3 credits
    "g_local_triangles" -> ((s, d) =>
      graft.algo.Triangles.perNode(graph(s, d))
        .select(col("vid").as("id"), col("triangles"))),
    // per-node local clustering coefficient (local_clustering_coefficient.rs:57-77)
    "g_local_clustering" -> ((s, d) =>
      Metrics.localClusteringCoefficient(graph(s, d))
        .select(col("vid").as("id"), round(col("value"), 6).as("value"))),
    // weighted shortest paths from the min-vid node over out-edges
    // (pathing/dijkstra.rs:49-200), weight = the order totalprice
    "g_dijkstra" -> ((s, d) => {
      val g = weightedGraph(s, d)
      val srcName = g.nodes.agg(min(col("vid"))).head().getLong(0).toString
      val targets = g.nodes.select(col("name")).collect().map(_.getString(0)).toSeq
      Pathing.dijkstra(g, srcName, targets, weightCol = Some("weight"), direction = "out")
        .select(col("target").cast("long").as("id"), round(col("cost"), 2).as("cost"))
    }),
    // distributed delta-stepping over the same weighted graph — must land
    // on exactly the same costs as the driver Dijkstra (same oracle SQL)
    "g_delta_sssp" -> ((s, d) => {
      val g = weightedGraph(s, d)
      val srcName = g.nodes.agg(min(col("vid"))).head().getLong(0).toString
      Pathing.deltaStepping(g, srcName, delta = 0.0, weightCol = Some("weight"),
        direction = "out")
        .select(col("vid").as("id"), round(col("dist"), 2).as("cost"))
    }),
    // all-nodes out-components (in_components.rs:36-105, driver-bounded
    // like the reference): per node the descendant-set SIZE (the members
    // array itself has no hashable driver encoding)
    "g_out_components" -> ((s, d) =>
      Components.allComponents(graph(s, d), dir = "out")
        .select(col("vid").as("id"), size(col("members")).cast("long").as("n_desc"))),
    // PersistentGraph deletion view (deletion_graph.rs:38-120), driver-
    // visible: deterministic deletion events over the orders pairs — adds
    // at even ts (2*o_orderkey, kept orders), lifetime deletes at odd ts
    // for every third kept order, and PURE deletions with no prior add
    // (the reference's only-deleted "alive since -inf" rule) from the
    // dropped-order set; snapshot at the midpoint of the add timeline,
    // distinct-neighbour degrees like g_window_degrees. Within one
    // (src,dst) group every event carries a distinct ts (adds even, dels
    // odd), so the (ts,seq) total order reduces to ts and the oracle can
    // replay it with plain min/max aggregates.
    "g_alive_at" -> ((s, d) => {
      val orders = tbl(s, d, "orders")
      val pair = Seq((col("o_orderkey") % 1009).as("src"),
        ((col("o_orderkey") * 31 + col("o_custkey")) % 1009).as("dst"))
      val kept = orders.filter(col("o_orderkey") % 7 < 3)
      val adds = kept.select(pair ++ Seq((col("o_orderkey") * 2).as("ts"),
        col("o_orderkey").as("seq"), lit(0).as("op")): _*)
      val lifeDels = kept.filter(col("o_orderkey") % 3 === 0)
        .select(pair ++ Seq(((col("o_orderkey") + 1000) * 2 + 1).as("ts"),
          (col("o_orderkey") + 10000000L).as("seq"), lit(1).as("op")): _*)
      val pureDels = orders.filter(col("o_orderkey") % 7 === 3)
        .select(pair ++ Seq((col("o_orderkey") * 2 + 1).as("ts"),
          (col("o_orderkey") + 20000000L).as("seq"), lit(1).as("op")): _*)
      val pg = graft.graph.PersistentGraph.fromEvents(
        adds.unionByName(lifeDels).unionByName(pureDels))
      val bounds = adds.agg(min(col("ts")), max(col("ts"))).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val snap = pg.at(lo + (hi - lo) / 2)
      snap.outDegrees.withColumnRenamed("degree", "out_degree")
        .join(snap.inDegrees.withColumnRenamed("degree", "in_degree"), Seq("vid"))
        .join(snap.degrees, Seq("vid"))
        .select(col("vid").as("id"), col("out_degree"), col("in_degree"), col("degree"))
    }),
    // ---- RAG vector store (raphtory/src/vectors analogue) ---------------
    // entity similarity search: query = the min-vid node's own document
    // embedding; top 10 nodes by codegen cosine, ties by vid
    "v_node_search" -> ((s, d) => {
      val v = vecGraph(s, d)
      val q = v.documents.filter(col("kind") === "node")
        .orderBy(col("vid")).select("embedding").head().getSeq[Double](0).toArray
      v.nodesBySimilarity(q, 10)
        .select(col("rank"), col("vid").as("id"), round(col("score"), 6).as("score"))
    }),
    // selection expansion: seed = min-vid node, query = max-vid node's
    // document; one score-ranked hop adds its top-5 unselected neighbours
    "v_expand" -> ((s, d) => {
      val v = vecGraph(s, d)
      val docs = v.documents.filter(col("kind") === "node")
      val q = docs.orderBy(desc("vid")).select("embedding").head().getSeq[Double](0).toArray
      val seed = docs.agg(min(col("vid"))).select(col("min(vid)").as("vid"))
      v.expandNodesBySimilarity(seed, q, limit = 5)
        .select(col("vid").as("id")).orderBy("id")
    }),
    // ---- view algebra, driver-visible (window / materialize / layers /
    // rolling rich-club — previously suite-only) -------------------------
    // window view (db/api/view/time.rs:115): per-node degrees inside
    // [lo + span/4, lo + span/2) — nodes induced by in-window endpoints
    // expanding views (time.rs:154-162): 5-ish growing window(-inf, t)
    // snapshots at t = lo+k·step; per view the event count and induced
    // node count — the last view-family surface without a driver oracle
    // (rolling is oracled by s_rolling_activity, window by
    // g_window_degrees)
    "g_expanding" -> ((s, d) => {
      val g = graph(s, d)
      val (lo, hi) = g.timeBounds.get
      val step = math.max((hi - lo) / 5, 1L)
      val rows = g.expanding(step).zipWithIndex.map { case (v, i) =>
        (i.toLong, v.edges.count(), v.nodeCount)
      }
      import s.implicits._
      s.createDataset(rows).toDF("view_id", "n_events", "n_nodes")
    }),
    "g_window_degrees" -> ((s, d) => {
      val g = graph(s, d)
      val (lo, hi) = g.timeBounds.get
      val w = g.window(lo + (hi - lo) / 4, lo + (hi - lo) / 2)
      w.outDegrees.withColumnRenamed("degree", "out_degree")
        .join(w.inDegrees.withColumnRenamed("degree", "in_degree"), Seq("vid"))
        .join(w.degrees, Seq("vid"))
        .select(col("vid").as("id"), col("out_degree"), col("in_degree"), col("degree"))
    }),
    // materialize() of a window view (graph.rs:148-260): dense re-mint in
    // view vid order, names preserved
    "g_materialize" -> ((s, d) => {
      val g = graph(s, d)
      val (lo, hi) = g.timeBounds.get
      g.window(lo + (hi - lo) / 4, lo + (hi - lo) / 2).materialize()
        .nodes.select(col("vid"), col("name"))
    }),
    // layer view (db/api/view/layer.rs:12-37): layers keep the full node
    // set and filter edge events; layer = "l" + (ts % 3)
    "g_layer_view" -> ((s, d) => {
      val g = layeredGraph(s, d)
      val v = g.layers(Seq("l0", "l2"))
      one(s, "n_nodes" -> lit(v.nodeCount), "n_edges" -> lit(v.edgeCount),
        "n_events" -> lit(v.edges.count()))
    }),
    // temporal rich club (temporal_rich_club_coefficient.rs:39-97) over
    // rolling(span/4, span/8) views, k=8, sliding window of 3 views
    "g_rich_club" -> ((s, d) => {
      val g = graph(s, d)
      val (lo, hi) = g.timeBounds.get
      val span = hi - lo
      val v = RichClub.temporalRichClubRolling(g, span / 4, span / 8, k = 8, windowSize = 3)
      one(s, "value" -> round(lit(v), 6))
    }),
    // exact seeded LPA (lpa.rs, ChaCha12 replay): labels are shuffle-order
    // dependent, so the oracle checks the dumped PARTITION's convergence
    // invariant instead — every node's label must be the argmax neighbour
    // label (ties to the largest numeric GID, mirroring Lpa.runExact's
    // update rule); the Spark side computes the same numbers distributed.
    "g_lpa_exact" -> ((s, d) => {
      val g = graph(s, d)
      val part = Lpa.runExact(g, Some(Array.fill[Byte](32)(5)))
        .select(col("vid").as("id"), col("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (Verify.isVerifyRun) // Bench at another sfDir must not clobber the dump
        part.coalesce(1).write.mode("overwrite")
          .parquet(s"${Verify.AuxDir}/lpa_partition.parquet")
      val stats = part.agg(count(lit(1)).as("n_labeled"),
        count_distinct(col("label")).as("n_communities")).head()
      // convergence invariant, computed distributed: per node the argmax
      // neighbour label with (count, numeric GID) lexicographic ordering
      val nbr = g.undirectedPairs
        .join(part.select(col("id").as("nb"), col("label")), col("b") === col("nb"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("c"))
      val best = nbr.groupBy(col("a"))
        .agg(max_by(col("label"), struct(col("c"), col("label").cast("long"))).as("best"))
      val unstable = part.join(best, part("id") === best("a"))
        .filter(col("label") =!= col("best")).count()
      part.unpersist()
      one(s,
        "n_nodes" -> lit(g.nodeCount),
        "n_labeled" -> lit(stats.getLong(0)),
        "n_communities" -> lit(stats.getLong(1)),
        "n_unstable" -> lit(unstable))
    }),
    "g_bipartite_projection" -> ((s, d) => {
      val g = graph(s, d)
      val pivots = g.nodes.filter(col("vid") % 2 === 0).select(col("vid"))
      graft.algo.BipartiteProjection.project(g, pivots, delta = 50L)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_events"))
    }),

    "t_minhash" -> ((s, d) =>
      Dedup.minhashSignatures(tbl(s, d, "documents"), nHashes = 16, shingleN = 5)
        .select(col("doc_id"), col("seed").cast("long").as("seed"), col("minhash"))),
    "d_lsh_candidates" -> ((s, d) => lshCands(s, d)),
    // the web-scale hot-bucket guard, exercised end-to-end: buckets larger
    // than 3 members (boilerplate pile-ups) are dropped before pairing
    "d_lsh_capped" -> ((s, d) =>
      Dedup.lshCandidates(lshBuckets(s, d), maxBucketSize = 3L)),
    "d_minhash_jaccard" -> ((s, d) => lshJaccard(s, d)),
    // near-dup groups → canonical-copy selection (keep one per cluster):
    // verified LSH pairs (reusing the memoized bucket computation shared
    // with d_lsh_candidates/d_minhash_jaccard), HashMin label supersteps,
    // cluster = min doc id
    "d_dup_clusters" -> ((s, d) =>
      Dedup.clustersFromPairs(
          tbl(s, d, "documents").select(col("doc_id").as("id")),
          lshJaccard(s, d).filter(col("jaccard") >= 0.7))
        .select(col("id").as("doc_id"), col("cluster"),
          col("keep").cast("long").as("keep"))),
    // composed curation pipeline (TextOps.curate): quality gate → lang
    // filter → fingerprint dedup (keep min doc id) → survivor token
    // counts, one scan + one fingerprint-keyed hash aggregate. The input
    // unions a leading-space mirror of every document (ids offset 10^6):
    // the synthetic corpus has no duplicates, and the mirror normalises
    // to the same fingerprint, so the dedup arm demonstrably collapses
    // every kept group to the original id (minChars = 150 also exercises
    // the border where only the 1-char-longer mirror survives)
    "d_pipeline" -> ((s, d) => {
      val docs = tbl(s, d, "documents").select(col("doc_id"), col("text"))
      val mirrored = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit(" "), col("text")).as("text"))
      TextOps.curate(docs.unionByName(mirrored), minChars = 150,
        maxDigitRatio = 0.3, langs = Seq("en"))
    }),
    "d_simhash" -> ((s, d) => Dedup.simhash(tbl(s, d, "documents"))),
    // embedding-cosine near-dup baseline (cross product; the scale path is
    // the bucketed sim.Ann family). Threshold 0.3 sits >=5.9e-7 away from
    // every pair's cosine at sf<=0.1, far beyond any summation-order bit
    // noise, so the unrounded >= filter is oracle-stable.
    "d_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDups(tbl(s, d, "embeddings"), 0.3)),
    "d_norm_dup" -> ((s, d) => Dedup.normalizedGroups(tbl(s, d, "documents"))),
    "e_ann_lsh" -> ((s, d) => { // deterministic buckets (sequential dots) + Hamming-1 probes
      val e = tbl(s, d, "embeddings")
      import s.implicits._
      Ann.annTopK(e, s.range(10).toDF("id"), k = 5, planes = 8)
    }),
    // IVF ANN over the memoized, aux-dumped centroid matrix (see
    // ivfCents): the oracle replays assignment + probing + cosine top-k
    // over the SAME doubles — list_dot_product's index-order summation is
    // bit-equal to the codegen DotProduct.
    "e_ann_ivf" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      import s.implicits._
      Ann.ivfTopK(e, s.range(10).toDF("id"), k = 5, ivfCents(s, d), nprobe = 3)
    }),
    // IVF-cell near-dup candidates + cosine verify — the bucketed scale
    // path for the d_embed_neardup cross product, hot-cell cap exercised
    // (cells are disjoint; capped cells drop whole, like the LSH guard)
    "d_ivf_neardup" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      Dedup.embeddingVerify(
        Ann.ivfCandidates(e, ivfCents(s, d), maxCellSize = 50), e, threshold = 0.3)
    }),
    "t_search" -> ((s, d) => // inverted-index TF-IDF top-20
      graft.text.Search.search(tbl(s, d, "documents"),
        Seq("spark", "shuffle", "query"), k = 20)),
    // fuzzy term search (levenshtein <= 2 over the term dictionary): the
    // 4-char query takes the lossless length-band prefilter; 'park' has
    // real near-misses in the corpus vocabulary (spark=1, part=1)
    "t_fuzzy_terms" -> ((s, d) => {
      val idx = graft.text.Search.postings(tbl(s, d, "documents"))
      val tdf = idx.groupBy(col("term")).agg(count(lit(1)).as("df"))
      graft.text.Search.fuzzy(tdf, "term", "park", 2)
        .select(col("term"), col("dist"), col("df"))
    }),
    // fuzzy node-property search over the crawl graph's url names: the
    // 28-char query also takes the (provably lossless) trigram prefilter
    "crawl_fuzzy_url" -> ((s, _) =>
      graft.text.Search.fuzzySearchNodes(tinyCrawl(s), "https://site0001.example/q/1", 2)
        .select(col("vid").as("id"), col("name"), col("dist"))),
    "s_rolling_counts" -> ((s, d) =>
      tbl(s, d, "events")
        // parquet naive timestamps read as NTZ in Spark 4; UTC session cast
        .withColumn("ts", col("ts").cast("timestamp"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(unix_millis(col("w.start")).as("window_start"), col("event_type"),
          col("n"), col("sum_value"))),
    "s_rolling_activity" -> ((s, _) => // rolling() over crawl event-time
      StreamIngest.rollingActivity(tinyCrawl(s).edges, 30000L, 30000L)),
    // streaming MinHash-LSH near-dup driver-visible: documents in two
    // micro-batches (even ids, then odd) through StreamIngest.nearDupStream
    // at the default 16/4 geometry and bucketCap=16. The cap semantics are
    // deterministic under this feed — each batch replays its bucket group
    // ascending by id, so the kept set per band bucket is the first 16 ids
    // ordered by (batch parity, id); emitted pairs = all kept pairs with
    // signature agreement >= 0.7, DISTINCT across shared buckets. The
    // oracle replays exactly that rank rule over the SQL minhash replay.
    "s_neardup_stream" -> ((s, d) => {
      import s.implicits._
      val docs = tbl(s, d, "documents")
        .select(col("doc_id").cast("long").as("id"), col("text"))
      val b1 = docs.filter(col("id") % 2 === 0).as[(Long, String)].collect()
      val b2 = docs.filter(col("id") % 2 =!= 0).as[(Long, String)].collect()
      twoBatchReplay[(Long, String)](s, b1.toSeq, b2.toSeq,
        Seq("doc_id", "text"), StreamIngest.nearDupStream(_),
        "s_neardup_stream_sink")
        .distinct() // pairs re-emitted from shared band buckets
        .select(col("a"), col("b"), round(col("sig_agreement"), 6).as("sig_agreement"))
    }),
    // streaming exact dedup driver-visible: the documents table replayed
    // as two deterministic micro-batches (even doc_ids, then odd) through
    // StreamIngest.dedupStream (flatMapGroupsWithState); the emitted
    // (hash, kept id) rows follow the first-seen rule the oracle replays
    // in SQL — batch-1 min id when the hash has an even-id row, else
    // batch-2 min. Driver collect is the TEST HARNESS feeding
    // MemoryStream, not the operator (state is executor-partitioned).
    "s_dedup_stream" -> ((s, d) => {
      import s.implicits._
      val docs = tbl(s, d, "documents").filter(col("text").isNotNull)
        .select(md5(col("text").cast("binary")).as("h"),
          col("doc_id").cast("long").as("id"))
      val b1 = docs.filter(col("id") % 2 === 0).as[(String, Long)].collect()
      val b2 = docs.filter(col("id") % 2 =!= 0).as[(String, Long)].collect()
      twoBatchReplay[(String, Long)](s, b1.toSeq, b2.toSeq,
        Seq("content_hash", "doc_id"), StreamIngest.dedupStream(_),
        "s_dedup_stream_sink")
    }),
    "m_media_features" -> ((s, d) => { // HeaderCodec: real header parse for the
      // crafted rows (ids 1000+), deterministic md5 stub fallback for the
      // synthetic rows — both driver-oracled over the aux media dump
      val media = Media.syntheticMedia(s, 200L).unionByName(Media.craftedMedia(s))
      Media.extractFeatures(media, Media.HeaderCodec).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("width"),
          col("height"), col("sample_rate"), col("n_frames"))
    }),
    "crawl_seir" -> ((s, _) => { // hash-coin mode: order-independent => SQL fixpoint oracle
      val g = tinyCrawl(s)
      graft.algo.Seir.run(g, Seq(graft.io.Corpus.url(1)),
        graft.algo.Seir.Config(infectionProb = 0.8,
          initialInfection = graft.io.Corpus.BaseMillis, rngMode = "hash"))
    }),
    "crawl_wcc_sizes" -> ((s, _) => // scalar columns only: the driver's
      // pandas compare cannot hash array cells (round-1 hard error)
      Wcc.run(tinyCrawl(s))
        .groupBy(col("component_vid").as("component"))
        .agg(count(lit(1)).as("n_nodes"))),
    // ---- remaining view-algebra / accessor surfaces, driver-visible
    // (previously suite-only: subgraph, subgraphNodeTypes, node history
    // earliest/latest — closes the last SURVEY §1.5/§2.2 oracle gaps) ----
    // induced subgraph (node_subgraph.rs) on the even-vid node set:
    // per-node degrees inside the induced view
    "g_subgraph" -> ((s, d) => {
      val g = graph(s, d)
      val sub = g.subgraph(g.nodes.filter(col("vid") % 2 === 0).select("vid"))
      sub.outDegrees.withColumnRenamed("degree", "out_degree")
        .join(sub.inDegrees.withColumnRenamed("degree", "in_degree"), Seq("vid"))
        .join(sub.degrees, Seq("vid"))
        .select(col("vid").as("id"), col("out_degree"), col("in_degree"), col("degree"))
    }),
    // node-type induced subgraph (node_type_filtered_subgraph.rs): types
    // "t"+(vid%3) assigned to vids not divisible by 5, the rest untyped
    // (= _default); keep {t1, _default}
    "g_node_types" -> ((s, d) => {
      val g = graph(s, d)
      val types = g.nodes.filter(col("vid") % 5 =!= 0)
        .select(col("vid"), concat(lit("t"), col("vid") % 3).as("node_type"))
      val typed = g.withNodeTypes(types)
      val sub = typed.subgraphNodeTypes(Seq("t1", typed.DefaultNodeType))
      one(s, "n_nodes" -> lit(sub.nodeCount), "n_edges" -> lit(sub.edgeCount),
        "n_events" -> lit(sub.edges.count()))
    }),
    // node history / earliest_time / latest_time (node.rs:96-109): per-node
    // incident-event count + time bounds, self-loops incident once
    "g_node_activity" -> ((s, d) =>
      graph(s, d).nodeActivity
        .select(col("vid").as("id"), col("n_events"), col("earliest"), col("latest")))
  )

  def oracles: Map[String, String] = Map(
    "g_scc" ->
      s"""WITH RECURSIVE $sqlGraph,
         |reach(a, b) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
         |),
         |mutual AS (SELECT r1.a, min(r1.b) AS mn FROM reach r1
         |           JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a GROUP BY r1.a)
         |SELECT n.id, CAST(least(n.id, coalesce(m.mn, n.id)) AS BIGINT) AS component
         |FROM nodes n LEFT JOIN mutual m ON m.a = n.id""".stripMargin,
    "g_sssp_dist" ->
      s"""WITH RECURSIVE $sqlGraph,
         |dists(id, dist) AS (
         |  SELECT min(id), 0 FROM nodes
         |  UNION
         |  SELECT u.b, dd.dist + 1 FROM dists dd JOIN und u ON u.a = dd.id
         |  WHERE dd.dist < 30
         |)
         |SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM dists GROUP BY id""".stripMargin,
    "g_out_component" ->
      s"""WITH RECURSIVE $sqlGraph,
         |r(id) AS (
         |  SELECT dst FROM edges WHERE src = (SELECT min(id) FROM nodes)
         |  UNION
         |  SELECT e.dst FROM r JOIN edges e ON e.src = r.id
         |)
         |SELECT DISTINCT id FROM r""".stripMargin,
    "g_in_component" ->
      s"""WITH RECURSIVE $sqlGraph,
         |r(id) AS (
         |  SELECT src FROM edges WHERE dst = (SELECT min(id) FROM nodes)
         |  UNION
         |  SELECT e.src FROM r JOIN edges e ON e.dst = r.id
         |)
         |SELECT DISTINCT id FROM r""".stripMargin,
    "g_degree_stats" ->
      s"""WITH $sqlGraph,
         |ud AS (SELECT n.id, CAST(coalesce(u.c, 0) AS BIGINT) AS degree FROM nodes n
         |       LEFT JOIN (SELECT a, count(*) AS c FROM und GROUP BY a) u ON u.a = n.id),
         |od AS (SELECT n.id, CAST(coalesce(o.c, 0) AS BIGINT) AS degree FROM nodes n
         |       LEFT JOIN (SELECT src, count(*) AS c FROM edges GROUP BY src) o ON o.src = n.id),
         |idg AS (SELECT n.id, CAST(coalesce(i.c, 0) AS BIGINT) AS degree FROM nodes n
         |       LEFT JOIN (SELECT dst, count(*) AS c FROM edges GROUP BY dst) i ON i.dst = n.id)
         |SELECT (SELECT max(degree) FROM ud) AS max_degree,
         |       (SELECT min(degree) FROM ud) AS min_degree,
         |       (SELECT round(avg(degree), 6) FROM ud) AS avg_degree,
         |       (SELECT max(degree) FROM od) AS max_out_degree,
         |       (SELECT min(degree) FROM od) AS min_out_degree,
         |       (SELECT max(degree) FROM idg) AS max_in_degree,
         |       (SELECT min(degree) FROM idg) AS min_in_degree""".stripMargin,
    "g_pagerank_median" -> Queries.pagerankOracle(
      "SELECT round(median(score), 9) AS median FROM pr WHERE iter = 20"),
    // standalone modularity of the deterministic vid%7 partition — the
    // same undirected collapsed-pair-weight algebra as g_louvain's check,
    // but the partition itself is SQL-expressible so the whole metric is
    // recomputed end-to-end
    "g_modularity" ->
      s"""WITH $sqlGraph,
         |part AS (SELECT id, id % 7 AS community FROM nodes),
         |pw AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         |              CAST(count(*) AS DOUBLE) AS w
         |       FROM ev GROUP BY 1, 2),
         |mt AS (SELECT sum(w) AS m FROM pw),
         |kn AS (SELECT id, sum(kv) AS k FROM (
         |         SELECT a AS id, CASE WHEN a = b THEN 2 * w ELSE w END AS kv FROM pw
         |         UNION ALL
         |         SELECT b AS id, w AS kv FROM pw WHERE a <> b) t
         |       GROUP BY id),
         |kc AS (SELECT p.community AS c, sum(kn.k) AS kcom
         |       FROM kn JOIN part p ON p.id = kn.id GROUP BY 1),
         |intra AS (SELECT pa.community AS c, sum(pw.w) AS i FROM pw
         |          JOIN part pa ON pa.id = pw.a JOIN part pb ON pb.id = pw.b
         |          WHERE pa.community = pb.community GROUP BY 1),
         |qv AS (SELECT sum(coalesce(i.i, 0) / (SELECT m FROM mt)
         |             - pow(kc.kcom / (2 * (SELECT m FROM mt)), 2)) AS q
         |       FROM kc LEFT JOIN intra i ON i.c = kc.c)
         |SELECT round(q, 6) AS modularity FROM qv""".stripMargin,
    // Louvain partition consistency (see the query comment): modularity is
    // recomputed from the aux-dumped partition with the same algebra as
    // algo/Louvain.modularity — undirected collapsed pair weights, k(v)
    // counts self-loops twice, Q = Σ_c intra_c/m − (k_c/2m)².
    "g_louvain" ->
      s"""WITH $sqlGraph,
         |part AS (SELECT id, community
         |         FROM read_parquet('${Verify.AuxDir}/louvain_partition.parquet/*.parquet')),
         |pw AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
         |              CAST(count(*) AS DOUBLE) AS w
         |       FROM ev GROUP BY 1, 2),
         |mt AS (SELECT sum(w) AS m FROM pw),
         |kn AS (SELECT id, sum(kv) AS k FROM (
         |         SELECT a AS id, CASE WHEN a = b THEN 2 * w ELSE w END AS kv FROM pw
         |         UNION ALL
         |         SELECT b AS id, w AS kv FROM pw WHERE a <> b) t
         |       GROUP BY id),
         |kc AS (SELECT p.community AS c, sum(kn.k) AS kcom
         |       FROM kn JOIN part p ON p.id = kn.id GROUP BY 1),
         |intra AS (SELECT pa.community AS c, sum(pw.w) AS i FROM pw
         |          JOIN part pa ON pa.id = pw.a JOIN part pb ON pb.id = pw.b
         |          WHERE pa.community = pb.community GROUP BY 1),
         |qv AS (SELECT sum(coalesce(i.i, 0) / (SELECT m FROM mt)
         |             - pow(kc.kcom / (2 * (SELECT m FROM mt)), 2)) AS q
         |       FROM kc LEFT JOIN intra i ON i.c = kc.c),
         |mins AS (SELECT community, min(id) AS mn FROM part GROUP BY 1)
         |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
         |       (SELECT count(*) FROM part) AS n_labeled,
         |       (SELECT count(DISTINCT community) FROM part) AS n_communities,
         |       (SELECT count(*) FROM mins WHERE community <> mn) AS non_min_labels,
         |       (SELECT round(q, 6) FROM qv) AS modularity""".stripMargin,
    "cy_edges" ->
      s"""WITH $sqlGraph
         |SELECT src, dst, ts FROM ev""".stripMargin,
    "cy_two_hop" ->
      s"""WITH $sqlGraph
         |SELECT count(*) AS n FROM ev x JOIN ev y
         |ON y.src = x.dst AND y.ts > x.ts AND x.src <> y.dst""".stripMargin,
    "cy_degree" ->
      s"""WITH $sqlGraph
         |SELECT src AS id, count(*) AS n_events,
         |  CAST(min(ts) AS BIGINT) AS first_ts, CAST(max(ts) AS BIGINT) AS last_ts
         |FROM ev GROUP BY src""".stripMargin,
    "cy_with_top" ->
      s"""WITH $sqlGraph,
         |outs AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d
         |         FROM ev GROUP BY src HAVING count(*) >= 2)
         |SELECT o.id, o.d, CAST(count(*) AS BIGINT) AS n_in
         |FROM outs o JOIN ev f ON f.dst = o.id
         |GROUP BY o.id, o.d""".stripMargin,
    "cy_optional" ->
      s"""WITH $sqlGraph
         |SELECT n.id, CAST(count(e.src) AS BIGINT) AS n_out
         |FROM nodes n LEFT JOIN ev e ON e.src = n.id GROUP BY n.id""".stripMargin,
    "cy_skip" ->
      s"""WITH $sqlGraph
         |SELECT src, dst, ts FROM ev
         |ORDER BY src, dst, ts LIMIT 50 OFFSET 100""".stripMargin,
    // percentileDisc is nearest-rank (rank ceil(p·n), min 1) — replayed
    // with an explicit row_number window, NOT DuckDB's quantile_disc,
    // so the definition under test is pinned; quantile_cont and
    // stddev_samp share Spark's exact definitions
    "cy_percentile" ->
      s"""WITH $sqlGraph,
         |vals AS (SELECT src % 10 AS bucket, ts % 1000 AS v FROM ev),
         |ranked AS (SELECT bucket, v,
         |             row_number() OVER (PARTITION BY bucket ORDER BY v) AS rn,
         |             count(*) OVER (PARTITION BY bucket) AS n FROM vals),
         |disc AS (SELECT bucket,
         |           max(CASE WHEN rn = greatest(CAST(ceil(round(0.25 * n, 9)) AS BIGINT), 1)
         |               THEN v END) AS p25
         |         FROM ranked GROUP BY bucket),
         |agg AS (SELECT bucket, round(quantile_cont(v, 0.5), 6) AS p50,
         |               round(stddev_samp(v), 6) AS sd
         |        FROM vals GROUP BY bucket)
         |SELECT a.bucket, a.p50, CAST(d.p25 AS BIGINT) AS p25, a.sd
         |FROM agg a JOIN disc d USING (bucket)""".stripMargin,
    "cy_params" ->
      s"""WITH $sqlGraph
         |SELECT src AS id, CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(ts) AS BIGINT) AS first_ts
         |FROM ev WHERE ts >= 1000 AND src % 13 IN (0, 3, 7)
         |GROUP BY src""".stripMargin,
    // CALL pagerank() YIELD vid AS id, score WHERE id % 2 = 0: the same
    // 20-step power-iteration replay as g_pagerank, filtered on the
    // yielded (renamed) id
    "cy_call_pagerank" -> Queries.pagerankOracle(
      "SELECT id, round(score, 9) AS score FROM pr WHERE iter = 20 AND id % 2 = 0"),
    "cy_distinct" ->
      s"""WITH $sqlGraph
         |SELECT src AS id, CAST(count(DISTINCT dst) AS BIGINT) AS nbrs,
         |  CAST(count(*) AS BIGINT) AS n_events
         |FROM ev GROUP BY src""".stripMargin,
    "cy_expr" ->
      s"""WITH $sqlGraph
         |SELECT CASE WHEN ts % 3 = 0 THEN 'z' WHEN ts % 3 = 1 THEN 'o' ELSE 'r' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(ts % 100 + 1) AS BIGINT) AS s
         |FROM ev WHERE src % 10 IN (1, 3, 5, 7) GROUP BY 1""".stripMargin,
    "cy_union" ->
      s"""WITH $sqlGraph,
         |tt AS (SELECT (max(ts) + 1) // 2 AS t FROM ev)
         |SELECT DISTINCT src AS s, dst AS d FROM ev, tt
         |WHERE ts < tt.t OR src = dst""".stripMargin,
    "cy_exists" ->
      s"""WITH $sqlGraph
         |SELECT src, dst, ts,
         |  CAST(EXISTS (SELECT 1 FROM ev z WHERE z.src = e.src AND z.dst = 0) AS BIGINT) AS to_zero
         |FROM ev e WHERE dst NOT IN (SELECT src FROM ev)""".stripMargin,
    "cy_hof" ->
      s"""WITH $sqlGraph
         |SELECT src, ts, CAST(((ts % 4 + 1) * (ts % 4 + 2)) // 2 AS BIGINT) AS tri
         |FROM ev WHERE ts % 5 = 0 OR seq % 3 = 0""".stripMargin,
    "cy_count_sub" ->
      s"""WITH $sqlGraph
         |SELECT n.id, CAST(coalesce(s.cnt, 0) AS BIGINT) AS n_even
         |FROM nodes n LEFT JOIN (SELECT src, count(*) AS cnt FROM ev
         |                        WHERE ts % 2 = 0 GROUP BY src) s ON s.src = n.id""".stripMargin,
    "cy_star" ->
      s"""WITH $sqlGraph
         |SELECT src, dst, ts, CAST(ts % 7 AS BIGINT) AS w
         |FROM ev WHERE ts % 7 < 3""".stripMargin,
    // pattern comprehensions collect one element per matching EVENT:
    // smaller_sum = Σ dst over out-events with dst < src (0 when none),
    // n_ge = count of out-events with dst >= src
    "cy_pattern_comp" ->
      s"""WITH $sqlGraph
         |SELECT n.id,
         |  CAST(coalesce(s.v, 0) AS BIGINT) AS smaller_sum,
         |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS n_ge
         |FROM nodes n
         |LEFT JOIN (SELECT src, sum(dst) AS v FROM ev WHERE dst < src GROUP BY src) s
         |  ON s.src = n.id
         |LEFT JOIN (SELECT src, count(*) AS cnt FROM ev WHERE dst >= src GROUP BY src) c
         |  ON c.src = n.id""".stripMargin,
    // 1-hop events + 2-hop event chains (distinct events: ts = seq =
    // o_orderkey identifies the event) grouped by path endpoints
    "cy_varlen" ->
      s"""WITH $sqlGraph,
         |p1 AS (SELECT src AS a, dst AS b FROM ev WHERE src < 50),
         |p2 AS (SELECT e1.src AS a, e2.dst AS b FROM ev e1 JOIN ev e2
         |       ON e2.src = e1.dst AND NOT (e1.src = e2.src AND e1.dst = e2.dst
         |          AND e1.ts = e2.ts AND e1.seq = e2.seq)
         |       WHERE e1.src < 50),
         |allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
         |SELECT a AS src_id, b AS dst_id, CAST(count(*) AS BIGINT) AS n_paths
         |FROM allp GROUP BY a, b""".stripMargin,
    // 1-hop events beat 2-hop chains per endpoint pair; the 2-hop branch
    // excludes same-event reuse exactly like cy_varlen's oracle
    "cy_shortest" ->
      s"""WITH $sqlGraph,
         |p1 AS (SELECT src AS a, dst AS b, 1 AS l FROM ev WHERE src < 20),
         |p2 AS (SELECT e1.src AS a, e2.dst AS b, 2 AS l FROM ev e1 JOIN ev e2
         |       ON e2.src = e1.dst AND NOT (e1.src = e2.src AND e1.dst = e2.dst
         |          AND e1.ts = e2.ts AND e1.seq = e2.seq)
         |       WHERE e1.src < 20),
         |allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
         |SELECT a AS src_id, b AS dst_id, CAST(min(l) AS BIGINT) AS l
         |FROM allp GROUP BY a, b""".stripMargin,
    // latest-at-t per node over the property event log: arg_max by ts
    // (event times are unique: ts = o_orderkey), t = half the max ts
    "g_node_prop_at" ->
      """WITH pe AS (SELECT o_orderkey % 1009 AS vid, o_orderkey AS ts, o_totalprice AS value
        |            FROM orders WHERE o_orderkey % 7 < 3),
        |tt AS (SELECT max(ts) // 2 AS t FROM pe)
        |SELECT vid AS id, CAST(max(ts) AS BIGINT) AS ts,
        |       round(arg_max(value, ts), 2) AS value
        |FROM pe WHERE ts <= (SELECT t FROM tt) GROUP BY vid""".stripMargin,
    "g_edge_prop_at" ->
      """WITH pe AS (SELECT o_orderkey % 1009 AS src,
        |                   (o_orderkey * 31 + o_custkey) % 1009 AS dst,
        |                   o_orderkey AS ts, o_totalprice AS value
        |            FROM orders WHERE o_orderkey % 7 < 3),
        |tt AS (SELECT max(ts) // 2 AS t FROM pe)
        |SELECT src, dst, CAST(max(ts) AS BIGINT) AS ts,
        |       round(arg_max(value, ts), 2) AS value
        |FROM pe WHERE ts <= (SELECT t FROM tt) GROUP BY src, dst""".stripMargin,
    // temporal reachability as a recursive min-fixpoint (crawl_seir's
    // shape with p=1 and incubation 0): inf(v,t) = taint times, the final
    // earliest per node is the fixpoint min; the history is then every
    // DISTINCT (dst, ts, src) event with ts >= the tainting node's
    // earliest, plus the seed's synthetic start entry at t=0.
    "g_temporal_reach" ->
      s"""WITH RECURSIVE $sqlGraph,
         |sd AS (SELECT min(id) AS v FROM nodes),
         |inf(v, t) AS (
         |  SELECT v, CAST(0 AS BIGINT) FROM sd
         |  UNION
         |  SELECT e.dst, e.ts FROM inf i JOIN ev e ON e.src = i.v AND e.ts >= i.t
         |),
         |mn AS (SELECT v, min(t) AS mt FROM inf GROUP BY v),
         |hist AS (
         |  SELECT DISTINCT e.dst AS v, e.ts AS t, e.src AS s
         |  FROM ev e JOIN mn ON mn.v = e.src AND e.ts >= mn.mt
         |  UNION ALL
         |  SELECT v, CAST(0 AS BIGINT), CAST(-1 AS BIGINT) FROM sd
         |),
         |agg AS (SELECT v, count(*) AS c, min(t) AS ft FROM hist GROUP BY v)
         |SELECT n.id, CAST(coalesce(a.c, 0) AS BIGINT) AS n_events,
         |  CAST(a.ft AS BIGINT) AS first_t
         |FROM nodes n LEFT JOIN agg a ON a.v = n.id""".stripMargin,
    // largest WCC (ties -> smallest min-vid representative), member ids
    "g_lcc" ->
      s"""WITH RECURSIVE $sqlGraph,
         |reach(id, c) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT u.b, r.c FROM reach r JOIN und u ON u.a = r.id
         |),
         |comp AS (SELECT id, min(c) AS component FROM reach GROUP BY id),
         |top AS (SELECT component FROM comp GROUP BY component
         |        ORDER BY count(*) DESC, component LIMIT 1)
         |SELECT id FROM comp WHERE component = (SELECT component FROM top)""".stripMargin,
    // 2*T_v / (d_v (d_v - 1)) over distinct non-self undirected neighbours
    // same canonical-pair triangle enumeration as g_local_clustering's,
    // but raw per-node counts (every node listed, 0 for triangle-free)
    "g_local_triangles" ->
      s"""WITH $sqlGraph,
         |simple AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |           FROM edges WHERE src <> dst),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM simple e1 JOIN simple e2 ON e2.a = e1.a AND e2.b > e1.b
         |        JOIN simple e3 ON e3.a = e1.b AND e3.b = e2.b),
         |tcnt AS (SELECT v, count(*) AS t FROM (
         |  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri) u GROUP BY v)
         |SELECT n.id, CAST(coalesce(tc.t, 0) AS BIGINT) AS triangles
         |FROM nodes n LEFT JOIN tcnt tc ON tc.v = n.id""".stripMargin,
    "g_local_clustering" ->
      s"""WITH $sqlGraph,
         |simple AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |           FROM edges WHERE src <> dst),
         |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |        FROM simple e1 JOIN simple e2 ON e2.a = e1.a AND e2.b > e1.b
         |        JOIN simple e3 ON e3.a = e1.b AND e3.b = e2.b),
         |tcnt AS (SELECT v, count(*) AS t FROM (
         |  SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri) q GROUP BY v),
         |deg AS (SELECT a AS id, count(*) AS d FROM und WHERE a <> b GROUP BY a)
         |SELECT n.id, round(CASE WHEN coalesce(deg.d, 0) <= 1 THEN 0.0
         |  ELSE 2.0 * coalesce(t.t, 0) / (deg.d * (deg.d - 1)) END, 6) AS value
         |FROM nodes n LEFT JOIN deg ON deg.id = n.id
         |LEFT JOIN tcnt t ON t.v = n.id""".stripMargin,
    // Bellman-Ford rounds with a zero self-loop carry (the pagerank-oracle
    // trick): round r covers every path of <= r edges; min over rounds =
    // the shortest cost. 100 rounds validated >= the longest min-cost
    // path's hop count at sf <= 0.1.
    "g_dijkstra" -> dijkstraSql,
    // delta-stepping settles the identical cost table
    "g_delta_sssp" -> dijkstraSql,
    // transitive closure sizes per node (descendants over directed edges)
    "g_out_components" ->
      s"""WITH RECURSIVE $sqlGraph,
         |reach(a, b) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
         |),
         |cnt AS (SELECT a, count(DISTINCT b) AS n FROM reach GROUP BY a)
         |SELECT nd.id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_desc
         |FROM nodes nd LEFT JOIN cnt c ON c.a = nd.id""".stripMargin,
    // PersistentGraph alive-at replay: every event in a (src,dst) group has
    // a distinct ts (adds even, deletes odd), so the (ts,seq) order reduces
    // to ts and the alive predicate is exactly PersistentGraph.window's:
    //   alive_before(t) = only_deleted || last add before t > last del before t
    //   only_deleted    = first event is a delete that has not happened by t
    //   at(t)           = alive_before && first event AT t isn't a delete,
    //                     OR an add lands at exactly t
    "g_alive_at" ->
      """WITH pe AS (
        |  SELECT o_orderkey % 1009 AS src, (o_orderkey * 31 + o_custkey) % 1009 AS dst,
        |         o_orderkey * 2 AS ts, 0 AS op
        |  FROM orders WHERE o_orderkey % 7 < 3
        |  UNION ALL
        |  SELECT o_orderkey % 1009, (o_orderkey * 31 + o_custkey) % 1009,
        |         (o_orderkey + 1000) * 2 + 1, 1
        |  FROM orders WHERE o_orderkey % 7 < 3 AND o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey % 1009, (o_orderkey * 31 + o_custkey) % 1009,
        |         o_orderkey * 2 + 1, 1
        |  FROM orders WHERE o_orderkey % 7 = 3),
        |tb AS (SELECT min(ts) AS lo, max(ts) AS hi FROM pe WHERE op = 0),
        |tt AS (SELECT lo + (hi - lo) // 2 AS t FROM tb),
        |agg AS (
        |  SELECT src, dst,
        |    min(CASE WHEN op = 0 THEN ts END) AS first_add,
        |    min(CASE WHEN op = 1 THEN ts END) AS first_del,
        |    max(CASE WHEN op = 0 AND ts < t THEN ts END) AS last_add_before,
        |    max(CASE WHEN op = 1 AND ts < t THEN ts END) AS last_del_before,
        |    min(CASE WHEN op = 0 AND ts = t THEN ts END) AS add_at,
        |    min(CASE WHEN op = 1 AND ts = t THEN ts END) AS del_at
        |  FROM pe, tt GROUP BY src, dst),
        |present AS (
        |  SELECT src, dst FROM agg, tt
        |  WHERE (NOT (del_at IS NOT NULL AND (add_at IS NULL OR del_at < add_at))
        |         AND ((last_add_before IS NOT NULL AND
        |               (last_del_before IS NULL OR last_add_before > last_del_before))
        |           OR ((first_add IS NULL OR first_del < first_add)
        |               AND first_del IS NOT NULL AND first_del >= t)))
        |     OR add_at IS NOT NULL),
        |pnodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM present
        |           UNION ALL SELECT dst FROM present) t0),
        |pund AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM present
        |         UNION ALL SELECT dst AS a, src AS b FROM present) t1)
        |SELECT n.id,
        |  CAST(coalesce(o.c, 0) AS BIGINT) AS out_degree,
        |  CAST(coalesce(i.c, 0) AS BIGINT) AS in_degree,
        |  CAST(coalesce(u.c, 0) AS BIGINT) AS degree
        |FROM pnodes n
        |LEFT JOIN (SELECT src, count(*) AS c FROM present GROUP BY src) o ON o.src = n.id
        |LEFT JOIN (SELECT dst, count(*) AS c FROM present GROUP BY dst) i ON i.dst = n.id
        |LEFT JOIN (SELECT a, count(*) AS c FROM pund GROUP BY a) u ON u.a = n.id""".stripMargin,
    // cosine ranking replayed over the aux-dumped document embeddings
    // (same dot/norm op order as e_cosine_top5 — bit-stable vs codegen)
    "v_node_search" ->
      s"""WITH docs AS (SELECT vid, embedding
         |              FROM read_parquet('${Verify.AuxDir}/vec_docs.parquet/*.parquet')
         |              WHERE kind = 'node'),
         |q AS (SELECT embedding AS qe FROM docs ORDER BY vid LIMIT 1),
         |s AS (SELECT d.vid,
         |        list_dot_product(d.embedding, q.qe) /
         |        (sqrt(list_dot_product(d.embedding, d.embedding)) *
         |         sqrt(list_dot_product(q.qe, q.qe))) AS sim
         |      FROM docs d CROSS JOIN q),
         |r AS (SELECT vid, sim, row_number() OVER (ORDER BY sim DESC, vid) AS rank FROM s)
         |SELECT CAST(rank AS BIGINT) AS rank, vid AS id, round(sim, 6) AS score
         |FROM r WHERE rank <= 10""".stripMargin,
    // one expansion hop: seed's undirected neighbours ranked by cosine
    // against the max-vid node's document; top 5 join the selection
    "v_expand" ->
      s"""WITH $sqlGraph,
         |docs AS (SELECT vid, embedding
         |         FROM read_parquet('${Verify.AuxDir}/vec_docs.parquet/*.parquet')
         |         WHERE kind = 'node'),
         |seed AS (SELECT min(vid) AS v FROM docs),
         |q AS (SELECT embedding AS qe FROM docs ORDER BY vid DESC LIMIT 1),
         |nbrs AS (SELECT DISTINCT u.b AS vid FROM und u CROSS JOIN seed
         |         WHERE u.a = seed.v AND u.b <> seed.v),
         |s AS (SELECT n.vid,
         |        list_dot_product(d.embedding, q.qe) /
         |        (sqrt(list_dot_product(d.embedding, d.embedding)) *
         |         sqrt(list_dot_product(q.qe, q.qe))) AS sim
         |      FROM nbrs n JOIN docs d ON d.vid = n.vid CROSS JOIN q),
         |r AS (SELECT vid, row_number() OVER (ORDER BY sim DESC, vid) AS rank FROM s)
         |SELECT vid AS id FROM (SELECT v AS vid FROM seed
         |  UNION ALL SELECT vid FROM r WHERE rank <= 5) t""".stripMargin,
    // window view degrees: same degree SQL as g_degrees over the
    // [lo + span/4, lo + span/2) event slice (span = maxTs + 1 - minTs)
    // the resumed run must equal the straight power iteration at 12 steps
    "g_pagerank_resume" -> Queries.pagerankOracle(
      "SELECT id, round(score, 9) AS score FROM pr WHERE iter = 12"),
    // expanding(step): view k covers ts < lo + (k+1)·step, k while
    // lo + k·step < hi (hi = max+1) — same integer arithmetic as
    // LinkGraph.timeBounds/expanding
    "g_expanding" ->
      s"""WITH $sqlGraph,
         |b AS (SELECT min(ts) AS lo, max(ts) + 1 AS hi FROM ev),
         |s AS (SELECT lo, hi, greatest((hi - lo) // 5, 1) AS st FROM b),
         |vw AS (SELECT k AS view_id,
         |         (SELECT lo FROM s) + (k + 1) * (SELECT st FROM s) AS t
         |       FROM (SELECT unnest(generate_series(0,
         |              CAST((SELECT (hi - lo - 1) // st FROM s) AS BIGINT))) AS k))
         |SELECT v.view_id,
         |  (SELECT count(*) FROM ev WHERE ts < v.t) AS n_events,
         |  (SELECT count(DISTINCT id) FROM (
         |     SELECT src AS id FROM ev WHERE ts < v.t
         |     UNION ALL SELECT dst FROM ev WHERE ts < v.t) u) AS n_nodes
         |FROM vw v""".stripMargin,
    "g_window_degrees" ->
      s"""WITH $sqlGraph,
         |bounds AS (SELECT min(ts) AS lo, max(ts) + 1 AS hi FROM ev),
         |win AS (SELECT lo + (hi - lo) // 4 AS t1, lo + (hi - lo) // 2 AS t2 FROM bounds),
         |wev AS (SELECT e.* FROM ev e, win WHERE e.ts >= win.t1 AND e.ts < win.t2),
         |wedges AS (SELECT DISTINCT src, dst FROM wev),
         |wnodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM wedges
         |           UNION ALL SELECT dst FROM wedges) t0),
         |wund AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM wedges
         |         UNION ALL SELECT dst AS a, src AS b FROM wedges) t1)
         |SELECT n.id,
         |  CAST(coalesce(o.c, 0) AS BIGINT) AS out_degree,
         |  CAST(coalesce(i.c, 0) AS BIGINT) AS in_degree,
         |  CAST(coalesce(u.c, 0) AS BIGINT) AS degree
         |FROM wnodes n
         |LEFT JOIN (SELECT src, count(*) AS c FROM wedges GROUP BY src) o ON o.src = n.id
         |LEFT JOIN (SELECT dst, count(*) AS c FROM wedges GROUP BY dst) i ON i.dst = n.id
         |LEFT JOIN (SELECT a, count(*) AS c FROM wund GROUP BY a) u ON u.a = n.id""".stripMargin,
    // materialize(): dense vids in view vid order, names preserved
    "g_materialize" ->
      s"""WITH $sqlGraph,
         |bounds AS (SELECT min(ts) AS lo, max(ts) + 1 AS hi FROM ev),
         |win AS (SELECT lo + (hi - lo) // 4 AS t1, lo + (hi - lo) // 2 AS t2 FROM bounds),
         |wev AS (SELECT e.* FROM ev e, win WHERE e.ts >= win.t1 AND e.ts < win.t2),
         |wnodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM wev
         |           UNION ALL SELECT dst FROM wev) t0)
         |SELECT row_number() OVER (ORDER BY id) - 1 AS vid,
         |       CAST(id AS VARCHAR) AS name FROM wnodes""".stripMargin,
    // layer view: full node set, events/edges filtered to layers l0, l2
    "g_layer_view" ->
      s"""WITH $sqlGraph,
         |kept AS (SELECT * FROM ev WHERE ts % 3 IN (0, 2))
         |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
         |       (SELECT count(*) FROM (SELECT DISTINCT src, dst FROM kept) t) AS n_edges,
         |       (SELECT count(*) FROM kept) AS n_events""".stripMargin,
    // rolling temporal rich club: club = degree >= 8; per rolling view the
    // club-internal canonical undirected edges; stable = present in all 3
    // consecutive views; value = max over windows of |stable| / C(|club|,2)
    "g_rich_club" ->
      s"""WITH $sqlGraph,
         |bounds AS (SELECT min(ts) AS lo, max(ts) + 1 AS hi FROM ev),
         |par AS (SELECT lo, hi, (hi - lo) // 4 AS w, (hi - lo) // 8 AS st FROM bounds),
         |deg AS (SELECT a AS id, count(*) AS c FROM und GROUP BY a),
         |club AS (SELECT id FROM deg WHERE c >= 8),
         |starts AS (SELECT unnest(generate_series((SELECT lo FROM par),
         |           (SELECT hi FROM par), (SELECT st FROM par))) AS s),
         |vidx AS (SELECT s, row_number() OVER (ORDER BY s) - 1 AS i FROM starts),
         |ve AS (SELECT DISTINCT v.i, least(e.src, e.dst) AS a, greatest(e.src, e.dst) AS b
         |       FROM vidx v JOIN ev e ON e.ts >= v.s AND e.ts < v.s + (SELECT w FROM par)
         |       WHERE e.src <> e.dst AND e.src IN (SELECT id FROM club)
         |         AND e.dst IN (SELECT id FROM club)),
         |wins AS (SELECT i AS j FROM vidx WHERE i + 2 <= (SELECT max(i) FROM vidx)),
         |stable AS (SELECT w.j, ve.a, ve.b FROM wins w
         |           JOIN ve ON ve.i BETWEEN w.j AND w.j + 2
         |           GROUP BY 1, 2, 3 HAVING count(DISTINCT ve.i) = 3),
         |cnt AS (SELECT j, count(*) AS n FROM stable GROUP BY j),
         |poss AS (SELECT count(*) * (count(*) - 1) / 2 AS p FROM club)
         |SELECT round(CASE WHEN (SELECT count(*) FROM club) <= 1
         |                    OR (SELECT count(*) FROM wins) = 0 THEN 0.0
         |  ELSE CAST(coalesce((SELECT max(n) FROM cnt), 0) AS DOUBLE) / (SELECT p FROM poss)
         |  END, 6) AS value""".stripMargin,
    // exact-LPA partition consistency over the aux dump: every node's
    // label must be the argmax neighbour label with (count, numeric GID)
    // tie-break — Lpa.runExact's converged update rule — plus the global
    // partition counts. Labels themselves are ChaCha12-shuffle-order
    // dependent (fixture-locked in LpaSpec), not SQL-recomputable.
    "g_lpa_exact" ->
      s"""WITH $sqlGraph,
         |part AS (SELECT id, label
         |         FROM read_parquet('${Verify.AuxDir}/lpa_partition.parquet/*.parquet')),
         |cnt AS (SELECT u.a AS id, p.label, count(*) AS c
         |        FROM und u JOIN part p ON p.id = u.b GROUP BY 1, 2),
         |best AS (SELECT id, label FROM (
         |  SELECT id, label, row_number() OVER (PARTITION BY id
         |    ORDER BY c DESC, CAST(label AS BIGINT) DESC) AS rn FROM cnt)
         |  WHERE rn = 1),
         |unst AS (SELECT count(*) AS n FROM part p JOIN best b ON b.id = p.id
         |         WHERE p.label <> b.label)
         |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
         |       (SELECT count(*) FROM part) AS n_labeled,
         |       (SELECT count(DISTINCT label) FROM part) AS n_communities,
         |       (SELECT n FROM unst) AS n_unstable""".stripMargin,
    "g_temporal_motifs" -> motifCensusSql(32L, local = false),
    "g_local_motifs" -> motifCensusSql(32L, local = true),
    // Brandes betweenness (first 50 sources, normalised) in recursive SQL:
    // sigma via min-length walk counts (a minimal-length walk IS a
    // shortest path), dependencies via fixpoint back-propagation over the
    // shortest-path DAG, iterated max-dist rounds (each level's delta is
    // final once every deeper level has settled).
    "g_betweenness_k50" ->
      s"""WITH RECURSIVE $sqlGraph,
         |srcs AS (SELECT id AS s FROM nodes ORDER BY id LIMIT 50),
         |walks(s, v, d, c) AS (
         |  SELECT s, s, 0, CAST(1 AS DOUBLE) FROM srcs
         |  UNION ALL
         |  SELECT w.s, e.dst, w.d + 1, sum(w.c)
         |  FROM walks w JOIN edges e ON e.src = w.v
         |  WHERE w.d < 40
         |  GROUP BY 1, 2, 3
         |),
         |sp AS (
         |  SELECT s, v, min(d) AS dist, arg_min(c, d) AS sigma
         |  FROM walks GROUP BY s, v
         |),
         |succ AS (
         |  SELECT a.s, a.v, b.v AS w, a.sigma AS sv, b.sigma AS sw
         |  FROM sp a JOIN edges e ON e.src = a.v
         |  JOIN sp b ON b.s = a.s AND b.v = e.dst AND b.dist = a.dist + 1
         |),
         |deltas(k, s, v, delta) AS (
         |  SELECT 0, s, v, CAST(0 AS DOUBLE) FROM sp
         |  UNION ALL
         |  SELECT x.k + 1, x.s, x.v, x.delta FROM (
         |    SELECT d.k, p.s, p.v,
         |           coalesce(sum(su.sv / su.sw * (1 + coalesce(dw.delta, 0))), 0) AS delta
         |    FROM (SELECT * FROM deltas) d
         |    JOIN sp p ON p.s = d.s AND p.v = d.v
         |    LEFT JOIN succ su ON su.s = p.s AND su.v = p.v
         |    LEFT JOIN (SELECT * FROM deltas) dw ON dw.s = su.s AND dw.v = su.w
         |    WHERE d.k < (SELECT max(dist) FROM sp)
         |    GROUP BY 1, 2, 3
         |  ) x
         |)
         |SELECT n.id, round(coalesce(bt.b, 0) / ((cnt.n - 1.0) * (cnt.n - 2.0)), 6) AS value
         |FROM nodes n
         |CROSS JOIN (SELECT count(*) AS n FROM nodes) cnt
         |LEFT JOIN (
         |  SELECT v AS id, sum(delta) AS b
         |  FROM deltas JOIN (SELECT max(k) AS mk FROM deltas) m ON deltas.k = m.mk
         |  WHERE v <> s GROUP BY v
         |) bt ON bt.id = n.id""".stripMargin,
    // HITS: 20 normalized power iterations via a tagged transfer matrix —
    // kind 'h' scatters hub(u) to recv_hub(v) along u→v, kind 'a' scatters
    // auth(v) to recv_auth(u) against it; zero self-rows keep every node in
    // every iteration (mirrors algo/Hits semantics, hits.rs:51-160).
    "g_hits" ->
      s"""WITH RECURSIVE $sqlGraph,
         |transfer AS (
         |  SELECT src AS u, dst AS v, 'h' AS kind, 1.0 AS w FROM edges
         |  UNION ALL SELECT dst, src, 'a', 1.0 FROM edges
         |  UNION ALL SELECT id, id, 'h', 0.0 FROM nodes
         |  UNION ALL SELECT id, id, 'a', 0.0 FROM nodes
         |),
         |hits(iter, id, hub, auth) AS (
         |  SELECT 0, id, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM nodes
         |  UNION ALL
         |  SELECT iter, id,
         |    CASE WHEN sum(ra) OVER () = 0 THEN 0 ELSE ra / sum(ra) OVER () END,
         |    CASE WHEN sum(rh) OVER () = 0 THEN 0 ELSE rh / sum(rh) OVER () END
         |  FROM (
         |    SELECT p.iter + 1 AS iter, t.v AS id,
         |      sum(CASE WHEN t.kind = 'a' THEN p.auth * t.w ELSE 0 END) AS ra,
         |      sum(CASE WHEN t.kind = 'h' THEN p.hub * t.w ELSE 0 END) AS rh
         |    FROM hits p JOIN transfer t ON t.u = p.id
         |    WHERE p.iter < 20
         |    GROUP BY 1, 2
         |  ) s
         |)
         |SELECT id, round(hub, 6) AS hub, round(auth, 6) AS auth
         |FROM hits WHERE iter = 20""".stripMargin,
    // k-core peel with a fixed round budget: rem(r) = nodes whose degree
    // among rem(r-1) survivors is >= k; once stable the set re-emits
    // unchanged, so rem(cap) is the fixpoint provided cap >= #peel rounds
    // (validated locally; cap 100 on a 1009-node graph).
    "g_kcore3" ->
      s"""WITH RECURSIVE $sqlGraph,
         |rem(r, id) AS (
         |  SELECT 0, id FROM nodes
         |  UNION ALL
         |  SELECT x.r + 1, x.a FROM (
         |    SELECT p.r, u.a, count(*) AS d
         |    FROM rem p JOIN und u ON u.b = p.id
         |    WHERE p.r < 100
         |    GROUP BY p.r, u.a
         |  ) x
         |  JOIN (SELECT r, id FROM rem) q ON q.r = x.r AND q.id = x.a
         |  WHERE x.d >= 3
         |)
         |SELECT id FROM rem WHERE r = 100""".stripMargin,
    // Synchronous red/black LPA, 8 sweeps = 16 colour phases; phase ph
    // updates nodes with id % 2 = (ph-1) % 2 to the majority neighbour
    // label, ties to the largest numeric GID (mirrors Lpa.runSync).
    "g_lpa_sync" ->
      s"""WITH RECURSIVE $sqlGraph,
         |lpa(ph, id, label) AS (
         |  SELECT 0, id, CAST(id AS VARCHAR) FROM nodes
         |  UNION ALL
         |  SELECT s.ph, s.id,
         |    CASE WHEN s.id % 2 = (s.ph - 1) % 2 AND s.cand IS NOT NULL
         |         THEN s.cand ELSE s.label END
         |  FROM (
         |    SELECT cur.ph + 1 AS ph, cur.id, cur.label, cnd.cand
         |    FROM lpa cur
         |    LEFT JOIN (
         |      SELECT id, label AS cand FROM (
         |        SELECT u.b AS id, p.label, count(*) AS c
         |        FROM lpa p JOIN und u ON u.a = p.id
         |        GROUP BY u.b, p.label
         |      ) g
         |      QUALIFY row_number() OVER (PARTITION BY id
         |        ORDER BY c DESC, CAST(label AS BIGINT) DESC, label DESC) = 1
         |    ) cnd ON cnd.id = cur.id
         |    WHERE cur.ph < 16
         |  ) s
         |)
         |SELECT id, label FROM lpa WHERE ph = 16""".stripMargin,
    // Temporal bipartite projection: ordered event pairs at even-vid pivots
    // within delta=50, counted per projected (src, dst).
    // NOTE the src <> dst guards: the operator DROPS self-loop events
    // (BipartiteProjection Scaladoc — a true bipartite graph cannot have
    // them; kept, each would enter visits twice and pair with every other
    // event at its pivot). The orders graph DOES contain self-loop events
    // (61 at sf0.1), and one lands on an even pivot with a partner event
    // inside delta only at sf0.1 — an unguarded oracle passes sf0.01 and
    // diverges there.
    "g_bipartite_projection" ->
      s"""WITH $sqlGraph,
         |visits AS (
         |  SELECT dst AS pvt, src AS nbr, ts, seq FROM ev WHERE src <> dst
         |  UNION ALL
         |  SELECT src AS pvt, dst AS nbr, ts, seq FROM ev WHERE src <> dst
         |),
         |pv AS (SELECT * FROM visits WHERE pvt % 2 = 0)
         |SELECT a.nbr AS src, b.nbr AS dst, CAST(count(*) AS BIGINT) AS n_events
         |FROM pv a JOIN pv b ON a.pvt = b.pvt
         |  AND (a.ts < b.ts OR (a.ts = b.ts AND a.seq < b.seq))
         |  AND b.ts - a.ts <= 50
         |GROUP BY 1, 2""".stripMargin,
    // SI epidemic with per-event md5 coins over the aux-dumped crawl: the
    // infection time is the min-fixpoint t(v) = min te of a coin-true event
    // (u,v,te) with te >= t(u)+1 (incubation 1, no recovery) — exactly what
    // Seir.run(rngMode="hash") computes via its event queue.
    "crawl_seir" ->
      s"""WITH RECURSIVE ${Queries.crawlSqlGraph},
         |coins AS (
         |  SELECT src, dst, ts, seq FROM cedges
         |  WHERE CAST(('0x' || substr(md5(src || ':' || dst || ':' || ts || ':' || seq || ':seir'), 1, 8)) AS BIGINT)
         |          / 4294967296.0 < 0.8
         |),
         |sd AS (SELECT vid FROM cnodes WHERE name = 'https://site0001.example/p/1'),
         |inf(v, t) AS (
         |  SELECT vid, CAST(${graft.io.Corpus.BaseMillis} AS BIGINT) FROM sd
         |  UNION
         |  SELECT c.dst, c.ts FROM inf i JOIN coins c ON c.src = i.v AND c.ts >= i.t + 1
         |)
         |SELECT n.vid, n.name, CAST(min(i.t) AS BIGINT) AS infected,
         |  CAST(min(i.t) + 1 AS BIGINT) AS active,
         |  CAST(9223372036854775807 AS BIGINT) AS recovered
         |FROM inf i JOIN cnodes n ON n.vid = i.v
         |GROUP BY n.vid, n.name""".stripMargin,
    // WCC component sizes of the aux-dumped tiny crawl (component = min vid).
    "crawl_wcc_sizes" ->
      s"""WITH RECURSIVE ${Queries.crawlSqlGraph},
         |reach(id, c) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT u.b, r.c FROM reach r JOIN und u ON u.a = r.id
         |),
         |comp AS (SELECT id, min(c) AS component FROM reach GROUP BY id)
         |SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM comp GROUP BY component""".stripMargin,
    // Media metadata over the aux-dumped table: synthetic rows (< 1000)
    // recompute the stub codec's md5(uppercase-hex(payload)) formula
    // (media/Media.StubCodec.md5Meta); crafted rows (>= 1000) carry REAL
    // PNG/JPEG/GIF/WAV headers whose expected metadata ride as literals —
    // equality proves the Spark side's HeaderCodec parsed the real bytes.
    "m_media_features" ->
      s"""WITH m AS (SELECT media_id, kind, payload
         |           FROM read_parquet('${Verify.AuxDir}/media.parquet/*.parquet')
         |           WHERE media_id < 1000),
         |h AS (SELECT media_id, kind, octet_length(payload) AS n_bytes,
         |        CAST(('0x' || substr(md5(hex(payload)), 1, 15)) AS BIGINT) AS h
         |      FROM m)
         |SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
         |  CAST(CASE kind WHEN 'image' THEN 64 + (h & 1023)
         |                 WHEN 'audio' THEN 0
         |                 ELSE 320 + (h & 1023) END AS BIGINT) AS width,
         |  CAST(CASE kind WHEN 'image' THEN 64 + ((h >> 10) & 1023)
         |                 WHEN 'audio' THEN 0
         |                 ELSE 240 + ((h >> 10) & 1023) END AS BIGINT) AS height,
         |  CAST(CASE kind WHEN 'audio' THEN 8000 + ((h >> 20) & 32767)
         |                 ELSE 0 END AS BIGINT) AS sample_rate,
         |  CAST(CASE kind WHEN 'image' THEN 1
         |                 WHEN 'audio' THEN 1 + ((h >> 36) & 255)
         |                 ELSE 1 + ((h >> 20) & 1023) END AS BIGINT) AS n_frames
         |FROM h
         |UNION ALL
         |SELECT CAST(v.media_id AS BIGINT), v.kind, CAST(v.n_bytes AS BIGINT),
         |  CAST(v.width AS BIGINT), CAST(v.height AS BIGINT),
         |  CAST(v.sample_rate AS BIGINT), CAST(v.n_frames AS BIGINT)
         |FROM (VALUES (1000, 'image', 24, 640, 480, 0, 1),
         |             (1001, 'image', 18, 512, 256, 0, 1),
         |             (1002, 'image', 10, 320, 200, 0, 1),
         |             (1003, 'audio', 52, 0, 0, 44100, 2))
         |  v(media_id, kind, n_bytes, width, height, sample_rate, n_frames)""".stripMargin,
    // Tumbling 30 s activity windows over the aux-dumped crawl events
    // (window width = step, epoch-aligned like Spark's window()).
    // streaming near-dup replay: kept-per-bucket = first 16 ids by
    // (batch parity, id) — the even batch's ascending replay fills the
    // cap first; pairs among kept with >= 0.7 signature agreement
    "s_neardup_stream" ->
      s"""WITH $minhashShSql,
         |${minhashSigSql(16)},
         |bnd AS (
         |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
         |    md5(string_agg(seed || ':' || minhash, ',' ORDER BY seed || ':' || minhash)) AS bucket
         |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)
         |),
         |rk AS (SELECT band, bucket, doc_id,
         |         row_number() OVER (PARTITION BY band, bucket
         |                            ORDER BY doc_id % 2, doc_id) AS rn
         |       FROM bnd),
         |kept AS (SELECT band, bucket, doc_id FROM rk WHERE rn <= 16),
         |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         |         FROM kept l JOIN kept r ON l.band = r.band AND l.bucket = r.bucket
         |         WHERE l.doc_id < r.doc_id),
         |ag AS (SELECT c.a, c.b,
         |         CAST(count(*) FILTER (WHERE s1.minhash = s2.minhash) AS DOUBLE) / 16 AS agree
         |       FROM cand c
         |       JOIN sig s1 ON s1.doc_id = c.a
         |       JOIN sig s2 ON s2.doc_id = c.b AND s2.seed = s1.seed
         |       GROUP BY c.a, c.b)
         |SELECT a, b, round(agree, 6) AS sig_agreement
         |FROM ag WHERE agree >= 0.7""".stripMargin,
    // first-seen-batch replay: the even-id batch arrives first, so a hash
    // with any even-id doc keeps its even minimum; otherwise the odd min
    "s_dedup_stream" ->
      s"""WITH docs AS (SELECT CAST(doc_id AS BIGINT) AS id, md5(text) AS h
         |              FROM documents WHERE text IS NOT NULL)
         |SELECT h AS content_hash,
         |  CASE WHEN count(*) FILTER (WHERE id % 2 = 0) > 0
         |       THEN min(id) FILTER (WHERE id % 2 = 0)
         |       ELSE min(id) END AS doc_id
         |FROM docs GROUP BY h""".stripMargin,
    "s_rolling_activity" ->
      s"""WITH ${Queries.crawlSqlGraph}
         |SELECT CAST(ts // 30000 * 30000 AS BIGINT) AS window_start,
         |  CAST(ts // 30000 * 30000 + 30000 AS BIGINT) AS window_end,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT src) AS BIGINT) AS n_active_src
         |FROM cedges GROUP BY 1, 2""".stripMargin,

    // Hyperplane-LSH ANN: md5-derived plane weights, per-vector 8-bit sign
    // bucket via sequential list dot products (index order = Spark's
    // codegen DotProduct), query side probes the bucket + its 8 Hamming-1
    // neighbours, exact cosine rank within candidates (mirrors sim.Ann).
    "e_ann_lsh" ->
      """WITH pw AS (
        |  SELECT p, d,
        |    CAST(('0x' || substr(md5('plane:' || p || ':' || d), 1, 8)) AS BIGINT)
        |      / 2147483648.0 - 1.0 AS w
        |  FROM generate_series(0, 7) tp(p), generate_series(0, 63) td(d)
        |),
        |pl AS (SELECT p, list(w ORDER BY d) AS pv FROM pw GROUP BY p),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |bk AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN list_dot_product(v, pv) >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
        |  FROM v, pl GROUP BY vec_id
        |),
        |probes AS (
        |  SELECT t.query_id, t.qv,
        |    CASE WHEN gj.j = -1 THEN t.bucket ELSE xor(t.bucket, CAST(1 AS BIGINT) << gj.j) END AS bucket
        |  FROM (SELECT b.vec_id AS query_id, v.v AS qv, b.bucket
        |        FROM bk b JOIN v ON v.vec_id = b.vec_id WHERE b.vec_id < 10) t,
        |       generate_series(-1, 7) gj(j)
        |),
        |c AS (SELECT b.vec_id AS neighbor_id, v.v AS cv, b.bucket
        |      FROM bk b JOIN v ON v.vec_id = b.vec_id),
        |sims AS (
        |  SELECT DISTINCT p.query_id, c.neighbor_id,
        |    round(list_dot_product(p.qv, c.cv) /
        |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 4) AS sim
        |  FROM probes p JOIN c ON c.bucket = p.bucket
        |  WHERE p.query_id <> c.neighbor_id
        |),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM sims)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM r WHERE rank <= 5""".stripMargin,
    // IVF ANN over the dumped centroid matrix: nearest-cell assignment
    // (score = dot/|c|, ties → lowest cid), queries probe their 3 nearest
    // cells, exact cosine rank within cell members. Cells are disjoint so
    // no DISTINCT is needed (unlike the LSH probe union).
    "e_ann_ivf" ->
      s"""WITH cent AS (SELECT cid, c
         |  FROM read_parquet('${Verify.AuxDir}/ivf_centroids.parquet/*.parquet')),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT v.vec_id, cent.cid,
         |         list_dot_product(v.v, cent.c) / sqrt(list_dot_product(cent.c, cent.c)) AS score
         |       FROM v, cent),
         |rk AS (SELECT vec_id, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
         |       FROM sc),
         |asg AS (SELECT vec_id, cid AS list_id FROM rk WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, cid AS list_id
         |           FROM rk WHERE rn <= 3 AND vec_id < 10),
         |sims AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |           round(list_dot_product(q.v, c.v) /
         |             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
         |         FROM probes p
         |         JOIN v q ON q.vec_id = p.query_id
         |         JOIN asg a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
         |         JOIN v c ON c.vec_id = a.vec_id),
         |r AS (SELECT query_id, neighbor_id, sim,
         |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |      FROM sims)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim
         |FROM r WHERE rank <= 5""".stripMargin,
    // IVF-cell near-dup: same assignment CTEs as e_ann_ivf, then
    // within-cell pairs under the <=50 cell cap, cosine >= 0.3 (filter on
    // the unrounded value like the Spark side; 0.3 sits >=5.9e-7 from
    // every pair at sf<=0.1 — see d_embed_neardup)
    "d_ivf_neardup" ->
      s"""WITH cent AS (SELECT cid, c
         |  FROM read_parquet('${Verify.AuxDir}/ivf_centroids.parquet/*.parquet')),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT v.vec_id, cent.cid,
         |         list_dot_product(v.v, cent.c) / sqrt(list_dot_product(cent.c, cent.c)) AS score
         |       FROM v, cent),
         |rk AS (SELECT vec_id, cid,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
         |       FROM sc),
         |asg AS (SELECT vec_id, cid AS list_id FROM rk WHERE rn = 1),
         |sz AS (SELECT list_id, count(*) AS n FROM asg GROUP BY 1),
         |kept AS (SELECT a.vec_id, a.list_id FROM asg a
         |         JOIN sz ON sz.list_id = a.list_id AND sz.n <= 50),
         |p AS (SELECT l.vec_id AS a, r.vec_id AS b FROM kept l
         |      JOIN kept r ON r.list_id = l.list_id AND l.vec_id < r.vec_id),
         |cs AS (SELECT p.a, p.b,
         |         list_dot_product(x.v, y.v) /
         |           (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) AS c
         |       FROM p JOIN v x ON x.vec_id = p.a JOIN v y ON y.vec_id = p.b)
         |SELECT a, b, round(c, 6) AS cosine FROM cs WHERE c >= 0.3""".stripMargin,
    "t_minhash" ->
      s"""WITH $minhashShSql,
         |${minhashSigSql(16)}
         |SELECT doc_id, seed, minhash FROM sig""".stripMargin,
    "d_lsh_candidates" -> lshCandSql(withJaccard = false),
    "d_lsh_capped" -> lshCandSql(withJaccard = false, maxBucketSize = 3L),
    "d_minhash_jaccard" -> lshCandSql(withJaccard = true),
    "d_dup_clusters" -> dupClustersSql,
    // composed curation pipeline: the t_quality / t_lang_guess /
    // t_fingerprint / t_token_count oracle formulas chained, survivor =
    // arg-min by doc id per fingerprint group
    "d_pipeline" ->
      """WITH docs2 AS (SELECT doc_id, text FROM documents
        |            UNION ALL SELECT doc_id + 1000000, ' ' || text FROM documents),
        |s AS (SELECT doc_id, text,
        |            ' ' || replace(lower(text), ' ', '  ') || ' ' AS s FROM docs2),
        |h AS (SELECT doc_id, text,
        |  CAST((length(s) - length(replace(s, ' the ', ''))) / 5
        |     + (length(s) - length(replace(s, ' and ', ''))) / 5
        |     + (length(s) - length(replace(s, ' of ', ''))) / 4 AS BIGINT) AS en_hits,
        |  CAST((length(s) - length(replace(s, ' der ', ''))) / 5
        |     + (length(s) - length(replace(s, ' und ', ''))) / 5
        |     + (length(s) - length(replace(s, ' die ', ''))) / 5 AS BIGINT) AS de_hits,
        |  CAST((length(s) - length(replace(s, ' le ', ''))) / 4
        |     + (length(s) - length(replace(s, ' la ', ''))) / 4
        |     + (length(s) - length(replace(s, ' et ', ''))) / 4 AS BIGINT) AS fr_hits
        |FROM s),
        |q AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1), 6) AS digit_ratio,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
        |       WHEN de_hits >= fr_hits THEN 'de' ELSE 'fr' END AS lang_guess
        |FROM h),
        |f AS (SELECT doc_id, n_chars,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  CAST(length(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM q WHERE n_chars >= 150 AND digit_ratio <= 0.3 AND lang_guess = 'en')
        |SELECT min(doc_id) AS doc_id, fp, CAST(count(*) AS BIGINT) AS n_dups,
        |  arg_min(n_chars, doc_id) AS n_chars, arg_min(n_tokens, doc_id) AS n_tokens
        |FROM f GROUP BY fp""".stripMargin,
    "d_simhash" -> simhashSql,
    // cross-product cosine pairs; filter on the UNROUNDED cosine like the
    // Spark side, round only for output
    "d_embed_neardup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT l.vec_id AS a, r.vec_id AS b,
        |        list_dot_product(l.v, r.v) /
        |          (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))) AS c
        |      FROM v l JOIN v r ON l.vec_id < r.vec_id)
        |SELECT a, b, round(c, 6) AS cosine FROM p WHERE c >= 0.3""".stripMargin,
    // TF-IDF search: same whitespace tokenizer, score = sum tf*ln((N+1)/(df+1))
    "t_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents
        |),
        |idx AS (SELECT term, doc_id, count(*) AS tf FROM toks
        |        WHERE length(term) > 0 GROUP BY 1, 2),
        |n AS (SELECT count(*) AS n FROM documents),
        |idf AS (SELECT term, ln(((SELECT n FROM n) + 1.0) / (count(*) + 1.0)) AS idf
        |        FROM idx WHERE term IN ('spark', 'shuffle', 'query') GROUP BY term)
        |SELECT i.doc_id, round(sum(i.tf * f.idf), 6) AS score,
        |       CAST(count(*) AS BIGINT) AS n_terms_hit
        |FROM idx i JOIN idf f ON f.term = i.term
        |GROUP BY i.doc_id
        |ORDER BY score DESC, i.doc_id
        |LIMIT 20""".stripMargin,
    // fuzzy search oracles: DuckDB computes the UNFILTERED levenshtein scan
    // — equality with the prefiltered Spark plan proves losslessness
    "t_fuzzy_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents
        |),
        |idx AS (SELECT term, doc_id FROM toks WHERE length(term) > 0 GROUP BY 1, 2),
        |tdf AS (SELECT term, count(*) AS df FROM idx GROUP BY 1)
        |SELECT term, CAST(levenshtein(term, 'park') AS BIGINT) AS dist,
        |       CAST(df AS BIGINT) AS df
        |FROM tdf WHERE levenshtein(term, 'park') <= 2""".stripMargin,
    "crawl_fuzzy_url" ->
      s"""WITH ${Queries.crawlSqlGraph}
         |SELECT vid AS id, name,
         |  CAST(levenshtein(name, 'https://site0001.example/q/1') AS BIGINT) AS dist
         |FROM cnodes
         |WHERE levenshtein(name, 'https://site0001.example/q/1') <= 2""".stripMargin,
    "d_norm_dup" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
        |FROM documents GROUP BY 1""".stripMargin,
    "s_rolling_counts" ->
      """SELECT CAST(epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // induced subgraph on even vids: same degree SQL family as
    // g_window_degrees over the endpoint-filtered edge set; the node set
    // keeps even-vid nodes whose induced degree is zero
    "g_subgraph" ->
      s"""WITH $sqlGraph,
         |keep AS (SELECT id FROM nodes WHERE id % 2 = 0),
         |sedges AS (SELECT src, dst FROM edges WHERE src % 2 = 0 AND dst % 2 = 0),
         |sund AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM sedges
         |         UNION ALL SELECT dst AS a, src AS b FROM sedges) t1)
         |SELECT k.id,
         |  CAST(coalesce(o.c, 0) AS BIGINT) AS out_degree,
         |  CAST(coalesce(i.c, 0) AS BIGINT) AS in_degree,
         |  CAST(coalesce(u.c, 0) AS BIGINT) AS degree
         |FROM keep k
         |LEFT JOIN (SELECT src, count(*) AS c FROM sedges GROUP BY src) o ON o.src = k.id
         |LEFT JOIN (SELECT dst, count(*) AS c FROM sedges GROUP BY dst) i ON i.dst = k.id
         |LEFT JOIN (SELECT a, count(*) AS c FROM sund GROUP BY a) u ON u.a = k.id""".stripMargin,
    // node-type subgraph: type(id) = '_default' when id % 5 = 0 else
    // 't' || (id % 3); kept = {t1, _default} ⇔ id % 5 = 0 OR id % 3 = 1
    "g_node_types" ->
      s"""WITH $sqlGraph,
         |keep AS (SELECT id FROM nodes WHERE id % 5 = 0 OR (id % 5 <> 0 AND id % 3 = 1)),
         |kev AS (SELECT e.* FROM ev e JOIN keep a ON e.src = a.id
         |        JOIN keep b ON e.dst = b.id)
         |SELECT (SELECT count(*) FROM keep) AS n_nodes,
         |       (SELECT count(*) FROM (SELECT DISTINCT src, dst FROM kev) t) AS n_edges,
         |       (SELECT count(*) FROM kev) AS n_events""".stripMargin,
    // node activity: incident events per node (self-loop incident once),
    // min/max event ts
    "g_node_activity" ->
      s"""WITH $sqlGraph,
         |act AS (SELECT src AS id, ts FROM ev
         |        UNION ALL SELECT dst AS id, ts FROM ev WHERE dst <> src)
         |SELECT id, count(*) AS n_events, min(ts) AS earliest, max(ts) AS latest
         |FROM act GROUP BY id""".stripMargin
  )

  /** The delta-temporal 3-node motif census in portable SQL: a bounded
    * 3-way self-join over time-ordered events classifies every in-window
    * event triple.
    *
    *  - star/two-node blocks: triples sharing a centre, classified by which
    *    two events share a neighbour (pre/mid/post), indexed by the natural
    *    time-order direction triple; all-same-neighbour triples are the
    *    two-node block and are subtracted from each star class;
    *  - triangle blocks: triples spanning exactly 3 nodes on 3 distinct
    *    pairs; the 8-slot classification is the counter algebra's closed
    *    form, enumerated from motifs.Counters.TriangleCounter over all
    *    (base-position, direction) combinations:
    *      base first:  slot = 4·db + 2·dp + (1−dq)
    *      base middle: slot = 4·dp + 2·db + dq
    *      base last:   slot = 4·(1−dp) + 2·(1−dq) + (1−db)
    *    where base = the (u,v) event (db = src==u), p = the (u,w) event,
    *    q = the (v,w) event (dp/dq = dst==w).
    *
    * `local = false` sums the census globally from the u=mid, v=lo, w=hi
    * perspective; `local = true` emits per-node rows — stars per centre,
    * each triangle counted once per member m from the (u=m, v=min others,
    * w=max others) perspective — matching TemporalMotifs.localCounts. */
  private def motifCensusSql(delta: Long, local: Boolean): String = {
    val starKey = "c, m"
    val triKey = "member, m2_"
    val base =
      s"""WITH $sqlGraph,
         |ns AS (SELECT src, dst, ts, seq FROM ev WHERE src <> dst),
         |inc AS (SELECT src AS c, dst AS nb, 1 AS dir, ts, seq FROM ns
         |        UNION ALL SELECT dst, src, 0, ts, seq FROM ns),
         |st AS (
         |  SELECT a.c, 4*a.dir + 2*b.dir + g.dir AS m,
         |         a.nb = b.nb AS pre_eq, a.nb = g.nb AS mid_eq, b.nb = g.nb AS post_eq
         |  FROM inc a
         |  JOIN inc b ON b.c = a.c AND (a.ts < b.ts OR (a.ts = b.ts AND a.seq < b.seq))
         |            AND b.ts - a.ts <= $delta
         |  JOIN inc g ON g.c = a.c AND (b.ts < g.ts OR (b.ts = g.ts AND b.seq < g.seq))
         |            AND g.ts - a.ts <= $delta
         |),
         |star AS (
         |  SELECT c, m,
         |    count(*) FILTER (pre_eq) AS pre_raw,
         |    count(*) FILTER (mid_eq) AS mid_raw,
         |    count(*) FILTER (post_eq) AS post_raw,
         |    count(*) FILTER (pre_eq AND mid_eq AND post_eq) AS all_same
         |  FROM st GROUP BY $starKey
         |),
         |tri0 AS (
         |  SELECT e1.src s1, e1.dst d1, e2.src s2, e2.dst d2, e3.src s3, e3.dst d3
         |  FROM ns e1
         |  JOIN ns e2 ON (e1.ts < e2.ts OR (e1.ts = e2.ts AND e1.seq < e2.seq)) AND e2.ts - e1.ts <= $delta
         |  JOIN ns e3 ON (e2.ts < e3.ts OR (e2.ts = e3.ts AND e2.seq < e3.seq)) AND e3.ts - e1.ts <= $delta
         |  WHERE len(list_distinct([e1.src, e1.dst, e2.src, e2.dst, e3.src, e3.dst])) = 3
         |    AND (least(e1.src,e1.dst) <> least(e2.src,e2.dst) OR greatest(e1.src,e1.dst) <> greatest(e2.src,e2.dst))
         |    AND (least(e1.src,e1.dst) <> least(e3.src,e3.dst) OR greatest(e1.src,e1.dst) <> greatest(e3.src,e3.dst))
         |    AND (least(e2.src,e2.dst) <> least(e3.src,e3.dst) OR greatest(e2.src,e2.dst) <> greatest(e3.src,e3.dst))
         |),
         |tri1 AS (
         |  SELECT s1,d1,s2,d2,s3,d3,
         |    least(s1,d1,s2,d2,s3,d3) AS lo,
         |    greatest(s1,d1,s2,d2,s3,d3) AS hi,
         |    list_sort(list_distinct([s1,d1,s2,d2,s3,d3]))[2] AS mid
         |  FROM tri0
         |),""".stripMargin
    val perspective =
      if (local)
        """trip AS (
          |  SELECT t.*,
          |    CASE r.r WHEN 0 THEN lo WHEN 1 THEN mid ELSE hi END AS u,
          |    CASE r.r WHEN 0 THEN mid WHEN 1 THEN lo ELSE lo END AS v,
          |    CASE r.r WHEN 0 THEN hi WHEN 1 THEN hi ELSE mid END AS w
          |  FROM tri1 t, (SELECT unnest(generate_series(0, 2)) AS r) r
          |),""".stripMargin
      else
        """trip AS (SELECT *, mid AS u, lo AS v, hi AS w FROM tri1),""".stripMargin
    val classify =
      s"""tri2 AS (
         |  SELECT u AS member,
         |    CASE WHEN least(s1,d1)=least(u,v) AND greatest(s1,d1)=greatest(u,v) THEN 0
         |         WHEN least(s2,d2)=least(u,v) AND greatest(s2,d2)=greatest(u,v) THEN 1
         |         ELSE 2 END AS slot_b,
         |    CASE WHEN least(s1,d1)=least(u,v) AND greatest(s1,d1)=greatest(u,v) THEN CAST(s1=u AS INT)
         |         WHEN least(s2,d2)=least(u,v) AND greatest(s2,d2)=greatest(u,v) THEN CAST(s2=u AS INT)
         |         ELSE CAST(s3=u AS INT) END AS db,
         |    CASE WHEN least(s1,d1)=least(u,w) AND greatest(s1,d1)=greatest(u,w) THEN CAST(d1=w AS INT)
         |         WHEN least(s2,d2)=least(u,w) AND greatest(s2,d2)=greatest(u,w) THEN CAST(d2=w AS INT)
         |         ELSE CAST(d3=w AS INT) END AS dp,
         |    CASE WHEN least(s1,d1)=least(v,w) AND greatest(s1,d1)=greatest(v,w) THEN CAST(d1=w AS INT)
         |         WHEN least(s2,d2)=least(v,w) AND greatest(s2,d2)=greatest(v,w) THEN CAST(d2=w AS INT)
         |         ELSE CAST(d3=w AS INT) END AS dq
         |  FROM trip
         |),
         |tric AS (
         |  SELECT member, CASE slot_b
         |           WHEN 0 THEN 4*db + 2*dp + (1-dq)
         |           WHEN 1 THEN 4*dp + 2*db + dq
         |           ELSE 4*(1-dp) + 2*(1-dq) + (1-db) END AS m2_,
         |         count(*) AS n
         |  FROM tri2 GROUP BY $triKey
         |),""".stripMargin
    val finalSel =
      if (local)
        """mot AS (
          |  SELECT c AS id, m AS motif, pre_raw - all_same AS n FROM star
          |  UNION ALL SELECT c, m + 8, mid_raw - all_same FROM star
          |  UNION ALL SELECT c, m + 16, post_raw - all_same FROM star
          |  UNION ALL SELECT c, m + 24, all_same FROM star
          |  UNION ALL SELECT member, m2_ + 32, n FROM tric
          |)
          |SELECT grid.id, grid.motif, CAST(coalesce(mot.n, 0) AS BIGINT) AS n
          |FROM (SELECT nodes.id, gs.motif
          |      FROM nodes, (SELECT unnest(generate_series(0, 39)) AS motif) gs) grid
          |LEFT JOIN mot ON mot.id = grid.id AND mot.motif = grid.motif""".stripMargin
      else
        """mot AS (
          |  SELECT m AS motif, sum(pre_raw - all_same) AS n FROM star GROUP BY 1
          |  UNION ALL SELECT m + 8, sum(mid_raw - all_same) FROM star GROUP BY 1
          |  UNION ALL SELECT m + 16, sum(post_raw - all_same) FROM star GROUP BY 1
          |  UNION ALL SELECT m + 24, sum(all_same) FROM star GROUP BY 1
          |  UNION ALL SELECT m2_ + 32, sum(n) FROM tric GROUP BY 1
          |)
          |SELECT gs.motif, CAST(coalesce(mot.n, 0) AS BIGINT) AS n
          |FROM (SELECT unnest(generate_series(0, 39)) AS motif) gs
          |LEFT JOIN mot ON mot.motif = gs.motif""".stripMargin
    base + "\n" + perspective + "\n" + classify + "\n" + finalSel
  }

  /** MinHash → 4-band buckets → candidate pairs (optionally with exact
    * shingle Jaccard) in portable SQL. Band bucket = md5 of the
    * lexicographically sorted "seed:minhash" entries, comma-joined —
    * byte-identical to Dedup.lshBucketsWide. */
  /** Shared shingle CTE (`sh`) for the minhash oracles. */
  private val minhashShSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, substr(text, CAST(g AS INT), 5) AS shingle FROM (
      |    SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 4, 1))) AS g
      |    FROM documents) t_expand
      |)""".stripMargin

  /** Minhash signature CTE (`sig`) mirroring Dedup.minhashWide: ONE md5
    * per shingle, then per-seed affine mixes with the SAME Scala-derived
    * Carter–Wegman constants interpolated as literals (a·h + b stays
    * below 2^63 on both engines — a is odd < 2^31, h < 2^32). */
  private def minhashSigSql(nHashes: Int): String = {
    val consts = (0 until nHashes)
      .map(s => s"($s, ${graft.dedup.Dedup.mixA(s)}, ${graft.dedup.Dedup.mixB(s)})")
      .mkString(", ")
    s"""hs AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h FROM sh
       |),
       |seeds(seed, ma, mb) AS (SELECT CAST(v.s AS BIGINT), v.a, v.b
       |                        FROM (VALUES $consts) v(s, a, b)),
       |sig AS (
       |  SELECT doc_id, seed, min((ma * h + mb) % 4294967296) AS minhash
       |  FROM hs, seeds GROUP BY doc_id, seed
       |)""".stripMargin
  }

  /** CTE list (sh, sig, bnd, cand — no leading WITH) shared by the LSH
    * candidate/jaccard/cluster oracles. */
  private def lshCandCtes(maxBucketSize: Long): String = {
    // with a cap, pair only inside buckets of <= maxBucketSize members
    // (mirrors Dedup.lshCandidates's hot-bucket guard)
    val pairSrc =
      if (maxBucketSize <= 0L) "bnd"
      else
        s"""(SELECT b.* FROM bnd b
           |   JOIN (SELECT band, bucket FROM bnd GROUP BY band, bucket
           |         HAVING count(*) <= $maxBucketSize) z
           |   USING (band, bucket))""".stripMargin
    s"""$minhashShSql,
       |${minhashSigSql(16)},
       |bnd AS (
       |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
       |    md5(string_agg(seed || ':' || minhash, ',' ORDER BY seed || ':' || minhash)) AS bucket
       |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)
       |),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM $pairSrc l JOIN $pairSrc r ON l.band = r.band AND l.bucket = r.bucket
       |  WHERE l.doc_id < r.doc_id
       |)""".stripMargin
  }

  /** Shingle-size + candidate-intersection CTEs feeding the Jaccard formula. */
  private val jaccardCtes: String =
    """szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT c.a, c.b, count(*) AS i FROM cand c
      |  JOIN sh s1 ON s1.doc_id = c.a
      |  JOIN sh s2 ON s2.doc_id = c.b AND s2.shingle = s1.shingle
      |  GROUP BY c.a, c.b
      |)""".stripMargin

  private def lshCandSql(withJaccard: Boolean, maxBucketSize: Long = 0L): String = {
    val base = "WITH " + lshCandCtes(maxBucketSize)
    if (!withJaccard) base + "\nSELECT a, b FROM cand"
    else base + ",\n" + jaccardCtes +
      """
        |SELECT c.a, c.b,
        |  round(coalesce(i.i, 0) / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) AS jaccard
        |FROM cand c
        |LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
        |JOIN szs sa ON sa.doc_id = c.a
        |JOIN szs sb ON sb.doc_id = c.b""".stripMargin
  }

  /** Dup-cluster canonicalization oracle: replay the verified near-dup
    * pairs (Jaccard >= 0.7, same formula as d_minhash_jaccard), then a
    * recursive min-label reach over the undirected pair graph — every doc
    * starts as its own label, labels flow along verified pairs, cluster =
    * min reached label (crawl_wcc_sizes's reach shape); the cluster
    * minimum is the kept canonical copy. */
  private def dupClustersSql: String =
    "WITH RECURSIVE " + lshCandCtes(0L) + ",\n" + jaccardCtes +
      """,
        |ver AS (
        |  SELECT c.a, c.b
        |  FROM cand c
        |  LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
        |  JOIN szs sa ON sa.doc_id = c.a
        |  JOIN szs sb ON sb.doc_id = c.b
        |  WHERE round(coalesce(i.i, 0) / (sa.sz + sb.sz - coalesce(i.i, 0)), 6) >= 0.7
        |),
        |und AS (SELECT a, b FROM ver UNION ALL SELECT b AS a, a AS b FROM ver),
        |reach(id, c) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT u.b, r.c FROM reach r JOIN und u ON u.a = r.id
        |),
        |comp AS (SELECT id, min(c) AS cluster FROM reach GROUP BY id)
        |SELECT CAST(id AS BIGINT) AS doc_id, CAST(cluster AS BIGINT) AS cluster,
        |  CAST(CASE WHEN id = cluster THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM comp""".stripMargin

  /** 32-bit SimHash in portable SQL (generated bit expressions). */
  private def simhashSql: String = {
    val bitSums = (0 until 32).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j").mkString(",\n    ")
    val terms = (0 until 32).map(j =>
      s"CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |  FROM documents
       |),
       |h AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h
       |  FROM toks WHERE length(tok) > 0
       |),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($terms AS BIGINT) AS simhash FROM bits""".stripMargin
  }
}
