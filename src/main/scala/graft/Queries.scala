package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.io.Corpus
import graft.algo.{Metrics, PageRank, Triangles, Wcc}

/** Driver-facing operator queries + DuckDB oracle SQL.
  *
  * Graph operators run on a deterministic link graph derived from the
  * `orders` table (ids mod 1009) so the DuckDB oracle can recompute them in
  * pure SQL; on this raw-id graph the component representative (min VID) is
  * simply the min node id. The reference-exact semantics (dense
  * first-appearance VIDs, fixtures) are covered by `sbt test`.
  *
  * Column names and types (BIGINT/DOUBLE) are aligned between the Spark
  * result and the oracle SQL, floats rounded on both sides, because the
  * driver hash-compares values after sorting columns by name. */
object Queries {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---- the orders-derived graph (identical definition in SQL below) ------

  /** The orders-derived temporal event log: each kept order is one edge
    * event at ts = seq = o_orderkey, so temporal operators (motifs,
    * bipartite projection, windows) see a real, SQL-reproducible timeline.
    * Structural operators read the multi-edge-collapsed `dedupEdges`. */
  private def orderEvents(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "orders")
      .filter(col("o_orderkey") % 7 < 3)
      .select((col("o_orderkey") % 1009).as("src"),
        ((col("o_orderkey") * 31 + col("o_custkey")) % 1009).as("dst"),
        col("o_orderkey").as("ts"), col("o_orderkey").as("seq"),
        col("o_totalprice").as("weight"))

  private val graphCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), LinkGraph]

  private[graft] val crawlGraphCache =
    scala.collection.concurrent.TrieMap.empty[SparkSession, LinkGraph]

  private def graph(spark: SparkSession, dir: String): LinkGraph =
    graphCache.getOrElseUpdate((spark, dir),
      LinkGraph.fromRawEdges(orderEvents(spark, dir).select("src", "dst", "ts", "seq")))

  /** PageRank (20 iters, tol 0) memoized per (session, sfDir): three driver
    * queries (scores / top10 / median) share one run. */
  private val prCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def pagerank20(spark: SparkSession, dir: String): DataFrame =
    prCache.getOrElseUpdate((spark, dir), {
      val r = PageRank.run(graph(spark, dir), PageRank.Config(iterCount = 20, tol = 0.0))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    })

  /** Triangle count memoized per (session, sfDir): g_triangle_count and
    * g_clustering_coefficient share one enumeration. */
  private val triCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]

  private def triCount(spark: SparkSession, dir: String): Long =
    triCache.getOrElseUpdate((spark, dir), Triangles.count(graph(spark, dir)))

  /** WCC memoized per (session, sfDir): g_wcc and g_wcc_sizes share a run. */
  private val wccCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def wccRun(spark: SparkSession, dir: String): DataFrame =
    wccCache.getOrElseUpdate((spark, dir), {
      val r = Wcc.run(graph(spark, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    })

  // NOTE: inside WITH RECURSIVE, DuckDB can treat a CTE body of the form
  // `a UNION b` as an iterative union (losing the dedup), so these use
  // DISTINCT over UNION ALL explicitly.
  private val sqlGraph =
    """ev AS (SELECT o_orderkey % 1009 AS src, (o_orderkey * 31 + o_custkey) % 1009 AS dst, o_orderkey AS ts, o_orderkey AS seq FROM orders WHERE o_orderkey % 7 < 3),
      |edges AS (SELECT DISTINCT src, dst FROM ev),
      |nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges) t0),
      |und AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst AS a, src AS b FROM edges) t1)""".stripMargin

  // shared with Queries2
  private[graft] def graphForTest(spark: SparkSession, dir: String): LinkGraph = graph(spark, dir)
  private[graft] def orderEventsForTest(spark: SparkSession, dir: String): DataFrame = orderEvents(spark, dir)
  private[graft] def sqlGraphPrelude: String = sqlGraph
  private[graft] def table(spark: SparkSession, dir: String, name: String): DataFrame = tbl(spark, dir, name)
  private[graft] def pagerankOracle(finalSelect: String): String = pagerankSql(finalSelect)

  private def one(spark: SparkSession, cols: (String, Column)*): DataFrame =
    spark.range(1).select(cols.map { case (n, c) => c.as(n) }: _*)

  // ---- the queries -------------------------------------------------------

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_degrees" -> ((s, d) => {
      val g = graph(s, d)
      g.outDegrees.withColumnRenamed("degree", "out_degree")
        .join(g.inDegrees.withColumnRenamed("degree", "in_degree"), Seq("vid"))
        .join(g.degrees, Seq("vid"))
        .select(col("vid").as("id"), col("out_degree"), col("in_degree"), col("degree"))
    }),
    "g_degree_centrality" -> ((s, d) =>
      Metrics.degreeCentrality(graph(s, d))
        .select(col("vid").as("id"), round(col("value"), 6).as("value"))),
    "g_density" -> ((s, d) => {
      val g = graph(s, d)
      val n = g.nodeCount.toDouble
      one(s, "density" -> round(lit(g.edgeCount.toDouble / (n * (n - 1))), 6))
    }),
    "g_triplet_count" -> ((s, d) =>
      one(s, "triplets" -> lit(Metrics.tripletCount(graph(s, d))))),
    "g_triangle_count" -> ((s, d) =>
      one(s, "triangles" -> lit(triCount(s, d)))),
    "g_clustering_coefficient" -> ((s, d) => {
      // same formula as Metrics.globalClusteringCoefficient, sharing the
      // memoized triangle count with g_triangle_count
      val triplets = Metrics.tripletCount(graph(s, d))
      val v = if (triplets == 0) 0.0 else 3.0 * triCount(s, d) / triplets
      one(s, "value" -> round(lit(v), 6))
    }),
    "g_reciprocity" -> ((s, d) =>
      one(s, "value" -> round(lit(Metrics.globalReciprocity(graph(s, d))), 6))),
    "g_local_reciprocity" -> ((s, d) =>
      Metrics.localReciprocity(graph(s, d))
        .select(col("vid").as("id"), round(col("value"), 6).as("value"))),
    "g_wcc" -> ((s, d) =>
      wccRun(s, d).select(col("vid").as("id"), col("component_vid").as("component"))),
    "g_wcc_sizes" -> ((s, d) =>
      wccRun(s, d).groupBy(col("component_vid").as("component"))
        .agg(count(lit(1)).as("n_nodes"))),
    "g_pagerank" -> ((s, d) =>
      pagerank20(s, d).select(col("vid").as("id"), round(col("score"), 9).as("score"))),
    "g_pagerank_top10" -> ((s, d) =>
      pagerank20(s, d).select(col("vid").as("id"), round(col("score"), 6).as("score"))
        .orderBy(desc("score"), asc("id")).limit(10)),
    "g_balance" -> ((s, d) =>
      Metrics.balance(LinkGraph.fromRawEdges(orderEvents(s, d)), col("weight"))
        .select(col("vid").as("id"), round(col("value"), 2).as("value"))),

    "t_token_count" -> ((s, d) =>
      // filter empty split fragments: trim() strips only spaces, so
      // leading/trailing tabs/newlines would otherwise count as tokens
      tbl(s, d, "documents").select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), t => t =!= ""))
          .cast("long").as("n_tokens"))),
    "t_quality" -> ((s, d) => {
      val t = tbl(s, d, "documents")
      val nChars = length(col("text")).cast("long")
      val punct = nChars - length(regexp_replace(col("text"), "[.,;:!?'\"()-]", "")).cast("long")
      val upper = nChars - length(regexp_replace(col("text"), "[A-Z]", "")).cast("long")
      val digit = nChars - length(regexp_replace(col("text"), "[0-9]", "")).cast("long")
      t.select(col("doc_id"), nChars.as("n_chars"),
        round(punct / greatest(nChars, lit(1L)), 6).as("punct_ratio"),
        round(upper / greatest(nChars, lit(1L)), 6).as("upper_ratio"),
        round(digit / greatest(nChars, lit(1L)), 6).as("digit_ratio"))
    }),
    "t_lang_guess" -> ((s, d) => {
      // double the spaces before counting ' w ' occurrences: adjacent
      // marker words would otherwise share boundary spaces and the
      // non-overlapping replace undercounts them (oracle SQL mirrors this)
      val t = tbl(s, d, "documents")
        .withColumn("s",
          concat(lit(" "), replace(lower(col("text")), lit(" "), lit("  ")), lit(" ")))
      def cnt(m: String): Column =
        ((length(col("s")) - length(expr(s"replace(s, ' $m ', '')"))) / (m.length + 2)).cast("long")
      val en = (cnt("the") + cnt("and") + cnt("of")).as("en_hits")
      val de = (cnt("der") + cnt("und") + cnt("die")).as("de_hits")
      val fr = (cnt("le") + cnt("la") + cnt("et")).as("fr_hits")
      t.select(col("doc_id"), en, de, fr)
        .withColumn("lang_guess",
          when(col("en_hits") >= col("de_hits") && col("en_hits") >= col("fr_hits"), "en")
            .when(col("de_hits") >= col("fr_hits"), "de").otherwise("fr"))
    }),
    "t_fingerprint" -> ((s, d) =>
      tbl(s, d, "documents").select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")).cast("binary")).as("fp"))),
    "d_exact_dup" -> ((s, d) =>
      tbl(s, d, "documents")
        .groupBy(md5(col("text").cast("binary")).as("text_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))),
    "e_cosine_top5" -> ((s, d) => {
      val e = tbl(s, d, "embeddings")
      val toD = (c: Column) => transform(c, x => x.cast("double"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), toD(col("embedding")).as("qe"))
      val c = e.select(col("vec_id").as("neighbor_id"), toD(col("embedding")).as("ce"))
      def dot(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, z) => acc + z)
      val sims = q.join(c, col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(dot(col("qe"), col("ce")) /
            (sqrt(dot(col("qe"), col("qe"))) * sqrt(dot(col("ce"), col("ce")))), 4).as("sim"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
      sims.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
    }),

    // real crawl pipeline: oracled over the aux-dumped crawl tables
    // (Verify.dumpAux) via read_parquet in DuckDB.
    "crawl_pagerank_top20" -> ((s, _) => {
      val g = crawlGraphCache.getOrElseUpdate(s,
        LinkGraph.fromPages(Corpus.tiny(s).toDF()).cache())
      PageRank.run(g, PageRank.Config(iterCount = 20, tol = 0.0))
        .select(col("vid").as("id"), col("name"), round(col("score"), 9).as("score"))
        .orderBy(desc("score"), asc("id")).limit(20)
    })
  )

  // ---- DuckDB oracle SQL -------------------------------------------------

  /** The aux-dumped tiny-crawl graph (Verify.dumpAux) as oracle CTEs. */
  private[graft] val crawlSqlGraph =
    s"""cedges AS (SELECT src, dst, ts, seq FROM read_parquet('${Verify.AuxDir}/crawl_edges.parquet/*.parquet')),
       |cnodes AS (SELECT vid, name FROM read_parquet('${Verify.AuxDir}/crawl_nodes.parquet/*.parquet')),
       |edges AS (SELECT DISTINCT src, dst FROM cedges),
       |nodes AS (SELECT vid AS id FROM cnodes),
       |und AS (SELECT DISTINCT a, b FROM (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst AS a, src AS b FROM edges) t1)""".stripMargin

  def oracles: Map[String, String] = Map(
    "crawl_pagerank_top20" -> pagerankSqlOver(crawlSqlGraph,
      """SELECT p.id, c.name, round(p.score, 9) AS score FROM pr p
        |JOIN cnodes c ON c.vid = p.id
        |WHERE p.iter = 20
        |ORDER BY round(p.score, 9) DESC, p.id LIMIT 20""".stripMargin),
    "g_degrees" ->
      s"""WITH $sqlGraph
         |SELECT n.id,
         |  CAST(coalesce(o.c, 0) AS BIGINT) AS out_degree,
         |  CAST(coalesce(i.c, 0) AS BIGINT) AS in_degree,
         |  CAST(coalesce(u.c, 0) AS BIGINT) AS degree
         |FROM nodes n
         |LEFT JOIN (SELECT src, count(*) AS c FROM edges GROUP BY src) o ON o.src = n.id
         |LEFT JOIN (SELECT dst, count(*) AS c FROM edges GROUP BY dst) i ON i.dst = n.id
         |LEFT JOIN (SELECT a, count(*) AS c FROM und GROUP BY a) u ON u.a = n.id""".stripMargin,
    "g_degree_centrality" ->
      s"""WITH $sqlGraph,
         |deg AS (SELECT a AS id, count(*) AS d FROM und GROUP BY a)
         |SELECT id, round(CAST(d AS DOUBLE) / (SELECT max(d) FROM deg), 6) AS value FROM deg""".stripMargin,
    "g_density" ->
      s"""WITH $sqlGraph
         |SELECT round(CAST((SELECT count(*) FROM edges) AS DOUBLE) /
         |  ((SELECT count(*) FROM nodes) * CAST((SELECT count(*) FROM nodes) - 1 AS DOUBLE)), 6) AS density""".stripMargin,
    "g_triplet_count" ->
      s"""WITH $sqlGraph
         |SELECT CAST(coalesce(sum(d * (d - 1) / 2), 0) AS BIGINT) AS triplets
         |FROM (SELECT a, count(*) AS d FROM und WHERE a <> b GROUP BY a) x""".stripMargin,
    "g_triangle_count" ->
      s"""WITH $sqlGraph,
         |simple AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges WHERE src <> dst)
         |SELECT CAST(count(*) AS BIGINT) AS triangles
         |FROM simple e1 JOIN simple e2 ON e2.a = e1.a AND e2.b > e1.b
         |JOIN simple e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin,
    "g_clustering_coefficient" ->
      s"""WITH $sqlGraph,
         |simple AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges WHERE src <> dst),
         |tri AS (SELECT count(*) AS t FROM simple e1 JOIN simple e2 ON e2.a = e1.a AND e2.b > e1.b
         |        JOIN simple e3 ON e3.a = e1.b AND e3.b = e2.b),
         |trip AS (SELECT coalesce(sum(d * (d - 1) / 2), 0) AS p
         |         FROM (SELECT a, count(*) AS d FROM und WHERE a <> b GROUP BY a) x)
         |SELECT CASE WHEN (SELECT p FROM trip) = 0 THEN 0.0
         |  ELSE round(3.0 * (SELECT t FROM tri) / (SELECT p FROM trip), 6) END AS value""".stripMargin,
    "g_reciprocity" ->
      s"""WITH $sqlGraph,
         |ns AS (SELECT src, dst FROM edges WHERE src <> dst)
         |SELECT round(CAST((SELECT count(*) FROM ns x JOIN ns y ON y.src = x.dst AND y.dst = x.src) AS DOUBLE)
         |  / (SELECT count(*) FROM ns), 6) AS value""".stripMargin,
    "g_local_reciprocity" ->
      s"""WITH $sqlGraph,
         |ns AS (SELECT src, dst FROM edges WHERE src <> dst),
         |o AS (SELECT src AS id, count(*) AS c FROM ns GROUP BY 1),
         |i AS (SELECT dst AS id, count(*) AS c FROM ns GROUP BY 1),
         |r AS (SELECT x.src AS id, count(*) AS c FROM ns x JOIN ns y ON y.src = x.dst AND y.dst = x.src GROUP BY 1)
         |SELECT n.id, round(CASE WHEN coalesce(i.c, 0) + coalesce(o.c, 0) = 0 THEN 0.0
         |  ELSE 2.0 * coalesce(r.c, 0) / (coalesce(i.c, 0) + coalesce(o.c, 0)) END, 6) AS value
         |FROM nodes n LEFT JOIN o ON o.id = n.id LEFT JOIN i ON i.id = n.id LEFT JOIN r ON r.id = n.id""".stripMargin,
    "g_wcc" ->
      s"""WITH RECURSIVE $sqlGraph,
         |reach(id, c) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT u.b, r.c FROM reach r JOIN und u ON u.a = r.id
         |)
         |SELECT id, CAST(min(c) AS BIGINT) AS component FROM reach GROUP BY id""".stripMargin,
    "g_wcc_sizes" ->
      s"""WITH RECURSIVE $sqlGraph,
         |reach(id, c) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT u.b, r.c FROM reach r JOIN und u ON u.a = r.id
         |),
         |comp AS (SELECT id, min(c) AS component FROM reach GROUP BY id)
         |SELECT component, CAST(count(*) AS BIGINT) AS n_nodes FROM comp GROUP BY component""".stripMargin,
    "g_pagerank" -> pagerankSql("SELECT id, round(score, 9) AS score FROM pr WHERE iter = 20"),
    "g_pagerank_top10" -> pagerankSql(
      """SELECT id, round(score, 6) AS score FROM pr WHERE iter = 20
        |ORDER BY round(score, 6) DESC, id LIMIT 10""".stripMargin),
    "g_balance" ->
      """WITH ev AS (SELECT o_orderkey % 1009 AS src, (o_orderkey * 31 + o_custkey) % 1009 AS dst, o_totalprice AS w
        |            FROM orders WHERE o_orderkey % 7 < 3),
        |n2 AS (SELECT src AS id FROM ev UNION SELECT dst FROM ev),
        |i AS (SELECT dst AS id, sum(w) AS s FROM ev GROUP BY 1),
        |o AS (SELECT src AS id, sum(w) AS s FROM ev GROUP BY 1)
        |SELECT n2.id, round(coalesce(i.s, 0) - coalesce(o.s, 0), 2) AS value
        |FROM n2 LEFT JOIN i ON i.id = n2.id LEFT JOIN o ON o.id = n2.id""".stripMargin,

    "t_token_count" ->
      """SELECT doc_id, CAST(length(list_filter(regexp_split_to_array(text, '\s+'),
        |  x -> x <> '')) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "t_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  round((length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g'))) / greatest(length(text), 1), 6) AS punct_ratio,
        |  round((length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) / greatest(length(text), 1), 6) AS upper_ratio,
        |  round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(length(text), 1), 6) AS digit_ratio
        |FROM documents""".stripMargin,
    "t_lang_guess" ->
      """WITH s AS (SELECT doc_id, ' ' || replace(lower(text), ' ', '  ') || ' ' AS s FROM documents),
        |h AS (SELECT doc_id,
        |  CAST((length(s) - length(replace(s, ' the ', ''))) / 5
        |     + (length(s) - length(replace(s, ' and ', ''))) / 5
        |     + (length(s) - length(replace(s, ' of ', ''))) / 4 AS BIGINT) AS en_hits,
        |  CAST((length(s) - length(replace(s, ' der ', ''))) / 5
        |     + (length(s) - length(replace(s, ' und ', ''))) / 5
        |     + (length(s) - length(replace(s, ' die ', ''))) / 5 AS BIGINT) AS de_hits,
        |  CAST((length(s) - length(replace(s, ' le ', ''))) / 4
        |     + (length(s) - length(replace(s, ' la ', ''))) / 4
        |     + (length(s) - length(replace(s, ' et ', ''))) / 4 AS BIGINT) AS fr_hits
        |FROM s)
        |SELECT doc_id, en_hits, de_hits, fr_hits,
        |  CASE WHEN en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
        |       WHEN de_hits >= fr_hits THEN 'de' ELSE 'fr' END AS lang_guess
        |FROM h""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp FROM documents""",
    "d_exact_dup" ->
      """SELECT md5(text) AS text_hash, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
        |FROM documents GROUP BY 1""".stripMargin,
    "e_cosine_top5" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS ce FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |        round(list_dot_product(qe, ce) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))), 4) AS sim
        |      FROM q, c WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM r WHERE rank <= 5""".stripMargin
  )

  /** Power iteration in pure SQL: a static `transfer` matrix (out-edge
    * weights 1/outdeg, dangling rows 1/n to every node, zero self-rows so
    * every node appears every iteration) folded 20 times by a recursive
    * CTE — semantically the reference's superstep including the dangling
    * term (pagerank.rs:88-126). */
  private def pagerankSql(finalSelect: String): String =
    pagerankSqlOver(sqlGraph, finalSelect)

  /** Same, over any prelude that defines `edges(src, dst)` (distinct
    * directed) and `nodes(id)` CTEs — used for the aux-dumped crawl graph. */
  private def pagerankSqlOver(prelude: String, finalSelect: String): String =
    s"""WITH RECURSIVE $prelude,
       |outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY src),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |transfer AS (
       |  SELECT e.src AS u, e.dst AS v, 1.0 / o.od AS w FROM edges e JOIN outdeg o ON o.src = e.src
       |  UNION ALL
       |  SELECT s.id AS u, t.id AS v, 1.0 / (SELECT n FROM nn) AS w
       |  FROM (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM edges)) s, nodes t
       |  UNION ALL
       |  SELECT id, id, 0.0 FROM nodes
       |),
       |pr(iter, id, score) AS (
       |  SELECT 0, id, 1.0 / (SELECT n FROM nn) FROM nodes
       |  UNION ALL
       |  SELECT p.iter + 1, t.v, 0.85 * sum(p.score * t.w) + 0.15 / (SELECT n FROM nn)
       |  FROM pr p JOIN transfer t ON t.u = p.id
       |  WHERE p.iter < 20
       |  GROUP BY p.iter + 1, t.v
       |)
       |$finalSelect""".stripMargin
}
