package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.io.Corpus
import graft.algo.{PageRank, Triangles, Wcc}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `entry` is the flagship end-to-end slice (SURVEY §7.3): synthetic pages →
  * href extraction → edge table → dense vids → PageRank → top-10.
  * `queries` hosts one entry per implemented operator; `oracleSql` the
  * DuckDB-equivalent SQL over the same parquet tables for the driver's
  * correctness gate. Graph operators that run on the generated web corpus
  * (not on sfDir parquet) are fixture-verified in `sbt test` instead and
  * appear here over a graph derived from the `orders` table so DuckDB can
  * check them. */
object SparkEntry {

  /** Flagship: tiny crawl corpus → PageRank top 10. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val g = LinkGraph.fromPages(Corpus.tiny(spark).toDF()).cache()
    PageRank.run(g, PageRank.Config(iterCount = 20))
      .orderBy(desc("score"), asc("vid")).limit(10)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all ++ Queries2.all

  def oracleSql: Map[String, String] = Queries.oracles ++ Queries2.oracles

  /** The session every main and the test suite run on: `master` with
    * `partitions` shuffle partitions, UTC, no UI, AQE on (the superstep
    * loops scope it off), WARN logging; `extra` confs are set last. */
  def session(master: String, partitions: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // tmpfs shuffle dirs: concurrent shuffle writers serialise on a
      // spinning-disk /tmp (cluster analogue: per-node NVMe)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.adaptive.enabled", "true")
      // the default 100 entries evict the compiled superstep stages between
      // steps: 106 recompiles in a steady superstep_df run at 100, 0 at 200
      .config("spark.sql.codegen.cache.maxEntries", "200")
    val s = extra.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
