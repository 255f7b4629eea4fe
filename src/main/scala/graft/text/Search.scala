package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text search over a document table — the Spark-native equivalent of
  * the reference's tantivy-backed index (raphtory/src/search/mod.rs:623-731):
  * instead of a sidecar search engine, the index IS a table.
  *
  *  - `postings` — the tokenized inverted index as (term, doc_id, tf):
  *    one groupBy, hash-partitioned by term, so lookups of a query term
  *    are partition-pruned joins. Persist/bucket it by `term` for a
  *    standing index at scale.
  *  - `search` — disjunctive TF-IDF ranking: score(d) = Σ_{t ∈ query}
  *    tf(t,d) · ln((N+1)/(df_t+1)), top-k with deterministic doc-id
  *    tie-break. A broadcast of the (tiny) query-term IDF table keeps the
  *    scoring a single semi-join + aggregation over the postings.
  *
  * Tokenization is the same whitespace/lowercase rule the rest of the
  * text pipeline uses (TextOps), so every number is DuckDB-reproducible —
  * see the t_search oracle. */
object Search {

  /** Inverted index: (term, doc_id, tf). */
  def postings(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("tf"))

  /** Document frequency per term: (term, df). */
  private def docFrequencies(index: DataFrame): DataFrame =
    index.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Disjunctive TF-IDF top-k: (doc_id, score, n_terms_hit), score rounded
    * to 6 for cross-engine comparability. */
  def search(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val n = docs.count()
    val terms = spark.createDataFrame(queryTerms.distinct.map(Tuple1(_))).toDF("term")
    // filter the postings to the query terms ONCE and cache that small
    // set: both the IDF subquery and the score join consume it, so the
    // expensive tokenize+explode+groupBy job runs a single time instead
    // of twice (the cache is O(query-term postings), not the corpus)
    val hits = postings(docs, idCol, textCol)
      .join(broadcast(terms), Seq("term"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idf = docFrequencies(hits)
      .withColumn("idf", log((lit(n) + 1.0) / (col("df") + 1.0)))
    hits.join(broadcast(idf.select(col("term"), col("idf"))), Seq("term"))
      .groupBy(col(idCol))
      .agg(round(sum(col("tf") * col("idf")), 6).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("score"), asc(idCol))
      .limit(k)
  }

  // ---- standing index: postings bucketed by term --------------------------

  /** Stable term-bucket id, recomputable at query time (Murmur3 — the same
    * hash on write and read paths). */
  private def termBucket(term: Column, buckets: Int): Column =
    pmod(hash(term), lit(buckets)).cast("int")

  /** Write the inverted index as a STANDING index, hash-bucketed by term
    * into `buckets` partition directories: repeated searches prune the
    * scan to the query terms' buckets instead of re-tokenizing the corpus
    * (the builder-side analogue of the reference keeping a tantivy index
    * next to the graph, raphtory/src/search/mod.rs). */
  def writeIndex(docs: DataFrame, path: String, buckets: Int = 64,
                 idCol: String = "doc_id", textCol: String = "text"): Unit =
    postings(docs, idCol, textCol)
      .withColumn("tb", termBucket(col("term"), buckets))
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb").parquet(path)

  /** Disjunctive TF-IDF top-k over a standing index written by
    * `writeIndex`. The bucket predicate is a fold of literal comparisons,
    * so Catalyst constant-folds it and the parquet scan partition-prunes
    * to |query| buckets (asserted in PlanSpec). `nDocs` = corpus size at
    * index time (the IDF denominator). */
  def searchIndexed(spark: SparkSession, indexPath: String, nDocs: Long,
                    queryTerms: Seq[String], k: Int = 10, buckets: Int = 64,
                    idCol: String = "doc_id"): DataFrame = {
    val idx = spark.read.parquet(indexPath)
    val terms = queryTerms.distinct
    val pruned = idx.filter(
      terms.map(t => col("tb") === termBucket(lit(t), buckets)).reduce(_ || _))
    val termsDf = spark.createDataFrame(terms.map(Tuple1(_))).toDF("term")
    val idf = docFrequencies(pruned.join(broadcast(termsDf), Seq("term"), "left_semi"))
      .withColumn("idf", log((lit(nDocs) + 1.0) / (col("df") + 1.0)))
    pruned.join(broadcast(idf.select(col("term"), col("idf"))), Seq("term"))
      .groupBy(col(idCol))
      .agg(round(sum(col("tf") * col("idf")), 6).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(desc("score"), asc(idCol))
      .limit(k)
  }

  // ---- fuzzy + property search ---------------------------------------------

  /** Fuzzy value search — the Spark-native equivalent of the reference's
    * `fuzzy_search_nodes` / `fuzzy_search_edges` (levenshtein ≤ k over
    * indexed property values, raphtory/src/search/mod.rs:623-731).
    * Returns the matching rows of `values` plus a `dist` column.
    *
    * Scale shape: two LOSSLESS prefilters ahead of the exact (codegen'd)
    * levenshtein —
    *  1. length band: |len(v) − len(q)| ≤ maxDist (each edit changes the
    *     length by at most 1);
    *  2. trigram overlap, applied only when it is provably lossless: two
    *     strings within edit distance k share at least
    *     max(|a|,|b|) − q + 1 − k·q q-grams (Sutinen/Tarhio's q-gram
    *     count bound), which with q = 3 is > 0 whenever |query| > 3k + 2
    *     — every true match then shares ≥ 1 trigram with the query, so
    *     filtering on "contains any query trigram" drops no matches.
    * Both prefilters are exact, so results equal an unfiltered
    * levenshtein scan (the DuckDB oracle computes the unfiltered form). */
  def fuzzy(values: DataFrame, valueCol: String, query: String, maxDist: Int): DataFrame = {
    val v = col(valueCol)
    val lenOk = abs(length(v) - lit(query.length)) <= maxDist
    val trigramOk =
      if (query.length <= 3 * maxDist + 2) lit(true)
      else query.sliding(3).toSeq.distinct
        .map(gram => v.contains(gram)).reduce(_ || _)
    values.filter(lenOk && trigramOk)
      .withColumn("dist", levenshtein(v, lit(query)).cast("long"))
      .filter(col("dist") <= maxDist)
  }

  /** Property search over the node table: an exact Catalyst predicate
    * (the reference's `search_nodes(filter)`); fuzzy variant below. */
  def searchNodes(g: graft.graph.LinkGraph, predicate: Column): DataFrame =
    g.nodes.filter(predicate)

  def searchEdges(g: graft.graph.LinkGraph, predicate: Column): DataFrame =
    g.dedupEdges.filter(predicate)

  /** Fuzzy node search by name (or any node property column). */
  def fuzzySearchNodes(g: graft.graph.LinkGraph, query: String, maxDist: Int,
                       propCol: String = "name"): DataFrame =
    fuzzy(g.nodes, propCol, query, maxDist)
}
