package graft.vectors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.LinkGraph
import graft.sim.Ann

/** Graph-entity RAG vector store — the Spark-first analogue of the
  * reference's vectors module (raphtory/src/vectors): document templates
  * render every node / edge / the graph itself to text
  * (vectors/template.rs DocumentTemplate — minijinja there, a compiled
  * `concat` column program here so rendering stays inside whole-stage
  * codegen), an embedder turns content into fixed-width vectors behind a
  * parquet-backed content-hash cache (vectors/embedding_cache.rs), and the
  * similarity searches and selection expansion
  * (vectors/vectorised_graph.rs:163-240, vector_selection.rs:148-280) run
  * as distributed joins + codegen cosine scoring — never a driver-side
  * scan of the document list.
  *
  * The reference embeds via external services (OpenAI et al.); this
  * container has zero egress, so the shipped `Embedder` is a deterministic
  * feature-hashing bag-of-tokens embedder — an honest local stand-in with
  * the same seam (swap `Embedder.embed`'s column program for a model call
  * on a cluster that has one). Template columns, cache keys, document
  * schema and search semantics are all real and driver-oracled.
  */
object Vectors {

  /** Templates are plain strings with `{column}` placeholders resolved
    * against the entity frame (nodes: vid, name + any node prop columns;
    * edges: src, dst, src_name, dst_name, n_events, first_ts, last_ts;
    * graph: n_nodes, n_events). */
  case class DocumentTemplate(
      node: Option[String] = None,
      edge: Option[String] = None,
      graph: Option[String] = None)

  /** Compile `{col}` placeholders into one codegen'd concat. */
  private[vectors] def renderTemplate(tpl: String): Column = {
    val parts = Seq.newBuilder[Column]
    var i = 0
    while (i < tpl.length) {
      val open = tpl.indexOf('{', i)
      if (open < 0) { parts += lit(tpl.substring(i)); i = tpl.length }
      else {
        if (open > i) parts += lit(tpl.substring(i, open))
        val close = tpl.indexOf('}', open)
        require(close > open, s"unterminated placeholder in template: $tpl")
        parts += coalesce(col(tpl.substring(open + 1, close)).cast("string"), lit(""))
        i = close + 1
      }
    }
    concat(parts.result(): _*)
  }

  /** Deterministic feature-hashing embedder: lowercase tokens hash
    * (murmur3) into `dim` buckets; counts are L2-normalised. Pure column
    * program — embedding stays inside codegen and runs once per document
    * at vectorise time (scoring uses the native DotProduct). */
  case class Embedder(dim: Int = 32) extends Serializable {
    def embed(text: Column): Column = {
      val toks = filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")
      val counts = transform(sequence(lit(0), lit(dim - 1)),
        i => size(filter(toks, t => pmod(hash(t), lit(dim)) === i)).cast("double"))
      val norm = sqrt(aggregate(counts, lit(0.0), (a, x) => a + x * x))
      when(norm > 0, transform(counts, x => x / norm))
        .otherwise(transform(counts, x => x * 0.0))
    }
  }

  /** Parquet-backed embedding cache keyed by md5(content)
    * (vectors/embedding_cache.rs): only cache misses run the embedder;
    * new entries append. At scale this is the difference between
    * re-embedding 100 TB of documents and a hash-join. */
  private def embedWithCache(docs: DataFrame, embedder: Embedder,
                             cachePath: Option[String]): DataFrame = {
    val spark = docs.sparkSession
    // the embedder's identity is part of the cache key: a cache written
    // at one dimension must MISS (not silently serve wrong-width vectors)
    // when reused with a different embedder
    val keyed = docs.withColumn("_k",
      md5(concat(lit(s"${embedder.dim}:"), col("content")).cast("binary")))
    cachePath match {
      case None => keyed.withColumn("embedding", embedder.embed(col("content"))).drop("_k")
      case Some(path) =>
        val cached =
          try spark.read.parquet(path).select(col("_k"), col("embedding"))
          catch { case _: Throwable =>
            spark.emptyDataFrame.select(lit("").as("_k"),
              array().cast("array<double>").as("embedding")).limit(0)
          }
        // no broadcast hint: the cache is parquet-backed with known size
        // stats, so Catalyst broadcasts it while it's small and falls back
        // to a distributed join (SMJ under the default conf) once it
        // outgrows the threshold — a forced broadcast would OOM the driver
        // at billions of cached embeddings
        val hits = keyed.join(cached.dropDuplicates("_k"), Seq("_k"))
        // persist the miss side: the embedder column program would
        // otherwise re-run for the emptiness probe, the cache append AND
        // the returned union's materialisation — triple the cost the
        // cache exists to avoid
        val misses = keyed.join(cached.select("_k"), Seq("_k"), "left_anti")
          .withColumn("embedding", embedder.embed(col("content")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        if (!misses.isEmpty)
          misses.select("_k", "embedding").dropDuplicates("_k")
            .write.mode("append").parquet(path)
        hits.unionByName(misses).drop("_k")
    }
  }

  /** Render + embed every entity the template covers. Node documents see
    * the node table's columns; edge documents see the collapsed edge with
    * endpoint names and event stats; the graph document sees global
    * counts. */
  def vectorise(g: LinkGraph, template: DocumentTemplate,
                embedder: Embedder = Embedder(),
                cachePath: Option[String] = None): VectorisedGraph = {
    val spark = g.spark
    val nullL = lit(null).cast("long")
    val frames = Seq.newBuilder[DataFrame]
    template.node.foreach { tpl =>
      // earliest activity per node = the Lifespan the window filter uses
      val act = g.edges.select(col("src").as("vid"), col("ts"))
        .union(g.edges.select(col("dst").as("vid"), col("ts")))
        .groupBy("vid").agg(min("ts").as("first_ts"))
      frames += g.nodes.join(act, Seq("vid"), "left")
        .withColumn("content", renderTemplate(tpl))
        .select(lit("node").as("kind"), col("vid"), nullL.as("src"), nullL.as("dst"),
          col("name"), col("content"), col("first_ts").as("ts"))
    }
    template.edge.foreach { tpl =>
      val collapsed = g.edges.groupBy("src", "dst")
        .agg(count(lit(1)).as("n_events"), min("ts").as("first_ts"), max("ts").as("last_ts"))
        .join(g.nodes.select(col("vid").as("src"), col("name").as("src_name")), Seq("src"))
        .join(g.nodes.select(col("vid").as("dst"), col("name").as("dst_name")), Seq("dst"))
      frames += collapsed
        .withColumn("content", renderTemplate(tpl))
        .select(lit("edge").as("kind"), nullL.as("vid"), col("src"), col("dst"),
          concat(col("src_name"), lit("->"), col("dst_name")).as("name"),
          col("content"), col("first_ts").as("ts"))
    }
    template.graph.foreach { tpl =>
      frames += spark.range(1)
        .select(lit(g.nodeCount).as("n_nodes"), lit(g.edges.count()).as("n_events"))
        .withColumn("content", renderTemplate(tpl))
        .select(lit("graph").as("kind"), nullL.as("vid"), nullL.as("src"), nullL.as("dst"),
          lit("graph").as("name"), col("content"), nullL.as("ts"))
    }
    val rendered = frames.result().reduceOption(_ unionByName _)
      .getOrElse(throw new IllegalArgumentException("DocumentTemplate has no templates"))
    val docs = embedWithCache(rendered, embedder, cachePath)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    VectorisedGraph(g, docs, embedder)
  }

  /** The vectorised graph: the source graph + its document table, one
    * (kind, vid, src, dst, name, content, ts, embedding) row per rendered
    * entity. kind: "graph" | "node" | "edge"; vid set for nodes, src/dst
    * for edges; ts = the entity's earliest event time (window filters use
    * it, mirroring the reference's Lifespan). All searches return (rank,
    * kind, vid, src, dst, name, score) ordered by descending cosine score
    * with deterministic (kind, vid, src, dst) tie-breaks. */
  case class VectorisedGraph(g: LinkGraph, documents: DataFrame, embedder: Embedder) {

    private def windowed(window: Option[(Long, Long)]): DataFrame = window match {
      case Some((start, end)) =>
        documents.filter(col("ts").isNotNull && col("ts") >= start && col("ts") < end)
      case None => documents
    }

    private def scored(query: Column, docs: DataFrame): DataFrame = {
      graft.functions.VectorFunctions.register(docs.sparkSession)
      docs.withColumn("score", Ann.cosine(col("embedding"), query))
    }

    private def topK(df: DataFrame, k: Int): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      // distributed top-k: orderBy+limit compiles to TakeOrderedAndProject
      // (per-partition partial top-k, one k-row merge) — the ordering is
      // total, so this equals the former global row_number window without
      // single-partitioning the whole scored set; the rank window then
      // runs over k rows only
      val keys = Seq(desc("score"), asc("kind"), asc("vid"), asc("src"), asc("dst"))
      val top = df.orderBy(keys: _*).limit(k)
      val w = Window.orderBy(keys: _*)
      top.withColumn("rank", row_number().over(w).cast("long"))
        .select(col("rank"), col("kind"), col("vid"), col("src"), col("dst"),
          col("name"), col("score"))
    }

    /** Top `k` documents by cosine (vectorised_graph.rs:163-184) — the
      * exact reference-parity path (distributed TakeOrdered top-k); at
      * scale swap in Ann's LSH/IVF buckets to avoid scoring every row. */
    def documentsBySimilarity(query: Array[Double], k: Int,
                              window: Option[(Long, Long)] = None): DataFrame =
      topK(scored(typedLit(query), windowed(window)), k)

    def nodesBySimilarity(query: Array[Double], k: Int,
                          window: Option[(Long, Long)] = None): DataFrame =
      topK(scored(typedLit(query), windowed(window).filter(col("kind") === "node")), k)

    def edgesBySimilarity(query: Array[Double], k: Int,
                          window: Option[(Long, Long)] = None): DataFrame =
      topK(scored(typedLit(query), windowed(window).filter(col("kind") === "edge")), k)

    /** One expansion round (vector_selection.rs:218-280, ExpansionPath
      * Both, single hop): candidates are the node documents adjacent to
      * the selected node set (undirected), minus the selection; the top
      * `limit` by cosine score join the selection. Returns the new
      * selection as (vid) rows. Distributed: adjacency is a semi-join
      * against the edge table, scoring is codegen cosine. */
    def expandNodesBySimilarity(selection: DataFrame, query: Array[Double],
                                limit: Int): DataFrame = {
      val sel = selection.select(col("vid"))
      val nbrs = g.undirectedPairs
        .join(sel.withColumnRenamed("vid", "a"), Seq("a"), "left_semi")
        .select(col("b").as("vid")).distinct()
        .join(sel, Seq("vid"), "left_anti")
      val cands = scored(typedLit(query),
        documents.filter(col("kind") === "node").join(nbrs, Seq("vid"), "left_semi"))
      // no rank in the output — a plain distributed TakeOrdered top-k
      val added = cands.orderBy(desc("score"), asc("vid")).limit(limit)
        .select(col("vid"))
      sel.union(added)
    }
  }
}
