package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  *  - `bruteForceTopK` — exact cosine top-k: the correctness baseline.
  *    Query×candidate join, codegen'd higher-order-function dot products.
  *  - `lshTableBuckets` / `annTopK` — random-hyperplane LSH: deterministic
  *    md5-derived hyperplanes, `planes`-bit bucket signatures, search
  *    restricted to same-bucket candidates (multi-probe over Hamming-1
  *    neighbours optional). The scale path: bucketing is one hash
  *    aggregation, search joins only within buckets — survives a
  *    billion-vector table where the cross join cannot.
  */
object Ann {

  private def toD(c: Column): Column = transform(c, x => x.cast("double"))

  /** Native codegen dot product (functions.DotProduct); summation order is
    * identical to the HOF formulation, so results are bit-equal. Callers
    * must have VectorFunctions.register'd the session (the public entry
    * points below do). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot_product(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Shared top-k tail: rank per query by (sim desc, neighbor asc) and cut
    * at k — one contract for the brute-force, LSH and IVF paths. */
  private def rankTopK(sims: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Exact top-k neighbours for each query id: (query_id, rank,
    * neighbor_id, sim). Deterministic tie-break on neighbor id. Vector
    * norms are computed ONCE per row (n, not n·candidates, sqrt(dot(v,v))
    * evaluations — same trick as Dedup.normedVectors; dot/(nq*nc) is
    * bit-identical to the unfactored cosine). */
  def bruteForceTopK(emb: DataFrame, queryIds: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     roundTo: Int = 4): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val v = emb.select(col(idCol), toD(col(vecCol)).as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    val q = v.join(queryIds.withColumnRenamed(queryIds.columns.head, idCol), Seq(idCol))
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("n").as("qn"))
    val c = v.select(col(idCol).as("neighbor_id"), col("v").as("cv"), col("n").as("cn"))
    val sims = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundTo).as("sim"))
    rankTopK(sims, k)
  }

  /** Deterministic hyperplane weight for (plane, dim): first 8 md5 hex
    * digits of "plane:p:d" as u32, scaled to [-1, 1) — the portable hash
    * shared with the DuckDB oracle (TextOps.md5u32). */
  private def planeWeight(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane:$plane:$dim".getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16).toDouble / (1L << 31).toDouble - 1.0
  }

  private def vecDims(emb: DataFrame, vecCol: String): Int =
    emb.select(size(col(vecCol))).head().getInt(0)

  /** Multi-table LSH buckets: `tables` independent `planes`-bit signatures
    * of hyperplane signs per vector, one row per (id, table, bucket). Plane
    * (t, p) uses the global plane index t·planes + p. Each projection is a
    * codegen'd sequential dot product against a literal plane vector — a
    * pure per-row projection plus one narrow explode (NO shuffle, unlike an
    * explode+groupBy formulation) whose float summation order is fixed
    * (index order), so bucket assignment is deterministic and
    * oracle-reproducible.
    *
    * The plane matrix ships as ONE array-of-arrays literal indexed with
    * element_at (constant-folded to one ArrayData constant per plane) —
    * NOT per-element `lit` expressions, which at 768 dims × 64 planes
    * would inline ~50k literal nodes into a single projection and blow
    * up codegen/analysis time. */
  def lshTableBuckets(emb: DataFrame, planes: Int, tables: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val dims = vecDims(emb, vecCol)
    val planeMat = typedlit(
      Array.tabulate(tables * planes, dims)((gp, d) => planeWeight(gp, d)))
    val bucketCols = (0 until tables).map { t =>
      (0 until planes).map { p =>
        val pv = element_at(planeMat, t * planes + p + 1)
        when(dot(toD(col(vecCol)), pv) >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    emb.select(col(idCol), posexplode(array(bucketCols: _*)).as(Seq("table", "bucket")))
  }

  /** Approximate top-k: exact cosine ranking restricted to bucket-matched
    * candidates. Two recall levers, both with bounded fan-out
    * (tables · (1 + Σ_{r<=multiProbe} C(planes, r)) probe buckets/query):
    *
    *  - `multiProbe` — Hamming radius probed per table (1 adds the
    *    single-bit-flip buckets, 2 also the two-bit flips; capped at 2 —
    *    higher radii explode fan-out, raise `tables` instead);
    *  - `tables` — independent hash tables (the standard sign-LSH recall
    *    amplification: hit prob 1-(1-p^planes)^tables for per-plane
    *    agreement p). Fewer planes + more tables raises recall at the cost
    *    of candidate volume; on clustered real embeddings (near-dup sim
    *    ≥ 0.9 → p ≈ 0.86) 8 planes × 8 tables prunes ~100× at recall
    *    ≈ 0.99, while on near-isotropic vectors (p → 0.5) any LSH
    *    degrades toward a scan — tune to the corpus similarity profile
    *    (see PipelineOpsSpec recall assertions).
    *
    * Returns (query_id, rank, neighbor_id, sim). */
  def annTopK(emb: DataFrame, queryIds: DataFrame, k: Int, planes: Int = 12,
              idCol: String = "vec_id", vecCol: String = "embedding",
              roundTo: Int = 4, multiProbe: Int = 1, tables: Int = 1): DataFrame = {
    // the probe set is every XOR mask of Hamming weight <= multiProbe —
    // the radius the doc promises. Radius > 2 explodes fan-out
    // (C(planes, r) masks); raise `tables` instead
    require(multiProbe >= 0 && multiProbe <= 2,
      s"multiProbe is a Hamming radius, supported 0..2 (got $multiProbe) — raise tables for recall")
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val buckets = lshTableBuckets(emb, planes, tables, idCol, vecCol)
    val v = emb.select(col(idCol), toD(col(vecCol)).as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
      .join(buckets, Seq(idCol))
    val masks: Seq[Long] = (1 to math.min(multiProbe, planes)).flatMap(r =>
      (0 until planes).combinations(r).map(_.map(j => 1L << j).reduce(_ | _)).toSeq)
    val probeCols: Seq[Column] =
      col("bucket") +: masks.map(m => col("bucket").bitwiseXOR(lit(m)))
    val q = v.join(queryIds.withColumnRenamed(queryIds.columns.head, idCol), Seq(idCol))
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("n").as("qn"), col("table"),
        explode(array(probeCols: _*)).as("bucket"))
    val c = v.select(col(idCol).as("neighbor_id"), col("v").as("cv"), col("n").as("cn"),
      col("table"), col("bucket"))
    val sims = q.join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundTo).as("sim"))
      .distinct() // a pair can meet through several tables / probe buckets
    rankTopK(sims, k)
  }

  // ── IVF (inverted-file) ANN ────────────────────────────────────────────
  // The second scale path beside sign-LSH: a coarse quantizer (k-means
  // centroids) partitions the vector space into nlist Voronoi cells; each
  // vector is assigned to exactly ONE cell (vs LSH's tables × probes
  // memberships), and a query scans only its nprobe nearest cells. On
  // clustered corpora IVF gives tighter candidate sets than hyperplane
  // buckets because the cells follow the data's density, not random
  // directions. Assignment is a pure per-row projection against the
  // broadcast centroid matrix (NO shuffle — verified by AnnSpec's plan
  // audit), so it survives a billion-vector table; training touches only
  // nlist × dims doubles on the driver.

  /** Per-centroid affinity scores (dot(v, c)/|c| — argmax equals cosine
    * argmax since |v| is constant per row). One array-of-arrays literal
    * like the LSH plane matrix; every dot is the codegen'd sequential
    * DotProduct, so scores are bit-reproducible by the DuckDB oracle's
    * list_dot_product over the dumped centroids. */
  private def centroidScores(vecCol: String, cents: Array[Array[Double]]): Column = {
    val cm = typedlit(cents)
    array(cents.indices.map { i =>
      val cv = element_at(cm, i + 1)
      dot(toD(col(vecCol)), cv) / sqrt(dot(cv, cv))
    }: _*)
  }

  /** (id, list_id): each vector's nearest centroid (ties → lowest cid,
    * mirroring the oracle's ORDER BY score DESC, cid). Pure projection. */
  def ivfAssignments(emb: DataFrame, cents: Array[Array[Double]],
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val sc = centroidScores(vecCol, cents)
    emb.select(col(idCol),
      (array_position(sc, array_max(sc)) - 1).cast("int").as("list_id"))
  }

  /** Deterministic Lloyd k-means coarse quantizer: seeds are the nlist
    * vectors with the smallest md5("ivf:<id>") (a portable pseudo-random
    * sample), then `iters` assign/average rounds. Only nlist × dims
    * doubles ever reach the driver; the per-round average is one
    * posexplode + hash aggregate. Exact float bits of the result depend
    * on aggregation order, which is why callers that need an oracle dump
    * the returned matrix (e_ann_ivf) rather than re-deriving it. */
  def ivfTrain(emb: DataFrame, nlist: Int, iters: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    // seed pick is a TakeOrderedAndProject — only nlist rows reach the driver
    val seedRows = emb
      .select(col(idCol).cast("long").as("id"), toD(col(vecCol)).as("v"))
      .withColumn("h", graft.text.TextOps.md5u32(concat(lit("ivf:"), col("id"))))
      .orderBy(col("h"), col("id")).limit(nlist)
      .collect()
    var cents = seedRows.map(_.getSeq[Double](1).toArray)
    val dims = cents.head.length
    for (_ <- 0 until iters) {
      // assignment folded inline — one scan, no self-join against the
      // assignment projection
      val sc = centroidScores(vecCol, cents)
      val means = emb
        .select((array_position(sc, array_max(sc)) - 1).cast("int").as("list_id"),
          posexplode(toD(col(vecCol))).as(Seq("d", "x")))
        .groupBy(col("list_id"), col("d")).agg(avg(col("x")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      val touched = Array.fill(nlist)(false)
      means.foreach { r =>
        val (l, d) = (r.getInt(0), r.getInt(1))
        if (!touched(l)) { next(l) = new Array[Double](dims); touched(l) = true }
        next(l)(d) = r.getDouble(2)
      } // untouched (empty) lists keep their previous centroid
      cents = next
    }
    cents
  }

  /** Near-dup candidate pairs within IVF cells — the bucketed scale path
    * for Dedup.embeddingNearDups' cross product: only pairs co-assigned
    * to a Voronoi cell are emitted (cells are disjoint, so no cross-cell
    * dedup is needed). `maxCellSize` is the hot-cell guard mirroring
    * Dedup.lshCandidates' bucket cap: a degenerate cell (boilerplate /
    * zero vectors pile-up) would otherwise quadratically blow up one
    * join key at web scale; capped cells are dropped whole (conservative,
    * like the LSH cap). Returns (a, b) with a < b. */
  def ivfCandidates(emb: DataFrame, cents: Array[Array[Double]],
                    maxCellSize: Long = Long.MaxValue,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val asg = ivfAssignments(emb, cents, idCol, vecCol)
    val kept =
      if (maxCellSize == Long.MaxValue) asg
      else {
        val sizes = asg.groupBy(col("list_id")).agg(count(lit(1)).as("cell_n"))
        asg.join(broadcast(sizes.filter(col("cell_n") <= maxCellSize)), Seq("list_id"))
          .select(col(idCol), col("list_id"))
      }
    val l = kept.select(col("list_id"), col(idCol).as("a"))
    val r = kept.select(col("list_id"), col(idCol).as("b"))
    l.join(r, Seq("list_id")).filter(col("a") < col("b")).select(col("a"), col("b"))
  }

  /** IVF search against a trained centroid matrix: queries probe their
    * nprobe nearest cells (an array_sort projection — no shuffle on the
    * probe selection), exact cosine rank within the probed cells' members.
    * Cells are disjoint so no cross-probe dedup is needed (unlike LSH
    * tables). Returns (query_id, rank, neighbor_id, sim). */
  def ivfTopK(emb: DataFrame, queryIds: DataFrame, k: Int,
              cents: Array[Array[Double]], nprobe: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding",
              roundTo: Int = 4): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val asg = ivfAssignments(emb, cents, idCol, vecCol)
    val v = emb.select(col(idCol), toD(col(vecCol)).as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
    // zip the ONE scores array with centroid indices — embedding the full
    // score array once per centroid instead would build an O(nlist²)
    // expression tree (the same blow-up class as the pre-r4 LSH plane
    // literals)
    val sc = centroidScores(vecCol, cents)
    val scored = array_sort(
      zip_with(sc, typedlit(cents.indices.toArray),
        (s, i) => struct(s.as("score"), i.as("cid"))),
      (l, r) => when(l.getField("score") > r.getField("score"), lit(-1))
        .when(l.getField("score") < r.getField("score"), lit(1))
        .otherwise((l.getField("cid") - r.getField("cid")).cast("int")))
    val q = emb.join(queryIds.withColumnRenamed(queryIds.columns.head, idCol), Seq(idCol))
      .select(col(idCol).as("query_id"), toD(col(vecCol)).as("qv"),
        sqrt(dot(toD(col(vecCol)), toD(col(vecCol)))).as("qn"),
        explode(transform(slice(scored, 1, nprobe), s => s.getField("cid"))).as("list_id"))
    val c = v.join(asg, idCol)
      .select(col(idCol).as("neighbor_id"), col("v").as("cv"), col("n").as("cn"),
        col("list_id"))
    val sims = q.join(c, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("cv")) / (col("qn") * col("cn")), roundTo).as("sim"))
    rankTopK(sims, k)
  }
}
