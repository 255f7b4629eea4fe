package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication for a web-scale training-data pipeline: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All definitions are relational (shuffle
  * shapes: groupBy on hash keys, band-bucket self-joins) and hash-portable
  * (md5-derived), so they verify against the DuckDB oracle and survive a
  * 1000-executor scale-up: every stage is a hash-partitioned aggregation
  * or equi-join — no driver state. */
object Dedup {

  /** Default bound on all-pairs cosine comparisons (embeddingNearDups):
    * ~10^8 codegen dots ≈ a few seconds on one box; anything bigger is
    * IVF-cell territory. Override: `graft.dedup.maxPairs` Spark conf. */
  private val DefaultMaxPairs: Long = 100L * 1000 * 1000

  /** Exact duplicate groups: (text_hash, n_docs, first_doc). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("first_doc"))

  /** Normalised (case/whitespace-folded) duplicate groups. */
  def normalizedGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(TextOps.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("first_doc"))

  /** Carter–Wegman mixing constants for the minhash family, derived
    * deterministically from the seed index via md5 so the DuckDB oracle
    * can interpolate the SAME literals. `mixA` is odd and < 2^31 (so
    * a·h + b < 2^63 — no 64-bit overflow on either engine for 32-bit h);
    * `mixB` is a full 32-bit offset. */
  def mixA(seed: Int): Long = (md5u32Local(s"a:$seed") & 0x7ffffffeL) | 1L
  def mixB(seed: Int): Long = md5u32Local(s"b:$seed")

  private def md5u32Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  /** Wide MinHash signatures over char-`shingleN`-gram shingles: one row
    * per doc with columns mh0..mh{nHashes-1}. ONE md5 per shingle; the
    * nHashes family is derived by cheap affine universal mixes
    * h_s = (mixA(s)·h + mixB(s)) mod 2^32 (Carter–Wegman), so the scatter
    * is O(shingles) with a single cryptographic hash each — not
    * O(shingles × nHashes) md5 invocations (the per-seed-md5 formulation
    * cost nHashes× more hashing; the seed-crossJoin one additionally
    * inflated the shuffle nHashes-fold). All mixes compute in a single
    * projection + one groupBy.
    *
    * Family-quality check (sf0.01 documents, 4 bands × 2 rows): the
    * theoretical expected candidate-pair count from true pairwise
    * Jaccards is ~14.9k; four independent draws of the per-seed-md5
    * family yield 4.1k–22.6k and four draws of this affine family yield
    * 5.7k–16.1k — the draw-to-draw variance (popular shingles winning a
    * min correlate quadratically many pairs at once) dwarfs any family
    * difference, so the 8×-cheaper family costs no selectivity.
    *
    * Band geometry: the pipeline default is 16 hashes in 4 bands of 4
    * rows — LSH threshold (1/bands)^(rows⁻¹)... i.e. (1/4)^(1/4) ≈ 0.707,
    * matched to the 0.7 Jaccard verify target. Measured on the synthetic
    * web corpus (boilerplate-template heavy): sf0.1 candidates fall
    * 554k → 16k vs the round-2 8-hash/2-row geometry while every one of
    * the 256 true J ≥ 0.7 pairs is still produced (recall 1.0; sf0.01:
    * 5.7k → 188 candidates, 25/25 pairs). Pick rows ≈ log(1/bands) /
    * log(threshold) when tuning for a different verify threshold. */
  def minhashWide(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                  nHashes: Int = 16, shingleN: Int = 5): DataFrame = {
    val shingles = TextOps.charShingles(docs, idCol, textCol, shingleN)
      .select(col(idCol), TextOps.md5u32(col("shingle")).as("h"))
    val aggs = (0 until nHashes).map { s =>
      min(pmod(lit(mixA(s)) * col("h") + lit(mixB(s)), lit(1L << 32))).as(s"mh$s")
    }
    shingles.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-row minhash signature as ONE array column — the shuffle-free
    * form of [[minhashWide]] (identical shingling, hash family, and
    * geometry; byte-parity spec in StreamingSpec). Row-local evaluation
    * makes it legal on a STREAMING DataFrame (minhashWide's groupBy
    * would be a second stateful operator before the LSH state join) and
    * is also the cheaper batch plan when the doc row is already in hand:
    * no shingle explode, no shuffle, no re-group. */
  def minhashSigArray(textCol: Column, nHashes: Int = 16, shingleN: Int = 5): Column = {
    // same shingling as TextOps.charShingles (short texts yield one
    // short shingle; min over the multiset == min over the distinct set)
    val shingles = transform(
      sequence(lit(1), greatest(length(textCol) - lit(shingleN - 1), lit(1))),
      i => textCol.substr(i, lit(shingleN)))
    val hs = transform(shingles, sh => TextOps.md5u32(sh))
    array((0 until nHashes).map { s =>
      array_min(transform(hs, h => pmod(lit(mixA(s)) * h + lit(mixB(s)), lit(1L << 32))))
    }: _*)
  }

  /** Per-row LSH band bucket ids from a signature array: `bands` md5
    * bucket ids, byte-identical to [[lshBucketsWide]]'s (same sorted
    * "seed:minhash" entry encoding). */
  def bandBucketArray(sig: Column, bands: Int = 4, nHashes: Int = 16): Column = {
    val rows = nHashes / bands
    array((0 until bands).map { b =>
      val entries = (b * rows until (b + 1) * rows)
        .map(s => concat_ws(":", lit(s), element_at(sig, s + 1)))
      md5(concat_ws(",", sort_array(array(entries: _*))).cast("binary"))
    }: _*)
  }

  /** MinHash signatures in long form: (id, seed, minhash) with seeds
    * 0..nHashes-1 — a narrow explode over the wide form (same hashes). */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                        nHashes: Int = 16, shingleN: Int = 5): DataFrame = {
    val wide = minhashWide(docs, idCol, textCol, nHashes, shingleN)
    val entries = (0 until nHashes).map { s =>
      struct(lit(s).cast("int").as("seed"), col(s"mh$s").as("minhash"))
    }
    wide.select(col(idCol), explode(array(entries: _*)).as("e"))
      .select(col(idCol), col("e.seed").as("seed"), col("e.minhash").as("minhash"))
  }

  /** LSH band buckets from the wide signature form: (id, band, bucket),
    * `bands` bands of nHashes/bands rows — a pure projection (no shuffle).
    * Bucket id = md5 of the lexicographically sorted "seed:minhash"
    * entries, comma-joined (the encoding the d_lsh_candidates oracle SQL
    * replays). */
  def lshBucketsWide(wide: DataFrame, idCol: String = "doc_id",
                     bands: Int = 4, nHashes: Int = 16): DataFrame = {
    // ONE canonical bucket-id encoding: delegate to bandBucketArray so
    // the batch and streaming paths cannot drift
    val sig = array((0 until nHashes).map(s => col(s"mh$s")): _*)
    wide.select(col(idCol),
      posexplode(bandBucketArray(sig, bands, nHashes)).as(Seq("band", "bucket")))
  }

  /** Candidate near-duplicate pairs: ids sharing any band bucket (a < b).
    *
    * `maxBucketSize` is the web-scale guard: a hot bucket of size b (every
    * boilerplate page hashing identically) contributes O(b²) pairs; buckets
    * larger than the cap are dropped (members that are genuine near-dups
    * almost always co-occur in another, smaller band bucket — standard
    * MinHash-LSH practice). 0 = no cap (the oracle-exact default). */
  def lshCandidates(buckets: DataFrame, idCol: String = "doc_id",
                    maxBucketSize: Long = 0L): DataFrame = {
    val b =
      if (maxBucketSize <= 0L) buckets
      else {
        val sizes = buckets.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucketSize)
        buckets.join(sizes.select(col("band"), col("bucket")), Seq("band", "bucket"),
          "left_semi")
      }
    val l = b.select(col("band"), col("bucket"), col(idCol).as("a"))
    val r = b.select(col("band"), col("bucket"), col(idCol).as("b"))
    l.join(r, Seq("band", "bucket")).filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Exact Jaccard over char shingle sets for given candidate pairs:
    * (a, b, jaccard). */
  def jaccardVerify(pairs: DataFrame, shingles: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val sizes = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(shingles.select(col(idCol).as("a"), col("shingle")), Seq("a"))
      .join(shingles.select(col(idCol).as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("sz").as("szb")), Seq("b"))
      .select(col("a"), col("b"),
        round(coalesce(col("inter"), lit(0L)) /
          (col("sza") + col("szb") - coalesce(col("inter"), lit(0L))), 6).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates verified at `threshold`
    * Jaccard over char shingles. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.7,
                      idCol: String = "doc_id", textCol: String = "text",
                      nHashes: Int = 16, bands: Int = 4, shingleN: Int = 5,
                      maxBucketSize: Long = 0L): DataFrame = {
    val wide = minhashWide(docs, idCol, textCol, nHashes, shingleN)
    val cands = lshCandidates(lshBucketsWide(wide, idCol, bands, nHashes), idCol, maxBucketSize)
    val shingles = TextOps.charShingles(docs, idCol, textCol, shingleN)
    jaccardVerify(cands, shingles, idCol).filter(col("jaccard") >= threshold)
  }

  /** Duplicate-cluster canonicalization — the "keep one copy per near-dup
    * group" step of a training-data pipeline: verified MinHash-LSH near-dup
    * pairs (Jaccard >= threshold) define an undirected doc graph; each doc
    * is labelled with the minimum doc id of its connected cluster, and the
    * cluster minimum is the canonical copy (`keep = true`; singletons keep
    * themselves). Returns (id, cluster, keep).
    *
    * HashMin label propagation on WCC's superstep (Wcc.hashMin: one
    * shuffle per step, lazy checkpoint + convergence count fused into one
    * job on the bsp.Superstep driver). Near-dup clusters are near-cliques,
    * so the loop converges in a handful of supersteps regardless of corpus
    * size; every stage is a hash-partitioned equi-join/agg — no driver
    * state. */
  def dupClusters(docs: DataFrame, threshold: Double = 0.7,
                  idCol: String = "doc_id", textCol: String = "text",
                  nHashes: Int = 16, bands: Int = 4, shingleN: Int = 5,
                  maxBucketSize: Long = 0L,
                  ctx: graft.bsp.RunContext = graft.bsp.RunContext.none): DataFrame =
    clustersFromPairs(docs.select(col(idCol).as("id")),
      minhashNearDups(docs, threshold, idCol, textCol, nHashes, bands,
        shingleN, maxBucketSize).select(col("a"), col("b")), ctx)

  /** The label-propagation core of [[dupClusters]], reusable with any
    * verified dup-pair table (`(a, b)` — e.g. memoized LSH candidates
    * post-Jaccard, or IVF-cell embedding pairs): ids not in any pair stay
    * singleton clusters. */
  def clustersFromPairs(ids: DataFrame, dupPairs: DataFrame,
                        ctx: graft.bsp.RunContext = graft.bsp.RunContext.none): DataFrame = {
    val dup = dupPairs.select(col("a"), col("b"))
    graft.bsp.Superstep.withStatic(dup.union(dup.select(col("b").as("a"), col("a").as("b"))), "a") {
      graft.algo.Wcc.hashMin("dup_clusters", ids.select(col("id")), "cluster", _, Long.MaxValue, ctx)
    }.select(col("id"), col("cluster"), (col("id") === col("cluster")).as("keep"))
  }

  /** 32-bit SimHash over whitespace tokens: sign-sum of md5u32 token-hash
    * bits. Returns (id, simhash). */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tokens = docs
      .select(col(idCol), explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", TextOps.md5u32(col("tok")))
    val bitSums = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agg = tokens.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until 32).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col(idCol), value.as("simhash"))
  }

  /** Near-dup candidate pairs by simhash hamming distance ≤ maxDist,
    * blocked on disjoint (32/bands)-bit bands (Manku et al., WWW'07 §3):
    * a pair is a candidate iff SOME band is bit-identical, so by
    * pigeonhole every pair with hamming distance < bands is found.
    * `bands` is a MINIMUM — when it does not cover maxDist the count is
    * auto-widened to the smallest divisor of 32 that does (a caller
    * asking maxDist = 4 with 4 bands would silently lose recall
    * otherwise), so the blocking is always complete for the requested
    * distance. Block key = (band index, band value): one projection +
    * posexplode, per-band equi-join, distinct. */
  def simhashNearDups(sh: DataFrame, maxDist: Int = 3, idCol: String = "doc_id",
                      bands: Int = 4): DataFrame = {
    require(32 % bands == 0, s"bands must divide 32, got $bands")
    require(maxDist >= 0 && maxDist < 32, s"maxDist must be in [0, 32), got $maxDist")
    val effBands = Iterator(1, 2, 4, 8, 16, 32)
      .find(b => b >= bands && b > maxDist).get
    val width = 32 / effBands
    val mask = (1L << width) - 1
    val bandCols = (0 until effBands).map(b => shiftright(col("simhash"), b * width).bitwiseAND(mask))
    val blocked = sh.select(col(idCol), col("simhash"),
        posexplode(array(bandCols: _*)).as(Seq("band", "blk")))
    val l = blocked.select(col("band"), col("blk"), col(idCol).as("a"), col("simhash").as("ha"))
    val r = blocked.select(col("band"), col("blk"), col(idCol).as("b"), col("simhash").as("hb"))
    l.join(r, Seq("band", "blk")).filter(col("a") < col("b"))
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
      .distinct()
  }

  /** Embedding-cosine near-dup pairs over a full cross product (baseline;
    * the bucketed scale paths are graft.sim.Ann's LSH tables / IVF cells).
    * Norms are computed ONCE per row before the join (not per pair — at n
    * rows that is n vs n² sqrt(dot(v,v)) evaluations, bit-identical
    * values either way), and the pair dot is the codegen DotProduct
    * (same index-order summation as the lambda formulation, ~10× faster:
    * the r4 bench caught the HOF version at 62 s on 4M pairs). */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Fail fast above a pair bound instead of silently launching an O(n²)
    // cross join at scale — the same contract as every other intentionally
    // bounded path (DriverGuard). Override: `graft.dedup.maxPairs` conf.
    val spark = emb.sparkSession
    val maxPairs = spark.conf.getOption("graft.dedup.maxPairs").map(_.toLong)
      .getOrElse(DefaultMaxPairs)
    val n = emb.count()
    // n*(n-1)/2 overflows Long past ~3e9 rows and would silently BYPASS
    // the guard; compare against the bound without the full product
    val pairs = if (n > 3000000000L) Long.MaxValue else n * (n - 1) / 2
    if (pairs > maxPairs)
      throw new IllegalStateException(
        s"Dedup.embeddingNearDups is the all-pairs BASELINE and would compute $pairs " +
          s"cosine pairs > graft.dedup.maxPairs=$maxPairs. Scale path: " +
          "sim.Ann.ivfCandidates + Dedup.embeddingVerify (bucketed IVF cells, hot-cell cap)")
    val v = normedVectors(emb, idCol, vecCol)
    val l = v.select(col(idCol).as("a"), col("v").as("va"), col("n").as("na"))
    val r = v.select(col(idCol).as("b"), col("v").as("vb"), col("n").as("nb"))
    cosineVerify(l.join(r, col("a") < col("b")), threshold)
  }

  /** (id, v, n): double-cast vectors with their norm precomputed once per
    * row (sqrt(dot(v,v)), codegen DotProduct). */
  private def normedVectors(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val dot = graft.functions.VectorFunctions.dot_product _
    emb.select(col(idCol), transform(col(vecCol), (x: Column) => x.cast("double")).as("v"))
      .withColumn("n", sqrt(dot(col("v"), col("v"))))
  }

  /** Shared cosine pair-verify: filter on the UNROUNDED cosine, round for
    * output — both embedding near-dup paths (cross product, IVF cells)
    * must keep identical arithmetic so their oracles stay replayable. */
  private def cosineVerify(pairs: DataFrame, threshold: Double): DataFrame = {
    val dot = graft.functions.VectorFunctions.dot_product _
    pairs
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Candidate-restricted embedding verify: candidate pairs (a, b) — e.g.
    * sim.Ann.ivfCandidates — joined to their vectors, same arithmetic as
    * embeddingNearDups. */
  def embeddingVerify(pairs: DataFrame, emb: DataFrame, threshold: Double,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = normedVectors(emb, idCol, vecCol)
    cosineVerify(
      pairs
        .join(v.select(col(idCol).as("a"), col("v").as("va"), col("n").as("na")), Seq("a"))
        .join(v.select(col(idCol).as("b"), col("v").as("vb"), col("n").as("nb")), Seq("b")),
      threshold)
  }
}
