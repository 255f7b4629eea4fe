package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.dedup.Dedup

/** Streaming ingestion & windowed analytics.
  *
  * The reference has NO streaming runtime (SURVEY §2.8) — "temporal" means
  * event-time columns queried retrospectively, and `rolling/expanding`
  * views are query-time iterators (db/api/view/time.rs:143-162). This
  * module is therefore additive: the same pages→edges extraction as a
  * Structured Streaming pipeline for live crawls, plus the batch
  * equivalents of rolling/expanding windows.
  */
object StreamIngest {

  /** Live crawl ingestion: watch a directory of pages-shaped parquet,
    * extract href edge events incrementally, append them as parquet.
    * Exactly the batch extraction (graft.io.Ingest) lifted to readStream —
    * the event `seq` becomes (ts, link_idx) ordering scoped per micro-batch
    * (global dense seq is a batch-compaction concern). */
  private def edgeEventStream(spark: SparkSession, pagesDir: String): DataFrame = {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("warc_ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("html", org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)))
    // extraction body shared with the batch path (Ingest.pageLinks): the
    // stream sink's schema — including link_idx's INT32 — stays identical
    // to batch-extracted event tables, so unions/compaction never mismatch
    spark.readStream.schema(schema).parquet(pagesDir)
      .select($"url", unix_millis($"warc_ts").as("ts"), $"html")
      .as[(String, Long, Array[Byte])]
      .flatMap { case (url, ts, html) => graft.io.Ingest.pageLinks(url, ts, html) }
      .toDF("src_url", "dst_url", "ts", "link_idx")
  }

  /** Start the stream writing edge events to `outDir` (parquet sink with
    * checkpointing — resumable like everything else in this engine). */
  def startEdgeIngest(spark: SparkSession, pagesDir: String, outDir: String,
                      checkpointDir: String): StreamingQuery =
    edgeEventStream(spark, pagesDir).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Watermarked per-window edge counts by destination host — the live
    * analogue of `rolling(window, step)` (db/api/view/time.rs:143-152). */
  def rollingEdgeCounts(events: DataFrame, window_ : String, slide: String,
                        watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_, slide),
        regexp_extract(col("dst_url"), "^https?://([^/]+)", 1).as("dst_host"))
      .agg(count(lit(1)).as("n_edges"))

  /** Running per-source totals over a live edge-event stream via
    * arbitrary stateful processing (KeyValueGroupedDataset
    * .mapGroupsWithState): each micro-batch folds its events into the
    * per-key state (event count, last event time) and emits the updated
    * row — the streaming analogue of a continuously-maintained degree
    * table. State lives in the streaming state store (checkpointed,
    * exactly-once on replay); use update/complete output mode. */
  def liveSourceTotals(events: DataFrame,
                       keyCol: String = "src_url", tsCol: String = "ts"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col(keyCol).cast("string"), col(tsCol).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (String, Long, Long)](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          var (n, last) = state.getOption.getOrElse((0L, Long.MinValue))
          rows.foreach { case (_, t) => n += 1; if (t > last) last = t }
          state.update((n, last))
          (key, n, last)
      }
      .toDF(keyCol, "n_events", "last_ts")
  }

  /** Streaming exact dedup for a live training-data ingest: emit each
    * content hash's FIRST document only, across micro-batches — the live
    * analogue of `dedup.Dedup.exactGroups`' keep-one row. Keyed by the
    * content-hash column; per-key state is a single seen marker in the
    * streaming state store (checkpointed — replay cannot re-emit a hash;
    * state is hash-partitioned across executors like any keyed state, so
    * the operator scales with the key space, not the stream length).
    * Within one micro-batch the kept row is the min doc id (deterministic
    * under shuffle). Use with append output mode.
    *
    * `stateTtlMs` is the unbounded-stream compromise: without it the
    * state store holds one marker per DISTINCT hash forever (exact-
    * forever dedup, state = O(key space)); with it a hash's marker
    * expires after that much processing-time inactivity — duplicates
    * within the TTL window still dedup exactly, a re-arrival after
    * expiry re-emits (each sighting refreshes the clock). At a
    * 100-TB/day ingest a TTL turns the state store into a sliding
    * recent-hash set instead of an ever-growing one. */
  def dedupStream(docs: DataFrame, idCol: String = "doc_id",
                  hashCol: String = "content_hash",
                  stateTtlMs: Option[Long] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val timeout =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs.select(col(hashCol).cast("string"), col(idCol).cast("long"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, Long)](
        OutputMode.Append(), timeout) {
        (hash, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            stateTtlMs.foreach(state.setTimeoutDuration) // refresh on sighting
            Iterator.empty
          } else {
            state.update(true)
            stateTtlMs.foreach(state.setTimeoutDuration)
            var keep = Long.MaxValue
            rows.foreach { case (_, id) => if (id < keep) keep = id }
            Iterator((hash, keep))
          }
      }
      .toDF(hashCol, idCol)
  }

  /** Streaming MinHash-LSH near-duplicate detection for a live ingest:
    * the banded batch path (Dedup.minhashNearDups) as one stateful
    * operator. Each arriving doc's signature is computed ROW-LOCALLY
    * (Dedup.minhashSigArray — no shuffle before the state op), exploded
    * to its band buckets, and compared inside its bucket's state-store
    * group against the signatures seen there before. Emits (a, b,
    * sig_agreement) for pairs whose signatures agree on >= `minAgree`
    * of the hashes — signature agreement is the unbiased Jaccard
    * estimate, the streaming stand-in for the batch exact-Jaccard
    * verify. 100-TB shape: state is hash-partitioned by bucket key
    * across executors; per-bucket state is HARD-capped at `bucketCap`
    * signatures — a hot boilerplate bucket stops accumulating (the
    * guard the batch path applies as maxBucketSize), so state is
    * O(buckets × cap), not O(stream). A pair sharing k band buckets is
    * emitted up to k times; dedup downstream (idempotent sink merge or
    * per-batch distinct). Append mode; checkpointed state makes replay
    * emit-once per (bucket, id). */
  def nearDupStream(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                    nHashes: Int = 16, bands: Int = 4, shingleN: Int = 5,
                    minAgree: Double = 0.7, bucketCap: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sig = Dedup.minhashSigArray(col(textCol), nHashes, shingleN)
    val banded = docs
      // a NULL text yields null signature elements, which the typed
      // decoder below rejects — and a shingle-less doc cannot be a
      // near-dup of anything; drop it before the state op
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), sig.as("sig"))
      .select(col("id"), col("sig"),
        posexplode(Dedup.bandBucketArray(col("sig"), bands, nHashes)).as(Seq("band", "bucket")))
      .select(concat_ws("/", col("band"), col("bucket")).as("key"), col("id"), col("sig"))
      .as[(String, Long, Array[Long])]
    // State per bucket = (kept ids, their signatures flattened nHashes
    // apiece) as two primitive Long arrays: the state store serializes /
    // deserializes EVERY touched group each micro-batch, and a flat
    // UnsafeArrayData round-trip is ~an order of magnitude cheaper than a
    // nested Seq[(Long, Seq[Long])] encoder (measured 2x on the whole
    // driver leg at sf0.1).
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[(Array[Long], Array[Long]), (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) { (_, rows, state) =>
        val (ids0, sigs0) = state.getOption.getOrElse((Array.empty[Long], Array.empty[Long]))
        if (ids0.length >= bucketCap) Iterator.empty // saturated: don't buffer the group
        else {
          // bounded selection — a hot key's micro-batch group may be huge,
          // so never materialize it: only the bucketCap smallest ids can
          // matter (max-heap of size cap; ids beyond it are ignored, the
          // bucket is saturating anyway). Ascending id replay keeps the
          // batch deterministic under shuffle.
          val pq = scala.collection.mutable.PriorityQueue
            .empty[(Long, Array[Long])](Ordering.by(_._1))
          for ((_, id, sg) <- rows) {
            pq.enqueue((id, sg))
            if (pq.size > bucketCap) pq.dequeue()
          }
          val ids = scala.collection.mutable.ArrayBuffer.from(ids0)
          val sigs = scala.collection.mutable.ArrayBuffer.from(sigs0)
          val out = Seq.newBuilder[(Long, Long, Double)]
          for ((id, sg) <- pq.dequeueAll.reverse) {
            if (ids.length < bucketCap && !ids.contains(id)) {
              var j = 0
              while (j < ids.length) {
                var eq = 0
                var h = 0
                while (h < nHashes) {
                  if (sigs(j * nHashes + h) == sg(h)) eq += 1; h += 1
                }
                val agree = eq.toDouble / nHashes
                if (agree >= minAgree)
                  out += ((math.min(id, ids(j)), math.max(id, ids(j)), agree))
                j += 1
              }
              ids += id; sigs ++= sg
            }
          }
          state.update((ids.toArray, sigs.toArray))
          out.result().iterator
        }
      }
      .toDF("a", "b", "sig_agreement")
  }

  /** Batch rolling windows over an edge-event table: one row per
    * (window_start, window_end) with edge/node activity counts —
    * `g.rolling(w, s)` as a single windowed aggregation. Exact distinct:
    * the per-window count-distinct partial-aggregates map-side (Expand +
    * two-phase HashAggregate), so it scales like any groupBy; pass
    * `approxRsd > 0` to trade exactness for one HLL pass at extreme
    * cardinalities. */
  def rollingActivity(edges: DataFrame, windowMs: Long, stepMs: Long,
                      approxRsd: Double = 0.0): DataFrame = {
    val w = window(timestamp_millis(col("ts")),
      s"$windowMs milliseconds", s"$stepMs milliseconds")
    val distinctSrc =
      if (approxRsd > 0) approx_count_distinct(col("src"), approxRsd)
      else count_distinct(col("src"))
    edges.groupBy(w.as("w"))
      .agg(count(lit(1)).as("n_events"), distinctSrc.as("n_active_src"))
      .select(unix_millis(col("w.start")).as("window_start"),
        unix_millis(col("w.end")).as("window_end"),
        col("n_events"), col("n_active_src"))
  }
}
