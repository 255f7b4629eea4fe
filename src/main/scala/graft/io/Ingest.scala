package graft.io

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFrames
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String
import graft.bsp.IterativeConf
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One temporal edge event, urls as endpoints (FIXTURES.md §A):
  * `edges(src_url, dst_url, ts, seq, layer)`. `seq` is the deterministic
  * global row index in (ts, src_url, link_index) order — the analogue of the
  * reference's per-event secondary sequence number
  * (raphtory-api/src/core/storage/timeindex.rs:7, reserved per ingest row at
  * raphtory/src/io/arrow/df_loaders.rs:192). */
case class EdgeEvent(src_url: String, dst_url: String, ts: Long, seq: Long, layer: String)

/** pages → edge-event table → dense vertex ids.
  *
  * VID minting reproduces the reference loader's id-assignment order — first
  * appearance wins, src resolved before dst, rows in ingestion order
  * (raphtory/src/io/arrow/df_loaders.rs:231-257) — which is load-bearing for
  * exact-match WCC component representatives (SURVEY.md §7.4). */
object Ingest {

  val DefaultLayer = "_default"

  /** Extract href edges from a pages table (any table with url/warc_ts/html
    * columns). Multi-edges and self-loops are preserved (dedup happens at
    * the algorithm adapters, mirroring the reference's adjacency-collapse —
    * raphtory/src/core/entities/nodes/node_store.rs:176-199). The result
    * is cached and materialised (release it with `unpersist()`); the
    * extraction and sort caches it was built from are released. */
  def edgeEvents(pages: DataFrame): Dataset[EdgeEvent] = {
    // HTML parsing is the expensive part: cache it for the sort's two
    // scans (range sampling, then the shuffle)
    val raw = rawLinks(pages).persist(StorageLevel.MEMORY_AND_DISK)
    try edgeEventsFromRaw(raw) finally raw.unpersist()
  }

  /** Seq assignment over an already-persisted raw-links table (edgeEvents
    * = rawLinks + this): the result is cached and materialised, and the
    * sort cache it was built from is released; `raw` stays the caller's. */
  private[graft] def edgeEventsFromRaw(raw: DataFrame): Dataset[EdgeEvent] = {
    val s = sequenced(raw)
    val events = s.events.persist(StorageLevel.MEMORY_AND_DISK)
    events.queryExecution.toRdd.foreachPartition(_ => ())
    s.sorted.unpersist()
    events
  }

  /** One page's href rows: (src_url, dst_url, ts, link_idx) — the single
    * extraction body shared by the batch (rawLinks) and streaming
    * (StreamIngest.edgeEventStream) paths, so the two sinks cannot drift
    * in schema (link_idx type) or semantics (href resolution). */
  private[graft] def pageLinks(url: String, ts: Long,
                               html: Array[Byte]): Seq[(String, String, Long, Int)] =
    Html.extractHrefs(new String(html, "UTF-8"), url).zipWithIndex.map {
      case (href, j) => (url, href, ts, j)
    }

  /** Href extraction without seq assignment: (src_url, dst_url, ts, link_idx). */
  def rawLinks(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select($"url", unix_millis($"warc_ts").as("ts"), $"html")
      .as[(String, Long, Array[Byte])]
      .flatMap { case (url, ts, html) => pageLinks(url, ts, html) }
      .toDF("src_url", "dst_url", "ts", "link_idx")
  }

  /** The counted sort's output: `sorted` holds (src_url, dst_url, ts,
    * link_idx) rows in (ts, src_url, link_idx) order, range-partitioned and
    * cached (the caller releases it); `numbered` is the same rows as edge
    * events with their seq, and `events` a frame over them. */
  private[graft] final case class Sequenced(events: Dataset[EdgeEvent], sorted: RDD[InternalRow],
                                           numbered: RDD[InternalRow])

  /** Assign the dense global `seq` by total order (ts, src_url, link_idx)
    * with one counted sort: a range-partitioned sort into P partitions,
    * cached; seq = rows in the partitions before + index in the partition,
    * where each partition learns the count before it from `rowsBefore`
    * inside the job that materialises the sort (no count job, no
    * single-partition window). Runs the range sampling job. */
  private[graft] def sequenced(raw: DataFrame): Sequenced = {
    val spark = raw.sparkSession
    IterativeConf.withStablePartitioning(spark) {
      val keys = Seq(col("ts"), col("src_url"), col("link_idx"))
      val sorted = raw.select(col("src_url"), col("dst_url"), col("ts"), col("link_idx"))
        .repartitionByRange(partitions(spark), keys: _*).sortWithinPartitions(keys: _*)
        .queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      val layer = UTF8String.fromString(DefaultLayer)
      val numbered = sorted.zipPartitions(rowsBefore(sorted)) { (it, before) =>
        var seq = before.next()
        val out = new GenericInternalRow(5)
        out.update(4, layer)
        val toUnsafe = UnsafeProjection.create(EventSchema)
        it.map { r =>
          out.update(0, r.getUTF8String(0)); out.update(1, r.getUTF8String(1))
          out.setLong(2, r.getLong(2)); out.setLong(3, seq)
          seq += 1
          toUnsafe(out): InternalRow
        }
      }
      Sequenced(frame(spark, EventSchema, numbered).as(Encoders.product[EdgeEvent]), sorted, numbered)
    }
  }

  /** A minted graph's tables, cached and materialised, whether every name
    * is numeric, and the tables derived from the edges with their rows. */
  private[graft] final case class Minted(nodes: DataFrame, edges: DataFrame, namesAreNumeric: Boolean,
                                        derived: Seq[(DataFrame, Long)])

  /** Dense first-appearance vertex ids, the edges over them and the
    * tables `derive` makes from the edges, for any edge-event table:
    * `mintOrdered` over a cached copy of its rows, which first go through a
    * sort by seq unless their partitions already hold them in seq order
    * (as `sequenced` leaves them). */
  private[graft] def mint(events: Dataset[EdgeEvent], derive: DataFrame => Seq[DataFrame]): Minted = {
    val spark = events.sparkSession
    def copyOf(df: DataFrame) = IterativeConf.withStablePartitioning(spark) {
      val rows = df.select(col("src_url"), col("dst_url"), col("ts"), col("seq"), col("layer")).queryExecution.toRdd
      // an empty table may have no partition; the mint needs one
      (if (rows.getNumPartitions > 0) rows else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1))
        .map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    }
    val rows = copyOf(events.toDF())
    try mintOrdered(spark, rows, rows, derive).getOrElse {
      val bySeq = copyOf(events.toDF().repartitionByRange(partitions(spark), col("seq"))
        .sortWithinPartitions(col("seq")))
      try mintOrdered(spark, bySeq, bySeq, derive).get finally bySeq.unpersist()
    } finally rows.unpersist()
  }

  /** Mints vids over edge events in seq order: partition i's rows come
    * before partition i+1's and are sorted in it. `urls` and `events` are
    * the same rows, read once each: `urls` needs src_url and dst_url first,
    * `events` is (src_url, dst_url, ts, seq, layer). One Spark job; None
    * (and nothing cached) when the rows turn out not to be in seq order.
    *
    * An appearance's place in that order is its key: (partition, index in
    * the partition, side) packed in a long, src (side 0) before dst. The
    * appearances are grouped by url; each url's least key and list of keys
    * go to its first appearance's partition, sorted by first key
    * there, and a vid is the count of urls in the partitions before
    * (`rowsBefore`) plus the index in its partition. Each key then goes
    * back to its row's partition with its url's vid, sorted, where a row's
    * two keys are adjacent and line up with `events`. The job caches
    * `nodes(vid, name)`, `edges(src, dst, ts, seq, layer)` and the
    * persisted tables `derive` makes from the edges (the graph's static
    * tables), counts the latter, and checks the order and whether every
    * name is numeric. */
  private[graft] def mintOrdered(spark: SparkSession, urls: RDD[InternalRow], events: RDD[InternalRow],
                                 derive: DataFrame => Seq[DataFrame]): Option[Minted] =
    IterativeConf.withStablePartitioning(spark) {
      val q = events.getNumPartitions
      val app = frame(spark, AppearanceSchema, urls.mapPartitionsWithIndex { (part, it) =>
        val out = new GenericInternalRow(2)
        val toUnsafe = UnsafeProjection.create(AppearanceSchema)
        it.zipWithIndex.flatMap { case (r, i) =>
          Iterator(0, 1).map { side =>
            out.update(0, r.getUTF8String(side)); out.setLong(1, keyOf(part, i, side))
            toUnsafe(out): InternalRow
          }
        }
      })
      // each url's keys, grouped by one hash pass where its appearances
      // land (a collect_list aggregate sorts instead past 128 urls a task)
      val grouped = app.repartition(partitions(spark), col("url")).queryExecution.toRdd.mapPartitions { it =>
        val keys = new java.util.HashMap[UTF8String, mutable.ArrayBuilder.ofLong]
        it.foreach { r =>
          val url = r.getUTF8String(0)
          val b = keys.get(url)
          if (b != null) b += r.getLong(1)
          else keys.put(url.clone(), new mutable.ArrayBuilder.ofLong += r.getLong(1))
        }
        val out = new GenericInternalRow(3)
        val toUnsafe = UnsafeProjection.create(GroupedSchema)
        keys.entrySet.iterator.asScala.map { e =>
          val ks = e.getValue.result()
          out.update(0, e.getKey); out.setLong(1, ks.min); out.update(2, UnsafeArrayData.fromPrimitiveArray(ks))
          toUnsafe(out): InternalRow
        }
      }
      // read three times: counted, then numbered for the nodes and the keys
      val ranked = frame(spark, GroupedSchema, grouped)
        .repartitionById(q, partOf(col("first"))).sortWithinPartitions(col("first"))
        .select(col("url"), col("keys")).queryExecution.toRdd
        .map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      val urlsBefore = rowsBefore(ranked)
      def withVids(f: (Iterator[InternalRow], () => Long) => Iterator[InternalRow]): RDD[InternalRow] =
        ranked.zipPartitions(urlsBefore) { (it, before) =>
          var vid = before.next() - 1
          f(it, () => { vid += 1; vid })
        }
      val nodes = frame(spark, NodeSchema, withVids { (it, nextVid) =>
        val out = new GenericInternalRow(2)
        val toUnsafe = UnsafeProjection.create(NodeSchema)
        it.map { r => out.setLong(0, nextVid()); out.update(1, r.getUTF8String(0)); toUnsafe(out): InternalRow }
      }).persist(StorageLevel.MEMORY_AND_DISK)
      val keyVids = frame(spark, KeyVidSchema, withVids { (it, nextVid) =>
        val out = new GenericInternalRow(2)
        val toUnsafe = UnsafeProjection.create(KeyVidSchema)
        it.flatMap { r =>
          out.setLong(1, nextVid())
          val keys = r.getArray(1)
          Iterator.range(0, keys.numElements()).map { k => out.setLong(0, keys.getLong(k)); toUnsafe(out): InternalRow }
        }
      }).repartitionById(q, partOf(col("key"))).sortWithinPartitions(col("key")).queryExecution.toRdd
      val edges = frame(spark, EdgeSchema, events.zipPartitions(keyVids) { (rows, kv) =>
        val out = new GenericInternalRow(5)
        val toUnsafe = UnsafeProjection.create(EdgeSchema)
        // the key's partition bits routed it here; sorted-plan iterators
        // need hasNext before each next
        def vidAt(index: Long): Long = {
          val kr = if (kv.hasNext) kv.next() else null
          require(kr != null && (kr.getLong(0) & IndexBits) == index, s"appearance $index of a partition has no vid")
          kr.getLong(1)
        }
        rows.zipWithIndex.map { case (r, i) =>
          out.setLong(0, vidAt(i.toLong << 1)); out.setLong(1, vidAt(i.toLong << 1 | 1))
          out.setLong(2, r.getLong(2)); out.setLong(3, r.getLong(3)); out.update(4, r.getUTF8String(4))
          toUnsafe(out): InternalRow
        }
      }).persist(StorageLevel.MEMORY_AND_DISK)
      val derived = derive(edges)
      // the edge and node tables have q partitions; per partition: its
      // seqs in order (their span, or None when they are not), and whether
      // its names are all numeric. Then each derived table's partition rows
      val checks = edges.queryExecution.toRdd.zipPartitions(nodes.queryExecution.toRdd) { (e, n) =>
        val seqs = e.map(_.getLong(3)).toArray
        val inOrder = seqs.indices.drop(1).forall(i => seqs(i - 1) <= seqs(i))
        val digits = java.util.regex.Pattern.compile("^[0-9]+$")
        val numeric = n.foldLeft(true)((all, r) => digits.matcher(r.getUTF8String(1).toString).find() && all)
        Iterator(MintPart(-1, 0L, if (inOrder) Some(seqs.headOption.map(h => (h, seqs.last))) else None, numeric))
      }
      val parts = spark.sparkContext.union(checks +: derived.zipWithIndex.map { case (d, t) =>
        d.queryExecution.toRdd.mapPartitions(it => Iterator(MintPart(t, it.size.toLong, None, numeric = true)))
      }).collect()
      ranked.unpersist()
      val (own, rows) = parts.partition(_.table < 0)
      val spans = own.flatMap(_.span.flatten)
      if (own.forall(_.span.isDefined) && spans.zip(spans.drop(1)).forall { case (a, b) => a._2 <= b._1 })
        Some(Minted(nodes, edges, own.forall(_.numeric),
          derived.zipWithIndex.map { case (d, t) => d -> rows.filter(_.table == t).map(_.rows).sum }))
      else { (nodes +: edges +: derived).foreach(_.unpersist()); None }
    }

  /** One partition's result in the mint job: `table` -1 is the edge and
    * node tables' check, t >= 0 counts derived table t. */
  private final case class MintPart(table: Int, rows: Long, span: Option[Option[(Long, Long)]], numeric: Boolean)

  /** An appearance's place in seq order (see `mintOrdered`). */
  private def keyOf(part: Int, index: Int, side: Int): Long = (part.toLong << 40) | (index.toLong << 1) | side
  private val IndexBits = (1L << 40) - 1
  private def partOf(key: org.apache.spark.sql.Column) = shiftright(key, 40).cast("int")

  private def partitions(spark: SparkSession): Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** For each partition of `rows`, the number of rows in the partitions
    * before it, computed where the rows are: each partition sends its count
    * to every partition through one small P×P shuffle inside the job that
    * reads the result, instead of a driver collect between two jobs. `rows`
    * is read twice (here and by the caller's zip), so it must be cached. */
  private def rowsBefore(rows: RDD[InternalRow]): RDD[Long] = {
    val n = rows.getNumPartitions
    rows.mapPartitionsWithIndex { (i, it) => val c = it.size.toLong; Iterator.range(i + 1, n).map(j => (j, c)) }
      .partitionBy(new HashPartitioner(n)) // an Int key j < n goes to partition j
      .mapPartitions(it => Iterator(it.map(_._2).sum))
  }

  private def frame(spark: SparkSession, schema: StructType, rows: RDD[InternalRow]): DataFrame =
    GraftFrames.ofRdd(spark, DataTypeUtils.toAttributes(schema), rows,
      UnknownPartitioning(rows.getNumPartitions))

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private val EventSchema = schema("src_url" -> StringType, "dst_url" -> StringType, "ts" -> LongType,
    "seq" -> LongType, "layer" -> StringType)
  private val AppearanceSchema = schema("url" -> StringType, "key" -> LongType)
  private val GroupedSchema = schema("url" -> StringType, "first" -> LongType, "keys" -> ArrayType(LongType, false))
  private val NodeSchema = schema("vid" -> LongType, "name" -> StringType)
  private val KeyVidSchema = schema("key" -> LongType, "vid" -> LongType)
  private val EdgeSchema = schema("src" -> LongType, "dst" -> LongType, "ts" -> LongType,
    "seq" -> LongType, "layer" -> StringType)
}
