package graft.io

import org.apache.spark.sql.{Dataset, SparkSession}
import java.sql.Timestamp

/** One Common-Crawl-style page row — exactly the BASELINE.json input_hint
  * shape: (url:string, warc_ts:timestamp, html:binary, text:string,
  * lang:string). */
case class Page(url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String)

/** Deterministic synthetic web corpus (FIXTURES.md §A).
  *
  * Link structure mirrors the reference's seeded random-attachment
  * generator *semantics* (each new node picks `k` distinct existing nodes
  * uniformly without replacement; timestamps increment by one per node —
  * /root/reference/raphtory/src/graphgen/random_attachment.rs:51-88) but is
  * re-specified as a counter-based hash process so every page row is a pure
  * function of (seed, i): generation is embarrassingly parallel via
  * `spark.range(n)` with no sequential RNG state — the property that makes
  * the same generator run at 10^12 rows on a real cluster.
  */
object Corpus {

  val BaseMillis: Long = 1767225600000L // 2026-01-01T00:00:00Z

  /** SplitMix64 — public-domain mixing function (Steele et al., JDK
    * SplittableRandom). */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Distinct link targets of page i: min(k, i) picks from [0, i) without
    * replacement, via rejection sampling on a counter-based stream. Pure in
    * (seed, i). */
  def linkTargets(i: Long, k: Int, seed: Long): Array[Long] = {
    val m = math.min(k.toLong, i).toInt
    val out = new Array[Long](m)
    var size = 0
    var attempt = 0L
    val base = splitmix64(seed ^ splitmix64(i))
    while (size < m) {
      val r = splitmix64(base + attempt)
      val j = java.lang.Long.remainderUnsigned(r, i)
      var dup = false
      var p = 0
      while (p < size && !dup) { if (out(p) == j) dup = true; p += 1 }
      if (!dup) { out(size) = j; size += 1 }
      attempt += 1
    }
    out
  }

  def url(i: Long): String = f"https://site${i % 1000}%04d.example/p/$i"

  private def warcMillis(i: Long): Long = BaseMillis + i * 1000L

  /** Render the page per the FIXTURES.md §A template (byte-exact). */
  def renderHtml(i: Long, k: Int, seed: Long): String = {
    val links = linkTargets(i, k, seed).zipWithIndex
      .map { case (t, j) => s"""<a href="${url(t)}">link ${j + 1}</a>""" }
    val sb = new StringBuilder
    sb ++= s"<html><head><title>${url(i)}</title></head><body>\n"
    sb ++= s"<p>Page $i of the synthetic crawl.</p>\n"
    if (links.nonEmpty) { sb ++= links.mkString(" "); sb ++= "\n" }
    sb ++= "</body></html>"
    sb.toString
  }

  def page(i: Long, k: Int, seed: Long): Page = {
    val html = renderHtml(i, k, seed)
    Page(url(i), new Timestamp(warcMillis(i)), html.getBytes("UTF-8"),
      Html.extractText(html), "en")
  }

  /** The distributed pages table: n pages, k out-links each (pages 0..k-1
    * have fewer), seeded. Column order matches input_hint exactly. */
  def pages(spark: SparkSession, n: Long, k: Int, seed: Long = 42L,
            numPartitions: Int = 0): Dataset[Page] = {
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions
                else spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts).map(i => page(i, k, seed))
  }

  /** The unit-test size from FIXTURES.md §A. */
  def tiny(spark: SparkSession): Dataset[Page] = pages(spark, 120L, 2)
}
