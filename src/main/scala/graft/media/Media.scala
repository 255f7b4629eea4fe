package graft.media

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing for a training-data pipeline: image/audio/
  * video payloads ride as opaque `binary` columns with typed metadata, and
  * decode / feature-extraction / resize / frame-sampling run as typed
  * batch transforms over `mapPartitions` (the Scala analogue of a Pandas
  * UDF over mapInPandas: one partition = one batch of rows through a
  * vectorised kernel).
  *
  * The actual codec step is STUBBED (no image/audio libraries in this
  * container): `decodeStub` derives deterministic pseudo-metadata and
  * pseudo-features from the bytes (first-bytes hash), so the Spark-side
  * contract — schema, batch shape, partitioning, null handling — is real
  * and tested, and a production codec drops into `MediaCodec` unchanged.
  */
object Media {

  /** The typed row for decoded media metadata + features. */
  case class MediaFeatures(
      media_id: Long,
      kind: String,          // "image" | "audio" | "video"
      n_bytes: Long,
      width: Int,            // pixels (image/video) or 0
      height: Int,
      sample_rate: Int,      // Hz (audio) or 0
      n_frames: Int,         // video frames / audio windows sampled
      feature: Array[Float]) // fixed-width feature vector

  val FeatureDim = 16

  /** Codec seam: swap for a real implementation (JNI ffmpeg, javacv, ...)
    * on a cluster with the native libs installed. */
  trait MediaCodec extends Serializable {
    def decode(kind: String, bytes: Array[Byte]): (Int, Int, Int, Int) // w, h, rate, frames
    def features(bytes: Array[Byte], dim: Int): Array[Float]
  }

  /** Deterministic stand-in codec. Metadata derives from the first 60 bits
    * of md5(uppercase-hex(payload)) — a hash both Spark SQL and the DuckDB
    * oracle can recompute (`md5(hex(payload))`), so the m_media_features
    * driver query verifies end-to-end; features use a splitmix64 sample
    * walk (not oracled). */
  object StubCodec extends MediaCodec {
    private def mix(bytes: Array[Byte], salt: Long): Long = {
      var h = salt
      var i = 0
      while (i < bytes.length) {
        h = graft.io.Corpus.splitmix64(h ^ (bytes(i) & 0xffL) ^ (i.toLong << 32))
        i += math.max(1, bytes.length / 64) // sample up to ~64 positions
      }
      h
    }
    /** First 15 hex digits (60 bits) of md5 of the uppercase hex rendering:
      * positive in a signed 64-bit lane on both engines. */
    private def md5Meta(bytes: Array[Byte]): Long = {
      val hex = bytes.map(b => f"$b%02X").mkString
      val md = java.security.MessageDigest.getInstance("MD5")
      val digest = md.digest(hex.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(digest.substring(0, 15), 16)
    }
    override def decode(kind: String, bytes: Array[Byte]): (Int, Int, Int, Int) = {
      val h = md5Meta(bytes)
      kind match {
        case "image" => (64 + ((h & 0x3ff).toInt), 64 + (((h >>> 10) & 0x3ff).toInt), 0, 1)
        case "audio" => (0, 0, 8000 + (((h >>> 20) & 0x7fff).toInt), 1 + (((h >>> 36) & 0xff).toInt))
        case _       => (320 + ((h & 0x3ff).toInt), 240 + (((h >>> 10) & 0x3ff).toInt), 0,
                          1 + (((h >>> 20) & 0x3ff).toInt))
      }
    }
    override def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        out(i) = ((mix(bytes, i.toLong * 0x9E37L) >>> 11).toDouble / (1L << 53).toDouble).toFloat
        i += 1
      }
      out
    }
  }

  /** Real header-parsing codec for formats whose metadata lives in a fixed
    * header — pure JVM, no native libs, so it runs on any executor. Width/
    * height/sample-rate come from the actual bytes:
    *
    *  - PNG: 8-byte signature then the IHDR chunk (width/height u32 BE at
    *    offsets 16/20) — public PNG spec (RFC 2083 / ISO 15948);
    *  - JPEG: marker scan to the first SOFn frame header (height/width
    *    u16 BE) — ITU T.81 §B.2.2;
    *  - GIF: GIF87a/89a logical screen descriptor (u16 LE at 6/8);
    *  - WAV: RIFF/WAVE chunk walk — `fmt ` gives channels + sample rate,
    *    `data` size / block-align gives the frame count.
    *
    * Pixel decode (beyond the header) still needs a real image lib, so
    * `features` and unrecognised payloads delegate to `fallback` — the
    * deterministic StubCodec by default, which keeps synthetic-byte rows
    * (and the m_media_features oracle) exactly as before. */
  class HeaderCodec(fallback: MediaCodec = StubCodec) extends MediaCodec {
    private def u16be(b: Array[Byte], i: Int): Int = ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def u32be(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def u16le(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def u32le(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) | ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    private def ascii(b: Array[Byte], i: Int, n: Int): String =
      new String(b, i, n, "US-ASCII")

    /** (w, h, rate, frames) when the header parses, None otherwise. */
    def parse(bytes: Array[Byte]): Option[(Int, Int, Int, Int)] = {
      val b = bytes
      if (b.length >= 24 && (b(0) & 0xff) == 0x89 && ascii(b, 1, 3) == "PNG"
          && ascii(b, 12, 4) == "IHDR")
        Some((u32be(b, 16), u32be(b, 20), 0, 1))
      else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
          && (b(2) & 0xff) == 0xff) {
        // marker scan: SOF0-15 minus DHT(C4)/JPG(C8)/DAC(CC) carry the frame dims
        var i = 2
        var out = Option.empty[(Int, Int, Int, Int)]
        while (out.isEmpty && i + 3 < b.length && (b(i) & 0xff) == 0xff) {
          val m = b(i + 1) & 0xff
          if (m == 0xff) i += 1 // fill byte (ITU T.81 B.1.1.2), not a segment
          else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            if (i + 8 < b.length) out = Some((u16be(b, i + 7), u16be(b, i + 5), 0, 1))
            else i = b.length
          } else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
          else if (i + 3 < b.length) i += 2 + u16be(b, i + 2)
          else i = b.length
        }
        out
      } else if (b.length >= 10 && (ascii(b, 0, 6) == "GIF87a" || ascii(b, 0, 6) == "GIF89a"))
        // frame count from the real block walk (GIF89a spec §20-§26):
        // each image descriptor (0x2C) is one frame; truncated payloads
        // keep the header-only default of 1
        Some((u16le(b, 6), u16le(b, 8), 0, math.max(1, gifFrames(b))))
      else if (b.length >= 12 && ascii(b, 0, 4) == "RIFF" && ascii(b, 8, 4) == "WAVE") {
        // pos walks in Long: size is an untrusted u32, and the old Int
        // advance (8 + size.toInt + (size.toInt & 1)) truncated sizes near
        // 2^32 to a zero/negative step — an infinite loop on a crafted
        // payload. In Long the step is always >= 8, so the walk terminates.
        var pos = 12L
        var rate = 0
        var blockAlign = 0
        var dataSize = 0L
        while (pos + 8 <= b.length) {
          val p = pos.toInt
          val id = ascii(b, p, 4)
          val size = u32le(b, p + 4)
          if (id == "fmt " && p + 20 <= b.length) {
            rate = u32le(b, p + 12).toInt
            blockAlign = if (p + 22 <= b.length) u16le(b, p + 20) else 0
          } else if (id == "data") dataSize = size
          pos += 8L + size + (size & 1L) // chunks are word-aligned
        }
        if (rate > 0) {
          // untrusted u32 data size / small blockAlign can exceed Int range
          // — cap instead of wrapping negative
          val frames = if (blockAlign > 0)
            math.min(dataSize / blockAlign, Int.MaxValue.toLong).toInt else 0
          Some((0, 0, rate, frames))
        } else None
      } else None
    }

    /** Count image descriptors by walking the GIF block structure: header
      * (6) + logical screen descriptor (7) + optional global colour table,
      * then 0x21 extensions (size-prefixed sub-blocks), 0x2C image
      * descriptors (descriptor + optional local colour table + LZW code
      * size + sub-blocks), 0x3B trailer. Every step advances `pos`, so the
      * walk terminates on any input; malformed tails stop the count. */
    private def gifFrames(b: Array[Byte]): Int = {
      var pos = 13
      if (b.length > 10 && (b(10) & 0x80) != 0) pos += 3 * (1 << ((b(10) & 7) + 1))
      var frames = 0
      var done = false
      def skipSubBlocks(): Unit = {
        var sz = if (pos < b.length) b(pos) & 0xff else 0
        pos += 1
        while (sz != 0 && pos < b.length) {
          pos += sz
          sz = if (pos < b.length) b(pos) & 0xff else 0
          pos += 1
        }
      }
      while (!done && pos < b.length) {
        (b(pos) & 0xff) match {
          case 0x2c =>
            if (pos + 10 <= b.length) {
              frames += 1
              val lflags = b(pos + 9) & 0xff
              pos += 10
              if ((lflags & 0x80) != 0) pos += 3 * (1 << ((lflags & 7) + 1))
              pos += 1 // LZW minimum code size
              skipSubBlocks()
            } else { done = true }
          case 0x21 => pos += 2; skipSubBlocks()
          case 0x3b => done = true
          case _    => done = true // unknown block: keep the frames seen
        }
      }
      frames
    }

    override def decode(kind: String, bytes: Array[Byte]): (Int, Int, Int, Int) =
      parse(bytes).getOrElse(fallback.decode(kind, bytes))
    override def features(bytes: Array[Byte], dim: Int): Array[Float] =
      fallback.features(bytes, dim)
  }
  object HeaderCodec extends HeaderCodec(StubCodec)

  /** Batch decode + feature extraction: (media_id, kind, payload) →
    * MediaFeatures. Runs partition-at-a-time; null payloads are dropped
    * (recorded upstream by the caller's quality gate). */
  def extractFeatures(media: DataFrame, codec: MediaCodec = StubCodec): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id").cast("long"), col("kind").cast("string"),
        col("payload").cast("binary"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.collect { case (id, kind, bytes) if bytes != null =>
          val (w, h, rate, frames) = codec.decode(kind, bytes)
          MediaFeatures(id, kind, bytes.length.toLong, w, h, rate, frames,
            codec.features(bytes, FeatureDim))
        }
      }
  }

  /** Frame sampling plan for video rows: every `stride`-th frame up to
    * `maxFrames`, as (media_id, frame_index) — the shuffle-friendly shape
    * for a downstream per-frame decode. */
  def sampleFrames(features: Dataset[MediaFeatures], stride: Int, maxFrames: Int): DataFrame = {
    // fail on the driver, not as a wrapped step-cannot-be-zero inside tasks
    require(stride > 0, s"sampleFrames needs stride > 0 (got $stride)")
    require(maxFrames > 0, s"sampleFrames needs maxFrames > 0 (got $maxFrames)")
    val spark = features.sparkSession
    import spark.implicits._
    features.filter(_.kind == "video")
      .flatMap(f => (0 until f.n_frames by stride).take(maxFrames).map(i => (f.media_id, i)))
      .toDF("media_id", "frame_index")
  }

  /** Resize plan: target box (maxW, maxH) preserving aspect ratio —
    * pure-metadata computation (the pixel op lives behind MediaCodec). */
  def resizePlan(features: Dataset[MediaFeatures], maxW: Int, maxH: Int): DataFrame = {
    val spark = features.sparkSession
    import spark.implicits._
    features.filter(f => f.kind != "audio" && f.width > 0 && f.height > 0)
      .map { f =>
        val scale = math.min(1.0, math.min(maxW.toDouble / f.width, maxH.toDouble / f.height))
        (f.media_id, f.width, f.height,
          math.max(1, math.round(f.width * scale).toInt),
          math.max(1, math.round(f.height * scale).toInt))
      }
      .toDF("media_id", "width", "height", "target_width", "target_height")
  }

  /** Crafted REAL-header rows (media_id 1000..1003): minimal valid
    * PNG/JPEG/GIF/WAV payloads with known metadata, appended to the aux
    * media dump so the driver oracle exercises HeaderCodec on real bytes
    * (expected values ride as literals in the oracle SQL):
    *
    *   1000 image PNG  24 B  640×480      1001 image JPEG 18 B 512×256
    *   1002 image GIF  10 B  320×200      1003 audio WAV  52 B 44100 Hz, 2 frames
    */
  def craftedMedia(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = b(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 0, 0, 0, 0x0d) ++
      "IHDR".getBytes("US-ASCII") ++ b(0, 0, 2, 0x80, 0, 0, 1, 0xe0)
    val jpeg = b(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0x00, 0x00,
      0xff, 0xc0, 0x00, 0x11, 0x08, 0x01, 0x00, 0x02, 0x00, 0x03)
    val gif = "GIF89a".getBytes("US-ASCII") ++ b(0x40, 0x01, 0xc8, 0x00)
    val wav = "RIFF".getBytes("US-ASCII") ++ b(0x24, 0, 0, 0) ++
      "WAVE".getBytes("US-ASCII") ++ "fmt ".getBytes("US-ASCII") ++
      b(0x10, 0, 0, 0, 0x01, 0, 0x02, 0, 0x44, 0xac, 0, 0, 0x10, 0xb1, 0x02, 0, 0x04, 0, 0x10, 0) ++
      "data".getBytes("US-ASCII") ++ b(0x08, 0, 0, 0) ++ Array.fill[Byte](8)(0)
    Seq((1000L, "image", png), (1001L, "image", jpeg), (1002L, "image", gif),
      (1003L, "audio", wav)).toDF("media_id", "kind", "payload")
  }

  /** Deterministic synthetic media table for tests/benchmarks: payload
    * bytes derive from (seed, id); kind cycles image/audio/video. */
  def syntheticMedia(spark: org.apache.spark.sql.SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map { i =>
      val kind = (i % 3) match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
      val len = 256 + (graft.io.Corpus.splitmix64(seed ^ i) & 0x3ff).toInt
      val bytes = new Array[Byte](len)
      var j = 0
      var h = graft.io.Corpus.splitmix64(seed + i)
      while (j < len) {
        h = graft.io.Corpus.splitmix64(h)
        bytes(j) = (h & 0xff).toByte
        j += 1
      }
      (i, kind, bytes)
    }.toDF("media_id", "kind", "payload")
  }
}
