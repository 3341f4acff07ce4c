package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline: image/audio/video payloads
  * are opaque `binary` columns flowing through the same typed-Dataset
  * machinery as html. The Spark-side plumbing — schema, batched
  * `mapPartitions`, partition behavior — is real and tested; only the heavy
  * media DECODE is stubbed (no image/audio libraries exist in this container),
  * clearly marked below, behind the same function signature a real decoder
  * would use.
  *
  * Container-header parsing (PNG IHDR, JPEG SOF, WAV fmt) is REAL code —
  * that is the part a Spark pipeline owns even in production (cheap metadata
  * without full decode, e.g. for size filtering before the expensive stage).
  */
object Multimodal {

  final case class MediaMeta(
      format: String, // png | jpeg | wav | unknown
      width: Int,     // -1 when n/a
      height: Int,    // -1 when n/a
      sampleRate: Int, // -1 when n/a
      channels: Int,   // -1 when n/a
      bytes: Long)

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Parse container headers; never throws (unknown on anything malformed). */
  def meta(b: Array[Byte]): MediaMeta = {
    val n = if (b == null) 0 else b.length
    try {
      if (n >= 24 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') {
        // PNG: 8-byte sig, IHDR chunk: len, "IHDR", width BE32, height BE32
        MediaMeta("png", be32(b, 16), be32(b, 20), -1, -1, n.toLong)
      } else if (n >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
        // JPEG: walk markers to SOF0/1/2 (FFC0/C1/C2): len, precision, H BE16, W BE16
        var i = 2
        var out: MediaMeta = null
        while (out == null && i + 4 <= n && (b(i) & 0xff) == 0xff) {
          val marker = b(i + 1) & 0xff
          if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) {
            if (i + 9 <= n) out = MediaMeta("jpeg", be16(b, i + 7), be16(b, i + 5), -1, -1, n.toLong)
            else i = n
          } else if (marker == 0xff) i += 1 // T.81 B.1.1.2: 0xFF fill bytes may pad any marker
          else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd9)) i += 2
          else i += 2 + (if (i + 4 <= n) be16(b, i + 2) else n)
        }
        if (out != null) out else MediaMeta("unknown", -1, -1, -1, -1, n.toLong)
      } else if (n >= 36 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E') {
        // WAV: WALK the RIFF chunks to "fmt " (pro-audio tools put JUNK or
        // LIST first — assuming offset 12 would read garbage sample rates);
        // fmt payload: audioFormat LE16, channels LE16, sampleRate LE32
        var i = 12
        var out: MediaMeta = null
        while (out == null && i + 8 <= n) {
          val isFmt = b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' '
          val size = le32(b, i + 4)
          if (isFmt && i + 16 <= n) out = MediaMeta("wav", -1, -1, le32(b, i + 12), le16(b, i + 10), n.toLong)
          else if (size < 0) i = n // corrupt size: stop
          else i += 8 + size + (size & 1) // chunks are word-aligned
        }
        if (out != null) out else MediaMeta("unknown", -1, -1, -1, -1, n.toLong)
      } else MediaMeta("unknown", -1, -1, -1, -1, n.toLong)
    } catch { case _: Exception => MediaMeta("unknown", -1, -1, -1, -1, n.toLong) }
  }

  /** ======================= STUB (no media libs in container) ==============
    * Feature extraction: a real deployment decodes pixels/samples and runs a
    * vision/audio encoder here; this stub derives a deterministic
    * pseudo-embedding from the payload bytes so the Spark-side shape
    * (Array[Float] column, batched map, downstream ANN) is fully exercised.
    * Swapping in a real encoder changes ONLY this function body. */
  def stubEmbed(b: Array[Byte], dim: Int = 8): Array[Float] = {
    val out = new Array[Float](dim)
    if (b == null) return out
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    var d = 0
    while (d < dim) {
      val x = h * (2L * d + 1) + 0x9E3779B97F4A7C15L * d
      out(d) = ((x >>> 16).toInt % 1000) / 1000.0f
      d += 1
    }
    out
  }

  /** Typed metadata extraction over a binary column — one narrow batched map,
    * schema explicit, media bytes projected away immediately after. */
  def mediaMetaDF(spark: SparkSession, media: DataFrame,
      idCol: String = "media_id", binCol: String = "payload"): DataFrame = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val m = meta(b)
        (id, m.format, m.width, m.height, m.sampleRate, m.channels, m.bytes)
      })
      .toDF(idCol, "format", "width", "height", "sample_rate", "channels", "n_bytes")
  }

  /** Stub-embed a binary column into an Array[Float] embedding column ready
    * for the Similarity operators. */
  def embedDF(spark: SparkSession, media: DataFrame,
      idCol: String = "media_id", binCol: String = "payload", dim: Int = 8): DataFrame = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) => (id, stubEmbed(b, dim)) })
      .toDF("vec_id", "embedding")
  }
}
