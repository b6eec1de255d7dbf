package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Decoded image/audio frame: pixel/sample data plus dimensions. */
final case class Decoded(width: Int, height: Int, channels: Int, pixels: Array[Float])

/** Codec boundary for multimodal payloads.
  *
  * Two implementations ship:
  *  - [[ImageIoCodec]] — REAL decode/resize through the JDK's
  *    `javax.imageio` (PNG/JPEG/BMP/GIF/WBMP) + `Graphics2D`, no
  *    external libraries, so the whole pipeline (decode → features →
  *    perceptual hash → near-dup join) runs on actual images;
  *  - [[StubCodec]] — a DETERMINISTIC FAKE (payload-hash pixels) kept
  *    for oracle-checked queries: the DuckDB side can reproduce its
  *    outputs exactly, which no real codec guarantees across JPEG
  *    decoder versions.
  * Video containers and audio remain behind the same pluggable
  * boundary (a JNI/javacpp codec is a one-object change).
  */
trait MediaCodec extends Serializable {
  def decode(payload: Array[Byte]): Decoded
  def resize(img: Decoded, w: Int, h: Int): Decoded
}

/** STUB: fake codec. Payload layout: [w: Byte, h: Byte, rest...]; pixel
  * (x, y, c) = deterministic hash of (payload bytes, x, y, c) in [0,1). */
object StubCodec extends MediaCodec {
  private def mix(seed: Long, v: Long): Long = {
    var h = seed ^ (v * 0x9e3779b97f4a7c15L)
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  override def decode(payload: Array[Byte]): Decoded = {
    require(payload.length >= 2, "truncated payload")
    val w = java.lang.Byte.toUnsignedInt(payload(0)).max(1)
    val h = java.lang.Byte.toUnsignedInt(payload(1)).max(1)
    val seed = payload.foldLeft(0L)((acc, b) => mix(acc, b.toLong))
    val px = Array.tabulate(w * h * 3) { i =>
      (mix(seed, i.toLong) >>> 11).toFloat / (1L << 53).toFloat
    }
    Decoded(w, h, 3, px)
  }

  override def resize(img: Decoded, w: Int, h: Int): Decoded = {
    // nearest-neighbour: deterministic, no interpolation library needed
    val px = Array.tabulate(w * h * img.channels) { i =>
      val c = i % img.channels
      val x = (i / img.channels) % w
      val y = i / (img.channels * w)
      val sx = math.min(img.width - 1, x * img.width / w)
      val sy = math.min(img.height - 1, y * img.height / h)
      img.pixels((sy * img.width + sx) * img.channels + c)
    }
    Decoded(w, h, img.channels, px)
  }
}

/** REAL image codec over the JDK's own `javax.imageio` — no external
  * libraries, works offline: PNG, JPEG, BMP, GIF and WBMP decode on
  * every standard JRE. Resize goes through `Graphics2D` with bilinear
  * interpolation. Pixels normalize to RGB float [0,1] row-major, the
  * same contract as [[StubCodec]], so every downstream operator
  * (features, perceptual hash, near-dup join) runs unchanged on real
  * images. Thread-safety: `ImageIO.read` is re-entrant and each call
  * allocates its own reader, so one shared codec object serves all
  * partitions. Formats the JDK cannot read (video containers, audio,
  * HEIC…) still route through a pluggable [[MediaCodec]] — that
  * boundary is unchanged. */
object ImageIoCodec extends MediaCodec {
  override def decode(payload: Array[Byte]): Decoded = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "undecodable image payload (not a JDK-supported format)")
    toDecoded(img)
  }

  override def resize(d: Decoded, w: Int, h: Int): Decoded = {
    val src = fromDecoded(d)
    val dst = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
    } finally g.dispose()
    toDecoded(dst)
  }

  private def toDecoded(img: java.awt.image.BufferedImage): Decoded = {
    val w = img.getWidth; val h = img.getHeight
    val px = new Array[Float](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val o = (y * w + x) * 3
        px(o) = ((rgb >> 16) & 0xff) / 255f
        px(o + 1) = ((rgb >> 8) & 0xff) / 255f
        px(o + 2) = (rgb & 0xff) / 255f
        x += 1
      }
      y += 1
    }
    Decoded(w, h, 3, px)
  }

  private def fromDecoded(d: Decoded): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      d.width, d.height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < d.height) {
      var x = 0
      while (x < d.width) {
        val o = (y * d.width + x) * 3
        def b(f: Float) = math.max(0, math.min(255, (f * 255f).round))
        img.setRGB(x, y, (b(d.pixels(o)) << 16) | (b(d.pixels(o + 1)) << 8) | b(d.pixels(o + 2)))
        x += 1
      }
      y += 1
    }
    img
  }
}

final case class MediaFeatures(
    id: Long, width: Int, height: Int, features: Array[Float])

final case class VideoFrame(id: Long, frame_idx: Int, payload: Array[Byte])

/** Batch operators over opaque-binary media columns
  * (`id BIGINT, payload BINARY` + struct metadata, the lakehouse
  * multimodal column shape from SURVEY.md §2B).
  *
  * Shape notes for 100 TB:
  *  - work happens in `mapPartitions`, the Scala analogue of
  *    `mapInPandas`: the codec is instantiated once per partition and
  *    rows stream through in batches of `batchSize` (bounding peak
  *    decoded memory, like Arrow batch size does for pandas UDFs);
  *  - payloads are repartitioned by id first so decode cost spreads
  *    evenly regardless of how the source files clustered large blobs;
  *  - outputs are narrow (id + fixed-size feature vector), so the
  *    expensive binary column is dropped as early as possible.
  */
object MediaOps {

  val defaultBatchSize = 64

  /** Decode → resize(targetW×targetH) → grid-pooled feature vector.
    * Output: (id, width, height, features[targetW·targetH·3]). */
  def decodeFeatures(
      media: DataFrame,
      codec: MediaCodec = StubCodec,
      targetW: Int = 4,
      targetH: Int = 4,
      batchSize: Int = defaultBatchSize): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, payload) =>
            val img = codec.decode(payload)
            val small = codec.resize(img, targetW, targetH)
            MediaFeatures(id, img.width, img.height, small.pixels)
          }
        }
      }
  }

  /** Deterministic every-`stride`-th frame sampling of a "video":
    * payload = concatenated fixed-size frames. Emits one row per kept
    * frame — a generator-shaped op (explode) so downstream per-frame
    * work parallelizes across the cluster, not per video. */
  def sampleFrames(
      videos: DataFrame,
      frameBytes: Int,
      stride: Int): Dataset[VideoFrame] = {
    val spark = videos.sparkSession
    import spark.implicits._
    videos.select(col("id").cast("long"), col("payload"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        val nFrames = payload.length / frameBytes
        (0 until nFrames by stride).iterator.map { f =>
          VideoFrame(id, f, payload.slice(f * frameBytes, (f + 1) * frameBytes))
        }
      }
  }

  /** Cosine-ready embedding column from media features — bridges the
    * multimodal path into the similarity-search operators (Q29). */
  def withEmbedding(features: Dataset[MediaFeatures]): DataFrame =
    features.toDF().select(col("id").as("vec_id"), col("features").as("embedding"))

  /** 64-bit perceptual hash (average-hash): decode, pool to an 8×8
    * luma grid, bit i = cell i brighter than the image mean. Visually
    * near-identical payloads (re-encodes, small edits) land within a
    * few bits of each other. */
  def perceptualHash(
      media: DataFrame,
      codec: MediaCodec = StubCodec,
      batchSize: Int = defaultBatchSize): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("payload"))
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, payload) =>
            val img = codec.decode(payload)
            val small = codec.resize(img, 8, 8)
            // luma per cell over the rgb triplets
            val luma = Array.tabulate(64) { i =>
              val o = i * 3
              0.299f * small.pixels(o) + 0.587f * small.pixels(o + 1) +
                0.114f * small.pixels(o + 2)
            }
            val mean = luma.sum / 64f
            var h = 0L
            var i = 0
            while (i < 64) { if (luma(i) > mean) h |= (1L << i); i += 1 }
            (id, h)
          }
        }
      }.toDF("id", "phash")
  }

  /** Media near-dup pairs: banded hamming join over the perceptual
    * hashes — the same 4-band × 16-bit layout the text SimHash dedup
    * uses, with the same pigeonhole guarantee (every pair within
    * `maxHamming ≤ 3` bits shares an intact band, so recall is 1.0 and
    * candidates stay proportional to band collisions, never corpus²). */
  def nearDupMedia(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16 banding only guarantees recall for hamming <= 3")
    val bands = hashes.select(col("id"), col("phash"),
        posexplode(array((0 until 4).map(j =>
          shiftrightunsigned(col("phash"), j * 16) % 65536): _*)))
      .toDF("id", "phash", "band_idx", "band_val")
    bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
