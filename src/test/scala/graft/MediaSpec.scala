package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.multimodal.{ImageIoCodec, MediaOps, StubCodec}

class MediaSpec extends AnyFunSuite with Matchers {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def payload(w: Int, h: Int, fill: Byte*): Array[Byte] =
    Array[Byte](w.toByte, h.toByte) ++ fill

  test("decodeFeatures: schema, determinism, batch plumbing") {
    val media = Seq(
      (1L, payload(16, 8, 1, 2, 3)),
      (2L, payload(32, 32, 9)),
      (3L, payload(4, 4))).toDF("id", "payload")
    val feats = MediaOps.decodeFeatures(media, StubCodec, targetW = 4, targetH = 4)
    feats.schema.fieldNames.toSeq shouldBe Seq("id", "width", "height", "features")
    val rows = feats.collect().sortBy(_.id)
    rows.map(r => (r.id, r.width, r.height)).toSeq shouldBe
      Seq((1L, 16, 8), (2L, 32, 32), (3L, 4, 4))
    all(rows.map(_.features.length)) shouldBe 4 * 4 * 3
    all(rows.flatMap(_.features)) should (be >= 0.0f and be < 1.0f)
    // deterministic: same input → identical features
    val again = MediaOps.decodeFeatures(media, StubCodec, 4, 4).collect().sortBy(_.id)
    again.map(_.features.toSeq) shouldBe rows.map(_.features.toSeq)
  }

  test("decodeFeatures output joins into the similarity path") {
    val media = (1L to 10L).map(i => (i, payload(8, 8, i.toByte))).toDF("id", "payload")
    val emb = MediaOps.withEmbedding(MediaOps.decodeFeatures(media, StubCodec, 2, 2))
    emb.schema.fieldNames.toSeq shouldBe Seq("vec_id", "embedding")
    val sims = emb.as("a").crossJoin(emb.as("b"))
      .selectExpr("a.vec_id", "b.vec_id",
        "vec_dot(a.embedding, b.embedding) / sqrt(vec_norm_sq(a.embedding) * vec_norm_sq(b.embedding)) AS sim")
      .collect()
    sims.length shouldBe 100
    // self-similarity is exactly 1 up to fp rounding
    sims.filter(r => r.getLong(0) == r.getLong(1))
      .foreach(r => r.getDouble(2) shouldBe 1.0 +- 1e-9)
  }

  test("sampleFrames: every-Nth frame, correct slicing") {
    val frame = (idx: Int) => Array.fill(4)(idx.toByte)
    val video = (0 until 10).flatMap(i => frame(i).toSeq).toArray
    val df = Seq((7L, video)).toDF("id", "payload")
    val frames = MediaOps.sampleFrames(df, frameBytes = 4, stride = 3).collect().sortBy(_.frame_idx)
    frames.map(_.frame_idx).toSeq shouldBe Seq(0, 3, 6, 9)
    frames.foreach(f => f.payload.toSeq shouldBe Seq.fill(4)(f.frame_idx.toByte))
  }

  test("multimodal round-trip through a lakehouse table feeds decodeFeatures") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lakehouse.media_ns")
    spark.sql("CREATE TABLE lakehouse.media_ns.imgs (id BIGINT, payload BINARY)")
    Seq((1L, payload(8, 4, 5, 5))).toDF("id", "payload")
      .createOrReplaceTempView("imgs_src")
    spark.sql("INSERT INTO lakehouse.media_ns.imgs SELECT * FROM imgs_src")
    val feats = MediaOps.decodeFeatures(spark.table("lakehouse.media_ns.imgs")).collect()
    feats.map(f => (f.id, f.width, f.height)).toSeq shouldBe Seq((1L, 8, 4))
    spark.sql("DROP TABLE lakehouse.media_ns.imgs")
  }

  test("perceptual hash pairs identical payloads, separates distinct ones") {
    // ids 1 and 2 share a payload byte-for-byte → identical phash,
    // hamming 0; id 3 differs
    val media = Seq(
      (1L, payload(16, 8, 1, 2, 3)),
      (2L, payload(16, 8, 1, 2, 3)),
      (3L, payload(16, 8, 9, 9, 9, 9, 9))).toDF("id", "payload")
    val hashes = MediaOps.perceptualHash(media, StubCodec)
    hashes.schema.fieldNames.toSeq shouldBe Seq("id", "phash")
    val byId = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byId(1L) shouldBe byId(2L)
    // deterministic across runs
    MediaOps.perceptualHash(media, StubCodec).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe byId

    val pairs = MediaOps.nearDupMedia(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    pairs should contain((1L, 2L, 0)) // the duplicate pair, hamming 0
    // no pair may exceed the guaranteed-recall threshold
    all(pairs.map(_._3)) should be <= 3
  }

  /** Encode a synthetic gradient-with-a-square image via the JDK.
    * `invert` flips the luma structure entirely (a different scene —
    * perceptual hashes key on which cells sit above the image mean, so
    * only a structural change separates them). */
  private def realImage(
      w: Int, h: Int, format: String, boxAt: Int, invert: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val inBox = x >= boxAt && x < boxAt + w / 4 && y >= boxAt && y < boxAt + h / 4
      val gx = if (invert) (w - 1 - x) else x
      val gy = if (invert) (h - 1 - y) else y
      val r = if (inBox) 230 else gx * 255 / w
      val g = if (inBox) 20 else gy * 255 / h
      img.setRGB(x, y, (r << 16) | (g << 8) | 64)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos) shouldBe true
    bos.toByteArray
  }

  test("ImageIoCodec decodes REAL png/jpeg/bmp and the whole pipeline runs on them") {
    // the same scene, three real encodings + one different scene
    val media = Seq(
      (1L, realImage(64, 48, "png", boxAt = 8)),
      (2L, realImage(64, 48, "jpg", boxAt = 8)),   // lossy re-encode of scene 1
      (3L, realImage(64, 48, "bmp", boxAt = 8)),
      (4L, realImage(64, 48, "png", boxAt = 40, invert = true))). // different scene
      toDF("id", "payload")

    val feats = MediaOps.decodeFeatures(media, ImageIoCodec, targetW = 4, targetH = 4)
      .collect().sortBy(_.id)
    feats.map(f => (f.width, f.height)).distinct.toSeq shouldBe Seq((64, 48))
    all(feats.flatMap(_.features)) should (be >= 0.0f and be <= 1.0f)
    // png and bmp are LOSSLESS encodings of identical pixels
    feats(0).features.toSeq shouldBe feats(2).features.toSeq

    // perceptual hash: the jpeg re-encode is a near-dup of its png
    // source; the different scene is not
    val hashes = MediaOps.perceptualHash(media, ImageIoCodec)
    val pairs = MediaOps.nearDupMedia(hashes, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain((1L, 2L)) // re-encode caught
    pairs should contain((1L, 3L))
    pairs should not contain ((1L, 4L)) // different scene separated
    pairs should not contain ((2L, 4L))

    // real decode feeds the similarity path like any embedding column
    val emb = MediaOps.withEmbedding(
      MediaOps.decodeFeatures(media, ImageIoCodec, 4, 4))
    emb.schema.fieldNames.toSeq shouldBe Seq("vec_id", "embedding")
    emb.count() shouldBe 4
  }

  test("ImageIoCodec resize is a real bilinear scale, not a crop") {
    val px = ImageIoCodec.decode(realImage(64, 48, "png", boxAt = 8))
    val small = ImageIoCodec.resize(px, 8, 8)
    small.width shouldBe 8
    small.height shouldBe 8
    small.pixels.length shouldBe 8 * 8 * 3
    // the gradient survives scaling: left edge darker red than right
    val leftRed = small.pixels(0)
    val rightRed = small.pixels((7) * 3)
    rightRed should be > leftRed
    // undecodable payloads fail loudly, not silently
    val e = intercept[IllegalArgumentException] {
      ImageIoCodec.decode(Array[Byte](1, 2, 3, 4))
    }
    e.getMessage should include("undecodable")
  }

  // ---- audio (javax.sound WAV codec) ---------------------------------------

  /** Real RIFF/WAVE bytes via the JDK's own writer: 16-bit PCM little-
    * endian at `sr` Hz; `channels` duplicates the mono signal. */
  private def wavBytes(
      samples: Array[Float], sr: Float, channels: Int = 1): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(sr, 16, channels, true, false)
    val data = new Array[Byte](samples.length * 2 * channels)
    samples.zipWithIndex.foreach { case (s, i) =>
      val v = math.max(-32768, math.min(32767, (s * 32767f).round)).toShort
      (0 until channels).foreach { c =>
        val o = (i * channels + c) * 2
        data(o) = (v & 0xff).toByte
        data(o + 1) = ((v >> 8) & 0xff).toByte
      }
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** A 1-second clip at 8 kHz whose energy ENVELOPE follows `pattern`:
    * window i carries a 440 Hz tone iff pattern bit i is set. Distinct
    * patterns → distinct envelopes; volume scaling keeps the pattern. */
  private def burstClip(pattern: Long, amp: Float): Array[Float] = {
    val sr = 8000
    Array.tabulate(sr) { i =>
      val win = math.min(63, i * 64 / sr)
      if ((pattern & (1L << win)) != 0)
        (amp * math.sin(2 * math.Pi * 440 * i / sr)).toFloat
      else 0f
    }
  }

  test("WavCodec decodes real WAV payloads; features carry duration/rms/zcr") {
    import graft.multimodal.{AudioOps, WavCodec}
    val a = wavBytes(burstClip(0x5a5a5a5a5a5a5a5aL, 0.8f), 8000f)
    val d = WavCodec.decode(a)
    d.sampleRate shouldBe 8000f
    d.channels shouldBe 1
    d.samples.length shouldBe 8000
    val feats = AudioOps.audioFeatures(Seq(
      (1L, a), (2L, wavBytes(burstClip(0x5a5a5a5a5a5a5a5aL, 0.2f), 8000f)))
      .toDF("id", "payload")).collect().sortBy(_.id)
    feats.map(_.duration_sec).foreach(_ shouldBe 1.0 +- 0.01)
    feats(0).rms should be > 3 * feats(1).rms // amplitude 0.8 vs 0.2
    feats(0).zero_cross_rate should be > 0.0
    feats(0).sample_rate shouldBe 8000.0
  }

  test("audio fingerprint: volume change and stereo re-encode are near-dups, a different envelope is not") {
    import graft.multimodal.{AudioOps, MediaOps}
    val pa = 0x5a5a5a5a5a5a5a5aL
    val pb = 0x00ffff0000ffff00L // a genuinely different burst pattern
    val clips = Seq(
      1L -> wavBytes(burstClip(pa, 0.8f), 8000f),            // original
      2L -> wavBytes(burstClip(pa, 0.25f), 8000f),           // volume change
      3L -> wavBytes(burstClip(pa, 0.8f), 8000f, channels = 2), // stereo re-encode
      4L -> wavBytes(burstClip(pb, 0.8f), 8000f))            // different signal
    val hashes = AudioOps.audioHash(clips.toDF("id", "payload"))
    val pairs = MediaOps.nearDupMedia(hashes, maxHamming = 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain(1L -> 2L) // relative threshold → volume-invariant
    pairs should contain(1L -> 3L) // mono mixdown → layout-invariant
    pairs.exists(p => p._1 == 4L || p._2 == 4L) shouldBe false
  }

  /** A clip whose per-frame mean luma follows `pattern` bit f (bright
    * vs dim), scaled by `gain` — the video analog of burstClip. */
  private def y4mClip(pattern: Long, gain: Int, w: Int = 16, h: Int = 16): Array[Byte] = {
    import graft.multimodal.Y4mCodec
    val frames = Array.tabulate(64) { f =>
      val y = (if (((pattern >>> f) & 1L) == 1L) 60 * gain else 20 * gain).toByte
      Array.fill(w * h)(y)
    }
    Y4mCodec.encode(frames, w, h, 16, 1)
  }

  test("Y4mCodec round-trips: spec header, C420 planes, geometry and rate preserved") {
    import graft.multimodal.Y4mCodec
    val payload = y4mClip(0x5a5a5a5a5a5a5a5aL, 2)
    // a real Y4M stream another toolchain could consume
    new String(payload.takeWhile(_ != '\n'), "US-ASCII") shouldBe
      "YUV4MPEG2 W16 H16 F16:1 Ip A1:1 C420jpeg"
    val d = Y4mCodec.decode(payload)
    d.width shouldBe 16
    d.height shouldBe 16
    d.fpsNum shouldBe 16
    d.fpsDen shouldBe 1
    d.frames.length shouldBe 64
    (d.frames(1)(0) & 0xff) shouldBe 120 // bit 1 of the pattern set → 60*2
    (d.frames(0)(0) & 0xff) shouldBe 40
    // frame params after the marker are legal per spec
    val withParams = new String(payload, "ISO-8859-1")
      .replaceFirst("FRAME\n", "FRAME Xtest\n").getBytes("ISO-8859-1")
    Y4mCodec.decode(withParams).frames.length shouldBe 64
    // C444 and mono layouts
    val f0 = Array.tabulate(4)(i => (i * 10).toByte)
    val c444 = ("YUV4MPEG2 W2 H2 F25:1 C444\nFRAME\n").getBytes("US-ASCII") ++
      f0 ++ Array.fill(8)(128.toByte)
    Y4mCodec.decode(c444).frames.head.toSeq shouldBe f0.toSeq
    val mono = ("YUV4MPEG2 W2 H2 F25:1 Cmono\nFRAME\n").getBytes("US-ASCII") ++ f0
    Y4mCodec.decode(mono).frames.head.toSeq shouldBe f0.toSeq
    // malformed inputs fail loudly, never mis-parse
    an[Exception] should be thrownBy Y4mCodec.decode("JUNK W2 H2\n".getBytes)
    an[Exception] should be thrownBy
      Y4mCodec.decode("YUV4MPEG2 W2 H2 F25:1 Cmono\nFRAME\n ".getBytes("ISO-8859-1"))
    an[Exception] should be thrownBy
      Y4mCodec.decode("YUV4MPEG2 W2 H2 F25:1 Cweird\nFRAME\n".getBytes)
    // absurd geometry must fail loudly, not Int-overflow into a silent
    // zero-byte mis-parse (65536*65536 wraps to 0)
    an[Exception] should be thrownBy
      Y4mCodec.decode("YUV4MPEG2 W65536 H65536 F25:1 Cmono\nFRAME\n".getBytes)
  }

  test("video fingerprint: brightness change is a near-dup, a different cut is not") {
    import graft.multimodal.{MediaOps, VideoOps}
    val pa = 0x5a5a5a5a5a5a5a5aL
    val pb = 0x00ffff0000ffff00L
    val clips = Seq(
      1L -> y4mClip(pa, 1),  // original
      2L -> y4mClip(pa, 3),  // brightness-scaled
      3L -> y4mClip(pb, 1))  // a genuinely different envelope
    val hashes = VideoOps.videoHash(clips.toDF("id", "payload"))
    val pairs = MediaOps.nearDupMedia(hashes, maxHamming = 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain(1L -> 2L)
    pairs.exists(p => p._1 == 3L || p._2 == 3L) shouldBe false
    val feats = VideoOps.videoFeatures(clips.toDF("id", "payload"))
      .collect().sortBy(_.id)
    feats(0).duration_sec shouldBe 4.0
    feats(0).n_frames shouldBe 64
    feats(1).mean_luma shouldBe (3 * feats(0).mean_luma) +- 1e-12
    feats(0).motion should be > 0.0
  }
}
