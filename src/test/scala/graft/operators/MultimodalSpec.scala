package graft.operators

import graft.SparkSpec

import java.awt.Color
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import javax.imageio.ImageIO

class MultimodalSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private def makeImage(w: Int, h: Int, seed: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      // deterministic two-tone gradient so resizes/embeddings differ per seed
      g.setColor(new Color(seed * 37 % 255, seed * 91 % 255, seed * 53 % 255))
      g.fillRect(0, 0, w, h)
      g.setColor(Color.WHITE)
      g.fillRect(0, 0, w / 2, h / 2)
    } finally g.dispose()
    img
  }

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  // real image files written by JDK ImageIO: 2 PNGs + 1 JPEG + 1 corrupt
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-bin")
    Files.write(Paths.get(d.toString, "a.png"), encode(makeImage(48, 32, 1), "png"))
    Files.write(Paths.get(d.toString, "b.png"), encode(makeImage(64, 64, 2), "png"))
    Files.write(Paths.get(d.toString, "c.jpg"), encode(makeImage(40, 20, 3), "jpg"))
    // PNG magic + garbage: claims png, does not decode
    val fakePng = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    Files.write(Paths.get(d.toString, "broken.png"),
      fakePng ++ Array.tabulate(256)(i => (i % 251).toByte))
    d.toString
  }

  test("binaryFile source reads path/length/content (S10)") {
    val df = Multimodal.readBinaryDir(spark, dir, glob = "*.png")
    assert(df.count() == 3)
    assert(df.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
  }

  test("withImageMeta decodes real dimensions and channels via ImageIO") {
    val df = Multimodal.withImageMeta(
      Multimodal.readBinaryDir(spark, dir), "content")
    val metas = df.select(element_at(split(col("path"), "/"), -1).as("f"),
        col("image_meta.*")).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some((r.getInt(1), r.getInt(2), r.getInt(3))),
          r.getString(4))).toMap
    assert(metas("a.png") == (Some((48, 32, 3)), "png"))
    assert(metas("b.png") == (Some((64, 64, 3)), "png"))
    assert(metas("c.jpg") == (Some((40, 20, 3)), "jpeg"))
    // corrupt payload: format from magic bytes, null dimensions
    assert(metas("broken.png") == (None, "png"))
  }

  test("VideoCodec: container round-trips; meta, lazy frame iterator " +
      "and truncation-safety") {
    val frames = (1 to 6).map(i => encode(makeImage(24, 16, i), "png"))
    val vid = VideoCodec.synthMotionImage(fps = 5, frames)
    assert(VideoCodec.sniffFormat(vid) == "gmj")
    assert(VideoCodec.decodeMeta(vid).contains(VideoCodec.VideoMeta(6, 5)))
    val decoded = VideoCodec.frames(vid).toSeq
    assert(decoded.map(_._1) == (0 until 6))
    assert(decoded.forall { case (_, f) =>
      ImageCodec.decode(f).exists(im => im.getWidth == 24 && im.getHeight == 16)
    })
    // truncated container: parses cleanly up to the cut, never throws
    val cut = java.util.Arrays.copyOfRange(vid, 0, vid.length - 10)
    assert(VideoCodec.frames(cut).length == 5)
    assert(VideoCodec.frames(Array[Byte](1, 2, 3)).isEmpty)
    assert(VideoCodec.decodeMeta("RIFFxxxx".getBytes).isEmpty)
    // crafted huge frame length: the subtraction-form bound check
    // rejects it instead of overflowing into a throwing copy
    val evil = "GMJ1".getBytes ++
      Array[Byte](0, 0, 0, 1, 0, 0, 0, 1, 0x7F, -1, -1, -1) ++
      Array.fill[Byte](4)(0)
    assert(VideoCodec.frames(evil).isEmpty)
    // step skips without copying; indices are the sampled ones
    assert(VideoCodec.frames(vid, step = 2).map(_._1).toSeq == Seq(0, 2, 4))
    assert(VideoCodec.frames(vid, step = 4).map(_._1).toSeq == Seq(0, 4))
  }

  test("withVideoMeta: fps=0 header yields null duration (unknown), " +
      "not a fabricated zero") {
    import spark.implicits._
    val still = VideoCodec.synthMotionImage(fps = 1,
      Seq(encode(makeImage(8, 8, 1), "png")))
    // hand-patch fps to 0 (offset 8..11 in the header)
    still(8) = 0; still(9) = 0; still(10) = 0; still(11) = 0
    val r = Multimodal.withVideoMeta(
      Seq(Tuple1(still)).toDF("content"), "content")
      .select("video_meta.n_frames", "video_meta.fps",
        "video_meta.duration_s").head
    assert(r.getInt(0) == 1 && r.getInt(1) == 0 && r.isNullAt(2))
  }

  test("video pipeline end-to-end: binaryFile source → meta → frame " +
      "sampling → REAL image decode") {
    val d = Files.createTempDirectory("graft-vid")
    (1 to 2).foreach { v =>
      val frames = (0 until 8).map(i =>
        encode(makeImage(32, 32, v * 10 + i), "png"))
      Files.write(Paths.get(d.toString, s"v$v.gmj"),
        VideoCodec.synthMotionImage(fps = 4, frames))
    }
    val src = Multimodal.readBinaryDir(spark, d.toString, "*.gmj")
    val meta = Multimodal.withVideoMeta(src, "content")
      .select("video_meta.n_frames", "video_meta.fps",
        "video_meta.duration_s").collect()
    assert(meta.length == 2 && meta.forall(r =>
      r.getInt(0) == 8 && r.getInt(1) == 4 && r.getDouble(2) == 2.0))
    val sampled = Multimodal.sampleVideoFrames(src, "content",
      everyNth = 3)
    val idx = sampled.select("frame_idx").collect().map(_.getInt(0))
    assert(idx.sorted.toSeq == Seq(0, 0, 3, 3, 6, 6))
    // every sampled frame is a real decodable image at full dimensions
    val dims = sampled.collect().map { r =>
      val bytes = r.getAs[Array[Byte]]("frame_bytes")
      ImageCodec.decode(bytes).map(im => (im.getWidth, im.getHeight))
    }
    assert(dims.forall(_.contains((32, 32))))
  }

  private def sineWav(rate: Int, hz: Double, seconds: Double,
      amplitude: Double = 0.5): Array[Byte] = {
    val n = (rate * seconds).toInt
    AudioCodec.synthWavPcm16(rate, Array.tabulate(n)(i =>
      (math.sin(2 * math.Pi * hz * i / rate) * amplitude * 32767).toShort))
  }

  test("withAudioMeta decodes real WAV sample rate, depth and duration") {
    import spark.implicits._
    val good = sineWav(8000, 440.0, 0.5)
    val df = Seq((1L, good), (2L, Array[Byte](1, 2, 3)))
      .toDF("id", "audio")
    val out = Multimodal.withAudioMeta(df, "audio").orderBy("id").collect()
    val m = out(0).getStruct(2)
    assert(m.getInt(0) == 8000 && m.getInt(1) == 1 && m.getInt(2) == 16)
    assert(m.getLong(3) == 4000L)
    assert(math.abs(m.getDouble(4) - 0.5) < 1e-9)
    assert(m.getString(5) == "wav")
    // corrupt bytes: null fields, format from magic (none here)
    val bad = out(1).getStruct(2)
    assert(bad.isNullAt(0) && bad.getString(5) == "unknown")
  }

  test("audio with unknown stream length reports null frames/duration " +
      "in meta but still feature-extracts what was read") {
    import spark.implicits._
    // AU container with the common 0xFFFFFFFF unknown-size header:
    // .snd magic, data offset 24, size -1, encoding 3 (16-bit PCM BE),
    // rate 8000, mono — then 1000 frames of a 400 Hz sine
    val n = 1000
    val bb = java.nio.ByteBuffer.allocate(24 + n * 2)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(".snd".getBytes("US-ASCII")).putInt(24).putInt(-1)
      .putInt(3).putInt(8000).putInt(1)
    (0 until n).foreach(i => bb.putShort(
      (math.sin(2 * math.Pi * 400 * i / 8000) * 0.5 * 32767).toShort))
    val au = bb.array()
    val df = Seq((1L, au)).toDF("id", "audio")
    val m = Multimodal.withAudioMeta(df, "audio").head.getStruct(2)
    assert(m.getInt(0) == 8000 && m.getString(5) == "au")
    assert(m.isNullAt(3) && m.isNullAt(4)) // frames/duration unknown
    val f = Multimodal.audioFeatures(df, "audio").head.getStruct(2)
    // duration falls back to what was actually read
    assert(math.abs(f.getDouble(0) - n / 8000.0) < 1e-9)
    assert(math.abs(f.getDouble(1) - 0.5 / math.sqrt(2)) < 0.02)
  }

  test("audioFeatures computes real RMS, peak and zero-cross rate") {
    import spark.implicits._
    // 440 Hz sine at amplitude 0.5: rms = 0.5/sqrt(2), zcr = 2*440/8000
    val df = Seq((1L, sineWav(8000, 440.0, 1.0))).toDF("id", "audio")
    val f = Multimodal.audioFeatures(df, "audio").head.getStruct(2)
    assert(math.abs(f.getDouble(0) - 1.0) < 1e-9) // duration
    assert(math.abs(f.getDouble(1) - 0.5 / math.sqrt(2)) < 0.01) // rms
    assert(math.abs(f.getDouble(2) - 0.5) < 0.01) // peak
    assert(math.abs(f.getDouble(3) - 2 * 440.0 / 8000) < 0.005) // zcr
  }
}
