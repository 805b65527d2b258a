package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

/** Multimodal column support (S10): image/audio/video as opaque
  * `binary` columns with typed metadata. The reference's image path is
  * `PIL.Image.open` per row (`/root/reference/vsu/image/_classes.py:
  * 40,74`); Spark-first that becomes the `binaryFile` source plus
  * per-partition decode — no shuffle.
  *
  * Image decode is REAL (JDK `javax.imageio` — PNG/JPEG/GIF/BMP, zero
  * external deps, [[ImageCodec]]), and so is audio decode (JDK
  * `javax.sound.sampled` — WAV/AIFF/AU PCM, [[AudioCodec]]: metadata
  * and signal features). Video: the JDK has no mp4/h264 codec and none
  * is installable offline, so that DECODE gap stays documented — but
  * the frame-pipeline is real over [[VideoCodec]]'s length-prefixed
  * motion-image container (each frame a real PNG/JPEG):
  * [[Multimodal.withVideoMeta]] parses headers,
  * [[Multimodal.sampleVideoFrames]] explodes every n-th frame as
  * decodable image bytes that feed the SAME image operators.
  */
object Multimodal {

  /** Read a directory of binary files (images etc.):
    * (path, modificationTime, length, content). Pushdown-friendly:
    * `pathGlobFilter` prunes at the source, and metadata-only queries
    * never read content bytes. */
  def readBinaryDir(spark: SparkSession, dir: String,
      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)

  val imageMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("format", StringType)))

  /** 64-bit difference hash (dHash) over REAL pixels — the standard
    * perceptual image fingerprint: one bilinear resample to a 9×8
    * luminance grid, bit i set iff cell (y, x) is brighter than its
    * right neighbor. Robust to re-encoding, resizing, and mild
    * color/brightness shifts (gradients survive what absolute values
    * do not), which is exactly what crawl-scale image dedup needs —
    * byte-exact dedup misses every thumbnail re-save. Corrupt payloads
    * hash to null (data, not errors). Narrow per-partition batches, no
    * shuffle. */
  def dHashImages(df: DataFrame, inCol: String, outCol: String = "dhash",
      batchSize: Int = 64): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val outSchema = df.schema.add(outCol, LongType)
    val inIdx = df.schema.fieldIndex(inCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { rows =>
        rows.map { r =>
          val bytes = Option(r.get(inIdx)).map(_.asInstanceOf[Array[Byte]])
            .getOrElse(Array.emptyByteArray)
          val h = ImageCodec.decode(bytes).map { img =>
            val g = ImageCodec.luminanceGrid(img, 9, 8)
            var acc = 0L
            var bit = 0
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                if (g(y * 9 + x) > g(y * 9 + x + 1)) acc |= (1L << bit)
                bit += 1
                x += 1
              }
              y += 1
            }
            java.lang.Long.valueOf(acc)
          }.orNull
          Row.fromSeq(r.toSeq :+ h)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Near-duplicate image pairs by dHash Hamming distance ≤
    * `maxHamming`, with RECALL 1.0 via pigeonhole banding: the 64 bits
    * split into `maxHamming + 1` bands — any pair within the threshold
    * has at least one band bit-identical, so candidates meet ONLY
    * inside (band, band_value) buckets (id + two 8-byte hashes cross
    * the shuffle, never pixels), then the exact `bit_count(xor)`
    * verifies. The SimHash/[[BinaryQuant]] shape applied to perceptual
    * image dedup. Returns (id_a, id_b, hamming), id_a < id_b.
    * `maxHamming + 1` must divide 64. */
  def nearDupImagePairs(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(maxHamming >= 0 && 64 % bands == 0,
      s"maxHamming + 1 must divide 64, got $maxHamming")
    val w = 64 / bands
    val reserved = Seq("__band", "__bv", "id_a", "id_b", "__ha", "__hb")
    require(reserved.forall(c => c != idCol && c != hashCol),
      s"reserved column names $reserved collide — rename inputs")
    val mask = if (w == 64) -1L else (1L << w) - 1L
    val banded = df.where(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol),
        explode(sequence(lit(0), lit(bands - 1))).as("__band"))
      .withColumn("__bv",
        expr(s"shiftrightunsigned(`$hashCol`, __band * $w) & ${mask}L"))
    val a = banded.select(col(idCol).as("id_a"), col(hashCol).as("__ha"),
      col("__band"), col("__bv"))
    val b = banded.select(col(idCol).as("id_b"), col(hashCol).as("__hb"),
      col("__band"), col("__bv"))
    a.join(b, Seq("__band", "__bv"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "__ha", "__hb").distinct()
      .withColumn("hamming",
        expr("bit_count(__ha ^ __hb)").cast("int"))
      .where(col("hamming") <= maxHamming)
      .drop("__ha", "__hb")
  }

  /** REAL frame sampling over [[VideoCodec]]'s container: parse the
    * header, seek the length-prefixed frame table, emit one row per
    * n-th frame with (idx, real image bytes) — downstream rows feed
    * [[ImageCodec.decode]] / [[resizeImages]] / [[embedBinaryColumn]]
    * unchanged. Narrow flatMap, no shuffle; per-row memory is one
    * frame, not the whole video (the iterator slices lazily). Rows
    * whose bytes are not a GMJ1 container emit nothing (use
    * [[sampleFrames]] for opaque formats). */
  def sampleVideoFrames(df: DataFrame, inCol: String, everyNth: Int = 10,
      outPrefix: String = "frame"): DataFrame = {
    require(everyNth >= 1, "everyNth must be positive")
    val idxCol = s"${outPrefix}_idx"
    val bytesCol = s"${outPrefix}_bytes"
    val outSchema = df.schema
      .add(idxCol, IntegerType)
      .add(bytesCol, BinaryType)
    val inIdx = df.schema.fieldIndex(inCol)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = Option(r.get(inIdx)).map(_.asInstanceOf[Array[Byte]])
          .getOrElse(Array.emptyByteArray)
        // step pushed into the iterator: skipped frames are never copied
        VideoCodec.frames(bytes, step = everyNth)
          .map { case (idx, frame) => Row.fromSeq(r.toSeq :+ idx :+ frame) }
      }
    }(Encoders.row(outSchema))
  }

  val videoMetaType: StructType = StructType(Seq(
    StructField("n_frames", IntegerType),
    StructField("fps", IntegerType),
    StructField("duration_s", DoubleType),
    StructField("format", StringType)))

  /** Attach container metadata for video columns (header parse only —
    * O(1) per row, frames are not touched). Bytes that are not a GMJ1
    * container yield a null-fielded struct carrying the sniffed
    * format, mirroring [[withAudioMeta]]. */
  def withVideoMeta(df: DataFrame, inCol: String,
      outCol: String = "video_meta"): DataFrame = {
    val outSchema = df.schema.add(outCol, videoMetaType)
    val inIdx = df.schema.fieldIndex(inCol)
    df.mapPartitions { it =>
      it.map { r =>
        val bytes = Option(r.get(inIdx)).map(_.asInstanceOf[Array[Byte]])
          .getOrElse(Array.emptyByteArray)
        val fmt = VideoCodec.sniffFormat(bytes)
        val meta = VideoCodec.decodeMeta(bytes) match {
          // fps=0 is a legal header (still-image set): duration is
          // UNKNOWN, not zero — null it, like withAudioMeta does for
          // unknown stream lengths
          case Some(m) => Row(m.nFrames, m.fps,
            if (m.fps > 0) m.nFrames.toDouble / m.fps else null, fmt)
          case None => Row(null, null, null, fmt)
        }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(Encoders.row(outSchema))
  }

  val audioMetaType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_s", DoubleType),
    StructField("format", StringType)))

  /** Attach REAL decoded audio metadata (sample rate, channels, bit
    * depth, frame count, duration) via JDK `javax.sound.sampled` —
    * WAV/AIFF/AU decode genuinely offline, unlike video. Fields are
    * null when the payload does not decode; format reports the
    * container magic regardless. */
  def withAudioMeta(df: DataFrame, inCol: String,
      outCol: String = "audio_meta", batchSize: Int = 64): DataFrame = {
    val outSchema = df.schema.add(outCol, audioMetaType)
    val inIdx = df.schema.fieldIndex(inCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { rows =>
        rows.map { r =>
          val bytes = Option(r.get(inIdx)).map(_.asInstanceOf[Array[Byte]])
            .getOrElse(Array.emptyByteArray)
          val fmt = AudioCodec.sniffFormat(bytes)
          val meta = AudioCodec.decodeMeta(bytes) match {
            // frame count can be NOT_SPECIFIED (-1) for streams with
            // unknown data size — report what IS known, null the rest
            case Some(m) if m.frames >= 0 => Row(m.sampleRate, m.channels,
              m.bits, m.frames, m.frames.toDouble / m.sampleRate, fmt)
            case Some(m) => Row(m.sampleRate, m.channels, m.bits, null,
              null, fmt)
            case None => Row(null, null, null, null, null, fmt)
          }
          Row.fromSeq(r.toSeq :+ meta)
        }
      }
    }(Encoders.row(outSchema))
  }

  val audioFeatureType: StructType = StructType(Seq(
    StructField("duration_s", DoubleType),
    StructField("rms", DoubleType),
    StructField("peak", DoubleType),
    StructField("zero_cross_rate", DoubleType)))

  /** REAL signal features over decoded PCM (mono-mixed): duration, RMS
    * energy, peak amplitude, zero-crossing rate — the
    * silence/clipping/voice-activity screens an audio curation
    * pipeline gates on. Null struct when the payload does not decode.
    * Narrow map; decode cost is bounded by `maxFrames` per row. */
  def audioFeatures(df: DataFrame, inCol: String,
      outCol: String = "audio_features", maxFrames: Int = 1 << 20,
      batchSize: Int = 64): DataFrame = {
    val outSchema = df.schema.add(outCol, audioFeatureType)
    val inIdx = df.schema.fieldIndex(inCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { rows =>
        rows.map { r =>
          val bytes = Option(r.get(inIdx)).map(_.asInstanceOf[Array[Byte]])
            .getOrElse(Array.emptyByteArray)
          val feat = (AudioCodec.decodeMeta(bytes),
            AudioCodec.pcmSamples(bytes, maxFrames)) match {
            case (Some(m), Some(samples)) if samples.nonEmpty =>
              var sumSq = 0.0
              var peak = 0.0
              var crossings = 0L
              var i = 0
              while (i < samples.length) {
                val s = samples(i).toDouble
                sumSq += s * s
                if (math.abs(s) > peak) peak = math.abs(s)
                if (i > 0 && (samples(i - 1) >= 0f) != (s >= 0.0))
                  crossings += 1
                i += 1
              }
              // unknown total frame count → duration of what was READ
              val duration =
                if (m.frames >= 0) m.frames.toDouble / m.sampleRate
                else samples.length.toDouble / m.sampleRate
              Row(duration,
                math.sqrt(sumSq / samples.length), peak,
                crossings.toDouble / samples.length)
            case _ => Row(null, null, null, null)
          }
          Row.fromSeq(r.toSeq :+ feat)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Attach REAL decoded image metadata (width, height, channels,
    * format) via JDK ImageIO. Format comes from the container magic
    * bytes; dimensions/channels are null when the payload does not
    * decode (matching the reference's open-or-fail semantics at
    * `image/_classes.py:40` without failing the job). */
  def withImageMeta(df: DataFrame, inCol: String,
      outCol: String = "image_meta", batchSize: Int = 64): DataFrame = {
    val outSchema = df.schema.add(outCol, imageMetaType)
    val inIdx = df.schema.fieldIndex(inCol)
    df.mapPartitions { it =>
      it.grouped(batchSize).flatMap { rows =>
        rows.map { r =>
          val bytes = Option(r.get(inIdx)).map(_.asInstanceOf[Array[Byte]])
            .getOrElse(Array.emptyByteArray)
          val fmt = ImageCodec.sniffFormat(bytes)
          val meta = ImageCodec.decode(bytes) match {
            case Some(img) => Row(img.getWidth, img.getHeight,
              img.getColorModel.getNumComponents, fmt)
            case None => Row(null, null, null, fmt)
          }
          Row.fromSeq(r.toSeq :+ meta)
        }
      }
    }(Encoders.row(outSchema))
  }
}

/** Real image codec on JDK `javax.imageio` — no external dependencies.
  * Decodes PNG/JPEG/GIF/BMP (the formats the JDK readers ship with),
  * resamples bilinearly, re-encodes PNG, and pools pixels to a
  * luminance grid for embedding. Corrupt/non-image bytes yield None
  * everywhere — callers decide row-level null semantics. */
object ImageCodec {

  /** Container format by magic bytes (decode-independent, so corrupt
    * files still report what they claimed to be). */
  def sniffFormat(bytes: Array[Byte]): String =
    if (bytes == null || bytes.length < 3) "unknown"
    else if (bytes(0) == 0x89.toByte && bytes(1) == 'P' && bytes(2) == 'N') "png"
    else if (bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "jpeg"
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') "gif"
    else if (bytes(0) == 'B' && bytes(1) == 'M') "bmp"
    else "unknown"

  def decode(bytes: Array[Byte]): Option[BufferedImage] =
    if (bytes == null || bytes.isEmpty) None
    else
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }

  /** Mean luminance (0..1) per cell of a gw×gh grid — spatial mean
    * pooling (A2) over real pixels, via one bilinear resample so cost
    * is O(gw×gh), not O(image). */
  def luminanceGrid(img: BufferedImage, gw: Int, gh: Int): Array[Float] = {
    val cells = new BufferedImage(gw, gh, BufferedImage.TYPE_INT_RGB)
    val g = cells.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, gw, gh, null)
    } finally g.dispose()
    val out = new Array[Float](gw * gh)
    var y = 0
    while (y < gh) {
      var x = 0
      while (x < gw) {
        val rgb = cells.getRGB(x, y)
        val r = (rgb >> 16) & 0xFF
        val gg = (rgb >> 8) & 0xFF
        val b = rgb & 0xFF
        // ITU-R BT.601 luma
        out(y * gw + x) = ((0.299 * r + 0.587 * gg + 0.114 * b) / 255.0).toFloat
        x += 1
      }
      y += 1
    }
    out
  }
}

/** Motion-image video container ("GMJ1" — an MJPEG-style layout built
  * from parts the JDK CAN decode): `magic "GMJ1" | nFrames:int32BE |
  * fps:int32BE | nFrames × (len:int32BE | image bytes)`. Each frame is
  * a complete PNG/JPEG, so frame DECODE is real ([[ImageCodec]]);
  * what stays a documented gap is inter-frame-compressed formats
  * (mp4/h264) — the JDK ships no such codec and none is installable
  * offline. Corrupt/truncated containers parse to None/empty, never
  * throw. */
object VideoCodec {
  private val Magic = Array[Byte]('G', 'M', 'J', '1')

  final case class VideoMeta(nFrames: Int, fps: Int)

  def sniffFormat(bytes: Array[Byte]): String =
    if (bytes != null && bytes.length >= Magic.length &&
      Magic.indices.forall(i => bytes(i) == Magic(i))) "gmj"
    else "unknown"

  private def readInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  def decodeMeta(bytes: Array[Byte]): Option[VideoMeta] =
    if (sniffFormat(bytes) != "gmj" || bytes.length < 12) None
    else {
      val n = readInt(bytes, 4)
      val fps = readInt(bytes, 8)
      if (n < 0 || fps < 0) None else Some(VideoMeta(n, fps))
    }

  /** Lazy (frame_idx, frame bytes) iterator — one frame in memory at a
    * time; stops cleanly at truncation or a corrupt length (the bound
    * check subtracts, so a huge crafted length cannot overflow into a
    * passing comparison). `step > 1` SKIPS the in-between frames
    * without copying their bytes — the sampling path advances offsets
    * only. */
  def frames(bytes: Array[Byte], step: Int = 1): Iterator[(Int, Array[Byte])] = {
    require(step >= 1, "step must be positive")
    decodeMeta(bytes) match {
      case None => Iterator.empty
      case Some(m) =>
        new Iterator[(Int, Array[Byte])] {
          private var idx = 0
          private var off = 12
          private def frameLen: Int = {
            val len = readInt(bytes, off)
            if (len >= 0 && len <= bytes.length - off - 4) len else -1
          }
          def hasNext: Boolean =
            idx < m.nFrames && off + 4 <= bytes.length && frameLen >= 0
          def next(): (Int, Array[Byte]) = {
            val len = frameLen
            val out = (idx, java.util.Arrays.copyOfRange(bytes, off + 4,
              off + 4 + len))
            idx += 1
            off += 4 + len
            // skip (copy-free) to the next sampled frame
            var toSkip = step - 1
            while (toSkip > 0 && idx < m.nFrames &&
              off + 4 <= bytes.length && frameLen >= 0) {
              off += 4 + frameLen
              idx += 1
              toSkip -= 1
            }
            out
          }
        }
    }
  }

  /** Build a container from encoded image frames (test/fixture path —
    * a real pipeline would transcode upstream). */
  def synthMotionImage(fps: Int, frameBytes: Seq[Array[Byte]]): Array[Byte] = {
    require(fps >= 1, "fps must be positive")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    def writeInt(v: Int): Unit = {
      out.write((v >>> 24) & 0xFF); out.write((v >>> 16) & 0xFF)
      out.write((v >>> 8) & 0xFF); out.write(v & 0xFF)
    }
    writeInt(frameBytes.length)
    writeInt(fps)
    frameBytes.foreach { f => writeInt(f.length); out.write(f) }
    out.toByteArray
  }
}

/** Real audio codec on JDK `javax.sound.sampled` — no external
  * dependencies, fully offline (WAV/AIFF/AU with PCM encodings; the
  * JDK ships no mp3/aac decoder, which stays a documented gap like
  * video inter-frame compression). Corrupt/unsupported bytes yield
  * None everywhere. */
object AudioCodec {

  final case class AudioMeta(sampleRate: Int, channels: Int, bits: Int,
      frames: Long)

  /** Container format by magic bytes. */
  def sniffFormat(bytes: Array[Byte]): String =
    if (bytes == null || bytes.length < 12) "unknown"
    else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A') "wav"
    else if (bytes(0) == 'F' && bytes(1) == 'O' && bytes(2) == 'R' &&
      bytes(3) == 'M') "aiff"
    else if (bytes(0) == '.' && bytes(1) == 's' && bytes(2) == 'n' &&
      bytes(3) == 'd') "au"
    else "unknown"

  def decodeMeta(bytes: Array[Byte]): Option[AudioMeta] =
    if (bytes == null || bytes.isEmpty) None
    else
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(bytes))
        try {
          val f = in.getFormat
          Some(AudioMeta(f.getSampleRate.toInt, f.getChannels,
            f.getSampleSizeInBits, in.getFrameLength))
        } finally in.close()
      } catch { case _: Exception => None }

  /** Decode up to `maxFrames` frames to mono float samples in [-1, 1]
    * (channels averaged). Supports the PCM encodings the JDK reads:
    * signed 16-bit (either endianness) and unsigned/signed 8-bit. */
  def pcmSamples(bytes: Array[Byte], maxFrames: Int): Option[Array[Float]] =
    if (bytes == null || bytes.isEmpty) None
    else
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new ByteArrayInputStream(bytes))
        try {
          val f = in.getFormat
          val enc = f.getEncoding
          val pcmSigned =
            enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          val pcmUnsigned =
            enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
          if (!pcmSigned && !pcmUnsigned) return None
          val bits = f.getSampleSizeInBits
          if (bits != 8 && bits != 16) return None
          val ch = f.getChannels
          val frameBytes = f.getFrameSize
          // unknown length (-1): read up to the cap, not zero frames
          val nFrames =
            if (in.getFrameLength < 0) maxFrames
            else math.min(in.getFrameLength, maxFrames.toLong).toInt
          val buf = new Array[Byte](nFrames * frameBytes)
          var off = 0
          var read = 0
          while (off < buf.length && read >= 0) {
            read = in.read(buf, off, buf.length - off)
            if (read > 0) off += read
          }
          val gotFrames = off / frameBytes
          val out = new Array[Float](gotFrames)
          val big = f.isBigEndian
          var fr = 0
          while (fr < gotFrames) {
            var acc = 0.0
            var c = 0
            while (c < ch) {
              val base = fr * frameBytes + c * (bits / 8)
              val v =
                if (bits == 16) {
                  val lo = buf(base + (if (big) 1 else 0)) & 0xFF
                  val hi = buf(base + (if (big) 0 else 1))
                  ((hi << 8) | lo).toShort / 32768.0
                } else if (pcmUnsigned) ((buf(base) & 0xFF) - 128) / 128.0
                else buf(base) / 128.0
              acc += v
              c += 1
            }
            out(fr) = (acc / ch).toFloat
            fr += 1
          }
          Some(out)
        } finally in.close()
      } catch { case _: Exception => None }

  /** Deterministic 16-bit PCM mono WAV synthesis (RIFF container) —
    * the offline fixture generator for audio pipelines and specs. */
  def synthWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16) // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }
}
