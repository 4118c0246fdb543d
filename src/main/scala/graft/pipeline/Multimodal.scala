package graft.pipeline

import graft.gen.SplitMix.mix
import org.apache.spark.sql.{Dataset, SparkSession}
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata, processed by batched `mapPartitions`.
  *
  * The decode is REAL: images are PNG decoded with `javax.imageio`, audio
  * is 16-bit PCM WAV decoded with `javax.sound.sampled`, video is a
  * length-prefixed container of PNG frames decoded frame-by-frame. The
  * synthetic generator produces genuine PNG/WAV payloads whose pixel/sample
  * streams come from splitmix64 — both containers are lossless, so decoded
  * values equal the generator stream exactly, and an external SQL engine
  * can replay integer statistics (pixel-sum checksums) bit-exactly: that
  * backs the driver oracle.
  */
final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
    width: Int, height: Int, n_frames: Int)

/** n_units = decoded pixels (image: w*h; video: n_frames*w*h) or samples
  * (audio); checksum = Σ(r+g+b) over decoded pixels, or Σ unsigned-16-bit
  * sample values — integer-exact functions of REAL decoded media.
  */
final case class MediaFeature(media_id: Long, kind: String,
    feature: Array[Float], n_bytes: Int, n_units: Long, checksum: Long)

final case class FrameRow(media_id: Long, frame_idx: Int, frame: Array[Byte])

object Multimodal {

  private val Kinds = Array("image", "audio", "video")

  /** PNG with pixels from the splitmix stream: pixel k (row-major) carries
    * v = mix(base + k); r/g/b = low three bytes of v.
    *
    * Hand-assembled 8-bit truecolor PNG (public PNG spec: IHDR + one IDAT
    * of filter-0 scanlines + IEND) with Deflater speed level 1 — the
    * ImageIO PNG writer spends its time running maximum-level deflate over
    * pixels that are cryptographically random (incompressible by
    * construction), which made the synth side ~5× the cost of the decode
    * it feeds. The DECODED pixel stream is identical (PNG is lossless and
    * the decoder path below stays javax.imageio), so the oracle replay is
    * unaffected.
    */
  private def pngBytes(w: Int, h: Int, base: Long): Array[Byte] = {
    // raw scanlines: per row a 0 filter byte then w RGB triples
    val raw = new Array[Byte](h * (1 + 3 * w))
    var k = 0
    var p = 0
    var y = 0
    while (y < h) {
      raw(p) = 0 // filter: None
      p += 1
      var x = 0
      while (x < w) {
        val v = mix(base + k)
        raw(p) = (v & 0xff).toByte
        raw(p + 1) = ((v >>> 8) & 0xff).toByte
        raw(p + 2) = ((v >>> 16) & 0xff).toByte
        p += 3
        k += 1
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater(1)
    deflater.setInput(raw)
    deflater.finish()
    val comp = new ByteArrayOutputStream(raw.length + 64)
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) comp.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val idat = comp.toByteArray
    val out = new ByteArrayOutputStream(idat.length + 64)
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n'), 0, 8)
    def chunk(tag: String, body: Array[Byte]): Unit = {
      val len = body.length
      out.write((len >>> 24) & 0xff); out.write((len >>> 16) & 0xff)
      out.write((len >>> 8) & 0xff); out.write(len & 0xff)
      val tb = tag.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb)
      crc.update(body)
      out.write(tb, 0, 4)
      out.write(body, 0, body.length)
      val c = crc.getValue
      out.write(((c >>> 24) & 0xff).toInt); out.write(((c >>> 16) & 0xff).toInt)
      out.write(((c >>> 8) & 0xff).toInt); out.write((c & 0xff).toInt)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((w >>> 24) & 0xff).toByte; ihdr(1) = ((w >>> 16) & 0xff).toByte
    ihdr(2) = ((w >>> 8) & 0xff).toByte; ihdr(3) = (w & 0xff).toByte
    ihdr(4) = ((h >>> 24) & 0xff).toByte; ihdr(5) = ((h >>> 16) & 0xff).toByte
    ihdr(6) = ((h >>> 8) & 0xff).toByte; ihdr(7) = (h & 0xff).toByte
    ihdr(8) = 8 // bit depth
    ihdr(9) = 2 // color type: truecolor RGB
    ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0 // deflate, filter 0, no interlace
    chunk("IHDR", ihdr)
    chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** 16-bit PCM mono WAV: sample k = (mix(base + k) & 0xffff) - 32768. */
  private def wavBytes(nSamples: Int, base: Long): Array[Byte] = {
    val data = new Array[Byte](nSamples * 2)
    var k = 0
    while (k < nSamples) {
      val s = ((mix(base + k) & 0xffffL).toInt - 32768).toShort
      data(2 * k) = (s & 0xff).toByte
      data(2 * k + 1) = ((s >> 8) & 0xff).toByte
      k += 1
    }
    val fmt = new AudioFormat(16000f, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, nSamples.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Frame f's stream base — spreads frames apart in splitmix space. */
  @inline private def frameBase(r: Long, f: Int): Long = r + (f + 1) * 1048573L

  /** Video container: 4-byte big-endian length + PNG bytes, per frame. */
  private def videoBytes(w: Int, h: Int, nFrames: Int, r: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    var f = 0
    while (f < nFrames) {
      val png = pngBytes(w, h, frameBase(r, f))
      bos.write((png.length >>> 24) & 0xff)
      bos.write((png.length >>> 16) & 0xff)
      bos.write((png.length >>> 8) & 0xff)
      bos.write(png.length & 0xff)
      bos.write(png, 0, png.length)
      f += 1
    }
    bos.toByteArray
  }

  /** Parse the video container back into per-frame PNG byte arrays. */
  def videoFrames(payload: Array[Byte]): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private var pos = 0
      override def hasNext: Boolean = pos + 4 <= payload.length
      override def next(): Array[Byte] = {
        val len = ((payload(pos) & 0xff) << 24) | ((payload(pos + 1) & 0xff) << 16) |
          ((payload(pos + 2) & 0xff) << 8) | (payload(pos + 3) & 0xff)
        val out = java.util.Arrays.copyOfRange(payload, pos + 4, pos + 4 + len)
        pos += 4 + len
        out
      }
    }

  /** Deterministic synthetic media table holding REAL encoded payloads.
    * Every derived quantity is a pure function of (seed, media_id):
    *   r  = mix(seed ^ mix(id))
    *   kind = [image, audio, video][(r & 0x7fffffff) % 3]
    *   w = 8 + ((r >>> 3) % 16); h = 8 + ((r >>> 7) % 16)
    *   nSamples = 256 + ((r >>> 11) % 1024); nFrames = 4 + ((r >>> 15) % 12)
    * so an external engine can replay the stream (the driver oracle does).
    */
  def synth(spark: SparkSession, n: Long, parts: Int, seed: Long = 11L): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts).map { i =>
      val r = mix(seed ^ mix(i))
      val kind = Kinds((r & 0x7fffffffL).toInt % 3)
      val w = (8 + ((r >>> 3) % 16)).toInt
      val h = (8 + ((r >>> 7) % 16)).toInt
      kind match {
        case "image" => MediaRow(i, kind, pngBytes(w, h, r + 1), w, h, 1)
        case "audio" =>
          val ns = (256 + ((r >>> 11) % 1024)).toInt
          MediaRow(i, kind, wavBytes(ns, r + 1), ns, 1, 1)
        case _ =>
          val nf = (4 + ((r >>> 15) % 12)).toInt
          MediaRow(i, kind, videoBytes(w, h, nf, r), w, h, nf)
      }
    }
  }

  /** Accumulate one decoded image into (units, checksum, feature); `k0` is
    * the global pixel index so video frames chain into one feature stream.
    */
  private def accumImage(img: BufferedImage, feat: Array[Float],
      k0: Long): (Long, Long) = {
    val dim = feat.length
    var checksum = 0L
    var k = k0
    val w = img.getWidth
    val h = img.getHeight
    // ONE bulk pixel fetch: per-pixel getRGB re-runs the color-model
    // dispatch for every sample; the decode itself is still the real
    // javax.imageio PNG decode that produced `img`
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var i = 0
    val n = w * h
    while (i < n) {
      val rgb = px(i)
      val red = (rgb >>> 16) & 0xff
      val green = (rgb >>> 8) & 0xff
      val blue = rgb & 0xff
      checksum += red + green + blue
      feat(((k * 3) % dim).toInt) += red / 255f - 0.5f
      feat(((k * 3 + 1) % dim).toInt) += green / 255f - 0.5f
      feat(((k * 3 + 2) % dim).toInt) += blue / 255f - 0.5f
      k += 1
      i += 1
    }
    (k - k0, checksum)
  }

  /** Reusable PNG decoder: `ImageIO.read` builds a fresh ImageReader and
    * ImageInputStream per call, which dominates decode of the many small
    * frames here; one reader per partition amortizes that setup. The
    * decode itself is still javax.imageio's real PNG reader (the oracle
    * contract), and ImageReader is used single-threaded per instance.
    */
  private[pipeline] final class PngReader {
    private val reader = ImageIO.getImageReadersByFormatName("png").next()
    def read(bytes: Array[Byte]): BufferedImage = {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        reader.setInput(iis, true, true)
        reader.read(0)
      } finally iis.close()
    }
  }

  /** REAL media decode → (units, checksum, feature). */
  private[pipeline] def decodeMedia(m: MediaRow, dim: Int,
      png: PngReader = new PngReader): (Long, Long, Array[Float]) = {
    val feat = new Array[Float](dim)
    m.kind match {
      case "image" =>
        val (n, c) = accumImage(png.read(m.payload), feat, 0L)
        (n, c, feat)
      case "audio" =>
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(m.payload))
        val bytes = ais.readAllBytes()
        ais.close()
        var checksum = 0L
        var k = 0
        val n = bytes.length / 2
        while (k < n) {
          val s = ((bytes(2 * k) & 0xff) | (bytes(2 * k + 1) << 8)).toShort
          checksum += s + 32768 // unsigned 16-bit value, as generated
          feat(k % dim) += s / 32768f
          k += 1
        }
        (n.toLong, checksum, feat)
      case _ =>
        var units = 0L
        var checksum = 0L
        videoFrames(m.payload).foreach { frame =>
          val (n, c) = accumImage(png.read(frame), feat, units)
          units += n
          checksum += c
        }
        (units, checksum, feat)
    }
  }

  /** Feature extraction: batched per-partition REAL decode → fixed-dim
    * vector + integer pixel/sample statistics. Narrow (no shuffle); the
    * per-partition iterator is where a heavier decoder would amortize its
    * init cost, exactly like a mapInPandas batch.
    */
  def extractFeatures(ds: Dataset[MediaRow], dim: Int = 16): Dataset[MediaFeature] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val png = new PngReader // once per task, amortized over the batch
      it.map { m =>
        val (units, checksum, feat) = decodeMedia(m, dim, png)
        MediaFeature(m.media_id, m.kind, feat, m.payload.length, units, checksum)
      }
    }
  }

  /** Frame sampling fan-out for videos: one row per sampled frame, carrying
    * the frame's own decodable PNG bytes extracted from the container.
    */
  def frameSample(ds: Dataset[MediaRow], everyN: Int = 4): Dataset[FrameRow] = {
    import ds.sparkSession.implicits._
    ds.filter(_.kind == "video").flatMap { m =>
      videoFrames(m.payload).zipWithIndex.collect {
        case (png, f) if f % everyN == 0 => FrameRow(m.media_id, f, png)
      }
    }
  }

  /** Real image resize: decode → bilinear scale → PNG re-encode. Videos
    * resize every frame; audio passes through unchanged.
    */
  def resize(ds: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import ds.sparkSession.implicits._
    def resizePng(png: Array[Byte]): Array[Byte] = {
      val src = ImageIO.read(new ByteArrayInputStream(png))
      val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
      g.dispose()
      val bos = new ByteArrayOutputStream()
      ImageIO.write(dst, "png", bos)
      bos.toByteArray
    }
    ds.map { m =>
      m.kind match {
        case "image" => m.copy(payload = resizePng(m.payload), width = w, height = h)
        case "video" =>
          val bos = new ByteArrayOutputStream()
          videoFrames(m.payload).foreach { png =>
            val out = resizePng(png)
            bos.write((out.length >>> 24) & 0xff)
            bos.write((out.length >>> 16) & 0xff)
            bos.write((out.length >>> 8) & 0xff)
            bos.write(out.length & 0xff)
            bos.write(out, 0, out.length)
          }
          m.copy(payload = bos.toByteArray, width = w, height = h)
        case _ => m
      }
    }
  }
}
