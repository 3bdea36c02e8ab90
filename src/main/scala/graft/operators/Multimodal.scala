package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §2e): treat image/audio/video as
  * opaque `binary` columns with typed metadata, and run feature extraction
  * row by row inside each partition.
  *
  * The Spark-side shape — schema, partition-parallel extraction,
  * deterministic features — is real and tested, and so are the DECODERS
  * (r15): PNG through a self-contained wire-level path ([[decodePng]] —
  * chunk walk, Inflater, all five scanline filters), JPEG/GIF/BMP through
  * the JDK's own codec ([[decodeImage]] — `javax.imageio` ships in
  * java.desktop; earlier rounds' "no codec library in this container"
  * claim was wrong), and WAV/PCM sample extraction ([[decodeWav]]).
  */
object Multimodal {

  /** Typed metadata for an opaque media payload: byte length, sha-256
    * content id, and a magic-byte format sniff — pure expressions, no UDF.
    * (Format sniffing mirrors what the reference's file parsers do with
    * DFASDL `bin` elements.)
    */
  def attachMetadata(df: DataFrame, binCol: String): DataFrame = {
    val bin = col(binCol)
    val magic = upper(hex(substring(bin, 1, 4)))
    df.withColumn("media_meta", struct(
      length(bin).cast(LongType).as("byte_len"),
      sha2(bin, 256).as("content_sha256"),
      when(magic.startsWith("89504E47"), "png")
        .when(magic.startsWith("FFD8FF"), "jpeg")
        .when(magic.startsWith("52494646"), "riff")
        .when(magic.startsWith("1A45DFA3"), "webm")
        .otherwise("unknown").as("format")
    ))
  }

  /** Byte-histogram feature: 16 buckets over byte values, L1-normalized —
    * a real, deterministic per-payload feature computed without any codec
    * (usable for corruption screening / format clustering at scale).
    * Implemented with mapPartitions, the Scala analog of `mapInPandas`:
    * one payload at a time per partition, so only the current payload is
    * held alive.
    */
  def byteHistogram(df: DataFrame, binCol: String, idCol: String): DataFrame =
    byteHistogramCounts(df, binCol, idCol)
      .select(col("id"),
        transform(col("counts"),
          c => c.cast(DoubleType) / greatest(col("n_bytes"), lit(1L)).cast(DoubleType))
          .cast(ArrayType(FloatType)).as("features"))

  /** Raw 16-bucket byte counts + payload length — the integer-exact form of
    * [[byteHistogram]] (no float division), which is what an engine-portable
    * comparison needs. Dataset mapPartitions with a product encoder, without
    * the RDD detour's Row reflection.
    */
  def byteHistogramCounts(df: DataFrame, binCol: String,
                          idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val hist = new Array[Long](16)
        var i = 0
        while (i < bytes.length) {
          hist((bytes(i) & 0xff) >>> 4) += 1
          i += 1
        }
        (id, hist, bytes.length.toLong)
      }).toDF("id", "counts", "n_bytes")
  }

  /** A decoded raster: geometry plus the flattened H×W×C pixel bytes in
    * row-major, channel-interleaved order (the PNG wire order).
    */
  final case class Raster(width: Int, height: Int, channels: Int,
                          pixels: Array[Byte])

  /** REAL pixel decode for PNG (r15 — retires the pixel-level stub for the
    * one format the JDK can decompress without a codec library): full
    * ISO/IEC 15948 chunk walk (IHDR geometry, concatenated IDAT streams,
    * IEND), zlib inflate via `java.util.zip.Inflater`, and per-scanline
    * UNFILTERING of all five filter types (None/Sub/Up/Average/Paeth,
    * §9.2) — the actual reconstruction arithmetic, not a header peek.
    * Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 6 (RGBA),
    * non-interlaced. Anything else — and any truncated, oversized-length,
    * or length-mismatched stream — returns None rather than a torn raster.
    * JPEG decodes through the JDK codec instead ([[decodeImage]]); this
    * path exists for the wire-level arithmetic and for deployments without
    * java.desktop.
    */
  def decodePng(b: Array[Byte]): Option[Raster] = {
    if (b == null) return None
    @inline def u8(i: Int): Int = b(i) & 0xff
    @inline def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (b.length < 8 || sig.indices.exists(i => u8(i) != sig(i))) return None
    var i = 8
    var w = 0; var h = 0; var depth = -1; var colorType = -1; var interlace = -1
    val idat = new java.io.ByteArrayOutputStream()
    var end = false
    while (!end) {
      if (i + 8 > b.length) return None // chunk header truncated
      val len = be32(i)
      if (len < 0 || i.toLong + 12L + len > b.length) return None
      val typ = (u8(i + 4) << 24) | (u8(i + 5) << 16) | (u8(i + 6) << 8) | u8(i + 7)
      typ match {
        case 0x49484452 => // IHDR
          if (len < 13) return None
          w = be32(i + 8); h = be32(i + 12)
          depth = u8(i + 16); colorType = u8(i + 17); interlace = u8(i + 20)
        case 0x49444154 => idat.write(b, i + 8, len) // IDAT
        case 0x49454e44 => end = true                // IEND
        case _ => ()
      }
      i += 12 + len
    }
    if (depth != 8 || interlace != 0 || w <= 0 || h <= 0) return None
    val ch = colorType match {
      case 0 => 1; case 2 => 3; case 6 => 4; case _ => return None
    }
    // decompression-bomb guard: refuse geometries whose raster cannot be a
    // JVM array (and, long before that, whose inflation a screening task
    // should never attempt) — a 16-byte header must not command a 2 GB
    // allocation. 256 MB bounds any real curation-time screen.
    val pixLenL = w.toLong * h * ch
    if (pixLenL + h > (256L << 20)) return None
    val stride = w * ch
    val rawLen = h * (stride + 1) // one filter byte per scanline
    val raw = new Array[Byte](rawLen)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < rawLen && !inf.finished()) {
        val n = inf.inflate(raw, got, rawLen - got)
        if (n == 0 && inf.needsInput()) return None // stream short
        got += n
      }
      // a longer-than-geometry stream is as corrupt as a shorter one
      if (got != rawLen || inf.inflate(new Array[Byte](1)) != 0) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    val out = new Array[Byte](h * stride)
    @inline def paeth(a: Int, u: Int, c: Int): Int = {
      val p = a + u - c
      val pa = math.abs(p - a); val pb = math.abs(p - u); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) u else c
    }
    var r = 0
    while (r < h) {
      val filter = raw(r * (stride + 1)) & 0xff
      val src = r * (stride + 1) + 1
      val dst = r * stride
      var x = 0
      while (x < stride) {
        val cur = raw(src + x) & 0xff
        val left = if (x >= ch) out(dst + x - ch) & 0xff else 0
        val up = if (r > 0) out(dst - stride + x) & 0xff else 0
        val ul = if (r > 0 && x >= ch) out(dst - stride + x - ch) & 0xff else 0
        val v = filter match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + ((left + up) >> 1)
          case 4 => cur + paeth(left, up, ul)
          case _ => return None
        }
        out(dst + x) = (v & 0xff).toByte
        x += 1
      }
      r += 1
    }
    Some(Raster(w, h, ch, out))
  }

  /** Encode a raster as a minimal valid PNG (filter 0 scanlines, one
    * deflated IDAT, CRC-32 per chunk) — the fixture/round-trip counterpart
    * of [[decodePng]], also pure JDK (`Deflater`/`CRC32`).
    */
  def encodePng(img: Raster): Array[Byte] = {
    require(img.pixels.length == img.width * img.height * img.channels,
      s"pixel buffer ${img.pixels.length} != w*h*c")
    val colorType = img.channels match {
      case 1 => 0; case 3 => 2; case 4 => 6
      case c => throw new IllegalArgumentException(s"unsupported channels $c")
    }
    val stride = img.width * img.channels
    val raw = new Array[Byte](img.height * (stride + 1))
    var r = 0
    while (r < img.height) {
      // raw(r*(stride+1)) stays 0: filter type None
      System.arraycopy(img.pixels, r * stride, raw, r * (stride + 1) + 1, stride)
      r += 1
    }
    val comp = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      while (!d.finished()) buf.write(tmp, 0, d.deflate(tmp))
      d.end(); buf.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be32(data.length))
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(tb); out.write(data); out.write(be32(crc.getValue.toInt))
    }
    chunk("IHDR", be32(img.width) ++ be32(img.height) ++
      Array(8.toByte, colorType.toByte, 0.toByte, 0.toByte, 0.toByte))
    chunk("IDAT", comp)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** A decoded PCM clip: format fields plus the interleaved 16-bit samples. */
  final case class PcmClip(sampleRate: Int, channels: Int, samples: Array[Short])

  /** REAL audio decode for WAV/PCM (r15): RIFF/WAVE chunk walk, `fmt `
    * validation (format tag 1 = linear PCM, 16-bit), little-endian sample
    * extraction from `data`. A truncated data chunk, a non-PCM format tag
    * or a non-16-bit depth returns None — never a torn clip. Perceptually
    * compressed audio (MP3/AAC/Opus) stays out of scope: the JDK ships no
    * decoder for those (javax.sound covers PCM-family encodings only).
    */
  def decodeWav(b: Array[Byte]): Option[PcmClip] = {
    if (b == null) return None
    @inline def u8(i: Int): Int = b(i) & 0xff
    @inline def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    @inline def le32(i: Int): Int =
      u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def tag(i: Int, s: String): Boolean =
      s.indices.forall(j => u8(i + j) == s.charAt(j))
    if (b.length < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return None
    var i = 12
    var fmtOk = false; var rate = 0; var nCh = 0
    var samples: Array[Short] = null
    while (i + 8 <= b.length && samples == null) {
      val len = le32(i + 4)
      if (len < 0 || i.toLong + 8L + len > b.length) return None
      if (tag(i, "fmt ")) {
        if (len < 16) return None
        val audioFormat = le16(i + 8)
        nCh = le16(i + 10); rate = le32(i + 12)
        val bits = le16(i + 22)
        if (audioFormat != 1 || bits != 16 || nCh <= 0) return None
        fmtOk = true
      } else if (tag(i, "data")) {
        if (!fmtOk || len % 2 != 0) return None
        val n = len / 2
        val s = new Array[Short](n)
        var j = 0
        while (j < n) { s(j) = le16(i + 8 + 2 * j).toShort; j += 1 }
        samples = s
      }
      i += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (samples == null) None else Some(PcmClip(rate, nCh, samples))
  }

  /** Encode 16-bit PCM as a minimal canonical WAV — the fixture/round-trip
    * counterpart of [[decodeWav]].
    */
  def encodeWav(clip: PcmClip): Array[Byte] = {
    val dataLen = clip.samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(clip.channels.toShort).putInt(clip.sampleRate)
      .putInt(clip.sampleRate * clip.channels * 2)
      .putShort((clip.channels * 2).toShort).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    clip.samples.foreach(out.putShort)
    out.array()
  }

  /** JDK-codec image decode (r15): `javax.imageio` SHIPS in this JDK's
    * java.desktop module — JPEG (full entropy decode), PNG, GIF, BMP — so
    * the "no codec library in the container" boundary earlier rounds
    * recorded was wrong and is hereby retired. Returns an RGB raster
    * (3 channels, row-major interleaved, alpha dropped) or None for
    * undecodable payloads; the same bomb guard as [[decodePng]] applies
    * after the HEADER parse but BEFORE the codec's full decode — the
    * dimensions come from `ImageReader.getWidth/getHeight` (a header read),
    * so a hostile payload declaring a multi-gigapixel geometry is refused
    * without ever allocating its raster (r16, ADVICE: a bare
    * `ImageIO.read` allocates the whole raster inside the codec first).
    * [[decodePng]] stays as the self-contained wire-level path (it
    * exercises the actual unfilter arithmetic and needs no java.desktop).
    */
  /** ImageIO's DEFAULT stream cache is a disk temp file per image — a
    * per-row file create/delete at corpus scale. Route through the memory
    * cache once per JVM (executor-side too: this initializer runs wherever
    * the task first touches the object).
    */
  private lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  def decodeImage(bin: Array[Byte]): Option[Raster] = {
    if (bin == null) return None
    imageIoMemCache
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bin))
      if (iis == null) return None
      val img = try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          // geometry guard on the HEADER dims, before the codec allocates
          val hw = reader.getWidth(0); val hh = reader.getHeight(0)
          if (hw <= 0 || hh <= 0 || hw.toLong * hh * 3 > (256L << 20)) return None
          reader.read(0)
        } finally reader.dispose()
      } finally iis.close()
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h * 3 > (256L << 20)) return None
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          val o = (y * w + x) * 3
          out(o) = ((p >> 16) & 0xff).toByte
          out(o + 1) = ((p >> 8) & 0xff).toByte
          out(o + 2) = (p & 0xff).toByte
          x += 1
        }
        y += 1
      }
      Some(Raster(w, h, 3, out))
    } catch { case _: Exception => None }
  }

  /** Encode an RGB raster as baseline JPEG via the JDK codec — the fixture
    * counterpart of [[decodeImage]]'s JPEG path.
    */
  def encodeJpeg(img: Raster): Array[Byte] = {
    require(img.channels == 3, s"JPEG fixture encodes RGB, got ${img.channels}")
    imageIoMemCache
    val bi = new java.awt.image.BufferedImage(img.width, img.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        val o = (y * img.width + x) * 3
        bi.setRGB(x, y,
          ((img.pixels(o) & 0xff) << 16) | ((img.pixels(o + 1) & 0xff) << 8) |
            (img.pixels(o + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "jpeg", bos)
    bos.toByteArray
  }

  /** Pixel decode in the plumbing contract's shape — binary in, flattened
    * H×W×C float tensor out (channel values scaled to [0,1]). PNG decodes
    * through the self-contained wire-level path; everything else through
    * the JDK codec ([[decodeImage]] — JPEG/GIF/BMP).
    */
  def decodePixels(bin: Array[Byte]): Array[Float] =
    decodePng(bin).orElse(decodeImage(bin)) match {
      case Some(img) => img.pixels.map(p => (p & 0xff) / 255.0f)
      case None => throw new UnsupportedOperationException(
        "payload is not a decodable image (PNG wire path + JDK ImageIO both refused)")
    }

  /** JPEG screening with a LOSSY-codec oracle contract: decode each
    * payload via the JDK codec and report exact geometry plus a
    * `within_tol` flag — max absolute per-channel error against the
    * caller-supplied expected uniform color, bounded by `tol`. The flag is
    * the invariant-oracle trick for an entropy-coded format: reconstruction
    * values are codec-version-specific, but uniform-color blocks must come
    * back within quantization distance (measured max 3 at default quality
    * over the fixture palette; a stride/channel/colorspace defect shows
    * 50+), so the FLAG is engine-portable while the decode stays real.
    */
  def jpegUniformStats(df: DataFrame, binCol: String, idCol: String,
                       expR: org.apache.spark.sql.Column,
                       expG: org.apache.spark.sql.Column,
                       expB: org.apache.spark.sql.Column,
                       tol: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(binCol),
        expR.cast(LongType), expG.cast(LongType), expB.cast(LongType))
      .as[(Long, Array[Byte], Long, Long, Long)]
      .mapPartitions(_.map { case (id, bytes, r, g, b) =>
        decodeImage(bytes) match {
          case Some(img) =>
            var maxErr = 0L
            var i = 0
            while (i < img.pixels.length) {
              val exp = (i % 3) match { case 0 => r; case 1 => g; case _ => b }
              val e = math.abs((img.pixels(i) & 0xff) - exp)
              if (e > maxErr) maxErr = e
              i += 1
            }
            (id, 1L, img.width.toLong, img.height.toLong,
              if (maxErr <= tol) 1L else 0L)
          case None => (id, 0L, -1L, -1L, -1L)
        }
      }).toDF("id", "ok", "width", "height", "within_tol")
  }

  /** PNG pixel-level screening: decode each payload with
    * [[decodePng]] and report integer raster statistics — geometry plus
    * per-channel pixel sums (first three channels; -1 where absent), with
    * ok=0 / all -1 for payloads that fail the full decode (truncation,
    * bad filter, length-mismatched zlib stream). Only fixed-width stats
    * leave the task, never pixel buffers.
    */
  def pngStats(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodePng(bytes) match {
          case Some(img) =>
            val sums = new Array[Long](3)
            var i = 0
            while (i < img.pixels.length) {
              val c = i % img.channels
              if (c < 3) sums(c) += img.pixels(i) & 0xff
              i += 1
            }
            (id, 1L, img.width.toLong, img.height.toLong, img.channels.toLong,
              if (img.channels > 0) sums(0) else -1L,
              if (img.channels > 1) sums(1) else -1L,
              if (img.channels > 2) sums(2) else -1L)
          case None => (id, 0L, -1L, -1L, -1L, -1L, -1L, -1L)
        }
      }).toDF("id", "ok", "width", "height", "channels", "sum_c0", "sum_c1", "sum_c2")
  }

  /** WAV/PCM screening: decode each payload with [[decodeWav]] and
    * report integer clip statistics — format fields, sample count, total
    * and peak absolute amplitude (the silence/clipping screens an audio
    * curation pass runs) — with ok=0 / all -1 for undecodable payloads.
    */
  def wavStats(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        decodeWav(bytes) match {
          case Some(clip) =>
            var sumAbs = 0L; var maxAbs = 0L
            clip.samples.foreach { s =>
              val a = math.abs(s.toLong)
              sumAbs += a; if (a > maxAbs) maxAbs = a
            }
            (id, 1L, clip.sampleRate.toLong, clip.channels.toLong,
              clip.samples.length.toLong, sumAbs, maxAbs)
          case None => (id, 0L, -1L, -1L, -1L, -1L, -1L)
        }
      }).toDF("id", "ok", "sample_rate", "channels", "n_samples", "sum_abs", "max_abs")
  }

  /** REAL header decode (r15 — retires the SURVEY §2e "decode stubbed"
    * note at the metadata level): parse the container header of an opaque
    * media payload with pure JDK byte arithmetic — no codec library — and
    * return (format, width, height, bit_depth). This is the decode step a
    * curation pipeline actually needs at scan time (resolution filters,
    * aspect-ratio buckets, bit-depth screens) without ever decompressing
    * pixel data:
    *
    *  - PNG: 8-byte signature, then the IHDR chunk's big-endian
    *    width/height and bit-depth byte (ISO/IEC 15948 §11.2.2).
    *  - JPEG: SOI, then a marker scan that skips variable-length segments
    *    to the first SOF frame header (any SOFn except DHT/DAC/JPG) —
    *    precision, big-endian height then width (ITU T.81 §B.2.2).
    *  - GIF: GIF87a/GIF89a signature, then the logical-screen descriptor's
    *    LITTLE-endian width/height and the packed field's GCT-size bits
    *    (bit depth = (packed & 7) + 1; GIF89a spec §18).
    *
    * A payload whose magic matches but whose header is truncated keeps its
    * format tag with null geometry; an unrecognized payload is
    * ("unknown", null, null, null). Total per payload: a few dozen byte
    * reads, no allocation beyond the result.
    */
  def decodeHeader(b: Array[Byte])
  : (String, Option[Int], Option[Int], Option[Int]) = {
    @inline def u8(i: Int): Int = b(i) & 0xff
    @inline def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    @inline def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    @inline def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    val n = b.length
    def startsWith(sig: Int*): Boolean =
      n >= sig.length && sig.indices.forall(i => u8(i) == sig(i))
    if (startsWith(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)) {
      // IHDR must be the first chunk: length(4) type(4) at offset 8,
      // width/height/depth at 16/20/24
      if (n >= 25 && be32(8) >= 13 &&
          u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R')
        ("png", Some(be32(16)), Some(be32(20)), Some(u8(24)))
      else ("png", None, None, None)
    } else if (startsWith(0xff, 0xd8)) {
      var i = 2
      var res: (String, Option[Int], Option[Int], Option[Int]) =
        ("jpeg", None, None, None)
      var done = false
      while (!done && i + 1 < n) {
        if (u8(i) != 0xff) { done = true } // desynced — not a marker
        else {
          var j = i + 1
          while (j < n && u8(j) == 0xff) j += 1 // fill bytes
          if (j >= n) done = true
          else u8(j) match {
            case m if (m >= 0xc0 && m <= 0xcf) &&
                m != 0xc4 && m != 0xc8 && m != 0xcc => // SOFn frame header
              if (j + 8 < n)
                res = ("jpeg", Some(be16(j + 6)), Some(be16(j + 4)),
                  Some(u8(j + 3)))
              done = true
            case m if m == 0x01 || (m >= 0xd0 && m <= 0xd9) => // standalone
              i = j + 1
            case _ => // variable-length segment: skip by its length field
              if (j + 2 < n) i = j + 1 + be16(j + 1) else done = true
          }
        }
      }
      res
    } else if (startsWith('G', 'I', 'F', '8') && n >= 6 &&
        (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a') {
      if (n >= 11)
        ("gif", Some(le16(6)), Some(le16(8)), Some((u8(10) & 0x07) + 1))
      else ("gif", None, None, None)
    } else ("unknown", None, None, None)
  }

  /** [[decodeHeader]] over a DataFrame's binary column — the same
    * per-partition plumbing as [[byteHistogramCounts]] (where a pixel
    * decoder would slot in), emitting (id, format, width, height,
    * bit_depth) with null geometry for truncated/unknown payloads.
    */
  def decodeHeaders(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (fmt, w, h, d) = decodeHeader(bytes)
        (id, fmt, w, h, d)
      }).toDF("id", "format", "width", "height", "bit_depth")
  }

  /** Frame sampling plumbing for chunked media: split the payload into
    * fixed-size chunks and keep every `stride`-th one — pure expressions
    * (posexplode over computed offsets), no UDF, fully distributed.
    */
  def sampleChunks(df: DataFrame, binCol: String, chunkBytes: Int,
                   stride: Int): DataFrame = {
    val nChunks = ceil(length(col(binCol)).cast(DoubleType) / chunkBytes).cast(IntegerType)
    df.withColumn("chunk_idx",
        explode(filter(sequence(lit(0), greatest(nChunks - 1, lit(0))),
          i => i % stride === 0)))
      .withColumn("chunk",
        expr(s"substring($binCol, chunk_idx * $chunkBytes + 1, $chunkBytes)"))
  }
}
