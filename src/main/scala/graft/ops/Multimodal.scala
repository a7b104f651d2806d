package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque binary
  * columns with typed metadata, processed in partition-sized batches.
  *
  * Decode is REAL for every container format whose metadata lives in
  * header bytes — no external libraries needed: PNG (IHDR), GIF (logical
  * screen descriptor), JPEG (SOF segment scan), WAV (RIFF `fmt `/`data`
  * chunk walk → channels/rate/duration), and MP4 (ISO-BMFF box walk →
  * `moov/mvhd` timescale+duration, `moov/trak/tkhd` 16.16-fixed geometry).
  * Only the 16-dim feature embedding remains a clearly-marked
  * deterministic stub (this container has no models); the Spark-side
  * contract — schema, batch shape, partitioning, null/error isolation —
  * is the real production shape throughout.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      decode_ok: Boolean,
      format: String, // png | gif | jpeg | wav | mp4 | "" (unknown)
      width: Int, // image/video pixel geometry; 0 for audio
      height: Int,
      n_frames: Int, // images 1; video: 30 fps estimate from mvhd duration
      channels: Int, // audio channel count; 0 for image/video
      sample_rate: Int, // audio sample rate (Hz); 0 for image/video
      duration_ms: Long, // audio/video duration; 0 for images
      feature: Array[Float] // fixed 16-dim STUB embedding
  )

  // ---- real header decoders ----

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  @inline private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  @inline private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  @inline private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) | (u8(b, i + 2).toLong << 16) |
      (u8(b, i + 3).toLong << 24)
  @inline private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  @inline private def fourCC(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0) && b(i + 1) == s.charAt(1) && b(i + 2) == s.charAt(2) &&
      b(i + 3) == s.charAt(3)

  /** PNG: 8-byte signature, then the IHDR chunk carries width/height as
    * big-endian u32 at offsets 16 and 20.
    */
  def decodePng(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 24) return None
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    var i = 0
    while (i < 8) { if (u8(b, i) != sig(i)) return None; i += 1 }
    // chunk type at 12..15 must be IHDR
    if (b(12) != 'I' || b(13) != 'H' || b(14) != 'D' || b(15) != 'R') return None
    val w = be32(b, 16)
    val h = be32(b, 20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) None
    else Some((w.toInt, h.toInt))
  }

  /** GIF87a/GIF89a: width/height as little-endian u16 at offsets 6 and 8. */
  def decodeGif(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 10) return None
    if (b(0) != 'G' || b(1) != 'I' || b(2) != 'F' || b(3) != '8' ||
        (b(4) != '7' && b(4) != '9') || b(5) != 'a') return None
    val w = le16(b, 6)
    val h = le16(b, 8)
    if (w <= 0 || h <= 0) None else Some((w, h))
  }

  /** JPEG: walk marker segments from SOI until a SOF marker (C0–CF except
    * C4/C8/CC); height/width are big-endian u16 at segment offsets +3/+5.
    */
  def decodeJpeg(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 4 || u8(b, 0) != 0xFF || u8(b, 1) != 0xD8) return None
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xFF) return None // desynced
      var marker = u8(b, i + 1)
      // skip fill bytes
      while (marker == 0xFF && i + 2 < b.length) { i += 1; marker = u8(b, i + 1) }
      if (marker == 0xD9 || marker == 0xDA) return None // EOI / start-of-scan: no SOF seen
      val isSof = marker >= 0xC0 && marker <= 0xCF &&
        marker != 0xC4 && marker != 0xC8 && marker != 0xCC
      if (i + 3 >= b.length) return None
      val len = be16(b, i + 2)
      if (len < 2) return None
      if (isSof) {
        if (i + 8 >= b.length) return None
        val h = be16(b, i + 5)
        val w = be16(b, i + 7)
        return if (w > 0 && h > 0) Some((w, h)) else None
      }
      i += 2 + len
    }
    None
  }

  /** Dispatch on magic bytes. Returns (format, width, height). */
  def decodeImage(b: Array[Byte]): Option[(String, Int, Int)] = {
    if (b == null || b.length < 4) return None
    decodePng(b).map { case (w, h) => ("png", w, h) }
      .orElse(decodeGif(b).map { case (w, h) => ("gif", w, h) })
      .orElse(decodeJpeg(b).map { case (w, h) => ("jpeg", w, h) })
  }

  /** WAV (RIFF): "RIFF" + size + "WAVE", then a chunk walk — `fmt ` carries
    * format/channels/rate/byte-rate, `data` carries the PCM byte count.
    * Returns (channels, sampleRate, durationMs); duration = dataBytes *
    * 1000 / byteRate (floor). Header arithmetic only — no codec.
    */
  def decodeWav(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b == null || b.length < 44) return None
    if (!fourCC(b, 0, "RIFF") || !fourCC(b, 8, "WAVE")) return None
    var channels = 0
    var rate = 0
    var byteRate = 0L
    var dataBytes = -1L
    var sawFmt = false
    // walk index is a Long: a declared chunk size near 2^31 must terminate
    // the walk cleanly, never wrap negative and index out of bounds
    var i = 12L
    while (i + 8 <= b.length) {
      val p = i.toInt
      val ckSize = le32(b, p + 4)
      if (fourCC(b, p, "fmt ")) {
        // the 16 PCM fmt fields must be inside the DECLARED chunk, not just
        // the buffer — otherwise a truncated fmt chunk reads the next
        // chunk's header bytes as garbage channels/rate
        if (ckSize < 16 || p + 8 + 16 > b.length) return None
        channels = le16(b, p + 10)
        rate = le32(b, p + 12).toInt
        byteRate = le32(b, p + 16)
        sawFmt = true
      } else if (fourCC(b, p, "data")) {
        // trust the chunk header even if the payload is truncated — real
        // probes report declared duration
        dataBytes = ckSize
      }
      i += 8L + ckSize + (ckSize & 1L) // chunks are word-aligned
    }
    if (!sawFmt || dataBytes < 0 || channels <= 0 || rate <= 0 || byteRate <= 0) None
    else Some((channels, rate, dataBytes * 1000L / byteRate))
  }

  /** MP4 (ISO BMFF): box walk to `moov/mvhd` (timescale + duration, v0/v1)
    * and `moov/trak/tkhd` (16.16-fixed width/height, v0/v1). Returns
    * (width, height, durationMs). Header arithmetic only — no codec.
    */
  def decodeMp4(b: Array[Byte]): Option[(Int, Int, Long)] = {
    if (b == null || b.length < 16 || be32(b, 0) < 8 || !fourCC(b, 4, "ftyp")) return None
    var timescale = 0L
    var duration = -1L
    var w = 0
    var h = 0
    // walk boxes in [from, until); descend into moov and trak
    def walk(from: Int, until: Int, depth: Int): Unit = {
      var i = from
      while (i + 8 <= until) {
        var size = be32(b, i)
        var hdr = 8
        if (size == 1L) { // 64-bit largesize
          if (i + 16 > until) return
          size = be64(b, i + 8)
          hdr = 16
        } else if (size == 0L) size = (until - i).toLong // box extends to end
        if (size < hdr || i + size > until) return
        val end = (i + size).toInt
        if (fourCC(b, i + 4, "moov") && depth == 0) walk(i + hdr, end, 1)
        else if (fourCC(b, i + 4, "trak") && depth == 1) walk(i + hdr, end, 2)
        else if (fourCC(b, i + 4, "mvhd") && depth == 1 && i + hdr + 4 <= end) {
          val c = i + hdr
          val version = u8(b, c)
          if (version == 0 && c + 20 <= end) {
            timescale = be32(b, c + 12)
            duration = be32(b, c + 16)
          } else if (version == 1 && c + 32 <= end) {
            timescale = be32(b, c + 20)
            duration = be64(b, c + 24)
          }
        } else if (fourCC(b, i + 4, "tkhd") && depth == 2 && i + hdr + 4 <= end) {
          val c = i + hdr
          val version = u8(b, c)
          val geomOff = if (version == 0) 76 else 88
          if (c + geomOff + 8 <= end && w == 0 && h == 0) {
            w = (be32(b, c + geomOff) >>> 16).toInt // 16.16 fixed point
            h = (be32(b, c + geomOff + 4) >>> 16).toInt
          }
        }
        i = end
      }
    }
    walk(0, b.length, 0)
    if (timescale <= 0 || duration < 0) None
    else Some((w, h, duration * 1000L / timescale))
  }

  // ---- deterministic synthetic payloads ----

  /** Minimal real image headers (trailing bytes are arbitrary payload —
    * geometry decoders only read the header, like real thumbnail probes).
    */
  def pngBytes(w: Int, h: Int, tail: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](24 + tail.length)
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    for (i <- 0 until 8) out(i) = sig(i).toByte
    out(11) = 13 // IHDR length
    out(12) = 'I'; out(13) = 'H'; out(14) = 'D'; out(15) = 'R'
    out(16) = (w >>> 24).toByte; out(17) = (w >>> 16).toByte
    out(18) = (w >>> 8).toByte; out(19) = w.toByte
    out(20) = (h >>> 24).toByte; out(21) = (h >>> 16).toByte
    out(22) = (h >>> 8).toByte; out(23) = h.toByte
    System.arraycopy(tail, 0, out, 24, tail.length)
    out
  }

  def gifBytes(w: Int, h: Int, tail: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](10 + tail.length)
    out(0) = 'G'; out(1) = 'I'; out(2) = 'F'; out(3) = '8'; out(4) = '9'; out(5) = 'a'
    out(6) = w.toByte; out(7) = (w >>> 8).toByte
    out(8) = h.toByte; out(9) = (h >>> 8).toByte
    System.arraycopy(tail, 0, out, 10, tail.length)
    out
  }

  def jpegBytes(w: Int, h: Int, tail: Array[Byte]): Array[Byte] = {
    // SOI, SOF0 (len 17, precision 8, 3 components), then arbitrary tail
    val sof = Array[Int](0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x11, 0x08,
      (h >>> 8) & 0xFF, h & 0xFF, (w >>> 8) & 0xFF, w & 0xFF,
      0x03, 0x01, 0x11, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    val out = new Array[Byte](sof.length + tail.length)
    for (i <- sof.indices) out(i) = sof(i).toByte
    System.arraycopy(tail, 0, out, sof.length, tail.length)
    out
  }

  @inline private def putLe16(b: Array[Byte], i: Int, v: Int): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
  }
  @inline private def putLe32(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
    b(i + 2) = (v >>> 16).toByte; b(i + 3) = (v >>> 24).toByte
  }
  @inline private def putBe32(b: Array[Byte], i: Int, v: Long): Unit = {
    b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
    b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
  }
  @inline private def putCC(b: Array[Byte], i: Int, s: String): Unit = {
    var k = 0
    while (k < 4) { b(i + k) = s.charAt(k).toByte; k += 1 }
  }

  /** Canonical 44-byte PCM WAV header (16-bit samples) + data bytes. */
  def wavBytes(channels: Int, sampleRate: Int, data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](44 + data.length)
    val byteRate = sampleRate.toLong * channels * 2
    putCC(out, 0, "RIFF"); putLe32(out, 4, 36L + data.length); putCC(out, 8, "WAVE")
    putCC(out, 12, "fmt "); putLe32(out, 16, 16L)
    putLe16(out, 20, 1) // PCM
    putLe16(out, 22, channels)
    putLe32(out, 24, sampleRate.toLong)
    putLe32(out, 28, byteRate)
    putLe16(out, 32, channels * 2) // block align
    putLe16(out, 34, 16) // bits per sample
    putCC(out, 36, "data"); putLe32(out, 40, data.length.toLong)
    System.arraycopy(data, 0, out, 44, data.length)
    out
  }

  /** Minimal ISO-BMFF file: ftyp(16) + moov(216: mvhd v0 108 + trak 100
    * wrapping tkhd v0 92) + mdat(8 + data). 240 header bytes total.
    */
  def mp4Bytes(w: Int, h: Int, timescale: Int, durationUnits: Long,
      data: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](240 + data.length)
    putBe32(out, 0, 16L); putCC(out, 4, "ftyp"); putCC(out, 8, "isom")
    // moov
    putBe32(out, 16, 216L); putCC(out, 20, "moov")
    // mvhd v0: content 100 bytes at offset 32
    putBe32(out, 24, 108L); putCC(out, 28, "mvhd")
    putBe32(out, 32 + 12, timescale.toLong)
    putBe32(out, 32 + 16, durationUnits)
    putBe32(out, 32 + 20, 0x00010000L) // rate 1.0
    putBe32(out, 32 + 96, 2L) // next track id
    // trak box at 132 (= 24 + 108), size 100; tkhd at 140, size 92 (v0
    // content 84 bytes starting at 148)
    putBe32(out, 132, 100L); putCC(out, 136, "trak")
    putBe32(out, 140, 92L); putCC(out, 144, "tkhd")
    putBe32(out, 148 + 8, 1L) // track id
    putBe32(out, 148 + 76, w.toLong << 16) // 16.16 fixed
    putBe32(out, 148 + 80, h.toLong << 16)
    // mdat
    putBe32(out, 232, 8L + data.length); putCC(out, 236, "mdat")
    System.arraycopy(data, 0, out, 240, data.length)
    out
  }

  /** Deterministic payloads derived from documents — every row carries a
    * REAL parseable header: PNG/GIF/JPEG for images, RIFF/WAV for audio,
    * ISO-BMFF/MP4 for video. The text bytes ride as the opaque media body.
    */
  def syntheticMedia(spark: SparkSession, sfDir: String, limitN: Int = 2000): Dataset[MediaRow] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .limit(limitN)
      .as[(Long, String)]
      .map { case (id, text) =>
        val kind = (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        val tail = (if (text == null) "" else text.take(512))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bytes = kind match {
          case "image" =>
            val w = 16 + (id % 640).toInt
            val h = 16 + ((id / 7) % 480).toInt
            ((id / 3) % 3) match {
              case 0 => pngBytes(w, h, tail)
              case 1 => gifBytes(w, h, tail)
              case _ => jpegBytes(w, h, tail)
            }
          case "audio" =>
            wavBytes(1 + (id % 2).toInt, 8000 * (1 + (id % 6)).toInt, tail)
          case _ =>
            mp4Bytes(160 + (id % 1280).toInt, 90 + ((id / 3) % 720).toInt,
              timescale = 1000, durationUnits = 500L + id % 120000L, tail)
        }
        MediaRow(id, kind, bytes)
      }
  }

  /** STUB embedding: deterministic 16-dim vector from a payload hash. A
    * real implementation would run model inference here; everything around
    * it (batching, schema, error isolation) is the production shape.
    */
  private def stubFeature(payload: Array[Byte]): (Long, Array[Float]) = {
    var h = 0xcbf29ce484222325L
    payload.foreach { b => h ^= (b & 0xff).toLong; h *= 0x100000001b3L }
    val feat = new Array[Float](16)
    var i = 0
    var z = h
    while (i < 16) {
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      feat(i) = ((z >>> 40).toInt % 1000) / 1000.0f
      i += 1
    }
    (h, feat)
  }

  /** Per-row decode: real header parsing for all three modalities (image
    * geometry, WAV channels/rate/duration, MP4 geometry/duration). Corrupt
    * payloads are isolated as failed decodes, never task aborts.
    */
  def decode(row: MediaRow): MediaFeatures = {
    if (row.payload == null || row.payload.isEmpty)
      return MediaFeatures(row.media_id, row.kind, 0L, decode_ok = false, "", 0, 0, 0,
        0, 0, 0L, Array.fill(16)(0.0f))
    val (_, feat) = stubFeature(row.payload)
    val nb = row.payload.length.toLong
    def failed = MediaFeatures(row.media_id, row.kind, nb, decode_ok = false, "",
      0, 0, 0, 0, 0, 0L, feat)
    row.kind match {
      case "image" =>
        decodeImage(row.payload) match {
          case Some((fmt, w, hgt)) =>
            MediaFeatures(row.media_id, row.kind, nb, decode_ok = true, fmt,
              w, hgt, 1, 0, 0, 0L, feat)
          case None => failed
        }
      case "audio" =>
        decodeWav(row.payload) match {
          case Some((channels, rate, durMs)) =>
            MediaFeatures(row.media_id, row.kind, nb, decode_ok = true, "wav",
              0, 0, 0, channels, rate, durMs, feat)
          case None => failed
        }
      case _ =>
        decodeMp4(row.payload) match {
          case Some((w, hgt, durMs)) =>
            // frame count is a 30 fps ESTIMATE from the decoded duration —
            // an exact count needs the stts box a header probe skips
            val frames = math.max(1L, durMs * 30L / 1000L).toInt
            MediaFeatures(row.media_id, row.kind, nb, decode_ok = true, "mp4",
              w, hgt, frames, 0, 0, durMs, feat)
          case None => failed
        }
    }
  }

  /** Batch feature extraction over binary columns: mapPartitions so a real
    * decoder can amortize per-batch setup (model load, codec context) —
    * the Scala-native analogue of `mapInPandas` batch processing.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition setup happens once here (real decoder: open codec)
      it.map(decode)
    }
  }
}
