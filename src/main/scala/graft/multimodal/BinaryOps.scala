package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata. The Spark-side machinery —
  * schema, batch iteration, partitioning, deterministic outputs — is
  * real and tested; the actual media decode is STUBBED with a
  * deterministic fake because no image/audio codec libraries exist in
  * this container (the production swap-in point is `decodeStub`,
  * equivalent to a Pandas-UDF `mapInPandas` decode in PySpark: both are
  * per-partition batch iterators over Arrow-ish batches).
  */
object BinaryOps {

  final case class MediaMeta(url: String, n_bytes: Long, content_hash: String,
                             fake_width: Int, fake_height: Int,
                             fake_frames: Int)

  /** ======== STUB ========
    * Deterministic fake "decode": derives pseudo-metadata from the raw
    * bytes. A real deployment replaces this body with an actual codec
    * call (e.g. javax.imageio / ffmpeg bindings); signature and
    * batch shape stay identical.
    */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Int) = {
    val n = bytes.length
    val w = 160 + (n % 480)            // fake width  in [160, 640)
    val h = 90 + ((n / 7) % 270)       // fake height in [90, 360)
    val frames = 1 + (n % 24)          // fake frame count
    (w, h, frames)
  }

  // ---- real header parsing (dependency-free) -------------------------------

  /** Parsed image metadata from REAL header bytes (no codec needed). */
  final case class ImageMeta(url: String, format: String,
                             width: Int, height: Int)

  /** Dimension parse from raw image header bytes — fixed-offset or
    * marker-scan reads only, so no codec jar is required:
    *
    *  - PNG: 8-byte signature, then the IHDR chunk's big-endian
    *    width/height at offsets 16/20 (IHDR is required to be first);
    *  - GIF: "GIF87a"/"GIF89a" + little-endian logical-screen w/h;
    *  - BMP: "BM", then the DIB header — BITMAPINFOHEADER and later
    *    store int32 LE w/h at 18/22 (height may be negative for
    *    top-down rows), the ancient BITMAPCOREHEADER (size 12) uses
    *    uint16 at 18/20;
    *  - JPEG: marker scan from SOI to the first SOFn frame header
    *    (C0-CF minus C4/C8/CC), whose payload is precision(1),
    *    height(2 BE), width(2 BE).
    *
    * Returns None for truncated or unrecognized payloads — the caller
    * falls back to [[decodeStub]], which remains the declared swap-in
    * point for formats that genuinely need codecs (video, audio).
    */
  def imageDims(b: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int) = b(i) & 0xff
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (b.length >= 24 && u8(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a) {
      // the first chunk must actually BE IHDR (bytes 12-15): real-web
      // PNGs with a vendor chunk first (e.g. Apple CgBI) would otherwise
      // read flags/CRC bytes as dimensions — fall through to the stub
      if (b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        Some(("png", be32(16), be32(20)))
      else None
    }
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(("gif", le16(6), le16(8)))
    else if (b.length >= 22 && b(0) == 'B' && b(1) == 'M') {
      val dibSize = le32(14)
      if (dibSize == 12) Some(("bmp", le16(18), le16(20)))
      else if (b.length >= 26) Some(("bmp", le32(18), math.abs(le32(22))))
      else None
    }
    else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) jpegDims(b)
    else None
  }

  /** JPEG marker scan: skip fill bytes and standalone markers, hop over
    * variable-length segments by their declared length, stop at the
    * first SOFn.
    */
  private def jpegDims(b: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int) = b(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    var i = 2 // past SOI
    while (i + 1 < b.length) {
      if (u8(i) != 0xff) return None // lost sync
      var j = i
      while (j < b.length && u8(j) == 0xff) j += 1 // fill bytes
      if (j >= b.length) return None
      val m = u8(j)
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i = j + 1 // standalone
      else if (m == 0xd9 || m == 0xda) return None // EOI / scan start: no SOF seen
      else {
        if (j + 2 >= b.length) return None
        val len = be16(j + 1)
        if (len < 2) return None
        val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
        if (isSof) {
          if (j + 7 >= b.length) return None
          return Some(("jpeg", be16(j + 6), be16(j + 4)))
        }
        i = j + 1 + len
      }
    }
    None
  }

  /** Parsed audio metadata from REAL RIFF/WAV header bytes. */
  final case class AudioMeta(url: String, format: String, channels: Int,
                             sample_rate: Int, bits_per_sample: Int,
                             n_samples: Long, duration_us: Long)

  /** WAV (RIFF) header parse — chunk scan, no codec: "RIFF"+size+"WAVE",
    * then id(4)+size(4 LE) chunks in ANY order with odd sizes padded to
    * even (the RIFF rule real encoders follow). Reads the fmt chunk's
    * channels / sample rate / byte rate / block align / bits and the
    * data chunk's byte size; n_samples = data/blockAlign and
    * duration_us = data·10⁶/byteRate are integer divisions of header
    * fields (the header's own byte rate is trusted, as players do).
    * None on truncated/garbage/fmt-less payloads — same fallback
    * contract as [[imageDims]].
    */
  def wavMeta(b: Array[Byte]): Option[(Int, Int, Int, Long, Long)] = {
    def u8(i: Int) = b(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3) << 24)).toLong & 0xffffffffL
    if (b.length < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' ||
      b(3) != 'F' || b(8) != 'W' || b(9) != 'A' || b(10) != 'V' ||
      b(11) != 'E') return None
    var fmt: Option[(Int, Int, Long, Int, Int)] = None
    var dataBytes = -1L
    // Long cursor: an adversarial near-2³¹ chunk size would overflow an
    // Int cursor into a negative index and crash the task instead of
    // taking the documented None fallback
    var i = 12L
    while (i + 8 <= b.length) {
      val ii = i.toInt
      val id = new String(b, ii, 4, "US-ASCII")
      val size = le32(ii + 4)
      if (id == "fmt " && size >= 16 && i + 24 <= b.length)
        // chunk data: format(0) channels(2) rate(4) byteRate(8)
        // blockAlign(12) bits(14)
        fmt = Some((le16(ii + 10), le32(ii + 12).toInt, le32(ii + 16),
          le16(ii + 20), le16(ii + 22)))
      else if (id == "data") dataBytes = size
      i += 8L + size + (size & 1L) // RIFF even-padding
    }
    fmt match {
      case Some((ch, rate, byteRate, align, bits))
          if dataBytes >= 0 && ch > 0 && byteRate > 0 && align > 0 =>
        Some((ch, rate, bits, dataBytes / align,
          dataBytes * 1000000L / byteRate))
      case _ => None
    }
  }

  /** Per-partition audio-header metadata using the REAL WAV parser;
    * non-WAV payloads surface as format "unknown" with zeroed audio
    * fields (the declared codec fallback — MP3/FLAC need real
    * decoders).
    */
  def audioMeta(spark: SparkSession, media: DataFrame): Dataset[AudioMeta] = {
    import spark.implicits._
    media.select(col("url"), col("payload")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (url, bytes) =>
          wavMeta(bytes) match {
            case Some((ch, rate, bits, n, durUs)) =>
              AudioMeta(url, "wav", ch, rate, bits, n, durUs)
            case None => AudioMeta(url, "unknown", 0, 0, 0, 0L, 0L)
          }
        }
      }
  }

  /** Unified media metadata from magic-byte sniffing. */
  final case class SniffedMeta(url: String, kind: String, format: String,
                               meta_a: Long, meta_b: Long)

  /** Magic-byte dispatch over a MIXED media column — the ingest-side
    * router every multimodal pipeline needs before format-specific
    * processing: try the image parsers, then the WAV parser, else
    * "unknown". Unified numeric fields: image → (width, height); audio
    * → (sample_rate, duration_us); unknown → (byte length, 0).
    */
  def mediaKind(b: Array[Byte]): (String, String, Long, Long) =
    imageDims(b) match {
      case Some((f, w, h)) => ("image", f, w.toLong, h.toLong)
      case None => wavMeta(b) match {
        case Some((_, rate, _, _, durUs)) => ("audio", "wav", rate.toLong, durUs)
        case None => ("unknown", "unknown", b.length.toLong, 0L)
      }
    }

  /** Per-partition sniffing dispatch over (url, payload) rows. */
  def sniffMeta(spark: SparkSession, media: DataFrame): Dataset[SniffedMeta] = {
    import spark.implicits._
    media.select(col("url"), col("payload")).as[(String, Array[Byte])]
      .mapPartitions(_.map { case (url, bytes) =>
        val (k, f, a, b) = mediaKind(bytes)
        SniffedMeta(url, k, f, a, b)
      })
  }

  /** Per-partition image-header metadata over (url, payload) rows using
    * the REAL parsers; unparseable payloads surface as format "unknown"
    * with the stub's deterministic fake dims (the declared codec
    * fallback) rather than vanishing silently.
    */
  def imageMeta(spark: SparkSession, media: DataFrame): Dataset[ImageMeta] = {
    import spark.implicits._
    media.select(col("url"), col("payload")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (url, bytes) =>
          imageDims(bytes) match {
            case Some((f, w, h)) => ImageMeta(url, f, w, h)
            case None =>
              val (w, h, _) = decodeStub(bytes)
              ImageMeta(url, "unknown", w, h)
          }
        }
      }
  }

  /** Per-partition batch decode of (url, payload) rows → typed metadata.
    * MessageDigest is allocated once per partition (the per-partition
    * resource pattern — at scale this is where a codec context lives).
    * MD5 (not SHA-1) so the whole metadata row — content hash included —
    * is recomputable by the DuckDB oracle, which only ships md5/sha256.
    */
  def extractMeta(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select(col("url"), col("payload")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (url, bytes) =>
          md.reset()
          val hash = md.digest(bytes).map("%02x".format(_)).mkString
          val (w, h, f) = decodeStub(bytes)
          MediaMeta(url, bytes.length.toLong, hash, w, h, f)
        }
      }
  }

  /** Deterministic frame sampling stub: pick every `stride`-th fake
    * frame index — the video-pipeline shape (explode into frame rows,
    * one row per sampled frame, stable ordering).
    */
  def sampleFrames(spark: SparkSession, meta: Dataset[MediaMeta],
                   stride: Int = 5): DataFrame = {
    meta.toDF().select(col("url"),
      explode(sequence(lit(0), col("fake_frames") - 1, lit(stride))).as("frame_idx"))
  }

  // ---- real PNG pixel decode (dependency-free) ----------------------------

  /** DEFLATE's maximum expansion: 258 bytes per ~2-bit code. */
  private val MaxDeflateRatio = 1032L

  /** FULL PNG pixel decode with zero codec dependencies — chunk walk,
    * `java.util.zip.Inflater` for the zlib stream, and the five
    * standard scanline filters (None/Sub/Up/Average/Paeth) reversed
    * per-row. Supported subset: 8-bit depth, color types 0 (gray),
    * 2 (RGB) and 6 (RGBA), non-interlaced — the overwhelming bulk of
    * web PNGs; anything else returns None and falls back to the
    * header-only path. Output is (width, height, row-major GRAYSCALE
    * bytes): color converts through the integer luma
    * `(299·R + 587·G + 114·B) / 1000` (alpha ignored), so downstream
    * perceptual hashing is engine-exact and oracle-recomputable. Chunk
    * CRCs are deliberately not validated — this is a decoder, not an
    * integrity audit, and at 10⁹ images per-chunk CRC32 is pure cost.
    */
  def pngPixels(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    def u8(i: Int) = b(i) & 0xff
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    if (b.length < 8 || u8(0) != 0x89 || b(1) != 'P' || b(2) != 'N' || b(3) != 'G')
      return None
    var i = 8
    var w = 0; var h = 0; var colorType = -1
    var supported = true
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && supported && i + 8 <= b.length) {
      val len = be32(i)
      if (len < 0 || i.toLong + 12 + len > b.length) supported = false
      else {
        val typ = new String(b, i + 4, 4, "US-ASCII")
        typ match {
          case "IHDR" =>
            if (len < 13) supported = false
            else {
              w = be32(i + 8); h = be32(i + 12)
              colorType = u8(i + 17)
              val bitDepth = u8(i + 16)
              val interlace = u8(i + 20)
              if (bitDepth != 8 || interlace != 0 ||
                !(colorType == 0 || colorType == 2 || colorType == 6))
                supported = false
            }
          case "IDAT" => idat.write(b, i + 8, len)
          case "IEND" => done = true
          case _ => ()
        }
        i += 12 + len
      }
    }
    if (!supported || w <= 0 || h <= 0 || idat.size() == 0) return None
    val bpp = colorType match { case 0 => 1; case 2 => 3; case _ => 4 }
    // the header's size claim is checked against the payload before any
    // allocation: DEFLATE cannot expand past ~1032:1, so a larger raw
    // size is a lie (or a bomb), and it must fit one JVM array
    val rawLen = h.toLong * (1L + w.toLong * bpp)
    if (rawLen > math.min(idat.size.toLong * MaxDeflateRatio, Int.MaxValue - 8L))
      return None
    val stride = w * bpp
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return None // truncated or preset-dictionary stream
        off += n
      }
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    if (off != raw.length) return None
    // reverse the per-row filter, writing defiltered bytes in place
    val pix = new Array[Byte](h * stride)
    def paeth(a: Int, bU: Int, c: Int): Int = {
      val p = a + bU - c
      val pa = math.abs(p - a); val pb = math.abs(p - bU)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) bU else c
    }
    var y = 0
    while (y < h) {
      val ft = raw(y * (1 + stride)) & 0xff
      if (ft > 4) return None
      val in0 = y * (1 + stride) + 1
      val out0 = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(in0 + x) & 0xff
        val a = if (x >= bpp) pix(out0 + x - bpp) & 0xff else 0
        val up = if (y > 0) pix(out0 - stride + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) pix(out0 - stride + x - bpp) & 0xff else 0
        val v = ft match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + up
          case 3 => cur + ((a + up) / 2)
          case 4 => cur + paeth(a, up, c)
        }
        pix(out0 + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val gray = new Array[Byte](w * h)
    if (bpp == 1) System.arraycopy(pix, 0, gray, 0, w * h)
    else {
      var p = 0
      while (p < w * h) {
        val o = p * bpp
        val lum = (299 * (pix(o) & 0xff) + 587 * (pix(o + 1) & 0xff) +
          114 * (pix(o + 2) & 0xff)) / 1000
        gray(p) = lum.toByte
        p += 1
      }
    }
    Some((w, h, gray))
  }

  /** 64-bit difference hash (dHash) — the perceptual image fingerprint:
    * nearest-neighbor downsample to a 9×8 grid (sample (gx, gy) reads
    * the pixel at `(gx·w/9, gy·h/8)`, integer division — exact and
    * engine-portable, unlike interpolating resizes), then one bit per
    * horizontally adjacent sample pair: bit `gy·8+gx` is set when the
    * right sample is darker than the left. Survives re-encoding,
    * small noise, and uniform brightness shifts in the classic dHash
    * way; the SimHash analog for pixels.
    */
  def dHash(w: Int, h: Int, gray: Array[Byte]): Long = {
    require(w >= 9 && h >= 8, s"image too small for a 9x8 dHash grid: ${w}x$h")
    var hash = 0L
    var gy = 0
    while (gy < 8) {
      val py = gy * h / 8
      var gx = 0
      while (gx < 8) {
        val left = gray(py * w + gx * w / 9) & 0xff
        val right = gray(py * w + (gx + 1) * w / 9) & 0xff
        if (right < left) hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** Decoded perceptual hash row; images the PNG decoder cannot handle
    * surface with dhash null (format mismatch ≠ silent disappearance).
    */
  final case class ImageHash(url: String, width: Int, height: Int,
                             dhash: Option[Long])

  /** Per-partition PNG decode → dHash over (url, payload) rows — the
    * narrow map that feeds [[imageNearDupPairs]]. At 10⁹ images this is
    * the dominant cost and it is embarrassingly parallel: no shuffle,
    * payload bytes never leave the task that read them, only the 8-byte
    * hash (plus dims) flows on.
    */
  def imageHashes(spark: SparkSession, media: DataFrame): Dataset[ImageHash] = {
    import spark.implicits._
    media.select(col("url"), col("payload")).as[(String, Array[Byte])]
      .mapPartitions(_.map { case (url, bytes) =>
        pngPixels(bytes) match {
          case Some((w, h, g)) if w >= 9 && h >= 8 =>
            ImageHash(url, w, h, Some(dHash(w, h, g)))
          case Some((w, h, _)) => ImageHash(url, w, h, None)
          case None => ImageHash(url, -1, -1, None)
        }
      })
  }

  /** Near-duplicate image pairs by banded dHash — the image analog of
    * SimHash dedup: split the 64-bit hash into four 16-bit bands, join
    * on (band, value) so only pairs agreeing EXACTLY on ≥1 band meet
    * (hamming ≤ `maxHamming` ≤ 15 guarantees some band is untouched —
    * pigeonhole over 4 bands — so banding loses nothing for small
    * radii while turning the all-pairs quadratic into bucket-local
    * work), then verify with `bit_count(xor)`. Hot buckets are bounded
    * by the 16-bit band arity times corpus skew — the same AQE-skew
    * story as the text LSH path.
    */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"banded 4x16 dHash join is exact only for hamming <= 15, got $maxHamming")
    val banded = hashes.filter(col("dhash").isNotNull)
      .select(col("url"), col("dhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(dhash, band * 16) & 65535"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.url") < col("b.url"))
      .select(col("a.url").as("a_url"), col("b.url").as("b_url"),
        bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))).cast("bigint")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
