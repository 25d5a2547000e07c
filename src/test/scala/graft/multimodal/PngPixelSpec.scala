package graft.multimodal

import graft.SparkSpecBase
import graft.operators.DataOps

/** PNG pixel decode + dHash battery: the decoder must reproduce the
  * builder's pixel formula exactly through real zlib streams and all
  * five scanline filters, reject what it can't decode (instead of
  * returning garbage), and agree with the JDK's independent ImageIO
  * decoder — which shares zero code with ours — on every planted image.
  */
class PngPixelSpec extends SparkSpecBase {

  private def expectedGray(id: Long, x: Int, y: Int): Int = {
    val cid = if (id % 4 == 1) id - 1 else id
    val pert = id % 4 == 1
    (((x * 7 + y * 13 + x * y * ((cid % 13) + 1) + cid * 31 +
      (cid / 256) * 7) % 256 +
      (if (pert && (x + y) % 7 == 0) 1 else 0)) % 256).toInt
  }

  test("decode reproduces the generative pixel formula — all filters, gray and RGB") {
    // ids 0..9 cover color types 0 and 2, heights >= 16 (so filters
    // 0..4 all occur), and the perturbed near-copy branch
    for (id <- 0L until 10L) {
      val Some((w, h, gray)) = BinaryOps.pngPixels(DataOps.pngBytes(id))
      val cid = if (id % 4 == 1) id - 1 else id
      assert(w === (24 + (cid % 5) * 3).toInt && h === (16 + (cid % 7) * 2).toInt)
      for (y <- 0 until h; x <- 0 until w)
        assert((gray(y * w + x) & 0xff) === expectedGray(id, x, y),
          s"id=$id pixel ($x,$y)")
    }
  }

  test("decode agrees with the JDK's independent ImageIO decoder") {
    for (id <- 0L until 8L) {
      val bytes = DataOps.pngBytes(id)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected our id=$id PNG — encoder bug")
      val Some((w, h, gray)) = BinaryOps.pngPixels(bytes)
      assert(img.getWidth === w && img.getHeight === h)
      // raw raster samples, NOT getRGB: ImageIO treats 8-bit gray as
      // linear and sRGB-converts it in getRGB, which would compare
      // color-managed values against raw ones
      val raster = img.getRaster
      val bands = raster.getNumBands
      for (y <- 0 until h; x <- 0 until w) {
        val lum =
          if (bands == 1) raster.getSample(x, y, 0)
          else (299 * raster.getSample(x, y, 0) +
            587 * raster.getSample(x, y, 1) +
            114 * raster.getSample(x, y, 2)) / 1000
        assert((gray(y * w + x) & 0xff) === lum, s"id=$id ($x,$y)")
      }
    }
  }

  test("unsupported and corrupt inputs return None, never garbage") {
    assert(BinaryOps.pngPixels(Array.emptyByteArray).isEmpty)
    assert(BinaryOps.pngPixels("not a png at all".getBytes).isEmpty)
    val good = DataOps.pngBytes(0L)
    assert(BinaryOps.pngPixels(good.take(30)).isEmpty, "truncated IDAT")
    // flip a byte inside the zlib stream -> DataFormatException -> None
    val corrupt = good.clone()
    corrupt(45) = (corrupt(45) ^ 0x55).toByte
    // corruption may still inflate; accept either None or a full decode
    // of SOME pixels — what's forbidden is a crash
    BinaryOps.pngPixels(corrupt): Unit
    // signature-only payload (e.g. qmm2's header-only planted PNGs
    // carry no IDAT) must be None
    assert(BinaryOps.pngPixels(
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)).isEmpty)
    // 16-bit depth is out of the supported subset
    val deep = good.clone(); deep(24) = 16
    assert(BinaryOps.pngPixels(deep).isEmpty)
  }

  test("a chunk length whose end offset overflows Int returns None") {
    val longChunk = DataOps.pngBytes(0L).clone()
    java.nio.ByteBuffer.wrap(longChunk).putInt(8, 0x7FFFFFF8)
    assert(BinaryOps.pngPixels(longChunk).isEmpty)
  }

  test("a 65535x65535 RGBA header over a tiny IDAT returns None") {
    // the raw size overflows Int and is far beyond what the payload
    // can inflate to
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length).putInt(data.length)
        .put(typ.getBytes("US-ASCII")).put(data).putInt(crc.getValue.toInt)
        .array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(65535).putInt(65535)
      .put(Array[Byte](8, 6, 0, 0, 0)).array()
    val zipped = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(zipped)
    z.write(new Array[Byte](64)); z.close()
    val huge = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", zipped.toByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    assert(BinaryOps.pngPixels(huge).isEmpty)
  }

  test("dHash: planted near-copies land within hamming 6; unrelated images are far") {
    def hashOf(id: Long): Long = {
      val Some((w, h, g)) = BinaryOps.pngPixels(DataOps.pngBytes(id))
      BinaryOps.dHash(w, h, g)
    }
    // id=1 is the perturbed near-copy of id=0 (same cid)
    val d01 = java.lang.Long.bitCount(hashOf(0) ^ hashOf(1))
    assert(d01 <= 6, s"near-copy pair drifted to hamming $d01")
    // a handful of unrelated pairs should mostly be far; assert on the
    // deterministic planted ids rather than a statistical claim
    val d02 = java.lang.Long.bitCount(hashOf(0) ^ hashOf(2))
    val d23 = java.lang.Long.bitCount(hashOf(2) ^ hashOf(3))
    assert(d02 + d23 > 0, "distinct formulas should differ somewhere")
  }

  test("image clusters: planted pairs share a cluster, representative is the min id, singletons self-map") {
    val rows = DataOps.qmm6ImageClusters(spark, sf1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val nDocs = spark.read.parquet(s"$sf1/documents.parquet").count()
    assert(rows.size === nDocs, "one row per image, singletons included")
    (0L until nDocs).filter(_ % 4 == 1).foreach { i =>
      assert(rows(i)._1 === rows(i - 1)._1, s"planted pair ($i) split")
      assert(rows(i)._2 >= 2L)
    }
    rows.foreach { case (id, (canonical, _, isRep)) =>
      assert(canonical <= id, "representative must be the cluster min")
      assert((isRep == 1L) === (id == canonical))
    }
  }

  test("imageNearDupPairs finds every planted (4k, 4k+1) pair at sf0.001") {
    import org.apache.spark.sql.functions._
    val pairs = DataOps.qmm5ImageNearDup(spark, sf1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nDocs = spark.read.parquet(s"$sf1/documents.parquet").count()
    val planted = (0L until nDocs).filter(_ % 4 == 1).map(i => (i - 1, i))
    // every planted near-copy must surface (its perturbation flips few
    // dHash bits and at least one 16-bit band stays intact for d<=6 by
    // pigeonhole — only pairs the hash genuinely separates may miss,
    // and with this formula none do at sf0.001)
    planted.foreach { p =>
      assert(pairs.contains(p), s"planted near-dup $p missed")
    }
  }
}
