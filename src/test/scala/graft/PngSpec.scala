package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater}

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{MultiModal, Png, Ppm}

/** PNG codec: round trip, every scanline filter against a test-side
  * reference encoder (filters applied per spec from the original
  * raster), gray/RGBA color-type expansion, profile rejections, and
  * the MultiModal image path picking PNG up for real.
  */
class PngSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Deterministic RGB raster with enough structure to exercise
    * predictors (gradients + id-seeded noise).
    */
  private def raster(w: Int, h: Int): Ppm.Image = {
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      px(i) = ((x * 7 + y * 3) % 256).toByte
      px(i + 1) = ((x * x + y * 13) % 256).toByte
      px(i + 2) = ((x * y + 31 * y) % 256).toByte
    }
    Ppm.Image(w, h, px)
  }

  // ---- test-side reference PNG writer (independent of Png.encode) --

  private def refChunk(out: ByteArrayOutputStream, typ: String,
      data: Array[Byte]): Unit = {
    def w32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    w32(data.length)
    out.write(typ.getBytes("US-ASCII"), 0, 4)
    out.write(data, 0, data.length)
    val crc = new CRC32()
    crc.update(typ.getBytes("US-ASCII")); crc.update(data)
    w32(crc.getValue.toInt)
  }

  private def refPaeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Build a PNG with the given color type and a chosen filter per
    * row, filtering from the original raster exactly as the spec
    * prescribes (predictors read RECONSTRUCTED bytes — which equal
    * the original).
    */
  private def refPng(w: Int, h: Int, colorType: Int, samples: Array[Byte],
      filters: Seq[Int], bitDepth: Int = 8, interlace: Int = 0)
      : Array[Byte] = {
    val bpp = colorType match { case 0 => 1; case 2 => 3; case 6 => 4
      case _ => 1 }
    val rowBytes = w * bpp
    val raw = new Array[Byte](h * (1 + rowBytes))
    for (r <- 0 until h) {
      val f = filters(r % filters.length)
      raw(r * (1 + rowBytes)) = f.toByte
      for (i <- 0 until rowBytes) {
        val x = samples(r * rowBytes + i) & 0xff
        val a = if (i >= bpp) samples(r * rowBytes + i - bpp) & 0xff else 0
        val b = if (r > 0) samples((r - 1) * rowBytes + i) & 0xff else 0
        val c = if (r > 0 && i >= bpp)
          samples((r - 1) * rowBytes + i - bpp) & 0xff else 0
        val v = f match {
          case 0 => x
          case 1 => x - a
          case 2 => x - b
          case 3 => x - ((a + b) >> 1)
          case _ => x - refPaeth(a, b, c)
        }
        raw(r * (1 + rowBytes) + 1 + i) = (v & 0xff).toByte
      }
    }
    val defl = new Deflater()
    defl.setInput(raw); defl.finish()
    val z = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!defl.finished()) z.write(buf, 0, defl.deflate(buf))
    defl.end()
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
      .map(_.toByte), 0, 8)
    val ihdr = new Array[Byte](13)
    ihdr(0) = ((w >>> 24) & 0xff).toByte; ihdr(1) = ((w >>> 16) & 0xff).toByte
    ihdr(2) = ((w >>> 8) & 0xff).toByte; ihdr(3) = (w & 0xff).toByte
    ihdr(4) = ((h >>> 24) & 0xff).toByte; ihdr(5) = ((h >>> 16) & 0xff).toByte
    ihdr(6) = ((h >>> 8) & 0xff).toByte; ihdr(7) = (h & 0xff).toByte
    ihdr(8) = bitDepth.toByte; ihdr(9) = colorType.toByte
    ihdr(12) = interlace.toByte
    refChunk(out, "IHDR", ihdr)
    refChunk(out, "IDAT", z.toByteArray)
    refChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  test("encode → decode is an exact raster round trip") {
    val img = raster(37, 23) // non-power-of-two, non-square
    val back = Png.decode(Png.encode(img))
    assert(back.isDefined)
    assert(back.get.width === 37 && back.get.height === 23)
    assert(back.get.pixels.sameElements(img.pixels))
  }

  test("every scanline filter decodes to the original raster") {
    val img = raster(16, 10)
    for (f <- 0 to 4) {
      val dec = Png.decode(refPng(16, 10, 2, img.pixels, Seq(f)))
      assert(dec.isDefined, s"filter $f rejected")
      assert(dec.get.pixels.sameElements(img.pixels), s"filter $f wrong")
    }
    // mixed filters per row (the shape real encoders emit)
    val mixed = Png.decode(refPng(16, 10, 2, img.pixels, Seq(0, 1, 2, 3, 4)))
    assert(mixed.get.pixels.sameElements(img.pixels))
  }

  test("hand-computed Paeth fixture") {
    // row0 = [10, 20], row1 filtered with Paeth: recon(i) = x + paeth
    // gray 2x2: a=left, b=up, c=up-left
    // pixel(1,0): a=0,b=10,c=0  → paeth=10; store 25-10=15
    // pixel(1,1): a=25,b=20,c=10 → p=35, pa=10,pb=15,pc=25 → a=25; 30-25=5
    val samples = Array[Byte](10, 20, 25, 30)
    val png = refPng(2, 2, 0, samples, Seq(0, 4))
    // the reference writer must have produced exactly those residuals
    val dec = Png.decode(png).get
    val expectRgb = Array[Byte](10, 10, 10, 20, 20, 20, 25, 25, 25, 30, 30, 30)
    assert(dec.pixels.sameElements(expectRgb))
  }

  test("gray and RGBA color types expand to the RGB raster") {
    val gray = Array[Byte](0, 64, -128, -1) // 0, 64, 128, 255
    val g = Png.decode(refPng(2, 2, 0, gray, Seq(0))).get
    val expanded: Array[Byte] = gray.flatMap(v => Array[Byte](v, v, v))
    assert(g.pixels.sameElements(expanded))
    val rgba = Array[Byte](1, 2, 3, 99, 4, 5, 6, 98, 7, 8, 9, 97,
      10, 11, 12, 96)
    val c = Png.decode(refPng(2, 2, 6, rgba, Seq(0))).get
    assert(c.pixels.sameElements(
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)))
  }

  test("unsupported profiles and malformed payloads return None") {
    val img = raster(4, 4)
    // palette color type, 16-bit depth, interlaced — all out of profile
    assert(Png.decode(refPng(4, 4, 3, img.pixels.take(16), Seq(0))).isEmpty)
    assert(Png.decode(
      refPng(4, 4, 2, img.pixels, Seq(0), bitDepth = 16)).isEmpty)
    assert(Png.decode(
      refPng(4, 4, 2, img.pixels, Seq(0), interlace = 1)).isEmpty)
    // bad magic, truncated IDAT
    assert(Png.decode("nope".getBytes).isEmpty)
    val good = Png.encode(img)
    assert(Png.decode(good.take(good.length - 30)).isEmpty)
    // PPM payloads are not PNGs and vice versa (chain dispatch safety)
    assert(Png.decode(Ppm.encode(img)).isEmpty)
    assert(Ppm.decode(Png.encode(img)).isEmpty)
    // decompression bombs: IHDR re-declared far past the bomb guard
    // over the same tiny IDAT, refused before any raster is allocated
    // (20000×20000 is inside the band where only the guard refuses)
    for ((w, h) <- Seq((60000, 60000), (20000, 20000))) {
      val bomb = good.clone()
      val bb = java.nio.ByteBuffer.wrap(bomb).putInt(16, w).putInt(20, h)
      val crc = new CRC32(); crc.update(bomb, 12, 17) // IHDR type + data
      bb.putInt(29, crc.getValue.toInt)
      val (got, allocated) = Allocated.by(Png.decode(bomb))
      assert(got.isEmpty, s"${w}x$h")
      assert(allocated < Allocated.BombBudget, s"${w}x$h allocated $allocated")
    }
  }

  test("MultiModal featurize takes the real PNG path") {
    import spark.implicits._
    val img = raster(8, 6)
    val recs = Seq(
      MultiModal.MediaRecord(1L, "image/png", 8, 6, Png.encode(img)),
      MultiModal.MediaRecord(2L, "image/ppm", 8, 6, Ppm.encode(img)))
      .toDS()
    val f = MultiModal.featurize(recs).collect().map(r => r.doc_id -> r).toMap
    // same raster → identical luma through both codecs' image paths
    assert(f(1L).brightness === f(2L).brightness)
    assert(f(1L).n_frames === 1)
    // the PNG thumb is itself a decodable PNG at half size
    val thumb = Png.decode(f(1L).thumb)
    assert(thumb.isDefined && thumb.get.width === 4 && thumb.get.height === 3)
  }
}
