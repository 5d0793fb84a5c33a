package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Gif, ImageHash, MultiModal, Ppm}

/** GIF codec (r14 verdict task #5): wire fixtures hand-assembled from
  * the GIF89a spec, LZW round-trips through the real encoder (incl.
  * the KwKwK case, width growth, and the table-full reset), interlace
  * reordering, transparency/background composition, profile
  * rejections, and the featurize/ImageHash routing.
  */
class GifSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** 2×1, palette [white, black], indices [0,1] — LZW codes
    * (clear,0,1,end) = (4,0,1,5) at width 3, packed LSB-first to
    * 0x44 0x0A (hand-computed from the spec's bit order).
    */
  private val wire2x1: Array[Byte] = Array[Int](
    'G', 'I', 'F', '8', '9', 'a',
    0x02, 0x00, 0x01, 0x00, // logical screen 2×1
    0x80, 0x00, 0x00, // GCT present (2 entries), bg=0, aspect=0
    0xff, 0xff, 0xff, 0x00, 0x00, 0x00, // palette: white, black
    0x2c, 0x00, 0x00, 0x00, 0x00, 0x02, 0x00, 0x01, 0x00, 0x00, // descriptor
    0x02, // LZW min code size
    0x02, 0x44, 0x0a, // one 2-byte data sub-block
    0x00, // block terminator
    0x3b // trailer
  ).map(_.toByte)

  test("hand-assembled wire fixture decodes to the exact pixels") {
    val img = Gif.decode(wire2x1).get
    assert(img.width === 2 && img.height === 1)
    assert(img.pixels.toSeq === Seq[Byte](-1, -1, -1, 0, 0, 0))
  }

  test("encodeIndexed round-trips bit-exactly (incl. runs — the KwKwK case)") {
    val w = 37; val h = 23
    val palette = Array(0xff0000, 0x00ff00, 0x0000ff, 0x102030)
    // long runs force code==dictSize (KwKwK) plus several width growths
    val indices = Array.tabulate(w * h)(i =>
      (if (i % 11 < 7) 0 else (i * 13 + i / 9) % 4).toByte)
    val img = Gif.decode(Gif.encodeIndexed(w, h, palette, indices)).get
    assert(img.width === w && img.height === h)
    for (i <- 0 until w * h) {
      val c = palette(indices(i) & 0xff)
      assert((img.pixels(3 * i) & 0xff) === ((c >> 16) & 0xff))
      assert((img.pixels(3 * i + 1) & 0xff) === ((c >> 8) & 0xff))
      assert((img.pixels(3 * i + 2) & 0xff) === (c & 0xff))
    }
  }

  test("table-full reset round-trips (256-color, high-entropy raster)") {
    val w = 128; val h = 128 // 16384 pixels >> 4096 dictionary slots
    val palette = Array.tabulate(256)(g => (g << 16) | ((255 - g) << 8) | g)
    val indices = Array.tabulate(w * h)(i => ((i * 31 + i / 7) % 251).toByte)
    val bytes = Gif.encodeIndexed(w, h, palette, indices)
    val img = Gif.decode(bytes).get
    for (i <- Seq(0, 1, 4095, 4096, 8191, w * h - 1)) {
      val c = palette(indices(i) & 0xff)
      assert((img.pixels(3 * i) & 0xff) === ((c >> 16) & 0xff), s"pixel $i")
    }
    assert(img.pixels.grouped(3).zipWithIndex.forall { case (px, i) =>
      val c = palette(indices(i) & 0xff)
      (px(0) & 0xff) == ((c >> 16) & 0xff) &&
        (px(1) & 0xff) == ((c >> 8) & 0xff) && (px(2) & 0xff) == (c & 0xff)
    })
  }

  test("interlaced frames deinterlace to row order (4-pass scheme)") {
    // 1×8 column, one distinct index per row; interlaced storage order
    // for fh=8 is rows 0, 4, 2, 6, 1, 3, 5, 7
    val palette = Array.tabulate(8)(g => g * 0x010101 * 30)
    val storageOrder = Array(0, 4, 2, 6, 1, 3, 5, 7)
    val bytes = Gif.encodeIndexed(1, 8, palette,
      storageOrder.map(_.toByte))
    // flip the interlace bit in the image descriptor's packed field:
    // 13 (header+LSD) + 3·tableN (GCT) + 9 bytes into the descriptor
    val tableN = 8
    val packedAt = 13 + 3 * tableN + 9
    bytes(packedAt) = (bytes(packedAt) | 0x40).toByte
    val img = Gif.decode(bytes).get
    for (row <- 0 until 8) {
      val c = palette(row) // deinterlaced: row r shows index r
      assert((img.pixels(3 * row) & 0xff) === ((c >> 16) & 0xff), s"row $row")
    }
  }

  test("transparency leaves the background visible; offsets composite") {
    // logical screen 4×2, bg index 2 (green); GCE marks index 1
    // transparent; 2×1 frame at (1,1) with indices [0,1]
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    w16(4); w16(2)
    out.write(0x81) // GCT, 4 entries
    out.write(2) // background index = green
    out.write(0)
    for (c <- Seq(0xff0000, 0x000000, 0x00ff00, 0x0000ff)) {
      out.write((c >> 16) & 0xff); out.write((c >> 8) & 0xff)
      out.write(c & 0xff)
    }
    out.write(0x21); out.write(0xf9); out.write(4) // GCE
    out.write(0x01) // transparency flag
    w16(0) // delay
    out.write(1) // transparent index = 1
    out.write(0) // terminator
    out.write(0x2c); w16(1); w16(1); w16(2); w16(1); out.write(0)
    // frame pixels [0, 1] — reuse the wire fixture's hand-packed codes
    out.write(2); out.write(2); out.write(0x44); out.write(0x0a)
    out.write(0); out.write(0x3b)
    val img = Gif.decode(out.toByteArray).get
    assert(img.width === 4 && img.height === 2)
    def rgb(x: Int, y: Int) = {
      val o = (y * 4 + x) * 3
      ((img.pixels(o) & 0xff) << 16) | ((img.pixels(o + 1) & 0xff) << 8) |
        (img.pixels(o + 2) & 0xff)
    }
    assert(rgb(0, 0) === 0x00ff00, "uncovered = background")
    assert(rgb(1, 1) === 0xff0000, "frame pixel 0 = red")
    assert(rgb(2, 1) === 0x00ff00, "transparent pixel shows background")
    assert(rgb(3, 1) === 0x00ff00)
  }

  test("profile rejections return None, never throw") {
    assert(Gif.decode("GIF89a".getBytes("US-ASCII")).isEmpty) // truncated
    assert(Gif.decode(Array[Byte]()).isEmpty)
    assert(Gif.decode("NOTGIF##########".getBytes("US-ASCII")).isEmpty)
    // truncated mid-data: cut the 2×1 fixture before its sub-block ends
    assert(Gif.decode(wire2x1.take(wire2x1.length - 4)).isEmpty)
    // no color table anywhere: clear the GCT flag (keeps table bytes as
    // garbage blocks — decode must reject, not misparse)
    val noGct = wire2x1.clone()
    noGct(10) = 0x00
    assert(Gif.decode(noGct).isEmpty)
    // decompression bombs over the 2×1 fixture's tiny body: the logical
    // screen or the frame re-declared far past the bomb guard, refused
    // before any raster is allocated (20000×20000 is inside the band
    // where only the guard refuses)
    for ((w, h) <- Seq((60000, 60000), (20000, 20000)); at <- Seq(6, 24)) {
      val bomb = wire2x1.clone() // screen at 6, frame size at 24 (LE)
      java.nio.ByteBuffer.wrap(bomb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putShort(at, w.toShort).putShort(at + 2, h.toShort)
      val (got, allocated) = Allocated.by(Gif.decode(bomb))
      assert(got.isEmpty, s"${w}x$h at $at")
      assert(allocated < Allocated.BombBudget, s"${w}x$h at $at allocated $allocated")
    }
  }

  test("encodeRgb: exact palette ≤256 colors; >256 falls to luma gray") {
    // ≤256 distinct: exact round trip
    val small = Ppm.Image(8, 8, Array.tabulate(8 * 8 * 3)(i =>
      (((i / 3) % 5) * 40).toByte))
    assert(Gif.decode(Gif.encodeRgb(small)).get.pixels.toSeq ===
      small.pixels.toSeq)
    // >256 distinct colors: output is the Rec.709 luma quantization
    // (px%256, (px/4)%256) jointly determine px mod 1024, so all 1024
    // pixels carry distinct colors — genuinely past the 256 budget
    val big = Ppm.Image(32, 32, Array.tabulate(32 * 32 * 3) { i =>
      val px = i / 3
      (i % 3 match {
        case 0 => px % 256
        case 1 => (px / 4) % 256
        case _ => (px / 16) % 256
      }).toByte
    })
    val gray = Gif.decode(Gif.encodeRgb(big)).get
    for (px <- Seq(0, 100, 1023)) {
      val y = 0.2126 * (big.pixels(3 * px) & 0xff) +
        0.7152 * (big.pixels(3 * px + 1) & 0xff) +
        0.0722 * (big.pixels(3 * px + 2) & 0xff)
      val g = math.min(255, math.round(y).toInt)
      assert((gray.pixels(3 * px) & 0xff) === g)
      assert((gray.pixels(3 * px + 1) & 0xff) === g)
      assert((gray.pixels(3 * px + 2) & 0xff) === g)
    }
  }

  test("featurize routes GIF payloads through the real image path") {
    import spark.implicits._
    val palette = Array.tabulate(16)(g => g * 0x111111)
    val indices = Array.tabulate(24 * 16)(i => (i % 16).toByte)
    val payload = Gif.encodeIndexed(24, 16, palette, indices)
    val media = Seq(
      MultiModal.MediaRecord(7L, "image/gif", 24, 16, payload)).toDS()
    val f = MultiModal.featurize(media).head()
    val want = Ppm.meanLuma(Gif.decode(payload).get)
    assert(f.brightness === want) // decoded luma, not the byte-math stub
    val thumb = Gif.decode(f.thumb) // thumb is a VALID half-size GIF
    assert(thumb.isDefined && thumb.get.width === 12 &&
      thumb.get.height === 8)
  }

  test("ImageHash.hashes fingerprints GIF payloads") {
    import spark.implicits._
    val palette = Array.tabulate(64)(g => (g * 4) * 0x010101)
    val indices = Array.tabulate(40 * 30)(i => ((i * 7) % 64).toByte)
    val payload = Gif.encodeIndexed(40, 30, palette, indices)
    val media = Seq(
      MultiModal.MediaRecord(11L, "image/gif", 40, 30, payload)).toDS()
    val rows = ImageHash.hashes(media).collect()
    assert(rows.length === 1 && rows(0).getLong(0) === 11L)
    val fromRaster =
      ImageHash.dHash256(Gif.decode(payload).get).toSeq
    assert(rows(0).getSeq[Long](1) === fromRaster)
  }
}
