package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Jpeg, Ppm}

/** The JPEG codec (the JDK's libjpeg behind [[graft.ext.Jpeg]]):
  *  - a uniform-gray raster whose single quantized DC coefficient makes
  *    the whole encode→decode path exact by hand arithmetic (q=50
  *    leaves the Annex K tables unscaled: DC field = 64·(130−128)/8 /
  *    16 = 1 → dequant 16 → IDCT 16/8 = 2 → +128 = 130). It pins the
  *    encoder's quality scale, the 4:4:4 sampling and the decoder's
  *    gray path together: a gamma-corrected gray read or a rescaled
  *    table would miss 130;
  *  - lossy round trips bounded on smooth and structured rasters;
  *  - progressive output decoding pixel-identical to sequential;
  *  - malformed, truncated and bomb-sized payloads return None, never
  *    throw.
  */
class JpegSpec extends AnyFunSuite {

  private def gray(w: Int, h: Int, v: Int): Ppm.Image = {
    val px = new Array[Byte](w * h * 3)
    java.util.Arrays.fill(px, v.toByte)
    Ppm.Image(w, h, px)
  }

  test("uniform gray 130 at q=50 round-trips EXACTLY (hand-checked DC math)") {
    // q=50 → scale 100 → Annex K tables unchanged → q(0)=16.
    // Y(130,130,130)=130, level shift 2, F(0,0)=64·2/8=16, 16/16=1;
    // every other coefficient is exactly 0 → decode reverses each step.
    val img = gray(16, 16, 130)
    val back = Jpeg.decode(Jpeg.encode(img, quality = 50)).get
    assert(back.width === 16 && back.height === 16)
    assert(back.pixels.toSeq === img.pixels.toSeq)
  }

  test("smooth gradient round-trips within a tight bound at q=90") {
    val w = 32; val h = 24
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      px(i) = (x * 4 + 32).toByte
      px(i + 1) = (y * 5 + 40).toByte
      px(i + 2) = ((x + y) * 3 + 20).toByte
    }
    val img = Ppm.Image(w, h, px)
    val back = Jpeg.decode(Jpeg.encode(img, quality = 90)).get
    assert(back.width === w && back.height === h)
    val maxErr = img.pixels.zip(back.pixels)
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.max
    assert(maxErr <= 12, s"max channel error $maxErr")
    val meanErr = img.pixels.zip(back.pixels)
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.sum.toDouble /
      px.length
    assert(meanErr <= 3.0, s"mean channel error $meanErr")
  }

  test("structured raster (non-multiple-of-8 dims) survives with bounded error") {
    // 19x13 forces edge-replication padding on both axes
    val w = 19; val h = 13
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      px(i) = (((x / 4) % 2) * 180 + 40).toByte
      px(i + 1) = (((y / 4) % 2) * 160 + 50).toByte
      px(i + 2) = ((x * y) % 200 + 30).toByte
    }
    val img = Ppm.Image(w, h, px)
    val back = Jpeg.decode(Jpeg.encode(img, quality = 95)).get
    assert(back.width === w && back.height === h)
    val meanErr = img.pixels.zip(back.pixels)
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.sum.toDouble /
      px.length
    // blocky high-frequency content: mean, not max, is the honest bound
    assert(meanErr <= 8.0, s"mean channel error $meanErr")
  }

  test("quality ladder: lower quality never increases byte size on a smooth image") {
    val img = gray(24, 24, 100)
    val sizes = Seq(95, 75, 50, 25).map(q => Jpeg.encode(img, q).length)
    assert(sizes === sizes.sorted.reverse || sizes.distinct.size < sizes.size)
  }

  test("malformed and out-of-profile payloads degrade to None, never throw") {
    assert(Jpeg.decode(Array.empty[Byte]).isEmpty)
    assert(Jpeg.decode("not a jpeg at all".getBytes).isEmpty)
    assert(Jpeg.decode(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
    val good = Jpeg.encode(gray(16, 16, 90))
    assert(Jpeg.decode(good).isDefined)
    // truncation at every eighth byte: must be None or a valid raster,
    // never an exception
    (4 until good.length by 8).foreach { cut =>
      Jpeg.decode(good.take(cut)) // must not throw
    }
    // flip the SOF0 marker to SOF2: the stream becomes a MALFORMED
    // progressive (a sequential scan header's Ss=0,Se=63 band is
    // illegal under G.1 — DC scans are exactly [0,0]) → None, no throw
    val prog = good.clone()
    val sof = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    assert(Jpeg.decode(prog).isEmpty)
    // decompression bombs: SOF0 re-declared far past the bomb guard
    // over the same tiny scan, refused before any raster is allocated
    // (20000×20000 is inside the band where only the guard refuses)
    for ((w, h) <- Seq((60000, 60000), (20000, 20000))) {
      val bomb = good.clone() // SOF: ff c0 L L | P hh hh ww ww
      java.nio.ByteBuffer.wrap(bomb).putShort(sof + 5, h.toShort)
        .putShort(sof + 7, w.toShort)
      val (got, allocated) = Allocated.by(Jpeg.decode(bomb))
      assert(got.isEmpty, s"${w}x$h")
      assert(allocated < Allocated.BombBudget, s"${w}x$h allocated $allocated")
    }
  }

  // ---------------------------------------------- progressive (SOF2)

  private def countMarkers(b: Array[Byte], code: Int): Int =
    (0 until b.length - 1).count(i =>
      (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == code)

  private def structured(w: Int, h: Int): Ppm.Image = {
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val i = (y * w + x) * 3
      px(i) = (((x / 3) % 2) * 170 + 40).toByte
      px(i + 1) = ((x * 7 + y * 13) % 256).toByte
      px(i + 2) = (((x + y) / 5 % 2) * 150 + 60).toByte
    }
    Ppm.Image(w, h, px)
  }

  test("progressive encode→decode is pixel-identical to the sequential form") {
    // same quant → same coefficients → once every refinement lands the
    // two decodes must agree byte-for-byte (spectral selection + EOB
    // runs + ZRL + AC/DC refinement all on the line here)
    for (q <- Seq(90, 50); dims <- Seq((32, 24), (19, 13))) {
      val (w, h) = dims
      val img = structured(w, h)
      val seqPx = Jpeg.decode(Jpeg.encode(img, q)).get
      val prog = Jpeg.encodeProgressive(img, q)
      assert(countMarkers(prog, 0xc2) === 1, "SOF2 present")
      assert(countMarkers(prog, 0xda) >= 6, "multi-scan script")
      val progPx = Jpeg.decode(prog).get
      assert(progPx.width === w && progPx.height === h)
      assert(progPx.pixels.toSeq === seqPx.pixels.toSeq, s"q=$q ${w}x$h")
    }
  }

  test("grayscale progressive: uniform gray exact, gradient bounded") {
    val img = gray(16, 16, 130)
    val back = Jpeg.decode(Jpeg.encodeProgressive(img, 50, grayscale = true)).get
    assert(back.pixels.toSeq === img.pixels.toSeq)
    val w = 24; val h = 17
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      px((y * w + x) * 3 + c) = (x * 6 + y * 4 + 30).toByte
    val g = Ppm.Image(w, h, px)
    val back2 = Jpeg.decode(Jpeg.encodeProgressive(g, 90, grayscale = true)).get
    val meanErr = g.pixels.zip(back2.pixels)
      .map { case (a, b) => math.abs((a & 0xff) - (b & 0xff)) }.sum.toDouble /
      px.length
    assert(meanErr <= 3.0, s"mean channel error $meanErr")
  }

  test("grayscale with declared sampling >1 decodes non-interleaved (A.2)") {
    // some encoders write H=V=2 on a single-component frame; the scan
    // data is non-interleaved either way, so the decode must not change
    val img = structured(21, 14)
    val b = Jpeg.encodeProgressive(img, 80, grayscale = true)
    val want = Jpeg.decode(b).get
    val sof = (0 until b.length - 1).find(i =>
      (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == 0xc2).get
    // SOF layout: ff c2 L L | P hh hh ww ww Nf | C1 HV Tq
    assert((b(sof + 11) & 0xff) === 0x11)
    val patched = b.clone()
    patched(sof + 11) = 0x22.toByte
    assert(Jpeg.decode(patched).get.pixels.toSeq === want.pixels.toSeq)
  }

  test("0xFF fill bytes before markers are tolerated (B.1.1.2)") {
    val good = Jpeg.encode(structured(16, 16), 85)
    val want = Jpeg.decode(good).get
    def padBefore(b: Array[Byte], code: Int): Array[Byte] = {
      val at = (0 until b.length - 1).find(i =>
        (b(i) & 0xff) == 0xff && (b(i + 1) & 0xff) == code).get
      b.take(at) ++ Array(0xff.toByte, 0xff.toByte) ++ b.drop(at)
    }
    val padded = padBefore(padBefore(good, 0xc0), 0xda)
    assert(Jpeg.decode(padded).get.pixels.toSeq === want.pixels.toSeq)
    // and in a progressive stream, between scans
    val prog = Jpeg.encodeProgressive(structured(16, 16), 85)
    val wantP = Jpeg.decode(prog).get
    assert(Jpeg.decode(padBefore(prog, 0xd9)).get.pixels.toSeq ===
      wantP.pixels.toSeq)
  }

  test("truncated progressive entropy data decodes via zero-bit padding") {
    // libjpeg behavior (r14 ADVICE): a marker met mid-entropy-data in a
    // progressive scan pads the remaining block grid with zero bits and
    // resumes AT the marker, instead of aborting the whole decode — so
    // a slightly truncated real-world file still yields a raster. Cut
    // bytes from the LAST scan's tail (the following EOI then arrives
    // early, mid-scan) and decode must still succeed with the right
    // geometry; the untouched earlier scans bound the damage.
    val img = structured(32, 24)
    val prog = Jpeg.encodeProgressive(img, 85)
    val want = Jpeg.decode(prog).get
    // cuts must stay inside the LAST scan's entropy bytes — cutting
    // into the preceding scan header is marker corruption, which
    // rightly degrades to None
    val lastSos = (0 until prog.length - 1).filter(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xda).max
    val sosLen = ((prog(lastSos + 2) & 0xff) << 8) | (prog(lastSos + 3) & 0xff)
    val avail = prog.length - 2 - (lastSos + 2 + sosLen) // entropy bytes
    assert(avail >= 3, s"last scan carries only $avail entropy bytes")
    for (cut <- Seq(1, avail / 2, avail - 1).distinct) {
      val truncated = prog.dropRight(2 + cut) ++
        Array(0xff.toByte, 0xd9.toByte)
      val got = Jpeg.decode(truncated)
      assert(got.isDefined, s"cut=$cut must decode, not stub-fall")
      assert(got.get.width === 32 && got.get.height === 24)
      // zero-bit padding only LOSES refinement detail; most pixels
      // still match the full decode (sanity that we decoded content,
      // not garbage)
      val same = got.get.pixels.zip(want.pixels).count { case (a, b) =>
        math.abs((a & 0xff) - (b & 0xff)) <= 8 }
      assert(same >= want.pixels.length / 2,
        s"cut=$cut: only $same/${want.pixels.length} pixels near the full decode")
    }
    // sequential decode keeps the strict contract: same surgery on a
    // baseline stream still degrades to None
    val base = Jpeg.encode(img, 85)
    assert(Jpeg.decode(base.dropRight(6) ++
      Array(0xff.toByte, 0xd9.toByte)).isEmpty)
  }

  test("PNG and PPM decoders reject JPEG payloads (router stays unambiguous)") {
    val jb = Jpeg.encode(gray(16, 16, 90))
    assert(graft.ext.Png.decode(jb).isEmpty)
    assert(Ppm.decode(jb).isEmpty)
  }
}
