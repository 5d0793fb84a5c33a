package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Avi, Gif, Jpeg, MultiModal, Png, Ppm, Wav}

/** Codec contract: the round-13 verdict found the MultiModal header
  * still calling JPEG "stubbed" after the real decoder landed. This
  * spec pins the format claims to the dispatch chain itself so codec
  * docs can't drift again:
  *   1. every decoder featurize dispatches to must NOT be named in the
  *      header's stubbed-formats clause (source-text assertion, the
  *      PlansDocSpec pattern);
  *   2. behaviorally, a progressive-JPEG payload — the round-13
  *      verdict's "missing #2", the form web crawls actually carry —
  *      must take the REAL image path (brightness = decoded raster
  *      luma, thumb a valid JPEG), not the byte-math stub.
  */
class CodecContractSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val srcPath = "src/main/scala/graft/ext/MultiModal.scala"
  private lazy val src = {
    val s = scala.io.Source.fromFile(srcPath, "UTF-8")
    try s.mkString finally s.close()
  }

  test("header's STUBBED claim names no format the dispatch chain decodes") {
    // decoders actually wired into featurize's orElse chain
    val dispatched = raw"(Ppm|Png|Jpeg|Gif|Wav|Avi)\.decode".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    assert(dispatched === Set("Ppm", "Png", "Jpeg", "Gif", "Wav", "Avi"),
      "dispatch chain changed — update this spec AND the header")
    // the claim sentence: between "STUBBED only for" and "marked below"
    val claimStart = src.indexOf("STUBBED only for")
    assert(claimStart >= 0, "stub-claim sentence missing from header")
    val claim = src.substring(claimStart,
      src.indexOf("marked below", claimStart)).toUpperCase
    val formatName = Map("Ppm" -> "PPM", "Png" -> "PNG", "Jpeg" -> "JPEG",
      "Gif" -> "GIF", "Wav" -> "WAV", "Avi" -> "AVI")
    dispatched.foreach { d =>
      assert(!claim.contains(formatName(d)),
        s"header claims ${formatName(d)} is stubbed but featurize decodes it")
    }
    // and the stub list still names only the genuinely-impossible ones
    assert(claim.contains("MP3") && claim.contains("H.264"))
  }

  test("every image decode goes through the guarded ImageIoCodec helper") {
    // ImageIO.read skips the per-format reader and the bomb guard;
    // createImageInputStream caches to temp files by default
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = sources(new java.io.File("src/main"))
    assert(files.exists(_.getName == "ImageIoCodec.scala"))
    for (f <- files; banned <- Seq("ImageIO.read(", "ImageIO.createImageInputStream")) {
      val s = scala.io.Source.fromFile(f, "UTF-8")
      val text = try s.mkString finally s.close()
      assert(!text.contains(banned), s"$banned in ${f.getPath}")
    }
  }

  test("progressive JPEG payloads take the real image path in featurize") {
    import spark.implicits._
    val w = 24; val h = 16
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      px((y * w + x) * 3 + c) = ((x * 9 + y * 5 + c * 40) % 256).toByte
    val payload = Jpeg.encodeProgressive(Ppm.Image(w, h, px), quality = 85)
    val media = Seq(
      MultiModal.MediaRecord(1L, "image/jpeg", w, h, payload)).toDS()
    val f = MultiModal.featurize(media).head()
    // brightness must be the decoded raster's luma, exactly — the stub's
    // byte-math value would only coincide by fluke
    val want = Ppm.meanLuma(Jpeg.decode(payload).get)
    assert(f.brightness === want)
    // thumb must be a VALID half-size JPEG, not the stub's byte slice
    val thumb = Jpeg.decode(f.thumb)
    assert(thumb.isDefined && thumb.get.width == w / 2 &&
      thumb.get.height == h / 2)
  }

  test("payloads no decoder accepts (MP3-shaped bytes) degrade to the stub") {
    import spark.implicits._
    // an MPEG audio frame header: 0xFFFB… — none of the six decoders
    // may claim it, and the task must not fail
    val fake = Array(0xff, 0xfb, 0x90, 0x64).map(_.toByte) ++
      Array.tabulate(412)(i => (i * 37 % 251).toByte)
    assert(Ppm.decode(fake).isEmpty && Png.decode(fake).isEmpty &&
      Jpeg.decode(fake).isEmpty && Gif.decode(fake).isEmpty &&
      Wav.decode(fake).isEmpty && Avi.decode(fake).isEmpty)
    val media = Seq(
      MultiModal.MediaRecord(2L, "audio/mpeg", 0, 0, fake)).toDS()
    val f = MultiModal.featurize(media).head()
    assert(f.byte_len === fake.length.toLong) // stub features, no throw
  }
}
