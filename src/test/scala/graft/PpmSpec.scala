package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Gif, ImageHash, Jpeg, MultiModal, Png, Ppm, Wav}

/** The real multimodal decode path (X13): a complete pure-JVM P6
  * codec — header parse, pixel luma, nearest-neighbor thumbnail,
  * re-encode — driven both directly and through the partition-batched
  * featurize dataflow; malformed payloads degrade to the stub path.
  */
class PpmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def solid(w: Int, h: Int, r: Int, g: Int, b: Int): Ppm.Image = {
    val px = new Array[Byte](w * h * 3)
    var i = 0
    while (i < px.length) {
      px(i) = r.toByte; px(i + 1) = g.toByte; px(i + 2) = b.toByte
      i += 3
    }
    Ppm.Image(w, h, px)
  }

  test("decode/encode roundtrip, with comments and multi-digit dims") {
    val img = solid(13, 7, 200, 100, 50)
    val decoded = Ppm.decode(Ppm.encode(img))
    assert(decoded.contains(img.copy(pixels = decoded.get.pixels)))
    assert(decoded.get.width === 13 && decoded.get.height === 7)
    assert(decoded.get.pixels.toSeq === img.pixels.toSeq)

    val withComment =
      ("P6\n# a netpbm comment\n2 1\n# another\n255\n".getBytes("US-ASCII")
        ++ Array[Byte](1, 2, 3, 4, 5, 6))
    val c = Ppm.decode(withComment).get
    assert((c.width, c.height) === (2, 1))
    assert(c.pixels.toSeq === Seq[Byte](1, 2, 3, 4, 5, 6))
  }

  test("malformed payloads are rejected, not thrown") {
    assert(Ppm.decode(Array.emptyByteArray).isEmpty)
    assert(Ppm.decode("P5\n1 1\n255\nx".getBytes).isEmpty)   // wrong magic
    assert(Ppm.decode("P6\n0 4\n255\n".getBytes).isEmpty)    // zero dim
    assert(Ppm.decode("P6\n2 2\n70000\n".getBytes).isEmpty)  // 2-byte maxval
    assert(Ppm.decode("P6\n4 4\n255\nxy".getBytes).isEmpty)  // truncated pixels
    assert(Ppm.decode("P6\nab cd\n255\n".getBytes).isEmpty)  // non-numeric dims
    // hostile dims whose w*h*3 overflows Int (negative, or exactly 0
    // for 65536x65536) must degrade like any malformed payload —
    // never pass the length guard and crash the task
    assert(Ppm.decode("P6\n1073741824 2\n255\n".getBytes).isEmpty)
    assert(Ppm.decode("P6\n65536 65536\n255\n".getBytes).isEmpty)
  }

  test("meanLuma is the Rec.709 luma, exact on solid colors") {
    // the 709 coefficients sum to 1 in decimal, not in binary —
    // tolerance, not equality, on the white point
    assert(math.abs(Ppm.meanLuma(solid(4, 4, 255, 255, 255)) - 1.0) < 1e-12)
    assert(Ppm.meanLuma(solid(4, 4, 0, 0, 0)) === 0.0)
    val greenOnly = Ppm.meanLuma(solid(8, 2, 0, 255, 0))
    assert(math.abs(greenOnly - 0.7152) < 1e-12)
  }

  test("nearest-neighbor resize picks footprint centers") {
    // 2x2 quadrant image: downsizing to 1x1 must pick a real source
    // pixel; upsizing to 4x4 must replicate each quadrant 2x2
    val px = Array[Byte](
      10, 10, 10,  20, 20, 20,
      30, 30, 30,  40, 40, 40)
    val img = Ppm.Image(2, 2, px)
    val one = Ppm.resize(img, 1, 1)
    assert(Seq(10, 20, 30, 40).contains(one.pixels(0).toInt))
    val four = Ppm.resize(img, 4, 4)
    assert(four.pixels((0 * 4 + 0) * 3) === 10.toByte)
    assert(four.pixels((0 * 4 + 3) * 3) === 20.toByte)
    assert(four.pixels((3 * 4 + 0) * 3) === 30.toByte)
    assert(four.pixels((3 * 4 + 3) * 3) === 40.toByte)
  }

  test("featurize decodes P6 payloads for real and stubs the rest") {
    val docs = Seq((1L, 100L), (2L, 200L)).toDF("doc_id", "n_chars")
    val media = MultiModal.packPpm(docs, w = 16, h = 12)
    val feats = MultiModal.featurize(media).collect().sortBy(_.doc_id)
    assert(feats.length === 2)
    feats.foreach { f =>
      assert(f.n_frames === 1) // real path marker (stub derives 1..4)
      assert(f.brightness > 0.0 && f.brightness < 1.0)
      val thumb = Ppm.decode(f.thumb).get // thumb is itself valid P6
      assert((thumb.width, thumb.height) === (8, 6))
    }
    // byte-identical input ⇒ byte-identical features (determinism)
    val again = MultiModal.featurize(media).collect().sortBy(_.doc_id)
    assert(again.map(_.checksum).toSeq === feats.map(_.checksum).toSeq)
    assert(again.map(_.brightness).toSeq === feats.map(_.brightness).toSeq)

    // a non-image payload flows through the stub fallback, same schema
    val opaque = MultiModal.packFromText(
      Seq((9L, "just text", 9L)).toDF("doc_id", "text", "n_chars"))
    val stubbed = MultiModal.featurize(opaque).collect()
    assert(stubbed.length === 1)
    assert(stubbed(0).byte_len === "just text".length.toLong)
  }

  test("mixed JPEG/PNG/GIF/WAV decode on 8 concurrent partitions == 1 partition") {
    // the JDK codecs (ImageIO readers, native libjpeg, AudioSystem) on
    // concurrent executor threads must give the single-threaded answer
    val media = (0 until 32).map { i =>
      val w = 12 + i % 5; val h = 9 + i % 3
      val img = Ppm.Image(w, h, Array.tabulate(w * h * 3)(p =>
        ((p * 7 + i * 31 + p / (3 * w) * 13) % 256).toByte))
      val (mime, bytes) = i % 4 match {
        case 0 => ("image/jpeg", if (i % 8 == 0) Jpeg.encode(img, 85)
          else Jpeg.encodeProgressive(img, 85))
        case 1 => ("image/png", Png.encode(img))
        case 2 => ("image/gif", Gif.encodeRgb(img))
        case _ => ("audio/wav", Wav.encode(Wav.Audio(8000, 1,
          Array.tabulate(64)(s => ((s * 977 + i * 131) % 65536 - 32768).toShort))))
      }
      MultiModal.MediaRecord(i.toLong, mime, w, h, bytes)
    }.toDS()
    def features(parts: Int) = MultiModal.featurize(media.repartition(parts))
      .collect().sortBy(_.doc_id).map(f => (f.doc_id, f.byte_len, f.checksum,
        f.brightness, f.n_frames, f.thumb.toSeq)).toSeq
    def hashes(parts: Int) = ImageHash.hashes(media.repartition(parts))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    val one = features(1)
    assert(one.count(_._5 == 1) === 32) // every payload took a real path
    assert(features(8) === one)
    val oneHashes = hashes(1)
    assert(oneHashes.length === 24) // the 24 images, not the 8 clips
    assert(hashes(8) === oneHashes)
  }
}
