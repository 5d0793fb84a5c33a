package graft.ext

/** Minimal PPM (P6, binary RGB) codec — pure JVM, no libraries.
  *
  * The JDK ships no P6 codec, and P6 is an uncompressed format, so a
  * complete, correct decoder fits in plain Scala and runs on executors
  * with zero native dependencies: header parse → pixel access → luma
  * stats → nearest-neighbor resize → re-encode (PpmSpec). [[Image]] is
  * also the raster every other [[MultiModal]] codec decodes into.
  *
  * Format (netpbm spec): `P6 <whitespace> width <ws> height <ws>
  * maxval <single ws> raw RGB bytes`, `#` comments allowed in the
  * header, maxval ≤ 255 ⇒ 1 byte/sample.
  */
object Ppm {

  /** Decoded raster: `pixels` is row-major RGB, 3 bytes per pixel. */
  final case class Image(width: Int, height: Int, pixels: Array[Byte]) {
    require(pixels.length == width * height * 3,
      s"pixel buffer ${pixels.length} != $width x $height x 3")
  }

  /** Parse a P6 payload; None if the magic/header/pixel-length is not
    * a well-formed single-byte-sample P6 (callers fall back to the
    * opaque-payload path — a malformed image must not fail the task).
    */
  def decode(bytes: Array[Byte]): Option[Image] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    var pos = 2

    // one header token, skipping whitespace and # comments
    def token(): Option[Int] = {
      while (pos < bytes.length &&
          (Character.isWhitespace(bytes(pos)) || bytes(pos) == '#')) {
        if (bytes(pos) == '#')
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        else pos += 1
      }
      val start = pos
      while (pos < bytes.length && !Character.isWhitespace(bytes(pos))) pos += 1
      if (pos == start) None
      else try Some(new String(bytes, start, pos - start, "US-ASCII").toInt)
      catch { case _: NumberFormatException => None }
    }

    for {
      w <- token() if w > 0
      h <- token() if h > 0
      max <- token() if max > 0 && max <= 255
      // exactly ONE whitespace byte separates maxval from pixel data.
      // Pixel length math in Long: a hostile header like
      // "1073741824 2" overflows w*h*3 as Int into a negative (or
      // zero) that would slip past this guard and crash copyOfRange —
      // and the contract is malformed-degrades, never throws.
      data = pos + 1
      len = w.toLong * h.toLong * 3L
      if len <= bytes.length.toLong - data
    } yield Image(w, h,
      java.util.Arrays.copyOfRange(bytes, data, data + len.toInt))
  }

  def encode(img: Image): Array[Byte] = {
    val header = s"P6\n${img.width} ${img.height}\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + img.pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.pixels, 0, out, header.length, img.pixels.length)
    out
  }

  /** Mean Rec.709 luma in [0,1] — the real version of the stub's
    * byte-average "brightness".
    */
  def meanLuma(img: Image): Double = {
    var sum = 0.0
    var i = 0
    while (i < img.pixels.length) {
      sum += 0.2126 * (img.pixels(i) & 0xff) +
        0.7152 * (img.pixels(i + 1) & 0xff) +
        0.0722 * (img.pixels(i + 2) & 0xff)
      i += 3
    }
    if (img.pixels.isEmpty) 0.0 else sum / (img.pixels.length / 3) / 255.0
  }

  /** Nearest-neighbor resize — the standard thumbnailing kernel; each
    * output pixel samples the source at the center of its footprint.
    */
  def resize(img: Image, w2: Int, h2: Int): Image = {
    require(w2 > 0 && h2 > 0, s"bad target ${w2}x$h2")
    val out = new Array[Byte](w2 * h2 * 3)
    var y = 0
    while (y < h2) {
      val sy = ((y + 0.5) * img.height / h2).toInt min (img.height - 1)
      var x = 0
      while (x < w2) {
        val sx = ((x + 0.5) * img.width / w2).toInt min (img.width - 1)
        val s = (sy * img.width + sx) * 3
        val d = (y * w2 + x) * 3
        out(d) = img.pixels(s); out(d + 1) = img.pixels(s + 1)
        out(d + 2) = img.pixels(s + 2)
        x += 1
      }
      y += 1
    }
    Image(w2, h2, out)
  }
}
