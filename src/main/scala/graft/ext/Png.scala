package graft.ext

/** PNG through the JDK's `javax.imageio` codec, via [[ImageIoCodec]]:
  * every colour type, bit depth and interlace the JDK reads decodes to
  * an RGB [[Ppm.Image]] (gray expanded, alpha dropped), so the raster
  * operators (meanLuma, resize, [[ImageHash]]'s dHash) apply
  * unchanged; a malformed or truncated payload returns None and falls
  * back to [[MultiModal]]'s documented stub path. [[encode]] writes
  * 8-bit RGB, so encode→decode is an exact raster round trip.
  */
object Png {

  def decode(bytes: Array[Byte]): Option[Ppm.Image] =
    ImageIoCodec.read(bytes, "png")(r => Some(ImageIoCodec.toImage(r.read(0))))

  def encode(img: Ppm.Image): Array[Byte] =
    ImageIoCodec.write(ImageIoCodec.toBuffered(img), "png")((_, _) => null)
}
