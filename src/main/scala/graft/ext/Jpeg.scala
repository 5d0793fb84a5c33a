package graft.ext

import java.awt.image.BufferedImage
import javax.imageio.{ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.IIOMetadataNode

/** JPEG through the JDK's `javax.imageio` codec (libjpeg), via
  * [[ImageIoCodec]]: baseline, extended-sequential and progressive
  * (SOF2) frames, gray or JFIF YCbCr at any sampling, decode to an RGB
  * [[Ppm.Image]]. libjpeg pads a truncated stream and returns it with a
  * warning: a progressive stream keeps that raster (its earlier scans
  * bound the damage), a sequential one returns None and falls back to
  * [[MultiModal]]'s documented stub path. The encoders write 4:4:4 at
  * the libjpeg linear quality scale, so quality 50 sends the Annex K
  * tables unscaled, and sequential and progressive output at one
  * quality decode pixel-identically.
  */
object Jpeg {

  private val NativeFormat = "javax_imageio_jpeg_image_1.0"

  /** Parse a JPEG payload into an RGB raster; None for anything
    * malformed, declaring a raster past the bomb guard, or (sequential
    * frames only) decoded with a warning.
    */
  def decode(bytes: Array[Byte]): Option[Ppm.Image] =
    ImageIoCodec.read(bytes, "jpeg") { reader =>
      var warned = false
      reader.addIIOReadWarningListener((_, _) => warned = true)
      val img = reader.read(0)
      if (warned && sofMarker(bytes) != 0xc2) None
      else Some(ImageIoCodec.toImage(img))
    }

  /** The first SOFn marker code, found by walking the header segments
    * (image metadata throws on a truncated progressive stream); -1 if
    * none precedes the end of the bytes.
    */
  private def sofMarker(b: Array[Byte]): Int = {
    var p = 2
    while (p + 4 <= b.length && (b(p) & 0xff) == 0xff) {
      val m = b(p + 1) & 0xff
      if (m == 0xff) p += 1 // fill byte before a marker
      else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
        return m
      else p += 2 + (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff))
    }
    -1
  }

  /** Encode an RGB raster as baseline 4:4:4 JFIF JPEG. */
  def encode(img: Ppm.Image, quality: Int = 90): Array[Byte] =
    write(ImageIoCodec.toBuffered(img), quality, progressive = false)

  /** Encode an RGB raster as progressive (SOF2) JFIF JPEG with libjpeg's
    * multi-scan script, 4:4:4 YCbCr or, with `grayscale`, one JFIF luma
    * component. The quantized coefficients equal [[encode]]'s at the
    * same quality, so the decode is pixel-identical to the sequential
    * form (JpegSpec pins that).
    */
  def encodeProgressive(img: Ppm.Image, quality: Int = 90,
      grayscale: Boolean = false): Array[Byte] = {
    val bi = if (!grayscale) ImageIoCodec.toBuffered(img) else {
      val g = new BufferedImage(img.width, img.height, BufferedImage.TYPE_BYTE_GRAY)
      g.getRaster.setSamples(0, 0, img.width, img.height, 0,
        img.pixels.grouped(3).map(p => math.round(0.299 * (p(0) & 0xff) +
          0.587 * (p(1) & 0xff) + 0.114 * (p(2) & 0xff)).toInt).toArray)
      g
    }
    write(bi, quality, progressive = true)
  }

  private def write(bi: BufferedImage, quality: Int, progressive: Boolean)
      : Array[Byte] =
    ImageIoCodec.write(bi, "jpeg") { (writer, param) =>
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(math.max(1, math.min(100, quality)) / 100f)
      if (progressive) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      // 4:4:4: the writer's default 4:2:0 blurs structured rasters
      // past JpegSpec's mean-error bound
      val meta = writer.getDefaultImageMetadata(
        ImageTypeSpecifier.createFromRenderedImage(bi), param)
      val tree = meta.getAsTree(NativeFormat).asInstanceOf[IIOMetadataNode]
      val specs = tree.getElementsByTagName("componentSpec")
      for (i <- 0 until specs.getLength) {
        val c = specs.item(i).asInstanceOf[IIOMetadataNode]
        c.setAttribute("HsamplingFactor", "1")
        c.setAttribute("VsamplingFactor", "1")
      }
      meta.setFromTree(NativeFormat, tree)
      meta
    }
}
