package graft.ext

import java.awt.image.{BufferedImage, DataBuffer, IndexColorModel}
import javax.imageio.ImageWriteParam
import javax.imageio.metadata.{IIOMetadata, IIOMetadataNode}

/** GIF through the JDK's `javax.imageio` codec, via [[ImageIoCodec]]:
  * GIF87a/89a, global and local colour tables, interlace and
  * graphic-control transparency. [[decode]] composites the first frame
  * onto the logical screen (offsets, global-table background,
  * transparency), the frame-sample contract [[Avi]] shares; a
  * truncated stream or one without a colour table returns None and
  * falls back to [[MultiModal]]'s documented stub path. [[encodeIndexed]]
  * writes one non-interlaced frame, so any raster with ≤256 distinct
  * colours round-trips bit-exactly.
  */
object Gif {

  /** Int attribute `a` of the first `node` element under `root`. */
  private def attr(root: IIOMetadataNode, node: String, a: String): Option[Int] =
    Option(root.getElementsByTagName(node).item(0))
      .map(_.asInstanceOf[IIOMetadataNode].getAttribute(a).toInt)

  /** Parse a GIF payload and composite its FIRST frame onto the
    * logical screen; None for anything malformed, without a colour
    * table, or declaring a screen or frame past the bomb guard.
    */
  def decode(bytes: Array[Byte]): Option[Ppm.Image] =
    ImageIoCodec.read(bytes, "gif") { reader =>
      def tree(m: IIOMetadata, format: String) =
        m.getAsTree(format).asInstanceOf[IIOMetadataNode]
      val stream = tree(reader.getStreamMetadata, "javax_imageio_gif_stream_1.0")
      val desc = tree(reader.getImageMetadata(0), "javax_imageio_gif_image_1.0")
      val sw = attr(stream, "LogicalScreenDescriptor", "logicalScreenWidth").get
      val sh = attr(stream, "LogicalScreenDescriptor", "logicalScreenHeight").get
      val bgAt = attr(stream, "GlobalColorTable", "backgroundColorIndex")
      if (!ImageIoCodec.fits(sw, sh) || (bgAt.isEmpty &&
          attr(desc, "LocalColorTable", "sizeOfLocalColorTable").isEmpty)) None
      else {
        // background: the global table's entry if it has one, else black
        val entries = stream.getElementsByTagName("ColorTableEntry")
        val bg = (0 until entries.getLength)
          .map(entries.item(_).asInstanceOf[IIOMetadataNode])
          .find(e => bgAt.contains(e.getAttribute("index").toInt))
          .fold(0)(e => Seq("red", "green", "blue")
            .foldLeft(0)((c, k) => (c << 8) | e.getAttribute(k).toInt))
        val canvas = Array.fill(sw * sh)(bg)
        val fx = attr(desc, "ImageDescriptor", "imageLeftPosition").get
        val fy = attr(desc, "ImageDescriptor", "imageTopPosition").get
        val frame = reader.read(0)
        val fw = frame.getWidth; val fh = frame.getHeight
        val argb = frame.getRGB(0, 0, fw, fh, null, 0, fw)
        // transparent pixels keep the background; the screen clips
        for (y <- 0 until fh; x <- 0 until fw if fx + x < sw && fy + y < sh)
          if ((argb(y * fw + x) >>> 24) != 0) canvas((fy + y) * sw + fx + x) = argb(y * fw + x)
        val out = new BufferedImage(sw, sh, BufferedImage.TYPE_INT_RGB)
        out.setRGB(0, 0, sw, sh, canvas, 0, sw)
        Some(ImageIoCodec.toImage(out))
      }
    }

  /** One non-interlaced GIF89a frame at (0,0) over an explicit palette
    * + index raster (global colour table, padded to a power of two ≥2
    * on the wire). Any raster with ≤256 distinct colors round-trips
    * bit-exactly through [[decode]]. `palette` holds 0xRRGGBB ints;
    * each index must be < palette.length.
    */
  def encodeIndexed(width: Int, height: Int, palette: Array[Int],
      indices: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "empty raster")
    require(palette.nonEmpty && palette.length <= 256,
      s"palette size ${palette.length} outside [1,256]")
    require(indices.length == width * height,
      s"index buffer ${indices.length} != $width x $height")
    val cm = new IndexColorModel(8, palette.length, palette, 0, false, -1,
      DataBuffer.TYPE_BYTE)
    val img = new BufferedImage(width, height, BufferedImage.TYPE_BYTE_INDEXED, cm)
    img.getRaster.setDataElements(0, 0, width, height, indices)
    // the writer interlaces by default
    ImageIoCodec.write(img, "gif") { (_, param) =>
      param.setProgressiveMode(ImageWriteParam.MODE_DISABLED); null
    }
  }

  /** Re-encode an RGB raster as GIF: exact palette when the raster
    * has ≤256 distinct colors (always true for rasters decoded from a
    * GIF: resize and background composition add no colors), else a
    * 256-level Rec.709 luma quantization, the documented lossy
    * fallback for foreign rasters.
    */
  def encodeRgb(img: Ppm.Image): Array[Byte] = {
    val rgb = img.pixels.grouped(3)
      .map(p => ((p(0) & 0xff) << 16) | ((p(1) & 0xff) << 8) | (p(2) & 0xff)).toArray
    val palette = rgb.distinct
    if (palette.length <= 256) {
      val index = palette.zipWithIndex.toMap
      encodeIndexed(img.width, img.height, palette, rgb.map(index(_).toByte))
    } else encodeIndexed(img.width, img.height,
      Array.tabulate(256)(_ * 0x010101), rgb.map { c =>
        val y = 0.2126 * ((c >> 16) & 0xff) + 0.7152 * ((c >> 8) & 0xff) +
          0.0722 * (c & 0xff)
        math.min(255, math.round(y).toInt).toByte
      })
  }
}
