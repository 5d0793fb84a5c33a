package graft.ext

import java.awt.color.ColorSpace
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageReader, ImageWriteParam, ImageWriter}
import javax.imageio.metadata.IIOMetadata
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** The one path between payload bytes and the JDK's `javax.imageio`
  * codecs (module `java.desktop`), shared by [[Png]], [[Jpeg]], [[Gif]]:
  *  - bytes go in a `MemoryCacheImageInputStream` directly
  *    (`createImageInputStream` caches to temp files by default);
  *  - each decoder asks for its own format's reader only, so the
  *    [[MultiModal]] `orElse` router stays unambiguous;
  *  - the declared size is checked before any raster is allocated;
  *  - gray rasters are read from their samples: `getRGB` on a gray
  *    image applies a gamma curve and breaks exact gray round trips;
  *  - any `Exception` maps to None: a payload the codec refuses falls
  *    to the stub path and never fails the task.
  */
private[ext] object ImageIoCodec {

  /** Decompression-bomb guard on a declared raster: w·h·3 ≤ Int.MaxValue/2. */
  def fits(w: Int, h: Int): Boolean =
    w > 0 && h > 0 && w.toLong * h * 3 <= Int.MaxValue / 2

  /** Run `body` on `format`'s reader once the stream's magic and its
    * first image's declared size pass; None otherwise or on any exception.
    */
  def read[T](bytes: Array[Byte], format: String)(
      body: ImageReader => Option[T]): Option[T] = {
    val reader = ImageIO.getImageReadersByFormatName(format).next()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    try {
      if (!reader.getOriginatingProvider.canDecodeInput(in)) None
      else {
        reader.setInput(in, true)
        if (fits(reader.getWidth(0), reader.getHeight(0))) body(reader) else None
      }
    } catch { case _: Exception => None }
    finally { reader.dispose(); in.close() }
  }

  /** Encode with `format`'s writer; `configure` sets the write param and
    * returns image metadata (null for the writer's default).
    */
  def write(img: BufferedImage, format: String)(
      configure: (ImageWriter, ImageWriteParam) => IIOMetadata): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName(format).next()
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      writer.setOutput(out)
      val param = writer.getDefaultWriteParam
      writer.write(null, new IIOImage(img, null, configure(writer, param)), param)
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  /** An 8-bit RGB image holding `img`'s raster. */
  def toBuffered(img: Ppm.Image): BufferedImage = {
    val bi = new BufferedImage(img.width, img.height, BufferedImage.TYPE_3BYTE_BGR)
    bi.getRaster.setPixels(0, 0, img.width, img.height, img.pixels.map(_ & 0xff))
    bi
  }

  /** A decoded image as an RGB raster: alpha dropped, gray expanded. */
  def toImage(bi: BufferedImage): Ppm.Image = {
    val w = bi.getWidth; val h = bi.getHeight; val cm = bi.getColorModel
    val rgb = if (cm.getColorSpace.getType != ColorSpace.TYPE_GRAY)
      bi.getRGB(0, 0, w, h, null, 0, w)
    else {
      val max = (1 << cm.getComponentSize(0)) - 1
      bi.getRaster.getSamples(0, 0, w, h, 0, null: Array[Int])
        .map(v => (v * 255 / max) * 0x010101)
    }
    val px = new Array[Byte](w * h * 3)
    for (i <- rgb.indices) {
      px(3 * i) = (rgb(i) >> 16).toByte; px(3 * i + 1) = (rgb(i) >> 8).toByte
      px(3 * i + 2) = rgb(i).toByte
    }
    Ppm.Image(w, h, px)
  }
}
