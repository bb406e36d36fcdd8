package graft.core

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Real lossless raster codec (reference: frmts/png/pngdataset.cpp) using
  * the JDK's built-in ImageIO PNG plugin — no external codec libraries,
  * so this runs in any stock JVM container. 8-bit grayscale, one band:
  * the minimal real instance of the reference's 140-format surface
  * (the rest stay documented non-goals; the decode STUB remains for
  * formats with no in-JDK codec).
  *
  * PNG is lossless ⇒ decode(encode(px)) == px exactly, so a SQL oracle
  * over the ORIGINAL closed-form pixels stays bit-exact through a real
  * DEFLATE-compressed binary round-trip. Encoded byte length is NOT
  * part of any oracle (DEFLATE output may vary across JDKs). */
object Codec {
  ImageIO.setUseCache(false) // no temp-file cache: executors decode in-memory

  def encodeGray(px: Array[Int], w: Int, h: Int, format: String): Array[Byte] = {
    require(px.length == w * h, s"pixel count ${px.length} != ${w}x$h")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      // clamp to the Byte range like the reference's Byte path (silent
      // mod-256 wrap would break the documented lossless round-trip)
      while (x < w) { raster.setSample(x, y, 0, math.min(255, math.max(0, px(y * w + x)))); x += 1 }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, format, bos), s"no ImageIO writer for $format")
    bos.toByteArray
  }

  /** Container format from the magic bytes — the gdalmanage identify /
    * GDALIdentifyDriver analog (reference: apps/gdalmanage.cpp,
    * gcore/gdaldrivermanager.cpp: each driver's Identify() checks its
    * signature against the header). Returns the short driver-style name,
    * or "unknown" — never throws, identification is a total function. */
  def identify(bytes: Array[Byte]): String = {
    def at(i: Int, v: Int): Boolean =
      i < bytes.length && (bytes(i) & 0xff) == v
    if (at(0, 0x89) && at(1, 'P') && at(2, 'N') && at(3, 'G')) "png"
    else if ((at(0, 'I') && at(1, 'I') && at(2, 0x2a) && at(3, 0x00)) ||
             (at(0, 'M') && at(1, 'M') && at(2, 0x00) && at(3, 0x2a))) "tiff"
    else if (at(0, 0xff) && at(1, 0xd8) && at(2, 0xff)) "jpeg"
    else if (at(0, 'G') && at(1, 'I') && at(2, 'F') && at(3, '8')) "gif"
    else if (at(0, 'B') && at(1, 'M')) "bmp"
    else "unknown"
  }

  /** (w, h, pixels row-major). Format is sniffed from the magic bytes, so
    * one decoder serves PNG and TIFF alike. */
  private def decodeGray(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "not a decodable image")
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Int](w * h)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { out(y * w + x) = raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    (w, h, out)
  }

  def decodePngGray(bytes: Array[Byte]): (Int, Int, Array[Int]) = decodeGray(bytes)

  /** JPEG via the JDK's built-in ImageIO plugin (reference:
    * frmts/jpeg/jpgdataset.cpp — the most-used lossy driver). LOSSY, so
    * no checksum oracle is possible; the contract is property-based
    * instead: shape survives exactly, and at quality 1.0 the quantization
    * tables are all ones, leaving only DCT rounding — per-pixel error ≤ 2
    * (measured 1 on the synthetic corpus; bound carries 2× margin). */
  def encodeJpegGray(px: Array[Int], w: Int, h: Int, quality: Float = 1.0f): Array[Byte] = {
    require(px.length == w * h, s"pixel count ${px.length} != ${w}x$h")
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, math.min(255, math.max(0, px(y * w + x)))); x += 1 }
      y += 1
    }
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }
}
