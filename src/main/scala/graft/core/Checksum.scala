package graft.core

/** Exact reimplementation of the reference's raster checksum — the golden
  * comparator used throughout its test suite (reference:
  * alg/gdalchecksum.cpp :: GDALChecksumImage; e.g. the canonical 20×20
  * byte.tif fixture checksums to 4672 in autotest/gcore).
  *
  * Algorithm: for each pixel in row-major window order, accumulate
  * `((int)pixel) * (i % modulus + 1)` where i is the linear pixel index and
  * modulus is 49 (OVERVIEW: GDAL floors the pixel to int, multiplies by a
  * cyclic weight, sums modulo 0xffff). Kept bit-exact and order-dependent,
  * so it doubles as a determinism check on tile contents.
  */
object Checksum {
  final val Mod = 0xffff

  def checksum(pixels: Array[Double], w: Int, h: Int): Int = {
    var sum = 0L
    var i = 0
    val n = w * h
    while (i < n) {
      val v = pixels(i)
      val iv = if (v.isNaN) 0 else v.toInt
      sum += iv.toLong * (i % 49 + 1)
      sum &= 0xffffffffL
      i += 1
    }
    (sum % Mod).toInt
  }
}
