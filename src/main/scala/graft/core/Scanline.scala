package graft.core

import org.locationtech.jts.geom.{Geometry, Polygon, LineString}

/** Scanline even-odd polygon fill on pixel centers — the reference's
  * rasterization core re-expressed in pure Scala (reference:
  * alg/llrasterize.cpp :: GDALdllImageFilledPolygon,
  * alg/gdalrasterize.cpp :: gv_rasterize_one_shape).
  *
  * Boundary rule (documented, pinned by tests — SURVEY.md §7.3-5): a pixel
  * is burned iff its CENTER (px+0.5, py+0.5) is inside the polygon under
  * even-odd parity; spans are half-open [xStart, xEnd) so an edge passing
  * exactly through a center column burns on the left span only. Horizontal
  * edges are skipped; vertices count via the half-open y test
  * (yMin <= yc < yMax), matching the reference's dllImage parity walk.
  *
  * This single implementation serves both the distributed rasterize
  * operator and the scalar golden oracle (single source of truth, no
  * engine/oracle drift).
  */
object Scanline {

  /** Fill one polygon (with holes) into pixel runs within a w×h grid whose
    * pixel (0,0) spans geo [gx0, gx0+pw) × (gy0-ph, gy0] — i.e. top-left
    * origin, y decreasing. Returns packed runs (py, xStart, xEnd exclusive).
    */
  def fillPolygon(poly: Polygon, gx0: Double, gy0: Double, pw: Double, ph: Double,
                  w: Int, h: Int): Array[(Int, Int, Int)] = {
    // collect edges from shell + holes in PIXEL coordinates
    val rings = (0 until poly.getNumInteriorRing).map(poly.getInteriorRingN) :+ poly.getExteriorRing
    val edges = Array.newBuilder[(Double, Double, Double, Double)] // x0,y0,x1,y1 pixel coords
    rings.foreach { r =>
      val cs = r.getCoordinateSequence
      var i = 0
      while (i < cs.size() - 1) {
        val x0 = (cs.getX(i) - gx0) / pw
        val y0 = (gy0 - cs.getY(i)) / ph
        val x1 = (cs.getX(i + 1) - gx0) / pw
        val y1 = (gy0 - cs.getY(i + 1)) / ph
        if (y0 != y1) edges += ((x0, y0, x1, y1)) // skip horizontal edges
        i += 1
      }
    }
    val es = edges.result()
    val out = Array.newBuilder[(Int, Int, Int)]
    var py = 0
    while (py < h) {
      val yc = py + 0.5
      // gather x intersections of edges whose half-open y-range covers yc
      var xs = List.empty[Double]
      var k = 0
      while (k < es.length) {
        val (x0, y0, x1, y1) = es(k)
        val yMin = math.min(y0, y1); val yMax = math.max(y0, y1)
        if (yc >= yMin && yc < yMax) {
          val t = (yc - y0) / (y1 - y0)
          xs = (x0 + t * (x1 - x0)) :: xs
        }
        k += 1
      }
      if (xs.nonEmpty) {
        val sorted = xs.sorted.toArray
        var i = 0
        while (i + 1 < sorted.length) {
          // centers in [x0, x1): px+0.5 >= x0 && px+0.5 < x1
          var s = math.ceil(sorted(i) - 0.5).toInt
          var e = math.ceil(sorted(i + 1) - 0.5).toInt // exclusive
          if (s < 0) s = 0
          if (e > w) e = w
          if (e > s) out += ((py, s, e))
          i += 2
        }
      }
      py += 1
    }
    out.result()
  }

  /** ALL_TOUCHED-style line burn: every pixel the half-pixel-step DDA walk
    * samples (reference: alg/llrasterize.cpp ::
    * GDALdllImageLineAllTouched), returned as (px, py) pairs, deduped.
    * Sampling uses the CLOSED FORM ((steps-s)·p0 + s·p1)/steps — not
    * repeated addition — so for integer pixel-coordinate endpoints every
    * sample is an exactly-rounded rational and a SQL oracle reproduces the
    * pixel set bit-for-bit (the incremental form accumulates FP drift the
    * oracle cannot mirror). Tiling-safe: local coords differ from global
    * by the exact integer tile offset, so per-tile walks agree with the
    * global walk, and every sampled pixel contains a point of the segment
    * (its tile is therefore always in cells_cover). */
  def rasterizeLine(line: LineString, gx0: Double, gy0: Double, pw: Double, ph: Double,
                    w: Int, h: Int): Array[(Int, Int)] = {
    val bits = new Array[Long]((w * h + 63) >> 6)
    rasterizeLineBits(line, gx0, gy0, pw, ph, w, h, bits)
    val out = Array.newBuilder[(Int, Int)]
    var i = 0
    while (i < w * h) {
      if ((bits(i >> 6) >>> (i & 63) & 1L) != 0L) out += ((i % w, i / w))
      i += 1
    }
    out.result()
  }

  /** The same all-touched walk writing into a caller-owned w·h BITSET
    * (row-major, bit i = pixel (i%w, i/w)): no per-pixel tuple boxing,
    * dedupe for free, and the caller can coalesce row-adjacent pixels
    * into runs in one scan (burnRuns does — a near-horizontal line then
    * costs O(rows) aggregator inputs instead of O(pixels), the round-3
    * q54 hot spot). The VISITED PIXEL SET is bit-identical to the tuple
    * variant's: same closed-form sample walk, same floor. */
  def rasterizeLineBits(line: LineString, gx0: Double, gy0: Double, pw: Double, ph: Double,
                        w: Int, h: Int, bits: Array[Long]): Unit = {
    val cs = line.getCoordinateSequence
    // sample-index window whose positions can land inside [-1, bound+1) —
    // a SUPERSET selector only (skipped samples provably fall outside the
    // grid), so per-tile walks stay bit-identical to the full walk while
    // each tile visits O(its own span) samples instead of O(whole line)
    def sWindow(p0: Double, p1: Double, bound: Int, steps: Int): (Int, Int) = {
      if (p0 == p1) {
        if (p0 > -1.0 && p0 < bound + 1.0) (0, steps) else (1, 0)
      } else {
        val a = (-1.0 - p0) / (p1 - p0) * steps
        val b = (bound + 1.0 - p0) / (p1 - p0) * steps
        val lo = math.max(0.0, math.min(a, b) - 1.0)
        val hi = math.min(steps.toDouble, math.max(a, b) + 1.0)
        (math.floor(lo).toInt, math.ceil(hi).toInt)
      }
    }
    var i = 0
    while (i < cs.size() - 1) {
      val x0 = (cs.getX(i) - gx0) / pw; val y0 = (gy0 - cs.getY(i)) / ph
      val x1 = (cs.getX(i + 1) - gx0) / pw; val y1 = (gy0 - cs.getY(i + 1)) / ph
      val steps = math.max(1, math.ceil(math.max(math.abs(x1 - x0), math.abs(y1 - y0)) * 2).toInt)
      val (sx0, sx1) = sWindow(x0, x1, w, steps)
      val (sy0, sy1) = sWindow(y0, y1, h, steps)
      var s = math.max(sx0, sy0)
      val sEnd = math.min(sx1, sy1)
      while (s <= sEnd) {
        val x = ((steps - s) * x0 + s * x1) / steps
        val y = ((steps - s) * y0 + s * y1) / steps
        val px = math.floor(x).toInt; val py = math.floor(y).toInt
        if (px >= 0 && px < w && py >= 0 && py < h) {
          val idx = py * w + px
          bits(idx >> 6) |= 1L << (idx & 63)
        }
        s += 1
      }
      i += 1
    }
  }

  /** Set-bit iteration (word-skip, clear-lowest): O(words + touched
    * pixels), not O(w·h) — a sparse tile scans 64 words, not 4096 bits.
    * Bits come out in ascending idx = row-major order, so runs coalesce
    * with one (py, xs, xe) accumulator. */
  private def bitsToRuns(bits: Array[Long], w: Int,
                         out: scala.collection.mutable.Builder[(Int, Int, Int), Array[(Int, Int, Int)]]): Unit = {
    var runPy = -1; var runXs = 0; var runXe = 0
    var wi = 0
    while (wi < bits.length) {
      var word = bits(wi)
      while (word != 0L) {
        val idx = (wi << 6) + java.lang.Long.numberOfTrailingZeros(word)
        word &= word - 1
        val px = idx % w; val py = idx / w
        if (py == runPy && px == runXe) runXe += 1
        else {
          if (runPy >= 0) out += ((runPy, runXs, runXe))
          runPy = py; runXs = px; runXe = px + 1
        }
      }
      wi += 1
    }
    if (runPy >= 0) out += ((runPy, runXs, runXe))
  }

  /** All burn runs of any geometry: polygons via scanline parity fill,
    * line strings via the all-touched DDA (width-1 runs), points via the
    * containing pixel — the full gdal_rasterize geometry dispatch
    * (reference: alg/gdalrasterize.cpp :: gv_rasterize_one_shape switch
    * over wkbPolygon / wkbLineString / wkbPoint). With allTouched,
    * polygons additionally burn every pixel their RINGS pass through
    * (the -at option: gv_rasterize_one_shape's ALL_TOUCHED branch runs
    * GDALdllImageLineAllTouched over the boundary on top of the parity
    * fill), so the burned set becomes every pixel the polygon intersects,
    * not just center-inside ones. */
  def burnRuns(g: Geometry, gx0: Double, gy0: Double, pw: Double, ph: Double,
               w: Int, h: Int, allTouched: Boolean = false): Array[(Int, Int, Int)] = {
    val out = Array.newBuilder[(Int, Int, Int)]
    var i = 0
    while (i < g.getNumGeometries) {
      g.getGeometryN(i) match {
        case p: Polygon =>
          if (allTouched) {
            // union (parity fill ∪ ring DDA) in one bitset, then coalesce:
            // interior pixels come from the fill, boundary-touched ones
            // from the same DDA walk lines use — one pixel set, no dedup
            val bits = new Array[Long]((w * h + 63) >> 6)
            fillPolygon(p, gx0, gy0, pw, ph, w, h).foreach { case (py, xs, xe) =>
              var x = xs
              while (x < xe) { val idx = py * w + x; bits(idx >> 6) |= 1L << (idx & 63); x += 1 }
            }
            rasterizeLineBits(p.getExteriorRing, gx0, gy0, pw, ph, w, h, bits)
            var r = 0
            while (r < p.getNumInteriorRing) {
              rasterizeLineBits(p.getInteriorRingN(r), gx0, gy0, pw, ph, w, h, bits)
              r += 1
            }
            bitsToRuns(bits, w, out)
          } else out ++= fillPolygon(p, gx0, gy0, pw, ph, w, h)
        case l: LineString =>
          // bitset walk + one row scan: adjacent touched pixels coalesce
          // into maximal (py, xs, xe) runs (same pixel SET as before,
          // ~run-length fewer rows through the burn aggregator)
          val bits = new Array[Long]((w * h + 63) >> 6)
          rasterizeLineBits(l, gx0, gy0, pw, ph, w, h, bits)
          bitsToRuns(bits, w, out)
        case pt: org.locationtech.jts.geom.Point =>
          val px = math.floor((pt.getX - gx0) / pw).toInt
          val py = math.floor((gy0 - pt.getY) / ph).toInt
          if (px >= 0 && px < w && py >= 0 && py < h) out += ((py, px, px + 1))
        case _ => // unsupported member (e.g. GeometryCollection leaf) — skip
      }
      i += 1
    }
    out.result()
  }
}
