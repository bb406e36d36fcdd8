package graft.core

/** Global tiling schemes: geodetic (EPSG:4326) and web-mercator
  * (EPSG:3857), re-expressing the closed-form tile/projection math of the
  * reference's tiling utility (reference:
  * swig/python/scripts/gdal2tiles.py :: GlobalGeodetic / GlobalMercator —
  * LatLonToMeters, MetersToTile, TileBounds, Resolution) and the
  * per-vertex coordinate transform (ogr/ogrct.cpp ::
  * OGRCoordinateTransformation, restricted to the 4326↔3857 pair; general
  * PROJ datum pipelines are an explicit non-goal, SURVEY.md §2.2).
  *
  * All functions are pure and allocation-free so the same code is shared
  * by the Catalyst expressions (engine) and the scalar test oracles —
  * single source of truth prevents float drift (SURVEY.md §7.3-2).
  */
object TileMath {
  final val EarthRadius = 6378137.0
  final val OriginShift = math.Pi * EarthRadius // 20037508.342789244
  final val WebMercatorMaxLat = 85.05112877980659

  // ---- EPSG:4326 <-> EPSG:3857 (closed form, spherical) ----

  def lonToMercX(lon: Double): Double = lon * OriginShift / 180.0

  def latToMercY(lat: Double): Double = {
    val clamped = math.max(-WebMercatorMaxLat, math.min(WebMercatorMaxLat, lat))
    math.log(math.tan((90.0 + clamped) * math.Pi / 360.0)) * EarthRadius
  }

  def mercXToLon(x: Double): Double = x / OriginShift * 180.0

  def mercYToLat(y: Double): Double =
    180.0 / math.Pi * (2.0 * math.atan(math.exp(y / EarthRadius)) - math.Pi / 2.0)

  // ---- Mercator tiling: 2^z × 2^z tiles over [-OriginShift, OriginShift]² ----
  // y axis: ty=0 is the TOP row (XYZ/Google convention, like the tile://
  // refs); gdal2tiles uses TMS (bottom row 0) — flip is ty_tms = 2^z-1-ty.

  def mercTileX(lon: Double, zoom: Int): Long = {
    val n = 1L << zoom
    val t = math.floor((lon + 180.0) / 360.0 * n).toLong
    math.max(0L, math.min(n - 1, t))
  }

  def mercTileY(lat: Double, zoom: Int): Long = {
    val n = 1L << zoom
    val clamped = math.max(-WebMercatorMaxLat, math.min(WebMercatorMaxLat, lat))
    val latRad = math.toRadians(clamped)
    val t = math.floor((1.0 - math.log(math.tan(latRad) + 1.0 / math.cos(latRad)) / math.Pi) / 2.0 * n).toLong
    math.max(0L, math.min(n - 1, t))
  }

  /** Mercator tile bounds in lon/lat degrees: (west, south, east, north). */
  def mercTileBoundsDeg(zoom: Int, tx: Long, ty: Long): (Double, Double, Double, Double) = {
    val n = (1L << zoom).toDouble
    val w = tx / n * 360.0 - 180.0
    val e = (tx + 1) / n * 360.0 - 180.0
    val nLat = mercYToLat(OriginShift - ty / n * 2.0 * OriginShift)
    val sLat = mercYToLat(OriginShift - (ty + 1) / n * 2.0 * OriginShift)
    (w, sLat, e, nLat)
  }

  /** Mercator tile bounds in projected meters: (xmin, ymin, xmax, ymax). */
  def mercTileBoundsMeters(zoom: Int, tx: Long, ty: Long): (Double, Double, Double, Double) = {
    val res = 2.0 * OriginShift / (1L << zoom).toDouble
    val xmin = -OriginShift + tx * res
    val ymax = OriginShift - ty * res
    (xmin, ymax - res, xmin + res, ymax)
  }

  // ---- Geodetic tiling: 2^(z+1) × 2^z tiles over lon[-180,180] lat[-90,90] --
  // (gdal2tiles GlobalGeodetic). ty=0 is the TOP row (lat=90).
  // Pure arithmetic — no trig — so a SQL oracle reproduces it bit-for-bit.

  def geoTileX(lon: Double, zoom: Int): Long = {
    val n = (1L << (zoom + 1))
    val t = math.floor((lon + 180.0) / 360.0 * n).toLong
    math.max(0L, math.min(n - 1, t))
  }

  def geoTileY(lat: Double, zoom: Int): Long = {
    val n = (1L << zoom)
    val t = math.floor((90.0 - lat) / 180.0 * n).toLong
    math.max(0L, math.min(n - 1, t))
  }

  /** Geodetic tile bounds (west, south, east, north) in degrees. */
  def geoTileBounds(zoom: Int, tx: Long, ty: Long): (Double, Double, Double, Double) = {
    val res = 180.0 / (1L << zoom).toDouble // tile size in degrees (square)
    val w = -180.0 + tx * res
    val n = 90.0 - ty * res
    (w, n - res, w + res, n)
  }

  /** Packed geodetic cell for a lon/lat point. */
  def geoCell(lon: Double, lat: Double, zoom: Int): Long =
    ZCell.pack(zoom, geoTileX(lon, zoom), geoTileY(lat, zoom))

  /** Packed mercator cell for a lon/lat point. */
  def mercCell(lon: Double, lat: Double, zoom: Int): Long =
    ZCell.pack(zoom, mercTileX(lon, zoom), mercTileY(lat, zoom))

  /** Packed geodetic cells covering the inclusive lon/lat envelope.
    * The caller bounds the output by picking the zoom (cells are capped by
    * maxCells; on overflow the envelope is covered at a coarser zoom and
    * re-expanded — never silently truncated). */
  def geoCellsForEnvelope(minLon: Double, minLat: Double, maxLon: Double,
                          maxLat: Double, zoom: Int): Array[Long] = {
    // Closed envelope: an edge exactly on a cell boundary includes the
    // neighboring cell, so points encoded by floor() on that edge still
    // meet their candidate polygons (correctness over minimal pruning).
    val tx0 = geoTileX(minLon, zoom)
    val tx1 = geoTileX(maxLon, zoom) max tx0
    // note: maxLat maps to the SMALLER ty (top row)
    val ty0 = geoTileY(maxLat, zoom)
    val ty1 = geoTileY(minLat, zoom) max ty0
    ZCell.range(zoom, tx0, ty0, tx1, ty1)
  }

  /** Mercator-grid analogs of the geodetic envelope cover: packed cell ids
    * of every mercator tile intersecting the (degree) envelope. Latitudes
    * clamp to the web-mercator domain inside mercTileY. */
  def mercCellsForEnvelope(minLon: Double, minLat: Double, maxLon: Double,
                           maxLat: Double, zoom: Int): Array[Long] = {
    val tx0 = mercTileX(minLon, zoom)
    val tx1 = mercTileX(maxLon, zoom) max tx0
    val ty0 = mercTileY(maxLat, zoom)
    val ty1 = mercTileY(minLat, zoom) max ty0
    ZCell.range(zoom, tx0, ty0, tx1, ty1)
  }

  def mercCellCountForEnvelope(minLon: Double, minLat: Double, maxLon: Double,
                               maxLat: Double, zoom: Int): Long = {
    val tx0 = mercTileX(minLon, zoom)
    val tx1 = mercTileX(maxLon, zoom) max tx0
    val ty0 = mercTileY(maxLat, zoom)
    val ty1 = mercTileY(minLat, zoom) max ty0
    (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
  }

  /** Cell count geoCellsForEnvelope would return, without materializing —
    * the cells_cover cap probes zooms with this before allocating. */
  def geoCellCountForEnvelope(minLon: Double, minLat: Double, maxLon: Double,
                              maxLat: Double, zoom: Int): Long = {
    val tx0 = geoTileX(minLon, zoom)
    val tx1 = geoTileX(maxLon, zoom) max tx0
    val ty0 = geoTileY(maxLat, zoom)
    val ty1 = geoTileY(minLat, zoom) max ty0
    (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
  }
}
