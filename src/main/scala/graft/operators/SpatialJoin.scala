package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.F

/** Distributed spatial join — the engine's centerpiece (SURVEY.md §3.3 J2/J3).
  *
  * Re-expresses the reference's layer-algebra joins (reference:
  * ogr/ogrsf_frmts/generic/ogrlayer.cpp :: OGRLayer::Intersection / Clip /
  * SetSpatialFilter + FilterGeometry), which are per-feature nested loops
  * with a bbox prefilter, as a two-phase cell-equi-join:
  *
  *   1. PRUNE:  polygons explode to the Z-order cells they intersect
  *              (cells_cover); points map to exactly one cell (cell_encode).
  *              The join on `cell` is an ordinary Catalyst equi-join, so
  *              Spark picks broadcast-hash vs shuffled-hash/SMJ and AQE
  *              re-plans at runtime.
  *   2. REFINE: exact JTS predicate (st_contains / st_intersects) on the
  *              candidates; the polygon side goes through the prepared-
  *              geometry cache, matching the reference's prepared filter.
  *
  * Scale levers (100-TB design):
  *   - broadcast: polygon side is usually the small dimension → map-side
  *     join, zero shuffle of the big point table.
  *   - shuffle + salting: when both sides are big, hot cells (skewed by
  *     cells_cover fan-out or point clustering) are salted — points get a
  *     deterministic salt in [0, s), polygons replicate ×s — bounding any
  *     single task's share of a hot cell at 1/s. AQE skew-join splits the
  *     residual.
  *   - a point maps to exactly ONE cell per cover zoom, so point-in-polygon
  *     emits no duplicate pairs; geometry×geometry joins dedup on the id
  *     pair before the (expensive) refine.
  *   - cells_cover is CAPPED (default 65536 cells/row): a continental
  *     polygon at deep zoom coarsens instead of OOM-ing a task. The set of
  *     zooms actually present (≤ MaxZoom+1 values) is collected at plan
  *     time from the cover side; the opposing side re-keys to that ladder
  *     only when a cover really coarsened — the common single-zoom case
  *     keeps the round-1 plan untouched.
  */
object SpatialJoin {

  /** The distinct zooms present in a (possibly capped, hence mixed-zoom)
    * cover — collected at plan time. This is a bounded driver action (at
    * most MaxZoom+1 values, one narrow pass over the cover side): paying
    * it buys the COMMON case — nothing coarsened — a completely untouched
    * point-side plan, where a runtime join-based fan taxed every row of
    * the big side (~50% on the salted PIP at sf0.1). */
  private[graft] def coverZooms(cov: DataFrame): Seq[Int] =
    cov.select(F.cell_zoom(col("__cell")).cast("int").as("__covz"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Fan `df`'s `__cell` key out to every zoom in `zooms`: identity when
    * the cover is single-zoom at the requested zoom; otherwise a per-row
    * explode of the literal zoom ladder (rows already coarser than a
    * target zoom skip it — ancestorAt would duplicate the key). */
  private[operators] def fanToZooms(df: DataFrame, zooms: Seq[Int], reqZoom: Int): DataFrame =
    if (zooms.isEmpty || zooms == Seq(reqZoom)) df
    else df.withColumn("__cell", explode(expr(
      s"transform(filter(array(${zooms.mkString(",")}), z -> z <= cell_zoom(__cell)), " +
        "z -> cell_at_zoom(__cell, z))")))

  /** Point-in-polygon join.
    * @param polys  (idCol, geomCol: WKB) polygon side
    * @param points point side with lon/lat double columns
    * @param zoom   geodetic cell zoom for the prune phase
    * @param broadcastPolys map-side join (polygon side must fit in memory)
    * @param saltFactor >1 enables salting on the shuffle path
    * @param predicate "contains" (boundary excluded) or "covers"/"intersects"
    * @param mercator prune on the web-mercator cell grid instead of the
    *   geodetic one — the native path for post-warp (EPSG:3857-tiled) data;
    *   the exact refine is unchanged, so results are identical wherever
    *   both grids cover (|lat| <= 85.05) */
  def pointInPolygon(polys: DataFrame, polyGeom: String,
                     points: DataFrame, lonCol: String, latCol: String,
                     zoom: Int,
                     broadcastPolys: Boolean = true,
                     saltFactor: Int = 1,
                     predicate: String = "contains",
                     mercator: Boolean = false): DataFrame = {
    val spark = polys.sparkSession
    F.ensureRegistered(spark)
    def cover(g: org.apache.spark.sql.Column) =
      if (mercator) F.cells_cover_merc(g, lit(zoom)) else F.cells_cover(g, lit(zoom))
    def encode(lon: org.apache.spark.sql.Column, lat: org.apache.spark.sql.Column) =
      if (mercator) F.cell_encode_merc(lon, lat, lit(zoom)) else F.cell_encode(lon, lat, lit(zoom))
    // persisted: the plan-time coverZooms action materializes the cover
    // anyway — caching it makes the join's second computation free.
    // __env is computed ONCE per polygon (before the cover explode) and
    // feeds the codegen'd envelope prefilter below.
    // fan: the sf inputs are single-row-group parquet (one scan split), so
    // without a repartition the polygon WKT-parse/cover-explode and — on
    // the broadcast path — the ENTIRE candidate join + JTS refine run on
    // one core (guide §2.5). Identity when the scan is already parallel.
    val cov = graft.core.Par.fan(polys)
      .withColumn("__env", F.st_env_bounds(col(polyGeom)))
      .withColumn("__cell", explode(cover(col(polyGeom))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pts0 = if (broadcastPolys) graft.core.Par.fan(points) else points
    val pts = fanToZooms(
      pts0.withColumn("__cell", encode(col(lonCol), col(latCol))),
      coverZooms(cov), zoom)
    // point-probe fast path: no WKB point round-trip per candidate. The
    // envelope gate (reference: OGRLayer::FilterGeometry checks
    // m_sFilterEnvelope BEFORE any exact test) is pure column arithmetic
    // inside whole-stage codegen; And short-circuits, so the interpreted
    // JTS probe runs only on candidates surviving the bbox.
    val pred: Column = envGateLonLat(lonCol, latCol) &&
      F.st_predicate_point(predicate, col(polyGeom), col(lonCol), col(latCol))

    val candidates =
      if (broadcastPolys) {
        pts.join(broadcast(cov), Seq("__cell"), "inner")
      } else if (saltFactor > 1) {
        val s = saltFactor
        val saltedPts = pts.withColumn("__salt",
          pmod(hash(col(lonCol), col(latCol)), lit(s)))
        val saltedCov = cov.withColumn("__salt",
          explode(sequence(lit(0), lit(s - 1))))
        saltedPts.join(saltedCov, Seq("__cell", "__salt"), "inner").drop("__salt")
      } else {
        pts.join(cov, Seq("__cell"), "inner")
      }
    candidates.where(pred).drop("__cell", "__env")
  }

  /** Codegen'd bbox prefilter against a polygon-side `__env` array —
    * shared by all batch paths and the streaming twin. */
  private[operators] def envGateLonLat(lonCol: String, latCol: String): Column =
    col(lonCol) >= col("__env")(0) && col(lonCol) <= col("__env")(2) &&
      col(latCol) >= col("__env")(1) && col(latCol) <= col("__env")(3)

  /** ADAPTIVE hot-cell salting (SURVEY.md §5 skew row): a cheap pre-agg
    * counts points per cell; only cells whose count exceeds
    * `hotThreshold` are salted (×saltFactor replication of the polygon
    * side), the cold remainder joins plainly — so replication cost is
    * paid exactly where skew exists. Returns the same rows as
    * pointInPolygon (verified in SpatialJoinSpec). The hot-cell set stays
    * a DataFrame joined via broadcast semi/anti joins — never a driver
    * collect or an IN-list literal, so a million hot cells cannot bloat
    * the plan. */
  def pointInPolygonAdaptive(polys: DataFrame, polyGeom: String,
                             points: DataFrame, lonCol: String, latCol: String,
                             zoom: Int, saltFactor: Int = 8,
                             hotThreshold: Long = 100000L,
                             predicate: String = "contains"): DataFrame = {
    val spark = polys.sparkSession
    F.ensureRegistered(spark)
    // fan both sides: single-row-group inputs are one scan split each, so
    // the cover build AND — because the cold/hot cov joins broadcast — the
    // whole candidate+refine pipeline would run on one core (guide §2.5);
    // fanning the persisted pts also parallelizes every cached read below
    val cov = graft.core.Par.fan(polys)
      .withColumn("__env", F.st_env_bounds(col(polyGeom)))
      .withColumn("__cell", explode(F.cells_cover(col(polyGeom), lit(zoom))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pts feeds THREE consumers (hot-cell pre-agg, cold join, hot join):
    // without persist each one re-runs the full upstream scan/parse, which
    // at scan-bound scale triples the job (measured 479 s vs 260 s at 128M
    // docs). MEMORY_AND_DISK: spills, never recomputes.
    val pts = fanToZooms(
      graft.core.Par.fan(points)
        .withColumn("__cell", F.cell_encode(col(lonCol), col(latCol), lit(zoom))),
      coverZooms(cov), zoom)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tiny (cells over threshold) but referenced by four joins — persist
    // so the full-point pre-agg runs once
    val hotCells = pts.groupBy("__cell").count()
      .where(col("count") > hotThreshold)
      .select("__cell")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pred: Column = envGateLonLat(lonCol, latCol) &&
      F.st_predicate_point(predicate, col(polyGeom), col(lonCol), col(latCol))
    // OPTIMIZATION r6 (guide §2.5 — AQE-style plan-time adaptivity): when
    // the probe finds NO hot cell, the cold/hot split is four extra joins
    // that all degenerate to identity — take the plain equi-join instead
    // (identical rows: with hotCells empty, anti-joins pass everything
    // and semi-joins pass nothing). The probe is a bounded action on the
    // already-persisted hot-cell table; skewed inputs still take the
    // salted split exactly as before.
    if (hotCells.isEmpty) {
      hotCells.unpersist(false)
      pts.join(cov, Seq("__cell"), "inner").where(pred).drop("__cell", "__env")
    } else {
      val cold = pts.join(broadcast(hotCells), Seq("__cell"), "left_anti")
        .join(cov.join(broadcast(hotCells), Seq("__cell"), "left_anti"), Seq("__cell"))
      val s = saltFactor
      val hot = pts.join(broadcast(hotCells), Seq("__cell"), "left_semi")
        .withColumn("__salt", pmod(hash(col(lonCol), col(latCol)), lit(s)))
        .join(cov.join(broadcast(hotCells), Seq("__cell"), "left_semi")
          .withColumn("__salt", explode(sequence(lit(0), lit(s - 1)))),
          Seq("__cell", "__salt"))
        .drop("__salt")
      cold.unionByName(hot).where(pred).drop("__cell", "__env")
    }
  }

  /** Geometry × geometry join (both sides arbitrary WKB geometries).
    * Both sides explode to covering cells; candidate pairs dedup on the id
    * pair before the exact refine (a pair can meet in several cells).
    * Refine keeps only the pair ids + geometries; callers re-join payload
    * columns by id — at scale that keeps the dedup shuffle narrow.
    *
    * Skew: hot cells (giant geometries fanning out, or dense clusters) are
    * ADAPTIVELY salted when `saltFactor > 1`: a pre-agg over the left
    * cover finds cells with > hotThreshold left rows; in those cells the
    * left side salts deterministically and the right side replicates ×s.
    * Cold cells join plainly — replication is paid only where skew exists. */
  def geomJoin(left: DataFrame, leftId: String, leftGeom: String,
               right: DataFrame, rightId: String, rightGeom: String,
               zoom: Int,
               predicate: String = "intersects",
               broadcastRight: Boolean = false,
               saltFactor: Int = 1,
               hotThreshold: Long = 100000L,
               mercator: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    F.ensureRegistered(spark)
    def cover(g: org.apache.spark.sql.Column) =
      if (mercator) F.cells_cover_merc(g, lit(zoom)) else F.cells_cover(g, lit(zoom))
    // fan: single-split inputs would build both covers — and, when either
    // join side ends up broadcast, the whole pair generation — on one core
    val l0 = graft.core.Par.fan(left.select(col(leftId), col(leftGeom)))
      .withColumn("__envl", F.st_env_bounds(col(leftGeom)))
      .withColumn("__cell", explode(cover(col(leftGeom))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r00 = graft.core.Par.fan(right.select(col(rightId), col(rightGeom)))
      .withColumn("__envr", F.st_env_bounds(col(rightGeom)))
      .withColumn("__cell", explode(cover(col(rightGeom))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // mixed-zoom completeness: each side re-keys to every zoom present on
    // EITHER side that is <= its own cell's zoom; an intersecting pair
    // always meets at the coarser of its two cover zooms.
    val zooms = (coverZooms(l0) ++ coverZooms(r00)).distinct.sorted
    geomJoinCore(l0, leftId, leftGeom, r00, rightId, rightGeom, zoom,
      predicate, broadcastRight, saltFactor, hotThreshold, zooms)
  }

  /** Self-join variant (OPTIMIZATION r6, guide §2.4 "two operations keyed
    * the same way can share one exchange" applied to the cover build): a
    * geometry table joined against ITSELF used to build, persist and
    * zoom-probe two byte-identical covers; one cover now feeds both join
    * sides through renames. Join logic, salting and refine are exactly
    * [[geomJoin]]'s — the output rows are identical by construction. */
  def geomSelfJoin(geoms: DataFrame, idCol: String, geomCol: String,
                   leftId: String, leftGeom: String,
                   rightId: String, rightGeom: String,
                   zoom: Int,
                   predicate: String = "intersects",
                   saltFactor: Int = 1,
                   hotThreshold: Long = 100000L,
                   mercator: Boolean = false): DataFrame = {
    val spark = geoms.sparkSession
    F.ensureRegistered(spark)
    def cover(g: org.apache.spark.sql.Column) =
      if (mercator) F.cells_cover_merc(g, lit(zoom)) else F.cells_cover(g, lit(zoom))
    val cov = graft.core.Par.fan(geoms.select(col(idCol), col(geomCol)))
      .withColumn("__env0", F.st_env_bounds(col(geomCol)))
      .withColumn("__cell", explode(cover(col(geomCol))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val zooms = coverZooms(cov)
    val l0 = cov.select(col(idCol).as(leftId), col(geomCol).as(leftGeom),
      col("__env0").as("__envl"), col("__cell"))
    val r00 = cov.select(col(idCol).as(rightId), col(geomCol).as(rightGeom),
      col("__env0").as("__envr"), col("__cell"))
    geomJoinCore(l0, leftId, leftGeom, r00, rightId, rightGeom, zoom,
      predicate, broadcastRight = false, saltFactor, hotThreshold, zooms)
  }

  private def geomJoinCore(l0: DataFrame, leftId: String, leftGeom: String,
                           r00: DataFrame, rightId: String, rightGeom: String,
                           zoom: Int, predicate: String,
                           broadcastRight: Boolean, saltFactor: Int,
                           hotThreshold: Long, zooms: Seq[Int]): DataFrame = {
    val l = fanToZooms(l0, zooms, zoom)
    val r0 = fanToZooms(r00, zooms, zoom)
    // envelope-overlap prefilter (codegen'd) applied BEFORE the pair
    // dedup: a rejected candidate never enters the dedup shuffle
    val envOverlap =
      col("__envl")(0) <= col("__envr")(2) && col("__envl")(2) >= col("__envr")(0) &&
        col("__envl")(1) <= col("__envr")(3) && col("__envl")(3) >= col("__envr")(1)
    val refined =
      if (broadcastRight) {
        l.join(broadcast(r0), Seq("__cell"), "inner")
          .where(envOverlap)
          .dropDuplicates(leftId, rightId)
      } else if (saltFactor > 1) {
        val lp = l.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val hotCells = lp.groupBy("__cell").count()
          .where(col("count") > hotThreshold).select("__cell")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // OPTIMIZATION r6 (guide §2.5): no hot cell found → the split is
        // four identity joins; take the plain equi-join (same rows — see
        // pointInPolygonAdaptive). Skew still salts exactly as before.
        if (hotCells.isEmpty) {
          hotCells.unpersist(false)
          lp.join(r0, Seq("__cell"), "inner")
            .where(envOverlap)
            .dropDuplicates(leftId, rightId)
        } else {
        val s = saltFactor
        val cold = lp.join(broadcast(hotCells), Seq("__cell"), "left_anti")
          .join(r0.join(broadcast(hotCells), Seq("__cell"), "left_anti"), Seq("__cell"))
        val hot = lp.join(broadcast(hotCells), Seq("__cell"), "left_semi")
          .withColumn("__salt", pmod(hash(col(leftId)), lit(s)))
          .join(r0.join(broadcast(hotCells), Seq("__cell"), "left_semi")
            .withColumn("__salt", explode(sequence(lit(0), lit(s - 1)))),
            Seq("__cell", "__salt"))
          .drop("__salt")
        cold.unionByName(hot).where(envOverlap).dropDuplicates(leftId, rightId)
        }
      } else {
        l.join(r0, Seq("__cell"), "inner")
          .where(envOverlap)
          .dropDuplicates(leftId, rightId)
      }
    refined
      .where(call_function(s"st_$predicate", col(leftGeom), col(rightGeom)))
      .drop("__cell", "__envl", "__envr")
  }
}
