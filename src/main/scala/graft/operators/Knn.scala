package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.F

/** Distributed k-nearest-neighbor via cell-ring expansion + secondary sort
  * (SURVEY.md §3.3 J4), re-expressing the reference's nearest-neighbor
  * scatter search (reference: alg/gdalgrid.cpp :: GDALGridNearestNeighbor
  * — radius search ellipse; alg/gdalproximity.cpp :: GDALComputeProximity
  * — ring-by-ring neighborhood walk).
  *
  * Algorithm: one lazy plan, no driver round-trip. A count pyramid (points
  * per cell at every zoom 0..zoom; cell ids carry their zoom, so one Long
  * column keys every level) fixes each query's search level `l`: the
  * finest zoom whose planar 3×3 block around the query's ancestor cell
  * holds ≥ k points (0 when no zoom does, i.e. the corpus has fewer than
  * k points — the zoom-0 block is the whole grid). The query then
  * explodes cell_disk(ancestor at l, 3), equi-joins the points keyed by
  * their ancestor cell at each zoom, and ranks candidates per query by
  * (dist, pt_id) — secondary sort.
  *
  * Exactness (Chebyshev argument, s_l = cell size at zoom l): every point
  * of the block lies within 2·s_l of the query on each axis, so the k-th
  * distance is at most 2√2·s_l; every point outside the radius-3 disk is
  * at least 3·s_l away on one axis. The disk therefore holds the k nearest
  * points and every tie at the k-th distance. The block drops columns that
  * wrap the antimeridian (they are not planar-near); the disk keeps them,
  * since a wrapped cell only adds candidates. Each query joins a bounded
  * 7×7 disk of cells at its own level, never the whole grid.
  *
  * Distance: planar euclidean in lon/lat degrees (documented; ties broken
  * by pt_id ascending — FIXTURES.md golden_knn rule).
  */
object Knn {

  def knn(queries: DataFrame, qId: String, qLon: String, qLat: String,
          points: DataFrame, pId: String, pLon: String, pLat: String,
          k: Int, zoom: Int): DataFrame = {
    F.ensureRegistered(queries.sparkSession)
    val zs = 0 to zoom
    def ancestors(cell: Column): Column =
      explode(array(zs.map(z => F.cell_at_zoom(cell, lit(z))): _*))

    val qs = queries.select(
      col(qId).as("__qid"), col(qLon).as("__qlon"), col(qLat).as("__qlat"),
      F.cell_encode(col(qLon), col(qLat), lit(zoom)).as("__qcell"))
    // every point once per zoom, keyed by its ancestor cell at that zoom
    val pts = points.select(
      col(pId).as("__pid"), col(pLon).as("__plon"), col(pLat).as("__plat"),
      F.cell_encode(col(pLon), col(pLat), lit(zoom)).as("__pcell"))
      .select(col("__pid"), col("__plon"), col("__plat"),
        ancestors(col("__pcell")).as("__cell"))
    val pyramid = pts.groupBy("__cell").agg(count(lit(1)).as("__n"))

    // One aggregate per query: the points in its 3×3 block at each zoom,
    // and the finest zoom whose block holds ≥ k. Single-Long join keys and
    // broadcast sides keep one hash map or sort per task.
    val level = qs
      .withColumn("__anc", ancestors(col("__qcell")))
      .withColumn("__cell", explode(F.cell_disk(col("__anc"), lit(1))))
      .where(abs(F.cell_tx(col("__cell")) - F.cell_tx(col("__anc"))) <= 1)
      .join(broadcast(pyramid), "__cell")
      .groupBy("__qid", "__qlon", "__qlat", "__qcell")
      .agg(greatest(lit(0) +: zs.map(z => when(
        sum(when(F.cell_zoom(col("__cell")) === z, col("__n"))) >= k, lit(z))): _*)
        .as("__l"))

    val dist2 = (col("__plon") - col("__qlon")) * (col("__plon") - col("__qlon")) +
      (col("__plat") - col("__qlat")) * (col("__plat") - col("__qlat"))
    val w = Window.partitionBy(col("__qid")).orderBy(col("__dist2"), col("__pid"))
    broadcast(level.withColumn("__cell", explode(
        F.cell_disk(F.cell_at_zoom(col("__qcell"), col("__l")), lit(3)))))
      .join(pts, "__cell")
      .withColumn("__dist2", dist2)
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
      .select(col("__qid").as(qId), col("__pid").as(pId),
        sqrt(col("__dist2")).as("dist"), col("__rank").as("rank"))
  }
}
