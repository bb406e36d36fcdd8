package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.types.BinaryType

import graft.core.{Ccl, GeomIO, Scanline, TileMath, ZCell}
import graft.functions.{CellsCover, GeomPredicate}

/** Spark-free loop over the graft.core kernels behind the workloads, fed
  * from the same seeded generator (kernel_points / kernel_boxes). Each
  * kernel runs for a fixed time after a warm-up and reports ns/op with the
  * op count. The inputs are collected once; the loops never touch Spark. */
object Kernels {
  final case class Result(nsPerOp: Double, ops: Long)

  val names = Seq("geo_cell", "wkt_point", "pred_point", "cover", "intersects", "burn_runs", "ccl_label")

  def run(spark: SparkSession, in: java.nio.file.Path, budgetMs: Long): Map[String, Result] = {
    val pts = spark.read.parquet(in.resolve("kernel_points.parquet").toString)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val boxes = spark.read.parquet(in.resolve("kernel_boxes.parquet").toString)
      .collect().map(r => GeomIO.toWkb(GeomIO.fromWkt(r.getString(1))))
    val lon = pts.map(_._1); val lat = pts.map(_._2)
    val wkts = pts.map { case (x, y) => "POINT(%.10f %.10f)".formatLocal(java.util.Locale.ROOT, x, y) }
    var sink = 0L

    // the rasterize kernel input: every (box, zoom-4 tile) pair the box touches
    val z = 4
    val boxTiles = boxes.flatMap { wkb =>
      val g = GeomIO.fromWkb(wkb)
      val e = g.getEnvelopeInternal
      TileMath.geoCellsForEnvelope(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY, z).map(c => (g, c))
    }
    def burn(i: Int): Array[(Int, Int, Int)] = {
      val (g, c) = boxTiles(i % boxTiles.length)
      val (w, s, e, n) = TileMath.geoTileBounds(z, ZCell.tx(c), ZCell.ty(c))
      Scanline.burnRuns(g, w, n, (e - w) / 64, (n - s) / 64, 64, 64)
    }
    // the CCL kernel input: each touched tile's burned mask
    val masks = boxTiles.indices.map { i =>
      val m = new Array[Boolean](64 * 64)
      burn(i).foreach { case (py, xs, xe) => var x = xs; while (x < xe) { m(py * 64 + x) = true; x += 1 } }
      m
    }.toArray
    val ones = Array.fill(64 * 64)(1.0)

    val cover = CellsCover(BoundReference(0, BinaryType, nullable = false), Literal(7))
    val inter = GeomPredicate(BoundReference(0, BinaryType, nullable = false),
      BoundReference(1, BinaryType, nullable = false), "intersects")

    val ops: Map[String, Int => Unit] = Map(
      "geo_cell" -> (i => sink += TileMath.geoCell(lon(i % lon.length), lat(i % lat.length), 12)),
      "wkt_point" -> (i => sink += GeomIO.fromWkt(wkts(i % wkts.length)).getNumPoints),
      "pred_point" -> (i => if (GeomIO.predPoint(0, boxes(i % boxes.length), lon(i % lon.length), lat(i % lat.length))) sink += 1),
      "cover" -> (i => sink += cover.eval(InternalRow(boxes(i % boxes.length)))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].numElements()),
      "intersects" -> { i =>
        val a = boxes(i % boxes.length); val b = boxes((i / boxes.length + i) % boxes.length)
        if (inter.eval(InternalRow(a, b)).asInstanceOf[Boolean]) sink += 1
      },
      "burn_runs" -> (i => sink += burn(i).length),
      "ccl_label" -> (i => sink += Ccl.labelLocal(ones, masks(i % masks.length), 64, 64)(0)))

    val res = names.map { n =>
      val f = ops(n)
      loop(f, budgetMs / 2)
      n -> loop(f, budgetMs)
    }.toMap
    if (sink == 42) println("") // keeps the JIT from discarding the loops
    res
  }

  /** Run `f` in batches until `budgetMs` has passed. */
  private def loop(f: Int => Unit, budgetMs: Long): Result = {
    val t0 = System.nanoTime()
    val deadline = t0 + budgetMs * 1000000L
    var i = 0
    var now = t0
    while (now < deadline) {
      var j = 0
      while (j < 256) { f(i); i += 1; j += 1 }
      now = System.nanoTime()
    }
    Result((now - t0).toDouble / i, i.toLong)
  }
}
