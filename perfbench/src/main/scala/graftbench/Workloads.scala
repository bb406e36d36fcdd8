package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.F
import graft.io.CatalogIO
import graft.operators.{Knn, Polygonize, Raster, SpatialJoin}

/** Row count plus an order-independent sum of row hashes. */
final case class Sig(rows: Long, hash: Long) {
  override def toString: String = s"$rows:$hash"
}

object Sig {
  def parse(s: String): Sig = { val Array(n, h) = s.split(":"); Sig(n.toLong, h.toLong) }

  /** The signature of every row of `df`, computed on the executed plan of
    * `df` itself (so a plan forced beforehand is reused, as Bench's
    * `toRdd.count()` does). */
  def of(df: DataFrame): Sig = {
    val conv = df.schema.fields.map(f => RowHash.field(f.dataType))
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var h = 0L
      val vals = new Array[Long](conv.length)
      it.foreach { r =>
        var i = 0
        while (i < conv.length) { vals(i) = conv(i)(r, i); i += 1 }
        n += 1; h += RowHash(vals)
      }
      Iterator((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) } match {
      case (n, h) => Sig(n, h)
    }
  }
}

/** The row hash of gen.py's `row_hash_sql`, over non-negative longs:
  * x = (sum_i (c_i mod P) * K_i) mod P, h = (x*x + x) mod P. */
object RowHash {
  private val P = 2147483647L
  private val K = Array(1000003L, 999983L, 999979L, 999961L, 999959L, 999953L, 999931L, 999917L)

  def apply(cols: Array[Long]): Long = {
    var lin = 0L
    var i = 0
    while (i < cols.length) { lin += (cols(i) % P) * K(i); i += 1 }
    val x = lin % P
    (x * x + x) % P
  }

  /** Column value as the oracle's BIGINT: integers as they are, doubles
    * (exact areas on the 2^-12 grid) scaled by 2^24, ids like "doc-000000042"
    * by their digits. */
  def field(t: DataType): (InternalRow, Int) => Long = t match {
    case IntegerType => (r, i) => r.getInt(i).toLong
    case LongType => (r, i) => r.getLong(i)
    case DoubleType => (r, i) => (r.getDouble(i) * 16777216.0).toLong
    case StringType => (r, i) => { val s = r.getUTF8String(i).toString; s.substring(s.lastIndexOf('-') + 1).toLong }
    case other => throw new IllegalArgumentException(s"no row hash for $other")
  }
}

/** What one workload needs from the run: the session, its generated
  * inputs and a scratch directory for commits. */
final case class Ctx(spark: SparkSession, in: Path, work: Path) {
  def read(name: String): DataFrame = spark.read.parquet(in.resolve(name).toString)
  def commitRoot(iter: Int): Path = work.resolve("commits").resolve(s"it$iter")
}

/** One benchmark workload. `run` is one closed-loop iteration: the operator
  * call(s), a forced plan (traced pass only), and the action or commit. It
  * returns the check to run once the iteration's clock has stopped. */
trait Workload {
  def name: String
  /** Columns of the id-pair dropDuplicates, if the workload has one. */
  def dedupKeys: Seq[String] = Nil
  def run(c: Ctx, t: Tracer, iter: Int): () => Sig
  /** The functions.project_s job, where the workload has docs. */
  def project(c: Ctx): Option[() => Unit] = None

  protected def plan(t: Tracer, df: DataFrame): Unit =
    if (t.enabled) t.span("plan") { df.queryExecution.executedPlan }: Unit

  /** The action of a workload without a write: the signature of `df`,
    * computed on its own executed plan. That is an RDD action, which no
    * QueryExecutionListener sees, so the plan is handed to the tracer. */
  protected def signatureAction(t: Tracer, df: DataFrame): () => Sig = {
    val sig = t.span("action") { Sig.of(df) }
    if (t.enabled) t.executed += df.queryExecution
    () => sig
  }
}

object Workloads {
  val all: Map[String, Workload] = Seq(PipDocs, GeomSelfJoin, KnnRing, RasterTiles).map(w => w.name -> w).toMap

  def readBack(c: Ctx, iter: Int, stage: String, cols: Seq[String]): Sig =
    Sig.of(c.spark.read.parquet(c.commitRoot(iter).resolve("bench").resolve(stage).resolve("data").toString)
      .select(cols.map(col): _*))
}

/** Interleaved docs → posexplode → st_geomfromwkt → adaptive point-in-polygon
  * → zoom-12 tile → commitStage. */
object PipDocs extends Workload {
  val name = "pip_docs"

  private def points(c: Ctx): DataFrame =
    c.read("docs").select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .where(col("span.kind") === "text")
      .withColumn("g", F.st_geomfromwkt(col("span.text")))
      .select(col("doc_id"), col("pos"), F.st_x(col("g")).as("lon"), F.st_y(col("g")).as("lat"))

  def run(c: Ctx, t: Tracer, iter: Int): () => Sig = {
    val regions = c.read("regions.parquet").withColumn("geom", F.st_geomfromwkt(col("wkt")))
    val joined = t.span("operator.pointInPolygonAdaptive") {
      SpatialJoin.pointInPolygonAdaptive(regions, "geom", points(c), "lon", "lat",
        zoom = 7, saltFactor = 8, hotThreshold = 1000L)
    }
    val cell = F.cell_encode(col("lon"), col("lat"), lit(12))
    val out = joined.select(col("doc_id"), col("pos"), col("region_id"),
      F.cell_tx(cell).as("tile_x"), F.cell_ty(cell).as("tile_y"))
    plan(t, out)
    val root = c.commitRoot(iter).toString
    t.span("action") { t.span("io.commitStage") { CatalogIO.commitStage(c.spark, out, root, "bench", "pip") } }
    () => Workloads.readBack(c, iter, "pip", Seq("doc_id", "pos", "region_id", "tile_x", "tile_y"))
  }

  override def project(c: Ctx): Option[() => Unit] = Some { () =>
    c.read("docs").select(posexplode(col("spans")).as(Seq("pos", "span")))
      .where(col("span.kind") === "text")
      .withColumn("g", F.st_geomfromwkt(col("span.text")))
      .select(F.st_x(col("g")).as("x"), F.st_y(col("g")).as("y"))
      .select(col("x"), col("y"), F.cell_encode(col("x"), col("y"), lit(12)).as("cell"))
      .write.format("noop").mode("overwrite").save()
  }
}

/** Polygon × polygon intersects self-join with the intersection area,
  * reduced to a signature without a write. */
object GeomSelfJoin extends Workload {
  val name = "geom_selfjoin"
  override val dedupKeys = Seq("id_a", "id_b")

  def run(c: Ctx, t: Tracer, iter: Int): () => Sig = {
    val regions = c.read("regions.parquet").withColumn("g", F.st_geomfromwkt(col("wkt")))
    val pairs = t.span("operator.geomSelfJoin") {
      SpatialJoin.geomSelfJoin(regions, "region_id", "g", "id_a", "ga", "id_b", "gb",
        zoom = 7, saltFactor = 8, hotThreshold = 100000L)
    }
    val out = pairs.where(col("id_a") < col("id_b"))
      .select(col("id_a").cast("long"), col("id_b").cast("long"),
        F.st_area(F.st_intersection(col("ga"), col("gb"))).as("inter_area"))
    plan(t, out)
    signatureAction(t, out)
  }
}

/** Ring-expanding kNN (k = 5) of seeded query points over clustered points. */
object KnnRing extends Workload {
  val name = "knn_ring"

  def run(c: Ctx, t: Tracer, iter: Int): () => Sig = {
    val res = t.span("operator.knn") {
      Knn.knn(c.read("queries.parquet"), "q_id", "lon", "lat",
        c.read("points"), "pt_id", "lon", "lat", k = 5, zoom = 7)
    }
    val out = res.select(col("q_id"), col("pt_id"), col("rank").cast("long"))
    plan(t, out)
    signatureAction(t, out)
  }
}

/** Boxes → rasterize (zoom 4) → polygonize components → commitPartitioned
  * by latitude band. */
object RasterTiles extends Workload {
  val name = "raster_tiles"
  private val Zoom = 4
  private val GridW = 64L << (Zoom + 1)
  private val GridH = 64L << Zoom
  private val burned: Double => Boolean = _ > 0.5
  private val oneDn: Double => Double = _ => 1.0

  def run(c: Ctx, t: Tracer, iter: Int): () => Sig = {
    val geoms = c.read("regions.parquet")
      .select(col("region_id"), F.st_geomfromwkt(col("wkt")).as("geom"), lit(1.0).as("burn"))
    val tiles = t.span("operator.rasterize") { Raster.rasterize(geoms, "geom", "burn", zoom = Zoom, mode = "max") }
    val comps = t.span("operator.components") {
      Polygonize.components(tiles, 64, 64, GridW, GridH, burned, oneDn)
    }
    val out = comps.withColumn("band", expr(s"min_gy * 8 div $GridH"))
    plan(t, out)
    val root = c.commitRoot(iter).toString
    t.span("action") {
      t.span("io.commitPartitioned") { CatalogIO.commitPartitioned(c.spark, out, root, "bench", "comps", "band") }
    }
    () => Workloads.readBack(c, iter, "comps",
      Seq("label", "n_pixels", "min_gx", "max_gx", "min_gy", "max_gy", "band"))
  }
}

object Dirs {
  /** Bytes in the regular files under `p` that `keep` accepts. */
  def size(p: Path, keep: Path => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && keep(f)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Delete everything under `p`, keeping `p` itself. */
  def clear(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => if (f != p) Files.delete(f))
    finally s.close()
  }
}
