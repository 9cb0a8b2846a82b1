package graftbench

import graft.raster.{RasterPipeline, Rasterize, TileGrid, TileStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Envelope, Polygon}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Seeded inputs of the raster_tiles workload: polygons in clusters, one
  * per 150 m lattice slot and at most 65 m from its centre, so no two
  * overlap and the burn result does not depend on row order. Each cluster
  * sits at the centre of its own 10 km tile, and its first polygon straddles
  * the tile's west edge, so two tiles burn per cluster.
  *
  * The set of tiles is the same for every seed; the seed moves and shapes
  * the polygons. Most of the pipeline's work is per tile and the tile
  * shuffle is hash-partitioned on the tile ref, so a seeded tile set would
  * make the per-task balance, and so the pass time, jump between seeds.
  */
object RasterData {
  val Slot = 150.0
  val Clusters = 120
  val Sigma = 700.0
  private val TileLayout = 0x7a11L

  def polygons(seed: Long, n: Int): IndexedSeq[(Polygon, Int)] = {
    val s = seed * 131 + 17
    // distinct tiles in even columns: a west neighbour (odd column) never
    // holds another cluster
    val tiles = Iterator.from(0).map { c =>
      (2 + 2 * ((Rand.mix(TileLayout + 3L * c) >>> 1) % 34),
        1 + (Rand.mix(TileLayout + 3L * c + 1) >>> 1) % 128)
    }.distinct.take(math.min(Clusters, n)).toIndexedSeq
    val used = scala.collection.mutable.HashSet.empty[(Long, Long)]
    (0 until n).map { k =>
      val (tx, ty) = tiles(k % tiles.size)
      val (x0, y0) = (tx * 10000.0, ty * 10000.0)
      val r = 30.0 + 35.0 * Rand.u(s, k, 3)
      val centre =
        if (k < tiles.size) (x0, y0 + 5000.0) // the straddler, 5 km from any slot in use
        else {
          var attempt = 0
          var slot = (0L, 0L)
          do {
            // Box-Muller normal offsets
            val u1 = math.max(1e-12, Rand.u(s, k, 10 + 2 * attempt))
            val u2 = Rand.u(s, k, 11 + 2 * attempt)
            val rr = Sigma * math.sqrt(-2 * math.log(u1))
            slot = (math.floor((x0 + 5000.0 + rr * math.cos(2 * math.Pi * u2)) / Slot).toLong,
              math.floor((y0 + 5000.0 + rr * math.sin(2 * math.Pi * u2)) / Slot).toLong)
            attempt += 1
          } while (used.contains(slot))
          used += slot
          ((slot._1 + 0.5) * Slot, (slot._2 + 0.5) * Slot)
        }
      val poly = Shapes.star(centre._1, centre._2, r, 20, Rand.mix(s * 1000003L + k))
      (poly, 1 + ((Rand.mix(s + k) >>> 1) % 200).toInt)
    }
  }
}

/** The write-heavy path and its read-back: clustered polygons with one
  * numeric column -> RasterPipeline.toTileStore at 10 m cells on 10 km
  * tiles into a fresh store (stats job, tile shuffle, scanline burn, Zstd
  * region writes) -> RasterPipeline.fromTileStore into a noop sink.
  */
final class RasterTiles(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val nPolys: Int = if (ctx.tiny) 300 else 20000
  private val path = s"${ctx.work}/polygons"
  private var shapes: IndexedSeq[(Polygon, Int)] = _
  private var passNo = 0
  /** The last pass's store and metrics frame, kept for the checks. */
  private var lastStore: String = _
  private var lastMetrics: DataFrame = _

  def setup(): Unit = {
    shapes = RasterData.polygons(ctx.seed, nPolys)
    spark.createDataFrame(shapes.zipWithIndex.map { case ((p, v), i) =>
      (i.toLong, v, graft.geo.Wkb.write(p))
    }).toDF("poly_id", "value", "geometry")
      .repartition(8).write.mode("overwrite").parquet(path)
  }

  private def cells = 1000 // 10 km tile / 10 m cell

  def pass(label: String): Map[String, Double] = {
    val store = s"${ctx.work}/store-$passNo"
    passNo += 1
    val t0 = System.nanoTime()
    val metrics = ctx.section(s"$label/raster.to_tile_store") {
      RasterPipeline.toTileStore(spark.read.parquet(path), "geometry", Seq("value"), store,
        cellSize = 10.0, tileSize = 10000.0)
    }
    val t1 = System.nanoTime()
    ctx.section(s"$label/raster.readback") {
      ctx.noop(RasterPipeline.fromTileStore(spark, store, "value"))
    }
    val t2 = System.nanoTime()
    if (lastStore != null) deleteTree(Paths.get(lastStore))
    lastStore = store
    lastMetrics = metrics
    Map("burn" -> (t1 - t0) / 1e9, "readback" -> (t2 - t1) / 1e9)
  }

  def inputRows: Long = nPolys

  private def burnedCells: Long =
    lastMetrics.agg(sum(col("burned_cells"))).head().getLong(0)

  /** Tiles of the last pass by how many polygon rows they burned. */
  private def busiestTiles(k: Int): Seq[String] =
    lastMetrics.orderBy(col("n_rows").desc, col("tile")).limit(k).collect().map(_.getString(0)).toSeq

  /** Polygons whose envelope reaches the tile. */
  private def tileShapes(tile: String): Seq[(Polygon, Int)] = {
    val (minx, miny, maxx, maxy) = graft.index.Bng.bounds(tile)
    val env = new Envelope(minx, maxx, miny, maxy)
    shapes.filter(_._1.getEnvelopeInternal.intersects(env))
  }

  private def emptyGrid(tile: String, nodata: Double): TileGrid = {
    val (minx, miny, _, _) = graft.index.Bng.bounds(tile)
    Rasterize.empty(minx, miny, 10.0, cells, fill = nodata)
  }

  private def burn(grid: TileGrid, polys: Seq[(Polygon, Int)]): Unit =
    polys.foreach { case (p, v) => Rasterize.burnGeometry(grid, p, v.toDouble) }

  /** Direct scanline burn of every polygon that reaches the tile. */
  private def directBurn(tile: String, nodata: Double): TileGrid = {
    val grid = emptyGrid(tile, nodata)
    burn(grid, tileShapes(tile))
    grid
  }

  private def spec = new TileStore(lastStore).header.columns.head

  def checks(): Seq[Check] = {
    val burned = burnedCells
    val readBack = RasterPipeline.fromTileStore(spark, lastStore, "value").count()
    val tile = busiestTiles(1).head
    val sp = spec
    val stored = new TileStore(lastStore).readRegion(tile, "value", sp.dtype)
    val direct = directBurn(tile, sp.nodata).data
    val differ = direct.indices.count(i => direct(i) != stored(i))
    Seq(
      Check("readback_cells_eq_burned_cells", readBack == burned && burned > 0,
        s"$readBack read back, $burned burned"),
      Check("tile_eq_direct_burn", differ == 0 && stored.length == direct.length,
        s"tile $tile: $differ of ${direct.length} cells differ"))
  }

  def layers(ctx: Ctx, fullPass: String, warm: Map[String, Double]): Map[String, Double] = {
    val scan = ctx.tracer.span("input.scan")(
      Stats.medianSeconds(3)(ctx.section("input.scan/run")(ctx.noop(spark.read.parquet(path)))))
    val burnTag = s"$fullPass/raster.to_tile_store"
    val burnJobs = ctx.counters.totals(_ == burnTag)
    val readbackS = Stats.median(ctx.tracer.spans
      .filter(s => s.name.startsWith("traced.") && s.name.endsWith("/raster.readback")).map(_.seconds))

    val sp = spec
    val burned = burnedCells
    val files = Files.walk(Paths.get(lastStore)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val regions = files.filter(_.toString.endsWith(".bin"))
    val storeBytes = files.map(Files.size).sum

    // direct calls on the busiest tiles' grids
    val tiles = busiestTiles(8)
    val (burnNsPerCell, grids) = ctx.tracer.span("raster.direct_burn") {
      val polys = tileShapes(tiles.head)
      val g = emptyGrid(tiles.head, sp.nodata)
      // re-burning a grid does the same work, so the grid is made once
      val s = Stats.medianSeconds(5)(burn(g, polys))
      val n = g.data.count(d => d != sp.nodata)
      (s * 1e9 / math.max(1, n), tiles.map(t => t -> directBurn(t, sp.nodata)))
    }
    val direct = new TileStore(s"${ctx.work}/direct-store")
    val writeMs = ctx.tracer.span("raster.direct_region_write")(Stats.medianSeconds(3) {
      grids.foreach { case (t, g) => direct.writeRegion(t, "value", sp.dtype, g.data) }
    }) * 1e3 / grids.size
    val readMs = ctx.tracer.span("raster.direct_region_read")(Stats.medianSeconds(3) {
      grids.foreach { case (t, _) => direct.readRegion(t, "value", sp.dtype) }
    }) * 1e3 / grids.size

    Map(
      "input.scan_s" -> scan,
      "raster.stats_s" -> burnJobs.executions.headOption.getOrElse(0.0),
      "raster.burn_write_s" -> burnJobs.executions.drop(1).sum,
      "raster.burn_geoms_per_s" -> nPolys / warm("burn"),
      "raster.shuffle_write_bytes" -> burnJobs.shuffleWriteBytes.toDouble,
      "raster.burn_task_skew" -> burnJobs.taskSkew,
      "raster.burn_ns_per_cell" -> burnNsPerCell,
      "raster.region_write_ms" -> writeMs, "raster.region_read_ms" -> readMs,
      "raster.region_bytes" -> regions.map(Files.size).sum.toDouble,
      "raster.regions_written" -> regions.size.toDouble,
      "raster.readback_s" -> readbackS,
      "raster.readback_cells_per_s" -> burned / readbackS,
      "raster.store_bytes_per_cell" -> storeBytes.toDouble / burned,
      "raster.burned_cells" -> burned.toDouble)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
}
