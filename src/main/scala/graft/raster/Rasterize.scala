package graft.raster

import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryCollection, LineString, Point, Polygon}

/** Placement of a `cells x cells` tile raster: its min corner, cell size
  * and edge in cells, with row 0 at the tile's TOP (max northing),
  * matching the reference's north-up canvas (`_dataframe.py:536-539`:
  * dims ("northings","eastings"), y descending).
  */
final case class TileFrame(minx: Double, miny: Double, cellSize: Double, cells: Int) {
  def maxy: Double = miny + cells * cellSize
  def idx(row: Int, col: Int): Int = row * cells + col
  /** Column of an x coordinate; -1 if outside. */
  def colOf(x: Double): Int = {
    val c = math.floor((x - minx) / cellSize).toInt
    if (c < 0 || c >= cells) -1 else c
  }
  /** Row of a y coordinate (row 0 = top); -1 if outside. Cells are
    * half-open [y0, y0 + cellSize) so the tile's min edge is inside and
    * its max edge belongs to the next tile.
    */
  def rowOf(y: Double): Int = {
    val up = math.floor((y - miny) / cellSize).toInt
    if (up < 0 || up >= cells) -1 else cells - 1 - up
  }
}

/** In-memory tile raster: `cells x cells` doubles in row-major order over
  * the [[TileFrame]] of the same fields.
  */
final case class TileGrid(
    minx: Double, miny: Double, cellSize: Double, cells: Int,
    data: Array[Double]) {
  val frame: TileFrame = TileFrame(minx, miny, cellSize, cells)
  def maxy: Double = frame.maxy
  def idx(row: Int, col: Int): Int = frame.idx(row, col)
  def colOf(x: Double): Int = frame.colOf(x)
  def rowOf(y: Double): Int = frame.rowOf(y)
}

/** A geometry's burned cells as row spans, filled by [[Rasterize.spans]]:
  * span `k` covers columns `c0(k) until c1(k)` of row `row(k)`, all
  * inside the tile. A cell may lie in more than one span (overlapping
  * members, a line revisiting a cell). One buffer is reused across
  * geometries; each fill clears it.
  */
final class Spans {
  private var buf = new Array[Int](3 * 64)
  private var n = 0
  def size: Int = n
  def row(k: Int): Int = buf(3 * k)
  def c0(k: Int): Int = buf(3 * k + 1)
  def c1(k: Int): Int = buf(3 * k + 2)
  private[raster] def clear(): Unit = n = 0
  private[raster] def add(row: Int, c0: Int, c1: Int): Unit = {
    if (3 * n == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * buf.length)
    buf(3 * n) = row; buf(3 * n + 1) = c0; buf(3 * n + 2) = c1
    n += 1
  }
}

/** Scanline rasterization — the JVM rebuild of the reference's rasterio
  * `features.rasterize` / `geometry_mask` kernels
  * (`_dataframe.py:624-654`, `_vector.py:198-308`).
  *
  * Semantics pinned to rasterio defaults so the reference's golden arrays
  * reproduce:
  *  - a cell is burned iff its CENTER is inside the polygon
  *    (center-sampling, GDAL all_touched=False);
  *  - geometries burn in the order they are given and the LAST write
  *    wins on overlap (`RasterPipeline.toTileStore` documents which
  *    order its rows reach the burn in);
  *  - empty geometries / empty tiles short-circuit
  *    (`_vector.py:218-227, 279-285`).
  *
  * There is one scanline, [[spans]]: it yields a geometry's burned cells
  * as row spans (after Raptor's pixel runs, VLDB 2019), so a burn costs
  * per burned run and never per tile cell. [[burnGeometry]] fills a
  * double grid from those spans, and `RasterPipeline.toTileStore`
  * writes them straight into a region's dtype bytes.
  */
object Rasterize {

  def empty(minx: Double, miny: Double, cellSize: Double, cells: Int,
      fill: Double): TileGrid = {
    val data = new Array[Double](cells * cells)
    java.util.Arrays.fill(data, fill)
    TileGrid(minx, miny, cellSize, cells, data)
  }

  /** Burn a point's cell (points: center-sampling degenerates to "the cell
    * containing the point"; boundary points on the max edge belong to the
    * next cell and so fall outside this tile — half-open cells).
    */
  def burnPoint(grid: TileGrid, x: Double, y: Double, value: Double): Boolean = {
    val c = grid.colOf(x)
    val r = grid.rowOf(y)
    if (c < 0 || r < 0) false
    else { grid.data(grid.idx(r, c)) = value; true }
  }

  /** Burn any JTS geometry with `value` (see [[spans]] for which cells). */
  def burnGeometry(grid: TileGrid, geom: Geometry, value: Double): Unit = {
    val s = spans(grid.frame, geom, new Spans)
    var k = 0
    while (k < s.size) {
      java.util.Arrays.fill(grid.data, grid.idx(s.row(k), s.c0(k)), grid.idx(s.row(k), s.c1(k)), value)
      k += 1
    }
  }

  /** The cells of `frame` that `geom` burns, as row spans in `out`
    * (cleared first, and returned). Polygons (incl. holes) use an
    * even-odd scanline at cell centers; lines burn the cells their
    * half-cell samples fall in; points burn their containing cell;
    * collections burn each member in order.
    */
  def spans(frame: TileFrame, geom: Geometry, out: Spans): Spans = {
    out.clear()
    emit(frame, geom, out)
    out
  }

  private def emit(frame: TileFrame, geom: Geometry, out: Spans): Unit =
    if (geom != null && !geom.isEmpty) geom match {
      case p: Polygon => polygonSpans(frame, p, out)
      case l: LineString => lineSpans(frame, l, out)
      case pt: Point => cellSpan(frame, pt.getX, pt.getY, out)
      case coll: GeometryCollection =>
        var i = 0
        while (i < coll.getNumGeometries) {
          emit(frame, coll.getGeometryN(i), out); i += 1
        }
    }

  private def cellSpan(f: TileFrame, x: Double, y: Double, out: Spans): Unit = {
    val c = f.colOf(x)
    val r = f.rowOf(y)
    if (c >= 0 && r >= 0) out.add(r, c, c + 1)
  }

  /** Even-odd scanline fill at cell centers (rasterio/GDAL semantics). */
  private def polygonSpans(f: TileFrame, poly: Polygon, out: Spans): Unit = {
    val env = poly.getEnvelopeInternal
    // Candidate row range: rows whose center-y lies within the envelope.
    val rLo = math.max(0, math.floor((f.maxy - env.getMaxY) / f.cellSize - 0.5).toInt)
    val rHi = math.min(f.cells - 1, math.ceil((f.maxy - env.getMinY) / f.cellSize - 0.5).toInt)
    if (rLo > rHi) return
    // All rings: shell + holes (even-odd rule handles both uniformly).
    val rings = new Array[Array[Coordinate]](poly.getNumInteriorRing + 1)
    rings(0) = poly.getExteriorRing.getCoordinates
    var h = 1
    while (h < rings.length) {
      rings(h) = poly.getInteriorRingN(h - 1).getCoordinates; h += 1
    }
    var xs = new Array[Double](8)
    var r = rLo
    while (r <= rHi) {
      val cy = f.maxy - (r + 0.5) * f.cellSize
      // Gather x-intersections of the scanline y=cy with every ring edge.
      var n = 0
      var ri = 0
      while (ri < rings.length) {
        val cs = rings(ri)
        var i = 0
        while (i < cs.length - 1) {
          val y1 = cs(i).y; val y2 = cs(i + 1).y
          // Half-open edge rule [min, max) avoids double-counting vertices.
          if ((y1 <= cy && cy < y2) || (y2 <= cy && cy < y1)) {
            val t = (cy - y1) / (y2 - y1)
            if (n == xs.length) xs = java.util.Arrays.copyOf(xs, 2 * n)
            xs(n) = cs(i).x + t * (cs(i + 1).x - cs(i).x)
            n += 1
          }
          i += 1
        }
        ri += 1
      }
      java.util.Arrays.sort(xs, 0, n)
      var k = 0
      while (k + 1 < n) {
        // Cells whose center-x lies in [xs(k), xs(k + 1)).
        val cLo = math.max(0, math.ceil((xs(k) - f.minx) / f.cellSize - 0.5).toInt)
        val cEnd = math.min(f.cells, math.ceil((xs(k + 1) - f.minx) / f.cellSize - 0.5).toInt)
        if (cLo < cEnd) out.add(r, cLo, cEnd)
        k += 2
      }
      r += 1
    }
  }

  /** Rasterize a line: the cells of samples taken at half-cell steps
    * along each segment (simple dense sampling — lines are rare in this
    * workload; exactness is pinned by tests only for polygons/points).
    */
  private def lineSpans(f: TileFrame, line: LineString, out: Spans): Unit = {
    val cs = line.getCoordinates
    var i = 0
    while (i < cs.length - 1) {
      val x1 = cs(i).x; val y1 = cs(i).y
      val x2 = cs(i + 1).x; val y2 = cs(i + 1).y
      val len = math.hypot(x2 - x1, y2 - y1)
      val steps = math.max(1, math.ceil(len / (f.cellSize * 0.5)).toInt)
      var s = 0
      while (s <= steps) {
        val t = s.toDouble / steps
        cellSpan(f, x1 + t * (x2 - x1), y1 + t * (y2 - y1), out)
        s += 1
      }
      i += 1
    }
  }

  /** Region placement math — the reference's `_dataframe.py:662-672`:
    * global-canvas row/col slice of a tile given the full-canvas extent.
    * Returns (rowStart, rowEnd, colStart, colEnd), rows from the TOP of
    * the canvas, end-exclusive.
    */
  def regionSlice(tileMinx: Double, tileMiny: Double, tileMaxx: Double,
      tileMaxy: Double, canvasMaxy: Double, cellSize: Double)
      : (Int, Int, Int, Int) = {
    val rowStart = math.round((canvasMaxy - tileMaxy) / cellSize).toInt
    val rowEnd = math.round((canvasMaxy - tileMiny) / cellSize).toInt
    val colStart = math.round(tileMinx / cellSize).toInt
    val colEnd = math.round(tileMaxx / cellSize).toInt
    (rowStart, rowEnd, colStart, colEnd)
  }
}
