package graft.raster

import graft.core.Constants
import graft.index.IndexExpressions._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String

/** The reference's `DataFrameWrapper.to_zarr` (`dataframe.py:415-543`,
  * `_dataframe.py:401-673`) as a Spark-first distributed pipeline:
  *
  *   1. validate: string columns must be categorized first (error,
  *      `dataframe.py:491-496`); mask mode when no columns.
  *   2. ONE stats job for every column's (min, max) — the reference runs
  *      several driver round-trips per column (A3/A4); we collapse them.
  *   3. dtype/nodata ladder per column (Constants, `_dataframe.py:207-268,
  *      361-398`), skeleton header write (K1) with lookup/nodata attrs.
  *   4. shuffle by tile (cell-indexed explode — U4's groupby; an ordered
  *      burn salts hot tiles, see [[RasterPipeline.toTileStore]]);
  *      per-tile scanline rasterize (R1) with geometry clipped to the
  *      tile implicitly by grid bounds (R3); executor-local region write
  *      (K2), metrics row out.
  *
  * One mandatory shuffle; tile writes idempotent; resume via SnapshotLog.
  */
object RasterPipeline {

  /** @param df          rows with a WKB `geometryCol` + value columns
    * @param columns     numeric columns to burn (empty => 0/1 mask like
    *                    the reference's mask path `_dataframe.py:431-435`)
    * @param lookups     categorize lookups to stamp into attrs
    * @param cellSize    raster cell size (reference: 10 m)
    * @param tileSize    tile edge (reference: 100 km; north rule: 10 km)
    * @param orderCol    a long-castable column ordering overlapping rows
    *                    (null sorts first); see "Overlap order"
    * @param targetRowsPerTask with `orderCol`, a tile of more rows is
    *                    burned by ceil(rows / target) salted tasks (north
    *                    rule: "skew handled by salted repartitioning on
    *                    hot cells"); unused without `orderCol`
    * @return metrics DataFrame (tile, column, burned_cells, n_rows),
    *         collected: no persisted RDD is left behind
    *
    * The write follows the burned cells. Tile assignment is
    * `bng_index(.., "interior")`, which settles a polygon lying in one
    * tile without a JTS relate. Each burn task keeps one dtype-width
    * little-endian buffer per column ([[RegionBytes]]); per tile it
    * fills it with nodata, writes each row's [[Rasterize.spans]]
    * straight into the buffers (null values are coalesced to nodata, so
    * a null row overwrites with nodata) and hands the bytes to the
    * region write. burned_cells is counted as cells are written, exact
    * under overwrites. Stored bytes equal [[TileStore.writeRegion]] of
    * the [[Rasterize.burnGeometry]] grid (a NaN value under a NaN
    * sentinel is stored as the sentinel's NaN). Points burn their
    * half-open cell, so point data goes in as WKB points.
    *
    * Overlap order: where rows burn the same cell, the last row its burn
    * task sees wins. Without `orderCol` that is shuffle arrival order,
    * fixed for a given input on one local executor but not on a
    * multi-executor cluster. With `orderCol` each task sorts its rows by
    * (tile, salt, order, values), values after the null -> nodata
    * coalesce and compared as Spark sorts doubles, so the (order, values)
    * max wins each cell at any salting: the sequential burn in that
    * order. Only tiles over `targetRowsPerTask` rows are salted; their
    * tasks emit sparse partials (the cells they burned, each with its
    * winner's order and values, nodata included) that one
    * `groupByKey(tile)` merges by the same comparison before the region
    * write, n_rows summed. Without `orderCol` there is no salting
    * pre-pass and no merge stage.
    */
  def toTileStore(
      df: DataFrame, geometryCol: String, columns: Seq[String],
      path: String,
      lookups: Map[String, String] = Map.empty,
      cellSize: Double = Constants.CellSize.toDouble,
      tileSize: Double = Constants.TileSize10k.toDouble,
      canvasMaxX: Double = Constants.BngXMax.toDouble,
      canvasMaxY: Double = Constants.BngYMax.toDouble,
      overwrite: Boolean = false,
      resume: Boolean = false,
      orderCol: Option[String] = None,
      targetRowsPerTask: Long = 1000000L): DataFrame = {

    val spark = df.sparkSession
    import spark.implicits._

    // 1. validation — strings must be categorized (reference error text)
    val schema = df.schema
    columns.foreach { c =>
      val dt = schema(c).dataType.typeName
      if (dt == "string")
        throw new IllegalArgumentException(
          s"Column '$c' is of StringType: categorize it before rasterizing " +
            "(reference dataframe.py:491-496)")
    }

    // 2. single stats job for all columns
    val maskMode = columns.isEmpty
    val specs: Seq[ColumnSpec] =
      if (maskMode) Seq(ColumnSpec("mask", "uint8", 0d, None))
      else {
        val aggs = columns.flatMap(c =>
          Seq(min(col(c)).cast("double").as(s"__min_$c"),
            max(col(c)).cast("double").as(s"__max_$c")))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        columns.zipWithIndex.map { case (c, i) =>
          val lo = Option(row.get(2 * i)).map(_.asInstanceOf[Double]).getOrElse(0d)
          val hi = Option(row.get(2 * i + 1)).map(_.asInstanceOf[Double]).getOrElse(0d)
          val (dtype, nodata) = Constants.dtypeAndNodata(lo, hi)
          ColumnSpec(c, dtype, nodata,
            lookups.get(c).map(l => injectNodata(l, nodata)))
        }
      }

    // 3. skeleton (driver); on resume, keep the existing store and skip
    //    tiles whose every column region already landed (idempotent
    //    region files make replaying an interrupted run safe).
    val store = new TileStore(path)
    val doneTiles: Set[String] =
      if (resume && store.exists)
        store.completeTiles(specs.map(_.name)).toSet
      else {
        store.init(StoreHeader("EPSG:27700", cellSize, 0d, 0d, canvasMaxX,
          canvasMaxY, tileSize, specs,
          Map("engine" -> "graft", "maskMode" -> maskMode.toString)), overwrite)
        Set.empty
      }

    // 4. shuffle by tile + rasterize + region write
    val tileCells = math.round(tileSize / cellSize).toInt
    val valueCols =
      if (maskMode) Seq(lit(1.0))
      else specs.map(s => coalesce(col(s.name).cast("double"), lit(s.nodata)))
    val preparedAll = df.select(Seq(
        explode(bng_index(col(geometryCol), tileSize.toLong, "interior")).as("__tile"),
        col(geometryCol).as("__geom"),
        array(valueCols: _*).as("__vals")) ++
      orderCol.map(o => coalesce(col(o).cast("long"), lit(Long.MinValue)).as("__ord")): _*)
    val prepared = if (doneTiles.isEmpty) preparedAll
      else preparedAll.filter(!col("__tile").isInCollection(doneTiles))

    val burner = new TileBurner(path, specs, cellSize, tileCells)
    val metrics = orderCol match {
      case None =>
        // HASH-partitioned shuffle on the tile key + sortWithinPartitions:
        // each task streams ordered runs of tile rows through the burn —
        // no per-group buffering, bounded memory per task regardless of
        // tile size. Hash, not range: the burn only needs tile-locality
        // plus intra-partition order, and range partitioning paid a whole
        // extra evaluation of the prepared subtree for its boundary
        // sampling. A hot tile occupies one task.
        prepared
          .repartition(col("__tile"))
          .sortWithinPartitions(col("__tile"))
          .as[(String, Array[Byte], Array[Double])]
          .mapPartitions { rows =>
            burner.burn(rows.map { case (tile, geom, vals) => (tile, 0, geom, vals, 0L) })
              .flatMap(burner.metrics)
          }
      case Some(_) =>
        // Salt entropy is the geometry, so rows sharing an order still
        // spread over a hot tile's tasks.
        graft.ops.Salting.withSalt(prepared, "__tile", "__geom", targetRowsPerTask)
          .repartition(col("__tile"), col("__salt__"))
          .sortWithinPartitions(col("__tile"), col("__salt__"), col("__ord"), col("__vals"))
          .select(col("__tile"), col("__salt__"), col("__geom"), col("__vals"), col("__ord"))
          .as[(String, Int, Array[Byte], Array[Double], Long)]
          .mapPartitions(rows => burner.burn(rows))
          .groupByKey(_.tile)
          .flatMapGroups((_, parts) => burner.merge(parts))
    }
    // Sinks execute eagerly (the reference forces the grouped-map with a
    // noop sink, dataframe.py:540-543); the collected frame also keeps
    // downstream reuse from re-running the side-effecting writes.
    collected(metrics.toDF("tile", "column", "burned_cells", "n_rows"))
  }

  /** `df` run once and returned as a local frame of its rows (same
    * column names and types): the writers' small metrics frames, with no
    * persisted or checkpointed RDD left behind.
    */
  private def collected(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Raster -> vector: read a TileStore column back as one row per
    * non-nodata cell with its box geometry — the inverse direction of
    * the raster<->vector materialization pair. A [[CellScan]]: the tiles
    * are the input partitions (one job, no exchange), each decodes only
    * its region's burned cells ([[TileStore.readCells]]) and writes their
    * rows and box WKB directly, so the cost follows the burned cells,
    * not the tile area. A region that does not hold tileCells^2 cells
    * fails the task with the tile's name.
    */
  def fromTileStore(spark: org.apache.spark.sql.SparkSession, path: String,
      column: String): DataFrame = {
    val store = new TileStore(path)
    val h = store.header
    val spec = h.columns.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no column $column in $path"))
    val tileCells = math.round(h.tileSize / h.cellSize).toInt
    val cellSize = h.cellSize
    val schema = StructType.fromDDL("tile STRING, cell_e BIGINT NOT NULL, " +
      "cell_n BIGINT NOT NULL, value DOUBLE NOT NULL, geometry BINARY")
    CellScan.frame(spark, store.tiles(), schema) { refs =>
      val out = new CellRows(5)
      val st = new TileStore(path)
      refs.flatMap { ref =>
        val cells = st.readCells(ref, column, spec.dtype, spec.nodata, tileCells * tileCells)
        val tile = UTF8String.fromString(ref)
        val (minx, _, _, maxy) = graft.index.Bng.bounds(ref)
        out.rows(cells.size) { k =>
          val cellMinX = minx + cells.index(k) % tileCells * cellSize
          val cellMaxY = maxy - cells.index(k) / tileCells * cellSize
          out.row.write(0, tile)
          out.row.write(1, (cellMinX / cellSize).toLong)
          out.row.write(2, ((cellMaxY - cellSize) / cellSize).toLong)
          out.row.write(3, cells.value(k))
          out.box(4, cellMinX, cellMaxY, cellSize, cellSize)
          true
        }
      }
    }
  }

  /** Distributed raster resample: every tile of a TileStore column is
    * resampled to a new cell size independently, the tiles dealt into
    * input partitions as a [[CellScan]] deals them (no exchange —
    * SURVEY.md §3.3: the reference's sequential dask chunk loop becomes
    * embarrassingly parallel). Nearest neighbour for categorical bands,
    * bilinear for continuous (`_raster.py:87-138` semantics).
    */
  def resampleStore(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String, dstCellSize: Double,
      categorical: Boolean, overwrite: Boolean = false): Unit = {
    val src = new TileStore(srcPath)
    val h = src.header
    val dst = new TileStore(dstPath)
    dst.init(h.copy(cellSize = dstCellSize), overwrite)
    val srcCells = math.round(h.tileSize / h.cellSize).toInt
    val dstCells = math.round(h.tileSize / dstCellSize).toInt
    val specs = h.columns
    CellScan.partitions(spark, src.tiles()).foreach { ref =>
      val s = new TileStore(srcPath)
      val d = new TileStore(dstPath)
      specs.foreach { spec =>
        val data = s.readRegion(ref, spec.name, spec.dtype)
        val res =
          if (categorical) Resample.nearest(data, srcCells, srcCells, dstCells, dstCells)
          else Resample.bilinear(data, srcCells, srcCells, dstCells, dstCells)
        d.writeRegion(ref, spec.name, spec.dtype, res)
      }
    }
  }

  /** Reference `_dataframe.py:444-448`: lookup attr gets a nodata entry. */
  private def injectNodata(lookup: String, nodata: Double): String = {
    val nd = if (nodata == math.rint(nodata) && !nodata.isNaN)
      nodata.toLong.toString else nodata.toString
    lookup.stripSuffix("}") + s", 'nodata': $nd}"
  }
}

/** One (tile, salt) group as a [[TileBurner]] task hands it on: a tile
  * it wrote (`burned` per column, `cells` null), or a hot tile's sparse
  * partial — the `cells` it wrote, each with its winning row's order
  * (`ords`) and values (`vals`, one per column, cell by cell).
  */
private[raster] final case class TileBurn(tile: String, nRows: Long,
    burned: Array[Long], cells: Array[Int], ords: Array[Long], vals: Array[Double])

/** `toTileStore`'s executor side: the span burn of one task's sorted
  * rows and the per-tile merge of a hot tile's partials. Holds settings
  * only; each call keeps its own buffers.
  */
private[raster] final class TileBurner(path: String, specs: Seq[ColumnSpec],
    cellSize: Double, tileCells: Int) extends Serializable {
  private val nCols = specs.length
  private val area = tileCells * tileCells

  /** One region buffer per column, every cell nodata. */
  private def regions(): Array[RegionBytes] = {
    val rs = specs.map(s => new RegionBytes(s.dtype, s.nodata, area)).toArray
    rs.foreach(_.reset())
    rs
  }

  /** Writes `tile`'s regions; returns burned_cells per column. */
  private def write(tile: String, rs: Array[RegionBytes]): Array[Long] = {
    val st = new TileStore(path)
    specs.indices.map { si =>
      st.writeRegionBytes(tile, specs(si).name, rs(si).bytes)
      rs(si).burnedCells
    }.toArray
  }

  /** A written tile's metrics rows (tile, column, burned_cells, n_rows). */
  def metrics(b: TileBurn): Iterator[(String, String, Long, Long)] =
    specs.indices.iterator.map(si => (b.tile, specs(si).name, b.burned(si), b.nRows))

  /** Burns rows (tile, salt, WKB, values, order) that arrive grouped by
    * (tile, salt), each group in burn order; the last row to burn a cell
    * wins it. Salt 0 (a cold tile) fills the region buffers, one memory
    * fill plus the burned spans per tile, and writes them. A salt above
    * 0 (a hot tile) keeps each cell's last order and values, and becomes
    * a sparse partial of the cells it burned.
    */
  def burn(rows: Iterator[(String, Int, Array[Byte], Array[Double], Long)]): Iterator[TileBurn] = {
    lazy val rs = regions()
    lazy val hit = new Array[Boolean](area)
    lazy val cellOrd = new Array[Long](area)
    lazy val cellVals = new Array[Double](area * nCols)
    val touched = new scala.collection.mutable.ArrayBuilder.ofInt
    val bits = new Array[Long](nCols)
    val spans = new Spans
    var tile: String = null
    var salt = 0
    var frame: TileFrame = null
    var nRows = 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[TileBurn]
    def flush(): Unit = if (tile != null) {
      if (salt == 0) out += TileBurn(tile, nRows, write(tile, rs), null, null, null)
      else {
        val cells = touched.result()
        touched.clear()
        cells.foreach(hit(_) = false)
        out += TileBurn(tile, nRows, null, cells, cells.map(cellOrd),
          cells.flatMap(c => cellVals.slice(c * nCols, (c + 1) * nCols)))
      }
    }
    rows.foreach { case (t, s, geom, vals, ord) =>
      if (t != tile || s != salt) {
        flush()
        tile = t
        salt = s
        nRows = 0L
        val (minx, miny, _, _) = graft.index.Bng.bounds(t)
        frame = TileFrame(minx, miny, cellSize, tileCells)
        if (s == 0) rs.foreach(_.reset())
      }
      Rasterize.spans(frame, graft.geo.Wkb.read(geom), spans)
      if (salt == 0) {
        var si = 0
        while (si < nCols) {
          bits(si) = rs(si).bitsOf(vals(si)); si += 1
        }
        var k = 0
        while (k < spans.size) {
          val row = spans.row(k) * tileCells
          si = 0
          while (si < nCols) {
            rs(si).fill(row + spans.c0(k), row + spans.c1(k), bits(si)); si += 1
          }
          k += 1
        }
      } else {
        var k = 0
        while (k < spans.size) {
          val row = spans.row(k) * tileCells
          var i = row + spans.c0(k)
          while (i < row + spans.c1(k)) {
            if (!hit(i)) {
              hit(i) = true
              touched += i
            }
            cellOrd(i) = ord
            System.arraycopy(vals, 0, cellVals, i * nCols, nCols)
            i += 1
          }
          k += 1
        }
      }
      nRows += 1
    }
    flush()
    out.iterator
  }

  /** One tile's burns: a written tile passes its metrics through; a hot
    * tile's partials are merged, keeping per cell the entry that sorts
    * last by (order, values), and the region is written with n_rows
    * summed over the partials.
    */
  def merge(parts: Iterator[TileBurn]): Iterator[(String, String, Long, Long)] = {
    val ps = parts.toArray
    if (ps.head.cells == null) metrics(ps.head)
    else {
      val best = Array.fill(area)(-1L) // (partial << 32 | entry) winning each cell
      for (p <- ps.indices; k <- ps(p).cells.indices) {
        val c = ps(p).cells(k)
        val b = best(c)
        if (b < 0 || after(ps(p), k, ps((b >>> 32).toInt), b.toInt))
          best(c) = (p.toLong << 32) | k
      }
      val rs = regions()
      for (p <- ps.indices; k <- ps(p).cells.indices) {
        val c = ps(p).cells(k)
        if (best(c) == ((p.toLong << 32) | k)) {
          var si = 0
          while (si < nCols) {
            rs(si).fill(c, c + 1, rs(si).bitsOf(ps(p).vals(k * nCols + si))); si += 1
          }
        }
      }
      val tile = ps.head.tile
      metrics(TileBurn(tile, ps.map(_.nRows).sum, write(tile, rs), null, null, null))
    }
  }

  /** Entry `i` of `a` sorts after entry `j` of `b` by (order, values),
    * values compared as the burn's sort compares doubles.
    */
  private def after(a: TileBurn, i: Int, b: TileBurn, j: Int): Boolean = {
    var cmp = java.lang.Long.compare(a.ords(i), b.ords(j))
    var si = 0
    while (cmp == 0 && si < nCols) {
      cmp = SQLOrderingUtil.compareDoubles(a.vals(i * nCols + si), b.vals(j * nCols + si))
      si += 1
    }
    cmp > 0
  }
}
