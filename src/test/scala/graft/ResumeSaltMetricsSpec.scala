package graft

import graft.geo.Wkb
import graft.raster.{RasterPipeline, TileStore}
import org.apache.spark.sql.functions._

class ResumeSaltMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("rasterize resume: completed tiles are skipped, canvas unchanged") {
    val rows = (0 until 20).map { i =>
      val cx = (i % 5) * 100000.0 + 50000.0
      val cy = (i / 5) * 100000.0 + 50000.0
      (i.toLong, Wkb.write(Wkb.box(cx - 10000, cy - 10000, cx + 10000, cy + 10000)))
    }
    val df = rows.toDF("v", "geometry")
    val path = tempDir("resume")
    val m1 = RasterPipeline.toTileStore(df, "geometry", Seq("v"), path,
      cellSize = 10000, tileSize = 100000, overwrite = true)
    val canvas1 = new TileStore(path).assembleCanvas("v").flatten.toSeq
    assert(m1.count() == 20)
    // resume: everything complete -> zero tiles re-burned
    val m2 = RasterPipeline.toTileStore(df, "geometry", Seq("v"), path,
      cellSize = 10000, tileSize = 100000, resume = true)
    assert(m2.count() == 0)
    assert(new TileStore(path).assembleCanvas("v").flatten.toSeq == canvas1)
    // partial store: delete one tile's file -> only that tile re-burned
    val victim = new TileStore(path).tiles().head
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, s"tile=$victim", "v.bin"))
    val m3 = RasterPipeline.toTileStore(df, "geometry", Seq("v"), path,
      cellSize = 10000, tileSize = 100000, resume = true)
    assert(m3.select("tile").as[String].collect().toSeq == Seq(victim))
    assert(new TileStore(path).assembleCanvas("v").flatten.toSeq == canvas1)
  }

  test("salted point rasterization == unsalted (bit-identical, skewed input)") {
    // 5000 points, 90% in one hot 10km tile, values + order deterministic
    val pts = (0 until 5000).map { i =>
      val h = graft.input.WebTable.splitmix64(i.toLong * 31L)
      val hot = i % 10 != 0
      val x = if (hot) 530000.0 + java.lang.Long.remainderUnsigned(h, 10000L)
        else java.lang.Long.remainderUnsigned(h, 700000L).toDouble
      val y = if (hot) 180000.0 + java.lang.Long.remainderUnsigned(h >>> 13, 10000L)
        else java.lang.Long.remainderUnsigned(h >>> 7, 1300000L).toDouble
      (i.toLong, x, y, (i % 7).toLong)
    }
    val df = pts.map { case (ord, x, y, v) => (ord, Wkb.write(Wkb.point(x, y)), v) }
      .toDF("ord", "geometry", "v")

    val saltedPath = tempDir("salted")
    RasterPipeline.toTileStore(df, "geometry", Seq("v"), saltedPath,
      cellSize = 100, tileSize = 10000, overwrite = true,
      orderCol = Some("ord"), targetRowsPerTask = 200)

    // unsalted oracle: single-threaded burn ordered by ord
    val unsalted = new scala.collection.mutable.HashMap[(String, Int), Double]()
    pts.sortBy(_._1).foreach { case (_, x, y, v) =>
      val tile = graft.index.Bng.gridRef(x, y, 10000L)
      val (minx, miny, _, _) = graft.index.Bng.bounds(tile)
      val c = ((x - minx) / 100).toInt
      val r = 99 - ((y - miny) / 100).toInt
      unsalted((tile, r * 100 + c)) = v.toDouble
    }
    val store = new TileStore(saltedPath)
    val nodata = store.header.columns.head.nodata
    val dtype = store.header.columns.head.dtype
    store.tiles().foreach { tile =>
      val data = store.readRegion(tile, "v", dtype)
      data.zipWithIndex.foreach { case (got, idx) =>
        val expected = unsalted.getOrElse((tile, idx), nodata)
        assert(got == expected, s"tile $tile cell $idx")
      }
    }
    // every burned cell accounted for
    val burnedCells = store.tiles().map(t =>
      store.readRegion(t, "v", dtype).count(_ != nodata)).sum
    assert(burnedCells == unsalted.keys.size)
  }

  test("salted GEOMETRY rasterization == sequential ordered burn (overlapping boxes, skewed)") {
    // overlapping 3km boxes, 80% in one hot 10km tile; order = id
    val geoms = (0 until 1200).map { i =>
      val h = graft.input.WebTable.splitmix64(i.toLong * 97L)
      val hot = i % 5 != 0
      val x = if (hot) 530000.0 + java.lang.Long.remainderUnsigned(h, 7000L)
        else java.lang.Long.remainderUnsigned(h, 690000L).toDouble
      val y = if (hot) 180000.0 + java.lang.Long.remainderUnsigned(h >>> 13, 7000L)
        else java.lang.Long.remainderUnsigned(h >>> 7, 1290000L).toDouble
      (i.toLong, (i % 9).toDouble, x, y)
    }
    val df = geoms.map { case (id, v, x, y) =>
      (id, v, Wkb.write(Wkb.box(x, y, x + 3000, y + 3000)))
    }.toDF("ord", "v", "geometry")
    val path = tempDir("saltedG")
    RasterPipeline.toTileStore(df, "geometry", Seq("v"), path,
      cellSize = 500, tileSize = 10000, overwrite = true,
      orderCol = Some("ord"), targetRowsPerTask = 100)

    // sequential oracle: burn in ord order over the full canvas per tile
    val store = new TileStore(path)
    val spec = store.header.columns.head
    val oracle = new scala.collection.mutable.HashMap[(String, Int), Double]()
    geoms.sortBy(_._1).foreach { case (_, v, x, y) =>
      val g = graft.geo.Wkb.read(Wkb.write(Wkb.box(x, y, x + 3000, y + 3000)))
      // tiles the box intersects (may span several)
      graft.index.Bng.envelopeCells(x, y, x + 3000, y + 3000, 10000).foreach { tile =>
        val (minx, miny, _, _) = graft.index.Bng.bounds(tile)
        val grid = graft.raster.Rasterize.empty(minx, miny, 500, 20, fill = Double.NaN)
        graft.raster.Rasterize.burnGeometry(grid, g, v)
        grid.data.zipWithIndex.foreach { case (value, idx) =>
          if (!value.isNaN) oracle((tile, idx)) = value
        }
      }
    }
    store.tiles().foreach { tile =>
      val data = store.readRegion(tile, "v", spec.dtype)
      data.zipWithIndex.foreach { case (got, idx) =>
        val expected = oracle.getOrElse((tile, idx), spec.nodata)
        assert(got == expected, s"tile $tile cell $idx: $got vs $expected")
      }
    }
    assert(oracle.nonEmpty)
  }

  test("duplicated order values burn deterministically ((ord, value)-max semantics)") {
    // Every row shares ord=7: the old >=/>-mixed comparisons let the
    // nondeterministic task split pick the winner. The (ord, value)
    // lexicographic tie-break must produce max(value) per cell at ANY
    // salting granularity.
    val pts = (0 until 2000).map { i =>
      val h = graft.input.WebTable.splitmix64(i.toLong * 53L)
      val x = 530000.0 + java.lang.Long.remainderUnsigned(h, 5000L)
      val y = 180000.0 + java.lang.Long.remainderUnsigned(h >>> 13, 5000L)
      (7L, x, y, (i % 11).toLong)
    }
    val df = pts.map { case (ord, x, y, v) => (ord, Wkb.write(Wkb.point(x, y)), v) }
      .toDF("ord", "geometry", "v")
    def canvas(targetRowsPerTask: Long): Map[(String, Int), Double] = {
      val path = tempDir("dupord")
      RasterPipeline.toTileStore(df, "geometry", Seq("v"), path,
        cellSize = 100, tileSize = 10000, overwrite = true,
        orderCol = Some("ord"), targetRowsPerTask = targetRowsPerTask)
      val store = new TileStore(path)
      val spec = store.header.columns.head
      store.tiles().flatMap { t =>
        store.readRegion(t, "v", spec.dtype).zipWithIndex.collect {
          case (v, idx) if v != spec.nodata => (t, idx) -> v
        }
      }.toMap
    }
    val fine = canvas(targetRowsPerTask = 50)   // many salt partitions
    val coarse = canvas(targetRowsPerTask = 100000L) // single partition
    assert(fine == coarse, "duplicate-order result depends on salting")
    // oracle: per cell, max value among coinciding points
    val oracle = new scala.collection.mutable.HashMap[(String, Int), Double]()
    pts.foreach { case (_, x, y, v) =>
      val tile = graft.index.Bng.gridRef(x, y, 10000L)
      val (minx, miny, _, _) = graft.index.Bng.bounds(tile)
      val c = ((x - minx) / 100).toInt
      val r = 99 - ((y - miny) / 100).toInt
      val key = (tile, r * 100 + c)
      oracle(key) = math.max(oracle.getOrElse(key, Double.NegativeInfinity), v.toDouble)
    }
    assert(fine == oracle.toMap)
  }

  test("observe metrics ride the job (no extra scan) and are captured") {
    graft.run.Metrics.register(spark)
    graft.run.Metrics.captured.clear()
    val df = graft.run.Metrics.observeStage(
      spark.read.parquet(s"$sf0/documents.parquet"), "ingest_docs", "text")
    df.write.format("noop").mode("overwrite").save()
    // listener fires asynchronously — wait briefly
    var tries = 0
    while (!graft.run.Metrics.captured.contains("ingest_docs") && tries < 50) {
      Thread.sleep(100); tries += 1
    }
    val m = graft.run.Metrics.captured("ingest_docs")
    assert(m("rows") == 500L)
    assert(m("bytes").asInstanceOf[Long] > 10000L)
  }
}
