package graft

import graft.core.Constants
import graft.geo.Wkb
import graft.raster.{RasterPipeline, Resample, TileStore}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, Polygon}

import scala.jdk.CollectionConverters._

/** The reference's to_zarr dtype/chequerboard matrix (FIXTURES.md §3,
  * tests/fixtures/dataframe/to_zarr.py) + the 6-case resample matrix
  * (§5), re-expressed over the TileStore.
  */
class RasterStoreSpec extends SparkSpec {
  import spark.implicits._

  test("dtype/nodata ladder (reference _dataframe.py:207-268,361-398)") {
    assert(Constants.dtypeAndNodata(0, 1) == ("uint8", 255d))
    assert(Constants.dtypeAndNodata(0, 254) == ("uint8", 255d))
    // collision widens via the reference's dict order: uint8 -> int16
    assert(Constants.dtypeAndNodata(0, 255) == ("int16", 32767d))
    assert(Constants.dtypeAndNodata(-1, 100) == ("int16", 32767d)) // no int8 (reference parity)
    assert(Constants.dtypeAndNodata(0, 32767) == ("uint16", 65535d)) // int16 sentinel collision
    assert(Constants.dtypeAndNodata(0, 65535) == ("int32", 2147483647d))
    assert(Constants.dtypeAndNodata(-32768, 32766) == ("int16", 32767d))
    assert(Constants.dtypeAndNodata(-5, 32767) == ("int32", 2147483647d)) // skips uint32
    val (fd, fn) = Constants.dtypeAndNodata(0.5, 2.5)
    assert(fd == "float32" && fn.isNaN)
  }

  /** 13x7 chequerboard of 100 km squares at mocked cell 100 km — the
    * reference's to_zarr golden layout (even linear indices burned).
    */
  test("chequerboard canvas: burned squares carry values, rest nodata") {
    val rows = for {
      r <- 0 until 13
      c <- 0 until 7
      i = r * 7 + c
      if i % 2 == 0
    } yield {
      val minx = c * 100000.0
      val miny = (12 - r) * 100000.0
      (i.toLong, Wkb.write(Wkb.box(minx, miny, minx + 100000, miny + 100000)))
    }
    val df = rows.toDF("val", "geometry")
    val path = tempDir("tilestore")

    val metrics = RasterPipeline.toTileStore(df, "geometry", Seq("val"), path,
      cellSize = 100000, tileSize = 100000, overwrite = true)
    assert(metrics.count() == 46)

    val store = new TileStore(path)
    val spec = store.header.columns.head
    assert(spec.dtype == "uint8" && spec.nodata == 255d) // 0..88 fits uint8
    val canvas = store.assembleCanvas("val")
    assert(canvas.length == 13 && canvas.head.length == 7)
    for (r <- 0 until 13; c <- 0 until 7) {
      val i = r * 7 + c
      val expected = if (i % 2 == 0) i.toDouble else 255d
      assert(canvas(r)(c) == expected, s"cell ($r,$c)")
    }
  }

  test("pipeline-golden: 20km boxes burn 2x2 blocks at 10km cells (uint8 + lookup attrs)") {
    // The reference e2e pipeline golden shape (pipeline.py:113-188): small
    // boxes centred on 100km squares, categorized values, 255 nodata.
    val rows = Seq(
      (0L, 440000.0, 440000.0), // SE centre-ish
      (1L, 240000.0, 640000.0),
      (2L, 540000.0, 140000.0))
      .map { case (v, cx, cy) =>
        (v, Wkb.write(Wkb.box(cx - 10000, cy - 10000, cx + 10000, cy + 10000)))
      }
    val df = rows.toDF("land_cover", "geometry")
    val path = tempDir("tilestore2")
    RasterPipeline.toTileStore(df, "geometry", Seq("land_cover"), path,
      lookups = Map("land_cover" -> "{'grassland': 0, 'woodland': 1, 'wetland': 2}"),
      cellSize = 10000, tileSize = 100000, overwrite = true)
    val store = new TileStore(path)
    val spec = store.header.columns.head
    assert(spec.lookup.contains(
      "{'grassland': 0, 'woodland': 1, 'wetland': 2, 'nodata': 255}"))
    // each 20km box burns exactly 2x2 cells at 10km resolution
    val canvas = store.assembleCanvas("land_cover")
    assert(canvas.flatten.count(_ != 255d) == 12)
    assert(canvas.flatten.count(_ == 0d) == 4)
    assert(canvas.flatten.count(_ == 2d) == 4)
  }

  test("float column: NaN nodata survives the canvas round trip") {
    val rows = Seq(
      (1.5, Wkb.write(Wkb.box(100000, 100000, 200000, 200000))),
      (2.25, Wkb.write(Wkb.box(300000, 300000, 400000, 400000))))
    val df = rows.toDF("temp", "geometry")
    val path = tempDir("tilestoreF")
    RasterPipeline.toTileStore(df, "geometry", Seq("temp"), path,
      cellSize = 100000, tileSize = 100000, overwrite = true)
    val store = new TileStore(path)
    val spec = store.header.columns.head
    assert(spec.dtype == "float32" && spec.nodata.isNaN)
    val canvas = store.assembleCanvas("temp").flatten
    assert(canvas.count(_ == 1.5) == 1)
    assert(canvas.count(_ == 2.25) == 1)
    assert(canvas.count(_.isNaN) == 89) // all unwritten cells NaN
    assert(canvas.count(v => !v.isNaN) == 2)
  }

  test("mask mode: no columns -> uint8 presence mask, nodata 0") {
    val df = Seq((Wkb.write(Wkb.box(100000, 100000, 200000, 200000)), 1))
      .toDF("geometry", "ignored")
    val path = tempDir("tilestore3")
    RasterPipeline.toTileStore(df, "geometry", Seq.empty, path,
      cellSize = 100000, tileSize = 100000, overwrite = true)
    val store = new TileStore(path)
    assert(store.header.columns == Seq(graft.raster.ColumnSpec("mask", "uint8", 0d, None)))
    assert(store.assembleCanvas("mask").flatten.count(_ == 1d) == 1)
  }

  test("string column must be categorized first (reference error)") {
    val df = Seq(("x", Wkb.write(Wkb.point(1, 1)))).toDF("cat", "geometry")
    val path = tempDir("tilestore4")
    val e = intercept[IllegalArgumentException] {
      RasterPipeline.toTileStore(df, "geometry", Seq("cat"), path, overwrite = true)
    }
    assert(e.getMessage.contains("categorize"))
  }

  test("round-1 DEFLATE regions stay readable (frame sniff)") {
    val path = tempDir("tilestore-deflate")
    val st = new TileStore(path)
    st.init(graft.raster.StoreHeader("EPSG:27700", 100000, 0, 0, 700000,
      1300000, 100000, Seq.empty, Map.empty), overwrite = true)
    // hand-write a DEFLATE-compressed uint8 region like round-1 stores
    val dir = java.nio.file.Paths.get(path, "tile=SE")
    java.nio.file.Files.createDirectories(dir)
    val out = new java.util.zip.DeflaterOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("old.bin")),
      new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED))
    out.write(Array[Byte](7, 0, 42)); out.close()
    assert(st.readRegion("SE", "old", "uint8").toSeq == Seq(7d, 0d, 42d))
    // a streamed Zstd frame (no content size), as every store written
    // before one-shot compression holds
    val zs = new com.github.luben.zstd.ZstdOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("streamed.bin")), 1)
    zs.write(Array[Byte](3, 0, 0, 0, 5, 0, 0, 0)); zs.close()
    assert(st.readRegion("SE", "streamed", "int32").toSeq == Seq(3d, 5d))
    val sparse = st.readCells("SE", "streamed", "int32", 5d, cells = 2)
    assert(sparse.index.toSeq == Seq(0) && sparse.value.toSeq == Seq(3d))
    // new writes are zstd frames
    st.writeRegion("SE", "nu", "uint8", Array(9d))
    val head = java.nio.file.Files.readAllBytes(dir.resolve("nu.bin")).take(4)
    assert(head.toSeq == Seq(0x28.toByte, 0xB5.toByte, 0x2F.toByte, 0xFD.toByte))
    assert(st.readRegion("SE", "nu", "uint8").toSeq == Seq(9d))
  }

  /** A store of 10 x 10-cell tiles (10 km cells on 100 km tiles) with one
    * column per dtype: values in the first and last row and column of
    * "SE", random cells in "NT" and "TQ" all nodata.
    */
  private val readbackDtypes = Seq(
    ("uint8", 255d, Seq(0d, 1d, 254d)),
    ("int16", 32767d, Seq(-32768d, -1d, 32766d)),
    ("uint16", 65535d, Seq(0d, 1d, 65534d)),
    ("int32", 2147483647d, Seq(-2147483648d, 0d, 2147483646d)),
    ("uint32", 4294967295d, Seq(0d, 7d, 4294967294d)),
    ("float32", Double.NaN, Seq(-0.25, 0d, 1.5, 3.0e38)),
    ("float64", Double.NaN, Seq(-1e300, 0.1, 2.5e-310)))

  private def readbackStore(): String = {
    val path = tempDir("tilestore-readback")
    val st = new TileStore(path)
    st.init(graft.raster.StoreHeader("EPSG:27700", 10000, 0, 0, 700000, 1300000, 100000,
      readbackDtypes.map { case (dt, nd, _) => graft.raster.ColumnSpec(s"c_$dt", dt, nd) },
      Map.empty), overwrite = true)
    val rnd = new scala.util.Random(7)
    readbackDtypes.foreach { case (dt, nd, vals) =>
      val edges = Array.fill(100)(nd)
      Seq(0, 9, 90, 99, 5, 40, 49, 95).zipWithIndex.foreach { case (i, k) =>
        edges(i) = vals(k % vals.length)
      }
      val random = Array.fill(100)(
        if (rnd.nextDouble() < 0.3) vals(rnd.nextInt(vals.length)) else nd)
      Seq("SE" -> edges, "NT" -> random, "TQ" -> Array.fill(100)(nd)).foreach {
        case (tile, data) =>
          val burned = st.writeRegion(tile, s"c_$dt", dt, data, nd)
          assert(burned == data.count(v => !(v == nd || (v.isNaN && nd.isNaN))), s"$dt $tile")
      }
    }
    path
  }

  test("fromTileStore emits exactly the non-nodata cells of every dtype, WKB included") {
    val path = readbackStore()
    val st = new TileStore(path)
    readbackDtypes.foreach { case (dt, nd, _) =>
      val column = s"c_$dt"
      // brute force over the full grids, boxes through JTS
      val expected = for {
        tile <- st.tiles()
        data = st.readRegion(tile, column, dt)
        (minx, _, _, maxy) = graft.index.Bng.bounds(tile)
        idx <- data.indices
        v = data(idx)
        if !(v == nd || (v.isNaN && nd.isNaN))
      } yield {
        val cellMinX = minx + (idx % 10) * 10000.0
        val cellMaxY = maxy - (idx / 10) * 10000.0
        (tile, (cellMinX / 10000).toLong, ((cellMaxY - 10000) / 10000).toLong, v,
          Wkb.write(Wkb.box(cellMinX, cellMaxY - 10000, cellMinX + 10000, cellMaxY)).toSeq)
      }
      val got = RasterPipeline.fromTileStore(spark, path, column).collect().map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getAs[Array[Byte]](4).toSeq)
      }.toSeq
      def key(t: (String, Long, Long, Double, Seq[Byte])) = (t._1, t._2, t._3)
      assert(got.sortBy(key) == expected.sortBy(key), dt)
      assert(expected.count(_._1 == "SE") == 8 && !expected.exists(_._1 == "TQ"), dt)
      // SE's corner cells: first and last row and column of the tile
      val se = expected.filter(_._1 == "SE").map(t => (t._2, t._3)).toSet
      val (sx, sy, _, _) = graft.index.Bng.bounds("SE")
      val (e0, n0) = ((sx / 10000).toLong, (sy / 10000).toLong)
      assert(Seq((e0, n0), (e0 + 9, n0), (e0, n0 + 9), (e0 + 9, n0 + 9)).forall(se.contains), dt)
    }
  }

  test("fromTileStore fails naming the tile when a region is short") {
    val path = readbackStore()
    new TileStore(path).writeRegion("NT", "c_int16", "int16", Array.fill(99)(1d))
    val e = intercept[Exception] {
      RasterPipeline.fromTileStore(spark, path, "c_int16").collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(m => m.contains("tile NT") && m.contains("expected 200")),
      messages.mkString(" | "))
  }

  test("a failed region write leaves no temp file behind") {
    val path = tempDir("tilestore-tmp")
    val st = new TileStore(path)
    // a non-empty directory where the region file should land makes the
    // final move fail
    val blocker = java.nio.file.Paths.get(path, "tile=SE", "v.bin", "x")
    java.nio.file.Files.createDirectories(blocker)
    intercept[java.io.IOException](st.writeRegion("SE", "v", "uint8", Array(1d)))
    val left = java.nio.file.Files.list(java.nio.file.Paths.get(path, "tile=SE"))
    try assert(left.iterator().asScala.map(_.getFileName.toString).toSeq == Seq("v.bin"))
    finally left.close()
  }

  test("overwrite guard (reference _warn_zarr_overwrite)") {
    val path = tempDir("tilestore5")
    val st = new TileStore(path)
    val hdr = graft.raster.StoreHeader("EPSG:27700", 10, 0, 0, 100, 100, 100,
      Seq(graft.raster.ColumnSpec("a", "uint8", 255d)), Map.empty)
    st.init(hdr, overwrite = false)
    intercept[IllegalStateException] { st.init(hdr, overwrite = false) }
    st.init(hdr, overwrite = true) // allowed with flag
  }

  test("region write/read round-trips every dtype") {
    val path = tempDir("tilestore6")
    val st = new TileStore(path)
    st.init(graft.raster.StoreHeader("EPSG:27700", 100000, 0, 0, 700000,
      1300000, 100000, Seq.empty, Map.empty), overwrite = true)
    val data = Array(0d, 1d, 254d, 100d)
    Seq("uint8", "int16", "uint16", "int32", "uint32", "int64", "float32", "float64")
      .foreach { dt =>
        assert(st.writeRegion("SE", s"c_$dt", dt, data, nodata = 254d) == 3, dt)
        assert(st.readRegion("SE", s"c_$dt", dt).toSeq == data.toSeq, dt)
      }
    // unsigned semantics: 65535 survives uint16
    st.writeRegion("SE", "u16", "uint16", Array(65535d))
    assert(st.readRegion("SE", "u16", "uint16").head == 65535d)
    assert(st.tiles() == Seq("SE"))
  }

  test("distributed store resample: 100km cells -> 50km cells, values preserved") {
    // one-tile-per-100km chequerboard store (from the earlier golden)
    val rows = for {
      r <- 0 until 13; c <- 0 until 7
      i = r * 7 + c
      if i % 2 == 0
    } yield (i.toLong, Wkb.write(Wkb.box(c * 100000.0, (12 - r) * 100000.0,
      c * 100000.0 + 100000, (12 - r) * 100000.0 + 100000)))
    val src = tempDir("rsrc")
    RasterPipeline.toTileStore(rows.toDF("val", "geometry"), "geometry",
      Seq("val"), src, cellSize = 100000, tileSize = 100000, overwrite = true)
    val dst = tempDir("rdst")
    RasterPipeline.resampleStore(spark, src, dst, dstCellSize = 50000,
      categorical = true, overwrite = true)
    val canvas = new TileStore(dst).assembleCanvas("val")
    assert(canvas.length == 26 && canvas.head.length == 14)
    // each burned 100km square becomes a 2x2 block of the same value
    for (r <- 0 until 13; c <- 0 until 7) {
      val i = r * 7 + c
      val expected = if (i % 2 == 0) i.toDouble else 255d
      for (dr <- 0 until 2; dc <- 0 until 2)
        assert(canvas(r * 2 + dr)(c * 2 + dc) == expected, s"($r,$c)")
    }
  }

  /** Star-shaped simple polygon around (cx, cy): increasing vertex
    * angles, radii in [0.5 r, r].
    */
  private def star(rnd: scala.util.Random, cx: Double, cy: Double, r: Double): Geometry = {
    val n = 5 + rnd.nextInt(8)
    val cs = (0 until n).map { v =>
      val a = 2 * math.Pi * (v + 0.8 * rnd.nextDouble()) / n
      val rv = r * (0.5 + 0.5 * rnd.nextDouble())
      new Coordinate(cx + rv * math.cos(a), cy + rv * math.sin(a))
    }
    Wkb.factory.createPolygon((cs :+ cs.head).toArray)
  }

  test("toTileStore regions and burned_cells equal a grid burn + encode, every dtype") {
    // 100 x 100-cell tiles (100 m cells on 10 km tiles) around TQ38/TQ49
    val rnd = new scala.util.Random(11)
    val f = Wkb.factory
    def pt(x: Double, y: Double) = new Coordinate(x, y)
    val hand: Seq[Geometry] = Seq(
      // a box over all of TQ38 and a little beyond: spans in its first
      // and last row and column, and the edges of its neighbours
      Wkb.box(529950, 179950, 540050, 190050),
      // shell with a hole
      Wkb.readWkt("POLYGON ((531000 181000, 538000 181000, 538000 188000, 531000 188000, " +
        "531000 181000), (533000 183000, 536000 183000, 536000 186000, 533000 186000, " +
        "533000 183000))"),
      f.createMultiPolygon(Array(
        Wkb.box(541000, 181000, 543000, 183000).asInstanceOf[Polygon],
        Wkb.box(545000, 185000, 548000, 199000).asInstanceOf[Polygon])),
      f.createLineString(Array(pt(530050, 180050), pt(549950, 199950), pt(549950, 180050))),
      Wkb.point(530000, 180000), Wkb.point(539999.5, 189999.5), Wkb.point(545050, 195050),
      f.createGeometryCollection(Array(Wkb.point(532050, 198050),
        f.createLineString(Array(pt(531000, 195000), pt(538000, 192000))),
        Wkb.box(542000, 192000, 546000, 196000))),
      // a line along the TQ38/TQ48 grid line: no interior cell in either
      f.createLineString(Array(pt(540000, 181000), pt(540000, 188000))))
    val random = (0 until 60).map { _ =>
      val (cx, cy) = (530000 + 20000 * rnd.nextDouble(), 180000 + 20000 * rnd.nextDouble())
      if (rnd.nextBoolean()) star(rnd, cx, cy, 200 + 3000 * rnd.nextDouble())
      else Wkb.box(cx, cy, cx + 100 + 4000 * rnd.nextDouble(), cy + 100 + 4000 * rnd.nextDouble())
    }
    val geoms = rnd.shuffle(hand ++ random) ++ hand.take(2) // the last rows overwrite
    def int(lo: Long, hi: Long): Option[Long] =
      if (rnd.nextDouble() < 0.15) None else Some(lo + (rnd.nextDouble() * (hi - lo)).toLong)
    def real(lo: Double, hi: Double): Option[Double] =
      if (rnd.nextDouble() < 0.15) None else Some(lo + math.floor(rnd.nextDouble() * 64) * (hi - lo) / 64)
    val rows = geoms.zipWithIndex.map { case (g, i) =>
      (Wkb.write(g), int(0, 200), int(-300, 300),
        if (i == 0) Some(60000L) else int(0, 60000),
        if (i == 0) Some(-70000L) else int(-70000, 70000),
        if (i == 0) Some(4000000000L) else int(0, 4000000000L),
        if (i == 0) Some(0.5) else real(-1000, 1000),
        if (i == 0) Some(1e300) else if (i == 1) Some(Double.NaN) else real(-1e300, 1e300))
    }
    val cols = Seq("u8", "i16", "u16", "i32", "u32", "f32", "f64")
    // one input partition: the burn sees each tile's rows in input order
    val df = rows.toDF("geometry" +: cols: _*).coalesce(1)
    val path = tempDir("tilestore-spans")
    val metrics = RasterPipeline.toTileStore(df, "geometry", cols, path,
      cellSize = 100, tileSize = 10000, overwrite = true).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val specs = new TileStore(path).header.columns
    assert(specs.map(_.dtype) ==
      Seq("uint8", "int16", "uint16", "int32", "uint32", "float32", "float64"))

    // oracle: every row burned in input order into a double grid per
    // assigned tile, then encoded by the Array[Double] region write
    val assigned = df.select(graft.index.IndexExpressions.bng_index(col("geometry"), 10000L,
      "interior")).collect().map(_.getSeq[String](0))
    val tiles = assigned.toSeq.flatten.distinct.sorted
    assert(tiles.size >= 4 && new TileStore(path).tiles() == tiles)
    val refPath = tempDir("tilestore-grid")
    val ref = new TileStore(refPath)
    var burnedTotal = 0L
    for (tile <- tiles; (spec, ci) <- specs.zipWithIndex) {
      val (minx, miny, _, _) = graft.index.Bng.bounds(tile)
      val grid = graft.raster.Rasterize.empty(minx, miny, 100, 100, spec.nodata)
      rows.indices.filter(i => assigned(i).contains(tile)).foreach { i =>
        val value = rows(i).productElement(ci + 1).asInstanceOf[Option[Any]]
          .fold(spec.nodata)(v => v.asInstanceOf[Number].doubleValue)
        graft.raster.Rasterize.burnGeometry(grid, Wkb.read(rows(i)._1), value)
      }
      val burned = ref.writeRegion(tile, spec.name, spec.dtype, grid.data, spec.nodata)
      burnedTotal += burned
      assert(metrics((tile, spec.name)) == burned, s"$tile ${spec.dtype} burned_cells")
      val region = s"tile=$tile/${spec.name}.bin"
      assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path, region)).toSeq ==
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refPath, region)).toSeq,
        s"$tile ${spec.dtype} region bytes")
    }
    assert(burnedTotal > 0 && metrics.size == tiles.size * specs.size)
  }

  test("toTileStore leaves no persisted RDD behind") {
    val df = Seq((1L, Wkb.write(Wkb.box(100000, 100000, 300000, 200000)))).toDF("v", "geometry")
    val path = tempDir("tilestore-persist")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val metrics = RasterPipeline.toTileStore(df, "geometry", Seq("v"), path,
      cellSize = 100000, tileSize = 100000, overwrite = true)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(metrics.columns.toSeq == Seq("tile", "column", "burned_cells", "n_rows"))
    assert(metrics.collect().map(_.getLong(2)).sum == 2)
  }

  test("ordered toTileStore: salted hot tiles == unsalted == sequential burn in (order, value) order") {
    // 100 m cells on 10 km tiles. Most rows fall in TQ38, hot at a target
    // of 40 rows per task; the rest spread over its neighbours. Orders
    // repeat, so values break ties. Column a is an integer with nulls
    // (uint8, nodata 255); b is a real with nulls and NaN (NaN nodata).
    val rnd = new scala.util.Random(23)
    val f = Wkb.factory
    def pt(x: Double, y: Double) = new Coordinate(x, y)
    def shape(x: Double, y: Double): Geometry = rnd.nextInt(5) match {
      case 0 => Wkb.point(x, y)
      case 1 => f.createLineString(Array(pt(x, y),
        pt(x + 3000 * rnd.nextDouble(), y + 2000 * rnd.nextDouble())))
      case 2 => f.createGeometryCollection(Array(Wkb.point(x, y),
        Wkb.box(x + 100, y + 100, x + 900, y + 1300)))
      case _ => Wkb.box(x, y, x + 200 + 3000 * rnd.nextDouble(), y + 200 + 3000 * rnd.nextDouble())
    }
    val shapes =
      (0 until 300).map(_ => shape(530000 + 9000 * rnd.nextDouble(), 180000 + 9000 * rnd.nextDouble())) ++
      (0 until 60).map(_ => shape(520000 + 30000 * rnd.nextDouble(), 170000 + 30000 * rnd.nextDouble()))
    val rows = shapes.map { g =>
      (Wkb.write(g), rnd.nextInt(40).toLong,
        if (rnd.nextDouble() < 0.1) None else Some(rnd.nextInt(200).toLong),
        if (rnd.nextDouble() < 0.1) None
        else if (rnd.nextDouble() < 0.1) Some(Double.NaN) else Some(rnd.nextInt(64) / 4.0))
    } ++ Seq(
      // the highest order over part of TQ38: (1000, nodata, NaN) beats
      // (1000, 7, NaN) where they overlap, so nodata wins those cells
      (Wkb.write(Wkb.box(532000, 182000, 536000, 186000)), 1000L, None, Some(Double.NaN)),
      (Wkb.write(Wkb.box(534000, 184000, 538000, 188000)), 1000L, Some(7L), None))
    val df = rows.toDF("geometry", "ord", "a", "b")
    def write(target: Long): (String, Map[(String, String), (Long, Long)]) = {
      val path = tempDir("tilestore-ordered")
      val metrics = RasterPipeline.toTileStore(df, "geometry", Seq("a", "b"), path,
        cellSize = 100, tileSize = 10000, overwrite = true,
        orderCol = Some("ord"), targetRowsPerTask = target).collect()
      (path, metrics.map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap)
    }
    val (salted, saltedMetrics) = write(40)
    val (plain, plainMetrics) = write(Long.MaxValue)
    val specs = new TileStore(salted).header.columns
    assert(specs.map(_.dtype) == Seq("uint8", "float64") && specs.head.nodata == 255d)

    // oracle: every tile's rows burned in (order, a, b) order, nulls as
    // nodata, into a double grid per column, encoded by the region write
    val assigned = df.select(graft.index.IndexExpressions.bng_index(col("geometry"), 10000L,
      "interior")).collect().map(_.getSeq[String](0))
    val tiles = assigned.toSeq.flatten.distinct.sorted
    assert(assigned.count(_.contains("TQ38")) > 40, "TQ38 is not hot")
    assert(new TileStore(salted).tiles() == tiles && new TileStore(plain).tiles() == tiles)
    def values(i: Int): Seq[Double] =
      Seq(rows(i)._3.fold(specs(0).nodata)(_.toDouble), rows(i)._4.getOrElse(specs(1).nodata))
    val order = rows.indices.sortBy(i => (rows(i)._2, values(i)(0), values(i)(1)))(
      Ordering.Tuple3(Ordering.Long, Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering))
    val refPath = tempDir("tilestore-ordered-ref")
    val ref = new TileStore(refPath)
    var nodataWins = 0
    for (tile <- tiles; (spec, ci) <- specs.zipWithIndex) {
      val (minx, miny, _, _) = graft.index.Bng.bounds(tile)
      // -Inf marks unburned cells, so burned nodata winners can be counted
      val grid = graft.raster.Rasterize.empty(minx, miny, 100, 100, Double.NegativeInfinity)
      val burnedBy = order.filter(i => assigned(i).contains(tile))
      burnedBy.foreach(i => graft.raster.Rasterize.burnGeometry(grid, Wkb.read(rows(i)._1), values(i)(ci)))
      nodataWins += grid.data.count(v => v == spec.nodata || (v.isNaN && spec.nodata.isNaN))
      val cells = grid.data.map(v => if (v == Double.NegativeInfinity) spec.nodata else v)
      val burned = ref.writeRegion(tile, spec.name, spec.dtype, cells, spec.nodata)
      val expected = (burned, burnedBy.size.toLong)
      assert(saltedMetrics((tile, spec.name)) == expected, s"$tile ${spec.name} salted metrics")
      assert(plainMetrics((tile, spec.name)) == expected, s"$tile ${spec.name} unsalted metrics")
      val region = s"tile=$tile/${spec.name}.bin"
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(refPath, region)).toSeq
      Seq(salted, plain).foreach { p =>
        assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p, region)).toSeq == bytes,
          s"$p $region")
      }
    }
    assert(nodataWins > 0 && saltedMetrics.size == tiles.size * specs.size)
  }

  // ------------- resample matrix (reference tests/test_raster.py) -------

  /** 6x6 "numbers" base: 2x2 blocks of 0..8. */
  private val base6 = Array.tabulate(36) { k =>
    val r = k / 6; val c = k % 6
    ((r / 2) * 3 + (c / 2)).toDouble
  }

  test("resample: larger cell (3x3 of 0..8) -> nearest to 6x6 == base") {
    val src = Array.tabulate(9)(_.toDouble)
    assert(Resample.nearest(src, 3, 3, 6, 6).toSeq == base6.toSeq)
  }

  test("resample: smaller cell (12x12) -> nearest to 6x6 == base") {
    val src = Array.tabulate(144) { k =>
      val r = k / 12; val c = k % 12
      ((r / 4) * 3 + (c / 4)).toDouble
    }
    assert(Resample.nearest(src, 12, 12, 6, 6).toSeq == base6.toSeq)
  }

  test("resample: same cell/shape is identity; bilinear constant-preserving") {
    assert(Resample.nearest(base6, 6, 6, 6, 6).toSeq == base6.toSeq)
    val const = Array.fill(36)(7.5)
    assert(Resample.bilinear(const, 6, 6, 12, 12).forall(_ == 7.5))
    assert(Resample.bilinear(const, 6, 6, 3, 3).forall(_ == 7.5))
  }

  test("normalize: smaller shape nodata-pads into target canvas (reference :206-267)") {
    // 4x4 source at x in [2,6], y in [0,4] into 6x6 canvas x in [0,6], ymax 6
    val src = Array.tabulate(16)(k => (k + 1).toDouble)
    val out = Resample.normalize(src, 4, 4,
      srcMinX = 2, srcMaxY = 4, srcCell = 1,
      dstMinX = 0, dstMaxY = 6, dstCell = 1,
      dstW = 6, dstH = 6, nodata = 0, categorical = true)
    for (r <- 0 until 6; c <- 0 until 6) {
      val expected =
        if (r >= 2 && c >= 2) src((r - 2) * 4 + (c - 2)) else 0d
      assert(out(r * 6 + c) == expected, s"($r,$c)")
    }
  }

  test("normalize: cell-size change + placement composes") {
    // 2x2 source with cell 2 occupying x in [0,4], y in [2,6] of the canvas
    val src = Array(1d, 2d, 3d, 4d)
    val out = Resample.normalize(src, 2, 2,
      srcMinX = 0, srcMaxY = 6, srcCell = 2,
      dstMinX = 0, dstMaxY = 6, dstCell = 1,
      dstW = 6, dstH = 6, nodata = 9, categorical = true)
    assert(out(0) == 1d && out(3) == 2d)   // top-left block
    assert(out(3 * 6 + 0) == 3d && out(3 * 6 + 3) == 4d)
    assert(out(5 * 6 + 5) == 9d)           // outside source: nodata
  }
}
