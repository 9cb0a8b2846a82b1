package graft

import graft.core.Constants
import graft.geo.Wkb
import graft.raster.{RasterPipeline, Resample, TileStore}
import org.apache.spark.sql.functions._

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
    val path = java.nio.file.Files.createTempDirectory("tilestore").toString

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
    val path = java.nio.file.Files.createTempDirectory("tilestore2").toString
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
    val path = java.nio.file.Files.createTempDirectory("tilestoreF").toString
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
    val path = java.nio.file.Files.createTempDirectory("tilestore3").toString
    RasterPipeline.toTileStore(df, "geometry", Seq.empty, path,
      cellSize = 100000, tileSize = 100000, overwrite = true)
    val store = new TileStore(path)
    assert(store.header.columns == Seq(graft.raster.ColumnSpec("mask", "uint8", 0d, None)))
    assert(store.assembleCanvas("mask").flatten.count(_ == 1d) == 1)
  }

  test("string column must be categorized first (reference error)") {
    val df = Seq(("x", Wkb.write(Wkb.point(1, 1)))).toDF("cat", "geometry")
    val path = java.nio.file.Files.createTempDirectory("tilestore4").toString
    val e = intercept[IllegalArgumentException] {
      RasterPipeline.toTileStore(df, "geometry", Seq("cat"), path, overwrite = true)
    }
    assert(e.getMessage.contains("categorize"))
  }

  test("round-1 DEFLATE regions stay readable (frame sniff)") {
    val path = java.nio.file.Files.createTempDirectory("tilestore-deflate").toString
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
    val path = java.nio.file.Files.createTempDirectory("tilestore-readback").toString
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
    val path = java.nio.file.Files.createTempDirectory("tilestore-tmp").toString
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
    val path = java.nio.file.Files.createTempDirectory("tilestore5").toString
    val st = new TileStore(path)
    val hdr = graft.raster.StoreHeader("EPSG:27700", 10, 0, 0, 100, 100, 100,
      Seq(graft.raster.ColumnSpec("a", "uint8", 255d)), Map.empty)
    st.init(hdr, overwrite = false)
    intercept[IllegalStateException] { st.init(hdr, overwrite = false) }
    st.init(hdr, overwrite = true) // allowed with flag
  }

  test("region write/read round-trips every dtype") {
    val path = java.nio.file.Files.createTempDirectory("tilestore6").toString
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
    val src = java.nio.file.Files.createTempDirectory("rsrc").toString
    RasterPipeline.toTileStore(rows.toDF("val", "geometry"), "geometry",
      Seq("val"), src, cellSize = 100000, tileSize = 100000, overwrite = true)
    val dst = java.nio.file.Files.createTempDirectory("rdst").toString
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
