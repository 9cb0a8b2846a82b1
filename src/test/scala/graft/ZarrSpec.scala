package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.geo.Wkb
import graft.raster.{RasterPipeline, TileStore, Zarr}
import org.apache.spark.sql.functions._

/** Zarr v2 bit-format export of a TileStore (the reference's real sink
  * format, `_dataframe.py:489-673`): spec-level JSON metadata, C-order
  * little-endian zlib chunks named `i.j`, absent-chunk = fill_value, and
  * the distributed read-back that inverts the export.
  */
class ZarrSpec extends SparkSpec {
  import spark.implicits._

  test("dtype mapping + payload encode/decode round-trips per dtype") {
    val vals = Array(0d, 1d, 7d, 250d)
    for (dt <- Seq("uint8", "int16", "uint16", "int32", "uint32", "int64",
        "float32", "float64")) {
      val zdt = Zarr.zarrDtype(dt)
      assert(Zarr.decode(zdt, Zarr.encode(zdt, vals)).sameElements(vals), dt)
    }
    // little-endian byte order pinned: uint16 7 -> 07 00
    assert(Zarr.encode("<u2", Array(7d)).sameElements(Array[Byte](7, 0)))
    // float fill NaN round-trips
    val f = Zarr.decode("<f4", Zarr.encode("<f4", Array(Double.NaN)))
    assert(f.length == 1 && f(0).isNaN)
  }

  test("zlib codec emits an RFC 1950 stream (numcodecs zlib compatible)") {
    val raw = Array.tabulate[Byte](1000)(i => (i % 7).toByte)
    val z = Zarr.deflate(raw, 1)
    // zlib header: CMF 0x78, FCHECK makes (CMF<<8|FLG) % 31 == 0
    assert(z(0) == 0x78.toByte && ((z(0) & 0xff) * 256 + (z(1) & 0xff)) % 31 == 0)
    assert(Zarr.inflate(z).sameElements(raw))
  }

  test(".zarray JSON: NaN fill serializes as the string \"NaN\" (spec quirk)") {
    val j = Zarr.zarrayJson((13, 7), (1, 1), "<f4", Double.NaN, 1)
    assert(j.contains("\"fill_value\":\"NaN\""))
    assert(j.contains("\"dtype\":\"<f4\""))
    assert(j.contains("\"order\":\"C\""))
    assert(j.contains("\"compressor\":{\"id\":\"zlib\",\"level\":1}"))
  }

  /** The reference's chequerboard golden layout exported to zarr: every
    * written chunk must land at the right (i, j) with the right bytes and
    * every absent chunk must read back as fill.
    */
  test("export: chunk grid, layout, attrs, consolidated metadata, read-back") {
    val rows = for {
      r <- 0 until 13; c <- 0 until 7
      i = r * 7 + c
      if i % 2 == 0
    } yield {
      val minx = c * 100000.0
      val miny = (12 - r) * 100000.0
      (i.toLong, Wkb.write(Wkb.box(minx, miny, minx + 100000, miny + 100000)))
    }
    val store = tempDir("zarr-src")
    RasterPipeline.toTileStore(rows.toDF("val", "geometry"), "geometry",
      Seq("val"), store, cellSize = 100000, tileSize = 100000,
      overwrite = true).count()

    val out = tempDir("zarr-out") + "/g"
    Zarr.export(spark, store, out, level = 1)

    // group skeleton
    assert(new String(Files.readAllBytes(Paths.get(out, ".zgroup")), UTF_8)
      .contains("\"zarr_format\":2"))
    val gattrs = new String(Files.readAllBytes(Paths.get(out, ".zattrs")), UTF_8)
    assert(gattrs.contains("\"crs\":\"EPSG:27700\""))
    assert(gattrs.contains("\"transform\":[100000.0,0.0,0.0,0.0,-100000.0,1300000.0]"))
    assert(Files.exists(Paths.get(out, ".zmetadata")))
    val zmeta = new String(Files.readAllBytes(Paths.get(out, ".zmetadata")), UTF_8)
    assert(zmeta.contains("\"zarr_consolidated_format\":1"))
    assert(zmeta.contains("\"val/.zarray\""))

    // array metadata: shape = canvas, chunks = tile grid, uint8 nodata 255
    val meta = Zarr.readArrayMeta(s"$out/val")
    assert(meta.shape == Seq(13, 7) && meta.chunks == Seq(1, 1))
    assert(meta.dtype == "|u1" && meta.fill == 255d && meta.compressed)
    val vattrs = new String(
      Files.readAllBytes(Paths.get(out, "val", ".zattrs")), UTF_8)
    assert(vattrs.contains("\"_ARRAY_DIMENSIONS\":[\"northings\",\"eastings\"]"))
    assert(vattrs.contains("\"nodata\":255"))

    // coordinate arrays: cell centres, y descending
    val xm = Zarr.readArrayMeta(s"$out/eastings")
    val xs = Zarr.readChunk(s"$out/eastings", xm, 0, 0)
    assert(xs.length == 7 && xs(0) == 50000d && xs(6) == 650000d)
    val ym = Zarr.readArrayMeta(s"$out/northings")
    val ys = Zarr.readChunk(s"$out/northings", ym, 0, 0)
    assert(ys.length == 13 && ys(0) == 1250000d && ys(12) == 50000d)

    // chunk-by-chunk equality with the store's own canvas assembly,
    // including absent chunks reading back as fill
    val canvas = new TileStore(store).assembleCanvas("val")
    for (r <- 0 until 13; c <- 0 until 7) {
      val got = Zarr.readChunk(s"$out/val", meta, r, c)(0)
      assert(got == canvas(r)(c), s"chunk ($r,$c)")
      val i = r * 7 + c
      if (i % 2 != 0) assert(!Files.exists(Paths.get(out, "val", s"$r.$c")),
        s"odd cell ($r,$c) must be an absent chunk, not a written fill chunk")
    }

    // distributed read-back inverts the export (non-fill cells only)
    val cells = Zarr.cells(spark, s"$out/val")
      .as[(Int, Int, Double)].collect().toSet
    val expected = (for {
      r <- 0 until 13; c <- 0 until 7
      i = r * 7 + c
      if i % 2 == 0
    } yield (r, c, i.toDouble)).toSet
    assert(cells == expected)
  }

  test("multi-cell tiles: region C-order row 0 is the tile's TOP row") {
    // one 2x2-cell tile at the canvas top-left, values distinguish rows
    val rows = Seq(
      (1L, Wkb.write(Wkb.box(0, 1250000, 50000, 1300000))), // top-left cell
      (2L, Wkb.write(Wkb.box(50000, 1200000, 100000, 1250000))) // bottom-right
    )
    val store = tempDir("zarr-src2")
    RasterPipeline.toTileStore(rows.toDF("val", "geometry"), "geometry",
      Seq("val"), store, cellSize = 50000, tileSize = 100000,
      overwrite = true).count()
    val out = tempDir("zarr-out2") + "/g"
    Zarr.export(spark, store, out, level = 1)
    val meta = Zarr.readArrayMeta(s"$out/val")
    assert(meta.shape == Seq(26, 14) && meta.chunks == Seq(2, 2))
    val chunk = Zarr.readChunk(s"$out/val", meta, 0, 0)
    // C order: [top-left, top-right, bottom-left, bottom-right]
    assert(chunk.sameElements(Array(1d, meta.fill, meta.fill, 2d)))
  }

  test("external-writer compatibility: / separator, Infinity fill, no compressor") {
    // hand-built zarr array as another writer would emit it: nested i/j
    // chunk dirs, uncompressed chunks, Infinity fill, no field defaults
    val d = Paths.get(tempDir("zarr-ext"), "a")
    Files.createDirectories(d)
    Files.write(d.resolve(".zarray"),
      """{"zarr_format":2,"shape":[4,4],"chunks":[2,2],"dtype":"<f8",
        |"compressor":null,"fill_value":"Infinity","order":"C",
        |"filters":null,"dimension_separator":"/"}""".stripMargin.getBytes(UTF_8))
    val meta = Zarr.readArrayMeta(d.toString)
    assert(meta.sep == "/" && !meta.compressed && meta.fill.isPosInfinity)
    // chunk (1,0): nested dir layout, raw little-endian doubles
    val bb = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(5d, Double.PositiveInfinity, 7d, 8d).foreach(bb.putDouble)
    Files.createDirectories(d.resolve("1"))
    Files.write(d.resolve("1").resolve("0"), bb.array())
    assert(Zarr.readChunk(d.toString, meta, 1, 0)
      .sameElements(Array(5d, Double.PositiveInfinity, 7d, 8d)))
    // absent chunk reads as fill
    assert(Zarr.readChunk(d.toString, meta, 0, 1).forall(_.isPosInfinity))
    // distributed scan discovers nested chunks and masks the fill
    val got = Zarr.cells(spark, d.toString)
      .as[(Int, Int, Double)].collect().toSet
    assert(got == Set((2, 0, 5d), (3, 0, 7d), (3, 1, 8d)))
    // a missing dimension_separator field defaults to "."
    Files.write(d.resolve(".zarray"),
      """{"zarr_format":2,"shape":[4,4],"chunks":[2,2],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin.getBytes(UTF_8))
    assert(Zarr.readArrayMeta(d.toString).sep == ".")
  }

  test("readArrayMeta rejects non-v2 / non-C / unknown compressor") {
    val d = Paths.get(tempDir("zarr-bad"))
    Files.write(d.resolve(".zarray"),
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<f8",
        |"compressor":{"id":"blosc"},"fill_value":null,"order":"C",
        |"filters":null}""".stripMargin.getBytes(UTF_8))
    val e = intercept[IllegalArgumentException](Zarr.readArrayMeta(d.toString))
    assert(e.getMessage.contains("blosc"))
    Files.write(d.resolve(".zarray"),
      """{"zarr_format":2,"shape":[2],"chunks":[2],"dtype":"<f8",
        |"compressor":null,"fill_value":null,"order":"F",
        |"filters":null}""".stripMargin.getBytes(UTF_8))
    intercept[IllegalArgumentException](Zarr.readArrayMeta(d.toString))
  }
}
