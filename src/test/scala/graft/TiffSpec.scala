package graft

import graft.raster.Tiff
import graft.geo.Wkb

import java.nio.{ByteBuffer, ByteOrder}

/** GeoTIFF source (reference S7 `.tif` dispatch): from-scratch TIFF 6.0
  * + GeoTIFF-tag parse, strip decode (none/DEFLATE), both byte orders.
  */
class TiffSpec extends SparkSpec {

  private def grid(w: Int, h: Int)(f: (Int, Int) => Double): Array[Double] =
    Array.tabulate(h * w)(i => f(i / w, i % w))

  test("uint8 DEFLATE multi-strip round-trip with georeferencing") {
    val (w, h) = (50, 40)
    val data = grid(w, h)((r, c) => ((r * 31 + c * 7) % 251).toDouble)
    val dir = tempDir("tif")
    Tiff.write(s"$dir/g.tif", w, h, data, "uint8", cellSize = 10.0,
      deflate = true, rowsPerStrip = 16) // 3 strips, last partial
    val (inf, back) = Tiff.readPixels(s"$dir/g.tif")
    assert(inf.width == w && inf.height == h && inf.dtype == "uint8")
    assert(inf.compression == 8 && inf.stripOffsets.length == 3)
    assert(back.toSeq == data.toSeq)
    // georef: top-left cell box spans (0, h*10-10, 10, h*10)
    val cells = Tiff.cells(spark, s"$dir/g.tif", nodata = -1.0)
      .filter("row = 0 AND col = 0").collect()
    val env = Wkb.read(cells(0).getAs[Array[Byte]]("geometry")).getEnvelopeInternal
    assert(env.getMinX == 0.0 && env.getMaxX == 10.0)
    assert(env.getMaxY == h * 10.0 && env.getMinY == h * 10.0 - 10.0)
  }

  test("float and signed-int dtypes round-trip exactly") {
    val (w, h) = (7, 5)
    val dir = tempDir("tifd")
    Seq(
      ("float64", grid(w, h)((r, c) => r * 0.5 - c * 0.25)),
      ("float32", grid(w, h)((r, c) => (r - c).toDouble / 4.0)),
      ("int16", grid(w, h)((r, c) => (r * c - 17).toDouble)),
      ("uint16", grid(w, h)((r, c) => (r * 1000 + c).toDouble)),
      ("int32", grid(w, h)((r, c) => (r * 100000 - c * 999).toDouble))
    ).foreach { case (dt, data) =>
      Tiff.write(s"$dir/$dt.tif", w, h, data, dt, deflate = dt.hashCode % 2 == 0)
      val (inf, back) = Tiff.readPixels(s"$dir/$dt.tif")
      assert(inf.dtype == dt, s"dtype $dt")
      assert(back.toSeq == data.toSeq, s"pixels $dt")
    }
  }

  test("big-endian (MM) file parses — bytes this writer cannot produce") {
    // hand-built: 2x1 uint8 uncompressed, big-endian throughout
    val entries = Seq(
      (256, 3, 1, 2), (257, 3, 1, 1), (258, 3, 1, 8), (259, 3, 1, 1),
      (262, 3, 1, 1), (273, 4, 1, 122), (277, 3, 1, 1), (278, 3, 1, 1),
      (279, 4, 1, 2))
    val b = ByteBuffer.allocate(124).order(ByteOrder.BIG_ENDIAN)
    b.put(0, 'M'.toByte); b.put(1, 'M'.toByte); b.putShort(2, 42); b.putInt(4, 8)
    b.putShort(8, entries.length.toShort)
    entries.zipWithIndex.foreach { case ((tag, typ, cnt, v), i) =>
      val eo = 10 + i * 12
      b.putShort(eo, tag.toShort); b.putShort(eo + 2, typ.toShort)
      b.putInt(eo + 4, cnt)
      if (typ == 3) b.putShort(eo + 8, v.toShort) else b.putInt(eo + 8, v)
    }
    b.putInt(10 + entries.length * 12, 0)
    b.put(122, 200.toByte); b.put(123, 5.toByte)
    val dir = tempDir("tifbe")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/be.tif"), b.array())
    val (inf, px) = Tiff.readPixels(s"$dir/be.tif")
    assert(!inf.littleEndian && inf.width == 2 && inf.height == 1)
    assert(px.toSeq == Seq(200.0, 5.0))
  }

  test("distributed cells drop nodata and match the closed form") {
    val (w, h) = (30, 20)
    val data = grid(w, h)((r, c) => ((r * 31 + c * 7) % 11).toDouble)
    val dir = tempDir("tifc")
    Tiff.write(s"$dir/n.tif", w, h, data, "uint8", rowsPerStrip = 8)
    val got = Tiff.cells(spark, s"$dir/n.tif", nodata = 0.0).collect()
    val expected = (for {
      r <- 0 until h; c <- 0 until w
      v = (r * 31 + c * 7) % 11 if v != 0
    } yield (r.toLong, c.toLong, v.toDouble)).toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      == expected)
  }

  test("unsupported layouts are rejected with clear errors") {
    val dir = tempDir("tifx")
    val p = s"$dir/bad.tif"
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      "notatiff".getBytes("US-ASCII"))
    intercept[IllegalArgumentException](Tiff.info(p))
  }
}
