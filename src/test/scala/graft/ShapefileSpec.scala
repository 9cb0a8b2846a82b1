package graft

import graft.core.LayerWrapper
import graft.input.Shapefile
import graft.geo.Wkb
import org.apache.spark.sql.types._

import java.nio.{ByteBuffer, ByteOrder}

/** Shapefile source (reference S6 `.shp` E2E format): from-scratch
  * mixed-endian .shp/.shx/.dbf codec per the public ESRI Technical
  * Description + dBASE III layout.
  */
class ShapefileSpec extends SparkSpec {
  import spark.implicits._

  test("point round-trip preserves typed dbf attributes and geometry") {
    val df = Seq(
      (1L, "alpha", 2.25, true, 1000.0, 2000.0),
      (2L, "beta", -0.75, false, 3000.0, 4000.0),
      (3L, "gamma", 12.5, true, 5000.0, 6000.0)
    ).toDF("key", "name", "score", "flag", "x", "y")
    val dir = tempDir("shp")
    Shapefile.write(df, s"$dir/t.shp")
    val back = Shapefile.read(spark, s"$dir/t.shp")
    assert(back.schema.fieldNames.toSeq ==
      Seq("fid", "key", "name", "score", "flag", "geom"))
    assert(back.schema("key").dataType == LongType)
    assert(back.schema("score").dataType == DoubleType)
    assert(back.schema("flag").dataType == BooleanType)
    assert(back.schema("name").dataType == StringType)
    val got = back.orderBy("fid").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_.getString(2)).toSeq == Seq("alpha", "beta", "gamma"))
    assert(got.map(_.getDouble(3)).toSeq == Seq(2.25, -0.75, 12.5))
    assert(got.map(_.getBoolean(4)).toSeq == Seq(true, false, true))
    val pts = got.map(r => Wkb.read(r.getAs[Array[Byte]](5)))
    assert(pts.map(p => (p.getCoordinate.x, p.getCoordinate.y)).toSeq ==
      Seq((1000.0, 2000.0), (3000.0, 4000.0), (5000.0, 6000.0)))
  }

  test("shx index matches shp record offsets") {
    val df = Seq((1L, 10.0, 20.0), (2L, 30.0, 40.0)).toDF("k", "x", "y")
    val dir = tempDir("shpx")
    Shapefile.write(df, s"$dir/t.shp")
    val shx = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/t.shx"))
    val be = ByteBuffer.wrap(shx).order(ByteOrder.BIG_ENDIAN)
    assert(be.getInt(0) == 9994)
    // record 0 at word offset 50 (byte 100), content 10 words (20 bytes)
    assert(be.getInt(100) == 50 && be.getInt(104) == 10)
    // record 1 at byte 100 + 8 + 20 = 128 -> word 64
    assert(be.getInt(108) == 64 && be.getInt(112) == 10)
  }

  /** Hand-build a polygon .shp record (outer ring CW + hole CCW) and a
    * multi-part polyline — geometry classes the point writer never
    * emits, so the reader's part/ring logic is pinned against raw bytes.
    */
  test("polygon with hole and multi-part polyline parse from raw records") {
    def shpFile(shapeType: Int, content: Array[Byte]): Array[Byte] = {
      val total = 100 + 8 + content.length
      val b = ByteBuffer.allocate(total)
      b.order(ByteOrder.BIG_ENDIAN)
      b.putInt(0, 9994); b.putInt(24, total / 2)
      b.order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(28, 1000); b.putInt(32, shapeType)
      b.order(ByteOrder.BIG_ENDIAN)
      b.putInt(100, 1); b.putInt(104, content.length / 2)
      content.zipWithIndex.foreach { case (x, i) => b.put(108 + i, x) }
      b.array()
    }
    def poly(shapeType: Int, parts: Seq[Seq[(Double, Double)]]): Array[Byte] = {
      val nPts = parts.map(_.length).sum
      val b = ByteBuffer.allocate(44 + parts.length * 4 + nPts * 16)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(0, shapeType)
      b.putInt(36, parts.length); b.putInt(40, nPts)
      var s = 0
      parts.zipWithIndex.foreach { case (p, k) =>
        b.putInt(44 + k * 4, s); s += p.length
      }
      val base = 44 + parts.length * 4
      parts.flatten.zipWithIndex.foreach { case ((x, y), k) =>
        b.putDouble(base + k * 16, x); b.putDouble(base + k * 16 + 8, y)
      }
      b.array()
    }
    // polygon: CW outer 10x10 square, CCW 2x2 hole
    val outer = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0))
    val hole = Seq((4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0))
    val dir = tempDir("shpp")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/p.shp"),
      shpFile(5, poly(5, Seq(outer, hole))))
    val pg = Wkb.read(Shapefile.read(spark, s"$dir/p.shp")
      .collect()(0).getAs[Array[Byte]]("geom"))
    assert(pg.getGeometryType == "Polygon")
    assert(pg.getArea == 100.0 - 4.0)
    assert(pg.getNumGeometries == 1)
    // two-part polyline
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/l.shp"),
      shpFile(3, poly(3, Seq(Seq((0.0, 0.0), (5.0, 0.0)), Seq((0.0, 1.0), (5.0, 1.0), (9.0, 1.0))))))
    val ml = Wkb.read(Shapefile.read(spark, s"$dir/l.shp")
      .collect()(0).getAs[Array[Byte]]("geom"))
    assert(ml.getGeometryType == "MultiLineString")
    assert(ml.getLength == 5.0 + 9.0)
  }

  test("from_files dispatches .shp and null/deleted dbf records handled") {
    val df = Seq((7L, "pt", 100.0, 200.0)).toDF("key", "name", "x", "y")
    val dir = tempDir("shpf")
    Shapefile.write(df, s"$dir/layer.shp")
    val layer = LayerWrapper.fromFiles(spark, s"$dir/layer.shp")
    assert(layer.name == "layer")
    assert(layer.data.count() == 1)
    assert(layer.data.schema("geom").dataType == BinaryType)
  }
}
