package graft

import graft.core.LayerWrapper
import graft.input.GeoJson
import graft.geo.Wkb
import org.apache.spark.sql.types._

/** GeoJSON source (reference S6 `.geojson` E2E format): from-scratch
  * RFC 7946 parser over a minimal recursive-descent JSON reader.
  */
class GeoJsonSpec extends SparkSpec {
  import spark.implicits._

  test("point round-trip preserves typed properties and geometry") {
    val df = Seq(
      (1L, "alpha", 2.25, true, 1000.0, 2000.0),
      (2L, "be\"ta\n", -0.75, false, 3000.0, 4000.0)
    ).toDF("key", "name", "score", "flag", "x", "y")
    val dir = tempDir("gj")
    GeoJson.write(df, s"$dir/t.geojson")
    val back = GeoJson.read(spark, s"$dir/t.geojson")
    assert(back.schema.fieldNames.toSeq ==
      Seq("fid", "key", "name", "score", "flag", "geom"))
    assert(back.schema("key").dataType == LongType)
    assert(back.schema("score").dataType == DoubleType)
    assert(back.schema("flag").dataType == BooleanType)
    val got = back.orderBy("fid").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(got.map(_.getString(2)).toSeq == Seq("alpha", "be\"ta\n"))
    assert(got.map(_.getDouble(3)).toSeq == Seq(2.25, -0.75))
    val pts = got.map(r => Wkb.read(r.getAs[Array[Byte]](5)))
    assert(pts.map(p => (p.getCoordinate.x, p.getCoordinate.y)).toSeq ==
      Seq((1000.0, 2000.0), (3000.0, 4000.0)))
  }

  test("hand-written collection: geometry classes, property union, escapes") {
    val doc =
      """{"type": "FeatureCollection", "features": [
        |  {"type": "Feature", "properties": {"a": 1, "b": "x"},
        |   "geometry": {"type": "LineString", "coordinates": [[0, 0], [3, 4]]}},
        |  {"type": "Feature", "properties": {"a": 2.5, "c": true},
        |   "geometry": {"type": "Polygon", "coordinates":
        |     [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]],
        |      [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]]]}},
        |  {"type": "Feature", "properties": {"a": null, "b": "ué\n"},
        |   "geometry": {"type": "MultiPolygon", "coordinates":
        |     [[[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]],
        |      [[[5, 5], [7, 5], [7, 7], [5, 7], [5, 5]]]]}},
        |  {"type": "Feature", "properties": {"a": 7}, "geometry": null}
        |]}""".stripMargin
    val dir = tempDir("gjh")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/h.geojson"), doc)
    val back = GeoJson.read(spark, s"$dir/h.geojson").orderBy("fid").collect()
    assert(back.length == 4)
    // 'a' widens long -> double across features; missing props are null
    assert(back(0).getDouble(1) == 1.0 && back(0).getString(2) == "x")
    assert(back(1).getDouble(1) == 2.5 && back(1).isNullAt(2) && back(1).getBoolean(3))
    assert(back(2).isNullAt(1) && back(2).getString(2) == "ué\n")
    val ls = Wkb.read(back(0).getAs[Array[Byte]]("geom"))
    assert(ls.getGeometryType == "LineString" && ls.getLength == 5.0)
    val pg = Wkb.read(back(1).getAs[Array[Byte]]("geom"))
    assert(pg.getGeometryType == "Polygon" && pg.getArea == 96.0)
    val mp = Wkb.read(back(2).getAs[Array[Byte]]("geom"))
    assert(mp.getGeometryType == "MultiPolygon" && mp.getArea == 8.0)
    assert(back(3).isNullAt(back(3).fieldIndex("geom")))
  }

  test("parser rejects malformed documents") {
    intercept[IllegalArgumentException](GeoJson.parseJson("""{"a": }"""))
    intercept[IllegalArgumentException](GeoJson.parseJson("""{"a": 1} extra"""))
    intercept[Exception](GeoJson.parseJson("""{"a": [1, 2"""))
  }

  test("from_files dispatches .geojson") {
    val df = Seq((7L, 100.0, 200.0)).toDF("key", "x", "y")
    val dir = tempDir("gjf")
    GeoJson.write(df, s"$dir/layer.geojson")
    val layer = LayerWrapper.fromFiles(spark, s"$dir/layer.geojson")
    assert(layer.name == "layer")
    assert(layer.data.count() == 1)
    assert(layer.data.schema("geom").dataType == BinaryType)
  }
}
