package graft

import graft.core.LayerWrapper
import graft.input.Gpkg
import graft.geo.Wkb
import org.apache.spark.sql.types._

/** GeoPackage source (reference S5: `.gpkg` dispatch via read_gpkg,
  * `dataframe.py:194-195`): the from-scratch SQLite b-tree walker and
  * GPKG geometry-blob codec, validated BOTH against our own writer and
  * against a committed fixture produced by the genuine SQLite library
  * (bytes this repo's code did not generate: real page layout, real
  * freeblock/overflow decisions, multi-leaf b-tree with interior page).
  */
class GpkgSpec extends SparkSpec {
  import spark.implicits._

  test("gpkg round-trip preserves attributes and point geometries") {
    val df = Seq(
      (1L, "alpha", 0.5, 1000.0, 2000.0),
      (2L, "beta", -1.25, 3000.0, 4000.0),
      (3L, "gamma", 99.0, 5000.0, 6000.0)
    ).toDF("key", "name", "score", "x", "y")
    val path = tempDir("gpkg") + "/t.gpkg"
    Gpkg.write(df, path)
    val back = Gpkg.read(spark, path)
    assert(back.schema.fieldNames.toSeq ==
      Seq("fid", "key", "name", "score", "geom"))
    assert(back.schema("key").dataType == LongType)
    assert(back.schema("score").dataType == DoubleType)
    assert(back.schema("geom").dataType == BinaryType)
    val got = back.orderBy("fid").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_.getString(2)).toSeq == Seq("alpha", "beta", "gamma"))
    assert(got.map(_.getDouble(3)).toSeq == Seq(0.5, -1.25, 99.0))
    val pts = got.map(r => Wkb.read(r.getAs[Array[Byte]](4)))
    assert(pts.map(p => (p.getCoordinate.x, p.getCoordinate.y)).toSeq ==
      Seq((1000.0, 2000.0), (3000.0, 4000.0), (5000.0, 6000.0)))
  }

  test("real-SQLite fixture parses: multi-leaf b-tree, interior page, overflow chain") {
    val url = getClass.getResource("/real_sqlite.gpkg")
    assert(url != null, "committed fixture missing")
    val back = Gpkg.read(spark, url.getPath).orderBy("fid").collect()
    assert(back.length == 300)
    (0 until 300).foreach { i =>
      val r = back(i)
      assert(r.getLong(0) == i + 1L)
      assert(r.getString(1) == s"site-$i")
      assert(r.getDouble(2) == i * 0.5)
      val expectedTag = if (i == 150) "T" * 6000 else s"tag${i % 7}"
      assert(r.getString(3) == expectedTag,
        s"row $i tag mismatch (overflow path if i==150)")
      val p = Wkb.read(r.getAs[Array[Byte]](4))
      assert(p.getCoordinate.x == (1000 + i * 37 % 700000).toDouble)
      assert(p.getCoordinate.y == (2000 + i * 91 % 1200000).toDouble)
    }
  }

  test("own-writer multi-leaf + overflow round-trips") {
    val big = "B" * 9000 // spans two overflow pages at 4096-byte pages
    val df = (0 until 500).map { i =>
      (i.toLong, if (i == 250) big else s"n$i", i * 10.0, i * 20.0)
    }.toDF("key", "name", "x", "y")
    val path = tempDir("gpkgbig") + "/b.gpkg"
    Gpkg.write(df, path)
    val back = Gpkg.read(spark, path).orderBy("fid").collect()
    assert(back.length == 500)
    assert(back(250).getString(2) == big)
    assert(back(499).getString(2) == "n499")
    val p = Wkb.read(back(499).getAs[Array[Byte]](3))
    assert((p.getCoordinate.x, p.getCoordinate.y) == (4990.0, 9980.0))
  }

  test("parseCreate: quoted names, table constraints skipped, ipk detected") {
    val cols = Gpkg.parseCreate(
      """CREATE TABLE "t" (fid INTEGER PRIMARY KEY, "my col" TEXT, v REAL,
        |geom POINT, CONSTRAINT c CHECK (v > 0), PRIMARY KEY (fid))""".stripMargin)
    assert(cols.map(_._1) == Seq("fid", "my col", "v", "geom"))
    assert(cols.head._3, "fid must be detected as INTEGER PRIMARY KEY")
    assert(!cols(1)._3 && !cols(2)._3)
  }

  test("from_files dispatches .gpkg through the SQLite reader") {
    val df = Seq((7L, "pt", 100.0, 200.0)).toDF("key", "name", "x", "y")
    val dir = tempDir("gpkgf")
    val path = s"$dir/layer.gpkg"
    Gpkg.write(df, path)
    val layer = LayerWrapper.fromFiles(spark, path)
    assert(layer.name == "layer")
    assert(layer.data.count() == 1)
    assert(layer.data.schema("geom").dataType == BinaryType)
  }

  test("gpkg geometry blob header: srs_id and envelope variants strip correctly") {
    val wkb = Wkb.write(Wkb.point(12.0, 34.0))
    val blob = Gpkg.geometryBlob(wkb, 27700)
    assert(Gpkg.geometrySrsId(blob) == 27700)
    assert(Gpkg.stripGeometryHeader(blob).toSeq == wkb.toSeq)
    // envelope indicator 1 (32-byte xy envelope), big-endian header ints
    val withEnv = Array[Byte]('G', 'P', 0, 0x02) ++
      Array[Byte](0, 0, 0x6c.toByte, 0x34.toByte) ++ // 27700 BE
      new Array[Byte](32) ++ wkb
    assert(Gpkg.geometrySrsId(withEnv) == 27700)
    assert(Gpkg.stripGeometryHeader(withEnv).toSeq == wkb.toSeq)
  }
}
