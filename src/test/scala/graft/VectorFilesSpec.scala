package graft

import graft.input.{GeoJson, Gpkg, Shapefile, VectorFiles}
import graft.geo.Wkb
import org.apache.spark.sql.types._

/** Parallel multi-file vector ingest (reference S6 read_vector_files):
  * directory scan + per-executor parsing + coerce_to_schema semantics.
  */
class VectorFilesSpec extends SparkSpec {
  import spark.implicits._

  private def feats(ks: Range) =
    ks.map(k => (k.toLong, s"n$k", k * 0.25, k * 10.0, k * 20.0))
      .toDF("key", "name", "score", "x", "y")

  test("mixed shp/geojson/gpkg directory unions into one aligned DataFrame") {
    val dir = tempDir("vf")
    Shapefile.write(feats(0 until 5), s"$dir/a.shp")
    GeoJson.write(feats(5 until 9), s"$dir/b.geojson")
    Gpkg.write(feats(9 until 12), s"$dir/c.gpkg")
    val df = VectorFiles.read(spark, dir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("fid", "key", "name", "score", "geom"))
    assert(df.rdd.getNumPartitions >= 3,
      "each file must parse in its own task")
    val got = df.orderBy("key").collect()
    assert(got.length == 12)
    assert(got.map(_.getLong(1)).toSeq == (0L until 12L))
    assert(got.map(_.getDouble(3)).toSeq == (0 until 12).map(_ * 0.25))
    val p = Wkb.read(got(11).getAs[Array[Byte]]("geom"))
    assert((p.getCoordinate.x, p.getCoordinate.y) == (110.0, 220.0))
    // per-file fids restart at 1
    assert(got.map(_.getLong(0)).toSeq ==
      Seq(1L, 2, 3, 4, 5, 1, 2, 3, 4, 1, 2, 3))
  }

  test("suffix and pattern filters select files like the reference kwargs") {
    val dir = tempDir("vfs")
    Shapefile.write(feats(0 until 3), s"$dir/keep-1.shp")
    Shapefile.write(feats(3 until 5), s"$dir/keep-2.shp")
    GeoJson.write(feats(5 until 7), s"$dir/other.geojson")
    assert(VectorFiles.read(spark, dir, suffix = ".shp").count() == 5)
    assert(VectorFiles.read(spark, dir, pattern = "keep-2.*").count() == 2)
    assert(VectorFiles.read(spark, dir).count() == 7)
  }

  test("coerce_to_schema: missing columns null, extras dropped, long widens") {
    val dir = tempDir("vfc")
    // head file (sorted first) defines schema: key long, name, score double
    Shapefile.write(feats(0 until 2), s"$dir/a.shp")
    // second file: no score, extra flag, and key stays long
    val other = Seq((7L, "x", true, 1.0, 2.0), (8L, "y", false, 3.0, 4.0))
      .toDF("key", "name", "flag", "x", "y")
    Shapefile.write(other, s"$dir/b.shp")
    val df = VectorFiles.read(spark, dir, suffix = ".shp")
    assert(df.schema.fieldNames.toSeq ==
      Seq("fid", "key", "name", "score", "geom"))
    val got = df.orderBy("key").collect()
    assert(got.length == 4)
    assert(got(2).getLong(1) == 7L && got(2).isNullAt(3), "missing score -> null")
    assert(got(0).getDouble(3) == 0.0)
    // strict mode refuses the mismatch
    val err = intercept[org.apache.spark.SparkException] {
      VectorFiles.read(spark, dir, suffix = ".shp",
        coerceToSchema = false).count()
    }
    assert(err.getMessage.contains("coerceToSchema") ||
      Option(err.getCause).exists(_.getMessage.contains("coerceToSchema")))
  }

  test("empty directory errors clearly") {
    val dir = tempDir("vfe")
    intercept[IllegalArgumentException](VectorFiles.read(spark, dir))
  }
}
