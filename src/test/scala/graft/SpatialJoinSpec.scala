package graft

import graft.geo.GeoExpressions._
import graft.geo.Wkb
import graft.ops.{KnnJoin, SpatialJoin}
import graft.input.WebTable
import org.apache.spark.sql.functions._

/** Spatial join / kNN against brute-force JTS oracles on seeded random
  * data (SURVEY.md §5 mapping (f): PIP vs JTS oracle).
  */
class SpatialJoinSpec extends SparkSpec {
  import spark.implicits._

  private def rnd(i: Long, salt: Long): Double =
    java.lang.Long.remainderUnsigned(WebTable.splitmix64(i * 1000003L + salt), 1000000L) / 1000000.0

  private lazy val pts = (0L until 2000L).map { i =>
    (i, rnd(i, 1) * 700000.0, rnd(i, 2) * 1300000.0)
  }
  // Irregular triangles, not axis-aligned boxes — exercises the JTS refine.
  private lazy val tris = (0L until 30L).map { j =>
    val cx = rnd(j, 3) * 650000.0
    val cy = rnd(j, 4) * 1250000.0
    val r1 = 5000.0 + rnd(j, 5) * 60000.0
    val wkt = s"POLYGON (($cx ${cy + r1}, ${cx - r1} ${cy - r1 / 2}, " +
      s"${cx + r1 * 0.8} ${cy - r1}, $cx ${cy + r1}))"
    (j, wkt)
  }

  // 1,280 small irregular polygons packed over 60 km x 60 km, so each
  // task thread of the join meets over a thousand distinct testers in
  // the refine's shared table. Points include one vertex of every third
  // polygon, where covers and contains disagree.
  private lazy val densePolys = (0L until 1280L).map { j =>
    val cx = 500000.0 + rnd(j, 6) * 60000.0
    val cy = 200000.0 + rnd(j, 7) * 60000.0
    val r = 500.0 + rnd(j, 8) * 1500.0
    val ring = (0 until 7).map { v =>
      val a = 2 * math.Pi * (v + 0.8 * rnd(j * 7 + v, 9)) / 7
      val rv = r * (0.5 + 0.5 * rnd(j * 7 + v, 10))
      s"${cx + rv * math.cos(a)} ${cy + rv * math.sin(a)}"
    }
    (j, (ring :+ ring.head).mkString("POLYGON ((", ", ", "))"))
  }
  private lazy val densePts = (0L until 6000L).map { i =>
    (i, 500000.0 + rnd(i, 11) * 60000.0, 200000.0 + rnd(i, 12) * 60000.0)
  } ++ densePolys.filter(_._1 % 3 == 0).map { case (j, wkt) =>
    val c = Wkb.readWkt(wkt).getCoordinates.head
    (100000L + j, c.x, c.y)
  }

  test("cell-indexed point-in-polygon join matches brute-force JTS oracle") {
    val inputs = Seq(
      ("30 triangles", pts, tris, Seq("covers")),
      ("1,280 dense polygons", densePts, densePolys, Seq("covers", "contains")))
    for ((name, points, shapes, predicates) <- inputs; predicate <- predicates) {
      // 8 partitions: several task threads share the refine's testers
      val ptsDf = points.toDF("pid", "x", "y").repartition(8)
      val polyDf = shapes.toDF("poly_id", "wkt")
        .withColumn("geometry", st_geomfromtext(col("wkt"))).drop("wkt")

      val got = SpatialJoin.pointInPolygon(ptsDf, "x", "y", polyDf, "geometry",
          resolution = 10000L, broadcastPolys = true, predicate = predicate)
        .select("pid", "poly_id").as[(Long, Long)].collect().toSet

      val polys = shapes.map { case (j, wkt) => j -> Wkb.readWkt(wkt) }
      val expected = (for {
        (pid, x, y) <- points
        (jid, g) <- polys
        if g.getEnvelopeInternal.covers(x, y)
        if (if (predicate == "contains") g.contains(Wkb.point(x, y))
            else g.covers(Wkb.point(x, y)))
      } yield (pid, jid)).toSet

      assert(expected.nonEmpty, s"$name: oracle produced no pairs — fixture broken")
      assert(got == expected, s"$name, $predicate")
    }
  }

  test("geomJoin polygons x polygons intersects matches oracle incl. multi-cell dedupe") {
    val a = tris.take(15).toDF("a_id", "wkt")
      .withColumn("ga", st_geomfromtext(col("wkt"))).drop("wkt")
    val b = tris.drop(15).toDF("b_id", "wkt")
      .withColumn("gb", st_geomfromtext(col("wkt"))).drop("wkt")
    val got = SpatialJoin.geomJoin(a, "ga", "a_id", b, "gb", "b_id",
        resolution = 100000L, predicate = "intersects", broadcastRight = true)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(got.length == got.toSet.size, "dedupe failed: duplicate pairs")
    val polys = tris.map { case (j, wkt) => j -> Wkb.readWkt(wkt) }.toMap
    val expected = (for {
      (aid, _) <- tris.take(15)
      (bid, _) <- tris.drop(15)
      if polys(aid).intersects(polys(bid))
    } yield (aid, bid)).toSet
    assert(got.toSet == expected)
  }

  test("non-broadcast (sort-merge) spatial join path matches broadcast path") {
    val ptsDf = pts.toDF("pid", "x", "y")
    val polyDf = tris.toDF("poly_id", "wkt")
      .withColumn("geometry", st_geomfromtext(col("wkt"))).drop("wkt")
    val viaBroadcast = SpatialJoin.pointInPolygon(ptsDf, "x", "y", polyDf, "geometry",
        resolution = 10000L, broadcastPolys = true, predicate = "covers")
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    val viaShuffle = SpatialJoin.pointInPolygon(ptsDf, "x", "y", polyDf, "geometry",
        resolution = 10000L, broadcastPolys = false, predicate = "covers")
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(viaShuffle == viaBroadcast)
  }

  test("H3- and S2-keyed spatial joins return the same pairs as the BNG join") {
    val ptsDf = pts.toDF("pid", "x", "y")
    val polyDf = tris.toDF("poly_id", "wkt")
      .withColumn("geometry", st_geomfromtext(col("wkt"))).drop("wkt")
    val viaBng = SpatialJoin.pointInPolygon(ptsDf, "x", "y", polyDf, "geometry",
        resolution = 10000L, predicate = "covers")
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    val viaS2 = SpatialJoin.pointInPolygonSpherical(ptsDf, "x", "y",
        polyDf, "geometry", system = "s2", res = 11)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    val viaH3 = SpatialJoin.pointInPolygonSpherical(ptsDf, "x", "y",
        polyDf, "geometry", system = "h3", res = 7)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(viaS2 == viaBng)
    assert(viaH3 == viaBng)
  }

  test("spatial join result invariant under input partitioning (north rule)") {
    val polyDf = tris.toDF("poly_id", "wkt")
      .withColumn("geometry", st_geomfromtext(col("wkt"))).drop("wkt")
    def run(parts: Int) = SpatialJoin.pointInPolygon(
        pts.toDF("pid", "x", "y").repartition(parts), "x", "y",
        polyDf, "geometry", resolution = 10000L)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    assert(run(1) == run(13))
  }

  test("adaptive-radius kNN equals broadcast brute-force kNN") {
    val qs = (0L until 25L).map { q =>
      (q, rnd(q, 17) * 700000.0, rnd(q, 18) * 1300000.0)
    }.toDF("qid", "qx", "qy")
    val data = pts.toDF("did", "x", "y")
    val adaptive = KnnJoin.knnAdaptive(qs, "qid", "qx", "qy", data, "did", "x", "y",
      k = 7, resolution = 10000L) // sparse cells => fallback path exercised
      .select("qid", "did", "rank").as[(Long, Long, Int)].collect().toSet
    val bruteForce = KnnJoin.knnBroadcast(qs, "qid", "qx", "qy", data, "did", "x", "y", k = 7)
      .select("qid", "did", "rank").as[(Long, Long, Int)].collect().toSet
    assert(adaptive.size == 25 * 7)
    assert(adaptive == bruteForce)
  }

  test("boundary-aligned candidates: how modes on a grid-aligned box") {
    import graft.index.IndexExpressions._
    // Box exactly one 10 km cell, every edge on a grid line.
    val df = Seq((1L, Wkb.write(Wkb.box(400000, 400000, 410000, 410000))))
      .toDF("id", "geometry")
    def refs(how: String): Set[String] =
      df.select(explode(bng_index(col("geometry"), 10000L, how)).as("r"))
        .as[String].collect().toSet
    def cell(e: Long, n: Long): String =
      graft.index.Bng.gridRef(e * 10000d, n * 10000d, 10000)
    // intersects (join candidates) is touch-INCLUSIVE: the right/top
    // neighbours share a grid line with the box, and a point lying on
    // that line floor-maps to them — they must stay candidates.
    assert(refs("intersects") ==
      Set(cell(40, 40), cell(41, 40), cell(40, 41), cell(41, 41)))
    // interior (rasterize tile assignment) keeps only the burnable cell.
    assert(refs("interior") == Set(cell(40, 40)))
    // contains: the box equals the cell, JTS contains(equal) = true.
    assert(refs("contains") == Set(cell(40, 40)))
    // invariant: for EVERY point p of the geometry (boundary included),
    // the cell p floor-maps to is among the intersects candidates.
    val inter = refs("intersects")
    for (x <- Seq(400000d, 405000d, 410000d); y <- Seq(400000d, 405000d, 410000d))
      assert(inter.contains(graft.index.Bng.gridRef(x, y, 10000)), s"($x,$y)")
  }

  test("reference 'contains' shape: intersecting cells + containment flag") {
    import graft.index.IndexExpressions._
    // Two cells wide, one tall, grid-aligned.
    val df = Seq((1L, Wkb.write(Wkb.box(400000, 400000, 420000, 410000))))
      .toDF("id", "geometry")
    val got = df.select(explode(bng_index_flags(col("geometry"), 10000L)).as("f"))
      .select(col("f.ref"), col("f.contained")).as[(String, Boolean)]
      .collect().toMap
    def cell(e: Long, n: Long): String =
      graft.index.Bng.gridRef(e * 10000d, n * 10000d, 10000)
    assert(got == Map(
      cell(40, 40) -> true, cell(41, 40) -> true,   // wholly inside
      cell(42, 40) -> false,                        // touch-only (right)
      cell(40, 41) -> false, cell(41, 41) -> false, // touch-only (top)
      cell(42, 41) -> false))                       // corner touch
  }

  test("point exactly on a grid-aligned polygon edge is joined (covers)") {
    // Polygon's right edge lies ON the grid line x=410000; the point on
    // that edge floor-maps to the cell the polygon only touches. The old
    // touch-exclusive candidates dropped this pair.
    val polyDf = Seq((7L, Wkb.write(Wkb.box(400000, 400000, 410000, 410000))))
      .toDF("poly_id", "geometry")
    val ptsDf = Seq(
      (1L, 410000.0, 405000.0),  // on right edge, interior of edge
      (2L, 410000.0, 410000.0),  // exact corner
      (3L, 405000.0, 405000.0),  // interior sanity
      (4L, 410000.1, 405000.0)   // just outside
    ).toDF("pid", "x", "y")
    val got = SpatialJoin.pointInPolygon(ptsDf, "x", "y", polyDf, "geometry",
        resolution = 10000L, broadcastPolys = true, predicate = "covers")
      .select("pid").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }

  test("geometries whose only contact is a grid line are joined (geomJoin)") {
    val left = Seq((1L, Wkb.write(Wkb.box(395000, 400000, 410000, 405000))))
      .toDF("lid", "geometry")
    val right = Seq((2L, Wkb.write(Wkb.box(410000, 400000, 420000, 405000))))
      .toDF("rid", "geometry")
    val got = SpatialJoin.geomJoin(left, "geometry", "lid",
        right.withColumnRenamed("geometry", "rgeom"), "rgeom", "rid",
        resolution = 10000L, predicate = "intersects", broadcastRight = true)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("spherical radius join is seam-safe: antimeridian, poles, and global spread") {
    // Global points: uniform spread plus planted clusters straddling the
    // antimeridian (lng +/-179.9x) and ringing the north pole — the two
    // seams a face-local planar cover would miss.
    val global = (0L until 1500L).map { i =>
      (i, -85.0 + rnd(i, 21) * 170.0, -180.0 + rnd(i, 22) * 360.0)
    }
    val seam = (0L until 40L).map { i =>
      val lng = if (i % 2 == 0) 179.90 + rnd(i, 23) * 0.09
                else -179.99 + rnd(i, 23) * 0.09
      (10000L + i, -0.5 + rnd(i, 24) * 1.0, lng)
    }
    val pole = (0L until 40L).map { i =>
      (20000L + i, 89.70 + rnd(i, 25) * 0.25, -180.0 + rnd(i, 26) * 360.0)
    }
    val points = (global ++ seam ++ pole).toDF("pid", "lat", "lng")
    val queries = Seq(
      (0L, 0.0, 179.97),   // dateline: neighbours on BOTH sides of +/-180
      (1L, 89.9, 45.0),    // pole: the cap contains the pole itself
      (2L, -40.0, 10.0),   // plain mid-latitude control
      (3L, 0.0, -179.95)   // dateline from the west side
    ).toDF("qid", "qlat", "qlng")
    val r = 300000.0 // 300 km
    val got = SpatialJoin.sphericalRadiusJoin(queries, "qid", "qlat", "qlng",
        points, "pid", "lat", "lng", radiusMetres = r, level = 7)
      .select("qid", "pid").as[(Long, Long)].collect().toSet
    // brute-force haversine oracle (same refine expression => identical
    // float decisions; what's under test is candidate COVERAGE)
    val exp = points.crossJoin(queries)
      .withColumn("d", SpatialJoin.haversineMetres(
        col("lat"), col("lng"), col("qlat"), col("qlng")))
      .filter(col("d") <= r)
      .select("qid", "pid").as[(Long, Long)].collect().toSet
    assert(got == exp, s"missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)}")
    // the seams were actually exercised: dateline queries see both signs
    // of longitude, the pole query sees multiple longitudes
    val seamHits = exp.filter(p => p._1 == 0L && p._2 >= 10000L && p._2 < 20000L)
    assert(seamHits.exists(p => p._2 % 2 == 0) && seamHits.exists(p => p._2 % 2 == 1),
      "fixture must have matches on both sides of the antimeridian")
    assert(exp.count(_._1 == 1L) >= 30, "pole query should catch the polar ring")
  }

  test("spherical kNN equals brute-force haversine kNN on a global corpus with seams") {
    val points = ((0L until 800L).map { i =>
      (i, -85.0 + rnd(i, 31) * 170.0, -180.0 + rnd(i, 32) * 360.0)
    } ++ (0L until 30L).map { i =>
      val lng = if (i % 2 == 0) 179.9 + rnd(i, 33) * 0.09 else -179.99 + rnd(i, 33) * 0.09
      (30000L + i, -0.5 + rnd(i, 34) * 1.0, lng)
    } ++ (0L until 30L).map { i =>
      (40000L + i, 89.7 + rnd(i, 35) * 0.25, -180.0 + rnd(i, 36) * 360.0)
    }).toDF("pid", "lat", "lng")
    val queries = Seq(
      (0L, 0.0, 179.96), (1L, 89.88, 10.0), (2L, -50.0, 60.0), (3L, 0.05, -179.9),
      (4L, 20.0, -60.0)).toDF("qid", "qlat", "qlng")
    val got = SpatialJoin.sphericalKnn(queries, "qid", "qlat", "qlng",
        points, "pid", "lat", "lng", k = 8)
      .select("qid", "pid", "rank").as[(Long, Long, Int)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d"), col("pid"))
    val exp = points.crossJoin(queries)
      .withColumn("d", SpatialJoin.haversineMetres(
        col("lat"), col("lng"), col("qlat"), col("qlng")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 8)
      .select("qid", "pid", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got.size == 5 * 8)
    assert(got == exp, s"missing=${(exp -- got).take(5)} extra=${(got -- exp).take(5)}")
  }

  test("spherical kNN guards: empty queries yield empty result; zero radius rejected") {
    val points = Seq((1L, 10.0, 20.0), (2L, 11.0, 21.0)).toDF("pid", "lat", "lng")
    val noQs = Seq.empty[(Long, Double, Double)].toDF("qid", "qlat", "qlng")
    val got = SpatialJoin.sphericalKnn(noQs, "qid", "qlat", "qlng",
      points, "pid", "lat", "lng", k = 2)
    assert(got.columns.toSeq == Seq("qid", "pid", "dist_m", "rank"))
    assert(got.count() == 0)
    val qs = Seq((0L, 10.0, 20.0)).toDF("qid", "qlat", "qlng")
    intercept[IllegalArgumentException] {
      SpatialJoin.sphericalKnn(qs, "qid", "qlat", "qlng",
        points, "pid", "lat", "lng", k = 2, initRadiusMetres = 0.0)
    }
  }

  test("S2.coverCap conservative-superset property: every in-cap point's cell is covered") {
    import graft.index.S2
    // destination point at (bearing, angular distance) from a start —
    // standard great-circle formulas, used only to SAMPLE points in caps
    def dest(lat1d: Double, lng1d: Double, bearing: Double, ang: Double): (Double, Double) = {
      val lat1 = math.toRadians(lat1d); val lng1 = math.toRadians(lng1d)
      val lat2 = math.asin(math.sin(lat1) * math.cos(ang) +
        math.cos(lat1) * math.sin(ang) * math.cos(bearing))
      val lng2 = lng1 + math.atan2(
        math.sin(bearing) * math.sin(ang) * math.cos(lat1),
        math.cos(ang) - math.sin(lat1) * math.sin(lat2))
      (math.toDegrees(lat2), math.toDegrees(lng2))
    }
    val caps = Seq(
      (89.9, 45.0, 500000.0, 6),   // contains the north pole
      (-89.85, -120.0, 300000.0, 7), // south pole
      (0.0, 179.99, 300000.0, 7),  // antimeridian
      (0.0, -179.95, 50000.0, 10), // antimeridian, fine level
      (45.0, 45.0, 400000.0, 6),   // face-corner region
      (-33.0, 18.0, 50000.0, 10))  // plain mid-latitude
    caps.foreach { case (clat, clng, r, level) =>
      val cover = S2.coverCap(clat, clng, r, level).toSet
      (0 until 400).foreach { i =>
        val h1 = WebTable.splitmix64(i * 7919L + level)
        val h2 = WebTable.splitmix64(h1)
        val bearing = (java.lang.Long.remainderUnsigned(h1, 1000000L) / 1000000.0) * 2 * math.Pi
        // bias samples toward the rim, where misses would hide
        val frac = math.sqrt(java.lang.Long.remainderUnsigned(h2, 1000000L) / 1000000.0)
        val ang = frac * r / S2.EarthRadiusMetres
        val (plat, plng) = dest(clat, clng, bearing, ang)
        val cell = S2.cellId(plat, plng, level)
        assert(cover.contains(cell),
          s"cap($clat,$clng,r=$r,l=$level): point ($plat,$plng) cell not covered")
      }
    }
  }

  test("ring-expansion kNN equals broadcast brute-force kNN") {
    val qs = (0L until 25L).map { q =>
      (q, rnd(q, 7) * 700000.0, rnd(q, 8) * 1300000.0)
    }.toDF("qid", "qx", "qy")
    val data = pts.toDF("did", "x", "y")
    val viaRings = KnnJoin.knn(qs, "qid", "qx", "qy", data, "did", "x", "y",
      k = 7, resolution = 100000L)
      .select("qid", "did", "rank").as[(Long, Long, Int)].collect().toSet
    val bruteForce = KnnJoin.knnBroadcast(qs, "qid", "qx", "qy", data, "did", "x", "y", k = 7)
      .select("qid", "did", "rank").as[(Long, Long, Int)].collect().toSet
    assert(viaRings.size == 25 * 7)
    assert(viaRings == bruteForce)
  }
}
