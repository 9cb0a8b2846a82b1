package graft

import graft.index.{H3, S2, Transform}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class H3S2Spec extends AnyFunSuite {

  def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  // ---------------- datum transform ----------------

  test("BNG -> WGS84 known points (published conversions, ~1e-4 deg tol)") {
    // OS example: Greenwich-ish. TQ 38 90 area: (530000, 180000) ~ (51.504, -0.128)
    val (lat1, lon1) = Transform.bngToWgs84Deg(530000, 180000)
    assert(math.abs(lat1 - 51.5045) < 0.01, s"lat $lat1")
    assert(math.abs(lon1 - (-0.1285)) < 0.01, s"lon $lon1")
    // Edinburgh castle ~ (325000, 673500) ~ (55.948, -3.20)
    val (lat2, lon2) = Transform.bngToWgs84Deg(325000, 673500)
    assert(math.abs(lat2 - 55.948) < 0.01, s"lat $lat2")
    assert(math.abs(lon2 - (-3.20)) < 0.01, s"lon $lon2")
  }

  test("transform is monotone: north -> higher lat, east -> higher lon") {
    val (latS, _) = Transform.bngToWgs84Deg(400000, 100000)
    val (latN, _) = Transform.bngToWgs84Deg(400000, 1200000)
    assert(latN > latS + 5)
    val (_, lonW) = Transform.bngToWgs84Deg(100000, 500000)
    val (_, lonE) = Transform.bngToWgs84Deg(650000, 500000)
    assert(lonE > lonW + 3)
  }

  // ---------------- S2 ----------------

  test("S2 face centers land on the right faces") {
    assert(S2.face(S2.cellId(0, 0, 30)) == 0)
    assert(S2.face(S2.cellId(0, 90, 30)) == 1)
    assert(S2.face(S2.cellId(90, 0, 30)) == 2)
    assert(S2.face(S2.cellId(0, 180, 30)) == 3)
    assert(S2.face(S2.cellId(0, -90, 30)) == 4)
    assert(S2.face(S2.cellId(-90, 0, 30)) == 5)
  }

  test("S2 ids valid, level-correct, hierarchical") {
    val gen = for {
      lat <- Gen.choose(-89.9, 89.9)
      lng <- Gen.choose(-180.0, 180.0)
      lvl <- Gen.choose(1, 30)
    } yield (lat, lng, lvl)
    check(Prop.forAll(gen) { case (lat, lng, lvl) =>
      val id = S2.cellId(lat, lng, lvl)
      val parentId = S2.cellId(lat, lng, lvl - 1)
      S2.isValid(id) && S2.level(id) == lvl &&
        S2.parent(id, lvl - 1) == parentId
    })
  }

  test("S2 quadratic ST round-trips") {
    val gen = Gen.choose(-1.0, 1.0)
    check(Prop.forAll(gen) { u =>
      math.abs(S2.stToUV(S2.uvToST(u)) - u) < 1e-12
    })
  }

  test("S2 nearby points at low level share a cell; distant don't") {
    assert(S2.cellId(51.5, -0.12, 10) == S2.cellId(51.5001, -0.1201, 10))
    assert(S2.cellId(51.5, -0.12, 10) != S2.cellId(52.5, -0.12, 10))
  }

  test("BNG canvas lies on a single S2 face (cover precondition)") {
    val faces = (for {
      x <- 0 to 700000 by 100000
      y <- 0 to 1300000 by 100000
    } yield {
      val (lat, lng) = Transform.bngToWgs84Deg(
        math.min(x, 699999).toDouble, math.min(y, 1299999).toDouble)
      S2.face(S2.cellId(lat, lng, 0))
    }).distinct
    assert(faces == Seq(2), s"canvas spans faces $faces")
  }

  test("lattice fast transform matches the exact chain to < 2e-9 deg on-canvas, exactly off-canvas") {
    val fast = new Array[Double](2); val exact = new Array[Double](2)
    var maxErr = 0.0
    (0 until 100000).foreach { k =>
      val h = graft.input.WebTable.splitmix64(k.toLong * 41L)
      val e = java.lang.Long.remainderUnsigned(h, 700000L).toDouble + (h % 997) / 997.0
      val n = java.lang.Long.remainderUnsigned(h >>> 17, 1300000L).toDouble
      Transform.bngToWgs84DegInto(e, n, fast)
      Transform.bngToWgs84ExactInto(e, n, exact)
      maxErr = math.max(maxErr,
        math.max(math.abs(fast(0) - exact(0)), math.abs(fast(1) - exact(1))))
    }
    assert(maxErr < 2e-9, s"lattice error $maxErr deg") // 5.7e-10 measured; 0.2mm ceiling
    // off-canvas falls back to the exact chain bit-for-bit
    Seq((-5000.0, 600000.0), (705000.0, 100.0), (1000.0, 1300001.0)).foreach {
      case (e, n) =>
        Transform.bngToWgs84DegInto(e, n, fast)
        Transform.bngToWgs84ExactInto(e, n, exact)
        assert(fast(0) == exact(0) && fast(1) == exact(1))
    }
  }

  // ---------------- H3-style ----------------

  test("H3 ids deterministic, res-correct; face stable across res; parent hierarchy sound") {
    val gen = for {
      lat <- Gen.choose(-85.0, 85.0)
      lng <- Gen.choose(-180.0, 180.0)
      res <- Gen.choose(1, 12)
    } yield (lat, lng, res)
    check(Prop.forAll(gen) { case (lat, lng, res) =>
      val id = H3.cellId(lat, lng, res)
      val pid = H3.parent(id, res - 1)
      val (clat, clng) = H3.cellCenter(id)
      val (plat, plng) = H3.cellCenter(pid)
      // child center within ~1 parent circumradius of parent center
      // (longitude difference wrapped across the +-180 seam)
      val dlng = ((clng - plng + 540.0) % 360.0) - 180.0
      val dist = math.hypot(clat - plat, dlng * math.cos(math.toRadians(clat)))
      // parent circumradius (plane 0.65/sqrt(7)^(res-1) units) in degrees,
      // with headroom for gnomonic distortion near face edges
      val parentCellDeg = 90.0 / math.pow(math.sqrt(7.0), res - 1)
      H3.resOf(id) == res && H3.resOf(pid) == res - 1 &&
        H3.faceOfId(id) == H3.faceOfId(pid) &&
        H3.cellId(lat, lng, res) == id &&
        dist < parentCellDeg
    })
  }

  test("H3 cell sizes shrink by ~sqrt(7) per res (mean over many points)") {
    val pts = (0 until 200).map { i =>
      val h = graft.input.WebTable.splitmix64(i.toLong * 977L)
      val lat = (java.lang.Long.remainderUnsigned(h, 160000L) / 1000.0) - 80.0
      val lng = (java.lang.Long.remainderUnsigned(h >>> 20, 360000L) / 1000.0) - 180.0
      (lat, lng)
    }
    val means = (5 to 9).map { r =>
      pts.map { case (lat, lng) =>
        val (clat, clng) = H3.cellCenter(H3.cellId(lat, lng, r))
        math.hypot(clat - lat, (clng - lng) * math.cos(math.toRadians(lat)))
      }.sum / pts.size
    }
    means.sliding(2).foreach { case Seq(a, b) =>
      assert(b < a * 0.6, s"mean cell size not shrinking ~sqrt(7): $means")
    }
  }

  test("H3 neighbours: adjacent points fall in same or ring-1 cell") {
    val id = H3.cellId(51.5, -0.12, 8)
    val near = H3.cellId(51.5005, -0.12, 8)
    // the cell and its six axial neighbours on the same face
    val ring1 = Seq((0, 0), (1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)).map {
      case (di, dj) => H3.pack(H3.resOf(id), H3.faceOfId(id), H3.iOf(id) + di, H3.jOf(id) + dj)
    }
    assert(ring1.contains(near))
  }

  test("spark expressions: h3/s2 cell ids over BNG points") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.index.IndexExpressions._
    val df = Seq((530000.0, 180000.0), (325000.0, 673500.0))
      .toDF("x", "y")
      .withColumn("h3_9", h3_index_point(col("x"), col("y"), 9))
      .withColumn("s2_12", s2_index_point(col("x"), col("y"), 12))
    val rows = df.collect()
    val (lat, lng) = Transform.bngToWgs84Deg(530000.0, 180000.0)
    assert(rows(0).getLong(2) == H3.cellId(lat, lng, 9))
    assert(rows(0).getLong(3) == S2.cellId(lat, lng, 12))
    assert(rows.map(_.getLong(2)).distinct.length == 2)
  }
}
