package graft

import graft.geo.GeoExpressions._
import graft.geo.Wkb
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class GeoExprSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("POINT (5 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
    ("POINT (50 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
    ("LINESTRING (0 0, 20 20)", "POLYGON ((5 0, 15 0, 15 10, 5 10, 5 0))"))
    .toDF("wktA", "wktB")
    .withColumn("a", st_geomfromtext(col("wktA")))
    .withColumn("b", st_geomfromtext(col("wktB")))

  test("st_distance / st_envelope / st_within / st_intersection match JTS") {
    val rows = df.select(
      st_distance(col("a"), col("b")).as("d"),
      st_envelope(col("a")).as("env"),
      st_within(col("a"), col("b")).as("w"),
      st_astext(st_intersection(col("a"), col("b"))).as("ix")).collect()
    assert(rows(0).getDouble(0) == 0.0)
    assert(rows(1).getDouble(0) == 40.0) // (50,5) to x=10 edge
    assert(rows(0).getSeq[Double](1) == Seq(5d, 5d, 5d, 5d))
    assert(rows(2).getSeq[Double](1) == Seq(0d, 0d, 20d, 20d))
    assert(rows(0).getBoolean(2) && !rows(1).getBoolean(2))
    assert(rows(2).getString(3) == "LINESTRING (5 5, 10 10)")
  }

  test("null geometry propagates null, not an exception") {
    val r = Seq((Option.empty[Array[Byte]], Wkb.write(Wkb.point(1, 1))))
      .toDF("a", "b")
      .select(st_intersects(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("cellId equality iff same grid ref (property)") {
    val gen = for {
      e1 <- Gen.choose(0L, 699999L); n1 <- Gen.choose(0L, 1299999L)
      e2 <- Gen.choose(0L, 699999L); n2 <- Gen.choose(0L, 1299999L)
    } yield (e1, n1, e2, n2)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300),
      Prop.forAll(gen) { case (e1, n1, e2, n2) =>
        val sameId = graft.index.Bng.cellId(e1, n1, 10000) ==
          graft.index.Bng.cellId(e2, n2, 10000)
        val sameRef = graft.index.Bng.gridRef(e1, n1, 10000) ==
          graft.index.Bng.gridRef(e2, n2, 10000)
        sameId == sameRef
      })
    assert(res.passed, res.status.toString)
  }

  test("codegen compile gates: keyed PIP predicate, h3_parent, multi-res struct") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}
    // Generated-code compile failures silently fall back to the
    // interpreter (and for StPredicatePointKeyed that would reintroduce
    // the per-candidate-row boxing of the key and both coordinates the
    // codegen exists to remove) — GenerateUnsafeProjection.generate
    // throws instead.
    val wkb = graft.geo.Wkb.write(graft.geo.Wkb.box(0, 0, 100, 100))
    val key = graft.geo.StPredicatePoint.hashBytes(wkb)
    val pred = graft.geo.StPredicatePointKeyed(
      BoundReference(0, LongType, nullable = false),
      BoundReference(1, BinaryType, nullable = false),
      BoundReference(2, DoubleType, nullable = false),
      BoundReference(3, DoubleType, nullable = false), "covers")
    val proj = GenerateUnsafeProjection.generate(Seq(pred), false)
    val in = InternalRow(key, wkb, 50.0, 50.0)
    assert(proj(in).getBoolean(0))
    val outP = InternalRow(key, wkb, 500.0, 50.0)
    assert(!proj(outP).getBoolean(0))
    // boundary is covers-inclusive
    assert(proj(InternalRow(key, wkb, 0.0, 0.0)).getBoolean(0))

    val par = graft.index.H3Parent(BoundReference(0, LongType, nullable = false), 7)
    val pp = GenerateUnsafeProjection.generate(Seq(par), false)
    val id8 = graft.index.H3.cellId(51.5, -0.1, 8)
    assert(pp(InternalRow(id8)).getLong(0) == graft.index.H3.parent(id8, 7))
  }

  test("point cell encoders agree with and without codegen, out-of-extent failure included") {
    import graft.index.IndexExpressions._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.DoubleType
    val xMax = graft.core.Constants.BngXMax.toDouble
    val yMax = graft.core.Constants.BngYMax.toDouble
    val rnd = new scala.util.Random(5)
    // cell edges, the canvas max edges and points just below them
    val pts = Seq((0.0, 0.0), (10000.0, 20000.0), (9999.999, 19999.999), (530000.0, 180000.0),
      (xMax - 1e-6, yMax - 1e-6), (xMax - 10000.0, yMax - 10000.0), (699999.0, 0.0),
      (xMax, yMax), (xMax, 500.0), (500.0, yMax)) ++
      Seq.fill(200)((rnd.nextDouble() * xMax, rnd.nextDouble() * yMax))
    def inExtent(x: Double, y: Double) = x < xMax && y < yMax
    // an RDD source, so the optimizer cannot fold the projection into a
    // local relation and evaluate it without codegen
    val df = spark.sparkContext.parallelize(pts.zipWithIndex.map { case ((x, y), i) =>
      (i.toLong, x, y) }, 3).toDF("id", "x", "y")
    val lat = col("y") / yMax * 170 - 85
    val lng = col("x") / xMax * 360 - 180
    // grid refs exist only inside the extent; CaseWhen evaluates the
    // encoder only for rows whose condition holds, in both modes
    val refOk = col("x") < xMax && col("y") < yMax
    def encode(codegen: String, d: org.apache.spark.sql.DataFrame) = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      spark.conf.set("spark.sql.codegen.wholeStage", codegen == "CODEGEN_ONLY")
      try d.select(col("id"), bng_cell_id(col("x"), col("y"), 10000L),
          bng_cell_id(col("x"), col("y"), 1L),
          when(refOk, bng_index_point(col("x"), col("y"), 10000L)),
          when(refOk, bng_index_point(col("x"), col("y"), 1000L)),
          s2_cell_lonlat(lat, lng, 12), s2_cell_lonlat(lat, lng, 30))
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    val gen = encode("CODEGEN_ONLY", df)
    assert(gen.size == pts.size)
    assert(gen == encode("NO_CODEGEN", df))
    pts.zipWithIndex.foreach { case ((x, y), i) =>
      def ref(res: Long) = if (inExtent(x, y)) graft.index.Bng.gridRef(x, y, res) else null
      assert(gen(i.toLong).take(4) == Seq(graft.index.Bng.cellId(x, y, 10000L),
        graft.index.Bng.cellId(x, y, 1L), ref(10000L), ref(1000L)), s"point ($x, $y)")
    }

    // the generated code itself compiles and answers like eval
    val (bx, by) = (BoundReference(0, DoubleType, nullable = false),
      BoundReference(1, DoubleType, nullable = false))
    val exprs: Seq[Expression] = Seq(graft.index.BngCellId(bx, by, 10000L),
      graft.index.BngPointRef(bx, by, 100L), graft.index.S2CellLatLng(by, bx, 20))
    val proj = GenerateUnsafeProjection.generate(exprs, false)
    for ((x, y) <- Seq((0.0, 0.0), (55.5, 44.25), (699999.0, 1299999.0))) {
      val row = InternalRow(x, y)
      val out = proj(row)
      assert(out.getLong(0) == exprs(0).eval(row))
      assert(out.getUTF8String(1) == exprs(1).eval(row))
      assert(out.getLong(2) == exprs(2).eval(row))
    }

    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || (t.getCause eq t)) t else rootCause(t.getCause)
    val outside = spark.sparkContext.parallelize(Seq((0L, -1.0, 5.0)), 1).toDF("id", "x", "y")
    val failures = Seq("CODEGEN_ONLY", "NO_CODEGEN").map { mode =>
      val e = rootCause(intercept[Exception](encode(mode, outside)))
      (e.getClass, e.getMessage)
    }
    assert(failures.head._1 == classOf[IllegalArgumentException], failures)
    assert(failures.head._2.contains("outside BNG extent"), failures)
    assert(failures.distinct.size == 1, failures)
  }

  test("h3/s2 point encoders agree with and without codegen, sharing one transform memo") {
    import graft.index.IndexExpressions._
    val xMax = graft.core.Constants.BngXMax.toDouble
    val yMax = graft.core.Constants.BngYMax.toDouble
    val rnd = new scala.util.Random(13)
    // inside the canvas, on its edges and outside it (the exact transform)
    val pts = Seq((0.0, 0.0), (530000.0, 180000.0), (xMax, yMax), (-1000.0, 5.0),
      (800000.0, 1400000.0), (-250000.0, -90000.0), (699999.5, 1299999.5)) ++
      Seq.fill(300)((rnd.nextDouble() * xMax, rnd.nextDouble() * yMax))
    // an RDD source, so the optimizer cannot evaluate the projection
    // itself; rows with equal (x, y) in a row hit the memo
    val df = spark.sparkContext.parallelize((pts ++ pts.take(3)).zipWithIndex.map {
      case ((x, y), i) => (i.toLong, x, y) }, 3).toDF("id", "x", "y")
    def encode(codegen: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      spark.conf.set("spark.sql.codegen.wholeStage", codegen == "CODEGEN_ONLY")
      // swapped (y, x) encoders between the (x, y) ones of one projection
      try df.select(col("id"), h3_index_point(col("x"), col("y"), 9),
          s2_index_point(col("y"), col("x"), 12), s2_index_point(col("x"), col("y"), 12),
          h3_index_point(col("y"), col("x"), 9), h3_index_point(col("x"), col("y"), 12))
        .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
    val gen = encode("CODEGEN_ONLY")
    assert(gen == encode("NO_CODEGEN"))
    (pts ++ pts.take(3)).zipWithIndex.foreach { case ((x, y), i) =>
      val (lat, lng) = graft.index.Transform.bngToWgs84Deg(x, y)
      val (latS, lngS) = graft.index.Transform.bngToWgs84Deg(y, x)
      assert(gen(i.toLong) == Seq(graft.index.H3.cellId(lat, lng, 9),
        graft.index.S2.cellId(latS, lngS, 12), graft.index.S2.cellId(lat, lng, 12),
        graft.index.H3.cellId(latS, lngS, 9), graft.index.H3.cellId(lat, lng, 12)), s"($x, $y)")
    }
  }

  test("a NaN coordinate is covered and contained by nothing (st_covers_point, pointInPolygon)") {
    val shapes = Seq(Wkb.box(0, 0, 5000, 5000),
      Wkb.readWkt("POLYGON ((0 0, 10 0, 10 10, 5 12, 0 10, 0 0))"))
    val nan = Double.NaN
    val probes = Seq((nan, 5.0), (5.0, nan), (nan, nan), (5.0, 5.0))
    val df = (for (g <- shapes; (x, y) <- probes) yield (Wkb.write(g), x, y)).toDF("g", "x", "y")
    val got = df.select(st_covers_point(col("g"), col("x"), col("y")),
      st_contains_point(col("g"), col("x"), col("y"))).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1))).toSeq
    assert(got == Seq.fill(shapes.size)(Seq.fill(3)((false, false)) :+ ((true, true))).flatten)

    // bng_cell_id(NaN, ..) is cell 0, where the box lies: the refine rejects
    val pts = Seq((0L, nan, nan), (1L, nan, 100.0), (2L, 100.0, nan), (3L, 100.0, 100.0))
      .toDF("pid", "x", "y")
    val polys = Seq((7L, Wkb.write(shapes.head))).toDF("poly_id", "geometry")
    for (predicate <- Seq("covers", "contains")) {
      val hits = graft.ops.SpatialJoin.pointInPolygon(pts, "x", "y", polys, "geometry",
        predicate = predicate).select("pid", "poly_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(hits == Seq((3L, 7L)), predicate)
    }
  }

  test("shared point testers answer like JTS from 4 threads; the table stays bounded") {
    import graft.geo.StPredicatePoint
    val star = (0 until 48).map { v =>
      val a = 2 * math.Pi * v / 48
      val r = 30.0 + 15.0 * ((v * 7919) % 13) / 12.0
      s"${50 + r * math.cos(a)} ${50 + r * math.sin(a)}"
    }
    // seeded 48-vertex stars like the benchmark's polygons, at BNG scale
    val seededStars = Seq(11L, 12L, 13L).map { seed =>
      val rnd = new scala.util.Random(seed)
      val (cx, cy, r) = (300000 + 1e5 * rnd.nextDouble(), 600000 + 1e5 * rnd.nextDouble(),
        3000 + 6000 * rnd.nextDouble())
      val ring = (0 until 48).map { v =>
        val a = 2 * math.Pi * (v + 0.8 * rnd.nextDouble()) / 48
        val rv = r * (0.55 + 0.45 * rnd.nextDouble())
        s"${cx + rv * math.cos(a)} ${cy + rv * math.sin(a)}"
      }
      (ring :+ ring.head).mkString("POLYGON ((", ", ", "))")
    }
    val shapes = (Seq(
      "POLYGON ((0 0, 100 0, 100 80, 0 80, 0 0))",
      (star :+ star.head).mkString("POLYGON ((", ", ", "))"),
      "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0), (30 30, 70 30, 50 70, 30 30))",
      "LINESTRING (0 0, 50 50, 100 0)",
      "MULTIPOLYGON (((0 0, 40 0, 40 40, 0 40, 0 0), (10 10, 30 10, 20 30, 10 10)), " +
        "((50 50, 100 60, 70 100, 50 50)))",
      // thin slivers: one nearly horizontal, one along the diagonal
      "POLYGON ((0 0, 1000 0.5, 1000 0.6, 0 0.05, 0 0))",
      "POLYGON ((0 0, 100 99.9, 100 100, 0 0.1, 0 0))",
      // every edge on a sub-cell line of the 64 x 64 grid over [0, 64]^2
      "POLYGON ((0 0, 64 0, 64 16, 32 16, 32 48, 64 48, 64 64, 0 64, 0 0))") ++
      seededStars).map(Wkb.readWkt)
    val wkbs = shapes.map(Wkb.write)
    // a 2.5-unit grid puts points on box edges, hole edges and the line;
    // each shape adds its vertices, points along its edges, points on the
    // sub-cell lines of its envelope (the max edges among them) and
    // points just off those lines
    val base = for (i <- 0 to 44; j <- 0 to 44) yield (-5 + 2.5 * i, -5 + 2.5 * j)
    val points: IndexedSeq[IndexedSeq[(Double, Double)]] = shapes.toIndexedSeq.map { g =>
      val cs = g.getCoordinates
      val e = g.getEnvelopeInternal
      val (w, h) = (e.getWidth / 64, e.getHeight / 64)
      val onEdges = cs.toIndexedSeq.sliding(2).flatMap { case Seq(a, b) =>
        Seq(0.25, 0.5, 1.0 / 3).map(t => (a.x + t * (b.x - a.x), a.y + t * (b.y - a.y)))
      }
      val onLines = for (k <- 0 to 64; j <- 0 to 64 by 8; off <- Seq(0.0, 1e-9, -1e-9))
        yield Seq((e.getMinX + k * w + off * w, e.getMinY + (j + 0.37) * h),
          (e.getMinX + (j + 0.61) * w, e.getMinY + k * h + off * h),
          (e.getMinX + k * w, e.getMinY + j * h))
      base ++ cs.map(c => (c.x, c.y)) ++ onEdges ++ onLines.flatten :+ (e.getMaxX, e.getMaxY)
    }
    def jts(s: Int, p: Int, contains: Boolean): Boolean = {
      val pt = Wkb.point(points(s)(p)._1, points(s)(p)._2)
      if (contains) shapes(s).contains(pt) else shapes(s).covers(pt)
    }
    val want = Array.tabulate(shapes.size)(s =>
      Array.tabulate(points(s).size, 2)((p, c) => jts(s, p, c == 1)))
    // keys no earlier use of the table holds, so the threads race to insert
    val salt = System.nanoTime() << 20

    def onThreads[T](n: Int)(body: Int => T): Seq[T] = {
      val start = new java.util.concurrent.CountDownLatch(1)
      val tasks = (0 until n).map { t =>
        val task = new java.util.concurrent.FutureTask[T](() => { start.await(); body(t) })
        new Thread(task).start()
        task
      }
      start.countDown()
      tasks.map(_.get())
    }
    // each thread walks the points from its own offset, interleaved with
    // the other threads' walks over the same testers
    onThreads(4) { t =>
      for (s <- shapes.indices; k <- points(s).indices; c <- 0 to 1) {
        val n = points(s).size
        val p = (k + t * n / 4) % n
        val tester = StPredicatePoint.testerByKey(salt + s, wkbs(s))
        val (x, y) = points(s)(p)
        val ans = StPredicatePoint.testPoint(tester, x, y, c == 1)
        assert(ans == want(s)(p)(c), s"thread $t shape $s point ($x, $y) contains=${c == 1}")
      }
    }

    // overflow: more distinct keys than the bound, inserted from 4 threads
    val keys = StPredicatePoint.TesterBound + 500
    onThreads(4) { t =>
      for (k <- t until keys by 4) {
        val s = k % shapes.size
        val tester = StPredicatePoint.testerByKey(salt + shapes.size + k, wkbs(s))
        assert(StPredicatePoint.testerCount <= StPredicatePoint.TesterBound)
        val p = (k * 31) % points(s).size
        assert(StPredicatePoint.testPoint(tester, points(s)(p)._1, points(s)(p)._2,
          k % 2 == 1) == want(s)(p)(k % 2))
      }
    }
    assert(StPredicatePoint.testerCount <= StPredicatePoint.TesterBound)
    assert(StPredicatePoint.testerCount > 0)
  }

  test("direct cell-box WKB is byte-identical to JTS write(box) (property)") {
    val coord = Gen.oneOf(
      Gen.choose(0L, 700000L).map(_.toDouble), // integer BNG metres
      Gen.choose(0.0, 1300000.0), // fractional
      Gen.choose(-1e6, 1e6))
    val size = Gen.oneOf(Gen.const(10.0), Gen.const(0.0), Gen.choose(-50.0, 5000.0),
      Gen.const(Double.NaN))
    val gen = for {
      x <- coord; y <- coord; w <- size; h <- size
    } yield (x, y, w, h)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5000),
      Prop.forAll(gen) { case (x, y, w, h) =>
        // NaN bounds make JTS throw; both paths must then fail alike
        def bytes(f: => Array[Byte]) = scala.util.Try(f).toOption.map(_.toSeq)
        val direct = bytes(Wkb.boxWkb(x, y, x + w, y + h))
        direct == bytes(Wkb.write(Wkb.box(x, y, x + w, y + h))) &&
          (!(x + w > x && y + h > y) || direct.exists(_.length == 93))
      })
    assert(res.passed, res.status.toString)
  }
}
