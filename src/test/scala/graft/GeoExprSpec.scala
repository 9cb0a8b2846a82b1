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
    // the per-candidate-row boxing + WKB copy the codegen exists to
    // remove) — GenerateUnsafeProjection.generate throws instead.
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

    val multi = graft.index.SphericalCellsMulti(
      BoundReference(0, DoubleType, nullable = false),
      BoundReference(1, DoubleType, nullable = false), 7, 12, 12)
    val mp = GenerateUnsafeProjection.generate(Seq(multi), false)
    val row = mp(InternalRow(530000.0, 180000.0))
    val st = row.getStruct(0, 2)
    val ids = st.getArray(0).toLongArray()
    assert(ids.length == 6)
    // finest-first chain equals the scalar encoders + parent walk
    val m = graft.index.Transform.bngToWgs84Memo(530000.0, 180000.0)
    assert(ids(0) == graft.index.H3.cellId(m(2), m(3), 12))
    assert(ids(5) == graft.index.H3.parent(ids(4), 7))
    assert(st.getLong(1) == graft.index.S2.cellId(m(2), m(3), 12))
  }

  test("shared point testers answer like JTS from 4 threads; the table stays bounded") {
    import graft.geo.StPredicatePoint
    val star = (0 until 48).map { v =>
      val a = 2 * math.Pi * v / 48
      val r = 30.0 + 15.0 * ((v * 7919) % 13) / 12.0
      s"${50 + r * math.cos(a)} ${50 + r * math.sin(a)}"
    }
    val shapes = Seq(
      "POLYGON ((0 0, 100 0, 100 80, 0 80, 0 0))",
      (star :+ star.head).mkString("POLYGON ((", ", ", "))"),
      "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0), (30 30, 70 30, 50 70, 30 30))",
      "LINESTRING (0 0, 50 50, 100 0)").map(Wkb.readWkt)
    val wkbs = shapes.map(Wkb.write)
    // a 2.5-unit grid puts points on box edges, hole edges and the line
    val points = for (i <- 0 to 44; j <- 0 to 44) yield (-5 + 2.5 * i, -5 + 2.5 * j)
    def jts(s: Int, p: Int, contains: Boolean): Boolean = {
      val pt = Wkb.point(points(p)._1, points(p)._2)
      if (contains) shapes(s).contains(pt) else shapes(s).covers(pt)
    }
    val want = Array.tabulate(shapes.size, points.size, 2)((s, p, c) => jts(s, p, c == 1))
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
      for (k <- points.indices; s <- shapes.indices; c <- 0 to 1) {
        val p = (k + t * points.size / 4) % points.size
        val tester = StPredicatePoint.testerByKey(salt + s, wkbs(s))
        val ans = StPredicatePoint.testPoint(tester, points(p)._1, points(p)._2, c == 1)
        assert(ans == want(s)(p)(c), s"thread $t shape $s point ${points(p)} contains=${c == 1}")
      }
    }

    // overflow: more distinct keys than the bound, inserted from 4 threads
    val keys = StPredicatePoint.TesterBound + 500
    onThreads(4) { t =>
      for (k <- t until keys by 4) {
        val s = k % shapes.size
        val tester = StPredicatePoint.testerByKey(salt + shapes.size + k, wkbs(s))
        assert(StPredicatePoint.testerCount <= StPredicatePoint.TesterBound)
        val p = (k * 31) % points.size
        assert(StPredicatePoint.testPoint(tester, points(p)._1, points(p)._2, k % 2 == 1) ==
          want(s)(p)(k % 2))
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
