package graft

import graft.core.Constants
import graft.geo.Wkb
import graft.index.{Bng, BngIndexExpr, BngIndexIdsExpr}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.locationtech.jts.geom.{Coordinate, Geometry, Polygon, TopologyException}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.geom.util.{AffineTransformation, GeometryFixer}
import org.scalacheck.{Gen, Prop, Test => SCTest}

class BngSpec extends SparkSpec {

  def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("known 100km letter pairs") {
    assert(Bng.gridRef(432674, 432342, 100000) == "SE")
    assert(Bng.gridRef(530000, 180000, 100000) == "TQ")
    assert(Bng.gridRef(0, 1200000, 100000) == "HL") // reference to_zarr.py:85 NW corner
    assert(Bng.gridRef(0, 0, 100000) == "SV")
    assert(Bng.gridRef(650000, 0, 100000) == "TW")
  }

  test("10km and 1km digit refs") {
    assert(Bng.gridRef(432674, 432342, 10000) == "SE33")
    assert(Bng.gridRef(432674, 432342, 1000) == "SE3232")
    assert(Bng.gridRef(5000, 5000, 10000) == "SV00")
  }

  test("round-trip: parse(gridRef(e, n)) floors to cell origin") {
    val coord = for {
      e <- Gen.choose(0L, Constants.BngXMax - 1)
      n <- Gen.choose(0L, Constants.BngYMax - 1)
      r <- Gen.oneOf(Bng.Resolutions)
    } yield (e, n, r)
    check(Prop.forAll(coord) { case (e, n, r) =>
      val ref = Bng.gridRef(e.toDouble, n.toDouble, r)
      val (pe, pn, pr) = Bng.parse(ref)
      pr == r && pe == (e / r) * r && pn == (n / r) * r
    })
  }

  test("bounds match parse") {
    val (minx, miny, maxx, maxy) = Bng.bounds("SE33")
    assert((minx, miny, maxx, maxy) == (430000d, 430000d, 440000d, 440000d))
  }

  test("envelopeCells covers exactly the intersecting cells") {
    val cells = Bng.envelopeCells(395000, 395000, 415000, 405000, 10000)
    // x cells: 39,40,41; y cells: 39,40 -> 6 cells
    assert(cells.size == 6)
    val expected = for {
      ny <- Seq(39L, 40L)
      ex <- Seq(39L, 40L, 41L)
    } yield Bng.gridRef(ex * 10000d, ny * 10000d, 10000)
    assert(cells.toSet == expected.toSet)
  }

  test("envelope clamps to canvas") {
    val cells = Bng.envelopeCells(-50000, -50000, 5000, 5000, 10000)
    assert(cells == Seq("SV00"))
  }

  test("cellId is unique per cell and stable") {
    val id1 = Bng.cellId(432674, 432342, 10000)
    val id2 = Bng.cellId(439999, 439999, 10000)
    val id3 = Bng.cellId(440001, 432342, 10000)
    assert(id1 == id2)
    assert(id1 != id3)
  }

  /** `bng_index` / `bng_index_ids` refs of `g` as the expression emits them. */
  private def refs(g: Geometry, res: Long, how: String): Seq[String] =
    BngIndexExpr(Literal(Wkb.write(g)), res, how).eval().asInstanceOf[GenericArrayData]
      .array.toSeq.map(_.toString)

  /** `bng_index_ids` packed cell ids of `g`. */
  private def ids(g: Geometry, res: Long, how: String): Seq[Long] =
    BngIndexIdsExpr(Literal(Wkb.write(g)), res, how).eval()
      .asInstanceOf[GenericArrayData].toLongArray().toSeq

  /** The JTS refine alone, with no single-cell fast path. */
  private def jtsRefs(g: Geometry, res: Long, how: String): Seq[String] = {
    val env = g.getEnvelopeInternal
    val pg = PreparedGeometryFactory.prepare(g)
    Bng.envelopeCells(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, res).filter { ref =>
      val (minx, miny, maxx, maxy) = Bng.bounds(ref)
      val cell = Wkb.box(minx, miny, maxx, maxy)
      if (how == "interior") pg.intersects(cell) && !pg.touches(cell) else pg.intersects(cell)
    }
  }

  test("single-cell fast path returns the JTS refine's refs (intersects, interior)") {
    val f = Wkb.factory
    val rnd = new scala.util.Random(2024)
    def ring(cs: (Double, Double)*) =
      f.createPolygon((cs :+ cs.head).map { case (x, y) => new Coordinate(x, y) }.toArray)
    /** Star-shaped simple polygon, sometimes shifted so that its envelope
      * starts or ends exactly on a grid line of `res`.
      */
    def seeded(res: Long): Geometry = {
      val (cx, cy) = (300000 + 400000 * rnd.nextDouble(), 300000 + 400000 * rnd.nextDouble())
      val r = res * math.pow(10, -2 + 2.3 * rnd.nextDouble())
      val n = 3 + rnd.nextInt(10)
      val p = ring((0 until n).map { v =>
        val a = 2 * math.Pi * (v + 0.8 * rnd.nextDouble()) / n
        val rv = r * (0.5 + 0.5 * rnd.nextDouble())
        (cx + rv * math.cos(a), cy + rv * math.sin(a))
      }: _*)
      val env = p.getEnvelopeInternal
      val shift = rnd.nextInt(5) match {
        case 0 => Some((math.ceil(env.getMinX / res) * res - env.getMinX,
          math.ceil(env.getMinY / res) * res - env.getMinY)) // min edges on grid lines
        case 1 => Some((math.floor(env.getMaxX / res) * res - env.getMaxX, 0d)) // max edge on one
        case _ => None
      }
      val g = shift.fold(p: Geometry) { case (dx, dy) =>
        AffineTransformation.translationInstance(dx, dy).transform(p)
      }
      // a valid MultiPolygon: the copy's x-range starts past the star's
      if (rnd.nextInt(10) == 0) f.createMultiPolygon(Array(g.asInstanceOf[Polygon],
        AffineTransformation.translationInstance(2.5 * r, 0).transform(g).asInstanceOf[Polygon]))
      else g
    }
    def pt(x: Double, y: Double) = new Coordinate(x, y)
    // two boxes whose only contact is the grid line E 410000
    val west = Wkb.box(395000, 400000, 410000, 405000)
    val east = Wkb.box(410000, 400000, 420000, 405000)
    val hand: Seq[Geometry] = Seq(west, east,
      // touching its cell's min edges from inside
      Wkb.box(530000, 180000, 530500, 180500), ring((530000, 180000), (531000, 180200), (530300, 181000)),
      // max edge exactly on a grid line
      Wkb.box(539500, 181000, 540000, 182000), Wkb.box(531000, 189000, 532000, 190000),
      // zero-area slivers (the second a spike along its cell's min edge,
      // which JTS finds touching), symmetric and lopsided bowties
      ring((531000, 181000), (532000, 181000), (533000, 181000)),
      ring((530000, 180000), (531000, 180000), (530000, 180000)),
      ring((531000, 181000), (533000, 183000), (533000, 181000), (531000, 183000)),
      ring((531000, 181000), (535000, 185000), (535000, 181000), (531000, 182000)),
      // straddling the canvas's west edge: one clamped candidate
      Wkb.box(-5000, 181000, 5000, 182000),
      // a line on a grid line
      f.createLineString(Array(pt(540000, 181000), pt(540000, 188000))))
    val lineOnGrid = hand.last
    assert(refs(lineOnGrid, 10000, "interior").isEmpty)
    assert(refs(lineOnGrid, 10000, "intersects") == Seq("TQ48")) // half-open candidates
    // a point on the shared line floor-maps to a cell both boxes keep as a
    // join candidate, so the pair still meets in the cell equi-join
    val shared = ids(west, 10000, "intersects").intersect(ids(east, 10000, "intersects"))
    assert(shared.contains(Bng.cellId(410000, 402500, 10000)), shared)
    var single = 0
    val cases = hand.map(g => (g, 10000L)) ++ (0 until 5000).map { i =>
      val res = if (i % 2 == 0) 10000L else 1000L
      (seeded(res), res)
    }
    cases.foreach { case (g, res) =>
      val env = g.getEnvelopeInternal
      if (Bng.envelopeCells(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, res).size == 1)
        single += 1
      Seq("intersects", "interior").foreach { how =>
        assert(refs(g, res, how) == jtsRefs(g, res, how), s"$how at $res: $g")
        assert(ids(g, res, how) == refs(g, res, how).map { ref =>
          val (e, n, r) = Bng.parse(ref)
          Bng.cellId(e.toDouble, n.toDouble, r)
        }, s"ids, $how at $res")
      }
    }
    assert(single > 1000, s"only $single single-candidate cases")
  }

  test("a MultiPolygon with overlapping members gets its GeometryFixer repair's cells") {
    // two overlapping boxes, together across TQ38 and TQ48
    val g = Wkb.factory.createMultiPolygon(Array(
      Wkb.box(531000, 181000, 545000, 185000).asInstanceOf[Polygon],
      Wkb.box(535000, 182000, 540000, 188000).asInstanceOf[Polygon]))
    assert(!g.isValid)
    intercept[TopologyException](jtsRefs(g, 10000, "interior"))
    val fixed = GeometryFixer.fix(g)
    Seq("intersects", "interior").foreach { how =>
      val expected = jtsRefs(fixed, 10000, how)
      assert(expected == Seq("TQ38", "TQ48"), how)
      assert(refs(g, 10000, how) == expected, how)
      assert(ids(g, 10000, how) == expected.map { ref =>
        val (e, n, r) = Bng.parse(ref)
        Bng.cellId(e.toDouble, n.toDouble, r)
      }, how)
    }
    // the raster write assigns tiles through the same refine
    val s = spark
    import s.implicits._
    val metrics = graft.raster.RasterPipeline.toTileStore(Seq((1L, Wkb.write(g))).toDF("v", "geometry"),
      "geometry", Seq("v"), tempDir("overlap"), cellSize = 1000, tileSize = 10000, overwrite = true)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(metrics.keySet == Set("TQ38", "TQ48"))
    metrics.foreach { case (tile, burned) =>
      val (minx, miny, _, _) = Bng.bounds(tile)
      val grid = graft.raster.Rasterize.empty(minx, miny, 1000, 10, Double.NaN)
      graft.raster.Rasterize.burnGeometry(grid, g, 1)
      assert(burned == grid.data.count(!_.isNaN), tile)
    }
  }
}
