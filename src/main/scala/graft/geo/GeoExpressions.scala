package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Coordinate, Geometry, Location}

/** Native Catalyst expressions for geometry predicates over WKB binary
  * columns. These replace the reference's shapely/GeoPandas per-row Python
  * kernels (`_dataframe.py:628-654`, `_vector.py:198-235`) with pure-JVM
  * evaluation — no Python-worker boundary, no serialization across
  * runtimes. CodegenFallback is acceptable here: each call does real
  * geometry work, so the virtual-call overhead is negligible relative to
  * the kernel.
  */
object GeoExpressions {
  /** Bridge a Catalyst Expression to a user-facing Column (Spark 4.x). */
  def toCol(e: Expression): Column = Bridge.column(e)
  def expr(c: Column): Expression = Bridge.expression(c)

  def st_point(x: Column, y: Column): Column = toCol(StPoint(expr(x), expr(y)))
  def st_contains(a: Column, b: Column): Column = toCol(StPredicate(expr(a), expr(b), "contains"))
  def st_covers(a: Column, b: Column): Column = toCol(StPredicate(expr(a), expr(b), "covers"))
  def st_intersects(a: Column, b: Column): Column = toCol(StPredicate(expr(a), expr(b), "intersects"))
  def st_within(a: Column, b: Column): Column = toCol(StPredicate(expr(a), expr(b), "within"))
  def st_intersection(a: Column, b: Column): Column = toCol(StIntersection(expr(a), expr(b)))
  def st_envelope(g: Column): Column = toCol(StEnvelope(expr(g)))
  def st_distance(a: Column, b: Column): Column = toCol(StDistance(expr(a), expr(b)))
  def st_astext(g: Column): Column = toCol(StAsText(expr(g)))
  def st_geomfromtext(g: Column): Column = toCol(StGeomFromText(expr(g)))
  def st_box(minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    toCol(StMakeBox(Seq(expr(minx), expr(miny), expr(maxx), expr(maxy))))

  /** Fused polygon-covers-point predicate over raw coordinates: no WKB
    * point round-trip, and the (few, repeated after a broadcast join)
    * polygon geometries are prepared once per JVM and shared — the
    * "prepare-once, batch-evaluate" vectorized-PIP shape (north rule R8).
    */
  def st_covers_point(geom: Column, x: Column, y: Column): Column =
    toCol(StPredicatePoint(expr(geom), expr(x), expr(y), "covers"))
  def st_contains_point(geom: Column, x: Column, y: Column): Column =
    toCol(StPredicatePoint(expr(geom), expr(x), expr(y), "contains"))

  /** Content hash of a WKB geometry — computed ONCE on a join's (small)
    * build side so the probe-side refine can key its prepared-geometry
    * cache without re-hashing ~100 WKB bytes per candidate row.
    */
  def st_geom_key(geom: Column): Column = toCol(StGeomKey(expr(geom)))

  /** Keyed variant of [[st_covers_point]]/[[st_contains_point]]: the
    * cache key is the precomputed [[st_geom_key]] column.
    */
  def st_predicate_point_keyed(key: Column, geom: Column, x: Column,
      y: Column, op: String): Column =
    toCol(StPredicatePointKeyed(expr(key), expr(geom), expr(x), expr(y), op))
}

/** WKB -> 64-bit content hash (same FNV the prepared cache uses). */
case class StGeomKey(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(g: Any): Any =
    StPredicatePoint.hashBytes(g.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** (geomKey, polyWkb, x, y) -> boolean; prepared-geometry cache lookup by
  * the precomputed long key (no per-row WKB hashing), preparing from the
  * WKB on first sight of a key. It now serves only the shuffle path of
  * [[graft.ops.SpatialJoin.pointInPolygon]] (`broadcastPolys = false`),
  * as the refine of the sort-merge cell equi-join; the broadcast path
  * tests in [[graft.ops.PointInPolygonJoinExec]] and reaches its testers
  * by polygon index ([[PolygonTesters]]).
  */
case class StPredicatePointKeyed(first: Expression, second: Expression,
    third: Expression, fourth: Expression, op: String)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(k: Any, g: Any, xv: Any, yv: Any): Any = {
    val t = StPredicatePoint.testerByKey(k.asInstanceOf[Long],
      g.asInstanceOf[Array[Byte]])
    StPredicatePoint.testPoint(t, xv.asInstanceOf[Double],
      yv.asInstanceOf[Double], op == "contains")
  }

  /** Real codegen with a LAZY binary child: this predicate runs once per
    * candidate row of the shuffle join — the round-3 CodegenFallback
    * boxed the key and both coords on EVERY row. Here the key/x/y are
    * unboxed and the WKB child's code is emitted INSIDE the cache-miss
    * branch, so the predicate itself reads the bytes only on a miss.
    * In a plain projection or filter the WKB child is skipped on a hit.
    * The optimizer makes it the shuffle join's condition, though, and
    * Spark evaluates every column a join condition references before
    * the condition runs, so there each candidate copies the WKB.
    *
    * INVARIANT (required for codegen/interpreted agreement): the key
    * child MUST be `st_geom_key(geom)` over the SAME geometry child — a
    * null geometry then implies a null key, so the hit path (which skips
    * evaluating the geometry child entirely) can never observe a non-null
    * key paired with a null geometry. [[graft.ops.SpatialJoin]] is the
    * only constructor and derives the key that way. An independently
    * supplied key with a null geometry would return false where
    * interpreted nullSafeEval returns null; do not construct one.
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val keyCode = first.genCode(ctx)
    val xCode = third.genCode(ctx)
    val yCode = fourth.genCode(ctx)
    val gCode = second.genCode(ctx) // emitted only inside the miss branch
    val pg = ctx.freshName("pg")
    val contains = if (op == "contains") "true" else "false"
    val code =
      code"""
        |${keyCode.code}
        |${xCode.code}
        |${yCode.code}
        |boolean ${ev.isNull} = ${keyCode.isNull} || ${xCode.isNull} || ${yCode.isNull};
        |boolean ${ev.value} = false;
        |if (!${ev.isNull}) {
        |  graft.geo.PointTester $pg =
        |    graft.geo.StPredicatePoint.testerByKeyOrNull(${keyCode.value});
        |  if ($pg == null) {
        |    ${gCode.code}
        |    if (${gCode.isNull}) { ${ev.isNull} = true; }
        |    else {
        |      $pg = graft.geo.StPredicatePoint.testerByKeyPut(${keyCode.value}, ${gCode.value});
        |    }
        |  }
        |  if (!${ev.isNull}) {
        |    ${ev.value} = graft.geo.StPredicatePoint.testPoint($pg,
        |      ${xCode.value}, ${yCode.value}, $contains);
        |  }
        |}
      """.stripMargin
    ev.copy(code = code)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression = copy(f, s, t, q)
}

/** (polyWkb, x, y) -> boolean; prepared-geometry cache keyed by WKB
  * content hash (JVM-wide, bounded).
  */
case class StPredicatePoint(first: Expression, second: Expression,
    third: Expression, op: String)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(g: Any, xv: Any, yv: Any): Any = {
    val wkb = g.asInstanceOf[Array[Byte]]
    val t = StPredicatePoint.tester(wkb)
    StPredicatePoint.testPoint(t, xv.asInstanceOf[Double],
      yv.asInstanceOf[Double], op == "contains")
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression = copy(f, s, t)
}

/** Immutable point-predicate evaluator for ONE geometry, built once per
  * JVM and shared by every task thread through the tester table in
  * [[StPredicatePoint]]. Every tier starts with the envelope reject,
  * written so that a NaN coordinate is rejected too. Then, cheapest exact
  * method first:
  *  - axis-aligned rectangle: the envelope test IS the covers test
  *    (4 double compares per row; JTS's own Geometry.covers applies the
  *    same shortcut) and strict envelope interiority is contains;
  *  - any other polygonal geometry: a 64 x 64 sub-cell grid over the
  *    envelope, 2 bits a cell and built once here (see `buildGrid`),
  *    settles the point when its cell lies wholly inside or wholly
  *    outside: inside answers true for covers and contains, outside false
  *    for both. Only a cell some ring edge touches runs
  *    IndexedPointInAreaLocator.locate on a fresh Coordinate — covers ==
  *    not EXTERIOR, contains == INTERIOR;
  *  - non-polygonal geometry: PreparedGeometry against a fresh Point
  *    (rare — point/line dims in a PIP join).
  * Sharing is safe because no call writes to this object, and JTS 1.20
  * builds the locator's and the prepared geometry's lazy indexes under
  * a lock and publishes them through volatile fields.
  */
final class PointTester(geom: Geometry) {
  import PointTester._
  private val env = geom.getEnvelopeInternal
  private val minX = env.getMinX; private val maxX = env.getMaxX
  private val minY = env.getMinY; private val maxY = env.getMaxY
  private val rect = geom.isRectangle
  private val locator =
    if (!rect && geom.isInstanceOf[org.locationtech.jts.geom.Polygonal])
      new org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator(geom)
    else null
  private val prepared =
    if (rect || locator != null) null
    else org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(geom)
  /** Grid cells per envelope unit along x and y. */
  private val sx = Grid / (maxX - minX); private val sy = Grid / (maxY - minY)
  private val grid: Array[Long] =
    if (locator != null && maxX > minX && maxY > minY) buildGrid() else null

  private def inEnvelope(x: Double, y: Double): Boolean =
    x >= minX && x <= maxX && y >= minY && y <= maxY

  /** Inside, Outside or Boundary for a point in the envelope; a point on
    * the envelope's max edge reads the last cell.
    */
  private def cellState(x: Double, y: Double): Int =
    if (grid == null) Boundary
    else {
      val c = math.min(Grid - 1, ((x - minX) * sx).toInt)
      val r = math.min(Grid - 1, ((y - minY) * sy).toInt)
      stateAt(grid, r * Grid + c)
    }

  def covers(x: Double, y: Double): Boolean = {
    if (!inEnvelope(x, y)) false
    else if (rect) true
    else if (locator != null) {
      val s = cellState(x, y)
      if (s == Boundary) locator.locate(new Coordinate(x, y)) != Location.EXTERIOR
      else s == Inside
    }
    else prepared.covers(Wkb.point(x, y))
  }

  def contains(x: Double, y: Double): Boolean = {
    if (!inEnvelope(x, y)) false
    else if (rect) x > minX && x < maxX && y > minY && y < maxY
    else if (locator != null) {
      val s = cellState(x, y)
      if (s == Boundary) locator.locate(new Coordinate(x, y)) == Location.INTERIOR
      else s == Inside
    }
    else prepared.contains(Wkb.point(x, y))
  }

  /** Marks every cell a ring edge touches (shell, holes, every member)
    * Boundary, then classifies each run of other cells in a row by one
    * locator call at the centre of its first cell. The cells of a run
    * share sides and no edge touches their union, so the whole run lies
    * in the interior or in the exterior; its centre is on no edge, so the
    * locator answers INTERIOR or EXTERIOR there.
    */
  private def buildGrid(): Array[Long] = {
    val g = new Array[Long](Grid * Grid / 32)
    def markRing(ring: org.locationtech.jts.geom.LineString): Unit = {
      val cs = ring.getCoordinateSequence
      var i = 1
      while (i < cs.size) {
        markEdge(g, (cs.getX(i - 1) - minX) * sx, (cs.getY(i - 1) - minY) * sy,
          (cs.getX(i) - minX) * sx, (cs.getY(i) - minY) * sy)
        i += 1
      }
    }
    for (k <- 0 until geom.getNumGeometries) {
      val p = geom.getGeometryN(k).asInstanceOf[org.locationtech.jts.geom.Polygon]
      markRing(p.getExteriorRing)
      for (h <- 0 until p.getNumInteriorRing) markRing(p.getInteriorRingN(h))
    }
    val w = (maxX - minX) / Grid; val h = (maxY - minY) / Grid
    var r = 0
    while (r < Grid) {
      var c = 0
      var run = Boundary
      while (c < Grid) {
        val i = r * Grid + c
        if (stateAt(g, i) == Boundary) run = Boundary
        else {
          if (run == Boundary)
            run = if (locator.locate(new Coordinate(minX + (c + 0.5) * w,
              minY + (r + 0.5) * h)) == Location.INTERIOR) Inside else Outside
          g(i >>> 5) |= run.toLong << ((i & 31) << 1)
        }
        c += 1
      }
      r += 1
    }
    g
  }
}

object PointTester {
  /** Sub-cells per envelope side: 64 x 64 cells at 2 bits is 1 KB. */
  private val Grid = 64
  private val Outside = 0; private val Inside = 1; private val Boundary = 2
  /** Widening of every edge clip, in cells: far above the rounding of the
    * cell arithmetic, so a point that rounds into a neighbouring cell
    * still lies in the widened box its cell was classified over.
    */
  private val Slack = 1e-6

  private def stateAt(g: Array[Long], i: Int): Int =
    ((g(i >>> 5) >>> ((i & 31) << 1)) & 3L).toInt

  private def setBoundary(g: Array[Long], r: Int, c: Int): Unit = {
    val i = r * Grid + c
    g(i >>> 5) = (g(i >>> 5) & ~(3L << ((i & 31) << 1))) | (Boundary.toLong << ((i & 31) << 1))
  }

  private def cellOf(u: Double): Int = math.max(0, math.min(Grid - 1, math.floor(u).toInt))

  /** Marks Boundary every cell whose closed box, widened by [[Slack]],
    * meets the edge (u0, v0)-(u1, v1) given in cell units: the edge is
    * clipped to each row band it spans and the clip's column range marked.
    */
  private def markEdge(g: Array[Long], u0: Double, v0: Double, u1: Double, v1: Double): Unit = {
    val vLo = math.min(v0, v1); val vHi = math.max(v0, v1)
    var r = cellOf(vLo - Slack)
    val rEnd = cellOf(vHi + Slack)
    def uAt(v: Double): Double =
      u0 + math.max(0.0, math.min(1.0, (v - v0) / (v1 - v0))) * (u1 - u0)
    while (r <= rEnd) {
      val uA = if (v0 == v1) u0 else uAt(math.max(vLo, r - Slack))
      val uB = if (v0 == v1) u1 else uAt(math.min(vHi, r + 1 + Slack))
      var c = cellOf(math.min(uA, uB) - Slack)
      val cEnd = cellOf(math.max(uA, uB) + Slack)
      while (c <= cEnd) { setBoundary(g, r, c); c += 1 }
      r += 1
    }
  }
}

object StPredicatePoint {
  /** Most testers the table holds: enough to keep a broadcast side of a
    * few thousand polygons resident (the benchmark's tile join has 2,000)
    * while bounding the heap. A tester retains about 145 B per polygon
    * vertex (measured on JDK 17: 7.0 KB at 48 vertices, 141 KB at 1,000)
    * plus 1 KB for the sub-cell grid of a non-rectangular polygon, so a
    * full table is about 33 MB of heap for 48-vertex polygons and about
    * 584 MB for 1,000-vertex ones.
    */
  private[graft] val TesterBound = 4096

  /** JVM-wide tester table keyed by geometry content hash: every task
    * thread reads the one tester built for a polygon. Reads take no lock;
    * inserts are serialised so the table never exceeds [[TesterBound]],
    * and an insert into a full table first empties it (testers still
    * held by running threads stay valid, as they are immutable).
    */
  private val testers =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Long, PointTester]()

  private[graft] def testerCount: Int = testers.size

  private[graft] def hashBytes(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    h
  }

  def tester(wkb: Array[Byte]): PointTester =
    testerByKey(hashBytes(wkb), wkb)

  /** The tester of `keyHash`; `wkb` is read only on a table miss. */
  def testerByKey(keyHash: Long, wkb: => Array[Byte]): PointTester = {
    val hit = testerByKeyOrNull(keyHash)
    if (hit != null) hit else testerByKeyPut(keyHash, wkb)
  }

  /** Hit-path lookup for the codegen'd predicate: no boxing beyond the
    * Long key, no lock. Returns null on miss.
    */
  def testerByKeyOrNull(keyHash: Long): PointTester =
    testers.get(java.lang.Long.valueOf(keyHash))

  /** Miss-path insert: build the tester from the WKB outside the lock and
    * return whichever tester the table holds for the key, so threads
    * racing on one polygon all use the first one published.
    */
  def testerByKeyPut(keyHash: Long, wkb: Array[Byte]): PointTester = {
    val t = new PointTester(Wkb.read(wkb))
    val k = java.lang.Long.valueOf(keyHash)
    testers.synchronized {
      if (testers.size >= TesterBound && !testers.containsKey(k)) testers.clear()
      val prior = testers.putIfAbsent(k, t)
      if (prior != null) prior else t
    }
  }

  /** Predicate dispatch for interpreted eval and generated code. */
  def testPoint(t: PointTester, x: Double, y: Double, contains: Boolean): Boolean =
    if (contains) t.contains(x, y) else t.covers(x, y)
}

/** The testers of a fixed list of `n` polygons, reached by polygon index.
  * Slot i is filled on its first use from the JVM-wide table in
  * [[StPredicatePoint]], keyed by the polygon's [[StGeomKey]] `key(i)`,
  * so the WKB `wkb(i)` is read only when that table misses and a tester
  * is built once per JVM, not once per slot or task. Not thread-safe: one
  * task owns one instance.
  */
final class PolygonTesters(n: Int, key: Int => Long, wkb: Int => Array[Byte]) {
  private val slots = new Array[PointTester](n)

  def apply(i: Int): PointTester = {
    val t = slots(i)
    if (t != null) t
    else {
      val filled = StPredicatePoint.testerByKey(key(i), wkb(i))
      slots(i) = filled
      filled
    }
  }
}

/** (minx, miny, maxx, maxy) -> WKB box polygon (shapely.geometry.box). */
case class StMakeBox(children: Seq[Expression])
    extends Expression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else {
      def d(a: Any): Double = a match {
        case x: Double => x
        case x: Long => x.toDouble
        case x: Int => x.toDouble
        case x => x.toString.toDouble
      }
      Wkb.write(Wkb.box(d(vs(0)), d(vs(1)), d(vs(2)), d(vs(3))))
    }
  }
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** (x, y) -> WKB point. */
case class StPoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(x: Any, y: Any): Any =
    Wkb.write(Wkb.point(x.asInstanceOf[Double], y.asInstanceOf[Double]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def checkInputDataTypes() =
    org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
}

/** Binary spatial predicate over two WKB geometries. */
case class StPredicate(left: Expression, right: Expression, op: String)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ga = Wkb.read(a.asInstanceOf[Array[Byte]])
    val gb = Wkb.read(b.asInstanceOf[Array[Byte]])
    op match {
      case "contains"   => ga.contains(gb)
      case "covers"     => ga.covers(gb)
      case "intersects" => ga.intersects(gb)
      case "within"     => ga.within(gb)
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** WKB x WKB -> WKB geometric intersection (reference clip-to-bbox,
  * `vector.py:612-617`).
  */
case class StIntersection(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ga = Wkb.read(a.asInstanceOf[Array[Byte]])
    val gb = Wkb.read(b.asInstanceOf[Array[Byte]])
    Wkb.write(ga.intersection(gb))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** WKB -> [minx, miny, maxx, maxy]. */
case class StEnvelope(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val env = Wkb.read(v.asInstanceOf[Array[Byte]]).getEnvelopeInternal
    new GenericArrayData(Array(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Euclidean distance between two WKB geometries (planar CRS units). */
case class StDistance(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Wkb.read(a.asInstanceOf[Array[Byte]]).distance(Wkb.read(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** WKB -> WKT (test/debug surface, reference `pipeline.py:247-271`). */
case class StAsText(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(Wkb.writeWkt(Wkb.read(v.asInstanceOf[Array[Byte]])))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** WKT -> WKB. */
case class StGeomFromText(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    Wkb.write(Wkb.readWkt(v.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
