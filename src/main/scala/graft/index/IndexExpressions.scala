package graft.index

import graft.core.Constants
import graft.geo.{GeoExpressions, Wkb}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.{Envelope, Geometry, Polygonal, TopologyException}
import org.locationtech.jts.geom.util.GeometryFixer

/** Batched Catalyst cell encoders — the graft's replacement for the
  * reference's per-row Python UDF `calculate_bng_index`
  * (`/root/reference/src/sds_data_model/dataframe.py:337-413`).
  *
  * `how` semantics follow the reference docs (`__init__.py:281-288`):
  *  - "bounding box": all cells covering the geometry's envelope;
  *  - "intersects" (default): cells the geometry intersects,
  *    touch-INCLUSIVE like the reference's shapely predicate — required
  *    for join candidate generation (see [[BngIndexExpr]]);
  *  - "interior": touch-EXCLUSIVE variant for rasterize tile assignment;
  *  - "contains": cells wholly contained in the geometry (the reference's
  *    intersects+flag shape is [[bng_index_flags]]).
  * For points all modes collapse to the single containing cell — the hot
  * path allocates one candidate and skips JTS entirely.
  */
object IndexExpressions {
  import GeoExpressions.{toCol, expr}

  def bng_index(geom: Column, resolution: Long, how: String = "intersects"): Column =
    toCol(BngIndexExpr(expr(geom), resolution, how))

  def bng_index_point(x: Column, y: Column, resolution: Long): Column =
    toCol(BngPointRef(expr(x), expr(y), resolution))

  def bng_to_bounds(ref: Column): Column = toCol(BngToBounds(expr(ref)))

  /** WKB geometry -> Array[Long] of packed cell ids (the JOIN-key form:
    * long equi-joins probe ~3x faster than string grid refs and keep
    * scaling at high parallelism — measured in BENCH.md).
    */
  def bng_index_ids(geom: Column, resolution: Long, how: String = "intersects"): Column =
    toCol(BngIndexIdsExpr(expr(geom), resolution, how))

  /** Reference-parity 'contains' shape (`__init__.py:281-288`): every
    * intersecting cell plus a per-cell boolean — true when the polygon
    * wholly contains the cell, false when it merely intersects it.
    * Array of struct<ref: string, contained: boolean>.
    */
  def bng_index_flags(geom: Column, resolution: Long): Column =
    toCol(BngIndexFlagsExpr(expr(geom), resolution))

  def bng_cell_id(x: Column, y: Column, resolution: Long): Column =
    toCol(BngCellId(expr(x), expr(y), resolution))

  def cell_ring(ref: Column, ring: Column): Column =
    toCol(BngCellRing(expr(ref), expr(ring)))

  /** H3-style cell id of a BNG (x, y) point at resolution `res` (7-12 per
    * north rule; 0-15 supported). BNG -> WGS84 -> icosahedral hex index.
    */
  def h3_index_point(x: Column, y: Column, res: Int): Column =
    toCol(SphericalCellId(expr(x), expr(y), res, "h3"))

  /** S2 cell id of a BNG (x, y) point at `level` (bit-compatible Hilbert
    * ids per the published S2 spec).
    */
  def s2_index_point(x: Column, y: Column, level: Int): Column =
    toCol(SphericalCellId(expr(x), expr(y), level, "s2"))

  /** S2 cell id straight from WGS84 (latDeg, lngDeg) — the global-data
    * twin of [[s2_index_point]] (which takes BNG metres). Used by the
    * seam-safe spherical radius join, where inputs span the antimeridian
    * and poles and no planar grid applies.
    */
  def s2_cell_lonlat(lat: Column, lng: Column, level: Int): Column =
    toCol(S2CellLatLng(expr(lat), expr(lng), level))

  /** Parent cell id at a coarser resolution — pure integer/double math
    * on the packed id, no datum transform. Chaining these over flat LONG
    * columns is the allocation-free way to index one record at every
    * res in a range: the finest id comes from one fused transform, each
    * coarser id is one table-trig rotation from the previous, and
    * whole-stage codegen's subexpression elimination computes each step
    * once even though the column expressions nest.
    */
  def h3_parent(cell: Column, parentRes: Int): Column =
    toCol(H3Parent(expr(cell), parentRes))
}

/** Packed H3-style cell id -> parent id at `parentRes` (codegen'd; sits
  * in the full-width indexing kernel's per-row path).
  */
case class H3Parent(child: Expression, parentRes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    H3.parent(v.asInstanceOf[Long], parentRes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.index.H3.parent($v, $parentRes)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** (latDeg, lngDeg) -> S2 cell id at `level` (no datum transform — input
  * is already WGS84).
  */
case class S2CellLatLng(left: Expression, right: Expression, level: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(lat: Any, lng: Any): Any =
    S2.cellId(lat.asInstanceOf[Double], lng.asInstanceOf[Double], level)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lat, lng) => s"graft.index.S2.cellId($lat, $lng, $level)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** (easting, northing) -> H3-style or S2 cell id; the batched Catalyst
  * "cell encoder" the north rule names. The full chain (inverse transverse
  * Mercator + Helmert + spherical index) is pure double math per row.
  */
case class SphericalCellId(left: Expression, right: Expression, res: Int,
    system: String)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val m = Transform.bngToWgs84Memo(
      x.asInstanceOf[Double], y.asInstanceOf[Double])
    system match {
      case "h3" => H3.cellId(m(2), m(3), res)
      case "s2" => S2.cellId(m(2), m(3), res)
    }
  }

  /** Memoized transform (single-entry): several cell encoders over the
    * same (x, y) row in one projection — h3 + s2, or multiple
    * resolutions — pay for ONE inverse-TM + Helmert chain between them,
    * with zero per-row allocation (a struct-returning encoder would
    * materialize a row + boxed longs per call — ~100 B of garbage per
    * input row). The memo is one field of the generated class, shared by
    * its spherical encoders: a generated class serves one task thread,
    * and the field costs no ThreadLocal lookup per row.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val target = if (system == "h3") "graft.index.H3" else "graft.index.S2"
    val memo = "graftBngMemo"
    ctx.addImmutableStateIfNotExists("double[]", memo,
      v => s"$v = graft.index.Transform.newMemo();")
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""
         |graft.index.Transform.bngToWgs84Memo($x, $y, $memo);
         |${ev.value} = $target.cellId($memo[2], $memo[3], $res);
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** WKB geometry -> Array[String] of BNG grid refs at `resolution`.
  *
  * Cells are half-open squares `[k*res, (k+1)*res)` — the same floor
  * mapping the point encoders use — so the join invariant holds for every
  * `how != "contains"` mode: for EVERY point p of the geometry (boundary
  * included), `cell(p)` is in the output. `how` modes:
  *  - "bounding box": every cell whose floor-range overlaps the envelope;
  *  - "intersects" (default, reference shapely parity
  *    `__init__.py:281-288`): touch-INCLUSIVE JTS intersects — a cell the
  *    geometry only meets on a shared grid line stays in, because a point
  *    lying exactly on that line floor-maps to it. Use for join candidate
  *    generation.
  *  - "interior": touch-EXCLUSIVE (intersects && !touches) — for
  *    rasterize tile assignment, where center-sampling can never burn a
  *    cell of a touch-only tile and the inclusive variant would multiply
  *    shuffle volume ~4x for grid-aligned data at 10^12 rows.
  *  - "contains": cells wholly contained in the geometry (documented
  *    deviation: the reference's 'contains' returns intersecting cells +
  *    a containment FLAG — that shape is [[BngIndexFlagsExpr]]).
  *
  * Single-cell fast path: under "intersects" and "interior", a
  * positive-area Polygonal geometry whose envelope lies in the half-open
  * cell `[x0, x1) x [y0, y1)` of its only candidate gets that cell with
  * no prepare and no relate. This is exact: the geometry lies in its
  * envelope, so its (non-empty) interior lies in the envelope's interior,
  * which lies in the open cell. The interiors meet, so the geometry
  * intersects the cell and does not merely touch it. Zero-area, linear,
  * point-like and multi-candidate geometries keep the JTS refine. A
  * refine that throws `TopologyException` (an invalid MultiPolygon whose
  * members overlap) is retried once on `GeometryFixer.fix(g)`.
  */
case class BngIndexExpr(child: Expression, resolution: Long, how: String)
    extends UnaryExpression with CodegenFallback {
  require(Set("intersects", "interior", "bounding box", "contains").contains(how),
    s"unknown how='$how'")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  /** Shared candidate generation + refine (also used by the long-id
    * variant BngIndexIdsExpr).
    */
  private[index] def refsOf(v: Any): Seq[String] = {
    val g = Wkb.read(v.asInstanceOf[Array[Byte]])
    val env = g.getEnvelopeInternal
    val candidates = Bng.envelopeCells(
      env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, resolution)
    val isPointLike = g.getNumPoints == 1 ||
      (env.getWidth == 0 && env.getHeight == 0)
    val refs: Seq[String] =
      if (how == "bounding box" || (isPointLike && how != "contains")) candidates
      else if (how != "contains" && candidates.lengthCompare(1) == 0 &&
          insideCell(g, env, candidates.head)) candidates
      else {
        // Refine with real geometry tests; prepare once per row (rows with
        // large envelopes amortize over many candidate cells).
        def refine(geom: Geometry): Seq[String] = {
          val pg = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(geom)
          candidates.filter { ref =>
            val (minx, miny, maxx, maxy) = Bng.bounds(ref)
            val cell = Wkb.box(minx, miny, maxx, maxy)
            how match {
              case "contains" => pg.contains(cell)
              case "interior" => pg.intersects(cell) && !pg.touches(cell)
              case _          => pg.intersects(cell)
            }
          }
        }
        try refine(g)
        catch { case _: TopologyException => refine(GeometryFixer.fix(g)) }
      }
    refs
  }

  /** `g` is Polygonal with positive area and `env` lies in the half-open
    * cell `ref` (the fast path's condition, see the class doc).
    */
  private def insideCell(g: Geometry, env: Envelope, ref: String): Boolean =
    g.isInstanceOf[Polygonal] && {
      val (minx, miny, maxx, maxy) = Bng.bounds(ref)
      env.getMinX >= minx && env.getMaxX < maxx && env.getMinY >= miny && env.getMaxY < maxy
    } && g.getArea > 0

  override protected def nullSafeEval(v: Any): Any =
    new GenericArrayData(refsOf(v).map(UTF8String.fromString).toArray[Any])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** WKB geometry -> Array[Long] of packed cell ids at `resolution` —
  * [[BngIndexExpr]]'s join-key twin (same candidate generation + refine,
  * long output).
  */
case class BngIndexIdsExpr(child: Expression, resolution: Long, how: String)
    extends UnaryExpression with CodegenFallback {
  require(Set("intersects", "interior", "bounding box", "contains").contains(how),
    s"unknown how='$how'")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val refs = BngIndexExpr(child, resolution, how).refsOf(v)
    new GenericArrayData(refs.map { ref =>
      val (e, n, res) = Bng.parse(ref)
      Bng.cellId(e.toDouble, n.toDouble, res)
    }.toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** WKB geometry -> Array[Struct(ref, contained)]: the reference's
  * documented 'contains' output shape (`__init__.py:281-288`) — every
  * intersecting cell (touch-inclusive, same candidates as
  * how="intersects") with a flag marking whether the geometry wholly
  * contains that cell.
  */
case class BngIndexFlagsExpr(child: Expression, resolution: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("ref", StringType, nullable = false),
      StructField("contained", BooleanType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(v: Any): Any = {
    // One geometry read + ONE prepare per row, shared by the intersects
    // refine AND the contains flags (prepare dominates on polygon rows;
    // routing through refsOf would build it twice).
    val g = Wkb.read(v.asInstanceOf[Array[Byte]])
    val env = g.getEnvelopeInternal
    val candidates = Bng.envelopeCells(
      env.getMinX, env.getMinY, env.getMaxX, env.getMaxY, resolution)
    val isPointLike = g.getNumPoints == 1 ||
      (env.getWidth == 0 && env.getHeight == 0)
    val out =
      if (isPointLike) candidates.map { ref =>
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(ref), false)
      } else {
        val pg = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(g)
        candidates.flatMap { ref =>
          val (minx, miny, maxx, maxy) = Bng.bounds(ref)
          val cell = Wkb.box(minx, miny, maxx, maxy)
          if (pg.intersects(cell))
            Some(org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(ref), pg.contains(cell)))
          else None
        }
      }
    new GenericArrayData(out.toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** (x, y) -> single BNG grid ref string. Point fast path: pure integer
  * math, no geometry allocation at all. Codegen'd like [[BngCellId]]; a
  * point outside the BNG extent fails with the same
  * IllegalArgumentException in both modes.
  */
case class BngPointRef(left: Expression, right: Expression, resolution: Long)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(x: Any, y: Any): Any =
    UTF8String.fromBytes(Bng.gridRefAscii(
      x.asInstanceOf[Double], y.asInstanceOf[Double], resolution))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => "org.apache.spark.unsafe.types.UTF8String.fromBytes(" +
      s"graft.index.Bng.gridRefAscii($x, $y, ${resolution}L))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Grid ref -> [minx, miny, maxx, maxy] (reference `_bng_to_bounds`,
  * `_dataframe.py:43-55`).
  */
case class BngToBounds(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val (minx, miny, maxx, maxy) = Bng.bounds(v.asInstanceOf[UTF8String].toString)
    new GenericArrayData(Array(minx, miny, maxx, maxy))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** (x, y) -> packed long cell id (compact join key; long equi-joins beat
  * string keys in shuffle width and comparison cost at 10^12 rows).
  * Real codegen, not CodegenFallback: Spark keeps an operator holding a
  * non-leaf CodegenFallback out of whole-stage codegen, and the
  * point-in-polygon join puts this expression in the point side's
  * Project, beside the other cell encoders.
  */
case class BngCellId(left: Expression, right: Expression, resolution: Long)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(x: Any, y: Any): Any =
    Bng.cellId(x.asInstanceOf[Double], y.asInstanceOf[Double], resolution)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.index.Bng.cellId($x, $y, ${resolution}L)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** (gridRef, ring) -> Array[String] of grid refs in square ring `ring`
  * around the cell (ring 0 = the cell itself). Drives kNN cell-ring
  * expansion (north-rule J6).
  */
case class BngCellRing(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(refAny: Any, ringAny: Any): Any = {
    val (e, n, res) = Bng.parse(refAny.asInstanceOf[UTF8String].toString)
    val r = ringAny.asInstanceOf[Int]
    val eIdx = e / res
    val nIdx = n / res
    val maxE = Constants.BngXMax / res - 1
    val maxN = Constants.BngYMax / res - 1
    val out = Seq.newBuilder[UTF8String]
    if (r == 0) out += UTF8String.fromString(Bng.gridRef(e.toDouble, n.toDouble, res))
    else {
      var de = -r
      while (de <= r) {
        var dn = -r
        while (dn <= r) {
          if (math.max(math.abs(de), math.abs(dn)) == r) {
            val ee = eIdx + de
            val nn = nIdx + dn
            if (ee >= 0 && ee <= maxE && nn >= 0 && nn <= maxN)
              out += UTF8String.fromString(
                Bng.gridRef((ee * res).toDouble, (nn * res).toDouble, res))
          }
          dn += 1
        }
        de += 1
      }
    }
    new GenericArrayData(out.result().toArray[Any])
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
