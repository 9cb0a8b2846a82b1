package graft.ops

import graft.geo.PolygonTesters
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, BoundReference, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Point-in-polygon as one operator: each point (`x`, `y` over `left`)
  * meets every polygon row of `right` whose `cells` (the polygon's BNG
  * cell ids at `resolution`) hold the point's cell and whose tester
  * answers covers (or contains, when `contains`). `key` is the polygon's
  * [[graft.geo.StGeomKey]] over `geom`. Its output is the point columns,
  * then the polygon columns without `cells` and `key`.
  */
case class PointInPolygonJoin(x: Expression, y: Expression, cells: Attribute,
    key: Attribute, geom: Attribute, resolution: Long, contains: Boolean,
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.filterNot(a => a.exprId == cells.exprId || a.exprId == key.exprId)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): LogicalPlan =
    copy(left = l, right = r)
}

/** Plans [[PointInPolygonJoin]] into [[PointInPolygonJoinExec]]. */
object PointInPolygonStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: PointInPolygonJoin =>
      PointInPolygonJoinExec(j.x, j.y, j.cells, j.key, j.geom, j.resolution, j.contains,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }

  /** Installs the strategy on `session`, once. */
  def setup(session: SparkSession): Unit = {
    val extra = session.experimental.extraStrategies
    if (!extra.contains(this)) session.experimental.extraStrategies = this +: extra
  }
}

/** The physical [[PointInPolygonJoin]]. The polygon side arrives as a
  * broadcast array of its rows, one per polygon. Each task builds a
  * [[PointInPolygonProbe]] over them; each point probes its cell, runs
  * the tester of every polygon listed there and emits only the matched
  * pairs. In whole-stage codegen the point side's columns are evaluated
  * once per matched point, and a polygon column only when the consumer
  * reads it, so a pass neither builds candidate rows nor copies polygon
  * WKB per candidate.
  */
case class PointInPolygonJoinExec(x: Expression, y: Expression, cells: Attribute,
    key: Attribute, geom: Attribute, resolution: Long, contains: Boolean,
    left: SparkPlan, right: SparkPlan)
    extends SparkPlan with BinaryExecNode with CodegenSupport {

  private def ordinal(a: Attribute): Int = right.output.indexWhere(_.exprId == a.exprId)

  /** The polygon columns this operator outputs, with their ordinals. */
  private def polygonColumns: Seq[(Attribute, Int)] = right.output.zipWithIndex.filterNot {
    case (a, _) => a.exprId == cells.exprId || a.exprId == key.exprId
  }

  override def output: Seq[Attribute] = left.output ++ polygonColumns.map(_._1)
  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering = left.outputOrdering
  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numCandidates" -> SQLMetrics.createMetric(sparkContext, "number of candidate pairs"))

  private def polygonRows = right.executeBroadcast[Array[InternalRow]]()

  protected override def doExecute(): RDD[InternalRow] = {
    val rows = polygonRows
    val (ci, ki, gi) = (ordinal(cells), ordinal(key), ordinal(geom))
    val (bx, by) = (BindReferences.bindReference(x, left.output),
      BindReferences.bindReference(y, left.output))
    val (out, in) = (output, left.output ++ right.output)
    val (res, isContains) = (resolution, contains)
    val numOutputRows = longMetric("numOutputRows")
    val numCandidates = longMetric("numCandidates")
    left.execute().mapPartitions { points =>
      val probe = new PointInPolygonProbe(rows.value, ci, ki, gi)
      val project = UnsafeProjection.create(out, in)
      val joined = new JoinedRow
      points.flatMap { point =>
        val (xv, yv) = (bx.eval(point), by.eval(point))
        val s = if (xv == null || yv == null) -1
          else probe.slot(graft.index.Bng.cellId(xv.asInstanceOf[Double], yv.asInstanceOf[Double], res))
        if (s < 0) Iterator.empty
        else {
          val (px, py) = (xv.asInstanceOf[Double], yv.asInstanceOf[Double])
          numCandidates += probe.end(s) - probe.start(s)
          Iterator.range(probe.start(s), probe.end(s)).map(probe.poly)
            .filter(p => if (isContains) probe.contains(p, px, py) else probe.covers(p, px, py))
            .map { p => numOutputRows += 1; project(joined(point, probe.row(p))) }
        }
      }
    }
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] = left.asInstanceOf[CodegenSupport].inputRDDs()

  /** One point can match several polygons. */
  override def needCopyResult: Boolean = true

  override def usedInputs: AttributeSet = x.references ++ y.references

  protected override def doProduce(ctx: CodegenContext): String =
    left.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    val rowsTerm = ctx.addReferenceObj("polygonRows", polygonRows)
    val probeClass = classOf[PointInPolygonProbe].getName
    val probe = ctx.addMutableState(probeClass, "probe", v =>
      s"""$v = new $probeClass((org.apache.spark.sql.catalyst.InternalRow[]) $rowsTerm.value(),
         |  ${ordinal(cells)}, ${ordinal(key)}, ${ordinal(geom)});""".stripMargin,
      forceInline = true)
    ctx.currentVars = input
    val xc = BindReferences.bindReference(x, left.output).genCode(ctx)
    val yc = BindReferences.bindReference(y, left.output).genCode(ctx)
    val polygonRow = ctx.freshName("polygonRow")
    ctx.currentVars = null
    ctx.INPUT_ROW = polygonRow
    // deferred: the consumer emits the code of the columns it reads
    val polygonVars = polygonColumns.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val Seq(slot, i, end, p) = Seq("slot", "i", "end", "p").map(ctx.freshName)
    val test = if (contains) "contains" else "covers"
    val isMatch = s"$probe.$test($probe.poly($i), ${xc.value}, ${yc.value})"
    val numOutputRows = metricTerm(ctx, "numOutputRows")
    val numCandidates = metricTerm(ctx, "numCandidates")
    s"""
       |${xc.code}
       |${yc.code}
       |if (!${xc.isNull} && !${yc.isNull}) {
       |  int $slot = $probe.slot(graft.index.Bng.cellId(${xc.value}, ${yc.value}, ${resolution}L));
       |  if ($slot >= 0) {
       |    int $i = $probe.start($slot);
       |    int $end = $probe.end($slot);
       |    $numCandidates.add($end - $i);
       |    while ($i < $end && !$isMatch) $i++;
       |    if ($i < $end) {
       |      ${evaluateVariables(input)}
       |      while ($i < $end) {
       |        int $p = $probe.poly($i);
       |        // the next match is found before this one is consumed, so
       |        // a `continue` in the consumer's code moves on to it
       |        $i++;
       |        while ($i < $end && !$isMatch) $i++;
       |        org.apache.spark.sql.catalyst.InternalRow $polygonRow = $probe.row($p);
       |        $numOutputRows.add(1);
       |        ${consume(ctx, input ++ polygonVars)}
       |      }
       |    }
       |  }
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): SparkPlan =
    copy(left = l, right = r)
}

/** One task's view of the broadcast polygon rows: a cell directory and
  * the polygons' testers ([[PolygonTesters]]).
  *
  * The directory is CSR over an open-addressing table of the distinct
  * cells: slot s holds one cell, and `polys(start(s) until end(s))` are
  * the indices of the polygons listing it, in row order. A polygon whose
  * `cells` is null (a null geometry) is in no cell. A cell listed twice
  * by one polygon lists that polygon twice, as the exploded equi-join
  * did.
  */
final class PointInPolygonProbe(rows: Array[InternalRow], cellsOrdinal: Int,
    keyOrdinal: Int, geomOrdinal: Int) {
  private def cellsOf(r: Int) =
    if (rows(r).isNullAt(cellsOrdinal)) null else rows(r).getArray(cellsOrdinal)

  private val pairs = rows.indices.map(r => Option(cellsOf(r)).fold(0)(_.numElements)).sum
  private val capacity = Integer.highestOneBit(math.max(1, pairs)) * 4
  private val mask = capacity - 1
  private val shift = 64 - Integer.numberOfTrailingZeros(capacity)
  private val keys = new Array[Long](capacity)
  /** Polygons listed per slot; 0 marks an empty slot. */
  private val counts = new Array[Int](capacity)
  /** CSR offsets by slot: slot s spans polys(offsets(s) until offsets(s + 1)). */
  private val offsets = new Array[Int](capacity + 1)
  private val polys = new Array[Int](pairs)
  private val testers = new PolygonTesters(rows.length,
    r => rows(r).getLong(keyOrdinal), r => rows(r).getBinary(geomOrdinal))

  private def home(cell: Long): Int = ((cell * 0x9E3779B97F4A7C15L) >>> shift).toInt

  /** The slot of `cell`, claimed for it when absent. */
  private def claim(cell: Long): Int = {
    var s = home(cell)
    while (counts(s) != 0 && keys(s) != cell) s = (s + 1) & mask
    keys(s) = cell
    s
  }

  locally {
    def eachPair(f: (Int, Int) => Unit): Unit = rows.indices.foreach { r =>
      val cs = cellsOf(r)
      if (cs != null) (0 until cs.numElements).foreach(k => f(claim(cs.getLong(k)), r))
    }
    eachPair((s, _) => counts(s) += 1)
    (0 until capacity).foreach(s => offsets(s + 1) = offsets(s) + counts(s))
    val next = java.util.Arrays.copyOf(offsets, capacity)
    eachPair { (s, r) => polys(next(s)) = r; next(s) += 1 }
  }

  /** The slot holding `cell`, or -1 when no polygon lists it. */
  def slot(cell: Long): Int = {
    var s = home(cell)
    while (counts(s) != 0) {
      if (keys(s) == cell) return s
      s = (s + 1) & mask
    }
    -1
  }

  def start(slot: Int): Int = offsets(slot)
  def end(slot: Int): Int = offsets(slot + 1)
  /** The polygon index at directory position `i`. */
  def poly(i: Int): Int = polys(i)
  def row(poly: Int): InternalRow = rows(poly)
  def covers(poly: Int, x: Double, y: Double): Boolean = testers(poly).covers(x, y)
  def contains(poly: Int, x: Double, y: Double): Boolean = testers(poly).contains(x, y)
}
