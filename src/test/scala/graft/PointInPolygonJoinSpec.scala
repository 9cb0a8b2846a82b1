package graft

import graft.geo.GeoExpressions._
import graft.geo.Wkb
import graft.index.IndexExpressions._
import graft.ops.{PointInPolygonJoinExec, SpatialJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** The broadcast point-in-polygon operator against a brute-force JTS
  * oracle, with and without whole-stage codegen, and its plan shape.
  */
class PointInPolygonJoinSpec extends SparkSpec {
  import spark.implicits._

  private val res = 10000L

  // BNG-scale fixtures: a MultiPolygon whose first member has a hole, a
  // star spanning dozens of 10 km cells, a box whose edges lie on grid
  // lines, a triangle and a null geometry
  private lazy val shapes: Seq[(Long, Option[String])] = {
    val star = (0 until 40).map { v =>
      val a = 2 * math.Pi * v / 40
      val r = 30000.0 + 15000.0 * ((v * 7919) % 11) / 10.0
      s"${300000 + r * math.cos(a)} ${500000 + r * math.sin(a)}"
    }
    Seq(
      1L -> Some("MULTIPOLYGON (((100000 100000, 160000 100000, 160000 150000, " +
        "100000 150000, 100000 100000), (120000 110000, 140000 110000, 130000 135000, " +
        "120000 110000)), ((170000 100000, 200000 120000, 175000 140000, 170000 100000)))"),
      2L -> Some((star :+ star.head).mkString("POLYGON ((", ", ", "))")),
      3L -> Some("POLYGON ((400000 400000, 430000 400000, 430000 420000, 400000 420000, " +
        "400000 400000))"),
      4L -> Some("POLYGON ((405000 395000, 445000 415000, 415000 433000, 405000 395000))"),
      5L -> None)
  }

  private def rnd(i: Long, salt: Long): Double =
    java.lang.Long.remainderUnsigned(graft.input.WebTable.splitmix64(i * 1000003L + salt),
      1000000L) / 1000000.0

  // random points over the shapes, every vertex, points on grid lines and
  // grid crossings near the shapes, points on edges
  private lazy val points: Seq[(Long, Double, Double)] = {
    val geoms = shapes.flatMap(_._2).map(Wkb.readWkt)
    val random = (0 until 6000).map(i => (80000 + rnd(i, 1) * 400000, 80000 + rnd(i, 2) * 480000))
    val vertices = geoms.flatMap(_.getCoordinates).map(c => (c.x, c.y))
    val grid = for (e <- 9 to 46; n <- 9 to 56; k <- 0 to 2)
      yield if (k == 0) (e * 10000.0, n * 10000.0)
      else if (k == 1) (e * 10000.0, n * 10000.0 + 3333.0) else (e * 10000.0 + 4567.0, n * 10000.0)
    val onEdges = geoms.flatMap(_.getCoordinates.toSeq.sliding(2).map { case Seq(a, b) =>
      ((a.x + b.x) / 2, (a.y + b.y) / 2)
    })
    (random ++ vertices ++ grid ++ onEdges).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
  }

  private def pointsDf: DataFrame = points.toDF("pid", "x", "y").repartition(6)
  private def polysDf: DataFrame = shapes.toDF("poly_id", "wkt")
    .withColumn("geometry", st_geomfromtext(col("wkt"))).drop("wkt")

  /** Every operator of an executed plan, query stages included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def withWholeStage[T](on: Boolean)(body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", on)
    try body finally spark.conf.unset("spark.sql.codegen.wholeStage")
  }

  /** The pairs and the operator's numCandidates metric. */
  private def run(predicate: String): (Set[(Long, Long)], Long) = {
    val df = SpatialJoin.pointInPolygon(pointsDf, "x", "y", polysDf, "geometry",
      resolution = res, predicate = predicate).select("pid", "poly_id")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val execs = nodes(df.queryExecution.executedPlan).collect { case j: PointInPolygonJoinExec => j }
    assert(execs.size == 1)
    (got, execs.head.metrics("numCandidates").value)
  }

  test("matches a brute-force JTS oracle under covers and contains, codegen on and off") {
    val geoms = shapes.collect { case (id, Some(wkt)) => id -> Wkb.readWkt(wkt) }
    for (predicate <- Seq("covers", "contains")) {
      val want = (for {
        (pid, x, y) <- points
        (id, g) <- geoms
        if (if (predicate == "contains") g.contains(Wkb.point(x, y)) else g.covers(Wkb.point(x, y)))
      } yield (pid, id)).toSet
      // the fixture holds what it claims: hole vertices, boundary points
      assert(want.exists(_._2 == 1L) && want.exists(_._2 == 2L) && want.exists(_._2 == 3L))
      val (codegen, _) = withWholeStage(on = true)(run(predicate))
      val (interpreted, _) = withWholeStage(on = false)(run(predicate))
      assert(codegen == want, s"$predicate: missing ${(want -- codegen).take(5)}, " +
        s"extra ${(codegen -- want).take(5)}")
      assert(interpreted == want, predicate)
    }
    // covers and contains disagree on the boundary points of the fixture
    assert(withWholeStage(on = true)(run("covers"))._1 != withWholeStage(on = true)(run("contains"))._1)
  }

  test("numCandidates equals the row count of the cell equi-join") {
    val equiJoin = pointsDf.withColumn("__cell__", bng_cell_id(col("x"), col("y"), res))
      .join(broadcast(polysDf.withColumn("__cell__",
        explode(bng_index_ids(col("geometry"), res, "intersects")))), Seq("__cell__"))
      .count()
    for (on <- Seq(true, false)) {
      val (pairs, candidates) = withWholeStage(on)(run("covers"))
      // the refine rejects some candidates
      assert(equiJoin > pairs.size)
      assert(candidates == equiJoin, s"wholeStage=$on")
    }
  }

  test("output columns keep the point columns, then the polygon columns") {
    val df = SpatialJoin.pointInPolygon(pointsDf.withColumn("tag", lit("p")), "x", "y",
      polysDf.withColumn("name", concat(lit("poly"), col("poly_id"))), "geometry",
      resolution = res)
    assert(df.columns.toSeq == Seq("pid", "x", "y", "tag", "poly_id", "geometry", "name"))
    val rows = df.select("tag", "poly_id", "name").as[(String, Long, String)].collect()
    assert(rows.nonEmpty && rows.forall { case (t, id, name) => t == "p" && name == s"poly$id" })
  }

  test("points and polygons cut from one frame keep both id columns") {
    val base = Seq((1L, 5.0, 5.0, Wkb.write(Wkb.box(0, 0, 10, 10))),
      (2L, 50.0, 5.0, Wkb.write(Wkb.box(40, 0, 60, 10)))).toDF("id", "x", "y", "geometry")
    val df = SpatialJoin.pointInPolygon(base.select("id", "x", "y"), "x", "y",
      base.select("id", "geometry"), "geometry", resolution = res)
    assert(df.columns.toSeq == Seq("id", "x", "y", "id", "geometry"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(3))).toSet == Set((1L, 1L), (2L, 2L)))
  }

  test("a streaming point side joins through the same operator") {
    val dir = tempDir("pip-stream")
    Seq((1L, 5.0, 5.0), (2L, 50.0, 5.0), (3L, 10.0, 10.0)).toDF("id", "x", "y")
      .write.mode("overwrite").parquet(dir)
    val boxes = Seq((7L, Wkb.write(Wkb.box(0, 0, 10, 10)))).toDF("poly_id", "geometry")
    val stream = spark.readStream.schema("id long, x double, y double").parquet(dir)
    val q = SpatialJoin.pointInPolygon(stream, "x", "y", boxes, "geometry", resolution = res)
      .select("id", "poly_id")
      .writeStream.outputMode("append").format("memory").queryName("pip_stream").start()
    try {
      q.processAllAvailable()
      // (10, 10) is the box's corner: covered
      assert(spark.table("pip_stream").as[(Long, Long)].collect().toSet == Set((1L, 7L), (3L, 7L)))
    } finally q.stop()
  }

  test("plan gate: one codegen stage holds the probe and the point-side Project") {
    val pts = pointsDf
      .withColumn("h3_9", h3_index_point(col("x"), col("y"), 9))
      .withColumn("s2_12", s2_index_point(col("x"), col("y"), 12))
      .withColumn("bng10", bng_index_point(col("x"), col("y"), res))
    val df = SpatialJoin.pointInPolygon(pts, "x", "y", polysDf, "geometry", resolution = res)
      .groupBy("bng10").agg(count(lit(1)), approx_count_distinct(col("h3_9")))
    assert(df.collect().nonEmpty)
    val plan = nodes(df.queryExecution.executedPlan)
    val tree = df.queryExecution.executedPlan.treeString
    assert(plan.collect { case j: BroadcastHashJoinExec => j; case j: SortMergeJoinExec => j }.isEmpty,
      tree)
    // the operators a stage compiles: below it, up to the next InputAdapter
    def compiled(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case other => other +: other.children.flatMap(compiled)
    }
    val stage = plan.collect { case w: WholeStageCodegenExec => w }
      .find(w => compiled(w.child).exists(_.isInstanceOf[PointInPolygonJoinExec]))
    assert(stage.nonEmpty, s"the probe is outside whole-stage codegen:\n$tree")
    val exec = compiled(stage.get.child).collectFirst { case j: PointInPolygonJoinExec => j }.get
    assert(compiled(exec.left).exists {
      case p: ProjectExec => p.projectList.exists(_.name == "h3_9")
      case _ => false
    }, s"the point-side Project is not in the probe's stage:\n$tree")
    assert(nodes(exec.right).exists(_.isInstanceOf[BroadcastExchangeExec]), tree)
  }
}
