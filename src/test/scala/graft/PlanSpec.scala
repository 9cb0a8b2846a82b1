package graft

/** Physical-plan hygiene gates: these are the properties that decide
  * whether the engine survives a 100x scale-up — filter pushdown reaching
  * the parquet scan, column pruning, broadcast of dim sides, map-side
  * partial aggregation. A regression here is a performance bug even when
  * results stay correct.
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf0).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q3: predicates push to the parquet scan; schema pruned to 3 cols") {
    val p = plan("q3_filter_pushdown")
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_discount,0.05)"), p.take(2000))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double>"))
  }

  test("q14 spatial join: polygon side broadcast, point scan pruned to keys") {
    val p = plan("q14_spatial_join")
    assert(p.contains("PointInPolygonJoin") && p.contains("BroadcastExchange"), p.take(2000))
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("pointInPolygon: every point-side Project runs inside whole-stage codegen") {
    import graft.index.IndexExpressions._
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the headline job's point side: cell encoders; a CodegenFallback
    // among them keeps the Project out of the stage and runs it through
    // boxed eval calls
    val pts = spark.range(0, 4000, 1, 4)
      .select(col("id"), (col("id") * 317.0 % 700000).as("x"), (col("id") * 631.0 % 1300000).as("y"))
      .withColumn("h3_9", h3_index_point(col("x"), col("y"), 9))
      .withColumn("s2_12", s2_index_point(col("x"), col("y"), 12))
      .withColumn("bng10", bng_index_point(col("x"), col("y"), 10000L))
    val polys = Seq((1L, graft.geo.Wkb.write(graft.geo.Wkb.readWkt(
      "POLYGON ((100000 100000, 300000 120000, 200000 400000, 100000 100000))"))))
      .toDF("poly_id", "geometry")
    val joined = graft.ops.SpatialJoin.pointInPolygon(pts, "x", "y", polys, "geometry")
    assert(joined.collect().nonEmpty)
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => other
    }
    val plan = unwrap(joined.queryExecution.executedPlan)
    // Projects reached from a WholeStageCodegenExec without crossing an
    // InputAdapter are compiled into that stage
    def inStage(p: SparkPlan, staged: Boolean): Seq[(SparkPlan, Boolean)] = p match {
      case w: WholeStageCodegenExec => inStage(w.child, staged = true)
      case i: InputAdapter => inStage(i.child, staged = false)
      case other => (other, staged) +: other.children.flatMap(inStage(_, staged))
    }
    val staged = inStage(plan, staged = false)
    val joins = plan.collect { case j: graft.ops.PointInPolygonJoinExec => j }
    assert(joins.size == 1, plan.treeString)
    assert(staged.exists { case (q, s) => (q eq joins.head) && s },
      s"point-in-polygon join outside whole-stage codegen:\n${plan.treeString}")
    val streamed = joins.head.left
    val pointSide = streamed.collect { case p: ProjectExec => p }
    assert(pointSide.exists(_.projectList.exists(_.name == "h3_9")), plan.treeString)
    pointSide.foreach { p =>
      assert(staged.exists { case (q, s) => (q eq p) && s },
        s"point-side Project outside whole-stage codegen:\n${plan.treeString}")
    }
  }

  test("q1/q13: two-phase hash aggregation (map-side partial before exchange)") {
    Seq("q1_agg", "q13_tile_counts").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_"), s"$q lost map-side partial agg")
      assert(p.contains("Exchange"), q)
    }
  }

  test("q2: both dim joins broadcast, no shuffle join") {
    val p = plan("q2_join_broadcast")
    assert(p.split("BroadcastHashJoin").length >= 3, "expected 2 broadcast joins")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q7 lookup join: code dictionary is broadcast") {
    val p = plan("q7_lookup_join")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("categorize paths never funnel through a single partition") {
    // The old global Window.orderBy code assignment moved every distinct
    // value to ONE task ('Exchange SinglePartition' in the plan) — a
    // scale-killer for high-cardinality columns. The two-phase rank keeps
    // every exchange distributed; gate all plans that embed categorize.
    Seq("q6_categorize", "q7_lookup_join", "q38_highcard_codes").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange SinglePartition"),
        s"$q funnels through a single partition:\n${p.take(3000)}")
    }
  }

  test("q38 high-cardinality codes: two-phase rank gives DENSE_RANK result") {
    // 500 distinct texts at sf0.001^ scale spread over 32 range partitions;
    // codes must still be dense 0..n-1 in global sorted order.
    val df = SparkEntry.queries("q38_highcard_codes")(spark, sf0)
    val codes = df.select("text_code").collect().map(_.getLong(0)).sorted
    assert(codes.head == 0L && codes.last == codes.length - 1L &&
      codes.distinct.length == codes.length)
  }

  test("whole-stage codegen present in the agg pipeline") {
    val df = SparkEntry.queries("q1_agg")(spark, sf0)
    df.collect() // force AQE to finalize the plan
    val executed = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages in the tree print
    assert(executed.contains("*(1)") && executed.contains("*(2)"),
      executed.take(1000))
  }
}
