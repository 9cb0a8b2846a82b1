package graft.ops

import graft.geo.GeoExpressions._
import graft.index.IndexExpressions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

/** Cell-indexed spatial joins (graft operator J5, SURVEY.md §2.3).
  * The point-in-polygon join is the classic PBSM filter-refine plan:
  *
  *   1. FILTER: index both sides into BNG cells at `resolution`
  *      (points: one cell via pure integer math; polygons: the array of
  *      cells they intersect) and pair each point with the polygons
  *      listed in its cell.
  *   2. REFINE: the polygon's prepared point tester on each candidate.
  *
  * A point falls in exactly one cell, so a (point, polygon) pair meets
  * in at most one cell and needs no dedupe.
  *
  * Scale shape: with the polygon side broadcast (the common dim-table
  * case) both steps run in one operator, [[PointInPolygonJoinExec]],
  * inside the point side's whole-stage codegen, so the points never
  * shuffle. Otherwise the exploded polygon cells and the points meet in
  * Catalyst's sort-merge join on the long cell id, which shuffles both
  * sides once; only AQE's skew-join split acts on a hot cell there. The
  * radius and kNN joins below reuse the same cell-candidate idea.
  */
object SpatialJoin {

  /** Points (x, y columns) vs polygons (WKB geometry column). The output
    * is the point columns, then the polygon columns.
    *
    * @param points     left side with `pointId`, x, y columns
    * @param polygons   right side with `polyId` and `geomCol` WKB column
    * @param resolution BNG cell size in metres (10 km default per north rule)
    * @param broadcastPolys broadcast the polygon side and join in one
    *                   [[PointInPolygonJoinExec]]; false shuffles both
    *                   sides into a cell equi-join
    * @param predicate  "covers" (closed boundaries, default) or "contains"
    */
  def pointInPolygon(
      points: DataFrame, x: String, y: String,
      polygons: DataFrame, geomCol: String,
      resolution: Long = 10000L,
      broadcastPolys: Boolean = true,
      predicate: String = "covers"): DataFrame = {
    // The content hash keys the JVM-wide prepared-tester table; it is
    // computed here, once per polygon, never per candidate.
    val polyCells = polygons
      .withColumn("__cells__", bng_index_ids(col(geomCol), resolution, "intersects"))
      .withColumn("__gkey__", st_geom_key(col(geomCol)))
    if (broadcastPolys) {
      val spark = points.sparkSession
      PointInPolygonStrategy.setup(spark)
      val l = Bridge.plan(points)
      // a polygon side derived from the points' plan can share attribute
      // ids with it; fresh ids keep the join's output unambiguous
      val polys = Bridge.plan(polyCells)
      val r = if (polys.outputSet.intersect(l.outputSet).isEmpty) polys
        else Project(polys.output.map(a => Alias(a, a.name)()), polys)
      def attr(p: LogicalPlan, name: String): Attribute =
        p.resolveQuoted(name, SQLConf.get.resolver) match {
          case Some(a: Attribute) => a
          case _ => throw new IllegalArgumentException(
            s"no top-level column $name among ${p.output.map(_.name)}")
        }
      def coord(name: String): Expression = {
        val a = attr(l, name)
        if (a.dataType == DoubleType) a else Cast(a, DoubleType)
      }
      Bridge.frame(spark, PointInPolygonJoin(
        coord(x), coord(y), attr(r, "__cells__"), attr(r, "__gkey__"), attr(r, geomCol),
        resolution, predicate == "contains", l, r))
    } else {
      // Point side: single-cell fast path, no geometry allocation. The
      // join key is the packed LONG cell id: long keys probe about 3x
      // faster than string grid refs.
      val ptCells = points.withColumn("__cell__", bng_cell_id(col(x), col(y), resolution))
      val exploded = polyCells.withColumn("__cell__", explode(col("__cells__")))
        .drop("__cells__")
      ptCells
        .join(exploded, Seq("__cell__"))
        .filter(st_predicate_point_keyed(col("__gkey__"), col(geomCol),
          col(x), col(y), predicate))
        .drop("__cell__", "__gkey__")
    }
  }

  /** Radius (range) join: every (query, point) pair within `radius`
    * metres. Candidates come from the query's cell k-ring (k sized from
    * the radius), so each query probes O(k²) cells instead of the whole
    * corpus; exact euclidean refine. One shuffle on the cell key.
    */
  def radiusJoin(
      queries: DataFrame, qId: String, qx: String, qy: String,
      points: DataFrame, pId: String, x: String, y: String,
      radius: Double, resolution: Long = 10000L,
      broadcastQueries: Boolean = true): DataFrame = {
    import graft.index.IndexExpressions._
    val rings = math.ceil(radius / resolution).toInt + 1
    val qCells = queries
      .withColumn("__qcell__", bng_index_point(col(qx), col(qy), resolution))
      .withColumn("__r__", explode(sequence(lit(0), lit(rings))))
      .withColumn("__cell__", explode(cell_ring(col("__qcell__"), col("__r__"))))
      .drop("__qcell__", "__r__")
    val qSide = if (broadcastQueries) broadcast(qCells) else qCells
    points
      .withColumn("__cell__", bng_index_point(col(x), col(y), resolution))
      .join(qSide, Seq("__cell__"))
      .withColumn("dist2",
        (col(x) - col(qx)) * (col(x) - col(qx)) +
        (col(y) - col(qy)) * (col(y) - col(qy)))
      .filter(col("dist2") <= radius * radius)
      .drop("__cell__")
  }

  /** Great-circle distance in metres (haversine on the engine's shared
    * 6371 km sphere) — built-in trig functions only, so the refine stays
    * inside whole-stage codegen.
    */
  def haversineMetres(lat1: org.apache.spark.sql.Column,
      lng1: org.apache.spark.sql.Column,
      lat2: org.apache.spark.sql.Column,
      lng2: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val a = pow(sin(radians(lat2 - lat1) / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(radians(lng2 - lng1) / 2), 2)
    lit(2.0 * graft.index.S2.EarthRadiusMetres) * asin(sqrt(a))
  }

  /** SEAM-SAFE spherical radius join over WGS84 lon/lat inputs: every
    * (query, point) pair within `radiusMetres` along the great circle.
    *
    * The BNG-keyed [[radiusJoin]] is canvas-scoped (planar rings on a
    * national grid); this is its global twin. Candidates come from an S2
    * cap cover per query ([[graft.index.S2.coverCap]] — hierarchical
    * subdivision in unit-vector space, so caps spanning the antimeridian,
    * the poles, or any cube-face edge are covered with no special cases),
    * points key by their S2 cell, ONE equi-join on the long cell id, and
    * an exact haversine refine. Each point lives in exactly one cell and
    * the cover is a distinct cell set, so no pair dedup is needed.
    */
  def sphericalRadiusJoin(
      queries: DataFrame, qId: String, qLat: String, qLng: String,
      points: DataFrame, pId: String, lat: String, lng: String,
      radiusMetres: Double, level: Int = 10,
      broadcastQueries: Boolean = true): DataFrame = {
    import graft.index.IndexExpressions._
    val coverUdf = udf { (la: Double, lo: Double) =>
      graft.index.S2.coverCap(la, lo, radiusMetres, level)
    }
    val qCells = queries
      .withColumn("__cell__", explode(coverUdf(col(qLat), col(qLng))))
    val qSide = if (broadcastQueries) broadcast(qCells) else qCells
    points
      .withColumn("__cell__", s2_cell_lonlat(col(lat), col(lng), level))
      .join(qSide, Seq("__cell__"))
      .withColumn("dist_m",
        haversineMetres(col(lat), col(lng), col(qLat), col(qLng)))
      .filter(col("dist_m") <= radiusMetres)
      .drop("__cell__")
  }

  /** SEAM-SAFE spherical kNN over WGS84 lon/lat: the k nearest points by
    * great-circle distance, globally — the [[KnnJoin]] ring loop's
    * spherical twin. Radius-doubling driver loop over
    * [[sphericalRadiusJoin]]:
    *
    * a query is DONE as soon as it has >= k candidates within radius r,
    * because the cap-cover join is candidate-COMPLETE within r (coverCap
    * conservative superset, haversine refine exact) — >= k in-cap
    * candidates imply the true kth distance <= r, and the in-cap top-k
    * is then the global top-k. Unresolved queries re-join at 2r; the
    * radius caps at half the circumference, where the cap is the whole
    * sphere and everything resolves. At scale each round touches ONLY
    * the still-pending queries (left_anti pruning), so late rounds are
    * vanishingly small.
    *
    * Ties broken by (distance, point id). Returns (qId, pId, dist_m,
    * rank <= k).
    */
  def sphericalKnn(
      queries: DataFrame, qId: String, qLat: String, qLng: String,
      points: DataFrame, pId: String, lat: String, lng: String,
      k: Int, level: Int = 10, initRadiusMetres: Double = 10000.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "k must be positive")
    // r = 0 would never grow under r*2 and the loop would exhaust its
    // rounds with every query unresolved
    require(initRadiusMetres > 0, "initRadiusMetres must be positive")
    val maxRadius = math.Pi * graft.index.S2.EarthRadiusMetres
    var pending = queries
    var resolved: DataFrame = null
    // Density-planned start radius (round 7, guide §1.2 "remove passes"):
    // each unresolved round costs a full join + window + checkpoint, so
    // starting at a radius whose cap EXPECTS >= ~6k uniform points (>> k
    // for any sane k) resolves almost every query in round ONE instead
    // of log2(true_r / init_r) doubling rounds. One metadata-cheap
    // count() sizes it; the cap-area inversion is exact spherical
    // geometry (area = 2*pi*R^2*(1-cos(theta))). Correctness is
    // untouched — every round remains candidate-complete within r and
    // unresolved queries still re-join at 2r — only the ROUND COUNT
    // changes (KnnJoin.knnAdaptive's histogram planning, sphericalized).
    val nPoints = points.count()
    val planned = if (nPoints > 0) {
      val targetFrac = math.min(1.0, math.max(k * 8.0, 6000.0) / nPoints)
      val theta = math.acos(math.max(-1.0, 1.0 - 2.0 * targetFrac))
      theta * graft.index.S2.EarthRadiusMetres
    } else initRadiusMetres
    var r = math.min(maxRadius, math.max(initRadiusMetres, planned))
    var rounds = 0
    while (rounds < 64 && !pending.isEmpty) {
      // coarser cells for huge caps keep the per-query cover bounded
      val lvl = math.max(0, math.min(level,
        (math.log(2.0e7 / r) / math.log(2.0)).toInt))
      val cands = sphericalRadiusJoin(pending, qId, qLat, qLng,
        points, pId, lat, lng, radiusMetres = r, level = lvl)
      val w = Window.partitionBy(col(qId)).orderBy(col("dist_m"), col(pId))
      val ranked = cands.withColumn("__rank__", row_number().over(w))
      val done = ranked
        .withColumn("__n__", count(lit(1)).over(Window.partitionBy(col(qId))))
        .filter(col("__n__") >= k)
        .filter(col("__rank__") <= k)
        .drop("__n__")
        .localCheckpoint(true)
      resolved = if (resolved == null) done else resolved.unionByName(done)
      val doneQs = done.select(col(qId)).distinct()
      val prevPending = pending
      pending = pending.join(broadcast(doneQs), Seq(qId), "left_anti")
        .localCheckpoint(true)
      // The superseded pending table's pinned blocks are freed below —
      // `done` is itself checkpointed, so nothing in `resolved` re-reads
      // them. Round 0's pending is the caller's frame: never touch it.
      var freePrev = rounds > 0
      if (r >= maxRadius) {
        // cap covered the whole sphere: anything still pending simply has
        // fewer than k points in the corpus — return what exists
        val rest = ranked.join(broadcast(pending.select(col(qId))), Seq(qId))
          .filter(col("__rank__") <= k)
        resolved = resolved.unionByName(rest)
        pending = pending.limit(0)
        // `rest` is NOT checkpointed and lazily re-reads this round's
        // candidates (which derive from prevPending) when the caller
        // consumes `resolved` — prevPending must stay pinned.
        freePrev = false
      }
      if (freePrev) graft.core.Pinned.free(prevPending)
      r = math.min(maxRadius, r * 2)
      rounds += 1
    }
    // an incomplete answer must never be returned silently (the cap-at-
    // maxRadius branch resolves everything well before 64 doublings from
    // any positive start radius)
    require(pending.isEmpty,
      "sphericalKnn did not resolve all queries within 64 doubling rounds")
    if (resolved == null) // no queries at all
      queries.select(col(qId)).limit(0)
        .withColumn(pId, lit(null).cast(points.schema(pId).dataType))
        .withColumn("dist_m", lit(null).cast("double"))
        .withColumn("rank", lit(null).cast("int"))
    else
      resolved.select(col(qId), col(pId), col("dist_m"),
        col("__rank__").as("rank"))
  }
}
