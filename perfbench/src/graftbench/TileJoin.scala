package graftbench

import graft.geo.GeoExpressions._
import graft.index.IndexExpressions._
import graft.ops.SpatialJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.locationtech.jts.algorithm.RayCrossingCounter
import org.locationtech.jts.geom.{Coordinate, Envelope, Location, Polygon}
import org.locationtech.jts.index.strtree.STRtree

/** Seeded inputs of the tile_join workload. */
object TileJoinData {
  val CanvasX: Double = graft.core.Constants.BngXMax.toDouble
  val CanvasY: Double = graft.core.Constants.BngYMax.toDouble
  /** WebTable.geocode's hot 10 km cell, TQ38. */
  val HotX = 530000.0
  val HotY = 180000.0
  /** Page numbers of one seed: seed s owns pages [s * Stride, s * Stride + n). */
  val Stride: Long = 1L << 32

  /** Web-page point j of a seed, made by the program's own generator
    * (WebTable.urlFor, WebTable.geocode, as graft.Bench does): uniform over
    * the BNG extent, except sites 0-9 (1% of pages) in the hot cell.
    */
  def page(seed: Long, j: Long): (String, Double, Double) = {
    val url = graft.input.WebTable.urlFor(seed * Stride + j)
    val (x, y) = graft.input.WebTable.geocode(url)
    (url, x, y)
  }

  /** Irregular star polygons of 48 vertices, 3-9 km across
    * the canvas, one in 40 of them 1-3 km over the hot cell. 2,000 of them is
    * more than the refine's 512-entry per-thread tester cache holds. The
    * program has no polygon generator; sizes and the hot share are this
    * benchmark's own choice, so that the hot cell's points meet many
    * polygons, as dense city boundaries would.
    */
  def polygons(seed: Long, n: Int): IndexedSeq[Polygon] = (0 until n).map { k =>
    val s = seed * 31 + 7
    val hot = k % 40 == 0
    val r = if (hot) 1000.0 + 2000.0 * Rand.u(s, k, 1) else 3000.0 + 6000.0 * Rand.u(s, k, 1)
    val (cx, cy) =
      if (hot) (HotX + 10000.0 * Rand.u(s, k, 2), HotY + 10000.0 * Rand.u(s, k, 3))
      else (r + (CanvasX - 2 * r) * Rand.u(s, k, 2), r + (CanvasY - 2 * r) * Rand.u(s, k, 3))
    Shapes.star(cx, cy, r, 48, Rand.mix(s * 1000003L + k))
  }
}

/** The paper's headline job: web-page points -> H3 res 9, S2 level 12 and
  * BNG 10 km cells -> broadcast point-in-polygon (`covers`) against about
  * 2,000 irregular polygons -> per-10 km-tile aggregation into a noop sink.
  */
final class TileJoin(ctx: Ctx) extends Workload {
  import TileJoinData._
  private val spark = ctx.spark
  private val seed = ctx.seed
  private val nPoints: Long = if (ctx.tiny) 20000L else 1000000L
  private val nPolys: Int = if (ctx.tiny) 200 else 2000
  private val path = s"${ctx.work}/points"
  private var shapes: IndexedSeq[Polygon] = _
  private var polys: DataFrame = _

  def setup(): Unit = {
    import spark.implicits._
    val s = seed
    spark.range(0L, nPoints, 1L, 16).map(j => page(s, j))
      .toDF("url", "x", "y").write.mode("overwrite").parquet(path)
    shapes = polygons(seed, nPolys)
    polys = spark.createDataFrame(shapes.zipWithIndex.map { case (p, i) =>
      (i.toLong, graft.geo.Wkb.write(p))
    }).toDF("poly_id", "geometry")
  }

  // Cumulative plan prefixes; each layer's time is a prefix difference.
  private def scan: DataFrame = spark.read.parquet(path)
  private def encoded: DataFrame = scan
    .withColumn("h3_9", h3_index_point(col("x"), col("y"), 9))
    .withColumn("s2_12", s2_index_point(col("x"), col("y"), 12))
    .withColumn("bng10", bng_index_point(col("x"), col("y"), 10000L))
  private def polyCells: DataFrame =
    polys.withColumn("__cell__", explode(bng_index_ids(col("geometry"), 10000L, "intersects")))
  /** Filter step only: the cell equi-join, no refine. */
  private def cellJoined: DataFrame = encoded
    .withColumn("__cell__", bng_cell_id(col("x"), col("y"), 10000L))
    .join(broadcast(polyCells), Seq("__cell__"))
  private def joined: DataFrame = SpatialJoin.pointInPolygon(encoded, "x", "y",
    polys, "geometry", resolution = 10000L, broadcastPolys = true, predicate = "covers")
  private def tiles: DataFrame = joined.groupBy(col("bng10")).agg(
    count(lit(1)).as("matches"),
    approx_count_distinct(col("h3_9"), 0.15).as("h3_cells"),
    approx_count_distinct(col("s2_12"), 0.15).as("s2_cells"))

  def pass(label: String): Map[String, Double] = {
    ctx.section(s"$label/ops.tile_join")(ctx.noop(tiles))
    Map.empty
  }

  def inputRows: Long = nPoints

  def checks(): Seq[Check] = {
    val got: Map[(Long, Long), Long] = tiles.select("bng10", "matches").collect().map { r =>
      val (minx, miny, _, _) = graft.index.Bng.bounds(r.getString(0))
      ((minx / 10000).toLong, (miny / 10000).toLong) -> r.getLong(1)
    }.toMap
    val want = reference()
    val diff = (got.keySet ++ want.keySet).count(k => got.getOrElse(k, 0L) != want.getOrElse(k, 0L))
    Seq(Check("per_tile_matches_vs_jts_bruteforce", diff == 0 && want.nonEmpty,
      s"${want.size} tiles, ${want.values.sum} matches expected, ${got.values.sum} got, " +
        s"$diff tiles differ"))
  }

  /** Independent reference: an STRtree over the polygons' envelopes and a
    * plain loop over the points with JTS ray-crossing point location
    * (closed boundary, as `covers`). Per-tile match counts.
    */
  private def reference(): Map[(Long, Long), Long] = {
    val tree = new STRtree()
    shapes.foreach(p => tree.insert(p.getEnvelopeInternal, p.getExteriorRing.getCoordinates))
    tree.build()
    val threads = Runtime.getRuntime.availableProcessors()
    val chunk = (nPoints + threads - 1) / threads
    val parts = (0 until threads).map { t =>
      val task = new java.util.concurrent.FutureTask[Map[(Long, Long), Long]](() => {
        val acc = scala.collection.mutable.Map.empty[(Long, Long), Long]
        val c = new Coordinate()
        var i = t * chunk
        while (i < math.min(nPoints, (t + 1) * chunk)) {
          val (_, x, y) = page(seed, i)
          c.x = x; c.y = y
          val hits = tree.query(new Envelope(x, x, y, y)).iterator()
          var n = 0L
          while (hits.hasNext) {
            val ring = hits.next().asInstanceOf[Array[Coordinate]]
            if (RayCrossingCounter.locatePointInRing(c, ring) != Location.EXTERIOR) n += 1
          }
          if (n > 0) {
            val k = (math.floor(x / 10000).toLong, math.floor(y / 10000).toLong)
            acc(k) = acc.getOrElse(k, 0L) + n
          }
          i += 1
        }
        acc.toMap
      })
      new Thread(task).start()
      task
    }
    parts.map(_.get()).reduce { (a, b) =>
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap
    }
  }

  def layers(ctx: Ctx, fullPass: String, warm: Map[String, Double]): Map[String, Double] = {
    // Rounds visit every prefix in turn, so the passes still getting faster
    // under the JIT do not favour the prefixes timed last. Each prefix keeps
    // only the columns the aggregation reads, as the full pass's plan does,
    // so a difference holds one layer's work and no column output.
    val used = Seq("bng10", "h3_9", "s2_12").map(col)
    val prefixes = Seq("input.scan" -> (() => scan.select("x", "y")),
      "index.encode" -> (() => encoded.select(used: _*)),
      "ops.cell_join" -> (() => cellJoined.select(used: _*)),
      "geo.refine" -> (() => joined.select(used: _*)),
      "ops.tile_agg" -> (() => tiles))
    val rounds = (1 to 4).map { r =>
      ctx.tracer.span(s"prefixes.$r")(prefixes.map { case (name, df) =>
        Stats.seconds(ctx.section(name)(ctx.noop(df())))
      })
    }
    val Seq(p1, p2, p3, p4, p5) = prefixes.indices.map(i => Stats.median(rounds.map(_(i))))
    val candidates = ctx.section("count.candidates")(cellJoined.count())
    val matched = ctx.section("count.matched")(joined.count())
    val sample = ctx.tracer.span("index.direct")(directEncoders())
    val (missRatio, testNs) = ctx.tracer.span("geo.tester_replay")(testerReplay())
    Map(
      "input.scan_s" -> p1, "index.encode_s" -> (p2 - p1), "ops.cell_join_s" -> (p3 - p2),
      "geo.refine_s" -> (p4 - p3), "ops.tile_agg_s" -> (p5 - p4),
      "ops.candidate_pairs" -> candidates.toDouble, "ops.matched_pairs" -> matched.toDouble,
      "geo.refine_hit_ratio" -> matched.toDouble / candidates,
      "geo.tester_miss_ratio" -> missRatio, "geo.test_ns" -> testNs) ++ sample
  }

  /** Direct single-thread calls into the cell encoders on the workload's
    * points, with the BNG -> WGS84 transform the spherical expressions pay.
    */
  private def directEncoders(): Map[String, Double] = {
    val n = math.min(nPoints, 200000L).toInt
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    (0 until n).foreach { i => val (_, x, y) = page(seed, i); xs(i) = x; ys(i) = y }
    var sink = 0L
    def nsPer(f: Int => Long): Double =
      Stats.medianSeconds(5) { var i = 0; while (i < n) { sink ^= f(i); i += 1 } } * 1e9 / n
    val h3 = nsPer { i =>
      val m = graft.index.Transform.bngToWgs84Memo(xs(i), ys(i)); graft.index.H3.cellId(m(2), m(3), 9)
    }
    val s2 = nsPer { i =>
      val m = graft.index.Transform.bngToWgs84Memo(xs(i), ys(i)); graft.index.S2.cellId(m(2), m(3), 12)
    }
    val bng = nsPer(i => graft.index.Bng.cellId(xs(i), ys(i), 10000L))
    if (sink == 42L) System.err.print("")
    Map("index.h3_ns_per_point" -> h3, "index.s2_ns_per_point" -> s2,
      "index.bng_ns_per_point" -> bng)
  }

  /** Replays the refine's candidate sequence for the first scan partition
    * through the per-thread tester cache on this thread: the second of two
    * replays, as executor threads keep their caches across passes.
    */
  private def testerReplay(): (Double, Double) = {
    val cells: Map[Long, Array[(Long, Array[Byte])]] = polyCells
      .select("__cell__", "poly_id", "geometry").collect()
      .groupBy(_.getLong(0))
      .map { case (c, rs) => c -> rs.map(r => (r.getLong(1), r.getAs[Array[Byte]](2))) }
    val pts = scan.select("x", "y").rdd
      .mapPartitionsWithIndex((i, it) => if (i == 0) it.map(r => (r.getDouble(0), r.getDouble(1)))
        else Iterator.empty).collect()
    // keys unique to this run, so no earlier use of the cache on this
    // thread pre-warms it
    val salt = System.nanoTime() << 20
    def replay(): (Long, Long, Long) = {
      var tests = 0L; var misses = 0L; var hits = 0L
      val t0 = System.nanoTime()
      pts.foreach { case (x, y) =>
        cells.get(graft.index.Bng.cellId(x, y, 10000L)).foreach(_.foreach { case (id, wkb) =>
          var t = graft.geo.StPredicatePoint.testerByKeyOrNull(salt + id)
          if (t == null) { misses += 1; t = graft.geo.StPredicatePoint.testerByKeyPut(salt + id, wkb) }
          if (graft.geo.StPredicatePoint.testPoint(t, x, y, false)) hits += 1
          tests += 1
        })
      }
      (tests, misses, System.nanoTime() - t0)
    }
    replay()
    val (tests, misses, ns) = replay()
    (misses.toDouble / math.max(1L, tests), ns.toDouble / math.max(1L, tests))
  }
}

/** Deterministic hashing for seeded inputs. */
object Rand {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform [0, 1) for (seed, item, stream). */
  def u(seed: Long, i: Long, k: Int): Double =
    (mix(mix(seed * 0x632BE59BD9B4E019L + k) + i) >>> 11) * (1.0 / (1L << 53))
}

object Shapes {
  /** Star-shaped simple polygon: vertex angles increase, radii vary in
    * [0.55 r, r], so the ring never self-intersects.
    */
  def star(cx: Double, cy: Double, r: Double, vertices: Int, h: Long): Polygon = {
    val coords = (0 until vertices).map { v =>
      val a = 2 * math.Pi * (v + 0.8 * Rand.u(h, v, 1)) / vertices
      val rv = r * (0.55 + 0.45 * Rand.u(h, v, 2))
      new Coordinate(cx + rv * math.cos(a), cy + rv * math.sin(a))
    }
    graft.geo.Wkb.factory.createPolygon((coords :+ coords.head).toArray)
  }
}
