package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface: registers the engine's Catalyst expressions as session
  * functions so every operator is reachable from `spark.sql(...)` — a
  * user of the reference (which drove everything through SQL-string
  * filters and DataFrame calls) can stay in SQL here too.
  *
  * Usage: `GraftFunctions.register(spark)` once per session, or install
  * [[GraftExtensions]] via
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`.
  */
object GraftFunctions {

  private def litLong(e: Expression, name: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case _ => throw new IllegalArgumentException(s"$name must be a literal integer")
  }
  private def litStr(e: Expression, default: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case _ => default
  }

  /** (name, builder) for every SQL-exposed engine function. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "st_point" -> ((es: Seq[Expression]) => graft.geo.StPoint(es(0), es(1))),
    "st_contains" -> ((es: Seq[Expression]) => graft.geo.StPredicate(es(0), es(1), "contains")),
    "st_covers" -> ((es: Seq[Expression]) => graft.geo.StPredicate(es(0), es(1), "covers")),
    "st_intersects" -> ((es: Seq[Expression]) => graft.geo.StPredicate(es(0), es(1), "intersects")),
    "st_within" -> ((es: Seq[Expression]) => graft.geo.StPredicate(es(0), es(1), "within")),
    "st_intersection" -> ((es: Seq[Expression]) => graft.geo.StIntersection(es(0), es(1))),
    "st_envelope" -> ((es: Seq[Expression]) => graft.geo.StEnvelope(es(0))),
    "st_distance" -> ((es: Seq[Expression]) => graft.geo.StDistance(es(0), es(1))),
    "st_astext" -> ((es: Seq[Expression]) => graft.geo.StAsText(es(0))),
    "st_geomfromtext" -> ((es: Seq[Expression]) => graft.geo.StGeomFromText(es(0))),
    "st_covers_point" -> ((es: Seq[Expression]) =>
      graft.geo.StPredicatePoint(es(0), es(1), es(2), "covers")),
    "bng_index" -> ((es: Seq[Expression]) =>
      graft.index.BngIndexExpr(es(0), litLong(es(1), "resolution"),
        if (es.length > 2) litStr(es(2), "intersects") else "intersects")),
    "bng_index_point" -> ((es: Seq[Expression]) =>
      graft.index.BngPointRef(es(0), es(1), litLong(es(2), "resolution"))),
    "bng_cell_id" -> ((es: Seq[Expression]) =>
      graft.index.BngCellId(es(0), es(1), litLong(es(2), "resolution"))),
    "bng_to_bounds" -> ((es: Seq[Expression]) => graft.index.BngToBounds(es(0))),
    "cell_ring" -> ((es: Seq[Expression]) => graft.index.BngCellRing(es(0), es(1))),
    "h3_index_point" -> ((es: Seq[Expression]) =>
      graft.index.SphericalCellId(es(0), es(1), litLong(es(2), "res").toInt, "h3")),
    "s2_index_point" -> ((es: Seq[Expression]) =>
      graft.index.SphericalCellId(es(0), es(1), litLong(es(2), "level").toInt, "s2")),
    "extract_text" -> ((es: Seq[Expression]) => graft.text.ExtractTextExpr(es(0))),
    "lang_id" -> ((es: Seq[Expression]) => graft.text.TextKernel(es(0), "langid")),
    "quality_score" -> ((es: Seq[Expression]) => graft.text.TextKernelDouble(es(0))),
    "token_count" -> ((es: Seq[Expression]) => graft.text.TextKernelLong(es(0), "tokens")),
    "fingerprint64" -> ((es: Seq[Expression]) => graft.text.TextKernelLong(es(0), "fingerprint")),
    "minhash_sig" -> ((es: Seq[Expression]) =>
      graft.ops.MinHashSig(es(0), litLong(es(1), "numHashes").toInt,
        litLong(es(2), "shingleWidth").toInt)),
    "simhash64" -> ((es: Seq[Expression]) => graft.ops.SimHash64(es(0))),
    "simhash_md5_60" -> ((es: Seq[Expression]) => graft.ops.SimHashMd5(es(0))),
    "jaccard_shingles" -> ((es: Seq[Expression]) =>
      graft.ops.JaccardShingles(es(0), es(1), es(2))),
    "cosine_sim" -> ((es: Seq[Expression]) => graft.ops.CosineSim(es(0), es(1))),
    "st_geom_key" -> ((es: Seq[Expression]) => graft.geo.StGeomKey(es(0))),
    "bng_index_ids" -> ((es: Seq[Expression]) =>
      graft.index.BngIndexIdsExpr(es(0), litLong(es(1), "resolution"),
        if (es.length > 2) litStr(es(2), "intersects") else "intersects")),
    "bng_index_flags" -> ((es: Seq[Expression]) =>
      graft.index.BngIndexFlagsExpr(es(0), litLong(es(1), "resolution"))),
    "s2_cell_lonlat" -> ((es: Seq[Expression]) =>
      graft.index.S2CellLatLng(es(0), es(1), litLong(es(2), "level").toInt)),
    "rhp_sign" -> ((es: Seq[Expression]) =>
      graft.ops.RandomHyperplaneSign(es(0), litLong(es(1), "bits").toInt,
        litLong(es(2), "seed"))),
    "repetition_signals" -> ((es: Seq[Expression]) =>
      graft.text.RepetitionSignals(es(0))),
    "canonicalize_url" -> ((es: Seq[Expression]) => graft.text.UrlCanon(es(0))),
    "word_counts" -> ((es: Seq[Expression]) => graft.text.WordCountsExpr(es(0))),
    "scrub_pii" -> ((es: Seq[Expression]) => graft.text.PiiScrub(es(0)))
  )

  /** Registers every function on `spark`; a repeat call registers
    * nothing again.
    */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, builder)
    }
}

/** SparkSessionExtensions plugin: inject every engine function and the
  * point-in-polygon join's planner strategy at session build time
  * (`spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.injectFunction(e, name, builder)
    }
    e.injectPlannerStrategy(_ => graft.ops.PointInPolygonStrategy)
  }
}
