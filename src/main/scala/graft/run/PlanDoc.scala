package graft.run
import graft.SparkEntry
object PlanDoc {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session("8")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val interesting = Seq(
      "q3_filter_pushdown" -> "filter pushdown + column pruning reach the scan",
      "q14_spatial_join" -> "cell-indexed PIP join: one PointInPolygonJoin probe in the point side's codegen stage over the broadcast polygon rows (IdentityBroadcastMode)",
      "q13_tile_counts" -> "two-phase tile aggregation (map-side partial)",
      "q16_raster_burn" -> "range-partitioned streaming burn",
      "q20_minhash_lsh" -> "MinHash LSH banding: signature once, band explode, self-join",
      "q36_radius_join" -> "radius join via cell-ring candidate explode",
      "q6_categorize" -> "distributed two-phase rank: range exchange + per-pid window, NO Exchange SinglePartition",
      "q38_highcard_codes" -> "high-cardinality categorize: join-back on a 128-bit xxhash64 surrogate key — no exchange carries the values column (ScaleShapeSpec gate)",
      "q23_embed_neardup" -> "embedding near-dup: ids-only through the RHP bucket self-join, vectors re-joined only for the cosine refine",
      "q44_spherical_radius" -> "seam-safe spherical radius join: S2 cap-cover explode broadcast, equi-join on the point's cell id, codegen haversine refine",
      "q48_line_dedup" -> "corpus line dedup: narrow (hash+position) winner aggregate with map-side partial min; text rides only the hash-keyed tag join (ScaleShapeSpec-style gate in WebCleanSpec)",
      "q52_bloom_incremental" -> "incremental dedup: distributed BloomFilterAggregate build, might_contain prefilter on the batch, exact anti-join only on the bloom-positive sliver",
      "q53_tfidf" -> "TF-IDF: row-local TF (word_counts expression), ONE word-keyed DF aggregation with map-side combine, broadcast scalar N",
      "q57_packing" -> "sequence packing: two-phase distributed prefix sum (range exchange + per-pid window + broadcast offsets) — no Exchange SinglePartition")
    val sb = new StringBuilder(
      "# PLANS — formatted physical plans at HEAD (sf0.001)\n\n" +
      "Generated by `graft.run.PlanDoc`; plan-quality properties are\n" +
      "pinned by PlanSpec so regressions fail the build.\n")
    interesting.foreach { case (q, note) =>
      sb.append(s"\n## $q — $note\n\n```\n")
      sb.append(SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode).take(4000))
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("PLANS.md written")
    spark.stop()
  }
}
