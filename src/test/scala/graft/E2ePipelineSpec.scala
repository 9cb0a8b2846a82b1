package graft

import graft.core.{LayerWrapper, LineageDag}
import graft.geo.Wkb
import graft.raster.TileStore
import org.apache.spark.sql.functions._

/** The reference's end-to-end pipeline test (`test_pipeline.py:38-120`)
  * replicated at full fixture scale: 91 squares of 20 km centred on each
  * BNG 100 km square (row-major from NW, category cycling A,B,C,D,
  * `pipeline.py:34-73`) -> join aspatial lookup on category -> filter
  * farmland out -> categorize -> index -> tile materialization ->
  * whole-canvas golden + lookup/nodata attrs + lineage.
  *
  * Documented deviation (SURVEY.md §7.6 #3): codes are dense in SORTED
  * value order (grassland 0, wetland 1, woodland 2) because the
  * reference's insertion-order codes depend on nondeterministic
  * `distinct().collect()` ordering; its own tests dodge that.
  */
class E2ePipelineSpec extends SparkSpec {
  import spark.implicits._

  test("91-square pipeline: canvas, attrs, lineage") {
    val cats = "ABCD"
    val spatial = (for {
      r <- 0 until 13 // rows from North (reference BBOXES order)
      c <- 0 until 7
    } yield {
      val i = r * 7 + c
      val cx = c * 100000.0 + 50000.0
      val cy = (12 - r) * 100000.0 + 50000.0
      (i.toLong, cats((i % 4)).toString,
        Wkb.write(Wkb.box(cx - 10000, cy - 10000, cx + 10000, cy + 10000)))
    }).toDF("idx", "category", "geometry")

    val lookupCsv = Seq(("A", "grassland"), ("B", "woodland"), ("C", "wetland"),
      ("D", "farmland")).toDF("category", "land_cover")

    val out = LayerWrapper("pipeline", spatial,
        lineage = LineageDag().withInput("synthetic 91 squares"))
      .join(lookupCsv, Seq("category"))
      .filter("land_cover != 'farmland'")
      .categorize(Seq("land_cover"))

    assert(out.lookup("land_cover") ==
      Map("grassland" -> 0d, "wetland" -> 1d, "woodland" -> 2d))
    assert(out.data.count() == 91 - 22) // 22 squares are D/farmland

    val path = tempDir("e2e")
    out.toTileStore(path, Seq("land_cover"),
      cellSize = 10000, tileSize = 100000, overwrite = true)

    val store = new TileStore(path)
    val spec = store.header.columns.head
    assert(spec.dtype == "uint8" && spec.nodata == 255d)
    assert(spec.lookup.contains(
      "{'grassland': 0, 'wetland': 1, 'woodland': 2, 'nodata': 255}"))

    // whole-canvas golden: 2x2 block of the code at each non-D square
    // centre (cells 4,5 of the 10-cell tile), 255 elsewhere
    val canvas = store.assembleCanvas("land_cover")
    assert(canvas.length == 130 && canvas.head.length == 70)
    val codeOf = Map("A" -> 0d, "C" -> 1d, "B" -> 2d) // sorted-value codes
    for (r <- 0 until 13; c <- 0 until 7) {
      val i = r * 7 + c
      val cat = cats((i % 4)).toString
      for (dr <- 0 until 10; dc <- 0 until 10) {
        val row = r * 10 + dr
        val col = c * 10 + dc
        val inBlock = (dr == 4 || dr == 5) && (dc == 4 || dc == 5)
        val expected =
          if (inBlock && cat != "D") codeOf(cat) else 255d
        assert(canvas(row)(col) == expected,
          s"square $i ($cat) canvas cell ($row,$col)")
      }
    }

    // lineage captured every stage
    val labels = out.lineage.nodes.map(_.label)
    assert(labels.exists(_.contains("join")))
    assert(labels.exists(_.contains("filter")))
    assert(labels.exists(_.contains("categorize")))
    assert(out.lineage.toDot.contains("digraph lineage"))
  }
}
