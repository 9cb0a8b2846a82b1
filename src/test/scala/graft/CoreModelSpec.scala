package graft

import graft.core.{LayerWrapper, LineageDag, Metadata}
import org.apache.spark.sql.functions._

class CoreModelSpec extends SparkSpec {
  import spark.implicits._

  /** Minimal GEMINI 2.3 / ISO 19139-shaped doc (synthesized — structure
    * per the reference's XPath constants, constants.py:111-212).
    */
  private val gemini =
    """<gmd:MD_Metadata xmlns:gmd="http://www.isotc211.org/2005/gmd"
      |                 xmlns:gco="http://www.isotc211.org/2005/gco">
      |  <gmd:fileIdentifier><gco:CharacterString>abc-123</gco:CharacterString></gmd:fileIdentifier>
      |  <gmd:language><gmd:LanguageCode codeListValue="eng">English</gmd:LanguageCode></gmd:language>
      |  <gmd:hierarchyLevel><gmd:MD_ScopeCode codeListValue="dataset"/></gmd:hierarchyLevel>
      |  <gmd:dateStamp><gco:Date>2021-03-01</gco:Date></gmd:dateStamp>
      |  <gmd:identificationInfo><gmd:MD_DataIdentification>
      |    <gmd:citation><gmd:CI_Citation>
      |      <gmd:title><gco:CharacterString>Test Wetlands</gco:CharacterString></gmd:title>
      |    </gmd:CI_Citation></gmd:citation>
      |    <gmd:abstract><gco:CharacterString>A synthetic abstract.</gco:CharacterString></gmd:abstract>
      |    <gmd:descriptiveKeywords><gmd:MD_Keywords>
      |      <gmd:keyword><gco:CharacterString>wetland</gco:CharacterString></gmd:keyword>
      |      <gmd:keyword><gco:CharacterString>ramsar</gco:CharacterString></gmd:keyword>
      |    </gmd:MD_Keywords></gmd:descriptiveKeywords>
      |    <gmd:spatialRepresentationType>
      |      <gmd:MD_SpatialRepresentationTypeCode codeListValue="vector"/>
      |    </gmd:spatialRepresentationType>
      |    <gmd:language><gmd:LanguageCode codeListValue="eng">English</gmd:LanguageCode></gmd:language>
      |    <gmd:topicCategory><gmd:MD_TopicCategoryCode>environment</gmd:MD_TopicCategoryCode></gmd:topicCategory>
      |  </gmd:MD_DataIdentification></gmd:identificationInfo>
      |  <gmd:dataQualityInfo><gmd:DQ_DataQuality>
      |    <gmd:scope><gmd:DQ_Scope><gmd:level>
      |      <gmd:MD_ScopeCode codeListValue="dataset"/>
      |    </gmd:level></gmd:DQ_Scope></gmd:scope>
      |    <gmd:lineage><gmd:LI_Lineage>
      |      <gmd:statement><gco:CharacterString>Derived synthetically.</gco:CharacterString></gmd:statement>
      |    </gmd:LI_Lineage></gmd:lineage>
      |  </gmd:DQ_DataQuality></gmd:dataQualityInfo>
      |</gmd:MD_Metadata>""".stripMargin

  test("GEMINI XML parses into the 12-field Metadata") {
    val m = Metadata.fromXmlString(gemini)
    assert(m.title.contains("Test Wetlands"))
    assert(m.abstract_.contains("A synthetic abstract."))
    assert(m.keyword == Seq("wetland", "ramsar"))
    assert(m.topic_category == Seq("environment"))
    assert(m.lineage.contains("Derived synthetically."))
    assert(m.metadata_date.contains("2021-03-01"))
    assert(m.metadata_language.contains("English"))
    assert(m.resource_type == Seq("dataset"))
    assert(m.file_identifier.contains("abc-123"))
    assert(m.quality_scope == Seq("dataset"))
    assert(m.spatial_representation_type == Seq("vector"))
  }

  test("missing title/keywords -> None/empty (reference without_* variants)") {
    val m = Metadata.fromXmlString(
      "<MD_Metadata><fileIdentifier><CharacterString>x</CharacterString></fileIdentifier></MD_Metadata>")
    assert(m.title.isEmpty && m.keyword.isEmpty && m.file_identifier.contains("x"))
  }

  test("sidecar JSON metadata fallback (reference _dataframe.py:174-183)") {
    val p = java.nio.file.Paths.get(tempDir("meta"), "meta.json")
    java.nio.file.Files.writeString(p,
      """{"title": "From JSON", "keyword": ["a", "b"], "lineage": "j"}""")
    val m = Metadata.fromJsonFile(p.toString)
    assert(m.title.contains("From JSON"))
    assert(m.keyword == Seq("a", "b"))
    assert(m.lineage.contains("j"))
  }

  test("lineage DAG grows per transformation, renders deterministic DOT") {
    val dag = LineageDag().withInput("read x.parquet")
      .withStep("filter(a > 1)", "layer: filtered")
      .withStep("categorize(lang)", "layer: categorized")
    assert(dag.nodes.size == 5)
    assert(dag.edges.size == 4)
    val dot = dag.toDot
    assert(dot.contains("shape=oval") && dot.contains("shape=box") &&
      dot.contains("shape=parallelogram"))
    assert(dag.toDot == dot) // stable
  }

  test("LayerWrapper end-to-end: read csv -> join -> filter -> categorize -> index, lineage tracks") {
    // reproduce the reference pipeline-test shape (test_pipeline.py:92-105)
    val dir = tempDir("layer")
    Seq(("A", "grassland"), ("B", "woodland"), ("C", "wetland"), ("D", "farmland"))
      .toDF("category", "land_cover")
      .write.option("header", "true").mode("overwrite").csv(s"$dir/lookup.csv")

    val spatial = Seq(
      (0L, "A", graft.geo.Wkb.write(graft.geo.Wkb.box(430000, 430000, 450000, 450000))),
      (1L, "B", graft.geo.Wkb.write(graft.geo.Wkb.box(130000, 630000, 150000, 650000))),
      (2L, "D", graft.geo.Wkb.write(graft.geo.Wkb.box(230000, 230000, 250000, 250000))))
      .toDF("idx", "category", "geometry")

    val lookupLayer = LayerWrapper.fromFiles(spark, s"$dir/lookup.csv",
      name = Some("lookup"))
    assert(lookupLayer.data.count() == 4)

    val out = LayerWrapper("spatial", spatial,
        lineage = LineageDag().withInput("synthetic spatial"))
      .join(lookupLayer.data, Seq("category"))
      .filter("land_cover != 'farmland'")
      .categorize(Seq("land_cover"))
      .index(resolution = 100000L)

    assert(out.lookup("land_cover") == Map("grassland" -> 0d, "woodland" -> 1d))
    val rows = out.data.select("idx", "land_cover", "bng_index").collect()
    assert(rows.length == 2)
    assert(out.data.columns.contains("bounds"))
    assert(out.lineage.nodes.count(_.shape == "box") == 4)
    // bounds matches the indexed ref
    val b = out.data.filter(col("idx") === 0L)
      .select("bng_index", "bounds").head()
    assert(b.getString(0) == "SE")
    assert(b.getSeq[Double](1) == Seq(400000d, 400000d, 500000d, 500000d))
  }
}
