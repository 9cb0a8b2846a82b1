package graft

import graft.core.LayerWrapper
import graft.input.Xlsx
import org.apache.spark.sql.types._

import java.util.zip.{ZipEntry, ZipOutputStream}

/** Spreadsheet ingest (reference S4, `dataframe.py:161-190`): xlsx
  * round-trip through our own writer, a shared-strings file, an ODS
  * fixture with repeated columns, and the from_files dispatch.
  */
class XlsxSpec extends SparkSpec {
  import spark.implicits._

  test("xlsx round-trip preserves values and inferred types") {
    val df = Seq(
      (1L, "alpha", 1.5, true),
      (2L, "beta", -2.25, false),
      (3L, "gamma & <co>", 0.0, true)
    ).toDF("id", "label", "score", "flag")
    val path = tempDir("xlsx") + "/t.xlsx"
    Xlsx.write(df, path)
    val back = Xlsx.read(spark, path)
    assert(back.schema == StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("label", StringType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("flag", BooleanType, nullable = true))))
    val got = back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (1L, "alpha", 1.5, true),
      (2L, "beta", -2.25, false),
      (3L, "gamma & <co>", 0.0, true)))
  }

  test("xlsx shared strings, gap cells, and rich-text runs parse") {
    // Hand-built workbook exercising t="s" cells, a skipped cell (B3
    // absent -> null), and a rich-text <si> split across two <t> runs.
    val dir = tempDir("xlsx2")
    val path = s"$dir/s.xlsx"
    val shared =
      """<?xml version="1.0"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">
        |<si><t>name</t></si>
        |<si><r><t>Lond</t></r><r><t>on</t></r></si>
        |<si><t>York</t></si>
        |</sst>""".stripMargin
    val sheet =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t>pop</t></is></c></row>
        |<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>8900000</v></c></row>
        |<row r="3"><c r="A3" t="s"><v>2</v></c></row>
        |</sheetData>
        |</worksheet>""".stripMargin
    val zout = new ZipOutputStream(new java.io.FileOutputStream(path))
    Seq("xl/sharedStrings.xml" -> shared, "xl/worksheets/sheet1.xml" -> sheet)
      .foreach { case (n, c) =>
        zout.putNextEntry(new ZipEntry(n)); zout.write(c.getBytes("UTF-8")); zout.closeEntry()
      }
    zout.close()
    val back = Xlsx.read(spark, path).orderBy("name")
    assert(back.schema.fieldNames.toSeq == Seq("name", "pop"))
    assert(back.schema("pop").dataType == LongType)
    val rows = back.collect().map(r => (r.getString(0), Option(r.get(1))))
    assert(rows.toSeq == Seq(("London", Some(8900000L)), ("York", None)))
  }

  test("ods fixture with repeated and typed cells parses") {
    val dir = tempDir("ods")
    val path = s"$dir/t.ods"
    val content =
      """<?xml version="1.0"?>
        |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        |  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        |  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<office:body><office:spreadsheet>
        |<table:table table:name="Sheet1">
        |<table:table-row>
        |  <table:table-cell office:value-type="string"><text:p>a</text:p></table:table-cell>
        |  <table:table-cell office:value-type="string"><text:p>b</text:p></table:table-cell>
        |  <table:table-cell office:value-type="string"><text:p>c</text:p></table:table-cell>
        |</table:table-row>
        |<table:table-row>
        |  <table:table-cell office:value-type="float" office:value="2" table:number-columns-repeated="2"/>
        |  <table:table-cell office:value-type="boolean" office:boolean-value="true"/>
        |</table:table-row>
        |</table:table>
        |</office:spreadsheet></office:body></office:document-content>""".stripMargin
    val zout = new ZipOutputStream(new java.io.FileOutputStream(path))
    zout.putNextEntry(new ZipEntry("content.xml"))
    zout.write(content.getBytes("UTF-8")); zout.closeEntry(); zout.close()
    val back = Xlsx.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(back.schema("a").dataType == LongType &&
      back.schema("c").dataType == BooleanType)
    val r = back.collect().head
    assert((r.getLong(0), r.getLong(1), r.getBoolean(2)) == (2L, 2L, true))
  }

  test("xlsx error cells and unparseable values surface as null, not ingest failure") {
    val dir = tempDir("xlsx-err")
    val path = s"$dir/e.xlsx"
    val sheet =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c><c r="B1" t="inlineStr"><is><t>v</t></is></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="e"><v>#DIV/0!</v></c></row>
        |<row r="3"><c r="A3"><v>2</v></c><c r="B3" t="d"><v>not-a-number</v></c></row>
        |<row r="4"><c r="A4"><v>3</v></c><c r="B4"><v>7</v></c></row>
        |</sheetData>
        |</worksheet>""".stripMargin
    val zout = new ZipOutputStream(new java.io.FileOutputStream(path))
    zout.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    zout.write(sheet.getBytes("UTF-8")); zout.closeEntry(); zout.close()
    val back = Xlsx.read(spark, path).orderBy("k")
    val rows = back.collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(rows.toSeq == Seq((1L, None), (2L, None), (3L, Some(7L))))
  }

  test("ods trailing repeated empty fillers don't widen the inferred table") {
    // Writers pad row ends with number-columns-repeated empty cells (up
    // to 16384); those must not become all-null columns.
    val dir = tempDir("ods-fill")
    val path = s"$dir/f.ods"
    val content =
      """<?xml version="1.0"?>
        |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        |  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        |  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<office:body><office:spreadsheet>
        |<table:table table:name="Sheet1">
        |<table:table-row>
        |  <table:table-cell office:value-type="string"><text:p>a</text:p></table:table-cell>
        |  <table:table-cell office:value-type="string"><text:p>b</text:p></table:table-cell>
        |  <table:table-cell table:number-columns-repeated="16382"/>
        |</table:table-row>
        |<table:table-row>
        |  <table:table-cell office:value-type="float" office:value="1"/>
        |  <table:table-cell office:value-type="float" office:value="2"/>
        |  <table:table-cell table:number-columns-repeated="16382"/>
        |</table:table-row>
        |</table:table>
        |</office:spreadsheet></office:body></office:document-content>""".stripMargin
    val zout = new ZipOutputStream(new java.io.FileOutputStream(path))
    zout.putNextEntry(new ZipEntry("content.xml"))
    zout.write(content.getBytes("UTF-8")); zout.closeEntry(); zout.close()
    val back = Xlsx.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("a", "b"),
      s"trailing fillers leaked into the schema: ${back.schema.fieldNames.length} cols")
    val r = back.collect().head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
  }

  test("from_files dispatches .xlsx and carries lineage") {
    val df = Seq((10L, "x"), (20L, "y")).toDF("k", "v")
    val dir = tempDir("xlsx3")
    Xlsx.write(df, s"$dir/table.xlsx")
    val lw = LayerWrapper.fromFiles(spark, s"$dir/table.xlsx")
    assert(lw.name == "table")
    assert(lw.data.count() == 2)
    assert(lw.data.schema("k").dataType == LongType)
  }

  test("xlsx date-styled serials surface as ISO strings (1900 leap bug handled)") {
    val dir = tempDir("xlsxd")
    val path = s"$dir/d.xlsx"
    // styles: xf 0 = general, xf 1 = builtin date (14), xf 2 = custom
    // date code (yyyy-mm-dd), xf 3 = custom NON-date (quoted "dy" text)
    val styles =
      """<?xml version="1.0"?>
        |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="2">
        |<numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/>
        |<numFmt numFmtId="165" formatCode="#,##0&quot;dy&quot;"/>
        |</numFmts>
        |<cellXfs count="4">
        |<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/><xf numFmtId="165"/>
        |</cellXfs>
        |</styleSheet>""".stripMargin
    val sheet =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>d</t></is></c><c r="B1" t="inlineStr"><is><t>n</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>45292</v></c><c r="B2" s="3"><v>7</v></c></row>
        |<row r="3"><c r="A3" s="2"><v>1</v></c><c r="B3"><v>8</v></c></row>
        |<row r="4"><c r="A4" s="1"><v>59</v></c><c r="B4"><v>9</v></c></row>
        |<row r="5"><c r="A5" s="1"><v>61</v></c><c r="B5"><v>10</v></c></row>
        |<row r="6"><c r="A6" s="1"><v>45292.5212962963</v></c><c r="B6"><v>11</v></c></row>
        |</sheetData>
        |</worksheet>""".stripMargin
    val zout = new ZipOutputStream(new java.io.FileOutputStream(path))
    Seq("xl/styles.xml" -> styles, "xl/worksheets/sheet1.xml" -> sheet)
      .foreach { case (n, c) =>
        zout.putNextEntry(new ZipEntry(n)); zout.write(c.getBytes("UTF-8")); zout.closeEntry()
      }
    zout.close()
    val back = Xlsx.read(spark, path).orderBy("n")
    // date column is strings; non-date custom format stays numeric
    assert(back.schema("d").dataType == org.apache.spark.sql.types.StringType)
    assert(back.schema("n").dataType == LongType)
    val ds = back.collect().map(_.getString(0)).toSeq
    assert(ds == Seq(
      "2024-01-01",          // serial 45292, builtin fmt 14
      "1900-01-01",          // serial 1, custom date code, pre-bug epoch
      "1900-02-28",          // serial 59, last real pre-bug day
      "1900-03-01",          // serial 61, post-bug epoch
      "2024-01-01 12:30:40") // fractional serial -> time suffix
    )
  }

  test("xlsx serial edges and custom-format heuristic") {
    assert(Xlsx.serialToIso(60.0) == "1900-02-28") // the fictitious leap day collapses
    assert(Xlsx.serialToIso(2.0) == "1900-01-02")
    assert(Xlsx.serialToIso(45292.9999999) == "2024-01-02") // rounds to midnight next day
    assert(Xlsx.isDateFormatCode("dd/mm/yyyy"))
    assert(Xlsx.isDateFormatCode("[h]:mm:ss"))
    assert(!Xlsx.isDateFormatCode("#,##0.00"))
    assert(!Xlsx.isDateFormatCode("0.0\"m\"")) // quoted m is literal text
    assert(!Xlsx.isDateFormatCode("[Red]0.0"))
  }

  test("ods typed date and time cells pass through as ISO strings") {
    val dir = tempDir("odsd")
    val path = s"$dir/d.ods"
    val content =
      """<?xml version="1.0"?>
        |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<office:body><office:spreadsheet><table:table table:name="S">
        |<table:table-row><table:table-cell office:value-type="string"><text:p>when</text:p></table:table-cell></table:table-row>
        |<table:table-row><table:table-cell office:value-type="date" office:date-value="2024-05-01T08:30:00"/></table:table-row>
        |<table:table-row><table:table-cell office:value-type="date" office:date-value="2024-05-02"/></table:table-row>
        |</table:table></office:spreadsheet></office:body>
        |</office:document-content>""".stripMargin
    val zout = new ZipOutputStream(new java.io.FileOutputStream(path))
    zout.putNextEntry(new ZipEntry("content.xml"))
    zout.write(content.getBytes("UTF-8")); zout.closeEntry(); zout.close()
    val back = Xlsx.read(spark, path).orderBy("when")
    assert(back.collect().map(_.getString(0)).toSeq ==
      Seq("2024-05-01 08:30:00", "2024-05-02"))
  }
}
