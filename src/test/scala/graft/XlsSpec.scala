package graft

import graft.core.LayerWrapper
import graft.input.{Xls, Xlsx}
import org.apache.spark.sql.types._

/** Legacy BIFF8 .xls ingest (reference S4, `dataframe.py:161-190` — the
  * pandas read_excel path also accepts pre-OOXML workbooks): CFB
  * container (FAT and miniFAT stream placement), BIFF8 record decode
  * (RK/MULRK/NUMBER/LABELSST/BOOLERR/date XF), SST CONTINUE spill, and
  * the from_files dispatch.
  */
class XlsSpec extends SparkSpec {
  import spark.implicits._

  test("xls round-trip preserves values and inferred types (mini-stream CFB)") {
    val df = Seq(
      (1L, "alpha", 1.5, true),
      (2L, "beta", -2.25, false),
      (3L, "gamma & <co>", 0.0, true)
    ).toDF("id", "label", "score", "flag")
    val path = tempDir("xls") + "/t.xls"
    Xls.write(df, path)
    // small workbook -> stream < 4096 B -> must land in the CFB mini
    // stream so the reader's miniFAT path is the one under test
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(Xls.workbookStream(bytes).length < 4096)
    val back = Xls.read(spark, path)
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

  test("xls large workbook takes the regular FAT path and SST spills into CONTINUE") {
    // ~600 unique ~40-char strings -> SST >> 8224 B (CONTINUE records,
    // some strings split mid-characters) and stream >> 4096 B (regular
    // FAT chain, multiple sectors).
    val df = (0 until 600).map { i =>
      (i.toLong, s"document-$i-" + ("x" * (20 + i % 17)) + s"-tail$i")
    }.toDF("id", "text")
    val path = tempDir("xlsbig") + "/big.xls"
    Xls.write(df, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val stream = Xls.workbookStream(bytes)
    assert(stream.length > 4096, "fixture must exercise the FAT path")
    // count CONTINUE records following the SST (id 0x003C)
    var p = 0; var continues = 0
    while (p + 4 <= stream.length) {
      val id = (stream(p) & 0xff) | ((stream(p + 1) & 0xff) << 8)
      val len = (stream(p + 2) & 0xff) | ((stream(p + 3) & 0xff) << 8)
      if (id == 0x003C) continues += 1
      p += 4 + len
    }
    assert(continues >= 1, "fixture must exercise SST CONTINUE spill")
    val back = Xls.read(spark, path).orderBy("id").collect()
    assert(back.length == 600)
    (0 until 600).foreach { i =>
      assert(back(i).getLong(0) == i.toLong)
      assert(back(i).getString(1) ==
        s"document-$i-" + ("x" * (20 + i % 17)) + s"-tail$i")
    }
  }

  test("SST string whose header ends exactly at a fragment boundary decodes " +
    "(continuation flags byte before the FIRST character, MS-XLS 2.5.268)") {
    // Craft the SST so the uncompressed target string's 3-byte header lands
    // with exactly 4 bytes of room in the first fragment (needFrag(3+1)
    // passes, header leaves 1 byte, the 2-byte char spills) — the shape
    // where the continuation's flags byte precedes the first character.
    // Layout: head(8) + "id"(3+2) + "text"(3+4) + filler(3+L) must leave
    // room 4 of 8224, so L = 8197.
    val filler = "f" * 8197
    val target = "Ābc" // char >= 256 -> uncompressed (fHighByte=1)
    val df = Seq((1L, filler), (2L, target)).toDF("id", "text")
    val path = tempDir("xlsb") + "/b.xls"
    Xls.write(df, path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val stream = Xls.workbookStream(bytes)
    // verify the fixture really has the shape under test: the SST record's
    // data ends 3 bytes after the target header started (header written,
    // zero characters), and the CONTINUE record opens with flags byte 0x01
    var p = 0; var sstLen = -1; var contFirst = -1
    while (p + 4 <= stream.length) {
      val id = (stream(p) & 0xff) | ((stream(p + 1) & 0xff) << 8)
      val len = (stream(p + 2) & 0xff) | ((stream(p + 3) & 0xff) << 8)
      if (id == 0x00FC) sstLen = len
      else if (id == 0x003C && contFirst < 0) contFirst = stream(p + 4) & 0xff
      p += 4 + len
    }
    assert(sstLen == 8223, "target header must end the SST fragment")
    assert(contFirst == 1, "continuation must open with uncompressed flags")
    val back = Xls.read(spark, path).orderBy("id").collect()
    assert(back(0).getString(1) == filler)
    assert(back(1).getString(1) == target)
  }

  test("xls date cells surface as ISO strings; nulls and MULRK runs decode") {
    val df = Seq(
      (10L, 20L, Some(java.sql.Timestamp.valueOf("1998-10-03 00:00:00")), Some("a")),
      (11L, 21L, Some(java.sql.Timestamp.valueOf("2001-01-31 12:30:00")), None),
      (12L, 22L, None, Some("c"))
    ).toDF("k1", "k2", "ts", "s")
    val path = tempDir("xlsd") + "/d.xls"
    Xls.write(df, path)
    val back = Xls.read(spark, path).orderBy("k1").collect()
    // consecutive integer columns rode a MULRK record; dates come back
    // as ISO-8601 strings through the custom date FORMAT + XF
    assert(back.map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L))
    assert(back.map(_.getLong(1)).toSeq == Seq(20L, 21L, 22L))
    assert(back(0).getString(2) == "1998-10-03")
    assert(back(1).getString(2) == "2001-01-31 12:30:00")
    assert(back(2).isNullAt(2))
    assert(back(0).getString(3) == "a")
    assert(back(1).isNullAt(3))
    assert(back(2).getString(3) == "c")
  }

  test("RK encodings decode exactly: int, int/100, truncated double, double/100") {
    assert(Xls.decodeRk((1234 << 2) | 2) == 1234.0)
    assert(Xls.decodeRk((-1234 << 2) | 2) == -1234.0)
    assert(Xls.decodeRk((12345 << 2) | 3) == 123.45)
    // truncated double: top 30 bits of the IEEE layout, low 34 zero
    val bits = java.lang.Double.doubleToLongBits(360.0) // low bits all zero
    val rk = ((bits >>> 32).toInt & 0xFFFFFFFC)
    assert(Xls.decodeRk(rk) == 360.0)
    assert(Xls.decodeRk(rk | 1) == 3.6)
  }

  test("from_files dispatches .xls through the BIFF8 reader") {
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val dir = tempDir("xlsf")
    val path = s"$dir/t.xls"
    Xls.write(df, path)
    val layer = LayerWrapper.fromFiles(spark, path)
    assert(layer.name == "t")
    assert(layer.data.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("x", "y"))
  }
}
