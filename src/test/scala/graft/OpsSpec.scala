package graft

import graft.ops.{Categorize, Salting}
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  // Reference operator-golden frame (tests/fixtures/dataframe/call_method.py:17-47).
  private lazy val base = Seq(("x", 1, 4, 7), ("x", 2, 5, 8), ("y", 3, 6, 9))
    .toDF("category", "a", "b", "c")

  test("join golden (call_method.py:158-187)") {
    val other = Seq((1, 10, 13), (2, 11, 14), (3, 12, 15)).toDF("a", "d", "e")
    val got = base.join(other, Seq("a"))
    val exp = Seq((1, "x", 4, 7, 10, 13), (2, "x", 5, 8, 11, 14), (3, "y", 6, 9, 12, 15))
      .toDF("a", "category", "b", "c", "d", "e")
    assertSameRows(got, exp)
  }

  test("groupBy avg golden (call_method.py:190-219)") {
    val got = base.groupBy("category").avg()
    val exp = Seq(("x", 1.5, 4.5, 7.5), ("y", 3.0, 6.0, 9.0))
      .toDF("category", "avg(a)", "avg(b)", "avg(c)")
    assertSameRows(got, exp)
  }

  test("limit / select / filter pass-through surface") {
    assert(base.limit(2).count() == 2)
    assert(base.select("a", "b").columns.toSeq == Seq("a", "b"))
    assert(base.filter("category != 'x'").count() == 1)
    assert(base.filter("a = 1 or c LIKE '%9'").count() == 2)
  }

  test("categorize: dense sorted codes + lookup recode, immutable") {
    val df = Seq((0L, "grassland"), (1L, "woodland"), (2L, "wetland"),
      (3L, "grassland")).toDF("id", "land_cover")
    val (coded, lookups) = Categorize.categorize(df, Seq("land_cover"))
    // sorted order: grassland 0, wetland 1, woodland 2
    assert(lookups("land_cover") ==
      Map("grassland" -> 0d, "wetland" -> 1d, "woodland" -> 2d))
    val got = coded.select("id", "land_cover").as[(Long, Double)].collect().toMap
    assert(got == Map(0L -> 0d, 1L -> 2d, 2L -> 1d, 3L -> 0d))
    // original untouched (immutability)
    assert(df.schema("land_cover").dataType.typeName == "string")
  }

  test("categorize with user-supplied lookup (dataframe.py:305-312)") {
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    val (coded, lookups) = Categorize.categorize(df, Seq("k"),
      Map("k" -> Map("a" -> 7d, "b" -> 9d)))
    assert(lookups("k") == Map("a" -> 7d, "b" -> 9d))
    assert(coded.select("k").as[Double].collect().sorted.toSeq == Seq(7d, 9d))
  }

  test("salted count equals plain groupBy count (skew correctness)") {
    // Zipf-ish: key 'hot' holds 90% of rows.
    val rows = (0 until 5000).map { i =>
      (if (i % 10 == 0) s"cold${i % 97}" else "hot", i.toLong)
    }
    val df = rows.toDF("cell", "id")
    val plain = df.groupBy("cell").count().withColumnRenamed("count", "n")
    val salted = Salting.saltedCount(df, "cell", "id", targetRowsPerTask = 100)
    assertSameRows(salted, plain)
  }

  test("downcast: numeric columns cast to minimal types (reference _table.py:33-66)") {
    val df = Seq((1L, 200L, 70000L, 3000000000L, 1.5, 2.0))
      .toDF("tiny", "small", "mid", "big", "fracF", "fracWide")
    val out = graft.ops.Downcast.minimize(df)
    val types = out.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("tiny") == "byte")
    assert(types("small") == "short")
    assert(types("mid") == "integer")
    assert(types("big") == "long")
    assert(types("fracF") == "float")
    // values preserved
    assert(out.head().getByte(0) == 1.toByte && out.head().getLong(3) == 3000000000L)
  }
}
