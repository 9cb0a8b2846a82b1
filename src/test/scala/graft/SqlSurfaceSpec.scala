package graft

/** The pure-SQL surface: every engine kernel callable from spark.sql(). */
class SqlSurfaceSpec extends SparkSpec {

  test("registered SQL functions evaluate the engine kernels") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT bng_index_point(530000.0D, 180000.0D, 10000) AS ref,
        |       bng_cell_id(530000.0D, 180000.0D, 10000) AS cid,
        |       st_astext(st_point(1.0D, 2.0D)) AS wkt,
        |       token_count('hello world 42!') AS toks,
        |       lang_id('the quick brown fox is in the garden and it is raining') AS lang,
        |       simhash64('a b c') AS sh,
        |       h3_index_point(530000.0D, 180000.0D, 9) AS h3,
        |       s2_index_point(530000.0D, 180000.0D, 12) AS s2
        |""".stripMargin).head()
    assert(r.getString(0) == "TQ38")
    assert(r.getLong(1) == graft.index.Bng.cellId(530000, 180000, 10000))
    assert(r.getString(2) == "POINT (1 2)")
    assert(r.getLong(3) == 4)
    assert(r.getString(4) == "en")
    assert(graft.index.H3.resOf(r.getLong(6)) == 9)
    assert(graft.index.S2.level(r.getLong(7)) == 12)
  }

  test("round-2 kernels reachable from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos,
        |       simhash_md5_60('a b c') AS shm,
        |       st_geom_key(st_point(1.0D, 2.0D)) AS gk,
        |       size(bng_index_ids(st_geomfromtext(
        |         'POLYGON ((395000 395000, 415000 395000, 415000 405000, 395000 405000, 395000 395000))'),
        |         10000, 'intersects')) AS n_ids,
        |       size(bng_index_flags(st_geomfromtext(
        |         'POLYGON ((390000 390000, 410000 390000, 410000 400000, 390000 400000, 390000 390000))'),
        |         10000)) AS n_flags
        |""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) != 0L && (r.getLong(1) >>> 60) == 0L) // 60-bit
    assert(r.getLong(2) == graft.geo.StGeomKey(
      org.apache.spark.sql.catalyst.expressions.Literal(
        graft.geo.Wkb.write(graft.geo.Wkb.point(1, 2)))).eval(null))
    assert(r.getInt(3) == 6)
    assert(r.getInt(4) == 6) // grid-aligned 2x1: 2 contained + 4 touch cells
  }

  test("round-3 kernels reachable from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT s2_cell_lonlat(51.5D, -0.1D, 12) AS cell,
        |       rhp_sign(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)), 16, 1000) AS sig
        |""".stripMargin).head()
    assert(graft.index.S2.level(r.getLong(0)) == 12)
    assert(r.getLong(0) == graft.index.S2.cellId(51.5, -0.1, 12))
    // same key the Scala-side expression emits
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val viaCol = Seq(Tuple1(Array(0.5f, -0.25f))).toDF("v")
      .select(graft.ops.Dedup.rhp_sign(col("v"), 16, 1000L)).head().getLong(0)
    assert(r.getLong(1) == viaCol)
  }

  test("web-clean kernels reachable from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT repetition_signals('a b a b').n_words AS nw,
        |       repetition_signals('a b a b').dup_2gram_n AS d2,
        |       canonicalize_url('HTTPS://WWW.X.org:443/p/?b=1&a=2#z') AS u,
        |       scrub_pii('mail a@b.co now').scrubbed AS s,
        |       word_counts('x y x')[0].tf AS tf0
        |""".stripMargin).head()
    assert(r.getLong(0) == 4L)
    assert(r.getLong(1) == 1L)
    assert(r.getString(2) == "https://x.org/p?a=2&b=1")
    assert(r.getString(3) == "mail <EMAIL> now")
    assert(r.getLong(4) == 2L) // sorted by word: ("x",2) first
  }

  test("SQL spatial predicate + cell explode compose in a query") {
    GraftFunctions.register(spark)
    spark.sql(
      """SELECT explode(bng_index(st_geomfromtext('POLYGON ((395000 395000, 415000 395000, 415000 405000, 395000 405000, 395000 395000))'), 10000, 'intersects')) AS cell"""
    ).createOrReplaceTempView("cells")
    assert(spark.table("cells").count() == 6)
    val hit = spark.sql(
      """SELECT st_covers_point(
        |  st_geomfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
        |  5.0D, 5.0D) AS ok""".stripMargin).head().getBoolean(0)
    assert(hit)
  }

  test("extensions plugin installs without error") {
    val ext = new GraftExtensions
    ext.apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
