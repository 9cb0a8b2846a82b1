package graft

import java.nio.file.Files

/** Catalogue queries against their `oracleSql`, run in in-process DuckDB
  * over the same sf0.001 parquet tables, compared the way `Verify`'s
  * parquet dump is checked against DuckDB: the Spark result is written to
  * parquet and read back through DuckDB, then both sides get sorted
  * column names, sorted rows and exact values (integer vs floating
  * widths are not compared, as with pandas `check_dtype=False`).
  *
  * [[Queries]] is the list checked in this suite; widening it to every
  * `SparkEntry.oracleSql` entry is a one-line change.
  */
class OracleSpec extends SparkSpec {

  /** The raster read-back family: tile store round trip (q35), store
    * resample (q42), resumed store write (q65) and GeoTIFF cells (q71).
    */
  val Queries: Seq[String] =
    Seq("q35_vectorize", "q42_resample", "q65_resume", "q71_tiff_raster")

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val duck: java.sql.Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    val c = java.sql.DriverManager.getConnection("jdbc:duckdb:")
    val st = c.createStatement()
    try Tables.foreach(t =>
      st.execute(s"CREATE VIEW $t AS SELECT * FROM read_parquet('$sf0/$t.parquet')"))
    finally st.close()
    c
  }

  /** Values as pandas compares them: numbers by value (HUGEINT, BIGINT,
    * INTEGER and DECIMAL alike; FLOAT widened exactly to DOUBLE), NaN
    * equal to NaN, byte arrays by content.
    */
  private def norm(v: Any): Any = v match {
    case null => None
    case d: Double if d.isNaN => "NaN"
    case f: Float if f.isNaN => "NaN"
    case f: Float => f.toDouble
    case b: java.math.BigInteger => BigInt(b)
    case b: java.math.BigDecimal => b.doubleValue
    case b: Array[Byte] => b.toSeq
    case b: java.sql.Blob => b.getBytes(1, b.length.toInt).toSeq
    case other => other
  }

  /** Column names and rows (columns in name order) of a DuckDB query. */
  private def rows(sql: String): (Seq[String], Seq[Seq[Any]]) = {
    val st = duck.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val md = rs.getMetaData
      val names = (1 to md.getColumnCount).map(md.getColumnLabel)
      val order = names.zipWithIndex.sortBy(_._1).map(_._2 + 1)
      val out = Seq.newBuilder[Seq[Any]]
      while (rs.next()) out += order.map(i => norm(rs.getObject(i)))
      (names.sorted, out.result())
    } finally st.close()
  }

  private def counts(rs: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rs.groupBy(identity).map { case (k, v) => k -> v.size }

  Queries.foreach { name =>
    test(s"$name matches its oracleSql in DuckDB") {
      val out = Files.createTempDirectory(s"oracle-$name").toString
      SparkEntry.queries(name)(spark, sf0).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      val (gotCols, got) = rows(s"SELECT * FROM read_parquet('$out/$name/*.parquet')")
      val (expCols, exp) = rows(SparkEntry.oracleSql(name))
      assert(gotCols == expCols, "column names differ")
      assert(got.nonEmpty, "empty result")
      val (g, e) = (counts(got), counts(exp))
      val extra = (g.keySet -- e.keySet).take(3)
      val missing = (e.keySet -- g.keySet).take(3)
      assert(g == e, s"${got.size} rows vs ${exp.size} expected; " +
        s"only in Spark: $extra; only in oracle: $missing")
    }
  }
}
