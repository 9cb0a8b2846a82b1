package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Temp directories for a suite: each one [[tempDir]] makes is deleted
  * with everything in it when the running test ends (pass or fail).
  */
trait TempDirs extends AnyFunSuite {
  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp directory, deleted when the running test ends. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs += dir
    dir.toString
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      tempDirs.foreach { dir =>
        val tree = Files.walk(dir)
        try tree.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally tree.close()
      }
      tempDirs.clear()
    }
}

/** Shared local session for all suites (getOrCreate reuses one JVM-wide
  * session, so suites don't pay startup each).
  */
trait SparkSpec extends TempDirs {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf0: String = "/root/testdata/sf0.001"

  /** Row-set equality helper (schema-name + sorted-row comparison) — the
    * chispa `assert_df_equality` equivalent (SURVEY.md §5).
    */
  def assertSameRows(got: org.apache.spark.sql.DataFrame,
      exp: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.columns.sorted.toSeq == exp.columns.sorted.toSeq,
      s"columns differ: ${got.columns.toSeq} vs ${exp.columns.toSeq}")
    val cols = got.columns.sorted.map(org.apache.spark.sql.functions.col).toSeq
    val g = got.select(cols: _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    val e = exp.select(cols: _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(g.length == e.length, s"row counts differ: ${g.length} vs ${e.length}")
    g.zip(e).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"row $i differs: $a vs $b")
    }
  }
}
