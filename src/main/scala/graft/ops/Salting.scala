package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew handling by salting hot cells (north-rule: "skew
  * handled by salted repartitioning on hot H3 cells").
  *
  * At web scale the cell distribution is Zipfian — a handful of cells
  * (dense urban squares) hold orders of magnitude more rows than the
  * median. AQE's skew-join splitting only fires inside sort-merge joins;
  * per-cell aggregation and the ordered tile burn need a salt on the key
  * before their shuffle, which [[withSalt]] attaches:
  *
  *   1. PRE-PASS: aggregate per-cell counts (one cheap map-side-combined
  *      shuffle of (cell, count) pairs, tiny output).
  *   2. SALT FACTOR: cells whose count exceeds `targetRowsPerTask` get a
  *      salt factor ceil(count / target), broadcast as a tiny map.
  *   3. SALTED KEY: cell#salt with salt = 1 + pmod(hash(entropy), factor)
  *      for hot cells, so they fan out to `factor` tasks; rows in cold
  *      cells keep salt 0, which also tells a task its cell is cold.
  *
  * The salted key is ONLY a partitioning key: per-cell results are
  * re-merged downstream (counts re-aggregate in [[saltedCount]];
  * `RasterPipeline.toTileStore` shuffles on (tile, salt) and merges a
  * hot tile's sparse ordered partials), so output equals the unsalted
  * plan (OpsSpec's salted-count test, q33, and the ordered-burn tests of
  * ResumeSaltMetricsSpec and RasterStoreSpec).
  */
object Salting {

  /** Per-cell counts — the hot-cell pre-pass. */
  def cellCounts(df: DataFrame, cellCol: String): DataFrame =
    df.groupBy(col(cellCol)).agg(count(lit(1)).as("__cnt__"))

  /** Attach a `__salt__` column: 0 for cold cells, 1..factor for hot. */
  def withSalt(df: DataFrame, cellCol: String, saltEntropyCol: String,
      targetRowsPerTask: Long): DataFrame = {
    val factors = cellCounts(df, cellCol)
      .filter(col("__cnt__") > targetRowsPerTask)
      .withColumn("__factor__",
        ceil(col("__cnt__") / targetRowsPerTask).cast("int"))
      .drop("__cnt__")
    df.join(broadcast(factors), Seq(cellCol), "left")
      .withColumn("__salt__",
        when(col("__factor__").isNull, lit(0))
          .otherwise(pmod(hash(col(saltEntropyCol)), col("__factor__")) + 1))
      .drop("__factor__")
  }

  /** Two-phase salted aggregation: partial agg on (cell, salt), final agg
    * on cell. Result rows equal a direct groupBy(cell).agg(...) — skew is
    * absorbed in phase 1.
    */
  def saltedCount(df: DataFrame, cellCol: String, saltEntropyCol: String,
      targetRowsPerTask: Long): DataFrame = {
    withSalt(df, cellCol, saltEntropyCol, targetRowsPerTask)
      .groupBy(col(cellCol), col("__salt__"))
      .agg(count(lit(1)).as("__partial__"))
      .groupBy(col(cellCol))
      .agg(sum(col("__partial__")).as("n"))
  }
}
