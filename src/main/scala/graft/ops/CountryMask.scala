package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.RegularGrid

/** Cell → region assignment by dominant overlap — the reference's
  * `get_country_mask` / `get_timezone_mask` (emiproc/utilities.py:317-531,
  * :205-260): each cell gets the region with the largest intersected area;
  * ties and ordering made deterministic by (weight DESC, region ASC).
  *
  * For axis-aligned region bands/boxes on a regular grid the overlap is
  * closed-form arithmetic; the region table is tiny → broadcast nested-loop
  * join, then one window (or max_by) per cell. At scale this is a narrow
  * map + single aggregate over ncells — no data-size shuffle.
  */
object CountryMask {

  /** Regions as 2-D boxes `(country, bxmin, bymin, bxmax, bymax)` —
    * the general axis-aligned form of [[bandMask]]: per-cell overlap area
    * via the closed-form box intersection, argmax (or fractions). */
  def boxMask(
      spark: SparkSession,
      grid: RegularGrid,
      boxes: Seq[(String, Double, Double, Double, Double)],
      fractions: Boolean = false): DataFrame = {
    val boxDf = spark.createDataFrame(boxes)
      .toDF("country", "bxmin", "bymin", "bxmax", "bymax")
    val cells = grid.cells(spark)
    val ovx = least(col("xmax"), col("bxmax")) - greatest(col("xmin"), col("bxmin"))
    val ovy = least(col("ymax"), col("bymax")) - greatest(col("ymin"), col("bymin"))
    val overlaps = cells
      .crossJoin(broadcast(boxDf))
      .withColumn("w", ovx * ovy)
      .where(ovx > 0 && ovy > 0)
    if (fractions)
      overlaps.select(col("cell_id"), col("country"),
        (col("w") / grid.cellArea).as("fraction"))
    else dominant(overlaps, col("w"))
  }

  /** Regions as y-bands `(country, bymin, bymax)`; returns the argmax-area
    * `(cell_id, country)` mask. `fractions = true` instead returns the full
    * `(cell_id, country, fraction)` table (reference's
    * `return_fractions=True` path, emiproc/utilities.py:505-514). */
  def bandMask(
      spark: SparkSession,
      grid: RegularGrid,
      bands: Seq[(String, Double, Double)],
      fractions: Boolean = false): DataFrame = {
    val bandDf = spark.createDataFrame(bands).toDF("country", "bymin", "bymax")
    val cells = grid.cells(spark).select(col("cell_id"), col("ymin"), col("ymax"))
    val ov = least(col("ymax"), col("bymax")) - greatest(col("ymin"), col("bymin"))
    val overlaps = cells
      .crossJoin(broadcast(bandDf))
      .withColumn("w", ov)
      .where(col("w") > 0)
    if (fractions)
      overlaps.select(col("cell_id"), col("country"), (col("w") / grid.dy).as("fraction"))
    else dominant(overlaps, col("w"))
  }

  /** Per-cell argmax of `weight` with the (weight DESC, country ASC)
    * tie-break: the `(cell_id, country)` mask of an overlap table. */
  private[ops] def dominant(overlaps: DataFrame, weight: Column): DataFrame =
    TopK.perGroup(overlaps, Seq(col("cell_id")), Seq(weight.desc, col("country").asc), 1)
      .select("cell_id", "country")
}
