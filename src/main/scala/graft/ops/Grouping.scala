package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Category/substance regrouping, inventory addition, scaling, totals —
  * the reference's relational core (emiproc/inventories/utils.py).
  *
  * All of these are broadcast-join + hash-aggregate shapes: the mapping
  * tables are tiny dimensions (broadcast), the emission fact table is the
  * only big relation, and each operator costs at most one shuffle on the
  * (cell, cat, sub) grouping key.
  */
object Grouping {

  /** `emissions` joined to the broadcast group mapping `mapping` on
    * `axis`, with the group in column `group`. Mirrors the reference's
    * `validate_group` (emiproc/inventories/utils.py:91-117): every member
    * appears in exactly one group (checked here, on the mapping alone),
    * and — unless `ignoreMissing` — every value present in the data is
    * covered by the mapping (the reference raises on uncovered values
    * instead of silently dropping them through an inner join). The
    * coverage check rides in the grouping pass itself: a left join whose
    * filter raises `USER_RAISED_EXCEPTION` at the first action, naming
    * the first uncovered value it meets — no extra job decodes the input.
    * `ignoreMissing = true` keeps the inner join's drop semantics. */
  private def mapGroups(
      spark: SparkSession,
      emissions: DataFrame,
      axis: String,
      group: String,
      mapping: Map[String, Seq[String]],
      ignoreMissing: Boolean): DataFrame = {
    val flat = mapping.toSeq.flatMap { case (g, members) => members.map(m => (m, g)) }
    val dups = flat.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"${axis}s mapped to more than one group: ${dups.mkString(", ")}")
    val mapDf = broadcast(spark.createDataFrame(flat).toDF(axis, group))
    if (ignoreMissing) emissions.join(mapDf, Seq(axis))
    else emissions.join(mapDf, Seq(axis), "left")
      .where(assert_true(col(group).isNotNull,
        concat(lit(s"$axis present in data but not in any group (pass " +
          "ignoreMissing=true to drop it): "),
          coalesce(col(axis), lit("null")))).isNull)
  }

  /** Validate + apply a category partition mapping, then sum members —
    * reference `group_categories` (emiproc/inventories/utils.py:264-375,
    * validation :91-117: every category in exactly one group). */
  def groupCategories(
      spark: SparkSession,
      emissions: DataFrame,
      mapping: Map[String, Seq[String]],
      ignoreMissing: Boolean = false): DataFrame = {
    mapGroups(spark, emissions, "category", "cat_group", mapping, ignoreMissing)
      .groupBy(col("cell_id"), col("cat_group").as("category"), col("substance"))
      .agg(sum("value").as("value"))
      .select("cell_id", "category", "substance", "value")
  }

  /** Same on the substance axis — reference `group_substances`
    * (emiproc/inventories/utils.py:378-474). */
  def groupSubstances(
      spark: SparkSession,
      emissions: DataFrame,
      mapping: Map[String, Seq[String]],
      ignoreMissing: Boolean = false): DataFrame = {
    mapGroups(spark, emissions, "substance", "sub_group", mapping, ignoreMissing)
      .groupBy(col("cell_id"), col("category"), col("sub_group").as("substance"))
      .agg(sum("value").as("value"))
      .select("cell_id", "category", "substance", "value")
  }

  /** Sum two inventories on the same grid — reference `add_inventories`
    * (emiproc/inventories/utils.py:477-577): union + re-aggregate, the
    * full-outer-sum of the wide layout becomes a plain unionByName. */
  def addInventories(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("cell_id", "category", "substance")
      .agg(sum("value").as("value"))

  /** Scale selected (category, substance) pairs — reference
    * `scale_inventory` (emiproc/inventories/utils.py:631-684). Unmatched
    * pairs keep factor 1.0 (coalesce), matching the reference's "only
    * listed pairs change" contract. */
  def scale(
      spark: SparkSession,
      emissions: DataFrame,
      factors: Seq[(String, String, Double)]): DataFrame = {
    val dim = spark.createDataFrame(factors).toDF("category", "substance", "factor")
    emissions
      .join(broadcast(dim), Seq("category", "substance"), "left")
      .withColumn("value", col("value") * coalesce(col("factor"), lit(1.0)))
      .drop("factor")
  }

  /** Drop categories/substances — reference `drop`
    * (emiproc/inventories/utils.py:714-772); in long format a plain filter
    * that Catalyst pushes into the scan. */
  def drop(
      emissions: DataFrame,
      categories: Seq[String] = Nil,
      substances: Seq[String] = Nil): DataFrame = {
    val keep =
      (if (categories.isEmpty) lit(true) else !col("category").isin(categories: _*)) &&
        (if (substances.isEmpty) lit(true) else !col("substance").isin(substances: _*))
    emissions.where(keep)
  }

  /** Per-(substance, category) totals plus per-substance grand total —
    * reference `get_total_emissions` (emiproc/inventories/utils.py:580-628);
    * the `__total__` pseudo-category is a grouping set. */
  def totals(emissions: DataFrame): DataFrame = {
    // Two-level rollup WITHOUT groupingSets: the Expand node would
    // double every fact row before the partial aggregate (2× the CPU on
    // the only data-scale pass). Instead aggregate once to the
    // metadata-scale (substance, category) table — map-side combine
    // makes the shuffle tiny — and derive the per-substance level from
    // those 16-ish rows. Same result (sum is associative; gate
    // arithmetic is order-portable by design).
    val perPair = graft.Caching.cache(
      emissions.groupBy("substance", "category").agg(sum("value").as("total")))
    perPair
      .select("substance", "category", "total")
      .unionByName(perPair
        .groupBy("substance").agg(sum("total").as("total"))
        .select(col("substance"), lit("__total__").as("category"), col("total")))
  }

  /** Totals of a category-regrouped inventory WITHOUT materializing the
    * regrouped fact table: `totals(groupCategories(emi, m))` first
    * aggregates at (cell, group, substance) — a data-scale key set (the
    * 100M-row shuffle ScaleBench's B2 measures) — even though the rollup
    * only needs (substance, group). When the caller wants just the
    * report, fuse the two: broadcast-join the mapping and aggregate
    * straight to the metadata-scale keys, so map-side combine reduces
    * every partition to ≤ |groups × substances| rows before the one tiny
    * shuffle (ScaleBench B2b: ~1.5× faster on the same input — the
    * broadcast join + partial aggregate over the full fact table
    * dominates; what the fusion removes is the 100M-row shuffle, which
    * is also the part that hurts most on a real cluster's network).
    * Result rows equal `totals(groupCategories(...))` (sum is
    * associative; gate arithmetic is order-portable by design). */
  def groupedTotals(
      spark: SparkSession,
      emissions: DataFrame,
      mapping: Map[String, Seq[String]],
      ignoreMissing: Boolean = false): DataFrame = {
    // cached: the union below reads it twice, and without the cache the
    // second branch would re-scan the full fact table
    val perPair = graft.Caching.cache(
      mapGroups(spark, emissions, "category", "cat_group", mapping, ignoreMissing)
        .groupBy(col("substance"), col("cat_group").as("category"))
        .agg(sum("value").as("total")))
    perPair
      .select("substance", "category", "total")
      .unionByName(perPair
        .groupBy("substance").agg(sum("total").as("total"))
        .select(col("substance"), lit("__total__").as("category"), col("total")))
  }

  /** Conservation check — reference `total_emissions_almost_equal`
    * (emiproc/utilities.py:545-578): full-outer join of two total maps
    * and the relative difference per (category, substance). */
  def conservationDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val ta = a.groupBy("category", "substance").agg(sum("value").as("total_a"))
    val tb = b.groupBy("category", "substance").agg(sum("value").as("total_b"))
    ta.join(tb, Seq("category", "substance"), "full_outer")
      .select(
        col("category"), col("substance"),
        coalesce(col("total_a"), lit(0.0)).as("total_a"),
        coalesce(col("total_b"), lit(0.0)).as("total_b"),
        (coalesce(col("total_a"), lit(0.0)) - coalesce(col("total_b"), lit(0.0)))
          .as("abs_diff"))
  }
}
