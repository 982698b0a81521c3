package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Per-group top-k — the one implementation behind the library's
  * per-query top-k and per-key arg-max.
  *
  * Scale bound: for k ≤ `spark.sql.optimizer.windowGroupLimitThreshold`
  * (1000 by default) Spark plans a `Partial` `WindowGroupLimit` ahead of
  * the group-keyed exchange, so every map partition ships at most k rows
  * per group and the final sort of a group sees at most
  * k × (map partitions) rows — the local-top-k-then-merge scheme of
  * distributed top-k search. A group holding half the input cannot
  * funnel it into one task; no salting is needed on top.
  */
object TopK {

  /** The first k rows of each `keys` group under `order`, numbered
    * 1..min(k, group size) in the int column `rankCol` (a column of that
    * name in `df` is replaced). Results are deterministic only when
    * `order` is a total order within a group: end it with a unique id. */
  def perGroup(
      df: DataFrame,
      keys: Seq[Column],
      order: Seq[Column],
      k: Int,
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w)).where(col(rankCol) <= k)
  }
}
