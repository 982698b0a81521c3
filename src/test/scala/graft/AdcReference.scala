package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.similarity.Similarity
import graft.similarity.Similarity.dot

/** The relational ADC query stage: probes from a rounded-cosine top-k
  * window, lookup tables from an explode / broadcast-join /
  * `collect_list` fold. The searches built their probes and LUTs this
  * way before the stage moved to the driver
  * ([[graft.similarity.Similarity.probes]] and
  * [[graft.similarity.Similarity.luts]]). It stays here as the reference
  * PropertySpec pins the driver stage against, bit for bit.
  *
  * Below it, the relational ADC scan and top-k every search ran before
  * they moved into one job ([[graft.similarity.Similarity.ranked]]): the
  * lookup tables as a broadcast local relation joined to the codes on
  * `list_id`, an unrolled `element_at` sum, the spilled min-dedup and
  * [[graft.ops.TopK.perGroup]]. PropertySpec pins the kernel against
  * them. */
object AdcReference {

  /** `ann`'s codes rows scored for `queries` — (query_id, neighbor_id,
    * adc_dist), one row per (query, codes row) pair, before any
    * de-duplication: flat tables against every codes row, or per-probe
    * ones equi-joined on `list_id`. */
  def scan(ann: Similarity.Ann, queries: Seq[(Long, Array[Double])],
      nprobe: Int, excludeSelf: Boolean): DataFrame = {
    val (index, lut) = ann.coarse match {
      case None =>
        val index = ann.codes(Nil)
        (index, index.sparkSession.createDataFrame(queries.map {
          case (q, v) => (q, Similarity.luts(v, ann.book)) })
          .toDF("query_id", "luts"))
      case Some(cs) =>
        val rows =
          if (ann.residual) Similarity.residualLuts(queries, cs, ann.book, nprobe)
          else Similarity.probeLuts(queries, cs, ann.book, nprobe)
        val index = ann.codes(rows.map(_._2).distinct.sorted)
        (index, index.sparkSession.createDataFrame(rows)
          .toDF("query_id", "list_id", "luts"))
    }
    val joined = index.join(broadcast(lut),
      index.columns.intersect(lut.columns).toSeq)
    val kept =
      if (excludeSelf) joined.where(col("neighbor_id") =!= col("query_id"))
      else joined
    kept.select(col("query_id"), col("neighbor_id"),
      adcSum(ann.book.m, ann.divisor).as("adc_dist"))
  }

  /** [[scan]] with a spilled index's copies min-deduped to one row per
    * (query, neighbor). */
  def scored(ann: Similarity.Ann, queries: Seq[(Long, Array[Double])],
      nprobe: Int, excludeSelf: Boolean): DataFrame = {
    val s = scan(ann, queries, nprobe, excludeSelf)
    if (!ann.spilled) s
    else s.groupBy("query_id", "neighbor_id").agg(min("adc_dist").as("adc_dist"))
  }

  /** The m-term ADC estimate of a `codes` row against a `luts` row:
    * m positional lookups summed left to right, cast once to long. */
  def adcSum(m: Int, divisor: Int): Column =
    (0 until m).map { s =>
      element_at(
        element_at(col("luts"), s + 1),
        (element_at(col("codes"), s + 1) / divisor).cast("int") + 1)
    }.reduce(_ + _).cast("long")

  /** (adc_dist asc, neighbor_id asc) top-k per query of a scored
    * relation — (query_id, neighbor_id, rank, adc_dist). */
  def adcTopK(scored: DataFrame, k: Int): DataFrame =
    graft.ops.TopK.perGroup(scored, Seq(col("query_id")),
        Seq(col("adc_dist").asc, col("neighbor_id").asc), k)
      .select("query_id", "neighbor_id", "rank", "adc_dist")

  /** nprobe nearest coarse lists per query (query_id, list_id) over a
    * (query_id, v) relation and a (list_id, cv, cn) centroid relation:
    * `round(dot(v, cv) / (sqrt(n) · sqrt(cn)), 6)`, ordered (cos desc,
    * list_id), kept to rank ≤ nprobe. */
  def ivfProbesQ(qv: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val scored = qv
      .withColumn("n", dot(col("v"), col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("cos_sim",
        round(dot(col("v"), col("cv")) / (sqrt(col("n")) * sqrt(col("cn"))), 6))
    graft.ops.TopK.perGroup(scored, Seq(col("query_id")),
        Seq(col("cos_sim").desc, col("list_id")), nprobe)
      .select("query_id", "list_id")
  }

  /** Fold per-(group, sub, centroid) distances into nested positional
    * LUT arrays luts[s][ci], ci = `(centroid_id / centroidMod)` cast to
    * int. Input needs columns `sub`, `centroid_id`, `pd`. */
  def lutFold(
      pd: DataFrame, groupCols: Seq[String], centroidMod: Int): DataFrame =
    pd.withColumn("ci", (col("centroid_id") / centroidMod).cast("int"))
      .groupBy((groupCols :+ "sub").map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("ci"), col("pd")))),
        x => x.getField("pd")).as("subArr"))
      .groupBy(groupCols.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("subArr")))),
        x => x.getField("subArr")).as("luts"))

  /** Per-query LUTs (query_id, luts) from a (query_id, v) relation and
    * per-subspace book rows (sub, centroid_id, cs, cn), as
    * [[graft.similarity.Similarity.subspaceBooks]] cuts them. */
  def adcLutFrom(
      queries: DataFrame,
      books: DataFrame,
      m: Int,
      subDim: Int,
      centroidMod: Int): DataFrame = {
    val perEntry = queries
      .withColumn("sub", explode(lit((0 until m).toArray)))
      .withColumn("vs", slice(col("v"), col("sub") * subDim + 1, lit(subDim)))
      .withColumn("vn", dot(col("vs"), col("vs")))
      .join(broadcast(books), Seq("sub"))
      .select(col("query_id"), col("sub"), col("centroid_id"),
        (col("vn") - lit(2) * dot(col("vs"), col("cs")) + col("cn")).as("pd"))
    lutFold(perEntry, Seq("query_id"), centroidMod)
  }

  /** Residual IVF+PQ LUTs (query_id, list_id, luts): per (query, probed
    * list), the LUT of the query residual `zip_with(v, cv, -)` against
    * residual book rows (sub, centroid_id, cs, cn). */
  def residualLuts(
      qv: DataFrame,
      cents: DataFrame,
      books: DataFrame,
      m: Int,
      subDim: Int,
      centroidMod: Int,
      nprobe: Int): DataFrame = {
    val perEntry = ivfProbesQ(qv, cents, nprobe)
      .join(qv, "query_id")
      .join(broadcast(cents.select("list_id", "cv")), "list_id")
      .withColumn("qr", zip_with(col("v"), col("cv"), (a, b) => a - b))
      .withColumn("sub", explode(lit((0 until m).toArray)))
      .withColumn("vs", slice(col("qr"), col("sub") * subDim + 1, lit(subDim)))
      .withColumn("vn", dot(col("vs"), col("vs")))
      .join(broadcast(books), Seq("sub"))
      .select(col("query_id"), col("list_id"), col("sub"), col("centroid_id"),
        (col("vn") - lit(2) * dot(col("vs"), col("cs")) + col("cn")).as("pd"))
    lutFold(perEntry, Seq("query_id", "list_id"), centroidMod)
  }
}
