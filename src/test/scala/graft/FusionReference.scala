package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.TopK
import graft.similarity.Similarity.dot

/** The relational query-scale tails: reciprocal-rank fusion as a per-leg
  * min-rank aggregate, a union, a (query, doc) aggregate and a per-query
  * top-k; the exact re-rank as two broadcast joins and a per-query
  * top-k. The hybrid and refine searches ran them this way before they
  * moved to the driver ([[graft.ops.RankFusion.fuse]] and
  * [[graft.similarity.Similarity.exactTopK]]). They stay here as the
  * reference PropertySpec pins the driver folds against, bit for bit. */
object FusionReference {

  /** Legs with columns (query_id, doc_id, rank) → (query_id, doc_id,
    * rank, rrf_nanos, legs_hit): each leg deduplicated to its minimum
    * rank per (query_id, doc_id), `round(1e9 / (rrfK + rank), 0)` cast
    * to long per leg, summed, rank ≤ k per query by (rrf_nanos desc,
    * doc_id asc). */
  def rrfFuse(legs: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    val contribs = legs.map(_.select(
      col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"),
      col("rank"))
      .groupBy("query_id", "doc_id").agg(min("rank").as("rank"))
      .select(col("query_id"), col("doc_id"),
        round(lit(1e9) / (lit(rrfK) + col("rank")), 0).cast("long")
          .as("contrib")))
    val fused = contribs.reduce(_.unionByName(_))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("rrf_nanos"),
        count(lit(1)).as("legs_hit"))
    TopK.perGroup(fused, Seq(col("query_id")),
        Seq(col("rrf_nanos").desc, col("doc_id")), k)
      .select("query_id", "doc_id", "rank", "rrf_nanos", "legs_hit")
  }

  /** The exact re-rank over (query_id, qv) queries, (query_id,
    * neighbor_id) candidates and (vec_id, v) vector rows: vectors inner-
    * joined to the broadcast candidates and queries, `round(dot(qv, cv)
    * / (sqrt(qn) · sqrt(cn)), 6)`, rank ≤ k per query by (cos_sim desc,
    * neighbor_id asc) → (query_id, neighbor_id, rank, cos_sim). */
  def exactTopK(queries: DataFrame, candidates: DataFrame, vecs: DataFrame,
      k: Int): DataFrame = {
    val qn = broadcast(queries.withColumn("qn", dot(col("qv"), col("qv"))))
    val exact = vecs
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
      .withColumn("cn", dot(col("cv"), col("cv")))
      .join(broadcast(candidates), "neighbor_id")
      .join(qn, "query_id")
      .withColumn("cos_sim",
        round(dot(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
    TopK.perGroup(exact, Seq(col("query_id")),
        Seq(col("cos_sim").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }
}
