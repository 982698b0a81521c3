package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion of ranked retrieval legs — the standard way a
  * RAG / eval-retrieval pipeline combines lexical (BM25) and semantic
  * (embedding ANN) search over the same corpus (Cormack, Clarke &
  * Büttcher, SIGIR 2009: RRF(d) = Σ_legs 1/(K + rank_leg(d)), K = 60).
  *
  * No reference analogue (emiproc has no retrieval surface); this is
  * LLM-pipeline surface (SURVEY §2 M79) composing M41 (BM25) with M5/M70
  * (embedding kNN) — fusion is leg-agnostic, so the semantic leg can be
  * the exact `cosineTopK` baseline or the IVF+PQ scale path verbatim.
  *
  * Numeric design (the 1000-executor reproducibility contract): each
  * leg's contribution is quantized once per RANK to integer nano-units
  * (`round(1e9 / (K + rank))` — a single IEEE division both engines
  * round identically), so the fused score is an exact BIGINT sum,
  * order-independent across partitions and bit-replayable by DuckDB.
  *
  * Scale shape: each leg is already a top-k relation (≤ nQueries·kEach
  * rows — query-scale, NOT corpus-scale; the corpus work happened inside
  * the leg operators, which carry their own scale proofs). Fusion is a
  * unionByName + one groupBy on (query_id, doc_id) and a per-query
  * [[TopK.perGroup]] over ≤ legs·kEach candidates. The candidate count
  * is bounded by construction, and the helper's stated bound (at most k
  * rows per query from each map partition reach the final sort) holds
  * as well.
  */
object RankFusion {

  /** Fuse ranked legs, each with columns (query_id, doc_id, rank).
    *
    * Each leg is deduplicated to its BEST (minimum) rank per
    * (query_id, doc_id) before fusion, so a leg that returns the same
    * document twice (a caller passing a non-top-k relation) contributes
    * once — RRF's per-leg term is defined on the document's rank IN
    * that leg, and double-counting would silently inflate both the
    * fused score and `legs_hit` past the leg count. The dedup is a
    * query-scale aggregate (≤ the leg's own row count, never corpus
    * rows) and a no-op on well-formed top-k legs.
    *
    * @return (query_id, doc_id, rank, rrf_nanos, legs_hit) — rank ≤ k
    *         per query by (rrf_nanos desc, doc_id asc); `legs_hit` is
    *         how many legs returned the document (consensus signal). */
  def rrfFuse(legs: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    require(k >= 1 && rrfK >= 1, s"bad k=$k / rrfK=$rrfK")
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

  /** Hybrid lexical+semantic retrieval: BM25 over `docs` text fused with
    * exact-cosine kNN over `embeddings` (row i of `embeddings` is the
    * embedding of doc_id i; query embeddings are rows vec_id < max
    * query_id + 1, mirroring the kNN operators' query convention).
    * `kEach` bounds each leg's candidates; the fused top-k ≤ k. */
  /** Materialize a leg's top-k before fusion: legs are QUERY-scale
    * (≤ nQueries·kEach rows) but their lineage is corpus-scale, and
    * fusing two live corpus-scale plans in one query makes the executor
    * interleave both scans and re-derive shared intermediates — B44
    * measured the fused run at 1.65× the leg sum before this, ~1.0×
    * after. Registry-tracked persist + an eager count (NOT
    * localCheckpoint, which truncates lineage: a lost executor's
    * checkpoint blocks would abort the fused query unrecoverably,
    * where a persisted leg just recomputes) — the cached rows are
    * bounded by construction, never by data, and the harness-level
    * [[graft.Caching.release]] drops them after the result is
    * consumed. */
  private def materialized(leg: DataFrame): DataFrame = {
    val c = graft.Caching.cache(leg)
    c.count()
    c
  }

  /** [[materialized]] over BOTH legs CONCURRENTLY (guide §2.6 — overlap
    * independent jobs): the lexical and semantic legs share no state,
    * and each leaves executors idle in its scan tails and driver-side
    * planning, so materializing them from two driver threads lets one
    * leg's tasks back-fill the other's idle capacity. Results are
    * unchanged (the same two persisted relations, fused identically);
    * only the wall-clock overlap moves. */
  private def materializedAll(legs: Seq[DataFrame]): Seq[DataFrame] = {
    val cached = legs.map(graft.Caching.cache)
    // graft.Par.run, not a raw pool: it awaits BOTH legs before
    // rethrowing and unwraps ExecutionException, so a leg failure
    // surfaces as the leg's own loud require/SparkException (the
    // caller-visible error contract) and never propagates while the
    // other leg's count is still running.
    graft.Par.run(cached.map(c => () => { c.count(); () }): _*)
    cached
  }

  def hybridSearch(
      spark: SparkSession,
      docs: DataFrame,
      embeddings: DataFrame,
      queries: Seq[(Int, String)],
      kEach: Int = 10,
      k: Int = 5,
      rrfK: Int = 60): DataFrame = {
    require(queries.nonEmpty, "hybridSearch needs at least one query")
    require(queries.forall(_._1 >= 0), "query ids must be non-negative")
    val lex = graft.text.Bm25.search(spark, docs, queries, topK = kEach)
      .select(col("query_id"), col("doc_id"), col("rank"))
    // the query-id SET, not a vec_id prefix: a sparse set like {999999}
    // must cost |queries|·N, not max(id)·N
    val sem = graft.similarity.Similarity
      .cosineTopKIds(embeddings, queries.map(_._1.toLong), kEach)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(materializedAll(Seq(lex, sem)), k, rrfK)
  }

  /** [[hybridSearch]] with the IVF+PQ approximate semantic leg — the
    * 100 TB path: identical fusion, the ANN leg swaps in verbatim (the
    * leg-agnosticism [[rrfFuse]] exists for). Query ids must be the
    * contiguous prefix 0..n-1 (the IVF+PQ query convention). */
  def hybridSearchAnn(
      spark: SparkSession,
      docs: DataFrame,
      embeddings: DataFrame,
      queries: Seq[(Int, String)],
      kEach: Int = 10,
      k: Int = 5,
      rrfK: Int = 60,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      coarseMod: Int = 83,
      nprobe: Int = 2): DataFrame = {
    require(queries.map(_._1).sorted == queries.indices.toList,
      "ANN-leg hybrid needs query ids 0..n-1 (the vec_id prefix convention)")
    val lex = graft.text.Bm25.search(spark, docs, queries, topK = kEach)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = graft.similarity.Similarity
      .ivfPqSearch(embeddings, nQueries = queries.length, k = kEach,
        m, dims, centroidMod, coarseMod, nprobe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(materializedAll(Seq(lex, sem)), k, rrfK)
  }

  /** [[hybridSearchAnn]] with STANDALONE query embeddings — the
    * production form: `queryEmbeddings` is any (query_id, embedding)
    * relation carrying one row per entry of `queries` (matched by id),
    * so the query workload needs no presence in the corpus embeddings
    * table and no id-prefix convention. `excludeSelf` as in
    * [[graft.similarity.Similarity.ivfPqSearchPersistedQ]] — false (the
    * default) is the external-workload contract. */
  def hybridSearchAnnQ(
      spark: SparkSession,
      docs: DataFrame,
      embeddings: DataFrame,
      queries: Seq[(Int, String)],
      queryEmbeddings: DataFrame,
      kEach: Int = 10,
      k: Int = 5,
      rrfK: Int = 60,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      coarseMod: Int = 83,
      nprobe: Int = 2,
      excludeSelf: Boolean = false): DataFrame = {
    require(queries.nonEmpty, "hybridSearchAnnQ needs at least one query")
    val lex = graft.text.Bm25.search(spark, docs, queries, topK = kEach)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = graft.similarity.Similarity
      .ivfPqSearchQ(embeddings, queryEmbeddings, k = kEach,
        m, dims, centroidMod, coarseMod, nprobe, excludeSelf)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(materializedAll(Seq(lex, sem)), k, rrfK)
  }

  /** Hybrid retrieval served ENTIRELY from persisted artifacts — the
    * production serving stack: the lexical leg reads the
    * [[graft.text.Bm25.writeIndex]] inverted index at `bm25Dir` (scan
    * pruned to the query terms' postings), the semantic leg reads the
    * [[graft.similarity.Similarity.ivfPqWriteIndex]] /
    * `ivfPqWriteIndexTrained` index at `annDir` (scan pruned to the
    * probed lists), and fusion is the same query-scale [[rrfFuse]] —
    * neither the corpus text nor the corpus embeddings are ever read.
    * Legs are pinned equal to their in-plan forms by their own gates,
    * so this composition shares the in-plan hybrid's oracle
    * (q_hybrid_persisted). The semantic leg builds its query stage on
    * the driver (probes and ADC lookup tables from the cached index
    * metadata, see [[graft.similarity.Similarity.ivfPqSearchPersistedQ]]):
    * `queryEmbeddings` is collected once, and the leg adds one codes
    * scan and its top-k to the fused plan. */
  /** `rerankR` > 0 upgrades the semantic leg to the exact-refine
    * serving path ([[graft.similarity.Similarity.ivfPqRerankPersistedQ]]
    * — requires an index written with `storeVecs = true`): the leg's
    * top-`kEach` comes from exact cosine over the `rerankR` ADC
    * candidates instead of quantized ADC order, the IVFPQ+refine recall
    * a production retrieval stack serves with. 0 (default) keeps the
    * ADC-only leg. */
  def hybridSearchPersisted(
      spark: SparkSession,
      bm25Dir: String,
      annDir: String,
      queries: Seq[(Int, String)],
      queryEmbeddings: DataFrame,
      kEach: Int = 10,
      k: Int = 5,
      rrfK: Int = 60,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      nprobe: Int = 2,
      excludeSelf: Boolean = false,
      rerankR: Int = 0): DataFrame = {
    require(queries.nonEmpty, "hybridSearchPersisted needs >= 1 query")
    val lex = graft.text.Bm25
      .searchPersisted(spark, bm25Dir, queries, topK = kEach)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val sem = (if (rerankR > 0)
      graft.similarity.Similarity.ivfPqRerankPersistedQ(spark, annDir,
        queryEmbeddings, k = kEach, rerankR = rerankR, m, dims,
        centroidMod, nprobe, excludeSelf)
    else
      graft.similarity.Similarity.ivfPqSearchPersistedQ(spark, annDir,
        queryEmbeddings, k = kEach, m, dims, centroidMod, nprobe,
        excludeSelf))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(materializedAll(Seq(lex, sem)), k, rrfK)
  }
}
