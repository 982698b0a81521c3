package graft.ops

import scala.collection.mutable

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
  * the leg operators, which carry their own scale proofs). So the engine
  * runs only the legs: [[rrfFuse]] collects them concurrently and folds
  * them on the driver ([[fuse]], ≤ legs·nQueries·kEach rows), with the
  * engine's arithmetic unchanged, and returns a local relation. Nothing
  * is cached, and fusion adds no job beyond the legs' own. PropertySpec
  * pins [[fuse]] bit-equal to the relational fusion kept in src/test as
  * the reference.
  */
object RankFusion {

  /** Fuse ranked legs on the driver — the (query_id, doc_id, rank)
    * triples of each leg, in any order.
    *
    * Each leg is deduplicated to its BEST (minimum) rank per
    * (query_id, doc_id) before fusion, so a leg that returns the same
    * document twice (a caller passing a non-top-k relation) contributes
    * once — RRF's per-leg term is defined on the document's rank IN
    * that leg, and double-counting would silently inflate both the
    * fused score and `legs_hit` past the leg count.
    *
    * A leg's contribution is `round(1e9 / (rrfK + rank), 0)` — Spark's
    * double `round` (HALF_UP on the shortest decimal form) — cast to
    * long; the fused score is the exact long sum of those.
    *
    * @return (query_id, doc_id, rank, rrf_nanos, legs_hit) — rank ≤ k
    *         per query by (rrf_nanos desc, doc_id asc), by query then
    *         rank; `legs_hit` is how many legs returned the document
    *         (consensus signal). */
  def fuse(legs: Seq[Array[(Long, Long, Long)]], k: Int,
      rrfK: Int): IndexedSeq[(Long, Long, Int, Long, Long)] = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    require(k >= 1 && rrfK >= 1, s"bad k=$k / rrfK=$rrfK")
    val fused = mutable.HashMap.empty[(Long, Long), (Long, Long)]
    legs.foreach { leg =>
      val best = mutable.HashMap.empty[(Long, Long), Long]
      leg.foreach { case (q, d, r) =>
        best.update((q, d), best.get((q, d)).fold(r)(math.min(_, r)))
      }
      best.foreach { case (key, r) =>
        val c = contribution(r, rrfK)
        fused.update(key, fused.get(key).fold((c, 1L)) { case (s, h) =>
          (Math.addExact(s, c), h + 1) })
      }
    }
    fused.toIndexedSeq.groupBy(_._1._1).toIndexedSeq.sortBy(_._1)
      .flatMap { case (q, rows) =>
        rows.map { case ((_, d), (s, h)) => (d, s, h) }
          .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else a._1 < b._1)
          .take(k).zipWithIndex
          .map { case ((d, s, h), i) => (q, d, i + 1, s, h) }
      }
  }

  /** One leg's term for a document at `rank`: `1e9 / (rrfK + rank)` as
    * one IEEE division, rounded to 0 places as Spark rounds a double,
    * then cast to long. A zero divisor throws, as ANSI DIVIDE_BY_ZERO
    * does. */
  private def contribution(rank: Long, rrfK: Int): Long = {
    val d = rrfK + rank
    if (d == 0L) throw new ArithmeticException(
      s"[DIVIDE_BY_ZERO] rank $rank with rrfK $rrfK in RRF fusion")
    java.math.BigDecimal.valueOf(1e9 / d.toDouble)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** Fuse ranked legs, each with columns (query_id, doc_id, rank): the
    * legs are collected concurrently ([[graft.Par.run]] — one leg's
    * tasks back-fill the executors the other leaves idle in its scan
    * tails and planning), evaluated once at call time, and fused on the
    * driver by [[fuse]]. A null query_id, doc_id or rank fails, naming
    * the leg and the column.
    *
    * @return a local relation (query_id long, doc_id long, rank int,
    *         rrf_nanos long, legs_hit long) — see [[fuse]]. */
  def rrfFuse(legs: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame =
    fuseLegs(legs.map(leg => () => leg), k, rrfK)

  /** [[rrfFuse]] over legs still to be built: each thunk builds its leg
    * AND collects it on its own [[graft.Par.run]] thread, so a leg that
    * does work at call time (an ANN leg collects its queries; a re-rank
    * leg runs its ADC jobs, its vector fetch and its driver re-rank)
    * overlaps the other legs instead of running before them. Every
    * hybrid search fuses through it. */
  private[graft] def fuseLegs(legs: Seq[() => DataFrame], k: Int,
      rrfK: Int): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    require(k >= 1 && rrfK >= 1, s"bad k=$k / rrfK=$rrfK")
    val built = new Array[DataFrame](legs.length)
    val rows = new Array[Array[(Long, Long, Long)]](legs.length)
    graft.Par.run(legs.indices.map(i => () => {
      built(i) = legs(i)()
      rows(i) = legRows(built(i), i)
    }): _*)
    built.head.sparkSession.createDataFrame(fuse(rows.toSeq, k, rrfK))
      .toDF("query_id", "doc_id", "rank", "rrf_nanos", "legs_hit")
  }

  private val legCols = Seq("query_id", "doc_id", "rank")

  /** Leg `i`'s (query_id, doc_id, rank) rows, collected. */
  private def legRows(leg: DataFrame, i: Int): Array[(Long, Long, Long)] =
    leg.select(legCols.map(c => col(c).cast("long")): _*).collect().map { r =>
      legCols.indices.foreach(j =>
        require(!r.isNullAt(j), s"rrfFuse leg $i has a null ${legCols(j)}"))
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

  /** Hybrid lexical+semantic retrieval: BM25 over `docs` text fused with
    * exact-cosine kNN over `embeddings` (row i of `embeddings` is the
    * embedding of doc_id i; query embeddings are rows vec_id < max
    * query_id + 1, mirroring the kNN operators' query convention).
    * `kEach` bounds each leg's candidates; the fused top-k ≤ k. */
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
    // the query-id SET, not a vec_id prefix: a sparse set like {999999}
    // must cost |queries|·N, not max(id)·N
    fuseLegs(Seq(lexLeg(spark, docs, queries, kEach), () => semLeg(
      graft.similarity.Similarity
        .cosineTopKIds(embeddings, queries.map(_._1.toLong), kEach))), k, rrfK)
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
    fuseLegs(Seq(lexLeg(spark, docs, queries, kEach), () => semLeg(
      graft.similarity.Similarity.ivfPqSearch(embeddings,
        nQueries = queries.length, k = kEach, m, dims, centroidMod,
        coarseMod, nprobe))), k, rrfK)
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
    fuseLegs(Seq(lexLeg(spark, docs, queries, kEach), () => semLeg(
      graft.similarity.Similarity.ivfPqSearchQ(embeddings, queryEmbeddings,
        k = kEach, m, dims, centroidMod, coarseMod, nprobe, excludeSelf))),
      k, rrfK)
  }

  /** Hybrid retrieval served ENTIRELY from persisted artifacts — the
    * production serving stack: the lexical leg reads the
    * [[graft.text.Bm25.writeIndex]] inverted index at `bm25Dir` (scan
    * pruned to the query terms' postings), the semantic leg reads the
    * [[graft.similarity.Similarity.ivfPqWriteIndex]] /
    * `ivfPqWriteIndexTrained` index at `annDir` (scan pruned to the
    * probed lists) — neither the corpus text nor the corpus embeddings
    * are ever read. Legs are pinned equal to their in-plan forms by
    * their own gates, so this composition shares the in-plan hybrid's
    * oracle (q_hybrid_persisted).
    *
    * The engine runs the two legs' scans and nothing else: the
    * lexical leg scores its pruned postings on the driver
    * ([[graft.text.Bm25.searchPersisted]], one job), the semantic leg
    * builds its query stage on the driver (probes and ADC
    * lookup tables from the cached index metadata, see
    * [[graft.similarity.Similarity.ivfPqSearchPersistedQ]];
    * `queryEmbeddings` is collected once), and both legs are built and
    * collected concurrently ([[fuseLegs]]) and folded on the driver. The
    * result is a local relation; nothing is cached.
    *
    * `rerankR` > 0 upgrades the semantic leg to the exact-refine
    * serving path ([[graft.similarity.Similarity.ivfPqRerankPersistedQ]]
    * — requires an index written with `storeVecs = true`): the leg's
    * top-`kEach` comes from exact cosine over the `rerankR` ADC
    * candidates instead of quantized ADC order, the IVFPQ+refine recall
    * a production retrieval stack serves with; its re-rank runs on the
    * driver too. 0 (default) keeps the ADC-only leg. */
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
    fuseLegs(Seq(
      () => graft.text.Bm25
        .searchPersisted(spark, bm25Dir, queries, topK = kEach)
        .select(col("query_id"), col("doc_id"), col("rank")),
      () => semLeg(if (rerankR > 0)
        graft.similarity.Similarity.ivfPqRerankPersistedQ(spark, annDir,
          queryEmbeddings, k = kEach, rerankR = rerankR, m, dims,
          centroidMod, nprobe, excludeSelf)
      else
        graft.similarity.Similarity.ivfPqSearchPersistedQ(spark, annDir,
          queryEmbeddings, k = kEach, m, dims, centroidMod, nprobe,
          excludeSelf))), k, rrfK)
  }

  /** The in-plan BM25 leg, to be built on its fusion thread. */
  private def lexLeg(spark: SparkSession, docs: DataFrame,
      queries: Seq[(Int, String)], kEach: Int): () => DataFrame = () =>
    graft.text.Bm25.search(spark, docs, queries, topK = kEach)
      .select(col("query_id"), col("doc_id"), col("rank"))

  /** A kNN result as a fusion leg: neighbor_id is the doc_id. */
  private def semLeg(knn: DataFrame): DataFrame =
    knn.select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
}
