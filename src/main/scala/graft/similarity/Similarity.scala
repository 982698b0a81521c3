package graft.similarity

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{DotProductExpr, IvfTopListsExpr}

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, sign-random-projection
  * LSH bucketing and an IVF-style centroid assignment as the scale paths.
  *
  * Numeric design: embeddings are quantized to integer-valued doubles
  * (round(x·1000)) FIRST, so every dot product is a sum of exact integers
  * (< 2^53) — order-independent, hence identical across engines and
  * across Spark's nondeterministic aggregation orders. Only the final
  * cosine division/sqrt touches real floating point, on identical
  * operands. All kernels are builtin higher-order functions
  * (zip_with/aggregate) — no UDFs.
  */
object Similarity {

  /** Quantize an Array[Float] column to integer-valued doubles. */
  def quantize(emb: Column, scale: Int = 1000): Column =
    transform(emb, x => round(x.cast("double") * scale, 0))

  /** Exact dot product of two quantized vectors — native codegen'd
    * kernel ([[graft.functions.DotProductExpr]]); index-order summation
    * identical to the previous higher-order fold, so results (and gate
    * hashes) are unchanged while the per-pair cost drops out of
    * interpreted lambda land. */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProductExpr.col(a, b)

  /** Brute-force cosine top-k: queries (vec_id < nQueries) are broadcast
    * against all candidates; rank with a deterministic
    * (cos desc, neighbor_id) tie-break AFTER rounding to 6 dp, so ranking
    * is reproducible across engines. O(nQueries·N) — the exact baseline;
    * use [[signBuckets]] or [[ivfAssign]] to restrict candidates at scale. */
  def cosineTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame =
    cosineTopKWhere(embeddings, col("vec_id") < nQueries, k)

  /** [[cosineTopK]] for an explicit query-id set: the query side is
    * `embeddings` filtered to `queryIds`, so cost is |queryIds|·N no
    * matter how large the ids are (a sparse set like {999999} must NOT
    * pay for the whole prefix below its maximum). */
  def cosineTopKIds(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    require(queryIds.nonEmpty, "cosineTopKIds needs at least one query id")
    cosineTopKWhere(embeddings, col("vec_id").isInCollection(queryIds), k)
  }

  private def cosineTopKWhere(
      embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q = embeddings
      .where(queryPred)
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .withColumn("qn", dot(col("qv"), col("qv")))
    val c = embeddings
      .select(col("vec_id").as("neighbor_id"), quantize(col("embedding")).as("cv"))
      .withColumn("cn", dot(col("cv"), col("cv")))
    val scored = c
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(dot(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
    cosTopK(scored, k)
  }

  /** Sign-random-projection LSH: `bits` pseudo-random ±1 hyperplanes
    * (s_ij from a fixed arithmetic pattern — portable, no RNG state);
    * bucket = bitmask of projection signs. Vectors in the same bucket are
    * near-duplicate candidates. Two bounded shuffles. */
  def signBuckets(spark: SparkSession, embeddings: DataFrame, bits: Int = 6): DataFrame = {
    val bitsDf = spark.createDataFrame(
      Seq.tabulate(bits)(j => (j, 1L << j))).toDF("j", "p2")
    val expl = embeddings
      .select(col("vec_id"), posexplode(quantize(col("embedding"))))
      .withColumnRenamed("pos", "i")
      .withColumnRenamed("col", "x")
    expl
      .crossJoin(broadcast(bitsDf))
      .withColumn("s",
        when(((col("i") * 131 + col("j") * 137) % 97) % 2 === 0, 1).otherwise(-1))
      .groupBy("vec_id", "j", "p2")
      .agg(sum(col("s") * col("x")).as("proj"))
      .groupBy("vec_id")
      .agg(sum(when(col("proj") > 0, col("p2")).otherwise(0L)).as("bucket"))
  }

  /** LSH-bucketed near-duplicate pairs: exact cosine, but only within a
    * bucket — the candidate join is keyed by bucket id, so fan-out is
    * bucket occupancy, not N². Approximate by construction (a true pair
    * split across buckets is missed — raise bits/bands for recall). */
  def nearDupPairs(
      spark: SparkSession,
      embeddings: DataFrame,
      threshold: Double,
      bits: Int = 6): DataFrame = {
    // persisted: both sides of the bucket self-join read this subtree
    // (registered with graft.Caching — harness unpersists after use)
    val withB = graft.Caching.cache(embeddings
      .join(signBuckets(spark, embeddings, bits), "vec_id")
      .select(col("vec_id"), col("bucket"), quantize(col("embedding")).as("v"))
      .withColumn("n", dot(col("v"), col("v"))))
    withB.as("a")
      .join(withB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim",
        round(dot(col("a.v"), col("b.v")) /
          (sqrt(col("a.n")) * sqrt(col("b.n"))), 6))
      .where(col("cos_sim") >= threshold)
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos_sim"))
  }

  /** BANDED sign-random-projection LSH — the 100 TB form of
    * [[signBuckets]]: `bands × rowBits` hyperplanes, one bucket key per
    * band from that band's `rowBits` projection signs. A fixed-width
    * single code (the plain `signBuckets(bits)`) has 2^bits buckets
    * TOTAL, so occupancy (and the bucket self-join) grows linearly with
    * corpus size; banding keeps per-band keys small enough to match
    * (recall ≈ 1-(1-s^rowBits)^bands for sign-agreement rate s) while
    * the `maxBucketSize` cap bounds any degenerate bucket — the same
    * guard as [[graft.dedup.Dedup.lshCandidatePairs]]. Output:
    * `(vec_id, band, bucket)` — one row per band.
    *
    * Dimensionality note (measured in ScaleBench B26): the ±1
    * hyperplane normals are mutually correlated at low dims (typical
    * overlap ~1/√d — ~0.18 at d = 32), which CONCENTRATES bucket
    * occupancy well below the 2^rowBits ideal; at d = 32 the densest
    * natural bucket holds ~6% of a uniform corpus. Real embedding dims
    * (≥ 128) spread far better (overlap ≤ 0.09). At low dims pair
    * `maxBucketSize` with verification, and size caps from measured
    * occupancy, not from 2^rowBits. */
  def signBucketsBanded(
      spark: SparkSession,
      embeddings: DataFrame,
      bands: Int = 4,
      rowBits: Int = 4): DataFrame = {
    val bits = bands * rowBits
    val bitsDf = spark.createDataFrame(
      Seq.tabulate(bits)(j => (j, j / rowBits, 1L << (j % rowBits))))
      .toDF("j", "band", "p2")
    val expl = embeddings
      .select(col("vec_id"), posexplode(quantize(col("embedding"))))
      .withColumnRenamed("pos", "i")
      .withColumnRenamed("col", "x")
    expl
      .crossJoin(broadcast(bitsDf))
      .withColumn("s",
        when(((col("i") * 131 + col("j") * 137) % 97) % 2 === 0, 1).otherwise(-1))
      .groupBy("vec_id", "band", "j", "p2")
      .agg(sum(col("s") * col("x")).as("proj"))
      .groupBy("vec_id", "band")
      .agg(sum(when(col("proj") > 0, col("p2")).otherwise(0L)).as("bucket"))
  }

  /** Banded near-duplicate pairs: candidates share ≥1 (band, bucket),
    * oversize buckets dropped BEFORE the self-join (`maxBucketSize`,
    * 0 = no cap), pair set deduplicated across bands, then exact-cosine
    * verified — candidate generation is O(Σ bucket²) with every bucket
    * ≤ cap, never O(N²/2^bits). */
  def nearDupPairsBanded(
      spark: SparkSession,
      embeddings: DataFrame,
      threshold: Double,
      bands: Int = 4,
      rowBits: Int = 4,
      maxBucketSize: Int = 0): DataFrame = {
    val keys0 = signBucketsBanded(spark, embeddings, bands, rowBits)
    val capped =
      if (maxBucketSize <= 0) keys0
      else {
        val w = Window.partitionBy("band", "bucket")
        keys0.withColumn("_bsz", count(lit(1)).over(w))
          .where(col("_bsz") <= maxBucketSize)
          .drop("_bsz")
      }
    val keys = graft.Caching.cache(capped)
    val pairs = keys.as("a")
      .join(keys.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val vecs = graft.Caching.cache(embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n", dot(col("v"), col("v"))))
    pairs
      .join(vecs.select(col("vec_id").as("vec_a"), col("v").as("va"), col("n").as("na")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("n").as("nb")), "vec_b")
      .withColumn("cos_sim",
        round(dot(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb"))), 6))
      .where(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** IVF SEARCH — the query path over [[ivfAssign]]: each query vector
    * (vec_id < nQueries) is assigned to its centroid, then ranked
    * against ONLY the vectors of that cluster (candidate set =
    * N/centroids on average instead of N — the inverted-file restriction
    * that makes the k-NN scan sublinear at scale). Exact cosine inside
    * the cluster, deterministic (cos desc, neighbor_id) tie-break.
    * Approximate by construction: a true neighbor in another cluster is
    * missed — probe more clusters / raise centroidMod for recall. */
  def ivfSearch(
      embeddings: DataFrame,
      nQueries: Int,
      k: Int,
      centroidMod: Int = 97): DataFrame = {
    val assign = graft.Caching.cache(ivfAssign(embeddings, centroidMod)
      .select(col("vec_id"), col("centroid_id")))
    val vecs = graft.Caching.cache(embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n", dot(col("v"), col("v"))))
    val queries = vecs.where(col("vec_id") < nQueries)
      .join(assign, "vec_id")
      .select(col("vec_id").as("query_id"), col("centroid_id"),
        col("v").as("qv"), col("n").as("qn"))
    val candidates = vecs.join(assign, "vec_id")
      .select(col("vec_id").as("neighbor_id"), col("centroid_id"),
        col("v").as("cv"), col("n").as("cn"))
    val scored = candidates
      .join(broadcast(queries), Seq("centroid_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(dot(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))), 6))
    cosTopK(scored, k)
  }

  /** IVF-style coarse quantizer: a deterministic centroid subset
    * (vec_id ≡ 0 mod centroidMod), every vector assigned to its
    * max-cosine centroid with a (cos desc, centroid_id) tie-break.
    * The centroid table broadcasts; at query time only the query's
    * cluster is searched.
    *
    * Argmax shape: `max(struct(cos_sim, -centroid_id))` per vec_id — a
    * map-side-combinable aggregate, so the N×nlists scored rows
    * collapse to N rows BEFORE the shuffle. (The row_number window
    * this replaced shuffled all N×nlists rows to rank them: at B40's
    * 1M×101 that is a 101M-row exchange for a 1M-row answer. Same
    * result bit-for-bit — lexicographic struct max on the rounded
    * cos_sim with the negated id IS "cos desc, centroid_id asc".) */
  def ivfAssign(embeddings: DataFrame, centroidMod: Int = 97): DataFrame = {
    val cents = embeddings
      .where(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"), quantize(col("embedding")).as("cv"))
      .withColumn("cn", dot(col("cv"), col("cv")))
    val vecs = embeddings
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .withColumn("n", dot(col("v"), col("v")))
    vecs
      .crossJoin(broadcast(cents))
      .withColumn("cos_sim",
        round(dot(col("v"), col("cv")) / (sqrt(col("n")) * sqrt(col("cn"))), 6))
      .groupBy("vec_id")
      .agg(max(struct(col("cos_sim"),
        (-col("centroid_id")).as("neg_cid"))).as("w"))
      .select(col("vec_id"), (-col("w.neg_cid")).as("centroid_id"),
        col("w.cos_sim").as("cos_sim"))
  }

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss
    * with a ±1 Achlioptas-style matrix): project each quantized vector
    * onto `outDims` deterministic sign patterns — the same arithmetic
    * sign matrix as [[signBuckets]], but emitting the projection VALUES
    * (exact integer sums, engine-portable) instead of their sign bits.
    * The standard 4×-compression preprocessing before clustering or
    * coarse ANN when int8 per-dimension is still too wide. One bounded
    * shuffle ((vec, out-dim) aggregate). */
  def randomProject(
      spark: SparkSession,
      embeddings: DataFrame,
      outDims: Int = 8): DataFrame = {
    val dimsDf = spark.createDataFrame(
      Seq.tabulate(outDims)(j => Tuple1(j))).toDF("j")
    embeddings
      .select(col("vec_id"), posexplode(quantize(col("embedding"))))
      .withColumnRenamed("pos", "i")
      .withColumnRenamed("col", "x")
      .crossJoin(broadcast(dimsDf))
      .withColumn("s",
        when(((col("i") * 131 + col("j") * 137) % 97) % 2 === 0, 1).otherwise(-1))
      .groupBy("vec_id", "j")
      .agg(sum(col("s") * col("x")).as("value"))
  }

  /** Int8 scalar quantization of the embedding column — the standard
    * 4× storage/bandwidth compression before ANN indexing: per-vector
    * scale `maxabs/127`, codes `q_i = round(127·x_i/maxabs)` ∈ [−127,127].
    * The reported squared reconstruction error is computed in SCALED
    * INTEGER space — `Σ (127·x_i − q_i·maxabs)²` over the
    * integer-quantized inputs — so the sum is exact (< 2^53) and
    * order-independent; only the final relative-error division touches
    * floating point. Zero shuffles: one narrow pass, all per-row array
    * kernels. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val v = quantize(col("embedding"))
    embeddings
      .select(col("vec_id"), v.as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      // all-zero vectors quantize to all-zero codes with scale 1
      .withColumn("maxabs", when(col("maxabs") === 0, 1.0).otherwise(col("maxabs")))
      .withColumn("q", transform(col("v"), x => round(x * 127 / col("maxabs"), 0)))
      .withColumn("err_num",
        aggregate(
          zip_with(col("v"), col("q"),
            (x, q) => (x * 127 - q * col("maxabs")) * (x * 127 - q * col("maxabs"))),
          lit(0.0), (acc, e) => acc + e))
      .withColumn("norm2", dot(col("v"), col("v")))
      .select(
        col("vec_id"),
        col("maxabs").cast("long").as("max_abs"),
        col("err_num").cast("long").as("sq_err_scaled"),
        when(col("norm2") === 0, 0.0)
          .otherwise(round(col("err_num") / (col("norm2") * 16129), 9))
          .as("rel_err"))
  }

  /** Semantic deduplication (the SemDeDup recipe — Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with the coarse quantizer,
    * compute pairwise cosine similarity ONLY within each cluster, and
    * drop every member that is ≥ `threshold`-similar to a lower-id
    * member of its cluster (deterministic keep-min-id rule; the paper's
    * keep-farthest-from-centroid variant differs only in which member of
    * a duplicate set survives). Output: one row per vector with its
    * cluster and a `keep` flag.
    *
    * Scale shape: `centroidMod` makes the centroid count a FIXED
    * FRACTION of the corpus (k = N/centroidMod), so expected cluster
    * occupancy is ~centroidMod regardless of N — the within-cluster
    * self-join stays O(N·centroidMod), linear in corpus size, never
    * O(N²). This is the property that makes SemDeDup the standard
    * embedding-dedup pass at 100 TB where exact all-pairs cosine is
    * impossible. */
  def semanticDedup(
      embeddings: DataFrame,
      threshold: Double,
      centroidMod: Int = 97): DataFrame = {
    val assigned = graft.Caching.cache(
      ivfAssign(embeddings, centroidMod)
        .select(col("vec_id"), col("centroid_id"))
        .join(embeddings.select(col("vec_id"), quantize(col("embedding")).as("v")), "vec_id")
        .withColumn("n", dot(col("v"), col("v"))))
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .where(round(dot(col("a.v"), col("b.v")) /
        (sqrt(col("a.n")) * sqrt(col("b.n"))), 6) >= threshold)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
      .withColumn("_dup", lit(1))
    assigned
      .join(dropped, Seq("vec_id"), "left")
      .select(
        col("vec_id"),
        col("centroid_id"),
        when(col("_dup").isNull, 1).otherwise(0).as("keep"))
  }

  /** One Lloyd iteration of k-means over the quantized embeddings:
    * members assigned by [[ivfAssign]], then the new centroid is the
    * per-dimension mean of its members. Sums are over integer-valued
    * doubles — exact, order-independent — and the single mean division
    * is rounded for engine portability. Shuffle shape: the assignment's
    * broadcast-centroid pass plus ONE (centroid, dim) aggregate whose
    * key count is `k × dims` — metadata-scale output regardless of
    * corpus size, the canonical distributed-k-means step. */
  /** Exact integer Gram/covariance accumulation over the embedding
    * corpus — the distributed half of PCA whitening (the preprocessing
    * OPQ/IVF-PCA ANN indexes and embedding-drift monitors run before
    * anything eigen-related; the d×d eigensolve itself is driver-side
    * milliseconds and out of scope). Embeddings are quantized to
    * integer milli-units, so `dot = Σ vᵢ·vⱼ`, `s_i = Σ vᵢ` are EXACT
    * BIGINT sums — order-independent across 1000 executors and
    * engine-portable. `cov_num = n·dot − s_i·s_j` is the centered
    * covariance numerator (over n²); exact while `n·|dot| < 2⁶³` —
    * beyond that consume the raw sums and divide in floating point.
    *
    * Scale shape: each row explodes to its d(d+1)/2 upper-triangle
    * products in one narrow codegen'd pass; the ONLY shuffle is the
    * (i,j)-keyed aggregate with full map-side combine — bytes on the
    * wire are O(partitions · d²), never O(corpus · d²). */
  def gramMatrix(embeddings: DataFrame, scale: Int = 1000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // Per-partition accumulation in a flat long[] (tight JVM loops — the
    // declarative nested-transform formulation is CodegenFallback and
    // ~5× slower), then ONE (i,j)-keyed merge of the d(d+1)/2-row
    // partials: shuffle rows = partitions · d², independent of corpus.
    val partials = embeddings.select(col("embedding")).as[Seq[Double]]
      .mapPartitions { it =>
        var d = -1
        var n = 0L
        var dot: Array[Long] = null // upper triangle, row-major
        var s: Array[Long] = null
        it.foreach { e =>
          if (d < 0) { d = e.size; dot = new Array((d * (d + 1)) / 2); s = new Array(d) }
          require(e.size == d, s"ragged embedding: ${e.size} != $d")
          val v = new Array[Long](d)
          var i = 0
          while (i < d) { v(i) = math.round(e(i) * scale); s(i) += v(i); i += 1 }
          n += 1
          var k = 0
          i = 0
          while (i < d) {
            var j = i
            while (j < d) { dot(k) += v(i) * v(j); k += 1; j += 1 }
            i += 1
          }
        }
        if (d < 0) Iterator.empty
        else {
          var k = -1
          (for { i <- 0 until d; j <- i until d } yield {
            k += 1
            (i + 1L, j + 1L, n, dot(k), s(i), s(j))
          }).iterator
        }
      }
      .toDF("i", "j", "n", "dot", "s_i", "s_j")
    partials.groupBy("i", "j")
      .agg(sum("n").as("n"), sum("dot").as("dot"),
        sum("s_i").as("s_i"), sum("s_j").as("s_j"))
      .withColumn("cov_num",
        col("n") * col("dot") - col("s_i") * col("s_j"))
  }

  def kmeansStep(embeddings: DataFrame, centroidMod: Int = 97): DataFrame = {
    val assign = ivfAssign(embeddings, centroidMod).select("vec_id", "centroid_id")
    embeddings
      .select(col("vec_id"), posexplode(quantize(col("embedding"))).as(Seq("dim", "x")))
      .join(assign, "vec_id")
      .groupBy("centroid_id", "dim")
      .agg(
        count(lit(1)).as("n_members"),
        round(sum("x") / count(lit(1)), 6).as("mean_x"))
  }

  // --- Product quantization (M70) ---------------------------------------
  //
  // PQ (Jégou/Douze/Schmid, TPAMI 2011 "Product Quantization for Nearest
  // Neighbor Search") splits each d-dim vector into m subvectors and
  // replaces every subvector with the id of its nearest codebook entry:
  // the corpus shrinks from d floats to m small codes per vector (d=64,
  // m=8 → 32× fewer bytes), and a query scans CODES via an m-entry
  // lookup-table sum instead of touching raw vectors — the FAISS
  // IVFPQ/ADC shape that makes billion-vector search fit in RAM. At
  // 100 TB the codes table (and the metadata-sized codebook) is what
  // ships to the search tier; the raw embeddings stay cold.
  //
  // Determinism: codebooks are the deterministic centroid subset
  // (vec_id ≡ 0 mod centroidMod — same rule as [[ivfAssign]]; swap in
  // trained centroids from [[kmeansStep]] iterations in production),
  // arithmetic is quantized-integer throughout (squared L2 via
  // n−2·dot+cn on milli-unit ints — exact BIGINT-valued, order- and
  // engine-independent), ties break on centroid_id / neighbor_id asc.

  /** PQ codebooks: one row per (subspace, centroid) with the centroid's
    * subvector and its squared norm. `dims` must divide into `m` equal
    * subspaces. Metadata-sized (m × N/centroidMod rows). The searches
    * cut the same cells from their collected codebook on the driver
    * ([[adcBook]]). */
  def pqCodebooks(
      embeddings: DataFrame,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible into m=$m subspaces")
    subspaceBooks(
      embeddings
        .where(col("vec_id") % centroidMod === 0)
        .select(col("vec_id").as("centroid_id"),
          quantize(col("embedding")).as("v")),
      m, dims / m)
  }

  /** Slice a (centroid_id, v) relation into per-subspace codebook rows
    * (sub, centroid_id, cs, cn) — [[pqCodebooks]]' relational form. No
    * search reads it: every ADC search cuts the same cells from its
    * collected codebook rows on the driver ([[adcBook]]). */
  private[graft] def subspaceBooks(
      centRows: DataFrame, m: Int, subDim: Int): DataFrame = {
    val spark = centRows.sparkSession
    centRows
      .withColumn("sub", explode(lit((0 until m).toArray)))
      .withColumn("cs", slice(col("v"), col("sub") * subDim + 1, lit(subDim)))
      .withColumn("cn", dot(col("cs"), col("cs")))
      .select("sub", "centroid_id", "cs", "cn")
  }

  /** PQ encode: each vector's m subvectors are assigned to their
    * nearest codebook entry (exact squared L2 on quantized integer-
    * valued doubles, tie-break centroid_id asc); output is `(vec_id,
    * codes)` with `codes[s]` the chosen centroid_id for subspace s —
    * the m-code compressed corpus a pipeline persists instead of raw
    * embeddings.
    *
    * Plan shape: ONE narrow codegen'd projection
    * ([[graft.functions.PqEncodeExpr]]) with the codebook collected as
    * a reference object — no join, no aggregate, no shuffle; encode
    * throughput scales with cores. The codebook is metadata-sized by
    * construction (ksub = N/centroidMod, caller-chosen — FAISS trains
    * 256 per subspace), and the relational alternative (explode m
    * subspaces × join the codebook × min_by) evaluates N·m·ksub
    * candidate ROWS: measured ~100 s vs ~2 s at 1M×8×245 for the same
    * ~8 GFLOP. The collect is the same metadata-bounded driver step
    * every ADC search needs for its lookup tables. */
  def pqEncode(
      embeddings: DataFrame,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97): DataFrame = {
    require(m >= 1 && dims % m == 0, s"dims=$dims not divisible by m=$m")
    embeddings.select(col("vec_id"), encodeCol(quantize(col("embedding")),
      codebook(embeddings, dims, centroidMod), m, dims / m).as("codes"))
  }

  /** The subset codebook (vec_id ≡ 0 mod centroidMod, quantized)
    * collected ONCE to the driver as (centroid_id, v) rows, ids
    * ascending: the [[graft.functions.PqEncodeExpr]] kernel's reference
    * object and, in a search, the lookup-table book ([[adcBook]]) — one
    * scan of the centroid subset serves both. */
  private def codebook(
      embeddings: DataFrame,
      dims: Int,
      centroidMod: Int): IndexedSeq[(Long, Array[Double])] = {
    val rows = subsetRows(embeddings, centroidMod)
    require(rows.nonEmpty, "empty PQ codebook")
    require(rows.length.toLong * dims <= (16L << 20),
      s"codebook ${rows.length}x$dims exceeds the driver bound; " +
        "raise centroidMod")
    rows
  }

  /** The codes column of `v` against collected (centroid_id, v) book
    * rows, ids ascending — the [[graft.functions.PqEncodeExpr]] kernel. */
  private def encodeCol(v: Column, book: IndexedSeq[(Long, Array[Double])],
      m: Int, subDim: Int): Column =
    graft.functions.PqEncodeExpr.col(v, book.map(_._2).toArray,
      book.map(_._1).toArray, m, subDim)

  /** The rows vec_id ≡ 0 (mod `mod`) as (vec_id, quantized v), collected
    * and sorted by id — the deterministic centroid subsets. */
  private def subsetRows(
      embeddings: DataFrame, mod: Int): IndexedSeq[(Long, Array[Double])] =
    embeddings
      .where(col("vec_id") % mod === 0)
      .select(col("vec_id"), quantize(col("embedding")).as("v"))
      .collect()
      .map { r => val id = r.getLong(0); (id, coords(r, 1, s"vec_id $id")) }
      .sortBy(_._1)
      .toIndexedSeq

  /** PQ/ADC search: queries (vec_id < nQueries) rank the ENCODED corpus
    * by asymmetric distance — per query, a lookup table of
    * (subspace, centroid) partial distances is built against the raw
    * query subvector on the driver ([[luts]]: nQueries × m × ksub
    * doubles, from the query rows and the codebook rows the encode
    * collects anyway), and a candidate's distance estimate is the
    * m-term SUM of its codes' table entries: the scan ([[ranked]],
    * every codes row against the tables, in one job) never touches raw
    * corpus vectors. Exact BIGINT arithmetic end-to-end; deterministic
    * (dist asc, neighbor_id) top-k. Approximate by construction
    * (quantization error) — certified against exact top-k recall in
    * ScaleBench. The query rows are collected at call time
    * ([[queryRows]]). */
  def pqSearch(
      embeddings: DataFrame,
      nQueries: Int,
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97): DataFrame = {
    val queries = queryRows(prefixQueries(embeddings, nQueries))
    ranked(Ann.built(embeddings, m, dims, None, Subset(centroidMod)),
      queries, 1, excludeSelf = true, k).top
  }

  /** IVF+PQ composed search — the FAISS IVFPQ shape (Jégou 2011 §IV,
    * `by_residual=false` variant: codes quantize the RAW vector, not
    * the residual, so [[pqEncode]]'s codes are reused verbatim and the
    * ADC arithmetic is identical to [[pqSearch]]'s — the composition
    * changes WHICH rows are scanned, never how a row is scored).
    *
    * Index side (built once, persisted in production): every vector
    * carries its [[pqEncode]] codes AND its [[ivfAssign]] coarse list.
    * Query side, on the driver ([[probeLuts]]): each query ranks the
    * metadata-sized coarse centroids and probes its `nprobe` nearest
    * lists; the ADC scan matches each encoded corpus row to the
    * (query, probed-list, LUT) entries of its `list_id` ([[ranked]]) —
    * so the fraction of the corpus scanned per query is Σ probed-list sizes / N
    * ≈ nprobe/nlists, the pruning lever [[pqSearch]]'s full linear ADC
    * scan lacks (its cost is strictly linear in corpus size; this is
    * what makes billion-vector search affordable). ScaleBench B40
    * REQUIREs both the planted-duplicate recall and the scanned-row
    * fraction at ≥1M vectors.
    *
    * Approximate by construction, in exactly two places: quantization
    * error (same as pqSearch, recall-certified) and coarse pruning (a
    * true neighbor in an unprobed list is missed — raise `nprobe` for
    * recall; nprobe ≥ nlists degenerates to pqSearch exactly, spec-
    * pinned). Deterministic end-to-end: exact BIGINT ADC, probe
    * tie-break (cos desc, list_id), top-k tie-break (dist asc,
    * neighbor_id). */
  def ivfPqSearch(
      embeddings: DataFrame,
      nQueries: Int,
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      coarseMod: Int = 83,
      nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val queries = queryRows(prefixQueries(embeddings, nQueries))
    ranked(Ann.built(embeddings, m, dims, Some(Subset(coarseMod)),
      Subset(centroidMod)), queries, nprobe, excludeSelf = true, k).top
  }

  /** ADC-approximate top-`rerankR` then EXACT re-rank to top-`k` — the
    * FAISS refine stage (`IndexRefineFlat`): PQ compression buys the
    * scan, then the few surviving candidates are re-scored against
    * their RAW vectors, so the final ranking carries no quantization
    * error at all (only coarse-pruning recall loss remains). Exact leg
    * = [[cosineTopK]]'s rounded-cosine arithmetic verbatim, so rerankR
    * ≥ corpus reproduces the exact brute-force ranking.
    *
    * Scale shape: the queries are collected at call time and the
    * candidate set (nQueries × rerankR rows — query-scale) is ranked
    * in one job ([[ranked]]); a second job over the corpus scan keeps
    * the candidates' quantized vectors in its tasks ([[fetched]]:
    * nQueries × rerankR × dims doubles on the driver). The re-rank
    * itself is [[exactTopK]], on the driver; the result is a local
    * relation. */
  def ivfPqRerank(
      embeddings: DataFrame,
      nQueries: Int,
      k: Int,
      rerankR: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      coarseMod: Int = 83,
      nprobe: Int = 2): DataFrame = {
    require(rerankR >= k, s"rerankR=$rerankR must be >= k=$k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val queries = queryRows(prefixQueries(embeddings, nQueries))
    refine(Ann.built(embeddings, m, dims, Some(Subset(coarseMod)),
      Subset(centroidMod)), queries, k, rerankR, nprobe, excludeSelf = true,
      _ => vecsOf(embeddings))
  }

  /** The index rows of `vecs` (vec_id, embedding) in ONE narrow
    * projection: both halves are pure per-row functions of the
    * embedding against driver-resident centroid sets — the
    * [[graft.functions.IvfTopListsExpr]] kernel (exploded, each
    * vector's row lands in its g nearest lists) riding the
    * [[graft.functions.PqEncodeExpr]] encode scan; no aggregate, no
    * shuffle. Without a coarse set the rows are flat PQ's
    * (neighbor_id, codes); an EMPTY coarse set gives an empty index
    * (the explode drops every row). `residual` encodes each vector's
    * offset from its list's centroid, fetched through a broadcast join
    * to the driver centroids. A null coordinate fails the build by
    * vec_id ([[storedVec]], evaluated before the explode). Shared by
    * every writer, the append and the in-plan searches. */
  private def indexFrom(
      vecs: DataFrame,
      coarse: Option[Cents],
      book: IndexedSeq[(Long, Array[Double])],
      m: Int,
      subDim: Int,
      g: Int,
      residual: Boolean = false): DataFrame = {
    val id = col("vec_id").as("neighbor_id")
    def codes(v: Column) = encodeCol(v, book, m, subDim).as("codes")
    coarse match {
      case None => vecs.select(id, codes(storedVec))
      case Some(cs) =>
        val lists = explode(IvfTopListsExpr.col(storedVec, cs.vs, cs.ids, g))
          .as("list_id")
        if (!residual) vecs.select(id, lists, codes(storedVec))
        else vecs.select(id, lists, storedVec.as("v"))
          .join(broadcast(vecs.sparkSession.createDataFrame(cs.ids.indices
            .map(i => (cs.ids(i), cs.vs(i).toSeq))).toDF("list_id", "cv")),
            "list_id")
          .select(col("neighbor_id"), col("list_id"),
            codes(zip_with(col("v"), col("cv"), _ - _)))
    }
  }

  /** The quantized `embedding` of a row being indexed, failing by
    * vec_id on a null coordinate (the kernels read a null slot as 0.0):
    * the native [[dot]] is null exactly when an element is. */
  private def storedVec: Column = {
    val e = col("embedding").cast("array<double>")
    when(e.isNotNull && dot(e, e).isNull, raise_error(concat(lit("vec_id "),
      col("vec_id").cast("string"), lit(" has a null coordinate"))))
      .otherwise(quantize(col("embedding")))
  }

  /** [[ivfPqSearch]] serving a STANDALONE (query_id, embedding) query
    * relation — see [[ivfPqSearchPersistedQ]] for the signature
    * rationale and the `excludeSelf` contract. */
  def ivfPqSearchQ(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      coarseMod: Int = 83,
      nprobe: Int = 2,
      excludeSelf: Boolean = false): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val qs = queryRows(quantQueries(queries))
    ranked(Ann.built(embeddings, m, dims, Some(Subset(coarseMod)),
      Subset(centroidMod)), qs, nprobe, excludeSelf, k).top
  }

  // --- Persisted IVF+PQ index (the 100 TB storage shape) ----------------
  //
  // ivfPqSearch prunes what gets SCORED (only probed lists enter the ADC
  // join) but its index is an in-plan relation, so every encoded corpus
  // row is still READ each query. At 100 TB the bytes-read cost IS the
  // query — the win has to move from "rows scored" to "rows scanned",
  // which is a STORAGE property: persist the (neighbor_id, list_id,
  // codes) index range-clustered by list_id (FAISS's inverted-list
  // storage, Jégou 2011 §IV — each list's codes contiguous on disk) and
  // push `list_id IN (probed)` down to the parquet reader, where file-
  // and row-group min/max stats on the clustered key drop unprobed
  // lists WITHOUT reading them. Same idiom as the M72 bloom layout, but
  // range stats suffice because the probe predicate is over the
  // clustering key itself. ScaleBench B43 REQUIREs the SCAN's
  // numOutputRows (not the join's) stays ≈ the probed fraction on a
  // persisted 1M-vector index.

  /** Build the IVF+PQ index and persist it to `dir` — all THREE index
    * relations, so search time touches the corpus relation only for the
    * query vectors themselves:
    *
    *  - `dir/codes`: (neighbor_id, list_id, codes), range-repartitioned
    *    into `numFiles` files each owning a contiguous list range and
    *    sorted by (list_id, neighbor_id) so row-group min/max stats on
    *    list_id are tight — the corpus-scale relation every search
    *    prunes at the SCAN;
    *  - `dir/cents`: the coarse-centroid relation (list_id, cv, cn) —
    *    metadata-sized;
    *  - `dir/book`: the PQ codebook rows (centroid_id, v) — metadata-
    *    sized; LUTs are built from this at search time instead of
    *    re-scanning the corpus for the centroid subset.
    *
    * `writerOptions` passes parquet writer knobs through to the codes
    * relation — pruning granularity is the ROW GROUP, so
    * `parquet.block.size` should sit at or below the expected per-list
    * byte footprint (N/nlists × ~code-row bytes); at production scale
    * (lists of 10⁶+ rows) the default 128 MB already satisfies this,
    * while small benchmark corpora need it lowered to see
    * row-group-level pruning. */
  def ivfPqWriteIndex(
      embeddings: DataFrame,
      dir: String,
      numFiles: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      coarseMod: Int = 83,
      writerOptions: Map[String, String] = Map.empty,
      storeVecs: Boolean = false,
      spillG: Int = 1): Unit =
    writeIndex(embeddings, dir, numFiles, m, dims, Subset(coarseMod),
      Subset(centroidMod), writerOptions, storeVecs, spillG)

  /** The one writer body: resolve the coarse set and the book on the
    * driver, then write the index relations through [[Index]] — codes
    * with each vector's g nearest lists in one narrow corpus pass for
    * any spill degree ([[indexFrom]]) — and overlap the two metadata
    * relations, written from those same driver rows: `cents` (list_id,
    * cv, cn) and `book` (centroid_id, v). */
  private def writeIndex(
      vecs: DataFrame,
      dir: String,
      numFiles: Int,
      m: Int,
      dims: Int,
      coarse: From,
      book: From,
      writerOptions: Map[String, String],
      storeVecs: Boolean,
      spillG: Int): Unit = {
    require(m >= 1 && dims % m == 0, s"dims=$dims not divisible by m=$m")
    require(spillG >= 1, s"spillG must be >= 1, got $spillG")
    val spark = vecs.sparkSession
    val cs = coarseOf(vecs, dims, coarse)
    val bk = bookOf(vecs, m, dims, book)
    def meta(df: DataFrame, name: String) = () =>
      df.coalesce(1).write.mode("errorifexists").parquet(s"$dir/$name")
    Index.write(spark, dir,
      Map("codes" -> indexFrom(vecs, Some(cs), bk, m, dims / m, spillG)) ++
        (if (storeVecs) Map("vecs" -> vecsOf(vecs)) else Map.empty),
      numFiles, writerOptions,
      meta(spark.createDataFrame(cs.ids.indices.map(i =>
        (cs.ids(i), cs.vs(i).toSeq, cs.cn(i)))).toDF("list_id", "cv", "cn"), "cents"),
      meta(spark.createDataFrame(bk.map { case (i, v) => (i, v.toSeq) })
        .toDF("centroid_id", "v"), "book"))
    if (spillG > 1) writeSpillMarker(spark, dir, spillG)
  }

  /** The persisted index's lifecycle relations
    * ([[graft.ops.ClusteredIndex]]): `codes` (neighbor_id, list_id,
    * codes), clustered by (list_id, neighbor_id) so the probed-list IN
    * prunes at the scan; and the optional raw-vector refine relation
    * `vecs` (vec_id, v), clustered by vec_id, so the exact re-rank
    * stage ([[ivfPqRerankPersistedQ]]) fetches ONLY its candidates'
    * vectors (a pushed-down id IN over the clustering key) instead of
    * touching the corpus: the FAISS `IndexRefineFlat` storage half.
    * vecs doubles the index's byte footprint (codes are compressed, raw
    * vectors are not) — which is exactly the IVFPQ+refine trade every
    * production FAISS deployment makes for recall (Jégou 2011 §VII). */
  private val Index = graft.ops.ClusteredIndex("vec_id", "codes", Seq(
    graft.ops.ClusteredIndex.Relation("codes", "neighbor_id",
      Seq("list_id", "neighbor_id")),
    graft.ops.ClusteredIndex.Relation("vecs", "vec_id", Seq("vec_id"),
      optional = true)))

  /** The vecs relation's rows for `embeddings`. */
  private def vecsOf(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), storedVec.as("v"))

  /** Chunk budget for the probed-list scan: up to this many
    * ≤-threshold IN chunks stay exact-at-the-scan; past it the plan
    * switches to the O(1)-size range-cover scan. 16 chunks × the
    * default threshold 10 ≈ 160 probed lists — far above any tested
    * workload (nprobe ≤ 16 × 10 queries), so the cover path is purely
    * the asymptotic safety net. */
  private val MaxInChunks = 16

  // --- Coarse-spill (multi-assignment) indexing --------------------------
  //
  // B47 proved the refine stage closes ALL quantization error: reranked
  // recall@10 equals the PROBED-LIST CEILING — the fraction of true
  // neighbors whose single assigned list the query probes. The last
  // recall lever is therefore the ceiling itself. Raising nprobe pays
  // at query time on every search; SPILL indexing pays once at build
  // time instead: each vector's codes row is written into its g nearest
  // coarse lists (the "multiple-assignment" idiom of Jégou 2011 §V /
  // the non-exhaustive search literature), so a true neighbor is
  // findable when ANY of its g lists is probed — the ceiling rises from
  // P(probe its list) to P(probe any of g) at a bounded g× codes-size
  // cost (the vecs refine relation stays single-copy: one raw vector
  // per id). Search-time contract: copies share their codes, so the
  // non-residual ADC distance is IDENTICAL across copies and the scored
  // relation is deduped by (query_id, neighbor_id) min — equal-valued,
  // so min == any — before top-k; gate q_ivfpq_spill replays
  // assign-to-g-lists + dedup-by-best in DuckDB. Lifecycle: appends
  // re-read the index's recorded g (never the caller's), tombstones
  // anti-join on neighbor_id and so mask/drop EVERY copy, upsert
  // victims are semi-join-distinct — multi-copy semantics hold through
  // append/delete/consolidate/upsert (spec-pinned).

  /** Record the writer's coarse-spill degree at `dir/_spill` so readers
    * and appends resolve g from the INDEX, never from a caller that
    * could desync it. Only written when g > 1 (absent marker = 1, the
    * classic single-assignment index — no behavior change). */
  private def writeSpillMarker(
      spark: SparkSession, dir: String, g: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_spill")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$g\n".getBytes("UTF-8")) finally out.close()
  }

  /** The index's coarse-spill degree — `dir/_spill`, defaulting to 1
    * (single assignment) when absent. Memoized per dir and revalidated
    * by ONE getFileStatus stamp (len:mtime) instead of the exists +
    * open + read triple every search used to pay (the r20 advisor's
    * per-search-metadata finding): the marker is write-once in the
    * lifecycle, so the stamp only exists to catch out-of-band rewrites
    * the way ServingCache's fingerprint does. */
  private val spillMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Int)]()

  private[graft] def spillDegree(
      spark: SparkSession, indexDir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/_spill")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamp =
      try {
        val st = fs.getFileStatus(p)
        st.getLen.toString + ":" + st.getModificationTime
      } catch { case _: java.io.FileNotFoundException => "absent" }
    val cur = spillMemo.get(indexDir)
    if (cur != null && cur._1 == stamp) cur._2
    else {
      val g =
        if (stamp == "absent") 1
        else {
          val in = fs.open(p)
          try {
            val buf = new Array[Byte](32)
            val n = in.read(buf)
            new String(buf, 0, math.max(n, 0), "UTF-8").trim.toInt
          } finally in.close()
        }
      spillMemo.put(indexDir, (stamp, g))
      g
    }
  }

  // --- Retraining epochs --------------------------------------------------
  //
  // Frozen-book appends (the FAISS add() contract) are exact but a
  // corpus that DRIFTS — a new language, a new embedding version —
  // degrades ADC resolution with no recovery short of a manual rebuild:
  // out-of-distribution vectors crowd a few coarse lists and quantize
  // to a few codes, so the candidate ranking decays toward ties
  // (ScaleBench B51 plants exactly this). [[ivfPqRetrainIndex]] is the
  // recovery operator: train FRESH books and centroids on the current
  // corpus (read back from the index's own refine relation), re-encode
  // everything, and flip atomically. Atomicity needs a root that can
  // swap ALL FOUR relations at once — codes encoded with new books
  // under old LUT metadata would rank garbage — so a retrain writes a
  // complete replacement index into `indexDir/epoch-<n>/` and commits
  // ONE [[graft.ops.TableManifest]] at the INDEX root whose live set
  // names the epoch: readers resolve the root first, so they see the
  // old index in full until the rename lands, then the new one in full
  // (the same commit protocol as the per-relation lifecycle, one level
  // up). Old epochs stay on disk for in-flight readers until
  // [[ivfPqVacuumIndex]] reclaims them.

  private val EpochName = "epoch-(\\d+)".r

  /** Resolve the LIVE root of the index at `indexDir`: the manifest-
    * committed epoch directory after a retrain, `indexDir` itself
    * before one. Every persisted-index entry point resolves this
    * first (idempotent — an epoch dir carries no root manifest).
    * Memoized per dir, revalidated by the newest root-manifest
    * SEQUENCE (one listStatus) — the root can only move via a root
    * manifest commit (retrain), so a matching seq proves the cached
    * resolution current without re-opening and re-parsing the
    * manifest on every search (the r20 advisor's finding). */
  private val rootMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, String)]()

  private[graft] def indexRoot(
      spark: SparkSession, indexDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seq = graft.ops.TableManifest.latestSeq(fs, p).getOrElse(-1)
    val cur = rootMemo.get(indexDir)
    if (cur != null && cur._1 == seq) cur._2
    else {
      val root =
        if (seq < 0) indexDir
        else graft.ops.TableManifest.latest(fs, p).flatMap(_.gens)
          .flatMap(_.find(_.matches("epoch-\\d+"))) match {
          case Some(e) => s"$indexDir/$e"
          case None => indexDir
        }
      rootMemo.put(indexDir, (seq, root))
      root
    }
  }

  /** RETRAIN the persisted index at `indexDir` on its CURRENT corpus:
    * the raw vectors are read back from the live refine relation
    * (requires an index built with `storeVecs = true` — the relation
    * exists precisely so exactness never depends on the original
    * corpus being reachable), fresh coarse centroids and PQ codebooks
    * are Lloyd-trained on them ([[ivfTrainCentroids]] /
    * [[pqTrainCodebooks]]), every vector is re-encoded, and the
    * complete replacement index (codes + cents + book + vecs, spill
    * degree preserved unless overridden) lands in `indexDir/epoch-<n>`
    * behind ONE atomic manifest commit at the index root. The result
    * is BIT-IDENTICAL to [[ivfPqWriteIndexTrained]] over the same
    * visible rows (quantization is idempotent, so the stored vectors
    * round-trip exactly — gate q_ivfpq_retrain pins it); searches
    * against the retrained index use `centroidMod = 1` (trained codes
    * are codebook indices).
    *
    * Crash safety: a half-written epoch directory without the root
    * commit is invisible (the root manifest still names the old live
    * root) and a retry numbers PAST it (listing-based); the abandoned
    * directory is reclaimed by [[ivfPqVacuumIndex]]. Cost honesty:
    * this is the full-rebuild operator — one training pass over the
    * corpus plus one re-encode/re-cluster write, paid when drift has
    * already cost more in recall (B51 REQUIREs the recovery).
    * Single-maintenance-writer contract applies. */
  def ivfPqRetrainIndex(
      spark: SparkSession,
      indexDir: String,
      numFiles: Int,
      m: Int = 8,
      dims: Int = 64,
      ksub: Int = 256,
      nlists: Int = 16,
      iters: Int = 2,
      trainMod: Int = 1,
      writerOptions: Map[String, String] = Map.empty,
      spillG: Int = 0): Unit = {
    val root = indexRoot(spark, indexDir)
    require(Index.has(spark, root, "vecs"),
      s"no raw-vector relation at $root/vecs - retraining re-encodes " +
        "from the stored vectors; write the index with storeVecs = true")
    val g = if (spillG > 0) spillG else spillDegree(spark, root)
    // the live corpus, reconstructed exactly: vecs stores
    // quantize(embedding) (integer milli-units), and quantize is
    // idempotent through the /1000 round-trip, so training and
    // re-encoding below see the same integers a fresh build would
    val emb = graft.ops.Layout.clusteredTable(spark, s"$root/vecs")
      .select(col("vec_id"),
        transform(col("v"), x => x / 1000.0d).as("embedding"))
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // number PAST every epoch dir on disk — a crashed (uncommitted)
    // attempt is skipped, never adopted or collided with
    val next = fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case EpochName(n) => Some(n.toInt)
          case _ => None
        }
    }.flatten.foldLeft(-1)(math.max) + 1
    val epochDir = s"$indexDir/epoch-$next"
    ivfPqWriteIndexTrained(emb, epochDir, numFiles, m, dims, ksub,
      nlists, iters, trainMod, writerOptions, storeVecs = true,
      spillG = g)
    // ONE rename flips all four relations together
    graft.ops.TableManifest.commit(fs, p, graft.ops.TableManifest.Snapshot(
      0, Some(Seq(s"epoch-$next")), Set.empty, Set.empty,
      Seq.empty, Set.empty))
  }

  /** Delete RETIRED epoch directories (not named live by the root
    * manifest) — the epoch-level half of [[ivfPqVacuumIndex]], with
    * the same retention guard. The pre-epoch root-level relations are
    * left in place (they are not epoch-addressable; reclaim them out
    * of band if the index has been retrained). Returns dirs deleted. */
  private def purgeEpochs(
      spark: SparkSession, indexDir: String, force: Boolean): Long = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.ops.TableManifest.latest(fs, p).flatMap(_.gens) match {
      case Some(live) if live.exists(_.matches("epoch-\\d+")) =>
        val young = !force && graft.ops.TableManifest.ageMs(fs, p)
          .exists(_ < graft.ops.Layout.DefaultVacuumRetentionMs)
        if (young) 0L
        else {
          val liveSet = live.toSet
          var purged = 0L
          fs.listStatus(p).foreach { st =>
            if (st.isDirectory && st.getPath.getName.matches("epoch-\\d+")
              && !liveSet.contains(st.getPath.getName)) {
              if (fs.delete(st.getPath, true)) purged += 1L
            }
          }
          purged
        }
      case _ => 0L
    }
  }

  /** The persisted coarse centroids, served from the driver metadata
    * cache ([[graft.ops.ServingCache]]): collected once per (dir,
    * lifecycle fingerprint) with their stored `cn` and read in place by
    * the search's probes and the append's assignment — a repeat search
    * pays a directory listing, not a parquet job.
    * Metadata-sized by construction (nlists rows). */
  private def centsCached(spark: SparkSession, indexDir: String): Cents =
    graft.ops.ServingCache.cached("cents", spark, s"$indexDir/cents") {
      cents(graft.ops.ParquetIO.read(spark, Seq(s"$indexDir/cents"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))))
    }

  /** The persisted PQ codebook rows (centroid_id, v), ids ascending,
    * from the driver metadata cache — same contract as [[centsCached]];
    * the append bounds them with the same 16M-cell require as
    * [[pqEncode]]. */
  private def bookCached(
      spark: SparkSession,
      indexDir: String): IndexedSeq[(Long, Array[Double])] =
    graft.ops.ServingCache.cached("book", spark, s"$indexDir/book") {
      graft.ops.ParquetIO.read(spark, Seq(s"$indexDir/book")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toIndexedSeq
    }

  /** Build the FULLY-TRAINED persisted index — [[ivfPqWriteIndex]]'s
    * layout (codes clustered by list_id + metadata centroid/codebook
    * relations) with both halves trained at fixed size
    * ([[ivfTrainCentroids]] coarse, [[pqTrainCodebooks]] PQ): the
    * complete, scale-invariant FAISS IVFPQ artifact a production
    * deployment builds once and serves from. Searched with
    * [[ivfPqSearchPersisted]] at `centroidMod = 1` (trained codes are
    * codebook INDICES, so the LUT divisor is 1) — spec-pinned equal to
    * the in-plan [[ivfPqSearchTrainedFull]]. */
  def ivfPqWriteIndexTrained(
      embeddings: DataFrame,
      dir: String,
      numFiles: Int,
      m: Int = 8,
      dims: Int = 64,
      ksub: Int = 256,
      nlists: Int = 16,
      iters: Int = 2,
      trainMod: Int = 1,
      writerOptions: Map[String, String] = Map.empty,
      storeVecs: Boolean = false,
      spillG: Int = 1): Unit =
    writeIndex(embeddings, dir, numFiles, m, dims,
      Trained(nlists, iters, trainMod), Trained(ksub, iters, trainMod),
      writerOptions, storeVecs, spillG)

  /** INCREMENTAL index maintenance — the FAISS `add()` contract: encode
    * and coarse-assign NEW vectors against the index's FROZEN stored
    * relations (`dir/book`, `dir/cents` — no retraining; a growing
    * corpus must never pay a rebuild at ingest) and land the rows in
    * the codes TAIL, unclustered (the [[graft.ops.Layout.zorderAppend]]
    * idiom applied to the list_id cluster key: ingest is one narrow
    * encode projection + one broadcast assign aggregate, NO shuffle of
    * existing data). Readers see appended vectors immediately
    * ([[ivfPqSearchPersisted]] globs generations + tail); tail files
    * span all lists, so they prune poorly at the scan until
    * [[ivfPqOptimizeIndex]] re-clusters them — exactly the z-order
    * tail story, REQUIREd in ScaleBench B46.
    *
    * Works against both writer variants: the book's centroid_id values
    * are whatever the writer stored (subset vec_ids or trained
    * indices), and the encode/assign arithmetic is the shared kernels,
    * so appended codes are bit-identical to what a full rebuild with
    * the same codebooks would produce (spec-pinned).
    *
    * Duplicate ids: the default append is BLIND — re-ingesting a batch
    * double-inserts its vec_ids (FAISS `add()` behaves the same: ids
    * are caller-managed). Pass `dedupAgainstIndex = true` to anti-join
    * the incoming vec_ids against the live index (one distributed join
    * of the NEW batch against the index's id column — the index side is
    * never shuffled wide).
    *
    * Delete-then-re-add: an id with a PENDING tombstone
    * ([[ivfPqDeleteIndex]]) must not be re-appended — the reader would
    * mask the new row and the next compaction would drop it physically
    * (silent permanent loss), so this append REJECTS such ids loudly;
    * run [[ivfPqConsolidateIndex]] first to retire the tombstones, or
    * [[ivfPqUpsertIndex]] (the [[graft.ops.ClusteredIndex.append]]
    * contract). The check costs nothing when no tombstones are pending. */
  def ivfPqAppendIndex(
      spark: SparkSession,
      indexDir: String,
      newVecs: DataFrame,
      m: Int = 8,
      dims: Int = 64,
      dedupAgainstIndex: Boolean = false): Unit = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val root = indexRoot(spark, indexDir)
    val book = bookCached(spark, root)
    require(book.nonEmpty, s"no codebook at $root/book")
    // same driver bound as pqEncode: a subset-writer book is
    // N/centroidMod rows (grows with the corpus) and this collect must
    // never become a driver OOM at production scale
    require(book.length.toLong * dims <= (16L << 20),
      s"codebook ${book.length}x$dims exceeds the driver bound; " +
        "raise centroidMod (or use the trained writer's fixed ksub)")
    // a spill-written index keeps its multi-assignment degree through
    // appends — resolved from the index's own marker, never a caller
    // argument that could desync the copies-per-vector invariant. The
    // coarse centroids are driver-resident (ServingCache), so codes +
    // g nearest lists are ONE narrow projection over the batch.
    val spillG = spillDegree(spark, root)
    // a refine-enabled index keeps its raw-vector relation in lockstep
    // (same ids, same lifecycle) — the re-rank stage must be able to
    // fetch any candidate the codes relation can surface
    Index.append(spark, root, newVecs, dedupAgainstIndex, Map(
      "codes" -> ((batch: DataFrame) => indexFrom(batch,
        Some(centsCached(spark, root)), book, m, dims / m, spillG)),
      "vecs" -> (vecsOf _)))
  }

  /** OPTIMIZE pass for the persisted index: re-cluster the codes (and
    * vecs) TAIL into the next generation by the relation's cluster key
    * — [[graft.ops.ClusteredIndex.optimize]]. Returns codes rows
    * compacted; `maxGenerations` > 0 folds generations together past
    * the threshold (one full-index sort amortized over the cheap
    * tail-only passes). */
  def ivfPqOptimizeIndex(
      spark: SparkSession,
      indexDir: String,
      numFiles: Int,
      maxGenerations: Int = 0,
      writerOptions: Map[String, String] = Map.empty): Long =
    Index.optimize(spark, indexRoot(spark, indexDir), numFiles,
      maxGenerations, writerOptions)

  /** CONSOLIDATE pass for the persisted index: fold every generation
    * into one freshly (list_id, neighbor_id)-clustered generation,
    * applying [[ivfPqDeleteIndex]] tombstones PHYSICALLY and retiring
    * them once no un-compacted tail remains — the compaction half of
    * FAISS `remove_ids`, after which reads pay no anti-join and no
    * data file holds a deleted row. Returns codes rows rewritten (0 =
    * single generation and no pending tombstones, no-op). Same single-
    * maintenance-writer and reader-race contracts as
    * [[graft.ops.ClusteredIndex.consolidate]]. */
  def ivfPqConsolidateIndex(
      spark: SparkSession,
      indexDir: String,
      numFiles: Int,
      writerOptions: Map[String, String] = Map.empty): Long =
    Index.consolidate(spark, indexRoot(spark, indexDir), numFiles,
      writerOptions)

  /** UPSERT: replace-or-insert `newVecs` by vec_id — the supported
    * form of delete-then-re-add ([[graft.ops.ClusteredIndex.upsert]]):
    * ids present in the visible index are tombstoned, the tombstones —
    * also any an earlier [[ivfPqDeleteIndex]] left pending on an
    * incoming id — are applied physically and retired (optimize folds
    * the tail, consolidate rewrites), then the batch appends against
    * the frozen codebooks. A batch of purely-new ids skips the rewrite
    * entirely. Cost honesty: a batch that replaces vectors pays one
    * full-index consolidate. Single-maintenance-writer contract. */
  def ivfPqUpsertIndex(
      spark: SparkSession,
      indexDir: String,
      newVecs: DataFrame,
      numFiles: Int,
      m: Int = 8,
      dims: Int = 64,
      writerOptions: Map[String, String] = Map.empty): Unit = {
    val root = indexRoot(spark, indexDir)
    Index.upsert(spark, root, newVecs, numFiles, writerOptions)(
      delete = Index.delete(spark, root, newVecs)(),
      consolidate = Index.consolidate(spark, root, numFiles, writerOptions),
      append = ivfPqAppendIndex(spark, indexDir, newVecs, m, dims))
  }

  /** Immediately reclaim index files the manifests have retired (old
    * generations, compacted tail, applied tombstones, retired epochs)
    * instead of waiting one maintenance interval —
    * [[graft.ops.ClusteredIndex.vacuum]] over the index's lifecycle
    * relations, with its retention guard: unforced calls no-op while
    * the newest manifest is younger than the retention window;
    * `force = true` reclaims now. */
  def ivfPqVacuumIndex(
      spark: SparkSession, indexDir: String,
      force: Boolean = false): Long =
    Index.vacuum(spark, indexRoot(spark, indexDir), force) +
      purgeEpochs(spark, indexDir, force)

  /** [[ivfPqSearch]] over a PERSISTED index ([[ivfPqWriteIndex]] or
    * [[ivfPqWriteIndexTrained]]): identical results (same probes, same
    * LUTs, same ADC arithmetic — SimilaritySpec pins equality), but
    * every index relation comes from `dir`: the coarse centroids and PQ
    * codebook are metadata-sized reads held in the driver cache, and
    * the corpus-scale codes relation is filtered to the UNION of probed
    * lists — a predicate the scan itself prunes with. The query stage
    * (probes and ADC lookup tables) runs on the driver and the scoring
    * in ONE job over the pruned codes scan ([[ranked]] over
    * [[Ann.opened]]): each task keeps a top-k per query (nQueries × k
    * heap entries), and the driver merges them into a local relation,
    * holding at most nQueries × k rows plus one task's result. A call
    * is one collect of the query vectors plus that one job.
    * `embeddings` supplies ONLY the query vectors (vec_id < nQueries, a
    * pushed-down filter) — search cost is independent of corpus size
    * except for the pruned codes scan, which is the whole point.
    *
    * `centroidMod` is the code→LUT-slot divisor and must match the
    * writer: the subset writer's codes are centroid vec_ids (divisor =
    * its centroidMod); the TRAINED writer's codes are codebook indices
    * (pass 1). */
  def ivfPqSearchPersisted(
      spark: SparkSession,
      indexDir: String,
      embeddings: DataFrame,
      nQueries: Int,
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val queries = queryRows(prefixQueries(embeddings, nQueries))
    ranked(Ann.opened(spark, indexDir, m, dims, centroidMod), queries,
      nprobe, excludeSelf = true, k).top
  }

  /** [[ivfPqSearchPersisted]] serving a STANDALONE query relation — the
    * production signature (FAISS `index.search(xq, k)`, Jégou 2011 §V):
    * `queries` is any (query_id, embedding) DataFrame, NOT rows of the
    * corpus the index was built from. Identical probes/LUT/ADC
    * arithmetic (gate q_ivfpq_persisted_q pins it equal to the
    * vec_id-prefix form on the same fixture); what changes is only
    * where the query vectors come from. `queries` is evaluated ONCE:
    * its quantized rows are collected (nQueries × dims doubles; no job
    * for a local relation) and the driver builds the probes and lookup
    * tables from them. The search is then ONE job over the pruned codes
    * scan ([[ranked]]): the tables ride in its task binary, each task
    * holds a top-k per query (nQueries × k heap entries), and the
    * driver merges the tasks' heaps as they arrive into a local
    * relation (at most nQueries × k rows plus one task's result). A
    * null `query_id`, a repeated `query_id` or a null embedding fails
    * the call, naming the row.
    *
    * `excludeSelf` controls the fixture-era self-exclusion: the default
    * `false` is the FAISS contract (an indexed vector identical to the
    * query IS its nearest neighbor and must surface — external query
    * ids share no id space with the corpus, so filtering
    * `neighbor_id != query_id` would drop an unrelated corpus row);
    * pass `true` only when query ids ARE corpus vec_ids and the caller
    * wants the kNN convention of not returning the query itself. */
  def ivfPqSearchPersistedQ(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      nprobe: Int = 2,
      excludeSelf: Boolean = false): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val qs = queryRows(quantQueries(queries))
    ranked(Ann.opened(spark, indexDir, m, dims, centroidMod), qs,
      nprobe, excludeSelf, k).top
  }

  /** [[ivfPqSearchPersistedQ]] for LITERAL query vectors (id, values) —
    * values in the embedding column's units (quantized internally). */
  def ivfPqSearchPersistedVecs(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[(Long, Array[Double])],
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      nprobe: Int = 2,
      excludeSelf: Boolean = false): DataFrame = {
    require(queries.nonEmpty, "need at least one query vector")
    val df = spark.createDataFrame(
      queries.map { case (id, v) => (id, v.toSeq) })
      .toDF("query_id", "embedding")
    ivfPqSearchPersistedQ(spark, indexDir, df, k, m, dims, centroidMod,
      nprobe, excludeSelf)
  }

  /** [[ivfPqSearchPersistedQ]] + EXACT re-rank from the index's stored
    * raw-vector relation — the complete FAISS IVFPQ+refine SERVING path
    * (`IndexRefineFlat`, Jégou 2011 §VII): the ADC scan (pruned to the
    * probed lists at the parquet reader) surfaces `rerankR` candidates
    * per query, their raw vectors are fetched from `dir/vecs` by a
    * pushed-down id IN over the vec_id clustering key (candidate-scale
    * bytes, not corpus-scale), and the final top-`k` ranking is the
    * exact rounded-cosine arithmetic of [[ivfPqRerank]] — zero
    * quantization error in the result; only coarse-pruning recall loss
    * remains. B47 quantifies both on an adversarial uniform-random 1M
    * corpus: ADC-only recall@10 is 0.23–0.40 over nprobe 1–16, while
    * the reranked path tracks the COARSE CEILING (the fraction of true
    * neighbors whose list was probed — the only loss refine cannot
    * touch) within 0.05 at every nprobe (0.62 vs ceiling 0.64 at
    * nprobe 16). Absolute recall is corpus-geometry-bound: raise
    * nprobe to move the ceiling; the refine stage recovers what the
    * ceiling admits.
    *
    * Requires an index written with `storeVecs = true` (and appends
    * made through [[ivfPqAppendIndex]], which keeps the refine relation
    * in lockstep); fails loudly otherwise. Scale shape: two jobs, no
    * shuffle ([[refine]]). The ADC job ([[ranked]]) ranks the top
    * `rerankR` candidates, each task holding nQueries × rerankR heap
    * entries and the driver the merged candidates (nQueries × rerankR
    * rows, the SAME query-scale bound as the probed-list IN). The fetch
    * job scans vecs pruned to the candidate ids ([[rerankFetch]], ≈ the
    * candidates' rows) and its tasks keep exactly the candidates'
    * rows ([[fetched]]: nQueries × rerankR × dims doubles on the
    * driver, a null vector or coordinate failing by vec_id there). The
    * query rows are collected once and serve both stages: the ADC
    * stage's driver probes and lookup tables, and the exact stage
    * ([[exactTopK]], on the driver) — `queries` is evaluated once per
    * call. Output schema matches [[ivfPqRerank]]: (query_id,
    * neighbor_id, rank, cos_sim), a local relation. */
  def ivfPqRerankPersistedQ(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      rerankR: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      nprobe: Int = 2,
      excludeSelf: Boolean = false): DataFrame = {
    require(rerankR >= k, s"rerankR=$rerankR must be >= k=$k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val root = indexRoot(spark, indexDir)
    require(Index.has(spark, root, "vecs"),
      s"no raw-vector relation at $root/vecs - write the index with " +
        "storeVecs = true to enable the exact re-rank stage")
    val qs = queryRows(quantQueries(queries))
    refine(Ann.opened(spark, indexDir, m, dims, centroidMod), qs, k, rerankR,
      nprobe, excludeSelf, rerankFetch(spark, root, _))
  }

  /** The relation the exact re-rank's fetch scans for the candidate
    * `ids` (sorted, distinct): `root/vecs` as (vec_id, v), the ids
    * (nQueries × rerankR longs, the same query-scale bound as the
    * probed-list IN) pushed down as a chunked IN, so the scan reads
    * only row groups that may hold a candidate; past the chunk budget
    * (B47's operating point is already ~1000 ids) it is ONE range-cover
    * scan ([[prunedScan]]). The fetch job ([[fetched]]) keeps exactly
    * the candidates' rows in its tasks. PlanSpec pins the plan: a
    * pushed In(vec_id), no shuffle, no window. */
  private[graft] def rerankFetch(spark: SparkSession, root: String,
      ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, "no ADC candidates to re-rank - empty index?")
    prunedScan(spark, s"$root/vecs", "vec_id", ids).select("vec_id", "v")
  }

  /** The lifecycle relation at `dir` read with `column` pruned at the
    * scan to `values` (sorted, distinct): a union of In reads CHUNKED to
    * the session's parquet IN-pushdown threshold — above
    * `spark.sql.parquet.pushdown.inFilterThreshold` values Spark
    * silently degrades a pushed In to a [min,max] range, which un-prunes
    * the scan exactly when a workload asks for many values — each chunk
    * a contiguous value range, so its row-group pruning stays tight.
    * Plan-size bound (r19): past [[MaxInChunks]] chunks the plan
    * switches to ONE scan under an OR-of-BETWEEN cover of ≤ 64 merged
    * ranges. A SUPERSET is safe because every caller's tasks keep only
    * the exact values (the ADC kernel's probed-list lookup, the
    * candidate fetch's id lookup) — admitted extras cost scan rows (adjacent row groups on
    * the clustered layout), never wrong results. PlanSpec pins both
    * regimes and their equality. */
  private def prunedScan(spark: SparkSession, dir: String, column: String,
      values: Seq[Long]): DataFrame = {
    val table = graft.ops.Layout.clusteredTable(spark, dir)
    val threshold = math.max(1, spark.conf
      .get("spark.sql.parquet.pushdown.inFilterThreshold", "10").toInt)
    if (values.length <= threshold * MaxInChunks)
      graft.ops.Layout.chunkedIn(spark, table, column, values)
    else graft.ops.Layout.rangeCoverScan(spark, table, column, values)
  }

  // --- The exact refine stage, on the driver ----------------------------
  //
  // Both refine paths ([[ivfPqRerank]], [[ivfPqRerankPersistedQ]])
  // collect their queries, their ADC candidates and the candidates'
  // vectors — all query-scale — and rank here. PropertySpec pins
  // [[exactTopK]] bit-equal to the relational exact stage kept in
  // src/test as the reference.

  /** The (vec_id, v) rows of `vecs` whose vec_id is in the sorted
    * `ids`, in ONE job over `vecs`' own scan: each task keeps the rows
    * its partition holds for a candidate (a repeated row stays
    * repeated) and ships them as they are; the driver fails by vec_id
    * on a null vector or a null coordinate (the dot kernel reads no
    * null). Driver footprint: the candidates' rows, nQueries × rerankR
    * × dims doubles. */
  private[graft] def fetched(vecs: DataFrame,
      ids: Array[Long]): IndexedSeq[(Long, Array[Double])] = {
    val rdd = vecs.select("vec_id", "v").queryExecution.toRdd
    vecs.sparkSession.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) =>
      it.filter(r => java.util.Arrays.binarySearch(ids, r.getLong(0)) >= 0)
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getArray(1).toObjectArray(DoubleType)))
        .toArray)
      .iterator.flatten.map { case (id, v) =>
        (id, vector(s"vec_id $id", if (v == null) null else v.toSeq))
      }.toIndexedSeq
  }

  /** The exact re-rank: per (query, candidate) pair and per vector row
    * of the candidate, `round(dot(q, c) / (sqrt(qn) · sqrt(cn)), 6)` —
    * every dot [[graft.functions.DotProductExpr.dot]], the rounding
    * Spark's double `round` ([[IvfTopListsExpr.round6]], so 0.0 is
    * never −0.0) — ranked per query by (cos_sim desc, neighbor_id asc)
    * under Spark's double ordering, kept to rank ≤ k. The relational
    * stage's inner joins carry over: a candidate with no vector row, or
    * with an unknown query, is dropped; a repeated vector row is ranked
    * once per copy. A zero-norm query or vector throws
    * `ArithmeticException`, as ANSI DIVIDE_BY_ZERO does, naming the id.
    * Driver footprint: the collected inputs, nQueries × rerankR × dims
    * doubles. Rows: (query_id, neighbor_id, rank, cos_sim). */
  private[graft] def exactTopK(
      queries: Seq[(Long, Array[Double])],
      candidates: Seq[(Long, Long)],
      vecRows: Seq[(Long, Array[Double])],
      k: Int): IndexedSeq[(Long, Long, Int, Double)] = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    def withNorm(v: Array[Double]) = {
      val a = ArrayData.toArrayData(v)
      (a, math.sqrt(DotProductExpr.dot(a, a)))
    }
    val qs = queries.map { case (id, v) => id -> withNorm(v) }.toMap
    val vs = vecRows.map { case (id, v) => (id, withNorm(v)) }
      .groupBy(_._1)
    val scored = candidates.flatMap { case (q, n) =>
      qs.get(q).toSeq.flatMap { case (qa, qn) =>
        vs.getOrElse(n, Nil).map { case (_, (ca, cn)) =>
          val div = qn * cn
          if (div == 0.0) throw new ArithmeticException(
            "[DIVIDE_BY_ZERO] zero-magnitude " +
              (if (qn == 0.0) s"query_id $q" else s"vec_id $n") +
              " in the exact re-rank")
          (q, n, IvfTopListsExpr.round6(DotProductExpr.dot(qa, ca) / div))
        }
      }
    }
    val byCosId: ((Long, Long, Double), (Long, Long, Double)) => Boolean =
      (a, b) => {
        val c = SQLOrderingUtil.compareDoubles(a._3, b._3)
        if (c != 0) c > 0 else a._2 < b._2
      }
    scored.groupBy(_._1).toIndexedSeq.sortBy(_._1).flatMap { case (_, rows) =>
      rows.sortWith(byCosId).take(k).zipWithIndex.map {
        case ((q, n, cos), i) => (q, n, i + 1, cos)
      }
    }
  }

  /** The refine stage of both re-rank searches: `ann`'s ADC top-
    * `rerankR` candidates of the collected `queries` ([[ranked]], one
    * job), their vectors [[fetched]] in one job from `vecs(ids)` (the
    * candidates' sorted distinct ids), and [[exactTopK]] over them to
    * top-`k` — a local relation (query_id, neighbor_id, rank, cos_sim).
    * The driver holds nQueries × rerankR candidates and their vectors. */
  private def refine(ann: Ann, queries: IndexedSeq[(Long, Array[Double])],
      k: Int, rerankR: Int, nprobe: Int, excludeSelf: Boolean,
      vecs: Seq[Long] => DataFrame): DataFrame = {
    val adc = ranked(ann, queries, nprobe, excludeSelf, rerankR)
    val cand = adc.rows.map(r => (r._1, r._2))
    val ids = cand.map(_._2).distinct.sorted.toArray
    val rel = vecs(ids.toSeq)
    val rows = if (ids.isEmpty) IndexedSeq.empty else fetched(rel, ids)
    adc.scan.sparkSession.createDataFrame(exactTopK(queries, cand, rows, k))
      .toDF("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** Tombstone index entries by vector id — FAISS `remove_ids` as
    * merge-on-read ([[graft.ops.ClusteredIndex.delete]]): the ids of
    * `vecIds` (a `vec_id` column) that are VISIBLE in the codes
    * relation land in the codes (and vecs) tombstones, every search
    * masks them immediately, and the next [[ivfPqConsolidateIndex]]
    * (or an [[ivfPqOptimizeIndex]] past `maxGenerations`) rewrites them
    * away and retires the tombstones. Absent or already-deleted ids are
    * skipped, so they never block a later append of the same id.
    * Re-appending a deleted vec_id requires a consolidate in between —
    * or use [[ivfPqUpsertIndex]]. Returns the number of visible ids
    * deleted. */
  def ivfPqDeleteIndex(
      spark: SparkSession,
      indexDir: String,
      vecIds: DataFrame): Long =
    Index.delete(spark, indexRoot(spark, indexDir), vecIds)()

  // --- Lloyd-trained PQ codebooks (fixed ksub) ---------------------------
  //
  // pqCodebooks/pqEncode take the deterministic vec_id ≡ 0 (mod
  // centroidMod) SUBSET as the codebook, so ksub = N/centroidMod GROWS
  // with the corpus — at 100× the driver-collect bound trips and every
  // caller must re-tune centroidMod. FAISS instead TRAINS a fixed
  // ksub (=256) per subspace by k-means (Jégou 2011 §III.A) on a
  // training sample; codebook size is then scale-INVARIANT. The trainer
  // below is Lloyd's algorithm run relationally: the assignment step is
  // the pqEncode kernel itself (one narrow codegen'd projection over
  // the training set), the update step a (sub, code, dim) mean — a
  // map-side-combinable aggregate to m·ksub·subDim rows, metadata-sized
  // by construction. A fixed iteration count and deterministic
  // initialization (the ksub smallest training vec_ids, centroid index
  // = rank) keep the whole pipeline engine-replayable: centroids stay
  // integer-valued (means are rounded to 0 dp — milli-unit ints are
  // closed under this), so every distance is exact and the DuckDB
  // oracle reproduces training bit-for-bit (gate q_pq_trained).
  // ScaleBench B33t certifies recall ≥ the subset codebook's at equal
  // index bytes (same ksub).

  /** Lloyd-trained PQ codebooks at fixed `ksub`: `iters` rounds of
    * assign (nearest centroid, exact integer d², tie → lower index) +
    * update (per-dimension mean, rounded to integer; empty clusters
    * keep their previous centroid) over the training subset
    * vec_id ≡ 0 (mod trainMod). Returns ksub × dims centroid rows,
    * centroid c's subspace-s entries at [s·subDim, (s+1)·subDim) —
    * codes from these books are INDICES 0..ksub−1, not vec_ids.
    *
    * Driver footprint: the ksub init rows plus m·ksub·subDim update
    * cells per iteration — fixed by (m, ksub, dims), INDEPENDENT of
    * corpus size; the per-iteration scan is one pqEncode projection +
    * one combinable aggregate over the training subset. */
  def pqTrainCodebooks(
      embeddings: DataFrame,
      m: Int = 8,
      dims: Int = 64,
      ksub: Int = 256,
      iters: Int = 3,
      trainMod: Int = 1): Array[Array[Double]] = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subDim = dims / m
    lloyd(embeddings, ksub, iters, trainMod, "ksub") { (train, books) =>
      train
        .select(col("v"), encodeCol(col("v"), indexed(books), m, subDim)
          .as("codes"))
        .select(col("v"), posexplode(col("codes")).as(Seq("sub", "code")))
        .withColumn("vs", slice(col("v"), col("sub") * subDim + 1, lit(subDim)))
        .select(col("sub"), col("code"), posexplode(col("vs")).as(Seq("d", "x")))
        .groupBy("sub", "code", "d")
        .agg(round(sum("x") / count(lit(1)), 0).as("cx"))
        .select(col("code").cast("int"), col("sub") * subDim + col("d"),
          col("cx"))
    }
  }

  /** Lloyd's loop, shared by both trainers: init = the `n` smallest
    * training vec_ids (vec_id ≡ 0 mod trainMod, quantized through
    * [[storedVec]], so a null coordinate fails by vec_id; centroid
    * index = rank), then `iters` rounds of ONE collected mean-update
    * aggregate — `update(train, centroids)` yields (centroid index,
    * coordinate, new value) cells, and a centroid no cell names (an
    * empty cluster) keeps its previous coordinates. `what` names `n`
    * in the errors. */
  private def lloyd(embeddings: DataFrame, n: Int, iters: Int,
      trainMod: Int, what: String)(
      update: (DataFrame, Array[Array[Double]]) => DataFrame)
      : Array[Array[Double]] = {
    require(n >= 1 && iters >= 0 && trainMod >= 1,
      s"bad $what=$n / iters=$iters / trainMod=$trainMod")
    val train = embeddings
      .where(col("vec_id") % trainMod === 0)
      .select(col("vec_id"), storedVec.as("v"))
    val initRows = train.orderBy("vec_id").limit(n).collect()
    require(initRows.length == n,
      s"training subset ${initRows.length} rows < $what=$n; lower trainMod")
    var cents = initRows.map(_.getSeq[Double](1).toArray)
    var it = 0
    while (it < iters) {
      val next = cents.map(_.clone())
      update(train, cents).collect().foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      }
      cents = next
      it += 1
    }
    cents
  }

  /** [[pqEncode]] with [[pqTrainCodebooks]] — the scale-invariant form:
    * codebook size is ksub regardless of corpus size. `codes[s]` is the
    * trained centroid INDEX (0..ksub−1) for subspace s. */
  def pqEncodeTrained(
      embeddings: DataFrame,
      m: Int = 8,
      dims: Int = 64,
      ksub: Int = 256,
      iters: Int = 3,
      trainMod: Int = 1): DataFrame = {
    val books = pqTrainCodebooks(embeddings, m, dims, ksub, iters, trainMod)
    embeddings.select(col("vec_id"), encodeCol(quantize(col("embedding")),
      indexed(books), m, dims / m).as("codes"))
  }

  /** [[pqSearch]] over the TRAINED codebooks: same ADC shape (per-query
    * LUTs built on the driver from the trained books, scored against
    * the encoded corpus in one job, m-term exact BIGINT sum), codebook entries
    * indexed directly (codes are indices, so the LUT divisor is 1).
    * The query rows are collected at call time, before training.
    * ScaleBench B33t REQUIREs recall ≥ the subset-codebook pqSearch at
    * the same ksub. */
  def pqSearchTrained(
      embeddings: DataFrame,
      nQueries: Int,
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      ksub: Int = 256,
      iters: Int = 3,
      trainMod: Int = 1): DataFrame = {
    val queries = queryRows(prefixQueries(embeddings, nQueries))
    ranked(Ann.built(embeddings, m, dims, None,
      Trained(ksub, iters, trainMod)), queries, 1, excludeSelf = true, k).top
  }

  /** [[pqSearchTrained]] serving a STANDALONE (query_id, embedding)
    * query relation — see [[ivfPqSearchPersistedQ]] for the signature
    * rationale and the `excludeSelf` contract. */
  def pqSearchTrainedQ(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      ksub: Int = 256,
      iters: Int = 3,
      trainMod: Int = 1,
      excludeSelf: Boolean = false): DataFrame = {
    val qs = queryRows(quantQueries(queries))
    ranked(Ann.built(embeddings, m, dims, None,
      Trained(ksub, iters, trainMod)), qs, 1, excludeSelf, k).top
  }

  // --- Lloyd-trained coarse quantizer (fixed nlists) ---------------------
  //
  // The same scale-invariance story as [[pqTrainCodebooks]], for the
  // OTHER half of the IVF+PQ index: [[ivfAssign]]'s coarse centroids are
  // the vec_id ≡ 0 (mod coarseMod) subset, so nlists = N/coarseMod grows
  // with the corpus; FAISS trains a FIXED nlists by k-means. Assignment
  // is by max cosine — and cosine is invariant to centroid scaling, so
  // the plain per-dimension mean update IS spherical k-means (the
  // normalization step changes nothing the assignment can see) — with
  // the same determinism contract: init = the nlists smallest training
  // vec_ids (list index = rank), fixed iterations, means rounded to
  // integer, cosine rounded to 6 dp with ties to the lower list index.
  // Gate q_ivf_trained replays training + the full-corpus assignment in
  // DuckDB; ScaleBench B45 proves the fully-trained composition at 1M.

  /** Lloyd-trained coarse centroids at fixed `nlists`: `iters` rounds of
    * (max-rounded-cosine assign, tie → lower index) + (per-dim mean,
    * rounded to integer; empty lists keep their centroid) over the
    * vec_id ≡ 0 (mod trainMod) subset. Returns nlists × dims rows —
    * list ids are INDICES 0..nlists−1. Driver footprint: nlists × dims
    * cells per iteration, corpus-size-independent. */
  def ivfTrainCentroids(
      embeddings: DataFrame,
      dims: Int = 64,
      nlists: Int = 16,
      iters: Int = 2,
      trainMod: Int = 1): Array[Array[Double]] = {
    // the assignment is a pure per-row function of v against the
    // driver-resident centroids: one narrow kernel, no join or exchange
    lloyd(embeddings, nlists, iters, trainMod, "nlists") { (train, cents) =>
      train
        .select(element_at(IvfTopListsExpr.col(col("v"), cents,
          Array.tabulate(nlists)(_.toLong), 1), 1).as("list_id"),
          posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("list_id", "d")
        .agg(round(sum("x") / count(lit(1)), 0).as("cx"))
        .select(col("list_id").cast("int"), col("d"), col("cx"))
    }
  }

  /** [[ivfAssign]] against TRAINED centroids: every vector to its
    * max-rounded-cosine trained list (tie → lower index) —
    * `(vec_id, list_id)`, list ids 0..nlists−1. */
  def ivfAssignTrained(
      embeddings: DataFrame,
      dims: Int = 64,
      nlists: Int = 16,
      iters: Int = 2,
      trainMod: Int = 1): DataFrame = {
    val cents = ivfTrainCentroids(embeddings, dims, nlists, iters, trainMod)
    // narrow kernel over the corpus scan (r22) — the relational assign
    // aggregate's exchange removed; arithmetic contract identical
    embeddings.select(col("vec_id"),
      element_at(graft.functions.IvfTopListsExpr.col(
        quantize(col("embedding")), cents,
        Array.tabulate(nlists)(_.toLong), 1), 1).as("list_id"))
  }

  /** FULLY-trained IVF+PQ search — [[ivfPqSearch]] with BOTH index
    * halves scale-invariant: trained coarse lists ([[ivfTrainCentroids]],
    * fixed nlists) and trained PQ codebooks ([[pqTrainCodebooks]], fixed
    * ksub) — the complete FAISS IVFPQ training recipe (coarse k-means +
    * per-subspace k-means, Jégou 2011 §III–IV, by_residual=false). Scan
    * shape identical to [[ivfPqSearch]]: each encoded corpus row scored
    * against the (query, probed list, LUT) entries of its `list_id`,
    * ~nprobe/nlists of the corpus scored. Probes and LUTs come from the
    * driver stage ([[probeLuts]]) over the trained centroids (list ids
    * 0..nlists−1) and books (divisor 1) the trainers already return as
    * driver arrays; the query rows are collected at call time. Same
    * determinism contract as every trained path; gate q_ivfpq_trained
    * replays both trainings + the composed search in DuckDB. */
  def ivfPqSearchTrainedFull(
      embeddings: DataFrame,
      nQueries: Int,
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      ksub: Int = 16,
      nlists: Int = 8,
      iters: Int = 1,
      trainMod: Int = 1,
      nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val queries = queryRows(prefixQueries(embeddings, nQueries))
    ranked(Ann.built(embeddings, m, dims,
      Some(Trained(nlists, iters, trainMod)), Trained(ksub, iters, trainMod)),
      queries, nprobe, excludeSelf = true, k).top
  }

  /** The query-prefix convention as a (query_id, v) relation: queries
    * are the corpus rows vec_id < nQueries, quantized — the fixture
    * form every `nQueries`-taking operator uses. */
  private[graft] def prefixQueries(
      embeddings: DataFrame, nQueries: Int): DataFrame =
    embeddings
      .where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), quantize(col("embedding")).as("v"))

  /** A STANDALONE (query_id, embedding) relation as the internal
    * (query_id, v) quantized form — the production query shape (FAISS's
    * `index.search(xq, k)`: queries need not live in the corpus). */
  private def quantQueries(queries: DataFrame): DataFrame =
    queries.select(col("query_id").cast("long").as("query_id"),
      quantize(col("embedding")).as("v"))

  /** A (query_id, v) query relation collected to the driver — every
    * ADC search's ONE evaluation of the caller's queries (nQueries ×
    * dims doubles, query-scale), at call time. Fails loudly, naming the
    * row, on inputs a relational query stage answered silently: a
    * repeated query_id (its queries' candidates merged into ONE top-k),
    * a null embedding (neighbors ranked with a null adc_dist) and a null
    * coordinate (read as 0.0). */
  private[graft] def queryRows(
      qv: DataFrame): IndexedSeq[(Long, Array[Double])] = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    qv.select("query_id", "v").collect().toIndexedSeq.map { r =>
      require(!r.isNullAt(0), "a query row has a null query_id")
      val id = r.getLong(0)
      val v = coords(r, 1, s"query_id $id")
      require(seen.add(id),
        s"query_id $id appears more than once in the query relation")
      (id, v)
    }
  }

  /** Field `i` of `r`, an array of doubles, as a driver vector — failing
    * on a null array or a null coordinate, naming the row as `what`. */
  private def coords(r: Row, i: Int, what: String): Array[Double] =
    vector(what, if (r.isNullAt(i)) null else r.getSeq[Any](i))

  /** `xs` as a driver vector, failing on a null array or a null
    * coordinate, naming the row as `what`. */
  private def vector(what: String, xs: collection.Seq[Any]): Array[Double] = {
    require(xs != null, s"$what has a null embedding")
    require(!xs.contains(null), s"$what has a null coordinate")
    xs.iterator.map(_.asInstanceOf[Double]).toArray
  }

  // --- The ADC index value and its one scoring path --------------------
  //
  // FAISS's index factory (Douze et al. 2024, "The Faiss library") treats
  // flat or inverted, subset or trained books, raw or residual codes and
  // in-memory or on-disk storage as fields of ONE index value; [[Ann]] is
  // that value here, built in-plan ([[Ann.built]]) or opened from a
  // persisted index ([[Ann.opened]]), and every PQ and IVF+PQ search
  // ranks through [[ranked]].
  //
  // The query stage runs on the driver: every search builds its probes
  // and lookup tables from query rows collected once ([[queryRows]]) and
  // the centroid sets the build or the metadata cache already holds.
  // Both are query-scale: probes are nQueries × nprobe ids, and the
  // lookup tables nQueries × nprobe × m × ksub doubles (nQueries × m ×
  // ksub for the flat and raw forms, whose probes share one table). The
  // tables ride in the task closure of ONE job over the index's codes
  // scan, which Spark broadcasts once as the task binary: each task
  // scores its codes rows against the tables of the queries that probe
  // their list and keeps a bounded top-k per query; the driver merges
  // the tasks' top-k as they arrive (the local-top-k-then-merge of
  // REPOSE, ICDE 2021). No exchange, no broadcast relation and no
  // engine top-k remain. No arithmetic is written twice: probes are
  // [[graft.functions.IvfTopListsExpr.topLists]] and every dot is
  // [[graft.functions.DotProductExpr.dot]]. PropertySpec pins the stage
  // bit-equal to the relational probes + LUT fold, and the kernel
  // bit-equal to the relational scan and engine top-k, both kept in
  // src/test as references.

  /** One ADC index. `codes(probed)` is the index relation a search over
    * the sorted distinct `probed` lists scans — (neighbor_id, list_id,
    * codes), or flat PQ's (neighbor_id, codes) when there is no
    * `coarse` set; `book` the cut codebook of the lookup tables and
    * `divisor` its code → slot map; `residual` codes quantize each
    * vector's offset from its list's centroid (per-probe tables);
    * `spilled` copies of a vector in several lists share their codes
    * ([[ranked]] keeps each neighbor once, at its least distance). */
  private[graft] final case class Ann(
      codes: Seq[Long] => DataFrame,
      coarse: Option[Cents],
      book: AdcBook,
      divisor: Int,
      residual: Boolean,
      spilled: Boolean)

  private[graft] object Ann {

    /** An in-plan index over `vecs` (vec_id, embedding): its coarse set
      * (none: flat PQ) and book resolved on the driver, every vector
      * encoded by the one index projection ([[indexFrom]]) in its
      * nearest list. `residual` trains the book on the subset's
      * residuals — each book row minus the centroid of its nearest list
      * — and encodes residuals. `codes` ignores the probed lists:
      * [[ranked]]'s tasks skip the rows of unprobed lists. */
    def built(vecs: DataFrame, m: Int, dims: Int, coarse: Option[From],
        book: From, residual: Boolean = false): Ann = {
      require(m >= 1 && dims % m == 0, s"dims=$dims not divisible by m=$m")
      val cs = coarse.map(coarseOf(vecs, dims, _))
      val raw = bookOf(vecs, m, dims, book)
      val rows = if (!residual) raw else {
        val c = cs.get
        val res = raw.flatMap { case (id, v) =>
          probes(v, c, 1).map { list =>
            val cv = c.vs(java.util.Arrays.binarySearch(c.ids, list))
            (id, Array.tabulate(v.length)(i => v(i) - cv(i)))
          }
        }
        require(res.nonEmpty, "empty residual PQ codebook")
        res
      }
      val index = indexFrom(vecs, cs, rows, m, dims / m, 1, residual)
      Ann(_ => index, cs, adcBook(rows, m, dims / m, book.divisor),
        book.divisor, residual, spilled = false)
    }

    /** The persisted index at `dir` (its live root): the coarse
      * centroids and the book from the driver metadata cache
      * ([[centsCached]], [[bookCached]]), `codes` the lifecycle reader
      * of `codes` — tombstoned neighbors ([[ivfPqDeleteIndex]]) masked —
      * pruned AT THE SCAN to the probed lists ([[prunedScan]]), and
      * `spilled` from the writer's `_spill` marker. `divisor` must match
      * the writer: the subset writer's centroidMod, 1 for trained books. */
    def opened(spark: SparkSession, dir: String, m: Int, dims: Int,
        divisor: Int): Ann = {
      require(m >= 1 && dims % m == 0, s"dims=$dims not divisible by m=$m")
      val root = indexRoot(spark, dir)
      Ann(lists => {
        require(lists.nonEmpty, "no probed lists - is the query relation empty?")
        prunedScan(spark, s"$root/codes", "list_id", lists)
      }, Some(centsCached(spark, root)),
        adcBook(bookCached(spark, root), m, dims / m, divisor), divisor,
        residual = false, spilled = spillDegree(spark, root) > 1)
    }
  }

  /** Where a build takes a centroid set from: the corpus rows vec_id ≡ 0
    * (mod `mod`), whose ids are vec_ids (LUT divisor `mod`), or `n`
    * Lloyd-trained centroids, whose ids are indices (divisor 1). */
  private[graft] sealed trait From { def divisor: Int }
  private[graft] final case class Subset(mod: Int) extends From {
    def divisor: Int = mod
  }
  private[graft] final case class Trained(n: Int, iters: Int, trainMod: Int)
      extends From {
    def divisor: Int = 1
  }

  /** A coarse centroid set, on the driver. */
  private def coarseOf(vecs: DataFrame, dims: Int, from: From): Cents =
    from match {
      case Subset(mod) => coarseSet(vecs, mod)
      case Trained(n, iters, trainMod) =>
        centsOf(indexed(ivfTrainCentroids(vecs, dims, n, iters, trainMod)))
    }

  /** A PQ book as (centroid_id, v) rows, ids ascending, on the driver. */
  private def bookOf(vecs: DataFrame, m: Int, dims: Int,
      from: From): IndexedSeq[(Long, Array[Double])] = from match {
    case Subset(mod) => codebook(vecs, dims, mod)
    case Trained(n, iters, trainMod) =>
      indexed(pqTrainCodebooks(vecs, m, dims, n, iters, trainMod))
  }

  /** What one ADC search ranked ([[ranked]]): per query its top-k
    * (query_id, neighbor_id, rank, adc_dist) rows, by query then rank;
    * `pairs`, the (query, codes row) pairs its job scored; `scan`, the
    * codes relation the job ran (its scan metrics hold the job's reads);
    * and `shipped`, the most rows one task sent the driver for one
    * query. */
  private[graft] final case class Ranked(
      rows: IndexedSeq[(Long, Long, Int, Long)], pairs: Long,
      scan: DataFrame, shipped: Int) {

    /** `rows` as a local relation. */
    def top: DataFrame = scan.sparkSession.createDataFrame(rows)
      .toDF("query_id", "neighbor_id", "rank", "adc_dist")
  }

  /** `ann`'s top-`k` neighbors of the collected `queries`, in ONE job:
    * the flat lookup tables (one per query, every codes row), or the
    * per-probe ones of each query's `nprobe` nearest lists (raw: the
    * query's one table, [[probeLuts]]; residual: one per probe,
    * [[residualLuts]]), ride in the task closure; the job runs over
    * `ann.codes(probed lists)`. Each task scores every codes row
    * against the tables of the queries that probe its list
    * ([[AdcTask]]: the ADC sum, `excludeSelf` applied) and
    * keeps a top-k per query ([[AdcHeap]]); the driver merges the
    * tasks' heaps as they arrive.
    *
    * Order: (adc_dist asc, neighbor_id asc), ranks 1..min(k, n), no row
    * for a query without a candidate. On a spilled index a neighbor is
    * ranked once, at its least distance (its copies share their codes,
    * so their distances are equal); otherwise a repeated codes row is
    * ranked once per copy. Bounds: each task holds nQueries × k heap
    * entries, the driver nQueries × k rows plus one task's result. */
  private[graft] def ranked(ann: Ann, queries: Seq[(Long, Array[Double])],
      nprobe: Int, excludeSelf: Boolean, k: Int): Ranked = {
    require(k >= 1, s"top-k needs k >= 1, got $k")
    val qs = queries.toIndexedSeq
    val qi = qs.map(_._1).zipWithIndex.toMap
    val nb = ann.book.cells(0).length
    def flat(t: Seq[Seq[Double]]) = t.flatten.toArray
    val (scan, lists, from, qOf, tables, tOf) = ann.coarse match {
      case None =>
        (ann.codes(Nil).select("neighbor_id", "codes"), null, Array(0, qs.length),
          qs.indices.toArray, qs.map(q => flat(luts(q._2, ann.book))).toArray,
          qs.indices.toArray)
      case Some(cs) =>
        val rows = (if (ann.residual) residualLuts(qs, cs, ann.book, nprobe)
          else probeLuts(qs, cs, ann.book, nprobe)).sortBy(_._2)
        // a raw query's probes share one table object: flatten it once
        val ti = new java.util.IdentityHashMap[Seq[Seq[Double]], Integer]()
        rows.foreach(r => ti.putIfAbsent(r._3, ti.size))
        val tables = new Array[Array[Double]](ti.size)
        ti.forEach((t, i) => tables(i) = flat(t))
        val lists = rows.map(_._2).distinct.toArray
        (ann.codes(lists.toSeq).select("neighbor_id", "codes", "list_id"), lists,
          (0 to rows.length).filter(i => i == 0 || i == rows.length ||
            rows(i)._2 != rows(i - 1)._2).toArray,
          rows.map(r => qi(r._1)).toArray, tables,
          rows.map(r => ti.get(r._3).intValue).toArray)
    }
    val task = AdcTask(qs.map(_._1).toArray, tables, nb, ann.book.m,
      ann.divisor, lists, from, qOf, tOf, excludeSelf, k, ann.spilled)
    val top = new Array[AdcHeap](qs.length)
    var pairs = 0L
    var shipped = 0
    scan.sparkSession.sparkContext.runJob(scan.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => task.run(it),
      (_: Int, part: AdcPart) => {
        pairs += part.pairs
        part.heaps.indices.foreach { q =>
          val h = part.heaps(q)
          if (h != null) {
            shipped = math.max(shipped, h.size)
            if (top(q) == null) top(q) = new AdcHeap(k, ann.spilled)
            top(q).merge(h)
          }
        }
      })
    val rows = qs.indices.sortBy(qs(_)._1).flatMap { q =>
      Option(top(q)).toSeq.flatMap(_.sorted.zipWithIndex.map {
        case ((d, n), i) => (qs(q)._1, n, i + 1, d)
      })
    }
    Ranked(rows, pairs, scan, shipped)
  }

  /** One task's share of a [[ranked]] job: per query (by index) its
    * heap, null when no row of the task scored for it, and the pairs
    * the task scored. */
  private final case class AdcPart(heaps: Array[AdcHeap], pairs: Long)

  /** The task side of [[ranked]]. Rows are (neighbor_id, codes) for a
    * flat index (`lists` null: every query scores every row), else
    * (neighbor_id, codes, list_id), whose list's entries are
    * `from(i) until from(i + 1)` for `lists(i)` (sorted): entry e
    * scores query `qOf(e)` with table `tables(tOf(e))`. A table is m
    * runs of `nb` slots, slot-ordered as [[luts]] orders them. */
  private final case class AdcTask(qids: Array[Long],
      tables: Array[Array[Double]], nb: Int, m: Int, divisor: Int,
      lists: Array[Long], from: Array[Int], qOf: Array[Int], tOf: Array[Int],
      excludeSelf: Boolean, k: Int, dedup: Boolean) {

    def run(it: Iterator[InternalRow]): AdcPart = {
      val heaps = new Array[AdcHeap](qids.length)
      val pos = new Array[Int](m)
      var pairs = 0L
      var list = 0L
      var lo = 0
      var hi = if (lists == null) qOf.length else 0
      var seen = false
      it.foreach { r =>
        if (lists != null && (!seen || r.getLong(2) != list)) {
          list = r.getLong(2)
          seen = true
          val i = java.util.Arrays.binarySearch(lists, list)
          lo = if (i < 0) 0 else from(i)
          hi = if (i < 0) 0 else from(i + 1)
        }
        val n = r.getLong(0)
        var slotted = false
        var e = lo
        while (e < hi) {
          val q = qOf(e)
          if (!excludeSelf || n != qids(q)) {
            if (!slotted) { slots(r, n, pos); slotted = true }
            val t = tables(tOf(e))
            var sum = t(pos(0))
            var s = 1
            while (s < m) { sum += t(pos(s)); s += 1 }
            if (heaps(q) == null) heaps(q) = new AdcHeap(k, dedup)
            heaps(q).offer(sum.toLong, n)
            pairs += 1
          }
          e += 1
        }
      }
      AdcPart(heaps, pairs)
    }

    /** Each subspace's table position of row `r`'s codes, the slot the
      * relational ADC sum read: `element_at(luts[s], int(code[s] /
      * divisor) + 1)`. A short codes array, or a code with no slot in
      * the table, fails the call as ANSI `element_at` does; a null codes
      * row (a null vector in a flat index) fails by neighbor_id. */
    private def slots(r: InternalRow, n: Long, pos: Array[Int]): Unit = {
      require(!r.isNullAt(1), s"neighbor_id $n has null codes")
      val codes = r.getArray(1)
      var s = 0
      while (s < m) {
        if (s >= codes.numElements()) outOfBounds(s + 1, codes.numElements())
        val i = (codes.getLong(s).toDouble / divisor).toInt + 1
        if (i < 1 || i > nb) outOfBounds(i, nb)
        pos(s) = s * nb + i - 1
        s += 1
      }
    }
  }

  private def outOfBounds(i: Int, size: Int): Nothing =
    throw new ArrayIndexOutOfBoundsException("[INVALID_ARRAY_INDEX_IN_ELEMENT_AT] " +
      s"The index $i is out of bounds. The array has $size elements.")

  /** A bounded top-`k` by (adc_dist asc, neighbor_id asc), the worst at
    * the head. With `dedup` a neighbor is held once, at its least
    * distance. */
  private[graft] final class AdcHeap(k: Int, dedup: Boolean)
      extends Serializable {
    private val q = new java.util.PriorityQueue[(Long, Long)](
      math.min(k, 16), AdcHeap.worstFirst)

    def size: Int = q.size

    def offer(d: Long, n: Long): Unit = {
      val w = q.peek
      if (q.size < k || d < w._1 || (d == w._1 && n < w._2)) {
        val held = if (dedup) q.iterator.asScala.find(_._2 == n) else None
        held match {
          case Some(h) => if (d < h._1) { q.remove(h); q.add((d, n)) }
          case None => if (q.size == k) q.poll(); q.add((d, n))
        }
      }
    }

    def merge(o: AdcHeap): Unit = o.q.forEach(e => offer(e._1, e._2))

    /** The entries as (adc_dist, neighbor_id), best first. */
    def sorted: IndexedSeq[(Long, Long)] = q.asScala.toIndexedSeq.sorted
  }

  private object AdcHeap {
    val worstFirst: Ordering[(Long, Long)] = Ordering[(Long, Long)].reverse
  }

  /** A centroid set on the driver, ids ascending: each id's vector and
    * its `cn` — the stored self-dot — with the sqrt [[probes]] divides by. */
  private[graft] final case class Cents(
      ids: Array[Long], vs: Array[Array[Double]], cn: Array[Double]) {
    val sqrtCn: Array[Double] = cn.map(math.sqrt)
  }

  /** [[Cents]] from (id, v, cn) rows in any order — `cn` as stored. */
  private[graft] def cents(rows: Seq[(Long, Array[Double], Double)]): Cents = {
    val byId = rows.sortBy(_._1)
    Cents(byId.map(_._1).toArray, byId.map(_._2).toArray,
      byId.map(_._3).toArray)
  }

  /** [[Cents]] from (id, v) rows, each `cn` the vector's index-order
    * self-dot — the value both writers store. */
  private def centsOf(rows: Seq[(Long, Array[Double])]): Cents =
    cents(rows.map { case (id, v) =>
      val a = ArrayData.toArrayData(v)
      (id, v, DotProductExpr.dot(a, a))
    })

  /** The coarse subset (vec_id ≡ 0 mod coarseMod) collected to the
    * driver — metadata-sized, bounded like [[codebook]]. */
  private def coarseSet(embeddings: DataFrame, coarseMod: Int): Cents = {
    val rows = subsetRows(embeddings, coarseMod)
    val cells = rows.iterator.map(_._2.length.toLong).sum
    require(cells <= (16L << 20),
      s"coarse centroid set ${rows.length} rows / $cells cells exceeds " +
        "the driver bound; raise coarseMod")
    centsOf(rows)
  }

  /** Trained centroids or books as (index, v) rows — their ids ARE the
    * indices 0..n−1 (so the LUT divisor is 1). */
  private def indexed(vs: Array[Array[Double]]): IndexedSeq[(Long, Array[Double])] =
    vs.indices.map(i => (i.toLong, vs(i)))

  /** A query's `nprobe` probed lists, nearest first — the probe
    * decision: rounded cosine against every centroid, ordered (cos
    * desc, list_id), exactly [[ivfAssign]]'s arithmetic. It IS the
    * coarse-assignment kernel [[graft.functions.IvfTopListsExpr.topLists]],
    * fed the centroids' `cn`; a zero-magnitude query throws
    * `ArithmeticException` (DIVIDE_BY_ZERO), as the relational cosine
    * does. */
  private[graft] def probes(v: Array[Double], cs: Cents, nprobe: Int): Array[Long] =
    IvfTopListsExpr.topLists(ArrayData.toArrayData(v), cs.vs, cs.sqrtCn,
      cs.ids, nprobe)

  /** Codebook rows cut for [[luts]]: per subspace s, each row's (ci, cs,
    * cn) — ci = `(centroid_id / divisor)` as a double division cast to
    * int (the code → LUT-slot map [[ranked]] applies: the subset
    * writer's ids are multiples of its centroidMod, trained ids are
    * indices with divisor 1), cs the s-th subvector under Spark `slice`
    * semantics, cn its self-dot. Rows in any order. */
  private[graft] final case class AdcBook(
      m: Int, subDim: Int, cells: Array[Array[(Int, ArrayData, Double)]])

  private[graft] def adcBook(book: Seq[(Long, Array[Double])], m: Int,
      subDim: Int, divisor: Int): AdcBook =
    AdcBook(m, subDim, Array.tabulate(m) { s =>
      book.map { case (cid, bv) =>
        val cs = subvector(bv, s, subDim)
        ((cid.toDouble / divisor).toInt, cs, DotProductExpr.dot(cs, cs))
      }.toArray
    })

  // Spark `slice(v, s·subDim + 1, subDim)`: clamped, empty past the end
  private def subvector(v: Array[Double], s: Int, subDim: Int): ArrayData =
    ArrayData.toArrayData(v.slice(s * subDim, s * subDim + subDim))

  private val byCiPd: ((Int, Double), (Int, Double)) => Boolean = (a, b) =>
    if (a._1 != b._1) a._1 < b._1
    else SQLOrderingUtil.compareDoubles(a._2, b._2) < 0

  /** The ADC lookup tables of query vector `v`: luts(s)(ci) is the
    * squared distance of v's s-th subvector to codebook slot ci,
    * `(vn − 2·dot(vs, cs)) + cn` in that order on quantized
    * integer-valued doubles, each subspace's cells ordered by (ci, pd)
    * under Spark's double ordering. Footprint: m × ksub doubles per
    * call. */
  private[graft] def luts(v: Array[Double], book: AdcBook): Seq[Seq[Double]] =
    Vector.tabulate(book.m) { s =>
      val vs = subvector(v, s, book.subDim)
      val vn = DotProductExpr.dot(vs, vs)
      book.cells(s).map { case (ci, cs, cn) =>
        (ci, (vn - 2.0 * DotProductExpr.dot(vs, cs)) + cn)
      }.sortWith(byCiPd).map(_._2).toSeq
    }

  /** Raw IVF+PQ: each query's probes, each carrying the query's ONE set
    * of lookup tables — (query_id, list_id, luts) rows in probe order.
    * nQueries × nprobe rows sharing nQueries × m × ksub doubles. */
  private[graft] def probeLuts(queries: Seq[(Long, Array[Double])],
      cs: Cents, book: AdcBook,
      nprobe: Int): IndexedSeq[(Long, Long, Seq[Seq[Double]])] =
    queries.toIndexedSeq.flatMap { case (q, v) =>
      val t = luts(v, book)
      probes(v, cs, nprobe).map(list => (q, list, t))
    }

  /** Residual IVF+PQ: per (query, probed list) the lookup tables of the
    * query RESIDUAL v − c(list) — (query_id, list_id, luts) rows,
    * nQueries × nprobe × m × ksub doubles. A query whose length differs
    * from its probed centroid's has no residual: it fails, naming the
    * query_id (a relational `zip_with` pads the shorter side with null,
    * which the dot kernel reads as 0.0 — a silently wrong table). */
  private[graft] def residualLuts(queries: Seq[(Long, Array[Double])],
      cs: Cents, book: AdcBook,
      nprobe: Int): IndexedSeq[(Long, Long, Seq[Seq[Double]])] =
    queries.toIndexedSeq.flatMap { case (q, v) =>
      probes(v, cs, nprobe).map { list =>
        val c = cs.vs(java.util.Arrays.binarySearch(cs.ids, list))
        require(v.length == c.length, s"query_id $q has ${v.length} " +
          s"elements, its probed list $list's centroid ${c.length}")
        (q, list, luts(Array.tabulate(v.length)(i => v(i) - c(i)), book))
      }
    }

  /** IVF+PQ with RESIDUAL quantization — the FAISS IVFPQ DEFAULT
    * (`by_residual=true`, Jégou 2011 §IV.C): codes quantize x − c(list)
    * instead of x. Residuals concentrate near the origin, so the same
    * m-code budget spends its resolution on the within-cell offset
    * rather than re-describing the cell — better recall at identical
    * index bytes, the reason FAISS defaults to it.
    *
    * Structural consequence: the ADC lookup table becomes PER
    * (query, probed list) — the table is built against the query
    * residual q − c(list), which differs per probed list — and that is
    * EXACTLY the (query, list) entry shape the composed search already
    * matches rows to ([[ivfPqSearch]]'s probe LUTs), so the scan shape
    * is unchanged: each residual-encoded corpus row against the
    * nQueries·nprobe LUT entries of its `list_id` ([[ranked]]),
    * scanning ~nprobe/nlists of the corpus. Those rows are built on the driver
    * ([[residualLuts]]: nQueries × nprobe × m × ksub doubles) from the
    * query rows, collected at call time, and the coarse centroids and
    * residual codebook rows the index build collects
    * ([[Ann.built]]); a query of another length than the
    * centroids has no residual and fails, naming its query_id.
    * Residual codebooks are trained on
    * the residuals of the same deterministic subset (vec_id ≡ 0 mod
    * centroidMod). All arithmetic stays exact: quantized milli-unit
    * integers are closed under subtraction, so residual vectors,
    * codebooks and LUT entries remain integer-valued doubles and the
    * ADC sum is an exact BIGINT — engine-portable for the gate oracle.
    * Same two approximation sources as [[ivfPqSearch]] (quantization
    * error — smaller here, ScaleBench-certified — and coarse pruning). */
  def ivfPqResidualSearch(
      embeddings: DataFrame,
      nQueries: Int,
      k: Int,
      m: Int = 8,
      dims: Int = 64,
      centroidMod: Int = 97,
      coarseMod: Int = 83,
      nprobe: Int = 2): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val queries = queryRows(prefixQueries(embeddings, nQueries))
    ranked(Ann.built(embeddings, m, dims, Some(Subset(coarseMod)),
      Subset(centroidMod), residual = true), queries, nprobe,
      excludeSelf = true, k).top
  }

  /** Deterministic (cos_sim desc, neighbor_id) top-k per query of a
    * scored (query_id, neighbor_id, cos_sim) relation — the exact-cosine
    * tail of the corpus-scale brute-force and IVF searches. */
  private def cosTopK(scored: DataFrame, k: Int): DataFrame =
    graft.ops.TopK.perGroup(scored, Seq(col("query_id")),
        Seq(col("cos_sim").desc, col("neighbor_id")), k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
}
