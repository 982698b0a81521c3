package graft

import graft.similarity.Similarity

/** M70 product quantization: codebook construction, nearest-subcentroid
  * encoding, and ADC search (Jégou 2011). Hand-computable 4-dim / 2-subspace
  * fixture; centroidMod = 2 makes even vec_ids the codebook. */
class PqSpec extends SparkSpec {

  private def emb(rows: (Long, Seq[Float])*) =
    spark.createDataFrame(rows.map { case (id, v) => (id, v) })
      .toDF("vec_id", "embedding")

  // centroids (even ids): v0 = (1,0 | 0,1), v2 = (0,1 | 1,0)
  private val e = emb(
    (0L, Seq(1f, 0f, 0f, 1f)),
    (1L, Seq(1f, 0f, 1f, 0f)), // sub0 ~ v0, sub1 ~ v2
    (2L, Seq(0f, 1f, 1f, 0f)),
    (3L, Seq(0.9f, 0.1f, 0.1f, 0.9f))) // both subs ~ v0

  /** The in-plan subset IVF+PQ search's candidate relation before
    * top-k (m = 2, dims = 4), queries vec_id < nQueries. */
  private def inPlanScored(vecs: org.apache.spark.sql.DataFrame,
      nQueries: Int, centroidMod: Int, coarseMod: Int, nprobe: Int,
      residual: Boolean = false) =
    Similarity.scored(Similarity.Ann.built(vecs, m = 2, dims = 4,
      Some(Similarity.Subset(coarseMod)), Similarity.Subset(centroidMod),
      residual), Similarity.queryRows(Similarity.prefixQueries(vecs, nQueries)),
      nprobe, excludeSelf = true)

  private def codesOf(m: Int = 2): Map[Long, Seq[Long]] =
    Similarity.pqEncode(e, m = m, dims = 4, centroidMod = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap

  test("pqEncode assigns each subvector to its nearest codebook entry") {
    val c = codesOf()
    assert(c(1L) == Seq(0L, 2L)) // mixed: first half from v0, second from v2
    assert(c(3L) == Seq(0L, 0L))
  }

  test("pqEncode maps a codebook vector to itself (zero distance)") {
    val c = codesOf()
    assert(c(0L) == Seq(0L, 0L))
    assert(c(2L) == Seq(2L, 2L))
  }

  test("pqSearch ADC distance is the exact sum of per-subspace code distances") {
    // query v0 (quantized milli-units): d(sub, code) hand-computed below
    val out = Similarity.pqSearch(e, nQueries = 1, k = 3, m = 2, dims = 4,
      centroidMod = 2).collect()
      .map(r => r.getLong(1) -> (r.getInt(2), r.getLong(3))).toMap
    assert(out(3L) == ((1, 0L))) // codes [0,0] -> both table entries 0
    assert(out(1L) == ((2, 2000000L))) // sub1 code 2: 1000^2 + 1000^2
    assert(out(2L) == ((3, 4000000L))) // both subs code 2
  }

  test("pqSearch never returns the query itself") {
    val out = Similarity.pqSearch(e, nQueries = 4, k = 3, m = 2, dims = 4,
      centroidMod = 2).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("pqCodebooks is metadata-sized; encode is one narrow projection") {
    val books = Similarity.pqCodebooks(e, m = 2, dims = 4, centroidMod = 2)
    assert(books.count() == 4) // 2 centroids x 2 subspaces
    // the codegen'd kernel plan: no join, no aggregate, no exchange —
    // encode cost is one pass over the corpus (a range input, because
    // the 4-row local fixture constant-folds to a LocalTableScan)
    import org.apache.spark.sql.functions._
    val big = spark.range(1000L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (col("id") % 7 + d).cast("float")).as("embedding"))
    val plan = Similarity.pqEncode(big, m = 2, dims = 4, centroidMod = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange") &&
      !plan.contains("HashAggregate"), plan)
    assert(plan.contains("pq_encode"), plan)
  }

  test("ivfPqSearch with nprobe >= nlists degenerates to pqSearch exactly") {
    // a larger deterministic fixture so lists are non-trivial: 60
    // vectors, coarseMod = 20 -> 3 coarse lists (ids 0, 20, 40)
    import org.apache.spark.sql.functions._
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val full = rows(Similarity.pqSearch(big, nQueries = 5, k = 4,
      m = 2, dims = 4, centroidMod = 7))
    val ivfAll = rows(Similarity.ivfPqSearch(big, nQueries = 5, k = 4,
      m = 2, dims = 4, centroidMod = 7, coarseMod = 20, nprobe = 3))
    assert(ivfAll == full)
  }

  test("ivfPqSearch scans only probed lists: every hit's list is probed") {
    import org.apache.spark.sql.functions._
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val out = Similarity.ivfPqSearch(big, nQueries = 5, k = 10,
      m = 2, dims = 4, centroidMod = 7, coarseMod = 20, nprobe = 1)
    val assign = Similarity.ivfAssign(big, centroidMod = 20).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // with nprobe = 1 each query's hits all share ONE coarse list
    val listsPerQuery = out.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => assign(r.getLong(1))).toSet).toMap
    assert(listsPerQuery.nonEmpty)
    listsPerQuery.foreach { case (q, ls) =>
      assert(ls.size == 1, s"query $q scanned lists $ls with nprobe=1") }
    // and pruning is real: the candidate relation (pre-top-k) scans a
    // strict subset of the 5 × 59 pairs a full ADC scan scores
    val scanned = inPlanScored(big, nQueries = 5, centroidMod = 7,
      coarseMod = 20, nprobe = 1).count()
    assert(scanned < 5L * 59L, s"scanned $scanned of ${5 * 59} pairs")
  }

  test("pqEncode rejects dims not divisible by m") {
    intercept[IllegalArgumentException] {
      Similarity.pqEncode(e, m = 3, dims = 4, centroidMod = 2).collect()
    }
  }

  // ---- residual variant (by_residual=true, the FAISS default) ----------

  private def bigWithDup = {
    import org.apache.spark.sql.functions._
    // the 60-vector fixture + vecs 60, 61; vec 61 = an exact copy of
    // vec 1 (61 % 20 != 0 so the duplicate is NOT a coarse centroid)
    spark.range(62L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => {
          val src = when(col("id") === 61L, lit(1L)).otherwise(col("id"))
          (((src * 13 + d * 11) % 29) + (src % 5) + 1).cast("float")
        }).as("embedding"))
  }

  test("centroidMod=1 residual ADC is the EXACT squared L2 distance " +
    "(zero quantization error: every residual is its own codebook entry, " +
    "and qr - rv = (q - c) - (x - c) = q - x within a probed list)") {
    import org.apache.spark.sql.functions._
    val vecs = bigWithDup.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(f =>
        math.round(f.toDouble * 1000).toDouble).toArray).toMap
    def sqL2(a: Array[Double], b: Array[Double]): Long =
      math.round(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val out = Similarity.ivfPqResidualSearch(bigWithDup, nQueries = 5, k = 4,
      m = 2, dims = 4, centroidMod = 1, coarseMod = 20, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(out.nonEmpty)
    out.foreach { case (q, n, _, d) =>
      assert(d == sqL2(vecs(q), vecs(n)), s"query $q neighbor $n") }
    // the exact duplicate therefore surfaces at distance 0 (the base
    // fixture's formula also collides vec 10 with vec 1, so there are
    // two zero-distance neighbors; ranks are tie-broken by id)
    val q1 = out.filter(_._1 == 1L).sortBy(_._3)
    assert(q1.head._4 == 0L, s"top hit: ${q1.head}")
    assert(q1.exists(h => h._2 == 61L && h._4 == 0L), q1.mkString(","))
    assert(out.forall(r => r._1 != r._2), "query returned itself")
  }

  // ---- exact re-rank (the FAISS refine stage) --------------------------

  test("ivfPqRerank with rerankR >= corpus and nprobe >= nlists " +
    "reproduces cosineTopK exactly (zero quantization error in the " +
    "final ranking)") {
    import org.apache.spark.sql.functions._
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float")).as("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val exact = rows(Similarity.cosineTopK(big, nQueries = 5, k = 4))
    val reranked = rows(Similarity.ivfPqRerank(big, nQueries = 5, k = 4,
      rerankR = 60, m = 2, dims = 4, centroidMod = 7, coarseMod = 20,
      nprobe = 3))
    assert(reranked == exact)
  }

  test("ivfPqRerank ranks the exact duplicate first even when ADC " +
    "quantization ties it with non-duplicates, and broadcasts the " +
    "candidate set (corpus never shuffled for the fetch-back)") {
    // the fetch-back runs at call time (the result is a local
    // relation): read the plans of the call's own actions
    val (out, plans) = org.apache.spark.sql.PlansOf(spark) {
      Similarity.ivfPqRerank(bigWithDup, nQueries = 5, k = 3,
        rerankR = 10, m = 2, dims = 4, centroidMod = 7, coarseMod = 20,
        nprobe = 2)
    }
    val plan = plans.map(_.toString).mkString("\n")
    assert(plans.last.toString.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val q1 = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .filter(_._1 == 1L).sortBy(_._3)
    // vecs 10 and 61 are both exact copies of vec 1 (cos_sim 1.0);
    // the duplicate set fills the top ranks ahead of near-misses
    assert(q1.take(2).map(_._2).toSet == Set(10L, 61L), q1.mkString(","))
    assert(q1.take(2).forall(_._4 == 1.0))
  }

  test("ivfPqRerank rejects rerankR < k") {
    intercept[IllegalArgumentException] {
      Similarity.ivfPqRerank(bigWithDup, nQueries = 2, k = 5, rerankR = 4)
    }
  }

  test("residual search with nprobe >= nlists scans the whole corpus") {
    val scanned = inPlanScored(bigWithDup, nQueries = 5, centroidMod = 7,
      coarseMod = 20, nprobe = 4, residual = true)
    // 4 lists exist (centroids 0, 20, 40, 60); probing all of them =
    // every (query, neighbor != query) pair
    assert(scanned.count() == 5L * 61L)
  }

  test("residual codes differ from raw codes (the codebook is trained " +
    "on residuals) while the scan shape stays an equi-join on list_id") {
    val raw = Similarity.pqEncode(bigWithDup, m = 2, dims = 4, centroidMod = 7)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val ri = Similarity.Ann.built(bigWithDup, m = 2, dims = 4,
      Some(Similarity.Subset(20)), Similarity.Subset(7), residual = true)
    val res = ri.codes(Nil).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    assert(res.keySet == raw.keySet)
    assert(res.exists { case (id, codes) => codes != raw(id) },
      "residual training produced byte-identical codes to raw training")
    val scored = inPlanScored(bigWithDup, nQueries = 5, centroidMod = 7,
      coarseMod = 20, nprobe = 2, residual = true)
    val plan = scored.queryExecution.executedPlan.toString
    // the corpus-side scan is an equi-join on list_id (broadcast hash);
    // a CartesianProduct would mean an unpruned all-pairs scan. The
    // metadata-sized crossJoin(broadcast(...)) steps (query x centroids,
    // codebook x subspaces) legitimately plan as BroadcastNestedLoopJoin
    // over bounded relations, so BNLJ presence is NOT asserted against.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  // --- Persisted IVF+PQ index -------------------------------------------

  test("ivfPqSearchPersisted equals the in-plan ivfPqSearch bit-for-bit") {
    import org.apache.spark.sql.functions._
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpqidx").toString
    Similarity.ivfPqWriteIndex(big, s"$dir/index", numFiles = 3,
      m = 2, dims = 4, centroidMod = 7, coarseMod = 20)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val inPlan = rows(Similarity.ivfPqSearch(big, nQueries = 5, k = 4,
      m = 2, dims = 4, centroidMod = 7, coarseMod = 20, nprobe = 2))
    val persisted = rows(Similarity.ivfPqSearchPersisted(spark,
      s"$dir/index", big, nQueries = 5, k = 4,
      m = 2, dims = 4, centroidMod = 7, nprobe = 2))
    assert(persisted == inPlan)
    // the persisted files are range-clustered: each owns a contiguous,
    // non-overlapping list_id interval (what makes footer stats prune)
    // (range partitioning is on (list_id, neighbor_id), so one large
    // list may straddle a file boundary — intervals may TOUCH at the
    // boundary list but never properly interleave)
    val fileRanges = spark.read.parquet(s"$dir/index/codes/*")
      .select(input_file_name().as("f"), col("list_id"))
      .groupBy("f").agg(min("list_id").as("lo"), max("list_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._1, r._2))
    fileRanges.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._1, s"index files overlap: $a $b")
      case _ =>
    }
  }

  // --- Lloyd-trained PQ codebooks (fixed ksub) ---------------------------

  /** Driver-side reference Lloyd trainer mirroring the documented
    * contract: init = subvectors of the ksub smallest train vec_ids;
    * assign = exact squared L2, tie to the lower index; update =
    * per-dim mean rounded HALF_UP to integer; empty clusters keep their
    * centroid. `vecs` must be quantized rows sorted by vec_id. */
  private def lloydRef(
      vecs: Array[Array[Double]], m: Int, subDim: Int,
      ksub: Int, iters: Int): Array[Array[Double]] = {
    var books = vecs.take(ksub).map(_.clone())
    for (_ <- 0 until iters) {
      val next = books.map(_.clone())
      for (s <- 0 until m) {
        val assign = vecs.map { v =>
          var best = Double.MaxValue; var bi = 0
          for (c <- 0 until ksub) {
            var d2 = 0.0
            var d = 0
            while (d < subDim) {
              val diff = v(s * subDim + d) - books(c)(s * subDim + d)
              d2 += diff * diff
              d += 1
            }
            if (d2 < best) { best = d2; bi = c }
          }
          bi
        }
        for (c <- 0 until ksub) {
          val members = vecs.indices.filter(assign(_) == c)
          if (members.nonEmpty)
            for (d <- 0 until subDim)
              next(c)(s * subDim + d) = BigDecimal(
                members.map(i => vecs(i)(s * subDim + d)).sum / members.size)
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      }
      books = next
    }
    books
  }

  test("pqTrainCodebooks matches the driver-side Lloyd reference") {
    import org.apache.spark.sql.functions._
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val got = Similarity.pqTrainCodebooks(big, m = 2, dims = 4,
      ksub = 3, iters = 2, trainMod = 2)
    val train = big.where(col("vec_id") % 2 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000, 0))
          .as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val want = lloydRef(train, m = 2, subDim = 2, ksub = 3, iters = 2)
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    // the trained centroids moved off their init values (training did
    // something) and stayed integer-valued (the exactness contract)
    assert(got.map(_.toSeq).toSeq != train.take(3).map(_.toSeq).toSeq)
    assert(got.flatten.forall(x => x == math.rint(x)))
  }

  test("pqEncodeTrained assigns to the nearest TRAINED centroid; " +
    "codes are indices 0..ksub-1") {
    import org.apache.spark.sql.functions._
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val books = Similarity.pqTrainCodebooks(big, m = 2, dims = 4,
      ksub = 3, iters = 2, trainMod = 2)
    val codes = Similarity.pqEncodeTrained(big, m = 2, dims = 4,
      ksub = 3, iters = 2, trainMod = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.size == 60)
    assert(codes.values.flatten.forall(c => c >= 0 && c < 3))
    // brute-force check on every vector
    val vecs = big.select(col("vec_id"),
      transform(col("embedding"), x => round(x.cast("double") * 1000, 0)))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    vecs.foreach { case (id, v) =>
      for (s <- 0 until 2) {
        var best = Double.MaxValue; var bi = 0L
        for (c <- 0 until 3) {
          var d2 = 0.0
          for (d <- 0 until 2) {
            val diff = v(s * 2 + d) - books(c)(s * 2 + d)
            d2 += diff * diff
          }
          if (d2 < best) { best = d2; bi = c.toLong }
        }
        assert(codes(id)(s) == bi, s"vec $id sub $s")
      }
    }
  }

  test("pqSearchTrained with a saturated codebook is exact squared L2: " +
    "the planted duplicate ranks first at distance 0") {
    // ksub = corpus size, iters = 0: every vector's subvectors are their
    // own codebook entries, so the ADC estimate IS the exact squared L2.
    // Query 1's exact duplicates are vec 61 (planted) and vec 10 (a
    // natural collision of the fixture arithmetic) — exactly those two
    // must sit at distance 0, everything else strictly above.
    val out = Similarity.pqSearchTrained(bigWithDup, nQueries = 2, k = 3,
      m = 2, dims = 4, ksub = 62, iters = 0, trainMod = 1)
      .where(org.apache.spark.sql.functions.col("query_id") === 1L)
      .collect().sortBy(_.getInt(2))
    val zeros = out.filter(_.getLong(3) == 0L).map(_.getLong(1)).toSet
    assert(zeros == Set(10L, 61L), out.map(_.toString).mkString(","))
    assert(out.filterNot(r => zeros(r.getLong(1))).forall(_.getLong(3) > 0L))
  }

  test("pqSearchTrained at small trained ksub still recalls the exact " +
    "duplicate's codes (identical vector, identical codes)") {
    val codes = Similarity.pqEncodeTrained(bigWithDup, m = 2, dims = 4,
      ksub = 4, iters = 2, trainMod = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes(61L) == codes(1L))
  }

  // --- Lloyd-trained coarse quantizer (fixed nlists) ----------------------

  /** Driver-side reference spherical Lloyd: assign = max cosine rounded
    * to 6 dp (strict >, so ties keep the lower index), update = per-dim
    * mean rounded HALF_UP to integer; empty lists keep their centroid.
    * `vecs` must be quantized rows sorted by vec_id. */
  private def cosLloydRef(
      vecs: Array[Array[Double]], nlists: Int,
      iters: Int): Array[Array[Double]] = {
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cents = vecs.take(nlists).map(_.clone())
    for (_ <- 0 until iters) {
      val cn = cents.map(c => c.map(x => x * x).sum)
      val assign = vecs.map { v =>
        val n = v.map(x => x * x).sum
        var bi = 0; var bc = -2.0
        for (c <- cents.indices) {
          val cos = round6(
            v.zip(cents(c)).map { case (a, b) => a * b }.sum /
              (math.sqrt(n) * math.sqrt(cn(c))))
          if (cos > bc) { bc = cos; bi = c }
        }
        bi
      }
      val next = cents.map(_.clone())
      for (c <- cents.indices) {
        val members = vecs.indices.filter(assign(_) == c)
        if (members.nonEmpty)
          for (d <- vecs(0).indices)
            next(c)(d) = BigDecimal(
              members.map(i => vecs(i)(d)).sum / members.size)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      cents = next
    }
    cents
  }

  test("ivfTrainCentroids matches the driver-side spherical-Lloyd reference") {
    import org.apache.spark.sql.functions._
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val got = Similarity.ivfTrainCentroids(big, dims = 4, nlists = 3,
      iters = 2, trainMod = 2)
    val train = big.where(col("vec_id") % 2 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => round(x.cast("double") * 1000, 0))
          .as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val want = cosLloydRef(train, nlists = 3, iters = 2)
    assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
    assert(got.flatten.forall(x => x == math.rint(x)))
  }

  test("ivfAssignTrained assigns every vector to a trained list 0..nlists-1; " +
    "the planted duplicate shares its query's list") {
    val out = Similarity.ivfAssignTrained(bigWithDup, dims = 4, nlists = 3,
      iters = 2, trainMod = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 62)
    assert(out.values.forall(l => l >= 0 && l < 3))
    assert(out(61L) == out(1L)) // identical vector, identical cosine
  }

  test("persisted trained index: ivfPqSearchPersisted(centroidMod=1) " +
    "equals the in-plan ivfPqSearchTrainedFull bit-for-bit") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfpqtidx").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 3)
    val inPlan = rows(Similarity.ivfPqSearchTrainedFull(bigWithDup,
      nQueries = 5, k = 4, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 3, nprobe = 2))
    val persisted = rows(Similarity.ivfPqSearchPersisted(spark,
      s"$dir/index", bigWithDup, nQueries = 5, k = 4,
      m = 2, dims = 4, centroidMod = 1, nprobe = 2))
    assert(persisted == inPlan)
  }

  /** bigWithDup's formula over an explicit id set — ids 61 and 70 are
    * exact copies of vec 1; vecsFor(0 until 62) ≡ bigWithDup. */
  private def vecsFor(ids: Seq[Long]) = emb(ids.map { id =>
    val src = if (id == 61L || id == 70L) 1L else id
    (id, (0 until 4).map(d =>
      (((src * 13 + d * 11) % 29) + (src % 5) + 1).toFloat))
  }: _*)

  test("incremental index: append with FROZEN codebooks equals a full " +
    "trained rebuild; optimize re-clusters only the tail") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    // appended ids avoid the training subset (none ≡ 0 mod 3) and sit
    // above every training id, so a FULL rebuild over the union trains
    // bit-identical books/cents — making "frozen append ≡ rebuild" an
    // exact equality, not an approximation
    val appended = Seq(62L, 64L, 65L, 67L, 68L, 70L)
    val base = vecsFor(0L until 62L)
    val union = vecsFor((0L until 62L) ++ appended)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqinc").toString
    Similarity.ivfPqWriteIndexTrained(base, s"$dir/index", numFiles = 3,
      m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1, trainMod = 3)
    Similarity.ivfPqAppendIndex(spark, s"$dir/index", vecsFor(appended),
      m = 2, dims = 4)
    assert(spark.read.parquet(s"$dir/index/codes/tail").count() == 6)
    def searchPersisted() = rows(Similarity.ivfPqSearchPersisted(spark,
      s"$dir/index", union, nQueries = 5, k = 4, m = 2, dims = 4,
      centroidMod = 1, nprobe = 2))
    val rebuilt = rows(Similarity.ivfPqSearchTrainedFull(union,
      nQueries = 5, k = 4, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 3, nprobe = 2))
    assert(searchPersisted() == rebuilt)
    // optimize: exactly the 6 tail rows re-cluster into gen-1; the
    // search result is unchanged at every lifecycle stage
    assert(Similarity.ivfPqOptimizeIndex(spark, s"$dir/index", 2) == 6L)
    assert(spark.read.parquet(s"$dir/index/codes/gen-1").count() == 6)
    assert(searchPersisted() == rebuilt)
    // the appended duplicate of vec 1 (id 70) is searchable and sits at
    // query 1's ADC floor — identical vector, identical frozen codes
    val scored = Similarity.scored(Similarity.Ann.opened(spark,
      s"$dir/index", m = 2, dims = 4, divisor = 1),
      Similarity.queryRows(Similarity.prefixQueries(union, 2)), nprobe = 2,
      excludeSelf = true)
      .where(col("query_id") === 1L).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(scored.contains(70L), scored.toString)
    assert(scored(70L) == scored.values.min)
  }

  // --- Standalone query-relation API (the FAISS index.search shape) -----

  test("ivfPqSearchPersistedQ with excludeSelf=true equals the " +
    "vec_id-prefix form; the Vecs literal form matches too") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfpqq").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 3)
    val viaPrefix = rows(Similarity.ivfPqSearchPersisted(spark,
      s"$dir/index", bigWithDup, nQueries = 5, k = 4,
      m = 2, dims = 4, centroidMod = 1, nprobe = 2))
    val qDf = bigWithDup.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val viaQ = rows(Similarity.ivfPqSearchPersistedQ(spark, s"$dir/index",
      qDf, k = 4, m = 2, dims = 4, centroidMod = 1, nprobe = 2,
      excludeSelf = true))
    assert(viaQ == viaPrefix)
    val lits = bigWithDup.where(col("vec_id") < 5).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toSeq
    val viaVecs = rows(Similarity.ivfPqSearchPersistedVecs(spark,
      s"$dir/index", lits, k = 4, m = 2, dims = 4, centroidMod = 1,
      nprobe = 2, excludeSelf = true))
    assert(viaVecs == viaPrefix)
  }

  test("standalone queries OUTSIDE the corpus id space: excludeSelf=false " +
    "surfaces the identical indexed vector as top-1 at distance 0") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ivfpqx").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 3)
    // external workload: ids 9001..9005 carry copies of corpus vectors
    // 0..4 — no overlap with corpus vec_ids, so nothing may be excluded
    val ext = bigWithDup.where(col("vec_id") < 5)
      .select((col("vec_id") + 9001L).as("query_id"), col("embedding"))
    val out = Similarity.ivfPqSearchPersistedQ(spark, s"$dir/index", ext,
      k = 20, m = 2, dims = 4, centroidMod = 1, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byQ = out.groupBy(_._1)
    assert(byQ.keySet == (9001L to 9005L).toSet)
    byQ.foreach { case (qid, hits) =>
      val src = qid - 9001L
      // the indexed copy of the query vector carries the codes nearest
      // the query in EVERY subspace, so its ADC distance is the global
      // minimum — it must surface (never self-excluded) at min distance
      val srcHit = hits.find(_._2 == src)
      assert(srcHit.isDefined, s"query $qid: indexed copy $src missing")
      assert(srcHit.get._3 == hits.map(_._3).min,
        s"query $qid: copy not at the ADC floor: $srcHit vs ${hits.minBy(_._3)}")
    }
  }

  test("ivfPqSearchQ (in-plan) and pqSearchTrainedQ equal their prefix " +
    "forms with excludeSelf=true") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val qDf = bigWithDup.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assert(
      rows(Similarity.ivfPqSearchQ(bigWithDup, qDf, k = 4, m = 2, dims = 4,
        centroidMod = 7, coarseMod = 20, nprobe = 2, excludeSelf = true)) ==
      rows(Similarity.ivfPqSearch(bigWithDup, nQueries = 5, k = 4, m = 2,
        dims = 4, centroidMod = 7, coarseMod = 20, nprobe = 2)))
    assert(
      rows(Similarity.pqSearchTrainedQ(bigWithDup, qDf, k = 4, m = 2,
        dims = 4, ksub = 4, iters = 1, trainMod = 3, excludeSelf = true)) ==
      rows(Similarity.pqSearchTrained(bigWithDup, nQueries = 5, k = 4,
        m = 2, dims = 4, ksub = 4, iters = 1, trainMod = 3)))
  }

  // --- Tombstone deletes (FAISS remove_ids as merge-on-read) ------------

  test("ivfPqDeleteIndex masks neighbors immediately; consolidate drops " +
    "them physically, retires the tombstones, and read-with-tombstones " +
    "== rebuild-without-deleted") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    // deleted ids avoid the training subset (none ≡ 0 mod 3), so an
    // index REBUILT from the corpus minus the deleted rows trains
    // bit-identical books/cents — making the equivalence exact
    val deleted = Seq(10L, 22L, 61L)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqdel").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 3)
    Similarity.ivfPqDeleteIndex(spark, s"$dir/index",
      spark.createDataFrame(deleted.map(Tuple1(_))).toDF("vec_id"))
    def search() = rows(Similarity.ivfPqSearchPersisted(spark,
      s"$dir/index", bigWithDup, nQueries = 5, k = 4, m = 2, dims = 4,
      centroidMod = 1, nprobe = 2))
    val masked = search()
    assert(masked.nonEmpty)
    assert(masked.forall(r => !deleted.contains(r._2)),
      s"deleted neighbor surfaced: $masked")
    // rebuild-without-deleted: same training subset -> same index, so
    // the masked search must equal a fresh index over the kept rows
    val rebuildDir = java.nio.file.Files.createTempDirectory("ivfpqreb").toString
    Similarity.ivfPqWriteIndexTrained(
      bigWithDup.where(!col("vec_id").isin(deleted: _*)),
      s"$rebuildDir/index", numFiles = 3, m = 2, dims = 4, ksub = 4,
      nlists = 3, iters = 1, trainMod = 3)
    val rebuilt = rows(Similarity.ivfPqSearchPersisted(spark,
      s"$rebuildDir/index", bigWithDup, nQueries = 5, k = 4, m = 2,
      dims = 4, centroidMod = 1, nprobe = 2))
    assert(masked == rebuilt)
    // physical apply: consolidate rewrites the codes without the
    // deleted ids and empties the tombstone relation
    graft.ops.Layout.clusteredConsolidate(spark, s"$dir/index/codes", 2,
      Seq("list_id", "neighbor_id"))
    val codes = spark.read.parquet(s"$dir/index/codes/gen-1")
    assert(codes.where(col("neighbor_id").isin(deleted: _*)).count() == 0L)
    assert(codes.count() == 62L - deleted.size)
    // the applied tombstones are RETIRED in the consolidate's manifest
    // commit (invisible to readers) but stay on disk one maintenance
    // interval for in-flight readers; vacuum reclaims them now
    Similarity.ivfPqVacuumIndex(spark, s"$dir/index", force = true)
    val delFiles = Option(
      new java.io.File(s"$dir/index/codes/deletes").listFiles())
      .getOrElse(Array[java.io.File]())
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(delFiles.isEmpty, "tombstones must be retired by consolidate")
    assert(search() == rebuilt)
  }

  test("ivfPqRerankPersistedQ == the in-plan ivfPqRerank; the vecs " +
    "refine relation tracks append/delete/consolidate in lockstep") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfpqrr").toString
    Similarity.ivfPqWriteIndex(bigWithDup, s"$dir/index", numFiles = 3,
      m = 2, dims = 4, centroidMod = 2, coarseMod = 20, storeVecs = true)
    val queries = bigWithDup.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val persisted = rows(Similarity.ivfPqRerankPersistedQ(spark,
      s"$dir/index", queries, k = 4, rerankR = 8, m = 2, dims = 4,
      centroidMod = 2, nprobe = 2, excludeSelf = true))
    val inPlan = rows(Similarity.ivfPqRerank(bigWithDup, nQueries = 5,
      k = 4, rerankR = 8, m = 2, dims = 4, centroidMod = 2,
      coarseMod = 20, nprobe = 2))
    assert(persisted == inPlan,
      "persisted refine diverged from the in-plan rerank")

    // lifecycle lockstep: build on a prefix, append the rest (incl.
    // vec 61, the exact duplicate of vec 1) — the refine relation must
    // serve APPENDED candidates, surfacing the duplicate at cos 1.0
    val dirA = java.nio.file.Files.createTempDirectory("ivfpqrrA").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup.where(col("vec_id") < 55),
      s"$dirA/index", numFiles = 3, m = 2, dims = 4, ksub = 4,
      nlists = 3, iters = 1, trainMod = 3, storeVecs = true)
    Similarity.ivfPqAppendIndex(spark, s"$dirA/index",
      bigWithDup.where(col("vec_id") >= 55), m = 2, dims = 4)
    Similarity.ivfPqOptimizeIndex(spark, s"$dirA/index", numFiles = 2)
    // rerankR = corpus: with ksub=4 the ADC buckets tie massively and
    // the id tie-break can push 61 out of a small candidate set — full
    // coverage makes the rerank the exact brute-force ranking, where
    // the duplicate MUST surface at cos 1.0
    val afterApp = rows(Similarity.ivfPqRerankPersistedQ(spark,
      s"$dirA/index", queries, k = 4, rerankR = 62, m = 2, dims = 4,
      centroidMod = 1, nprobe = 3, excludeSelf = true))
    // (vec 10 happens to equal vec 1 too in this fixture and wins the
    // id tie-break at rank 1 — the appended duplicate must still be
    // re-ranked to exact cos 1.0 from the refine relation's raw vector)
    assert(afterApp.exists(t => t._1 == 1L && t._2 == 61L && t._4 == 1.0),
      s"appended exact duplicate not served by the refine relation: " +
        afterApp.filter(_._1 == 1L).toSeq.sortBy(_._3).mkString(", "))

    val dir2 = java.nio.file.Files.createTempDirectory("ivfpqrr2").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir2/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1,
      trainMod = 3, storeVecs = true)
    val dir3 = java.nio.file.Files.createTempDirectory("ivfpqrr3").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir3/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1,
      trainMod = 3, storeVecs = true)
    // dir3 gets a delete + consolidate; its rerank must equal a search
    // that can never surface the deleted id, with vecs still aligned
    Similarity.ivfPqDeleteIndex(spark, s"$dir3/index",
      spark.createDataFrame(Seq(Tuple1(7L))).toDF("vec_id"))
    Similarity.ivfPqConsolidateIndex(spark, s"$dir3/index", numFiles = 2)
    val afterDel = rows(Similarity.ivfPqRerankPersistedQ(spark,
      s"$dir3/index", queries, k = 4, rerankR = 8, m = 2, dims = 4,
      centroidMod = 1, nprobe = 2, excludeSelf = true))
    assert(afterDel.nonEmpty)
    assert(!afterDel.exists(_._2 == 7L), "deleted id surfaced in rerank")
    val baseline = rows(Similarity.ivfPqRerankPersistedQ(spark,
      s"$dir2/index", queries, k = 4, rerankR = 8, m = 2, dims = 4,
      centroidMod = 1, nprobe = 2, excludeSelf = true))
    assert(baseline != afterDel, "fixture too weak: delete changed nothing")
  }

  test("ivfPqUpsertIndex: replaced vectors re-encode against the frozen " +
    "books == a rebuild over the true corpus; new ids skip the rewrite") {
    import org.apache.spark.sql.functions._
    // stale set disjoint from the trainMod=5 training subset (ids
    // 0,5,...,60), so training over the stale corpus is identical to
    // training over the true one and only the ENCODED rows differ
    val staleIds = Seq(3L, 17L, 24L, 38L, 59L)
    val stale = bigWithDup.withColumn("embedding",
      when(col("vec_id").isin(staleIds: _*),
        transform(col("embedding"), x => -x))
        .otherwise(col("embedding")))
    val dir = java.nio.file.Files.createTempDirectory("ivfpqups").toString
    Similarity.ivfPqWriteIndexTrained(stale, s"$dir/index", numFiles = 3,
      m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1, trainMod = 5)
    Similarity.ivfPqUpsertIndex(spark, s"$dir/index",
      bigWithDup.where(col("vec_id").isin(staleIds: _*)), numFiles = 2,
      m = 2, dims = 4)
    val rebuildDir = java.nio.file.Files.createTempDirectory("ivfpqupsr").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$rebuildDir/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1,
      trainMod = 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(rows(Similarity.ivfPqSearchPersisted(spark, s"$dir/index",
      bigWithDup, nQueries = 5, k = 4, m = 2, dims = 4, centroidMod = 1,
      nprobe = 3)) ==
      rows(Similarity.ivfPqSearchPersisted(spark, s"$rebuildDir/index",
        bigWithDup, nQueries = 5, k = 4, m = 2, dims = 4, centroidMod = 1,
        nprobe = 3)),
      "upserted index diverged from a rebuild over the true corpus")
    // purely-new ids skip the physical rewrite
    def gens(): Set[String] = Option(
      new java.io.File(s"$dir/index/codes").listFiles())
      .getOrElse(Array[java.io.File]())
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName).toSet
    val before = gens()
    Similarity.ivfPqUpsertIndex(spark, s"$dir/index",
      spark.createDataFrame(Seq((200L, Seq(1f, 2f, 3f, 4f))))
        .toDF("vec_id", "embedding"), numFiles = 2, m = 2, dims = 4)
    assert(gens() == before, "purely-new upsert triggered a rewrite")
  }

  test("ivfPqAppendIndex(dedup) converges each relation independently: " +
    "a crash between the codes and vecs appends cannot permanently " +
    "desync the refine relation under at-least-once replay") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ivfpqcrash").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup.where(col("vec_id") < 40),
      s"$dir/index", numFiles = 2, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 5, storeVecs = true)
    val newBatch = bigWithDup.where(col("vec_id") >= 40)
    Similarity.ivfPqAppendIndex(spark, s"$dir/index", newBatch,
      m = 2, dims = 4, dedupAgainstIndex = true)
    // simulate the crash window: the codes append landed but the vecs
    // append did not — delete the vecs tail the append just wrote
    val vecsTail = new java.io.File(s"$dir/index/vecs/tail")
    assert(vecsTail.listFiles().exists(_.getName.endsWith(".parquet")))
    vecsTail.listFiles().foreach(_.delete())
    // at-least-once: the SAME batch replays; a codes-derived dedup
    // would drop every row for both relations — the per-relation dedup
    // must backfill vecs while leaving codes duplicate-free
    Similarity.ivfPqAppendIndex(spark, s"$dir/index", newBatch,
      m = 2, dims = 4, dedupAgainstIndex = true)
    val codes = graft.ops.Layout.clusteredTable(spark, s"$dir/index/codes")
    assert(codes.count() == 62L &&
      codes.select("neighbor_id").distinct().count() == 62L,
      "replay duplicated codes rows")
    val vecs = graft.ops.Layout.clusteredTable(spark, s"$dir/index/vecs")
    assert(vecs.count() == 62L &&
      vecs.select("vec_id").distinct().count() == 62L,
      "vecs not backfilled (or duplicated) by the replay")
    // and the refine path serves the once-lost candidates: vec 61 (the
    // exact duplicate of vec 1, in the crashed batch) re-ranks to 1.0
    val out = Similarity.ivfPqRerankPersistedQ(spark, s"$dir/index",
      bigWithDup.where(col("vec_id") === 1)
        .select(col("vec_id").as("query_id"), col("embedding")),
      k = 4, rerankR = 62, m = 2, dims = 4, centroidMod = 1, nprobe = 3,
      excludeSelf = true).collect()
      .map(r => (r.getLong(1), r.getDouble(3)))
    assert(out.exists { case (n, c) => n == 61L && c == 1.0 },
      s"crashed-batch candidate not served: ${out.mkString(",")}")
  }

  test("ivfPqAppendIndex rejects vec_ids with PENDING tombstones " +
    "(delete-then-re-add requires a consolidate in between)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ivfpqpend").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir/index",
      numFiles = 2, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 3)
    Similarity.ivfPqDeleteIndex(spark, s"$dir/index",
      spark.createDataFrame(Seq(Tuple1(10L))).toDF("vec_id"))
    // re-appending id 10 while its tombstone is pending would be
    // masked at read and physically dropped at the next compaction —
    // the append must fail loudly instead
    intercept[IllegalArgumentException] {
      Similarity.ivfPqAppendIndex(spark, s"$dir/index",
        bigWithDup.where(col("vec_id") === 10L), m = 2, dims = 4)
    }
    // consolidate retires the tombstone; the same append then lands
    Similarity.ivfPqConsolidateIndex(spark, s"$dir/index", numFiles = 2)
    Similarity.ivfPqAppendIndex(spark, s"$dir/index",
      bigWithDup.where(col("vec_id") === 10L), m = 2, dims = 4)
    // visible again: the lifecycle reader no longer masks id 10 (ADC
    // ranking would tie-break among code-identical vectors, so assert
    // visibility, not a rank)
    val visible = graft.ops.Layout
      .clusteredTable(spark, s"$dir/index/codes")
      .where(col("neighbor_id") === 10L).count()
    assert(visible == 1L,
      s"re-added vector visible $visible times after consolidate, want 1")
  }

  test("ivfPqAppendIndex(dedupAgainstIndex=true) skips already-indexed " +
    "vec_ids; the default append is blind (the FAISS add contract)") {
    import org.apache.spark.sql.functions._
    val appended = Seq(62L, 64L, 65L)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqdup").toString
    Similarity.ivfPqWriteIndexTrained(vecsFor(0L until 62L), s"$dir/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 3)
    Similarity.ivfPqAppendIndex(spark, s"$dir/index", vecsFor(appended),
      m = 2, dims = 4)
    assert(spark.read.parquet(s"$dir/index/codes/tail").count() == 3L)
    // re-ingesting the same batch with the dedup guard appends nothing
    Similarity.ivfPqAppendIndex(spark, s"$dir/index", vecsFor(appended),
      m = 2, dims = 4, dedupAgainstIndex = true)
    assert(spark.read.parquet(s"$dir/index/codes/tail").count() == 3L)
    // a mixed batch appends only the genuinely new ids
    Similarity.ivfPqAppendIndex(spark, s"$dir/index",
      vecsFor(Seq(64L, 67L)), m = 2, dims = 4, dedupAgainstIndex = true)
    val tail = spark.read.parquet(s"$dir/index/codes/tail")
    assert(tail.count() == 4L)
    assert(tail.groupBy("neighbor_id").count()
      .where(col("count") > 1).count() == 0L)
    // and the blind default double-inserts (documented FAISS behavior)
    Similarity.ivfPqAppendIndex(spark, s"$dir/index", vecsFor(Seq(67L)),
      m = 2, dims = 4)
    assert(spark.read.parquet(s"$dir/index/codes/tail")
      .where(col("neighbor_id") === 67L).count() == 2L)
  }

  test("ivfPqSearchTrainedFull with nprobe >= nlists degenerates to " +
    "pqSearchTrained exactly") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val full = rows(Similarity.pqSearchTrained(bigWithDup, nQueries = 5,
      k = 4, m = 2, dims = 4, ksub = 4, iters = 1, trainMod = 3))
    val composed = rows(Similarity.ivfPqSearchTrainedFull(bigWithDup,
      nQueries = 5, k = 4, m = 2, dims = 4, ksub = 4, nlists = 3,
      iters = 1, trainMod = 3, nprobe = 3))
    assert(composed == full)
  }

  test("coarse-spill g=2: every vector indexed in its TWO nearest " +
    "lists, probing all lists equals the single-assignment index " +
    "bit-for-bit, and append/delete/upsert respect multi-copy semantics") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ivfpqsp").toString
    val single = java.nio.file.Files.createTempDirectory("ivfpqsp1").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1,
      trainMod = 5, spillG = 2)
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$single/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1,
      trainMod = 5)
    def codes(d: String) = graft.ops.Layout
      .clusteredTable(spark, s"$d/index/codes")
    // exactly two copies per vector, in two DISTINCT lists, same codes
    val per = codes(dir).groupBy("neighbor_id")
      .agg(count(lit(1)).as("n"),
        countDistinct("list_id").as("nl"),
        countDistinct("codes").as("nc")).collect()
    assert(per.length == 62 && per.forall(r =>
      r.getLong(1) == 2L && r.getLong(2) == 2L && r.getLong(3) == 1L),
      "spill must write one codes row per (vector, nearest-2 list)")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    // probing EVERY list scores each vector once after dedup — must
    // equal the single-assignment index exactly (same codes, same LUT)
    val allProbed = rows(Similarity.ivfPqSearchPersisted(spark,
      s"$dir/index", bigWithDup, nQueries = 5, k = 4, m = 2, dims = 4,
      centroidMod = 1, nprobe = 3))
    assert(allProbed == rows(Similarity.ivfPqSearchPersisted(spark,
      s"$single/index", bigWithDup, nQueries = 5, k = 4, m = 2, dims = 4,
      centroidMod = 1, nprobe = 3)),
      "spill dedup diverged from the single-assignment index")
    // recall monotonicity at nprobe=1: the spilled candidate pool per
    // query is a superset of the single-assignment pool
    def cands(d: String) = Similarity.ivfPqSearchPersisted(spark,
      s"$d/index", bigWithDup, nQueries = 5, k = 60, m = 2, dims = 4,
      centroidMod = 1, nprobe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands(single).subsetOf(cands(dir)),
      "spilled pool must contain every single-assignment candidate")
    // append resolves g from the index marker: adds 2 rows per new id
    Similarity.ivfPqAppendIndex(spark, s"$dir/index",
      spark.createDataFrame(Seq((100L, Seq(2f, 4f, 6f, 8f)),
        (101L, Seq(9f, 7f, 5f, 3f)))).toDF("vec_id", "embedding"),
      m = 2, dims = 4)
    assert(codes(dir).where(col("neighbor_id") >= 100L).count() == 4L,
      "append must keep the index's spill degree")
    // delete masks BOTH copies immediately and drops them physically
    Similarity.ivfPqDeleteIndex(spark, s"$dir/index",
      spark.range(1).select(lit(100L).as("vec_id")))
    assert(codes(dir).where(col("neighbor_id") === 100L).count() == 0L)
    Similarity.ivfPqConsolidateIndex(spark, s"$dir/index", numFiles = 2)
    Similarity.ivfPqVacuumIndex(spark, s"$dir/index", force = true)
    val raw = spark.read.parquet(s"$dir/index/codes/gen-*")
    assert(raw.where(col("neighbor_id") === 100L).count() == 0L,
      "consolidate must drop every copy of a tombstoned id")
    // upsert replaces all copies, leaving exactly two again
    Similarity.ivfPqUpsertIndex(spark, s"$dir/index",
      spark.createDataFrame(Seq((101L, Seq(1f, 1f, 1f, 1f))))
        .toDF("vec_id", "embedding"), numFiles = 2, m = 2, dims = 4)
    val after = codes(dir).where(col("neighbor_id") === 101L)
      .select("list_id").collect().map(_.getLong(0))
    assert(after.length == 2 && after.distinct.length == 2,
      s"upsert left ${after.length} copies, want 2 in distinct lists")
  }

  test("ivfPqRetrainIndex: retrained-from-stored-vecs == a fresh " +
    "trained build; the epoch flip is atomic, crashed epochs are " +
    "invisible, and post-retrain lifecycle ops hit the live epoch") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    val dir = java.nio.file.Files.createTempDirectory("ivfpqret").toString
    Similarity.ivfPqWriteIndex(bigWithDup, s"$dir/index", numFiles = 3,
      m = 2, dims = 4, centroidMod = 2, coarseMod = 20, storeVecs = true)
    // a CRASHED retrain attempt: a complete epoch dir exists but the
    // root manifest was never committed — searches must keep serving
    // the original index (subset quantizers, centroidMod = 2)
    Similarity.ivfPqWriteIndexTrained(bigWithDup,
      s"$dir/index/epoch-0", numFiles = 3, m = 2, dims = 4, ksub = 4,
      nlists = 3, iters = 1, trainMod = 5, storeVecs = true)
    val preRetrain = rows(Similarity.ivfPqSearchPersisted(spark,
      s"$dir/index", bigWithDup, nQueries = 5, k = 4, m = 2, dims = 4,
      centroidMod = 2, nprobe = 2))
    assert(preRetrain == rows(Similarity.ivfPqSearch(bigWithDup,
      nQueries = 5, k = 4, m = 2, dims = 4, centroidMod = 2,
      coarseMod = 20, nprobe = 2)),
      "an uncommitted epoch dir must be invisible to readers")
    // the real retrain: numbers PAST the crashed epoch-0, flips the
    // root manifest, and the result equals a fresh trained build
    Similarity.ivfPqRetrainIndex(spark, s"$dir/index", numFiles = 3,
      m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1, trainMod = 5)
    assert(new java.io.File(s"$dir/index/epoch-1").isDirectory,
      "retry must number past the crashed epoch")
    val freshDir = java.nio.file.Files.createTempDirectory("ivfpqretf").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$freshDir/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1,
      trainMod = 5, storeVecs = true)
    def searchTrained(d: String) = rows(Similarity.ivfPqSearchPersisted(
      spark, s"$d/index", bigWithDup, nQueries = 5, k = 4, m = 2,
      dims = 4, centroidMod = 1, nprobe = 3))
    assert(searchTrained(dir) == searchTrained(freshDir),
      "retrained index diverged from a fresh trained build")
    // post-retrain maintenance targets the live epoch: append, delete,
    // consolidate, and the refine-stage rerank all resolve the root
    Similarity.ivfPqAppendIndex(spark, s"$dir/index",
      spark.createDataFrame(Seq((200L, Seq(2f, 4f, 6f, 8f))))
        .toDF("vec_id", "embedding"), m = 2, dims = 4)
    assert(graft.ops.Layout
      .clusteredTable(spark, s"$dir/index/epoch-1/codes")
      .where(col("neighbor_id") === 200L).count() == 1L,
      "append must land in the live epoch")
    Similarity.ivfPqDeleteIndex(spark, s"$dir/index",
      spark.range(1).select(lit(200L).as("vec_id")))
    Similarity.ivfPqConsolidateIndex(spark, s"$dir/index", numFiles = 2)
    assert(searchTrained(dir) == searchTrained(freshDir),
      "append+delete+consolidate through the epoch root changed results")
    val queries = bigWithDup.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assert(Similarity.ivfPqRerankPersistedQ(spark, s"$dir/index",
      queries, k = 4, rerankR = 8, m = 2, dims = 4, centroidMod = 1,
      nprobe = 3, excludeSelf = true).count() == 20L,
      "rerank must serve from the live epoch's vecs relation")
    // vacuum (forced) reclaims the crashed epoch-0; epoch-1 survives
    assert(Similarity.ivfPqVacuumIndex(spark, s"$dir/index",
      force = true) >= 1L)
    assert(!new java.io.File(s"$dir/index/epoch-0").exists(),
      "vacuum must reclaim non-live epoch dirs")
    assert(new java.io.File(s"$dir/index/epoch-1").isDirectory)
    assert(searchTrained(dir) == searchTrained(freshDir))
  }

  test("ivfPqUpsertIndex of an id whose earlier delete is still PENDING " +
    "compacts first and equals a rebuild over the replaced corpus") {
    import org.apache.spark.sql.functions._
    // id 17 is outside the trainMod=5 training subset, so the stale and
    // the true corpus train identical books and only its codes differ
    val stale = bigWithDup.withColumn("embedding",
      when(col("vec_id") === 17L, transform(col("embedding"), x => -x))
        .otherwise(col("embedding")))
    val dir = java.nio.file.Files.createTempDirectory("ivfpqupd").toString
    Similarity.ivfPqWriteIndexTrained(stale, s"$dir/index", numFiles = 3,
      m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1, trainMod = 5,
      storeVecs = true)
    assert(Similarity.ivfPqDeleteIndex(spark, s"$dir/index",
      spark.createDataFrame(Seq(Tuple1(17L))).toDF("vec_id")) == 1L)
    // the visible index no longer holds 17: the upsert must still see
    // the pending tombstone and retire it before appending
    Similarity.ivfPqUpsertIndex(spark, s"$dir/index",
      bigWithDup.where(col("vec_id") === 17L), numFiles = 2, m = 2, dims = 4)
    val rebuildDir = java.nio.file.Files.createTempDirectory("ivfpqupdr").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$rebuildDir/index",
      numFiles = 3, m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1,
      trainMod = 5, storeVecs = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSet
    def search(d: String) = rows(Similarity.ivfPqSearchPersisted(spark,
      s"$d/index", bigWithDup, nQueries = 5, k = 4, m = 2, dims = 4,
      centroidMod = 1, nprobe = 3))
    assert(search(dir) == search(rebuildDir),
      "upsert after a pending delete diverged from the rebuild")
    for (rel <- Seq("codes", "vecs"))
      assert(graft.ops.Layout.clusteredTable(spark, s"$dir/index/$rel")
        .where(col(if (rel == "codes") "neighbor_id" else "vec_id") === 17L)
        .count() == 1L, s"upserted id 17 not visible once in $rel")
  }

  test("ivfPqDeleteIndex of an ABSENT id is a no-op: a later append of " +
    "that id lands and is served") {
    import org.apache.spark.sql.functions._
    // 900 is outside the trainMod=7 training subset, so appending it
    // against the frozen books equals a rebuild over the corpus + 900
    val extra = spark.createDataFrame(Seq((900L, Seq(3f, 1f, 4f, 1f))))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpqabs").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir/index",
      numFiles = 2, m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1,
      trainMod = 7)
    assert(Similarity.ivfPqDeleteIndex(spark, s"$dir/index",
      spark.createDataFrame(Seq(Tuple1(900L))).toDF("vec_id")) == 0L)
    Similarity.ivfPqAppendIndex(spark, s"$dir/index", extra, m = 2, dims = 4)
    val rebuildDir = java.nio.file.Files.createTempDirectory("ivfpqabsr").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup.unionByName(extra),
      s"$rebuildDir/index", numFiles = 2, m = 2, dims = 4, ksub = 4,
      nlists = 3, iters = 1, trainMod = 7)
    def search(d: String) = Similarity.ivfPqSearchPersisted(spark,
      s"$d/index", bigWithDup, nQueries = 5, k = 70, m = 2, dims = 4,
      centroidMod = 1, nprobe = 3).collect().map(_.toSeq).toSet
    val got = search(dir)
    assert(got.exists(_(1) == 900L), "appended id 900 is not served")
    assert(got == search(rebuildDir),
      "append after an absent-id delete diverged from the rebuild")
  }

  /** ANN search of literal (query_id, embedding) rows over a small
    * trained persisted index, k = 3. */
  private lazy val badQueryIndex = {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqbad").toString
    Similarity.ivfPqWriteIndexTrained(bigWithDup, s"$dir/index",
      numFiles = 2, m = 2, dims = 4, ksub = 4, nlists = 3, iters = 1,
      trainMod = 3)
    s"$dir/index"
  }
  private def queryDf(rows: Seq[(Long, Seq[Float])]) =
    spark.createDataFrame(rows).toDF("query_id", "embedding")
  private def searchRows(rows: (Long, Seq[Float])*) =
    Similarity.ivfPqSearchPersistedQ(spark, badQueryIndex, queryDf(rows),
      k = 3, m = 2, dims = 4, centroidMod = 1, nprobe = 2).collect()
  /** The in-plan searches of literal query rows over the same corpus,
    * k = 3: each collects its queries at call time. */
  private def inPlanSearches(rows: (Long, Seq[Float])*) = Seq(
    "ivfPqSearchQ" -> (() => Similarity.ivfPqSearchQ(bigWithDup,
      queryDf(rows), k = 3, m = 2, dims = 4, centroidMod = 7,
      coarseMod = 20, nprobe = 2).collect()),
    "pqSearchTrainedQ" -> (() => Similarity.pqSearchTrainedQ(bigWithDup,
      queryDf(rows), k = 3, m = 2, dims = 4, ksub = 4, iters = 1,
      trainMod = 3).collect()))

  test("persisted search rejects a repeated query_id by name") {
    // two queries under one id used to come back as ONE merged top-3
    val rows = Seq((0L, Seq(1f, 2f, 3f, 4f)), (0L, Seq(4f, 3f, 2f, 1f)))
    val all = ("persisted" -> (() => searchRows(rows: _*))) +:
      inPlanSearches(rows: _*)
    all.foreach { case (name, search) =>
      val e = intercept[IllegalArgumentException](search())
      assert(e.getMessage.contains("query_id 0 appears more than once"),
        s"$name: ${e.getMessage}")
    }
  }

  test("persisted search rejects a null query embedding by name") {
    // a null embedding used to rank 3 neighbors with adc_dist = null
    val rows = Seq((5L, Seq(1f, 2f, 3f, 4f)), (7L, null))
    val all = ("persisted" -> (() => searchRows(rows: _*))) +:
      inPlanSearches(rows: _*)
    all.foreach { case (name, search) =>
      val e = intercept[IllegalArgumentException](search())
      assert(e.getMessage.contains("query_id 7 has a null embedding"),
        s"$name: ${e.getMessage}")
    }
    assert(searchRows((5L, Seq(1f, 2f, 3f, 4f))).length == 3)
    inPlanSearches((5L, Seq(1f, 2f, 3f, 4f))).foreach { case (name, search) =>
      assert(search().length == 3, name)
    }
  }

  test("persisted search of a zero-magnitude query fails with " +
    "DIVIDE_BY_ZERO") {
    val zero = Seq((3L, Seq(0f, 0f, 0f, 0f)))
    // the in-plan IVF+PQ search probes on the driver too: it fails at
    // call time (flat trained PQ has no cosine, so no probe to fail)
    Seq(() => searchRows(zero: _*), inPlanSearches(zero: _*).head._2)
      .foreach { search =>
        val e = intercept[Throwable](search())
        val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString(" | ")
        assert(messages.contains("DIVIDE_BY_ZERO"), messages)
      }
  }

  /** `bigWithDup` with coordinate 1 of vector `id` set to null. */
  private def withNullCoord(id: Long) = {
    import org.apache.spark.sql.functions._
    bigWithDup.withColumn("embedding", when(col("vec_id") === id,
      transform(col("embedding"), (x, i) =>
        when(i === 1, lit(null).cast("float")).otherwise(x)))
      .otherwise(col("embedding")))
  }

  /** A clean `bigWithDup` index with its raw-vector relation. */
  private lazy val refineIndex = {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqnull").toString
    Similarity.ivfPqWriteIndex(bigWithDup, s"$dir/index", numFiles = 2,
      m = 2, dims = 4, centroidMod = 7, coarseMod = 20, storeVecs = true)
    s"$dir/index"
  }

  test("a query with a null coordinate fails by name at every search " +
    "entry point") {
    import org.apache.spark.sql.functions._
    // the null used to be read as 0.0: every search ranked neighbors
    val queries = withNullCoord(3L).where(col("vec_id").isin(2L, 3L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val all = Seq(
      "persisted" -> (() => Similarity.ivfPqSearchPersistedQ(spark,
        badQueryIndex, queries, k = 3, m = 2, dims = 4, centroidMod = 1,
        nprobe = 2).collect()),
      "ivfPqSearchQ" -> (() => Similarity.ivfPqSearchQ(bigWithDup, queries,
        k = 3, m = 2, dims = 4, centroidMod = 7, coarseMod = 20,
        nprobe = 2).collect()),
      "pqSearchTrainedQ" -> (() => Similarity.pqSearchTrainedQ(bigWithDup,
        queries, k = 3, m = 2, dims = 4, ksub = 4, iters = 1,
        trainMod = 3).collect()),
      "ivfPqRerankPersistedQ" -> (() => Similarity.ivfPqRerankPersistedQ(
        spark, refineIndex, queries, k = 3, rerankR = 8, m = 2, dims = 4,
        centroidMod = 7, nprobe = 2).collect()),
      "ivfPqRerank" -> (() => Similarity.ivfPqRerank(withNullCoord(3L),
        nQueries = 5, k = 3, rerankR = 8, m = 2, dims = 4, centroidMod = 7,
        coarseMod = 20, nprobe = 2).collect()))
    all.foreach { case (name, search) =>
      val e = intercept[IllegalArgumentException](search())
      assert(e.getMessage.contains("query_id 3 has a null coordinate"),
        s"$name: ${e.getMessage}")
    }
  }

  test("a stored vector with a null coordinate fails the exact re-rank " +
    "by vec_id") {
    import org.apache.spark.sql.functions._
    // the writers reject such a vector, so the persisted case plants one
    // out of band: a vecs tail row for vec 33 (neither a coarse centroid
    // nor a codebook row) with a null coordinate. With every list probed
    // and rerankR = corpus, vec 33 is every query's candidate, and the
    // null used to be read as 0.0 in the exact cosine
    val dir = java.nio.file.Files.createTempDirectory("ivfpqnullv").toString
    Similarity.ivfPqWriteIndex(bigWithDup, s"$dir/index",
      numFiles = 2, m = 2, dims = 4, centroidMod = 7, coarseMod = 20,
      storeVecs = true)
    withNullCoord(33L).where(col("vec_id") === 33L)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("v"))
      .write.mode("append").parquet(s"$dir/index/vecs/tail")
    val queries = bigWithDup.where(col("vec_id") < 2)
      .withColumnRenamed("vec_id", "query_id")
    val e = intercept[IllegalArgumentException](
      Similarity.ivfPqRerankPersistedQ(spark, s"$dir/index", queries, k = 3,
        rerankR = 62, m = 2, dims = 4, centroidMod = 7, nprobe = 4).collect())
    assert(e.getMessage.contains("vec_id 33 has a null coordinate"),
      e.getMessage)
    // in-plan, the index build itself fails by vec_id
    val inPlan = intercept[Exception](Similarity.ivfPqRerank(
      withNullCoord(33L), nQueries = 2, k = 3, rerankR = 62, m = 2, dims = 4,
      centroidMod = 7, coarseMod = 20, nprobe = 4).collect())
    assert(messages(inPlan).contains("vec_id 33 has a null coordinate"),
      messages(inPlan))
  }

  test("both Lloyd trainers reject a training vector with a null " +
    "coordinate by vec_id") {
    // vec 33 ≡ 0 mod trainMod 3 is in the training subset; its null used
    // to be read as 0.0 by the init rows and every mean update
    val bad = withNullCoord(33L)
    val all = Seq(
      "pqTrainCodebooks" -> (() => Similarity.pqTrainCodebooks(bad, m = 2,
        dims = 4, ksub = 4, iters = 1, trainMod = 3)),
      "ivfTrainCentroids" -> (() => Similarity.ivfTrainCentroids(bad,
        dims = 4, nlists = 3, iters = 1, trainMod = 3)))
    all.foreach { case (name, train) =>
      val e = intercept[Exception](train())
      assert(messages(e).contains("vec_id 33 has a null coordinate"),
        s"$name: ${messages(e)}")
    }
  }

  /** Every message of `e`'s cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  test("every IVF+PQ build rejects a vector with a null coordinate by " +
    "vec_id: both writers, the append and the in-plan searches") {
    import org.apache.spark.sql.functions._
    // vec 33's null used to be encoded and assigned as 0.0
    val bad = withNullCoord(33L)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqnullb").toString
    Similarity.ivfPqWriteIndex(bad.where(col("vec_id") =!= 33L),
      s"$dir/append", numFiles = 2, m = 2, dims = 4, centroidMod = 7,
      coarseMod = 20, storeVecs = true)
    val all = Seq(
      "ivfPqWriteIndex" -> (() => Similarity.ivfPqWriteIndex(bad,
        s"$dir/subset", numFiles = 2, m = 2, dims = 4, centroidMod = 7,
        coarseMod = 20)),
      "ivfPqWriteIndexTrained" -> (() => Similarity.ivfPqWriteIndexTrained(
        bad, s"$dir/trained", numFiles = 2, m = 2, dims = 4, ksub = 4,
        nlists = 3, iters = 1, trainMod = 3)),
      "ivfPqAppendIndex" -> (() => Similarity.ivfPqAppendIndex(spark,
        s"$dir/append", bad.where(col("vec_id") === 33L), m = 2, dims = 4)),
      "ivfPqSearch" -> (() => Similarity.ivfPqSearch(bad, nQueries = 5,
        k = 3, m = 2, dims = 4, centroidMod = 7, coarseMod = 20,
        nprobe = 2).collect()),
      "ivfPqResidualSearch" -> (() => Similarity.ivfPqResidualSearch(bad,
        nQueries = 5, k = 3, m = 2, dims = 4, centroidMod = 7,
        coarseMod = 20, nprobe = 2).collect()))
    all.foreach { case (name, call) =>
      val e = intercept[Exception](call())
      assert(messages(e).contains("vec_id 33 has a null coordinate"),
        s"$name: ${messages(e)}")
    }
  }
}
