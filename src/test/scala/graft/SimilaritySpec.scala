package graft

import org.apache.spark.sql.functions._
import graft.similarity.Similarity

class SimilaritySpec extends SparkSpec {

  private def emb(rows: (Long, Seq[Float])*) =
    spark.createDataFrame(rows.map { case (id, v) => (id, v) })
      .toDF("vec_id", "embedding")

  private val e = emb(
    (0L, Seq(1f, 0f, 0f)),
    (1L, Seq(1f, 0f, 0f)), // identical to 0
    (2L, Seq(0f, 1f, 0f)), // orthogonal
    (3L, Seq(0.8f, 0.6f, 0f)))

  test("cosineTopK ranks the identical vector first with cos 1.0") {
    val out = Similarity.cosineTopK(e, nQueries = 1, k = 3).collect()
      .map(r => r.getInt(2) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(out(1) == ((1L, 1.0)))
    assert(out(2)._1 == 3L && math.abs(out(2)._2 - 0.8) < 1e-6)
    assert(out(3) == ((2L, 0.0)))
  }

  test("signBuckets puts identical vectors in the same bucket") {
    val b = Similarity.signBuckets(spark, e, bits = 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) == b(1L))
    assert(b.size == 4)
  }

  test("banded sign-LSH: identical vectors collide in every band; cap drops hot buckets") {
    val b = Similarity.signBucketsBanded(spark, e, bands = 3, rowBits = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(b.size == 4 * 3) // one row per (vec, band)
    (0 until 3).foreach(band => assert(b((0L, band)) == b((1L, band))))

    val pairs = Similarity.nearDupPairsBanded(spark, e, threshold = 0.99,
      bands = 3, rowBits = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L))) // the identical pair, found once despite 3 bands

    // cap = 1: every bucket with both vectors dropped -> no pairs survive
    val capped = Similarity.nearDupPairsBanded(spark, e, threshold = 0.99,
      bands = 3, rowBits = 2, maxBucketSize = 1).collect()
    assert(capped.isEmpty)
  }

  test("nearDupPairs finds the identical pair at threshold") {
    val pairs = Similarity.nearDupPairs(spark, e, threshold = 0.99, bits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.contains((0L, 1L, 1.0)))
  }

  test("ivfAssign assigns every vector to its best centroid; centroid to itself") {
    // centroidMod = 2 -> centroids {0, 2}
    val out = Similarity.ivfAssign(e, centroidMod = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 4)
    assert(out(0L) == 0L && out(2L) == 2L)
    assert(out(1L) == 0L) // identical to centroid 0
    assert(out(3L) == 0L) // cos 0.8 vs 0.6 -> centroid 0
  }

  test("semanticDedup drops every >=threshold lower-id in-cluster dup") {
    // centroidMod default 97 -> single centroid (vec 0), one cluster of 4.
    // Pairs over threshold 0.7: (0,1) cos 1.0, (0,3) 0.8, (1,3) 0.8 ->
    // dropped = {1, 3}; keep-min-id keeps 0 and the orthogonal 2.
    val out = Similarity.semanticDedup(e, threshold = 0.7).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out.size == 4)
    assert(out.values.forall(_._1 == 0L))
    assert(out.view.mapValues(_._2).toMap ==
      Map(0L -> 1, 1L -> 0, 2L -> 1, 3L -> 0))
  }

  test("ivfSearch ranks only within the query's cluster") {
    // centroidMod = 2: centroids are vec 0 and 2; vecs 0,1 cluster to 0,
    // vecs 2 to itself; 3 lands with 0's cluster (cos 0.8 vs 0.6)
    val out = Similarity.ivfSearch(e, nQueries = 1, k = 3, centroidMod = 2)
      .collect().map(r => r.getInt(2) -> r.getLong(1)).toMap
    assert(out(1) == 1L) // identical vector first
    assert(out(2) == 3L) // same-cluster diagonal vector
    assert(!out.values.toSet.contains(2L)) // other cluster never scanned
  }

  test("native dot_product == higher-order fold, codegen-compiled, null-safe") {
    val df = spark.range(200).selectExpr(
      "transform(sequence(0, 63), j -> CAST((id * 7 + j * 13) % 97 AS DOUBLE)) AS a",
      "transform(sequence(0, 63), j -> CAST((id * 11 + j * 17) % 89 AS DOUBLE)) AS b")
    val native = df.select(
      graft.functions.DotProductExpr.col(col("a"), col("b")).as("d"))
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("d"))
    assert(native.collect().map(_.getDouble(0)).toSeq ==
      hof.collect().map(_.getDouble(0)).toSeq)
    // survives whole-stage codegen (no fallback exception) and SQL registry
    graft.functions.GraftFunctions.register(spark)
    val viaSql = df.selectExpr("dot_product(a, b) AS d")
    assert(viaSql.agg(sum("d")).collect()(0).getDouble(0) ==
      native.agg(sum("d")).collect()(0).getDouble(0))
    // nulls propagate
    val withNull = spark.sql(
      "SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS d")
    assert(withNull.collect()(0).isNullAt(0))
  }

  test("dot_product of an array holding a null element is null, as the " +
    "higher-order fold it replaced") {
    graft.functions.GraftFunctions.register(spark)
    // row-dependent arrays run the generated path; literals fold
    // through the interpreted one
    val df = spark.range(1).selectExpr(
      "array(1.0d, IF(id < 0, 1.0d, NULL), 3.0d) AS a",
      "array(2.0d + id, 5.0d, 7.0d) AS b")
    val hof = df.select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)).collect()(0)
    assert(hof.isNullAt(0))
    Seq("dot_product(a, b)", "dot_product(b, a)").foreach { e =>
      assert(df.selectExpr(e).collect()(0).isNullAt(0), e)
    }
    assert(spark.sql("SELECT dot_product(array(1.0d, CAST(NULL AS DOUBLE)), " +
      "array(2.0d, 5.0d))").collect()(0).isNullAt(0))
    assert(df.selectExpr("dot_product(b, b)").collect()(0).getDouble(0) == 78.0)
  }
}
