package graft

import graft.ops.RankFusion
import org.apache.spark.sql.functions._

class RankFusionSpec extends SparkSpec {
  import spark.implicits._

  test("rrfFuse: hand-computed RRF nano contributions, consensus first") {
    // leg A ranks docs (10, 11, 12); leg B ranks (11, 10, 13).
    // contrib(r) = round(1e9 / (60 + r)):
    //   r=1 -> 16393443, r=2 -> 16129032, r=3 -> 15873016
    val a = Seq((0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 11L, 1), (0L, 10L, 2), (0L, 13L, 3))
      .toDF("query_id", "doc_id", "rank")
    val out = RankFusion.rrfFuse(Seq(a, b), k = 4).collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._2)
    // both consensus docs sum r1+r2 = 32522475 and tie; doc_id breaks it
    assert(out === Array(
      (10L, 1, 16393443L + 16129032L, 2L),
      (11L, 2, 16129032L + 16393443L, 2L),
      (12L, 3, 15873016L, 1L),
      (13L, 4, 15873016L, 1L)))
  }

  test("rrfFuse: per-query isolation and k cap") {
    val a = Seq((0L, 1L, 1), (1L, 2L, 1), (1L, 3L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = RankFusion.rrfFuse(Seq(a), k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.toSet === Set((0L, 1L, 1), (1L, 2L, 1)))
  }

  test("hybridSearch: a doc that is both lexically and semantically " +
    "near its query outranks single-leg docs") {
    // corpus: doc 0 is the query doc; doc 5 shares its words AND its
    // embedding direction; doc 6 shares only words; doc 7 only vector.
    val docs = Seq(
      (0L, "hash join table plan"), (5L, "hash join table cost"),
      (6L, "hash join table scan"), (7L, "group sort window"),
      (8L, "parquet page footer"), (9L, "csv header comma"))
      .toDF("doc_id", "text")
    val embeddings = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f, 0.0f)),
      (5L, Array(0.9f, 0.0f, 0.1f, 0.0f)),
      (6L, Array(0.0f, 1.0f, 0.0f, 0.3f)),
      (7L, Array(1.0f, 0.1f, 0.1f, 0.0f)),
      (8L, Array(0.0f, 0.2f, 1.0f, 0.0f)),
      (9L, Array(0.0f, 0.0f, 0.2f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = RankFusion.hybridSearch(spark, docs, embeddings,
      Seq((0, "hash join table")), kEach = 3, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(4)))
    assert(out.forall(_._1 == 0L))
    val top = out.minBy(_._3)
    assert(top._2 == 5L, s"expected two-leg doc 5 first, got $top")
    assert(top._4 == 2L, "doc 5 should be hit by both legs")
    // no self-hit from the semantic leg at rank 1..k? doc 0 IS a valid
    // lexical hit (it contains the query words) — just assert fusion
    // returned <= k rows with distinct ranks
    assert(out.map(_._3).sorted === (1 to out.length).toArray)
  }

  test("hybridSearchAnn swaps the IVF+PQ leg in verbatim: same fusion " +
    "arithmetic, ANN candidates") {
    import org.apache.spark.sql.functions.{col, lit, sequence, transform}
    val docs = spark.range(60L).select(col("id").as("doc_id"),
      concat_ws(" ", lit("w"), (col("id") % 7).cast("string"),
        lit("hash"), lit("join")).as("text"))
    val embeddings = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float")).as("embedding"))
    val out = RankFusion.hybridSearchAnn(spark, docs, embeddings,
      Seq((0, "hash join"), (1, "w 1")), kEach = 5, k = 3,
      m = 2, dims = 4, centroidMod = 7, coarseMod = 20, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(4)))
    assert(out.nonEmpty)
    assert(out.map(_._1).toSet == Set(0L, 1L))
    assert(out.forall(r => r._2 >= 1 && r._2 <= 3 && r._3 >= 1 && r._3 <= 2))
    // non-prefix query ids are rejected (the IVF+PQ query convention)
    intercept[IllegalArgumentException] {
      RankFusion.hybridSearchAnn(spark, docs, embeddings, Seq((3, "x")))
    }
  }

  test("hybridSearchAnnQ with standalone query embeddings equals the " +
    "prefix form, and frees the query ids from the prefix convention") {
    import org.apache.spark.sql.functions.{col, lit, sequence, transform}
    val docs = spark.range(60L).select(col("id").as("doc_id"),
      concat_ws(" ", lit("w"), (col("id") % 7).cast("string"),
        lit("hash"), lit("join")).as("text"))
    val embeddings = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float")).as("embedding"))
    val queries = Seq((0, "hash join"), (1, "w 1"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4))).toSet
    val viaPrefix = rows(RankFusion.hybridSearchAnn(spark, docs, embeddings,
      queries, kEach = 5, k = 3, m = 2, dims = 4, centroidMod = 7,
      coarseMod = 20, nprobe = 3))
    // standalone embeddings for the same query ids — excludeSelf=true
    // reproduces the prefix form's kNN convention exactly
    val qEmb = embeddings.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val viaQ = rows(RankFusion.hybridSearchAnnQ(spark, docs, embeddings,
      queries, qEmb, kEach = 5, k = 3, m = 2, dims = 4, centroidMod = 7,
      coarseMod = 20, nprobe = 3, excludeSelf = true))
    assert(viaQ == viaPrefix)
    // NON-prefix ids (which hybridSearchAnn rejects) work in the Q form
    val shifted = Seq((7, "hash join"), (9, "w 1"))
    val qEmbShifted = embeddings.where(col("vec_id") < 2)
      .select((col("vec_id") * 2 + 7).as("query_id"), col("embedding"))
    val viaShifted = rows(RankFusion.hybridSearchAnnQ(spark, docs,
      embeddings, shifted, qEmbShifted, kEach = 5, k = 3, m = 2, dims = 4,
      centroidMod = 7, coarseMod = 20, nprobe = 3))
    assert(viaShifted.map(_._1).toSet == Set(7L, 9L))
  }

  test("hybridSearchPersisted (both legs from persisted artifacts) " +
    "equals the in-plan standalone-query hybrid") {
    import org.apache.spark.sql.functions.{col, lit, sequence, transform}
    val docs = spark.range(60L).select(col("id").as("doc_id"),
      concat_ws(" ", lit("w"), (col("id") % 7).cast("string"),
        lit("hash"), lit("join")).as("text"))
    val embeddings = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float")).as("embedding"))
    val queries = Seq((0, "hash join"), (1, "w 1"))
    val qEmb = embeddings.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4))).toSet
    val inPlan = rows(RankFusion.hybridSearchAnnQ(spark, docs, embeddings,
      queries, qEmb, kEach = 5, k = 3, m = 2, dims = 4, centroidMod = 7,
      coarseMod = 20, nprobe = 3, excludeSelf = true))
    val dir = java.nio.file.Files.createTempDirectory("hybper").toString
    graft.text.Bm25.writeIndex(spark, docs, s"$dir/bm25", numFiles = 2)
    graft.similarity.Similarity.ivfPqWriteIndex(embeddings, s"$dir/ann",
      numFiles = 2, m = 2, dims = 4, centroidMod = 7, coarseMod = 20)
    val persisted = rows(RankFusion.hybridSearchPersisted(spark,
      s"$dir/bm25", s"$dir/ann", queries, qEmb, kEach = 5, k = 3,
      m = 2, dims = 4, centroidMod = 7, nprobe = 3, excludeSelf = true))
    assert(persisted == inPlan,
      "persisted-artifact hybrid must reproduce the in-plan hybrid")
  }

  test("rrfFuse dedupes a malformed leg to its best rank per (query, doc)") {
    // leg A returns doc 10 TWICE (rank 1 and rank 3) — a caller passing
    // a non-top-k relation. The fusion must count it once, at rank 1,
    // and legs_hit must stay <= the number of legs.
    val a = Seq((0L, 10L, 1), (0L, 10L, 3), (0L, 11L, 2))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((0L, 10L, 1)).toDF("query_id", "doc_id", "rank")
    val out = RankFusion.rrfFuse(Seq(a, b), k = 4).collect()
      .map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4)))).toMap
    // doc 10: one contribution per leg at rank 1 (16393443 each), 2 legs
    assert(out(10L) == ((2L * 16393443L, 2L)))
    // doc 11: single rank-2 contribution
    assert(out(11L) == ((16129032L, 1L)))
  }

  test("rrfFuse rejects empty legs and bad parameters") {
    intercept[IllegalArgumentException] { RankFusion.rrfFuse(Nil, k = 5) }
    val a = Seq((0L, 1L, 1)).toDF("query_id", "doc_id", "rank")
    intercept[IllegalArgumentException] {
      RankFusion.rrfFuse(Seq(a), k = 0)
    }
  }

  test("rrfFuse rejects a null query_id, doc_id or rank by name") {
    val ok = Seq((0L, 1L, 1)).toDF("query_id", "doc_id", "rank")
    val rows = Seq(
      "query_id" -> Seq((None, Some(1L), Some(1))),
      "doc_id" -> Seq((Some(0L), None, Some(1))),
      "rank" -> Seq((Some(0L), Some(1L), None)))
    rows.foreach { case (name, leg) =>
      val bad = leg.toDF("query_id", "doc_id", "rank")
      val e = intercept[IllegalArgumentException] {
        RankFusion.rrfFuse(Seq(ok, bad), k = 3)
      }
      assert(e.getMessage.contains(s"rrfFuse leg 1 has a null $name"),
        e.getMessage)
    }
  }

  test("hybrid legs are BUILT concurrently: each leg thunk runs on its own " +
    "fusion thread, so a leg's call-time work overlaps the other legs") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    // each leg waits for the other to START building: built one after
    // the other, the first leg's bounded wait expires and fails the call
    val started = new CountDownLatch(2)
    def leg(rows: Seq[(Long, Long, Int)]): () => org.apache.spark.sql.DataFrame =
      () => {
        started.countDown()
        assert(started.await(60, TimeUnit.SECONDS),
          "the other leg was not being built concurrently")
        rows.toDF("query_id", "doc_id", "rank")
      }
    val a = Seq((0L, 10L, 1), (0L, 11L, 2))
    val b = Seq((0L, 11L, 1), (0L, 12L, 2))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    assert(rowsOf(RankFusion.fuseLegs(Seq(leg(a), leg(b)), k = 3, rrfK = 60)) ==
      rowsOf(RankFusion.rrfFuse(Seq(a.toDF("query_id", "doc_id", "rank"),
        b.toDF("query_id", "doc_id", "rank")), k = 3)))
  }
}
