package emibench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ops.RankFusion
import graft.similarity.Similarity
import graft.text.Bm25

/** Shared shape of the persisted BM25 and IVF+PQ indexes. */
object Indexes {
  val Dims = 64
  val M = 8
  // subset-trained IVF+PQ: codebook rows are the vec_ids ≡ 0 (mod
  // CentroidMod), coarse lists the vec_ids ≡ 0 (mod CoarseMod)
  val CentroidMod = 97
  val CoarseMod = 101
  val NProbe = 4
  val TopK = 10
  val NumFiles = 8
  // small row groups, so min/max statistics can prune inside a file
  val WriterOptions = Map("parquet.block.size" -> (1 << 20).toString)

  def docsDf(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows).toDF("doc_id", "text")

  def vecsDf(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => (id, v.toSeq) })
      .toDF("vec_id", "embedding")

  def queryVecsDf(spark: SparkSession, rows: Seq[(Long, Array[Float])]): DataFrame =
    vecsDf(spark, rows).withColumnRenamed("vec_id", "query_id")

  def writeBm25(spark: SparkSession, docs: DataFrame, dir: String): Unit =
    Bm25.writeIndex(spark, docs, dir, NumFiles, WriterOptions)

  def writeAnn(vecs: DataFrame, dir: String, storeVecs: Boolean): Unit =
    Similarity.ivfPqWriteIndex(vecs, dir, NumFiles, M, Dims, CentroidMod,
      CoarseMod, WriterOptions, storeVecs = storeVecs)

  def bm25(spark: SparkSession, dir: String, q: Seq[(Int, String)]): DataFrame =
    Bm25.searchPersisted(spark, dir, q, topK = TopK)

  def ann(spark: SparkSession, dir: String, q: DataFrame): DataFrame =
    Similarity.ivfPqSearchPersistedQ(spark, dir, q, TopK, M, Dims,
      CentroidMod, NProbe)

  /** Rows as comparable strings (exact: doubles print their bits). */
  def rows(rs: Array[Row]): Set[String] = rs.map(_.toSeq.mkString("|")).toSet
  def rowSet(df: DataFrame): Set[String] = rows(df.collect())
}

/** `serve`: read-only query batches against persisted BM25 and IVF+PQ
  * indexes. One round issues one batch of each kind, in a seeded order:
  * BM25, ANN, hybrid, and hybrid with exact rerank. */
final class ServeWorkload(spark: SparkSession, seed: Long) extends Workload {
  import Indexes._

  val NDocs = 6000
  val NVecs = 6000
  val Vocab = 10000
  val ZipfS = 1.1
  val Batch = 8
  val RerankR = 50

  private val zipf = new Gen.Zipf(Vocab, ZipfS)
  private val mixture = new Gen.Mixture(seed * 31 + 7, 64, Dims)
  private var bm25Dir = ""
  private var annDir = ""
  private var postingsBytes = 0L
  private var codesBytes = 0L
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private val queryRng = new SplittableRandom(seed ^ 0x5eed5eedL)
  private val orderRng = new SplittableRandom(seed + 1)

  def setup(dir: String): Unit = {
    val r = new SplittableRandom(seed)
    docs = docsDf(spark, (0L until NDocs).map(i => (i, Gen.text(zipf, r, 6, 24))))
    vecs = vecsDf(spark, (0L until NVecs).map(i => (i, mixture.sample(r))))
    bm25Dir = s"$dir/bm25"
    annDir = s"$dir/ann"
    graft.Par.run(
      () => writeBm25(spark, docs, bm25Dir),
      () => writeAnn(vecs, annDir, storeVecs = true))
    postingsBytes = Gen.bytesUnder(s"$bm25Dir/postings")
    codesBytes = Gen.bytesUnder(s"$annDir/codes")
  }

  private def textBatch(): Seq[(Int, String)] =
    (0 until Batch).map(i => (i, Gen.queryText(i, Batch, Vocab, queryRng)))

  private def vecBatch(): DataFrame =
    queryVecsDf(spark, (0L until Batch).map(i => (i, mixture.sample(queryRng))))

  private val kinds = Array("bm25", "ann", "hybrid", "hybrid_rerank")

  // the newest batch of each checked kind with its output, for checks()
  private var lastBm25: (Seq[(Int, String)], Set[String]) = _
  private var lastAnn: (DataFrame, Set[String]) = _
  private var lastHybrid: (Seq[(Int, String)], DataFrame, Set[String]) = _

  def round(t: Trace, rec: Recorder): Unit = {
    val order = kinds.clone()
    var i = order.length - 1
    while (i > 0) { // seeded Fisher-Yates
      val j = orderRng.nextInt(i + 1)
      val x = order(i); order(i) = order(j); order(j) = x
      i -= 1
    }
    order.foreach {
      case "bm25" =>
        val q = textBatch()
        val out = rec.op("bm25")(t.call("text", "Bm25.searchPersisted") {
          t.count("queries", Batch)
          t.count("index_bytes", postingsBytes)
          bm25(spark, bm25Dir, q).collect()
        })
        lastBm25 = (q, rows(out))
      case "ann" =>
        val q = vecBatch()
        val out = rec.op("ann")(t.call("similarity", "Similarity.ivfPqSearchPersistedQ") {
          t.count("queries", Batch)
          t.count("index_bytes", codesBytes)
          ann(spark, annDir, q).collect()
        })
        lastAnn = (q, rows(out))
      case kind =>
        val (tq, vq) = (textBatch(), vecBatch())
        val rerank = if (kind == "hybrid_rerank") RerankR else 0
        val out = rec.op(kind)(t.call("ops", "RankFusion.hybridSearchPersisted") {
          t.count("queries", Batch)
          val out = RankFusion.hybridSearchPersisted(spark, bm25Dir, annDir, tq,
            vq, kEach = TopK, k = 5, m = M, dims = Dims,
            centroidMod = CentroidMod, nprobe = NProbe, rerankR = rerank).collect()
          // the fusion caches its two legs; a serving loop releases them
          graft.Caching.release()
          out
        })
        if (rerank == 0) lastHybrid = (tq, vq, rows(out))
    }
  }

  def itemsPerRound: Long = 4L * Batch

  /** The newest timed batch of each kind against the in-plan search over
    * the same corpus (hybrid with rerank has no in-plan twin). */
  def checks(): Seq[Check] = {
    val lexInPlan = rowSet(Bm25.search(spark, docs, lastBm25._1, topK = TopK))
    val annInPlan = rowSet(Similarity.ivfPqSearchQ(vecs, lastAnn._1, TopK, M, Dims,
      CentroidMod, CoarseMod, NProbe))
    val hyInPlan = rowSet(RankFusion.hybridSearchAnnQ(spark, docs, vecs, lastHybrid._1,
      lastHybrid._2, kEach = TopK, k = 5, m = M, dims = Dims, centroidMod = CentroidMod,
      coarseMod = CoarseMod, nprobe = NProbe))
    graft.Caching.release()
    def cmp(name: String, a: Set[String], b: Set[String]) =
      Check(name, a == b && a.nonEmpty,
        s"persisted ${a.size} rows, in-plan ${b.size} rows, differing ${(a diff b).size + (b diff a).size}")
    Seq(
      cmp("bm25_persisted_equals_in_plan", lastBm25._2, lexInPlan),
      cmp("ann_persisted_equals_in_plan", lastAnn._2, annInPlan),
      cmp("hybrid_persisted_equals_in_plan", lastHybrid._3, hyInPlan))
  }

  def figures(rec: Recorder): Seq[Figure] = {
    val pooled = kinds.toSeq.flatMap(rec.ms)
    Seq(
      Figure("bm25_p50_ms", Stats.median(rec.ms("bm25")), "ms"),
      Figure("ann_p50_ms", Stats.median(rec.ms("ann")), "ms"),
      Figure("hybrid_p50_ms", Stats.median(rec.ms("hybrid")), "ms"),
      Figure("hybrid_rerank_p50_ms", Stats.median(rec.ms("hybrid_rerank")), "ms"),
      Figure("serve_p90_ms", Stats.quantile(pooled, 0.9), "ms"),
      Figure("batches", pooled.length.toDouble, "count"))
  }

  def inputs: Seq[(String, String)] = Seq(
    "docs" -> s"$NDocs docs, 6-24 words, Zipf(s=$ZipfS) over $Vocab words",
    "vectors" -> s"$NVecs x $Dims-dim float, 64-centre Gaussian mixture",
    "index" -> s"BM25 $NumFiles files; IVF+PQ m=$M, ${NVecs / CoarseMod + 1} lists, nprobe=$NProbe, with vecs",
    "batch" -> s"$Batch queries per batch, top-$TopK",
    "postings_bytes" -> postingsBytes.toString,
    "codes_bytes" -> codesBytes.toString)
}
