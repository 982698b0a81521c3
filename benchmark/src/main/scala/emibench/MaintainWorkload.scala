package emibench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.similarity.Similarity
import graft.text.Bm25

/** `maintain`: the BM25 and IVF+PQ index families under writes. One
  * round is a BM25 change cycle followed by an IVF+PQ change cycle. A
  * cycle runs an upsert, an append and a delete batch, then fixed probe
  * reads against the un-compacted index, then optimize, consolidate and
  * vacuum. (The upsert goes first because an upsert that replaces rows
  * compacts the index itself; run last, it would leave nothing
  * un-compacted for the probes to read.) */
final class MaintainWorkload(spark: SparkSession, seed: Long) extends Workload {
  import Indexes._

  val NDocs = 5000
  val NVecs = 5000
  val Vocab = 10000
  val ZipfS = 1.1
  val Appends = 200
  val Deletes = 250
  val UpsertReplace = 50
  val UpsertNew = 50
  val ProbeBatches = 2
  val Batch = 8

  private val zipf = new Gen.Zipf(Vocab, ZipfS)
  private val mixture = new Gen.Mixture(seed * 17 + 3, 32, Dims)
  private var rng = new SplittableRandom(seed)
  private var bm25Dir = ""
  private var annDir = ""
  private var dir = ""
  // the visible corpus, as the benchmark's own model of the index
  private val docs = mutable.LinkedHashMap.empty[Long, String]
  private val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private var nextId = 0L
  private var textProbes: Seq[Seq[(Int, String)]] = Nil
  private var vecProbes: Seq[Seq[(Long, Array[Float])]] = Nil
  private var lastProbeBytes = Map.empty[String, Long]

  /** Ids the IVF+PQ subset trainer samples (codebook and coarse lists)
    * are never changed, so a fresh index of the visible corpus trains
    * the same codebook: the maintained and fresh indexes must then
    * serve bit-identical results. */
  private def trainingId(id: Long): Boolean =
    id % CentroidMod == 0 || id % CoarseMod == 0

  private def freshId(): Long = {
    while (trainingId(nextId)) nextId += 1
    val id = nextId
    nextId += 1
    id
  }

  def setup(d: String): Unit = {
    dir = d
    rng = new SplittableRandom(seed)
    docs.clear(); vecs.clear()
    (0L until NDocs).foreach(i => docs(i) = Gen.text(zipf, rng, 6, 24))
    (0L until NVecs).foreach(i => vecs(i) = mixture.sample(rng))
    nextId = math.max(NDocs, NVecs).toLong
    val pr = new SplittableRandom(seed ^ 0x9e3779b97f4a7c15L)
    textProbes = Seq.fill(ProbeBatches)((0 until Batch).map(i => (i, Gen.queryText(i, Batch, Vocab, pr))))
    vecProbes = Seq.fill(ProbeBatches)((0L until Batch).map(i => (i, mixture.sample(pr))))
    bm25Dir = s"$d/bm25"
    annDir = s"$d/ann"
    Phase("bm25 index")(writeBm25(spark, docsDf(spark, docs.toSeq), bm25Dir))
    Phase("ivfpq index")(writeAnn(vecsDf(spark, vecs.toSeq), annDir, storeVecs = false))
  }

  /** `n` distinct visible ids outside the training subset. */
  private def victims[V](m: mutable.LinkedHashMap[Long, V], n: Int): Seq[Long] = {
    val ids = m.keysIterator.filterNot(trainingId).toArray
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) out += ids(rng.nextInt(ids.length))
    out.toSeq
  }

  private def ids(xs: Seq[Long]) =
    spark.createDataFrame(xs.map(Tuple1(_))).toDF("doc_id")

  private def cycle(t: Trace, rec: Recorder, family: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    t.call("cycle", s"${family}_cycle")(body)
    rec.samples.getOrElseUpdate(s"${family}_cycle", mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e6
  }

  /** Record the index's bytes at the probe point; returns its files. */
  private def probePoint(family: String, d: String): Long = {
    lastProbeBytes += family -> Gen.bytesUnder(d)
    Gen.parquetFilesUnder(d)
  }

  def round(t: Trace, rec: Recorder): Unit = {
    cycle(t, rec, "bm25") {
      val replaced = victims(docs, UpsertReplace)
      val upserts = (replaced ++ Seq.fill(UpsertNew)(freshId()))
        .map(id => id -> Gen.text(zipf, rng, 6, 24))
      val appends = Seq.fill(Appends)(freshId()).map(id => id -> Gen.text(zipf, rng, 6, 24))
      t.count("user_bytes", (upserts ++ appends).map(8L + _._2.getBytes("UTF-8").length).sum)
      rec.op("bm25_upsert")(t.call("text", "Bm25.upsertIndex")(
        Bm25.upsertIndex(spark, bm25Dir, docsDf(spark, upserts), NumFiles, WriterOptions)))
      upserts.foreach { case (id, s) => docs(id) = s }
      rec.op("bm25_append")(t.call("text", "Bm25.appendIndex")(
        Bm25.appendIndex(spark, bm25Dir, docsDf(spark, appends))))
      appends.foreach { case (id, s) => docs(id) = s }
      val dels = victims(docs, Deletes)
      rec.op("bm25_delete")(t.call("text", "Bm25.deleteIndex")(
        Bm25.deleteIndex(spark, bm25Dir, ids(dels))))
      dels.foreach(docs.remove)
      val files = probePoint("bm25", bm25Dir)
      textProbes.foreach { q =>
        rec.op("stale_read")(t.call("text", "Bm25.searchPersisted") {
          t.count("index_bytes", Gen.bytesUnder(s"$bm25Dir/postings"))
          t.count("files_live", files)
          t.count("probe", 1)
          bm25(spark, bm25Dir, q).collect()
        })
      }
      rec.op("bm25_optimize")(t.call("text", "Bm25.optimizeIndex")(
        Bm25.optimizeIndex(spark, bm25Dir, NumFiles, writerOptions = WriterOptions)))
      rec.op("bm25_consolidate")(t.call("text", "Bm25.consolidateIndex")(
        Bm25.consolidateIndex(spark, bm25Dir, NumFiles, WriterOptions)))
      rec.op("bm25_vacuum")(t.call("text", "Bm25.vacuumIndex")(
        Bm25.vacuumIndex(spark, bm25Dir, force = true)))
    }
    cycle(t, rec, "ann") {
      val replaced = victims(vecs, UpsertReplace)
      val upserts = (replaced ++ Seq.fill(UpsertNew)(freshId())).map(id => id -> mixture.sample(rng))
      val appends = Seq.fill(Appends)(freshId()).map(id => id -> mixture.sample(rng))
      t.count("user_bytes", (upserts.length + appends.length) * (8L + 4L * Dims))
      rec.op("ann_upsert")(t.call("similarity", "Similarity.ivfPqUpsertIndex")(
        Similarity.ivfPqUpsertIndex(spark, annDir, vecsDf(spark, upserts), NumFiles, M, Dims,
          WriterOptions)))
      upserts.foreach { case (id, v) => vecs(id) = v }
      rec.op("ann_append")(t.call("similarity", "Similarity.ivfPqAppendIndex")(
        Similarity.ivfPqAppendIndex(spark, annDir, vecsDf(spark, appends), M, Dims)))
      appends.foreach { case (id, v) => vecs(id) = v }
      val dels = victims(vecs, Deletes)
      rec.op("ann_delete")(t.call("similarity", "Similarity.ivfPqDeleteIndex")(
        Similarity.ivfPqDeleteIndex(spark, annDir,
          ids(dels).withColumnRenamed("doc_id", "vec_id"))))
      dels.foreach(vecs.remove)
      val files = probePoint("ann", annDir)
      vecProbes.foreach { q =>
        rec.op("stale_read")(t.call("similarity", "Similarity.ivfPqSearchPersistedQ") {
          t.count("index_bytes", Gen.bytesUnder(s"$annDir/codes"))
          t.count("files_live", files)
          t.count("probe", 1)
          ann(spark, annDir, queryVecsDf(spark, q)).collect()
        })
      }
      rec.op("ann_optimize")(t.call("similarity", "Similarity.ivfPqOptimizeIndex")(
        Similarity.ivfPqOptimizeIndex(spark, annDir, NumFiles, writerOptions = WriterOptions)))
      rec.op("ann_consolidate")(t.call("similarity", "Similarity.ivfPqConsolidateIndex")(
        Similarity.ivfPqConsolidateIndex(spark, annDir, NumFiles, WriterOptions)))
      rec.op("ann_vacuum")(t.call("similarity", "Similarity.ivfPqVacuumIndex")(
        Similarity.ivfPqVacuumIndex(spark, annDir, force = true)))
    }
  }

  def itemsPerRound: Long = 2L * (Appends + Deletes + UpsertReplace + UpsertNew)

  private var spaceAmp = Double.NaN

  def checks(): Seq[Check] = {
    val fresh = s"$dir/fresh"
    graft.Par.run(
      () => writeBm25(spark, docsDf(spark, docs.toSeq), s"$fresh/bm25"),
      () => writeAnn(vecsDf(spark, vecs.toSeq), s"$fresh/ann", storeVecs = false))
    val freshBytes = Gen.bytesUnder(s"$fresh/bm25") + Gen.bytesUnder(s"$fresh/ann")
    spaceAmp = lastProbeBytes.values.sum.toDouble / freshBytes
    val r = new SplittableRandom(seed ^ 0xfeedL)
    val tq = textProbes :+ (0 until Batch).map(i => (i, Gen.queryText(i, Batch, Vocab, r)))
    val vq = vecProbes :+ (0L until Batch).map(i => (i, mixture.sample(r)))
    val lexBad = tq.count(q => rowSet(bm25(spark, bm25Dir, q)) != rowSet(bm25(spark, s"$fresh/bm25", q)))
    val annBad = vq.count { q =>
      val df = queryVecsDf(spark, q)
      rowSet(ann(spark, annDir, df)) != rowSet(ann(spark, s"$fresh/ann", df))
    }
    Seq(
      Check("bm25_maintained_equals_fresh", lexBad == 0,
        s"${docs.size} visible docs, ${tq.size} batches, $lexBad differ"),
      Check("ann_maintained_equals_fresh", annBad == 0,
        s"${vecs.size} visible vectors, ${vq.size} batches, $annBad differ"))
  }

  def figures(rec: Recorder): Seq[Figure] = Seq(
    Figure("bm25_cycle_p50_s", Stats.median(rec.ms("bm25_cycle")) / 1000.0, "s"),
    Figure("ann_cycle_p50_s", Stats.median(rec.ms("ann_cycle")) / 1000.0, "s"),
    Figure("stale_read_p50_ms", Stats.median(rec.ms("stale_read")), "ms"),
    Figure("space_amp", spaceAmp, "ratio"),
    Figure("cycles", rec.ms("bm25_cycle").length.toDouble + rec.ms("ann_cycle").length, "count"))

  def inputs: Seq[(String, String)] = Seq(
    "docs" -> s"$NDocs docs, 6-24 words, Zipf(s=$ZipfS) over $Vocab words",
    "vectors" -> s"$NVecs x $Dims-dim float, 32-centre Gaussian mixture",
    "cycle" -> (s"upsert $UpsertReplace replaced + $UpsertNew new, append $Appends, " +
      s"delete $Deletes; $ProbeBatches probe batches of $Batch"))
}
