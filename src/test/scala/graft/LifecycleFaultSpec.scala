package graft

import graft.similarity.Similarity
import graft.text.Bm25
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local filesystem under the `faultfs` scheme that fails the Nth
  * create, rename or delete after [[FaultFs.arm]] — for every thread
  * and every Spark task of the (local-mode) JVM, so it reaches driver
  * lifecycle calls and executor writes alike. Every file creation goes
  * through `createOutputStreamWithMode`. */
class FaultFs extends RawLocalFileSystem {
  // a literal, not a field: the superclass constructor calls getUri
  override def getUri: java.net.URI = java.net.URI.create("faultfs:///")
  override def getScheme: String = "faultfs"

  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean,
      permission: org.apache.hadoop.fs.permission.FsPermission)
      : java.io.OutputStream = {
    if (!append) FaultFs.tick("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.tick("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultFs.tick("delete", f)
    super.delete(f, recursive)
  }
}

object FaultFs {
  private val ops = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var failAt = 0

  /** Count operations from now on and fail the `n`th (never, for
    * `Int.MaxValue` — a counting run). */
  def arm(n: Int): Unit = { ops.set(0); failAt = n }

  /** Stop counting; returns the operations counted. */
  def disarm(): Int = { failAt = 0; ops.get }

  private[graft] def tick(op: String, p: Path): Unit =
    if (failAt > 0 && ops.incrementAndGet() == failAt)
      throw new java.io.IOException(s"injected fault: $op #$failAt $p")
}

/** Fault-injection matrix for the shared consolidate and optimize
  * ([[graft.ops.ClusteredIndex.consolidate]] / `optimize` behind
  * [[Bm25.consolidateIndex]], [[Bm25.optimizeIndex]],
  * [[Similarity.ivfPqConsolidateIndex]] and
  * [[Similarity.ivfPqOptimizeIndex]]): for a tiny index of each family —
  * with a tail and pending tombstones — every create/rename/delete the
  * pass issues is failed in turn, and
  *  - a fresh reader sees exactly the pre-op (= post-op: neither pass
  *    ever changes results) search result;
  *  - a fault-free retry converges to the no-fault pass: same results,
  *    same rows in the live generations;
  *  - a forced vacuum leaves no unreferenced gen-* or staged-* directory.
  */
class LifecycleFaultSpec extends SparkSpec {

  private def faultDir(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    "faultfs://" + java.nio.file.Files.createTempDirectory(prefix).toString
  }

  private def localOf(dir: String) = new java.io.File(new Path(dir).toUri.getPath)

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Rows of the manifest-live generations of the lifecycle relation at
    * `dir`, read raw (no tombstone mask): what consolidate rewrote. */
  private def liveGenRows(dir: String): Set[Seq[Any]] = {
    val gens = graft.ops.TableManifest.latest(fsOf(dir), new Path(dir))
      .flatMap(_.gens).getOrElse(Seq.empty)
    if (gens.isEmpty) Set.empty
    else rows(spark.read.parquet(gens.map(g => s"$dir/$g"): _*))
  }

  /** Directories named `gen-*` (or `staged-*`) under `dir` that the
    * newest manifest does not reference. */
  private def unreferenced(dir: String): Seq[String] = {
    val fs = fsOf(dir)
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else {
      val m = graft.ops.TableManifest.latest(fs, p)
      val live = m.flatMap(_.gens).getOrElse(Seq.empty).toSet ++
        m.map(s => s.stat.filterNot(s.xstat.contains).map(_.split("/").head))
          .getOrElse(Seq.empty)
      fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(n => n.matches("(gen|staged)-\\d+") && !live.contains(n))
        .map(n => s"$dir/$n")
    }
  }

  /** Run the matrix: `op(dir)` over a copy of the fixture at `base` once
    * per fault point; `search`, `relations` (lifecycle relation dirs
    * under an index dir) and `vacuum` are the family's. */
  private def matrix(
      base: String,
      op: String => Unit,
      search: String => Set[Seq[Any]],
      relations: Seq[String],
      vacuum: String => Unit): Unit = {
    def copy(): String = {
      val d = faultDir("faultmx")
      org.apache.commons.io.FileUtils.copyDirectory(localOf(base), localOf(d))
      d
    }
    def state(d: String) = relations.map(r => liveGenRows(s"$d/$r"))
    graft.ops.ServingCache.invalidate()
    val expected = search(base)
    val clean = copy()
    FaultFs.arm(Int.MaxValue)
    val points =
      try { op(clean); FaultFs.disarm() } finally FaultFs.disarm()
    assert(points > 0)
    graft.ops.ServingCache.invalidate()
    assert(search(clean) == expected, "the pass changed the results")
    val cleanState = state(clean)
    var fired = 0
    for (n <- 1 to points) {
      val d = copy()
      FaultFs.arm(n)
      val thrown =
        try { op(d); None }
        catch { case e: Exception => Some(e) }
        finally FaultFs.disarm()
      if (thrown.isDefined) fired += 1
      graft.ops.ServingCache.invalidate()
      assert(search(d) == expected,
        s"fault point $n: a fresh reader saw neither the pre- nor the " +
          s"post-op result (${thrown.map(_.getMessage)})")
      op(d)
      graft.ops.ServingCache.invalidate()
      assert(search(d) == expected, s"fault point $n: retry changed results")
      assert(state(d) == cleanState,
        s"fault point $n: retry did not converge to the no-fault pass")
      vacuum(d)
      val orphans = relations.flatMap(r => unreferenced(s"$d/$r"))
      assert(orphans.isEmpty, s"fault point $n: vacuum left $orphans")
      graft.ops.ServingCache.invalidate()
      assert(search(d) == expected, s"fault point $n: vacuum changed results")
      org.apache.commons.io.FileUtils.deleteDirectory(localOf(d))
    }
    // a fault point past the ops of a (concurrent) run may not fire;
    // nearly all must
    assert(fired >= points - 2, s"only $fired of $points fault points fired")
    info(s"$points fault points, $fired fired")
  }

  /** A BM25 index with a generation, a tail and pending tombstones. */
  private def bm25Fixture(): String = {
    val docs = spark.createDataFrame((0L until 14L).map(i =>
      (i, s"alpha w${i % 3} beta w${i % 5}"))).toDF("doc_id", "text")
    val base = faultDir("bm25fault")
    Bm25.writeIndex(spark, docs.where(col("doc_id") < 10), base, numFiles = 1)
    Bm25.appendIndex(spark, base, docs.where(col("doc_id") >= 10))
    Bm25.optimizeIndex(spark, base, numFiles = 1)
    Bm25.appendIndex(spark, base,
      spark.createDataFrame(Seq((20L, "alpha w1 gamma"))).toDF("doc_id", "text"))
    Bm25.deleteIndex(spark, base,
      docs.where(col("doc_id").isin(2L, 11L)).select("doc_id"))
    base
  }

  private val bm25Queries = Seq((0, "alpha w1"), (1, "beta w4 gamma"))

  /** The BM25 matrix of `op`. */
  private def bm25Matrix(op: String => Unit): Unit =
    matrix(bm25Fixture(), op,
      d => rows(Bm25.searchPersisted(spark, d, bm25Queries)),
      Seq("postings", "docstats", "stats"),
      d => Bm25.vacuumIndex(spark, d, force = true))

  private def ivfVecs = spark.range(24L).select(col("id").as("vec_id"),
    transform(sequence(lit(0), lit(3)),
      d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
        .cast("float")).as("embedding"))

  /** An IVF+PQ index (codes + vecs) with a tail and pending tombstones. */
  private def ivfFixture(): String = {
    val vecs = ivfVecs
    val base = faultDir("ivffault")
    Similarity.ivfPqWriteIndexTrained(vecs.where(col("vec_id") < 20), base,
      numFiles = 1, m = 2, dims = 4, ksub = 4, nlists = 2, iters = 1,
      trainMod = 3, storeVecs = true)
    Similarity.ivfPqAppendIndex(spark, base,
      vecs.where(col("vec_id") >= 20), m = 2, dims = 4)
    Similarity.ivfPqDeleteIndex(spark, base,
      spark.createDataFrame(Seq(Tuple1(4L), Tuple1(21L))).toDF("vec_id"))
    base
  }

  /** The IVF+PQ matrix of `op`, read through the exact re-rank. */
  private def ivfMatrix(op: String => Unit): Unit = {
    val queries = ivfVecs.where(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    matrix(ivfFixture(), op,
      d => rows(Similarity.ivfPqRerankPersistedQ(spark, d, queries, k = 3,
        rerankR = 24, m = 2, dims = 4, centroidMod = 1, nprobe = 2)),
      Seq("codes", "vecs"),
      d => Similarity.ivfPqVacuumIndex(spark, d, force = true))
  }

  test("BM25 consolidate: every create/rename/delete fault point leaves " +
    "readers on the pre/post snapshot, retries converge, vacuum " +
    "reclaims the orphans") {
    bm25Matrix(d => Bm25.consolidateIndex(spark, d, numFiles = 1))
  }

  test("IVF+PQ consolidate (codes + vecs): every create/rename/delete " +
    "fault point leaves readers on the pre/post snapshot, retries " +
    "converge, vacuum reclaims the orphans") {
    ivfMatrix(d => Similarity.ivfPqConsolidateIndex(spark, d, numFiles = 1))
  }

  test("BM25 optimize: every create/rename/delete fault point leaves " +
    "readers on the pre/post snapshot, retries converge, vacuum " +
    "reclaims the orphans") {
    bm25Matrix(d => Bm25.optimizeIndex(spark, d, numFiles = 1))
  }

  test("IVF+PQ optimize (codes + vecs): every create/rename/delete " +
    "fault point leaves readers on the pre/post snapshot, retries " +
    "converge, vacuum reclaims the orphans") {
    ivfMatrix(d => Similarity.ivfPqOptimizeIndex(spark, d, numFiles = 1))
  }
}
