package graft

import graft.text.Bm25
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

class Bm25Spec extends SparkSpec {

  private def corpus() = spark.createDataFrame(Seq(
    (1L, "apple banana apple cherry"),
    (2L, "banana cherry cherry date"),
    (3L, "apple apple apple apple"),
    (4L, "elderberry fig grape lemon"))).toDF("doc_id", "text")

  test("rare terms outrank frequent ones; only matching docs retrieved") {
    val out = Bm25.search(spark, corpus(), Seq((0, "apple date")))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(4)))
      .sortBy(_._1)
    // df(date)=1 -> idf ln(1+3.5/1.5)=1.204; df(apple)=2 -> ln 2=0.693.
    // All dl == avgdl == 4 so tf-part = tf*2.2/(tf+1.2):
    //   doc2 (date tf1):  1.204*1.0   = 1.204  <- rare term wins
    //   doc3 (apple tf4): 0.693*1.692 = 1.173
    //   doc1 (apple tf2): 0.693*1.375 = 0.953
    assert(out.map(t => (t._1, t._2)).toSeq ==
      Seq((1, 2L), (2, 3L), (3, 1L)), out.mkString(", "))
    assert(out(0)._3 > 1.2 && out(0)._3 < 1.21)
    assert(out(2)._3 > 0.95 && out(2)._3 < 0.96)
  }

  test("topK bounds results per query; ties break on doc_id") {
    val docs = spark.createDataFrame(
      (1L to 30L).map(i => (i, "same words every time"))).toDF("doc_id", "text")
    val out = Bm25.search(spark, docs, Seq((0, "same"), (1, "words")), topK = 5)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(out.length == 10)
    // identical scores -> rank order is doc_id order
    assert(out.filter(_._1 == 0).sortBy(_._2).map(_._3).toSeq ==
      (1L to 5L).toSeq)
  }

  test("persisted index serves search() verbatim across the lifecycle " +
    "(write -> append -> optimize -> delete -> consolidate)") {
    import org.apache.spark.sql.functions._
    val docs = spark.createDataFrame((0L until 40L).map(i =>
      (i, s"alpha w${i % 7} beta w${i % 11} " +
        (if (i % 3 == 0) "gamma" else "delta"))))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25life").toString
    val queries = Seq((0, "alpha w3"), (1, "gamma w5 beta"), (2, "w10 delta"))
    def res(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet

    Bm25.writeIndex(spark, docs.where(col("doc_id") < 25), dir, numFiles = 3)
    Bm25.appendIndex(spark, dir, docs.where(col("doc_id") >= 25))
    val full = res(Bm25.search(spark, docs, queries))
    assert(res(Bm25.searchPersisted(spark, dir, queries)) == full,
      "tail state (unoptimized append) must already serve the full corpus")
    assert(Bm25.optimizeIndex(spark, dir, numFiles = 2) > 0L)
    assert(res(Bm25.searchPersisted(spark, dir, queries)) == full)

    // deletes: masked immediately, N/avgdl/df corrected exactly —
    // bit-identical to a rebuild without the deleted docs
    val victims = docs.where(col("doc_id") % 4 === 1).select("doc_id")
    Bm25.deleteIndex(spark, dir, victims)
    val afterDel = res(Bm25.search(
      spark, docs.where(col("doc_id") % 4 =!= 1), queries))
    assert(afterDel != full, "fixture too weak: delete changed nothing")
    assert(res(Bm25.searchPersisted(spark, dir, queries)) == afterDel)
    // repeat delete contributes zero (stats not double-subtracted)
    Bm25.deleteIndex(spark, dir, victims)
    assert(res(Bm25.searchPersisted(spark, dir, queries)) == afterDel)
    // re-adding a tombstone-PENDING doc is the silent-loss path — the
    // append must reject it loudly (consolidate first, then re-add)
    intercept[IllegalArgumentException] {
      Bm25.appendIndex(spark, dir,
        docs.where(col("doc_id") === 5)) // 5 % 4 == 1, tombstoned
    }

    // consolidate applies tombstones physically and retires them in
    // ONE manifest commit; the retired inputs stay on DISK one
    // maintenance interval for in-flight readers (r19 contract), so
    // vacuum first to let the raw-file assertions see the live snapshot
    assert(Bm25.consolidateIndex(spark, dir, numFiles = 2) > 0L)
    assert(res(Bm25.searchPersisted(spark, dir, queries)) == afterDel)
    Bm25.vacuumIndex(spark, dir, force = true)
    assert(res(Bm25.searchPersisted(spark, dir, queries)) == afterDel,
      "vacuum must not change what a fresh reader sees")
    val raw = spark.read.parquet(s"$dir/postings/gen-*")
    assert(raw.where(col("doc_id") % 4 === 1).count() == 0,
      "deleted docs survive in the consolidated postings files")
    val delDir = new java.io.File(s"$dir/postings/deletes")
    assert(!delDir.exists() ||
      !delDir.listFiles.exists(_.getName.endsWith(".parquet")),
      "tombstones not retired after consolidate")
    // consolidate also compacts the additive stats relation (4
    // maintenance ops appended 4 rows) to ONE sum-preserving staged
    // file — admitted and the originals retired in a single manifest
    // commit (no double-count window); post-vacuum only the fold
    // remains on disk
    def walkParquet(f: java.io.File): Int =
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array[java.io.File]()).map(walkParquet).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val statFiles = walkParquet(new java.io.File(s"$dir/stats"))
    assert(statFiles == 1,
      s"stats relation holds $statFiles files after consolidate+vacuum, want 1")
  }

  test("stats fold is crash-safe: an UNCOMMITTED staged fold is invisible " +
    "(no double-count window) and reclaimed; the committed fold retires " +
    "the originals atomically") {
    import org.apache.spark.sql.functions._
    val docs = spark.createDataFrame((0L until 20L).map(i =>
      (i, s"alpha w${i % 5}"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25fold").toString
    val queries = Seq((0, "alpha w3"))
    def res() = Bm25.searchPersisted(spark, dir, queries).collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    Bm25.writeIndex(spark, docs.where(col("doc_id") < 10), dir, numFiles = 2)
    Bm25.appendIndex(spark, dir, docs.where(col("doc_id") >= 10))
    val healthy = res()
    // simulate a fold that crashed BEFORE its manifest commit: a staged
    // directory holding a (bogus, double-counting) sum exists but no
    // manifest references it — the reader must not see it (pre-r19 the
    // fold row landed as a DIRECT file and double-counted immediately)
    spark.range(1).select(lit(999L).as("n_docs"), lit(99999L).as("sum_dl"))
      .coalesce(1).write.parquet(s"$dir/stats/staged-0")
    graft.ops.ServingCache.invalidate() // drop the cached healthy stats
    assert(res() == healthy,
      "uncommitted staged fold leaked into the visible stats")
    // the next consolidate reclaims the orphan stage and commits a REAL
    // fold; the visible sums are unchanged (bit-exact scores)
    Bm25.consolidateIndex(spark, dir, numFiles = 2)
    assert(res() == healthy, "committed fold changed the stats")
    Bm25.vacuumIndex(spark, dir, force = true)
    assert(res() == healthy, "vacuum changed the stats")
    // exactly one visible stats payload remains after the fold+vacuum
    def walkParquet(f: java.io.File): Int =
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array[java.io.File]()).map(walkParquet).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    assert(walkParquet(new java.io.File(s"$dir/stats")) == 1)
  }

  test("upsertIndex: replaced docs serve the NEW text bit-identically " +
    "to a rebuild; purely-new ids skip the physical rewrite") {
    import org.apache.spark.sql.functions._
    val docs = spark.createDataFrame((0L until 40L).map(i =>
      (i, s"alpha w${i % 7} beta w${i % 11}"))).toDF("doc_id", "text")
    val stale = docs.withColumn("text",
      when(col("doc_id") % 8 === 2, lit("stale row")).otherwise(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("bm25ups").toString
    val queries = Seq((0, "alpha w3"), (1, "w10 beta"), (2, "stale"))
    def res(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    Bm25.writeIndex(spark, stale, dir, numFiles = 3)
    // replace the stale docs with their true text
    Bm25.upsertIndex(spark, dir,
      docs.where(col("doc_id") % 8 === 2), numFiles = 2)
    assert(res(Bm25.searchPersisted(spark, dir, queries)) ==
      res(Bm25.search(spark, docs, queries)),
      "upserted index diverged from a rebuild over the true corpus")
    // idempotence: upserting the same batch again is still the same
    // corpus (delete subtracts what the previous upsert added, append
    // re-adds it — stats stay exact)
    Bm25.upsertIndex(spark, dir,
      docs.where(col("doc_id") % 8 === 2), numFiles = 2)
    assert(res(Bm25.searchPersisted(spark, dir, queries)) ==
      res(Bm25.search(spark, docs, queries)))
    // purely-new ids: no visible victims -> no tombstones -> no
    // physical rewrite (the generation set is untouched; the batch
    // lands in the tail like a plain append)
    def gens(): Set[String] = Option(
      new java.io.File(s"$dir/postings").listFiles())
      .getOrElse(Array[java.io.File]())
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
      .map(_.getName).toSet
    val gensBefore = gens()
    val extra = spark.createDataFrame(Seq((100L, "omega w3 alpha")))
      .toDF("doc_id", "text")
    Bm25.upsertIndex(spark, dir, extra, numFiles = 2)
    assert(gens() == gensBefore,
      "purely-new upsert triggered a physical rewrite")
    assert(res(Bm25.searchPersisted(spark, dir, queries)) ==
      res(Bm25.search(spark, docs.unionByName(extra), queries)))
  }

  test("dedup append is not poisoned by its own writes: consecutive " +
    "overlapping dedupAgainstIndex batches keep stats exact") {
    import org.apache.spark.sql.functions._
    // REGRESSION: the dedup anti-join READS docstats while the append
    // WRITES it; a persist()ed incoming was invalidated by its own
    // docstats write (Spark refreshes cached plans on the written
    // path) and re-evaluated the anti-join against the just-written
    // rows — the batch deduped against ITSELF and its stats row
    // landed as (0,0), silently skewing every subsequent idf/avgdl.
    // appendIndex snapshots the batch (localCheckpoint) instead.
    val docs = spark.createDataFrame((0L until 30L).map(i =>
      (i, s"alpha w${i % 7} tok$i"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25selfref").toString
    Bm25.writeIndex(spark, docs.where(col("doc_id") < 10), dir, numFiles = 2)
    Bm25.appendIndex(spark, dir,
      docs.where(col("doc_id") >= 10 && col("doc_id") < 20),
      dedupAgainstIndex = true)
    Bm25.appendIndex(spark, dir,
      docs.where(col("doc_id") >= 15), dedupAgainstIndex = true)
    val n = spark.read.parquet(s"$dir/stats")
      .agg(sum("n_docs")).collect()(0).getLong(0)
    assert(n == 30L, s"stats n=$n after overlapping dedup appends, want 30")
    def res(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val queries = Seq((0, "alpha w3"), (1, "tok25 w4"))
    assert(res(Bm25.searchPersisted(spark, dir, queries)) ==
      res(Bm25.search(spark, docs, queries)))
  }

  test("searchPersisted reads ~ the queried terms' postings: pushed " +
    "In(term) prunes the term-clustered scan") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions._
    // 3000 docs x 3 distinct-term slots -> ~9000 postings over 30 files
    val docs = spark.createDataFrame((0L until 3000L).map(i =>
      (i, s"t${i % 500} u${i % 301} v${i % 97}"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25prune").toString
    Bm25.writeIndex(spark, docs, dir, numFiles = 30,
      writerOptions = Map("parquet.block.size" -> (16L << 10).toString))
    val out = Bm25.searchPersisted(spark, dir, Seq((0, "t123 v55")))
    val hits = out.queryExecution.toRdd.count() // executes THIS plan,
    assert(hits > 0)                            // populating its metrics
    def scans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val planStr = out.queryExecution.executedPlan.toString
    assert(planStr.replaceAll("\\s", "").contains("In(term"),
      s"query-term IN not pushed to the postings scan:\n$planStr")
    val scanned = scans(out.queryExecution.executedPlan)
      .filter(_.toString.contains("postings"))
      .map(_.metrics("numOutputRows").value).sum
    // matched postings: df(t123)=6 + df(v55)=~31. Granularity, not
    // volume, bounds the read: 2 matched term regions x <= 2 straddled
    // 300-row files each = 1200 rows, ~13% of the relation (vs 100%
    // unpruned); the exact-row fraction shrinks with file count.
    assert(scanned <= 1200L,
      s"postings scan read $scanned of ~9000 rows - term pruning lost")
  }

  test("corpus is never broadcast; token shuffle is term-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("bm25spec").toString
    spark.createDataFrame(
      (0L until 60L).map(i => (i, s"alpha beta w${i % 9} gamma w${i % 5}")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs_bm25")
    val docs = spark.read.parquet(s"$dir/docs_bm25")
    val out = Bm25.search(spark, docs, Seq((0, "alpha w3")))
    val plan = out.queryExecution.executedPlan
    val corpusBcasts = plan.collect {
      case b: BroadcastExchangeExec
        if b.collect { case s: FileSourceScanExec => s }
          .exists(_.relation.location.rootPaths
            .exists(_.toString.contains("docs_bm25"))) => b
    }
    assert(corpusBcasts.isEmpty, "BM25 must broadcast only query/idf/stats tables")
    assert(out.count() == 10)
  }

  test("deleteIndex releases its victims snapshot when a tombstone " +
    "write fails") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("bm25leak").toString
    Bm25.writeIndex(spark, corpus(), dir, numFiles = 1)
    // a directory below a regular file can never be created: the
    // postings tombstone write fails
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$dir/postings/deletes"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      Bm25.deleteIndex(spark, dir, corpus().where(col("doc_id") === 2L))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }
}
