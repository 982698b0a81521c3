package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Speciation
import graft.dedup.Dedup
import graft.profiles.Profiles
import graft.similarity.Similarity

/** Physical-plan and cache-hygiene guarantees: operators that promise
  * "one scan of the fact table" really do scan once, and pipelines that
  * persist reuse points leave no cached blocks behind after
  * Caching.release() (the Verify/Bench per-query hand-off). */
class PlanSpec extends SparkSpec {

  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Number of file-scan leaves over `tag` in df's optimized plan. */
  private def scansOf(df: DataFrame, tag: String): Int =
    df.queryExecution.optimizedPlan.collectLeaves().count {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains(tag))
        case _ => false
      }
      case _ => false
    }

  /** `body`'s result and the number of Spark jobs it started. A
    * sentinel job closes the count: listener events arrive in order, so
    * once its start is seen every job of `body` is seen too. */
  private def jobsIn[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-probe", "probe")
      val out = body
      sc.setJobGroup("jobs-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("jobs-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("jobs-sentinel"), "sentinel job not seen")
      (out, groups.toArray.count(_ == "jobs-probe"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** The codes relation a persisted search of `queries` scans: the
    * index at `dir` read for the queries' probed lists. */
  private def probedCodes(dir: String, divisor: Int,
      queries: Seq[(Long, Array[Double])], nprobe: Int): DataFrame = {
    val ann = Similarity.Ann.opened(spark, dir, m = 2, dims = 4, divisor)
    ann.codes(Similarity.probeLuts(queries, ann.coarse.get, ann.book, nprobe)
      .map(_._2).distinct.sorted)
  }

  private def factFromParquet(): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    basicInv.write.mode("overwrite").parquet(s"$dir/fact_planspec")
    spark.read.parquet(s"$dir/fact_planspec")
  }

  test("speciate scans the fact table exactly once (single-pass)") {
    val fact = factFromParquet()
    val out = Speciation.speciate(spark, fact,
      Seq(("adf", "CO2", "CO2_A", 0.4), ("adf", "CO2", "CO2_B", 0.6)))
    assert(scansOf(out, "fact_planspec") == 1)
    // semantics: speciated rows split, others pass through
    val m = totalsBySub(out)
    assert(math.abs(m(("adf", "CO2_A")) - 0.4 * (0 + 1 + 2 + 3 + 4)) < 1e-9)
    assert(math.abs(m(("adf", "CO2_B")) - 0.6 * (0 + 1 + 2 + 3 + 4)) < 1e-9)
    assert(m(("adf", "CH4")) == 3 + 4 + 5 + 6 + 7)
    assert(!m.contains(("adf", "CO2")))
  }

  test("speciateNox scans the fact table exactly once") {
    val fact = factFromParquet()
    val out = Speciation.speciateNox(spark, fact, noxSubstance = "NH3",
      no2Fraction = 0.25)
    assert(scansOf(out, "fact_planspec") == 1)
    val m = totalsBySub(out)
    val nh3Total = (1 + 2 + 3 + 4 + 5).toDouble
    assert(m(("test", "NO")) == nh3Total * (0.75 * 30.0 / 46.0))
    assert(m(("test", "NO2")) == nh3Total * 0.25)
    assert(m(("adf", "CO2")) == 0 + 1 + 2 + 3 + 4)
  }

  test("speciateByCountry scans the fact table exactly once, keeps " +
    "country-weighted ratios and homeless default") {
    val fact = factFromParquet()
    // cells 0,1 covered by countries; cells 2-4 homeless -> default row
    val fractions = spark.createDataFrame(Seq(
      (0L, "AA", 0.5), (0L, "BB", 0.5), (1L, "AA", 1.0)))
      .toDF("cell_id", "country", "fraction")
    val ratios = Seq(
      ("AA", "CO2", "X", 0.2), ("AA", "CO2", "Y", 0.8),
      ("BB", "CO2", "X", 0.6), ("BB", "CO2", "Y", 0.4))
    val defaults = Seq(("CO2", "X", 0.5), ("CO2", "Y", 0.5))
    val out = Speciation.speciateByCountry(spark, fact, fractions, ratios, defaults)
    assert(scansOf(out, "fact_planspec") == 1)
    val rows = out.where(col("category") === "adf").collect()
      .map(r => (r.getLong(0), r.getString(2)) -> r.getDouble(3)).toMap
    // cell 0 adf/CO2 value=0 -> 0; cell 1 value=1: AA only -> X=0.2,Y=0.8
    assert(rows((1L, "X")) == 0.2)
    assert(rows((1L, "Y")) == 0.8)
    // cell 2 homeless, value=2 -> default 0.5/0.5
    assert(rows((2L, "X")) == 1.0)
    assert(rows((2L, "Y")) == 1.0)
    // untouched substance passes through
    val m = totalsBySub(out)
    assert(m(("adf", "CH4")) == 3 + 4 + 5 + 6 + 7)
    assert(m(("test", "NH3")) == 1 + 2 + 3 + 4 + 5)
  }

  test("cache registry: pipelines leave no persistent RDDs after release") {
    Caching.release()
    val before = spark.sparkContext.getPersistentRDDs.size
    val docs = spark.createDataFrame(
      (0L until 40L).map(i => (i, s"w${i % 7} common text body w${i % 5} tail ${i % 3}")))
      .toDF("doc_id", "text")
    Dedup.verifiedNearDups(spark, docs, numHashes = 4, rowsPerBand = 2,
      threshold = 0.3).count()
    val prof = spark.createDataFrame(
      (0L until 30L).map(i => (i, (i % 4).toInt, (i % 3 + 1).toLong)))
      .toDF("profile_id", "pos", "qw")
    Profiles.dedupVectors(prof).count()
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "pipelines should persist reuse points while running")
    Caching.release()
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "Caching.release must unpersist everything the pipelines cached")
  }

  test("dedupVectors dense ids match global sorted rank (no RDD hop)") {
    // 3 distinct vectors across 6 profiles
    val prof = spark.createDataFrame(Seq(
      (1L, 0, 5L), (1L, 1, 7L),
      (2L, 0, 5L), (2L, 1, 7L), // same as 1
      (3L, 0, 1L),
      (4L, 0, 9L), (4L, 1, 2L),
      (5L, 0, 1L), // same as 3
      (6L, 0, 5L), (6L, 1, 7L))) // same as 1
      .toDF("profile_id", "pos", "qw")
    val ids = Profiles.dedupVectors(prof).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Caching.release()
    // vectors sorted: "0:1" < "0:5,1:7" < "0:9,1:2" -> ids 1, 2, 3
    assert(ids(3L) == 1L && ids(5L) == 1L)
    assert(ids(1L) == 2L && ids(2L) == 2L && ids(6L) == 2L)
    assert(ids(4L) == 3L)
  }

  test("polyGridWeights plans ZERO shuffle exchanges (join-free geometry)") {
    import graft.ops.SpatialJoin
    import graft.model.RegularGrid
    val polys = spark.createDataFrame(Seq(
      (1L, Array(0.5, 2.5, 2.5, 0.5), Array(0.5, 0.5, 1.5, 1.5))))
      .toDF("poly_id", "xs", "ys")
    val w = SpatialJoin.polyGridWeights(spark, RegularGrid(8, 8, 0, 0, 1, 1), polys)
    val plan = w.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(w.count() == 6) // 3x2 covered cells
  }

  test("remapDirect plans exactly ONE shuffle (the output aggregate)") {
    import graft.ops.Regrid
    val emi = basicInv
    val out = Regrid.remapDirect(emi, Tables.srcGrid, Tables.dstGrid)
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("combineInventories plans exactly ONE shuffle (the stitched aggregate)") {
    import graft.ops.Regrid
    val tri = Seq((0.0, 0.0), (64.0, 0.0), (0.0, 64.0))
    val emi = basicInv
    val out = Regrid.combineInventories(
      spark, emi, Tables.srcGrid, emi, Tables.srcGrid, tri, Tables.dstGrid)
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("PiiScrub.scrub plans ZERO shuffles (narrow codegen chain)") {
    val docs = spark.range(64).select(col("id").as("doc_id"),
      concat(lit("u"), col("id"), lit("@x.co at 10.0.0."), col("id") % 9)
        .as("text"))
    val out = graft.text.PiiScrub.scrub(docs)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // '*(n)' marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project"), s"fell out of codegen:\n$plan")
    // counts() re-derives the afterEmail/afterIp intermediate chains per
    // count column (each rule counts on the state it actually rewrites);
    // all of them must collapse into ONE codegen'd projection stage —
    // no second stage, no extra Project node materializing intermediates
    assert(!plan.contains("*(2)"), s"second codegen stage appeared:\n$plan")
    // all four output columns must come from the SAME Project node — the
    // re-derived intermediate chains never materialize a separate stage
    val scrubProjects = plan.linesIterator
      .filter(l => l.contains("Project") && l.contains("n_emails")).toSeq
    assert(scrubProjects.size == 1 && Seq("clean", "n_ips", "n_phones")
      .forall(scrubProjects.head.contains),
      s"scrub columns split across Project nodes:\n$plan")
  }

  test("UrlOps.canonical stays a narrow projection; dedup shuffles only on keys") {
    val docs = spark.range(64).select(col("id").as("doc_id"),
      concat(lit("http://h"), col("id") % 7, lit(".com/p?x="), col("id") % 3)
        .as("url"))
    val canonOnly = docs.select(graft.text.UrlOps.canonical(col("url")))
    assert(!canonOnly.queryExecution.executedPlan.toString.contains("Exchange"))
    // dedup: the exact-distinct aggregate — exchanges keyed on the
    // canonical url (±1 for the distinct pre-aggregate, planner's
    // choice), never a global repartition
    val plan = graft.text.UrlOps.dedupByCanonicalUrl(docs)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2 && exchanges >= 1,
      s"expected 1-2 key-partitioned exchanges, got $exchanges:\n$plan")
    assert(!plan.contains("RoundRobinPartitioning") &&
      !plan.contains("SinglePartition"), s"non-key partitioning:\n$plan")
  }

  test("source hygiene: no global windows, no RDD text reads in src/main") {
    import scala.jdk.CollectionConverters._
    val srcRoot = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(srcRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    // Evaluation.scala's and Quantiles.scala's cumulative windows run
    // AFTER a groupBy collapses the corpus to a metadata-sized table
    // (#distinct-scores rows / ≤ ~64·2^(sigBits−1) histogram buckets) —
    // a single partition by design; the "metadata-sized under the
    // global window" property is pinned by the dedicated plan tests
    // below, not waived.
    val globalWindowAllowed = Set("Evaluation.scala", "Quantiles.scala")
    val offenders = files.flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      // `Window.orderBy(` called ON THE OBJECT is the single-partition
      // global window; the partitioned form is Window.partitionBy(...).orderBy
      val global = text.contains("Window.orderBy(") &&
        !globalWindowAllowed.contains(p.getFileName.toString)
      val rddText = text.contains("sparkContext.textFile")
      if (global || rddText) Some(s"$p: global=$global rddText=$rddText") else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("Evaluation windows run above the score aggregate, never the corpus") {
    val docs = spark.range(10000).select(
      (col("id") % 97).as("score"), (col("id") % 3 === 0).cast("int").as("y"))
    for (out <- Seq(
        graft.ops.Evaluation.aucExact(docs, "score", "y"),
        graft.ops.Evaluation.thresholdSweep(docs, "score", "y"))) {
      // In treeString children print BELOW parents: the score-keyed
      // HashAggregate (keys=[score...]) must appear after the LAST
      // Window line — i.e. every single-partition window sees the
      // #scores-row aggregate output, never corpus rows.
      val plan = out.queryExecution.executedPlan.toString
      val lastWin = plan.lastIndexOf("Window")
      assert(lastWin >= 0, s"expected a window in the Evaluation plan:\n$plan")
      val below = plan.substring(lastWin)
      assert(below.contains("HashAggregate(keys=[score"),
        s"window not above the score aggregate:\n$plan")
    }
  }

  test("Quantiles windows run above the bucket aggregate, never the corpus") {
    val docs = spark.range(10000).select((col("id") % 997 + 1).as("v"))
    val hist = graft.ops.Quantiles.hdrBuild(docs, "v", 6)
    val out = graft.ops.Quantiles.hdrQuantiles(hist, Seq(500000L, 990000L))
    val plan = out.queryExecution.executedPlan.toString
    val lastWin = plan.lastIndexOf("Window")
    assert(lastWin >= 0, s"expected a window in the Quantiles plan:\n$plan")
    assert(plan.substring(lastWin).contains("HashAggregate(keys=[bucket"),
      s"window not above the bucket aggregate:\n$plan")
  }

  test("cleaningFunnel scans the documents table exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    spark.createDataFrame(Seq(
      (1L, ("w " * 25).trim, "en"), (2L, "short", "en")))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/docs_planspec")
    val docs = spark.read.parquet(s"$dir/docs_planspec")
    val out = graft.text.TextAnalysis.cleaningFunnel(docs, 20, "en")
    assert(scansOf(out, "docs_planspec") == 1,
      "the 4 stage counts must come from ONE pass, not one scan per stage")
    assert(out.count() == 4)
  }

  test("trainingPipeline pushes the language filter into the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    spark.createDataFrame(Seq(
      (1L, ("w " * 25).trim, "en", "s1"), (2L, ("v " * 25).trim, "de", "s1")))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/tp_planspec")
    val docs = spark.read.parquet(s"$dir/tp_planspec")
    val out = graft.text.TextAnalysis.trainingPipeline(docs, 20, "en")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("EqualTo(lang,en)"),
      s"lang filter not pushed to the scan:\n$plan")
    assert(out.count() == 1)
  }

  test("persisted IVF+PQ search pushes the probed-list IN into the " +
    "parquet index scan") {
    import org.apache.spark.sql.functions._
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("planspec_idx").toString
    graft.similarity.Similarity.ivfPqWriteIndex(big, s"$dir/index",
      numFiles = 3, m = 2, dims = 4, centroidMod = 7, coarseMod = 20)
    // the relation the search's one ADC job scans
    val scored = probedCodes(s"$dir/index", divisor = 7,
      Similarity.queryRows(Similarity.prefixQueries(big, 5)), nprobe = 2)
    val plan = scored.queryExecution.executedPlan.toString
    // the probed-list predicate must reach the scan as an IN over
    // list_id — a plan that filters list_id only above the scan (or
    // pushes a degraded range) reads the whole index
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s", "").contains("In(list_id"),
      s"probed-list IN not pushed to the index scan:\n$plan")
    assert(scored.count() > 0)
  }

  test("persisted IVF+PQ search runs one job per steady-state call: a " +
    "local-relation result, the caller's queries absent") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("planspec_qstage").toString
    // 3 files, so the ADC job runs several tasks
    Similarity.ivfPqWriteIndex(big, s"$dir/index",
      numFiles = 3, m = 2, dims = 4, centroidMod = 7, coarseMod = 20)
    big.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .write.parquet(s"$dir/callers_queries")
    def search(queries: DataFrame) = Similarity.ivfPqSearchPersistedQ(spark,
      s"$dir/index", queries, k = 3, m = 2, dims = 4, centroidMod = 7,
      nprobe = 2)
    val out = search(spark.read.parquet(s"$dir/callers_queries"))
    assert(out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"not a local relation:\n${out.queryExecution.optimizedPlan}")
    assert(!out.queryExecution.executedPlan.toString.contains("callers_queries"),
      s"the caller's query plan is re-planned in the search:\n" +
        out.queryExecution.executedPlan)
    assert(out.collect().length == 15)
    // a local query relation, as a serving loop passes it: the call's one
    // job is the ADC scan (the caller's parquet queries add their collect)
    val local = spark.createDataFrame(
      spark.read.parquet(s"$dir/callers_queries").collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Float](1))))
      .toDF("query_id", "embedding")
    val (rows, jobs) = jobsIn(search(local).collect())
    assert(jobs == 1, s"expected 1 job per steady-state call, got $jobs")
    assert(rows.map(_.toSeq).toSet == out.collect().map(_.toSeq).toSet)
  }

  test("persisted ANN top-k: each task ships at most k rows per query, " +
    "the driver merges them into a local relation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("planspec_topk").toString
    // 3 files, so the ADC job runs several tasks
    Similarity.ivfPqWriteIndex(big, s"$dir/index",
      numFiles = 3, m = 2, dims = 4, centroidMod = 7, coarseMod = 20)
    val out = Similarity.ivfPqSearchPersisted(spark, s"$dir/index", big,
      nQueries = 5, k = 3, m = 2, dims = 4, centroidMod = 7, nprobe = 2)
    assert(out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"not a local relation:\n${out.queryExecution.optimizedPlan}")
    val perQuery = out.collect().groupBy(_.getAs[Long]("query_id"))
    assert(perQuery.nonEmpty && perQuery.values.forall(_.length <= 3),
      s"more than k rows for a query: ${perQuery.map { case (q, r) =>
        q -> r.length }}")
    // each task ships at most k rows per query, whatever its rows
    val qs = Similarity.queryRows(Similarity.prefixQueries(big, 5))
    val ann = Similarity.Ann.opened(spark, s"$dir/index", m = 2, dims = 4,
      divisor = 7)
    val ranked = Similarity.ranked(ann, qs, nprobe = 3, excludeSelf = true,
      k = 2)
    assert(ranked.scan.queryExecution.toRdd.getNumPartitions > 1)
    assert(ranked.shipped >= 1 && ranked.shipped <= 2,
      s"a task shipped ${ranked.shipped} rows for one query, k = 2")
    assert(ranked.pairs > 2L * 5, s"only ${ranked.pairs} pairs scored")
  }

  test("hybridSearchPersisted returns a local relation and caches " +
    "nothing; the rerank vector fetch plans no shuffle and no window") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExecBase
    val docs = spark.range(60L).select(col("id").as("doc_id"),
      concat_ws(" ", lit("w"), (col("id") % 7).cast("string"),
        lit("hash"), lit("join")).as("text"))
    val big = spark.range(60L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("planspec_hyb").toString
    graft.text.Bm25.writeIndex(spark, docs, s"$dir/bm25", numFiles = 2)
    graft.similarity.Similarity.ivfPqWriteIndex(big, s"$dir/ann",
      numFiles = 3, m = 2, dims = 4, centroidMod = 7, coarseMod = 20,
      storeVecs = true)
    val qEmb = big.where(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    Caching.release()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    Seq(0, 8).foreach { rerankR =>
      val out = graft.ops.RankFusion.hybridSearchPersisted(spark,
        s"$dir/bm25", s"$dir/ann", Seq((0, "hash join"), (1, "w 1")), qEmb,
        kEach = 5, k = 3, m = 2, dims = 4, centroidMod = 7, nprobe = 3,
        rerankR = rerankR)
      val logical = out.queryExecution.optimizedPlan
      assert(logical.isInstanceOf[LocalRelation] &&
        logical.collect { case r: InMemoryRelation => r }.isEmpty,
        s"rerankR=$rerankR: not a local relation:\n$logical")
      val all = nodes(out.queryExecution.executedPlan)
      assert(!all.exists(n => n.isInstanceOf[Exchange] ||
        n.isInstanceOf[InMemoryTableScanExec]),
        s"rerankR=$rerankR: exchange or cache scan:\n${out.queryExecution.executedPlan}")
      assert(Caching.isEmpty, s"rerankR=$rerankR: the call registered a cache")
      assert(spark.sparkContext.getPersistentRDDs.size == persistedBefore,
        s"rerankR=$rerankR: the call persisted an RDD")
      assert(out.collect().length == 6)
    }

    val root = Similarity.indexRoot(spark, s"$dir/ann")
    val ids = Array(3L, 17L, 42L)
    val fetch = Similarity.rerankFetch(spark, root, ids.toSeq)
    val (vecs, jobs) = jobsIn(Similarity.fetched(fetch, ids))
    assert(jobs == 1, s"expected 1 fetch job, got $jobs")
    assert(vecs.map(_._1).sorted == ids.toSeq)
    val plan = fetch.queryExecution.executedPlan
    val all = nodes(plan)
    assert(!all.exists(n => n.isInstanceOf[ShuffleExchangeExec] ||
      n.isInstanceOf[WindowExecBase]), s"shuffle or window in the fetch:\n$plan")
    assert(plan.toString.replaceAll("\\s", "").contains("In(vec_id"),
      s"candidate ids not pushed to the vecs scan:\n$plan")
  }

  test("ivf_top_lists compiles to ONE call of the shared kernel " +
    "(no interpreted fallback)") {
    import org.apache.spark.sql.execution.debug.codegenString
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.get(key, "true")
    try {
      spark.conf.set(key, "false")
      val df = spark.range(8L).select(graft.functions.IvfTopListsExpr.col(
        array(col("id").cast("double") + 2.0, lit(2.0)),
        Array(Array(1.0, 0.0), Array(0.0, 1.0)), Array(3L, 5L), 2)
        .as("lists"))
      val code = codegenString(df.queryExecution.executedPlan)
      assert(code.contains("graft.functions.IvfTopListsExpr.topLists("),
        s"generated code does not call the kernel:\n$code")
      assert(df.collect().map(_.getSeq[Long](0)).forall(_ == Seq(3L, 5L)))
    } finally spark.conf.set(key, prior)
  }

  test("pq_encode compiles to ONE call of the shared kernel " +
    "(no interpreted fallback)") {
    import org.apache.spark.sql.execution.debug.codegenString
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.get(key, "true")
    try {
      spark.conf.set(key, "false")
      // v = (i, 2 | 0, i) against (0, 2 | 0, 0) id 3 and (5, 2 | 0, 5)
      // id 5: both subspaces pick 3 for i <= 2, else 5
      val i = col("id").cast("double")
      val df = spark.range(8L).select(graft.functions.PqEncodeExpr.col(
        array(i, lit(2.0), lit(0.0), i),
        Array(Array(0.0, 2.0, 0.0, 0.0), Array(5.0, 2.0, 0.0, 5.0)),
        Array(3L, 5L), 2, 2).as("codes"))
      val code = codegenString(df.queryExecution.executedPlan)
      assert(code.contains("graft.functions.PqEncodeExpr.encode("),
        s"generated code does not call the kernel:\n$code")
      assert(df.collect().map(_.getSeq[Long](0)).toSeq ==
        (0 until 8).map(n => if (n <= 2) Seq(3L, 3L) else Seq(5L, 5L)))
    } finally spark.conf.set(key, prior)
  }

  test("persisted search CHUNKS the probed-list IN above the session's " +
    "pushdown threshold: every scan keeps a pushed In and reads stay at " +
    "the probed fraction (no silent [min,max] degradation)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions._
    // 4000 vectors over 1000 coarse lists (~4 rows each), the codes
    // relation clustered into 200 files (~5 lists per file) so FILE
    // pruning resolves the probed fraction
    val big = spark.range(4000L).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(3)),
        d => (((col("id") * 13 + d * 11) % 29) + (col("id") % 5) + 1)
          .cast("float"))
        .as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("planspec_chunk").toString
    graft.similarity.Similarity.ivfPqWriteIndex(big, s"$dir/index",
      numFiles = 200, m = 2, dims = 4, centroidMod = 7, coarseMod = 4)
    def scanned(df: DataFrame): Long = {
      df.queryExecution.toRdd.count()
      def scans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
      scans(df.queryExecution.executedPlan)
        .filter(_.toString.contains("codes"))
        .map(_.metrics("numOutputRows").value).sum
    }
    // the relation the search's one ADC job scans, and what it ranks
    val qs = Similarity.queryRows(Similarity.prefixQueries(big, 10))
    def search() = probedCodes(s"$dir/index", divisor = 7, qs, nprobe = 4)
    def ranked() = Similarity.ranked(Similarity.Ann.opened(spark,
      s"$dir/index", m = 2, dims = 4, divisor = 7), qs, nprobe = 4,
      excludeSelf = true, k = 4000).rows.toSet
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    val prior = spark.conf.get(key, "10")
    try {
      // ideal single-IN reference: threshold far above the probed count
      spark.conf.set(key, "10000")
      val idealRows = ranked()
      val idealScanned = scanned(search())
      // the cliff regime: ~40 distinct probed lists over a threshold of
      // 16 — pre-chunking this degraded the pushed In to one [min,max]
      // range spanning most of the key domain
      spark.conf.set(key, "16")
      val chunked = search()
      assert(ranked() == idealRows)
      val plan = chunked.queryExecution.executedPlan.toString
      assert(plan.contains("Union"), s"expected chunked-union scans:\n$plan")
      val pushedIns = "In\\(list_id".r.findAllIn(plan.replaceAll("\\s", "")).size
      assert(pushedIns >= 2,
        s"expected >= 2 chunked In(list_id) pushdowns, got $pushedIns:\n$plan")
      val chunkedScanned = scanned(search())
      // chunks are contiguous slices of the SORTED probed lists, so a
      // file can straddle at most two adjacent chunks — scanned rows
      // stay within a boundary-file margin of the ideal single-IN scan
      assert(chunkedScanned <= (1.5 * idealScanned).toLong + 1,
        s"chunked scan read $chunkedScanned rows vs ideal $idealScanned")
      // and the probed fraction is what is READ, not the whole index
      assert(chunkedScanned <= 2000L,
        s"chunked scan read $chunkedScanned of 4000 rows - not pruning")

      // the O(1)-PLAN regime (r19): past 16 chunks' worth of probed
      // lists the union would grow linearly with the probe count, so
      // the scan switches to ONE range-cover scan — a superset predicate
      // made exact by the broadcast probe equi-join. threshold=2 puts
      // the ~40 probed lists at > 2×16, forcing the cover path.
      spark.conf.set(key, "2")
      val covered = search()
      assert(ranked() == idealRows,
        "range-cover scan changed the search result")
      val coverPlan = covered.queryExecution.executedPlan.toString
      assert(!coverPlan.contains("Union"),
        s"cover regime still built a chunk union:\n$coverPlan")
      // count actual scan NODES (the AQE plan string prints the same
      // scan in both its Initial and Final sections)
      def scanNodes(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
        case a: AdaptiveSparkPlanExec => scanNodes(a.executedPlan)
        case q: QueryStageExec => scanNodes(q.plan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scanNodes)
      }
      val coverScanNodes = scanNodes(covered.queryExecution.executedPlan)
        .filter(_.toString.contains("codes"))
      assert(coverScanNodes.length == 1,
        s"cover regime built ${coverScanNodes.length} codes scans, " +
          s"want 1:\n$coverPlan")
      // the range cover is PUSHED to the source (the display string
      // truncates long filter lists, so read the scan's metadata)
      val pushed = coverScanNodes.head.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("GreaterThanOrEqual(list_id"),
        s"no pushed range predicate on list_id: $pushed")
    } finally spark.conf.set(key, prior)
  }

  test("quantizeInt8 plans ZERO shuffle exchanges (narrow per-row kernels)") {
    val emb = spark.createDataFrame(Seq(
      (1L, Array(0.1f, -0.2f)), (2L, Array(0.3f, 0.4f))))
      .toDF("vec_id", "embedding")
    val out = graft.similarity.Similarity.quantizeInt8(emb)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    assert(out.count() == 2)
  }

  test("minhash/simhash broadcast only constant-size tables, never the corpus") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    spark.createDataFrame(
      (0L until 50L).map(i => (i, s"alpha beta w${i % 9} gamma w${i % 5} delta epsilon")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs_bcast")
    val docs = spark.read.parquet(s"$dir/docs_bcast")
    // A BroadcastExchange whose subtree scans the docs relation would ship
    // a corpus-proportional table to every executor — the 100 TB OOM the
    // inline-hash formulation exists to avoid. Only the k-row param /
    // bit tables may broadcast.
    def corpusBroadcasts(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case b: BroadcastExchangeExec
          if b.collect { case s: FileSourceScanExec => s }
            .exists(_.relation.location.rootPaths.exists(_.toString.contains("docs_bcast"))) =>
          b.toString
      }
    val mh = Dedup.minhashSignatures(spark, Dedup.shingles(docs), numHashes = 4)
    assert(corpusBroadcasts(mh).isEmpty, "minhash broadcasts the corpus")
    val sh = Dedup.simhash(spark, docs, bits = 8)
    assert(corpusBroadcasts(sh).isEmpty, "simhash broadcasts the corpus")
    assert(mh.count() == 50 * 4 && sh.count() == 50)
  }

  test("exactDuplicates pre-hashes and still groups exactly") {
    val docs = spark.createDataFrame(Seq(
      (1L, "alpha"), (2L, "beta"), (3L, "alpha"), (4L, "gamma"), (5L, "beta")))
      .toDF("doc_id", "text")
    val out = Dedup.exactDuplicates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(out == Set((1L, 1L, 0), (3L, 1L, 1), (2L, 2L, 0), (5L, 2L, 1),
      (4L, 4L, 0)))
  }

  test("duplicatedSpans: hash-keyed shuffles only, no broadcast of the " +
    "corpus, no nested-loop join") {
    val docs = spark.createDataFrame(
      (1L to 50L).map(i => (i, s"common prefix tokens here tail_$i x y z")))
      .toDF("doc_id", "text")
    val plan = graft.text.TextAnalysis.duplicatedSpans(docs)
      .queryExecution.executedPlan
    val planStr = plan.toString
    assert(!planStr.contains("CartesianProduct") &&
      !planStr.contains("BroadcastNestedLoopJoin"), planStr)
    // the whole pipeline is: gram aggregate + mark join + island window
    // — nothing may shuffle the raw token arrays, only (doc_id,pos,hash)
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.forall(e =>
      !e.child.schema.fieldNames.contains("w")),
      "token arrays must never shuffle:\n" + planStr)
  }

  /** Unwrap the AQE wrapper so collect() sees the physical operators
    * (AdaptiveSparkPlanExec has no children of its own). */
  private def concretePlan(df: DataFrame) =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }

  test("decontaminateBloom probes BELOW the shingle-distinct shuffle") {
    val docs = spark.createDataFrame(
      (1L to 40L).map(i => (i, s"alpha beta gamma delta tail_$i x y z")))
      .toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.decontaminateBloom(
      docs, Seq("alpha beta gamma"), n = 3)
    val plan = concretePlan(out)
    // the probe is a predicate on the distinct's grouping keys, so
    // Catalyst must push it through the Aggregate: every shuffle that
    // moves shingles has the bloom filter inside its subtree (the
    // corpus is prefiltered BEFORE it is ever exchanged)
    val shingleExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.child.schema.fieldNames.contains("shingle") => e
    }
    assert(shingleExchanges.nonEmpty, plan.toString)
    assert(shingleExchanges.forall(_.child.toString.contains("bloom_might_contain")),
      "bloom probe must run pre-shuffle:\n" + plan)
  }

  test("cdcChunks plans ZERO shuffle exchanges (narrow per-row chain)") {
    val docs = spark.createDataFrame(
      (1L to 30L).map(i => (i, s"w$i x$i y$i z$i a b c"))).toDF("doc_id", "text")
    val plan = concretePlan(graft.text.TextAnalysis.cdcChunks(docs))
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      "CDC chunking must stay narrow:\n" + plan)
  }

  test("splitOverlapMatrix: shingle-keyed joins only — no cartesian, no corpus broadcast") {
    val docs = spark.createDataFrame(
      (1L to 40L).map(i => (i, s"s${i % 3}", s"common words here tail_$i x y")))
      .toDF("doc_id", "split", "text")
    val out = Dedup.splitOverlapMatrix(docs, "split")
    val plan = out.queryExecution.executedPlan
    // the #splits-row pair matrix is a legitimate tiny non-equi join;
    // what must never happen is a cartesian/nested-loop or broadcast
    // over anything CARRYING SHINGLES (corpus-scale)
    def hasShingle(p: org.apache.spark.sql.execution.SparkPlan) =
      p.schema.fieldNames.contains("shingle")
    val bad = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
        if hasShingle(j.left) || hasShingle(j.right) => j
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec
        if hasShingle(c.left) || hasShingle(c.right) => c
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
        if hasShingle(e.child) => e
    }
    assert(bad.isEmpty,
      "shingle-bearing relations must never cartesian/broadcast:\n" + plan)
    out.count(); graft.Caching.release()
  }

  test("dedupAssign joins cluster stats — no corpus-wide window") {
    val docs = spark.createDataFrame(
      (1L to 30L).map(i => (i, s"text_$i"))).toDF("doc_id", "text")
    val pairs = spark.createDataFrame(Seq((1L, 2L), (2L, 3L)))
      .toDF("doc_a", "doc_b")
    val out = graft.dedup.Clustering.dedupAssign(docs, pairs)
    // cluster_size/keep must come from an aggregate over the TINY cc
    // table joined back, never a window partitioned over every doc's
    // cluster_id (that window was a full-corpus shuffle + sort)
    val windows = concretePlan(out).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "dedupAssign must not use a window:\n" +
      concretePlan(out).toString)
    val got = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    assert(got(1L) == ((1L, 3L, 1)) && got(2L) == ((1L, 3L, 0)) &&
      got(3L) == ((1L, 3L, 0)) && got(10L) == ((10L, 1L, 1)))
  }

  test("qualityClassifier and domainMix output plans are shuffle-free") {
    val docs = spark.createDataFrame(
      (1L to 30L).map(i => (i, s"some words here number_$i", "en")))
      .toDF("doc_id", "text", "lang")
    val q = graft.text.Curation.qualityClassifier(docs, Seq("some"),
      2.0, -1.5, 0.25, 1.0, -2.5)
    assert(!q.queryExecution.executedPlan.toString.contains("Exchange"),
      q.queryExecution.executedPlan.toString)
    // domainMix collects the tiny domain-count aggregate at build time;
    // the RETURNED plan (slot filter + epoch explode) must stay narrow
    val m = graft.ops.Sampling.domainMix(docs, "lang", Map("en" -> 1.0))
    assert(!m.queryExecution.executedPlan.toString.contains("Exchange"),
      m.queryExecution.executedPlan.toString)
  }

  test("dsirScores broadcasts only the bucket-weight table, not the corpus") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val docs = spark.createDataFrame(
      (1L to 30L).map(i => (i, s"alpha beta gamma delta_$i", "en")))
      .toDF("doc_id", "text", "lang")
    val out = graft.text.Curation.dsirScores(docs,
      docs.where(col("lang") === "en"), buckets = 64)
    val plan = concretePlan(out)
    val broadcasts = plan.collect { case b: BroadcastExchangeExec => b }
    assert(broadcasts.nonEmpty, plan.toString)
    val bad = broadcasts.filter(_.child.schema.fieldNames.contains("text"))
    assert(bad.isEmpty, "corpus must never be broadcast; offending " +
      s"broadcast children: ${bad.map(_.child.schema.fieldNames.mkString(","))}\n$plan")
  }

  test("containment/ed-join/heavy-hitter paths: no cartesian, no corpus broadcast") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    spark.createDataFrame(
      (0L until 60L).map(i =>
        (i, s"alpha beta w${i % 9} gamma w${i % 5} delta epsilon zeta_$i")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs_cont")
    val docs = spark.read.parquet(s"$dir/docs_cont")
    def corpusBroadcasts(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case b: BroadcastExchangeExec
          if b.collect { case s: FileSourceScanExec => s }
            .exists(_.relation.location.rootPaths.exists(_.toString.contains("docs_cont"))) =>
          b.toString
      }
    val cont = Dedup.containmentPairs(docs)
    val contStr = cont.queryExecution.executedPlan.toString
    assert(!contStr.contains("CartesianProduct") &&
      !contStr.contains("BroadcastNestedLoopJoin"), contStr)
    cont.count(); graft.Caching.release()
    val fuzzy = Dedup.editDistanceNearDups(docs, driverKeyLimit = 0L)
    val fuzzyStr = fuzzy.queryExecution.executedPlan.toString
    assert(!fuzzyStr.contains("CartesianProduct") &&
      !fuzzyStr.contains("BroadcastNestedLoopJoin"), fuzzyStr)
    assert(corpusBroadcasts(fuzzy).isEmpty,
      "ed-join must not broadcast the doc relation")
    fuzzy.count(); graft.Caching.release()
  }

  test("cardinalityReport: aggregation-only plan — no window, no corpus broadcast") {
    val ev = spark.range(200L).select(
      concat(lit("t"), col("id") % 2).as("event_type"),
      (col("id") % 37).as("user_id"))
    val out = graft.ops.Sketches.cardinalityReport(
      ev, "event_type", "user_id", shards = 4, lgK = 12)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "sketch report must not window")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"unexpected product join:\n$plan")
    // the final group-level join may broadcast — both sides are
    // #groups rows — but nothing corpus-sized may: the only scans are
    // the range source, so assert the join inputs are aggregates
    assert(plan.contains("partial_count") || plan.contains("objHashAggregate") ||
      plan.contains("HashAggregate"), "missing map-side aggregation")
    assert(out.count() == 2)
  }

  test("hourlyExportNcDistributed: ONE exchange keyed by hour, no cache " +
    "above the hour explode") {
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import graft.sinks.Exports
    // every node, descending into AQE and into cached plans
    def nodes(p: QueryPlan[_]): Seq[QueryPlan[_]] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => (p.children ++ p.innerChildren).collect { case q: QueryPlan[_] => q }
      }
      p +: kids.flatMap(nodes)
    }
    val sfs = spark.createDataFrame(Seq(("adf", "CH4", 0, 2.0)))
      .toDF("category", "substance", "hour_of_day", "sf")
    val input = Exports.hourlyInput(basicInv).persist()
    try {
      val (tss, spine) = Exports.hourKeys(spark, "2023-01-01 00:00:00", 30)
      assert(tss.size == 30 && spine.size == 30)
      val vars = input.select("var").distinct().collect().map(_.getString(0)).sorted.toSeq
      val keyed = Exports.hourlyKeyed(input, sfs, spine, vars)
      val all = nodes(keyed.queryExecution.executedPlan)
      val exchanges = all.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"expected 1 shuffle exchange, got ${exchanges.size}")
      assert(exchanges.head.shuffleOrigin == REPARTITION_BY_NUM,
        s"exchange origin ${exchanges.head.shuffleOrigin}")
      assert(!all.exists(_.isInstanceOf[HashAggregateExec]), "the writer sums, not the plan")
      assert(all.exists(_.isInstanceOf[GenerateExec]), "missing hour explode")
      // whole hours per partition, balanced: 30 hour keys over 4 shuffle
      // partitions are 8, 8, 7 and 7
      val hoursOf = keyed
        .select(spark_partition_id().as("p"), expr(s"hv div ${vars.size}").as("hk"))
        .distinct().collect()
        .groupBy(_.getInt(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
      assert(hoursOf.size == 4, s"partitions holding hours: ${hoursOf.keys}")
      assert(hoursOf.values.toSeq.flatten.sorted == (0L until 30L), "an hour split or lost")
      val counts = hoursOf.values.map(_.size)
      assert(counts.max - counts.min <= 1, s"unbalanced hour partitions: $counts")
      val caches = all.collect { case r: InMemoryRelation => r }
      assert(caches.nonEmpty, "the input rows should be read from the cache")
      caches.foreach { r =>
        assert(!nodes(r.cachedPlan).exists(_.isInstanceOf[GenerateExec]),
          s"cache over exploded rows:\n${r.cachedPlan}")
      }
    } finally input.unpersist()
  }

  test("hourKeys folds the hour spine on the driver: no Spark job runs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.sinks.Exports
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("hourkeys-probe", "hourKeys")
      val (tss, spine) = Exports.hourKeys(spark, "2023-01-01 00:00:00", 30)
      // a sentinel job: listener events arrive in order, so once its
      // start is seen every job hourKeys might have started is seen too
      sc.setJobGroup("hourkeys-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("hourkeys-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("hourkeys-sentinel"), "sentinel job not seen")
      assert(!groups.contains("hourkeys-probe"), "hourKeys ran a Spark job")
      assert(tss.size == 30 && tss.head == "2023-01-01 00:00:00" &&
        tss.last == "2023-01-02 05:00:00")
      assert(spine.map(_._1) == (0 until 30) &&
        spine.map(_._2) == (0 until 30).map(_ % 24))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("Bm25.searchPersisted runs one Spark job per steady-state call " +
    "and returns a local relation") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import graft.text.Bm25
    val docs = spark.createDataFrame((0L until 40L).map(i =>
      (i, s"alpha w${i % 7} beta w${i % 11}"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("planspec_bm25jobs").toString
    Bm25.writeIndex(spark, docs, dir, numFiles = 3)
    val queries = Seq((0, "alpha w3"), (1, "w5 beta"), (2, "w10"))
    Bm25.searchPersisted(spark, dir, queries) // caches the index stats
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("bm25-probe", "searchPersisted")
      val out = Bm25.searchPersisted(spark, dir, queries)
      val rows = out.collect()
      // a sentinel job: listener events arrive in order, so once its
      // start is seen every job of the probe is seen too
      sc.setJobGroup("bm25-sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("bm25-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("bm25-sentinel"), "sentinel job not seen")
      val jobs = groups.toArray.count(_ == "bm25-probe")
      assert(jobs == 1, s"expected 1 job per searchPersisted call, got $jobs")
      assert(out.queryExecution.logical.isInstanceOf[LocalRelation],
        s"not a local relation:\n${out.queryExecution.logical}")
      assert(rows.length == 23) // 10 + 10 + the 3 docs holding w10
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("releaseManifest: ONE aggregation shuffle, no window, no broadcast") {
    val docs = spark.createDataFrame(
      (0L until 20L).map(i => (i, s"doc body $i"))).toDF("doc_id", "text")
    val out = graft.ops.CorpusStats.releaseManifest(docs, shards = 4)
    // string match: AQE wraps the tree in AdaptiveSparkPlanExec, which
    // collect() does not descend into (same approach as the other
    // plan-shape tests in this suite)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one aggregation shuffle:\n$plan")
    assert(!plan.contains("BroadcastExchange"), s"unexpected broadcast:\n$plan")
    assert(!plan.contains("Window"), "manifest must not window")
    // partial (map-side) aggregation must sit BELOW the exchange
    assert(plan.contains("partial_sum"), "missing map-side combine")
    val n = out.count()
    assert(n >= 1 && n <= 4)
  }

  /** Every physical node, descending into AQE and its query stages. */
  private def physicalNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    p +: kids.flatMap(physicalNodes)
  }

  /** The single-child chain from `p` down to its first node with more
    * (or fewer) than one child — AQE wrappers and stages included. */
  private def singleChildChain(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => singleChildChain(a.executedPlan)
    case q: QueryStageExec => q +: singleChildChain(q.plan)
    case _ if p.children.size == 1 => p +: singleChildChain(p.children.head)
    case _ => Seq(p)
  }

  test("Bm25.searchPersisted: no salt, one window, partial aggregation " +
    "below the score aggregate's exchange") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.text.Bm25
    val docs = spark.createDataFrame((0L until 40L).map(i =>
      (i, s"alpha w${i % 7} beta w${i % 11} " +
        (if (i % 3 == 0) "gamma" else "delta"))))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("planspec_bm25").toString
    Bm25.writeIndex(spark, docs, dir, numFiles = 3)
    // a driver bound of 0 sends the call down the engine path
    val out = Bm25.searchPersistedCapped(spark, dir,
      Seq((0, "alpha w3"), (1, "gamma w5 beta"), (2, "w10 delta")),
      k1 = 1.2, b = 0.75, topK = 10, driverMax = 0)
    assert(out.count() > 0)
    val all = physicalNodes(out.queryExecution.executedPlan)
    val salted = all.flatMap(n => n.output ++ n.references).filter(_.name == "_salt")
    assert(salted.isEmpty, s"salt attribute in the plan: $salted")
    val windows = all.count(_.isInstanceOf[WindowExec])
    assert(windows == 1, s"expected 1 WindowExec, got $windows")
    def scoreAgg(h: HashAggregateExec, mode: Any) =
      h.groupingExpressions.map(_.name).toSet == Set("query_id", "doc_id") &&
        h.aggregateExpressions.exists(_.mode == mode)
    val finals = all.collect { case h: HashAggregateExec if scoreAgg(h, Final) => h }
    assert(finals.size == 1, s"expected 1 final score aggregate, got ${finals.size}")
    val below = singleChildChain(finals.head.child)
    val exchangeAt = below.indexWhere(_.isInstanceOf[ShuffleExchangeExec])
    assert(exchangeAt >= 0, "no exchange below the score aggregate")
    assert(below.drop(exchangeAt).exists {
      case h: HashAggregateExec => scoreAgg(h, Partial)
      case _ => false
    }, s"no partial score aggregate below its exchange:\n${finals.head}")
  }
}
