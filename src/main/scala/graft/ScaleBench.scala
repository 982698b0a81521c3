package graft

import org.apache.spark.sql.functions._
import graft.model.RegularGrid
import graft.ops.{Grouping, Regrid}
import graft.profiles.Temporal

/** The declared BASELINE.md workloads B1–B3 at reference scale, generated
  * analytically (spark.range — no testdata dependency):
  *
  *  B1  EDGAR-size regrid: 6.48M-cell 0.1° grid × 8 categories × 4
  *      substances (207M fact rows) remapped to a 720k-cell grid.
  *  B2  group_categories + rollup totals on the B1 input.
  *  B3  temporal explode: 1000 cells × 4 cat × 2 sub × 8760 h (70M rows).
  *
  * Prints one JSON line like Bench. Not part of the driver contract —
  * run manually: sbt "runMain graft.ScaleBench".
  */
object ScaleBench {

  private val secRe = """"(b\w*_sec)":\s*([-+0-9.eE]+)""".r

  /** Every `"b…_sec": x` entry of a result text, folded to its minimum
    * per name (a result carries the current run and its `best`). */
  private[graft] def secMinima(txt: String): Map[String, Double] =
    secRe.findAllMatchIn(txt).toSeq
      .groupMapReduce(_.group(1))(_.group(2).toDouble)(math.min)

  /** The [[secMinima]] of the prior artifact at `path`. Only a missing
    * file means "no prior series" (an empty map); any other failure to
    * read it propagates, so a run never overwrites — and so erases — a
    * committed `best` series it could not read. */
  private[graft] def priorSecMinima(path: java.nio.file.Path): Map[String, Double] =
    (try Some(new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
    catch { case _: java.nio.file.NoSuchFileException => None })
      .fold(Map.empty[String, Double])(secMinima)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)
    import spark.implicits._

    val src = RegularGrid(3600, 1800, -180.0, -90.0, 0.1, 0.1) // EDGAR 0.1°
    val dst = RegularGrid(1200, 600, -180.0, -90.0, 0.3, 0.3)

    def emissions(ncells: Long, ncat: Int, nsub: Int) =
      spark.range(ncells * ncat * nsub).select(
        (col("id") % ncells).as("cell_id"),
        concat(lit("c"), expr(s"(id div $ncells) % $ncat")).as("category"),
        concat(lit("s"), expr(s"id div ${ncells * ncat}")).as("substance"),
        (col("id") % 97 + 1).cast("double").as("value"))

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // Best-of-3 for the GC-noisy entries (B2/B9): their ±40% run-to-run
    // spread is GC/contention, not plan variance, so the MIN over three
    // back-to-back reps is the comparable number (BASELINE.md freezes
    // this methodology; the JSON carries bN_best_of so a reader knows).
    def best3(f: => Long): (Double, Long) = {
      var best = Double.MaxValue; var n = 0L
      var i = 0
      while (i < 3) {
        val (s, r) = time(f)
        if (s < best) best = s
        n = r
        Caching.release() // rep isolation: no cache carries across reps
        i += 1
      }
      // settle before the next entry: three reps of an iterative job
      // leave localCheckpoint blocks awaiting the async ContextCleaner,
      // and that residue taxed the LATER export entries in the first
      // r13 run (b13 4× slower with no code change on its path)
      System.gc()
      Thread.sleep(2000)
      (best, n)
    }

    def deleteRecursive(p: java.nio.file.Path): Unit =
      TempDirs.deleteRecursive(p)

    spark.range(1000000).agg(sum("id")).collect() // warmup

    // persist the synthetic fact table so B1/B2 time the operator, not
    // the row generator
    val emi = emissions(src.ncells, 8, 4).persist()
    emi.count()
    val (b1s, b1n) = time {
      Regrid.remapInventory(spark, emi, src, dst)
        .agg(count(lit(1)), sum("value")).collect()(0).getLong(0)
    }

    val catMap = (0 until 8).map(i => s"c$i" -> s"g${i / 2}")
      .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val (b2s, b2n) = best3 {
      Grouping.totals(
        Grouping.groupCategories(spark, emi, catMap, ignoreMissing = true))
        .count()
    }

    // B2b: the SAME rollup through the fused groupedTotals — skips the
    // (cell, group, substance) data-scale aggregate when only the
    // report is wanted; map-side combine leaves a metadata-scale shuffle
    val (b2bs, b2bn) = time {
      Grouping.groupedTotals(spark, emi, catMap, ignoreMissing = true).count()
    }
    require(b2bn == b2n, s"groupedTotals row count drift: $b2bn vs $b2n")
    Caching.release()

    val emi3 = emissions(1000, 4, 2)
    val sf = spark.range(24).select(
      lit("c0").as("category"), lit("s0").as("substance"),
      col("id").cast("int").as("hour_of_day"),
      (lit(1.0) + col("id") / 48.0).as("sf"))
    val (b3s, b3n) = time {
      Temporal.temporalExplode(emi3, sf, "2024-01-01 00:00:00", 8760)
        .agg(count(lit(1)), sum("value")).collect()(0).getLong(0)
    }

    // B6: polygon × EDGAR-grid spatial join — 100k diamond polygons
    // (non-axis-aligned: every candidate runs the real clip kernel)
    // against the 6.48M-cell grid, join-free path.
    val polys = spark.range(100000).select(
      col("id").as("poly_id"),
      (expr("(id * 37) % 3000").cast("double") / 10.0 - 150.0).as("cx"),
      (expr("(id * 53) % 1500").cast("double") / 10.0 - 70.0).as("cy"))
      .select(col("poly_id"),
        array(col("cx") - 0.25, col("cx"), col("cx") + 0.25, col("cx")).as("xs"),
        array(col("cy"), col("cy") - 0.25, col("cy"), col("cy") + 0.25).as("ys"))
    val (b6s, b6n) = time {
      graft.ops.SpatialJoin.polyGridWeights(spark, src, polys)
        .agg(count(lit(1)), sum("weight")).collect()(0).getLong(0)
    }

    // B7: tile-bucketed polygon × polygon join — 50k × 50k rects
    // scattered over [0,100]^2, tileSize 2.
    def rects(seed: Int) = spark.range(50000).select(
      col("id").as("poly_id"),
      (expr(s"(id * $seed) % 1000").cast("double") / 10.0).as("x0"),
      (expr(s"(id * ${seed + 4}) % 1000").cast("double") / 10.0).as("y0"))
      .select(col("poly_id"),
        array(col("x0"), col("x0") + 0.8, col("x0") + 0.8, col("x0")).as("xs"),
        array(col("y0"), col("y0"), col("y0") + 0.6, col("y0") + 0.6).as("ys"))
    val (b7s, b7n) = time {
      graft.ops.SpatialJoin.polyPolyWeights(rects(37), rects(53), tileSize = 2.0)
        .agg(count(lit(1)), sum("weight")).collect()(0).getLong(0)
    }

    // B8: distributed many-file NetCDF ingestion — 64 EDGAR-style flux
    // rasters (360×180 each, ~26% emitting cells) authored with
    // NetcdfWriter, parsed one-file-per-task via binaryFile.
    val b8dir = java.nio.file.Files.createTempDirectory("scale_edgar")
    val b8subs = Seq("CO2", "CH4", "N2O", "NOX", "SO2", "NH3", "CO", "VOC")
    val b8cats = (0 until 8).map(i => s"C$i")
    import graft.sources.NetcdfClassic.{NcDim, NcDouble, NcFloat}
    import graft.sinks.NetcdfWriter
    import graft.sinks.NetcdfWriter.WriteVar
    for (s <- b8subs; c <- b8cats) {
      val data = Array.tabulate(360 * 180)(k =>
        if (k % 4 == 0) ((k % 97) + 1).toDouble else 0.0)
      val bytes = NetcdfWriter.write(
        Seq(NcDim("lat", 180), NcDim("lon", 360)), Nil,
        Seq(
          WriteVar("lat", Seq("lat"), NcDouble,
            doubles = Array.tabulate(180)(i => -89.5 + i)),
          WriteVar("lon", Seq("lon"), NcDouble,
            doubles = Array.tabulate(360)(j => -179.5 + j)),
          WriteVar("flux", Seq("lat", "lon"), NcFloat, doubles = data)))
      java.nio.file.Files.write(b8dir.resolve(s"${s}_$c.nc"), bytes)
    }
    val b8grid = RegularGrid(360, 180, -180.0, -90.0, 1.0, 1.0)
    val (b8s, b8n) = time {
      graft.sources.GlobalRasters
        .readEdgarDirDistributed(spark, b8dir.toString, b8grid)
        .agg(count(lit(1)), sum("value")).collect()(0).getLong(0)
    }

    // B9: connected components at scale — 8M edges over 8M nodes:
    // 2M size-4 near-cliques (dedup-shaped, diameter 2) plus a
    // 1000-node chain to force multi-round propagation. Labels are
    // node-count-scale; rounds bounded by diameter.
    val cliqueEdges = spark.range(2000000L).select(
      explode(array(
        struct((col("id") * 4).as("doc_a"), (col("id") * 4 + 1).as("doc_b")),
        struct((col("id") * 4).as("doc_a"), (col("id") * 4 + 2).as("doc_b")),
        struct((col("id") * 4 + 1).as("doc_a"), (col("id") * 4 + 3).as("doc_b")),
        struct((col("id") * 4 + 2).as("doc_a"), (col("id") * 4 + 3).as("doc_b")))).as("e"))
      .select(col("e.doc_a"), col("e.doc_b"))
    val chainBase = 100000000L
    val chainEdges = spark.range(999L).select(
      (col("id") + chainBase).as("doc_a"), (col("id") + chainBase + 1).as("doc_b"))
    val (b9s, b9n) = best3 {
      graft.dedup.Clustering.connectedComponents(
        cliqueEdges.unionByName(chainEdges))
        .groupBy("cluster_id").count()
        .agg(count(lit(1))).collect()(0).getLong(0)
    }

    // B10: EDGAR-sized single-file raster export — the full 207M-row
    // fact aggregate laid out as per-substance planes + all-sector totals
    // through the PER-PLANE collect path (each collect ≤ 6.48M rows,
    // ~52 MB of doubles per plane; the old full-aggregate collect held
    // >200M Rows on the driver and died here).
    val b10path = java.nio.file.Files.createTempDirectory("scale_raster")
      .resolve("edgar_export.nc").toString
    val (b10s, b10n) = time {
      graft.sinks.Exports.rasterExportNc(emi, src, b10path, addTotals = true)
      java.nio.file.Files.size(java.nio.file.Paths.get(b10path))
    }
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(b10path))

    // B10b: the 10× plane — a 64.8M-cell grid (0.0316°-ish) exported
    // through the SEGMENT-STREAMED plane path (ncell > PlaneCollectMax):
    // one substance × 2 categories = 129.6M fact rows, a 518 MB double
    // plane per variable. The driver never holds a plane: segments arrive
    // ~4 MB at a time via toLocalIterator. Proves the single-file sink
    // survives a 10× grid scale-up without a driver ceiling.
    val srcXL = RegularGrid(11400, 5700, -180.0, -90.0, 360.0 / 11400, 180.0 / 5700)
    val emiXL = emissions(srcXL.ncells, 2, 1).persist()
    emiXL.count()
    val b10bPath = java.nio.file.Files.createTempDirectory("scale_raster_xl")
      .resolve("edgar10x_export.nc").toString
    val (b10bs, b10bn) = time {
      graft.sinks.Exports.rasterExportNc(emiXL, srcXL, b10bPath)
      java.nio.file.Files.size(java.nio.file.Paths.get(b10bPath))
    }
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(b10bPath))
    emiXL.unpersist()

    // B11: OSM-shaped geometry resolution at scale — 2M coordinate
    // nodes, 200k tagged 10-node ways, 50k tagged relations (2 ways
    // stitched into a closed ring each) fed to OsmJson.fromElements:
    // the node-id coordinate join is the corpus-scale shuffle, the
    // stitch UDF runs per relation (bounded).
    val nNodes = 2000000L
    val emptyMembers = typedLit(
      Seq.empty[(String, Long, String)]).cast(
      "array<struct<type:string,ref:bigint,role:string>>")
    val nodeEls = spark.range(nNodes).select(
      lit("node").as("type"), col("id"),
      (col("id") % 3600 / 10.0 - 180.0).as("lon"),
      (col("id") / 3600 % 1700 / 10.0 - 85.0).as("lat"),
      lit(null).cast("array<bigint>").as("nodes"),
      emptyMembers.as("members"),
      lit(null).cast("map<string,string>").as("tags"))
    val wayBase = 10000000L
    val wayEls = spark.range(200000).select(
      lit("way").as("type"), (col("id") + wayBase).as("id"),
      lit(null).cast("double").as("lon"), lit(null).cast("double").as("lat"),
      sequence(col("id") * 10, col("id") * 10 + 9).as("nodes"),
      emptyMembers.as("members"),
      map(lit("highway"), lit("residential")).as("tags"))
    // ring ways: relation r uses ring nodes (base, b+1, b+2, b+3, base)
    val ringWayBase = 20000000L
    val ringBase = 100000000L
    val nRel = 50000L
    val ringNodeEls = spark.range(nRel * 4).select(
      lit("node").as("type"), (col("id") + ringBase).as("id"),
      (col("id") % 1000 / 100.0).as("lon"), (col("id") % 997 / 100.0).as("lat"),
      lit(null).cast("array<bigint>").as("nodes"),
      emptyMembers.as("members"),
      lit(null).cast("map<string,string>").as("tags"))
    val ringWayEls = spark.range(nRel).select(
      lit("way").as("type"), (col("id") + ringWayBase).as("id"),
      lit(null).cast("double").as("lon"), lit(null).cast("double").as("lat"),
      array(col("id") * 4 + ringBase, col("id") * 4 + 1 + ringBase,
        col("id") * 4 + 2 + ringBase).as("nodes"),
      emptyMembers.as("members"),
      lit(null).cast("map<string,string>").as("tags"))
    val ringWay2Els = spark.range(nRel).select(
      lit("way").as("type"), (col("id") + ringWayBase + nRel).as("id"),
      lit(null).cast("double").as("lon"), lit(null).cast("double").as("lat"),
      array(col("id") * 4 + 2 + ringBase, col("id") * 4 + 3 + ringBase,
        col("id") * 4 + ringBase).as("nodes"),
      emptyMembers.as("members"),
      lit(null).cast("map<string,string>").as("tags"))
    val relEls = spark.range(nRel).select(
      lit("relation").as("type"), (col("id") + 30000000L).as("id"),
      lit(null).cast("double").as("lon"), lit(null).cast("double").as("lat"),
      lit(null).cast("array<bigint>").as("nodes"),
      array(
        struct(lit("way").as("type"), (col("id") + ringWayBase).as("ref"),
          lit("outer").as("role")),
        struct(lit("way").as("type"), (col("id") + ringWayBase + nRel).as("ref"),
          lit("outer").as("role"))).as("members"),
      map(lit("type"), lit("multipolygon")).as("tags"))
    val allEls = Seq(nodeEls, wayEls, ringNodeEls, ringWayEls, ringWay2Els, relEls)
      .reduce(_ unionByName _)
    val (b11s, b11n) = time {
      val out = graft.sources.OsmJson.fromElements(allEls)
        .agg(count(lit(1)), sum(size(col("xs")))).collect()(0).getLong(0)
      Caching.release()
      out
    }

    // B12: crawl-curation pass at scale — 5M synthetic docs (~120 B of
    // text + a URL each) through the full PII scrub chain (3 regex
    // replaces + 3 counts), URL canonicalization and the per-domain
    // rollup: everything narrow codegen except the single domain
    // hash-aggregate, so the pass is scan-bound like M6 normalization.
    val nDocs = 5000000L
    val crawlDocs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat(lit("lorem ipsum dolor sit amet user"), col("id"),
        lit("+x@example.com via 10.1."), col("id") % 256,
        lit(".9 call +4179"), col("id") % 1000000, lit(" tail")).as("text"),
      concat(lit("HTTP://Host"), col("id") % 1000, lit(".COM:80/p/"),
        col("id") % 10000, lit("?utm_source=a&b="), col("id") % 7,
        lit("&a=1#f")).as("url"),
      (col("id") % 1000 + 50).as("n_chars"))
    val (b12s, b12n) = time {
      val scrubbed = graft.text.PiiScrub.scrub(crawlDocs, "text")
      scrubbed
        .withColumn("canonical_url",
          graft.text.UrlOps.canonical(col("url")))
        .groupBy(graft.text.UrlOps.domain(col("canonical_url")).as("domain"))
        .agg(sum(col("n_emails") + col("n_ips") + col("n_phones")).as("pii"),
          count(lit(1)).as("n"))
        .agg(sum("n"), sum("pii")).collect()(0).getLong(0)
    }
    require(b12n == nDocs, s"B12 lost rows: $b12n")

    // B12b: exact-substring span dedup at crawl scale — 2M docs of 21
    // tokens: a group marker + 13 boilerplate tokens shared corpus-wide
    // + a unique 7-token tail. ~36M positioned 4-gram rows through the
    // dup-hash aggregate, mark join and island window. The shared
    // prefix occupies token positions 0..13, so duplicated gram starts
    // are exactly 0..10 and every doc must come back with ONE maximal
    // span [0, 14); the unique tails contribute none. Uses the default
    // xxhash64 gram hash — the 30-bit portable hash provably false-marks
    // at this gram count (birthday collisions), which this case guards.
    val nSpanDocs = 2000000L
    val spanDocs = spark.range(nSpanDocs).select(
      col("id").as("doc_id"),
      concat(
        lit("bp"), col("id") % 1000,
        lit(" the quick brown fox jumps over the lazy dog again and again today"),
        lit(" u"), col("id"), lit("a u"), col("id"), lit("b u"), col("id"),
        lit("c u"), col("id"), lit("d u"), col("id"), lit("e u"), col("id"),
        lit("f u"), col("id"), lit("g")).as("text"))
    val (b12bs, b12bn) = time {
      val spans = graft.text.TextAnalysis.duplicatedSpans(
        spanDocs, n = 4, minDocs = 2)
      val agg = spans.agg(count(lit(1)), min("span_start"),
        max("span_end"), sum(col("span_end") - col("span_start"))).collect()(0)
      require(agg.getLong(1) == 0L && agg.getLong(2) == 14L &&
        agg.getLong(3) == nSpanDocs * 14L,
        s"B12b spans wrong: $agg")
      agg.getLong(0)
    }
    require(b12bn == nSpanDocs, s"B12b expected one span per doc: $b12bn")

    // B13: EDGAR-size monthly fluxie export — 6.48M cells × 12 months ×
    // 2 substances (155M fact rows) through the per-(substance, time)-
    // plane collect path: each collect ≤ 6.48M rows. The pre-fix code
    // collected the full 155M-Row aggregate on the driver and would OOM
    // here at default heap.
    val fluxFact = spark.range(src.ncells * 12 * 2).select(
      (col("id") % src.ncells).as("cell_id"),
      concat(lit("s"), expr(s"id div ${src.ncells * 12}")).as("substance"),
      expr(s"(id div ${src.ncells}) % 12").as("time_idx"),
      (col("id") % 89 + 1).cast("double").as("value"))
    val b13dir = java.nio.file.Files.createTempDirectory("scale_fluxie")
    val (b13s, b13n) = time {
      val written = graft.sinks.Exports.fluxieExportNc(
        fluxFact, src, b13dir.toString, frequency = "monthly")
      written.map(n => java.nio.file.Files.size(b13dir.resolve(n))).sum
    }
    deleteRecursive(b13dir)

    // B13b: EDGAR-grid hourly export — 6.48M cells × 24 h through the
    // hour-keyed task writer: one exchange keyed by hour, each task
    // streams its hours' files holding one 6.48M-cell plane at a time
    // (coordinates generated in segments); the driver gathers no plane.
    val hourFact = spark.range(src.ncells).select(
      col("id").as("cell_id"), lit("c0").as("category"),
      lit("s0").as("substance"),
      (col("id") % 83 + 1).cast("double").as("value"))
    val b13bdir = java.nio.file.Files.createTempDirectory("scale_hourly")
    val (b13bs, b13bn) = time {
      graft.sinks.Exports.hourlyExportNc(
        hourFact, sf, "2024-01-01 00:00:00", 24, src,
        b13bdir.toString).size.toLong
    }
    deleteRecursive(b13bdir)

    // B14: the SURVEY §3 100 TB fact layout, followed through — the
    // 207M-row fact AND the data-scale weight table both written
    // bucketed+sorted by cell id, so the recurring cell_id join reads
    // co-located buckets. The physical plan is REQUIREd to have zero
    // Exchanges below the final aggregate: the fact side never
    // shuffles, which is the property that keeps this join viable when
    // the fact table is 100 TB instead of 8 GB.
    spark.sql("DROP TABLE IF EXISTS b14_fact")
    spark.sql("DROP TABLE IF EXISTS b14_w")
    // A killed prior run can orphan the managed table locations with no
    // metastore entry — DROP is then a no-op and saveAsTable fails with
    // LOCATION_ALREADY_EXISTS. Clear the directories directly.
    locally {
      val wh = new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      Seq("b14_fact", "b14_w").foreach(t =>
        TempDirs.deleteRecursive(new java.io.File(wh, t).toPath))
    }
    val (b14ws, b14wn) = time {
      graft.ops.Bucketing.writeBucketed(emi, "b14_fact", "cell_id")
      graft.ops.Bucketing.writeBucketed(
        Regrid.weights(spark, src, dst).withColumnRenamed("src_cell", "cell_id"),
        "b14_w", "cell_id")
      spark.table("b14_w").count()
    }
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val b14joined = spark.table("b14_fact")
      .join(spark.table("b14_w"), "cell_id")
      .groupBy(col("dst_cell"), col("category"), col("substance"))
      .agg(sum(col("value") * col("weight")).as("value"))
    val b14plan = b14joined.queryExecution.executedPlan.toString
    require(!b14plan.split("HashAggregate").last.contains("Exchange"),
      s"bucketed fact join must not shuffle; plan:\n$b14plan")
    val (b14s, b14n) = time {
      b14joined.agg(count(lit(1)), sum("value")).collect()(0).getLong(0)
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    spark.sql("DROP TABLE IF EXISTS b14_fact")
    spark.sql("DROP TABLE IF EXISTS b14_w")

    // B15: GeoPackage sink at scale — a 1M-cell gridded layer (6 wide
    // substance columns + a polygon GPB per feature, ~200 MB file)
    // streamed through toLocalIterator into the pure-JVM SQLite writer.
    // Proves the sink's driver memory stays O(file), never O(job): the
    // Spark side is a pivot shuffle; the write itself is the inherent
    // single-file tail, like the NetCDF sinks.
    val gpkgGrid = graft.model.RegularGrid(1000, 1000, 0.0, 0.0, 1.0, 1.0)
    val gpkgEmi = spark.range(gpkgGrid.ncells * 6).select(
      (col("id") % gpkgGrid.ncells).as("cell_id"),
      concat(lit("c"), expr(s"id div ${gpkgGrid.ncells * 2}")).as("category"),
      concat(lit("s"), expr(s"(id div ${gpkgGrid.ncells}) % 2")).as("substance"),
      (col("id") % 97 + 1).cast("double").as("value"))
    val b15dir = java.nio.file.Files.createTempDirectory("scale_gpkg")
    val (b15s, b15n) = time {
      val p = b15dir.resolve("inv.gpkg").toString
      graft.sinks.GeoPackage.exportToGeopackage(
        spark, p, gdfs = Map.empty,
        gridded = Some(graft.sinks.GeoPackage.griddedLayer(spark, gpkgEmi, gpkgGrid)))
      java.nio.file.Files.size(java.nio.file.Paths.get(p))
    }
    val b15layer = graft.sinks.GeoPackage.readGeopackage(
      spark, b15dir.resolve("inv.gpkg").toString).head
    require(b15layer.df.count() == gpkgGrid.ncells,
      "B15 gpkg must hold every cell feature")
    deleteRecursive(b15dir)

    // B16: BPE tokenizer at corpus scale — 1M 50-word docs (50M words,
    // 9973-type vocabulary). Train = one histogram shuffle + the
    // incremental driver loop; encode = the codegen'd kernel over every
    // doc (memo-hit path after the Zipf head warms). Rates in Mtok/s.
    val b16docs = spark.range(1000000).select(col("id").as("doc_id"),
      concat_ws(" ", expr(
        "transform(sequence(1, 50), i -> concat('w', (id * i) % 9973))"))
        .as("text")).persist()
    b16docs.count()
    val (b16ts, b16tn) = time {
      graft.text.Bpe.train(b16docs, "text", 200).length.toLong
    }
    val b16merges = graft.text.Bpe.train(b16docs, "text", 200)
    val (b16s, b16n) = time {
      b16docs.select(sum(size(graft.text.Bpe.encode(col("text"), b16merges)))
        .as("n")).collect()(0).getLong(0)
    }

    // B17: Bloom-prefiltered decontamination at benchmark-suite scale —
    // 100k probe 5-grams (1k planted in the corpus, 99k absent) over the
    // same 1M docs (~46M corpus shingles). The Bloom probe filter runs
    // below the shingle-distinct shuffle (predicate on grouping keys
    // pushes through the Aggregate), so the shuffle and verify join see
    // only survivors.
    val b17probes: Seq[String] = (0 until 100000).map { i =>
      if (i < 1000) {
        val id = (i + 1).toLong
        (1 to 5).map(j => "w" + (id * j % 9973)).mkString(" ")
      } else s"x${i}_1 x${i}_2 x${i}_3 x${i}_4 x${i}_5"
    }
    val (b17s, b17n) = time {
      graft.text.TextAnalysis.decontaminateBloom(b16docs, b17probes, n = 5)
        .agg(sum(col("contaminated").cast("long"))).collect()(0).getLong(0)
    }
    b16docs.unpersist()

    // B18: deterministic shard shuffle of 50M docs into 512 shards —
    // one hash shuffle + per-shard sort (the reproducible training
    // permutation). Verifies the window never globalizes: rank runs
    // per shard (~100k rows each here; size nShards so a shard fits an
    // executor at 100 TB).
    val b18docs = spark.range(50000000).select(col("id").as("doc_id"))
    val (b18s, b18n) = time {
      graft.ops.Sampling.shardShuffle(b18docs, nShards = 512)
        .agg(count(lit(1)), max("pos")).collect()(0).getLong(0)
    }

    // B19: incremental dedup at ingest scale — 500k existing docs,
    // 125k incoming (20% exact copies, 20% near dups with the last
    // word swapped → shingle Jaccard 27/29 ≈ 0.93, 60% genuinely new).
    // Exact path is one hash join; near path is the batch×corpus
    // band-key join + Jaccard verify over ~14M corpus shingles. The
    // planted counts are REQUIREd: exact recall must be total, near
    // recall is bounded below by the banding miss rate ((1-s²)⁴ at
    // s≈0.93 → ~3e-4), so ≥24800/25000 must surface — a wrong join
    // or band-key drift fails loudly, not as a timing blip.
    // Word index is QUADRATIC in position: with a linear step the
    // shingle set of every doc is an arithmetic progression with the
    // same stride, and ~40 "bad" doc-id differences shift-align two
    // progressions into ≥0.5 Jaccard — the first run of this benchmark
    // flagged 99,985 near-dups against 25,000 planted and caught the
    // degeneracy. With j² the three consecutive-word equations of a
    // shared shingle force j'=j and doc_a=doc_b: cross-doc overlap is
    // exactly zero except where planted.
    val b19vocab = 1000003L
    def b19text(idExpr: String) = expr(
      s"concat_ws(' ', transform(sequence(1, 30), j -> concat('w', (($idExpr) * 31 + j * j * 7) % $b19vocab)))")
    val b19ex = spark.range(500000).select(
      col("id").as("doc_id"), b19text("id").as("text")).persist()
    val b19in = spark.range(125000).select(
      (col("id") + 10000000L).as("doc_id"),
      when(col("id") % 5 === 0, b19text("id div 5"))
        .when(col("id") % 5 === 1, expr(
          s"concat(concat_ws(' ', transform(sequence(1, 29), j -> concat('w', ((id div 5) * 31 + j * j * 7) % $b19vocab))), ' zz', id)"))
        .otherwise(b19text("id + 600000")).as("text")).persist()
    b19ex.count(); b19in.count()
    var b19stat = Map.empty[String, Long]
    val (b19s, b19n) = time {
      b19stat = graft.dedup.Dedup.incrementalDedup(spark, b19ex, b19in)
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      b19stat.values.sum
    }
    require(b19n == 125000L, s"B19 lost incoming rows: $b19stat")
    require(b19stat.getOrElse("exact_dup", 0L) == 25000L,
      s"B19 exact recall must be total: $b19stat")
    require(b19stat.getOrElse("near_dup", 0L) >= 24800L &&
      b19stat.getOrElse("near_dup", 0L) <= 25000L,
      s"B19 near count outside [24800, 25000]: $b19stat")
    b19ex.unpersist(); b19in.unpersist(); Caching.release()

    // B20: stupid-backoff LM scoring at corpus scale — 500k 50-word
    // docs, 4999-type vocabulary, ~24.5M bigram instances over an
    // ~O(10M)-key bigram space: the count tables exceed any broadcast
    // threshold, so this exercises the shuffle-join scoring path a
    // 100 TB reference corpus would take.
    val b20docs = spark.range(500000).select(col("id").as("doc_id"),
      concat_ws(" ", expr(
        "transform(sequence(1, 50), i -> concat('w', (id * i) % 4999))"))
        .as("text")).persist()
    b20docs.count()
    val (b20s, b20n) = time {
      graft.text.LangModel.bigramScore(b20docs, trainMod = 2)
        .agg(count(lit(1)).as("n"), sum(col("keep").cast("long")))
        .collect()(0).getLong(0)
    }
    require(b20n == 500000L, s"B20 must score every doc: $b20n")
    b20docs.unpersist(); Caching.release()

    // B21: WebDataset tar-shard packaging — 2M samples (txt+json entry
    // pair each; tar's 512 B block floor makes that ~4.3 GB of shard
    // bytes) into 256 shards ≈ 17 MB each, then a full read-back parse.
    // Write is one shard-keyed shuffle + 256 writer tasks; read is one
    // task per shard — with the LAZY tar walk a reader task's live set
    // is its source array + one entry, so 32 concurrent tasks fit the
    // 8 GB bench heap with an order of magnitude to spare (the eager
    // parse OOM'd here; at cluster scale executors size shards the
    // same way: a few × file size per task slot).
    val b21dir = java.nio.file.Files.createTempDirectory("b21wds")
    val b21docs = spark.range(2000000).select(
      (col("id") % 256).cast("int").as("shard"),
      format_string("%09d", col("id")).as("key"),
      map(lit("txt"),
        encode(concat(lit("document body "), col("id"),
          lit(" lorem ipsum dolor sit amet consectetur adipiscing elit sed do "),
          expr("repeat('x', cast(id % 97 as int))")), "UTF-8"),
        lit("json"),
        encode(concat(lit("{\"id\":"), col("id"), lit("}")), "UTF-8"))
        .as("files"))
    val (b21ws, b21wn) = time {
      graft.sinks.TarShards.writeShards(spark, b21docs, b21dir.toString)
        .agg(sum("n_samples"), sum("n_bytes")).collect()(0).getLong(0)
    }
    require(b21wn == 2000000L, s"B21 wrote $b21wn samples, expected 2M")
    val b21bytes = java.nio.file.Files.list(b21dir)
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    val (b21rs, b21rn) = time {
      graft.sinks.TarShards.readShards(spark, b21dir.toString).count()
    }
    require(b21rn == 4000000L, s"B21 read back $b21rn entries, expected 4M")
    deleteRecursive(b21dir); Caching.release()

    // B22: streaming heavy hitters — Misra–Gries at capacity ≪
    // vocabulary on a deterministic Zipf stream: token t{r} (r=1..100k)
    // appears 200000/r + 1 times → ~2.4M tokens over 100k distinct,
    // sketch capacity 2048 per shard (a 49× compression). One
    // micro-batch, so each shard's single Update emission IS the final
    // sketch. The MG guarantee is REQUIREd against exact batch truth:
    // estimates never overcount, and every token heavier than its
    // shard's ε = N_shard/(capacity+1) is present with undercount ≤ ε.
    var b22s = 0.0; var b22tok = 0L; var b22nHeavy = 0L
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val b22V = 100000; val b22K = 200000L
      val b22texts = {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val sb = new StringBuilder
        var inDoc = 0
        var r = 1
        while (r <= b22V) {
          var c = b22K / r + 1
          while (c > 0) {
            if (inDoc > 0) sb.append(' ')
            sb.append('t').append(r)
            inDoc += 1
            if (inDoc == 1000) { out += sb.result(); sb.clear(); inDoc = 0 }
            c -= 1
          }
          r += 1
        }
        if (inDoc > 0) out += sb.result()
        out.toSeq
      }
      val b22mem = MemoryStream[String]
      val b22q = graft.streaming.StreamingOps.heavyHitterStream(
        b22mem.toDF().toDF("text"), shards = 16, capacity = 2048,
        minCount = 1)
        .writeStream.format("memory").queryName("b22_hh")
        .outputMode("update").start()
      val (b22s0, _) = try {
        b22mem.addData(b22texts: _*)
        time { b22q.processAllAvailable(); spark.table("b22_hh").count() }
      } finally b22q.stop()
      b22s = b22s0
      val b22truth = spark.createDataset(b22texts).toDF("text")
        .select(explode(split(col("text"), " ")).as("token"))
        .withColumn("shard", pmod(
          graft.functions.PortableHashExpr.portableHash(col("token")),
          lit(16L)))
        .groupBy("shard", "token").agg(count(lit(1)).as("true_cnt"))
      val b22eps = b22truth.groupBy("shard")
        .agg((sum("true_cnt") / 2049).cast("long").as("eps"))
      val b22joined = b22truth.join(b22eps, "shard")
        .join(spark.table("b22_hh"), Seq("shard", "token"), "left")
        .select(col("token"), col("true_cnt"), col("eps"),
          coalesce(col("cnt"), lit(0L)).as("est"))
        .persist()
      val b22over = b22joined.where(col("est") > col("true_cnt")).count()
      require(b22over == 0L, s"B22: $b22over tokens OVERcounted — MG never overcounts")
      val b22heavy = b22joined.where(col("true_cnt") > col("eps"))
      b22nHeavy = b22heavy.count()
      val b22bad = b22heavy
        .where(col("est") === 0L || col("true_cnt") - col("est") > col("eps"))
        .count()
      require(b22nHeavy > 500L, s"B22 degenerate setup: only $b22nHeavy heavy tokens")
      require(b22bad == 0L,
        s"B22: $b22bad of $b22nHeavy heavy tokens missing or outside the ε-bound")
      b22joined.unpersist()
      b22tok = b22texts.map(_.count(_ == ' ') + 1L).sum
    }
    Caching.release()

    // B23: containment detection under boilerplate flooding — 1M docs
    // ALL sharing one 12-word boilerplate sentence (its fingerprints'
    // df ≈ 1M would flood every bucket quadratically), with 1000
    // planted inner→host containment pairs. The df-cap drops the
    // boilerplate fingerprints before the self-join, so the REQUIREs
    // pin both recall (all 1000 planted pairs found) and the candidate
    // bound (pair rows orders of magnitude below the 10^12 of n²).
    val b23boiler = "the quick brown fox jumps over the lazy dog again and again"
    val b23docs = spark.range(1000000L).select(col("id").as("doc_id"),
      when(col("id") < 1000,
        format_string("q%1$da q%1$db q%1$dc q%1$dd q%1$de q%1$df q%1$dg q%1$dh",
          col("id")))
        .when(col("id") < 2000, concat(lit(b23boiler + " "),
          format_string("q%1$da q%1$db q%1$dc q%1$dd q%1$de q%1$df q%1$dg q%1$dh",
            col("id") - 1000),
          format_string(" t%1$dx t%1$dy t%1$dz", col("id"))))
        .otherwise(concat(lit(b23boiler + " "),
          format_string("f%1$da f%1$db f%1$dc f%1$dd f%1$de f%1$df", col("id"))))
        .as("text"))
    val (b23s, b23n) = time {
      graft.dedup.Dedup.containmentPairs(b23docs,
        minContainment = 0.5, maxDocFreq = 1000L)
        .where(col("inner_doc") < 1000 &&
          col("outer_doc") === col("inner_doc") + 1000)
        .count()
    }
    require(b23n == 1000L,
      s"B23 planted containment recall: found $b23n of 1000 pairs")
    Caching.release()
    // candidate-pair volume under the same df-cap: the quantity the cap
    // exists to bound (uncapped, the boilerplate bucket alone is ~10^12)
    val b23fpAll = Caching.cache(
      graft.text.TextAnalysis.winnowing(b23docs, 3, 4)
        .select("doc_id", "fingerprint").distinct())
    val b23kept = b23fpAll.join(
      b23fpAll.groupBy("fingerprint").agg(count(lit(1)).as("df"))
        .where(col("df") <= 1000).select("fingerprint"), "fingerprint")
    val b23cand = b23kept.as("a")
      .join(b23kept.as("b"),
        col("a.fingerprint") === col("b.fingerprint") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .count()
    require(b23cand < 10000000L,
      s"B23 candidate pairs $b23cand not sub-quadratic (n² is 10^12)")
    Caching.release()

    // B24: PageRank at graph scale, distributed path FORCED (the gate
    // graph takes the adaptive driver loop; this is the 100 TB path):
    // the B9 graph again — 2M disjoint 4-cliques + a 1000-node chain,
    // 8,001,000 nodes. Integer µ-unit ranks make 3 iterations exactly
    // hand-derivable, so the REQUIREs pin VALUES, not just counts:
    // clique sources and the chain head hold the bare teleport floor
    // 150000 (2,000,001 nodes), clique sinks hold 513375 (2M nodes),
    // and the whole 8M-node graph collapses to exactly 6 distinct ranks.
    val (b24s, b24n) = time {
      val pr = graft.ops.LinkGraph.pageRank(
        cliqueEdges.unionByName(chainEdges), iters = 3,
        srcCol = "doc_a", dstCol = "doc_b",
        driverEdgeLimit = 0L).persist()
      val n = pr.count()
      require(n == 8001000L, s"B24 node count $n != 8001000")
      val byVal = pr.groupBy("pr").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(byVal.size == 6, s"B24 expected 6 distinct ranks, got ${byVal.keySet}")
      // .get (not apply): an absent expected value must surface through
      // the crafted message, not a bare NoSuchElementException
      require(byVal.get(150000L).contains(2000001L),
        s"B24 teleport-floor count ${byVal.get(150000L)} != Some(2000001)")
      require(byVal.get(513375L).contains(2000000L),
        s"B24 clique-sink count ${byVal.get(513375L)} != Some(2000000)")
      pr.unpersist()
      n
    }
    Caching.release()

    // B25: content-defined chunk dedup at corpus scale — 5M docs, 100k
    // of which embed one shared 16-word sentence behind UNIQUE prefixes
    // of VARYING length (1-5 words): fixed windows would share nothing
    // across the shifts; CDC must re-synchronize at the sentence's
    // internal content boundaries. The planted sentence's boundary
    // words are precomputed ("beta"/"delta"/"zeta"/"lam"/"mu" hash to
    // 0 mod 8), so the chunk "gamma delta" is fully internal and MUST
    // be reported as duplicated across exactly the 100k planted docs.
    val b25docs = spark.range(5000000L).select(col("id").as("doc_id"),
      when(col("id") % 50 === 0, concat(
        // 1-5 word unique prefix (the shift)
        expr("array_join(transform(sequence(1, cast(id % 5 as int) + 1), " +
          "i -> concat('p', id, 'w', i)), ' ')"),
        lit(" alpha beta gamma delta epsilon zeta eta theta iota kappa " +
          "lam mu nu xi omicron pi "),
        concat(lit("t"), col("id"), lit("z"))))
        .otherwise(format_string(
          "f%1$da f%1$db f%1$dc f%1$dd f%1$de f%1$df f%1$dg f%1$dh",
          col("id")))
        .as("text"))
    val (b25s, b25n) = time {
      val dups = graft.text.TextAnalysis.cdcChunkDups(
        b25docs, boundaryMod = 8, minDocs = 2)
      val planted = dups.where(col("chunk_text") === "gamma delta")
        .select("n_docs").collect()
      require(planted.length == 1 && planted(0).getLong(0) == 100000L,
        s"B25 shift-robust chunk lost: ${planted.toSeq}")
      dups.count()
    }
    Caching.release()

    // B26: banded sign-LSH embedding near-dup at 4M vectors (M5/M30's
    // 100 TB path) — 100k planted scaled-copy pairs (cos = 1 exactly:
    // partner = 2× the base vector, integer coordinates) drowned in
    // 3.8M flood vectors spread over just 64 directions (59,375 vectors
    // per direction → every flood bucket is ~58× over the cap and MUST
    // be dropped; uncapped, the flood alone is 64·59375²/2·2bands ≈
    // 2·10¹¹ candidate pairs). Sign-LSH geometry at dim 32 concentrates
    // buckets (±1 hyperplane normals are mutually ~18°-correlated at
    // this dim — real embedding dims spread far better), so the cap
    // also drops the densest PLANTED buckets; the meaningful guarantee
    // is LOSSLESSNESS WITHIN THE CAP: every planted pair whose bucket
    // is admitted in ≥1 band is found, none invented. The admitted set
    // is recomputed INDEPENDENTLY at direction granularity (100,064
    // rows — bucket keys depend only on direction; occupancy in vector
    // units is 2·plantedDirs + 59375·floodGroups by construction) and
    // the REQUIREs pin found == admitted == 58,284 plus the admitted
    // candidate volume 12,770,351 — 6 orders of magnitude below n²/2.
    val b26n = 4000000L
    def b26coord(dirId: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(31)), i =>
        when(i === 0, pmod(hash(dirId * 8), lit(1997)) + 1)
          .otherwise(pmod(hash(dirId * 8 + i), lit(1999)) - 999)
          .cast("double"))
    val b26emb = spark.range(b26n).select(
      col("id").as("vec_id"),
      when(col("id") < 200000L, expr("id div 2"))
        .otherwise(col("id") % 64 + 500000L).as("dirId"),
      when(col("id") < 200000L, col("id") % 2 + 1)
        .otherwise(col("id") % 7 + 1).cast("double").as("mult"))
      .select(col("vec_id"),
        transform(b26coord(col("dirId")), x => x * col("mult")).as("embedding"))
    val (b26s, b26found) = time {
      graft.similarity.Similarity.nearDupPairsBanded(
        spark, b26emb, threshold = 0.99, bands = 2, rowBits = 16,
        maxBucketSize = 1024)
        .where(col("vec_a") < 200000L && col("vec_a") % 2 === 0 &&
          col("vec_b") === col("vec_a") + 1 && col("cos_sim") === 1.0)
        .count()
    }
    Caching.release()
    // independent direction-level recomputation of what the cap admits
    val b26dirs = spark.range(100064L).select(
      col("id").as("vec_id"),
      when(col("id") < 100000L, col("id"))
        .otherwise(col("id") - 100000L + 500000L).as("dirId"))
      .select(col("vec_id"), b26coord(col("dirId")).as("embedding"))
    val b26keys = Caching.cache(graft.similarity.Similarity
      .signBucketsBanded(spark, b26dirs, bands = 2, rowBits = 16))
    val b26occ = Caching.cache(b26keys.groupBy("band", "bucket")
      .agg(
        sum(when(col("vec_id") < 100000L, 1L).otherwise(0L)).as("np"),
        sum(when(col("vec_id") >= 100000L, 1L).otherwise(0L)).as("nbg"))
      .withColumn("occ", col("np") * 2 + col("nbg") * 59375L)
      .where(col("occ") <= 1024L))
    val b26surv = b26keys.where(col("vec_id") < 100000L)
      .join(b26occ.select("band", "bucket"), Seq("band", "bucket"))
      .select("vec_id").distinct().count()
    val b26cand = b26occ.agg(sum(expr("occ * (occ - 1) div 2")))
      .collect()(0).getLong(0)
    require(b26surv == 58284L,
      s"B26 cap-admitted planted pairs $b26surv != 58284 (fixture drift)")
    require(b26found == b26surv,
      s"B26 lossless-within-cap broken: found $b26found of $b26surv admitted")
    require(b26cand == 12770351L && b26cand < 20000000L,
      s"B26 admitted candidate volume $b26cand not the pinned 12770351 " +
        "(n²/2 is 8e12)")
    Caching.release()

    // B27: profile algebra at EDGAR scale — P4 dedupVectors over 6.48M
    // profiles (25.9M long rows) with exactly 100k distinct quantized
    // vectors, the distributed two-phase rank path FORCED
    // (driverVecLimit = 0; the gate takes the adaptive driver path).
    // qw = 1000000 + 4·class + pos is 7 digits for every class, so the
    // UTF-8 sort of the canonical vec strings IS numeric class order
    // and the dense id is hand-derivable: dedup_id == class + 1 for all
    // 6.48M profiles — a full value pin, not just a count.
    val b27prof = spark.range(6480000L * 4).select(
      expr("id div 4").as("profile_id"),
      (col("id") % 4).cast("int").as("pos"),
      (lit(1000000L) + expr("(id div 4) % 100000") * 4 + col("id") % 4).as("qw"))
    val (b27s, b27nd) = time {
      val out = graft.profiles.Profiles.dedupVectors(
        b27prof, driverVecLimit = 0L).persist()
      val n = out.count()
      require(n == 6480000L, s"B27 dedup row count $n != 6480000")
      val nd = out.select("dedup_id").distinct().count()
      require(nd == 100000L, s"B27 distinct vector count $nd != 100000")
      val viol = out
        .where(col("dedup_id") =!= pmod(col("profile_id"), lit(100000L)) + 1)
        .count()
      require(viol == 0L, s"B27: $viol profiles got a wrong dense id")
      out.unpersist()
      nd
    }
    Caching.release()
    // P6 remapProfiles: 6.48M-cell profiles (dyadic ratios 1/8,1/8,1/4,1/2)
    // through a 2:1 coarsening remap with per-cell emission weights. The
    // weights cancel by construction ONLY if the operator's
    // mass-weighted renormalization is exact, so the REQUIRE pins every
    // output ratio to its dyadic expectation bit-for-bit.
    val b27ratio = element_at(
      array(lit(0.125), lit(0.125), lit(0.25), lit(0.5)), col("pos") + 1)
    val b27cp = spark.range(6480000L * 4).select(
      expr("id div 4").as("cell_id"), (col("id") % 4).cast("int").as("pos"))
      .withColumn("ratio", b27ratio)
    val b27cw = spark.range(6480000L).select(
      col("id").as("cell_id"), (col("id") % 7 + 1).cast("double").as("w"))
    val b27rw = spark.range(6480000L).select(
      col("id").as("src_cell"), expr("id div 2").as("dst_cell"),
      lit(1.0).as("weight"))
    val (b27rs, b27rn) = time {
      val out = graft.profiles.Profiles.remapProfiles(b27cp, b27cw, b27rw)
        .persist()
      val n = out.count()
      require(n == 12960000L, s"B27 remap row count $n != 12960000")
      val viol = out.where(col("ratio") =!= b27ratio).count()
      require(viol == 0L,
        s"B27: $viol remapped ratios deviate from the exact dyadic value")
      out.unpersist()
      n
    }
    Caching.release()

    // B28: ICON-OEM export (K3) end-to-end at 1M cells — the region
    // grouping (group_profile_cells_by_regions) over a 4M-row index
    // cube whose per-cell profile vector falls in exactly 4096 classes
    // (cellClass = cell_id % 4096, injective class→vector map), then
    // the full time-profile assembly (tz roll included) over all 4096
    // regions and the real per-kind NetCDF file set. REQUIREs pin the
    // region count, the class↔region bijection, dense ids 1..4096, the
    // assembled matrix size, and EXACT tz-roll mass conservation (sf
    // sums are integer-valued, and the roll is a per-(profile,region)
    // position permutation).
    val b28cube = spark.range(1000000L * 4).select(
      expr("id div 4").as("cell_id"),
      concat(lit("c"), col("id") % 4).as("category"),
      (pmod(expr("id div 4"), lit(4096)) * 4 + col("id") % 4 + 1)
        .cast("int").as("profile_id"))
    val (b28s, b28nr) = time {
      val reg = graft.sinks.IconExport.regions(b28cube).persist()
      val n = reg.count()
      require(n == 1000000L, s"B28 region-table rows $n != 1000000")
      val nr = reg.select("region_id").distinct().count()
      require(nr == 4096L, s"B28 region count $nr != 4096")
      val bij = reg.select(
        pmod(col("cell_id"), lit(4096)).as("cls"), col("region_id"))
        .distinct().count()
      require(bij == 4096L,
        s"B28 class↔region map has $bij pairs — not a bijection")
      val mm = reg.agg(min("region_id"), max("region_id")).collect()(0)
      require(mm.getLong(0) == 1L && mm.getLong(1) == 4096L,
        s"B28 region ids not dense 1..4096: $mm")
      reg.unpersist()
      nr
    }
    Caching.release()
    val b28regTz = spark.range(4096L).select(
      (col("id") + 1).as("region_id"), (col("id") + 1).as("tpid"),
      (pmod(col("id"), lit(24)) - 12).cast("int").as("tz_shift"))
    val b28catsubs = spark.createDataFrame(Seq(
      ("c0", "s0", "co2_anthro"), ("c1", "s0", "nox")))
      .toDF("category", "substance", "var")
    val b28idx = spark.range(4096L).select((col("id") + 1).as("tpid"))
      .crossJoin(b28catsubs.select("category", "substance"))
      .withColumn("profile_id",
        (pmod(col("tpid") * 7 +
          when(col("category") === "c0", 0).otherwise(1), lit(4096)) + 1)
          .cast("int"))
    val b28profiles = spark.range(4096L * 43).select(
      (expr("id div 43") + 1).cast("int").as("profile_id"),
      (col("id") % 43).cast("int").as("k"))
      .select(col("profile_id"),
        when(col("k") < 24, "hour_of_day")
          .when(col("k") < 31, "day_of_week")
          .otherwise("month").as("kind"),
        when(col("k") < 24, col("k"))
          .when(col("k") < 31, col("k") - 24)
          .otherwise(col("k") - 31).cast("int").as("pos"))
      .withColumn("ratio",
        (col("profile_id") * 100 + col("pos") + 1).cast("double"))
    val b28dir = java.nio.file.Files.createTempDirectory("b28oem")
    var b28bytes = 0L
    val (b28as, b28an) = time {
      val asm = graft.sinks.IconExport.assembleTimeProfiles(
        spark, b28catsubs, b28idx, b28regTz, b28profiles).persist()
      val n = asm.count()
      require(n == 2L * 4096 * 43, s"B28 assembled rows $n != 352256")
      // tz-roll mass conservation: per (var, kind, region) the sf sum is
      // invariant under the roll — compare against the UNROLLED join
      val size = when(col("kind") === "month", 12.0)
        .when(col("kind") === "day_of_week", 7.0)
        .otherwise(24.0)
      val exp = b28catsubs
        .join(b28idx, Seq("category", "substance"))
        .join(b28regTz, "tpid")
        .join(b28profiles, "profile_id")
        .groupBy("var", "kind", "region_id")
        .agg(sum(col("ratio") * size).as("e"))
      val mism = asm.groupBy("var", "kind", "region_id")
        .agg(sum("sf").as("s"))
        .join(exp, Seq("var", "kind", "region_id"), "full_outer")
        .where(!(col("s") <=> col("e"))).count()
      require(mism == 0L, s"B28: $mism (var,kind,region) sf sums not conserved by the roll")
      val files = graft.sinks.IconExport.writeOemNc(
        asm, b28regTz, b28dir.toString)
      require(files.toSet == Set("hourofday.nc", "dayofweek.nc", "monthofyear.nc"),
        s"B28 unexpected OEM file set $files")
      b28bytes = files.map(f =>
        java.nio.file.Files.size(b28dir.resolve(f))).sum
      asm.unpersist()
      n
    }
    Caching.release()

    // B29: mergeable HLL cardinality sketches (M64) — 50M rows, 10M
    // distinct keys over 64 content-stable shards, lgK 14 (dense mode:
    // 10M ≫ 2^14 registers). The report runs the sharded-sketch path,
    // the single-pass sketch AND the exact countDistinct in one plan;
    // REQUIREs pin the exact truth, EXACT merge consistency (union of
    // per-shard sketches must equal the whole-corpus sketch — the
    // property that makes persisted shard sketches trustworthy at
    // 100 TB) and the 2% error bound (σ ≈ 0.82% at lgK 14).
    val b29rows = spark.range(50000000L).select(
      lit("all").as("grp"),
      concat(lit("k"), col("id") % 10000000L).as("key"))
    val (b29s, b29n) = time {
      val r = graft.ops.Sketches.cardinalityReport(
        b29rows, "grp", "key", shards = 64, lgK = 14, relErr = 0.02)
        .collect()(0)
      require(r.getLong(1) == 10000000L,
        s"B29 exact distinct ${r.getLong(1)} != 10000000")
      require(r.getBoolean(2),
        "B29 sharded-merged HLL estimate != single-pass estimate")
      require(r.getBoolean(3),
        "B29 HLL estimate outside the 2% bound")
      r.getLong(1)
    }
    Caching.release()

    // B30: single-pass speciation (R15) at EDGAR scale — the (c0, s0)
    // slice (6.48M rows) splits into NO/NO2 at dyadic 0.25/0.75 while
    // the other 31 (cat, sub) slices pass through in the SAME scan
    // (the one-scan property PlanSpec pins at fixture scale). Exact
    // REQUIREs: integer-valued inputs and dyadic ratios make both
    // sides' sums IEEE-exact in any aggregation order, so mass
    // conservation is == not ≈; row count is closed-form.
    val b30before = emi.agg(sum("value")).collect()(0).getDouble(0)
    val (b30s, b30n) = time {
      val out = graft.ops.Speciation.speciate(spark, emi,
        Seq(("c0", "s0", "NO", 0.25), ("c0", "s0", "NO2", 0.75)))
      val r = out.agg(count(lit(1)), sum("value")).collect()(0)
      require(r.getLong(0) == 213840000L,
        s"B30 row count ${r.getLong(0)} != 213840000")
      require(r.getDouble(1) == b30before,
        s"B30 mass not conserved: ${r.getDouble(1)} != $b30before")
      r.getLong(0)
    }
    Caching.release()

    // B31: streaming HLL in its ESTIMATION regime (M66) — the fixture
    // gate proves coupon-exact mode only (StreamingOps scaladoc says
    // so). Here each of 16 shards sees ~687k distinct keys (lgK 14 →
    // K=16384, deep estimation mode) arriving over 10 micro-batches
    // (file source, one 2M-row file per trigger, 50% inter-batch key
    // overlap → 20M rows, 11M distinct). REQUIREs: (1) every shard
    // updated in all 10 batches; (2) the union of the final per-shard
    // stream sketches estimates EXACTLY what one whole-corpus batch
    // hll_sketch_agg estimates — the shards partition the key space,
    // so register-max union must reproduce the single-pass registers:
    // the interop property that lets persisted streaming shard state
    // merge with batch sketches at 100 TB; (3) the estimate is within
    // 4% of the true 11M (σ ≈ 0.82% at lgK 14); (4) every emitted
    // state blob stays ≤ 40 KB — the hard per-shard state bound.
    val b31dir = java.nio.file.Files.createTempDirectory("scale_stream_hll")
    for (i <- 0 until 10)
      spark.range(i * 1000000L, i * 1000000L + 2000000L)
        .select(col("id").as("user_id")).coalesce(1)
        .write.mode("append").parquet(b31dir.toString)
    var b31est = 0L
    val (b31s, b31n) = time {
      val b31schema = spark.read.parquet(b31dir.toString).schema
      val b31stream = spark.readStream.schema(b31schema)
        .option("maxFilesPerTrigger", "1").parquet(b31dir.toString)
      val b31q = graft.streaming.StreamingOps.cardinalityStream(
        b31stream, "user_id", shards = 16, lgK = 14)
        .toDF().writeStream.format("memory").queryName("b31_card")
        .outputMode("update").start()
      try b31q.processAllAvailable() finally b31q.stop()
      val emitted = spark.table("b31_card").persist()
      // final state per shard = the max-estimate emission (register
      // updates only grow the estimate; a stale pick would undercount
      // the union and fail REQUIRE (2) loudly, never pass silently)
      val perShard = emitted.groupBy("shard").agg(
        count(lit(1)).as("n_updates"),
        expr("max_by(sketch, est_distinct)").as("sketch"))
        .collect()
      require(perShard.length == 16,
        s"B31 ${perShard.length} shards emitted, want 16")
      perShard.foreach { r =>
        require(r.getLong(1) == 10L,
          s"B31 shard ${r.getLong(0)} updated ${r.getLong(1)} times, want 10") }
      val b31maxBytes = emitted
        .select(max(length(col("sketch")))).collect()(0).getInt(0)
      require(b31maxBytes <= 40960,
        s"B31 sketch state $b31maxBytes bytes breaks the ≤40KB bound")
      val b31union = spark.createDataFrame(
        spark.sparkContext.parallelize(
          perShard.toSeq.map(r => org.apache.spark.sql.Row(
            r.getAs[Array[Byte]]("sketch")))),
        new org.apache.spark.sql.types.StructType()
          .add("sketch", org.apache.spark.sql.types.BinaryType))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))"))
        .collect()(0).getLong(0)
      val b31batch = spark.read.parquet(b31dir.toString)
        .select(col("user_id").cast("string").as("k"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 14))"))
        .collect()(0).getLong(0)
      require(b31union == b31batch,
        s"B31 stream-union estimate $b31union != whole-corpus batch $b31batch")
      require(math.abs(b31union - 11000000L) <= 440000L,
        s"B31 estimate $b31union outside 4% of 11M")
      b31est = b31union
      emitted.unpersist()
      spark.catalog.dropTempView("b31_card")
      11000000L
    }
    deleteRecursive(b31dir); Caching.release()

    // B32: quality-aware canonical selection (M67) at B9 scale — the
    // same 8M-edge graph (2M size-4 cliques + a 1000-node chain) plus
    // 1M unclustered singleton docs, with planted integer scores whose
    // winner is closed-form: cliques k ≡ 0 (mod 3) score member 4k+3
    // highest (keep-best DIVERGES from min-id), the rest score member
    // 4k highest (agrees); the chain cluster is entirely UNSCORED
    // (min-id fallback) and every clique score row is planted TWICE
    // (real value + a lower duplicate) to pin the duplicate-score
    // aggregation at scale. REQUIREs: output row count, total keeper
    // count, the exact divergent/agreeing cluster split, per-clique
    // cluster sizes, the chain keeper, and the unscored fallback
    // row-for-row equal to dedupAssign on the same subgraph.
    val b32docs = spark.range(8000000L).select(col("id").as("doc_id"))
      .unionByName(spark.range(1000L)
        .select((col("id") + chainBase).as("doc_id")))
      .unionByName(spark.range(1000000L)
        .select((col("id") + 200000000L).as("doc_id")))
    val b32base = spark.range(8000000L).select(
      col("id").as("doc_id"),
      when(expr("(id div 4) % 3") === 0, col("id") % 4)
        .otherwise(lit(3L) - col("id") % 4).as("score"))
    val b32scores = b32base.unionByName(
      b32base.select(col("doc_id"), (col("score") - 10L).as("score")))
    val (b32s, b32div) = time {
      val out = graft.dedup.Clustering.dedupAssignBy(
        b32docs, cliqueEdges.unionByName(chainEdges), b32scores)
      val r = out.agg(
        count(lit(1)),
        sum(col("keep").cast("long")),
        sum(when(col("keep") === 1 && col("doc_id") < 8000000L &&
          col("doc_id") % 4 === 3, 1L).otherwise(0L)),
        sum(when(col("keep") === 1 && col("doc_id") < 8000000L &&
          col("doc_id") % 4 === 0, 1L).otherwise(0L)),
        sum(when(col("keep") === 1 && col("cluster_size") === 4L, 1L)
          .otherwise(0L)),
        max(when(col("doc_id") >= chainBase &&
          col("doc_id") < 200000000L && col("keep") === 1, col("doc_id")))
      ).collect()(0)
      require(r.getLong(0) == 9001000L,
        s"B32 output rows ${r.getLong(0)} != 9001000")
      require(r.getLong(1) == 3000001L,
        s"B32 keepers ${r.getLong(1)} != 2M cliques + 1 chain + 1M singletons")
      require(r.getLong(2) == 666667L,
        s"B32 keep-best diverged from min-id in ${r.getLong(2)} clusters, want 666667")
      require(r.getLong(3) == 1333333L,
        s"B32 keep-best agreed with min-id in ${r.getLong(3)} clusters, want 1333333")
      require(r.getLong(4) == 2000000L,
        s"B32 clique keepers with cluster_size 4: ${r.getLong(4)} != 2000000")
      require(r.getLong(5) == chainBase,
        s"B32 unscored chain keeper ${r.getLong(5)} != min-id $chainBase")
      r.getLong(2)
    }
    // unscored fallback == dedupAssign, row for row, on the chain
    val b32chainDocs = spark.range(1000L)
      .select((col("id") + chainBase).as("doc_id"))
    val b32noScores = spark.range(0L)
      .select(col("id").as("doc_id"), col("id").as("score"))
    val b32viaBy = graft.dedup.Clustering.dedupAssignBy(
      b32chainDocs, chainEdges, b32noScores)
    val b32viaMin = graft.dedup.Clustering.dedupAssign(
      b32chainDocs, chainEdges)
    require(b32viaBy.exceptAll(b32viaMin).count() == 0L &&
      b32viaMin.exceptAll(b32viaBy).count() == 0L,
      "B32 unscored dedupAssignBy != dedupAssign on the chain subgraph")
    Caching.release()

    // B33: product quantization (M70) at 1M vectors / d=32 — encode to
    // m=8 codes against a 245-entry deterministic codebook per subspace
    // (centroidMod 4096), then ADC-search 100 queries over the ENCODED
    // corpus. Plant an exact duplicate of every query at id 1e6+q: a
    // duplicate shares the query's own code assignment, which minimizes
    // every per-subspace table entry INDEPENDENTLY, so its ADC distance
    // is the global minimum — it must appear at rank 1 for all 100
    // queries (recall REQUIRE). Embeddings are xxhash64-derived
    // pseudorandom milli-unit values (deterministic, seed-fixed): a
    // LATTICE fixture here (base·131 + d·137 mod p) ties systematically
    // — every base ≡ b (mod 1997) is the SAME vector, so rank-1 falls
    // to the tie-break id, not the planted dup (the first run of this
    // entry failed exactly that way; hash inputs leave ties a ~245^-8
    // event and the REQUIRE deterministic). The encode fan-out
    // (N·m·ksub ≈ 2.0G candidate rows) stays map-side via the min_by
    // partial aggregate — only N·m rows shuffle.
    val b33vecs = spark.range(1000100L).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(31)),
        d => (pmod(xxhash64(
          when(col("id") >= 1000000L, col("id") - 1000000L)
            .otherwise(col("id")), d), lit(1997L)) - 998)
          .cast("double") / 1000.0).as("embedding"))
      .persist()
    b33vecs.count()
    // consume a code element so the timing measures real encode work —
    // a bare count() lets Catalyst prune the encode projection entirely
    // (the original relational encode "timed" 2.4 s that way while its
    // true cost, ~100 s, hid inside the search leg)
    val (b33es, b33en) = time {
      val enc = graft.similarity.Similarity.pqEncode(
        b33vecs, m = 8, dims = 32, centroidMod = 4096)
      val r = enc.agg(count(lit(1)).as("n"),
        sum(element_at(col("codes"), 8)).as("chk")).collect()(0)
      require(!r.isNullAt(1), "B33 encode produced null codes")
      r.getLong(0)
    }
    var b33top1 = 0L
    val (b33s, b33n) = time {
      val out = graft.similarity.Similarity.pqSearch(
        b33vecs, nQueries = 100, k = 10, m = 8, dims = 32,
        centroidMod = 4096)
      val top1 = out.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id")).collect()
      require(top1.length == 100, s"B33 ${top1.length} rank-1 rows, want 100")
      top1.foreach { r =>
        require(r.getLong(1) == r.getLong(0) + 1000000L,
          s"B33 query ${r.getLong(0)}: top-1 ${r.getLong(1)} is not the " +
            s"planted duplicate ${r.getLong(0) + 1000000L}") }
      b33top1 = top1.length
      out.count()
    }
    b33vecs.unpersist(); Caching.release()

    // B34: theta-sketch set operations (M71) in the ESTIMATION regime —
    // the gate proves the exact regime only. Splits A = [0, 12M),
    // B = [6M, 18M): truth is |∪| = 18M, |∩| = 6M, |A∖B| = 6M, far past
    // lgK 14 capacity (16384 entries) on both sides. REQUIREs:
    // estimation_mode flagged; union within 3% (4σ at RSE ≈ 0.78%);
    // intersection and difference within 6% (set-op error compounds
    // both operands' thetas — JL-style bound, double the union budget).
    // Deterministic input → deterministic estimate: the envelope is a
    // safety proof, not a flaky sample.
    val (b34s, b34n) = time {
      val a = spark.range(0L, 12000000L)
        .select(lit("A").as("split"), col("id").as("k"))
      val b = spark.range(6000000L, 18000000L)
        .select(lit("B").as("split"), col("id").as("k"))
      val r = graft.ops.Sketches.thetaSetReport(
        a.unionByName(b), "split", "k", lgK = 14).collect()(0)
      require(r.getBoolean(5), "B34 sketches not in estimation mode at 24M rows")
      require(math.abs(r.getLong(2) - 18000000L) <= 540000L,
        s"B34 est_union ${r.getLong(2)} outside 3% of 18M")
      require(math.abs(r.getLong(3) - 6000000L) <= 360000L,
        s"B34 est_intersect ${r.getLong(3)} outside 6% of 6M")
      require(math.abs(r.getLong(4) - 6000000L) <= 360000L,
        s"B34 est_only_a ${r.getLong(4)} outside 6% of 6M")
      r.getLong(2)
    }
    Caching.release()

    // B35: bloom-filter point lookup (M72) at 50M rows — hash-clustered
    // write into 16 files with per-row-group blooms on the hash key,
    // then a 5-key IN probe through the pushed-down scan. REQUIREs: the
    // probe finds exactly its 5 planted ids, and the scan's output-row
    // metric stays under 1% of the corpus (min/max stats CANNOT prune a
    // hash key — every surviving row group is the blooms' doing).
    //
    // Sizing is the lesson this entry encodes (its first run failed at
    // 8 MB row groups / ndv 300k, scanning 36%): (a) the PER-KEY floor
    // is one whole row group — ~50k rows at 1 MB groups, so 5 keys
    // floor at 250k = 0.5%; (b) an IN-list compounds the per-group fpp
    // across ALL ~1000 groups AND all probes, so the bloom must be
    // overprovisioned: ndv 3× the actual per-group distincts drives
    // fpp to ~1e-5 and false admissions to ~zero. Under-sizing ndv is
    // worse than it looks — a bloom holding 1.3× its rated keys is
    // already at several-percent fpp, which a 5-key IN turns into
    // ~17% of row groups admitted.
    val b35dir = java.nio.file.Files.createTempDirectory("scale_bloom")
    val b35df = spark.range(50000000L).select(
      col("id"),
      pmod(xxhash64(col("id")), lit(1000000000000L)).as("k"),
      concat(lit("p"), col("id") % 1000).as("payload"))
    val (b35ws, _) = time {
      var w = graft.ops.Layout.bloomLayout(b35df, "k", numFiles = 16)
        .write.mode("overwrite")
      graft.ops.Layout.bloomWriteOptions("k", expectedNdv = 150000L,
        rowGroupBytes = 1L << 20).foreach { case (o, v) => w = w.option(o, v) }
      w.parquet(b35dir.toString)
      50000000L
    }
    var b35scanned = 0L
    val (b35s, b35n) = time {
      val probeIds = Seq(123L, 456789L, 9999999L, 25000001L, 49999999L)
      val probe = b35df.where(col("id").isin(probeIds: _*))
        .select("k").collect().map(_.getLong(0)).toSeq
      val q = graft.ops.Layout.pointLookup(
        spark, b35dir.toString, "k", probe)
      val ids = q.collect().map(_.getAs[Long]("id")).toSet
      require(probeIds.forall(ids.contains),
        s"B35 lookup missed planted ids: got $ids")
      require(ids.size <= 10,
        s"B35 ${ids.size} ids matched 5 probe keys - hash domain too small")
      b35scanned = q.queryExecution.executedPlan.collectLeaves()
        .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        .head.metrics("numOutputRows").value
      require(b35scanned < 500000L,
        s"B35 scan read $b35scanned rows (>1% of 50M) - blooms not pruning")
      ids.size.toLong
    }
    deleteRecursive(b35dir); Caching.release()

    // B36: bucket-decomposed interval join (M75) — 50.0001M points vs 2M
    // intervals, BOTH at data scale (a BroadcastNestedLoopJoin here is
    // 10^14 comparisons; the bucketed equi-join is the operator's whole
    // point). Intervals [25i, 25i+99] each contain exactly 100 of the
    // points 0..50,000,099 → closed-form 200M pairs, REQUIREd. Plan is
    // REQUIREd free of nested-loop/cartesian joins.
    val b36pts = spark.range(50000100L).select(col("id").as("v"))
    val b36ivs = spark.range(2000000L).select(
      col("id").as("i_id"), (col("id") * 25).as("lo"),
      (col("id") * 25 + 99).as("hi"))
    val b36join = graft.ops.IntervalJoin.intervalJoin(
      b36pts, b36ivs, "v", "lo", "hi", width = 64L)
    val b36plan = b36join.queryExecution.executedPlan.toString
    require(!b36plan.contains("BroadcastNestedLoopJoin") &&
      !b36plan.contains("CartesianProduct"),
      "B36 interval join planned a nested-loop/cartesian join")
    val (b36s, b36n) = time { b36join.count() }
    require(b36n == 200000000L, s"B36 got $b36n pairs, want 200M")
    Caching.release()

    // B37: relational CMS (M76) at 100M + 20M rows — build two 4×2^20
    // sketches (the 400M-row explode collapses map-side; the shuffle
    // moves ≤ depth·width counter rows) and estimate the join size.
    // Truth: A = keys 0..1M-1 ×100, B = keys 0..500k-1 ×40 → exact
    // Σ a(k)b(k) = 500000·4000 = 2e9. REQUIREs: never undercounts, and
    // est ≤ exact + 3·NaNb/w (the CMS inner-product overshoot bound at
    // 3× its expectation — deterministic hashes make this a stable
    // property of the built table, not a sample).
    val b37w = 1 << 20
    val (b37s, b37n) = time {
      val a = graft.ops.FreqSketch.cmsBuild(
        spark.range(100000000L).select((col("id") % 1000000L).as("k")),
        "k", depth = 4, width = b37w)
      val b = graft.ops.FreqSketch.cmsBuild(
        spark.range(20000000L).select((col("id") % 500000L).as("k")),
        "k", depth = 4, width = b37w)
      val est = graft.ops.FreqSketch.cmsJoinSize(a, b, depth = 4)
        .collect()(0).getLong(0)
      val exact = 2000000000L
      val slack = 3L * (100000000L / b37w) * 20000000L
      require(est >= exact, s"B37 join-size undercount: $est < $exact")
      require(est <= exact + slack,
        s"B37 join-size $est exceeds $exact + $slack")
      est
    }
    Caching.release()

    // B38: HDR-histogram quantiles (M77) at 200M values — one corpus
    // aggregate to ≤ 64·2^(sigBits−1) buckets, quantiles from the
    // metadata-sized table. Uniform ramp 1..200M ⇒ closed-form true
    // quantiles; REQUIREs: answer ≤ true (lower-bound convention) and
    // within the 2^(1−sigBits) relative-error guarantee (sigBits 8 ⇒
    // 0.78%), and the histogram stays ≤ 64·128 rows.
    val (b38s, b38n) = time {
      val hist = graft.ops.Quantiles.hdrBuild(
        spark.range(1L, 200000001L).select(col("id").as("v")),
        "v", sigBits = 8).persist()
      val nb = hist.count()
      require(nb <= 64L * 128L, s"B38 $nb buckets — not metadata-sized")
      val qs = Seq(500000L, 900000L, 990000L, 999000L)
      val got = graft.ops.Quantiles.hdrQuantiles(hist, qs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      hist.unpersist()
      qs.foreach { q =>
        val trueQ = math.ceil(200000000.0 * q / 1000000.0).toLong
        val v = got(q)
        require(v <= trueQ, s"B38 q=$q: $v overshoots $trueQ")
        require(trueQ - v <= trueQ / 128L,
          s"B38 q=$q: $v outside 2^-7 relative error of $trueQ")
      }
      nb
    }
    Caching.release()

    // B39: streaming CMS frequency monitor (M78) — 20M rows / 3M
    // distinct keys over 10 file-source micro-batches into 16 shards
    // at depth 4 × width 8192 (256 KB state per shard, hard-bounded).
    // REQUIREs: every shard updated in all 10 batches; the final
    // per-shard states (element-wise max over update emissions —
    // counters only grow) summed cell-by-cell EQUAL the whole-corpus
    // batch cmsBuild EXACTLY, cell for cell — CMS counters are linear
    // and the shards partition the key space, so stream and batch must
    // agree bit-for-bit at ANY scale (no estimation regime to excuse a
    // mismatch).
    val b39dir = java.nio.file.Files.createTempDirectory("scale_stream_cms")
    for (i <- 0 until 10)
      spark.range(i * 2000000L, (i + 1) * 2000000L)
        .select((col("id") % 3000000L).as("user_id")).coalesce(1)
        .write.mode("append").parquet(b39dir.toString)
    val (b39s, b39n) = time {
      val b39schema = spark.read.parquet(b39dir.toString).schema
      val b39stream = spark.readStream.schema(b39schema)
        .option("maxFilesPerTrigger", "1").parquet(b39dir.toString)
      val b39q = graft.streaming.StreamingOps.frequencyStream(
        b39stream, "user_id", shards = 16, depth = 4, width = 8192)
        .toDF().writeStream.format("memory").queryName("b39_freq")
        .outputMode("update").start()
      try b39q.processAllAvailable() finally b39q.stop()
      val emitted = spark.table("b39_freq").persist()
      val updates = emitted.groupBy("shard").agg(count(lit(1)).as("n"))
        .collect()
      require(updates.length == 16,
        s"B39 ${updates.length} shards emitted, want 16")
      updates.foreach { r =>
        require(r.getLong(1) == 10L,
          s"B39 shard ${r.getLong(0)} updated ${r.getLong(1)} times, want 10") }
      val merged = emitted
        .select(col("shard"), posexplode(col("counters")).as(Seq("pos", "n")))
        .groupBy("shard", "pos").agg(max("n").as("n"))
        .groupBy("pos").agg(sum("n").as("n"))
        .where(col("n") > 0)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val batch = graft.ops.FreqSketch.cmsBuild(
        spark.read.parquet(b39dir.toString), "user_id",
        depth = 4, width = 8192)
        .collect()
        .map(r => (r.getInt(0) * 8192 + r.getLong(1).toInt) -> r.getLong(2))
        .toMap
      require(merged == batch,
        s"B39 stream-merged CMS != batch CMS (${merged.size} vs " +
          s"${batch.size} cells)")
      emitted.unpersist()
      spark.catalog.dropTempView("b39_freq")
      merged.size.toLong
    }
    deleteRecursive(b39dir); Caching.release()

    // B13c: the YEAR-LONG small-grid hourly export — 1000 cells × 1 var
    // × 8760 hours. A driver-side hour loop would pay one Spark job per
    // hour (8,760 sequential job latencies); hourlyExportNc runs ONE
    // write job for any hour count and streams each task's hour files
    // from its sorted partition. REQUIREs all 8760 files written.
    val b13cGrid = RegularGrid(100, 10, 0.0, 0.0, 0.01, 0.01)
    val b13cFact = spark.range(1000L).select(
      col("id").as("cell_id"), lit("c0").as("category"),
      lit("s0").as("substance"), (col("id") % 83 + 1).cast("double").as("value"))
    val b13cdir = java.nio.file.Files.createTempDirectory("scale_hourly_year")
    val (b13cs, b13cn) = time {
      graft.sinks.Exports.hourlyExportNc(
        b13cFact, sf, "2024-01-01 00:00:00", 8760, b13cGrid,
        b13cdir.toString).size.toLong
    }
    require(b13cn == 8760L, s"B13c wrote $b13cn files, want 8760")
    deleteRecursive(b13cdir); Caching.release()

    // B36b: SKEWED interval join — B36's intervals are uniform (every
    // interval holds exactly 100 points); real enrichment joins
    // (IP-geo, campaign windows) are Zipf-skewed. Here 40M of the 50M
    // points pile onto values [0, 6400) — 100 hot buckets of 400k
    // points each at width 64 — against the same 2M uniform intervals.
    // Why the decomposition survives point skew WITHOUT AQE heroics:
    // per-bucket work is (#points in bucket) × (#intervals TOUCHING
    // that bucket), and the second factor is bounded by
    // (width + span)/stride ≈ 6.6 regardless of how many points pile
    // in — so the hot buckets cost ~2.6M comparisons each, 100× the
    // uniform case's per-bucket work but spread over 100 independent
    // bucket keys that hash across the shuffle. (The genuinely
    // quadratic case — hot points × hot intervals in ONE bucket — has
    // output ≈ the product, which no join strategy can beat; the
    // decomposition's candidate count stays within a constant of the
    // OUTPUT, which is the strongest bound an exact join can have.)
    // The join stays a standard Exchange-backed equi-join, so AQE's
    // skew-split machinery applies when a partition does cross the
    // threshold; at this geometry (hot partitions ~50 MB, under the
    // 256 MB default) it is not needed and the entry REQUIREs the
    // closed-form exact count instead: hot pairs 6250·(25·1+25·2+25·3
    // +6325·4) = 159,062,500 + cold pairs 40M stride-4 interior points
    // × 4 = 199,062,500.
    val b36bpts = spark.range(50000000L).select(
      when(col("id") < 40000000L, col("id") % 6400)
        .otherwise(lit(6400L) + (col("id") - 40000000L) * 4).as("v"))
    val b36bjoin = graft.ops.IntervalJoin.intervalJoin(
      b36bpts, b36ivs, "v", "lo", "hi", width = 64L)
    val b36bplan = b36bjoin.queryExecution.executedPlan.toString
    require(!b36bplan.contains("BroadcastNestedLoopJoin") &&
      !b36bplan.contains("CartesianProduct"),
      "B36b skewed interval join planned a nested-loop/cartesian join")
    val (b36bs, b36bn) = time { b36bjoin.count() }
    require(b36bn == 199062500L, s"B36b got $b36bn pairs, want 199,062,500")
    Caching.release()

    // B40: composed IVF+PQ search (FAISS IVFPQ shape) at 1M vectors —
    // the answer to B33's one structural limit (its ADC scan is linear
    // in corpus size). Same planted-duplicate fixture as B33; coarse
    // lists from coarseMod 9973 (101 lists over 1,000,100 vectors),
    // nprobe 4. REQUIREs BOTH halves of the composition's contract:
    //   - recall: a planted duplicate shares its query's vector, hence
    //     its coarse list is the query's top probe — rank-1 must be the
    //     duplicate for all 100 queries, same as the full scan;
    //   - pruning: the scored-candidate relation must stay ≤ 3× the
    //     balanced-list expectation nQueries·N·nprobe/nlists (~4% of
    //     the 100M pairs a full ADC scan scores; the 3× headroom is
    //     size-biased probing — queries land in big Voronoi cells more
    //     often than small ones).
    val b40vecs = spark.range(1000100L).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(31)),
        d => (pmod(xxhash64(
          when(col("id") >= 1000000L, col("id") - 1000000L)
            .otherwise(col("id")), d), lit(1997L)) - 998)
          .cast("double") / 1000.0).as("embedding"))
      .persist()
    b40vecs.count()
    val b40nlists = 1000100L / 9973L + 1 // ids ≡ 0 mod 9973
    // the candidate relation of the searches below, before top-k
    def b40scored(residual: Boolean) = {
      import graft.similarity.Similarity._
      val queries = queryRows(prefixQueries(b40vecs, 100))
      scored(Ann.built(b40vecs, m = 8, dims = 32, Some(Subset(9973)),
        Subset(4096), residual), queries, nprobe = 4, excludeSelf = true)
    }
    var b40top1 = 0L
    val (b40s, b40n) = time {
      val out = graft.similarity.Similarity.ivfPqSearch(
        b40vecs, nQueries = 100, k = 10, m = 8, dims = 32,
        centroidMod = 4096, coarseMod = 9973, nprobe = 4)
      val top1 = out.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id")).collect()
      require(top1.length == 100, s"B40 ${top1.length} rank-1 rows, want 100")
      top1.foreach { r =>
        require(r.getLong(1) == r.getLong(0) + 1000000L,
          s"B40 query ${r.getLong(0)}: top-1 ${r.getLong(1)} is not the " +
            s"planted duplicate ${r.getLong(0) + 1000000L}") }
      b40top1 = top1.length
      out.count()
    }
    val (b40cs, b40scanned) = time {
      b40scored(residual = false).count()
    }
    val b40expect = 100L * 1000100L * 4L / b40nlists
    require(b40scanned <= 3L * b40expect,
      s"B40 scanned $b40scanned candidate pairs, > 3x balanced " +
        s"expectation $b40expect - coarse pruning is not pruning")

    // B40r: the RESIDUAL variant (by_residual=true, the FAISS default)
    // on the same fixture and parameters. The contract is the same two
    // halves — a planted duplicate shares its query's vector, hence its
    // list, hence its RESIDUAL, so its codes hit the query residual's
    // quantization floor in every subspace and rank-1 must be the
    // duplicate; and the scan must stay coarse-pruned (the per-(query,
    // probed-list) LUT does not change WHICH rows are scanned). What
    // B40r adds over B40 is proof that residual training pays its way
    // at scale: one extra corpus equi-join at BUILD time (vector →
    // assigned centroid), zero extra cost at SEARCH time.
    var b40rtop1 = 0L
    val (b40rs, b40rn) = time {
      val out = graft.similarity.Similarity.ivfPqResidualSearch(
        b40vecs, nQueries = 100, k = 10, m = 8, dims = 32,
        centroidMod = 4096, coarseMod = 9973, nprobe = 4)
      val top1 = out.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id")).collect()
      require(top1.length == 100, s"B40r ${top1.length} rank-1 rows, want 100")
      top1.foreach { r =>
        require(r.getLong(1) == r.getLong(0) + 1000000L,
          s"B40r query ${r.getLong(0)}: top-1 ${r.getLong(1)} is not the " +
            s"planted duplicate ${r.getLong(0) + 1000000L}") }
      b40rtop1 = top1.length
      out.count()
    }
    val (b40rcs, b40rscanned) = time {
      b40scored(residual = true).count()
    }
    require(b40rscanned <= 3L * b40expect,
      s"B40r scanned $b40rscanned candidate pairs, > 3x balanced " +
        s"expectation $b40expect - residual path broke coarse pruning")

    // B40f: the refine stage (ivfPqRerank) on the same fixture — ADC
    // top-R=20 candidates broadcast to a scan-side raw-vector
    // fetch-back, exact cosine re-rank to k=10. REQUIREs the final
    // EXACT ranking puts the planted duplicate (cos exactly 1 with its
    // query) at rank 1 for all 100 queries — the refine contract: any
    // quantization-induced misordering inside the candidate set is
    // repaired by the raw-vector pass.
    var b40ftop1 = 0L
    val (b40fs, b40fn) = time {
      val out = graft.similarity.Similarity.ivfPqRerank(
        b40vecs, nQueries = 100, k = 10, rerankR = 20, m = 8, dims = 32,
        centroidMod = 4096, coarseMod = 9973, nprobe = 4)
      val top1 = out.where(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id")).collect()
      require(top1.length == 100, s"B40f ${top1.length} rank-1 rows, want 100")
      top1.foreach { r =>
        require(r.getLong(1) == r.getLong(0) + 1000000L,
          s"B40f query ${r.getLong(0)}: exact-reranked top-1 " +
            s"${r.getLong(1)} is not the planted duplicate") }
      b40ftop1 = top1.length
      out.count()
    }
    b40vecs.unpersist(); Caching.release()

    // B41: streaming state DURABILITY — the gap between a streaming
    // demo and streaming you can operate. Both sketch monitors are
    // killed mid-series at a real checkpointLocation and restarted as
    // a NEW query over the same checkpoint; the recovered state must
    // finish EXACTLY where an uninterrupted run would.
    //   leg 1 (CMS): 10 file micro-batches, STOP after 5, restart for
    //     the rest. Final per-shard counters (from the post-restart
    //     emissions alone — state must have been recovered, not
    //     rebuilt) summed cell-by-cell must equal the whole-corpus
    //     batch cmsBuild bit-for-bit.
    //   leg 2 (HLL): same kill/restart; the unioned final shard
    //     sketches must estimate EXACTLY the whole-corpus batch
    //     estimate (HLL registers are per-slot maxima — union is
    //     grouping- and interruption-independent).
    // BOTH legs run under the RocksDB state store — since r17 the
    // GraftSession-wide default (SCALE.md), not a per-leg override, so
    // this entry certifies recovery under the provider every stateful
    // stream actually uses.
    val b41in = java.nio.file.Files.createTempDirectory("scale_ckpt_in")
    val b41ck = java.nio.file.Files.createTempDirectory("scale_ckpt_state")
    def b41feed(lo: Int, hi: Int): Unit =
      for (i <- lo until hi)
        spark.range(i * 2000000L, (i + 1) * 2000000L)
          .select((col("id") % 3000000L).as("user_id")).coalesce(1)
          .write.mode("append").parquet(b41in.toString)
    b41feed(0, 5)
    val b41schema = spark.read.parquet(b41in.toString).schema
    // foreachBatch, not the memory sink — memory refuses checkpoint
    // recovery; foreachBatch is the recoverable sink a pipeline uses
    val b41buf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long])]
    def b41phase(): Unit = {
      val st = spark.readStream.schema(b41schema)
        .option("maxFilesPerTrigger", "1").parquet(b41in.toString)
      val q = graft.streaming.StreamingOps.frequencyStream(
        st, "user_id", shards = 16, depth = 4, width = 8192)
        .writeStream
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[
             graft.streaming.StreamingOps.ShardFreqState], _: Long) =>
            val rows = ds.collect().map(s => (s.shard, s.counters))
            b41buf.synchronized { b41buf ++= rows }
            ()
        }
        .option("checkpointLocation", b41ck.toString)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
    }
    require(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDB"),
      "B41 must run under the RocksDB session default (GraftSession)")
    val (b41s, b41n) = time {
      b41phase() // batches 0-4, then the query is KILLED
      b41feed(5, 10)
      b41buf.clear() // post-restart emissions alone must carry full state
      b41phase() // restart over the same checkpoint
      val byShard = b41buf.groupBy(_._1)
      require(byShard.size == 16,
        s"B41 only ${byShard.size} shards emitted after restart, want 16")
      val merged = byShard.values
        .map(_.map(_._2).reduce((a, b) =>
          a.zip(b).map { case (x, y) => math.max(x, y) }))
        .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
        .zipWithIndex.collect { case (n, pos) if n > 0 => pos -> n }.toMap
      val batch = graft.ops.FreqSketch.cmsBuild(
        spark.read.parquet(b41in.toString), "user_id",
        depth = 4, width = 8192)
        .collect()
        .map(r => (r.getInt(0) * 8192 + r.getLong(1).toInt) -> r.getLong(2))
        .toMap
      require(merged == batch,
        s"B41 restarted CMS != batch (${merged.size} vs ${batch.size} " +
          "cells) - checkpoint recovery lost or duplicated state")
      merged.size.toLong
    }
    deleteRecursive(b41in); deleteRecursive(b41ck); Caching.release()

    val b41hin = java.nio.file.Files.createTempDirectory("scale_ckpt_hll_in")
    val b41hck = java.nio.file.Files.createTempDirectory("scale_ckpt_hll_st")
    def b41hfeed(lo: Int, hi: Int): Unit =
      for (i <- lo until hi)
        spark.range(i * 2000000L, (i + 1) * 2000000L)
          .select((col("id") % 11000000L).as("user_id")).coalesce(1)
          .write.mode("append").parquet(b41hin.toString)
    b41hfeed(0, 5)
    val b41hbuf =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Array[Byte])]
    def b41hphase(): Unit = {
      val st = spark.readStream.schema(b41schema)
        .option("maxFilesPerTrigger", "1").parquet(b41hin.toString)
      val q = graft.streaming.StreamingOps.cardinalityStream(
        st, "user_id", shards = 16, lgK = 14)
        .writeStream
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[
             graft.streaming.StreamingOps.ShardCardinality], _: Long) =>
            val rows = ds.collect()
              .map(s => (s.shard, s.est_distinct, s.sketch))
            b41hbuf.synchronized { b41hbuf ++= rows }
            ()
        }
        .option("checkpointLocation", b41hck.toString)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
    }
    val (b41hs, b41hn) = time {
      b41hphase()
      b41hfeed(5, 10)
      b41hbuf.clear()
      b41hphase()
      // final sketch per shard = the max-estimate emission (B31 idiom —
      // register updates only grow the estimate)
      val hByShard = b41hbuf.groupBy(_._1)
      require(hByShard.size == 16,
        s"B41 only ${hByShard.size} HLL shards emitted after restart, want 16")
      val finals = hByShard.values.map(_.maxBy(_._2)._3).toSeq
      val unionEst = spark.createDataFrame(
        spark.sparkContext.parallelize(
          finals.map(b => org.apache.spark.sql.Row(b))),
        new org.apache.spark.sql.types.StructType()
          .add("sketch", org.apache.spark.sql.types.BinaryType))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))"))
        .collect()(0).getLong(0)
      val batchEst = spark.read.parquet(b41hin.toString)
        .select(col("user_id").cast("string").as("k"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(k, 14))"))
        .collect()(0).getLong(0)
      require(unionEst == batchEst,
        s"B41 restarted HLL union $unionEst != batch $batchEst")
      unionEst
    }
    deleteRecursive(b41hin); deleteRecursive(b41hck); Caching.release()

    // B42: z-order lifecycle under growth — 20M rows on a 2048² grid.
    // Fresh layout vs (16M initial + 4 × 1M raw appends) with an
    // OPTIMIZE pass that re-clusters ONLY the 4M-row tail. The box
    // query (256² cells, 1.56% of the space) is measured at three
    // stages via the scan's numOutputRows:
    //   - fresh:      one generation, the best case;
    //   - with tail:  unsorted tail row groups span the whole z domain
    //     → min/max stats prune nothing there (REQUIREd worse);
    //   - optimized:  base + one clustered generation — REQUIREd within
    //     2× of fresh (two generations ≈ two independent prunes), and
    //     REQUIREd at most a tenth of the table (pruning works at all).
    // Results are REQUIREd identical at every stage (cover + exact
    // filter is lossless by construction).
    import org.apache.spark.sql.execution.FileSourceScanExec
    val b42n0 = 2048L * 2048L
    def b42rows(lo: Long, hi: Long) = spark.range(lo, hi).select(
      ((col("id") % b42n0) / 2048L).cast("long").as("ix"),
      (col("id") % 2048L).as("iy"),
      col("id").as("v"))
    val b42ranges = graft.ops.Layout.zRangesForBox(
      512, 767, 512, 767, bits = 11, maxRanges = 64)
    def b42scan(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val q = df
        .where(graft.ops.Layout.inZRanges(col("z_key"), b42ranges))
        .where(col("ix").between(512, 767) && col("iy").between(512, 767))
      // execute q's OWN physical plan (toRdd), not a derived count()
      // plan — metrics live on the executed plan's scan nodes (B35
      // reads them after collect() for the same reason)
      val hits = q.queryExecution.toRdd.count()
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .collect { case s: FileSourceScanExec => s }
        .map(_.metrics("numOutputRows").value).sum
      (hits, scanned)
    }
    val b42small = Map("parquet.block.size" -> (1L << 20).toString)
    val b42freshDir = java.nio.file.Files.createTempDirectory("scale_zfresh")
    val b42lifeDir = java.nio.file.Files.createTempDirectory("scale_zlife")
    graft.ops.Layout.zorderLayout(
      b42rows(0L, 20000000L), col("ix"), col("iy"), 16)
      .write.mode("overwrite").options(b42small)
      .parquet(s"$b42freshDir/gen-0")
    val (b42hitsF, b42fresh) = b42scan(
      spark.read.parquet(s"$b42freshDir/gen-0"))
    graft.ops.Layout.zorderLayout(
      b42rows(0L, 16000000L), col("ix"), col("iy"), 13)
      .write.mode("errorifexists").options(b42small)
      .parquet(s"$b42lifeDir/gen-0")
    for (i <- 0 until 4)
      b42rows(16000000L + i * 1000000L, 16000000L + (i + 1) * 1000000L)
        .withColumn("z_key",
          graft.ops.Layout.zorderKey(col("ix"), col("iy")))
        .write.mode("append").options(b42small)
        .parquet(s"$b42lifeDir/tail")
    val (b42hitsT, b42tail) = b42scan(
      graft.ops.Layout.zorderTable(spark, b42lifeDir.toString))
    val (b42s, b42compacted) = time {
      graft.ops.Layout.zorderOptimize(spark, b42lifeDir.toString, 4)
    }
    require(b42compacted == 4000000L,
      s"B42 optimize compacted $b42compacted rows, want 4M")
    val (b42hitsO, b42opt) = b42scan(
      graft.ops.Layout.zorderTable(spark, b42lifeDir.toString))
    require(b42hitsF == b42hitsT && b42hitsT == b42hitsO,
      s"B42 box results drifted across lifecycle: $b42hitsF / $b42hitsT / $b42hitsO")
    require(b42tail > b42opt,
      s"B42 tail scan $b42tail not worse than optimized $b42opt - " +
        "fixture fails to demonstrate the pass")
    require(b42opt <= 2L * b42fresh,
      s"B42 optimized scan $b42opt > 2x fresh $b42fresh")
    require(b42opt <= 2000000L,
      s"B42 optimized scan $b42opt > 10% of the table - not pruning")
    deleteRecursive(b42freshDir); deleteRecursive(b42lifeDir)
    Caching.release()

    // round-17 entries (B42c lifecycle cadence, B43 persisted IVF+PQ,
    // B33t trained codebooks, B44 hybrid e2e) — see ScaleBenchEntries
    val r17Json = ScaleBenchEntries.all(spark)

    val b1rate = "%.1f".format(src.ncells * 32 / b1s / 1e6)
    val b3rate = "%.1f".format(b3n / b3s / 1e6)
    val json =
      s"""{"metric":"scale_bench","b1_remap_sec":$b1s,"b1_rows_in":${src.ncells * 32},"b1_rows_out":$b1n,"b1_mrows_per_s":$b1rate,""" +
        s""""b2_group_rollup_sec":$b2s,"b2_rows_out":$b2n,""" +
        s""""b2b_fused_totals_sec":$b2bs,""" +
        s""""b3_explode_sec":$b3s,"b3_rows":$b3n,"b3_mrows_per_s":$b3rate,""" +
        s""""b6_poly_grid_sec":$b6s,"b6_weights":$b6n,""" +
        s""""b7_tile_join_sec":$b7s,"b7_pairs":$b7n,""" +
        s""""b8_dist_ingest_sec":$b8s,"b8_files":64,"b8_rows":$b8n,""" +
        s""""b9_conncomp_sec":$b9s,"b9_edges":8000999,"b9_clusters":$b9n,""" +
        s""""b10_raster_export_sec":$b10s,"b10_file_bytes":$b10n,""" +
        s""""b10b_raster10x_streamed_sec":$b10bs,"b10b_file_bytes":$b10bn,""" +
        s""""b11_osm_resolve_sec":$b11s,"b11_parts":$b11n,""" +
        s""""b12_pii_url_sec":$b12s,"b12_docs":$nDocs,""" +
        s""""b12_mdocs_per_s":${"%.1f".format(nDocs / b12s / 1e6)},""" +
        s""""b12b_span_dedup_sec":$b12bs,"b12b_docs":$nSpanDocs,""" +
        s""""b13_fluxie_export_sec":$b13s,"b13_file_bytes":$b13n,""" +
        s""""b13b_hourly_export_sec":$b13bs,"b13b_files":$b13bn,""" +
        s""""b14_layout_write_sec":$b14ws,"b14_weight_rows":$b14wn,""" +
        s""""b14_bucketed_join_sec":$b14s,"b14_rows_out":$b14n,""" +
        s""""b15_gpkg_export_sec":$b15s,"b15_file_bytes":$b15n,""" +
        s""""b16_bpe_train_sec":$b16ts,"b16_merges":$b16tn,""" +
        s""""b16_bpe_encode_sec":$b16s,"b16_tokens":$b16n,""" +
        s""""b16_mtok_per_s":${"%.1f".format(b16n / b16s / 1e6)},""" +
        s""""b17_bloom_decon_sec":$b17s,"b17_contaminated":$b17n,"b17_probes":100000,""" +
        s""""b18_shard_shuffle_sec":$b18s,"b18_rows":$b18n,""" +
        s""""b18_mrows_per_s":${"%.1f".format(b18n / b18s / 1e6)},""" +
        s""""b19_incr_dedup_sec":$b19s,"b19_incoming":$b19n,""" +
        s""""b19_exact":${b19stat.getOrElse("exact_dup", 0L)},"b19_near":${b19stat.getOrElse("near_dup", 0L)},""" +
        s""""b20_lm_score_sec":$b20s,"b20_docs":$b20n,""" +
        s""""b20_kdocs_per_s":${"%.1f".format(b20n / b20s / 1e3)},""" +
        s""""b21_tar_write_sec":$b21ws,"b21_samples":$b21wn,"b21_tar_bytes":$b21bytes,""" +
        s""""b21_write_mb_per_s":${"%.1f".format(b21bytes / b21ws / 1e6)},""" +
        s""""b21_tar_read_sec":$b21rs,"b21_entries":$b21rn,""" +
        s""""b2_best_of":3,"b9_best_of":3,""" +
        s""""b22_heavy_hitters_sec":$b22s,"b22_tokens":$b22tok,""" +
        s""""b22_heavy_verified":$b22nHeavy,"b22_capacity":2048,"b22_vocab":100000,""" +
        s""""b23_containment_sec":$b23s,"b23_docs":1000000,"b23_planted_found":$b23n,""" +
        s""""b23_candidate_pairs":$b23cand,""" +
        s""""b24_pagerank_sec":$b24s,"b24_nodes":$b24n,"b24_edges":8000999,""" +
        s""""b25_cdc_dedup_sec":$b25s,"b25_docs":5000000,"b25_dup_chunks":$b25n,""" +
        s""""b25_mdocs_per_s":${"%.1f".format(5000000 / b25s / 1e6)},""" +
        s""""b26_ann_neardup_sec":$b26s,"b26_vectors":$b26n,"b26_dim":32,""" +
        s""""b26_found":$b26found,"b26_admitted":$b26surv,"b26_candidates":$b26cand,""" +
        s""""b27_profile_dedup_sec":$b27s,"b27_profiles":6480000,"b27_distinct_vecs":$b27nd,""" +
        s""""b27_remap_sec":$b27rs,"b27_rows_out":$b27rn,""" +
        s""""b28_icon_regions_sec":$b28s,"b28_cells":1000000,"b28_regions":$b28nr,""" +
        s""""b28_assembly_sec":$b28as,"b28_rows":$b28an,"b28_nc_bytes":$b28bytes,""" +
        s""""b29_hll_sec":$b29s,"b29_rows":50000000,"b29_distinct":$b29n,""" +
        s""""b30_speciate_sec":$b30s,"b30_rows":$b30n,""" +
        s""""b31_stream_hll_sec":$b31s,"b31_rows":20000000,"b31_distinct":$b31n,""" +
        s""""b31_est":$b31est,"b31_batches":10,"b31_shards":16,""" +
        s""""b32_keepbest_sec":$b32s,"b32_docs":9001000,"b32_edges":8000999,""" +
        s""""b32_divergent":$b32div,""" +
        s""""b33_pq_encode_sec":$b33es,"b33_codes":$b33en,"b33_vectors":1000100,"b33_ksub":245,""" +
        s""""b33_pq_search_sec":$b33s,"b33_results":$b33n,"b33_queries":100,"b33_top1_planted":$b33top1,""" +
        s""""b34_theta_sec":$b34s,"b34_rows":24000000,"b34_est_union":$b34n,""" +
        s""""b35_bloom_write_sec":$b35ws,"b35_rows":50000000,""" +
        s""""b35_lookup_sec":$b35s,"b35_matched":$b35n,"b35_scanned":$b35scanned,""" +
        s""""b36_interval_join_sec":$b36s,"b36_pairs":$b36n,"b36_points":50000100,"b36_intervals":2000000,""" +
        s""""b37_cms_sec":$b37s,"b37_rows":120000000,"b37_est_join":$b37n,"b37_exact_join":2000000000,""" +
        s""""b38_hdr_sec":$b38s,"b38_rows":200000000,"b38_buckets":$b38n,""" +
        s""""b39_stream_cms_sec":$b39s,"b39_rows":20000000,"b39_cells":$b39n,""" +
        s""""b39_batches":10,"b39_shards":16,""" +
        s""""b13c_hourly_year_sec":$b13cs,"b13c_files":$b13cn,""" +
        s""""b36b_skew_interval_sec":$b36bs,"b36b_pairs":$b36bn,""" +
        s""""b40_ivfpq_sec":$b40s,"b40_results":$b40n,"b40_recall_top1":$b40top1,""" +
        s""""b40_scored_count_sec":$b40cs,"b40_scanned":$b40scanned,""" +
        s""""b40_scan_frac":${"%.4f".format(b40scanned.toDouble / (100L * 1000100L))},""" +
        s""""b40_nlists":$b40nlists,"b40_nprobe":4,""" +
        s""""b40r_ivfpq_sec":$b40rs,"b40r_results":$b40rn,""" +
        s""""b40r_recall_top1":$b40rtop1,""" +
        s""""b40r_scored_count_sec":$b40rcs,"b40r_scanned":$b40rscanned,""" +
        s""""b40r_scan_frac":${"%.4f".format(b40rscanned.toDouble / (100L * 1000100L))},""" +
        s""""b40f_rerank_sec":$b40fs,"b40f_results":$b40fn,""" +
        s""""b40f_recall_top1":$b40ftop1,"b40f_rerank_r":20,""" +
        s""""b41_cms_restart_sec":$b41s,"b41_rows":20000000,"b41_cells":$b41n,""" +
        s""""b41_hll_restart_sec":$b41hs,"b41_hll_est":$b41hn,""" +
        s""""b42_optimize_sec":$b42s,"b42_rows":20000000,"b42_appended":4000000,""" +
        s""""b42_scan_fresh":$b42fresh,"b42_scan_tail":$b42tail,"b42_scan_opt":$b42opt,""" +
        r17Json + "}"
    println(json)
    // Fold the per-entry minimum across the run series into a "best"
    // object before persisting: the committed artifact carries BOTH the
    // current run and the series minima, so a re-run extends the series
    // instead of overwriting it (previously folded by hand after each
    // run — one missed fold would have lost the citable minima).
    val prior = priorSecMinima(java.nio.file.Paths.get("BENCH_SCALE.json"))
    val current = secMinima(json)
    val bestObj = (prior.keySet ++ current.keySet).toSeq.sorted.map { k =>
      val v = math.min(prior.getOrElse(k, Double.MaxValue),
        current.getOrElse(k, Double.MaxValue))
      s""""$k":$v"""
    }.mkString("{", ",", "}")
    val jsonWithBest = json.dropRight(1) + s""","best":$bestObj}"""
    // durable copy for the round artifacts (same pattern as BENCH_LAST)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SCALE.json"),
      (jsonWithBest + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
