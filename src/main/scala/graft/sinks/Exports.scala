package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.RegularGrid
import graft.profiles.Temporal
import graft.sources.NetcdfClassic.{NcAtt, NcDim}
import graft.sinks.NetcdfWriter.{WriteVar, textAtt}

/** Export sinks — parquet as the engine-native interchange, plus actual
  * model-ready NetCDF classic files via [[NetcdfWriter]] (mirroring the
  * reference's `Dataset.to_netcdf` endpoints).
  */
object Exports {

  /** CF-raster-style export (reference `export_raster_netcdf`,
    * emiproc/exports/rasters.py:14-323): one row per cell with x/y
    * coordinates and one column per substance (categories summed — the
    * `sum_categories` path), written as parquet. Returns the wide frame.
    * Unit conversion kg/y/cell → kg/m2/s is the optional `perArea` flag
    * (reference :95-108; SEC_PER_YEAR = 365.25·86400 as in
    * emiproc/utilities.py SEC_PER_YR). */
  val SecPerYear: Double = 365.25 * 86400.0

  def rasterExport(
      emissions: DataFrame,
      grid: RegularGrid,
      path: Option[String] = None,
      perArea: Boolean = false): DataFrame = {
    val conv = if (perArea) 1.0 / (grid.cellArea * SecPerYear) else 1.0
    val wide = emissions
      .groupBy("cell_id")
      .pivot("substance")
      .agg(sum(col("value") * conv))
      .na.fill(0.0)
      .withColumn("x", grid.cellXc(col("cell_id")))
      .withColumn("y", grid.cellYc(col("cell_id")))
    path.foreach { p =>
      wide.write.mode("overwrite").parquet(p)
      writeCfAttributes(wide, grid, p, perArea)
    }
    wide
  }

  /** K9 — CF metadata attributes for a raster export (reference
    * `DEFAULT_NC_ATTRIBUTES` + per-variable units/standard_name,
    * emiproc/exports/rasters.py:118-197). Parquet has no NetCDF-style
    * global attributes, so the same information rides a `_cf_attrs.json`
    * sidecar in the export directory: global CF keys + one entry per
    * substance column with units and coordinate declarations. */
  def writeCfAttributes(
      wide: DataFrame,
      grid: RegularGrid,
      path: String,
      perArea: Boolean): Unit = {
    val units = if (perArea) "kg m-2 s-1" else "kg year-1 cell-1"
    val subs = wide.columns.filterNot(Seq("cell_id", "x", "y").contains)
    def q(s: String) = "\"" + s + "\""
    val vars = subs.map(s0 =>
      s"${q(s0)}: {${q("units")}: ${q(units)}, ${q("coordinates")}: ${q("x y")}}")
      .mkString(", ")
    val json =
      s"""{${q("Conventions")}: ${q("CF-1.8")},
         | ${q("source")}: ${q("graft emission inventory export")},
         | ${q("grid")}: {${q("nx")}: ${grid.nx}, ${q("ny")}: ${grid.ny},
         |   ${q("xmin")}: ${grid.xmin}, ${q("ymin")}: ${grid.ymin},
         |   ${q("dx")}: ${grid.dx}, ${q("dy")}: ${grid.dy}},
         | ${q("variables")}: {$vars}}""".stripMargin
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), wide.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_cf_attrs.json"), true)
    out.write(json.getBytes("UTF-8"))
    out.close()
  }

  /** CF-1.10 global attributes — the reference's `nc_cf_attributes`
    * (emiproc/exports/netcdf.py:6-71): Conventions/title/comment/source/
    * history/references/institution/author/contact/creation_time.
    * `creationTime` is a parameter (not wall-clock) so exports are
    * reproducible and byte-level testable; production callers pass now(). */
  def ncCfAttrs(
      title: String,
      source: String = "graft emission inventory export",
      comment: String = "",
      history: String = "",
      institution: String = "graft",
      author: String = "graft",
      contact: String = "",
      references: String = "Produced by graft.",
      creationTime: String = "1970-01-01 00:00:00"): Seq[NcAtt] = Seq(
    textAtt("Conventions", "CF-1.10"),
    textAtt("title", title),
    textAtt("comment", comment),
    textAtt("source", source),
    textAtt("history", s"$creationTime: created by graft ;\n$history"),
    textAtt("references", references),
    textAtt("institution", institution),
    textAtt("author", author),
    textAtt("contact", contact),
    textAtt("creation_time", creationTime))

  /** Write raw bytes to a local file path, creating parent dirs. */
  private[graft] def writeBytes(path: String, bytes: Array[Byte]): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, bytes)
  }

  /** Stream a NetCDF file to `path` through [[NetcdfWriter.writeTo]] —
    * driver memory stays chunk-bounded instead of file-bounded, and
    * CDF-2 files past 2 GiB are writable. */
  private[graft] def writeNcStreamed(
      path: String,
      dims: Seq[NcDim],
      gatts: Seq[NcAtt],
      vars: Seq[NetcdfWriter.WriteVar]): Long = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
      java.nio.file.StandardOpenOption.WRITE)
    try NetcdfWriter.writeTo(ch, dims, gatts, vars) finally ch.close()
  }

  /** Upper bound on a single driver-side plane collect (#cells ≈ Rows).
    * Planes larger than this stream through [[streamPlane]] — at a 10×
    * EDGAR grid (64.8M cells) a Row-based plane collect is multiple GB of
    * driver objects; the segment stream holds one ~4 MB packed segment. */
  private[sinks] val PlaneCollectMax = 16L * 1000 * 1000
  private[sinks] val PlaneSegSize = 1 << 19 // 512k cells = 4 MB of doubles

  /** Stream a dense plane of `n` doubles to the driver in index order
    * with O(segment) driver memory: a distributed fold of `(idx, v)`
    * rows into contiguous `segSize`-cell dense arrays (executor-side
    * groupByKey — segment-aligned by construction), range-partitioned and
    * sorted by segment id, then pulled one partition at a time
    * (`toLocalIterator`), zero-filling segments that have no rows. The
    * JVM-native equivalent of an Arrow-batched collect: every element
    * crosses the wire exactly once as a packed primitive inside an
    * UnsafeArrayData, never as a driver-side Row object, so the driver
    * ceiling moves from O(plane) to O(segment) and a 100× grid export
    * can stream planes bigger than driver memory. */
  private[graft] def streamPlane(
      plane: DataFrame, n: Long, segSize: Int = PlaneSegSize): Iterator[Array[Double]] = {
    val spark = plane.sparkSession
    import spark.implicits._
    val nseg = ((n + segSize - 1) / segSize).toInt
    val segs = plane.toDF("idx", "v").as[(Long, Double)]
      .groupByKey(_._1 / segSize)
      .mapGroups { (seg, rows) =>
        val base = seg * segSize
        val len = math.min(segSize.toLong, n - base).toInt
        val arr = new Array[Double](len)
        rows.foreach(t => arr((t._1 - base).toInt) += t._2)
        (seg, arr)
      }
      .toDF("seg", "arr")
      .repartitionByRange(math.max(1, math.min(nseg, 64)), col("seg"))
      .sortWithinPartitions("seg")
      .as[(Long, Array[Double])]
    val it = segs.toLocalIterator()
    new scala.collection.AbstractIterator[Array[Double]] {
      private var nextSeg = 0L
      private var pending: (Long, Array[Double]) = _
      def hasNext: Boolean = nextSeg < nseg
      def next(): Array[Double] = {
        if (pending == null && it.hasNext) pending = it.next()
        val out =
          if (pending != null && pending._1 == nextSeg) {
            val a = pending._2; pending = null; a
          } else // no rows landed in this segment: all-zero plane stripe
            new Array[Double](
              math.min(segSize.toLong, n - nextSeg * segSize).toInt)
        nextSeg += 1
        out
      }
    }
  }

  /** Chunked generator for an analytic (index-defined) plane — coord and
    * constant variables at big grids, O(segment) memory instead of an
    * eager n-sized driver array. */
  private[sinks] def tabulateChunks(
      n: Int, f: Int => Double, segSize: Int = PlaneSegSize): () => Iterator[Array[Double]] =
    () => (0 until n by segSize).iterator.map { base =>
      Array.tabulate(math.min(segSize, n - base))(i => f(base + i))
    }

  /** The (lat, lon) plane of `plane` — `(idx, v)` rows over flat cell
    * indexes `0 until n`, summed per index — as writer chunks: planes up
    * to [[PlaneCollectMax]] cells are collected in one job
    * ([[collectPlane]]), larger ones stream through [[streamPlane]] with
    * O(segment) driver memory. The one place a driver-written file
    * gathers a grid plane. */
  private[graft] def planeChunks(plane: DataFrame, n: Int): Iterator[Array[Double]] =
    if (n > PlaneCollectMax) streamPlane(plane, n) else Iterator(collectPlane(plane, n))

  /** The dense plane of `(idx, v)` rows in one collect. */
  private[graft] def collectPlane(plane: DataFrame, n: Int): Array[Double] = {
    val arr = new Array[Double](n)
    plane.toDF("idx", "v").select(col("idx").cast("long"), col("v").cast("double"))
      .collect().foreach(r => arr(r.getLong(0).toInt) += r.getDouble(1))
    arr
  }

  /** Flat (lat, lon) index `iy · nx + ix` of a column-major `cell_id`
    * (`ix = cell_id div ny`, `iy = cell_id mod ny`). */
  private def flatIdx(nx: Int, ny: Int): org.apache.spark.sql.Column =
    expr(s"cell_id % $ny * $nx + cell_id div $ny").as("idx")

  /** K1 as a REAL NetCDF file — the reference's `export_raster_netcdf`
    * layout (emiproc/exports/rasters.py:109-246): one NC_DOUBLE variable
    * per substance over dims (lat, lon) with CF var attributes, center
    * coordinates `lon`/`lat` plus `lon_bnds`/`lat_bnds` edge arrays, and
    * the global CF attribute block. Categories summed (the
    * `sum_categories` path, same as [[rasterExport]]); unit flips with
    * `perArea` exactly as rasters.py:95-108.
    *
    * The raster is grid-sized (the small analytic side at any SF), so the
    * encode gathers one plane at a time on the driver ([[planeChunks]]) —
    * the reference materializes the full `np` array before `to_netcdf`. */
  def rasterExportNc(
      emissions: DataFrame,
      grid: RegularGrid,
      path: String,
      perArea: Boolean = false,
      atts: Seq[NcAtt] = Nil,
      groupCategories: Boolean = false,
      addTotals: Boolean = false,
      varPerCatSub: Boolean = false): Unit = {
    val conv = if (perArea) 1.0 / (grid.cellArea * SecPerYear) else 1.0
    // ONE distributed aggregate to (cell, substance, category), persisted;
    // planes are then gathered ONE AT A TIME as grid-bounded filtered
    // aggregates (≤ ncell rows each) — never the full fact aggregate.
    // At EDGAR scale (6.48M cells × 8 cat × 4 sub) the full aggregate is
    // >200M driver-side Rows; a single plane is ~52 MB of doubles, the
    // same footprint the reference holds per np array before `to_netcdf`.
    val agg = emissions
      .groupBy("cell_id", "substance", "category")
      .agg(sum(col("value") * conv).as("v"))
      .persist()
    val subs = agg.select("substance").distinct()
      .collect().map(_.getString(0)).sorted
    val cats = agg.select("category").distinct()
      .collect().map(_.getString(0)).sorted
    val ncell = grid.ny * grid.nx
    val idx = flatIdx(grid.nx, grid.ny)
    def catChunks(s: String, c: String): Iterator[Array[Double]] = planeChunks(
      agg.where(col("substance") === s && col("category") === c)
        .select(idx, col("v")), ncell)
    // per-substance summed plane (the default layout + the all-sectors
    // totals); per-(substance, category) planes for the group mode.
    // Planes are NOT materialized up front: each WriteVar carries a
    // `chunks` closure that collects its plane(s) only while that
    // variable streams to disk, so driver memory is ONE plane — never
    // nsub planes + the encoded file buffer.
    val needCatPlanes = groupCategories || varPerCatSub
    val needSubPlanes = addTotals || !needCatPlanes
    // fold the category dim once distributed, so each per-substance
    // plane collect filters nsub× fewer rows than the full aggregate
    val subAgg = if (needSubPlanes) {
      val sa = agg.groupBy("cell_id", "substance")
        .agg(sum("v").as("pv")).persist()
      sa.count()
      Some(sa)
    } else None
    def subChunks(s: String): Iterator[Array[Double]] = planeChunks(
      subAgg.get.where(col("substance") === s).select(idx, col("pv")), ncell)
    // which (substance, category) planes are non-empty — decided from a
    // DISTRIBUTED scan (agg has one row per (cell, sub, cat), so a plane
    // has a nonzero cell iff some row's v != 0), not from materialized
    // planes
    val nonEmptyPairs: Set[(String, String)] =
      if (varPerCatSub)
        agg.where(col("v") =!= 0.0).select("substance", "category")
          .distinct().collect()
          .map(r => (r.getString(0), r.getString(1))).toSet
      else Set.empty
    // per-(substance, category) totals come from a DISTRIBUTED sum —
    // subs × cats rows on the driver, no plane materialization needed
    val catTotals: Map[(String, String), Double] =
      if (addTotals)
        agg.groupBy("substance", "category").agg(sum("v").as("t")).collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      else Map.empty
    val unitStr = if (perArea) "kg m-2 s-1" else "kg year-1 cell-1"
    val dims = Seq(
      NcDim("lat", grid.ny), NcDim("lon", grid.nx),
      NcDim("lat_bnds", grid.ny + 1), NcDim("lon_bnds", grid.nx + 1))
    def axisVar(name: String, dim: String, n: Int, v0: Double, dv: Double,
        std: String, units: String, axis: String, centers: Boolean): WriteVar =
      WriteVar(name, Seq(dim), NetcdfClassicDouble,
        atts = Seq(
          textAtt("standard_name", std), textAtt("long_name", std),
          textAtt("units", units),
          textAtt("comment", if (centers) "center_of_cell" else "cell_boundaries"),
          textAtt("axis", axis)),
        doubles = Array.tabulate(n)(i =>
          v0 + (if (centers) (i + 0.5) * dv else i * dv)))
    val coordVars = Seq(
      axisVar("lon", "lon", grid.nx, grid.xmin, grid.dx,
        "longitude", "degrees_east", "X", centers = true),
      axisVar("lat", "lat", grid.ny, grid.ymin, grid.dy,
        "latitude", "degrees_north", "Y", centers = true),
      axisVar("lon_bnds", "lon_bnds", grid.nx + 1, grid.xmin, grid.dx,
        "longitude", "degrees_east", "X", centers = false),
      axisVar("lat_bnds", "lat_bnds", grid.ny + 1, grid.ymin, grid.dy,
        "latitude", "degrees_north", "Y", centers = false))
    val dataVars =
      if (varPerCatSub) // rasters.py default var_name_format "{sub}_{cat}"
        (for (s <- subs.toSeq; c <- cats if nonEmptyPairs((s, c))) yield
          WriteVar(s"${s}_$c", Seq("lat", "lon"), NetcdfClassicDouble,
            atts = Seq(
              textAtt("standard_name", s"${s}_$c"),
              textAtt("long_name", s"${s}_$c"), textAtt("units", unitStr),
              textAtt("comment", s"emissions of $s from $c"),
              textAtt("substance", s), textAtt("category", c)),
            chunks = () => catChunks(s, c)))
      else if (!groupCategories) subs.toSeq.map { s =>
        WriteVar(s, Seq("lat", "lon"), NetcdfClassicDouble,
          atts = Seq(
            textAtt("standard_name",
              s"tendency_of_atmosphere_mass_content_of_${s}_due_to_emission"),
            textAtt("long_name", s), textAtt("units", unitStr),
            textAtt("comment", s"emissions of $s"), textAtt("substance", s)),
          chunks = () => subChunks(s))
      } else subs.toSeq.map { s => // rasters.py:137-160 category-dim layout
        WriteVar(s, Seq("category", "lat", "lon"), NetcdfClassicDouble,
          atts = Seq(
            textAtt("standard_name",
              s"tendency_of_atmosphere_mass_content_of_${s}_due_to_emission"),
            textAtt("long_name", s), textAtt("units", unitStr),
            textAtt("comment", s"emissions of $s"), textAtt("substance", s)),
          chunks = () => cats.iterator.flatMap(c => catChunks(s, c)))
      }
    // add_totals block (rasters.py:246-303): per-substance all-sectors
    // plane + per-category kg/yr totals; always kg/yr for the totals —
    // undo the per-area conversion with area × SEC_PER_YR.
    val backToKg = if (perArea) grid.cellArea * SecPerYear else 1.0
    val totalVars = if (!addTotals) Seq.empty[WriteVar] else subs.toSeq.flatMap { s =>
      Seq(
        WriteVar(s"emi_${s}_all_sectors", Seq("lat", "lon"), NetcdfClassicDouble,
          atts = Seq(
            textAtt("standard_name",
              s"tendency_of_atmosphere_mass_content_of_${s}_due_to_emission"),
            textAtt("long_name", s"Aggregated Emissions of $s from all sectors"),
            textAtt("units", unitStr),
            textAtt("comment", "annual mean emission rate")),
          chunks = () => subChunks(s)),
        WriteVar(s"emi_${s}_total", Seq("category"), NetcdfClassicDouble,
          atts = Seq(
            textAtt("long_name", s"Total Emissions of $s"),
            textAtt("units", "kg yr-1"),
            textAtt("comment", "annual total emission")),
          doubles = cats.map(c =>
            catTotals.getOrElse((s, c), 0.0) * backToKg).toArray))
    }
    val areaCellVars = if (!addTotals) Nil else Seq(
      WriteVar("cell_area", Seq("lat", "lon"), NetcdfClassicDouble,
        atts = Seq(textAtt("standard_name", "cell_area"),
          textAtt("units", "m2"),
          textAtt("comment", "area of the cell (planar analytic grid)")),
        chunks = tabulateChunks(ncell, _ => grid.cellArea)))
    val strLen = 32
    val catDims = if (groupCategories || addTotals)
      Seq(NcDim("category", cats.length), NcDim("str_len", strLen)) else Nil
    val catVars = if (catDims.isEmpty) Nil else Seq(
      WriteVar("category", Seq("category", "str_len"),
        graft.sources.NetcdfClassic.NcChar, strings = cats.toSeq))
    val gatts = if (atts.nonEmpty) atts else ncCfAttrs("graft raster export")
    writeNcStreamed(path, dims ++ catDims, gatts,
      coordVars ++ catVars ++ dataVars ++ totalVars ++ areaCellVars)
    subAgg.foreach(_.unpersist())
    agg.unpersist()
  }

  private val NetcdfClassicDouble = graft.sources.NetcdfClassic.NcDouble

  /** K2 with real per-hour `.nc` files — the reference's
    * `export_hourly_emissions` (emiproc/exports/hourly.py:20-224): one
    * file per hour named `yyyyMMdd'T'HHmmss'Z'.nc`. Each file uses the
    * unstructured-grid layout (dim `cell`, coord vars `lon`/`lat` over
    * cells, hourly.py:181-199) with one NC_DOUBLE variable per
    * `substance_category` in kg/h. The hours are those of
    * [[Temporal.temporalExplode]] in the session time zone; hours whose
    * local `ts_str` coincide (a DST fall-back) fold into one file.
    *
    * The reference works through 168-hour chunks (hourly.py:167-169), a
    * single-node numpy memory idiom. Here every hour count runs as one
    * job: the un-exploded input `(cell_id, category, substance, var,
    * value)` is the only cache, and one small `distinct` over it lists
    * the variables — every input row reaches every hour, so every hour
    * holds the same variables. The hour spine comes from [[hourKeys]]
    * without a job; the hour explode, the broadcast scaling-factor join
    * and the per-partition sort then run over ONE exchange that deals
    * whole hours round-robin onto balanced partitions ([[hourlyKeyed]]),
    * and each TASK streams its hours' files from its sorted partition,
    * summing repeated (hour, var, cell) rows into the plane as it goes,
    * so 8,760 hour files of a year encode concurrently. The driver
    * touches only metadata, and task memory is ONE variable plane.
    * `outDir` must be writable from every executor: a shared filesystem
    * on a multi-node cluster (on a driver-local path the files land on
    * executor disks), any local directory under local[n]. The cache is
    * released even when a task write fails. Returns the file names
    * (sorted). */
  def hourlyExportNc(
      emissions: DataFrame,
      scalingFactors: DataFrame,
      startTs: String,
      hours: Int,
      grid: RegularGrid,
      outDir: String,
      atts: Seq[NcAtt] = Nil): Seq[String] = {
    val input = hourlyInput(emissions).persist()
    try {
      val vars = input.select("var").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      if (vars.isEmpty) Nil
      else {
        val (tss, spine) = hourKeys(emissions.sparkSession, startTs, hours)
        writeHourlyFiles(hourlyKeyed(input, scalingFactors, spine, vars),
          tss, vars, grid, outDir, atts)
        tss.map(hourFileName)
      }
    } finally input.unpersist()
  }

  /** [[hourlyExportNc]] under its former cluster-scale name. */
  def hourlyExportNcDistributed(
      emissions: DataFrame,
      scalingFactors: DataFrame,
      startTs: String,
      hours: Int,
      grid: RegularGrid,
      outDir: String,
      atts: Seq[NcAtt] = Nil): Seq[String] =
    hourlyExportNc(emissions, scalingFactors, startTs, hours, grid, outDir, atts)

  /** `yyyyMMdd'T'HHmmss'Z'.nc` of a `ts_str` (hourly.py:33). */
  private def hourFileName(ts: String): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss'Z'").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC)) + ".nc"

  /** The input rows [[hourlyExportNc]] caches: `(cell_id, category,
    * substance, var, value)`, un-exploded. */
  private[graft] def hourlyInput(emissions: DataFrame): DataFrame =
    emissions.select(
      col("cell_id").cast("long").as("cell_id"), col("category"), col("substance"),
      concat_ws("_", col("substance"), col("category")).as("var"), col("value"))

  /** The hours of [[Temporal.temporalExplode]], evaluated with its own
    * session-zone expressions: the sorted distinct `ts_str`s, and per
    * spine hour `(hour key, hour_of_day)`, where the key is the index of
    * the hour's `ts_str` in that list. Hours whose local `ts_str`
    * coincide (a DST fall-back) share a key, and so one file. The spine
    * is one array projected over a one-row local relation, which
    * Catalyst folds on the driver: no Spark job runs. */
  private[graft] def hourKeys(
      spark: SparkSession,
      startTs: String,
      hours: Int): (IndexedSeq[String], Seq[(Int, Int)]) = {
    val spine = spark.createDataFrame(Seq(Tuple1(0)))
      .select(transform(Temporal.hourSeq(startTs, hours),
        ts => struct(Temporal.tsStr(ts), Temporal.hourOfDay(ts))))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getInt(1))
    val tss = spine.map(_._1).distinct.sorted.toIndexedSeq
    val keyOf = tss.zipWithIndex.toMap
    (tss, spine.map { case (ts, hod) => keyOf(ts) -> hod })
  }

  /** The pre-writer relation of [[hourlyExportNc]]: `(hv, cell_id,
    * value)` with one long key `hv = hk · |vars| + vi` per (hour key,
    * var), where `vi` is the var's index in `vars` (sorted). `input` is
    * [[hourlyInput]]; `spine` is [[hourKeys]]. One exchange deals hour
    * key `hk` to partition `hk mod n`, `n = min(#hour keys, shuffle
    * partitions)`: every partition holds whole hours, and partitions
    * differ by at most one hour. Rows are sorted within partitions on
    * `hv` only and are not summed: the writer sums into its plane. No
    * aggregate may follow the exchange — it would plan a second, hashed
    * one that splits an hour over tasks. Exposed for PlanSpec. */
  private[graft] def hourlyKeyed(
      input: DataFrame,
      scalingFactors: DataFrame,
      spine: Seq[(Int, Int)],
      vars: Seq[String]): DataFrame = {
    val nkeys = spine.map(_._1).distinct.size
    val n = math.min(nkeys,
      input.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    input
      .select(col("cell_id"), col("category"), col("substance"), col("value"),
        (array_position(typedLit(vars), col("var")) - 1).as("vi"))
      .select(col("*"), explode(typedLit(spine)).as("h"))
      .select(col("cell_id"), col("category"), col("substance"), col("value"),
        col("vi"), col("h._1").as("hk"), col("h._2").as("hour_of_day"))
      .join(broadcast(scalingFactors), Seq("category", "substance", "hour_of_day"), "left")
      .select(col("hk"),
        (col("hk").cast("long") * vars.size + col("vi")).as("hv"), col("cell_id"),
        (col("value") * coalesce(col("sf"), lit(1.0))).cast("double").as("value"))
      .repartitionById(n, pmod(col("hk"), lit(n)))
      .drop("hk")
      .sortWithinPartitions("hv")
  }

  /** Task-side writer of [[hourlyExportNc]]: one file per hour key in
    * `keyed` ([[hourlyKeyed]]), holding every variable of `vars`
    * (sorted). A variable's plane is the sum of its rows: the writer,
    * not the plan, folds repeated (hour, var, cell) rows. The coordinate
    * variables are generated in segments, so a task holds one variable
    * plane at a time. */
  private def writeHourlyFiles(
      keyed: DataFrame,
      tss: IndexedSeq[String],
      vars: Seq[String],
      grid: RegularGrid,
      outDir: String,
      atts: Seq[NcAtt]): Unit = {
    val gatts = (if (atts.nonEmpty) atts else ncCfAttrs("graft hourly export"))
    val ncells = grid.ncells.toInt
    val nvars = vars.size.toLong
    val (gxmin, gymin, gdx, gdy, gny) = (grid.xmin, grid.ymin, grid.dx, grid.dy, grid.ny)
    keyed.foreachPartition { (it: java.util.Iterator[org.apache.spark.sql.Row]) =>
      import scala.jdk.CollectionConverters._
      val buf = it.asScala.buffered
      val dims = Seq(NcDim("cell", ncells))
      val coords = Seq(
        WriteVar("lon", Seq("cell"), NetcdfClassicDouble,
          atts = Seq(textAtt("standard_name", "longitude"),
            textAtt("units", "degrees_east")),
          chunks = tabulateChunks(ncells, c => gxmin + (c / gny + 0.5) * gdx)),
        WriteVar("lat", Seq("cell"), NetcdfClassicDouble,
          atts = Seq(textAtt("standard_name", "latitude"),
            textAtt("units", "degrees_north")),
          chunks = tabulateChunks(ncells, c => gymin + (c % gny + 0.5) * gdy)))
      while (buf.hasNext) {
        val hk = buf.head.getLong(0) / nvars
        def plane(hv: Long): Array[Double] = {
          val arr = new Array[Double](ncells)
          while (buf.hasNext && buf.head.getLong(0) == hv) {
            val r = buf.next(); arr(r.getLong(1).toInt) += r.getDouble(2)
          }
          arr
        }
        val dataVars = vars.zipWithIndex.map { case (v, vi) =>
          WriteVar(v, Seq("cell"), NetcdfClassicDouble,
            atts = Seq(textAtt("units", "kg h-1"), textAtt("long_name", v)),
            chunks = () => Iterator(plane(hk * nvars + vi)))
        }
        val ts = tss(hk.toInt)
        writeNcStreamed(s"$outDir/${hourFileName(ts)}", dims,
          gatts :+ textAtt("valid_hour", ts), coords ++ dataVars)
        // defensive: skip any residue of this hour (none when vars and
        // the sorted rows agree)
        while (buf.hasNext && buf.head.getLong(0) / nvars == hk) buf.next()
      }
    }
  }

  /** Hourly export (reference `export_hourly_emissions`,
    * emiproc/exports/hourly.py:22-224): temporal explode then a
    * partitioned write — one directory per hour replaces one file per
    * hour; readers prune partitions by `ts_str`. */
  def hourlyExport(
      emissions: DataFrame,
      scalingFactors: DataFrame,
      startTs: String,
      hours: Int,
      path: String): Unit =
    Temporal.temporalExplode(emissions, scalingFactors, startTs, hours)
      .write.mode("overwrite")
      .partitionBy("ts_str")
      .parquet(path)

  /** Fluxie-style monthly flux export (reference `export_fluxie`,
    * emiproc/exports/fluxie.py:24-199): per-month flux rasters — wide
    * pivot of months with kg/y → kg m⁻² s⁻¹ conversion applied per
    * month's share. Input needs a `month` column (1-12). */
  def monthlyFluxExport(
      emissions: DataFrame,
      grid: RegularGrid,
      path: Option[String] = None): DataFrame = {
    val conv = 1.0 / (grid.cellArea * SecPerYear)
    val wide = emissions
      .groupBy("cell_id", "substance")
      .pivot("month", (1 to 12).map(_.toString))
      .agg(sum(col("value") * conv))
      .na.fill(0.0)
      .withColumn("x", grid.cellXc(col("cell_id")))
      .withColumn("y", grid.cellYc(col("cell_id")))
    path.foreach(p => wide.write.mode("overwrite").parquet(p))
    wide
  }

  /** K6 as real NetCDF — the reference's `export_fluxie`
    * (emiproc/exports/fluxie.py:24-199): ONE FILE PER SUBSTANCE named
    * `<model>_<substance>_<frequency>.nc`, holding `flux_total_prior`
    * over dims (time, latitude, longitude) in kg m⁻² yr⁻¹ (categories
    * summed, value / cell_area — fluxie.py:164-168), the lon/lat center
    * coords with the reference's attributes (:103-127), and — when
    * country fractions are supplied — `country_fraction(country, lat,
    * lon)` plus `country_flux_total_prior(time, country)` =
    * Σ_cells flux × fraction (:128-143, 185-193).
    *
    * `emissions` = `(cell_id, substance, time_idx, value)` with
    * `time_idx` 0-based (months for monthly, one step for yearly);
    * `countryFractions` = `(cell_id, country, fraction)`.
    *
    * Scale: the (substance × time × cell) aggregate is PERSISTED and each
    * (substance, time) plane is gathered on its own ([[planeChunks]]) —
    * ≤ ncell rows per plane, the K1 `rasterExportNc` pattern — never the
    * full aggregate (6.48M cells × 12 months × nsub ≈ 300M+ Rows at
    * EDGAR scale).
    * `country_flux_total_prior` = Σ_cells flux × fraction is a DISTRIBUTED
    * join + sum (nsub × nT × ncountry result rows), not a driver loop over
    * the dense cube. Only the sparse fraction rows (≈ ncells × avg
    * countries-per-cell) are collected, to lay out the file's dense
    * `country_fraction(country, lat, lon)` variable. */
  def fluxieExportNc(
      emissions: DataFrame,
      grid: RegularGrid,
      outDir: String,
      transportModel: String = "icon",
      frequency: String = "monthly",
      countryFractions: Option[DataFrame] = None,
      atts: Seq[NcAtt] = Nil): Seq[String] = {
    val agg = emissions
      .groupBy(
        col("substance"),
        col("time_idx").cast("int").as("time_idx"),
        col("cell_id").cast("long").as("cell_id"))
      .agg(sum("value").as("v"))
      .persist()
    val subs = agg.select("substance").distinct()
      .collect().map(_.getString(0)).sorted
    val nT = agg.agg(max("time_idx")).collect()(0).getInt(0) + 1
    val (nx, ny) = (grid.nx, grid.ny)
    val area = grid.cellArea

    val cfNorm = countryFractions.map(cf => cf.select(
      col("cell_id").cast("long").as("cell_id"),
      col("country"),
      col("fraction").cast("double").as("fraction")).persist())
    val countryNames = cfNorm.map(_.select("country").distinct()
      .collect().map(_.getString(0)).sorted).getOrElse(Array.empty)
    // country totals distributed: Σ_cells (v / area) × fraction per
    // (substance, time, country) — small result, no dense-cube driver loop
    val countryFlux: Map[(String, Int, String), Double] = cfNorm.map { cf =>
      agg.join(cf, "cell_id")
        .groupBy("substance", "time_idx", "country")
        .agg(sum(col("v") / area * col("fraction")).as("cv"))
        .collect()
        .map(r => (r.getAs[String]("substance"), r.getAs[Int]("time_idx"),
          r.getAs[String]("country")) -> r.getAs[Double]("cv")).toMap
    }.getOrElse(Map.empty)
    val countries = cfNorm.map(_.collect())

    def axis(name: String, n: Int, v0: Double, dv: Double, std: String,
        units: String, ax: String): WriteVar =
      WriteVar(name, Seq(name), graft.sources.NetcdfClassic.NcDouble,
        atts = Seq(textAtt("standard_name", std),
          textAtt("long_name", s"$std of grid cell centre"),
          textAtt("units", units), textAtt("axis", ax)),
        doubles = Array.tabulate(n)(i => v0 + (i + 0.5) * dv))

    val written = subs.toIndexedSeq.map { sub =>
      // one grid-bounded plane per (substance, time), GATHERED LAZILY
      // while the file streams to disk — driver memory is one plane,
      // not the nT × ny × nx flux cube (622 MB/substance at EDGAR-
      // monthly), and not the encoded file either (writeNcStreamed).
      def fluxChunks(t: Int): Iterator[Array[Double]] = planeChunks(
        agg.where(col("substance") === sub && col("time_idx") === t)
          .select(flatIdx(nx, ny), col("v") / area), ny * nx)
      val baseDims = Seq(NcDim("time", nT), NcDim("latitude", ny),
        NcDim("longitude", nx))
      val coordVars = Seq(
        axis("longitude", nx, grid.xmin, grid.dx,
          "longitude", "degrees_east", "X"),
        axis("latitude", ny, grid.ymin, grid.dy,
          "latitude", "degrees_north", "Y"),
        WriteVar("time", Seq("time"), graft.sources.NetcdfClassic.NcInt,
          doubles = Array.tabulate(nT)(_.toDouble)))
      val fluxVar = WriteVar("flux_total_prior",
        Seq("time", "latitude", "longitude"),
        graft.sources.NetcdfClassic.NcDouble,
        atts = Seq(textAtt("units", "kg m-2 yr-1")),
        chunks = () => (0 until nT).iterator.flatMap(fluxChunks))
      val countryBlock = countries.toSeq.flatMap { cf =>
        val nC = countryNames.length
        val cIdx = countryNames.zipWithIndex.toMap
        // sparse rows grouped per country once; each country's dense
        // (lat, lon) plane is built only while its chunk streams
        val byCountry = cf.groupBy(_.getAs[String]("country"))
        def fracPlane(c: Int): Array[Double] = {
          val arr = new Array[Double](ny * nx)
          byCountry.getOrElse(countryNames(c), Array.empty).foreach { r =>
            val cid = r.getAs[Long]("cell_id")
            val ix = (cid / ny).toInt; val iy = (cid % ny).toInt
            arr(iy * nx + ix) = r.getAs[Double]("fraction")
          }
          arr
        }
        val cflux = new Array[Double](nT * nC)
        for (t <- 0 until nT; c <- 0 until nC)
          cflux(t * nC + c) =
            countryFlux.getOrElse((sub, t, countryNames(c)), 0.0)
        Seq(
          WriteVar("country", Seq("country", "str_len"),
            graft.sources.NetcdfClassic.NcChar, strings = countryNames.toSeq),
          WriteVar("country_fraction", Seq("country", "latitude", "longitude"),
            graft.sources.NetcdfClassic.NcDouble,
            atts = Seq(
              textAtt("long_name", "fraction of grid cell associated to country"),
              textAtt("units", "1")),
            chunks = () => (0 until nC).iterator.map(fracPlane)),
          WriteVar("country_flux_total_prior", Seq("time", "country"),
            graft.sources.NetcdfClassic.NcDouble,
            atts = Seq(textAtt("units", "kg m-2 yr-1")), doubles = cflux))
      }
      val dims = baseDims ++
        (if (countries.isDefined)
          Seq(NcDim("country", countryNames.length), NcDim("str_len", 32))
        else Nil)
      val gatts = if (atts.nonEmpty) atts
        else ncCfAttrs(s"$transportModel $frequency flux export")
      val fname = s"$sub/${transportModel}_${sub}_$frequency.nc"
      writeNcStreamed(s"$outDir/$fname", dims, gatts,
        coordVars ++ Seq(fluxVar) ++ countryBlock)
      fname
    }
    agg.unpersist()
    cfNorm.foreach(_.unpersist())
    written
  }

  /** WRF-chemi unit path (reference `export_wrf_hourly_emissions`,
    * emiproc/exports/wrf.py:129-240 + molar masses
    * emiproc/utils/constants.py:22): kg/y/cell → mole km⁻² h⁻¹ via a
    * broadcast molar-mass dim: v · (1000/M) / areaKm2 / (365.25·24). */
  def wrfMoleFlux(
      spark: SparkSession,
      emissions: DataFrame,
      molarMasses: Seq[(String, Double)],
      cellAreaKm2: Double): DataFrame = {
    val dim = spark.createDataFrame(molarMasses).toDF("substance", "molar_mass")
    val hoursPerYear = 365.25 * 24.0
    emissions
      .join(broadcast(dim), "substance")
      .select(
        col("cell_id"), col("category"), col("substance"),
        (col("value") * (lit(1000.0) / col("molar_mass")) / cellAreaKm2 / hoursPerYear)
          .as("mole_km2_h"))
  }

  /** [[wrfMoleFlux]] with PER-CELL areas — the reference's
    * `spatial_conversion = 1e-6 / grid.cell_areas` DataArray
    * (wrf.py:178-180) for pseudo-regular WRF grids where every cell has
    * its own projected area. `cellAreasKm2(cell_id, area_km2)` is
    * grid-sized → broadcast join. */
  def wrfMoleFluxPerCell(
      spark: SparkSession,
      emissions: DataFrame,
      molarMasses: Seq[(String, Double)],
      cellAreasKm2: DataFrame): DataFrame = {
    val dim = spark.createDataFrame(molarMasses).toDF("substance", "molar_mass")
    val hoursPerYear = 365.25 * 24.0
    emissions
      .join(broadcast(dim), "substance")
      .join(broadcast(cellAreasKm2.select(col("cell_id"), col("area_km2"))),
        "cell_id")
      .select(
        col("cell_id"), col("category"), col("substance"),
        (col("value") * (lit(1000.0) / col("molar_mass")) / col("area_km2") /
          hoursPerYear).as("mole_km2_h"))
  }

  /** K4 full form — WRF-chemi hourly files (reference
    * `export_wrf_hourly_emissions`, emiproc/exports/wrf.py:129-240):
    * one `wrfchemi_d01_<yyyy-MM-dd_HH:mm:ss>` NetCDF per hour holding a
    * `E_{substance}_{category}` variable per pair over dims
    * (Time, emissions_zdim, south_north, west_east) — the reference's
    * cell→(x, y) unstack (wrf.py:183-196: x = cell div ny repeated,
    * y = cell mod ny tiled) — plus the `Times` char variable
    * (wrf.py:231-233) and the moles/km2/h unit attribute block.
    *
    * The hourly series is base-plane × hour factor (the same
    * `get_temporally_scaled_array` product the reference applies): each
    * (substance, category) MOLE plane is gathered ONCE, grid-bounded
    * ([[planeChunks]]),
    * through [[wrfMoleFlux]]'s distributed unit math; per-hour files then
    * scale the in-memory plane by the (substance, category, hour) factor
    * (missing profile → 1.0) — no per-hour Spark jobs, `hours` × vars
    * driver-side array multiplies. Returns the written file names. */
  def wrfChemiExport(
      spark: SparkSession,
      emissions: DataFrame,
      grid: RegularGrid,
      molarMasses: Seq[(String, Double)],
      scalingFactors: DataFrame, // (category,substance,hour_of_day,sf) or composite (category,substance,kind,position,sf)
      startTs: String,
      hours: Int,
      outDir: String,
      variableName: String = "E_{substance}_{category}"): Seq[String] =
    wrfChemiWrite(spark,
      wrfMoleFlux(spark, emissions, molarMasses, grid.cellArea * 1e-6),
      grid.nx, grid.ny, scalingFactors, startTs, hours, outDir, variableName,
      ncCfAttrs("graft wrfchemi export"))

  /** The same export on a TRUE WRF grid read from a `wrfinput` file:
    * per-cell areas from the reconstructed corner polygons (the
    * reference's `1e-6 / grid.cell_areas` DataArray, wrf.py:178-180) and
    * the wrfinput global attribute block propagated onto every output
    * file (wrf.py:219 `assign_attrs(grid.attributes)`). */
  def wrfChemiExport(
      spark: SparkSession,
      emissions: DataFrame,
      wrf: graft.sources.WrfGrid.WrfGridData,
      molarMasses: Seq[(String, Double)],
      scalingFactors: DataFrame,
      startTs: String,
      hours: Int,
      outDir: String,
      variableName: String): Seq[String] =
    wrfChemiWrite(spark,
      wrfMoleFluxPerCell(spark, emissions, molarMasses,
        wrf.cells.select(col("cell_id"), col("area_km2"))),
      wrf.nx, wrf.ny, scalingFactors, startTs, hours, outDir, variableName,
      wrf.atts.map { case (n, v) => textAtt(n, v) } :+
        textAtt("emiproc", "graft wrfchemi export"))

  private def wrfChemiWrite(
      spark: SparkSession,
      mole: DataFrame,
      nx: Int,
      ny: Int,
      scalingFactors: DataFrame,
      startTs: String,
      hours: Int,
      outDir: String,
      variableName: String,
      gatts: Seq[NcAtt]): Seq[String] = {
    val agg = mole
      .groupBy("cell_id", "category", "substance")
      .agg(sum("mole_km2_h").as("v"))
      .persist()
    val pairs = agg.select("category", "substance").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(p => (p._2, p._1))
    val planes = pairs.map { case (c, s) =>
      (c, s) -> Array.concat(planeChunks(
        agg.where(col("category") === c && col("substance") === s)
          .select(flatIdx(nx, ny), col("v")), ny * nx).toSeq: _*)
    }.toMap
    agg.unpersist()
    // Two accepted scaling-factor schemas (reference
    // get_temporally_scaled_array composes the inventory's FULL temporal
    // profiles, wrf.py:150-176 — an hour-of-day-only key would silently
    // flatten day-of-week/monthly variation over multi-day ranges):
    //  - legacy (category, substance, hour_of_day, sf) — shorthand for
    //    kind='hour_of_day';
    //  - composite (category, substance, kind, position, sf) with kind ∈
    //    Temporal.kindSizes (hour_of_week, hour_of_week_per_month, …);
    //    the hourly factor is the PRODUCT over that pair's kinds at the
    //    hour's position, missing position → 1.0 (the composite-profile
    //    product semantics of Temporal.compositeScalingFactors).
    val sfLong =
      (if (scalingFactors.columns.contains("hour_of_day"))
         scalingFactors.select(col("category"), col("substance"),
           lit("hour_of_day").as("kind"),
           col("hour_of_day").cast("int").as("position"),
           col("sf").cast("double").as("sf"))
       else
         scalingFactors.select(col("category"), col("substance"),
           col("kind"), col("position").cast("int"),
           col("sf").cast("double").as("sf")))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getInt(3)) -> r.getDouble(4))
        .toMap
    val kindsFor: Map[(String, String), Seq[String]] = sfLong.keys
      .groupBy(k => (k._1, k._2))
      .map { case (cs, ks) => cs -> ks.map(_._3).toSeq.distinct.sorted }
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd_HH:mm:ss")
    val t0 = java.time.LocalDateTime.parse(
      startTs, java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val dims = Seq(
      NcDim("Time", 1), NcDim("emissions_zdim", 1),
      NcDim("south_north", ny), NcDim("west_east", nx),
      NcDim("DateStrLen", 19))
    (0 until hours).map { h =>
      val t = t0.plusHours(h.toLong)
      val ts = fmt.format(t)
      val dataVars = pairs.map { case (c, s) =>
        val f = kindsFor.getOrElse((c, s), Nil).map { k =>
          sfLong.getOrElse((c, s, k, graft.profiles.Temporal.kindPosScalar(k, t)), 1.0)
        }.product
        WriteVar(
          variableName.replace("{substance}", s).replace("{category}", c),
          Seq("Time", "emissions_zdim", "south_north", "west_east"),
          NetcdfClassicDouble,
          atts = Seq(textAtt("units", "moles/km2/h"),
            textAtt("substance", s), textAtt("category", c)),
          // the scaled copy materializes one variable at a time while
          // the file streams — the base planes are shared across hours,
          // so per hour only (1 scaled plane + the 8 MB buffer) is live,
          // not every pair's scaled plane plus a whole-file byte array
          chunks = () => Iterator(planes((c, s)).map(_ * f)))
      }
      val timesVar = WriteVar("Times", Seq("Time", "DateStrLen"),
        graft.sources.NetcdfClassic.NcChar, strings = Seq(ts))
      val fname = s"wrfchemi_d01_$ts"
      writeNcStreamed(s"$outDir/$fname",
        dims, gatts :+ textAtt("unit", "moles/km2/h"),
        (timesVar +: dataVars).toSeq)
      fname
    }
  }

  /** Plain text sink (the GRAL-style text writers of reference
    * emiproc/exports/gral.py:65-349 reduced to their Spark-native form):
    * rows rendered with a separator, written as partitioned text. */
  def textExport(df: DataFrame, path: String, sep: String = ","): Unit =
    df.select(concat_ws(sep, df.columns.toIndexedSeq.map(col): _*).as("value"))
      .write.mode("overwrite").text(path)

  /** GeoParquet-style export (reference `export_to_geopackage`,
    * emiproc/exports/geopackage.py:9-60): cell polygons as WKT plus
    * envelope columns (xmin…ymax) so engines without a geometry reader
    * can still prune by bbox. */
  def geoParquetExport(
      spark: SparkSession,
      emissions: DataFrame,
      grid: RegularGrid,
      path: Option[String] = None): DataFrame = {
    val cells = grid.cells(spark)
    val wkt = concat(
      lit("POLYGON(("),
      col("xmin"), lit(" "), col("ymin"), lit(", "),
      col("xmax"), lit(" "), col("ymin"), lit(", "),
      col("xmax"), lit(" "), col("ymax"), lit(", "),
      col("xmin"), lit(" "), col("ymax"), lit(", "),
      col("xmin"), lit(" "), col("ymin"), lit("))"))
    // geometry both ways: WKT for humans/engines without binary geo, WKB
    // (the actual GeoParquet encoding) via the byte-level Wkb codec
    val wkbUdf = udf((x0: Double, y0: Double, x1: Double, y1: Double) =>
      graft.sources.Wkb.encodePolygon(Seq((
        Array(x0, x1, x1, x0, x0), Array(y0, y0, y1, y1, y0)))))
    val out = emissions
      .join(cells, "cell_id")
      .withColumn("geometry_wkt", wkt)
      .withColumn("geometry",
        wkbUdf(col("xmin"), col("ymin"), col("xmax"), col("ymax")))
    path.foreach(p => out.write.mode("overwrite").parquet(p))
    out
  }
}
