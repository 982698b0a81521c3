package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.RegularGrid

/** Directory-level global raster inventories over the magic-dispatching
  * parsers ([[NetcdfRaster.parseRaster]] / [[NcAdapter]] — classic
  * CDF-1/2 and NetCDF-4/HDF5 containers both load):
  *
  *  - S2 EDGAR-style: one classic NetCDF flux raster per
  *    (substance, category), named `<SUB>_<CAT>.nc`
  *    (emiproc/inventories/edgar/edgarv8.py:140-237 walks such a
  *    directory after `download_edgar_files` fetches it); flux
  *    kg m⁻² s⁻¹ → kg/y/cell via spherical cell areas × SEC_PER_YR.
  *  - S9 Saunois/WetCHARTs-style: one file per category, a monthly flux
  *    variable `(time=12[, lev=1], lat, lon)` in g m⁻² day⁻¹; annual
  *    value = Σ_m flux_m × days_m × 10⁻³ × area (saunois.py:73-97), and
  *    the monthly series doubles as the month-of-year profile source
  *    (`:99-103` — normalize with `Profiles.normalize`).
  */
object GlobalRasters {

  private val DaysPerMonth =
    Array(31.0, 28.0, 31.0, 30.0, 31.0, 30.0, 31.0, 31.0, 30.0, 31.0, 30.0, 31.0)

  /** Read every `<SUB>_<CAT>.nc` in a directory into one long inventory
    * `(cell_id, category, substance, value)` in kg/y/cell. All files
    * must share the grid (validated). */
  def readEdgarDir(spark: SparkSession, dir: String): (RegularGrid, DataFrame) = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".nc")).sortBy(_.getName)
    require(files.nonEmpty, s"no .nc files in $dir")
    var grid: Option[RegularGrid] = None
    val parts = files.toSeq.map { file =>
      val Array(sub, cat) = file.getName.stripSuffix(".nc").split("_", 2)
      val (g, df) = NetcdfRaster.read(spark, file.getPath)
      grid.foreach(g0 => require(g0 == g,
        s"${file.getName}: grid $g differs from $g0"))
      grid = Some(g)
      val conv = udfFreeAreaCol(g)
      df.where(col("flux") =!= 0.0) // long format keeps only emitting cells
        .select(
          (col("lon_idx").cast("long") * g.ny + col("lat_idx")).as("cell_id"),
          lit(cat).as("category"), lit(sub).as("substance"),
          (col("flux") * conv * GfasLoader.SecPerYear).as("value"))
    }
    (grid.get, parts.reduce(_ unionByName _))
  }

  /** Distributed EDGAR directory read — the 100 TB shape for many-file
    * ingestion (SCALE.md §ingestion): `spark.read.format("binaryFile")`
    * ships each file's bytes to an executor task, and the pure
    * [[NetcdfRaster.parseRaster]] + scalar spherical-area math run INSIDE
    * `mapPartitions` — no driver loop, no per-file collect. With
    * `onePartitionPerFile` (default), files are range-partitioned by path
    * into exactly one task each (binaryFile's default bin-packing would
    * batch small files; EDGAR fleets are hundreds of grid-sized rasters,
    * edgarv8.py:140-237, where per-file tasks are the right granularity).
    *
    * Output is row-identical to [[readEdgarDir]] (same formula, same FP
    * order); the grid is validated against `expected` inside each task. */
  def readEdgarDirDistributed(
      spark: SparkSession,
      dir: String,
      expected: RegularGrid,
      onePartitionPerFile: Boolean = true): DataFrame = {
    import spark.implicits._
    val binary = spark.read.format("binaryFile").load(s"$dir/*.nc")
      .select(col("path"), col("content"))
    val nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".nc"))
    require(nFiles > 0, s"no .nc files in $dir")
    val perFile =
      if (onePartitionPerFile) binary.repartitionByRange(nFiles, col("path"))
      else binary
    val secPerYear = GfasLoader.SecPerYear
    perFile.as[(String, Array[Byte])].mapPartitions { it =>
      it.flatMap { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val Array(sub, cat) = name.stripSuffix(".nc").split("_", 2)
        val (g, rows) = NetcdfRaster.parseRaster(bytes)
        require(g == expected, s"$name: grid $g differs from $expected")
        rows.iterator
          .filter { case (_, _, _, flux) => flux != 0.0 }
          .map { case (j, i, _, flux) =>
            val latC = g.ymin + (i + 0.5) * g.dy
            val area = GfasLoader.sphericalCellArea(
              latC - g.dy / 2, latC + g.dy / 2, g.dx)
            (j.toLong * g.ny + i, cat, sub, flux * area * secPerYear)
          }
      }
    }.toDF("cell_id", "category", "substance", "value")
  }

  /** EDGAR directory through the `netcdf` DataSource V2
    * ([[graft.sources.v2.NetcdfSource]]) — row-identical to
    * [[readEdgarDirDistributed]] (same area formula in the same Column
    * FP order; gate-pinned), but catalog-idiomatic: `spark.read
    * .format("netcdf").load(dir)` plans one task per file, and
    * variable/file/bbox predicates a caller adds on top PRUNE AT SCAN
    * (unselected variables are never decoded — the DSv2 upgrade of
    * SURVEY §4 item 4 over this object's binaryFile form). The grid is
    * validated against `expected` per ROW via `assert_true` inside a
    * filter, so a mismatched file fails the job instead of silently
    * dropping (the per-task `require` of the binaryFile form). */
  def readEdgarDirV2(
      spark: SparkSession,
      dir: String,
      expected: RegularGrid,
      files: Seq[String] = Nil): DataFrame = {
    val g = expected
    val gridOk = col("nx") === g.nx && col("ny") === g.ny &&
      col("xmin") === g.xmin && col("ymin") === g.ymin &&
      col("dx") === g.dx && col("dy") === g.dy
    val conv = udfFreeAreaCol(g)
    val base = spark.read.format("netcdf").load(dir)
    // a non-empty `files` becomes an In("file", ...) the scan handles
    // at planning — whole unnamed files never get a partition
    val pruned =
      if (files.isEmpty) base else base.where(col("file").isin(files: _*))
    // `{substance}_{category}.nc`, cut with string functions (no regex
    // per row): a name without `_` has a null category
    val file = col("file")
    val us = instr(file, "_")
    val rest = when(us > 0, file.substr(us + 1, length(file)))
    pruned
      .where(assert_true(gridOk,
        concat(col("file"), lit(": grid differs from "), lit(g.toString))).isNull)
      .where(col("flux") =!= 0.0)
      .select(
        (col("lon_idx").cast("long") * g.ny + col("lat_idx")).as("cell_id"),
        when(rest.endsWith(".nc"), rest.substr(lit(1), length(rest) - 3))
          .otherwise(rest).as("category"),
        substring_index(file, "_", 1).as("substance"),
        (col("flux") * conv * GfasLoader.SecPerYear).as("value"))
  }

  /** Spherical cell area as a Column of the lat index — the reference's
    * lat-dependent `cell_areas` (emiproc/grids.py:791-806). */
  private def udfFreeAreaCol(g: RegularGrid) = {
    // area(lat_idx) = R^2 * dlon_rad * (sin(lat+dy/2) - sin(lat-dy/2));
    // expressed as pure Column math (radians/sin are codegen'd builtins)
    val latC = lit(g.ymin) + (col("lat_idx") + 0.5) * g.dy
    lit(GfasLoader.REarth * GfasLoader.REarth) *
      lit(math.toRadians(g.dx)) *
      abs(sin(radians(latC + g.dy / 2)) - sin(radians(latC - g.dy / 2)))
  }

  final case class MonthlyInventory(
      grid: RegularGrid,
      annual: DataFrame, // (cell_id, category, substance, value) kg/y
      monthly: DataFrame) // (category, substance, cell_id, pos, flux|ratio)

  /** Coordinate axis under either its long or short CF name — the real
    * Saunois/WetCHARTs downloads use `lat`/`lon` (saunois.py:63-64,
    * wetcharts.py:57-58), other raster products spell them out. */
  private def axis(f: NcAdapter, names: String*): Array[Double] =
    names.find(f.hasVar).map(f.doubles)
      .getOrElse(throw new IllegalArgumentException(
        s"no coordinate variable named any of ${names.mkString("/")}"))

  /** Read one Saunois/WetCHARTs-style monthly flux file. */
  def readMonthly(
      spark: SparkSession,
      path: String,
      category: String,
      substance: String = "CH4",
      fluxVar: String = "flux"): MonthlyInventory = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // container-independent: classic CDF-1/2 or NetCDF-4/HDF5 dispatch
    val f = NcAdapter.open(bytes)
    val lats = axis(f, "latitude", "lat")
    val lons = axis(f, "longitude", "lon")
    val (ymin, dy) = NetcdfRaster.regularAxis(lats)
    val (xmin, dx) = NetcdfRaster.regularAxis(lons)
    val grid = RegularGrid(lons.length, lats.length, xmin, ymin, dx, dy)

    val shape = f.shape(fluxVar)
    // (time, lat, lon) or (time, lev=1, lat, lon)
    val core = if (shape.length == 4) {
      require(shape(1) == 1, s"$fluxVar: lev dimension must be 1 (saunois.py:50)")
      Seq(shape(0), shape(2), shape(3))
    } else shape
    require(core == Seq(12, lats.length, lons.length),
      s"$fluxVar: expected (12, lat, lon), got $shape")
    val data = f.doubles(fluxVar)
    val perMonth = lats.length * lons.length

    val annualRows = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Double)]
    val monthlyRows = scala.collection.mutable.ListBuffer.empty[(String, String, Long, Int, Double)]
    for (i <- lats.indices; j <- lons.indices) {
      val cellId = j.toLong * lats.length + i
      var total = 0.0
      var m = 0
      while (m < 12) {
        val flux = data(m * perMonth + i * lons.length + j)
        if (!flux.isNaN && flux != 0.0) {
          total += flux * DaysPerMonth(m)
          monthlyRows += ((category, substance, cellId, m, flux))
        }
        m += 1
      }
      if (total != 0.0) {
        val area = GfasLoader.sphericalCellArea(
          lats(i) - dy / 2, lats(i) + dy / 2, dx)
        annualRows += ((cellId, category, substance, total * 1e-3 * area))
      }
    }
    MonthlyInventory(
      grid,
      spark.createDataFrame(annualRows.toSeq)
        .toDF("cell_id", "category", "substance", "value"),
      spark.createDataFrame(monthlyRows.toSeq)
        .toDF("category", "substance", "cell_id", "pos", "flux"))
  }

  /** S9 Saunois multi-file option (reference `SaunoisInventory`,
    * emiproc/inventories/saunois.py:24-56): one NetCDF per CATEGORY —
    * each file's stem names the category (saunois.py:40-45's
    * `rename(file.stem)` + `expand_dims(category=...)`) — concatenated
    * into one inventory on a shared grid. Per-file semantics (g CH₄
    * m⁻² d⁻¹ monthly flux → kg/y/cell via day-weighted month sum ×
    * 10⁻³ × spherical area, saunois.py:70-87) are [[readMonthly]]'s. */
  def readSaunois(
      spark: SparkSession,
      paths: Seq[String],
      substance: String = "CH4"): MonthlyInventory = {
    require(paths.nonEmpty, "no saunois files")
    val parts = paths.map { p =>
      val category = new java.io.File(p).getName.stripSuffix(".nc")
      readMonthly(spark, p, category, substance)
    }
    val grid = parts.head.grid
    parts.zip(paths).foreach { case (m, p) =>
      require(m.grid == grid, s"$p: grid ${m.grid} differs from $grid")
    }
    MonthlyInventory(
      grid,
      parts.map(_.annual).reduce(_ unionByName _),
      parts.map(_.monthly).reduce(_ unionByName _))
  }

  /** S9 WetCHARTs option (reference `WetCHARTs`,
    * emiproc/inventories/wetcharts.py:35-106): the
    * `wetland_CH4_emissions(time=12, model, lat, lon)` cube in
    * mg m⁻² d⁻¹. `model = Some(n)` selects that model COORDINATE VALUE
    * (xarray `.sel`, wetcharts.py:47-52 — raises when absent);
    * `model = None` takes the NaN-skipping mean over the model axis
    * (`.mean(dim="model")`, :45-46). NaNs then fill to 0
    * (:66-73), annual value = mean over the 12 months ×
    * area × 10⁻⁶ kg/mg × 365.25 d/y (:89-90 with
    * DAY_PER_YR = 365.25, utils/constants.py:2), and the monthly series
    * normalizes to month-of-year RATIO profiles (:84-88) — the returned
    * `monthly` column is `ratio`, not raw flux. Cells whose filled
    * 12-month sum is 0 carry neither value nor profile. */
  def readWetCharts(
      spark: SparkSession,
      path: String,
      model: Option[Int] = None,
      category: String = "wetcharts",
      substance: String = "CH4"): MonthlyInventory = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = NcAdapter.open(bytes)
    val lats = axis(f, "lat", "latitude")
    val lons = axis(f, "lon", "longitude")
    val (ymin, dy) = NetcdfRaster.regularAxis(lats)
    val (xmin, dx) = NetcdfRaster.regularAxis(lons)
    val grid = RegularGrid(lons.length, lats.length, xmin, ymin, dx, dy)
    val models = f.doubles("model").map(_.toInt).toSeq
    val v = "wetland_CH4_emissions"
    val shape = f.shape(v)
    require(shape == Seq(12, models.length, lats.length, lons.length),
      s"$v: expected (12, model, lat, lon), got $shape (wetcharts.py:62)")
    val data = f.doubles(v)
    val nM = models.length; val nLat = lats.length; val nLon = lons.length
    def raw(t: Int, mo: Int, i: Int, j: Int): Double =
      data(((t * nM + mo) * nLat + i) * nLon + j)
    val sel: (Int, Int, Int) => Double = model match {
      case Some(m) =>
        val k = models.indexOf(m)
        require(k >= 0, s"Model $m not found in the dataset. " +
          s"Available models: $models (wetcharts.py:48-52)")
        (t, i, j) => raw(t, k, i, j)
      case None => (t, i, j) => {
        // xarray .mean(dim="model") skips NaN entries per element
        var s = 0.0; var n = 0; var mo = 0
        while (mo < nM) {
          val x = raw(t, mo, i, j)
          if (!x.isNaN) { s += x; n += 1 }
          mo += 1
        }
        if (n == 0) Double.NaN else s / n
      }
    }
    val annualRows =
      scala.collection.mutable.ListBuffer.empty[(Long, String, String, Double)]
    val ratioRows =
      scala.collection.mutable.ListBuffer.empty[(String, String, Long, Int, Double)]
    for (i <- lats.indices; j <- lons.indices) {
      val cellId = j.toLong * nLat + i
      val flux = Array.tabulate(12) { t =>
        val x = sel(t, i, j); if (x.isNaN) 0.0 else x // fillna(0.0)
      }
      val s = flux.sum
      if (s != 0.0) {
        val area = GfasLoader.sphericalCellArea(
          lats(i) - dy / 2, lats(i) + dy / 2, dx)
        annualRows += ((cellId, category, substance,
          (s / 12.0) * area * 1e-6 * 365.25))
        var t = 0
        while (t < 12) {
          ratioRows += ((category, substance, cellId, t, flux(t) / s)); t += 1
        }
      }
    }
    MonthlyInventory(
      grid,
      spark.createDataFrame(annualRows.toSeq)
        .toDF("cell_id", "category", "substance", "value"),
      spark.createDataFrame(ratioRows.toSeq)
        .toDF("category", "substance", "cell_id", "pos", "ratio"))
  }
}
