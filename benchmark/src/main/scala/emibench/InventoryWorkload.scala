package emibench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.RegularGrid
import graft.ops.{Grouping, Regrid, Speciation}
import graft.profiles.VerticalProfiles
import graft.sinks.{Exports, IconExport, NetcdfWriter}
import graft.sinks.NetcdfWriter.{WriteVar, textAtt}
import graft.sources.GlobalRasters
import graft.sources.NetcdfClassic.{NcDim, NcDouble, NcFloat}

/** `inventory`: the emiproc job on one seeded EDGAR-layout directory —
  * read, group categories, crop, remap to a coarser grid, speciate NOx,
  * resample and write vertical profiles, and the hourly NetCDF export.
  * One round is one whole pipeline iteration. */
final class InventoryWorkload(spark: SparkSession, seed: Long) extends Workload {
  import InventoryWorkload._

  private var dir = ""
  private var iter = 0
  private var sourceRows = 0L
  private var inputBytes = 0L
  // analytic totals of the cropped inventory per (group, substance)
  private var cropTotals = Map.empty[(String, String), Double]
  private var lastOut = ""

  def setup(d: String): Unit = {
    dir = d
    val ncDir = s"$d/edgar"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ncDir))
    val r = new SplittableRandom(seed)
    val totals = scala.collection.mutable.Map.empty[(String, String), Double]
    var rows = 0L
    val conv = Array.tabulate(Src.ny)(cellConv)
    val cropW = cropWeights
    for (sub <- Substances; cat <- Sectors) {
      val flux = new Array[Double](Src.ny * Src.nx)
      // Neumaier-compensated sum: the reference total is exact to ~1 ulp
      var acc = 0.0
      var comp = 0.0
      var iy = 0
      while (iy < Src.ny) {
        var ix = 0
        while (ix < Src.nx) {
          // sparse emitters with a heavy tail: 15% empty cells, the rest
          // k * 2^-40 kg m-2 s-1 with k up to 2^16 (exact in float)
          val v =
            if (r.nextInt(100) < 15) 0.0
            else math.floor(math.pow(2.0, 16 * r.nextDouble())) * math.pow(2.0, -40)
          flux(iy * Src.nx + ix) = v
          if (v != 0.0) {
            rows += 1
            val w = cropW(ix)._1 * cropW(iy)._2
            if (w > 0) {
              val x = v * conv(iy) * graft.sources.GfasLoader.SecPerYear * w
              val t = acc + x
              comp += (if (math.abs(acc) >= math.abs(x)) (acc - t) + x else (x - t) + acc)
              acc = t
            }
          }
          ix += 1
        }
        iy += 1
      }
      val key = (GroupOf(cat), sub)
      totals(key) = totals.getOrElse(key, 0.0) + (acc + comp)
      val bytes = NetcdfWriter.write(
        dims = Seq(NcDim("latitude", Src.ny), NcDim("longitude", Src.nx)),
        gatts = Nil,
        vars = Seq(
          WriteVar("latitude", Seq("latitude"), NcDouble,
            Seq(textAtt("units", "degrees_north")),
            Array.tabulate(Src.ny)(i => Src.ymin + (i + 0.5) * Src.dy)),
          WriteVar("longitude", Seq("longitude"), NcDouble,
            Seq(textAtt("units", "degrees_east")),
            Array.tabulate(Src.nx)(i => Src.xmin + (i + 0.5) * Src.dx)),
          WriteVar("flux", Seq("latitude", "longitude"), NcFloat,
            Seq(textAtt("long_name", "emission flux"), textAtt("units", "kg m-2 s-1")),
            flux)))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$ncDir/${sub}_$cat.nc"), bytes)
    }
    sourceRows = rows
    inputBytes = Gen.bytesUnder(ncDir)
    cropTotals = totals.toMap
    iter = 0
  }

  /** One pipeline call; in the traced run its result is materialized
    * (cached and counted) before the next call reads it. */
  private def step(t: Trace, layer: String, name: String)(df: => DataFrame): DataFrame =
    t.call(layer, name) {
      val out = df
      if (t.enabled) { out.persist(StorageLevel.MEMORY_AND_DISK); out.count() }
      out
    }

  def round(t: Trace, rec: Recorder): Unit = rec.op("pipeline") {
    iter += 1
    val out = s"$dir/out-$iter"
    val raw = step(t, "sources", "GlobalRasters.readEdgarDirV2") {
      t.count("input_bytes_files", inputBytes)
      GlobalRasters.readEdgarDirV2(spark, s"$dir/edgar", Src)
    }
    val grouped = step(t, "ops", "Grouping.groupCategories")(
      Grouping.groupCategories(spark, raw, Groups))
    val cropped = step(t, "ops", "Regrid.cropBox")(
      Regrid.cropBox(grouped, Src, Box._1, Box._2, Box._3, Box._4))
    val remapped = step(t, "ops", "Regrid.remapInventory")(
      Regrid.remapInventory(spark, cropped, Src, Dst))
    val speciated = step(t, "ops", "Speciation.speciateNox")(
      Speciation.speciateNox(spark, remapped))
    t.call("profiles", "VerticalProfiles.resample") {
      val res = VerticalProfiles.resample(spark, verticalProfiles, SrcLevels, DstLevels)
        .withColumnRenamed("profile_id", "category")
      IconExport.writeVerticalNc(res, DstLevels.tail, s"$out/vertical")
    }
    t.call("sinks", "Exports.hourlyExportNcDistributed") {
      Exports.hourlyExportNcDistributed(speciated, scalingFactors, StartTs, Hours,
        Dst, s"$out/hourly")
      if (t.enabled) t.count("bytes_written", Gen.bytesUnder(s"$out/hourly"))
    }
    if (t.enabled) Seq(raw, grouped, cropped, remapped, speciated).foreach(_.unpersist())
    // keep only the newest outputs on disk (the export check reads them)
    if (lastOut.nonEmpty) Gen.deleteTree(lastOut)
    lastOut = out
  }

  private lazy val verticalProfiles: DataFrame = {
    val rows = for ((g, gi) <- GroupNames.zipWithIndex; (l, li) <- SrcLevels.tail.zipWithIndex)
      yield (g, li, VerticalShares(gi)(li))
    spark.createDataFrame(rows).toDF("profile_id", "level", "r")
  }

  private lazy val scalingFactors: DataFrame =
    spark.createDataFrame(sfRows).toDF("category", "substance", "hour_of_day", "sf")

  def itemsPerRound: Long = sourceRows

  def checks(): Seq[Check] = {
    // the same calls on the same files, materialized outside the loop
    val raw = GlobalRasters.readEdgarDirV2(spark, s"$dir/edgar", Src)
    val cropped = Regrid.cropBox(Grouping.groupCategories(spark, raw, Groups),
      Src, Box._1, Box._2, Box._3, Box._4)
    val remapped = Regrid.remapInventory(spark, cropped, Src, Dst)
    def totals(df: DataFrame): Map[(String, String), Double] =
      df.groupBy("category", "substance").agg(sum("value")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= Tol * math.max(math.abs(a), math.abs(b))
    def cmp(name: String, got: Map[(String, String), Double],
        want: Map[(String, String), Double]): Check = {
      val bad = (got.keySet ++ want.keySet).filterNot(k =>
        got.contains(k) && want.contains(k) && close(got(k), want(k)))
      Check(name, bad.isEmpty,
        s"${want.size} (group, substance) totals, ${bad.size} off by more than $Tol relative")
    }
    val expectedCrop = cropTotals.filter(_._2 != 0.0)
    // hourly files: each variable's sum equals its speciated total
    // times that hour's scaling factor
    val speciatedTotals = expectedCrop.toSeq.flatMap { case ((g, s), v) =>
      if (s == "NOx") Seq((g, "NO") -> v * (1.0 - 0.18) * 30.0 / 46.0, (g, "NO2") -> v * 0.18)
      else Seq((g, s) -> v)
    }.toMap
    val sf = sfRows.map { case (c, s, h, f) => (c, s, h) -> f }.toMap
    val hourFiles = Option(new java.io.File(s"$lastOut/hourly").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.endsWith(".nc")).sortBy(_.getName)
    var compared = 0
    var bad = 0
    hourFiles.zipWithIndex.foreach { case (f, h) =>
      val nc = graft.sources.NcAdapter.open(java.nio.file.Files.readAllBytes(f.toPath))
      speciatedTotals.foreach { case ((g, s), v) =>
        val name = s"${s}_$g"
        val got = if (nc.hasVar(name)) nc.doubles(name).sum else Double.NaN
        val want = v * sf.getOrElse((g, s, h % 24), 1.0)
        compared += 1
        if (!close(got, want)) bad += 1
      }
    }
    Seq(
      cmp("crop_totals_match_generator", totals(cropped), expectedCrop),
      cmp("remap_totals_match_generator", totals(remapped), expectedCrop),
      Check("hourly_export_sums_match", hourFiles.length == Hours && bad == 0 && compared > 0,
        s"${hourFiles.length} hour files, $compared variable sums, $bad off by more than $Tol relative"))
  }

  def figures(rec: Recorder): Seq[Figure] = {
    val p50 = Stats.median(rec.ms("pipeline")) / 1000.0
    Seq(
      Figure("pipeline_p50_s", p50, "s"),
      Figure("pipeline_rows_per_s", sourceRows / p50, "1/s"),
      Figure("source_rows", sourceRows.toDouble, "count"),
      Figure("hourly_rows", hourlyRows.toDouble, "count"))
  }

  /** Rows of the exploded hourly intermediate: speciated rows × hours. */
  private def hourlyRows: Long =
    Dst.ncells * GroupNames.length * (Substances.length + 1) * Hours

  def inputs: Seq[(String, String)] = Seq(
    "source_grid" -> s"${Src.nx} x ${Src.ny} cells of ${Src.dx} deg",
    "files" -> s"${Substances.length} substances x ${Sectors.length} sectors",
    "source_rows" -> sourceRows.toString,
    "netcdf_bytes" -> inputBytes.toString,
    "model_grid" -> s"${Dst.nx} x ${Dst.ny} cells of ${Dst.dx} deg",
    "hours" -> Hours.toString,
    "hourly_rows" -> hourlyRows.toString)
}

object InventoryWorkload {
  // dyadic grids: every crop and remap weight is exact in binary
  val Src = RegularGrid(256, 160, -8.0, 28.0, 0.125, 0.125)
  val Dst = RegularGrid(48, 32, 0.0, 32.0, 0.5, 0.5)
  // crop box edges cut source cells in half (weight exactly 0.5)
  val Box = (0.0625, 32.0625, 23.9375, 47.9375)
  val Substances = Seq("CO2", "CH4", "NOx", "SO2")
  val Sectors = Seq("ENE", "REF", "IND", "RCO", "TRO", "SHP", "AGS", "SWD")
  val Groups: Map[String, Seq[String]] = Map(
    "energy" -> Seq("ENE", "REF"), "industry" -> Seq("IND"),
    "residential" -> Seq("RCO"), "transport" -> Seq("TRO", "SHP"),
    "other" -> Seq("AGS", "SWD"))
  val GroupNames: Seq[String] = Groups.keys.toSeq.sorted
  val GroupOf: Map[String, String] =
    Groups.toSeq.flatMap { case (g, cs) => cs.map(_ -> g) }.toMap
  val StartTs = "2024-01-01 00:00:00"
  val Hours = 24
  val Tol = 1e-9
  val SrcLevels = Seq(0.0, 20.0, 92.0, 184.0, 324.0, 522.0, 781.0, 1106.0)
  val DstLevels = Seq(0.0, 50.0, 100.0, 200.0, 400.0, 800.0, 1200.0)
  // per-group vertical shares over the 7 source levels (sum 1, dyadic)
  val VerticalShares: Seq[Seq[Double]] = Seq(
    Seq(0.0, 0.0, 0.25, 0.25, 0.25, 0.125, 0.125),
    Seq(0.0, 0.125, 0.25, 0.25, 0.25, 0.125, 0.0),
    Seq(0.0, 0.0, 0.0, 0.125, 0.375, 0.25, 0.25),
    Seq(0.5, 0.25, 0.125, 0.125, 0.0, 0.0, 0.0),
    Seq(0.75, 0.25, 0.0, 0.0, 0.0, 0.0, 0.0))

  /** Diurnal scaling factors (mean 1 over a day, dyadic) for every
    * speciated substance except SO2, which falls back to 1.0. */
  val sfRows: Seq[(String, String, Int, Double)] =
    for (g <- Groups.keys.toSeq.sorted; s <- Seq("CO2", "CH4", "NO", "NO2"); h <- 0 until 24)
      yield (g, s, h, 1.0 + (if (h >= 6 && h < 18) 0.25 else -0.25) * (if (g == "energy") 0.5 else 1.0))

  /** kg m-2 s-1 → kg/y/cell factor without SEC_PER_YR, by latitude row:
    * the library's spherical cell area. */
  def cellConv(iy: Int): Double = {
    val latC = Src.ymin + (iy + 0.5) * Src.dy
    graft.sources.GfasLoader.REarth * graft.sources.GfasLoader.REarth *
      math.toRadians(Src.dx) *
      math.abs(math.sin(math.toRadians(latC + Src.dy / 2)) -
        math.sin(math.toRadians(latC - Src.dy / 2)))
  }

  /** Fraction of each source column (x) and row (y) inside [[Box]]. */
  def cropWeights: Int => (Double, Double) = {
    def frac(lo: Double, d: Double, i: Int, blo: Double, bhi: Double): Double = {
      val a = lo + i * d
      math.max(0.0, math.min(a + d, bhi) - math.max(a, blo)) / d
    }
    i => (
      if (i < Src.nx) frac(Src.xmin, Src.dx, i, Box._1, Box._3) else 0.0,
      if (i < Src.ny) frac(Src.ymin, Src.dy, i, Box._2, Box._4) else 0.0)
  }
}
