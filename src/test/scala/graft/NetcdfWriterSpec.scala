package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.RegularGrid
import graft.sources.NetcdfClassic
import graft.sources.NetcdfClassic.{NcAtt, NcDim}
import graft.sinks.{Exports, IconExport, NetcdfWriter}
import graft.sinks.NetcdfWriter.{WriteVar, textAtt, numAtt}

/** Byte-level tests of the NetCDF classic WRITER: every file it emits must
  * parse back through the independent reader [[NetcdfClassic]] with
  * identical dims/atts/values, and the header bytes must match the
  * documented classic layout. */
class NetcdfWriterSpec extends SparkSpec {

  import NetcdfClassic.{NcByte, NcChar, NcShort, NcInt, NcFloat, NcDouble}

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("ncw").toString

  test("round-trip: dims, global+var atts, all numeric types, char, record var") {
    val dims = Seq(NcDim("time", 0), NcDim("y", 2), NcDim("x", 3), NcDim("s", 4))
    val gatts = Seq(textAtt("title", "t"), numAtt("vals", Seq(1.5, -2.0)),
      numAtt("count", Seq(7), NcInt))
    val flux = Array(1.0, 2.5, -3.0, 0.0, 4.25, 1e6)
    val shorts = Array(1.0, -2.0, 3.0, -4.0, 5.0, -6.0)
    val bytes7 = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0) // y*x = 6 elems
    val recs = Array( // time × y = 2 recs × 2
      10.0, 11.0, 20.0, 21.0)
    val vars = Seq(
      WriteVar("flux", Seq("y", "x"), NcDouble,
        atts = Seq(textAtt("units", "kg"), numAtt("scale_check", Seq(1.0))),
        doubles = flux),
      WriteVar("svar", Seq("y", "x"), NcShort, doubles = shorts),
      WriteVar("bvar", Seq("y", "x"), NcByte, doubles = bytes7),
      WriteVar("fvar", Seq("y", "x"), NcFloat, doubles = flux),
      WriteVar("ivar", Seq("x"), NcInt, doubles = Array(7.0, -8.0, 9.0)),
      WriteVar("names", Seq("y", "s"), NcChar, strings = Seq("ab", "cdef")),
      WriteVar("rec", Seq("time", "y"), NcDouble, doubles = recs))
    val bytes = NetcdfWriter.write(dims, gatts, vars, numrecs = 2)

    // header magic
    assert(bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F' && bytes(3) == 2)
    val f = NetcdfClassic.readHeader(bytes)
    assert(f.numrecs == 2)
    assert(f.dims == dims)
    assert(f.gatts.map(_.name) == Seq("title", "vals", "count"))
    assert(f.gatts.head.text == "t")
    assert(f.gatts(1).nums == Seq(1.5, -2.0))
    assert(f.gatts(2).nums == Seq(7.0) && f.gatts(2).ncType == NcInt)
    assert(f.vars.map(_.name) == vars.map(_.name))
    assert(f.variable("flux").atts.map(_.name) == Seq("units", "scale_check"))
    assert(NetcdfClassic.readVarDoubles(bytes, f, "flux").toSeq == flux.toSeq)
    assert(NetcdfClassic.readVarDoubles(bytes, f, "svar").toSeq == shorts.toSeq)
    assert(NetcdfClassic.readVarDoubles(bytes, f, "bvar").toSeq == bytes7.toSeq)
    assert(NetcdfClassic.readVarDoubles(bytes, f, "fvar").toSeq == flux.toSeq)
    assert(NetcdfClassic.readVarDoubles(bytes, f, "ivar").toSeq == Seq(7.0, -8.0, 9.0))
    assert(NetcdfClassic.readVarStrings(bytes, f, "names") == Seq("ab", "cdef"))
    assert(NetcdfClassic.readVarDoubles(bytes, f, "rec").toSeq == recs.toSeq)
  }

  test("chunked variables stream the exact bytes of monolithic ones") {
    val dims = Seq(NcDim("t", 3), NcDim("y", 2), NcDim("x", 4))
    val cube = Array.tabulate(3 * 2 * 4)(i => i * 1.25 - 7.0)
    val mono = NetcdfWriter.write(dims, Seq(textAtt("title", "m")), Seq(
      WriteVar("y", Seq("y"), NcDouble, doubles = Array(0.5, 1.5)),
      WriteVar("flux", Seq("t", "y", "x"), NcDouble,
        atts = Seq(textAtt("units", "1")), doubles = cube)))
    var pulls = 0
    val chunked = NetcdfWriter.write(dims, Seq(textAtt("title", "m")), Seq(
      WriteVar("y", Seq("y"), NcDouble, doubles = Array(0.5, 1.5)),
      WriteVar("flux", Seq("t", "y", "x"), NcDouble,
        atts = Seq(textAtt("units", "1")),
        chunks = () => (0 until 3).iterator.map { t =>
          pulls += 1; cube.slice(t * 8, t * 8 + 8) // one plane per pull
        })))
    assert(java.util.Arrays.equals(mono, chunked))
    assert(pulls == 3) // planes were pulled lazily, one at a time
    // element-count mismatch is refused, not silently padded
    val err = intercept[IllegalArgumentException] {
      NetcdfWriter.write(dims, Nil, Seq(
        WriteVar("flux", Seq("t", "y", "x"), NcDouble,
          chunks = () => Iterator(Array(1.0, 2.0)))))
    }
    assert(err.getMessage.contains("chunked data has 2 elements"))
  }

  test("CDF-1 (32-bit offsets) round-trips too") {
    val dims = Seq(NcDim("x", 3))
    val vars = Seq(WriteVar("v", Seq("x"), NcDouble, doubles = Array(1.0, 2.0, 3.0)))
    val bytes = NetcdfWriter.write(dims, Nil, vars, version = 1)
    assert(bytes(3) == 1)
    val f = NetcdfClassic.readHeader(bytes)
    assert(f.version == 1)
    assert(NetcdfClassic.readVarDoubles(bytes, f, "v").toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("single small record variable is packed unpadded (classic spec exception)") {
    val dims = Seq(NcDim("time", 0), NcDim("x", 3))
    // 3 shorts = 6 bytes per record; spec: NO padding when it is the only
    // record var and type is byte/short/char
    val vars = Seq(WriteVar("r", Seq("time", "x"), NcShort,
      doubles = Array(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)))
    val bytes = NetcdfWriter.write(dims, Nil, vars, numrecs = 2)
    val f = NetcdfClassic.readHeader(bytes)
    assert(f.variable("r").vsize == 6) // not padded to 8
    assert(bytes.length == f.variable("r").begin + 2 * 6)
    assert(NetcdfClassic.readVarDoubles(bytes, f, "r").toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
  }

  test("CF packing attributes round-trip through the reader's scale/offset path") {
    val dims = Seq(NcDim("x", 2))
    val vars = Seq(WriteVar("packed", Seq("x"), NcShort,
      atts = Seq(numAtt("scale_factor", Seq(0.5)), numAtt("add_offset", Seq(10.0)),
        numAtt("_FillValue", Seq(-999.0), NcShort)),
      doubles = Array(4.0, -999.0)))
    val bytes = NetcdfWriter.write(dims, Nil, vars)
    val f = NetcdfClassic.readHeader(bytes)
    val v = NetcdfClassic.readVarDoubles(bytes, f, "packed")
    assert(v(0) == 4.0 * 0.5 + 10.0)
    assert(v(1).isNaN)
  }

  test("rasterExportNc emits the rasters.py layout, readable and correct") {
    val grid = RegularGrid(3, 2, 10.0, 20.0, 0.5, 0.25)
    // basicInv has cells 0..4 on a 5-cell range; grid has 6 cells
    val path = s"${tmpDir()}/raster.nc"
    Exports.rasterExportNc(basicInv, grid, path,
      atts = Exports.ncCfAttrs("test raster"))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = NetcdfClassic.readHeader(bytes)
    assert(f.dim("lat").length == 2 && f.dim("lon").length == 3)
    assert(f.dim("lat_bnds").length == 3 && f.dim("lon_bnds").length == 4)
    assert(f.gatts.exists(a => a.name == "Conventions" && a.text == "CF-1.10"))
    // coords: centers and bounds
    assert(NetcdfClassic.readVarDoubles(bytes, f, "lon").toSeq ==
      Seq(10.25, 10.75, 11.25))
    assert(NetcdfClassic.readVarDoubles(bytes, f, "lat_bnds").toSeq ==
      Seq(20.0, 20.25, 20.5))
    // data: CH4 only from adf = cell+3; cell_id = ix*ny+iy, layout (lat, lon)
    val ch4 = NetcdfClassic.readVarDoubles(bytes, f, "CH4")
    // cell (ix=1, iy=0) = id 2 → value 5 at [iy=0][ix=1] = index 1
    assert(ch4(1) == 5.0)
    // cell 5 (ix=2, iy=1) not in basicInv → 0
    assert(ch4(2 + 3) == 0.0)
    val units = f.variable("CH4").atts.find(_.name == "units").get
    assert(units.text == "kg year-1 cell-1")
    // NH3 present from the `test` category
    assert(f.vars.map(_.name).contains("NH3"))
  }

  test("rasterExportNc varPerCatSub emits the rasters.py default {sub}_{cat} vars") {
    val grid = RegularGrid(3, 2, 0.0, 0.0, 1.0, 1.0)
    val path = s"${tmpDir()}/percatsub.nc"
    Exports.rasterExportNc(basicInv, grid, path, varPerCatSub = true)
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = NetcdfClassic.readHeader(b)
    val names = f.vars.map(_.name).filter(_.contains("_"))
    assert(names.toSet == Set("CH4_adf", "CO2_adf", "CO2_liku", "NH3_test",
      "lat_bnds", "lon_bnds"))
    val v = NetcdfClassic.readVarDoubles(b, f, "CO2_liku")
    assert(v(1) == 2.0) // cell 2 (ix 1, iy 0) -> plane idx 1
  }

  test("rasterExportNc group_categories + add_totals blocks (rasters.py:137-303)") {
    val grid = RegularGrid(3, 2, 0.0, 0.0, 1.0, 1.0)
    val path = s"${tmpDir()}/grouped.nc"
    Exports.rasterExportNc(basicInv, grid, path,
      groupCategories = true, addTotals = true)
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val f = NetcdfClassic.readHeader(b)
    assert(f.dim("category").length == 3)
    assert(NetcdfClassic.readVarStrings(b, f, "category") ==
      Seq("adf", "liku", "test"))
    // CO2 has category dim (category, lat, lon); adf CO2 = cell value
    val co2 = NetcdfClassic.readVarDoubles(b, f, "CO2")
    assert(co2.length == 3 * 2 * 3)
    // cell 2 (ix 1, iy 0) -> plane index iy*nx+ix = 1; adf is category 0
    assert(co2(0 * 6 + 1) == 2.0)
    // liku (category idx 1) CO2 same cell
    assert(co2(1 * 6 + 1) == 2.0)
    // all-sectors plane sums categories: CO2 = adf + liku = 4.0
    val all = NetcdfClassic.readVarDoubles(b, f, "emi_CO2_all_sectors")
    assert(all(1) == 4.0)
    // per-category kg/yr totals: adf CO2 = 0+1+2+3+4 = 10
    val tot = NetcdfClassic.readVarDoubles(b, f, "emi_CO2_total")
    assert(tot.toSeq == Seq(10.0, 10.0, 0.0))
    assert(NetcdfClassic.readVarDoubles(b, f, "cell_area").forall(_ == 1.0))
  }

  test("writeOemNc emits per-kind files with icon.py coords and rolled SFs") {
    val catsubs = spark.createDataFrame(Seq(("A", "F", "co2"))).toDF("category", "substance", "var")
    val indexes = spark.createDataFrame(Seq(("A", "F", 10, 1))).toDF("category", "substance", "tpid", "profile_id")
    val regions = spark.createDataFrame(Seq(
      (0L, 10, 0, "UTC", "AAA"), (1L, 10, 2, "UTC+2", "BBB")))
      .toDF("region_id", "tpid", "tz_shift", "tz_name", "region_key")
    val daily = spark.range(24).select(
      lit(1).as("profile_id"), lit("hour_of_day").as("kind"),
      col("id").cast("int").as("pos"), (col("id") * 1.0).as("ratio"))
    val weekly = spark.range(7).select(
      lit(1).as("profile_id"), lit("day_of_week").as("kind"),
      col("id").cast("int").as("pos"), (col("id") * 1.0).as("ratio"))
    val assembled = IconExport.assembleTimeProfiles(
      spark, catsubs, indexes, regions.select("region_id", "tpid", "tz_shift"),
      daily.unionByName(weekly))
    val dir = tmpDir()
    val files = IconExport.writeOemNc(assembled, regions, dir)
    assert(files.toSet == Set("hourofday.nc", "dayofweek.nc"))

    val hb = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/hourofday.nc"))
    val hf = NetcdfClassic.readHeader(hb)
    assert(hf.dim("hourofday").length == 24 && hf.dim("country").length == 2)
    assert(NetcdfClassic.readVarDoubles(hb, hf, "country").toSeq == Seq(0.0, 1.0))
    assert(NetcdfClassic.readVarDoubles(hb, hf, "temporal_profile_id").toSeq ==
      Seq(10.0, 10.0))
    assert(NetcdfClassic.readVarStrings(hb, hf, "timezone_of_country") ==
      Seq("UTC", "UTC+2"))
    assert(NetcdfClassic.readVarStrings(hb, hf, "region_key") == Seq("AAA", "BBB"))
    val co2 = NetcdfClassic.readVarDoubles(hb, hf, "co2") // (24, 2)
    // region 0 unshifted: sf[pos=5] = 5*24 at index 5*2+0
    assert(co2(5 * 2 + 0) == 5.0 * 24)
    // region 1 shift 2: out[p] = in[(p+2)%24]; pos 0 ← ratio 2
    assert(co2(0 * 2 + 1) == 2.0 * 24)
    val lname = hf.variable("co2").atts.find(_.name == "long_name").get.text
    assert(lname == "hourofday scaling factors for co2")

    val wb = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/dayofweek.nc"))
    val wf = NetcdfClassic.readHeader(wb)
    val week = NetcdfClassic.readVarDoubles(wb, wf, "co2")
    // day_of_week not rolled: both regions identical, sf = ratio*7
    assert(week(3 * 2 + 0) == 3.0 * 7 && week(3 * 2 + 1) == 3.0 * 7)
  }

  test("streamPlane reproduces the dense plane, zero-filling empty segments") {
    import spark.implicits._
    // 100-cell plane, segSize 16 (7 segments, last short); segments 2 and
    // 4 get no rows at all
    val rows = (0 until 100).filter(i => i / 16 != 2 && i / 16 != 4)
      .map(i => (i.toLong, i * 0.5))
    val df = rows.toDF("idx", "v")
    val segs = Exports.streamPlane(df, 100L, segSize = 16).toSeq
    assert(segs.map(_.length) == Seq(16, 16, 16, 16, 16, 16, 4))
    val dense = segs.flatten
    (0 until 100).foreach { i =>
      val expect = if (i / 16 == 2 || i / 16 == 4) 0.0 else i * 0.5
      assert(dense(i) == expect, s"idx $i")
    }
  }

  test("planeChunks: the collect and the stream route gather the same plane") {
    import spark.implicits._
    // a 200-cell plane with empty cells and two rows on one index
    val rows = (0 until 200 by 3).map(i => (i.toLong, i * 0.5)) :+ ((3L, 1.0))
    val plane = rows.toDF("idx", "v")
    val chunks = Exports.planeChunks(plane, 200).toSeq
    val collected = Exports.collectPlane(plane, 200)
    val streamed = Exports.streamPlane(plane, 200L).toSeq.flatten
    assert(chunks.size == 1 && chunks.head.sameElements(collected))
    assert(collected.toSeq == streamed)
    (0 until 200).foreach { i =>
      val expect = if (i == 3) 2.5 else if (i % 3 == 0) i * 0.5 else 0.0
      assert(collected(i) == expect, s"idx $i")
    }
  }

  test("exported raster re-ingests through the CF reader (full interop loop)") {
    val grid = RegularGrid(3, 2, 10.0, 20.0, 0.5, 0.25)
    val path = s"${tmpDir()}/loop.nc"
    Exports.rasterExportNc(basicInv, grid, path)
    // NetcdfRaster auto-detects lat/lon coords and reads every 2-D var
    val (g2, df) = graft.sources.NetcdfRaster.read(spark, path)
    assert(g2 == grid)
    val ch4 = df.where(col("variable") === "CH4").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    // cell 2 = (ix 1, iy 0) -> adf CH4 = 2 + 3 = 5
    assert(ch4((1, 0)) == 5.0)
    assert(ch4.size == 6) // full grid (zeros included, none NaN)
  }

  test("writeVerticalNc emits the icon.py layer layout") {
    val vertical = spark.createDataFrame(Seq(
      ("heat", 0, 0.7), ("heat", 1, 0.3), ("traffic", 0, 1.0), ("traffic", 1, 0.0)))
      .toDF("category", "level", "r")
    val dir = tmpDir()
    IconExport.writeVerticalNc(vertical, Seq(20.0, 100.0), dir)
    val b = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/vertical_profiles.nc"))
    val f = NetcdfClassic.readHeader(b)
    assert(f.dim("level").length == 2)
    assert(NetcdfClassic.readVarDoubles(b, f, "heat").toSeq == Seq(0.7, 0.3))
    assert(NetcdfClassic.readVarDoubles(b, f, "layer_top").toSeq == Seq(20.0, 100.0))
    // layer_bot = heights rolled, first = 0 (icon.py:574-576)
    assert(NetcdfClassic.readVarDoubles(b, f, "layer_bot").toSeq == Seq(0.0, 20.0))
    assert(NetcdfClassic.readVarDoubles(b, f, "layer_mid").toSeq == Seq(10.0, 60.0))
    val units = f.variable("traffic").atts.find(_.name == "units").get.text
    assert(units == "1")
  }

  test("fluxieExportNc: per-substance files, flux/area, country block") {
    val grid = RegularGrid(2, 2, 0.0, 0.0, 2.0, 2.0) // area 4
    val emi = spark.createDataFrame(Seq(
      (0L, "CO2", 0, 8.0), (3L, "CO2", 1, 16.0), (0L, "CH4", 0, 4.0)))
      .toDF("cell_id", "substance", "time_idx", "value")
    val fracs = spark.createDataFrame(Seq(
      (0L, "AAA", 1.0), (3L, "AAA", 0.5), (3L, "BBB", 0.5)))
      .toDF("cell_id", "country", "fraction")
    val dir = tmpDir()
    val files = Exports.fluxieExportNc(emi, grid, dir,
      countryFractions = Some(fracs))
    assert(files == Seq("CH4/icon_CH4_monthly.nc", "CO2/icon_CO2_monthly.nc"))

    val b = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/CO2/icon_CO2_monthly.nc"))
    val f = NetcdfClassic.readHeader(b)
    assert(f.dim("time").length == 2 && f.dim("latitude").length == 2)
    val flux = NetcdfClassic.readVarDoubles(b, f, "flux_total_prior")
    // t0: cell 0 (ix 0, iy 0) -> flat index iy*nx+ix = 0: 8/4 = 2
    assert(flux(0) == 2.0)
    // t1: cell 3 (ix 1, iy 1) -> t*4 + 1*2+1 = 7: 16/4 = 4
    assert(flux(7) == 4.0)
    assert(NetcdfClassic.readVarStrings(b, f, "country") == Seq("AAA", "BBB"))
    val cflux = NetcdfClassic.readVarDoubles(b, f, "country_flux_total_prior")
    // (t0, AAA) = 2*1.0 = 2; (t1, AAA) = 4*0.5 = 2; (t1, BBB) = 2
    assert(cflux.toSeq == Seq(2.0, 0.0, 2.0, 2.0))
  }

  test("hourlyExportNc writes one file per hour with hourly.py naming") {
    val grid = RegularGrid(5, 1, 0.0, 0.0, 1.0, 1.0)
    val sfs = spark.createDataFrame(Seq(("adf", "CH4", 0, 2.0)))
      .toDF("category", "substance", "hour_of_day", "sf")
    val dir = tmpDir()
    val files = Exports.hourlyExportNc(
      basicInv, sfs, "2023-01-01 00:00:00", 48, grid, dir)
    assert(files.size == 48)
    assert(files.head == "20230101T000000Z.nc")
    assert(files.last == "20230102T230000Z.nc")
    assert(files.toSet.size == 48)

    val b0 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/${files.head}"))
    val f0 = NetcdfClassic.readHeader(b0)
    assert(f0.dim("cell").length == 5)
    // CH4_adf at hour 0 scaled by 2: cell c → (c+3)*2
    val ch4 = NetcdfClassic.readVarDoubles(b0, f0, "CH4_adf")
    assert(ch4.toSeq == Seq(6.0, 8.0, 10.0, 12.0, 14.0))
    // CO2_adf has no SF for hour 0 → factor 1
    val co2 = NetcdfClassic.readVarDoubles(b0, f0, "CO2_adf")
    assert(co2.toSeq == Seq(0.0, 1.0, 2.0, 3.0, 4.0))
    assert(NetcdfClassic.readVarDoubles(b0, f0, "lon").toSeq ==
      Seq(0.5, 1.5, 2.5, 3.5, 4.5))
    // hour 1: no SF row → all factors 1
    val b1 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/${files(1)}"))
    val f1 = NetcdfClassic.readHeader(b1)
    assert(NetcdfClassic.readVarDoubles(b1, f1, "CH4_adf").toSeq ==
      Seq(3.0, 4.0, 5.0, 6.0, 7.0))
    assert(f1.gatts.exists(a => a.name == "valid_hour" &&
      a.text == "2023-01-01 01:00:00"))
  }

  test("hourlyExportNcDistributed: task-side files byte-identical to the " +
    "driver-side writer") {
    val grid = RegularGrid(5, 1, 0.0, 0.0, 1.0, 1.0)
    val sfs = spark.createDataFrame(Seq(("adf", "CH4", 0, 2.0)))
      .toDF("category", "substance", "hour_of_day", "sf")
    assertHourFilesMatch(sfs, "2023-01-01 00:00:00", 30, grid)
  }

  /** The hour files of `temporalExplode` assembled on the driver: each
    * `ts_str`'s rows folded into one dense plane per `substance_category`
    * and written with `NetcdfWriter.write`. File name → bytes. */
  private def hourlyReference(emi: DataFrame, sfs: DataFrame, start: String,
      hours: Int, grid: RegularGrid): Map[String, Array[Byte]] = {
    val ncells = grid.ncells.toInt
    val rows = graft.profiles.Temporal.temporalExplode(emi, sfs, start, hours)
      .select(col("ts_str"), concat_ws("_", col("substance"), col("category")),
        col("cell_id").cast("int"), col("value")).collect()
    val vars = rows.map(_.getString(1)).distinct.sorted.toSeq
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
    def axis(name: String, std: String, units: String, f: Int => Double) =
      WriteVar(name, Seq("cell"), NcDouble, doubles = Array.tabulate(ncells)(f),
        atts = Seq(textAtt("standard_name", std), textAtt("units", units)))
    val coords = Seq(
      axis("lon", "longitude", "degrees_east", c => grid.xmin + (c / grid.ny + 0.5) * grid.dx),
      axis("lat", "latitude", "degrees_north", c => grid.ymin + (c % grid.ny + 0.5) * grid.dy))
    rows.groupBy(_.getString(0)).map { case (ts, hour) =>
      val planes = vars.map(_ -> new Array[Double](ncells)).toMap
      hour.foreach(r => planes(r.getString(1))(r.getInt(2)) += r.getDouble(3))
      val data = vars.map(v => WriteVar(v, Seq("cell"), NcDouble, doubles = planes(v),
        atts = Seq(textAtt("units", "kg h-1"), textAtt("long_name", v))))
      val gatts = Exports.ncCfAttrs("graft hourly export") :+ textAtt("valid_hour", ts)
      (java.time.LocalDateTime.parse(ts.replace(' ', 'T')).format(fmt) + ".nc") ->
        NetcdfWriter.write(Seq(NcDim("cell", ncells)), gatts, coords ++ data)
    }
  }

  /** Both hourly entry points write exactly the [[hourlyReference]]
    * files of `emi`, byte for byte; returns the file count. */
  private def assertHourFilesMatch(sfs: DataFrame, start: String, hours: Int,
      grid: RegularGrid, emi: DataFrame = basicInv): Int = {
    val ref = hourlyReference(emi, sfs, start, hours, grid)
    Seq[String => Seq[String]](
      Exports.hourlyExportNc(emi, sfs, start, hours, grid, _),
      Exports.hourlyExportNcDistributed(emi, sfs, start, hours, grid, _)
    ).foreach { write =>
      val dir = tmpDir()
      val files = write(dir)
      assert(files == ref.keys.toSeq.sorted, s"$start + $hours h")
      files.foreach { f =>
        val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$f"))
        assert(java.util.Arrays.equals(b, ref(f)), s"$f differs")
      }
    }
    ref.size
  }

  test("hourlyExportNcDistributed stays byte-identical to the driver-side " +
    "writer in a DST session zone (spring-forward and fall-back windows)") {
    val grid = RegularGrid(5, 1, 0.0, 0.0, 1.0, 1.0)
    val sfs = spark.createDataFrame(Seq(
      ("adf", "CH4", 1, 2.0), ("adf", "CH4", 2, 4.0), ("adf", "CH4", 3, 8.0),
      ("liku", "CO2", 2, 0.5)))
      .toDF("category", "substance", "hour_of_day", "sf")
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "Europe/Zurich")
    try {
      // 2024-03-31 02:00 local does not exist; 2024-10-27 02:00 happens
      // twice. Every window holds `hours` instants, so the October ones
      // write one file less (two instants share one local hour); both
      // 200-hour windows cross a 168-hour boundary
      Seq(("2024-03-31 00:00:00", 6, 6), ("2024-10-27 00:00:00", 6, 5),
        ("2024-03-25 00:00:00", 200, 200), ("2024-10-21 00:00:00", 200, 199))
        .foreach { case (start, hours, nfiles) =>
          assert(assertHourFilesMatch(sfs, start, hours, grid) == nfiles, start)
        }
    } finally spark.conf.set(key, saved)
  }

  test("hourlyExportNc sums repeated (cell, category, substance) rows " +
    "into the reference's bytes") {
    val grid = RegularGrid(5, 1, 0.0, 0.0, 1.0, 1.0)
    val sfs = spark.createDataFrame(Seq(("adf", "CH4", 0, 2.0), ("liku", "CO2", 1, 0.5)))
      .toDF("category", "substance", "hour_of_day", "sf")
    // every row three times, at 1, 1/4 and 1/2 of its value: dyadic
    // parts, so any summation order gives the same bits
    val repeated = basicInv
      .unionByName(basicInv.withColumn("value", col("value") * 0.25))
      .unionByName(basicInv.withColumn("value", col("value") * 0.5))
    assert(assertHourFilesMatch(sfs, "2023-01-01 00:00:00", 30, grid, repeated) == 30)
  }

  test("hourlyExportNcDistributed on empty emissions writes no file") {
    val grid = RegularGrid(5, 1, 0.0, 0.0, 1.0, 1.0)
    val sfs = spark.createDataFrame(Seq(("adf", "CH4", 0, 2.0)))
      .toDF("category", "substance", "hour_of_day", "sf")
    val dir = tmpDir()
    val files = Exports.hourlyExportNcDistributed(
      basicInv.where(lit(false)), sfs, "2023-01-01 00:00:00", 24, grid, dir)
    assert(files.isEmpty)
    assert(new java.io.File(dir).list().isEmpty)
  }

  test("hourlyExportNcDistributed releases its cache when a task write fails") {
    val grid = RegularGrid(5, 1, 0.0, 0.0, 1.0, 1.0)
    val sfs = spark.createDataFrame(Seq(("adf", "CH4", 0, 2.0)))
      .toDF("category", "substance", "hour_of_day", "sf")
    // a directory below a regular file can never be created
    val notADir = java.nio.file.Files.createTempFile("ncw", ".file").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      Exports.hourlyExportNcDistributed(
        basicInv, sfs, "2023-01-01 00:00:00", 4, grid, s"$notADir/out")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("wrfChemiExport composite scaling: day-of-week survives a midnight " +
    "crossing (wrf.py:150-176 full-profile semantics)") {
    val grid = RegularGrid(3, 2, 0.0, 0.0, 1000.0, 1000.0)
    val dir = tmpDir()
    val hpy = 365.25 * 24.0
    val emi = spark.createDataFrame(Seq((0L, "adf", "CO2", hpy)))
      .toDF("cell_id", "category", "substance", "value") // flux 1.0
    // hour_of_day × day_of_week product; 2024-01-01 is a Monday
    val sf = spark.createDataFrame(Seq(
      ("adf", "CO2", "hour_of_day", 23, 2.0),
      ("adf", "CO2", "hour_of_day", 0, 3.0),
      ("adf", "CO2", "day_of_week", 0, 10.0),
      ("adf", "CO2", "day_of_week", 1, 100.0)))
      .toDF("category", "substance", "kind", "position", "sf")
    val files = Exports.wrfChemiExport(spark, emi, grid,
      molarMasses = Seq("CO2" -> 1000.0), sf,
      "2024-01-01 23:00:00", hours = 2, outDir = dir)
    val planes = files.map { f =>
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$f"))
      NetcdfClassic.readVarDoubles(b, NetcdfClassic.readHeader(b),
        "E_CO2_adf")(0)
    }
    // Mon 23h: 2·10 = 20; Tue 00h: 3·100 = 300 — an hour-of-day-only
    // key would have flattened the 10× day change
    assert(planes == Seq(20.0, 300.0))
  }

  test("wrfChemiExport: per-hour files, cell->(x,y) unstack, Times var, " +
    "mole/km2/h units (wrf.py:129-240)") {
    val grid = RegularGrid(3, 2, 0.0, 0.0, 1000.0, 1000.0) // 1 km2 cells
    val dir = tmpDir()
    val hpy = 365.25 * 24.0
    val emi = spark.createDataFrame(Seq(
      // cell_id = ix*ny + iy; kg/y chosen so mole flux is exact
      (0L, "adf", "CO2", hpy), // (x0, y0) -> plane index 0
      (2L, "adf", "CO2", 2 * hpy), // (x1, y0) -> plane index 1
      (5L, "adf", "CO2", 4 * hpy), // (x2, y1) -> plane index 5
      (0L, "adf", "CH4", 8 * hpy)))
      .toDF("cell_id", "category", "substance", "value")
    // hour 1 scales CO2_adf by 3; CH4 has no profile -> 1.0
    val sf = spark.createDataFrame(Seq(("adf", "CO2", 1, 3.0)))
      .toDF("category", "substance", "hour_of_day", "sf")
    val files = Exports.wrfChemiExport(spark, emi, grid,
      molarMasses = Seq("CO2" -> 1000.0, "CH4" -> 1000.0), sf,
      "2024-01-01 00:00:00", hours = 2, outDir = dir)
    assert(files == Seq(
      "wrfchemi_d01_2024-01-01_00:00:00", "wrfchemi_d01_2024-01-01_01:00:00"))
    val b0 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/${files(0)}"))
    val f0 = NetcdfClassic.readHeader(b0)
    assert(f0.dim("south_north").length == 2 && f0.dim("west_east").length == 3)
    assert(f0.dim("Time").length == 1 && f0.dim("emissions_zdim").length == 1)
    assert(NetcdfClassic.readVarStrings(b0, f0, "Times") ==
      Seq("2024-01-01_00:00:00"))
    // molar mass 1000 g/mol and 1 km2 cells make flux = value / hpy
    assert(NetcdfClassic.readVarDoubles(b0, f0, "E_CO2_adf").toSeq ==
      Seq(1.0, 2.0, 0.0, 0.0, 0.0, 4.0))
    assert(NetcdfClassic.readVarDoubles(b0, f0, "E_CH4_adf").toSeq ==
      Seq(8.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    val units = f0.variable("E_CO2_adf").atts.find(_.name == "units").get
    assert(units.text == "moles/km2/h")
    // hour 1: the CO2 profile applies, CH4 falls back to 1.0
    val b1 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/${files(1)}"))
    val f1 = NetcdfClassic.readHeader(b1)
    assert(NetcdfClassic.readVarStrings(b1, f1, "Times") ==
      Seq("2024-01-01_01:00:00"))
    assert(NetcdfClassic.readVarDoubles(b1, f1, "E_CO2_adf").toSeq ==
      Seq(3.0, 6.0, 0.0, 0.0, 0.0, 12.0))
    assert(NetcdfClassic.readVarDoubles(b1, f1, "E_CH4_adf").toSeq ==
      Seq(8.0, 0.0, 0.0, 0.0, 0.0, 0.0))
  }
}
