package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.NetcdfRaster

/** `spark.read.format("netcdf")` — a DataSource V2 over the pure CF
  * raster parser ([[graft.sources.NetcdfRaster]]), the catalog-friendly
  * form of the converter-job + `binaryFile` ingestion path
  * ([[graft.sources.GlobalRasters.readEdgarDirDistributed]], SURVEY §4
  * custom-work item 4). One file = one `InputPartition` (EDGAR fleets
  * are hundreds of grid-sized rasters — per-file tasks are the right
  * granularity, emiproc/inventories/edgar/edgarv8.py:140-237), and the
  * scan PRUNES where the binaryFile form could not:
  *
  *  - `variable` equality/IN predicates reach the parser: only the
  *    named 2-D raster variables are ever DECODED (the others' bytes
  *    are never touched — asserted by the `decodedVariables` metric in
  *    the plan spec). A file whose raster variables miss the predicate
  *    entirely decodes nothing (header-only parse for the grid).
  *  - `file` equality/IN predicates prune whole FILES at planning —
  *    the partition list never includes them.
  *  - `lon_idx`/`lat_idx` range predicates (a bbox in index space)
  *    filter during row materialization — exact integer comparisons,
  *    so they are fully handled, never re-evaluated upstream.
  *
  * Schema: `(file, variable, lon_idx, lat_idx, flux, nx, ny, xmin,
  * ymin, dx, dy)` — the long CF-raster form plus the per-file regular
  * grid so a consumer can validate/derive `cell_id` without a second
  * metadata pass; column pruning drops what a query doesn't name.
  * Scale note: a 100 TB fleet is many files, not big files — the
  * per-file reader holds one grid-sized byte array and streams rows;
  * nothing is collected on the driver beyond the file listing. */
final class NetcdfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NetcdfSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new NetcdfTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "netcdf source needs a path: spark.read.format(\"netcdf\").load(dir)")))
}

object NetcdfSource {
  val Schema: StructType = new StructType()
    .add("file", StringType, nullable = false)
    .add("variable", StringType, nullable = false)
    .add("lon_idx", IntegerType, nullable = false)
    .add("lat_idx", IntegerType, nullable = false)
    .add("flux", DoubleType, nullable = false)
    .add("nx", IntegerType, nullable = false)
    .add("ny", IntegerType, nullable = false)
    .add("xmin", DoubleType, nullable = false)
    .add("ymin", DoubleType, nullable = false)
    .add("dx", DoubleType, nullable = false)
    .add("dy", DoubleType, nullable = false)

  /** Test-visible count of raster variables DECODED by partition
    * readers (plan specs pin that pushed `variable` predicates keep
    * unselected variables out of this count). */
  val decodedVariables = new java.util.concurrent.atomic.AtomicLong

  /** Resolve the load path to the sorted .nc file list: a directory, a
    * `dir` + `*.nc` glob, or a single file. Driver-side listing only — the
    * bytes stay in the executors' partition readers. */
  private[graft] def listFiles(path: String): Seq[String] = {
    val norm = if (path.endsWith("/*.nc")) path.stripSuffix("/*.nc") else path
    require(!norm.contains("*"),
      s"unsupported glob '$path' — pass a directory, dir/*.nc, or one file " +
        "(prune files with a `file` predicate instead)")
    val f = new java.io.File(norm)
    val files =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".nc")).map(_.getPath).toSeq
      else Seq(f.getPath)
    require(files.nonEmpty, s"no .nc files under $path")
    files.sorted
  }
}

private final class NetcdfTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"netcdf($path)"
  override def schema(): StructType = NetcdfSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NetcdfScanBuilder(path)
}

/** Index-space bbox from pushed lon_idx/lat_idx range predicates;
  * `None` = unbounded. */
private[graft] final case class IdxBbox(
    lonGe: Option[Int] = None, lonLe: Option[Int] = None,
    latGe: Option[Int] = None, latLe: Option[Int] = None) {
  def contains(j: Int, i: Int): Boolean =
    lonGe.forall(j >= _) && lonLe.forall(j <= _) &&
      latGe.forall(i >= _) && latLe.forall(i <= _)
}

private final class NetcdfScanBuilder(path: String)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = NetcdfSource.Schema
  private var varFilter: Option[Set[String]] = None
  private var fileFilter: Option[Set[String]] = None
  private var bbox = IdxBbox()
  private var accepted = Array.empty[Filter]

  private def narrow(cur: Option[Set[String]], vs: Set[String]) =
    Some(cur.fold(vs)(_ intersect vs))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = filters.filterNot { f =>
      val handled = f match {
        case EqualTo("variable", v: String) =>
          varFilter = narrow(varFilter, Set(v)); true
        case In("variable", vs) if vs.forall(_.isInstanceOf[String]) =>
          varFilter = narrow(varFilter, vs.map(_.asInstanceOf[String]).toSet); true
        case EqualTo("file", v: String) =>
          fileFilter = narrow(fileFilter, Set(v)); true
        case In("file", vs) if vs.forall(_.isInstanceOf[String]) =>
          fileFilter = narrow(fileFilter, vs.map(_.asInstanceOf[String]).toSet); true
        // strict bounds at the Int extremes would overflow on the ±1
        // (GreaterThan(MaxValue) must match NOTHING, not everything) —
        // those two degenerate predicates stay residual instead
        case GreaterThanOrEqual("lon_idx", v: Int) =>
          bbox = bbox.copy(lonGe = Some(bbox.lonGe.fold(v)(math.max(_, v)))); true
        case GreaterThan("lon_idx", v: Int) if v < Int.MaxValue =>
          bbox = bbox.copy(lonGe = Some(bbox.lonGe.fold(v + 1)(math.max(_, v + 1)))); true
        case LessThanOrEqual("lon_idx", v: Int) =>
          bbox = bbox.copy(lonLe = Some(bbox.lonLe.fold(v)(math.min(_, v)))); true
        case LessThan("lon_idx", v: Int) if v > Int.MinValue =>
          bbox = bbox.copy(lonLe = Some(bbox.lonLe.fold(v - 1)(math.min(_, v - 1)))); true
        case GreaterThanOrEqual("lat_idx", v: Int) =>
          bbox = bbox.copy(latGe = Some(bbox.latGe.fold(v)(math.max(_, v)))); true
        case GreaterThan("lat_idx", v: Int) if v < Int.MaxValue =>
          bbox = bbox.copy(latGe = Some(bbox.latGe.fold(v + 1)(math.max(_, v + 1)))); true
        case LessThanOrEqual("lat_idx", v: Int) =>
          bbox = bbox.copy(latLe = Some(bbox.latLe.fold(v)(math.min(_, v)))); true
        case LessThan("lat_idx", v: Int) if v > Int.MinValue =>
          bbox = bbox.copy(latLe = Some(bbox.latLe.fold(v - 1)(math.min(_, v - 1)))); true
        case _ => false
      }
      if (handled) accepted :+= f
      handled
    }
    residual
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new NetcdfScan(path, required, varFilter, fileFilter, bbox)
}

private[graft] final class NetcdfScan(
    path: String,
    required: StructType,
    val variables: Option[Set[String]],
    val files: Option[Set[String]],
    val bbox: IdxBbox) extends Scan with Batch
    with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  /** Long-form expansion of packed raster bytes: a float cell (4 B)
    * becomes an 11-column row (~88 B as UnsafeRow). Without this the
    * default Long.MaxValue estimate makes every join treat the scan as
    * huge, and raw file bytes would UNDER-estimate (breaking broadcast
    * thresholds and the DPP benefit check in the other direction). */
  private val RowExpansion = 22L

  override def estimateStatistics(): Statistics = {
    val kept = keptFiles()
    val bytes = kept.map(p => new java.io.File(p).length()).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes * RowExpansion))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  /** Set by [[filter]] when dynamic partition pruning fires: Spark
    * evaluates the broadcast side of a join on `file` first, then hands
    * the surviving keys here BEFORE planInputPartitions — so a join
    * against a small file manifest scans only the named files, the DPP
    * idiom at fleet scale. */
  @volatile private[graft] var runtimeFiles: Option[Set[String]] = None

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("file"))

  override def filter(predicates: Array[Predicate]): Unit =
    predicates.foreach { p =>
      val names: Option[Set[String]] = p.name() match {
        case "IN" | "=" =>
          val kids = p.children()
          val onFile = kids.collect {
            case r: NamedReference if r.fieldNames.sameElements(Array("file")) => r
          }
          val lits = kids.collect { case l: Literal[_] => l.value().toString }
          if (onFile.length == 1 && lits.length == kids.length - 1)
            Some(lits.toSet)
          else None
        case _ => None // unrecognized predicate: ignore = no pruning, never wrong rows
      }
      names.foreach(ns =>
        runtimeFiles = Some(runtimeFiles.fold(ns)(_ intersect ns)))
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val v = variables.fold("*")(_.toSeq.sorted.mkString(","))
    val f = files.fold("*")(_.toSeq.sorted.mkString(","))
    s"netcdf($path) PushedVariables: [$v], PushedFiles: [$f], PushedBbox: $bbox"
  }

  /** Files surviving the pushed + runtime `file` predicates. */
  private def keptFiles(): Seq[String] = {
    val all = NetcdfSource.listFiles(path)
    val pushed = files.fold(all)(names => all.filter(p =>
      names.contains(p.substring(p.lastIndexOf('/') + 1))))
    runtimeFiles.fold(pushed)(names => pushed.filter(p =>
      names.contains(p.substring(p.lastIndexOf('/') + 1))))
  }

  override def planInputPartitions(): Array[InputPartition] =
    keptFiles().map(p => NetcdfInputPartition(p): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new NetcdfReaderFactory(required, variables, bbox)
}

private[graft] final case class NetcdfInputPartition(file: String)
    extends InputPartition

private final class NetcdfReaderFactory(
    required: StructType,
    variables: Option[Set[String]],
    bbox: IdxBbox) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new NetcdfPartitionReader(
      p.asInstanceOf[NetcdfInputPartition].file, required, variables, bbox)
}

/** One file per reader: parse lazily on first `next()`, decode ONLY the
  * pushed-and-present variables, stream rows through the bbox. */
private final class NetcdfPartitionReader(
    file: String,
    required: StructType,
    variables: Option[Set[String]],
    bbox: IdxBbox) extends PartitionReader[InternalRow] {

  private var it: Iterator[InternalRow] = _

  // each required column's position in NetcdfSource.Schema, resolved
  // once per reader rather than matched by name for every column of
  // every row
  private val slots = required.fieldNames.map(NetcdfSource.Schema.fieldIndex)

  private def ensureOpen(): Unit = if (it == null) {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file))
    val avail = NetcdfRaster.rasterVariables(bytes)
    val wanted = variables.fold(avail)(vs => avail.filter(vs.contains))
    NetcdfSource.decodedVariables.addAndGet(wanted.size.toLong)
    val (grid, rows) = NetcdfRaster.parseRaster(bytes, Some(wanted))
    val fname = UTF8String.fromString(
      file.substring(file.lastIndexOf('/') + 1))
    val varCache = new java.util.HashMap[String, UTF8String]()
    it = rows.iterator
      .filter { case (j, i, _, _) => bbox.contains(j, i) }
      .map { case (j, i, v, flux) =>
        val vals = new Array[Any](slots.length)
        var k = 0
        while (k < slots.length) {
          vals(k) = slots(k) match {
            case 0 => fname
            case 1 =>
              var u = varCache.get(v)
              if (u == null) { u = UTF8String.fromString(v); varCache.put(v, u) }
              u
            case 2 => j
            case 3 => i
            case 4 => flux
            case 5 => grid.nx
            case 6 => grid.ny
            case 7 => grid.xmin
            case 8 => grid.ymin
            case 9 => grid.dx
            case 10 => grid.dy
          }
          k += 1
        }
        new GenericInternalRow(vals): InternalRow
      }
  }

  override def next(): Boolean = { ensureOpen(); it.hasNext }
  override def get(): InternalRow = it.next()
  override def close(): Unit = ()
}
