package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.RegularGrid

/** Loaders for the driver's deterministic testdata tables (TESTDATA.md) and
  * the canonical emission-shaped views the correctness queries run on.
  *
  * The correctness gate (Verify → DuckDB) needs every query to be expressible
  * both as our operator API and as plain SQL. We therefore derive an
  * emission inventory deterministically from `lineitem`:
  * `cell_id = l_orderkey % 4096` on a 64×64 unit grid, category =
  * l_returnflag (A/N/R), substance = l_linestatus (F/O), value = l_quantity
  * (integer-valued doubles → exact IEEE sums, so Spark and DuckDB hashes
  * can't drift on aggregation order).
  */
object Tables {
  /** Base-table DataFrames memoized per (session, dir, name): the
    * testdata parquet files are immutable, but every `spark.read
    * .parquet` call re-runs schema inference — a 1-task Spark job plus
    * its scheduling gap that EVERY gate paid once per invocation.
    * Reusing the resolved DataFrame is plan-metadata reuse only (the
    * object is immutable and lazy); no rows are cached here. Keyed by
    * session identity so a stopped-and-rebuilt session (specs) never
    * serves a stale plan. */
  private val tableMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), DataFrame]()

  /** HARNESS-ONLY overlay for the bench mains' spread hot tables —
    * separate from [[tableMemo]] so the shared plan memo never carries
    * a bench-condition plan: only [[spreadForSession]] (called by
    * Bench/RunOne) populates it, and [[graft.Bench]] clears it
    * (`clearSpreadOverlay`) before anything non-harness could run in
    * the same session. Disk-path readers and every other JVM (Verify,
    * specs, ScaleBench) see raw parquet scans only. */
  private val spreadOverlay = new java.util.concurrent.ConcurrentHashMap[
    (String, String), DataFrame]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (dir, name)
    val over = spreadOverlay.get(key)
    if (over != null && (over.sparkSession eq spark)) over
    else tableRaw(spark, dir, name)
  }

  /** [[table]] bypassing the bench-harness spread overlay — for the
    * rare operator whose cost profile the spread distorts at fixture
    * scale (q_pagerank's edge derivation: the operator itself takes
    * the driver small-graph path, so the 8-partition stages the spread
    * imposes on its corpus-scale derivation are pure scheduling
    * overhead at this SF; a production corpus is exempt by
    * construction because its scan already has ≥ target partitions
    * and the spread is a no-op). Identical to [[table]] outside the
    * bench mains (the overlay is empty there). */
  def tableRaw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (dir, name)
    val cur = tableMemo.get(key)
    if (cur != null && (cur.sparkSession eq spark)) cur
    else {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      tableMemo.put(key, df)
      df
    }
  }

  /** Drop every harness-overlay entry — called by the bench mains
    * after unpersisting the hot tables, so nothing else in the session
    * can observe the spread plan. */
  def clearSpreadOverlay(): Unit = spreadOverlay.clear()

  /** Register the SPREAD form of a hot table for this session — the
    * bench-harness half of the hot-table methodology ([[graft.Bench]]):
    * the sf testdata tables are single parquet files with one row
    * group, so their scan is ONE partition and every query's map-side
    * work before its first shuffle runs on one core — an artifact of
    * the fixture layout, not of the operators (a production corpus
    * scan has file/row-group parallelism; optimization guide §2.5
    * "input skew: one huge unsplittable file… repartition immediately
    * after the read"). Spreading the persisted cache across the
    * session's cores makes the bench measure operator cost instead of
    * the single-file serialization. Scale-adaptive: a source that
    * already scans ≥ defaultParallelism partitions is left alone (a
    * repartition there would only add a shuffle), and the plan is NOT
    * used outside the session memo, so disk-path reads keep their
    * pushdown. */
  def spreadForSession(
      spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    // min(parallelism, 8), overridable via SPARK_GRAFT_SPREAD: wide
    // enough to unserialize the fixture's 1-partition map side (the
    // heavy pre-shuffle operators get ~8× their single-core time back;
    // going to 32 only shaves a further few ms of compute), small
    // enough that the ~60 sub-second gates don't pay 32-task
    // scheduling on every narrow stage (measured as a uniform
    // +0.1-0.3 s tail at 32). Scales with the session: a lower-core
    // driver run gets min(its cores, 8).
    val par = spark.sparkContext.defaultParallelism
    val target = sys.env.get("SPARK_GRAFT_SPREAD").map(_.toInt)
      .getOrElse(math.min(par, 8))
    val spread =
      if (raw.rdd.getNumPartitions >= target) raw
      else raw.repartition(target)
    spreadOverlay.put((dir, name), spread)
    spread
  }

  /** The tables the bench mains hold in memory for a whole run. */
  val HotTables: Seq[String] = Seq("lineitem", "events", "documents", "embeddings")

  /** Spread, persist and materialize every [[HotTables]] entry — the
    * hot-table methodology of [[graft.Bench]] and [[graft.RunOne]]. A
    * table that does not load fails the run with its name: a silently
    * missing table would change what a bench measures. */
  def loadHot(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    HotTables.map { t =>
      val df =
        try {
          val cached = spreadForSession(spark, dir, t).persist()
          cached.count()
          cached
        } catch { case e: Exception =>
          throw new IllegalStateException(s"hot table '$t' did not load from $dir", e)
        }
      t -> df
    }

  def lineitem(s: SparkSession, dir: String): DataFrame = table(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = table(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = table(s, dir, "customer")
  def nation(s: SparkSession, dir: String): DataFrame = table(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = table(s, dir, "region")
  def supplier(s: SparkSession, dir: String): DataFrame = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = table(s, dir, "part")
  /** Normalize the events `ts` column across driver-testdata eras by
    * branching on the OBSERVED read-back type, so the loader works against
    * any vintage of events.parquet:
    *  - ns-precision TIMESTAMP (rounds ≤10 data): with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (GraftSession sets it)
    *    the column reads back as LongType ns — truncate to µs, exactly
    *    DuckDB's ns→µs coercion, so both engines see identical micros.
    *  - plain µs TIMESTAMP (current data): reads back as TIMESTAMP_NTZ —
    *    cast to the session TimestampType. Session time is UTC
    *    (GraftSession), so the cast reinterprets the same micros and
    *    matches DuckDB's native read bit-for-bit.
    * Never applies the div-1000 rewrite to an already-timestamp column
    * (that was the r11 breakage: DATATYPE_MISMATCH on every events query). */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  def events(s: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(s, dir, "events"))
  def documents(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")

  /** The canonical 64×64 unit source grid (x-major cell ids). */
  val srcGrid: RegularGrid = RegularGrid(64, 64, 0.0, 0.0, 1.0, 1.0)

  /** A coarser destination grid offset by half a source cell so regrid
    * weights are fractional but dyadic (exact in binary floating point):
    * 33×33 cells of size 2 starting at (-0.5,-0.5). */
  val dstGrid: RegularGrid = RegularGrid(33, 33, -0.5, -0.5, 2.0, 2.0)

  /** Long-format gridded emissions derived from lineitem (see class doc). */
  def emissions(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).select(
      (col("l_orderkey") % 4096).as("cell_id"),
      col("l_returnflag").as("category"),
      col("l_linestatus").as("substance"),
      col("l_quantity").as("value"))

  /** SQL CTE prefix equivalent to [[emissions]] for the DuckDB oracle. */
  val EmiCte: String =
    "WITH emissions AS (SELECT l_orderkey % 4096 AS cell_id, " +
      "l_returnflag AS category, l_linestatus AS substance, " +
      "l_quantity AS value FROM lineitem)"

  /** Emissions pre-aggregated to one row per (cell, category, substance) —
    * the shape most reference operators assume (the gdf is dense per cell). */
  def emissionsAgg(s: SparkSession, dir: String): DataFrame =
    emissions(s, dir)
      .groupBy("cell_id", "category", "substance")
      .agg(sum("value").as("value"))

  val EmiAggCte: String =
    EmiCte + ", emi AS (SELECT cell_id, category, substance, " +
      "sum(value) AS value FROM emissions GROUP BY 1, 2, 3)"
}
