package graft

import java.io.IOException
import java.nio.file.{Files, Paths}

object Bench {

  // Start conditions, benchmark/run.py's rule: start once the 1-minute
  // load is below IdleLoadPerCpu × nproc, or after IdleWaitS stamped
  // contended; a run that lost more than StealContended of the CPU to
  // steal is contended too.
  private val IdleLoadPerCpu = 1.25
  private val IdleWaitS = 10
  private val StealContended = 0.05

  /** (steal, total) jiffies of all CPUs from /proc/stat; (0, 0) where it
    * cannot be read. */
  private def cpuTicks(): (Long, Long) =
    try {
      val fields = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (fields.length > 7) fields(7) else 0L, fields.sum)
    } catch { case _: IOException | _: NumberFormatException => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loadLimit = IdleLoadPerCpu * Runtime.getRuntime.availableProcessors
    val waitT0 = System.nanoTime()
    var load = os.getSystemLoadAverage
    while (load >= loadLimit &&
        System.nanoTime() - waitT0 < IdleWaitS * 1000000000L) {
      Thread.sleep(1000)
      load = os.getSystemLoadAverage
    }
    val waitedS = (System.nanoTime() - waitT0) / 1e9
    val waitExpired = load >= loadLimit
    val (steal0, ticks0) = cpuTicks()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    // Warm up the JVM/codegen/parquet paths so the first measured query
    // doesn't absorb session startup cost. FULL-scan the hot tables (an
    // all-column hash-sum forces every page through the decoder and the OS
    // page cache) — a bare count() is metadata-only and left the first
    // alphabetical queries (b–d cluster) paying the cold-IO cost on the
    // contended driver box.
    spark.range(1000000).selectExpr("sum(id)").collect()
    // Persist the hot tables for the whole suite: CacheManager substitutes
    // the in-memory relation into every query's identical parquet-read
    // subplan, so the suite measures operator cost, not one repeat scan
    // of the same four files per query (a cluster run amortizes those
    // scans through the OS page cache the same way). Held OUTSIDE the
    // Caching registry so per-query Caching.release() can't drop them.
    // The cached relation is SPREAD across the session's cores first
    // (Tables.spreadForSession): the single-file fixture scan is one
    // partition, which would serialize every query's pre-shuffle map
    // work on one core — a fixture artifact a production multi-file
    // scan does not have. Declared in OPTIMIZATION_r21.md (bench
    // methodology note).
    // SPARK_GRAFT_NO_HOT=1 runs the whole suite CACHE-FREE (every query
    // scans the parquet inputs): the standing per-round artifact
    // BENCH_NOHOT_rN.json uses it so there is a suite-level number that
    // includes scan+pushdown cost alongside the hot-cache series
    // (r21 verdict ask #2). Same harness condition RunOne/ProfOne and
    // the A/B canary already honor.
    val noHot = sys.env.get("SPARK_GRAFT_NO_HOT").contains("1")
    val hotTables = if (noHot) Seq.empty else Tables.loadHot(spark, sfDir)
    // per-table load status for the JSON line ("off" under NO_HOT;
    // loadHot fails the run before a table could read "missing")
    val hotStatus = Tables.HotTables
      .map(t => "\"" + t + "\":\"" + (if (noHot) "off" else "cached") + "\"")
      .mkString("{", ",", "}")
    // environment stamp at START (to pair with the end-of-run load_avg:
    // box contention, not plan regressions, explained the r11 noise)
    val loadStart = os.getSystemLoadAverage
    val uptimeSec: Long =
      try Files.readString(Paths.get("/proc/uptime")).split("\\s+")(0)
        .toDouble.toLong
      catch { case _: IOException | _: NumberFormatException => -1L }
    val benchT0 = System.currentTimeMillis()
    // Per-query: wall seconds, start offset (ms since bench start — lets a
    // post-hoc reader line timings up against driver-box contention
    // windows), and an explicit error marker. A failed query records
    // timing -1 so a regression can never masquerade as a speedup
    // (r11: 11 analysis-failed queries read as ~0.1s "improvements").
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val startMs = System.currentTimeMillis() - benchT0
      BuildPhase.reset() // per-query build-vs-serve accounting
      val t0 = System.nanoTime()
      var t1 = t0
      // the timed window closes BEFORE the finally: Caching.release()
      // also purges the gate's temp index dirs (TempDirs), and that
      // cleanup I/O must not land in the wall/serve numbers
      val err: Option[String] =
        try { fn(spark, sfDir).count(); t1 = System.nanoTime(); None }
        catch { case t: Throwable =>
          t1 = System.nanoTime(); Some(t.getClass.getSimpleName) }
        finally Caching.release() // no cached blocks leak across queries
      val secs = (t1 - t0) / 1e9
      (name, if (err.isDefined) -1.0 else secs, startMs, err,
        BuildPhase.taken())
    }
    hotTables.foreach(_._2.unpersist())
    Tables.clearSpreadOverlay() // nothing after the bench sees the spread
    // 3-decimal timings keep the JSON line compact: the harness that
    // collects stdout only retains a trailing window, so every byte of
    // the line improves the chance it survives intact.
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    val starts = results.map { case (k, _, st, _, _) => "\"" + k + "\":" + st }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e), _) =>
      "\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    // build-vs-serve split for the lifecycle gates: wall − build is the
    // citable SERVE latency; the build half is one-time index
    // construction the gate replays so Verify can hash the lifecycle
    val builds = results.filter(r => r._5 > 0.0005 && r._4.isEmpty)
      .map { case (k, _, _, _, b) => "\"" + k + "\":" + d3(b) }
      .mkString("{", ",", "}")
    val buildTotal = results.filter(_._4.isEmpty).map(_._5).sum
    val errCount = results.count(_._4.isDefined)
    val total = results.filter(_._4.isEmpty).map(_._2).sum
    // environment stamp: box contention (not plan regressions) explained
    // the r11 cross-round timing noise — record enough to tell them apart
    val loadAvg = d3(os.getSystemLoadAverage)
    val (steal1, ticks1) = cpuTicks()
    val stealFrac = (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0)
    val start =
      s""""waited_s":${d3(waitedS)},"steal_frac":${d3(stealFrac)},""" +
        s""""contended":${waitExpired || stealFrac > StealContended}"""
    val env =
      s""""cpus":"$cpus","host_cores":${Runtime.getRuntime.availableProcessors},"load_avg":$loadAvg,"load_avg_start":${d3(loadStart)},$start,"uptime_sec":$uptimeSec,"hot_cache":${hotTables.nonEmpty},"hot_tables":$hotStatus"""
    val line =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":$qs,""" +
        s""""build_sec":$builds,"build_total":${d3(buildTotal)},""" +
        s""""serve_total":${d3(total - buildTotal)},""" +
        s""""errors":$errs,"error_count":$errCount,"start_ms":$starts,$env,"sf":"$sfDir"}"""
    println(line)
    // Also persist the line to a file in the repo so per-query numbers
    // remain recoverable even when the stdout capture truncates
    // (BENCH_r04/r05 artifacts lost leading bytes of the JSON). A failed
    // write is loud: stderr, and the compact line names no full map —
    // else the previous run's numbers stay under the name it points to.
    val lastWriteError: Option[String] =
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get("BENCH_LAST.json"),
          (line + "\n").getBytes("UTF-8"))
        None
      } catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"[bench] FAILED writing BENCH_LAST.json: $t")
        Some(t.getClass.getSimpleName)
      }
    // A tagged run ALSO lands in a round-stamped file the driver never
    // writes (the driver sets no tag): BENCH_LAST.json gets clobbered
    // in place by the driver's own bench run, which in r14 overwrote
    // the citable idle-box artifact. SPARK_GRAFT_BENCH_TAG=r15 →
    // BENCH_LOCAL_r15.json, committed per round. Unlike BENCH_LAST
    // above (best-effort), this write fails LOUDLY — a tag that
    // silently wrote nothing would recreate the exact data loss the
    // tag exists to prevent.
    sys.env.get("SPARK_GRAFT_BENCH_TAG").foreach { tag =>
      require(tag.matches("[A-Za-z0-9._-]+"),
        s"bad SPARK_GRAFT_BENCH_TAG '$tag' (want [A-Za-z0-9._-]+)")
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(s"BENCH_LOCAL_$tag.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case t: Throwable =>
        System.err.println(s"[bench] FAILED writing BENCH_LOCAL_$tag.json: $t")
      }
    }
    // The driver keeps only a ~2000-char stdout TAIL and parses a JSON
    // line out of it. The full per-query line is >4KB — it can never sit
    // whole inside that window. Emit a COMPACT variant (suite total + the
    // 20 slowest queries + error count, ~700 chars) as the last lines this
    // JVM prints — once from main and once from a shutdown hook, so even
    // with sbt's trailing "[success]" (~70 chars) a complete JSON line is
    // guaranteed inside the tail. The full map stays in BENCH_LAST.json.
    val top = results.filter(_._4.isEmpty).sortBy(-_._2).take(20)
    val qsTop = top.map { case (k, v, _, _, _) => "\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":$qsTop,""" +
        s""""queries_shown":${top.size},"queries_total":${results.size},""" +
        s""""build_total":${d3(buildTotal)},"serve_total":${d3(total - buildTotal)},""" +
        s""""error_count":$errCount,$start,""" +
        lastWriteError.fold("\"queries_full\":\"BENCH_LAST.json\",")(e =>
          s""""queries_full":null,"queries_full_error":"$e",""") +
        s""""sf":"$sfDir"}"""
    println(compact)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      System.out.println(compact)
      System.out.flush()
    }))
    spark.stop()
  }
}
