package emibench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop with one client. */
trait Workload {
  /** Generate every input from the seed and build the state the timed
    * loop serves, under a fresh directory. Called once per set-up
    * repetition; the last call's state is the one measured. Failures
    * propagate: a set-up that cannot complete aborts the run. */
  def setup(dir: String): Unit

  /** One request round. Timed ops run through `rec.op`; layer calls run
    * through `t.call`, and when `t.enabled` each layer's result is
    * materialized before the next call. */
  def round(t: Trace, rec: Recorder): Unit

  /** Units of work one round completes (rows, queries, changed rows). */
  def itemsPerRound: Long

  /** Output checks, run after the timed window. */
  def checks(): Seq[Check]

  /** The workload's own figures, by name with unit. */
  def figures(rec: Recorder): Seq[Figure]

  /** Stated input sizes, for the result record. */
  def inputs: Seq[(String, String)]
}

final case class Check(name: String, ok: Boolean, detail: String)
final case class Figure(name: String, value: Double, unit: String)

/** A timed op that threw; the round it belongs to is abandoned. */
final class OpFailed(cause: Throwable) extends RuntimeException(cause)

/** Latency samples per op kind and per round, and failure accounting.
  * A failed op counts as attempted and failed, under its exception
  * class, and never contributes a latency sample. */
final class Recorder {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val rounds = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.LinkedHashMap.empty[String, Long]
  var attempted = 0L
  var failed = 0L

  def op[T](kind: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
      r
    } catch {
      case NonFatal(e) =>
        failed += 1
        val cls = e.getClass.getName
        failures(cls) = failures.getOrElse(cls, 0L) + 1
        System.err.println(s"[bench] op $kind failed: $e")
        throw new OpFailed(e)
    }
  }

  def ms(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
}

/** Wall time of a set-up phase, logged to stderr. */
object Phase {
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[bench]   $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, cpus: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"),
      m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = graft.GraftSession.build(o.cpus.toString)
    try run(o, spark)
    finally spark.stop()
  }

  /** The closed loop: rounds back to back for `seconds`. A round starts
    * only while the window still has room for it, judged by the median
    * round so far, so every run measures a whole number of rounds and
    * ends close to the deadline. At least one round always runs.
    * Returns the wall time of the window in seconds. */
  private def measure(wl: Workload, t: Trace, rec: Recorder, seconds: Double): Double = {
    val t0 = System.nanoTime()
    def elapsedMs = (System.nanoTime() - t0) / 1e6
    def room = rec.rounds.isEmpty && rec.attempted == 0 ||
      elapsedMs + Stats.median(rec.rounds.toSeq).max(0.0) <= seconds * 1000
    while (room) oneRound(wl, t, rec)
    (System.nanoTime() - t0) / 1e9
  }

  /** One round; a failed op abandons it without a latency sample. */
  private def oneRound(wl: Workload, t: Trace, rec: Recorder): Unit = {
    val r0 = System.nanoTime()
    try {
      t.request(wl.round(t, rec))
      rec.rounds += (System.nanoTime() - r0) / 1e6
    } catch { case _: OpFailed => () }
  }

  /** Heap the process keeps live after the window: used heap after full
    * collections, repeated until a collection frees less than 1 MiB
    * (Spark's context cleaner releases broadcasts and shuffles only after
    * a collection has queued them). */
  private def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); Thread.sleep(200); rt.totalMemory - rt.freeMemory }
    var last = used()
    var next = used()
    var n = 2
    while (last - next > (1L << 20) && n < 6) { last = next; next = used(); n += 1 }
    next / 1048576.0
  }

  /** JIT warm-up: [[WarmRounds]] untraced rounds. Rounds keep getting
    * faster for longer than a run's time budget allows (serve: 11.0, 8.2,
    * 7.3, 6.8, 6.9 s; inventory: 17, 6.9, 5.8, 5.7 s), so every run warms
    * up by the same number of rounds and all runs measure from the same
    * point of that curve. */
  private def warmUp(wl: Workload, t: Trace): Recorder = {
    val warm = new Recorder
    (1 to WarmRounds).foreach(_ => oneRound(wl, t, warm))
    if (warm.failed > 0) throw new IllegalStateException(
      s"warm-up round failed: ${warm.failures.mkString(", ")}")
    warm
  }
  private val WarmRounds = 2
  private val SetupMinReps = 3
  private val SetupMaxReps = 15
  private val SetupMinS = 3.0

  private def run(o: Opts, spark: SparkSession): Unit = {
    val wl: Workload = o.workload match {
      case "inventory" => new InventoryWorkload(spark, o.seed)
      case "serve" => new ServeWorkload(spark, o.seed)
      case "maintain" => new MaintainWorkload(spark, o.seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val work = java.nio.file.Paths.get(o.work)
    // set-up, repeated into fresh directories; the median is setup_s. A
    // cheap set-up repeats until the repetitions add up to SetupMinS, so
    // its median rests on enough samples to be steady.
    val setupS = mutable.ArrayBuffer.empty[Double]
    while (setupS.length < SetupMinReps ||
        setupS.sum < SetupMinS && setupS.length < SetupMaxReps) {
      val r = setupS.length + 1
      val t0 = System.nanoTime()
      wl.setup(work.resolve(s"setup-$r").toString)
      setupS += (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] set-up $r: ${setupS.last}%.3f s")
      if (r > 1) Gen.deleteTree(work.resolve(s"setup-${r - 1}").toString)
    }

    val off = new Trace(spark, enabled = false)
    val warm = warmUp(wl, off)
    val rec = new Recorder
    var base: Option[Recorder] = None
    val wall =
      if (!o.trace) measure(wl, off, rec, o.seconds)
      else {
        // untraced baseline for the tracing overhead, then the traced window
        val b = new Recorder
        measure(wl, off, b, o.seconds / 2)
        base = Some(b)
        val tr = new Trace(spark, enabled = true)
        val w = measure(wl, tr, rec, o.seconds / 2)
        tr.dump(work.resolve("trace.jsonl").toString)
        w
      }
    val heapMb = liveHeapMb()
    val checks = Phase("output checks")(wl.checks())
    checks.foreach(c => System.err.println(
      s"[bench] check ${c.name}: ${if (c.ok) "ok" else "FAILED"} ${c.detail}"))

    val attempted = rec.attempted + base.map(_.attempted).getOrElse(0L)
    val failed = rec.failed + base.map(_.failed).getOrElse(0L)
    // throughput over completed rounds only (a failed round did no work)
    val items = rec.rounds.length.toDouble * wl.itemsPerRound
    val metrics = Seq(
      Figure("setup_s", Stats.median(setupS.toSeq), "s"),
      Figure("round_p50_ms", Stats.median(rec.rounds.toSeq), "ms"),
      Figure("work_per_s", items / (rec.rounds.sum / 1000.0), "1/s"),
      Figure("live_heap_mb", heapMb, "MB"),
      Figure("ok_frac", 1.0 - failed.toDouble / math.max(1L, attempted), "frac"))
    val figures = Figure("error_frac", failed.toDouble / math.max(1L, attempted), "frac") +:
      wl.figures(rec)

    def figs(fs: Seq[Figure]) = fs.map(f =>
      s"""${Json.str(f.name)}:{"value":${Json.num(f.value)},"unit":${Json.str(f.unit)}}""")
      .mkString("{", ",", "}")
    val rt = Runtime.getRuntime
    val json = Seq(
      s""""workload":${Json.str(o.workload)}""",
      s""""seed":${o.seed}""",
      s""""trace":${if (o.trace) 1 else 0}""",
      s""""correct":${checks.forall(_.ok)}""",
      s""""attempted":$attempted""",
      s""""failed":$failed""",
      s""""failures":${failuresJson(rec, base)}""",
      s""""checks":${checks.map(c => s"""{"name":${Json.str(c.name)},"ok":${c.ok},"detail":${Json.str(c.detail)}}""").mkString("[", ",", "]")}""",
      s""""metrics":${figs(metrics)}""",
      s""""figures":${figs(figures)}""",
      s""""inputs":${wl.inputs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")}""",
      s""""setup_reps_s":${setupS.map(Json.num).mkString("[", ",", "]")}""",
      s""""warmup_round_ms":${warm.rounds.map(Json.num).mkString("[", ",", "]")}""",
      s""""rounds":${rec.rounds.length}""",
      s""""window_s":${Json.num(wall)}""",
      s""""round_ms":${rec.rounds.map(Json.num).mkString("[", ",", "]")}""",
      s""""untraced_round_ms":${base.map(_.rounds.map(Json.num).mkString("[", ",", "]")).getOrElse("null")}""",
      s""""cpus":${o.cpus}""",
      s""""heap_max_mb":${rt.maxMemory / 1048576}""")
    val w = new java.io.PrintWriter(o.out, "UTF-8")
    try w.println(json.mkString("{", ",", "}")) finally w.close()
  }

  private def failuresJson(rec: Recorder, base: Option[Recorder]): String = {
    val all = mutable.LinkedHashMap.empty[String, Long]
    (rec +: base.toSeq).foreach(_.failures.foreach { case (k, v) =>
      all(k) = all.getOrElse(k, 0L) + v
    })
    all.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }
}
