package emibench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans and counters around the benchmark's calls into the library.
  *
  * A span is one call into a layer (or one whole request: a pipeline
  * iteration, a query batch, a maintenance cycle). Each records name,
  * layer, start, end, parent span and request id, plus counter deltas
  * taken at its boundaries: Hadoop `FileSystem` operations and bytes,
  * and `ServingCache` hits and misses. Spark counters come from a
  * listener: every call runs under a job group named after its span,
  * so jobs, tasks, shuffle, spill, input and output bytes are summed
  * per span. Everything stays in memory and is written by [[dump]].
  *
  * With `enabled = false` the spans are not recorded, no listener is
  * registered and no job group is set: the untraced run executes the
  * calls exactly as an application would. */
final class Trace(spark: SparkSession, val enabled: Boolean) {

  final class Span(val id: Int, val parent: Int, val req: Int,
      val name: String, val layer: String, val startNs: Long) {
    var endNs: Long = 0L
    val counters = mutable.LinkedHashMap.empty[String, Long]
  }

  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var reqId = 0

  // listener state, keyed by span id (the job group)
  private final class JobRec(val span: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val sparkCounters =
    new ConcurrentHashMap[(Int, String), AtomicLong]()

  private def add(span: Int, key: String, v: Long): Unit =
    if (v != 0L) sparkCounters
      .computeIfAbsent((span, key), _ => new AtomicLong()).addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.flatMap(_.stripPrefix("span-").toIntOption).getOrElse(-1)
      jobs.put(e.jobId, new JobRec(span, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      add(span, "jobs", 1L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.stripPrefix("span-").toIntOption)
        .foreach(s => stageSpan.putIfAbsent(e.stageInfo.stageId, s))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(e.stageId, -1)
      add(span, "tasks", 1L)
      val m = e.taskMetrics
      if (m != null) {
        add(span, "input_bytes", m.inputMetrics.bytesRead)
        add(span, "output_bytes", m.outputMetrics.bytesWritten)
        add(span, "shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(span, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(span, "spill_disk_bytes", m.diskBytesSpilled)
        add(span, "task_run_ms", m.executorRunTime)
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** File-system counters of every Hadoop `FileSystem` in the process. */
  private def fsCounters(): Array[Long] = {
    val out = new Array[Long](4)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.foreach { s =>
      out(0) += s.getReadOps + s.getLargeReadOps
      out(1) += s.getWriteOps
      out(2) += s.getBytesRead
      out(3) += s.getBytesWritten
    }
    out
  }
  private val fsKeys = Array("fs_read_ops", "fs_write_ops", "fs_read_bytes",
    "fs_write_bytes")

  /** One request round (a root span with a fresh request id). */
  def request[T](body: => T): T = {
    reqId += 1
    span("round", "request")(body)
  }

  /** One call into `layer` (a child of the open request span). */
  def call[T](layer: String, name: String)(body: => T): T =
    span(name, layer)(body)

  private def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val s = new Span(spans.length, parent.map(_.id).getOrElse(-1), reqId,
      name, layer, System.nanoTime())
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    val fs0 = fsCounters()
    val (h0, m0) = graft.ops.ServingCache.stats()
    try body
    finally {
      s.endNs = System.nanoTime()
      val fs1 = fsCounters()
      fsKeys.indices.foreach(i => s.counters(fsKeys(i)) = fs1(i) - fs0(i))
      val (h1, m1) = graft.ops.ServingCache.stats()
      s.counters("cache_hits") = h1 - h0
      s.counters("cache_misses") = m1 - m0
      stack = stack.tail
      parent match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Add a benchmark-known count to the innermost open span. */
  def count(key: String, v: Long): Unit =
    if (enabled) stack.headOption.foreach { s =>
      s.counters(key) = s.counters.getOrElse(key, 0L) + v
    }

  /** Write spans and jobs as JSON lines: `{"kind":"span",...}` and
    * `{"kind":"job",...}`. Times are ms since the trace started. */
  def dump(path: String): Unit = {
    if (!enabled) return
    // listener events are asynchronous: wait until the bus has drained
    // what the last span submitted
    org.apache.spark.BenchBus.drain(spark.sparkContext, 60000L)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      def ms(ns: Long) = (ns - t0Ns) / 1e6
      val bySpan = sparkCounters.asScala.toSeq.groupBy(_._1._1)
      spans.foreach { s =>
        val fromSpark = bySpan.getOrElse(s.id, Nil).map { case ((_, k), v) => k -> v.get }
        val all = (s.counters ++ fromSpark).map { case (k, v) => s""""$k":$v""" }
        w.println(s"""{"kind":"span","id":${s.id},"parent":${s.parent},""" +
          s""""req":${s.req},"name":${Json.str(s.name)},""" +
          s""""layer":${Json.str(s.layer)},"start_ms":${ms(s.startNs)},""" +
          s""""end_ms":${ms(s.endNs)},"counters":{${all.mkString(",")}}}""")
      }
      jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, j) =>
        w.println(s"""{"kind":"job","id":$id,"span":${j.span},""" +
          s""""start_ms":${j.startMs - t0Ms},"end_ms":${j.endMs - t0Ms}}""")
      }
    } finally w.close()
  }
}

/** Minimal JSON string escaping for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
