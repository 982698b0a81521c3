package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Time one gate query by name: `runMain graft.RunOne <name> [sfDir] [reps]`.
  * Prints per-rep wall seconds and the row count — the single-query
  * profiling loop used when optimizing an operator (Bench runs all 90+).
  *
  * After each rep it also prints that rep's per-JOB breakdown: every
  * job's (description, wall ms, #tasks) with the driver-side gap before
  * it, then the sum of job time against the rep's driver-side rest. A
  * lifecycle gate is a chain of many small Spark actions, so one wall
  * number cannot say WHERE the time goes; the gaps are manifest IO,
  * planning and FS round-trips — the costs to look for when "nothing is
  * running". The `[runone] <name> repN rows=… s` line is the one
  * `scripts/bench_canary.sh` parses; the job lines print under
  * `[runone-job]`, which that parse does not match.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse(js.stageInfos.lastOption.map(_.name.take(90)).getOrElse("?"))
        jobs.put(js.jobId, (js.time, desc, js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobs.get(je.jobId)).foreach { case (t0, desc, tasks) =>
          done.add((je.jobId, t0, je.time, desc, tasks))
        }
    })
    // mirror Bench's hot-table methodology (spread + persist) so the
    // single-query loop measures the same condition the suite does;
    // SPARK_GRAFT_NO_HOT=1 turns it off (plan captures need the raw
    // parquet scans, not the substituted in-memory relation)
    if (!sys.env.get("SPARK_GRAFT_NO_HOT").contains("1")) Tables.loadHot(spark, sfDir)
    val fn = SparkEntry.queries(name)
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) {
      println(s"[runone] $name plan:")
      println(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      Caching.release()
    }
    (1 to reps).foreach { i =>
      done.clear()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      Caching.release()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[runone] $name rep$i rows=$n $secs%.3f s")
      Thread.sleep(200) // let this rep's listener events drain
      val rows = {
        val it = done.iterator(); val b = Seq.newBuilder[(Int, Long, Long, String, Int)]
        while (it.hasNext) b += it.next()
        b.result().filter(_._2 >= wall0).sortBy(_._2) // this rep's jobs only
      }
      var lastEnd = wall0
      rows.foreach { case (id, s, e, desc, tasks) =>
        val gap = s - lastEnd
        lastEnd = math.max(lastEnd, e)
        println(f"[runone-job]   job$id%3d +${gap}%5d ms gap | ${e - s}%6d ms, $tasks%4d tasks | ${desc.take(110)}")
      }
      val jobMs = rows.map(r => r._3 - r._2).sum
      println(f"[runone-job]   ${rows.size} jobs, sum(job)=${jobMs}ms driver-side=${(secs * 1000).toLong - jobMs}ms")
    }
    spark.stop()
  }
}
