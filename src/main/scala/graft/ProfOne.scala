package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB time breakdown for one gate query:
  * `runMain graft.ProfOne <name> [sfDir] [reps]`.
  *
  * The lifecycle gates (bm25/ivfpq append/delete/upsert) are chains of
  * many small Spark actions, so RunOne's single wall number cannot say
  * WHERE the time goes. This attaches a listener that records every
  * job's (description, wall ms, #stages, #tasks) plus the driver-side
  * gaps between jobs — the gaps are manifest IO / planning / FS
  * round-trips, exactly the costs the optimization guide says to look
  * for when "nothing is running" (§7.3). Dev instrument only; not part
  * of the driver contract.
  */
object ProfOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
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
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc, tasks) =>
          done.add((je.jobId, t0, je.time, desc, tasks))
        }
      }
    })
    // mirror Bench's hot-table methodology (spread + persist)
    if (!sys.env.get("SPARK_GRAFT_NO_HOT").contains("1")) Tables.loadHot(spark, sfDir)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      done.clear()
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      val n = fn(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener events drain
      val rows = {
        val it = done.iterator(); val b = Seq.newBuilder[(Int, Long, Long, String, Int)]
        while (it.hasNext) b += it.next(); b.result().sortBy(_._2)
      }
      println(f"[profone] $name rep$i rows=$n total=$secs%.3f s, ${rows.size} jobs")
      var lastEnd = wall0
      rows.foreach { case (id, s, e, desc, tasks) =>
        val gap = s - lastEnd
        lastEnd = math.max(lastEnd, e)
        println(f"[profone]   job$id%3d +${gap}%5d ms gap | ${e - s}%6d ms, $tasks%4d tasks | ${desc.take(110)}")
      }
      val jobMs = rows.map(r => r._3 - r._2).sum
      println(f"[profone]   sum(job)=${jobMs}ms driver-side=${(secs * 1000).toLong - jobMs}ms")
      Caching.release()
    }
    spark.stop()
  }
}
