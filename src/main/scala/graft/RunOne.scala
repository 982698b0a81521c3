package graft

/** Time one gate query by name: `runMain graft.RunOne <name> [sfDir] [reps]`.
  * Prints per-rep wall seconds and the row count — the single-query
  * profiling loop used when optimizing an operator (Bench runs all 90+).
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
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
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      Caching.release()
      println(f"[runone] $name rep$i rows=$n ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
