package graft

/** Dev-only phase profiler: runMain graft.Prof <name> [sfDir] — splits one
  * query's wall time into analyze / optimize / physical-plan / execute
  * and prints each cold-cache rep's total.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    // Warm the session like Bench does so rep 1 isolates per-plan cost.
    spark.range(1000).selectExpr("sum(id)").collect()
    io.Sources.table(spark, sfDir, "region").groupBy("r_name").count().collect()
    import org.apache.spark.scheduler._
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStarts.put(js.jobId, System.nanoTime())
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val t0 = Option(jobStarts.get(je.jobId)).getOrElse(0L)
        println(f"[prof]   job ${je.jobId}: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val run = si.taskMetrics.executorRunTime / 1e3
        val cpu = si.taskMetrics.executorCpuTime / 1e9
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield (c - s) / 1e3).getOrElse(-1.0)
        val det = si.details.linesIterator
          .filter(l => l.contains("graft") || l.contains("Dataset"))
          .take(2).mkString(" <- ")
        println(f"[prof]     stage ${si.stageId} (${si.numTasks} tasks, wall $wall%.2fs, run $run%.2fs, cpu $cpu%.2fs): ${si.name.takeWhile(_ != '\n').take(60)} | $det")
      }
    })
    val fn = SparkEntry.queries(name)
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      var t = t0
      def lap(label: String): Unit = {
        val now = System.nanoTime()
        println(f"[prof] $name rep $i $label: ${(now - t) / 1e9}%.2fs")
        t = now
      }
      val df = fn(spark, sfDir)
      lap("build")
      df.queryExecution.analyzed
      lap("analyze")
      df.queryExecution.optimizedPlan
      lap("optimize")
      df.queryExecution.executedPlan
      lap("physical")
      val n = df.count()
      lap(s"execute(rows=$n)")
      println(f"[prof] $name rep $i total: ${(t - t0) / 1e9}%.2fs rows=$n")
      // cold-cache between reps, matching Bench's methodology (r17):
      // without it, pinned-model operators time their cache REUSE from
      // rep 2 on, not the query
      graft.releaseCheckpoints(df)
      CacheScope.release(spark)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
