package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Counts Spark jobs/stages/tasks and their wall time for one or more
  * registered queries — the r18 verdict's task-7 profile ("the walk is
  * hop-job-bound, not CPU-bound: profile the unrolled schedule's
  * per-job overhead"). Usage: runMain graft.tools.JobProfile <query ...>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session()
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var jobWallMs = 0L
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val verbose = sys.env.get("JOBPROFILE_VERBOSE").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs += 1; starts.put(js.jobId, js.time)
        if (verbose) {
          val cs = Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          System.err.println(s"[job] start ${js.jobId} $cs")
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.getOrDefault(je.jobId, je.time)
        jobWallMs += (je.time - s)
        if (verbose)
          System.err.println(s"[job] end   ${je.jobId} ${je.time - s}ms")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages += 1; tasks += sc.stageInfo.numTasks
        if (verbose) {
          val si = sc.stageInfo
          val ms = (for {a <- si.completionTime; b <- si.submissionTime}
            yield a - b).getOrElse(-1L)
          System.err.println(s"[stage] ${si.stageId} ${ms}ms " +
            s"tasks=${si.numTasks} ${si.name.take(120)}")
        }
      }
    })
    // warmup identical to Bench so JIT/codegen costs don't pollute
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"warmup: ${e.getMessage}") }
    args.foreach { name =>
      // settle listener
      Thread.sleep(500)
      jobs = 0; stages = 0; tasks = 0; jobWallMs = 0L
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let listener drain
      println(f"[jobprofile] $name%-24s wall=${dt}%7.2fs jobs=$jobs%4d " +
        f"stages=$stages%4d tasks=$tasks%6d jobWall=${jobWallMs / 1000.0}%7.2fs")
    }
    spark.stop()
  }
}
