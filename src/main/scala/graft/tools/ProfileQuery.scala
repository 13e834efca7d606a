package graft.tools

import org.apache.spark.scheduler._

/** Per-query job/stage profiler — the guide §1 "measure first" loop for a
  * single declared query: runs `SparkEntry.queries(name)` through the noop
  * sink exactly like Bench, with a listener that prints one line per job
  * (duration, description) and per stage (duration, task count, shuffle
  * read/write bytes). Output goes to stderr so it never pollutes a bench
  * JSON line. Usage: `runMain graft.tools.ProfileQuery <sfDir> <query>
  * [repeat]`.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.tools.ProfileQuery <sfDir> <query>[,<query>...] [repeat]")
      sys.exit(2)
    }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // comma-separated list: several queries share one session (and one
    // ~90 s benchSetup pass) — per-query cache hygiene below matches Bench
    val names = args(1).split(",").toSeq
    val repeat = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.builder().getOrCreate()

    val runStart = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stageInfo = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobStart.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobStart.get(je.jobId)).foreach { case (t0, desc) =>
          val dt = (System.nanoTime() - t0) / 1e9
          // start offset (since run start) exposes DRIVER-ONLY gaps
          // between jobs — Catalyst analysis over deep lineage plans
          val off = (t0 - runStart.get()) / 1e9
          if (dt > 0.02)
            System.err.println(
              f"[prof] job ${je.jobId}%4d ${dt}%8.3f s @ $off%8.3f  $desc")
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        if (ms > 20)
          stageInfo.add(f"[prof]   stage ${si.stageId}%4d ${ms / 1e3}%8.3f s " +
            f"tasks=${si.numTasks}%4d sr=${si.taskMetrics.shuffleReadMetrics.totalBytesRead}%9d " +
            f"sw=${si.taskMetrics.shuffleWriteMetrics.bytesWritten}%9d  ${si.name.take(40)} " +
            s"rdds=[${si.rddInfos.map(_.name).filter(_ != null).distinct.mkString(",").take(200)}]")
      }
    })

    // same warmup as Bench so JIT/codegen cost doesn't land on run 1
    try graft.SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    graft.SparkEntry.benchSetup.foreach { case (sn, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[prof] setup $sn FAILED: ${e.getMessage}") }
      System.err.println(f"[prof] setup $sn ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    names.foreach { name =>
      (1 to repeat).foreach { i =>
        System.err.println(s"\n[prof] ===== $name run $i =====")
        runStart.set(System.nanoTime())
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.GraftCaches.unpersistAll(blocking = true)
        System.err.println(f"[prof] ===== $name run $i TOTAL $dt%.3f s =====")
        stageInfo.forEach(s => System.err.println(s))
        stageInfo.clear()
      }
    }
    graft.GraftCaches.releaseArtifacts(blocking = true)
    spark.stop()
  }
}
