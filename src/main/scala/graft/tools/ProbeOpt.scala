package graft.tools

import org.apache.spark.sql.graft.SparkInternals

import graft.{GraftSession, SparkEntry}

/** Optimization-round probe: time named SparkEntry queries with the
  * bench's noop-sink methodology, INTERLEAVED (rep loop outer, queries
  * inner) so same-JVM A/B comparisons see the same block-manager /
  * GC state drift on every arm — the r10 q_hits lesson: sequential
  * per-variant timing on this box fabricates 2x differences.
  *
  * Usage: runMain graft.tools.ProbeOpt <sfDir> <reps> <name> [name...]
  */
object ProbeOpt {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val s = GraftSession.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")

    // Empirical counters (guide §1.1/§7): jobs, stages, tasks, shuffle
    // bytes per measured run — where "the plan is fine but it's slow"
    // shows up as stage-count floor or shuffle volume.
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val gcTime = new java.util.concurrent.atomic.AtomicLong
    val taskTime = new java.util.concurrent.atomic.AtomicLong
    val dumpJobs = sys.env.get("SPARK_GRAFT_PROBE_JOBS").contains("1")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        jobStart.put(j.jobId, System.nanoTime())
        ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (dumpJobs) {
          val t0 = jobStart.getOrDefault(j.jobId, 0L)
          val ms = if (t0 == 0) -1.0 else (System.nanoTime() - t0) / 1e6
          println(f"    job ${j.jobId}%4d ${ms}%8.1f ms")
        }
      override def onStageCompleted(
          st: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(st.stageInfo.numTasks.toLong)
        shufRead.addAndGet(st.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(st.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        gcTime.addAndGet(st.stageInfo.taskMetrics.jvmGCTime)
        taskTime.addAndGet(st.stageInfo.taskMetrics.executorRunTime)
        if (dumpJobs)
          println(f"    stage ${st.stageInfo.stageId}%4d tasks=${st.stageInfo.numTasks}%4d " +
            f"cpu=${st.stageInfo.taskMetrics.executorRunTime / 1000.0}%7.2fs " +
            f"gc=${st.stageInfo.taskMetrics.jvmGCTime / 1000.0}%5.2fs " +
            f"${st.stageInfo.name.take(70)}%s")
        ()
      }
    })
    def snap(): (Long, Long, Long, Long, Long, Long, Long) =
      (jobs.get, stages.get, tasks.get, shufRead.get, shufWrite.get,
        gcTime.get, taskTime.get)

    def runNoop(n: String): Double = {
      s.sparkContext.setJobDescription(n)
      val before = snap()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(s, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // listener events are async: deliver this query's before snapping
      SparkInternals.drainListenerBus(s.sparkContext)
      val after = snap()
      println(f"  [$n%s] jobs=${after._1 - before._1}%d stages=${after._2 - before._2}%d " +
        f"tasks=${after._3 - before._3}%d shufRead=${(after._4 - before._4) / 1048576.0}%.1fMiB " +
        f"shufWrite=${(after._5 - before._5) / 1048576.0}%.1fMiB " +
        f"gc=${(after._6 - before._6) / 1000.0}%.2fs taskTime=${(after._7 - before._7) / 1000.0}%.2fs")
      dt
    }

    // warmup: pay session/codegen startup outside measurement
    try SparkEntry.queries("q1_pricing_summary")(s, dir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    val times = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    names.foreach(n => times(n) = Vector())
    var r = 1
    while (r <= reps) {
      names.foreach { n =>
        try {
          val t = runNoop(n)
          times(n) = times(n) :+ t
          println(f"rep$r%d $n%s ${t}%.3f")
        } catch { case e: Throwable =>
          println(s"rep$r $n FAILED ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(160))
        }
      }
      r += 1
    }
    val load1m = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    println(f"load1m=$load1m%.2f")
    times.foreach { case (n, ts0) =>
      if (ts0.nonEmpty) {
        val ts = ts0.sorted
        val med =
          if (ts.size % 2 == 1) ts(ts.size / 2)
          else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
        println(f"MEDIAN $n%s ${med}%.3f spread ${ts.last - ts.head}%.3f")
      }
    }
    s.stop()
  }
}
