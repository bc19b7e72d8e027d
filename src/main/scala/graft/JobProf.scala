package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-JOB wall-time profile of one registry entry — the tool behind
  * the "orchestration-bound vs compute-bound" calls the round verdicts
  * ask for (st22/st18/st20 family): a Spark job listener books every
  * job's wall time and call site during ONE timed run of the entry, so
  * a 7-second entry decomposes into "N jobs × overhead" vs "one hot
  * job". Construction time (frame building, eager checkpoints, Bounded
  * count jobs) is measured separately from the final noop-sink write,
  * because a per-batch/static-hoist bug shows up as construction-side
  * jobs that a stream would pay every micro-batch.
  *
  * Usage: runMain graft.JobProf <queryName> [sfDir]
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProf <queryName> [sfDir]")
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession("ERROR")

    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    @volatile var profiling = false // stage lines for the entry only
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .getOrElse(j.stageInfos.map(si => s"${si.name}[${si.numTasks}]")
            .mkString(" | "))
        starts.put(j.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != null)
          done.add((j.jobId, (System.nanoTime() - s._1) / 1e9, s._2))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
                    yield (a - b) / 1e3).getOrElse(-1.0)
        if (profiling && wall > 0.5)
          println(f"   [stage ${si.stageId}%4d] $wall%7.3f s  " +
            f"${si.numTasks}%4d tasks  run=${si.taskMetrics.executorRunTime / 1e3}%.2f s  " +
            s"${si.name.take(160)}")
      }
    })

    val q = SparkEntry.registry.find(_.name == name)
      .getOrElse(sys.error(s"unknown query: $name"))
    // Bench's warm-up (loud, all steps): JVM/codegen noise and every
    // offline artifact build happen here, so an entry that probes an
    // artifact books the probe, never the build (Bench's contract)
    Bench.warmUp(spark, sfDir)
    // the listener bus is asynchronous: let it deliver, then take what
    // has ended since the last drain
    def drain(): Seq[(Int, Double, String)] = {
      Thread.sleep(200)
      Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
    }
    drain()
    profiling = true

    val t0 = System.nanoTime()
    val entry = new graft.analytics.Materialize.Scope
    val frame = graft.analytics.Materialize.within(entry)(q.df(spark, sfDir))
    val tBuild = (System.nanoTime() - t0) / 1e9
    val buildJobs = drain()
    val t1 = System.nanoTime()
    frame.write.format("noop").mode("overwrite").save()
    val tWrite = (System.nanoTime() - t1) / 1e9
    val writeJobs = drain()

    def show(tag: String, wall: Double, jobs: Seq[(Int, Double, String)]): Unit = {
      println(f"== $tag: wall $wall%.2f s, ${jobs.size} jobs, " +
        f"job-time sum ${jobs.map(_._2).sum}%.2f s")
      jobs.sortBy(-_._2).take(25).foreach { case (id, dt, desc) =>
        println(f"   job $id%4d  $dt%7.3f s  ${desc.take(110)}")
      }
    }
    show("CONSTRUCTION (per-batch cost in a stream)", tBuild, buildJobs)
    show("WRITE (the serve itself)", tWrite, writeJobs)
    println(f"== TOTAL ${tBuild + tWrite}%.2f s, ${buildJobs.size + writeJobs.size} jobs")

    // warm repeat: same entry, same JVM — the codegen/JIT-amortized
    // number a long-lived session (or the bench's spike re-run) sees
    entry.close()
    GraftSession.release(spark)
    drain()
    val t2 = System.nanoTime()
    graft.analytics.Materialize.scoped(
      q.df(spark, sfDir).write.format("noop").mode("overwrite").save())
    val tWarm = (System.nanoTime() - t2) / 1e9
    val warmJobs = drain()
    show("WARM REPEAT (build+write)", tWarm, warmJobs)
    spark.stop()
  }
}
