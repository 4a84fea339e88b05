package graft

/** Dev tool: time ONE named query repeatedly (and optionally print its
  * formatted plan) — the per-query iteration loop `Bench` is too coarse
  * for. Usage:
  *   runMain graft.BenchOne <name> [reps] [--explain]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <queryName> [reps] [--explain]")
    val name = args(0)
    val reps = args.drop(1).find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    val explain = args.contains("--explain")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the engine's own session: the ledger measures the config the
    // tests and the benchmark run
    val spark = GraftSession.local()
    val d = SparkEntry.allDefs.find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name (see SparkEntry.allDefs)"))
    if (explain) d.build(spark, sfDir).explain("formatted")
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    val stages = new java.util.concurrent.atomic.AtomicLong()
    val taskTime = new java.util.concurrent.atomic.AtomicLong() // ms
    // per-stage ledger for the LAST rep: where the task time actually
    // goes (stage callsite + width) — the first thing to read when wall
    // >> task/width (serialism) or one stage dominates (kernel cost)
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, String, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          taskTime.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
          stageRows.add((s.stageInfo.stageId, s.stageInfo.name.takeWhile(_ != '\n'),
            s.stageInfo.numTasks, s.stageInfo.taskMetrics.executorRunTime,
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten))
        }
      })
    // warmup
    d.build(spark, sfDir).count()
    val times = (1 to reps).map { _ =>
      operators.ScaledWindows.release()
      spark.catalog.clearCache()
      jobs.set(0); stages.set(0); taskTime.set(0); stageRows.clear()
      val t0 = System.nanoTime()
      d.build(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
      (dt, jobs.get(), stages.get(), taskTime.get())
    }
    val best = times.minBy(_._1)
    println(f"[bench-one] $name reps=$reps min=${best._1}%.3f " +
      f"jobs=${best._2} stages=${best._3} task_time=${best._4 / 1000.0}%.2f s " +
      times.map(t => f"${t._1}%.3f").mkString("samples=[", ",", "]"))
    import scala.jdk.CollectionConverters._
    stageRows.asScala.toSeq.sortBy(-_._4).take(8).foreach {
      case (id, nm, n, ms, sw) =>
        println(f"[bench-one]   stage $id%4d tasks=$n%-4d task_time=${ms / 1000.0}%7.2f s " +
          f"shuffle_write=${sw / 1048576.0}%8.2f MiB  $nm")
    }
    spark.stop()
  }
}
