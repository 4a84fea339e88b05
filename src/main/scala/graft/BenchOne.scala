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
    // warmup
    d.build(spark, sfDir).count()
    val runs = (1 to reps).map { _ =>
      operators.ScaledWindows.release()
      spark.catalog.clearCache()
      StageLedger.measure(spark.sparkContext)(d.build(spark, sfDir).count())._2
    }
    val best = runs.minBy(_.wallS)
    println(f"[bench-one] $name reps=$reps min=${best.wallS}%.3f " +
      f"jobs=${best.jobs} stages=${best.stages.size} task_time=${best.runMs / 1000.0}%.2f s " +
      runs.map(r => f"${r.wallS}%.3f").mkString("samples=[", ",", "]"))
    // the best rep's stages: where its task time went (call site and
    // width), the first thing to read when wall >> task/width
    // (serialism) or one stage dominates (kernel cost)
    best.stages.sortBy(-_.runMs).take(8).foreach { s =>
      println(f"[bench-one]   stage ${s.id}%4d tasks=${s.tasks}%-4d " +
        f"task_time=${s.runMs / 1000.0}%7.2f s " +
        f"shuffle_write=${s.shuffleWriteBytes / 1048576.0}%8.2f MiB  ${s.name}")
    }
    spark.stop()
  }
}
