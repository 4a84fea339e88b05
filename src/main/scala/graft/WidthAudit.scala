package graft

/** Full-surface hot-stage width audit (dev tool, like BenchOne).
  *
  * The round-10/11 class-C findings (q258, q197, q315) were expensive
  * map stages silently inheriting a 1–2-split scan's parallelism —
  * hash-green, bench-invisible unless that query was benched, and found
  * one at a time by reading BenchOne ledgers. This sweeps EVERY query:
  * run once, record the stage with the most executor task time, and
  * flag queries whose hot stage is both expensive (task time above a
  * floor) and narrow (fewer tasks than half the session width). Driver
  * DPs and collect-based S9 queries are naturally exempt — their hot
  * stage is tiny, under the floor.
  *
  * Usage: sbt "runMain graft.WidthAudit <sfDir> [minTaskMs]"
  */
object WidthAudit {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: WidthAudit <sfDir> [minTaskMs]")
    val sfDir = args(0)
    val minTaskMs = if (args.length > 1) args(1).toLong else 500L
    val spark = GraftSession.local()
    val width = spark.sparkContext.defaultParallelism

    // JIT/codegen warmup so the first queries' readings aren't inflated
    try { SparkEntry.entry(spark).count() } catch { case _: Throwable => () }
    spark.catalog.clearCache()

    var flagged = 0
    SparkEntry.allDefs.foreach { d =>
      try {
        val (_, run) = StageLedger.measure(spark.sparkContext)(d.build(spark, sfDir).count())
        for (hot <- run.hottest) {
          val narrow = hot.runMs >= minTaskMs && hot.tasks < width / 2
          if (narrow) flagged += 1
          val mark = if (narrow) "NARROW" else "ok"
          // print every row: the full ledger is the artifact, the
          // NARROW rows are the work list
          println(f"[width] ${d.name}%-36s hot_tasks=${hot.tasks}%-4d " +
            f"hot_task_ms=${hot.runMs}%-8d $mark")
        }
      } catch {
        case e: Throwable =>
          println(s"[width] ${d.name} FAILED: ${e.getMessage}")
      } finally {
        operators.ScaledWindows.release()
        spark.catalog.clearCache()
      }
    }
    println(s"[width] done: $flagged NARROW of ${SparkEntry.allDefs.size} " +
      s"(width=$width, floor=${minTaskMs}ms)")
    spark.stop()
  }
}
