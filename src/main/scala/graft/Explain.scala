package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // the engine's own session, so the printed plans are the ones the
    // tests and the benchmark run (cache widths included)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for (d <- SparkEntry.allDefs if args.isEmpty || args.contains(d.name)) {
      println(s"===== ${d.name} =====")
      try d.build(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
