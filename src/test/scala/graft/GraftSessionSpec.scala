package graft

/** The suite runs on the engine's own session, so the plans the tests
  * check are the plans the benchmark, the oracle dump and the ETL run.
  */
class GraftSessionSpec extends SparkSpec {

  test("the suite's session carries every setting GraftSession applies") {
    // the conf the session was built with, which no test's runtime
    // `spark.conf.set` changes
    val built = spark.sparkContext.getConf
    GraftSession.engineConf.foreach { case (k, v) =>
      assert(built.getOption(k) === Some(v), k)
    }
    assert(built.get("spark.master") === "local[4]")
    assert(built.get("spark.sql.shuffle.partitions") === "4")
  }

  test("the codegen cache keeps more generated classes than Spark's default 100") {
    // each projection is a new source; its classes take at least two
    // cache entries (see GraftSession.engineConf), so a 100-entry cache
    // has evicted the first 20 by the time the last one runs
    def project(i: Int) = spark.range(10).selectExpr(s"id * $i + 1").collect()
    val sc = spark.sparkContext
    val (_, first) = StageLedger.measure(sc)((1 to 150).foreach(project))
    assert(first.compiles >= 150)
    val (_, rerun) = StageLedger.measure(sc)((1 to 20).foreach(project))
    assert(rerun.compiles === 0)
  }
}
