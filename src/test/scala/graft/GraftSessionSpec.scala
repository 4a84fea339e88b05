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
}
