package graft

import org.apache.spark.SparkException

class StageLedgerSpec extends SparkSpec {

  private def sc = spark.sparkContext
  private def count(parts: Int): Long = sc.parallelize(1 to 100, parts).count()

  test("a single-stage action is one job of one stage per partition") {
    val (n, run) = StageLedger.measure(sc)(count(4))
    assert(n === 100)
    assert(run.jobs === 1)
    assert(run.stages.map(_.tasks) === Seq(4))
    assert(run.shuffleWriteBytes === 0 && run.wallS > 0)
  }

  test("every job carries the caller's job group") {
    sc.setJobGroup("ledger-spec", "ledger-spec", interruptOnCancel = false)
    val (_, run) = try StageLedger.measure(sc) { count(2); count(3) } finally sc.clearJobGroup()
    assert(run.jobGroups === Seq(Some("ledger-spec"), Some("ledger-spec")))
    assert(StageLedger.measure(sc)(count(2))._2.jobGroups === Seq(None))
  }

  test("an n-way repartition: a map stage writes the shuffle, n reduce tasks read it") {
    val (_, run) = StageLedger.measure(sc)(sc.parallelize(1 to 1000, 3).repartition(5).count())
    assert(run.jobs === 1)
    assert(run.stages.map(_.tasks) === Seq(3, 5))
    val Seq(map, reduce) = run.stages
    assert(map.shuffleWriteBytes > 0)
    assert(reduce.shuffleReadBytes === map.shuffleWriteBytes)
    assert(run.shuffleWriteBytes === map.shuffleWriteBytes)
  }

  test("hottest is the stage with the most executor run time") {
    def stage(id: Int, runMs: Long) = StageLedger.Stage(id, s"s$id", 1, runMs, 0, 0, 0)
    val run = StageLedger.Run(1.0, Nil, Seq(stage(1, 5), stage(2, 50), stage(3, 7)), 0, 0)
    assert(run.hottest.map(_.id) === Some(2))
    assert(run.copy(stages = Nil).hottest === None)
    // measured: four sleeping map tasks outweigh the two-task reduce
    val (_, slept) = StageLedger.measure(sc) {
      sc.parallelize(1 to 4, 4).map { i => Thread.sleep(100); i }.repartition(2).count()
    }
    assert(slept.hottest.map(_.tasks) === Some(4))
    assert(slept.hottest.get.runMs >= 400)
  }

  test("a failing body propagates, and the next run reports only its own jobs") {
    val e = intercept[SparkException](StageLedger.measure(sc) {
      sc.parallelize(1 to 10, 2).map(i => if (i == 7) sys.error("planted") else i).count()
    })
    assert(e.getMessage.contains("planted"))
    val (_, run) = StageLedger.measure(sc)(count(2))
    assert(run.jobs === 1)
    assert(run.stages.map(_.tasks) === Seq(2))
  }

  test("a new expression compiles its generated code once; its rerun compiles none") {
    // a literal no other query in the JVM uses, so its source is new
    def q = spark.range(10).selectExpr("id * 982451653 + 17").collect()
    val (_, first) = StageLedger.measure(sc)(q)
    assert(first.compiles >= 1)
    assert(first.compileMs > 0)
    val (_, rerun) = StageLedger.measure(sc)(q)
    assert(rerun.compiles === 0)
    assert(rerun.compileMs === 0)
  }
}
