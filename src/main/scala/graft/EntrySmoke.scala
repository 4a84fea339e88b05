package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[entry-smoke] rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry returned 0 rows")
    spark.stop()
  }
}
