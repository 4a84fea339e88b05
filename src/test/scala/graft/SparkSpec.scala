package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (sessions are expensive;
  * ScalaTest suites run sequentially in one forked JVM per `build.sbt`).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Smallest driver corpus — read-only, used for cross-checks. */
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  def spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir

  /** The session is shared across every suite: release per-suite cache
    * accretion (ScaledWindows pass-1 relations, query-local persists) so
    * a long `sbt test` run doesn't grow executor storage suite by suite.
    */
  override protected def afterAll(): Unit = {
    graft.operators.ScaledWindows.release()
    spark.catalog.clearCache()
    super.afterAll()
  }
}
