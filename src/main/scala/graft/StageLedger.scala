package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one stage-metrics collector of the tools (`BenchOne`,
  * `WidthAudit`, `ScaleProbe`) and the budget specs. `Bench`'s spill
  * meter keeps its own listener: the harness freezes `sampleOnce`.
  */
object StageLedger {

  /** One completed stage attempt: the first line of its name (the call
    * site), its task count, executor run time and shuffle and disk-spill
    * bytes, each summed over its tasks.
    */
  final case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** One measured run: wall time, each job's group in start order (`None`
    * outside a group), the stages in completion order, and the generated
    * classes Janino compiled (`compiles`, in `compileMs`). The compile
    * counters are JVM-wide: they count every session's compiles in the
    * JVM while `body` ran, on the driver and the local executor alike; a
    * class found in Spark's codegen cache counts none.
    */
  final case class Run(wallS: Double, jobGroups: Seq[Option[String]], stages: Seq[Stage],
      compiles: Long, compileMs: Double) {
    def jobs: Int = jobGroups.size
    def runMs: Long = stages.map(_.runMs).sum
    def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
    def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
    def spillBytes: Long = stages.map(_.spillBytes).sum
    def hottest: Option[Stage] = stages.maxByOption(_.runMs)
  }

  /** `body`'s result and the [[Run]] it caused. The listener bus is
    * drained before the listener is added, so earlier work is not
    * counted, and after `body`, so all of its work is; the clock stops
    * before that drain. The listener is removed even if `body` throws.
    */
  def measure[T](sc: SparkContext)(body: => T): (T, Run) = {
    val jobGroups = new ConcurrentLinkedQueue[Option[String]]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobGroups.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val (info, m) = (s.stageInfo, s.stageInfo.taskMetrics)
        stages.add(Stage(info.stageId, info.name.takeWhile(_ != '\n'), info.numTasks,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
      }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val (compiles0, compileNs0) = compileCounters()
      val t0 = System.nanoTime()
      val result = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val (compiles1, compileNs1) = compileCounters()
      ListenerBridge.drain(sc)
      (result, Run(wallS, jobGroups.asScala.toSeq, stages.asScala.toSeq,
        compiles1 - compiles0, (compileNs1 - compileNs0) / 1e6))
    } finally sc.removeSparkListener(listener)
  }

  /** Codegen compiles so far and their Janino time in nanoseconds: each
    * compile updates the compile-time histogram once and adds its
    * duration to `CodeGenerator.compileTime`.
    */
  private def compileCounters(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
