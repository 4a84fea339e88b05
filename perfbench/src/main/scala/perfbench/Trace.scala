package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s.JsonDSL._
import org.json4s.{JArray, JObject}

/** Counts Spark attributes to the span that was open when a job ran. */
final class LayerCounts {
  var jobs, stages, tasks = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var runMs, gcMs, cpuNs = 0L

  def add(o: LayerCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; outputBytes += o.outputBytes
    runMs += o.runMs; gcMs += o.gcMs; cpuNs += o.cpuNs
  }

  def toJson: JObject =
    ("jobs" -> jobs) ~ ("stages" -> stages) ~ ("tasks" -> tasks) ~
    ("shuffle_write_bytes" -> shuffleWriteBytes) ~ ("shuffle_read_bytes" -> shuffleReadBytes) ~
    ("spill_bytes" -> spillBytes) ~ ("input_bytes" -> inputBytes) ~
    ("input_records" -> inputRecords) ~ ("output_bytes" -> outputBytes) ~
    ("run_ms" -> runMs) ~ ("gc_ms" -> gcMs) ~ ("cpu_ns" -> cpuNs)
}

/** Listener keyed by Spark job group; the tracer names each group after
  * the open span's id. Events arrive on the listener bus thread. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, LayerCounts]

  private def counts(group: String): LayerCounts =
    byGroup.getOrElseUpdate(group, new LayerCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val c = counts(g)
    c.jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    c.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.cpuNs += m.executorCpuTime
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, run: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around the benchmark's calls into each layer. With
  * `enabled = false` a span is just its body: no listener, no job groups,
  * so untraced runs measure the program alone. */
final class Tracer(sc: SparkContext, val run: String, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  val listener: GroupListener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size + open.size + 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans += Span(id, name, parent, run, t0, t1)
      }
    }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  /** Sum of the durations of spans named `name`. */
  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Listener counts of span `id` and everything under it. */
  def countsUnder(id: Int): LayerCounts = {
    org.apache.spark.graftbridge.ListenerBridge.drain(sc)
    val ids = mutable.Set(id)
    all.foreach(s => if (ids(s.parent)) ids += s.id)
    val total = new LayerCounts
    listener.synchronized {
      ids.foreach(i => listener.byGroup.get(i.toString).foreach(total.add))
    }
    total
  }

  /** Listener counts of every span named `name`, with their children. */
  def countsOf(name: String): LayerCounts = {
    val total = new LayerCounts
    spans.filter(_.name == name).foreach(s => total.add(countsUnder(s.id)))
    total
  }

  def spansJson: JArray = JArray(all.toList.map { s =>
    val child = all.filter(_.parent == s.id).map(_.seconds).sum
    ("id" -> s.id) ~ ("name" -> s.name) ~ ("parent" -> s.parent) ~
      ("run" -> s.run) ~ ("start_ns" -> s.startNs) ~ ("end_ns" -> s.endNs) ~
      ("self_s" -> (s.seconds - child)) ~ ("counts" -> countsUnder(s.id).toJson)
  })
}
