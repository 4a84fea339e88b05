package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.pipeline.{CapstoneEtl, Clean, QualityChecks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.json4s.JsonDSL._
import org.json4s.{JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, render}

/** One benchmark JVM. `run.py` launches it, fresh per run, and turns the
  * JSON it writes into the benchmark's metrics and checks.
  *
  * {{{
  * BenchMain etl <inputDir> <outDir> <trace 0|1> <result.json>
  * BenchMain queries <corpusDir> <q1,q2,...> <trace 0|1> <result.json>
  * BenchMain fingerprint <dumpDir> <q1,q2,...> <result.json>
  * }}}
  *
  * Untraced, the timed section calls the engine exactly as its own mains
  * do. Traced, spans wrap each call into a layer and the lazy layers are
  * forced one at a time through the `noop` sink.
  */
object BenchMain {

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("etl") if args.length == 5 =>
        etl(args(1), args(2), args(3) == "1", args(4))
      case Some("queries") if args.length == 5 =>
        queries(args(1), args(2).split(",").toSeq, args(3) == "1", args(4))
      case Some("fingerprint") if args.length == 4 =>
        fingerprintDump(args(1), args(2).split(",").toSeq, args(3))
      case _ =>
        System.err.println("usage: BenchMain etl|queries|fingerprint ... (see scaladoc)")
        sys.exit(2)
    }
    // a lingering non-daemon thread must not keep the run alive
    sys.exit(0)
  }

  private def session(): (SparkSession, Double) = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.local(cpus)
    (spark, ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** (steal, total) jiffies of all CPUs since boot, from /proc/stat. */
  private def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val ticks = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (ticks.length > 7) ticks(7) else 0L, ticks.sum)
  }

  /** Share of CPU time the hypervisor stole since `t0` = cpuTicks(). */
  private def stealSince(t0: (Long, Long)): Double = {
    val t1 = cpuTicks()
    (t1._1 - t0._1).toDouble / math.max(t1._2 - t0._2, 1L)
  }

  private def jvmJson(spark: SparkSession): JObject = {
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    ("peak_rss_mib" -> rss) ~ ("heap_peak_mib" -> heap) ~
      ("jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3) ~
      ("gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3) ~
      ("gc_count" -> gcs.map(_.getCollectionCount).sum) ~
      ("java" -> System.getProperty("java.runtime.version")) ~
      ("spark" -> spark.version) ~
      ("cores" -> spark.sparkContext.defaultParallelism)
  }

  /** Waits, at most `maxS` seconds, until the JIT compilers have been
    * idle for a second (under 0.1 s of compile time), so a timed section
    * does not share the CPUs with an earlier section's compile backlog. */
  private def quiesceJit(maxS: Double): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = jit.getTotalCompilationTime
    var idle = false
    while (!idle && secondsSince(t0) < maxS) {
      Thread.sleep(1000)
      val now = jit.getTotalCompilationTime
      idle = now - last < 100
      last = now
    }
  }

  private def write(path: String, json: JValue): Unit =
    Files.writeString(Paths.get(path), compact(render(json)))

  private def forceNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---------------------------------------------------------------- etl

  /** read → buildStarSchema → writeStarSchema → checkAll, with spans
    * around each layer; returns the QC results. */
  private def pipeline(spark: SparkSession, in: String, out: String,
      tr: Tracer): Seq[QualityChecks.QcResult] = tr.span("etl") {
    val traced = tr.enabled
    val raw = tr.span("scan") {
      val r = Seq(
        CapstoneEtl.readImmigration(spark, s"$in/immigration.csv"),
        CapstoneEtl.readTemperature(spark, s"$in/temperatures.csv"),
        CapstoneEtl.readDemographics(spark, s"$in/demographics.csv"),
        CapstoneEtl.readCountryCodes(spark, s"$in/i94res.csv"))
      if (traced) r.zip(Seq("immigration", "temperatures", "demographics", "i94res"))
        .foreach { case (df, n) => tr.span(s"scan.$n")(forceNoop(df)) }
      r
    }
    val Seq(imm, temp, demo, codes) = raw
    if (traced) tr.span("clean") {
      tr.span("clean.immigration")(forceNoop(Clean.cleanImmigration(imm)))
      tr.span("clean.temperatures")(forceNoop(Clean.cleanTemperature(temp)))
      tr.span("clean.demographics")(forceNoop(Clean.cleanDemographics(demo)))
    }
    val t = tr.span("starschema") {
      val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
      if (traced) starTables(t).foreach { case (n, df) =>
        tr.span(s"starschema.$n")(forceNoop(df)) }
      t
    }
    tr.span("write")(CapstoneEtl.writeStarSchema(t, out))
    tr.span("qc")(QualityChecks.checkAll(t.fact, t.visa, t.calendar, t.country, t.demographics))
  }

  /** The capstone job as it runs in production: once, in a fresh JVM. */
  def etl(in: String, out: String, traced: Boolean, result: String): Unit = {
    val (spark, setupS) = session()
    val tr = new Tracer(spark.sparkContext, "etl", traced)
    val (t0, ticks0) = (System.nanoTime(), cpuTicks())
    val qc = pipeline(spark, in, out, tr)
    val wall = secondsSince(t0)
    val steal = stealSince(ticks0)
    val jvm = jvmJson(spark)

    // Untimed: what the cleaning rules kept and the pipeline wrote. Raw
    // row counts are the input files' lines (run.py counts them).
    val rawTemp = CapstoneEtl.readTemperature(spark, s"$in/temperatures.csv")
    val tempNonNull = rawTemp.where(col("AverageTemperature").isNotNull).count()
    val tempClean = Clean.cleanTemperature(rawTemp).count()
    val star = starNames.map(n => n -> spark.read.parquet(s"$out/$n").count()).toMap
    val parts = listFiles(new File(out)).filter(_.getName.startsWith("part-"))
    val inputs = new File(in).listFiles().filter(_.getName.endsWith(".csv"))

    val layers = if (!traced) JObject() else {
      val scan = tr.countsOf("scan")
      val qcC = tr.countsOf("qc")
      ("scan.s" -> tr.seconds("scan")) ~
        ("scan.input_mib" -> scan.inputBytes / 1048576.0) ~
        ("scan.records" -> scan.inputRecords) ~
        // forced time of the layer's outputs minus that of its inputs
        ("clean.s" -> (tr.seconds("clean") - Seq("immigration", "temperatures", "demographics")
          .map(n => tr.seconds(s"scan.$n")).sum)) ~
        ("starschema.s" -> (tr.seconds("starschema") - tr.seconds("clean"))) ~
        ("write.s" -> tr.seconds("write")) ~
        ("qc.s" -> tr.seconds("qc")) ~
        ("qc.input_mib" -> qcC.inputBytes / 1048576.0) ~
        ("counts" -> tr.countsOf("etl").toJson)
    }
    write(result,
      ("setup_s" -> setupS) ~ ("wall_s" -> wall) ~ ("steal_share" -> steal) ~
      ("jvm" -> jvm) ~
      ("qc" -> qc.map(r => ("table" -> r.table) ~ ("check" -> r.check) ~
        ("count" -> r.count) ~ ("passed" -> r.passed))) ~
      ("rows" -> ("temperatures_nonnull" -> tempNonNull) ~
        ("temperatures_clean" -> tempClean) ~ ("star" -> star)) ~
      ("input_bytes" -> inputs.map(_.length).sum) ~
      ("output" -> ("bytes" -> parts.map(_.length).sum) ~ ("files" -> parts.length) ~
        ("leaf_dirs" -> parts.map(_.getParent).distinct.length)) ~
      ("layers" -> layers) ~
      ("spans" -> tr.spansJson))
    spark.stop()
  }

  /** Output directories `writeStarSchema` writes, in `starTables` order. */
  private val starNames = Seq("immigration_fact", "visa_type_dim",
    "immigration_calendar_dim", "country_dim", "usa_demographics_dim")

  private def starTables(t: CapstoneEtl.StarSchemaTables): Seq[(String, DataFrame)] =
    starNames.zip(Seq(t.fact, t.visa, t.calendar, t.country, t.demographics))

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(listFiles) else Seq(f)

  // ------------------------------------------------------------ queries

  private final case class Exec(name: String, pass: String, wallS: Double,
      fp: Either[String, Fingerprint])

  /** Corpus tables a query's analyzed plan reads. */
  private def tablesOf(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
    }.flatten.distinct.sorted

  /** An untimed warm-up pass over `names`, then one timed pass over them. */
  def queries(dir: String, names: Seq[String], traced: Boolean, result: String): Unit = {
    val (spark, createS) = session()
    val defs = graft.SparkEntry.allDefs.map(d => d.name -> d).toMap
    val order = names.map(n => defs.getOrElse(n, sys.error(s"unknown query $n")))
    val untraced = new Tracer(spark.sparkContext, "warmup", false)
    val tr = new Tracer(spark.sparkContext, "queries", traced)
    val tables = scala.collection.mutable.Map.empty[String, Seq[String]]

    def run(d: graft.QueryDef, pass: String, tr: Tracer): Exec = {
      graft.operators.ScaledWindows.release()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val fp =
        try {
          val df = tr.span("plan") {
            val df = d.build(spark, dir)
            df.queryExecution.executedPlan
            df
          }
          val fp = tr.span("exec")(Fingerprint.of(df))
          tables.getOrElseUpdate(d.name, tablesOf(df))
          Right(fp)
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${d.name} failed: $e")
            Left(e.toString)
        }
      Exec(d.name, pass, secondsSince(t0), fp)
    }

    val (w0, ticksW) = (System.nanoTime(), cpuTicks())
    val warm = order.map(run(_, "warmup", untraced))
    quiesceJit(20)
    val warmupS = secondsSince(w0)
    val warmupJitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val warmupSteal = stealSince(ticksW)

    // one pass, traced or not: a run of the benchmark repeats whole JVMs
    val (p0, ticks0) = (System.nanoTime(), cpuTicks())
    val timed = tr.span("pass") {
      order.map(d => tr.span(s"query.${d.name}")(run(d, if (traced) "traced" else "timed", tr)))
    }
    val passS = secondsSince(p0)
    val steal = math.max(warmupSteal, stealSince(ticks0))

    val jvm = jvmJson(spark)
    val layers = if (!traced) JObject() else {
      ("plan_s" -> tr.seconds("plan")) ~
        ("exec_s" -> tr.seconds("exec")) ~
        ("query_s" -> order.map(d => d.name -> tr.seconds(s"query.${d.name}")).toMap) ~
        ("counts" -> tr.countsOf("pass").toJson)
    }
    val corpus = tables.values.flatten.toSeq.distinct.map { t =>
      t -> (spark.read.parquet(s"$dir/$t.parquet").count(), new File(s"$dir/$t.parquet").length)
    }.toMap
    def execJson(e: Exec): JObject = ("name" -> e.name) ~ ("pass" -> e.pass) ~
      ("wall_s" -> e.wallS) ~ ("error" -> e.fp.fold[JValue](JString(_), _ => JNull)) ~
      ("fp" -> e.fp.fold(_ => JNull, _.toJson))
    write(result,
      ("setup_s" -> (createS + warmupS)) ~ ("create_s" -> createS) ~ ("warmup_s" -> warmupS) ~
      ("pass_s" -> passS) ~ ("steal_share" -> steal) ~
      // JIT CPU time up to the end of the warm-up; jvm.jit_s is the whole unit's
      ("warmup_jit_s" -> warmupJitS) ~ ("jvm" -> jvm) ~
      ("execs" -> (warm ++ timed).map(execJson)) ~
      ("tables" -> tables.toMap) ~
      ("corpus" -> corpus.map { case (t, (rows, bytes)) => t -> (("rows" -> rows) ~ ("bytes" -> bytes)) }) ~
      ("layers" -> layers) ~
      ("spans" -> tr.spansJson))
    spark.stop()
  }

  /** Fingerprints of a `graft.Verify` dump: `<dumpDir>/<query>`. */
  def fingerprintDump(dumpDir: String, names: Seq[String], result: String): Unit = {
    val (spark, _) = session()
    write(result, JObject(names.toList.map { n =>
      n -> (Fingerprint.of(spark.read.parquet(s"$dumpDir/$n")).toJson: JValue)
    }))
    spark.stop()
  }
}
