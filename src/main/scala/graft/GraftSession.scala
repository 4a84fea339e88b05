package graft

import org.apache.spark.sql.SparkSession

/** The graft engine's one session factory — the counterpart of the
  * reference's `create_spark_session` (etl.py:21–27). Every session the
  * engine runs on is built here: the test suite (`TestSpark`), the
  * oracle dump (`Verify`), both benches (`Bench`, `BenchOne`, and
  * perfbench's `etl_full`/`queries_heavy`), `CapstoneEtl.main`, and the
  * tools (`Explain`, `EntrySmoke`, `CanaryFloor`, `ScaleProbe`,
  * `WidthAudit`). So the plans the tests check are the plans the
  * benchmark times and the ETL runs.
  *
  * One JVM, `local[cpus]`, by default; on a real cluster only `master`
  * changes — shuffle partitioning is driven by AQE
  * (`spark.sql.adaptive.enabled`), which re-plans partition counts, skew
  * joins, and broadcast conversion at runtime, so the same code scales
  * from sf0.001 to 100 TB.
  */
object GraftSession {

  /** Object-store (s3a://) session configuration — the concrete form of
    * the reference's S3-targeted session (etl.py:22–26 configures the
    * Hadoop-AWS package and writes the star schema to an S3 bucket).
    * Pure config seam: applies the standard s3a client settings to a
    * session builder so the SAME pipeline code reads/writes
    * `s3a://bucket/...` paths on a cluster where the hadoop-aws jars are
    * on the classpath (this container has none, so the seam is
    * spec-covered at the conf level only, like the SAS reader seam).
    *
    * The magic committer matters at 100 TB: the default file-rename
    * committer turns a job commit into an O(files) sequential copy on
    * S3; the magic committer makes task commit a metadata operation.
    */
  val objectStoreConf: Map[String, String] = Map(
    "spark.hadoop.fs.s3a.impl" -> "org.apache.hadoop.fs.s3a.S3AFileSystem",
    "spark.hadoop.fs.s3a.aws.credentials.provider" ->
      "org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider",
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.sql.sources.commitProtocolClass" ->
      "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class" ->
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
    "spark.hadoop.fs.s3a.connection.maximum" -> "96",
    "spark.hadoop.fs.s3a.fast.upload" -> "true")

  def withObjectStore(b: SparkSession.Builder): SparkSession.Builder =
    b.config(objectStoreConf)

  /** The session width: `SPARK_GRAFT_CPUS`, or the host's processor
    * count when it is unset. This is the harness contract every main
    * and the benchmark share; nothing else reads the variable.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Every setting [[local]] applies besides master and shuffle width. */
  val engineConf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Let AQE coalesce INSIDE cached plans too (off by default so a
    // cache's partitioning is stable for reuse). Off, a persisted
    // relation freezes its pre-AQE shuffle width — a 4k-row distinct
    // cached at shuffle.partitions=32 is then scanned at 32 tasks by
    // every consumer, and the per-task columnar-cache overhead
    // (~100 ms) dwarfs the data: q146 measured 198 tasks / 22 s of
    // task time for 10k events, vs 12 tasks / 0.6 s with this on.
    // User repartition(n) calls are still honored (AQE never
    // coalesces REPARTITION_BY_NUM shuffles), so the class-C
    // serialization fixes keep their pinned width.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.int96RebaseModeInRead" -> "CORRECTED",
    "spark.ui.enabled" -> "false",
    // the status store retains plan-description strings per execution
    // (default 1000) even with the UI off — over a test suite's, a
    // Verify dump's or a Bench sweep's hundreds of wide plans that is
    // the dominant driver-heap leak
    "spark.sql.ui.retainedExecutions" -> "20",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    // Spark's cache of generated classes is an LRU of 100 entries by
    // default, keyed by classloader and source, so a whole-stage source
    // takes two entries: the driver compiles it when the plan executes
    // and the local executor again under its task classloader. One pass
    // of perfbench's queries_heavy (six queries) compiles 276 classes, one
    // entry each, so at 100 its timed second pass compiled 313 classes
    // again and the JIT re-warmed them. 1000 is 3.6x that working set. A
    // static conf: the cache is sized once per JVM, at its first use.
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  /** A session on `local[cpus]` with `cpus` shuffle partitions, or on
    * `master` when one is given (a deployment's `SPARK_MASTER`).
    */
  def local(cpus: Int = GraftSession.cpus,
      master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(engineConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
