package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** End-to-end capstone ETL — the reference's `etl.py main()`
  * (etl.py:82–94) re-expressed: read the three raw inputs + the country
  * mapping, clean, build the star schema, QC, write Parquet.
  *
  * Scale/plan differences from the reference (SURVEY §3.1, §4):
  *  - The cleaned immigration table feeds THREE outputs (visa dim,
  *    calendar dim, fact) — it is cached once instead of re-evaluating
  *    its lineage per output (the reference re-reads and re-cleans).
  *  - The four dimension tables are cached too (their size is bounded
  *    by dimension cardinality, not by traffic): the write materializes
  *    them and QC then checks those same rows instead of re-reading and
  *    re-cleaning the CSVs. The fact table is not cached; its QC pass
  *    re-joins the two cached inputs. The caller frees these caches with
  *    [[StarSchemaTables.release]] once QC is done.
  *  - The visa dim is joined into the fact directly instead of the
  *    reference's write-parquet-then-re-read round trip
  *    (etl_functions.py:75–76).
  *  - The country dim's per-country mean temperature averages each
  *    `(dt, City, Country)` key's smallest temperature, taken by a hash
  *    aggregation ([[Clean.temperatureKeyMinima]]): the values
  *    [[Clean.cleanTemperature]]'s dedup keeps, without its window sort.
  *  - The five table writes run as concurrent Spark jobs, so the
  *    immigration → fact/visa/calendar branch and the temperature →
  *    country branch overlap instead of running back to back; the five
  *    QC aggregations overlap the same way.
  *  - No per-step `count()` actions; QC runs one aggregation per table
  *    at the end (see [[QualityChecks.checkAll]]).
  *  - Paths are parameters; no embedded credentials (the reference ships
  *    AWS keys in config.cfg — SURVEY §7.1.7).
  *
  * Usage: `runMain graft.pipeline.CapstoneEtl <inputDir> <outputDir>`
  * where inputDir contains `immigration.csv`, `temperatures.csv`,
  * `demographics.csv` (`;`-delimited), `i94res.csv`.
  */
object CapstoneEtl {

  /** The five star-schema tables, plus the cleaned immigration table
    * they derive from. [[buildStarSchema]] caches `immigration` and the
    * four dimensions; `release` unpersists them, dimensions first so no
    * dependent cache is re-planned over a dropped one.
    *
    * Spark keys a cache by plan, so every build from the same inputs
    * shares these cache entries, and `release()` on one frees them for
    * all such builds (the others then recompute from their inputs).
    */
  final case class StarSchemaTables(
      fact: DataFrame, visa: DataFrame, calendar: DataFrame,
      country: DataFrame, demographics: DataFrame, immigration: DataFrame) {
    def release(): Unit =
      Seq(visa, calendar, country, demographics, immigration).foreach(_.unpersist())
  }

  /** Readers mirroring SURVEY §2.1 S2–S4, with explicit schemas.
    *
    * `readImmigration` is format-parameterized: the reference ingests
    * `i94_apr16_sub.sas7bdat` through a SAS DataSource (etl.py:24,
    * etl.py:42); no SAS reader exists for Spark 4 in this offline
    * environment, so the default is the CSV fixture seam — but a SAS
    * package drops in as
    * `readImmigration(spark, path, "com.github.saurfang.sas.spark",
    * Map.empty)` with no other code change.
    */
  def readImmigration(spark: SparkSession, path: String,
      format: String = "csv",
      options: Map[String, String] = Map("header" -> "true")): DataFrame =
    spark.read.schema(CapstoneSchemas.immigration)
      .format(format).options(options).load(path)

  def readTemperature(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(CapstoneSchemas.temperature)
      .option("header", "true").csv(path)

  def readDemographics(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(CapstoneSchemas.demographics)
      .option("header", "true").option("sep", ";").csv(path)

  def readCountryCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(CapstoneSchemas.countryCodes)
      .option("header", "true").csv(path)

  /** Build all five star-schema tables from raw inputs, caching the
    * cleaned immigration table and the four dimensions (lazily: the
    * first action over each fills its cache; a second build from the
    * same inputs reuses those entries). The caller calls `release()` on
    * the result when done. `compat` replays the reference's literal
    * quirks (see [[Compat]]); the default is intended semantics.
    */
  def buildStarSchema(immigrationRaw: DataFrame, temperatureRaw: DataFrame,
      demographicsRaw: DataFrame, countryCodes: DataFrame,
      compat: Compat = Compat.default): StarSchemaTables = {
    val immigration = Clean.cleanImmigration(immigrationRaw).cache()
    val temperature = Clean.temperatureKeyMinima(temperatureRaw)
    val demographics = Clean.cleanDemographics(demographicsRaw)

    val visa = StarSchema.visaTypeDim(immigration).cache()
    StarSchemaTables(
      fact = StarSchema.immigrationFact(immigration, visa, compat),
      visa = visa,
      calendar = StarSchema.calendarDim(immigration, compat).cache(),
      country = StarSchema.countryDim(immigration, countryCodes, temperature, compat).cache(),
      demographics = StarSchema.demographicsDim(demographics).cache(),
      immigration = immigration)
  }

  /** ~target bytes of one written leaf file. The row-width estimate
    * feeding it is the schema's in-memory defaultSize, which runs 2-5×
    * parquet's encoded size — so the rule over-provisions shards and
    * real files land at ~50-128 MiB, the safe side of the small-file /
    * giant-file trade. */
  private[graft] val TargetLeafFileBytes: Long = 256L << 20

  /** Floor on shard size so tiny batches are never shredded into
    * confetti files by the even-share term (a 150k-row test batch over
    * 32 slots would otherwise shard at 4.7k rows/file). */
  private[graft] val MinShardRows: Long = 65536L

  /** The SCALE.md r14 finding-3 sizing rule as code (VERDICT r14 #5):
    * split the biggest leaf into shards no bigger than (a) one target
    * file (~256 MiB at the estimated row width — the 100 TB file-size
    * cap) and (b) one even slot share of the batch (the measured
    * write-parallelism driver: fpl=1 serialized the 100× capstone
    * write to 61.7 s against fpl=8's 27.7 s because the largest leaf
    * becomes one straggler task). Clamped to [1, 64]: past 64 shards
    * per leaf the layout is telling you to add a partition column, not
    * more salt. */
  private[graft] def autoFilesPerLeaf(maxLeafRows: Long, totalRows: Long,
      estRowBytes: Long, parallelism: Int): Int = {
    val byBytes = TargetLeafFileBytes / math.max(estRowBytes, 1L)
    val byEvenShare = totalRows / math.max(parallelism, 1)
    val shard = math.max(MinShardRows, math.min(byBytes, byEvenShare))
    math.max(1, math.min(64,
      math.ceil(maxLeafRows.toDouble / shard.toDouble).toInt))
  }

  /** Cluster a batch on its hive-partition columns before a
    * `partitionBy` write, so each leaf directory is written by a
    * BOUNDED number of tasks: files ≈ leaves × filesPerLeaf, never
    * tasks × leaves (VERDICT r13 #7 — the classic 100 TB ETL failure:
    * an unclustered 32-task write of a 3-decade calendar produces up
    * to 32 files in every year/month/week directory, and at a
    * 1000-executor scale that is millions of kilobyte files and a
    * metadata-bound table). `filesPerLeaf > 1` adds a deterministic
    * row-hash salt for partitions too large for one file.
    *
    * `filesPerLeaf <= 0` (the default upstream) AUTO-SIZES the salt
    * from one stats pass over the batch — per-leaf row counts (a
    * compact aggregation: one row per leaf, two values collected) fed
    * through [[autoFilesPerLeaf]] with the schema's estimated row
    * width and the session's parallelism. An explicit positive value
    * remains the manual override. CALLER CONTRACT for auto mode: the
    * stats pass is an extra ACTION over `df`, so hand this a cached /
    * cheap-to-recompute relation (or persist around stats + write, as
    * [[mergeMonthlyFact]] does) — an expensive un-persisted lineage
    * would otherwise evaluate twice, the q324-class double-evaluation
    * shape.
    */
  private[graft] def clusterForWrite(df: DataFrame, filesPerLeaf: Int,
      cols: String*): DataFrame = {
    import org.apache.spark.sql.functions._
    val keys = cols.map(col)
    val fpl =
      if (filesPerLeaf > 0) filesPerLeaf
      else {
        val stats = df.groupBy(keys: _*).agg(count(lit(1)).as("n"))
          .agg(max(col("n")).as("mx"), sum(col("n")).as("tot")).collect()(0)
        val auto =
          if (stats.isNullAt(0)) 1
          else autoFilesPerLeaf(stats.getLong(0), stats.getLong(1),
            df.schema.map(_.dataType.defaultSize.toLong).sum,
            df.sparkSession.sparkContext.defaultParallelism)
        System.err.println(s"[layout] auto filesPerLeaf=$auto " +
          s"(maxLeafRows=${if (stats.isNullAt(0)) 0 else stats.getLong(0)})")
        auto
      }
    if (fpl <= 1) df.repartition(keys: _*)
    else df.repartition(keys :+
      pmod(xxhash64(struct(df.columns.map(col): _*)), lit(fpl)): _*)
  }

  /** Write the star schema as Parquet; calendar dim hive-partitioned by
    * year/month/week (etl_functions.py:129–130) so downstream date-range
    * readers get partition pruning. Partitioned writes are clustered —
    * see [[clusterForWrite]].
    *
    * The five writes are independent, so they run as concurrent Spark
    * jobs (the reference writes them one after another); this returns
    * once all five have finished. If any write failed, it rethrows the
    * first failure in table order, with the others added as suppressed.
    */
  def writeStarSchema(t: StarSchemaTables, outDir: String,
      filesPerLeaf: Int = 0): Unit = {
    def save(df: DataFrame, table: String): () => Unit =
      () => df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$table")
    Concurrently.run(Seq(
      save(t.fact, "immigration_fact"),
      save(t.visa, "visa_type_dim"),
      // buildStarSchema caches the calendar, which meets clusterForWrite's
      // caller contract (its leaf-stats action does not re-run the lineage)
      () => clusterForWrite(t.calendar, filesPerLeaf,
          "arrival_year", "arrival_month", "arrival_week")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("arrival_year", "arrival_month", "arrival_week")
        .parquet(s"$outDir/immigration_calendar_dim"),
      save(t.country, "country_dim"),
      save(t.demographics, "usa_demographics_dim")))
  }

  /** Incremental monthly refresh — the reference's stated cadence
    * (BASELINE.md "monthly"). The fact table is stored partitioned by
    * arrival year/month; a new month's batch overwrites ONLY the
    * partitions it touches (`partitionOverwriteMode=dynamic`), so a
    * 100 TB fact table absorbs a monthly delta with IO proportional to
    * the delta, not the table.
    */
  def mergeMonthlyFact(spark: SparkSession, monthBatch: DataFrame,
      factDir: String, filesPerLeaf: Int = 0): Unit = {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // persist around stats + write: auto-sizing runs a leaf-stats
    // action before the write, and the caller's batch lineage must not
    // evaluate twice for it (see clusterForWrite's caller contract)
    val batch = monthBatch
      .withColumn("arrival_year", year(col("arrdate")))
      .withColumn("arrival_month", month(col("arrdate")))
      .persist()
    try {
      clusterForWrite(batch, filesPerLeaf, "arrival_year", "arrival_month")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("arrival_year", "arrival_month")
        .parquet(factDir)
    } finally {
      batch.unpersist()
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: CapstoneEtl <inputDir> <outputDir>")
    val (in, out) = (args(0), args(1))
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("capstone-etl")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tables = buildStarSchema(
      readImmigration(spark, s"$in/immigration.csv"),
      readTemperature(spark, s"$in/temperatures.csv"),
      readDemographics(spark, s"$in/demographics.csv"),
      readCountryCodes(spark, s"$in/i94res.csv"))
    writeStarSchema(tables, out)

    val qc = QualityChecks.checkAll(tables.fact, tables.visa, tables.calendar,
      tables.country, tables.demographics)
    tables.release()
    qc.foreach(r => println(s"[qc] ${r.table} ${r.check} count=${r.count} " +
      (if (r.passed) "OK" else "FAIL")))
    if (qc.exists(!_.passed)) sys.exit(1)
    spark.stop()
  }
}
