package graft

import java.time.LocalDate

import scala.jdk.CollectionConverters._

import graft.pipeline._
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class CapstonePipelineSpec extends SparkSpec {

  private lazy val imm = CapstoneFixtures.immigration(spark)
  private lazy val temp = CapstoneFixtures.temperature(spark)
  private lazy val demo = CapstoneFixtures.demographics(spark)
  private lazy val codes = CapstoneFixtures.countryCodes(spark)

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Writes the raw fixtures as the CSVs etl.py expects (S2-S4 readers). */
  private def writeInputs(in: String): Unit = {
    imm.coalesce(1).write.option("header", "true").csv(s"$in/immigration.csv")
    temp.coalesce(1).write.option("header", "true").csv(s"$in/temperatures.csv")
    demo.coalesce(1).write.option("header", "true").option("sep", ";").csv(s"$in/demographics.csv")
    codes.coalesce(1).write.option("header", "true").csv(s"$in/i94res.csv")
  }

  private def buildFromCsv(in: String): CapstoneEtl.StarSchemaTables =
    CapstoneEtl.buildStarSchema(
      CapstoneEtl.readImmigration(spark, s"$in/immigration.csv"),
      CapstoneEtl.readTemperature(spark, s"$in/temperatures.csv"),
      CapstoneEtl.readDemographics(spark, s"$in/demographics.csv"),
      CapstoneEtl.readCountryCodes(spark, s"$in/i94res.csv"))

  private def checkAll(t: CapstoneEtl.StarSchemaTables): Seq[QualityChecks.QcResult] =
    QualityChecks.checkAll(t.fact, t.visa, t.calendar, t.country, t.demographics)

  private def cacheIsEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  /** Parquet files in each leaf directory of a partitioned table. */
  private def leafFiles(root: String): Seq[Int] = {
    def walk(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).getOrElse(Array.empty).toSeq
      val dirs = kids.filter(_.isDirectory)
      if (dirs.isEmpty) Seq(d) else dirs.flatMap(walk)
    }
    walk(new java.io.File(root))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
      .filter(_ > 0)
  }

  test("cleanImmigration drops sparse columns and all-null rows") {
    val cleaned = Clean.cleanImmigration(imm)
    assert(!cleaned.columns.contains("occup"))
    assert(!cleaned.columns.contains("entdepu"))
    assert(!cleaned.columns.contains("insnum"))
    assert(cleaned.columns.length === 25)
    assert(cleaned.count() === 5) // all-null row dropped
  }

  test("cleanTemperature drops null AverageTemperature and key-duplicates deterministically") {
    val cleaned = Clean.cleanTemperature(temp)
    assert(cleaned.count() === 4) // 6 - 1 null - 1 dup
    // deterministic keep: the duplicate pair keeps the lower uncertainty row
    val kabul = cleaned.filter(col("City") === "Kabul").collect()
    assert(kabul.length === 1)
    assert(kabul.head.getAs[Double]("AverageTemperatureUncertainty") === 0.2)
  }

  test("cleanDemographics drops required-null rows and dedups on the 4-col key") {
    val cleaned = Clean.cleanDemographics(demo)
    assert(cleaned.count() === 2) // 4 - 1 null-required - 1 dup
    assert(cleaned.filter(col("City") === "Gotham").count() === 0)
  }

  test("missingValueProfile counts NULLs (and NaNs on doubles) in one pass") {
    val profile = Clean.missingValueProfile(imm).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(profile("cicid") === 1)   // only the all-null row
    assert(profile("arrdate") === 2) // null fixture row + all-null row
    assert(profile("depdate") === 6) // always null
    assert(profile.size === 28)
  }

  test("visaTypeDim: distinct visatypes, dense deterministic keys") {
    val visa = StarSchema.visaTypeDim(Clean.cleanImmigration(imm)).collect()
      .map(r => r.getAs[String]("visatype") -> r.getAs[Long]("visa_type_key")).toMap
    assert(visa.keySet === Set("B1", "B2", "F1", "WT"))
    assert(visa.values.toSeq.sorted === Seq(1L, 2L, 3L, 4L))
    assert(visa("B1") === 1L) // ordered by visatype
  }

  test("calendarDim: epoch-zero maps to 1960-01-01, derivations match java.time") {
    val cal = StarSchema.calendarDim(Clean.cleanImmigration(imm))
    val rows = cal.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(rows.keySet === Set(0L, 20574L, 20575L)) // null arrdate excluded
    val d = rows(20574L)
    val expected = LocalDate.of(1960, 1, 1).plusDays(20574)
    assert(d.getAs[java.sql.Date]("arrdate").toLocalDate === expected)
    assert(d.getAs[Int]("arrival_day") === expected.getDayOfMonth)
    assert(d.getAs[Int]("arrival_month") === expected.getMonthValue)
    assert(d.getAs[Int]("arrival_year") === expected.getYear)
    // epoch-zero bug fixed: 0.0 -> 1960-01-01, not NULL (SURVEY §0.1.4)
    assert(rows(0L).getAs[java.sql.Date]("arrdate").toLocalDate === LocalDate.of(1960, 1, 1))
  }

  test("countryDim: mapped codes get names, case-normalized temperature join, unmapped stay null") {
    val dim = StarSchema.countryDim(Clean.cleanImmigration(imm), codes,
      Clean.cleanTemperature(temp)).collect()
      .map(r => r.getAs[Long]("country_code") ->
        (r.getAs[String]("country_name"), Option(r.getAs[java.lang.Double]("average_temperature")))).toMap
    assert(dim.keySet === Set(582L, 236L, 999L))
    assert(dim(582L)._1 === "Mexico")
    assert(dim(582L)._2.map(_.doubleValue) === Some(15.0)) // avg(10, 20)
    assert(dim(236L)._1 === "Afghanistan")
    assert(dim(236L)._2.map(_.doubleValue) === Some(5.0)) // dedup kept one 5.0 row
    assert(dim(999L)._1 === null) // unmapped code survives with null name
  }

  test("temperatureKeyMinima equals cleanTemperature's projection; countryDim agrees over either") {
    // plant a duplicate key whose temperatures differ: cleanTemperature
    // keeps the 10.0 row of Mexico City 2013-01-01, not the 30.0 one
    val planted = temp.union(temp.where(col("City") === "Mexico City" && col("AverageTemperature") === 10.0)
      .withColumn("AverageTemperature", lit(30.0)))
    val viaWindow = Clean.cleanTemperature(planted)
      .select(col("dt"), col("City"), col("Country"), col("AverageTemperature"))
    val viaAgg = Clean.temperatureKeyMinima(planted)
    assert(viaAgg.schema === viaWindow.schema)
    assert(viaAgg.count() === 4)
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)

    val immC = Clean.cleanImmigration(imm)
    def dim(t: DataFrame): Map[Long, (String, Option[Double])] =
      StarSchema.countryDim(immC, codes, t).collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.getAs[java.lang.Double](2)).map(_.doubleValue))).toMap
    val (a, w) = (dim(viaAgg), dim(viaWindow))
    assert(a.keySet === w.keySet && a.keySet === Set(582L, 236L, 999L))
    a.keySet.foreach { k =>
      assert(a(k)._1 === w(k)._1)
      assert(a(k)._2.isDefined === w(k)._2.isDefined, s"country $k")
      a(k)._2.zip(w(k)._2).foreach { case (x, y) => assert(math.abs(x - y) <= 1e-9, s"country $k") }
    }
    assert(a(582L)._2 === Some(15.0)) // avg(min(10, 30), 20)
  }

  test("immigrationFact: renames, visa FK, SAS date conversion, visatype dropped") {
    val cleaned = Clean.cleanImmigration(imm)
    val visa = StarSchema.visaTypeDim(cleaned)
    val fact = StarSchema.immigrationFact(cleaned, visa)
    assert(fact.columns.contains("record_id"))
    assert(fact.columns.contains("country_residence_code"))
    assert(fact.columns.contains("state_code"))
    assert(fact.columns.contains("visa_type_key"))
    assert(!fact.columns.contains("visatype"))
    assert(fact.count() === 5)
    val r1 = fact.filter(col("record_id") === 1.0).head()
    assert(r1.getAs[java.sql.Date]("arrdate").toLocalDate ===
      LocalDate.of(1960, 1, 1).plusDays(20574))
    // FK round-trips to the dim
    val b2Key = visa.filter(col("visatype") === "B2").head().getAs[Long]("visa_type_key")
    assert(r1.getAs[Long]("visa_type_key") === b2Key)
    // null arrdate stays null (null-in -> null-out)
    assert(fact.filter(col("record_id") === 5.0).head().getAs[java.sql.Date]("arrdate") === null)
  }

  test("compat mode reproduces the reference's literal outputs") {
    // Compat.reference replays the two documented quirks:
    // etl_functions.py:24 (truthiness nulls epoch-zero dates) and
    // etl_functions.py:102-109 (case-sensitive country⋈temperature join)
    val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes, Compat.reference)

    // epoch-zero arrdate (cicid 4, arrdate=0.0) -> NULL, not 1960-01-01
    val fact4 = t.fact.filter(col("record_id") === 4.0).collect()
    assert(fact4.length === 1)
    assert(fact4.head.getAs[java.sql.Date]("arrdate") === null)
    assert(t.fact.filter(col("arrdate") === "1960-01-01").count() === 0)
    // and the calendar has no 1960-01-01 / id=0 row either
    assert(t.calendar.filter(col("id") === 0L).count() === 0)

    // UPPERCASE mapping names never match Title Case temperature
    // countries -> every average_temperature is NULL
    assert(t.country.filter(col("average_temperature").isNotNull).count() === 0)
    // while names themselves stay raw UPPERCASE
    val names = t.country.filter(col("country_name").isNotNull)
      .select("country_name").collect().map(_.getString(0)).toSet
    assert(names === Set("MEXICO", "AFGHANISTAN"))

    // default mode on the same inputs keeps the intended semantics
    val d = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
    assert(d.fact.filter(col("arrdate") === "1960-01-01").count() === 1)
    assert(d.country.filter(col("average_temperature").isNotNull).count() > 0)
    t.release()
    d.release()
  }

  test("withObjectStore seam carries the s3a client + committer configuration") {
    val c = GraftSession.objectStoreConf
    assert(c("spark.hadoop.fs.s3a.impl") === "org.apache.hadoop.fs.s3a.S3AFileSystem")
    assert(c("spark.hadoop.fs.s3a.committer.name") === "magic")
    assert(c.contains("spark.sql.parquet.output.committer.class"))
    // applying the seam to a builder must not throw (jars absent here;
    // the classes only load when an s3a:// path is actually opened)
    import org.apache.spark.sql.SparkSession
    GraftSession.withObjectStore(SparkSession.builder())
  }

  test("quality checks: star schema passes; duplicate keys fail") {
    val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
    val results = checkAll(t)
    assert(results.forall(_.passed), results.filterNot(_.passed).mkString(", "))
    // negative case: a frame with a duplicated key must fail
    val dup = t.visa.union(t.visa)
    assert(!QualityChecks.keyUnique(dup, "dup", Seq("visa_type_key")).passed)
    assert(!QualityChecks.nonEmpty(t.visa.limit(0), "empty").passed)
    t.release()
  }

  test("checkAll: one aggregation per table gives the separate checks' ten results") {
    val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
    val separate = Seq(
      (t.fact, "immigration_fact", "record_id"),
      (t.visa, "visa_type_dim", "visa_type_key"),
      (t.calendar, "immigration_calendar_dim", "id"),
      (t.country, "country_dim", "country_code"),
      (t.demographics, "usa_demographics_dim", "id"),
    ).flatMap { case (df, table, key) =>
      Seq(QualityChecks.nonEmpty(df, table), QualityChecks.keyUnique(df, table, Seq(key)))
    }
    assert(checkAll(t) === separate)
    assert(separate.map(r => r.table -> r.count).distinct === Seq(
      "immigration_fact" -> 5L, "visa_type_dim" -> 4L, "immigration_calendar_dim" -> 3L,
      "country_dim" -> 3L, "usa_demographics_dim" -> 2L))
    t.release()
  }

  test("checkAll: a duplicated key in one dimension fails only that table's key_unique") {
    val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
    val results = QualityChecks.checkAll(t.fact, t.visa, t.calendar,
      t.country.union(t.country.limit(1)), t.demographics)
    assert(results.filterNot(_.passed).map(r => r.table -> r.check) ===
      Seq("country_dim" -> "key_unique(country_code)"))
    assert(results.find(_.table == "country_dim").map(_.count) === Some(4L))
    t.release()
  }

  test("keyUnique: a two-column key with a null component fails") {
    import TestSpark.spark.implicits._
    val df = Seq[(Option[Long], Option[String])](
      (Some(1L), Some("a")), (Some(1L), Some("b")), (Some(2L), None)).toDF("k1", "k2")
    val r = QualityChecks.keyUnique(df, "pairs", Seq("k1", "k2"))
    assert(r.check === "key_unique(k1,k2)" && r.count === 3L)
    assert(!r.passed)
    // the same keys without the null component pass
    assert(QualityChecks.keyUnique(df.where(col("k2").isNotNull), "pairs", Seq("k1", "k2")).passed)
    // and a duplicated composite key still fails
    assert(!QualityChecks.keyUnique(df.union(df).where(col("k2").isNotNull),
      "pairs", Seq("k1", "k2")).passed)
  }

  test("QC after the write re-reads no input: checkAll passes with the inputs deleted") {
    val expected = {
      val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
      try checkAll(t) finally t.release()
    }
    val dir = tempDir("capstone_qc_cached")
    writeInputs(s"$dir/in")
    val t = buildFromCsv(s"$dir/in")
    try {
      CapstoneEtl.writeStarSchema(t, s"$dir/out")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir/in"))
      assert(!new java.io.File(s"$dir/in").exists())
      val results = checkAll(t)
      assert(results.forall(_.passed), results.filterNot(_.passed).mkString(", "))
      assert(results === expected)
    } finally t.release()
  }

  test("writeStarSchema keeps a build-cached calendar and leaves no cache of its own") {
    spark.catalog.clearCache() // start from a known-empty cache manager
    val dir = tempDir("capstone_cal_cache")
    val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
    CapstoneEtl.writeStarSchema(t, s"$dir/cached")
    assert(t.calendar.storageLevel === StorageLevel.MEMORY_AND_DISK)
    t.release()
    assert(cacheIsEmpty)

    val cleaned = Clean.cleanImmigration(imm)
    val visa = StarSchema.visaTypeDim(cleaned)
    val bare = CapstoneEtl.StarSchemaTables(
      fact = StarSchema.immigrationFact(cleaned, visa), visa = visa,
      calendar = StarSchema.calendarDim(cleaned),
      country = StarSchema.countryDim(cleaned, codes, Clean.cleanTemperature(temp)),
      demographics = StarSchema.demographicsDim(Clean.cleanDemographics(demo)),
      immigration = cleaned)
    CapstoneEtl.writeStarSchema(bare, s"$dir/bare")
    assert(cacheIsEmpty)
    assert(spark.read.parquet(s"$dir/bare/immigration_calendar_dim").count() === 3)
  }

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  private def failsWith(e: Throwable, msg: String): Boolean =
    causes(e).exists(c => Option(c.getMessage).exists(_.contains(msg)))

  /** `df` whose every row raises `msg` when a job evaluates it. */
  private def planted(df: DataFrame, msg: String): DataFrame =
    df.where(raise_error(lit(msg)).isNull)

  test("writeStarSchema: a failed write is rethrown after the other tables are written") {
    val dir = tempDir("capstone_write_failure")
    val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
    try {
      val one = t.copy(country = planted(t.country, "planted country failure"))
      val e = intercept[Exception](CapstoneEtl.writeStarSchema(one, s"$dir/one"))
      assert(failsWith(e, "planted country failure"), e)
      ListenerBridge.drain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "graft-pipeline-action"))
      Seq("immigration_fact" -> 5L, "visa_type_dim" -> 4L, "immigration_calendar_dim" -> 3L,
        "usa_demographics_dim" -> 2L).foreach { case (table, rows) =>
        assert(spark.read.parquet(s"$dir/one/$table").count() === rows, table)
      }

      // two failures: the first in table order is thrown, the other suppressed
      val two = one.copy(visa = planted(t.visa, "planted visa failure"))
      val e2 = intercept[Exception](CapstoneEtl.writeStarSchema(two, s"$dir/two"))
      assert(failsWith(e2, "planted visa failure"), e2)
      assert(e2.getSuppressed.exists(failsWith(_, "planted country failure")))
    } finally t.release()
  }

  test("writeStarSchema and checkAll run every job in the caller's job group") {
    val sc = spark.sparkContext
    val dir = tempDir("capstone_job_group")
    // two calls under two groups: a thread that outlived the first call
    // would carry the first group into the second
    for (group <- Seq("capstone-spec-a", "capstone-spec-b")) {
      val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
      val (_, run) = StageLedger.measure(sc) {
        sc.setJobGroup(group, group, interruptOnCancel = false)
        try {
          CapstoneEtl.writeStarSchema(t, s"$dir/$group")
          assert(checkAll(t).forall(_.passed))
        } finally {
          sc.clearJobGroup()
          t.release()
        }
      }
      val seen = run.jobGroups.map(_.getOrElse("<none>"))
      assert(seen.size >= 10, seen) // five writes and five aggregations at least
      assert(seen.distinct === Seq(group))
    }
  }

  test("release() unpersists the immigration and dimension caches") {
    spark.catalog.clearCache() // start from a known-empty cache manager
    val t = CapstoneEtl.buildStarSchema(imm, temp, demo, codes)
    CapstoneEtl.writeStarSchema(t, tempDir("capstone_release"))
    assert(checkAll(t).forall(_.passed))
    val cached = Seq(t.immigration, t.visa, t.calendar, t.country, t.demographics)
    assert(cached.forall(_.storageLevel != StorageLevel.NONE))
    assert(t.fact.storageLevel === StorageLevel.NONE)
    t.release()
    assert(cacheIsEmpty)
  }

  test("mergeMonthlyFact overwrites only the touched month partitions") {
    import TestSpark.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("merge_fact").toString
    def batch(rows: Seq[(Long, String)]) = rows
      .toDF("record_id", "d").select(col("record_id"), col("d").cast("date").as("arrdate"))
    // initial load: Jan + Feb
    CapstoneEtl.mergeMonthlyFact(spark,
      batch(Seq((1L, "2016-01-10"), (2L, "2016-02-05"), (3L, "2016-02-20"))), dir)
    // monthly refresh: corrected Feb (one row) — Jan must survive
    CapstoneEtl.mergeMonthlyFact(spark, batch(Seq((9L, "2016-02-15"))), dir)
    val out = spark.read.parquet(dir)
      .select(col("record_id"), col("arrival_month"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(1L -> 1, 9L -> 2)) // Feb replaced, Jan intact
  }

  test("partitioned writes are file-bounded: files per leaf <= filesPerLeaf (r14)") {
    // the classic 100 TB ETL failure: an UNclustered partitionBy write
    // puts up to one file per (task x leaf) in every partition dir.
    // clusterForWrite repartitions on the partition columns first, so
    // a many-partition input must still land exactly filesPerLeaf
    // file(s) in each leaf — asserted here with a 16-partition input
    // spread across every leaf, the shape that explodes unclustered.
    import TestSpark.spark.implicits._
    val rows = (1L to 400L)
      .map(i => (i, java.sql.Date.valueOf(f"2016-${(i % 6 + 1)}%02d-${(i % 27 + 1)}%02d")))
    val batch = rows.toDF("record_id", "arrdate").repartition(16)
    val dir = java.nio.file.Files.createTempDirectory("bounded_write").toString
    CapstoneEtl.mergeMonthlyFact(spark, batch, s"$dir/fact1")
    val f1 = leafFiles(s"$dir/fact1")
    assert(f1.size === 6 && f1.forall(_ === 1),
      s"filesPerLeaf=1 must write exactly one file per month dir: $f1")
    // the salt only SHOWS with AQE coalescing off: at fixture volume
    // AQE folds the clustered shuffle to one task (correct small-file
    // behavior — the ≤ filesPerLeaf bound holds either way); a real
    // tier's partitions are too big to coalesce, so disable it here to
    // observe the spread the salt buys at scale
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      CapstoneEtl.mergeMonthlyFact(spark, batch, s"$dir/fact3", filesPerLeaf = 3)
    } finally spark.conf.set(coalesceKey, prevCoalesce)
    val f3 = leafFiles(s"$dir/fact3")
    assert(f3.forall(_ <= 3) && f3.exists(_ > 1),
      s"filesPerLeaf=3 must salt leaves into at most 3 files: $f3")
    // result content is unchanged by the clustering
    assert(spark.read.parquet(s"$dir/fact1").select("record_id")
      .collect().map(_.getLong(0)).sorted.toSeq === (1L to 400L))
  }

  test("end-to-end: CSV in, partitioned star-schema parquet out") {
    val dir = tempDir("capstone_e2e")
    writeInputs(s"$dir/in")
    val t = buildFromCsv(s"$dir/in")
    CapstoneEtl.writeStarSchema(t, s"$dir/out")
    // a week leaf holds up to 7 SAS days: seven days per leaf, spread
    // over 4 input partitions, must still land as one file per leaf
    val spread = t.calendar.crossJoin(spark.range(7).toDF("day"))
      .withColumn("id", col("id") * 7 + col("day")).drop("day").repartition(4)
    CapstoneEtl.writeStarSchema(t.copy(calendar = spread), s"$dir/spread")
    t.release()

    val fact = spark.read.parquet(s"$dir/out/immigration_fact")
    assert(fact.count() === 5)
    val cal = spark.read.parquet(s"$dir/out/immigration_calendar_dim")
    assert(cal.count() === 3)
    // hive-partitioned layout exists (partition pruning for downstream readers)
    val yearDirs = new java.io.File(s"$dir/out/immigration_calendar_dim")
      .listFiles().filter(_.getName.startsWith("arrival_year="))
    assert(yearDirs.nonEmpty)
    for (out <- Seq("out", "spread")) {
      val files = leafFiles(s"$dir/$out/immigration_calendar_dim")
      assert(files.size === 3 && files.forall(_ == 1), s"$out: parquet files per leaf: $files")
    }
    assert(spark.read.parquet(s"$dir/spread/immigration_calendar_dim").count() === 21)
  }
}
