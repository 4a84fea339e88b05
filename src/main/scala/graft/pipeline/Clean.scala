package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Cleaning composites — the reference's `utility.py` surface
  * (SURVEY.md §2.9), with deterministic dedup semantics.
  *
  * The reference's `drop_duplicates(subset)` keeps an arbitrary row per
  * key group (partitioning-dependent). `dedupKeepFirst` instead keeps the
  * first row under an explicit tiebreak ordering — same cardinality,
  * deterministic content (SURVEY §7.4 determinism rule). The tiebreak is
  * a single `row_number` window per key group: one shuffle on the key,
  * no global sort, scales linearly.
  */
object Clean {

  /** Deterministic `dropDuplicates(keys)`: keep the first row per key
    * group ordered by `tiebreak`.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], tiebreak: Seq[String]): DataFrame = {
    val order = if (tiebreak.nonEmpty) tiebreak else df.columns.filterNot(keys.contains).toSeq
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order.map(c => col(c).asc_nulls_last): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Immigration cleaning (utility.py:45–58): drop the ~all-null columns
    * `occup, entdepu, insnum`, then drop rows where every column is null.
    */
  def cleanImmigration(df: DataFrame): DataFrame =
    df.drop("occup", "entdepu", "insnum").na.drop("all")

  /** Temperature cleaning (utility.py:82–95): drop rows with null
    * `AverageTemperature`, dedup on `(dt, City, Country)`.
    */
  def cleanTemperature(df: DataFrame): DataFrame =
    dedupKeepFirst(
      df.na.drop(Seq("AverageTemperature")),
      keys = Seq("dt", "City", "Country"),
      tiebreak = Seq("AverageTemperature", "AverageTemperatureUncertainty", "Latitude", "Longitude"))

  /** [[cleanTemperature]]'s `(dt, City, Country, AverageTemperature)`
    * columns by aggregation: one row per key with its smallest non-null
    * `AverageTemperature`. Those are exactly the rows and values
    * `cleanTemperature` keeps, because its tiebreak orders by
    * `AverageTemperature` first — so a consumer that needs no other
    * column gets them from a hash aggregation instead of the dedup's
    * `row_number` window and its sort.
    */
  def temperatureKeyMinima(df: DataFrame): DataFrame =
    df.na.drop(Seq("AverageTemperature"))
      .groupBy(col("dt"), col("City"), col("Country"))
      .agg(min(col("AverageTemperature")).as("AverageTemperature"))

  private val demographicsRequired =
    Seq("Male Population", "Female Population", "Number of Veterans",
      "Foreign-born", "Average Household Size")

  /** Demographics cleaning (utility.py:110–125): drop rows null in any of
    * the five population columns, dedup on `(City, State, State Code, Race)`.
    */
  def cleanDemographics(df: DataFrame): DataFrame =
    dedupKeepFirst(
      df.na.drop(demographicsRequired),
      keys = Seq("City", "State", "State Code", "Race"),
      tiebreak = Seq("Count", "Total Population"))

  /** Per-country average temperature (utility.py:99–106). */
  def aggregateTemperature(df: DataFrame): DataFrame =
    df.groupBy(col("Country"))
      .agg(avg(col("AverageTemperature")).as("average_temperature"))

  /** Missing-value profile (utility.py:23–41, nb cell 38): one aggregation
    * pass computing per-column missing counts (`NULL`, plus `NaN` for
    * floating columns — SAS doubles carry NaN), returned long-form as
    * `(column, n_missing, pct_missing)`. Single job over the input —
    * unlike the reference, which runs a `count()` action per call site.
    */
  def missingValueProfile(df: DataFrame): DataFrame = {
    val floating = df.schema.fields
      .filter(f => f.dataType == DoubleType || f.dataType == FloatType)
      .map(_.name).toSet
    val missing = df.columns.toSeq.map { c =>
      val miss = if (floating(c)) isnan(col(c)) || col(c).isNull else col(c).isNull
      count(when(miss, lit(1))).as(c)
    }
    val agged = df.agg(count(lit(1)).as("__total"), missing: _*)
    val pairs = df.columns.toSeq.map(c =>
      struct(lit(c).as("column"), col(c).as("n_missing"),
        round(lit(100.0) * col(c) / col("__total"), 4).as("pct_missing")))
    agged.select(explode(array(pairs: _*)).as("p")).select(col("p.*"))
  }
}
