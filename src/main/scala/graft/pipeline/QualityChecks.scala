package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality checks — the reference's `quality_checks`
  * (etl_functions.py:136–147) returned as a result object instead of a
  * print that never fails (SURVEY §0.1.7), plus the key-uniqueness check
  * the star schema actually needs.
  *
  * Both checks come from ONE aggregation job per table: row count,
  * rows whose key columns are all non-null, and distinct keys, compared
  * in one pass instead of a groupBy+filter (no second job, no wide
  * shuffle of non-key columns). `non_empty` is that pass's `n > 0`, so
  * [[checkAll]] runs five jobs for its ten results, submitted together
  * so that they overlap (the reference checks one table at a time).
  */
object QualityChecks {

  final case class QcResult(table: String, check: String, count: Long, passed: Boolean)

  /** Non-empty assertion (etl_functions.py:136–147, intended semantics). */
  def nonEmpty(df: DataFrame, table: String): QcResult = {
    val n = df.count()
    QcResult(table, "non_empty", n, n > 0)
  }

  /** Surrogate/natural key uniqueness (not nullable, no duplicates), from
    * one job: rows, rows with every key column non-null, distinct keys.
    * `count_distinct` over several columns skips a row if any key column
    * is null, as the non-null count does; a `struct` key would count such
    * a row on both sides, since a struct is never null. */
  def keyUnique(df: DataFrame, table: String, keyCols: Seq[String]): QcResult = {
    val keys = keyCols.map(col)
    val row = df.agg(
      count(lit(1)).as("n"),
      count(when(keys.map(_.isNotNull).reduce(_ && _), lit(1))).as("n_nonnull"),
      count_distinct(keys.head, keys.tail: _*).as("n_distinct")).head()
    val (n, nonNull, distinct) = (row.getLong(0), row.getLong(1), row.getLong(2))
    QcResult(table, s"key_unique(${keyCols.mkString(",")})", n,
      n > 0 && n == nonNull && nonNull == distinct)
  }

  /** Run the reference's QC battery over the five star-schema outputs:
    * `non_empty` then `key_unique` per table; `non_empty` reads the
    * row count of the `key_unique` aggregation. The five aggregations
    * are independent and run as concurrent Spark jobs. */
  def checkAll(fact: DataFrame, visa: DataFrame, calendar: DataFrame,
      country: DataFrame, demographics: DataFrame): Seq[QcResult] =
    Concurrently.run(Seq(
      (fact, "immigration_fact", "record_id"),
      (visa, "visa_type_dim", "visa_type_key"),
      (calendar, "immigration_calendar_dim", "id"),
      (country, "country_dim", "country_code"),
      (demographics, "usa_demographics_dim", "id"),
    ).map { case (df, table, key) => () => keyUnique(df, table, Seq(key)) })
      .flatMap(u => Seq(QcResult(u.table, "non_empty", u.count, u.count > 0), u))
}
