package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.HashFunctions.{md5U60, md5U60Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-governance operators — the compliance / quality-gate layer of a
  * training-data pipeline: PII-style pattern scrubbing, rule-based
  * document quality filtering (Gopher-style repetition / length /
  * stop-word heuristics), and winsorized robust aggregation.
  *
  * Scale notes (100 TB design):
  *  - scrubbing is a pure per-row map (codegen'd `regexp_replace` /
  *    `regexp_extract_all`) — no shuffle, no UDF, embarrassingly
  *    parallel over any partitioning;
  *  - quality rules reduce each document to a handful of word-keyed
  *    aggregates (vocabulary-sized per doc) before any verdict — the
  *    only shuffles are (doc, word) then doc, both partially aggregated
  *    map-side;
  *  - winsorization computes per-group exact percentile bounds on the
  *    SMALL aggregated relation (customers, not orders), broadcasts
  *    them back, and clips in a map — the fact table shuffles once.
  */
object Governance extends QueryModule {

  /** One scrub rule: (name, java-regex, replacement token). */
  type ScrubRule = (String, String, String)

  /** The default PII rule set. Order matters: structured patterns
    * (email, IPv4, phone) are scrubbed before the bare-number
    * fallback so a phone number is tagged `[PHONE]`, not `#`.
    */
  val piiRules: Seq[ScrubRule] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "[IP]"),
    ("phone", "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "[PHONE]"),
    ("number", "[0-9]+", "#"))

  /** Applies `rules` to `column` in order, replacing matches and
    * accumulating the total match count in `n_hits`. Pure expression
    * pipeline: every rule is a codegen'd regexp over the row, so the
    * operator runs at scan speed with zero shuffles at any scale.
    */
  def scrub(df: DataFrame, column: String, rules: Seq[ScrubRule] = piiRules): DataFrame =
    rules.foldLeft(df.withColumn("n_hits", lit(0L))) { case (acc, (_, re, repl)) =>
      acc
        .withColumn("n_hits",
          col("n_hits") + size(regexp_extract_all(col(column), lit(re), lit(0))))
        .withColumn(column, regexp_replace(col(column), re, repl))
    }

  /** q97: scrub numeric tokens from the event `props` payload and
    * profile the result per event type — hit volume plus the count of
    * distinct scrubbed shapes (a collapse to few shapes proves the
    * scrub normalized the payloads). The synthetic corpus carries no
    * real PII, so the declared query instantiates the number rule;
    * GovernanceSpec exercises the email/IP/phone rules on a fixture.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    scrub(Tables.events(spark, dir).select(col("event_type"), col("props")),
        "props", Seq(("number", "[0-9]+", "#")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("n_hits")).cast("bigint").as("n_hits"),
        countDistinct(col("props")).as("n_shapes"))
      .orderBy(col("event_type"))

  private val piiScrubSql =
    """WITH s AS (
      |  SELECT event_type,
      |    len(regexp_extract_all(props, '[0-9]+')) AS n_hits,
      |    regexp_replace(props, '[0-9]+', '#', 'g') AS scrubbed
      |  FROM events
      |)
      |SELECT event_type, count(*) AS n_events,
      |  sum(n_hits)::BIGINT AS n_hits,
      |  count(DISTINCT scrubbed) AS n_shapes
      |FROM s GROUP BY event_type ORDER BY event_type""".stripMargin

  // Gopher-style rule thresholds, tuned so each rule is non-trivial on
  // the synthetic corpus (doc lengths 10..99 words, median max-word-
  // frequency 0.093, stop-word fraction 0..0.22).
  private val minWords = 30
  private val maxWords = 1000
  private val minMeanWordLen = 3.0
  private val maxMeanWordLen = 8.0
  private val maxRepFrac = 0.12
  private val stopWords = Seq("the", "a")

  /** q98: rule-based document quality gate — word-count bounds, mean
    * word length, dominant-word repetition cap, stop-word presence —
    * reported as per-source pass/fail tallies. Mirrors the published
    * Gopher/C4 heuristic filters; every rule derives from the per-doc
    * word-count table, so the corpus reduces before any verdict.
    */
  def qualityRules(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val wc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val per = wc.groupBy(col("doc_id")).agg(
      sum(col("c")).cast("bigint").as("nw"),
      max(col("c")).as("maxc"),
      sum(when(col("w").isin(stopWords: _*), col("c")).otherwise(lit(0L))).as("stopc"))
    val failCount = (c: Column) => sum(when(!c, 1L).otherwise(0L)).cast("bigint")
    docs.join(per, "doc_id")
      .withColumn("r_len", col("nw").between(minWords, maxWords))
      .withColumn("mwl", (col("n_chars") - col("nw") + 1).cast("double") / col("nw"))
      .withColumn("r_wordlen", col("mwl").between(minMeanWordLen, maxMeanWordLen))
      .withColumn("r_rep", col("maxc").cast("double") / col("nw") <= maxRepFrac)
      .withColumn("r_stop", col("stopc") > 0)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("r_len") && col("r_wordlen") && col("r_rep") && col("r_stop"), 1L)
          .otherwise(0L)).cast("bigint").as("n_pass"),
        failCount(col("r_len")).as("fail_len"),
        failCount(col("r_rep")).as("fail_rep"),
        failCount(col("r_stop")).as("fail_stop"))
      .orderBy(col("source"))
  }

  private val qualityRulesSql =
    s"""WITH wc AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY doc_id, w
       |), per AS (
       |  SELECT doc_id, sum(c)::BIGINT AS nw, max(c) AS maxc,
       |    sum(CASE WHEN w IN ('${stopWords.mkString("', '")}') THEN c ELSE 0 END) AS stopc
       |  FROM wc GROUP BY doc_id
       |), r AS (
       |  SELECT d.source,
       |    (p.nw BETWEEN $minWords AND $maxWords) AS r_len,
       |    ((d.n_chars - p.nw + 1)::DOUBLE / p.nw
       |       BETWEEN $minMeanWordLen AND $maxMeanWordLen) AS r_wordlen,
       |    (p.maxc::DOUBLE / p.nw <= $maxRepFrac) AS r_rep,
       |    (p.stopc > 0) AS r_stop
       |  FROM documents d JOIN per p USING (doc_id)
       |)
       |SELECT source, count(*) AS n_docs,
       |  sum(CASE WHEN r_len AND r_wordlen AND r_rep AND r_stop
       |      THEN 1 ELSE 0 END)::BIGINT AS n_pass,
       |  sum(CASE WHEN NOT r_len THEN 1 ELSE 0 END)::BIGINT AS fail_len,
       |  sum(CASE WHEN NOT r_rep THEN 1 ELSE 0 END)::BIGINT AS fail_rep,
       |  sum(CASE WHEN NOT r_stop THEN 1 ELSE 0 END)::BIGINT AS fail_stop
       |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** q99: winsorized per-nation spend — per-customer order totals
    * clipped to the nation's [P05, P95] before averaging, the
    * robust-mean pattern that keeps whale customers from dominating a
    * metric. Bounds are DISCRETE percentiles picked by exact integer
    * rank (rank = ⌈n·p⌉ in spend order) so both engines select the
    * same actual data value — interpolated percentiles differ by an
    * ulp across engines and can flip a rounding boundary. Ranking runs
    * on the aggregated customer-level relation (|customers| rows, not
    * |orders|); bounds broadcast back for a map-side clip.
    */
  def winsorizedSpend(spark: SparkSession, dir: String): DataFrame = {
    // exact integer cents: sums become order-independent, so every
    // aggregate is bit-identical across engines and partitionings
    val spend = Tables.orders(spark, dir)
      .select(col("o_custkey"), round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy(col("o_custkey")).agg(sum(col("c")).as("spend_c"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val bySpend = spend
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("spend_c"))
    val byNation = Window.partitionBy(col("n_name"))
    // ⌈n·p/100⌉ via integer arithmetic: (n·p + 99) div 100 — no float index
    val ranked = bySpend
      .withColumn("rn", row_number().over(byNation.orderBy(col("spend_c"))))
      .withColumn("n", count(lit(1)).over(byNation))
    val bounds = ranked
      .filter(col("rn") === ((col("n") * 5 + 99) / 100).cast("long") ||
        col("rn") === ((col("n") * 95 + 99) / 100).cast("long"))
      .groupBy(col("n_name"))
      .agg(min(col("spend_c")).as("p05_c"), max(col("spend_c")).as("p95_c"))
    bySpend.join(broadcast(bounds), "n_name")
      .withColumn("w", least(greatest(col("spend_c"), col("p05_c")), col("p95_c")))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(col("spend_c")).cast("double") / (count(lit(1)) * 100), 2).as("avg_raw"),
        round(sum(col("w")).cast("double") / (count(lit(1)) * 100), 2).as("avg_winsorized"),
        round(max(col("p95_c")).cast("double") / 100, 2).as("p95"))
      .orderBy(col("n_name"))
  }

  private val winsorizedSpendSql =
    """WITH spend AS (
      |  SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT) AS spend_c
      |  FROM orders GROUP BY o_custkey
      |), s AS (
      |  SELECT n.n_name, spend.spend_c
      |  FROM spend
      |  JOIN customer c ON spend.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |), ranked AS (
      |  SELECT n_name, spend_c,
      |    row_number() OVER (PARTITION BY n_name ORDER BY spend_c) AS rn,
      |    count(*) OVER (PARTITION BY n_name) AS n
      |  FROM s
      |), b AS (
      |  SELECT n_name, min(spend_c) AS p05_c, max(spend_c) AS p95_c
      |  FROM ranked
      |  WHERE rn = (n * 5 + 99) // 100 OR rn = (n * 95 + 99) // 100
      |  GROUP BY n_name
      |)
      |SELECT s.n_name, count(*) AS n_customers,
      |  round(sum(s.spend_c)::DOUBLE / (count(*) * 100), 2) AS avg_raw,
      |  round(sum(least(greatest(s.spend_c, b.p05_c), b.p95_c))::DOUBLE
      |    / (count(*) * 100), 2) AS avg_winsorized,
      |  round(max(b.p95_c)::DOUBLE / 100, 2) AS p95
      |FROM s JOIN b USING (n_name) GROUP BY s.n_name ORDER BY s.n_name""".stripMargin

  private val psiBins = 10

  /** q118: population stability index — distribution drift of the event
    * `value` between the first and second half of the time range,
    * PSI = Σ (q−p)·ln(q/p) over 10 fixed-width bins with add-one
    * smoothing (so empty bins stay finite). The ML-observability
    * staple for "did my feature distribution move". One scan to bin
    * and split (map-side conditional aggregation), a 10-row spine
    * join, and a constant-sized window for the total — cost is one
    * pass at any event volume; the global min/max/mid anchors ride as
    * a broadcast single-row aggregate.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("value"), unix_micros(col("ts")).as("us"))
    val anchors = e.agg(
      min(col("value")).as("lo"), max(col("value")).as("hi"),
      ((min(col("us")) + max(col("us"))) / 2).cast("long").as("mid_us"))
    val binned = e.crossJoin(broadcast(anchors))
      .withColumn("bin",
        least(floor((col("value") - col("lo")) * psiBins / (col("hi") - col("lo"))),
          lit(psiBins - 1)).cast("long"))
      .withColumn("is_ref", col("us") < col("mid_us"))
    val counts = binned.groupBy(col("bin")).agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).cast("bigint").as("n_ref"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).cast("bigint").as("n_cur"))
    val totals = binned.agg(
      sum(when(col("is_ref"), 1L).otherwise(0L)).cast("bigint").as("t_ref"),
      sum(when(!col("is_ref"), 1L).otherwise(0L)).cast("bigint").as("t_cur"))
    val spine = spark.range(psiBins).select(col("id").as("bin"))
    val p = (col("n_ref") + 1).cast("double") / (col("t_ref") + psiBins)
    val q = (col("n_cur") + 1).cast("double") / (col("t_cur") + psiBins)
    spine.join(counts, Seq("bin"), "left")
      .withColumn("n_ref", coalesce(col("n_ref"), lit(0L)))
      .withColumn("n_cur", coalesce(col("n_cur"), lit(0L)))
      .crossJoin(broadcast(totals))
      .withColumn("psi_term", round((q - p) * log(q / p), 6))
      .withColumn("psi_total",
        round(sum((q - p) * log(q / p)).over(Window.partitionBy()), 4))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        col("psi_term"), col("psi_total"))
      .orderBy(col("bin"))
  }

  private val psiDriftSql =
    s"""WITH e AS (
       |  SELECT value, epoch_us(ts) AS us FROM events
       |), a AS (
       |  SELECT min(value) AS lo, max(value) AS hi,
       |    (min(us) + max(us)) // 2 AS mid_us
       |  FROM e
       |), binned AS (
       |  SELECT least(floor((value - lo) * $psiBins / (hi - lo)), ${psiBins - 1})::BIGINT AS bin,
       |    (us < mid_us) AS is_ref
       |  FROM e CROSS JOIN a
       |), counts AS (
       |  SELECT bin,
       |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS n_ref,
       |    sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)::BIGINT AS n_cur
       |  FROM binned GROUP BY bin
       |), totals AS (
       |  SELECT sum(CASE WHEN is_ref THEN 1 ELSE 0 END)::BIGINT AS t_ref,
       |    sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END)::BIGINT AS t_cur
       |  FROM binned
       |), spine AS (
       |  SELECT unnest(generate_series(0, ${psiBins - 1})) AS bin
       |), rows_ AS (
       |  SELECT s.bin, coalesce(c.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur,
       |    t.t_ref, t.t_cur
       |  FROM spine s LEFT JOIN counts c ON s.bin = c.bin CROSS JOIN totals t
       |)
       |SELECT bin, n_ref, n_cur,
       |  round(((n_cur + 1)::DOUBLE / (t_cur + $psiBins)
       |         - (n_ref + 1)::DOUBLE / (t_ref + $psiBins))
       |    * ln(((n_cur + 1)::DOUBLE / (t_cur + $psiBins))
       |         / ((n_ref + 1)::DOUBLE / (t_ref + $psiBins))), 6) AS psi_term,
       |  round(sum(((n_cur + 1)::DOUBLE / (t_cur + $psiBins)
       |         - (n_ref + 1)::DOUBLE / (t_ref + $psiBins))
       |    * ln(((n_cur + 1)::DOUBLE / (t_cur + $psiBins))
       |         / ((n_ref + 1)::DOUBLE / (t_ref + $psiBins)))) OVER (), 4) AS psi_total
       |FROM rows_ ORDER BY bin""".stripMargin

  /** q126: Benford first-digit audit — the classic fabricated-numbers
    * screen: the distribution of leading digits of order totals vs
    * Benford's law P(d) = log10(1 + 1/d). Counts are exact integers
    * from a substring of the integer-cent string (never float math on
    * the value); shares and the Benford reference derive in one fixed
    * double expression per column, rounded once. Map-side digit
    * extraction, a 9-row aggregate, zero shuffles beyond it.
    */
  def benfordProfile(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .select(substring(round(col("o_totalprice") * 100, 0).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy()
    digits
      .withColumn("total", sum(col("n")).over(wAll))
      .select(col("digit"), col("n").cast("long").as("n"),
        round(col("n").cast("double") / col("total"), 4).as("obs_share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 4).as("benford_share"),
        round(abs(col("n").cast("double") / col("total") -
          log10(lit(1.0) + lit(1.0) / col("digit"))), 4).as("abs_dev"))
      .orderBy(col("digit"))
  }

  private val benfordProfileSql =
    """WITH d AS (
      |  SELECT substring((round(o_totalprice * 100)::BIGINT)::VARCHAR, 1, 1)::INT AS digit
      |  FROM orders
      |), c AS (
      |  SELECT digit, count(*) AS n FROM d GROUP BY 1
      |)
      |SELECT digit, n::BIGINT AS n,
      |  round(n::DOUBLE / sum(n) OVER (), 4) AS obs_share,
      |  round(log10(1.0 + 1.0 / digit), 4) AS benford_share,
      |  round(abs(n::DOUBLE / sum(n) OVER () - log10(1.0 + 1.0 / digit)), 4) AS abs_dev
      |FROM c ORDER BY digit""".stripMargin

  /** q132: MAD (median absolute deviation) outlier screen — the robust
    * complement of q85's IQR rule and q99's winsorizing: flag order
    * values more than 3 scaled MADs from their priority's median
    * (3·1.4826 ≈ 4.4478, the normal-consistency constant). Both medians
    * use the exact lower-median rule (smallest value whose cumulative
    * count reaches half) over value-domain aggregates, and the outlier
    * verdict cross-multiplies to 10000·|c−med| > 44478·MAD — integer
    * arithmetic end to end, no quantile interpolation, no float
    * boundary. Two median passes, each one cum-window over a
    * value-domain relation.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    def lowerMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val counts = df.groupBy(col("p"), col(valueCol))
        .agg(count(lit(1)).as("w"))
      val wc = Window.partitionBy(col("p")).orderBy(col(valueCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy(col("p"))
      counts
        .withColumn("cum", sum(col("w")).over(wc))
        .withColumn("tot", sum(col("w")).over(wt))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy(col("p")).agg(min(col(valueCol)).as(out))
    }
    val base = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("p"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
    val med = lowerMedian(base, "c", "med")
    val dev = base.join(broadcast(med), Seq("p"))
      .withColumn("d", abs(col("c") - col("med")))
    val mad = lowerMedian(dev, "d", "mad")
    dev.join(broadcast(mad), Seq("p"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("median_c"),
        max(col("mad")).as("mad_c"),
        sum(when(col("d") * 10000 > col("mad") * 44478, 1L).otherwise(0L))
          .cast("long").as("n_outliers"))
      .select(col("p").as("o_orderpriority"), col("n").cast("long").as("n"),
        col("median_c").cast("long").as("median_c"),
        col("mad_c").cast("long").as("mad_c"), col("n_outliers"))
      .orderBy(col("o_orderpriority"))
  }

  private val madOutliersSql =
    """WITH base AS (
      |  SELECT o_orderpriority AS p, round(o_totalprice * 100)::BIGINT AS c
      |  FROM orders
      |), c1 AS (
      |  SELECT p, c, count(*) AS w FROM base GROUP BY 1, 2
      |), m1 AS (
      |  SELECT p, min(c) AS med FROM (
      |    SELECT p, c,
      |      sum(w) OVER (PARTITION BY p ORDER BY c
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      sum(w) OVER (PARTITION BY p) AS tot
      |    FROM c1
      |  ) WHERE cum * 2 >= tot GROUP BY p
      |), dev AS (
      |  SELECT base.p, base.c, abs(base.c - m1.med) AS d, m1.med
      |  FROM base JOIN m1 ON base.p = m1.p
      |), c2 AS (
      |  SELECT p, d, count(*) AS w FROM dev GROUP BY 1, 2
      |), m2 AS (
      |  SELECT p, min(d) AS mad FROM (
      |    SELECT p, d,
      |      sum(w) OVER (PARTITION BY p ORDER BY d
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |      sum(w) OVER (PARTITION BY p) AS tot
      |    FROM c2
      |  ) WHERE cum * 2 >= tot GROUP BY p
      |)
      |SELECT dev.p AS o_orderpriority, count(*)::BIGINT AS n,
      |  max(dev.med)::BIGINT AS median_c,
      |  max(m2.mad)::BIGINT AS mad_c,
      |  sum(CASE WHEN dev.d * 10000 > m2.mad * 44478 THEN 1 ELSE 0 END)::BIGINT
      |    AS n_outliers
      |FROM dev JOIN m2 ON dev.p = m2.p
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q257: differentially-private count release — the privacy layer a
    * governance stack needs when publishing usage aggregates: per
    * (event_type, day) event counts with Laplace(1/ε) noise at ε = 1.
    * Each event contributes to exactly one released cell, so the cells
    * compose in PARALLEL and the whole table costs ε = 1 (event-level
    * DP; user-level DP would add per-user contribution clipping
    * first — the q213 user-grain groupBy is the hook).
    *
    * Noise is the inverse-CDF Laplace transform of a uniform drawn
    * from the portable md5 hash of the cell key: deterministic, so
    * retries/engines release IDENTICAL values (re-randomizing on retry
    * would burn privacy budget twice) and the oracle replays the noisy
    * release exactly. In production the uniform's seed is a secret
    * release key; the md5-of-cell-key stand-in keeps the pipeline
    * shape and the reproducibility contract testable.
    *
    * Scale shape: one partial-aggregated groupBy plus per-row scalar
    * noise math; nothing else.
    */
  def dpCountRelease(spark: SparkSession, dir: String): DataFrame = {
    val two60 = math.pow(2.0, 60)
    // a decimal 0.5 keeps u + 0.5 exact until the division rounds
    val u = (md5U60(concat(col("event_type"), lit(":"),
      col("day").cast("string"))) + lit(BigDecimal("0.5"))) / two60
    Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("true_n"))
      .withColumn("u", u)
      .withColumn("noise",
        -signum(col("u") - 0.5) * log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
      .select(col("event_type"), col("day"),
        col("true_n").cast("bigint").as("true_n"),
        round(col("noise"), 4).as("noise"),
        round(col("true_n") + col("noise"), 4).as("released_n"))
      .orderBy(col("event_type"), col("day"))
  }

  private val dpCountReleaseSql =
    s"""WITH g AS (
       |  SELECT event_type, ts::TIMESTAMP::DATE AS day, count(*)::BIGINT AS true_n
       |  FROM events GROUP BY 1, 2
       |), n AS (
       |  SELECT event_type, day, true_n,
       |    (${md5U60Sql("event_type || ':' || day::VARCHAR")} + 0.5)
       |      / ${math.pow(2.0, 60)} AS u
       |  FROM g
       |)
       |SELECT event_type, day, true_n,
       |  round(-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noise,
       |  round(true_n + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 4)
       |    AS released_n
       |FROM n ORDER BY event_type, day""".stripMargin

  /** q260: corpus datasheet — the one-shot "datasheet for a dataset"
    * summary a curation pipeline publishes with every corpus snapshot:
    * volume, source/language diversity and concentration, exact-dup
    * incidence (q34 fingerprints), length distribution, and PII-like
    * incidence (the q97 email pattern), as a tall (metric, value)
    * table ready for diffing between snapshots (the q196 watchlist
    * shape). Everything reduces in one pass plus two tiny
    * concentration aggregates — counts, distincts, exact percentiles;
    * no metric needs more than a partial-aggregated groupBy, so the
    * datasheet costs one corpus scan at any size.
    */
  def corpusDatasheet(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        md5(lower(substring(col("text"), 1, 100))).as("fp"),
        col("text").rlike(email).as("has_email"))
    val base = d.agg(
      count(lit(1)).cast("double").as("n_docs"),
      countDistinct(col("source")).cast("double").as("n_sources"),
      countDistinct(col("lang")).cast("double").as("n_langs"),
      countDistinct(col("fp")).cast("double").as("n_fp"),
      sum(col("n_chars")).cast("double").as("sum_chars"),
      expr("percentile(n_chars, 0.5)").as("p50_chars"),
      expr("percentile(n_chars, 0.95)").as("p95_chars"),
      sum(when(col("has_email"), 1.0).otherwise(0.0)).as("n_email"))
    val topSource = d.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).cast("double").as("max_source"))
    val topLang = d.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).cast("double").as("max_lang"))
    base.crossJoin(topSource).crossJoin(topLang)
      .select(expr(
        """stack(10,
          |  'dup_fp_rate', round(1.0 - n_fp / n_docs, 4),
          |  'email_doc_rate', round(n_email / n_docs, 4),
          |  'mean_chars', round(sum_chars / n_docs, 4),
          |  'n_docs', n_docs,
          |  'n_langs', n_langs,
          |  'n_sources', n_sources,
          |  'p50_chars', round(p50_chars, 4),
          |  'p95_chars', round(p95_chars, 4),
          |  'top_lang_share', round(max_lang / n_docs, 4),
          |  'top_source_share', round(max_source / n_docs, 4)
          |) as (metric, value)""".stripMargin))
      .orderBy(col("metric"))
  }

  private val corpusDatasheetSql =
    """WITH d AS (
      |  SELECT doc_id, source, lang, n_chars,
      |    md5(lower(substr(text, 1, 100))) AS fp,
      |    regexp_matches(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS has_email
      |  FROM documents
      |), base AS (
      |  SELECT count(*)::DOUBLE AS n_docs,
      |    count(DISTINCT source)::DOUBLE AS n_sources,
      |    count(DISTINCT lang)::DOUBLE AS n_langs,
      |    count(DISTINCT fp)::DOUBLE AS n_fp,
      |    sum(n_chars)::DOUBLE AS sum_chars,
      |    quantile_cont(n_chars, 0.5) AS p50_chars,
      |    quantile_cont(n_chars, 0.95) AS p95_chars,
      |    sum(CASE WHEN has_email THEN 1.0 ELSE 0.0 END) AS n_email
      |  FROM d
      |), ts AS (
      |  SELECT max(c)::DOUBLE AS max_source FROM (
      |    SELECT count(*) AS c FROM d GROUP BY source)
      |), tl AS (
      |  SELECT max(c)::DOUBLE AS max_lang FROM (
      |    SELECT count(*) AS c FROM d GROUP BY lang)
      |)
      |SELECT metric, value FROM base, ts, tl, LATERAL (VALUES
      |  ('dup_fp_rate', round(1.0 - n_fp / n_docs, 4)),
      |  ('email_doc_rate', round(n_email / n_docs, 4)),
      |  ('mean_chars', round(sum_chars / n_docs, 4)),
      |  ('n_docs', n_docs),
      |  ('n_langs', n_langs),
      |  ('n_sources', n_sources),
      |  ('p50_chars', round(p50_chars, 4)),
      |  ('p95_chars', round(p95_chars, 4)),
      |  ('top_lang_share', round(max_lang / n_docs, 4)),
      |  ('top_source_share', round(max_source / n_docs, 4))
      |) AS v(metric, value)
      |ORDER BY metric""".stripMargin

  /** q278: k-anonymity / l-diversity audit — the release-readiness
    * check a governance review runs before publishing a dataset keyed
    * by quasi-identifiers: group users by the QI tuple (event mix
    * bucket × weekday-of-first-event × value band), report the
    * equivalence-class size distribution, the share of users in
    * classes smaller than k = 5 (re-identifiable under linkage), and
    * each class's l-diversity (distinct values of the sensitive
    * attribute — the dominant event type). Complements q97/q185
    * (free-text PII) and q257 (DP release) with the tabular-release
    * side of the privacy toolkit.
    *
    * Scale shape: one user-keyed aggregation pass, one QI-keyed
    * aggregation; the report rolls up class sizes (a histogram-sized
    * relation). Nothing driver-side.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_ev"),
        min(col("ts")).as("first_ts"),
        // integer cents: the band edges below must not depend on the
        // order a double sum merged in (ADVICE r8 — a boundary flip
        // changes equivalence-class sizes and fails the hash gate)
        sum(round(col("value") * 100).cast("bigint")).as("spend_cents"))
    // dominant event type needs a per-(user, type) count first
    val dom = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(max_by(col("event_type"), struct(col("c"), col("event_type")))
        .as("dominant_type"))
    val qi = users.join(dom, Seq("user_id"))
      .select(col("user_id"), col("dominant_type"),
        // quasi-identifiers: activity band, first-seen weekday, spend
        // band — all INTEGER-derived: floor(log2 n) = bitlength(n) − 1
        // (JVM Math.log vs libm can differ an ulp at power-of-two
        // boundaries), spend bands from exact cents
        (length(bin(col("n_ev"))) - lit(1)).cast("int").as("activity_band"),
        dayofweek(col("first_ts")).cast("int").as("first_dow"),
        floor(col("spend_cents").cast("double") / 100000.0).cast("int")
          .as("spend_band"))
    val classes = qi.groupBy(col("activity_band"), col("first_dow"), col("spend_band"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("dominant_type")).as("l_div"))
    classes.agg(
        count(lit(1)).cast("bigint").as("n_classes"),
        sum(col("class_size")).cast("bigint").as("n_users"),
        min(col("class_size")).cast("bigint").as("min_class"),
        sum(when(col("class_size") < 5, col("class_size")).otherwise(0L))
          .cast("bigint").as("users_below_k5"),
        round(sum(when(col("class_size") < 5, col("class_size")).otherwise(0L))
          .cast("double") / sum(col("class_size")), 4).as("frac_below_k5"),
        min(col("l_div")).cast("bigint").as("min_l_diversity"),
        round(avg(col("l_div")), 4).as("avg_l_diversity"))
  }

  private val kAnonymitySql =
    """WITH u AS (
      |  SELECT user_id, count(*) AS n_ev, min(ts) AS first_ts,
      |    sum(round(value * 100)::BIGINT) AS spend_cents
      |  FROM events GROUP BY user_id
      |), pt AS (
      |  SELECT user_id, event_type, count(*) AS c
      |  FROM events GROUP BY user_id, event_type
      |), dom AS (
      |  SELECT user_id, event_type AS dominant_type FROM (
      |    SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id
      |                         ORDER BY c DESC, event_type DESC) AS rn
      |    FROM pt) WHERE rn = 1
      |), qi AS (
      |  SELECT u.user_id, dom.dominant_type,
      |    (length(bin(u.n_ev)) - 1)::INT AS activity_band,
      |    (dayofweek(u.first_ts) + 1)::INT AS first_dow,
      |    floor(u.spend_cents::DOUBLE / 100000.0)::INT AS spend_band
      |  FROM u JOIN dom USING (user_id)
      |), cls AS (
      |  SELECT activity_band, first_dow, spend_band,
      |    count(*) AS class_size,
      |    count(DISTINCT dominant_type) AS l_div
      |  FROM qi GROUP BY 1, 2, 3
      |)
      |SELECT count(*)::BIGINT AS n_classes,
      |  sum(class_size)::BIGINT AS n_users,
      |  min(class_size)::BIGINT AS min_class,
      |  sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)::BIGINT
      |    AS users_below_k5,
      |  round(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)::DOUBLE
      |    / sum(class_size), 4) AS frac_below_k5,
      |  min(l_div)::BIGINT AS min_l_diversity,
      |  round(avg(l_div), 4) AS avg_l_diversity
      |FROM cls""".stripMargin

  /** q283: Fleiss' kappa multi-rater agreement — q232 handles TWO
    * raters (Cohen); real labeling efforts run panels, and Fleiss
    * (1971) is the statistic their QA reports: per item,
    * P_i = Σ_k n_ik(n_ik−1)/(n(n−1)) measures within-panel agreement,
    * P̄ averages it, P̄_e = Σ_k p_k² is the chance floor from category
    * marginals, κ = (P̄−P̄_e)/(1−P̄_e). The panel here is three
    * deterministic quality raters every doc gets (char-length,
    * word-count, distinct-word gates — correlated but distinct, the
    * realistic regime), reported per language so a low-κ slice flags
    * where the rubric is ambiguous.
    *
    * Scale shape: per-row map to three 0/1 votes → the per-item P_i is
    * closed-form in the vote sum; one lang-keyed aggregation with
    * map-side partials and the κ algebra on the |langs|-row readout.
    */
  def fleissKappa(spark: SparkSession, dir: String): DataFrame = {
    val nR = 3.0
    val votes = Tables.documents(spark, dir)
      .select(col("lang"),
        ((col("n_chars") >= 300).cast("int")
          + (size(split(col("text"), " ")) >= 52).cast("int")
          + (size(array_distinct(split(col("text"), " "))) >= 25).cast("int"))
          .as("v"))
      // P_i over 3 raters: pairs agreeing / 3 = (v(v-1) + (3-v)(2-v)) / 6
      .withColumn("p_i",
        (col("v") * (col("v") - 1)
          + (lit(3) - col("v")) * (lit(2) - col("v"))).cast("double") / 6.0)
    votes
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("bigint").as("n_docs"),
        avg(col("p_i")).as("pbar"),
        avg(col("v").cast("double") / nR).as("p1"))
      .withColumn("pe", col("p1") * col("p1")
        + (lit(1.0) - col("p1")) * (lit(1.0) - col("p1")))
      .select(col("lang"), col("n_docs"),
        round(col("pbar"), 4).as("p_observed"),
        round(col("pe"), 4).as("p_expected"),
        round((col("pbar") - col("pe")) / (lit(1.0) - col("pe")), 4).as("kappa"))
      .orderBy(col("lang"))
  }

  private val fleissKappaSql =
    """WITH l AS (
      |  SELECT lang,
      |    (n_chars >= 300)::INT
      |      + (len(string_split(text, ' ')) >= 52)::INT
      |      + (len(list_distinct(string_split(text, ' '))) >= 25)::INT AS v
      |  FROM documents
      |), g AS (
      |  SELECT lang, count(*)::BIGINT AS n_docs,
      |    avg((v * (v - 1) + (3 - v) * (2 - v))::DOUBLE / 6.0) AS pbar,
      |    avg(v::DOUBLE / 3.0) AS p1
      |  FROM l GROUP BY lang
      |)
      |SELECT lang, n_docs,
      |  round(pbar, 4) AS p_observed,
      |  round(p1 * p1 + (1.0 - p1) * (1.0 - p1), 4) AS p_expected,
      |  round((pbar - (p1 * p1 + (1.0 - p1) * (1.0 - p1)))
      |    / (1.0 - (p1 * p1 + (1.0 - p1) * (1.0 - p1))), 4) AS kappa
      |FROM g ORDER BY lang""".stripMargin

  /** q288: 1-D Wasserstein (earth-mover) drift per source — the
    * transport-distance upgrade of q118's PSI: W₁ between two empirical
    * distributions is the area between their quantile functions, so it
    * stays finite and interpretable (in CHARACTERS here) where
    * bin-based divergences saturate or blow up on disjoint support.
    * Each source's doc-length distribution is compared against the
    * reference source (q225's convention): Ŵ₁ = mean over a 20-point
    * equi-spaced quantile grid of |F⁻¹_s(u) − F⁻¹_ref(u)|, with exact
    * integer order statistics (rank ⌈n(2k−1)/40⌉, doc_id tiebreak) —
    * no interpolation, no floats until the final mean of 20 integers.
    * The signed companion (mean quantile shift) says WHICH WAY the
    * lengths moved.
    *
    * Scale shape: quantile extraction is a per-source window
    * (row_number partitioned by source — millions of independent
    * partitions, never global) + a 20-row broadcast spine join; the
    * readout is |sources|×20 metadata. The data is touched once.
    */
  def wassersteinDrift(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
    val ks = spark.range(1, 21).toDF("k")
    val quants = ranked.join(broadcast(ks),
        col("rn") === expr("(n * (2 * k - 1) + 39) div 40"))
      .select(col("source"), col("k"), col("n"), col("n_chars").as("q"))
    val ref = quants.filter(col("source") === "src0")
      .select(col("k"), col("q").as("q_ref"))
    quants.join(broadcast(ref), Seq("k"))
      .groupBy(col("source"))
      .agg(max(col("n")).cast("bigint").as("n_docs"),
        round(avg(abs(col("q") - col("q_ref")).cast("double")), 4)
          .as("w1_chars"),
        round(avg((col("q") - col("q_ref")).cast("double")), 4)
          .as("shift_chars"))
      .orderBy(col("source"))
  }

  private val wassersteinDriftSql =
    """WITH ranked AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents
      |), quants AS (
      |  SELECT source, k, n, n_chars AS q
      |  FROM ranked JOIN (SELECT unnest(generate_series(1, 20)) AS k)
      |    ON rn = (n * (2 * k - 1) + 39) // 40
      |), ref AS (
      |  SELECT k, q AS q_ref FROM quants WHERE source = 'src0'
      |)
      |SELECT source, max(n)::BIGINT AS n_docs,
      |  round(avg(abs(q - q_ref)::DOUBLE), 4) AS w1_chars,
      |  round(avg((q - q_ref)::DOUBLE), 4) AS shift_chars
      |FROM quants JOIN ref USING (k)
      |GROUP BY source ORDER BY source""".stripMargin

  /** q299: Otsu threshold selection — the data-driven way to set a
    * quality-gate cutoff instead of hand-picking one (q98's rules use
    * fixed thresholds): over a 32-bin histogram of the doc-length
    * score, choose the split maximizing between-class variance
    * σ_B² = w₀w₁(μ₀−μ₁)²/W² — Otsu (1979), the standard bimodal-
    * separation criterion ported from image binarization to score
    * distributions. Output: the winning bin, its raw-value boundary,
    * and both classes' occupancy and mean — what a curation review
    * needs to accept the gate.
    *
    * Cross-engine determinism: bin assignment is exact integer
    * div-arithmetic from global min/max; all candidate scores derive
    * from exact cumulative integer counts through an identical IEEE
    * chain, and the argmax tiebreaks on the bin index.
    *
    * Scale shape: one map-side-partial histogram pass (32 cells), a
    * 2-row min/max broadcast, and the threshold scan is a cumsum
    * window over the 32-row bin spine. 10¹² docs → 32 rows of
    * metadata work.
    */
  def otsuThreshold(spark: SparkSession, dir: String): DataFrame = {
    val ext = Tables.documents(spark, dir)
      .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    val bins = Tables.documents(spark, dir)
      .crossJoin(broadcast(ext))
      .select(expr("(n_chars - lo) * 32 div (hi - lo + 1)").as("b"),
        col("lo"), col("hi"))
      .groupBy(col("b"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = bins.agg(sum(col("c")).as("w_all"),
      sum(col("b") * col("c")).as("s_all"))
    val scored = bins.crossJoin(broadcast(tot))
      .withColumn("w0", sum(col("c")).over(wCum))
      .withColumn("s0", sum(col("b") * col("c")).over(wCum))
      .filter(col("w0") < col("w_all"))
      .withColumn("w1", col("w_all") - col("w0"))
      .withColumn("s1", col("s_all") - col("s0"))
      .withColumn("m0", col("s0").cast("double") / col("w0"))
      .withColumn("m1", col("s1").cast("double") / col("w1"))
      .withColumn("score",
        col("w0").cast("double") * col("w1") * (col("m0") - col("m1"))
          * (col("m0") - col("m1"))
          / (col("w_all").cast("double") * col("w_all")))
    scored.orderBy(col("score").desc, col("b"))
      .limit(1)
      .select(col("b").cast("int").as("best_bin"),
        expr("lo + (b + 1) * (hi - lo + 1) div 32")
          .cast("bigint").as("boundary_chars"),
        col("w0").cast("bigint").as("n_below"),
        col("w1").cast("bigint").as("n_above"),
        round(col("m0"), 4).as("mean_bin_below"),
        round(col("m1"), 4).as("mean_bin_above"),
        round(col("score"), 6).as("between_class_var"))
  }

  private val otsuThresholdSql =
    """WITH ext AS (
      |  SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents
      |), bins AS (
      |  SELECT (n_chars - lo) * 32 // (hi - lo + 1) AS b, lo, hi,
      |    count(*)::BIGINT AS c
      |  FROM documents CROSS JOIN ext GROUP BY 1, 2, 3
      |), t AS (
      |  SELECT sum(c)::BIGINT AS w_all, sum(b * c)::BIGINT AS s_all FROM bins
      |), cum AS (
      |  SELECT b, lo, hi, w_all, s_all,
      |    sum(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)::BIGINT AS w0,
      |    sum(b * c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)::BIGINT AS s0
      |  FROM bins CROSS JOIN t
      |), sc AS (
      |  SELECT b, lo, hi, w0, w_all - w0 AS w1,
      |    s0::DOUBLE / w0 AS m0,
      |    (s_all - s0)::DOUBLE / (w_all - w0) AS m1,
      |    w0::DOUBLE * (w_all - w0)
      |      * (s0::DOUBLE / w0 - (s_all - s0)::DOUBLE / (w_all - w0))
      |      * (s0::DOUBLE / w0 - (s_all - s0)::DOUBLE / (w_all - w0))
      |      / (w_all::DOUBLE * w_all) AS score
      |  FROM cum WHERE w0 < w_all
      |)
      |SELECT b::INT AS best_bin,
      |  (lo + (b + 1) * (hi - lo + 1) // 32)::BIGINT AS boundary_chars,
      |  w0 AS n_below, w1 AS n_above,
      |  round(m0, 4) AS mean_bin_below,
      |  round(m1, 4) AS mean_bin_above,
      |  round(score, 6) AS between_class_var
      |FROM sc ORDER BY score DESC, b LIMIT 1""".stripMargin

  override lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q283_fleiss_kappa", fleissKappa, Some(fleissKappaSql)),
    QueryDef("q288_wasserstein_drift", wassersteinDrift,
      Some(wassersteinDriftSql)),
    QueryDef("q299_otsu_threshold", otsuThreshold, Some(otsuThresholdSql)),
    QueryDef("q257_dp_count_release", dpCountRelease, Some(dpCountReleaseSql)),
    QueryDef("q278_k_anonymity", kAnonymity, Some(kAnonymitySql)),
    QueryDef("q260_corpus_datasheet", corpusDatasheet,
      Some(corpusDatasheetSql)),
    QueryDef("q97_pii_scrub", piiScrub, Some(piiScrubSql)),
    QueryDef("q98_quality_rules", qualityRules, Some(qualityRulesSql)),
    QueryDef("q99_winsorized_spend", winsorizedSpend, Some(winsorizedSpendSql)),
    QueryDef("q118_psi_drift", psiDrift, Some(psiDriftSql)),
    QueryDef("q126_benford_profile", benfordProfile, Some(benfordProfileSql)),
    QueryDef("q132_mad_outliers", madOutliers, Some(madOutliersSql)),
    QueryDef("q185_pii_incidence", piiIncidence, Some(piiIncidenceSql)),
    QueryDef("q208_rule_interactions", ruleInteractions,
      Some(ruleInteractionsSql)),
  )
  // NOTE: defs is lazy (see bottom of file) because piiIncidenceSql is
  // declared below it; a strict val here would capture null.

  /** q185: PII incidence profile — the measurement counterpart to q97's
    * scrub: per source, how often each sensitive pattern (email, IPv4,
    * phone, bare number) appears, normalized per 10k characters. The
    * audit a privacy review runs BEFORE deciding to scrub. Counts are
    * independent per rule (no replacement ordering — this profiles raw
    * incidence, and overlaps like phone⊂number are expected and
    * documented); rates derive from exact integer hit/char sums with
    * one double division per cell.
    *
    * Scale: pure codegen'd regexp counts at scan speed, one
    * partial-aggregated groupBy on the 20-source key.
    */
  def piiIncidence(spark: SparkSession, dir: String): DataFrame = {
    val counted = piiRules.foldLeft(
      Tables.documents(spark, dir).select(col("source"),
        length(col("text")).cast("long").as("n_chars_doc"),
        col("text"))) { case (acc, (name, re, _)) =>
      acc.withColumn(s"h_$name",
        size(regexp_extract_all(col("text"), lit(re), lit(0))).cast("long"))
    }
    val g = counted.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_chars_doc")).as("chars"),
        sum(col("h_email")).cast("bigint").as("n_email"),
        sum(col("h_ipv4")).cast("bigint").as("n_ipv4"),
        sum(col("h_phone")).cast("bigint").as("n_phone"),
        sum(col("h_number")).cast("bigint").as("n_number"))
    def rate(c: Column) = round(c.cast("double") * 10000 / col("chars"), 4)
    g.select(col("source"), col("n_docs"),
        col("n_email"), col("n_ipv4"), col("n_phone"), col("n_number"),
        rate(col("n_number")).as("number_per_10k"),
        rate(col("n_phone")).as("phone_per_10k"))
      .orderBy(col("source"))
  }

  private val piiIncidenceSql =
    """WITH d AS (
      |  SELECT source, length(text)::BIGINT AS n_chars_doc,
      |    len(regexp_extract_all(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS he,
      |    len(regexp_extract_all(text,
      |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::BIGINT AS hi,
      |    len(regexp_extract_all(text,
      |      '\+?[0-9][0-9()\- ]{6,}[0-9]'))::BIGINT AS hp,
      |    len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS hn
      |  FROM documents
      |)
      |SELECT source, count(*)::BIGINT AS n_docs,
      |  sum(he)::BIGINT AS n_email, sum(hi)::BIGINT AS n_ipv4,
      |  sum(hp)::BIGINT AS n_phone, sum(hn)::BIGINT AS n_number,
      |  round(sum(hn)::DOUBLE * 10000 / sum(n_chars_doc), 4) AS number_per_10k,
      |  round(sum(hp)::DOUBLE * 10000 / sum(n_chars_doc), 4) AS phone_per_10k
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** q208: quality-rule interaction profile — the UpSet view of q98's
    * gate: one row per EXACT combination of failed rules (a '+'-joined
    * signature, 'pass' when none fail) with doc counts and corpus
    * share. q98 says how often each rule fires; this says how they
    * CO-fire — a rule whose failures are always a subset of another's
    * is redundant and can be dropped from the gate, which is exactly
    * the analysis curation teams run before shipping a filter change.
    *
    * Scale shape: identical reduction as q98 (one word-count
    * aggregation per doc), then a map-side signature construction and
    * one rollup over ≤ 2⁴ signature values.
    */
  def ruleInteractions(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    val wc = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val per = wc.groupBy(col("doc_id")).agg(
      sum(col("c")).cast("bigint").as("nw"),
      max(col("c")).as("maxc"),
      sum(when(col("w").isin(stopWords: _*), col("c")).otherwise(lit(0L))).as("stopc"))
    val sig = docs.join(per, "doc_id")
      .withColumn("mwl", (col("n_chars") - col("nw") + 1).cast("double") / col("nw"))
      .withColumn("f_len", !col("nw").between(minWords, maxWords))
      .withColumn("f_wordlen", !col("mwl").between(minMeanWordLen, maxMeanWordLen))
      .withColumn("f_rep", col("maxc").cast("double") / col("nw") > maxRepFrac)
      .withColumn("f_stop", col("stopc") === 0)
      .withColumn("sig", when(
        !col("f_len") && !col("f_wordlen") && !col("f_rep") && !col("f_stop"),
        lit("pass")).otherwise(concat_ws("+",
          when(col("f_len"), "len"), when(col("f_wordlen"), "wordlen"),
          when(col("f_rep"), "rep"), when(col("f_stop"), "stop"))))
    sig.groupBy(col("sig").as("failed_rules"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"))
      .withColumn("share", round(col("n_docs").cast("double") /
        sum(col("n_docs")).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)), 4))
      .orderBy(col("failed_rules"))
  }

  private val ruleInteractionsSql =
    s"""WITH wc AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY doc_id, w
       |), per AS (
       |  SELECT doc_id, sum(c)::BIGINT AS nw, max(c) AS maxc,
       |    sum(CASE WHEN w IN ('${stopWords.mkString("', '")}') THEN c ELSE 0 END)
       |      AS stopc
       |  FROM wc GROUP BY doc_id
       |), f AS (
       |  SELECT d.doc_id,
       |    NOT (p.nw BETWEEN $minWords AND $maxWords) AS f_len,
       |    NOT ((d.n_chars - p.nw + 1)::DOUBLE / p.nw
       |         BETWEEN $minMeanWordLen AND $maxMeanWordLen) AS f_wordlen,
       |    (p.maxc::DOUBLE / p.nw > $maxRepFrac) AS f_rep,
       |    (p.stopc = 0) AS f_stop
       |  FROM documents d JOIN per p ON d.doc_id = p.doc_id
       |), s AS (
       |  SELECT CASE WHEN NOT f_len AND NOT f_wordlen AND NOT f_rep
       |                   AND NOT f_stop THEN 'pass'
       |    ELSE concat_ws('+',
       |      CASE WHEN f_len THEN 'len' END,
       |      CASE WHEN f_wordlen THEN 'wordlen' END,
       |      CASE WHEN f_rep THEN 'rep' END,
       |      CASE WHEN f_stop THEN 'stop' END) END AS failed_rules
       |  FROM f
       |)
       |SELECT failed_rules, count(*)::BIGINT AS n_docs,
       |  round(count(*)::DOUBLE / (SELECT count(*) FROM s), 4) AS share
       |FROM s GROUP BY failed_rules ORDER BY failed_rules""".stripMargin
}
