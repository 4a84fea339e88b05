package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.HashFunctions.{md5U60, md5U60Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus sampling / data-mixing operators — deterministic weighted
  * sampling (Efraimidis–Spirakis A-ES keys over an md5-derived
  * uniform) and nucleus (top-p) source truncation, the two selection
  * primitives a data-mixing pipeline runs before training.
  *
  * Scale notes (100 TB design):
  *  - the A-ES key is a pure per-row expression (md5 → 60-bit uniform
  *    → ln(u)/w), so candidate scoring is map-side; the global top-k
  *    lands in `TakeOrderedAndProject` — partial per-partition top-k,
  *    k rows to one reducer, never a full sort;
  *  - portable determinism: the uniform is `HashFunctions.md5U60` of
  *    the doc id, not `rand()`, so the same sample comes back on any
  *    cluster, any partitioning, any retry — auditable sampling, and
  *    the whole path is SQL-replayable for the oracle (`md5U60Sql`);
  *  - nucleus truncation runs its window over the SOURCE-level
  *    aggregate (hundreds of rows at any corpus size), and the
  *    in-nucleus verdict is integer math (10·cum_prev < 9·total) —
  *    no float boundary to disagree across engines.
  */
object Sampling extends QueryModule {

  private val sampleK = 50
  private val two60 = 1152921504606846976L // 2^60, exact in double

  /** q101: weighted sample without replacement — Efraimidis–Spirakis
    * A-ES: key(d) = ln(u_d) / w_d with u_d ∈ (0,1] uniform and
    * w_d = n_chars; the k largest keys are a proper weighted sample.
    * One scan + partial top-k; reported key is scaled ×1000 so the
    * 4-decimal round keeps signal.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
      .withColumn("h", md5U60(col("doc_id").cast("string")))
      .withColumn("u", (col("h") + 1).cast("double") / lit(two60).cast("double"))
      .withColumn("k", log(col("u")) / col("n_chars"))
      .orderBy(col("k").desc, col("doc_id"))
      .limit(sampleK)
      .select(col("doc_id"), col("n_chars"),
        round(col("k") * 1000, 4).as("key_x1000"))

  private val weightedSampleSql =
    s"""WITH h AS (
       |  SELECT doc_id, n_chars,
       |    ${md5U60Sql("doc_id::VARCHAR")} AS h
       |  FROM documents
       |), k AS (
       |  SELECT doc_id, n_chars,
       |    ln((h + 1)::DOUBLE / $two60) / n_chars AS k
       |  FROM h
       |)
       |SELECT doc_id, n_chars, round(k * 1000, 4) AS key_x1000
       |FROM k ORDER BY k DESC, doc_id LIMIT $sampleK""".stripMargin

  /** q102: nucleus (top-p) source truncation at p = 0.9 — rank sources
    * by token mass and keep the smallest prefix whose cumulative mass
    * reaches 90% of the corpus; the data-mixing step that drops
    * long-tail sources. The verdict is exact integer arithmetic:
    * a source is in the nucleus iff the mass BEFORE it is < 0.9·total.
    */
  def topPSources(spark: SparkSession, dir: String): DataFrame = {
    val mass = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("bigint").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).cast("bigint").as("n_tokens"))
    val tot = mass.agg(sum(col("n_tokens")).as("total"))
    val w = Window.orderBy(col("n_tokens").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mass.crossJoin(broadcast(tot))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("share", round(col("n_tokens").cast("double") / col("total"), 4))
      .withColumn("in_nucleus",
        (col("cum_tokens") - col("n_tokens")) * 10 < col("total") * 9)
      .select(col("source"), col("n_tokens"), col("cum_tokens"),
        col("share"), col("in_nucleus"))
      .orderBy(col("cum_tokens"))
  }

  private val topPSourcesSql =
    """WITH m AS (
      |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
      |  FROM documents GROUP BY source
      |), t AS (SELECT sum(n_tokens)::BIGINT AS total FROM m),
      |c AS (
      |  SELECT source, n_tokens, total,
      |    sum(n_tokens) OVER (ORDER BY n_tokens DESC, source
      |                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
      |  FROM m CROSS JOIN t
      |)
      |SELECT source, n_tokens, cum_tokens,
      |  round(n_tokens::DOUBLE / total, 4) AS share,
      |  ((cum_tokens - n_tokens) * 10 < total * 9) AS in_nucleus
      |FROM c ORDER BY cum_tokens""".stripMargin

  /** q125: fixed-k per-group sample — exactly 3 documents per source,
    * chosen by an md5-derived per-doc uniform (the distributed,
    * re-run-stable replacement for per-group reservoir sampling:
    * same rows under any partitioning, any retry, any cluster size).
    * Complements q38 (rate-stratified) and q101 (global weighted):
    * this is the fixed-quota-per-stratum shape. Per-group partial
    * top-k via the ranking window on a group-partitioned sort.
    */
  def fixedKSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("u"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("u"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("source"), col("rk").cast("int").as("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  private val fixedKSampleSql =
    """SELECT source, rk::INT AS rk, doc_id FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      |  FROM documents
      |) WHERE rk <= 3 ORDER BY source, rk""".stripMargin

  private val tokenBudget = 100000L

  /** q133: token-budget apportionment — split a fixed training-token
    * budget across sources proportionally to their token mass, using
    * LARGEST-REMAINDER rounding (Hamilton's method): every source gets
    * floor(B·mᵢ/T), and the sources with the largest remainders split
    * the leftover, one token each. The mixing-table builder that q72's
    * resampler consumes. Σ quotas = B EXACTLY — integer division,
    * integer remainder ranking, no float apportionment drift; bit-equal
    * across engines and partitionings. Source-level relation throughout.
    */
  def tokenBudgetApportion(spark: SparkSession, dir: String): DataFrame = {
    val mass = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("bigint").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).cast("long").as("n_tokens"))
    val tot = mass.agg(sum(col("n_tokens")).as("t"),
      count(lit(1)).cast("long").as("n_sources"))
    val w = Window.orderBy(col("rem").desc, col("source"))
    val wAll = Window.partitionBy()
    mass.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"$tokenBudget * n_tokens div t"))
      .withColumn("rem", expr(s"($tokenBudget * n_tokens) % t"))
      .withColumn("rk", row_number().over(w))
      .withColumn("deficit", lit(tokenBudget) - sum(col("base")).over(wAll))
      .withColumn("quota",
        col("base") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
      .select(col("source"), col("n_tokens"), col("quota").cast("long").as("quota"))
      .orderBy(col("source"))
  }

  private val tokenBudgetApportionSql =
    s"""WITH m AS (
       |  SELECT source, sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
       |  FROM documents GROUP BY source
       |), t AS (SELECT sum(n_tokens)::BIGINT AS t FROM m),
       |a AS (
       |  SELECT source, n_tokens,
       |    $tokenBudget * n_tokens // t AS base,
       |    ($tokenBudget * n_tokens) % t AS rem
       |  FROM m CROSS JOIN t
       |), r AS (
       |  SELECT source, n_tokens, base,
       |    row_number() OVER (ORDER BY rem DESC, source) AS rk,
       |    $tokenBudget - sum(base) OVER () AS deficit
       |  FROM a
       |)
       |SELECT source, n_tokens,
       |  (base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END)::BIGINT AS quota
       |FROM r ORDER BY source""".stripMargin

  private val groupSampleK = 2

  /** q153: weighted per-group sampling — k=2 docs per source with
    * inclusion probability ∝ n_chars, the Efraimidis–Spirakis A-ES key
    * (ln(u)/w, max-k) applied per stratum. Completes the sampling
    * matrix: q38 rate-stratified, q101 global weighted, q125 fixed-k
    * uniform, q153 fixed-k weighted. Deterministic md5-derived
    * uniforms make it partition/retry-stable like its siblings.
    *
    * Scale: per-group rank via window over the (source)-partitioned
    * relation — at extreme group sizes the rank ≤ k filter becomes a
    * per-group top-k aggregation (the q42 TopK shape); the window form
    * keeps the oracle exactly replayable.
    */
  def weightedGroupSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("k").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("h", md5U60(col("doc_id").cast("string")))
      .withColumn("u", (col("h") + 1).cast("double") / lit(two60).cast("double"))
      .withColumn("k", log(col("u")) / col("n_chars"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= groupSampleK)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"),
        round(col("k") * 1000, 4).as("key_x1000"))
      .orderBy(col("source"), col("rank"))
  }

  private val weightedGroupSampleSql =
    s"""WITH h AS (
       |  SELECT source, doc_id, n_chars,
       |    ${md5U60Sql("doc_id::VARCHAR")} AS h
       |  FROM documents
       |), k AS (
       |  SELECT source, doc_id, n_chars,
       |    ln((h + 1)::DOUBLE / $two60) / n_chars AS k
       |  FROM h
       |), r AS (
       |  SELECT source, doc_id, n_chars, k,
       |    row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rank
       |  FROM k
       |)
       |SELECT source, rank::INT AS rank, doc_id, n_chars,
       |  round(k * 1000, 4) AS key_x1000
       |FROM r WHERE rank <= $groupSampleK
       |ORDER BY source, rank""".stripMargin

  /** q213: group-aware train/val/test split — the 80/10/10 assignment an
    * ML pipeline must make at the USER grain, not the row grain: every
    * event of a user lands in the user's split, so no entity leaks
    * across train and eval (the classic leakage bug row-wise splits
    * cause). Assignment is the portable md5 bucket (`hash60(user) mod
    * 100`) — reproducible under retries, partitioning, and engines, and
    * stable as new events arrive for a known user. Output: per split,
    * user/event/purchase counts, integer-cents value mass, and the
    * realized event share (vs the nominal 80/10/10 — the drift a
    * grouped split ALWAYS shows, because users carry different event
    * volumes; reporting it is the point of the audit).
    *
    * Scale shape: one map-side bucket expression on the fact, one
    * two-level aggregation (user, then split); no shuffle beyond the
    * user rollup the audit needs anyway.
    */
  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = md5U60(col("user_id").cast("string")) % 100
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        sum(col("c")).as("value_c"))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
    perUser.groupBy(col("split"))
      .agg(count(lit(1)).cast("bigint").as("n_users"),
        sum(col("n_events")).cast("bigint").as("n_events"),
        sum(col("n_purchases")).cast("bigint").as("n_purchases"),
        sum(col("value_c")).cast("bigint").as("value_c"))
      .withColumn("event_share", round(col("n_events").cast("double") /
        sum(col("n_events")).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)), 4))
      .orderBy(col("split"))
  }

  private val groupSplitSql =
    s"""WITH pu AS (
      |  SELECT user_id, count(*) AS n_events,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS n_purchases,
      |    sum(round(value * 100)::BIGINT) AS value_c,
      |    ${md5U60Sql("user_id::VARCHAR")} % 100 AS bucket
      |  FROM events GROUP BY user_id
      |), s AS (
      |  SELECT CASE WHEN bucket < 80 THEN 'train'
      |              WHEN bucket < 90 THEN 'val'
      |              ELSE 'test' END AS split,
      |    n_events, n_purchases, value_c
      |  FROM pu
      |)
      |SELECT split, count(*)::BIGINT AS n_users,
      |  sum(n_events)::BIGINT AS n_events,
      |  sum(n_purchases)::BIGINT AS n_purchases,
      |  sum(value_c)::BIGINT AS value_c,
      |  round(sum(n_events)::DOUBLE / sum(sum(n_events)) OVER (), 4)
      |    AS event_share
      |FROM s GROUP BY split ORDER BY split""".stripMargin

  // lazy: q215's SQL val is declared below this list (a strict val would
  // capture null at object init — same fix as Governance/Similarity)
  /** q239: deterministic Poisson-bootstrap confidence interval for the
    * mean daily revenue — distributed uncertainty quantification with
    * zero rand(): replica b resamples each day with multiplicity
    * w(d,b) = Poisson(1)⁻¹(u) where u is the portable 60-bit md5
    * uniform of (day, replica), the standard online-bootstrap
    * approximation of with-replacement resampling (each day drawn
    * ~Binomial(n,1/n) → Poisson(1) as n grows). The CI is the exact
    * rank-5 / rank-(B−4) pair of the 200 replica means — discrete
    * percentiles at integer ranks, no interpolation.
    *
    * Parity engineering: the inverse CDF runs as INTEGER comparisons —
    * the Poisson(1) cumulative thresholds are pre-scaled to 2⁶⁰ and
    * embedded as BIGINT literals in both engines, so multiplicity
    * assignment involves no floats at all; replica sums stay BIGINT,
    * and each replica mean is a single int/int IEEE division (ordering
    * tie-broken by replica id).
    *
    * Scale shape: the fact table reduces to the bounded day relation
    * first (one shuffle); the ×200 replica expansion and the replica
    * rollup are O(days·B), constant in corpus size. Replicas with
    * all-zero weight (P ≈ e^(−200·days)) are excluded symmetrically —
    * the rank pair adapts to the realized replica count.
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        .cast("long").as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
    val u = md5U60(concat(col("d").cast("string"), lit("_"),
      col("b").cast("string")))
    val wCol = poissonThresholds.zipWithIndex
      .foldRight(lit(8L): org.apache.spark.sql.Column) {
        case ((thr, k), rest) => when(u < thr, k.toLong).otherwise(rest)
      }
    // class-C discipline (q258 precedent): the ×200 explode and its
    // per-row md5 kernel must not inherit the day relation's AQE-
    // coalesced single partition — spread the compact day rows first
    // (the r11 width audit flagged the fused stage at 1 task × 0.7 s)
    val reps = daily
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("d"), col("x"), explode(expr("sequence(0, 199)")).as("b"))
      .withColumn("w", wCol)
    val means = reps.groupBy(col("b"))
      .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .withColumn("m", col("swx").cast("double") / col("sw"))
    val ranked = means
      .withColumn("rk", row_number().over(Window.orderBy(col("m"), col("b"))))
      .withColumn("n_used", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    val tot = daily.agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"))
    ranked
      .filter(col("rk") === 5 || col("rk") === col("n_used") - 4)
      .groupBy(col("n_used"))
      .agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      .crossJoin(broadcast(tot))
      .select(col("n_days").cast("bigint").as("n_days"),
        col("n_used").cast("bigint").as("n_replicas"),
        round(col("sx").cast("double") / col("n_days") / 100.0, 4)
          .as("mean_rev"),
        round(col("lo") / 100.0, 4).as("ci_lo"),
        round(col("hi") / 100.0, 4).as("ci_hi"))
  }

  /** Poisson(1) CDF thresholds scaled to 2⁶⁰, exact BIGINT literals
    * shared verbatim by both engines (w = k iff u60 ∈ [L_{k-1}, L_k)).
    */
  private val poissonThresholds: Seq[Long] = {
    val e = math.exp(-1.0)
    val fact = Seq(1L, 1L, 2L, 6L, 24L, 120L, 720L, 5040L)
    val cums = fact.map(f => e / f).scanLeft(0.0)(_ + _).tail
    cums.map(c => (BigDecimal(c) * BigDecimal(two60)).toBigInt.toLong)
  }

  private lazy val bootstrapCiSql = {
    val thrCases = poissonThresholds.zipWithIndex
      .map { case (thr, k) => s"WHEN u60 < $thr THEN $k" }
      .mkString("\n      ")
    s"""WITH daily AS (
       |  SELECT (o_orderdate::DATE - DATE '1970-01-01') AS d,
       |    sum(round(o_totalprice * 100)::BIGINT) AS x
       |  FROM orders GROUP BY 1
       |), reps AS (
       |  SELECT d, x, b,
       |    ${md5U60Sql("d::VARCHAR || '_' || b::VARCHAR")} AS u60
       |  FROM daily CROSS JOIN (SELECT unnest(generate_series(0, 199)) AS b)
       |), weighted AS (
       |  SELECT b, d, x,
       |    CASE
       |      $thrCases
       |      ELSE 8 END AS w
       |  FROM reps
       |), means AS (
       |  SELECT b, sum(w * x) AS swx, sum(w) AS sw,
       |    sum(w * x)::DOUBLE / sum(w) AS m
       |  FROM weighted GROUP BY b HAVING sum(w) > 0
       |), ranked AS (
       |  SELECT b, m, row_number() OVER (ORDER BY m, b) AS rk,
       |    count(*) OVER () AS n_used
       |  FROM means
       |), tot AS (
       |  SELECT count(*) AS n_days, sum(x) AS sx FROM daily
       |)
       |SELECT t.n_days::BIGINT AS n_days, r.n_used::BIGINT AS n_replicas,
       |  round(t.sx::DOUBLE / t.n_days / 100.0, 4) AS mean_rev,
       |  round(min(r.m) / 100.0, 4) AS ci_lo,
       |  round(max(r.m) / 100.0, 4) AS ci_hi
       |FROM ranked r CROSS JOIN tot t
       |WHERE r.rk = 5 OR r.rk = r.n_used - 4
       |GROUP BY t.n_days, r.n_used, t.sx""".stripMargin
  }

  /** q287: iterative proportional fitting (raking) of the corpus mix —
    * the survey-statistics reweighting (Deming & Stephan 1940) a
    * data-mixing pipeline runs when the training recipe fixes BOTH
    * margins: "equal mass per language AND equal mass per source",
    * while the raw (lang × source) cell counts satisfy neither. IPF
    * alternately rescales rows then columns to their targets; three
    * full sweeps land within fractions of a percent on real tables.
    * Output: per-cell raked weight and the per-doc multiplier vs
    * uniform — the number a sampler or loss-weighting stage consumes.
    *
    * Cross-engine determinism: margin sums follow the q240 ordered-
    * fold discipline (array_sort+aggregate ≡ list(ORDER BY)+
    * list_reduce, both left folds with 0+t₁=t₁), so six successive
    * float rescalings stay bit-identical in both engines.
    *
    * Scale shape: ONE data-sized pass (the (lang,source) groupBy with
    * map-side partials); all six IPF sweeps run on the |L|×|S| cell
    * relation — margin folds over ≤max(|L|,|S|) elements. At 10¹²
    * docs the iteration cost is unchanged: aggregate-table algebra,
    * the q271/q272 pattern.
    */
  def ipfRaking(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
    val consts = cells.agg(
      countDistinct(col("lang")).as("nl"),
      countDistinct(col("source")).as("ns"),
      sum(col("n")).as("n_total"))
    def scaleTo(df: DataFrame, key: String, ord: String, tgt: Column): DataFrame = {
      val sums = df.groupBy(col(key)).agg(
        expr("aggregate(array_sort(collect_list(struct(" + ord + ", w))), " +
          "0D, (a, x) -> a + x.w)").as("msum"))
      df.join(sums, key).withColumn("w", col("w") * tgt / col("msum"))
        .drop("msum")
    }
    var w = cells.crossJoin(broadcast(consts))
      .withColumn("w", col("n").cast("double") / col("n_total"))
    for (_ <- 1 to 3) {
      w = scaleTo(w, "lang", "source", lit(1.0) / col("nl"))
      w = scaleTo(w, "source", "lang", lit(1.0) / col("ns"))
    }
    w.select(col("lang"), col("source"), col("n").cast("bigint").as("n_docs"),
        round(col("w"), 6).as("weight"),
        round(col("w") * col("n_total") / col("n"), 6).as("doc_multiplier"))
      .orderBy(col("lang"), col("source"))
  }

  private val ipfRakingSql = {
    def rowCte(in: String, out: String) =
      s"""$out AS (
         |  SELECT c.lang, c.source, c.n, c.nl, c.ns, c.n_total,
         |    c.w * ((1.0 / c.nl) / m.msum) AS w
         |  FROM $in c JOIN (
         |    SELECT lang, list_reduce(list(w ORDER BY source),
         |      (a, x) -> a + x) AS msum
         |    FROM $in GROUP BY lang) m USING (lang)
         |)"""
    def colCte(in: String, out: String) =
      s"""$out AS (
         |  SELECT c.lang, c.source, c.n, c.nl, c.ns, c.n_total,
         |    c.w * ((1.0 / c.ns) / m.msum) AS w
         |  FROM $in c JOIN (
         |    SELECT source, list_reduce(list(w ORDER BY lang),
         |      (a, x) -> a + x) AS msum
         |    FROM $in GROUP BY source) m USING (source)
         |)"""
    (s"""WITH cells AS (
        |  SELECT lang, source, count(*)::BIGINT AS n
        |  FROM documents GROUP BY lang, source
        |), it0 AS (
        |  SELECT lang, source, n,
        |    (SELECT count(DISTINCT lang) FROM cells) AS nl,
        |    (SELECT count(DISTINCT source) FROM cells) AS ns,
        |    (SELECT sum(n) FROM cells) AS n_total,
        |    n::DOUBLE / (SELECT sum(n) FROM cells) AS w
        |  FROM cells
        |), """ +
      rowCte("it0", "it1r") + ", " + colCte("it1r", "it1") + ", " +
      rowCte("it1", "it2r") + ", " + colCte("it2r", "it2") + ", " +
      rowCte("it2", "it3r") + ", " + colCte("it3r", "it3") + """
        |SELECT lang, source, n AS n_docs,
        |  round(w, 6) AS weight,
        |  round(w * n_total / n, 6) AS doc_multiplier
        |FROM it3 ORDER BY lang, source""").stripMargin
  }

  override lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q287_ipf_raking", ipfRaking, Some(ipfRakingSql)),
    QueryDef("q101_weighted_sample", weightedSample, Some(weightedSampleSql)),
    QueryDef("q102_top_p_sources", topPSources, Some(topPSourcesSql)),
    QueryDef("q125_fixed_k_sample", fixedKSample, Some(fixedKSampleSql)),
    QueryDef("q133_token_budget", tokenBudgetApportion, Some(tokenBudgetApportionSql)),
    QueryDef("q153_weighted_group_sample", weightedGroupSample, Some(weightedGroupSampleSql)),
    QueryDef("q213_group_split", groupSplit, Some(groupSplitSql)),
    QueryDef("q215_target_encoding", targetEncoding, Some(targetEncodingSql)),
    QueryDef("q216_feature_hashing", featureHashing, Some(featureHashingSql)),
    QueryDef("q239_bootstrap_ci", bootstrapCi, Some(bootstrapCiSql)),
  )

  /** q215: leakage-safe K-fold target encoding — the categorical encoder
    * supervised pipelines use when one-hot is too wide: replace a
    * category with the mean label of OTHER folds' rows in that
    * category. Folds are portable md5 buckets of the order key (K = 5);
    * the leave-fold-out mean is pure integer algebra —
    * (Σlabel_category − Σlabel_fold) / (n_category − n_fold) — so the
    * encoding is exact, reproducible, and free of the self-leakage that
    * naive target encoding injects (a row never contributes to its own
    * encoding). Label: order was fulfilled (`o_orderstatus = 'F'`).
    * Output: one row per (customer nation, fold) with the counts and
    * the encoding; degenerate folds (category fully inside one fold)
    * emit NULL rather than a leaked value.
    *
    * Scale shape: one conditional aggregation to (category, fold)
    * partials, one category-total window over ≤ |categories|·K rows —
    * the fact is scanned once.
    */
  def targetEncoding(spark: SparkSession, dir: String): DataFrame = {
    val fold = md5U60(col("o_orderkey").cast("string")) % 5
    val base = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), fold.as("fold"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("label"))
    val perFold = base.groupBy(col("nation"), col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
    val wNation = Window.partitionBy(col("nation"))
    perFold
      .withColumn("n_tot", sum(col("n")).over(wNation))
      .withColumn("pos_tot", sum(col("pos")).over(wNation))
      .select(col("nation"), col("fold").cast("int").as("fold"),
        col("n").cast("bigint").as("n_rows"),
        when(col("n_tot") > col("n"),
          round((col("pos_tot") - col("pos")).cast("double") /
            (col("n_tot") - col("n")), 4)).as("encoding"))
      .orderBy(col("nation"), col("fold"))
  }

  private val targetEncodingSql =
    s"""WITH base AS (
      |  SELECT n.n_name AS nation,
      |    ${md5U60Sql("o.o_orderkey::VARCHAR")} % 5 AS fold,
      |    CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |), pf AS (
      |  SELECT nation, fold, count(*) AS n, sum(label) AS pos FROM base
      |  GROUP BY nation, fold
      |)
      |SELECT nation, fold::INT AS fold, n::BIGINT AS n_rows,
      |  CASE WHEN sum(n) OVER (PARTITION BY nation) > n
      |    THEN round((sum(pos) OVER (PARTITION BY nation) - pos)::DOUBLE
      |      / (sum(n) OVER (PARTITION BY nation) - n), 4) END AS encoding
      |FROM pf ORDER BY nation, fold""".stripMargin

  /** q216: feature-hashing collision audit — before shipping the
    * hashing trick (category → `hash mod 2^k` feature index), measure
    * what each k actually costs: for k ∈ {6, 8, 10}, the number of
    * distinct (brand, type) categories, buckets used, the worst bucket
    * load, and the collision rate (share of categories that don't own
    * their bucket alone). The birthday-bound estimate everyone quotes
    * is an expectation; the audit reports the realized value for the
    * production hash on the production categories.
    *
    * Scale shape: categories reduce out of the dimension first (one
    * distinct), the k-spine explode is 3 rows per category, and all
    * stats are one (k, bucket) + one (k) aggregation. md5 positions
    * keep it engine-portable and retry-stable.
    */
  def featureHashing(spark: SparkSession, dir: String): DataFrame = {
    val cats = Tables.part(spark, dir)
      .select(concat_ws("|", col("p_brand"), col("p_type")).as("cat"))
      .distinct()
    val spine = explode(array(lit(6), lit(8), lit(10))).as("k")
    val hashed = cats.select(col("cat"), spine)
      .withColumn("bucket",
        md5U60(col("cat")) % pow(lit(2), col("k")).cast("long"))
    val byBucket = hashed.groupBy(col("k"), col("bucket"))
      .agg(count(lit(1)).as("load"))
    byBucket.groupBy(col("k"))
      .agg(sum(col("load")).cast("bigint").as("n_categories"),
        count(lit(1)).cast("bigint").as("n_buckets_used"),
        max(col("load")).cast("bigint").as("max_bucket_load"),
        round((sum(col("load")) - sum(when(col("load") === 1, 1L)
          .otherwise(0L))).cast("double") / sum(col("load")), 4)
          .as("collision_rate"))
      .orderBy(col("k"))
  }

  private val featureHashingSql =
    s"""WITH cats AS (
      |  SELECT DISTINCT concat_ws('|', p_brand, p_type) AS cat FROM part
      |), hashed AS (
      |  SELECT s.k,
      |    ${md5U60Sql("cat")} % (2 ** s.k)::BIGINT AS bucket
      |  FROM cats CROSS JOIN (SELECT unnest([6, 8, 10]) AS k) s
      |), byb AS (
      |  SELECT k, bucket, count(*) AS load FROM hashed GROUP BY k, bucket
      |)
      |SELECT k, sum(load)::BIGINT AS n_categories,
      |  count(*)::BIGINT AS n_buckets_used,
      |  max(load)::BIGINT AS max_bucket_load,
      |  round((sum(load) - sum(CASE WHEN load = 1 THEN 1 ELSE 0 END))::DOUBLE
      |    / sum(load), 4) AS collision_rate
      |FROM byb GROUP BY k ORDER BY k""".stripMargin
}
