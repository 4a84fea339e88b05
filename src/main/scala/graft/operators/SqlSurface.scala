package graft.operators

import graft.{Materialize, QueryDef, QueryModule, Tables}
import graft.functions.HashFunctions.md5U60Sql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's second entry point — SQL text over temp views
  * (SURVEY.md §3.2: the reference keeps a dual DataFrame/SQL surface via
  * `createOrReplaceTempView` + `spark.sql`). These queries run through
  * Catalyst's parser/analyzer instead of the DataFrame DSL and cover the
  * join/grouping shapes the DSL queries don't: FULL OUTER, CROSS,
  * GROUPING SETS.
  *
  * The SQL dialect is kept ANSI-portable so the same text (modulo
  * round()) is its own DuckDB oracle.
  */
object SqlSurface extends QueryModule {

  private def withViews(spark: SparkSession, dir: String)(sql: String): DataFrame = {
    Seq("region", "nation", "customer", "supplier", "orders").foreach { t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }
    spark.sql(sql)
  }

  /** q48: FULL OUTER join of two aggregates — nations by customer count
    * vs nations by supplier count (either side may be missing).
    */
  private val fullOuterSql =
    """WITH c AS (
      |  SELECT c_nationkey AS nationkey, count(*) AS n_customers
      |  FROM customer GROUP BY 1
      |), s AS (
      |  SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
      |  FROM supplier GROUP BY 1
      |)
      |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
      |  coalesce(n_customers, 0) AS n_customers,
      |  coalesce(n_suppliers, 0) AS n_suppliers
      |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
      |ORDER BY nationkey""".stripMargin

  /** q49: GROUPING SETS over order status/priority with grouping ids. */
  private val groupingSetsSql =
    """SELECT o_orderstatus, o_orderpriority,
      |  count(*) AS n_orders,
      |  round(sum(o_totalprice), 4) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), ())
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** q50: CROSS join — the full region × orderstatus matrix with
    * observed counts (zero-filled), a dense-grid shape a left join from
    * the cross product provides.
    */
  private val crossSql =
    """WITH grid AS (
      |  SELECT r_name, o_orderstatus
      |  FROM (SELECT DISTINCT r_name FROM region) rg
      |  CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) st
      |), obs AS (
      |  SELECT n.n_regionkey, o.o_orderstatus, count(*) AS n
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2
      |), rollup_region AS (
      |  SELECT r.r_name, obs.o_orderstatus, sum(obs.n)::BIGINT AS n_orders
      |  FROM obs JOIN region r ON obs.n_regionkey = r.r_regionkey
      |  GROUP BY 1, 2
      |)
      |SELECT g.r_name, g.o_orderstatus,
      |  coalesce(rr.n_orders, 0)::BIGINT AS n_orders
      |FROM grid g LEFT JOIN rollup_region rr
      |  ON g.r_name = rr.r_name AND g.o_orderstatus = rr.o_orderstatus
      |ORDER BY g.r_name, g.o_orderstatus""".stripMargin

  /** q58: correlated scalar subquery — orders at >2× their customer's
    * average. Catalyst decorrelates this into an aggregate + join (no
    * per-row re-execution); the plan is the proof that declarative
    * correlation scales.
    */
  private val correlatedScalarSql =
    """SELECT o.o_orderkey, o.o_custkey,
      |  round(o.o_totalprice, 4) AS o_totalprice
      |FROM orders o
      |WHERE o.o_totalprice > 2 * (
      |  SELECT avg(o2.o_totalprice) FROM orders o2
      |  WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o.o_orderkey""".stripMargin

  /** q59: EXISTS / NOT EXISTS — customers with a filed (F) order but no
    * open (O) order; both subqueries decorrelate to semi/anti joins.
    */
  private val existsSql =
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  /** q76: ANSI LATERAL correlated derived table — per nation, its top-2
    * customers by balance, expressed as a lateral subquery with inner
    * ORDER BY/LIMIT (the "top-N per outer row" join shape; Catalyst
    * decorrelates it to a ranked join rather than re-running the inner
    * query per row). Deterministic: unique (acctbal DESC, name) order.
    */
  private val lateralSql =
    """SELECT n.n_name, t.c_name, t.c_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_name, round(c_acctbal, 2) AS c_acctbal
      |  FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c.c_acctbal DESC, c.c_name LIMIT 2
      |) t
      |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin

  /** q115: banded classification via a deliberate broadcast non-equi
    * join — a tiny interval dimension (rate card / tax bracket shape)
    * joined on `lo <= x < hi`. This is the one place a
    * BroadcastNestedLoopJoin is the RIGHT plan: the build side is
    * constant-sized (4 rows), so the "nested loop" is 4 comparisons
    * per row, map-side, at any fact scale. Revenue in exact integer
    * cents.
    */
  def bandJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val bands = spark.createDataFrame(Seq(
      (0d, 150000d, "band1_lt150k"),
      (150000d, 300000d, "band2_150k_300k"),
      (300000d, 450000d, "band3_300k_450k"),
      (450000d, 1e18, "band4_ge450k"))).toDF("lo", "hi", "band")
    Tables.orders(spark, dir)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("revenue_c"))
      .orderBy(col("band"))
  }

  private val bandJoinSql =
    """WITH bands(lo, hi, band) AS (VALUES
      |  (0, 150000, 'band1_lt150k'),
      |  (150000, 300000, 'band2_150k_300k'),
      |  (300000, 450000, 'band3_300k_450k'),
      |  (450000, 1e18, 'band4_ge450k'))
      |SELECT band, count(*) AS n_orders,
      |  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_c
      |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band ORDER BY band""".stripMargin

  /** q116: null-safe join semantics — Spark's `<=>` (≡ SQL
    * `IS NOT DISTINCT FROM`) versus plain `=` on a key with nulls:
    * the null-safe join matches the null bucket to the null bucket,
    * the regular join drops it. Counts are computed on pre-aggregated
    * key tables (≤ 5 rows each), so the demonstration is exact and
    * constant-sized at any event volume.
    */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = Tables.events(spark, dir).select(col("event_id"), col("user_id"))
    def keyed(parity: Int) = e.filter(pmod(col("event_id"), lit(2)) === parity)
      .withColumn("k",
        when(pmod(col("user_id"), lit(5)) =!= 0, pmod(col("user_id"), lit(5))))
      .groupBy(col("k")).agg(count(lit(1)).as("c"))
    val a = keyed(0).select(col("k").as("ka"), col("c").as("ca"))
    val b = keyed(1).select(col("k").as("kb"), col("c").as("cb"))
    val nullsafe = a.join(b, col("ka") <=> col("kb"))
      .agg(count(lit(1)).as("n_keys_nullsafe"),
        sum(col("ca") * col("cb")).cast("bigint").as("pairs_nullsafe"))
    val regular = a.join(b, col("ka") === col("kb"))
      .agg(count(lit(1)).as("n_keys_regular"),
        sum(col("ca") * col("cb")).cast("bigint").as("pairs_regular"))
    nullsafe.crossJoin(regular)
  }

  private val nullSafeJoinSql =
    """WITH e AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN user_id % 5 <> 0 THEN user_id % 5 END AS k
      |  FROM events
      |), a AS (
      |  SELECT k AS ka, count(*) AS ca FROM e WHERE event_id % 2 = 0 GROUP BY k
      |), b AS (
      |  SELECT k AS kb, count(*) AS cb FROM e WHERE event_id % 2 = 1 GROUP BY k
      |), ns AS (
      |  SELECT count(*) AS n_keys_nullsafe,
      |    sum(ca * cb)::BIGINT AS pairs_nullsafe
      |  FROM a JOIN b ON ka IS NOT DISTINCT FROM kb
      |), rg AS (
      |  SELECT count(*) AS n_keys_regular,
      |    sum(ca * cb)::BIGINT AS pairs_regular
      |  FROM a JOIN b ON ka = kb
      |)
      |SELECT * FROM ns CROSS JOIN rg""".stripMargin

  // lazy: q220's SQL val is declared below this list (a strict val would
  // capture null at object init — same fix as Governance/Similarity)
  override lazy val defs: Seq[QueryDef] = Seq(
    QueryDef("q76_lateral_topn", (s, d) => withViews(s, d)(lateralSql), Some(lateralSql)),
    QueryDef("q48_full_outer", (s, d) => withViews(s, d)(fullOuterSql), Some(fullOuterSql)),
    QueryDef("q49_grouping_sets", (s, d) => withViews(s, d)(groupingSetsSql), Some(groupingSetsSql)),
    QueryDef("q50_cross_grid", (s, d) => withViews(s, d)(crossSql), Some(crossSql)),
    QueryDef("q58_correlated_scalar", (s, d) => withViews(s, d)(correlatedScalarSql), Some(correlatedScalarSql)),
    QueryDef("q59_exists_subquery", (s, d) => withViews(s, d)(existsSql), Some(existsSql)),
    QueryDef("q115_band_join", bandJoin, Some(bandJoinSql)),
    QueryDef("q116_null_safe_join", nullSafeJoin, Some(nullSafeJoinSql)),
    QueryDef("q220_sql_custom_expr", sqlCustomExpr, Some(sqlCustomExprSql)),
    QueryDef("q226_recursive_cte", recursiveCte, Some(recursiveCteSql),
      benchmark = true),
    QueryDef("q235_holt_smoothing", holtSmoothing, Some(holtSmoothingSql)),
    QueryDef("q237_path_signatures", pathSignatures,
      Some(pathSignaturesSql)),
    QueryDef("q238_variant_events", variantEvents, Some(variantEventsSql)),
    QueryDef("q306_burst_viterbi", burstViterbi, Some(burstViterbiSql), benchmark = true),
  )

  /** q306: Kleinberg-style burst detection over the daily purchase
    * stream — a 2-state (base λ₀ / burst 2λ₀) HMM decoded by a
    * forward Viterbi cost recursion with an entry penalty γ. Per-state
    * readout: days, run structure, mean daily count — the burst
    * summary an incident review reads. The decoded state is the
    * forward-cost argmin (online decoding); the full backward pass
    * would need a second recursion and changes nothing on
    * well-separated bursts.
    *
    * Cross-engine determinism: the Poisson cost constants
    * (λ·1000, 1000·ln λ) are quantized ONCE to integers, so the whole
    * DP is exact integer arithmetic — no float comparison inside the
    * recursion where an ulp could flip a min().
    *
    * Scale shape (r10 reshape): the ORIGINAL Spark plan executed the
    * oracle's WITH RECURSIVE text natively — and Spark's UnionLoop
    * re-evaluates the step query's inputs every iteration, so the
    * 30-day chain cost 30 × (events scan + agg) = 12.5 s at sf0.1 and
    * would scale with |days| × fact-scan — a genuine scale-killer the
    * round-10 bench widening caught. The recurrence is inherently
    * sequential in TIME but its input is the CALENDAR-BOUNDED daily
    * aggregate (≤ a few thousand rows for a decade, regardless of
    * corpus bytes), so the scale-correct shape is: one conditional
    * count by day (the only pass over the event stream), broadcast
    * one-row constants, then a SINGLE-TASK sequential pass over the
    * sorted day series computing the integer DP and run ids in one
    * scan — the same bounded-relation discipline as the k×dim
    * centroid collects, expressed as `mapPartitions` over
    * `repartition(1)` (the second legitimate mapPartitions site in
    * the repo, next to the codec seam: a non-associative recurrence
    * over an aggregate-sized series). The DuckDB oracle still runs
    * the recursive-CTE formulation — two genuinely independent
    * evaluation strategies, bit-equal because the DP is exact-integer.
    * q235 keeps the NATIVE Spark recursive-CTE execution demo (with
    * its input pre-materialized so iterations stop re-scanning the
    * fact table).
    */
  def burstViterbi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // persisted: read by the consts aggregate AND the DP crossJoin —
    // without it the events scan + day aggregation executes twice,
    // breaking the "one pass over the event stream" contract above
    // (ADVICE r10). Released below alongside `st`.
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("c"))
      .persist()
    // identical expression shapes to the oracle's consts CTE (round of
    // 1000·mean / 1000·ln — one quantization, then pure Long math)
    val consts = daily
      .agg((sum(col("c")).cast("double") / count(lit(1))).as("mean"))
      .select(
        round(col("mean") * 1000).cast("bigint").as("a0"),
        round(col("mean") * 2000).cast("bigint").as("a1"),
        round(log(col("mean")) * 1000).cast("bigint").as("l0"),
        round(log(col("mean") * 2) * 1000).cast("bigint").as("l1"))
    val st = daily.crossJoin(broadcast(consts))
      .repartition(1).sortWithinPartitions(col("day"))
      .select(col("day"), col("c").cast("long"),
        col("a0"), col("a1"), col("l0"), col("l1"))
      .as[(java.sql.Date, Long, Long, Long, Long, Long)]
      .mapPartitions { it =>
        var c0 = 0L; var c1 = 0L
        var first = true
        var prevBurst = -1
        var runId = 0L
        it.map { case (day, c, a0, a1, l0, l1) =>
          if (first) {
            c0 = a0 - c * l0
            c1 = 1000L + a1 - c * l1
            first = false
          } else {
            val n0 = math.min(c0, c1) + a0 - c * l0
            val n1 = math.min(c1, c0 + 1000L) + a1 - c * l1
            c0 = n0; c1 = n1
          }
          val burst = if (c1 < c0) 1 else 0
          if (burst != prevBurst) { runId += 1; prevBurst = burst }
          (day, c, burst, runId)
        }
      }.toDF("day", "c", "burst", "run_id")
      .persist()
    val runAgg = st.groupBy(col("burst"), col("run_id"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("burst"))
      .agg(count(lit(1)).cast("bigint").as("n_runs"),
        max(col("run_len")).cast("bigint").as("longest_run"))
    Materialize.releasing(
      st.groupBy(col("burst"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("c")).cast("bigint").as("n_events"),
          round(sum(col("c")).cast("double") / count(lit(1)), 2)
            .as("mean_daily"))
        .join(runAgg, Seq("burst"))
        .select(col("burst"), col("n_days"), col("n_events"),
          col("mean_daily"), col("n_runs"), col("longest_run"))
        .orderBy(col("burst")),
      st, daily)
  }

  private val burstViterbiSql =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |), numbered AS (
      |  SELECT c, day, row_number() OVER (ORDER BY day) AS i FROM daily
      |), consts AS (
      |  SELECT
      |    CAST(round(1000 * (CAST(sum(c) AS DOUBLE) / count(*))) AS BIGINT)
      |      AS a0,
      |    CAST(round(2000 * (CAST(sum(c) AS DOUBLE) / count(*))) AS BIGINT)
      |      AS a1,
      |    CAST(round(1000 * ln(CAST(sum(c) AS DOUBLE) / count(*)))
      |      AS BIGINT) AS l0,
      |    CAST(round(1000 * ln(2 * (CAST(sum(c) AS DOUBLE) / count(*))))
      |      AS BIGINT) AS l1
      |  FROM numbered
      |), chain AS (
      |  SELECT n.i, n.day, n.c,
      |    k.a0 - n.c * k.l0 AS c0,
      |    1000 + k.a1 - n.c * k.l1 AS c1
      |  FROM numbered n CROSS JOIN consts k WHERE n.i = 1
      |  UNION ALL
      |  SELECT n.i, n.day, n.c,
      |    least(ch.c0, ch.c1) + k.a0 - n.c * k.l0,
      |    least(ch.c1, ch.c0 + 1000) + k.a1 - n.c * k.l1
      |  FROM chain ch
      |  JOIN numbered n ON n.i = ch.i + 1
      |  CROSS JOIN consts k
      |), st AS (
      |  SELECT i, c, CASE WHEN c1 < c0 THEN 1 ELSE 0 END AS burst
      |  FROM chain
      |), runs AS (
      |  SELECT burst, grp, count(*) AS run_len FROM (
      |    SELECT burst, i,
      |      i - row_number() OVER (PARTITION BY burst ORDER BY i) AS grp
      |    FROM st)
      |  GROUP BY burst, grp
      |)
      |SELECT s.burst, count(*) AS n_days,
      |  CAST(sum(s.c) AS BIGINT) AS n_events,
      |  round(CAST(sum(s.c) AS DOUBLE) / count(*), 2) AS mean_daily,
      |  r.n_runs, r.longest_run
      |FROM st s JOIN (
      |  SELECT burst, CAST(count(*) AS BIGINT) AS n_runs,
      |    CAST(max(run_len) AS BIGINT) AS longest_run
      |  FROM runs GROUP BY burst) r ON r.burst = s.burst
      |GROUP BY s.burst, r.n_runs, r.longest_run
      |ORDER BY s.burst""".stripMargin

  /** Pre-materialized month spine of the native recursive-CTE query
    * (q235): Spark's UnionLoop RE-EVALUATES the step
    * query's inputs on every iteration, so leaving the fact-table
    * aggregation inside the CTE cost |months| × (orders scan + agg +
    * window) — 728 jobs / ~30 s at sf0.1 (measured, r10) for an
    * 84-step chain, scaling with data volume per step. Materializing
    * the aggregate-sized numbered spine ONCE (persist + count) makes
    * each iteration a 1-row join against an in-memory 84-row relation,
    * which is the cost the scaladocs always claimed. The recursion
    * itself still runs natively in Spark (UnionLoop) — that's the
    * point of these two queries; q306 shows the alternative shape
    * (single-task integer DP) for when native iteration overhead
    * matters more than the demo.
    */
  private def materializedMonthSpine(spark: SparkSession, dir: String,
      selectSql: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    val spine = spark.sql(selectSql).persist()
    spine.count()
    spine.createOrReplaceTempView("numbered")
    spine
  }

  /** Months-per-UnionLoop-iteration for the block-unrolled recursion
    * (q235). The native recursive CTE costs ~4 scheduler jobs PER
    * ITERATION on this runtime regardless of row counts — an ~84-month
    * chain paid ~9-10 s of pure scheduling at any sf (the two slowest
    * queries of the whole surface, 7% of the r11 dump wall in two
    * queries). Advancing K months per iteration divides that floor by
    * K while keeping the recursion native: the classic block-wise scan
    * amortization, and the same trick a cluster deployment would need
    * (driver-side scheduling is a shared resource there too).
    */
  private val unrollK = 8

  /** Pivot the month spine into [[unrollK]]-month blocks: block b
    * (1-based) carries months i ∈ [2 + K(b-1), 1 + Kb] as columns
    * `<col>1..<col>K` (NULL-padded ragged tail); month 1 stays the
    * recursion seed. PERSISTED + counted like the spine itself:
    * UnionLoop re-evaluates the step query's inputs every iteration,
    * so an unmaterialized pivot would re-run its groupBy shuffle once
    * per block. Registered as temp view `blocks`; caller releases.
    */
  private def materializedBlocks(spark: SparkSession,
      cols: Seq[String], k: Int = unrollK): DataFrame = {
    val pivots = (1 to k).flatMap(j => cols.map(c =>
      s"max(CASE WHEN j = $j THEN $c END) AS $c$j")).mkString(", ")
    val blocks = spark.sql(
      s"""SELECT b, $pivots
         |FROM (SELECT CAST(floor((i - 2) / $k) AS INT) + 1 AS b,
         |        CAST((i - 2) % $k AS INT) + 1 AS j, ${cols.mkString(", ")}
         |      FROM numbered WHERE i >= 2)
         |GROUP BY b""".stripMargin).persist()
    blocks.count()
    blocks.createOrReplaceTempView("blocks")
    blocks
  }

  /** Run `body` with AQE off: every UnionLoop iteration is its own
    * adaptively-executed query over ≤84 cached rows, and AQE's
    * stage-by-stage job submission inflates the per-iteration job
    * count (measured r10: 415 → 331 jobs for the 84-step chain) while
    * having nothing to adapt — the inputs are one cached
    * aggregate-sized relation and a 1-row recursion state. Scoped and
    * restored so the session-wide AQE default (load-bearing for the
    * skew/coalesce paths) is untouched. What remains after this +
    * spine materialization (~11 s wall, ~1.4 s task time at sf0.1) is
    * UnionLoop's ~4-jobs-per-step scheduling floor on this runtime —
    * the price of the NATIVE recursive-CTE operator these two queries
    * exist to exercise; iteration count is calendar-bounded, so the
    * overhead is constant in data volume. When the recurrence allows
    * it, q306's single-task integer-DP shape is the scale answer.
    */
  private def withoutAqe[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** q226: a damped revenue-momentum index chained month over month:
    * idx_m = idx_{m-1} · (1 + ½·(rev_m/rev_{m-1} − 1)). The recurrence
    * is deliberately NON-telescoping (the ½ damping makes the product
    * path-dependent), so no window/ln-exp rewrite computes it. Its SQL
    * text is a WITH RECURSIVE chain, ANSI-portable and its own DuckDB
    * oracle (the module's q48 discipline).
    *
    * Spark does not execute that recursion: one aggregation reduces
    * the fact table to the ~84-row month relation and the chain
    * advances on the driver ([[momentumChain]]), so only q235 still
    * drives Spark's UnionLoop.
    */
  def recursiveCte(spark: SparkSession, dir: String): DataFrame = {
    // r17 (guide §1.4; VERDICT r16 #8; the r10 bounded-metadata
    // discipline): the recursion's whole state is the MONTH spine —
    // calendar-bounded (~84 rows here, thousands at any horizon), i.e.
    // metadata-sized at every corpus scale — while Spark's UnionLoop
    // pays ~4 scheduler jobs plus a full re-analysis of the step query
    // PER ITERATION (the r11–r16 measured floor: 3.3–4.0 s of pure
    // scheduling for the k = 8 block-unroll's ~57 jobs; k = 12/24
    // probed WORSE in r16, so deeper unrolling was a dead end). The
    // chain is therefore an S9 collect + exact driver recurrence (the
    // q240/q257 DP precedent): ONE aggregation job reduces the fact
    // table to the ordered month relation, the momentum index advances
    // on the driver with the identical IEEE op tree
    // (idx · (1.0 + 0.5·(rev/prev − 1.0)) — JVM doubles, same operand
    // order ⇒ bit-identical to the UnionLoop chain and the DuckDB
    // oracle), and the result returns as a calendar-sized local
    // relation. The final round/ORDER BY stay in the plan so the
    // rounding function is the engine's own.
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    val monthly = spark.sql(
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS rev
        |FROM orders GROUP BY 1 ORDER BY m""".stripMargin).collect().toSeq
    val chain = monthly.zip(momentumChain(monthly.map(_.getLong(1))))
      .map { case (r, idx) => (r.getDate(0), r.getLong(1), idx) }
    import spark.implicits._
    chain.toDF("month", "rev_cents", "idx")
      .select(col("month"), col("rev_cents"),
        round(col("idx"), 6).as("momentum_idx"))
      .orderBy(col("month"))
  }

  /** q226's momentum index over month-ordered revenues, seeded at 100.
    * A month whose predecessor's revenue is 0 has no ratio, so its
    * index is NULL, and so is every later month's: the oracle's
    * `CAST(n.rev AS DOUBLE) / c.rev` is NULL there and the NULL carries
    * down the chain (a JVM division would give Infinity or NaN). */
  private[graft] def momentumChain(revs: Seq[Long]): Seq[Option[Double]] =
    if (revs.isEmpty) Seq.empty
    else revs.zip(revs.tail).scanLeft(Option(100.0)) { case (idx, (prev, rev)) =>
      idx.filter(_ => prev != 0L)
        .map(i => i * (1.0 + 0.5 * (rev.toDouble / prev.toDouble - 1.0)))
    }

  private val recursiveCteSql =
    """WITH RECURSIVE monthly AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1
      |), numbered AS (
      |  SELECT m, rev, row_number() OVER (ORDER BY m) AS i FROM monthly
      |), chain AS (
      |  SELECT i, m, rev, CAST(100.0 AS DOUBLE) AS idx
      |  FROM numbered WHERE i = 1
      |  UNION ALL
      |  SELECT n.i, n.m, n.rev,
      |    c.idx * (1.0 + 0.5 * (CAST(n.rev AS DOUBLE) / c.rev - 1.0))
      |  FROM chain c JOIN numbered n ON n.i = c.i + 1
      |)
      |SELECT m AS month, rev AS rev_cents, round(idx, 6) AS momentum_idx
      |FROM chain ORDER BY month""".stripMargin

  /** q235: Holt double-exponential smoothing (level + trend) as a
    * native recursive CTE — the forecasting counterpart of q226's
    * one-state momentum chain: TWO coupled state columns advance
    * together (l_t = αx_t + (1−α)(l+b); b_t = β(l_t−l) + (1−β)b),
    * which no window rewrite computes because each step reads both
    * previous states. Emits the one-step-ahead forecast each month
    * actually received (l+b from the previous step) so the residual
    * column is a real backtest, plus the fitted level/trend.
    *
    * Parity: the recurrence is a fixed chain of IEEE basic ops with
    * identical literals and op order in both engines → bit-identical
    * doubles at every step (α = β = 0.5 keeps operands dyadic as long
    * as doubles carry them). The SQL text is ANSI-portable and is its
    * own DuckDB oracle.
    *
    * Scale shape: one aggregation shuffle reduces the fact table to
    * the ~84-row month relation; the fixpoint (Spark's UnionLoop)
    * joins 1 row per step — iteration count is bounded by the
    * calendar, not the data volume.
    */
  /** q235's Spark plan, block-unrolled: the recursion advances
    * [[unrollK]] months per UnionLoop iteration, with the TWO coupled
    * state columns (level, trend) advanced per sub-step as a chain of
    * lateral column aliases. Each iteration joins the 1-row chain state
    * to its pre-pivoted month block; the ragged last block NULL-pads,
    * coalesce carries the last computed state forward, and stack()
    * unpivots block rows back to months. Lateral-alias reuse keeps
    * the op sequence identical to the per-month form: `fc_j` IS the
    * sum (lvl+trd) the original computes inline, `lvl_j` reuses it
    * (`0.5*x + 0.5*(lvl+trd)` — same tree), and `trd_j` reuses `lvl_j`
    * for the original's re-computed inner expression (same value by
    * definition, so bit-identical). Emission order must stay
    * interleaved (fc_j, lvl_j, trd_j per j): lateral aliases resolve
    * left-to-right, and fc_{j+1} reads lvl_j/trd_j.
    *
    * The chain's column names carry an `a` prefix so the recursive
    * term's lateral aliases (lvl1..lvlK, trd1..trdK) cannot collide
    * with them: the analyzer resolves REAL columns before lateral
    * aliases, and a collision silently rebinds lvl_{j-1} to
    * c.lvl_{j-1} — NULL in the seed row — nulling every sub-step past
    * the first (found the hard way: the sf0.01 check read NULL from
    * month 3 on). UNION matching is positional, so the term's own
    * aliases are free.
    */
  private def unrolledHoltSql(k: Int): String = {
    val selM = (1 to k).map(j => s"s.m$j").mkString(", ")
    val selX = (1 to k).map(j => s"s.x$j").mkString(", ")
    // `a`-prefixed chain schema (the collision note above): lvl/trd
    // aliases must resolve laterally, never to chain's own (seed-NULL)
    // columns.
    //
    // The chain carries TWO aliases per month, not three (r13): the
    // original emitted fc_j = pLvl + pTrd as its own lateral alias, but
    // UnionLoop re-analyzes the step query EVERY iteration and lateral
    // alias resolution is superlinear in chain depth — at the shared
    // k = 8 this query paid 1.5× q226's wall on the SAME 57 jobs, and
    // deepening the unroll made it WORSE (k = 16: 37 jobs, wall 4.1 →
    // 5.5 s) because per-iteration analysis grew faster than the job
    // count shrank. Inlining fc into lvl_j keeps the identical IEEE
    // tree (0.5*x + 0.5*(lvl+trd) — same operands, same order), and
    // the forecast column is recovered POST-stack as lag(lvl)+lag(trd)
    // over the month order: one addition of the same two stored
    // doubles, bit-identical to the in-chain alias by construction.
    val stateDefs = (1 to k).flatMap { j =>
      val pLvl = if (j == 1) "c.alvl_last" else s"lvl${j - 1}"
      val pTrd = if (j == 1) "c.atrd_last" else s"trd${j - 1}"
      Seq(
        s"0.5 * s.x$j + 0.5 * ($pLvl + $pTrd) AS lvl$j",
        s"0.5 * (lvl$j - $pLvl) + 0.5 * $pTrd AS trd$j")
    }.mkString(",\n    ")
    val nullState = (1 to k).map(j =>
      s"CAST(NULL AS DOUBLE) AS alvl$j, CAST(NULL AS DOUBLE) AS atrd$j")
      .mkString(",\n    ")
    val coalLvl = (k to 1 by -1).map(j => s"lvl$j")
      .mkString("coalesce(", ", ", ", c.alvl_last)")
    val coalTrd = (k to 1 by -1).map(j => s"trd$j")
      .mkString("coalesce(", ", ", ", c.atrd_last)")
    val stackArgs = (1 to k).map(j => s"am$j, ax$j, alvl$j, atrd$j")
      .mkString(", ")
    s"""WITH RECURSIVE chain AS (
       |  SELECT CAST(0 AS INT) AS b,
       |    ${(1 to k).map(j => s"CAST(NULL AS DATE) AS am$j").mkString(", ")},
       |    ${(1 to k).map(j => s"CAST(NULL AS DOUBLE) AS ax$j").mkString(", ")},
       |    $nullState,
       |    x AS alvl_last, CAST(0.0 AS DOUBLE) AS atrd_last
       |  FROM numbered WHERE i = 1
       |  UNION ALL
       |  SELECT s.b,
       |    $selM,
       |    $selX,
       |    $stateDefs,
       |    $coalLvl,
       |    $coalTrd
       |  FROM chain c JOIN blocks s ON s.b = c.b + 1
       |)
       |SELECT month, round(x, 2) AS revenue,
       |  round(lvl, 6) AS level, round(trd, 6) AS trend,
       |  round(fc, 6) AS forecast,
       |  round(x - fc, 6) AS residual
       |FROM (
       |  SELECT month, x, lvl, trd,
       |    lag(lvl) OVER (ORDER BY month) + lag(trd) OVER (ORDER BY month)
       |      AS fc
       |  FROM (
       |    SELECT stack($k, $stackArgs) AS (month, x, lvl, trd)
       |    FROM chain WHERE b >= 1
       |    UNION ALL
       |    SELECT m, x, x, CAST(0.0 AS DOUBLE)
       |    FROM numbered WHERE i = 1
       |  )
       |  WHERE month IS NOT NULL
       |)
       |ORDER BY month""".stripMargin
  }

  /** q235's own block factor, kept at 8 after the deeper unroll was
    * measured WORSE (VERDICT r12 #6, remeasured r13): k = 16 halves the
    * UnionLoop iteration count (~84-month calendar → 6 blocks) but the
    * per-block analysis cost grows faster than the job count falls —
    * wall 4.1 → 5.5 s, 37 jobs (see the measurement note inside
    * [[unrolledHoltSql]]) — so q235's win came from the 2-alias chain
    * rework instead. The constant stays separate from the shared
    * `unrollK` even while the values coincide: the unroll transform is
    * k-independent (same nested-alias chain, same IEEE op sequence,
    * NULL-padded ragged tail — any k is bit-identical to the one-month
    * oracle, hash-gated at both sfs), and the two recursions' block
    * factors are tuned by different width/job trade-offs.
    */
  private val holtUnrollK = 8

  def holtSmoothing(spark: SparkSession, dir: String): DataFrame = {
    val spine = materializedMonthSpine(spark, dir,
      """SELECT m, x, row_number() OVER (ORDER BY m) AS i FROM (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |    CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS DOUBLE) / 100.0 AS DOUBLE) AS x
        |  FROM orders GROUP BY 1)""".stripMargin)
    val blocks = materializedBlocks(spark, Seq("m", "x"), holtUnrollK)
    withoutAqe(spark)(graft.Materialize.releasing(
      spark.sql(unrolledHoltSql(holtUnrollK)), spine, blocks))
  }

  private val holtSmoothingSql =
    """WITH RECURSIVE monthly AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
      |    CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |      AS DOUBLE) / 100.0 AS DOUBLE) AS x
      |  FROM orders GROUP BY 1
      |), numbered AS (
      |  SELECT m, x, row_number() OVER (ORDER BY m) AS i FROM monthly
      |), chain AS (
      |  SELECT i, m, x, x AS lvl, CAST(0.0 AS DOUBLE) AS trd,
      |    CAST(NULL AS DOUBLE) AS fc
      |  FROM numbered WHERE i = 1
      |  UNION ALL
      |  SELECT n.i, n.m, n.x,
      |    0.5 * n.x + 0.5 * (c.lvl + c.trd),
      |    0.5 * ((0.5 * n.x + 0.5 * (c.lvl + c.trd)) - c.lvl) + 0.5 * c.trd,
      |    c.lvl + c.trd
      |  FROM chain c JOIN numbered n ON n.i = c.i + 1
      |)
      |SELECT m AS month, round(x, 2) AS revenue,
      |  round(lvl, 6) AS level, round(trd, 6) AS trend,
      |  round(fc, 6) AS forecast,
      |  round(x - fc, 6) AS residual
      |FROM chain ORDER BY month""".stripMargin

  /** q237: ordered string aggregation (`LISTAGG ... WITHIN GROUP`,
    * new in Spark 4.0) turned into a path-mining query: each
    * customer's first 8 orders (by date, key — the q204-style bound
    * that keeps signatures fixed-width at any scale) become a priority
    * path signature like `1>3>2`, and the query surfaces the 15 most
    * common signatures with their average realized spend. The ordered
    * aggregation is the point: an unordered collect would make the
    * signature permutation-dependent and the result nondeterministic.
    *
    * DuckDB mirrors with `string_agg(... ORDER BY ...)` — same
    * semantics, dialect-local spelling. Spend stays in integer cents
    * until the single output division.
    *
    * Scale shape: one window over custkey (the partition key the
    * fact shuffle already uses), one groupBy on the bounded-width
    * signature, partial top-k for the final ranking.
    */
  def pathSignatures(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    spark.sql(
      """WITH o AS (
        |  SELECT o_custkey, substring(o_orderpriority, 1, 1) AS p,
        |    o_orderdate, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders
        |), paths AS (
        |  SELECT o_custkey,
        |    listagg(p, '>') WITHIN GROUP (ORDER BY o_orderdate, o_orderkey)
        |      AS path,
        |    count(*) AS n_orders, sum(price_c) AS spend_c
        |  FROM o WHERE rn <= 8 GROUP BY o_custkey
        |)
        |SELECT path, count(*) AS n_customers,
        |  CAST(sum(n_orders) AS BIGINT) AS n_orders,
        |  round(CAST(sum(spend_c) AS DOUBLE) / count(*) / 100.0, 2)
        |    AS avg_spend
        |FROM paths GROUP BY path
        |ORDER BY n_customers DESC, path LIMIT 15""".stripMargin)
  }

  private val pathSignaturesSql =
    """WITH o AS (
      |  SELECT o_custkey, substring(o_orderpriority, 1, 1) AS p,
      |    o_orderdate, o_orderkey,
      |    round(o_totalprice * 100)::BIGINT AS price_c,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders
      |), paths AS (
      |  SELECT o_custkey,
      |    string_agg(p, '>' ORDER BY o_orderdate, o_orderkey) AS path,
      |    count(*) AS n_orders, sum(price_c) AS spend_c
      |  FROM o WHERE rn <= 8 GROUP BY o_custkey
      |)
      |SELECT path, count(*)::BIGINT AS n_customers,
      |  sum(n_orders)::BIGINT AS n_orders,
      |  round(sum(spend_c)::DOUBLE / count(*) / 100.0, 2) AS avg_spend
      |FROM paths GROUP BY path
      |ORDER BY n_customers DESC, path LIMIT 15""".stripMargin

  /** q238: the VARIANT semi-structured type (new in Spark 4.0) under
    * the oracle gate — `parse_json` ingests the event props into a
    * VARIANT column once, then typed paths come back out through
    * `variant_get` (binary-encoded access, no per-row re-parse, unlike
    * q20's `get_json_object` which re-parses the string per call):
    * per event type, the extracted-key statistics, the count of
    * distinct payload KEY SHAPES (sorted top-level key list — a
    * normalized, engine-neutral structure proxy), and a
    * `try_variant_get` probe of a missing path (NULL-safe access — the
    * semi-structured contract at scale where payload drift is the
    * norm, exercised here on a uniform corpus).
    *
    * DuckDB has no VARIANT; the oracle extracts the same paths with
    * its JSON functions — identical VALUES is exactly the point: the
    * type is an encoding choice, not a semantics change. The shape
    * proxy is deliberately NOT `schema_of_variant` vs DuckDB's
    * `json_structure`: engines are free to partition payloads into
    * inferred-schema classes differently (int vs bigint widening,
    * field ordering), so only a normalized key list is comparable
    * across them (ADVICE r5). The key probe reads the RAW string
    * (`json_object_keys(props)`) — a second parse of the wide column,
    * paid knowingly: VARIANT exposes no key-enumeration function, and
    * the path accesses (the hot repeated operation the binary encoding
    * exists for) still go through the parsed variant.
    *
    * Scale shape: parse once per row map-side, aggregate on the
    * already-shuffled event_type key; VARIANT's binary form is what
    * makes repeated path access affordable at 100 TB.
    */
  def variantEvents(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("events_q238")
    spark.sql(
      """WITH v AS (
        |  SELECT event_type, props, parse_json(props) AS pv FROM events_q238
        |), e AS (
        |  SELECT event_type,
        |    variant_get(pv, '$.k', 'bigint') AS k,
        |    try_variant_get(pv, '$.absent', 'bigint') AS missing_probe,
        |    array_join(array_sort(json_object_keys(props)), ',') AS key_shape
        |  FROM v
        |)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k,
        |  CAST(max(k) AS BIGINT) AS max_k,
        |  count(DISTINCT key_shape) AS n_key_shapes,
        |  CAST(sum(CASE WHEN missing_probe IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_missing
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)
  }

  private val variantEventsSql =
    """WITH e AS (
      |  SELECT event_type,
      |    json_extract(props, '$.k')::BIGINT AS k,
      |    json_extract(props, '$.absent')::BIGINT AS missing_probe,
      |    array_to_string(list_sort(json_keys(props)), ',') AS key_shape
      |  FROM events
      |)
      |SELECT event_type, count(*)::BIGINT AS n_events,
      |  sum(k)::BIGINT AS sum_k, min(k)::BIGINT AS min_k,
      |  max(k)::BIGINT AS max_k,
      |  count(DISTINCT key_shape)::BIGINT AS n_key_shapes,
      |  sum(CASE WHEN missing_probe IS NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS n_missing
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q220: the injected-function SQL surface under the oracle gate — a
    * pure `spark.sql` query calling the CUSTOM codegen'd expression
    * `simhash_md5_60` (registered through `SparkSessionExtensions` /
    * `GraftFunctions.register`) as if it were a builtin: per language,
    * the document count, distinct 60-bit signatures, and the mean
    * signature popcount. The DuckDB oracle replays the signature with
    * the portable md5 digit-fold (q41's construction), so a drift in
    * the expression's bit math — not just its plumbing — fails the
    * driver's hash compare. Complements q41, which exercises the same
    * expression through the Column API.
    */
  def sqlCustomExpr(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("docs_q220")
    spark.sql(
      """SELECT lang, count(*) AS n_docs,
        |  count(DISTINCT sig) AS n_distinct_sigs,
        |  round(avg(cast(bit_count(sig) AS DOUBLE)), 4) AS avg_popcount
        |FROM (
        |  SELECT lang, simhash_md5_60(split(text, ' ')) AS sig
        |  FROM docs_q220)
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  private val sqlCustomExprSql =
    s"""WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents
      |), hashed AS (
      |  SELECT doc_id, lang,
      |    ${md5U60Sql("tok")} AS h
      |  FROM toks
      |), votes AS (
      |  SELECT doc_id, lang, bb.b AS b,
      |    sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bb
      |  GROUP BY doc_id, lang, bb.b
      |), sigs AS (
      |  SELECT doc_id, lang,
      |    sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
      |      AS sig
      |  FROM votes GROUP BY doc_id, lang
      |)
      |SELECT lang, count(*)::BIGINT AS n_docs,
      |  count(DISTINCT sig)::BIGINT AS n_distinct_sigs,
      |  round(avg(bit_count(sig)::DOUBLE), 4) AS avg_popcount
      |FROM sigs GROUP BY lang ORDER BY lang""".stripMargin
}
