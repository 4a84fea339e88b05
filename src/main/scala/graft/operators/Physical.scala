package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.ZOrderFunctions.zorder2
import graft.functions.HashFunctions.{md5U60, md5U60Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-design operators — the storage-layout and optimizer-stats
  * surface of the engine: Z-order clustering keys for multi-dimension
  * scan pruning, and ANALYZE-style table statistics.
  *
  * Scale notes (100 TB design):
  *  - the Morton key is a codegen'd per-row expression; writing
  *    Z-clustered data is `repartitionByRange(zkey) + sortWithin` —
  *    one range shuffle, after which a predicate on EITHER dimension
  *    prunes parquet files by footer min/max (`Layout.
  *    writeZOrderClustered`, asserted by LayoutSpec);
  *  - table stats reduce the fact table in one pass (count-distinct
  *    uses Spark's expand, partially aggregated map-side); at 100 TB
  *    the NDV columns swap to `approx_count_distinct` (HLL) with the
  *    same query shape — exact NDV here keeps the oracle checkable.
  */
object Physical extends QueryModule {

  private val zBits = 16

  /** q108: Z-order bucket profile — Morton-interleave (partkey,
    * suppkey), bucket by the key's high bits, and report each bucket's
    * row count and per-dimension key ranges. The point of the layout:
    * every bucket (→ file, at write time) spans a NARROW range of BOTH
    * dimensions, so single-dimension predicates prune multi-dimension
    * layouts — visible here as per-bucket ranges ≪ the key domain.
    */
  def zorderProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        zorder2(col("l_partkey"), col("l_suppkey"), zBits).as("zkey"))
      .withColumn("bucket", shiftrightunsigned(col("zkey"), 24))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"), max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"), max(col("l_suppkey")).as("max_supp"))
      .orderBy(col("bucket"))

  private val zorderProfileSql =
    s"""WITH z AS (
       |  SELECT l_partkey, l_suppkey,
       |    list_sum(list_transform(generate_series(0, ${zBits - 1}),
       |      i -> (((l_partkey >> i) & 1) << (2 * i))
       |         + (((l_suppkey >> i) & 1) << (2 * i + 1))))::BIGINT AS zkey
       |  FROM lineitem
       |)
       |SELECT zkey >> 24 AS bucket, count(*) AS n_rows,
       |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
       |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
       |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q109: ANALYZE-style table statistics for `orders` — row count,
    * per-column exact NDV, numeric and temporal min/max — the stats a
    * cost-based optimizer feeds on (join ordering, broadcast
    * thresholds, selectivity). One scan; see scale note for the HLL
    * swap at cluster scale.
    */
  def tableStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("ndv_custkey"),
        countDistinct(col("o_orderstatus")).as("ndv_status"),
        countDistinct(col("o_orderpriority")).as("ndv_priority"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        min(col("o_orderdate").cast("date")).as("min_date"),
        max(col("o_orderdate").cast("date")).as("max_date"))

  private val tableStatsSql =
    """SELECT count(*) AS n_rows,
      |  count(DISTINCT o_custkey) AS ndv_custkey,
      |  count(DISTINCT o_orderstatus) AS ndv_status,
      |  count(DISTINCT o_orderpriority) AS ndv_priority,
      |  round(min(o_totalprice), 2) AS min_price,
      |  round(max(o_totalprice), 2) AS max_price,
      |  min(o_orderdate::DATE) AS min_date,
      |  max(o_orderdate::DATE) AS max_date
      |FROM orders""".stripMargin

  /** q128: size-balanced shard plan — assign documents to a fixed
    * number of output shards so byte sizes even out: size-descending
    * round-robin (rank r → shard r mod k), the deterministic
    * distributed stand-in for first-fit-decreasing (FFD needs a
    * sequential scan; round-robin over a descending rank gets within
    * max-item of FFD's balance and is one window pass). The manifest
    * reports per-shard doc count, byte total, and each shard's
    * deviation from the ideal mean in exact integer bytes — the plan a
    * media/dataset exporter consults before writing (cf.
    * `TextAnalysis.writeShards`, which hash-shards without balancing).
    * The rank really does run over every document row, so it uses the
    * range-partitioned 2-pass row_number (`ScaledWindows.rowNumber`) —
    * the sort parallelizes across the range partitions and the only
    * single-partition work is the ≤32-row offsets spine.
    */
  def shardPlan(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    // the rank runs over every document row, so the global
    // row_number() window becomes a range-partitioned 2-pass rank
    // (ScaledWindows doc) — no single-task sort of the corpus.
    val assigned = ScaledWindows.rowNumber(
        Tables.documents(spark, dir).select(col("doc_id"), col("n_chars")),
        Seq(col("n_chars").desc, col("doc_id")), "rk")
      .withColumn("shard", ((col("rk") - 1) % k).cast("int"))
    val summary = assigned
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    summary
      .crossJoin(broadcast(summary.agg(sum(col("bytes")).as("tb"))))
      .withColumn("ideal", expr(s"tb div $k"))
      .select(col("shard"), col("n_docs").cast("long").as("n_docs"),
        col("bytes").cast("long").as("bytes"),
        (col("bytes") - col("ideal")).cast("long").as("dev_from_ideal"))
      .orderBy(col("shard"))
  }

  private val shardPlanSql =
    """WITH a AS (
      |  SELECT doc_id, n_chars,
      |    ((row_number() OVER (ORDER BY n_chars DESC, doc_id)) - 1) % 8 AS shard
      |  FROM documents
      |), s AS (
      |  SELECT shard::INT AS shard, count(*)::BIGINT AS n_docs,
      |    sum(n_chars)::BIGINT AS bytes
      |  FROM a GROUP BY 1
      |)
      |SELECT shard, n_docs, bytes,
      |  (bytes - (sum(bytes) OVER ()) // 8)::BIGINT AS dev_from_ideal
      |FROM s ORDER BY shard""".stripMargin

  /** q134: equi-depth histogram boundaries — the 8-bucket quantile
    * histogram an optimizer stores per column (q84 is the equi-WIDTH
    * form; equi-depth is what selectivity estimation actually wants).
    * Boundary j is the smallest cent value whose cumulative row count
    * reaches j/8 of the table — exact integer rank rule (cum·8 ≥ j·N)
    * over the value-domain count relation, the same collapse that makes
    * exact quantiles feasible at scale; the 8-row spine joins the
    * cumulative table once.
    */
  def equiDepthBounds(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .select(round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("w"))
    // the distinct-cents relation is value-domain-sized (millions of
    // values at 100×): distributed prefix sum, not a global window
    val cum = ScaledWindows.prefixSum(counts, Seq(col("c")), col("w"), "cum")
      .crossJoin(broadcast(counts.agg(sum(col("w")).as("n"))))
    val spine = spark.range(1, 9).select(col("id").cast("int").as("bin"))
    spine.crossJoin(cum)
      .filter(col("cum") * 8 >= col("bin") * col("n"))
      .groupBy(col("bin"))
      .agg(min(col("c")).cast("long").as("upper_c"), max(col("n")).cast("long").as("n_rows"))
      .orderBy(col("bin"))
  }

  private val equiDepthBoundsSql =
    """WITH counts AS (
      |  SELECT round(o_totalprice * 100)::BIGINT AS c, count(*) AS w
      |  FROM orders GROUP BY 1
      |), cum AS (
      |  SELECT c, sum(w) OVER (ORDER BY c
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(w) OVER () AS n
      |  FROM counts
      |)
      |SELECT bin::INT AS bin, min(c)::BIGINT AS upper_c, max(n)::BIGINT AS n_rows
      |FROM (SELECT unnest(generate_series(1, 8)) AS bin) s
      |CROSS JOIN cum
      |WHERE cum * 8 >= bin * n
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q187: join-key skew diagnostic — the pre-flight report behind
    * every salting / AQE-skew-join decision (q86's salted distinct and
    * Skew.saltedJoin consume exactly this signal): per candidate join
    * key, the key-frequency distribution summarized as max, exact
    * integer-rank p50/p99, and the max/mean skew factor. Percentiles
    * use the value-domain trick (distribution of counts → cumulative
    * window over |distinct frequencies| rows), so nothing row-sized
    * ever sorts.
    *
    * Scale: one groupBy per audited key (map-side partial), then
    * count-domain algebra. The output is O(audited keys) rows — it
    * broadcasts into whatever planner consumes it.
    */
  def joinSkewProfile(spark: SparkSession, dir: String): DataFrame = {
    def profile(df: DataFrame, keyCol: String, label: String): DataFrame = {
      val cnts = df.groupBy(col(keyCol).as("k"))
        .agg(count(lit(1)).as("c"))
      val dist = cnts.groupBy(col("c")).agg(count(lit(1)).as("m"))
      val wCum = Window.orderBy(col("c"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      dist
        .withColumn("cum", sum(col("m")).over(wCum))
        .withColumn("n_keys", sum(col("m")).over(wAll))
        .withColumn("n_rows", sum(col("c") * col("m")).over(wAll))
        .withColumn("max_c", max(col("c")).over(wAll))
        .agg(
          first(col("n_keys")).cast("bigint").as("n_keys"),
          first(col("n_rows")).cast("bigint").as("n_rows"),
          first(col("max_c")).cast("bigint").as("max_rows_per_key"),
          min(when(col("cum") * 100 >= col("n_keys") * 50, col("c")))
            .cast("bigint").as("p50_rows_per_key"),
          min(when(col("cum") * 100 >= col("n_keys") * 99, col("c")))
            .cast("bigint").as("p99_rows_per_key"))
        .select(lit(label).as("join_key"), col("n_keys"), col("n_rows"),
          col("p50_rows_per_key"), col("p99_rows_per_key"),
          col("max_rows_per_key"),
          round(col("max_rows_per_key").cast("double") * col("n_keys") /
            col("n_rows"), 4).as("skew_factor"))
    }
    profile(Tables.lineitem(spark, dir), "l_suppkey", "lineitem.l_suppkey")
      .unionByName(profile(Tables.orders(spark, dir), "o_custkey",
        "orders.o_custkey"))
      .orderBy(col("join_key"))
  }

  private val joinSkewProfileSql = {
    // two independent WITH-blocks, unioned
    def block(table: String, key: String) =
      s"""SELECT '$table.$key' AS join_key,
         |  (SELECT count(*)::BIGINT FROM cnts_$key) AS n_keys,
         |  (SELECT sum(c)::BIGINT FROM cnts_$key) AS n_rows,
         |  (SELECT min(c)::BIGINT FROM cum_$key x
         |     WHERE x.cum * 100 >= (SELECT count(*) FROM cnts_$key) * 50)
         |    AS p50_rows_per_key,
         |  (SELECT min(c)::BIGINT FROM cum_$key x
         |     WHERE x.cum * 100 >= (SELECT count(*) FROM cnts_$key) * 99)
         |    AS p99_rows_per_key,
         |  (SELECT max(c)::BIGINT FROM cnts_$key) AS max_rows_per_key,
         |  round((SELECT max(c) FROM cnts_$key)::DOUBLE
         |      * (SELECT count(*) FROM cnts_$key)
         |      / (SELECT sum(c) FROM cnts_$key), 4) AS skew_factor""".stripMargin
    s"""WITH cnts_l_suppkey AS (
       |  SELECT l_suppkey AS k, count(*)::BIGINT AS c
       |  FROM lineitem GROUP BY l_suppkey
       |), cum_l_suppkey AS (
       |  SELECT c, sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM (SELECT c, count(*)::BIGINT AS m FROM cnts_l_suppkey GROUP BY c)
       |), cnts_o_custkey AS (
       |  SELECT o_custkey AS k, count(*)::BIGINT AS c
       |  FROM orders GROUP BY o_custkey
       |), cum_o_custkey AS (
       |  SELECT c, sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM (SELECT c, count(*)::BIGINT AS m FROM cnts_o_custkey GROUP BY c)
       |)
       |${block("lineitem", "l_suppkey")}
       |UNION ALL
       |${block("orders", "o_custkey")}
       |ORDER BY join_key""".stripMargin
  }

  /** q219: join-cardinality estimator audit — the sanity check behind
    * every cost-based join decision: for the three workhorse joins
    * (orders⋈customer, lineitem⋈orders, lineitem⋈part), compare the
    * textbook uniformity estimate |A|·|B| / max(ndv_A, ndv_B) against
    * the EXACT join cardinality, reporting the misestimate factor. A
    * factor far from 1 on a production key is how optimizers pick the
    * wrong join order — measuring it on the real keys is the audit.
    * Every input (row counts, exact NDVs, exact join counts) is an
    * integer; the estimate and factor are single fixed-order ratios.
    *
    * Scale shape: per join, two count/NDV aggregations plus the real
    * equi-join count — the same passes an ANALYZE TABLE would pay.
    */
  def joinCardinalityAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(name: String, a: DataFrame, ka: String, b: DataFrame,
        kb: String): DataFrame = {
      val sa = a.agg(count(lit(1)).as("na"), count_distinct(col(ka)).as("da"))
      val sb = b.agg(count(lit(1)).as("nb"), count_distinct(col(kb)).as("db"))
      val actual = a.join(b, col(ka) === col(kb))
        .agg(count(lit(1)).as("actual"))
      sa.crossJoin(sb).crossJoin(actual)
        .withColumn("mnd", greatest(col("da"), col("db")))
        // integer div, not double /: the float quotient could round up
        // across an integer boundary and disagree with the oracle's //
        .withColumn("est", expr("(na * nb) div mnd"))
        .select(lit(name).as("join_key"),
          col("na").cast("bigint").as("rows_a"),
          col("nb").cast("bigint").as("rows_b"),
          col("mnd").cast("bigint").as("max_ndv"),
          col("est").cast("bigint").as("estimated"),
          col("actual").cast("bigint").as("actual"),
          round(col("actual").cast("double") / col("est"), 4)
            .as("actual_over_est"))
    }
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    Seq(
      audit("o_custkey", orders, "o_custkey",
        Tables.customer(spark, dir), "c_custkey"),
      audit("l_orderkey", li, "l_orderkey", orders, "o_orderkey"),
      audit("l_partkey", li, "l_partkey", Tables.part(spark, dir), "p_partkey"),
      // the m:n case, where uniformity can actually misfire
      audit("nationkey_mn", Tables.customer(spark, dir), "c_nationkey",
        Tables.supplier(spark, dir), "s_nationkey"))
      .reduce(_ unionAll _)
      .orderBy(col("join_key"))
  }

  private val joinCardinalityAuditSql =
    """WITH j AS (
      |  SELECT 'o_custkey' AS join_key,
      |    (SELECT count(*) FROM orders) AS rows_a,
      |    (SELECT count(*) FROM customer) AS rows_b,
      |    greatest((SELECT count(DISTINCT o_custkey) FROM orders),
      |             (SELECT count(DISTINCT c_custkey) FROM customer)) AS max_ndv,
      |    (SELECT count(*) FROM orders o
      |       JOIN customer c ON o.o_custkey = c.c_custkey) AS actual
      |  UNION ALL
      |  SELECT 'l_orderkey',
      |    (SELECT count(*) FROM lineitem), (SELECT count(*) FROM orders),
      |    greatest((SELECT count(DISTINCT l_orderkey) FROM lineitem),
      |             (SELECT count(DISTINCT o_orderkey) FROM orders)),
      |    (SELECT count(*) FROM lineitem l
      |       JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |  UNION ALL
      |  SELECT 'l_partkey',
      |    (SELECT count(*) FROM lineitem), (SELECT count(*) FROM part),
      |    greatest((SELECT count(DISTINCT l_partkey) FROM lineitem),
      |             (SELECT count(DISTINCT p_partkey) FROM part)),
      |    (SELECT count(*) FROM lineitem l
      |       JOIN part p ON l.l_partkey = p.p_partkey)
      |  UNION ALL
      |  SELECT 'nationkey_mn',
      |    (SELECT count(*) FROM customer), (SELECT count(*) FROM supplier),
      |    greatest((SELECT count(DISTINCT c_nationkey) FROM customer),
      |             (SELECT count(DISTINCT s_nationkey) FROM supplier)),
      |    (SELECT count(*) FROM customer c
      |       JOIN supplier s ON c.c_nationkey = s.s_nationkey)
      |)
      |SELECT join_key, rows_a::BIGINT AS rows_a, rows_b::BIGINT AS rows_b,
      |  max_ndv::BIGINT AS max_ndv,
      |  (rows_a * rows_b // max_ndv)::BIGINT AS estimated,
      |  actual::BIGINT AS actual,
      |  round(actual::DOUBLE / (rows_a * rows_b // max_ndv), 4)
      |    AS actual_over_est
      |FROM j ORDER BY join_key""".stripMargin

  /** q214: format round-trip audit — the source/sink surface proven
    * UNDER THE ORACLE GATE, not just in a spec: a slim orders slice is
    * written and re-read through every supported format (parquet, ORC,
    * CSV+header, JSON) and re-aggregated; every format row must carry
    * the identical count and integer-cents sum, and the oracle computes
    * the same numbers from the original parquet — so a lossy writer,
    * a schema-inference drift, or a header/quote bug in ANY format
    * fails the driver's hash compare.
    *
    * Scale shape: the slice writes once per format (4 linear passes);
    * re-reads aggregate map-side. Sinks land under java.io.tmpdir with
    * overwrite, so reruns are idempotent.
    */
  def formatRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val slim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
    val tmp = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_q214").getAbsolutePath
    val perFormat = graft.sources.Formats.supported.map { fmt =>
      graft.sources.Formats.write(slim, fmt, s"$tmp/$fmt")
      graft.sources.Formats.read(spark, fmt, s"$tmp/$fmt", slim.schema)
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(col("c")).cast("bigint").as("revenue_c"))
        .select(lit(fmt).as("format"), col("n_rows"), col("revenue_c"))
    }
    perFormat.reduce(_ unionAll _).orderBy(col("format"))
  }

  private val formatRoundtripSql =
    """WITH agg AS (
      |  SELECT count(*)::BIGINT AS n_rows,
      |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_c
      |  FROM orders
      |)
      |SELECT f.format, agg.n_rows, agg.revenue_c
      |FROM agg CROSS JOIN (
      |  SELECT unnest(['csv', 'json', 'orc', 'parquet']) AS format) f
      |ORDER BY f.format""".stripMargin

  /** q276: consistent-hashing rebalance audit — how much data MOVES
    * when the shard count grows 16 → 20, ring hashing vs mod hashing.
    * Mod hashing reassigns ~1 − gcd/lcm of the keys (here 80%); a
    * hash ring with virtual nodes moves only the arc the new nodes
    * claim (~new/total = 20%) — THE property that makes shard/cache
    * topology changes survivable at 100 TB, quantified on real keys.
    *
    * Both ring positions derive from the portable md5 uniform
    * (`HashFunctions.md5U60`) so Spark and the oracle build the identical
    * ring with no RNG state. Assignment = the lowest vnode position
    * ≥ the doc's position (wrap to the global minimum) — resolved
    * with min-aggregates against the BROADCAST vnode table (S·R ≤ 160
    * rows); no shuffle beyond the final 1-row aggregation.
    */
  def consistentHashing(spark: SparkSession, dir: String): DataFrame = {
    val two60 = math.pow(2.0, 60)
    def vnodes(nShards: Int): DataFrame = {
      val rows = spark.range(nShards).select(col("id").cast("int").as("shard"))
        .crossJoin(spark.range(8).select(col("id").cast("int").as("replica")))
      rows.select(col("shard"),
        ((md5U60(concat(lit("n:"), col("shard").cast("string"), lit(":"),
          col("replica").cast("string"))) + 0.5) / two60).as("vu"))
    }
    def assign(docs: DataFrame, vn: DataFrame, out: String): DataFrame = {
      val j = docs.crossJoin(broadcast(vn))
      j.groupBy(col("doc_id"), col("du"))
        .agg(
          min(when(col("vu") >= col("du"), struct(col("vu"), col("shard")))).as("nx"),
          min(struct(col("vu"), col("shard"))).as("wr"))
        .select(col("doc_id"), col("du"),
          coalesce(col("nx.shard"), col("wr.shard")).as(out))
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        ((md5U60(concat(lit("d:"), col("doc_id").cast("string"))) + 0.5) / two60)
          .as("du"))
    val r16 = assign(docs, vnodes(16), "s16")
    val r20 = assign(docs, vnodes(20), "s20")
    r16.join(r20, Seq("doc_id"))
      .withColumn("m16", pmod(col("doc_id"), lit(16)))
      .withColumn("m20", pmod(col("doc_id"), lit(20)))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("s16") =!= col("s20"), 1L).otherwise(0L))
          .cast("bigint").as("moved_ring"),
        sum(when(col("m16") =!= col("m20"), 1L).otherwise(0L))
          .cast("bigint").as("moved_mod"))
      .withColumn("frac_ring",
        round(col("moved_ring").cast("double") / col("n_docs"), 4))
      .withColumn("frac_mod",
        round(col("moved_mod").cast("double") / col("n_docs"), 4))
  }

  private val consistentHashingSql = {
    val u = (s: String) => s"(${md5U60Sql(s)} + 0.5) / ${math.pow(2.0, 60)}"
    s"""WITH docs AS (
       |  SELECT doc_id, ${u("'d:' || doc_id::VARCHAR")} AS du FROM documents
       |), vn AS (
       |  SELECT n.n AS n_shards, s.s AS shard,
       |    ${u("'n:' || s.s::VARCHAR || ':' || r.r::VARCHAR")} AS vu
       |  FROM (SELECT unnest([16, 20]) AS n) n,
       |       unnest(generate_series(0, 19)) s(s),
       |       unnest(generate_series(0, 7)) r(r)
       |  WHERE s.s < n.n
       |), asg AS (
       |  SELECT d.doc_id, v.n_shards,
       |    coalesce(
       |      min(CASE WHEN v.vu >= d.du THEN v.vu END),
       |      min(v.vu)) AS chosen_vu
       |  FROM docs d CROSS JOIN vn v
       |  WHERE v.n_shards IN (16, 20)
       |  GROUP BY 1, 2
       |), shardof AS (
       |  SELECT a.doc_id, a.n_shards, v.shard
       |  FROM asg a JOIN vn v
       |    ON v.n_shards = a.n_shards AND v.vu = a.chosen_vu
       |), wide AS (
       |  SELECT s16.doc_id, s16.shard AS s16, s20.shard AS s20
       |  FROM shardof s16 JOIN shardof s20
       |    ON s16.doc_id = s20.doc_id AND s16.n_shards = 16 AND s20.n_shards = 20
       |)
       |SELECT count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN s16 <> s20 THEN 1 ELSE 0 END)::BIGINT AS moved_ring,
       |  sum(CASE WHEN doc_id % 16 <> doc_id % 20 THEN 1 ELSE 0 END)::BIGINT
       |    AS moved_mod,
       |  round(sum(CASE WHEN s16 <> s20 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
       |    AS frac_ring,
       |  round(sum(CASE WHEN doc_id % 16 <> doc_id % 20 THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*), 4) AS frac_mod
       |FROM wide""".stripMargin
  }

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("q276_consistent_hashing", consistentHashing,
      Some(consistentHashingSql)),
    QueryDef("q108_zorder_profile", zorderProfile, Some(zorderProfileSql)),
    QueryDef("q109_table_stats", tableStats, Some(tableStatsSql)),
    QueryDef("q128_shard_plan", shardPlan, Some(shardPlanSql)),
    QueryDef("q134_equi_depth", equiDepthBounds, Some(equiDepthBoundsSql)),
    QueryDef("q187_join_skew_profile", joinSkewProfile,
      Some(joinSkewProfileSql)),
    QueryDef("q214_format_roundtrip", formatRoundtrip, Some(formatRoundtripSql)),
    QueryDef("q219_join_cardinality", joinCardinalityAudit,
      Some(joinCardinalityAuditSql)),
  )
}
