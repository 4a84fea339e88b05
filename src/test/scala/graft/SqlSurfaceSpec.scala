package graft

import graft.operators.SqlSurface
import org.apache.spark.sql.functions._

class SqlSurfaceSpec extends SparkSpec {

  test("q115: bands partition the orders exactly and revenue reconciles") {
    val rows = SqlSurface.bandJoin(spark, sfDir).collect()
    val total = Tables.orders(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum === total,
      "every order must land in exactly one band")
    val cents = Tables.orders(spark, sfDir)
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("revenue_c")).sum === cents)
  }

  test("q116: null-safe join keeps exactly the null bucket the regular join drops") {
    val r = SqlSurface.nullSafeJoin(spark, sfDir).head()
    val (nsKeys, rgKeys) = (r.getAs[Long]("n_keys_nullsafe"), r.getAs[Long]("n_keys_regular"))
    val (nsPairs, rgPairs) = (r.getAs[Long]("pairs_nullsafe"), r.getAs[Long]("pairs_regular"))
    // user_id % 5 == 0 exists in both slices on this corpus → one null key
    assert(nsKeys === rgKeys + 1)
    assert(nsPairs > rgPairs)
    // the difference is exactly the null×null bucket product
    val e = Tables.events(spark, sfDir)
      .filter(pmod(col("user_id"), lit(5)) === 0)
    val ca = e.filter(pmod(col("event_id"), lit(2)) === 0).count()
    val cb = e.filter(pmod(col("event_id"), lit(2)) === 1).count()
    assert(nsPairs - rgPairs === ca * cb)
  }

  test("q220: SQL-registered simhash_md5_60 equals the Column-API form") {
    val viaSql = SqlSurface.sqlCustomExpr(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_distinct_sigs"),
          r.getAs[Double]("avg_popcount"))).toMap
    val viaColumn = Tables.documents(spark, sfDir)
      .select(col("lang"),
        graft.functions.HashFunctions.simhashMd5(split(col("text"), " "))
          .as("sig"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), count_distinct(col("sig")).as("d"),
        round(avg(bit_count(col("sig")).cast("double")), 4).as("p"))
      .collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n"), r.getAs[Long]("d"), r.getAs[Double]("p"))).toMap
    assert(viaSql === viaColumn)
    // popcount of a 60-bit signature stays in range
    viaSql.values.foreach { case (_, _, p) => assert(p >= 0 && p <= 60) }
  }

  test("q226: Spark-side recursive CTE matches a driver-side recurrence replay") {
    val rows = SqlSurface.recursiveCte(spark, sfDir).collect()
    val monthly = Tables.orders(spark, sfDir)
      .select(trunc(col("o_orderdate"), "month").as("m"),
        round(col("o_totalprice") * 100).cast("bigint").as("c"))
      .groupBy(col("m")).agg(sum(col("c")).as("rev"))
      .collect().map(r => (r.getAs[java.sql.Date]("m"), r.getAs[Long]("rev")))
      .sortBy(_._1.toString)
    assert(rows.length === monthly.length, "one chain row per month")
    val expected = monthly.tail.scanLeft((monthly.head._1, monthly.head._2, 100.0)) {
      case ((_, prevRev, prevIdx), (m, rev)) =>
        (m, rev, prevIdx * (1.0 + 0.5 * (rev.toDouble / prevRev - 1.0)))
    }
    rows.zip(expected).foreach { case (r, (m, rev, idx)) =>
      assert(r.getAs[java.sql.Date]("month").toString === m.toString)
      assert(r.getAs[Long]("rev_cents") === rev)
      assert(math.abs(r.getAs[Double]("momentum_idx") - idx) <= 5.1e-7 + math.abs(idx) * 1e-12)
    }
    // the recursion actually chained: later indices differ from the anchor
    assert(rows.map(_.getAs[Double]("momentum_idx")).distinct.length > 1)
  }

  test("q226: a zero-revenue month makes every later momentum index NULL, as in the oracle") {
    // the oracle SQL run by DuckDB over these five months gives
    // 100, 75, 37.5, NULL, NULL
    val idx = SqlSurface.momentumChain(Seq(200L, 100L, 0L, 50L, 80L))
    assert(idx.take(3) === Seq(Some(100.0), Some(75.0), Some(37.5)))
    // 50 / 0 has no ratio: NULL there and after, never Infinity or NaN
    assert(idx.drop(3) === Seq(None, None))
    assert(SqlSurface.momentumChain(Seq(0L, 0L)) === Seq(Some(100.0), None))
    assert(SqlSurface.momentumChain(Seq.empty) === Seq.empty)
  }

  test("q235: Holt level/trend chain matches a driver-side recurrence replay") {
    val rows = SqlSurface.holtSmoothing(spark, sfDir).collect()
    val monthly = Tables.orders(spark, sfDir)
      .select(trunc(col("o_orderdate"), "month").as("m"),
        round(col("o_totalprice") * 100).cast("bigint").as("c"))
      .groupBy(col("m")).agg(sum(col("c")).as("rev"))
      .collect()
      .map(r => (r.getAs[java.sql.Date]("m"), r.getAs[Long]("rev").toDouble / 100.0))
      .sortBy(_._1.toString)
    assert(rows.length === monthly.length, "one chain row per month")
    // replay: l1 = x1, b1 = 0; l = .5x + .5(l+b); b = .5(l'-l) + .5b
    case class St(m: java.sql.Date, x: Double, l: Double, b: Double,
      fc: Option[Double])
    val expected = monthly.tail.scanLeft(
      St(monthly.head._1, monthly.head._2, monthly.head._2, 0.0, None)) {
      case (p, (m, x)) =>
        val l = 0.5 * x + 0.5 * (p.l + p.b)
        St(m, x, l, 0.5 * (l - p.l) + 0.5 * p.b, Some(p.l + p.b))
    }
    rows.zip(expected).foreach { case (r, e) =>
      assert(r.getAs[java.sql.Date]("month").toString === e.m.toString)
      val tol = 5.1e-7 + math.abs(e.l) * 1e-12
      assert(math.abs(r.getAs[Double]("level") - e.l) <= tol)
      assert(math.abs(r.getAs[Double]("trend") - e.b) <= tol)
      e.fc match {
        case Some(f) =>
          assert(math.abs(r.getAs[Double]("forecast") - f) <= tol)
          assert(math.abs(r.getAs[Double]("residual") - (e.x - f)) <= tol)
        case None =>
          assert(r.isNullAt(r.fieldIndex("forecast")), "anchor has no forecast")
      }
    }
    // trend state actually moves (the second state column is live)
    assert(rows.map(_.getAs[Double]("trend")).distinct.length > 1)
  }

  test("q237: listagg path signatures match an ordered driver-side replay") {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), substring(col("o_orderpriority"), 1, 1).as("p"),
        col("o_orderdate").cast("string").as("dt"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    val paths = orders.groupBy(_._1).map { case (_, g) =>
      val first8 = g.sortBy(o => (o._3, o._4)).take(8)
      (first8.map(_._2).mkString(">"), first8.length.toLong,
        first8.map(_._5).sum)
    }.toSeq
    val expected = paths.groupBy(_._1).map { case (path, g) =>
      (path, g.size.toLong, g.map(_._2).sum, g.map(_._3).sum)
    }.toSeq.sortBy { case (path, n, _, _) => (-n, path) }.take(15)
    val rows = SqlSurface.pathSignatures(spark, sfDir).collect()
    assert(rows.length === expected.length)
    rows.zip(expected).foreach { case (r, (path, n, no, spend)) =>
      assert(r.getAs[String]("path") === path)
      assert(r.getAs[Long]("n_customers") === n)
      assert(r.getAs[Long]("n_orders") === no)
      assert(math.abs(r.getAs[Double]("avg_spend") -
        spend.toDouble / n / 100.0) <= 0.01)
      // bounded signature: at most 8 hops
      assert(r.getAs[String]("path").count(_ == '>') <= 7)
    }
  }

  test("q238: VARIANT path stats agree with the string-JSON extraction") {
    val rows = SqlSurface.variantEvents(spark, sfDir).collect()
    val viaString = Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("s"),
        min(col("k")).as("mn"), max(col("k")).as("mx"))
      .collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("s"),
        r.getAs[Long]("mn"), r.getAs[Long]("mx"))).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, s, mn, mx) = viaString(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_events") === n)
      assert(r.getAs[Long]("sum_k") === s)
      assert(r.getAs[Long]("min_k") === mn)
      assert(r.getAs[Long]("max_k") === mx)
      // uniform corpus: one normalized payload key shape per type
      assert(r.getAs[Long]("n_key_shapes") === 1L)
      // the absent path is NULL for every row (NULL-safe access)
      assert(r.getAs[Long]("n_missing") === n)
    }
  }

  test("burst viterbi: states partition the day spine, runs consistent") {
    import graft.operators.SqlSurface
    val rows = SqlSurface.burstViterbi(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 2)
    val totalDays = Tables.events(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts"))).distinct().count()
    assert(rows.map(_.getAs[Long]("n_days")).sum === totalDays)
    rows.foreach { r =>
      assert(r.getAs[Long]("longest_run") <= r.getAs[Long]("n_days"))
      assert(r.getAs[Long]("n_runs") >= 1)
      assert(r.getAs[Double]("mean_daily") > 0)
    }
    // burst days (if any) must have a higher mean rate than base days
    (rows.find(_.getAs[Int]("burst") == 1),
      rows.find(_.getAs[Int]("burst") == 0)) match {
      case (Some(b), Some(base)) =>
        assert(b.getAs[Double]("mean_daily") > base.getAs[Double]("mean_daily"))
      case _ =>
    }
  }
}
