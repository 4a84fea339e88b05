package graft.operators

import graft.{QueryDef, QueryModule, Tables}
import graft.functions.HashFunctions.{md5U60, md5U60Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geospatial radius join by GRID BUCKETING — the standard distributed
  * spatial-join pattern: snap every point to a 1°×1° cell, explode the
  * probe side into the bounded set of cells its radius can reach, hash
  * equi-join on the cell key, then apply the exact haversine predicate
  * as a post-filter. The cartesian product a naive radius join implies
  * never materializes; the join is ordinary key-hash partitioning and
  * the expansion factor is a constant (15 cells per probe point here).
  *
  * The test corpus has no geo columns, so both sides carry
  * DETERMINISTIC synthetic coordinates derived from the md5-uniform
  * idiom the sampling operators use (q101/q125): a 60-bit hash splits
  * into integer micro-degrees — lat ∈ [−60°, 60°), lon ∈ [−180°, 180°)
  * — making the query reproducible and oracle-checkable while the
  * plumbing (cell derivation, neighbor expansion, wraparound, exact
  * verify) is exactly what a real lat/lon column would use.
  *
  * Cell margin proof: R = 100 km. Latitude: 1° ≈ 111.19 km ⇒ |Δlat| ≤
  * 0.9°, so ±1 lat cell suffices. Longitude: |lat| < 61° ⇒ 1° lon ≥
  * 111.19·cos(61°) ≈ 53.9 km ⇒ |Δlon| ≤ 1.86°, so ±2 lon cells.
  * Antimeridian wraparound normalizes the probe cell into [−180, 180)
  * with integer arithmetic; haversine itself is 360°-periodic in Δλ
  * (sin²(Δλ/2) is even and π-periodic), so the exact check needs no
  * special casing.
  */
object Spatial extends QueryModule {

  private val radiusKm = 100.0
  private val earthRadiusKm = 6371.0088

  /** 60-bit md5 uniform → integer micro-degree coordinates. */
  private def withCoords(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("h", md5U60(col(idCol).cast("string")))
      .withColumn("lat",
        (col("h") % 120000000L).cast("double") / 1e6 - 60.0)
      .withColumn("lon",
        ((expr("h div 120000000") % 360000000L)).cast("double") / 1e6 - 180.0)
      .drop("h")

  private def haversineKm(lat1: Column, lon1: Column,
      lat2: Column, lon2: Column): Column = {
    val dphi = radians(lat2 - lat1) / 2
    val dlam = radians(lon2 - lon1) / 2
    val a = sin(dphi) * sin(dphi) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dlam) * sin(dlam)
    lit(2 * earthRadiusKm) * asin(sqrt(a))
  }

  /** q183: suppliers ⋈ customers within 100 km, aggregated per supplier
    * nation. Probe side (suppliers) explodes to 3×5 neighbor cells;
    * build side (customers) keeps one cell per point.
    */
  def radiusJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = withCoords(
      Tables.customer(spark, dir).select(col("c_custkey")), "c_custkey")
      .select(col("c_custkey"), col("lat").as("c_lat"), col("lon").as("c_lon"),
        floor(col("lat")).cast("int").as("cell_lat"),
        floor(col("lon")).cast("int").as("cell_lon"))
    val supp = withCoords(
      Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey")),
      "s_suppkey")
      .select(col("s_suppkey"), col("s_nationkey"),
        col("lat").as("s_lat"), col("lon").as("s_lon"))
      .withColumn("dlat", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("dlon", explode(array((-2 to 2).map(lit): _*)))
      .select(col("s_suppkey"), col("s_nationkey"), col("s_lat"), col("s_lon"),
        (floor(col("s_lat")).cast("int") + col("dlat")).as("cell_lat"),
        // wraparound-normalized probe cell: [−180, 180)
        (((floor(col("s_lon")).cast("int") + col("dlon") + 540) % 360) - 180)
          .as("cell_lon"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nationkey"), col("n_name"))
    supp.join(cust, Seq("cell_lat", "cell_lon"))
      .filter(haversineKm(col("s_lat"), col("s_lon"),
        col("c_lat"), col("c_lon")) <= radiusKm)
      .join(broadcast(nat), Seq("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        countDistinct(col("s_suppkey")).cast("bigint").as("n_suppliers_hit"))
      .orderBy(col("n_name"))
  }

  private val radiusJoinSql =
    s"""WITH ch AS (
       |  SELECT c_custkey,
       |    ${md5U60Sql("c_custkey::VARCHAR")} AS h
       |  FROM customer
       |), cust AS (
       |  SELECT c_custkey,
       |    (h % 120000000)::DOUBLE / 1e6 - 60.0 AS c_lat,
       |    ((h // 120000000) % 360000000)::DOUBLE / 1e6 - 180.0 AS c_lon
       |  FROM ch
       |), cc AS (
       |  SELECT c_custkey, c_lat, c_lon,
       |    floor(c_lat)::INT AS cell_lat, floor(c_lon)::INT AS cell_lon
       |  FROM cust
       |), sh AS (
       |  SELECT s_suppkey, s_nationkey,
       |    ${md5U60Sql("s_suppkey::VARCHAR")} AS h
       |  FROM supplier
       |), supp AS (
       |  SELECT s_suppkey, s_nationkey,
       |    (h % 120000000)::DOUBLE / 1e6 - 60.0 AS s_lat,
       |    ((h // 120000000) % 360000000)::DOUBLE / 1e6 - 180.0 AS s_lon
       |  FROM sh
       |), probe AS (
       |  SELECT s_suppkey, s_nationkey, s_lat, s_lon,
       |    floor(s_lat)::INT + dlat.d AS cell_lat,
       |    ((floor(s_lon)::INT + dlon.d + 540) % 360) - 180 AS cell_lon
       |  FROM supp
       |  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS d) dlat
       |  CROSS JOIN (SELECT unnest(generate_series(-2, 2)) AS d) dlon
       |), hit AS (
       |  SELECT p.s_suppkey, p.s_nationkey, c.c_custkey
       |  FROM probe p JOIN cc c
       |    ON p.cell_lat = c.cell_lat AND p.cell_lon = c.cell_lon
       |  WHERE 2 * $earthRadiusKm * asin(sqrt(
       |      sin(radians(c.c_lat - p.s_lat) / 2)
       |        * sin(radians(c.c_lat - p.s_lat) / 2)
       |      + cos(radians(p.s_lat)) * cos(radians(c.c_lat))
       |        * sin(radians(c.c_lon - p.s_lon) / 2)
       |        * sin(radians(c.c_lon - p.s_lon) / 2))) <= $radiusKm
       |)
       |SELECT n.n_name, count(*)::BIGINT AS n_pairs,
       |  count(DISTINCT s_suppkey)::BIGINT AS n_suppliers_hit
       |FROM hit JOIN nation n ON hit.s_nationkey = n.n_nationkey
       |GROUP BY n.n_name ORDER BY n_name""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("q183_radius_join", radiusJoin, Some(radiusJoinSql)),
  )
}
