package graft

import graft.functions.{CanonicalPairs, PairExpandFunctions => P}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The pair-expansion kernels at their edges: the Long pair count and
  * its array-size limit, empty, single and null lists, lists without an
  * anchor, and anchor expansions compared as ordered lists (so a pair
  * emitted twice shows). Each kernel runs interpreted (the driver folds
  * a projection over local rows) and from generated code (a projection
  * above an exchange).
  */
class PairExpandSpec extends SparkSpec {

  private val rng = new scala.util.Random(20261020L)

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))

  /** `kernel(col("ds"))` per `id`, on the local rows and above an exchange. */
  private def bothPaths(df: DataFrame, kernel: Column): Seq[Map[Int, Row]] =
    Seq(df, df.repartition(2)).map(_.select(col("id"), kernel)
      .collect().map(r => r.getInt(0) -> r).toMap)

  test("the pair count is a Long: exact at n = 46,342; past one array it fails naming the kernel and n") {
    // n(n - 1) = 2,147,534,622 overflows Int from n = 46,342
    assert(CanonicalPairs.count("pair_expand", 46342, 46342) === 1073767311)
    assert(CanonicalPairs.count("anchor_pair_expand", 46342, 1) === 46341)
    assert(CanonicalPairs.count("anchor_pair_expand", 46342, 0) === 0)
    assert(CanonicalPairs.count("pair_expand_ids", 65536, 65536) === 2147450880)
    for ((kernel, n, anchors) <- Seq(("pair_expand_ids", 65537, 65537),
        ("anchor_pair_expand_ids", 100000, 50000))) {
      val e = intercept[IllegalArgumentException](CanonicalPairs.count(kernel, n, anchors))
      assert(e.getMessage.startsWith(s"$kernel: a list of n = $n rows"), e.getMessage)
    }
    // a real list that large fails the same way, before any output is allocated
    import TestSpark.spark.implicits._
    val boom = intercept[Exception] {
      Seq(Seq.range(0L, 65537L)).toDF("ds").repartition(1)
        .select(P.pairExpandIds(col("ds"))).collect()
    }
    assert(messages(boom).exists(_.contains("pair_expand_ids: a list of n = 65537 rows")),
      s"expected the kernel's pair-count guard, got: $boom")
  }

  test("every entry point: 0- and 1-element lists give empty arrays, a null list null, no anchor in the list nothing") {
    import TestSpark.spark.implicits._
    val idLists: Seq[(Int, Option[Seq[Long]])] = Seq(
      1 -> Some(Seq.empty), 2 -> Some(Seq(7L)), 3 -> None, 4 -> Some(Seq(9L, 4L, 6L)))
    val ids = idLists.toDF("id", "ds")
    val withPayload = idLists.map { case (i, l) => i -> l.map(_.map(d => (d, d * 3))) }
    val nsh = withPayload.map { case (i, l) => i -> l.map(_.map { case (d, p) => (d, p.toInt) }) }
      .toDF("id", "ds").select(col("id"),
        col("ds").cast("array<struct<doc_id:bigint,nsh:int>>").as("ds"))
    val sims = withPayload.toDF("id", "ds").select(col("id"),
      col("ds").cast("array<struct<id:bigint,sim:bigint>>").as("ds"))
    val noAnchor = Seq(1L, 2L, 5L)
    val kernels = Seq(
      ("pair_expand", nsh, P.pairExpand(col("ds")), 3),
      ("pair_expand_ids", ids, P.pairExpandIds(col("ds")), 3),
      ("pair_expand_packed_ids", ids, P.pairExpandPackedIds(col("ds")), 3),
      ("anchor_pair_expand", nsh, P.anchorPairExpand(col("ds"), noAnchor), 0),
      ("anchor_pair_expand_ids", ids, P.anchorPairExpandIds(col("ds"), noAnchor), 0),
      // sims 12, 18, 27 lie within hamming 64 of each other
      ("simhash_bucket_pairs", sims, P.simhashBucketPairs(col("ds"), 10, 6, 64), 3))
    for ((name, df, kernel, full) <- kernels; got <- bothPaths(df, kernel)) {
      def size(id: Int): Option[Int] =
        if (got(id).isNullAt(1)) None else Some(got(id).getSeq[Any](1).size)
      assert(size(1) === Some(0), s"$name: empty list")
      assert(size(2) === Some(0), s"$name: one-element list")
      assert(size(3) === None, s"$name: null list")
      assert(size(4) === Some(full), s"$name: three-element list")
    }
  }

  test("anchor expansions equal the filtered full expansion as ordered lists, anchor-anchor pairs once") {
    import TestSpark.spark.implicits._
    // long lists (past any small-list sort path) dense in anchors, so
    // most lists hold several anchor-anchor pairs
    val anchors = Seq(40L, 3L, 11L, 27L, 38L, 12L, 13L)
    val aSet = anchors.toSet
    val lists = List.tabulate(60)(i => i -> rng.shuffle((0L until 300L).toList)
      .take(if (i % 3 == 0) 2 + rng.nextInt(4) else 50 + rng.nextInt(250)))
    def want(l: List[Long]): List[(Long, Long)] = {
      val s = l.sorted
      (for { i <- s.indices; j <- (i + 1) until s.size if aSet(s(i)) || aSet(s(j)) }
        yield (s(i), s(j))).toList
    }
    val ids = lists.toDF("id", "ds")
    for (got <- bothPaths(ids, P.anchorPairExpandIds(col("ds"), anchors)); (i, l) <- lists)
      assert(got(i).getSeq[Row](1).map(r => (r.getLong(0), r.getLong(1))).toList === want(l),
        s"anchor_pair_expand_ids, list $i")
    val nsh = lists.map { case (i, l) => i -> l.map(d => (d, (d % 97).toInt)) }.toDF("id", "ds")
      .select(col("id"), col("ds").cast("array<struct<doc_id:bigint,nsh:int>>").as("ds"))
    for (got <- bothPaths(nsh, P.anchorPairExpand(col("ds"), anchors)); (i, l) <- lists)
      assert(got(i).getSeq[Row](1).map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
        .toList === want(l).map { case (a, b) => (a, (a % 97).toInt, b, (b % 97).toInt) },
        s"anchor_pair_expand, list $i")
  }

  test("full expansions of long lists with repeated ids equal the C(n, 2) reference") {
    import TestSpark.spark.implicits._
    val lists = List.tabulate(40)(i => i -> List.fill(1 + rng.nextInt(300))(rng.nextInt(120).toLong))
    val df = lists.toDF("id", "ds")
    def want(l: List[Long]): List[(Long, Long)] = {
      val s = l.sorted
      (for { i <- s.indices; j <- (i + 1) until s.size } yield (s(i), s(j))).toList
    }
    for (got <- bothPaths(df, P.pairExpandIds(col("ds"))); (i, l) <- lists)
      assert(got(i).getSeq[Row](1).map(r => (r.getLong(0), r.getLong(1))).toList === want(l))
    for (got <- bothPaths(df, P.pairExpandPackedIds(col("ds"))); (i, l) <- lists)
      assert(got(i).getSeq[Long](1).map(pk => (pk >>> 32, pk & 0xFFFFFFFFL)).toList === want(l))
  }
}
