package graft

import graft.functions.{GraftFunctions, HashFunctions}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {

  test("runtime registration exposes simhash64/minhash_sig to SQL") {
    GraftFunctions.register(spark)
    import TestSpark.spark.implicits._
    Seq((1L, "the quick brown fox"), (2L, "jumped over lazy dogs"))
      .toDF("id", "text").createOrReplaceTempView("fn_docs")
    val viaSql = spark.sql(
      """SELECT id, simhash64(split(text, ' ')) AS sh,
        |       minhash_sig(split(text, ' '), 8) AS mh
        |FROM fn_docs ORDER BY id""".stripMargin).collect()
    val viaCol = spark.table("fn_docs")
      .select(col("id"), HashFunctions.simhash64(split(col("text"), " ")).as("sh"),
        HashFunctions.minhashSig(split(col("text"), " "), 8).as("mh"))
      .orderBy(col("id")).collect()
    assert(viaSql.map(_.getLong(1)).toSeq === viaCol.map(_.getLong(1)).toSeq)
    assert(viaSql.map(_.getSeq[Long](2)).toSeq === viaCol.map(_.getSeq[Long](2)).toSeq)
    assert(viaSql.head.getSeq[Long](2).length === 8)
  }

  test("minhash_sig_hashed equals the per-slot min of hashLong over the shingle hashes") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val docs = Tables.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.shingleHashes3(split(col("text"), " ")).as("shh"))
      .withColumn("sig", HashFunctions.minhashSigHashed(col("shh"), 16))
      .orderBy(col("doc_id")).limit(20).collect()
    val seeds = Array.tabulate(16)(i => i * 2654435761L + 0x9e3779b9L)
    docs.foreach { r =>
      val shh = r.getSeq[Long](1)
      val sig = r.getSeq[Long](2)
      val ref = seeds.map { s =>
        val acc = XXH64.hashLong(s, 42L)
        shh.map(h => XXH64.hashLong(h, acc)).min
      }
      assert(sig === ref.toSeq, s"doc ${r.getLong(0)}")
    }
  }

  test("deflate_ratio: bounds, repetition monotonicity, codegen ≡ kernel") {
    import graft.functions.{CompressFunctions, CompressImpl}
    // corpus-wide bounds (map-side expression over real documents)
    val ratios = Tables.documents(spark, sfDir)
      .select(col("doc_id"), CompressFunctions.deflateRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(ratios.nonEmpty)
    // worst case is raw + ~11 bytes header/block overhead, so short
    // incompressible docs can land slightly above 1
    ratios.foreach { case (id, r) => assert(r > 0 && r <= 1.3, s"doc $id ratio $r") }
    // planted repetition compresses far better than varied text
    val rep = ("spam " * 200).trim
    val varied = (0 until 200).map(i => s"tok${i * 7919 % 1000}").mkString(" ")
    val Seq(rRep, rVar) = spark.range(1)
      .select(
        CompressFunctions.deflateRatio(lit(rep)).as("a"),
        CompressFunctions.deflateRatio(lit(varied)).as("b"))
      .head().toSeq.map(_.asInstanceOf[Double]).toSeq
    assert(rRep < rVar / 2, s"repetitive $rRep not << varied $rVar")
    // DataFrame (codegen) path equals the kernel directly
    val direct = CompressImpl.deflateRatio(
      org.apache.spark.unsafe.types.UTF8String.fromString(rep))
    assert(rRep === direct)
    // SQL registration path
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql(s"SELECT deflate_ratio('ababababab') AS r").head().getDouble(0) > 0)
  }

  test("zorder2: interleave matches a hand computation and is order-sensitive") {
    import graft.functions.{ZOrderFunctions, ZOrderImpl}
    // a=0b1010, b=0b0110 → bits pairwise interleaved → 0b01101100 = 108
    assert(ZOrderImpl.interleave(0xAL, 0x6L, 4) === 108L)
    assert(ZOrderImpl.interleave(0L, 0L, 16) === 0L)
    // full-width: 16 one-bits in each input fill all 32 output bits
    assert(ZOrderImpl.interleave(0xFFFFL, 0xFFFFL, 16) === 0xFFFFFFFFL)
    // codegen path agrees with the reference impl
    import TestSpark.spark.implicits._
    val rows = Seq((3L, 5L), (100L, 200L), (65535L, 1L)).toDF("a", "b")
      .select(col("a"), col("b"), ZOrderFunctions.zorder2(col("a"), col("b"), 16).as("z"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) === ZOrderImpl.interleave(r.getLong(0), r.getLong(1), 16))
    }
    // locality: adjacent points differ less in z than distant ones (spot check)
    val z00 = ZOrderImpl.interleave(10, 10, 8)
    val z01 = ZOrderImpl.interleave(10, 11, 8)
    val zFar = ZOrderImpl.interleave(10, 200, 8)
    assert(math.abs(z01 - z00) < math.abs(zFar - z00))
  }

  test("md5U60 equals SigImpl.hash60 and lies in [0, 2^60)") {
    import graft.functions.SigImpl
    import org.apache.spark.unsafe.types.UTF8String
    import TestSpark.spark.implicits._
    val keys = Seq("", "0", "42:7", "naïve ключ 数据 🚀", "k" * 1024)
    val viaLit = spark.range(1)
      .select(keys.map(k => HashFunctions.md5U60(lit(k))): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val viaCol = keys.toDF("k").select(HashFunctions.md5U60(col("k")))
      .collect().map(_.getLong(0)).toSeq
    assert(viaCol === viaLit)
    keys.zip(viaLit).foreach { case (k, u) =>
      assert(u === SigImpl.hash60(UTF8String.fromString(k)), s"key of length ${k.length}")
      assert(u >= 0L && u < (1L << 60), s"key of length ${k.length}")
    }
  }

  test("md5U60Sql is the 15-digit DuckDB fold with lambda names no key can shadow") {
    val sql = HashFunctions.md5U60Sql("x")
    assert(sql === "list_reduce(list_transform(generate_series(1, 15), u60_i -> " +
      "strpos('0123456789abcdef', substring(md5(x), u60_i, 1)) - 1), " +
      "(u60_acc, u60_d) -> u60_acc * 16 + u60_d)")
    val params = """(\w+) ->|\((\w+), (\w+)\) ->""".r.findAllMatchIn(sql)
      .flatMap(_.subgroups).filter(_ != null).toSeq
    assert(params === Seq("u60_i", "u60_acc", "u60_d"))
    assert(params.intersect(Seq("i", "j", "k", "acc", "d")).isEmpty)
  }

  test("config-driven extensions path registers the same functions at session build") {
    // a sibling session on the same SparkContext, built WITH extensions
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val out = s2.sql("SELECT simhash64(array('a','b','c')) AS sh").head().getLong(0)
      val ref = s2.range(1)
        .select(HashFunctions.simhash64(array(lit("a"), lit("b"), lit("c"))))
        .head().getLong(0)
      assert(out === ref)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("MisraGriesAgg: sketch keeps every item above n/(k+1) and undercounts by at most n/(k+1)") {
    import graft.functions.MisraGriesAgg
    val spark2 = spark
    import spark2.implicits._
    val k = 9 // threshold n/10
    val words = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w")).as[String]
    val exact = words.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val sketch = words.select(new MisraGriesAgg(k).toColumn).head()
    assert(sketch.size <= k, "at most k counters survive")
    // guarantee 1: nothing above the threshold is missing
    exact.filter { case (_, c) => c * (k + 1) > n }.keys.foreach { w =>
      assert(sketch.contains(w), s"heavy hitter '$w' missing from the sketch")
    }
    // guarantee 2: sketch counts never exceed truth, undercount <= n/(k+1)
    sketch.foreach { case (w, c) =>
      assert(c <= exact(w), s"'$w' overcounted")
      assert(exact(w) - c <= n / (k + 1) + 1, s"'$w' undercounted too far")
    }
    // driver-side sequential MG agrees with the distributed merge bound
    val agg = new MisraGriesAgg(k)
    val seq = words.collect().foldLeft(agg.zero)(agg.reduce)
    exact.filter { case (_, c) => c * (k + 1) > n }.keys.foreach { w =>
      assert(seq.contains(w), s"sequential MG lost heavy hitter '$w'")
    }
  }

  test("misra_gries199 registers as a SQL aggregate via GraftFunctions") {
    GraftFunctions.register(spark)
    Tables.documents(spark, sfDir).createOrReplaceTempView("docs_mg")
    val m = spark.sql(
      """SELECT misra_gries199(w) AS sk FROM (
        |  SELECT explode(split(text, ' ')) AS w FROM docs_mg)""".stripMargin)
      .head().getMap[String, Long](0)
    assert(m.size <= 199 && m.nonEmpty)
    // sketch counts are lower bounds on exact counts
    val exact = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    m.foreach { case (w, c) => assert(c <= exact(w)) }
  }

  test("jaro_winkler matches DuckDB's jaro_winkler_similarity on pinned cases") {
    // expected values probed from duckdb.jaro_winkler_similarity — the
    // q246 oracle; covers matches, transpositions, the 0.7 boost
    // threshold (no boost at 0.5873 despite a 2-char prefix), the 4-char
    // prefix cap (6-char common prefix boosts as 4), and empties
    val cases = Seq(
      ("martha", "marhta", 0.961111), ("dixon", "dicksonx", 0.813333),
      ("jellyfish", "smellyfish", 0.896296), ("abc", "abc", 1.0),
      ("", "abc", 0.0), ("", "", 0.0), ("ab", "ba", 0.0),
      ("CRATE", "TRACE", 0.733333), ("DwAyNE", "DuANE", 0.840000),
      ("apple corp", "apple corporation", 0.917647),
      ("abhello", "abgoodbye", 0.587302), ("aaaaaabb", "aaaaaacc", 0.900000),
      // non-ASCII: DuckDB scores UTF-8 BYTES (probed 2026-08); these
      // pin the byte semantics — the UTF-16 code-unit scores differ
      // (e.g. café/cafe would read 0.883 under code units)
      ("café", "cafe", 0.848333), ("naïve", "naive", 0.857778),
      ("über", "uber", 0.783333), ("a𝟘b", "ab", 0.555556),
      ("résumé", "resume", 0.75), ("café", "café", 1.0),
      ("crème brûlée", "creme brulee", 0.797037))
    cases.foreach { case (a, b, want) =>
      val got = graft.functions.JaroWinklerImpl.similarity(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(math.abs(got - want) < 5e-7, s"jw($a, $b): got $got want $want")
    }
  }

  test("jaro_winkler expression: SQL registration, codegen path, null propagation") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS jw, " +
        "jaro_winkler('martha', CAST(NULL AS STRING)) AS jwn").head()
    assert(math.abs(r.getDouble(0) - 0.961111) < 5e-7)
    assert(r.isNullAt(1))
    // column API over real data stays inside whole-stage codegen
    val df = Tables.documents(spark, sfDir).limit(50)
      .select(graft.functions.StringSimilarityFunctions
        .jaroWinkler(col("text"), col("text")).as("self"))
    assert(df.collect().forall(_.getDouble(0) == 1.0))
  }

  test("q143 heavy hitters equal the exact over-threshold word set") {
    val rows = graft.operators.TextAnalysis.heavyHitters(spark, sfDir).collect()
    val exact = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val want = exact.filter { case (_, c) => c * 200 > n }
      .toSeq.sortBy { case (w, c) => (-c, w) }
    assert(rows.map(r => (r.getString(0), r.getAs[Long]("cnt"))).toSeq === want)
    rows.foreach(r => assert(r.getAs[Long]("n_total") === n))
    assert(rows.nonEmpty, "the synthetic corpus has >0.5% tokens")
  }

  test("vec_dot/vec_cosine/vec_l2sq are bit-identical to the HOF forms") {
    import graft.functions.VecFunctions
    // real float embeddings, cast to double — the production shape
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.join(
      e.select(col("vec_id").as("id2"), col("v").as("w")),
      col("vec_id") =!= col("id2")).limit(500)
    val hofDot = aggregate(zip_with(col("v"), col("w"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val hofL2 = aggregate(zip_with(col("v"), col("w"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val hofNorm = (a: org.apache.spark.sql.Column) =>
      sqrt(aggregate(zip_with(a, a, (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x))
    val hofCos = hofDot / (hofNorm(col("v")) * hofNorm(col("w")))
    val bad = pairs.select(
        VecFunctions.vecDot(col("v"), col("w")).as("d"), hofDot.as("hd"),
        VecFunctions.vecCosine(col("v"), col("w")).as("c"), hofCos.as("hc"),
        VecFunctions.vecL2Sq(col("v"), col("w")).as("l"), hofL2.as("hl"))
      .filter(col("d") =!= col("hd") || col("c") =!= col("hc") ||
        col("l") =!= col("hl"))
    assert(bad.count() === 0L)
  }

  test("vec kernels: float input, null element, and length mismatch semantics") {
    import graft.functions.VecFunctions
    import TestSpark.spark.implicits._
    // float arrays straight from the table (no cast) equal the cast path
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val both = e.select(
      VecFunctions.vecCosine(col("embedding"), col("embedding")).as("f"),
      VecFunctions.vecCosine(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).as("d"))
    assert(both.filter(col("f") =!= col("d")).count() === 0L)
    // null element / length mismatch → null, matching zip_with+aggregate
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](3.0, 4.0))
    ).toDF("a", "b")
    val rows = df.select(
        VecFunctions.vecDot(col("a"), col("b")).as("d"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("hd"))
      .collect()
    assert(rows(0).getDouble(0) === 11.0 && rows(0).getDouble(1) === 11.0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  test("vec kernels are registered for SQL and agree with the Column API") {
    graft.functions.GraftFunctions.register(spark)
    Tables.embeddings(spark, sfDir).limit(20)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .createOrReplaceTempView("vec_fn_t")
    val viaSql = spark.sql(
      "SELECT vec_dot(v, v) AS d, vec_cosine(v, v) AS c, vec_l2sq(v, v) AS l FROM vec_fn_t ORDER BY vec_id")
      .collect()
    val viaCol = spark.table("vec_fn_t").orderBy(col("vec_id"))
      .select(graft.functions.VecFunctions.vecDot(col("v"), col("v")),
        graft.functions.VecFunctions.vecCosine(col("v"), col("v")),
        graft.functions.VecFunctions.vecL2Sq(col("v"), col("v")))
      .collect()
    viaSql.zip(viaCol).foreach { case (a, b) =>
      assert(a.getDouble(0) === b.getDouble(0))
      assert(a.getDouble(1) === b.getDouble(1))
      assert(a.getDouble(2) === b.getDouble(2))
    }
    assert(viaSql.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))
  }
}
