package graft.operators

import graft.{Checkpoints, Materialize, QueryDef, QueryModule, Tables}
import graft.functions.HashFunctions.{md5U60, md5U60Sql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection for a training-data pipeline.
  *
  * Scale design: the naive all-pairs join is quadratic in corpus size —
  * unusable at 100 TB. Both operators here are *candidate-generation*
  * schemes that shuffle each document once on a bucket key (linear),
  * join only within buckets, and then verify candidates exactly:
  *
  *  - MinHash + LSH banding: trigram-shingle MinHash signatures
  *    (`numHashes` seeded xxhash64 mins), split into `bands`; documents
  *    sharing any band bucket become candidates; candidates are verified
  *    with exact Jaccard. Banding 64 hashes as 32×2 makes the miss
  *    probability for j ≥ 0.5 below 1e-4 per pair (1-(1-j²)³²).
  *  - SimHash: 64-bit signature from token-hash bit votes; pairs within
  *    Hamming distance `maxHamming` found by pigeonhole banding — with
  *    `maxHamming+1` bands a qualifying pair MUST collide in at least one
  *    band, so candidate generation is *exact* (no recall loss).
  *
  * Everything is built from codegen'd Catalyst expressions (xxhash64,
  * higher-order array functions) — no UDFs, no driver-side loops.
  */
object Dedup extends QueryModule {

  /** Exact duplicate removal by key columns, deterministic keep-min-id
    * (reference A5 `dropDuplicates(subset)` with the explicit tiebreak
    * the hash-oracle requires — SURVEY §7.4).
    */
  def dedupExact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // --- MinHash ---------------------------------------------------------

  /** MinHash signature of a (string-array) shingle column: for each seed,
    * the minimum xxhash64(seed, shingle). Array-typed, length = numHashes.
    *
    * Implemented by the custom codegen'd expression
    * [[graft.functions.MinHashSig]] — ONE pass over the shingles instead
    * of the equivalent-but-64-pass expression tree
    * `transform(seeds, s -> array_min(transform(sh, x -> xxhash64(s, x))))`
    * (bit-identical results; DedupSpec pins the equivalence).
    */
  def minHashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.HashFunctions.minhashSig(shingleCol, numHashes)

  /** Explode a signature into (band, band_key) rows: `bands` buckets of
    * rowsPerBand consecutive signature slots, keyed by xxhash64.
    */
  private def bandRows(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = array((0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((lit(b) +: (1 to rowsPerBand).map(r =>
          element_at(col(sigCol), b * rowsPerBand + r))): _*).as("bkey"))
    }: _*)
    df.select(col(idCol), explode(bandStructs).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Candidate pairs from LSH banding: ids sharing any (band, band_key)
    * bucket. Grouped-posting shape (the q35/q41 kernel discipline —
    * ONE shuffle on the bucket key, pair expansion inside the
    * codegen'd kernel) instead of the two-exchange bucket self-join;
    * the cross-band distinct remains (a pair may collide in several
    * bands, and unlike q41's XOR trick the minhash band keys are
    * hashes, so first-collision-band is not recoverable from compact
    * per-pair state).
    */
  def lshCandidates(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    bandRows(df, idCol, sigCol, bands, rowsPerBand)
      .groupBy(col("band"), col("bkey"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(explode(graft.functions.PairExpandFunctions
        .pairExpandIds(col("ids"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()

  /** Full MinHash-LSH near-duplicate pipeline over a text corpus:
    * shingle → sign → band → bucket-join → exact-Jaccard verification.
    * Returns (doc_a, doc_b, jaccard) for verified pairs ≥ threshold.
    */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 32, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val toks = split(col(textCol), " ")
    // One cached table carries both the shingle-HASH set (for exact
    // verify) and the signature (for banding): the bucket self-join
    // reads it twice and the verification joins twice more, so
    // persisting once means the (expensive, 64-hash) signature
    // computation runs once per document — the same compute-once design
    // a cluster run would use (materialize signatures, then join).
    // Shingles ride as their 64-bit content hashes end to end
    // (WordNgramHashes → MinHashSigFromHashes): the shingle STRING's
    // bytes are hashed exactly once, each signature slot is a cheap
    // 8-byte hashLong, the exact-verify intersects long arrays instead
    // of string arrays, and the cached rows shrink ~3×. Jaccard on the
    // hash sets equals Jaccard on the string sets barring a 2^-64
    // cross-shingle collision (same documented argument as q35's
    // posting keys).
    val shingled = docs
      .withColumn("__toks", toks)
      .filter(size(col("__toks")) >= 3)
      .select(col(idCol), TextAnalysis.shingleHashes3(col("__toks")).as("__shh"))
      .withColumn("__sig",
        graft.functions.HashFunctions.minhashSigHashed(col("__shh"), numHashes))
      .persist()
    val signed = shingled.select(col(idCol), col("__sig"))

    // Explicit broadcast: the candidate relation is DUP-RATE-sized (two
    // longs per surviving band-bucket pair), orders of magnitude under
    // any broadcast limit at every probed tier — but AQE's size
    // ESTIMATE of the bucket-join subtree grows with corpus, and past
    // the threshold it flips the verify joins to shuffle joins, putting
    // the FULL shingle-hash-array relation on the wire twice (measured
    // at the 100× probe tier: 2×210 MiB, a 30×-per-decade step on an
    // otherwise linear query; wall 9.9→15+ s). The hint pins the plan
    // the actual sizes want: arrays never shuffle, verification is a
    // map-side probe of the cached corpus at every scale.
    //
    // GUARDED (ADVICE r11): explicit hints bypass
    // autoBroadcastJoinThreshold, and the second hint's collected
    // payload is candidate-count × the per-doc shingle-hash array — a
    // dup-rate spike would fail with driver OOM instead of degrading.
    // The candidate relation is persisted and COUNTED first (dup-rate-
    // sized, a cheap job over the already-cached signatures); past the
    // row budget the hints are dropped and AQE plans shuffle joins —
    // slower, never fatal. (If a corpus' dup rate ever made even the
    // shuffled candidates hostile, the cluster alternative is the
    // bucket-doc semi-join reduction — measured 3× fewer wire bytes but
    // +50% local wall; see SCALE.md round 11.)
    val candidates = lshCandidates(signed, idCol, "__sig", bands, rowsPerBand)
      .persist()
    // ~2M pairs × (2 ids + a ~100-hash array each) ≈ 1.6 GiB collected —
    // the edge of a sane driver budget; measured corpora sit orders of
    // magnitude below (sf0.1: ~3k pairs)
    val hinted = candidates.count() <= 2000000L
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (hinted) broadcast(df) else df
    val sets = shingled.select(col(idCol), col("__shh"))
    // The second hint matters as much as the first: a hint does not
    // survive through a join's OUTPUT, so without it the id_b probe
    // replans by estimate and shuffles the full array relation
    // (measured at 100×: one residual 210 MiB exchange). The hinted
    // intermediate is candidates ⋈ sh_a — still dup-rate-sized.
    Materialize.releasing(
      maybeBroadcast(maybeBroadcast(candidates)
        .join(sets.select(col(idCol).as("id_a"), col("__shh").as("sh_a")),
          Seq("id_a")))
        .join(sets.select(col(idCol).as("id_b"), col("__shh").as("sh_b")), Seq("id_b"))
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b")),
      shingled, candidates)
  }

  /** q40: MinHash-LSH near-dups on `documents`. The oracle is the exact
    * global Jaccard ≥ 0.5 (SQL, posting-join shape so it replays at
    * sf0.1 — see TextAnalysis.jaccardPairsSql's note) — valid because
    * 32×2 banding's per-pair miss probability at j ≥ 0.5 is ≤ 1e-4 and
    * the output was cross-checked against the exact result at every sf
    * (see DedupSpec): on this corpus LSH recall is exactly 1.
    */
  def minHashQuery(spark: SparkSession, dir: String): DataFrame =
    minHashLsh(Tables.documents(spark, dir), "doc_id", "text")

  private val minHashOracleSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks)-2),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      |  FROM t WHERE len(toks) >= 3
      |), p AS (
      |  SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM s
      |), pr AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.nsh AS nsh_a, b.nsh AS nsh_b, count(*) AS inter
      |  FROM p a JOIN p b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |)
      |SELECT doc_a, doc_b,
      |  round(inter::DOUBLE / (nsh_a + nsh_b - inter), 4) AS jaccard
      |FROM pr WHERE inter::DOUBLE / (nsh_a + nsh_b - inter) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- SimHash ---------------------------------------------------------

  /** 64-bit SimHash of a token array: per-bit majority vote of token
    * xxhash64 bits. Bit i of the result is 1 iff the sum over tokens of
    * (bit i of xxhash64(token) ? +1 : -1) is positive.
    *
    * Implemented by the custom codegen'd expression
    * [[graft.functions.SimHash64]] — one pass over the tokens instead of
    * 64 `aggregate(...)` walks (bit-identical; DedupSpec pins it).
    */
  def simHash(toksCol: Column): Column =
    graft.functions.HashFunctions.simhash64(toksCol)

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming ≤ maxHamming, found via
    * pigeonhole banding (maxHamming+1 bands → exact recall): a pair
    * within distance k must agree exactly on ≥1 of k+1 disjoint bit
    * bands, so bucket-joining on band values finds every qualifying pair
    * with one linear shuffle.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7): DataFrame =
    simHashPairsWith(docs, idCol, textCol, simHash, 64, maxHamming)

  /** q41 declared variant: SimHash over the portable 60-bit md5 token
    * hash ([[graft.functions.SimHashMd5]] — same one-pass vote kernel),
    * 6 bands × 10 bits, so the SQL oracle replays signature, banding and
    * Hamming check exactly. The xxhash64 form above is the faster
    * default for engine-internal runs; both have exact pigeonhole
    * recall.
    */
  def simHashPairsMd5(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 5): DataFrame =
    simHashPairsWith(docs, idCol, textCol,
      graft.functions.HashFunctions.simhashMd5, 60, maxHamming)

  private def simHashPairsWith(docs: DataFrame, idCol: String, textCol: String,
      sigFn: Column => Column, nBits: Int, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(nBits % nBands == 0, s"$nBits bits not divisible into $nBands bands")
    val bitsPerBand = nBits / nBands // e.g. 8 bands of 8 bits for maxHamming=7
    // Single-shuffle grouped-posting shape (the q35 kernel discipline,
    // replacing the earlier bucket SELF-JOIN which cost two shuffle
    // stages plus a dedup pass): signatures are computed once in the
    // map stage, band rows shuffle ONCE on (band, band-key), and each
    // bucket's (id, sig) list expands to its qualifying pairs inside
    // the codegen'd SimhashBucketPairs kernel — hamming filter applied
    // in-kernel, and the FIRST band where the two signatures agree
    // rides along so `first_band = band` keeps every pair exactly once
    // with a map-side filter instead of a distinct() shuffle. Bucket
    // list size is the banding design knob (bitsPerBand grows with
    // corpus size, exactly like q35's posting-df guard).
    val signed = docs
      .withColumn("__toks", split(col(textCol), " "))
      .filter(size(col("__toks")) >= 1)
      .select(col(idCol), sigFn(col("__toks")).as("__sim"))
    val bandStructs = array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        // band value: bitsPerBand-bit slice of the signature
        shiftrightunsigned(col("__sim"), b * bitsPerBand)
          .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("bkey"))
    }: _*)
    val buckets = signed.select(col(idCol), col("__sim"), explode(bandStructs).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bkey").as("bkey"),
        col(idCol), col("__sim"))
    // No persist and no cache layer: the plan has exactly one exchange
    // (the band-key shuffle), and the final orderBy's range-sampling
    // pass shares it via exchange reuse within the single execution —
    // the signature map stage and the bucket kernel run exactly once.
    buckets.groupBy(col("band"), col("bkey"))
      .agg(collect_list(struct(col(idCol), col("__sim"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("band"), explode(graft.functions.PairExpandFunctions
        .simhashBucketPairs(col("ds"), bitsPerBand, nBands, maxHamming)).as("p"))
      .filter(col("p.first_band") === col("band"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.hamming").as("hamming_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q41: SimHash near-dups on `documents` via the portable md5 variant
    * — hash-checked against a full SQL replay of the signature/banding
    * path; DedupSpec additionally checks banding ≡ brute-force all-pairs.
    */
  def simHashQuery(spark: SparkSession, dir: String): DataFrame =
    simHashPairsMd5(Tables.documents(spark, dir), "doc_id", "text")

  /** DuckDB replica of `simHashPairsMd5(maxHamming=5)`: 60-bit token
    * hash = first 15 md5 hex chars parsed base-16, per-bit majority vote
    * (> 0 → 1), 6 bands × 10 bits pigeonhole candidates, exact Hamming
    * filter.
    */
  private val simHashOracleSql =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), hashed AS (
      |  SELECT doc_id, ${md5U60Sql("tok")} AS h
      |  FROM toks
      |), votes AS (
      |  SELECT doc_id, bb.b AS b,
      |    sum(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bb
      |  GROUP BY doc_id, bb.b
      |), sigs AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sig
      |  FROM votes GROUP BY doc_id
      |), banded AS (
      |  SELECT s.doc_id, s.sig, bb.band, (s.sig >> (bb.band * 10)) & 1023 AS bkey
      |  FROM sigs s CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS band) bb
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, a.sig AS sig_a,
      |                  b.doc_id AS doc_b, b.sig AS sig_b
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
      |  WHERE a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b))::INT AS hamming_dist
      |FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 5
      |ORDER BY doc_a, doc_b""".stripMargin

  // --- duplicate-group clustering --------------------------------------

  /** Connected components over a near-dup pair list: every document gets
    * the minimum doc id reachable through pair edges as its `group_id`
    * (so the group representative is `doc_id == group_id`).
    *
    * Iterative min-label propagation with pointer doubling: each round
    * (a) joins current labels across edges and keeps the per-node
    * minimum (one hop), then (b) replaces every label by its label's own
    * label (label values are always member ids, and label(label(x)) ≤
    * label(x)), so label chains halve each round — true O(log diameter)
    * convergence, which one-hop propagation alone does NOT give (it
    * advances one edge per round). If the loop still hasn't converged at
    * `maxIter` it throws instead of returning silently-split groups.
    * Each round's labels are eagerly checkpointed via [[Checkpoints]]
    * (and the prior round's blocks released): persist alone caches data
    * but leaves the LOGICAL plan growing — with doubling it nests
    * geometrically and plan rendering alone OOMs after ~8 rounds;
    * checkpointing truncates lineage so every round starts from a flat
    * plan. On a cluster, setting `spark.graft.checkpointDir` switches
    * every round to reliable `checkpoint()` (executor-loss-safe).
    */
  def dupGroups(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // both edge directions from ONE evaluation of the (expensive) pair
    // plan — a union of two selects would compute it twice
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // Empty graph short-circuit: a clean corpus (every near-dup already
    // removed upstream, the common steady-state for q36's post-gate
    // composite) has NO edges; the iterative machinery below would
    // still pay ~4 fixed-overhead jobs (init agg, hop, checkpoint,
    // convergence count) to conclude nothing. One cheap limit(1) job on
    // the just-persisted edges decides instead.
    if (edges.limit(1).count() == 0L) {
      // Return a LITERAL empty relation, not `edges.limit(0)`: the
      // limit(0) plan still references the (just-unpersisted) edge
      // subtree, and if the zero-limit fold is ever blocked downstream
      // the whole pair pipeline re-executes to produce zero rows.
      val spark = pairs.sparkSession
      val out = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("group_id",
            org.apache.spark.sql.types.LongType, nullable = false))))
      edges.unpersist()
      return out
    }
    // init = identity + first hop fused: label(v) = min(v, min neighbor).
    // Saves one full propagation round (≈6 fixed-overhead jobs) — for
    // the shallow star/pair components near-dup graphs mostly contain,
    // that is half the loop.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src").as("id"), least(col("src"), col("__mn")).as("label"))
      .persist()
    var changed = 1L
    var iter = 0
    // prior round's checkpoint blocks, released once the next round has
    // fully consumed them (Checkpoints doc: unpersist() on a
    // checkpointed Dataset is a no-op, so the handle must be held)
    var labelsCut: Option[Checkpoints.Cut] = None
    while (changed > 0 && iter < maxIter) {
      val propagated = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"))
      val hop = labels.select(col("id"), col("label"))
        .union(propagated)
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"))
        .persist() // read twice by the doubling self-join below
      // pointer doubling: follow the label's own label
      val nextCut = Checkpoints.cut(hop.join( // eager: materializes + truncates lineage
          hop.select(col("id").as("label"), col("label").as("plabel")), Seq("label"))
        .select(col("id"), col("plabel").as("label")))
      val next = nextCut.df
      changed = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .filter(col("label") =!= col("old")).count()
      hop.unpersist()
      labels.unpersist() // real for the round-0 persist; no-op afterwards
      labelsCut.foreach(_.release()) // prior round: consumed by cut + changed-count
      labelsCut = Some(nextCut)
      labels = next
      iter += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"dupGroups did not converge within $maxIter pointer-doubling rounds " +
          "(component diameter > 2^" + maxIter + "?)")
    // Hand the result back as a CacheManager-managed cache, not as bare
    // checkpoint blocks: callers (and Verify's per-query clearCache)
    // can see and free a cache, whereas the final round's checkpoint
    // blocks would linger until the ContextCleaner GCs them.
    val out = labels.select(col("id").as("doc_id"), col("label").as("group_id"))
      .cache()
    out.count()
    labelsCut.foreach(_.release())
    out
  }

  /** q53: duplicate groups from the exact Jaccard≥0.5 pair graph; the
    * oracle recomputes the same components with a recursive CTE.
    */
  def dupGroupsQuery(spark: SparkSession, dir: String): DataFrame =
    dupGroups(TextAnalysis.jaccardPairs(spark, dir))
      .orderBy(col("doc_id"))

  // Pair generation in the subquadratic posting-join shape (see
  // TextAnalysis.jaccardPairsSql's note) so the recursive-CC oracle is
  // replayable at sf0.1; the all-pairs equivalence is spec-pinned.
  private val dupGroupsSql =
    """WITH RECURSIVE t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
      |), s AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(generate_series(1, len(toks)-2),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      |  FROM t WHERE len(toks) >= 3
      |), p AS (
      |  SELECT doc_id, lang, len(sh) AS nsh, unnest(sh) AS shingle FROM s
      |), pr AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.nsh AS nsh_a, b.nsh AS nsh_b, count(*) AS inter
      |  FROM p a JOIN p b
      |    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |), pairs AS (
      |  SELECT doc_a, doc_b FROM pr
      |  WHERE inter::DOUBLE / (nsh_a + nsh_b - inter) >= 0.5
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs
      |), reach AS (
      |  SELECT src AS id, src AS label FROM edges
      |  UNION
      |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
      |)
      |SELECT id AS doc_id, min(label) AS group_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  private val levBlockPfx = 16
  private val levHead = 128
  private val levMax = 40
  private val levLenBand = 64

  /** q141: blocked edit-distance pair mining — the entity-resolution /
    * fuzzy-dedup primitive for SHORT edits (typos, near-identical
    * boilerplate) that token-level Jaccard (q35) and MinHash (q40) blur
    * over. Pair definition INCLUDES the blocking, keeping it exact and
    * scale-honest: same lang, same 16-char prefix, |length diff| ≤ 64,
    * and Levenshtein ≤ 40 on the 128-char heads.
    *
    * Scale shape: the self-join is an EQUI-join on (lang, prefix) —
    * hash-partitioned, never all-pairs; block sizes are bounded by
    * prefix specificity (any residual hot block salts like q86). The
    * distance uses Spark's thresholded levenshtein, which abandons a
    * pair once the running distance exceeds the bound — O(k·n) per
    * comparison instead of O(n²).
    */
  def blockedLevPairs(spark: SparkSession, dir: String): DataFrame = {
    def side(suffix: String): DataFrame =
      Tables.documents(spark, dir).select(
        col("doc_id").as(s"id_$suffix"),
        col("lang"),
        substring(col("text"), 1, levBlockPfx).as("pfx"),
        substring(col("text"), 1, levHead).as(s"head_$suffix"),
        col("n_chars").as(s"n_$suffix"))
    side("a").join(side("b"), Seq("lang", "pfx"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("n_a") - col("n_b")) <= levLenBand)
      .withColumn("lev", levenshtein(col("head_a"), col("head_b"), levMax))
      .filter(col("lev") >= 0)
      .select(col("id_a"), col("id_b"), col("lang"), col("lev").cast("int").as("lev"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q246: Jaro-Winkler re-rank of the q141 candidate blocks — the
    * short-edit matcher's similarity twin. Same (lang, 16-char prefix,
    * length band) equi-join blocking (never all-pairs); the verify
    * stage scores each candidate with the custom codegen'd
    * `jaro_winkler` expression (functions.JaroWinklerSim, semantics
    * pinned to DuckDB's jaro_winkler_similarity) over the 128-char
    * heads, keeping pairs at ≥ 0.90 after 4-dp rounding (rounding
    * before the threshold keeps the cut ulp-stable across engines).
    * Complements q141: Levenshtein counts edits (length-sensitive),
    * JW rewards shared prefixes — entity-resolution's usual pairing.
    */
  def jaroWinklerRerank(spark: SparkSession, dir: String): DataFrame = {
    def side(suffix: String): DataFrame =
      Tables.documents(spark, dir).select(
        col("doc_id").as(s"id_$suffix"),
        col("lang"),
        substring(col("text"), 1, levBlockPfx).as("pfx"),
        substring(col("text"), 1, levHead).as(s"head_$suffix"),
        col("n_chars").as(s"n_$suffix"))
    side("a").join(side("b"), Seq("lang", "pfx"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("n_a") - col("n_b")) <= levLenBand)
      .withColumn("jw", round(graft.functions.StringSimilarityFunctions
        .jaroWinkler(col("head_a"), col("head_b")), 4))
      .filter(col("jw") >= 0.90)
      .select(col("id_a"), col("id_b"), col("lang"), col("jw"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val jaroWinklerRerankSql =
    s"""WITH d AS (
       |  SELECT doc_id, lang, substr(text, 1, $levBlockPfx) AS pfx,
       |    substr(text, 1, $levHead) AS head, n_chars
       |  FROM documents
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang,
       |  round(jaro_winkler_similarity(a.head, b.head), 4) AS jw
       |FROM d a JOIN d b
       |  ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id
       | AND abs(a.n_chars - b.n_chars) <= $levLenBand
       |WHERE round(jaro_winkler_similarity(a.head, b.head), 4) >= 0.90
       |ORDER BY id_a, id_b""".stripMargin

  private val blockedLevPairsSql =
    s"""WITH d AS (
       |  SELECT doc_id, lang, substr(text, 1, $levBlockPfx) AS pfx,
       |    substr(text, 1, $levHead) AS head, n_chars
       |  FROM documents
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang,
       |  levenshtein(a.head, b.head)::INT AS lev
       |FROM d a JOIN d b
       |  ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id
       | AND abs(a.n_chars - b.n_chars) <= $levLenBand
       |WHERE levenshtein(a.head, b.head) <= $levMax
       |ORDER BY id_a, id_b""".stripMargin

  /** q148: survivorship — after dedup finds duplicate groups, WHICH
    * record survives and with which field values? The golden-record
    * merge rules here: keep the smallest doc_id as the canonical key,
    * take the text from the LONGEST member (tie → smallest id), count
    * distinct languages (a >1 value flags an inconsistent group), sum
    * character mass. Groups are q34's exact md5-prefix fingerprint
    * groups with ≥ 2 members.
    *
    * Shape: one window (row_number by length desc, id) + one
    * aggregation, both keyed by the fingerprint — the groups relation
    * is duplicate-bounded, and nothing ever joins doc×doc.
    */
  def goldenRecord(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("fp", md5(lower(substring(col("text"), 1, 100))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("n_chars").desc, col("doc_id"))
    d.withColumn("rn", row_number().over(w))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("keep_id"),
        max(when(col("rn") === 1, col("doc_id"))).as("longest_id"),
        max(when(col("rn") === 1, col("n_chars"))).as("longest_chars"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"))
      .filter(col("n_docs") >= 2)
      .select(col("fp"), col("n_docs").cast("bigint").as("n_docs"),
        col("keep_id"), col("longest_id"),
        col("longest_chars").cast("bigint").as("longest_chars"),
        col("n_langs").cast("bigint").as("n_langs"),
        col("total_chars").cast("bigint").as("total_chars"))
      .orderBy(col("fp"))
  }

  private val goldenRecordSql =
    """WITH d AS (
      |  SELECT doc_id, lang, n_chars,
      |    md5(lower(substr(text, 1, 100))) AS fp,
      |    row_number() OVER (PARTITION BY md5(lower(substr(text, 1, 100)))
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents
      |)
      |SELECT fp, count(*)::BIGINT AS n_docs,
      |  min(doc_id) AS keep_id,
      |  max(CASE WHEN rn = 1 THEN doc_id END) AS longest_id,
      |  max(CASE WHEN rn = 1 THEN n_chars END)::BIGINT AS longest_chars,
      |  count(DISTINCT lang)::BIGINT AS n_langs,
      |  sum(n_chars)::BIGINT AS total_chars
      |FROM d GROUP BY fp HAVING count(*) >= 2
      |ORDER BY fp""".stripMargin

  /** q184: duplicate-cluster size profile — the dedup health report a
    * curation pipeline emits after fingerprinting: for every cluster
    * size s, how many clusters, how many documents they hold, their
    * corpus share, and the documents removable by keep-one dedup.
    * Clusters come from q34's prefix-md5 fingerprint; the histogram
    * runs on the |clusters|-sized relation and the corpus-share
    * denominator is one window sum over the |distinct sizes| rows.
    *
    * Scale: one fingerprint groupBy (the data-sized shuffle), then a
    * size-keyed aggregation over |clusters| rows — the profile itself
    * is bounded by max cluster size, not the corpus.
    */
  def dupClusterProfile(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Tables.documents(spark, dir)
      .withColumn("fp", md5(lower(substring(col("text"), 1, 100))))
      .groupBy(col("fp")).agg(count(lit(1)).as("s"))
    val bySize = clusters.groupBy(col("s").as("cluster_size"))
      .agg(count(lit(1)).cast("bigint").as("n_clusters"))
      .withColumn("n_docs", (col("cluster_size") * col("n_clusters"))
        .cast("bigint"))
      .withColumn("n_removable",
        ((col("cluster_size") - 1) * col("n_clusters")).cast("bigint"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    bySize
      .withColumn("corpus_share",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(wAll), 4))
      .select(col("cluster_size").cast("bigint").as("cluster_size"),
        col("n_clusters"), col("n_docs"), col("n_removable"),
        col("corpus_share"))
      .orderBy(col("cluster_size"))
  }

  private val dupClusterProfileSql =
    """WITH clusters AS (
      |  SELECT md5(lower(substr(text, 1, 100))) AS fp, count(*)::BIGINT AS s
      |  FROM documents GROUP BY fp
      |), by_size AS (
      |  SELECT s AS cluster_size, count(*)::BIGINT AS n_clusters,
      |    (s * count(*))::BIGINT AS n_docs,
      |    ((s - 1) * count(*))::BIGINT AS n_removable
      |  FROM clusters GROUP BY s
      |)
      |SELECT cluster_size, n_clusters, n_docs, n_removable,
      |  round(n_docs::DOUBLE / sum(n_docs) OVER (), 4) AS corpus_share
      |FROM by_size ORDER BY cluster_size""".stripMargin

  // --- LSH recall audit -------------------------------------------------

  /** q197: empirical MinHash-LSH S-curve audit — per true-Jaccard
    * decile, the fraction of document pairs the banding scheme surfaces
    * as candidates. Production dedup tunes (hashes, bands) against
    * exactly this curve: theory says a pair at similarity j becomes a
    * candidate with probability 1 − (1 − j^r)^b (r rows/band, b bands),
    * so the 16-hash / 8-band / 2-row scheme here should surface ~0.1%
    * of j ≈ 0 pairs (false-positive cost), ~90% at j = 0.5, and ~100%
    * at j ≥ 0.8. The audit measures that curve on the real corpus over
    * EVERY pair sharing at least one shingle — the high deciles read as
    * recall, the low deciles as wasted verification work — instead of
    * trusting the formula.
    *
    * The signature here is the PORTABLE md5 60-bit hash (same
    * digit-fold as q41's oracle) so the ENTIRE audit — signatures,
    * banding, candidate join, exact truth — replays in the SQL oracle;
    * the engine-internal xxhash64 scheme (q40) has no SQL twin. Pair
    * truth comes from the q35-style global posting-list expansion (one
    * linear shuffle, never all-pairs — pairs sharing zero shingles have
    * j = 0 and candidate probability ≈ 0, so omitting them biases
    * nothing the audit tunes); candidates from the band-bucket
    * self-join. The audit join is truth ⟕ candidates on the pair key.
    *
    * Scale shape: signatures are one map pass (16 array_min folds);
    * banding explodes 8 rows/doc; both joins are equi-joins on bounded
    * buckets. At 100 TB the same audit runs on a stratified SAMPLE of
    * the corpus (recall curves are distribution-stable) — the dataflow
    * is unchanged.
    */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    // repartition before persist: the 16-hash signature pass below costs
    // 16 md5 folds per shingle (~10M hash evaluations at sf0.1) and would
    // otherwise run at the documents SCAN's single-split parallelism
    // (r10: 9.6 s wall on 15.6 s task time). Per-row value, layout-free.
    // Width = the session's own parallelism, not a literal core count
    // (ADVICE r10): on a cluster defaultParallelism tracks total cores.
    val sh = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), TextAnalysis.shingles3(col("toks")).as("sh"))
      .repartition(spark.sparkContext.defaultParallelism)
      .persist()
    // portable 16-hash signature: h_i = min over shingles of the 60-bit
    // md5 fold of "i:shingle"
    val sig = sh.select(col("doc_id"),
      transform(sequence(lit(0), lit(15)), i => array_min(transform(col("sh"),
        s => md5U60(concat(i.cast("string"), lit(":"), s))))).as("sig"))
    val banded = sig.select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, 7), b -> struct(sig[b*2] as h0, sig[b*2+1] as h1))")))
      .select(col("doc_id"), col("pos").as("band"),
        col("col.h0").as("h0"), col("col.h1").as("h1"))
    val cand = banded.select(col("band"), col("h0"), col("h1"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("h0"), col("h1"), col("doc_id").as("doc_b")),
        Seq("band", "h0", "h1"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // exact truth: global posting-list expansion, J >= 0.5
    val posts = sh.select(col("doc_id"), size(col("sh")).as("nsh"),
        explode(col("sh")).as("shingle"))
      .select(xxhash64(col("shingle")).as("shash"), col("doc_id"), col("nsh"))
    val grouped = posts.groupBy(col("shash"))
      .agg(collect_list(struct(col("doc_id"), col("nsh"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val truth = grouped.select(explode(
        graft.functions.PairExpandFunctions.pairExpand(col("ds"))).as("p"))
      .select(col("p.*"))
      .groupBy(col("doc_a"), col("doc_b"), col("nsh_a"), col("nsh_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("j", col("inter").cast("double") /
        (col("nsh_a") + col("nsh_b") - col("inter")))
    val out = truth
      .join(cand.withColumn("found", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket_lo",
        least(floor(col("j") * 10), lit(9L)).cast("double") / 10.0)
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum(coalesce(col("found"), lit(0L))).cast("bigint").as("n_found"))
      .withColumn("hit_rate",
        round(col("n_found").cast("double") / col("n_pairs"), 4))
      .orderBy(col("bucket_lo"))
    val materialized = out.cache()
    materialized.count()
    sh.unpersist()
    materialized
  }

  private val lshRecallAuditSql =
    s"""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(toks)-2),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      |  FROM t WHERE len(toks) >= 3
      |), sigs AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, 15), i ->
      |      list_min(list_transform(sh, x ->
      |        ${md5U60Sql("i::VARCHAR || ':' || x")}))) AS sig
      |  FROM s
      |), banded AS (
      |  SELECT doc_id, bb.band,
      |    sig[bb.band * 2 + 1] AS h0, sig[bb.band * 2 + 2] AS h1
      |  FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band) bb
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
      |  WHERE a.doc_id < b.doc_id
      |), post AS (
      |  SELECT doc_id, len(sh) AS nsh, unnest(sh) AS shingle FROM s
      |), truth AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    count(*)::DOUBLE / (a.nsh + b.nsh - count(*)) AS j
      |  FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.nsh, b.nsh
      |)
      |SELECT least(floor(j * 10), 9) / 10.0 AS bucket_lo,
      |  count(*)::BIGINT AS n_pairs,
      |  sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_found,
      |  round(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
      |        / count(*), 4) AS hit_rate
      |FROM truth LEFT JOIN cand c USING (doc_a, doc_b)
      |GROUP BY 1 ORDER BY bucket_lo""".stripMargin

  /** q206: cross-source duplication matrix — which pairs of SOURCES
    * publish identical documents? For every source pair sharing at
    * least one q34 fingerprint: the number of shared fingerprints and
    * the total documents involved on each side. This is the
    * provenance-level view of dedup (q34/q53/q184 profile WITHIN the
    * corpus; this localizes WHERE the duplication crosses source
    * boundaries — mirror sites, syndication, scraper overlap), which
    * decides whether dedup should run per-source or globally.
    *
    * Scale shape: one fingerprint aggregation to (fp, source,
    * n_docs) — partial map-side; the pair expansion is per-fingerprint
    * over its DISTINCT sources (≤ |sources|, a constant), never over
    * documents; the matrix is at most |sources|² rows.
    */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val fps = Tables.documents(spark, dir)
      .select(col("source"),
        md5(lower(substring(col("text"), 1, 100))).as("fp"))
      .groupBy(col("fp"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val a = fps.select(col("fp"), col("source").as("src_a"),
      col("n_docs").as("docs_a"))
    val b = fps.select(col("fp"), col("source").as("src_b"),
      col("n_docs").as("docs_b"))
    a.join(b, Seq("fp")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).cast("bigint").as("n_shared_fps"),
        sum(col("docs_a")).cast("bigint").as("n_docs_a"),
        sum(col("docs_b")).cast("bigint").as("n_docs_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val crossSourceDupsSql =
    """WITH fps AS (
      |  SELECT md5(lower(substr(text, 1, 100))) AS fp, source,
      |    count(*) AS n_docs
      |  FROM documents GROUP BY 1, 2
      |)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  count(*)::BIGINT AS n_shared_fps,
      |  sum(a.n_docs)::BIGINT AS n_docs_a,
      |  sum(b.n_docs)::BIGINT AS n_docs_b
      |FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
      |GROUP BY a.source, b.source
      |ORDER BY src_a, src_b""".stripMargin

  /** q285: Fellegi–Sunter probabilistic record linkage scoring — the
    * classical (1969 JASA) decision framework under every entity-
    * resolution system (Splink, dedupe.io): each candidate pair gets a
    * log-likelihood-ratio weight Σᵢ log(mᵢ/uᵢ) over agreeing fields
    * (log((1−mᵢ)/(1−uᵢ)) when disagreeing), then thresholds split
    * match / clerical-review / non-match. Candidates come from
    * deterministic blocking on (nation, mktsegment) — the FS
    * complement to q141's edit-distance blocking and q246's
    * Jaro–Winkler re-rank, which score SIMILARITY; FS turns field
    * agreements into calibrated decision weights. The field m/u
    * parameters are fixed literals (their log-odds pre-folded to exact
    * double literals so both engines add identical constants — no
    * cross-engine ln() drift), thresholds sit mid-gap between the 8
    * achievable weight sums.
    *
    * Scale shape: blocked self-join — pairs exist only within a
    * (nation, segment) shuffle bucket, never all-pairs; per-pair work
    * is a constant 3-field compare. Block-size skew would salt exactly
    * like q141 (same key family). Output is a 3-row decision readout.
    */
  def fellegiSunter(spark: SparkSession, dir: String): DataFrame = {
    // log(m/u) / log((1-m)/(1-u)) for (m=.9,u=.1), (m=.9,u=.1), (m=.95,u=.01)
    val (a1, d1) = (2.1972, -2.1972)
    val (a2, d2) = (2.1972, -2.1972)
    val (a3, d3) = (4.5539, -2.9857)
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("k"), col("c_nationkey").as("nk"),
      col("c_mktsegment").as("seg"),
      round(col("c_acctbal") * 100).cast("bigint").as("bal_c"))
    val l = c.columns.foldLeft(c)((d, cn) => d.withColumnRenamed(cn, cn + "_l"))
    val r = c.columns.foldLeft(c)((d, cn) => d.withColumnRenamed(cn, cn + "_r"))
    val scored = l.join(r,
      col("nk_l") === col("nk_r") && col("seg_l") === col("seg_r") &&
        col("k_l") < col("k_r"))
      .withColumn("w",
        when(floor(col("bal_c_l") / 50000) === floor(col("bal_c_r") / 50000),
          a1).otherwise(d1)
        + when(pmod(col("k_l"), lit(10)) === pmod(col("k_r"), lit(10)), a2)
          .otherwise(d2)
        + when(pmod(col("k_l"), lit(97)) === pmod(col("k_r"), lit(97)), a3)
          .otherwise(d3))
      .withColumn("decision",
        when(col("w") >= 4.0, lit("match"))
          .when(col("w") <= -2.0, lit("non_match"))
          .otherwise(lit("possible")))
    scored.groupBy(col("decision"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        round(avg(col("w")), 4).as("avg_w"),
        round(min(col("w")), 4).as("min_w"),
        round(max(col("w")), 4).as("max_w"))
      .orderBy(col("decision"))
  }

  private val fellegiSunterSql =
    """WITH c AS (
      |  SELECT c_custkey AS k, c_nationkey AS nk, c_mktsegment AS seg,
      |    round(c_acctbal * 100)::BIGINT AS bal_c
      |  FROM customer
      |), p AS (
      |  SELECT
      |    CASE WHEN floor(l.bal_c / 50000) = floor(r.bal_c / 50000)
      |      THEN 2.1972 ELSE -2.1972 END
      |    + CASE WHEN l.k % 10 = r.k % 10 THEN 2.1972 ELSE -2.1972 END
      |    + CASE WHEN l.k % 97 = r.k % 97 THEN 4.5539 ELSE -2.9857 END AS w
      |  FROM c l JOIN c r
      |    ON l.nk = r.nk AND l.seg = r.seg AND l.k < r.k
      |)
      |SELECT
      |  CASE WHEN w >= 4.0 THEN 'match'
      |       WHEN w <= -2.0 THEN 'non_match'
      |       ELSE 'possible' END AS decision,
      |  count(*)::BIGINT AS n_pairs,
      |  round(avg(w), 4) AS avg_w,
      |  round(min(w), 4) AS min_w,
      |  round(max(w), 4) AS max_w
      |FROM p
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q293: capture–recapture corpus-size estimation (Chapman 1951) —
    * the mark-recapture trick applied to dedup: treat two independent
    * "crawls" (here the even/odd doc_id halves) as captures of the
    * underlying CONTENT population (distinct text fingerprints);
    * the overlap m between the halves funds
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with its closed-form SE. This is how
    * a pipeline estimates "how many distinct documents exist out
    * there" from overlapping crawl snapshots WITHOUT deduping the
    * union — and, against the known truth here, how biased the
    * two-snapshot estimate is. All inputs are exact distinct counts;
    * the estimate is one final division.
    *
    * Scale shape: fingerprint + parity is a per-row map; n₁/n₂/m come
    * from ONE (fp)-keyed aggregation counting per-parity presence —
    * the same single-shuffle profile as q206's cross-source dups. No
    * pairwise joins anywhere.
    */
  def captureRecapture(spark: SparkSession, dir: String): DataFrame = {
    val caps = Tables.documents(spark, dir)
      .select(md5(col("text")).as("fp"),
        pmod(col("doc_id"), lit(2)).as("parity"))
      .groupBy(col("fp"))
      .agg(max(when(col("parity") === 0, 1).otherwise(0)).as("in_a"),
        max(when(col("parity") === 1, 1).otherwise(0)).as("in_b"))
    caps.agg(
        sum(col("in_a")).cast("bigint").as("n1"),
        sum(col("in_b")).cast("bigint").as("n2"),
        sum(col("in_a") * col("in_b")).cast("bigint").as("m"),
        count(lit(1)).cast("bigint").as("true_distinct"))
      .withColumn("chapman_est",
        round((col("n1") + 1).cast("double") * (col("n2") + 1)
          / (col("m") + 1) - 1, 4))
      .withColumn("se", round(sqrt(
        (col("n1") + 1).cast("double") * (col("n2") + 1)
          * (col("n1") - col("m")) * (col("n2") - col("m"))
          / ((col("m") + 1).cast("double") * (col("m") + 1) * (col("m") + 2))), 4))
      .withColumn("rel_bias", round(
        (col("chapman_est") - col("true_distinct")) / col("true_distinct"), 6))
  }

  private val captureRecaptureSql =
    """WITH caps AS (
      |  SELECT md5(text) AS fp,
      |    max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS in_a,
      |    max(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS in_b
      |  FROM documents GROUP BY md5(text)
      |), s AS (
      |  SELECT sum(in_a)::BIGINT AS n1, sum(in_b)::BIGINT AS n2,
      |    sum(in_a * in_b)::BIGINT AS m, count(*)::BIGINT AS true_distinct
      |  FROM caps
      |)
      |SELECT n1, n2, m, true_distinct,
      |  round((n1 + 1)::DOUBLE * (n2 + 1) / (m + 1) - 1, 4) AS chapman_est,
      |  round(sqrt((n1 + 1)::DOUBLE * (n2 + 1) * (n1 - m) * (n2 - m)
      |    / ((m + 1)::DOUBLE * (m + 1) * (m + 2))), 4) AS se,
      |  round((round((n1 + 1)::DOUBLE * (n2 + 1) / (m + 1) - 1, 4)
      |    - true_distinct) / true_distinct, 6) AS rel_bias
      |FROM s""".stripMargin

  /** q314: blocking-quality audit — the two numbers that justify any
    * blocking scheme (Christen 2012): reduction ratio
    * RR = 1 − |candidates|/|all pairs| (how much work blocking saves)
    * and pair completeness PC = |true pairs co-blocked|/|true pairs|
    * (how much recall it forfeits). Ground truth is the EXACT
    * Jaccard ≥ 0.5 near-dup pair set (q35's inverted-index kernel —
    * subquadratic, so even the truth side is 100 TB-shaped). Two
    * schemes audited: content blocking (lang × 100-char length band —
    * near-dups have similar length, so PC stays high at a large RR)
    * vs shard blocking (docs compared only within their doc-id
    * shard — the scheme an embarrassingly-parallel dedup implicitly
    * uses, and exactly why cross-shard dups leak until an
    * incremental pass (q68) runs).
    *
    * Scale shape: candidate counts come from Σ C(n,2) over block
    * sizes (never materialized); the truth relation is q35's
    * two-shuffle posting join; PC is one join of that small pair set
    * to the doc block keys. Linear-space audit of a quadratic
    * process.
    */
  def blockingAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("blk_content",
        concat_ws("|", col("lang"), expr("n_chars div 100")))
      .withColumn("blk_shard", expr("doc_id div 64").cast("string"))
    def pairsOf(c: Column): Column =
      ((c * (c - 1)).cast("long") / 2).cast("long")
    val truth = TextAnalysis.jaccardPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val truthKeyed = truth
      .join(docs.select(col("doc_id").as("doc_a"),
        col("blk_content").as("ca"), col("blk_shard").as("sa")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"),
        col("blk_content").as("cb"), col("blk_shard").as("sb")), Seq("doc_b"))
      .persist()
    // scalar denominators stay IN the plan as broadcast one-row
    // relations (VERDICT r8 #2: an eager docs.count() here ran a Spark
    // job at query-BUILD time, before the returned frame ever executed)
    val tot = docs.agg(count(lit(1)).cast("bigint").as("n_total"))
    val tcnt = truthKeyed.agg(count(lit(1)).cast("bigint").as("true_pairs"))
    def scheme(name: String, blkCol: String, aCol: String,
        bCol: String): DataFrame = {
      val cand = docs.groupBy(col(blkCol)).agg(count(lit(1)).as("n"))
        .agg(sum(pairsOf(col("n"))).as("cand"),
          count(lit(1)).as("n_blocks"))
      val cob = truthKeyed.agg(
        sum(when(col(aCol) === col(bCol), 1L).otherwise(0L)).as("tp"))
      cand.crossJoin(cob)
        .crossJoin(broadcast(tot)).crossJoin(broadcast(tcnt))
        .select(lit(name).as("scheme"),
          col("n_blocks").cast("bigint").as("n_blocks"),
          col("cand").cast("bigint").as("candidate_pairs"),
          round(lit(1.0) - col("cand")
            / (col("n_total").cast("double") * (col("n_total") - 1) / 2), 6)
            .as("reduction_ratio"),
          col("tp").cast("bigint").as("true_pairs_coblocked"),
          col("true_pairs"),
          round(col("tp").cast("double") / col("true_pairs"), 6)
            .as("pair_completeness"))
    }
    Materialize.releasing(
      scheme("content_lang_lenband", "blk_content", "ca", "cb")
        .unionByName(scheme("shard_docid_64", "blk_shard", "sa", "sb"))
        .orderBy(col("scheme")),
      truthKeyed)
  }

  private val blockingAuditSql =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
      |), s AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(generate_series(1, len(toks)-2),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      |  FROM t WHERE len(toks) >= 3
      |), p AS (
      |  SELECT doc_id, lang, len(sh) AS nsh, unnest(sh) AS shingle FROM s
      |), pr AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.nsh AS nsh_a, b.nsh AS nsh_b, count(*) AS inter
      |  FROM p a JOIN p b
      |    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |), truth AS (
      |  SELECT doc_a, doc_b FROM pr
      |  WHERE inter::DOUBLE / (nsh_a + nsh_b - inter) >= 0.5
      |), docs AS (
      |  SELECT doc_id,
      |    lang || '|' || (n_chars // 100)::VARCHAR AS blk_content,
      |    (doc_id // 64)::VARCHAR AS blk_shard
      |  FROM documents
      |), tot AS (
      |  SELECT count(*)::BIGINT AS n FROM docs
      |), tk AS (
      |  SELECT da.blk_content AS ca, db.blk_content AS cb,
      |    da.blk_shard AS sa, db.blk_shard AS sb
      |  FROM truth
      |  JOIN docs da ON da.doc_id = truth.doc_a
      |  JOIN docs db ON db.doc_id = truth.doc_b
      |), tcnt AS (
      |  SELECT count(*)::BIGINT AS tp_all FROM tk
      |), sc AS (
      |  SELECT 'content_lang_lenband' AS scheme, blk_content AS blk FROM docs
      |  UNION ALL SELECT 'shard_docid_64', blk_shard FROM docs
      |), cand AS (
      |  SELECT scheme, count(*)::BIGINT AS n_blocks,
      |    sum((n * (n - 1)) // 2)::BIGINT AS cand FROM (
      |    SELECT scheme, blk, count(*)::BIGINT AS n FROM sc
      |    GROUP BY scheme, blk)
      |  GROUP BY scheme
      |), cob AS (
      |  SELECT 'content_lang_lenband' AS scheme,
      |    coalesce(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END), 0)::BIGINT AS tp
      |  FROM tk
      |  UNION ALL
      |  SELECT 'shard_docid_64',
      |    coalesce(sum(CASE WHEN sa = sb THEN 1 ELSE 0 END), 0)::BIGINT
      |  FROM tk
      |)
      |SELECT c.scheme, c.n_blocks, c.cand AS candidate_pairs,
      |  round(1.0 - c.cand / (t.n::DOUBLE * (t.n - 1) / 2), 6)
      |    AS reduction_ratio,
      |  b.tp AS true_pairs_coblocked,
      |  tr.tp_all AS true_pairs,
      |  round(b.tp::DOUBLE / tr.tp_all, 6) AS pair_completeness
      |FROM cand c JOIN cob b USING (scheme)
      |CROSS JOIN tot t CROSS JOIN tcnt tr
      |ORDER BY c.scheme""".stripMargin

  /** q316: cross-shard dedup composite — acts on q314's finding. A
    * sharded corpus (the [[TextAnalysis.writeShards]] layout, the shape
    * an embarrassingly-parallel ingest produces) dedups in two passes:
    *  1. SHARD-LOCAL: exact near-dup pairs within each shard — no
    *     cross-shard traffic, each shard processable independently
    *     (on its own executor group, day, or cluster);
    *  2. GLOBAL CONTENT-BLOCKED: one cross-shard pass whose candidate
    *     key is (lang, 100-char length band) — q314's content blocking,
    *     the scheme whose pair completeness stays high at a large
    *     reduction ratio. This is q68's asymmetry generalized: the
    *     global pass exists precisely to catch what shard-locality
    *     forfeits, while the bulk of pair work stays shard-parallel.
    * Both passes run the q35 inverted-index kernel (subquadratic; the
    * block key simply extends the posting key), verify candidates with
    * exact Jaccard ≥ 0.5, and remove the larger doc_id of each verified
    * pair (greedy keep-min; q53's connected components is the
    * transitive upgrade when chains matter). The readout is the
    * before/after audit: per stage, pairs found, completeness vs the
    * unblocked truth set, and surviving docs — demonstrating that
    * shard_local ∪ global_content recovers content-blocking recall
    * (≈0.99 on this corpus) instead of shard recall (≈0.02, the q314
    * leak).
    *
    * Scale shape: the corpus is tokenized and shingle-hashed ONCE
    * (persisted, text dropped — the q36 discipline); each pass is two
    * linear hash-keyed shuffles; every stage stat is a broadcast
    * one-row relation, nothing driver-side. The truth relation exists
    * FOR THE GATE (like q245's exact twin): production runs only the
    * two passes — [[shardedDedupProduction]] (q321) is the benchmark
    * twin that times exactly that production path, which is why q316
    * itself stays out of the bench set.
    */
  /** Tokenized + shingle-hashed corpus with shard and length-band keys —
    * the shared first stage of q316 (gated composite) and q321 (the
    * production-only twin). Text is dropped before any shuffle.
    */
  private def shardedBase(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"),
        expr("doc_id div 64").cast("string").as("shard"),
        expr("n_chars div 100").cast("string").as("lenband"),
        TextAnalysis.shingleHashes3(col("toks")).as("shh"))

  /** One blocked near-dup pass over [[shardedBase]] rows: q35's
    * inverted-index kernel with the block key folded into the posting
    * key; exact-Jaccard-verified (doc_a, doc_b) pairs out.
    */
  private def shardedPass(base: DataFrame, blockKey: Column): DataFrame =
    TextAnalysis.jaccardPairsOnShingled(
      base.select(col("doc_id"), blockKey.as("lang"), col("shh")))
      .select(col("doc_a"), col("doc_b"))

  private val shardKey = concat_ws("#", col("lang"), col("shard"))
  private val contentKey = concat_ws("#", col("lang"), col("lenband"))

  def dedupAcrossShards(spark: SparkSession, dir: String): DataFrame = {
    val base = shardedBase(spark, dir).persist()
    def pass(blockKey: Column): DataFrame = shardedPass(base, blockKey)
    val shardP = pass(shardKey).persist()
    val contentP = pass(contentKey).persist()
    val unionP = shardP.unionByName(contentP).distinct().persist()
    val truthP = pass(col("lang")).persist()
    val nDocs = base.agg(count(lit(1)).cast("bigint").as("n_docs"))
    val nTruth = truthP.agg(count(lit(1)).cast("bigint").as("true_pairs"))
    def stage(name: String, pairs: DataFrame): DataFrame = {
      val found = pairs.agg(count(lit(1)).cast("bigint").as("pairs_found"))
      val removed = pairs.select(col("doc_b")).distinct()
        .agg(count(lit(1)).cast("bigint").as("n_removed"))
      found.crossJoin(broadcast(removed))
        .crossJoin(broadcast(nTruth)).crossJoin(broadcast(nDocs))
        .select(lit(name).as("stage"), col("pairs_found"), col("true_pairs"),
          // nullif: on a degenerate corpus with an empty truth set the
          // completeness ratio is NULL in both engines, not a div-0
          // artifact (VERDICT r9 #6); the DuckDB twin guards identically.
          round(col("pairs_found").cast("double") /
            nullif(col("true_pairs"), lit(0L)), 6)
            .as("pair_completeness"),
          (col("n_docs") - col("n_removed")).cast("bigint").as("survivors"))
    }
    Materialize.releasing(
      stage("1_shard_local", shardP)
        .unionByName(stage("2_global_content_pass", contentP))
        .unionByName(stage("3_composite_union", unionP))
        .orderBy(col("stage")),
      base, shardP, contentP, unionP, truthP)
  }

  private val dedupAcrossShardsSql =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, lang,
      |    (doc_id // 64)::VARCHAR AS shard,
      |    (n_chars // 100)::VARCHAR AS lenband,
      |    list_distinct(list_transform(generate_series(1, len(toks)-2),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      |  FROM t WHERE len(toks) >= 3
      |), p AS (
      |  SELECT doc_id, lang, len(sh) AS nsh, unnest(sh) AS shingle FROM s
      |), pr AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.nsh AS nsh_a, b.nsh AS nsh_b, count(*) AS inter
      |  FROM p a JOIN p b
      |    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |), truth AS (
      |  SELECT doc_a, doc_b FROM pr
      |  WHERE inter::DOUBLE / (nsh_a + nsh_b - inter) >= 0.5
      |), tk AS (
      |  SELECT tr.doc_a, tr.doc_b,
      |    ka.shard AS sa, kb.shard AS sb, ka.lenband AS la, kb.lenband AS lb
      |  FROM truth tr
      |  JOIN s ka ON ka.doc_id = tr.doc_a
      |  JOIN s kb ON kb.doc_id = tr.doc_b
      |), nd AS (
      |  SELECT count(*)::BIGINT AS n_docs FROM s
      |), nt AS (
      |  SELECT count(*)::BIGINT AS true_pairs FROM tk
      |), st AS (
      |  SELECT '1_shard_local' AS stage,
      |    count(*) FILTER (sa = sb)::BIGINT AS pairs_found,
      |    count(DISTINCT doc_b) FILTER (sa = sb)::BIGINT AS n_removed
      |  FROM tk
      |  UNION ALL
      |  SELECT '2_global_content_pass',
      |    count(*) FILTER (la = lb)::BIGINT,
      |    count(DISTINCT doc_b) FILTER (la = lb)::BIGINT
      |  FROM tk
      |  UNION ALL
      |  SELECT '3_composite_union',
      |    count(*) FILTER (sa = sb OR la = lb)::BIGINT,
      |    count(DISTINCT doc_b) FILTER (sa = sb OR la = lb)::BIGINT
      |  FROM tk
      |)
      |SELECT st.stage, st.pairs_found, nt.true_pairs,
      |  round(st.pairs_found::DOUBLE / nullif(nt.true_pairs, 0), 6)
      |    AS pair_completeness,
      |  (nd.n_docs - st.n_removed)::BIGINT AS survivors
      |FROM st CROSS JOIN nd CROSS JOIN nt
      |ORDER BY st.stage""".stripMargin

  /** q321: the PRODUCTION path of q316 — shard-local pass ∪ global
    * content-blocked pass, removals applied, surviving corpus out —
    * with the truth-set gate scaffolding excluded. q316 carries the
    * completeness audit (and therefore runs the unblocked truth join
    * inside the query, acceptable for a correctness gate but not a
    * thing to time); q321 is the benchmark twin that times exactly
    * what a 100 TB nightly run would execute: one shared
    * tokenize+shingle pass, two blocked posting joins, one distinct,
    * one anti join.
    */
  def shardedDedupProduction(spark: SparkSession, dir: String): DataFrame = {
    val base = shardedBase(spark, dir).persist()
    val removals = shardedPass(base, shardKey)
      .unionByName(shardedPass(base, contentKey))
      .select(col("doc_b").as("doc_id")).distinct()
    Materialize.releasing(
      base.join(removals, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
      base)
  }

  private val shardedDedupProductionSql =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, lang,
      |    (doc_id // 64)::VARCHAR AS shard,
      |    (n_chars // 100)::VARCHAR AS lenband,
      |    list_distinct(list_transform(generate_series(1, len(toks)-2),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      |  FROM t WHERE len(toks) >= 3
      |), p AS (
      |  SELECT doc_id, lang, shard, lenband, len(sh) AS nsh,
      |    unnest(sh) AS shingle
      |  FROM s
      |), pr AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.nsh AS nsh_a, b.nsh AS nsh_b,
      |    a.shard = b.shard AS same_shard, a.lenband = b.lenband AS same_band,
      |    count(*) AS inter
      |  FROM p a JOIN p b
      |    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  WHERE a.shard = b.shard OR a.lenband = b.lenband
      |  GROUP BY 1, 2, 3, 4, 5, 6
      |), removed AS (
      |  SELECT DISTINCT doc_b FROM pr
      |  WHERE (same_shard OR same_band)
      |    AND inter::DOUBLE / (nsh_a + nsh_b - inter) >= 0.5
      |)
      |SELECT doc_id, lang FROM s
      |WHERE doc_id NOT IN (SELECT doc_b FROM removed)
      |ORDER BY doc_id""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("q285_fellegi_sunter", fellegiSunter, Some(fellegiSunterSql)),
    QueryDef("q293_capture_recapture", captureRecapture,
      Some(captureRecaptureSql)),
    QueryDef("q314_blocking_audit", blockingAudit, Some(blockingAuditSql)),
    QueryDef("q316_dedup_across_shards", dedupAcrossShards,
      Some(dedupAcrossShardsSql)),
    QueryDef("q321_sharded_dedup_production", shardedDedupProduction,
      Some(shardedDedupProductionSql), benchmark = true),
    QueryDef("q40_minhash_lsh", minHashQuery, Some(minHashOracleSql), benchmark = true),
    QueryDef("q41_simhash", simHashQuery, Some(simHashOracleSql), benchmark = true),
    QueryDef("q53_dup_groups", dupGroupsQuery, Some(dupGroupsSql)),
    QueryDef("q141_blocked_lev_pairs", blockedLevPairs, Some(blockedLevPairsSql)),
    QueryDef("q246_jaro_winkler_rerank", jaroWinklerRerank,
      Some(jaroWinklerRerankSql)),
    QueryDef("q148_golden_record", goldenRecord, Some(goldenRecordSql)),
    QueryDef("q184_dup_cluster_profile", dupClusterProfile,
      Some(dupClusterProfileSql)),
    QueryDef("q197_lsh_recall_audit", lshRecallAudit, Some(lshRecallAuditSql)),
    QueryDef("q206_cross_source_dups", crossSourceDups, Some(crossSourceDupsSql)),
  )

}
