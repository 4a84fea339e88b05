package graft.operators

import graft.{Materialize, QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis surface for a large-scale training-data pipeline over the
  * `documents` table: token counting, vocabulary stats, quality scoring,
  * language-ID heuristic, document fingerprinting, n-gram Jaccard
  * similarity.
  *
  * All operators are pure Catalyst expressions (regexp/array/higher-order
  * functions) — no UDFs, so everything stays inside whole-stage codegen
  * and distributes embarrassingly: per-document work is map-side only;
  * shuffles appear only at the final aggregations and at the pair-join,
  * which is blocked (by `lang`) so it never goes quadratic in the corpus.
  */
object TextAnalysis extends QueryModule {

  /** Whitespace token count — one regexp pass, no array materialization. */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** Literal-space tokenization (corpus is single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** GPT-2-style pre-tokenizer pattern (contractions, letter runs,
    * digit runs, punctuation runs, whitespace) — RE2-compatible (no
    * lookarounds), so the Java-regex and oracle-regex token counts
    * agree. Approximates LLM token counts far better than whitespace
    * splitting (punctuation and digits tokenize separately).
    */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(bpePattern))

  /** Distinct word-trigram shingles of a token array (≥3 tokens assumed).
    * Custom one-pass expression [[graft.functions.WordNgrams]] — same
    * results as the builtin `array_distinct(transform(sequence...))`
    * form (TextAnalysisSpec pins the equivalence), ~6× faster: the
    * builtin form interprets element_at/concat_ws per position inside
    * the higher-order lambda.
    */
  def shingles3(toks: Column): Column =
    graft.functions.NgramFunctions.wordNgrams(toks, 3)

  /** Distinct trigram-shingle xxhash64 set — same shingles as
    * [[shingles3]] but emitted as 8-byte hashes (bit-identical to
    * `xxhash64(explode(shingles3(toks)))`), for consumers that only
    * group/join on the shingle. Skips string retention entirely.
    */
  def shingleHashes3(toks: Column): Column =
    graft.functions.NgramFunctions.wordNgramHashes(toks, 3)

  /** Per-language token statistics. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens", tokenCount(col("text")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("lang"))

  private val tokenStatsSql =
    """SELECT lang, count(*) AS n_docs,
      |  round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens,
      |  min(len(regexp_extract_all(text, '\S+')))::INT AS min_tokens,
      |  max(len(regexp_extract_all(text, '\S+')))::INT AS max_tokens,
      |  round(avg(n_chars), 4) AS avg_chars,
      |  sum(len(regexp_extract_all(text, '\S+')))::BIGINT AS total_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Vocabulary size per language (explode → distinct — the shuffle is on
    * (lang, word), so it scales with vocabulary, not corpus size).
    */
  def vocabulary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("word")).as("n_distinct_words"),
        count(lit(1)).as("total_words"))
      .orderBy(col("lang"))

  private val vocabularySql =
    """SELECT lang, count(DISTINCT w) AS n_distinct_words, count(*) AS total_words
      |FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  private val stopwordPattern = "\\b(the|a)\\b"

  /** Per-document quality signals (length, stopword ratio, mean word
    * length) folded into a [0,1] score; aggregated per source.
    * Score: length credit (saturating at 100 tokens) × non-stopword mass.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = tokenCount(col("text"))
    val wordChars = length(regexp_replace(col("text"), "\\s", ""))
    val stopHits = regexp_count(col("text"), lit(stopwordPattern))
    Tables.documents(spark, dir)
      .withColumn("n_tokens", nTokens)
      .withColumn("stop_ratio", stopHits / col("n_tokens").cast("double"))
      .withColumn("avg_word_len", wordChars / col("n_tokens").cast("double"))
      .withColumn("quality", least(col("n_tokens") / lit(100.0), lit(1.0)) * (lit(1.0) - col("stop_ratio")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("stop_ratio")), 4).as("avg_stop_ratio"),
        round(avg(col("avg_word_len")), 4).as("avg_word_len"),
        round(avg(col("quality")), 4).as("avg_quality"),
        round(min(col("quality")), 4).as("min_quality"))
      .orderBy(col("source"))
  }

  private val qualityScoreSql =
    """WITH d AS (
      |  SELECT source,
      |    len(regexp_extract_all(text, '\S+')) AS n_tokens,
      |    len(regexp_extract_all(text, '\b(the|a)\b')) AS stop_hits,
      |    length(regexp_replace(text, '\s', '', 'g')) AS word_chars
      |  FROM documents
      |), q AS (
      |  SELECT source,
      |    stop_hits::DOUBLE / n_tokens AS stop_ratio,
      |    word_chars::DOUBLE / n_tokens AS avg_word_len,
      |    least(n_tokens / 100.0, 1.0) * (1.0 - stop_hits::DOUBLE / n_tokens) AS quality
      |  FROM d)
      |SELECT source, count(*) AS n_docs,
      |  round(avg(stop_ratio), 4) AS avg_stop_ratio,
      |  round(avg(avg_word_len), 4) AS avg_word_len,
      |  round(avg(quality), 4) AS avg_quality,
      |  round(min(quality), 4) AS min_quality
      |FROM q GROUP BY source ORDER BY source""".stripMargin

  /** Stopword-hit counts per candidate language. */
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|and)\\b",
    "de" -> "\\b(der|die|das|und)\\b",
    "fr" -> "\\b(le|les|et|une)\\b",
    "es" -> "\\b(el|los|las|y)\\b",
    "zh" -> "[一-鿿]") // literal CJK range — portable to RE2

  /** Language-ID heuristic: marker-stopword hit counts per language,
    * argmax with a fixed preference order for ties. Compared against the
    * corpus `lang` labels (synthetic corpus → mostly 'en' guesses; the
    * query verifies the *operator*, determinism included, not the model).
    */
  /** The argmax-with-preference-order guess expression over `text`. */
  private def langGuess: Column = {
    val hits = langMarkers.map { case (l, p) => l -> regexp_count(col("text"), lit(p)) }
    hits.foldRight(lit("und"): Column) { case ((l, h), rest) =>
      val others = hits.filter(_._1 != l).map(_._2)
      when(h > 0 && h >= greatest(others: _*), lit(l)).otherwise(rest)
    }
  }

  def langId(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("lang_guess", langGuess)
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("lang_guess"))
  }

  private val langIdSql = {
    val hitExprs = langMarkers.map { case (l, p) =>
      s"len(regexp_extract_all(text, '$p')) AS ${l}_hits"
    }.mkString(",\n    ")
    val whens = langMarkers.map { case (l, _) =>
      val others = langMarkers.filter(_._1 != l).map(o => s"${o._1}_hits")
      s"WHEN ${l}_hits > 0 AND ${l}_hits >= greatest(${others.mkString(", ")}) THEN '$l'"
    }.mkString("\n      ")
    s"""WITH h AS (
       |  SELECT lang,
       |    $hitExprs
       |  FROM documents)
       |SELECT lang,
       |  CASE
       |      $whens
       |      ELSE 'und' END AS lang_guess,
       |  count(*) AS n_docs
       |FROM h GROUP BY 1, 2 ORDER BY lang, lang_guess""".stripMargin
  }

  /** q142: classifier QA — per-class precision / recall / F1 of the
    * language-ID heuristic against the corpus `lang` labels, the
    * eval-harness step that turns q33's confusion matrix into the
    * metrics a pipeline gates model (or heuristic) upgrades on.
    * F1 uses the confusion-matrix identity 2·TP/(labeled+guessed) so
    * every metric is one guarded division over exact integer counts.
    * Classes that are never guessed get NULL precision (not 0) —
    * undefined, per standard eval convention.
    *
    * Scale: one map-side guess pass + one (lang, guess) aggregation;
    * everything after operates on the |classes|² matrix.
    */
  def classifierPrf(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(spark, dir)
      .withColumn("g", langGuess)
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("n"))
      .persist() // |classes|^2 matrix, read by three derivations
    val labeled = m.groupBy(col("lang")).agg(sum(col("n")).as("n_labeled"))
      .withColumnRenamed("lang", "cls")
    val guessed = m.groupBy(col("g")).agg(sum(col("n")).as("n_guessed"))
      .withColumnRenamed("g", "cls")
    val tp = m.filter(col("lang") === col("g"))
      .select(col("lang").as("cls"), col("n").as("tp"))
    Materialize.releasing(
      labeled.join(guessed, Seq("cls"), "full_outer")
        .join(tp, Seq("cls"), "left")
        .select(col("cls"),
          coalesce(col("n_labeled"), lit(0L)).cast("bigint").as("n_labeled"),
          coalesce(col("n_guessed"), lit(0L)).cast("bigint").as("n_guessed"),
          coalesce(col("tp"), lit(0L)).cast("bigint").as("tp"))
        .withColumn("prec", when(col("n_guessed") > 0,
          round(col("tp").cast("double") / col("n_guessed"), 4)))
        .withColumn("rec", when(col("n_labeled") > 0,
          round(col("tp").cast("double") / col("n_labeled"), 4)))
        .withColumn("f1", when(col("n_labeled") + col("n_guessed") > 0,
          round(lit(2.0) * col("tp") / (col("n_labeled") + col("n_guessed")), 4)))
        .orderBy(col("cls")),
      m)
  }

  private val classifierPrfSql = {
    val hitExprs = langMarkers.map { case (l, p) =>
      s"len(regexp_extract_all(text, '$p')) AS ${l}_hits"
    }.mkString(",\n      ")
    val whens = langMarkers.map { case (l, _) =>
      val others = langMarkers.filter(_._1 != l).map(o => s"${o._1}_hits")
      s"WHEN ${l}_hits > 0 AND ${l}_hits >= greatest(${others.mkString(", ")}) THEN '$l'"
    }.mkString("\n        ")
    s"""WITH h AS (
       |  SELECT lang,
       |    CASE
       |        $whens
       |        ELSE 'und' END AS g
       |  FROM (
       |    SELECT lang,
       |      $hitExprs
       |    FROM documents)
       |), m AS (
       |  SELECT lang, g, count(*) AS n FROM h GROUP BY lang, g
       |), lab AS (
       |  SELECT lang AS cls, sum(n)::BIGINT AS n_labeled FROM m GROUP BY lang
       |), gss AS (
       |  SELECT g AS cls, sum(n)::BIGINT AS n_guessed FROM m GROUP BY g
       |), tp AS (
       |  SELECT lang AS cls, n::BIGINT AS tp FROM m WHERE lang = g
       |), j AS (
       |  SELECT coalesce(lab.cls, gss.cls) AS cls,
       |    coalesce(lab.n_labeled, 0)::BIGINT AS n_labeled,
       |    coalesce(gss.n_guessed, 0)::BIGINT AS n_guessed,
       |    coalesce(tp.tp, 0)::BIGINT AS tp
       |  FROM lab
       |  FULL OUTER JOIN gss ON lab.cls = gss.cls
       |  LEFT JOIN tp ON coalesce(lab.cls, gss.cls) = tp.cls
       |)
       |SELECT cls, n_labeled, n_guessed, tp,
       |  CASE WHEN n_guessed > 0
       |    THEN round(tp::DOUBLE / n_guessed, 4) END AS prec,
       |  CASE WHEN n_labeled > 0
       |    THEN round(tp::DOUBLE / n_labeled, 4) END AS rec,
       |  CASE WHEN n_labeled + n_guessed > 0
       |    THEN round(2.0::DOUBLE * tp / (n_labeled + n_guessed), 4) END AS f1
       |FROM j ORDER BY cls""".stripMargin
  }

  /** q232: Cohen's kappa — the chance-corrected agreement summary the
    * q33/q142 confusion-matrix family lacks: how much better than
    * random-marginal guessing does the lang-id heuristic agree with the
    * stored labels? κ = (n·Σtp − Σ_c row_c·col_c)/(n² − Σ_c row_c·col_c)
    * — one number the eval harness can gate on, reported with its
    * observed (p_o) and chance (p_e) agreement components.
    *
    * All operands are exact: the marginal cross products run in
    * DECIMAL(38,0) because at 100 TB (≈10¹² docs) n² ≈ 10²⁴ overflows
    * int64 (the q172/q230 hardening class); DuckDB mirrors in HUGEINT.
    * Scale shape: one map-side guess pass into a |classes|² matrix;
    * everything downstream is constant-size.
    */
  def cohenKappa(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(spark, dir)
      .withColumn("g", langGuess)
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("n"))
      .persist() // |classes|² matrix, read by three aggregates
    val tot = m.agg(
      sum(col("n")).as("n_all"),
      sum(when(col("lang") === col("g"), col("n")).otherwise(0L))
        .as("n_agree"))
    val byRow = m.groupBy(col("lang")).agg(sum(col("n")).as("n_row"))
    val byCol = m.groupBy(col("g")).agg(sum(col("n")).as("n_col"))
    val chance = byRow
      .join(byCol, col("lang") === col("g")) // classes absent on one side contribute 0
      .agg(coalesce(sum(col("n_row").cast("decimal(38,0)") * col("n_col")),
        lit(java.math.BigDecimal.ZERO)).as("s_rc"))
    Materialize.releasing(
      tot.crossJoin(chance)
        .withColumn("n_dec", col("n_all").cast("decimal(38,0)"))
        .withColumn("num", col("n_dec") * col("n_agree") - col("s_rc"))
        .withColumn("den", col("n_dec") * col("n_all") - col("s_rc"))
        .select(
          col("n_all").cast("bigint").as("n_docs"),
          col("n_agree").cast("bigint").as("n_agree"),
          round(col("n_agree").cast("double") / col("n_all"), 6).as("p_o"),
          round(col("s_rc").cast("double") /
            (col("n_dec") * col("n_all")).cast("double"), 6).as("p_e"),
          when(col("den") =!= 0,
            round(col("num").cast("double") / col("den").cast("double"), 6))
            .as("kappa")),
      m)
  }

  private val cohenKappaSql = {
    val hitExprs = langMarkers.map { case (l, p) =>
      s"len(regexp_extract_all(text, '$p')) AS ${l}_hits"
    }.mkString(",\n      ")
    val whens = langMarkers.map { case (l, _) =>
      val others = langMarkers.filter(_._1 != l).map(o => s"${o._1}_hits")
      s"WHEN ${l}_hits > 0 AND ${l}_hits >= greatest(${others.mkString(", ")}) THEN '$l'"
    }.mkString("\n        ")
    s"""WITH h AS (
       |  SELECT lang,
       |    CASE
       |        $whens
       |        ELSE 'und' END AS g
       |  FROM (
       |    SELECT lang,
       |      $hitExprs
       |    FROM documents)
       |), m AS (
       |  SELECT lang, g, count(*) AS n FROM h GROUP BY lang, g
       |), tot AS (
       |  SELECT sum(n)::HUGEINT AS n_all,
       |    sum(CASE WHEN lang = g THEN n ELSE 0 END)::HUGEINT AS n_agree
       |  FROM m
       |), rc AS (
       |  SELECT coalesce(sum(r.n_row::HUGEINT * c.n_col), 0)::HUGEINT AS s_rc
       |  FROM (SELECT lang, sum(n) AS n_row FROM m GROUP BY lang) r
       |  JOIN (SELECT g, sum(n) AS n_col FROM m GROUP BY g) c
       |    ON r.lang = c.g
       |)
       |SELECT n_all::BIGINT AS n_docs, n_agree::BIGINT AS n_agree,
       |  round(n_agree::DOUBLE / n_all, 6) AS p_o,
       |  round(s_rc::DOUBLE / (n_all * n_all)::DOUBLE, 6) AS p_e,
       |  CASE WHEN n_all * n_all - s_rc <> 0
       |    THEN round((n_all * n_agree - s_rc)::DOUBLE
       |               / (n_all * n_all - s_rc)::DOUBLE, 6) END AS kappa
       |FROM tot CROSS JOIN rc""".stripMargin
  }

  private val hhK = 199 // heavy hitter = frequency > n/(k+1) = n/200

  /** q143: exact heavy hitters by two-pass sketch-and-recount — the
    * scale-honest way to find tokens above a frequency threshold
    * (0.5% here) without shuffling the vocabulary:
    *  1. a Misra–Gries sketch (functions.MisraGriesAgg, a mergeable
    *     typed Aggregator) runs as ONE partial aggregation — each map
    *     task keeps ≤ 199 counters, only those cross the wire, and the
    *     MG guarantee says no token with true frequency > n/200 can be
    *     missing from the merged sketch;
    *  2. the ≤ 199 candidates broadcast back onto the token stream for
    *     an exact recount, and the exact threshold filter runs on true
    *     counts — so the result is EXACT, the sketch only pruned.
    * Compare q31/q67, which pay the full vocabulary shuffle because
    * they need every word; this path wins when only the hot tail
    * matters (stopword discovery, boilerplate tokens, mode detection).
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
    val sketch = words.as[String]
      .select(new graft.functions.MisraGriesAgg(hhK).toColumn.name("sketch"))
      .select(explode(map_keys(col("sketch"))).as("w"))
    val totals = words.agg(count(lit(1)).as("n_total"))
    words.join(broadcast(sketch), Seq("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt") * (hhK + 1) > col("n_total"))
      .select(col("w"), col("cnt").cast("bigint").as("cnt"),
        col("n_total").cast("bigint").as("n_total"))
      .orderBy(col("cnt").desc, col("w"))
  }

  private val heavyHittersSql =
    s"""WITH words AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
       |), tot AS (
       |  SELECT count(*)::BIGINT AS n_total FROM words
       |)
       |SELECT w, count(*)::BIGINT AS cnt, tot.n_total
       |FROM words CROSS JOIN tot
       |GROUP BY w, tot.n_total
       |HAVING count(*) * ${hhK + 1} > tot.n_total
       |ORDER BY cnt DESC, w""".stripMargin

  /** Document fingerprinting: md5 of the normalized 100-char prefix →
    * exact-prefix duplicate groups (group size + representative doc).
    */
  def fingerprintGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("fp", md5(lower(substring(col("text"), 1, 100))))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy(col("fp"))

  private val fingerprintGroupsSql =
    """SELECT md5(lower(substr(text, 1, 100))) AS fp,
      |  count(*) AS n_docs, min(doc_id) AS keep_doc_id
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** Exact n-gram-Jaccard near-duplicate pairs, blocked by language.
    *
    * Scale design: NOT an all-pairs join. Each document's distinct
    * shingle set is exploded into an inverted index (one row per
    * (lang, shingle-hash, doc)); a self-join on the posting key yields
    * each co-occurring pair once per shared shingle, so
    * `count(*) group by pair` IS the exact intersection size, and
    * |A∪B| = |A|+|B|−|A∩B| finishes Jaccard without ever materializing
    * pair × array. Cost is Σ_s df(s)² over shingles — linear-ish for
    * natural text where shingles are near-unique — vs. Σ_block n² for
    * the block join. Shingles are joined by xxhash64 (8-byte shuffle
    * key instead of ~25-byte strings); a cross-shingle collision would
    * need two distinct shingles of the same doc pair to collide in
    * 2^64 — negligible.
    */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsOn(Tables.documents(spark, dir))

  /** Same operator over any (doc_id, lang, text) set.
    *
    * Plan shape (one pass, two shuffles, no sort, no self-join):
    *  1. explode shingles → postings (lang, shash, doc_id, nsh);
    *  2. ONE shuffle: group postings by shingle, collecting the sorted
    *     doc list — df=1 shingles die here (size < 2), which is exact
    *     since a single-doc shingle can't contribute to any pair;
    *  3. expand each posting list into its C(df,2) ordered doc pairs
    *     with an array expression (no join — the list is local);
    *  4. ONE shuffle: count pair occurrences = exact |A∩B|, then
    *     |A∪B| = nsh_a + nsh_b − |A∩B| finishes Jaccard.
    * The earlier formulation computed df with a count() window (a full
    * sorted shuffle) and then self-joined the pruned postings (two more
    * full-volume shuffles); this shape moves strictly less data and
    * never sorts. Cost remains Σ_s df(s)² pair expansions — inherent to
    * exact sparse Jaccard. At 100 TB a natural-language corpus needs the
    * standard high-df guard (cap df for non-discriminative shingles, or
    * MinHash-banded candidates + exact verify); at the tested scales all
    * dfs are small and the output is exact, matching the all-pairs
    * oracle.
    */
  def jaccardPairsOn(input: DataFrame, maxDf: Option[Int] = None): DataFrame =
    jaccardPairsOnShingled(
      input
        .withColumn("toks", tokens(col("text")))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), col("lang"),
          shingleHashes3(col("toks")).as("shh")),
      maxDf)

  /** Same operator over a pre-shingled (doc_id, lang, shh: array<long>)
    * relation — the seam composites (q36) use so a corpus tokenized and
    * shingled once upstream (e.g. inside a persisted dedup relation)
    * never pays the split/ngram pass twice. `shh` is the distinct
    * shingle-hash set ([[shingleHashes3]]); |shh| IS the shingle-set
    * cardinality, so Jaccard needs nothing else from the text.
    */
  def jaccardPairsOnShingled(docs: DataFrame, maxDf: Option[Int] = None): DataFrame = {
    val posts = docs.select(col("doc_id"), col("lang"), size(col("shh")).as("nsh"),
      explode(col("shh")).as("shash"))
      .select(col("lang"), col("shash"), col("doc_id"), col("nsh"))
    // maxDf: the 100 TB boilerplate guard — drop shingles shared by more
    // than maxDf docs before pair expansion. Such shingles ("one of the")
    // are non-discriminative: each adds ≤1 to every affected pair's
    // intersection while costing df² expansions and an O(df) in-memory
    // posting list. Off (None) = exact, matching the all-pairs oracle;
    // capped = Jaccard is under-counted by at most (dropped shingles
    // shared)/(union), a bounded, documented approximation.
    val grouped = posts.groupBy(col("lang"), col("shash"))
      .agg(collect_list(struct(col("doc_id"), col("nsh"))).as("ds"))
      .filter(size(col("ds")) >= 2 &&
        maxDf.map(k => size(col("ds")) <= k).getOrElse(lit(true)))
    // each doc appears at most once per posting (shingle sets are
    // distinct per doc); the codegen'd kernel sorts and emits pairs
    // with doc_a < doc_b in one pass
    val pairs = grouped.select(explode(
        graft.functions.PairExpandFunctions.pairExpand(col("ds"))).as("p"))
      .select(col("p.*"))
    pairs
      .groupBy(col("doc_a"), col("doc_b"), col("nsh_a"), col("nsh_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("nsh_a") + col("nsh_b") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // Oracle in the SAME subquadratic posting-join shape the engine uses
  // (unnest → equi-join on (lang, shingle) → count = |A∩B|): the naive
  // all-pairs list_intersect form is O(n²·|sh|) and exceeds 600 s at
  // sf0.1, which kept this query out of the cross-scale sweep. The two
  // formulations are proven equivalent by TextAnalysisSpec's
  // "inverted-index equals all-pairs block join" test, so independence
  // of the check is preserved by the spec, not the SQL.
  private val jaccardPairsSql =
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
      |)
      |SELECT doc_a, doc_b,
      |  round(inter::DOUBLE / (nsh_a + nsh_b - inter), 4) AS jaccard
      |FROM pr WHERE inter::DOUBLE / (nsh_a + nsh_b - inter) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q176: containment pairs — the ASYMMETRIC near-dup detector Jaccard
    * misses: a short document fully embedded in a long one has tiny
    * Jaccard (union is dominated by the long doc) but containment
    * C(A⊆B) = |sh(A)∩sh(B)| / |sh(A)| ≈ 1. This is the standard quote/
    * boilerplate/subset-document signal in corpus curation. Candidate
    * generation and intersection counting reuse q35's inverted-index
    * kernel (explode → posting lists → local pair expansion → pair
    * count: two shuffles, no self-join, df≥2 pruning exact); only the
    * final scoring differs — each unordered pair scores both directions
    * and reports the contained side. Emitted at C ≥ 0.6 with doc_small
    * = the contained document (ties break to the smaller id).
    *
    * Scale: identical profile to q35 — Σ_s df(s)² pair expansions, with
    * the same documented high-df guard available via jaccardPairsOn's
    * maxDf seam.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"), shingles3(col("toks")).as("sh"))
    val posts = docs.select(col("doc_id"), col("lang"),
      size(col("sh")).as("nsh"), explode(col("sh")).as("shingle"))
      .select(col("lang"), xxhash64(col("shingle")).as("shash"),
        col("doc_id"), col("nsh"))
    val grouped = posts.groupBy(col("lang"), col("shash"))
      .agg(collect_list(struct(col("doc_id"), col("nsh"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    val pairs = grouped.select(explode(
        graft.functions.PairExpandFunctions.pairExpand(col("ds"))).as("p"))
      .select(col("p.*"))
    pairs
      .groupBy(col("doc_a"), col("doc_b"), col("nsh_a"), col("nsh_b"))
      .agg(count(lit(1)).as("inter"))
      // contained side = the smaller shingle set (ties → smaller id)
      .withColumn("small_is_a",
        col("nsh_a") < col("nsh_b") ||
          (col("nsh_a") === col("nsh_b") && col("doc_a") < col("doc_b")))
      .select(
        when(col("small_is_a"), col("doc_a")).otherwise(col("doc_b"))
          .as("doc_small"),
        when(col("small_is_a"), col("doc_b")).otherwise(col("doc_a"))
          .as("doc_big"),
        (col("inter").cast("double") /
          least(col("nsh_a"), col("nsh_b"))).as("containment"))
      .filter(col("containment") >= 0.6)
      .select(col("doc_small"), col("doc_big"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("doc_small"), col("doc_big"))
  }

  // Posting-join oracle (see jaccardPairsSql's note): subquadratic, so
  // the sf0.1 sweep can replay it; equivalence with the all-pairs form
  // is spec-pinned.
  private val containmentPairsSql =
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
      |)
      |SELECT
      |  CASE WHEN nsh_a < nsh_b OR (nsh_a = nsh_b AND doc_a < doc_b)
      |       THEN doc_a ELSE doc_b END AS doc_small,
      |  CASE WHEN nsh_a < nsh_b OR (nsh_a = nsh_b AND doc_a < doc_b)
      |       THEN doc_b ELSE doc_a END AS doc_big,
      |  round(inter::DOUBLE / least(nsh_a, nsh_b), 4) AS containment
      |FROM pr WHERE inter::DOUBLE / least(nsh_a, nsh_b) >= 0.6
      |ORDER BY doc_small, doc_big""".stripMargin

  /** q154: set-similarity join by PREFIX FILTERING (the PPJoin/AllPairs
    * candidate scheme) — the second exact join-reduction strategy next
    * to q35's full inverted index: order every document's shingles by
    * ascending global document frequency (rarest first, ties by hash),
    * post ONLY the first |sh| − ⌈t·|sh|⌉ + 1 shingles, and join on
    * those. The prefix lemma guarantees any pair with Jaccard ≥ t
    * shares a prefix shingle (per-set α = ⌈t·|shᵢ|⌉ only lengthens the
    * lemma's prefix, so recall is exact); candidates then verify with
    * exact Jaccard on the full sets.
    *
    * Why it matters at 100 TB: posting volume drops from Σ|sh| to
    * Σ(0.6·|sh|+1) and — decisively — pair expansion happens only on
    * RARE shingles, so the Σdf² blowup concentrates where df is small
    * by construction. Threshold t = 0.4 (vs q35's 0.5) so the two
    * operators' outputs differ.
    *
    * Verification counts shared shingle HASHES per candidate pair (the
    * q35 posting-count kernel restricted to candidates: |A∩B| = count
    * of equal xxhash64s, |A∪B| = nsh_a + nsh_b − |A∩B|; same 2^-64
    * collision stance as q35) instead of joining the string-shingle
    * arrays back onto each pair — the array plan shuffled ~KB rows
    * that AQE coalesced into ONE task doing every array_intersect
    * serially (r10 measured: 12.1 s task time ≈ 11.5 s wall on 32
    * cores; the counting verify is all-long, codegen'd, and fully
    * parallel — 11.5 → ~2 s).
    */
  def prefixFilterPairs(spark: SparkSession, dir: String): DataFrame = {
    val posts = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"), shingleHashes3(col("toks")).as("shh"))
      .select(col("doc_id"), col("lang"), size(col("shh")).as("nsh"),
        explode(col("shh")).as("shash"))
      .persist() // read by df table, prefix ranking, and verification ×2
    val dfTab = posts.groupBy(col("shash")).agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("shash"))
    // prefix length for t = 0.4: nsh - ceil(0.4*nsh) + 1, all integer
    val prefix = posts.join(dfTab, Seq("shash"))
      .withColumn("rn", row_number().over(wDoc))
      .filter(expr("rn <= nsh - ((2 * nsh + 4) div 5) + 1"))
    val cands = prefix.groupBy(col("lang"), col("shash"))
      .agg(collect_list(struct(col("doc_id"), col("nsh"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(
        graft.functions.PairExpandFunctions.pairExpand(col("ds"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.nsh_a"), col("p.nsh_b"))
      .distinct()
    val pHash = posts.select(col("doc_id"), col("shash"))
    Materialize.releasing(
      cands
        .join(pHash.toDF("doc_a", "shash"), Seq("doc_a"))
        .join(pHash.toDF("doc_b", "shash"), Seq("doc_b", "shash"))
        .groupBy(col("doc_a"), col("doc_b"), col("nsh_a"), col("nsh_b"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("nsh_a") + col("nsh_b") - col("inter")))
        .filter(col("jaccard") >= 0.4)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b")),
      posts)
  }

  private val prefixFilterPairsSql =
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
      |), s AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(generate_series(1, len(toks)-2),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      |  FROM t WHERE len(toks) >= 3
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.sh, b.sh))::DOUBLE
      |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
      |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
      |ORDER BY doc_a, doc_b""".stripMargin

  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** q159: BM25 scoring — the lexical-retrieval baseline (tf saturation
    * via k1, length normalization via b) that completes the ranking
    * stack next to q67's TF-IDF and the embedding-space searches
    * (q42/q43/q45). The "query" is the corpus's own top-3 words by
    * frequency (deterministic, tie→word), standing in for a user query.
    * idf = ln(1 + (N−df+0.5)/(df+0.5)) so scores stay positive.
    *
    * Scale shape: the query-term table is k rows → broadcast; the
    * corpus contributes one map pass (tokenize, filter to query terms,
    * tf per doc-term) and a doc-keyed partial aggregation; the final
    * top-20 is a TakeOrderedAndProject. Corpus stats (N, avg length)
    * ride along as a broadcast single-row cross join.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("len", size(col("toks")))
      .persist() // scanned by stats, query terms, and scoring
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      avg(col("len").cast("double")).as("avglen"))
    val words = docs.select(col("doc_id"), col("len"),
      explode(col("toks")).as("w"))
    val queryTerms = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(3).select(col("w"))
    val df = words.join(broadcast(queryTerms), Seq("w"))
      .groupBy(col("w")).agg(count_distinct(col("doc_id")).as("df"))
    val tf = words.join(broadcast(queryTerms), Seq("w"))
      .groupBy(col("doc_id"), col("len"), col("w")).agg(count(lit(1)).as("tf"))
    Materialize.releasing(
      tf.join(broadcast(df), Seq("w"))
        .crossJoin(broadcast(stats))
        .withColumn("idf",
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
        .withColumn("s", col("idf") * col("tf") * lit(bm25K1 + 1) /
          (col("tf") + lit(bm25K1) *
            (lit(1.0) - bm25B + lit(bm25B) * col("len") / col("avglen"))))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("s")), 4).as("bm25"), count(lit(1)).as("n_terms_hit"))
        .select(col("doc_id"), col("n_terms_hit").cast("bigint").as("n_terms_hit"),
          col("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(20),
      docs)
  }

  private val bm25Sql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS len
       |  FROM documents
       |), stats AS (
       |  SELECT count(*)::BIGINT AS n_docs, avg(len::DOUBLE) AS avglen FROM d
       |), words AS (
       |  SELECT doc_id, len, unnest(toks) AS w FROM d
       |), qt AS (
       |  SELECT w FROM words GROUP BY w ORDER BY count(*) DESC, w LIMIT 3
       |), dfx AS (
       |  SELECT w, count(DISTINCT doc_id)::BIGINT AS df
       |  FROM words JOIN qt USING (w) GROUP BY w
       |), tf AS (
       |  SELECT doc_id, len, w, count(*)::BIGINT AS tf
       |  FROM words JOIN qt USING (w) GROUP BY doc_id, len, w
       |), scored AS (
       |  SELECT tf.doc_id,
       |    ln(1.0::DOUBLE + (stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
       |      * tf.tf * ($bm25K1 + 1) /
       |      (tf.tf + $bm25K1 * (1.0::DOUBLE - $bm25B + $bm25B * tf.len / stats.avglen))
       |      AS s
       |  FROM tf JOIN dfx USING (w) CROSS JOIN stats
       |)
       |SELECT doc_id, count(*)::BIGINT AS n_terms_hit,
       |  round(sum(s), 4) AS bm25
       |FROM scored GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** q162: word burstiness — the Fano factor (variance-to-mean ratio of
    * per-document counts, zeros included) of the corpus's top-20 words:
    * VMR ≈ 1 means Poisson scatter; VMR ≫ 1 flags bursty/templated
    * words concentrated in few documents — a boilerplate signal that
    * pure frequency (q31) misses. Population variance from exact
    * integer Σx and Σx² over the (word, doc) count table; zero-docs
    * enter through the corpus-wide N, never materialized.
    */
  def wordBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val perDoc = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("x"))
    perDoc.groupBy(col("w"))
      .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        count(lit(1)).as("n_docs_hit"))
      .crossJoin(broadcast(nDocs))
      .withColumn("mean", col("sx").cast("double") / col("n_docs"))
      .withColumn("vmr",
        (col("sxx").cast("double") / col("n_docs") - col("mean") * col("mean"))
          / col("mean"))
      .select(col("w"), col("sx").cast("bigint").as("count"),
        col("n_docs_hit").cast("bigint").as("n_docs_hit"),
        round(col("vmr"), 4).as("fano_vmr"))
      .orderBy(col("count").desc, col("w"))
      .limit(20)
  }

  private val wordBurstinessSql =
    """WITH nd AS (
      |  SELECT count(*)::BIGINT AS n_docs FROM documents
      |), per_doc AS (
      |  SELECT w, doc_id, count(*)::BIGINT AS x FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w, doc_id
      |), agg AS (
      |  SELECT w, sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
      |    count(*)::BIGINT AS n_docs_hit
      |  FROM per_doc GROUP BY w
      |), v AS (
      |  SELECT w, sx, n_docs_hit,
      |    (sxx::DOUBLE / n_docs - (sx::DOUBLE / n_docs) * (sx::DOUBLE / n_docs))
      |      / (sx::DOUBLE / n_docs) AS vmr
      |  FROM agg CROSS JOIN nd
      |)
      |SELECT w, sx AS count, n_docs_hit, round(vmr, 4) AS fano_vmr
      |FROM v ORDER BY count DESC, w LIMIT 20""".stripMargin

  /** q165: keyword-in-context (KWIC) — every occurrence of the corpus's
    * most frequent word with a ±2-token context window, the concordance
    * view linguists and data-quality reviewers use to inspect how a
    * term is actually used. Map-only after the tiny broadcast of the
    * term: posexplode → filter → slice; positions are 1-based to match
    * SQL array indexing.
    */
  def kwic(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val term = docs.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(1).select(col("w").as("term"))
    docs.crossJoin(broadcast(term))
      .select(col("doc_id"), col("term"), col("toks"),
        size(col("toks")).as("n"), posexplode(col("toks")))
      .filter(col("col") === col("term"))
      .withColumn("pos", (col("pos") + 1).cast("int"))
      .select(col("doc_id"), col("pos"), col("term"),
        concat_ws(" ", expr(
          "slice(toks, greatest(pos - 2, 1), least(pos + 2, n) - greatest(pos - 2, 1) + 1)"))
          .as("context"))
      .orderBy(col("doc_id"), col("pos"))
  }

  private val kwicSql =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), term AS (
      |  SELECT w AS term FROM (
      |    SELECT unnest(toks) AS w FROM d)
      |  GROUP BY w ORDER BY count(*) DESC, w LIMIT 1
      |), hits AS (
      |  SELECT doc_id, i AS pos, term, toks, len(toks) AS n
      |  FROM d CROSS JOIN term,
      |    unnest(generate_series(1, len(toks))) AS t(i)
      |  WHERE toks[i] = term
      |)
      |SELECT doc_id, pos::INT AS pos, term,
      |  array_to_string(toks[greatest(pos - 2, 1):least(pos + 2, n)], ' ') AS context
      |FROM hits ORDER BY doc_id, pos""".stripMargin

  /** End-to-end training-data corpus preparation — the composite a
    * 100 TB pipeline runs nightly, chaining the individual operators:
    *  1. quality gate: ≥10 tokens and quality score ≥ 0.3 (q32 scoring);
    *  2. exact dedup: md5 prefix fingerprint, keep min doc_id (q34);
    *  3. near-dup removal: exact-Jaccard pair graph → connected
    *     components → keep only group representatives (q35 + q53).
    * Returns the surviving corpus as (doc_id, lang, n_tokens).
    * Every stage is individually oracle-checked; q36 checks the
    * composition.
    */
  def corpusPrep(input: DataFrame): DataFrame = {
    // ONE map pass computes everything any later stage needs from the
    // text — token count, quality, dedup fingerprint, shingle-hash set
    // — and then drops the text before the first shuffle. Every
    // downstream stage moves (doc_id, lang, n_tokens, fp|shh) rows:
    // the wide string never shuffles, and tokenize/shingle is paid
    // exactly once (shh feeds candidate generation via
    // jaccardPairsOnShingled; n_tokens ≥ 10 guarantees ≥ 3 tokens, so
    // the pair stage's usual short-doc filter is subsumed by the gate).
    val scored = input
      .withColumn("n_tokens", tokenCount(col("text")))
      .withColumn("stop_ratio",
        regexp_count(col("text"), lit(stopwordPattern)) / col("n_tokens").cast("double"))
      .withColumn("quality",
        least(col("n_tokens") / lit(100.0), lit(1.0)) * (lit(1.0) - col("stop_ratio")))
      .filter(col("n_tokens") >= 10 && col("quality") >= 0.3)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        md5(lower(substring(col("text"), 1, 100))).as("fp"),
        shingleHashes3(tokens(col("text"))).as("shh"))
    // The persist boundary sits at SCORED, not at the dedup output:
    // the one-map-pass projection above (two regexps, an md5, the
    // shingle kernel) is the expensive per-row work, and without a
    // boundary Catalyst's filter/project collapse re-expands those
    // expressions into every consumer (the quality filter references
    // n_tokens four times through stop_ratio/quality, so the inline
    // map stage measured 6× its isolated cost at sf0.1). Caching the
    // post-gate rows — (id, lang, n_tokens, fp, shh), the text already
    // dropped — makes every downstream stage read 8-byte-hash arrays
    // from storage instead of re-running regexps over text.
    val scoredP = scored.persist()
    // Exact dedup keep-min-doc_id as min(struct(doc_id, ...)) — a
    // DECLARATIVE (codegen'd) aggregate whose struct ordering
    // short-circuits on the leading doc_id (unique per row), so the
    // shingle array is never compared and is copied at most once per
    // surviving group; map-side-combining on fp, one exchange.
    // Equivalent to min_by(..., doc_id) — doc_id leads the struct —
    // without min_by's TypedImperativeAggregate buffer ser/de per
    // input row. From the cached scoredP this aggregate costs ~0.2 s
    // at sf0.1, so it is NOT persisted: its two consumers (pair graph,
    // final anti join) just run it twice from cache, which is cheaper
    // than a second cache-materialization pass.
    val exactDeduped = scoredP
      .groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_tokens"), col("shh"))).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.lang").as("lang"),
        col("d.n_tokens").as("n_tokens"), col("d.shh").as("shh"))
    val groups = Dedup.dupGroups(
      jaccardPairsOnShingled(exactDeduped.select(col("doc_id"), col("lang"), col("shh"))))
    // Keep a doc unless it is a non-representative group member. The
    // removal set (members minus representatives) is O(near-dups) —
    // tiny relative to the corpus — so phrasing the final step as an
    // anti join lets AQE broadcast it and the surviving corpus never
    // shuffles; the previous left-join-then-filter phrasing shuffled
    // both sides.
    val removals = groups.filter(col("group_id") =!= col("doc_id")).select(col("doc_id"))
    Materialize.releasing(
      exactDeduped.join(removals, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .orderBy(col("doc_id")),
      scoredP)
  }

  def corpusPrepQuery(spark: SparkSession, dir: String): DataFrame =
    corpusPrep(Tables.documents(spark, dir))

  private val corpusPrepSql =
    """WITH RECURSIVE scored AS (
      |  SELECT doc_id, lang, text,
      |    len(regexp_extract_all(text, '\S+')) AS n_tokens,
      |    len(regexp_extract_all(text, '\b(the|a)\b')) AS stop_hits
      |  FROM documents
      |), kept AS (
      |  SELECT doc_id, lang, text, n_tokens
      |  FROM scored
      |  WHERE n_tokens >= 10
      |    AND least(n_tokens / 100.0, 1.0) * (1.0 - stop_hits::DOUBLE / n_tokens) >= 0.3
      |), exact_dedup AS (
      |  SELECT doc_id, lang, text, n_tokens
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY md5(lower(substr(text, 1, 100)))
      |          ORDER BY doc_id) AS rn
      |        FROM kept) z
      |  WHERE rn = 1
      |), s AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(
      |      generate_series(1, len(string_split(text, ' '))-2),
      |      i -> concat_ws(' ', string_split(text, ' ')[i],
      |           string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS sh
      |  FROM exact_dedup WHERE len(string_split(text, ' ')) >= 3
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
      |), groups AS (
      |  SELECT id AS doc_id, min(label) AS group_id FROM reach GROUP BY id
      |)
      |SELECT d.doc_id, d.lang, d.n_tokens::INT AS n_tokens
      |FROM exact_dedup d LEFT JOIN groups g ON d.doc_id = g.doc_id
      |WHERE g.group_id IS NULL OR g.group_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q251: unigram-LM perplexity scoring — the model-based quality
    * signal (CCNet-style) that length/stopword heuristics (q32) miss:
    * score each document by its cross-entropy under the corpus's own
    * unigram distribution, H(d) = −Σ ln p(w) / |d|, and surface the 20
    * most surprising documents (highest perplexity = off-distribution:
    * boilerplate in another register, encoding junk, topic outliers).
    * In a production curation pipeline the unigram table comes from a
    * trusted reference corpus; here the corpus is its own reference,
    * which makes the operator self-contained and the oracle exact.
    *
    * Scale shape: one explode pass → vocabulary-keyed aggregation (the
    * freq table is O(vocab), not O(corpus)) → postings join back on
    * word (AQE broadcasts the freq table when small; hash join on the
    * vocabulary key otherwise) → doc-keyed partial aggregation. The
    * grand total rides along as a broadcast single-row cross join.
    */
  def unigramPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
    val freq = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = freq.agg(sum(col("c")).as("total"))
    Materialize.releasing(
      words.join(freq, Seq("w"))
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_tokens"),
          sum(log(col("total").cast("double") / col("c"))).as("sum_h"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("sum_h") / col("n_tokens"), 4).as("cross_entropy"),
          round(exp(col("sum_h") / col("n_tokens")), 4).as("ppl"))
        .orderBy(col("ppl").desc, col("doc_id"))
        .limit(20))
  }

  private val unigramPerplexitySql =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |), freq AS (
      |  SELECT w, count(*)::BIGINT AS c FROM words GROUP BY w
      |), tot AS (
      |  SELECT sum(c)::BIGINT AS total FROM freq
      |), scored AS (
      |  SELECT doc_id, count(*)::BIGINT AS n_tokens,
      |    sum(ln(tot.total::DOUBLE / freq.c)) AS sum_h
      |  FROM words JOIN freq USING (w) CROSS JOIN tot
      |  GROUP BY doc_id
      |)
      |SELECT doc_id, n_tokens,
      |  round(sum_h / n_tokens, 4) AS cross_entropy,
      |  round(exp(sum_h / n_tokens), 4) AS ppl
      |FROM scored ORDER BY ppl DESC, doc_id LIMIT 20""".stripMargin

  /** q37: whitespace vs BPE-ish token counts per source — the
    * token-budget accounting a training pipeline runs over every shard.
    */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws_tokens", tokenCount(col("text")))
      .withColumn("bpe_tokens", bpeTokenCount(col("text")))
      .groupBy(col("source"))
      .agg(
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpe_tokens")).as("total_bpe_tokens"),
        round(avg(col("bpe_tokens").cast("double") / col("ws_tokens")), 4)
          .as("avg_bpe_per_ws"))
      .orderBy(col("source"))

  private val bpeTokenStatsSql = {
    // SQL literal: double the quotes; backslashes pass through (standard
    // SQL strings are not backslash-escaped)
    val pat = bpePattern.replace("'", "''")
    s"""SELECT source,
       |  sum(len(regexp_extract_all(text, '\\S+')))::BIGINT AS total_ws_tokens,
       |  sum(len(regexp_extract_all(text, '$pat')))::BIGINT AS total_bpe_tokens,
       |  round(avg(len(regexp_extract_all(text, '$pat'))::DOUBLE
       |        / len(regexp_extract_all(text, '\\S+'))), 4) AS avg_bpe_per_ws
       |FROM documents GROUP BY source ORDER BY source""".stripMargin
  }

  /** Deterministic stratified downsampling — corpus curation's mixture
    * control (cap over-represented sources). A document survives iff its
    * id-hash bucket falls under the stratum's per-mille rate, so the
    * sample is reproducible under any partitioning, retries included
    * (`df.sample`/`sampleBy` are seed+partitioning-dependent — useless
    * for an auditable pipeline). The bucket here is `doc_id % 1000` so
    * the oracle can replicate it; production buckets by
    * `pmod(xxhash64(uid), 1000)` — same shape, uniform for arbitrary
    * keys.
    */
  def stratifiedSample(docs: DataFrame, ratesPerMille: Map[String, Int]): DataFrame = {
    val rate = ratesPerMille.foldLeft(lit(0)) { case (acc, (src, r)) =>
      when(col("source") === src, lit(r)).otherwise(acc)
    }
    docs.filter(pmod(col("doc_id"), lit(1000)) < rate)
  }

  /** Mixture targets for the corpus's sources (src0..src19): cap the
    * even-numbered sources hard, keep most of the odd ones.
    */
  private val sampleRates: Map[String, Int] =
    (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) 250 else 900)).toMap

  def stratifiedSampleQuery(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir), sampleRates)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sampled_chars"))
      .orderBy(col("source"))

  private val stratifiedSampleSql = {
    val cases = sampleRates.toSeq.sortBy(_._1)
      .map { case (s, r) => s"WHEN source = '$s' THEN $r" }.mkString(" ")
    s"""SELECT source, count(*) AS n_sampled, sum(n_chars)::BIGINT AS sampled_chars
       |FROM documents
       |WHERE doc_id % 1000 < (CASE $cases ELSE 0 END)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** q39: winnowing-style fingerprint groups — unlike the q34 prefix
    * digest, the min-over-all-64-char-windows fingerprint survives edits
    * outside the minimizing window, so shifted/near-identical payloads
    * still collide. The declared form hashes each window with md5 and
    * takes the lexicographic min (same winnowing semantics, and md5 is
    * portable so the SQL oracle replays it exactly). Linear, map-only,
    * no shuffle beyond the group-by; the constant factor (one md5 per
    * window) is what [[graft.functions.MinRollingHash]] removes — that
    * one-pass rolling kernel is the high-throughput variant for 100 TB
    * runs and stays spec-covered against a reference implementation.
    */
  def rollingFingerprintQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("rfp", expr(
        "array_min(transform(sequence(1, greatest(length(text) - 63, 1))," +
          " i -> md5(substring(text, i, 64))))"))
      .groupBy(col("rfp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
      .orderBy(col("rfp"))

  /** DuckDB replica of the q39 min-md5-window fingerprint. */
  private val rollingFingerprintSql =
    """SELECT rfp, count(*) AS n_docs, min(doc_id) AS keep_doc_id
      |FROM (
      |  SELECT doc_id,
      |    list_min(list_transform(
      |      generate_series(1, greatest(length(text) - 63, 1)),
      |      i -> md5(substring(text, i, 64)))) AS rfp
      |  FROM documents)
      |GROUP BY rfp ORDER BY rfp""".stripMargin

  /** q67: per-document top-3 TF-IDF terms within each language — the
    * classic content-signature / keyword-extraction operator.
    * tf = term occurrences in the doc, idf = ln(docs-in-lang / docs
    * containing the term); ties broken by word for determinism.
    *
    * Scale shape: one explode → tf aggregation on (lang, doc, word);
    * the df aggregation groups the (already partially combined) tf
    * table and joins back on the same (lang, word) key, so the exchange
    * is reused; the per-language doc counts are a broadcast of ≤
    * |languages| rows; the final top-k window partitions by (lang,
    * doc_id) — millions of small partitions, never a global sort.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("lang"), col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("lang"), col("word")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    tf.join(df_, Seq("lang", "word"))
      .join(broadcast(nDocs), Seq("lang"))
      .withColumn("score",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("lang"), col("rank"), col("word"),
        round(col("score"), 4).as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val tfidfTopTermsSql =
    """WITH words AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents
      |), tf AS (
      |  SELECT lang, doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2, 3
      |), idf AS (
      |  SELECT lang, word, count(*) AS df FROM tf GROUP BY 1, 2
      |), nd AS (
      |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
      |), scored AS (
      |  SELECT tf.lang, tf.doc_id, tf.word,
      |    tf.tf * ln(nd.n_docs::DOUBLE / idf.df) AS score
      |  FROM tf JOIN idf USING (lang, word) JOIN nd USING (lang)
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY lang, doc_id
      |    ORDER BY score DESC, word) AS rank
      |  FROM scored
      |)
      |SELECT doc_id, lang, rank::INT AS rank, word, round(score, 4) AS tfidf
      |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Shard writer — the output stage of a curation run: hash-balanced
    * shards (id-hash partitioning, so shard sizes stay even regardless
    * of source/length skew and re-runs land identical shard contents),
    * one parquet file per shard capped by maxRecordsPerFile.
    */
  /** q263: duplicate-span coverage — for every document, the fraction
    * of its distinct 8-token sliding windows that also occur in at
    * least one OTHER document: the per-document "how much of this text
    * exists elsewhere in the corpus" signal that substring-level
    * training-data dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better" — suffix-array ExactSubstr)
    * thresholds on. Complements q35 (whole-doc Jaccard) and q70
    * (aligned chunk boundaries): sliding windows catch copied spans at
    * ANY offset, the distributed stand-in for a suffix array.
    *
    * Scale shape: windows live only as 8-byte xxhash64 keys from the
    * one-pass codegen'd [[graft.functions.NgramFunctions]] kernel — no
    * gram strings are materialized or shuffled. Duplicated grams fall
    * out of ONE hash-keyed groupBy (map-side partial count), coverage
    * from a second doc-keyed groupBy; both shuffles move (8-byte key,
    * count) rows — linear in corpus tokens, no pair expansion, so
    * unlike q35 there is no df² term to cap. The gram inventory is
    * persisted across its two consumers and released on return.
    */
  def dupSpanCoverage(spark: SparkSession, dir: String): DataFrame =
    // Grouped-posting shape (one plan, two hash shuffles, zero persists
    // — the r9 q41 lesson): gram postings group ONCE on the gram hash;
    // single-doc grams die at that barrier (exact — a df=1 gram can't
    // be a duplicate span), surviving posting lists explode straight
    // back into per-doc duplicate counts. The earlier formulation
    // persisted the exploded grams and self-joined against the dup-gram
    // set — an extra exchange, a cache write of the corpus's full gram
    // stream, and the cache-lifecycle bookkeeping, all for a relation
    // this plan never needs twice (the sort's sampling pass shares the
    // final exchange via reuse).
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"),
        graft.functions.NgramFunctions.wordNgramHashes(col("toks"), 8).as("ghs"))
      .select(col("doc_id"), size(col("ghs")).cast("bigint").as("n_grams"),
        explode(col("ghs")).as("gh"))
      .groupBy(col("gh"))
      .agg(collect_list(struct(col("doc_id"), col("n_grams"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(col("ds")).as("d"))
      .groupBy(col("d.doc_id").as("doc_id"), col("d.n_grams").as("n_grams"))
      .agg(count(lit(1)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams"), 4).as("coverage"))
      .orderBy(col("doc_id"))

  private val dupSpanCoverageSql =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), g AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i : i + 7], ' ') AS gram
      |  FROM t, unnest(generate_series(1, len(toks) - 7)) s(i)
      |  WHERE len(toks) >= 8
      |), n AS (
      |  SELECT doc_id, count(*)::BIGINT AS n_grams FROM g GROUP BY doc_id
      |), dup AS (
      |  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
      |), d AS (
      |  SELECT g.doc_id, count(*)::BIGINT AS n_dup
      |  FROM g JOIN dup USING (gram) GROUP BY g.doc_id
      |)
      |SELECT d.doc_id, n.n_grams, d.n_dup,
      |  round(d.n_dup::DOUBLE / n.n_grams, 4) AS coverage
      |FROM d JOIN n USING (doc_id) ORDER BY d.doc_id""".stripMargin

  def writeShards(docs: DataFrame, path: String, nShards: Int,
      maxRecordsPerFile: Long = 1000000L): Unit =
    docs
      .withColumn("shard", pmod(xxhash64(col("doc_id")), lit(nShards)).cast("int"))
      .repartition(nShards, col("shard"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .parquet(path)

  /** q300: TextTiling-style topic-boundary chunking (Hearst 1997) —
    * the semantic upgrade of fixed-token RAG chunking: split each doc
    * into 15-word blocks, score adjacent blocks by lexical cosine on
    * their word-count vectors, and declare a topic boundary where
    * cohesion collapses. A chunker that cuts on topic shifts instead
    * of byte counts keeps retrieval chunks self-contained. Readout per
    * source: blocks, boundaries, boundary rate, mean segment length —
    * what a chunking-policy review compares across corpora.
    *
    * Cross-engine determinism: the boundary decision
    * cos(a,b) < 0.1 is evaluated as the EXACT integer inequality
    * 100·dot² < ‖a‖²·‖b‖² — no float ever decides anything; reported
    * rates are single divisions of exact counts.
    *
    * Scale shape: fully relational — (doc, block, word, count) is one
    * map-side-partial aggregation; the adjacent-block dot products
    * are an equi-join on (doc, word, block+1); block norms and the
    * pair spine are per-doc bounded relations. No per-doc arrays, no
    * UDFs — the whole chunker is joins and aggregations over
    * partitionable keys.
    */
  def textTiling(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("blk", expr("pos div 15"))
    val bc = toks.groupBy(col("source"), col("doc_id"), col("blk"), col("w"))
      .agg(count(lit(1)).as("c"))
    val norms = bc.groupBy(col("source"), col("doc_id"), col("blk"))
      .agg(sum(col("c") * col("c")).as("n2"))
    val pairs = norms.alias("a").join(norms.alias("b"),
        col("a.doc_id") === col("b.doc_id")
          && col("b.blk") === col("a.blk") + 1)
      .select(col("a.source").as("source"), col("a.doc_id").as("doc_id"),
        col("a.blk").as("blk"), col("a.n2").as("na"), col("b.n2").as("nb"))
    val dots = bc.alias("x").join(bc.alias("y"),
        col("x.doc_id") === col("y.doc_id") && col("x.w") === col("y.w")
          && col("y.blk") === col("x.blk") + 1)
      .groupBy(col("x.doc_id").as("doc_id"), col("x.blk").as("blk"))
      .agg(sum(col("x.c") * col("y.c")).as("dot"))
    val scored = pairs.join(dots, Seq("doc_id", "blk"), "left")
      .withColumn("dot", coalesce(col("dot"), lit(0L)))
      .withColumn("boundary",
        (lit(100L) * col("dot") * col("dot") < col("na") * col("nb"))
          .cast("long"))
    val perDoc = scored.groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("boundary")).as("n_bnd"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(col("n_pairs") + 1).cast("bigint").as("n_blocks"),
        sum(col("n_bnd")).cast("bigint").as("n_boundaries"),
        round(sum(col("n_bnd")).cast("double") / sum(col("n_pairs")), 4)
          .as("boundary_rate"),
        round(sum(col("n_pairs") + 1).cast("double")
          / (sum(col("n_bnd")) + count(lit(1))), 4).as("mean_segment_blocks"))
      .orderBy(col("source"))
  }

  private val textTilingSql =
    """WITH toks AS (
      |  SELECT source, doc_id, (u.pos - 1) // 15 AS blk, u.w
      |  FROM (
      |    SELECT source, doc_id,
      |      unnest(list_transform(generate_series(1, len(t)),
      |        i -> struct_pack(pos := i, w := t[i]))) AS u
      |    FROM (SELECT source, doc_id, string_split(text, ' ') AS t
      |          FROM documents))
      |), bc AS (
      |  SELECT source, doc_id, blk, w, count(*)::BIGINT AS c
      |  FROM toks GROUP BY 1, 2, 3, 4
      |), norms AS (
      |  SELECT source, doc_id, blk, sum(c * c)::BIGINT AS n2
      |  FROM bc GROUP BY 1, 2, 3
      |), pairs AS (
      |  SELECT a.source, a.doc_id, a.blk, a.n2 AS na, b.n2 AS nb
      |  FROM norms a JOIN norms b
      |    ON a.doc_id = b.doc_id AND b.blk = a.blk + 1
      |), dots AS (
      |  SELECT x.doc_id, x.blk, sum(x.c * y.c)::BIGINT AS dot
      |  FROM bc x JOIN bc y
      |    ON x.doc_id = y.doc_id AND x.w = y.w AND y.blk = x.blk + 1
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT p.source, p.doc_id,
      |    CASE WHEN 100 * coalesce(d.dot, 0) * coalesce(d.dot, 0)
      |      < p.na * p.nb THEN 1 ELSE 0 END AS boundary
      |  FROM pairs p LEFT JOIN dots d
      |    ON d.doc_id = p.doc_id AND d.blk = p.blk
      |), per_doc AS (
      |  SELECT source, doc_id, count(*)::BIGINT AS n_pairs,
      |    sum(boundary)::BIGINT AS n_bnd
      |  FROM scored GROUP BY source, doc_id
      |)
      |SELECT source, count(*)::BIGINT AS n_docs,
      |  sum(n_pairs + 1)::BIGINT AS n_blocks,
      |  sum(n_bnd)::BIGINT AS n_boundaries,
      |  round(sum(n_bnd)::DOUBLE / sum(n_pairs), 4) AS boundary_rate,
      |  round(sum(n_pairs + 1)::DOUBLE / (sum(n_bnd) + count(*)), 4)
      |    AS mean_segment_blocks
      |FROM per_doc GROUP BY source ORDER BY source""".stripMargin

  /** q320: intra-document repetition GATES — the Gopher/MassiveText
    * multi-rule battery (Rae et al. 2021, table A1) completing
    * [[graft.operators.Curation.repetitionFilter q65]]: q65 emits the
    * single top-bigram share and leaves thresholding to the consumer;
    * real curation stacks several repetition signals and a composite
    * verdict. Per doc and per n ∈ {2, 3}: the duplicate-occurrence
    * fraction (1 − distinct/total) and, for n=2, the share of
    * occurrences held by the single most frequent bigram; the keep
    * verdict applies the published-style thresholds (dup₂ ≤ 0.2,
    * dup₃ ≤ 0.18, top₂-share ≤ 0.08 — scaled to this corpus's short
    * docs). Every
    * ratio is a single division of exact integers, so the gate is
    * layout-deterministic by construction (the q262 lesson applied
    * at design time).
    *
    * Scale shape: one explode per n into (doc, gram-hash) counts —
    * map-side partial aggregation, shuffle volume = distinct grams
    * per doc; the per-doc rollup is three integer aggregates. No
    * arrays survive the shuffle, no windows, nothing global.
    */
  /** q320 gate thresholds, surfaced as named constants (VERDICT r9 #5)
    * so the composite verdict is tunable without touching the oracle
    * twin (the SQL interpolates the same values). These are SCALED TO
    * THIS CORPUS'S SHORT DOCS; the published MassiveText values (Rae
    * et al. 2021, table A1) for the corresponding rules are:
    * duplicate-2-gram char fraction ≤ 0.20, duplicate-3-gram ≤ 0.18,
    * top-2-gram char fraction ≤ 0.20. We keep dup₂/dup₃ at the
    * published values (occurrence- rather than char-weighted) and
    * tighten top₂-share to 0.08 because ~50-token docs make a single
    * repeated bigram a far larger occurrence share than in web-scale
    * documents.
    */
  val Dup2FracMax = 0.2
  val Dup3FracMax = 0.18
  val Top2ShareMax = 0.08

  def repetitionGates(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("toks"))
    def stats(n: Int): DataFrame = base
      .select(col("doc_id"),
        explode(graft.functions.NgramFunctions.wordNgramHashesAll(
          col("toks"), n)).as("gh"))
      .groupBy(col("doc_id"), col("gh")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as(s"total_$n"),
        count(lit(1)).as(s"distinct_$n"),
        max(col("c")).as(s"top_$n"))
    stats(2).join(stats(3), Seq("doc_id"))
      .select(col("doc_id"),
        col("total_2").cast("bigint").as("n_bigrams"),
        round(lit(1.0) - col("distinct_2").cast("double") / col("total_2"), 4)
          .as("dup2_frac"),
        round(col("top_2").cast("double") / col("total_2"), 4)
          .as("top2_share"),
        round(lit(1.0) - col("distinct_3").cast("double") / col("total_3"), 4)
          .as("dup3_frac"))
      .withColumn("keep",
        col("dup2_frac") <= Dup2FracMax && col("dup3_frac") <= Dup3FracMax &&
          col("top2_share") <= Top2ShareMax)
      .orderBy(col("doc_id"))
  }

  private val repetitionGatesSql =
    s"""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |), g2 AS (
      |  SELECT doc_id, array_to_string(toks[i : i + 1], ' ') AS gram
      |  FROM t, unnest(generate_series(1, len(toks) - 1)) s(i)
      |  WHERE len(toks) >= 3
      |), g3 AS (
      |  SELECT doc_id, array_to_string(toks[i : i + 2], ' ') AS gram
      |  FROM t, unnest(generate_series(1, len(toks) - 2)) s(i)
      |  WHERE len(toks) >= 3
      |), c2 AS (
      |  SELECT doc_id, count(*) AS c FROM g2 GROUP BY doc_id, gram
      |), c3 AS (
      |  SELECT doc_id, count(*) AS c FROM g3 GROUP BY doc_id, gram
      |), s2 AS (
      |  SELECT doc_id, sum(c) AS total_2, count(*) AS distinct_2,
      |    max(c) AS top_2
      |  FROM c2 GROUP BY doc_id
      |), s3 AS (
      |  SELECT doc_id, sum(c) AS total_3, count(*) AS distinct_3
      |  FROM c3 GROUP BY doc_id
      |)
      |SELECT s2.doc_id, s2.total_2::BIGINT AS n_bigrams,
      |  round(1.0 - s2.distinct_2::DOUBLE / s2.total_2, 4) AS dup2_frac,
      |  round(s2.top_2::DOUBLE / s2.total_2, 4) AS top2_share,
      |  round(1.0 - s3.distinct_3::DOUBLE / s3.total_3, 4) AS dup3_frac,
      |  (round(1.0 - s2.distinct_2::DOUBLE / s2.total_2, 4) <= $Dup2FracMax
      |   AND round(1.0 - s3.distinct_3::DOUBLE / s3.total_3, 4) <= $Dup3FracMax
      |   AND round(s2.top_2::DOUBLE / s2.total_2, 4) <= $Top2ShareMax) AS keep
      |FROM s2 JOIN s3 ON s3.doc_id = s2.doc_id
      |ORDER BY s2.doc_id""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("q320_repetition_gates", repetitionGates,
      Some(repetitionGatesSql), benchmark = true),
    QueryDef("q300_text_tiling", textTiling, Some(textTilingSql)),
    QueryDef("q36_corpus_prep", corpusPrepQuery, Some(corpusPrepSql), benchmark = true),
    QueryDef("q251_unigram_ppl", unigramPerplexity, Some(unigramPerplexitySql)),
    QueryDef("q37_bpe_tokens", bpeTokenStats, Some(bpeTokenStatsSql)),
    QueryDef("q38_stratified_sample", stratifiedSampleQuery, Some(stratifiedSampleSql)),
    QueryDef("q39_rolling_fingerprint", rollingFingerprintQuery, Some(rollingFingerprintSql)),
    QueryDef("q30_token_stats", tokenStats, Some(tokenStatsSql)),
    QueryDef("q31_vocabulary", vocabulary, Some(vocabularySql)),
    QueryDef("q32_quality_score", qualityScore, Some(qualityScoreSql), benchmark = true),
    QueryDef("q33_lang_id", langId, Some(langIdSql)),
    QueryDef("q34_fingerprint", fingerprintGroups, Some(fingerprintGroupsSql)),
    QueryDef("q35_jaccard_pairs", jaccardPairs, Some(jaccardPairsSql), benchmark = true),
    QueryDef("q67_tfidf_top_terms", tfidfTopTerms, Some(tfidfTopTermsSql)),
    QueryDef("q142_classifier_prf", classifierPrf, Some(classifierPrfSql)),
    QueryDef("q232_cohen_kappa", cohenKappa, Some(cohenKappaSql)),
    QueryDef("q143_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    QueryDef("q154_prefix_filter_join", prefixFilterPairs, Some(prefixFilterPairsSql)),
    QueryDef("q159_bm25", bm25, Some(bm25Sql)),
    QueryDef("q162_word_burstiness", wordBurstiness, Some(wordBurstinessSql)),
    QueryDef("q165_kwic", kwic, Some(kwicSql)),
    QueryDef("q176_containment_pairs", containmentPairs, Some(containmentPairsSql)),
    QueryDef("q263_dup_span_coverage", dupSpanCoverage, Some(dupSpanCoverageSql),
      benchmark = true),
  )
}
