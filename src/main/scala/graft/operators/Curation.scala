package graft.operators

import graft.{Checkpoints, Materialize, QueryDef, QueryModule, Tables}
import graft.functions.HashFunctions.{md5U60, md5U60Sql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: eval-set decontamination, context-window
  * sequence packing, and embedding quantization QA.
  */
object Curation extends QueryModule {

  // --- train/eval decontamination ---------------------------------------

  /** q62: contamination check of the training corpus against a benchmark
    * set (here: the `src0` slice, standing in for an eval suite). A
    * corpus document is contaminated if it shares at least one distinct
    * word 8-gram with any benchmark document — the n-gram-overlap
    * decontamination rule used by LLM pretraining pipelines. Output per
    * contaminated doc: how many distinct 8-grams are shared and how many
    * benchmark docs are hit.
    *
    * Scale shape: both sides explode to (8-gram, doc) postings; the
    * benchmark side is tiny relative to the corpus (an eval suite vs a
    * 100 TB crawl) and is broadcast, so the corpus never shuffles —
    * one map-side join + one aggregation on the (rare) hits.
    */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), col("source"),
        graft.functions.NgramFunctions.wordNgrams(col("toks"), 8).as("sh"))
    val bench = docs.filter(col("source") === "src0")
      .select(explode(col("sh")).as("gram"), col("doc_id").as("bench_doc"))
    val corpus = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(col("sh")).as("gram"))
    corpus.join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gram")).as("n_shared_grams"),
        count_distinct(col("bench_doc")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  private val decontaminationSql = {
    val terms = (0 until 8).map(j => s"toks[i+$j]").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
       |), s AS (
       |  SELECT doc_id, source,
       |    list_distinct(list_transform(generate_series(1, len(toks)-7),
       |      i -> concat_ws(' ', $terms))) AS sh
       |  FROM t WHERE len(toks) >= 8
       |), bench AS (
       |  SELECT unnest(sh) AS gram, doc_id AS bench_doc FROM s WHERE source = 'src0'
       |), corp AS (
       |  SELECT doc_id, unnest(sh) AS gram FROM s WHERE source <> 'src0'
       |)
       |SELECT corp.doc_id,
       |  count(DISTINCT corp.gram) AS n_shared_grams,
       |  count(DISTINCT bench.bench_doc) AS n_bench_docs
       |FROM corp JOIN bench ON corp.gram = bench.gram
       |GROUP BY corp.doc_id ORDER BY corp.doc_id""".stripMargin
  }

  // --- sequence packing -------------------------------------------------

  private val contextTokens = 2048

  /** q63: context-window sequence packing — the "concatenate and chunk"
    * layout pretraining uses: documents are laid out in deterministic
    * order (doc_id) within each source shard, token offsets accumulate,
    * and a document's chunk is its start offset divided by the context
    * budget. Per-shard (not global) packing is deliberate: the window
    * partitions by source, so shards pack in parallel and no global
    * single-partition window exists — exactly how a 100 TB corpus is
    * packed shard-by-shard.
    */
  def sequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("int"))
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("start_off") / contextTokens).as("chunk_id"))
      .orderBy(col("doc_id"))
  }

  private val sequencePackingSql =
    s"""SELECT doc_id, source,
       |  len(regexp_extract_all(text, '\\S+'))::INT AS n_tokens,
       |  ((sum(len(regexp_extract_all(text, '\\S+')))
       |      OVER (PARTITION BY source ORDER BY doc_id)
       |    - len(regexp_extract_all(text, '\\S+'))) // $contextTokens)::BIGINT
       |    AS chunk_id
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q218: packing-efficiency audit across context budgets — before
    * committing a context length, measure what each candidate costs on
    * the real corpus under q63's concat-stream packing: for budgets
    * {512, 1024, 2048}, the sequence count (Σ per-source
    * ceil(tokens/B)), the fill rate (token mass over sequence
    * capacity — the padding bill), and how many documents straddle a
    * sequence boundary (the attention-mask complexity bill). Bigger
    * budgets pad more but split less; this emits the actual tradeoff
    * curve instead of folklore.
    *
    * Scale shape: one token-count pass with the q63 running-offset
    * window per source, a 3-budget spine explode per document, and a
    * per-budget rollup — all exact integer arithmetic.
    */
  def packingEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val offs = Tables.documents(spark, dir)
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
    val budgets = explode(array(lit(512L), lit(1024L), lit(2048L))).as("budget")
    val perDoc = offs.select(col("source"), col("n_tokens"),
        col("start_off"), col("end_off"), budgets)
      .withColumn("split",
        when(col("n_tokens") > 0 &&
          expr("start_off div budget") =!= expr("(end_off - 1) div budget"), 1L)
          .otherwise(0L))
    val perSource = perDoc.groupBy(col("budget"), col("source"))
      .agg(max(col("end_off")).as("tot"),
        count(lit(1)).as("n_docs"),
        sum(col("split")).as("n_split"))
      .withColumn("n_seq", expr("(tot + budget - 1) div budget"))
    perSource.groupBy(col("budget"))
      .agg(sum(col("n_seq")).cast("bigint").as("n_sequences"),
        sum(col("n_split")).cast("bigint").as("n_split_docs"),
        round(sum(col("tot")).cast("double") /
          (sum(col("n_seq") * col("budget"))), 4).as("fill_rate"),
        round(sum(col("n_split")).cast("double") / sum(col("n_docs")), 4)
          .as("split_rate"))
      .orderBy(col("budget"))
  }

  private val packingEfficiencySql =
    """WITH offs AS (
      |  SELECT source, doc_id,
      |    len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens,
      |    sum(len(regexp_extract_all(text, '\S+')))
      |      OVER (PARTITION BY source ORDER BY doc_id)::BIGINT AS end_off
      |  FROM documents
      |), perdoc AS (
      |  SELECT source, b.budget, n_tokens, end_off,
      |    end_off - n_tokens AS start_off,
      |    CASE WHEN n_tokens > 0 AND
      |      (end_off - n_tokens) // b.budget <> (end_off - 1) // b.budget
      |      THEN 1 ELSE 0 END AS split
      |  FROM offs CROSS JOIN (
      |    SELECT unnest([512, 1024, 2048])::BIGINT AS budget) b
      |), persrc AS (
      |  SELECT budget, source, max(end_off) AS tot, count(*) AS n_docs,
      |    sum(split) AS n_split,
      |    (max(end_off) + budget - 1) // budget AS n_seq
      |  FROM perdoc GROUP BY budget, source
      |)
      |SELECT budget, sum(n_seq)::BIGINT AS n_sequences,
      |  sum(n_split)::BIGINT AS n_split_docs,
      |  round(sum(tot)::DOUBLE / sum(n_seq * budget), 4) AS fill_rate,
      |  round(sum(n_split)::DOUBLE / sum(n_docs), 4) AS split_rate
      |FROM persrc GROUP BY budget ORDER BY budget""".stripMargin

  // --- embedding quantization QA ----------------------------------------

  /** q64: int8 symmetric quantization round-trip QA over the embedding
    * corpus — the check a pipeline runs before shipping a quantized ANN
    * index: per vector, scale = max|x|/127, quantize-dequantize, report
    * the worst absolute reconstruction error and the cosine between the
    * original and reconstructed vector. Map-only, no shuffle except the
    * final ordering.
    */
  def quantizationQa(spark: SparkSession, dir: String): DataFrame = {
    val vec = col("vec")
    val absMax = array_max(transform(vec, x => abs(x)))
    val scale = greatest(absMax, lit(1e-12)) / 127.0
    val dq = transform(vec, x => round(x / col("__scale")) * col("__scale"))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .withColumn("__scale", scale)
      .withColumn("__dq", dq)
      .select(col("vec_id"),
        round(col("__scale"), 6).as("scale"),
        round(array_max(zip_with(vec, col("__dq"), (a, b) => abs(a - b))), 6)
          .as("max_abs_err"),
        round(Similarity.cosine(vec, col("__dq")), 4).as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  private val quantizationQaSql =
    """WITH c AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
      |), s AS (
      |  SELECT vec_id, vec,
      |    greatest(list_max(list_transform(vec, x -> abs(x))), 1e-12) / 127.0 AS scale
      |  FROM c
      |), d AS (
      |  SELECT vec_id, vec, scale,
      |    list_transform(vec, x -> round(x / scale) * scale) AS dq
      |  FROM s
      |)
      |SELECT vec_id, round(scale, 6) AS scale,
      |  round(list_max(list_transform(list_zip(vec, dq),
      |    p -> abs(p[1] - p[2]))), 6) AS max_abs_err,
      |  round(list_cosine_similarity(vec, dq), 4) AS cos_sim
      |FROM d ORDER BY vec_id""".stripMargin

  // --- repetition filter --------------------------------------------------

  /** q65: repetition quality filter — the top-bigram-fraction rule from
    * published web-curation pipelines: a document whose single most
    * frequent word bigram accounts for a large share of all its bigrams
    * is boilerplate/gibberish. Emits the per-doc fraction (the filter
    * threshold is a consumer choice). Bigrams here are NON-distinct
    * (unlike the dedup shingles) because repetition is the signal.
    * Cost: one explode + two aggregations keyed by doc — linear, and
    * the heavy explode never leaves the map stage thanks to partial
    * aggregation on (doc_id, bigram).
    */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("bg"))
      .groupBy(col("doc_id"), col("source"), col("bg"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"), col("source"))
      .agg(max(col("n")).as("top_n"), sum(col("n")).as("n_bigrams"))
      .select(col("doc_id"), col("source"),
        col("n_bigrams").cast("bigint").as("n_bigrams"),
        round(col("top_n").cast("double") / col("n_bigrams"), 4).as("top_bigram_frac"))
      .orderBy(col("doc_id"))

  private val repetitionFilterSql =
    """WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
      |), bg AS (
      |  SELECT doc_id, source,
      |    unnest(list_transform(generate_series(2, len(toks)),
      |      i -> toks[i-1] || ' ' || toks[i])) AS bg
      |  FROM t WHERE len(toks) >= 2
      |), counts AS (
      |  SELECT doc_id, source, bg, count(*) AS n FROM bg GROUP BY 1, 2, 3
      |)
      |SELECT doc_id, source, sum(n)::BIGINT AS n_bigrams,
      |  round(max(n)::DOUBLE / sum(n), 4) AS top_bigram_frac
      |FROM counts GROUP BY doc_id, source ORDER BY doc_id""".stripMargin

  // --- boilerplate chunk removal ---------------------------------------

  private val chunkW = 8

  /** q70: line-level dedup adapted to the chunk granularity pretraining
    * pipelines use — the corpus-wide analog of removing duplicated lines:
    * each document is cut into consecutive non-overlapping 8-token
    * chunks; a chunk whose exact text occurs in ≥2 distinct documents is
    * boilerplate and is removed; the document is reassembled from its
    * surviving chunks (plus the <8-token tail, always kept) in original
    * order. Output: per-doc chunk counts and the md5 of the cleaned text.
    *
    * Scale shape: one explode + one aggregation finds the hot-chunk set,
    * which is SMALL (bounded by boilerplate diversity, not corpus size)
    * and broadcasts into a map-side anti-join — the corpus shuffles once
    * on doc_id for reassembly and never joins against itself.
    */
  /** (doc_id, pos, chunk): every full non-overlapping `chunkW`-token
    * chunk of every document. sequence(0, k-1) DESCENDS for k=0, so
    * chunkless docs are filtered out here (callers re-join them).
    */
  private def chunkPostings(docs: DataFrame): DataFrame =
    docs.filter(col("k") >= 1)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, k - 1), i -> concat_ws(' ', slice(toks, i * $chunkW + 1, $chunkW)))")))
      .withColumnRenamed("col", "chunk")

  private def withChunkCols(docs: DataFrame): DataFrame = docs
    .withColumn("toks", split(col("text"), " "))
    .withColumn("k", expr(s"size(toks) div $chunkW"))

  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = withChunkCols(Tables.documents(spark, dir))
    val chunked = chunkPostings(docs)
    val hot = chunked.groupBy(col("chunk"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("chunk"))
    val kept = chunked.join(broadcast(hot), Seq("chunk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x("chunk"))).as("kept_text"))
    docs.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("k").cast("int").as("n_chunks"),
        (col("k") - coalesce(col("n_kept"), lit(0))).cast("int").as("n_removed"),
        md5(trim(concat_ws(" ",
          coalesce(col("kept_text"), lit("")),
          concat_ws(" ", slice(col("toks"), col("k") * chunkW + 1, lit(chunkW))))))
          .as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val chunkDedupSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), c AS (
       |  SELECT doc_id, len(toks) AS n, len(toks) // $chunkW AS k, toks FROM t
       |), posting AS (
       |  SELECT doc_id,
       |    unnest(generate_series(0, k - 1)) AS pos,
       |    unnest(list_transform(generate_series(0, k - 1),
       |      i -> array_to_string(toks[i * $chunkW + 1 : i * $chunkW + $chunkW], ' '))) AS chunk
       |  FROM c WHERE k >= 1
       |), hot AS (
       |  SELECT chunk FROM posting GROUP BY chunk
       |  HAVING count(DISTINCT doc_id) >= 2
       |), kept AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(chunk, ' ' ORDER BY pos) AS kept_text
       |  FROM posting WHERE chunk NOT IN (SELECT chunk FROM hot)
       |  GROUP BY doc_id
       |)
       |SELECT c.doc_id, c.k::INT AS n_chunks,
       |  (c.k - coalesce(kept.n_kept, 0))::INT AS n_removed,
       |  md5(trim(concat_ws(' ', coalesce(kept.kept_text, ''),
       |    array_to_string(toks[c.k * $chunkW + 1 : c.n], ' ')))) AS clean_md5
       |FROM c LEFT JOIN kept ON c.doc_id = kept.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // --- similarity-graph centrality --------------------------------------

  /** q75: document centrality — fixed-iteration PageRank over the
    * chunk-sharing graph (docs are linked when they share a boilerplate
    * chunk), the graph-quality-signal shape web-curation pipelines use
    * (centrality over link/similarity graphs) and the iterative-graph
    * capability beyond q53's connected components. Deterministic: edges
    * from exact chunk equality, EXACTLY two damped iterations (no
    * data-dependent stopping), uniform init.
    *
    * Scale shape: edge generation is the q35 posting-pair expansion with
    * a df cap (2..64) so Σdf² stays bounded; each iteration is one
    * join + one partial-aggregated groupBy on the edge list — the
    * standard message-passing round, linear in |edges|.
    */
  def docCentrality(spark: SparkSession, dir: String): DataFrame = {
    val docs = withChunkCols(Tables.documents(spark, dir))
    val p = chunkPostings(docs).select(col("doc_id"), col("chunk")).distinct()
    val hot = p.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64)).select(col("chunk"))
    val e = p.join(broadcast(hot), Seq("chunk"))
    val pairs = e.join(e.withColumnRenamed("doc_id", "dst"), Seq("chunk"))
      .filter(col("doc_id") =!= col("dst"))
      .select(col("doc_id").as("src"), col("dst")).distinct()
      .persist() // read by deg + both message-passing rounds
    val deg = pairs.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    var pr = deg.select(col("src").as("doc_id"), lit(1.0).as("pr"))
    for (_ <- 1 to 2) {
      pr = pairs
        .join(pr.withColumnRenamed("doc_id", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("doc_id"), (col("pr") / col("deg")).as("c"))
        .groupBy(col("doc_id"))
        .agg((lit(0.15) + lit(0.85) * sum(col("c"))).as("pr"))
    }
    Materialize.releasing(
      pr.join(deg.withColumnRenamed("src", "doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("deg").cast("bigint").as("degree"),
          round(col("pr"), 4).as("pagerank"))
        .orderBy(col("doc_id")),
      pairs)
  }

  private val docCentralitySql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), c AS (
       |  SELECT doc_id, len(toks) // $chunkW AS k, toks FROM t
       |), posting AS (
       |  SELECT DISTINCT doc_id, chunk FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(0, k - 1),
       |        i -> array_to_string(toks[i * $chunkW + 1 : i * $chunkW + $chunkW], ' '))) AS chunk
       |    FROM c WHERE k >= 1)
       |), hot AS (
       |  SELECT chunk FROM posting GROUP BY chunk
       |  HAVING count(*) BETWEEN 2 AND 64
       |), e AS (
       |  SELECT p.chunk, p.doc_id FROM posting p JOIN hot USING (chunk)
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM e a JOIN e b ON a.chunk = b.chunk AND a.doc_id <> b.doc_id
       |), deg AS (
       |  SELECT src, count(*) AS deg FROM pairs GROUP BY src
       |), pr0 AS (
       |  SELECT src AS doc_id, 1.0 AS pr FROM deg
       |), pr1 AS (
       |  SELECT p.dst AS doc_id, 0.15 + 0.85 * sum(x.pr / d.deg) AS pr
       |  FROM pairs p JOIN pr0 x ON p.src = x.doc_id JOIN deg d ON p.src = d.src
       |  GROUP BY p.dst
       |), pr2 AS (
       |  SELECT p.dst AS doc_id, 0.15 + 0.85 * sum(x.pr / d.deg) AS pr
       |  FROM pairs p JOIN pr1 x ON p.src = x.doc_id JOIN deg d ON p.src = d.src
       |  GROUP BY p.dst
       |)
       |SELECT pr2.doc_id, d.deg::BIGINT AS degree, round(pr2.pr, 4) AS pagerank
       |FROM pr2 JOIN deg d ON pr2.doc_id = d.src
       |ORDER BY pr2.doc_id""".stripMargin

  /** q180: label-propagation communities — the third graph-mining view
    * of the chunk-share graph (q53 components = connectivity, q75
    * PageRank = importance, q107 triangles = local density; LPA =
    * community structure). Two SYNCHRONOUS rounds: every vertex starts
    * as its own label, then adopts the most frequent label among its
    * neighbors, ties broken to the smallest label — fully deterministic
    * (async LPA's order-dependence is exactly what a distributed engine
    * cannot allow). The mode-with-tiebreak is a row_number over
    * (count DESC, label ASC), identical semantics in both engines.
    * Output: per-community sizes.
    *
    * Scale shape: edges reuse the df-capped (2..64) posting-pair
    * expansion, so |E| is bounded linear; each round is one
    * edge⋈label join + one (vertex, label) count + one per-vertex
    * top-1 — the standard message-passing iteration, linear in |E|.
    */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val docs = withChunkCols(Tables.documents(spark, dir))
    val p = chunkPostings(docs).select(col("doc_id"), col("chunk")).distinct()
    val hot = p.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64)).select(col("chunk"))
    val e = p.join(broadcast(hot), Seq("chunk"))
    val pairs = e.join(e.withColumnRenamed("doc_id", "dst"), Seq("chunk"))
      .filter(col("doc_id") =!= col("dst"))
      .select(col("doc_id").as("src"), col("dst")).distinct()
      .persist()
    var labels = pairs.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
    for (_ <- 1 to 2) {
      val counted = pairs
        .join(labels.withColumnRenamed("v", "src")
          .withColumnRenamed("lbl", "nlbl"), Seq("src"))
        .groupBy(col("dst").as("v"), col("nlbl").as("lbl"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("v"))
        .orderBy(col("cnt").desc, col("lbl"))
      labels = counted.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("v"), col("lbl"))
    }
    val out = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).cast("bigint").as("size"))
      .orderBy(col("community"))
    pairs.unpersist()
    out
  }

  private val labelPropagationSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), c AS (
       |  SELECT doc_id, len(toks) // $chunkW AS k, toks FROM t
       |), posting AS (
       |  SELECT DISTINCT doc_id, chunk FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(0, k - 1),
       |        i -> array_to_string(toks[i * $chunkW + 1 : i * $chunkW + $chunkW], ' '))) AS chunk
       |    FROM c WHERE k >= 1)
       |), hot AS (
       |  SELECT chunk FROM posting GROUP BY chunk
       |  HAVING count(*) BETWEEN 2 AND 64
       |), e AS (
       |  SELECT p.chunk, p.doc_id FROM posting p JOIN hot USING (chunk)
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM e a JOIN e b ON a.chunk = b.chunk AND a.doc_id <> b.doc_id
       |), l0 AS (
       |  SELECT DISTINCT src AS v, src AS lbl FROM pairs
       |), c1 AS (
       |  SELECT p.dst AS v, x.lbl, count(*) AS cnt
       |  FROM pairs p JOIN l0 x ON p.src = x.v GROUP BY p.dst, x.lbl
       |), l1 AS (
       |  SELECT v, lbl FROM (
       |    SELECT v, lbl,
       |      row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl) AS rn
       |    FROM c1) WHERE rn = 1
       |), c2 AS (
       |  SELECT p.dst AS v, x.lbl, count(*) AS cnt
       |  FROM pairs p JOIN l1 x ON p.src = x.v GROUP BY p.dst, x.lbl
       |), l2 AS (
       |  SELECT v, lbl FROM (
       |    SELECT v, lbl,
       |      row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lbl) AS rn
       |    FROM c2) WHERE rn = 1
       |)
       |SELECT lbl AS community, count(*)::BIGINT AS size
       |FROM l2 GROUP BY lbl ORDER BY community""".stripMargin

  // --- connected components (entity-resolution closure) -----------------

  /** q195: exact connected components over the entity-resolution graph —
    * the transitive-closure step that turns PAIRWISE duplicate evidence
    * into duplicate FAMILIES. Edges come from two independent linkage
    * signals: the chunk-share graph (q75/q180's df-capped posting
    * expansion) and q34's exact prefix fingerprint (group-expanded with
    * the same 2..64 cap). Dedup needs the closure because near-dup
    * evidence is not transitive: A~B and B~C does not imply the pair
    * (A, C) was ever emitted, yet all three are one family.
    *
    * Algorithm: synchronous min-label propagation iterated TO
    * CONVERGENCE (labels stop changing), which yields the exact
    * components regardless of iteration order — unlike q180's
    * fixed-round LPA, the fixpoint here is unique, so running until
    * quiescence is deterministic. Each round is one edge⋈label join +
    * one min-aggregation (linear in |E|); the number of rounds is the
    * graph diameter. At 100 TB the same loop runs with
    * `spark.graft.checkpointDir` set (reliable per-round cuts,
    * [[Checkpoints]]), and the round count
    * can be made O(log n) with the large-star/small-star contraction —
    * the per-round dataflow (join + partial min-agg) is unchanged.
    * Output: one row per component (root = smallest doc_id), its size,
    * and how many distinct linkage signals support it.
    */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = withChunkCols(Tables.documents(spark, dir))
    val p = chunkPostings(docs).select(col("doc_id"), col("chunk")).distinct()
    val hot = p.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64)).select(col("chunk"))
    val ce = p.join(broadcast(hot), Seq("chunk"))
    val chunkPairs = ce.join(ce.withColumnRenamed("doc_id", "dst"), Seq("chunk"))
      .filter(col("doc_id") =!= col("dst"))
      .select(col("doc_id").as("src"), col("dst"), lit("chunk").as("sig"))
    val fp = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(lower(substring(col("text"), 1, 100))).as("fp"))
    val hotFp = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64)).select(col("fp"))
    val fe = fp.join(broadcast(hotFp), Seq("fp"))
    val fpPairs = fe.join(fe.withColumnRenamed("doc_id", "dst"), Seq("fp"))
      .filter(col("doc_id") =!= col("dst"))
      .select(col("doc_id").as("src"), col("dst"), lit("fp").as("sig"))
    val edges = chunkPairs.unionAll(fpPairs).persist()
    val pairs = edges.select(col("src"), col("dst")).distinct().persist()

    var labels = pairs.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl")).persist()
    var changed = 1L
    var labelsCut: Option[Checkpoints.Cut] = None
    while (changed > 0) {
      val msgs = pairs
        .join(labels.withColumnRenamed("v", "src")
          .withColumnRenamed("lbl", "slbl"), Seq("src"))
        .groupBy(col("dst").as("v")).agg(min(col("slbl")).as("nlbl"))
      // eager checkpoint cut, not persist: each round references the
      // prior labels three times (msgs, the least-merge, the changed
      // count), so a persist-only loop re-analyzes a ~3^r tree per
      // round — the q255 pathology; truncating lineage keeps every
      // round's plan flat and analysis O(1). The prior round's blocks
      // are released explicitly once this round's count has consumed
      // them (unpersist() on a checkpointed Dataset is a no-op).
      val nextCut = Checkpoints.cut(labels.join(msgs, Seq("v"), "left")
        .select(col("v"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")))
      val next = nextCut.df
      changed = next
        .join(labels.withColumnRenamed("lbl", "prev"), Seq("v"))
        .filter(col("lbl") =!= col("prev")).count()
      labels.unpersist() // real for the round-0 persist; no-op afterwards
      labelsCut.foreach(_.release())
      labelsCut = Some(nextCut)
      labels = next
    }
    val sigs = edges.select(col("src").as("v"), col("sig"))
      .join(labels, Seq("v"))
      .groupBy(col("lbl")).agg(count_distinct(col("sig")).as("n_signals"))
    val out = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).cast("bigint").as("size"))
      .join(sigs, Seq("lbl"))
      .select(col("lbl").as("component"), col("size"),
        col("n_signals").cast("bigint").as("n_signals"))
      .orderBy(col("component"))
    val materialized = out.cache()
    materialized.count() // force before unpersisting inputs
    edges.unpersist(); pairs.unpersist()
    labelsCut.foreach(_.release()) // final round, consumed by `materialized`
    materialized
  }

  private val connectedComponentsSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), c AS (
       |  SELECT doc_id, len(toks) // $chunkW AS k, toks FROM t
       |), posting AS (
       |  SELECT DISTINCT doc_id, chunk FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(0, k - 1),
       |        i -> array_to_string(toks[i * $chunkW + 1 : i * $chunkW + $chunkW], ' '))) AS chunk
       |    FROM c WHERE k >= 1)
       |), hot AS (
       |  SELECT chunk FROM posting GROUP BY chunk
       |  HAVING count(*) BETWEEN 2 AND 64
       |), e AS (
       |  SELECT p.chunk, p.doc_id FROM posting p JOIN hot USING (chunk)
       |), fp AS (
       |  SELECT doc_id, md5(lower(substr(text, 1, 100))) AS fp FROM documents
       |), hotfp AS (
       |  SELECT fp FROM fp GROUP BY fp HAVING count(*) BETWEEN 2 AND 64
       |), fe AS (
       |  SELECT f.fp, f.doc_id FROM fp f JOIN hotfp USING (fp)
       |), edges AS (
       |  SELECT a.doc_id AS src, b.doc_id AS dst, 'chunk' AS sig
       |  FROM e a JOIN e b ON a.chunk = b.chunk AND a.doc_id <> b.doc_id
       |  UNION ALL
       |  SELECT a.doc_id, b.doc_id, 'fp'
       |  FROM fe a JOIN fe b ON a.fp = b.fp AND a.doc_id <> b.doc_id
       |), pairs AS (
       |  SELECT DISTINCT src, dst FROM edges
       |), nodes AS (
       |  SELECT DISTINCT src AS v FROM pairs
       |), reach AS (
       |  WITH RECURSIVE r(v, lbl) AS (
       |    SELECT v, v FROM nodes
       |    UNION
       |    SELECT p.dst, r.lbl FROM pairs p JOIN r ON p.src = r.v
       |  ) SELECT v, min(lbl) AS comp FROM r GROUP BY v
       |), sigs AS (
       |  SELECT x.comp, count(DISTINCT e2.sig) AS n_signals
       |  FROM (SELECT DISTINCT src, sig FROM edges) e2
       |  JOIN reach x ON e2.src = x.v GROUP BY x.comp
       |)
       |SELECT x.comp AS component, count(*)::BIGINT AS size,
       |  s.n_signals::BIGINT AS n_signals
       |FROM reach x JOIN sigs s ON x.comp = s.comp
       |GROUP BY x.comp, s.n_signals
       |ORDER BY component""".stripMargin

  // --- end-to-end curation funnel ---------------------------------------

  /** q209: the curation pipeline as ONE declared composite — the staged
    * document funnel a pretraining data team actually ships, with exact
    * per-stage accounting (what every data-governance review asks for):
    *
    *   1. `quality`   — q98's Gopher-style gate (length, mean word
    *      length, repetition, stop-words);
    *   2. `exact_dup` — q34 fingerprint dedup, deterministic keep-first
    *      among quality survivors;
    *   3. `near_dup`  — drop a survivor that shares a hot (df 2..64)
    *      boilerplate chunk with ANY smaller-id stage-2 survivor — the
    *      one-hop, recursion-free rule (the full closure is q195's job;
    *      one-hop is what streaming curation pipelines run because it
    *      needs no iteration);
    *   4. `language`  — keep languages holding ≥ 5% of the remaining
    *      corpus (data-derived, no hardcoded allowlist).
    *
    * Output: one row per stage with n_in / n_dropped / n_out, plus a
    * `final` row. Every count is an exact integer; the stages reuse the
    * EXACT kernels their standalone queries declare, so q98/q34/q70's
    * oracles transitively pin the pieces and this composite pins the
    * plumbing between them.
    *
    * Scale shape: the corpus flows through once per stage boundary with
    * only keyed aggregations (word counts, fingerprints, chunk
    * postings) and broadcast-sized side tables (hot chunks, language
    * shares); no stage joins the corpus to itself row-by-row.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))

    // stage 1: quality gate (q98 semantics, inlined thresholds)
    val wc = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val per = wc.groupBy(col("doc_id")).agg(
      sum(col("c")).cast("bigint").as("nw"),
      max(col("c")).as("maxc"),
      sum(when(col("w").isin("the", "a"), col("c")).otherwise(0L)).as("stopc"))
    val s1 = docs.join(per, "doc_id")
      .withColumn("mwl", (col("n_chars") - col("nw") + 1).cast("double") / col("nw"))
      .filter(col("nw").between(30, 1000) && col("mwl").between(3.0, 8.0) &&
        col("maxc").cast("double") / col("nw") <= 0.12 && col("stopc") > 0)
      .select(col("doc_id"), col("lang"), col("text"))
      .persist()

    // stage 2: exact dedup, keep-first per fingerprint
    val s2 = s1
      .withColumn("fp", md5(lower(substring(col("text"), 1, 100))))
      .withColumn("keep", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("keep") === 1)
      .select(col("doc_id"), col("lang"), col("text"))
      .persist()

    // stage 3: one-hop near-dup drop on the hot-chunk graph
    val p = chunkPostings(withChunkCols(s2))
      .select(col("doc_id"), col("chunk")).distinct()
    val hot = p.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64)).select(col("chunk"))
    val e = p.join(broadcast(hot), Seq("chunk"))
    val dropped3 = e
      .join(e.select(col("chunk"), col("doc_id").as("other")), Seq("chunk"))
      .filter(col("other") < col("doc_id"))
      .select(col("doc_id")).distinct()
    val s3 = s2.join(dropped3, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang")).persist()

    // stage 4: data-derived language floor (>= 5% of remaining corpus)
    val langShares = s3.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val keptLangs = langShares
      .crossJoin(broadcast(langShares.agg(sum(col("n")).as("tot"))))
      .filter(col("n") * 20 >= col("tot")).select(col("lang"))
    val s4 = s3.join(broadcast(keptLangs), Seq("lang"))

    val (n0, n1, n2, n3, n4) =
      (docs.count(), s1.count(), s2.count(), s3.count(), s4.count())
    val rows = Seq(
      ("1_quality", n0, n0 - n1, n1),
      ("2_exact_dup", n1, n1 - n2, n2),
      ("3_near_dup", n2, n2 - n3, n3),
      ("4_language", n3, n3 - n4, n4),
      ("final", n0, n0 - n4, n4))
    s1.unpersist(); s2.unpersist(); s3.unpersist()
    import spark.implicits._
    rows.toDF("stage", "n_in", "n_dropped", "n_out")
      .select(col("stage"), col("n_in").cast("bigint").as("n_in"),
        col("n_dropped").cast("bigint").as("n_dropped"),
        col("n_out").cast("bigint").as("n_out"))
      .orderBy(col("stage"))
  }

  private val curationFunnelSql =
    s"""WITH wc AS (
       |  SELECT doc_id, w, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY doc_id, w
       |), per AS (
       |  SELECT doc_id, sum(c)::BIGINT AS nw, max(c) AS maxc,
       |    sum(CASE WHEN w IN ('the', 'a') THEN c ELSE 0 END) AS stopc
       |  FROM wc GROUP BY doc_id
       |), s1 AS (
       |  SELECT d.doc_id, d.lang, d.text
       |  FROM documents d JOIN per p ON d.doc_id = p.doc_id
       |  WHERE p.nw BETWEEN 30 AND 1000
       |    AND (d.n_chars - p.nw + 1)::DOUBLE / p.nw BETWEEN 3.0 AND 8.0
       |    AND p.maxc::DOUBLE / p.nw <= 0.12 AND p.stopc > 0
       |), s2 AS (
       |  SELECT doc_id, lang, text FROM (
       |    SELECT doc_id, lang, text,
       |      row_number() OVER (PARTITION BY md5(lower(substr(text, 1, 100)))
       |                         ORDER BY doc_id) AS keep
       |    FROM s1) WHERE keep = 1
       |), toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM s2
       |), posting AS (
       |  SELECT DISTINCT doc_id, chunk FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(0, len(t) // $chunkW - 1),
       |        i -> array_to_string(t[i * $chunkW + 1 : i * $chunkW + $chunkW], ' ')))
       |        AS chunk
       |    FROM toks WHERE len(t) >= $chunkW)
       |), hot AS (
       |  SELECT chunk FROM posting GROUP BY chunk
       |  HAVING count(*) BETWEEN 2 AND 64
       |), he AS (
       |  SELECT p.chunk, p.doc_id FROM posting p JOIN hot USING (chunk)
       |), dropped3 AS (
       |  SELECT DISTINCT a.doc_id
       |  FROM he a JOIN he b ON a.chunk = b.chunk AND b.doc_id < a.doc_id
       |), s3 AS (
       |  SELECT s2.doc_id, s2.lang FROM s2
       |  WHERE s2.doc_id NOT IN (SELECT doc_id FROM dropped3)
       |), shares AS (
       |  SELECT lang, count(*) AS n FROM s3 GROUP BY lang
       |), kept AS (
       |  SELECT lang FROM shares WHERE n * 20 >= (SELECT sum(n) FROM shares)
       |), s4 AS (
       |  SELECT s3.* FROM s3 JOIN kept USING (lang)
       |), counts AS (
       |  SELECT (SELECT count(*) FROM documents) AS n0,
       |    (SELECT count(*) FROM s1) AS n1,
       |    (SELECT count(*) FROM s2) AS n2,
       |    (SELECT count(*) FROM s3) AS n3,
       |    (SELECT count(*) FROM s4) AS n4
       |)
       |SELECT stage, n_in::BIGINT AS n_in, n_dropped::BIGINT AS n_dropped,
       |  n_out::BIGINT AS n_out
       |FROM counts, LATERAL (VALUES
       |  ('1_quality', n0, n0 - n1, n1),
       |  ('2_exact_dup', n1, n1 - n2, n2),
       |  ('3_near_dup', n2, n2 - n3, n3),
       |  ('4_language', n3, n3 - n4, n4),
       |  ('final', n0, n0 - n4, n4)) AS v(stage, n_in, n_dropped, n_out)
       |ORDER BY stage""".stripMargin

  // --- temperature mixture resampling ----------------------------------

  /** q72: data-driven domain mixture — the temperature-reweighting step
    * LLM pipelines run before training: per-source token mass is
    * smoothed with a sqrt "temperature" (w_s = √tokens_s), the token
    * budget (30% of the corpus) is split ∝ w_s, and each source's
    * per-mille document sampling rate follows from its target tokens.
    * Sampling itself reuses the q38 mechanism — a partition-independent
    * id-hash bucket, reproducible under retries and any partitioning.
    *
    * Oracle-parity note: the weights are FLOORED TO BIGINT before
    * summing, so every cross-engine sum is an integer sum (order-
    * independent); the one double expression (the rate) is written with
    * identical operation order in both engines. Output: per-source rate
    * and realized sample.
    *
    * Scale shape: the stats/rates table has one row per SOURCE (tiny at
    * any corpus size) — it broadcasts back onto the corpus for the
    * bucket filter; the corpus itself is touched by two map passes and
    * one partial-aggregated groupBy.
    */
  def mixtureResample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
    val stats = docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("toks"))
      .withColumn("w", floor(sqrt(col("toks"))).cast("bigint"))
    val totals = stats.agg(sum(col("toks")).as("total_toks"), sum(col("w")).as("total_w"))
    val rates = stats.crossJoin(broadcast(totals))
      .withColumn("rate", least(lit(1000L),
        floor(lit(300.0) * col("total_toks") * col("w") / col("total_w") / col("toks"))
          .cast("bigint")))
      .select(col("source"), col("rate"))
    docs.join(broadcast(rates), Seq("source"))
      .filter(pmod(col("doc_id"), lit(1000)) < col("rate"))
      .groupBy(col("source"), col("rate"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_tokens")).as("sampled_tokens"))
      .select(col("source"), col("rate").cast("int").as("rate"),
        col("n_sampled").cast("bigint").as("n_sampled"),
        col("sampled_tokens").cast("bigint").as("sampled_tokens"))
      .orderBy(col("source"))
  }

  private val mixtureResampleSql =
    """WITH d AS (
      |  SELECT doc_id, source, len(regexp_extract_all(text, '\S+')) AS n_tokens
      |  FROM documents
      |), stats AS (
      |  SELECT source, sum(n_tokens)::BIGINT AS toks,
      |    floor(sqrt(sum(n_tokens)))::BIGINT AS w
      |  FROM d GROUP BY source
      |), totals AS (
      |  SELECT sum(toks)::BIGINT AS total_toks, sum(w)::BIGINT AS total_w FROM stats
      |), rates AS (
      |  SELECT source,
      |    least(1000, floor(300.0 * total_toks * w / total_w / toks))::BIGINT AS rate
      |  FROM stats CROSS JOIN totals
      |)
      |SELECT d.source, min(r.rate)::INT AS rate,
      |  count(*)::BIGINT AS n_sampled, sum(d.n_tokens)::BIGINT AS sampled_tokens
      |FROM d JOIN rates r ON d.source = r.source
      |WHERE d.doc_id % 1000 < r.rate
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // --- incremental-batch dedup -----------------------------------------

  /** q68: incremental ingest dedup — the nightly shape: a NEW batch of
    * documents (here the `src1` slice) deduped against the EXISTING
    * corpus (everything else), not against itself:
    *  1. exact: drop new docs whose md5-prefix fingerprint already
    *     exists in the store (anti-join on the fingerprint — one linear
    *     shuffle; at 100 TB the store side is a pre-materialized
    *     fingerprint table, not a rescan);
    *  2. near-dup: drop survivors with word-trigram Jaccard ≥ 0.5
    *     against ANY store doc. Candidates come from the same inverted
    *     index as q35, but posting lists are collected per SIDE and
    *     only new×store pairs are expanded — store×store work, the
    *     overwhelming bulk at scale, is never generated.
    * Returns the surviving new docs.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fp = md5(lower(substring(col("text"), 1, 100)))
    val store = docs.filter(col("source") =!= "src1")
    val fresh = docs.filter(col("source") === "src1")

    val exactSurvivors = fresh.withColumn("__fp", fp)
      .join(store.select(fp.as("__fp")).distinct(), Seq("__fp"), "left_anti")
      .drop("__fp")
      .persist() // feeds the near-dup index AND the final anti-join

    def shingled(df: DataFrame, isNew: Int): DataFrame = df
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("lang"), lit(isNew).as("is_new"),
        graft.functions.NgramFunctions.wordNgrams(col("toks"), 3).as("sh"))
    val posts = shingled(store, 0).unionByName(shingled(exactSurvivors, 1))
      .select(col("doc_id"), col("lang"), col("is_new"),
        size(col("sh")).as("nsh"), explode(col("sh")).as("shingle"))
      .select(col("lang"), xxhash64(col("shingle")).as("shash"),
        col("doc_id"), col("nsh"), col("is_new"))
    val crossPairs = posts.groupBy(col("lang"), col("shash"))
      .agg(
        collect_list(when(col("is_new") === 1,
          struct(col("doc_id"), col("nsh")))).as("new_ds"),
        collect_list(when(col("is_new") === 0,
          struct(col("doc_id"), col("nsh")))).as("store_ds"))
      .filter(size(col("new_ds")) >= 1 && size(col("store_ds")) >= 1)
      .select(explode(expr(
        "flatten(transform(new_ds, x -> transform(store_ds, " +
          "y -> struct(x.doc_id AS new_id, x.nsh AS nsh_n, " +
          "y.doc_id AS store_id, y.nsh AS nsh_s))))")).as("p"))
      .select(col("p.*"))
    val hits = crossPairs
      .groupBy(col("new_id"), col("store_id"), col("nsh_n"), col("nsh_s"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") /
        (col("nsh_n") + col("nsh_s") - col("inter")) >= 0.5)
      .select(col("new_id").as("doc_id")).distinct()

    Materialize.releasing(
      exactSurvivors.join(hits, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("int").as("n_tokens"))
        .orderBy(col("doc_id")),
      exactSurvivors)
  }

  private val incrementalDedupSql =
    """WITH newb AS (
      |  SELECT doc_id, lang, text, md5(lower(substr(text, 1, 100))) AS fp
      |  FROM documents WHERE source = 'src1'
      |), store AS (
      |  SELECT doc_id, lang, text, md5(lower(substr(text, 1, 100))) AS fp
      |  FROM documents WHERE source <> 'src1'
      |), ex AS (
      |  SELECT n.* FROM newb n
      |  WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = n.fp)
      |), shn AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(generate_series(1, len(toks)-2),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM ex)
      |  WHERE len(toks) >= 3
      |), shs AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(generate_series(1, len(toks)-2),
      |      i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
      |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM store)
      |  WHERE len(toks) >= 3
      |), hits AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM shn a JOIN shs b ON a.lang = b.lang
      |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      |        / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
      |)
      |SELECT doc_id, lang,
      |  len(regexp_extract_all(text, '\S+'))::INT AS n_tokens
      |FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM hits)
      |ORDER BY doc_id""".stripMargin

  /** q107: triangle census of the chunk-share graph — triangle count,
    * wedge count, and global clustering coefficient, the graph-shape
    * diagnostics that complement q75's PageRank on the same graph.
    * Each triangle is enumerated exactly once by a two-hop join over
    * edges oriented by a TOTAL ORDER on vertices plus a closing-edge
    * probe; the count is orientation-invariant, which is what lets the
    * Spark side pick its orientation for scale while the id-oriented
    * DuckDB oracle stays byte-identical. The orientation used is
    * DEGREE-BASED — (degree, id) ascending, low-degree endpoint first,
    * id as the deterministic tiebreak — the standard refinement
    * (Ortmann & Brandes 2014; Suri & Vassilvitskii 2011) that bounds
    * each node's OUT-degree by O(√m) under power-law skew, so the
    * two-hop fanout Σ outdeg² stays near-linear where id orientation
    * lets one low-id hub with degree d contribute d²/2 paths — the
    * actual 100 TB graph shape (fanout measured on a skewed fixture in
    * SCALE.md round 10). Wedges come from the degree table in closed
    * form (Σ deg·(deg−1)/2) — no join at all. The df cap [2, 64] on
    * shared chunks bounds per-chunk fanout, keeping the edge relation
    * linear in the corpus.
    */
  def triangleCensus(spark: SparkSession, dir: String): DataFrame = {
    val docs = withChunkCols(Tables.documents(spark, dir))
    val p = chunkPostings(docs).select(col("doc_id"), col("chunk")).distinct()
    val hot = p.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64)).select(col("chunk"))
    val e = p.join(broadcast(hot), Seq("chunk"))
    val edges = e.join(e.withColumnRenamed("doc_id", "dst"), Seq("chunk"))
      .filter(col("doc_id") < col("dst"))
      .select(col("doc_id").as("src"), col("dst")).distinct()
      .persist()
    // deg is consumed three times (two orient-attach joins + the stats
    // aggregate) — persist so the union+agg over edges runs once, not
    // per-consumer (each AQE broadcast would otherwise recompute it).
    val deg = edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .persist()
    val oriented = orientLowDegreeFirst(edges, deg).persist()
    val tri = countTrianglesOriented(oriented)
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(col("deg")).cast("bigint").as("deg_sum"),
      max(col("deg")).cast("bigint").as("max_degree"),
      sum(col("deg") * (col("deg") - 1) / 2).cast("bigint").as("n_wedges"))
    Materialize.releasing(
      stats.crossJoin(tri)
        .select(
          col("n_nodes"),
          (col("deg_sum") / 2).cast("bigint").as("n_edges"),
          col("max_degree"),
          col("n_wedges"),
          col("n_triangles"),
          round(col("n_triangles") * 3.0 / col("n_wedges"), 4).as("clustering")),
      edges, deg, oriented)
  }

  /** Re-orient canonical undirected (src, dst) edges low-degree-first:
    * `u` is the (deg, id)-smaller endpoint under the given degree table
    * (`v`, `deg`). With the (deg, id) TOTAL order, each node's
    * out-degree is bounded by O(√m) (a node with out-degree d has d
    * neighbors of degree ≥ its own, each contributing ≥ d to the 2m
    * degree sum), so the two-hop path count Σ indeg·outdeg stays
    * near-linear under power-law skew where id orientation lets one
    * low-id hub contribute deg²/2 paths. The degree table is O(nodes)
    * rows of two longs — AQE broadcasts it locally; at cluster scale
    * both attach joins are linear hash joins on the vertex id.
    * TriangleOrientationSpec measures the fanout gap on a skewed
    * fixture and pins count-invariance vs the id orientation.
    */
  private[graft] def orientLowDegreeFirst(edges: DataFrame,
      deg: DataFrame): DataFrame = {
    val srcFirst = col("deg_src") < col("deg_dst") ||
      (col("deg_src") === col("deg_dst") && col("src") < col("dst"))
    edges
      .join(deg.select(col("v").as("src"), col("deg").as("deg_src")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("deg").as("deg_dst")), Seq("dst"))
      .select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("w"))
  }

  /** Triangle count over edges oriented by ANY total vertex order
    * (u ≺ w per row): two-hop join on the middle vertex plus a
    * closing-edge probe; each triangle {a≺b≺c} is counted exactly once
    * as (a→b, b→c, a→c), so the count is orientation-invariant.
    */
  private[graft] def countTrianglesOriented(oriented: DataFrame): DataFrame =
    oriented.as("ab")
      .join(oriented.as("bc"), col("ab.w") === col("bc.u"))
      .join(oriented.as("ac"),
        col("ab.u") === col("ac.u") && col("bc.w") === col("ac.w"))
      .agg(count(lit(1)).as("n_triangles"))

  private val triangleCensusSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), c AS (
       |  SELECT doc_id, len(toks) // $chunkW AS k, toks FROM t
       |), posting AS (
       |  SELECT DISTINCT doc_id, chunk FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(0, k - 1),
       |        i -> array_to_string(toks[i * $chunkW + 1 : i * $chunkW + $chunkW], ' '))) AS chunk
       |    FROM c WHERE k >= 1)
       |), hot AS (
       |  SELECT chunk FROM posting GROUP BY chunk
       |  HAVING count(*) BETWEEN 2 AND 64
       |), ep AS (
       |  SELECT p.chunk, p.doc_id FROM posting p JOIN hot USING (chunk)
       |), edges AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM ep a JOIN ep b ON a.chunk = b.chunk AND a.doc_id < b.doc_id
       |), deg AS (
       |  SELECT v, count(*) AS deg FROM (
       |    SELECT src AS v FROM edges UNION ALL SELECT dst AS v FROM edges)
       |  GROUP BY v
       |), tri AS (
       |  SELECT count(*) AS n_triangles
       |  FROM edges ab
       |  JOIN edges bc ON ab.dst = bc.src
       |  JOIN edges ac ON ab.src = ac.src AND bc.dst = ac.dst
       |), stats AS (
       |  SELECT count(*) AS n_nodes, sum(deg)::BIGINT AS deg_sum,
       |    max(deg)::BIGINT AS max_degree,
       |    sum(deg * (deg - 1) / 2)::BIGINT AS n_wedges
       |  FROM deg
       |)
       |SELECT n_nodes, (deg_sum / 2)::BIGINT AS n_edges, max_degree, n_wedges,
       |  n_triangles, round(n_triangles * 3.0 / n_wedges, 4) AS clustering
       |FROM stats CROSS JOIN tri""".stripMargin

  private val bfsMaxHops = 3

  /** q136: multi-source BFS — hop distance (≤ 3) from the `src0` slice
    * to every document over the chunk-share graph, the "how close is
    * this document to a trusted/benchmark set" proximity signal that
    * complements q75's centrality and q53's components on the same
    * graph. Frontier-pruned level-synchronous BFS: each round expands
    * ONLY the newly-reached frontier (anti-join against the visited
    * set), so a vertex's edges are traversed exactly once — the shape
    * that survives 100× graph growth, unlike walk-counting expansions
    * whose intermediate results multiply. Fixed 3 rounds, no
    * data-dependent stopping; distances are exact integers.
    */
  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    val docs = withChunkCols(Tables.documents(spark, dir))
    val p = chunkPostings(docs).select(col("doc_id"), col("chunk")).distinct()
    val hot = p.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64)).select(col("chunk"))
    val e = p.join(broadcast(hot), Seq("chunk"))
    val pairs = e.join(e.withColumnRenamed("doc_id", "dst"), Seq("chunk"))
      .filter(col("doc_id") =!= col("dst"))
      .select(col("doc_id").as("src"), col("dst")).distinct()
      .persist() // traversed once per BFS round
    val seeds = pairs.select(col("src").as("doc_id")).distinct()
      .join(Tables.documents(spark, dir)
        .filter(col("source") === "src0").select(col("doc_id")), Seq("doc_id"))
    var dist = seeds.select(col("doc_id"), lit(0).as("dist")).persist()
    var frontier = dist.select(col("doc_id"))
    for (h <- 1 to bfsMaxHops) {
      val newly = pairs
        .join(frontier.withColumnRenamed("doc_id", "src"), Seq("src"))
        .select(col("dst").as("doc_id")).distinct()
        .join(dist.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("dist", lit(h))
        .persist() // read by both the union and the next frontier
      dist = dist.unionByName(newly).persist()
      frontier = newly.select(col("doc_id"))
    }
    dist.select(col("doc_id"), col("dist").cast("int").as("dist"))
      .orderBy(col("doc_id"))
  }

  private val graphBfsSql =
    s"""WITH RECURSIVE t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), c AS (
       |  SELECT doc_id, len(toks) // $chunkW AS k, toks FROM t
       |), posting AS (
       |  SELECT DISTINCT doc_id, chunk FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(0, k - 1),
       |        i -> array_to_string(toks[i * $chunkW + 1 : i * $chunkW + $chunkW], ' '))) AS chunk
       |    FROM c WHERE k >= 1)
       |), hot AS (
       |  SELECT chunk FROM posting GROUP BY chunk
       |  HAVING count(*) BETWEEN 2 AND 64
       |), ep AS (
       |  SELECT p.chunk, p.doc_id FROM posting p JOIN hot USING (chunk)
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM ep a JOIN ep b ON a.chunk = b.chunk AND a.doc_id <> b.doc_id
       |), seeds AS (
       |  SELECT DISTINCT p.src AS doc_id
       |  FROM pairs p JOIN documents d ON p.src = d.doc_id
       |  WHERE d.source = 'src0'
       |), bfs AS (
       |  SELECT doc_id, 0 AS dist FROM seeds
       |  UNION
       |  SELECT p.dst AS doc_id, b.dist + 1 AS dist
       |  FROM bfs b JOIN pairs p ON b.doc_id = p.src
       |  WHERE b.dist < $bfsMaxHops
       |)
       |SELECT doc_id, min(dist)::INT AS dist
       |FROM bfs GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val chunkSize = 32
  private val chunkStride = 24

  /** q100: RAG chunk spine — fixed-size sliding token chunks
    * (32 tokens, stride 24 → 8-token overlap) with a content hash per
    * chunk, the retrieval-indexing layout step. Chunk starts are
    * 0, 24, 48, … while < n_tokens, so the tail chunk may be short;
    * `floor((n-1)/stride)+1` chunks per document. Pure per-row array
    * expressions (sequence → slice → md5) — the explode fans out
    * ~n/stride rows per doc with zero shuffles; at 100 TB this is a
    * map-only stage feeding a partitioned sink.
    */
  def chunkSpine(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("nw", size(col("t")))
      .withColumn("nchunks", (floor((col("nw") - 1) / chunkStride) + 1).cast("int"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("nchunks") - 1)).as("ci"))
      .withColumn("chunk", slice(col("t"), col("ci") * chunkStride + 1, lit(chunkSize)))
      .select(col("doc_id"), col("ci").cast("bigint").as("chunk_idx"),
        size(col("chunk")).cast("bigint").as("n_toks"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val chunkSpineSql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS t,
       |    len(string_split(text, ' ')) AS nw
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, t, nw,
       |    unnest(generate_series(0, (nw - 1) // $chunkStride)) AS ci
       |  FROM d
       |)
       |SELECT doc_id, ci AS chunk_idx,
       |  len(list_slice(t, ci * $chunkStride + 1,
       |    least(ci * $chunkStride + $chunkSize, nw)))::BIGINT AS n_toks,
       |  md5(array_to_string(list_slice(t, ci * $chunkStride + 1,
       |    least(ci * $chunkStride + $chunkSize, nw)), ' ')) AS chunk_hash
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** q255: k-core decomposition of the chunk-share graph — bounded
    * iterative peeling (drop vertices with degree < k and their edges,
    * repeat), the graph-density screen that separates boilerplate-web
    * cores from incidental chunk overlaps; completes the graph family
    * (CC q195, BFS q136, PageRank q75, label-prop q180, triangles
    * q107) with its degeneracy member. Four synchronous peel rounds
    * per k ∈ {2,3}, each round an eager [[Checkpoints]] cut (prior
    * round's blocks released as soon as consumed); a
    * `converged` flag reports fixpoint honestly (edge sets shrink
    * monotonically, so equal successive edge COUNTS imply equal SETS —
    * the cheap fixpoint test). Same bounded-round contract as q75/q180.
    *
    * Lineage MUST be truncated per round, not merely persisted: each
    * round's plan references the previous round THREE times (degree
    * agg + both endpoint joins), so the logical tree grows ~3^r — by
    * round 8 Catalyst re-optimizes hundreds of copies of the posting
    * subtree per count (112 s at sf0.01, caught by the r10 Verify
    * timing sweep; plan RENDERING alone overflows the stack) while the
    * cached DATA sits unused upstream of the re-derived tree. The
    * eager cut makes every round start from a flat scan of the
    * materialized blocks — the same discipline as dupGroups' pointer
    * doubling (Dedup.scala), PageRank, and label-prop.
    *
    * Scale shape: each round is one degree aggregation + two key
    * joins — linear in surviving |edges|; the df-capped posting-pair
    * edge build is the q107 relation. Peeling at 100 TB runs exactly
    * this loop with `spark.graft.checkpointDir` set, which switches
    * every cut to reliable, executor-loss-safe checkpoint().
    */
  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val ks = Seq(2, 3)
    val rounds = 4
    val docs = withChunkCols(Tables.documents(spark, dir))
    val p = chunkPostings(docs).select(col("doc_id"), col("chunk")).distinct()
    val hot = p.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64)).select(col("chunk"))
    val e = p.join(broadcast(hot), Seq("chunk"))
    val edges0 = e.join(e.withColumnRenamed("doc_id", "dst"), Seq("chunk"))
      .filter(col("doc_id") < col("dst"))
      .select(col("doc_id").as("src"), col("dst")).distinct()
      .persist()
    val rows = kcorePeel(edges0, ks, rounds)
    edges0.unpersist()
    import spark.implicits._
    rows.toDF("k", "n_nodes", "n_edges", "converged").orderBy(col("k"))
  }

  /** q255's peel loop: `rounds` synchronous peel rounds of the
    * `(src, dst)` edge set for every k in `ks`, returning per k
    * `(k, n_nodes, n_edges, converged)`. `converged` compares the edge
    * count at the start of the last round with the count after it
    * (with one round, the start is the input edge set).
    */
  private[graft] def kcorePeel(edges: DataFrame, ks: Seq[Int],
      rounds: Int): Seq[(Int, Long, Long, Boolean)] = {
    require(rounds >= 1, s"k-core needs at least one peel round, got $rounds")
    // r17 (guide §1.4 — fewer actions): the per-k peels are
    // INDEPENDENT, so one k-tagged loop replaces the 2 sequential
    // 4-round loops — each round peels BOTH ks in the same jobs (the
    // degree agg keys on (k, v), the survive-joins on (k, endpoint)),
    // halving the round count and with it the AQE stage-job floor that
    // dominated this query's wall (bench 2.89 s against 1.25 s of task
    // time). Counts run only at the start and the end of the last
    // round — the two the convergence flag reads (edge sets shrink
    // monotonically, so equal successive COUNTS still imply equal SETS
    // per k); the start count reads the previous round's materialized
    // cut. Per-k results are bit-identical to the sequential loops:
    // same rounds, same per-k edge sets, same counts.
    var live = edges.select(
      explode(array(ks.map(lit(_)): _*)).as("k"), col("src"), col("dst"))
    var liveCut: Option[Checkpoints.Cut] = None
    var prevCnt = Map.empty[Int, Long]
    var lastCnt = Map.empty[Int, Long]
    def countByK(df: DataFrame): Map[Int, Long] =
      df.groupBy(col("k")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    for (r <- 1 to rounds) {
      if (r == rounds) prevCnt = countByK(live)
      val deg = live.select(col("k"), col("src").as("v"))
        .unionAll(live.select(col("k"), col("dst").as("v")))
        .groupBy(col("k"), col("v")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= col("k")).select(col("k"), col("v"))
      val nextCut = Checkpoints.cut(live // eager: materializes + truncates lineage
        .join(keep.withColumnRenamed("v", "src"), Seq("k", "src"))
        .join(keep.withColumnRenamed("v", "dst"), Seq("k", "dst"))
        .select(col("k"), col("src"), col("dst")))
      if (r == rounds) lastCnt = countByK(nextCut.df)
      // the cut's eager materialization consumed the prior round's
      // blocks — release them now instead of stacking 4 rounds of
      // checkpoint storage until the ContextCleaner notices
      liveCut.foreach(_.release())
      liveCut = Some(nextCut)
      live = nextCut.df
    }
    val nNodes = live.select(col("k"), col("src").as("v"))
      .unionAll(live.select(col("k"), col("dst").as("v")))
      .groupBy(col("k")).agg(count_distinct(col("v")).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    liveCut.foreach(_.release()) // nNodes was the loop's last read
    ks.map(k => (k, nNodes(k), lastCnt(k), prevCnt(k) == lastCnt(k)))
  }

  /** One peel round of the oracle chain: degree table over the previous
    * edge set, then both-endpoints-survive filter. */
  private def kcorePeelSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    var prev = "edges"
    for (r <- 1 to rounds) {
      sb.append(
        s"""d${k}_${r - 1} AS (
           |  SELECT v, count(*) AS deg FROM (
           |    SELECT src AS v FROM $prev UNION ALL SELECT dst AS v FROM $prev)
           |  GROUP BY v
           |), e${k}_$r AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM $prev e
           |  JOIN d${k}_${r - 1} a ON a.v = e.src
           |  JOIN d${k}_${r - 1} b ON b.v = e.dst
           |  WHERE a.deg >= $k AND b.deg >= $k
           |), """.stripMargin)
      prev = s"e${k}_$r"
    }
    sb.toString.stripSuffix(", ")
  }

  private def kcoreFinalSql(k: Int, rounds: Int): String =
    s"""SELECT $k::INT AS k,
       |  (SELECT count(DISTINCT v)::BIGINT FROM (
       |     SELECT src AS v FROM e${k}_$rounds
       |     UNION ALL SELECT dst AS v FROM e${k}_$rounds)) AS n_nodes,
       |  (SELECT count(*)::BIGINT FROM e${k}_$rounds) AS n_edges,
       |  ((SELECT count(*) FROM e${k}_${rounds - 1})
       |     = (SELECT count(*) FROM e${k}_$rounds)) AS converged""".stripMargin

  private val kCoreSql =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), c AS (
       |  SELECT doc_id, len(toks) // $chunkW AS k, toks FROM t
       |), posting AS (
       |  SELECT DISTINCT doc_id, chunk FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(generate_series(0, k - 1),
       |        i -> array_to_string(toks[i * $chunkW + 1 : i * $chunkW + $chunkW], ' '))) AS chunk
       |    FROM c WHERE k >= 1)
       |), hot AS (
       |  SELECT chunk FROM posting GROUP BY chunk
       |  HAVING count(*) BETWEEN 2 AND 64
       |), ep AS (
       |  SELECT p.chunk, p.doc_id FROM posting p JOIN hot USING (chunk)
       |), edges AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM ep a JOIN ep b ON a.chunk = b.chunk AND a.doc_id < b.doc_id
       |), ${kcorePeelSql(2, 4)}, ${kcorePeelSql(3, 4)}
       |${kcoreFinalSql(2, 4)}
       |UNION ALL
       |${kcoreFinalSql(3, 4)}
       |ORDER BY k""".stripMargin

  /** q254: cross-split leakage audit — after a group-aware train/val/
    * test split (the q213 md5-bucket assignment, here at the document
    * grain), how much near-duplicate content still LEAKS across the
    * split boundary? Entity-grouped splits stop the same ROW appearing
    * twice, but near-dup documents with different ids slip through and
    * quietly inflate eval scores; auditing that leak is a standard
    * pre-training QA step. Dup relation: the q34 exact fingerprint
    * (md5 of the lowercased first 100 chars).
    *
    * Scale shape: NO pair generation — aggregate to (fp, split) counts
    * first, then join the count tables, so a boilerplate fingerprint
    * shared by a million docs contributes one row per split, not 10¹²
    * pairs; `leaked_pairs` is the exact Σ n_a·n_b in integer algebra.
    * Linear scans + two small shuffles; holds at 100 TB.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val bucket = md5U60(col("doc_id").cast("string")) % 100
    val perFpSplit = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(lower(substring(col("text"), 1, 100))).as("fp"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      .groupBy(col("fp"), col("split"))
      .agg(count(lit(1)).as("n"))
    val splitTotals = perFpSplit.groupBy(col("split"))
      .agg(sum(col("n")).as("split_docs"))
    val a = perFpSplit.select(col("fp"), col("split").as("split_a"), col("n").as("n_a"))
    val b = perFpSplit.select(col("fp"), col("split").as("split_b"), col("n").as("n_b"))
    a.join(b, Seq("fp"))
      .filter(col("split_a") < col("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).cast("bigint").as("shared_fps"),
        sum(col("n_a") * col("n_b")).cast("bigint").as("leaked_pairs"),
        sum(col("n_b")).cast("bigint").as("leaked_docs_b"))
      .join(broadcast(splitTotals.select(col("split").as("split_b"),
        col("split_docs").as("docs_b"))), Seq("split_b"))
      .select(col("split_a"), col("split_b"), col("shared_fps"),
        col("leaked_pairs"), col("leaked_docs_b"),
        round(col("leaked_docs_b").cast("double") / col("docs_b"), 4)
          .as("leak_rate_b"))
      .orderBy(col("split_a"), col("split_b"))
  }

  private val splitLeakageSql =
    s"""WITH d AS (
      |  SELECT doc_id, md5(lower(substr(text, 1, 100))) AS fp,
      |    CASE
      |      WHEN ${md5U60Sql("doc_id::VARCHAR")} % 100 < 80 THEN 'train'
      |      WHEN ${md5U60Sql("doc_id::VARCHAR")} % 100 < 90 THEN 'val'
      |      ELSE 'test' END AS split
      |  FROM documents
      |), fs AS (
      |  SELECT fp, split, count(*)::BIGINT AS n FROM d GROUP BY 1, 2
      |), st AS (
      |  SELECT split, sum(n)::BIGINT AS split_docs FROM fs GROUP BY 1
      |)
      |SELECT a.split AS split_a, b.split AS split_b,
      |  count(*)::BIGINT AS shared_fps,
      |  sum(a.n * b.n)::BIGINT AS leaked_pairs,
      |  sum(b.n)::BIGINT AS leaked_docs_b,
      |  round(sum(b.n)::DOUBLE / any_value(st.split_docs), 4) AS leak_rate_b
      |FROM fs a
      |JOIN fs b ON a.fp = b.fp AND a.split < b.split
      |JOIN st ON st.split = b.split
      |GROUP BY a.split, b.split
      |ORDER BY split_a, split_b""".stripMargin

  /** q309: duplicate-aware training weights — the soft alternative to
    * dropping duplicates (q09/q36): weight every doc 1/|its duplicate
    * cluster| so each distinct CONTENT contributes unit mass to the
    * loss regardless of how many copies the crawl collected (the
    * repetition-control knob behind "count each document once").
    * Clusters here are exact-content fingerprint groups, which may
    * span sources — so a source full of cross-source copies sees its
    * effective mass collapse. Readout per source: raw docs, docs in
    * multi-copy clusters, effective mass Σ 1/size, and the retention
    * ratio a mixing table would apply.
    *
    * Cross-engine determinism: cluster sizes are exact counts; each
    * doc's weight is one division, and the per-source mass sums
    * integer-reciprocal doubles via an ordered fold keyed by doc_id.
    *
    * Scale shape: one fp-keyed aggregation for sizes (map-side
    * partials), one join back on fp, one source rollup — the q206
    * single-shuffle profile; no pairwise joins, no CC iteration
    * (exact clusters need none).
    */
  def dedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), md5(col("text")).as("fp"))
    val sizes = docs.groupBy(col("fp")).agg(count(lit(1)).as("sz"))
    docs.join(sizes, Seq("fp"))
      .withColumn("w", lit(1.0) / col("sz"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("sz") > 1, 1L).otherwise(0L)).cast("bigint")
          .as("n_in_dup_clusters"),
        expr("aggregate(array_sort(collect_list(struct(doc_id, w))), 0D," +
          "(acc, x) -> acc + x.w)").as("eff_mass"))
      .select(col("source"), col("n_docs"), col("n_in_dup_clusters"),
        round(col("eff_mass"), 4).as("effective_mass"),
        round(col("eff_mass") / col("n_docs"), 4).as("retention_ratio"))
      .orderBy(col("source"))
  }

  private val dedupWeightsSql =
    """WITH docs AS (
      |  SELECT source, doc_id, md5(text) AS fp FROM documents
      |), sizes AS (
      |  SELECT fp, count(*)::BIGINT AS sz FROM docs GROUP BY fp
      |), j AS (
      |  SELECT d.source, d.doc_id, s.sz, 1.0 / s.sz AS w
      |  FROM docs d JOIN sizes s USING (fp)
      |)
      |SELECT source, count(*)::BIGINT AS n_docs,
      |  sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END)::BIGINT
      |    AS n_in_dup_clusters,
      |  round(list_reduce(list(w ORDER BY doc_id), (a, b) -> a + b), 4)
      |    AS effective_mass,
      |  round(list_reduce(list(w ORDER BY doc_id), (a, b) -> a + b)
      |    / count(*), 4) AS retention_ratio
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** q312: degree assortativity of the co-purchase graph (Newman
    * 2002) — do high-degree items link to other high-degree items
    * (assortative, r > 0) or to the long tail (disassortative,
    * r < 0)? The one-number structure diagnostic that complements
    * q107's triangle census and q255's k-core: recommender graphs are
    * typically disassortative (hubs bridge the tail), and a sign flip
    * after an ingestion change is a red flag. r is the Pearson
    * correlation of end-degrees over the directed edge list.
    *
    * Cross-engine determinism: degrees and all five correlation
    * moments are exact integers; the cross-multiplied numerator /
    * denominator ride in DECIMAL(38,0)/HUGEINT (q177's Spearman
    * discipline) with one final double division.
    *
    * Scale shape: edges from the within-order self-join (bounded
    * basket fan-out) → distinct edge list; degrees are one groupBy
    * over edge ends; the moment pass is one map-side-partial
    * aggregation over edges joined to two broadcastable degree
    * relations (item-keyed, shuffle-partitioned at scale).
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    // persist: edges feeds ends (twice via the union), deg (through
    // ends), and the edge count — without it the within-order self-join
    // re-evaluates ~9x across the moments plan (r10: 37.9 s of task
    // time for a one-pass graph, 6.9 s wall -> ~2 s)
    val edges = items.alias("a").join(items.alias("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("i"), col("b.p").as("j")).distinct()
      .persist()
    val ends = edges.select(col("i").as("v"), col("j").as("w"))
      .unionByName(edges.select(col("j").as("v"), col("i").as("w")))
    val deg = ends.groupBy(col("v")).agg(count(lit(1)).as("d")).persist()
    // Deliberately NOT broadcast-hinted (r12 probe, measured both ways):
    // deg is |nodes|-sized and the probe GROWS the catalog with the data,
    // so unlike q204/q217's fixed-catalog itemN the small side here
    // scales — an explicit hint pins broadcast traffic that grows as
    // catalog × executors (quadratic-ish under co-scaling) and lost on
    // wall at the 100× tier anyway (207 s hinted vs 142 s adaptive).
    // AQE does the right thing per decade: broadcast while deg is small,
    // SMJ (shuffle-linear) once it is not; the 16×/24× per-decade wire
    // readings across the transition are the flip being paid once, not
    // a compounding defect — see SCALE.md "Round 12".
    val moments = ends
      .join(deg.select(col("v"), col("d").as("dx")), Seq("v"))
      .join(deg.select(col("v").as("w"), col("d").as("dy")), Seq("w"))
      .agg(count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"),
        sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"),
        sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"))
    val nodes = deg.count()
    val nEdges = edges.count()
    Materialize.releasing(moments
      .withColumn("num",
        (col("m2").cast("decimal(38,0)") * col("sxy")
          - (col("sx").cast("decimal(38,0)") * col("sx"))
            .cast("decimal(38,0)")).cast("double"))
      .withColumn("den",
        (col("m2").cast("decimal(38,0)") * col("sxx")
          - (col("sx").cast("decimal(38,0)") * col("sx"))
            .cast("decimal(38,0)")).cast("double"))
      .select(lit(nodes).cast("bigint").as("n_nodes"),
        lit(nEdges).cast("bigint").as("n_edges"),
        round(col("sx").cast("double") / col("m2"), 4).as("avg_end_degree"),
        round(col("num") / col("den"), 6).as("assortativity")),
      edges, deg)
  }

  private val assortativitySql =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |), edges AS (
      |  SELECT DISTINCT a.p AS i, b.p AS j
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
      |), ends AS (
      |  SELECT i AS v, j AS w FROM edges
      |  UNION ALL SELECT j AS v, i AS w FROM edges
      |), deg AS (
      |  SELECT v, count(*)::BIGINT AS d FROM ends GROUP BY v
      |), mo AS (
      |  SELECT count(*)::BIGINT AS m2,
      |    sum(dx.d)::BIGINT AS sx,
      |    sum((dx.d * dy.d)::HUGEINT) AS sxy,
      |    sum((dx.d * dx.d)::HUGEINT) AS sxx
      |  FROM ends e
      |  JOIN deg dx ON dx.v = e.v
      |  JOIN deg dy ON dy.v = e.w
      |)
      |SELECT
      |  (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
      |  (SELECT count(*) FROM edges)::BIGINT AS n_edges,
      |  round(sx::DOUBLE / m2, 4) AS avg_end_degree,
      |  round((m2::HUGEINT * sxy - sx::HUGEINT * sx)::DOUBLE
      |    / (m2::HUGEINT * sxx - sx::HUGEINT * sx)::DOUBLE, 6)
      |    AS assortativity
      |FROM mo""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("q309_dedup_weights", dedupWeights, Some(dedupWeightsSql)),
    QueryDef("q312_assortativity", assortativity, Some(assortativitySql),
      benchmark = true),
    QueryDef("q62_decontamination", decontamination, Some(decontaminationSql)),
    QueryDef("q63_sequence_packing", sequencePacking, Some(sequencePackingSql)),
    QueryDef("q64_quantization_qa", quantizationQa, Some(quantizationQaSql)),
    QueryDef("q65_repetition_filter", repetitionFilter, Some(repetitionFilterSql)),
    QueryDef("q68_incremental_dedup", incrementalDedup, Some(incrementalDedupSql)),
    QueryDef("q70_chunk_dedup", chunkDedup, Some(chunkDedupSql)),
    QueryDef("q72_mixture_resample", mixtureResample, Some(mixtureResampleSql)),
    QueryDef("q75_doc_centrality", docCentrality, Some(docCentralitySql)),
    QueryDef("q100_chunk_spine", chunkSpine, Some(chunkSpineSql)),
    QueryDef("q107_triangle_census", triangleCensus, Some(triangleCensusSql), benchmark = true),
    QueryDef("q136_graph_bfs", graphBfs, Some(graphBfsSql)),
    QueryDef("q180_label_propagation", labelPropagation, Some(labelPropagationSql)),
    QueryDef("q195_connected_components", connectedComponents,
      Some(connectedComponentsSql)),
    QueryDef("q209_curation_funnel", curationFunnel, Some(curationFunnelSql)),
    QueryDef("q218_packing_efficiency", packingEfficiency,
      Some(packingEfficiencySql)),
    QueryDef("q254_split_leakage", splitLeakage, Some(splitLeakageSql)),
    QueryDef("q255_kcore", kCore, Some(kCoreSql), benchmark = true),
  )
}
