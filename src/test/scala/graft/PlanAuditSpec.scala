package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Pins the plan properties the 100 TB design depends on — pushdown,
  * pruning, broadcast placement, codegen, partial aggregation — so a
  * refactor that silently regresses one of them fails the suite instead
  * of only showing up in a bench run.
  */
class PlanAuditSpec extends SparkSpec {

  /** Final (post-AQE) physical plan: execute, then unwrap the adaptive
    * wrapper — codegen stages only exist in the finalized plan.
    */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def formatted(df: DataFrame): String =
    org.apache.spark.sql.execution.debug.codegenString(finalPlan(df))

  private def explainText(df: DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString("UTF-8")
  }

  /** Number of GenerateExec nodes in the EXECUTED physical plan whose
    * generator expression carries `token` — descending into finalized
    * AQE subplans, materialized query stages, and cached-relation
    * subtrees, each of which is really-evaluated work. The formatted
    * TEXT dump cannot answer this question: it reprints the same node
    * once per AQE section under per-print ids (ADVICE r16), so both an
    * occurrence count and a distinct-printed-id count over the text
    * confuse a reprint with a q324-class double evaluation.
    */
  private def kernelGenerateCount(p: SparkPlan, token: String): Int = {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // a cached relation's plan runs once at materialization no matter
    // how many scans read it — visit each cached subtree once
    val seenCaches =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Int = {
      val self = p match {
        case g: GenerateExec if g.generator.toString.contains(token) => 1
        case _ => 0
      }
      val nested = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: InMemoryTableScanExec if seenCaches.add(s.relation.cachedPlan) =>
          walk(s.relation.cachedPlan)
        case _ => 0
      }
      self + nested + p.children.map(walk).sum
    }
    walk(p)
  }

  /** Hash-exchange count in a formatted plan. `explain("formatted")`
    * prints node HEADERS ("Exchange") separately from their Arguments
    * ("Arguments: hashpartitioning(...)"), so grepping the simple-mode
    * token "Exchange hashpartitioning" matches NOTHING in formatted
    * output — the original ≤-bound assertions using it were vacuous
    * (r9 finding). Count the argument form instead.
    */
  private def hashExchanges(plan: String): Int =
    "Arguments: hashpartitioning".r.findAllIn(plan).length

  test("filter + projection reach the parquet scan (pushdown and pruning)") {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_quantity"))
    val plan = explainText(li)
    assert(plan.contains("PushedFilters"), "no PushedFilters section")
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*GreaterThan\\(l_quantity,45.*"),
      s"quantity filter not pushed:\n$plan")
    // pruned read schema: exactly the two referenced columns
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the projection needs:\n$plan")
  }

  test("star join broadcasts every dimension (no shuffle on the dim side)") {
    val plan = explainText(operators.Relational.regionRevenue(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts:\n$plan")
  }

  test("hot aggregation paths stay inside whole-stage codegen") {
    val q = operators.TextAnalysis.qualityScore(spark, sfDir)
    val cg = formatted(q)
    val m = "Found (\\d+) WholeStageCodegen subtrees".r.findFirstMatchIn(cg)
    assert(m.exists(_.group(1).toInt >= 1), s"no codegen subtree:\n${cg.take(400)}")
  }

  test("KNN plan partially aggregates top-k map-side (no full corpus to one reducer)") {
    val plan = explainText(operators.Similarity.knnQuery(spark, sfDir))
    assert(plan.toLowerCase.contains("partial_topkbysim"),
      s"partial top-k aggregation missing:\n$plan")
  }

  test("bloom probe filters the fact scan before any join") {
    val plan = explainText(operators.BloomJoin.bloomSemiJoinQuery(spark, sfDir))
    // the might_contain probe must appear in a Filter, and the plan keeps
    // an exact LeftSemi join after it
    assert(plan.contains("might_contain"), s"bloom probe missing:\n$plan")
    assert(plan.contains("LeftSemi"), s"exact semi-join missing:\n$plan")
  }

  test("trade-flow 6-way join: every dimension broadcast, one fact-fact shuffle") {
    val plan = explainText(operators.TradeAnalytics.nationTradeFlow(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"expected supplier+customer broadcast joins:\n$plan")
    // shuffles: at most the fact-fact join key + the final aggregation —
    // the dimension hops must not add exchanges
    val shuffles = hashExchanges(plan)
    assert(shuffles <= 3, s"dimension hops added shuffles ($shuffles):\n$plan")
  }

  test("market-share 6-way join: dimensions broadcast, bounded exchanges") {
    val plan = explainText(operators.TradeAnalytics.marketShare(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3, s"expected part+supplier-nation+customer-path broadcasts:\n$plan")
    val shuffles = hashExchanges(plan)
    assert(shuffles <= 3, s"dimension hops added shuffles ($shuffles):\n$plan")
  }

  test("product-profit join: dimensions broadcast, one fact-fact shuffle + agg") {
    val plan = explainText(operators.TradeAnalytics.productProfit(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"expected part+supplier broadcasts:\n$plan")
    val shuffles = hashExchanges(plan)
    assert(shuffles <= 3, s"dimension hops added shuffles ($shuffles):\n$plan")
  }

  test("product-profit plan reads only the filtered PROMO part build side") {
    val plan = explainText(operators.TradeAnalytics.productProfit(spark, sfDir))
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(p_type,PROMO.*"),
      s"p_type filter not pushed into the part scan:\n$plan")
  }

  test("corpus stats reduce to word-keyed aggregates before joining (partial aggs)") {
    val plan = explainText(operators.CorpusStats.importanceWeights(spark, sfDir))
    // both count tables must partial-aggregate map-side before their shuffle —
    // no fallback: a plan that shuffles raw words before counting fails here
    assert("partial_count".r.findAllIn(plan.toLowerCase).length >= 2,
      s"expected map-side partial aggregation on the word tables:\n$plan")
  }

  test("chunk spine is map-only: no hash shuffle, only the output sort") {
    val plan = explainText(operators.Curation.chunkSpine(spark, sfDir))
    assert(hashExchanges(plan) === 0,
      s"chunking must not shuffle:\n$plan")
  }

  test("weighted sample lands in a partial top-k (TakeOrderedAndProject)") {
    val plan = explainText(operators.Sampling.weightedSample(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"global sort instead of partial top-k:\n$plan")
  }

  test("winsorize broadcasts the nation dim and the percentile bounds") {
    val plan = explainText(operators.Governance.winsorizedSpend(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"expected nation + bounds broadcasts:\n$plan")
  }

  test("band join broadcasts the 4-row interval dim (deliberate BNLJ)") {
    val plan = explainText(operators.SqlSurface.bandJoin(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"interval dim should broadcast-nested-loop, not shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact side must not sort:\n$plan")
  }

  test("IVF assignment is shuffle-free (no Exchange between scan and list argmax)") {
    val corpus = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
    val (assigned, _) = operators.Similarity.ivfAssign(corpus, 16)
    val plan = explainText(assigned)
    assert(!plan.contains("Exchange"), s"IVF assignment shuffles:\n$plan")
  }

  test("linear attribution's 7-day band runs as an equi join, never a BNLJ") {
    val plan = explainText(operators.Expectations.linearAttribution(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"touch×purchase band must stay bucketed:\n$plan")
  }

  test("Welch t-test is one aggregation pass (no join, bounded exchanges)") {
    val plan = explainText(operators.TradeAnalytics.welchTTest(spark, sfDir))
    assert(!plan.contains("Join"), s"moments must come from one scan:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 2, s"expected partial->final agg only, got $exchanges:\n$plan")
  }

  test("weighted median pre-aggregates to the value domain before its window") {
    val plan = explainText(operators.Relational.weightedMedian(spark, sfDir))
    // formatted output prints root-first, so the (flag, price) pre-agg
    // that FEEDS the window must appear after the Window node, and its
    // partial half must exist (map-side combine before the shuffle)
    val win = plan.indexOf("Window")
    assert(win >= 0, s"no window operator:\n$plan")
    assert(plan.lastIndexOf("HashAggregate") > win,
      s"window appears to consume raw lineitem rows:\n$plan")
    assert(plan.contains("partial_sum"), s"pre-agg lost its partial half:\n$plan")
  }

  test("hive-partitioned writes prune partitions at the scan (PartitionFilters)") {
    // the 100 TB layout contract: a day-partitioned landing zone must
    // answer single-day queries by reading ONE directory, not scanning
    // and filtering — pin that the filter lands in PartitionFilters
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    Tables.events(spark, sfDir)
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(s"$dir/events_by_day")
    val firstDay = Tables.events(spark, sfDir)
      .select(min(to_date(col("ts")))).head().getDate(0)
    val q = spark.read.parquet(s"$dir/events_by_day")
      .filter(col("day") === lit(firstDay))
      .groupBy(col("event_type")).count()
    val plan = explainText(q)
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*day[^\\]]*\\].*"),
      s"day filter did not reach PartitionFilters:\n$plan")
    // correctness of the pruned read
    val want = Tables.events(spark, sfDir)
      .filter(to_date(col("ts")) === lit(firstDay))
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("rank<=k window filters plan as WindowGroupLimit (per-group partial top-k)") {
    // Spark's InferWindowGroupLimit turns the rank-filter idiom into a
    // group-limit that prunes rows BEFORE the full window sort — the
    // free scale win the q10 top-3 shape depends on; pin that it fires
    val plan = explainText(operators.Relational.top3PerPriority(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter did not become a group limit:\n$plan")
  }

  test("sole-blame supplier query is one fact-fact shuffle plus broadcast name lookup") {
    val plan = explainText(operators.TradeAnalytics.soleBlameSuppliers(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"supplier dim must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"Q21 shape must not fall back to correlated self-joins:\n$plan")
  }

  test("aggregator top-k per group never materializes a Window sort") {
    val plan = explainText(operators.Relational.topSpendersPerNationAgg(spark, sfDir))
    assert(!plan.contains("Window"),
      s"q156 must rank via the partial top-k aggregator, not a window:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"typed TopK aggregation missing:\n$plan")
    assert(plan.toLowerCase.contains("partial_topkbysim"),
      s"top-k lost its partial (map-side) half:\n$plan")
  }

  test("blocked Levenshtein self-join is an equi join on the block key, never all-pairs") {
    val plan = explainText(operators.Dedup.blockedLevPairs(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"(lang, prefix) blocking must hash-partition the self-join:\n$plan")
  }

  test("skyline never falls back to a pairwise dominance join") {
    val plan = explainText(operators.TradeAnalytics.customerSkyline(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"windowed pruning must not become an all-pairs join:\n$plan")
    assert(plan.contains("Window"), s"dominance maxima must be windowed:\n$plan")
  }

  test("RRF top-100 lists come from partial top-k, not a full sort") {
    val plan = explainText(operators.TradeAnalytics.rrfFusion(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"each ranking must be a partial top-k:\n$plan")
  }

  test("heavy-hitter sketch aggregates partially map-side and recount join broadcasts") {
    val plan = explainText(operators.TextAnalysis.heavyHitters(spark, sfDir))
    // the MG typed Aggregator must run as a two-phase ObjectHashAggregate
    assert(plan.contains("ObjectHashAggregate"),
      s"typed MG aggregation missing:\n$plan")
    assert(plan.contains("partial_misragriesagg") ||
      plan.toLowerCase.contains("partial_misragries"),
      s"MG sketch lost its partial (map-side) half:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate recount must broadcast the <=k candidates:\n$plan")
  }

  test("ACF lag pairing is a hash join on the shifted row number") {
    val plan = explainText(operators.TradeAnalytics.revenueAcf(spark, sfDir))
    // the (rn_x - k) = rn_y spelling must keep equi-join key extraction;
    // the only non-equi join allowed is the deliberate broadcast cross
    // against the 10-row lag spine
    assert(plan.contains("BroadcastHashJoin"),
      s"lag self-join must extract hash keys:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no partitioned cartesian allowed:\n$plan")
    // formatted explain mentions each node twice (tree + details);
    // count physical nodes via their "(n) Name" detail headers
    assert("""\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(plan).length <= 1,
      s"only the 10-row spine may broadcast-cross:\n$plan")
  }

  test("FIFO allocation joins supply to demand equi on partkey, brand lookup broadcasts") {
    val plan = explainText(operators.TradeAnalytics.fifoAllocation(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval overlap must be a post-filter on the partkey equi join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"part-brand dimension must broadcast:\n$plan")
  }

  test("containment pairs never self-join the corpus (posting-list expansion only)") {
    val plan = explainText(operators.TextAnalysis.containmentPairs(spark, sfDir))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"containment must reuse the join-free inverted-index kernel:\n$plan")
  }

  test("association rules: supports broadcast and top-20 is a partial top-k") {
    val plan = explainText(operators.TradeAnalytics.associationRules(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"rule ranking must be partial top-k, not a full sort:\n$plan")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2,
      s"item supports and basket count must broadcast, got $broadcasts:\n$plan")
  }

  test("Mann-Whitney ranks come from the value domain: window input is the aggregated relation") {
    val plan = explainText(operators.TradeAnalytics.mannWhitneyU(spark, sfDir))
    // aggregation (value domain) must appear BELOW the window in the plan:
    // the window's direct child chain contains a HashAggregate, so the
    // sorted/windowed relation is |distinct values|, not |orders|
    val wIdx = plan.indexOf("Window")
    assert(wIdx > 0, s"rank window missing:\n$plan")
    assert(plan.substring(wIdx).contains("HashAggregate"),
      s"window must run over the value-domain aggregate:\n$plan")
  }

  test("watchlist diff: both top-100 lists are partial top-k over ONE conditional agg pass") {
    val plan = explainText(operators.Incremental.watchlistDiff(spark, sfDir))
    assert("TakeOrderedAndProject".r.findAllIn(plan).length >= 2,
      s"each snapshot's top-100 must be a partial top-k, not a full sort:\n$plan")
    // both snapshots must read the PERSISTED conditional aggregate (the
    // cached InMemoryRelation re-prints its build subtree under each
    // reference, so counting raw scans is meaningless — assert the two
    // top-k's inputs are cache reads instead)
    assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
      s"both snapshots must read the persisted conditional-agg pass:\n$plan")
  }

  test("LSH S-curve audit joins only on bucket/pair keys, never all-pairs") {
    val plan = explainText(operators.Dedup.lshRecallAudit(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"audit must stay on equi-joins (bands, pair keys):\n$plan")
  }

  test("custom as-of strategy plans AsOfJoinExec — no window, no generic join") {
    val plan = explainText(operators.Temporal.asOfExecQuery(spark, sfDir))
    // explain('formatted') prints nodeName, which strips the Exec suffix
    assert(plan.contains("AsOfJoin"),
      s"the custom strategy must plan the physical as-of node:\n$plan")
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"),
      s"exec path must replace the window/union composition:\n$plan")
  }

  test("decile mobility: both windows' spend comes from one materialized pass") {
    // ScaledWindows persists its range-tagged relation (pass-1
    // materialization — load-bearing for offset/pid alignment, see
    // ScaledWindows.rangeTag), so the offsets branch and the main
    // branch must read the SAME cached relation, and the underlying
    // fact scan happens once inside the cache build
    val plan = finalPlan(operators.TradeAnalytics.decileMobility(spark, sfDir)).toString
    assert("InMemoryTableScan|TableCacheQueryStage".r.findAllIn(plan).nonEmpty,
      s"ScaledWindows pass-1 cache missing from the final plan:\n$plan")
    spark.catalog.clearCache()
  }

  /** ScaledWindows contract: the data relation flows through a range
    * exchange and per-partition windows; the ONLY single-partition
    * shuffles left are metadata-sized — the ≤numParts offsets spine
    * (aggregated on __sw_pid) or a scalar/global aggregate (keys=[]).
    * Guards verdict-r5 items 2/3/4: a refactor that reintroduces a
    * global sort of the data relation fails here, not in a bench run.
    */
  private def assertNoDataSizedSinglePartition(df: DataFrame): Unit = {
    try {
      val plan = finalPlan(df).toString
      assert(plan.contains("rangepartitioning("),
        s"ScaledWindows range exchange missing:\n$plan")
      val lines = plan.split("\n")
      for (i <- lines.indices if lines(i).contains("Exchange SinglePartition")) {
        val below = lines.slice(i + 1, i + 5).mkString("\n")
        assert(below.contains("__sw_pid") || below.contains("keys=[]"),
          s"single-partition exchange over a data-sized relation at plan line $i:\n$plan")
      }
    } finally spark.catalog.clearCache() // release ScaledWindows pass-1 cache
  }

  test("events scans prune the wide props column unless a query reads it") {
    // events carries a wide JSON string column; at 100 TB, dragging it
    // through scans that never touch it is pure wasted IO. Pin that
    // column pruning reaches the parquet scan for the heavy event-time
    // operators (sessionize, funnel, hourly rollup, as-of join).
    Seq(
      operators.EventAnalytics.sessionize(spark, sfDir),
      operators.EventAnalytics.funnel(spark, sfDir),
      streaming.EventStreams.tumblingStats(Tables.events(spark, sfDir)),
      operators.Temporal.asOfExecQuery(spark, sfDir)
    ).foreach { df =>
      val plan = explainText(df)
      assert(plan.contains("ReadSchema"), s"no scan schema to audit:\n$plan")
      assert(!plan.contains("props:string"),
        s"events scan reads the unused props column:\n$plan")
    }
  }

  test("sessionize windows are user-partitioned: no single-partition exchange") {
    val plan = finalPlan(operators.EventAnalytics.sessionize(spark, sfDir)).toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"sessionize must never serialize the event stream:\n$plan")
  }

  test("funnel stage joins carry no broadcast hints (user-keyed relations)") {
    // q82/q170: the per-user stage aggregates are O(|users|) — a hinted
    // broadcast of one is a driver/executor OOM at the 100 TB design
    // point. The joins must stay unhinted so AQE converts to broadcast
    // only when a stage relation is ACTUALLY small at runtime.
    Seq(operators.EventAnalytics.funnel(spark, sfDir),
        operators.EventAnalytics.segmentFunnel(spark, sfDir)).foreach { df =>
      val hints = df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.isEmpty,
        s"funnel must not hint-broadcast user-keyed relations: $hints")
    }
  }

  test("q168 ABC prefix sum runs range-partitioned, no data-sized global sort") {
    assertNoDataSizedSinglePartition(
      operators.TradeAnalytics.abcClassification(spark, sfDir))
  }

  test("q128 shard rank runs range-partitioned, no data-sized global sort") {
    assertNoDataSizedSinglePartition(operators.Physical.shardPlan(spark, sfDir))
  }

  test("q131 key-gap lead runs range-partitioned with boundary stitching") {
    assertNoDataSizedSinglePartition(operators.Relational.orderKeyGaps(spark, sfDir))
  }

  test("q191 RFM ntiles run range-partitioned, no customer-domain global sort") {
    assertNoDataSizedSinglePartition(operators.TradeAnalytics.rfmSegments(spark, sfDir))
  }

  test("q294 ALS round: keyed equi-joins only — no BNLJ/cartesian, partial aggs") {
    val df = operators.TradeAnalytics.alsFactorization(spark, sfDir)
    val plan = finalPlan(df).toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "ALS must never nest-loop join the ratings")
    assert(!plan.contains("CartesianProduct"), "ALS must never cross join")
    assert(plan.contains("partial_"),
      "rating aggregation should partially aggregate map-side")
  }

  test("q285 Fellegi-Sunter pairs join on block keys (equi join, no BNLJ)") {
    val plan = finalPlan(operators.Dedup.fellegiSunter(spark, sfDir)).toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "blocked linkage must join on (nation, segment) equality")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q289 Mann-Kendall pair join is nation-keyed over the month spine") {
    val plan = finalPlan(operators.TradeAnalytics.mannKendall(spark, sfDir)).toString
    assert(!plan.contains("CartesianProduct"),
      "pairwise S must come from the within-nation equi join")
  }

  test("q41 simhash is a single-exchange plan (grouped-posting shape)") {
    // the r9 rework: band rows shuffle ONCE on (band, bkey); the bucket
    // kernel expands pairs in place and the sort's sampling pass shares
    // the exchange — a second hash exchange means the self-join (or a
    // distinct) crept back
    val plan = explainText(operators.Dedup.simHashQuery(spark, sfDir))
    val shuffles = hashExchanges(plan)
    assert(shuffles === 1, s"expected exactly 1 hash exchange, got $shuffles:\n$plan")
    assert(!plan.contains("HashAggregate(keys=[doc_a"),
      s"pair-level dedup aggregate crept back:\n$plan")
  }

  test("q263 dup-span coverage is a two-exchange plan, no cache layer") {
    val df = operators.TextAnalysis.dupSpanCoverage(spark, sfDir)
    val plan = explainText(df)
    val shuffles = hashExchanges(plan)
    assert(shuffles === 2, s"expected exactly 2 hash exchanges, got $shuffles:\n$plan")
    assert(!plan.contains("InMemoryTableScan"), s"unexpected cache:\n$plan")
  }

  test("q316 stage stats ride as broadcast one-row relations (no eager driver count)") {
    val plan = explainText(operators.Dedup.dedupAcrossShards(spark, sfDir))
    // the scalar denominators (n_docs / true_pairs) must appear as
    // BroadcastNestedLoopJoin / BroadcastExchange of one-row aggregates,
    // never as literals folded from a driver-side count
    assert(plan.contains("BroadcastExchange"), s"expected broadcast scalars:\n$plan")
  }

  test("q107 triangle kernel: equi-joins only, bounded exchanges (degree-oriented)") {
    // the orient + two-hop + closing-probe pipeline on a bare edge
    // relation (no cache boundaries, so the exchange count is exact):
    // 1 for the degree agg, ≤2 attaching deg to each endpoint, ≤3 for
    // the three join keys of the triangle self-join (w, u, (u,w)) plus
    // exchange reuse — a count above 8 means a distinct or non-equi
    // join crept into the kernel; any CartesianProduct/BNLJ means the
    // closing probe stopped being an equi join.
    import testImplicits._
    val edges = (0L until 200L)
      .flatMap(i => Seq((i, i + 1), (i, i + 2))).toDF("src", "dst")
    val deg = edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val tri = operators.Curation.countTrianglesOriented(
      operators.Curation.orientLowDegreeFirst(edges, deg))
    assert(tri.head().getLong(0) === 199L) // {i, i+1, i+2} for i <= 198
    val plan = explainText(tri)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle kernel must stay equi-join-only:\n$plan")
    val shuffles = hashExchanges(plan)
    assert(shuffles <= 8, s"expected <=8 hash exchanges, got $shuffles:\n$plan")
  }

  test("q326 hybrid router: ONE expansion pass, tagged in-task, equi-joins only (r15)") {
    // the operator's scale contract: a single Σbsz² basket expansion
    // serves both routes (a double evaluation — the q324-class bug —
    // would show as a second pairExpand Generate), the route fan-out is
    // an in-task explode over the tags array (the second Generate),
    // and every join is an equi join (degree attach + anchor prune).
    val df = operators.TradeAnalytics.hybridItemNeighbors(spark, sfDir)
    assert(df.collect().nonEmpty)
    val plan = explainText(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"hybrid kernel must stay equi-join-only:\n$plan")
    // r16: the symmetrization is an in-task explode instead of a
    // persisted-relation unionAll, so the single-expansion guarantee is
    // structural — the plan has NO second reader that could duplicate
    // the Σbsz² subtree. The pin is the expansion kernel's appearance
    // count: anchor_pair_expand as a generator exactly once (a
    // q324-class double evaluation would print it twice), plus the
    // bounded overall Generate census (expansion + route tags + sym).
    // the formatted text prints the same node once per AQE section
    // (Final AND Initial), and the sections share one id namespace, so
    // neither a raw occurrence count nor a distinct-printed-id count
    // can distinguish "one node, two sections" from a q324-class
    // double evaluation (ADVICE r16). The pin therefore counts
    // GenerateExec nodes in the executed physical plan itself,
    // descending into AQE subplans, materialized query stages, and
    // cached-relation subtrees — each node there is evaluated work.
    val kernelGens = kernelGenerateCount(
      df.queryExecution.executedPlan, "anchor_pair_expand")
    assert(kernelGens === 1,
      s"exactly ONE Generate node may evaluate the anchor expansion " +
        s"kernel, got $kernelGens:\n$plan")
    // overall census, also physical (printed-id counts inflate with
    // every AQE section): anchor expansion + route tags + in-task
    // symmetrization + the explode(ds) posting-list reads that derive
    // the flat (cust, item) view from the cached capped sets (r17
    // coPurchaseBaskets returns sets; each consumer re-derives `b`
    // with one cheap in-task explode instead of persisting a second,
    // wider relation)
    val generates = kernelGenerateCount(
      df.queryExecution.executedPlan, "explode")
    assert(generates <= 6,
      s"expected <=6 evaluated Generate nodes (expansion, route tags, " +
        s"symmetrization, posting-list explodes): got $generates:\n$plan")
  }

  test("q217/q302 packed pair kernel: ONE evaluated expansion each") {
    // the Σbsz² (q217) and within-order (q302) pair expansions are the
    // two queries' hot stages; a refactor that evaluates either twice
    // (a second reader of the un-persisted pair relation) doubles it.
    // Counted on the executed physical plan, as in the q326 pin above.
    for ((name, df) <- Seq(
        "q217" -> operators.TradeAnalytics.hardNegatives(spark, sfDir),
        "q302" -> operators.TradeAnalytics.recsysBacktest(spark, sfDir))) {
      assert(df.collect().nonEmpty, name)
      val gens = kernelGenerateCount(
        df.queryExecution.executedPlan, "pair_expand_packed_ids")
      assert(gens === 1,
        s"$name: exactly ONE Generate node may evaluate the packed pair " +
          s"kernel, got $gens:\n${explainText(df)}")
    }
  }

  test("Markov-family metadata DPs stay driver-side (bounded job count)") {
    // r10: these four reduce the fact table to a ≤(|types|+1)·|types|
    // count matrix and run their sweeps as exact driver DPs (SURVEY S9).
    // The distributed-join formulations they replaced ran 98–310 AQE
    // jobs (200 s of pure scheduling for q301); the reshaped queries run
    // ~6. A job count above 12 means the DP went distributed again.
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val fams = Seq[(String, () => DataFrame)](
        ("q199_markov_stationary",
          () => operators.EventAnalytics.markovStationary(spark, sfDir)),
        ("q240_absorption_probs",
          () => operators.EventAnalytics.absorptionProbs(spark, sfDir)),
        ("q301_markov_attribution",
          () => operators.EventAnalytics.markovAttribution(spark, sfDir)),
        ("q310_spectral_gap",
          () => operators.EventAnalytics.spectralGap(spark, sfDir)))
      for ((name, build) <- fams) {
        org.apache.spark.graftbridge.ListenerBridge.drain(sc)
        jobs.set(0)
        build().collect()
        org.apache.spark.graftbridge.ListenerBridge.drain(sc)
        assert(jobs.get() <= 12,
          s"$name ran ${jobs.get()} jobs — the metadata DP went distributed again")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("block-unrolled recursions stay inside the UnionLoop job budget") {
    // r12/r13: the native one-month-per-iteration recursive CTEs cost
    // ~340 scheduler jobs (~4 per UnionLoop iteration — a fixed runtime
    // floor independent of row counts); the 8-month block unroll plus
    // q235's 2-alias chain (fc recovered post-stack via lag) hold both
    // at ~55-57 jobs / ~3 s. This is the declared floor (SCALE.md round
    // 13): wider blocks REGRESS because UnionLoop re-analyzes the step
    // query every iteration and lateral-alias resolution is superlinear
    // in chain width (k=16 measured slower than k=8 at 20 fewer jobs).
    // A job count past 80 means the unroll silently reverted to
    // month-at-a-time; the oracle cannot see that (output identical).
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val recursions = Seq[(String, () => DataFrame)](
        ("q226_recursive_cte",
          () => operators.SqlSurface.recursiveCte(spark, sfDir)),
        ("q235_holt_smoothing",
          () => operators.SqlSurface.holtSmoothing(spark, sfDir)))
      for ((name, build) <- recursions) {
        org.apache.spark.graftbridge.ListenerBridge.drain(sc)
        jobs.set(0)
        build().collect()
        org.apache.spark.graftbridge.ListenerBridge.drain(sc)
        assert(jobs.get() <= 80,
          s"$name ran ${jobs.get()} jobs — the block unroll reverted " +
            "to month-at-a-time iterations")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("expansion-heavy queries run their hot stage wide (class C pin)") {
    // r10 class C: q258/q197's expensive map stage (B-fold explode /
    // 16-hash signature pass) inherited the parquet SCAN's single-split
    // parallelism — 57 s of task time running ~2-wide at sf0.1. The fix
    // is a round-robin repartition of the compact pre-expansion
    // relation; PlanAuditSpec's job-count pin covers class B but
    // nothing pinned this, so dropping the repartition would return the
    // serial pathology hash-green (VERDICT r10 #5). Listener-counted
    // inverse of the job bound: the stage carrying the most executor
    // task time must run with the session's full width — if the
    // expansion collapses back into the 1-task scan stage, that stage
    // dominates run time and the assertion fails. (The md5 kernels
    // dominate even at sf0.001: ~2M digests vs trivial work elsewhere.)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.put(s.stageInfo.stageId,
          (s.stageInfo.numTasks, s.stageInfo.taskMetrics.executorRunTime))
    }
    val sc = spark.sparkContext
    val width = sc.defaultParallelism
    sc.addSparkListener(listener)
    try {
      val cases = Seq[(String, () => DataFrame)](
        ("q258_randomization_test",
          () => operators.TradeAnalytics.randomizationTest(spark, sfDir)),
        ("q197_lsh_recall_audit",
          () => operators.Dedup.lshRecallAudit(spark, sfDir)),
        // r11: the codec synth+decode kernel must not inherit the
        // documents scan's split count (12x wall at the 10x probe tier
        // before the pre-synth repartition landed)
        ("q315_video_decode",
          () => multimodal.Multimodal.videoDecodeQuery(spark, sfDir)))
      for ((name, build) <- cases) {
        org.apache.spark.graftbridge.ListenerBridge.drain(sc)
        stages.clear()
        build().collect()
        org.apache.spark.graftbridge.ListenerBridge.drain(sc)
        import scala.jdk.CollectionConverters._
        val byTime = stages.asScala.values.toSeq.sortBy(-_._2)
        assert(byTime.nonEmpty, s"$name: no stages observed")
        val (hotTasks, hotMs) = byTime.head
        assert(hotTasks >= width,
          s"$name: hottest stage ($hotMs ms of task time) ran with only " +
            s"$hotTasks task(s) — the pre-expansion repartition is gone " +
            s"and the expensive map stage serialized (expected >= $width)")
        spark.catalog.clearCache()
      }
    } finally sc.removeSparkListener(listener)
  }

  test("estimate-cliff broadcast hints stay in the q40/q43 candidate joins") {
    // r11 100x probe: AQE's size ESTIMATE for a candidate relation
    // derives from the corpus-sized subtree that produced it, so once
    // the corpus estimate crosses the broadcast threshold the verify /
    // re-rank joins flip to shuffles and put the FAT relation (shingle
    // arrays / embedding vectors) on the wire — q40 wrote 875 MiB and
    // q43 80.5 MiB at 100x, both ~KiB with explicit broadcast() on the
    // actually-tiny side. The cliff is INVISIBLE at spec and gate
    // scales (estimates small -> AQE broadcasts anyway), so the pin
    // asserts the hint NODES in the analyzed plan, which fails the
    // moment a refactor drops them regardless of data size.
    val cases = Seq[(String, Int, () => DataFrame)](
      ("q40_minhash_lsh", 2, () => operators.Dedup.minHashQuery(spark, sfDir)),
      ("q43_ann_hyperplane", 3,
        () => operators.Similarity.annQuery(spark, sfDir)))
    for ((name, minHints, build) <- cases) {
      val hints = build().queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.size >= minHints,
        s"$name: expected >= $minHints broadcast hints on the candidate-" +
          s"side joins (100x estimate-cliff guard), found ${hints.size}")
    }
  }

  private lazy val testImplicits = spark.implicits
}
