package graft

import org.apache.spark.sql.functions._

/** Scaling-evidence probe (SCALE.md): runs the flagship corpus
  * operators at sf0.1 and at a synthesized 10× corpus, recording wall
  * time and total shuffle read/write bytes per run — the observable
  * basis for the linear-ish scaling the scaladocs argue. Round 10
  * widened the probed set from the original three (q36 corpus-prep,
  * q40 MinHash-LSH, q263 dup-span) to also cover the pair-graph and
  * embedding families (VERDICT r9 #4): q35 inverted-index pairs, q321
  * (q316's two production dedup passes), and q42/q43 over a 10×
  * embeddings synthesis.
  *
  * The 10× document corpus replicates sf0.1's documents 10 times with
  * every token PREFIXED by a replica tag: replicas are textually
  * disjoint (no cross-replica shingle collides), so the duplicate
  * RATE — the quantity that drives pair-expansion cost — matches the
  * original corpus instead of exploding 100× the way verbatim copies
  * would. That models "a corpus 10× bigger with the same dup
  * structure", which is the scaling question 100 TB asks.
  *
  * The 10× embeddings table replicates each vector 10 times with a
  * small DETERMINISTIC per-(replica, element) perturbation (±5e-3,
  * from an integer hash — no RNG, probe re-runs are bit-stable):
  * verbatim copies would make every replica of a vector land in the
  * same ANN bucket and tie every cosine, degenerating the candidate
  * structure; the perturbation keeps the distributional shape while
  * making replicas distinct points, which is what a 10×-bigger real
  * embedding corpus looks like.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the base tier's label in the output lines and paths: the corpus
    // directory's name, e.g. sf0.01 for /root/testdata/sf0.01
    val baseTier = java.nio.file.Paths.get(base).getFileName.toString
    val tenXDir = "/tmp/graft_scale_10x"
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    // The 100× tier at 32 shuffle partitions gives ~1 GiB sort
    // partitions against ~1.5 GiB/task execution memory — the measured
    // 1.7-2.7× disk spill is partition GRANULARITY, not algorithm; a
    // cluster runs thousands of partitions and never sees it. Override
    // to demonstrate (SCALE.md round 12): partitions sized to ~128 MiB
    // make the spill vanish at identical wire bytes.
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))

    // The heavy-family memory rule, enforced mechanically (VERDICT r12
    // #5): SCALE.md's 100× finding is "≥1 GiB execution memory per task
    // slot or the trade-family sorts thrash disk" — warn up front when
    // this JVM violates it, so the next spill-inflated reading arrives
    // pre-adjudicated instead of re-investigated. Execution memory ≈
    // spark.memory.fraction (0.6) of (heap − 300 MiB reserved), split
    // across `cpus` concurrent task slots.
    val execPerSlotGiB =
      (Runtime.getRuntime.maxMemory() - (300L << 20)) * 0.6 / cpus / (1L << 30)
    if (execPerSlotGiB < 1.0)
      println(f"[scale] WARNING: ~$execPerSlotGiB%.2f GiB execution memory " +
        f"per task slot (< 1 GiB; heap=${Runtime.getRuntime.maxMemory() / (1L << 30)}%d GiB, " +
        s"slots=$cpus) — trade-family tiers (q204/q217/q302) will sort-spill; " +
        "raise -Xmx, lower SPARK_GRAFT_CPUS, or raise SPARK_GRAFT_SHUFFLE " +
        "so partitions fit (SCALE.md round 12)")

    // `spread = true` writes the corpus over `cpus` files — the 100×
    // tier uses it so the scan has real split parallelism, the way a
    // 100 TB layout would; the 10× tier keeps its round-9 single-file
    // layout so readings stay comparable across rounds.
    def synthDocs(factor: Int, dir: String, spread: Boolean = false): Unit =
      if (!new java.io.File(s"$dir/documents.parquet").exists()) {
        val df = Tables.documents(spark, base)
          .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("r"))
          .select(
            (col("doc_id") * factor + col("r")).as("doc_id"),
            array_join(transform(split(col("text"), " "),
              t => concat(lit("r"), col("r"), lit("x"), t)), " ").as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")))
        (if (spread) df.repartition(cpus) else df)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      }
    synthDocs(10, tenXDir)
    def synthEmb(factor: Int, dir: String, spread: Boolean = false): Unit =
      if (!new java.io.File(s"$dir/embeddings.parquet").exists()) {
        val df = Tables.embeddings(spark, base)
          .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("r"))
          .select(
            (col("vec_id") * factor + col("r")).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              (x + (pmod(col("vec_id") * 31 + col("r") * 13 + i * 7, lit(97))
                - lit(48)).cast("double") * lit(1e-4)).cast("float"))
              .as("embedding"),
            col("label"))
        (if (spread) df.repartition(cpus) else df)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      }
    synthEmb(10, tenXDir)

    // r12 (VERDICT r11 #4): the heavy bench tail — q302 backtest, the
    // q204/q217 CF pair kernel, q312 assortativity — runs on the trade
    // tables, which had no probe synthesis. Disjoint replication again:
    // every key (orderkey, custkey, partkey) is remapped `k*factor+r`,
    // so replica r's lineitems join replica r's orders only and the
    // marketplace becomes `factor` disjoint copies of the original —
    // basket sizes, per-item degrees, and graph structure are all
    // preserved while customers, orders, and the catalog each grow
    // `factor`×. That is "a marketplace factor× bigger with the same
    // shopping behavior", the shape a real 100 TB order history has
    // (more traffic AND more catalog, not denser baskets).
    // existence guard is the LAST-written file (ADVICE r12): a crash
    // between the orders and lineitem writes must re-run the synth, not
    // trust a half-built dir
    def synthTrade(factor: Int, dir: String, spread: Boolean = false): Unit =
      if (!new java.io.File(s"$dir/lineitem.parquet").exists()) {
        val o = Tables.orders(spark, base)
          .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("r"))
          .withColumn("o_orderkey", col("o_orderkey") * factor + col("r"))
          .withColumn("o_custkey", col("o_custkey") * factor + col("r"))
          .drop("r")
        (if (spread) o.repartition(cpus) else o)
          .write.mode("overwrite").parquet(s"$dir/orders.parquet")
        val l = Tables.lineitem(spark, base)
          .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("r"))
          .withColumn("l_orderkey", col("l_orderkey") * factor + col("r"))
          .withColumn("l_partkey", col("l_partkey") * factor + col("r"))
          .drop("r")
        (if (spread) l.repartition(cpus) else l)
          .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      }
    synthTrade(10, tenXDir)

    // the min-wall of `samples` measured runs of `body`, each from an
    // empty cache
    def best[T](samples: Int)(body: => T): (T, StageLedger.Run) =
      (1 to samples).map { _ =>
        operators.ScaledWindows.release()
        spark.catalog.clearCache()
        StageLedger.measure(spark.sparkContext)(body)
      }.minBy(_._2.wallS)
    def wire(r: StageLedger.Run): String =
      f"shuffle_read=${r.shuffleReadBytes / 1048576.0}%8.2f MiB " +
        f"shuffle_write=${r.shuffleWriteBytes / 1048576.0}%8.2f MiB"
    // r12: the 100× tier's wall-per-GiB doubling (q302/q217) was
    // adjudicated as sort spill hitting real disk — print it so the
    // claim is a measured column, not an inference
    def spill(r: StageLedger.Run): String =
      if (r.spillBytes > 0) f" disk_spill=${r.spillBytes / 1048576.0}%8.2f MiB" else ""

    val probes = Seq(
      "q36_corpus_prep", "q40_minhash_lsh", "q263_dup_span_coverage",
      "q35_jaccard_pairs", "q321_sharded_dedup_production",
      "q42_knn_bruteforce", "q43_ann_hyperplane",
      // r11: simhash joined the 100× tier — give it the lower decades too
      // so its (quadratic-by-construction) output growth reads against a
      // full three-decade wire-bytes series
      "q41_simhash",
      // r10: the degree-oriented triangle join — replicas are textually
      // disjoint, so the 10x chunk-share graph is 10 disjoint copies of
      // the original and the two-hop intermediate must scale ~10x
      "q107_triangle_census",
      // r11 (VERDICT r10 #3): the iterative/graph family — per-round
      // Checkpoints cuts (join + agg per round, lineage truncated).
      // Disjoint replicas again make the 10x graph 10 disjoint copies:
      // same diameter, so the ROUND COUNT is unchanged and each round's
      // join/agg shuffle must scale ~10x — the probed prediction.
      "q255_kcore", "q195_connected_components", "q53_dup_groups",
      "q75_doc_centrality",
      // r11: the multimodal decode path — payloads synthesize from the
      // document corpus, so the probe dirs exercise the binary column +
      // mapPartitions decode seam at 10x volume
      "q315_video_decode",
      // r12 (VERDICT r11 #4): the heavy bench tail — the backtest/CF
      // family was the only multi-second family with no probe rows.
      // All four run on the disjoint-replica trade synth above.
      "q302_recsys_backtest", "q204_item_neighbors", "q217_hard_negatives",
      "q312_assortativity",
      // r12: the DIMSUM kernel under disjoint (catalog-growing) scaling —
      // degrees constant so p never deepens: expect plain wire-linear;
      // the fixed-catalog contrast lives in the `dimsum` mode above
      "q322_dimsum_similarity",
      // r13: the threshold consumer of the same kernel — same scaling
      // law as q322 minus the rank window; output row count is the
      // data's similarity structure, so disjoint replicas grow it
      // exactly linearly (10 disjoint copies of the base pair set)
      "q323_dimsum_threshold",
      // r14 (VERDICT r13 #5): the threshold-shaped hard-negative miner —
      // q217's production twin; the row to read is its wire vs q217's
      // at the same tier (the exact kernel pays Σbsz² on the wire, the
      // miner pays the sampled kernel + candidate-bounded verify)
      "q324_dimsum_hard_negatives",
      // r15 (VERDICT r14 #7): the per-item hybrid router — one tagged
      // expansion pass, anchor-incident pairs only on the wire; the
      // row to read is its wire vs q204's AND q322's at the same tier
      "q326_hybrid_neighbors")
    // `only=q302_recsys_backtest,q312_assortativity` restricts the run —
    // single-family re-probes shouldn't pay the full 14-query sweep.
    val onlySet: Option[Set[String]] = args.collectFirst {
      case a if a.startsWith("only=") =>
        a.stripPrefix("only=").split(",").map(_.trim).toSet
    }
    def wanted(name: String): Boolean = onlySet.forall(_.contains(name))
    def probe(name: String, label: String, dir: String, samples: Int): Unit = {
      val d = SparkEntry.allDefs.find(_.name == name).get
      if (samples > 1) d.build(spark, dir).count() // warm (codegen + page cache)
      val (n, r) = best(samples)(d.build(spark, dir).count())
      println(f"[scale] $name%-24s $label%-6s rows=$n%-8d wall=${r.wallS}%7.3f s " +
        wire(r) + spill(r))
    }
    // `skiplow` drops the sf0.1/10× tiers — a 100×-only re-probe after a
    // crash or a fix shouldn't re-pay the lower decades it already has.
    if (!args.contains("skiplow"))
      for (name <- probes if wanted(name);
           (label, dir) <- Seq((baseTier, base), ("10x", tenXDir)))
        probe(name, label, dir, samples = 2)

    // `dimsum` mode (r12): the q322-vs-q204 dimension-independence
    // demonstration needs FIXED-CATALOG scaling — more customers over
    // the same items (the realistic CF shape, and the one q204/q217's
    // broadcast(itemN) assumes) — because under the disjoint synth
    // above the catalog grows too and per-item degrees stay constant,
    // so DIMSUM's sampling never deepens. Here partkeys are KEPT:
    // degrees grow 10×, so q204's exact pair kernel must shuffle ~10×
    // while q322's post-sample emit count is degree-invariant
    // (E[emits per pair] ≤ γ) and its wire should stay near-flat.
    if (args.contains("dimsum")) {
      val fcDir = "/tmp/graft_scale_10xfc"
      // lineitem is written last — same half-built-dir guard as synthTrade
      if (!new java.io.File(s"$fcDir/lineitem.parquet").exists()) {
        val factor = 10
        Tables.orders(spark, base)
          .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("r"))
          .withColumn("o_orderkey", col("o_orderkey") * factor + col("r"))
          .withColumn("o_custkey", col("o_custkey") * factor + col("r"))
          .drop("r")
          .write.mode("overwrite").parquet(s"$fcDir/orders.parquet")
        Tables.lineitem(spark, base)
          .select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("r"))
          .withColumn("l_orderkey", col("l_orderkey") * factor + col("r"))
          .drop("r") // l_partkey KEPT: same catalog, 10x the buyers
          .write.mode("overwrite").parquet(s"$fcDir/lineitem.parquet")
      }
      // r14: the hard-negative pair joins the fixed-catalog contrast —
      // q217's exact kernel vs q324's sampled-prune miner where degrees
      // actually deepen (10× buyers over the same catalog).
      // r15: q326 joins it — the per-item router's claim is wire ≤
      // min(q204, q322) at the tier where both routes engage.
      for (name <- Seq("q204_item_neighbors", "q322_dimsum_similarity",
             "q217_hard_negatives", "q324_dimsum_hard_negatives",
             "q326_hybrid_neighbors")
             if wanted(name);
           (label, dir) <- Seq((baseTier, base), ("10xFC", fcDir)))
        probe(name, label, dir, samples = 2)
    }

    // `dimsumfallback` mode (VERDICT r12 #2): the measured cost of the
    // over-budget path — q322 with the itemN broadcast hints dropped
    // (budget 0 forces the shuffle-join fallback the budget guard
    // degrades to) vs the hinted default, same data, back to back.
    if (args.contains("dimsumfallback")) {
      for ((label, dir) <- Seq((baseTier, base), ("10x", tenXDir));
           (mode, budget) <- Seq(
             ("hinted", operators.TradeAnalytics.DimsumItemBudget),
             ("fallback", 0L))) {
        val build = operators.TradeAnalytics
          .dimsumNeighbors(spark, dir, budget)
        build.count() // warm
        val (n, r) = best(2)(operators.TradeAnalytics.dimsumNeighbors(spark, dir, budget).count())
        println(f"[dimsumfb] $label%-6s $mode%-9s rows=$n%-6d wall=${r.wallS}%7.3f s " + wire(r))
      }
    }

    // `dimsumacc` mode (VERDICT r12 #4): quantify DIMSUM's estimator
    // error where sampling actually ENGAGES. The fixed-catalog 10× synth
    // is the regime that deepens degrees (same items, 10× the buyers:
    // √(nᵢnⱼ) ≫ γ for the hub pairs), so est_cosine there is genuinely
    // sampled, not the p = 1 passthrough the fixture specs pin. For
    // γ ∈ {20, 50, 100}: per-pair |est − exact| over the exact top-5
    // lists (q204 ground truth) and top-5 rank agreement (overlap of
    // the ranked neighbor sets per anchor item, averaged). Both outputs
    // are ≤250 rows (top-5 × top-50 anchors), so the comparison is
    // driver-side exact.
    if (args.contains("dimsumacc")) {
      val fcDir = "/tmp/graft_scale_10xfc"
      if (!new java.io.File(s"$fcDir/lineitem.parquet").exists())
        sys.error("run `dimsum` mode first to synthesize the 10xFC tier")
      val exact = operators.TradeAnalytics.itemNeighbors(spark, fcDir)
        .collect()
        .map(r => (r.getAs[Long]("item"), r.getAs[Int]("rank")) ->
          (r.getAs[Long]("neighbor"), r.getAs[Double]("cosine"))).toMap
      val exactTop = exact.groupBy(_._1._1).map { case (item, g) =>
        item -> g.map { case ((_, _), (nb, _)) => nb }.toSet
      }
      val exactCos = exact.map { case ((item, _), (nb, cos)) =>
        (item, nb) -> cos }
      for (gamma <- Seq(20.0, 50.0, 100.0)) {
        val est = operators.TradeAnalytics.dimsumNeighbors(spark, fcDir,
          operators.TradeAnalytics.DimsumItemBudget, gamma).collect()
        val estTop = est.groupBy(_.getAs[Long]("item")).map { case (item, g) =>
          item -> g.map(_.getAs[Long]("neighbor")).toSet
        }
        val overlaps = exactTop.toSeq.map { case (item, ex) =>
          estTop.get(item).map(e => (e intersect ex).size.toDouble / ex.size)
            .getOrElse(0.0)
        }
        val errs = est.flatMap { r =>
          exactCos.get((r.getAs[Long]("item"), r.getAs[Long]("neighbor")))
            .map(c => math.abs(r.getAs[Double]("est_cosine") - c))
        }
        val meanOv = overlaps.sum / overlaps.size
        val meanErr = if (errs.isEmpty) Double.NaN else errs.sum / errs.length
        val maxErr = if (errs.isEmpty) Double.NaN else errs.max
        println(f"[dimsumacc] gamma=$gamma%5.0f top5_overlap=$meanOv%.3f " +
          f"mean_abs_err=$meanErr%.4f max_abs_err=$maxErr%.4f " +
          f"est_rows=${est.length}%d matched_pairs=${errs.length}%d")
      }
      // r13: the metric that matters for q323 — set precision/recall of
      // the THRESHOLDED output under sampling. γ = 1e18 puts every pair
      // at p = 1, so the same kernel yields the exact ε-set as ground
      // truth; fixed-catalog scaling preserves cosines (co-counts and
      // degrees both grow ~10×), so the set is structurally the
      // realistic one.
      {
        val exactSet = operators.TradeAnalytics
          .dimsumThresholdPairs(spark, fcDir, 1e18).collect()
          .map(r => (r.getAs[Long]("item"), r.getAs[Long]("neighbor"))).toSet
        for (gamma <- Seq(20.0, 50.0, 100.0)) {
          val s = operators.TradeAnalytics
            .dimsumThresholdPairs(spark, fcDir, gamma).collect()
            .map(r => (r.getAs[Long]("item"), r.getAs[Long]("neighbor"))).toSet
          val tp = (s intersect exactSet).size
          println(f"[dimsumacc] threshold eps=${operators.TradeAnalytics.DimsumEpsilon}%.2f " +
            f"gamma=$gamma%5.0f exact=${exactSet.size}%d sampled=${s.size}%d " +
            f"precision=${if (s.isEmpty) 1.0 else tp.toDouble / s.size}%.3f " +
            f"recall=${if (exactSet.isEmpty) 1.0 else tp.toDouble / exactSet.size}%.3f")
        }
      }
    }

    // `dimsumdiag` mode (r13): phase-1 candidate volume per tier — the
    // quantity that decides whether q323's prune joins stay broadcast
    // (2M budget) and how big the verify subgraph is.
    if (args.contains("dimsumdiag")) {
      import operators.TradeAnalytics._
      for ((label, dir) <- Seq((baseTier, base), ("10x", tenXDir),
          ("10xFC", "/tmp/graft_scale_10xfc"))
          if new java.io.File(s"$dir/lineitem.parquet").exists()) {
        val df = dimsumCandidateDiag(spark, dir)
        println(f"[dimsumdiag] $label%-6s ${df}")
      }
    }

    // `capstone` mode (VERDICT r12 #7): the reference-parity star-schema
    // build — the actual deliverable — probed beyond fixture scale. The
    // CapstoneGate synthesis (orders → SAS-dated immigration rows) runs
    // at sf0.1 and at the 10× disjoint-replica trade tier; each run is
    // clean → visa dim → fact → calendar dim → country dim → the
    // production partitioned writes (fact by arrival year/month =
    // mergeMonthlyFact's layout; calendar hive-partitioned year/month/
    // week = writeStarSchema's). Dimension inputs (nation-derived codes
    // and temperatures) stay at base scale: dims don't co-scale with
    // fact volume. Demographics is a fixture-scale dim orthogonal to
    // the scaled fact — not probed here.
    if (args.contains("capstone")) {
      import pipeline.{CapstoneGate, Clean, StarSchema}
      // with `100` also on the args, the deliverable gets its third
      // decade from the spread trade synth (15M orders)
      val capstoneTiers = Seq((baseTier, base), ("10x", tenXDir)) ++
        (if (args.contains("100")) {
          synthTrade(100, "/tmp/graft_scale_100x", spread = true)
          Seq(("100x", "/tmp/graft_scale_100x"))
        } else Seq.empty)
      for ((label, dir) <- capstoneTiers) {
        val outDir = s"/tmp/graft_capstone_$label"
        val ((factRows, imm), r) = best(1) {
          val imm = Clean.cleanImmigration(
            CapstoneGate.immFromOrders(spark, dir)).cache()
          val codes = Tables.nation(spark, base).select(
            col("n_nationkey").cast("double").as("code"),
            upper(col("n_name")).as("Name"))
          val visa = StarSchema.visaTypeDim(imm)
          val fact = StarSchema.immigrationFact(imm, visa)
          val cal = StarSchema.calendarDim(imm)
          val country = StarSchema.countryDim(imm, codes,
            CapstoneGate.tempFromNation(spark, base))
          // same clustered-write discipline as mergeMonthlyFact /
          // writeStarSchema (VERDICT r13 #7): partitioned writes are
          // repartitioned on their partition columns first, so file
          // count tracks LEAVES, not tasks × leaves.
          // SPARK_GRAFT_FILES_PER_LEAF sizes the salt: 1 = minimum
          // files but one write task per leaf (serializes big leaves);
          // >1 restores write parallelism at files = leaves × k;
          // 0 (default since r15) = auto-sized from the batch's own
          // leaf stats (VERDICT r14 #5 — see autoFilesPerLeaf)
          val fpl = sys.env.getOrElse("SPARK_GRAFT_FILES_PER_LEAF", "0").toInt
          pipeline.CapstoneEtl.clusterForWrite(
              fact
                .withColumn("arrival_year", year(col("arrdate")))
                .withColumn("arrival_month", month(col("arrdate"))),
              fpl, "arrival_year", "arrival_month")
            .write.mode("overwrite")
            .partitionBy("arrival_year", "arrival_month")
            .parquet(s"$outDir/immigration_fact")
          pipeline.CapstoneEtl.clusterForWrite(cal, fpl,
              "arrival_year", "arrival_month", "arrival_week")
            .write.mode("overwrite")
            .partitionBy("arrival_year", "arrival_month", "arrival_week")
            .parquet(s"$outDir/immigration_calendar_dim")
          country.write.mode("overwrite").parquet(s"$outDir/country_dim")
          visa.write.mode("overwrite").parquet(s"$outDir/visa_type_dim")
          (spark.read.parquet(s"$outDir/immigration_fact").count(), imm)
        }
        imm.unpersist()
        // small-file audit: data files vs leaf partition directories —
        // bounded means files == leaves at filesPerLeaf = 1
        def audit(path: String): (Long, Long) = {
          var files = 0L
          var leaves = 0L
          def walk(d: java.io.File): Unit = {
            val kids = Option(d.listFiles()).getOrElse(Array.empty)
            val (dirs, fs) = kids.partition(_.isDirectory)
            val data = fs.count(f => f.getName.endsWith(".parquet"))
            files += data
            if (dirs.isEmpty && data > 0) leaves += 1
            dirs.foreach(walk)
          }
          walk(new java.io.File(path))
          (files, leaves)
        }
        val (factFiles, factLeaves) = audit(s"$outDir/immigration_fact")
        val (calFiles, calLeaves) = audit(s"$outDir/immigration_calendar_dim")
        println(f"[capstone] $label%-6s fact_rows=$factRows%-9d wall=${r.wallS}%7.3f s " +
          wire(r) + spill(r) + f" fact_files=$factFiles%d/$factLeaves%d calendar_files=$calFiles%d/$calLeaves%d leaves")
      }
    }

    // `ckpt` mode (VERDICT r11 #6): exercise the RELIABLE checkpoint
    // path beyond fixture scale. Runs the two loop shapes at 10× twice —
    // local (default) then with `spark.graft.checkpointDir` set — and
    // prints an order-independent row checksum for each so the identical-
    // results claim is a printed fact, plus the wall delta (the price of
    // durable lineage cuts: checkpoint files vs executor blocks).
    if (args.contains("ckpt")) {
      val ckptDir = "/tmp/graft_ckpt_probe"
      for (name <- Seq("q255_kcore", "q195_connected_components")) {
        val d = SparkEntry.allDefs.find(_.name == name).get
        def runOnce(mode: String): Unit = {
          // coalesce: bit_xor over ZERO rows is NULL (ADVICE r12) — a
          // degenerate result must print rows=0, not MatchError the
          // remaining ckpt runs
          val (row, r) = best(1)(d.build(spark, tenXDir)
            .select(xxhash64(struct(col("*"))).as("h"))
            .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("hs"),
              count(lit(1)).as("n"))
            .collect()(0))
          println(f"[ckpt] $name%-28s $mode%-8s wall=${r.wallS}%7.3f s " +
            f"rows=${row.getLong(1)}%-8d checksum=${row.getLong(0)}%d")
        }
        d.build(spark, tenXDir).count() // warm (codegen + page cache)
        runOnce("local")
        spark.conf.set(Checkpoints.dirConf, ckptDir)
        runOnce("reliable")
        spark.conf.unset(Checkpoints.dirConf)
      }
    }

    // `streaming` mode (VERDICT r13 #6): the stateful streaming surface
    // beyond fixture scale — the one family SCALE.md had no rows for.
    // A 10× event stream (q26–q29 shape: disjoint-user replication,
    // SAME timestamps — 10× traffic over the same period, so per-window
    // group counts and open-session state must grow ~10×, which is
    // exactly the state-scaling question) is staged as time-ordered
    // file chunks and drained through real micro-batches
    // (maxFilesPerTrigger + AvailableNow) in APPEND mode, the
    // production mode where the watermark actually evicts state. Per
    // query: batches, input rows, PEAK state rows/bytes (the cluster
    // sizing number), final-batch state rows (eviction proof), wall.
    if (args.contains("streaming")) {
      import graft.streaming.EventStreams
      import org.apache.spark.sql.streaming.Trigger
      // 10× synthesis once (idempotent on the final chunk's existence)
      val chunks = 16
      def stage(label: String, src: org.apache.spark.sql.DataFrame,
          dir: String): Unit =
        // idempotence keys on the LAST chunk; a prior run that crashed
        // partway leaves chunks 0..k behind, so every move below must
        // REPLACE_EXISTING or the re-run wedges on FileAlreadyExists
        // over stale partial data forever (ADVICE r14)
        if (!new java.io.File(s"$dir/chunk-${chunks - 1}.parquet").exists()) {
          new java.io.File(dir).mkdirs()
          val bounds = src.agg(min(unix_micros(col("ts"))).as("lo"),
            max(unix_micros(col("ts"))).as("hi")).collect()(0)
          val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
          val span = math.max((hi - lo) / chunks + 1, 1L)
          // sequential single-file writes: the file source orders by
          // modification time, so chunk i arrives as micro-batch data
          // strictly after chunk i-1 — the landing-zone shape
          for (i <- 0 until chunks) {
            val tmp = s"$dir/.tmp-$i"
            src.filter(unix_micros(col("ts")) >= lo + i * span &&
                unix_micros(col("ts")) < lo + (i + 1) * span)
              .coalesce(1).write.mode("overwrite").parquet(tmp)
            val part = new java.io.File(tmp).listFiles()
              .find(_.getName.endsWith(".parquet")).get
            java.nio.file.Files.move(part.toPath,
              java.nio.file.Paths.get(s"$dir/chunk-$i.parquet"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            new java.io.File(tmp).listFiles().foreach(_.delete())
            new java.io.File(tmp).delete()
          }
        }
      val ev = Tables.events(spark, base)
      stage(baseTier, ev, "/tmp/graft_stream_1x")
      val ev10 = ev
        .select(col("*"), explode(sequence(lit(0), lit(9))).as("r"))
        .select((col("event_id") * 10 + col("r")).as("event_id"), col("ts"),
          (col("user_id") * 10 + col("r")).as("user_id"),
          col("event_type"), col("value"), col("props"))
      stage("10x", ev10, "/tmp/graft_stream_10x")
      val cases = Seq[(String, org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame)](
        ("q27_tumbling", EventStreams.tumblingStats),
        ("q28_sliding", EventStreams.slidingStats),
        ("q29_sessions", df => EventStreams.userSessions(df)),
        ("dedup_within_wm", df => EventStreams.dedupedEvents(df)))
      // `rocksdb` arg: re-run the 10× tier on the RocksDB state store —
      // the provider a 100 TB deployment actually uses once per-entity
      // state outgrows executor heap (state lives on local disk +
      // changelog, memory holds the working set). Same queries, same
      // results; the row to read is peak_state_mib (now native/off-heap
      // accounting) and the wall delta vs the default provider.
      val providerTiers =
        Seq((baseTier, "/tmp/graft_stream_1x", false),
          ("10x", "/tmp/graft_stream_10x", false)) ++
        (if (args.contains("rocksdb"))
          Seq(("10x-rocks", "/tmp/graft_stream_10x", true)) else Seq.empty)
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      for ((label, dir, rocks) <- providerTiers;
           (name, xform) <- cases) {
        if (rocks) spark.conf.set(providerKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        else spark.conf.unset(providerKey)
        val ckpt = java.nio.file.Files
          .createTempDirectory(s"graft_stream_ckpt_$name").toString
        val t0 = System.nanoTime()
        val q = xform(EventStreams.eventsStream(spark, dir,
            maxFilesPerTrigger = Some(1)))
          .writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(600000)
        val dt = (System.nanoTime() - t0) / 1e9
        val prog = q.recentProgress.toSeq
        val inputRows = prog.map(_.numInputRows).sum
        val stateRows = prog.flatMap(_.stateOperators.map(_.numRowsTotal))
        val stateBytes = prog.flatMap(_.stateOperators.map(_.memoryUsedBytes))
        q.stop()
        println(f"[stream] $name%-16s $label%-6s batches=${prog.size}%-4d " +
          f"input_rows=$inputRows%-9d peak_state_rows=${if (stateRows.isEmpty) 0L else stateRows.max}%-9d " +
          f"final_state_rows=${stateRows.lastOption.getOrElse(0L)}%-9d " +
          f"peak_state_mib=${if (stateBytes.isEmpty) 0.0 else stateBytes.max / 1048576.0}%7.2f " +
          f"wall=$dt%7.3f s")
      }
    }

    // Optional third tier: `runMain graft.ScaleProbe 100` adds a 100×
    // corpus (same disjoint-replica construction, written across many
    // files so scan-split geometry matches a real large layout) for a
    // flagship subset — three decades (1×/10×/100×) let SCALE.md fit
    // the scaling exponent instead of extrapolating from one step.
    // Single timed run, no warmup: at 30–100 s walls the one-time
    // codegen cost is noise, and each extra sample is a minute.
    if (args.contains("100")) {
      val hundredXDir = "/tmp/graft_scale_100x"
      val hundredXProbes = Seq("q36_corpus_prep", "q40_minhash_lsh",
        "q321_sharded_dedup_production", "q255_kcore",
        // broadened after q40's cliff: every distinct candidate/pair
        // kernel family gets a third decade — estimate-driven plan
        // flips are invisible until the estimates get big
        "q35_jaccard_pairs", "q41_simhash", "q107_triangle_census",
        "q42_knn_bruteforce", "q43_ann_hyperplane",
        // r11: both remaining loop SHAPES at the third decade — q255
        // covers peel-style; these cover pointer-doubling CC over two
        // differently-dense graphs
        "q195_connected_components", "q53_dup_groups",
        // r12: the heavy bench tail's third decade
        "q302_recsys_backtest", "q204_item_neighbors",
        "q217_hard_negatives", "q312_assortativity",
        // r13: the DIMSUM pair completes its three-decade series
        "q322_dimsum_similarity", "q323_dimsum_threshold",
        // r14: the band miner's third decade
        "q324_dimsum_hard_negatives",
        // r15: the per-item router's third decade
        "q326_hybrid_neighbors")
      // synthesize only the tables the WANTED probes read — a
      // trade-only 100× re-probe shouldn't pay the ~6 GiB doc/emb synth
      val tradeOnly = Set("q302_recsys_backtest", "q204_item_neighbors",
        "q217_hard_negatives", "q312_assortativity",
        "q322_dimsum_similarity", "q323_dimsum_threshold",
        "q324_dimsum_hard_negatives", "q326_hybrid_neighbors")
      val active = hundredXProbes.filter(wanted)
      if (active.exists(n => !tradeOnly(n))) {
        synthDocs(100, hundredXDir, spread = true)
        synthEmb(100, hundredXDir, spread = true)
      }
      if (active.exists(tradeOnly) || args.contains("capstone"))
        synthTrade(100, hundredXDir, spread = true)
      for (name <- active)
        probe(name, "100x", hundredXDir, samples = 1)
    }
    spark.stop()
  }
}
