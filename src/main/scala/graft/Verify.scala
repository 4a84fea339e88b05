package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure is LOUD by contract: a query that throws gets a row in
  * `errors.json` (always written, `{}` when clean) and a stderr line, so
  * a broken query can never again appear as silent absence from the
  * correctness report (round-6 lesson: 51 queries vanished traceless).
  */
object Verify {

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Resample targets (VERDICT r14 #1): ALL >2× regression-direction
    * flags, worst adjRatio first, bounded by [[resampleCap]]. The old
    * trigger additionally required the flag's span canary elevated
    * (>1.3× nearest-canary drift) — which excluded exactly the flags
    * that most needed adjudication: r14's official artifact shipped
    * three 3× "regression" flags at canary_ratio 1.25 (memory-heavy
    * co-tenant load that the ALU canary reads shallow) unresampled, on
    * code the round never touched; idle re-runs refuted all three. A
    * genuine regression reproduces on the second sample and host noise
    * collapses, so the second sample is always worth its wall — no
    * canary precondition. */
  private[graft] def resampleTargets(flags: Seq[Timings.Flag]): Seq[String] = {
    val regs = flags.filter(_.note.startsWith("regression"))
    regs.sortBy(-_.adjRatio).take(resampleCap(regs.size)).map(_.name)
  }

  /** Bounded, but generous (VERDICT r14 #3, re-tuned mid-r15): the
    * first r15 cut scaled as max(12, n/4), and this round's own first
    * clean sweep promptly left 5 of 17 regression flags unadjudicated
    * (q323/q325 — idle BenchOne refuted both within minutes) — the r14
    * failure shape at smaller scale. A resample costs one dump wall
    * (~2–20 s), so the bound exists only as a runaway stop, not a
    * budget: 48 covers every regression flag of a normal sweep AND of
    * the worst observed contended sweep (r14: 92 total flags, ~60
    * regression-direction), while n/4 keeps it monotonic past that. */
  private[graft] def resampleCap(nFlags: Int): Int = math.max(48, nFlags / 4)

  /** Merge a subset run's failures into the prior errors.json: prior
    * entries OUTSIDE the re-run set survive verbatim (their queries
    * were not exercised, so their last verdict stands); entries IN the
    * re-run set are replaced by the fresh outcome — including absence,
    * which is how a fixed query clears its record. The prior file is
    * parsed with a real JSON reader (json4s, on Spark's classpath) and
    * decoded values re-escape through the writer's own `q`, so the
    * merge is exact regardless of how the prior file was formatted
    * (pretty-printing, escaped-quote keys, re-serialization by an
    * external tool) — the previous regex scan was correct only for the
    * writer's own compact output.
    */
  private[graft] def mergeErrors(priorJson: Option[String],
      fresh: Seq[(String, String)], rerun: Set[String]): String = {
    import org.json4s._
    val prior: Seq[(String, String)] = priorJson.toSeq.flatMap { s =>
      org.json4s.jackson.JsonMethods.parse(s) match {
        case JObject(fields) =>
          fields.collect { case (k, JString(v)) if !rerun(k) => (k, v) }
        case _ => Seq.empty
      }
    }
    (prior ++ fresh).map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query ...]")
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per-query wall time of the dump (build + write). This is NOT the
    // bench — single sample, shared session, write included — but it
    // turns every correctness run into a coarse timing sweep, which is
    // how q306-class monsters (hash-green, never timed, O(steps × scan))
    // get caught on the full 322-query surface the 31-query bench
    // doesn't cover (round-10 lesson: done = hash-green AND timed).
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // Untimed session warmup. The first analysis-heavy query in run
    // order otherwise absorbs the one-time JVM/JIT + Catalyst/codegen
    // init (~6-7 s on this runtime): SparkEntry.queries is a hash-ordered
    // Map, and q146 happened to iterate first for rounds 1-11, so every
    // full dump reported it at ~8 s when its warm cost is ~1 s (stack
    // samples during the window showed CheckAnalysis + C1/C2 compiler
    // threads, not query work). Warm with the floor query plus the
    // flagship entry so the timed loop starts on a JIT-warm analyzer.
    try {
      SparkEntry.queries.get("q000_bench_floor")
        .foreach(_(spark, sfDir).collect())
      SparkEntry.entry(spark).count()
      // exercise the hot expression families once (windows, stat aggs,
      // percentiles, string funcs, persist+cache-scan) so their lazy
      // codegen/JIT lands here instead of on the first timed queries of
      // the first module (measured: the head-of-order queries otherwise
      // read 2-9x their steady-state dump wall)
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(col("i"))
      val warm = spark.range(1000).toDF("i")
        .select(col("i"), pmod(col("i"), lit(7)).as("k"),
          concat(lit("w"), col("i").cast("string")).as("s"))
        .persist()
      warm.select(col("i"), col("k"),
          rank().over(w).as("r"), avg(col("i")).over(w).as("m"),
          upper(col("s")).as("u"), length(col("s")).as("l"))
        .groupBy(col("k"))
        .agg(skewness(col("i")), kurtosis(col("i")), stddev(col("i")),
          percentile_approx(col("i"), lit(0.5), lit(100)),
          count_distinct(col("u")), max(col("r")), avg(col("m")))
        .collect()
      warm.unpersist()
    } catch { case _: Throwable => () }
    spark.catalog.clearCache()
    // Contention canary (the r12 lesson): the fixed 32-task CPU spin
    // Bench carries, measured once after warmup and once after the
    // loop, recorded in TIMINGS_r{N}.json. A dump started minutes
    // after a test suite reads its early queries 2-3x elevated while
    // the 1-row floor sees nothing; the canary pair makes that state
    // visible and lets next round's diff label flags contended.
    def canarySample(): Option[Double] =
      try Some(Bench.contentionCanary(spark, cpus))
      catch { case _: Throwable => None }
    try (1 to 3).foreach { _ => // untimed warm, both canaries — THREE
      // reps: the first marks otherwise carry the JVM's own C2/heap-
      // expansion cost and read as a contended span at sweep start
      // (measured r15: mark-0 ALU ~2x, bw ~4x settled values, idle)
      Bench.contentionCanary(spark, cpus)
      Bench.bandwidthCanary(spark, cpus)
    } catch { case _: Throwable => () }
    // Interleaved canary SERIES (r13): the start/end pair is blind to
    // MID-run contention — a concurrent job bracketed by two idle
    // canaries put 10 unlabeled false flags in an r13 sweep. A mark
    // every [[canaryEvery]] queries (~20 extra 0.2 s spins over a
    // 323-query dump) gives the TIMINGS diff a per-position drift
    // column, same as Bench's sweep. The BANDWIDTH canary rides the
    // same marks since r15: this round's first clean sweep read its
    // ALU series fast (min 0.156) while a dozen dump walls sat 2×
    // elevated — the memory-shaped load the ALU spin can't see
    // (VERDICT r14 #6); span labeling now takes the worse of the two
    // drifts at each position.
    val canaryEvery = 16
    val canarySeries = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val bwSeries = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val floorSeries = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    // The FLOOR mark: min-of-2 dumps of the 1-row floor query — the
    // fixed harness overhead INCLUDING the parquet write. This is the
    // third load axis (r16): a same-code re-sweep read its tail 3×
    // slow while BOTH canaries sat idle (ALU 0.16–0.23, bw 0.05–0.08)
    // and only the floor betrayed it (0.158 → 0.273) — IO/scheduler-
    // shaped load that CPU and memory-bandwidth spins cannot see.
    // EVIDENCE series only for now: the bench-side floor series
    // spreads 5–9× across idle rounds (scheduling jitter dominates a
    // 0.1 s job), so a labeling bar must be calibrated from recorded
    // idle series before it can adjudicate — recording is how that
    // calibration data accrues.
    val floorFn = {
      val f = SparkEntry.queries.get(Timings.floorName)
      () => f.map { fn =>
        def one(): Double = {
          val t0 = System.nanoTime()
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/.floorprobe")
          (System.nanoTime() - t0) / 1e9
        }
        math.min(one(), one())
      }
    }
    def mark(idx: Int): Unit = {
      canarySample().foreach(v => canarySeries += ((idx, v)))
      // min-of-2 bw mark (r16, see Bench.bandwidthMark): bracket-max
      // span labeling would amplify a one-shot GC outlier into a
      // whole mislabeled span
      try bwSeries += ((idx, Bench.bandwidthMark(spark, cpus)))
      catch { case _: Throwable => () }
      try floorFn().foreach(v => floorSeries += ((idx, v)))
      catch { case _: Throwable => () }
    }
    mark(0)
    // position-0 mark explicitly (ADVICE r13): if the first sample
    // failed, headOption would resolve to a MID-run mark and mislabel
    // it as the run's start, skewing the whole-run contended check
    val canaryStart = canarySeries.find(_._1 == 0).map(_._2)
    // Deterministic declaration order (allDefs), not Map hash order:
    // stable round-over-round, so the TIMINGS vs_prev diff compares each
    // query at the same session age.
    val ran = SparkEntry.allDefs.map(d => (d.name, d.build))
      .filter { case (name, _) => only.isEmpty || only(name) }
    val posOf = ran.map(_._1).zipWithIndex.toMap
    ran.zipWithIndex.foreach { case ((name, fn), i) =>
      if (i > 0 && i % canaryEvery == 0) mark(i)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: $e")
        errors(name) = Option(e.getMessage).getOrElse(e.toString).take(1000)
      }
      // release per-query persisted intermediates (ScaledWindows pass-1
      // materialization, Materialize caches) so a 244-query battery
      // doesn't accrete executor storage
      finally {
        operators.ScaledWindows.release()
        spark.catalog.clearCache()
        // a THROWN query is errors.json's job (ADVICE r11): recording
        // its elapsed-until-throw here would let a working→fast-failing
        // regression flag as an "improvement" in the TIMINGS diff and
        // count toward the minQueries completeness gate
        if (!errors.contains(name))
          timings(name) = (System.nanoTime() - t0) / 1e9
      }
    }
    // like errors.json below, a subset run must MERGE with the prior
    // sweep's timings — clobbering would erase the full-surface sweep
    // the subset re-gate rode on
    val timPath = Paths.get(s"$outDir/timings.json")
    if (only.nonEmpty && Files.exists(timPath)) {
      val numRx = """"([^"]+)"\s*:\s*([0-9.]+)""".r
      for (m <- numRx.findAllMatchIn(Files.readString(timPath))
           if !timings.contains(m.group(1)))
        timings(m.group(1)) = m.group(2).toDouble
    }
    Files.writeString(timPath,
      timings.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: " + f"$v%.3f" }
        .mkString("{", ",", "}"))
    val slow = timings.toSeq.sortBy(-_._2).take(8)
      .filter(_._2 > 5.0)
    if (slow.nonEmpty)
      System.err.println("[verify] slowest (>5s dump wall): " +
        slow.map { case (k, v) => f"$k=$v%.1fs" }.mkString(", "))
    // round artifact + mechanical >2x diff vs the prior round's sweep
    // (VERDICT r10 #1) — no-op outside the repo root / gate scale, and
    // a subset re-run into a FRESH outDir (timings merge finds nothing)
    // must not publish a thin artifact as the round's full sweep
    mark(ran.size)
    val canaryEnd = canarySeries.lastOption.filter(_ => canarySeries.size > 1)
      .map(_._2)
    for (a <- canaryStart; b <- canaryEnd)
      System.err.println(f"[verify] canary start=$a%.3f s end=$b%.3f s " +
        f"min=${canarySeries.map(_._2).min}%.3f max=${canarySeries.map(_._2).max}%.3f")
    // Bounded in-run resampling (VERDICT r13 #4, widened r15 per
    // VERDICT r14 #1): every >2× regression-direction vs_prev flag is
    // re-dumped ONCE (worst adj-ratio first, cap scaled with the flag
    // count — see resampleTargets/resampleCap), the faster wall folds
    // into the artifact's timing, and BOTH walls are recorded so the
    // reader sees whether the reading reproduced. No span-canary
    // precondition: r14's three unadjudicated 3× flags sat at
    // canary_ratio 1.25 — under the bar — because memory-heavy load
    // reads shallow on the ALU canary; a genuine regression reproduces
    // on the second sample regardless. Full sweeps only — a subset
    // re-gate has no business rewriting the round's timings.
    val resampled = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val resampleCanary =
      scala.collection.mutable.Map.empty[String, (Double, Double)]
    if (only.isEmpty) try {
      val root = new java.io.File(".")
      for (n <- Timings.currentRound(root);
           prior <- Timings.latestPrior(root, n, new java.io.File(sfDir).getName)) {
        val suspects = resampleTargets(Timings.diff(prior.timings, timings.toMap))
        if (suspects.nonEmpty)
          System.err.println(s"[verify] resampling ${suspects.size} " +
            s">2x regression-direction flags: ${suspects.mkString(",")}")
        // The resample pass runs at sweep END, where the tail is often
        // the sweep's most contended stretch (this round's own first
        // sweep: final ALU mark 2.1× the run min — and all three
        // resampled "regressions" dutifully reproduced inside it). A
        // reproduced reading proves nothing if both samples ran under
        // load, so each resample (a) WAITS briefly — bounded — for the
        // ALU canary to re-enter 1.3× of the run min, and (b) records
        // the canary pair taken right after its wall, which the round
        // artifact publishes per flag (the reader sees whether the
        // second sample is evidence or noise).
        val runMin = canarySeries.map(_._2).filter(_ > 0)
          .minOption.getOrElse(0.0)
        // the ALU span bar (floor-derived, see Bench.aluBarOf): the
        // gate must not wait out the instrument's own idle spread
        val gateBar = Bench.aluBarOf(Bench.loadFloorFile(root))
        // per-resample gate waits share one bounded budget: a fully
        // contended tail must cost minutes, not (48 flags × 40 s)
        var gateBudgetMs = 300000L
        suspects.foreach { s =>
          ran.find(_._1 == s).foreach { case (name, fn) =>
            var gate = 0
            while (gate < 4 && gateBudgetMs > 0 && runMin > 0 &&
                canarySample().exists(_ / runMin > gateBar)) {
              gate += 1; Thread.sleep(10000); gateBudgetMs -= 10000
            }
            val t0 = System.nanoTime()
            try {
              fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/$name")
              val w2 = (System.nanoTime() - t0) / 1e9
              resampled(name) = Seq(timings(name), w2)
              timings(name) = math.min(timings(name), w2)
              for (a <- canarySample()) {
                val b = try Bench.bandwidthMark(spark, cpus)
                        catch { case _: Throwable => -1.0 }
                resampleCanary(name) = (a, b)
              }
            } catch { case e: Throwable =>
              System.err.println(s"[verify] resample $name FAILED: $e")
            } finally {
              operators.ScaledWindows.release()
              spark.catalog.clearCache()
            }
          }
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] resample pass skipped: ${e.getMessage}")
    }
    // FULL sweeps only (r14): a subset re-gate used to slip past the
    // minQueries guard via the timings MERGE and republish the round
    // artifact with its own (1-query) canary state applied to all 324
    // merged flags — every full-sweep span label was clobbered by a
    // whole-run verdict from a run that executed one query. The round
    // artifact is the full sweep's testimony; subsets update
    // timings.json/errors.json and stop there.
    if (only.isEmpty)
      Timings.writeRoundArtifact(new java.io.File("."), sfDir, timings.toMap,
        minQueries = (SparkEntry.queries.size * 9) / 10,
        canary = for (a <- canaryStart; b <- canaryEnd) yield (a, b),
        canarySeries = canarySeries.toSeq, posOf = posOf,
        resampled = resampled.toMap, bwSeries = bwSeries.toSeq,
        resampleCanary = resampleCanary.toMap,
        floorSeries = floorSeries.toSeq)
    else System.err.println(s"[verify] subset run (${only.size} queries): " +
      "round artifact left to the next full sweep")
    // subset runs must MERGE with prior errors: rewriting errors.json
    // with only the subset's failures would erase the recorded failure
    // of every query outside the subset (silent-absence, again)
    val errPath = Paths.get(s"$outDir/errors.json")
    val priorJson =
      if (only.nonEmpty && Files.exists(errPath)) Some(Files.readString(errPath))
      else None
    Files.writeString(errPath, mergeErrors(priorJson, errors.toSeq, only))
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size}/${ran.size} queries FAILED: " +
          errors.keys.mkString(", "))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
