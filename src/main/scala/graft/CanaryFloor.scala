package graft

/** Idle-floor measurement tool (VERDICT r13 #1): samples the fixed
  * 32-task contention canary N times in a fresh JVM and prints the
  * min / median / max, formatted as the `BENCH_CANARY_FLOOR.json`
  * body. The floor file is committed BY HAND from runs of this tool on
  * an idle host (pass `write` to emit the file) — Bench only ever
  * READS it, so a loaded run can never raise its own bar. The floor is
  * the cross-round anchor `hostInflation` divides by; idle-to-idle
  * JVM float (measured ~0.15–0.27 s across rounds) is why the refusal
  * threshold is the 1.3× drift band, not equality.
  *
  * Usage: runMain graft.CanaryFloor [reps] [write]
  */
object CanaryFloor {
  def main(args: Array[String]): Unit = {
    val reps = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(7)
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)
    Bench.contentionCanary(spark, cpus) // untimed JIT warm
    Bench.bandwidthCanary(spark, cpus)
    // interleaved sampling (ALU, then bandwidth, per rep) so both
    // floors see the same minutes of host state. The bw draw is the
    // min-of-2 MARK statistic (r16) — the floor's band must be the
    // spread of the same statistic the sweeps record, or bwBarOf
    // derives a bar for an instrument nobody runs anymore.
    val pairs = (1 to reps).map(_ =>
      (Bench.contentionCanary(spark, cpus), Bench.bandwidthMark(spark, cpus)))
    val samples = pairs.map(_._1)
    val bw = pairs.map(_._2)
    val med = Bench.median(samples).get
    val bwMed = Bench.median(bw).get
    val round = Timings.currentRound(new java.io.File(".")).getOrElse(0)
    // Timestamp + history (VERDICT r15 #5): the floor drifts with the
    // host's speed modes (measured 0.175–0.547 ALU over two hours), so
    // Bench treats a floor older than floorMaxAgeHours as stale and
    // takes its own startup probe. `measured_at_ms` dates this
    // measurement; `history` carries the prior file's summary rows
    // (capped) so the drift trail survives refreshes.
    val nowMs = System.currentTimeMillis()
    val history: String = {
      val prior = scala.util.Try(java.nio.file.Files.readString(
        java.nio.file.Paths.get("BENCH_CANARY_FLOOR.json"))).toOption
      val priorRow = prior.flatMap { text =>
        def num(k: String): Option[String] =
          (""""""" + k + """"\s*:\s*([0-9.]+)""").r
            .findFirstMatchIn(text).map(_.group(1))
        num("canary_floor").map { cf =>
          s"""{"measured_at_ms":${num("measured_at_ms").getOrElse("0")},""" +
          s""""canary_floor":$cf,"bw_floor":${num("bw_floor").getOrElse("0")},""" +
          s""""updated_round":${num("updated_round").getOrElse("0")}}"""
        }
      }
      val priorHist = prior.toSeq.flatMap(text =>
        """"history"\s*:\s*\[(.*?)\]""".r.findFirstMatchIn(text)
          .map(_.group(1)).filter(_.nonEmpty).toSeq
          .flatMap(_.split("""(?<=\}),(?=\{)""").toSeq))
      (priorHist ++ priorRow).takeRight(20).mkString("[", ",", "]")
    }
    // canary_floor / bw_floor are the idle MEDIANS, not the mins:
    // hostInflation is a median-over-floor ratio, and median/median is
    // the like-for-like comparison — dividing a run median by a lucky
    // idle min would read ordinary idle spread as inflation. min/max
    // are the idle BANDS the refusal's mode check reads (ADVICE r14:
    // this host's idle canary floats >2x across speed modes, so a run
    // band disjoint from the idle band is mode-ambiguous evidence, not
    // provable load).
    val body =
      f"""{"canary_floor":$med%.3f,"min":${samples.min}%.3f,""" +
      f""""max":${samples.max}%.3f,"bw_floor":$bwMed%.3f,""" +
      f""""bw_min":${bw.min}%.3f,"bw_max":${bw.max}%.3f,""" +
      f""""reps":$reps,"updated_round":$round,""" +
      s""""measured_at_ms":$nowMs,"history":$history,""" +
      s""""source":"idle CanaryFloor run","samples":[""" +
      samples.map(v => f"$v%.3f").mkString(",") + """],"bw_samples":[""" +
      bw.map(v => f"$v%.3f").mkString(",") + """],"note":""" +
      "\"canary_floor/bw_floor are idle-run MEDIANS (hostInflation " +
      "compares run-median/floor, like for like); min/max and " +
      "bw_min/bw_max are the idle BANDS the refusal's mode check reads. " +
      "Updated ONLY by hand from idle `runMain graft.CanaryFloor` runs " +
      "- Bench reads, never writes. Idle absolute values float across " +
      "sessions/JVMs (r12 min 0.148, r13 idle 0.197-0.266, r14 idle " +
      "0.253-0.313), so a run band disjoint from these bands is " +
      "mode-ambiguous EVIDENCE (host_inflation + note), not a refusal; " +
      "the clean headline's primary defense remains dirty-mass " +
      "exclusion.\"}"
    println(body)
    if (args.contains("write"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_CANARY_FLOOR.json"), body)
    spark.stop()
  }
}
