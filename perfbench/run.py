#!/usr/bin/env python3
"""Benchmark of the capstone ETL and the heavy headline queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):
  etl_full       the capstone job on seeded, reference-shaped CSV inputs:
                 read -> buildStarSchema -> writeStarSchema -> checkAll,
                 in a fresh JVM, as it runs in production.
  queries_heavy  q204, q217, q258, q302, q322, q326 on the fixed seed-42
                 sf0.01 corpus, in a fresh JVM after an untimed warm-up
                 pass over the same six, each result folded in full over
                 the executed plan.

The first run in a checkout builds the engine and the benchmark with sbt.
Every output is checked: the ETL against the counts its input generator
planted plus the QC battery, each query against a recorded fingerprint.
The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). Exit code 1 means a correctness check failed,
2 means the benchmark could not run. A unit during which the hypervisor
stole more than STEAL_MAX of the CPU time is discarded and run again
while time remains; see repeat_units.

--plant-wrong plants one wrong expected answer (a planted count or a
fingerprint off by one) so the checks can be shown to fire.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "queries_sf0.01.json")

HEAVY = ["q204_item_neighbors", "q217_hard_negatives", "q258_randomization_test",
         "q302_recsys_backtest", "q322_dimsum_similarity", "q326_hybrid_neighbors"]
# Share of the reference's row counts the ETL inputs are generated at.
ETL_SCALE = 1 / 16
# Fixed heap (initial = maximum), so GC work and memory figures compare
# across runs.
XMX = "4g"
# A run must end within 180 s; a JVM still running at this point is killed.
RUN_DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
KEEP_INPUT_SEEDS = 10
# Largest share of CPU time the hypervisor may steal during a measured
# unit. On a 4-core host, units under 2-20% steal read 20-80% slower
# than quiet ones; such a unit is discarded and run again (repeat_units).
STEAL_MAX = 0.02
MIB = 1048576.0

END_TO_END = ["setup_s", "wall_s", "input_rows_per_s", "output_bytes_per_input_byte"]
QUERY_LAYERS = [f"query.{q}.s" for q in HEAVY] + ["operators.plan_s", "operators.exec_s"]
ETL_LAYERS = [
    "scan.s", "scan.input_mib", "scan.records",
    "clean.s", "clean.rows_in", "clean.rows_out", "clean.dropped.imm_all_null",
    "clean.dropped.temp_null", "clean.dropped.temp_dup", "clean.dropped.demo_null",
    "starschema.s", "starschema.immigration_fact.rows", "starschema.visa_type_dim.rows",
    "starschema.immigration_calendar_dim.rows", "starschema.country_dim.rows",
    "starschema.usa_demographics_dim.rows",
    "write.s", "write.output_mib", "write.files", "write.leaf_dirs",
    "qc.s", "qc.input_mib", "qc.checks", "qc.failed"]
PER_LAYER = (["session.create_s", "session.warmup_s"] + ETL_LAYERS + QUERY_LAYERS + [
    "exchange.shuffle_write_mib", "exchange.shuffle_read_mib", "exchange.spill_mib",
    "spark.jobs", "spark.stages", "spark.tasks",
    "executor.cpu_s", "executor.run_s", "executor.gc_s", "executor.utilization",
    "jvm.heap_peak_mib", "jvm.peak_rss_mib", "jvm.jit_s", "trace.overhead_s"])
# Layers a workload does not call; their per-layer metrics read 0 there.
BYPASSED = {"etl_full": ["session.warmup_s"] + QUERY_LAYERS, "queries_heavy": ETL_LAYERS}


def unit(metric):
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_mib"):
        return "MiB"
    if metric in ("output_bytes_per_input_byte", "executor.utilization"):
        return "ratio"
    return "count"

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    """The benchmark could not run (exit code 2, no result printed)."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def mem_total_kib():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def run_proc(cmd, cwd, env, timeout, log_path):
    """Run `cmd` to completion, killing it (and waiting) on timeout."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            log(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=20):
    try:
        with open(path) as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ------------------------------------------------------------------ build

def source_files():
    """Engine and benchmark sources; a change to any of them rebuilds."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")] + \
        [os.path.join(HERE, n) for n in os.listdir(HERE) if n.endswith(".py")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")] if d != r else \
                [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(f for f in files if os.path.isfile(f))


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(sha):
    """Compile engine and benchmark once per source tree; return the classpath."""
    out = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == sha:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(out, exist_ok=True)
    log("building engine and benchmark with sbt (first run in this checkout)")
    build_log = os.path.join(out, "sbt.log")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no sbt server (its socket would go outside the checkout)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", "compile", "export bench/Runtime/fullClasspath"]
    code = run_proc(cmd, HERE, sbt_env(), BUILD_TIMEOUT_S, build_log)
    if code != 0:
        raise BenchError(f"sbt build failed (exit {code}):\n{tail(build_log)}")
    marker = os.path.join(HERE, "target", "scala-2.13", "classes")
    with open(build_log) as f:
        lines = [l.strip() for l in f if l.startswith(marker)]
    if not lines:
        raise BenchError("sbt did not print the benchmark classpath")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(sha)
    return lines[-1]


# -------------------------------------------------------------------- jvm

def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm(cp, main, args, deadline, name):
    """Run one benchmark JVM; return its exit code. A JVM still running at
    the deadline is killed: the run cannot measure (BenchError)."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, os.path.join(WORK, "logs")):
        os.makedirs(d, exist_ok=True)
    cmd = [java_bin()]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{XMX}", f"-Xmx{XMX}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "-cp", cp, main] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(WORK, "logs", f"{name}.log")
    code = run_proc(cmd, WORK, env, deadline - time.monotonic(), log_path)
    if code is None:
        raise BenchError(f"{name} did not finish before the run's deadline")
    if code != 0:
        log(f"{name}: JVM exited with {code}\n{tail(log_path)}")
    return code


def read_json(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


class Tally:
    """Operations attempted and failed; a failure is an exception, a
    failed QC check or a result that differs from the expected one."""

    def __init__(self):
        self.attempted, self.failed, self.failures = 0, 0, []

    def check(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            log(f"FAILED: {what}")
        return ok


def executor_layers(counts, wall_s):
    return {
        "exchange.shuffle_write_mib": counts["shuffle_write_bytes"] / MIB,
        "exchange.shuffle_read_mib": counts["shuffle_read_bytes"] / MIB,
        "exchange.spill_mib": counts["spill_bytes"] / MIB,
        "spark.jobs": counts["jobs"],
        "spark.stages": counts["stages"],
        "spark.tasks": counts["tasks"],
        "executor.cpu_s": counts["cpu_ns"] / 1e9,
        "executor.run_s": counts["run_ms"] / 1e3,
        "executor.gc_s": counts["gc_ms"] / 1e3,
        "executor.utilization": counts["run_ms"] / 1e3 / (wall_s * cpus()),
    }


def steal_share(t0, t1):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings."""
    return (t1[0] - t0[0]) / max(t1[1] - t0[1], 1)


def repeat_units(a, run_unit, check, tally, deadline, detail):
    """Fresh-JVM units until `a.seconds` have passed, at least one.

    A unit under more than STEAL_MAX steal is discarded and run again while
    another unit fits before the deadline. With no clean unit in time the
    run reports its least contended unit and marks the record `contended`,
    which compare.py skips."""
    units, stolen = [], []
    t0 = time.monotonic()
    while not units or time.monotonic() - t0 < a.seconds:
        u0, ticks0 = time.monotonic(), cpu_ticks()
        try:
            r = run_unit(f"unit{len(units) + len(stolen)}")
        except BenchError:  # a retry overran the deadline: keep what was measured
            if not stolen:
                raise
            break
        if not tally.check(r is not None, f"{a.workload} unit {len(units)} raised"):
            break
        check(r)
        # the larger of the whole unit's steal and the JVM's own reading
        # over what it timed
        r["steal_share"] = max(steal_share(ticks0, cpu_ticks()), r["steal_share"])
        if r["steal_share"] <= STEAL_MAX:
            units.append(r)
            continue
        stolen.append(r)
        log(f"unit discarded: the hypervisor stole {r['steal_share']:.1%} of the CPU "
            f"(more than {STEAL_MAX:.0%})")
        if deadline - time.monotonic() < 1.25 * (time.monotonic() - u0):
            break
    detail["discarded"] = stolen
    if units or not stolen:
        return units
    detail["contended"] = True
    log("no unit ran under the steal limit in time; reporting the least contended one, "
        "marked contended")
    return [min(stolen, key=lambda r: r["steal_share"])]


def untraced_walls(a):
    """wall_s of this checkout's untraced runs of the workload on these
    sources; runs with a failed check or a planted wrong answer are left out."""
    out_dir = os.path.join(WORK, "results")
    recs = [read_json(os.path.join(out_dir, f)) for f in sorted(os.listdir(out_dir))
            if f.startswith(f"{a.workload}-seed") and f.endswith("-trace0.json")] \
        if os.path.isdir(out_dir) else []
    return [r["end_to_end"]["wall_s"] for r in recs
            if r and r["end_to_end"] and not r["failures"]
            and not r["provenance"].get("plant_wrong")
            and r["provenance"]["source_sha256"] == a.sha]


# ---------------------------------------------------------------- etl_full

def etl_inputs(cp, seed, deadline):
    """Generated inputs for `seed`, cached outside the timed section."""
    base = os.path.join(WORK, "etl-inputs")
    d = os.path.join(base, f"seed-{seed}-scale-{ETL_SCALE:.6f}")
    manifest = os.path.join(d, "planted.json")
    if not os.path.isfile(manifest):
        shutil.rmtree(d, ignore_errors=True)
        partial = d + ".partial"
        shutil.rmtree(partial, ignore_errors=True)
        if jvm(cp, "perfbench.EtlInputs", [partial, str(seed), repr(ETL_SCALE)],
               deadline, f"gen-{seed}") != 0:
            raise BenchError("input generator failed")
        os.rename(partial, d)
    os.utime(d)
    cached = sorted((os.path.join(base, x) for x in os.listdir(base)
                     if not x.endswith(".partial")), key=os.path.getmtime)
    for old in cached[:-KEEP_INPUT_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    with open(manifest) as f:
        return d, json.load(f)


def etl_rep(cp, inputs, traced, deadline, tag):
    out = os.path.join(WORK, "etl-out")
    res = os.path.join(WORK, f"etl-{tag}.json")
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(res):
        os.remove(res)
    code = jvm(cp, "perfbench.BenchMain",
               ["etl", inputs, out, "1" if traced else "0", res],
               deadline, f"etl-{tag}")
    shutil.rmtree(out, ignore_errors=True)
    return read_json(res) if code == 0 else None


def csv_rows(inputs, name):
    """Data lines of a generated CSV (no field holds a newline)."""
    with open(os.path.join(inputs, name), "rb") as f:
        return sum(1 for _ in f) - 1


def check_etl(r, inputs, planted, tally):
    """QC battery and planted counts; each is one attempted operation."""
    r["rows"].update({k: csv_rows(inputs, f"{k}.csv")
                      for k in ("immigration", "temperatures", "demographics")})
    for q in r["qc"]:
        tally.check(q["passed"], f"QC {q['table']} {q['check']} (count {q['count']})")
    rows, star, drop = r["rows"], r["rows"]["star"], planted["dropped"]
    measured_drop = {
        "imm_all_null": rows["immigration"] - star["immigration_fact"],
        "temp_null": rows["temperatures"] - rows["temperatures_nonnull"],
        "temp_dup": rows["temperatures_nonnull"] - rows["temperatures_clean"],
        "demo_null": rows["demographics"] - star["usa_demographics_dim"],
    }
    for k, v in drop.items():
        tally.check(measured_drop[k] == v, f"clean.dropped.{k}: {measured_drop[k]} != planted {v}")
    for k, v in (("immigration", planted["immigration_rows"]),
                 ("temperatures", planted["temperature_rows"]),
                 ("demographics", planted["demographics_rows"])):
        tally.check(rows[k] == v, f"input rows {k}: {rows[k]} != planted {v}")
    for t, v in planted["star_rows"].items():
        tally.check(star[t] == v, f"starschema.{t}.rows: {star[t]} != planted {v}")
    return measured_drop


def run_etl(cp, a, deadline, tally, detail):
    inputs, planted = etl_inputs(cp, a.seed, deadline)
    if a.plant_wrong:
        planted["dropped"]["temp_dup"] += 1
    raw_rows = (planted["immigration_rows"] + planted["temperature_rows"]
                + planted["demographics_rows"] + planted["country_code_rows"])
    # A traced run takes its untraced baseline from the checkout's earlier
    # untraced runs when there are any, and measures one itself otherwise.
    baseline = untraced_walls(a) if a.trace else []
    e2e = {}
    if not baseline:
        reps = repeat_units(a, lambda tag: etl_rep(cp, inputs, False, deadline, tag),
                            lambda r: check_etl(r, inputs, planted, tally), tally,
                            deadline, detail)
        detail["units"] = reps
        if not reps:
            return {}, {}
        wall = statistics.median(r["wall_s"] for r in reps)
        baseline = [wall]
        e2e = {
            "setup_s": statistics.median(r["setup_s"] for r in reps),
            "wall_s": wall,
            "input_rows_per_s": raw_rows / wall,
            "output_bytes_per_input_byte": statistics.median(
                r["output"]["bytes"] / r["input_bytes"] for r in reps),
        }
    if not a.trace:
        return e2e, {}
    tr = etl_rep(cp, inputs, True, deadline, "traced")
    if not tally.check(tr is not None, "traced etl unit raised"):
        return e2e, {}
    drop = check_etl(tr, inputs, planted, tally)
    detail["traced"] = tr
    L, rows, star = tr["layers"], tr["rows"], tr["rows"]["star"]
    layers = {
        "session.create_s": tr["setup_s"],
        "scan.s": L["scan.s"], "scan.input_mib": L["scan.input_mib"],
        "scan.records": L["scan.records"],
        "clean.s": L["clean.s"],
        "clean.rows_in": rows["immigration"] + rows["temperatures"] + rows["demographics"],
        "clean.rows_out": star["immigration_fact"] + rows["temperatures_clean"]
        + star["usa_demographics_dim"],
        "starschema.s": L["starschema.s"],
        "write.s": L["write.s"],
        "write.output_mib": tr["output"]["bytes"] / MIB,
        "write.files": tr["output"]["files"],
        "write.leaf_dirs": tr["output"]["leaf_dirs"],
        "qc.s": L["qc.s"], "qc.input_mib": L["qc.input_mib"],
        "qc.checks": len(tr["qc"]), "qc.failed": sum(not q["passed"] for q in tr["qc"]),
        "jvm.heap_peak_mib": tr["jvm"]["heap_peak_mib"],
        "jvm.peak_rss_mib": tr["jvm"]["peak_rss_mib"],
        "jvm.jit_s": tr["jvm"]["jit_s"],
        "trace.overhead_s": tr["wall_s"] - statistics.median(baseline),
    }
    layers.update({f"clean.dropped.{k}": v for k, v in drop.items()})
    layers.update({f"starschema.{t}.rows": n for t, n in star.items()})
    layers.update(executor_layers(L["counts"], tr["wall_s"]))
    return e2e, layers


# ------------------------------------------------------------ queries_heavy

def fingerprint_matches(got, exp):
    """Exact on rows and the exact-cell hash; floating columns within the
    oracle's 1e-12 per-cell tolerance plus the sums' own rounding."""
    if got["rows"] != exp["rows"] or got["hash"] != exp["hash"]:
        return False
    if set(got["float_sum"]) != set(exp["float_sum"]) or got["weight"] != exp["weight"]:
        return False
    for c, s in exp["float_sum"].items():
        norm = exp["float_norm"][c]
        tol = 1e-12 * (norm + exp["weight"]) + 4.4e-16 * exp["rows"] * norm
        if abs(got["float_sum"][c] - s) > tol:
            return False
    return True


def query_unit(cp, order, traced, deadline, tag):
    res = os.path.join(WORK, f"queries-{tag}.json")
    if os.path.exists(res):
        os.remove(res)
    code = jvm(cp, "perfbench.BenchMain",
               ["queries", CORPUS, ",".join(order), "1" if traced else "0", res],
               deadline, f"queries-{tag}")
    return read_json(res) if code == 0 else None


def check_queries(r, expected, tally):
    for e in r["execs"]:
        ok = e["error"] is None and fingerprint_matches(e["fp"], expected[e["name"]])
        tally.check(ok, f"{e['name']} ({e['pass']}): "
                    + (e["error"] or f"fingerprint {e['fp']} != expected"))


def run_queries(cp, a, deadline, tally, detail, names):
    with open(EXPECTED) as f:
        expected = json.load(f)["queries"]
    if a.plant_wrong:
        first = expected[names[0]]
        first["hash"] = format((int(first["hash"], 16) + 1) % (1 << 64), "x")
    order = list(names)
    random.Random(a.seed).shuffle(order)
    baseline = untraced_walls(a) if a.trace else []
    e2e = {}
    if not baseline:
        units = repeat_units(a, lambda tag: query_unit(cp, order, False, deadline, tag),
                             lambda r: check_queries(r, expected, tally), tally,
                             deadline, detail)
        detail["units"] = units
        if not units:
            return {}, {}
        wall = statistics.median(r["pass_s"] for r in units)
        baseline = [wall]
        r0 = units[0]
        timed0 = [e for e in r0["execs"] if e["pass"] == "timed" and e["fp"]]
        corpus = r0["corpus"]
        in_rows = sum(corpus[t]["rows"] for q in order for t in r0["tables"].get(q, []))
        in_bytes = sum(corpus[t]["bytes"] for q in order for t in r0["tables"].get(q, []))
        e2e = {
            "setup_s": statistics.median(r["setup_s"] for r in units),
            "wall_s": wall,
            "input_rows_per_s": in_rows / wall,
            "output_bytes_per_input_byte": sum(e["fp"]["bytes"] for e in timed0) / in_bytes,
        }
    if not a.trace:
        return e2e, {}
    tr = query_unit(cp, order, True, deadline, "traced")
    if not tally.check(tr is not None, "traced query unit raised"):
        return e2e, {}
    check_queries(tr, expected, tally)
    detail["traced"] = tr
    L = tr["layers"]
    layers = {
        "session.create_s": tr["create_s"], "session.warmup_s": tr["warmup_s"],
        "operators.plan_s": L["plan_s"], "operators.exec_s": L["exec_s"],
        "jvm.heap_peak_mib": tr["jvm"]["heap_peak_mib"],
        "jvm.peak_rss_mib": tr["jvm"]["peak_rss_mib"],
        "jvm.jit_s": tr["jvm"]["jit_s"],
        "trace.overhead_s": tr["pass_s"] - statistics.median(baseline),
    }
    layers.update({f"query.{q}.s": L["query_s"].get(q, 0.0) for q in HEAVY})
    layers.update(executor_layers(L["counts"], tr["pass_s"]))
    return e2e, layers


WORKLOADS = {
    "etl_full": run_etl,
    "queries_heavy": lambda cp, a, d, t, det: run_queries(cp, a, d, t, det, HEAVY),
}

def provenance(a, sha, jvm_info, ticks0, detail):
    git = None
    try:
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "host": {"nproc": cpus(), "mem_total_kib": mem_total_kib(),
                 "jdk": jvm_info.get("java"), "spark": jvm_info.get("spark")},
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_share": steal_share(ticks0, cpu_ticks()),
        "git_sha": git, "source_sha256": sha, "workload": a.workload, "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace, "xmx": XMX, "plant_wrong": a.plant_wrong,
        # no unit ran under STEAL_MAX in time; compare.py skips the record
        "contended": detail.get("contended", False),
        "scale": (f"{ETL_SCALE:g} of the reference's rows" if a.workload == "etl_full"
                  else "sf0.01 seed-42 corpus"),
    }


def main():
    # a stopped run stops its JVM too (run_proc kills it on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-wrong", action="store_true",
                   help="plant one wrong expected answer; the run must fail")
    a = p.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources under {ROOT}: run from the root of a full checkout")
        return 2
    try:
        a.sha = sha = source_sha()
        cp = build(sha)
        ticks0 = cpu_ticks()
        deadline = time.monotonic() + RUN_DEADLINE_S
        tally, detail = Tally(), {}
        e2e, layers = WORKLOADS[a.workload](cp, a, deadline, tally, detail)
    except BenchError as e:
        log(str(e))
        return 2
    if not (layers if a.trace else e2e):
        log("no measurement completed")
        return 2
    if a.trace:
        layers.update({k: 0 for k in BYPASSED[a.workload]})
    names = PER_LAYER if a.trace else END_TO_END
    values = layers if a.trace else e2e
    if set(values) != set(names):
        log(f"metrics {sorted(set(values) ^ set(names))} missing or undeclared")
        return 2
    jvm_info = (detail.get("units") or [detail["traced"]])[0]["jvm"]
    prov = provenance(a, sha, jvm_info, ticks0, detail)
    metrics = {k: {"value": values[k], "unit": unit(k)} for k in names}
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    side = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}"
                        + ("-plant-wrong" if a.plant_wrong else "") + ".json")
    with open(side, "w") as f:
        json.dump({"provenance": prov, "end_to_end": e2e, "per_layer": layers,
                   "failures": tally.failures, "detail": detail}, f)
    print(json.dumps({"provenance": prov, "record": os.path.relpath(side, ROOT)}))
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0 if tally.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
