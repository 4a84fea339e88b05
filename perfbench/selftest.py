#!/usr/bin/env python3
"""Self-test of the benchmark's checks. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. BENCHMARK.json names exactly the metrics run.py prints, with the same
   units.
2. With --plant-wrong (one planted count, or one query fingerprint, off by
   one) each workload reports a failure and exits nonzero.
3. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits nonzero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def last_json(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        return json.loads(lines[-1]) if lines else None
    except ValueError:
        return None


def main():
    ok = True
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for group, names in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[group]}
        printed = {k: run.unit(k) for k in names}
        if declared != printed:
            ok = False
            print(f"FAIL {group}: BENCHMARK.json {declared} != run.py {printed}")
    print("metric names and units agree" if ok else "metric names or units disagree")

    for wl in sorted(run.WORKLOADS):
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", wl, "--seed", "1",
                            "--seconds", "1", "--trace", "0", "--plant-wrong"],
                           cwd=ROOT, capture_output=True, text=True)
        res = last_json(p.stdout)
        fired = p.returncode == 1 and res is not None and not res["correct"] and res["failed"] >= 1
        ok &= fired
        print(f"{'ok  ' if fired else 'FAIL'} planted wrong answer on {wl}: exit {p.returncode}, "
              f"failed {res and res['failed']} of {res and res['attempted']}")

    bare = os.path.join(run.WORK, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project/project"))
    p = subprocess.run(bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed",
                                           "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    refused = p.returncode != 0 and last_json(p.stdout) is None
    ok &= refused
    print(f"{'ok  ' if refused else 'FAIL'} bare directory: exit {p.returncode}")
    shutil.rmtree(bare, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
