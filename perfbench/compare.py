#!/usr/bin/env python3
"""Compare two sets of benchmark records, refusing a cross-host comparison.

    python3 perfbench/compare.py <before> <after>

Each side is a record written by run.py (.perfbench-work/results/*.json)
or a directory of them. For every workload and end-to-end metric present
on both sides it prints the median, quartiles and the change of the
medians. Records with a failed check, from a --plant-wrong run, or whose
reported unit ran under more than run.STEAL_MAX hypervisor steal (marked
`contended`) are skipped. Records made on different host shapes (nproc,
memory, JDK, Spark) are not comparable: the comparison is refused with
exit code 3.
"""
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import STEAL_MAX  # noqa: E402


def steal(rec):
    """Largest steal share of the record's reported units (1 if unknown)."""
    return max((u.get("steal_share", 1.0) for u in rec["detail"].get("units", [])),
               default=0.0)


def load(path):
    """Comparable records under `path`: failed, planted-wrong and contended
    runs are skipped."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    kept = []
    for f in files:
        r = json.load(open(f))
        why = ("failed checks" if r["failures"] else
               "planted wrong answer" if r["provenance"].get("plant_wrong") else
               f"contended ({steal(r):.1%} steal)" if steal(r) > STEAL_MAX else None)
        if why:
            print(f"skipped {f}: {why}", file=sys.stderr)
        else:
            kept.append(r)
    return kept


def shape(rec):
    h = rec["provenance"]["host"]
    # MemTotal moves by a few MiB across kernels; compare whole GiB
    return (h["nproc"], round(h["mem_total_kib"] / 1048576), h["jdk"], h["spark"])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    shapes = {shape(r) for r in before + after}
    if len(shapes) > 1:
        print(f"refused: records come from different host shapes {sorted(shapes)}",
              file=sys.stderr)
        return 3
    for wl in sorted({r["provenance"]["workload"] for r in before + after}):
        b = [r for r in before if r["provenance"]["workload"] == wl and r["end_to_end"]]
        a = [r for r in after if r["provenance"]["workload"] == wl and r["end_to_end"]]
        if not a or not b:
            continue
        print(f"{wl}  (runs: before {len(b)}, after {len(a)})")
        for m in sorted(set(b[0]["end_to_end"]) & set(a[0]["end_to_end"])):
            qb = quartiles([r["end_to_end"][m] for r in b])
            qa = quartiles([r["end_to_end"][m] for r in a])
            print(f"  {m:30s} before {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}]"
                  f"  after {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}]"
                  f"  change {qa[1] / qb[1] - 1:+.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
