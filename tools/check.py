#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool, not library code).

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
  1. loads each <outDir>/<query>.parquet produced by SparkEntry.queries
  2. runs the matching SQL from <outDir>/oracle_sql.json in DuckDB over the
     same parquet tables
  3. sorts columns by name, sorts rows, compares cell-by-cell

Usage: python3 tools/check.py <sfDir> <outDir> [query ...]

stdout carries one OK/FAIL line per query and the summary. stderr carries
the seconds each query spent reading its output, running its oracle SQL
and comparing, then the ten slowest queries.
"""
import sys, json, glob, os, time
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    # Sort by non-float (key) columns only: float columns can differ by an
    # ulp between engines, and including them in the sort key would misalign
    # the row pairing between 'mine' and 'oracle' (see ADVICE r01).
    keys = [c for c in df.columns if not pd.api.types.is_float_dtype(df[c])]
    df = df.sort_values(by=keys or list(df.columns), ignore_index=True)
    return df


def compare(name, mine: pd.DataFrame, oracle: pd.DataFrame):
    if sorted(mine.columns) != sorted(oracle.columns):
        return f"FAIL cols: mine={sorted(mine.columns)} oracle={sorted(oracle.columns)}"
    if len(mine) != len(oracle):
        return f"FAIL rows: mine={len(mine)} oracle={len(oracle)}"
    a, b = canon(mine), canon(oracle)
    bad = []
    for c in a.columns:
        av, bv = a[c], b[c]
        # dtype-strict: the driver hashes typed values, so an int64 vs
        # float64 mismatch (e.g. DuckDB HUGEINT sum -> float64) is a real
        # fail even when the numbers are equal. Match its behavior.
        if pd.api.types.is_float_dtype(av) != pd.api.types.is_float_dtype(bv):
            bad.append((c, "dtype-DIFF", f"mine={av.dtype} oracle={bv.dtype}"))
            continue
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            aa = av.astype(float).to_numpy()
            bb = bv.astype(float).to_numpy()
            exact = np.array_equal(aa, bb, equal_nan=True)
            close = np.allclose(aa, bb, rtol=1e-12, atol=1e-12, equal_nan=True)
            if not exact:
                bad.append((c, "float-exact" if close else "float-DIFF",
                            _first_diff(aa, bb)))
        else:
            eq = (av.astype(str).to_numpy() == bv.astype(str).to_numpy())
            if not eq.all():
                i = int(np.argmin(eq))
                bad.append((c, "value", f"row {i}: mine={av.iloc[i]!r} oracle={bv.iloc[i]!r}"))
    if not bad:
        return "OK"
    hard = [x for x in bad if x[1] != "float-exact"]
    tag = "FAIL" if hard else "OK~(float ulp)"
    return tag + " " + "; ".join(f"{c}[{k}] {d}" for c, k, d in bad[:3])


def _first_diff(aa, bb):
    m = ~(np.isclose(aa, bb, rtol=0, atol=0) | (np.isnan(aa) & np.isnan(bb)))
    if not m.any():
        return ""
    i = int(np.argmax(m))
    return f"row {i}: mine={aa[i]!r} oracle={bb[i]!r}"


PHASES = ("read", "oracle", "compare")


def report_timings(timings):
    """Per-query phase seconds, their totals and the ten slowest, to stderr."""
    def line(label, t):
        cols = " ".join(f"{p}={t.get(p, 0.0):8.3f}" for p in PHASES)
        return f"[timing] {label:<40} {cols} total={sum(t.values()):8.3f}"
    for name in sorted(timings):
        print(line(name, timings[name]), file=sys.stderr)
    totals = {p: sum(t.get(p, 0.0) for t in timings.values()) for p in PHASES}
    print(line(f"ALL ({len(timings)} queries)", totals), file=sys.stderr)
    print("[timing] ten slowest:", file=sys.stderr)
    for name in sorted(timings, key=lambda n: -sum(timings[n].values()))[:10]:
        print(line(name, timings[name]), file=sys.stderr)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle_sql = json.load(f)
    results = {}
    # failure-loud contract: Verify records every query that threw in
    # errors.json — surface each as an explicit FAIL row, and treat a
    # missing errors.json (pre-r7 dump) as its own failure signal.
    err_path = f"{out_dir}/errors.json"
    if os.path.exists(err_path):
        with open(err_path) as f:
            for name, msg in json.load(f).items():
                if not only or name in only:
                    results[name] = f"FAIL verify-error: {msg[:200]}"
    else:
        print("WARNING: no errors.json in outDir (stale Verify?)", file=sys.stderr)
    names = sorted(os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
                   if os.path.isdir(p))
    timings = {}  # name -> {phase: seconds}
    for name in names:
        if only and name not in only:
            continue
        if name in results:
            # already marked FAIL from errors.json — a stale output dir
            # from a previous run must not overwrite the failure row
            continue
        t = timings[name] = {}
        t0 = time.perf_counter()
        try:
            mine = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            results[name] = f"FAIL read-output: {e}"
            continue
        finally:
            t["read"] = time.perf_counter() - t0
        if name not in oracle_sql:
            results[name] = f"rows-only: {len(mine)} rows" + (" FAIL(empty)" if len(mine) == 0 else " OK")
            continue
        t0 = time.perf_counter()
        try:
            oracle = con.execute(oracle_sql[name]).df()
        except Exception as e:
            results[name] = f"FAIL oracle-sql: {e}"
            continue
        finally:
            t["oracle"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        try:
            results[name] = compare(name, mine, oracle)
        except Exception as e:
            results[name] = f"FAIL compare: {e}"
        finally:
            t["compare"] = time.perf_counter() - t0
    report_timings(timings)
    w = max(len(n) for n in results) if results else 0
    nfail = 0
    for n in sorted(results):
        r = results[n]
        if r.startswith("FAIL"):
            nfail += 1
        print(f"{n:<{w}}  {r}")
    print(f"\n{len(results) - nfail}/{len(results)} OK")
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
