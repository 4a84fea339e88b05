#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

Usage: tools/plan_diff.py A B

Each dump is split on its `===== name =====` headers. Before comparing,
the ids that vary from run to run are normalized: expression ids (`#12`,
`#12L`), `plan_id=`, `codegen id :` and formatted-explain
`Arguments: <n>` lines. Prints the names whose plans differ (and the
names present in only one dump) and exits 1 if there are any, 0 if
every plan is the same (2 on a usage error).
"""
import re
import sys

HEADER = re.compile(r"^===== (.+) =====$")
NORMALIZE = [
    (re.compile(r"#[0-9]+L?"), ""),
    (re.compile(r"plan_id=[0-9]+"), "plan_id=N"),
    (re.compile(r"codegen id : [0-9]+"), "codegen id : N"),
    (re.compile(r"^Arguments: [0-9]+$"), "Arguments: N"),
]


def split(path):
    """Map each query name to its normalized plan lines."""
    plans, name = {}, None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                plans[name] = []
            elif name is not None:
                for pattern, repl in NORMALIZE:
                    line = pattern.sub(repl, line)
                plans[name].append(line)
    return plans


def main(argv):
    if len(argv) != 3:
        print("usage: tools/plan_diff.py A B", file=sys.stderr)
        return 2
    a, b = split(argv[1]), split(argv[2])
    differ = [n for n in a if n in b and a[n] != b[n]]
    only = sorted(set(a) ^ set(b))
    for n in differ:
        print(f"differs: {n}")
    for n in only:
        print(f"only in {'A' if n in a else 'B'}: {n}")
    print(f"{len(set(a) & set(b))} queries in both; {len(differ)} differ; "
          f"{len(only)} in one dump only")
    return 1 if differ or only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
