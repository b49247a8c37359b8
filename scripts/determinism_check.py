"""Run every declared query twice in one session and diff Spark-vs-Spark —
catches nondeterministic queries (unstable dedup choices, float ordering,
uncached randomness) before the driver's hash compare does.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from h2h_spark import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and not args[0].startswith("q_"):
        sf_dir = args.pop(0)
    only = set(args)  # optional query-name subset (mirrors oracle_check)
    spark = get_spark("determinism_check")
    bad = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        key = lambda r: tuple(map(repr, r))
        a = sorted(map(tuple, fn(spark, sf_dir).collect()), key=key)
        b = sorted(map(tuple, fn(spark, sf_dir).collect()), key=key)
        if a != b:
            diff = [x for x in a if x not in set(b)][:2]
            print(f"NONDETERMINISTIC {name}: {len(a)} vs {len(b)} rows; e.g. {diff}")
            bad.append(name)
        else:
            print(f"stable {name}: {len(a)} rows")
    print(f"\n{len(bad)} nondeterministic" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
