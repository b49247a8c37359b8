"""Plan audit over every declared query — the `.explain` sweep, automated.

For each query: count Exchanges, flag CartesianProduct/BroadcastNestedLoop
joins, per-row Python UDFs (BatchEvalPython — the row-at-a-time slow
path), Python DataSource scans (``BatchScan <name>[...] (Python)`` — every
reader plans its splits on the driver and scans them with MapInArrow
instead), missing parquet filter pushdown, and report broadcast usage.
Arrow-batched stages (ArrowEvalPython / MapInPandas / MapInArrow) are
listed informationally — they are the sanctioned vectorized path.

Usage: python scripts/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from h2h_spark import get_spark


def audit(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "cartesian": "CartesianProduct" in plan,
        "bnlj": "BroadcastNestedLoopJoin" in plan,
        "py_row_udf": "BatchEvalPython" in plan,  # row-at-a-time: forbidden
        "py_datasource": re.search(r"BatchScan [^\n]*\(Python\)", plan) is not None,
        "arrow_stages": len(
            re.findall(r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)
        ),
        "pushed": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("plan_audit")
    rows = []
    bad = []
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            print(f"ERROR {name}: {type(e).__name__}: {e}")
            bad.append(name)
            continue
        a = audit(plan)
        flags = []
        if a["py_row_udf"]:
            flags.append("PY-ROW-UDF")
        if a["py_datasource"]:
            flags.append("PY-DATASOURCE")
        if a["cartesian"]:
            flags.append("CARTESIAN")
        rows.append((name, a, flags))
        if flags:
            bad.append(name)
    w = max(len(n) for n, _, _ in rows) if rows else 10
    print(f"{'query':<{w}}  exch  bcast  arrow  push  flags")
    for name, a, flags in rows:
        print(
            f"{name:<{w}}  {a['exchanges']:>4}  {a['broadcasts']:>5}  "
            f"{a['arrow_stages']:>5}  {str(a['pushed'])[:1]:>4}  {','.join(flags)}"
        )
    print(f"\n{len(bad)} flagged" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
