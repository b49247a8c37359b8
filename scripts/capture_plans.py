"""Capture `.explain("formatted")` for declared queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> <suffix> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each query (all queries when
none given).  Building a query's DataFrame may run its fixture prep /
eager sub-jobs (streaming drains, index builds) — that is the declared
query shape; the captured text is the plan of the RETURNED DataFrame,
i.e. what the noop-sink bench executes last.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from h2h_spark import get_spark


def main() -> int:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    qs = entrymod.queries()
    if not names:
        names = list(qs)
    warmup = getattr(entrymod, "bench_warmup", None)
    if warmup is not None:
        warmup(spark, sf_dir)
    fails = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"plan  {name}: ok")
        except Exception as e:
            fails += 1
            print(f"plan  {name}: FAIL {type(e).__name__}: {e}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
