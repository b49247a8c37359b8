"""Per-query phase profiler (optimization rounds).

For each named query: time (a) the ``fn(spark, sf_dir)`` call — driver-side
plan construction INCLUDING any embedded actions (counts, index builds,
streaming drains, collects) — and (b) the noop-sink write of the returned
DataFrame.  The split tells you whether a slow bench entry is paying inside
the returned plan (optimize the plan) or inside construction (optimize the
embedded actions), which the bench's single wall-clock number hides.

Usage: python scripts/query_profile.py [sf_dir] q_a q_b ...
       (default sf_dir /root/testdata/sf0.1; repeats each query
        SPARK_GRAFT_PROFILE_RUNS times, default 2, reporting each run)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from h2h_spark import get_spark


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "2"))
    spark = get_spark("h2h_query_profile")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10).mapInArrow(lambda it: it, "id long").collect()
    qs = entrymod.queries()
    warmup = getattr(entrymod, "bench_warmup", None)
    if warmup is not None:
        warmup(spark, sf_dir)
    for name in args:
        fn = qs[name]
        for r in range(runs):
            spark.catalog.clearCache()
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            print(
                f"{name} run{r}: build={t1 - t0:7.3f}s  "
                f"exec={t2 - t1:7.3f}s  total={t2 - t0:7.3f}s",
                flush=True,
            )


if __name__ == "__main__":
    main()
