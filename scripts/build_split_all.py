"""Build/exec split over the WHOLE registry (r14 item 3 ranking).

For every declared query, time fn(spark, sf_dir) (driver-side plan
construction incl. embedded actions) and the noop-sink write separately,
SPARK_GRAFT_PROFILE_RUNS reps (default 2, keep the min per phase — the
floor is what plan-construction cost means), and write a JSON table
sorted by build time so the worst py4j/plan-construction offenders can
be ranked.

Usage: python scripts/build_split_all.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod
from bench import _cpu_probe
from h2h_spark import get_spark


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/build_split_all.json"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "2"))
    probe0 = _cpu_probe()
    spark = get_spark("h2h_build_split")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(10).mapInArrow(lambda it: it, "id long").collect()
    warmup = getattr(entrymod, "bench_warmup", None)
    if warmup is not None:
        warmup(spark, sf_dir)
    res: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        builds, execs = [], []
        try:
            for _ in range(runs):
                spark.catalog.clearCache()
                t0 = time.time()
                df = fn(spark, sf_dir)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
                builds.append(round(t1 - t0, 3))
                execs.append(round(t2 - t1, 3))
        except Exception as e:
            res[name] = {"err": f"{type(e).__name__}: {e}"}
            continue
        res[name] = {"build": min(builds), "exec": min(execs),
                     "builds": builds, "execs": execs}
        print(f"{name}: build={min(builds):.3f} exec={min(execs):.3f}",
              flush=True)
    table = {
        "sf_dir": sf_dir,
        "runs": runs,
        "cpu_probe_sec": [probe0, _cpu_probe()],
        "total_build": round(sum(r.get("build", 0) for r in res.values()), 2),
        "total_exec": round(sum(r.get("exec", 0) for r in res.values()), 2),
        "queries": res,
    }
    with open(out_path, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
    worst = sorted(
        (n for n in res if "build" in res[n]),
        key=lambda n: -res[n]["build"],
    )[:25]
    print("\nworst build offenders:")
    for n in worst:
        print(f"  {n}: build={res[n]['build']:.3f} exec={res[n]['exec']:.3f}")
    print(f"total_build={table['total_build']} total_exec={table['total_exec']}")


if __name__ == "__main__":
    main()
