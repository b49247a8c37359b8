"""Jobs-per-round evidence for the iterative operators (r14, VERDICT item 9).

Static plan dumps mislead for the loop operators (lazy checkpoints defer
lineage truncation, so `.explain` shows the full multi-round tree); the
honest evidence is the MEASURED Spark job count.  For each iterative
operator this script runs the operator end-to-end (noop-materialized) at
two iteration budgets and reports:

  jobs_total(k), jobs_total(k+delta)  ->  jobs_per_round = diff / delta

via the status tracker (job-id high-water mark before/after).  Writes
plans/r14/job_counts.json.

Usage: python scripts/job_counts.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from h2h_spark import get_spark
from pyspark.sql import functions as F


def _jobs(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) + 1 if ids else 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job_counts")
    spark.range(1000).selectExpr("sum(id)").collect()

    from h2h_spark.operators import dedup as D
    from h2h_spark.operators import graph as G

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(1_000_000)).alias("dst"),
        )
    )
    srcs = edges.select(F.col("src").alias("node")).distinct().limit(50)
    pairs = edges.select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    ).filter(F.col("id_a") % 7 == 0)

    cases = {
        "pagerank": lambda k: G.pagerank(edges, iterations=k),
        "label_propagation": lambda k: G.label_propagation(edges, iterations=k),
        "label_propagation_semisync": lambda k: G.label_propagation_semisync(
            edges, rounds=k, substeps=2
        ),
        "feature_propagation": lambda k: G.feature_propagation(
            edges,
            edges.select(F.col("src").alias("node")).distinct().withColumn(
                "feat", (F.col("node") % 97).cast("bigint")
            ),
            rounds=k,
        ),
        "kcore_peel": lambda k: G.kcore_peel(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            k=3,
            rounds=k,
        ),
    }
    out: dict[str, dict] = {}
    for name, fn in cases.items():
        rec = {}
        for k in (2, 4):
            spark.catalog.clearCache()
            j0, t0 = _jobs(spark), time.time()
            fn(k).write.format("noop").mode("overwrite").save()
            rec[f"k{k}"] = {
                "jobs": _jobs(spark) - j0,
                "sec": round(time.time() - t0, 2),
            }
        rec["jobs_per_round"] = (rec["k4"]["jobs"] - rec["k2"]["jobs"]) / 2
        out[name] = rec
        print(name, rec, flush=True)

    # convergence-loop operators (round count data-driven, not a
    # parameter): report total jobs for the full run instead
    conv = {
        "bfs_distances": lambda: G.bfs_distances(edges, srcs, max_depth=10),
        "sssp_bounded": lambda: G.sssp_bounded(
            edges.withColumn("w", F.lit(1.0)), srcs, max_dist=3.5
        ),
        "connected_components": lambda: D.connected_components(pairs),
        "connected_components_star": lambda: D.connected_components_star(pairs),
    }
    for name, fn in conv.items():
        spark.catalog.clearCache()
        j0, t0 = _jobs(spark), time.time()
        fn().write.format("noop").mode("overwrite").save()
        out[name] = {
            "jobs_total": _jobs(spark) - j0,
            "sec": round(time.time() - t0, 2),
        }
        print(name, out[name], flush=True)

    path = os.path.join(REPO, "plans", "r14", "job_counts.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
