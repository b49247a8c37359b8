"""Skew/diameter benchmark: min-label propagation vs large-star/small-star
connected components (VERDICT r04 item 7).

Three deterministic graph shapes at sf0.1-like scale (200k edges each):

* ``cliquey``   — the dedup workload: many small dense groups, diameter 2;
* ``powerlaw``  — 50 hubs with ~4k spokes each (max degree ~4000, the
  "curse of the last reducer" shape), hubs chained so one component;
* ``chain``     — 20 chains of 10k hops: diameter 10 000, the adversarial
  case for O(diameter) propagation.

Prints per-shape wall seconds + result agreement; paste the table into
SCALE.md.  Usage: python scripts/cc_skew_bench.py [n_edges]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from h2h_spark import get_spark
from h2h_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)


def graphs(spark, n: int):
    ids = spark.range(n)
    yield "cliquey", ids.select(
        F.col("id").alias("id_a"),
        ((F.col("id") / 8).cast("long") * 8).alias("id_b"),  # groups of 8
    ).filter(F.col("id_a") != F.col("id_b"))
    hubs = 50
    spokes = ids.select(
        F.col("id").alias("id_a"), (F.col("id") % hubs).alias("id_b")
    ).filter(F.col("id_a") >= hubs)
    hub_chain = spark.range(hubs - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    yield "powerlaw", spokes.unionByName(hub_chain)
    chains, hop = 20, n // 20
    yield "chain", ids.filter((F.col("id") + 1) % hop != 0).filter(
        F.col("id") < chains * hop - 1
    ).select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("cc_skew_bench")
    print(f"| graph | edges | min-label s | star s | components |")
    print(f"|---|---|---|---|---|")
    for name, g in graphs(spark, n):
        g = g.localCheckpoint(eager=True)
        ne = g.count()
        t0 = time.time()
        try:
            a = connected_components(g).groupBy("rep").count()
            na = a.count()
        except ValueError as exc:  # O(diameter) rounds exhausted — the finding
            na = f"DNF ({exc})"
        t1 = time.time()
        b = connected_components_star(g).groupBy("rep").count()
        nb = b.count()
        t2 = time.time()
        agree = "OK" if na == nb else f"MISMATCH {na} vs {nb}"
        print(
            f"| {name} | {ne} | {t1-t0:.1f} | {t2-t1:.1f} | {na} ({agree}) |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
