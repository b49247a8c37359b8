"""Scale probe for the count-min sketch: build cost must stay scan-bound
(linear) while sketch size and probe cost stay CONSTANT as the corpus
grows — the fixed-state property that justifies it at 100 TB.

Usage: python scripts/sketch_scale_probe.py [rows_small] [rows_large]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from h2h_spark import get_spark
from h2h_spark.operators.sketch import cms_build, cms_estimate


def main() -> None:
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    large = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
    spark = get_spark("sketch_scale_probe")
    spark.range(10).count()  # warm

    for n in (small, large):
        # zipf-ish skewed keys: heavy hitters exist by construction
        df = spark.range(n).select(
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("bucket"),
        ).select(
            F.when(F.col("bucket") < 500, F.col("bucket") % 10)
            .otherwise(F.col("bucket")).alias("k")
        )
        t0 = time.time()
        sketch = cms_build(df, "k", depth=4, width=256).cache()
        cells = sketch.count()
        t_build = time.time() - t0
        keys = df.select("k").distinct()
        t0 = time.time()
        top = (
            cms_estimate(sketch, keys, "k", depth=4, width=256)
            .orderBy(F.col("est").desc(), "k").limit(5).collect()
        )
        t_probe = time.time() - t0
        exact = {
            r["k"]: r["n"]
            for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
        }
        over = [r["est"] >= exact[r["k"]] for r in top]
        print(
            f"rows={n:>9,d} cells={cells:4d} build={t_build:5.2f}s "
            f"({n/t_build/1e6:.1f}M rows/s) probe={t_probe:5.2f}s "
            f"overestimate_ok={all(over)}"
        )
        sketch.unpersist()


if __name__ == "__main__":
    main()
