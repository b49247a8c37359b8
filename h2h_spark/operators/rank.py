"""Global ranking — dense total order over arbitrary sort keys without
the single-partition window cliff (engine extension).

``ROW_NUMBER() OVER (ORDER BY ...)`` with no PARTITION BY is the classic
scale trap: Spark plans it as one Exchange into a single partition and
one task scans the entire input.  At 100 TB that task never finishes.
The scale-safe shape is the same two-pass distributed prefix sum used by
:mod:`h2h_spark.operators.packing`:

1. ``repartitionByRange`` on the sort keys (one Exchange, range
   boundaries from Spark's reservoir sample — parallelism preserved);
2. per-range-partition local ``row_number`` (parallel window, no further
   shuffle);
3. per-partition row counts (one tiny row per partition) collected,
   prefix-summed on the driver, broadcast back as rank offsets.

``rank = offset[partition] + local_row_number`` is invariant to where
the sampled range boundaries land, so the result is deterministic even
though range partitioning is sampling-based.  The caller must supply a
total order (include a tiebreaker key); ties would otherwise make the
rank nondeterministic under ANY distributed plan — same contract as the
SQL ``ROW_NUMBER`` oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from h2h_spark.operators import cache_scope


def global_rank(
    df: DataFrame,
    order_by: list[tuple[str, bool]],
    *,
    rank_col: str = "rank",
    n_parts: int | None = None,
) -> DataFrame:
    """Append a 1-based ``rank_col`` giving each row's position in the
    total order ``order_by`` (list of ``(column, ascending)``).

    The plan is one range Exchange + one parallel local window + a
    |partitions|-row driver prefix sum — never a single-partition
    global window.
    """
    spark = df.sparkSession
    if n_parts is None:
        n_parts = spark.sparkContext.defaultParallelism

    sort_cols = [
        (F.col(n) if asc else F.col(n).desc()) for n, asc in order_by
    ]
    ranged = df.repartitionByRange(n_parts, *sort_cols).withColumn(
        "__p", F.spark_partition_id()
    )
    w = Window.partitionBy("__p").orderBy(*sort_cols)
    with cache_scope() as persist:
        local = persist(ranged.withColumn("__rn", F.row_number().over(w)))
        counts = sorted(
            local.groupBy("__p").count().collect(), key=lambda r: r["__p"]
        )
        offsets, acc = [], 0
        for r in counts:
            offsets.append((r["__p"], acc))
            acc += r["count"]
        off_df = spark.createDataFrame(offsets, "__p int, __off long")
        return (
            local.join(F.broadcast(off_df), "__p")
            .withColumn(rank_col, (F.col("__off") + F.col("__rn")).cast("bigint"))
            .drop("__p", "__rn", "__off")
            # materialize (same row count as the cache it replaces)
            # before the scope releases the row-number cache
            .localCheckpoint(eager=True)
        )
