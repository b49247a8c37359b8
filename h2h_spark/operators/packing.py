"""Sequence packing — assign documents to fixed token-budget bins
(engine extension: the pretraining batch-prep step after curation).

``bin = floor(tokens_before_doc / budget)`` over a deterministic document
order — contiguous-fill packing: bins are filled in order and a document
straddling a boundary starts the next bin's worth of overflow but keeps
the bin of its starting offset.  Exactly SQL-expressible (the DuckDB
oracle is one cumulative-sum window), yet the Spark plan must NOT be the
naive single-partition global window — that serializes the corpus through
one task.  Instead: the classic two-pass distributed prefix sum.

1. range-partition by the order key (one Exchange);
2. per-partition cumulative sums (window partitioned by the physical
   partition id — parallel, no further shuffle);
3. per-partition totals (tiny: one row per partition) are collected,
   prefix-summed on the driver, and broadcast back as offsets.

Output is invariant to where the range boundaries land, so the plan is
deterministic even though range partitioning samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from h2h_spark.operators import cache_scope


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_parts: int | None = None,
    _materialize: bool = True,
) -> DataFrame:
    """``(id, n_tokens, bin, bin_offset)``: documents in ``id`` order
    packed into ``budget``-token bins; ``bin_offset`` is the document's
    starting token position inside its bin.

    ``_materialize=False`` is a plan-inspection hook (tests): it skips
    the cumsum persist and the final eager localCheckpoint so the full
    lineage stays visible in ``explain``.  It is unsafe on a
    nondeterministic input: the totals collect and the output pass then
    each recompute the range partitioning, so partition boundaries can
    differ between them and the driver's offsets would not match the
    recomputed prefix sums.  The persist is what keeps the two passes on
    the same partitions."""
    spark = df.sparkSession
    if n_parts is None:
        n_parts = spark.sparkContext.defaultParallelism
    ranged = (
        df.select(F.col(id_col).alias("id"), F.col(token_col).alias("n_tokens"))
        .repartitionByRange(n_parts, F.col("id"))
        .withColumn("__p", F.spark_partition_id())
    )
    w = Window.partitionBy("__p").orderBy("id")
    local = ranged.withColumn("__cum", F.sum("n_tokens").over(w))
    with cache_scope() as persist:
        if _materialize:
            local = persist(local)
        totals = sorted(
            local.groupBy("__p").agg(F.max("__cum").alias("t")).collect(),
            key=lambda r: r["__p"],
        )
        offsets, acc = [], 0
        for r in totals:
            offsets.append((r["__p"], acc))
            acc += r["t"]
        off_df = spark.createDataFrame(offsets, "__p int, __off long")
        before = F.col("__off") + F.col("__cum") - F.col("n_tokens")
        out = (
            local.join(F.broadcast(off_df), "__p")
            .select(
                F.col("id").alias(id_col),
                F.col("n_tokens"),
                F.floor(before / budget).cast("bigint").alias("bin"),
                (before - F.floor(before / budget) * budget).cast("bigint").alias(
                    "bin_offset"
                ),
            )
        )
        if _materialize:
            # materialize (same row count as the cache it replaces)
            # before the scope releases the cumsum cache
            out = out.localCheckpoint(eager=True)
    return out


def length_bucketed_batches(
    df: DataFrame,
    id_col: str,
    len_col: str,
    *,
    bucket_width: int = 64,
    batch_size: int = 16,
) -> DataFrame:
    """Dynamic-batching prep for sequence training: bucket rows by
    length band (``len div bucket_width``), order within each bucket by
    the PORTABLE md5 hash (deterministic pseudo-shuffle, reproducible in
    any engine), and cut batches of ``batch_size``.  Returns one row per
    row of input: ``(id, seq_len, bucket, batch_idx)`` — batches whose
    members share a length band, so padding waste is bounded by
    ``bucket_width`` regardless of the corpus length distribution.

    One window shuffle partitioned by bucket; batch ids are
    bucket-local (callers needing global ids compose (bucket,
    batch_idx), avoiding any global coordination)."""
    from pyspark.sql.window import Window

    from h2h_spark.operators.dedup import portable_hash60

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(len_col).cast("bigint").alias("seq_len"),
        F.expr(f"cast({len_col} as bigint) div {bucket_width}").alias("bucket"),
        portable_hash60(F.col(id_col).cast("string")).alias("__hk"),
    )
    w = Window.partitionBy("bucket").orderBy("__hk", "id")
    rn = (F.row_number().over(w) - 1).cast("bigint")
    return (
        base.withColumn("__rn", rn)
        .withColumn("batch_idx", F.expr(f"__rn div {batch_size}"))
        .select("id", "seq_len", "bucket", "batch_idx")
    )
