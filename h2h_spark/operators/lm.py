"""Distributed n-gram language-model scoring (engine extension, E4 family).

Perplexity under a corpus-trained bigram model is the classic
quality/outlier signal in LLM training-data pipelines (CCNet-style
filtering): train token-bigram counts over the corpus, then score every
document by its add-k-smoothed cross-entropy.

Scale design (100 TB posture):
- Training is two shuffles, both with map-side partial aggregation
  (``groupBy().count()`` over (w1, w2) and (w1,)) — the model tables are
  bounded by vocabulary size, orders of magnitude smaller than the corpus.
- The vocabulary size reaches the scorer as a broadcast one-row aggregate
  (cross join), not a driver-side ``.count()`` — the whole pipeline stays
  one lazy plan.
- Scoring joins doc-bigrams against the model on (w1, w2) / (w1,).  At
  test scale AQE turns both into broadcast joins; at 100 TB the model
  side is still the small side (vocab², sparse) and the doc-bigram side
  never re-shuffles more than once per join key.
- Everything is built-in ``pyspark.sql.functions`` — zero Python UDFs.

The whole computation is exactly reproducible in ANSI SQL (the DuckDB
oracle re-derives tokenization, counts, smoothing, and the rounded
perplexity bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from h2h_spark.operators import cache_scope
from h2h_spark.operators.dedup import tokens


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, w1, w2)`` with multiplicity, one row per in-document bigram.
    Documents with < 2 tokens contribute nothing (no bigram exists).

    The token array is materialized in its own projection before the
    gram expression references it (the measured-8x Catalyst inlining trap
    — see ``dedup.shingles_from_tokens``)."""
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    base = base.filter(F.size("__t") >= 2)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("__t") - 1),
        lambda i: F.struct(
            F.element_at("__t", i).alias("w1"),
            F.element_at("__t", i + 1).alias("w2"),
        ),
    )
    return base.select("id", F.explode(grams).alias("g")).select(
        "id", "g.w1", "g.w2"
    )


def bigram_model(grams: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """From ``(id, w1, w2)`` bigram rows: ``(bigram counts, unigram-prefix
    counts, one-row vocab size)``.  Each is a bounded-size aggregate with
    map-side combine."""
    big = grams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni = grams.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        grams.select(F.col("w1").alias("w"))
        .union(grams.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").alias("v"))
    )
    return big, uni, vocab


def perplexity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: float = 0.5,
    broadcast_model: bool = False,
) -> DataFrame:
    """Train a bigram LM on ``df`` and score every document against it:
    ``(id, n_bigrams, xent, ppl)`` with add-k smoothing
    ``P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k*V)``.

    ``xent`` is the mean negative log2 bigram probability, rounded to 4
    digits; ``ppl = 2**xent`` computed FROM the rounded xent so the
    float-rounding contract survives engine-order differences in the sum.

    ``broadcast_model=True`` forces broadcast of the model tables (use
    when the vocabulary is known-bounded); default lets AQE decide from
    measured sizes.
    """
    # NOT scale_out-rescaled (round 14, measured): the gram table
    # shuffles immediately (model groupBys), so the rescale buys no
    # downstream parallelism and the interleaved A/B regressed
    # (q_lm_perplexity 1.41 -> 2.12, q_perplexity_buckets 1.62 -> 2.36
    # medians with it on) — same verdict as prefix_filter_pairs.
    with cache_scope() as persist:
        grams = persist(_doc_bigrams(df, id_col, text_col))
        big, uni, vocab = bigram_model(grams)
        if broadcast_model:
            big, uni = F.broadcast(big), F.broadcast(uni)
        scored = (
            grams.join(big, ["w1", "w2"])
            .join(uni, ["w1"])
            .crossJoin(F.broadcast(vocab))
            .select(
                "id",
                F.log2(
                    (F.col("c12") + F.lit(k))
                    / (F.col("c1") + F.lit(k) * F.col("v"))
                ).alias("lp"),
            )
        )
        xent = F.round(-F.avg("lp"), 4)
        return (
            scored.groupBy("id")
            .agg(
                F.count("*").cast("bigint").alias("n_bigrams"),
                xent.alias("xent"),
                F.round(F.pow(F.lit(2.0), xent), 4).alias("ppl"),
            )
            .select(F.col("id").alias(id_col), "n_bigrams", "xent", "ppl")
            # materialize the per-doc scores (|docs| rows) before the
            # scope releases the gram cache
            .localCheckpoint(eager=True)
        )


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: float = 0.5,
) -> DataFrame:
    """CCNet-style perplexity tertiles (Wenzek et al. 2020, CCNet):
    score every document with the corpus bigram LM, cut the corpus into
    ``head`` / ``middle`` / ``tail`` thirds at the exact 1/3 and 2/3
    perplexity percentiles, and report ``(bucket, n_docs, avg_ppl,
    min_ppl, max_ppl)`` — the quality-stratification report run before
    choosing a training-data perplexity cutoff.

    The cutoffs are VALUE thresholds, not a global NTILE: a global
    row-number window would serialize the corpus through one task, while
    the two percentile cutoffs are one (partial-merged) aggregate
    broadcast back to a shuffle-free scoring scan.  At 100 TB swap the
    exact percentile for ``approx_percentile`` — the report's semantics
    survive, the memory bound tightens.  Cutoffs and per-doc ppl are both
    rounded to 4 digits, and the bucket averages accumulate in decimal,
    so the report is bit-identical to the serial SQL oracle.
    """
    ppl = perplexity(df, id_col, text_col, k=k).select(id_col, "ppl")
    cuts = ppl.agg(
        F.round(F.expr("percentile(ppl, 1.0/3)"), 4).alias("c1"),
        F.round(F.expr("percentile(ppl, 2.0/3)"), 4).alias("c2"),
    )
    bucket = (
        F.when(F.col("ppl") <= F.col("c1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ppl.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "ppl")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum(F.col("ppl").cast("decimal(18,4)")).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_ppl"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
        )
    )
