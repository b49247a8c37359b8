"""Resampling statistics at scale (engine extension).

The bootstrap's naive form (sample n rows WITH replacement, B times)
cannot run distributed — sampling with replacement needs global
coordination.  The production substitute is the **Poisson bootstrap**
(each row enters each replica with an independent Poisson(1) weight;
cf. Chamandy, Muralidharan, Najmi & Naidu, "Estimating uncertainty for
massive data streams", Google research report 2012 — public): one scan,
B weight columns, no coordination, and replica statistics converge to
the classic bootstrap's.

This implementation is **deterministic and engine-portable**: the
Poisson weight of (row, replica) comes from inverting the Poisson(1)
CDF on a uniform derived from the portable md5 hash of (id, replica) —
no RNG, so the same replicas materialize on any engine, any
partitioning, any retry (and the oracle can re-derive them bit-for-bit;
the CDF thresholds are fixed double literals shared with the SQL twin).
Weighted sums accumulate in exact decimal; each replica mean is one
double division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from h2h_spark.operators import scale_out

from .dedup import portable_hash60

#: cumulative Poisson(1) CDF thresholds for k = 0..5 (weights clamp at 6;
#: P(K > 6) ≈ 8e-5 — the same literals appear in the SQL oracle).
POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.919698602928606,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]


def _poisson_weight(u: F.Column) -> F.Column:
    w = F.lit(6)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    return w


def poisson_bootstrap_means(
    df: DataFrame,
    id_col: str,
    val_col: str,
    *,
    replicas: int = 32,
    round_digits: int = 6,
) -> DataFrame:
    """``(b, n_eff, replica_mean)`` for ``b`` in [0, replicas): the
    Poisson-bootstrap replica means of ``val_col``.  One explode (B rows
    per input row, weight-0 rows dropped immediately) + one grouping
    shuffle on the replica id; the spread of the replica means IS the
    bootstrap standard error of the mean."""
    b = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("b")
    ub = (
        F.pmod(
            portable_hash60(
                F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col("b"))
            ),
            F.lit(1_000_000_000_000),
        ).cast("double")
        / 1.0e12
    )
    # spread first: the input often arrives in 1-4 scan partitions and
    # the B-way explode + per-(row, replica) hash would run near-serial.
    spread = scale_out(
        df.select(F.col(id_col), F.col(val_col).cast("decimal(18,6)").alias("v")),
        id_col,
    )
    rows = (
        spread.select("*", b)
        .withColumn("w", _poisson_weight(ub))
        .filter(F.col("w") > 0)
    )
    return (
        rows.groupBy("b")
        .agg(
            F.sum("w").cast("bigint").alias("n_eff"),
            F.sum(F.col("w") * F.col("v")).alias("ws"),
        )
        .select(
            F.col("b").cast("int").alias("b"),
            "n_eff",
            F.round(
                F.col("ws").cast("double") / F.col("n_eff").cast("double"),
                round_digits,
            ).alias("replica_mean"),
        )
    )


def exact_auc(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """EXACT ROC-AUC via the rank statistic, computed at the
    per-distinct-score level so it scales: AUC is the probability a
    positive outranks a negative, ties at half credit —

        AUC = (Σ_pos avg_rank  -  P(P+1)/2) / (P·N)

    Plan: one grouping shuffle to (score → cnt, pos_cnt); a window over
    the DISTINCT scores (cardinality = #distinct values, not #rows)
    accumulates rank starts; the rank sum is kept as the INTEGER
    ``2·avg_rank`` so everything is exact until one final IEEE division.
    Never sorts the full table, never windows over rows — the 100 TB
    shape for a metric usually computed by collecting scores.

    Output one row: ``(p_cnt, n_cnt, rank_sum2, auc)``.
    """
    from pyspark.sql.window import Window

    per_score = df.groupBy(F.col(score_col).alias("s")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.col(label_col).cast("int")).cast("bigint").alias("pos"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "rank_start", (F.coalesce(F.sum("cnt").over(w), F.lit(0)) + 1)
    )
    # 2·avg_rank of every row tied at this score = 2·rank_start + cnt - 1
    agg = ranked.agg(
        F.sum("pos").cast("bigint").alias("p_cnt"),
        F.sum(F.col("cnt") - F.col("pos")).cast("bigint").alias("n_cnt"),
        F.sum(
            F.col("pos") * (2 * F.col("rank_start") + F.col("cnt") - 1)
        ).cast("bigint").alias("rank_sum2"),
    )
    return agg.withColumn(
        "auc",
        (
            F.col("rank_sum2").cast("double")
            - (F.col("p_cnt") * (F.col("p_cnt") + 1)).cast("double")
        )
        / (2 * F.col("p_cnt") * F.col("n_cnt")).cast("double"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table for an integer-valued score: bins are equal
    slices of the observed score RANGE (portable integer `div`
    bucketing off a broadcast max — no double*10 flooring, whose
    rounding differs across engines), and every statistic stays integer
    until the closing divisions:

        (bin, n, n_pos, pos_rate, sum_score)

    The per-bin positive rate against the bin's score mass is the
    calibration read-out that pairs with :func:`exact_auc` (ranking
    quality vs probability quality).  One broadcast + one grouping
    shuffle."""
    mx = df.agg(F.max(F.col(score_col)).alias("mx"))
    binned = df.crossJoin(F.broadcast(mx)).select(
        F.least(
            F.lit(n_bins - 1).cast("bigint"),
            F.expr(f"({score_col} * {n_bins}) div (mx + 1)"),
        ).alias("bin"),
        F.col(score_col).alias("s"),
        F.col(label_col).cast("int").alias("y"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum("s").cast("bigint").alias("sum_score"),
    )
    return agg.select(
        "bin",
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "pos_rate"
        ),
        "sum_score",
    )


def classification_report(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """Multiclass evaluation, engine-exact: per class, integer tp/fp/fn
    from ONE pair-count aggregate, then precision/recall/F1 each as a
    SINGLE IEEE division over integers (F1 spelled 2tp/(2tp+fp+fn) —
    never the nested p·r form, whose intermediate rounding differs by
    expression shape).  Classes = union of truth and prediction labels.
    Pairs with exact_auc/calibration_bins: ranking, probability, and
    decision quality respectively."""
    pairs = df.groupBy(
        F.col(label_col).alias("y"), F.col(pred_col).alias("p")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    classes = (
        pairs.select(F.col("y").alias("cls"))
        .unionAll(pairs.select(F.col("p").alias("cls")))
        .distinct()
    )
    tp = pairs.filter(F.col("y") == F.col("p")).select(
        F.col("y").alias("cls"), F.col("n").alias("tp")
    )
    fp = pairs.filter(F.col("y") != F.col("p")).groupBy(
        F.col("p").alias("cls")
    ).agg(F.sum("n").cast("bigint").alias("fp"))
    fn = pairs.filter(F.col("y") != F.col("p")).groupBy(
        F.col("y").alias("cls")
    ).agg(F.sum("n").cast("bigint").alias("fn"))
    out = (
        classes.join(tp, "cls", "left")
        .join(fp, "cls", "left")
        .join(fn, "cls", "left")
        .fillna(0, subset=["tp", "fp", "fn"])
    )

    def ratio(num, den):
        return F.when(
            den > 0, num.cast("double") / den.cast("double")
        ).otherwise(F.lit(0.0))

    return out.select(
        "cls",
        "tp",
        "fp",
        "fn",
        ratio(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
        ratio(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
        ratio(2 * F.col("tp"),
              2 * F.col("tp") + F.col("fp") + F.col("fn")).alias("f1"),
    )
