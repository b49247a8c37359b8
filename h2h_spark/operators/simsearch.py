"""Similarity search over embedding columns (engine extension, SURVEY.md
§2.3 E2).

Embeddings are ``array<float>`` columns.  Two paths:

- :func:`cosine_topk` — exact brute force: per-row dot product via
  ``zip_with`` + ``aggregate`` (JVM-side, no UDF), then a global top-k.
  The right baseline at any scale where a full scan is acceptable (top-k
  is a TakeOrdered, not a full sort).
- :func:`ann_topk` — random-hyperplane sign-LSH (Charikar, STOC 2002)
  with confidence-ranked multiprobe (Lv et al., "Multi-probe LSH",
  VLDB 2007): deterministic seeded hyperplanes, documents bucketed by
  sign-bit signature, the query probes the cheapest bit-flip buckets
  first.  At 100 TB the bucket column becomes the partition/bucketing key
  so a probe touches a handful of partitions instead of the fleet.
- :func:`ivf_build` / :func:`ivf_probe` — inverted-file index (the IVF of
  Jégou et al., "Product quantization for nearest neighbor search",
  TPAMI 2011, without the PQ compression stage): sample-fit k-means
  cells, probe the nearest cells only.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from h2h_spark.operators import cache_scope


def _dot_with_literal(vec_col: Column, q: Sequence[float]) -> Column:
    lit = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(vec_col, lit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(vec_col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            vec_col, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_scores(
    df: DataFrame, id_col: str, vec_col: str, query: Sequence[float]
) -> DataFrame:
    """``(id, score)`` — exact cosine similarity to ``query``."""
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query))
    score = _dot_with_literal(F.col(vec_col), query) / (_norm(F.col(vec_col)) * F.lit(qnorm))
    return df.select(F.col(id_col), score.alias("score"))


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    round_digits: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine similarity (ties broken by id — deterministic)."""
    scores = cosine_scores(df, id_col, vec_col, query)
    if round_digits is not None:
        scores = scores.withColumn("score", F.round("score", round_digits))
    return scores.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


_MAX_PROBE_COLLECT = 100_000  # driver-side probe-block bound (documented)


def knn_join(
    probes: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    round_digits: int = 3,
) -> DataFrame:
    """Exact k-nearest-neighbors of every probe row against the corpus:
    ``(probe_id, neighbor_id, score, rank)``.

    The probe block (small by contract, bounded driver-side collect like
    ``_near_pairs_blocked``) is broadcast; each corpus partition scores its
    batch against every probe with ONE numpy/BLAS matmul and keeps only a
    per-batch partial top-k per probe — so the global window ranks
    ``O(n_batches · n_probes · k)`` rows, not ``n_probes × corpus``.
    Deterministic: scores rounded before ranking, ties broken by neighbor
    id (the per-batch cut uses the same (score desc, id asc) total order,
    so it can never drop a global top-k member).  At 100 TB probe blocks
    iterate and the corpus is read once per block; for huge probe sets
    LSH/IVF-bucket first (:func:`ann_knn_join`).
    """
    import pandas as pd

    from pyspark.sql.window import Window

    spark = probes.sparkSession
    rows = probes.select(id_col, vec_col).collect()
    if len(rows) > _MAX_PROBE_COLLECT:
        raise ValueError(
            f"knn_join probe side has {len(rows)} rows (> {_MAX_PROBE_COLLECT}); "
            "block the probes or use ann_knn_join"
        )
    if not rows:
        return spark.createDataFrame(
            [], "probe_id long, neighbor_id long, score double, rank int"
        )
    pids = np.array([r[0] for r in rows], dtype=np.int64)
    pmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    pmat = pmat / np.linalg.norm(pmat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((pids, pmat))

    def partial_topk(batches):
        b_pids, b_pmat = bc.value
        for pdf in batches:
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            scores = np.round(cmat @ b_pmat.T, round_digits)  # batch × probes
            out_p, out_n, out_s = [], [], []
            for j in range(len(b_pids)):
                mask = cids != b_pids[j]
                s, ids_m = scores[mask, j], cids[mask]
                keep = np.lexsort((ids_m, -s))[:k]
                out_p.extend([b_pids[j]] * len(keep))
                out_n.extend(ids_m[keep])
                out_s.extend(s[keep])
            yield pd.DataFrame(
                {"probe_id": out_p, "neighbor_id": out_n, "score": out_s}
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        partial_topk, "probe_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def cosine_near_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    probe_max_id: int | None = None,
    round_digits: int = 3,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a, id_b, score)`` with
    ``id_a < id_b`` and rounded cosine >= threshold.

    Exact.  With ``probe_max_id`` set, the bounded probe block is broadcast
    and scored against the streamed corpus with one Arrow-batched numpy
    matmul per partition (BLAS, no per-pair expression work) — the shape
    that scales: probe blocks iterate, the corpus is read once per block.
    Without a bound, falls back to the JVM cross-join expression.  For
    all-pairs at 100 TB, block both sides or LSH-bucket first
    (:func:`signature_col`).
    """
    if probe_max_id is not None:
        return _near_pairs_blocked(
            df, id_col, vec_col, threshold, probe_max_id, round_digits
        )
    # Norms are per-ROW work: compute them as projected columns below the
    # join (the join is an inlining barrier), so the per-pair expression is
    # just dot/(na*nb) — not a per-pair norm recomputation.
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    if probe_max_id is not None:
        a = a.filter(F.col("id_a") < probe_max_id)
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    dot = F.aggregate(
        F.zip_with("__va", "__vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = F.round(dot / (F.col("__na") * F.col("__nb")), round_digits)
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.alias("score"))
        .filter(F.col("score") >= threshold)
    )


def _near_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    probe_max_id: int,
    round_digits: int,
) -> DataFrame:
    import pandas as pd

    spark = df.sparkSession
    probe_rows = (
        df.filter(F.col(id_col) < probe_max_id).select(id_col, vec_col).collect()
    )
    if not probe_rows:
        return spark.createDataFrame([], "id_a long, id_b long, score double")
    pids = np.array([r[0] for r in probe_rows], dtype=np.int64)
    pmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in probe_rows])
    pmat = pmat / np.linalg.norm(pmat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((pids, pmat))

    def score(batches):
        b_pids, b_pmat = bc.value
        for pdf in batches:
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            scores = np.round(cmat @ b_pmat.T, round_digits)  # corpus × probes
            ci, pi = np.nonzero(scores >= threshold)
            if len(ci) == 0:
                continue
            id_a = np.minimum(b_pids[pi], cids[ci])
            id_b = np.maximum(b_pids[pi], cids[ci])
            keep = id_a < id_b  # drop self-pairs
            yield pd.DataFrame(
                {
                    "id_a": id_a[keep],
                    "id_b": id_b[keep],
                    "score": scores[ci, pi][keep],
                }
            )

    pairs = df.select(id_col, vec_col).mapInPandas(
        score, "id_a long, id_b long, score double"
    )
    # A pair of two probe ids is produced twice (once per side) — dedup.
    return pairs.distinct()


class IVFIndex:
    """Built IVF index: centroid matrix + the corpus with a checkpointed
    ``__cell`` assignment column.  Build once, probe many — the build is
    the expensive part (one KMeans fit on a SAMPLE + one assignment pass);
    a probe is a cell filter.  At 100 TB, write ``assigned`` out
    partitioned by ``__cell`` so a probe prunes partitions at the source.
    """

    def __init__(self, centers: np.ndarray, assigned: DataFrame, id_col: str, vec_col: str):
        self.centers = centers
        self.assigned = assigned
        self.id_col = id_col
        self.vec_col = vec_col

    def nearest_cells(self, query: Sequence[float], n_probe: int) -> list[int]:
        qv = np.asarray(list(map(float, query)))
        d = np.linalg.norm(self.centers - qv, axis=1)
        return [int(i) for i in np.argsort(d)[:n_probe]]


def ivf_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int = 16,
    seed: int = 42,
    sample_rows: int = 4096,
) -> IVFIndex:
    """Fit k-means centroids on a bounded SAMPLE (never the full corpus —
    an iterative ML fit over all data in a query path is the 100 TB
    anti-pattern), then assign every corpus row to its cell in one
    deterministic pass, checkpointed for reuse across probes (its storage
    belongs to the index's ``assigned`` frame; nothing to release)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("__features"),
    )
    n = df.count()
    frac = min(1.0, (sample_rows * 1.2) / max(n, 1))
    sample = feat.sample(withReplacement=False, fraction=frac, seed=seed)
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="__features", predictionCol="__cell"
    ).fit(sample)
    assigned = model.transform(feat).drop("__features").localCheckpoint(
        eager=False
    )
    return IVFIndex(np.array(model.clusterCenters()), assigned, id_col, vec_col)


def ivf_probe(
    index: IVFIndex,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 3,
    round_digits: int | None = None,
) -> DataFrame:
    """Approximate top-k against a built index: scan only the ``n_probe``
    nearest cells, exact cosine within them."""
    cells = index.nearest_cells(query, n_probe)
    cands = index.assigned.filter(F.col("__cell").isin(cells)).drop("__cell")
    return cosine_topk(cands, index.id_col, index.vec_col, query, k, round_digits)


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    round_digits: int | None = None,
) -> DataFrame:
    """One-shot IVF top-k (build + probe).  Prefer :func:`ivf_build` +
    :func:`ivf_probe` when issuing several queries — the index is the
    reusable part."""
    index = ivf_build(df, id_col, vec_col, n_centroids, seed)
    return ivf_probe(index, query, k, n_probe, round_digits)


def ivf_knn_join(
    probes: DataFrame,
    index: IVFIndex,
    k: int = 10,
    n_probe: int = 3,
    round_digits: int = 3,
) -> DataFrame:
    """Batch IVF: approximate k-NN of every probe row against the indexed
    corpus — ``(probe_id, neighbor_id, score, rank)``.

    The probe block is collected (bounded, like :func:`knn_join`); each
    probe maps to its ``n_probe`` nearest cells driver-side; ONE broadcast
    join of the (probe, cell) table against the assigned corpus generates
    all candidates, scored JVM-side with a per-probe window top-k.  No
    per-probe Spark job — the whole batch is a single plan.
    """
    return _bucketed_knn(
        probes,
        index.assigned,
        index.id_col,
        index.vec_col,
        "__cell",
        lambda qv: index.nearest_cells(qv, n_probe),
        k,
        round_digits,
    )


def _bucketed_knn(
    probes: DataFrame,
    bucketed_corpus: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    probe_buckets_fn,
    k: int,
    round_digits: int,
) -> DataFrame:
    """Shared candidates-by-bucket k-NN shape for IVF cells and LSH
    buckets: broadcast the (probe_id, bucket) table + probe vectors, one
    join on the bucket id, exact cosine on candidates, window top-k."""
    import pandas as pd

    from pyspark.sql.window import Window

    spark = probes.sparkSession
    rows = probes.select(id_col, vec_col).collect()
    if len(rows) > _MAX_PROBE_COLLECT:
        raise ValueError(f"probe side has {len(rows)} rows (> {_MAX_PROBE_COLLECT})")
    if not rows:
        return spark.createDataFrame(
            [], "probe_id long, neighbor_id long, score double, rank int"
        )
    pb = []
    for r in rows:
        qv = [float(x) for x in r[1]]
        for b in probe_buckets_fn(qv):
            pb.append((int(r[0]), int(b)))
    probe_vecs = spark.createDataFrame(
        [(int(r[0]), [float(x) for x in r[1]]) for r in rows],
        "probe_id long, __pv array<double>",
    ).withColumn("__pn", _norm(F.col("__pv")))
    probe_buckets = spark.createDataFrame(
        pd.DataFrame(pb, columns=["probe_id", bucket_col])
    )
    cand = (
        bucketed_corpus.join(F.broadcast(probe_buckets), bucket_col)
        .filter(F.col(id_col) != F.col("probe_id"))
        .select("probe_id", F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
        .distinct()  # a candidate may share several buckets with a probe
        .withColumn("__cn", _norm(F.col("__cv")))
        .join(F.broadcast(probe_vecs), "probe_id")
    )
    dot = F.aggregate(
        F.zip_with("__pv", "__cv", lambda a, b: a * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = F.round(dot / (F.col("__pn") * F.col("__cn")), round_digits)
    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        cand.select("probe_id", "neighbor_id", score.alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim))


def signature_col(vec_col: Column, planes: np.ndarray) -> Column:
    """Integer LSH signature: bit j = sign(dot(vec, plane_j)) — built from
    per-plane ``aggregate`` expressions, all JVM-side."""
    sig = F.lit(0).cast("long")
    for j in range(planes.shape[0]):
        d = _dot_with_literal(vec_col, planes[j].tolist())
        sig = sig + F.shiftleft(F.when(d >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), j)
    return sig


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    nbits: int = 6,
    bands: int = 10,
    seed: int = 42,
    max_bucket: int = 4096,
    probe_max_id: int | None = None,
    round_digits: int = 3,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via MULTIBAND sign-LSH blocking —
    the scale path: ``(id_a, id_b, score)``, ``id_a < id_b``, rounded
    cosine >= threshold.

    ``bands`` independent hash tables of ``nbits`` hyperplanes each: a pair
    is a candidate when it shares the full signature in ANY band (miss
    probability (1-p^nbits)^bands, p = 1-θ/π), then exact cosine verifies —
    so precision is always exact and only recall is probabilistic.
    Candidate generation is the dedup module's one-shuffle bucket-grouping
    with the ``max_bucket`` quadratic-bomb guard (a hub bucket — e.g. the
    all-zeros region — is dropped, not expanded).  ``probe_max_id``
    restricts to pairs whose SMALLER id is below the bound (the
    :func:`cosine_near_pairs` probe-block semantics, giving the exact
    oracle twin).  Tuning: high thresholds (true duplicates, cos >= 0.9)
    prune hard with nbits 6-8; mid thresholds on near-random corpora need
    nbits 3-4 and buy little — measure before deploying.
    """
    from h2h_spark.operators.dedup import _bucket_candidates

    dim = len(df.select(vec_col).head()[0])
    planes = hyperplanes(dim, nbits * bands, seed)
    with cache_scope() as persist:
        vecs = persist(
            df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
        )
        entries = band_signatures(vecs, "id", "__v", planes, nbits, bands)
        # Few-bit bands mean uniformly mid-sized buckets: raise the in-array
        # expansion cap so every bucket stays on the join-free path.
        cand = _bucket_candidates(
            entries, ["band", "bucket"], "id", max_bucket, expand_max=2048
        )
        if probe_max_id is not None:
            cand = cand.filter(F.col("id_a") < probe_max_id)
            # the (tiny) pair list is materialized before the scope
            # releases the vector cache
            return _verify_pairs_probe_blocked(
                cand, vecs, probe_max_id, threshold, round_digits
            ).localCheckpoint(eager=True)
        b = vecs.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"))
        a = vecs.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"))
        na = _norm(F.col("__va"))
        nb = _norm(F.col("__vb"))
        dot = F.aggregate(
            F.zip_with("__va", "__vb", lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        score = F.round(dot / (na * nb), round_digits)
        return (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .select("id_a", "id_b", score.alias("score"))
            .filter(F.col("score") >= threshold)
            .localCheckpoint(eager=True)  # the (tiny) verified pair list
        )


def band_signatures(
    df: DataFrame, id_col: str, vec_col: str, planes: np.ndarray, nbits: int, bands: int
) -> DataFrame:
    """``(id, band, bucket)`` sign-LSH entries for ALL bands in one
    vectorized Arrow pass: each partition computes a single
    ``batch × (bands·nbits)`` matmul and packs bits — replacing a
    ``bands``-way tree of per-plane aggregate expressions (measured ~5×
    on the bench corpus; the win grows with bands)."""
    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(planes)
    weights = 1 << np.arange(nbits, dtype=np.int64)

    def sign(batches):
        b_planes = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits = (mat @ b_planes.T) >= 0  # n × (bands·nbits)
            buckets = bits.reshape(len(ids), bands, nbits).astype(np.int64) @ weights
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(ids)),
                    "bucket": buckets.reshape(-1),
                }
            )

    return df.mapInPandas(sign, f"{id_col} long, band int, bucket long")


def _verify_pairs_probe_blocked(
    cand: DataFrame,
    vecs: DataFrame,
    probe_max_id: int,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Exact-cosine verification of candidate pairs whose smaller id is
    inside the bounded probe block: the probe vectors broadcast as one
    normalized numpy matrix, the other side joins in once, scores are a
    vectorized row-wise dot per Arrow batch."""
    import pandas as pd

    spark = cand.sparkSession
    probe_rows = vecs.filter(F.col("id") < probe_max_id).collect()
    if not probe_rows:
        return spark.createDataFrame([], "id_a long, id_b long, score double")
    pidx = {int(r["id"]): i for i, r in enumerate(probe_rows)}
    pmat = np.stack([np.asarray(r["__v"], dtype=np.float64) for r in probe_rows])
    pmat = pmat / np.linalg.norm(pmat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((pidx, pmat))

    def verify(batches):
        b_pidx, b_pmat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            va = b_pmat[[b_pidx[i] for i in pdf["id_a"]]]
            vb = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__vb"]])
            vb = vb / np.linalg.norm(vb, axis=1, keepdims=True)
            scores = np.round(np.einsum("ij,ij->i", va, vb), round_digits)
            keep = scores >= threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].to_numpy()[keep],
                    "id_b": pdf["id_b"].to_numpy()[keep],
                    "score": scores[keep],
                }
            )

    joined = cand.join(
        vecs.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb")), "id_b"
    ).select("id_a", "id_b", "__vb")
    return joined.mapInPandas(verify, "id_a long, id_b long, score double")


def ann_probe_buckets(
    query: Sequence[float], planes: np.ndarray, n_buckets: int
) -> list[int]:
    """Confidence-ranked multiprobe bucket list for one query (classic
    multiprobe LSH): enumerate signatures by the summed |projection| of
    their flipped bits — the cheapest flips are the planes the query sits
    closest to, i.e. the buckets most likely to hold its neighbors.
    Driver-side numpy over 2^nbits masks (nbits <= 16 by design)."""
    nbits = planes.shape[0]
    if nbits > 16:
        raise ValueError("ann multiprobe enumerates 2^nbits masks; keep nbits <= 16")
    qv = np.asarray(list(map(float, query)))
    proj = planes @ qv
    sig = int(((proj >= 0).astype(np.int64) << np.arange(nbits)).sum())
    masks = np.arange(1 << nbits)
    bit_on = ((masks[:, None] >> np.arange(nbits)) & 1).astype(bool)
    costs = (bit_on * np.abs(proj)).sum(axis=1)
    order = np.argsort(costs, kind="stable")[:n_buckets]
    return [int(sig ^ m) for m in masks[order]]


def ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    nbits: int = 8,
    seed: int = 42,
    n_buckets: int = 32,
    round_digits: int | None = None,
) -> DataFrame:
    """Approximate top-k: confidence-ranked multiprobe over sign-LSH
    buckets, exact cosine within the candidates.

    ``n_buckets`` of the 2^nbits buckets are probed, cheapest bit-flips
    first — recall rises with n_buckets at linear candidate cost.  Scale
    path: persist ``df.withColumn("bucket", signature_col(...))``
    partitioned by bucket and the probe prunes partitions at the source.
    """
    dim = len(query)
    planes = hyperplanes(dim, nbits, seed)
    probes = ann_probe_buckets(query, planes, n_buckets)
    bucketed = df.withColumn("bucket", signature_col(F.col(vec_col), planes))
    cands = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cands, id_col, vec_col, query, k, round_digits)


def ann_knn_join(
    probes: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nbits: int = 8,
    seed: int = 42,
    n_buckets: int = 32,
    round_digits: int = 3,
) -> DataFrame:
    """Batch ANN: approximate k-NN of every probe row via multiprobe LSH —
    ``(probe_id, neighbor_id, score, rank)``.  One plan for the whole probe
    block (no per-probe job): the corpus is signed once, the broadcast
    (probe, bucket) table joins candidates in, exact cosine + window top-k
    rank them.  The exact twin is :func:`knn_join`."""
    first = probes.select(vec_col).head()
    if first is None:
        return probes.sparkSession.createDataFrame(
            [], "probe_id long, neighbor_id long, score double, rank int"
        )
    dim = len(first[0])
    planes = hyperplanes(dim, nbits, seed)
    bucketed = corpus.withColumn("bucket", signature_col(F.col(vec_col), planes))
    return _bucketed_knn(
        probes,
        bucketed,
        id_col,
        vec_col,
        "bucket",
        lambda qv: ann_probe_buckets(qv, planes, n_buckets),
        k,
        round_digits,
    )


def quantize_embeddings(
    df: DataFrame, id_col: str, vec_col: str, *, bits: int = 8
) -> DataFrame:
    """Symmetric per-vector scalar quantization of an embedding column —
    the storage/compression stage of an embedding pipeline (the SQ of
    FAISS's ``ScalarQuantizer``; 4x smaller than float32 at bits=8):
    ``(id, dim, scale, codes_md5, recon_mse)``.

    ``scale = max(|v|)/(2^(bits-1)-1)``; code ``q_i = floor(v_i/scale +
    0.5)`` (explicit floor(+0.5) — engine-independent rounding, unlike
    round()'s per-engine tie rules).  ``recon_mse`` is the mean squared
    reconstruction error of ``q*scale``, the quality metric one monitors
    before switching an ANN index to quantized storage.

    Every step is an element-local deterministic double op, so the DuckDB
    oracle reproduces the md5'd code stream and the mse bit-for-bit.
    Pure JVM higher-order functions — scan-speed, no shuffle at all.
    Zero vectors quantize to all-zero codes (scale 0 guard).
    """
    qmax = float(2 ** (bits - 1) - 1)
    base = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    v = F.col("__v")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(qmax)
    base = base.select(F.col(id_col), v, scale.alias("__s"))
    s = F.col("__s")
    codes = F.transform(
        v,
        lambda x: F.when(s == 0.0, F.lit(0.0)).otherwise(
            F.greatest(
                F.lit(-qmax), F.least(F.lit(qmax), F.floor(x / s + 0.5).cast("double"))
            )
        ).cast("bigint"),
    )
    base = base.select(F.col(id_col), v, s, codes.alias("__q"))
    q = F.col("__q")
    err2 = F.zip_with(
        v, q, lambda x, c: (x - c.cast("double") * s) * (x - c.cast("double") * s)
    )
    mse = F.aggregate(err2, F.lit(0.0), lambda a, x: a + x) / F.size(v)
    return base.select(
        F.col(id_col),
        F.size(v).cast("int").alias("dim"),
        F.round(s, 6).alias("scale"),
        F.md5(F.array_join(q, ",")).alias("codes_md5"),
        F.round(mse, 8).alias("recon_mse"),
    )


def ann_index_write(
    df: DataFrame,
    path: str,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    nbits: int = 8,
    seed: int = 42,
) -> str:
    """Persist the corpus hive-partitioned by its sign-LSH bucket — the
    100 TB ANN layout: a probe's multiprobe bucket list reaches the scan
    as partition filters (static ``isin`` or dynamic partition pruning
    through the broadcast bucket join), so a probe touches
    ``n_buckets / 2^nbits`` of the stored data instead of scanning the
    corpus.  One write-time shuffle-free pass computes signatures; the
    layout is reusable across every subsequent probe batch."""
    planes = hyperplanes(dim, nbits, seed)
    (
        df.withColumn("bucket", signature_col(F.col(vec_col), planes))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    return path


def ann_knn_join_indexed(
    spark,
    index_path: str,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    dim: int,
    k: int = 10,
    nbits: int = 8,
    seed: int = 42,
    n_buckets: int = 32,
    round_digits: int = 6,
) -> DataFrame:
    """Batch ANN k-NN over a bucket-partitioned index written by
    :func:`ann_index_write`: identical candidates (and therefore recall)
    to :func:`ann_knn_join`, but the corpus side is the pruned partition
    read — the join against the broadcast (probe, bucket) table lets
    dynamic partition pruning skip every unprobed bucket directory."""
    planes = hyperplanes(dim, nbits, seed)
    corpus = spark.read.parquet(index_path)
    return _bucketed_knn(
        probes,
        corpus,
        id_col,
        vec_col,
        "bucket",
        lambda qv: ann_probe_buckets(qv, planes, n_buckets),
        k,
        round_digits,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_clusters: int = 8,
    threshold: float = 0.4,
    round_digits: int = 3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then drop any vector
    that has a same-cluster neighbor with smaller id and rounded cosine
    >= ``threshold``.  Returns ``(id, cluster, keep)`` for every vector.

    Clustering is what makes this the 100 TB shape: near-dup candidate
    pairs are confined to intra-cluster blocks, so pair work scales with
    Σ cluster_size² instead of corpus².  Centroids here are the
    ``n_clusters`` smallest-id vectors (deterministic, reproducible in
    the SQL oracle); swap in :func:`h2h_spark.operators.cluster.kmeans_fit`
    centroids for production quality — the dedup stage is unchanged.

    Plan shape: centroids are a broadcast ``LIMIT n_clusters`` — the
    assignment pass is a shuffle-free scan × tiny-literal cross join with
    an argmax aggregate keyed on id (map-side combined).  The pair stage
    self-joins on the cluster key only (one hash shuffle, AQE handles
    skewed clusters); dropped-set membership is a left anti-style join.
    Ties (equal rounded similarity to two centroids) resolve to the
    lowest cluster index — deterministic on both engines.
    """
    cents = F.broadcast(
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("__cvec"))
        .orderBy("cid")
        .limit(n_clusters)
        .select(
            "__cvec",
            (F.row_number().over(W.orderBy("cid")) - 1).cast("int").alias("cidx"),
        )
    )
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    )
    dot = F.aggregate(
        F.zip_with("__v", "__cvec", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sim = F.round(dot / (F.col("__n") * _norm(F.col("__cvec"))), round_digits)
    # three consumers below (both self-join sides + the final keep
    # join): cache so the scan × centroids argmax runs once, not three
    # times.
    with cache_scope() as persist:
        assign = persist(
            vecs.crossJoin(cents)
            .select(
                "id", "__v", "__n",
                F.struct((-sim).alias("ns"), F.col("cidx")).alias("__s"),
            )
            .groupBy("id")
            .agg(
                F.min("__s").getField("cidx").alias("cluster"),
                F.first("__v").alias("__v"),
                F.first("__n").alias("__n"),
            )
        )
        a = assign.select(
            F.col("id").alias("id_a"), F.col("cluster").alias("__ca"),
            F.col("__v").alias("__va"), F.col("__n").alias("__na"),
        )
        b = assign.select(
            F.col("id").alias("id_b"), F.col("cluster").alias("__cb"),
            F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
        )
        pdot = F.aggregate(
            F.zip_with("__va", "__vb", lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        pscore = F.round(pdot / (F.col("__na") * F.col("__nb")), round_digits)
        dropped = (
            a.join(b, (F.col("__ca") == F.col("__cb")) & (F.col("id_a") < F.col("id_b")))
            .filter(pscore >= threshold)
            .select(F.col("id_b").alias("id"))
            .distinct()
            .withColumn("__dropped", F.lit(True))
        )
        return (
            assign.join(dropped, "id", "left")
            .select(
                F.col("id").alias(id_col),
                "cluster",
                F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
            )
            # materialize the per-id verdicts (narrow) before the scope
            # releases the assignment cache
            .localCheckpoint(eager=True)
        )
