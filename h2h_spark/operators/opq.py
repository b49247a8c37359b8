"""Optimized Product Quantization — learned rotation before PQ (engine
extension; Ge, He, Ke & Sun, "Optimized Product Quantization", CVPR 2013
— public; the non-parametric OPQ-NP variant).

Plain PQ quantizes fixed coordinate-aligned subspaces; OPQ first applies
an orthogonal rotation ``R`` chosen to minimize the SAME reconstruction
objective ``Σ ||R·x - x̂||²``, which alternating minimization drives down
monotonically:

* **assignment** (fix R, codebooks): nearest-centroid per subspace —
  the shared `_assign` path of :mod:`operators.pq`;
* **codebook update** (fix R, codes): per-(subspace, code) means — the
  shared Lloyd M-step;
* **rotation update** (fix codes): orthogonal Procrustes — ``R = U·Vᵀ``
  from the SVD of the scatter matrix ``M = Σ x̂·xᵀ``.

Distributed shape: rotation apply is an Arrow-batched matmul
(``mapInPandas``, one numpy GEMM per batch); the scatter matrix is
accumulated as ONE ``dim×dim`` partial per partition (a bounded
|partitions|-row collect — the k-centroids analogue), and only the
``dim×dim`` SVD runs driver-side (dim ≤ a few hundred; FAISS trains OPQ
the same way).  At 100 TB you train on a sample and encode everything —
same as :func:`operators.pq.pq_train`.

The contract an external oracle can grade bit-exactly: training starts
from ``R = I`` + the deterministic seed codebooks, every step is
non-increasing on the shared objective, so the final OPQ reconstruction
error is <= the (SQL-recomputable) seed-PQ error.  The float SVD itself
is graded by unit tests against closed-form cases, not by the SQL twin.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import cache_scope
from .pq import (
    pq_assign_inrow,
    pq_reconstruct_inrow,
    seed_codebooks,
)


def rotate_vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    R,
    *,
    out_col: str = "rvec",
    carry: bool = False,
) -> DataFrame:
    """``(id, out_col[, x])`` with ``out_col = R @ vec`` — Arrow-batched
    numpy GEMM per batch, never per-row Python.  ``carry=True`` passes
    the original vector through as ``x`` so downstream consumers (the
    scatter-matrix pass) need no re-join on id."""
    import numpy as np

    Rm = np.asarray(R, dtype=np.float64)
    dim = Rm.shape[0]
    sess = df.sparkSession
    rb = sess.sparkContext.broadcast(Rm)

    def _rot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Rv = rb.value
        for pdf in batches:
            X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
            out = X @ Rv.T  # row-vectors: (R @ x)ᵀ = xᵀ Rᵀ
            cols = {"id": pdf["id"], out_col: list(out)}
            if carry:
                cols["x"] = pdf["v"]
            yield pd.DataFrame(cols)

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    schema = f"id long, {out_col} array<double>"
    if carry:
        schema += ", x array<double>"
    return src.mapInPandas(_rot, schema)


def _scatter_matrix(pairs: DataFrame, dim: int):
    """``M = Σ x̂·xᵀ`` accumulated distributively: one ``dim×dim`` numpy
    partial per Arrow batch, one row out per batch — the driver sums a
    bounded |batches| rows, never sees the vectors."""
    import numpy as np

    def _acc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            X = np.stack(pdf["x"].to_numpy()).astype(np.float64)
            Xh = np.stack(pdf["xhat"].to_numpy()).astype(np.float64)
            M = Xh.T @ X  # Σ x̂·xᵀ over the batch
            yield pd.DataFrame({"m": [M.reshape(-1)]})

    parts = pairs.mapInPandas(_acc, "m array<double>").collect()
    M = np.zeros((dim, dim), dtype=np.float64)
    for r in parts:
        M += np.asarray(r["m"], dtype=np.float64).reshape(dim, dim)
    return M


def opq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 4,
    k: int = 16,
    dim: int,
    rounds: int = 2,
    books: dict[tuple[int, int], list[float]] | None = None,
    return_initial_error: bool = False,
):
    """OPQ-NP alternation; returns ``(R, books)`` — the rotation matrix
    and the codebook dict trained in the rotated space.  Starts from
    ``R = I`` and the deterministic seed codebooks (or the passed-in
    ``books``), so the objective is monotonically non-increasing from
    the plain seed-PQ error.

    With ``return_initial_error=True``, returns ``(R, books, err0)``
    where ``err0`` is the seed-PQ objective measured from the FIRST
    round's assignment (same decimal-sum rule as
    :func:`opq_reconstruction_error`) — one scan cheaper than a
    separate error pass."""
    import numpy as np

    sd = dim // m
    if sd * m != dim:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    spark = df.sparkSession
    R = np.eye(dim)
    if books is None:
        books = seed_codebooks(df, id_col, vec_col, m=m, k=k, dim=dim)
    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("x"))
    err0 = None
    for rnd in range(rounds):
        # one cache per round, released when the round ends
        with cache_scope() as persist:
            # one Arrow GEMM pass, original vector carried through — every
            # downstream step of the round is a narrow per-row projection
            # over this cache (round 13: the explode→broadcast-join→groupBy
            # E-step, the M-step's sub⋈assigned re-join and the
            # reconstruction's codes⋈books + collect_list regroup were 4
            # shuffles + 3 joins per round of pure literal math — the
            # codebooks are k·dim driver floats by construction)
            rot = persist(rotate_vectors(src, "id", "x", R, carry=True))
            assigned_full = pq_assign_inrow(
                rot, "id", "rvec", books, m=m, dim=dim, with_sv=True
            )
            if rnd == 0 and return_initial_error:
                err0 = float(
                    assigned_full.agg(
                        F.sum(
                            F.round(F.col("dist_sq"), 6).cast("decimal(30,6)")
                        ).alias("e")
                    ).collect()[0]["e"]
                )
            # Lloyd M-step: per-(subspace, code) means over the rotated data
            # — the subvector rides along in-row, so no re-join
            means = (
                assigned_full.select(
                    "j", F.col("code").alias("c"), F.posexplode("sv").alias("i", "v")
                )
                .groupBy("j", "c", "i")
                .agg(F.avg(F.col("v").cast("double")).alias("mu"))
                .collect()
            )
            upd: dict[tuple[int, int], list[float]] = {}
            for r in means:
                upd.setdefault((r["j"], r["c"]), [0.0] * sd)[r["i"]] = r["mu"]
            books = {key: upd.get(key, books[key]) for key in books}
            # rotation update (Procrustes): re-assign against the NEW books
            # and reconstruct in the same per-row projection, accumulate
            # M = Σ x̂·xᵀ, SVD driver-side
            pairs = pq_reconstruct_inrow(
                rot, "id", "rvec", books, m=m, dim=dim, keep=("x",)
            ).select("x", "xhat")
            M = _scatter_matrix(pairs, dim)
        U, _s, Vt = np.linalg.svd(M)
        R = U @ Vt
    if return_initial_error:
        return R, books, err0
    return R, books


def opq_reconstruction_error(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    R,
    books,
    *,
    m: int,
    dim: int,
) -> float:
    """Total squared reconstruction error ``Σ ||R·x - x̂||²`` with the
    per-(id, subspace) distances rounded then summed as DECIMAL — an
    order-independent (hence engine-portable) total."""
    rot = rotate_vectors(df, id_col, vec_col, R)
    assigned = pq_assign_inrow(rot, "id", "rvec", books, m=m, dim=dim)
    total = assigned.agg(
        F.sum(F.round(F.col("dist_sq"), 6).cast("decimal(30,6)")).alias("e")
    ).collect()[0]["e"]
    return float(total)
