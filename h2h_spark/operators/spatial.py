"""Grid-bucketed spatial self-join — epsilon-neighborhood pairs over 2D
points without a cross join.

The classic scale trap for "all pairs within distance eps" is the
quadratic nested-loop (Spark plans a BroadcastNestedLoopJoin or a
CartesianProduct for a raw inequality join).  The standard distributed
formulation — the same one Sedona/Magellan-style engines and the
MapReduce spatial-join literature use — buckets space into an eps-sized
grid so that every qualifying pair is guaranteed to sit in the same or
an adjacent cell:

- each point lands in its home cell ``(floor(x/eps), floor(y/eps))``;
- the LEFT side replicates each point to its 3x3 cell neighborhood
  (a bounded 9x blowup of (id, x, y) triples only — never the payload);
- one hash-shuffle equi-join on the cell key pairs replicated-left
  with home-right, then the exact ``dx^2+dy^2 <= eps^2`` predicate and
  ``a_id < b_id`` run JVM-side on the candidates.

Cost is O(candidates) where candidates ~ sum over cells of
|cell| * |3x3 neighborhood| — linear in the data for bounded density,
and the join is an ordinary shuffled hash join Catalyst/AQE can size.
Skewed (dense) cells behave like any skewed join key and fall to AQE
skew-join splitting; density so extreme that one cell exceeds a task is
the same pathology as a hot groupBy key and is visible in the plan, not
hidden in a nested loop.

Correctness of the 9-cell cover: |dx| <= eps implies the cell-x indices
differ by at most 1 (same for y), so every pair within eps shares an
edge in the 3x3 neighborhood graph; each unordered pair is produced
exactly once because only the left side is replicated and the pair is
kept only when the replicated copy lands on the OTHER point's home cell
(plus the id order filter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from h2h_spark.operators import cache_scope


def _cell(c: Column, eps: float) -> Column:
    return F.floor(c / F.lit(float(eps))).cast("long")


def grid_self_join(
    pts: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
) -> DataFrame:
    """All unordered point pairs with Euclidean distance <= ``eps``.

    Returns ``(a_id, b_id, d2)`` with ``a_id < b_id`` and
    ``d2 = dx^2 + dy^2`` (squared distance — exact in doubles, no libm
    sqrt so the value is bit-portable across engines).
    """
    if eps <= 0:
        raise ValueError(f"grid_self_join: eps must be positive, got {eps}")
    p = pts.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    home = p.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        _cell(F.col("x"), eps).alias("cx"),
        _cell(F.col("y"), eps).alias("cy"),
    )
    # 3x3 neighborhood replication of the left side: ids+coords only.
    off = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).alias("dx"), F.lit(j).alias("dy"))
                for i in (-1, 0, 1)
                for j in (-1, 0, 1)
            ]
        )
    ).alias("o")
    repl = (
        p.select(
            F.col("id").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            _cell(F.col("x"), eps).alias("hx"),
            _cell(F.col("y"), eps).alias("hy"),
        )
        .select("*", off)
        .select(
            "a_id", "ax", "ay",
            (F.col("hx") + F.col("o.dx").cast("long")).alias("cx"),
            (F.col("hy") + F.col("o.dy").cast("long")).alias("cy"),
        )
    )
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    d2 = dx * dx + dy * dy
    return (
        repl.join(home, ["cx", "cy"])
        .where(
            # eps*eps computed in Python: the same IEEE double product the
            # oracle's `eps*eps` yields (Math.pow could differ in the ulp)
            (F.col("a_id") < F.col("b_id"))
            & (d2 <= F.lit(float(eps) * float(eps)))
        )
        .select("a_id", "b_id", d2.alias("d2"))
    )


def neighbor_stats(
    pts: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
) -> DataFrame:
    """Per-point epsilon-neighborhood profile: neighbor count and the
    squared distance to the nearest neighbor (null when isolated) —
    the DBSCAN-core-point / density-audit shape.  One grid join, one
    grouping shuffle; isolated points restored by a left join."""
    pairs = grid_self_join(pts, id_col, x_col, y_col, eps)
    # each unordered pair contributes a neighbor to BOTH endpoints
    sym = pairs.select(
        F.col("a_id").alias("id"), F.col("d2")
    ).unionByName(pairs.select(F.col("b_id").alias("id"), F.col("d2")))
    per = sym.groupBy("id").agg(
        F.count("*").alias("n_neighbors"), F.min("d2").alias("min_d2")
    )
    return (
        pts.select(F.col(id_col).alias("id"))
        .join(per, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_neighbors"), F.lit(0)).cast("bigint").alias(
                "n_neighbors"
            ),
            F.round(F.col("min_d2"), 8).alias("min_d2"),
        )
    )


def dbscan_2d(
    pts: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
) -> DataFrame:
    """Distributed DBSCAN over 2D points — a composition of the two
    scale-shaped primitives this engine already has, which is exactly
    how the MapReduce-DBSCAN literature (MR-DBSCAN and successors)
    factors the algorithm:

    1. epsilon-neighbor graph via :func:`grid_self_join` (grid-bucketed,
       never all-pairs);
    2. CORE points = those with >= ``min_pts`` points in their closed
       neighborhood (one grouping aggregate over the edge list);
    3. clusters = connected components of the core-core subgraph
       (:func:`h2h_spark.operators.dedup.connected_components_star`,
       the O(log n)-round contraction — DBSCAN's density-connectivity
       relation restricted to cores IS plain graph connectivity);
    4. BORDER points (non-core with a core neighbor) attach to the
       minimum cluster id among their core neighbors — canonical DBSCAN
       leaves the choice arbitrary; taking the minimum makes the result
       deterministic and oracle-checkable.  Everything else is NOISE.

    Returns ``(id, cluster, role)`` — ``cluster`` is the minimum core
    id of the cluster (null for noise), ``role`` in
    ``core | border | noise``.
    """
    from h2h_spark.operators.dedup import connected_components_star

    pairs = grid_self_join(pts, id_col, x_col, y_col, eps)
    # the symmetrized neighbor list feeds THREE consumers (degree
    # aggregate, core-core edge build, border attach); uncached, each
    # re-runs the 9x-replicated grid join — cache once, released by the
    # scope on every path (a failing sub-step, e.g.
    # connected_components_star's max_iter guard, included)
    with cache_scope() as persist:
        sym = persist(
            pairs.select(F.col("a_id").alias("id"), F.col("b_id").alias("nb"))
            .unionByName(
                pairs.select(F.col("b_id").alias("id"), F.col("a_id").alias("nb"))
            )
        )
        deg = sym.groupBy("id").agg(F.count("*").alias("n_nb"))
        # core ids are consumed 4x (two core-edge joins, core labeling, the
        # border anti-join); tiny (<= |pts| ids), so cache the filtered set
        core = persist(deg.filter(F.col("n_nb") + 1 >= min_pts).select("id"))
        core_edges = (
            sym.join(core.withColumnRenamed("id", "nb"), "nb")
            .join(core, "id")
            .select(F.col("id").alias("id_a"), F.col("nb").alias("id_b"))
        )
        comp = connected_components_star(core_edges)  # (id, rep); no singletons
        core_lab = core.join(comp, "id", "left").select(
            "id", F.coalesce(F.col("rep"), F.col("id")).alias("cluster")
        )
        # border: non-core with >= 1 core neighbor -> min neighbor cluster
        border = (
            sym.join(core_lab.withColumnRenamed("id", "nb"), "nb")
            .join(core, "id", "left_anti")
            .groupBy("id")
            .agg(F.min("cluster").alias("cluster"))
        )
        labeled = core_lab.withColumn("role", F.lit("core")).unionByName(
            border.withColumn("role", F.lit("border"))
        )
        return (
            pts.select(F.col(id_col).alias("id"))
            .join(labeled, "id", "left")
            .select(
                "id",
                "cluster",
                F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
            )
            # materialize (|pts| rows) before the scope releases the
            # two caches
            .localCheckpoint(eager=True)
        )
