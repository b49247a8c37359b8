"""Recursive hierarchy traversal — the ``WITH RECURSIVE`` capability gap
(engine extension).

Spark SQL has no recursive CTE, yet org charts, bill-of-materials,
category trees, and reply threads all need "walk to the root, tell me
the depth".  The distributed-correct algorithm is **pointer doubling**
(pointer jumping; Wyllie 1979, standard in the PRAM literature — public):
every node keeps its furthest-known ancestor and the distance to it;
each round every pointer jumps THROUGH the pointed-to node's own
pointer, doubling the distance covered.  A depth-d forest resolves in
⌈log₂ d⌉ rounds — each round ONE self-join shuffle on the pointer table
— versus d rounds for naive parent-at-a-time walking.  At 100 TB a
depth-10⁶ pathological chain is 20 rounds, not a million.

Convergence is exact: a round that advances zero pointers terminates
the loop (one tiny count per round, no fixed budget guessing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from h2h_spark.operators import cache_scope


def resolve_tree(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_rounds: int = 40,
) -> DataFrame:
    """Resolve every node of a forest to ``(id, root, depth)``.

    ``edges`` holds one (child, parent) row per non-root node; roots are
    nodes appearing only as parents (they return depth 0, root = self).
    Raises if ``max_rounds`` (pointer reach 2^max_rounds) is exhausted —
    which, at 40, means the input had a cycle, and silent wrong answers
    are worse than a loud one.
    """
    # the edge list is referenced three times (pointer table + both
    # sides of the root computation) — materialize it ONCE, or every
    # reference re-runs the caller's upstream plan (same fix as
    # bfs_distances' edge materialization).
    # distinct(): duplicate (child,parent) rows would fan out in every
    # self-join round; and a child with two DIFFERENT parents breaks the
    # forest contract — assert it loudly rather than emit conflicting
    # (id, root, depth) rows.
    e = (
        edges.select(F.col(child).alias("c"), F.col(parent).alias("p"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    with cache_scope() as persist:  # round 1 self-joins the pointers
        ptr = persist(
            e.select(F.col("c").alias("id"), F.col("p").alias("anc"))
            .withColumn("d", F.lit(1).cast("long"))
        )
        checked = False
        for _ in range(max_rounds):
            hop = ptr.select(
                F.col("id").alias("__hid"),
                F.col("anc").alias("__hanc"),
                F.col("d").alias("__hd"),
            )
            # localCheckpoint (not just persist): truncates lineage so the
            # final plan holds ONE round, not every round nested — a deep
            # hierarchy would otherwise overwhelm the analyzer long before
            # the data costs anything.
            nxt = (
                ptr.join(hop, ptr.anc == hop.__hid, "left")
                .select(
                    "id",
                    F.coalesce("__hanc", "anc").alias("anc"),
                    F.when(F.col("__hanc").isNotNull(), F.col("d") + F.col("__hd"))
                    .otherwise(F.col("d"))
                    .alias("d"),
                    F.col("__hanc").isNotNull().alias("__moved"),
                )
                # lazy (round 13): the convergence aggregate below computes
                # every partition, materializing the checkpoint in the same
                # job — eager paid two jobs per doubling round
                .localCheckpoint(eager=False)
            )
            if not checked:
                # forest assertion rides round 1's convergence aggregate
                # (same scan, zero extra jobs): after one hop a forest yields
                # exactly one row per id, while a duplicated id — a child
                # with two distinct parents, or a multi-parent ancestor —
                # fans the join out to >1 row.
                agg = nxt.agg(
                    F.max("__moved").alias("m"),
                    F.count("*").alias("n"),
                    F.countDistinct("id").alias("nd"),
                ).collect()[0]
                if agg["n"] != agg["nd"]:
                    raise ValueError(
                        "resolve_tree: some node has multiple distinct parents "
                        "— input is not a forest"
                    )
                moved = agg["m"]
                checked = True
            else:
                moved = nxt.agg(F.max("__moved")).collect()[0][0]
            ptr = nxt.drop("__moved")
            if not moved:
                break
        else:
            raise ValueError(
                f"resolve_tree: pointers still advancing after {max_rounds} "
                "rounds — cycle in the parent edges?"
            )
    roots = (
        e.select(F.col("p").alias("id"))
        .distinct()
        .join(e.select(F.col("c").alias("id")).distinct(), "id", "left_anti")
        .select("id", F.col("id").alias("root"), F.lit(0).cast("long").alias("depth"))
    )
    resolved = ptr.select("id", F.col("anc").alias("root"), F.col("d").alias("depth"))
    return resolved.unionByName(roots)
