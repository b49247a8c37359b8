"""Extension operators beyond the reference surface (SURVEY.md §2.3):
dedup, similarity search, text analysis, multimodal binary columns."""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

from h2h_spark.sources.util import record_batches


@contextmanager
def cache_scope() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """The one way engine code takes a Spark cache: ``persist(df)``
    caches and records ``df``; the scope unpersists every recorded cache
    on exit, raise included.  Materialize a result (``localCheckpoint``)
    before the scope closes; checkpoint, never cache, what a lazily
    returned frame still reads — its storage then belongs to that frame."""
    held: list[DataFrame] = []

    def persist(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return df

    try:
        yield persist
    finally:
        for df in held:
            df.unpersist()


def scale_out(
    df: DataFrame, key: str | None, *, min_partitions: int | None = None
) -> DataFrame:
    """Rescale a SMALL input before heavy per-row compute (round 14).

    The round-13 in-row rewrites (simhash per-bit folds, winnowing
    window minima, gram hashing) removed data shuffles by keeping
    whole-document aggregates inside the row — the scale-correct shape —
    but a small corpus arrives as O(1) scan splits (one task per ~128 MB
    plus the 4 MB open cost), so the heavy projection then runs nearly
    single-task while the rest of the box idles.  That is exactly the
    driver-bench q_simhash_pairs regression of round 13 (0.43× at 32
    cores, recovered at 8 cores): the removed shuffle had been
    accidentally providing the parallelism.

    Data-adaptive, not core-count-tuned: when the input already carries
    >= defaultParallelism partitions — any at-scale table — this is a
    no-op costing one physical-plan compile; below that it pays one
    narrow hash shuffle of the input rows (deterministic placement, no
    sort-before-repartition — the round-robin form pays one) to spread
    the compute.  Shuffling the small input is cheap by definition (it
    is small); the guard exists so the at-scale path never shuffles at
    all.  ``key=None`` uses round-robin instead — for inputs with no
    natural unique key, where hashing an arbitrary column could send
    duplicate values to one task (sort-before-repartition keeps the
    placement deterministic under retries).
    """
    par = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if _num_partitions(df) < par:
        return df.repartition(par, F.col(key)) if key else df.repartition(par)
    return df


def _num_partitions(df: DataFrame) -> int:
    """``df``'s partition count, without running it.  ``df.rdd`` of an
    adaptive plan (one with a shuffle) runs every shuffle under it just to
    count; when the plan's last shuffle is a fixed-count repartition —
    ``scale_out``'s own, or a ``per_row`` stage's — adaptive execution
    never coalesces it, so the planned count is the count."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        node = plan.inputPlan()
        n = node.outputPartitioning().numPartitions()
        while node.nodeName() != "Exchange" and node.children().size() == 1:
            node = node.children().head()
        if (
            n > 0
            and node.nodeName() == "Exchange"
            and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        ):
            return n
    return df.rdd.getNumPartitions()


def per_row(
    df: DataFrame,
    cols: Sequence[str],
    fn: Callable[..., Iterable[tuple]],
    schema: str,
) -> DataFrame:
    """Per-row Python compute (a codec, a parser, a chunker) as one
    ``mapInArrow`` stage — the shape of the reference's per-worker PIPE
    activity (``ecl/HDFSConnector.ecl:54-154``).

    ``df.select(*cols)`` is spread with :func:`scale_out` (round-robin,
    a no-op once the input has enough partitions), then ``fn(*values)``
    runs on every row and yields zero or more output tuples in the
    column order of the DDL ``schema``.  ``None`` is a null and a
    ``binary`` column is ``bytes`` both ways.  A blob ``fn`` builds
    stays in its task; only the output tuples leave.  An exception in
    ``fn`` fails the action."""
    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = (
            out
            for batch in batches
            for values in zip(*(c.to_pylist() for c in batch.columns))
            for out in fn(*values)
        )
        return record_batches(rows, arrow)

    return scale_out(df.select(*cols), None).mapInArrow(run, struct)
