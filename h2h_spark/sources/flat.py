"""FLAT — fixed-length binary records (the reference's core wire format).

Read path re-expresses the reference's per-node offset math
(``streamFileOffset`` / ``getRecordCount``, ``libhdfsconnector.cpp:76-96,
652-707``): the driver slices each file into record-aligned byte ranges
(remainder records spread to low-numbered splits, exactly the
``getRecordCount`` rule) and :func:`~h2h_spark.sources.util.scan_splits`
runs one task per range; each task decodes its slice straight into Arrow
record batches with :meth:`Layout.decode` (a numpy structured view of the
read buffer plus ``pyarrow.compute`` string trims).  The sink hands each
Arrow batch to :meth:`Layout.encode`; neither direction converts through
pandas.

Semantics preserved (SURVEY.md §4.3):
- file size must be an exact multiple of record length → hard error,
  raised by :func:`read_flat` on the driver (``libhdfsconnector.cpp:84-89``);
- UNSIGNED8 decodes to Decimal(20,0) — the full u64 range does not fit a
  signed 64-bit Spark LongType.

Scale posture: split size is ``max_partition_bytes`` (default 128 MiB,
Spark's own default), so a 100 TB dataset plans ~800k tasks, the same
shape Spark's native FileSourceScanExec would produce.  Each task receives
only its own ``(path, offset, n_records)`` descriptor, and the scan has no
size estimate, so Spark never broadcasts it.  Predicates run in the JVM
right after the scan.  Column pruning is done at the source
(``columns=...``): a projected layout keeps parent byte offsets, so the
structured dtype steps over unread bytes and decode cost is proportional
to the columns actually requested.
"""

from __future__ import annotations

import functools
import math
from typing import Iterator, NamedTuple, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from h2h_spark.layout import Layout
from h2h_spark.sources import sink as _sink
from h2h_spark.sources.util import file_size, list_part_files, open_input, scan_splits

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_BATCH_RECORDS = 65536


class FlatSplit(NamedTuple):
    path: str
    offset: int
    n_records: int


def plan_flat_splits(
    paths: Sequence[str],
    record_length: int,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> list[FlatSplit]:
    """Record-aligned split planning.

    Per file: N = ceil(size / max_partition_bytes) splits; split *i* gets
    ``total_recs // N`` records plus one extra if ``i < total_recs % N`` —
    the reference's ``getRecordCount`` balancing rule
    (``libhdfsconnector.cpp:90-95``).  Empty files plan no split.
    """
    parts: list[FlatSplit] = []
    for path in paths:
        size = file_size(path)
        if size == 0:
            continue
        if size % record_length != 0:
            raise ValueError(
                f"{path}: file size {size} is not a multiple of record "
                f"length {record_length} (libhdfsconnector.cpp:84-89)"
            )
        total = size // record_length
        n = max(1, math.ceil(size / max_partition_bytes))
        n = min(n, total)
        base, rem = divmod(total, n)
        offset = 0
        for i in range(n):
            recs = base + (1 if i < rem else 0)
            parts.append(FlatSplit(path, offset, recs))
            offset += recs * record_length
    return parts


def _read_split(layout: Layout, part: FlatSplit) -> Iterator[pa.RecordBatch]:
    """Decode one record-aligned byte range into Arrow batches."""
    with open_input(part.path) as f:
        f.seek(part.offset)
        remaining = part.n_records
        while remaining > 0:
            take = min(remaining, _BATCH_RECORDS)
            data = f.read(take * layout.record_length)
            if not data:
                break
            yield layout.decode(data)
            remaining -= take


def read_flat(
    spark: SparkSession,
    path: str,
    layout: Layout,
    columns: Sequence[str] | None = None,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> DataFrame:
    """PipeIn(FLAT) analogue (``ecl/HDFSConnector.ecl:136-153``)."""
    splits = plan_flat_splits(
        list_part_files(path), layout.record_length, max_partition_bytes
    )
    if columns is not None:
        layout = layout.project(list(columns))
    return scan_splits(
        spark, splits, functools.partial(_read_split, layout), layout.to_struct_type()
    )


def write_flat(
    df: DataFrame,
    path: str,
    layout: Layout,
    overwrite: bool = True,
) -> list[_sink.PartInfo]:
    """PipeOut(FLAT) analogue (``libhdfsconnector.cpp:833-902``): one
    fixed-width part file per partition, ``part_<i>_<N>`` naming."""
    names = layout.names()
    df = df.select(*names)  # enforce field order = layout order

    return _sink.write_partition_files(df, path, layout.encode, overwrite=overwrite)
