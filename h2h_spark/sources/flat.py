"""FLAT — fixed-length binary records (the reference's core wire format).

Read path re-expresses the reference's per-node offset math
(``streamFileOffset`` / ``getRecordCount``, ``libhdfsconnector.cpp:76-96,
652-707``) as a Spark Python DataSource: the planner slices each file into
record-aligned byte ranges (remainder records spread to low-numbered splits,
exactly the ``getRecordCount`` rule), and each task decodes its slice
straight into Arrow record batches with :meth:`Layout.decode` (a numpy
structured view of the read buffer plus ``pyarrow.compute`` string trims).
Pushed filters run on those batches.  The sink hands each Arrow batch to
:meth:`Layout.encode`; neither direction converts through pandas.

Semantics preserved (SURVEY.md §4.3):
- file size must be an exact multiple of record length → hard error
  (``libhdfsconnector.cpp:84-89``);
- UNSIGNED8 decodes to Decimal(20,0) — the full u64 range does not fit a
  signed 64-bit Spark LongType.

Scale posture: split size is controlled by ``maxPartitionBytes`` (default
128 MiB, Spark's own default) so a 100 TB dataset plans ~800k tasks, the
same shape Spark's native FileSourceScanExec would produce.  Column pruning
is supported at the source (``columns=...``): a projected layout keeps
parent byte offsets, so the structured dtype steps over unread bytes and
decode cost is proportional to the columns actually requested.
"""

from __future__ import annotations

import functools
import math
from typing import Iterator, Sequence

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
)

from h2h_spark.layout import Layout
from h2h_spark.sources import sink as _sink
from h2h_spark.sources.util import file_size, list_part_files, open_input

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
_BATCH_RECORDS = 65536


class FlatInputPartition(InputPartition):
    def __init__(self, path: str, offset: int, n_records: int):
        self.path = path
        self.offset = offset
        self.n_records = n_records


def plan_flat_splits(
    paths: Sequence[str],
    record_length: int,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> list[FlatInputPartition]:
    """Record-aligned split planning.

    Per file: N = ceil(size / max_partition_bytes) splits; split *i* gets
    ``total_recs // N`` records plus one extra if ``i < total_recs % N`` —
    the reference's ``getRecordCount`` balancing rule
    (``libhdfsconnector.cpp:90-95``).
    """
    parts: list[FlatInputPartition] = []
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
            parts.append(FlatInputPartition(path, offset, recs))
            offset += recs * record_length
    return parts


def _read_split(
    layout: Layout, part: FlatInputPartition, filters: Sequence[Filter]
) -> Iterator[pa.RecordBatch]:
    """Decode one record-aligned byte range into Arrow batches, keeping
    the rows that pass every pushed filter."""
    with open_input(part.path) as f:
        f.seek(part.offset)
        remaining = part.n_records
        while remaining > 0:
            take = min(remaining, _BATCH_RECORDS)
            data = f.read(take * layout.record_length)
            if not data:
                break
            batch = layout.decode(data)
            if filters:
                batch = batch.filter(
                    functools.reduce(pc.and_, (_filter_mask(batch, f) for f in filters))
                )
            if batch.num_rows:
                yield batch
            remaining -= take


_PUSHABLE = (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
    IsNotNull,
    StringStartsWith,
)


def _filter_mask(batch: pa.RecordBatch, f: Filter) -> pa.Array:
    """Vectorized residual-filter evaluation on the decoded batch.

    Pushing these below the Arrow boundary means filtered records never
    cross into the JVM — at scale the python→JVM transfer is the FLAT
    scan's main tax, so selective scans get proportionally cheaper.  A
    null (a NaN REAL) fails every filter, as in SQL.
    """
    col = batch.column(f.attribute[0])
    if isinstance(f, EqualTo):
        return pc.equal(col, f.value)
    if isinstance(f, GreaterThan):
        return pc.greater(col, f.value)
    if isinstance(f, GreaterThanOrEqual):
        return pc.greater_equal(col, f.value)
    if isinstance(f, LessThan):
        return pc.less(col, f.value)
    if isinstance(f, LessThanOrEqual):
        return pc.less_equal(col, f.value)
    if isinstance(f, In):
        return pc.is_in(col, value_set=pa.array(list(f.value), col.type))
    if isinstance(f, StringStartsWith):
        return pc.starts_with(col, f.value)
    return pc.is_valid(col)  # IsNotNull


class FlatDataSourceReader(DataSourceReader):
    def __init__(self, options: dict, layout: Layout):
        self.options = options
        self.layout = layout
        self.path = options["path"]
        self.max_partition_bytes = int(
            options.get("maxpartitionbytes", _DEFAULT_MAX_PARTITION_BYTES)
        )
        self.filters: list[Filter] = []

    def pushFilters(self, filters: list[Filter]):
        """Accept simple comparison predicates on layout fields; evaluate
        them Arrow-side before the hand-off to the JVM.  Everything else is
        yielded back for Spark to apply."""
        names = set(self.layout.names())
        for f in filters:
            if (
                isinstance(f, _PUSHABLE)
                and len(getattr(f, "attribute", ())) == 1
                and f.attribute[0] in names
            ):
                self.filters.append(f)
            else:
                yield f

    def partitions(self) -> list[InputPartition]:
        parts = plan_flat_splits(
            list_part_files(self.path),
            self.layout.record_length,
            self.max_partition_bytes,
        )
        # All-empty input (e.g. a write of 0 rows still creates part files —
        # h2h writes a part per node regardless): Spark requires >=1
        # partition, so emit one empty sentinel split.
        return parts or [FlatInputPartition("", 0, 0)]

    def read(self, partition: FlatInputPartition) -> Iterator[pa.RecordBatch]:
        if partition is None or not partition.path or partition.n_records == 0:
            return
        yield from _read_split(self.layout, partition, self.filters)


class FlatDataSource(DataSource):
    """``spark.read.format("h2h_flat").option("layout", lay.to_json())``."""

    @classmethod
    def name(cls) -> str:
        return "h2h_flat"

    def _layout(self) -> Layout:
        if "layout" not in self.options:
            # Option validation — the reference's validateParameters
            # analogue (hdfsconnector.hpp:173-203).
            raise ValueError(
                "h2h_flat requires .option('layout', Layout(...).to_json())"
            )
        lay = Layout.from_json(self.options["layout"])
        cols = self.options.get("columns")
        if cols:
            lay = lay.project([c.strip() for c in cols.split(",")])
        return lay

    def schema(self) -> T.StructType:
        return self._layout().to_struct_type()

    def reader(self, schema: T.StructType) -> DataSourceReader:
        return FlatDataSourceReader(dict(self.options), self._layout())


def read_flat(
    spark: SparkSession,
    path: str,
    layout: Layout,
    columns: Sequence[str] | None = None,
    max_partition_bytes: int = _DEFAULT_MAX_PARTITION_BYTES,
) -> DataFrame:
    """PipeIn(FLAT) analogue (``ecl/HDFSConnector.ecl:136-153``)."""
    reader = (
        spark.read.format("h2h_flat")
        .option("layout", layout.to_json())
        .option("maxpartitionbytes", str(max_partition_bytes))
    )
    if columns is not None:
        reader = reader.option("columns", ",".join(columns))
    return reader.load(path)


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
