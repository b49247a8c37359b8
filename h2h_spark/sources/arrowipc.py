"""Arrow IPC file (Feather v2) scan — the interchange format of the
Arrow ecosystem (pandas/polars/R/DuckDB all write it natively).

Unlike the byte-range formats (FLAT/CSV/WARC), the IPC *file* format
carries a footer with the offset of every record batch, so the planner
does the precise thing instead of the resync dance: one split per run
of record batches (``batches_per_split``), and each task random-accesses
exactly its batches through pyarrow's memory-mapped reader.  The task
output IS the stored Arrow batch — no decode step at all, the cheapest
possible scan: ``mapInArrow`` speaks Arrow batches natively.

The driver reads every footer once: the first file's schema, mapped to
Spark DDL (the same inference contract as spark.read.parquet), and each
file's batch count, which the planner cuts into runs.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from h2h_spark.sources.util import list_part_files, scan_splits, strip_scheme

_ARROW_DDL = {
    pa.int8(): "tinyint", pa.int16(): "smallint",
    pa.int32(): "int", pa.int64(): "bigint",
    pa.float32(): "float", pa.float64(): "double",
    pa.string(): "string", pa.large_string(): "string",
    pa.bool_(): "boolean", pa.binary(): "binary",
    pa.date32(): "date",
}


def _ddl_type(t: pa.DataType) -> str:
    if t in _ARROW_DDL:
        return _ARROW_DDL[t]
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_ddl_type(t.value_type)}>"
    raise ValueError(f"arrow type {t} has no Spark DDL mapping")


def arrow_schema_ddl(schema: pa.Schema) -> str:
    return ", ".join(f"{f.name} {_ddl_type(f.type)}" for f in schema)


class ArrowIpcSplit(NamedTuple):
    path: str
    first_batch: int
    last_batch: int  # exclusive


def _read_split(split: ArrowIpcSplit) -> Iterator[pa.RecordBatch]:
    with pa.memory_map(strip_scheme(split.path), "r") as m:
        rd = pa.ipc.open_file(m)
        for i in range(split.first_batch, split.last_batch):
            yield rd.get_batch(i)


def read_arrow_ipc(
    spark: SparkSession, path: str, batches_per_split: int = 16
) -> DataFrame:
    files = list_part_files(path, pattern="*.arrow")
    if not files:
        raise FileNotFoundError(f"no .arrow files under {path}")
    splits, ddl = [], None
    for f in files:
        with pa.memory_map(strip_scheme(f), "r") as m:
            rd = pa.ipc.open_file(m)
            ddl = ddl or arrow_schema_ddl(rd.schema)
            n = rd.num_record_batches
        for lo in range(0, max(n, 1), batches_per_split):
            splits.append(ArrowIpcSplit(f, lo, min(lo + batches_per_split, n)))
    return scan_splits(spark, splits, _read_split, ddl)


def write_arrow_ipc(table: pa.Table, path: str, chunk_rows: int = 4096) -> None:
    """Fixture/interop writer: one IPC file, batches of ``chunk_rows``."""
    with pa.OSFile(path, "wb") as f:
        with pa.ipc.new_file(f, table.schema) as w:
            for batch in table.to_batches(max_chunksize=chunk_rows):
                w.write_batch(batch)
