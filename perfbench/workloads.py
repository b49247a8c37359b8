"""The benchmark's two workloads as lists of ops.

An op is one call into the engine's public surface, forced to completion:
a ``pipe_in`` or reader call plus a noop write, a ``pipe_out`` call, or a
registered query plus a noop write.  Each op also carries an untimed
first call that checks its output, and an untimed check after every
timed call.
"""

from __future__ import annotations

import decimal
import glob
import math
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from h2h_spark import layout as L
from h2h_spark.api import pipe_in, pipe_out, pipe_out_and_merge
from h2h_spark.sources.csv_split import read_csv_quoted_splits
from h2h_spark.sources.flat import read_flat


@dataclass
class Op:
    """``build`` returns the DataFrame to force with a noop write, or None
    when the call already wrote its output.  ``warm`` is the untimed first
    call and returns whether the output was correct.  ``after`` runs
    untimed after each timed call and returns ``ok`` (output correct),
    ``bytes`` (bytes the call moved) and any op-specific counts."""

    name: str
    build: Callable[[], DataFrame | None]
    warm: Callable[[], bool]
    after: Callable[[], dict]
    before: Callable[[], None] = lambda: None


def person_layout() -> L.Layout:
    kinds = {"i": L.Integer, "u": L.Unsigned, "f": L.Real, "s": L.String}
    return L.Layout([(n, kinds[k](w)) for n, k, w in gen.FIELDS])


def spark_checksum(df: DataFrame, columns: list[str] | None = None) -> dict:
    """The Spark-side twin of :func:`gen.checksum`."""
    names = columns or [n for n, _, _ in gen.FIELDS]
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in ("id", "age", "zips"):
        if c in names:
            aggs.append(F.sum(F.col(c).cast("long")).alias(c))
    if "balance" in names:
        aggs.append(F.sum(F.round(F.col("balance") * 100).cast("long")).alias("cents"))
    if all(s in names for s in gen.STRING_FIELDS):
        crc = sum(k * F.crc32(F.col(s).cast("binary"))
                  for k, s in enumerate(gen.STRING_FIELDS, 1))
        aggs.append(F.sum(crc).alias("crc"))
    row = df.agg(*aggs).first().asDict()
    return {k: int(v) for k, v in row.items()}


# --------------------------------------------------------------------- io

READ_OPS = ("flat", "flat_pruned", "csv", "csv_multichar", "csv_split", "xml")
WRITE_OPS = ("pipe_out_flat", "pipe_out_csv", "pipe_out_and_merge")


def io_ops(spark: SparkSession, root: str, seed: int) -> tuple[list[Op], Callable[[], bool]]:
    """The h2h read ops and write ops, and the read-back check of the
    write ops' last outputs."""
    writes, read_back = write_ops(spark, root, seed)
    return scan_ops(spark, root, seed) + writes, read_back


def scan_ops(spark: SparkSession, root: str, seed: int) -> list[Op]:
    inputs = gen.scan_inputs(f"{root}/in/read", seed)
    lay = person_layout()
    calls = {
        "flat": lambda p: pipe_in(spark, p, lay, "FLAT"),
        "flat_pruned": lambda p: read_flat(spark, p, lay, columns=gen.PRUNED_COLUMNS),
        "csv": lambda p: pipe_in(spark, p, lay, "CSV"),
        "csv_multichar": lambda p: pipe_in(
            spark, p, lay, f"CSV(TERMINATOR('{gen.MULTICHAR_TERMINATOR}'))"),
        "csv_split": lambda p: read_csv_quoted_splits(
            spark, p, lay.to_struct_type(), terminator="\n", quote=gen.QUOTE,
            max_partition_bytes=gen.CSV_SPLIT_RANGE_BYTES),
        "xml": lambda p: pipe_in(spark, p, lay, "XML('Row')"),
    }
    ops = []
    for name, call in calls.items():
        inp = inputs[name]
        cols = gen.PRUNED_COLUMNS if name == "flat_pruned" else None

        def build(call=call, inp=inp):
            return call(inp["path"])

        def warm(build=build, inp=inp, cols=cols):
            return spark_checksum(build(), cols) == inp["expect"]

        ops.append(Op(name, build, warm, lambda inp=inp: {"ok": True, "bytes": inp["bytes"]}))
    return ops


def _part_files(d: str) -> list[str]:
    return [p for p in glob.glob(f"{d}/part*") if not p.endswith(".crc")]


def write_ops(spark: SparkSession, root: str, seed: int) -> tuple[list[Op], Callable[[], bool]]:
    """Returns the ops and a final read-back check of their last outputs."""
    src = gen.write_source(f"{root}/in/write", seed)
    lay = person_layout()
    rows, out = src["rows"], f"{root}/out"
    flat_dir, csv_dir, merged = f"{out}/flat", f"{out}/csv", f"{out}/merged.flat"

    def source() -> DataFrame:
        return spark.read.parquet(src["path"])

    def flat_after() -> dict:
        sizes = [os.path.getsize(p) for p in _part_files(flat_dir)]
        ok = all(s % gen.RECORD_LENGTH == 0 for s in sizes)
        return {"ok": ok and sum(sizes) == rows * gen.RECORD_LENGTH,
                "bytes": sum(sizes), "parts": len(sizes)}

    def csv_after() -> dict:
        parts = _part_files(csv_dir)
        lines = 0
        for p in parts:
            with open(p, "rb") as f:
                lines += f.read().count(b"\n")
        return {"ok": lines == rows, "bytes": sum(os.path.getsize(p) for p in parts)}

    def merged_after() -> dict:
        size = os.path.getsize(merged)
        gone = not os.path.exists(merged + "-parts")
        return {"ok": gone and size == rows * gen.RECORD_LENGTH, "bytes": size}

    specs = [
        ("pipe_out_flat", lambda: pipe_out(source(), flat_dir, lay, "FLAT"), flat_after),
        ("pipe_out_csv", lambda: pipe_out(source(), csv_dir, lay, "CSV"), csv_after),
        ("pipe_out_and_merge",
         lambda: pipe_out_and_merge(source(), merged, lay, "FLAT"), merged_after),
    ]
    ops = []
    for name, call, after in specs:
        def build(call=call):
            call()
            return None

        def warm(build=build, after=after):
            build()
            return after()["ok"]

        ops.append(Op(name, build, warm, after))

    def read_back() -> bool:
        with open(merged, "rb") as f:
            got = gen.checksum(gen.flat_columns(f.read()))
        csv_cols = _read_csv_parts(csv_dir)
        return got == src["expect"] and gen.checksum(csv_cols) == src["expect"]

    return ops, read_back


def _read_csv_parts(d: str) -> dict[str, np.ndarray]:
    names = [n for n, _, _ in gen.FIELDS]
    strings = {n: str for n in gen.STRING_FIELDS}
    pdf = pd.concat(
        [pd.read_csv(p, header=None, names=names, quotechar=gen.QUOTE,
                     dtype=strings, keep_default_na=False)
         for p in sorted(_part_files(d))],
        ignore_index=True,
    )
    cols = {n: pdf[n].to_numpy() for n in names}
    cols["cents"] = np.rint(pdf["balance"].to_numpy() * 100).astype(np.int64)
    return cols


# ---------------------------------------------------------------- queries

#: Queries of the ``queries`` workload.  The floor is cheap queries from
#: four families (relational, window, event-time, text) that carry the
#: fixed cost every query call pays; the tail is a loop operator, whose
#: cost is jobs times the per-job floor.
FLOOR = [
    "q_scan_project_filter", "q_join_agg", "q_anti_join",
    "q_window_topk_per_group", "q_running_sum",
    "q_events_window", "q_sessionize",
    "q_text_stats", "q_token_count",
]
TAIL = ["q_label_prop_async"]


def query_ops(spark: SparkSession, root: str, seed: int) -> list[Op]:
    import duckdb

    import __spark_entry__ as entry

    data = gen.query_tables(f"{root}/in", seed)
    registry, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for p in glob.glob(f"{data}/*.parquet"):
        t = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    ops = []
    for name in FLOOR + TAIL:
        fn = registry[name]
        nbytes = [0]

        def build(fn=fn):
            return fn(spark, data)

        def warm(build=build, name=name, nbytes=nbytes):
            df = build()
            nbytes[0] = sum(os.path.getsize(p.removeprefix("file:"))
                            for p in df.inputFiles())
            got = [tuple(r) for r in df.collect()]
            cur = con.execute(oracles[name])
            want = cur.fetchall()
            return same_rows(df.columns, got, [d[0] for d in cur.description], want)

        ops.append(Op(name, build, warm, lambda nbytes=nbytes: {"ok": True, "bytes": nbytes[0]},
                      before=spark.catalog.clearCache))
    return ops


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, bytes):
        return f"b:{v.hex()}"
    return f"{type(v).__name__[:1]}:{v}"


def _norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def same_rows(scols, srows, ocols, orows) -> bool:
    """The engine's oracle rule (``scripts/oracle_check.py``): same row
    count, same column names, and the same multiset of normalized values."""
    return (len(srows) == len(orows) and sorted(scols) == sorted(ocols)
            and _norm_rows(scols, srows) == _norm_rows(ocols, orows))
