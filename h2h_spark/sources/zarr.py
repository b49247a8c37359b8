"""Zarr v2 array-store scan — the chunked-array format of the
scientific/array-lake world (public spec: zarr v2 storage spec,
zarr.readthedocs.io): a store directory holds a ``.zarray`` JSON
descriptor (shape, chunk shape, dtype, compressor, fill_value, order)
and one file per chunk named ``i.j`` on the row-major chunk grid.
Edge chunks are stored FULL-SIZE, padded with ``fill_value``.

Scale shape: the chunk grid IS the split plan — the ``.zarray`` (one
tiny JSON read) maps every chunk to a file, so a task owns one row of
the chunk grid (all column chunks of ``chunk_rows_per_split`` row
blocks) with O(chunk) memory, no resync, no coordination.  And the
same grid partitions the WRITE: tasks owning disjoint chunk rows write
disjoint files, so a distributed dataframe exports to one coherent
store with zero write coordination (the fixture queries do exactly
that).

Supported: C order, 2-D arrays, compressor ``null`` or ``zlib``
(blosc — zarr's default — is not in this container and is rejected
LOUDLY by name), dtypes matching the safetensors set.  Everything else
fails loudly.
"""

from __future__ import annotations

import functools
import json
import os
import zlib
from typing import Iterator, NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from h2h_spark.sources.util import scan_splits, strip_scheme

_DDL = {
    "f8": "double", "f4": "float", "f2": "float",
    "i8": "bigint", "i4": "int", "i2": "smallint", "i1": "tinyint",
    "u1": "smallint", "b1": "boolean",
}


def read_zarray(store: str) -> dict:
    """Read + validate a store's ``.zarray``; returns the descriptor
    dict with normalized fields."""
    p = os.path.join(strip_scheme(store), ".zarray")
    if not os.path.exists(p):
        raise ValueError(f"{store}: no .zarray descriptor — not a zarr "
                         "v2 store")
    with open(p) as f:
        z = json.load(f)
    if z.get("zarr_format") != 2:
        raise ValueError(f"{store}: zarr_format {z.get('zarr_format')} "
                         "(only v2 supported)")
    if z.get("order") != "C":
        raise ValueError(f"{store}: order {z.get('order')!r} — only C "
                         "order supported")
    if z.get("filters"):
        raise ValueError(f"{store}: filters are not supported")
    comp = z.get("compressor")
    if comp is not None and comp.get("id") != "zlib":
        raise ValueError(
            f"{store}: compressor {comp.get('id')!r} not supported "
            "(null and zlib are; blosc is not in this container)"
        )
    shape = z["shape"]
    chunks = z["chunks"]
    if len(shape) != 2 or len(chunks) != 2:
        raise ValueError(f"{store}: shape {shape} — the row reader "
                         "needs a 2-D array")
    key = z["dtype"].lstrip("<>|=")
    if key not in _DDL or z["dtype"].startswith(">"):
        raise ValueError(f"{store}: unsupported dtype {z['dtype']!r}")
    return z


class ZarrSplit(NamedTuple):
    chunk_row_lo: int
    chunk_row_hi: int  # exclusive


def _read_split(store: str, z: dict, split: ZarrSplit) -> Iterator[pa.RecordBatch]:
    import numpy as np

    n, d = z["shape"]
    cn, cd = z["chunks"]
    n_chunk_cols = -(-d // cd)
    dtype = np.dtype(z["dtype"])
    compressed = z.get("compressor") is not None
    store = strip_scheme(store)
    for ci in range(split.chunk_row_lo, split.chunk_row_hi):
        row_lo = ci * cn
        rows_here = min(cn, n - row_lo)
        if rows_here <= 0:
            continue
        cols = []
        for cj in range(n_chunk_cols):
            cp = os.path.join(store, f"{ci}.{cj}")
            if not os.path.exists(cp):
                # spec: absent chunk = all fill_value.  A null
                # fill_value means UNDEFINED (zarr v2 spec) — there
                # is no default, so fabricating zeros would invent
                # data the store never wrote.  Fail loud instead.
                fill = z.get("fill_value")
                if fill is None:
                    raise ValueError(
                        f"{cp}: chunk absent and .zarray fill_value "
                        "is null (undefined) — cannot materialize"
                    )
                block = np.full((cn, cd), fill, dtype=dtype)
            else:
                with open(cp, "rb") as f:
                    raw = f.read()
                if compressed:
                    raw = zlib.decompress(raw)
                if len(raw) != cn * cd * dtype.itemsize:
                    raise ValueError(
                        f"{cp}: chunk holds {len(raw)} bytes, "
                        f"expected {cn * cd * dtype.itemsize} "
                        "(zarr chunks are stored full-size)"
                    )
                block = np.frombuffer(raw, dtype=dtype).reshape(cn, cd)
            cols.append(block)
        mat = np.hstack(cols)[:rows_here, :d]
        if mat.dtype.str.endswith("f2"):
            mat = mat.astype("<f4")
        elif mat.dtype.str.endswith("u1") and mat.dtype.kind == "u":
            mat = mat.astype("<i2")
        if mat.dtype.kind == "b":
            pa_type = pa.bool_()
            mat = mat.astype(bool)
        else:
            pa_type = pa.from_numpy_dtype(mat.dtype)
        flat = pa.array(np.ascontiguousarray(mat).reshape(-1),
                        type=pa_type)
        yield pa.record_batch({
            "row_idx": pa.array(range(row_lo, row_lo + rows_here),
                                type=pa.int64()),
            "vec": pa.FixedSizeListArray.from_arrays(flat, d)
            .cast(pa.list_(pa_type)),
        })


def write_zarray(store: str, shape, chunks, dtype: str = "<f4",
                 compressor: str | None = None,
                 fill_value=0) -> None:
    """Write the store descriptor (driver-side, footer-sized)."""
    os.makedirs(store, exist_ok=True)
    comp = {"id": "zlib", "level": 6} if compressor == "zlib" else None
    with open(os.path.join(store, ".zarray"), "w") as f:
        json.dump({
            "zarr_format": 2, "shape": list(shape),
            "chunks": list(chunks), "dtype": dtype, "order": "C",
            "compressor": comp, "fill_value": fill_value,
            "filters": None,
        }, f, sort_keys=True)


def write_zarr_chunk(store: str, ci: int, cj: int, block,
                     compressor: str | None = None) -> None:
    """Write one FULL-SIZE chunk (pad before calling for edge chunks).
    Tasks owning disjoint (ci, cj) write disjoint files — the
    coordination-free distributed export."""
    import numpy as np

    raw = np.ascontiguousarray(block).tobytes()
    if compressor == "zlib":
        raw = zlib.compress(raw, 6)
    elif compressor is not None:
        raise ValueError(f"unsupported compressor {compressor!r}")
    with open(os.path.join(strip_scheme(store), f"{ci}.{cj}"), "wb") as f:
        f.write(raw)


def read_zarr(
    spark: SparkSession, store: str, chunk_rows_per_split: int = 1
) -> DataFrame:
    """Rows of one 2-D zarr store as ``(row_idx, vec)``, one task per
    ``chunk_rows_per_split`` rows of the chunk grid."""
    z = read_zarray(store)
    n_chunk_rows = -(-z["shape"][0] // z["chunks"][0])
    splits = [
        ZarrSplit(lo, min(lo + chunk_rows_per_split, n_chunk_rows))
        for lo in range(0, max(n_chunk_rows, 1), chunk_rows_per_split)
    ]
    ddl = f"row_idx bigint, vec array<{_DDL[z['dtype'].lstrip('<>|=')]}>"
    return scan_splits(
        spark, splits, functools.partial(_read_split, store, z), ddl
    )
